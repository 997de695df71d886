"""DAG scheduling semantics (reference src/query_orchestrator.py)."""

import sys
import threading
import time

import pytest

from component_duckdb_transformation_spark.configuration import Block, Code
from component_duckdb_transformation_spark.exceptions import UserException
from component_duckdb_transformation_spark.plans.orchestrator import (
    BlockOrchestrator,
    build_execution_plan,
    build_queries,
    run_fail_fast,
)


def _plan(blocks):
    return build_execution_plan(build_queries(blocks))


def _batch_names(plan):
    return [[sorted(q.name for q in batch) for batch in block.batches] for block in plan]


def test_chained_ctas_ordering():
    # reference tests/functional/query_dependencies config.json:12-18
    blocks = [Block(name="b", codes=[Code(name="c", script=[
        "CREATE OR REPLACE TABLE t1 AS SELECT 1 AS x",
        "CREATE OR REPLACE TABLE t2 AS SELECT * FROM t1",
        "CREATE OR REPLACE TABLE t3 AS SELECT * FROM t2",
        'CREATE OR REPLACE TABLE "t4-new" AS SELECT * FROM t1',
        'CREATE OR REPLACE TABLE t5 AS SELECT * FROM "t4-new"',
    ])])]
    assert _batch_names(_plan(blocks)) == [
        [["c_0"], ["c_1", "c_3"], ["c_2", "c_4"]]
    ]


def test_insert_overrides_create_as_producer():
    # reference src/query_orchestrator.py:247-251
    blocks = [Block(name="b", codes=[Code(name="c", script=[
        "CREATE TABLE t AS SELECT 1 AS x",
        "INSERT INTO t SELECT 2",
        "CREATE TABLE reader AS SELECT * FROM t",
    ])])]
    assert _batch_names(_plan(blocks)) == [[["c_0"], ["c_1"], ["c_2"]]]


def test_blocks_execute_consecutively():
    blocks = [
        Block(name="b1", codes=[Code(name="a", script=["CREATE TABLE x AS SELECT 1 AS v"])]),
        Block(name="b2", codes=[Code(name="b", script=["CREATE TABLE y AS SELECT * FROM x"])]),
    ]
    plan = _plan(blocks)
    assert [b.name for b in plan] == ["b1", "b2"]


def test_independent_queries_batch_together():
    blocks = [Block(name="b", codes=[Code(name="c", script=[
        "CREATE TABLE a AS SELECT 1 AS x",
        "CREATE TABLE b AS SELECT 2 AS x",
    ])])]
    assert _batch_names(_plan(blocks)) == [[["c_0", "c_1"]]]


def test_cycle_detection():
    blocks = [Block(name="b", codes=[Code(name="c", script=[
        "CREATE TABLE a AS SELECT * FROM b",
        "CREATE TABLE b AS SELECT * FROM a",
    ])])]
    orch = BlockOrchestrator(execute_script=lambda q: None)
    orch.add_queries_from_blocks(blocks)
    with pytest.raises(UserException, match="Circular dependency"):
        orch.build_block_execution_plan()


def test_fail_fast_raises_user_exception():
    def boom(query):
        raise RuntimeError("nope")

    blocks = [Block(name="b", codes=[Code(name="c", script=["SELECT 1"])])]
    orch = BlockOrchestrator(execute_script=boom)
    orch.add_queries_from_blocks(blocks)
    with pytest.raises(UserException, match="failed"):
        orch.execute()


def test_run_fail_fast_returns_results_in_item_order():
    gate = threading.Barrier(3)

    def square(x):
        gate.wait(timeout=10)  # all three run at once
        return x * x

    out = run_fail_fast(
        square, [3, 1, 2], max_workers=3, name=str, what="Square"
    )
    assert out == [9, 1, 4]


def test_run_fail_fast_cancels_unstarted_and_reports_once():
    started = []
    cancelled = []

    def work(x):
        started.append(x)
        if x == 0:
            raise RuntimeError("boom")
        return x

    with pytest.raises(UserException) as info:
        run_fail_fast(
            work, range(5), max_workers=1, name=lambda x: f"item{x}",
            what="Work", cancel_running=lambda: cancelled.append(True),
        )
    # one worker: the first failure stops the rest from starting, as a
    # serial loop would
    assert started == [0]
    assert cancelled == [True]
    msg = str(info.value)
    assert msg.startswith("Work failed (0 of 5 succeeded, 4 not started):")
    assert "item0: boom" in msg
    assert isinstance(info.value.__cause__, RuntimeError)


def test_run_fail_fast_lets_running_items_finish():
    started = threading.Event()
    finished = []

    def work(x):
        if x == "bad":
            started.wait(timeout=10)  # fail only once "slow" is running
            raise ValueError("no")
        started.set()
        time.sleep(0.2)
        finished.append(x)

    with pytest.raises(UserException, match="bad: no"):
        run_fail_fast(work, ["slow", "bad"], max_workers=2, name=str, what="Work")
    assert finished == ["slow"]


def test_run_fail_fast_stress_accounts_for_every_item():
    """More workers than cores and a short switch interval: every item
    either ran once or is counted as not started, and results stay in
    item order."""
    interval = sys.getswitchinterval()
    sys.setswitchinterval(1e-6)
    try:
        out = run_fail_fast(
            lambda x: x + 1, range(400), max_workers=32, name=str, what="Inc"
        )
        assert out == [x + 1 for x in range(400)]

        ran = []
        lock = threading.Lock()

        def work(x):
            with lock:
                ran.append(x)
            if x == 150:
                raise RuntimeError("stop")

        with pytest.raises(UserException) as info:
            run_fail_fast(work, range(400), max_workers=32, name=str, what="Work")
    finally:
        sys.setswitchinterval(interval)
    assert len(ran) == len(set(ran))
    skipped = int(str(info.value).split(" not started")[0].rsplit(" ", 1)[1])
    assert len(ran) + skipped == 400


def test_mutation_chain_serialized():
    blocks = [Block(name="b", codes=[Code(name="c", script=[
        "CREATE TABLE t AS SELECT 1 AS x",
        "INSERT INTO t SELECT 2",
        "UPDATE t SET x = 3 WHERE x = 2",
        "DELETE FROM t WHERE x = 1",
    ])])]
    assert _batch_names(_plan(blocks)) == [[["c_0"], ["c_1"], ["c_2"], ["c_3"]]]


def test_catalog_ddl_barrier_serializes_block():
    # CREATE TYPE / CREATE SEQUENCE have no table-level outputs, so the
    # dependency extractor can't order them; they must act as barriers
    # or CREATE TABLE custt (tier tier) races the type registration
    # (observed flaky at sf0.1 in x30)
    blocks = [Block(name="b", codes=[Code(name="p", script=[
        "CREATE TYPE tier AS ENUM ('a', 'b')",
        "CREATE SEQUENCE sid START 1000",
        "CREATE TABLE custt (k BIGINT, tier tier, sid BIGINT)",
        "INSERT INTO custt SELECT 1, 'a', nextval('sid')",
    ])])]
    names = _batch_names(_plan(blocks))
    # every batch is a singleton, in config order
    assert names == [[["p_0"], ["p_1"], ["p_2"], ["p_3"]]]


def test_truncate_is_a_writer():
    blocks = [Block(name="b", codes=[Code(name="c", script=[
        "CREATE TABLE t AS SELECT 1 AS x",
        "TRUNCATE t",
        "INSERT INTO t SELECT 2",
    ])])]
    assert _batch_names(_plan(blocks)) == [[["c_0"], ["c_1"], ["c_2"]]]


def test_temp_macro_is_a_catalog_ddl_barrier():
    blocks = [Block(name="b", codes=[Code(name="p", script=[
        "CREATE TABLE a AS SELECT 1 AS x",
        "CREATE TEMP MACRO add1(x) AS x + 1",
        "CREATE TABLE b AS SELECT add1(2) AS y",
    ])])]
    assert _batch_names(_plan(blocks)) == [[["p_0"], ["p_1"], ["p_2"]]]


def test_table_macro_is_not_a_table_producer():
    blocks = [Block(name="b", codes=[Code(name="p", script=[
        "CREATE MACRO m(x) AS TABLE SELECT x AS y",
        "CREATE TABLE c AS SELECT * FROM m(5)",
    ])])]
    queries = build_queries(blocks)
    assert queries[0].outputs == set()
    assert _batch_names(_plan(blocks)) == [[["p_0"], ["p_1"]]]


def test_catalog_ddl_barrier_leaves_plain_blocks_parallel():
    blocks = [Block(name="b", codes=[Code(name="p", script=[
        "CREATE TABLE a AS SELECT 1 AS x",
        "CREATE TABLE b AS SELECT 2 AS y",
    ])])]
    names = _batch_names(_plan(blocks))
    assert names == [[["p_0", "p_1"]]]
