"""Dependency-driven DAG scheduler for SQL scripts.

Re-implements the scheduling semantics of reference
``src/query_orchestrator.py`` on top of this package's parser:

- blocks execute strictly in config order; scripts inside a block are
  topologically batched by table-level dependencies (Kahn's algorithm,
  cycle detection -> UserException) — reference
  src/query_orchestrator.py:104-163
- one producers map across all blocks; an INSERT into a table overrides
  its CREATE as the table's producer (data beats structure) — reference
  src/query_orchestrator.py:247-251
- explicit CREATE -> INSERT edges inside a block — reference
  src/query_orchestrator.py:124-131
- each batch runs its scripts concurrently on a thread pool, fail-fast
  with cancellation of unstarted work — reference
  src/query_orchestrator.py:359-420. The pool is
  :func:`run_fail_fast`, which the component also uses for its input
  imports and output exports.

Spark specifics: concurrent batches submit jobs from multiple Python
threads into one SparkSession (thread-safe); the session runs a FAIR
scheduler so batch-mates share executors, and a failed batch cancels its
Spark job group (the analogue of the reference's future cancellation).
"""

from __future__ import annotations

import logging
import threading
import time
from collections import defaultdict
from concurrent.futures import ThreadPoolExecutor, as_completed
from dataclasses import dataclass, field
from typing import Callable, Iterable, List, Sequence, TypeVar

from ..configuration import Block as ConfigBlock
from ..configuration import Code
from ..exceptions import UserException
from .sql_parser import ParsedStatement, StatementType, parse_script

LOG = logging.getLogger(__name__)

_T = TypeVar("_T")
_R = TypeVar("_R")


@dataclass
class Query:
    """One SQL script (possibly multi-statement) as a schedulable unit."""

    name: str
    sql: str
    dependencies: set[str]
    outputs: set[str]
    block_name: str
    code_name: str
    statement_type: StatementType = StatementType.OTHER
    statements: List[ParsedStatement] = field(default_factory=list)


@dataclass
class Batch:
    queries: List[Query]

    def __len__(self) -> int:
        return len(self.queries)

    def __iter__(self):
        return iter(self.queries)

    def __getitem__(self, index):
        return self.queries[index]


@dataclass
class BlockPlan:
    name: str
    batches: List[Batch]

    def __len__(self) -> int:
        return len(self.batches)

    def __iter__(self):
        return iter(self.batches)

    @property
    def total_queries(self) -> int:
        return sum(len(b) for b in self.batches)


@dataclass
class ExecutionPlan:
    blocks: List[BlockPlan]

    def __len__(self) -> int:
        return len(self.blocks)

    def __iter__(self):
        return iter(self.blocks)

    @property
    def total_queries(self) -> int:
        return sum(b.total_queries for b in self.blocks)

    @property
    def total_batches(self) -> int:
        return sum(len(b) for b in self.blocks)


@dataclass
class ExecutionStats:
    """Per-query/batch/total wall times (reference src/query_orchestrator.py:83-101)."""

    total_queries: int
    total_batches: int
    total_execution_time: float
    batch_times: List[float]
    query_times: List[float]
    fastest_query: float
    slowest_query: float

def iterate_blocks(blocks: Sequence[ConfigBlock]) -> Iterable[tuple[ConfigBlock, Code, str, int]]:
    """Yield (block, code, script, index) in config order
    (reference src/sql_parser.py:130-144)."""
    for block in blocks:
        for code in block.codes:
            for i, script in enumerate(code.script):
                yield block, code, script, i


def query_name(code: Code, script_index: int) -> str:
    """Script display name (reference src/sql_parser.py:147-160)."""
    if len(code.script) > 1:
        return f"{code.name}_{script_index}"
    return code.name


def _script_level_type(statements: Sequence[ParsedStatement]) -> StatementType:
    """Collapse per-statement types to the reference's CREATE/INSERT/OTHER
    granularity for scheduling (reference src/sql_parser.py:26-46: INSERT
    wins over CREATE, first match)."""
    for st in statements:
        if st.statement_type == StatementType.INSERT:
            return StatementType.INSERT
    for st in statements:
        if st.statement_type.is_create:
            return st.statement_type
    return statements[0].statement_type if statements else StatementType.OTHER


def build_queries(blocks: Sequence[ConfigBlock]) -> List[Query]:
    queries: List[Query] = []
    for block, code, script, idx in iterate_blocks(blocks):
        name = query_name(code, idx)
        try:
            statements = parse_script(script)
        except Exception as exc:  # parser failure -> schedule-neutral query
            LOG.warning("Failed to parse SQL for query '%s': %s", name, exc)
            statements = []
        deps: set[str] = set()
        outs: set[str] = set()
        create_outs: set[str] = set()
        for st in statements:
            deps |= st.dependencies
            outs |= st.outputs
            if st.statement_type.is_create:
                create_outs |= st.outputs
        # only CREATE outputs of this script are excluded (reference
        # src/sql_parser.py:110-124)
        deps -= create_outs
        queries.append(
            Query(
                name=name,
                sql=script,
                dependencies=deps,
                outputs=outs,
                block_name=block.name,
                code_name=code.name,
                statement_type=_script_level_type(statements),
                statements=statements,
            )
        )
    return queries


def _has_catalog_ddl(q: Query) -> bool:
    """True when any statement in the query is session-catalog DDL
    (types, sequences, macros) whose effects the table-name dependency
    extractor cannot model."""
    return any(st.head.is_catalog_ddl for st in q.statements or ())


def _batches_for_block(block_queries: List[Query], producers: dict[str, Query]) -> List[Batch]:
    """Kahn-layered batches within one block (reference
    src/query_orchestrator.py:104-163)."""
    remaining = {q.name: q for q in block_queries}
    graph: dict[str, List[str]] = defaultdict(list)
    in_degree = {q.name: 0 for q in block_queries}

    table_creators: dict[str, Query] = {}
    for q in block_queries:
        if q.statement_type.is_create:
            for out in q.outputs:
                table_creators[out] = q

    edges: set[tuple[str, str]] = set()

    def add_edge(src: str, dst: str) -> None:
        if src != dst and (src, dst) not in edges:
            edges.add((src, dst))
            graph[src].append(dst)
            in_degree[dst] += 1

    # a query containing catalog-level DDL (CREATE/DROP TYPE, SEQUENCE,
    # MACRO) is a scheduling barrier: the dependency extractor can't see
    # a column's ENUM type or an expression's macro/sequence reference,
    # so a later CREATE TABLE (col enum_type) or nextval('seq') racing
    # the registration would fail or silently mis-type (observed: x30's
    # CREATE TABLE custt parallel to CREATE TYPE tier). DuckDB scripts
    # run these sequentially on one connection; config order is the
    # contract.
    for bi, bq in enumerate(block_queries):
        if _has_catalog_ddl(bq):
            for other in block_queries[:bi]:
                add_edge(other.name, bq.name)
            for other in block_queries[bi + 1:]:
                add_edge(bq.name, other.name)

    # serialize all writers to the same table in config order — subsumes
    # the reference's explicit CREATE->INSERT edges (reference
    # src/query_orchestrator.py:124-131) and additionally keeps
    # INSERT/UPDATE/DELETE sequences on one table deterministic
    last_writer: dict[str, Query] = {}
    for q in block_queries:
        if q.statement_type.is_create or q.statement_type.mutates:
            for out in q.outputs:
                prev = last_writer.get(out)
                if prev is not None:
                    add_edge(prev.name, q.name)
                last_writer[out] = q

    for q in block_queries:
        if q.statement_type == StatementType.INSERT:
            for out in q.outputs:
                creator = table_creators.get(out)
                if creator is not None and creator.name != q.name:
                    add_edge(creator.name, q.name)
        for dep in q.dependencies:
            if q.statement_type.mutates and dep in q.outputs:
                # own-target dependency of UPDATE/DELETE/DROP: the writer
                # chain above already orders it after the table's previous
                # writer in config order; a producer edge here would point
                # at the LAST writer and cycle on DROP-then-recreate
                continue
            producer = producers.get(dep)
            if producer is not None and producer.name in remaining and producer.name != q.name:
                add_edge(producer.name, q.name)

    batches: List[Batch] = []
    while remaining:
        ready = [remaining[name] for name in remaining if in_degree[name] == 0]
        if not ready:
            names = ", ".join(remaining)
            raise UserException(
                f"Circular dependency detected among queries in block: {names}. "
                f"Check your SQL dependencies."
            )
        batches.append(Batch(queries=ready))
        for q in ready:
            del remaining[q.name]
            for dependent in graph[q.name]:
                if dependent in in_degree:
                    in_degree[dependent] -= 1
    return batches


def build_execution_plan(queries: List[Query]) -> ExecutionPlan:
    """Group by block, build global producers (INSERT overrides CREATE),
    batch each block (reference src/query_orchestrator.py:216-269)."""
    if not queries:
        return ExecutionPlan(blocks=[])
    block_queries: dict[str, List[Query]] = defaultdict(list)
    for q in queries:
        block_queries[q.block_name].append(q)

    producers: dict[str, Query] = {}
    insert_producers: dict[str, Query] = {}
    for q in queries:
        for out in q.outputs:
            if q.statement_type == StatementType.INSERT:
                insert_producers[out] = q
            producers[out] = q
    producers.update(insert_producers)

    blocks = [
        BlockPlan(name=name, batches=_batches_for_block(qs, producers))
        for name, qs in block_queries.items()
    ]
    return ExecutionPlan(blocks=blocks)


class _NotStarted(Exception):
    """An item skipped because an earlier item had already failed."""


def run_fail_fast(
    fn: Callable[[_T], _R],
    items: Sequence[_T],
    *,
    max_workers: int,
    name: Callable[[_T], str],
    what: str,
    cancel_running: Callable[[], None] | None = None,
    thread_target: Callable[[Callable], Callable] | None = None,
) -> List[_R]:
    """Run ``fn`` over ``items`` on a ``max_workers``-wide thread pool and
    return the results in item order.

    Fail-fast: once an item fails, no further item starts; items already
    running finish. If anything failed, ``cancel_running`` is called once
    and one :class:`UserException` lists each failure as
    ``<name>: <error>``. A single item runs inline on the caller thread.

    ``thread_target`` wraps ``fn`` once per item, in the caller thread,
    before submission: the hook for carrying thread-local engine state
    (e.g. the Spark job group) into pool threads.
    """
    items = list(items)
    results: List = [None] * len(items)
    failures: List[tuple[str, Exception]] = []
    skipped = 0
    failed = threading.Event()

    def guarded(item):
        if failed.is_set():
            raise _NotStarted
        try:
            return fn(item)
        except BaseException:
            failed.set()
            raise

    if len(items) == 1:
        try:
            results[0] = fn(items[0])
        except Exception as exc:
            failures.append((name(items[0]), exc))
    elif items:
        wrap = thread_target or (lambda f: f)
        with ThreadPoolExecutor(max_workers=min(max_workers, len(items))) as pool:
            futures = {
                pool.submit(wrap(guarded), item): i for i, item in enumerate(items)
            }
            for future in as_completed(futures):
                i = futures[future]
                try:
                    results[i] = future.result()
                except _NotStarted:
                    skipped += 1
                except Exception as exc:
                    failures.append((name(items[i]), exc))
    if failures:
        if cancel_running is not None:
            cancel_running()
        succeeded = len(items) - len(failures) - skipped
        sep = "\n  - "
        listed = sep.join(f"{label}: {exc}" for label, exc in failures)
        raise UserException(
            f"{what} failed ({succeeded} of {len(items)} succeeded, "
            f"{skipped} not started):{sep}{listed}"
        ) from failures[0][1]
    return results


class BlockOrchestrator:
    """Executes an ExecutionPlan: blocks sequential, batch members parallel.

    ``execute_script`` is the engine boundary — it receives one Query and
    must run it (the Spark implementation lives in plans.executor). The
    orchestrator itself is engine-independent, like the reference's plan
    builder running with connection=None for sync actions (reference
    src/actions/execution_plan_visualization.py:26-30).
    """

    def __init__(
        self,
        execute_script: Callable[[Query], None] | None = None,
        max_workers: int = 4,
        cancel_running: Callable[[], None] | None = None,
    ):
        self.execute_script = execute_script
        self.max_workers = max_workers
        self.cancel_running = cancel_running
        self.queries: List[Query] = []
        self.query_times: List[float] = []
        self.batch_times: List[float] = []

    def add_queries_from_blocks(self, blocks: Sequence[ConfigBlock]) -> None:
        self.queries.extend(build_queries(blocks))

    def build_block_execution_plan(self) -> ExecutionPlan:
        return build_execution_plan(self.queries)

    def execute(self) -> ExecutionStats:
        if self.execute_script is None:
            raise UserException("Orchestrator has no executor attached")
        start = time.time()
        self.query_times.clear()
        self.batch_times.clear()
        plan = self.build_block_execution_plan()
        LOG.info(
            "Executing %d queries in %d batches across %d block(s)",
            plan.total_queries, plan.total_batches, len(plan),
        )
        for block in plan:
            block_start = time.time()
            LOG.info("Starting block '%s'", block.name)
            for batch in block:
                batch_start = time.time()
                self.query_times.extend(self._run_batch(batch))
                self.batch_times.append(time.time() - batch_start)
            LOG.info("Block '%s' completed in %.2fs", block.name, time.time() - block_start)
        total = time.time() - start
        return ExecutionStats(
            total_queries=plan.total_queries,
            total_batches=plan.total_batches,
            total_execution_time=total,
            batch_times=self.batch_times.copy(),
            query_times=self.query_times.copy(),
            fastest_query=min(self.query_times) if self.query_times else 0.0,
            slowest_query=max(self.query_times) if self.query_times else 0.0,
        )

    def _run_one(self, query: Query) -> float:
        t0 = time.time()
        self.execute_script(query)
        duration = time.time() - t0
        LOG.info(
            "Query '%s' completed in %.2fs [thread %s]",
            query.name, duration, threading.current_thread().ident,
        )
        return duration

    def _run_batch(self, batch: Batch) -> List[float]:
        return run_fail_fast(
            self._run_one,
            batch,
            max_workers=self.max_workers,
            name=lambda q: q.name,
            what="Query execution",
            cancel_running=self.cancel_running,
        )
