"""Scan-order numbering: POSITIONAL JOIN and multi-row ``nextval`` share
one row number (``SCAN_ROW_NUMBER``). Checked against DuckDB where
DuckDB defines the scan order (single-file parquet scans, one thread),
and for self-consistency where only this engine does (multi-file
TableStore tables, shuffled sources)."""

from __future__ import annotations

import itertools
import os

import duckdb
import pytest

from component_duckdb_transformation_spark.functions.dialect import translate
from component_duckdb_transformation_spark.plans.executor import (
    SparkStatementExecutor,
)
from component_duckdb_transformation_spark.plans.sql_parser import parse_script
from conftest import SF_ORACLE as SF


def _run(ex, sql):
    for st in parse_script(sql):
        ex._execute_statement(st)


def _duck():
    con = duckdb.connect()
    con.execute("SET threads = 1")
    for t in ("nation", "region", "orders", "customer"):
        con.execute(f"CREATE VIEW {t} AS FROM read_parquet('{SF}/{t}.parquet')")
    return con


def _spark_views(spark):
    for t in ("nation", "region", "orders", "customer"):
        spark.read.parquet(f"{SF}/{t}.parquet").createOrReplaceTempView(t)


def _scan(spark, name):
    """Rows of ``name`` in scan order (partition order, then row order)."""
    return [tuple(r) for r in spark.table(name).collect()]


@pytest.mark.parametrize(
    "sql",
    [
        # unequal lengths: the shorter side is NULL-padded
        "SELECT * FROM nation POSITIONAL JOIN region",
        "SELECT * FROM region POSITIONAL JOIN nation",
        "SELECT o_orderkey, o_totalprice, c.c_name FROM orders "
        "POSITIONAL JOIN (SELECT c_name FROM customer WHERE c_acctbal > 0) c",
    ],
)
def test_positional_join_matches_duckdb(spark, sql):
    _spark_views(spark)
    want = _duck().execute(sql).fetchall()
    got = [tuple(r) for r in spark.sql(translate(sql)).collect()]
    key = lambda r: tuple((x is None, x) for x in r)  # noqa: E731
    assert len(got) == len(want)
    assert sorted(got, key=key) == sorted(want, key=key)


def test_positional_join_multi_file_store_sides(spark, table_store):
    """Multi-file TableStore tables (CTAS fan-out plus an INSERT that
    adds files) pair row i of one side's scan with row i of the
    other's, NULL-padding the shorter."""
    ex = SparkStatementExecutor(spark, table_store)
    _run(ex, "CREATE TABLE pj_l AS SELECT range AS a FROM range(0, 3000)")
    _run(ex, "INSERT INTO pj_l SELECT range FROM range(5000, 5400)")
    _run(ex, "CREATE TABLE pj_r AS SELECT range * 10 AS b, 'r' || range AS s "
             "FROM range(0, 1200)")
    assert len(os.listdir(table_store.tables["pj_l"].path)) > 2
    _run(ex, "CREATE TABLE pj_out AS SELECT * FROM pj_l POSITIONAL JOIN pj_r")
    got = sorted(
        (tuple(r) for r in spark.table("pj_out").collect()),
        key=lambda r: tuple((x is None, x) for x in r),
    )
    want = sorted(
        (
            (lrow[0] if lrow else None,) + (rrow or (None, None))
            for lrow, rrow in itertools.zip_longest(
                _scan(spark, "pj_l"), _scan(spark, "pj_r")
            )
        ),
        key=lambda r: tuple((x is None, x) for x in r),
    )
    assert got == want


def test_positional_join_grouped_side(spark, table_store):
    """A GROUP BY subquery side: every grouped row and every table row
    appears exactly once, padded to the longer side's length."""
    ex = SparkStatementExecutor(spark, table_store)
    _run(ex, "CREATE TABLE pg_src AS SELECT range % 97 AS k, range AS v "
             "FROM range(0, 20000)")
    _run(ex, "CREATE TABLE pg_r AS SELECT range AS rn FROM range(0, 60)")
    _run(ex, "CREATE TABLE pg_out AS SELECT g.k, g.sv, r.rn FROM "
             "(SELECT k, sum(v) AS sv FROM pg_src GROUP BY k) g "
             "POSITIONAL JOIN pg_r r")
    rows = [tuple(r) for r in spark.table("pg_out").collect()]
    assert len(rows) == 97
    grouped = sorted(
        tuple(r) for r in spark.sql(
            "SELECT k, sum(v) FROM pg_src GROUP BY k"
        ).collect()
    )
    assert sorted((k, sv) for k, sv, _ in rows) == grouped
    rns = [rn for _, _, rn in rows]
    assert sorted(x for x in rns if x is not None) == list(range(60))
    assert rns.count(None) == 97 - 60


def test_nextval_shuffle_free_source(spark, table_store):
    """Multi-row nextval over a scan: ids are the sequence's progression
    in scan order (DuckDB's order on a single-file scan), no scratch
    materialization, and the sequence advances by the row count."""
    _spark_views(spark)
    ex = SparkStatementExecutor(spark, table_store)
    sql = [
        "CREATE SEQUENCE nv_s START 7 INCREMENT 3",
        "CREATE TABLE nv_a AS SELECT nextval('nv_s') AS id, o_orderkey "
        "FROM orders WHERE o_orderstatus = 'F'",
    ]
    con = _duck()
    for s in sql:
        _run(ex, s)
        con.execute(s)
    assert ex._seq_mat_counter == 0
    got = sorted(tuple(r) for r in spark.table("nv_a").collect())
    want = sorted(con.execute("SELECT * FROM nv_a").fetchall())
    assert got == want
    n = len(got)
    assert [i for i, _ in got] == [7 + 3 * i for i in range(n)]
    # multi-file TableStore source: ids follow its scan order
    _run(ex, "CREATE TABLE nv_src AS SELECT range AS a FROM range(0, 2500)")
    _run(ex, "INSERT INTO nv_src SELECT range FROM range(9000, 9100)")
    _run(ex, "CREATE TABLE nv_b AS SELECT nextval('nv_s') AS id, a FROM nv_src")
    assert ex._seq_mat_counter == 0
    base = 7 + 3 * n
    got_b = sorted(tuple(r) for r in spark.table("nv_b").collect())
    assert got_b == [
        (base + 3 * i, a) for i, (a,) in enumerate(_scan(spark, "nv_src"))
    ]
    # the sequence advanced past every minted id
    _run(ex, "CREATE TABLE nv_next AS SELECT nextval('nv_s') AS id")
    assert spark.table("nv_next").collect()[0].id == base + 3 * 2600


def test_nextval_shuffled_source(spark, table_store):
    """Multi-row nextval over a GROUP BY: the source is materialized
    first, so ids follow the statement's ORDER BY; the sequence
    advances by the group count."""
    ex = SparkStatementExecutor(spark, table_store)
    _run(ex, "CREATE TABLE ns_src AS SELECT range % 41 AS k, range AS v "
             "FROM range(0, 8000)")
    _run(ex, "CREATE SEQUENCE ns_s START 100 INCREMENT 5")
    _run(ex, "CREATE TABLE ns_out AS SELECT nextval('ns_s') AS id, k, "
             "sum(v) AS sv FROM ns_src GROUP BY k ORDER BY k DESC")
    assert ex._seq_mat_counter == 1
    rows = sorted((r.id, r.k) for r in spark.table("ns_out").collect())
    assert [i for i, _ in rows] == [100 + 5 * i for i in range(41)]
    assert [k for _, k in rows] == list(range(40, -1, -1))
    _run(ex, "CREATE TABLE ns_next AS SELECT nextval('ns_s') AS id")
    assert spark.table("ns_next").collect()[0].id == 100 + 5 * 41
