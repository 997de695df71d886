"""COLUMNS(), ``* REPLACE`` and UNION BY NAME expand in the executor's one
scope walk over any FROM shape (joins, subqueries, CTEs, ``alias.*``),
compared with DuckDB in rows and in column order."""

from __future__ import annotations

import duckdb
import pytest

from component_duckdb_transformation_spark.configuration import Block, Code
from component_duckdb_transformation_spark.functions.dialect import (
    expand_scopes,
    translate,
)
from component_duckdb_transformation_spark.plans.executor import (
    SparkStatementExecutor,
    TableStore,
)
from component_duckdb_transformation_spark.plans.sql_parser import parse_script
from component_duckdb_transformation_spark.validators.sql_validator import (
    SQLValidator,
)

_SETUP = [
    "CREATE TABLE se_t1 AS SELECT * FROM "
    "(VALUES (1, 10, 'x'), (2, 20, 'y'), (3, 30, 'z')) v(k, a, s)",
    "CREATE TABLE se_t2 AS SELECT * FROM (VALUES (1, 100), (2, 200)) v(k, b)",
    "CREATE TABLE se_t3 AS SELECT * FROM "
    "(VALUES (1, 'AB', 5), (2, 'Cd', 6)) v(x, y, z)",
]

_CASES = [
    # join USING: the replaced column keeps its position
    "SELECT * REPLACE (a * 10 AS a) FROM se_t1 JOIN se_t2 USING (k)",
    # FROM subquery
    "SELECT * REPLACE (a * 10 AS a) FROM (SELECT * FROM se_t1) q",
    # CTE
    "WITH c AS (SELECT * FROM se_t1) SELECT * REPLACE (a + 1 AS a) FROM c",
    # alias.* over a join emits alias.col items
    "SELECT x.* REPLACE (a * 10 AS a), y.b FROM se_t1 x "
    "JOIN se_t2 y ON x.k = y.k",
    # COLUMNS() over a join and over a subquery
    "SELECT max(COLUMNS('a|b')) FROM se_t1 JOIN se_t2 USING (k)",
    "SELECT COLUMNS('a|s') FROM (SELECT * FROM se_t1) q",
    # COLUMNS() over a join whose whole star repeats a name (k)
    "SELECT COLUMNS('a') FROM se_t1 x JOIN se_t2 y ON x.k = y.k",
    # single-table REPLACE lists
    "SELECT * REPLACE (a * 2 AS a) FROM se_t1",
    "SELECT * REPLACE (x + 1 AS x, lower(y) AS y) FROM se_t3",
    # EXCLUDE ... REPLACE under QUALIFY inside a CTE
    "WITH base AS (SELECT * FROM (VALUES (1, 10, 'x'), (1, 20, 'y'), "
    "(2, 30, 'z'), (2, 5, 'w')) t(k, v, s)) "
    "SELECT * EXCLUDE (s) REPLACE (v * 2 AS v) FROM base "
    "QUALIFY row_number() OVER (PARTITION BY k ORDER BY v DESC) = 1",
]


def _run(ex, sql):
    for st in parse_script(sql):
        ex._execute_statement(st)


@pytest.fixture(scope="module")
def scope_env(spark, tmp_path_factory):
    ex = SparkStatementExecutor(
        spark, TableStore(spark, str(tmp_path_factory.mktemp("scope_store")))
    )
    con = duckdb.connect()
    for sql in _SETUP:
        _run(ex, sql)
        con.execute(sql)
    return ex, con


def _key(row):
    return tuple((v is None, str(v)) for v in row)


@pytest.mark.parametrize("idx", range(len(_CASES)))
def test_scope_expansion_matches_duckdb(spark, scope_env, idx):
    ex, con = scope_env
    name = f"se_out{idx}"
    sql = f"CREATE OR REPLACE TABLE {name} AS {_CASES[idx]}"
    _run(ex, sql)
    con.execute(sql)
    cur = con.execute(f"SELECT * FROM {name}")
    want_cols = [d[0] for d in cur.description]
    want = sorted((tuple(r) for r in cur.fetchall()), key=_key)
    got_df = spark.table(name)
    assert got_df.columns == want_cols
    assert sorted((tuple(r) for r in got_df.collect()), key=_key) == want


@pytest.mark.parametrize(
    "q",
    [
        "SELECT COLUMNS('a') FROM se_t1 x JOIN se_t2 y ON x.k = y.k",
        # the repeated name is emitted qualified: x.k, ..., y.k
        "SELECT * REPLACE (a + 1 AS a) FROM se_t1 x JOIN se_t2 y ON x.k = y.k",
    ],
)
def test_join_with_repeated_names_matches_duckdb(spark, scope_env, q):
    ex, con = scope_env
    got = spark.sql(translate(expand_scopes(q, ex._resolve_query_columns)))
    cur = con.execute(q)
    assert got.columns == [d[0] for d in cur.description]
    want = sorted((tuple(r) for r in cur.fetchall()), key=_key)
    assert sorted((tuple(r) for r in got.collect()), key=_key) == want


def test_repeated_scope_names_rename_like_duckdb(spark, scope_env):
    ex, con = scope_env
    # the expansion names k twice (x.k, y.k): the CTAS renames the
    # second to k_1, as DuckDB does
    sql = (
        "CREATE OR REPLACE TABLE se_dup AS SELECT * REPLACE (a + 1 AS a) "
        "FROM se_t1 x JOIN se_t2 y ON x.k = y.k"
    )
    _run(ex, sql)
    con.execute(sql)
    cur = con.execute("SELECT * FROM se_dup")
    want_cols = [d[0] for d in cur.description]
    assert want_cols == ["k", "a", "s", "k_1", "b"]
    assert spark.table("se_dup").columns == want_cols
    want = sorted((tuple(r) for r in cur.fetchall()), key=_key)
    got = sorted((tuple(r) for r in spark.table("se_dup").collect()), key=_key)
    assert got == want


def test_startup_check_skips_star_replace(spark):
    script = "CREATE TABLE r AS SELECT * EXCLUDE (s) REPLACE (a * 2 AS a) FROM t"
    blocks = [Block(name="b", codes=[Code(name="c", script=[script])])]
    result = SQLValidator(spark).validate_queries(blocks)
    assert "syntactically valid" in result.message, result.message
