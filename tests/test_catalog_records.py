"""One catalog record per relation: every table or view a script creates
is one ``TableState`` in the ``TableStore``, carrying its constraints,
enum and TIME columns and export ORDER BY. CREATE, DROP, RENAME and the
column ALTERs publish, remove, move or edit that record whole. Each test
runs the same statements on DuckDB and compares results or errors."""

from __future__ import annotations

import duckdb
import pytest

from component_duckdb_transformation_spark.exceptions import UserException
from component_duckdb_transformation_spark.plans.executor import SparkStatementExecutor
from component_duckdb_transformation_spark.plans.sql_parser import parse_script


@pytest.fixture()
def engines(spark, table_store):
    return SparkStatementExecutor(spark, table_store), duckdb.connect()


def _both(engines, sql: str):
    """Run ``sql`` on both engines; (spark error, duckdb error)."""
    ex, con = engines
    errs = []
    try:
        for st in parse_script(sql):
            ex._execute_statement(st)
        errs.append(None)
    except UserException as exc:
        errs.append(str(exc))
    try:
        con.execute(sql)
        errs.append(None)
    except duckdb.Error as exc:
        errs.append(str(exc))
    return tuple(errs)


def _ok(engines, *statements):
    for sql in statements:
        assert _both(engines, sql) == (None, None), sql


def _rows(engines, sql: str):
    ex, con = engines
    return sorted(map(tuple, ex.spark.sql(sql).collect())), sorted(
        con.execute(sql).fetchall()
    )


def test_rename_keeps_time_columns(engines):
    _ok(
        engines,
        "CREATE TABLE tt (id INTEGER, t TIME)",
        "INSERT INTO tt VALUES (1, TIME '06:00:00'), (2, TIME '23:30:00')",
        "ALTER TABLE tt RENAME TO tt2",
        "CREATE TABLE w AS SELECT id FROM tt2 "
        "WHERE t + INTERVAL 2 HOUR < TIME '09:00:00'",
    )
    spark_rows, duck_rows = _rows(engines, "SELECT id FROM w")
    assert spark_rows == duck_rows == [(1,), (2,)]


def test_rename_column_keeps_time_column(engines):
    _ok(
        engines,
        "CREATE TABLE tc (id INTEGER, t TIME)",
        "INSERT INTO tc VALUES (1, TIME '06:00:00'), (2, TIME '23:30:00')",
        "ALTER TABLE tc RENAME COLUMN t TO t2",
        "CREATE TABLE wc AS SELECT id FROM tc "
        "WHERE t2 + INTERVAL 2 HOUR < TIME '09:00:00'",
    )
    spark_rows, duck_rows = _rows(engines, "SELECT id FROM wc")
    assert spark_rows == duck_rows == [(1,), (2,)]


def test_replace_view_over_table_errors_and_keeps_table(engines):
    ex, _ = engines
    _ok(
        engines,
        "CREATE TABLE pk1 (id INTEGER PRIMARY KEY, v INTEGER)",
        "INSERT INTO pk1 VALUES (1, 10)",
    )
    spark_err, duck_err = _both(
        engines, "CREATE OR REPLACE VIEW pk1 AS SELECT 2 AS id, 20 AS v"
    )
    assert duck_err is not None
    assert spark_err is not None and "pk1" in spark_err
    # the table, its data and its key survive: a clashing INSERT still
    # fails on both engines and a fresh key lands in the table
    assert ex.store.tables["pk1"].path is not None
    spark_err, duck_err = _both(engines, "INSERT INTO pk1 VALUES (1, 11)")
    assert spark_err is not None and duck_err is not None
    _ok(engines, "INSERT INTO pk1 VALUES (3, 30)")
    spark_rows, duck_rows = _rows(engines, "SELECT * FROM pk1")
    assert spark_rows == duck_rows == [(1, 10), (3, 30)]


@pytest.mark.parametrize("replace", ["", "OR REPLACE "])
def test_create_table_over_view_errors(engines, replace):
    ex, _ = engines
    _ok(engines, "CREATE VIEW vo AS SELECT 1 AS k")
    spark_err, duck_err = _both(engines, f"CREATE {replace}TABLE vo AS SELECT 2 AS k")
    assert duck_err is not None
    assert spark_err is not None and "vo" in spark_err
    assert ex.store.tables["vo"].path is None
    spark_rows, duck_rows = _rows(engines, "SELECT * FROM vo")
    assert spark_rows == duck_rows == [(1,)]


@pytest.mark.parametrize("target", ["rb", "rv"])
def test_rename_onto_existing_entry_errors(engines, target):
    _ok(
        engines,
        "CREATE TABLE ra AS SELECT 1 AS x",
        "CREATE TABLE rb AS SELECT 2 AS x",
        "CREATE VIEW rv AS SELECT 3 AS x",
    )
    spark_err, duck_err = _both(engines, f"ALTER TABLE ra RENAME TO {target}")
    assert duck_err is not None
    assert spark_err is not None and target in spark_err
    for name, want in (("ra", 1), ("rb", 2), ("rv", 3)):
        spark_rows, duck_rows = _rows(engines, f"SELECT * FROM {name}")
        assert spark_rows == duck_rows == [(want,)]


def test_new_table_under_renamed_name_keeps_renamed_data(engines):
    _ok(
        engines,
        "CREATE TABLE old_t AS SELECT 1 AS x",
        "ALTER TABLE old_t RENAME TO new_t",
        "CREATE TABLE old_t AS SELECT 2 AS x",
    )
    for name in ("new_t", "old_t"):
        spark_rows, duck_rows = _rows(engines, f"SELECT * FROM {name}")
        assert spark_rows == duck_rows


def test_rename_moves_constraints_and_enums(engines):
    _ok(
        engines,
        "CREATE TYPE lvl AS ENUM ('lo', 'mid', 'hi')",
        "CREATE TABLE ke (k INTEGER PRIMARY KEY, e lvl NOT NULL)",
        "INSERT INTO ke VALUES (1, 'hi'), (2, 'lo'), (3, 'mid')",
        "ALTER TABLE ke RENAME TO ke2",
        "ALTER TABLE ke2 RENAME TO ke3",
    )
    for bad in (
        "INSERT INTO ke3 VALUES (1, 'lo')",
        "INSERT INTO ke3 VALUES (4, NULL)",
        "INSERT INTO ke3 VALUES (5, 'bogus')",
    ):
        spark_err, duck_err = _both(engines, bad)
        assert spark_err is not None and duck_err is not None, bad
    # enum order is declaration order, not lexical
    _ok(
        engines,
        "CREATE TABLE ord AS SELECT k, row_number() OVER (ORDER BY e) AS r "
        "FROM ke3",
    )
    spark_rows, duck_rows = _rows(engines, "SELECT * FROM ord")
    assert spark_rows == duck_rows == [(1, 3), (2, 1), (3, 2)]


def test_views_are_records_without_path(engines):
    ex, _ = engines
    _ok(
        engines,
        "CREATE TABLE base AS SELECT 1 AS k, 'b' AS s",
        "CREATE VIEW vo AS SELECT k, s FROM base ORDER BY s",
    )
    assert ex.store.tables["vo"].path is None
    assert ex.store.tables["vo"].order_by == "s"
    _ok(engines, "CREATE OR REPLACE VIEW vo AS SELECT k FROM base")
    assert ex.store.tables["vo"].order_by is None
    # table-only statements still reject a view name
    for sql in ("INSERT INTO vo VALUES (2)", "UPDATE vo SET k = 2",
                "DELETE FROM vo", "ALTER TABLE vo ADD COLUMN z INTEGER"):
        spark_err, duck_err = _both(engines, sql)
        assert spark_err is not None and duck_err is not None, sql
    _ok(engines, "DROP VIEW vo", "DROP TABLE base")
    assert ex.store.tables == {}


@pytest.mark.parametrize(
    "statements, want",
    [
        (["CREATE TABLE hw AS SELECT 'macro' AS kind"], "macro"),
        (
            [
                "CREATE TABLE hw AS SELECT 1 AS a",
                "CREATE OR REPLACE TABLE hw AS SELECT 'if not exists' AS s",
            ],
            "if not exists",
        ),
        (
            [
                "CREATE VIEW hw AS SELECT 1 AS a",
                "CREATE OR REPLACE VIEW hw AS SELECT 'if not exists' AS s",
            ],
            "if not exists",
        ),
    ],
)
def test_head_words_in_literals_do_not_route(engines, statements, want):
    """What a statement is comes from its head: a string literal that
    spells MACRO or IF NOT EXISTS changes nothing."""
    _ok(engines, *statements)
    spark_rows, duck_rows = _rows(engines, "SELECT * FROM hw")
    assert spark_rows == duck_rows == [(want,)]


def test_temp_macro_expands(engines):
    ex, _ = engines
    _ok(
        engines,
        "CREATE TEMP MACRO add1(x) AS x + 1",
        # a body that merely starts with the letters TABLE is scalar
        "CREATE MACRO tenfold(table_x) AS table_x * 10",
        "CREATE TABLE m3 AS SELECT add1(2) AS v, tenfold(2) AS w",
    )
    assert {"add1", "tenfold"} <= set(ex._macros)
    spark_rows, duck_rows = _rows(engines, "SELECT * FROM m3")
    assert spark_rows == duck_rows == [(3, 20)]


@pytest.mark.parametrize(
    "sql",
    [
        "DROP TABLE dv",
        "DROP TABLE IF EXISTS dv",
        "DROP VIEW dt",
        "DROP VIEW IF EXISTS dt",
    ],
)
def test_drop_of_the_wrong_kind_errors(engines, sql):
    ex, _ = engines
    _ok(
        engines,
        "CREATE VIEW dv AS SELECT 1 AS k",
        "CREATE TABLE dt AS SELECT 2 AS k",
    )
    spark_err, duck_err = _both(engines, sql)
    assert duck_err is not None
    assert spark_err is not None and "trying to replace with type" in spark_err
    assert ex.store.tables["dv"].path is None
    assert ex.store.tables["dt"].path is not None
    for name, want in (("dv", 1), ("dt", 2)):
        spark_rows, duck_rows = _rows(engines, f"SELECT * FROM {name}")
        assert spark_rows == duck_rows == [(want,)]


def test_drop_unknown_macro_errors(engines):
    ex, _ = engines
    _ok(engines, "CREATE MACRO keep1(x) AS x")
    spark_err, duck_err = _both(engines, "DROP MACRO nomac")
    assert duck_err is not None
    assert spark_err is not None and "nomac does not exist" in spark_err
    _ok(engines, "DROP MACRO IF EXISTS nomac", "CREATE TABLE km AS SELECT keep1(4) AS v")
    assert set(ex._macros) == {"keep1"}
    spark_rows, duck_rows = _rows(engines, "SELECT * FROM km")
    assert spark_rows == duck_rows == [(4,)]


@pytest.mark.parametrize("kind", ["TABLE", "VIEW"])
def test_plain_recreate_errors(engines, kind):
    ex, _ = engines
    _ok(engines, f"CREATE {kind} rc AS SELECT 1 AS a")
    spark_err, duck_err = _both(engines, f"CREATE {kind} rc AS SELECT 2 AS a")
    assert duck_err is not None
    assert spark_err is not None and "already exists" in spark_err
    assert (ex.store.tables["rc"].path is None) == (kind == "VIEW")
    spark_rows, duck_rows = _rows(engines, "SELECT * FROM rc")
    assert spark_rows == duck_rows == [(1,)]
    # OR REPLACE and IF NOT EXISTS still do what they say
    _ok(
        engines,
        f"CREATE {kind} IF NOT EXISTS rc AS SELECT 3 AS a",
        f"CREATE OR REPLACE {kind} rc AS SELECT 4 AS a",
    )
    spark_rows, duck_rows = _rows(engines, "SELECT * FROM rc")
    assert spark_rows == duck_rows == [(4,)]
