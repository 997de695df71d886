"""Parser behavior mirrored from the reference's expectations
(reference src/sql_parser.py + tests/unit/test_expected_input_tables_action.py)."""

from component_duckdb_transformation_spark.plans.sql_parser import (
    StatementType,
    parse_script,
    parse_statement,
)
from component_duckdb_transformation_spark.plans.sql_tokens import split_statements


def test_create_view_string_literal_names():
    # reference tests/functional/simple/source/data/config.json:10-19
    st = parse_statement(
        "CREATE VIEW 'week.csv' AS SELECT \"id\"::INT AS id, name "
        "FROM 'days.csv' WHERE id::INT <= 5 ORDER BY id"
    )
    assert st.statement_type == StatementType.CREATE_VIEW
    assert st.outputs == {"week.csv"}
    assert st.dependencies == {"days.csv"}


def test_cte_aliases_excluded():
    # reference tests/unit/test_expected_input_tables_action.py:25-33
    st = parse_statement(
        "WITH base AS (SELECT * FROM t1), agg AS "
        "(SELECT a, count(*) AS c FROM base GROUP BY a) "
        "SELECT * FROM agg JOIN t2 USING (a)"
    )
    assert st.dependencies == {"t1", "t2"}
    assert st.cte_aliases == {"base", "agg"}


def test_quoted_mixed_name():
    # reference tests/functional/query_dependencies config.json:12-18
    st = parse_statement('CREATE OR REPLACE TABLE "t4-new" AS SELECT * FROM t1')
    assert st.outputs == {"t4-new"}
    assert st.dependencies == {"t1"}


def test_insert_target_not_a_dependency():
    st = parse_statement("INSERT INTO sales SELECT * FROM staging")
    assert st.statement_type == StatementType.INSERT
    assert st.outputs == {"sales"}
    assert st.dependencies == {"staging"}


def test_update_delete_target_is_dependency_and_output():
    st = parse_statement("UPDATE t1 SET x = 1 WHERE y = 2")
    assert st.statement_type == StatementType.UPDATE
    assert st.outputs == {"t1"}
    assert "t1" in st.dependencies

    st = parse_statement("DELETE FROM t1 WHERE x > 3")
    assert st.statement_type == StatementType.DELETE
    assert st.outputs == {"t1"}
    assert "t1" in st.dependencies


def test_unquoted_names_lowercased():
    st = parse_statement("SELECT * FROM MyTable JOIN Other USING (id)")
    assert st.dependencies == {"mytable", "other"}


def test_table_function_not_a_dependency():
    st = parse_statement("CREATE TABLE t AS SELECT * FROM read_parquet('in/tables/x.parquet')")
    assert st.dependencies == set()
    assert st.outputs == {"t"}


def test_split_statements_string_safe():
    stmts = split_statements("SELECT 'a;b' AS x; SELECT 2")
    assert len(stmts) == 2
    assert stmts[0] == "SELECT 'a;b' AS x"


def test_multi_statement_script():
    sts = parse_script("CREATE TABLE a AS SELECT 1; INSERT INTO a SELECT 2;")
    assert [s.statement_type for s in sts] == [
        StatementType.CREATE_TABLE,
        StatementType.INSERT,
    ]


def test_subquery_and_derived_table_dependencies():
    st = parse_statement(
        "SELECT * FROM (SELECT * FROM inner_t) d "
        "WHERE EXISTS (SELECT 1 FROM other WHERE other.id = d.id)"
    )
    assert st.dependencies == {"inner_t", "other"}


def test_comma_join_dependencies():
    st = parse_statement("SELECT * FROM a, b WHERE a.id = b.id")
    assert st.dependencies == {"a", "b"}


def test_from_inside_function_not_a_dependency():
    """EXTRACT(DOW FROM col) / substring(s FROM 2) must not produce
    phantom dependencies (ADVICE r1: false circular-dep risk)."""
    st = parse_script(
        "CREATE TABLE o AS SELECT EXTRACT(DOW FROM order_date) AS d, "
        "substring(name FROM 2) AS s, trim(LEADING 'x' FROM name) AS t "
        "FROM orders"
    )[0]
    assert st.dependencies == {"orders"}


def test_from_arg_function_nested_in_where():
    st = parse_script(
        "SELECT * FROM events e WHERE EXTRACT(HOUR FROM e.ts) > 3 "
        "AND EXISTS (SELECT 1 FROM orders o WHERE o.id = e.id)"
    )[0]
    assert st.dependencies == {"events", "orders"}


def test_head_classifies_catalog_ddl():
    # a table macro's body is not a CREATE TABLE
    st = parse_statement("CREATE MACRO m(x) AS TABLE SELECT x AS y")
    assert st.statement_type == StatementType.OTHER
    assert st.outputs == set()
    assert (st.head.verb, st.head.kind, st.head.name) == ("CREATE", "macro", "m")
    assert st.head.is_catalog_ddl
    st = parse_statement("CREATE TEMP MACRO add1(x) AS x + 1")
    assert st.head.temp and st.head.is_catalog_ddl
    # head words inside a literal do not change what a statement is
    st = parse_statement("CREATE TABLE k AS SELECT 'macro' AS kind")
    assert st.statement_type == StatementType.CREATE_TABLE
    assert st.outputs == {"k"} and not st.head.is_catalog_ddl
    st = parse_statement("CREATE OR REPLACE TABLE t2 AS SELECT 'if not exists' AS s")
    assert st.head.or_replace and not st.head.if_exists
    st = parse_statement("CREATE SEQUENCE IF NOT EXISTS \"Sq\" START 3")
    assert st.outputs == {"sq"} and st.head.if_exists
    assert st.tail == "START 3"
