"""Round-8 hardening tests: POSITIONAL JOIN over shuffled sides (a side
containing a GROUP BY/JOIN/aggregate must still pair every row exactly
once), plus the round-8 dialect divergence closers. Reference behavior:
DuckDB positional join semantics (reference delegates all SQL at
src/query_orchestrator.py:351)."""

from __future__ import annotations

import re

import duckdb
import pytest

from component_duckdb_transformation_spark.functions.dialect import (
    translate,
)


def test_positional_join_shuffled_side_no_row_loss(spark):
    """A GROUP BY side must pair every row exactly once (no silent
    drops or duplicates from a shuffled source)."""
    spark.range(0, 50000, 1, 16).selectExpr(
        "id % 777 AS k", "id AS v"
    ).createOrReplaceTempView("pos_big")
    spark.range(0, 777, 1, 4).selectExpr("id AS rn").createOrReplaceTempView(
        "pos_small"
    )
    sql = (
        "SELECT count(*) AS n, count(g.k) AS nk, count(r.rn) AS nr FROM "
        "(SELECT k, sum(v) AS sv FROM pos_big GROUP BY k) g "
        "POSITIONAL JOIN pos_small r"
    )
    t = translate(sql)
    for _ in range(3):
        row = spark.sql(t).collect()[0]
        assert (row.n, row.nk, row.nr) == (777, 777, 777), row


def test_positional_join_values_and_projection_sides(spark):
    """Names over VALUES and projection subqueries match DuckDB
    exactly, including NULL padding of the shorter side."""
    con = duckdb.connect()
    con.execute(
        "CREATE TABLE pa AS SELECT * FROM (VALUES (1,'x'),(2,'y'),(3,'z')) "
        "t(id, s)"
    )
    con.execute("CREATE TABLE pb AS SELECT * FROM (VALUES (10),(20)) t(v)")
    spark.sql(
        "CREATE OR REPLACE TEMP VIEW pa AS "
        "SELECT * FROM VALUES (1,'x'),(2,'y'),(3,'z') t(id, s)"
    )
    spark.sql(
        "CREATE OR REPLACE TEMP VIEW pb AS "
        "SELECT * FROM VALUES (10),(20) t(v)"
    )
    for sql in (
        "SELECT * FROM pa POSITIONAL JOIN pb",
        "SELECT * FROM (SELECT id FROM pa WHERE id > 1) l POSITIONAL JOIN pb",
        "SELECT * FROM pb POSITIONAL JOIN pa",
    ):
        t = translate(sql)
        key = lambda r: tuple((x is None, x) for x in r)  # noqa: E731
        want = sorted(
            (tuple(r) for r in con.execute(sql).fetchall()), key=key
        )
        got = sorted((tuple(r) for r in spark.sql(t).collect()), key=key)
        assert got == want, (sql, want, got)


MAD_HOIST_CASES = [
    "SELECT p_brand, count(*) AS n FROM part GROUP BY p_brand "
    "HAVING mad(p_retailprice) > 100 ORDER BY p_brand",
    "SELECT p_brand, avg(p_retailprice) AS a FROM part GROUP BY p_brand "
    "ORDER BY mad(p_retailprice) DESC, p_brand LIMIT 5",
    "SELECT p_brand FROM part GROUP BY p_brand "
    "HAVING mad(p_retailprice) > 100 AND count(*) > 3 ORDER BY p_brand",
    "SELECT p_brand, mad(p_retailprice) AS m FROM part GROUP BY p_brand "
    "HAVING mad(p_retailprice) > 120 ORDER BY p_brand",
    "SELECT count(*) AS n FROM part HAVING mad(p_retailprice) > 1",
    "SELECT sum(p_size) AS s FROM part GROUP BY p_brand "
    "HAVING mad(p_retailprice) > 150 ORDER BY s",
    "SELECT p_brand, count(*) AS n FROM part GROUP BY p_brand "
    "HAVING entropy(p_type) > 4.2 ORDER BY p_brand",
    "SELECT p_brand FROM part GROUP BY p_brand "
    "ORDER BY entropy(p_type) DESC, p_brand LIMIT 3",
    "SELECT p_brand, count(*) AS n FROM part GROUP BY p_brand "
    "HAVING mad(part.p_retailprice) > 100 AND part.p_brand <> 'Brand#11' "
    "ORDER BY p_brand",
    "SELECT p_brand FROM part GROUP BY p_brand HAVING mad(p_retailprice) "
    "> percentile_cont(0.05) WITHIN GROUP (ORDER BY p_retailprice) / 10 "
    "ORDER BY p_brand",
]


@pytest.mark.parametrize("sql", MAD_HOIST_CASES)
def test_mad_entropy_having_order_hoist(spark, sql):
    """mad()/entropy() in HAVING and ORDER BY: hoisted into the
    two-phase select-list restructure, results must match DuckDB."""
    con = duckdb.connect()
    con.execute(
        "CREATE VIEW part AS "
        "FROM read_parquet('/root/testdata/sf0.001/part.parquet')"
    )
    spark.read.parquet(
        "/root/testdata/sf0.001/part.parquet"
    ).createOrReplaceTempView("part")

    def norm(v):
        return round(v, 6) if isinstance(v, float) else v

    got = sorted(
        str(tuple(norm(x) for x in r))
        for r in spark.sql(translate(sql)).collect()
    )
    want = sorted(
        str(tuple(norm(x) for x in r)) for r in con.execute(sql).fetchall()
    )
    assert got == want, (sql, want[:5], got[:5])


REGEXP_REWRITE_CASES = [
    # literal: backrefs, whole-match \0, literal \\ and $, invalid
    # rewrites (no-op), class-contained anchors, escaped anchors
    "SELECT regexp_replace('abcabc', 'b(c)', '\\1') AS r",
    "SELECT regexp_replace('abcabc', 'b(c)', '\\\\') AS r",
    "SELECT regexp_replace('abcabc', 'b(c)', '\\x') AS r",
    "SELECT regexp_replace('abcabc', '(b)(c)', '\\2\\1') AS r",
    "SELECT regexp_replace('abcabc', 'b(c)', '\\1', 'g') AS r",
    "SELECT regexp_replace('a$b$c', '[$]', 'X') AS r",
    "SELECT regexp_replace('a^b', '[\\^]', 'Y') AS r",
    "SELECT regexp_replace('abcabc', 'b(c)', '$1') AS r",
    "SELECT regexp_replace('abcabc', 'b(c)', '$1', 'g') AS r",
    "SELECT regexp_replace('abcabc', 'b(c)', 'X\\0Y') AS r",
    "SELECT regexp_replace('abcabc', 'b(c)', 'p\\0s', 'g') AS r",
    "SELECT regexp_replace('abcabc', 'b(c)', '\\2') AS r",
    "SELECT regexp_replace('abcabc', 'B(C)', '\\1', 'gi') AS r",
    "SELECT regexp_replace('abcabc', 'B(C)', '\\0\\1', 'i') AS r",
    "SELECT regexp_replace('trail', 'a', 'x\\') AS r",
    "SELECT regexp_replace('trail', 'a', 'x\\', 'g') AS r",
    "SELECT regexp_replace('abcabc', 'b(c)', 'p\\qs', 'g') AS r",
    "SELECT regexp_replace('abcabc', 'b(c)', 'p\\q\\2s', 'g') AS r",
    "SELECT regexp_replace('m$n', '\\$', 'D') AS r",
    # runtime pattern and/or replacement
    "SELECT regexp_replace(s, p, 'X') AS r FROM (VALUES ('a$b$c', '[$]'),"
    " ('a^b', '[\\^]'), ('aXb', 'X'), ('m$n', '\\$'), ('q^r', '^q')) t(s, p)",
    "SELECT regexp_replace(s, 'b(c)', rep) AS r FROM (VALUES"
    " ('abcabc', '\\1'), ('abcabc', '\\\\'), ('abcabc', '\\x'),"
    " ('abcabc', '$9'), ('abcabc', '\\2'), ('abcabc', '\\0Z')) t(s, rep)",
    "SELECT regexp_replace(s, p, rep) AS r FROM (VALUES"
    " ('abcabc', 'b(c)', '\\1'), ('a$b', '[$]', 'Z'),"
    " ('abcabc', 'b(c)', '\\x'), ('abcabc', 'b(c)', 'W\\0W')) t(s, p, rep)",
    "SELECT regexp_replace(s, 'b(c)', rep, 'g') AS r FROM (VALUES"
    " ('abcabc', '\\1'), ('abcabc', '$$'), ('abcabc', '\\q'),"
    " ('abcabc', 'p\\qs'), ('abcabc', 'p\\q\\2s'), ('abcabc', '\\0x'),"
    " ('abcabc', 'z\\')) t(s, rep)",
    "SELECT regexp_replace(s, p, rep, 'g') AS r FROM (VALUES"
    " ('abcabc', 'b(c)', '\\1'), ('a$b', '[$]', 'Z'),"
    " ('abcabc', 'b(c)', 'p\\qs')) t(s, p, rep)",
    "SELECT regexp_replace(s, p, rep, 'i') AS r FROM (VALUES"
    " ('aBCabc', 'b(c)', '\\1'), ('a$b', '[$]', 'Z')) t(s, p, rep)",
]


@pytest.mark.parametrize("sql", REGEXP_REWRITE_CASES)
def test_regexp_replace_re2_rewrite_semantics(spark, sql):
    """regexp_replace must reproduce DuckDB's RE2 rewrite semantics:
    \\N backrefs, \\0 whole match, literal $ and \\\\, replace-FIRST
    no-op on invalid rewrites, global-mode mid-rewrite truncation on
    invalid escapes, out-of-range-ref no-op, and class-contained
    anchors staying on the composed replace-first path — for literal
    AND runtime patterns/replacements."""
    con = duckdb.connect()
    want = [r[0] for r in con.execute(sql).fetchall()]
    got = [r.r for r in spark.sql(translate(sql)).collect()]
    assert got == want, (sql, want, got)


JSON_NUMERIC_LEAVES = [
    "1e10", "1E10", "1.5e3", "1e-3", "2.5E-7", "1e100", "123", "1.25",
    "1.250", "-1e5", "1e308", "1e-308", "0.1",
    "1.7976931348623157e308", "9007199254740993",
    "0.30000000000000004", "1e2", "3.14e0", "1e+5", "1e20", "1e21",
    "1e-6", "1e-7", "1.234e16", "1.23456789e-5",
    "123456789012345678901234567890", "-123456789012345678901234567890",
    "0.10000000000000001", "18446744073709551615",
    "18446744073709551616", "-9223372036854775808",
    "-9223372036854775809", "2.00000000000000011",
    "0.123456789012345678901",
    "99999999999999999999999999999999999999",
]


def test_json_arrow_numeric_leaf_yyjson_normalization(spark):
    """JSON-returning `->` must render numeric leaves exactly like
    DuckDB's yyjson writer: integer leaves in int64/uint64 range keep
    their source text, everything yyjson parses as a double
    (scientific notation, fractions beyond shortest-repr, out-of-range
    integers) re-renders as shortest round-trip with yyjson's
    decimal/scientific cutoffs ([-6, 20]) and `.0` integer suffix."""
    con = duckdb.connect()
    for v in JSON_NUMERIC_LEAVES:
        sql = "SELECT '{\"x\": %s}'->'x' AS r" % v
        want = con.execute(sql).fetchone()[0]
        got = spark.sql(translate(sql)).collect()[0].r
        assert got == want, (v, want, got)


FORMAT_WIDTH_CASES = [
    "SELECT format('{:5}|', 'ab') AS r",
    "SELECT format('{:5}|', 7) AS r",
    "SELECT format('{:5}|', 7.5) AS r",
    "SELECT format('{:5}|', true) AS r",
    "SELECT format('{:2}|', 'abcdef') AS r",
    "SELECT format('{} {:6} {:3d}|', 'x', 'yy', 42) AS r",
    "SELECT format('{:8}|', s) AS r FROM (VALUES ('hi'), "
    "('longer-than')) t(s)",
    "SELECT format('{:8}|', v) AS r FROM (VALUES (3), "
    "(12345678901)) t(v)",
]


@pytest.mark.parametrize("sql", FORMAT_WIDTH_CASES)
def test_format_width_without_type_alignment(spark, sql):
    """fmtlib {:N} pads to a MINIMUM width, left-aligning strings and
    booleans but right-aligning numbers — decided at runtime on the
    argument's type (the old %Ns lowering right-aligned everything)."""
    con = duckdb.connect()
    want = [r[0] for r in con.execute(sql).fetchall()]
    got = [r.r for r in spark.sql(translate(sql)).collect()]
    assert got == want, (sql, want, got)


def test_icu_sort_key_byte_exact(spark):
    """icu_sort_key must match DuckDB's ICU collation sort keys
    byte-exactly — implemented by using the ICU build bundled in the
    duckdb wheel as a collation library inside an Arrow-batched UDF."""
    from component_duckdb_transformation_spark.functions.text_udfs import (
        register_text_udfs,
    )

    register_text_udfs(spark)
    con = duckdb.connect()
    for sql in (
        "SELECT icu_sort_key('abc', 'de') AS r",
        "SELECT icu_sort_key(s, 'de') AS r FROM (VALUES ('äbc'), "
        "('zz'), ('Straße'), (NULL)) t(s)",
        "SELECT icu_sort_key(s, 'sv') AS r FROM (VALUES ('äbc'), "
        "('zz'), ('öx')) t(s)",
        "SELECT icu_sort_key(s, 'ja') AS r FROM (VALUES ('東京'), "
        "('ひらがな')) t(s)",
        "SELECT icu_sort_key('x', 'en_US') AS r",
    ):
        want = [r[0] for r in con.execute(sql).fetchall()]
        got = [r.r for r in spark.sql(translate(sql)).collect()]
        assert got == want, (sql, want, got)


FMTLIB_DOUBLE_CASES = [
    "SELECT format('{}|', CAST(0.0001 AS DOUBLE)) AS r",
    "SELECT format('{}|', CAST(0.00001 AS DOUBLE)) AS r",
    "SELECT format('{}|', CAST(1e15 AS DOUBLE)) AS r",
    "SELECT format('{}|', CAST(1e16 AS DOUBLE)) AS r",
    "SELECT format('{}|', CAST(1.5e16 AS DOUBLE)) AS r",
    "SELECT format('{}|', CAST(2.5e-7 AS DOUBLE)) AS r",
    "SELECT format('{}|', CAST(1e100 AS DOUBLE)) AS r",
    "SELECT format('{}|', CAST(-1e-5 AS DOUBLE)) AS r",
    "SELECT format('{}|', CAST(1.7976931348623157e308 AS DOUBLE)) AS r",
    "SELECT format('{}|', 8.6400) AS r",
    "SELECT format('{:8}|', 8.6400) AS r",
    "SELECT format('{:6}|', 100.50) AS r",
    "SELECT format('{}|', CAST('nan' AS DOUBLE)) AS r",
    "SELECT format('{}|', CAST('inf' AS DOUBLE)) AS r",
    "SELECT format('{}|', CAST('-inf' AS DOUBLE)) AS r",
    "SELECT format('{} {:5} {:.2f}|', CAST(0.0001 AS DOUBLE), 'ab', "
    "3.14159) AS r",
    # nested regexp_replace inside a consumed arg must be rewritten too
    "SELECT regexp_replace(regexp_replace('azbza', 'a', 'X', 'g'), "
    "'z', '\\q', 'g') AS r",
    "SELECT regexp_replace(reverse(regexp_replace('abab', 'a', "
    "'\\0Y', 'g')), 'b', '\\1', 'g') AS r",
]


@pytest.mark.parametrize("sql", FMTLIB_DOUBLE_CASES)
def test_format_fmtlib_double_rendering(spark, sql):
    """format() renders DOUBLE/DECIMAL args exactly like fmtlib
    (shortest round-trip, decimal form for exponents in [-4, 15],
    signed two-digit e±NN otherwise, nan/inf spellings); nested
    regexp_replace calls inside consumed args are rewritten too."""
    con = duckdb.connect()
    want = [r[0] for r in con.execute(sql).fetchall()]
    got = [r.r for r in spark.sql(translate(sql)).collect()]
    assert got == want, (sql, want, got)


JSON_CONTAINER_CASES = [
    """SELECT '{"b": [2.5E-7, 1e10]}'->'b' AS r""",
    """SELECT '{"b": {"c": 1e2, "d": "keep 1E5 text"}}'->'b' AS r""",
    """SELECT '{"b": [1.250, 0.10000000000000001]}'->'b' AS r""",
    """SELECT '{"b": [123456789012345678901234567890]}'->'b' AS r""",
    """SELECT '{"b": [9007199254740993, -9223372036854775808]}'->'b'"""
    """ AS r""",
    """SELECT '{"b": [1, "x", true, null]}'->'b' AS r""",
    """SELECT '{"b": {"k": [1e21, 3.14e0]}}'->'b' AS r""",
    """SELECT json_extract('{"a": [1e10]}', 'a') AS r""",
    """SELECT '{"u": "café \\"q\\" \\\\ x"}'->'u' AS r""",
]


@pytest.mark.parametrize("sql", JSON_CONTAINER_CASES)
def test_json_container_yyjson_normalization(spark, sql):
    """Extracted objects/arrays re-render their numeric leaves like
    yyjson too (sci notation, huge ints, non-shortest fractions) —
    via a heuristic-gated normalization UDF; strings inside stay
    untouched and plain containers keep the JVM-only path."""
    con = duckdb.connect()
    want = [r[0] for r in con.execute(sql).fetchall()]
    got = [r.r for r in spark.sql(translate(sql)).collect()]
    assert got == want, (sql, want, got)


MAD_GROUP_KEY_CASES = [
    # ordinal keys: resolved to the select item's expression — the
    # pre-round-8 restructure exported the literal ordinal as the join
    # key, silently computing the GLOBAL statistic for every group
    "SELECT p_brand, mad(p_retailprice) AS m FROM part GROUP BY 1 "
    "ORDER BY p_brand",
    "SELECT p_brand, entropy(p_type) AS e FROM part GROUP BY 1 "
    "ORDER BY p_brand",
    "SELECT p_brand, p_size, mad(p_retailprice) AS m FROM part "
    "GROUP BY 1, 2 ORDER BY p_brand, p_size",
    # expression keys
    "SELECT substr(p_brand, 1, 7) AS g, mad(p_retailprice) AS m "
    "FROM part GROUP BY substr(p_brand, 1, 7) ORDER BY g",
    "SELECT p_size % 5 AS grp, mad(p_retailprice) AS m FROM part "
    "GROUP BY p_size % 5 ORDER BY grp",
    "SELECT substr(p_brand, 1, 7) AS g, p_size % 3 AS s3, "
    "entropy(p_type) AS e FROM part GROUP BY 1, 2 ORDER BY g, s3",
    # alias key of an expression: schema-ambiguous, correct via fallback
    "SELECT upper(p_brand) AS ub, mad(p_retailprice) AS m FROM part "
    "GROUP BY ub ORDER BY ub",
]


@pytest.mark.parametrize("sql", MAD_GROUP_KEY_CASES)
def test_mad_entropy_ordinal_expression_group_keys(spark, sql):
    con = duckdb.connect()
    con.execute(
        "CREATE VIEW part AS "
        "FROM read_parquet('/root/testdata/sf0.001/part.parquet')"
    )
    spark.read.parquet(
        "/root/testdata/sf0.001/part.parquet"
    ).createOrReplaceTempView("part")

    def norm(v):
        return round(v, 6) if isinstance(v, float) else v

    want = sorted(
        str(tuple(norm(x) for x in r)) for r in con.execute(sql).fetchall()
    )
    got = sorted(
        str(tuple(norm(x) for x in r))
        for r in spark.sql(translate(sql)).collect()
    )
    assert got == want, (sql, want[:4], got[:4])


def test_mad_ordinal_expression_keys_two_phase_plan(spark):
    """Ordinal and expression group keys keep the pandas-free
    two-phase plan (they previously bailed or mis-joined)."""
    spark.read.parquet(
        "/root/testdata/sf0.001/part.parquet"
    ).createOrReplaceTempView("part")
    for sql in (
        "SELECT p_brand, mad(p_retailprice) AS m FROM part GROUP BY 1",
        "SELECT p_size % 5 AS grp, mad(p_retailprice) AS m FROM part "
        "GROUP BY p_size % 5",
    ):
        plan = (
            spark.sql(translate(sql))
            ._jdf.queryExecution()
            .executedPlan()
            .toString()
        )
        assert "AggregateInPandas" not in plan, sql
        assert "FlatMapGroupsInPandas" not in plan, sql


def test_mad_fallback_collect_list_template(spark):
    """Shapes the restructure can't lift (DISTINCT select) lower mad()
    to a pure built-in collect_list template — it must mix with other
    aggregates in one Aggregate (the grouped-agg pandas UDF cannot)
    and produce no pandas plan nodes."""
    con = duckdb.connect()
    con.execute(
        "CREATE VIEW part AS "
        "FROM read_parquet('/root/testdata/sf0.001/part.parquet')"
    )
    spark.read.parquet(
        "/root/testdata/sf0.001/part.parquet"
    ).createOrReplaceTempView("part")
    sql = (
        "SELECT DISTINCT p_brand, count(*) AS n, "
        "round(CAST(mad(p_retailprice) AS DOUBLE), 4) AS m "
        "FROM part GROUP BY p_brand ORDER BY p_brand"
    )

    def norm(v):
        return round(v, 5) if isinstance(v, float) else v

    want = sorted(
        str(tuple(norm(x) for x in r)) for r in con.execute(sql).fetchall()
    )
    df = spark.sql(translate(sql))
    got = sorted(str(tuple(norm(x) for x in r)) for r in df.collect())
    assert got == want
    plan = df._jdf.queryExecution().executedPlan().toString()
    assert "AggregateInPandas" not in plan
    assert "FlatMapGroupsInPandas" not in plan
    # odd/even/empty group sizes through the template path
    for sql2 in (
        "SELECT DISTINCT p_size % 4 AS g, "
        "round(CAST(mad(p_retailprice) AS DOUBLE), 4) AS m "
        "FROM part WHERE p_partkey <= 21 GROUP BY p_size % 4",
        "SELECT DISTINCT round(CAST(mad(p_retailprice) AS DOUBLE), 4) "
        "AS m FROM part WHERE p_partkey < 0",
    ):
        want2 = sorted(
            str(tuple(norm(x) for x in r))
            for r in con.execute(sql2).fetchall()
        )
        got2 = sorted(
            str(tuple(norm(x) for x in r))
            for r in spark.sql(translate(sql2)).collect()
        )
        assert got2 == want2, sql2


VARCHAR_CAST_CASES = [
    # DuckDB renders DOUBLE/FLOAT -> VARCHAR through fmtlib; Spark's
    # native cast uses Java toString ('1.0E20'). The typeof-dispatched
    # rewrite must be byte-exact for every input type.
    "CAST(1e20 AS VARCHAR)", "(1.5e-7)::VARCHAR", "(1e15)::TEXT",
    "CAST(1e16 AS varchar)", "(0.0001e0)::VARCHAR", "(1e-5)::text",
    "CAST((1.5e-7)::FLOAT AS VARCHAR)",
    "((3.4028235e38)::FLOAT)::VARCHAR",
    "CAST('abc' AS VARCHAR)", "CAST(123 AS VARCHAR)",
    "CAST(1.50 AS VARCHAR)", "CAST(DATE '2020-01-02' AS VARCHAR)",
    "CAST(TIMESTAMP '2020-01-02 03:04:05.1' AS VARCHAR)",
    "CAST(TRUE AS VARCHAR)", "CAST(NULL AS VARCHAR)",
    "concat(1e20)", "concat('x', 1.5e-7)", "concat(1e20, NULL, 'a')",
    "concat(DATE '2020-01-02', ' ', 1e7)",
    "CAST(-0.0e0 AS VARCHAR)", "CAST((0.1e0)::FLOAT AS VARCHAR)",
    "(-1.7976931348623157e308)::VARCHAR",
    "CAST('inf'::DOUBLE AS VARCHAR)", "CAST('-inf'::DOUBLE AS VARCHAR)",
    "CAST('nan'::DOUBLE AS VARCHAR)",
    "(123456789.123)::VARCHAR", "(1234567890123456.0e0)::VARCHAR",
    "upper(CAST(1e20 AS VARCHAR))", "length((1e20)::VARCHAR)",
    "CAST(1e20 AS VARCHAR) || 'z'",
    "(1e20)::VARCHAR::VARCHAR",
]


@pytest.mark.parametrize("expr", VARCHAR_CAST_CASES)
def test_varchar_cast_fmtlib_parity(spark, expr):
    con = duckdb.connect()
    want = con.sql(f"SELECT {expr}").fetchone()[0]
    got = spark.sql(translate(f"SELECT {expr} AS r")).collect()[0][0]
    assert got == want, f"{expr}: duck={want!r} spark={got!r}"


def test_varchar_cast_inside_values_stays_foldable(spark):
    # Spark inline tables reject non-foldable lambdas; literal casts
    # render statically (exact) and non-literal entries keep the plain
    # cast
    con = duckdb.connect()
    for sql in (
        "SELECT x FROM (VALUES (CAST(NULL AS VARCHAR)), ('a')) t(x)",
        "SELECT x FROM (VALUES ((1e20)::VARCHAR), ('b')) t(x)",
        "SELECT x FROM (VALUES ((123)::VARCHAR)) t(x)",
    ):
        want = sorted(str(r[0]) for r in con.sql(sql).fetchall())
        got = sorted(
            str(r[0]) for r in spark.sql(translate(sql)).collect()
        )
        assert got == want, sql


def test_varchar_cast_on_table_column(spark):
    spark.sql(
        "SELECT 1.5e20 AS d, CAST(2.5 AS DOUBLE) AS e"
    ).createOrReplaceTempView("vc_t")
    con = duckdb.connect()
    con.execute("CREATE TABLE vc_t AS SELECT 1.5e20 AS d, 2.5::DOUBLE AS e")
    sql = "SELECT d::VARCHAR AS a, CAST(e AS VARCHAR) AS b FROM vc_t"
    want = con.sql(sql).fetchone()
    got = tuple(spark.sql(translate(sql)).collect()[0])
    assert got == tuple(want)


DATE_INTERVAL_CASES = [
    # DuckDB types date +/- INTERVAL as TIMESTAMP for every unit;
    # Spark keeps DATE for year-month/day intervals
    "DATE '2020-01-31' + INTERVAL 1 MONTH",
    "DATE '2020-01-31' - INTERVAL 1 MONTH",
    "DATE '2020-01-31' + INTERVAL 1 DAY",
    "DATE '2020-01-31' + INTERVAL 2 HOUR",
    "DATE '2020-01-31' + INTERVAL '1 month'",
    "DATE '2020-01-31' + INTERVAL '90' MINUTE",
    "TIMESTAMP '2020-01-31 01:02:03' + INTERVAL 1 MONTH",
    "DATE '2020-01-31' + INTERVAL 1 DAY + INTERVAL 2 HOUR",
    "(DATE '2020-01-31' + INTERVAL 1 MONTH)::DATE",
    "INTERVAL 1 DAY + INTERVAL 2 HOUR",  # interval+interval: no wrap
    "date_trunc('month', DATE '2020-03-15') + INTERVAL 1 MONTH",
    "- INTERVAL 1 DAY + TIMESTAMP '2020-01-31 00:00:00'",
]


@pytest.mark.parametrize("expr", DATE_INTERVAL_CASES)
def test_date_interval_timestamp_typing(spark, expr):
    con = duckdb.connect()
    want = con.sql(f"SELECT {expr}").fetchone()[0]
    got = spark.sql(translate(f"SELECT {expr} AS r")).collect()[0][0]
    assert str(got) == str(want), f"{expr}: duck={want!r} spark={got!r}"


CEIL_FLOOR_CASES = [
    # DuckDB ceil/floor of int/bigint/double -> DOUBLE (5.0 not 5);
    # Spark's native BIGINT result diverges in rendering contexts and
    # overflows past 2^63. Decimal literals keep native DECIMAL(p,0).
    "ceil(5)", "floor(5)", "ceil(1.5)", "floor(-1.5)", "ceil(2.5e0)",
    "floor(2.5e0)", "ceil(-0.5e0)", "floor(0.5e0)", "ceil(1e300)",
    "ceil('inf'::DOUBLE)", "ceil('nan'::DOUBLE)", "ceil(1.5::FLOAT)",
    "format('{:6}|', ceil(17000.5e0))", "(ceil(5))::VARCHAR",
    "ceil(9007199254740993e0)", "floor(-1e300)", "ceiling(7)",
    "CAST(floor(-0.5e0) AS VARCHAR)", "ceil(NULL)",
    "ceil(12345.6e0) + 1", "ceil(3.2e0) = 4",
    "ceil(ceil(ceil(2.2e0)))",
]


@pytest.mark.parametrize("expr", CEIL_FLOOR_CASES)
def test_ceil_floor_double_typing(spark, expr):
    con = duckdb.connect()
    want = con.sql(f"SELECT {expr}").fetchone()[0]
    got = spark.sql(translate(f"SELECT {expr} AS r")).collect()[0][0]
    assert str(got) == str(want), f"{expr}: duck={want!r} spark={got!r}"


def test_nested_render_templates_stay_small(spark):
    # operand is lambda-bound once per template, so nesting grows the
    # translated SQL linearly; the repeated-operand form OOM'd codegen
    # under fuzz-generated nesting
    inner = "l_extendedprice"
    for _ in range(4):
        inner = f"concat('', ({inner})::VARCHAR)"
    sql = translate(f"SELECT {inner} AS r FROM lineitem")
    assert len(sql) < 120_000


FORMAT_CASES = [
    # fmtlib semantics: non-numeric args (dates included) stringify and
    # left-align under {:N}; any NULL argument nulls the whole result
    "format('{}', DATE '2020-01-02')",
    "format('{:12}|', DATE '2020-01-02')",
    "format('{}', TIMESTAMP '2020-01-02 03:04:05')",
    "format('{:6}|', ceil(17000.5e0))",
    "format('{}', NULL)", "format('{} {}', 1, NULL)",
    "format('{:5}|', NULL::INT)", "format('{:5}|', 42)",
    "format('{:5}|', -1.5e0)", "format('{:3}|', TRUE)",
]


@pytest.mark.parametrize("expr", FORMAT_CASES)
def test_format_dates_nulls_alignment(spark, expr):
    con = duckdb.connect()
    want = con.sql(f"SELECT {expr}").fetchone()[0]
    got = spark.sql(translate(f"SELECT {expr} AS r")).collect()[0][0]
    assert (got is None) == (want is None) and str(got) == str(want), (
        f"{expr}: duck={want!r} spark={got!r}"
    )


INVALID_PATTERN_CASES = [
    # RE2-invalid literal patterns: DuckDB's regexp_replace silently
    # returns the subject unchanged (any flags); valid patterns are
    # untouched by the guard
    "regexp_replace('abc', '[', 'x')",
    "regexp_replace('abc', '(a', 'x', 'g')",
    "regexp_replace('abc', 'a{2,1}', 'x', 'i')",
    "regexp_replace('abc', 'b', 'X')",
    "regexp_replace(NULL, '[', 'x')",
]


@pytest.mark.parametrize("expr", INVALID_PATTERN_CASES)
def test_regexp_replace_invalid_pattern_noop(spark, expr):
    con = duckdb.connect()
    want = con.sql(f"SELECT {expr}").fetchone()[0]
    got = spark.sql(translate(f"SELECT {expr} AS r")).collect()[0][0]
    assert (got is None) == (want is None) and str(got) == str(want), (
        f"{expr}: duck={want!r} spark={got!r}"
    )


def test_shortest_digits_vs_jdk_overprint(spark):
    # JDK 17's Double.toString emits 1-2 extra digits for ~0.3% of
    # E-range doubles (JDK-4511638) and subnormals; the renderers must
    # re-derive shortest digits via the %.Ne round-trip search.
    con = duckdb.connect()
    import random
    import struct

    cases = ["10016.2e0 * 1e14", "4.9e-324", "1e21", "2.5e-7"]
    for c in cases:
        want = con.sql(f"SELECT CAST(({c}) AS VARCHAR)").fetchone()[0]
        got = spark.sql(
            translate(f"SELECT (({c}))::VARCHAR AS r")
        ).collect()[0][0]
        assert got == want, (c, want, got)
    random.seed(11)
    vals = []
    while len(vals) < 80:
        v = struct.unpack("<d", struct.pack("<Q", random.getrandbits(64)))[0]
        if v == v and abs(v) != float("inf"):
            vals.append(v)
    rows = [(i, v) for i, v in enumerate(vals)]
    spark.createDataFrame(rows, ["i", "d"]).createOrReplaceTempView("jdk_rv")
    con.execute("CREATE TABLE jdk_rv(i BIGINT, d DOUBLE)")
    con.executemany("INSERT INTO jdk_rv VALUES (?, ?)", rows)
    want = dict(con.sql("SELECT i, CAST(d AS VARCHAR) FROM jdk_rv").fetchall())
    got = dict(
        spark.sql(translate("SELECT i, d::VARCHAR AS v FROM jdk_rv")).collect()
    )
    assert want == got


PIPE_CONCAT_CASES = [
    # || with a string literal on one side: DuckDB coerces the other
    # operand through its VARCHAR cast (fmt rendering for doubles)
    "1e20 || 'a'", "'a' || 1e20", "'x' || 1.5", "'x' || 5",
    "'a' || 1e20 || 'b'", "1e20 || 'a' || 1e-12",
    "'d:' || DATE '2020-01-02'", "DATE '2020-01-02' || ':d'",
    "'n:' || NULL", "NULL || 'a'", "'p' || (1.5e-7)",
    "'q' || upper('ab')", "[1, 2] || [3]", "'s' || TRUE",
    # bare signed exponents must tokenize as one number
    "1e-5 + 1e+3", "(1e-12)::VARCHAR", "ceil(1e-3)",
]


@pytest.mark.parametrize("expr", PIPE_CONCAT_CASES)
def test_pipe_concat_literal_coercion(spark, expr):
    con = duckdb.connect()
    want = con.sql(f"SELECT {expr}").fetchone()[0]
    got = spark.sql(translate(f"SELECT {expr} AS r")).collect()[0][0]
    assert (got is None) == (want is None) and str(got) == str(want), (
        f"{expr}: duck={want!r} spark={got!r}"
    )


ARITH_PIPE_CASES = [
    # || binds looser than arithmetic: the whole chain is the operand
    "'a' || l_extendedprice * 1e14",
    "l_extendedprice * 1e14 || 'z'",
    "'s: ' || l_extendedprice + 1e14",
    "'m' || l_quantity % 7",
    "l_quantity + l_tax * 1e14 || '!'",
]


@pytest.mark.parametrize("expr", ARITH_PIPE_CASES)
def test_pipe_concat_arithmetic_chain(spark, expr):
    con = duckdb.connect()
    sf = "/root/testdata/sf0.001"
    spark.read.parquet(f"{sf}/lineitem.parquet").createOrReplaceTempView(
        "lineitem"
    )
    con.execute(
        f"CREATE VIEW lineitem AS FROM read_parquet('{sf}/lineitem.parquet')"
    )
    q = (
        f"SELECT {expr} AS r FROM lineitem "
        "ORDER BY l_orderkey, l_linenumber LIMIT 8"
    )
    want = [str(r[0]) for r in con.sql(q).fetchall()]
    got = [str(r[0]) for r in spark.sql(translate(q)).collect()]
    assert got == want, expr


TRUNC_LITERAL_CASES = [
    "trunc(-4.7)", "trunc(4.75)", "trunc(5)", "trunc(+10.5)",
    "trunc(0.5)", "trunc(-0.5)", "trunc((-4.7))",
    "CAST(trunc(-4.7) AS VARCHAR)", "CAST(trunc(5) AS VARCHAR)",
    "CAST(trunc(1e3) AS VARCHAR)",
]


@pytest.mark.parametrize("expr", TRUNC_LITERAL_CASES)
def test_trunc_literal_type_preserving(spark, expr):
    """DuckDB trunc is type-preserving: INT literals are identity,
    DECIMAL literals truncate to DECIMAL(p,0) — rendered without the
    double path's '.0'."""
    con = duckdb.connect()
    want = con.sql(f"SELECT {expr}").fetchone()[0]
    got = spark.sql(translate(f"SELECT {expr} AS r")).collect()[0][0]
    assert str(got) == str(want), f"{expr}: duck={want!r} spark={got!r}"


PY_UDF_ARG_RENDER_CASES = [
    # fuzz seed 20260815: lambda-bound render templates inside a
    # Python-UDF argument defeat ExtractPythonUDFs (the UDF stays in
    # the projection and fails codegen AND interpretation) — these
    # route through the chained __duck_render/__duck_render_yy twins
    "substring_grapheme(((round(l_orderkey, 3))::VARCHAR || 'R F'), -5, 5)",
    "json_structure(('{\"a\": ' || l_suppkey || ', \"b\": [' "
    "|| l_orderkey || ', ' || l_tax || ']}'))",
    "length_grapheme((l_tax * 1e20)::VARCHAR)",
    "length_grapheme((l_extendedprice + l_tax)::VARCHAR || 'x')",
    "substring_grapheme(('{\"x\": 2.5e-7}' -> 'x') || '!', 1, 12)",
    "json_structure(('{\"v\": ' || (l_tax/7) || '}'))",
    "length_grapheme(format('{}', l_tax))",
    "length_grapheme(format('{:8}|', l_extendedprice))",
    "substring_grapheme(format('{} {}', l_tax, l_orderkey), 1, 9)",
    "length_grapheme(format('{:10}', l_shipdate))",
    "left_grapheme(format('{:.2f}', l_extendedprice), 6)",
    "length_grapheme(format('{:12}', l_tax * 1e18))",
    "json_structure(('{\"v\": ' || format('{}', l_tax) || '}'))",
    "length_grapheme(ceil(l_extendedprice)::VARCHAR)",
    "length_grapheme(trunc(l_extendedprice + l_tax)::VARCHAR)",
]


@pytest.mark.parametrize("expr", PY_UDF_ARG_RENDER_CASES)
def test_render_inside_python_udf_args(spark, expr):
    con = duckdb.connect()
    sf = "/root/testdata/sf0.001"
    spark.read.parquet(f"{sf}/lineitem.parquet").createOrReplaceTempView(
        "lineitem"
    )
    con.execute(
        f"CREATE VIEW lineitem AS FROM read_parquet('{sf}/lineitem.parquet')"
    )
    q = (
        f"SELECT {expr} AS r FROM lineitem "
        "ORDER BY l_orderkey, l_linenumber LIMIT 5"
    )
    want = [str(r[0]) for r in con.sql(q).fetchall()]
    got = [str(r[0]) for r in spark.sql(translate(q)).collect()]
    assert got == want, expr


def test_py_udf_name_set_in_sync():
    """dialect._PY_UDF_FNS must cover every Python UDF text_udfs
    registers (render templates inside any of their argument lists
    would otherwise crash extraction)."""
    import re

    from component_duckdb_transformation_spark.functions import dialect

    src = open(
        "component_duckdb_transformation_spark/functions/text_udfs.py"
    ).read()
    registered = set(re.findall(r'udf\.register\("([^"]+)"', src))
    # the render twins themselves are lambda-free by construction
    registered -= {"__duck_render", "__duck_render_yy"}
    missing = registered - dialect._PY_UDF_FNS
    assert not missing, f"add to dialect._PY_UDF_FNS: {sorted(missing)}"


def test_duck_render_matches_sql_core(spark):
    """The Python render twin must agree with the SQL core byte-for-
    byte (spot sample; the full 150k-bit-pattern sweep ran offline)."""
    import struct

    from component_duckdb_transformation_spark.functions.dialect import (
        _varchar_cast_sql,
    )
    from component_duckdb_transformation_spark.functions.text_udfs import (
        duck_render_varchar,
    )

    vals = [
        0.0, -0.0, 1e20, -1e20, 2.5e-7, 4.9e-324, 1e7, 9999999.0,
        1e15, 1e16, -1e-4, 1.25e-5, 1.7976931348623157e308,
        -1.5036634412407052e15, 8.7810012029644365e17,  # HALF-digit
        9.99e2, 123456.789,
    ]
    df = spark.createDataFrame([(v,) for v in vals], "c double")
    df.createOrReplaceTempView("__t_render")
    rows = spark.sql(
        "SELECT CAST(c AS STRING) AS jr, "
        f"{_varchar_cast_sql('c')} AS sqlr FROM __t_render"
    ).collect()
    for r in rows:
        assert duck_render_varchar(r.jr, "double") == r.sqlr, r.jr
    assert duck_render_varchar("NaN", "double") == "nan"
    assert duck_render_varchar("Infinity", "double") == "inf"
    assert duck_render_varchar("-Infinity", "double") == "-inf"
    assert duck_render_varchar("abc", "string") == "abc"


STRING_BRACKET_CASES = [
    # visibly-string bracket bases take DuckDB STRING indexing/slicing
    # (the type-blind default was the list path — loud analysis error)
    "(l_returnflag || 'wxyz')[2:4]",
    "substring_grapheme((l_returnflag || 'wxyz')[-4:-1], 1, 3)",
    "(upper(l_linestatus))[1:2]",
    "upper(l_returnflag || 'abc')[2]",
    "(l_returnflag || 'wxyz')[3]",
    "('x' || l_linestatus)[1:2]",
    "(l_returnflag || 'wx')[-1]",
    "lower('ABCDEF')[2:3]",
    "(concat(l_returnflag, l_linestatus))[2]",
    "(('abc'))[2]",
    # list bases must stay on the list path
    "([1,2,3,4])[2:3][1]",
    "(string_split(l_linestatus, ' '))[1]",
]


@pytest.mark.parametrize("expr", STRING_BRACKET_CASES)
def test_visibly_string_bracket_bases(spark, expr):
    con = duckdb.connect()
    sf = "/root/testdata/sf0.001"
    spark.read.parquet(f"{sf}/lineitem.parquet").createOrReplaceTempView(
        "lineitem"
    )
    con.execute(
        f"CREATE VIEW lineitem AS FROM read_parquet('{sf}/lineitem.parquet')"
    )
    q = (
        f"SELECT {expr} AS r FROM lineitem "
        "ORDER BY l_orderkey, l_linenumber LIMIT 4"
    )
    want = [str(r[0]) for r in con.sql(q).fetchall()]
    got = [str(r[0]) for r in spark.sql(translate(q)).collect()]
    assert got == want, expr


# ---------------------------------------------------------------------------
# schema-aware dispatch: the executor publishes dependency-table column
# types (column_type_hints), so len()/brackets on PLAIN column refs
# dispatch by type the way DuckDB's binder does (reference surface:
# raw DuckDB SQL, src/query_orchestrator.py:351)

HINTED_DISPATCH_CASES = [
    # len() on a stored LIST column -> size()
    "SELECT vec_id, len(embedding) AS n FROM embeddings ORDER BY vec_id LIMIT 5",
    "SELECT len(embedding) AS n, count(*) AS c FROM embeddings GROUP BY 1 ORDER BY 1",
    "SELECT count(*) AS c FROM embeddings WHERE length(embedding) > 4",
    # qualified reference resolves through its last segment
    "SELECT e.vec_id, len(e.embedding) AS n FROM embeddings e ORDER BY 1 LIMIT 3",
    # brackets on stored STRING columns -> 1-based string indexing
    "SELECT doc_id, text[3] AS c3, text[2:6] AS sl, lang[1] AS l1 "
    "FROM documents ORDER BY doc_id LIMIT 5",
    "SELECT doc_id, source[-1] AS tailc, source[-3:-1] AS tail3 "
    "FROM documents ORDER BY doc_id LIMIT 5",
    "SELECT doc_id, CASE WHEN lang[1] = 'e' THEN text[1:3] ELSE lang[1:2] END "
    "AS x FROM documents ORDER BY doc_id LIMIT 6",
    # lambda variables shadowing a hinted column name must NOT consume
    # the hint (text is a STRING column; the lambda var is a string
    # element here, so both paths agree — the guard is exercised by the
    # hint NOT turning len(text) into size(text) inside the lambda)
    "SELECT doc_id, len(text) AS n, "
    "list_transform(string_split(text,' '), text -> len(text))[1] AS w1 "
    "FROM documents ORDER BY doc_id LIMIT 4",
    # list element / slice on the stored LIST column (unchanged default
    # path, exercised under hints; CAST keeps round() typing aligned —
    # DuckDB round(FLOAT) stays FLOAT)
    "SELECT vec_id, round(CAST(embedding[3] AS DOUBLE), 4) AS e3, "
    "len(embedding[2:5]) AS m FROM embeddings ORDER BY vec_id LIMIT 5",
]


@pytest.fixture(scope="module")
def hint_exec(spark):
    import tempfile

    from component_duckdb_transformation_spark.plans.executor import (
        SparkStatementExecutor,
        TableStore,
    )

    sf = "/root/testdata/sf0.001"
    for t in ("documents", "embeddings"):
        spark.read.parquet(f"{sf}/{t}.parquet").createOrReplaceTempView(t)
    ex = SparkStatementExecutor(spark, TableStore(spark, tempfile.mkdtemp()))
    con = duckdb.connect()
    for t in ("documents", "embeddings"):
        con.execute(
            f"CREATE VIEW {t} AS FROM read_parquet('{sf}/{t}.parquet')"
        )
    return ex, con


def _hint_diff(spark, hint_exec, q):
    from component_duckdb_transformation_spark.plans.sql_parser import (
        parse_statement,
    )

    ex, con = hint_exec
    ex._execute_statement(
        parse_statement(f"CREATE OR REPLACE TABLE __hint_t AS {q}")
    )
    got = [
        tuple(str(v) for v in r) for r in spark.table("__hint_t").collect()
    ]
    want = [tuple(str(v) for v in r) for r in con.sql(q).fetchall()]
    assert got == want, q


@pytest.mark.parametrize("q", HINTED_DISPATCH_CASES)
def test_schema_hinted_dispatch(spark, hint_exec, q):
    _hint_diff(spark, hint_exec, q)


def test_schema_hinted_map_brackets(spark, hint_exec):
    """DuckDB 1.0 map brackets return a LIST ([value] on hit including
    NULL values, [] on miss); a MAP hint reproduces that exactly."""
    from component_duckdb_transformation_spark.plans.sql_parser import (
        parse_statement,
    )

    ex, con = hint_exec
    mk = (
        "CREATE OR REPLACE TABLE __hint_mt AS SELECT doc_id, "
        "map(['a','b'],[n_chars, NULL]) AS m FROM documents "
        "WHERE doc_id < 50"
    )
    ex._execute_statement(parse_statement(mk))
    con.execute(mk.replace("__hint_mt", "__hint_mt_d"))
    for q in (
        "SELECT doc_id, m['a'] AS hit, m['b'] AS nullhit, m['z'] AS miss "
        "FROM {T} ORDER BY doc_id LIMIT 5",
        "SELECT doc_id, cardinality(m) AS c FROM {T} ORDER BY doc_id LIMIT 5",
        "SELECT doc_id, len(map_keys(m)) AS nk FROM {T} ORDER BY doc_id "
        "LIMIT 5",
    ):
        ex._execute_statement(
            parse_statement(
                "CREATE OR REPLACE TABLE __hint_t AS "
                + q.format(T="__hint_mt")
            )
        )
        got = [
            tuple(str(v) for v in r)
            for r in spark.table("__hint_t").collect()
        ]
        want = [
            tuple(str(v) for v in r)
            for r in con.sql(q.format(T="__hint_mt_d")).fetchall()
        ]
        assert got == want, q


def test_hint_dropped_on_alias_rebinding(spark, hint_exec):
    """A name re-bound by AS anywhere in the statement loses its hint:
    the subquery re-binds `text` to a LIST, so the STRING hint from
    documents must not fire (the unhinted default keeps today's loud
    analysis error, same as before hints existed)."""
    from component_duckdb_transformation_spark.plans.sql_parser import (
        parse_statement,
    )

    ex, _ = hint_exec
    with pytest.raises(Exception, match="len|LEN|string|STRING"):
        ex._execute_statement(
            parse_statement(
                "CREATE OR REPLACE TABLE __hint_t AS "
                "SELECT len(text) AS n FROM (SELECT string_split(text, ' ') "
                "AS text FROM documents LIMIT 3)"
            )
        )


HINTED_PIPE_CASES = [
    # DOUBLE column (or arithmetic over one) || VARCHAR column, no
    # literal anywhere: the schema hint routes the numeric side through
    # DuckDB's fmt rendering (Spark's implicit cast is Java-style)
    "SELECT event_id, value || event_type AS s FROM events "
    "ORDER BY event_id LIMIT 5",
    "SELECT event_id, event_type || value AS s FROM events "
    "ORDER BY event_id LIMIT 5",
    "SELECT event_id, value || value AS s FROM events "
    "ORDER BY event_id LIMIT 5",
    "SELECT event_id, event_type || value || event_type AS s FROM events "
    "ORDER BY event_id LIMIT 5",
    "SELECT event_id, (value * 1e18) || event_type AS s FROM events "
    "ORDER BY event_id LIMIT 5",
    "SELECT event_id, value * 2 || event_type AS s FROM events "
    "ORDER BY event_id LIMIT 5",
    "SELECT event_id, event_type || (value + 0.5) AS s FROM events "
    "ORDER BY event_id LIMIT 5",
    # integer arithmetic renders identically in both engines: native
    "SELECT l_orderkey, l_linenumber * 2 || l_returnflag AS s "
    "FROM lineitem ORDER BY l_orderkey, l_linenumber LIMIT 5",
    # string || string untouched; list || list stays list concat
    "SELECT doc_id, lang || source AS s FROM documents "
    "ORDER BY doc_id LIMIT 3",
    "SELECT vec_id, len(embedding || embedding) AS n FROM embeddings "
    "ORDER BY vec_id LIMIT 3",
    "SELECT doc_id, len(string_split(text,' ') || string_split(lang,' ')) "
    "AS n FROM documents ORDER BY doc_id LIMIT 5",
]


@pytest.fixture(scope="module")
def hint_exec2(spark):
    import tempfile

    from component_duckdb_transformation_spark.plans.executor import (
        SparkStatementExecutor,
        TableStore,
    )

    sf = "/root/testdata/sf0.001"
    tables = ("documents", "embeddings", "events", "lineitem")
    for t in tables:
        spark.read.parquet(f"{sf}/{t}.parquet").createOrReplaceTempView(t)
    ex = SparkStatementExecutor(spark, TableStore(spark, tempfile.mkdtemp()))
    con = duckdb.connect()
    for t in tables:
        con.execute(
            f"CREATE VIEW {t} AS FROM read_parquet('{sf}/{t}.parquet')"
        )
    return ex, con


@pytest.mark.parametrize("q", HINTED_PIPE_CASES)
def test_schema_hinted_pipe_concat(spark, hint_exec2, q):
    from component_duckdb_transformation_spark.plans.sql_parser import (
        parse_statement,
    )

    ex, con = hint_exec2
    ex._execute_statement(
        parse_statement(f"CREATE OR REPLACE TABLE __hint_p AS {q}")
    )
    got = [
        tuple(str(v) for v in r) for r in spark.table("__hint_p").collect()
    ]
    want = [tuple(str(v) for v in r) for r in con.sql(q).fetchall()]
    assert got == want, q


HINTED_TEMPORAL_CASES = [
    # mad over stored TIMESTAMP/DATE columns (hint routes them through
    # epoch micros; DuckDB's temporal mad works in INTEGER micros and
    # rounds each median interpolation — floor(x + 0.5) — where the
    # numeric overload keeps the exact double)
    "SELECT mad(ts) AS m FROM events",
    "SELECT event_type, mad(ts) AS m FROM events GROUP BY event_type "
    "ORDER BY event_type",
    "SELECT mad(o_orderdate) AS m FROM orders",
    "SELECT o_orderpriority, mad(o_orderdate) AS m FROM orders "
    "GROUP BY 1 ORDER BY 1",
    # the DISTINCT shape takes the collect_list fallback template:
    # same integer-domain rounding
    "SELECT DISTINCT event_type, mad(ts) AS m FROM events "
    "GROUP BY event_type ORDER BY event_type",
    # static temporal expression (pre-hint path) and numeric mad
    "SELECT mad(CAST(ts AS TIMESTAMP)) AS m FROM events",
    "SELECT event_type, mad(value) AS m FROM events GROUP BY event_type "
    "ORDER BY event_type",
    # isfinite/isinf over stored temporal columns
    "SELECT count(*) AS c FROM events WHERE isfinite(ts)",
    "SELECT isinf(o_orderdate) AS i, count(*) AS c FROM orders GROUP BY 1",
    # DATE column + interval literal keeps DuckDB's TIMESTAMP typing
    "SELECT o_orderkey, o_orderdate + INTERVAL 2 HOUR AS t FROM orders "
    "ORDER BY o_orderkey LIMIT 4",
]


@pytest.fixture(scope="module")
def hint_exec3(spark):
    import tempfile

    from component_duckdb_transformation_spark.plans.executor import (
        SparkStatementExecutor,
        TableStore,
    )

    sf = "/root/testdata/sf0.001"
    for t in ("events", "orders"):
        spark.read.parquet(f"{sf}/{t}.parquet").createOrReplaceTempView(t)
    ex = SparkStatementExecutor(spark, TableStore(spark, tempfile.mkdtemp()))
    con = duckdb.connect()
    for t in ("events", "orders"):
        con.execute(
            f"CREATE VIEW {t} AS FROM read_parquet('{sf}/{t}.parquet')"
        )
    return ex, con


@pytest.mark.parametrize("q", HINTED_TEMPORAL_CASES)
def test_schema_hinted_temporal_dispatch(spark, hint_exec3, q):
    from component_duckdb_transformation_spark.plans.sql_parser import (
        parse_statement,
    )

    ex, con = hint_exec3
    ex._execute_statement(
        parse_statement(f"CREATE OR REPLACE TABLE __hint_tt AS {q}")
    )
    got = [
        tuple(str(v) for v in r) for r in spark.table("__hint_tt").collect()
    ]
    want = [tuple(str(v) for v in r) for r in con.sql(q).fetchall()]
    assert got == want, q


def test_temporal_mad_median_rounding_micro():
    """DuckDB's temporal median interpolation rounds to integer micros
    (floor(avg + 0.5)); tiny literal sets pin the rule the shim
    replicates."""
    import duckdb as _d

    con = _d.connect()
    assert con.sql(
        "SELECT mad(t) FROM (VALUES "
        "('2020-01-01 00:00:00.000000'::TIMESTAMP), "
        "('2020-01-01 00:00:00.000001'::TIMESTAMP)) v(t)"
    ).fetchall()[0][0].microseconds == 1


def test_schema_hinted_decimal_ceil(spark, hint_exec2):
    """A DECIMAL-hinted column keeps Spark's native DECIMAL(p,0)
    ceil/floor (matches DuckDB exactly — no '.0' from the DOUBLE
    dispatch)."""
    from component_duckdb_transformation_spark.plans.sql_parser import (
        parse_statement,
    )

    ex, con = hint_exec2
    mk = (
        "CREATE OR REPLACE TABLE __hint_dec AS SELECT l_orderkey, "
        "l_linenumber, CAST(l_extendedprice AS DECIMAL(12,2)) AS p "
        "FROM lineitem"
    )
    ex._execute_statement(parse_statement(mk))
    con.execute(mk.replace("__hint_dec", "__hint_dec_d"))
    q = (
        "SELECT l_orderkey, ceil(p)::VARCHAR AS c, floor(p)::VARCHAR AS f, "
        "format('{{}}', ceil(p)) AS s FROM {T} "
        "ORDER BY l_orderkey, l_linenumber LIMIT 6"
    )
    ex._execute_statement(
        parse_statement(
            "CREATE OR REPLACE TABLE __hint_t AS " + q.format(T="__hint_dec")
        )
    )
    got = [
        tuple(str(v) for v in r) for r in spark.table("__hint_t").collect()
    ]
    want = [
        tuple(str(v) for v in r)
        for r in con.sql(q.format(T="__hint_dec_d")).fetchall()
    ]
    assert got == want


DOUBLE_CALL_PIPE_CASES = [
    # DOUBLE-valued calls in || with no literal anywhere: lexical
    # detection, no schema hint required
    "SELECT event_id, sqrt(value * 1e20) || event_type AS s FROM events "
    "ORDER BY event_id LIMIT 5",
    "SELECT event_id, event_type || exp(value / 3.0) AS s FROM events "
    "ORDER BY event_id LIMIT 5",
    # parenthesized plain columns resolve their hints too
    "SELECT doc_id, (text)[3] AS c3, len((text)) AS n FROM documents "
    "ORDER BY doc_id LIMIT 4",
    "SELECT event_id, (value) || event_type AS s FROM events "
    "ORDER BY event_id LIMIT 4",
]


@pytest.mark.parametrize("q", DOUBLE_CALL_PIPE_CASES)
def test_double_call_pipe_and_paren_hints(spark, hint_exec2, q):
    from component_duckdb_transformation_spark.plans.sql_parser import (
        parse_statement,
    )

    ex, con = hint_exec2
    ex._execute_statement(
        parse_statement(f"CREATE OR REPLACE TABLE __hint_p2 AS {q}")
    )
    got = [
        tuple(str(v) for v in r) for r in spark.table("__hint_p2").collect()
    ]
    want = [tuple(str(v) for v in r) for r in con.sql(q).fetchall()]
    assert got == want, q


def test_schema_hinted_struct_insert(spark, hint_exec2):
    """struct_insert on a DYNAMIC struct column works when the base
    column carries a STRUCT schema hint (field names spliced from the
    published schema); compares field-extracted values (raw struct
    reprs differ between drivers, not engines)."""
    from component_duckdb_transformation_spark.plans.sql_parser import (
        parse_statement,
    )

    ex, con = hint_exec2
    mk = (
        "CREATE OR REPLACE TABLE __hint_st AS SELECT doc_id, "
        "struct_pack(a := n_chars, b := lang) AS s FROM documents "
        "WHERE doc_id < 30"
    )
    ex._execute_statement(parse_statement(mk))
    con.execute(mk.replace("__hint_st", "__hint_st_d"))
    q = (
        "SELECT doc_id, (struct_insert(s, c := doc_id * 2)).a AS a, "
        "(struct_insert(s, c := doc_id * 2)).c AS c "
        "FROM {T} ORDER BY doc_id LIMIT 6"
    )
    ex._execute_statement(
        parse_statement(
            "CREATE OR REPLACE TABLE __hint_t AS " + q.format(T="__hint_st")
        )
    )
    got = [
        tuple(str(v) for v in r) for r in spark.table("__hint_t").collect()
    ]
    want = [
        tuple(str(v) for v in r)
        for r in con.sql(q.format(T="__hint_st_d")).fetchall()
    ]
    assert got == want


def test_declared_time_column_wrap(spark):
    """DDL-declared TIME columns: stored as epoch-day timestamps, the
    executor publishes the 'time' pseudo-hint, and additive interval
    arithmetic through the COLUMN wraps modulo 24 h exactly like
    DuckDB TIME (the pre-hint boundary landed on the next epoch day).
    Comparison via extract(): TIME rendering differs by the documented
    epoch-day representation."""
    import tempfile

    from component_duckdb_transformation_spark.plans.executor import (
        SparkStatementExecutor,
        TableStore,
    )
    from component_duckdb_transformation_spark.plans.sql_parser import (
        parse_statement,
    )

    ex = SparkStatementExecutor(spark, TableStore(spark, tempfile.mkdtemp()))
    con = duckdb.connect()
    for s in (
        "CREATE TABLE shifts (sid INT, start_t TIME, dur_h INT)",
        "INSERT INTO shifts VALUES (1, TIME '23:00:00', 2), "
        "(2, TIME '08:30:00', 8), (3, make_time(22, 15, 30.5), 4)",
    ):
        ex._execute_statement(parse_statement(s))
        con.execute(s)
    for q in (
        "SELECT sid, extract(hour FROM start_t + INTERVAL 2 HOUR) AS h, "
        "extract(minute FROM start_t + INTERVAL 2 HOUR) AS m "
        "FROM shifts ORDER BY sid",
        "SELECT sid, extract(hour FROM start_t + INTERVAL 90 MINUTE "
        "- INTERVAL 5 SECOND) AS h, extract(second FROM start_t "
        "+ INTERVAL 90 MINUTE - INTERVAL 5 SECOND) AS s "
        "FROM shifts ORDER BY sid",
        "SELECT sid FROM shifts "
        "WHERE start_t + INTERVAL 3 HOUR < TIME '09:00:00' ORDER BY sid",
    ):
        ex._execute_statement(
            parse_statement(f"CREATE OR REPLACE TABLE __t_time AS {q}")
        )
        got = [
            tuple(str(v) for v in r)
            for r in spark.table("__t_time").collect()
        ]
        want = [tuple(str(v) for v in r) for r in con.sql(q).fetchall()]
        assert got == want, q


TIME_CAST_CASES = [
    # varchar -> TIME and timestamp -> TIME casts (epoch-day dispatch;
    # extracts compare engine-portably since rendering differs by the
    # documented epoch-day representation)
    "SELECT extract(hour FROM '23:10:05'::TIME) AS h, "
    "extract(minute FROM CAST('07:08:09.25' AS TIME)) AS m",
    "SELECT event_id, extract(hour FROM ts::TIME) AS h, "
    "extract(second FROM CAST(ts AS TIME)) AS s FROM events "
    "ORDER BY event_id LIMIT 5",
    # ::TIME primaries participate in the 24 h wrap
    "SELECT extract(hour FROM '23:30:00'::TIME + INTERVAL 2 HOUR) AS h",
    "SELECT extract(hour FROM CAST('22:00:00' AS TIME) "
    "+ INTERVAL 5 HOUR) AS h",
    "SELECT count(*) AS c FROM events WHERE ts::TIME > TIME '12:00:00'",
]


@pytest.mark.parametrize("q", TIME_CAST_CASES)
def test_time_casts(spark, hint_exec2, q):
    from component_duckdb_transformation_spark.plans.sql_parser import (
        parse_statement,
    )

    ex, con = hint_exec2
    sf = "/root/testdata/sf0.001"
    spark.read.parquet(f"{sf}/events.parquet").createOrReplaceTempView(
        "events"
    )
    try:
        con.execute(
            f"CREATE VIEW events AS FROM read_parquet('{sf}/events.parquet')"
        )
    except duckdb.CatalogException:
        pass
    ex._execute_statement(
        parse_statement(f"CREATE OR REPLACE TABLE __t_tc AS {q}")
    )
    got = [
        tuple(str(v) for v in r) for r in spark.table("__t_tc").collect()
    ]
    want = [tuple(str(v) for v in r) for r in con.sql(q).fetchall()]
    assert got == want, q


def test_hints_through_views_and_ctes(spark, hint_exec2):
    """Hints resolve for VIEW dependencies (the live session knows the
    view's schema) and survive into CTE scopes that pass a column
    through by name."""
    from component_duckdb_transformation_spark.plans.sql_parser import (
        parse_statement,
    )

    ex, con = hint_exec2
    mk = (
        "CREATE OR REPLACE VIEW __hint_v AS SELECT doc_id, "
        "string_split(text, ' ') AS words, lang FROM documents "
        "WHERE doc_id < 40"
    )
    ex._execute_statement(parse_statement(mk))
    con.execute(mk.replace("__hint_v", "__hint_v_d"))
    q = (
        "WITH c AS (SELECT doc_id, words, lang FROM {T}) "
        "SELECT doc_id, len(words) AS n, lang[1] AS l1 FROM c "
        "ORDER BY doc_id LIMIT 6"
    )
    ex._execute_statement(
        parse_statement(
            "CREATE OR REPLACE TABLE __hint_t AS " + q.format(T="__hint_v")
        )
    )
    got = [
        tuple(str(v) for v in r) for r in spark.table("__hint_t").collect()
    ]
    want = [
        tuple(str(v) for v in r)
        for r in con.sql(q.format(T="__hint_v_d")).fetchall()
    ]
    assert got == want


def test_struct_field_hint_resolution(spark, hint_exec2):
    """A dotted ref whose first segment is a STRUCT-hinted column
    resolves through the struct's FIELD types: brackets on a string
    field, len() on a list field, || on a double field."""
    from component_duckdb_transformation_spark.plans.sql_parser import (
        parse_statement,
    )

    ex, con = hint_exec2
    mk = (
        "CREATE OR REPLACE TABLE __hint_sf AS SELECT doc_id, "
        "struct_pack(nm := lang, ws := string_split(text,' '), "
        "sc := n_chars * 1.5e0) AS s FROM documents WHERE doc_id < 40"
    )
    ex._execute_statement(parse_statement(mk))
    con.execute(mk.replace("__hint_sf", "__hint_sf_d"))
    for q in (
        "SELECT doc_id, (s.nm)[1] AS c1, len(s.ws) AS n FROM {T} "
        "ORDER BY doc_id LIMIT 6",
        "SELECT doc_id, s.sc || s.nm AS tag FROM {T} ORDER BY doc_id LIMIT 6",
        "SELECT doc_id, s.nm[1:2] AS sl FROM {T} ORDER BY doc_id LIMIT 6",
    ):
        ex._execute_statement(
            parse_statement(
                "CREATE OR REPLACE TABLE __hint_t AS "
                + q.format(T="__hint_sf")
            )
        )
        got = [
            tuple(str(v) for v in r)
            for r in spark.table("__hint_t").collect()
        ]
        want = [
            tuple(str(v) for v in r)
            for r in con.sql(q.format(T="__hint_sf_d")).fetchall()
        ]
        assert got == want, q


ROUND_FOLD_CASES = [
    # literal round constant-folds at translate time (nested literal
    # rounds otherwise explode multiplicatively — a fuzz-found
    # round-in-round-in-format reached 657 KB of SQL and OOM'd the
    # analyzer); DuckDB-exact for decimal AND double literals
    "round(7.0005, 3)",
    "round(7.1, 3)",
    "round(2.5)",
    "round(-2.5, 0)",
    "round(0.125e0, 2)",
    "round(-33239.3875e0, 3)",
    "round(-0.4e0, 0)::VARCHAR",
    "round(125, -1)",
    "round(round(7.0005, 3), 4)",
    "round(round(round(1.23456789, 6), 4), 2)",
    "substring_grapheme(trim(format('{:2}|', "
    "round(round(7.0005, 3), 4))), 1, 0)",
    "round(1e308, 3)",
    "round(0.5e0, 0)",
    "(round(99999999999999999999.5))::VARCHAR",
    "round(round(-0.4e0, 2), 0)::VARCHAR",
    "concat('x', round(3.14159e0, 3))",
]


@pytest.mark.parametrize("expr", ROUND_FOLD_CASES)
def test_literal_round_constant_fold(spark, expr):
    con = duckdb.connect()
    sf = "/root/testdata/sf0.001"
    spark.read.parquet(f"{sf}/lineitem.parquet").createOrReplaceTempView(
        "lineitem"
    )
    con.execute(
        f"CREATE VIEW lineitem AS FROM read_parquet('{sf}/lineitem.parquet')"
    )
    q = f"SELECT {expr} AS r FROM lineitem LIMIT 3"
    got = [str(r.r) for r in spark.sql(translate(q)).collect()]
    want = [str(r[0]) for r in con.sql(q).fetchall()]
    assert got == want, expr


def test_literal_round_fold_bounds_translate_size():
    q = ("SELECT substring_grapheme(trim(format('{:2}|', "
         "round(round(7.0005, 3), 4))), 1, 0) AS r FROM lineitem")
    assert len(translate(q)) < 10_000  # was 657 KB before the fold


@pytest.mark.parametrize("expr", [
    # fuzz-found (seed 424243272726): INTEGER-literal round types
    # DOUBLE in DuckDB — the fold must not take the decimal path
    "substr(reverse((round(-7, 4))::VARCHAR), -4, 5)",
    "abs(length((round(91, 4))::VARCHAR))",
    "round(-0, 2)::VARCHAR",
    "round(99999999999999999999, 2)::VARCHAR",
])
def test_integer_literal_round_folds_double(spark, expr):
    con = duckdb.connect()
    q = f"SELECT {expr} AS r"
    got = [str(r.r) for r in spark.sql(translate(q)).collect()]
    want = [str(r[0]) for r in con.sql(q).fetchall()]
    assert got == want, expr
