"""Lint-level validator checks (no SparkSession needed).

Mirrors the reference's heuristic lint tests
(reference src/validators/sql_validator.py:104-145); the
3-arg regexp_replace warning is engine-specific: DuckDB replaces the
FIRST match, Spark replaces ALL (documented divergence, COVERAGE.md).
"""

from __future__ import annotations

from component_duckdb_transformation_spark.validators.sql_validator import (
    check_common_sql_errors,
)


def test_three_arg_regexp_replace_literal_args_clean():
    # literal pattern/replacement without anchors/backrefs: the dialect
    # layer rewrites to faithful replace-first, so no warning
    msgs = check_common_sql_errors(
        "SELECT regexp_replace(s, '[aeiou]', '_') FROM t"
    )
    assert not any("FIRST match" in m for m in msgs)


def test_three_arg_regexp_replace_unshimable_warns():
    for sql in (
        "SELECT regexp_replace(s, '^a', 'b') FROM t",       # anchor
        "SELECT regexp_replace(s, '(a)\\1', 'b') FROM t",   # backref
        "SELECT regexp_replace(s, '^a', r) FROM t",         # anchor + dyn rep
    ):
        msgs = check_common_sql_errors(sql)
        assert any("FIRST match" in m for m in msgs), sql
    # dyn pattern + backref rep: group bound is now checked at RUNTIME
    # (lexed group count of the pattern value; OOB -> subject), so no
    # warning remains
    msgs = check_common_sql_errors(
        "SELECT regexp_replace(s, p, '\\1') FROM t"
    )
    assert not any("FIRST match" in m for m in msgs)
    # literal-pattern rep backref is handled faithfully now (RE2
    # rewrite translation incl. out-of-range no-op): no warning
    msgs = check_common_sql_errors(
        "SELECT regexp_replace(s, 'a', '\\1') FROM t"
    )
    assert not any("FIRST match" in m for m in msgs)


def test_three_arg_regexp_replace_dynamic_args_composed_clean():
    # dynamic pattern/replacement now compose to a runtime-guarded
    # replace-first — no warning unless a literal part is uncomposable
    for sql in (
        "SELECT regexp_replace(s, p, 'b') FROM t",
        "SELECT regexp_replace(s, 'a', r) FROM t",
        "SELECT regexp_replace(s, p, r) FROM t",
    ):
        msgs = check_common_sql_errors(sql)
        assert not any("FIRST match" in m for m in msgs), sql


def test_four_arg_regexp_replace_clean():
    msgs = check_common_sql_errors(
        "SELECT regexp_replace(s, '[aeiou]', '_', 'g') FROM t"
    )
    assert not any("FIRST match" in m for m in msgs)


def test_regexp_replace_nested_args_counted_top_level():
    # commas inside nested calls must not inflate the arg count
    msgs = check_common_sql_errors(
        "SELECT regexp_replace(concat(a, b), 'x', 'y', 'g') FROM t"
    )
    assert not any("FIRST match" in m for m in msgs)
    # first arg non-literal is fine — only pattern/replacement matter
    msgs3 = check_common_sql_errors(
        "SELECT regexp_replace(concat(a, b), 'x', 'y') FROM t"
    )
    assert not any("FIRST match" in m for m in msgs3)


def test_unsupported_function_lint():
    from component_duckdb_transformation_spark.validators.sql_validator import (
        check_common_sql_errors,
    )

    # icu_sort_key is implemented now (r8, collation-library UDF)
    errs = check_common_sql_errors("SELECT icu_sort_key(a, 'de') FROM t")
    assert not any("no Spark equivalent" in e for e in errs)
    # age/current_setting are implemented now (r6) — no lint
    assert not any(
        "no Spark equivalent" in e
        for e in check_common_sql_errors(
            "SELECT age(a, b), current_setting('timezone') FROM t"
        )
    )
    # implemented similarity UDFs no longer lint
    assert not any(
        "no Spark equivalent" in e
        for e in check_common_sql_errors(
            "SELECT damerau_levenshtein(a, b), jaro_similarity(a, b), "
            "histogram(a), bar(a, 0, 10), timezone(tz, ts) FROM t"
        )
    )
    # a column named like an unsupported fn (no call parens) does not trigger
    assert not any(
        "no Spark equivalent" in e
        for e in check_common_sql_errors("SELECT age FROM t")
    )
    # shimmed functions do not trigger
    assert not any(
        "no Spark equivalent" in e
        for e in check_common_sql_errors("SELECT list_transform(l, x -> x) FROM t")
    )

    # format(): placeholders the format shim translates pass; positional,
    # fill/align and locale forms (and stray braces) are flagged
    from component_duckdb_transformation_spark.validators.sql_validator import (
        _untranslatable_functions,
    )

    for fmt in ("{}", "{:30}", "{:14}", "{:.2f}", "{:8.3}", "{:d}", "{:x}",
                "a {{literal}} {}"):
        q = f"SELECT format('{fmt}', a) FROM t"
        assert not _untranslatable_functions(q), fmt
    for fmt in ("{0}", "{:>8}", "{:,}", "{name}", "open {"):
        q = f"SELECT format('{fmt}', a) FROM t"
        assert _untranslatable_functions(q) == {"format"}, fmt


def test_validator_accepts_executor_handled_statements(spark):
    from component_duckdb_transformation_spark.configuration import Block, Code
    from component_duckdb_transformation_spark.validators.sql_validator import (
        SQLValidator,
    )

    v = SQLValidator(spark)
    blocks = [Block(name="b", codes=[Code(name="c", script=[
        "PRAGMA memory_limit='1GB';",
        "CREATE TABLE p AS PIVOT src ON k USING count(*) GROUP BY g;",
        "COPY p TO '/tmp/x.csv' (HEADER);",
        "MERGE INTO p USING s ON p.id = s.id WHEN MATCHED THEN DELETE;",
        # statements the executor parses with its own code: the Spark
        # parser never sees their raw text
        "CREATE TYPE mood AS ENUM ('sad', 'ok', 'happy');",
        "CREATE SEQUENCE sid START 1000 INCREMENT 10;",
        "CREATE TABLE e (k BIGINT PRIMARY KEY, m mood, s VARCHAR);",
        "ALTER TABLE e ADD COLUMN note VARCHAR DEFAULT '?';",
        "UPDATE e SET s = n.n_name FROM nation n WHERE e.k = n.n_nationkey;",
        "UPDATE e SET m = 'ok' WHERE k % 50 = 0 RETURNING k;",
        "TRUNCATE e;",
        "CREATE TEMP MACRO add1(x) AS x + 1;",
    ])])]
    res = v.validate_queries(blocks)
    assert "Syntax error" not in res.message, res.message


def test_validator_parses_ctas_body_with_qualify(spark):
    """The startup check parses what the executor runs: the body of a
    CREATE TABLE ... AS, where QUALIFY is lowered."""
    from component_duckdb_transformation_spark.configuration import Block, Code
    from component_duckdb_transformation_spark.validators.sql_validator import (
        SQLValidator,
    )

    v = SQLValidator(spark)
    ok = v.validate_queries([Block(name="b", codes=[Code(name="c", script=[
        "CREATE TABLE top_customers AS SELECT c.n_name, c.c_custkey, "
        "sum(o.net) AS spend, count(*) AS n_orders "
        "FROM orders o JOIN cust c ON o.o_custkey = c.c_custkey "
        "GROUP BY c.n_name, c.c_custkey "
        "QUALIFY row_number() OVER (PARTITION BY c.n_name "
        "ORDER BY sum(o.net) DESC, c.c_custkey) <= 10",
    ])])])
    assert ok.type.value == "success", ok.message
    # a real syntax error reports Spark's message, not a blank line;
    # an INSERT's source query is parsed too
    for sql in (
        "CREATE TABLE t AS SELECT a FROM x WHERE a = = 1",
        "INSERT INTO t SELECT a FROM x WHERE a = = 1",
    ):
        bad = v.validate_queries([Block(name="b", codes=[Code(name="c", script=[
            sql,
        ])])])
        assert bad.type.value == "danger", sql
        err = bad.message.split("Syntax error:", 1)[1].splitlines()[0]
        assert err.strip(), sql
