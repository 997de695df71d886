"""DuckDB->Spark dialect translation (SURVEY §2.B divergences)."""

from component_duckdb_transformation_spark import engine_version_string
from component_duckdb_transformation_spark.functions.dialect import translate


def test_string_literal_table_names():
    out = translate("CREATE VIEW 'out.csv' AS SELECT * FROM 'days.csv'")
    assert "`out.csv`" in out and "`days.csv`" in out


def test_string_literals_elsewhere_untouched():
    out = translate("SELECT 'hello' AS x FROM t WHERE name = 'days.csv'")
    assert "'hello'" in out and "= 'days.csv'" in out


def test_quoted_identifiers_to_backticks():
    assert translate('SELECT "my col" FROM "my-table"') == "SELECT `my col` FROM `my-table`"


def test_unbalanced_statement_is_returned_unchanged():
    # an unclosed or mismatched bracket leaves the statement as written
    # (it used to come back with the unclosed paren doubled), so Spark's
    # error quotes the user's own text
    for sql in (
        "SELECT sum(",
        "SELECT a FROM (",
        "SELECT [1, 2",
        "SELECT f(x]",
        "SELECT 1)",
        "SELECT {'a': (1}",
    ):
        assert translate(sql) == sql
    # brackets inside strings and comments do not count
    assert translate("SELECT '(' AS p -- )") == "SELECT '(' AS p -- )"


def test_dow_shim():
    out = translate("SELECT extract(dow FROM d) FROM t")
    assert "(extract(dow FROM d) - 1)" in out


def test_isodow_shim():
    # the EXTRACT keyword form is used so the weekday()/dayofweek()
    # call shims (DuckDB Sunday=0) can't re-rewrite it
    out = translate("SELECT extract(isodow FROM d) FROM t")
    assert "extract(DAYOFWEEK FROM d" in out and "+ 5" in out


def test_date_trunc_date_parts_cast():
    out = translate("SELECT date_trunc('month', d) FROM t")
    assert out.startswith("SELECT CAST(date_trunc('month', d) AS DATE)")


def test_date_trunc_time_parts_untouched():
    out = translate("SELECT date_trunc('hour', ts) FROM t")
    assert "CAST" not in out


def test_floor_division():
    assert "DIV" in translate("SELECT a // 2 FROM t")


def test_version_literal():
    assert engine_version_string() in translate("SELECT version()")


def test_function_renames():
    out = translate("SELECT regexp_matches(s, 'x'), string_split(s, ' ') FROM t")
    assert "regexp_like" in out and "split" in out


def test_passthrough_core_sql():
    sql = (
        "SELECT l_returnflag, sum(l_quantity) AS s FROM lineitem "
        "WHERE l_shipdate >= DATE '1998-01-01' GROUP BY l_returnflag"
    )
    assert translate(sql) == sql


def test_date_diff_to_timestampdiff():
    # date_diff counts BOUNDARY CROSSINGS in DuckDB: day maps to Spark's
    # date-based datediff, month/week to boundary-index compositions
    out = translate("SELECT date_diff('day', a, b) FROM t")
    assert "datediff(CAST((b) AS DATE), CAST((a) AS DATE))" in out
    out_m = translate("SELECT date_diff('month', a, b) FROM t")
    assert "year(b) * 12 + month(b)" in out_m
    out_h = translate("SELECT date_diff('hour', a, b) FROM t")
    assert "timestampdiff(HOUR, date_trunc('hour', a)" in out_h
    # date_sub IS the complete-periods variant -> plain timestampdiff
    assert "timestampdiff(DAY, a, b)" in translate("SELECT date_sub('day', a, b) FROM t")
    # Spark's own 2-arg datediff untouched
    assert translate("SELECT datediff(b, a) FROM t") == "SELECT datediff(b, a) FROM t"


def test_regexp_replace_g_flag_dropped():
    out = translate("SELECT regexp_replace(s, '[aeiou]', '_', 'g') FROM t")
    assert "'g'" not in out
    norm = out.replace(" ,", ",").replace(", ", ",")
    assert "regexp_replace(s,'[aeiou]','_')" in norm


def test_regexp_replace_first_composition():
    # 3-arg (DuckDB replace-FIRST) with literal args -> anchored
    # lazy-prefix replace-all (second capture = whole match, for \0);
    # behavior verified against DuckDB in test_replace_first_semantics
    out3 = translate("SELECT regexp_replace(s, 'a', 'b') FROM t")
    assert "'^((?s:.*?))((?:a))'" in out3
    assert "'$1b'" in out3
    # $ in the replacement is literal in DuckDB -> escaped for Java
    outd = translate("SELECT regexp_replace(s, 'a', '$') FROM t")
    assert "'$1\\\\$'" in outd
    # backrefs translate with the +2 group shift; \0 is the whole match
    outr = translate("SELECT regexp_replace(s, '(a)x', '\\1') FROM t")
    assert "'$1$3'" in outr
    out0 = translate("SELECT regexp_replace(s, 'ax', 'X\\0Y') FROM t")
    assert "'$1X$2Y'" in out0
    # literal pattern anchors: left as replace-all (lint-covered)
    for sql in (
        "SELECT regexp_replace(s, '^a', 'b') FROM t",
        "SELECT regexp_replace(s, 'a$', 'b') FROM t",
        "SELECT regexp_replace(s, '(a)\\1', 'b') FROM t",
    ):
        out = translate(sql)
        assert "(?s:" not in out, sql
    # invalid RE2 rewrite (ref beyond groups, bad escape): the whole
    # call is a no-op -> just the subject
    for sql in (
        "SELECT regexp_replace(s, 'a', '\\1') FROM t",
        "SELECT regexp_replace(s, 'a', '\\x') FROM t",
    ):
        out = translate(sql)
        assert "regexp_replace" not in out and "(s)" in out, (sql, out)


def test_regexp_replace_first_dynamic_composition():
    # non-literal pattern -> runtime-guarded anchored composition
    out = translate("SELECT regexp_replace(s, p, 'b') FROM t")
    assert "CASE WHEN" in out and "(?s:" in out and "RLIKE" in out
    # non-literal replacement with a clean literal pattern -> composed
    # statically, replacement translated at runtime behind a rewrite
    # validity guard (invalid RE2 rewrite VALUE -> subject unchanged)
    out = translate("SELECT regexp_replace(s, 'a', r) FROM t")
    assert "CASE WHEN" in out and "'^((?s:.*?))((?:a))'" in out
    assert "replace(replace(" in out
    # a dynamic pattern with a literal backref replacement composes too
    # (group numbers shifted past the two prefix captures)
    out = translate("SELECT regexp_replace(s, p, '\\1') FROM t")
    assert "(?s:" in out and "'$1$3'" in out
    # uncomposable literal pattern wins even when the rep is dynamic
    out = translate("SELECT regexp_replace(s, '^a', r) FROM t")
    assert "(?s:" not in out


def test_qualify_rewrite():
    out = translate(
        "SELECT a, b FROM t QUALIFY row_number() OVER (ORDER BY b) <= 2 ORDER BY a"
    )
    assert out.startswith("SELECT * EXCEPT (__qualify__) FROM (")
    assert "AS __qualify__" in out
    assert out.rstrip().rstrip("NULLS LAST ").endswith("ORDER BY a")
    # no QUALIFY -> untouched
    assert translate("SELECT a FROM t") == "SELECT a FROM t"


def test_qualify_with_cte():
    out = translate(
        "WITH x AS (SELECT a FROM t) SELECT a FROM x "
        "QUALIFY rank() OVER (ORDER BY a) = 1"
    )
    assert out.startswith("SELECT * EXCEPT (__qualify__) FROM (WITH x AS")


def test_unnest_rename():
    assert "explode(" in translate("SELECT unnest(string_split(s, ' ')) FROM t")


def test_strftime_conversion():
    out = translate("SELECT strftime(d, '%Y-%m-%d %H:%M:%S') FROM t")
    assert "date_format" in out and "'yyyy-MM-dd HH:mm:ss'" in out
    nested = translate("SELECT strptime(strftime(d, '%Y-%m-%d'), '%Y-%m-%d') FROM t")
    assert nested.count("date_format") == 1 and "to_timestamp" in nested


def test_epoch_rewrites():
    out = translate("SELECT epoch_ms(ts), epoch(ts) FROM t")
    assert "unix_millis" in out
    # epoch() is DOUBLE with fractional seconds in DuckDB
    assert "unix_micros" in out and "AS DOUBLE" in out
    assert "TIMESTAMP_LTZ" in out


def test_qualify_in_subquery():
    # QUALIFY nested in a derived table is rewritten too (not just top level)
    out = translate(
        "SELECT * FROM (SELECT a, b FROM t "
        "QUALIFY row_number() OVER (PARTITION BY a ORDER BY b) = 1) s "
        "WHERE a > 0"
    )
    assert "QUALIFY" not in out.upper().replace("__QUALIFY__", "")
    assert "AS __qualify__" in out
    # outer shell untouched
    assert out.startswith("SELECT * FROM (")
    assert out.rstrip().endswith("WHERE a > 0")


def test_qualify_in_cte_body():
    out = translate(
        "WITH ranked AS (SELECT a FROM t "
        "QUALIFY rank() OVER (ORDER BY a) <= 3) SELECT * FROM ranked"
    )
    assert "QUALIFY" not in out.upper().replace("__QUALIFY__", "")
    assert out.startswith("WITH ranked AS (")


def test_bracket_list_literal():
    assert translate("SELECT [1, 2, 3]") == "SELECT array(1, 2, 3)"
    # nested literals
    assert translate("SELECT [[1],[2]]") == "SELECT array(array(1),array(2))"


def test_bracket_index_is_one_based_element_at():
    # integer-literal indexes emit 0-based get(): NULL-on-out-of-bounds
    # like DuckDB, and codegen-compilable (try_element_at is not)
    out = translate("SELECT l[2] FROM t")
    assert "get(l,1)" in out.replace(" ", "")
    # chained/parenthesized bases
    out2 = translate("SELECT ([10,20])[2]")
    assert "get((array(10,20)),1)" in out2.replace(" ", "")
    # dotted base
    out3 = translate("SELECT s.arr[1] FROM t")
    assert "get(s.arr,0)" in out3.replace(" ", "")
    # negative literal counts from the end; zero is out of range
    assert "get(l,size(l)+(-1))" in translate("SELECT l[-1] FROM t").replace(" ", "")
    assert "get(l,-1)" in translate("SELECT l[0] FROM t").replace(" ", "")
    # non-literal index keeps try_element_at (also the map accessor)
    assert "try_element_at(l,i)" in translate("SELECT l[i] FROM t").replace(" ", "")


def test_bracket_slice_inclusive():
    # unified DuckDB slice semantics: clamped bounds, negative-from-end
    out = translate("SELECT l[2:4] FROM t").replace(" ", "")
    assert "slice(l," in out and "greatest(" in out
    out2 = translate("SELECT l[:2] FROM t").replace(" ", "")
    assert "slice(l," in out2
    out3 = translate("SELECT l[3:] FROM t").replace(" ", "")
    assert "slice(l," in out3 and "size(l)" in out3


def test_string_escape_doubling():
    out = translate(r"SELECT regexp_extract(s, '\d+') FROM t")
    assert r"'\\d+'" in out
    assert ", 0)" in out  # 2-arg regexp_extract gets DuckDB's group 0
    # strings without backslashes untouched
    assert translate("SELECT 'it''s'") == "SELECT 'it''s'"


def test_agg_order_by_rewrites():
    out = translate("SELECT string_agg(x, ',' ORDER BY y) FROM t")
    assert "listagg" in out and "WITHIN GROUP" in out and "ORDER BY y" in out
    # NULL-preserving form: rows collected as structs (collect_list
    # would drop NULL elements, DuckDB keeps them), then array_sort —
    # Spark's default = ASC NULLS LAST = DuckDB's ordering
    out2 = translate("SELECT array_agg(x ORDER BY x) FROM t").replace(" ", "")
    assert "array_sort(transform(collect_list(struct((x)AS__v))" in out2
    out3 = translate("SELECT array_agg(x ORDER BY x DESC) FROM t").replace(" ", "")
    assert "__lISNULLTHEN1" in out3  # DESC comparator, NULLs last
    out4 = translate(
        "SELECT array_agg(DISTINCT x ORDER BY x) FROM t"
    ).replace(" ", "")
    assert "array_distinct(" in out4


def test_datetime_name_shims():
    out = translate("SELECT dayname(d), monthname(d), isodow(d), week(d) FROM t")
    assert "date_format(d, 'EEEE')" in out
    assert "date_format(d, 'MMMM')" in out
    assert "(weekday(d) + 1)" in out
    assert "weekofyear(d)" in out


def test_misc_call_shims():
    assert "conv(n, 10, 2)" in translate("SELECT to_base(n, 2) FROM t")
    assert "size(array_distinct(l))" in translate("SELECT list_unique(l) FROM t")
    out = translate("SELECT regexp_full_match(s, 'a.c') FROM t")
    assert "regexp_extract(s, 'a.c', 0) = s" in out
    out2 = translate("SELECT like_escape(a, b, '!') FROM t")
    assert "a LIKE b ESCAPE '!'" in out2
    out3 = translate("SELECT date_add(d, INTERVAL 3 DAY) FROM t")
    assert "CAST(((d) + INTERVAL 3 DAY) AS TIMESTAMP)" in out3


def test_lambda_function_renames():
    out = translate("SELECT list_transform(l, x -> x * 2), list_filter(l, x -> x > 1) FROM t")
    assert "transform(l, x -> x * 2)" in out
    assert "filter(l, x -> x > 1)" in out


def test_list_reduce_seeds_first_element():
    out = translate("SELECT list_reduce(l, (a, b) -> a + b) FROM t").replace(" ", "")
    assert "reduce(slice((l),2,size((l))-1),get((l),0),(a,b)->a+b)" in out


def test_list_sum_avg_double_accumulator():
    out = translate("SELECT list_sum(l) FROM t")
    assert "aggregate(transform((l), v -> CAST(v AS DOUBLE))" in out
    assert "/ size((l))" in translate("SELECT list_avg(l) FROM t")


def test_similar_to_anchored_rlike():
    out = translate("SELECT * FROM t WHERE s SIMILAR TO 'a.c'")
    assert "RLIKE '^(?:a.c)$'" in out
    out2 = translate("SELECT * FROM t WHERE s NOT SIMILAR TO 'a.c'")
    assert "NOT RLIKE" in out2.replace("RLIKE", "RLIKE", 1) or "NOT  RLIKE" in out2 or "NOT" in out2


def test_struct_and_map_literals():
    assert translate("SELECT {'a': 1, 'b': x} FROM t").replace(" ", "") == \
        "SELECT named_struct('a', 1, 'b', x) FROM t".replace(" ", "")
    assert translate("SELECT map {'k': v} FROM t").replace(" ", "") == \
        "SELECT map('k', v) FROM t".replace(" ", "")
    out = translate("SELECT struct_pack(a := 1, b := 'x')").replace(" ", "")
    assert "named_struct('a',1,'b','x')" in out


def test_distinct_on_rewrite():
    out = translate("SELECT DISTINCT ON (x) x, y FROM t ORDER BY x, y")
    assert "row_number() OVER" in out and "PARTITION BY x" in out
    assert "__don__ = 1" in out
    # outer ordering keeps the statement's ORDER BY (all its columns
    # survive the projection, matching DuckDB's output order exactly)
    assert "ORDER BY x NULLS LAST , y NULLS LAST" in out
    assert "OVER (PARTITION BY x ORDER BY x NULLS LAST , y NULLS LAST )" in out
    # without ORDER BY: window orders by the ON keys
    out2 = translate("SELECT DISTINCT ON (k) k, v FROM t")
    assert "PARTITION BY k ORDER BY k" in out2
    # plain DISTINCT untouched
    assert translate("SELECT DISTINCT a FROM t") == "SELECT DISTINCT a FROM t"


def test_distinct_on_in_subquery():
    out = translate("SELECT * FROM (SELECT DISTINCT ON (a) a, b FROM t ORDER BY a, b) s")
    assert "__don__" in out and out.startswith("SELECT * FROM (")


def test_star_replace_rewrite():
    # star-REPLACE items expand on the live session (expand_scopes,
    # tests/test_scope_expansion.py); a plain REPLACE call is untouched
    assert translate("SELECT replace(s, 'a', 'b') FROM t") == "SELECT replace(s, 'a', 'b') FROM t"


def test_quantile_and_sample_moment_shims():
    assert "percentile(x, 0.5)" in translate("SELECT quantile_cont(x, 0.5) FROM t")
    # quantile_disc lowers through the WITHIN GROUP spelling, which the
    # r13 percentile fold rewrites onto the shared sorted collect_list
    out = translate("SELECT quantile_disc(x, 0.5) FROM t")
    assert "percentile_disc" not in out
    assert "sort_array(collect_list(x))" in out
    # sample corrections wrap Spark's population statistics
    s = translate("SELECT skewness(v) FROM t")
    assert "sqrt" in s and "count(v)" in s
    k = translate("SELECT kurtosis(v) FROM t")
    assert "kurtosis(v) + 6" in k.replace("  ", " ").replace("* kurtosis", "* kurtosis")


def test_time_bucket_shims():
    out = translate("SELECT time_bucket(INTERVAL 15 MINUTE, ts) FROM t")
    assert "946857600" in out and "% " not in out and "900" in out
    month = translate("SELECT time_bucket(INTERVAL 1 MONTH, ts) FROM t")
    assert "date_trunc('MONTH', ts)" in month


def test_interval_constructor_shims():
    # make_dt/ym_interval (PySpark-fetchable), not CalendarInterval
    assert "make_dt_interval(CAST((3) AS INT))" in translate("SELECT d + to_days(3) FROM t")
    assert "make_dt_interval(0, CAST((h) AS INT))" in translate("SELECT d + to_hours(h) FROM t")
    assert "make_ym_interval(CAST((2) AS INT), 0)" in translate("SELECT d + to_years(2) FROM t")


def test_yearweek_and_date_sub():
    out = translate("SELECT yearweek(d) FROM t")
    assert "YEAROFWEEK" in out and "weekofyear(d)" in out
    assert "timestampdiff(DAY," in translate("SELECT date_sub('day', a, b) FROM t")


def test_ignore_nulls_moves_outside_call():
    out = translate("SELECT lag(x IGNORE NULLS) OVER (ORDER BY i) FROM t")
    assert "lag(x)IGNORENULLSOVER" in out.replace(" ", "")
    out2 = translate("SELECT first_value(x RESPECT NULLS) OVER (ORDER BY i) FROM t")
    assert "first_value(x)RESPECTNULLS" in out2.replace(" ", "")
    # a column literally named nulls is untouched
    assert translate("SELECT f(a, nulls) FROM t") == "SELECT f(a, nulls) FROM t"


def test_replace_first_semantics(spark):
    """Differential: the 3-arg shim's output on Spark equals DuckDB's
    replace-FIRST on the same inputs (incl. empty-match, $-replacement,
    alternation, char-class-^ cases)."""
    import duckdb

    cases = [
        "regexp_replace('aaa', 'a', 'X')",
        "regexp_replace('banana', 'an', '-')",
        "regexp_replace('abc123def456', '\\d+', '#')",
        "regexp_replace('abc', 'b', '$')",
        "regexp_replace('xyz', 'q', '#')",
        "regexp_replace('yyy', 'x*', '-')",
        "regexp_replace('foo bar foo', 'foo|bar', 'Z')",
        "regexp_replace('[^a] test', '[^a]+', '_')",
    ]
    for c in cases:
        sql = f"SELECT {c} AS r"
        expected = duckdb.sql(sql).fetchone()[0]
        got = spark.sql(translate(sql)).collect()[0][0]
        assert got == expected, (c, got, expected)


def test_replace_first_dynamic_semantics(spark):
    """Differential: dynamic-argument replace-first (runtime-guarded
    composition) equals DuckDB on column-driven patterns/replacements,
    including anchor values that take the runtime fallback."""
    import duckdb
    import pandas as pd

    rows = [
        ("hello world hello", "l", "_"),
        ("aaa bbb aaa", "a+", "X"),
        ("foo.bar.baz", "[.]", "-"),
        ("no match here", "zzz", "Q"),
        ("dollar $ sign", "[$]", "USD"),
        ("price is 5", "i.", "$d "),  # $ in a runtime replacement value
        ("anchored", "^anch", "A"),  # anchor value -> runtime fallback
        ("repeat repeat", "(re)peat", "X"),
        ("Hello HELLO x", "hel+o", "y"),
    ]
    con = duckdb.connect()
    con.execute("CREATE TABLE t(s VARCHAR, p VARCHAR, r VARCHAR)")
    for row in rows:
        con.execute("INSERT INTO t VALUES (?, ?, ?)", list(row))
    spark.createDataFrame(
        pd.DataFrame(rows, columns=["s", "p", "r"])
    ).createOrReplaceTempView("rfd_t")
    for body in (
        "regexp_replace(s, p, 'X')",
        "regexp_replace(s, 'l+', r)",
        "regexp_replace(s, p, r)",
        "regexp_replace(s, p, 'X', 'i')",
        "regexp_replace(s, p, r, 'i')",
        "regexp_replace(s, p || p, 'X')",
    ):
        expected = [
            x[0] for x in con.execute(f"SELECT {body} FROM t").fetchall()
        ]
        got = [
            x[0]
            for x in spark.sql(
                translate(f"SELECT {body} FROM rfd_t")
            ).collect()
        ]
        assert got == expected, (body, got, expected)


def test_function_semantic_shims(spark):
    """concat NULL-skipping, base-10 log, trim-family arg order,
    list_reverse_sort, tinyint sign — all differential vs DuckDB."""
    import duckdb

    cases = [
        "concat('a', NULL, 'b')",
        "concat(1, NULL, 2)",
        "log(100)",
        "log(2, 8)",
        "trim('xxaxx', 'x')",
        "ltrim('xxaxx', 'x')",
        "rtrim('xxaxx', 'x')",
        "trim('  a  ')",
        "list_reverse_sort([3, 1, NULL])",
        "sign(-2.5)",
    ]
    for c in cases:
        expected = duckdb.sql(f"SELECT {c} AS r").fetchone()[0]
        got = spark.sql(translate(f"SELECT {c} AS r")).collect()[0][0]
        got = list(got) if isinstance(expected, list) else got
        assert str(got) == str(expected), (c, got, expected)


def test_battery2_semantic_shims(spark):
    """arg_max/min renames, byte-level levenshtein dispatch, sha256,
    list_prepend arg order, exclusive-end scalar range()."""
    import duckdb

    cases = [
        "levenshtein('résumé', 'resume')",  # byte-based in DuckDB: 4
        "levenshtein('kitten', 'sitting')",
        "list_prepend(0, [1])",
        "sha256('abc')",
        "range(1, 4)",
        "range(4)",
        "range(5, 1, -1)",
        "range(1, 1)",
        "range(2, 10, 3)",
        "range(10, 2)",
    ]
    for c in cases:
        expected = duckdb.sql(f"SELECT {c} AS r").fetchone()[0]
        got = spark.sql(translate(f"SELECT {c} AS r")).collect()[0][0]
        got = list(got) if isinstance(expected, list) else got
        assert str(got) == str(expected), (c, got, expected)
    agg = "SELECT arg_max(x, y) AS a, arg_min(x, y) AS b FROM (VALUES (1, 10), (2, 20)) t(x, y)"
    assert tuple(spark.sql(translate(agg)).collect()[0]) == tuple(
        duckdb.sql(agg).fetchone()
    )


def test_json_arrows_and_misc_shims(spark):
    """JSON -> / ->> operators (lambda arrows untouched), json_extract
    family with path normalization, strip_accents, unicode()."""
    import duckdb

    cases = [
        "('{\"a\": 1}'::JSON) ->> 'a'",
        "('[5,6]'::JSON) -> 0",
        "('[5,6]'::JSON) ->> 1",
        "('{\"a\": {\"b\": 7}}'::JSON) -> 'a' ->> 'b'",
        "json_extract_string('{\"a\": \"x\"}', '$.a')",
        "json_extract_string('{\"a\": {\"b\": 2}}', '/a/b')",
        "json_extract('{\"a\": {\"b\": 2}}', 'a')",
        "list_transform([1,2], x -> x + 1)",
        "list_filter([1,2,3], x -> x > 1)",
        "strip_accents('héllo wörld')",
        "unicode('é')",
        "unicode('')",
    ]
    for c in cases:
        expected = duckdb.sql(f"SELECT {c} AS r").fetchone()[0]
        got = spark.sql(translate(f"SELECT {c} AS r")).collect()[0][0]
        got = list(got) if isinstance(expected, list) else got
        assert str(got) == str(expected), (c, got, expected)


def test_battery4_aggregate_modifier_shims(spark):
    """FILTER without WHERE, ordered first/last -> min_by/max_by,
    ORDER BY stripped from order-insensitive aggregates."""
    import duckdb

    cases = [
        "count(*) FILTER (x > 1) FROM (VALUES (1),(2),(3)) t(x)",
        "first(x ORDER BY y DESC) FROM (VALUES (1, 10),(2, 20)) t(x, y)",
        "first(x ORDER BY y) FROM (VALUES (1, 10),(2, 20)) t(x, y)",
        "last(x ORDER BY y) FROM (VALUES (1, 10),(2, 20)) t(x, y)",
        "last(x ORDER BY y DESC) FROM (VALUES (1, 10),(2, 20)) t(x, y)",
        "sum(x ORDER BY x) FROM (VALUES (1),(2)) t(x)",
        "count(x ORDER BY x) FROM (VALUES (1),(2)) t(x)",
    ]
    for c in cases:
        expected = duckdb.sql(f"SELECT {c}").fetchone()[0]
        got = spark.sql(translate(f"SELECT {c}")).collect()[0][0]
        assert str(got) == str(expected), (c, got, expected)
    # list filter() calls are not clause-rewritten
    assert "WHERE" not in translate("SELECT filter([1,2], x -> x > 1)")


def test_asof_join_rewrite(spark):
    """ASOF [LEFT] JOIN in all four inequality directions, flipped
    operand order, aliases, and subquery right sides — differential vs
    DuckDB's native asof join."""
    import duckdb
    import pandas as pd

    con = duckdb.connect()
    con.execute("CREATE TABLE tr(k VARCHAR, ts INT, px INT)")
    con.execute("INSERT INTO tr VALUES ('a',1,10),('a',5,50),('a',9,90),('b',3,30)")
    con.execute("CREATE TABLE ev(k VARCHAR, ts INT)")
    con.execute(
        "INSERT INTO ev VALUES ('a',0),('a',1),('a',6),('a',11),('b',3),('b',2),('c',5)"
    )
    spark.createDataFrame(
        pd.DataFrame(
            [("a", 1, 10), ("a", 5, 50), ("a", 9, 90), ("b", 3, 30)],
            columns=["k", "ts", "px"],
        )
    ).createOrReplaceTempView("asof_tr")
    spark.createDataFrame(
        pd.DataFrame(
            [("a", 0), ("a", 1), ("a", 6), ("a", 11), ("b", 3), ("b", 2), ("c", 5)],
            columns=["k", "ts"],
        )
    ).createOrReplaceTempView("asof_ev")
    shapes = [
        "FROM ev ASOF JOIN tr ON ev.k = tr.k AND ev.ts >= tr.ts",
        "FROM ev ASOF LEFT JOIN tr ON ev.k = tr.k AND ev.ts >= tr.ts",
        "FROM ev ASOF JOIN tr ON ev.k = tr.k AND ev.ts > tr.ts",
        "FROM ev ASOF JOIN tr ON ev.k = tr.k AND ev.ts <= tr.ts",
        "FROM ev ASOF JOIN tr ON ev.k = tr.k AND ev.ts < tr.ts",
        "FROM ev ASOF JOIN tr ON tr.ts <= ev.ts AND tr.k = ev.k",
        "FROM ev ASOF JOIN (SELECT * FROM tr WHERE px > 10) tr "
        "ON ev.k = tr.k AND ev.ts >= tr.ts",
    ]
    for shape in shapes:
        q = f"SELECT ev.k, ev.ts, tr.px {shape} ORDER BY ev.k, ev.ts"
        expected = con.execute(q).fetchall()
        sq = translate(
            q.replace("FROM ev", "FROM asof_ev ev").replace(
                "JOIN tr", "JOIN asof_tr tr"
            )
            if "(SELECT" not in shape
            else q.replace("FROM ev", "FROM asof_ev ev").replace(
                "FROM tr", "FROM asof_tr"
            )
        )
        got = [tuple(r) for r in spark.sql(sq).collect()]
        assert got == expected, (shape, got, expected)


def test_battery3_operator_shims(spark):
    """^ / ** are POWER in DuckDB (Spark ^ is XOR — silent wrong
    answers); ~ / !~ / ~~ / !~~ regex-LIKE operators; xor(); even();
    isnan/isinf/isfinite NULL semantics; gcd/lcm/gamma UDFs."""
    import math

    import duckdb

    cases = [
        "2 ^ 3", "2 ** 3", "(-2) ^ 2", "2 ^ -1", "2 ^ 0.5",
        "2 ^ 3 ^ 2", "3 * 2 ^ 2", "1 / 2 ^ 2",
        "'abc' ~ 'a.c'", "'abc' !~ 'x'", "'abc' ~~ 'a%'", "'abc' !~~ 'z%'",
        "xor(5, 3)", "even(2.5)", "even(-2.5)", "even(2)",
        "isnan(CAST(NULL AS DOUBLE))", "isinf(CAST('inf' AS DOUBLE))",
        "isfinite(1.0)", "isfinite(CAST('nan' AS DOUBLE))",
        "gcd(12, 18)", "gcd(-12, 18)", "lcm(4, 6)", "gamma(5)",
        "from_hex('616263')",
    ]
    for c in cases:
        expected = duckdb.sql(f"SELECT {c} AS r").fetchone()[0]
        got = spark.sql(translate(f"SELECT {c} AS r")).collect()[0][0]
        if isinstance(expected, float) and isinstance(got, float):
            assert math.isclose(got, expected, rel_tol=1e-12), (c, got, expected)
        else:
            assert str(got) == str(expected), (c, got, expected)


def test_order_by_nulls_last_default(spark):
    """DuckDB sorts ASC NULLS LAST by default; Spark NULLS FIRST. The
    rewrite appends NULLS LAST to default-ordered sort items everywhere
    (statement ORDER BY incl. LIMIT row-sets, window OVER, frames)."""
    import duckdb

    out = translate("SELECT x FROM t ORDER BY x LIMIT 2")
    assert "NULLS LAST" in out and "LIMIT" in out
    # DESC and explicit NULLS are untouched
    assert "NULLS LAST" not in translate("SELECT x FROM t ORDER BY x DESC")
    assert "NULLS FIRST" in translate("SELECT x FROM t ORDER BY x NULLS FIRST")
    for q in (
        "SELECT x FROM (VALUES (1),(NULL),(2)) t(x) ORDER BY x LIMIT 2",
        "SELECT x, sum(x) OVER (ORDER BY x ROWS BETWEEN 1 PRECEDING AND "
        "CURRENT ROW) AS s FROM (VALUES (1),(NULL),(2)) t(x)",
        "SELECT x, row_number() OVER (ORDER BY x) AS rn "
        "FROM (VALUES (1),(NULL),(2)) t(x)",
    ):
        expected = sorted(map(str, duckdb.sql(q).fetchall()))
        got = sorted(str(tuple(r)) for r in spark.sql(translate(q)).collect())
        assert got == expected, q


def test_division_double_semantics(spark):
    """DuckDB `/` is always DOUBLE and zero divisors give NULL (`%` and
    `//` too); integral casts round instead of truncating."""
    import duckdb

    cases = [
        "SELECT 100 / 7.5579 AS r",
        "SELECT 1 / 3 AS r",
        "SELECT 7 // 2 AS r",
        "SELECT -7 // 2 AS r",
        "SELECT 1 / 0 AS r",
        "SELECT 7 % 0 AS r",
        "SELECT 7 // 0 AS r",
        "SELECT 7.5 % 2 AS r",
        "SELECT CAST(2.7 AS BIGINT) AS r",
        "SELECT CAST(-2.7 AS BIGINT) AS r",
        "SELECT 2.5::INT AS r",
        "SELECT CAST('12' AS INT) AS r",
        # DOUBLE rounds half-to-even like DuckDB (typeof dispatch)
        "SELECT CAST(CAST(17.5 AS DOUBLE) AS BIGINT) AS r",
        "SELECT CAST(CAST(18.5 AS DOUBLE) AS BIGINT) AS r",
        "SELECT CAST(CAST(-17.5 AS DOUBLE) AS BIGINT) AS r",
        # nested: division inside a divisor must also become double
        "SELECT 1 / (1 + (100 / 7.5579)) AS r",
    ]
    for c in cases:
        expected = duckdb.sql(c).fetchall()
        got = [tuple(r) for r in spark.sql(translate(c)).collect()]
        assert [tuple(map(float, r)) if r[0] is not None else r for r in got] == [
            tuple(map(float, r)) if r[0] is not None else r for r in expected
        ], (c, got, expected)


def test_product_entropy_rewrites():
    out = translate("SELECT g, product(x) FROM t GROUP BY g")
    assert "exp(sum(ln(abs(" in out and "product" not in out
    # nested-in-aggregate entropy keeps the collect_list template (the
    # scale-safe restructure only applies to top-level scalar contexts)
    out2 = translate("SELECT max(entropy(x)) FROM t")
    assert "collect_list" in out2 and "__duck_entropy_j" in out2
    # no raw entropy( call survives (only the compiled core's name)
    assert "entropy" not in out2.replace("__duck_entropy_j", "")
    # composes with other rewrites (arg already translated when spliced)
    out3 = translate("SELECT product(l[1]) FROM t")
    assert "get(l, 0)" in out3 and "product" not in out3


def test_product_entropy_semantics(spark):
    import duckdb

    cases = [
        "SELECT product(x) AS r FROM (VALUES (2.0),(0.0),(3.0)) t(x)",
        "SELECT product(x) AS r FROM (VALUES (2),(3)) t(x)",
        "SELECT product(x) AS r FROM (VALUES (-2.0),(-3.0),(-1.0)) t(x)",
        "SELECT product(x) AS r FROM (VALUES (CAST(NULL AS DOUBLE))) t(x)",
        "SELECT round(entropy(x), 9) AS r FROM (VALUES ('a'),('a'),('b'),('c')) t(x)",
        "SELECT entropy(x) AS r FROM (VALUES (CAST(NULL AS VARCHAR))) t(x)",
        "SELECT round(entropy(x), 9) AS r FROM (VALUES (1),(1),(2),(3),(3),(3)) t(x)",
    ]
    for c in cases:
        expected = duckdb.sql(c).fetchall()
        got = [tuple(r) for r in spark.sql(translate(c)).collect()]
        assert got == expected, (c, got, expected)


def test_entropy_groupby_scale_safe_plan(spark):
    """Top-level entropy() in a plain GROUP BY (or global aggregate)
    restructures to two chained hash aggregates — no per-group
    collect_list anywhere in the translated SQL or the physical plan."""
    for sql in [
        "SELECT g, entropy(v) AS h FROM t GROUP BY g",
        "SELECT entropy(v) AS h FROM t",
        "SELECT g, round(entropy(v), 6) AS h, count(*) AS n FROM t GROUP BY g",
    ]:
        out = translate(sql)
        assert "collect_list" not in out, (sql, out)
    # shapes the restructure can't express keep the template fallback
    for sql in [
        "SELECT g, sum(entropy(v)) AS h FROM t GROUP BY g",
        "SELECT g, entropy(v) AS h FROM t GROUP BY g ORDER BY count(*)",
        "SELECT g + 1, entropy(v) AS h FROM t GROUP BY g + 1",
    ]:
        out = translate(sql)
        assert "collect_list" in out, (sql, out)
    spark.range(0, 100).selectExpr(
        "id % 5 AS g", "CAST(id % 7 AS STRING) AS v"
    ).createOrReplaceTempView("t")
    plan = spark.sql(
        translate("SELECT g, entropy(v) AS h FROM t GROUP BY g")
    )._jdf.queryExecution().executedPlan().toString()
    assert "collect_list" not in plan


def test_entropy_groupby_semantics(spark):
    import duckdb

    vals = "(VALUES " + ",".join(f"({i})" for i in range(50)) + ") t(x)"
    cases = [
        # grouped, varchar values, with a sibling aggregate
        "SELECT x % 3 AS g, round(entropy(CAST(x % 7 AS VARCHAR)), 9) AS h,"
        f" CAST(count(*) AS BIGINT) AS n FROM {vals} GROUP BY g ORDER BY g",
        # grouped with WHERE + an all-null group collapsing to 0.0
        "SELECT x % 2 AS g,"
        " round(entropy(CASE WHEN x % 2 = 0 THEN NULL ELSE x % 4 END), 9) AS h"
        f" FROM {vals} WHERE x < 30 GROUP BY g ORDER BY g",
        # global (no GROUP BY)
        f"SELECT round(entropy(x % 5), 9) AS h FROM {vals}",
        # global over empty source
        f"SELECT entropy(x) AS h FROM {vals} WHERE x < 0",
        # two entropy args in one select
        "SELECT x % 2 AS g, round(entropy(x % 3), 9) AS h1,"
        f" round(entropy(x % 5), 9) AS h2 FROM {vals} GROUP BY g ORDER BY g",
    ]
    for c in cases:
        expected = duckdb.sql(c).fetchall()
        got = [tuple(r) for r in spark.sql(translate(c)).collect()]
        assert got == expected, (c, got, expected)


def test_product_negative_zero_sign(spark):
    """DuckDB multiplies directly, so a zero factor with an odd count of
    negative factors yields IEEE -0.0 — the rewrite must carry the sign
    (0.0 == -0.0 compares equal, so check the sign bit via copysign)."""
    import math

    import duckdb

    cases = [
        ("SELECT product(x) AS r FROM (VALUES (0.0),(-1.01),(2.0)) t(x)", -1.0),
        ("SELECT product(x) AS r FROM (VALUES (0.0),(-1.0),(-2.0)) t(x)", 1.0),
        ("SELECT product(x) AS r FROM (VALUES (0.0),(3.0)) t(x)", 1.0),
        # round() preserves the zero sign in both engines
        (
            "SELECT round(product(x), 6) AS r"
            " FROM (VALUES (0.0),(-5.0),(1.5)) t(x)",
            -1.0,
        ),
    ]
    for c, want_sign in cases:
        expected = duckdb.sql(c).fetchone()[0]
        got = spark.sql(translate(c)).collect()[0][0]
        assert got == 0.0 and expected == 0.0, (c, got, expected)
        assert math.copysign(1.0, expected) == want_sign, (c, expected)
        assert math.copysign(1.0, got) == want_sign, (c, got)


def test_bracket_string_literal_base():
    out = translate("SELECT 'abcdef'[2]").replace(" ", "")
    assert "substring('abcdef',2,1)" in out
    out2 = translate("SELECT 'abcdef'[2:4]").replace(" ", "")
    assert "substring('abcdef'," in out2
    # string base slices use length(), not size()
    out3 = translate("SELECT 'abcdef'[2:-2]")
    assert "length('abcdef')" in out3 and "size" not in out3


def test_bracket_negative_slice_bounds(spark):
    # negative and runtime bounds both take the clamped from-end path;
    # semantics verified against DuckDB in test_text_udfs-style probes
    import duckdb

    for expr in ("([1,2,3,4])[2:-1]", "([1,2,3,4])[-2:]", "([1,2,3,4])[4:2]",
                 "'hello'[2:-1]", "'hello'[0:3]"):
        expected = duckdb.sql(f"SELECT {expr} AS r").fetchone()[0]
        got = spark.sql(translate(f"SELECT {expr} AS r")).collect()[0][0]
        assert (list(got) if isinstance(expected, list) else got) == expected, expr
    # runtime bounds compose the same clamped form
    out3 = translate("SELECT l[a:b] FROM t").replace(" ", "")
    assert "slice(l," in out3 and "CASEWHEN(a)<0" in out3


def test_distinct_on_keeps_surviving_order_by():
    out = translate(
        "SELECT DISTINCT ON (k) k, v FROM t ORDER BY v DESC"
    )
    assert out.rstrip().endswith("ORDER BY v DESC")  # DESC untouched
    # dropped-column ordering falls back to ON keys
    out2 = translate(
        "SELECT DISTINCT ON (k) k, v FROM t ORDER BY k, hidden"
    )
    assert out2.rstrip().rstrip("NULLS LAST ").endswith("ORDER BY k")
    # qualified terms are not liftable to the outer scope
    out3 = translate(
        "SELECT DISTINCT ON (k) k, t.v FROM t ORDER BY t.v"
    )
    assert out3.rstrip().rstrip("NULLS LAST ").endswith("ORDER BY k")


def test_exclude_replace_qualify_composition(spark):
    """DuckDB * EXCLUDE ... REPLACE ... under QUALIFY inside a CTE —
    the scope walk expands the star against the CTE's columns and the
    translator's QUALIFY rewrite wraps the result."""
    import duckdb

    from component_duckdb_transformation_spark.functions.dialect import (
        expand_scopes,
    )

    sql = (
        "WITH base AS (SELECT * FROM (VALUES (1, 10, 'x'), (1, 20, 'y'), "
        "(2, 30, 'z'), (2, 5, 'w')) t(k, v, s)) "
        "SELECT * EXCLUDE (s) REPLACE (v * 2 AS v) FROM base "
        "QUALIFY row_number() OVER (PARTITION BY k ORDER BY v DESC) = 1 "
        "ORDER BY k"
    )
    expected = duckdb.sql(sql).fetchall()
    expanded = expand_scopes(sql, lambda q: spark.sql(translate(q)).columns)
    got = [tuple(r) for r in spark.sql(translate(expanded)).collect()]
    assert got == expected == [(1, 40), (2, 60)]


def test_star_replace_function_call_untouched():
    out = translate("SELECT k * 2, replace(s, 'a', 'b') AS r FROM t")
    assert "replace(s, 'a', 'b')" in out and "EXCEPT" not in out


def test_similarity_and_list_aggregate_shims(spark):
    import duckdb

    cases = [
        "SELECT jaccard('hello', 'world') AS r",
        "SELECT jaccard('aab', 'ab') AS r",  # set semantics, not multiset
        "SELECT CAST(hamming('karolin', 'kathrin') AS BIGINT) AS r",
        "SELECT CAST(mismatches('abc', 'abd') AS BIGINT) AS r",
        "SELECT CAST(list_aggregate([1,2,3], 'sum') AS DOUBLE) AS r",
        "SELECT list_aggr([1,2,3], 'min') AS r",
        "SELECT list_aggregate(['a','b'], 'string_agg', '-') AS r",
        "SELECT CAST(list_aggregate([1,NULL,3], 'count') AS BIGINT) AS r",
        "SELECT format('{} x {} 100%', 1, 'b') AS r",
        "SELECT s FROM (SELECT regexp_split_to_table('a,b;c', '[,;]') AS s)",
    ]
    for c in cases:
        expected = duckdb.sql(c).fetchall()
        got = [tuple(r) for r in spark.sql(translate(c)).collect()]
        assert got == expected, (c, got, expected)


def test_unsupported_lint_narrowed():
    from component_duckdb_transformation_spark.validators.sql_validator import (
        _untranslatable_functions,
    )

    # shimmed shapes no longer lint
    assert not _untranslatable_functions(
        "SELECT jaccard(a, b), list_aggregate(l, 'sum'), format('{}', x) FROM t"
    )
    # unshimmable shapes still do
    assert _untranslatable_functions("SELECT list_aggregate(l, 'median') FROM t")
    assert _untranslatable_functions("SELECT format('{:>8}', x) FROM t")
    assert _untranslatable_functions("SELECT format(f, x) FROM t")
    # icu_sort_key is a registered collation-library UDF now (r8)
    assert not _untranslatable_functions(
        "SELECT icu_sort_key(x, 'de') FROM t"
    )
    # age is a registered UDF + dialect shim now (r6)
    assert not _untranslatable_functions("SELECT age(x) FROM t")
    # format_bytes/bitstring are shims, nfc_normalize a UDF (r6)
    assert not _untranslatable_functions(
        "SELECT format_bytes(n), bitstring(b, 12), nfc_normalize(s) FROM t"
    )
    # histogram is now an aggregate template (COVERAGE.md)
    assert not _untranslatable_functions("SELECT histogram(x) FROM t")


def test_using_sample_rewrite():
    out = translate("SELECT * FROM t USING SAMPLE 10%")
    assert "TABLESAMPLE (10 PERCENT)" in out and "USING" not in out
    out2 = translate("SELECT * FROM t USING SAMPLE 50 ROWS")
    assert "TABLESAMPLE (50 ROWS)" in out2
    out3 = translate("SELECT * FROM t USING SAMPLE 100")
    assert "TABLESAMPLE (100 ROWS)" in out3
    out4 = translate("SELECT * FROM t USING SAMPLE reservoir(20 ROWS)")
    assert "TABLESAMPLE (20 ROWS)" in out4
    out5 = translate("SELECT * FROM t USING SAMPLE 10 PERCENT (bernoulli)")
    assert "TABLESAMPLE (10 PERCENT)" in out5 and "bernoulli" not in out5
    out6 = translate("SELECT * FROM t USING SAMPLE 10% REPEATABLE (42)")
    assert "TABLESAMPLE (10 PERCENT) REPEATABLE (42)" in out6
    # JOIN ... USING (col) untouched
    keep = "SELECT * FROM a JOIN b USING (k)"
    assert translate(keep) == keep


def test_read_parquet_table_function(spark):
    sql = ("SELECT count(*) AS n FROM "
           "read_parquet('/root/testdata/sf0.001/orders.parquet')")
    out = translate(sql)
    assert "parquet.`/root/testdata/sf0.001/orders.parquet`" in out
    assert spark.sql(out).collect()[0].n == 1500


def test_regexp_replace_flag_combos(spark):
    import duckdb

    cases = [
        "SELECT regexp_replace('ABab', 'a', '_', 'gi') AS r",
        "SELECT regexp_replace('ABab', 'a', '_', 'i') AS r",
        "SELECT regexp_replace('ABab', 'a', '_', '') AS r",
        "SELECT regexp_replace('xAByabz', 'AB', '-', 'i') AS r",
    ]
    for c in cases:
        expected = duckdb.sql(c).fetchall()
        got = [tuple(r) for r in spark.sql(translate(c)).collect()]
        assert got == expected, (c, got, expected)
    # unsafe pattern with 'i': flag stripped, case scope kept, 3-arg out
    out = translate("SELECT regexp_replace(s, '^a', 'b', 'i') FROM t")
    assert "'(?i:^a)'" in out and "'i'" not in out


def test_statement_level_unpivot():
    out = translate("UNPIVOT t ON a, b INTO NAME metric VALUE val")
    assert out == "SELECT * FROM t UNPIVOT (val FOR metric IN (a, b))"
    # relational (Spark-style) UNPIVOT untouched
    keep = "SELECT * FROM t UNPIVOT (v FOR k IN (a, b))"
    assert translate(keep) == keep


def test_from_first_queries(spark):
    import duckdb

    con = duckdb.connect()
    con.execute("CREATE TABLE fft AS SELECT * FROM "
                "(VALUES (1,'a'),(2,'b'),(3,'c')) v(id, s)")
    spark.sql("SELECT * FROM (VALUES (1,'a'),(2,'b'),(3,'c')) v(id, s)"
              ).createOrReplaceTempView("fft")
    cases = [
        "FROM fft",
        "FROM fft WHERE id > 1",
        "FROM fft SELECT s WHERE id > 1",
        "FROM fft SELECT id * 2 AS d ORDER BY id",
        "SELECT * FROM (FROM fft WHERE id = 2)",
        "WITH c AS (FROM fft WHERE id >= 2) SELECT count(*) AS n FROM c",
        "SELECT id FROM fft WHERE EXISTS (FROM fft f2 WHERE f2.id = fft.id + 1)",
    ]
    for c in cases:
        expected = sorted(con.execute(c).fetchall())
        got = sorted(tuple(r) for r in spark.sql(translate(c)).collect())
        assert got == expected, (c, got, expected)


def test_from_arg_functions_keep_string_args():
    # a string after trim/extract-style FROM is data, not a table name
    out = translate("SELECT trim(BOTH ' ' FROM '  x  ')")
    assert "'  x  '" in out and "`" not in out
    out2 = translate("SELECT substring('hello' FROM 2 FOR 3)")
    assert "'hello'" in out2
    # real FROM-table string literals still become backticked names
    assert "`days.csv`" in translate("SELECT * FROM 'days.csv'")


def test_case_operand_capture(spark):
    """CASE ... END is a valid operand of /, %, //, ^, ** and ::cast —
    the divisor-capture and operand-pop passes must treat it as one
    primary (ADVICE r5: div-by-CASE guards are a common pattern)."""
    import duckdb

    cases = [
        "SELECT 10 / CASE WHEN 1 = 2 THEN 0 ELSE 4 END AS r",
        "SELECT 10 / CASE WHEN 1 = 1 THEN 0 ELSE 4 END AS r",
        "SELECT 10 % CASE WHEN 1 = 1 THEN 3 ELSE 4 END AS r",
        "SELECT 10 // CASE WHEN 1 = 1 THEN 3 ELSE 4 END AS r",
        "SELECT CASE WHEN 1 = 1 THEN 3 ELSE 4 END ^ 2 AS r",
        "SELECT 2 ** CASE WHEN 1 = 1 THEN 3 ELSE 4 END AS r",
        "SELECT CASE WHEN 1 = 1 THEN 2.7 ELSE 0 END::BIGINT AS r",
        # nested CASE in the divisor
        "SELECT 12 / CASE WHEN 1 = 1 THEN CASE WHEN 2 = 2 THEN 4 ELSE 6 END"
        " ELSE 1 END AS r",
        # simple (valued) CASE form
        "SELECT 10 / CASE 2 WHEN 2 THEN 5 ELSE 1 END AS r",
        # CASE containing a division of its own
        "SELECT 1 + CASE WHEN 1 = 1 THEN 10 / 4 ELSE 0 END AS r",
    ]
    for c in cases:
        expected = duckdb.sql(c).fetchall()
        got = [tuple(r) for r in spark.sql(translate(c)).collect()]
        norm = lambda rows: [
            tuple(float(v) if v is not None else None for v in r) for r in rows
        ]
        assert norm(got) == norm(expected), (c, got, expected)


def test_date_diff_unit_aliases(spark):
    """Every DuckDB datepart alias (s/ms/us/mon/w/...) maps to the
    right Spark unit; the old rstrip('S') normalization emitted empty
    or invalid units for the short forms (ADVICE r5)."""
    import duckdb

    pairs = [
        ("TIMESTAMP '2020-01-31 22:59:58.123455'",
         "TIMESTAMP '2021-03-02 01:01:01.987654'"),
        ("TIMESTAMP '2021-03-02 01:01:01.987654'",
         "TIMESTAMP '2020-01-31 22:59:58.123455'"),
        ("TIMESTAMP '1999-12-31 23:59:59.999999'",
         "TIMESTAMP '2000-01-01 00:00:00.000001'"),
    ]
    units = ["y", "yr", "years", "quarter", "mon", "months", "w", "week",
             "weekofyear", "d", "days", "doy", "dow", "h", "hr", "hours",
             "m", "min", "minutes", "s", "sec", "seconds", "ms", "msec",
             "milliseconds", "us", "usec", "microseconds", "dec", "decade",
             "c", "century", "mil", "millennium"]
    for a, b in pairs:
        for u in units:
            for fn in ("date_diff", "date_sub"):
                c = f"SELECT {fn}('{u}', {a}, {b}) AS r"
                expected = duckdb.sql(c).fetchall()
                got = [tuple(r) for r in spark.sql(translate(c)).collect()]
                assert got == expected, (c, got, expected)


def test_concat_per_arg_varchar_cast(spark):
    """DuckDB concat() casts each argument to VARCHAR; Spark concat_ws
    would otherwise flatten ARRAY arguments and join their elements
    ('123' instead of '[1, 2][3]') — ADVICE r5."""
    import duckdb

    cases = [
        "SELECT concat([1,2],[3]) AS r",
        "SELECT concat(['a','b'],'x') AS r",
        "SELECT concat(TRUE, DATE '2020-01-02') AS r",
        "SELECT concat(NULL, 'x', NULL, 'y') AS r",
        "SELECT concat('a', 'b', 'c') AS r",
        "SELECT concat(1, 2.5, 'z') AS r",
        # nested concat
        "SELECT concat('a', concat([1], 'b')) AS r",
    ]
    for c in cases:
        expected = duckdb.sql(c).fetchall()
        got = [tuple(r) for r in spark.sql(translate(c)).collect()]
        assert got == expected, (c, got, expected)


def test_asof_join_select_star_schema(spark):
    """SELECT * / alias.* over a rewritten ASOF JOIN must NOT expose
    the __asof_end helper column (VERDICT r5 #1) — columns and values
    diff against DuckDB's native asof join."""
    import duckdb
    import pandas as pd

    con = duckdb.connect()
    con.execute("CREATE TABLE tr(k VARCHAR, ts INT, px INT)")
    con.execute("INSERT INTO tr VALUES ('a',1,10),('a',5,50),('a',9,90),('b',3,30)")
    con.execute("CREATE TABLE ev(k VARCHAR, ts INT)")
    con.execute("INSERT INTO ev VALUES ('a',0),('a',1),('a',6),('b',3),('c',5)")
    spark.createDataFrame(
        pd.DataFrame([("a", 1, 10), ("a", 5, 50), ("a", 9, 90), ("b", 3, 30)],
                     columns=["k", "ts", "px"])
    ).createOrReplaceTempView("tr")
    spark.createDataFrame(
        pd.DataFrame([("a", 0), ("a", 1), ("a", 6), ("b", 3), ("c", 5)],
                     columns=["k", "ts"])
    ).createOrReplaceTempView("ev")
    shapes = [
        "SELECT * FROM ev ASOF JOIN tr ON ev.k = tr.k AND ev.ts >= tr.ts"
        " ORDER BY ev.k, ev.ts",
        "SELECT * FROM ev ASOF LEFT JOIN tr ON ev.k = tr.k AND ev.ts >= tr.ts"
        " ORDER BY ev.k, ev.ts",
        "SELECT ev.*, tr.* FROM ev ASOF JOIN tr ON ev.k = tr.k AND"
        " ev.ts >= tr.ts ORDER BY ev.k, ev.ts",
        "SELECT tr.* FROM ev ASOF JOIN tr ON ev.k = tr.k AND ev.ts >= tr.ts"
        " ORDER BY ev.k, ev.ts",
        "SELECT * EXCLUDE (px) FROM ev ASOF JOIN tr ON ev.k = tr.k AND"
        " ev.ts >= tr.ts ORDER BY ev.k, ev.ts",
        "WITH c AS (SELECT * FROM ev ASOF JOIN tr ON ev.k = tr.k AND"
        " ev.ts >= tr.ts) SELECT count(*) AS n FROM c",
    ]
    for q in shapes:
        cur = con.execute(q)
        exp_cols = [d[0] for d in cur.description]
        expected = cur.fetchall()
        sdf = spark.sql(translate(q))
        assert sdf.columns == exp_cols, (q, sdf.columns, exp_cols)
        got = [tuple(r) for r in sdf.collect()]
        assert got == expected, (q, got, expected)


def test_union_by_name_expansion(spark):
    """expand_scopes' UNION BY NAME differential battery vs DuckDB: chained,
    case-insensitive merge, nested subquery, mixed positional+BY NAME,
    trailing ORDER/LIMIT, WITH scoping."""
    import duckdb

    from component_duckdb_transformation_spark.functions.dialect import (
        expand_scopes,
    )

    con = duckdb.connect()

    def res(s):
        try:
            return spark.sql(translate(s)).columns
        except Exception:  # noqa: BLE001
            return None

    key = lambda rows: sorted(
        rows, key=lambda r: tuple((v is None, str(v)) for v in r)
    )
    cases = [
        "SELECT 1 a, 2 b UNION ALL BY NAME SELECT 3 b, 4 c",
        "SELECT 1 a, 2 b UNION BY NAME SELECT 2 b, 1 a",
        "SELECT 1 a UNION BY NAME SELECT 1 a UNION BY NAME SELECT 2 b",
        "SELECT 1 a, 2 b UNION ALL BY NAME SELECT 3 b, 4 c ORDER BY b DESC",
        "WITH c AS (SELECT 5 x) SELECT x, 1 AS a FROM c "
        "UNION BY NAME SELECT x AS y FROM c",
        "SELECT 1 a UNION ALL SELECT 2 UNION ALL BY NAME SELECT 3 b",
        "SELECT * FROM (SELECT 1 a UNION BY NAME SELECT 2 b) ORDER BY a",
        "SELECT 10 A, 2 b UNION ALL BY NAME SELECT 3 B, 4 a "
        "ORDER BY a NULLS FIRST, b",
        "SELECT 1 a, 2 b UNION ALL BY NAME SELECT 3 b, 4 c LIMIT 2",
    ]
    for c in cases:
        exp = expand_scopes(c, res)
        assert exp != c, c  # expansion must trigger
        sdf = spark.sql(translate(exp))
        cur = con.execute(c)
        assert sdf.columns == [d[0] for d in cur.description], c
        assert key(tuple(r) for r in sdf.collect()) == key(cur.fetchall()), c
    # no BY NAME -> untouched
    plain = "SELECT 1 a UNION ALL SELECT 2"
    assert expand_scopes(plain, res) == plain


def test_polymorphic_len_on_list_expressions(spark):
    """DuckDB len()/length() are polymorphic over strings and lists
    (len([1,2]) = 2); Spark's are string-only, so list-shaped arguments
    dispatch to size()."""
    import duckdb

    cases = [
        "SELECT len([1, 2, 3]) AS v",
        "SELECT length([1, 2]) AS v",
        "SELECT len(list_filter([4.0, 5.0, 2.0], x -> x > 3)) AS v",
        "SELECT len(string_split('a b c', ' ')) AS v",
        "SELECT len('abc') AS v",
        "SELECT length('abcd') AS v",
    ]
    con = duckdb.connect()
    for c in cases:
        got = spark.sql(translate(c)).collect()[0][0]
        want = con.execute(c).fetchone()[0]
        assert got == want, (c, got, want)


def test_list_aggregate_null_and_empty_semantics(spark):
    """list_aggregate follows SQL aggregate semantics in DuckDB: NULL
    elements skipped, empty/all-NULL input yields NULL (not 0 for sum,
    no division-by-zero for avg)."""
    import math

    import duckdb

    cases = [
        "SELECT list_aggregate(list_filter([1.0, 2.0], x -> x > 99), 'sum') AS v",
        "SELECT list_aggregate(list_filter([1.0, 2.0], x -> x > 99), 'avg') AS v",
        "SELECT list_aggregate([1.0, NULL, 2.0], 'sum') AS v",
        "SELECT list_aggregate([1.0, NULL, 2.0], 'avg') AS v",
        "SELECT list_aggregate([NULL, NULL], 'sum') AS v",
        "SELECT list_aggregate([1.5, 2.5], 'sum') AS v",
        "SELECT list_aggregate([1.5, 2.5], 'avg') AS v",
    ]
    con = duckdb.connect()
    for c in cases:
        got = spark.sql(translate(c)).collect()[0][0]
        want = con.execute(c).fetchone()[0]
        if got is None or want is None:
            assert got is None and want is None, (c, got, want)
        else:
            assert math.isclose(float(got), float(want)), (c, got, want)


def test_date_trunc_typing_follows_version_pin():
    """Pinned duckdb_version 1.4/1.5 keeps the era's TIMESTAMP typing
    for day-or-coarser date_trunc; unpinned/latest/1.6+ gets current
    DuckDB's DATE (VERDICT r5 item 7; reference src/versions.py:19-38)."""
    from component_duckdb_transformation_spark import (
        set_requested_engine_version,
    )

    q = "SELECT date_trunc('month', d) FROM t"
    try:
        for pin in (None, "latest", "1.6.0"):
            set_requested_engine_version(pin)
            assert "AS DATE" in translate(q), pin
        for pin in ("1.4.4", "1.5.2"):
            set_requested_engine_version(pin)
            out = translate(q)
            assert "AS DATE" not in out and "date_trunc('month', d)" in out, pin
    finally:
        set_requested_engine_version(None)


def test_round_double_matches_duckdb_exactly(spark):
    """round() on DOUBLE reproduces DuckDB's scaled-multiply +
    std::round (half away from zero on the SCALED binary double) —
    including representation boundaries where Spark's decimal-string
    HALF_UP flips the last digit, overflow passthrough, and -0.0."""
    import math

    import duckdb

    con = duckdb.connect()
    cases = [
        "SELECT round(CAST(-33239.3875 AS DOUBLE), 3) AS v",
        "SELECT round(CAST(2.675 AS DOUBLE), 2) AS v",
        "SELECT round(CAST(0.125 AS DOUBLE), 2) AS v",
        "SELECT round(CAST(-0.125 AS DOUBLE), 2) AS v",
        "SELECT round(CAST(2.5 AS DOUBLE)) AS v",
        "SELECT round(CAST(-2.5 AS DOUBLE)) AS v",
        "SELECT round(1.0e308, 3) AS v",
        "SELECT round(CAST('inf' AS DOUBLE), 2) AS v",
        "SELECT round(CAST(4.45 AS DOUBLE), 1) AS v",
        "SELECT round(CAST(NULL AS DOUBLE), 2) AS v",
        "SELECT round(5, 2) AS v",  # DuckDB int round returns DOUBLE
        "SELECT round(CAST(-0.3 AS DOUBLE)) AS v",  # -0.0, sign kept
    ]
    for c in cases:
        want = con.execute(c).fetchone()[0]
        got = spark.sql(translate(c)).collect()[0][0]
        if want is None or got is None:
            assert want is None and got is None, c
        else:
            wf, gf = float(want), float(got)
            assert (math.isnan(wf) and math.isnan(gf)) or wf == gf, (
                c, want, got,
            )
            assert math.copysign(1.0, wf) == math.copysign(1.0, gf), c
    # NaN separately (fetchone returns nan)
    wn = con.execute("SELECT round(CAST('nan' AS DOUBLE), 2)").fetchone()[0]
    gn = spark.sql(translate("SELECT round(CAST('nan' AS DOUBLE), 2) AS v")).collect()[0][0]
    assert math.isnan(wn) and math.isnan(gn)


def test_format_bytes_bitstring_nfc_normalize(spark):
    """format_bytes/bitstring/nfc_normalize match DuckDB (shims + UDF;
    moved off the validator's unsupported list in round 6)."""
    import duckdb

    con = duckdb.connect()
    cases = [
        "SELECT format_bytes(0) AS v",
        "SELECT format_bytes(1) AS v",
        "SELECT format_bytes(-1) AS v",
        "SELECT format_bytes(1000) AS v",
        "SELECT format_bytes(1023) AS v",
        "SELECT format_bytes(1024) AS v",
        "SELECT format_bytes(1280) AS v",   # 1.25 -> half-even '1.2'
        "SELECT format_bytes(-2048) AS v",
        "SELECT format_bytes(123456789) AS v",
        "SELECT format_bytes(1024*1024) AS v",
        "SELECT format_bytes(1073741824) AS v",
        "SELECT format_bytes(1125899906842624) AS v",
        "SELECT format_bytes(1152921504606846976) AS v",  # 1024.0 PiB
        "SELECT format_bytes(10188) AS v",
        "SELECT format_bytes(NULL) AS v",
        "SELECT bitstring('0101011', 12) AS v",
        "SELECT nfc_normalize('é') AS v",  # NFD input -> NFC
        "SELECT nfc_normalize(NULL) AS v",
    ]
    for c in cases:
        want = con.execute(c).fetchone()[0]
        got = spark.sql(translate(c)).collect()[0][0]
        assert str(got) == str(want) or (got is None and want is None), (
            c, got, want,
        )
    # bitstring with too-small length raises in both engines
    import pytest as _pytest

    with _pytest.raises(Exception):
        con.execute("SELECT bitstring('0101011', 3)").fetchone()
    with _pytest.raises(Exception):
        spark.sql(translate("SELECT bitstring('0101011', 3) AS v")).collect()


def test_round_double_negative_scale(spark):
    """Negative literal scales divide-then-multiply like DuckDB
    (round(125.0, -1) = 130.0 — half away on value/10^|k|)."""
    import duckdb

    con = duckdb.connect()
    cases = [
        "SELECT round(CAST(123.456 AS DOUBLE), -1) AS v",
        "SELECT round(CAST(125.0 AS DOUBLE), -1) AS v",
        "SELECT round(CAST(-125.0 AS DOUBLE), -1) AS v",
        "SELECT round(CAST(1250.0 AS DOUBLE), -2) AS v",
        "SELECT round(CAST(123456.0 AS DOUBLE), -3) AS v",
        "SELECT round(CAST(5.0 AS DOUBLE), -1) AS v",
        "SELECT round(CAST(4.9 AS DOUBLE), -1) AS v",
        "SELECT round(CAST(1e300 AS DOUBLE), -5) AS v",
    ]
    for c in cases:
        want = con.execute(c).fetchone()[0]
        got = spark.sql(translate(c)).collect()[0][0]
        assert float(got) == float(want), (c, got, want)


def test_distinct_on_aliased_key_with_hidden_order_columns(spark):
    """DISTINCT ON (c) with `c AS alias` in the projection and ORDER BY
    columns the projection drops: the rewrite's outer ORDER BY must use
    the OUTPUT name (round-6 fuzz find — previously emitted the inner
    column name and failed resolution)."""
    import duckdb

    q = (
        "SELECT DISTINCT ON (l_returnflag) l_returnflag AS grp, "
        "l_orderkey, l_linenumber, l_quantity FROM lineitem "
        "ORDER BY l_returnflag, l_orderkey, l_linenumber, l_partkey, "
        "l_suppkey, l_extendedprice"
    )
    sf = "/root/testdata/sf0.001"
    from component_duckdb_transformation_spark.sources.parquet_io import (
        read_parquet,
    )

    read_parquet(spark, f"{sf}/lineitem.parquet").createOrReplaceTempView(
        "lineitem"
    )
    con = duckdb.connect()
    con.execute(
        f"CREATE VIEW lineitem AS FROM read_parquet('{sf}/lineitem.parquet')"
    )
    want = sorted(tuple(r) for r in con.execute(q).fetchall())
    got = sorted(tuple(r) for r in spark.sql(translate(q)).collect())
    assert got == want


def test_series_table_functions(spark):
    """FROM-position generate_series (inclusive, column named
    generate_series) and range (exclusive, column named range),
    integer and temporal forms — diffed vs DuckDB (round 6)."""
    import datetime

    import duckdb

    con = duckdb.connect()
    cases = [
        "SELECT * FROM generate_series(1, 4)",
        "SELECT * FROM generate_series(0, 10, 2)",
        "SELECT g.generate_series AS v FROM generate_series(1, 3) g",
        "SELECT r.range AS v FROM range(3) r",
        "SELECT * FROM range(2, 8, 3)",
        "SELECT d.range AS v FROM range(DATE '2024-01-01', "
        "DATE '2024-01-04', INTERVAL 1 DAY) d",
        "SELECT g.generate_series AS v FROM generate_series("
        "DATE '2024-01-01', DATE '2024-01-03', INTERVAL 1 DAY) g",
        "SELECT count(*) AS n FROM range(3) r JOIN generate_series(0, 2) g "
        "ON r.range = g.generate_series",
        "SELECT generate_series(1, 3) AS v",  # scalar position: a LIST
    ]

    def norm(rows):
        return [
            tuple(
                v.replace(tzinfo=None)
                if isinstance(v, datetime.datetime)
                else v
                for v in r
            )
            for r in rows
        ]

    for q in cases:
        want = norm(con.execute(q).fetchall())
        got = norm(tuple(r) for r in spark.sql(translate(q)).collect())
        assert str(want) == str(got), (q, want[:4], got[:4])
