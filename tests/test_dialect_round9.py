"""Round-9 closing surfaces: built-in window mad for full-partition
frames (off the pandas UDAF, and fixing the previously-invalid hinted
temporal window form), plus the round-9 runtime-regexp / hint /
round() parity items added later this round.

Reference behaviors verified against DuckDB in-process (the same
oracle the driver uses)."""

from __future__ import annotations

import os

import duckdb
import pytest

from component_duckdb_transformation_spark.functions.dialect import (
    column_type_hints,
    translate,
)

SF = "/root/testdata/sf0.01"


def _duck(sf=SF):
    con = duckdb.connect()
    for t in ("part", "orders", "lineitem"):
        con.execute(
            f"CREATE VIEW {t} AS FROM read_parquet('{sf}/{t}.parquet')"
        )
    return con


def _spark_views(spark, sf=SF):
    for t in ("part", "orders", "lineitem"):
        spark.read.parquet(f"{sf}/{t}.parquet").createOrReplaceTempView(t)


@pytest.mark.parametrize(
    "sql",
    [
        # no ORDER BY -> whole-partition frame
        "SELECT p_partkey, mad(p_retailprice) OVER (PARTITION BY p_brand)"
        " AS m FROM part ORDER BY p_partkey",
        # explicit unbounded frame with ORDER BY
        "SELECT p_partkey, mad(p_retailprice) OVER (PARTITION BY p_brand "
        "ORDER BY p_partkey ROWS BETWEEN UNBOUNDED PRECEDING AND "
        "UNBOUNDED FOLLOWING) AS m FROM part ORDER BY p_partkey",
        # empty spec: one global partition
        "SELECT p_partkey, mad(p_size) OVER () AS m FROM part "
        "ORDER BY p_partkey",
        # WHERE belongs to the window input; expression argument
        "SELECT p_partkey, mad(p_retailprice * 2) OVER "
        "(PARTITION BY p_type) AS m FROM part "
        "WHERE p_size > 10 ORDER BY p_partkey",
        # alongside another window function and a computed item
        "SELECT p_partkey, p_size + 1 AS s1, "
        "row_number() OVER (PARTITION BY p_brand ORDER BY p_partkey) AS rn, "
        "mad(p_retailprice) OVER (PARTITION BY p_brand) AS m "
        "FROM part ORDER BY p_partkey",
    ],
)
def test_window_mad_full_partition_parity(spark, sql):
    con = _duck()
    _spark_views(spark)
    want = con.execute(sql).fetchall()
    got = [tuple(r) for r in spark.sql(translate(sql)).collect()]
    assert len(got) == len(want)
    for g, w in zip(got, want):
        for gv, wv in zip(g, w):
            if isinstance(wv, float):
                assert gv == pytest.approx(float(wv), abs=1e-9)
            else:
                assert gv == wv


def test_window_mad_star_select(spark):
    con = _duck()
    _spark_views(spark)
    sql = (
        "SELECT *, mad(p_retailprice) OVER (PARTITION BY p_brand) AS m "
        "FROM part WHERE p_partkey <= 50 ORDER BY p_partkey"
    )
    want = con.execute(sql).fetchall()
    got = [tuple(r) for r in spark.sql(translate(sql)).collect()]
    assert len(got) == len(want)
    # same width: helper columns must not leak through the star
    assert len(got[0]) == len(want[0])
    for g, w in zip(got, want):
        assert g[0] == w[0]
        assert g[-1] == pytest.approx(float(w[-1]), abs=1e-9)


def test_window_mad_running_frame_lowered_inplace_and_matches(spark):
    # ORDER BY without explicit frame = running frame. Round 10: lowered
    # in place onto collect_list-frame medians (r9 kept the pandas UDAF
    # here; this was the last Python crossing in the window path)
    con = _duck()
    _spark_views(spark)
    sql = (
        "SELECT p_partkey, mad(p_retailprice) OVER (PARTITION BY p_brand "
        "ORDER BY p_partkey) AS m FROM part WHERE p_partkey <= 200 "
        "ORDER BY p_partkey"
    )
    out = translate(sql)
    assert "mad(" not in out  # lowered to the frame-median template
    assert "collect_list" in out
    want = con.execute(sql).fetchall()
    got = [tuple(r) for r in spark.sql(out).collect()]
    for g, w in zip(got, want):
        assert g[1] == pytest.approx(float(w[1]), abs=1e-9)


def test_window_mad_temporal_hinted(spark):
    # previously emitted invalid SQL (make_dt_interval(...) OVER w)
    con = _duck()
    _spark_views(spark)
    sql = (
        "SELECT o_orderkey, mad(o_orderdate) OVER "
        "(PARTITION BY o_orderpriority) AS m FROM orders "
        "WHERE o_orderkey <= 1000 ORDER BY o_orderkey"
    )
    want = con.execute(sql).fetchall()
    with column_type_hints({"o_orderdate": "date"}):
        out = translate(sql)
    got = [tuple(r) for r in spark.sql(out).collect()]
    assert len(got) == len(want)
    for g, w in zip(got, want):
        assert g[1] == w[1], (g, w)


def test_window_mad_unbounded_plan_is_pandas_free(spark):
    _spark_views(spark)
    sql = (
        "SELECT p_partkey, mad(p_retailprice) OVER (PARTITION BY p_brand)"
        " AS m FROM part"
    )
    plan = spark.sql(translate(sql))._jdf.queryExecution().executedPlan().toString()
    assert "AggregateInPandas" not in plan and "ArrowEvalPython" not in plan
    assert "percentile" in plan  # median lowers to percentile(...,0.5)


def test_window_mad_bails_preserve_old_paths(spark):
    # grouped query: window mad over group rows keeps the UDAF (bail)
    out = translate(
        "SELECT p_brand, mad(sum(p_size)) OVER () AS m FROM part "
        "GROUP BY p_brand"
    )
    assert "median(abs(" not in out
    # qualified reference in the select list: bail (wrap would unbind)
    out = translate(
        "SELECT part.p_partkey, mad(p_size) OVER () AS m FROM part"
    )
    assert "__madw" not in out
    # set operation: each branch handled independently
    out = translate(
        "SELECT mad(p_size) OVER () AS m FROM part UNION ALL "
        "SELECT p_size * 1.0 FROM part"
    )
    assert out.count("__madw") == 1


RUNTIME_REGEXP_ROWS = (
    # (pattern, replacement, flags) — exercised as COLUMN values
    ("a(b)", r"<\1>", None),      # in-range ref
    ("a(b)", r"<\2>", None),      # out-of-range ref -> no-op
    ("a(b)", r"<\2>", "g"),       # out-of-range ref, global -> no-op
    ("a(", "X", None),            # invalid pattern -> no-op
    ("a(", "X", "g"),             # invalid pattern, global -> no-op
    ("[(](b)", r"<\1>", None),    # class-contained paren not a group
    ("[(](b)", r"<\2>", None),    # ...so \2 is out of range
    ("(?P<n>a)(b)", r"<\2>", None),  # named group counts toward refs
    ("a(b)", "X\\qY", None),      # invalid escape -> no-op
    ("a(b)", "X\\qY", "g"),       # invalid escape, global -> truncate
    ("a(b)", "X\\q\\9Y", "g"),    # OOB after invalid escape -> no-op
    ("a(b)(c)?", r"[\2]", None),  # unmatched optional group
    (None, "X", None),            # NULL pattern -> NULL
    ("b", None, None),            # NULL replacement -> NULL
)


@pytest.mark.parametrize("subject", ["abc", "a(bc"])
def test_runtime_regexp_replace_noop_parity(spark, subject):
    """Runtime (column-valued) patterns/replacements: DuckDB no-ops on
    invalid pattern values and out-of-range refs where Java raises —
    the r8 divergences closed in r9."""
    con = duckdb.connect()
    con.execute(
        "CREATE TABLE rr (id INT, p VARCHAR, r VARCHAR, f VARCHAR)"
    )
    for i, (p, r, f) in enumerate(RUNTIME_REGEXP_ROWS):
        con.execute("INSERT INTO rr VALUES (?, ?, ?, ?)", [i, p, r, f])
    rows = ", ".join(
        "({}, {}, {}, {})".format(
            i,
            "NULL" if p is None else "'" + p.replace("\\", "\\\\").replace("'", "''") + "'",
            "NULL" if r is None else "'" + r.replace("\\", "\\\\").replace("'", "''") + "'",
            "NULL" if f is None else f"'{f}'",
        )
        for i, (p, r, f) in enumerate(RUNTIME_REGEXP_ROWS)
    )
    spark.sql(
        f"CREATE OR REPLACE TEMP VIEW rr AS SELECT * FROM VALUES {rows} "
        "t(id, p, r, f)"
    )
    for form in (
        f"SELECT id, regexp_replace('{subject}', p, r) AS o FROM rr "
        "WHERE f IS NULL ORDER BY id",
        f"SELECT id, regexp_replace('{subject}', p, r, 'g') AS o FROM rr "
        "WHERE f = 'g' ORDER BY id",
    ):
        want = con.execute(form).fetchall()
        got = [tuple(x) for x in spark.sql(translate(form)).collect()]
        assert got == want, (form, got, want)


def test_runtime_regexp_replace_mixed_literal_sides(spark):
    # literal replacement + runtime pattern, and vice versa
    con = duckdb.connect()
    con.execute("CREATE TABLE rp AS SELECT * FROM (VALUES "
                "('a(b)'), ('a('), ('(x)(y)'), ('[)]')) t(p)")
    spark.sql("CREATE OR REPLACE TEMP VIEW rp AS SELECT * FROM VALUES "
              "('a(b)'), ('a('), ('(x)(y)'), ('[)]') t(p)")
    for form in (
        r"SELECT regexp_replace('a(b) x)y', p, '<\2>') AS o FROM rp",
        r"SELECT regexp_replace('a(b) x)y', p, '<\1>', 'g') AS o FROM rp",
        r"SELECT regexp_replace('a(b) x)y', p, '<\3>', 'g') AS o FROM rp",
    ):
        want = con.execute(form).fetchall()
        got = [tuple(x) for x in spark.sql(translate(form)).collect()]
        assert got == want, (form, got, want)


def test_hint_invalidation_bare_alias_and_from_column_lists(spark):
    """AS-less select-item aliases and FROM-alias column lists rebind
    names just like 'AS name' — stale hints must drop (previously only
    AS rebinds invalidated, so 'SELECT expr name' mis-dispatched a
    hinted len()/bracket/time-wrap)."""
    from component_duckdb_transformation_spark.plans.executor import (
        statement_type_hints,
    )

    spark.sql(
        "CREATE OR REPLACE TEMP VIEW hint_t AS SELECT array('a','b') AS "
        "tags, 'x' AS tt, 1 AS k"
    )
    deps = ["hint_t"]

    def hints(sql):
        return statement_type_hints(spark, sql, deps)

    assert hints("SELECT len(tags) FROM hint_t")["tags"].startswith("array")
    # bare alias terminates with FROM
    assert "tt" not in hints("SELECT k + 1 tt FROM hint_t")
    # bare alias terminates with comma; qualified expression before it
    assert "tt" not in hints("SELECT h.k tt, tags FROM hint_t h")
    # bare alias after a CASE END / paren close
    assert "tt" not in hints(
        "SELECT CASE WHEN k = 1 THEN 2 ELSE 3 END tt FROM hint_t"
    )
    assert "tags" not in hints("SELECT (k + 1) tags FROM hint_t")
    # bare alias after an interval unit
    assert "tt" not in hints(
        "SELECT now() + INTERVAL 3 HOUR tt FROM hint_t"
    )
    # plain projections do NOT drop
    h = hints("SELECT tags, tt FROM hint_t ORDER BY k")
    assert "tags" in h and "tt" in h
    # FROM-alias column list rebinds the listed names
    assert "tags" not in hints(
        "SELECT tags FROM (SELECT tt FROM hint_t) x(tags)"
    )
    assert "tt" not in hints("SELECT tt FROM (VALUES (1), (2)) v(tt)")
    # ...but a function call in FROM position does not false-drop
    h = hints("SELECT tags FROM hint_t, generate_series(1, 3) g(i)")
    assert "tags" in h and "i" not in h


def test_hint_bare_alias_end_to_end_dispatch(spark):
    # the ADVICE repro shape: a bare-aliased rebind shadows an
    # ARRAY-hinted name; len() must dispatch as string length, not
    # size() (which would be an AnalysisException on a string)
    from component_duckdb_transformation_spark.plans.executor import (
        statement_type_hints,
    )

    spark.sql(
        "CREATE OR REPLACE TEMP VIEW hint_t2 AS SELECT array('a','b') AS "
        "tt, 'hello' AS s"
    )
    sql = "SELECT len(tt) AS n FROM (SELECT s tt FROM hint_t2) q"
    h = statement_type_hints(spark, sql, ["hint_t2"])
    assert "tt" not in h
    with column_type_hints(h):
        out = translate(sql)
    assert spark.sql(out).collect()[0][0] == 5


@pytest.mark.parametrize(
    "sql",
    [
        # the ADVICE repro: keys AFTER the aggregate item — positions
        # shift in the restructured base select list, so the base
        # GROUP BY must be rebuilt from the resolved expressions
        "SELECT p_brand, mad(p_retailprice) AS m, p_size FROM part "
        "GROUP BY 1, 3 ORDER BY p_brand, p_size",
        "SELECT p_brand, entropy(p_size) AS e, p_type FROM part "
        "GROUP BY 1, 3 ORDER BY p_brand, p_type",
        "SELECT upper(p_brand) AS ub, mad(p_retailprice) AS m, "
        "p_size % 3 AS s3 FROM part GROUP BY 1, 3 ORDER BY ub, s3",
        # mixed ordinal + name, aggregate in the middle
        "SELECT p_brand, mad(p_retailprice) AS m, p_size FROM part "
        "GROUP BY p_brand, 3 ORDER BY p_brand, p_size",
    ],
)
def test_mad_entropy_ordinal_keys_after_aggregate(spark, sql):
    con = _duck()
    _spark_views(spark)
    want = con.execute(sql).fetchall()
    got = [tuple(r) for r in spark.sql(translate(sql)).collect()]
    assert len(got) == len(want)
    for g, w in zip(got, want):
        for gv, wv in zip(g, w):
            if isinstance(wv, float):
                assert gv == pytest.approx(float(wv), abs=1e-9)
            else:
                assert gv == wv


def test_format_single_binding_and_null_guard(spark):
    # format() args bind once: the NULL guard and the rendered value
    # see the SAME evaluation even for volatile arguments
    con = _duck()
    _spark_views(spark)
    for sql in (
        "SELECT format('{} x {:5}', p_size, p_retailprice) AS f "
        "FROM part ORDER BY p_partkey LIMIT 20",
        "SELECT format('{:.2f}|{:>0}', p_retailprice, p_name) AS f "
        "FROM part ORDER BY p_partkey LIMIT 5"
        if False else
        "SELECT format('{:.2f}', p_retailprice) AS f "
        "FROM part ORDER BY p_partkey LIMIT 20",
        "SELECT format('{}', NULL) AS f",
    ):
        want = con.execute(sql).fetchall()
        got = [tuple(r) for r in spark.sql(translate(sql)).collect()]
        assert got == want, (sql, got, want)
    # volatile arg: guard and render agree (no NULL leak-through, and
    # exactly one evaluation feeds both) — rand() is never NULL, so a
    # double evaluation can't be observed via NULL, but a sequence-like
    # nondeterministic value must round-trip through format intact
    out = spark.sql(
        translate("SELECT format('{}', CAST(rand() * 1e9 AS BIGINT)) AS f")
    ).collect()[0][0]
    assert out is not None and out.isdigit()


def test_positional_join_shuffled_temp_view(spark):
    # a temp view registered outside TableStore over a shuffled
    # DataFrame still pairs rows 1:1 with no loss through POSITIONAL
    # JOIN
    spark.range(0, 100).selectExpr(
        "id", "CAST(id % 7 AS INT) AS g"
    ).groupBy("g").count().createOrReplaceTempView("pos_unreg_r9")
    spark.sql(
        "SELECT explode(sequence(1, 7)) AS n"
    ).createOrReplaceTempView("pos_seq_r9")
    out = spark.sql(
        translate(
            "SELECT * FROM pos_seq_r9 POSITIONAL JOIN pos_unreg_r9"
        )
    ).collect()
    assert len(out) == 7
    assert sorted(r.n for r in out) == list(range(1, 8))
    assert sorted(r.g for r in out) == list(range(7))


def test_round_dynamic_scale_parity(spark):
    """round(x, k) with a COLUMN-valued scale: Spark rejects a
    non-foldable scale outright, so the dynamic form lowers to the
    DuckDB-exact scaled-multiply arithmetic with a runtime power."""
    con = _duck()
    _spark_views(spark)
    for sql in (
        "SELECT p_partkey, round(p_retailprice, p_size % 4) AS r "
        "FROM part ORDER BY p_partkey",
        "SELECT p_partkey, round(p_retailprice, -(p_size % 3)) AS r "
        "FROM part ORDER BY p_partkey",
        # integer input takes the DOUBLE path (int/double union type)
        "SELECT p_partkey, round(p_size * 111, -CAST(p_partkey % 3 AS INT)) AS r "
        "FROM part ORDER BY p_partkey",
        # representation-boundary value, dynamic scale
        "SELECT round(0.125::DOUBLE, k) AS r, round(-33239.3875::DOUBLE,"
        " k + 1) AS r2 FROM (SELECT 2 AS k UNION ALL SELECT 1) "
        "ORDER BY r, r2",
        # NULL scale -> NULL
        "SELECT round(1.5::DOUBLE, CAST(NULL AS INT) + p_size * 0) AS r "
        "FROM part LIMIT 3",
    ):
        want = con.execute(sql).fetchall()
        got = [tuple(r) for r in spark.sql(translate(sql)).collect()]
        assert len(got) == len(want), sql
        for g, w in zip(got, want):
            for gv, wv in zip(g, w):
                if isinstance(wv, float) and gv is not None:
                    assert gv == float(wv), (sql, g, w)
                else:
                    assert gv == wv or (gv is None and wv is None), (sql, g, w)


def test_round_dynamic_scale_decimal_raises(spark):
    # DuckDB: 'ROUND(DECIMAL, INTEGER) with non-constant precision is
    # not supported' — the dynamic path raises the same way
    _spark_views(spark)
    sql = translate(
        "SELECT round(CAST(1.234 AS DECIMAL(10,3)), p_size % 3) AS r "
        "FROM part LIMIT 2"
    )
    with pytest.raises(Exception, match="non-constant precision"):
        spark.sql(sql).collect()


def test_mad_entropy_distinct_args(spark):
    """mad(DISTINCT x) / entropy(DISTINCT x): previously emitted
    invalid SQL ('(DISTINCT x) AS ...'); now the restructure dedupes
    before the medians / counts each distinct value once."""
    con = _duck()
    _spark_views(spark)
    for sql in (
        "SELECT round(CAST(mad(DISTINCT p_retailprice) AS DOUBLE), 6)"
        " AS m FROM part",
        "SELECT p_brand, round(CAST(mad(DISTINCT p_size) AS DOUBLE), 6)"
        " AS m FROM part GROUP BY p_brand ORDER BY p_brand",
        "SELECT round(entropy(DISTINCT p_size), 9) AS e FROM part",
        "SELECT p_brand, round(entropy(DISTINCT p_size), 9) AS e, "
        "round(entropy(p_size), 9) AS e2 FROM part "
        "GROUP BY p_brand ORDER BY p_brand",
    ):
        want = con.execute(sql).fetchall()
        got = [tuple(r) for r in spark.sql(translate(sql)).collect()]
        assert len(got) == len(want), sql
        for g, w in zip(got, want):
            for gv, wv in zip(g, w):
                if isinstance(wv, float):
                    assert gv == pytest.approx(float(wv), abs=1e-9), (sql, g, w)
                else:
                    assert gv == wv


def test_mad_distinct_fallback_template(spark):
    # DISTINCT-select shape: the restructure bails, the collect_list
    # template must dedupe INSIDE the aggregate (bounded buffer)
    con = _duck()
    _spark_views(spark)
    sql = (
        "SELECT DISTINCT p_brand, round(CAST(mad(DISTINCT p_size) AS "
        "DOUBLE), 6) AS m FROM part GROUP BY p_brand ORDER BY p_brand"
    )
    out = translate(sql)
    assert "collect_list(DISTINCT" in out
    want = con.execute(sql).fetchall()
    got = [tuple(r) for r in spark.sql(out).collect()]
    assert got == [
        (w[0], pytest.approx(float(w[1]), abs=1e-9)) for w in want
    ] or all(
        g[0] == w[0] and g[1] == pytest.approx(float(w[1]), abs=1e-9)
        for g, w in zip(got, want)
    )


def test_template_group_size_guard_raises(spark, monkeypatch):
    # a group past the limit raises loudly instead of OOMing through
    # the template's 3x array copies
    from component_duckdb_transformation_spark.functions import dialect

    _spark_views(spark)
    monkeypatch.setattr(dialect, "_TEMPLATE_GROUP_LIMIT", 100)
    sql = translate(
        "SELECT DISTINCT round(CAST(mad(p_retailprice) AS DOUBLE), 4) "
        "AS m FROM part"
    )
    assert "raise_error" in sql
    with pytest.raises(Exception, match="group exceeds 100"):
        spark.sql(sql).collect()
    monkeypatch.undo()
    sql2 = translate(
        "SELECT DISTINCT round(CAST(mad(p_retailprice) AS DOUBLE), 4) "
        "AS m FROM part"
    )
    assert spark.sql(sql2).collect()[0][0] is not None


def test_product_entropy_window_forms(spark):
    """product(x) OVER w (any frame) and entropy(x) OVER w
    (full-partition frames) — previously emitted invalid SQL
    (aggregate template + OVER)."""
    con = _duck()
    _spark_views(spark)
    cases = [
        # running product with sign and zero handling
        "SELECT p_partkey, product(CAST(p_size AS DOUBLE) - 25) OVER "
        "(ORDER BY p_partkey ROWS BETWEEN 2 PRECEDING AND CURRENT ROW)"
        " AS p FROM part WHERE p_partkey <= 40 ORDER BY p_partkey",
        # full-partition product
        "SELECT p_partkey, product(CAST(p_size % 5 + 1 AS DOUBLE)) OVER "
        "(PARTITION BY p_brand) AS p FROM part WHERE p_partkey <= 200 "
        "ORDER BY p_partkey",
        # full-partition entropy, string and int args
        "SELECT p_partkey, entropy(p_type) OVER (PARTITION BY p_brand)"
        " AS e FROM part WHERE p_partkey <= 300 ORDER BY p_partkey",
        "SELECT p_partkey, entropy(p_size) OVER () AS e FROM part "
        "WHERE p_partkey <= 300 ORDER BY p_partkey",
    ]
    for sql in cases:
        want = con.execute(sql).fetchall()
        got = [tuple(r) for r in spark.sql(translate(sql)).collect()]
        assert len(got) == len(want), sql
        for g, w in zip(got, want):
            assert g[0] == w[0]
            if w[1] is None:
                assert g[1] is None, (sql, g, w)
            else:
                assert g[1] == pytest.approx(float(w[1]), rel=1e-9, abs=1e-12), (
                    sql, g, w,
                )


def test_product_window_zero_sign(spark):
    # 0.0 * odd negative count keeps IEEE -0.0 like DuckDB's direct
    # multiplication
    import math

    spark.sql(
        "CREATE OR REPLACE TEMP VIEW pw AS SELECT * FROM VALUES "
        "(1, 2.0D), (2, -3.0D), (3, 0.0D), (4, 5.0D) t(r, x)"
    )
    got = spark.sql(
        translate("SELECT r, product(x) OVER (ORDER BY r) AS p FROM pw "
                  "ORDER BY r")
    ).collect()
    vals = [r.p for r in got]
    assert vals[:2] == [2.0, -6.0]
    assert vals[2] == 0.0 and math.copysign(1.0, vals[2]) < 0
    assert vals[3] == 0.0 and math.copysign(1.0, vals[3]) < 0


def test_hint_invalidation_column_named_like_keyword(spark):
    # 'value'/'key'/'day' are real column names; a bare-alias rebind of
    # such a name must still drop the hint (they are deliberately NOT
    # in the non-alias keyword set)
    from component_duckdb_transformation_spark.plans.executor import (
        statement_type_hints,
    )

    spark.sql(
        "CREATE OR REPLACE TEMP VIEW hint_kw AS SELECT 1.5D AS value, "
        "array(1, 2) AS key, DATE '2024-01-01' AS day, 'z' AS s"
    )
    deps = ["hint_kw"]

    def hints(sql):
        return statement_type_hints(spark, sql, deps)

    h = hints("SELECT value, key, day FROM hint_kw")
    assert h["value"] == "double" and h["key"].startswith("array")
    assert "value" not in hints("SELECT s value FROM hint_kw")
    assert "key" not in hints("SELECT s key FROM hint_kw")
    assert "day" not in hints("SELECT s day FROM hint_kw")
    # syntax positions stay guarded by their preceding keyword
    h2 = hints(
        "SELECT value FROM hint_kw WHERE day < DATE '2025-01-01' "
        "GROUP BY GROUPING SETS ((value), (day))"
    )
    assert "value" in h2 and "day" in h2


def test_round_exact_all_scales_and_guard_region(spark):
    """r9: round() on DOUBLE is DuckDB-exact for EVERY int32 scale —
    DuckDB has NO 2^53 short-circuit (its std::round(x*p)/p unscales
    even when the product exceeds 2^52, drifting 1 ulp off x), scales
    beyond +-308 land on the pow(10,k)=inf fallbacks (input for k>0,
    +0.0 for k<0), and a negative-scale multiply-back overflow is +0.0
    (round(1.7e308, -20) = 0.0)."""
    import math

    con = duckdb.connect()
    cases = [
        # guard region: |x*10^k| >= 2^52 where (x*p)/p != x
        "SELECT round(CAST(56746.24326153 AS DOUBLE), 15) AS v",
        "SELECT round(CAST(49413558.13843138 AS DOUBLE), 12) AS v",
        # (string casts: DuckDB's DECIMAL(17,x)->DOUBLE literal cast
        # itself drifts 1 ulp above 2^53-scaled significands)
        "SELECT round(CAST('-8404232353178676' AS DOUBLE), 0) AS v",
        "SELECT round(CAST('694376528699231.5' AS DOUBLE), 1) AS v",
        # odd integers in [2^52, 2^53): floor(s+0.5) tie breaks upward,
        # std::round does not
        "SELECT round(CAST('4503599627370497' AS DOUBLE), 0) AS v",
        "SELECT round(CAST('-4503599627370499' AS DOUBLE)) AS v",
        # literal scales beyond 15 do real arithmetic
        "SELECT round(CAST(2.5e-16 AS DOUBLE), 16) AS v",
        "SELECT round(CAST(3.5e-16 AS DOUBLE), 16) AS v",
        "SELECT round(CAST(1e-16 AS DOUBLE), 100) AS v",  # 1.0000000000000001e-16
        "SELECT round(CAST(5e-324 AS DOUBLE), 308) AS v",
        # beyond +-308: inf power fallbacks
        "SELECT round(CAST(5e-324 AS DOUBLE), 309) AS v",
        "SELECT round(CAST(1.5 AS DOUBLE), 400) AS v",
        "SELECT round(CAST(1.5 AS DOUBLE), 2147483647) AS v",
        "SELECT round(CAST(1.5 AS DOUBLE), -400) AS v",
        "SELECT round(CAST('nan' AS DOUBLE), -2) AS v",   # 0.0, not NaN
        "SELECT round(CAST('inf' AS DOUBLE), -2) AS v",   # 0.0
        "SELECT round(CAST('-inf' AS DOUBLE), -2) AS v",  # 0.0
        # negative-scale multiply-back overflow -> +0.0
        "SELECT round(CAST(1.7976931348623157e308 AS DOUBLE), -20) AS v",
        # ... but not where the round trip stays finite
        "SELECT round(CAST(1.7976931348623157e308 AS DOUBLE), -15) AS v",
        "SELECT round(CAST(1.7976931348623157e308 AS DOUBLE), -100) AS v",
        # positive-scale multiply overflow -> input unchanged
        "SELECT round(CAST(703480.1246805356 AS DOUBLE), 308) AS v",
        "SELECT round(CAST(-1.28e290 AS DOUBLE), 20) AS v",
        # -0.0 signs
        "SELECT round(CAST('-0.0' AS DOUBLE), -2) AS v",   # -0.0
        "SELECT round(CAST('-0.0' AS DOUBLE), -400) AS v",  # +0.0
        "SELECT round(CAST('-0.0' AS DOUBLE), 400) AS v",   # -0.0
    ]
    for c in cases:
        want = con.execute(c).fetchone()[0]
        got = spark.sql(translate(c)).collect()[0][0]
        wf, gf = float(want), float(got)
        assert (math.isnan(wf) and math.isnan(gf)) or wf == gf, (c, want, got)
        if wf == 0.0 and not math.isnan(wf):
            assert math.copysign(1.0, wf) == math.copysign(1.0, gf), (c, want, got)


def test_round_decimal_operands_keep_decimal_rendering(spark):
    """r9: a statically DECIMAL round() operand (fractional-literal
    arithmetic chain, or a DECIMAL-hinted column ref) keeps Spark's
    native decimal round — the typeof-dispatch template's CASE would
    coerce the result to DOUBLE, silently losing the scale-keeping
    rendering (fuzz-found: concat('R F', round(100 + 0.2420, 4)) must
    be 'R F100.2420', not 'R F100.242'). Pure-integer chains and
    exponent literals stay on the template (DOUBLE-typed in DuckDB)."""
    con = duckdb.connect()
    cases = [
        "SELECT length(concat('R F', round((100 + 0.2420), 4))) AS v",
        "SELECT concat('x', round(100 + 0.2420, 4)) AS v",
        "SELECT concat('x', round(2.5 * 1.25 - 0.125, 3)) AS v",
        "SELECT concat('x', round(-2.675, 2)) AS v",
        "SELECT concat('x', round(99.99, 3)) AS v",
        "SELECT concat('x', round(100.2468)) AS v",
        # int chain / exponent literal: DOUBLE-typed in DuckDB, must
        # KEEP the template ('7.0', '15.0' — not '7', '15')
        "SELECT concat('x', round((3 + 4), 1)) AS v",
        "SELECT concat('x', round(1.5e1, 1)) AS v",
    ]
    for c in cases:
        want = con.execute(c).fetchone()[0]
        got = spark.sql(translate(c)).collect()[0][0]
        assert str(got) == str(want), (c, want, got)
    # DECIMAL-hinted plain column ref takes the native path too
    spark.sql(
        "SELECT CAST(1.2345 AS DECIMAL(10,4)) AS dcol"
    ).createOrReplaceTempView("tdec_round9")
    con.execute("CREATE TABLE tdec AS SELECT CAST(1.2345 AS DECIMAL(10,4)) AS dcol")
    c = "SELECT concat('x', round(dcol, 2)) AS v FROM tdec"
    want = con.execute(c).fetchone()[0]
    with column_type_hints({"dcol": "decimal(10,4)"}):
        t = translate(c.replace("FROM tdec", "FROM tdec_round9"))
    got = spark.sql(t).collect()[0][0]
    assert str(got) == str(want), (want, got)


def test_ceil_floor_trunc_decimal_chains(spark):
    """r9b twin of the round() decimal fix: ceil/floor/trunc over a
    fractional-literal arithmetic chain (or a DECIMAL-hinted column)
    keep native decimal typing, and trunc over a pure-integer chain is
    the type-preserving identity — the typeof templates' DOUBLE CASE
    branch was coercing all of these ('x3.0' where DuckDB renders
    'x3'). Int chains under ceil/floor stay on the template (DuckDB
    types those DOUBLE)."""
    con = duckdb.connect()
    cases = [
        "SELECT concat('x', ceil(2.5 * 1.1)) AS v",
        "SELECT concat('x', floor(2.5 * 1.1)) AS v",
        "SELECT concat('x', trunc(100 + 0.2420)) AS v",
        "SELECT concat('x', ceil(-2.675 + 1.0)) AS v",
        "SELECT concat('x', trunc(-4.7 * 1.0)) AS v",
        "SELECT concat('x', trunc(7 + 3)) AS v",
        "SELECT concat('x', trunc((2 - 5) * 3)) AS v",
        # ceil/floor int chains and exponent forms keep the DOUBLE path
        "SELECT concat('x', ceil((3 + 4))) AS v",
        "SELECT concat('x', ceil(2.5e0 * 1.1)) AS v",
        # results stay numeric-composable
        "SELECT trunc(7 + 3) + 0.5 AS v",
        "SELECT ceil(2.5 * 1.1) * 2 AS v",
    ]
    for c in cases:
        want = con.execute(c).fetchone()[0]
        got = spark.sql(translate(c)).collect()[0][0]
        assert str(got) == str(want), (c, want, got)
    spark.sql(
        "SELECT CAST(-4.75 AS DECIMAL(10,2)) AS dcol"
    ).createOrReplaceTempView("tdec_cft9")
    con.execute(
        "CREATE TABLE tdec2 AS SELECT CAST(-4.75 AS DECIMAL(10,2)) AS dcol"
    )
    for fn in ("trunc", "ceil", "floor"):
        c = f"SELECT concat('x', {fn}(dcol)) AS v FROM tdec2"
        want = con.execute(c).fetchone()[0]
        with column_type_hints({"dcol": "decimal(10,2)"}):
            t = translate(c.replace("FROM tdec2", "FROM tdec_cft9"))
        got = spark.sql(t).collect()[0][0]
        assert str(got) == str(want), (fn, want, got)


def test_translate_size_stays_bounded():
    """Analyzer-cost regression guard (r9b): template nesting must not
    multiply — round over a window-EXCLUDE expansion binds the frame
    list and its own operand once (q60 was 34 KB / ~4.5 s of analysis
    before), and round over product() binds the expanding call (q42
    was 10 KB). Sizes include headroom; a multiplicative regression
    blows past them immediately."""
    import re

    src = open(
        os.path.join(
            os.path.dirname(os.path.dirname(os.path.abspath(__file__))),
            "component_duckdb_transformation_spark",
            "workloads.py",
        )
    ).read()
    limits = {
        "q60_window_frame_exclude": 16_000,   # now ~11 KB
        "q42_product_aggregate": 7_000,       # now ~4.7 KB
    }
    for name, cap in limits.items():
        m = re.search(rf'"{name}",\s*r?"""(.*?)"""', src, re.DOTALL)
        out = translate(m.group(1))
        assert len(out) < cap, (name, len(out), cap)
    # r10: grapheme over an adversarially nested render chain — inside
    # a Python-UDF argument the render twin previously repeated its
    # operand (typeof arm), doubling per chain link (~63 KB at depth
    # 8); statically-typed operands now pass the type as a literal, so
    # growth is LINEAR and a 14-deep chain stays under a hard ceiling
    expr = "l_extendedprice"
    for i in range(14):
        expr = f"(CAST(({expr} + 0.5) AS DOUBLE)::VARCHAR || '{i}')::DOUBLE"
    out = translate(
        f"SELECT length_grapheme({expr}::VARCHAR) AS g FROM lineitem"
    )
    assert len(out) < 4_000, len(out)
    assert "typeof" not in out  # every chain link statically typed
    # r10b: substr/round render chains in a py-UDF span — pre-r10b this
    # was ~240x PER LEVEL (every literal 3-arg substr took the 5x
    # extended-window expansion through a dead 'number'-kind check, and
    # in-span round repeated its operand ~9x; depth 2 was 4.6 MB) —
    # now ~100 bytes per level via the untouched literal substr and the
    # __duck_round span twin
    expr = "l_extendedprice"
    for i in range(14):
        expr = f"substr(round({expr}, 3)::VARCHAR, 2, 5)::DOUBLE"
    out = translate(
        f"SELECT length_grapheme({expr}::VARCHAR) AS g FROM lineitem"
    )
    assert len(out) < 8_000, len(out)
    # the common literal substr shape stays verbatim everywhere
    assert translate("SELECT substr(s0, 2, 5) AS x FROM t") == (
        "SELECT substr(s0, 2, 5) AS x FROM t"
    )


def test_round_twin_randomized_vs_duckdb():
    """Randomized (seeded) parity of the Python round twin against
    DuckDB itself — the twin mirrors the SQL templates op-for-op, so
    this locks the arithmetic (guard-free unscale, 2^52 integrality,
    inf-power fallbacks, overflow-to-zero) without a Spark session.
    2k pairs across magnitudes, signs, and the int32 scale extremes."""
    import math
    import random

    from component_duckdb_transformation_spark.functions.dialect import (
        _duck_round_double_py,
    )

    g = random.Random(20260815)
    ks = [0, 1, 2, 7, 15, 16, 20, 100, 308, 309, 400,
          -1, -2, -15, -16, -100, -308, -309, -400,
          2147483647, -2147483648]
    specials = [float("nan"), float("inf"), float("-inf"), 0.0, -0.0,
                5e-324, 1.7976931348623157e308, -1.7976931348623157e308]
    pairs = []
    for k in ks:
        p = float(f"1e{min(abs(k), 308)}")
        for _ in range(80):
            r = g.random()
            if r < 0.4:
                v = g.uniform(-1e6, 1e6)
            elif r < 0.75:
                v = math.copysign(
                    math.exp(g.uniform(math.log(1e-20), math.log(1e300))),
                    g.choice([-1.0, 1.0]),
                )
            else:  # the 2^52..2^53 scaled region
                s = g.uniform(2 ** 51, 2 ** 53)
                v = math.copysign(s / p if k >= 0 else s * p,
                                  g.choice([-1.0, 1.0]))
            if math.isinf(v):
                continue
            pairs.append((v, k))
        pairs.extend((v, k) for v in specials)
    con = duckdb.connect()
    values = ", ".join(
        f"(CAST('{v!r}' AS DOUBLE), {k})" for v, k in pairs
    )
    want = [
        r[0]
        for r in con.execute(
            f"SELECT round(v, k) FROM (VALUES {values}) t(v, k)"
        ).fetchall()
    ]
    bad = []
    for (v, k), w in zip(pairs, want):
        m = _duck_round_double_py(v, k)
        same = (m == w) or (math.isnan(m) and math.isnan(w))
        if same and m == 0.0 and not math.isnan(m):
            same = math.copysign(1.0, m) == math.copysign(1.0, w)
        if not same:
            bad.append((v, k, w, m))
    assert not bad, bad[:5]


def test_static_numeric_nesting_keeps_native_types(spark):
    """r9c: the static-type detector recognizes round/ceil/floor/trunc/
    abs NESTINGS over decimal literals, chains, and hinted columns —
    round(ceil(8.5789), 4) must render 'x9' (DECIMAL both engines),
    not the template-coerced 'x9.0' (second fuzz find of the class);
    scale-0 results stay native even at NEGATIVE round scales, while
    fractional decimals at negative scales keep the template (DuckDB's
    own rounding is internally inconsistent there)."""
    con = duckdb.connect()
    cases = [
        "SELECT length(concat('R', round(ceil(8.5789), 4))) AS v",
        "SELECT concat('x', round(ceil(8.5789), 4)) AS v",
        "SELECT concat('x', ceil(round(2.5, 1))) AS v",
        "SELECT concat('x', trunc(abs(7))) AS v",
        "SELECT concat('x', trunc(abs(-7.5))) AS v",
        "SELECT concat('x', round(trunc(8.5789), 2)) AS v",
        "SELECT concat('x', floor(round(abs(-2.675), 2) + 1)) AS v",
        "SELECT concat('x', round(ceil(8.5789) * 2 + 1, 1)) AS v",
        # scale-0 operands stay native at negative scales
        "SELECT concat('x', round(ceil(8.5789), -1)) AS v",
        "SELECT concat('x', round(trunc(15.0), -1)) AS v",
        "SELECT concat('x', round(floor(125.9), -2)) AS v",
        # double paths keep the templates
        "SELECT concat('x', round(ceil(8.5e0), 2)) AS v",
        "SELECT concat('x', ceil(round(2.5e0, 1))) AS v",
        "SELECT concat('x', ceil(3 + 4)) AS v",
        "SELECT concat('x', round(9, 0)) AS v",
    ]
    for c in cases:
        want = con.execute(c).fetchone()[0]
        got = spark.sql(translate(c)).collect()[0][0]
        assert str(got) == str(want), (c, want, got)
    spark.sql(
        "SELECT CAST(7 AS INT) icol, CAST(-4.75 AS DECIMAL(10,2)) dcol, "
        "CAST(42 AS DECIMAL(8,0)) d0"
    ).createOrReplaceTempView("th_snt9")
    con.execute(
        "CREATE TABLE th AS SELECT CAST(7 AS INT) icol, "
        "CAST(-4.75 AS DECIMAL(10,2)) dcol, CAST(42 AS DECIMAL(8,0)) d0"
    )
    hints = {"icol": "int", "dcol": "decimal(10,2)", "d0": "decimal(8,0)"}
    for e in (
        "trunc(icol)",
        "round(ceil(dcol), 1)",
        "trunc(dcol + icol)",
        "round(d0, -1)",   # hinted scale-0 decimal, negative scale
    ):
        c = f"SELECT concat('x', {e}) AS v FROM th"
        want = con.execute(c).fetchone()[0]
        with column_type_hints(hints):
            t = translate(c.replace("FROM th", "FROM th_snt9"))
        got = spark.sql(t).collect()[0][0]
        assert str(got) == str(want), (e, want, got)
