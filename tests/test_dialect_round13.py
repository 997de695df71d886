"""Round-13 regression tests: r12 ADVICE fixes (FILTER riders on the
DECIMAL quantile/median shims, list-valued quantile quantization) and
the streaming window-core extensions."""

import duckdb
import pytest

from component_duckdb_transformation_spark.functions.dialect import (
    column_type_hints,
    translate,
)

_HINTS = {"g": "int", "d": "decimal(9,2)"}


def _both(spark, q, hints=_HINTS):
    con = duckdb.connect()
    con.execute(
        "CREATE TABLE t AS SELECT CAST(i AS INT) AS g,"
        " CAST(i * 1.37 AS DECIMAL(9,2)) AS d FROM range(1, 101) r(i)"
    )
    pdf = con.execute("SELECT * FROM t").df()
    spark.createDataFrame(pdf).createOrReplaceTempView("t")
    with column_type_hints(hints):
        tq = translate(q)
    got = spark.sql(tq).toPandas()
    want = con.execute(q).df()
    return got, want, tq


def _norm_cell(v):
    if v is None:
        return None
    if isinstance(v, (list, tuple)) or type(v).__name__ == "ndarray":
        return tuple(None if x is None else float(x) for x in v)
    try:
        f = float(v)
        return None if f != f else f
    except (TypeError, ValueError):
        return str(v)


def _assert_match(got, want):
    assert sorted(got.columns) == sorted(want.columns)
    g = [
        tuple(_norm_cell(r[c]) for c in sorted(got.columns))
        for r in got.to_dict("records")
    ]
    w = [
        tuple(_norm_cell(r[c]) for c in sorted(want.columns))
        for r in want.to_dict("records")
    ]
    assert sorted(g, key=str) == sorted(w, key=str), (g, w)


# ---------------------------------------------------------------------------
# r12 ADVICE medium: FILTER riders after the DECIMAL-typed shims used
# to emit `CAST(...) FILTER (...)` — a Spark parse error


@pytest.mark.parametrize(
    "q",
    [
        "SELECT median(d) FILTER (WHERE g % 3 = 0) AS m FROM t",
        "SELECT quantile_cont(d, 0.3) FILTER (WHERE g % 3 = 0) AS q FROM t",
        "SELECT quantile_disc(d, 0.3) FILTER (WHERE g % 3 = 0) AS q FROM t",
        "SELECT quantile(d, 0.7) FILTER (WHERE g > 50) AS q FROM t",
        "SELECT percentile_cont(0.4) WITHIN GROUP (ORDER BY d)"
        " FILTER (WHERE g % 3 = 0) AS p FROM t",
        "SELECT g % 2 AS k, median(d) FILTER (WHERE g % 3 = 0) AS m,"
        " quantile_disc(d, 0.6) FILTER (WHERE g % 2 = 1) AS q"
        " FROM t GROUP BY k ORDER BY k",
    ],
)
def test_decimal_shim_filter_rider(spark, q):
    got, want, _ = _both(spark, q)
    _assert_match(got, want)


def test_decimal_shim_filter_translation_shape():
    """The FILTER rider must land INSIDE the CAST wrap, attached to the
    aggregate — never trailing the CAST."""
    with column_type_hints(_HINTS):
        t = translate("SELECT median(d) FILTER (WHERE g = 1) FROM t")
    assert ") FILTER" in t
    assert "AS DECIMAL(9,2))" in t.replace(" ", "").replace(
        "AS DECIMAL", "AS DECIMAL"
    ) or "DECIMAL(9,2)" in t
    # the CAST closes AFTER the FILTER clause
    assert t.index("FILTER") < t.index("DECIMAL(9,2)")


# ---------------------------------------------------------------------------
# r12 ADVICE medium: list-valued quantile_cont over DECIMAL emitted
# CAST(array AS DOUBLE); now quantizes per element like DuckDB


@pytest.mark.parametrize(
    "q",
    [
        "SELECT quantile_cont(d, [0.25, 0.75]) AS q FROM t",
        "SELECT quantile_cont(d, [0.25, 0.75])"
        " FILTER (WHERE g % 3 = 0) AS q FROM t",
        "SELECT g % 2 AS k, quantile_cont(d, [0.1, 0.9]) AS q"
        " FROM t GROUP BY k ORDER BY k",
        # empty group: NULL list on both engines
        "SELECT quantile_cont(d, [0.25, 0.75]) AS q FROM t WHERE g > 1000",
    ],
)
def test_decimal_list_quantile_quantizes(spark, q):
    got, want, _ = _both(spark, q)
    _assert_match(got, want)


def test_decimal_list_quantile_keeps_decimal_type(spark):
    got, _, _ = _both(
        spark, "SELECT quantile_cont(d, [0.25, 0.75]) AS q FROM t"
    )
    # element type survives as DECIMAL(9,2), not DOUBLE
    assert "decimal(9,2)" in str(got.dtypes.iloc[0]) or str(
        type(got["q"].iloc[0][0])
    ).find("Decimal") >= 0


def test_windowed_filter_rider_passthrough():
    """quantile_cont(dec, q) FILTER (...) OVER (...) keeps the stream
    untouched after the percentile spelling (pre-r12 behavior) —
    the decimal wrap must not swallow the rider."""
    with column_type_hints(_HINTS):
        t = translate(
            "SELECT quantile_cont(d, 0.5) FILTER (WHERE g > 2)"
            " OVER (PARTITION BY g) FROM t"
        )
    assert "FILTER" in t and "OVER" in t


# ---------------------------------------------------------------------------
# streaming window-core extensions (r13): FOLLOWING frames via the
# lead-shifted input, quantile_disc/entropy/histogram streaming, the
# non-deterministic registration + partition fingerprint, and the
# generation-based state eviction


def test_folw_translate_gating():
    from component_duckdb_transformation_spark.functions import dialect

    with column_type_hints({"x": "double", "v": "int"}):
        t = translate(
            "SELECT mad(x) OVER (PARTITION BY p ORDER BY o"
            " ROWS BETWEEN 2 PRECEDING AND 1 FOLLOWING) AS a FROM t"
        )
        assert "'mad_folw#" in t and "#2_f1#" in t and "lead(" in t
        t2 = translate(
            "SELECT quantile_cont(x, 0.3) OVER (PARTITION BY p ORDER BY o"
            " ROWS BETWEEN UNBOUNDED PRECEDING AND 2 FOLLOWING) AS a FROM t"
        )
        assert "'qcont_folw#" in t2 and "#u_f2#" in t2
        # RANGE + FOLLOWING keeps the fold
        t3 = translate(
            "SELECT mad(x) OVER (PARTITION BY p ORDER BY o"
            " RANGE BETWEEN UNBOUNDED PRECEDING AND UNBOUNDED FOLLOWING)"
            " AS a FROM t"
        )
        assert "_folw#" not in t3
        # lookahead beyond the knob keeps the fold
        deep = dialect._WIN_OS_FOLW_MAX + 1
        t4 = translate(
            "SELECT mad(x) OVER (PARTITION BY p ORDER BY o"
            f" ROWS BETWEEN 2 PRECEDING AND {deep} FOLLOWING) AS a FROM t"
        )
        assert "__duck_win_os" not in t4
        # 0 FOLLOWING is just the trailing frame
        t5 = translate(
            "SELECT mad(x) OVER (PARTITION BY p ORDER BY o"
            " ROWS BETWEEN 3 PRECEDING AND 0 FOLLOWING) AS a FROM t"
        )
        assert "'mad_prec#" in t5 and "#3#" in t5
        # FOLLOWING lower bound (both-FOLLOWING frame) keeps the fold
        t6 = translate(
            "SELECT mad(x) OVER (PARTITION BY p ORDER BY o"
            " ROWS BETWEEN 1 FOLLOWING AND 3 FOLLOWING) AS a FROM t"
        )
        assert "__duck_win_os" not in t6
        # qdisc/ent/hist stream on statically-typed args
        t7 = translate(
            "SELECT quantile_disc(v % 3, 0.4) OVER (PARTITION BY p"
            " ORDER BY o ROWS BETWEEN 2 PRECEDING AND CURRENT ROW)"
            " AS a FROM t"
        )
        assert "'qdisc_prec#" in t7 and "CAST" in t7
        t8 = translate(
            "SELECT entropy(v) OVER (PARTITION BY p ORDER BY o"
            " ROWS BETWEEN 4 PRECEDING AND 1 PRECEDING) AS a FROM t"
        )
        assert "'ent_prec#" in t8 and "#4_1#" in t8
        t9 = translate(
            "SELECT histogram(v % 4) OVER (PARTITION BY p ORDER BY o"
            " ROWS BETWEEN 3 PRECEDING AND CURRENT ROW) AS a FROM t"
        )
        assert "__duck_win_hist('hist_prec#" in t9 and "MAP<INT,BIGINT>" in t9
    # unhinted/untypeable args keep the fold (no static cast-back)
    t10 = translate(
        "SELECT quantile_disc(u, 0.4) OVER (PARTITION BY p ORDER BY o"
        " ROWS BETWEEN 2 PRECEDING AND CURRENT ROW) AS a FROM t"
    )
    assert "qdisc" not in t10
    t11 = translate(
        "SELECT histogram(u) OVER (PARTITION BY p ORDER BY o"
        " ROWS BETWEEN 2 PRECEDING AND CURRENT ROW) AS a FROM t"
    )
    assert "__duck_win_hist" not in t11


def _load_win13(spark):
    import duckdb as ddb

    con = ddb.connect()
    con.execute(
        """CREATE TABLE t AS SELECT CAST(i % 7 AS INT) AS g,
  CAST(i AS INT) AS ord, CAST((i * 37 % 11) AS INT) AS v,
  CAST((i*13 % 89) * 1.01 AS DECIMAL(9,2)) AS d,
  CAST(i * 0.77 AS DOUBLE) AS x,
  CASE WHEN i % 17 = 0 THEN NULL ELSE CAST(i % 5 AS INT) END AS vn
FROM range(1, 1201) r(i)"""
    )
    import tempfile, os

    pq = os.path.join(tempfile.mkdtemp(), "t13.parquet")
    con.execute(f"COPY t TO '{pq}' (FORMAT PARQUET)")
    spark.read.parquet(pq).createOrReplaceTempView("t")
    return con


_WIN13_HINTS = {
    "g": "int", "ord": "int", "v": "int",
    "d": "decimal(9,2)", "x": "double", "vn": "int",
}


@pytest.mark.parametrize(
    "q",
    [
        "SELECT g, ord, round(mad(x) OVER (PARTITION BY g ORDER BY ord"
        " ROWS BETWEEN 2 PRECEDING AND 1 FOLLOWING), 9) AS m FROM t",
        "SELECT g, ord, round(mad(DISTINCT v) OVER (PARTITION BY g ORDER"
        " BY ord ROWS BETWEEN 2 PRECEDING AND 1 FOLLOWING), 9) AS m FROM t",
        "SELECT g, ord, round(quantile_cont(x, 0.3) OVER (PARTITION BY g"
        " ORDER BY ord ROWS BETWEEN 5 PRECEDING AND 3 FOLLOWING), 9)"
        " AS q FROM t",
        "SELECT g, ord, round(quantile_cont(x, 0.5) OVER (PARTITION BY g"
        " ORDER BY ord ROWS BETWEEN UNBOUNDED PRECEDING AND 2 FOLLOWING),"
        " 9) AS q FROM t",
        "SELECT g, ord, round(mad(x) OVER (PARTITION BY g ORDER BY ord"
        " ROWS BETWEEN CURRENT ROW AND 4 FOLLOWING), 9) AS m FROM t",
        "SELECT g, ord, quantile_disc(d, 0.25) OVER (PARTITION BY g ORDER"
        " BY ord ROWS BETWEEN 3 PRECEDING AND CURRENT ROW) AS q FROM t",
        "SELECT g, ord, quantile_disc(v, 0.7) OVER (PARTITION BY g"
        " ORDER BY ord) AS q FROM t",
        "SELECT g, ord, quantile_disc(v % 3, 0.4) OVER (PARTITION BY g"
        " ORDER BY ord ROWS BETWEEN 2 PRECEDING AND 2 FOLLOWING)"
        " AS q FROM t",
        "SELECT g, ord, round(entropy(vn) OVER (PARTITION BY g ORDER BY"
        " ord ROWS BETWEEN 6 PRECEDING AND CURRENT ROW), 9) AS e FROM t",
        "SELECT g, ord, round(entropy(v % 5) OVER (PARTITION BY g ORDER"
        " BY ord ROWS BETWEEN 4 PRECEDING AND 1 PRECEDING), 9) AS e FROM t",
        "SELECT g, ord, array_to_string(map_keys(histogram(v % 4) OVER"
        " (PARTITION BY g ORDER BY ord ROWS BETWEEN 3 PRECEDING AND"
        " CURRENT ROW)), ',') AS hk FROM t",
        "SELECT g, ord, array_to_string(map_values(histogram(vn) OVER"
        " (PARTITION BY g ORDER BY ord ROWS BETWEEN 5 PRECEDING AND"
        " CURRENT ROW)), ',') AS hv FROM t",
        "SELECT g, ord, quantile_disc(DISTINCT v, 0.5) OVER (PARTITION"
        " BY g ORDER BY ord ROWS BETWEEN 4 PRECEDING AND CURRENT ROW)"
        " AS q FROM t",
    ],
)
def test_streaming_win13_matches_duckdb(spark, q):
    con = _load_win13(spark)
    with column_type_hints(_WIN13_HINTS):
        tq = translate(q)
    got = spark.sql(tq).toPandas()
    want = con.execute(q).df()
    _assert_match(got, want)


def test_outer_filter_over_windowed_subquery(spark):
    """The r12 ADVICE-high shape: a non-partition-key predicate above a
    streamed window projection. Deterministic registration let Catalyst
    push it between the projection and WindowExec -> row_number gaps;
    the non-deterministic registration keeps it above."""
    con = _load_win13(spark)
    q = (
        "SELECT * FROM (SELECT g, ord, v, round(mad(x) OVER (PARTITION"
        " BY g ORDER BY ord), 9) AS m FROM t) s WHERE v > 5"
    )
    with column_type_hints(_WIN13_HINTS):
        tq = translate(q)
    sdf = spark.sql(tq)
    plan = sdf._jdf.queryExecution().optimizedPlan().toString()
    # the filter must sit ABOVE the projection containing the UDF
    assert plan.index("Filter") < plan.index("__duck_win_os")
    _assert_match(sdf.toPandas(), con.execute(q).df())


def test_folw_streaming_equals_fold(spark, monkeypatch):
    """A/B: the lead-shifted streaming path is value-identical to the
    collect_list fold on adversarial data (NaN/inf/-0.0/dup/NULL)."""
    import math
    import random

    from component_duckdb_transformation_spark.functions import dialect

    g = random.Random(131)
    rows = []
    for pid in (1, 2):
        for i in range(150):
            v = g.choice(
                [
                    None, float("nan"), float("inf"), float("-inf"),
                    -1.5, 0.0, -0.0, 2.25,
                    g.uniform(-100, 100), float(g.randint(-5, 5)),
                ]
            )
            rows.append((pid, i, v))
    spark.createDataFrame(rows, "p int, o int, v double") \
        .createOrReplaceTempView("wf13")
    q = (
        "SELECT p, o,"
        " mad(v) OVER (PARTITION BY p ORDER BY o"
        "   ROWS BETWEEN 3 PRECEDING AND 2 FOLLOWING) AS m,"
        " quantile_cont(v, 0.35) OVER (PARTITION BY p ORDER BY o"
        "   ROWS BETWEEN UNBOUNDED PRECEDING AND 1 FOLLOWING) AS q,"
        " mad(DISTINCT v) OVER (PARTITION BY p ORDER BY o"
        "   ROWS BETWEEN 2 PRECEDING AND 2 FOLLOWING) AS md"
        " FROM wf13 ORDER BY p, o"
    )
    t_stream = translate(q)
    assert "_folw#" in t_stream
    monkeypatch.setattr(dialect, "_WIN_OS_FOLW_MAX", 0)
    t_fold = translate(q)
    assert "__duck_win_os" not in t_fold
    a = spark.sql(t_stream).collect()
    b = spark.sql(t_fold).collect()
    assert len(a) == len(b)
    for ra, rb in zip(a, b):
        for x, y in zip(ra, rb):
            same = x == y or (
                isinstance(x, float)
                and isinstance(y, float)
                and math.isnan(x)
                and math.isnan(y)
            )
            assert same, (ra, rb)


def test_win_os_state_machine_via_py4j(spark):
    """Direct executor-state checks the SQL surface can't reach:
    fingerprint mismatch throws, and a new statement generation clears
    retained sites (r12 ADVICE memory-growth fix)."""
    from component_duckdb_transformation_spark.functions.jvm_udfs import (
        register_jvm_udfs,
    )

    register_jvm_udfs(spark)
    jvm = spark._jvm
    loader = jvm.org.apache.spark.util.Utils.getContextOrSparkClassLoader()
    inst = loader.loadClass("duckspark.DuckWinOS").newInstance()
    L = jvm.java.lang.Long.valueOf

    def call(cfg, rn, fp):
        return inst.call(cfg, None, L(rn), L(1), L(fp))

    # normal stream
    call("mad_run#t13a#0#0#0#0#gA", 1, 7)
    call("mad_run#t13a#0#0#0#0#gA", 2, 7)
    # fingerprint change without rn reset: loud
    with pytest.raises(Exception, match="fingerprint"):
        call("mad_run#t13a#0#0#0#0#gA", 3, 8)
    # new generation on the same thread clears every old site ...
    call("mad_run#t13b#0#0#0#0#gB", 1, 0)
    # ... so resuming the old site mid-stream is loud, not silent
    with pytest.raises(Exception, match="partition-contiguous"):
        call("mad_run#t13c#0#0#0#0#gA", 5, 7)


def test_win_cores_implement_both_udf5_and_function5(spark):
    """py4j resolves functions.udf(f, dataType) between the typed
    udf(UDF5, DataType) overload and the untyped udf(AnyRef, DataType)
    one in JVM reflection order; the untyped pick CASTS the instance to
    scala.Function5 (ClassCastException at analysis when absent —
    observed live, r13-opt). Both cores must implement both interfaces
    so either overload registers a working UDF, and apply() must
    delegate to call() (state machine shared)."""
    from component_duckdb_transformation_spark.functions.jvm_udfs import (
        register_jvm_udfs,
    )

    register_jvm_udfs(spark)
    jvm = spark._jvm
    loader = jvm.org.apache.spark.util.Utils.getContextOrSparkClassLoader()
    f5 = loader.loadClass("scala.Function5")
    udf5 = loader.loadClass("org.apache.spark.sql.api.java.UDF5")
    for cls in ("duckspark.DuckWinOS", "duckspark.DuckWinHist"):
        inst = loader.loadClass(cls).newInstance()
        assert f5.isInstance(inst), f"{cls} lost scala.Function5"
        assert udf5.isInstance(inst), f"{cls} lost UDF5"
    # apply() drives the same streaming state machine as call()
    inst = loader.loadClass("duckspark.DuckWinOS").newInstance()
    L = jvm.java.lang.Long.valueOf
    inst.apply("mad_run#t13f5#0#0#0#0#gF", None, L(1), L(1), L(3))
    with pytest.raises(Exception, match="fingerprint"):
        inst.apply("mad_run#t13f5#0#0#0#0#gF", None, L(2), L(1), L(4))


# ---------------------------------------------------------------------------
# mad(DECIMAL): DuckDB computes the whole mad in truncating
# unscaled-integer arithmetic and keeps the DECIMAL(w,s) type (the
# r12 documented corner, now replicated); FILTER riders on the custom
# aggregates fold into a CASE argument (NULL-ignoring equivalence)


def _load_mad13(spark):
    import duckdb as ddb
    import os
    import tempfile

    con = ddb.connect()
    con.execute(
        """CREATE TABLE t AS SELECT CAST(i % 5 AS INT) AS g,
  CAST(i AS INT) AS ord,
  CAST(((i*13 % 89) - 40) * 1.01 AS DECIMAL(9,2)) AS d,
  CAST((i*7 % 23) AS DECIMAL(9,0)) AS d0,
  CAST(i * 0.003 AS DECIMAL(12,4)) AS d4
FROM range(1, 801) r(i)"""
    )
    pq = os.path.join(tempfile.mkdtemp(), "mad13.parquet")
    con.execute(f"COPY t TO '{pq}' (FORMAT PARQUET)")
    spark.read.parquet(pq).createOrReplaceTempView("t")
    return con


_MAD13_HINTS = {
    "g": "int", "ord": "int", "d": "decimal(9,2)",
    "d0": "decimal(9,0)", "d4": "decimal(12,4)",
}


@pytest.mark.parametrize(
    "q",
    [
        "SELECT mad(d) AS m FROM t",
        "SELECT g, mad(d) AS m, mad(d0) AS m0, mad(d4) AS m4 FROM t"
        " GROUP BY g ORDER BY g",
        "SELECT g, mad(DISTINCT d) AS m FROM t GROUP BY g ORDER BY g",
        "SELECT g, ord, mad(d) OVER (PARTITION BY g ORDER BY ord) AS m"
        " FROM t",
        "SELECT g, ord, mad(d) OVER (PARTITION BY g ORDER BY ord"
        " ROWS BETWEEN 3 PRECEDING AND 1 FOLLOWING) AS m FROM t",
        "SELECT g, ord, mad(d0) OVER (PARTITION BY g ORDER BY ord"
        " ROWS BETWEEN 4 PRECEDING AND CURRENT ROW) AS m FROM t",
        "SELECT mad(d + 0.5) AS m FROM t",
        # FILTER riders fold to CASE arguments and keep the decimal path
        "SELECT mad(d) FILTER (WHERE g > 1) AS m FROM t",
        "SELECT g, mad(d) FILTER (WHERE ord % 2 = 0) AS m FROM t"
        " GROUP BY g ORDER BY g",
        "SELECT mad(DISTINCT d) FILTER (WHERE g < 3) AS m FROM t",
        # filtered WINDOW aggregate — Spark rejects FILTER on windows
        # outright; the CASE fold makes it plannable AND exact
        "SELECT g, ord, mad(d) FILTER (WHERE ord % 2 = 0) OVER"
        " (PARTITION BY g ORDER BY ord ROWS BETWEEN 5 PRECEDING AND"
        " CURRENT ROW) AS m FROM t",
    ],
)
def test_decimal_mad_truncating(spark, q):
    con = _load_mad13(spark)
    with column_type_hints(_MAD13_HINTS):
        tq = translate(q)
    _assert_match(spark.sql(tq).toPandas(), con.execute(q).df())


def test_decimal_mad_probe_case():
    """The documented 0.49 probe: mad(DECIMAL(9,2) [1.01, 2.00]) —
    truncated median 1.50, distance median 49.5 -> 49 -> 0.49."""
    import duckdb as ddb

    con = ddb.connect()
    got = con.execute(
        "SELECT mad(CAST(x AS DECIMAL(9,2)))"
        " FROM (SELECT unnest([1.01, 2.00]) x)"
    ).fetchone()[0]
    assert str(got) == "0.49"


def test_decimal_mad_result_type(spark):
    _load_mad13(spark)
    with column_type_hints(_MAD13_HINTS):
        tq = translate("SELECT mad(d) AS m FROM t")
    dt = dict(spark.sql(tq).dtypes)["m"]
    assert dt == "decimal(9,2)", dt


def test_filter_to_case_translation():
    t = translate("SELECT entropy(x) FILTER (WHERE g > 1) AS e FROM t")
    assert "FILTER" not in t.upper().replace("CASE WHEN", "")
    t2 = translate("SELECT product(x) FILTER (g > 1) AS p FROM t")
    assert "FILTER" not in t2.upper()
    # scalar filter() list function untouched
    t3 = translate("SELECT filter([1,2,3], x -> x > 1) AS l FROM t")
    assert "filter(" in t3


def test_case_leaf_decimal_chain():
    from component_duckdb_transformation_spark.functions.dialect import (
        _parse_literal_decimal_chain,
    )

    with column_type_hints({"d": "decimal(9,2)", "g": "int"}):
        ch = _parse_literal_decimal_chain(
            "(CASE WHEN (g > 1) THEN ((d)) ELSE NULL END)"
        )
        assert ch == (None, 9, 2, False)
        # union: max int digits + max scale
        ch2 = _parse_literal_decimal_chain(
            "CASE WHEN g = 1 THEN d WHEN g = 2 THEN 1.234 ELSE NULL END"
        )
        assert ch2 == (None, 10, 3, False)
        # all-int stays int
        ch3 = _parse_literal_decimal_chain(
            "CASE WHEN g > 0 THEN g ELSE 2 END"
        )
        assert ch3 is not None and ch3[3] is True
        # string literal in the condition: bail (flat scan not
        # quote-aware)
        assert _parse_literal_decimal_chain(
            "CASE WHEN s = 'x then 1' THEN d ELSE NULL END"
        ) is None


# ---------------------------------------------------------------------------
# wide-DECIMAL (15 < w <= 38) quantiles: exact sort + DuckDB's
# all-double interpolation + binary-exact truncation in DuckQDec


@pytest.mark.parametrize("seed", [7, 41])
def test_wide_decimal_quantiles_fuzz(spark, seed):
    import random

    import duckdb as ddb

    rng = random.Random(seed)
    con = ddb.connect()
    cols = []
    hints = {"g": "int"}
    for ci in range(4):
        w = rng.randint(16, 38)
        s = rng.randint(0, min(w - 1, 8))
        digits = w - s
        exprs = []
        name = f"c{ci}"
        hints[name] = f"decimal({w},{s})"
        cols.append((name, w, s))
        con.execute(f"-- {name} DECIMAL({w},{s})")
    sel = ", ".join(
        f"CAST(CAST(concat('{rng.choice(['', '-'])}',"
        f" lpad(CAST((i * {rng.randint(3, 97)} + {rng.randint(0, 999)})"
        f" % {10 ** min(w - s, 17)} AS VARCHAR), {min(w - s, 17)}, '1'),"
        f" '.', lpad('{rng.randint(0, 10 ** s - 1) if s else 0}', {max(s, 1)}, '7'))"
        f" AS VARCHAR) AS DECIMAL({w},{s})) AS {name}"
        for name, w, s in cols
    )
    con.execute(
        f"CREATE TABLE wt AS SELECT CAST(i % 3 AS INT) g, {sel}"
        " FROM range(1, 301) r(i)"
    )
    import os
    import tempfile

    pq = os.path.join(tempfile.mkdtemp(), f"wd{seed}.parquet")
    con.execute(f"COPY wt TO '{pq}' (FORMAT PARQUET)")
    spark.read.parquet(pq).createOrReplaceTempView("wt")
    checks = []
    for name, w, s in cols:
        q = round(rng.random(), 3)
        checks.append(f"quantile_cont({name}, {q}) AS qc_{name}")
        checks.append(f"quantile_disc({name}, {q}) AS qd_{name}")
        checks.append(f"median({name}) AS md_{name}")
    sql = f"SELECT g, {', '.join(checks)} FROM wt GROUP BY g ORDER BY g"
    with column_type_hints(hints):
        tq = translate(sql)
    got = sorted(tuple(str(x) for x in r) for r in spark.sql(tq).collect())
    want = sorted(tuple(str(x) for x in r) for r in con.execute(sql).fetchall())
    assert got == want, (got[0], want[0])


# ---------------------------------------------------------------------------
# published hints: the executor's publisher resolves dependency schemas
# from the session; translate() itself never reads the session


def test_session_catalog_probe(spark):
    import duckdb as ddb

    from component_duckdb_transformation_spark.plans.executor import (
        published_hints,
    )

    con = ddb.connect()
    con.execute(
        "CREATE TABLE pt AS SELECT CAST(i*1.37 AS DECIMAL(9,2)) d,"
        " CAST(i AS INT) g FROM range(1,101) r(i)"
    )
    import os
    import tempfile

    pq = os.path.join(tempfile.mkdtemp(), "probe13.parquet")
    con.execute(f"COPY pt TO '{pq}' (FORMAT PARQUET)")
    q = "SELECT median(d) AS m, quantile_cont(d, 0.3) AS q, mad(d) AS md FROM pt"
    spark.catalog.dropTempView("pt")
    unhinted = translate(q)
    spark.read.parquet(pq).createOrReplaceTempView("pt")
    # a plain translate() is a function of the text alone
    assert translate(q) == unhinted
    assert "DECIMAL(9,2)" not in unhinted
    with published_hints(spark, q, ["pt"]):
        tq = translate(q)
    # decimal dispatch engaged by the published dependency schema
    assert "DECIMAL(9,2)" in tq
    got = [tuple(str(x) for x in r) for r in spark.sql(tq).collect()]
    want = [tuple(str(x) for x in r) for r in con.execute(q).fetchall()]
    assert got == want


# ---------------------------------------------------------------------------
# INTERVAL -> VARCHAR rendering parity (DuckDB's triple writer)


@pytest.mark.parametrize(
    "expr",
    [
        "INTERVAL '3' DAY", "INTERVAL 1 DAY", "INTERVAL '-3' DAY",
        "INTERVAL 5 WEEK", "INTERVAL 1 QUARTER", "INTERVAL '26' MONTH",
        "INTERVAL '-26' MONTH", "INTERVAL '13' MONTH", "INTERVAL '1' YEAR",
        "INTERVAL '90' MINUTE", "INTERVAL '-90' MINUTE",
        "INTERVAL '3661' SECOND", "INTERVAL '1.5' SECOND",
        "INTERVAL '0.000001' SECOND", "INTERVAL '100' HOUR",
        "INTERVAL '0' SECOND", "INTERVAL '3600.5' SECOND",
        "to_days(5)", "to_hours(26)", "to_months(26)",
        "INTERVAL '90' MINUTE + INTERVAL '30' SECOND",
        "INTERVAL '59.9999999' SECOND",
    ],
)
def test_interval_varchar_rendering(spark, expr):
    import duckdb as ddb

    from component_duckdb_transformation_spark.functions.jvm_udfs import (
        register_jvm_udfs,
    )

    register_jvm_udfs(spark)
    con = ddb.connect()
    q = f"SELECT CAST({expr} AS VARCHAR) AS s"
    got = spark.sql(translate(q)).collect()[0][0]
    want = con.execute(q).fetchone()[0]
    assert got == want, (expr, got, want)


def test_interval_static_render_folds():
    """Literal interval casts fold to constant strings at translate
    time (VALUES-compatible), carrying the day/month split DuckDB
    keeps in its triple."""
    t = translate("SELECT CAST(INTERVAL '3' DAY AS VARCHAR) AS s")
    assert "'3 days'" in t and "__duck_iv_str" not in t
    t2 = translate("SELECT (t2 - t1)::VARCHAR AS s FROM t")
    assert "__duck_iv_str" in t2  # runtime values take the JVM writer


# ---------------------------------------------------------------------------
# windowed DECIMAL quantiles: DECIMAL(w,s)-typed results (the r12
# double-result corner closed), wide widths via the DuckQDec frame
# fold, and windowed median(DECIMAL) as DuckDB's discrete lower-middle


def _load_wdec13(spark):
    import os
    import tempfile

    import duckdb as ddb

    con = ddb.connect()
    con.execute(
        """CREATE TABLE t AS SELECT CAST(i % 4 AS INT) g, CAST(i AS INT) ord,
  CAST((i*13 % 89) * 1.01 AS DECIMAL(9,2)) AS d,
  CAST(CAST(i*7+1 AS DECIMAL(12,0)) * CAST('16999999.99' AS DECIMAL(10,2))
    AS DECIMAL(18,2)) AS dw18,
  CAST(CAST(i*7+1 AS DECIMAL(12,0)) * CAST('137137137137.13' AS DECIMAL(14,2))
    AS DECIMAL(32,2)) AS dw32
FROM range(1, 501) r(i)"""
    )
    pq = os.path.join(tempfile.mkdtemp(), "wdec13.parquet")
    con.execute(f"COPY t TO '{pq}' (FORMAT PARQUET)")
    spark.read.parquet(pq).createOrReplaceTempView("t")
    return con


_WDEC13_HINTS = {
    "g": "int", "ord": "int", "d": "decimal(9,2)",
    "dw18": "decimal(18,2)", "dw32": "decimal(32,2)",
}


@pytest.mark.parametrize(
    "q",
    [
        "SELECT g, ord, quantile_cont(d, 0.3) OVER (PARTITION BY g ORDER"
        " BY ord ROWS BETWEEN 4 PRECEDING AND CURRENT ROW) AS q FROM t",
        "SELECT g, ord, quantile_cont(dw18, 0.7) OVER (PARTITION BY g"
        " ORDER BY ord ROWS BETWEEN 5 PRECEDING AND CURRENT ROW) AS q"
        " FROM t",
        "SELECT g, ord, quantile_cont(dw32, 0.4) OVER (PARTITION BY g"
        " ORDER BY ord) AS q FROM t",
        "SELECT g, ord, median(d) OVER (PARTITION BY g ORDER BY ord"
        " ROWS BETWEEN 3 PRECEDING AND CURRENT ROW) AS m FROM t",
        "SELECT g, ord, median(dw32) OVER (PARTITION BY g ORDER BY ord)"
        " AS m FROM t",
        "SELECT g, ord, quantile_cont(d, 0.0) OVER (PARTITION BY g"
        " ORDER BY ord) AS q FROM t",
        "SELECT g, ord, quantile_cont(DISTINCT d, 0.5) OVER (PARTITION"
        " BY g ORDER BY ord) AS q FROM t",
        "SELECT g, ord, quantile_disc(dw32, 0.6) OVER (PARTITION BY g"
        " ORDER BY ord ROWS BETWEEN 2 PRECEDING AND 1 FOLLOWING) AS q"
        " FROM t",
    ],
)
def test_windowed_decimal_quantiles_typed(spark, q):
    con = _load_wdec13(spark)
    with column_type_hints(_WDEC13_HINTS):
        tq = translate(q)
    got = sorted(tuple(str(x) for x in r) for r in spark.sql(tq).collect())
    want = sorted(tuple(str(x) for x in r) for r in con.execute(q).fetchall())
    assert got == want, next(
        (a, b) for a, b in zip(got, want) if a != b
    )


# ---------------------------------------------------------------------------
# suffix frames ([a PRECEDING|CURRENT ROW] .. UNBOUNDED FOLLOWING):
# the mirror image of the lookahead shapes over the REVERSED order —
# streamed when the statement's sole window is the site


def _load_sfx13(spark):
    import os
    import tempfile

    import duckdb as ddb

    con = ddb.connect()
    con.execute(
        """CREATE TABLE t AS SELECT CAST(i % 5 AS INT) g, CAST(i AS INT) ord,
  CAST(i * 0.77 AS DOUBLE) x, CAST((i*37 % 11) AS INT) v,
  CAST((i*13 % 89) * 1.01 AS DECIMAL(9,2)) d,
  CASE WHEN i % 13 = 0 THEN NULL ELSE CAST(i % 7 AS INT) END vn
FROM range(1, 1201) r(i)"""
    )
    pq = os.path.join(tempfile.mkdtemp(), "sfx13.parquet")
    con.execute(f"COPY t TO '{pq}' (FORMAT PARQUET)")
    spark.read.parquet(pq).createOrReplaceTempView("t")
    return con


_SFX13_HINTS = {
    "g": "int", "ord": "int", "x": "double", "v": "int",
    "d": "decimal(9,2)", "vn": "int",
}


@pytest.mark.parametrize(
    "q,want_stream",
    [
        ("SELECT g, ord, round(mad(x) OVER (PARTITION BY g ORDER BY ord"
         " ROWS BETWEEN CURRENT ROW AND UNBOUNDED FOLLOWING), 9) AS m"
         " FROM t", True),
        ("SELECT g, ord, round(mad(x) OVER (PARTITION BY g ORDER BY ord"
         " ROWS BETWEEN 3 PRECEDING AND UNBOUNDED FOLLOWING), 9) AS m"
         " FROM t", True),
        ("SELECT g, ord, quantile_cont(d, 0.3) OVER (PARTITION BY g"
         " ORDER BY ord ROWS BETWEEN CURRENT ROW AND UNBOUNDED"
         " FOLLOWING) AS q FROM t", True),
        ("SELECT g, ord, quantile_disc(v, 0.7) OVER (PARTITION BY g"
         " ORDER BY ord ROWS BETWEEN 2 PRECEDING AND UNBOUNDED"
         " FOLLOWING) AS q FROM t", True),
        ("SELECT g, ord, round(entropy(vn) OVER (PARTITION BY g ORDER"
         " BY ord ROWS BETWEEN CURRENT ROW AND UNBOUNDED FOLLOWING),"
         " 9) AS e FROM t", True),
        ("SELECT g, ord, round(quantile_cont(x, 0.5) OVER (PARTITION BY"
         " g ORDER BY ord RANGE BETWEEN CURRENT ROW AND UNBOUNDED"
         " FOLLOWING), 9) AS q FROM t", True),
        ("SELECT g, ord, round(mad(x) OVER (PARTITION BY g ORDER BY ord"
         " DESC ROWS BETWEEN 1 PRECEDING AND UNBOUNDED FOLLOWING), 9)"
         " AS m FROM t", True),
        # a second window pins the forward order: the reverse trick
        # must NOT engage; the fold still matches
        ("SELECT g, ord, round(mad(x) OVER (PARTITION BY g ORDER BY ord"
         " ROWS BETWEEN CURRENT ROW AND UNBOUNDED FOLLOWING), 9) AS m,"
         " sum(v) OVER (PARTITION BY g ORDER BY ord) AS s FROM t",
         False),
    ],
)
def test_suffix_frame_streaming(spark, q, want_stream):
    con = _load_sfx13(spark)
    with column_type_hints(_SFX13_HINTS):
        tq = translate(q)
    assert ("__duck_win_os" in tq) == want_stream, tq[:200]
    _assert_match(spark.sql(tq).toPandas(), con.execute(q).df())


@pytest.mark.parametrize(
    "q",
    [
        "SELECT g, ord, round(entropy(DISTINCT v) OVER (PARTITION BY g"
        " ORDER BY ord ROWS BETWEEN 5 PRECEDING AND CURRENT ROW), 9)"
        " AS e FROM t",
        "SELECT g, ord, round(entropy(DISTINCT vn) OVER (PARTITION BY"
        " g ORDER BY ord), 9) AS e FROM t",
        "SELECT g, ord, round(entropy(DISTINCT v) OVER (PARTITION BY g"
        " ORDER BY ord ROWS BETWEEN 2 PRECEDING AND 2 FOLLOWING), 9)"
        " AS e FROM t",
        "SELECT g, ord, array_to_string(map_values(histogram(DISTINCT"
        " v % 3) OVER (PARTITION BY g ORDER BY ord ROWS BETWEEN 3"
        " PRECEDING AND CURRENT ROW)), ',') AS h FROM t",
        "SELECT g, ord, array_to_string(map_keys(histogram(DISTINCT"
        " vn) OVER (PARTITION BY g ORDER BY ord)), ',') AS h FROM t",
    ],
)
def test_distinct_ent_hist_streaming(spark, q):
    """DISTINCT entropy/histogram windows stream (r13): every live
    distinct value counts once, exactly the fold's array_distinct."""
    con = _load_win13(spark)
    with column_type_hints(_WIN13_HINTS):
        tq = translate(q)
    assert "__duck_win" in tq
    _assert_match(spark.sql(tq).toPandas(), con.execute(q).df())
