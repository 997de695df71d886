"""One window/ordered-aggregate lowering: named windows (``OVER w`` with
a ``WINDOW w AS (...)`` clause) lower like inline specs, checked
against DuckDB, and no translation keeps a bare ``mad(`` call."""

from __future__ import annotations

import importlib.util
import os
import re

import duckdb
import pytest

from component_duckdb_transformation_spark.functions.dialect import (
    _parse_spec,
    column_type_hints,
    tokenize,
    translate,
)

_HINTS = {
    "g": "int", "ord": "int", "v": "int", "x": "double",
    "d": "decimal(9,2)",
}


def _both(spark, q):
    con = duckdb.connect()
    con.execute(
        "CREATE TABLE t AS SELECT CAST(i % 4 AS INT) AS g,"
        " CAST(i AS INT) AS ord,"
        " CASE WHEN i % 7 = 0 THEN NULL ELSE CAST(i % 5 AS INT) END AS v,"
        " CAST((i * 37) % 23 AS DOUBLE) / 4 AS x,"
        " CAST((i * 1.37) % 11 AS DECIMAL(9,2)) AS d"
        " FROM range(1, 61) r(i)"
    )
    # pandas carries DECIMAL as float64: cast back to the DuckDB types
    spark.createDataFrame(con.execute("SELECT * FROM t").df()).selectExpr(
        "CAST(g AS INT) AS g", "CAST(ord AS INT) AS ord",
        "CAST(v AS INT) AS v", "x", "CAST(d AS DECIMAL(9,2)) AS d",
    ).createOrReplaceTempView("t")
    with column_type_hints(_HINTS):
        tq = translate(q)
    got = spark.sql(tq).toPandas()
    want = con.execute(q).df()
    return got, want, tq


def _rows(df):
    out = []
    for r in df.to_dict("records"):
        row = []
        for c in sorted(df.columns):
            v = r[c]
            try:
                f = float(v)
                row.append(None if f != f else f)
            except (TypeError, ValueError):
                row.append(None if v is None else str(v))
        out.append(tuple(row))
    return sorted(out, key=str)


@pytest.mark.parametrize(
    "q",
    [
        # DOUBLE and DECIMAL(9,2) arguments, full partition and running
        "SELECT ord, mad(x) OVER w AS m FROM t"
        " WINDOW w AS (PARTITION BY g)",
        "SELECT ord, mad(d) OVER w AS m FROM t"
        " WINDOW w AS (PARTITION BY g)",
        "SELECT ord, mad(d) OVER w AS m, sum(d) OVER w AS s FROM t"
        " WINDOW w AS (PARTITION BY g ORDER BY ord"
        " ROWS BETWEEN 3 PRECEDING AND CURRENT ROW)",
        "SELECT ord, round(entropy(v) OVER w, 9) AS e FROM t"
        " WINDOW w AS (PARTITION BY g)",
        "SELECT ord, round(entropy(v) OVER w, 9) AS e FROM t"
        " WINDOW w AS (PARTITION BY g ORDER BY ord)",
        # a dotted argument next to a running-entropy candidate: the
        # FROM-wrap bails (it would leave t.x in the outer scope)
        "SELECT ord,"
        " round(entropy(CAST(v AS VARCHAR)) OVER (PARTITION BY g ORDER BY ord), 9) AS a,"
        " round(entropy(CAST(t.x AS VARCHAR)) OVER (PARTITION BY g ORDER BY ord), 9) AS b"
        " FROM t",
    ],
)
def test_window_lowering_matches_duckdb(spark, q):
    got, want, tq = _both(spark, q)
    assert not re.search(r"(?<![\w.])(mad|entropy)\s*\(", tq, re.I), tq
    assert _rows(got) == _rows(want)
    if "mad(d)" in q:
        # DuckDB keeps the DECIMAL(9,2) type
        assert str(got["m"].dtype) == "object", got.dtypes


def test_parse_spec_drops_exclude_no_others():
    s = _parse_spec(tokenize(
        "PARTITION BY g ORDER BY ord ROWS BETWEEN 3 PRECEDING AND"
        " CURRENT ROW EXCLUDE NO OTHERS"
    ))
    assert s.text == (
        "PARTITION BY g ORDER BY ord ROWS BETWEEN 3 PRECEDING AND CURRENT ROW"
    )
    assert (s.partition, s.order) == ("PARTITION BY g", "ORDER BY ord")
    assert s.frame == "ROWS BETWEEN 3 PRECEDING AND CURRENT ROW"
    assert not s.exclude and not s.full
    t = _parse_spec(tokenize("PARTITION BY g ORDER BY ord EXCLUDE TIES"))
    assert t.exclude and not t.full and t.prefix == "PARTITION BY g ORDER BY ord"
    assert _parse_spec(tokenize("PARTITION BY g")).full


def test_no_bare_mad_in_translations():
    """Every corpus and battery text lowers ``mad`` onto the exact JVM
    cores; the only calls left are windows with an EXCLUDE mode the
    dialect does not lower (Spark rejects EXCLUDE, so they fail loudly
    at parse either way)."""
    path = os.path.join(
        os.path.dirname(os.path.dirname(os.path.abspath(__file__))),
        "tools", "translate_golden.py",
    )
    spec = importlib.util.spec_from_file_location("translate_golden", path)
    golden = importlib.util.module_from_spec(spec)
    spec.loader.exec_module(golden)
    bare = [
        sql
        for sql, hints in golden.corpus().values()
        if re.search(r"(?<![\w.])mad\s*\(", golden._translate(sql, hints), re.I)
        and not re.search(r"EXCLUDE\s+(CURRENT|GROUP|TIES)", sql, re.I)
    ]
    assert not bare, bare[:5]
