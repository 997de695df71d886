"""Translation golden: sha256 of every corpus statement's translated text.

The corpus is the Spark-side text of every SQL-text workload in
``workloads.WORKLOADS``, every query in ``perfbench/q_surface.json``,
and a battery (``battery:`` keys): a generated matrix of window and
ordered aggregates x argument x window spec x statement shape, and the
texts frozen in ``tools/translate_battery.json``. Those are window
texts from the dialect tests; one call per DuckDB 1.0.0 catalog
overload built with ``tools/fn_parity_sweep.py``'s ``canned_call``,
``EXCLUDE`` and ``ARG_OVERRIDES`` rules (scalars as ``SELECT <call> AS
v``, aggregates over a two-row VALUES list); every literal passed to
``translate(`` in ``tests/test_dialect*.py`` and
``tests/test_fn_parity.py``; hand-written call shapes (dotted
names, comments before ``(``, calls nested in Python-UDF arguments,
``IGNORE NULLS`` inside the parentheses, ``FROM range(..)``); the SQL
the dialect tests send through their ``assert_matches_duckdb`` and
``_both`` helpers; and hand-written texts that make every
``dialect._PASSES`` entry fire, with the trigger edge cases (a trigger
word inside a string or comment, a word only an earlier pass emits,
``GROUP BY ALL``/``UNION ALL`` beside ``= ALL(...)``).
Workload and q_surface texts translate with no type hints; each battery text carries the name of the hint set it is
translated under (published through ``dialect.column_type_hints``).
The per-call window ids (``#w<n>``, ``#g<n>``) are normalised and the
text is hashed. A change to the dialect layer that is meant to keep
translation byte-stable must leave every hash unchanged.

The executor's statement parsers are frozen the same way (``parse:``
keys): every DML/DDL statement of the corpus, of the executor-path
workload scripts in ``workloads.py``, of the ``perfbench/gen.py`` DML
chains, and every literal the executor tests pass to ``_run(`` and
``_both(`` (``tests/test_executor.py``) and ``_both(``/``_ok(``/
``_rows(`` (``tests/test_catalog_records.py``) is run through the parser the
executor uses for its verb (``_parse_update``, ``_insert_clauses``,
``_parse_merge``, ``_parse_alter``, the ``_ddl_*`` column-list
parsers) and ``spark_query_text``; the ``repr`` of the outcomes is
hashed.

Usage:
    python tools/translate_golden.py           # check; names moved hashes
    python tools/translate_golden.py --write   # regenerate the hash file
    python tools/translate_golden.py --time    # min-of-5 translate wall time
"""

from __future__ import annotations

import ast
import contextlib
import hashlib
import importlib.util
import json
import os
import re
import sys
import time

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
GOLDEN = os.path.join(ROOT, "tools", "translate_golden.json")
BATTERY = os.path.join(ROOT, "tools", "translate_battery.json")

_WINDOW_IDS = re.compile(r"#([wg])\d+")

# hint sets a battery text can be translated under
HINT_SETS = {
    "none": None,
    "typed": {
        "g": "int", "h": "int", "ord": "int", "p": "int", "o": "int",
        "i": "int", "v": "int", "vn": "int",
        "d": "decimal(9,2)", "d0": "decimal(9,0)", "d4": "decimal(12,4)",
        "dw18": "decimal(18,2)", "dw32": "decimal(32,2)",
        "x": "double", "f": "float", "ts": "timestamp", "dt": "date",
        "p_retailprice": "decimal(15,2)", "p_size": "int",
        "p_partkey": "bigint", "o_totalprice": "decimal(15,2)",
        "o_orderdate": "date", "o_orderkey": "bigint",
    },
}

# the window/ordered aggregates the dialect lowers; {a} is the argument
_FNS = (
    "mad({a})",
    "mad(DISTINCT {a})",
    "entropy({a})",
    "entropy(DISTINCT {a})",
    "histogram({a})",
    "histogram(DISTINCT {a})",
    "median({a})",
    "quantile_cont({a}, 0.3)",
    "quantile_cont({a}, 0.0)",
    "quantile_cont(DISTINCT {a}, 0.5)",
    "quantile_disc({a}, 0.4)",
    "quantile_disc({a}, 1.0)",
    "quantile_disc(DISTINCT {a}, 0.5)",
    "percentile_cont(0.25) WITHIN GROUP (ORDER BY {a})",
    "percentile_disc(0.75) WITHIN GROUP (ORDER BY {a} DESC)",
)

# every frame kind the streaming classifier tells apart, FOLLOWING
# bounds on both sides of the 256-row lookahead limit, suffix frames,
# full partitions with and without ORDER BY and the EXCLUDE modes
_SPECS = (
    "",
    "PARTITION BY g",
    "PARTITION BY g, h",
    "ORDER BY ord",
    "PARTITION BY g ORDER BY ord",
    "PARTITION BY g ORDER BY ord DESC NULLS LAST",
    "PARTITION BY g ORDER BY ord, i",
    "PARTITION BY g ORDER BY ord ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW",
    "PARTITION BY g ORDER BY ord ROWS UNBOUNDED PRECEDING",
    "PARTITION BY g ORDER BY ord RANGE BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW",
    "PARTITION BY g ORDER BY ord RANGE UNBOUNDED PRECEDING",
    "PARTITION BY g ORDER BY ord ROWS BETWEEN 3 PRECEDING AND CURRENT ROW",
    "PARTITION BY g ORDER BY ord ROWS 3 PRECEDING",
    "PARTITION BY g ORDER BY ord ROWS BETWEEN 5 PRECEDING AND 2 PRECEDING",
    "PARTITION BY g ORDER BY ord ROWS BETWEEN 2 PRECEDING AND 3 PRECEDING",
    "PARTITION BY g ORDER BY ord ROWS BETWEEN 3 PRECEDING AND 2 FOLLOWING",
    "PARTITION BY g ORDER BY ord ROWS BETWEEN 3 PRECEDING AND 256 FOLLOWING",
    "PARTITION BY g ORDER BY ord ROWS BETWEEN 3 PRECEDING AND 257 FOLLOWING",
    "PARTITION BY g ORDER BY ord ROWS BETWEEN 3 PRECEDING AND 0 FOLLOWING",
    "PARTITION BY g ORDER BY ord ROWS BETWEEN CURRENT ROW AND 2 FOLLOWING",
    "PARTITION BY g ORDER BY ord ROWS BETWEEN CURRENT ROW AND 300 FOLLOWING",
    "PARTITION BY g ORDER BY ord ROWS BETWEEN CURRENT ROW AND 0 FOLLOWING",
    "PARTITION BY g ORDER BY ord ROWS BETWEEN UNBOUNDED PRECEDING AND 2 FOLLOWING",
    "PARTITION BY g ORDER BY ord ROWS BETWEEN UNBOUNDED PRECEDING AND 0 FOLLOWING",
    "PARTITION BY g ORDER BY ord ROWS BETWEEN UNBOUNDED PRECEDING AND 257 FOLLOWING",
    "PARTITION BY g ORDER BY ord ROWS BETWEEN 1 FOLLOWING AND 3 FOLLOWING",
    "PARTITION BY g ORDER BY ord ROWS BETWEEN CURRENT ROW AND UNBOUNDED FOLLOWING",
    "PARTITION BY g ORDER BY ord DESC ROWS BETWEEN 4 PRECEDING AND UNBOUNDED FOLLOWING",
    "PARTITION BY g ORDER BY ord ROWS BETWEEN 300 PRECEDING AND UNBOUNDED FOLLOWING",
    "PARTITION BY g ORDER BY ord RANGE BETWEEN CURRENT ROW AND UNBOUNDED FOLLOWING",
    "PARTITION BY g ORDER BY ord ROWS BETWEEN UNBOUNDED PRECEDING AND UNBOUNDED FOLLOWING",
    "PARTITION BY g ORDER BY ord RANGE BETWEEN UNBOUNDED PRECEDING AND UNBOUNDED FOLLOWING",
    "PARTITION BY g ORDER BY ord GROUPS BETWEEN 1 PRECEDING AND CURRENT ROW",
    "PARTITION BY g ORDER BY ord RANGE BETWEEN 2 PRECEDING AND CURRENT ROW",
    "PARTITION BY g ORDER BY ord RANGE BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW EXCLUDE NO OTHERS",
    "PARTITION BY g ORDER BY ord ROWS BETWEEN 3 PRECEDING AND CURRENT ROW EXCLUDE NO OTHERS",
    "PARTITION BY g ORDER BY ord ROWS BETWEEN 3 PRECEDING AND CURRENT ROW EXCLUDE CURRENT ROW",
    "PARTITION BY g ORDER BY ord ROWS BETWEEN UNBOUNDED PRECEDING AND UNBOUNDED FOLLOWING EXCLUDE NO OTHERS",
    "PARTITION BY g ORDER BY ord ROWS BETWEEN UNBOUNDED PRECEDING AND UNBOUNDED FOLLOWING EXCLUDE TIES",
    "PARTITION BY g ORDER BY ord RANGE BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW EXCLUDE GROUP",
    "partition by g order by ord rows between 3 preceding and current row",
    "PARTITION BY g  ORDER BY ord\n  ROWS  BETWEEN 3 PRECEDING AND CURRENT ROW",
)

# argument domains: DECIMAL inside and outside the unscaled-core width,
# static integral, static float, double, temporal and unhinted
_ARGS = ("x", "d", "d0", "d4", "dw18", "dw32", "i", "v % 3", "f", "u",
         "ts", "d + 0.5")
_ARG_SPECS = (
    "PARTITION BY g",
    "PARTITION BY g ORDER BY ord",
    "PARTITION BY g ORDER BY ord ROWS BETWEEN 3 PRECEDING AND CURRENT ROW",
    "PARTITION BY g ORDER BY ord ROWS BETWEEN 3 PRECEDING AND 2 FOLLOWING",
    "PARTITION BY g ORDER BY ord ROWS BETWEEN CURRENT ROW AND UNBOUNDED FOLLOWING",
)

# statement shapes around one window call ({c}): WITH bodies, set-op
# branches, the restructure bails, subqueries, DISTINCT/star/tail
# forms, a second window with another prefix (streaming gate closed)
_SHAPES = (
    "SELECT g, ord, {c} AS r FROM t",
    "SELECT g, ord, {c} AS r, sum(v) OVER (PARTITION BY h) AS s FROM t",
    "SELECT *, {c} AS r FROM t WHERE v > 1 ORDER BY g, ord LIMIT 10",
    "SELECT DISTINCT g, {c} AS r FROM t",
    "SELECT g, x + 1 AS x1, round(x, 2) AS rx, {c} AS r, x1 * 2 AS x2 FROM t",
    "WITH c AS (SELECT g, ord, {c} AS r FROM t) SELECT * FROM c",
    "WITH c AS (SELECT * FROM t WHERE v > 0) SELECT g, {c} AS r FROM c",
    "SELECT g, {c} AS r FROM t UNION ALL SELECT g, {c} FROM t2",
    "SELECT g, {c} AS r FROM t UNION BY NAME SELECT g, 1 AS r FROM t2",
    "SELECT g, {c} AS r FROM t GROUP BY g, ord, x, d, v, i, f, u, ts, h",
    "SELECT g, {c} AS r FROM t GROUP BY ALL HAVING count(*) > 1",
    "SELECT g, {c} AS r FROM t QUALIFY row_number() OVER (PARTITION BY g ORDER BY ord) = 1",
    "SELECT t.g, {c} AS r FROM t",
    "SELECT g, {c} AS r FROM t JOIN t2 USING (g) ORDER BY t.g",
    "SELECT * FROM (SELECT g, ord, {c} AS r FROM t) s WHERE r > 1",
    "SELECT * FROM (SELECT g, {c} AS r FROM t QUALIFY row_number() OVER (PARTITION BY g ORDER BY ord) = 1) s",
    "SELECT * FROM (SELECT DISTINCT ON (g) g, ord, {c} AS r FROM t ORDER BY g, ord) s",
    "SELECT g, round({c}, 6) AS r, {c} AS r2 FROM t",
    "SELECT g, {c} AS r, count(*) AS n FROM t",
)
_SHAPE_CALLS = (
    "mad(x) OVER (PARTITION BY g)",
    "mad(d) OVER (PARTITION BY g ORDER BY ord ROWS BETWEEN UNBOUNDED PRECEDING AND UNBOUNDED FOLLOWING)",
    "mad(x) OVER (PARTITION BY g ORDER BY ord ROWS BETWEEN 3 PRECEDING AND CURRENT ROW)",
    "mad(ts) OVER (PARTITION BY g)",
    "entropy(v) OVER (PARTITION BY g ORDER BY ord)",
    "entropy(u) OVER (PARTITION BY g ORDER BY ord RANGE BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)",
    "entropy(v) OVER (PARTITION BY g)",
    "histogram(v) OVER (PARTITION BY g ORDER BY ord ROWS 2 PRECEDING)",
    "quantile_cont(d, 0.3) OVER (PARTITION BY g ORDER BY ord)",
    "quantile_disc(v, 0.4) OVER (PARTITION BY g ORDER BY ord ROWS BETWEEN 2 PRECEDING AND 1 FOLLOWING)",
)

# texts written out whole: named windows, FILTER riders, the temporal
# make_dt_interval form, grouped and global mad/entropy, several
# candidates in one statement, window calls nested in arguments
_TEXTS = (
    "SELECT g, mad(x) OVER w AS m FROM t WINDOW w AS (PARTITION BY g)",
    "SELECT g, mad(d) OVER w AS m FROM t WINDOW w AS (PARTITION BY g)",
    "SELECT g, mad(x) OVER w AS m FROM t WINDOW w AS (PARTITION BY g ORDER BY ord)",
    "SELECT g, mad(d) OVER w AS m FROM t WINDOW w AS (PARTITION BY g ORDER BY ord ROWS BETWEEN 3 PRECEDING AND CURRENT ROW)",
    "SELECT g, entropy(v) OVER w AS e FROM t WINDOW w AS (PARTITION BY g)",
    "SELECT g, entropy(v) OVER w AS e FROM t WINDOW w AS (PARTITION BY g ORDER BY ord)",
    "SELECT g, histogram(v) OVER w AS hh FROM t WINDOW w AS (PARTITION BY g ORDER BY ord)",
    "SELECT g, quantile_cont(x, 0.3) OVER w AS q FROM t WINDOW w AS (PARTITION BY g ORDER BY ord)",
    "SELECT g, quantile_disc(v, 0.4) OVER w AS q FROM t WINDOW w AS (PARTITION BY g ORDER BY ord ROWS 2 PRECEDING)",
    "SELECT g, mad(x) OVER w AS m, sum(x) OVER w AS s FROM t WINDOW w AS (PARTITION BY g)",
    "SELECT g, mad(x) OVER (w ROWS 2 PRECEDING) AS m FROM t WINDOW w AS (PARTITION BY g ORDER BY ord)",
    "SELECT g, mad(x) FILTER (WHERE ord % 2 = 0) OVER (PARTITION BY g ORDER BY ord ROWS 5 PRECEDING) AS m FROM t",
    "SELECT g, mad(d) FILTER (WHERE ord % 2 = 0) OVER (PARTITION BY g) AS m FROM t",
    "SELECT g, entropy(v) FILTER (WHERE ord > 1) OVER (PARTITION BY g ORDER BY ord) AS e FROM t",
    "SELECT g, make_dt_interval(0, 0, 0, mad(x) / 1000000.0D) OVER (PARTITION BY g) AS m FROM t",
    "SELECT g, make_dt_interval(0, 0, 0, mad(x) / 1e6) OVER (PARTITION BY g ORDER BY ord ROWS 3 PRECEDING) AS m FROM t",
    "SELECT g, make_dt_interval(0, 0, 0, mad(CAST(unix_micros(CAST((ts) AS TIMESTAMP_LTZ)) AS DOUBLE)) / 1000000.0D) OVER (PARTITION BY g ORDER BY ord) AS m FROM t",
    "SELECT g, mad(ts) OVER (PARTITION BY g ORDER BY ord ROWS BETWEEN 2 PRECEDING AND 1 FOLLOWING) AS m FROM t",
    "SELECT g, mad(dt) OVER (PARTITION BY g) AS m FROM t",
    "SELECT g, mad(DISTINCT ts) OVER (PARTITION BY g ORDER BY ord) AS m FROM t",
    "SELECT g, mad(x) AS m, entropy(v) AS e FROM t GROUP BY g",
    "SELECT mad(x) AS m, entropy(v) AS e FROM t",
    "SELECT g, mad(d) AS m FROM t GROUP BY g HAVING mad(d) > 1 ORDER BY mad(d)",
    "SELECT g, mad(ts) AS m FROM t GROUP BY g",
    "SELECT DISTINCT mad(x) AS m FROM t",
    "SELECT g, mad(DISTINCT d) AS m, entropy(DISTINCT v) AS e FROM t GROUP BY g",
    "SELECT g, mad(x) OVER (PARTITION BY g) AS a, mad(d) OVER (PARTITION BY g) AS b, mad(x) OVER (PARTITION BY h) AS c FROM t",
    "SELECT g, entropy(v) OVER (PARTITION BY g ORDER BY ord) AS a, entropy(x) OVER (PARTITION BY h ORDER BY ord) AS b FROM t",
    "SELECT g, mad(x) OVER (PARTITION BY g) AS a, entropy(v) OVER (PARTITION BY g ORDER BY ord) AS b, quantile_cont(x, 0.5) OVER (PARTITION BY g ORDER BY ord ROWS 3 PRECEDING) AS c FROM t",
    "SELECT g, entropy(v) OVER (PARTITION BY g ORDER BY ord) AS a, quantile_disc(v, 0.5) OVER (PARTITION BY g ORDER BY ord ROWS 3 PRECEDING) AS b, histogram(v) OVER (PARTITION BY g ORDER BY ord) AS c FROM t",
    "SELECT g, mad(x + mad(x) OVER (PARTITION BY g)) OVER (PARTITION BY g ORDER BY ord) AS m FROM t",
    "SELECT g, histogram(entropy(v) OVER (PARTITION BY g ORDER BY ord ROWS 2 PRECEDING)) OVER (PARTITION BY g ORDER BY ord ROWS 2 PRECEDING) AS hh FROM t",
    "SELECT g, s.mad(x) OVER (PARTITION BY g) AS m FROM t",
    "SELECT g, mad(s.x) OVER (PARTITION BY g ORDER BY ord) AS m FROM t s",
    "SELECT g, mad(x) OVER (PARTITION BY g) AS m FROM t WHERE x > (SELECT mad(x) FROM t2)",
    "SELECT g, (SELECT max(v) FROM t2) AS mx, mad(x) OVER (PARTITION BY g) AS m FROM t",
    "SELECT g, mad(x) OVER (PARTITION BY g /* c */ ORDER BY ord ROWS BETWEEN UNBOUNDED PRECEDING AND UNBOUNDED FOLLOWING EXCLUDE NO OTHERS) AS m FROM t",
    "SELECT g, entropy(v) OVER (PARTITION BY g ORDER BY ord -- c\n) AS e FROM t",
    "SELECT g, quantile_cont(x, [0.25, 0.75]) OVER (PARTITION BY g ORDER BY ord) AS q FROM t",
    "SELECT g, quantile_cont(x, q) OVER (PARTITION BY g ORDER BY ord) AS q FROM t",
    "SELECT g, quantile_disc(x, 1.5) OVER (PARTITION BY g ORDER BY ord) AS q FROM t",
    "SELECT g, percentile_cont(0.5) WITHIN GROUP (ORDER BY x) OVER (PARTITION BY g) AS q FROM t",
    "SELECT g, percentile_disc(0.5) WITHIN GROUP (ORDER BY DISTINCT v) OVER (PARTITION BY g) AS q FROM t",
    "SELECT g, (SELECT max(v) FROM t2) AS mx, entropy(v) OVER (PARTITION BY g ORDER BY ord) AS e FROM t",
    "SELECT mad(x) OVER () AS m",
    "SELECT entropy(v) OVER (ORDER BY ord) AS e",
    "SELECT g, mad(x) OVER (PARTITION BY g) AS m FROM t ORDER BY t.g",
    "SELECT g, entropy(v) OVER (PARTITION BY g ORDER BY ord) AS e FROM t ORDER BY t.g",
    "SELECT ALL g, mad(x) OVER (PARTITION BY g) AS m FROM t",
    "SELECT g, entropy(v) OVER (PARTITION BY g ORDER BY ord) AS e, x + 1 AS e1, e1 + 1 AS e2 FROM t",
    "SELECT g, mad(x) OVER (PARTITION BY g) AS m, percentile_cont(0.5) WITHIN GROUP (ORDER BY x) OVER (PARTITION BY g) AS p FROM t",
    "SELECT g, mad(x) OVER (PARTITION BY g) AS m, sum(x) AS s FROM t",
    "SELECT g, mad(x) OVER (PARTITION BY g) AS m FROM t UNION SELECT g, entropy(v) OVER (PARTITION BY g ORDER BY ord) FROM t2 UNION ALL BY NAME SELECT 1 AS g",
    "WITH c AS (SELECT 1 AS g) INSERT INTO o SELECT g, mad(x) OVER (PARTITION BY g) FROM t",
    "FROM t SELECT g, mad(x) OVER (PARTITION BY g) AS m",
    "CREATE TABLE out AS SELECT g, mad(x) OVER (PARTITION BY g) AS m FROM t",
    "INSERT INTO out SELECT g, entropy(v) OVER (PARTITION BY g ORDER BY ord) FROM t",
)


def _battery() -> list:
    """``[(sql, hint set name)]`` in a fixed order."""
    out = []
    for fn in _FNS:
        for spec in _SPECS:
            out.append((f"SELECT g, ord, {fn.format(a='x')} OVER ({spec}) AS r FROM t", "typed"))
        for a in _ARGS:
            for spec in _ARG_SPECS:
                call = f"{fn.format(a=a)} OVER ({spec})"
                out.append((f"SELECT g, ord, {call} AS r FROM t", "typed"))
                out.append((
                    f"SELECT g, ord, {call} AS r, sum(v) OVER (PARTITION BY h) AS s FROM t",
                    "typed",
                ))
    for call in _SHAPE_CALLS:
        for shape in _SHAPES:
            for hints in HINT_SETS:
                out.append((shape.format(c=call), hints))
    for sql in _TEXTS:
        for hints in HINT_SETS:
            out.append((sql, hints))
    with open(BATTERY, encoding="utf-8") as fh:
        for sql in json.load(fh):
            for hints in HINT_SETS:
                out.append((sql, hints))
    return out


def corpus() -> dict:
    """``key -> (DuckDB-dialect text, hint set name)``, keys
    ``workload:<name>``, ``q_surface:<name>`` and
    ``battery:<hint set>:<sha256 of the text, 12 hex>``."""
    if ROOT not in sys.path:
        sys.path.insert(0, ROOT)
    from component_duckdb_transformation_spark.workloads import WORKLOADS

    out = {
        f"workload:{name}": (wl.sql, "none")
        for name, wl in WORKLOADS.items()
        if wl.sql is not None
    }
    with open(os.path.join(ROOT, "perfbench", "q_surface.json"), encoding="utf-8") as fh:
        for name, sql in json.load(fh)["queries"].items():
            out[f"q_surface:{name}"] = (sql, "none")
    for sql, hints in _battery():
        key = hashlib.sha256(sql.encode("utf-8")).hexdigest()[:12]
        out[f"battery:{hints}:{key}"] = (sql, hints)
    return out


# (file, helper names) whose string-literal arguments are executor SQL
_PARSE_CALLS = (
    ("tests/test_executor.py", ("_run", "_both")),
    ("tests/test_catalog_records.py", ("_both", "_ok", "_rows")),
)


_DML_DDL_VERBS = ("CREATE", "DROP", "ALTER", "INSERT", "UPDATE", "DELETE", "MERGE", "TRUNCATE")


def _literals(path: str, calls=None) -> list:
    """String constants of a Python file, in source order: every one, or
    only the arguments of calls to the helpers named in ``calls``."""
    with open(os.path.join(ROOT, path), encoding="utf-8") as fh:
        tree = ast.parse(fh.read())
    if calls is None:
        nodes = list(ast.walk(tree))
    else:
        nodes = [
            arg
            for node in ast.walk(tree)
            if isinstance(node, ast.Call)
            and isinstance(node.func, ast.Name)
            and node.func.id in calls
            for arg in node.args
        ]
    return [
        n.value for n in nodes
        if isinstance(n, ast.Constant) and isinstance(n.value, str)
    ]


def _dml_chain_scripts() -> list:
    """The statements of ``perfbench/gen.py``'s DML chains at fixed key
    boundaries."""
    spec = importlib.util.spec_from_file_location(
        "perfbench_gen", os.path.join(ROOT, "perfbench", "gen.py")
    )
    gen = importlib.util.module_from_spec(spec)
    sys.modules[spec.name] = gen  # dataclasses look their module up
    spec.loader.exec_module(gen)
    out = []
    for k, chain in enumerate(gen._CHAINS):
        out += chain(f"c{k}", [200, 400, 600, 800, 1000])[0]
    return out


def parse_corpus() -> dict:
    """``parse:<sha256 of the statement, 12 hex>`` -> DML/DDL statement
    text (see the module docstring for the sources)."""
    from component_duckdb_transformation_spark.plans.sql_parser import parse_script

    scripts = [sql for sql, _ in corpus().values()]
    scripts += _literals("component_duckdb_transformation_spark/workloads.py")
    scripts += _dml_chain_scripts()
    for path, calls in _PARSE_CALLS:
        scripts += _literals(path, calls)
    out = {}
    for script in scripts:
        for st in parse_script(script):
            if st.head.verb in _DML_DDL_VERBS:
                key = hashlib.sha256(st.sql.encode("utf-8")).hexdigest()[:12]
                out[f"parse:{key}"] = st.sql
    return out


def _outcome(fn, *args) -> str:
    try:
        return repr(fn(*args))
    except Exception as exc:  # an error is a parse outcome too
        return f"<error {type(exc).__name__}: {exc}>"


def parse_digest(sql: str) -> str:
    """sha256 of the executor parsers' outcomes on one statement."""
    from component_duckdb_transformation_spark.plans import executor as ex
    from component_duckdb_transformation_spark.plans.sql_parser import parse_statement

    st = parse_statement(sql)
    head = st.head
    got = [_outcome(ex.spark_query_text, st)]
    if head.verb == "UPDATE":
        got.append(_outcome(lambda s: ex._parse_update(ex._split_returning(s)[0]), sql))
    elif head.verb == "INSERT":
        got.append(_outcome(ex._insert_clauses, sql))
    elif head.verb == "MERGE":
        got.append(_outcome(ex._parse_merge, sql))
    elif head.verb == "ALTER":
        got.append(_outcome(ex._parse_alter, st.tail))
    elif head.verb == "CREATE" and head.kind == "table":
        for fn in (ex._ddl_column_schema, ex._ddl_primary_key, ex._ddl_not_null, ex._ddl_checks):
            got.append(_outcome(fn, sql))
    return hashlib.sha256(repr(got).encode("utf-8")).hexdigest()


def _all_digests() -> dict:
    got = {key: digest(*entry) for key, entry in corpus().items()}
    got.update({key: parse_digest(sql) for key, sql in parse_corpus().items()})
    return got


def _translate(sql: str, hints: str) -> str:
    from component_duckdb_transformation_spark.functions.dialect import (
        column_type_hints,
        translate,
    )

    mapping = HINT_SETS[hints]
    ctx = column_type_hints(mapping) if mapping else contextlib.nullcontext()
    with ctx:
        try:
            return translate(sql)
        except Exception as exc:  # an error is a translation outcome too
            return f"<error {type(exc).__name__}: {exc}>"


def digest(sql: str, hints: str = "none") -> str:
    text = _WINDOW_IDS.sub(r"#\1", _translate(sql, hints))
    return hashlib.sha256(text.encode("utf-8")).hexdigest()


def moved() -> list:
    """Keys whose hash differs from the committed file (or is missing
    from either side)."""
    with open(GOLDEN, encoding="utf-8") as fh:
        want = json.load(fh)
    got = _all_digests()
    return sorted(k for k in set(want) | set(got) if want.get(k) != got.get(k))


def time_corpus(repeats: int = 5) -> float:
    """Min over ``repeats`` runs of the single-threaded wall time to
    translate every corpus text once."""
    entries = list(corpus().values())
    _translate("SELECT 1", "none")  # import and first-call costs
    best = float("inf")
    for _ in range(repeats):
        t0 = time.perf_counter()
        for sql, hints in entries:
            _translate(sql, hints)
        best = min(best, time.perf_counter() - t0)
    return best


def main() -> int:
    args = sys.argv[1:]
    if "--write" in args:
        got = _all_digests()
        with open(GOLDEN, "w", encoding="utf-8") as fh:
            json.dump(got, fh, indent=1, sort_keys=True)
            fh.write("\n")
        print(f"wrote {len(got)} hashes to {GOLDEN}")
        return 0
    if "--time" in args:
        n = len(corpus())
        print(f"translated {n} texts: min-of-5 wall {time_corpus():.3f} s")
        return 0
    texts = {key: sql for key, (sql, _) in corpus().items()}
    texts.update(parse_corpus())
    bad = moved()
    for key in bad:
        sql = texts.get(key, "")
        print(f"MOVED {key}" + (f"  {sql}" if key.startswith(("battery:", "parse:")) else ""))
    print(f"{len(bad)} moved of {len(texts)}")
    return 1 if bad else 0


if __name__ == "__main__":
    sys.exit(main())
