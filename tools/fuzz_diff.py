"""Adversarial dialect fuzzer: random scalar/aggregate expressions over
``lineitem``, executed on Spark (through ``dialect.translate``) AND on
DuckDB, values compared with float tolerance.

The q42 ``product()`` sign bug was exactly this class of defect — a
dialect corner no hand-written workload exercised. The generator sticks
to constructs both engines define identically (no numeric->string
implicit casts, no zero denominators, no int overflow, 1-based substr)
so every mismatch is a real translator bug, not a known engine
divergence; the known divergences are documented in COVERAGE.md.

Usage: python tools/fuzz_diff.py [--n 300] [--seed 20260813] [--sf 0.001]

Deterministic for a given (seed, n). Exit code = number of mismatched
expressions. Batches BATCH expressions per Spark job so a full run is
~n/BATCH jobs, with per-expression isolation only on a failing batch.
"""

from __future__ import annotations

import random
import re
import os
import sys
from typing import List

import duckdb
import numpy as np

BATCH = 20

INT_COLS = ["l_orderkey", "l_partkey", "l_suppkey", "l_linenumber"]
NUM_COLS = ["l_quantity", "l_extendedprice", "l_discount", "l_tax"]
STR_COLS = ["l_returnflag", "l_linestatus"]
TS_COL = "l_shipdate"

EXTRACT_PARTS = ["year", "month", "day", "quarter", "dow", "doy", "week"]
TRUNC_PARTS = ["year", "month", "day", "hour"]
STRFTIME_FMTS = [
    "%Y-%m-%d", "%d/%m/%Y", "%Y%m", "%H:%M:%S",
    # ISO week directives (composed via weekofyear/ISO-year)
    "%G-W%V", "wk %V of %G", "%V", "%Y vs %G",
]


def num_expr(g: random.Random, depth: int = 0) -> str:
    if depth >= 3 or g.random() < 0.3:
        r = g.random()
        if r < 0.4:
            return g.choice(INT_COLS + NUM_COLS)
        if r < 0.7:
            return str(g.randint(-20, 100))
        return f"{g.uniform(-5, 20):.4f}"
    a = num_expr(g, depth + 1)
    b = num_expr(g, depth + 1)
    choice = g.randrange(12)
    if choice == 0:
        return f"({a} + {b})"
    if choice == 1:
        return f"({a} - {b})"
    if choice == 2:
        # bound one side so products can't overflow int64
        return f"({a} * ({b} % 97))" if g.random() < 0.5 else f"({a} * {g.randint(-9, 9)})"
    if choice == 3:
        return f"({a} / (abs({b}) + 1.5))"
    if choice == 4:
        return f"({a} % (abs(cast({b} AS BIGINT)) + 7))"
    if choice == 5:
        return f"round({a}, {g.randint(0, 3)})"
    if choice == 6:
        return g.choice(["abs", "floor", "ceil"]) + f"({a})"
    if choice == 7:
        r = g.random()
        if r < 0.33:
            return f"ln(abs({a}) + 1.0)"
        if r < 0.66:
            return f"sqrt(abs({a}))"
        # DuckDB ^ is POWER; keep the base bounded so results stay finite
        return f"((abs({a}) % 50) ^ {g.choice([2, 3, 0.5])})"
    if choice == 8:
        return f"(CASE WHEN {bool_expr(g, depth + 1)} THEN {a} ELSE {b} END)"
    if choice == 9:
        return f"coalesce(nullif({a}, {g.randint(0, 5)}), {b})"
    if choice == 10:
        return f"length({str_expr(g, depth + 1)})"
    return f"extract({g.choice(EXTRACT_PARTS)} FROM {ts_expr(g)})"


def str_expr(g: random.Random, depth: int = 0) -> str:
    if depth >= 3 or g.random() < 0.35:
        if g.random() < 0.6:
            return g.choice(STR_COLS)
        return "'" + g.choice(["Ax", "N", "zz9", "R F", ""]) + "'"
    a = str_expr(g, depth + 1)
    choice = g.randrange(15)
    if choice == 13:
        # round-8 surface: DOUBLE/FLOAT -> VARCHAR casts render through
        # the fmtlib typeof dispatch; DECIMAL/INT operands must stay on
        # the plain-cast branch. round(x, 4) keeps libm 1-ulp noise
        # (ln/sqrt last-bit divergence between glibc and the JVM —
        # documented engine divergence) out of the tolerance-free
        # stringified rendering, same guard as the format() branch.
        # r10: deterministic NULL rows sometimes — a NULL double
        # through the render crashed queries pre-r10b and no draw
        # covered it
        inner = f"round({num_expr(g, depth + 1)}, 4)"
        if g.random() < 0.25:
            inner = (
                f"(CASE WHEN l_orderkey % {g.randint(2, 7)} = 0 "
                f"THEN NULL ELSE {inner} END)"
            )
        return f"({inner})::VARCHAR"
    if choice == 14:
        # concat()'s per-argument implicit VARCHAR cast (same dispatch);
        # r10: LIST arguments stringify through the exact list renderer
        # (fmt-shortest float elements, 'NULL' elements)
        if g.random() < 0.3:
            els = ", ".join(
                g.choice(
                    [
                        f"round({g.choice(NUM_COLS)}, 3)",
                        f"{g.uniform(-5, 5):.4f}e{g.randint(-20, 20)}",
                        "NULL",
                        str(g.randint(-9, 99)),
                    ]
                )
                for _ in range(g.randint(0, 3))
            )
            return f"concat([{els}], {a})"
        return f"concat({a}, round({num_expr(g, depth + 1)}, 4))"
    if choice == 11:
        # round-8 surface: RE2 rewrite semantics (backrefs, \0, \\,
        # invalid-escape no-op/truncation, literal $, class anchors)
        pat = g.choice(
            ["a", "N", "z", "[$]", "(N)", "(a)(z)", "l+", "[.]", "\\$"]
        )
        rep = g.choice(
            ["X", "", "$y", "\\0", "\\1", "\\2", "\\\\", "\\q",
             "p\\qs", "_"]
        )
        flags = g.choice(["", ", 'g'", ", 'i'", ", 'gi'"])
        return f"regexp_replace({a}, '{pat}', '{rep}'{flags})"
    if choice == 12:
        # round-8 surface: fmtlib width-only placeholders (runtime
        # type-dependent alignment)
        w = g.randint(1, 8)
        if g.random() < 0.5:
            inner = a
        else:
            # round(x, 4) keeps libm 1-ulp noise (ln/sqrt differ in the
            # last bit between glibc and the JVM — documented engine
            # divergence) out of the stringified rendering, which has
            # no float tolerance
            inner = f"round({num_expr(g, depth + 1)}, 4)"
        return f"format('{{:{w}}}|', {inner})"
    if choice == 8:
        # DuckDB extended-window substr: negative/zero start, negative len
        return f"substr({a}, {g.randint(-4, 4)}, {g.randint(-3, 5)})"
    if choice == 9:
        fn = g.choice(["left", "right"])
        return f"{fn}({a}, {g.randint(-4, 5)})"
    if choice == 10:
        ix = g.choice([-2, -1, 0, 1, 2, 5])
        return f"split_part({a}, '{g.choice([' ', 'a', ','])}', {ix})"
    if choice == 0:
        return f"upper({a})" if g.random() < 0.5 else f"lower({a})"
    if choice == 1:
        return f"substr({a}, {g.randint(1, 3)}, {g.randint(1, 4)})"
    if choice == 2:
        b = str_expr(g, depth + 1)
        return f"concat({a}, {b})" if g.random() < 0.5 else f"({a} || {b})"
    if choice == 3:
        return f"trim({a})"
    if choice == 4:
        return f"reverse({a})"
    if choice == 5:
        return f"lpad({a}, {g.randint(1, 6)}, '{g.choice(['*', '0'])}')"
    if choice == 6:
        return f"replace({a}, '{g.choice(['A', 'N', 'z'])}', '{g.choice(['', '_x'])}')"
    return (
        f"(CASE WHEN {bool_expr(g, depth + 1)} THEN {a} "
        f"ELSE {str_expr(g, depth + 1)} END)"
    )


def ts_expr(g: random.Random) -> str:
    r = g.random()
    if r < 0.4:
        return TS_COL
    if r < 0.7:
        return f"date_trunc('{g.choice(TRUNC_PARTS)}', {TS_COL})"
    # round-8 surface: +/- INTERVAL literal widens to TIMESTAMP in
    # DuckDB for every unit; exercise the CAST wrap on both date- and
    # timestamp-valued left sides
    unit = g.choice(["DAY", "HOUR", "MONTH", "MINUTE", "WEEK"])
    op = g.choice(["+", "-"])
    base = (
        TS_COL
        if g.random() < 0.5
        else f"date_trunc('{g.choice(TRUNC_PARTS)}', {TS_COL})"
    )
    return f"({base} {op} INTERVAL {g.randint(1, 40)} {unit})"


def bool_expr(g: random.Random, depth: int = 0) -> str:
    choice = g.randrange(7)
    if choice == 6:
        # quantified comparison over a list value
        op = g.choice(["=", "<", ">", "<=", ">="])
        quant = g.choice(["ANY", "ALL"])
        lst = (
            f"[{g.choice(INT_COLS)} % 7, {g.choice(INT_COLS)} % 5, "
            f"{g.randint(0, 6)}]"
        )
        return f"(({g.choice(INT_COLS)} % 9) {op} {quant}({lst}))"
    if choice == 0:
        op = g.choice(["<", ">", "<=", ">=", "=", "<>"])
        return f"({num_expr(g, depth + 1)} {op} {num_expr(g, depth + 1)})"
    if choice == 1:
        return f"({str_expr(g, depth + 1)} = {str_expr(g, depth + 1)})"
    if choice == 2:
        if g.random() < 0.5:
            return f"({g.choice(STR_COLS)} LIKE '{g.choice(['A%', '%F', '_'])}')"
        op = g.choice(["~", "!~", "~~", "!~~"])
        pat = "'[AF]'" if "~~" not in op else "'_'"
        return f"({g.choice(STR_COLS)} {op} {pat})"
    if choice == 3:
        lo = g.randint(0, 20)
        return f"({g.choice(INT_COLS + NUM_COLS)} BETWEEN {lo} AND {lo + g.randint(1, 30)})"
    if choice == 4:
        vals = ", ".join(f"'{v}'" for v in g.sample(["A", "N", "R", "F", "O"], 3))
        return f"({g.choice(STR_COLS)} IN ({vals}))"
    if depth >= 2:
        return f"({g.choice(INT_COLS)} % 2 = 0)"
    joiner = g.choice(["AND", "OR"])
    return f"({bool_expr(g, depth + 1)} {joiner} {bool_expr(g, depth + 1)})"


def json_item(g: random.Random) -> str:
    """JSON built from columns, extracted back out via ``->``/``->>``/
    the json_extract family. ``->`` is only applied to NUMERIC leaves
    (its STRING-leaf unquoting divergence is documented in COVERAGE.md;
    ``->>`` is exact everywhere)."""
    jb = (
        "('{\"id\": ' || " + g.choice(INT_COLS) + " || ', \"tag\": \"' || "
        + g.choice(STR_COLS) + " || '\", \"arr\": [' || " + g.choice(INT_COLS)
        + " || ', 7, 11], \"nest\": {\"x\": ' || " + g.choice(INT_COLS)
        + " || '}}')"
    )
    c = g.randrange(7)
    if c == 0:
        return f"{jb} ->> 'tag'"
    if c == 1:
        return f"CAST({jb} -> 'id' AS BIGINT)"
    if c == 2:
        return f"{jb} ->> '$.nest.x'"
    if c == 3:
        return f"CAST({jb} -> 'arr' ->> {g.randint(0, 2)} AS BIGINT)"
    if c == 4:
        return f"CAST({jb} -> 'arr' -> {g.randint(0, 2)} AS BIGINT)"
    if c == 5:
        fn = g.choice(["json_extract_string", "json_extract_path_text"])
        return f"{fn}({jb}, '$.arr[{g.randint(0, 2)}]')"
    return f"json_extract_string({jb}, '/nest/x')"


def lambda_item(g: random.Random) -> str:
    """List lambdas reduced to scalars (whole-list compare would be
    numpy-formatting noise): transform/filter composed under
    list_aggregate / len / list_contains. Integer lists for equality
    probes (float == after arithmetic is not portable)."""
    lst = (
        f"[{g.choice(NUM_COLS)}, {g.choice(NUM_COLS)}, {g.uniform(0, 3):.2f}]"
    )
    ilst = (
        f"[{g.choice(INT_COLS)} % 7, {g.choice(INT_COLS)} % 5, {g.randint(0, 4)}]"
    )
    k = g.randint(0, 3)
    c = g.randrange(7)
    if c == 6:
        # list comprehension form of transform+filter, or a step slice
        if g.random() < 0.5:
            return f"len([x * 2 FOR x IN {ilst} IF x > {k}])"
        return (
            f"list_aggregate(({ilst})[1:3:{g.randint(1, 2)}], 'sum')"
        )
    if c == 0:
        return (
            f"round(list_aggregate(list_transform({lst}, x -> x + {k}), "
            f"'sum'), 3)"
        )
    if c == 1:
        return f"len(list_filter({lst}, x -> x > {k}))"
    if c == 2:
        fn = g.choice(["max", "min", "avg"])
        return (
            f"round(list_aggregate(list_filter({lst}, x -> x < {k}), "
            f"'{fn}'), 3)"
        )
    if c == 3:
        return (
            f"list_contains(list_transform({ilst}, x -> x + 1), "
            f"{g.randint(0, 6)})"
        )
    if c == 4:
        return (
            f"round(list_aggregate(list_transform({lst}, "
            f"x -> x * {g.uniform(-2, 2):.2f}), 'min'), 3)"
        )
    return f"len(list_filter({ilst}, x -> x % 2 = 0))"


def _grapheme_subject(g: random.Random) -> str:
    """String subjects for grapheme functions: column expressions plus
    literals with combining marks, a precomposed accent, and a
    regional-indicator (flag) pair — the cluster shapes the simplified
    UAX #29 splitter claims."""
    if g.random() < 0.5:
        return str_expr(g)
    lit = g.choice(
        [
            "e\u0301x",  # decomposed: e + combining acute
            "\u00e9x",  # precomposed e-acute
            "a\u0308b\u0301c",  # two marked clusters
            "\U0001F1EB\U0001F1F7x",  # regional-indicator pair + x
        ]
    )
    return "'" + lit + "'"


def round6_item(g: random.Random) -> str:
    """Round-6 surface: grapheme functions over arbitrary string
    expressions, json_contains/json_structure over column-built JSON,
    list_resize reduced to scalars, parse_path re-joined, temporal
    isfinite, VARCHAR-subscript array_extract."""
    c = g.randrange(8)
    if c == 0:
        a = _grapheme_subject(g)
        fn = g.choice(["length_grapheme", "left_grapheme", "right_grapheme"])
        if fn == "length_grapheme":
            return f"length_grapheme({a})"
        return f"{fn}({a}, {g.randint(-4, 5)})"
    if c == 1:
        return (
            f"substring_grapheme({_grapheme_subject(g)}, "
            f"{g.randint(-5, 5)}, {g.randint(0, 5)})"
        )
    if c == 2:
        jb = (
            "('{\"id\": ' || " + g.choice(INT_COLS)
            + " || ', \"arr\": [' || " + g.choice(INT_COLS)
            + " || ', 7]}')"
        )
        needle = g.choice(
            ["'7'", "'{\"id\": 1}'", "'[7]'",
             "('{\"id\": ' || " + g.choice(INT_COLS) + " || '}')"]
        )
        return f"json_contains({jb}, {needle})"
    if c == 3:
        jb = (
            "('{\"a\": ' || " + g.choice(INT_COLS)
            + " || ', \"b\": [' || " + g.choice(INT_COLS)
            + " || ', ' || " + g.choice(NUM_COLS) + " || ']}')"
        )
        return f"json_structure({jb})"
    if c == 4:
        lst = f"[{g.choice(INT_COLS)} % 7, {g.choice(INT_COLS)} % 5]"
        n = g.randint(0, 5)
        if g.random() < 0.5:
            return f"len(list_resize({lst}, {n}))"
        # 3-arg pad over a LITERAL list only: DuckDB 1.0.0 aborts with
        # std::bad_array_new_length on 3-arg list_resize of column data
        lit = f"[{g.randint(0, 9)}, {g.randint(0, 9)}]"
        return (
            f"coalesce(list_extract(list_resize({lit}, {n}, "
            f"{g.randint(0, 9)}), ({g.choice(INT_COLS)} % 4) + 1), -1)"
        )
    if c == 5:
        p = (
            "('/' || " + g.choice(STR_COLS) + " || '/x_' || "
            + g.choice(INT_COLS) + " || '.txt')"
        )
        return f"array_to_string(parse_path({p}), '|')"
    if c == 6:
        return f"isfinite(CAST({ts_expr(g)} AS TIMESTAMP))"
    return (
        f"array_extract('abcdef', {g.choice(INT_COLS)} % 9 - 4)"
    )


def r9_scalar_item(g: random.Random) -> str:
    """Round-9 surfaces: dynamic-scale round() and RUNTIME-pattern
    regexp_replace (RE2-invalid values and out-of-range backrefs must
    no-op like DuckDB; the group count is lexed at runtime)."""
    r = g.random()
    if r < 0.12:
        # r9b: statically DECIMAL / INTEGER literal chains keep native
        # typing through round/ceil/floor/trunc — stringify via concat
        # so the scale-keeping rendering is compared exactly
        def lit(dec):
            return (f"{g.uniform(0.5, 200):.{g.randint(1, 4)}f}"
                    if dec else str(g.randint(1, 300)))
        dec = g.random() < 0.7
        a, b = lit(dec), lit(g.random() < 0.5 and dec)
        chain = f"({a} {g.choice(['+', '-', '*'])} {b})"
        fn = g.choice(["round", "ceil", "floor", "trunc", "round"])
        # r11: scale draws include the NEGATIVE range — DuckDB's
        # width-clamped DECIMAL(w,0) rule is replicated by the
        # literal-chain fold (_fold_literal_round)
        call = (f"round({chain}, {g.randint(-4, 4)})"
                if fn == "round" else f"{fn}({chain})")
        return f"concat({g.choice(STR_COLS)}, {call})"
    if r < 0.35:
        col = g.choice(NUM_COLS)
        # r9b: exact for EVERY int32 scale — stress beyond the old
        # +-15 window (guard-region passthrough, inf-power fallbacks)
        k = g.choice(
            [
                f"CAST({g.choice(INT_COLS)} % 4 AS INT)",
                f"CAST(-({g.choice(INT_COLS)} % 3) AS INT)",
                f"CAST({g.choice(INT_COLS)} % 7 - 3 AS INT)",
                f"CAST({g.choice(INT_COLS)} % 41 - 20 AS INT)",
                f"CAST({g.choice(INT_COLS)} % 700 - 350 AS INT)",
                str(g.choice([16, 18, 20, 100, 308, 309, 400,
                              -16, -20, -100, -308, -309, -400])),
            ]
        )
        return f"round({col}, {k})"
    subj = f"({g.choice(STR_COLS)} || '-tail')"
    pat = g.choice(
        [
            f"{g.choice(STR_COLS)} || '('",           # invalid value
            f"'(' || {g.choice(STR_COLS)} || ')'",    # 1 group
            f"'((' || {g.choice(STR_COLS)} || '))'",  # 2 groups
            f"{g.choice(STR_COLS)}",                  # 0 groups
            "'[' || l_returnflag",                    # invalid class
        ]
    )
    rep = g.choice(
        [
            "'X'",
            r"'<\1>'",
            r"'<\2>'",
            r"'<\3>'",
            r"'a\qb'",
            r"'\0|'",
            "l_linestatus || '_'",
        ]
    )
    flags = g.choice(["", ", 'g'", ", 'g'"])
    return f"regexp_replace({subj}, {pat}, {rep}{flags})"


def r10b_item(g: random.Random) -> str:
    """r10b surfaces: extended-window substr with COMPUTED (and
    sometimes NULL) start/len (literal draws never hit the NULL-clamp
    bug), printf/format NULL-argument semantics (DuckDB returns NULL,
    Spark natively renders the NULL as text), trunc's DOUBLE guards
    (big magnitudes past the BIGINT clamp, -0.0 through fmod), and
    substr-over-round render chains (kept linear by the literal-substr
    skip + round span twin)."""
    def maybe_null(expr: str) -> str:
        if g.random() < 0.4:
            return (
                f"(CASE WHEN l_orderkey % {g.randint(2, 7)} = 0 "
                f"THEN NULL ELSE {expr} END)"
            )
        return expr

    c = g.randrange(6)
    if c == 0:
        s = g.choice(STR_COLS)
        st = maybe_null(f"(l_linenumber % {g.randint(5, 9)}) - {g.randint(0, 4)}")
        ln = maybe_null(f"(l_suppkey % {g.randint(4, 7)}) - {g.randint(0, 3)}")
        return f"substr({s} || 'xyz', {st}, {ln})"
    if c == 1:
        return (
            f"printf('%s|%d', {maybe_null(g.choice(STR_COLS))}, "
            f"{g.choice(INT_COLS)})"
        )
    if c == 2:
        # %.Nf rounding is bit-stable on round()ed operands (libm
        # last-bit noise stays out, same guard as the format() draw);
        # r10c: the twin made every float directive fmt-exact, so
        # ties (%.0f/%.2f of *.5 shapes), %e and C-%g draw freely
        inner = maybe_null(f"round({num_expr(g, 2)}, 4)")
        d = g.choice(
            [f"%.{g.randint(0, 3)}f", f"%{g.randint(6, 10)}.2f",
             f"%-{g.randint(6, 10)}.1f", f"%0{g.randint(6, 10)}.1f",
             "%e", f"%.{g.randint(1, 3)}e", "%g", f"%.{g.randint(0, 4)}g",
             "%+.2f", "%.15f", "%.20f", "%.0g", f"%{g.randint(5, 9)}.0g"]
        )
        return f"printf('{d}|%x', {inner}, {g.choice(INT_COLS)})"
    if c == 3:
        inner = maybe_null(f"round({num_expr(g, 2)}, 4)")
        d = g.choice(
            # explicit f/e twins, typeless general (zeros-capped
            # placement + P=0 tie-keep), width forms
            [f"{{:.{g.randint(1, 3)}f}}", f"{{:.{g.randint(1, 2)}e}}",
             f"{{:.{g.randint(0, 4)}}}", f"{{:{g.randint(6, 12)}.{g.randint(0, 3)}}}",
             f"{{:0{g.randint(8, 12)}.{g.randint(1, 3)}}}"]
        )
        return f"format('{d}~{{}}', {inner}, {g.choice(INT_COLS)})"
    if c == 4:
        scale = g.choice(["1e9", "1e17", "1e300", "0.0000007"])
        inner = g.choice(
            [
                f"({g.choice(NUM_COLS)} / {scale})",
                f"(0.0 - ({g.choice(NUM_COLS)} % 1))",
                f"({g.choice(NUM_COLS)} * {scale})",
            ]
        )
        return f"CAST(trunc({maybe_null(inner)}) AS VARCHAR)"
    return (
        f"substr(CAST(round({g.choice(NUM_COLS)} / {g.randint(3, 9)}, 3) "
        f"AS VARCHAR), {g.randint(1, 3)}, {g.randint(2, 7)})"
    )


#: DECIMAL/INT columns added to the fuzz lineitem view on BOTH engines
#: with these types (main registers the casts; the executor's publisher
#: reads the types back from the view for each statement) — the
#: hint-dispatched surfaces (decimal round/ceil/floor/trunc, the
#: negative-scale width clamp, decimal rendering in || / concat) were
#: previously covered only by hand batteries
HINTED_DEC_COLS = {
    "dq": "decimal(12,2)",
    "dt": "decimal(8,4)",
    "dnarrow": "decimal(4,3)",  # w-s = 1: clamps at every k <= -1
}

#: wide DECIMAL columns (r13): unscaled values beyond 2^53, built from
#: EXACT integer-decimal products so both engines hold identical
#: values; dw18 exercises the int64-backed interpolation band (16..18),
#: dw32 the hugeint band (19..38) — see DuckQDec.java
WIDE_DEC_COLS = {
    "dw18": "decimal(18,2)",
    "dw32": "decimal(32,2)",
}


def hinted_decimal_item(g: random.Random) -> str:
    """Draws over the hinted DECIMAL view columns: rounding at
    positive AND negative scales (the width clamp is statically
    decided from the hints), ceil/floor/trunc native-decimal paths,
    mixed column+literal chains, and string renderings."""
    col = g.choice(list(HINTED_DEC_COLS))
    r = g.random()
    if r < 0.30:
        k = g.randint(-4, 4)
        return f"concat('v=', round({col}, {k}))"
    if r < 0.50:
        lit = f"{g.uniform(0.5, 50):.{g.randint(1, 3)}f}"
        op = g.choice(["+", "-", "*"])
        k = g.randint(-3, 3)
        return f"concat('v=', round(({col} {op} {lit}), {k}))"
    if r < 0.65:
        fn = g.choice(["ceil", "floor", "trunc"])
        return f"concat('v=', {fn}({col}))"
    if r < 0.75:
        k = g.randint(-2, 2)
        other = g.choice([c for c in HINTED_DEC_COLS if c != col])
        return f"round({col} + {other}, {k})"
    if r < 0.85:
        # r12: NESTED round / ceil-floor-trunc-wrapped chains — the
        # chain parser's call leaves propagate DuckDB's result widths
        inner = g.choice(
            [
                f"round({col}, {g.randint(0, 3)})",
                f"round({col} + {g.uniform(0.5, 9):.2f}, {g.randint(-2, 2)})",
                f"{g.choice(['ceil', 'floor', 'trunc'])}({col})",
            ]
        )
        return f"concat('v=', round({inner}, {g.randint(-3, 2)}))"
    return f"({col} || '#' || {g.choice(STR_COLS)})"


def scalar_item(g: random.Random) -> str:
    r = g.random()
    if r < 0.33:
        return num_expr(g)
    if r < 0.38:
        return hinted_decimal_item(g)
    if r < 0.54:
        return str_expr(g)
    if r < 0.60:
        return json_item(g)
    if r < 0.64:
        return r9_scalar_item(g)
    if r < 0.68:
        return r10b_item(g)
    if r < 0.73:
        return round6_item(g)
    if r < 0.80:
        return lambda_item(g)
    if r < 0.86:
        return f"CAST(extract({g.choice(EXTRACT_PARTS)} FROM {ts_expr(g)}) AS VARCHAR)"
    if r < 0.93:
        return f"strftime({ts_expr(g)}, '{g.choice(STRFTIME_FMTS)}')"
    unit = g.choice(["day", "hour", "month", "week"])
    k = g.randint(1, 90)
    iu = g.choice(["DAY", "HOUR"])
    return (
        f"date_diff('{unit}', {ts_expr(g)}, "
        f"{TS_COL} + INTERVAL {k} {iu})"
    )


WIN_ORDER = (
    "ORDER BY l_orderkey, l_linenumber, l_partkey, l_suppkey, l_extendedprice"
)


def win_item(g: random.Random) -> str:
    """Deterministic window expression: the ORDER BY is a unique total
    order, so every ranking/offset/frame function is reproducible."""
    part = g.choice(["", "PARTITION BY l_returnflag ", "PARTITION BY l_linestatus "])
    choice = g.randrange(10)
    if choice == 9:
        # r9: full-partition-frame window mad lowers to built-in window
        # medians (raw value — compare_cols' rtol absorbs percentile
        # interpolation ulps, like the windowed-sum items).
        # r10: bounded ROWS / running frames and DISTINCT lower to the
        # in-place collect_list frame-median template — draw those too,
        # plus the other frame-materialized window aggregates
        # (entropy / quantile_disc / quantile_cont over any frame)
        # r13: decimal columns exercise the streaming core's unscaled
        # paths; deeper FOLLOWING lookaheads and UNBOUNDED..k FOLLOWING
        # take the lead-shifted input; histogram windows stream via
        # DuckWinHist (rendered to sorted strings for comparison)
        col = g.choice(NUM_COLS + list(HINTED_DEC_COLS))
        dq = "DISTINCT " if g.random() < 0.2 else ""
        r = g.random()
        if r < 0.2:
            spec = part.strip()
        elif r < 0.4:
            spec = (
                f"{part}{WIN_ORDER} ROWS BETWEEN UNBOUNDED PRECEDING "
                "AND UNBOUNDED FOLLOWING"
            )
        elif r < 0.6:
            spec = f"{part}{WIN_ORDER}"  # running frame
        elif r < 0.75:
            lo = g.randint(1, 4)
            hi = g.choice(["CURRENT ROW", "1 FOLLOWING", "2 FOLLOWING"])
            spec = f"{part}{WIN_ORDER} ROWS BETWEEN {lo} PRECEDING AND {hi}"
        elif r < 0.9:
            hi = g.randint(1, 5)
            spec = (
                f"{part}{WIN_ORDER} ROWS BETWEEN {g.randint(1, 6)}"
                f" PRECEDING AND {hi} FOLLOWING"
            )
        else:
            spec = (
                f"{part}{WIN_ORDER} ROWS BETWEEN UNBOUNDED PRECEDING"
                f" AND {g.randint(1, 4)} FOLLOWING"
            )
        r2 = g.random()
        if r2 < 0.4:
            return f"mad({dq}{col}) OVER ({spec})"
        if r2 < 0.55:
            return f"entropy({dq}{g.choice(INT_COLS)} % 7) OVER ({spec})"
        if r2 < 0.7:
            h = f"histogram({g.choice(INT_COLS)} % 5) OVER ({spec})"
            side = g.choice(["map_keys", "map_values"])
            return f"array_to_string({side}({h}), ',')"
        q = g.choice(["0.0", "0.25", "0.5", "0.9", "1.0"])
        fn = g.choice(["quantile_disc", "quantile_cont"])
        return f"{fn}({dq}{col}, {q}) OVER ({spec})"
    if choice == 8:
        # window frame EXCLUDE (dialect _rewrite_window_exclude): the
        # unique total order makes ROWS frames deterministic; the
        # k..1 PRECEDING shape covers frame-omits-current (CURRENT ROW
        # no-op, TIES unconditional add-back)
        col = g.choice(INT_COLS)
        agg = g.choice(["sum", "min", "max", "avg", "count"])
        mode = g.choice(["CURRENT ROW", "GROUP", "TIES", "NO OTHERS"])
        if g.random() < 0.35:
            # RANGE frame over a NON-unique order key: peer groups are
            # real multisets (GROUP/TIES differ from CURRENT ROW), and
            # value-range frames are deterministic regardless of row
            # order — the q60 shape, r9
            lo, hi = g.randint(1, 3), g.randint(0, 2)
            frame = (
                f"RANGE BETWEEN {lo} PRECEDING AND "
                f"{'CURRENT ROW' if hi == 0 else f'{hi} FOLLOWING'}"
            )
            order = f"ORDER BY {g.choice(['l_linenumber', 'l_suppkey % 7'])}"
            return (
                f"{agg}({col}) OVER ({part}{order} {frame} EXCLUDE {mode})"
            )
        if g.random() < 0.3:
            frame = f"ROWS BETWEEN {g.randint(2, 4)} PRECEDING AND 1 PRECEDING"
        else:
            frame = (
                f"ROWS BETWEEN {g.randint(1, 3)} PRECEDING "
                f"AND {g.choice(['CURRENT ROW', '1 FOLLOWING', '2 FOLLOWING'])}"
            )
        return (
            f"{agg}({col}) OVER ({part}{WIN_ORDER} {frame} EXCLUDE {mode})"
        )
    if choice == 5:
        col = g.choice(INT_COLS)
        k = g.randint(1, 4)
        return (
            f"nth_value({col}, {k}) OVER ({part}{WIN_ORDER} "
            "ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)"
        )
    if choice == 6:
        # lead/lag with an explicit default
        col = g.choice(INT_COLS)
        fn = g.choice(["lag", "lead"])
        return (
            f"{fn}({col}, {g.randint(1, 3)}, {g.randint(-5, 5)}) "
            f"OVER ({part}{WIN_ORDER})"
        )
    if choice == 7:
        col = g.choice(INT_COLS)
        return (
            f"last_value({col}) OVER ({part}{WIN_ORDER} "
            f"ROWS BETWEEN {g.randint(1, 4)} PRECEDING AND CURRENT ROW)"
        )
    if choice == 0:
        fn = g.choice(["row_number()", "rank()", "dense_rank()", "ntile(7)"])
        return f"{fn} OVER ({part}{WIN_ORDER})"
    if choice == 1:
        col = g.choice(NUM_COLS + INT_COLS)
        off = g.randint(1, 3)
        fn = g.choice(["lag", "lead"])
        return f"{fn}({col}, {off}) OVER ({part}{WIN_ORDER})"
    if choice == 2:
        col = g.choice(NUM_COLS)
        k = g.randint(1, 5)
        agg = g.choice(["sum", "min", "max", "avg", "count"])
        # NO round() wrapper: the engines' windowed-sum accumulation
        # orders differ at ~1e-14 relative (measured), and rounding
        # amplifies that to a whole last digit at half boundaries;
        # compare_cols' 1e-9 rtol absorbs the raw noise instead
        return (
            f"{agg}({col}) OVER ({part}{WIN_ORDER} "
            f"ROWS BETWEEN {k} PRECEDING AND CURRENT ROW)"
        )
    if choice == 3:
        col = g.choice(INT_COLS)
        return (
            f"first_value({col}) OVER ({part}{WIN_ORDER} "
            "ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)"
        )
    return (
        f"sum({num_expr(g, 2)}) OVER ({part}{WIN_ORDER} "
        "ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)"
    )


def agg_item(g: random.Random) -> str:
    r = g.random()
    if r < 0.08:
        # r12: DECIMAL-input quantiles keep the input's (w, s) type
        # (unscaled-domain interpolation, truncation toward zero);
        # median(DECIMAL) is the discrete lower-middle element.
        # r13 widens the draw: wide-decimal columns (DuckQDec),
        # quantile_disc, and FILTER riders on the decimal shims
        col = g.choice(list(HINTED_DEC_COLS) + list(WIDE_DEC_COLS))
        q = g.choice(["0.1", "0.25", "0.5", "0.77", "0.9"])
        agg = g.choice(
            [
                f"quantile_cont({col}, {q})",
                f"percentile_cont({q}) WITHIN GROUP (ORDER BY {col})",
                f"median({col})",
                f"quantile_disc({col}, {q})",
            ]
        )
        if g.random() < 0.25:
            agg += f" FILTER (WHERE l_linenumber % 3 != 0)"
        return f"concat('v=', {agg})"
    if r < 0.10:
        # round-8 surface: restructured two-phase aggregates under
        # every group-key shape (ordinals/expressions/aliases);
        # r9 adds the DISTINCT qualifier (deduped two-phase plans);
        # r13: DECIMAL mads (truncating unscaled-integer arithmetic,
        # DECIMAL(w,s) result) and FILTER riders (CASE-folded)
        dq = "DISTINCT " if g.random() < 0.3 else ""
        if g.random() < 0.4:
            col = g.choice(list(HINTED_DEC_COLS))
            filt = (
                f" FILTER (l_suppkey % 2 = 0)" if g.random() < 0.3 else ""
            )
            return f"concat('m=', mad({dq}{col}){filt})"
        return f"round(CAST(mad({dq}{g.choice(NUM_COLS)}) AS DOUBLE), 3)"
    if r < 0.20:
        dq = "DISTINCT " if g.random() < 0.3 else ""
        return f"round(entropy({dq}{g.choice(STR_COLS + INT_COLS)}), 3)"
    fn = g.choice(["sum", "avg", "min", "max", "count"])
    inner = num_expr(g, depth=1)
    if g.random() < 0.3:
        inner = f"CASE WHEN {bool_expr(g, 1)} THEN {inner} END"
    call = f"{fn}({inner})"
    if g.random() < 0.25:
        # DuckDB FILTER shorthand (no WHERE keyword)
        call += f" FILTER ({bool_expr(g, 1)})"
    return call


def suffix_win_stmt(g: random.Random) -> str:
    """Single-window statement over a suffix or lookahead frame —
    batched expression items always carry several windows, so the
    REVERSED-order streaming lowering (r13: sole-window gate) only
    gets oracle coverage through these."""
    part = g.choice(["", "PARTITION BY l_returnflag ", "PARTITION BY l_linestatus "])
    col = g.choice(NUM_COLS + list(HINTED_DEC_COLS) + INT_COLS)
    frame = g.choice(
        [
            "ROWS BETWEEN CURRENT ROW AND UNBOUNDED FOLLOWING",
            f"ROWS BETWEEN {g.randint(1, 6)} PRECEDING AND UNBOUNDED FOLLOWING",
            "RANGE BETWEEN CURRENT ROW AND UNBOUNDED FOLLOWING",
            f"ROWS BETWEEN UNBOUNDED PRECEDING AND {g.randint(1, 4)} FOLLOWING",
        ]
    )
    r = g.random()
    if r < 0.4:
        call = f"mad({col})"
    elif r < 0.6:
        call = f"quantile_cont({col}, {g.choice(['0.25', '0.5', '0.77'])})"
    elif r < 0.8:
        call = f"quantile_disc({g.choice(INT_COLS)}, {g.choice(['0.3', '0.6'])})"
    else:
        call = f"entropy({g.choice(INT_COLS)} % 7)"
    # string-render the result: decimal-typed answers then compare
    # exactly regardless of pandas dtype coercion
    return (
        "SELECT l_orderkey, l_linenumber, CAST("
        f"{call} OVER ({part}{WIN_ORDER} {frame}) AS VARCHAR) AS w "
        "FROM lineitem WHERE l_orderkey % 11 = 3"
    )


def asof_stmt(g: random.Random) -> str:
    """Statement-level ASOF [LEFT] JOIN with deliberately duplicated
    right timestamps per key (``l_partkey % dup`` collapses to a handful
    of values) — the tie edge of the lead-per-key rewrite. Only the
    matched right TIMESTAMP is projected: with duplicate (k, ts) right
    rows both engines pick an arbitrary tie row, but the matched ts and
    the one-row-per-left-row cardinality are contractual. All four
    inequality directions and both join kinds are drawn."""
    kind = g.choice(["ASOF JOIN", "ASOF LEFT JOIN"])
    op = g.choice([">=", ">", "<=", "<"])
    dup = g.choice([3, 5, 9])
    mod = g.choice([25, 50])
    mult = g.choice([2, 3])
    return (
        f"WITH lft AS (SELECT l_orderkey % {mod} AS k, "
        f"l_linenumber * {mult} + l_suppkey % 7 AS ts, l_quantity AS lv "
        f"FROM lineitem), "
        f"rgt AS (SELECT l_orderkey % {mod} AS k, l_partkey % {dup} AS ts "
        f"FROM lineitem) "
        f"SELECT lft.k AS k, lft.ts AS ts, rgt.ts AS rts, count(*) AS n, "
        f"round(sum(lft.lv), 3) AS slv "
        f"FROM lft {kind} rgt ON lft.k = rgt.k AND lft.ts {op} rgt.ts "
        f"GROUP BY 1, 2, 3"
    )


def groupby_stmt(g: random.Random) -> str:
    """Random GROUP BY statement: optional orders join, random WHERE,
    1-2 grouping keys, a handful of aggregate items, optional HAVING,
    optional DISTINCT wrapper. Compared as whole sorted frames, so
    clause interactions (join+filter+agg+having) are certified, not
    just scalar expressions."""
    join = g.choice([None, "JOIN", "LEFT JOIN"]) if g.random() < 0.6 else None
    keys = ["l_returnflag"]
    if g.random() < 0.5:
        keys.append(
            g.choice(
                [
                    "l_linestatus",
                    "(l_orderkey % 7)",
                    "date_trunc('month', l_shipdate)",
                    "year(l_shipdate)",
                ]
            )
        )
    if join and g.random() < 0.5:
        keys.append("o_orderstatus")
    aggs = [agg_item(g) for _ in range(g.randint(1, 3))]
    if join and g.random() < 0.5:
        # CAST to BIGINT first: sum/avg over raw DOUBLE is summation-
        # order-dependent at the last ulp on BOTH engines, and the
        # round() wrapper amplifies a boundary-straddling .xx5 into a
        # visible 0.01 diff (seed-814 find; same class as the windowed-
        # sum note above). Integer sums are exact in double up to 2^53,
        # so partial-aggregation order cannot move the value.
        aggs.append(
            f"round({g.choice(['sum', 'avg', 'min', 'max'])}"
            f"(CAST(o_totalprice AS BIGINT)), 2)"
        )
    interleave = g.random() < 0.35
    kpos = {}
    if interleave:
        # r9: interleave keys among aggregate items so ordinal GROUP BY
        # keys land AFTER aggregates (GROUP BY 1, 3 with an aggregate at
        # position 2 — the base-GROUP-BY-rebuild class the round-8
        # grammar could not draw)
        order = [("k", i) for i in range(len(keys))]
        order += [("a", i) for i in range(len(aggs))]
        g.shuffle(order)
        items = []
        for kind, idx in order:
            if kind == "k":
                kpos[idx] = len(items) + 1
                items.append(f"{keys[idx]} AS k{idx}")
            else:
                items.append(f"{aggs[idx]} AS a{idx}")
        sql = f"SELECT {', '.join(items)}, count(*) AS n FROM lineitem"
    else:
        sel_keys = ", ".join(
            f"{k} AS k{i}" for i, k in enumerate(keys)
        )
        sel_aggs = ", ".join(f"{a} AS a{i}" for i, a in enumerate(aggs))
        sql = f"SELECT {sel_keys}, {sel_aggs}, count(*) AS n FROM lineitem"
    if join:
        sql += f" {join} orders ON l_orderkey = o_orderkey"
        if join == "LEFT JOIN" and g.random() < 0.7:
            # every l_orderkey matches, so narrow the join to make the
            # LEFT actually null-extend rows
            sql += f" AND o_totalprice > {g.randint(50000, 300000)}"
    if g.random() < 0.6:
        sql += f" WHERE {bool_expr(g, 1)}"
    rk = g.random()
    if rk < 0.3:
        # ordinal keys (the round-8 wrong-answer class: a restructure
        # that exports the literal ordinal joins every group globally)
        sql += " GROUP BY " + ", ".join(
            str(kpos[i] if interleave else i + 1)
            for i in range(len(keys))
        )
    elif rk < 0.5:
        # select-list alias keys
        sql += " GROUP BY " + ", ".join(
            f"k{i}" for i in range(len(keys))
        )
    else:
        sql += " GROUP BY " + ", ".join(keys)
    hv = g.random()
    if hv < 0.35:
        sql += f" HAVING count(*) > {g.randint(0, 50)}"
    elif hv < 0.5:
        # aggregate-in-HAVING hoist path
        sql += f" HAVING mad({g.choice(NUM_COLS)}) >= 0"
    return sql


def setop_stmt(g: random.Random) -> str:
    """Set operations between two filtered projections (duplicate
    semantics of UNION vs UNION ALL vs INTERSECT vs EXCEPT)."""
    op = g.choice(["UNION", "UNION ALL", "INTERSECT", "EXCEPT"])
    cols = "l_returnflag, l_linestatus, (l_orderkey % 10) AS b"
    p1, p2 = bool_expr(g, 1), bool_expr(g, 1)
    return (
        f"SELECT {cols} FROM lineitem WHERE {p1} "
        f"{op} "
        f"SELECT {cols} FROM lineitem WHERE {p2}"
    )


def subquery_stmt(g: random.Random) -> str:
    """IN / NOT IN / EXISTS / NOT EXISTS subqueries against orders —
    semi/anti rewrites plus NULL-aware NOT IN semantics."""
    kind = g.randrange(3)
    thr = g.randint(1, 200000)
    if kind == 0:
        neg = g.choice(["", "NOT "])
        sub = f"SELECT o_orderkey FROM orders WHERE o_totalprice > {thr}"
        where = f"l_orderkey {neg}IN ({sub})"
    elif kind == 1:
        neg = g.choice(["", "NOT "])
        where = (
            f"{neg}EXISTS (SELECT 1 FROM orders WHERE "
            f"o_orderkey = l_orderkey AND o_totalprice > {thr})"
        )
    else:
        where = (
            f"l_extendedprice > (SELECT avg(o_totalprice) / "
            f"{g.randint(2, 9)} FROM orders)"
        )
    return (
        f"SELECT l_returnflag AS k, count(*) AS n, "
        f"round(sum(l_quantity), 2) AS q "
        f"FROM lineitem WHERE {where} GROUP BY l_returnflag"
    )


def cte_stmt(g: random.Random) -> str:
    """WITH-chain statements whose inner or outer scope carries mad/
    entropy (the restructure must resolve keys and rebuild GROUP BY
    inside CTE scopes) plus window/round surfaces across the chain."""
    agg1 = g.choice(
        [
            "round(CAST(mad(l_quantity) AS DOUBLE), 4)",
            "round(entropy(l_linenumber), 6)",
            "round(sum(l_extendedprice), 2)",
            "CAST(count(DISTINCT l_suppkey) AS BIGINT)",
        ]
    )
    key = g.choice(["l_returnflag", "l_linestatus"])
    inner_ord = g.random() < 0.5
    gb = "1" if inner_ord else key
    base = (
        f"SELECT {key} AS k, {agg1} AS m, count(*) AS n "
        f"FROM lineitem WHERE l_orderkey < {g.randint(500, 3000)} "
        f"GROUP BY {gb}"
    )
    outer = g.randrange(3)
    if outer == 0:
        # second CTE referencing the first; outer aggregate over it
        return (
            f"WITH a AS ({base}), b AS (SELECT k, m, n FROM a "
            f"WHERE n > {g.randint(0, 3)}) "
            "SELECT k, round(CAST(m AS DOUBLE), 3) AS m2, n FROM b"
        )
    if outer == 1:
        # outer mad/entropy over the CTE output (restructure on a CTE
        # source)
        oagg = g.choice(
            ["round(CAST(mad(n) AS DOUBLE), 6)", "round(entropy(k), 6)"]
        )
        return (
            f"WITH a AS ({base}) "
            f"SELECT {oagg} AS mm, CAST(count(*) AS BIGINT) AS c FROM a"
        )
    # window over the CTE output
    return (
        f"WITH a AS ({base}) "
        "SELECT k, m, n, CAST(rank() OVER (ORDER BY n DESC, k) AS BIGINT)"
        " AS r FROM a"
    )


def alias_stmt(g: random.Random) -> str:
    """r10: in-statement alias typing — a statically-DECIMAL/INT alias
    defined in a subquery/CTE flows into round/ceil/floor/trunc, ``||``
    rendering, and VARCHAR casts in the outer scope; the derived alias
    hint must dispatch exactly like a schema-hinted column."""
    lit = f"{g.randint(0, 200)}.{g.randint(0, 9999):04d}"
    d = g.choice(
        [
            lit,
            f"({g.randint(1, 50)} + {lit})",
            f"ceil({lit})",
            f"floor({lit})",
            f"trunc({lit})",
            f"abs(-{lit})",
            f"round({lit}, {g.randint(0, 4)})",
            str(g.randint(-100, 100)),
        ]
    )
    use = g.choice(
        [
            f"CAST(round(d, {g.randint(0, 4)}) AS VARCHAR)",
            "d || 'x'",
            "'v=' || d",
            "CAST(ceil(d) AS VARCHAR)",
            "CAST(floor(d) AS VARCHAR)",
            "CAST(trunc(d) AS VARCHAR)",
            f"CAST(round(d + {g.randint(1, 9)}.5, 1) AS VARCHAR)",
        ]
    )
    inner = (
        f"SELECT l_orderkey AS id, {d} AS d FROM lineitem "
        f"WHERE l_orderkey < {g.randint(50, 400)}"
    )
    if g.random() < 0.5:
        return f"WITH a AS ({inner}) SELECT id, {use} AS s FROM a"
    return f"SELECT id, {use} AS s FROM ({inner}) q"


def qualify_stmt(g: random.Random) -> str:
    """QUALIFY / DISTINCT ON statements — the recursive window-subquery
    rewriters. A unique total order makes every pick deterministic."""
    if g.random() < 0.5:
        part = g.choice(["l_returnflag", "l_linestatus"])
        fn = g.choice(["row_number()", "rank()", "dense_rank()"])
        k = g.randint(1, 5)
        return (
            f"SELECT l_orderkey, l_linenumber, {part} AS grp, "
            f"l_extendedprice FROM lineitem "
            f"QUALIFY {fn} OVER (PARTITION BY {part} "
            f"ORDER BY {WIN_ORDER[len('ORDER BY '):]}) <= {k}"
        )
    part = g.choice(["l_returnflag", "l_linestatus", "(l_orderkey % 5)"])
    return (
        f"SELECT DISTINCT ON ({part}) {part} AS grp, l_orderkey, "
        f"l_linenumber, l_quantity FROM lineitem "
        f"ORDER BY {part}, {WIN_ORDER[len('ORDER BY '):]}"
    )


def run_stmt(spark, con, translate, sql: str) -> bool:
    """Full-statement compare (sorted frames, per-column tolerance)."""
    odf = con.execute(sql).fetchdf()
    sdf = spark.sql(translate(sql)).toPandas()
    if len(odf) != len(sdf) or set(odf.columns) != set(sdf.columns):
        return False
    sdf = sdf[list(odf.columns)]
    odf, sdf = _sort_frame(odf), _sort_frame(sdf)
    return all(
        compare_cols(sdf[c].to_numpy(), odf[c].to_numpy())
        for c in odf.columns
    )


def _dt_like(arr: np.ndarray) -> bool:
    import datetime as _dt

    if str(getattr(arr, "dtype", "")).startswith("datetime64"):
        return True
    return len(arr) > 0 and isinstance(arr[0], (_dt.date, _dt.datetime))


def compare_cols(sa: np.ndarray, oa: np.ndarray) -> bool:
    """Order-aligned column compare with float tolerance; DATE vs
    datetime64 fetch representations normalize through pandas (Spark
    fetches DATE as python dates, DuckDB as datetime64 — same instants
    stringify differently)."""
    try:
        a = sa.astype(float)
        b = oa.astype(float)
        nan = np.isnan(a) & np.isnan(b)
        return bool(np.all(np.isclose(a, b, rtol=1e-9, atol=1e-12) | nan))
    except (ValueError, TypeError):
        pass
    if _dt_like(sa) or _dt_like(oa):
        import pandas as pd

        try:
            da = pd.to_datetime(pd.Series(sa)).dt.tz_localize(None)
        except TypeError:
            da = pd.to_datetime(pd.Series(sa))
        try:
            db = pd.to_datetime(pd.Series(oa)).dt.tz_localize(None)
        except TypeError:
            db = pd.to_datetime(pd.Series(oa))
        # values, not Series.equals: that is dtype-sensitive and
        # datetime64[us] vs [ns] units differ between fetch paths
        va = da.values.astype("datetime64[us]")
        vb = db.values.astype("datetime64[us]")
        both_nat = pd.isna(va) & pd.isna(vb)
        return bool(np.all((va == vb) | both_nat))
    return bool(np.all(sa.astype(str) == oa.astype(str)))


def _sort_frame(df):
    """Multiset ordering: (l_orderkey, l_linenumber) is NOT unique in
    the synthetic data, so rows are ordered by every column (floats
    rounded so a sub-tolerance engine difference can't flip the sort)."""
    import pandas as pd

    keys = {}
    for c in df.columns:
        col = df[c]
        try:
            keys[c] = col.astype(float).round(6)
        except (ValueError, TypeError):
            keys[c] = col.astype(str)
    return df.loc[pd.DataFrame(keys).sort_values(list(df.columns)).index]


def run_batch(spark, con, translate, items: List[str], agg: bool):
    """Returns indices of mismatched items (into ``items``)."""
    sel = ", ".join(f"{e} AS e{i}" for i, e in enumerate(items))
    if agg:
        sql = (
            f"SELECT l_returnflag, {sel} FROM lineitem "
            "GROUP BY l_returnflag"
        )
    else:
        sql = f"SELECT l_orderkey, l_linenumber, {sel} FROM lineitem"
    odf = con.execute(sql).fetchdf()
    sdf = spark.sql(translate(sql)).toPandas()
    if len(odf) != len(sdf):
        return list(range(len(items)))
    odf, sdf = _sort_frame(odf), _sort_frame(sdf)
    bad = []
    for i in range(len(items)):
        if not compare_cols(sdf[f"e{i}"].to_numpy(), odf[f"e{i}"].to_numpy()):
            bad.append(i)
    return bad


def main() -> int:
    args = sys.argv[1:]

    def opt(name, default):
        return args[args.index(name) + 1] if name in args else default

    n = int(opt("--n", "300"))
    seed = int(opt("--seed", "20260813"))
    sf = opt("--sf", "0.001")
    sf_dir = f"/root/testdata/sf{sf}"

    if n > 200:
        # long single-JVM runs degrade the 4G driver (hundreds of
        # giant generated whole-stage-codegen plans accumulate until
        # heap exhaustion — observed as wedged runs past ~expr 150-300,
        # and in-process SparkContext restarts are flaky): shard into
        # fresh-JVM subprocesses with derived seeds. Each chunk prints
        # its own seed, so a failure reproduces with
        # ``--n 150 --seed <chunk seed>``.
        import subprocess

        total = 0
        k = 0
        remaining = n
        while remaining > 0:
            chunk = min(150, remaining)
            chunk_seed = seed * 1000003 + k
            print(f"# chunk {k}: --n {chunk} --seed {chunk_seed}",
                  file=sys.stderr)
            try:
                r = subprocess.run(
                    [sys.executable, __file__, "--n", str(chunk),
                     "--seed", str(chunk_seed), "--sf", sf],
                    capture_output=True, text=True, timeout=1800,
                )
            except subprocess.TimeoutExpired as exc:
                # a hung chunk must not crash the whole campaign: count
                # it as a distinct failure and keep going
                print(f"# chunk {k} TIMED OUT after 1800s "
                      f"(--n {chunk} --seed {chunk_seed})",
                      file=sys.stderr)
                if exc.stderr:
                    err = exc.stderr
                    if isinstance(err, bytes):
                        err = err.decode(errors="replace")
                    sys.stderr.write(err[-4000:])
                total += 1
                remaining -= chunk
                k += 1
                continue
            sys.stdout.write(r.stdout)
            m = re.search(r"(\d+) mismatches over", r.stdout)
            if m:
                total += int(m.group(1))
            else:
                # a chunk that died without printing its summary line
                # is a crash, not "1 mismatch": surface its stderr
                print(f"# chunk {k} CRASHED without a summary "
                      f"(--n {chunk} --seed {chunk_seed}, "
                      f"exit {r.returncode})", file=sys.stderr)
                sys.stderr.write((r.stderr or "")[-4000:])
                total += 1
            remaining -= chunk
            k += 1
        print(f"\n{total} mismatches over {n} expressions "
              f"(seed {seed}, {k} sharded chunks)")
        return 1 if total else 0

    sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))
    from component_duckdb_transformation_spark.functions import dialect
    from component_duckdb_transformation_spark.plans.executor import published_hints
    from component_duckdb_transformation_spark.plans.sql_parser import parse_statement
    from component_duckdb_transformation_spark.session import build_spark_session
    from component_duckdb_transformation_spark.sources.parquet_io import read_parquet

    # 8g heap: single fuzz-found expressions can translate to 300+ KB
    # of SQL whose whole-stage codegen inflates to many MB of Java —
    # a 4g driver OOMs on one such plan even in a fresh JVM
    spark = build_spark_session(
        app_name="fuzz-diff", threads=8, shuffle_partitions=8,
        max_memory_mb=8192,
    )
    con = duckdb.connect()
    for table in ("lineitem", "orders"):
        read_parquet(
            spark, f"{sf_dir}/{table}.parquet"
        ).createOrReplaceTempView(table)
        con.execute(
            f"CREATE VIEW {table} AS "
            f"FROM read_parquet('{sf_dir}/{table}.parquet')"
        )

    # augment lineitem with real DECIMAL columns on BOTH engines —
    # exercises the hint-dispatched decimal surfaces (see
    # hinted_decimal_item)
    dec_casts = (
        "CAST(l_quantity AS DECIMAL(12,2)) AS dq, "
        "CAST(l_tax AS DECIMAL(8,4)) AS dt, "
        "CAST(l_discount % 10 AS DECIMAL(4,3)) AS dnarrow, "
        # wide decimals from exact integer products (identical values
        # on both engines; unscaled magnitudes straddle 2^53)
        "CAST(CAST(l_orderkey AS DECIMAL(12,0)) * l_partkey"
        " * CAST('16999999.99' AS DECIMAL(10,2)) AS DECIMAL(18,2)) AS dw18, "
        "CAST(CAST(l_orderkey AS DECIMAL(12,0)) * l_partkey"
        " * CAST('137137137137.13' AS DECIMAL(14,2)) AS DECIMAL(32,2))"
        " AS dw32"
    )
    spark.sql(
        f"SELECT *, {dec_casts} FROM lineitem"
    ).createOrReplaceTempView("lineitem")
    con.execute(
        f"CREATE OR REPLACE VIEW lineitem AS SELECT *, {dec_casts} "
        f"FROM read_parquet('{sf_dir}/lineitem.parquet')"
    )
    # every statement translates as the executor translates it: its
    # dependency tables' column types published to the translator
    schema_cache: dict = {}

    def translate(sql: str) -> str:
        deps = parse_statement(sql).dependencies
        with published_hints(spark, sql, deps, schema_cache=schema_cache):
            return dialect.translate(sql)

    g = random.Random(seed)
    scalar_n = n * 3 // 5
    win_n = n // 5
    items = [(scalar_item(g), False) for _ in range(scalar_n)]
    items += [(win_item(g), False) for _ in range(win_n)]
    items += [(agg_item(g), True) for _ in range(n - scalar_n - win_n)]

    mismatches = 0
    for agg in (False, True):
        pool = [e for e, a in items if a == agg]
        # size-aware batching: nested template rewrites (round-in-
        # format-in-grapheme and the JSON casts) can translate to
        # 100-300 KB of SQL per expression; packing 20 of those into
        # one job OOMs the 4G driver (codegen + plan retention across
        # the batch). Cap each job's cumulative translated bytes; a
        # single giant expression gets its own job.
        batches: List[List[str]] = []
        cur: List[str] = []
        cur_bytes = 0
        skipped = 0
        for e in pool:
            try:
                sz = len(translate(f"SELECT {e} FROM lineitem"))
            except Exception:  # noqa: BLE001 — run_batch will surface it
                sz = len(e)
            if sz > 250_000:
                # semantic fuzzing, not analyzer stress: a multi-100KB
                # translated plan tests codegen memory, not dialect
                # parity — skip and say so (the nesting depth cap keeps
                # these rare)
                skipped += 1
                print(f"# SKIP oversized translate ({sz} bytes): "
                      f"{e[:80]!r}", file=sys.stderr)
                continue
            if cur and (len(cur) >= BATCH or cur_bytes + sz > 400_000):
                batches.append(cur)
                cur, cur_bytes = [], 0
            cur.append(e)
            cur_bytes += sz
        if cur:
            batches.append(cur)
        done = 0
        for batch in batches:
            try:
                bad = run_batch(spark, con, translate, batch, agg)
            except Exception as exc:  # isolate the erroring expression
                bad = []
                for j, e in enumerate(batch):
                    try:
                        bad_j = run_batch(spark, con, translate, [e], agg)
                        if bad_j:
                            bad.append(j)
                    except Exception as exc2:  # noqa: BLE001
                        print(f"ERROR {e!r}: {str(exc2)[:200]}")
                        bad.append(j)
                _ = exc
            for j in bad:
                # re-verify in isolation (a batch-level length error
                # flags everything; single runs narrow it down)
                try:
                    if run_batch(spark, con, translate, [batch[j]], agg):
                        print(f"MISMATCH {'agg ' if agg else ''}{batch[j]!r}")
                        mismatches += 1
                except Exception as exc3:  # noqa: BLE001
                    print(f"ERROR {batch[j]!r}: {str(exc3)[:200]}")
                    mismatches += 1
            done += len(batch)
            print(
                f"# {'agg' if agg else 'scalar'} {done}/{len(pool)}"
                f" mismatches={mismatches}",
                file=sys.stderr,
            )

    # statement-level fuzz (ASOF ties + join/group/having statements):
    # one Spark job each, so small fixed counts per run
    asof_n = int(opt("--asof", str(max(4, n // 30))))
    stmt_n = int(opt("--stmts", str(max(6, n // 20))))
    stmts = [("asof", asof_stmt(g)) for _ in range(asof_n)]
    stmts += [("groupby", groupby_stmt(g)) for _ in range(stmt_n)]
    stmts += [("qualify", qualify_stmt(g)) for _ in range(max(4, n // 40))]
    stmts += [("setop", setop_stmt(g)) for _ in range(max(4, n // 40))]
    stmts += [("subquery", subquery_stmt(g)) for _ in range(max(4, n // 40))]
    stmts += [("cte", cte_stmt(g)) for _ in range(max(4, n // 40))]
    stmts += [("alias", alias_stmt(g)) for _ in range(max(4, n // 40))]
    stmts += [
        ("suffixwin", suffix_win_stmt(g)) for _ in range(max(5, n // 40))
    ]
    for j, (kind, stmt) in enumerate(stmts):
        try:
            if not run_stmt(spark, con, translate, stmt):
                print(f"MISMATCH {kind} {stmt!r}")
                mismatches += 1
        except Exception as exc:  # noqa: BLE001
            print(f"ERROR {kind} {stmt!r}: {str(exc)[:200]}")
            mismatches += 1
        print(
            f"# stmt {j + 1}/{len(stmts)} mismatches={mismatches}",
            file=sys.stderr,
        )

    print(f"\n{mismatches} mismatches over {n} expressions (seed {seed})")
    return 1 if mismatches else 0


if __name__ == "__main__":
    raise SystemExit(main())
