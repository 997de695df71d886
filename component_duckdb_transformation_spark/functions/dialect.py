"""DuckDB-SQL -> Spark-SQL translation.

The reference's exposed query surface is the DuckDB SQL dialect
(everything executed at reference src/query_orchestrator.py:351). Spark
SQL overlaps heavily — joins, aggregates, windows, CTEs, ``::`` casts,
``||`` concat, `PERCENTILE_CONT ... WITHIN GROUP`, `QUALIFY` all parse
natively in Spark 4 — so translation is a small set of token-level
rewrites for the known divergences (SURVEY §2.B / §7 hard-part 4):

1. string-literal table names -> backtick identifiers
   (``CREATE VIEW 'out.csv' AS ... FROM 'days.csv'`` — reference
   tests/functional/simple/source/data/config.json:10-19)
2. double-quoted identifiers -> backticks (DuckDB `"t4-new"` —
   reference tests/functional/query_dependencies config.json:12-18)
3. ``EXTRACT(DOW ...)``: DuckDB Sunday=0..6, Spark Sunday=1..7 -> emit
   ``(EXTRACT(DOW ...) - 1)``; ISODOW -> ``weekday(x) + 1``
4. ``date_trunc('day'|coarser, x)`` returns DATE in DuckDB, TIMESTAMP in
   Spark -> wrap in ``CAST(... AS DATE)``
5. ``//`` floor division -> ``DIV``
6. function renames (regexp_matches->regexp_like, string_split->split,
   list_*->array functions, ...)
7. ``version()`` -> engine version literal (reference
   tests/functional/version-1-5-2: ``SELECT version()``)
8. ``SELECT * EXCLUDE (...)`` -> ``* EXCEPT (...)``
9. bracket syntax: ``[a,b]`` literals -> ``array(a,b)``; 1-based (and
   negative) indexing ``l[i]`` -> ``try_element_at``; inclusive slices
   ``l[a:b]`` -> ``slice``
10. raw string literals: DuckDB treats backslash literally, Spark
    escapes it -> backslashes doubled (regex patterns survive intact)
11. in-aggregate ORDER BY: ``string_agg(x, s ORDER BY y)`` ->
    ``listagg .. WITHIN GROUP``; ``array_agg(x ORDER BY x)`` ->
    ``sort_array(collect_list(x))``
12. call shims: 2-arg ``regexp_extract`` (group 0), ``date_add`` with
    INTERVAL, ``dayname``/``monthname``/``isodow``/``week``,
    ``list_unique``, ``to_base``, ``regexp_full_match``,
    ``like_escape``, fractional ``epoch()``

Everything else passes through untouched and is parsed by Catalyst.
Notable shared semantics needing no shim: int/int ``/`` yields DOUBLE in
both; ``round`` is half-away-from-zero in both; `stddev`/`variance` are
sample variants in both.
"""

from __future__ import annotations

import contextlib
import functools
import re
from contextvars import ContextVar
from typing import Dict, List, NamedTuple, Optional

from .. import engine_version_string
from ..plans.sql_tokens import Token, _bt, tokenize, unquote_name

# Column-type hints for schema-aware dispatch. Translation is lexical
# (the reference surface is raw DuckDB SQL strings, reference
# src/query_orchestrator.py:351), so a bare column reference carries no
# type — `len(c)`, `c[2]`, `c || d` all dispatch differently in DuckDB
# depending on whether c is VARCHAR, LIST, MAP or DOUBLE. The executor
# resolves the schemas of a statement's dependency tables (live
# session, lazy catalog lookups — no jobs) and publishes
# lowercase-column-name -> Spark simpleString type here; rewrites
# consult `_hinted_primary_type()` for PLAIN identifier operands only.
# Names typed differently across the statement's tables, or re-bound by
# an `AS name` alias anywhere in the statement, are dropped by the
# publisher, so a surviving hint is unambiguous for every scope that
# keeps the name (a type-changing expression must alias to keep it).
_TYPE_HINTS: ContextVar[Dict[str, str]] = ContextVar(
    "_duck_type_hints", default={}
)


# Names that exist as REAL dependency-table columns but were dropped
# from the hints (alias-rebound or typed differently across tables).
# Published by the executor alongside the hints so the in-statement
# alias typer never re-derives a type for a name that could still bind
# to the shadowed column in some scope.
_HINT_SHADOWED: ContextVar[frozenset] = ContextVar(
    "_duck_hint_shadowed", default=frozenset()
)


@contextlib.contextmanager
def column_type_hints(
    mapping: Optional[Dict[str, str]], shadowed=None
):
    """Publish ``lowercase column name -> Spark simpleString type``
    hints for every ``translate()`` call inside the block. ``shadowed``
    optionally carries names that are real dependency columns dropped
    from the hints (see ``_HINT_SHADOWED``)."""
    token = _TYPE_HINTS.set(mapping or {})
    token2 = _HINT_SHADOWED.set(frozenset(shadowed or ()))
    try:
        yield
    finally:
        _HINT_SHADOWED.reset(token2)
        _TYPE_HINTS.reset(token)


def _hinted_primary_type(tokens: List[Token]) -> Optional[str]:
    """The hinted type of a token run that is exactly a plain (possibly
    table-qualified) column reference; None otherwise. Qualified refs
    resolve by their last segment — the publisher already dropped any
    name whose type differs across the statement's tables."""
    hints = _TYPE_HINTS.get()
    if not hints:
        return None
    code = [t for t in tokens if t.kind not in ("ws", "comment")]
    while (
        len(code) >= 3
        and code[0].kind == "op" and code[0].text == "("
        and _matching_paren(code, 0) == len(code) - 1
    ):
        code = code[1:-1]
    if not code:
        return None
    if len(code) >= 3 and all(
        c.kind == "op" and c.text == "." for c in code[1::2]
    ):
        code = [code[0]] + [c for c in code[2::2]]
        if not all(c.kind in ("word", "bident", "qident") for c in code):
            return None
        # a dotted ref whose FIRST segment is itself a STRUCT-hinted
        # column resolves through the struct's field types (s.f);
        # otherwise it's a table-qualified column and the last segment
        # carries the hint
        head = code[0]
        h = (
            hints.get(unquote_name(head).lower())
            if not (
                head.kind == "word"
                and head.text.lower() in _HINT_BAIL_WORDS
            )
            else None
        )
        if h is not None and h.startswith("struct<"):
            for seg in code[1:]:
                ftypes = _struct_hint_field_types(h)
                if ftypes is None:
                    return None
                h = ftypes.get(unquote_name(seg).lower())
                if h is None:
                    return None
            return h
        tail = code[-1]
    elif len(code) == 1:
        tail = code[0]
    else:
        return None
    if tail.kind not in ("word", "bident", "qident"):
        return None
    name = unquote_name(tail).lower()
    if tail.kind == "word" and name in _HINT_BAIL_WORDS:
        return None
    return hints.get(name)


_NUMERIC_HINTS = (
    "double", "float", "decimal", "bigint", "int", "smallint", "tinyint",
)

# calls that are DOUBLE-valued in both engines — inside ``||`` their
# implicit VARCHAR cast diverges (fmt vs Java) just like a DOUBLE
# column; the runtime typeof dispatch keeps over-triggering harmless
_DOUBLE_VALUED_FNS = frozenset({
    "sqrt", "cbrt", "exp", "ln", "log", "log10", "log2", "log1p",
    "sin", "cos", "tan", "asin", "acos", "atan", "atan2", "sinh",
    "cosh", "tanh", "radians", "degrees", "pi", "pow", "power",
    "random", "stddev", "stddev_samp", "stddev_pop",
    "variance", "var_samp", "var_pop", "corr", "covar_samp",
    "covar_pop", "gamma", "lgamma", "nextafter",
    # our own double-typed py-UDF-span twins
    "__duck_round", "__duck_fint",
    # avg/mean/median excluded: Spark types them DECIMAL over DECIMAL
    # inputs where DuckDB always widens to DOUBLE — a value-level
    # divergence rendering can't paper over
})


_STRUCT_FIELD_RE = re.compile(r"^[A-Za-z_]\w*$")


def _struct_hint_field_types(hint: str) -> Optional[Dict[str, str]]:
    """``lowercase field name -> simpleString type`` of a
    ``struct<a:int,b:string>`` hint; None when the hint is not a
    struct or a field name is not a plain identifier (quoting rules
    would be ambiguous)."""
    if not hint.startswith("struct<") or not hint.endswith(">"):
        return None
    body = hint[len("struct<"):-1]
    depth = 0
    start = 0
    parts: List[str] = []
    for idx, ch in enumerate(body):
        if ch == "<":
            depth += 1
        elif ch == ">":
            depth -= 1
        elif ch == "," and depth == 0:
            parts.append(body[start:idx])
            start = idx + 1
    parts.append(body[start:])
    out: Dict[str, str] = {}
    for part in parts:
        name, _, typ = part.partition(":")
        name = name.strip()
        if not _STRUCT_FIELD_RE.match(name):
            return None
        out[name.lower()] = typ.strip()
    return out


def _struct_hint_fields(hint: str) -> Optional[List[str]]:
    """Field names of a struct hint, declaration order (see
    ``_struct_hint_field_types``)."""
    ftypes = _struct_hint_field_types(hint)
    return list(ftypes) if ftypes is not None else None


def _double_valued_call(tokens: List[Token]) -> bool:
    """True when a token run is exactly one call to a DOUBLE-returning
    function."""
    code = [t for t in tokens if t.kind not in ("ws", "comment")]
    return (
        len(code) >= 3
        and code[0].kind == "word"
        and code[0].text.lower() in _DOUBLE_VALUED_FNS
        and code[1].kind == "op" and code[1].text == "("
        and _matching_paren(code, 1) == len(code) - 1
    )


def _hinted_arith_renders_double(tokens: List[Token]) -> bool:
    """True when the token run is an arithmetic expression over hinted
    NUMERIC columns / numeric literals whose DuckDB result type is
    DOUBLE or FLOAT — the types whose implicit VARCHAR rendering
    diverges from Spark's (fmt vs Java). Integer/decimal arithmetic
    renders identically in both engines and returns False. Conservative:
    any token outside [numbers, + - * % ops, parens, hinted numeric
    column refs] bails."""
    hints = _TYPE_HINTS.get()
    if not hints:
        return False
    code = [t for t in tokens if t.kind not in ("ws", "comment")]
    if len(code) < 2:
        return False
    has_double = False
    expect_operand = True
    i = 0
    n = len(code)
    while i < n:
        t = code[i]
        if t.kind == "op" and t.text in ("(", ")"):
            i += 1
            continue
        if t.kind == "op" and t.text in ("+", "-", "*", "%"):
            expect_operand = True
            i += 1
            continue
        if t.kind == "word" and t.text[0].isdigit():
            low = t.text.lower()
            if not low.startswith("0x") and "e" in low:
                has_double = True  # exponent literal is DOUBLE in DuckDB
            expect_operand = False
            i += 1
            continue
        if t.kind in ("word", "bident", "qident") and expect_operand:
            # plain (possibly qualified) column reference
            j = i
            while (
                j + 2 < n
                and code[j + 1].kind == "op" and code[j + 1].text == "."
                and code[j + 2].kind in ("word", "bident", "qident")
            ):
                j += 2
            tail = code[j]
            if tail.kind == "word" and tail.text.lower() in _HINT_BAIL_WORDS:
                return False
            h = hints.get(unquote_name(tail).lower())
            if h is None or not h.startswith(_NUMERIC_HINTS):
                return False
            if h in ("double", "float"):
                has_double = True
            expect_operand = False
            i = j + 1
            continue
        return False
    return has_double


# bare words that are never column references even when a same-named
# column exists (keywords that can stand alone as operands/primaries)
_HINT_BAIL_WORDS = {
    "null", "true", "false", "current_date", "current_timestamp",
    "current_time", "interval", "case", "end", "select", "from",
    "where", "and", "or", "not", "in", "is", "as", "on", "all",
    "distinct", "exists", "between", "like", "default", "excluded",
}

# keywords after which a string literal denotes a table name
_TABLE_NAME_CONTEXT = {"FROM", "JOIN", "INTO", "TABLE", "VIEW", "UPDATE"}

_DATE_PARTS = {
    "day", "week", "month", "quarter", "year", "decade", "century", "millennium",
}

_FN_RENAMES = {
    "regexp_matches": "regexp_like",
    "string_split": "split",
    "str_split": "split",
    "string_to_array": "split",
    "list_contains": "array_contains",
    "array_length": "size",
    "list_value": "array",
    "list_pack": "array",
    "strpos": "instr",
    "list_distinct": "array_distinct",
    "unnest": "explode",  # select-list generator form
    "list_sort": "array_sort",
    "array_to_string": "array_join",
    "to_hex": "hex",
    "list_reverse": "reverse",
    "list_append": "array_append",
    "list_prepend": "array_prepend",
    "list_max": "array_max",
    "list_min": "array_min",
    "starts_with": "startswith",
    "ends_with": "endswith",
    "week": "weekofyear",
    "weekofyear": "weekofyear",
    "str_split_regex": "split",
    "string_split_regex": "split",
    "regexp_split_to_array": "split",
    "list_concat": "concat",
    "list_cat": "concat",
    "list_transform": "transform",
    "list_filter": "filter",
    "list_zip": "arrays_zip",
    "list_has_any": "arrays_overlap",
    "list_intersect": "array_intersect",
    "generate_series": "sequence",  # scalar position; both ends inclusive
    "list_element": "try_element_at",
    "list_extract": "try_element_at",
    "array_extract": "try_element_at",
    "list_position": "array_position",
    "list_indexof": "array_position",
    # nextafter is a registered pandas UDF (functions/text_udfs.py)
    "array_cat": "concat",
    "array_concat": "concat",
    "array_has": "array_contains",
    "list_has": "array_contains",
    "array_indexof": "array_position",
    "strlen": "octet_length",  # DuckDB strlen counts BYTES
    "ord": "ascii",  # code point of the first character in both
    "to_base64": "base64",
    "to_binary": "bin",
    "favg": "avg",  # Kahan-accumulating variants: plain agg is the
    "fsum": "sum",  # closest (values agree within float tolerance)
    "kahan_sum": "sum",
    "sumkahan": "sum",
    "greatest_common_divisor": "gcd",  # gcd/lcm are registered UDFs
    "least_common_multiple": "lcm",
    "prefix": "startswith",
    "suffix": "endswith",
    "arbitrary": "any_value",
    "list": "collect_list",  # DuckDB list() aggregate = array_agg
    "kurtosis_pop": "kurtosis",  # Spark kurtosis IS the population stat
    "from_hex": "unhex",
    "from_base64": "unbase64",
    "json_keys": "json_object_keys",
    "approx_quantile": "approx_percentile",
    "unpivot_list": "array",  # DuckDB's variadic list-builder helper
    "array_value": "array",
    # both engines' reservoir/KLL approximations agree exactly on
    # small inputs; approximate by contract at scale
    "reservoir_quantile": "approx_percentile",
    # arg_max/arg_min: shimmed in _rewrite_call_shims (DuckDB SKIPS rows
    # whose value arg is NULL; Spark max_by would return them)
    "arg_max_null": "max_by",
    "arg_min_null": "min_by",
    # jaro_winkler_similarity resolves to the registered pandas UDF
    # (functions/text_udfs.py) — no rename
}


def _next_code(tokens: List[Token], i: int) -> int:
    j = i + 1
    while j < len(tokens) and tokens[j].kind in ("ws", "comment"):
        j += 1
    return j


def _matching_paren(tokens: List[Token], open_idx: int) -> int:
    depth = 0
    for j in range(open_idx, len(tokens)):
        t = tokens[j]
        if t.kind == "op" and t.text == "(":
            depth += 1
        elif t.kind == "op" and t.text == ")":
            depth -= 1
            if depth == 0:
                return j
    return len(tokens) - 1


# CAST targets the alias typer can translate into hint strings — the
# Spark simpleString the executor's publisher would report for a column
# of the type this engine's cast emission actually produces (integrals
# saturate like _ARRAY_ELEM_TYPE_MAP; timestamps are NTZ per the
# session's spark.sql.timestampType; TIME is the pseudo-hint).
_CAST_HINT_TYPES = {
    "varchar": "string", "text": "string", "char": "string",
    "bpchar": "string", "json": "string", "uuid": "string",
    "string": "string",
    "int": "int", "integer": "int", "int4": "int", "signed": "int",
    "tinyint": "tinyint", "int1": "tinyint",
    "smallint": "smallint", "int2": "smallint", "short": "smallint",
    "bigint": "bigint", "int8": "bigint", "long": "bigint",
    "hugeint": "bigint", "uhugeint": "bigint", "ubigint": "bigint",
    "utinyint": "smallint", "usmallint": "int", "uinteger": "bigint",
    "float": "float", "float4": "float", "real": "float",
    "double": "double", "float8": "double",
    "boolean": "boolean", "bool": "boolean", "logical": "boolean",
    "date": "date",
    "timestamp": "timestamp_ntz", "datetime": "timestamp_ntz",
    "time": "time",
    "blob": "binary", "bytea": "binary",
}


def _cast_target_hint(code: List[Token]) -> Optional[str]:
    """Hint string for an expression that IS a cast — ``CAST(x AS T)``
    / ``try_cast`` / postfix ``expr::T`` where the pre-``::`` part has
    no other top-level operators (so the cast is the whole expression's
    type). None for types outside _CAST_HINT_TYPES (arrays, structs,
    enums) and for anything else."""
    ty: Optional[List[Token]] = None
    if (
        len(code) >= 4
        and code[0].kind == "word"
        and code[0].text.lower() in ("cast", "try_cast")
        and code[1].kind == "op"
        and code[1].text == "("
        and _matching_paren(code, 1) == len(code) - 1
    ):
        depth = 0
        for j in range(2, len(code) - 1):
            t = code[j]
            if t.kind == "op" and t.text in ("(", "["):
                depth += 1
            elif t.kind == "op" and t.text in (")", "]"):
                depth -= 1
            elif depth == 0 and t.kind == "word" and t.upper == "AS":
                ty = code[j + 1 : len(code) - 1]
                break
    else:
        last = None
        depth = 0
        for j, t in enumerate(code):
            if t.kind == "op":
                if t.text in ("(", "["):
                    depth += 1
                elif t.text in (")", "]"):
                    depth -= 1
                elif depth == 0:
                    if t.text == "::":
                        last = j
                    elif t.text != ".":
                        return None  # another top-level operator
        if last is not None:
            ty = code[last + 1 :]
    if not ty or ty[0].kind != "word":
        return None
    base = ty[0].text.lower()
    if len(ty) == 1:
        if base in ("decimal", "numeric"):
            return "decimal(18,3)"  # DuckDB's bare-DECIMAL default
        return _CAST_HINT_TYPES.get(base)
    if (
        base in ("decimal", "numeric")
        and ty[1].kind == "op"
        and ty[1].text == "("
        and ty[-1].kind == "op"
        and ty[-1].text == ")"
    ):
        args = [t.text for t in ty[2:-1] if t.kind in ("word", "number")]
        if len(args) == 1 and args[0].isdigit():
            return f"decimal({args[0]},0)"
        if len(args) == 2 and all(a.isdigit() for a in args):
            return f"decimal({args[0]},{args[1]})"
        return None
    if base in ("varchar", "char") and ty[1].kind == "op" and ty[1].text == "(":
        return "string"  # length-parameterized strings
    return None


def _alias_expr_hint(code: List[Token]) -> Optional[str]:
    """The hint string a select-item expression statically carries:
    a plain hinted column ref propagates its hint verbatim (any type —
    renames keep dispatch); a whole-expression cast maps its target
    type; otherwise the r9 static numeric lattice
    (``_static_numeric_type``) types literal/decimal chains. None when
    underivable."""
    while (
        len(code) >= 3
        and code[0].kind == "op"
        and code[0].text == "("
        and _matching_paren(code, 0) == len(code) - 1
    ):
        code = code[1:-1]
    if not code:
        return None
    h = _hinted_primary_type(code)
    if h:
        return h
    ch = _cast_target_hint(code)
    if ch:
        return ch
    # exact-width chain typing first (r13): a derivable DECIMAL(w,s)
    # unlocks the width-gated decimal dispatches (mad/quantile/render)
    # for aliased chains — incl. CAST(x AS DECIMAL(w,s)) leaves; the
    # coarse lattice markers remain the fallback
    chd = _parse_literal_decimal_chain(
        " ".join(t.text for t in code).replace(" . ", ".")
    )
    if chd is not None:
        if chd[3]:
            return "bigint" if chd[1] > 10 else "int"
        return f"decimal({chd[1]},{chd[2]})"
    sty = _static_numeric_type(code)
    if sty == "decimal":
        return "decimal(38,1)"  # fractional marker; scale unused
    if sty == "decimal0":
        return "decimal(38,0)"
    if sty == "int":
        return "bigint"
    return None


_ALIAS_SCAN_TERMINATORS = frozenset({
    "FROM", "WHERE", "GROUP", "HAVING", "WINDOW", "QUALIFY", "ORDER",
    "LIMIT", "OFFSET", "UNION", "EXCEPT", "INTERSECT", "INTO", "SET",
    "VALUES", "RETURNING", "USING", "ON",
})


def _derive_alias_static_hints(tokens: List[Token]) -> Dict[str, str]:
    """``lowercase alias name -> hint string`` for every select-item
    ``expr AS name`` binding in the statement whose type is statically
    derivable AND unambiguous (VERDICT r9 item 2 — closes the
    unhinted-decimal rendering corner for aliased expressions).

    A name is published only when: every AS-binding of it in the
    statement derives the SAME non-None hint; it is not already hinted
    (a real, un-rebound column — cannot happen through the executor's
    publisher, but raw callers may hint freely); it never appears as a
    dotted member (``t.name`` marks a real column); and it is not in
    the executor-published shadowed set (a real dependency column the
    alias rebinds — some scope may still see the column). Raw
    ``translate()`` calls have no shadowed knowledge; there the dotted
    guard and single-consistent-binding rule carry the risk, documented
    in COVERAGE.md."""
    code = [t for t in tokens if t.kind not in ("ws", "comment")]
    n = len(code)
    if not any(t.kind == "word" and t.upper == "AS" for t in code):
        return {}
    bindings: Dict[str, set] = {}
    dotted: set = set()
    stack = [{"sel": False, "start": None}]
    for i in range(n):
        t = code[i]
        if t.kind == "op" and t.text == "(":
            stack.append({"sel": False, "start": None})
        elif t.kind == "op" and t.text == ")":
            if len(stack) > 1:
                stack.pop()
        elif t.kind == "op" and t.text == ".":
            if i + 1 < n and code[i + 1].kind in ("word", "bident", "qident"):
                dotted.add(unquote_name(code[i + 1]).lower())
        elif t.kind == "op" and t.text == ",":
            top = stack[-1]
            if top["sel"] and top["start"] is not None:
                top["start"] = i + 1
        elif t.kind == "word":
            u = t.upper
            top = stack[-1]
            if u == "SELECT":
                top["sel"] = True
                j = i + 1
                if j < n and code[j].kind == "word" and code[j].upper in (
                    "DISTINCT",
                    "ALL",
                ):
                    j += 1
                top["start"] = j
            elif u in _ALIAS_SCAN_TERMINATORS:
                top["sel"] = False
                top["start"] = None
            elif u == "AS" and top["sel"] and top["start"] is not None:
                nm = code[i + 1] if i + 1 < n else None
                after = code[i + 2] if i + 2 < n else None
                if (
                    nm is not None
                    and nm.kind in ("word", "bident", "qident")
                    and not (
                        nm.kind == "word"
                        and (
                            nm.text.lower() in _HINT_BAIL_WORDS
                            or nm.text[0].isdigit()
                        )
                    )
                    and not (
                        after is not None
                        and after.kind == "op"
                        and after.text == "("
                    )
                ):
                    name = unquote_name(nm).lower()
                    bindings.setdefault(name, set()).add(
                        _alias_expr_hint(code[top["start"] : i])
                    )
    if not bindings:
        return {}
    hints = _TYPE_HINTS.get()
    shadowed = _HINT_SHADOWED.get()
    out: Dict[str, str] = {}
    for name, tys in bindings.items():
        if (
            len(tys) == 1
            and None not in tys
            and name not in hints
            and name not in dotted
            and name not in shadowed
            and name not in _HINT_BAIL_WORDS
        ):
            out[name] = next(iter(tys))
    return out


def translate(sql: str) -> str:
    """Translate one DuckDB-dialect statement to Spark SQL: a pure
    function of the text and the hints ``column_type_hints`` publishes."""
    tokens = tokenize(sql)
    # In-statement alias typing (r10): `SELECT <statically-typed expr>
    # AS d` publishes d's type for the REST of this statement, so
    # downstream round/ceil/`||`/rendering templates dispatch on the
    # alias like on a schema-hinted column. Guards in
    # _derive_alias_static_hints keep this unambiguous.
    alias_hints = _derive_alias_static_hints(tokens)
    if alias_hints:
        merged = dict(_TYPE_HINTS.get())
        merged.update(alias_hints)
        reset = _TYPE_HINTS.set(merged)
        try:
            return _translate_tokens(tokens)
        finally:
            _TYPE_HINTS.reset(reset)
    return _translate_tokens(tokens)


def _translate_tokens(tokens: List[Token]) -> str:
    gen_token = _WIN_OS_GEN.set(next(_WIN_OS_GEN_COUNTER))
    try:
        return _translate_tokens_inner(tokens)
    finally:
        _WIN_OS_GEN.reset(gen_token)


def _translate_tokens_inner(tokens: List[Token]) -> str:
    """Run the ``_PASSES`` table in order. A pass whose trigger shares no
    word or operator with the statement cannot change it and is skipped;
    the set is rebuilt after every change, since passes emit words later
    passes key on (``percentile_cont``, ``make_dt_interval``)."""
    present = _present(tokens)
    for rewrite, trigger in _PASSES:
        if trigger is None or not present.isdisjoint(trigger):
            out = rewrite(tokens)
            if out is not tokens and out != tokens:
                tokens, present = out, _present(out)
    return "".join(t.text for t in tokens)


def _present(tokens: List[Token]) -> set:
    """The lowercase words and operators of a statement."""
    return {t.text.lower() for t in tokens if t.kind in ("word", "op")}


def _restore_brace_map(tokens: List[Token]) -> List[Token]:
    """The brace-map sentinel back to Spark's variadic ``map`` (see
    ``_rewrite_brace_literals``)."""
    return [
        Token("word", "map") if t.kind == "word" and t.text == "__brace_map" else t
        for t in tokens
    ]


def _pctl_fold_sql(emit: str, p_text: str, is_disc: bool) -> str:
    """Exact sorted-array fold for one ``percentile_cont`` /
    ``percentile_disc`` WITHIN GROUP call site over the shared
    ``sort_array(collect_list(<emit>))``. The two extra ``transform``
    binding levels are pointer-cheap (1-element array of the array) and
    apply the loud ``_TEMPLATE_GROUP_LIMIT`` guard once per group."""
    arr = f"sort_array(collect_list({emit}))"
    if is_disc:
        # smallest value whose cumulative count reaches q*n: 1-based
        # sorted index max(1, ceil(q*n)) — Spark's own PercentileDisc
        # rule since SPARK-37691, bit-probed equal on tie/-0.0/NaN/inf
        # batteries; NULL index on the empty group keeps element_at
        # NULL (and ANSI-safe)
        idx = (
            "CASE WHEN size(__pa) = 0 THEN CAST(NULL AS INT)"
            " ELSE greatest(1, CAST(ceiling(CAST(size(__pa) AS BIGINT)"
            f" * CAST({p_text} AS DOUBLE)) AS INT)) END"
        )
        body = f"CAST(element_at(__pa, {idx}) AS DOUBLE)"
        return (
            f"element_at(transform(array({arr}), __pa0 -> "
            f"element_at(transform(array({_guard_arr('__pa0')}), __pa -> "
            f"{body}), 1)), 1)"
        )
    # cont: position p = (n-1)*q in double; keys at floor/ceil of p; an
    # integer position or equal keys return the lower key unchanged
    # (Percentile.getPercentile's early returns — its primitive ``==``
    # has the same truth table as SQL ``=`` here, incl. -0.0 = 0.0 and
    # NaN = NaN), else the weighted interpolation
    lo = "element_at(__pa, CAST(floor(__pp) AS INT) + 1)"
    hi = "element_at(__pa, CAST(ceiling(__pp) AS INT) + 1)"
    body = (
        "CASE WHEN size(__pa) = 0 THEN CAST(NULL AS DOUBLE)"
        f" WHEN ceiling(__pp) = floor(__pp) THEN CAST({lo} AS DOUBLE)"
        f" WHEN {lo} = {hi} THEN CAST({lo} AS DOUBLE)"
        f" ELSE (ceiling(__pp) - __pp) * {lo}"
        f" + (__pp - floor(__pp)) * {hi} END"
    )
    return (
        f"element_at(transform(array({arr}), __pa0 -> "
        f"element_at(transform(array({_guard_arr('__pa0')}), __pa -> "
        "element_at(transform(array((CAST(size(__pa) AS BIGINT) - 1)"
        f" * CAST({p_text} AS DOUBLE)), __pp -> {body}), 1)), 1)), 1)"
    )


def _rewrite_fuse_percentile_cont(tokens: List[Token]) -> List[Token]:
    """Rewrite ``percentile_cont/percentile_disc(<lit>) WITHIN GROUP
    (ORDER BY <expr>)`` aggregates into an exact fold over ONE shared
    ``sort_array(collect_list(<expr>))`` per distinct ascending order
    expression.

    Spark plans every native percentile/percentile_disc call as its own
    ObjectHashAggregate value-count map (an OpenHashMap of boxed keys
    per partition, serialized whole across the exchange, walked per
    call); the fold replaces the maps with one collect_list + one JVM
    array sort shared by every call site — Catalyst dedupes the
    textually identical collect_list aggregate, and subexpression
    elimination in the aggregate's result projection evaluates the
    sort_array once (q08's five quantiles of l_extendedprice: 2.8 s ->
    0.77 s at sf0.1, plan: 5 value-count maps -> 1 collect_list;
    r13-opt, guide §1.2 per-task work). Memory stays the documented
    fold posture: 8 bytes/element vs the map's ~36/distinct, with the
    loud ``_TEMPLATE_GROUP_LIMIT`` raise past 2^25 elements per group.
    Value semantics replicate ``Percentile.getPercentile`` bit-for-bit
    (probed on NaN/inf/-0.0/tie/random batteries, tools/fuzz_diff.py
    campaigns): both spellings return DOUBLE for every input type like
    the native calls, empty groups give NULL, and collect_list skips
    NULLs exactly as the native aggregates do.

    Occurrences followed by OVER/FILTER, with DESC or NULLS FIRST
    ordering, multiple sort keys, or a non-literal/out-of-range
    percentage keep the native spelling (windowed forms belong to the
    window machinery; FILTER riders are rare enough to keep the map)."""
    occ = []  # (start, end_exclusive, p_text, expr_key, emit, is_disc)
    i = 0
    n = len(tokens)
    while i < n:
        t = tokens[i]
        if not (
            t.kind == "word"
            and t.text.lower() in ("percentile_cont", "percentile_disc")
        ):
            i += 1
            continue
        is_disc = t.text.lower() == "percentile_disc"
        p_open = _next_code(tokens, i)
        if not (
            p_open < n
            and tokens[p_open].kind == "op"
            and tokens[p_open].text == "("
        ):
            i += 1
            continue
        p_close = _matching_paren(tokens, p_open)
        arg = [
            t2
            for t2 in tokens[p_open + 1 : p_close]
            if t2.kind not in ("ws", "comment")
        ]
        if not (
            len(arg) == 1
            and arg[0].kind in ("word", "number")
            and re.fullmatch(r"\d+(?:\.\d+)?", arg[0].text)
            and 0.0 <= float(arg[0].text) <= 1.0
        ):
            i = p_close + 1
            continue
        j = _next_code(tokens, p_close)
        if not (j < n and tokens[j].kind == "word" and tokens[j].upper == "WITHIN"):
            i = p_close + 1
            continue
        j2 = _next_code(tokens, j)
        if not (j2 < n and tokens[j2].upper == "GROUP"):
            i = p_close + 1
            continue
        g_open = _next_code(tokens, j2)
        if not (
            g_open < n
            and tokens[g_open].kind == "op"
            and tokens[g_open].text == "("
        ):
            i = p_close + 1
            continue
        g_close = _matching_paren(tokens, g_open)
        inner = [
            t2
            for t2 in tokens[g_open + 1 : g_close]
            if t2.kind not in ("ws", "comment")
        ]
        if len(inner) < 3 or inner[0].upper != "ORDER" or inner[1].upper != "BY":
            i = g_close + 1
            continue
        expr = inner[2:]
        # strip one trailing NULLS LAST; bail on FIRST/DESC/multi-key
        if (
            len(expr) >= 2
            and expr[-2].kind == "word"
            and expr[-2].upper == "NULLS"
        ):
            if expr[-1].upper != "LAST":
                i = g_close + 1
                continue
            expr = expr[:-2]
        if expr and expr[-1].kind == "word" and expr[-1].upper in ("ASC",):
            expr = expr[:-1]
        bail = not expr
        depth = 0
        for t2 in expr:
            if t2.kind == "op" and t2.text == "(":
                depth += 1
            elif t2.kind == "op" and t2.text == ")":
                depth -= 1
            elif depth == 0 and (
                (t2.kind == "op" and t2.text == ",")
                or (t2.kind == "word" and t2.upper in ("DESC", "NULLS"))
            ):
                bail = True
                break
        after = _next_code(tokens, g_close)
        if after < n and tokens[after].kind == "word" and tokens[after].upper in (
            "OVER",
            "FILTER",
        ):
            bail = True
        if bail:
            i = g_close + 1
            continue
        # ws-stripped join is the DEDUP KEY only; emission must keep
        # token boundaries (CAST(x AS DOUBLE) would otherwise collapse
        # to CAST(xASDOUBLE)), so code tokens are re-joined with spaces
        key = "".join(t2.text for t2 in expr)
        emit = " ".join(t2.text for t2 in expr)
        occ.append((i, g_close + 1, arg[0].text, key, emit, is_disc))
        i = g_close + 1
    if not occ:
        return tokens
    # every site over the same key must emit the IDENTICAL collect_list
    # text, or Catalyst sees distinct aggregates and dedup is lost
    emit_by_key: dict = {}
    for _, _, _p, key, emit, _d in occ:
        emit_by_key.setdefault(key, emit)
    out: List[Token] = []
    pos = 0
    for start, end, p, key, _emit, is_disc in occ:
        out.extend(tokens[pos:start])
        out.extend(
            _toks(f"({_pctl_fold_sql(emit_by_key[key], p, is_disc)})")
        )
        pos = end
    out.extend(tokens[pos:])
    return out


_FROM_FIRST_CLAUSES = {
    "WHERE", "GROUP", "HAVING", "ORDER", "LIMIT", "QUALIFY",
    "UNION", "EXCEPT", "INTERSECT", "OFFSET", "WINDOW",
}

# keywords that can precede a parenthesized subquery (so the group is a
# query scope, not a function-call argument list)
_PAREN_KEYWORDS = {
    "SELECT", "WHERE", "AND", "OR", "NOT", "IN", "ON", "WHEN", "THEN",
    "ELSE", "BY", "AS", "CASE", "VALUES", "SET", "HAVING", "LIMIT",
    "OFFSET", "UNION", "ALL", "DISTINCT", "FROM", "JOIN", "BETWEEN",
    "LIKE", "IS", "EXISTS", "USING", "INTERSECT", "EXCEPT", "MINUS",
}


def _rewrite_from_first(tokens: List[Token]) -> List[Token]:
    """Recurse into parenthesized groups applying the FROM-first
    transform to every non-call group (subqueries like ``(FROM t WHERE
    ...)``); call argument lists are skipped so ``trim(FROM s)`` /
    ``extract(DOW FROM d)`` stay intact."""
    out: List[Token] = []
    prev_code: Token | None = None
    i = 0
    n = len(tokens)
    while i < n:
        tok = tokens[i]
        if tok.kind == "op" and tok.text == "(":
            close = _matching_paren(tokens, i)
            inner = _rewrite_from_first(tokens[i + 1 : close])
            # a '(' after a non-keyword identifier is a call argument
            # list; after a keyword (FROM/IN/EXISTS/...) it's a group
            # that may hold a subquery
            is_call = (
                prev_code is not None
                and prev_code.kind in ("word", "bident", "qident")
                and prev_code.upper not in _PAREN_KEYWORDS
            )
            if not is_call:
                inner = _from_first_scope(inner)
            out.append(tok)
            out.extend(inner)
            out.append(tokens[close])
            prev_code = tokens[close]
            i = close + 1
            continue
        out.append(tok)
        if tok.kind not in ("ws", "comment"):
            prev_code = tok
        i += 1
    return out


def _from_first_scope(tokens: List[Token]) -> List[Token]:
    """DuckDB FROM-first queries: ``FROM t [SELECT list] ...`` ->
    ``SELECT list|* FROM t ...`` (the SELECT clause, wherever it
    appears at depth 0, moves to the front; absent SELECT means
    ``SELECT *``)."""
    first = _next_code(tokens, -1)
    n = len(tokens)
    if first >= n or not tokens[first].is_kw("FROM"):
        return tokens
    depth = 0
    sel = None
    for j in range(first + 1, n):
        t = tokens[j]
        if t.kind == "op" and t.text == "(":
            depth += 1
        elif t.kind == "op" and t.text == ")":
            depth -= 1
        elif depth == 0 and t.is_kw("SELECT"):
            sel = j
            break
    if sel is None:
        return tokens[:first] + _toks("SELECT * ") + tokens[first:]
    end = n
    depth = 0
    for j in range(sel + 1, n):
        t = tokens[j]
        if t.kind == "op" and t.text == "(":
            depth += 1
        elif t.kind == "op" and t.text == ")":
            depth -= 1
        elif depth == 0 and t.kind == "word" and t.upper in _FROM_FIRST_CLAUSES:
            end = j
            break
    return (
        tokens[:first]
        + tokens[sel:end]
        + [Token("ws", " ")]
        + tokens[first:sel]
        + tokens[end:]
    )


# SQL-standard functions whose argument list uses FROM as a separator
# (trim(BOTH ' ' FROM s), extract(DOW FROM d), substring(s FROM 2)...):
# a string after THAT kind of FROM is data, not a table name
_FROM_ARG_CALLS = {"TRIM", "EXTRACT", "SUBSTRING", "SUBSTR", "POSITION", "OVERLAY"}


def _rewrite_table_name_literals(tokens: List[Token]) -> List[Token]:
    out: List[Token] = []
    prev_code: Token | None = None
    fn_paren: List[bool] = []
    for i, tok in enumerate(tokens):
        if tok.kind == "op" and tok.text == "(":
            fn_paren.append(
                prev_code is not None
                and prev_code.kind == "word"
                and prev_code.upper in _FROM_ARG_CALLS
            )
        elif tok.kind == "op" and tok.text == ")":
            if fn_paren:
                fn_paren.pop()
        if (
            tok.kind == "string"
            and prev_code is not None
            and prev_code.kind == "word"
            and prev_code.upper in _TABLE_NAME_CONTEXT
            and not (fn_paren and fn_paren[-1])
        ):
            inner = tok.text[1:-1].replace("''", "'")
            out.append(Token("bident", f"`{inner}`"))
            prev_code = out[-1]
            continue
        out.append(tok)
        if tok.kind not in ("ws", "comment"):
            prev_code = tok
    return out


def _rewrite_quoted_identifiers(tokens: List[Token]) -> List[Token]:
    out: List[Token] = []
    for tok in tokens:
        if tok.kind == "qident":
            inner = tok.text[1:-1].replace('""', '"')
            out.append(Token("bident", f"`{inner}`"))
        else:
            out.append(tok)
    return out


_ARRAY_ELEM_TYPE_MAP = {
    "varchar": "STRING", "text": "STRING", "char": "STRING",
    "bpchar": "STRING", "json": "STRING", "uuid": "STRING",
    "int": "INT", "integer": "INT", "int4": "INT", "signed": "INT",
    "tinyint": "TINYINT", "int1": "TINYINT",
    "smallint": "SMALLINT", "int2": "SMALLINT", "short": "SMALLINT",
    "bigint": "BIGINT", "int8": "BIGINT", "long": "BIGINT",
    # unsigned/oversized integrals take the narrowest lossless Spark
    # type (ubigint/hugeint saturate at BIGINT — documented)
    "hugeint": "BIGINT", "uhugeint": "BIGINT", "ubigint": "BIGINT",
    "utinyint": "SMALLINT", "usmallint": "INT", "uinteger": "BIGINT",
    "float": "FLOAT", "float4": "FLOAT", "real": "FLOAT",
    "double": "DOUBLE", "float8": "DOUBLE",
    "boolean": "BOOLEAN", "bool": "BOOLEAN", "logical": "BOOLEAN",
    "date": "DATE", "timestamp": "TIMESTAMP", "datetime": "TIMESTAMP",
    "timestamptz": "TIMESTAMP", "time": "TIMESTAMP",
    "blob": "BINARY", "bytea": "BINARY",
    # DuckDB's bare DECIMAL/NUMERIC default precision
    "numeric": "DECIMAL(18,3)", "decimal": "DECIMAL(18,3)",
}


def _rewrite_array_type_suffix(tokens: List[Token]) -> List[Token]:
    """DuckDB array-type suffix ``TYPE[]`` -> Spark ``ARRAY<TYPE>`` (in
    ``::INT[]`` and ``CAST(x AS INT[])``). Runs BEFORE the bracket
    rewrite, which would otherwise read ``[]`` as an (empty) subscript.
    Handles scalar element types, parenthesized ones
    (``DECIMAL(10,2)[]``), and nesting (``INT[][]``) — a ``[]`` whose
    preceding token is not a type shape is left for the bracket pass."""

    def lower(tokens, i, out):
        j = _next_code(tokens, i)
        if not (j < len(tokens) and tokens[j].kind == "op" and tokens[j].text == "]"):
            return None
        k = len(out) - 1
        while k >= 0 and out[k].kind in ("ws", "comment"):
            k -= 1
        span = None
        if (
            k >= 0
            and out[k].kind == "word"
            and out[k].text.lower() in _ARRAY_ELEM_TYPE_MAP
        ):
            span = k
        elif k >= 0 and out[k].kind == "op" and out[k].text in (")", ">"):
            open_t = "(" if out[k].text == ")" else "<"
            close_t = out[k].text
            depth = 0
            m = k
            while m >= 0:
                t = out[m]
                if t.kind == "op" and t.text == close_t:
                    depth += 1
                elif t.kind == "op" and t.text == open_t:
                    depth -= 1
                    if depth == 0:
                        break
                m -= 1
            w = m - 1
            while w >= 0 and out[w].kind in ("ws", "comment"):
                w -= 1
            heads = (
                ("decimal", "numeric", "varchar", "char", "struct")
                if close_t == ")"
                else ("array", "map", "struct")
            )
            if (
                m >= 0
                and w >= 0
                and out[w].kind == "word"
                and out[w].text.lower() in heads
            ):
                span = w
        if span is None:
            return None
        inner = out[span:]
        code = [t for t in inner if t.kind not in ("ws", "comment")]
        if len(code) == 1 and code[0].kind == "word":
            inner = [Token("word", _ARRAY_ELEM_TYPE_MAP[code[0].text.lower()])]
        del out[span:]
        out.append(Token("word", "ARRAY"))
        out.append(Token("op", "<"))
        out.extend(inner)
        out.append(Token("op", ">"))
        return j + 1

    return _lower_sites(tokens, {"["}, lower)


_TRAILING_COMMA_CLAUSES = {
    "FROM", "WHERE", "GROUP", "ORDER", "HAVING", "LIMIT", "OFFSET",
    "WINDOW", "QUALIFY", "UNION", "EXCEPT", "INTERSECT",
}


def _rewrite_trailing_commas(tokens: List[Token]) -> List[Token]:
    """DuckDB tolerates trailing commas in SELECT lists, list literals
    and struct literals (``SELECT 1, 2, FROM t``, ``[1, 2,]`` — both
    verified; function calls and row expressions do NOT accept them,
    matching the contexts this pass drops: before a clause keyword,
    ``]``, ``}``, or end of statement — never before ``)``)."""

    def lower(tokens, i, out):
        j = _next_code(tokens, i)
        if (
            j >= len(tokens)
            or (tokens[j].kind == "op" and tokens[j].text in ("]", "}"))
            or (tokens[j].kind == "word" and tokens[j].upper in _TRAILING_COMMA_CLAUSES)
        ):
            return i + 1

    return _lower_sites(tokens, {","}, lower)


_BIT_COUNT_WIDTHS = {
    "TINYINT": 0xFF, "INT1": 0xFF, "UTINYINT": 0xFF,
    "SMALLINT": 0xFFFF, "INT2": 0xFFFF, "SHORT": 0xFFFF,
    "USMALLINT": 0xFFFF,
    "INTEGER": 0xFFFFFFFF, "INT4": 0xFFFFFFFF, "INT": 0xFFFFFFFF,
}


def _rewrite_bit_count_width(tokens: List[Token]) -> List[Token]:
    """DuckDB ``bit_count`` counts bits within the value's TYPE width
    (bit_count(-1::TINYINT) = 8); Spark widens to 64 bits. When the
    argument visibly ends in a narrow cast, mask to that width BEFORE
    the integral-cast pass rewrites the cast shape away."""

    def lower(call: _CallSite, walk):
        raw = [t for t in call.arg_tokens() if t.kind not in ("ws", "comment")]
        width = None
        if (
            len(raw) >= 2
            and raw[-1].kind == "word"
            and raw[-1].upper in _BIT_COUNT_WIDTHS
            and raw[-2].kind == "op"
            and raw[-2].text == "::"
        ):
            width = _BIT_COUNT_WIDTHS[raw[-1].upper]
        elif (
            len(raw) >= 3
            and raw[-1].kind == "op"
            and raw[-1].text == ")"
            and raw[-2].kind == "word"
            and raw[-2].upper in _BIT_COUNT_WIDTHS
            and raw[-3].is_kw("AS")
        ):
            width = _BIT_COUNT_WIDTHS[raw[-2].upper]
        if width is None:
            return None
        return (
            [call.tokens[call.start]]
            + _toks("((")
            + call.arg_tokens()
            + _toks(f") & {width})")
        )

    return _lower_calls(tokens, ("bit_count",), lower)


def _is_time_primary(tokens: List[Token], i: int):
    """At index i: span (lo, hi_exclusive) of a TIME-valued primary —
    ``TIME 'lit'``, a ``make_time(...)`` call, or a plain column
    reference carrying the executor's DDL-declared ``time``
    pseudo-hint (``column_type_hints``) — else None."""
    n = len(tokens)
    t = tokens[i]
    if t.is_kw("TIME"):
        j = _next_code(tokens, i)
        if j < n and tokens[j].kind == "string":
            return (i, j + 1)
    if t.kind == "word" and t.text.lower() == "make_time":
        j = _next_code(tokens, i)
        if j < n and tokens[j].kind == "op" and tokens[j].text == "(":
            return (i, _matching_paren(tokens, j) + 1)
    if t.kind == "word" and t.text.lower() == "cast":
        j = _next_code(tokens, i)
        if j < n and tokens[j].kind == "op" and tokens[j].text == "(":
            close = _matching_paren(tokens, j)
            code = [
                m for m in range(j + 1, close)
                if tokens[m].kind not in ("ws", "comment")
            ]
            if (
                len(code) >= 2
                and tokens[code[-1]].is_kw("TIME")
                and tokens[code[-2]].is_kw("AS")
            ):
                return (i, close + 1)
    if t.kind in ("word", "bident", "qident", "string"):
        # trailing ``::TIME`` on a SIMPLE primary makes it TIME-valued
        # (parenthesized/qualified bases would leave their prefix
        # outside the wrapped span — those keep the unwrapped default)
        j = _next_code(tokens, i)
        k = _next_code(tokens, j) if j < n else n
        if (
            j < n
            and tokens[j].kind == "op" and tokens[j].text == "::"
            and k < n
            and tokens[k].is_kw("TIME")
        ):
            k0 = i - 1
            while k0 >= 0 and tokens[k0].kind in ("ws", "comment"):
                k0 -= 1
            if not (
                k0 >= 0
                and tokens[k0].kind == "op"
                and tokens[k0].text in (".", ")", "]")
            ):
                return (i, k + 1)
    if (
        t.kind in ("word", "bident", "qident")
        and _TYPE_HINTS.get()
        and _TYPE_HINTS.get().get(unquote_name(t).lower()) == "time"
        and not (t.kind == "word" and t.text.lower() in _HINT_BAIL_WORDS)
    ):
        # a call or a qualifier position is not a column reference;
        # qualified refs (q.col) keep the unwrapped default — the
        # qualifier would fall outside the wrapped span
        j = _next_code(tokens, i)
        after_bad = (
            j < n
            and tokens[j].kind == "op"
            and tokens[j].text in ("(", ".")
        )
        k = i - 1
        while k >= 0 and tokens[k].kind in ("ws", "comment"):
            k -= 1
        before_dot = k >= 0 and tokens[k].kind == "op" and tokens[k].text == "."
        if not after_bad and not before_dot:
            return (i, i + 1)
    return None


def _time_cast_sql(arg_sql: str) -> str:
    """DuckDB ``CAST(x AS TIME)`` on the epoch-day-timestamp
    representation: timestamp inputs keep their time-of-day, varchar
    inputs parse as 'HH:MM:SS[.ffffff]'. Runtime typeof dispatch —
    Spark has no TIME type to cast to."""
    a = f"({arg_sql})"
    return (
        f"(CASE WHEN typeof({a}) IN ('timestamp', 'timestamp_ntz') "
        f"THEN CAST(concat('1970-01-01 ', "
        f"date_format({a}, 'HH:mm:ss.SSSSSS')) AS TIMESTAMP) "
        f"ELSE CAST(concat('1970-01-01 ', CAST({a} AS STRING)) "
        f"AS TIMESTAMP) END)"
    )


def _rewrite_time_casts(tokens: List[Token]) -> List[Token]:
    """``x::TIME`` / ``CAST(x AS TIME)`` -> the epoch-day dispatch
    (Spark rejects the TIME type outright). Runs after
    ``_rewrite_time_wrap`` (which treats these casts as time primaries
    for the 24 h modular arithmetic) and skips VALUES spans, where the
    CASE dispatch would break inline-table foldability — a ::TIME
    inside VALUES stays and fails loudly like before."""
    in_values = _values_spans(tokens)

    def lower(tokens, i, out):
        n = len(tokens)
        if i in in_values:
            return None
        if tokens[i].kind == "word":  # CAST(x AS TIME)
            j = _next_code(tokens, i)
            if not (j < n and tokens[j].kind == "op" and tokens[j].text == "("):
                return None
            close = _matching_paren(tokens, j)
            code = [
                m for m in range(j + 1, close)
                if tokens[m].kind not in ("ws", "comment")
            ]
            if not (
                len(code) >= 2
                and tokens[code[-1]].is_kw("TIME")
                and tokens[code[-2]].is_kw("AS")
            ):
                return None
            out.extend(_toks(_time_cast_sql(_sql(tokens, j + 1, code[-2]))))
            return close + 1
        # x::TIME — TIME must be the full cast target (TIMESTAMP etc.
        # start with other keywords; `TIME ZONE` never follows ``::``)
        k = _next_code(tokens, i)
        if k < n and tokens[k].is_kw("TIME"):
            operand = _pop_operand(out)
            if operand:
                arg = "".join(t.text for t in operand).strip()
                out.extend(_toks(_time_cast_sql(arg)))
                return k + 1

    return _lower_sites(tokens, {"cast", "::"}, lower)


def _rewrite_at_time_zone(tokens: List[Token]) -> List[Token]:
    """``x AT TIME ZONE tz`` -> ``timezone(tz, x)`` — DuckDB's operator
    is sugar for its 2-arg ``timezone()`` (verified identical output),
    which the function pass later lowers to ``to_utc_timestamp``.
    Rendering keeps this engine's UTC-session convention (no
    TIMESTAMPTZ ``+00`` suffix — COVERAGE.md)."""

    def lower(tokens, i, out):
        n = len(tokens)
        j = _next_code(tokens, i)
        k = _next_code(tokens, j) if j < n else n
        if not (
            j < n and tokens[j].is_kw("TIME") and k < n and tokens[k].is_kw("ZONE")
        ):
            return None
        z = _next_code(tokens, k)
        if z >= n:
            return None
        if tokens[z].kind == "op" and tokens[z].text == "(":
            z_end = _matching_paren(tokens, z) + 1
        elif tokens[z].kind in ("string", "word", "bident", "qident"):
            z_end = z + 1
            nx = _next_code(tokens, z)
            while nx < n and tokens[nx].kind == "op" and tokens[nx].text == ".":
                nx = _next_code(tokens, nx)
                z_end = nx + 1
                nx = _next_code(tokens, nx)
        else:
            return None
        operand = _pop_operand(out)
        # fold a typed-literal prefix (TIMESTAMP '...')
        k3 = len(out) - 1
        while k3 >= 0 and out[k3].kind in ("ws", "comment"):
            k3 -= 1
        if k3 >= 0 and out[k3].is_kw("DATE", "TIME", "TIMESTAMP", "TIMESTAMPTZ"):
            operand = out[k3:] + operand
            del out[k3:]
        o_sql = "".join(t.text for t in operand).strip()
        out.extend(_toks(f"timezone({_sql(tokens, z, z_end)}, {o_sql})"))
        return z_end

    return _lower_sites(tokens, {"at"}, lower)


def _rewrite_time_wrap(tokens: List[Token]) -> List[Token]:
    """DuckDB TIME arithmetic wraps modulo 24 h (``TIME '23:00' +
    INTERVAL 2 HOUR`` = ``01:00``); the epoch-day-timestamp
    representation would land on the next epoch day instead. Wrap an
    additive chain containing exactly ONE time primary (TIME literal /
    make_time) in ``pmod(unix_micros(...), 86400000000)``.

    Not wrapped (semantics differ): chains with a second time primary
    (TIME - TIME yields an INTERVAL) and chains with a date/timestamp
    operand (DATE + TIME composes a real TIMESTAMP)."""
    out: List[Token] = []
    i = 0
    n = len(tokens)
    while i < n:
        prim = _is_time_primary(tokens, i)
        if prim is None:
            out.append(tokens[i])
            i += 1
            continue
        lo, hi = prim
        # backward: ... <operand> +/- TIME_PRIMARY
        back: List[Token] = []
        back_ops = 0
        skip = False
        while True:
            k = len(out) - 1
            while k >= 0 and out[k].kind in ("ws", "comment"):
                k -= 1
            if not (
                k >= 0 and out[k].kind == "op" and out[k].text in ("+", "-")
            ):
                break
            op_tok = out[k]
            # unary sign (nothing operand-like before it)? stop
            k2 = k - 1
            while k2 >= 0 and out[k2].kind in ("ws", "comment"):
                k2 -= 1
            if k2 < 0 or (
                out[k2].kind == "op" and out[k2].text not in (")", "]")
            ) or out[k2].is_kw(
                "SELECT", "WHERE", "AND", "OR", "NOT", "WHEN", "THEN",
                "ELSE", "BY", "ON", "CASE", "RETURN", "AS",
            ):
                break
            del out[k:]
            operand = _pop_operand(out)
            # a typed literal's prefix (DATE '...' / TIMESTAMP '...' /
            # TIME '...' / INTERVAL 2 HOUR) is not part of
            # _pop_operand's operand — fold it in so temporal/interval
            # detection sees the full literal
            while True:
                k3 = len(out) - 1
                while k3 >= 0 and out[k3].kind in ("ws", "comment"):
                    k3 -= 1
                if k3 < 0:
                    break
                if out[k3].is_kw(
                    "DATE", "TIME", "TIMESTAMP", "TIMESTAMPTZ", "INTERVAL"
                ):
                    operand = out[k3:] + operand
                    del out[k3:]
                    break  # the keyword starts the literal
                if out[k3].kind == "number" or (
                    out[k3].kind == "word" and out[k3].text.isdigit()
                ):
                    k4 = k3 - 1
                    while k4 >= 0 and out[k4].kind in ("ws", "comment"):
                        k4 -= 1
                    if k4 >= 0 and out[k4].is_kw("INTERVAL"):
                        operand = out[k3:] + operand
                        del out[k3:]
                        continue
                break
            op_sql = "".join(t.text for t in operand)
            op_code = [
                t for t in operand if t.kind not in ("ws", "comment")
            ]
            if any(
                _is_time_primary(op_code, m) for m in range(len(op_code))
            ) or _static_temporal_sql(op_sql):
                skip = True  # second time primary or date/timestamp side
            back = operand + [op_tok] + back
            back_ops += 1
        # forward: TIME_PRIMARY +/- <operand> ...
        fwd: List[Token] = []
        fwd_ops = 0
        j = hi
        while True:
            p = _next_code(tokens, j - 1)
            if not (
                p < n
                and tokens[p].kind == "op"
                and tokens[p].text in ("+", "-")
            ):
                break
            q = _next_code(tokens, p)
            if q >= n:
                break
            # forward operand
            o_lo = q
            sub = _is_time_primary(tokens, q)
            if sub is not None:
                skip = True
                o_hi = sub[1]
            elif tokens[q].is_kw("INTERVAL"):
                o_hi = _next_code(tokens, q)
                if o_hi < n and tokens[o_hi].kind in ("number", "word", "string"):
                    was_str = tokens[o_hi].kind == "string"
                    nxt = _next_code(tokens, o_hi)
                    o_hi += 1
                    if not was_str and nxt < n and tokens[nxt].kind == "word":
                        o_hi = nxt + 1
                    elif was_str and nxt < n and tokens[nxt].kind == "word" and tokens[
                        nxt
                    ].upper not in ("FROM", "AS", "AND", "OR"):
                        o_hi = nxt + 1
                else:
                    break
            elif tokens[q].kind == "op" and tokens[q].text == "(":
                o_hi = _matching_paren(tokens, q) + 1
            elif tokens[q].is_kw("DATE", "TIMESTAMP", "TIMESTAMPTZ") and (
                (ds := _next_code(tokens, q)) < n
                and tokens[ds].kind == "string"
            ):
                o_hi = ds + 1  # typed literal
            elif tokens[q].kind in ("word", "bident", "qident"):
                o_hi = q + 1
                nx = _next_code(tokens, q)
                if nx < n and tokens[nx].kind == "op" and tokens[nx].text == "(":
                    o_hi = _matching_paren(tokens, nx) + 1
                else:
                    while (
                        nx < n
                        and tokens[nx].kind == "op"
                        and tokens[nx].text == "."
                    ):
                        nx = _next_code(tokens, nx)
                        o_hi = nx + 1
                        nx = _next_code(tokens, nx)
            elif tokens[q].kind in ("number", "string"):
                o_hi = q + 1
            else:
                break
            op_sql = _sql(tokens, o_lo, o_hi)
            if _static_temporal_sql(op_sql):
                skip = True
            fwd.extend(tokens[j:o_hi])
            fwd_ops += 1
            j = o_hi
        if (back_ops + fwd_ops) == 0 or skip:
            # DATE + TIME composes a real TIMESTAMP in DuckDB; Spark
            # has no such overload — lower the single-op '+' case to
            # date::TIMESTAMP + (time - epoch) explicitly
            comp = None
            if skip and (back_ops + fwd_ops) == 1:
                if back_ops == 1 and back and back[-1].text == "+":
                    comp = "".join(t.text for t in back[:-1]).strip()
                elif fwd_ops == 1 and fwd:
                    fc = _next_code(fwd, -1)
                    if fc < len(fwd) and fwd[fc].text == "+":
                        comp = "".join(
                            t.text for t in fwd[fc + 1:]
                        ).strip()
                if comp is not None and not re.match(
                    r"(?is)^\s*(DATE\b|current_date\b|today\b|make_date\b)",
                    comp,
                ):
                    comp = None
            if comp is not None:
                prim_sql = _sql(tokens, lo, hi)
                out.extend(
                    _toks(
                        f"(CAST(({comp}) AS TIMESTAMP) + (({prim_sql})"
                        " - TIMESTAMP '1970-01-01 00:00:00'))"
                    )
                )
                i = j
                continue
            out.extend(back)
            out.extend(tokens[lo:j])
            i = j
            continue
        chain = (
            "".join(t.text for t in back)
            + _sql(tokens, lo, hi)
            + "".join(t.text for t in fwd)
        )
        out.extend(
            _toks(
                "CAST(timestamp_micros(pmod(unix_micros(CAST(("
                f"{chain}) AS TIMESTAMP_LTZ)), 86400000000)) "
                "AS TIMESTAMP)"
            )
        )
        i = j
    return out


def _rewrite_time_literals(tokens: List[Token]) -> List[Token]:
    """DuckDB ``TIME 'HH:MM:SS[.f]'`` -> ``TIMESTAMP '1970-01-01 ...'``.
    Spark has no runnable TIME type; the engine represents times as
    epoch-day timestamps so hour/minute/second/extract, comparisons and
    interval arithmetic keep DuckDB's values (``make_time`` follows the
    same representation). Documented divergence (COVERAGE.md):
    arithmetic crossing midnight lands on the next epoch day instead of
    wrapping, and results render as timestamps."""

    def lower(tokens, i, out):
        j = _next_code(tokens, i)
        if j < len(tokens) and tokens[j].kind == "string":
            t = _decode_spark_string(tokens[j])
            out.append(Token("word", "TIMESTAMP"))
            out.append(Token("ws", " "))
            out.append(_encode_spark_string(f"1970-01-01 {t}"))
            return j + 1

    return _lower_sites(tokens, {"time"}, lower)


_TEMPORAL_PREFIX_RE = re.compile(
    r"^\s*(?:DATE|TIMESTAMP(?:TZ|_NTZ|_LTZ)?)\s*'"
    r"|^\s*(?:current_date|today|now|get_current_timestamp"
    r"|current_timestamp|make_date|make_timestamp|make_timestamptz"
    r"|to_date|to_timestamp|strptime|date_trunc|last_day)\s*\(",
    re.IGNORECASE,
)
_TEMPORAL_CAST_RE = re.compile(
    r"(?:AS\s+(?:DATE|TIMESTAMP(?:_NTZ|_LTZ)?)\s*\)"
    r"|::\s*(?:DATE|TIMESTAMP(?:_NTZ|_LTZ)?))\s*$",
    re.IGNORECASE,
)


def _static_temporal_sql(expr_sql: str) -> bool:
    """Lexical check that an expression is DATE/TIMESTAMP-valued: a
    typed literal, a cast to a temporal type, or a call to a
    temporal-producing builtin. Used where DuckDB overloads a numeric
    function over temporals (isfinite/isinf) — Spark analysis would
    reject the numeric form outright, so the dispatch must be static.
    A plain column reference with a published DATE/TIMESTAMP schema
    hint (``column_type_hints``) counts too, so stored temporal
    columns dispatch like typed literals."""
    s = expr_sql.strip()
    if bool(_TEMPORAL_PREFIX_RE.search(s)) or bool(
        _TEMPORAL_CAST_RE.search(s)
    ):
        return True
    if _TYPE_HINTS.get() and re.fullmatch(r"[\w.`\" ]+", s):
        h = _hinted_primary_type(tokenize(s))
        return h is not None and h.split("(")[0] in (
            "date", "timestamp", "timestamp_ntz",
        )
    return False


def _nonneg_int_literal(arg: List[Token], minimum: int = 0) -> bool:
    """True when the argument is a bare integer literal >= ``minimum``.
    (The tokenizer lexes numbers as kind 'word' — the pre-r10 'number'
    check never matched, so every literal 3-arg substr took the 5x
    extended-window expansion it was designed to skip.)"""
    code = [t for t in arg if t.kind not in ("ws", "comment")]
    return (
        len(code) == 1
        and code[0].kind in ("number", "word")
        and code[0].text.isdigit()
        and int(code[0].text) >= minimum
    )


_ASOF_COND_END = {
    "WHERE", "GROUP", "ORDER", "LIMIT", "OFFSET", "HAVING", "WINDOW",
    "QUALIFY", "UNION", "EXCEPT", "INTERSECT", "JOIN", "LEFT", "RIGHT",
    "INNER", "CROSS", "FULL", "ASOF", "USING", "ON",
}


def _dotted_ref(tokens_: List[Token]):
    """(qualifier, column) for a plain ``a.b`` / ``b`` column ref; None
    for anything more complex."""
    code = [t for t in tokens_ if t.kind not in ("ws", "comment")]
    if len(code) == 1 and code[0].kind in ("word", "bident", "qident"):
        return None, unquote_name(code[0])
    if (
        len(code) == 3
        and code[0].kind in ("word", "bident", "qident")
        and code[1].kind == "op"
        and code[1].text == "."
        and code[2].kind in ("word", "bident", "qident")
    ):
        return unquote_name(code[0]), unquote_name(code[2])
    return None


def _patch_enclosing_star_for_asof(
    out: List[Token], ralias: str, col: str = "__asof_end"
) -> None:
    """Exclude a rewrite-helper column from star projections of the
    query block whose FROM clause got the rewritten join: ``SELECT *``
    (and ``<ralias>.*``) would otherwise expose it — a schema
    divergence from DuckDB. Used by the ASOF rewrite (``__asof_end``)
    and the POSITIONAL JOIN rewrite (``__pos``, once per side). Walks
    back from the join (already emitted into ``out``) to the owning
    SELECT at the same paren depth, then appends
    ``EXCEPT (<ralias>.<col>)`` to covering stars, merging into an
    EXCEPT list a prior pass (or a second rewritten join in the same
    scope) already placed."""
    depth = 0
    sel = None
    from_idx = None
    for k in range(len(out) - 1, -1, -1):
        t = out[k]
        if t.kind == "op" and t.text == ")":
            depth += 1
        elif t.kind == "op" and t.text == "(":
            if depth == 0:
                return  # crossed our scope's opening paren: no SELECT
            depth -= 1
        elif depth == 0 and t.is_kw("FROM") and from_idx is None:
            from_idx = k
        elif depth == 0 and t.is_kw("SELECT"):
            sel = k
            break
    if sel is None or from_idx is None or from_idx < sel:
        return
    k = sel + 1
    depth = 0
    while k < from_idx:
        t = out[k]
        if t.kind == "op" and t.text in ("(", "["):
            depth += 1
        elif t.kind == "op" and t.text in (")", "]"):
            depth -= 1
        elif depth == 0 and t.kind == "op" and t.text == "*":
            # qualifier, if any
            p = k - 1
            while p > sel and out[p].kind in ("ws", "comment"):
                p -= 1
            qual = None
            if p > sel and out[p].kind == "op" and out[p].text == ".":
                q = p - 1
                while q > sel and out[q].kind in ("ws", "comment"):
                    q -= 1
                if q > sel and out[q].kind in ("word", "bident", "qident"):
                    qual = unquote_name(out[q])
            if qual is not None and qual.lower() != ralias.lower():
                k += 1
                continue
            # a bare `*` is a projection star only right after SELECT /
            # DISTINCT / ALL / a list comma — anything else (identifier,
            # literal, `)`) makes it multiplication
            if qual is None and not (
                out[p].is_kw("SELECT", "DISTINCT", "ALL")
                or (out[p].kind == "op" and out[p].text == ",")
            ):
                k += 1
                continue
            nxt = _next_code(out, k)
            entry = _toks(f"{ralias}.{col}")
            # merge into an existing exclusion list (EXCLUDE is the
            # DuckDB spelling — a later pass converts it to EXCEPT)
            if (
                nxt < from_idx
                and out[nxt].is_kw("EXCEPT", "EXCLUDE")
            ):
                p_open = _next_code(out, nxt)
                if (
                    p_open < from_idx
                    and out[p_open].kind == "op"
                    and out[p_open].text == "("
                ):
                    ins = entry + [Token("op", ","), Token("ws", " ")]
                    out[p_open + 1: p_open + 1] = ins
                    from_idx += len(ins)
                    k = p_open + len(ins)
                    continue
            ins = _toks(" EXCEPT (") + entry + [Token("op", ")")]
            out[k + 1: k + 1] = ins
            from_idx += len(ins)
            k += len(ins)
        k += 1


def _table_primary_backward(out: List[Token]):
    """Index in ``out`` where the trailing FROM-clause table primary
    starts: scan back to the nearest clause boundary (FROM / JOIN /
    comma / opening paren) at depth 0. Returns None when the shape is
    not a plain primary (e.g. a preceding join chain)."""
    depth = 0
    j = len(out) - 1
    while j >= 0:
        t = out[j]
        if t.kind == "op" and t.text == ")":
            depth += 1
        elif t.kind == "op" and t.text == "(":
            if depth == 0:
                return j + 1
            depth -= 1
        elif depth == 0 and (
            t.is_kw("FROM") or t.is_kw("JOIN") or (t.kind == "op" and t.text == ",")
        ):
            return j + 1
        j -= 1
    return None


def _parse_table_primary(toks: List[Token]):
    """(source_sql, alias) of ``name [AS alias]`` / ``(subq) [AS] a``;
    None when it isn't one primary. Source text keeps the original
    whitespace (a stripped subquery would concatenate its words)."""
    first = 0
    n_ = len(toks)
    while first < n_ and toks[first].kind in ("ws", "comment"):
        first += 1
    if first >= n_:
        return None
    if toks[first].kind == "op" and toks[first].text == "(":
        close = _matching_paren(toks, first)
        if close < 0:
            return None
        src = "".join(t.text for t in toks[first: close + 1])
        rest = [
            t
            for t in toks[close + 1:]
            if t.kind not in ("ws", "comment")
        ]
    else:
        if toks[first].kind not in ("word", "bident", "qident"):
            return None
        k = first
        j = _next_code(toks, k)
        while j < n_ and toks[j].kind == "op" and toks[j].text == ".":
            j = _next_code(toks, j)
            if j >= n_:
                return None
            k = j
            j = _next_code(toks, j)
        src = "".join(t.text for t in toks[first: k + 1])
        rest = [
            t for t in toks[k + 1:] if t.kind not in ("ws", "comment")
        ]
    alias = None
    if rest and rest[0].is_kw("AS"):
        rest = rest[1:]
    if len(rest) == 1 and rest[0].kind in ("word", "bident", "qident"):
        alias = unquote_name(rest[0])
    elif rest:
        return None
    if alias is None:
        # bare table name: the name itself keeps qualified refs working
        if "(" in src:
            return None  # subquery without alias (DuckDB requires one)
        alias = unquote_name(Token("word", src.split(".")[-1]))
    return src, alias


# Scan-order position: one expression numbers every row DuckDB
# positions by scan order (POSITIONAL JOIN sides, unordered ranking
# windows, multi-row nextval). monotonically_increasing_id() follows
# partition-concatenation order, i.e. file order on the Parquet
# TableStore; the window computes the dense position in one pass, so
# no second scan has to agree with the first. It runs in one task.
SCAN_ORDER_KEY = "monotonically_increasing_id()"
SCAN_ROW_NUMBER = f"row_number() OVER (ORDER BY {SCAN_ORDER_KEY})"


_ANY_ALL_CMP_OPS = {"=", "==", "<", ">", "<=", ">=", "<>"}


def _literal_array_elements(inner: List[Token]):
    """If ``inner`` is exactly one ``array( e1, e2, ... )`` call (the
    form bracket list literals take after ``_rewrite_brackets``),
    return the element SQL strings; else None."""
    code_idx = [
        k for k, t in enumerate(inner) if t.kind not in ("ws", "comment")
    ]
    if len(code_idx) < 3:
        return None
    first = inner[code_idx[0]]
    second = inner[code_idx[1]]
    if not (first.kind == "word" and first.text.lower() == "array"):
        return None
    if not (second.kind == "op" and second.text == "("):
        return None
    close = _matching_paren(inner, code_idx[1])
    if close != code_idx[-1]:
        return None
    elems: List[str] = []
    depth = 0
    cur: List[str] = []
    for t in inner[code_idx[1] + 1: close]:
        if t.kind == "op" and t.text == "(":
            depth += 1
        elif t.kind == "op" and t.text == ")":
            depth -= 1
        if depth == 0 and t.kind == "op" and t.text == ",":
            elems.append("".join(cur).strip())
            cur = []
        else:
            cur.append(t.text)
    tail = "".join(cur).strip()
    if tail:
        elems.append(tail)
    elif elems:
        return None  # trailing comma — not a clean literal
    return elems


def _rewrite_any_all(tokens: List[Token]) -> List[Token]:
    """DuckDB quantified comparisons:

    - over a LIST value: ``x op ANY(list)`` -> ``exists(list, e -> x op
      e)``, ``x op ALL(list)`` -> ``forall(...)`` (both keep SQL
      three-valued NULL semantics, like Spark's higher-order functions)
    - over a subquery: ``= ANY(sub)`` -> ``IN (sub)``, ``<> ALL(sub)``
      -> ``NOT IN (sub)``; other op+quantifier subquery combinations
      are left for Spark's parser to reject loudly.

    ``GROUP/ORDER BY ALL``, ``UNION ALL`` etc. never match — the token
    before the quantifier must be a comparison operator."""

    def lower(tokens, i, out):
        p = _next_code(tokens, i)
        if not (p < len(tokens) and tokens[p].kind == "op" and tokens[p].text == "("):
            return None
        k = len(out) - 1
        while k >= 0 and out[k].kind in ("ws", "comment"):
            k -= 1
        if not (k >= 0 and out[k].kind == "op" and out[k].text in _ANY_ALL_CMP_OPS):
            return None
        close = _matching_paren(tokens, p)
        inner = _rewrite_any_all(tokens[p + 1: close])
        icode = [t for t in inner if t.kind not in ("ws", "comment")]
        is_sub = bool(icode) and icode[0].is_kw("SELECT", "FROM", "WITH", "VALUES")
        op = out[k].text
        is_any = tokens[i].is_kw("ANY")
        if is_sub and not (
            (is_any and op in ("=", "==")) or (not is_any and op == "<>")
        ):
            return None
        del out[k:]
        left = _pop_operand(out)
        left_sql = "".join(t.text for t in left).strip()
        inner_sql = "".join(t.text for t in inner)
        elems = None if is_sub else _literal_array_elements(inner)
        if is_sub:
            neg = "" if is_any else "NOT "
            out.extend(_toks(f"({left_sql}) {neg}IN ({inner_sql})"))
        elif elems is not None and len(elems) <= 20:
            # literal-list quantifier: expand to a plain OR/AND chain —
            # identical three-valued semantics to exists/forall, no
            # lambda (works around a Spark 4.x Catalyst bug mis-pushing
            # join-mixed lambda predicates through joins —
            # INTERNAL_ERROR_ATTRIBUTE_NOT_FOUND), and each conjunct can
            # push down to the scan
            if not elems:
                out.extend(_toks("false" if is_any else "true"))
            else:
                joiner = " OR " if is_any else " AND "
                out.extend(_toks("(" + joiner.join(
                    f"(({left_sql}) {op} ({e}))" for e in elems
                ) + ")"))
        else:
            fn = "exists" if is_any else "forall"
            out.extend(_toks(f"{fn}(({inner_sql}), __x -> ({left_sql}) {op} __x)"))
        return close + 1

    return _lower_sites(tokens, {"any", "all"}, lower)


def _rewrite_positional_join(tokens: List[Token]) -> List[Token]:
    """DuckDB ``l POSITIONAL JOIN r``: pair rows by position, padding
    the shorter side with NULLs. Both sides get the scan-order row
    number (``SCAN_ROW_NUMBER``) and FULL-join on it; star projections
    are patched to exclude the helper (COVERAGE.md documents the
    ordering caveat after COW mutations). Supported shape: both sides
    plain table primaries (name or aliased subquery); anything else is
    left for Spark's parser to reject loudly."""

    def lower(tokens, i, out):
        n = len(tokens)
        j = _next_code(tokens, i)
        if not (j < n and tokens[j].is_kw("JOIN")):
            return None
        # right primary: name/dotted or parenthesized + optional alias
        r0 = _next_code(tokens, j)
        if r0 >= n:
            return None
        if tokens[r0].kind == "op" and tokens[r0].text == "(":
            r_end = _matching_paren(tokens, r0) + 1
        elif tokens[r0].kind in ("word", "bident", "qident"):
            r_end = r0 + 1
            k = _next_code(tokens, r0)
            while k < n and tokens[k].kind == "op" and tokens[k].text == ".":
                k = _next_code(tokens, k)
                r_end = k + 1
                k = _next_code(tokens, k)
        else:
            return None
        alias_end = r_end
        a0 = _next_code(tokens, r_end - 1)
        if a0 < n and tokens[a0].is_kw("AS"):
            a1 = _next_code(tokens, a0)
            if a1 < n and tokens[a1].kind in ("word", "bident", "qident"):
                alias_end = a1 + 1
        elif (
            a0 < n
            and tokens[a0].kind in ("word", "bident", "qident")
            and tokens[a0].upper not in _ASOF_COND_END
            and not tokens[a0].is_kw("POSITIONAL")
        ):
            alias_end = a0 + 1
        right = _parse_table_primary(tokens[r0:alias_end])
        lstart = _table_primary_backward(out)
        left = _parse_table_primary(out[lstart:]) if lstart is not None else None
        if right is None or left is None:
            return None
        (lsrc, lal), (rsrc, ral) = left, right

        def _wrap(src: str, al: str) -> str:
            return f"(SELECT *, {SCAN_ROW_NUMBER} AS __pos FROM {src}) `{al}`"

        del out[lstart:]
        out.extend(
            _toks(
                _wrap(lsrc, lal)
                + " FULL JOIN "
                + _wrap(rsrc, ral)
                + f" ON `{lal}`.__pos = `{ral}`.__pos"
            )
        )
        _patch_enclosing_star_for_asof(out, lal, "__pos")
        _patch_enclosing_star_for_asof(out, ral, "__pos")
        return alias_end

    return _lower_sites(tokens, {"positional"}, lower)


def _rewrite_asof_join(tokens: List[Token]) -> List[Token]:
    """DuckDB ``ASOF [LEFT] JOIN r ON eq-conds AND l.ts >= r.ts`` ->
    standard join against a windowed right side: each right row gets the
    next event time per key (``lead`` over the equality columns), so the
    inequality plus an interval guard matches EXACTLY the one right row
    DuckDB's asof join picks (largest r.ts <= l.ts for ``>=``/``>``,
    smallest r.ts >= l.ts for ``<=``/``<``). Single shuffle on the
    window, no range-join blowup — the plan shape of operators/asof.py.

    Supported shape: right side is a table name or parenthesized
    subquery (with optional alias), ON is a conjunction of simple
    column-ref comparisons with exactly one inequality, and the right
    side of each comparison is alias-qualified. Anything else is left
    untouched (the Spark parser will reject ASOF, surfacing the
    limitation explicitly). Star projections over the rewritten join
    are patched with ``EXCEPT (__asof_end)`` so the helper column never
    reaches the result schema (``_patch_enclosing_star_for_asof``).
    """

    def lower(tokens, i, out):
        n = len(tokens)
        # --- join type
        j = _next_code(tokens, i)
        left_join = j < n and tokens[j].is_kw("LEFT")
        if j < n and tokens[j].is_kw("LEFT", "INNER"):
            j = _next_code(tokens, j)
        if not (j < n and tokens[j].is_kw("JOIN")):
            return None
        # --- right ref
        r0 = _next_code(tokens, j)
        if r0 >= n:
            return None
        if tokens[r0].kind == "op" and tokens[r0].text == "(":
            r_end = _matching_paren(tokens, r0) + 1
        elif tokens[r0].kind in ("word", "bident", "qident"):
            r_end = r0 + 1
            k = _next_code(tokens, r0)
            while k < n and tokens[k].kind == "op" and tokens[k].text == ".":
                k = _next_code(tokens, k)
                r_end = k + 1
                k = _next_code(tokens, k)
        else:
            return None
        rsource = tokens[r0:r_end]
        # --- alias
        a0 = _next_code(tokens, r_end - 1)
        ralias = None
        alias_end = r_end
        if a0 < n and tokens[a0].is_kw("AS"):
            a1 = _next_code(tokens, a0)
            if a1 < n and tokens[a1].kind in ("word", "bident", "qident"):
                ralias = unquote_name(tokens[a1])
                alias_end = a1 + 1
        elif (
            a0 < n
            and tokens[a0].kind in ("word", "bident", "qident")
            and tokens[a0].upper not in _ASOF_COND_END
        ):
            ralias = unquote_name(tokens[a0])
            alias_end = a0 + 1
        if ralias is None:
            code = [t for t in rsource if t.kind not in ("ws", "comment")]
            if len(code) == 1 and code[0].kind in ("word", "bident", "qident"):
                ralias = unquote_name(code[0])
        # --- ON condition
        on0 = _next_code(tokens, alias_end - 1)
        if not (ralias and on0 < n and tokens[on0].is_kw("ON")):
            return None
        c0 = on0 + 1
        depth = 0
        c_end = c0
        while c_end < n:
            t = tokens[c_end]
            if t.kind == "op" and t.text == "(":
                depth += 1
            elif t.kind == "op" and t.text == ")":
                if depth == 0:
                    break
                depth -= 1
            elif (
                depth == 0
                and t.kind == "word"
                and t.upper in _ASOF_COND_END
            ):
                break
            c_end += 1
        cond = tokens[c0:c_end]
        # split on top-level AND
        conjuncts: List[List[Token]] = [[]]
        depth = 0
        for t in cond:
            if t.kind == "op" and t.text == "(":
                depth += 1
            elif t.kind == "op" and t.text == ")":
                depth -= 1
            if depth == 0 and t.is_kw("AND"):
                conjuncts.append([])
            else:
                conjuncts[-1].append(t)
        eqs = []
        ineq = None
        ok = True
        for cj in conjuncts:
            op_i = None
            depth = 0
            for ci, t in enumerate(cj):
                if t.kind == "op" and t.text == "(":
                    depth += 1
                elif t.kind == "op" and t.text == ")":
                    depth -= 1
                elif depth == 0 and t.kind == "op" and t.text in (
                    "=", ">=", ">", "<=", "<"
                ):
                    op_i = ci
                    break
            if op_i is None:
                ok = False
                break
            lhs, rhs = cj[:op_i], cj[op_i + 1:]
            lref, rref = _dotted_ref(lhs), _dotted_ref(rhs)
            if lref is None or rref is None:
                ok = False
                break
            op = cj[op_i].text
            # orient so the r-side is second
            if lref[0] is not None and lref[0].lower() == ralias.lower():
                lref, rref = rref, lref
                op = {"<": ">", ">": "<", "<=": ">=", ">=": "<="}.get(op, op)
            if not (rref[0] is not None and rref[0].lower() == ralias.lower()):
                ok = False
                break
            if op == "=":
                eqs.append((lref, rref))
            elif ineq is None:
                ineq = (lref, rref, op)
            else:
                ok = False
                break
        if not ok or ineq is None:
            return None
        # --- build the replacement
        lref, rref, op = ineq
        ts_col = rref[1]
        part_cols = ", ".join(f"`{rq[1]}`" for _, rq in eqs)
        over = (
            f"PARTITION BY {part_cols} ORDER BY `{ts_col}`"
            if eqs
            else f"ORDER BY `{ts_col}`"
        )
        win_fn = "lead" if op in (">=", ">") else "lag"
        rsrc_sql = "".join(t.text for t in rsource)
        sub = (
            f"(SELECT *, {win_fn}(`{ts_col}`) OVER ({over}) AS __asof_end "
            f"FROM {rsrc_sql})"
        )
        lts = (f"{lref[0]}." if lref[0] else "") + f"`{lref[1]}`"
        guard_op = {"<": ">=", "<=": ">", ">": "<=", ">=": "<"}[op]
        guard = (
            f"({ralias}.__asof_end IS NULL OR {lts} {guard_op} "
            f"{ralias}.__asof_end)"
        )
        cond_sql = "".join(t.text for t in cond).strip()
        out.extend(
            _toks(
                f"{'LEFT ' if left_join else ''}JOIN {sub} AS {ralias} "
                f"ON ({cond_sql}) AND {guard}"
            )
        )
        _patch_enclosing_star_for_asof(out, ralias)
        return c_end

    return _lower_sites(tokens, {"asof"}, lower)


def _rewrite_concat_null_skipping(tokens: List[Token]) -> List[Token]:
    """DuckDB ``concat()`` SKIPS NULL arguments (Postgres semantics);
    Spark's returns NULL if any argument is NULL. ``concat_ws('')``
    has exactly DuckDB's behavior (and the same implicit casts). Runs
    EARLY, before passes that emit their own ``concat`` calls whose
    NULL-propagation is intentional (the regexp replace-first
    composition must go NULL for a NULL runtime pattern)."""

    def lower(call: _CallSite, walk):
        if call.close <= call.p_open + 1:  # no argument
            return None
        # DuckDB casts EACH argument to VARCHAR before joining; without
        # the per-arg cast Spark's concat_ws would flatten array
        # arguments and join their elements instead (silent wrong
        # results). __DUCKVARCHAR: the late _rewrite_varchar_casts pass
        # lowers it to the DuckDB-exact cast, so DOUBLE/FLOAT args
        # render fmtlib-style ('1e+20') like DuckDB's implicit VARCHAR
        # cast does
        out = _toks("concat_ws(''")
        for arg in _call_args(call.tokens, call.p_open, call.close):
            out += _toks(", CAST((") + walk(arg) + _toks(") AS __DUCKVARCHAR)")
        return out + [Token("op", ")")]

    return _lower_calls(tokens, ("concat",), lower)


def _rewrite_substr_window(tokens: List[Token]) -> List[Token]:
    """3-arg ``substr``/``substring`` with DuckDB's extended-window
    semantics: the window is [start, start+len) in 1-based coordinates
    (negative start counts from the end first), INTERSECTED with the
    string — so ``substr(s, 0, 3)`` keeps 2 chars and a NEGATIVE length
    takes the |len| characters BEFORE start (``substr('hello', 3, -1)``
    = 'e'), where Spark clips to '' and counts full length from
    position 1. The common literal shape (start >= 1, len >= 0) is
    left untouched. Runs BEFORE the bracket pass, which generates its
    own Spark-semantics ``substring`` calls that must not be re-mapped.
    Long operands bind once in a named_struct (the window arithmetic
    mentions the subject 3x and the position ~7x — ~5x growth per
    nesting level measured on a round::VARCHAR subject); inside
    Python-UDF argument spans the repeated-operand form is kept
    (lambdas there defeat ExtractPythonUDFs — see _PY_UDF_FNS).
    """

    def lower(call: _CallSite, walk):
        args = _call_args(call.tokens, call.p_open, call.close)
        if len(args) == 3 and not (
            _nonneg_int_literal(args[1], 1)
            and _nonneg_int_literal(args[2], 0)
        ):
            s, p, l = (
                "".join(t.text for t in walk(a, call.in_py_udf)).strip()
                for a in args
            )
            # bind on post-expansion potential too: a short
            # subject like (round(x, 4))::VARCHAR expands ~5 KB
            # in LATER passes (round template + the fmtlib
            # render dispatch), multiplied by every inline copy
            arg0 = [
                t for t in args[0] if t.kind not in ("ws", "comment")
            ]
            expands = _contains_expanding_call(args[0]) or any(
                t.kind == "word" and t.text.lower() == "varchar"
                for t in arg0
            )
            bind = not call.in_py_udf and (
                expands
                or len(s) + len(p) + len(l) > _BIND_THRESHOLD
            )
            if bind:
                outer = (s, p, l)
                s, p, l = "__sb.s", "__sb.p", "__sb.l"
            p0 = (
                f"(CASE WHEN ({p}) < 0 THEN length({s}) + ({p}) + 1 "
                f"ELSE ({p}) END)"
            )
            a_ = f"({p0} + least(({l}), 0))"
            b_ = f"({p0} + greatest(({l}), 0))"
            st = f"greatest({a_}, 1)"
            ln = f"greatest(least({b_}, length({s}) + 1) - {st}, 0)"
            # NULL start/len must produce NULL (r10b,
            # pre-existing): Spark's greatest/least SKIP NULL
            # arguments, so a NULL position silently clamped to
            # 1 and returned a non-NULL window
            core = (
                f"(CASE WHEN ({p}) IS NULL OR ({l}) IS NULL "
                f"THEN CAST(NULL AS STRING) "
                f"ELSE substring(({s}), {st}, {ln}) END)"
            )
            if bind:
                so, po, lo = outer
                core = (
                    "element_at(transform(array(named_struct("
                    f"'s', ({so}), 'p', ({po}), 'l', ({lo})))"
                    f", __sb -> {core}), 1)"
                )
            return core
        return None

    return _lower_calls(tokens, ("substr", "substring"), lower)


def _rewrite_extract_dow(tokens: List[Token]) -> List[Token]:
    """EXTRACT(DOW FROM x) -> (EXTRACT(DOW FROM x) - 1)
    EXTRACT(ISODOW FROM x) -> (((extract(DAYOFWEEK FROM x) + 5) % 7) + 1)
    EXTRACT(SECOND FROM x) -> truncated BIGINT (DuckDB returns whole
    seconds where Spark's EXTRACT yields DECIMAL(8,6) with fraction).

    ISODOW must NOT be emitted via the ``weekday()``/``dayofweek()``
    FUNCTION forms: this pass runs before ``_rewrite_call_shims``, which
    rewrites both calls to the DuckDB Sunday=0 convention. The EXTRACT
    keyword form is untouched by the call shims (and this pass never
    re-scans its own output)."""

    def lower(tokens, i, out):
        n = len(tokens)
        p_open = _next_code(tokens, i)
        if not (p_open < n and tokens[p_open].text == "("):
            return None
        field_idx = _next_code(tokens, p_open)
        field = tokens[field_idx].upper if field_idx < n else ""
        close = _matching_paren(tokens, p_open)
        if field == "ISODOW":
            from_idx = _next_code(tokens, field_idx)
            out.extend(_toks("(((extract(DAYOFWEEK FROM "))
            out.extend(tokens[_next_code(tokens, from_idx): close])
            out.extend(_toks(") + 5) % 7) + 1)"))
        elif field in ("DOW", "DAYOFWEEK"):
            out.append(Token("op", "("))
            out.extend(tokens[i: close + 1])
            out.extend(_toks(" - 1)"))
        elif field in ("SECOND", "SECONDS"):
            out.extend(_toks("CAST(floor("))
            out.extend(tokens[i: close + 1])
            out.extend(_toks(") AS BIGINT)"))
        else:
            return None
        return close + 1

    return _lower_sites(tokens, {"extract"}, lower)


def _date_trunc_returns_date() -> bool:
    """Current DuckDB types day-or-coarser ``date_trunc`` as DATE; the
    1.4/1.5 era the reference pins (src/versions.py:19-38, venvs per
    version) typed it TIMESTAMP. A config that explicitly pins
    ``duckdb_version`` below 1.6 gets the era typing; unpinned/"latest"
    follows current DuckDB (the oracle the correctness gate runs)."""
    from .. import requested_engine_version

    v = requested_engine_version()
    if v is None or v == "latest":
        return True
    try:
        major, minor = (int(x) for x in v.split(".")[:2])
    except ValueError:
        return True
    return (major, minor) >= (1, 6)


def _rewrite_date_trunc(tokens: List[Token]) -> List[Token]:
    """date_trunc('month', x) -> CAST(date_trunc('month', x) AS DATE) for
    day-or-coarser parts, matching DuckDB's DATE return type (pinned
    1.4/1.5 keeps Spark's native TIMESTAMP — see
    ``_date_trunc_returns_date``)."""
    if not _date_trunc_returns_date():
        return tokens

    def lower(call: _CallSite, walk):
        part = call.tokens[_next_code(call.tokens, call.p_open) :][:1]
        if part and part[0].kind == "string" and (
            part[0].text[1:-1].lower() in _DATE_PARTS
        ):
            return (
                _toks("CAST(")
                + call.tokens[call.start : call.close + 1]
                + _toks(" AS DATE)")
            )
        return None

    return _lower_calls(tokens, ("date_trunc",), lower)


def _boundary_diff_sql(unit: str, a: str, b: str) -> str:
    """DuckDB ``date_diff`` counts PART BOUNDARIES CROSSED between the
    two instants (``date_diff('month', Jan31 23:00, Feb1 01:00)`` = 1),
    not complete elapsed periods like Spark's ``timestampdiff``. Each
    unit maps to a boundary-index difference; sub-hour units fall back
    to timestampdiff over unit-truncated operands."""
    if unit == "YEAR":
        return f"CAST(year({b}) - year({a}) AS BIGINT)"
    if unit == "DECADE":
        return f"CAST(year({b}) DIV 10 - year({a}) DIV 10 AS BIGINT)"
    if unit == "CENTURY":
        # date_diff crosses at year DIV 100 (1999->2000 counts), unlike
        # the ISO-convention century() extraction function — probed
        return f"CAST(year({b}) DIV 100 - year({a}) DIV 100 AS BIGINT)"
    if unit == "MILLENNIUM":
        return f"CAST(year({b}) DIV 1000 - year({a}) DIV 1000 AS BIGINT)"
    if unit == "QUARTER":
        return (
            f"CAST((year({b}) * 4 + quarter({b}))"
            f" - (year({a}) * 4 + quarter({a})) AS BIGINT)"
        )
    if unit == "MONTH":
        return (
            f"CAST((year({b}) * 12 + month({b}))"
            f" - (year({a}) * 12 + month({a})) AS BIGINT)"
        )
    if unit == "WEEK":
        return (
            f"CAST(datediff(CAST(date_trunc('week', {b}) AS DATE), "
            f"CAST(date_trunc('week', {a}) AS DATE)) DIV 7 AS BIGINT)"
        )
    if unit == "DAY":
        return f"CAST(datediff(CAST(({b}) AS DATE), CAST(({a}) AS DATE)) AS BIGINT)"
    if unit in ("HOUR", "MINUTE", "SECOND", "MILLISECOND"):
        low = unit.lower()
        return (
            f"timestampdiff({unit}, date_trunc('{low}', {a}), "
            f"date_trunc('{low}', {b}))"
        )
    return f"timestampdiff({unit}, {a}, {b})"


# DuckDB datepart alias -> canonical unit, probed against DuckDB 1.x
# (rstrip-based normalization mangled the short forms: 's' -> '',
# 'us' -> 'U', 'ms' -> 'M'). dow/isodow/weekday/doy all diff as DAY.
_DATE_PART_ALIASES = {
    "YEAR": ("Y", "YR", "YRS", "YEAR", "YEARS"),
    "QUARTER": ("QUARTER", "QUARTERS"),
    "MONTH": ("MON", "MONS", "MONTH", "MONTHS"),
    "WEEK": ("W", "WEEK", "WEEKS", "WEEKOFYEAR"),
    "DAY": ("D", "DAY", "DAYS", "DAYOFMONTH", "DOY", "DAYOFYEAR",
            "DOW", "ISODOW", "WEEKDAY"),
    "HOUR": ("H", "HR", "HRS", "HOUR", "HOURS"),
    "MINUTE": ("M", "MIN", "MINS", "MINUTE", "MINUTES"),
    "SECOND": ("S", "SEC", "SECS", "SECOND", "SECONDS"),
    "MILLISECOND": ("MS", "MSEC", "MSECS", "MSECOND", "MSECONDS",
                    "MILLISECOND", "MILLISECONDS"),
    "MICROSECOND": ("US", "USEC", "USECS", "USECOND", "USECONDS",
                    "MICROSECOND", "MICROSECONDS"),
    "DECADE": ("DEC", "DECS", "DECADE", "DECADES"),
    "CENTURY": ("C", "CENT", "CENTURY", "CENTURIES"),
    "MILLENNIUM": ("MIL", "MILS", "MILLENNIUM", "MILLENNIA", "MILLENIUM"),
}
_DATE_PART_UNIT = {a: u for u, als in _DATE_PART_ALIASES.items() for a in als}


def _complete_periods_sql(unit: str, a: str, b: str) -> str:
    """DuckDB ``date_sub`` counts COMPLETE elapsed periods — Spark's
    ``timestampdiff`` semantics. DECADE/CENTURY/MILLENNIUM (which Spark
    lacks) compose from complete years; integer division truncates
    toward zero in both engines, matching DuckDB's sign behavior."""
    if unit == "DECADE":
        return f"CAST(timestampdiff(YEAR, {a}, {b}) DIV 10 AS BIGINT)"
    if unit == "CENTURY":
        return f"CAST(timestampdiff(YEAR, {a}, {b}) DIV 100 AS BIGINT)"
    if unit == "MILLENNIUM":
        return f"CAST(timestampdiff(YEAR, {a}, {b}) DIV 1000 AS BIGINT)"
    return f"timestampdiff({unit}, {a}, {b})"


def _rewrite_date_diff(tokens: List[Token]) -> List[Token]:
    """DuckDB ``date_diff('unit', a, b)`` / ``datediff(...)`` ->
    boundary-crossing composition (see ``_boundary_diff_sql``);
    ``date_sub('unit', a, b)`` -> ``timestampdiff`` (DuckDB's date_sub
    IS the complete-periods variant). Spark's own 2-arg
    ``datediff(end, start)`` is left untouched."""

    def lower(call: _CallSite, walk):
        args = _call_args(call.tokens, call.p_open, call.close)
        first = [t for t in args[0] if t.kind not in ("ws", "comment")] if args else []
        if not (len(args) == 3 and len(first) == 1 and first[0].kind == "string"):
            return None
        # an unknown datepart stays untouched (DuckDB errors on it too)
        unit = _DATE_PART_UNIT.get(first[0].text[1:-1].upper())
        if unit is None:
            return None
        a, b = ("".join(t.text for t in walk(x)).strip() for x in args[1:])
        if call.name == "date_sub":
            return _complete_periods_sql(unit, a, b)
        return _boundary_diff_sql(unit, a, b)

    return _lower_calls(tokens, ("date_diff", "datediff", "date_sub"), lower)


def _pattern_composable(pat: str) -> bool:
    """True when ``pat`` is safe to embed in the anchored replace-first
    wrapper: no anchor outside a character class (``^`` composition
    breaks) and no backreference (the wrapper's prefix group shifts
    group numbers)."""
    in_class = False
    i = 0
    while i < len(pat):
        c = pat[i]
        if c == "\\":
            if i + 1 < len(pat) and pat[i + 1].isdigit():
                return False
            i += 2
            continue
        if in_class:
            if c == "]":
                in_class = False
        else:
            if c == "[":
                in_class = True
            elif c in "^$":
                return False
        i += 1
    return True


def _count_capture_groups(pat: str) -> int:
    """Capturing groups of an RE2 pattern: unescaped ``(`` outside a
    character class, excluding ``(?...)`` constructs EXCEPT the named
    forms ``(?P<name>...)`` / ``(?<name>...)`` (which capture)."""
    n = 0
    i = 0
    in_class = False
    while i < len(pat):
        c = pat[i]
        if c == "\\":
            i += 2
            continue
        if in_class:
            if c == "]":
                in_class = False
        elif c == "[":
            in_class = True
        elif c == "(":
            if i + 1 < len(pat) and pat[i + 1] == "?":
                if i + 2 < len(pat) and (
                    pat[i + 2] == "<"
                    and (i + 3 >= len(pat) or pat[i + 3] not in "=!")
                    or pat[i + 2] == "P"
                ):
                    n += 1
            else:
                n += 1
        i += 1
    return n


# Sentinel: the replacement is an INVALID RE2 rewrite, so DuckDB
# returns the subject unchanged — callers emit the subject expression.
REPLACE_NOOP = "__replace_noop__"


def _re2_rewrite_to_java(
    rep: str,
    shift: int,
    ngroups: Optional[int],
    global_mode: bool = False,
) -> Optional[str]:
    """Translate an RE2 rewrite string (DuckDB replacement semantics:
    ``\\N`` backref, ``\\0`` whole match, ``\\\\`` literal backslash,
    ``$`` literal) to Java Matcher replacement syntax, shifting group
    numbers by ``shift`` (the anchored replace-first composition
    prepends two captures: the lazy prefix and the original whole
    match, so ``\\0`` maps to ``$shift``). Returns None when DuckDB
    would return the subject unchanged: a reference beyond ``ngroups``
    anywhere (both modes), or — replace-FIRST mode only — an invalid
    escape / trailing backslash. In GLOBAL mode an invalid escape
    instead TRUNCATES the emitted replacement at that point (verified
    RE2 behavior: bound refs pre-validate the whole string, emission
    stops mid-rewrite). ``ngroups=None`` skips the bounds check
    (dynamic pattern)."""
    out: List[str] = []
    i = 0
    truncated = False
    while i < len(rep):
        c = rep[i]
        if c == "\\":
            if i + 1 >= len(rep):
                if not global_mode:
                    return None  # trailing backslash: invalid rewrite
                truncated = True
                break
            nxt = rep[i + 1]
            if nxt == "\\":
                out.append("\\\\")
                i += 2
                continue
            if nxt.isdigit():
                g = int(nxt)
                if ngroups is not None and g > ngroups:
                    return None  # ref beyond group count: no-op
                out.append(f"${shift if g == 0 else g + shift}")
                i += 2
                continue
            if not global_mode:
                return None  # invalid escape: whole call is a no-op
            truncated = True
            i += 2
            break
        if c == "$":
            out.append("\\$")
        else:
            out.append(c)
        i += 1
    if truncated and ngroups is not None:
        # global mode still bound-checks refs AFTER the truncation
        # point (sequential escape parsing, no emission)
        while i < len(rep):
            if rep[i] == "\\" and i + 1 < len(rep):
                if rep[i + 1].isdigit() and int(rep[i + 1]) > ngroups:
                    return None
                i += 2
                continue
            i += 1
    return "".join(out)


def replace_first_composition(
    pat: str, rep: str, case_insensitive: bool = False
):
    """Compose a replace-ALL (pattern, replacement) pair equivalent to
    DuckDB's flagless replace-FIRST ``regexp_replace(s, pat, rep)``.

    The trick: anchor a non-greedy prefix capture — ``^((?s:.*?))(?:pat)``
    can match at most once (``^`` only matches at position 0), and the
    lazy prefix makes ``pat`` match at its earliest position, i.e. exactly
    the first match. Replacement keeps the prefix via ``$1``; the RE2
    rewrite string is translated to Java syntax with group numbers
    shifted past the prefix capture (``_re2_rewrite_to_java``).

    Returns None (caller falls back to the validator lint) when ``pat``
    contains an anchor outside a character class (composition with
    ``^`` breaks) or a backreference (group numbers shift), or the
    ``REPLACE_NOOP`` sentinel when ``rep`` is an invalid RE2 rewrite
    (DuckDB returns the subject unchanged). The original pattern is
    wrapped in a second capture so ``\\0`` (whole match) stays
    referenceable as ``$2``."""
    if not _pattern_composable(pat):
        return None
    jrep = _re2_rewrite_to_java(rep, 2, _count_capture_groups(pat))
    if jrep is None:
        return REPLACE_NOOP
    pat = _normalize_named_groups_lit(pat)
    if case_insensitive:
        pat = "(?i:" + pat + ")"
    return "^((?s:.*?))((?:" + pat + "))", "$1" + jrep


def _decode_spark_string(tok: Token) -> str:
    """Actual value of a single-quoted literal AFTER the escape pass
    (backslashes arrive doubled)."""
    return tok.text[1:-1].replace("\\\\", "\\").replace("''", "'")


def _encode_spark_string(value: str) -> Token:
    inner = value.replace("\\", "\\\\").replace("'", "''")
    return Token("string", f"'{inner}'")


# Runtime guard for dynamic replace-first patterns: an anchor OUTSIDE
# a character class, or a backslash-digit backreference, in the PATTERN
# VALUE makes the anchored composition unsound — those values fall back
# to plain replace-all at runtime. The guard lexes bracket expressions
# (incl. ``[^...]`` negation and a leading ``]``), so class-contained
# anchors like ``[$]`` / ``[\^]`` correctly stay on the composed
# replace-first path, and an ESCAPED anchor (``\$`` — a literal) is
# consumed by the ``\\[^0-9]`` unit and stays composable too.
_UNCOMPOSABLE_PAT_RE = (
    r"^(?:[^\[\\^$]|\\[^0-9]|\[\^?\]?(?:[^\]\\]|\\.)*\])*(?:[$^]|\\[0-9])"
)


def _rewrite_valid_re(ngroups: Optional[int]) -> str:
    """Regex accepted by a VALID RE2 rewrite VALUE: plain chars,
    ``\\\\`` pairs, and ``\\N`` refs (``\\0`` = whole match) bounded by
    the pattern's group count when known. Anything else (invalid
    escape, trailing backslash, out-of-range ref) makes DuckDB's
    replace-FIRST return the subject unchanged."""
    dig = "[0-9]" if ngroups is None else "[0-%d]" % min(ngroups, 9)
    return r"^(?:[^\\]|\\\\|\\%s)*$" % dig


_NAMED_GROUP_OPEN_RE = re.compile(r"\(\?P?<([A-Za-z_][A-Za-z0-9_]*)>")


def _normalize_named_groups_lit(pat: str) -> str:
    """RE2 named-group opens (``(?P<name>`` — and RE2's newer
    ``(?<name>`` form) -> plain ``(`` so the pattern compiles in Java
    (which rejects ``(?P<`` outright and restricts ``(?<name>`` names
    to alphanumerics). Sound for any RE2 pattern: RE2 has no
    in-pattern name backrefs, and named groups participate in the
    numeric ordering, so numbering is unchanged. Escapes and character
    classes are lexed, not regexed over."""
    out: List[str] = []
    i = 0
    n = len(pat)
    while i < n:
        c = pat[i]
        if c == "\\" and i + 1 < n:
            out.append(pat[i : i + 2])
            i += 2
            continue
        if c == "[":
            j = i + 1
            if j < n and pat[j] == "^":
                j += 1
            if j < n and pat[j] == "]":
                j += 1
            while j < n and pat[j] != "]":
                j += 2 if pat[j] == "\\" else 1
            j = min(j + 1, n)
            out.append(pat[i:j])
            i = j
            continue
        m = _NAMED_GROUP_OPEN_RE.match(pat, i)
        if m:
            out.append("(")
            i = m.end()
            continue
        out.append(c)
        i += 1
    return "".join(out)


def _normalize_named_groups_toks(pat: List[Token]) -> List[Token]:
    """JVM-side twin of ``_normalize_named_groups_lit`` for RUNTIME
    pattern values: one regexp_replace over the VALUE. (The literal
    character sequence ``(?P<x>`` INSIDE a character class would be
    corrupted — an un-lexable corner for a single regex — but such a
    class is meaningless in a real pattern.)"""
    return (
        _toks("regexp_replace((")
        + list(pat)
        + _toks("), ")
        + [_encode_spark_string(r"\(\?P?<[A-Za-z_][A-Za-z0-9_]*>")]
        + _toks(", '(')")
    )


def _max_rewrite_ref(rep: str) -> int:
    """Highest ``\\N`` group reference in an RE2 rewrite string (0 when
    none), honoring ``\\\\`` pairs and scanning PAST invalid escapes —
    RE2 bound-checks every ref in the raw string even after the point
    where global-mode emission would truncate (verified: ``X\\q\\9Y``
    with 1 group no-ops in 'g' mode)."""
    mx = 0
    i = 0
    while i < len(rep):
        if rep[i] == "\\" and i + 1 < len(rep):
            if rep[i + 1].isdigit():
                mx = max(mx, int(rep[i + 1]))
            i += 2
            continue
        i += 1
    return mx


# Class-aware strip of escapes and bracket expressions from a PATTERN
# VALUE, leaving only syntax chars whose parens are countable: applied
# before counting capturing-group opens at runtime.
_NGROUPS_STRIP_RE = r"\\.|\[\^?\]?(?:\\.|[^\]])*\]"
_NGROUPS_PLAIN_OPEN_RE = r"\((?![?])"
_NGROUPS_NAMED_OPEN_RE = r"\(\?P?<[A-Za-z_]"


def _runtime_ngroups_sql(pat_sql: str) -> str:
    """JVM expression counting the capture groups of a RUNTIME pattern
    VALUE: strip escapes and character classes, then count plain
    ``(`` opens (not ``(?``) plus named-group opens (``(?P<name>`` /
    ``(?<name>`` — both capturing, both counted by RE2's numeric
    refs)."""
    strip = _encode_spark_string(_NGROUPS_STRIP_RE).text
    stripped = f"regexp_replace(({pat_sql}), {strip}, '')"
    plain = _encode_spark_string(_NGROUPS_PLAIN_OPEN_RE).text
    named = _encode_spark_string(_NGROUPS_NAMED_OPEN_RE).text
    return (
        f"(regexp_count({stripped}, {plain})"
        f" + regexp_count({stripped}, {named}))"
    )


def _runtime_oob_rlike_sql(rep_sql: str, ng_sql: str) -> str:
    """True when a RUNTIME rewrite VALUE contains a backref beyond the
    RUNTIME group count ``ng_sql``: the per-bound guard regexes
    (``\\\\`` pairs honored) are indexed by the group count at
    runtime. DuckDB no-ops the whole call on such a value in BOTH
    replace-first and global modes."""
    pats = ", ".join(
        _encode_spark_string(
            r"^(?:[^\\]|\\[^%d-9])*\\[%d-9]" % (m, m)
        ).text
        for m in range(1, 10)
    )
    # no CAST: regexp_count is already INT (and an emitted CAST would
    # be re-expanded by the later DuckDB-exact cast dispatch pass)
    return (
        f"(CASE WHEN ({ng_sql}) >= 9 THEN false ELSE ({rep_sql}) RLIKE "
        f"element_at(array({pats}), ({ng_sql}) + 1) END)"
    )


def _rep_rewrite_chain(
    rep: List[Token], shift: int, truncate: bool = False
) -> List[Token]:
    """Token list computing the Java replacement from a RUNTIME RE2
    rewrite VALUE, for values the validity guard accepted: protect
    literal ``$`` and ``\\\\`` pairs behind control-char sentinels,
    shift each ``\\N`` backref to ``$(N+shift)`` (``\\0`` -> the
    whole-match group ``$shift``), then restore the protected literals
    in Java-escaped form. With ``truncate`` (global mode) the value is
    first cut at its first invalid escape, reproducing RE2's
    mid-rewrite abort. Pure JVM string ops."""
    expr = "(" + "".join(t.text for t in rep) + ")"
    if truncate:
        valid_prefix = _encode_spark_string(
            r"^((?:[^\\]|\\\\|\\[0-9])*)"
        ).text
        expr = f"regexp_extract({expr}, {valid_prefix}, 1)"
    expr = f"replace({expr}, '$', chr(2))"
    bs2 = _encode_spark_string("\\\\").text  # two-backslash pair
    expr = f"replace({expr}, {bs2}, chr(1))"
    for d in range(0, 10):
        ref = _encode_spark_string("\\" + str(d)).text
        expr = f"replace({expr}, {ref}, '${shift if d == 0 else d + shift}')"
    expr = f"replace({expr}, chr(1), {bs2})"
    jdollar = _encode_spark_string("\\$").text
    expr = f"replace({expr}, chr(2), {jdollar})"
    return _toks(expr)


def _replace_first_dynamic(
    subj: List[Token],
    pat: List[Token],
    rep: List[Token],
    pat_lit: Optional[str],
    rep_lit: Optional[str],
    case_insensitive: bool = False,
) -> Optional[List[Token]]:
    """Replace-FIRST composition when pattern and/or replacement are
    runtime expressions, not string literals.

    Same anchored-prefix trick as ``replace_first_composition``, built
    with ``concat`` so the pattern can be any expression. Literal parts
    are validated statically (pattern anchors/backrefs -> None, caller
    keeps the lint-covered replace-all); a runtime pattern gets a CASE
    guard that falls back to replace-all only for values matching the
    class-aware ``_UNCOMPOSABLE_PAT_RE``. Replacements follow RE2
    rewrite semantics like DuckDB: literal values translate statically
    (``_re2_rewrite_to_java``; invalid rewrite -> the subject passes
    through unchanged), runtime values translate through the
    ``_rep_rewrite_chain`` string ops behind a validity RLIKE guard
    (invalid value -> subject unchanged). A runtime PATTERN adds two
    more subject-unchanged guards, closing the last r8 divergences:
    an RE2-invalid pattern VALUE (checked by the ``__re2_valid``
    Arrow UDF — the duckdb wheel's own RE2, per-distinct-value cache)
    and a ``\\N`` ref beyond the pattern value's group count (group
    count lexed at runtime by ``_runtime_ngroups_sql``)."""
    if pat_lit is not None and not _pattern_composable(pat_lit):
        return None
    ngroups = _count_capture_groups(pat_lit) if pat_lit is not None else None
    if pat_lit is not None:
        # Java-compilable named-group form; numbering unchanged
        pat_lit = _normalize_named_groups_lit(pat_lit)
    else:
        pat = _normalize_named_groups_toks(pat)
    jrep2 = jrep0 = None
    if rep_lit is not None:
        jrep2 = _re2_rewrite_to_java(rep_lit, 2, ngroups)
        jrep0 = _re2_rewrite_to_java(rep_lit, 0, ngroups)
        if jrep2 is None:
            # invalid rewrite: DuckDB returns the subject unchanged
            return [Token("op", "(")] + list(subj) + [Token("op", ")")]

    def _pat_composed() -> List[Token]:
        # second capture = the original whole match, for \0 refs
        prefix = "^((?s:.*?))((?:" + ("(?i:" if case_insensitive else "")
        suffix = ")" * (3 if case_insensitive else 2)
        if pat_lit is not None:
            return [_encode_spark_string(prefix + pat_lit + suffix)]
        return (
            _toks("concat(")
            + [_encode_spark_string(prefix), Token("op", ",")]
            + list(pat)
            + [Token("op", ","), _encode_spark_string(suffix), Token("op", ")")]
        )

    def _rep_composed() -> List[Token]:
        if jrep2 is not None:
            return [_encode_spark_string("$1" + jrep2)]
        return (
            _toks("concat(")
            + [_encode_spark_string("$1"), Token("op", ",")]
            + _rep_rewrite_chain(rep, 2)
            + [Token("op", ")")]
        )

    def _call(pattern: List[Token], replacement: List[Token]) -> List[Token]:
        return (
            _toks("regexp_replace(")
            + list(subj)
            + [Token("op", ",")]
            + pattern
            + [Token("op", ",")]
            + replacement
            + [Token("op", ")")]
        )

    def _rep_valid_guard() -> List[Token]:
        # runtime replacement: invalid RE2 rewrite VALUE -> subject
        return (
            _toks("NOT ((")
            + list(rep)
            + _toks(") RLIKE ")
            + [_encode_spark_string(_rewrite_valid_re(ngroups))]
            + _toks(") THEN (")
            + list(subj)
            + _toks(") ")
        )

    composed = _call(_pat_composed(), _rep_composed())
    if pat_lit is not None:
        if rep_lit is not None:
            return composed
        return (
            _toks("(CASE WHEN ")
            + _rep_valid_guard()
            + _toks(" ELSE ")
            + composed
            + _toks(" END)")
        )
    guard = (
        [Token("op", "(")]
        + list(pat)
        + [Token("op", ")")]
        + _toks(" RLIKE ")
        + [_encode_spark_string(_UNCOMPOSABLE_PAT_RE)]
    )
    # fallback branch: plain replace-all, case scope preserved
    if case_insensitive:
        fb_pat = (
            _toks("concat(")
            + [_encode_spark_string("(?i:"), Token("op", ",")]
            + list(pat)
            + [Token("op", ","), _encode_spark_string(")"), Token("op", ")")]
        )
    else:
        fb_pat = list(pat)
    fb_rep = (
        [_encode_spark_string(jrep0)]
        if jrep0 is not None
        else _rep_rewrite_chain(rep, 0)
    )
    fallback = _call(fb_pat, fb_rep)
    pat_sql = "".join(t.text for t in pat)
    rep_sql = "".join(t.text for t in rep)
    ng_sql = _runtime_ngroups_sql(pat_sql)
    head = (
        _toks("(CASE WHEN NOT coalesce(__re2_valid((")
        + list(pat)
        + _toks(")), true) THEN (")
        + list(subj)
        + _toks(") WHEN ")
    )
    if rep_lit is None:
        head += _rep_valid_guard() + _toks(" WHEN ")
        head += (
            _toks(
                _runtime_oob_rlike_sql("(" + rep_sql + ")", ng_sql)
                + " THEN ("
            )
            + list(subj)
            + _toks(") WHEN ")
        )
    else:
        maxref = _max_rewrite_ref(rep_lit)
        if maxref > 0:
            head += (
                _toks(f"({ng_sql}) < {maxref} THEN (")
                + list(subj)
                + _toks(") WHEN ")
            )
    return (
        head
        + guard
        + _toks(" THEN ")
        + fallback
        + _toks(" ELSE ")
        + composed
        + _toks(" END)")
    )


# product(): DuckDB multiplies directly; no Spark product aggregate, so
# compose sign-tracking + exp-sum-ln: zero short-circuit, parity of the
# negative count for the sign, log-space magnitude (stable partial
# aggregation — each piece is an ordinary map-side-combinable agg).
# The result is SIGN * MAGNITUDE (not a signed CASE) so a zero product
# carries the IEEE sign DuckDB's direct multiplication produces
# (0.0 * -1.01 = -0.0 when the negative count is odd).
_PRODUCT_SIGN_SQL = (
    "CAST(1 - 2 * (sum(CASE WHEN __E0 < 0 THEN 1 ELSE 0 END) % 2) AS DOUBLE)"
)
_PRODUCT_ABS_SQL = (
    "(CASE WHEN max(CASE WHEN __E0 = 0 THEN 1 ELSE 0 END) = 1"
    " THEN CAST(0 AS DOUBLE)"
    " ELSE exp(sum(ln(abs(CAST(nullif(__E0, 0) AS DOUBLE))))) END)"
)
_PRODUCT_TEMPLATE = f"({_PRODUCT_SIGN_SQL} * {_PRODUCT_ABS_SQL})"
# round(product(x), n): Spark's round() goes through BigDecimal, which
# has no signed zero, so round(-0.0, n) = +0.0 while DuckDB preserves
# the sign. Round the magnitude only and multiply the sign back OUTSIDE
# the round (HALF_UP is symmetric, so sign*round(|p|) = round(p)).
_ROUND_PRODUCT_TEMPLATE = f"({_PRODUCT_SIGN_SQL} * round({_PRODUCT_ABS_SQL}, __N0))"

# entropy(): base-2 Shannon entropy of the VALUE FREQUENCIES in the
# group (DuckDB semantics; nulls skipped, empty group -> 0.0). A single
# SQL level can't nest "count per distinct value" inside an arbitrary
# GROUP BY, so the group's values are gathered with collect_list and the
# frequency sum runs as higher-order array ops; transform(array(...))
# binds the collected array to one lambda variable so the aggregate is
# evaluated once. O(distinct * n) per group and O(n) group memory —
# fine for categorical columns; for high-cardinality-per-group entropy
# restructure as a two-level grouped subquery instead.
# Loud memory bound for the collect_list templates: the whole group
# lands in ONE aggregation buffer, so a pathological group must raise
# (with a pointer to the scale path) before the sort/transform stages
# multiply the array 3x — not OOM an executor. 2^25 doubles = 256 MB.
_TEMPLATE_GROUP_LIMIT = 1 << 25


def _guard_arr(v: str) -> str:
    """Size guard over a LAMBDA-BOUND collected array: both branches
    are the same array type (slice's length argument carries the
    raise_error), so the guard composes anywhere the array does."""
    lim = _TEMPLATE_GROUP_LIMIT
    return (
        f"(CASE WHEN size({v}) > {lim} THEN slice({v}, 1, "
        f"CAST(raise_error('collect_list fallback template: "
        f"group exceeds {lim} collected elements; restructure the "
        f"query so the two-phase grouped plan applies') AS INT)) "
        f"ELSE {v} END)"
    )


_DISTINCT_PREFIX_RE = re.compile(r"^\s*DISTINCT\b\s*", re.IGNORECASE)


def _split_distinct_prefix(arg_sql: str):
    """('core', had_distinct) for an aggregate argument that may carry
    a DISTINCT qualifier (mad(DISTINCT x) / entropy(DISTINCT x))."""
    m = _DISTINCT_PREFIX_RE.match(arg_sql)
    if m:
        return arg_sql[m.end():], True
    return arg_sql, False


def _entropy_fold_sql(collected: str) -> str:
    """Shannon entropy folded over ONE collected array expression (an
    aggregate or window ``collect_list``). Empty array -> 0.0, exactly
    DuckDB's empty/all-NULL result. Since r11 the fold core is the
    compiled ``__duck_entropy_j`` (jvm/duckspark/DuckEntropy.java,
    A/B-verified bit-identical to the interpreted fold it replaced):
    elements cross as strings (Java reprs are round-trip, so string
    equality == value equality; the typeof arg merges float "-0.0"
    into "0.0" the way SQL equality does), turning an O(distinct * n)
    interpreted filter-per-distinct scan into one compiled counting
    pass per frame."""
    return (
        f"(element_at(transform(array({collected}), __arr0 -> "
        f"__duck_entropy_j(CAST({_guard_arr('__arr0')} AS ARRAY<STRING>), "
        "typeof(element_at(__arr0, 1)))), 1))"
    )


def _entropy_template() -> str:
    # built per call so _TEMPLATE_GROUP_LIMIT patches apply; the extra
    # __arr0 binding level applies the size guard ONCE per group
    return _entropy_fold_sql("collect_list(__E0)")

def _mad_integer_domain(arg_sql: str) -> bool:
    """True when a mad() argument is the temporal shim's epoch-micros
    form: DuckDB's temporal mad works in INTEGER micros and rounds
    each median interpolation to ``lo + round(delta/2)`` — i.e.
    ``floor(x + 0.5)`` of the double average (verified: median of
    [t, t+1us] is t+1us) — where numeric mad keeps the exact double.
    The shim's ``CAST(unix_micros(...) AS DOUBLE)`` spelling is the
    marker."""
    s = re.sub(r"\s+", "", arg_sql).lower()
    return s.startswith("cast(unix_micros(")


def _mad_round_sql(expr: str) -> str:
    """DuckDB's temporal median rounding of a double expression to
    integer micros (floor(x + 0.5) == lo + half-up on the
    non-negative delta for any sign of x); NULL-propagating."""
    return f"floor(({expr}) + 0.5D)"


def _mad_fold_sql(collected: str, mode) -> str:
    """median(abs(x - median(x))) folded over ONE collected array
    expression (an aggregate OR window ``collect_list`` call — either
    sits in the HOF *input*, evaluated in the projection, so window
    calls analyze fine). ``mode``: 0/'double' exact, 1/'int' the
    temporal floor(m+0.5) rounding, 2/'dec' the DECIMAL
    unscaled-domain truncation toward zero on both medians (r13). The
    size guard raises loudly before the sort/transform stages triple
    the array."""
    flag = {0: "double", 1: "int", 2: "dec",
            False: "double", True: "int"}.get(mode, mode)
    return (
        f"(element_at(transform(array(CAST(({collected}) "
        "AS ARRAY<DOUBLE>)), __s0 -> "
        f"__duck_mad_j({_guard_arr('__s0')}, '{flag}')), 1))"
    )


def _mad_mode_and_wrap(core: str, temporal: bool = False):
    """``(mode, core2, wrap)`` for a mad argument: mode 1 for the
    temporal epoch-micros shim, mode 2 with the unscaled core and a
    DECIMAL(w,s) cast-back wrapper for statically-DECIMAL chains with
    w <= 15 (DuckDB computes the whole mad in truncating
    unscaled-integer arithmetic and keeps the input type — probed:
    mad(DECIMAL(9,2) [1.01, 2.00]) = 0.49), else mode 0 (exact
    double). Wider/unhinted decimals keep the double fold (documented
    corner)."""
    if temporal or _mad_integer_domain(core):
        return 1, core, None
    dom = _arg_domain(core)
    if dom.kind == "dec":
        return 2, dom.unscaled, lambda body: dom.cast_back(f"({body})")
    return 0, core, None


def _mad_template(arg_sql: str) -> str:
    """Fallback ``mad(x)`` = median(abs(x - median(x))) as a pure
    built-in collect_list template folded by the compiled
    ``__duck_mad_j`` core, for the shapes the grouped two-phase plan
    can't lift: it mixes freely with other aggregates and stays
    JVM-side. O(n) group memory, with the loud ``_TEMPLATE_GROUP_LIMIT``
    guard — the two-phase plan remains the bounded-memory path."""
    core, is_distinct = _split_distinct_prefix(arg_sql)
    mode, core2, wrap = _mad_mode_and_wrap(core)
    # DISTINCT dedupes INSIDE the aggregate, bounding the buffer at the
    # distinct count
    collected = ("collect_list(DISTINCT " if is_distinct else "collect_list(") + core2 + ")"
    body = _mad_fold_sql(collected, mode)
    return wrap(body) if wrap else body


# ---------------------------------------------------------------------------
# streaming order-statistics window lowering (jvm/duckspark/DuckWinOS.java)
#
# mad()/quantile_cont() over RUNNING (ROWS/RANGE UNBOUNDED PRECEDING ..
# CURRENT ROW, including the implicit default frame) and long bounded
# trailing ROWS frames lower onto ONE stateful compiled UDF call per row
# instead of the O(frame)-per-row collect_list fold: the UDF maintains
# an order-statistic treap incrementally as WindowExec streams partition
# rows in order — O(log^2 frame) per row, the same asymptotics as
# DuckDB's segment-tree windowed aggregate executor. Emitted ONLY when
# every OVER spec in the statement shares one (PARTITION BY, ORDER BY)
# prefix, which pins the feeding WindowExec directly below the
# projection so rows reach the UDF partition-contiguous in window order;
# the UDF additionally verifies row_number continuity and throws loudly
# on any violation (never silently wrong). RANGE frames end at the LAST
# peer, so the RANGE form feeds the peer group's values (collect_list
# OVER RANGE CURRENT ROW AND CURRENT ROW — same WindowExec) plus the
# peer ROW count; the first peer row ingests the batch and the rest
# replay the cached answer.

import itertools as _itertools

_WIN_OS_SITE_COUNTER = _itertools.count(1)  # thread-safe in CPython

#: per-STATEMENT generation id carried in every cfg: a task evaluates
#: exactly one statement, so the executor clears all retained per-site
#: state when a row of a NEW generation arrives (r12 ADVICE: site ids
#: never repeat, so without this every statement leaked its last
#: partition's state on pooled executor threads for the session's life)
_WIN_OS_GEN_COUNTER = _itertools.count(1)
_WIN_OS_GEN: ContextVar[int] = ContextVar("win_os_gen", default=0)

#: FOLLOWING-bounded ROWS frames stream via the lead-shifted input
#: (see DuckWinOS.java): the b-row lookahead costs one lead() window
#: column plus b+1 seed leads evaluated only through the rn=1 CASE arm
#: — all O(1)/row in the same WindowExec. The seed array grows with b,
#: so very deep lookaheads keep the fold (whose own cost is O(a+b)/row
#: anyway — at that width neither path is cheap).
_WIN_OS_FOLW_MAX = 256


def _win_os_next_site() -> int:
    return next(_WIN_OS_SITE_COUNTER)


class _WinSpec(NamedTuple):
    """One parsed window spec. ``text`` is the spec with a trailing
    ``EXCLUDE NO OTHERS`` dropped (the default, so inert); ``partition``
    is the text before the ORDER BY, ``order`` the ORDER BY list,
    ``prefix`` both together (the text before the frame) and ``key`` the
    prefix normalised for comparison; ``frame`` is the frame clause plus
    any other EXCLUDE clause, upper-cased and single-spaced."""

    text: str
    partition: str
    order: str
    prefix: str
    key: str
    frame: str
    has_order: bool

    @property
    def exclude(self) -> bool:
        return "EXCLUDE" in self.frame.split()

    @property
    def full(self) -> bool:
        """The frame is the whole partition: no ORDER BY, or an explicit
        UNBOUNDED PRECEDING .. UNBOUNDED FOLLOWING frame, and no
        EXCLUDE clause."""
        if self.exclude:
            return False
        return not self.has_order or self.frame in _FULL_FRAMES


_FULL_FRAMES = frozenset(
    f"{unit} BETWEEN UNBOUNDED PRECEDING AND UNBOUNDED FOLLOWING"
    for unit in ("ROWS", "RANGE", "GROUPS")
)


def _parse_spec(toks: List[Token]) -> _WinSpec:
    """Parse the tokens between an OVER's parentheses (or a WINDOW
    definition's) into a ``_WinSpec``."""
    depth = 0
    order_at = None
    cut = len(toks)
    for k, t in enumerate(toks):
        if t.kind == "op" and t.text in ("(", "["):
            depth += 1
        elif t.kind == "op" and t.text in (")", "]"):
            depth -= 1
        elif depth == 0 and t.kind == "word":
            if t.upper in ("ROWS", "RANGE", "GROUPS", "EXCLUDE"):
                cut = k
                break
            if t.upper == "ORDER" and order_at is None:
                by = _next_code(toks, k)
                if by < len(toks) and toks[by].is_kw("BY"):
                    order_at = k
    head = [t for t in toks[:cut] if t.kind not in ("ws", "comment")]
    tail = [t for t in toks[cut:] if t.kind not in ("ws", "comment")]
    frame = " ".join(t.text for t in tail).upper()
    end = len(toks)
    if frame.endswith("EXCLUDE NO OTHERS"):
        frame = frame[: -len("EXCLUDE NO OTHERS")].strip()
        end = max(k for k, t in enumerate(toks) if t.is_kw("EXCLUDE"))
    split = cut if order_at is None else order_at
    return _WinSpec(
        text=_sql(toks, 0, end),
        partition=_sql(toks, 0, split),
        order=_sql(toks, split, cut),
        prefix=_sql(toks, 0, cut),
        key=" ".join(
            t.text.lower() if t.kind == "word" else t.text for t in head
        ),
        frame=frame,
        has_order=order_at is not None,
    )


def _frame_kind(spec: _WinSpec):
    """Classify a spec's frame for the streaming core: ``(kind, prec,
    rev)`` with kind in ``rows_run`` / ``range_run`` / ``rows_prec``
    (prec = N) / ``rows_folw``, or None when the frame is any other
    shape (GROUPS, expressions, EXCLUDE, lookaheads past
    ``_WIN_OS_FOLW_MAX``) or the spec has no ORDER BY (full partition —
    earlier lowerings own that)."""
    if not spec.has_order:
        return None
    frame = spec.frame
    if frame == "":
        return ("range_run", 0, False)
    if frame in (
        "ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW",
        "ROWS UNBOUNDED PRECEDING",
    ):
        return ("rows_run", 0, False)
    if frame in (
        "RANGE BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW",
        "RANGE UNBOUNDED PRECEDING",
    ):
        return ("range_run", 0, False)
    m = re.fullmatch(
        r"ROWS BETWEEN (\d+) PRECEDING AND CURRENT ROW", frame
    ) or re.fullmatch(r"ROWS (\d+) PRECEDING", frame)
    if m:
        return ("rows_prec", m.group(1), False)
    # trailing frame ending BEFORE the current row: [i-a, i-b] — every
    # needed value is already seen, so it streams with a b-row
    # delayed insert (r12)
    m = re.fullmatch(
        r"ROWS BETWEEN (\d+) PRECEDING AND (\d+) PRECEDING", frame
    )
    if m and int(m.group(1)) >= int(m.group(2)) >= 1:
        return ("rows_prec", f"{m.group(1)}_{m.group(2)}", False)
    # FOLLOWING-bounded frames (r13): [i-a, i+b] streams on the same
    # trailing machinery with a lead(x, b)-shifted input — the row-i
    # trailing multiset of width a+b+1 IS the frame; b+1 seed leads at
    # rn=1 and NULL leads past the partition end clip both edges
    m = re.fullmatch(
        r"ROWS BETWEEN (\d+) PRECEDING AND (\d+) FOLLOWING", frame
    )
    if m and 1 <= int(m.group(2)) <= _WIN_OS_FOLW_MAX:
        return ("rows_folw", f"{m.group(1)}_f{m.group(2)}", False)
    if m and int(m.group(2)) == 0:
        return ("rows_prec", m.group(1), False)
    m = re.fullmatch(
        r"ROWS BETWEEN CURRENT ROW AND (\d+) FOLLOWING", frame
    )
    if m and 1 <= int(m.group(1)) <= _WIN_OS_FOLW_MAX:
        return ("rows_folw", f"0_f{m.group(1)}", False)
    if m and int(m.group(1)) == 0:
        return ("rows_prec", "0", False)
    m = re.fullmatch(
        r"ROWS BETWEEN UNBOUNDED PRECEDING AND (\d+) FOLLOWING", frame
    )
    if m and 1 <= int(m.group(1)) <= _WIN_OS_FOLW_MAX:
        return ("rows_folw", f"u_f{m.group(1)}", False)
    if m and int(m.group(1)) == 0:
        return ("rows_run", 0, False)
    # SUFFIX frames [i-a, n] (r13): the mirror image of the lookahead
    # shapes over the REVERSED order — [a PRECEDING, UNBOUNDED
    # FOLLOWING] ascending IS [UNBOUNDED PRECEDING, a FOLLOWING]
    # descending. Marked rev=True; _resolved_spec flips the ORDER BY
    # (only when the statement's sole window is this site — any other
    # window would pin the feeding WindowExec to the forward order)
    if frame == "ROWS BETWEEN CURRENT ROW AND UNBOUNDED FOLLOWING":
        return ("rows_run", 0, True)
    m = re.fullmatch(
        r"ROWS BETWEEN (\d+) PRECEDING AND UNBOUNDED FOLLOWING", frame
    )
    if m and int(m.group(1)) <= _WIN_OS_FOLW_MAX:
        return ("rows_folw", f"u_f{m.group(1)}", True)
    if frame == "RANGE BETWEEN CURRENT ROW AND UNBOUNDED FOLLOWING":
        return ("range_run", 0, True)
    return None


def _shared_window_prefix(tokens: List[Token]):
    """The single normalized (PARTITION BY, ORDER BY) prefix shared by
    EVERY ``OVER (spec)`` in the statement as ``(prefix, over_count)``,
    or None (mixed prefixes, a named-window reference, or no windows at
    all). Frames may differ — they live in the same WindowExec. This is
    the static gate for the streaming order-statistics lowering; the
    count gates the REVERSED-order suffix-frame lowering (safe only
    when the statement's sole window is the site being rewritten)."""
    keys = set()
    count = 0
    for i, t in enumerate(tokens):
        if not t.is_kw("OVER"):
            continue
        j = _next_code(tokens, i)
        if not (j < len(tokens) and tokens[j].kind == "op" and tokens[j].text == "("):
            return None  # named window: resolution unknown
        keys.add(_parse_spec(tokens[j + 1 : _matching_paren(tokens, j)]).key)
        count += 1
    if len(keys) == 1:
        return keys.pop(), count
    return None


def _prefix_partition_fp_sql(prefix: str) -> str:
    """Partition-key fingerprint column for one streaming call site:
    ``hash(<partition exprs>)`` — constant within a window partition,
    (overwhelmingly) different across partitions, so the executor can
    verify every row belongs to the partition that opened the stream
    (r12 ADVICE: a pushed predicate could otherwise line row numbers
    up across a partition change). No PARTITION BY -> constant 0."""
    toks = _toks(prefix)
    depth = 0
    start = None
    end = len(toks)
    for i, t in enumerate(toks):
        if t.kind == "op" and t.text == "(":
            depth += 1
        elif t.kind == "op" and t.text == ")":
            depth -= 1
        elif depth == 0 and t.kind == "word":
            if t.upper == "PARTITION" and start is None:
                j = _next_code(toks, i)
                if j < len(toks) and toks[j].is_kw("BY"):
                    start = j + 1
            elif t.upper == "ORDER" and start is not None:
                end = i
                break
    if start is None:
        return "CAST(0 AS BIGINT)"
    cols = "".join(t.text for t in toks[start:end]).strip().rstrip(",")
    return f"CAST(hash({cols}) AS BIGINT)"


def _reverse_prefix_sql(prefix: str):
    """The EXACT mirror of a (PARTITION BY, ORDER BY) prefix: every
    sort item's direction and null placement flipped (explicitly, with
    Spark's defaults — ASC NULLS FIRST / DESC NULLS LAST — filled in
    first). Reversing a spec turns suffix frames into streamable
    running/lookahead shapes; with ties the reversed ROWS-frame content
    is engine-arbitrary exactly like forward ROWS frames. None when the
    prefix has no parseable ORDER BY tail."""
    toks = _toks(prefix)
    depth = 0
    ob = None
    for i, t in enumerate(toks):
        if t.kind == "op" and t.text == "(":
            depth += 1
        elif t.kind == "op" and t.text == ")":
            depth -= 1
        elif depth == 0 and t.kind == "word" and t.upper == "ORDER":
            j = _next_code(toks, i)
            if j < len(toks) and toks[j].is_kw("BY"):
                ob = (i, j)
                break
    if ob is None:
        return None
    head = "".join(t.text for t in toks[: ob[0]]).strip()
    items_toks = toks[ob[1] + 1 :]
    items: List[List[Token]] = []
    cur: List[Token] = []
    depth = 0
    for t in items_toks:
        if t.kind == "op" and t.text in ("(", "["):
            depth += 1
        elif t.kind == "op" and t.text in (")", "]"):
            depth -= 1
        if depth == 0 and t.kind == "op" and t.text == ",":
            items.append(cur)
            cur = []
        else:
            cur.append(t)
    items.append(cur)
    out = []
    for it in items:
        code = [t for t in it if t.kind not in ("ws", "comment")]
        if not code:
            return None
        dir_ = "ASC"
        nulls = None
        while code and code[-1].kind == "word" and code[-1].upper in (
            "ASC", "DESC", "NULLS", "FIRST", "LAST",
        ):
            u = code[-1].upper
            if u in ("FIRST", "LAST"):
                if len(code) >= 2 and code[-2].is_kw("NULLS"):
                    nulls = u
                    code = code[:-2]
                    continue
                return None
            if u in ("ASC", "DESC"):
                dir_ = u
                code = code[:-1]
                continue
            return None  # stray NULLS
        if not code:
            return None
        if nulls is None:
            nulls = "FIRST" if dir_ == "ASC" else "LAST"
        ndir = "DESC" if dir_ == "ASC" else "ASC"
        nnulls = "LAST" if nulls == "FIRST" else "FIRST"
        expr = "".join(t.text for t in code).strip()
        out.append(f"{expr} {ndir} NULLS {nnulls}")
    sep = " " if head else ""
    return f"{head}{sep}ORDER BY " + ", ".join(out)


def _resolved_spec(spec: _WinSpec, shared_prefix):
    """``(prefix, kind, prec)`` ready for streaming emission, or None.
    Suffix frames (rev-marked by _frame_kind) resolve onto the
    REVERSED prefix — only when the statement's single window is this
    site (shared_prefix carries the statement's OVER count)."""
    parsed = _frame_kind(spec)
    if parsed is None:
        return None
    kind, prec, rev = parsed
    if not rev:
        return spec.prefix, kind, prec
    if not isinstance(shared_prefix, tuple) or shared_prefix[1] != 1:
        return None
    rp = _reverse_prefix_sql(spec.prefix)
    if rp is None:
        return None
    return rp, kind, prec


def _win_os_streaming_sql(
    op: str,
    core: str,
    prefix: str,
    kind: str,
    prec,
    intdom: bool,
    distinct: bool,
    q_sql: str = "0",
    fn_name: str = "__duck_win_os",
) -> str:
    """One streaming window-core call site: cfg literal (mode + unique
    site id + static params + statement generation) plus the four
    runtime columns (values, row_number, peer row count, partition
    fingerprint) — all window expressions reuse the statement's shared
    (PARTITION BY, ORDER BY) prefix, so they land in the same
    WindowExec and add no exchange or sort. FOLLOWING-bounded kinds
    ship the lead-shifted input (see DuckWinOS.java)."""
    mode = op + {"range_run": "_range", "rows_run": "_run",
                 "rows_prec": "_prec", "rows_folw": "_folw"}[kind]
    gen = _WIN_OS_GEN.get()
    cfg = (
        f"{mode}#w{_win_os_next_site()}#{prec}#{q_sql}"
        f"#{int(intdom)}#{1 if distinct else 0}#g{gen}"
    )
    rn = f"CAST(row_number() OVER ({prefix}) AS BIGINT)"
    if kind == "range_run":
        vals = (
            f"collect_list(CAST(({core}) AS DOUBLE)) OVER ({prefix} "
            "RANGE BETWEEN CURRENT ROW AND CURRENT ROW)"
        )
        cnt = (
            f"count(*) OVER ({prefix} "
            "RANGE BETWEEN CURRENT ROW AND CURRENT ROW)"
        )
    elif kind == "rows_folw":
        b = int(str(prec).split("_f")[1])
        lead_b = f"CAST(lead(({core}), {b}) OVER ({prefix}) AS DOUBLE)"
        seeds = ", ".join(
            f"CAST(lead(({core}), {k}) OVER ({prefix}) AS DOUBLE)"
            if k
            else f"CAST(({core}) AS DOUBLE)"
            for k in range(0, b + 1)
        )
        vals = (
            f"CASE WHEN row_number() OVER ({prefix}) = 1"
            f" THEN array({seeds}) ELSE array({lead_b}) END"
        )
        cnt = "CAST(1 AS BIGINT)"
    else:
        vals = f"array(CAST(({core}) AS DOUBLE))"
        cnt = "CAST(1 AS BIGINT)"
    fp = _prefix_partition_fp_sql(prefix)
    return f"{fn_name}('{cfg}', {vals}, {rn}, {cnt}, {fp})"


def _qdec_wide_agg_sql(
    op: str,
    a: str,
    q_sql: str,
    w: int,
    s: int,
    filter_sql: str = "",
    distinct: bool = False,
) -> str:
    """Wide-DECIMAL (15 < w <= 38) aggregate quantile via the compiled
    exact-unscaled core (DuckQDec.java): the unscaled values exceed
    2^53, so the double-domain SQL wrappers can't represent them —
    the DECIMAL array crosses whole and comes back as an exact decimal
    string."""
    dq = "DISTINCT " if distinct else ""
    return (
        f"CAST(__duck_qdec(CAST(collect_list({dq}{a}){filter_sql}"
        f" AS ARRAY<DECIMAL(38,{s})>), CAST(({q_sql}) AS DOUBLE),"
        f" '{op}#{s}#{w}') AS DECIMAL({w},{s}))"
    )


def _consume_filter_clause(tokens: List[Token], i: int):
    """``(filter_sql, next_index)`` when ``tokens[i]`` starts a
    ``FILTER ( WHERE ... )`` rider, else ``(None, i)``. ``filter_sql``
    includes the FILTER keyword and parens. Callers that rewrite an
    aggregate into a wrapped spelling (CAST / fold) must either splice
    the rider onto the INNER aggregate or leave the original tokens
    alone — a trailing FILTER after the wrapper is a Spark parse error
    (r12 ADVICE)."""
    n = len(tokens)
    if i < n and tokens[i].is_kw("FILTER"):
        f_open = _next_code(tokens, i)
        if (
            f_open < n
            and tokens[f_open].kind == "op"
            and tokens[f_open].text == "("
        ):
            f_close = _matching_paren(tokens, f_open)
            return (
                " FILTER " + _sql(tokens, f_open, f_close + 1),
                f_close + 1,
            )
    return None, i


def _quantile_cont_agg_sql(a: str, b: str, filter_sql: str = "") -> str:
    """Aggregate ``quantile_cont(x, q)``. DOUBLE/unknown inputs map to
    Spark's percentile (same lo + frac*(hi-lo) interpolation). DECIMAL
    inputs quantize in DuckDB: the result KEEPS the input's
    DECIMAL(w, s) type, interpolating on the UNSCALED integer values
    in double with DuckDB's INTEGER-domain formula lo + (hi-lo)*frac
    (probed on 40/40 truncation-boundary cases — NOT the weighted form
    the double domain uses; the two differ exactly at the truncation
    boundaries) and truncating toward zero back to scale s (probed:
    quantile_cont of [1.01, 2.00] at 0.3 is 1.30, not 1.307 — and
    -1.175 truncates to -1.1). Replicated whenever the argument's
    DuckDB type is statically a DECIMAL chain (hinted columns /
    literals) with width <= 15 — every unscaled value then sits below
    2^53 so the double arithmetic is exact on the inputs; wider or
    unhinted decimals keep the DOUBLE result (documented corner).
    DISTINCT riders dedupe before the interpolation (exact on the
    decimal domain — the unscale multiply is injective). A FILTER
    rider attaches to the inner collect_list (same pre-aggregation row
    filter). A list-valued quantile (literal ``array(...)`` of
    numbers) quantizes PER ELEMENT — DuckDB returns DECIMAL(w,s)[] —
    via a transform over the quantile array; non-literal list
    arguments keep the percentile spelling (r12 ADVICE: the scalar
    CAST wrap over a list was a parse error)."""
    core, is_distinct = _split_distinct_prefix(a)
    ch = _parse_literal_decimal_chain(core)
    q_list = None
    try:
        float(b)
    except (TypeError, ValueError):
        m_arr = re.fullmatch(r"(?is)\s*array\s*\((.*)\)\s*", b)
        if m_arr is not None:
            try:
                q_list = [
                    float(x) for x in m_arr.group(1).split(",")
                ]
            except (TypeError, ValueError):
                q_list = None
        if q_list is None:
            ch = None
    if ch is not None and not ch[3] and ch[1] <= 15:
        a = core
        w, s = ch[1], ch[2]
        p = 10 ** s
        dq = "DISTINCT " if is_distinct else ""
        collected = (
            f"sort_array(collect_list({dq}CAST(({a}) * {p} AS DOUBLE))"
            f"{filter_sql})"
        )
        lo = "element_at(__qc, CAST(floor(__qp) AS INT) + 1)"
        hi = (
            "element_at(__qc, least(size(__qc),"
            " CAST(ceiling(__qp) AS INT) + 1))"
        )
        lerp = (
            f"CASE WHEN ceiling(__qp) = floor(__qp) THEN {lo}"
            f" ELSE {lo} + ({hi} - {lo}) * (__qp - floor(__qp)) END"
        )
        if q_list is not None:
            one = (
                f"element_at(transform(array(CAST(__qb AS DOUBLE)"
                f" * (size(__qc) - 1)), __qp -> {lerp}), 1)"
            )
            quantize = (
                f"CAST(CAST(({one}) AS BIGINT)"
                f" / CAST({p} AS DECIMAL({s + 1}, 0))"
                f" AS DECIMAL({w}, {s}))"
            )
            return (
                f"element_at(transform(array({collected}), __qc ->"
                " CASE WHEN size(__qc) = 0 THEN"
                f" CAST(NULL AS ARRAY<DECIMAL({w},{s})>) ELSE"
                f" transform({b}, __qb -> {quantize}) END), 1)"
            )
        fold = (
            f"element_at(transform(array({collected}), __qc ->"
            " CASE WHEN size(__qc) = 0 THEN CAST(NULL AS DOUBLE) ELSE"
            f" element_at(transform(array(CAST(({b}) AS DOUBLE)"
            f" * (size(__qc) - 1)), __qp -> {lerp}), 1) END), 1)"
        )
        return (
            f"CAST(CAST(({fold}) AS BIGINT)"
            f" / CAST({p} AS DECIMAL({s + 1}, 0))"
            f" AS DECIMAL({w}, {s}))"
        )
    if (
        ch is not None
        and not ch[3]
        and 15 < ch[1] <= 38
        and q_list is None
    ):
        # wide decimals: unscaled values exceed 2^53 — the exact
        # sort + DuckDB's all-double interpolation + binary-exact
        # truncation live in the compiled core (r13)
        return _qdec_wide_agg_sql(
            "qcont", core, b, ch[1], ch[2], filter_sql, is_distinct
        )
    return f"percentile({a}, {b}){filter_sql}"


class _ArgDomain(NamedTuple):
    """The DuckDB argument domain of a window/ordered aggregate, as far
    as translation can see it statically (``_arg_domain``)."""

    kind: str  # dec | wide_dec | int | int_chain | float | double | any
    core: str
    w: int = 0
    s: int = 0
    spark_type: str = ""  # kind int: TINYINT .. BIGINT

    @property
    def unscaled(self) -> str:
        """The DECIMAL argument as its unscaled integer value."""
        return f"({self.core}) * {10 ** self.s}"

    def cast_back(self, body: str) -> str:
        """An unscaled-domain answer truncated toward zero back to
        DECIMAL(w,s), the input's type, as DuckDB returns it."""
        return (
            f"CAST(CAST({body} AS BIGINT)"
            f" / CAST({10 ** self.s} AS DECIMAL({self.s + 1}, 0))"
            f" AS DECIMAL({self.w},{self.s}))"
        )


def _arg_domain(core: str) -> _ArgDomain:
    """Sort an aggregate argument into the domains the exact cores tell
    apart: ``dec`` — a statically DECIMAL(w,s) chain with w <= 15, whose
    unscaled values sit below 2^53 so a double-domain core computes on
    them exactly and casts back (DuckDB keeps the DECIMAL type and
    truncates); ``wide_dec`` — 15 < w <= 38; ``int`` — a static integral
    expression (``spark_type``); ``float`` / ``double`` — a column
    hinted so; ``int_chain`` — another integer chain of width <= 15;
    ``any`` — nothing static is known."""
    ch = _parse_literal_decimal_chain(core)
    if ch is not None and not ch[3] and ch[1] <= 38:
        return _ArgDomain(
            "dec" if ch[1] <= 15 else "wide_dec", core, ch[1], ch[2]
        )
    ity = _static_int_expr_spark_type(core)
    if ity is not None:
        return _ArgDomain("int", core, spark_type=ity)
    fty = _static_float_col_type(core)
    if fty is not None:
        return _ArgDomain(fty, core)
    if ch is not None and ch[1] <= 15:
        return _ArgDomain("int_chain", core)
    return _ArgDomain("any", core)


_INT_SPARK_ORDER = ("tinyint", "smallint", "int", "bigint")


def _static_int_expr_spark_type(expr_sql: str):
    """Spark result type name ('TINYINT'..'BIGINT') of an integer-typed
    ``+ - * % ( )`` expression over integer literals and int-hinted
    plain column refs, or None. Both engines promote binary integer
    arithmetic to the WIDEST operand type (literals are INT unless they
    exceed 32 bits), so the widest leaf IS the result type — the gate
    the streaming quantile_disc/histogram lowerings need to cast their
    double-domain answer back losslessly (all values < 2^53)."""
    hints = _TYPE_HINTS.get() or {}
    widest = -1
    for m in _CHAIN_TOK_RE.finditer(expr_sql):
        t = m.group(0)
        if t.isspace() or t in "()+-*%," or t.lower() == "nullif":
            # nullif is transparent: the division/modulo shims wrap
            # divisors as nullif(d, 0), and nullif(int, int) is int
            # (the comma only ever appears inside that wrap here —
            # any OTHER function word bails on the hint lookup below
            # before its comma matters)
            continue
        if t[0].isdigit():
            if "." in t or "e" in t.lower():
                return None
            widest = max(
                widest, 2 if abs(int(t)) <= 2147483647 else 3
            )
            continue
        if t[0].isalpha() or t[0] == "_":
            h = hints.get(t.split(".")[-1].lower(), "")
            if h not in _INT_SPARK_ORDER:
                return None
            widest = max(widest, _INT_SPARK_ORDER.index(h))
            continue
        return None
    if widest < 0:
        return None
    return _INT_SPARK_ORDER[widest].upper()


def _static_float_col_type(expr_sql: str):
    """'double' / 'float' when the expression is exactly a plain
    (possibly parenthesized/qualified) column ref hinted to that type;
    None otherwise."""
    hints = _TYPE_HINTS.get() or {}
    s = expr_sql.strip()
    while s.startswith("(") and s.endswith(")"):
        s = s[1:-1].strip()
    if not re.fullmatch(r"[A-Za-z_][\w.]*", s):
        return None
    h = hints.get(s.split(".")[-1].lower(), "")
    return h if h in ("double", "float") else None


def _streaming_or_none(
    op: str,
    core: str,
    spec: _WinSpec,
    shared_prefix,
    distinct: bool,
    q_sql: Optional[str] = None,
    temporal: bool = False,
):
    """One window call site on the streaming cores, or None (the fold
    takes it): the statement-level gate (``shared_prefix``), a
    streamable frame, a literal quantile in [0, 1] for ``qcont`` /
    ``qdisc``, and an argument domain the core answers exactly.
    ``op``: ``mad`` (any domain; DECIMAL(w<=15) in the unscaled
    truncating domain, the temporal shim in integer micros),
    ``qcont`` (DECIMAL interpolates unscaled and keeps its type —
    probed: quantile_cont(DECIMAL(7,2), 0.3) OVER w gives 2.97 where the
    double interpolation says 2.974; wide decimals take the DuckQDec
    frame fold), ``qdisc`` (treap select at max(1, ceil(q*n)), cast
    back to the argument's static type), ``ent`` (incremental
    value-count multiset, answers in the fold's first-occurrence order)
    and ``hist`` (DuckWinHist: key-ascending counts, the double-keyed
    map cast back to the argument's type). DISTINCT riders count every
    live distinct value once, like the fold's array_distinct."""
    if shared_prefix is None:
        return None
    if q_sql is not None:
        try:
            qf = float(q_sql)
        except (TypeError, ValueError):
            return None
        if not 0.0 <= qf <= 1.0:
            return None
        q_sql = repr(qf)
    parsed = _resolved_spec(spec, shared_prefix)
    if parsed is None:
        return None

    def emit(mode: str, arg: str, intdom=False, fn_name="__duck_win_os"):
        return _win_os_streaming_sql(
            mode, arg, *parsed, intdom, distinct, q_sql=q_sql or "0",
            fn_name=fn_name,
        )

    if op == "mad":
        mode, core2, wrap = _mad_mode_and_wrap(core, temporal)
        body = emit("mad", core2, mode)
        if wrap is not None:
            body = wrap(body)
        if temporal:
            body = f"make_dt_interval(0, 0, 0, {body} / 1000000.0D)"
        return body
    dom = _arg_domain(core)
    if op == "ent":
        return None if dom.kind in ("any", "wide_dec") else emit("ent", core)
    if op == "qcont":
        if dom.kind == "dec":
            return dom.cast_back(emit("qlerp", dom.unscaled))
        return None if dom.kind == "wide_dec" else emit("qcont", core)
    if op == "qdisc":
        if dom.kind == "dec":
            return dom.cast_back(emit("qdisc", dom.unscaled))
        body = emit("qdisc", core) if dom.kind in ("int", "float", "double") else None
        if dom.kind == "int":
            return f"CAST({body} AS {dom.spark_type})"
        return f"CAST({body} AS FLOAT)" if dom.kind == "float" else body
    # hist
    if dom.kind == "dec":
        body = emit("hist", dom.unscaled, fn_name="__duck_win_hist")
        return (
            f"transform_keys({body}, (__hk, __hv) ->"
            f" {dom.cast_back('__hk')})"
        )
    if dom.kind not in ("int", "float", "double"):
        return None
    body = emit("hist", core, fn_name="__duck_win_hist")
    if dom.kind == "int":
        return f"CAST({body} AS MAP<{dom.spark_type},BIGINT>)"
    return f"CAST({body} AS MAP<FLOAT,BIGINT>)" if dom.kind == "float" else body


def _qdec_window_fold_or_none(
    op: str, core: str, q_sql: str, spec: str, distinct: bool
):
    """Windowed DECIMAL quantile via the exact DuckQDec fold over the
    materialized frame (r13): any width up to 38, exact sort +
    backing-typed interpolation + DECIMAL(w,s) result — the path for
    decimal shapes the streaming core does not take (wide widths,
    closed shared-prefix gates, non-streamable frames)."""
    dom = _arg_domain(core)
    if dom.kind not in ("dec", "wide_dec"):
        return None
    try:
        float(q_sql)
    except (TypeError, ValueError):
        return None
    collected = f"collect_list({core}) OVER ({spec})"
    if distinct:
        collected = f"array_distinct({collected})"
    return (
        f"CAST(__duck_qdec(CAST({collected} AS ARRAY<DECIMAL(38,{dom.s})>),"
        f" CAST(({q_sql}) AS DOUBLE), '{op}#{dom.s}#{dom.w}')"
        f" AS DECIMAL({dom.w},{dom.s}))"
    )


def _mad_window_template(
    core: str, spec: str, temporal: bool, distinct: bool = False
) -> str:
    """``mad(x) OVER w`` for ANY frame as a pure in-place expression:
    the frame is materialized per row via ``collect_list(x) OVER w``
    (NULLs dropped by collect_list, matching mad's NULL handling) and
    folded by the compiled ``__duck_mad_j`` core — all JVM-side, no
    statement restructure. Cost is O(frame) per row:
    bounded frames are cheap; a full-partition frame (only reached when
    the window restructure bailed) carries the partition once per
    partition (Spark evaluates an unchanging frame once). DISTINCT
    dedupes the materialized frame (DuckDB computes DISTINCT window
    aggregates over the frame's distinct values; Spark has no native
    equivalent — array_distinct over the frame array IS it)."""
    mode, core2, wrap = _mad_mode_and_wrap(core, temporal)
    collected = f"collect_list({core2}) OVER ({spec})"
    if distinct:
        collected = f"array_distinct({collected})"
    body = _mad_fold_sql(collected, mode)
    if wrap is not None:
        body = wrap(body)
    if temporal:
        body = f"make_dt_interval(0, 0, 0, {body} / 1000000.0D)"
    return body


# histogram(): DuckDB's per-group value->count MAP, keys ascending.
# Same collect_list binding trick as entropy: the group's values are
# gathered once, distinct keys sorted, counts via filter/size. O(distinct
# * n) per group and O(n) group memory — the same documented bound as
# the entropy template; restructure to a two-level GROUP BY upstream for
# high-cardinality groups.
def _histogram_fold_sql(collected: str) -> str:
    """DuckDB histogram folded over ONE collected array expression.
    Empty array (empty frame / all-NULL group) -> NULL, like DuckDB
    (r10 — the pre-r10 template returned an empty map there)."""
    return (
        f"(element_at(transform(array({collected}), __harr0 ->"
        f" element_at(transform(array({_guard_arr('__harr0')}), __harr ->"
        " CASE WHEN size(__harr) = 0 THEN NULL ELSE"
        " map_from_entries(transform(array_sort(array_distinct(__harr)),"
        " __hv -> struct(__hv, CAST(size(filter(__harr, __he -> __he = __hv))"
        " AS BIGINT)))) END), 1)), 1))"
    )


def _histogram_template() -> str:
    return _histogram_fold_sql("collect_list(__E0)")


def _quantile_disc_fold_sql(collected: str, q_sql: str) -> str:
    """DuckDB ``quantile_disc(x, q)`` over ONE collected array: the
    sorted frame's element at index max(1, ceil(q*n)) (1-based —
    probed against DuckDB for n in 1..5, q in {0, .25, .5, .75, 1});
    empty frame / NULL q -> NULL. Result keeps the element type."""
    return (
        f"(element_at(transform(array({collected}), __qa0 ->"
        f" element_at(transform(array(array_sort({_guard_arr('__qa0')}))"
        ", __qa ->"
        " CASE WHEN size(__qa) = 0 THEN element_at(__qa, CAST(NULL AS INT))"
        f" ELSE element_at(__qa, greatest(1,"
        f" CAST(ceiling(({q_sql}) * size(__qa)) AS INT))) END), 1)), 1))"
    )


def _quantile_cont_fold_sql(collected: str, q_sql: str) -> str:
    """DuckDB ``quantile_cont(x, q)`` over ONE collected array:
    interpolation at pos = q*(n-1) over the sorted frame in the
    WEIGHTED form ``(ceil(pos)-pos)*lo + (pos-floor(pos))*hi`` — the
    exact operation order of BOTH Spark's native Percentile and
    DuckDB's Interpolate (r12 probe: the algebraically-equal
    ``lo + frac*(hi-lo)`` differs by 1-2 ulp on ~23% of triples).
    DOUBLE result; empty frame / NULL q -> NULL. Temporal element
    types fail loudly at the DOUBLE cast (they failed loudly before
    the lowering too)."""
    lo = "CAST(element_at(__qc, CAST(floor(__qp) AS INT) + 1) AS DOUBLE)"
    hi = (
        "CAST(element_at(__qc, least(size(__qc),"
        " CAST(ceiling(__qp) AS INT) + 1)) AS DOUBLE)"
    )
    return (
        f"(element_at(transform(array({collected}), __qc0 ->"
        f" element_at(transform(array(array_sort({_guard_arr('__qc0')}))"
        ", __qc ->"
        " CASE WHEN size(__qc) = 0 THEN CAST(NULL AS DOUBLE) ELSE"
        f" element_at(transform(array(CAST(({q_sql}) AS DOUBLE)"
        " * (size(__qc) - 1)), __qp ->"
        f" CASE WHEN ceiling(__qp) = floor(__qp) THEN {lo}"
        f" ELSE (ceiling(__qp) - __qp) * {lo}"
        f" + (__qp - floor(__qp)) * {hi} END"
        "), 1) END), 1)), 1))"
    )


# NOTE (r10): windowed ``mode()`` is NOT lowered. DuckDB's windowed
# mode maintains an incremental frame hash table, so count TIES resolve
# by update history — not a pure function of the frame multiset (probed
# at sf0.01: a 3-way tie returned the second-seen value where the
# aggregate mode returns the first-seen). Spark's native mode windows
# fine and is equally tie-arbitrary; both engines agree whenever the
# max count is unique.


# keywords that end an ORDER BY sort-item list at top level
_ORDER_LIST_TERMINATORS = {
    "LIMIT", "OFFSET", "FETCH", "ROWS", "RANGE", "GROUPS", "EXCLUDE",
    "UNION", "EXCEPT", "INTERSECT", "HAVING", "WINDOW", "QUALIFY",
    "USING",
}


_PIPE_BAIL_KWS = frozenset({
    "SELECT", "WHERE", "WHEN", "THEN", "ELSE", "AND", "OR", "NOT",
    "BY", "AS", "ON", "SET", "CASE", "END", "IN", "LIKE", "BETWEEN",
    "IS", "FROM", "HAVING", "RETURN", "DISTINCT", "ALL", "VALUES",
    "UNION", "EXCEPT", "INTERSECT", "LIMIT", "OFFSET", "ORDER",
    "GROUP", "JOIN", "OVER", "PARTITION",
})

_LISTISH_FNS = frozenset({
    "array", "list_value", "list", "collect_list", "collect_set",
    "array_agg", "map", "map_from_arrays", "sequence", "split",
    "array_distinct", "array_concat", "list_concat", "array_union",
    "array_intersect", "array_except", "slice", "transform", "filter",
    "flatten", "array_sort", "sort_array", "list_sort", "map_keys",
    "map_values", "str_split", "string_split", "regexp_split_to_array",
    "string_to_array",
})


def _operand_is_listish(code: List[Token]) -> bool:
    while (
        len(code) >= 3
        and code[0].kind == "op" and code[0].text == "("
        and code[-1].kind == "op" and code[-1].text == ")"
        and _matching_paren(code, 0) == len(code) - 1
    ):
        code = code[1:-1]
    return bool(
        code
        and code[0].kind == "word"
        and code[0].text.lower() in _LISTISH_FNS
    )


def _forward_operand_end(tokens: List[Token], j: int) -> int:
    """End index (exclusive) of the primary starting at code index
    ``j``: string/number/identifier with call parens, dot fields,
    ``::type`` and bracket-index postfixes. Returns -1 for shapes the
    caller should leave alone (CASE, NOT, subquery keywords...)."""
    n = len(tokens)
    t = tokens[j]
    if t.kind == "string":
        k = j + 1
    elif t.kind == "op" and t.text == "(":
        k = _matching_paren(tokens, j) + 1
    elif t.kind in ("word", "bident", "qident"):
        if t.upper in ("CASE", "NOT", "EXISTS", "SELECT", "INTERVAL"):
            return -1
        k = j + 1
        nk = _next_code(tokens, j)
        if (
            t.upper in ("DATE", "TIME", "TIMESTAMP", "TIMESTAMPTZ")
            and nk < n
            and tokens[nk].kind == "string"
        ):
            # typed literal: DATE '2020-01-02' is one primary
            k = nk + 1
        elif nk < n and tokens[nk].kind == "op" and tokens[nk].text == "(":
            k = _matching_paren(tokens, nk) + 1
    else:
        return -1
    # postfix chains
    while True:
        nk = k
        while nk < n and tokens[nk].kind in ("ws", "comment"):
            nk += 1
        if nk >= n or tokens[nk].kind != "op":
            return k
        if tokens[nk].text == ".":
            nk2 = _next_code(tokens, nk)
            if nk2 < n and tokens[nk2].kind in ("word", "bident", "qident"):
                k = nk2 + 1
                continue
            return k
        if tokens[nk].text == "::":
            nk2 = _next_code(tokens, nk)
            if nk2 < n and tokens[nk2].kind == "word":
                k = nk2 + 1
                nk3 = _next_code(tokens, nk2)
                if nk3 < n and tokens[nk3].kind == "op" and tokens[nk3].text == "(":
                    k = _matching_paren(tokens, nk3) + 1
                continue
            return k
        if tokens[nk].text == "[":
            d = 0
            for m in range(nk, n):
                if tokens[m].kind == "op" and tokens[m].text == "[":
                    d += 1
                elif tokens[m].kind == "op" and tokens[m].text == "]":
                    d -= 1
                    if d == 0:
                        k = m + 1
                        break
            else:
                return k
            continue
        return k


def _rewrite_pipe_concat_casts(tokens: List[Token]) -> List[Token]:
    """``expr || 'literal'`` / ``'literal' || expr``: with a string
    literal on one side DuckDB coerces the other operand through its
    VARCHAR cast (fmt rendering for doubles: ``1e20 || 'a'`` ->
    '1e+20a'); Spark's ``||`` implicit cast renders Java-style. Wrap
    the non-literal side in the DuckDB-exact cast — NULL propagation
    is unchanged (NULL string input -> NULL cast -> NULL concat, same
    as DuckDB's ``||``). Conservative: only simple primaries are
    wrapped, and syntactically list-valued operands (``||`` is list
    concat there) plus unparseable shapes are left alone. Runs after
    ``_rewrite_varchar_casts`` (emits the dispatch directly)."""
    out: List[Token] = []
    i = 0
    n = len(tokens)
    in_values = _values_spans(tokens)
    in_lambda = _hof_lambda_spans(tokens)
    py_spans = _py_udf_arg_spans(tokens)
    # statements already huge (e.g. JSON-arrow replication multiplied
    # an ||-chain) only get the static literal coercions: inlining the
    # render core at hundreds of replicated sites ballooned translate
    # to multi-MB/multi-second on fuzz-adversarial nesting. The cutoff
    # is per-statement, so replicated copies always decide identically.
    statement_huge = n > 20000
    _ARITH_OPS = {"*", "/", "%", "+", "-", "^", "//", "||"}
    while i < n:
        tok = tokens[i]
        if tok.kind == "op" and tok.text == "||" and i not in in_lambda:
            j = _next_code(tokens, i)
            if j < n:
                r_end = _forward_operand_end(tokens, j)
            else:
                r_end = -1
            # arithmetic binds tighter than ||: absorb the full
            # (primary (op primary)*) chain so 'a' || b * c wraps the
            # whole product; an unparseable continuation bails the site
            while r_end > 0:
                nk = r_end
                while nk < n and tokens[nk].kind in ("ws", "comment"):
                    nk += 1
                if not (
                    nk < n
                    and tokens[nk].kind == "op"
                    and tokens[nk].text in _ARITH_OPS
                    and tokens[nk].text != "||"
                ):
                    break
                nj = _next_code(tokens, nk)
                nxt = _forward_operand_end(tokens, nj) if nj < n else -1
                if nxt <= 0:
                    r_end = -1
                    break
                r_end = nxt
            if r_end > 0:
                r_code = [
                    t for t in tokens[j:r_end]
                    if t.kind not in ("ws", "comment")
                ]
                r_lit = len(r_code) == 1 and r_code[0].kind == "string"
                # peek the left operand without committing
                operand = _pop_operand(out)
                k = len(out) - 1
                while k >= 0 and out[k].kind in ("ws", "comment"):
                    k -= 1
                left_is_chain = False
                if (
                    operand
                    and k >= 0
                    and out[k].kind == "op"
                    and out[k].text == "||"
                ):
                    # only a VISIBLY string chain (tail is a string
                    # literal or an emitted dispatch ending 'END)')
                    # counts — a||b could be LIST concat
                    k2 = k - 1
                    while k2 >= 0 and out[k2].kind in ("ws", "comment"):
                        k2 -= 1
                    if k2 >= 0 and out[k2].kind == "string":
                        left_is_chain = True
                    elif (
                        k2 >= 1
                        and out[k2].kind == "op" and out[k2].text == ")"
                    ):
                        k3 = k2 - 1
                        while k3 >= 0 and out[k3].kind in ("ws", "comment"):
                            k3 -= 1
                        if k3 >= 0 and out[k3].is_kw("END"):
                            left_is_chain = True
                # absorb a tighter-binding arithmetic chain leftward
                # (b * c || 'x' must wrap the whole product); bail the
                # site on anything unparseable (unary signs after
                # keywords, mid-list ||, ...)
                arith_ok = True
                if operand and not left_is_chain:
                    while True:
                        k = len(out) - 1
                        while k >= 0 and out[k].kind in ("ws", "comment"):
                            k -= 1
                        if not (
                            k >= 0
                            and out[k].kind == "op"
                            and out[k].text in _ARITH_OPS
                            and out[k].text != "||"
                        ):
                            break
                        saved = out[k:]
                        del out[k:]
                        prev = _pop_operand(out)
                        prev_code = [
                            t for t in prev
                            if t.kind not in ("ws", "comment")
                        ]
                        if not prev or (
                            len(prev_code) == 1
                            and prev_code[0].kind == "word"
                            and prev_code[0].upper in _PIPE_BAIL_KWS
                        ):
                            out.extend(prev)
                            out.extend(saved)
                            arith_ok = False
                            break
                        operand = list(prev) + saved + list(operand)
                if not arith_ok:
                    out.extend(operand)
                    out.append(tok)
                    i += 1
                    continue
                if operand and not left_is_chain and out:
                    k = len(out) - 1
                    while k >= 0 and out[k].kind in ("ws", "comment"):
                        k -= 1
                    if (
                        k >= 0
                        and out[k].kind == "op"
                        and out[k].text == "||"
                    ):
                        # absorption exposed a || chain tail after all
                        out.extend(operand)
                        out.append(tok)
                        i += 1
                        continue
                l_code = [
                    t for t in operand
                    if t.kind not in ("ws", "comment")
                ]
                if len(l_code) == 1 and l_code[0].kind == "string":
                    # absorb a DATE/TIME/TIMESTAMP typed-literal prefix
                    k = len(out) - 1
                    while k >= 0 and out[k].kind in ("ws", "comment"):
                        k -= 1
                    if k >= 0 and out[k].kind == "word" and out[k].upper in (
                        "DATE", "TIME", "TIMESTAMP", "TIMESTAMPTZ",
                    ):
                        operand = [out[k], Token("ws", " ")] + operand
                        l_code = [out[k]] + l_code
                        del out[k:]
                l_lit = len(l_code) == 1 and l_code[0].kind == "string"
                l_sql = "".join(t.text for t in operand).strip()
                r_sql = "".join(t.text for t in tokens[j:r_end]).strip()
                def _coerce(sql_text, code):
                    # literal operands render statically (exact AND
                    # foldable — VALUES lists reject lambdas); others
                    # take the runtime dispatch outside VALUES only.
                    # Oversized operands are skipped: re-wrapping an
                    # already-wrapped chain link is a semantic no-op
                    # (its output is already a string), and wrapping
                    # kilobyte operands at every || in replicated
                    # JSON-extraction SQL made retokenization
                    # quadratic (fuzz-found multi-minute translate)
                    static = _static_varchar_cast(code)
                    if static is not None:
                        return static
                    if statement_huge:
                        return None
                    if i in in_values or len(sql_text) > 400:
                        return None
                    if (
                        sql_text.startswith("(CASE WHEN typeof(")
                        or sql_text.startswith(
                            "(element_at(transform(array(named_struct('v',"
                        )
                        or sql_text.startswith("__duck_render(")
                        or (
                            sql_text.startswith("CAST(")
                            and sql_text.endswith("AS STRING)")
                        )
                    ):
                        # already a string-typed render (our own
                        # dispatch from an earlier chain link, or an
                        # explicit string cast): re-wrapping is a
                        # semantic no-op that ballooned chain size
                        return None
                    return _varchar_cast_sql(sql_text, i in py_spans)

                changed = False
                if (
                    operand and r_lit and not l_lit and not left_is_chain
                    and not _operand_is_listish(l_code)
                ):
                    repl = _coerce(l_sql, l_code)
                    if repl is not None:
                        l_sql = repl
                        changed = True
                if (
                    operand and (l_lit or left_is_chain) and not r_lit
                    and not _operand_is_listish(r_code)
                ):
                    # a mid-chain left side is already a string (the
                    # prior || produced one), so the right side gets
                    # DuckDB's varchar coercion just like after a
                    # literal
                    repl = _coerce(r_sql, r_code)
                    if repl is not None:
                        r_sql = repl
                        changed = True
                if (
                    not changed and operand and not l_lit and not r_lit
                    and not left_is_chain
                    and not _operand_is_listish(l_code)
                    and not _operand_is_listish(r_code)
                ):
                    # no literal on either side: lexically this could
                    # be LIST concat, but a published schema hint
                    # (column_type_hints) on a plain column operand
                    # settles it — a DOUBLE/FLOAT side gets DuckDB's
                    # fmt rendering (Spark's implicit cast is
                    # Java-style), ARRAY/MAP hints keep list concat
                    lh = _hinted_primary_type(l_code)
                    rh = _hinted_primary_type(r_code)
                    listy = tuple(
                        h is not None
                        and (h.startswith("array") or h.startswith("map"))
                        for h in (lh, rh)
                    )
                    if not any(listy):
                        if lh in ("double", "float") or (
                            lh is None
                            and (
                                _hinted_arith_renders_double(l_code)
                                or _double_valued_call(l_code)
                            )
                        ):
                            repl = _coerce(l_sql, l_code)
                            if repl is not None:
                                l_sql = repl
                                changed = True
                        if rh in ("double", "float") or (
                            rh is None
                            and (
                                _hinted_arith_renders_double(r_code)
                                or _double_valued_call(r_code)
                            )
                        ):
                            repl = _coerce(r_sql, r_code)
                            if repl is not None:
                                r_sql = repl
                                changed = True
                if changed:
                    out.extend(_toks(f"{l_sql} || {r_sql}"))
                    i = r_end
                    continue
                out.extend(operand)
        out.append(tok)
        i += 1
    return out


#: single-argument NULL-ignoring custom aggregates whose lowerings are
#: span replacements (statement restructures / collect_list templates /
#: streaming window cores) and therefore cannot carry a FILTER rider:
#: the rider is folded into the argument instead — for a NULL-ignoring
#: aggregate, ``fn(x) FILTER (WHERE c)`` IS ``fn(CASE WHEN c THEN x
#: END)`` (rows failing c contribute NULL = nothing). This also makes
#: filtered WINDOW forms work (DuckDB allows them; Spark rejects
#: FILTER on window functions outright).
_FILTER_TO_CASE_FNS = frozenset({"mad", "entropy", "product"})


def _rewrite_filter_to_case(tokens: List[Token]) -> List[Token]:
    """``fn(x) FILTER ([WHERE] c)`` -> ``fn(CASE WHEN c THEN x END)``
    for the NULL-ignoring custom aggregates in _FILTER_TO_CASE_FNS
    (r13 — their span-replacement lowerings previously left the rider
    dangling after the rewritten expression, a Spark parse error).
    Runs BEFORE the call shims so the mad/entropy machinery sees the
    folded argument; handles the WHERE-less shorthand itself. DISTINCT
    riders stay outside the CASE."""

    def lower(tokens, i, out):
        n = len(tokens)
        p = len(out) - 1
        while p >= 0 and out[p].kind in ("ws", "comment"):
            p -= 1
        if p >= 0 and out[p].kind == "op" and out[p].text == ".":
            return None  # dotted
        p_open = _next_code(tokens, i)
        if not (
            p_open < n and tokens[p_open].kind == "op" and tokens[p_open].text == "("
        ):
            return None
        close = _matching_paren(tokens, p_open)
        f_kw = _next_code(tokens, close)
        if not (f_kw < n and tokens[f_kw].is_kw("FILTER")):
            return None
        f_open = _next_code(tokens, f_kw)
        if not (
            f_open < n and tokens[f_open].kind == "op" and tokens[f_open].text == "("
        ):
            return None
        f_close = _matching_paren(tokens, f_open)
        cond_lo = _next_code(tokens, f_open)
        if cond_lo < n and tokens[cond_lo].is_kw("WHERE"):
            cond_lo = _next_code(tokens, cond_lo)
        cond = _sql(tokens, cond_lo, f_close)
        inner = _rewrite_filter_to_case(tokens[p_open + 1 : close])
        core, is_distinct = _split_distinct_prefix("".join(tk.text for tk in inner))
        dq = "DISTINCT " if is_distinct else ""
        out.append(tokens[i])
        out.extend(_toks(f"({dq}CASE WHEN ({cond}) THEN ({core}) ELSE NULL END)"))
        return f_close + 1

    return _lower_sites(tokens, _FILTER_TO_CASE_FNS, lower)


def _rewrite_filter_shorthand(tokens: List[Token]) -> List[Token]:
    """DuckDB allows ``agg(...) FILTER (cond)`` without WHERE; Spark
    requires ``FILTER (WHERE cond)``. Only the clause form (FILTER
    directly after a closing paren) is touched — ``filter(list,
    lambda)`` calls are untouched."""

    def lower(tokens, i, out):
        n = len(tokens)
        prev = next((t for t in reversed(out) if t.kind not in ("ws", "comment")), None)
        p_open = _next_code(tokens, i)
        if (
            prev is not None
            and prev.kind == "op"
            and prev.text == ")"
            and p_open < n
            and tokens[p_open].kind == "op"
            and tokens[p_open].text == "("
        ):
            first = _next_code(tokens, p_open)
            if first < n and not tokens[first].is_kw("WHERE"):
                out.extend(tokens[i: p_open + 1])
                out.extend(_toks("WHERE "))
                return p_open + 1

    return _lower_sites(tokens, {"filter"}, lower)


def _rewrite_order_null_ordering(tokens: List[Token]) -> List[Token]:
    """DuckDB sorts NULLS LAST by default on ASC keys; Spark defaults to
    NULLS FIRST (DESC agrees: both NULLS LAST). Every ascending sort
    item without an explicit NULLS clause gets ``NULLS LAST`` appended —
    statement ORDER BY, window OVER ordering, and WITHIN GROUP alike
    (the difference changes row SETS under LIMIT and window frames, not
    just presentation order). ``ORDER BY ALL`` is left untouched (Spark
    accepts no NULLS clause there; documented divergence)."""

    def flush(item: List[Token], out: List[Token]) -> None:
        code = [t for t in item if t.kind not in ("ws", "comment")]
        # top-level NULLS only (a nested OVER's NULLS clause must not
        # mask the outer item's default)
        d = 0
        has_nulls = False
        for t in item:
            if t.kind == "op" and t.text == "(":
                d += 1
            elif t.kind == "op" and t.text == ")":
                d -= 1
            elif d == 0 and t.is_kw("NULLS"):
                has_nulls = True
        is_all = len(code) == 1 and code[0].is_kw("ALL")
        desc = bool(code) and code[-1].is_kw("DESC")
        # recurse: subqueries / window calls inside the item
        out.extend(_rewrite_order_null_ordering(item))
        if code and not has_nulls and not is_all and not desc:
            out.extend(_toks(" NULLS LAST "))

    def lower(tokens, i, out):
        n = len(tokens)
        by_i = _next_code(tokens, i)
        if not (by_i < n and tokens[by_i].is_kw("BY")):
            return None
        out.extend(tokens[i: by_i + 1])
        j = by_i + 1
        item: List[Token] = []
        depth = 0
        while j < n:
            t = tokens[j]
            if t.kind == "op" and t.text == "(":
                depth += 1
            elif t.kind == "op" and t.text == ")":
                if depth == 0:
                    break
                depth -= 1
            elif depth == 0 and t.kind == "op" and t.text == ",":
                flush(item, out)
                item = []
                out.append(t)
                j += 1
                continue
            elif depth == 0 and t.kind == "word" and t.upper in _ORDER_LIST_TERMINATORS:
                break
            item.append(t)
            j += 1
        flush(item, out)
        return j

    return _lower_sites(tokens, {"order"}, lower)


def _splice_template(template: str, args: dict) -> List[Token]:
    """Tokenize a pure-Spark template, replacing placeholder words with
    (parenthesized) caller-argument token runs."""
    out: List[Token] = []
    for tok in tokenize(template):
        if tok.kind == "word" and tok.text in args:
            out.append(Token("op", "("))
            out.extend(args[tok.text])
            out.append(Token("op", ")"))
        else:
            out.append(tok)
    return out


def _strip_product_call(arg: List[Token]) -> Optional[List[Token]]:
    """If ``arg``'s code tokens are exactly ``product(<single-arg>)``,
    return the inner argument tokens; else None."""
    code = [j for j, t in enumerate(arg) if t.kind not in ("ws", "comment")]
    if not code:
        return None
    j0 = code[0]
    if not (arg[j0].kind == "word" and arg[j0].text.lower() == "product"):
        return None
    p_open = _next_code(arg, j0)
    if p_open >= len(arg) or arg[p_open].text != "(":
        return None
    close = _matching_paren(arg, p_open)
    if close != code[-1]:
        return None
    inner_args = _call_args(arg, p_open, close)
    if len(inner_args) != 1:
        return None
    return inner_args[0]


def _product_window_sql(arg: str, spec: str) -> str:
    """``product(x) OVER w`` for ANY frame: each composition piece
    (negative-count parity sign, zero flag, exp-sum-ln magnitude) is an
    ordinary window aggregate over the SAME spec, so running products
    work and a zero carries the IEEE sign of DuckDB's direct
    multiplication (0.0 * odd negatives = -0.0)."""
    sign = (
        f"CAST(1 - 2 * (sum(CASE WHEN ({arg}) < 0 THEN 1 ELSE 0 END) "
        f"OVER ({spec}) % 2) AS DOUBLE)"
    )
    mag = (
        f"(CASE WHEN max(CASE WHEN ({arg}) = 0 THEN 1 ELSE 0 END) "
        f"OVER ({spec}) = 1 THEN CAST(0 AS DOUBLE) "
        f"ELSE exp(sum(ln(abs(CAST(nullif(({arg}), 0) AS DOUBLE)))) "
        f"OVER ({spec})) END)"
    )
    return f"({sign} * {mag})"


def _entropy_window_sql(arg: str, pspec: str) -> str:
    """``entropy(x) OVER w`` for a FULL-PARTITION frame: per-value
    frequencies come from a second window partitioned by (keys, x), so
    H = log2(N) - sum(log2(c_row)) / N entirely in built-ins (each row
    of a value contributes log2(c) once — Σ c*log2(c) overall). NULLs
    are skipped and an empty/all-NULL partition yields 0.0, DuckDB
    semantics. Float accumulation order differs from DuckDB's hash
    aggregate at ~1e-15 relative (measured) — same tolerance class as
    windowed sums."""
    pv = f"{pspec}, ({arg})" if pspec.strip() else f"PARTITION BY ({arg})"
    cnt = f"count(({arg})) OVER ({pspec})"
    cv = f"count(({arg})) OVER ({pv})"
    term = (
        f"(CASE WHEN (({arg})) IS NULL THEN CAST(0 AS DOUBLE) "
        f"ELSE log2(CAST({cv} AS DOUBLE)) END)"
    )
    return (
        f"(CASE WHEN {cnt} = 0 THEN CAST(0 AS DOUBLE) "
        f"ELSE log2(CAST({cnt} AS DOUBLE)) "
        f"- (sum({term}) OVER ({pspec})) / CAST({cnt} AS DOUBLE) END)"
    )


def _rewrite_product_entropy(tokens: List[Token], windows=None) -> List[Token]:
    """DuckDB ``product(x)`` / ``entropy(x)`` aggregates -> Spark
    compositions (templates above). Runs LAST in the pipeline: the
    emitted tokens are pure Spark SQL and must not pass through the
    DuckDB-oriented rewrites (e.g. bracket or rename passes). Named
    windows resolve against the statement's WINDOW definitions."""
    if windows is None:
        windows = _lazy_windows(tokens)

    def lower(tokens, i, out):
        n = len(tokens)
        low = tokens[i].text.lower()
        p_open = _next_code(tokens, i)
        if not (p_open < n and tokens[p_open].text == "("):
            return None
        close = _matching_paren(tokens, p_open)
        args = _call_args(tokens, p_open, close)
        if low == "round":
            # round(product(x), n) needs the sign applied OUTSIDE the
            # round (see _ROUND_PRODUCT_TEMPLATE).
            inner = _strip_product_call(args[0]) if len(args) == 2 else None
            if inner is None:
                return None
            arg = _rewrite_product_entropy(inner, windows)
            scale = _rewrite_product_entropy(args[1], windows)
            out.extend(
                _splice_template(_ROUND_PRODUCT_TEMPLATE, {"__E0": arg, "__N0": scale})
            )
            return close + 1
        if len(args) != 1:
            return None
        after = _next_code(tokens, close)
        if after < n and tokens[after].is_kw("OVER"):
            # window form: product composes for ANY frame; entropy for
            # full-partition frames (per-value counts need the (keys,
            # value) partition trick)
            body, end = _over_spec(tokens, after, windows)
            spec = None if body is None else _parse_spec(body)
            repl = None
            if spec is not None:
                arg_s = "".join(
                    t.text for t in _rewrite_product_entropy(args[0], windows)
                )
                if low == "product":
                    repl = _product_window_sql(arg_s, spec.text)
                elif (
                    low == "entropy"
                    and spec.full
                    # DISTINCT args can't restructure onto per-count
                    # built-ins; left for the frame-materialization fold
                    # (r10)
                    and not _DISTINCT_PREFIX_RE.match(arg_s)
                ):
                    repl = _entropy_window_sql(arg_s, spec.partition)
            if repl is None:
                # unsupported window shape: leave the call untouched
                # (loud unresolved-function error, never the aggregate
                # template + OVER)
                return None
            out.extend(_toks(repl))
            return end
        arg = _rewrite_product_entropy(args[0], windows)
        tmpl = {
            "product": _PRODUCT_TEMPLATE,
            "entropy": _entropy_template(),
            "histogram": _histogram_template(),
        }[low]
        out.extend(_splice_template(tmpl, {"__E0": arg}))
        return close + 1

    return _lower_sites(tokens, {"round", "product", "entropy", "histogram"}, lower)


# Aggregate/window call names that, when they ENCLOSE an entropy() call,
# make the scale-safe restructure inapplicable (nested-aggregate shapes
# keep the collect_list template instead).
_ENTROPY_AGG_CONTEXT = {
    "sum", "count", "avg", "mean", "min", "max", "first", "last",
    "any_value", "stddev", "stddev_samp", "stddev_pop", "variance",
    "var_samp", "var_pop", "corr", "covar_samp", "covar_pop", "median",
    "mode", "percentile", "percentile_cont", "percentile_disc",
    "percentile_approx", "approx_count_distinct", "collect_list",
    "collect_set", "array_agg", "listagg", "string_agg", "product",
    "entropy", "histogram", "skewness", "kurtosis", "bool_and",
    "bool_or", "over",
}

# Shannon entropy from per-value counts via the identity
# H = log2(n) - sum(c*log2(c))/n  (n = sum(c)) — every piece is an
# ordinary map-side-combinable aggregate, so the whole computation is
# two chained hash aggregates with bounded per-group state (the x28
# token-entropy shape), instead of collect_list's O(group) array.
_ENTROPY_H_SQL = (
    "log2(CAST(sum(__ec) AS DOUBLE))"
    " - sum(__ec * log2(CAST(__ec AS DOUBLE))) / CAST(sum(__ec) AS DOUBLE)"
)


def _entropy_calls_in_item(item: List[Token], fname: str = "entropy",
                           context=None):
    """Spans of scalar-context ``fname(arg)`` calls in one select item.

    Returns a list of ``(word_idx, open_idx, close_idx)``, or None when
    some call is nested inside another aggregate or a window (the
    statement-level restructure must fall back to the template/UDF).
    Parenthesized subqueries are treated as opaque (handled by the
    recursive pass on their own scope).
    """
    if context is None:
        context = _ENTROPY_AGG_CONTEXT
    calls = []
    stack: List[str] = []
    i, n = 0, len(item)
    while i < n:
        t = item[i]
        if t.kind == "op" and t.text == "(":
            fc = _next_code(item, i)
            if fc < n and item[fc].kind == "word" and item[fc].upper in (
                "SELECT",
                "WITH",
            ):
                i = _matching_paren(item, i) + 1
                continue
            stack.append("(")
            i += 1
            continue
        if t.kind == "op" and t.text == ")":
            if stack:
                stack.pop()
            i += 1
            continue
        if t.kind == "word":
            nxt = _next_code(item, i)
            if nxt < n and item[nxt].text == "(":
                low = t.text.lower()
                close = _matching_paren(item, nxt)
                if low == fname:
                    if any(fn in context for fn in stack):
                        return None
                    args = _call_args(item, nxt, close)
                    if len(args) != 1:
                        return None
                    calls.append((i, nxt, close))
                    i = close + 1
                    continue
                stack.append(low)
                i = nxt + 1
                continue
        i += 1
    return calls


def _entropy_outer_name(item: List[Token]) -> Optional[str]:
    """How the outer query re-references a base select item: its AS
    alias, or the final segment of a bare (dotted) column; None for an
    unaliased expression (output name would change — fall back)."""
    alias = None
    depth = 0
    code = [j for j, t in enumerate(item) if t.kind not in ("ws", "comment")]
    for pos, j in enumerate(code):
        t = item[j]
        if t.kind == "op" and t.text in ("(", "["):
            depth += 1
        elif t.kind == "op" and t.text in (")", "]"):
            depth -= 1
        elif depth == 0 and t.kind == "word" and t.upper == "AS":
            if pos + 1 < len(code):
                alias = item[code[pos + 1]].text
    if alias is not None:
        return alias
    text = "".join(t.text for t in item).strip()
    if _plain_identifier_name(text) is None:
        return None
    return item[code[-1]].text if code else None


def _entropy_order_tail_ok(tokens: List[Token], order_idx: int, end: int) -> bool:
    """ORDER BY terms must be plain identifiers or ordinals so they
    still resolve in the restructured outer query."""
    by = _next_code(tokens, order_idx)
    body = _sql(tokens, by + 1, end)
    for term in _split_csv_text(body):
        words = term.split()
        while words and words[-1].upper() in ("ASC", "DESC", "FIRST", "LAST"):
            if words[-1].upper() in ("FIRST", "LAST"):
                words = words[:-1]
                if words and words[-1].upper() == "NULLS":
                    words = words[:-1]
            else:
                words = words[:-1]
        expr = " ".join(words)
        if expr.isdigit():
            continue
        if _plain_identifier_name(expr) is None or "." in expr:
            return False
    return True


def _replace_clause_aggs(
    seg: List[Token], aggset, hoist: dict, keymap: dict, tag: str = ""
):
    """Rewrite one HAVING/ORDER clause-body token list: every
    aggregate call span (including WITHIN GROUP / FILTER riders)
    becomes a ``__hv_j`` ref recorded in ``hoist``; every (possibly
    dotted) reference whose final segment is a group key becomes its
    ``__ok_i`` export from ``keymap``. Returns the rewritten SQL text,
    or None when the clause contains a window (OVER) — those cannot be
    hoisted into the aggregate scope."""
    out: List[str] = []
    i = 0
    n_ = len(seg)
    while i < n_:
        t = seg[i]
        if t.kind == "word":
            nk = _next_code(seg, i)
            if (
                nk < n_
                and seg[nk].kind == "op"
                and seg[nk].text == "("
                and t.text.lower() in aggset
            ):
                close = _matching_paren(seg, nk)
                if close < 0:
                    return None
                end = close
                while True:  # WITHIN GROUP (...) / FILTER (...) riders
                    after = _next_code(seg, end)
                    if after < n_ and seg[after].is_kw("WITHIN"):
                        g = _next_code(seg, after)
                        p = _next_code(seg, g) if g < n_ else n_
                        if (
                            g < n_
                            and seg[g].is_kw("GROUP")
                            and p < n_
                            and seg[p].text == "("
                        ):
                            end = _matching_paren(seg, p)
                            continue
                        return None
                    if after < n_ and seg[after].is_kw("FILTER"):
                        p = _next_code(seg, after)
                        if p < n_ and seg[p].text == "(":
                            end = _matching_paren(seg, p)
                            continue
                        return None
                    break
                after = _next_code(seg, end)
                if after < n_ and seg[after].is_kw("OVER"):
                    return None
                call = "".join(x.text for x in seg[i : end + 1])
                key = " ".join(call.split())
                j = hoist.setdefault(key, (len(hoist), call))[0]
                out.append(f"__hv{tag}_{j}")
                i = end + 1
                continue
            if t.is_kw("OVER"):
                return None
        nk = _next_code(seg, i)
        is_call = nk < n_ and seg[nk].kind == "op" and seg[nk].text == "("
        if t.kind in ("word", "bident", "qident") and not is_call:
            end = i  # dotted chain -> group-key export
            j2 = _next_code(seg, i)
            while j2 < n_ and seg[j2].kind == "op" and seg[j2].text == ".":
                j2 = _next_code(seg, j2)
                if j2 >= n_:
                    break
                end = j2
                j2 = _next_code(seg, j2)
            last = unquote_name(seg[end]).lower()
            if last in keymap:
                out.append(keymap[last])
            else:
                out.append("".join(x.text for x in seg[i : end + 1]))
            i = end + 1
            continue
        out.append(t.text)
        i += 1
    return "".join(out)


def _hoist_agg_having_order(
    tokens: List[Token],
    spec: dict,
    first: int,
    from_idx: int,
    clause_idx: dict,
    clause_end,
    keys: List[str],
    n: int,
):
    """``SELECT k, x FROM t GROUP BY k HAVING mad(x) > c`` (or ORDER BY
    mad(x)) restructures by hoisting every aggregate call in the
    HAVING/ORDER clauses into hidden select items (plus ``__ok_i``
    exports of the group keys), letting the select-list restructure
    produce the two-phase plan, then filtering/sorting on the outer
    scope and hiding the helpers with ``* EXCEPT``. Returns new tokens
    or None (caller keeps the documented fallback)."""
    fname = spec["name"]
    tag = spec.get("tag", "")
    aggset = (set(spec["context"]) | {fname}) - {"over", "make_dt_interval"}
    keymap: dict = {}
    key_items: List[str] = []
    for idx, k in enumerate(keys):
        nm = _plain_identifier_name(k)
        if nm is not None:
            keymap[nm.strip('`"').lower()] = f"__ok{tag}_{idx}"
        # expression keys get no keymap entry: a HAVING/ORDER that
        # repeats the raw expression fails loudly in the outer scope
        # (rare; the aggregate-only predicates this hoist targets
        # never reference them)
        key_items.append(f"({k}) AS __ok{tag}_{idx}")
    tail_lo = min(
        (
            clause_idx[c]
            for c in ("ORDER", "LIMIT", "OFFSET")
            if c in clause_idx
        ),
        default=n,
    )
    hav_lo = clause_idx.get("HAVING", n)
    hoist: dict = {}
    hav_repl = None
    if hav_lo < n:
        body = tokens[hav_lo + 1 : clause_end(hav_lo)]
        hav_repl = _replace_clause_aggs(body, aggset, hoist, keymap, tag)
        if hav_repl is None:
            return None
    tail_repl = ""
    if tail_lo < n:
        tail_repl = _replace_clause_aggs(
            tokens[tail_lo:n], aggset, hoist, keymap, tag
        )
        if tail_repl is None:
            return None
    if not hoist:
        return None
    # the target name must be fully consumed by the hoist (a leftover
    # occurrence would dangle unresolved in the outer scope)
    for txt in filter(None, (hav_repl, tail_repl)):
        if any(
            t.kind == "word" and t.text.lower() == fname
            for t in tokenize(txt)
        ):
            return None
    extra = [
        f"{call} AS __hv{tag}_{j}"
        for j, call in sorted(hoist.values())
    ] + key_items
    inner_hi = min(hav_lo, tail_lo, n)
    inner_sql = (
        _sql(tokens, first, from_idx)
        + ", "
        + ", ".join(extra)
        + " "
        + _sql(tokens, from_idx, inner_hi)
    )
    inner_out = _rewrite_aggfn_groupby(_toks(inner_sql), spec)
    inner_sql2 = "".join(t.text for t in inner_out)
    helpers = [f"__hv{tag}_{j}" for j in range(len(hoist))] + [
        f"__ok{tag}_{i}" for i in range(len(keys))
    ]
    sql = (
        f"SELECT * EXCEPT ({', '.join(helpers)}) "
        f"FROM ({inner_sql2}) __hoist{tag}"
    )
    if hav_repl is not None:
        sql += " WHERE " + hav_repl
    if tail_repl:
        sql += " " + tail_repl
    return _toks(sql)


def _rewrite_aggfn_groupby(tokens: List[Token], spec: dict) -> List[Token]:
    """Scale-safe statement restructure for an aggregate function that
    has no bounded-memory single-pass Spark form: when ``spec["name"]``
    appears only as a scalar-context aggregate in the select list of a
    plain GROUP BY (or global-aggregate) SELECT, restructure so each
    argument is computed by a per-arg subquery (``spec["make_sub"]``)
    joined back on the group keys; calls in HAVING/ORDER BY are hoisted
    into hidden select items first (``_hoist_agg_having_order``).
    Shapes the restructure can't express (nested in another aggregate
    or a window, grouping by non-column expressions, DISTINCT, ...)
    keep the collect_list template applied later in the pipeline
    (entropy: ``_rewrite_product_entropy``; mad:
    ``_rewrite_mad_fallback_template``)."""
    fname = spec["name"]
    context = spec["context"]
    tag = spec.get("tag", "")
    n = len(tokens)
    first = _next_code(tokens, -1)
    if first >= n or tokens[first].kind != "word":
        return tokens
    if not any(
        t.kind == "word" and t.text.lower() == fname for t in tokens
    ):
        return tokens
    if tokens[first].upper == "WITH":
        depth = 0
        for j in range(first + 1, n):
            t = tokens[j]
            if t.kind == "op" and t.text in ("(", "["):
                depth += 1
            elif t.kind == "op" and t.text in (")", "]"):
                depth -= 1
            elif depth == 0 and t.kind == "word" and t.upper == "SELECT":
                return tokens[:j] + _rewrite_aggfn_groupby(
                    tokens[j:], spec
                )
        return tokens
    if tokens[first].upper != "SELECT":
        return tokens

    # set operations: each branch restructures independently
    depth = 0
    for j in range(first + 1, n):
        t = tokens[j]
        if t.kind == "op" and t.text in ("(", "["):
            depth += 1
        elif t.kind == "op" and t.text in (")", "]"):
            depth -= 1
        elif (
            depth == 0
            and t.kind == "word"
            and t.upper in ("UNION", "EXCEPT", "INTERSECT")
        ):
            k = _next_code(tokens, j)
            if k < n and tokens[k].upper in ("ALL", "DISTINCT"):
                k = _next_code(tokens, k)
            return (
                _rewrite_aggfn_groupby(tokens[:j], spec)
                + tokens[j:k]
                + _rewrite_aggfn_groupby(tokens[k:], spec)
            )

    clause_idx: dict = {}
    depth = 0
    for j in range(first + 1, n):
        t = tokens[j]
        if t.kind == "op" and t.text in ("(", "["):
            depth += 1
        elif t.kind == "op" and t.text in (")", "]"):
            depth -= 1
        elif depth == 0 and t.kind == "word":
            u = t.upper
            if u == "GROUP":
                # not the clause when part of "WITHIN GROUP (...)"
                prev = [
                    p
                    for p in range(j - 1, -1, -1)
                    if tokens[p].kind not in ("ws", "comment")
                ]
                if prev and tokens[prev[0]].kind == "word" and tokens[
                    prev[0]
                ].upper == "WITHIN":
                    continue
            if u in (
                "FROM",
                "WHERE",
                "GROUP",
                "HAVING",
                "ORDER",
                "LIMIT",
                "OFFSET",
                "WINDOW",
                "QUALIFY",
            ) and u not in clause_idx:
                clause_idx[u] = j
    if "FROM" not in clause_idx or "WINDOW" in clause_idx or "QUALIFY" in clause_idx:
        return tokens
    boundaries = sorted(clause_idx.values()) + [n]

    def clause_end(idx: int) -> int:
        return min(b for b in boundaries if b > idx)

    from_idx = clause_idx["FROM"]
    sel_lo = _next_code(tokens, first)
    if sel_lo < n and tokens[sel_lo].upper in ("DISTINCT", "ALL"):
        return tokens

    # group keys, resolved to EXPRESSIONS usable in the per-arg
    # subqueries' own FROM scope: ordinals resolve to their select
    # item's expression (a literal "1" key would otherwise join every
    # group to one global row — a silent wrong answer), raw expression
    # keys pass through, plain identifiers stay as column refs. A key
    # that is really a select-list ALIAS of some other expression is
    # ambiguous without the schema (the name could shadow a real
    # column, which DuckDB prefers) — those bail to the fallback.
    keys: List[str] = []
    if "GROUP" in clause_idx:
        g_idx = clause_idx["GROUP"]
        by = _next_code(tokens, g_idx)
        if by >= n or tokens[by].upper != "BY":
            return tokens
        g_end = clause_end(g_idx)
        gsel_items: List[tuple] = []
        for ilo, ihi in _split_top_commas(tokens, sel_lo, from_idx):
            seg = tokens[ilo:ihi]
            code = [
                j for j, t in enumerate(seg)
                if t.kind not in ("ws", "comment")
            ]
            expr_t = "".join(t.text for t in seg).strip()
            nm = None
            if (
                len(code) >= 2
                and seg[code[-2]].is_kw("AS")
                and seg[code[-1]].kind in ("word", "bident", "qident")
            ):
                expr_t = "".join(
                    t.text for t in seg[: code[-2]]
                ).strip()
                nm = unquote_name(seg[code[-1]]).lower()
            else:
                outn = _entropy_outer_name(seg)
                nm = outn.strip('`"').lower() if outn else None
            gsel_items.append((expr_t, nm))
        aggset_k = set(context) | {fname}

        def _groupable_expr(expr_t: str) -> bool:
            ktoks = tokenize(expr_t)
            for kk, tt in enumerate(ktoks):
                if tt.kind != "word":
                    continue
                if tt.upper in ("SELECT", "OVER"):
                    return False
                nk2 = _next_code(ktoks, kk)
                if (
                    nk2 < len(ktoks)
                    and ktoks[nk2].kind == "op"
                    and ktoks[nk2].text == "("
                    and tt.text.lower() in aggset_k
                ):
                    return False
            return True

        for term in _split_csv_text(_sql(tokens, by + 1, g_end)):
            t_strip = term.strip()
            if t_strip.upper() == "ALL":
                return tokens
            if re.fullmatch(r"\d+", t_strip):
                idx0 = int(t_strip) - 1
                if not (0 <= idx0 < len(gsel_items)):
                    return tokens
                expr_t = gsel_items[idx0][0]
            elif _plain_identifier_name(t_strip) is not None:
                nm = _plain_identifier_name(t_strip).strip('`"').lower()
                aliased = [
                    e for e, inm in gsel_items
                    if inm == nm and " ".join(e.split()).lower() != nm
                ]
                if aliased:
                    # alias key: resolve to its item's expression. The
                    # shadowing corner (the name is ALSO a real source
                    # column) errors loudly on BOTH engines — name
                    # binding is column-first, so the base query's
                    # unaggregated alias expression fails analysis,
                    # exactly like DuckDB's binder does.
                    expr_t = aliased[0]
                else:
                    expr_t = t_strip
            else:
                expr_t = t_strip  # expression key
            if not _groupable_expr(expr_t):
                return tokens
            keys.append(expr_t)

    # the target call must not appear in WHERE/GROUP (not aggregate
    # scope there); HAVING/ORDER BY occurrences are handled by hoisting
    # every aggregate call in those clauses into hidden select items so
    # the inner SELECT (where the restructure applies) carries them,
    # and the predicate/sort runs on the outer scope
    for cl in ("WHERE", "GROUP"):
        if cl in clause_idx:
            lo = clause_idx[cl]
            for t in tokens[lo : clause_end(lo)]:
                if t.kind == "word" and t.text.lower() == fname:
                    return tokens

    def _clause_has_fname(cl: str) -> bool:
        if cl not in clause_idx:
            return False
        lo = clause_idx[cl]
        return any(
            t.kind == "word" and t.text.lower() == fname
            for t in tokens[lo : clause_end(lo)]
        )

    if _clause_has_fname("HAVING") or _clause_has_fname("ORDER"):
        hoisted = _hoist_agg_having_order(
            tokens, spec, first, from_idx, clause_idx, clause_end, keys, n
        )
        if hoisted is not None:
            return hoisted
        return tokens
    if "ORDER" in clause_idx and not _entropy_order_tail_ok(
        tokens, clause_idx["ORDER"], clause_end(clause_idx["ORDER"])
    ):
        return tokens

    items = _split_top_commas(tokens, sel_lo, from_idx)
    ent_args: List[str] = []  # distinct argument SQL, in first-seen order
    arg_ids: dict = {}
    outer_items: List[str] = []
    base_items: List[str] = []
    alias_names: set = set()
    any_entropy = False
    for lo, hi in items:
        item = tokens[lo:hi]
        calls = _entropy_calls_in_item(item, fname, context)
        if calls is None:
            return tokens
        if not calls:
            name = _entropy_outer_name(item)
            if name is None:
                return tokens
            alias_names.add(name.strip('`"').lower())
            base_items.append(_sql(tokens, lo, hi))
            outer_items.append(f"__b{tag}.{name}")
            continue
        any_entropy = True
        # no OTHER aggregate may share the item (outer scope is unaggregated)
        spans = [(w, c) for w, _o, c in calls]

        def in_span(j: int) -> bool:
            return any(w <= j <= c for w, c in spans)

        for j, t in enumerate(item):
            if in_span(j) or t.kind != "word":
                continue
            nxt = _next_code(item, j)
            if (
                nxt < len(item)
                and item[nxt].text == "("
                and t.text.lower() in context
            ):
                return tokens
        parts: List[str] = []
        pos = 0
        for w, o, c in calls:
            parts.append("".join(t.text for t in item[pos:w]))
            arg_sql = _sql(item, o + 1, c)
            if spec.get("validate") and not spec["validate"](arg_sql):
                return tokens
            key = " ".join(arg_sql.split())
            if key not in arg_ids:
                arg_ids[key] = len(ent_args)
                ent_args.append(arg_sql)
            parts.append(spec["ref"](arg_ids[key]))
            pos = c + 1
        parts.append("".join(t.text for t in item[pos:]))
        outer_items.append("".join(parts).strip())
    if not any_entropy:
        return tokens
    # a group key that is really a select-list alias (of some other
    # expression) wouldn't exist in the entropy subqueries' FROM scope —
    # fall back; a key that is itself a selected bare column is fine
    for k in keys:
        if k.strip('`"').lower() in alias_names and k not in base_items:
            return tokens

    from_text = _sql(tokens, from_idx, clause_end(from_idx))
    where_body = ""
    if "WHERE" in clause_idx:
        w = clause_idx["WHERE"]
        where_body = _sql(tokens, w + 1, clause_end(w))
    group_text = (
        _sql(tokens, clause_idx["GROUP"], clause_end(clause_idx["GROUP"]))
        if "GROUP" in clause_idx
        else ""
    )
    having_text = (
        _sql(tokens, clause_idx["HAVING"], clause_end(clause_idx["HAVING"]))
        if "HAVING" in clause_idx
        else ""
    )
    tail_lo = min(
        (clause_idx[c] for c in ("ORDER", "LIMIT", "OFFSET") if c in clause_idx),
        default=n,
    )
    tail_text = _sql(tokens, tail_lo, n) if tail_lo < n else ""

    m = len(keys)
    base_cols = base_items + [
        f"({k}) AS __egk{tag}_{i}" for i, k in enumerate(keys)
    ]
    if not base_cols:
        base_cols = [f"count(*) AS __ebn{tag}"]
    base_sql = "SELECT " + ", ".join(base_cols) + " " + from_text
    if where_body:
        base_sql += " WHERE " + where_body
    if group_text:
        # rebuild from the RESOLVED key expressions — the original
        # clause may reference select-item ORDINALS (or aliases) whose
        # positions shift in the base select list once the aggregate
        # items are dropped ('GROUP BY 1, 3' over 'SELECT k1, mad(x),
        # k2' must group the base by (k1, k2), not items 1 and 3 of
        # the rebuilt list)
        base_sql += " GROUP BY " + ", ".join(f"({k})" for k in keys)
    if having_text:
        base_sql += " " + having_text

    sql = (
        "SELECT " + ", ".join(outer_items)
        + " FROM (" + base_sql + ") __b" + tag
    )
    for j, arg in enumerate(ent_args):
        sub_sql = spec["make_sub"](
            arg, j, keys, from_text, where_body, tag
        )
        if m:
            cond = " AND ".join(
                f"__b{tag}.__egk{tag}_{i} <=> "
                f"__e{tag}{j}.__egk{tag}_{i}"
                for i in range(m)
            )
            sql += f" LEFT JOIN ({sub_sql}) __e{tag}{j} ON {cond}"
        else:
            # LEFT JOIN ON true (not CROSS): an empty source makes the
            # grouped subquery return zero rows, but the global
            # aggregate still returns one row — keep it (H -> 0.0)
            sql += f" LEFT JOIN ({sub_sql}) __e{tag}{j} ON true"
    if tail_text:
        sql += " " + tail_text
    return _toks(sql)


def _entropy_make_sub(arg, j, keys, from_text, where_body, tag="e"):
    """Two chained hash aggregates: per-(group, value) counts, then the
    Shannon identity over the counts. entropy(DISTINCT x) counts every
    distinct value once (frequency 1 -> H = log2(n_distinct), DuckDB
    semantics) — the same grouped plan, constant count."""
    m = len(keys)
    arg, is_distinct = _split_distinct_prefix(arg)
    cnt = "CAST(1 AS BIGINT)" if is_distinct else "count(*)"
    inner_cols = [f"({k}) AS __egk{tag}_{i}" for i, k in enumerate(keys)]
    inner_cols += [f"({arg}) AS __evv", f"{cnt} AS __ec"]
    inner_where = f"({arg}) IS NOT NULL"
    if where_body:
        inner_where = f"({where_body}) AND " + inner_where
    inner_group = ", ".join(str(i) for i in range(1, m + 2))
    inner_sql = (
        "SELECT " + ", ".join(inner_cols) + " " + from_text
        + " WHERE " + inner_where + " GROUP BY " + inner_group
    )
    outer_cols = [f"__egk{tag}_{i}" for i in range(m)]
    outer_group = (
        " GROUP BY " + ", ".join(str(i) for i in range(1, m + 1))
        if m else ""
    )
    return (
        "SELECT "
        + ", ".join(outer_cols + [f"{_ENTROPY_H_SQL} AS __ev{tag}_{j}"])
        + " FROM (" + inner_sql + ") __ef" + outer_group
    )


_ENTROPY_SPEC = {
    "name": "entropy",
    "tag": "e",
    "context": _ENTROPY_AGG_CONTEXT,
    "make_sub": _entropy_make_sub,
    # empty group -> 0.0 (the grouped subquery drops all-NULL groups)
    "ref": lambda j: f"coalesce(__ee{j}.__eve_{j}, CAST(0 AS DOUBLE))",
}


def _mad_make_sub(arg, j, keys, from_text, where_body, tag="m"):
    """mad(x) = median(abs(x - median(x))) per group: a grouped median
    subquery joined back to the raw values, then a second grouped
    median — both built-in percentile aggregates with map-side
    partials, no per-group column materialization (the collect_list
    template fallback gathers one group's values in one buffer)."""
    m = len(keys)
    arg, is_distinct = _split_distinct_prefix(arg)
    where = f" WHERE {where_body}" if where_body else ""
    # mode 1: temporal micros (floor+0.5 on both medians); mode 2:
    # DECIMAL unscaled domain (truncate toward zero on both medians,
    # DECIMAL(w,s) result — r13)
    dmode, dcore, dwrap = _mad_mode_and_wrap(arg)

    def _dom(expr: str) -> str:
        if dmode == 1:
            return _mad_round_sql(expr)
        if dmode == 2:
            return f"CAST(CAST(({expr}) AS BIGINT) AS DOUBLE)"
        return expr

    val = f"CAST(({dcore}) AS DOUBLE)"
    dev_cols = [f"({k}) AS __egk{tag}_{i}" for i, k in enumerate(keys)]
    # mad(DISTINCT x): dedupe (group, value) pairs BEFORE either
    # median — same two-phase grouped plan over the distinct multiset
    dev_sql = (
        "SELECT " + ("DISTINCT " if is_distinct else "")
        + ", ".join(dev_cols + [f"{val} AS __mv"])
        + " " + from_text + where
    )
    med_group = (
        " GROUP BY " + ", ".join(str(i) for i in range(1, m + 1))
        if m else ""
    )
    if is_distinct:
        med_agg = _dom("median(__mv)")
        med_sql = (
            "SELECT "
            + ", ".join(
                [f"__egk{tag}_{i}" for i in range(m)]
                + [f"{med_agg} AS __med"]
            )
            + f" FROM ({dev_sql}) __mdd{tag}" + med_group
        )
    else:
        med_cols = [f"({k}) AS __egk{tag}_{i}" for i, k in enumerate(keys)]
        med_agg = _dom(f"median({val})")
        med_sql = (
            "SELECT " + ", ".join(med_cols + [f"{med_agg} AS __med"])
            + " " + from_text + where + med_group
        )
    on = (
        " AND ".join(
            f"__mf.__egk{tag}_{i} <=> __mm.__egk{tag}_{i}"
            for i in range(m)
        )
        if m else "true"
    )
    sel = [
        f"__mf.__egk{tag}_{i} AS __egk{tag}_{i}" for i in range(m)
    ]
    group = (
        " GROUP BY " + ", ".join(
            f"__mf.__egk{tag}_{i}" for i in range(m)
        )
        if m else ""
    )
    outer_agg = _dom("median(abs(__mf.__mv - __mm.__med))")
    if dwrap is not None:
        outer_agg = dwrap(outer_agg)
    return (
        "SELECT "
        + ", ".join(sel + [f"{outer_agg} AS __ev{tag}_{j}"])
        + f" FROM ({dev_sql}) __mf JOIN ({med_sql}) __mm ON {on}"
        + group
    )


_MAD_SPEC = {
    "name": "mad",
    "tag": "m",
    # make_dt_interval guards the temporal overload (the call-shims
    # pass wraps its epoch-micros mad in make_dt_interval before this
    # runs)
    "context": _ENTROPY_AGG_CONTEXT | {"make_dt_interval"},
    "make_sub": _mad_make_sub,
    # all-NULL group -> NULL, like DuckDB (no coalesce)
    "ref": lambda j: f"__em{j}.__evm_{j}",
    "validate": lambda arg: not _static_temporal_sql(arg),
}


# Aggregate names whose presence as a NON-window call in a select list
# marks a global-aggregate query (no GROUP BY needed): the window-mad
# restructure must bail there, since wrapping the FROM would re-stage
# the aggregate over raw rows.
_MADW_AGG_NAMES = frozenset({
    "count", "count_if", "sum", "avg", "mean", "min", "max", "median",
    "mode", "product", "entropy", "mad", "stddev", "stddev_pop",
    "stddev_samp", "std", "variance", "var_pop", "var_samp", "skewness",
    "kurtosis", "corr", "covar_pop", "covar_samp", "first", "last",
    "first_value", "last_value", "any_value", "arbitrary", "bool_and",
    "bool_or", "quantile", "quantile_cont", "quantile_disc",
    "percentile", "percentile_cont", "percentile_disc", "collect_list",
    "collect_set", "array_agg", "list", "listagg", "string_agg",
    "group_concat", "histogram", "bit_and", "bit_or", "bit_xor",
    "arg_min", "arg_max", "min_by", "max_by",
})

_MADW_TEMPORAL_RE = re.compile(
    r"^\s*0\s*,\s*0\s*,\s*0\s*,\s*mad\s*\((.*)\)\s*/\s*1000000\.0D\s*$",
    re.IGNORECASE | re.DOTALL,
)


def _from_wrap(tokens: List[Token], word: str, classify, lower, alias: str):
    """Restructure one SELECT whose window calls cannot lower in place:
    the FROM(+WHERE) becomes a subquery projecting every source column
    plus the helper columns each candidate call needs, and the outer
    scope computes the call from them (window functions cannot nest).
    ``classify(tokens, i)`` judges the word at ``i`` in the select list
    and the ORDER BY/LIMIT tail: None (scan on), ``"bail"`` (leave the
    statement), or ``(next index, candidate or None)`` with candidate
    ``(start, end, ...)``; ``lower(k, candidate)`` returns ``(helper
    select items, helper names, outer expression)``. Only select-list
    candidates lower: Spark rejects window functions inside ORDER BY
    outright (both before and after this rewrite), so the tail is
    scanned only for bails. Shared bails: GROUP BY / HAVING / WINDOW /
    QUALIFY clauses, no FROM, qualified (dotted) references outside the
    FROM region and subqueries (the wrap would unbind them). Set
    operations restructure per branch; a WITH statement descends to its
    main SELECT. Statements without ``word`` and OVER pass through."""
    n = len(tokens)
    if not any(t.kind == "word" and t.text.lower() == word for t in tokens):
        return tokens
    if not any(t.kind == "word" and t.upper == "OVER" for t in tokens):
        return tokens
    first = _next_code(tokens, -1)
    if first >= n or tokens[first].upper not in ("WITH", "SELECT"):
        return tokens
    from_idx = setop = None
    tail_idx = n
    bail = False
    depth = 0
    for j in range(first + 1, n):
        t = tokens[j]
        if t.kind == "op" and t.text in ("(", "["):
            depth += 1
        elif t.kind == "op" and t.text in (")", "]"):
            depth -= 1
        elif depth == 0 and t.kind == "word":
            u = t.upper
            if tokens[first].upper == "WITH":
                if u == "SELECT":
                    return tokens[:j] + _from_wrap(
                        tokens[j:], word, classify, lower, alias
                    )
            elif u in ("UNION", "EXCEPT", "INTERSECT"):
                setop = j
                break
            elif tail_idx < n:
                continue
            elif u == "FROM" and from_idx is None:
                from_idx = j
            elif u in ("GROUP", "HAVING", "WINDOW", "QUALIFY"):
                p = j - 1
                while p >= 0 and tokens[p].kind in ("ws", "comment"):
                    p -= 1
                if not (u == "GROUP" and p >= 0 and tokens[p].upper == "WITHIN"):
                    bail = True
            elif u in ("ORDER", "LIMIT", "OFFSET") and from_idx is not None:
                tail_idx = j
    if setop is not None:
        k = _next_code(tokens, setop)
        if k < n and tokens[k].upper in ("ALL", "DISTINCT"):
            k = _next_code(tokens, k)
        if k < n and tokens[k].upper == "BY":  # UNION BY NAME
            k = _next_code(tokens, _next_code(tokens, k))
        return (
            _from_wrap(tokens[:setop], word, classify, lower, alias)
            + tokens[setop:k]
            + _from_wrap(tokens[k:], word, classify, lower, alias)
        )
    if tokens[first].upper == "WITH" or bail or from_idx is None:
        return tokens
    sel_start = _next_code(tokens, first)
    distinct = ""
    if sel_start < n and tokens[sel_start].upper in ("DISTINCT", "ALL"):
        distinct = tokens[sel_start].upper + " "
        sel_start = _next_code(tokens, sel_start)

    def scan(lo: int, hi: int):
        """Candidates in [lo, hi), or None on a bail. Subquery parens
        are skipped (their scopes were processed innermost-first)."""
        cands = []
        i = lo
        while i < hi:
            t = tokens[i]
            if t.kind == "op" and t.text == "(":
                k = _next_code(tokens, i)
                if k < n and tokens[k].kind == "word" and tokens[k].upper in (
                    "SELECT", "WITH", "FROM",
                ):
                    i = _matching_paren(tokens, i) + 1
                    continue
            elif t.kind == "op" and t.text == ".":
                # engine-emitted lambda-var dots (__rb.x and friends)
                # are scope-free under the wrap (r10c, see
                # _lambda_var_dot) — only table-qualified refs bail
                if not _lambda_var_dot(tokens, i):
                    return None
            elif t.kind == "word":
                verdict = classify(tokens, i)
                if verdict == "bail":
                    return None
                if verdict is not None:
                    i, cand = verdict
                    if cand is not None:
                        cands.append(cand)
                    continue
            i += 1
        return cands

    cands = scan(sel_start, from_idx)
    if not cands or scan(tail_idx, n) is None:
        return tokens
    helpers: List[str] = []
    helper_names: List[str] = []
    outer_by_start: Dict[int, str] = {}
    for k, cand in enumerate(cands):
        helper, names, outer = lower(k, cand)
        helpers.append(helper)
        helper_names += names
        outer_by_start[cand[0]] = outer
    outer_sel, moved_items = _relocate_nonwindow_items(
        tokens, sel_start, from_idx,
        outer_by_start, {c[0]: c[1] for c in cands}, helper_names,
    )
    inner_sql = (
        "SELECT *, "
        + ", ".join(helpers + moved_items)
        + " "
        + _sql(tokens, from_idx, tail_idx)
    )
    out_sql = "SELECT " + distinct + outer_sel + f" FROM ({inner_sql}) {alias}"
    tail = "".join(t.text for t in tokens[tail_idx:])
    if tail.strip():
        out_sql += " " + tail
    return _toks(out_sql)


def _has_dot(tokens: List[Token], lo: int, hi: int) -> bool:
    """A table-qualified (non lambda-variable) dot in ``tokens[lo:hi]``."""
    return any(
        tokens[k].kind == "op" and tokens[k].text == "."
        and not _lambda_var_dot(tokens, k)
        for k in range(lo, hi)
    )


def _madw_classify(tokens: List[Token], i: int):
    """``_from_wrap`` candidate test for ``mad(x) OVER w`` with a
    FULL-PARTITION frame (and the hinted temporal
    ``make_dt_interval(0,0,0, mad(x)/1e6) OVER w``); a non-window
    aggregate call (a global-aggregate query, which the wrap would
    re-stage over raw rows) bails."""
    low = tokens[i].text.lower()
    if low in ("mad", "make_dt_interval"):
        call = _call_site(tokens, i)
        if call is not None and call.plain and call.spec is not None:
            arg = _sql(tokens, call.p_open + 1, call.close)
            temporal = low == "make_dt_interval"
            if temporal:
                m = _MADW_TEMPORAL_RE.match(arg)
                if not m:
                    return None
                arg = m.group(1)
            # DISTINCT window aggregates can't lower to median(): keep
            # the in-place fold
            full = call.spec.full and not _DISTINCT_PREFIX_RE.match(arg)
            # the spec text survives in the OUTER scope (and a
            # non-lowered call entirely so); dotted names there would
            # unbind under the subquery wrap
            if _has_dot(tokens, call.close if full else i, call.end):
                return "bail"
            cand = (i, call.end, arg, call.spec.partition, temporal)
            return call.end, cand if full else None
    if low in _MADW_AGG_NAMES:
        p_open = _next_code(tokens, i)
        if p_open < len(tokens) and tokens[p_open].text == "(":
            after = _next_code(tokens, _matching_paren(tokens, p_open))
            if not (after < len(tokens) and tokens[after].is_kw("OVER")):
                return "bail"
    return None


def _madw_lower(k: int, cand):
    """The frame median is partition-constant, so
    ``mad(x) OVER w == median(abs(x - median(x) OVER w)) OVER w``: the
    wrap projects the argument and its window median, the outer scope
    the deviation median. Spark's median window aggregate rejects ORDER
    BY / explicit frames; for a full-partition frame they are inert, so
    both medians use the PARTITION BY clause alone. The temporal form
    and the epoch-micros shim round both medians to DuckDB's integer
    micros (``_mad_round_sql``)."""
    _start, _end, arg, pspec, temporal = cand
    mv, md = f"__wmv{k}", f"__wmed{k}"
    med = f"median(({arg})) OVER ({pspec})"
    dev = f"median(abs({mv} - {md})) OVER ({pspec})"
    if temporal or _mad_integer_domain(arg):
        med = _mad_round_sql(med)
        dev = _mad_round_sql(dev)
    if temporal:
        dev = f"make_dt_interval(0, 0, 0, {dev} / 1000000.0D)"
    return f"({arg}) AS {mv}, {med} AS {md}", [mv, md], dev


def _rewrite_mad_window(tokens: List[Token]) -> List[Token]:
    """Lower ``mad(x) OVER w`` with a FULL-PARTITION frame onto built-in
    window medians through the SELECT-scope FROM-wrap (``_from_wrap``,
    ``_madw_classify``, ``_madw_lower``): O(n log n) where the in-place
    fold is O(n·frame). Shapes the wrap bails on keep the in-place
    lowering (``_rewrite_mad_window_inplace``)."""
    return _from_wrap(tokens, "mad", _madw_classify, _madw_lower, "__madw")


def _entw_classify(tokens: List[Token], i: int):
    """``_from_wrap`` candidate test for ``entropy(x) OVER (...
    ORDER BY ...)`` with a RUNNING RANGE frame (the ORDER-BY default,
    or the explicit spelling); DISTINCT arguments keep the deduped
    fold."""
    if tokens[i].text.lower() != "entropy":
        return None
    call = _call_site(tokens, i)
    if call is None or not call.plain or call.spec is None:
        return None
    spec = call.spec
    arg = _sql(tokens, call.p_open + 1, call.close)
    if _has_dot(tokens, i, call.end):
        # the spec (and a call that is not a candidate, whole) stays in
        # the outer scope, where a dotted name would unbind
        return "bail"
    if (
        spec.has_order
        and spec.frame in ("", "RANGE BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW")
        and not _DISTINCT_PREFIX_RE.match(arg)
    ):
        return call.end, (i, call.end, arg, spec)
    return call.end, None


def _entw_lower(k: int, cand):
    """O(n log n) telescoping decomposition of a running entropy
    instead of the O(n^2) collect_list frame fold (r10c — the fold
    built an O(i) prefix array + histogram per row; 20 s at sf0.1 vs
    DuckDB's segment-tree 0.2 s):

        S_i = sum over frame rows j of
                k_j*log2(k_j) - (k_j-1)*log2(k_j-1)
        entropy_i = log2(n_i) - S_i / n_i

    where k_j = ROW_NUMBER() OVER (PARTITION BY <keys>, x ORDER BY
    <order>) — the occurrence index of row j's value. The per-value
    deltas telescope to c*log2(c) for EVERY tie order because the
    RANGE frame includes whole peer groups (this is exactly why
    explicit ROWS running frames are excluded: a ROWS frame can cut a
    peer group mid-value and the row_number tie order need not agree
    with the frame's). S accumulates in DECIMAL(38,18) so the prefix
    sum itself adds no float error; the residual piece-rounding error
    is ~1e-14 absolute, inside the fold's own cross-engine noise.
    NULLs contribute delta 0 and are excluded from n (DuckDB entropy
    ignores NULLs); an all-NULL prefix renders 0.0 like the fold."""
    _start, _end, arg, spec = cand
    ev, ek = f"__wev{k}", f"__wek{k}"
    inner_part = (
        f"{spec.partition}, ({arg})" if spec.partition
        else f"PARTITION BY ({arg})"
    )
    helper = (
        f"({arg}) AS {ev}, ROW_NUMBER() OVER "
        f"({inner_part} {spec.order}) AS {ek}"
    )
    nn = f"COUNT({ev}) OVER ({spec.text})"
    delta = (
        f"(CASE WHEN {ev} IS NULL OR {ek} <= 1 THEN "
        f"CAST(0 AS DECIMAL(38, 18)) ELSE CAST("
        f"{ek} * log2(CAST({ek} AS DOUBLE)) - "
        f"({ek} - 1) * log2(CAST({ek} - 1 AS DOUBLE)) "
        f"AS DECIMAL(38, 18)) END)"
    )
    s_sum = f"SUM({delta}) OVER ({spec.text})"
    outer = (
        f"(CASE WHEN {nn} = 0 THEN 0.0D ELSE "
        f"log2(CAST({nn} AS DOUBLE)) - CAST({s_sum} AS DOUBLE) "
        f"/ {nn} END)"
    )
    return helper, [ev, ek], outer


def _rewrite_entropy_window_running(tokens: List[Token]) -> List[Token]:
    """Lower running-RANGE ``entropy(x) OVER w`` through the SELECT-scope
    FROM-wrap (``_from_wrap``, ``_entw_classify``, ``_entw_lower``)."""
    return _from_wrap(
        tokens, "entropy", _entw_classify, _entw_lower, "__entw"
    )


def _relocate_nonwindow_items(
    tokens: List[Token],
    sel_start: int,
    from_idx: int,
    outer_by_start: Dict[int, str],
    ends: Dict[int, int],
    helper_names: List[str],
):
    """Select-list assembly for the window FROM-wraps: split at
    top-level commas; items that contain NO window call and end in a
    top-level ``AS alias`` MOVE into the wrap's inner projection —
    evaluated BELOW the Window nodes. A Project above WindowExec
    evaluates outside whole-stage codegen, and HOF-bound render
    templates measured 20x slower there (r10c: q66's dynamic-round
    column was 0.6 s below the window, 11.6 s above on the same
    rows). Items referencing a kept item's alias (lateral refs into a
    window alias) stay outer. Moved aliases join ``helper_names`` so
    a bare ``*`` item excludes them. Returns
    (outer_select_text, moved_item_texts)."""
    items = []
    d = 0
    a = sel_start
    i = sel_start
    while i < from_idx:
        t = tokens[i]
        if t.kind == "op" and t.text in ("(", "["):
            d += 1
        elif t.kind == "op" and t.text in (")", "]"):
            d -= 1
        elif d == 0 and t.kind == "op" and t.text == ",":
            items.append((a, i))
            a = i + 1
        i += 1
    items.append((a, from_idx))

    def item_alias(lo: int, hi: int):
        code = [
            (k, tokens[k])
            for k in range(lo, hi)
            if tokens[k].kind not in ("ws", "comment")
        ]
        if len(code) < 3:
            return None
        d2 = 0
        as_at = None
        for pos, (k, t) in enumerate(code):
            if t.kind == "op" and t.text in ("(", "["):
                d2 += 1
            elif t.kind == "op" and t.text in (")", "]"):
                d2 -= 1
            elif d2 == 0 and t.is_kw("AS"):
                as_at = pos
        if (
            as_at is not None
            and as_at == len(code) - 2
            and code[-1][1].kind == "word"
        ):
            return code[-1][1].text
        return None

    kept_aliases: set = set()
    plan = []
    for lo, hi in items:
        code = [
            tokens[k]
            for k in range(lo, hi)
            if tokens[k].kind not in ("ws", "comment")
        ]
        is_star = len(code) == 1 and code[0].kind == "op" and code[0].text == "*"
        has_cand = any(lo <= s < hi for s in outer_by_start)
        has_over = any(t.is_kw("OVER") for t in code)
        alias = item_alias(lo, hi)
        movable = (
            not is_star and not has_cand and not has_over
            and alias is not None
        )
        plan.append((lo, hi, is_star, movable, alias))
        if not movable and alias is not None:
            kept_aliases.add(alias.lower())

    def rebuild_span(lo: int, hi: int) -> str:
        parts = []
        j = lo
        while j < hi:
            if j in outer_by_start:
                parts.append(outer_by_start[j])
                j = ends[j]
                continue
            parts.append(tokens[j].text)
            j += 1
        return "".join(parts)

    # an alias REFERENCED from any other select item stays outer with
    # its item: a moved item is renamed inner (see below), so sibling
    # lateral refs would unbind; keeping the item outer lets Spark's
    # lateral-column-alias resolution reproduce DuckDB's precedence
    # (real column shadows the alias) without a catalog
    referenced: set = set()
    for b_lo, b_hi, _, _, b_alias in plan:
        if b_alias is None:
            continue
        bl = b_alias.lower()
        for a_lo, a_hi, *_ in plan:
            if (a_lo, a_hi) == (b_lo, b_hi):
                continue
            if any(
                t.kind == "word" and t.text.lower() == bl
                for t in tokens[a_lo:a_hi]
            ):
                referenced.add(bl)
                break
    moves = [
        movable
        and alias.lower() not in referenced
        and not any(
            t.kind == "word" and t.text.lower() in kept_aliases
            for t in tokens[lo:hi]
        )
        for lo, hi, is_star, movable, alias in plan
    ]
    # moved items are renamed to reserved __mv{n} names in the inner
    # projection and re-aliased in the outer select — a user alias
    # that shadows a source column would otherwise make the inner
    # scope project two same-named columns and the outer reference
    # ambiguous (ADVICE r10 high finding). Star exclusion lists the
    # reserved names (the inner-* source columns keep flowing).
    mv_names: Dict[int, str] = {}
    for (lo, hi, is_star, movable, alias), mv in zip(plan, moves):
        if mv:
            name = f"__mv{len(helper_names)}"
            mv_names[lo] = name
            helper_names.append(name)
    outer_items: List[str] = []
    moved: List[str] = []
    for (lo, hi, is_star, movable, alias), mv in zip(plan, moves):
        if mv:
            # strip the trailing top-level "AS alias" (item_alias
            # verified the shape) and re-alias to the reserved name
            code_idx = [
                k
                for k in range(lo, hi)
                if tokens[k].kind not in ("ws", "comment")
            ]
            body_end = code_idx[-2]  # index of the AS keyword
            expr_text = "".join(
                tokens[k].text for k in range(lo, body_end)
            ).strip()
            name = mv_names[lo]
            moved.append(f"{expr_text} AS {name}")
            outer_items.append(f"{name} AS {tokens[code_idx[-1]].text}")
            continue
        if is_star:
            outer_items.append(
                f"* EXCEPT ({', '.join(helper_names)})"
                if helper_names
                else "*"
            )
            continue
        outer_items.append(rebuild_span(lo, hi).strip())
    return ", ".join(outer_items), moved


# the engine's OWN struct-typed lambda variable names (the only names
# that legitimately precede a '.' scope-free). A bare ``__`` prefix
# over-matched: ``__``-prefixed identifiers are legal user table/CTE
# aliases in DuckDB, and a genuine qualified ref like ``__t.col`` must
# keep bailing the subquery wraps (ADVICE r10 medium). New bound
# templates that dot a fresh variable family must extend this regex.
_ENGINE_DOT_VAR_RE = re.compile(
    r"^__(?:fa|rb|rk|po|mf|vc|sb|pt|ic|mm|lb|fmt|rng|pf|fq"
    r"|g\d+|s\d*|r\d+|q[a-z]?\d*|arr\d*|harr\d*|hv\w*)$"
)


def _lambda_var_dot(tokens: List[Token], k: int) -> bool:
    """True when the '.' at index k is a struct-field access on an
    engine-emitted lambda/struct variable (``__rb.x``, ``__fa.v``,
    ``__fmt.__g0``…): such references are scope-free — a subquery
    wrap cannot unbind them, unlike table-qualified column refs.
    Matches the engine's actual generated variable families only, so
    user ``__``-prefixed aliases still bail the rewrites."""
    p = k - 1
    while p >= 0 and tokens[p].kind in ("ws", "comment"):
        p -= 1
    return (
        p >= 0
        and tokens[p].kind == "word"
        and bool(_ENGINE_DOT_VAR_RE.match(tokens[p].text))
    )


def _innermost_first(rewrite, **kwargs):
    """The pass applying ``rewrite(tokens, **kwargs)`` inside every
    parenthesized scope, innermost first, then at the top level."""

    @functools.wraps(rewrite)
    def run(tokens: List[Token]) -> List[Token]:
        out: List[Token] = []
        i = 0
        n = len(tokens)
        while i < n:
            tok = tokens[i]
            if tok.kind == "op" and tok.text == "(":
                close = _matching_paren(tokens, i)
                if close > i:
                    out.append(tok)
                    out.extend(run(tokens[i + 1 : close]))
                    out.append(tokens[close])
                    i = close + 1
                    continue
            out.append(tok)
            i += 1
        return rewrite(out, **kwargs)

    return run


def _named_windows(tokens: List[Token]) -> dict:
    """``lowercase name -> spec tokens`` for every ``WINDOW name AS
    (spec)`` definition in the statement, in any scope. A name defined
    twice with different specs, or defined on top of another named
    window, maps to None (left unresolved)."""
    out: dict = {}
    n = len(tokens)
    for i, t in enumerate(tokens):
        if not t.is_kw("WINDOW"):
            continue
        j = i
        while True:  # name AS (spec) [, name AS (spec) ...]
            nm = _next_code(tokens, j)
            as_kw = _next_code(tokens, nm)
            op = _next_code(tokens, as_kw)
            if not (
                op < n
                and tokens[nm].kind in ("word", "bident", "qident")
                and tokens[as_kw].is_kw("AS")
                and tokens[op].text == "("
            ):
                break
            close = _matching_paren(tokens, op)
            body = tokens[op + 1 : close]
            head = body[_next_code(body, -1) :][:1]
            plain = not head or head[0].is_kw(
                "PARTITION", "ORDER", "ROWS", "RANGE", "GROUPS"
            )
            key = unquote_name(tokens[nm]).lower()
            same = key not in out or (
                out[key] is not None
                and _sql(out[key], 0, len(out[key])) == _sql(body, 0, len(body))
            )
            out[key] = body if plain and same else None
            j = _next_code(tokens, close)
            if not (j < n and tokens[j].text == ","):
                break
    return out


# ordered-set aggregates whose calls carry a WITHIN GROUP key
_WITHIN_GROUP_FNS = frozenset({"percentile_cont", "percentile_disc"})


class _CallSite:
    """One ``fn(args) [WITHIN GROUP (ORDER BY key)] [OVER (spec) | OVER
    name]`` call site (``_call_site``). ``within`` is ``(key text,
    DISTINCT)`` for an ascending WITHIN GROUP key, else None; ``spec``
    (parsed on first use) is None without OVER or for an unresolved
    window name; ``end`` is the index past the call. ``prev`` is the
    code token before the name; ``plain`` is False for a dotted name
    and for a WITHIN GROUP on a name outside ``_WITHIN_GROUP_FNS`` (the
    call then ends at its ``)``); ``in_py_udf`` is True inside a Python
    UDF's arguments (see ``_PY_UDF_FNS``). A call shim
    (``_lower_shim``) sees its arguments already lowered: ``inner``,
    their top-level ``spans`` in it and their texts ``args``."""

    def __init__(self, tokens, i, p_open, close, prev, in_py_udf):
        self.tokens = tokens
        self.name = tokens[i].text.lower()
        self.start, self.p_open, self.close, self.end = i, p_open, close, close + 1
        self.prev = prev
        self.plain = not (prev is not None and prev.kind == "op" and prev.text == ".")
        self.in_py_udf = in_py_udf
        self.within: Optional[tuple] = None
        self.over = False
        self.spec_body: Optional[List[Token]] = None
        self.inner: Optional[List[Token]] = None
        self.spans: Optional[list] = None
        self.args: Optional[tuple] = None

    @functools.cached_property
    def spec(self) -> Optional[_WinSpec]:
        return None if self.spec_body is None else _parse_spec(self.spec_body)

    def arg_tokens(self) -> List[Token]:
        return self.tokens[self.p_open + 1 : self.close]

    def arg_toks(self, k: int) -> List[Token]:
        """The lowered tokens of argument ``k``."""
        return self.inner[self.spans[k][0] : self.spans[k][1]]

    def code(self, k: int) -> List[Token]:
        """The lowered code tokens (no whitespace or comments) of
        argument ``k``."""
        return [t for t in self.arg_toks(k) if t.kind not in ("ws", "comment")]


def _call_site(tokens: List[Token], i: int, windows=None, in_py_udf=False):
    """The call site whose function name is ``tokens[i]``, or None when
    no ``(`` follows it. ``windows`` (a callable returning
    ``_named_windows`` of the whole statement) resolves ``OVER name``;
    without it a named window stays unresolved."""
    n = len(tokens)
    p = i - 1
    while p >= 0 and tokens[p].kind in ("ws", "comment"):
        p -= 1
    p_open = _next_code(tokens, i)
    if not (p_open < n and tokens[p_open].kind == "op" and tokens[p_open].text == "("):
        return None
    close = _matching_paren(tokens, p_open)
    site = _CallSite(
        tokens, i, p_open, close, tokens[p] if p >= 0 else None, in_py_udf
    )
    after = _next_code(tokens, close)
    if after < n and tokens[after].is_kw("WITHIN"):
        g_kw = _next_code(tokens, after)
        g_open = _next_code(tokens, g_kw)
        if not (
            site.name in _WITHIN_GROUP_FNS
            and g_open < n
            and tokens[g_kw].is_kw("GROUP")
            and tokens[g_open].text == "("
        ):
            site.plain = False
            return site
        g_close = _matching_paren(tokens, g_open)
        code = [
            t for t in tokens[g_open + 1 : g_close]
            if t.kind not in ("ws", "comment")
        ]
        if len(code) >= 3 and code[0].is_kw("ORDER") and code[1].is_kw("BY"):
            key = code[2:]
            distinct = bool(key) and key[0].is_kw("DISTINCT")
            key = key[1:] if distinct else key
            desc = False
            while key and key[-1].is_kw("ASC", "DESC", "NULLS", "FIRST", "LAST"):
                desc = desc or key[-1].is_kw("DESC")
                key.pop()
            if key and not desc:
                site.within = ("".join(t.text for t in key).strip(), distinct)
        site.end = g_close + 1
        after = _next_code(tokens, g_close)
    if after < n and tokens[after].is_kw("OVER"):
        site.over = True
        site.spec_body, site.end = _over_spec(tokens, after, windows)
    return site


def _over_spec(tokens: List[Token], k: int, windows=None):
    """``(spec body, end)`` for the OVER at ``tokens[k]``: the inline
    spec's tokens, or a window name's resolved through ``windows`` (a
    callable returning ``_named_windows``); None when unresolved.
    ``end`` is the index past the spec."""
    n = len(tokens)
    sp = _next_code(tokens, k)
    if sp < n and tokens[sp].kind == "op" and tokens[sp].text == "(":
        end = _matching_paren(tokens, sp) + 1
        return tokens[sp + 1 : end - 1], end
    body = None
    if sp < n and windows is not None and tokens[sp].kind in (
        "word", "bident", "qident",
    ):
        body = windows().get(unquote_name(tokens[sp]).lower())
    return body, sp + 1


def _lazy_windows(tokens: List[Token]):
    """A callable computing ``_named_windows(tokens)`` once, on first
    use."""
    cache: list = []

    def windows() -> dict:
        if not cache:
            cache.append(_named_windows(tokens))
        return cache[0]

    return windows


def _lower_calls(tokens: List[Token], names, lower) -> List[Token]:
    """Replace every call site of ``names`` (of every function when
    None) by ``lower(call, walk)``: SQL text or a token list, optionally
    as ``(replacement, end)`` to end at another index than past the
    call's ``)``; None keeps the call and scans on into its arguments.
    ``walk(toks, in_py_udf)`` applies the same lowering to a token run,
    for a lowering that rewrites its own arguments first. Each call
    site carries whether it sits inside a Python UDF's arguments, and
    named windows resolve against the statement's WINDOW definitions."""
    windows = _lazy_windows(tokens)

    def walk(toks: List[Token], in_py_udf: bool = False) -> List[Token]:
        out: List[Token] = []
        i = 0
        n = len(toks)
        udf_close = -1  # the ')' of the Python-UDF call being scanned
        while i < n:
            t = toks[i]
            if t.kind == "word":
                low = t.text.lower()
                hit = names is None or low in names
                call = (
                    _call_site(toks, i, windows, in_py_udf or i < udf_close)
                    if hit or low in _PY_UDF_FNS
                    else None
                )
                if call is not None and low in _PY_UDF_FNS:
                    udf_close = max(udf_close, call.close)
                repl = lower(call, walk) if hit and call is not None else None
                if repl is not None:
                    repl, i = (
                        repl if isinstance(repl, tuple) else (repl, call.close + 1)
                    )
                    out.extend(_toks(repl) if isinstance(repl, str) else repl)
                    continue
            out.append(t)
            i += 1
        return out

    return walk(tokens)


def _lower_sites(tokens: List[Token], trigger, lower) -> List[Token]:
    """Call ``lower(tokens, i, out)`` at every word or operator whose
    lowercase text is in ``trigger``: it appends its replacement to
    ``out`` and returns the index to resume at, or returns None to keep
    the token. ``tokens`` itself comes back when nothing was lowered."""
    out: List[Token] = []
    lowered = False
    i = 0
    n = len(tokens)
    while i < n:
        t = tokens[i]
        if t.kind in ("word", "op") and t.text.lower() in trigger:
            j = lower(tokens, i, out)
            if j is not None:
                i, lowered = j, True
                continue
        out.append(t)
        i += 1
    return out if lowered else tokens


def _rewrite_mad_window_inplace(tokens: List[Token]) -> List[Token]:
    """Lower every ``mad(x) OVER (spec)`` the full-partition restructure
    left behind — bounded ROWS/RANGE and running frames, plus
    full-partition shapes inside statements the restructure bailed on
    (GROUP BY, dotted refs, global aggregates, named windows) — IN
    PLACE: no statement restructure, works in any scope. Also lowers
    the hinted temporal form ``make_dt_interval(0,0,0, mad(x)/1e6) OVER
    (spec)`` and ``mad(DISTINCT x) OVER w`` (DuckDB dedupes the frame;
    Spark rejects DISTINCT window aggregates outright). RUNNING and long
    bounded trailing frames take the streaming order-statistics core
    when the statement-level gate allows it, every other frame the
    O(frame)-per-row fold (``_mad_window_template``). Pass-through
    (loud): EXCLUDE modes other than NO OTHERS."""
    shared_prefix = _shared_window_prefix(tokens)

    def lower(call: _CallSite, walk):
        if not call.plain or call.spec is None or call.spec.exclude:
            return None
        arg = "".join(t.text for t in walk(call.arg_tokens()))
        temporal = call.name == "make_dt_interval"
        if temporal:
            m = _MADW_TEMPORAL_RE.match(arg)
            if not m:
                return None
            arg = m.group(1)
        core, distinct = _split_distinct_prefix(arg)
        return _streaming_or_none(
            "mad", core, call.spec, shared_prefix, distinct, temporal=temporal
        ) or _mad_window_template(core, call.spec.text, temporal, distinct), call.end

    return _lower_calls(tokens, ("mad", "make_dt_interval"), lower)


def _rewrite_mad_fallback_template(tokens: List[Token]) -> List[Token]:
    """Lower every non-window ``mad(...)`` call the grouped two-phase
    plan could NOT lift to the pure built-in collect_list template
    (``_mad_template``), which mixes freely with other aggregates and
    stays JVM-side. Runs AFTER the restructure passes, so only genuine
    fallback shapes (DISTINCT selects, nested scopes the restructure
    bailed on) reach it; window calls belong to the passes before."""

    def lower(call: _CallSite, walk):
        if not call.plain or call.over:
            return None
        return _mad_template("".join(t.text for t in walk(call.arg_tokens()))), call.end

    return _lower_calls(tokens, ("mad",), lower)


def _rewrite_ent_window_streaming(tokens: List[Token]) -> List[Token]:
    """Lower ``entropy(x) OVER (spec)`` onto the streaming count-map
    core EARLY — before the running-RANGE telescoping restructure. A
    streamed site keeps the statement's shared (PARTITION BY, ORDER BY)
    prefix intact, where the telescoping rewrite introduces a
    ``PARTITION BY <keys>, x`` spec that closes the shared-prefix gate
    for every LATER streaming site (r13: q67's quantile_disc/histogram
    frames all fell back to folds because its running entropy
    telescoped first). Non-streamable shapes (no static type, mixed
    prefixes, full partitions) pass through untouched for the
    telescoping/fold passes that follow."""
    shared_prefix = _shared_window_prefix(tokens)
    if shared_prefix is None:
        return tokens

    def lower(call: _CallSite, walk):
        spec = call.spec
        if not call.plain or spec is None or spec.full or spec.exclude:
            return None
        arg = "".join(t.text for t in walk(call.arg_tokens()))
        core, distinct = _split_distinct_prefix(arg)
        sql = _streaming_or_none("ent", core, spec, shared_prefix, distinct)
        return None if sql is None else (sql, call.end)

    return _lower_calls(tokens, ("entropy",), lower)


# window-aggregate names the late frame-materialization pass lowers
# when Spark cannot plan the shape natively
_AGGW_FOLD_FNS = frozenset(
    {
        "entropy",
        "histogram",
        "percentile_disc",
        "percentile_cont",
        "percentile",
    }
)


def _rewrite_agg_window_frames(tokens: List[Token]) -> List[Token]:
    """DuckDB allows EVERY aggregate as a window function over any
    frame; Spark rejects several shapes outright. Lower the leftovers
    onto the streaming cores or collect_list frame-materialization
    folds, in place (r10, same machinery as the window-mad lowering):

    - ``entropy(x) OVER w`` with a non-full-partition frame (full
      partitions restructure onto built-in aggregates earlier);
    - ``histogram(x) OVER w`` for every frame (no native path at all);
    - ``percentile_disc(q) WITHIN GROUP (ORDER BY x) OVER w`` and the
      _cont form — this is quantile_disc/quantile's shimmed spelling
      (the shape DuckDB itself windows; the raw WITHIN GROUP + OVER
      spelling is a DuckDB parser error, so supporting it is a strict
      superset) — whenever the spec has an ORDER BY or a frame: Spark
      raises INVALID_WINDOW_SPEC_FOR_AGGREGATION_FUNC on those; DESC
      within-group orderings pass through (still loud). Windowed
      ``mode()`` stays native — see the note above _AGGW_FOLD_FNS;
    - ``percentile(DISTINCT x, q) OVER w`` (quantile_cont(DISTINCT ..)),
      and running/bounded ``percentile(x, q)`` onto the streaming core.

    DISTINCT arguments dedupe the materialized frame (array_distinct).
    Runs LAST so no later pass touches the emitted folds and every
    argument/spec is already translated."""
    if not any(t.kind == "word" and t.upper == "OVER" for t in tokens):
        return tokens
    shared_prefix = _shared_window_prefix(tokens)

    def lower(call: _CallSite, walk):
        spec = call.spec
        if not call.plain or spec is None or spec.exclude:
            return None
        low = call.name
        args = _call_args(call.tokens, call.p_open, call.close)
        if low in _WITHIN_GROUP_FNS:
            # Spark rejects ANY explicit ORDER BY/frame on WITHIN GROUP
            # window aggregates — even a semantically-inert unbounded
            # one — so only a pure PARTITION BY spec stays native; a
            # DISTINCT rider can never stay native (ORDER BY DISTINCT x
            # is a parse error — r10c fuzz find on the full-partition
            # quantile_disc(DISTINCT x, q) shape)
            if call.within is None or len(args) != 1:
                return None
            x, distinct = call.within
            if not (spec.has_order or not spec.full or distinct):
                return None
            q_sql = "".join(tk.text for tk in args[0]).strip()
            try:
                qf = float(q_sql)
            except ValueError:
                qf = None
            if qf in (0.0, 1.0):
                # quantile at the extremes IS min/max (index rule
                # max(1, ceil(q*n)); interpolation is inert at the
                # ends) — native O(n) window, no frame materialization
                # (r10c: the fold built an O(n) prefix array per row on
                # running frames). DISTINCT can't change extremes.
                # Decimal extremes keep their DECIMAL(w,s) type (r13);
                # everything else renders the interpolation's DOUBLE.
                ext = "min" if qf == 0.0 else "max"
                repl = f"{ext}({x}) OVER ({spec.text})"
                if low == "percentile_cont" and _arg_domain(x).kind not in (
                    "dec", "wide_dec",
                ):
                    repl = f"CAST({repl} AS DOUBLE)"
                return repl
            if low == "percentile_cont":
                repl = _streaming_or_none(
                    "qcont", x, spec, shared_prefix, distinct, q_sql
                ) or _qdec_window_fold_or_none(
                    "qcont", x, q_sql, spec.text, distinct
                )
            else:
                repl = _streaming_or_none(
                    "qdisc", x, spec, shared_prefix, distinct, q_sql
                )
            if repl is not None:
                return repl
            collected = f"collect_list({x}) OVER ({spec.text})"
            if distinct:
                collected = f"array_distinct({collected})"
            if low == "percentile_disc":
                return _quantile_disc_fold_sql(collected, q_sql)
            return _quantile_cont_fold_sql(collected, q_sql)
        if low == "percentile":
            # quantile_cont(x, q)'s shimmed spelling. Non-DISTINCT
            # windowed percentile DOES plan natively, but Spark re-sorts
            # the frame buffer on EVERY row's evaluate — O(n * frame) on
            # running frames (measured 5x slower than the streaming core
            # at sf0.1, quadratic at scale) — so the streaming core
            # takes those shapes too; DISTINCT (rejected by Spark for
            # every spec) folds over the deduped frame
            if len(args) != 2:
                return None
            core, distinct = _split_distinct_prefix(
                "".join(tk.text for tk in args[0]).strip()
            )
            q_sql = "".join(tk.text for tk in args[1]).strip()
            repl = _streaming_or_none(
                "qcont", core, spec, shared_prefix, distinct, q_sql
            ) or _qdec_window_fold_or_none(
                "qcont", core, q_sql, spec.text, distinct
            )
            if repl is None and distinct:
                repl = _quantile_cont_fold_sql(
                    f"array_distinct(collect_list({core})"
                    f" OVER ({spec.text}))",
                    q_sql,
                )
            return repl
        if len(args) != 1 or low not in ("histogram", "entropy"):
            return None
        core, distinct = _split_distinct_prefix(
            "".join(tk.text for tk in walk(list(args[0]))).strip()
        )
        collected = f"collect_list({core}) OVER ({spec.text})"
        if distinct:
            collected = f"array_distinct({collected})"
        if low == "histogram":
            return _streaming_or_none(
                "hist", core, spec, shared_prefix, distinct
            ) or _histogram_fold_sql(collected)
        if spec.full and not distinct:
            return None  # the full-partition lowering owns it
        # DISTINCT full-partition entropy has no earlier lowering —
        # the fold covers it
        repl = None
        if not spec.full:
            repl = _streaming_or_none("ent", core, spec, shared_prefix, distinct)
        return repl or _entropy_fold_sql(collected)

    def lower_site(call: _CallSite, walk):
        sql = lower(call, walk)
        return None if sql is None else (sql, call.end)

    return _lower_calls(tokens, _AGGW_FOLD_FNS, lower_site)


_RE2_VALID_CACHE: dict = {}


def _re2_static_verdict(pat: str):
    """``False`` when the pattern uses a construct RE2 DOCUMENTS as
    unsupported (and rejects — calibrated against the duckdb wheel in
    test_dialect_round12): lookaheads/lookbehinds, atomic groups,
    conditionals, possessive quantifiers, backreferences, ``\\Z``, and
    a trailing backslash. ``None`` = statically undecidable (escalate
    to the wheel probe when available). Never returns True — a full
    RE2 parser would be needed to certify validity. Character classes
    and escapes are skipped so ``[(?=]`` stays literal."""
    i, n = 0, len(pat)
    in_class = False
    while i < n:
        c = pat[i]
        if c == "\\":
            if i + 1 >= n:
                return False  # trailing backslash
            e = pat[i + 1]
            if e == "Q":
                # \Q..\E quotes everything inside (to the end when
                # unterminated) — nothing within can invalidate
                end = pat.find("\\E", i + 2)
                i = n if end < 0 else end + 2
                continue
            if not in_class and e.isdigit() and e != "0":
                # \1..\7 followed by another OCTAL digit is an octal
                # escape (\12, \123 — probed valid); a lone digit or a
                # non-octal continuation is a backreference / \8 \9
                # error in RE2
                if not (
                    e in "1234567" and pat[i + 2 : i + 3] in tuple("01234567")
                ):
                    return False
            if e == "Z":
                return False  # Java-only anchor (RE2 has \z)
            i += 2
            continue
        if in_class:
            if c == "]":
                in_class = False
            i += 1
            continue
        if c == "[":
            in_class = True
            # leading ']' right after '[' (or '[^') is a literal
            j = i + 1
            if j < n and pat[j] == "^":
                j += 1
            if j < n and pat[j] == "]":
                j += 1
            i = j
            continue
        if c == "(" and pat[i + 1 : i + 2] == "?":
            nxt = pat[i + 2 : i + 3]
            if nxt in ("=", "!", ">", "("):
                return False  # lookahead / atomic / conditional
            if nxt == "<" and pat[i + 3 : i + 4] in ("=", "!"):
                return False  # lookbehind
            i += 2
            continue
        if c in "*+?" and pat[i + 1 : i + 2] == "+":
            # possessive quantifier; a bare '+' that is not a
            # quantifier here is a 'nothing to repeat' error in RE2
            # anyway, so False is right either way
            return False
        i += 1
    return None


def _re2_pattern_valid(pat: str) -> bool:
    """Validate ``pat`` against RE2 (DuckDB's regex engine) using the
    duckdb module itself — Java regex accepts a different set, and
    DuckDB's ``regexp_replace`` silently returns the subject unchanged
    for an invalid pattern where Spark would raise at runtime.
    Documented-unsupported constructs are rejected STATICALLY first
    (`_re2_static_verdict` — no wheel needed); only statically
    undecidable patterns escalate to the wheel. When the module is
    unavailable, undecided patterns are assumed valid (pre-existing
    behavior)."""
    v = _RE2_VALID_CACHE.get(pat)
    if v is None and _re2_static_verdict(pat) is False:
        v = False
        _RE2_VALID_CACHE[pat] = v
    if v is None:
        try:
            import duckdb
            con = duckdb.connect()
            try:
                con.execute("SELECT regexp_matches('', ?)", [pat])
                v = True
            except duckdb.Error:
                v = False
            finally:
                con.close()
        except ImportError:
            v = True
        _RE2_VALID_CACHE[pat] = v
    return v


def _rewrite_regexp_replace_flags(tokens: List[Token]) -> List[Token]:
    """DuckDB ``regexp_replace(s, re, rep, 'g')`` -> Spark 3-arg form
    (Spark always replaces all matches). The flagless DuckDB form
    replaces only the FIRST match: when pattern and replacement are
    string literals amenable to ``replace_first_composition`` the call is
    rewritten to an equivalent anchored replace-all; otherwise it is left
    as-is (replace-all, with the validator's DANGER lint pointing at the
    divergence)."""

    def lower(call: _CallSite, walk):
        args = _call_args(call.tokens, call.p_open, call.close)
        out: List[Token] = []
        # rewrite NESTED regexp_replace calls inside each arg
        # first — the consumed span is re-emitted from these
        # lists, so an unprocessed inner 4-arg call would reach
        # Spark (whose 4th argument is a position integer)
        args = [walk(a) for a in args]
        if len(args) in (3, 4):
            pat0 = [
                t for t in args[1]
                if t.kind not in ("ws", "comment")
            ]
            if (
                len(pat0) == 1
                and pat0[0].kind == "string"
                and not _re2_pattern_valid(
                    _decode_spark_string(pat0[0])
                )
            ):
                # RE2-invalid literal pattern: DuckDB returns
                # the subject unchanged (any flags); Spark
                # would raise. __DUCKVARCHAR keeps DuckDB's
                # VARCHAR result typing
                out.extend(_toks("CAST(("))
                out.extend(args[0])
                out.extend(_toks(") AS __DUCKVARCHAR)"))
                return out
        last_code = (
            [t for t in args[-1] if t.kind not in ("ws", "comment")]
            if args
            else []
        )
        flags = (
            last_code[0].text[1:-1].lower()
            if len(args) == 4
            and len(last_code) == 1
            and last_code[0].kind == "string"
            else None
        )
        if flags is not None and set(flags) <= {"g", "i"}:
            pat_code = [
                t for t in args[1] if t.kind not in ("ws", "comment")
            ]
            pat_is_lit = (
                len(pat_code) == 1 and pat_code[0].kind == "string"
            )
            if "g" in flags:
                # replace-ALL (Spark's native behavior); 'i' adds
                # a case-insensitivity scope to the pattern. The
                # replacement still follows RE2 rewrite
                # semantics (backrefs \N, literal $, invalid
                # rewrite -> subject unchanged).
                if "i" not in flags:
                    pat_toks = (
                        [_encode_spark_string(
                            _normalize_named_groups_lit(
                                _decode_spark_string(pat_code[0])
                            )
                        )]
                        if pat_is_lit
                        else _normalize_named_groups_toks(args[1])
                    )
                elif pat_is_lit:
                    pat_toks = [_encode_spark_string(
                        "(?i:"
                        + _normalize_named_groups_lit(
                            _decode_spark_string(pat_code[0])
                        )
                        + ")"
                    )]
                else:
                    pat_toks = (
                        _toks("concat('(?i:', ")
                        + _normalize_named_groups_toks(args[1])
                        + _toks(", ')')")
                    )
                rep_code_g = [
                    t
                    for t in args[2]
                    if t.kind not in ("ws", "comment")
                ]
                rep_is_lit_g = (
                    len(rep_code_g) == 1
                    and rep_code_g[0].kind == "string"
                )
                ngroups_g = (
                    _count_capture_groups(
                        _decode_spark_string(pat_code[0])
                    )
                    if pat_is_lit
                    else None
                )
                # conditions under which DuckDB returns the
                # subject unchanged (each a token list)
                guards: List[List[Token]] = []
                pat_sql_g = "".join(t.text for t in args[1])
                ng_sql_g = _runtime_ngroups_sql(pat_sql_g)
                if not pat_is_lit:
                    # RE2-invalid runtime pattern VALUE no-ops
                    guards.append(
                        _toks("NOT coalesce(__re2_valid((")
                        + list(args[1])
                        + _toks(")), true)")
                    )
                if rep_is_lit_g:
                    rep_lit_g = _decode_spark_string(rep_code_g[0])
                    j0 = _re2_rewrite_to_java(
                        rep_lit_g,
                        0,
                        ngroups_g,
                        global_mode=True,
                    )
                    if j0 is None:
                        # out-of-range ref: subject unchanged
                        out.append(Token("op", "("))
                        out.extend(args[0])
                        out.append(Token("op", ")"))
                        return out
                    rep_toks = [_encode_spark_string(j0)]
                    if not pat_is_lit:
                        # bound only checkable at runtime
                        maxref_g = _max_rewrite_ref(rep_lit_g)
                        if maxref_g > 0:
                            guards.append(
                                _toks(
                                    f"({ng_sql_g}) < {maxref_g}"
                                )
                            )
                else:
                    rep_toks = _rep_rewrite_chain(
                        args[2], 0, truncate=True
                    )
                    # out-of-range refs pre-validate the whole
                    # VALUE in global mode
                    if ngroups_g is not None and ngroups_g < 9:
                        m = ngroups_g + 1
                        guards.append(
                            _toks("((")
                            + list(args[2])
                            + _toks(") RLIKE ")
                            + [
                                _encode_spark_string(
                                    r"^(?:[^\\]|\\[^%d-9])*\\[%d-9]"
                                    % (m, m)
                                )
                            ]
                            + _toks(")")
                        )
                    elif ngroups_g is None:
                        rep_sql_g = "".join(
                            t.text for t in args[2]
                        )
                        guards.append(
                            _toks(
                                _runtime_oob_rlike_sql(
                                    "(" + rep_sql_g + ")",
                                    ng_sql_g,
                                )
                            )
                        )
                call_toks = (
                    _toks("regexp_replace(")
                    + list(args[0])
                    + [Token("op", ",")]
                    + pat_toks
                    + [Token("op", ",")]
                    + rep_toks
                    + [Token("op", ")")]
                )
                if guards:
                    case_toks = _toks("(CASE")
                    for g in guards:
                        case_toks += (
                            _toks(" WHEN ")
                            + g
                            + _toks(" THEN (")
                            + list(args[0])
                            + _toks(")")
                        )
                    case_toks += (
                        _toks(" ELSE ")
                        + call_toks
                        + _toks(" END)")
                    )
                    out.extend(case_toks)
                else:
                    out.extend(call_toks)
                return out
            # flags 'i' or '': DuckDB replace-FIRST. Compose
            # when possible; otherwise emit a flagless 3-arg
            # call (replace-all divergence, lint-covered) with
            # the case scope preserved — never a 4-arg call
            # (Spark's 4th arg is a position integer).
            rep_code = [
                t for t in args[2] if t.kind not in ("ws", "comment")
            ]
            rep_is_lit = (
                len(rep_code) == 1 and rep_code[0].kind == "string"
            )
            composed = None
            if pat_is_lit and rep_is_lit:
                composed = replace_first_composition(
                    _decode_spark_string(pat_code[0]),
                    _decode_spark_string(rep_code[0]),
                    case_insensitive="i" in flags,
                )
                if composed == REPLACE_NOOP:
                    # invalid rewrite: subject unchanged
                    out.append(Token("op", "("))
                    out.extend(args[0])
                    out.append(Token("op", ")"))
                    return out
            elif not (pat_is_lit and rep_is_lit):
                dyn = _replace_first_dynamic(
                    args[0],
                    args[1],
                    args[2],
                    _decode_spark_string(pat_code[0])
                    if pat_is_lit
                    else None,
                    _decode_spark_string(rep_code[0])
                    if rep_is_lit
                    else None,
                    case_insensitive="i" in flags,
                )
                if dyn is not None:
                    out.extend(dyn)
                    return out
            out.append(call.tokens[call.start])
            out.append(Token("op", "("))
            out.extend(args[0])
            out.append(Token("op", ","))
            if composed is not None:
                out.append(_encode_spark_string(composed[0]))
                out.append(Token("op", ","))
                out.append(_encode_spark_string(composed[1]))
            else:
                if "i" not in flags:
                    out.extend(args[1])
                elif pat_is_lit:
                    out.append(
                        _encode_spark_string(
                            "(?i:"
                            + _decode_spark_string(pat_code[0])
                            + ")"
                        )
                    )
                else:
                    out.extend(_toks("concat('(?i:', "))
                    out.extend(args[1])
                    out.extend(_toks(", ')')"))
                out.append(Token("op", ","))
                out.extend(args[2])
            out.append(Token("op", ")"))
            return out
        if len(args) == 3:
            pat_code = [
                t for t in args[1] if t.kind not in ("ws", "comment")
            ]
            rep_code = [
                t for t in args[2] if t.kind not in ("ws", "comment")
            ]
            pat_is_lit = (
                len(pat_code) == 1 and pat_code[0].kind == "string"
            )
            rep_is_lit = (
                len(rep_code) == 1 and rep_code[0].kind == "string"
            )
            if pat_is_lit and rep_is_lit:
                composed = replace_first_composition(
                    _decode_spark_string(pat_code[0]),
                    _decode_spark_string(rep_code[0]),
                )
                if composed == REPLACE_NOOP:
                    # invalid rewrite: subject unchanged
                    out.append(Token("op", "("))
                    out.extend(args[0])
                    out.append(Token("op", ")"))
                    return out
                if composed is not None:
                    out.append(call.tokens[call.start])
                    out.append(Token("op", "("))
                    out.extend(args[0])
                    out.append(Token("op", ","))
                    out.append(_encode_spark_string(composed[0]))
                    out.append(Token("op", ","))
                    out.append(_encode_spark_string(composed[1]))
                    out.append(Token("op", ")"))
                    return out
            else:
                dyn = _replace_first_dynamic(
                    args[0],
                    args[1],
                    args[2],
                    _decode_spark_string(pat_code[0])
                    if pat_is_lit
                    else None,
                    _decode_spark_string(rep_code[0])
                    if rep_is_lit
                    else None,
                )
                if dyn is not None:
                    out.extend(dyn)
                    return out
        return None

    return _lower_calls(tokens, ("regexp_replace",), lower)


_STRFTIME_DIRECTIVES = {
    "Y": "yyyy", "y": "yy", "m": "MM", "d": "dd",
    "H": "HH", "I": "hh", "M": "mm", "S": "ss",
    "p": "a", "j": "DDD", "a": "EEE", "A": "EEEE",
    "b": "MMM", "B": "MMMM", "G": "YYYY", "V": "ww",
    "f": "SSSSSS",  # DuckDB %f = microseconds
    "g": "SSS",     # DuckDB %g = milliseconds
}
# %-d etc.: no-padding variants -> single-letter Java patterns
_STRFTIME_NOPAD = {
    "d": "d", "m": "M", "H": "H", "I": "h", "M": "m", "S": "s", "j": "D",
}


def _convert_strftime_format(fmt: str) -> str:
    """C-style %-format -> Java datetime pattern. Literal text runs are
    single-quoted (Java treats EVERY bare letter as a pattern char, so
    '%Y-%m-%dT%H' must become yyyy-MM-dd'T'HH, not ...ddTHH)."""
    out: List[str] = []
    lit: List[str] = []

    def flush() -> None:
        if not lit:
            return
        s = "".join(lit)
        lit.clear()
        if any(c.isalpha() for c in s) or "'" in s:
            out.append("'" + s.replace("'", "''") + "'")
        else:
            out.append(s)

    i = 0
    n = len(fmt)
    while i < n:
        c = fmt[i]
        if c == "%" and i + 1 < n:
            d = fmt[i + 1]
            if d == "%":
                lit.append("%")
                i += 2
                continue
            if (
                d == "-"
                and i + 2 < n
                and fmt[i + 2] in _STRFTIME_NOPAD
            ):
                flush()
                out.append(_STRFTIME_NOPAD[fmt[i + 2]])
                i += 3
                continue
            if d in _STRFTIME_DIRECTIVES:
                flush()
                out.append(_STRFTIME_DIRECTIVES[d])
                i += 2
                continue
        lit.append(c)
        i += 1
    flush()
    return "".join(out)


def _rewrite_strftime(tokens: List[Token]) -> List[Token]:
    """DuckDB ``strftime(x, '%Y-%m-%d')`` -> ``date_format(x, 'yyyy-MM-dd')``
    and ``strptime(s, fmt)`` -> ``to_timestamp(s, fmt)``, converting
    C-style %-codes to Java datetime patterns."""

    def lower(call: _CallSite, walk):
        args = _call_args(call.tokens, call.p_open, call.close)
        if len(args) == 2:
            low_fn = call.name
            fn = {
                "strftime": "date_format",
                "strptime": "to_timestamp",
                "try_strptime": "try_to_timestamp",
            }[low_fn]
            # %V/%G (ISO week / ISO week-year): Spark's
            # formatter removed week-based patterns, so compose
            # those directives from weekofyear()/the ISO-year
            # expression and date_format the rest
            fmt_code = [
                t for t in args[1] if t.kind not in ("ws", "comment")
            ]
            if (
                low_fn == "strftime"
                and len(fmt_code) == 1
                and fmt_code[0].kind == "string"
                and re.search(
                    r"%[VG]",
                    _decode_spark_string(fmt_code[0]).replace("%%", ""),
                )
            ):
                fmt_s = _decode_spark_string(fmt_code[0])
                ra = walk(args[0])
                x = _sql(ra, 0, len(ra))
                # Thursday of x's ISO week. This emission is
                # re-processed by the call-shim pass, which
                # rewrites ``weekday`` to DuckDB's Sunday=0
                # form (dayofweek - 1); (weekday + 6) % 7 then
                # lands on Monday=0, the ISO day number
                iso_year = (
                    f"CAST(year(date_add(CAST(({x}) AS DATE), "
                    f"3 - ((weekday(({x})) + 6) % 7))) AS STRING)"
                )
                iso_week = (
                    f"lpad(CAST(weekofyear(({x})) AS STRING), "
                    f"2, '0')"
                )
                parts: List[str] = []
                chunk: List[str] = []
                k = 0
                while k < len(fmt_s):
                    if fmt_s[k] == "%" and k + 1 < len(fmt_s):
                        d = fmt_s[k + 1]
                        if d in ("V", "G"):
                            if chunk:
                                conv = _convert_strftime_format(
                                    "".join(chunk)
                                ).replace("'", "''")
                                parts.append(
                                    f"date_format(({x}), '{conv}')"
                                )
                                chunk = []
                            parts.append(
                                iso_week if d == "V" else iso_year
                            )
                            k += 2
                            continue
                        chunk.append(fmt_s[k])
                        chunk.append(d)
                        k += 2
                        continue
                    chunk.append(fmt_s[k])
                    k += 1
                if chunk:
                    conv = _convert_strftime_format(
                        "".join(chunk)
                    ).replace("'", "''")
                    parts.append(f"date_format(({x}), '{conv}')")
                body = (
                    parts[0]
                    if len(parts) == 1
                    else "concat(" + ", ".join(parts) + ")"
                )
                return body
            # parse-side year adjustments (strptime family):
            # - no year directive at all: DuckDB's base year is
            #   1900, Spark's 1970 -> shift back 70 years
            # - %y two-digit year: C pivots 69-99 into the
            #   1900s, Java 'yy' always parses 20yy -> shift
            #   back a century when the parsed year lands >= x69
            adjust = None
            if low_fn in ("strptime", "try_strptime"):
                fmt_all = "".join(
                    t.text for t in args[1] if t.kind == "string"
                )
                if fmt_all and not re.search(
                    r"%[-]?[yYG]", fmt_all
                ):
                    adjust = "base1900"
                elif re.search(r"%[-]?y", fmt_all) and not re.search(
                    r"%[-]?[YG]", fmt_all
                ):
                    adjust = "c_pivot"
            # recurse: the value arg may itself contain strftime calls
            lowered = [Token("word", fn), Token("op", "(")] + walk(args[0])
            lowered.append(Token("op", ","))
            for t in args[1]:
                if t.kind == "string":
                    # decode the SQL literal, convert, re-encode:
                    # the Java pattern may itself contain quote
                    # characters ('T' literals, '' escapes)
                    inner = t.text[1:-1].replace("''", "'")
                    conv = _convert_strftime_format(inner)
                    lowered.append(
                        Token(
                            "string",
                            "'" + conv.replace("'", "''") + "'",
                        )
                    )
                else:
                    lowered.append(t)
            lowered.append(Token("op", ")"))
            call_sql = "".join(t.text for t in lowered)
            if adjust == "base1900":
                return f"({call_sql} - make_ym_interval(70, 0))"
            if adjust == "c_pivot":
                return (
                    f"(CASE WHEN year({call_sql}) % 100 >= 69 "
                    f"THEN {call_sql} - make_ym_interval(100, 0) "
                    f"ELSE {call_sql} END)"
                )
            return lowered
        return None

    return _lower_calls(
        tokens, ("strftime", "strptime", "try_strptime"), lower
    )


_EPOCH_FNS = {"epoch": "unix_seconds", "epoch_ms": "unix_millis", "epoch_us": "unix_micros"}


def _rewrite_epoch(tokens: List[Token]) -> List[Token]:
    """DuckDB ``epoch[_ms|_us](x)`` -> ``unix_seconds|millis|micros(
    CAST(x AS TIMESTAMP_LTZ))`` — Spark's unix_* reject TIMESTAMP_NTZ;
    the session timezone is UTC so the cast preserves wall-clock values.
    (DuckDB's epoch() returns DOUBLE; unix_seconds is BIGINT — cast in
    the script if fractional seconds matter.)"""

    def lower(call: _CallSite, walk):
        inner = walk(call.arg_tokens())
        if call.name == "epoch":
            # DuckDB epoch() is DOUBLE with fractional seconds
            return (
                _toks("(CAST(unix_micros(CAST((")
                + inner
                + _toks(") AS TIMESTAMP_LTZ)) AS DOUBLE) / 1000000)")
            )
        return (
            [Token("word", _EPOCH_FNS[call.name])]
            + _toks("(CAST((")
            + inner
            + _toks(") AS TIMESTAMP_LTZ))")
        )

    return _lower_calls(tokens, _EPOCH_FNS, lower)


# Spark-valid integral cast targets (DuckDB rounds on numeric->integral
# casts; Spark truncates — see _rewrite_integral_casts)
_INTEGRAL_TYPES = {"tinyint", "smallint", "int", "integer", "bigint", "short", "long"}


def _capture_operand(tokens: List[Token], i: int) -> int:
    """End index (exclusive) of the tightest-binding operand starting at
    code index ``i``: optional unary signs, one primary (literal,
    identifier, call, or parenthesized group), then postfix pieces that
    bind tighter than ``/`` — ``.field``, ``[idx]``, ``::type``, and the
    aggregate/window tails (FILTER/WITHIN GROUP/IGNORE|RESPECT
    NULLS/OVER)."""
    n = len(tokens)
    j = i
    while j < n and tokens[j].kind == "op" and tokens[j].text in ("+", "-"):
        j = _next_code(tokens, j)
    if j >= n:
        return j
    t = tokens[j]
    if t.kind == "op" and t.text == "(":
        j = _matching_paren(tokens, j) + 1
    elif t.is_kw("CASE"):
        # CASE ... END is a primary: scan to the matching END (CASE
        # nests inside WHEN/THEN branches)
        depth = 0
        k = j
        while k < n:
            tk = tokens[k]
            if tk.is_kw("CASE"):
                depth += 1
            elif tk.is_kw("END"):
                depth -= 1
                if depth == 0:
                    break
            k += 1
        j = min(k + 1, n)
    elif t.kind in ("word", "bident", "qident", "number", "string"):
        nxt = _next_code(tokens, j)
        if (
            t.kind in ("word", "bident", "qident")
            and nxt < n
            and tokens[nxt].kind == "op"
            and tokens[nxt].text == "("
        ):
            j = _matching_paren(tokens, nxt) + 1
        else:
            j += 1
    else:
        return j + 1
    # postfix pieces
    while True:
        k = _next_code(tokens, j - 1)
        if k >= n:
            return j
        t = tokens[k]
        if t.kind == "op" and t.text == ".":
            m = _next_code(tokens, k)
            if m < n and tokens[m].kind in ("word", "bident", "qident"):
                j = m + 1
                continue
            return j
        if t.kind == "op" and t.text == "[":
            j = _matching_paren(tokens, k) + 1
            continue
        if t.kind == "op" and t.text == "::":
            m = _next_code(tokens, k)
            if m < n and tokens[m].kind == "word":
                p = _next_code(tokens, m)
                if p < n and tokens[p].kind == "op" and tokens[p].text == "(":
                    j = _matching_paren(tokens, p) + 1
                else:
                    j = m + 1
                continue
            return j
        if t.kind == "word" and t.upper in ("FILTER", "OVER"):
            m = _next_code(tokens, k)
            if m < n and tokens[m].kind == "op" and tokens[m].text == "(":
                j = _matching_paren(tokens, m) + 1
                continue
            if t.upper == "OVER" and m < n and tokens[m].kind == "word":
                j = m + 1  # named window
                continue
            return j
        if t.kind == "word" and t.upper == "WITHIN":
            m = _next_code(tokens, k)
            if m < n and tokens[m].is_kw("GROUP"):
                p = _next_code(tokens, m)
                if p < n and tokens[p].kind == "op" and tokens[p].text == "(":
                    j = _matching_paren(tokens, p) + 1
                    continue
            return j
        if t.kind == "word" and t.upper in ("IGNORE", "RESPECT"):
            m = _next_code(tokens, k)
            if m < n and tokens[m].is_kw("NULLS"):
                j = m + 1
                continue
            return j
        return j


# keywords that can directly precede a parenthesized expression without
# being a function name (so a trailing-operand pop must not swallow them)
_NOT_FUNCTION_WORDS = {
    "SELECT", "WHERE", "AND", "OR", "NOT", "WHEN", "THEN", "ELSE", "END",
    "BY", "ON", "IN", "AS", "FROM", "JOIN", "HAVING", "SET", "VALUES",
    "RETURNING", "LIKE", "RLIKE", "ILIKE", "BETWEEN", "CASE", "ALL",
    "ANY", "SOME", "EXISTS", "DISTINCT", "UNION", "EXCEPT", "INTERSECT",
    "LIMIT", "OFFSET", "OVER", "FILTER", "GROUP", "ORDER", "PARTITION",
}


def _pop_operand(out: List[Token]) -> List[Token]:
    """Remove and return the trailing operand from ``out``: a primary
    (literal, identifier, call, parenthesized group, bracket index) plus
    any tighter-binding ``.field``/``::type`` chain before it. Unary
    signs are NOT included (DuckDB's ``^`` binds tighter than unary
    minus, like Postgres)."""
    j = len(out) - 1
    while j >= 0 and out[j].kind in ("ws", "comment"):
        j -= 1
    if j < 0:
        return []
    end = j + 1

    def _rev_match(close_idx: int, open_t: str, close_t: str) -> int:
        depth = 0
        for k in range(close_idx, -1, -1):
            t = out[k]
            if t.kind == "op" and t.text == close_t:
                depth += 1
            elif t.kind == "op" and t.text == open_t:
                depth -= 1
                if depth == 0:
                    return k
        return close_idx

    while True:
        t = out[j]
        if t.is_kw("END"):
            # trailing CASE ... END: pop the whole CASE expression
            # (scan back to the matching CASE, tracking nesting)
            depth = 0
            k = j
            start = None
            while k >= 0:
                tk = out[k]
                if tk.is_kw("END"):
                    depth += 1
                elif tk.is_kw("CASE"):
                    depth -= 1
                    if depth == 0:
                        start = k
                        break
                k -= 1
            if start is None:
                return []  # unmatched END — not an operand; pop nothing
            j = start
            break
        if t.kind == "word" and t.upper in _NOT_FUNCTION_WORDS:
            return []  # bare keyword is not an operand; pop nothing
        if t.kind == "op" and t.text == ")":
            j = _rev_match(j, "(", ")")
            k = j - 1
            while k >= 0 and out[k].kind in ("ws", "comment"):
                k -= 1
            if (
                k >= 0
                and out[k].kind in ("word", "bident", "qident")
                and out[k].upper not in _NOT_FUNCTION_WORDS
            ):
                j = k  # function call: include the name
        elif t.kind == "op" and t.text == "]":
            j = _rev_match(j, "[", "]")
            k = j - 1
            while k >= 0 and out[k].kind in ("ws", "comment"):
                k -= 1
            if k >= 0:
                j = k
                continue  # keep popping the indexed base
        elif t.kind not in ("word", "bident", "qident", "number", "string"):
            j += 1
            break
        # tighter-binding prefix chain: a.b / a::T
        k = j - 1
        while k >= 0 and out[k].kind in ("ws", "comment"):
            k -= 1
        if k >= 0 and out[k].kind == "op" and out[k].text in (".", "::"):
            m = k - 1
            while m >= 0 and out[m].kind in ("ws", "comment"):
                m -= 1
            if m >= 0:
                j = m
                continue
        break
    operand = out[j:end]
    del out[j:end]
    return operand


def _rewrite_power_and_regex_ops(tokens: List[Token]) -> List[Token]:
    """DuckDB operator semantics Spark parses differently (or not at
    all): infix ``^`` and ``**`` are POWER in DuckDB (``^`` is XOR in
    Spark — silently wrong results); Postgres-style regex/LIKE operators
    ``~`` ``!~`` ``~~`` ``!~~`` become RLIKE/LIKE forms. A PREFIX ``~``
    (bitwise NOT) is untouched. Runs before the division pass so the
    emitted power() calls participate in divisor capture."""

    def prev_is_operand(out: List[Token]) -> bool:
        for t in reversed(out):
            if t.kind in ("ws", "comment"):
                continue
            if t.kind in ("number", "string", "bident", "qident"):
                return True
            if t.kind == "word":
                return not t.upper in (
                    "AND", "OR", "NOT", "WHERE", "WHEN", "THEN", "ELSE",
                    "SELECT", "BY", "ON", "LIKE", "IN", "CASE", "RETURN",
                )
            return t.kind == "op" and t.text in (")", "]")
        return False

    def lower(tokens, i, out):
        n = len(tokens)
        tok = tokens[i]
        if tok.text in ("^", "**"):
            left = _pop_operand(out)
            j = i + 1
            while j < n and tokens[j].kind in ("ws", "comment"):
                j += 1
            end = _capture_operand(tokens, j)
            out.extend(_toks(" power("))
            out.extend(left if left else [Token("number", "0")])
            out.append(Token("op", ","))
            out.extend(_rewrite_power_and_regex_ops(tokens[j:end]))
            out.append(Token("op", ")"))
            return end
        # ~ and ~~, or ! before them
        j = i + (tok.text == "!")
        if not (j < n and tokens[j].text == "~" and prev_is_operand(out)):
            return None
        dbl = j + 1 < n and tokens[j + 1].kind == "op" and tokens[j + 1].text == "~"
        neg = " NOT" if tok.text == "!" else ""
        out.extend(_toks(f"{neg} LIKE " if dbl else f"{neg} RLIKE "))
        return j + 1 + dbl

    return _lower_sites(tokens, {"^", "**", "~", "!"}, lower)


# higher-order functions whose direct arguments may be lambdas — an
# arrow directly under one of these calls is a lambda, not a JSON op
_LAMBDA_FNS = {
    "list_transform", "list_filter", "list_reduce", "array_transform",
    "array_filter", "array_reduce", "transform", "filter", "aggregate",
    "reduce", "exists", "forall", "zip_with", "map_filter",
    "transform_keys", "transform_values", "list_sort", "array_sort",
    "list_aggregate", "fold",
}


_NUMERIC_UNDERSCORE_RE = re.compile(
    r"^\d+(_\d+)*(\.\d+(_\d+)*)?([eE][+-]?\d+)?$"
)


def _rewrite_numeric_underscores(tokens: List[Token]) -> List[Token]:
    """DuckDB numeric underscore separators (1_000_000, 1_000.5):
    stripped when the token is a well-formed underscored numeric —
    underscores only BETWEEN digits (a trailing/leading/doubled
    underscore keeps the token verbatim)."""
    out: List[Token] = []
    for tok in tokens:
        if (
            tok.kind == "word"
            and "_" in tok.text
            and tok.text[0].isdigit()
            and _NUMERIC_UNDERSCORE_RE.match(tok.text)
        ):
            out.append(Token("word", tok.text.replace("_", "")))
        else:
            out.append(tok)
    return out


_ESCAPE_MAP = {
    "n": "\n", "t": "\t", "r": "\r", "b": "\b", "f": "\f",
    "\\": "\\", "'": "'", '"': '"', "0": "\0",
}


def _rewrite_escape_strings(tokens: List[Token]) -> List[Token]:
    """DuckDB escape strings ``e'a\\tb'`` / ``E'...'``: interpret the
    backslash escapes and emit a plain literal (runs before the
    raw-string backslash doubling, which would otherwise preserve the
    backslashes verbatim)."""

    def lower(tokens, i, out):
        if not (i + 1 < len(tokens) and tokens[i + 1].kind == "string"):
            return None
        raw = tokens[i + 1].text[1:-1].replace("''", "'")
        decoded: List[str] = []
        k = 0
        while k < len(raw):
            c = raw[k]
            if c == "\\" and k + 1 < len(raw):
                nxt = raw[k + 1]
                if nxt in _ESCAPE_MAP:
                    decoded.append(_ESCAPE_MAP[nxt])
                    k += 2
                    continue
                if nxt in ("x", "u"):
                    width = 2 if nxt == "x" else 4
                    hexs = raw[k + 2 : k + 2 + width]
                    if len(hexs) == width and all(
                        h in "0123456789abcdefABCDEF" for h in hexs
                    ):
                        decoded.append(chr(int(hexs, 16)))
                        k += 2 + width
                        continue
            decoded.append(c)
            k += 1
        out.append(Token("string", "'" + "".join(decoded).replace("'", "''") + "'"))
        return i + 2

    return _lower_sites(tokens, {"e"}, lower)


def _rewrite_series_table_fns(tokens: List[Token]) -> List[Token]:
    """FROM-position series table functions. ``FROM generate_series(a,
    b[, s])`` (inclusive) becomes an exploded sequence subquery whose
    column keeps DuckDB's name ``generate_series``; ``FROM range(...)``
    maps to Spark's native range TVF (same exclusive-end semantics) with
    its ``id`` column renamed to DuckDB's ``range``. Scalar positions
    are untouched (both are list-returning there; handled elsewhere)."""

    def lower(call: _CallSite, walk):
        if not (
            call.prev is not None
            and call.prev.kind == "word"
            and call.prev.upper in ("FROM", "JOIN")
        ):
            return None
        toks = call.tokens
        inner = walk(toks[call.start + 1 : call.close + 1])
        temporal = any(
            t.kind == "word" and t.upper in ("DATE", "TIMESTAMP", "INTERVAL")
            for t in toks[call.p_open : call.close + 1]
        )
        rendered = [
            "".join(x.text for x in arg).strip()
            for arg in _call_args(toks, call.p_open, call.close)
        ]
        if temporal and len(rendered) == 3:
            # temporal series: DuckDB yields TIMESTAMPs (DATE endpoints
            # widen); Spark's range TVF is BIGINT-only so both go
            # through an exploded sequence — inclusive for
            # generate_series, with DuckDB's EXCLUSIVE end re-applied
            # for range (positive step)
            a_t, b_t, s_t = rendered
            seq = (
                f"sequence(CAST(({a_t}) AS TIMESTAMP), "
                f"CAST(({b_t}) AS TIMESTAMP), {s_t})"
            )
            if call.name == "generate_series":
                return f"(SELECT explode({seq}) AS generate_series)"
            return (
                f"(SELECT * FROM (SELECT explode({seq}) AS `range`) "
                f"WHERE `range` < CAST(({b_t}) AS TIMESTAMP))"
            )
        if call.name == "generate_series":
            return (
                _toks("(SELECT explode(sequence")
                + inner
                + _toks(") AS generate_series)")
            )
        return _toks("(SELECT id AS `range` FROM range") + inner + _toks(")")

    return _lower_calls(tokens, ("generate_series", "range"), lower)


def _glob_to_regex(pat: str) -> str:
    """Glob pattern -> anchored regex body: * -> .*, ? -> ., [...]
    classes kept, other regex metachars escaped."""
    out: List[str] = []
    i = 0
    n = len(pat)
    while i < n:
        c = pat[i]
        if c == "*":
            out.append(".*")
        elif c == "?":
            out.append(".")
        elif c == "[":
            j = pat.find("]", i + 1)
            if j > i:
                out.append(pat[i : j + 1])
                i = j + 1
                continue
            out.append("\\[")
        elif c in ".^$+(){}|\\":
            out.append("\\" + c)
        else:
            out.append(c)
        i += 1
    return "".join(out)


def _rewrite_glob(tokens: List[Token]) -> List[Token]:
    """DuckDB ``x GLOB 'pat'`` (and NOT GLOB) with a literal pattern ->
    anchored RLIKE. Dynamic patterns pass through and fail loudly."""

    def lower(tokens, i, out):
        j = _next_code(tokens, i)
        if j < len(tokens) and tokens[j].kind == "string":
            # a preceding NOT composes naturally (x NOT RLIKE p)
            pat = _decode_spark_string(tokens[j])
            out.extend(_toks(" RLIKE "))
            out.append(_encode_spark_string("^(?:" + _glob_to_regex(pat) + ")$"))
            return j + 1

    return _lower_sites(tokens, {"glob"}, lower)


# DuckDB collation names -> Spark 4 collation names
_COLLATION_MAP = {"nocase": "UTF8_LCASE"}


def _rewrite_collations(tokens: List[Token]) -> List[Token]:
    """``COLLATE NOCASE`` -> Spark's ``COLLATE UTF8_LCASE``
    (case-insensitive compare and ordering, verified equivalent).
    Unmapped collations (NOACCENT and ICU locales need ICU tables) pass
    through and fail loudly at parse."""

    def lower(tokens, i, out):
        j = _next_code(tokens, i)
        if j < len(tokens) and tokens[j].kind in ("word", "qident", "string"):
            name = _COLLATION_MAP.get(tokens[j].text.strip("\"'").lower())
            if name is not None:
                out.extend(tokens[i:j])
                out.append(Token("word", name))
                return j + 1

    return _lower_sites(tokens, {"collate"}, lower)


_OPERATOR_FN_ALIASES = {"add": "+", "subtract": "-", "multiply": "*", "divide": "//"}


def _rewrite_operator_fn_aliases(tokens: List[Token]) -> List[Token]:
    """DuckDB's operator-function aliases: ``add(a, b)`` = a + b,
    ``divide`` = ``//`` (INTEGER division, verified divide(7,2)=3),
    1-arg ``subtract(x)`` = -x, 1-arg ``add(x)`` = x. Runs EARLY so the
    emitted operators flow through the later division/rounding passes
    like hand-written ones."""

    def lower(call: _CallSite, walk):
        rendered = [
            "".join(t.text for t in walk(a)).strip()
            for a in _call_args(call.tokens, call.p_open, call.close)
        ]
        if len(rendered) == 2 and all(rendered):
            op = _OPERATOR_FN_ALIASES[call.name]
            return f"(({rendered[0]}) {op} ({rendered[1]}))"
        if len(rendered) == 1 and rendered[0] and call.name in ("add", "subtract"):
            sign = "-" if call.name == "subtract" else ""
            return f"({sign}({rendered[0]}))"
        return None

    return _lower_calls(tokens, _OPERATOR_FN_ALIASES, lower)


# list-producing functions (DuckDB spellings; renames to Spark names run
# later in _rewrite_simple) whose result makes len()/length() mean SIZE
_LIST_VALUED_FNS = {
    "list_transform", "list_filter", "list_sort", "list_distinct",
    "list_reverse", "list_append", "list_prepend", "list_concat",
    "list_cat", "list_value", "list_pack", "list_zip", "list_intersect",
    "string_split", "str_split", "string_to_array", "split",
    "string_split_regex", "str_split_regex", "regexp_split_to_array",
    "generate_series", "sequence", "array", "flatten",
    "array_distinct", "array_sort", "transform", "filter", "slice",
    "array_slice", "array_append", "array_prepend", "array_intersect",
    "list_resize", "array_resize", "parse_path", "unpivot_list",
    "map_keys", "map_values", "array_agg", "list_agg", "collect_list",
    "histogram_values", "regexp_extract_all", "array_remove",
    "array_compact", "arrays_zip", "list_select", "list_where",
}


def _rewrite_polymorphic_len(tokens: List[Token]) -> List[Token]:
    """DuckDB ``len()``/``length()`` are polymorphic over strings AND
    lists; Spark's are string-only. When the argument is syntactically
    list-valued — a bracket literal (already ``array(...)`` after
    ``_rewrite_brackets``), a call to a list-producing function
    spanning the whole argument, or a plain column reference whose
    published schema hint (``column_type_hints``) is ARRAY-typed —
    emit ``size()``. MAP arguments stay: ``len(map)`` is a binder
    error in DuckDB 1.0 and Spark's ``length(map)`` fails at analysis
    the same way. Unhinted column references keep string semantics
    (documented in COVERAGE.md; reference DuckDB behavior:
    ``len([1,2])`` = 2)."""
    in_lambda = _hof_lambda_spans(tokens) if _TYPE_HINTS.get() else set()

    def _listish_operand(lo: int, hi: int, hintable: bool) -> bool:
        first = lo
        while first < hi and tokens[first].kind in ("ws", "comment"):
            first += 1
        if (
            first < hi
            and tokens[first].kind == "word"
            and tokens[first].text.lower() in _LIST_VALUED_FNS
        ):
            ip = _next_code(tokens, first)
            if ip < hi and tokens[ip].kind == "op" and tokens[ip].text == "(":
                iclose = _matching_paren(tokens, ip)
                nxt = _next_code(tokens, iclose)
                if nxt >= hi:
                    return True
        if hintable:
            hint = _hinted_primary_type(tokens[lo:hi])
            if hint is not None and hint.startswith("array"):
                return True
        return False

    def lower(call: _CallSite, walk):
        p, close = call.p_open, call.close
        hintable = call.start not in in_lambda
        # the whole argument, or every operand of a top-level ``||``
        # chain (list concat when the operands are lists), must be
        # visibly list-valued: a list-producing call spanning the
        # operand, or an ARRAY-hinted plain column reference
        pipes = _top_level_positions(
            tokens, p + 1, close, lambda t: t.kind == "op" and t.text == "||"
        )
        bounds = [p + 1] + [q + 1 for q in pipes] + [close]
        spans = [
            (bounds[k], pipes[k] if k < len(pipes) else close)
            for k in range(len(pipes) + 1)
        ]
        if all(_listish_operand(lo, hi, hintable) for lo, hi in spans):
            return [Token("word", "size")], call.start + 1
        return None

    return _lower_calls(tokens, ("len", "length"), lower)


def _json_path_literal(v: str) -> str:
    """Normalize a DuckDB JSON path value to Spark's $-style."""
    if v.startswith("$"):
        return v
    if v.startswith("/"):
        return "$." + ".".join(p for p in v.split("/") if p)
    return f"$.{v}"



def _shortest_double_core_sql(
    sexpr: str, lo: int, hi: int, yy: bool
) -> str:
    """DuckDB-exact shortest-round-trip render of the Java repr STRING
    ``sexpr`` — emitted as a call to the compiled session UDF
    ``__duck_repr_j`` (jvm/duckspark/DuckRepr.java, registered by
    functions/jvm_udfs.py), so every call site is O(1) instead of the
    retired ~23 KB inline template that overran Catalyst's resolution
    fixed-point (VERDICT r10). The UDF mirrors the template's contract
    byte-for-byte: NULL/NaN/Infinity spellings, no-'E' passthrough,
    and BigDecimal HALF_EVEN candidate selection (= Dragonbox's
    closest-with-ties-to-even, subsuming the dense-band machinery);
    fuzz-verified on 283k draws vs DuckDB CAST/to_json. ScalaUDFs
    resolve inside higher-order-function lambdas (probed), so lambda
    scope needs no inline fallback."""
    yl = "true" if yy else "false"
    return f"__duck_repr_j(({sexpr}), {lo}, {hi}, {yl})"


def _fmtlib_double_sql(dexpr: str) -> str:
    """Render a DOUBLE exactly like fmtlib's ``{}`` (DuckDB
    ``format()`` receives DECIMAL/DOUBLE args as doubles): shortest
    round-trip digits, plain decimal with a ``.0`` integer suffix for
    decimal exponents in [-4, 15], otherwise ``<digits>e±NN`` (signed,
    two-digit-minimum exponent — exactly Java's ``%e`` shape, so the
    minimal candidate is emitted verbatim); ``nan``/``inf`` spellings
    follow fmtlib. See ``_shortest_double_core_sql``."""
    return _shortest_double_core_sql(
        f"CAST(({dexpr}) AS STRING)", -4, 15, yy=False
    )


# JSON-RETURNING extraction (DuckDB's -> / json_extract): DuckDB hands
# back JSON text, so a STRING leaf arrives QUOTED ('"abc"').
# get_json_object alone unquotes string leaves; a variant type-probe
# re-quotes exactly those. Numeric leaves match yyjson exactly:
# BIGINT/in-range integer leaves keep get_json_object's source text
# (canonical integer JSON), DOUBLE leaves (scientific-notation
# sources) and DECIMAL leaves with a fraction or beyond the
# int64/uint64 range (yyjson parses those as doubles) re-render
# through the shortest-round-trip writer in yyjson mode
# (``_shortest_double_core_sql(..., yy=True)``).
# Catalyst's subexpression elimination collapses the repeated
# parse_json.
# Object/array values whose rendering might diverge from yyjson's
# re-render of the numbers inside: scientific notation, >=19-digit
# integer runs, fractions with a trailing zero, or >=17-digit
# fractions. False positives only cost the (exact) normalization UDF;
# everything else keeps the JVM-only get_json_object path.
_JSON_NUM_RERENDER_RE = (
    r"[0-9][eE][+-]?[0-9]|[0-9]{19}"
    r"|[0-9]\.[0-9]*0([^0-9]|$)|\.[0-9]{17}"
)


def _json_get_sql(
    src: str, path: str, allow_udf: bool = True, py_udf_ctx: bool = False
) -> str:
    vg = f"variant_get(parse_json({src}), {path})"
    sv = f"schema_of_variant({vg})"
    gjo = f"get_json_object({src}, {path})"
    # inlined core, never the __duck_yy_repr SQL function: SQL-function
    # arguments are hoisted into a Project at inlining time and evaluate
    # EAGERLY, but CAST(variant AS DOUBLE) must stay behind the CASE
    # guard (it raises INVALID_VARIANT_CAST for OBJECT/ARRAY variants);
    # HOF-lambda scope additionally cannot resolve SQL functions at all
    if py_udf_ctx:
        # inside a Python UDF's argument the lambda-bound core defeats
        # ExtractPythonUDFs (see _PY_UDF_FNS) — the exact Python twin
        # chains instead. Extraction HOISTS UDF arguments past the
        # CASE guard (eager evaluation), so the variant hop must be
        # TRY_CAST: container variants yield NULL instead of raising
        # INVALID_VARIANT_CAST; the reached branch is value-identical.
        dbl = (
            "__duck_render_yy("
            f"CAST(TRY_CAST({vg} AS DOUBLE) AS STRING))"
        )
    else:
        dbl = _shortest_double_core_sql(
            f"CAST(CAST({vg} AS DOUBLE) AS STRING)", -6, 20, yy=True
        )
    heur = _encode_spark_string(_JSON_NUM_RERENDER_RE).text
    # the container-normalization UDF cannot appear inside a
    # higher-order-function lambda (Spark restriction) — callers in
    # lambda scope pass allow_udf=False and keep the source-faithful
    # container rendering there
    udf_branch = (
        f"WHEN {gjo} RLIKE {heur} THEN __yyjson_norm({gjo}) "
        if allow_udf
        else ""
    )
    return (
        f"(CASE WHEN {sv} = 'STRING' THEN to_json({vg}) "
        f"WHEN {sv} = 'DOUBLE' OR ({sv} LIKE 'DECIMAL%' AND ("
        f"{sv} NOT LIKE '%,0)' "
        f"OR CAST({vg} AS DECIMAL(38,0)) > 18446744073709551615 "
        f"OR CAST({vg} AS DECIMAL(38,0)) < -9223372036854775808)) "
        f"THEN {dbl} "
        f"{udf_branch}"
        f"ELSE {gjo} END)"
    )


def _rewrite_json_arrows(tokens: List[Token]) -> List[Token]:
    """DuckDB JSON extraction operators ``->`` (JSON) and ``->>``
    (text) -> ``get_json_object``; integer right operands become
    ``$[n]`` array paths. Lambda arrows (a direct argument of a
    higher-order function) are untouched. The ``->`` variant's one
    divergence: a STRING leaf comes back unquoted (Spark has no JSON
    type) — documented in COVERAGE.md."""
    out: List[Token] = []
    stack: List[str] = []
    i = 0
    n = len(tokens)
    py_spans = _py_udf_arg_spans(tokens)
    prev_code: Optional[Token] = None
    while i < n:
        tok = tokens[i]
        if tok.kind == "op" and tok.text == "(":
            owner = (
                prev_code.text.lower()
                if prev_code is not None and prev_code.kind == "word"
                else ""
            )
            stack.append(owner)
        elif tok.kind == "op" and tok.text == ")":
            if stack:
                stack.pop()
        elif tok.kind == "op" and tok.text in ("->", "->>"):
            if not (stack and stack[-1] in _LAMBDA_FNS):
                j = _next_code(tokens, i)
                if j < n and tokens[j].kind in ("string", "number", "word"):
                    rt = tokens[j]
                    path = None
                    if rt.kind == "string":
                        path = _json_path_literal(_decode_spark_string(rt))
                    elif rt.kind == "number" or (
                        rt.kind == "word" and rt.text.isdigit()
                    ):
                        path = f"$[{rt.text}]"
                    if path is not None:
                        left = _pop_operand(out)
                        left_sql = "".join(t.text for t in left).strip()
                        p_lit = _encode_spark_string(path).text
                        if tok.text == "->":
                            out.extend(_toks(
                                " " + _json_get_sql(
                                    left_sql,
                                    p_lit,
                                    # no Python UDF under a HOF lambda
                                    allow_udf=not any(
                                        s in _LAMBDA_FNS for s in stack
                                    ),
                                    py_udf_ctx=i in py_spans,
                                )
                            ))
                        else:
                            out.extend(_toks(
                                f" get_json_object({left_sql}, {p_lit})"
                            ))
                        prev_code = out[-1]
                        i = j + 1
                        continue
        out.append(tok)
        if tok.kind not in ("ws", "comment"):
            prev_code = tok
        i += 1
    return out


def _rewrite_division_double(tokens: List[Token]) -> List[Token]:
    """DuckDB division/modulo semantics for ``/``, ``%``, ``//``.

    ``/`` ALWAYS produces DOUBLE in DuckDB (integer/integer and
    decimal/decimal included); Spark keeps DECIMAL division with a
    capped result scale (e.g. ``100 / 7.5579`` -> decimal(13,6), six
    significant decimals of drift). Casting the DIVISOR to DOUBLE forces
    Spark's division to double for every numeric operand combination
    while leaving interval-numerator division intact.

    All three operators return NULL on a zero divisor in DuckDB, where
    Spark's ANSI mode raises DIVIDE_BY_ZERO — a ``nullif`` on the
    divisor reproduces the NULL (type-preserving for ``%``/``//``).
    ``//`` becomes Spark's ``DIV`` here (superseding the plain swap in
    ``_rewrite_simple``) so its divisor gets the same guard."""

    def lower(tokens, i, out):
        tok = tokens[i]
        j = _next_code(tokens, i)
        if j >= len(tokens):
            return None
        end = _capture_operand(tokens, j)
        divisor = _rewrite_division_double(tokens[j:end])
        if tok.text == "/":
            out.append(tok)
            out.extend(_toks(" nullif(CAST("))
            out.extend(divisor)
            out.extend(_toks(" AS DOUBLE), CAST(0 AS DOUBLE))"))
        else:
            out.append(Token("word", " DIV ") if tok.text == "//" else tok)
            out.extend(_toks(" nullif("))
            out.extend(divisor)
            out.extend(_toks(", 0)"))
        return end

    return _lower_sites(tokens, {"/", "%", "//"}, lower)


def _round_double_sql(x: str, k: int) -> str:
    """DuckDB rounds DOUBLE/FLOAT with ``std::round(x * pow(10, k)) /
    pow(10, k)`` (negative k divides then multiplies back) — half AWAY
    FROM ZERO on the SCALED double, verified: ``round(0.125::DOUBLE,
    2)`` = 0.13 but ``round(-33239.3875::DOUBLE, 3)`` = -33239.387
    because the scaled product is 3.87499999...e7 in binary. Spark's
    round() instead re-reads the double's shortest decimal string and
    applies HALF_UP, yielding ...388 — a whole last-digit divergence at
    every representation boundary, not 1 ulp.

    ``floor(s + 0.5)`` (negated for negative s to keep half-away and
    IEEE -0.0) reproduces std::round exactly for |s| < 2^52 (the +0.5
    add is exact there: halves are representable). At |s| >= 2^52 every
    double is integral so std::round(s) = s — but DuckDB still UNSCALES
    that value, and (x*p)/p is NOT always x (1-ulp multiply/divide
    drift), so the scaled value passes through the unscale rather than
    short-circuiting to the input (r9: the old >= 2^53 return-input
    guard diverged from DuckDB on ~20% of guard-region doubles, and
    floor(s + 0.5) itself mis-rounds odd integers in [2^52, 2^53) where
    the +0.5 tie breaks upward). Positive k never overflows on unscale
    (inf input falls out of abs(s) >= 2^52 as inf/p = inf = DuckDB's
    return-input); negative k CAN overflow the multiply-back, where
    DuckDB returns +0.0 (round(1.7e308, -20) = 0.0; NaN at negative k
    is also +0.0). Verified exact vs DuckDB over 270k randomized
    (value, scale) pairs incl. specials for k in [-400, 400]. typeof()
    dispatches non-floating inputs to Spark round (DECIMAL: HALF_UP =
    DuckDB's half-away; INTEGER: the union type makes the result
    DOUBLE, which is also DuckDB's integer-round type).

    Since r12 the DOUBLE branch is the compiled
    ``jvm/duckspark/DuckRound.java`` core — the same formula (the
    retired inline CASE cascade lives on as the Python twin below,
    A/B-fuzzed equal): the cascade cost ~2 KB of expression tree per
    round() site and Catalyst analysis on round-heavy statements (q67:
    6 s) was dominated by resolving those trees."""
    xd = f"CAST(({x}) AS DOUBLE)"
    return (
        f"(CASE WHEN typeof({x}) IN ('double', 'float') THEN "
        f"__duck_round_j({xd}, {k}) "
        f"ELSE round(({x}), {k}) END)"
    )


def _round_double_dynamic_sql(x: str, k_sql: str) -> str:
    """``round(x, k)`` with a RUNTIME scale: Spark's round() rejects a
    non-foldable scale outright (NON_FOLDABLE_INPUT), so the dynamic
    form lowers to the same scaled-multiply arithmetic as
    ``_round_double_sql`` with the power parsed at runtime —
    ``CAST(concat('1e', abs(k)) AS DOUBLE)`` — exactly the values
    DuckDB's pow(10, k) produces, since glibc pow is correctly rounded
    for integer powers and Java's parseDouble is too (verified equal
    for all 309 finite powers; '1e309' parses to Infinity even under
    ANSI, which IS the wanted inf-power fallback).
    DuckDB-exact for EVERY int32 scale (r9; verified over 270k
    randomized pairs incl. specials): |k| >= 309 clamps onto the
    Infinity power, whose NaN-producing unscale reproduces DuckDB's
    return-input (k positive) / +0.0 (k negative) fallbacks; a
    multiply-back overflow at negative k lands on +0.0 exactly like
    DuckDB. DECIMAL inputs raise, exactly like DuckDB ('ROUND(DECIMAL,
    INTEGER) with non-constant precision is not supported'); INTEGER
    inputs take the DOUBLE path (DuckDB's int/double union typing).
    Since r12 the arithmetic is the same compiled
    ``jvm/duckspark/DuckRound.java`` core as the literal-scale form
    (DuckRound clamps |k| to the Infinity power internally); only the
    DECIMAL raise stays in SQL."""
    return (
        "(element_at(transform(array(named_struct("
        f"'v', ({x}), 'k', CAST(({k_sql}) AS INT))), __rk -> "
        "CASE WHEN typeof(__rk.v) LIKE 'decimal%' THEN "
        "CAST(raise_error('ROUND(DECIMAL, INTEGER) with non-constant "
        "precision is not supported') AS DOUBLE) "
        "ELSE __duck_round_j(CAST(__rk.v AS DOUBLE), __rk.k) END"
        "), 1))"
    )


def _duck_round_double_py(v: float, k: int) -> float:
    """Python twin of ``_round_double_sql``'s DOUBLE branch (same ops
    on the same doubles — the ``1e{k}`` literal parse matches DuckDB's
    correctly-rounded pow(10, k), and the floor/+0.5 arithmetic is
    IEEE-exact below 2^52; above, round(s) = s passes through the
    unscale like DuckDB's std::round does). Verified exact vs DuckDB
    over 270k randomized (value, scale) pairs for k in [-400, 400]."""
    import math

    p = float(f"1e{abs(k)}") if abs(k) <= 308 else math.inf
    s = v * p if k >= 0 else v / p
    if math.isnan(s):
        return v if k >= 0 else 0.0
    if abs(s) >= 4503599627370496.0:  # 2^52: s is integral, round(s)=s
        r = s
    elif math.copysign(1.0, s) < 0:
        r = -float(math.floor(-s + 0.5))  # keeps IEEE -0.0
    else:
        r = float(math.floor(s + 0.5))
    res = r / p if k >= 0 else r * p
    if math.isnan(res) or math.isinf(res):
        return v if k >= 0 else 0.0
    return res


_CAST_DBL_LIT_RE = re.compile(
    r"CAST\(\s*'?(-?(?:\d+\.?\d*|\.\d+)(?:[eE][+-]?\d+)?)'?"
    r"\s+AS\s+DOUBLE\s*\)",
    re.IGNORECASE,
)
_ROUND_LIT_RE = re.compile(r"(-?)(\d+)(?:\.(\d+))?([eE][+-]?\d+)?")

_CHAIN_TOK_RE = re.compile(
    r"\d+\.\d+|\d+|[A-Za-z_]\w*(?:\.[A-Za-z_]\w*)*|[(),+*-]|\s+|."
)

#: rounding-call leaves the chain parser types through (r12): DuckDB's
#: result rules, probed — round(DECIMAL(w,s), k) -> DECIMAL(w,
#: min(s, max(k, 0))) with the k<0 width clamp; ceil/floor/trunc
#: (DECIMAL(w,s)) -> DECIMAL(w, 0); trunc(INTEGER) is the
#: type-preserving identity while round/ceil/floor on INTEGER go
#: DOUBLE (bail)
_CHAIN_CALL_LEAVES = frozenset({"round", "ceil", "ceiling", "floor", "trunc"})

#: DuckDB's DECIMAL image of the integer types (hint spellings)
_INT_HINT_WIDTHS = {"tinyint": 3, "smallint": 5, "int": 10, "bigint": 19}

# decimal-width -> exclusive magnitude bound of the backing int type
_INT_WIDTH_BOUNDS = {3: 2**7, 5: 2**15, 10: 2**31, 19: 2**63}


def _int_value_fits(val, width: int) -> bool:
    """Whether an exact integer value fits the physical integer type a
    claimed decimal width maps to — DuckDB throws an overflow error at
    runtime when it doesn't, so the fold must bail (value-vs-error
    divergence otherwise)."""
    bound = _INT_WIDTH_BOUNDS.get(width)
    if bound is None:
        return width > 19  # HUGEINT-class: treat as fitting
    return -bound <= val < bound


def _parse_literal_decimal_chain(text: str):
    """``(Decimal value | None, width, scale, is_integer)`` of a
    ``+ - *`` chain over numeric literals, DECIMAL/INTEGER-hinted
    plain column refs, and (r12) round/ceil/floor/trunc call leaves,
    under DuckDB's DECIMAL typing; None when any leaf is something
    else (exponents, other calls, unhinted names), another
    operator appears, or the combined width exceeds DECIMAL(38). The
    value is exact for all-literal chains and None as soon as a
    column leaf participates — the negative-scale round fold needs
    the value, the width CLAMP decision only needs (width, scale).
    Typing rules (probed against DuckDB 1.0, see test_dialect
    round-11 battery): a literal's width counts its digits AS WRITTEN
    (000.5 is DECIMAL(4,1)); INTEGER leaves join as DECIMAL(10,0)
    (BIGINT-sized as 19,0); ``+``/``-`` give
    w = max(w1-s1, w2-s2) + max(s1,s2) + 1, s = max(s1,s2); ``*``
    gives w = w1+w2, s = s1+s2."""
    from decimal import Decimal

    hints = _TYPE_HINTS.get() or {}
    # comparison/other operator chars are only legal inside a searched
    # CASE's condition or a CAST's operand (both skipped opaquely);
    # outside those the grammar never consumes them and the
    # full-consumption check at the end rejects the chain
    has_case = (
        re.search(r"(?i)\b(case|cast)\b", text) is not None
    )
    toks: List[str] = []
    for m in _CHAIN_TOK_RE.finditer(text):
        t = m.group(0)
        if t.isspace():
            continue
        if t in "(),+-*" or t[0].isdigit() or t[0].isalpha() or t[0] == "_":
            toks.append(t)
        elif has_case:
            toks.append(t)
        else:
            return None
    pos = [0]

    def peek():
        return toks[pos[0]] if pos[0] < len(toks) else None

    def take():
        t = peek()
        pos[0] += 1
        return t

    # nodes are (value | None, width, scale, is_int): an all-INTEGER
    # subtree stays INTEGER in DuckDB (0 + 0 is INTEGER, not
    # DECIMAL(11,0)) — its DECIMAL image (10/19, 0) materializes only
    # when the subtree meets a decimal operand (hypothesis-found)
    def primary():
        t = take()
        if t == "(":
            v = expr()
            if v is None or take() != ")":
                return None
            return v
        if t is None or t in "),+-*":
            return None
        if (
            t.lower() in _CHAIN_CALL_LEAVES
            and peek() == "("
        ):
            return call_leaf(t.lower())
        if t.lower() == "case" and peek() is not None and str(
            peek()
        ).lower() == "when":
            return case_leaf()
        if t.lower() == "cast" and peek() == "(":
            return cast_leaf()
        if t[0].isalpha() or t[0] == "_":
            # plain (possibly qualified) column ref: hinted type only.
            # A dotted ref whose FIRST segment is a STRUCT-hinted
            # column is a field access, not a table-qualified column —
            # bail rather than mis-resolve the last segment's hint
            segs = t.split(".")
            if len(segs) > 1 and str(
                hints.get(segs[0].lower(), "")
            ).startswith("struct<"):
                return None
            h = hints.get(segs[-1].lower(), "")
            mm = re.fullmatch(r"decimal\((\d+),(\d+)\)", h)
            if mm:
                return (None, int(mm.group(1)), int(mm.group(2)), False)
            if h in _INT_HINT_WIDTHS:
                return (None, _INT_HINT_WIDTHS[h], 0, True)
            return None
        if not t[0].isdigit():
            return None
        if "." in t:
            if t.count(".") != 1:
                return None
            ip, fp = t.split(".")
            return (Decimal(t), len(ip) + len(fp), len(fp), False)
        n = int(t)
        if n < 2**31:
            return (Decimal(n), 10, 0, True)
        if n < 2**63:
            return (Decimal(n), 19, 0, True)
        return None

    def case_leaf():
        # searched CASE (r13): result type is the UNION of the
        # THEN/ELSE branch types — max integer digits + max scale,
        # NULL branches don't constrain, all-INTEGER stays INTEGER at
        # the max width (probed, see test battery). Conditions are
        # skipped opaquely (any tokens up to the depth-0 THEN), so
        # `mad(d) FILTER (WHERE ...)`'s folded CASE argument keeps the
        # DECIMAL dispatch. Value is never folded (None).
        acc = None

        def union(a, b):
            if a is None:
                return b
            _va, wa, sa, ia = a
            _vb, wb, sb, ib = b
            if ia and ib:
                return (None, max(wa, wb), 0, True)
            s = max(sa, sb)
            w = max(wa - sa, wb - sb) + s
            if w > 38:
                return None
            return (None, w, s, False)

        while True:
            kw = take()
            if kw is None:
                return None
            k = kw.lower()
            if k == "when":
                depth = 0
                cdepth = 0
                while True:
                    nt = peek()
                    if nt is None:
                        return None
                    if nt in ("'", '"'):
                        # the flat scan is not quote-aware: a string
                        # literal containing THEN/parens would corrupt
                        # the skip — bail to the double path instead
                        return None
                    if nt == "(":
                        depth += 1
                    elif nt == ")":
                        if depth == 0:
                            return None
                        depth -= 1
                    elif nt[0].isalpha() or nt[0] == "_":
                        nl = nt.lower()
                        if nl == "case":
                            cdepth += 1
                        elif nl == "end":
                            if cdepth == 0:
                                return None
                            cdepth -= 1
                        elif nl == "then" and depth == 0 and cdepth == 0:
                            take()
                            break
                    take()
            elif k == "else":
                pass
            elif k == "end":
                return acc
            else:
                return None
            nt = peek()
            if nt is not None and nt.lower() == "null":
                take()
                continue
            b = expr()
            if b is None:
                return None
            acc = union(acc, b)
            if acc is None:
                return None

    def cast_leaf():
        # CAST(<anything> AS DECIMAL(w,s) | <integer type>) is
        # statically typed REGARDLESS of the operand (r13) — the
        # operand is skipped opaquely to the cast's own top-level AS
        # (quote-bearing operands bail: the flat scan is not
        # quote-aware; a nested CAST's AS sits at depth > 0)
        if take() != "(":
            return None
        depth = 0
        while True:
            nt = peek()
            if nt is None:
                return None
            if nt in ("'", '"'):
                return None
            if nt == "(":
                depth += 1
                take()
                continue
            if nt == ")":
                if depth == 0:
                    return None  # no top-level AS
                depth -= 1
                take()
                continue
            if (
                depth == 0
                and (nt[0].isalpha() or nt[0] == "_")
                and nt.lower() == "as"
            ):
                take()
                break
            take()
        ty = take()
        if ty is None:
            return None
        tyl = ty.lower()
        if tyl in ("decimal", "numeric") and peek() == "(":
            take()
            w2, c2, s2, cp2 = take(), take(), take(), take()
            if not (
                w2 and w2.isdigit() and c2 == ","
                and s2 and s2.isdigit() and cp2 == ")"
            ):
                return None
            if take() != ")":
                return None
            if int(w2) > 38 or int(s2) > int(w2):
                return None
            return (None, int(w2), int(s2), False)
        ity = {"integer": "int", "int4": "int", "int8": "bigint",
               "int2": "smallint", "int1": "tinyint"}.get(tyl, tyl)
        if ity in _INT_HINT_WIDTHS:
            if take() != ")":
                return None
            return (None, _INT_HINT_WIDTHS[ity], 0, True)
        return None

    def call_leaf(fn):
        from decimal import ROUND_HALF_UP, Decimal, localcontext

        take()  # the '('
        inner = expr()
        if inner is None:
            return None
        k = 0
        if fn == "round" and peek() == ",":
            take()
            neg = False
            while peek() in ("+", "-"):
                neg ^= take() == "-"
            kt = peek()
            if kt is None or not kt.isdigit():
                return None
            take()
            k = -int(kt) if neg else int(kt)
        if take() != ")":
            return None
        val, w, s, is_int = inner
        if is_int:
            # round/ceil/floor(INTEGER) are DOUBLE in DuckDB; only
            # trunc is the type-preserving identity
            if fn == "trunc":
                return inner
            return None
        if fn != "round":
            # ceil/floor/trunc(DECIMAL(w,s)) -> DECIMAL(w, 0)
            if val is None:
                return (None, w, 0, False)
            mode = {"ceil": "ROUND_CEILING", "ceiling": "ROUND_CEILING",
                    "floor": "ROUND_FLOOR", "trunc": "ROUND_DOWN"}[fn]
            import decimal as _d
            with localcontext() as ctx:
                ctx.prec = 80
                return (val.quantize(Decimal(1), rounding=getattr(_d, mode)),
                        w, 0, False)
        s2 = min(s, max(k, 0))
        if val is None:
            return (None, w, s2, False)
        if k >= s:
            return (val, w, s, False)
        if k >= 0:
            with localcontext() as ctx:
                ctx.prec = 80
                q = val.quantize(
                    Decimal(1).scaleb(-k), rounding=ROUND_HALF_UP
                )
            return (q, w, s2, False)
        # k < 0: DuckDB's absolute width clamp, else half-away on
        # value/10^|k| scaled back (same rule as _duck_decimal_round_neg)
        if -k >= w - s:
            return (Decimal(0), w, 0, False)
        with localcontext() as ctx:
            ctx.prec = 80
            q = val.scaleb(k).quantize(
                Decimal(1), rounding=ROUND_HALF_UP
            ).scaleb(-k).quantize(Decimal(1))  # scale-0 form, not 1.2E+2
        return (q, w, 0, False)

    def factor():
        neg = False
        while peek() in ("+", "-"):
            neg ^= take() == "-"
        v = primary()
        if v is None:
            return None
        if neg and v[0] is not None:
            return (-v[0], v[1], v[2], v[3])
        return v

    def term():
        v = factor()
        while v is not None and peek() == "*":
            take()
            r = factor()
            if r is None:
                return None
            val = (
                v[0] * r[0]
                if v[0] is not None and r[0] is not None
                else None
            )
            if v[3] and r[3]:
                # INTEGER * INTEGER stays INTEGER (wider rank wins) —
                # but a known exact value that no longer fits the
                # claimed integer width is a DuckDB runtime overflow
                # error (300000*300000 throws on INT32), so bail rather
                # than silently fold a value the oracle would reject
                iw = max(v[1], r[1])
                if val is not None and not _int_value_fits(val, iw):
                    return None
                v = (val, iw, 0, True)
                continue
            w = v[1] + r[1]
            if w > 18 and v[1] <= 18 and r[1] <= 18:
                # int64-backed operands whose formula width crosses 18:
                # DuckDB caps to 18 or promotes with an extra digit
                # depending on the scale ((10,0)*(12,1) -> (18,1) but
                # (17,17)*(2,1) -> (20,18), probed) — bail rather than
                # replicate the internal-type heuristics
                return None
            v = (val, w, v[2] + r[2], False)
            if v[1] > 38:
                return None
        return v

    def expr():
        v = term()
        while v is not None and peek() in ("+", "-"):
            op = take()
            r = term()
            if r is None:
                return None
            if v[0] is None or r[0] is None:
                val = None
            else:
                val = v[0] + r[0] if op == "+" else v[0] - r[0]
            if v[3] and r[3]:
                # INTEGER +/- INTEGER stays INTEGER; same overflow
                # bail as multiply (2147483647 + 1 throws on INT32)
                iw = max(v[1], r[1])
                if val is not None and not _int_value_fits(val, iw):
                    return None
                v = (val, iw, 0, True)
                continue
            s = max(v[2], r[2])
            w = max(v[1] - v[2], r[1] - r[2]) + s + 1
            if w > 18 and v[1] <= 18 and r[1] <= 18:
                # same int64 width-crossing cap as multiply (probed:
                # (18,1)+(2,1) -> (18,1), not the formula's 19) — bail
                return None
            if w > 38:
                return None
            v = (val, w, s, False)
        return v

    v = expr()
    if v is None or pos[0] != len(toks):
        return None
    return v


def _duck_decimal_round_neg(v, w: int, s: int, k: int) -> str:
    """DuckDB's negative-scale DECIMAL round, replicated exactly
    (probed, DuckDB 1.0): the result is DECIMAL(w, 0); when
    ``|k| >= w - s`` the engine short-circuits to 0 REGARDLESS of the
    value's magnitude (round(7.0005::DECIMAL(5,4), -1) = 0 — the
    much-discussed 'inconsistency' is this deterministic width clamp),
    otherwise half-away-from-zero on value / 10^|k|, scaled back."""
    from decimal import ROUND_HALF_UP, Decimal, localcontext

    if -k >= w - s:
        return "0"
    with localcontext() as ctx:
        ctx.prec = 80
        q = v.scaleb(k).quantize(
            Decimal(1), rounding=ROUND_HALF_UP
        ).scaleb(-k)
    if q == 0:
        return "0"  # DECIMAL has no signed zero
    return format(q, "f")


def _fold_literal_round(x: str, k: int, orig: Optional[str] = None) -> Optional[str]:
    """Constant-fold ``round(<literal>, k)`` at translate time —
    DuckDB-exact (DECIMAL literals: half-away quantize keeping scale
    min(k, scale); DOUBLE literals / negative k: the double formula).
    Nested literal rounds otherwise explode multiplicatively: each
    template replicates its operand ~7x, and inside Python-UDF
    arguments the lambda-free inlining compounds it (a fuzz-found
    round-in-round-in-format reached 657 KB of SQL and OOM'd the
    analyzer). Returns None for non-literal operands.

    ``orig`` is the argument BEFORE the recursive round rewrite: an
    inner round folds to a bare integer literal (losing its
    DECIMAL(w, 0) DuckDB typing), so nested round-over-round is typed
    through the chain parser's round/ceil/floor/trunc call leaves on
    the original spelling (r12 — fixes round(round(7.0005, 3), -1):
    DuckDB 10, previously 0 from the as-written inner width)."""
    if orig is not None:
        chain0 = _parse_literal_decimal_chain(f"round(({orig}), {k})")
        if chain0 is not None and chain0[0] is not None and not chain0[3]:
            q0 = chain0[0]
            if q0 == 0:
                q0 = abs(q0)  # DECIMAL has no signed zero
            return format(q0, "f")
    s = x.strip()
    while s.startswith("(") and s.endswith(")"):
        inner2 = s[1:-1].strip()
        depth = 0
        ok = True
        for ch in inner2:
            if ch == "(":
                depth += 1
            elif ch == ")":
                depth -= 1
                if depth < 0:
                    ok = False
                    break
        if not ok or depth != 0:
            break
        s = inner2
    def _emit_double(v: float) -> Optional[str]:
        import math

        if math.isnan(v) or math.isinf(v):
            return None
        # STRING parse keeps IEEE -0.0 (a bare -0.0 literal parses as
        # DECIMAL, which has no signed zero)
        return f"CAST('{v!r}' AS DOUBLE)"

    m = _CAST_DBL_LIT_RE.fullmatch(s)
    if m:
        return _emit_double(_duck_round_double_py(float(m.group(1)), k))
    if k < 0:
        # fractional DECIMAL literal/chain at negative scale: DuckDB's
        # width-clamped half-away rule, replicated exactly from the
        # statically known literal widths (r11; the r9 'internally
        # inconsistent' reading was the DECIMAL(w,0) width clamp)
        chain = _parse_literal_decimal_chain(s)
        if chain is not None and chain[0] is not None and not chain[3]:
            # any DECIMAL-typed chain, including scale-0 results of
            # round/ceil/floor leaves (round(round(5.5, 0), -1) is
            # DECIMAL, not the int/double union)
            return _duck_decimal_round_neg(chain[0], chain[1], chain[2], k)
    m2 = _ROUND_LIT_RE.fullmatch(s)
    if m2 is None:
        return None
    if m2.group(4) or k < 0 or not m2.group(3):
        # double literal, negative scale, or INTEGER literal — DuckDB
        # types all of those DOUBLE (round(125, -1) = 130.0,
        # round(-7, 4) = -7.0: the int/double union type is DOUBLE).
        # Integer literals convert via int() so '-0' stays unsigned
        # zero like an integer -0 does in DuckDB
        v = (
            float(int(s))
            if not m2.group(3) and not m2.group(4)
            else float(s)
        )
        return _emit_double(_duck_round_double_py(v, k))
    from decimal import ROUND_HALF_UP, Decimal

    d = Decimal(s)
    scale = len(m2.group(3) or "")
    q = d.quantize(
        Decimal(1).scaleb(-min(k, scale)), rounding=ROUND_HALF_UP
    )
    return format(q, "f")


_PLAIN_NUM_CHAIN_RE = re.compile(r"^\d+(\.\d+)?$")

# Functions whose LATER rewrite passes expand the call text many-fold
# (product's sign/zero decomposition ~25x, two-phase entropy, mad's
# restructure, the sample-moment corrections). A round() template that
# inlines such an operand 9x multiplies the downstream expansion —
# q42's 396-byte source translated to 10 KB and cost ~4 s of analysis.
# Operands containing these bind once even when short.
_EXPANDING_FNS = frozenset({
    "product", "entropy", "mad", "skewness", "kurtosis",
    "quantile_cont", "quantile_disc", "format", "list_aggregate",
    "regexp_replace",
})


def _contains_expanding_call(arg_tokens: List[Token]) -> bool:
    n = len(arg_tokens)
    for k, t in enumerate(arg_tokens):
        if t.kind == "word" and t.text.lower() in _EXPANDING_FNS:
            nk = _next_code(arg_tokens, k)
            if nk < n and arg_tokens[nk].kind == "op" \
                    and arg_tokens[nk].text == "(":
                return True
        # a window call's spec expands later (frame EXCLUDE lowers to
        # the collect_list machinery) and is heavy to re-analyze even
        # when it doesn't — always bind over OVER
        if t.kind == "word" and t.text.lower() in ("over", "exclude"):
            return True
    return False


# The fns whose DuckDB result type is a function of the argument type
# in a way this translator's emissions REPRODUCE when the argument is
# statically known (see _static_numeric_type): abs is untouched
# (native, type-preserving both engines); trunc is type-preserving in
# DuckDB (int -> int, decimal -> DECIMAL(p,0)); ceil/floor/round keep
# DECIMAL for decimal args but go DOUBLE for ints (the int/double
# union type), which the templates' CASE coercion reproduces.


def _static_numeric_type(arg_tokens: List[Token]) -> Optional[str]:
    """'decimal' / 'decimal0' (decimal with scale KNOWN 0) / 'int' when
    the expression's type is statically known AND this translator's own
    emissions preserve it natively — plain numeric literals,
    DECIMAL/INTEGER-hinted plain column refs, + - * chains over those,
    and nestings of abs / trunc / ceil / floor / round(x, literal k)
    per DuckDB's typing rules. None otherwise (exponent literals,
    division, unknown columns, any other call). Used by the
    round/ceil/floor/trunc rewrites to decide when to SKIP their
    typeof templates: a statically DECIMAL operand keeps the native
    decimal path (the template's CASE would coerce it to DOUBLE and
    lose the scale-keeping rendering — fuzz-found twice:
    round(100 + 0.2420, 4) and round(ceil(8.5789), 4)). The detector
    mirrors the emissions: round at a NEGATIVE scale stays native only
    for scale-0 operands (ceil/floor/trunc outputs — probed identical
    across both engines); FRACTIONAL decimals at negative scales keep
    the template because DuckDB's own rounding is internally
    inconsistent there (round(7.0005, -1) = 0 but round(15.0, -1) =
    20), so their static type is None through a negative-scale
    round."""
    code = [t for t in arg_tokens if t.kind not in ("ws", "comment")]
    return _snt_rec(code, 0)


def _snt_rec(code: List[Token], depth: int) -> Optional[str]:
    if depth > 24 or not code:
        return None
    while (
        len(code) >= 3
        and code[0].kind == "op" and code[0].text == "("
        and _matching_paren(code, 0) == len(code) - 1
    ):
        code = code[1:-1]
    while code and code[0].kind == "op" and code[0].text in ("+", "-"):
        code = code[1:]
    if not code:
        return None
    # split on top-level binary + - * (a sign at a part start is unary)
    parts: List[List[Token]] = []
    cur: List[Token] = []
    d = 0
    for t in code:
        if t.kind == "op":
            if t.text == "(":
                d += 1
            elif t.text == ")":
                d -= 1
            elif d == 0 and t.text in ("+", "-", "*"):
                if cur:
                    parts.append(cur)
                    cur = []
                continue
        cur.append(t)
    parts.append(cur)
    if not parts[-1]:
        return None
    if len(parts) > 1:
        types = [_snt_rec(p, depth + 1) for p in parts]
        if any(ty is None for ty in types):
            return None
        # + - keep scale = max(scales); * sums them — in every case a
        # fractional part makes the result fractional, all-scale-0
        # parts keep scale 0, all-int stays int
        if "decimal" in types:
            return "decimal"
        return "decimal0" if "decimal0" in types else "int"
    c = parts[0]
    if len(c) == 1 and c[0].kind in ("word", "number") \
            and _PLAIN_NUM_CHAIN_RE.match(c[0].text):
        return "decimal" if "." in c[0].text else "int"
    if (
        len(c) >= 4
        and c[0].kind == "word" and c[0].upper == "CASE"
        and c[-1].kind == "word" and c[-1].upper == "END"
    ):
        # CASE result type = union of its THEN/ELSE branch types
        # (DuckDB: int+decimal unions to DECIMAL keeping the max
        # scale; NULL branches don't constrain). Mixed int/decimal
        # CASE operands previously fell to the typeof template, whose
        # dispatch CASE coerces the decimal branch to DOUBLE and
        # loses the scale-keeping rendering (r12 fuzz find:
        # round(CASE WHEN .. THEN int_col ELSE 30.4846 END, 4)
        # rendered '147.0' where DuckDB keeps '147.0000').
        exprs: List[List[Token]] = []
        cur2 = None
        d2 = 0
        cd = 0
        i2 = 1
        while i2 < len(c) - 1:
            t2 = c[i2]
            if t2.kind == "op":
                if t2.text == "(":
                    d2 += 1
                elif t2.text == ")":
                    d2 -= 1
            if d2 == 0 and t2.kind == "word":
                u = t2.upper
                if u == "CASE":
                    cd += 1
                elif u == "END":
                    cd -= 1
                elif cd == 0 and u == "WHEN":
                    if cur2 is not None:
                        exprs.append(cur2)
                        cur2 = None
                    i2 += 1
                    continue
                elif cd == 0 and u in ("THEN", "ELSE"):
                    if cur2 is not None:
                        exprs.append(cur2)
                    cur2 = []
                    i2 += 1
                    continue
            if cur2 is not None:
                cur2.append(t2)
            i2 += 1
        if cur2:
            exprs.append(cur2)
        tys = []
        for e in exprs:
            if (
                len(e) == 1
                and e[0].kind == "word"
                and e[0].upper == "NULL"
            ):
                continue
            tys.append(_snt_rec(e, depth + 1))
        if tys and all(ty is not None for ty in tys):
            if "decimal" in tys:
                return "decimal"
            return "decimal0" if "decimal0" in tys else "int"
        return None
    h = _hinted_primary_type(c) or ""
    if h.startswith("decimal"):
        return "decimal0" if h.endswith(",0)") else "decimal"
    if h in ("int", "bigint", "smallint", "tinyint"):
        return "int"
    if (
        len(c) >= 3
        and c[0].kind == "word"
        and c[1].kind == "op" and c[1].text == "("
        and _matching_paren(c, 1) == len(c) - 1
    ):
        fn = c[0].text.lower()
        args = _call_args(c, 1, len(c) - 1)

        def _arg_ty(a):
            return _snt_rec(
                [t for t in a if t.kind not in ("ws", "comment")],
                depth + 1,
            )

        if fn == "abs" and len(args) == 1:
            return _arg_ty(args[0])
        if fn == "trunc" and len(args) == 1:
            inner = _arg_ty(args[0])
            if inner in ("decimal", "decimal0"):
                return "decimal0"  # DECIMAL(p,0) output
            return inner  # int identity / None
        if fn in ("ceil", "ceiling", "floor") and len(args) == 1:
            inner = _arg_ty(args[0])
            return (
                "decimal0" if inner in ("decimal", "decimal0") else None
            )
        if fn == "round" and len(args) in (1, 2):
            k = 0
            if len(args) == 2:
                kc = [t for t in args[1] if t.kind not in ("ws", "comment")]
                sign = 1
                if len(kc) == 2 and kc[0].kind == "op" \
                        and kc[0].text == "-":
                    sign = -1
                    kc = kc[1:]
                if not (
                    len(kc) == 1
                    and kc[0].kind in ("number", "word")
                    and kc[0].text.isdigit()
                ):
                    return None
                k = sign * int(kc[0].text)
            inner = _arg_ty(args[0])
            if inner not in ("decimal", "decimal0"):
                return None
            if k < 0:
                # scale-0 operands stay native; a FRACTIONAL operand
                # is statically typed only when it is an all-literal
                # chain the r11 fold resolves (DECIMAL(w,0) output) —
                # non-literal fractional decimals keep the template
                # (None), the remaining documented corner
                if inner == "decimal0":
                    return "decimal0"
                if inner == "decimal" and _parse_literal_decimal_chain(
                    "".join(t.text for t in args[0])
                ) is not None:
                    return "decimal0"
                return None
            if k == 0 or inner == "decimal0":
                return "decimal0"  # output scale min(s, k) = 0
            return "decimal"
    return None


def _rewrite_round_double(tokens: List[Token]) -> List[Token]:
    """``round(x)`` / ``round(x, k)`` with any int32 literal k — see
    ``_round_double_sql``; literal operands constant-fold
    (``_fold_literal_round``); dynamic scales take
    ``_round_double_dynamic_sql``. A literal beyond int32 keeps Spark
    round (DuckDB's INTEGER-typed precision errors there too).
    Long operands are bound ONCE in a named_struct (type-preserving,
    so the typeof dispatch and the native ELSE branch still see the
    original type) — the template mentions its operand ~9x, which made
    round-over-a-window-EXCLUDE expansion analyze in seconds; inside
    Python-UDF argument spans the repeated-operand form is kept
    (lambdas there defeat ExtractPythonUDFs — see _PY_UDF_FNS).
    DECIMAL-typed operands the translator can SEE (fractional-literal
    arithmetic chains, DECIMAL-hinted plain column refs) keep the call
    untouched at k >= 0: Spark's native decimal round IS DuckDB's, and
    the template's typeof CASE would coerce the decimal result to
    DOUBLE (static branch typing), silently losing the scale-keeping
    rendering — fuzz-found via length(concat(s, round(100 + 0.2420,
    4))) = 11 in DuckDB ('100.2420') vs 10 off the coerced double
    ('100.242'). Negative k keeps the template: DuckDB's own
    fractional-decimal negative-scale rounding is internally
    inconsistent (see _fold_literal_round)."""

    def lower(call: _CallSite, walk):
        args = _call_args(call.tokens, call.p_open, call.close)
        k: Optional[int] = None
        if len(args) == 1:
            k = 0
        elif len(args) == 2:
            k_code = [
                t for t in args[1] if t.kind not in ("ws", "comment")
            ]
            sign = 1
            if (
                len(k_code) == 2
                and k_code[0].kind == "op"
                and k_code[0].text == "-"
            ):
                sign = -1
                k_code = k_code[1:]
            if (
                len(k_code) == 1
                and k_code[0].kind in ("number", "word")
                and k_code[0].text.isdigit()
                and -2147483648 <= sign * int(k_code[0].text) <= 2147483647
            ):
                k = sign * int(k_code[0].text)
        if k is not None:
            x = "".join(t.text for t in walk(args[0], call.in_py_udf)).strip()
            folded = _fold_literal_round(
                x, k,
                orig="".join(t.text for t in args[0]).strip(),
            )
            sty = (
                _static_numeric_type(args[0])
                if folded is None
                else None
            )
            if folded is None and (
                (k >= 0 and sty in ("decimal", "decimal0"))
                or (k < 0 and sty == "decimal0")
            ):
                # statically DECIMAL operand: native Spark
                # round matches DuckDB; the template would
                # coerce the result to DOUBLE
                return None
            if folded is None and k < 0 and sty == "decimal":
                # fractional DECIMAL chain (hinted plain
                # columns and/or literals): DuckDB's negative-
                # scale width clamp is statically decidable
                # from the chain's (w, s). The clamp is
                # ABSOLUTE — a clamped site is the constant 0
                # even on NULL input (probed, DuckDB 1.0);
                # non-clamped sites keep native Spark round,
                # whose decimal HALF_UP matches DuckDB's
                # half-away and DECIMAL(_,0) shape
                res = _parse_literal_decimal_chain(x)
                if res is not None and not res[3]:
                    return "0" if -k >= res[1] - res[2] else None
            if folded is not None:
                emitted = folded
            elif not call.in_py_udf and (
                len(x) > _BIND_THRESHOLD
                or _contains_expanding_call(args[0])
            ):
                inner = _round_double_sql("__rb.x", k)
                emitted = (
                    "element_at(transform(array(named_struct("
                    f"'x', ({x}))), __rb -> {inner}), 1)"
                )
            elif call.in_py_udf and (
                len(x) > _BIND_THRESHOLD
                or _contains_expanding_call(args[0])
            ) and _render_static_type(
                [
                    t
                    for t in args[0]
                    if t.kind not in ("ws", "comment")
                ]
            ) == "double":
                # long statically-DOUBLE operand inside a
                # Python-UDF span: the template would repeat it
                # ~9x per nesting level (lambda binding is
                # span-forbidden) — route through the exact
                # Python twin, operand passed ONCE as its
                # shortest-round-trip Java repr
                emitted = (
                    f"CAST(__duck_round(CAST(({x}) AS"
                    f" STRING), {k}) AS DOUBLE)"
                )
            else:
                emitted = _round_double_sql(x, k)
            return emitted
        if len(args) == 2:
            # non-literal scale: Spark round() would reject it
            # at analysis (NON_FOLDABLE_INPUT); a literal int
            # beyond int32 keeps Spark round (DuckDB errors)
            k_code2 = [
                t for t in args[1] if t.kind not in ("ws", "comment")
            ]
            lit_out_of_range = (
                len(k_code2) == 1
                and k_code2[0].kind in ("number", "word")
                and k_code2[0].text.isdigit()
            ) or (
                len(k_code2) == 2
                and k_code2[0].kind == "op"
                and k_code2[0].text == "-"
                and k_code2[1].text.isdigit()
            )
            if not lit_out_of_range:
                x, ks = (
                    "".join(t.text for t in walk(a, call.in_py_udf)).strip()
                    for a in args
                )
                if call.in_py_udf and (
                    len(x) > _BIND_THRESHOLD
                    or _contains_expanding_call(args[0])
                ) and _render_static_type(
                    [
                        t
                        for t in args[0]
                        if t.kind not in ("ws", "comment")
                    ]
                ) == "double":
                    # same span escape as the literal-k branch
                    return (
                        f"CAST(__duck_round(CAST(({x}) AS"
                        f" STRING), CAST(({ks}) AS INT))"
                        " AS DOUBLE)"
                    )
                return _round_double_dynamic_sql(x, ks)
        return None

    return _lower_calls(tokens, ("round",), lower)


def _integral_cast_sql(x: str, ty: str, fn: str, bind: bool = False) -> str:
    """DuckDB-rounding numeric->integral cast: DOUBLE/FLOAT inputs round
    half-to-even (``bround``), everything else routes through
    DECIMAL(38,0) whose Spark cast rounds half-away — ``typeof()``
    dispatches WITHOUT evaluating its child (verified: ``typeof(1/0)``
    does not raise), so the branch choice is free and exact for every
    input type including booleans, strings, and full-range BIGINTs."""
    inner_fn = "CAST" if fn.upper() == "CAST" else "TRY_CAST"
    if bind:
        # bind the operand once (type-preserving struct field): the
        # template mentions it 3x, which multiplies a later-expanding
        # operand — CAST((json_chain) -> 'id' AS BIGINT) tripled a
        # 59 KB arrow expansion to 176 KB of SQL. The operand sits in
        # the HOF INPUT, so even a Python-UDF-bearing operand extracts
        # fine (only OUR lambda's body must stay UDF-free, and it only
        # carries struct refs).
        core = (
            f"CASE WHEN typeof(__ic.x) IN ('double', 'float') "
            f"THEN {inner_fn}(bround(CAST((__ic.x) AS DOUBLE)) AS {ty}) "
            f"ELSE {inner_fn}({inner_fn}((__ic.x) AS DECIMAL(38,0)) "
            f"AS {ty}) END"
        )
        return (
            "(element_at(transform(array(named_struct('x', "
            f"({x}))), __ic -> {core}), 1))"
        )
    return (
        f"(CASE WHEN typeof({x}) IN ('double', 'float') "
        f"THEN {inner_fn}(bround(CAST(({x}) AS DOUBLE)) AS {ty}) "
        f"ELSE {inner_fn}({inner_fn}(({x}) AS DECIMAL(38,0)) AS {ty}) END)"
    )


def _rewrite_integral_casts(tokens: List[Token]) -> List[Token]:
    """DuckDB ROUNDS on numeric->integral casts (half away from zero for
    DECIMAL, half to even for DOUBLE); Spark TRUNCATES. See
    ``_integral_cast_sql`` for the exact dispatch. Handles
    ``CAST/TRY_CAST(x AS <integral>)`` and ``x::<integral>``; TRY_CAST
    keeps try semantics on the inner hop. Long or later-expanding
    operands (json arrows, expanding calls) bind once — outside
    Python-UDF argument spans, where lambdas defeat
    ExtractPythonUDFs."""

    def _should_bind(x: str, arg_tokens: List[Token], udf_here: bool) -> bool:
        if udf_here:
            return False
        if len(x) > _BIND_THRESHOLD:
            return True
        return any(
            t.kind == "op" and t.text in ("->", "->>")
            for t in arg_tokens
        ) or _contains_expanding_call(arg_tokens)

    def scan(tokens: List[Token], in_py_udf: bool) -> List[Token]:
        # in_py_udf: ``tokens`` are a Python UDF's argument
        out: List[Token] = []
        i = 0
        n = len(tokens)
        udf_spans = _py_udf_arg_spans(tokens) if not in_py_udf else None
        while i < n:
            tok = tokens[i]
            in_udf_here = in_py_udf or (
                udf_spans is not None and i in udf_spans
            )
            if tok.kind == "word" and tok.text.lower() in ("cast", "try_cast"):
                p_open = _next_code(tokens, i)
                if p_open < n and tokens[p_open].kind == "op" and tokens[p_open].text == "(":
                    close = _matching_paren(tokens, p_open)
                    as_i = _top_level_as(tokens, p_open, close)
                    if as_i is not None:
                        ty = _next_code(tokens, as_i)
                        ty_end = _next_code(tokens, ty)
                        if (
                            ty < n
                            and tokens[ty].kind == "word"
                            and tokens[ty].text.lower() in _INTEGRAL_TYPES
                            and ty_end == close
                        ):
                            arg = tokens[p_open + 1 : as_i]
                            inner = scan(arg, in_udf_here)
                            x = "".join(t.text for t in inner).strip()
                            out.extend(
                                _toks(
                                    _integral_cast_sql(
                                        x, tokens[ty].text, tok.text,
                                        bind=_should_bind(x, arg, in_udf_here),
                                    )
                                )
                            )
                            i = close + 1
                            continue
            elif tok.kind == "op" and tok.text == "::":
                ty = _next_code(tokens, i)
                ty_end = _next_code(tokens, ty) if ty < n else n
                if (
                    ty < n
                    and tokens[ty].kind == "word"
                    and tokens[ty].text.lower() in _INTEGRAL_TYPES
                    and not (
                        ty_end < n
                        and tokens[ty_end].kind == "op"
                        and tokens[ty_end].text == "("
                    )
                ):
                    operand = _pop_operand(out)
                    if operand:
                        x = "".join(t.text for t in operand).strip()
                        out.extend(
                            _toks(_integral_cast_sql(
                                x, tokens[ty].text, "CAST",
                                bind=_should_bind(x, operand, in_udf_here),
                            ))
                        )
                        i = ty + 1
                        continue
                    out.append(tok)
                    out.extend(_toks("DECIMAL(38,0)::"))
                    out.append(tokens[ty])
                    i = ty + 1
                    continue
            out.append(tok)
            i += 1
        return out

    return scan(tokens, False)


def _top_level_as(tokens: List[Token], open_idx: int, close_idx: int):
    """Index of the depth-1 AS keyword inside a CAST's parens."""
    depth = 0
    for j in range(open_idx, close_idx):
        t = tokens[j]
        if t.kind == "op" and t.text == "(":
            depth += 1
        elif t.kind == "op" and t.text == ")":
            depth -= 1
        elif depth == 1 and t.is_kw("AS"):
            return j
    return None


def _rewrite_bare_types(tokens: List[Token]) -> List[Token]:
    """Bare ``VARCHAR``/``TEXT`` type names -> ``__DUCKVARCHAR`` (a
    sentinel the late ``_rewrite_varchar_casts`` pass lowers to a
    DuckDB-exact string cast) and ``JSON`` -> ``STRING``, in cast
    contexts only: after ``::`` or as the type of ``CAST(x AS <type>)``
    (Spark requires VARCHAR(n) and has no TEXT; DuckDB treats both as
    TEXT). Restricted to cast contexts because ``text`` is a common
    column name.
    """
    out: List[Token] = []
    cast_paren_stack: List[bool] = []
    prev_code: Token | None = None
    for i, tok in enumerate(tokens):
        if tok.kind == "op" and tok.text == "(":
            cast_paren_stack.append(
                prev_code is not None
                and prev_code.kind == "word"
                and prev_code.text.lower() in ("cast", "try_cast")
            )
        elif tok.kind == "op" and tok.text == ")":
            if cast_paren_stack:
                cast_paren_stack.pop()
        if tok.kind == "word" and tok.text.lower() in ("varchar", "text", "json"):
            after_colons = (
                prev_code is not None and prev_code.kind == "op" and prev_code.text == "::"
            )
            after_cast_as = (
                prev_code is not None
                and prev_code.is_kw("AS")
                and bool(cast_paren_stack)
                and cast_paren_stack[-1]
            )
            if after_colons or after_cast_as:
                if tok.text.lower() == "json":
                    out.append(Token("word", "STRING"))
                else:
                    out.append(Token("word", "__DUCKVARCHAR"))
                prev_code = out[-1]
                continue
        out.append(tok)
        if tok.kind not in ("ws", "comment"):
            prev_code = tok
    return out


# operand-length cutoff between the codegen-friendly repeated-operand
# emission (short operands, hot paths) and the lambda-bound emission
# (long/nested operands, linear plan growth)
_BIND_THRESHOLD = 160

# Names text_udfs.py registers as Python UDFs (kept in sync by
# tests/test_dialect_round8.py::test_py_udf_name_set_in_sync). A
# higher-order-function lambda inside a Python UDF's ARGUMENT defeats
# Spark's ExtractPythonUDFs pass for complex trees (the UDF stays in
# the projection and fails both codegen and interpretation — fuzz seed
# 20260815: substring_grapheme(x::VARCHAR || 'R F')), so render
# emissions inside these calls' argument spans route through the
# __duck_render Python twin (chained Python UDFs extract fine) and
# ceil/floor/trunc keep their lambda-free repeated-operand form there.
_PY_UDF_FNS = frozenset({
    "age", "icu_sort_key", "__yyjson_norm", "__re2_valid",
    "current_setting", "__duck_round", "__duck_fint",
    "__duck_printf",
    "length_grapheme", "left_grapheme", "right_grapheme",
    "substring_grapheme", "json_contains", "json_structure",
    "strip_accents", "nfc_normalize", "nextafter", "jaro_similarity",
    "jaro_winkler_similarity", "damerau_levenshtein",
    "levenshtein_bytes", "gcd", "lcm", "gamma", "lgamma",
})


def _py_udf_arg_spans(tokens: List[Token]) -> set:
    """Token-index spans inside argument lists of registered Python
    UDF calls (see ``_PY_UDF_FNS``)."""
    spans: set = set()
    n = len(tokens)
    for k, t in enumerate(tokens):
        if t.kind == "word" and t.text.lower() in _PY_UDF_FNS:
            nk = _next_code(tokens, k)
            if nk < n and tokens[nk].kind == "op" and tokens[nk].text == "(":
                close = _matching_paren(tokens, nk)
                if close > nk:
                    spans.update(range(nk, close + 1))
    return spans


_FMTLIB_PH_RE = re.compile(r"\{([^{}]*)\}")


def _fmtlib_placeholder(body: str):
    """The printf rendering of one fmtlib placeholder ``{body}`` that
    the ``format`` shim translates — ``{}`` and
    ``{:[width][.prec][dfsxoe]}`` — as ``(spec, typ, bare_width,
    explicit_type)``; None for the forms it leaves unrewritten
    (positional ``{n}``, fill/align ``{:>8}``, locale ``{:,}``).
    ``bare_width`` is set for ``{:N}`` with no explicit type/precision:
    fmtlib then left-aligns strings/bools but right-aligns numbers, so
    alignment is decided at runtime on the argument's type (``%Ns``
    would right-align everything)."""
    if body == "":
        return ("%s", "s", None, False)
    if not body.startswith(":"):
        return None
    sm = re.fullmatch(r"(\d*)(?:\.(\d+))?([dfsxoe])?", body[1:])
    if sm is None:
        return None
    width, prec, typ = sm.groups()
    if width and not prec and not typ:
        return ("%s", "s", int(width), False)
    if prec and not typ:
        # typeless precision {:W.P}: fmt's 'general' presentation —
        # runtime type dispatch in the slot (r10c)
        return ("%s", "q", (width or "", prec), False)
    expl = typ is not None
    typ = typ or ("f" if prec else "s")
    return (
        "%" + (width or "") + (f".{prec}" if prec else "") + typ,
        typ,
        None,
        expl,
    )


def fmtlib_format_ok(fmt: str) -> bool:
    """True when the ``format`` shim translates every placeholder of
    the fmtlib format string ``fmt`` (``{{``/``}}`` are literal braces;
    a stray brace is a DuckDB format error)."""
    esc = fmt.replace("{{", "").replace("}}", "")
    if any(_fmtlib_placeholder(m.group(1)) is None for m in _FMTLIB_PH_RE.finditer(esc)):
        return False
    rest = _FMTLIB_PH_RE.sub("", esc)
    return "{" not in rest and "}" not in rest


def _fmtlib_repr_sql(sexpr: str) -> str:
    """Reshape a Java float/double repr STRING (``sexpr``) into
    fmtlib's rendering — delegates to ``_shortest_double_core_sql``
    with fmt cutoffs, which also corrects JDK 17's occasional
    non-shortest E-range digits against a round-trip candidate
    search. Purely textual, so it analyzes cleanly even when the
    originating expression is not float-typed (the caller's ``typeof``
    CASE keeps it unevaluated then)."""
    return _shortest_double_core_sql(sexpr, -4, 15, yy=False)


def _varchar_cast_sql(x: str, py_udf_ctx: bool = False) -> str:
    """DuckDB-exact ``CAST(x AS VARCHAR)``: DuckDB renders DOUBLE/FLOAT
    through fmtlib's shortest-round-trip writer (``1e+20``, ``2.5e-07``,
    decimal form for exponents in [-4, 15]); Spark's cast uses Java's
    ``toString`` (``1.0E20``). ``typeof()`` dispatches WITHOUT
    evaluating its child, so non-float inputs keep the plain Spark cast
    (byte-identical to DuckDB for string/date/timestamp/decimal/bool).
    The fmt branch reshapes ``CAST(x AS STRING)`` textually — no typed
    ops on the operand, so the CASE analyzes for ANY input type — and
    FLOAT inputs feed their own shortest repr (no widening to double,
    which would add garbage digits).

    Two emission shapes: SHORT operands (hot path: column refs) repeat
    the operand in a direct CASE whose common branches stay inside
    whole-stage codegen — the lambda reshaper is only entered for
    E-notation/NaN/Infinity reprs, so a double column in the decimal
    range casts at near-native speed (measured 2.2x otherwise). LONG
    operands are lambda-bound ONCE (single-element transform) so
    nested rewrites grow the plan linearly, not exponentially —
    fuzz-nested repeated-operand templates OOM'd codegen. The render
    core is always INLINED: an earlier SQL-function emission hit three
    Spark limits (no resolution inside HOF lambdas, eager argument
    hoisting past CASE guards, a FoldablePropagation optimizer crash
    on inlined bodies)."""
    if py_udf_ctx:
        # inside a Python UDF's argument: both template shapes carry
        # higher-order lambdas (the E-notation reshaper), which defeat
        # ExtractPythonUDFs (runtime INTERNAL_ERROR, re-probed r10) —
        # route through the exact Python twin instead (a chained
        # Python UDF extracts fine; this path is already UDF-priced).
        # The twin's typeof() arm repeats the operand, doubling per
        # chain link (adversarial render nestings reached 100s of KB,
        # VERDICT r9 item 4): when the operand's type is STATICALLY
        # known, pass the type as a literal (double/float) or skip the
        # twin outright (render is the identity for every other type)
        # so the operand appears ONCE and nestings grow linearly.
        code = [t for t in tokenize(x) if t.kind not in ("ws", "comment")]
        sty = _render_static_type(code)
        if sty == "nonfloat":
            return f"CAST(({x}) AS STRING)"
        if sty in ("double", "float"):
            return f"__duck_render(CAST(({x}) AS STRING), '{sty}')"
        return f"__duck_render(CAST(({x}) AS STRING), typeof({x}))"
    if len(x) <= _BIND_THRESHOLD:
        s = f"CAST(({x}) AS STRING)"
        return (
            f"(CASE WHEN typeof({x}) LIKE 'interval%' "
            f"THEN __duck_iv_str({x}) "
            f"WHEN typeof({x}) NOT IN ('double', 'float') "
            f"THEN {s} "
            f"WHEN locate('E', {s}) = 0 "
            f"AND {s} NOT IN ('NaN', 'Infinity', '-Infinity') "
            f"THEN {s} ELSE "
            + _fmtlib_repr_sql(s)
            + " END)"
        )
    # long operands: lambda-bound once, with the render core INLINED —
    # a SQL-function call cannot appear inside a higher-order lambda
    # (its inlining projects the parameter outside the lambda scope)
    return (
        f"(element_at(transform(array(named_struct('v', ({x}))), __vc -> "
        "CASE WHEN typeof(__vc.v) IN ('double', 'float') THEN "
        + _shortest_double_core_sql(
            "CAST(__vc.v AS STRING)", -4, 15, yy=False
        )
        + " WHEN typeof(__vc.v) LIKE 'interval%'"
        " THEN __duck_iv_str(__vc.v)"
        " ELSE CAST(__vc.v AS STRING) END), 1))"
    )


# whole-expression calls whose result is STRING in both engines —
# rendering is the identity there, so a py-UDF-span render over them
# needs no typeof arm (each saved arm halves nested-chain growth)
_STRING_VALUED_FNS = frozenset({
    "__duck_render", "substring", "substr", "concat_ws", "upper",
    "lower", "ucase", "lcase", "trim", "ltrim", "rtrim", "btrim",
    "replace", "regexp_replace", "regexp_extract", "left", "right",
    "lpad", "rpad", "split_part", "repeat", "format_string", "printf",
    "md5", "base64", "initcap", "substring_index", "typeof",
    "date_format", "format_number", "char", "chr", "__duck_printf",
})


def _render_static_type(code: List[Token]):
    """'double' / 'float' / 'nonfloat' when the operand's rendering
    class is statically known (whole-expression casts, hinted plain
    column refs, the r9 static numeric lattice, known STRING/DOUBLE
    valued calls, our own string-typed render emissions); None when
    only typeof() can tell."""
    while (
        len(code) >= 3
        and code[0].kind == "op"
        and code[0].text == "("
        and _matching_paren(code, 0) == len(code) - 1
    ):
        code = code[1:-1]
    h = _cast_target_hint(code) or _hinted_primary_type(code)
    if h in ("double", "float"):
        return h
    if h:
        # any other known type: DuckDB's VARCHAR rendering == Spark's
        # CAST AS STRING (the twin returns its input unchanged there)
        return "nonfloat"
    if _static_numeric_type(code) in ("decimal", "decimal0", "int"):
        return "nonfloat"
    if len(code) == 1 and code[0].kind == "string":
        return "nonfloat"
    if (
        len(code) >= 3
        and code[0].kind == "word"
        and code[1].kind == "op"
        and code[1].text == "("
        and _matching_paren(code, 1) == len(code) - 1
    ):
        low = code[0].text.lower()
        if low in _STRING_VALUED_FNS:
            return "nonfloat"
        if low in _DOUBLE_VALUED_FNS:
            return "double"
    # a top-level `/` makes the whole expression DOUBLE in this engine
    # (the division rewrite forces float division like DuckDB, whose
    # `/` is always DOUBLE; `//` is the integer form) — unless an
    # INTERVAL is involved (interval / n stays interval)
    if not any(t.kind == "word" and t.upper == "INTERVAL" for t in code):
        depth = 0
        for t in code:
            if t.kind == "op":
                if t.text in ("(", "["):
                    depth += 1
                elif t.text in (")", "]"):
                    depth -= 1
                elif depth == 0 and t.text == "/":
                    return "double"
    return None


def _list_varchar_sql(x: str) -> str:
    """DuckDB-exact VARCHAR rendering of a statically LIST-typed
    operand (r10, COVERAGE float-list corner): ``[`` + elements joined
    by ``, `` + ``]``, each element through the exact scalar render —
    so float/double elements get fmt-shortest (``1.5e+20``) instead of
    Spark's Java array rendering (``1.5E20``) — and NULL elements as
    ``NULL`` where Spark writes ``null``. A NULL list stays NULL. The
    operand binds once (named_struct transform). Nested-list elements
    keep Spark's inner rendering (documented narrow corner)."""
    # NULL guard BEFORE the render: the fmt reshaper's candidate search
    # is not NULL-transparent under ANSI evaluation
    elem = (
        "CASE WHEN __le IS NULL THEN 'NULL' ELSE "
        + _varchar_cast_sql("__le")
        + " END"
    )
    return (
        f"(element_at(transform(array(named_struct('v', ({x}))), __lb -> "
        "CASE WHEN __lb.v IS NULL THEN CAST(NULL AS STRING) ELSE "
        f"concat('[', concat_ws(', ', transform(__lb.v, __le -> {elem})),"
        " ']') END), 1))"
    )


_NUM_LITERAL_RE = re.compile(r"^(?:\d+\.?\d*|\.\d+)(?:[eE][+-]?\d+)?$")


def _duck_interval_str_py(months: int, days: int, micros: int) -> str:
    """Python twin of jvm/duckspark/DuckIvStr.render (static literal
    folding)."""
    parts = []
    # C-style truncation toward zero for the year/month split
    years = months // 12 if months >= 0 else -((-months) // 12)
    m = months - years * 12
    if years:
        parts.append(f"{years} year" + ("" if abs(years) == 1 else "s"))
    if m:
        parts.append(f"{m} month" + ("" if abs(m) == 1 else "s"))
    if days:
        parts.append(f"{days} day" + ("" if abs(days) == 1 else "s"))
    if micros or not parts:
        a = abs(micros)
        hh, mm, ss, fr = (
            a // 3_600_000_000,
            (a // 60_000_000) % 60,
            (a // 1_000_000) % 60,
            a % 1_000_000,
        )
        t = ("-" if micros < 0 else "") + f"{hh:02d}:{mm:02d}:{ss:02d}"
        if fr:
            t += "." + f"{fr:06d}".rstrip("0")
        parts.append(t)
    return " ".join(parts)


#: unit -> (component, multiplier): ym months, d days, us micros
_IV_UNIT_MULT = {
    "year": ("ym", 12), "quarter": ("ym", 3), "month": ("ym", 1),
    "week": ("d", 7), "day": ("d", 1),
    "hour": ("us", 3_600_000_000), "minute": ("us", 60_000_000),
    "second": ("us", 1_000_000), "millisecond": ("us", 1_000),
    "microsecond": ("us", 1),
}


def _static_interval_literal(op_code: List[Token]):
    """``(months, days, micros)`` of a statically-literal interval
    operand — ``INTERVAL <n|'n'> <UNIT>`` or a
    ``make_dt_interval``/``make_ym_interval`` call over numeric
    literals (possibly CAST-wrapped, the to_days/to_hours shims'
    spelling) — else None. This is where the dialect still SEES the
    day/month split DuckDB keeps in its interval triple; a runtime
    value is a Spark scalar and renders micros- or months-only."""
    from decimal import ROUND_HALF_UP, Decimal

    code = list(op_code)
    while (
        len(code) >= 3
        and code[0].kind == "op" and code[0].text == "("
        and _matching_paren(code, 0) == len(code) - 1
    ):
        code = code[1:-1]
    if not code:
        return None

    def lit_of(span: List[Token]):
        # numeric literal, optionally '-'-signed, paren- or
        # CAST(x AS <int type>)-wrapped, or a quoted numeric string
        sp = list(span)
        while (
            len(sp) >= 3
            and sp[0].kind == "op" and sp[0].text == "("
            and _matching_paren(sp, 0) == len(sp) - 1
        ):
            sp = sp[1:-1]
        if (
            len(sp) >= 4
            and sp[0].kind == "word" and sp[0].text.lower() == "cast"
            and sp[1].kind == "op" and sp[1].text == "("
            and _matching_paren(sp, 1) == len(sp) - 1
        ):
            as_i = _top_level_as(sp, 1, len(sp) - 1)
            if as_i is None:
                return None
            return lit_of(sp[2:as_i])
        neg = False
        while sp and sp[0].kind == "op" and sp[0].text in ("+", "-"):
            neg ^= sp[0].text == "-"
            sp = sp[1:]
        if len(sp) != 1:
            return None
        t = sp[0]
        txt = t.text
        if t.kind == "string":
            txt = txt[1:-1].strip()
        elif t.kind not in ("number", "word"):
            return None
        try:
            v = Decimal(txt)
        except Exception:  # noqa: BLE001 — non-numeric token
            return None
        return -v if neg else v

    if code[0].kind == "word" and code[0].upper == "INTERVAL":
        if len(code) != 3 or code[2].kind != "word":
            return None
        unit = code[2].text.lower().rstrip("s")
        cm = _IV_UNIT_MULT.get(unit)
        if cm is None:
            return None
        n = lit_of([code[1]])
        if n is None:
            return None
        comp, mult = cm
        if comp == "us":
            us = int(
                (n * mult).quantize(Decimal(1), rounding=ROUND_HALF_UP)
            )
            return (0, 0, us)
        if n != n.to_integral_value():
            return None  # fractional month/day spill: runtime corner
        return (
            (int(n) * mult, 0, 0) if comp == "ym"
            else (0, int(n) * mult, 0)
        )
    if (
        code[0].kind == "word"
        and code[0].text.lower() in ("make_dt_interval", "make_ym_interval")
        and len(code) >= 3
        and code[1].kind == "op" and code[1].text == "("
        and _matching_paren(code, 1) == len(code) - 1
    ):
        args = _call_args(code, 1, len(code) - 1)
        vals = []
        for a in args:
            v = lit_of(
                [t for t in a if t.kind not in ("ws", "comment")]
            )
            if v is None:
                return None
            vals.append(v)
        if code[0].text.lower() == "make_ym_interval":
            vals += [Decimal(0)] * (2 - len(vals))
            y, m = vals[:2]
            if y != y.to_integral_value() or m != m.to_integral_value():
                return None
            return (int(y) * 12 + int(m), 0, 0)
        vals += [Decimal(0)] * (4 - len(vals))
        d, h, mi, s = vals[:4]
        if d != d.to_integral_value():
            return None
        us = int(
            ((h * 3600 + mi * 60 + s) * 1_000_000).quantize(
                Decimal(1), rounding=ROUND_HALF_UP
            )
        )
        return (0, int(d), us)
    return None


def _static_varchar_cast(op_code: List[Token]):
    """If the operand is a single literal whose DuckDB VARCHAR cast
    cannot diverge from Spark's (strings, ints, decimals, NULL) or is
    statically computable (scientific-notation literals — DOUBLE in
    both engines; Python's ``repr`` is byte-identical to DuckDB's
    fmtlib rendering, fuzz-verified on random bit patterns), return the
    replacement SQL; else None. Keeps literal casts foldable, which
    Spark inline tables (``VALUES``) require."""
    while (
        len(op_code) >= 3
        and op_code[0].kind == "op" and op_code[0].text == "("
        and op_code[-1].kind == "op" and op_code[-1].text == ")"
        and _matching_paren(op_code, 0) == len(op_code) - 1
    ):
        op_code = op_code[1:-1]
    iv = _static_interval_literal(op_code)
    if iv is not None:
        # DuckDB's interval writer still sees the day/month split here
        # (r13); runtime interval values render through __duck_iv_str
        return "'" + _duck_interval_str_py(*iv) + "'"
    if len(op_code) != 1:
        return None
    t = op_code[0]
    if t.kind == "string":
        return f"CAST({t.text} AS STRING)"
    if t.kind == "word":
        if t.text.upper() == "NULL":
            return "CAST(NULL AS STRING)"
        if _NUM_LITERAL_RE.match(t.text):
            if "e" in t.text.lower():
                return "'" + repr(float(t.text)) + "'"
            return f"CAST({t.text} AS STRING)"
    return None


def _values_spans(tokens: List[Token]) -> set:
    """Token-index spans covered by VALUES tuple lists. Spark inline
    tables require foldable expressions, which the lambda-based fmtlib
    reshaper is not — sentinel casts inside these spans keep the plain
    Spark cast (non-literal VALUES entries were never valid there
    anyway; literal entries are handled exactly by the static path)."""
    spans: set = set()
    i = 0
    n = len(tokens)
    while i < n:
        t = tokens[i]
        if t.kind == "word" and t.upper == "VALUES":
            j = _next_code(tokens, i)
            while (
                j < n
                and tokens[j].kind == "op"
                and tokens[j].text == "("
            ):
                close = _matching_paren(tokens, j)
                spans.update(range(j, close + 1))
                k = _next_code(tokens, close)
                if k < n and tokens[k].kind == "op" and tokens[k].text == ",":
                    j = _next_code(tokens, k)
                else:
                    break
        i += 1
    return spans


def _hof_lambda_spans(tokens: List[Token]) -> set:
    """Token-index spans inside higher-order-function lambda bodies
    (remaining ``->`` tokens are lambda arrows — json arrows were
    rewritten earlier). SQL-function calls cannot resolve there; the
    render passes inline the core instead."""
    spans: set = set()
    n = len(tokens)
    for idx, t in enumerate(tokens):
        if t.kind == "op" and t.text == "->":
            depth = 0
            for m in range(idx, n):
                tm = tokens[m]
                if tm.kind == "op" and tm.text == "(":
                    depth += 1
                elif tm.kind == "op" and tm.text == ")":
                    if depth == 0:
                        spans.update(range(idx, m))
                        break
                    depth -= 1
    return spans


def _rewrite_varchar_casts(tokens: List[Token]) -> List[Token]:
    """Lower the ``__DUCKVARCHAR`` sentinel (planted by
    ``_rewrite_bare_types`` for user ``VARCHAR``/``TEXT`` cast targets
    and by ``_rewrite_concat_null_skipping`` for concat's per-argument
    implicit casts) to the DuckDB-exact string cast. Runs LATE (after
    ``_rewrite_call_shims``) so the emitted fmtlib template is not
    re-rewritten by the function-shim passes — the same position the
    ``format()`` shim emits it from. Literal operands render statically
    (exact AND foldable); operands inside VALUES lists keep the plain
    cast (inline tables reject non-foldable lambdas)."""
    def scan(tokens: List[Token], in_py_udf: bool) -> List[Token]:
        # in_py_udf: ``tokens`` are a Python UDF's argument
        out: List[Token] = []
        i = 0
        n = len(tokens)
        in_values = _values_spans(tokens)
        py_spans = _py_udf_arg_spans(tokens)
        while i < n:
            tok = tokens[i]
            if tok.kind == "word" and tok.text.lower() in ("cast", "try_cast"):
                p_open = _next_code(tokens, i)
                if p_open < n and tokens[p_open].kind == "op" and tokens[p_open].text == "(":
                    close = _matching_paren(tokens, p_open)
                    as_i = _top_level_as(tokens, p_open, close)
                    if as_i is not None:
                        ty = _next_code(tokens, as_i)
                        ty_end = _next_code(tokens, ty) if ty < n else n
                        if (
                            ty < n
                            and tokens[ty].kind == "word"
                            and tokens[ty].text == "__DUCKVARCHAR"
                            and ty_end == close
                        ):
                            py = in_py_udf or i in py_spans
                            inner = scan(tokens[p_open + 1 : as_i], py)
                            inner_code = [
                                t for t in inner
                                if t.kind not in ("ws", "comment")
                            ]
                            x = "".join(t.text for t in inner).strip()
                            static = _static_varchar_cast(inner_code)
                            listish = _operand_is_listish(inner_code) or (
                                _hinted_primary_type(inner_code) or ""
                            ).startswith("array<")
                            if static is not None:
                                out.extend(_toks(static))
                            elif i in in_values or (listish and py):
                                out.extend(_toks(f"CAST(({x}) AS STRING)"))
                            elif listish:
                                out.extend(_toks(_list_varchar_sql(x)))
                            else:
                                out.extend(_toks(_varchar_cast_sql(x, py)))
                            i = close + 1
                            continue
            elif tok.kind == "op" and tok.text == "::":
                ty = _next_code(tokens, i)
                if (
                    ty < n
                    and tokens[ty].kind == "word"
                    and tokens[ty].text == "__DUCKVARCHAR"
                ):
                    operand = _pop_operand(out)
                    if operand:
                        x = "".join(t.text for t in operand).strip()
                        op_code = [
                            t for t in operand
                            if t.kind not in ("ws", "comment")
                        ]
                        static = _static_varchar_cast(op_code)
                        py2 = in_py_udf or i in py_spans
                        listish = _operand_is_listish(op_code) or (
                            _hinted_primary_type(op_code) or ""
                        ).startswith("array<")
                        if static is not None:
                            out.extend(_toks(static))
                        elif i in in_values or (listish and py2):
                            out.extend(_toks(f"CAST(({x}) AS STRING)"))
                        elif listish:
                            out.extend(_toks(_list_varchar_sql(x)))
                        else:
                            out.extend(_toks(_varchar_cast_sql(x, py2)))
                        i = ty + 1
                        continue
                    out.append(tok)
                    out.append(Token("word", "STRING"))
                    i = ty + 1
                    continue
            if tok.kind == "word" and tok.text == "__DUCKVARCHAR":
                # leftover sentinel in a shape neither branch claimed
                # (e.g. a DDL column type): plain STRING, the pre-r8
                # behavior
                out.append(Token("word", "STRING"))
                i += 1
                continue
            out.append(tok)
            i += 1
        return out

    return scan(tokens, False)


_INTERVAL_UNITS = frozenset({
    "year", "years", "quarter", "quarters", "month", "months",
    "week", "weeks", "day", "days", "hour", "hours",
    "minute", "minutes", "second", "seconds",
    "millisecond", "milliseconds", "microsecond", "microseconds",
})

# expressions that are themselves interval-valued: wrapping them in a
# TIMESTAMP cast would be wrong (INTERVAL + INTERVAL stays INTERVAL)
_INTERVAL_VALUED_FNS = frozenset({
    "make_interval", "make_dt_interval", "make_ym_interval", "age",
})


def _interval_literal_end(tokens: List[Token], i: int):
    """``tokens[i]`` is the INTERVAL keyword; index just past the
    literal (``INTERVAL 3 MONTH`` / ``INTERVAL '3 months'`` /
    ``INTERVAL '3' MONTH`` / ``INTERVAL (n) MONTH``), or None when the
    shape is not a literal."""
    n = len(tokens)
    j = _next_code(tokens, i)
    if j >= n:
        return None
    t = tokens[j]
    if t.kind == "string":
        k = _next_code(tokens, j)
        if (
            k < n
            and tokens[k].kind == "word"
            and tokens[k].text.lower() in _INTERVAL_UNITS
        ):
            return k + 1
        return j + 1
    if t.kind == "op" and t.text == "(":
        close = _matching_paren(tokens, j)
        k = _next_code(tokens, close)
        if (
            k < n
            and tokens[k].kind == "word"
            and tokens[k].text.lower() in _INTERVAL_UNITS
        ):
            return k + 1
        return None
    if t.kind == "word" and _NUM_LITERAL_RE.match(t.text):
        k = _next_code(tokens, j)
        if (
            k < n
            and tokens[k].kind == "word"
            and tokens[k].text.lower() in _INTERVAL_UNITS
        ):
            return k + 1
        return None
    return None


def _interval_valued_operand(operand: List[Token]) -> bool:
    code = [t for t in operand if t.kind not in ("ws", "comment")]
    while (
        len(code) >= 3
        and code[0].kind == "op" and code[0].text == "("
        and code[-1].kind == "op" and code[-1].text == ")"
        and _matching_paren(code, 0) == len(code) - 1
    ):
        code = code[1:-1]
    if not code:
        return True  # nothing poppable: treat as unsafe, skip the wrap
    first = code[0]
    if first.is_kw("INTERVAL"):
        return True
    return (
        first.kind == "word"
        and first.text.lower() in _INTERVAL_VALUED_FNS
    )


def _rewrite_date_interval_add(tokens: List[Token]) -> List[Token]:
    """DuckDB types ``date +/- INTERVAL`` as TIMESTAMP for EVERY
    interval unit (``DATE '2020-01-31' + INTERVAL 1 MONTH`` ->
    ``2020-02-29 00:00:00``); Spark keeps DATE for year-month/day
    intervals. Wrapping the addition in ``CAST(... AS TIMESTAMP)``
    matches: a no-op when the left side is already a timestamp, the
    DuckDB widening when it is a DATE. Interval-valued left sides
    (INTERVAL literals / make_*_interval calls — interval + interval
    stays an interval) and non-literal interval shapes are left
    untouched. Runs late so ``date_add(d, INTERVAL ...)`` (lowered by
    the call shims to ``d + INTERVAL ...``) is wrapped too."""

    def lower(tokens, i, out):
        tok = tokens[i]
        j = _next_code(tokens, i)
        if not (j < len(tokens) and tokens[j].is_kw("INTERVAL")):
            return None
        end = _interval_literal_end(tokens, j)
        if end is None:
            return None
        operand = _pop_operand(out)
        # typed literals: _pop_operand stops at the string, absorb a
        # DATE/TIME/TIMESTAMP keyword prefix
        op_code = [t for t in operand if t.kind not in ("ws", "comment")]
        if len(op_code) == 1 and op_code[0].kind == "string":
            k = len(out) - 1
            while k >= 0 and out[k].kind in ("ws", "comment"):
                k -= 1
            if k >= 0 and out[k].is_kw("DATE", "TIME", "TIMESTAMP", "TIMESTAMPTZ"):
                operand = [out[k], Token("ws", " ")] + operand
                del out[k:]
        # left side ends in INTERVAL <n> <unit>: the unit word pops
        # alone — look back for the INTERVAL keyword within the
        # literal's 3-token window
        left_tail_interval = bool(operand) and any(
            t.is_kw("INTERVAL")
            for t in [t for t in out if t.kind not in ("ws", "comment")][-2:]
        )
        if operand and not left_tail_interval and not _interval_valued_operand(operand):
            x = "".join(t.text for t in operand).strip()
            ival = "".join(t.text for t in tokens[j:end]).strip()
            out.extend(_toks(f"CAST(({x} {tok.text} {ival}) AS TIMESTAMP)"))
            return end
        # the popped operand goes back as is (a typed literal's gap
        # normalised to one space)
        out.extend(operand)
        out.append(tok)
        return i + 1

    return _lower_sites(tokens, {"+", "-"}, lower)


_QUALIFY_TERMINATORS = {"ORDER", "LIMIT", "UNION", "EXCEPT", "INTERSECT", "OFFSET"}


def _split_csv_text(text: str) -> List[str]:
    """Split SQL text on top-level commas."""
    parts: List[str] = []
    cur: List[Token] = []
    depth = 0
    for t in tokenize(text):
        if t.kind == "op" and t.text in ("(", "["):
            depth += 1
        elif t.kind == "op" and t.text in (")", "]"):
            depth -= 1
        if t.kind == "op" and t.text == "," and depth == 0:
            parts.append("".join(x.text for x in cur).strip())
            cur = []
        else:
            cur.append(t)
    if cur:
        parts.append("".join(x.text for x in cur).strip())
    return [p for p in parts if p]


def _plain_identifier_name(text: str) -> str | None:
    """Final segment of a bare (possibly dotted) identifier, else None."""
    code = [t for t in tokenize(text) if t.kind not in ("ws", "comment")]
    if not code:
        return None
    if len(code) % 2 == 0:
        return None
    for j, t in enumerate(code):
        if j % 2 == 0:
            if t.kind not in ("word", "bident", "qident"):
                return None
        elif not (t.kind == "op" and t.text == "."):
            return None
    last = code[-1]
    return last.text.strip('`"').lower() if last.kind != "word" else last.text.lower()


def _order_terms_survive(win_order: str, select_list: str) -> bool:
    """True when every ORDER BY term is a plain column the select list
    exposes (by output name/alias, or via a ``*`` wildcard item)."""
    exposed: set[str] = set()
    wildcard = False
    for item in _split_csv_text(select_list):
        stripped = item.strip()
        if stripped == "*" or stripped.endswith(".*"):
            wildcard = True
            continue
        code = [t for t in tokenize(item) if t.kind not in ("ws", "comment")]
        alias = None
        depth = 0
        for j, t in enumerate(code):
            if t.kind == "op" and t.text in ("(", "["):
                depth += 1
            elif t.kind == "op" and t.text in (")", "]"):
                depth -= 1
            elif depth == 0 and t.is_kw("AS") and j + 1 < len(code):
                alias = code[j + 1]
        if alias is not None:
            exposed.add(alias.text.strip('`"').lower())
        else:
            name = _plain_identifier_name(item)
            if name is not None:
                exposed.add(name)
    body = win_order.strip()
    if body.upper().startswith("ORDER"):
        body = body[5:].strip()
        if body.upper().startswith("BY"):
            body = body[2:].strip()
    for term in _split_csv_text(body):
        words = term.split()
        while words and words[-1].upper() in ("ASC", "DESC", "FIRST", "LAST"):
            if words[-1].upper() in ("FIRST", "LAST"):
                words = words[:-1]
                if words and words[-1].upper() == "NULLS":
                    words = words[:-1]
            else:
                words = words[:-1]
        expr = " ".join(words)
        name = _plain_identifier_name(expr)
        # unqualified only: the outer scope has no table qualifiers
        if name is None or "." in expr:
            return False
        if not wildcard and name not in exposed:
            return False
    return True


def _rebind_on_terms_to_output(on_sql: str, select_list: str) -> Optional[str]:
    """Map DISTINCT ON terms to the names the projection exposes
    (`expr AS alias` exposes `alias`); None when a term isn't exposed at
    all (the outer ORDER BY is then skipped — output is unique per key,
    so it was cosmetic)."""
    exposed: dict = {}
    for item in _split_csv_text(select_list):
        item = item.strip()
        m = re.match(
            r"(?is)^(.*?)\s+AS\s+([A-Za-z_][A-Za-z0-9_]*)\s*$", item
        )
        if m:
            exposed[m.group(1).replace(" ", "").lower()] = m.group(2)
        else:
            exposed[item.replace(" ", "").lower()] = item
    terms = []
    for term in _split_csv_text(on_sql):
        name = exposed.get(term.strip().replace(" ", "").lower())
        if name is None:
            return None
        terms.append(name)
    return ", ".join(terms)


def _rewrite_distinct_on(tokens: List[Token]) -> List[Token]:
    """Postgres/DuckDB ``SELECT DISTINCT ON (k) list ... ORDER BY o`` ->
    first row per k group:

        SELECT * EXCEPT (__don__) FROM (
          SELECT list, row_number() OVER (
            PARTITION BY k ORDER BY o|k) AS __don__ FROM ...
        ) WHERE __don__ = 1 [ORDER BY o]

    Ordering inside the window uses the statement's ORDER BY when
    present (DuckDB's pick-first semantics), else the ON keys.
    """
    first = _next_code(tokens, -1)
    if first >= len(tokens) or tokens[first].upper != "SELECT":
        return tokens
    d_idx = _next_code(tokens, first)
    if d_idx >= len(tokens) or tokens[d_idx].upper != "DISTINCT":
        return tokens
    on_idx = _next_code(tokens, d_idx)
    if on_idx >= len(tokens) or tokens[on_idx].upper != "ON":
        return tokens
    p_open = _next_code(tokens, on_idx)
    if p_open >= len(tokens) or tokens[p_open].text != "(":
        return tokens
    p_close = _matching_paren(tokens, p_open)
    on_sql = "".join(t.text for t in tokens[p_open + 1 : p_close]).strip()

    n = len(tokens)
    depth = 0
    from_idx = order_idx = limit_idx = None
    for j in range(p_close + 1, n):
        t = tokens[j]
        if t.kind == "op" and t.text == "(":
            depth += 1
        elif t.kind == "op" and t.text == ")":
            depth -= 1
        elif depth == 0 and t.kind == "word":
            u = t.upper
            if u == "FROM" and from_idx is None:
                from_idx = j
            elif u == "ORDER" and order_idx is None:
                order_idx = j
            elif u == "LIMIT" and limit_idx is None:
                limit_idx = j
    if from_idx is None:
        return tokens
    tail_start = min(x for x in (order_idx, limit_idx, n) if x is not None)
    select_list = "".join(t.text for t in tokens[p_close + 1 : from_idx]).strip()
    body = "".join(t.text for t in tokens[from_idx:tail_start]).strip()
    if order_idx is not None:
        order_end = limit_idx if limit_idx is not None and limit_idx > order_idx else n
        win_order = "".join(t.text for t in tokens[order_idx:order_end]).strip()
    else:
        win_order = f"ORDER BY {on_sql}"
    rewritten = (
        f"SELECT * EXCEPT (__don__) FROM ("
        f"SELECT {select_list}, row_number() OVER ("
        f"PARTITION BY {on_sql} {win_order}) AS __don__ {body}"
        f") WHERE __don__ = 1"
    )
    if order_idx is not None:
        # DuckDB orders the (unique-per-key) output by the statement's
        # ORDER BY, which need not lead with the ON keys. Keep it when
        # every term is a plain column the projection exposes; fall back
        # to ON-key ordering when a term references a dropped column
        # (there the later terms were pick-first tie-breakers only).
        # The fallback must use the OUTPUT names: `DISTINCT ON (c) c AS
        # alias ...` exposes `alias`, not `c`, above the subquery.
        if _order_terms_survive(win_order, select_list):
            rewritten += f" {win_order}"
        else:
            rebound = _rebind_on_terms_to_output(on_sql, select_list)
            if rebound:
                rewritten += f" ORDER BY {rebound}"
    if limit_idx is not None:
        rewritten += " " + "".join(t.text for t in tokens[limit_idx:]).strip()
    return _toks(rewritten)


def _rewrite_qualify(tokens: List[Token]) -> List[Token]:
    """DuckDB/Snowflake ``QUALIFY <pred>`` (window filter) has no Spark
    equivalent -> rewrite to a wrapped subquery:

        SELECT <list> FROM ... QUALIFY p [tail]
     => SELECT * EXCEPT (__qualify__) FROM (
          SELECT <list>, (p) AS __qualify__ FROM ...
        ) WHERE __qualify__ [tail]

    The predicate joins the select list (window functions are legal
    there), so it may reference source columns, not just outputs.
    Applies to top-level SELECT/WITH statements; QUALIFY inside
    subqueries is out of scope (v1).
    """
    first = _next_code(tokens, -1)
    if first >= len(tokens) or tokens[first].upper not in ("SELECT", "WITH"):
        return tokens
    depth = 0
    q_idx = None
    for i, tok in enumerate(tokens):
        if tok.kind == "op" and tok.text == "(":
            depth += 1
        elif tok.kind == "op" and tok.text == ")":
            depth -= 1
        elif depth == 0 and tok.is_kw("QUALIFY"):
            q_idx = i
            break
    if q_idx is None:
        return tokens
    # predicate extent: up to a top-level terminator or end/semicolon
    depth = 0
    p_end = len(tokens)
    for j in range(q_idx + 1, len(tokens)):
        t = tokens[j]
        if t.kind == "op" and t.text == "(":
            depth += 1
        elif t.kind == "op" and t.text == ")":
            depth -= 1
        elif depth == 0 and (
            (t.kind == "word" and t.upper in _QUALIFY_TERMINATORS)
            or (t.kind == "op" and t.text == ";")
        ):
            p_end = j
            break
    pred = tokens[q_idx + 1: p_end]
    tail = [t for t in tokens[p_end:] if not (t.kind == "op" and t.text == ";")]
    # select-list end: first top-level FROM after the main SELECT
    depth = 0
    from_idx = None
    for i, tok in enumerate(tokens[:q_idx]):
        if tok.kind == "op" and tok.text == "(":
            depth += 1
        elif tok.kind == "op" and tok.text == ")":
            depth -= 1
        elif depth == 0 and tok.is_kw("FROM"):
            from_idx = i
            # keep scanning: the LAST top-level FROM before QUALIFY is
            # still the main one only for simple selects; the first is
            # correct because subquery FROMs are parenthesized
            break
    if from_idx is None:
        return tokens
    inner: List[Token] = list(tokens[:from_idx])
    inner.extend(_toks(", ("))
    inner.extend(pred)
    inner.extend(_toks(") AS __qualify__ "))
    inner.extend(tokens[from_idx:q_idx])
    out: List[Token] = _toks("SELECT * EXCEPT (__qualify__) FROM (")
    out.extend(inner)
    out.extend(_toks(") WHERE __qualify__ "))
    out.extend(tail)
    return out


def _toks(fragment: str) -> List[Token]:
    """Tokenize a synthetic SQL fragment so emitted rewrites stay
    well-formed for later passes (compound word tokens that embed
    parens would corrupt their bracket matching)."""
    return [t for t in tokenize(fragment)]


def _rewrite_string_escapes(tokens: List[Token]) -> List[Token]:
    """DuckDB string literals are raw (backslash is a normal character);
    Spark processes backslash escapes. Double them so ``'\\d+'`` reaches
    Spark's regex engine intact instead of silently becoming ``'d+'``."""
    out: List[Token] = []
    for tok in tokens:
        if tok.kind == "string" and "\\" in tok.text:
            inner = tok.text[1:-1].replace("\\", "\\\\")
            out.append(Token("string", f"'{inner}'"))
        else:
            out.append(tok)
    return out


def _matching_bracket(tokens: List[Token], open_idx: int) -> int:
    depth = 0
    for j in range(open_idx, len(tokens)):
        t = tokens[j]
        if t.kind == "op" and t.text in ("[", "("):
            depth += 1
        elif t.kind == "op" and t.text in ("]", ")"):
            depth -= 1
            if depth == 0:
                return j
    return len(tokens) - 1


def _top_level_positions(tokens: List[Token], lo: int, hi: int, match) -> List[int]:
    """Indices in (lo, hi) where ``match(token)`` holds at depth 0 of
    parentheses, brackets and braces."""
    depth = 0
    hits: List[int] = []
    for j in range(lo, hi):
        t = tokens[j]
        if t.kind == "op" and t.text in ("(", "[", "{"):
            depth += 1
        elif t.kind == "op" and t.text in (")", "]", "}"):
            depth -= 1
        elif depth == 0 and match(t):
            hits.append(j)
    return hits


def _capture_primary_backward(out: List[Token]) -> List[Token]:
    """Pop the trailing primary expression (dotted name / call / nested
    index) from ``out`` and return its tokens."""
    end = len(out)
    i = end
    while i > 0:
        prev = out[i - 1]
        if prev.kind in ("ws", "comment"):
            i -= 1
            continue
        break
    j = i
    if j == 0:
        return []
    last = out[j - 1]
    if last.kind == "op" and last.text in (")", "]"):
        # walk back to the matching opener, then keep absorbing the
        # name/chain before it
        depth = 0
        k = j - 1
        while k >= 0:
            t = out[k]
            if t.kind == "op" and t.text in (")", "]"):
                depth += 1
            elif t.kind == "op" and t.text in ("(", "["):
                depth -= 1
                if depth == 0:
                    break
            k -= 1
        # include a preceding word (function name / array name)
        m = k
        while m > 0 and out[m - 1].kind in ("ws", "comment"):
            m -= 1
        if m > 0 and (
            out[m - 1].kind in ("bident", "qident")
            or (
                out[m - 1].kind == "word"
                and out[m - 1].upper not in _NOT_VALUE_WORDS
            )
        ):
            k = m - 1
        captured = out[k:j]
        del out[k:]
        return captured
    if last.kind in ("word", "bident", "qident"):
        k = j - 1
        # absorb dotted chains: a.b.c
        while k >= 2 and out[k - 1].kind == "op" and out[k - 1].text == "." and out[
            k - 2
        ].kind in ("word", "bident", "qident"):
            k -= 2
        captured = out[k:j]
        del out[k:]
        return captured
    if last.kind == "string":
        captured = out[j - 1 : j]
        del out[j - 1 :]
        return captured
    return []


def _int_literal_value(tokens: List[Token]) -> int | None:
    """Integer value of a (possibly negated) literal token run, else
    None."""
    code = [t for t in tokens if t.kind not in ("ws", "comment")]
    neg = False
    if len(code) == 2 and code[0].kind == "op" and code[0].text == "-":
        neg = True
        code = code[1:]
    if len(code) == 1 and code[0].kind == "word":
        text = code[0].text
        if text.startswith("-"):
            neg, text = True, text[1:]
        if text.isdigit():
            return -int(text) if neg else int(text)
    return None


def _slice_expr(base_sql: str, lo_sql: str, hi_sql: str, is_str: bool) -> str:
    """DuckDB inclusive-slice semantics (``l[a:b]`` / ``list_slice``):
    negative bounds count from the end (position size+b+1), bounds clamp
    to [1, size], and an inverted window is empty. One expression works
    for lists (slice) and strings (substring): the length argument is
    clamped >= 0 so Spark never sees a negative length."""
    size_fn = "length" if is_str else "size"
    fn = "substring" if is_str else "slice"
    sz = f"{size_fn}({base_sql})"
    s2 = (
        f"(CASE WHEN ({lo_sql}) < 0 THEN greatest({sz} + ({lo_sql}) + 1, 1) "
        f"ELSE greatest(({lo_sql}), 1) END)"
    )
    e2 = (
        f"(CASE WHEN ({hi_sql}) < 0 THEN {sz} + ({hi_sql}) + 1 "
        f"ELSE least(({hi_sql}), {sz}) END)"
    )
    return f"{fn}({base_sql}, {s2}, greatest({e2} - {s2} + 1, 0))"


# calls that are string-valued in both engines: a bracket subscript on
# one is DuckDB 1-based STRING indexing/slicing, not list access
_STRING_VALUED_FNS = frozenset({
    "lower", "upper", "trim", "ltrim", "rtrim", "btrim", "concat",
    "concat_ws", "substr", "substring", "replace", "repeat", "reverse",
    "lpad", "rpad", "left", "right", "format", "printf", "chr",
    "initcap", "translate", "strip_accents", "nfc_normalize",
})


def _visibly_string_base(base: List[Token]) -> bool:
    """True when a bracket-subscript base is LEXICALLY string-valued:
    a parenthesized expression with a top-level ``||`` and a top-level
    string literal (list || string is an error in DuckDB, so the chain
    must be varchar concat), or a call to a known string function.
    Extends the string-literal-base rule so ``(x || 'y')[2:4]`` slices
    as a STRING (the type-blind default is the list path, which fails
    loudly at analysis on string inputs)."""
    code = [t for t in base if t.kind not in ("ws", "comment")]
    while (
        len(code) >= 3
        and code[0].kind == "op" and code[0].text == "("
        and _matching_paren(code, 0) == len(code) - 1
    ):
        innerc = code[1:-1]
        has_pipe = bool(_top_level_positions(
            innerc, 0, len(innerc),
            lambda t: t.kind == "op" and t.text == "||",
        ))
        if has_pipe:
            depth = 0
            for t in innerc:
                if t.kind == "op" and t.text == "(":
                    depth += 1
                elif t.kind == "op" and t.text == ")":
                    depth -= 1
                elif depth == 0 and t.kind == "string":
                    return True
            return False
        code = innerc
    return (
        len(code) == 1 and code[0].kind == "string"
    ) or (
        len(code) >= 2
        and code[0].kind == "word"
        and code[0].text.lower() in _STRING_VALUED_FNS
        and code[1].kind == "op" and code[1].text == "("
        and _matching_paren(code, 1) == len(code) - 1
    )


def _rewrite_brackets(tokens: List[Token]) -> List[Token]:
    """DuckDB bracket syntax -> Spark:

    - list literal ``[a, b]``           -> ``array(a, b)``
    - 1-based index ``l[i]``            -> ``element_at(l, i)`` (supports
      DuckDB's negative from-the-end indexing too)
    - inclusive slice ``l[a:b]``        -> ``slice(l, a, (b)-(a)+1)``;
      open ends default to 1 / size(l); a NEGATIVE-LITERAL bound counts
      from the end (DuckDB: ``l[2:-1]`` reaches the last element) ->
      rewritten to ``size(l) + b + 1``. Negative bounds that are
      runtime expressions (not literals) are not detected.
    - string-literal bases use DuckDB's 1-based string indexing:
      ``'abc'[2]`` -> ``substring('abc', 2, 1)``, slices likewise with
      ``length()`` standing in for ``size()``.

    Literal vs. index is decided by the preceding code token (a value-
    producing token means indexing — including a string literal). Map
    access via brackets shares the element_at path, which is also
    Spark's map accessor.

    A plain column-reference base consults the published schema hints
    (``column_type_hints``): a STRING hint takes the 1-based string
    path, a MAP hint takes DuckDB 1.0's list-wrapped map access
    (``m[k]`` -> [value] on hit, [] on miss — exact for NULL values
    via ``map_contains_key``). Unhinted bases keep the type-blind
    list default.
    """
    out: List[Token] = []
    prev_code: Token | None = None
    i = 0
    n = len(tokens)
    hint_lambda = _hof_lambda_spans(tokens) if _TYPE_HINTS.get() else set()
    while i < n:
        tok = tokens[i]
        if tok.kind == "op" and tok.text == "[":
            close = _matching_bracket(tokens, i)
            inner = _rewrite_brackets(tokens[i + 1 : close])
            is_index = prev_code is not None and (
                prev_code.kind in ("word", "bident", "qident")
                and prev_code.upper not in _NOT_VALUE_WORDS
                or (prev_code.kind == "op" and prev_code.text in (")", "]"))
                or prev_code.kind == "string"
            )
            if not is_index:
                # list comprehension [expr FOR var IN list [IF cond]]
                # -> transform(filter(list, var -> cond), var -> expr)
                fors = _top_level_positions(
                    inner, 0, len(inner), lambda t: t.is_kw("FOR")
                )
                comp = None
                if len(fors) == 1:
                    f = fors[0]
                    v = _next_code(inner, f)
                    inkw = _next_code(inner, v) if v < len(inner) else len(inner)
                    if (
                        v < len(inner)
                        and inner[v].kind in ("word", "bident", "qident")
                        and inkw < len(inner)
                        and inner[inkw].is_kw("IN")
                    ):
                        var = unquote_name(inner[v])
                        ifs = _top_level_positions(
                            inner, inkw + 1, len(inner),
                            lambda t: t.is_kw("IF"),
                        )
                        expr = _sql(inner, 0, f)
                        if ifs:
                            lst = _sql(inner, inkw + 1, ifs[0])
                            cond = _sql(inner, ifs[0] + 1, len(inner))
                            comp = (
                                f"transform(filter({lst}, "
                                f"{var} -> {cond}), {var} -> {expr})"
                            )
                        else:
                            lst = _sql(inner, inkw + 1, len(inner))
                            comp = f"transform({lst}, {var} -> {expr})"
                if comp is not None:
                    out.extend(_toks(comp))
                else:
                    out.extend(_toks("array("))
                    out.extend(inner)
                    out.append(Token("op", ")"))
            else:
                colons = _top_level_positions(
                    inner, 0, len(inner), lambda t: t.kind == "op" and t.text == ":"
                )
                base = _capture_primary_backward(out)
                hint = (
                    _hinted_primary_type(base)
                    if i not in hint_lambda
                    else None
                )
                is_str = (
                    len(base) == 1 and base[0].kind == "string"
                ) or _visibly_string_base(base) or hint == "string"
                if not colons and hint is not None and hint.startswith("map"):
                    # DuckDB 1.0 map brackets return a LIST: [value] on
                    # hit (NULL values included), [] on miss
                    b_sql = "".join(t.text for t in base)
                    k_sql = "".join(t.text for t in inner)
                    out.extend(
                        _toks(
                            f"slice(array(try_element_at({b_sql}, "
                            f"({k_sql}))), 1, CAST(map_contains_key("
                            f"{b_sql}, ({k_sql})) AS INT))"
                        )
                    )
                    prev_code = out[-1]
                    i = close + 1
                    continue
                if not colons:
                    if is_str:
                        # DuckDB 1-based string indexing; substring's
                        # native negative start covers from-the-end
                        out.extend(_toks("substring("))
                        out.extend(base)
                        out.append(Token("op", ","))
                        out.extend(inner)
                        out.extend(_toks(", 1)"))
                    else:
                        idx_lit = _int_literal_value(inner)
                        if idx_lit is not None:
                            # integer-literal index: definitely an array
                            # access -> 0-based get(), which is NULL-on-
                            # out-of-bounds like DuckDB AND whole-stage-
                            # codegen-compilable (try_element_at's codegen
                            # is broken in Spark 4.1: "isNull_N is not an
                            # rvalue" forces interpreted fallback)
                            base_sql = "".join(t.text for t in base)
                            if idx_lit > 0:
                                pos = str(idx_lit - 1)
                            elif idx_lit < 0:
                                pos = f"size({base_sql}) + ({idx_lit})"
                            else:  # [0] is out of range in 1-based DuckDB
                                pos = "-1"
                            out.extend(_toks(f"get({base_sql}, {pos})"))
                        else:
                            # try_element_at: DuckDB yields NULL (not an
                            # ANSI error) for out-of-bounds; negative =
                            # from the end in both engines; also the map
                            # accessor. Spark's array element_at demands
                            # an INT index (no BIGINT coercion), so a
                            # syntactically-numeric index (arithmetic /
                            # numbers, no strings — can't be a string
                            # map key) gets the cast; map keys coerce
                            # through INT fine
                            icode = [
                                t
                                for t in inner
                                if t.kind not in ("ws", "comment")
                            ]
                            numericish = not any(
                                t.kind == "string" for t in icode
                            ) and any(
                                (
                                    t.kind == "op"
                                    and t.text in ("+", "-", "*", "/", "%")
                                )
                                or t.kind == "number"
                                or (t.kind == "word" and t.text.isdigit())
                                for t in icode
                            )
                            out.extend(_toks("try_element_at("))
                            out.extend(base)
                            out.append(Token("op", ","))
                            if numericish:
                                out.extend(_toks("CAST(("))
                                out.extend(inner)
                                out.extend(_toks(") AS INT)"))
                            else:
                                out.extend(inner)
                            out.append(Token("op", ")"))
                elif len(colons) == 2 and not is_str:
                    # step slice l[lo:hi:step]: positions lo, lo+step,
                    # ... up to hi (hi -1 reaches the end, DuckDB
                    # convention); strings fall through (DuckDB itself
                    # raises Not implemented there)
                    c1, c2 = colons
                    base_sql = "".join(t.text for t in base)
                    lo_sql = "".join(t.text for t in inner[:c1]).strip() or "1"
                    hi_sql = (
                        "".join(t.text for t in inner[c1 + 1: c2]).strip()
                        or f"size({base_sql})"
                    )
                    step_sql = (
                        "".join(t.text for t in inner[c2 + 1:]).strip() or "1"
                    )
                    lo_e = f"greatest(CAST(({lo_sql}) AS INT), 1)"
                    hi_e = (
                        f"least(CASE WHEN ({hi_sql}) < 0 THEN "
                        f"size({base_sql}) + ({hi_sql}) + 1 "
                        f"ELSE CAST(({hi_sql}) AS INT) END, "
                        f"size({base_sql}))"
                    )
                    out.extend(
                        _toks(
                            f"(CASE WHEN {hi_e} < {lo_e} THEN "
                            f"slice({base_sql}, 1, 0) ELSE "
                            f"transform(sequence({lo_e}, {hi_e}, "
                            f"CAST(({step_sql}) AS INT)), "
                            f"__i -> try_element_at({base_sql}, __i)) "
                            f"END)"
                        )
                    )
                else:
                    c = colons[0]
                    lo_t, hi_t = inner[:c], inner[c + 1 :]
                    base_sql = "".join(t.text for t in base)
                    size_fn = "length" if is_str else "size"
                    lo_sql = "".join(t.text for t in lo_t).strip() or "1"
                    hi_sql = (
                        "".join(t.text for t in hi_t).strip()
                        or f"{size_fn}({base_sql})"
                    )
                    out.extend(
                        _toks(_slice_expr(base_sql, lo_sql, hi_sql, is_str))
                    )
            prev_code = out[-1]
            i = close + 1
            continue
        out.append(tok)
        if tok.kind not in ("ws", "comment"):
            prev_code = tok
        i += 1
    return out


# words that can directly precede '[' without producing a value
# (so a bracket after them is a LITERAL, not an index)
_NOT_VALUE_WORDS = {
    "SELECT", "WHERE", "AND", "OR", "NOT", "IN", "ON", "WHEN", "THEN", "ELSE",
    "BY", "AS", "CASE", "RETURN", "VALUES", "SET", "HAVING", "LIMIT", "OFFSET",
    "UNION", "ALL", "DISTINCT", "FROM", "JOIN", "BETWEEN", "LIKE", "IS",
}


def _split_top_commas(tokens: List[Token], lo: int, hi: int) -> List[tuple[int, int]]:
    """(start, end) spans of the comma-separated items of
    ``tokens[lo:hi]`` at depth 0 (see ``_top_level_positions``); an
    empty run is one empty item."""
    commas = _top_level_positions(
        tokens, lo, hi, lambda t: t.kind == "op" and t.text == ","
    )
    spans = []
    start = lo
    for c in commas:
        spans.append((start, c))
        start = c + 1
    spans.append((start, hi))
    return spans


def _call_args(tokens: List[Token], open_idx: int, close_idx: int) -> List[List[Token]]:
    """Argument token lists of the call whose parentheses are at
    ``open_idx`` and ``close_idx``: ``_split_top_commas`` items, less
    a last one without any token (``f()`` has no argument, ``f(a,)``
    one)."""
    args = [tokens[a:b] for a, b in _split_top_commas(tokens, open_idx + 1, close_idx)]
    return args if args[-1] else args[:-1]


def _sql(tokens: List[Token], lo: int, hi: int) -> str:
    return "".join(t.text for t in tokens[lo:hi]).strip()


_PLAIN_DECIMAL_RE = re.compile(r"^\d+\.\d+$")


def _plain_decimal_literal_arg(tokens: List[Token], span) -> bool:
    """True when the argument span is a bare decimal literal (``1.5``,
    optionally parenthesized/signed) — DECIMAL-typed in both engines,
    where Spark's native ceil/floor already matches DuckDB."""
    lo, hi = span
    code = [t for t in tokens[lo:hi] if t.kind not in ("ws", "comment")]
    while (
        len(code) >= 3
        and code[0].kind == "op" and code[0].text == "("
        and code[-1].kind == "op" and code[-1].text == ")"
        and _matching_paren(code, 0) == len(code) - 1
    ):
        code = code[1:-1]
    if len(code) == 2 and code[0].kind == "op" and code[0].text in ("-", "+"):
        code = code[1:]
    return (
        len(code) == 1
        and code[0].kind == "word"
        and bool(_PLAIN_DECIMAL_RE.match(code[0].text))
    )


def _signed_plain_number_arg(tokens: List[Token], span):
    """``(sign, literal_text)`` when the argument span is a bare numeric
    literal (``5``, ``4.75``, optionally parenthesized/signed), else
    None. Exponent forms are excluded (DOUBLE-typed in DuckDB — they
    belong on the double path)."""
    lo, hi = span
    code = [t for t in tokens[lo:hi] if t.kind not in ("ws", "comment")]
    while (
        len(code) >= 3
        and code[0].kind == "op" and code[0].text == "("
        and code[-1].kind == "op" and code[-1].text == ")"
        and _matching_paren(code, 0) == len(code) - 1
    ):
        code = code[1:-1]
    sign = ""
    if len(code) == 2 and code[0].kind == "op" and code[0].text in ("-", "+"):
        sign = "-" if code[0].text == "-" else ""
        code = code[1:]
    if (
        len(code) == 1
        and code[0].kind == "word"
        and re.match(r"^\d+(\.\d+)?$", code[0].text)
    ):
        return sign, code[0].text
    return None


def _order_at(c: _CallSite):
    """Index of the top-level ORDER keyword in ``c.inner``, or None."""
    pos = _top_level_positions(c.inner, 0, len(c.inner), lambda t: t.is_kw("ORDER"))
    return pos[0] if pos else None


def _order_key(c: _CallSite, ob: int):
    """``(key, DESC)`` of the ``ORDER BY key [ASC|DESC]`` at ``ob`` in
    ``c.inner``, or None when BY does not follow ORDER."""
    order_expr = _sql(c.inner, ob, len(c.inner))[len("ORDER"):].strip()
    if not order_expr.upper().startswith("BY"):
        return None
    order_expr = order_expr[2:].strip()
    if order_expr.upper().endswith(" DESC"):
        return order_expr[:-5].strip(), True
    if order_expr.upper().endswith(" ASC"):
        return order_expr[:-4].strip(), False
    return order_expr, False


def _shim_ordered_first_last(c):
    # ordered first/last ARE min_by/max_by
    ob = _order_at(c)
    order = _order_key(c, ob) if ob is not None else None
    if order is not None and "," not in order[0]:
        key, desc = order
        fn = "min_by" if (c.name == "first") != desc else "max_by"
        return f"{fn}({_sql(c.inner, 0, ob)}, {key})"


def _shim_drop_agg_order(c):
    # order-insensitive aggregates: DuckDB tolerates an
    # in-aggregate ORDER BY; drop it
    ob = _order_at(c)
    if ob is not None:
        return f"{c.name}({_sql(c.inner, 0, ob)})"


def _shim_ordered_list_agg(c):
    ob = _order_at(c)
    if ob is not None:
        head = _sql(c.inner, 0, ob)
        tail = _sql(c.inner, ob, len(c.inner))  # "ORDER BY ..."
        if c.name in ("string_agg", "group_concat"):
            # DuckDB's default separator is ',' (Spark
            # listagg defaults to '')
            if len(_split_top_commas(c.inner, 0, ob)) == 1:
                head = f"{head}, ','"
            return f"listagg({head}) WITHIN GROUP ({tail})"
        # array_agg/list: only the sort-by-self form
        # maps (optionally DISTINCT). NULL elements are
        # KEPT like DuckDB (collect_list drops them, so
        # rows are collected as structs and unwrapped —
        # the per-element lambda cost is group-sized);
        # NULLs sort LAST in DuckDB for ASC and DESC
        order = _order_key(c, ob)
        assert order is not None
        core, desc = order
        hdist = re.match(r"(?is)^\s*DISTINCT\b", head)
        hcore = (head[hdist.end():].strip() if hdist else head)
        if core.replace(" ", "") == hcore.replace(" ", ""):
            arr = (
                f"transform(collect_list("
                f"struct(({hcore}) AS __v)), __s -> __s.__v)"
            )
            if hdist:
                arr = f"array_distinct({arr})"
            if desc:
                expr = (
                    f"array_sort({arr}, (__l, __r) -> "
                    "CASE WHEN __l IS NULL AND __r IS "
                    "NULL THEN 0 WHEN __l IS NULL THEN 1 "
                    "WHEN __r IS NULL THEN -1 "
                    "WHEN __l < __r THEN 1 "
                    "WHEN __l > __r THEN -1 ELSE 0 END)"
                )
            else:
                expr = f"array_sort({arr})"
            return expr


def _shim_regexp_extract(c):
    if len(c.args) == 2:
        a, b = c.args
        return f"regexp_extract({a}, {b}, 0)"


def _shim_list_sort(c):
    if (
        (c.name == "list_reverse_sort" and len(c.args) in (1, 2))
        or (c.name != "list_reverse_sort" and len(c.args) in (2, 3))
    ):
        # DuckDB order/null-order literals (measured: the
        # DEFAULT null order is NULLS LAST for ASC and
        # DESC alike). Literal directions only — a dynamic
        # direction column fails loudly at analysis.
        l_ = c.args[0]
        lits = []
        litok = True
        for sp in c.spans[1:]:
            code = [
                t
                for t in c.inner[sp[0]: sp[1]]
                if t.kind not in ("ws", "comment")
            ]
            if len(code) == 1 and code[0].kind == "string":
                lits.append(code[0].text[1:-1].strip().upper())
            else:
                litok = False
        if litok:
            if c.name == "list_reverse_sort":
                order = "DESC"
                nulls = lits[0] if lits else "NULLS LAST"
            else:
                order = lits[0] if lits else "ASC"
                nulls = (lits[1] if len(lits) > 1 else "NULLS LAST")
            # Spark: array_sort = ASC NULLS LAST;
            # sort_array(asc) = ASC NULLS FIRST;
            # sort_array(desc) = DESC NULLS LAST (measured)
            nf = nulls == "NULLS FIRST"
            if order == "DESC":
                expr = (
                    f"reverse(array_sort(({l_})))"
                    if nf
                    else f"sort_array(({l_}), false)"
                )
            else:
                expr = (
                    f"sort_array(({l_}), true)"
                    if nf
                    else f"array_sort(({l_}))"
                )
            return expr


def _shim_list_resize(c):
    if len(c.args) in (2, 3):
        # pad with NULL (2-arg) or the given value (3-arg)
        # BEYOND the original length; existing NULL elements
        # survive (DuckDB: list_resize([1,NULL,3],5,9) =
        # [1,NULL,3,9,9])
        x_, n_ = c.args[:2]
        pad_ = c.args[2] if len(c.args) == 3 else "NULL"
        return (
            f"(CASE WHEN ({x_}) IS NULL THEN NULL "
            # DuckDB: NULL size behaves as 0 (verified)
            f"WHEN ({n_}) IS NULL OR ({n_}) <= 0 "
            f"THEN slice(({x_}), 1, 0) "
            f"ELSE transform(sequence(1, CAST(({n_}) AS INT)), "
            f"__i -> IF(__i <= size(({x_})), "
            f"try_element_at(({x_}), __i), ({pad_}))) END)"
        )


def _shim_parse_path(c):
    if len(c.args) in (1, 2):
        # components list; a leading separator is its own
        # root element (DuckDB: parse_path('/a/b') =
        # ['/', 'a', 'b']). 'system' = '/' on this engine
        # (POSIX containers)
        p_ = c.args[0]
        if len(c.args) == 2:
            sep_ = c.args[1]
            cls = (
                f"(CASE WHEN lower(({sep_})) IN "
                f"('forward_slash', 'system') THEN '[/]' "
                f"WHEN lower(({sep_})) = 'backslash' "
                r"THEN '[\\\\]' "
                r"ELSE '[/\\\\]' END)"
            )
        else:
            cls = r"'[/\\\\]'"
        return (
            f"(CASE WHEN ({p_}) IS NULL THEN NULL ELSE "
            f"concat(IF(substr(({p_}), 1, 1) RLIKE "
            f"concat('^', {cls}, '$'), "
            f"array(substr(({p_}), 1, 1)), "
            f"CAST(array() AS ARRAY<STRING>)), "
            f"filter(split(({p_}), {cls}), "
            f"__x -> __x <> '')) END)"
        )


def _shim_array_extract(c):
    if len(c.args) == 2:
        # DuckDB overloads these over VARCHAR: 1-based char
        # pick, negative from the end, 0/out-of-bounds ''.
        # Spark's element_at rejects strings at ANALYSIS, so
        # the dispatch is static: string-literal subjects
        # take the substr path; everything else stays on the
        # list path (try_element_at via _FN_RENAMES)
        c0 = c.code(0)
        if len(c0) == 1 and c0[0].kind == "string":
            s_, ix = c.args
            return (
                f"(CASE WHEN CAST(({ix}) AS BIGINT) = 0 "
                f"THEN '' ELSE substr(({s_}), "
                f"CAST(({ix}) AS INT), 1) END)"
            )
        # list path: Spark's element_at requires an INT
        # index for arrays (no BIGINT coercion); these are
        # DuckDB's LIST accessors, so the cast is always
        # safe (maps go through map_extract / brackets)
        s_, ix = c.args
        return f"try_element_at(({s_}), CAST(({ix}) AS INT))"


def _shim_octet_length(c):
    if len(c.args) == 1:
        # BIT values are '0'/'1' strings in this engine;
        # octet_length over a syntactically-known bitstring
        # is its byte count, ceil(bits/8). Detection reads
        # the PRE-rewrite tokens (the bitstring call itself
        # is already expanded inside ``inner``)
        c0 = [
            t
            for t in c.tokens[c.p_open + 1: c.close]
            if t.kind not in ("ws", "comment")
        ]
        if (
            c0
            and c0[0].kind == "word"
            and c0[0].text.lower() in ("bitstring", "bitstring_agg")
        ):
            a = c.args[0]
            return f"CAST(ceil(length({a}) / 8.0) AS BIGINT)"


def _shim_make_time(c):
    if len(c.args) == 3:
        # TIME is represented as an epoch-day timestamp
        # (see _rewrite_time_literals)
        h_, m_, s_ = c.args
        return (
            f"make_timestamp(1970, 1, 1, "
            f"CAST(({h_}) AS INT), CAST(({m_}) AS INT), "
            f"({s_}))"
        )


def _shim_bitstring_agg(c):
    if len(c.args) in (1, 3):
        # bit per position over [min, max] (leftmost = min);
        # the 1-arg form derives the bounds from the same
        # aggregation (DuckDB needs column stats there).
        # Divergence: values outside explicit bounds error
        # in DuckDB, here they are ignored
        x_ = c.args[0]
        if len(c.args) == 3:
            mn = f"CAST(({c.args[1]}) AS BIGINT)"
            mx = f"CAST(({c.args[2]}) AS BIGINT)"
        else:
            mn = f"min(CAST(({x_}) AS BIGINT))"
            mx = f"max(CAST(({x_}) AS BIGINT))"
        return (
            f"array_join(transform(sequence({mn}, {mx}), "
            f"__p -> CASE WHEN array_contains("
            f"collect_set(CAST(({x_}) AS BIGINT)), __p) "
            f"THEN '1' ELSE '0' END), '')"
        )


def _shim_struct_insert(c):
    if len(c.args) >= 2:
        # name := value field append -> named_struct splice.
        # Needs a named_struct-shaped base (brace literals /
        # struct_pack are already rewritten by this point);
        # a dynamic struct column base needs the schema and
        # falls through to a loud Spark error (COVERAGE.md)
        def _named_pairs(arg_spans):
            pairs = []
            for s_, e_ in arg_spans:
                code = [
                    (j, t)
                    for j, t in enumerate(c.inner[s_:e_])
                    if t.kind not in ("ws", "comment")
                ]
                if (
                    len(code) >= 3
                    and code[0][1].kind
                    in ("word", "bident", "qident")
                    and code[1][1].kind == "op"
                    and code[1][1].text == ":"
                    and code[2][1].kind == "op"
                    and code[2][1].text == "="
                ):
                    name = unquote_name(code[0][1])
                    val = _sql(c.inner, s_ + code[2][0] + 1, e_)
                    pairs.append((name, val))
                else:
                    return None
            return pairs
        base_sql = c.args[0].strip()
        pairs = _named_pairs(c.spans[1:])
        if (
            pairs
            and base_sql.startswith("named_struct(")
            and base_sql.endswith(")")
        ):
            base_inner = base_sql[len("named_struct("):-1]
            added = ", ".join(
                f"'{n}', ({v})" for n, v in pairs
            )
            sep = ", " if base_inner.strip() else ""
            return (
                f"named_struct({base_inner}{sep}"
                f"{added})"
            )
        if pairs:
            # a STRUCT-hinted plain column base: the
            # published schema names its fields, so the
            # splice works on dynamic columns too (an
            # existing-name collision falls through to the
            # loud unresolved-function error, like DuckDB's
            # duplicate-entry error)
            s_hint = _hinted_primary_type(c.arg_toks(0))
            flds = (
                _struct_hint_fields(s_hint)
                if s_hint is not None
                else None
            )
            new_lower = {n.lower() for n, _ in pairs}
            if flds is not None and not (
                new_lower & {f.lower() for f in flds}
            ):
                spread = ", ".join(
                    f"'{f}', ({base_sql}).`{f}`"
                    for f in flds
                )
                added = ", ".join(
                    f"'{n}', ({v})" for n, v in pairs
                )
                return f"named_struct({spread}, {added})"


def _shim_over_window(c):
    # window-context rewrites that must consume the trailing OVER
    # clause
    after = _next_code(c.tokens, c.close)
    op_ = _next_code(c.tokens, after)
    if not (
        op_ < len(c.tokens)
        and c.tokens[after].is_kw("OVER")
        and c.tokens[op_].kind == "op"
        and c.tokens[op_].text == "("
    ):
        return None
    over_close = _matching_paren(c.tokens, op_)
    over_sql = "".join(t.text for t in c.tokens[after : over_close + 1])
    icode = [t for t in c.inner if t.kind not in ("ws", "comment")]
    if c.name == "count" and icode and icode[0].is_kw("DISTINCT"):
        # Spark has no DISTINCT window aggregates; a windowed
        # collect_set IS the distinct multiset (NULLs excluded, like
        # COUNT)
        e = _sql(c.inner, 0, len(c.inner)).strip()
        if e.upper().startswith("DISTINCT"):
            e = e[len("DISTINCT"):].strip()
        return f"size(collect_set({e}) {over_sql})", over_close + 1
    if c.name == "median" and re.search(
        r"(?i)\b(ORDER|ROWS|RANGE)\b", over_sql
    ):
        # Spark's percentile rejects ordered/framed windows; compose
        # the exact median from a windowed collect_list (identical
        # window expressions share one Window operator)
        e = _sql(c.inner, 0, len(c.inner))
        ch_mw = _parse_literal_decimal_chain(e)
        if ch_mw is not None and not ch_mw[3] and ch_mw[1] <= 38:
            # DECIMAL median is DuckDB's DISCRETE lower-middle
            # (type-preserving), not the interpolating fold — reroute
            # to the quantile_disc spelling; the late frame pass
            # streams or folds it with the DECIMAL(w,s) result (r13)
            return (
                f"percentile_disc(0.5) WITHIN GROUP (ORDER BY {e}) "
                f"{over_sql}"
            ), over_close + 1
        lst = (
            f"sort_array(filter(collect_list({e}) "
            f"{over_sql}, __v -> __v IS NOT NULL))"
        )
        return (
            f"(CASE WHEN size({lst}) = 0 THEN "
            f"CAST(NULL AS DOUBLE) ELSE "
            f"(CAST(get({lst}, CAST((size({lst}) - 1) / 2 AS INT)) AS DOUBLE) + "
            f"CAST(get({lst}, CAST(size({lst}) / 2 AS INT)) AS DOUBLE)) / 2 END)"
        ), over_close + 1
    return None


def _shim_array_length(c):
    if len(c.args) == 2:
        # 2-arg form takes a dimension; lists have exactly
        # one (DuckDB errors on any other value)
        a, d_ = c.args
        return (
            f"(CASE WHEN ({d_}) = 1 THEN size(({a})) "
            f"ELSE CAST(raise_error('array_length: "
            f"list has exactly one dimension') AS INT) "
            f"END)"
        )


def _shim_list_where(c):
    if len(c.args) == 2:
        # mask selection keeping NULL ELEMENTS where the
        # mask is true (list_where([1,NULL,3],[t,t,f]) =
        # [1,NULL]) — a struct zip so NULL values survive
        # the filter; zip_with pads a shorter mask with
        # NULL = drop (DuckDB errors on length mismatch)
        l_, m_ = c.args
        return (
            f"transform(filter(zip_with(({l_}), ({m_}), "
            f"(__x, __m) -> struct(__x AS v, __m AS keep)), "
            f"__s -> __s.keep), __s -> __s.v)"
        )


def _shim_mad(c):
    if len(c.args) == 1:
        # median absolute deviation: numerics cast to
        # DOUBLE; temporals route through epoch micros and
        # come back as a day-time interval (DuckDB returns
        # INTERVAL there). The call name survives for the
        # window and grouped lowerings that follow; any
        # other call is lowered by the trailing
        # _rewrite_mad_fallback_template pass.
        a = c.args[0]
        # DISTINCT qualifier hoists OUTSIDE the cast so the
        # restructure/template can dedupe before the medians
        a, mad_distinct = _split_distinct_prefix(a)
        dq = "DISTINCT " if mad_distinct else ""
        if _static_temporal_sql(a):
            return (
                f"make_dt_interval(0, 0, 0, "
                f"mad({dq}CAST(unix_micros(CAST(({a}) AS "
                f"TIMESTAMP_LTZ)) AS DOUBLE)) / 1000000.0D)"
            )
        else:
            if _arg_domain(a).kind == "dec":
                # statically-DECIMAL chain: keep the raw
                # arg so the restructure/template/streaming
                # passes can detect the truncating
                # unscaled-integer domain and the
                # DECIMAL(w,s) result type (r13;
                # _mad_mode_and_wrap) — they add their own
                # double casts over the unscaled values
                return f"mad({dq}({a}))"
            else:
                return f"mad({dq}CAST(({a}) AS DOUBLE))"


def _shim_substring_grapheme(c):
    if len(c.args) == 2:
        # default length = to end of string (UDF is 3-arg)
        a, b = c.args
        return f"substring_grapheme({a}, {b}, 2147483647)"


def _shim_interval_bucket(c):
    if len(c.args) == 1:
        # interval overload: years-derived bucket of a
        # literal INTERVAL n UNIT (day-time units hold no
        # years: decade(INTERVAL 3 DAY) = 0)
        c0 = c.code(0)
        if (
            len(c0) == 3
            and c0[0].is_kw("INTERVAL")
            and c0[1].kind in ("number", "word")
            and c0[1].text.isdigit()
            and c0[2].kind == "word"
        ):
            months_per = {
                "year": 12, "years": 12,
                "month": 1, "months": 1,
                "quarter": 3, "quarters": 3,
                "decade": 120, "decades": 120,
                "century": 1200, "centuries": 1200,
                "millennium": 12000, "millennia": 12000,
            }.get(c0[2].text.lower(), 0)
            years = (int(c0[1].text) * months_per) // 12
            div = {
                "decade": 10, "century": 100,
                "millennium": 1000,
            }[c.name]
            return f"CAST({years // div} AS BIGINT)"


def _shim_timezone(c):
    if len(c.args) == 2:
        # timezone(tz, ts): interpret the (naive) timestamp
        # as tz-local and give the UTC instant — DuckDB's
        # TIMESTAMPTZ rendered in this engine's UTC session
        tz, ts = c.args
        return f"to_utc_timestamp({ts}, {tz})"


def _shim_timezone_offset(c):
    if len(c.args) == 1:
        # 1-arg form: the session's UTC offset in seconds
        # (this engine's session timezone is UTC by design)
        return "CAST(0 AS BIGINT)"


def _shim_json_type(c):
    if len(c.args) == 1:
        # leaf/container type names, matching DuckDB's set
        # (verified: OBJECT/ARRAY/VARCHAR/BOOLEAN/NULL/
        # BIGINT for -n, UBIGINT for +n, DOUBLE otherwise)
        a = c.args[0]
        t = f"trim(({a}))"
        num = r"'^-?[0-9]+(\\.[0-9]+)?([eE][+-]?[0-9]+)?$'"
        return (
            f"(CASE WHEN ({a}) IS NULL THEN "
            f"CAST(NULL AS STRING) "
            f"WHEN {t} LIKE '{{%' THEN 'OBJECT' "
            f"WHEN {t} LIKE '[%' THEN 'ARRAY' "
            f"WHEN {t} LIKE '\"%' THEN 'VARCHAR' "
            f"WHEN {t} IN ('true', 'false') THEN 'BOOLEAN' "
            f"WHEN {t} = 'null' THEN 'NULL' "
            f"WHEN {t} RLIKE '^-[0-9]+$' THEN 'BIGINT' "
            f"WHEN {t} RLIKE '^[0-9]+$' THEN 'UBIGINT' "
            f"WHEN {t} RLIKE {num} THEN 'DOUBLE' "
            f"ELSE CAST(raise_error(concat("
            f"'json_type: malformed JSON: ', {t})) "
            f"AS STRING) END)"
        )


def _shim_bar(c):
    if len(c.args) in (3, 4):
        # DuckDB bar(): full blocks + floor-to-eighth partial,
        # then right-pad with spaces to `width` BYTES (each
        # block char is 3 bytes of UTF-8 — reproducing
        # DuckDB's byte-based padding exactly)
        x, lo_a, hi_a = c.args[:3]
        width = c.args[3] if len(c.args) == 4 else "80"
        # zero-width range: DuckDB renders full for x > max,
        # empty otherwise (verified) — the nullif'd division
        # would raise DIVIDE_BY_ZERO under ANSI
        frac = (
            f"coalesce((CAST(({x}) AS DOUBLE) - "
            f"CAST(({lo_a}) AS DOUBLE)) / "
            f"nullif(CAST(({hi_a}) AS DOUBLE) - "
            f"CAST(({lo_a}) AS DOUBLE), 0), "
            f"CASE WHEN CAST(({x}) AS DOUBLE) > "
            f"CAST(({lo_a}) AS DOUBLE) THEN CAST(1 AS DOUBLE) "
            f"ELSE CAST(0 AS DOUBLE) END)"
        )
        units = (
            f"(least(greatest({frac}, CAST(0 AS DOUBLE)), "
            f"CAST(1 AS DOUBLE)) * ({width}))"
        )
        full = f"CAST(floor({units}) AS INT)"
        rem8 = f"CAST(floor(({units} - floor({units})) * 8) AS INT)"
        nchars = f"({full} + (CASE WHEN {rem8} >= 1 THEN 1 ELSE 0 END))"
        return (
            f"concat(repeat('█', {full}), "
            f"CASE WHEN {rem8} BETWEEN 1 AND 7 THEN "
            "element_at(array('▏','▎','▍','▌','▋','▊','▉'), "
            f"{rem8}) ELSE '' END, "
            f"repeat(' ', greatest(0, CAST(({width}) AS INT)"
            f" - 3 * {nchars})))"
        )


def _shim_arg_max(c):
    if len(c.args) == 2:
        # DuckDB skips rows whose VALUE argument is NULL
        # (verified: arg_max over ('a',1),(NULL,5) = 'a');
        # Spark max_by returns the NULL — mask the ordering
        # key so those rows never win
        a, b = c.args
        fn2 = "max_by" if "max" in c.name else "min_by"
        return (
            f"{fn2}(({a}), CASE WHEN ({a}) IS NOT NULL "
            f"THEN ({b}) END)"
        )


def _shim_generate_series(c):
    if len(c.args) == 1:
        # 1-arg form: 0..n inclusive
        a = c.args[0]
        return f"sequence(0, ({a}))"


def _shim_greatest(c):
    if len(c.args) == 1:
        # 1-arg identity (Spark requires >= 2 args)
        a = c.args[0]
        return f"(({a}))"


def _shim_array_reverse_sort(c):
    if len(c.args) == 1:
        a = c.args[0]
        return f"sort_array(({a}), false)"


def _shim_regexp_escape(c):
    if len(c.args) == 1:
        # DuckDB uses RE2 QuoteMeta: backslash before every
        # non-[A-Za-z0-9_] character
        a = c.args[0]
        return (
            f"regexp_replace(({a}), "
            f"'([^A-Za-z0-9_])', '\\\\\\\\$1')"
        )


def _shim_parse_filename(c):
    if len(c.args) in (1, 2):
        p_ = c.args[0]
        sep = "[/\\\\\\\\]"  # SQL literal -> regex [/\\]
        if c.name == "parse_dirpath":
            repl = (
                f"regexp_extract(({p_}), '^(.*){sep}', 1)"
            )
        elif c.name == "parse_dirname":
            repl = (
                f"regexp_extract(({p_}), "
                f"'^([^/\\\\\\\\]*){sep}', 1)"
            )
        else:
            plain = (
                f"regexp_extract(({p_}), "
                f"'([^/\\\\\\\\]*)$', 1)"
            )
            if len(c.args) == 2:
                trim = (
                    f"regexp_extract(({p_}), "
                    f"'([^/\\\\\\\\.]*)(\\\\.[^/\\\\\\\\]*)?$'"
                    f", 1)"
                )
                b = c.args[1]
                repl = (
                    f"(CASE WHEN ({b}) THEN {trim} "
                    f"ELSE {plain} END)"
                )
            else:
                repl = plain
        return repl


def _shim_md5_number_lower(c):
    if len(c.args) == 1:
        # little-endian uint64 of md5 bytes 8..15 (lower) /
        # 0..7 (upper), verified against DuckDB
        a = c.args[0]
        h = f"md5(({a}))"
        start = 17 if c.name == "md5_number_lower" else 1
        pairs = ", ".join(
            f"substr({h}, {start + 2 * i}, 2)"
            for i in reversed(range(8))
        )
        return (
            f"CAST(conv(concat({pairs}), 16, 10) "
            f"AS DECIMAL(20, 0))"
        )


def _shim_struct_extract(c):
    if len(c.args) == 2:
        # literal field name -> dot access (Spark has no
        # struct_extract function)
        s_, f_code = c.args[0], c.code(1)
        if len(f_code) == 1 and f_code[0].kind == "string":
            fname2 = f_code[0].text[1:-1]
            return f"(({s_}).`{fname2}`)"


def _shim_map_extract(c):
    if len(c.args) == 2:
        # DuckDB returns a LIST: [value] on hit, [] on miss
        m_, k_ = c.args
        return (
            f"filter(array(try_element_at(({m_}), ({k_}))), "
            f"xx -> xx IS NOT NULL)"
        )


def _shim_count_star(c):
    if len(c.inner) == 0:
        # DuckDB count() / count_star() = count(*)
        return "count(*)"


def _shim_dayofweek(c):
    if len(c.args) == 1:
        # DuckDB: Sunday=0..Saturday=6 (both are aliases);
        # Spark dayofweek: Sunday=1
        a = c.args[0]
        return f"(dayofweek(({a})) - 1)"


def _shim_date_part_fns(c):
    if len(c.args) == 1:
        a = c.args[0]
        part_shims = {
            "century": f"CAST(ceil(year(({a})) / 100.0) AS BIGINT)",
            "decade": f"CAST(floor(year(({a})) / 10.0) AS BIGINT)",
            "millennium": (
                f"CAST(ceil(year(({a})) / 1000.0) AS BIGINT)"
            ),
            "era": (
                f"(CASE WHEN year(({a})) > 0 THEN 1 ELSE 0 END)"
            ),
            # the Thursday of x's ISO week determines the
            # year. This emission is FINAL Spark SQL (call
            # shims do not reprocess their own output), so
            # ``weekday`` is Spark's Monday=0 builtin and
            # 3 - weekday is the Thursday offset directly
            "isoyear": (
                f"CAST(year(date_add(CAST(({a}) AS DATE), "
                f"3 - weekday(({a})))) AS BIGINT)"
            ),
            # verified: julian(DATE '2024-03-05') = 2460375.0
            # = unix_days + 2440588
            "julian": (
                f"(CAST(CAST(({a}) AS TIMESTAMP_LTZ) AS DOUBLE) "
                f"/ 86400.0D + 2440588.0D)"
            ),
            # DuckDB: sub-MINUTE micro/milliseconds (incl.
            # the seconds), e.g. 15123456 for :15.123456
            "microsecond": (
                f"CAST(unix_micros(CAST(({a}) AS TIMESTAMP_LTZ))"
                f" % 60000000 AS BIGINT)"
            ),
            "millisecond": (
                f"CAST(unix_micros(CAST(({a}) AS TIMESTAMP_LTZ))"
                f" % 60000000 DIV 1000 AS BIGINT)"
            ),
            # session timezone is UTC by engine design
            "timezone_hour": "CAST(0 AS BIGINT)",
            "timezone_minute": "CAST(0 AS BIGINT)",
            "epoch_ns": (
                f"(unix_micros(CAST(({a}) AS TIMESTAMP_LTZ)) * 1000)"
            ),
        }
        return part_shims[c.name]


def _shim_make_timestamp(c):
    if len(c.args) == 1:
        # 1-arg form: microseconds since epoch
        a = c.args[0]
        return f"timestamp_micros(CAST(({a}) AS BIGINT))"


def _shim_to_timestamp(c):
    if len(c.args) == 1:
        # DuckDB to_timestamp(DOUBLE): seconds since epoch
        a = c.args[0]
        return f"timestamp_seconds(CAST(({a}) AS DOUBLE))"


def _shim_ceil_floor(c):
    if (
        len(c.args) == 1
        and not _plain_decimal_literal_arg(c.inner, c.spans[0])
        and _static_numeric_type(c.arg_toks(0)) not in ("decimal", "decimal0")
        and c.start not in _values_spans(c.tokens)
    ):
        # DuckDB types ceil/floor of int/bigint/double as
        # DOUBLE (ceil(5) = 5.0, ceil(1e300) = 1e300);
        # Spark returns BIGINT, which renders differently
        # ('5' vs '5.0' through format()/VARCHAR casts) and
        # overflows past 2^63. Values at |x| >= 2^53 are
        # already integral doubles — returned as-is, which
        # also covers inf and avoids the BIGINT hop; the
        # zero-window branch keeps IEEE -0.0 (ceil(-0.5) =
        # -0.0 like DuckDB). Decimal LITERALS, fractional-
        # literal arithmetic CHAINS (r9b, fuzz-found via
        # round's twin), and plain column refs with a
        # published DECIMAL schema hint keep Spark's native
        # DECIMAL(p,0) ceil, which
        # already matches DuckDB; an UNHINTED decimal
        # column reference can't be seen lexically and
        # takes the DOUBLE path (documented corner: its
        # VARCHAR cast gains '.0').
        a = c.args[0]
        fn = "floor" if c.name == "floor" else "ceiling"
        if (
            c.in_py_udf
            and len(a) > _BIND_THRESHOLD
            and _render_static_type(c.code(0)) == "double"
        ):
            # long statically-DOUBLE operand inside a
            # Python-UDF span: the repeated CASE mentions
            # it ~7x per nesting level — route through the
            # __duck_fint twin (operand once, repr
            # transport)
            mode = "floor" if fn == "floor" else "ceil"
            return (
                f"CAST(__duck_fint(CAST(({a}) AS"
                f" STRING), '{mode}') AS DOUBLE)"
            )
        if len(a) <= _BIND_THRESHOLD or c.in_py_udf:
            # short operand: direct CASE stays inside
            # whole-stage codegen (subexpression
            # elimination dedupes the repeated cast)
            cx = f"CAST(({a}) AS DOUBLE)"
            if fn == "floor":
                zwin = f"({cx} >= 0.0 AND {cx} < 1.0)"
            else:
                zwin = f"({cx} > -1.0 AND {cx} <= 0.0)"
            return (
                f"(CASE WHEN isnan({cx}) OR abs({cx})"
                f" >= 9007199254740992.0 THEN {cx} "
                f"WHEN {zwin} THEN {cx} * 0.0 "
                f"ELSE CAST({fn}({cx}) AS DOUBLE) END)"
            )
        if fn == "floor":
            zwin = "(__cl >= 0.0 AND __cl < 1.0)"
        else:
            zwin = "(__cl > -1.0 AND __cl <= 0.0)"
        # long operand lambda-bound once: nested numeric
        # rewrites stay linear in plan size
        return (
            f"(element_at(transform(array(CAST(({a}) "
            f"AS DOUBLE)), __cl -> "
            f"CASE WHEN isnan(__cl) OR abs(__cl) >= "
            f"9007199254740992.0 THEN __cl "
            f"WHEN {zwin} THEN __cl * 0.0 "
            f"ELSE CAST({fn}(__cl) AS DOUBLE) END), 1))"
        )


def _shim_trunc(c):
    if len(c.args) == 1:
        # 1-arg numeric trunc-toward-zero (Spark trunc is
        # date-only); DOUBLE keeps DOUBLE type like DuckDB.
        # DuckDB is type-PRESERVING here (trunc(5) = 5 INT,
        # trunc(-4.7) = -4 DECIMAL(2,0), trunc(x::DOUBLE)
        # DOUBLE): numeric literals dispatch statically —
        # integers are identity, decimals truncate at
        # translate time with DuckDB's DECIMAL(p,0) typing
        # (p = digit count of the literal). Non-literal
        # int/decimal-typed expressions can't be seen
        # lexically and take the DOUBLE path (same
        # documented corner as ceil/floor).
        lit = _signed_plain_number_arg(c.inner, c.spans[0])
        if lit is not None:
            sign, text = lit
            if "." not in text:
                return f"({sign}{text})"
            else:
                p = len(text) - 1  # all digits, dot dropped
                ip = text.split(".", 1)[0] or "0"
                return f"CAST({sign}{ip} AS DECIMAL({p},0))"
        chain = _static_numeric_type(c.arg_toks(0))
        if chain == "int":
            # integer chain: trunc is the identity and
            # DuckDB is type-preserving (trunc(7 + 3)
            # renders '10', not the template's '10.0')
            a = c.args[0]
            return f"({a})"
        if chain in ("decimal", "decimal0"):
            # statically DECIMAL operand (r9b): floor/
            # ceiling on a decimal is DECIMAL(p,0) in both
            # engines — emit the core WITHOUT the typeof
            # CASE, whose DOUBLE branch would coerce the
            # result and lose the rendering ('100' vs
            # '100.0')
            a = c.args[0]
            return (
                f"(CASE WHEN ({a}) >= 0 THEN "
                f"floor(({a})) ELSE ceiling(({a})) END)"
            )
        a = c.args[0]
        if (
            c.in_py_udf
            and len(a) > _BIND_THRESHOLD
            and _render_static_type(c.code(0)) == "double"
        ):
            # span escape, same as ceil/floor above (~8
            # mentions otherwise)
            return (
                f"CAST(__duck_fint(CAST(({a}) AS"
                f" STRING), 'trunc') AS DOUBLE)"
            )
        # DOUBLE-branch guards (r10b, pre-existing bug):
        # floor/ceiling return BIGINT, which a |x| >= 2^53
        # double overflows (trunc(1e300) clamped to 2^63,
        # inf/nan -> garbage); those magnitudes are already
        # integral and pass through like DuckDB, and the
        # |x| < 1 window keeps the IEEE sign of zero
        # (trunc(-0.4) = -0.0)
        if len(a) <= _BIND_THRESHOLD or c.in_py_udf:
            cx = f"CAST(({a}) AS DOUBLE)"
            core = (
                f"(CASE WHEN ({a}) >= 0 THEN floor(({a})) "
                f"ELSE ceiling(({a})) END)"
            )
            gcore = (
                f"(CASE WHEN isnan({cx}) OR abs({cx}) >= "
                f"9007199254740992.0 THEN {cx} "
                f"WHEN {cx} > -1.0 AND {cx} < 1.0 "
                f"THEN {cx} * 0.0 "
                f"ELSE CAST((CASE WHEN {cx} >= 0 THEN "
                f"floor({cx}) ELSE ceiling({cx}) END) "
                f"AS DOUBLE) END)"
            )
            return (
                f"(CASE WHEN typeof({a}) IN "
                f"('double', 'float')"
                f" THEN {gcore} "
                f"ELSE {core} END)"
            )
        else:
            # long operand bound once (the repeated-operand
            # form is ~8 mentions); the mixed-branch CASE
            # coerces to DOUBLE anyway, so forcing double
            # here is type-identical
            return (
                f"(element_at(transform(array("
                f"CAST(({a}) AS DOUBLE)), __tr -> "
                "CASE WHEN isnan(__tr) OR abs(__tr) >= "
                "9007199254740992.0 THEN __tr "
                "WHEN __tr > -1.0 AND __tr < 1.0 "
                "THEN __tr * 0.0 "
                "WHEN __tr >= 0 THEN "
                "CAST(floor(__tr) AS DOUBLE) "
                "ELSE CAST(ceiling(__tr) AS DOUBLE) "
                "END), 1))"
            )


def _shim_sem(c):
    if len(c.args) == 1:
        # standard error of the mean; DuckDB uses the
        # POPULATION stddev over sqrt(n) (verified)
        a = c.args[0]
        return (
            f"(stddev_pop(({a})) / "
            f"nullif(sqrt(CAST(count(({a})) AS DOUBLE)), 0))"
        )


def _shim_signbit(c):
    if len(c.args) == 1:
        # DuckDB signbit(-0.0) is false (verified), so a
        # plain comparison is exact
        a = c.args[0]
        return f"(({a}) < 0)"


def _shim_regexp_extract_all(c):
    if len(c.args) == 2:
        # DuckDB's 2-arg form returns full matches (group 0);
        # Spark requires the index
        a, b = c.args
        return f"regexp_extract_all(({a}), ({b}), 0)"


def _shim_json_valid(c):
    if len(c.args) == 1:
        a = c.args[0]
        return (
            f"(CASE WHEN ({a}) IS NULL THEN "
            f"CAST(NULL AS BOOLEAN) "
            f"ELSE get_json_object(({a}), '$') IS NOT NULL "
            f"END)"
        )


def _shim_json_array_length(c):
    if len(c.args) == 1:
        # DuckDB returns 0 for non-array JSON; Spark NULL
        a = c.args[0]
        return (
            f"(CASE WHEN ({a}) IS NULL THEN "
            f"CAST(NULL AS BIGINT) ELSE "
            f"CAST(coalesce(json_array_length(({a})), 0) "
            f"AS BIGINT) END)"
        )


def _shim_json_array(c):
    # constructor: compact rendering matches DuckDB for
    # uniform element types (mixed types unify in Spark
    # arrays — documented)
    if len(c.inner) == 0:
        return "'[]'"
    else:
        rendered = ", ".join(c.args)
        return f"to_json(array({rendered}))"


def _shim_json_object(c):
    if len(c.inner) == 0:
        return "'{}'"
    else:
        rendered = ", ".join(c.args)
        return f"to_json(map({rendered}))"


def _shim_list_dot_product(c):
    if len(c.args) == 2:
        a, b = c.args

        def _dot(u: str, v: str) -> str:
            return (
                f"aggregate(zip_with(({u}), ({v}), "
                f"(xx, yy) -> CAST(xx AS DOUBLE) * yy), "
                f"CAST(0 AS DOUBLE), (acc, vv) -> acc + vv)"
            )

        if c.name in ("list_dot_product", "list_inner_product"):
            repl = _dot(a, b)
        elif c.name in (
            "list_negative_dot_product",
            "list_negative_inner_product",
        ):
            repl = f"-({_dot(a, b)})"
        elif c.name == "list_distance":
            repl = (
                f"sqrt(aggregate(zip_with(({a}), ({b}), "
                f"(xx, yy) -> (CAST(xx AS DOUBLE) - yy) * "
                f"(CAST(xx AS DOUBLE) - yy)), "
                f"CAST(0 AS DOUBLE), (acc, vv) -> acc + vv))"
            )
        else:
            cos = (
                f"({_dot(a, b)} / nullif(sqrt({_dot(a, a)}) * "
                f"sqrt({_dot(b, b)}), 0))"
            )
            repl = (
                cos
                if c.name == "list_cosine_similarity"
                else f"(1.0D - {cos})"
            )
        return repl


def _shim_list_select(c):
    if len(c.args) == 2:
        # 1-based index list selection
        l_, idx = c.args
        return (
            f"transform(({idx}), ii -> "
            f"element_at(({l_}), CAST(ii AS INT)))"
        )


def _shim_grade_up(c):
    if len(c.args) == 1:
        # 1-based indexes that would sort the list ascending
        # (verified: grade_up([30,10,20]) = [2,3,1]); stable
        # by original position via the (value, index) sort
        a = c.args[0]
        return (
            f"transform(array_sort(zip_with(({a}), "
            f"sequence(1, size(({a}))), "
            f"(vv, ii) -> named_struct('v', vv, 'i', ii))), "
            f"ss -> ss.i)"
        )


def _shim_get_bit(c):
    if len(c.args) == 2:
        # STRING-typed bitstrings (no BIT type in Spark);
        # DuckDB indexes bits 0-based from the left
        b_, ix = c.args
        return (
            f"CAST(substr(({b_}), CAST(({ix}) AS INT) + 1, 1)"
            f" AS INT)"
        )


def _shim_set_bit(c):
    if len(c.args) == 3:
        b_, ix, v_ = c.args
        return (
            f"concat(substr(({b_}), 1, CAST(({ix}) AS INT)), "
            f"CAST(({v_}) AS STRING), "
            f"substr(({b_}), CAST(({ix}) AS INT) + 2))"
        )


def _shim_bit_position(c):
    if len(c.args) == 2:
        # bit_position(needle, haystack): 1-based, 0 if absent
        sub, b_ = c.args
        return f"instr(({b_}), ({sub}))"


def _shim_to_years(c):
    if len(c.args) == 1:
        a = c.args[0]
        ai = f"CAST(({a}) AS INT)"
        ad = f"CAST(({a}) AS DOUBLE)"
        iv = {
            "to_years": f"make_ym_interval({ai}, 0)",
            "to_months": f"make_ym_interval(0, {ai})",
            "to_quarters": f"make_ym_interval(0, {ai} * 3)",
            "to_decades": f"make_ym_interval({ai} * 10, 0)",
            "to_centuries": f"make_ym_interval({ai} * 100, 0)",
            "to_millennia": f"make_ym_interval({ai} * 1000, 0)",
            "to_weeks": f"make_dt_interval({ai} * 7)",
            "to_days": f"make_dt_interval({ai})",
            "to_hours": f"make_dt_interval(0, {ai})",
            "to_minutes": f"make_dt_interval(0, 0, {ai})",
            "to_seconds": f"make_dt_interval(0, 0, 0, {ad})",
            "to_milliseconds": (
                f"make_dt_interval(0, 0, 0, {ad} / 1000.0D)"
            ),
            "to_microseconds": (
                f"make_dt_interval(0, 0, 0, {ad} / 1000000.0D)"
            ),
        }
        return iv[c.name]


def _shim_encode(c):
    if len(c.args) == 1:
        # DuckDB 1-arg encode(VARCHAR)->BLOB / decode(BLOB)
        # ->VARCHAR; Spark's are 2-arg with a charset
        a = c.args[0]
        return f"{c.name}(({a}), 'UTF-8')"


def _shim_format_bytes(c):
    if len(c.args) == 1:
        # DuckDB: size units with ONE decimal TRUNCATED
        # toward zero (format_bytes(1997) = '1.9 KiB',
        # verified — 1.9502 does NOT round up); below one
        # unit prints 'N byte[s]'; beyond the last unit
        # stays there ('1024.0 PiB'). CAST-to-STRING of the
        # 1-decimal double renders shortest form 'x.y'.
        # formatReadableSize is the binary (KiB) alias;
        # formatReadableDecimalSize is 1000-based kB/MB/...
        x = c.args[0]
        xd = f"CAST(({x}) AS DOUBLE)"
        if c.name == "formatreadabledecimalsize":
            base, logk = "1000", f"log10(abs({xd})) / 3"
            units = "' kB', ' MB', ' GB', ' TB', ' PB'"
        else:
            base, logk = "1024", f"log2(abs({xd})) / 10"
            units = "' KiB', ' MiB', ' GiB', ' TiB', ' PiB'"
        k = f"least(CAST(floor({logk}) AS INT), 5)"
        scaled = (
            f"{xd} / power(CAST({base} AS DOUBLE), {k}) * 10"
        )
        q = (
            f"(CAST((CASE WHEN {xd} >= 0 "
            f"THEN floor({scaled}) "
            f"ELSE ceiling({scaled}) END) AS DOUBLE) / 10)"
        )
        return (
            f"(CASE WHEN ({x}) IS NULL THEN "
            f"CAST(NULL AS STRING) "
            f"WHEN abs(({x})) < {base} THEN "
            f"concat(CAST(({x}) AS STRING), "
            f"CASE WHEN abs(({x})) = 1 THEN ' byte' "
            f"ELSE ' bytes' END) "
            f"ELSE concat(CAST({q} AS STRING), "
            f"element_at(array({units}), {k})) END)"
        )


def _shim_bitstring(c):
    if len(c.args) == 2:
        # DuckDB bitstring(s, len) zero-pads left to len
        # (BIT type; string-compatible — '0...' compare is
        # TRUE in DuckDB); shorter len errors, as there
        s_, l_ = c.args
        return (
            f"(CASE WHEN ({l_}) < length({s_}) THEN "
            f"CAST(raise_error('bitstring: Length must "
            f"be equal or larger than input string') "
            f"AS STRING) "
            f"ELSE lpad(({s_}), ({l_}), '0') END)"
        )


def _shim_date_add(c):
    if len(c.args) == 2:
        second = c.args[1]
        if second.upper().startswith("INTERVAL"):
            first = c.args[0]
            return f"CAST((({first}) + {second}) AS TIMESTAMP)"


def _shim_dayname(c):
    if len(c.args) == 1:
        fmt = "EEEE" if c.name == "dayname" else "MMMM"
        return f"date_format({c.args[0]}, '{fmt}')"


def _shim_age(c):
    # 1-arg age(x) = age(current_date::TIMESTAMP, x);
    # both args cast so DATE columns reach the UDF as
    # timestamps (the 2-arg UDF is session-registered)
    if len(c.args) == 1:
        return (
            "age(CAST(current_date() AS TIMESTAMP), "
            f"CAST(({c.args[0]}) AS TIMESTAMP))"
        )
    if len(c.args) == 2:
        return (
            f"age(CAST(({c.args[0]}) AS "
            "TIMESTAMP), "
            f"CAST(({c.args[1]}) AS "
            "TIMESTAMP))"
        )
    return c.tokens[c.start : c.close + 1]


def _shim_isodow(c):
    if len(c.args) == 1:
        return f"(weekday({c.args[0]}) + 1)"


def _shim_list_unique(c):
    if len(c.args) == 1:
        return f"size(array_distinct({c.args[0]}))"


def _shim_map(c):
    if len(c.args) == 2:
        # DuckDB's 2-arg map() is ALWAYS the
        # (keys_list, values_list) form — rewrite
        # unconditionally (list-typed column args
        # included; a non-list arg fails analysis loudly,
        # exactly like DuckDB's binder). Single-entry
        # brace literals can't reach here: the brace
        # rewrite emits the __brace_map sentinel.
        a, b = c.args
        return f"map_from_arrays({a}, {b})"


def _shim_to_base(c):
    if len(c.args) == 2:
        a, b = c.args
        return f"conv({a}, 10, {b})"


def _shim_list_reduce(c):
    if len(c.args) == 2:
        # DuckDB has no init arg: seed with the first element
        l, lam = c.args
        return (
            f"reduce(slice(({l}), 2, size(({l})) - 1), "
            f"get(({l}), 0), {lam})"
        )


def _shim_read_parquet(c):
    if len(c.args) == 1:
        # table function over one literal path -> Spark's
        # direct-file query (reference in_tables_creator.py
        # uses the same DuckDB form internally)
        path_code = c.code(0)
        if len(path_code) == 1 and path_code[0].kind == "string":
            path = path_code[0].text[1:-1].replace("''", "'")
            return "parquet.`" + path.replace("`", "``") + "`"


def _shim_jaccard(c):
    if len(c.args) == 2:
        # DuckDB: Jaccard similarity of the character SETS
        # (case-sensitive, duplicates ignored)
        a, b = c.args
        ca = f"array_distinct(split(({a}), ''))"
        cb = f"array_distinct(split(({b}), ''))"
        return (
            f"(CAST(size(array_intersect({ca}, {cb})) AS DOUBLE)"
            f" / CAST(size(array_union({ca}, {cb})) AS DOUBLE))"
        )


def _shim_hamming(c):
    if len(c.args) == 2:
        # positional mismatch count; equal length enforced
        # like DuckDB's Invalid Input error
        a, b = c.args
        return (
            f"(CASE WHEN length({a}) <> length({b}) THEN "
            f"CAST(raise_error('{c.name}: strings must be of "
            f"equal length') AS BIGINT) ELSE "
            f"CAST(size(filter(zip_with(split(({a}), ''), "
            f"split(({b}), ''), (__x, __y) -> __x <> __y), "
            f"__z -> __z)) AS BIGINT) END)"
        )


def _shim_regexp_split_to_table(c):
    if len(c.args) == 2:
        a, b = c.args
        return f"explode(split(({a}), ({b})))"


def _shim_string_agg(c):
    if (
        _order_at(c) is None
        and len(c.args) in (1, 2)
        and c.spans[0][1] > c.spans[0][0]
    ):
        # DuckDB string_agg/group_concat default to ','
        # (Spark listagg defaults to ''); group_concat is
        # a plain alias
        rendered = c.args
        sep = rendered[1] if len(rendered) == 2 else "','"
        return f"listagg({rendered[0]}, {sep})"


def _shim_list_aggregate(c):
    if len(c.args) >= 2:
        l = c.args[0]
        fname_code = c.code(1)
        if len(fname_code) == 1 and fname_code[0].kind == "string":
            fname = fname_code[0].text[1:-1].lower()
            repl = None
            # DuckDB list_aggregate follows SQL aggregate
            # semantics: NULL elements are skipped and an
            # empty/all-NULL list yields NULL (not 0, and no
            # division by zero for avg)
            nn = (
                f"filter(transform(({l}), v -> CAST(v AS "
                f"DOUBLE)), v -> v IS NOT NULL)"
            )
            nn_sum = (
                f"aggregate({nn}, CAST(0 AS DOUBLE), "
                f"(a, x) -> a + x)"
            )
            if fname == "sum":
                repl = (
                    f"(CASE WHEN size({nn}) = 0 THEN "
                    f"CAST(NULL AS DOUBLE) ELSE {nn_sum} END)"
                )
            elif fname in ("avg", "mean"):
                repl = (
                    f"(CASE WHEN size({nn}) = 0 THEN "
                    f"CAST(NULL AS DOUBLE) ELSE "
                    f"{nn_sum} / size({nn}) END)"
                )
            elif fname == "min":
                repl = f"array_min(({l}))"
            elif fname == "max":
                repl = f"array_max(({l}))"
            elif fname == "count":
                repl = (
                    f"CAST(size(filter(({l}), "
                    f"v -> v IS NOT NULL)) AS BIGINT)"
                )
            elif fname == "first":
                repl = f"get(({l}), 0)"
            elif fname == "last":
                repl = f"get(({l}), size(({l})) - 1)"
            elif fname == "string_agg" and len(c.args) == 3:
                sep = c.args[2]
                repl = f"array_join(({l}), ({sep}))"
            if repl is not None:
                return repl


def _shim_printf(c):
    if len(c.args) >= 2:
        # DuckDB printf returns NULL when ANY argument is
        # NULL (r10b, pre-existing divergence: Spark's
        # printf renders NULL args as text). Float
        # directives additionally need a DOUBLE cast
        # (r10c, fuzz-found): DuckDB's fmt printf accepts
        # DECIMAL as float-family ('%.1f' on DECIMAL(5,4)
        # renders '5.6') while Spark's Java formatter
        # throws IllegalFormatConversionException on its
        # own Decimal. Integer directives stay uncasted —
        # both engines reject non-integer args loudly.
        # Args bind ONCE in an outer lambda struct so
        # volatile args (random(), nextval) cannot
        # disagree between the NULL guard and the render
        # (same rationale as the format() branch); inside
        # a Python-UDF argument span the binding would
        # defeat ExtractPythonUDFs, so that path keeps the
        # repeated-operand form.
        parts = c.args
        fmt_code = c.code(0)
        # directive k -> 'twin' (fmt-exact Python render,
        # substituted as %s), 'double' (CAST AS DOUBLE:
        # exotic float flags — '#' point forcing, %a hex —
        # keep Java's close-enough render), or None
        # (pass-through). Twin-eligible: f/F/e/E/g/G with
        # flags in {-,+,space,0} and numeric width/prec.
        # Non-literal format strings, '*' widths and
        # '%n$' positionals keep the uncasted call.
        plan = None
        fmt_body = None
        if len(fmt_code) == 1 and fmt_code[0].kind == "string":
            fmt_body = fmt_code[0].text[1:-1]
            specs = list(re.finditer(
                r"%([-+ #0-9.$*']*)([a-zA-Z%])", fmt_body
            ))
            if not any(
                "*" in m_.group(1) or "$" in m_.group(1)
                for m_ in specs
            ):
                plan = []
                for m_ in specs:
                    fl, sp = m_.groups()
                    if sp == "%":
                        continue
                    if sp in "fFeEgG" and re.fullmatch(
                        r"[-+ 0]*\d*(?:\.\d+)?", fl
                    ):
                        plan.append(("twin", m_))
                    elif sp in "fFeEgGaA":
                        plan.append(("double", m_))
                    else:
                        plan.append((None, m_))
        bind = not c.in_py_udf
        refs = (
            [f"__pf.__g{k}" for k in range(len(parts))]
            if bind
            else parts
        )
        # rebuild the format string with twin directives
        # replaced by a bare %s (the twin renders width,
        # flags and precision itself)
        if plan is not None and fmt_body is not None:
            rebuilt = []
            pos_ = 0
            for kind_, m_ in plan:
                if kind_ == "twin":
                    rebuilt.append(fmt_body[pos_: m_.start()])
                    rebuilt.append("%s")
                    pos_ = m_.end()
            rebuilt.append(fmt_body[pos_:])
            fmt_arg = "'" + "".join(rebuilt) + "'"
        else:
            fmt_arg = f"({refs[0]})"

        def _pf_slot(k: int, raw: str) -> str:
            # value expression for struct slot k (raw arg,
            # or the twin render of it — the twin is a
            # Python UDF, so it must sit OUTSIDE the
            # binding lambda's body; rendering in the slot
            # keeps it in the lambda's INPUT, which
            # ExtractPythonUDFs hoists cleanly)
            if plan is None or not (1 <= k <= len(plan)):
                return f"({raw})"
            kind_, m_ = plan[k - 1]
            if kind_ == "twin":
                return (
                    f"__duck_printf('%{m_.group(1)}"
                    f"{m_.group(2)}', CAST(CAST(({raw}) "
                    "AS DOUBLE) AS STRING))"
                )
            if kind_ == "double":
                return f"CAST(({raw}) AS DOUBLE)"
            return f"({raw})"

        if bind:
            slots = [
                _pf_slot(k, p) for k, p in enumerate(parts)
            ]
            call_args = [f"({r})" for r in refs[1:]]
            guards = " OR ".join(
                f"(({r}) IS NULL)" for r in refs
            )
            call = (
                f"(CASE WHEN {guards} THEN "
                f"CAST(NULL AS STRING) ELSE "
                f"printf({fmt_arg}, "
                f"{', '.join(call_args)}) END)"
            )
            struct = ", ".join(
                f"'__g{k}', {s_}"
                for k, s_ in enumerate(slots)
            )
            call = (
                "(element_at(transform(array("
                f"named_struct({struct})), "
                f"__pf -> {call}), 1))"
            )
        else:
            call_args = [
                _pf_slot(k, p)
                for k, p in enumerate(parts)
            ][1:]
            guards = " OR ".join(
                f"(({p}) IS NULL)" for p in parts
            )
            call = (
                f"(CASE WHEN {guards} THEN "
                f"CAST(NULL AS STRING) ELSE "
                f"printf({fmt_arg}, "
                f"{', '.join(call_args)}) END)"
            )
        return call


def _shim_format(c):
    if len(c.args) >= 1:
        fmt_code = c.code(0)
        if len(fmt_code) == 1 and fmt_code[0].kind == "string":
            fmt = fmt_code[0].text[1:-1]
            # fmtlib placeholders -> printf: {} and
            # {:[width][.prec][dfsxoe]} (positional {n},
            # fill/align, and locale {:,} forms are left
            # unrewritten -> loud analysis error)
            esc = (
                fmt.replace("%", "%%")
                .replace("{{", "\x00")
                .replace("}}", "\x01")
            )

            parts_out = []
            typs = []
            bare_widths = []
            pos = 0
            fmt_ok = True
            for m in _FMTLIB_PH_RE.finditer(esc):
                rep = _fmtlib_placeholder(m.group(1))
                if rep is None:
                    fmt_ok = False
                    break
                parts_out.append(esc[pos: m.start()])
                parts_out.append(rep[0])
                typs.append((rep[1], rep[3]))
                bare_widths.append(rep[2])
                pos = m.end()
            if fmt_ok:
                parts_out.append(esc[pos:])
                # Spark's %f/%e reject DECIMAL and %x/%o
                # non-integral args — cast per placeholder
                # (fmtlib coerces; positional alignment is
                # 1:1 since {n} refs were rejected above)
                arg_sqls = c.args[1:]
                # bind every argument ONCE in an outer
                # lambda struct (volatile args — random(),
                # sequence values — must not evaluate twice
                # and disagree between the NULL guard and
                # the rendered value; expensive args must
                # not compute twice). Inside a Python-UDF
                # argument the binding would defeat
                # ExtractPythonUDFs, so that path keeps the
                # repeated-operand form.
                bind_args = bool(arg_sqls) and not c.in_py_udf
                arg_refs = (
                    [
                        f"__fmt.__g{k}"
                        for k in range(len(arg_sqls))
                    ]
                    if bind_args
                    else arg_sqls
                )
                casted = []
                slot_exprs = list(arg_sqls)
                for k_, (tp_, w_, a_) in enumerate(zip(
                    typs, bare_widths, arg_refs
                )):
                    t_, expl_ = tp_
                    if t_ == "q":
                        # typeless {:W.P} (r10c): fmt's
                        # 'general' float presentation
                        # (probe-matrix-exact incl. the
                        # zeros-capped-at-P and tie-keep
                        # quirks) via the twin; strings/
                        # dates stringify + truncate to P
                        # chars, left-aligned; ints/bools
                        # raise like DuckDB (row-level
                        # where DuckDB raises at bind —
                        # zero-row inputs stay silent).
                        # typeof() is foldable, so
                        # Catalyst prunes the dead
                        # branches on typed columns.
                        width_, prec_ = w_
                        spec_ = (
                            "{:" + width_ + "." + prec_ + "}"
                        )
                        pP = int(prec_)
                        wN = int(width_ or 0)
                        raw = (arg_sqls[k_] if bind_args else a_)
                        tw_ = (
                            f"__duck_printf('{spec_}', "
                            f"CAST(({raw}) AS STRING))"
                        )
                        zfill = (
                            width_.startswith("0")
                            and len(width_) > 1
                        )
                        fill = "'0'" if zfill else "' '"
                        if c.in_py_udf:
                            tr0 = (
                                "substring(CAST(("
                                f"{raw}) AS STRING), 1, {pP})"
                            )
                            trunc = tr0
                            if wN:
                                trunc = (
                                    f"(CASE WHEN length({tr0})"
                                    f" >= {wN} THEN {tr0} "
                                    f"ELSE rpad({tr0}, {wN}, "
                                    f"{fill}) END)"
                                )
                            str_path = trunc
                        else:
                            tr0 = f"substring(__fq.v, 1, {pP})"
                            trunc = tr0
                            if wN:
                                trunc = (
                                    f"(CASE WHEN length({tr0})"
                                    f" >= {wN} THEN {tr0} "
                                    f"ELSE rpad({tr0}, {wN}, "
                                    f"{fill}) END)"
                                )
                            str_path = (
                                "(element_at(transform(array("
                                "named_struct('v', CAST(("
                                f"{raw}) AS STRING))), "
                                f"__fq -> {trunc}), 1))"
                            )
                        slot = (
                            f"(CASE WHEN typeof(({raw})) IN "
                            "('double', 'float') OR "
                            f"typeof(({raw})) LIKE 'decimal%'"
                            f" THEN {tw_} WHEN "
                            f"typeof(({raw})) IN ('tinyint',"
                            " 'smallint', 'int', 'bigint', "
                            "'boolean') THEN raise_error("
                            "'format: precision not allowed "
                            "for this argument type') "
                            f"ELSE {str_path} END)"
                        )
                        if bind_args:
                            slot_exprs[k_] = slot
                            casted.append(f"({a_})")
                        else:
                            casted.append(slot)
                        continue
                    if (
                        expl_
                        and t_ in ("f", "e")
                        and w_ is None
                    ):
                        # explicit {:.Nf}/{:.Ne}: route
                        # through the fmt-exact printf
                        # twin (r10c — Java's Formatter
                        # rounds the SHORTEST repr half-up
                        # where fmt rounds the exact
                        # value: {:.2f} of 1.005 is '1.00'
                        # in DuckDB, '1.01' off Java) and
                        # substitute a bare %s; the twin
                        # renders width/precision itself
                        # (fmt's {:8.2f} == printf %8.2f,
                        # incl. the zero-fill inf quirk).
                        # The twin is a Python UDF, so it
                        # renders in the struct SLOT
                        # (lambda input) in the bound
                        # form, never in the lambda body.
                        spec_ = parts_out[2 * k_ + 1]
                        parts_out[2 * k_ + 1] = "%s"
                        tw_ = (
                            f"__duck_printf('{spec_}', "
                            "CAST(CAST(("
                            + arg_sqls[k_]
                            + ") AS DOUBLE) AS STRING))"
                        )
                        if bind_args:
                            slot_exprs[k_] = tw_
                            casted.append(f"({a_})")
                        else:
                            casted.append(tw_)
                        continue
                    # fmtlib receives DECIMAL/DOUBLE args
                    # as doubles, so {}/{:N} render them
                    # shortest-round-trip with fmtlib's
                    # decimal/scientific cutoffs (8.6400
                    # -> '8.64', 1e-4 -> '0.0001', 1e16 ->
                    # '1e+16'), not Java's formatting. The
                    # arg is lambda-bound ONCE (nested
                    # args stay linear in plan size), and
                    # the double hop goes THROUGH the
                    # string repr: CAST(v AS DOUBLE)
                    # directly fails ANALYSIS for
                    # date/timestamp args even in the
                    # unreached branch, while
                    # string->double analyzes for every
                    # type and is value-identical for
                    # decimals/doubles (both correctly
                    # rounded)
                    if c.in_py_udf:
                        # inside a Python-UDF argument the
                        # __fa lambda binding defeats
                        # ExtractPythonUDFs (_PY_UDF_FNS):
                        # repeat the operand and chain the
                        # Python render twin. TRY_CAST —
                        # extraction hoists UDF args past
                        # the CASE guard, and a date arg's
                        # string->double cast would raise.
                        vsp = f"CAST(({a_}) AS STRING)"
                        dec_p = (
                            f"(CASE WHEN typeof(({a_})) "
                            "LIKE 'decimal%' OR "
                            f"typeof(({a_})) IN "
                            "('double', 'float') THEN "
                            "__duck_render(CAST(TRY_CAST("
                            f"{vsp} AS DOUBLE) AS STRING)"
                            ", 'double') "
                            f"ELSE {vsp} END)"
                        )
                        if w_ is not None:
                            num_t = (
                                f"typeof(({a_})) IN "
                                "('tinyint', 'smallint', "
                                "'int', 'bigint', 'float',"
                                " 'double') OR "
                                f"typeof(({a_})) LIKE "
                                "'decimal%'"
                            )
                            casted.append(
                                "(CASE WHEN length("
                                f"{dec_p}) >= {w_} THEN "
                                f"{dec_p} WHEN {num_t} "
                                f"THEN lpad({dec_p}, {w_},"
                                " ' ') ELSE rpad("
                                f"{dec_p}, {w_}, ' ') "
                                "END)"
                            )
                        elif t_ == "s":
                            casted.append(dec_p)
                        elif t_ in ("f", "e"):
                            casted.append(
                                f"CAST(({a_}) AS DOUBLE)"
                            )
                        elif t_ in ("x", "o", "d"):
                            casted.append(
                                f"CAST(({a_}) AS BIGINT)"
                            )
                        else:
                            casted.append(a_)
                        continue
                    vs = "CAST(__fa.v AS STRING)"
                    # inlined core, not the __duck_fmt_repr
                    # SQL function: a SQL-function call
                    # cannot appear inside the __fa lambda
                    fdbl = _shortest_double_core_sql(
                        f"CAST(CAST({vs} AS DOUBLE) "
                        "AS STRING)",
                        -4, 15, yy=False,
                    )
                    dec_str = (
                        "(CASE WHEN typeof(__fa.v) LIKE"
                        " 'decimal%' OR typeof(__fa.v) IN"
                        " ('double', 'float')"
                        f" THEN {fdbl}"
                        f" ELSE {vs} END)"
                    )
                    bound_pre = (
                        "(element_at(transform(array("
                        f"named_struct('v', ({a_}))), "
                        "__fa -> "
                    )
                    if w_ is not None:
                        # {:N}: fmtlib pads to a MINIMUM
                        # width, RIGHT-aligning numeric
                        # args and left-aligning everything
                        # else (strings, booleans, dates/
                        # timestamps — DuckDB stringifies
                        # non-numeric args before fmt)
                        body = (
                            "element_at(transform(array("
                            f"{dec_str}), __fs -> "
                            f"CASE WHEN length(__fs) >= {w_}"
                            " THEN __fs"
                            " WHEN typeof(__fa.v) IN"
                            " ('tinyint', 'smallint',"
                            " 'int', 'bigint', 'float',"
                            " 'double')"
                            " OR typeof(__fa.v) LIKE"
                            " 'decimal%'"
                            f" THEN lpad(__fs, {w_}, ' ')"
                            f" ELSE rpad(__fs, {w_}, ' ')"
                            " END), 1)"
                        )
                        casted.append(bound_pre + body + "), 1))")
                    elif t_ == "s":
                        casted.append(bound_pre + dec_str + "), 1))")
                    elif t_ in ("f", "e"):
                        casted.append(
                            f"CAST(({a_}) AS DOUBLE)"
                        )
                    elif t_ in ("x", "o", "d"):
                        casted.append(
                            f"CAST(({a_}) AS BIGINT)"
                        )
                    else:
                        casted.append(a_)
                casted += arg_refs[len(typs):]
                spark_fmt = (
                    "".join(parts_out)
                    .replace("\x00", "{")
                    .replace("\x01", "}")
                )
                rest = ", ".join(casted)
                tail = f", {rest}" if rest else ""
                call = f"format_string('{spark_fmt}'{tail})"
                if arg_sqls:
                    # DuckDB format() is NULL on ANY null
                    # argument; Java's format_string prints
                    # 'null'. The guard tests the BOUND
                    # values, so it cannot disagree with
                    # what gets rendered.
                    guard = " OR ".join(
                        f"(({a}) IS NULL)" for a in arg_refs
                    )
                    call = (
                        f"(CASE WHEN {guard} THEN "
                        f"CAST(NULL AS STRING) ELSE {call} "
                        "END)"
                    )
                if bind_args:
                    struct = ", ".join(
                        f"'__g{k}', ({a})"
                        for k, a in enumerate(slot_exprs)
                    )
                    call = (
                        "(element_at(transform(array("
                        f"named_struct({struct})), "
                        f"__fmt -> {call}), 1))"
                    )
                return call


def _shim_json_extract(c):
    if len(c.args) == 2:
        # text variants map to get_json_object; the
        # JSON-returning variants re-quote string leaves
        # via a variant type probe (see _json_get_sql)
        s_, p_ = c.args
        p_code = c.code(1)
        if len(p_code) == 1 and p_code[0].kind == "string":
            p_ = _encode_spark_string(
                _json_path_literal(_decode_spark_string(p_code[0]))
            ).text
        elif (
            len(p_code) == 1
            and p_code[0].kind in ("number", "word")
            and p_code[0].text.isdigit()
        ):
            # integer path = array index
            p_ = f"'$[{p_code[0].text}]'"
        elif (
            p_code
            and p_code[0].kind == "word"
            and p_code[0].text.lower() == "array"
        ):
            # DuckDB list-of-paths form: one extraction per
            # path, returned as a list (paths normalized to
            # $-style at runtime)
            norm = ("CASE WHEN substr(pp, 1, 1) = '$' "
                    "THEN pp ELSE concat('$.', pp) END")
            if c.name in ("json_extract", "json_extract_path"):
                body = _json_get_sql(
                    f"({s_})", norm, allow_udf=False,
                    py_udf_ctx=c.in_py_udf,
                )
            else:
                body = f"get_json_object(({s_}), {norm})"
            return f"transform(({p_}), pp -> {body})"
        if c.name in ("json_extract", "json_extract_path"):
            return _json_get_sql(
                f"({s_})", p_, py_udf_ctx=c.in_py_udf
            )
        else:
            return f"get_json_object({s_}, {p_})"


def _shim_unicode(c):
    if len(c.args) == 1:
        # codepoint of the first char; '' is -1 in DuckDB
        a = c.args[0]
        return (
            f"(CASE WHEN ({a}) = '' THEN -1 "
            f"ELSE ascii({a}) END)"
        )


def _shim_xor(c):
    if len(c.args) == 2:
        # DuckDB xor() function (its ^ is power); Spark ^ IS
        # xor — safe here because the power pass already ran
        a, b = c.args
        return f"(({a}) ^ ({b}))"


def _shim_even(c):
    if len(c.args) == 1:
        # round away from zero to the next even number
        a = c.args[0]
        return (
            f"(sign(CAST(({a}) AS DOUBLE)) * "
            f"ceil(abs(CAST(({a}) AS DOUBLE)) / 2) * 2)"
        )


def _shim_isnan(c):
    if len(c.args) == 1:
        # DuckDB returns NULL for NULL input (Spark isnan
        # gives false); isinf/isfinite have no Spark builtin
        a = c.args[0]
        if c.name != "isnan" and _static_temporal_sql(a):
            # temporal overload: Spark has no infinite
            # dates/timestamps, so every non-NULL value is
            # finite (static dispatch — the numeric CAST
            # below would fail Spark analysis on temporals)
            lit = "TRUE" if c.name == "isfinite" else "FALSE"
            return (
                f"(CASE WHEN ({a}) IS NULL THEN "
                f"CAST(NULL AS BOOLEAN) ELSE {lit} END)"
            )
        d = f"CAST(({a}) AS DOUBLE)"
        inf = "CAST('Infinity' AS DOUBLE)"
        if c.name == "isnan":
            body = f"isnan({d})"
        elif c.name == "isinf":
            body = f"abs({d}) = {inf}"
        else:
            body = f"(NOT isnan({d}) AND abs({d}) <> {inf})"
        return (
            f"(CASE WHEN ({a}) IS NULL "
            f"THEN CAST(NULL AS BOOLEAN) ELSE {body} END)"
        )


def _shim_sha256(c):
    if len(c.args) == 1:
        a = c.args[0]
        return f"sha2({a}, 256)"


def _shim_list_prepend(c):
    if len(c.args) == 2:
        # DuckDB: (element, list); Spark array_prepend:
        # (list, element)
        e_, l_ = c.args
        return f"array_prepend({l_}, {e_})"


def _shim_levenshtein(c):
    if len(c.args) == 2:
        # DuckDB levenshtein runs over UTF-8 BYTES; Spark's
        # builtin is codepoint-based. Identical for ASCII, so
        # dispatch: builtin when both sides are pure ASCII
        # (octet length == char length), byte-level pandas
        # UDF otherwise.
        a, b = c.args
        return (
            f"(CASE WHEN octet_length({a}) = length({a}) "
            f"AND octet_length({b}) = length({b}) "
            f"THEN CAST(levenshtein({a}, {b}) AS BIGINT) "
            f"ELSE levenshtein_bytes({a}, {b}) END)"
        )


def _shim_range(c):
    if (
        len(c.args) in (1, 2, 3)
        and not (
            c.prev is not None
            and c.prev.kind == "word"
            and c.prev.upper in ("FROM", "JOIN")
        )
    ):
        # scalar range(): EXCLUSIVE end (generate_series is
        # the inclusive one); empty when the window is empty
        # instead of Spark sequence()'s auto-negative step
        vals = c.args
        if len(vals) == 1:
            a, b, s_ = "0", vals[0], "1"
        elif len(vals) == 2:
            (a, b), s_ = vals, "1"
        else:
            a, b, s_ = vals
        empty = f"slice(sequence(({a}), ({a})), 1, 0)"
        return (
            f"(CASE WHEN ({s_}) > 0 AND ({b}) > ({a}) "
            f"THEN sequence(({a}), ({b}) - 1, ({s_})) "
            f"WHEN ({s_}) < 0 AND ({b}) < ({a}) "
            f"THEN sequence(({a}), ({b}) + 1, ({s_})) "
            f"ELSE {empty} END)"
        )


def _shim_log(c):
    if len(c.args) == 1:
        # DuckDB single-arg log() is BASE-10; Spark's is ln
        a = c.args[0]
        return f"log10({a})"


def _shim_trim(c):
    if len(c.args) == 2:
        # DuckDB: (source, trim_chars); Spark's 2-arg
        # ltrim/rtrim take (trim_chars, source) and 2-arg
        # trim does too — btrim has DuckDB's order
        a, b = c.args
        if c.name == "trim":
            return f"btrim({a}, {b})"
        else:
            return f"{c.name}({b}, {a})"


def _shim_sign(c):
    if len(c.args) == 1:
        # DuckDB sign() is TINYINT; Spark returns double
        a = c.args[0]
        return f"CAST(sign({a}) AS TINYINT)"


def _shim_avg_double(c):
    if len(c.args) == 1:
        # DuckDB avg() is ALWAYS DOUBLE; Spark's decimal avg
        # keeps scale+4 and truncates. Cast the argument
        # (after DISTINCT, if any) unless it is an interval.
        arg_sql = c.args[0].strip()
        distinct = ""
        if arg_sql.upper().startswith("DISTINCT "):
            distinct, arg_sql = "DISTINCT ", arg_sql[9:]
        if "interval" not in arg_sql.lower():
            return f"avg({distinct}CAST(({arg_sql}) AS DOUBLE))"


def _shim_left(c):
    if (
        len(c.args) == 2
        and not _nonneg_int_literal(c.arg_toks(1))
    ):
        # DuckDB: negative n drops |n| chars from the other
        # end; Spark returns ''
        s, cnt = c.args
        if c.name == "left":
            return (
                f"substring(({s}), 1, CASE WHEN ({cnt}) < 0 "
                f"THEN greatest(length({s}) + ({cnt}), 0) "
                f"ELSE ({cnt}) END)"
            )
        else:
            return (
                f"(CASE WHEN ({cnt}) < 0 THEN "
                f"substring(({s}), -({cnt}) + 1) "
                f"ELSE substring(({s}), "
                f"greatest(length({s}) - ({cnt}) + 1, 1)) END)"
            )


def _shim_split_part(c):
    if len(c.args) == 3:
        # DuckDB split_part is never-NULL (r10c fuzz
        # find): NULL string/index and index 0 give '',
        # a NULL delimiter returns the string UNSPLIT,
        # and an EMPTY delimiter splits into characters
        # (split_part('a,b', '', -1) = 'b') — Spark
        # NULL-propagates, raises on 0, and treats ''
        # as no-split. try_element_at: OOB char index
        # must give '' under ANSI too.
        s, d, ix = c.args
        return (
            f"(CASE WHEN ({s}) IS NULL OR ({ix}) IS "
            f"NULL OR ({ix}) = 0 THEN '' "
            f"WHEN ({d}) IS NULL THEN "
            f"CAST(({s}) AS STRING) "
            f"WHEN ({d}) = '' THEN coalesce("
            f"try_element_at(split(CAST(({s}) AS "
            f"STRING), ''), CAST(({ix}) AS INT)), '') "
            f"ELSE split_part(CAST(({s}) AS STRING), "
            f"({d}), ({ix})) END)"
        )


def _shim_list_slice(c):
    if len(c.args) == 3:
        l, a, b = c.args
        return _slice_expr(f"({l})", a, b, False)


def _shim_list_has_all(c):
    if len(c.args) == 2:
        a, b = c.args
        return f"(size(array_except({b}, {a})) = 0)"


def _shim_list_sum(c):
    if len(c.args) == 1:
        # DOUBLE accumulator: element types (int/decimal/
        # float) all widen cleanly; ANSI rejects a
        # type-growing decimal accumulator otherwise
        l = c.args[0]
        agg = (
            f"aggregate(transform(({l}), v -> CAST(v AS DOUBLE)), "
            "CAST(0 AS DOUBLE), (a, x) -> a + x)"
        )
        if c.name == "list_avg":
            agg = f"({agg} / size(({l})))"
        return agg


def _shim_struct_pack(c):
    fields = []
    for s, e in c.spans:
        seg = c.inner[s:e]
        # ':=' arrives as two op tokens ':' '='
        colons = _top_level_positions(
            seg, 0, len(seg),
            lambda t: t.kind == "op" and t.text == ":",
        )
        w = None
        for cp in colons:
            nc = _next_code(seg, cp)
            if nc < len(seg) and seg[nc].text == "=":
                w = (cp, nc)
                break
        if w is None:
            fields = None
            break
        name = _sql(seg, 0, w[0])
        val = _sql(seg, w[1] + 1, len(seg))
        fields.append(f"'{name}', {val}")
    if fields is not None:
        return f"named_struct({', '.join(fields)})"


def _shim_like_escape(c):
    if len(c.args) == 3:
        a, b, esc = c.args
        if "ilike" in c.name:
            a, b = f"lower({a})", f"lower({b})"
        neg = "NOT " if c.name.startswith("not_") else ""
        return f"({neg}{a} LIKE {b} ESCAPE {esc})"


def _shim_nulls_hoist(c):
    # DuckDB puts IGNORE/RESPECT NULLS inside the call parens; Spark
    # wants it after them: fn(x IGNORE NULLS) -> fn(x) IGNORE NULLS
    code = [j for j, t in enumerate(c.inner) if t.kind not in ("ws", "comment")]
    if (
        len(code) >= 2
        and c.inner[code[-1]].is_kw("NULLS")
        and c.inner[code[-2]].is_kw("IGNORE", "RESPECT")
    ):
        kw = c.inner[code[-2]].upper
        return (
            c.tokens[c.start : c.p_open + 1]
            + c.inner[: code[-2]]
            + _toks(f") {kw} NULLS")
        )
    return None


def _shim_time_bucket(c):
    if len(c.args) == 2:
        first = c.args[0].upper().split()
        ts = c.args[1]
        # literal INTERVAL n UNIT only
        if len(first) == 3 and first[0] == "INTERVAL" and first[1].isdigit():
            n_units, unit = int(first[1]), first[2].rstrip("S")
            secs = {
                "SECOND": 1, "MINUTE": 60, "HOUR": 3600,
                "DAY": 86400, "WEEK": 604800,
            }.get(unit)
            if secs is not None:
                w = n_units * secs
                o = 946857600  # 2000-01-03 UTC, the
                # TimescaleDB/DuckDB bucket origin (Monday)
                return (
                    "CAST(timestamp_seconds(CAST(floor("
                    f"(unix_timestamp(CAST(({ts}) AS TIMESTAMP)) - {o})"
                    f" / {w}) AS BIGINT) * {w} + {o}) AS TIMESTAMP_NTZ)"
                )
            if n_units == 1 and unit in ("MONTH", "YEAR"):
                return (
                    f"CAST(date_trunc('{unit}', {ts}) "
                    "AS TIMESTAMP_NTZ)"
                )


def _shim_yearweek(c):
    # (to_days/to_hours/... are handled earlier via
    # make_dt_interval/make_ym_interval — PySpark-fetchable
    # interval types, unlike make_interval's CalendarInterval)
    if len(c.args) == 1:
        a = c.args[0]
        return (
            f"CAST(extract(YEAROFWEEK FROM ({a})) * 100 "
            f"+ weekofyear({a}) AS BIGINT)"
        )


def _shim_decimal_median(c):
    if len(c.args) == 1:
        # DuckDB median(DECIMAL) does NOT interpolate: it is
        # quantile_disc(x, 0.5) — the LOWER middle element,
        # type-preserving (probed: median of DECIMAL [1.00,
        # 2.00] is 1.00 where quantile_cont gives 1.50).
        # Statically DECIMAL args with width <= 15 take
        # percentile_disc + an exact cast back; windowed
        # calls and other types keep Spark's median
        a0 = _sql(c.inner, 0, len(c.inner))
        ch0 = _parse_literal_decimal_chain(a0)
        after0 = _next_code(c.tokens, c.close)
        filt0, f_end0 = _consume_filter_clause(c.tokens, after0)
        after0b = (
            _next_code(c.tokens, f_end0 - 1)
            if filt0 is not None
            else after0
        )
        end0 = f_end0 if filt0 is not None else c.close + 1
        if (
            ch0 is not None
            and not ch0[3]
            and ch0[1] <= 15
            and not (
                after0b < len(c.tokens) and c.tokens[after0b].is_kw("OVER")
            )
        ):
            # a FILTER rider attaches to the INNER aggregate
            # (consumed from the stream) — trailing it after
            # the CAST is a parse error (r12 ADVICE)
            return (
                "CAST(percentile_disc(0.5) WITHIN GROUP "
                f"(ORDER BY {a0}){filt0 or ''} AS "
                f"DECIMAL({ch0[1]},{ch0[2]}))"
            ), end0
        if (
            ch0 is not None
            and not ch0[3]
            and ch0[1] <= 38
            and filt0 is None
            and after0b < len(c.tokens)
            and c.tokens[after0b].is_kw("OVER")
        ):
            # WINDOWED decimal median: DuckDB's is the
            # discrete lower-middle (type-preserving), not
            # Spark's interpolating median — reroute to
            # the quantile_disc spelling and let the late
            # frame pass stream/fold it (r13); the OVER
            # tokens stay in the stream and attach
            return (
                "percentile_disc(0.5) WITHIN GROUP "
                f"(ORDER BY {a0})"
            )
        if (
            ch0 is not None
            and not ch0[3]
            and 15 < ch0[1] <= 38
            and not (
                after0b < len(c.tokens) and c.tokens[after0b].is_kw("OVER")
            )
        ):
            # wide decimals: the double roundtrip through
            # percentile_disc loses low digits — exact
            # element select in the compiled core (median
            # IS quantile_disc at 0.5, probed r12)
            return _qdec_wide_agg_sql(
                "qdisc", a0, "0.5", ch0[1], ch0[2], filt0 or ""
            ), end0


def _shim_percentile_cont(c):
    if len(c.args) == 1:
        # aggregate WITHIN GROUP over a statically DECIMAL
        # ascending order expr: DuckDB quantizes the result
        # to the input's DECIMAL(w, s) (see
        # _quantile_cont_agg_sql); windowed forms keep
        # their _rewrite_agg_window_frames path
        j2 = _next_code(c.tokens, c.close)
        if j2 < len(c.tokens) and c.tokens[j2].is_kw("WITHIN"):
            g_kw = _next_code(c.tokens, j2)
            g_open = _next_code(c.tokens, g_kw)
            if (
                g_kw < len(c.tokens)
                and c.tokens[g_kw].is_kw("GROUP")
                and g_open < len(c.tokens)
                and c.tokens[g_open].kind == "op"
                and c.tokens[g_open].text == "("
            ):
                g_close = _matching_paren(c.tokens, g_open)
                after2 = _next_code(c.tokens, g_close)
                filt2, f_end2 = _consume_filter_clause(c.tokens, after2)
                after2b = (
                    _next_code(c.tokens, f_end2 - 1)
                    if filt2 is not None
                    else after2
                )
                windowed = (
                    after2b < len(c.tokens)
                    and c.tokens[after2b].is_kw("OVER")
                )
                if windowed:
                    filt2 = None  # rider stays in the stream
                gcode = [
                    t
                    for t in c.tokens[g_open + 1 : g_close]
                    if t.kind not in ("ws", "comment")
                ]
                if (
                    not windowed
                    and len(gcode) >= 3
                    and gcode[0].is_kw("ORDER")
                    and gcode[1].is_kw("BY")
                ):
                    body = list(gcode[2:])
                    asc = True
                    while (
                        body
                        and body[-1].kind == "word"
                        and body[-1].upper
                        in ("ASC", "NULLS", "LAST", "FIRST", "DESC")
                    ):
                        if body[-1].upper in ("FIRST", "DESC"):
                            asc = False
                            break
                        body.pop()
                    if asc and body:
                        xsql = "".join(t.text for t in body)
                        ch2 = _parse_literal_decimal_chain(xsql)
                        if (
                            ch2 is not None
                            and not ch2[3]
                            and ch2[1] <= 38
                        ):
                            qsql = _sql(c.inner, 0, len(c.inner))
                            return _quantile_cont_agg_sql(
                                xsql, qsql, filt2 or ""
                            ), (f_end2 if filt2 is not None else g_close + 1)


def _shim_quantile_cont(c):
    if len(c.args) == 2:
        a, b = c.args
        after_qc = _next_code(c.tokens, c.close)
        filt_qc, f_end_qc = _consume_filter_clause(c.tokens, after_qc)
        after_qc2 = (
            _next_code(c.tokens, f_end_qc - 1)
            if filt_qc is not None
            else after_qc
        )
        if after_qc2 < len(c.tokens) and c.tokens[after_qc2].is_kw("OVER"):
            # windowed: the aggregate DECIMAL-quantize wrap
            # cannot carry an OVER suffix — keep the plain
            # percentile spelling for the window passes
            # (windowed DECIMAL quantization stays the
            # documented double-result corner); a FILTER
            # rider stays in the stream with it
            return f"percentile({a}, {b})"
        else:
            # FILTER rider consumed and spliced onto the
            # inner aggregate (r12 ADVICE: trailing it
            # after the CAST wrap was a parse error)
            return _quantile_cont_agg_sql(a, b, filt_qc or ""), (
                f_end_qc if filt_qc is not None else c.close + 1
            )


def _shim_quantile_disc(c):
    if len(c.args) == 2:
        a, b = c.args
        base = f"percentile_disc({b}) WITHIN GROUP (ORDER BY {a})"
        after_qd = _next_code(c.tokens, c.close)
        filt_qd, f_end_qd = _consume_filter_clause(c.tokens, after_qd)
        after_qd2 = (
            _next_code(c.tokens, f_end_qd - 1)
            if filt_qd is not None
            else after_qd
        )
        windowed_qd = (
            after_qd2 < len(c.tokens) and c.tokens[after_qd2].is_kw("OVER")
        )
        consumed_qd = filt_qd is not None and not windowed_qd
        if consumed_qd:
            # FILTER rider spliced onto the aggregate so the
            # CAST wrap below stays parseable (r12 ADVICE);
            # windowed FILTER forms stay in the stream
            base = f"{base}{filt_qd}"
        chd = _parse_literal_decimal_chain(a)
        try:
            float(b)
        except (TypeError, ValueError):
            chd = None  # list-valued quantile: no scalar cast
        if (
            not windowed_qd
            and chd is not None
            and not chd[3]
            and chd[1] <= 15
        ):
            # DuckDB keeps the DECIMAL(w,s) element type;
            # Spark's percentile_disc returns DOUBLE — the
            # selected element is exact below 2^53, so the
            # cast back is lossless. Windowed forms keep
            # the element-preserving frame fold.
            base = f"CAST({base} AS DECIMAL({chd[1]},{chd[2]}))"
        elif (
            not windowed_qd
            and chd is not None
            and not chd[3]
            and 15 < chd[1] <= 38
        ):
            # wide decimals: exact element select in the
            # compiled core (the double roundtrip loses
            # low digits above 2^53)
            qd_core, qd_dist = _split_distinct_prefix(a)
            base = _qdec_wide_agg_sql(
                "qdisc",
                qd_core,
                b,
                chd[1],
                chd[2],
                filt_qd if consumed_qd else "",
                qd_dist,
            )
        return base, (f_end_qd if consumed_qd else c.close + 1)


def _shim_skewness(c):
    if len(c.args) == 1:
        # DuckDB reports the SAMPLE (bias-corrected) statistic,
        # Spark the population one: g1 * sqrt(n(n-1)) / (n-2).
        # nullif: n=2 gives a 0 denominator — DuckDB returns
        # NULL there; without it Spark's ANSI mode raises
        # DIVIDE_BY_ZERO when g1 is non-NULL (n=2, distinct
        # values -> g1 = 0.0)
        a = c.args[0]
        return (
            f"(skewness({a}) * sqrt(CAST(count({a}) AS DOUBLE)"
            f" * (count({a}) - 1)) / nullif(count({a}) - 2, 0))"
        )


def _shim_kurtosis(c):
    if len(c.args) == 1:
        # sample excess kurtosis from Spark's population
        # value; nullif: n<=3 zeroes the denominator where
        # DuckDB returns NULL (ANSI would raise)
        a = c.args[0]
        n_ = f"CAST(count({a}) AS DOUBLE)"
        return (
            f"((({n_} - 1) / nullif(({n_} - 2) * ({n_} - 3)"
            f", 0)) * (({n_} + 1) * kurtosis({a}) + 6))"
        )


def _shim_corr(c):
    if len(c.args) == 2:
        # Spark's corr raises DIVIDE_BY_ZERO (ANSI) when
        # either side has zero variance; DuckDB returns NULL.
        # A CASE can't guard an aggregate (aggregates are
        # computed before the projection), so corr is
        # recomposed from moments with a nullif'd ratio —
        # the same covar_pop / (σx σy) DuckDB evaluates.
        a, b = c.args
        return (
            f"(covar_pop({a}, {b}) / "
            f"nullif(stddev_pop({a}) * stddev_pop({b}), 0))"
        )


def _shim_regexp_full_match(c):
    if len(c.args) == 2:
        a, b = c.args
        return f"(regexp_extract({a}, {b}, 0) = {a})"


# (lowercase function names, call shim) in lowering order; a shim for
# no names runs for every function. A shim takes one ``_CallSite``
# whose arguments are already lowered and returns SQL text (or
# tokens, optionally as ``(replacement, end)``), or None to fall
# through to the next.
_SHIMS = (
    (("first", "last"), _shim_ordered_first_last),
    (
        (
            "sum", "avg", "mean", "min", "max", "count", "bool_and", "bool_or",
            "bit_and", "bit_or", "bit_xor", "stddev", "stddev_samp", "stddev_pop",
            "variance", "var_samp", "var_pop", "median", "product", "entropy",
        ),
        _shim_drop_agg_order,
    ),
    (
        (
            "string_agg", "group_concat", "array_agg", "list", "collect_list",
        ),
        _shim_ordered_list_agg,
    ),
    (("regexp_extract",), _shim_regexp_extract),
    (("list_sort", "array_sort", "list_reverse_sort"), _shim_list_sort),
    (("list_resize", "array_resize"), _shim_list_resize),
    (("parse_path",), _shim_parse_path),
    (("array_extract", "list_element", "list_extract"), _shim_array_extract),
    (("octet_length",), _shim_octet_length),
    (("make_time",), _shim_make_time),
    (("bitstring_agg",), _shim_bitstring_agg),
    (("struct_insert",), _shim_struct_insert),
    (("count", "median"), _shim_over_window),
    (("array_length",), _shim_array_length),
    (("list_where", "array_where"), _shim_list_where),
    (("mad",), _shim_mad),
    (("substring_grapheme",), _shim_substring_grapheme),
    (("decade", "century", "millennium"), _shim_interval_bucket),
    (("timezone",), _shim_timezone),
    (("timezone",), _shim_timezone_offset),
    (("json_type",), _shim_json_type),
    (("bar",), _shim_bar),
    (("arg_max", "arg_min", "argmax", "argmin"), _shim_arg_max),
    (("generate_series",), _shim_generate_series),
    (("greatest", "least"), _shim_greatest),
    (("array_reverse_sort",), _shim_array_reverse_sort),
    (("regexp_escape",), _shim_regexp_escape),
    (
        (
            "parse_filename", "parse_dirpath", "parse_dirname",
        ),
        _shim_parse_filename,
    ),
    (("md5_number_lower", "md5_number_upper"), _shim_md5_number_lower),
    (("struct_extract",), _shim_struct_extract),
    (("map_extract",), _shim_map_extract),
    (("count", "count_star"), _shim_count_star),
    (("dayofweek", "weekday"), _shim_dayofweek),
    (
        (
            "century", "decade", "millennium", "era", "isoyear", "julian",
            "microsecond", "millisecond", "timezone_hour", "timezone_minute",
            "epoch_ns",
        ),
        _shim_date_part_fns,
    ),
    (("make_timestamp", "make_timestamptz"), _shim_make_timestamp),
    (("to_timestamp",), _shim_to_timestamp),
    (("ceil", "ceiling", "floor"), _shim_ceil_floor),
    (("trunc",), _shim_trunc),
    (("sem",), _shim_sem),
    (("signbit",), _shim_signbit),
    (("regexp_extract_all",), _shim_regexp_extract_all),
    (("json_valid",), _shim_json_valid),
    (("json_array_length",), _shim_json_array_length),
    (("json_array",), _shim_json_array),
    (("json_object",), _shim_json_object),
    (
        (
            "list_dot_product", "list_inner_product", "list_negative_dot_product",
            "list_negative_inner_product", "list_cosine_similarity",
            "list_cosine_distance", "list_distance",
        ),
        _shim_list_dot_product,
    ),
    (("list_select", "array_select"), _shim_list_select),
    (("grade_up", "list_grade_up", "array_grade_up"), _shim_grade_up),
    (("get_bit",), _shim_get_bit),
    (("set_bit",), _shim_set_bit),
    (("bit_position",), _shim_bit_position),
    (
        (
            "to_years", "to_months", "to_quarters", "to_decades", "to_centuries",
            "to_millennia", "to_weeks", "to_days", "to_hours", "to_minutes",
            "to_seconds", "to_milliseconds", "to_microseconds",
        ),
        _shim_to_years,
    ),
    (("encode", "decode"), _shim_encode),
    (
        (
            "format_bytes", "formatreadablesize", "formatreadabledecimalsize",
        ),
        _shim_format_bytes,
    ),
    (("bitstring",), _shim_bitstring),
    (("date_add",), _shim_date_add),
    (("dayname", "monthname"), _shim_dayname),
    (("age",), _shim_age),
    (("isodow",), _shim_isodow),
    (("list_unique", "array_unique"), _shim_list_unique),
    (("map",), _shim_map),
    (("to_base",), _shim_to_base),
    (("list_reduce",), _shim_list_reduce),
    (("read_parquet",), _shim_read_parquet),
    (("jaccard",), _shim_jaccard),
    (("hamming", "mismatches"), _shim_hamming),
    (("regexp_split_to_table",), _shim_regexp_split_to_table),
    (("string_agg", "listagg", "group_concat"), _shim_string_agg),
    (
        (
            "list_aggregate", "list_aggr", "aggregate", "array_aggregate",
            "array_aggr",
        ),
        _shim_list_aggregate,
    ),
    (("printf",), _shim_printf),
    (("format",), _shim_format),
    (
        (
            "json_extract", "json_extract_path", "json_extract_string",
            "json_extract_path_text",
        ),
        _shim_json_extract,
    ),
    (("unicode",), _shim_unicode),
    (("xor",), _shim_xor),
    (("even",), _shim_even),
    (("isnan", "isinf", "isfinite"), _shim_isnan),
    (("sha256",), _shim_sha256),
    (("list_prepend",), _shim_list_prepend),
    (("levenshtein", "editdist3"), _shim_levenshtein),
    (("range",), _shim_range),
    (("log",), _shim_log),
    (("trim", "ltrim", "rtrim"), _shim_trim),
    (("sign",), _shim_sign),
    (("avg", "mean"), _shim_avg_double),
    (("left", "right"), _shim_left),
    (("split_part",), _shim_split_part),
    (("list_slice", "array_slice"), _shim_list_slice),
    (("list_has_all",), _shim_list_has_all),
    (("list_sum", "list_avg"), _shim_list_sum),
    (("struct_pack",), _shim_struct_pack),
    (
        (
            "like_escape", "ilike_escape", "not_like_escape", "not_ilike_escape",
        ),
        _shim_like_escape,
    ),
    ((), _shim_nulls_hoist),
    (("time_bucket",), _shim_time_bucket),
    (("yearweek",), _shim_yearweek),
    (("median",), _shim_decimal_median),
    (("percentile_cont",), _shim_percentile_cont),
    (("quantile_cont",), _shim_quantile_cont),
    (("quantile_disc", "quantile"), _shim_quantile_disc),
    (("skewness",), _shim_skewness),
    (("kurtosis",), _shim_kurtosis),
    (("corr",), _shim_corr),
    (("regexp_full_match",), _shim_regexp_full_match),
)
# lowercase function name -> its call shims in lowering order; a name
# without an entry takes the name-independent shims only
_CALL_SHIMS = {
    name: tuple(fn for ns, fn in _SHIMS if not ns or name in ns)
    for names, _ in _SHIMS
    for name in names
}
_ANY_CALL_SHIMS = tuple(fn for ns, fn in _SHIMS if not ns)
# a statement naming none of these has nothing to shim
_CALL_SHIM_WORDS = frozenset(_CALL_SHIMS) | {"ignore", "respect"}


def _lower_shim(call: _CallSite, walk):
    """The first call shim's lowering of ``call`` over its lowered
    arguments, or the call itself over them."""
    inner = walk(call.arg_tokens(), call.in_py_udf or call.name in _PY_UDF_FNS)
    call.inner = inner
    call.spans = _split_top_commas(inner, 0, len(inner))
    shims = _CALL_SHIMS.get(call.name)
    if shims:
        call.args = tuple(_sql(inner, s, e) for s, e in call.spans)
    for shim in shims or _ANY_CALL_SHIMS:
        repl = shim(call)
        if repl is not None:
            return repl
    toks = call.tokens
    return toks[call.start : call.p_open + 1] + inner + [toks[call.close]]


def _rewrite_call_shims(tokens: List[Token]) -> List[Token]:
    """Argument-aware function shims beyond plain renames: every call
    whose name has shims in ``_CALL_SHIMS`` is lowered by the first of
    them that returns SQL, after its arguments; other calls keep their
    name over their lowered arguments. To shim another DuckDB function,
    write its handler and add it to ``_SHIMS``."""
    return _lower_calls(tokens, None, _lower_shim)


def _find_columns_call(item: List[Token]):
    """(start, end_exclusive, arg) of the first COLUMNS(...) call in a
    select item; arg is the regex text or '*'. None when absent or not
    a supported argument shape."""
    for j, t in enumerate(item):
        if t.kind == "word" and t.text.lower() == "columns":
            p = _next_code(item, j)
            if p < len(item) and item[p].text == "(":
                close = _matching_paren(item, p)
                inner = [
                    x for x in item[p + 1 : close]
                    if x.kind not in ("ws", "comment")
                ]
                if len(inner) == 1 and inner[0].kind == "string":
                    return j, close + 1, inner[0].text[1:-1].replace("''", "'")
                if len(inner) == 1 and inner[0].kind == "op" and inner[0].text == "*":
                    return j, close + 1, "*"
                # lambda form COLUMNS(x -> x [I]LIKE 'pat'): lower the
                # LIKE pattern onto the existing regex path
                if (
                    len(inner) == 5
                    and inner[0].kind == "word"
                    and inner[1].kind == "op"
                    and inner[1].text == "->"
                    and inner[2].kind == "word"
                    and inner[2].text == inner[0].text
                    and (inner[3].is_kw("LIKE") or inner[3].is_kw("ILIKE"))
                    and inner[4].kind == "string"
                ):
                    pat = inner[4].text[1:-1].replace("''", "'")
                    rx = "^" + "".join(
                        ".*" if ch == "%" else "." if ch == "_"
                        else re.escape(ch)
                        for ch in pat
                    ) + "$"
                    if inner[3].is_kw("ILIKE"):
                        rx = "(?i)" + rx
                    return j, close + 1, rx
                return None
    return None


#: a ``* [EXCLUDE (...)] REPLACE (`` select item (regex source)
STAR_REPLACE_PATTERN = r"\*\s*(?:(?:EXCLUDE|EXCEPT)\s*\([^()]*\)\s*)?REPLACE\s*\("

#: a COLUMNS(...) call, a star-REPLACE item or a UNION BY NAME: the
#: only shapes ``expand_scopes`` rewrites
_SCOPE_EXPANDED = re.compile(
    rf"\bcolumns\s*\(|{STAR_REPLACE_PATTERN}|\bUNION\b[\s\S]*?\bBY\s+NAME\b",
    re.IGNORECASE,
)

#: depth-0 keywords that end a SELECT branch's FROM clause
_FROM_CLAUSE_ENDS = (
    "WHERE", "GROUP", "HAVING", "QUALIFY", "WINDOW", "ORDER", "LIMIT", "OFFSET",
)


class _Unresolvable(Exception):
    """A scope that cannot be expanded: its columns did not resolve to
    unique names, or an item names no expansion DuckDB would accept."""


def expand_scopes(sql: str, resolve_columns) -> str:
    """Expand the DuckDB projections whose columns depend on a schema,
    BEFORE translation, in one walk over the statement's query scopes
    (WITH bodies, subqueries, set-op branches):

    - ``COLUMNS('regex' | * | x -> x [I]LIKE 'pat')`` select items
      expand to the columns of ``SELECT * FROM <the branch's FROM
      clause>`` whose name contains a regex match; an enclosing
      expression is replicated once per column and keeps the column's
      name (``min(COLUMNS('x'))`` yields columns named after the inputs);
    - ``[alias.]* [EXCLUDE (cols)] REPLACE (expr AS col, ...)`` items
      expand to the columns of ``SELECT [alias.]* FROM <FROM clause>``,
      each replaced column in its own position (``alias.col`` items for
      an ``alias.*``);
    - ``UNION [ALL] BY NAME`` becomes a column-aligned plain ``UNION
      [ALL]`` (Spark has no BY NAME set-op syntax): the result columns
      are the union of the branch columns in first-appearance order
      (case-insensitive matching, first spelling wins), missing columns
      fill NULL, plain UNION still deduplicates after alignment, chains
      fold left-associatively and a trailing ORDER BY/LIMIT applies to
      the whole union.

    Columns come from ``resolve_columns(duckdb_sql) -> [col] | None``
    with the scope's WITH definitions in view; the executor passes one
    backed by the live session (lazy analysis, no job). A scope calls
    it once per distinct query it needs and never without such an
    item. When a resolution fails or yields names that are not unique
    case-insensitively (or BY NAME mixes with INTERSECT, whose tighter
    precedence the textual fold can't honor), the statement is returned
    unchanged and fails loudly at parse."""
    if not _SCOPE_EXPANDED.search(sql):
        return sql
    try:
        tokens = _expand_scope(tokenize(sql), resolve_columns, [], False)
    except _Unresolvable:
        return sql
    return "".join(t.text for t in tokens)


def _with_ctes(ctes: List[str], recursive: bool, text: str) -> str:
    if not ctes:
        return text
    kw = "WITH RECURSIVE " if recursive else "WITH "
    return kw + ", ".join(ctes) + " " + text


def _expand_scope(
    tokens: List[Token], resolve, ctes: List[str], recursive: bool
) -> List[Token]:
    """Recursively expand one query scope (see ``expand_scopes``).
    ``ctes`` carries enclosing WITH definitions (as ``name AS (body)``
    texts) so branch columns resolve with their CTEs in scope."""
    n = len(tokens)
    # --- split off this scope's statement + WITH prefix (if any)
    with_defs: List[str] = []
    local_recursive = False
    body_start = 0
    sel = None
    depth = 0
    for j in range(n):
        t = tokens[j]
        if t.kind == "op" and t.text == "(":
            depth += 1
        elif t.kind == "op" and t.text == ")":
            depth -= 1
        elif depth == 0 and t.is_kw("WITH", "SELECT"):
            sel = j
            break
    first = _next_code(tokens, -1)
    from_first = first < n and tokens[first].is_kw("FROM")
    if sel is not None and tokens[sel].is_kw("SELECT") and not from_first:
        # statement prefix (CREATE ... AS / INSERT INTO t) stays outside
        # the set-op fold and outside branch schema resolution
        body_start = sel
    if sel is not None and tokens[sel].is_kw("WITH"):
        body_start = sel  # statement prefix before WITH, if any
        j = _next_code(tokens, sel)
        if j < n and tokens[j].is_kw("RECURSIVE"):
            local_recursive = True
            j = _next_code(tokens, j)
        # CTE list: name [(cols)] AS ( body ) [, ...]
        while j < n:
            def_start = j
            if tokens[j].kind not in ("word", "bident", "qident"):
                break
            j = _next_code(tokens, j)
            if j < n and tokens[j].kind == "op" and tokens[j].text == "(":
                j = _next_code(tokens, _matching_paren(tokens, j))
            if not (j < n and tokens[j].is_kw("AS")):
                break
            j = _next_code(tokens, j)
            if not (j < n and tokens[j].kind == "op" and tokens[j].text == "("):
                break
            body_close = _matching_paren(tokens, j)
            inner = _expand_scope(
                tokens[j + 1 : body_close],
                resolve,
                ctes + with_defs,
                recursive or local_recursive,
            )
            def_text = (
                "".join(t.text for t in tokens[def_start : j + 1])
                + "".join(t.text for t in inner)
                + ")"
            )
            with_defs.append(def_text.strip())
            j = _next_code(tokens, body_close)
            body_start = body_close + 1
            if j < n and tokens[j].kind == "op" and tokens[j].text == ",":
                j = _next_code(tokens, j)
                continue
            body_start = j if j < n else n
            break
    scope_ctes = ctes + with_defs
    scope_recursive = recursive or local_recursive
    # output prefix: statement head plus the (expanded) WITH clause
    if with_defs:
        prefix_toks = tokens[:sel] + _toks(
            ("WITH RECURSIVE " if local_recursive else "WITH ")
            + ", ".join(with_defs)
            + " "
        )
    else:
        prefix_toks = tokens[:body_start]
    body = tokens[body_start:]
    # --- recurse into paren groups of the body
    out: List[Token] = []
    i = 0
    nb = len(body)
    while i < nb:
        t = body[i]
        if t.kind == "op" and t.text == "(":
            close = _matching_paren(body, i)
            if close > i:
                out.append(t)
                out.extend(
                    _expand_scope(
                        body[i + 1 : close], resolve, scope_ctes, scope_recursive
                    )
                )
                out.append(body[close])
                i = close + 1
                continue
        out.append(t)
        i += 1
    # --- top-level set-op scan
    ops = []  # (start, end_exclusive, kind, all_flag, by_name)
    depth = 0
    k = 0
    no = len(out)
    while k < no:
        t = out[k]
        if t.kind == "op" and t.text == "(":
            depth += 1
        elif t.kind == "op" and t.text == ")":
            depth -= 1
        elif depth == 0 and t.is_kw("UNION", "EXCEPT", "INTERSECT", "MINUS"):
            kind = t.upper
            end = k + 1
            all_flag = False
            by_name = False
            m = _next_code(out, k)
            if m < no and out[m].is_kw("ALL", "DISTINCT"):
                all_flag = out[m].is_kw("ALL")
                end = m + 1
                m = _next_code(out, m)
            if (
                kind == "UNION"
                and m < no
                and out[m].is_kw("BY")
            ):
                m2 = _next_code(out, m)
                if m2 < no and out[m2].is_kw("NAME"):
                    by_name = True
                    end = m2 + 1
            ops.append((k, end, kind, all_flag, by_name))
            k = end
            continue
        k += 1
    resolved: Dict[str, List[str]] = {}

    def _res(text: str) -> List[str]:
        text = _with_ctes(scope_ctes, scope_recursive, text)
        if text not in resolved:
            cols = resolve(text)
            if cols is None:
                raise _Unresolvable()
            resolved[text] = list(cols)
        return resolved[text]

    # --- set-op branches (even pieces) and operators (odd pieces)
    bounds = [0] + [b for op in ops for b in (op[0], op[1])] + [no]
    pieces = [out[bounds[p] : bounds[p + 1]] for p in range(len(bounds) - 1)]
    for p in range(0, len(pieces), 2):
        pieces[p] = _expand_items(pieces[p], _res)
    if not any(op[4] for op in ops):
        return prefix_toks + [t for piece in pieces for t in piece]
    if any(op[2] in ("INTERSECT", "MINUS") for op in ops):
        raise _Unresolvable()  # precedence-unsafe mix
    # --- trailing ORDER BY/LIMIT/OFFSET of the last branch
    branches = pieces[0::2]
    last = branches[-1]
    tail: List[Token] = []
    depth = 0
    for j, t in enumerate(last):
        if t.kind == "op" and t.text == "(":
            depth += 1
        elif t.kind == "op" and t.text == ")":
            depth -= 1
        elif depth == 0 and t.is_kw("ORDER", "LIMIT", "OFFSET"):
            tail = last[j:]
            branches[-1] = last[:j]
            break
    texts = ["".join(t.text for t in b).strip() for b in branches]
    # --- left-associative fold
    cur = texts[0]
    for oi, (_, _, _, all_flag, by_name) in enumerate(ops):
        nxt = texts[oi + 1]
        if not by_name:
            op_text = "".join(t.text for t in pieces[2 * oi + 1])
            cur = f"{cur} {op_text} {nxt}"
            continue
        cl, cr = _res(cur), _res(nxt)
        if any(len({c.lower() for c in x}) < len(x) for x in (cl, cr)):
            raise _Unresolvable()  # BY NAME over duplicate names
        low_l = [c.lower() for c in cl]
        merged = list(cl) + [c for c in cr if c.lower() not in low_l]
        low_r = {c.lower(): c for c in cr}
        proj_l = ", ".join(
            f"{_bt(c)}" if c in cl else f"NULL AS {_bt(c)}"
            for c in merged
        )
        proj_r = ", ".join(
            f"{_bt(low_r[c.lower()])} AS {_bt(c)}"
            if c.lower() in low_r
            else f"NULL AS {_bt(c)}"
            for c in merged
        )
        op_sql = "UNION ALL" if all_flag else "UNION"
        cur = (
            f"SELECT {proj_l} FROM ({cur}) AS __ubn_l {op_sql} "
            f"SELECT {proj_r} FROM ({nxt}) AS __ubn_r"
        )
    tail_text = "".join(t.text for t in tail)
    return prefix_toks + _toks(cur + (" " + tail_text if tail_text else ""))

def _expand_items(tokens: List[Token], res) -> List[Token]:
    """One SELECT branch with its COLUMNS(...) and star-REPLACE select
    items expanded against the branch's FROM clause (``res(query) ->
    [col]`` resolves a query's columns in the branch's scope)."""
    n = len(tokens)
    start = _next_code(tokens, -1)
    if not (start < n and tokens[start].is_kw("SELECT")):
        return tokens
    start = _next_code(tokens, start)
    if start < n and tokens[start].is_kw("ALL", "DISTINCT"):
        start = _next_code(tokens, start)
        if start < n and tokens[start].is_kw("ON"):
            start = _next_code(
                tokens, _matching_paren(tokens, _next_code(tokens, start))
            )
    # the depth-0 FROM (not the one of IS [NOT] DISTINCT FROM)
    frm = None
    depth = 0
    prev = None
    for j in range(start, n):
        t = tokens[j]
        if t.kind in ("ws", "comment"):
            continue
        if t.kind == "op" and t.text in ("(", "["):
            depth += 1
        elif t.kind == "op" and t.text in (")", "]"):
            depth -= 1
        elif depth == 0 and t.is_kw("FROM") and not (prev and prev.is_kw("DISTINCT")):
            frm = j
            break
        prev = t
    if frm is None:
        return tokens
    ends = _top_level_positions(
        tokens, frm, n, lambda t: t.is_kw(*_FROM_CLAUSE_ENDS)
    )
    from_end = ends[0] if ends else n
    from_text = _sql(tokens, frm, from_end)

    def cols_of(star: str) -> List[tuple]:
        """``(reference, name)`` per column of ``SELECT star FROM ..``:
        a name the FROM yields twice is referenced as ``alias.col``."""
        cols = res(f"SELECT {star} {from_text}")
        low = [c.lower() for c in cols]
        dup = {c for c in low if low.count(c) > 1}
        if not dup:
            return [(_bt(c), c) for c in cols]
        quals: List[str] = []
        names: List[str] = []
        for alias in _from_aliases(tokens, frm, from_end):
            part = res(f"SELECT {alias}.* {from_text}")
            quals += [alias] * len(part)
            names += [c.lower() for c in part]
        if names != low:
            raise _Unresolvable()  # e.g. USING / NATURAL joins
        return [
            (f"{q}.{_bt(c)}" if c.lower() in dup else _bt(c), c)
            for q, c in zip(quals, cols)
        ]

    texts: List[str] = []
    changed = False
    for s, e in _split_top_commas(tokens, start, frm):
        new = _expand_item(tokens[s:e], cols_of)
        changed = changed or new is not None
        texts.append(_sql(tokens, s, e) if new is None else ", ".join(new))
    if not changed:
        return tokens
    return tokens[:start] + _toks(", ".join(texts) + " ") + tokens[frm:]


def _expand_item(item: List[Token], cols_of) -> Optional[List[str]]:
    """The select items a COLUMNS(...) or ``[alias.]* [EXCLUDE (...)]
    REPLACE (...)`` item expands to; None for any other item.
    ``cols_of(star)`` resolves ``SELECT <star> FROM <the FROM clause>``
    to ``(reference, name)`` pairs."""
    code = [j for j, t in enumerate(item) if t.kind not in ("ws", "comment")]
    if not code:
        return None
    first = item[code[0]]
    if first.kind == "op" and first.text == "*":
        return _star_replace_item(item, code[0], "", cols_of)
    if (
        len(code) >= 3
        and first.kind in ("word", "bident", "qident")
        and item[code[1]].kind == "op" and item[code[1]].text == "."
        and item[code[2]].kind == "op" and item[code[2]].text == "*"
    ):
        return _star_replace_item(item, code[2], first.text + ".", cols_of)
    call = _find_columns_call(item)
    if call is None:
        return None
    c_start, c_end, arg = call
    if _top_level_positions(item, 0, len(item), lambda t: t.is_kw("AS")):
        raise _Unresolvable()  # an aliased COLUMNS item names no column
    cols = cols_of("*")
    if arg == "*":
        matched = cols
    else:
        try:
            rx = re.compile(arg)
        except re.error:
            raise _Unresolvable() from None
        matched = [(ref, c) for ref, c in cols if rx.search(c)]
    if not matched:
        raise _Unresolvable()
    call_text = "".join(t.text for t in item[c_start:c_end])
    item_text = "".join(t.text for t in item).strip()
    if item_text == call_text.strip():
        return [ref for ref, _ in matched]
    return [f"{item_text.replace(call_text, ref)} AS {_bt(c)}" for ref, c in matched]


def _star_replace_item(
    item: List[Token], star: int, qual: str, cols_of
) -> Optional[List[str]]:
    """``qual* [EXCLUDE (cols)] REPLACE (expr AS col, ...)`` (the star at
    ``item[star]``, ``qual`` is ``alias.`` or empty) as one item per
    column of ``SELECT qual* FROM ...``; None without a REPLACE list
    (a plain or EXCLUDE-only star is the translator's)."""
    n = len(item)
    excl: set = set()
    j = _next_code(item, star)
    if j < n and item[j].is_kw("EXCLUDE", "EXCEPT"):
        p = _next_code(item, j)
        if not (p < n and item[p].kind == "op" and item[p].text == "("):
            return None
        close = _matching_paren(item, p)
        for s, e in _split_top_commas(item, p + 1, close):
            name = [t for t in item[s:e] if t.kind not in ("ws", "comment")]
            if len(name) != 1:
                raise _Unresolvable()
            excl.add(unquote_name(name[0]).lower())
        j = _next_code(item, close)
    if not (j < n and item[j].is_kw("REPLACE")):
        return None
    p = _next_code(item, j)
    if not (p < n and item[p].kind == "op" and item[p].text == "("):
        return None
    close = _matching_paren(item, p)
    if _next_code(item, close) < n:
        raise _Unresolvable()
    repl: Dict[str, str] = {}
    for s, e in _split_top_commas(item, p + 1, close):
        as_pos = _top_level_positions(item, s, e, lambda t: t.is_kw("AS"))
        name = [
            t for t in item[as_pos[-1] + 1 : e] if t.kind not in ("ws", "comment")
        ] if as_pos else []
        if len(name) != 1 or name[0].kind not in ("word", "bident", "qident"):
            raise _Unresolvable()
        repl[unquote_name(name[0]).lower()] = _sql(item, s, as_pos[-1])
    cols = cols_of(qual + "*")
    low = [c.lower() for _, c in cols]
    if not (repl.keys() <= set(low) and excl <= set(low)):
        raise _Unresolvable()
    if any(low.count(c) > 1 for c in repl):
        raise _Unresolvable()  # replacing an ambiguous name
    return [
        f"({repl[c.lower()]}) AS {_bt(c)}" if c.lower() in repl else qual + ref
        for ref, c in cols
        if c.lower() not in excl
    ]


# words that end a FROM item's table reference
_FROM_ITEM_ENDS = frozenset({
    "ON", "USING", "JOIN", "LEFT", "RIGHT", "INNER", "FULL", "CROSS",
    "OUTER", "NATURAL", "SEMI", "ANTI", "ASOF", "POSITIONAL", "LATERAL",
})


def _from_aliases(tokens: List[Token], frm: int, hi: int) -> List[str]:
    """The name each FROM item in ``tokens[frm:hi]`` (``frm`` at FROM)
    is referenced by — its alias, else its table name — in order; empty
    when an item has no nameable reference."""
    out: List[str] = []
    k = _next_code(tokens, frm)
    while k < hi:
        t = tokens[k]
        name = None
        if t.kind == "op" and t.text == "(":
            k = _next_code(tokens, _matching_paren(tokens, k))
        elif t.kind in ("word", "bident", "qident") and not t.is_kw(*_FROM_ITEM_ENDS):
            name = t.text
            k = _next_code(tokens, k)
            while k + 1 < hi and tokens[k].text == "." :
                k = _next_code(tokens, k)
                name = tokens[k].text
                k = _next_code(tokens, k)
        else:
            return []
        if k < hi and tokens[k].is_kw("AS"):
            k = _next_code(tokens, k)
        if (
            k < hi
            and tokens[k].kind in ("word", "bident", "qident")
            and not tokens[k].is_kw(*_FROM_ITEM_ENDS)
        ):
            name = tokens[k].text
            k = _next_code(tokens, k)
        if name is None:
            return []
        out.append(name)
        while k < hi and not (tokens[k].text == "," or tokens[k].is_kw("JOIN")):
            if tokens[k].kind == "op" and tokens[k].text == "(":
                k = _matching_paren(tokens, k)
            k = _next_code(tokens, k)
        k = _next_code(tokens, k)
    return out


def _rewrite_statement_unpivot(tokens: List[Token]) -> List[Token]:
    """DuckDB statement-level ``UNPIVOT tbl ON c1, c2 INTO NAME n VALUE
    v`` -> ``SELECT * FROM tbl UNPIVOT (v FOR n IN (c1, c2))`` (Spark's
    relational form; both engines exclude NULL values by default and
    order columns as remaining + name + value). Only the single-VALUE
    explicit-column form; others pass through."""
    # locate depth-0 UNPIVOT followed by a table ref then ON
    n = len(tokens)
    depth = 0
    for i in range(n):
        tok = tokens[i]
        if tok.kind == "op" and tok.text == "(":
            depth += 1
        elif tok.kind == "op" and tok.text == ")":
            depth -= 1
        elif depth == 0 and tok.is_kw("UNPIVOT"):
            t_idx = _next_code(tokens, i)
            if t_idx >= n or tokens[t_idx].kind not in ("word", "bident", "qident"):
                return tokens
            on_idx = _next_code(tokens, t_idx)
            if on_idx >= n or not tokens[on_idx].is_kw("ON"):
                return tokens
            into_idx = None
            d = 0
            for j in range(on_idx + 1, n):
                t = tokens[j]
                if t.kind == "op" and t.text == "(":
                    d += 1
                elif t.kind == "op" and t.text == ")":
                    d -= 1
                elif d == 0 and t.is_kw("INTO"):
                    into_idx = j
                    break
            if into_idx is None:
                return tokens
            name_kw = _next_code(tokens, into_idx)
            if name_kw >= n or not tokens[name_kw].is_kw("NAME"):
                return tokens
            name_idx = _next_code(tokens, name_kw)
            value_kw = _next_code(tokens, name_idx)
            if value_kw >= n or not tokens[value_kw].is_kw("VALUE"):
                return tokens
            value_idx = _next_code(tokens, value_kw)
            if value_idx >= n:
                return tokens
            table = tokens[t_idx].text
            on_cols = "".join(
                t.text for t in tokens[on_idx + 1: into_idx]
            ).strip()
            name_col = tokens[name_idx].text
            value_col = tokens[value_idx].text
            head = "".join(t.text for t in tokens[:i])
            tail = "".join(t.text for t in tokens[value_idx + 1:])
            return _toks(
                f"{head}SELECT * FROM {table} UNPIVOT ({value_col} "
                f"FOR {name_col} IN ({on_cols})){tail}"
            )
    return tokens


def _rewrite_using_sample(tokens: List[Token]) -> List[Token]:
    """DuckDB ``USING SAMPLE n% | n [ROWS] | method(n%)`` (optionally
    ``REPEATABLE (seed)``) -> Spark ``TABLESAMPLE (n PERCENT|ROWS)
    [REPEATABLE (seed)]``. DuckDB's sampling METHOD names (bernoulli /
    system / reservoir) are dropped: Spark has one sampler per unit.
    Sampling is inherently engine-specific — rewrites preserve the
    sample-size contract, not the row selection."""

    def lower(tokens, i, out):
        n = len(tokens)
        j = _next_code(tokens, i)
        if not (j < n and tokens[j].is_kw("SAMPLE")):
            return None
        k = _next_code(tokens, j)
        num = unit = None
        end = k
        if k < n and tokens[k].kind == "word":
            word = tokens[k].text
            if word.replace(".", "", 1).isdigit():
                num = word
                m = _next_code(tokens, k)
                if m < n and tokens[m].kind == "op" and tokens[m].text == "%":
                    unit, end = "PERCENT", m
                elif m < n and tokens[m].is_kw("PERCENT"):
                    unit, end = "PERCENT", m
                elif m < n and tokens[m].is_kw("ROWS"):
                    unit, end = "ROWS", m
                else:
                    unit, end = "ROWS", k
                # drop a trailing (method) group
                m2 = _next_code(tokens, end)
                if m2 < n and tokens[m2].text == "(":
                    inner = [
                        t for t in tokens[m2 + 1 : _matching_paren(tokens, m2)]
                        if t.kind == "word"
                    ]
                    if len(inner) == 1 and inner[0].text.lower() in (
                        "bernoulli", "system", "reservoir"
                    ):
                        end = _matching_paren(tokens, m2)
            elif word.lower() in ("bernoulli", "system", "reservoir"):
                # method(n% | n ROWS) form
                p = _next_code(tokens, k)
                if p < n and tokens[p].text == "(":
                    close = _matching_paren(tokens, p)
                    inner = [
                        t for t in tokens[p + 1 : close]
                        if t.kind not in ("ws", "comment")
                    ]
                    if inner and inner[0].kind == "word" and inner[
                        0
                    ].text.replace(".", "", 1).isdigit():
                        num = inner[0].text
                        rest = inner[1:]
                        if rest and (
                            rest[0].text == "%" or rest[0].is_kw("PERCENT")
                        ):
                            unit = "PERCENT"
                        else:
                            unit = "ROWS"
                        end = close
        if num is None:
            return None
        frag = f"TABLESAMPLE ({num} {unit})"
        # keep REPEATABLE (seed)
        r = _next_code(tokens, end)
        if r < n and tokens[r].is_kw("REPEATABLE"):
            p = _next_code(tokens, r)
            if p < n and tokens[p].text == "(":
                close = _matching_paren(tokens, p)
                seed = "".join(t.text for t in tokens[p + 1 : close]).strip()
                frag += f" REPEATABLE ({seed})"
                end = close
        out.extend(_toks(frag))
        return end + 1

    return _lower_sites(tokens, {"using"}, lower)


def _rewrite_similar_to(tokens: List[Token]) -> List[Token]:
    """``x [NOT] SIMILAR TO '<pat>'`` -> ``x [NOT] RLIKE '^(?:<pat>)$'``
    (full-match anchoring; literal patterns only)."""

    def lower(tokens, i, out):
        j = _next_code(tokens, i)
        if j < len(tokens) and tokens[j].is_kw("TO"):
            k = _next_code(tokens, j)
            if k < len(tokens) and tokens[k].kind == "string":
                out.append(Token("word", "RLIKE"))
                out.append(Token("ws", " "))
                out.append(Token("string", f"'^(?:{tokens[k].text[1:-1]})$'"))
                return k + 1

    return _lower_sites(tokens, {"similar"}, lower)


def _rewrite_brace_literals(tokens: List[Token]) -> List[Token]:
    """DuckDB struct/map literals:
    ``{'a': 1, 'b': x}``      -> ``named_struct('a', 1, 'b', x)``
    ``map {'k': v, ...}``     -> ``map('k', v, ...)``
    """

    def lower(tokens, i, out):
        close = None
        depth = 0
        for j in range(i, len(tokens)):
            t = tokens[j]
            if t.kind == "op" and t.text in ("{", "(", "["):
                depth += 1
            elif t.kind == "op" and t.text in ("}", ")", "]"):
                depth -= 1
                if depth == 0:
                    close = j
                    break
        if close is None:
            return None
        inner = _rewrite_brace_literals(tokens[i + 1 : close])
        # was this preceded by the word `map`?
        is_map = False
        for k in range(len(out) - 1, -1, -1):
            if out[k].kind in ("ws", "comment"):
                continue
            is_map = out[k].kind == "word" and out[k].text.lower() == "map"
            if is_map:
                del out[k:]
            break
        parts = []
        for s, e in _split_top_commas(inner, 0, len(inner)):
            colons = _top_level_positions(
                inner, s, e, lambda t: t.kind == "op" and t.text == ":"
            )
            if not colons:
                parts = None
                break
            c = colons[0]
            parts.append(f"{_sql(inner, s, c)}, {_sql(inner, c + 1, e)}")
        if parts is not None:
            # the map branch emits the SENTINEL name so the 2-arg map()
            # list-pair handler can't mistake a single-entry brace
            # literal (variadic key/value pair) for DuckDB's
            # map(keys_list, values_list); _restore_brace_map renames
            # it back at the end
            fn = "__brace_map" if is_map else "named_struct"
            out.extend(_toks(f"{fn}({', '.join(parts)})"))
            return close + 1
        if not is_map:
            return None
        # not a literal we understand: `map` goes back (without the
        # gap before the brace) and the brace stays
        out.append(Token("word", "map"))
        out.append(tokens[i])
        return i + 1

    return _lower_sites(tokens, {"{"}, lower)


# the sites _rewrite_simple lowers
_SIMPLE_SITES = frozenset({"//", "in", "@", "version", "exclude", *_FN_RENAMES})


def _rewrite_simple(tokens: List[Token]) -> List[Token]:
    """Token-local spellings: ``//``, ``IN (VALUES ...)``, ``@(x)``,
    ``version()``, ``exclude(`` and the ``_FN_RENAMES`` calls."""

    def lower(tokens, i, out):
        low = tokens[i].text.lower()
        n = len(tokens)
        nxt = _next_code(tokens, i)
        if low == "//":  # floor division
            out.append(Token("word", " DIV "))
            return i + 1
        if not (nxt < n and tokens[nxt].kind == "op" and tokens[nxt].text == "("):
            return None
        if low == "in":
            # IN (VALUES ...): DuckDB treats the VALUES list as a
            # subquery; Spark needs an explicit SELECT wrapper
            v = _next_code(tokens, nxt)
            if not (v < n and tokens[v].is_kw("VALUES")):
                return None
            out.append(tokens[i])
            out.append(Token("op", "("))
            out.extend(_toks("SELECT * FROM "))
            return v
        if low == "version":
            out.append(Token("string", f"'{engine_version_string()}'"))
            return _matching_paren(tokens, nxt) + 1
        if low == "@":  # DuckDB's absolute-value operator, call form @(x)
            out.append(Token("word", "abs"))
        elif low == "exclude":
            out.append(Token("word", "EXCEPT"))
        else:
            out.append(Token("word", _FN_RENAMES[low]))
        return i + 1

    return _lower_sites(tokens, _SIMPLE_SITES, lower)


# ---------------------------------------------------------------------------
# Window frame EXCLUDE (SQL:2011; DuckDB executes it natively via the
# reference's cursor.execute path, reference src/query_orchestrator.py:351).
# Spark has no frame-exclusion syntax, so the frame is materialized and
# the excluded rows are dropped by composition.
# ---------------------------------------------------------------------------

_EXCLUDE_FRAME_AGGS = {"SUM", "COUNT", "AVG", "MIN", "MAX"}


def _bound_includes_current(code: List[Token], lo_side: bool):
    """Static check: does this frame bound keep the current row inside
    the frame? ``code`` is the bound's code tokens (e.g. ``[5,
    PRECEDING]``); ``lo_side`` says which end of BETWEEN it is. Returns
    True/False, or None when the bound is not a literal we can analyze
    (expression offsets)."""
    if not code:
        return None
    if code[-1].is_kw("ROW") and len(code) >= 2 and code[-2].is_kw("CURRENT"):
        return True
    if code[-1].kind != "word":
        return None
    direction = code[-1].upper
    if direction not in ("PRECEDING", "FOLLOWING"):
        return None
    val = code[:-1]
    if len(val) == 1 and val[0].is_kw("UNBOUNDED"):
        # UNBOUNDED PRECEDING lo / UNBOUNDED FOLLOWING hi include the
        # current row (the opposite combinations are illegal SQL)
        return True
    if len(val) == 1 and val[0].kind == "word":
        try:
            num = float(val[0].text)
        except ValueError:
            return None
        if lo_side:
            return True if direction == "PRECEDING" else num == 0
        return True if direction == "FOLLOWING" else num == 0
    # INTERVAL literal bounds (RANGE over temporal keys): a non-negative
    # interval PRECEDING-lo / FOLLOWING-hi includes the current row; the
    # zero-interval edge of the other two shapes is not decided here
    if val and val[0].is_kw("INTERVAL"):
        negative = any(
            (t.kind == "op" and t.text == "-")
            or (t.kind == "string" and t.text[1:].lstrip().startswith("-"))
            for t in val
        )
        if negative:
            return None
        if lo_side and direction == "PRECEDING":
            return True
        if not lo_side and direction == "FOLLOWING":
            return True
    return None


def _frame_includes_current(frame_code: List[Token]):
    """True/False when the frame clause statically contains / omits the
    current row; None when undecidable. ``frame_code`` is the frame's
    code tokens starting at ROWS/RANGE/GROUPS ([] = default frame,
    which always contains the current row)."""
    if not frame_code:
        return True
    if frame_code[0].upper == "GROUPS":
        return None
    rest = frame_code[1:]
    if rest and rest[0].is_kw("BETWEEN"):
        and_idx = None
        for k, t in enumerate(rest):
            if t.is_kw("AND"):
                and_idx = k
                break
        if and_idx is None:
            return None
        lo = _bound_includes_current(rest[1:and_idx], True)
        hi = _bound_includes_current(rest[and_idx + 1:], False)
        if lo is None or hi is None:
            return None
        return lo and hi
    # single-bound form: BETWEEN <bound> AND CURRENT ROW
    return _bound_includes_current(rest, True)


def _trailing_call(out: List[Token]):
    """Locate a function call ``name ( ... )`` at the end of ``out``
    (skipping trailing ws/comments). Returns (name_idx, open_idx,
    close_idx) or None."""
    j = len(out) - 1
    while j >= 0 and out[j].kind in ("ws", "comment"):
        j -= 1
    if j < 0 or not (out[j].kind == "op" and out[j].text == ")"):
        return None
    depth = 0
    k = j
    while k >= 0:
        t = out[k]
        if t.kind == "op" and t.text == ")":
            depth += 1
        elif t.kind == "op" and t.text == "(":
            depth -= 1
            if depth == 0:
                break
        k -= 1
    if k < 0:
        return None
    m = k - 1
    while m >= 0 and out[m].kind in ("ws", "comment"):
        m -= 1
    if m < 0 or out[m].kind != "word":
        return None
    return (m, k, j)


def _try_exclude_rewrite(out: List[Token], tokens: List[Token],
                         open_idx: int, close_idx: int):
    """Attempt the EXCLUDE composition for one ``<call> OVER ( body )``
    whose body carries a top-level EXCLUDE clause. On success the call
    tokens are popped off ``out`` (for modes that need the rewrite) and
    the replacement token run is returned; on any unsupported shape
    returns None and the statement passes through to fail loudly at
    Spark parse."""
    body = tokens[open_idx + 1: close_idx]
    # locate top-level clause positions inside the OVER body
    depth = 0
    excl_idx = order_idx = frame_idx = None
    for k, t in enumerate(body):
        if t.kind == "op" and t.text == "(":
            depth += 1
        elif t.kind == "op" and t.text == ")":
            depth -= 1
        elif depth == 0 and t.kind == "word":
            u = t.upper
            if u == "EXCLUDE" and excl_idx is None:
                excl_idx = k
            elif u == "ORDER" and order_idx is None and excl_idx is None:
                order_idx = k
            elif u in ("ROWS", "RANGE", "GROUPS") and frame_idx is None \
                    and excl_idx is None:
                frame_idx = k
    if excl_idx is None:
        return None
    # parse the EXCLUDE mode (must be the final clause)
    mode_code = [t for t in body[excl_idx + 1:] if t.kind not in ("ws", "comment")]
    mode_words = tuple(t.upper for t in mode_code)
    if mode_words == ("CURRENT", "ROW"):
        mode = "CURRENT ROW"
    elif mode_words == ("GROUP",):
        mode = "GROUP"
    elif mode_words == ("TIES",):
        mode = "TIES"
    elif mode_words == ("NO", "OTHERS"):
        mode = "NO OTHERS"
    else:
        return None
    w_text = "".join(t.text for t in body[:excl_idx]).strip()
    over_repl = tokenize("OVER (" + w_text + ")")
    if mode == "NO OTHERS":
        return over_repl
    frame_code = []
    if frame_idx is not None:
        frame_code = [
            t for t in body[frame_idx:excl_idx] if t.kind not in ("ws", "comment")
        ]
    cif = _frame_includes_current(frame_code)
    if cif is None:
        return None
    if mode == "CURRENT ROW" and not cif:
        # frame does not contain the current row: removing it is a no-op.
        # (DuckDB 1.0.0 exhibits a frame-expansion artifact for RANGE
        # frames in this shape; not replicated — COVERAGE.md.)
        return over_repl
    # order-by key expressions (for peer comparison)
    key_exprs: List[str] = []
    if order_idx is not None:
        stop = frame_idx if frame_idx is not None else excl_idx
        section = body[order_idx:stop]
        by_i = _next_code(section, 0)
        if by_i >= len(section) or not section[by_i].is_kw("BY"):
            return None
        items: List[List[Token]] = [[]]
        d = 0
        for t in section[by_i + 1:]:
            if t.kind == "op" and t.text == "(":
                d += 1
            elif t.kind == "op" and t.text == ")":
                d -= 1
            if d == 0 and t.kind == "op" and t.text == ",":
                items.append([])
            else:
                items[-1].append(t)
        for item in items:
            code = [t for t in item if t.kind not in ("ws", "comment")]
            while code and (
                code[-1].is_kw("ASC", "DESC", "FIRST", "LAST", "NULLS")
            ):
                code.pop()
            if not code:
                return None
            key_exprs.append("".join(t.text for t in code))
    # the aggregate call preceding OVER (already emitted into ``out``)
    call = _trailing_call(out)
    if call is None:
        return None
    name_idx, args_open, args_close = call
    agg = out[name_idx].upper
    if agg not in _EXCLUDE_FRAME_AGGS:
        return None
    before = name_idx - 1
    while before >= 0 and out[before].kind in ("ws", "comment"):
        before -= 1
    if before >= 0 and out[before].kind == "op" and out[before].text == ".":
        return None
    arg_toks = out[args_open + 1: args_close]
    arg_code = [t for t in arg_toks if t.kind not in ("ws", "comment")]
    if not arg_code:
        return None
    if arg_code[0].is_kw("DISTINCT"):
        return None
    d = 0
    for t in arg_toks:
        if t.kind == "op" and t.text == "(":
            d += 1
        elif t.kind == "op" and t.text == ")":
            d -= 1
        elif d == 0 and t.kind == "op" and t.text == ",":
            return None  # multi-argument aggregate
    count_star = (
        agg == "COUNT" and len(arg_code) == 1
        and arg_code[0].kind == "op" and arg_code[0].text == "*"
    )
    x = "1" if count_star else "".join(t.text for t in arg_toks).strip()
    if not key_exprs:
        key_exprs = ["1"]
    # Arithmetic fast path (r10c): on a PEER-CLOSED frame — any RANGE
    # frame (peers sit at distance 0, so they are in the frame iff the
    # current row is), including the ORDER-BY default — the
    # distributive aggregates decompose into native windows:
    #   EXCLUDE CURRENT ROW: agg(frame) minus the current row's value
    #   EXCLUDE GROUP:       agg(frame) minus the peer-partition agg
    #   EXCLUDE TIES:        GROUP, plus the current row added back
    # (SUM(x) OVER w) - (SUM(x) OVER (PARTITION BY keys, order-keys))
    # are O(n) native window passes, where the fold materializes an
    # O(frame) prefix array per row — 23 s -> sub-second on q60's
    # running EXCLUDE TIES at sf0.1. MIN/MAX are not subtractable and
    # keep the fold; ROWS frames can cut a peer group and keep it too.
    range_frame = frame_idx is None or (
        frame_code and frame_code[0].upper == "RANGE"
    )
    # DOUBLE last-ulp caveat (ADVICE r10 low, MEASURED r11): the
    # subtraction decomposition is provably exact for COUNT and
    # integer/DECIMAL sums; for DOUBLE operands it can drift a ulp
    # from direct frame aggregation. Routing doubles to the frame
    # fold buys NOTHING: on 4k adversarial random doubles the fold
    # diverged from DuckDB on 3311/4000 rows and the fast path on
    # 3311/4000 (DuckDB sums through a segment TREE whose combination
    # order neither lowering can reproduce) — so both stay on the
    # O(n) fast path and the corner is documented in COVERAGE.md.
    if agg in ("SUM", "COUNT", "AVG") and range_frame:
        if mode == "GROUP" and not cif:
            # peers are all at distance 0, outside the frame with the
            # current row: removing them is a no-op
            return over_repl
        ppart = ""
        if order_idx is not None:
            ppart = "".join(t.text for t in body[:order_idx]).strip()
        elif excl_idx is not None:
            ppart = "".join(t.text for t in body[:excl_idx]).strip()
        keys_sql = ", ".join(f"({e})" for e in key_exprs)
        pw = (
            f"{ppart}, {keys_sql}"
            if ppart.upper().startswith("PARTITION")
            else f"PARTITION BY {keys_sql}"
        )
        sx = f"SUM({x}) OVER ({w_text})"
        cx = f"COUNT({x}) OVER ({w_text})"
        sp = f"coalesce(SUM({x}) OVER ({pw}), 0)"
        cp = f"COUNT({x}) OVER ({pw})"
        xin = (
            "1" if count_star
            else f"(CASE WHEN ({x}) IS NULL THEN 0 ELSE 1 END)"
        )
        xval = f"coalesce(({x}), 0)"
        if mode == "CURRENT ROW":
            cnt_p = f"({cx} - {xin})"
            sum_p = f"({sx} - {xval})"
        elif mode == "GROUP":
            cnt_p = f"({cx} - {cp})"
            sum_p = f"({sx} - {sp})"
        elif cif:  # TIES, peers inside the frame
            cnt_p = f"({cx} - {cp} + {xin})"
            sum_p = f"({sx} - {sp} + {xval})"
        else:  # TIES, current row (and peers) outside the frame:
            # DuckDB re-adds the current row unconditionally
            cnt_p = f"({cx} + {xin})"
            sum_p = f"(coalesce({sx}, 0) + {xval})"
        if agg == "COUNT":
            expr = f"CAST({cnt_p} AS BIGINT)"
        elif agg == "SUM":
            expr = (
                f"(CASE WHEN {cnt_p} = 0 THEN NULL ELSE {sum_p} END)"
            )
        else:  # AVG
            expr = (
                f"(CASE WHEN {cnt_p} = 0 THEN NULL ELSE "
                f"CAST({sum_p} AS DOUBLE) / {cnt_p} END)"
            )
        del out[name_idx:]
        return tokenize(expr)
    k_struct = "named_struct(" + ", ".join(
        f"'k{idx}', ({e})" for idx, e in enumerate(key_exprs)
    ) + ")"
    peer = " AND ".join(
        f"(__xw_s.k.k{idx} <=> ({e}))" for idx, e in enumerate(key_exprs)
    )
    window_list = (
        f"collect_list(named_struct('k', {k_struct}, 'v', ({x})))"
        f" OVER ({w_text})"
    )
    # The per-agg expression below mentions the frame list many times
    # (CURRENT ROW's slice/concat shape ~40x after nesting) — bind the
    # WINDOW CALL once as the input of a transform-over-array wrapper
    # and reference it as __xw_f inside. The window expression sits in
    # the HOF's INPUT (evaluated in the projection), not in a lambda
    # body, so this analyzes fine; Spark's window planner already
    # deduplicated identical window expressions at RUNTIME, but the
    # textual copies made q60's 6-column translate 34 KB and cost ~4.5 s
    # of driver-side analysis.
    frame_list = "__xw_f"
    if mode == "GROUP":
        lx = f"filter({frame_list}, __xw_s -> NOT ({peer}))"
    elif mode == "TIES":
        # DuckDB semantics: frame minus all peers, plus the current row
        # added back UNCONDITIONALLY (even when outside the frame)
        lx = (
            f"array_append(filter({frame_list}, __xw_s -> NOT ({peer})),"
            f" named_struct('k', {k_struct}, 'v', ({x})))"
        )
    else:  # CURRENT ROW, current row statically inside the frame
        # aggregation is multiset-invariant: removing ANY one struct
        # with the current row's (key, value) equals removing self.
        # The removal is slice+concat around the first match index —
        # NOT a filter whose lambda embeds the index expression, which
        # would re-evaluate the O(frame) index per element (O(frame^2)
        # per row; measured 150 s vs sub-second on 250-row frames)
        li = (
            f"transform({frame_list}, (__xw_s, __xw_i) ->"
            f" named_struct('k', __xw_s.k, 'v', __xw_s.v, 'i', __xw_i))"
        )
        ridx = (
            f"array_min(transform(filter({li}, __xw_s -> ({peer})"
            f" AND (__xw_s.v <=> ({x}))), __xw_s -> __xw_s.i))"
        )
        lx = (
            f"(CASE WHEN ({ridx}) IS NULL THEN {frame_list} ELSE"
            f" concat(slice({frame_list}, 1, ({ridx})),"
            f" slice({frame_list}, ({ridx}) + 2,"
            f" size({frame_list}) - ({ridx}) - 1)) END)"
        )
    vals = f"transform({lx}, __xw_s -> __xw_s.v)"
    nn = f"filter({vals}, __xw_v -> __xw_v IS NOT NULL)"
    if count_star:
        expr = f"size({lx})"
    elif agg == "COUNT":
        expr = f"size({nn})"
    elif agg == "MIN":
        expr = f"array_min({vals})"
    elif agg == "MAX":
        expr = f"array_max({vals})"
    elif agg == "SUM":
        # typed zero: first element minus itself keeps the input type,
        # + BIGINT 0 widens integral inputs to BIGINT (matching Spark's
        # own sum); empty frame -> NULL like DuckDB
        expr = (
            f"(CASE WHEN size({nn}) = 0 THEN NULL ELSE aggregate({nn},"
            f" (element_at({nn}, 1) - element_at({nn}, 1)) + CAST(0 AS BIGINT),"
            f" (__xw_a, __xw_v) -> __xw_a + __xw_v) END)"
        )
    else:  # AVG
        expr = (
            f"(CASE WHEN size({nn}) = 0 THEN NULL ELSE aggregate({nn},"
            f" CAST(0 AS DOUBLE), (__xw_a, __xw_v) -> __xw_a +"
            f" CAST(__xw_v AS DOUBLE)) / size({nn}) END)"
        )
    expr = (
        f"element_at(transform(array({window_list}), __xw_f -> {expr}), 1)"
    )
    del out[name_idx:]
    return tokenize(expr)


def _rewrite_window_exclude(tokens: List[Token]) -> List[Token]:
    """SQL:2011 window frame exclusion, ``agg(x) OVER (... EXCLUDE
    CURRENT ROW|GROUP|TIES|NO OTHERS)``. Supported for
    SUM/COUNT/AVG/MIN/MAX (no DISTINCT, no FILTER clause, no GROUPS
    frames, literal frame bounds); anything else passes through
    unchanged and fails loudly at Spark parse. Implementation:
    materialize the frame as a list of (order-key, value) structs via
    ``collect_list`` over the identical window, drop excluded rows with
    ``filter`` (peers by null-safe key comparison; the current row by
    deleting one occurrence of its (key, value) pair — multiset-
    equivalent to deleting self), then fold the survivors. EXCLUDE TIES
    follows DuckDB: the current row is re-added unconditionally.
    Scale note: each output row materializes its frame, so cost is
    O(frame size) per row — bounded frames are cheap; UNBOUNDED frames
    carry the whole partition per row and should stay small."""

    def lower(tokens, i, out):
        p = _next_code(tokens, i)
        if p < len(tokens) and tokens[p].kind == "op" and tokens[p].text == "(":
            close = _matching_paren(tokens, p)
            repl = _try_exclude_rewrite(out, tokens, p, close)
            if repl is not None:
                out.extend(repl)
                return close + 1

    return _lower_sites(tokens, {"over"}, lower)


def _rewrite_date_part_list(tokens: List[Token]) -> List[Token]:
    """DuckDB list-form ``date_part(['y', 'mon'], x)`` returns a STRUCT
    keyed by the part names AS WRITTEN with BIGINT fields. Lowered to
    ``named_struct`` over scalar date_part calls (each then goes
    through the scalar part shims). Literal part lists only; a dynamic
    list expression passes through and fails loudly at Spark parse."""

    def lower(call: _CallSite, walk):
        args = _call_args(call.tokens, call.p_open, call.close)
        parts = _literal_array_elements(args[0]) if len(args) == 2 else None
        if not parts or not all(
            e.startswith("'") and e.endswith("'") and len(e) > 2 for e in parts
        ):
            return None
        x = "".join(t.text for t in args[1]).strip()
        return "named_struct({})".format(", ".join(
            f"{e}, CAST(date_part({e}, ({x})) AS BIGINT)" for e in parts
        ))

    return _lower_calls(tokens, ("date_part", "datepart"), lower)


# window functions Spark refuses to run without an ORDER BY (DuckDB
# runs them in scan order)
_ORDER_REQUIRED_WINDOW_FNS = {
    "row_number", "rank", "dense_rank", "percent_rank", "cume_dist",
    "ntile", "lag", "lead",
}


def _rewrite_unordered_ranking(tokens: List[Token]) -> List[Token]:
    """DuckDB allows ``row_number() OVER ()`` (and the other ranking /
    offset functions) without an ORDER BY — values follow scan order.
    Spark rejects the unordered form, so the scan-order key
    (``SCAN_ORDER_KEY``) is injected as its ORDER BY — the same
    physical-order contract as POSITIONAL JOIN, COVERAGE.md."""

    def lower(tokens, i, out):
        p = _next_code(tokens, i)
        if not (p < len(tokens) and tokens[p].kind == "op" and tokens[p].text == "("):
            return None
        # the preceding call's name
        call = _trailing_call(out)
        if call is None or out[call[0]].text.lower() not in _ORDER_REQUIRED_WINDOW_FNS:
            return None
        close = _matching_paren(tokens, p)
        body = tokens[p + 1: close]
        depth = 0
        for t in body:
            if t.kind == "op" and t.text == "(":
                depth += 1
            elif t.kind == "op" and t.text == ")":
                depth -= 1
            elif depth == 0 and t.is_kw("ORDER"):
                return None
        out.extend(tokens[i: p + 1])  # OVER, ws, (
        out.extend(body)
        sep = " " if body and body[-1].kind != "ws" else ""
        out.extend(_toks(f"{sep}ORDER BY {SCAN_ORDER_KEY}"))
        out.append(tokens[close])
        return close + 1

    return _lower_sites(tokens, {"over"}, lower)


def _rewrite_cte_materialized(tokens: List[Token]) -> List[Token]:
    """Strip DuckDB's ``AS [NOT] MATERIALIZED (`` CTE modifier — a
    planner hint with no Spark equivalent (Catalyst decides reuse)."""

    def lower(tokens, i, out):
        n = len(tokens)
        j = _next_code(tokens, i)
        k = _next_code(tokens, j) if j < n and tokens[j].is_kw("NOT") else j
        if k < n and tokens[k].is_kw("MATERIALIZED"):
            after = _next_code(tokens, k)
            if after < n and tokens[after].kind == "op" and tokens[after].text == "(":
                out.append(tokens[i])
                out.append(Token("ws", " "))
                return after

    return _lower_sites(tokens, {"as"}, lower)


# The translation pipeline, in order: ``(pass, trigger)``. A trigger is
# the lowercase words and operators of which a statement must hold one
# for the pass to change it; None runs the pass on every statement
# (token-kind maps and hint-driven passes).
_PASSES = (
    (_rewrite_from_first, None),
    (_from_first_scope, {"from"}),
    (_rewrite_table_name_literals, {w.lower() for w in _TABLE_NAME_CONTEXT}),
    (_rewrite_numeric_underscores, None),
    # e'...' decoding must precede the raw-string backslash doubling
    (_rewrite_escape_strings, {"e"}),
    (_rewrite_string_escapes, None),
    (_rewrite_quoted_identifiers, None),
    (_rewrite_trailing_commas, {","}),
    (_rewrite_at_time_zone, {"zone"}),
    (_rewrite_time_wrap, None),
    (_rewrite_time_casts, {"time"}),
    (_rewrite_time_literals, {"time"}),
    (_rewrite_brace_literals, {"{"}),
    (_rewrite_concat_null_skipping, {"concat"}),
    (_rewrite_substr_window, {"substr", "substring"}),
    (_rewrite_array_type_suffix, {"["}),
    (_rewrite_brackets, {"["}),
    (_rewrite_date_part_list, {"date_part", "datepart"}),
    (_rewrite_cte_materialized, {"materialized"}),
    (_rewrite_series_table_fns, {"generate_series", "range"}),
    (_rewrite_operator_fn_aliases, _OPERATOR_FN_ALIASES),
    (_rewrite_polymorphic_len, {"len", "length"}),
    (_rewrite_collations, {"collate"}),
    (_rewrite_similar_to, {"similar"}),
    (_rewrite_glob, {"glob"}),
    (_rewrite_asof_join, {"asof"}),
    (_rewrite_positional_join, {"positional"}),
    (_rewrite_using_sample, {"sample"}),
    (_rewrite_statement_unpivot, {"unpivot"}),
    (_rewrite_extract_dow, {"extract"}),
    (_rewrite_date_trunc, {"date_trunc"}),
    (_rewrite_date_diff, {"date_diff", "datediff", "date_sub"}),
    (_rewrite_regexp_replace_flags, {"regexp_replace"}),
    (_rewrite_strftime, {"strftime", "strptime", "try_strptime"}),
    (_rewrite_epoch, _EPOCH_FNS),
    (_rewrite_bare_types, {"varchar", "text", "json"}),
    (_rewrite_bit_count_width, {"bit_count"}),
    (_rewrite_integral_casts, _INTEGRAL_TYPES),
    (_rewrite_power_and_regex_ops, {"^", "**", "~"}),
    (_rewrite_any_all, {"any", "all"}),
    (_rewrite_filter_to_case, _FILTER_TO_CASE_FNS),
    (_rewrite_json_arrows, {"->", "->>"}),
    (_rewrite_division_double, {"/", "%", "//"}),
    (_rewrite_round_double, {"round"}),
    (_rewrite_window_exclude, {"exclude"}),
    (_rewrite_unordered_ranking, _ORDER_REQUIRED_WINDOW_FNS),
    (_rewrite_call_shims, _CALL_SHIM_WORDS),
    (_rewrite_varchar_casts, {"__duckvarchar"}),
    (_rewrite_pipe_concat_casts, {"||"}),
    (_rewrite_date_interval_add, {"interval"}),
    (_rewrite_filter_shorthand, {"filter"}),
    (_rewrite_simple, _SIMPLE_SITES),
    (_innermost_first(_rewrite_distinct_on), {"distinct"}),
    (_innermost_first(_rewrite_qualify), {"qualify"}),
    (_rewrite_order_null_ordering, {"order"}),
    (_innermost_first(_rewrite_aggfn_groupby, spec=_MAD_SPEC), {"mad"}),
    (_innermost_first(_rewrite_aggfn_groupby, spec=_ENTROPY_SPEC), {"entropy"}),
    (_innermost_first(_rewrite_mad_window), {"mad"}),
    (_rewrite_mad_window_inplace, {"mad", "make_dt_interval"}),
    (_rewrite_mad_fallback_template, {"mad"}),
    (_rewrite_product_entropy, {"product", "entropy", "histogram"}),
    (_rewrite_ent_window_streaming, {"entropy"}),
    (_innermost_first(_rewrite_entropy_window_running), {"entropy"}),
    (_rewrite_agg_window_frames, _AGGW_FOLD_FNS),
    (_rewrite_fuse_percentile_cont, {"percentile_cont", "percentile_disc"}),
    (_restore_brace_map, {"__brace_map"}),
)
