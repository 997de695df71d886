"""SQL validation: parse check + heuristic lints
(reference ``src/validators/sql_validator.py:19-145``).

The reference parses with sqlglot and runs 8 heuristic checks. Here the
parse check uses the engine's own tokenizer/classifier plus — when a
SparkSession is supplied — Spark's real parser on the *translated* text
the executor hands to ``spark.sql`` (``executor.spark_query_text``; our
extra stage: validates what will actually execute). Statements the
executor parses itself get the tokenizer-level check only. The dialect
advice lints are re-targeted at Spark where semantics differ.
"""

from __future__ import annotations

import logging
import re as _re
from typing import Optional, Sequence

from pyspark.sql import SparkSession

from ..actions.results import MessageType, ValidationResult
from ..configuration import Block
from ..functions.dialect import (
    STAR_REPLACE_PATTERN,
    _call_args,
    _pattern_composable,
    fmtlib_format_ok,
    replace_first_composition,
    translate,
)
from ..plans.executor import spark_query_text
from ..plans.orchestrator import iterate_blocks, query_name
from ..plans.sql_parser import parse_script
from ..plans.sql_tokens import closing, next_code, tokenize

LOG = logging.getLogger(__name__)

# query shapes the executor expands on the live session before Spark
# sees them (PIVOT value discovery, UNION BY NAME column matching,
# ``* [EXCLUDE (...)] REPLACE (...)`` star expansion): the raw text is
# not Spark-parseable by design
_SESSION_EXPANDED = _re.compile(
    r"\bPIVOT\s+[^\s(]|\bUNION\s+(ALL\s+|DISTINCT\s+)?BY\s+NAME\b"
    rf"|{STAR_REPLACE_PATTERN}",
    _re.IGNORECASE,
)


def _three_arg_regexp_replace(sql: str) -> bool:
    """True if any regexp_replace call has exactly 3 arguments that the
    dialect layer can NOT rewrite to replace-first semantics — DuckDB's
    flagless form replaces only the FIRST match; the translator composes
    an equivalent anchored replace-all for literal patterns without
    anchors/backrefs (``dialect.replace_first_composition``), so only the
    remaining calls execute as replace-ALL (documented divergence,
    COVERAGE.md)."""
    tokens = tokenize(sql)
    n = len(tokens)
    for i, tok in enumerate(tokens):
        if tok.kind == "word" and tok.text.lower() == "regexp_replace":
            p_open = next_code(tokens, i)
            if p_open < n and tokens[p_open].text == "(":
                close = closing(tokens, p_open)
                args = _call_args(tokens, p_open, close)
                if len(args) != 3:
                    continue
                pat_code = [t for t in args[1] if t.kind not in ("ws", "comment")]
                rep_code = [t for t in args[2] if t.kind not in ("ws", "comment")]
                # validator sees RAW DuckDB text: only '' quote escaping
                # applies, backslashes are literal
                pat = (
                    pat_code[0].text[1:-1].replace("''", "'")
                    if len(pat_code) == 1 and pat_code[0].kind == "string"
                    else None
                )
                rep = (
                    rep_code[0].text[1:-1].replace("''", "'")
                    if len(rep_code) == 1 and rep_code[0].kind == "string"
                    else None
                )
                if pat is not None and rep is not None:
                    if replace_first_composition(pat, rep) is not None:
                        continue  # translator handles it faithfully
                    return True
                # dynamic pattern/replacement: translator composes a
                # runtime-guarded replace-first (anchor/backref pattern
                # VALUES fall back to replace-all at runtime; rewrite
                # VALUES get RE2 rewrite translation; RE2-invalid and
                # out-of-range-ref values no-op like DuckDB — the group
                # count is lexed from the pattern value at runtime)
                # unless a literal part is statically uncomposable.
                if pat is not None and not _pattern_composable(pat):
                    return True
                continue
    return False


def check_common_sql_errors(sql: str) -> list[str]:
    """Heuristic lints (reference src/validators/sql_validator.py:104-145),
    with the engine-specific advice adjusted for Spark SQL."""
    errors: list[str] = []
    sql_upper = sql.upper()
    if "CREATE OR RE PLACE" in sql_upper:
        errors.append("Syntax error: 'RE PLACE' should be 'REPLACE'")
    if "CREATE OR REPLACE VIEW" in sql_upper and "AS" not in sql_upper:
        errors.append("Syntax error: CREATE VIEW missing 'AS' keyword")
    if "SELECT" in sql_upper and "FROM" not in sql_upper:
        errors.append("Syntax error: SELECT statement missing 'FROM' clause")
    where_ops = ["=", ">", "<", "!=", "LIKE", "IN", "BETWEEN", "IS"]
    if "WHERE" in sql_upper and not any(op in sql_upper for op in where_ops):
        errors.append("Syntax error: WHERE clause missing comparison operator")
    if sql.count("(") != sql.count(")"):
        errors.append("Syntax error: Unmatched parentheses")
    if "PERCENTILE(" in sql_upper and "WITHIN GROUP" in sql_upper:
        errors.append(
            "Engine Error: Use PERCENTILE_CONT() or PERCENTILE_DISC() "
            "instead of PERCENTILE()"
        )
    if (
        "PERCENTILE_CONT(" in sql_upper
        and "OVER (" in sql_upper
        and "WITHIN GROUP" not in sql_upper
    ):
        errors.append(
            "Engine Error: PERCENTILE_CONT() cannot be used as a window "
            "function, use WITHIN GROUP instead"
        )
    if "REGEXP_REPLACE" in sql_upper and _three_arg_regexp_replace(sql):
        errors.append(
            "Warning: regexp_replace(s, pattern, replacement) replaces only "
            "the FIRST match in DuckDB but ALL matches in this engine, and "
            "this pattern/replacement (anchors, backreferences, or a "
            "non-literal argument) cannot be auto-rewritten to "
            "replace-first; add the 'g' flag if replace-all is intended"
        )
    if (
        "CAST(" in sql_upper
        and "AS VARCHAR" in sql_upper
        and any(op in sql_upper for op in ["+", "-", "*", "/", ">", "<", "="])
        and "||" not in sql_upper
    ):
        errors.append(
            "Warning: Arithmetic operations on VARCHAR columns may cause "
            "cast errors"
        )
    unsupported = _untranslatable_functions(sql)
    if unsupported:
        errors.append(
            "Warning: no Spark equivalent for DuckDB function(s) "
            f"{', '.join(sorted(unsupported))} — the query will fail at "
            "execution; see COVERAGE.md non-goals"
        )
    return errors


# DuckDB functions with no Spark builtin and no dialect shim; calling
# them fails at execution, so surface it at validation time instead.
# (jaro_similarity/jaro_winkler_similarity/damerau_levenshtein/
# nfc_normalize are registered pandas UDFs, functions/text_udfs.py;
# bar/timezone/format_bytes/bitstring are dialect shims; histogram is
# an aggregate template — all verified against DuckDB in tests.)
# The round-6 catalog sweep (tools/fn_parity_sweep.py) shimmed or
# renamed everything else — the closing batch implemented the grapheme
# family, make_time, mad, bitstring_agg, list_resize/array_resize,
# parse_path, unpivot_list, json_contains/json_structure, list_where,
# and the name := value struct constructors (struct_pack everywhere;
# struct_insert on literal-shaped bases — see COVERAGE.md).
# icu_sort_key is byte-exact since round 8 via the ICU build bundled
# in the duckdb wheel (collation-library UDF, text_udfs.py) — the set
# is empty but kept as the wiring point for future gaps.
_UNSUPPORTED_FUNCTIONS: set[str] = set()

# shimmed only for specific argument shapes: lint the rest
_LIST_AGGR_SUPPORTED = {
    "sum", "avg", "mean", "min", "max", "count", "first", "last", "string_agg",
}


def _untranslatable_functions(sql: str) -> set[str]:
    tokens = tokenize(sql)
    n = len(tokens)
    found: set[str] = set()
    for i, tok in enumerate(tokens):
        low = tok.text.lower() if tok.kind == "word" else ""
        if not low:
            continue
        p_open = next_code(tokens, i)
        is_call = p_open < n and tokens[p_open].text == "("
        if not is_call:
            continue
        if low in _UNSUPPORTED_FUNCTIONS:
            found.add(low)
        elif low in ("list_aggregate", "list_aggr", "format"):
            close = closing(tokens, p_open)
            args = _call_args(tokens, p_open, close)
            lit_idx = 1 if low != "format" else 0
            lit = (
                [t for t in args[lit_idx] if t.kind not in ("ws", "comment")]
                if len(args) > lit_idx
                else []
            )
            if len(lit) != 1 or lit[0].kind != "string":
                found.add(low)
            elif low == "format":
                if not fmtlib_format_ok(lit[0].text[1:-1]):
                    found.add(low)  # {n}, fill/align and {:,} not shimmed
            elif lit[0].text[1:-1].lower() not in _LIST_AGGR_SUPPORTED:
                found.add(low)
    return found


class SQLValidator:
    """Validate the blocks' SQL scripts; optionally against Spark's parser."""

    def __init__(self, spark: Optional[SparkSession] = None):
        self.spark = spark

    def _parse_ok(self, script: str) -> Optional[str]:
        """Returns an error string or None."""
        try:
            statements = parse_script(script)
        except Exception as exc:  # tokenizer-level failure
            return f"Syntax error: {exc}"
        if not statements or all(not s.sql.strip() for s in statements):
            return "Empty or invalid SQL query"
        if self.spark is not None:
            for st in statements:
                try:
                    sql = spark_query_text(st)
                    if sql is None or _SESSION_EXPANDED.search(sql):
                        continue
                    # Spark's parser on the translated text — parse only,
                    # no analysis/execution (sessionState is JVM-only in
                    # the Spark 4 Python API, hence the py4j handle)
                    jspark = self.spark._jsparkSession  # noqa: SLF001
                    jspark.sessionState().sqlParser().parsePlan(translate(sql))
                except Exception as exc:
                    # py4j errors open with a blank line
                    line = next(
                        (ln for ln in str(exc).splitlines() if ln.strip()), ""
                    )
                    return f"Syntax error: {line.strip()[:300]}"
        return None

    def validate_queries(self, blocks: Sequence[Block]) -> ValidationResult:
        total = valid = 0
        errors: list[str] = []
        for block, code, script, script_index in iterate_blocks(blocks):
            qname = query_name(code, script_index)
            total += 1
            parse_err = self._parse_ok(script)
            if parse_err:
                errors.append(f"Block '{block.name}' > Query '{qname}': {parse_err}")
                continue
            lints = check_common_sql_errors(script)
            if lints:
                errors.extend(
                    f"Block '{block.name}' > Query '{qname}': {w}" for w in lints
                )
            else:
                valid += 1
        if total == 0:
            return ValidationResult(
                "No SQL queries found to validate.", MessageType.WARNING
            )
        if not errors:
            return ValidationResult(
                f"✅ All {total} SQL queries are syntactically valid.",
                MessageType.SUCCESS,
            )
        summary = (
            f"❌ Found {len(errors)} syntax errors in {total} queries "
            f"({valid} valid, {len(errors)} invalid):\n"
        )
        summary += "\n".join(f"• {e}" for e in errors[:10])
        if len(errors) > 10:
            summary += f"\n... and {len(errors) - 10} more errors"
        return ValidationResult(summary, MessageType.DANGER)
