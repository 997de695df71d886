"""Function-catalog parity sweep: walk DuckDB's own function catalog
(``duckdb_functions()``), synthesize one call per function from its
declared parameter types with canned arguments, evaluate it on DuckDB,
and replay the translated form on Spark.

Classification per function:
  OK         — both engines run it and the values agree (float-tolerant)
  VALUE_DIFF — both run, values differ (translator or semantics gap)
  SPARK_ERR  — DuckDB runs it, the translated form fails on Spark (gap)
  SKIP       — DuckDB itself can't run the canned call, or the function
               is nondeterministic/environmental (excluded list)

This is a COVERAGE RADAR, not a correctness gate: canned arguments
exercise one happy path per function. Gaps it reports feed the dialect
worklist; the oracle-diff and fuzz gates remain the correctness story.

Usage: python tools/fn_parity_sweep.py [--only name1,name2]
"""

from __future__ import annotations

import math
import os
import sys

import duckdb

# values per DuckDB type; chosen to be deterministic and within every
# function's domain where possible
CANNED = {
    "VARCHAR": "'abc'",
    "BOOLEAN": "TRUE",
    "TINYINT": "3",
    "SMALLINT": "3",
    "INTEGER": "7",
    "BIGINT": "7",
    "HUGEINT": "7",
    "UTINYINT": "3",
    "USMALLINT": "3",
    "UINTEGER": "7",
    "UBIGINT": "7",
    "UHUGEINT": "7",
    "FLOAT": "1.5",
    "DOUBLE": "1.5",
    "DECIMAL": "1.5",
    "DATE": "DATE '2024-03-05'",
    "TIMESTAMP": "TIMESTAMP '2024-03-05 10:30:00'",
    "TIMESTAMP WITH TIME ZONE": "TIMESTAMP '2024-03-05 10:30:00'",
    "TIME": "TIME '10:30:00'",
    "INTERVAL": "INTERVAL 3 DAY",
    "BLOB": "encode('abc')",
    "BIT": "bitstring('0101', 8)",
    "UUID": "'a0eebc99-9c0b-4ef8-bb6d-6bb9bd380a11'",
    "JSON": "'{\"a\": 1, \"b\": [1, 2]}'",
    "VARCHAR[]": "['a', 'b', 'c']",
    "BIGINT[]": "[1, 2, 3]",
    "INTEGER[]": "[1, 2, 3]",
    "DOUBLE[]": "[1.5, 2.5]",
    "ANY": "7",
    "ANY[]": "[1, 2, 3]",
    "T": "7",
    "T[]": "[1, 2, 3]",
    "V": "7",
    "K": "'k'",
}

# nondeterministic / environment / side-effectful / typed beyond the
# engine's surface: not meaningful to diff
EXCLUDE = {
    "random", "uuid", "uuidv4", "uuidv7", "gen_random_uuid",
    "now", "today", "get_current_time", "get_current_timestamp",
    "current_date", "current_localtime", "current_localtimestamp",
    "transaction_timestamp", "current_catalog", "current_database",
    "current_query", "current_schema", "current_schemas", "current_user",
    "current_role", "session_user", "user", "version", "pg_typeof",
    "txid_current", "uuid_extract_timestamp", "uuid_extract_version",
    "checkpoint", "force_checkpoint", "database_size", "read_text",
    "read_blob", "glob", "getenv", "ignore_nulls", "respect_nulls",
    "create_sort_key", "icu_sort_key", "icu_collate_stub",
    "current_setting",  # engine-specific values by design (COVERAGE.md)
    # 1-arg age() is wall-clock-relative (DuckDB: transaction time);
    # the deterministic 2-arg form is diffed in tests/test_text_udfs.py
    "age",
    "setseed",  # side-effectful RNG seeding
    # approximate by contract: DuckDB's t-digest and Spark's sketch
    # produce different (both valid) estimates even on tiny inputs
    "approx_quantile", "reservoir_quantile",
    "typeof",  # engine type NAMES differ by design
    "can_cast_implicitly", "enum_code", "enum_first", "enum_last",
    "enum_range", "enum_range_boundary", "is_histogram_other_bin",
    "alias", "hash", "stats", "vector_type", "constant_or_null",
    "count_if", "error", "get_block_size", "in_search_path",
    "map_to_pg_oid", "nextval", "currval", "combine", "finalize",
    "parquet_kv_metadata", "parquet_schema", "parquet_metadata",
    "parquet_file_metadata", "parquet_bloom_probe", "variant_typeof",
    # hash/checksum families whose values are engine-internal
    "md5_number", "sha1", "sha256", "sha384", "sha512",
}


# functions whose list result has no guaranteed order in DuckDB (its
# hash-set iteration order differs from Spark's first-seen order)
ORDER_INSENSITIVE = {"array_distinct", "list_distinct", "map_keys", "map_values"}

# functions whose canned per-type arguments land outside the domain
# (acos needs [-1,1], quantile fractions need [0,1], bit setters need
# 0/1, map functions need MAP literals, ...): explicit calls instead
ARG_OVERRIDES = {
    "acos": "acos(0.5)",
    "asin": "asin(0.5)",
    "quantile": "quantile(1.5, 0.5)",
    "quantile_cont": "quantile_cont(1.5, 0.5)",
    "quantile_disc": "quantile_disc(1.5, 0.5)",
    "approx_quantile": "approx_quantile(1.5, 0.5)",
    "reservoir_quantile": "reservoir_quantile(1.5, 0.5)",
    "list_slice": "list_slice([1, 2, 3, 4], 2, 3)",
    "array_slice": "array_slice([1, 2, 3, 4], 2, 3)",
    "list_where": "list_where([1, 2, 3], [TRUE, FALSE, TRUE])",
    "array_where": "array_where([1, 2, 3], [TRUE, FALSE, TRUE])",
    "aggregate": "aggregate([1, 2, 3], 'sum')",
    "array_aggregate": "array_aggregate([1, 2, 3], 'sum')",
    "array_aggr": "array_aggr([1, 2, 3], 'sum')",
    "list_aggregate": "list_aggregate([1, 2, 3], 'sum')",
    "list_aggr": "list_aggr([1, 2, 3], 'sum')",
    "array_value": "array_value(1, 2)",
    "map_keys": "map_keys(MAP {'k': 7, 'j': 9})",
    "map_values": "map_values(MAP {'k': 7, 'j': 9})",
    "map_entries": "map_entries(MAP {'k': 7})",
    "map_concat": "map_concat(MAP {'a': 1}, MAP {'b': 2})",
    "map_extract": "map_extract(MAP {'k': 7}, 'k')",
    "map_from_entries": "map_from_entries([{'k': 'a', 'v': 1}])",
    "set_bit": "set_bit(bitstring('0101', 8), 1, 1)",
    "not_like_escape": "not_like_escape('abc', 'a%', '|')",
    "not_ilike_escape": "not_ilike_escape('abc', 'A%', '|')",
    "position": "position('b' IN 'abc')",
    "to_json": "to_json([1, 2])",
    "struct_pack": "struct_pack(a := 1, b := 'x')",
    "struct_insert": "struct_insert({'a': 1}, b := 2)",
}

_YM_INTERVAL_RE = None  # lazy; see _parse_ym_interval


def _parse_ym_interval(s: str):
    """Spark ``CAST(ym-interval AS STRING)`` -> timedelta on DuckDB's
    30-day-month rendering convention (duckdb-python converts INTERVAL
    to timedelta the same way), so engine-correct year-month intervals
    compare even though PySpark cannot collect the native type."""
    global _YM_INTERVAL_RE
    import re as _re

    if _YM_INTERVAL_RE is None:
        _YM_INTERVAL_RE = _re.compile(
            r"^INTERVAL '(-?)(\d+)-(\d+)' YEAR TO MONTH$"
        )
    import datetime

    m = _YM_INTERVAL_RE.match(s.strip())
    if m:
        months = int(m.group(2)) * 12 + int(m.group(3))
        if m.group(1) == "-":
            months = -months
        return datetime.timedelta(days=30 * months)
    # r13: the engine's interval->VARCHAR cast now renders DuckDB's own
    # "N year(s) M month(s)" writer — parse that form too
    m2 = _re.fullmatch(
        r"(?:(-?\d+) years?)?\s*(?:(-?\d+) months?)?", s.strip()
    )
    if m2 and (m2.group(1) or m2.group(2)):
        months = int(m2.group(1) or 0) * 12 + int(m2.group(2) or 0)
        return datetime.timedelta(days=30 * months)
    return None


def norm(v):
    """Collapse representation differences that carry no semantic
    content: tz-aware vs naive datetimes (session tz is UTC on both
    engines), duckdb's {'key': [...], 'value': [...]} MAP rendering vs
    Spark dicts, TIME vs this engine's epoch-day timestamps, Decimal vs
    float, nested containers recursively."""
    import datetime
    import decimal

    if isinstance(v, datetime.datetime):
        if v.tzinfo is not None:
            v = v.astimezone(datetime.timezone.utc).replace(tzinfo=None)
        return v
    if isinstance(v, datetime.time):
        return datetime.datetime(
            1970, 1, 1, v.hour, v.minute, v.second, v.microsecond
        )
    if isinstance(v, decimal.Decimal):
        return float(v)
    if hasattr(v, "asDict"):  # pyspark Row (e.g. inside map_entries)
        return norm(v.asDict())
    if isinstance(v, dict):

        def key(k):
            # duckdb renders DECIMAL map keys as strings; canonicalize
            # numeric-looking keys so '1.5' and Decimal('1.5') compare
            nk = norm(k)
            if isinstance(nk, str):
                try:
                    return repr(float(nk))
                except ValueError:
                    return repr(nk)
            if isinstance(nk, (int, float)):
                return repr(float(nk))
            return repr(nk)

        if (
            set(v.keys()) == {"key", "value"}
            and isinstance(v.get("key"), list)
            and isinstance(v.get("value"), list)
        ):
            return {key(k): norm(x) for k, x in zip(v["key"], v["value"])}
        return {key(k): norm(x) for k, x in v.items()}
    if isinstance(v, (list, tuple)):
        return [norm(x) for x in v]
    return v


def canned_call(name: str, ptypes: list) -> str | None:
    args = []
    for t in ptypes or []:
        t = (t or "ANY").upper()
        if t.startswith("DECIMAL"):
            t = "DECIMAL"
        if t.endswith("[]") and t not in CANNED:
            t = "ANY[]"
        if t not in CANNED:
            return None
        args.append(CANNED[t])
    return f"{name}({', '.join(args)})"


def main() -> int:
    only = None
    if "--only" in sys.argv:
        only = set(sys.argv[sys.argv.index("--only") + 1].split(","))

    sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))
    from component_duckdb_transformation_spark.functions.dialect import translate
    from component_duckdb_transformation_spark.session import build_spark_session

    spark = build_spark_session(
        app_name="fn-parity", threads=4, shuffle_partitions=4
    )
    con = duckdb.connect()
    fns = con.execute(
        """
        SELECT function_name, parameter_types, function_type
        FROM duckdb_functions()
        WHERE function_type IN ('scalar', 'aggregate')
        ORDER BY function_name, len(parameter_types)
        """
    ).fetchall()

    # group overloads per function: several signatures may be canned-
    # callable but only some run on DuckDB — try them in arity order
    by_name: dict = {}
    for name, ptypes, ftype in fns:
        if name in EXCLUDE or name.startswith(
            ("pg_", "icu_", "st_", "json_serialize", "array_to_json",
             "row_to_json", "from_json", "json_execute")
        ):
            continue
        if only and name not in only:
            continue
        by_name.setdefault((name, ftype), []).append(list(ptypes or []))

    results = {"OK": [], "VALUE_DIFF": [], "SPARK_ERR": [], "SKIP": []}
    for (name, ftype), overloads in by_name.items():
        sql = want = None
        callable_any = False
        candidates = [
            canned_call(name, ptypes) for ptypes in overloads
        ]
        if name in ARG_OVERRIDES:
            candidates.insert(0, ARG_OVERRIDES[name])
        for call in candidates:
            if call is None:
                continue
            callable_any = True
            cand = (
                f"SELECT {call} AS v"
                if ftype == "scalar"
                else f"SELECT {call} AS v FROM (VALUES (1), (2)) t(i)"
            )
            try:
                want = con.execute(cand).fetchone()[0]
                # nondeterminism check: a second evaluation that differs
                # (wall-clock-derived results like 1-arg age) is not
                # meaningfully diffable — try the next overload
                if con.execute(cand).fetchone()[0] != want:
                    continue
                sql = cand
                break
            except Exception:
                continue
        if sql is None:
            if callable_any:
                results["SKIP"].append(name)
            continue
        try:
            got = spark.sql(translate(sql)).collect()[0][0]
        except Exception as exc:  # noqa: BLE001
            if "fromInternal" in str(exc):
                # engine-correct year-month interval; PySpark can't
                # collect the type — compare its string form instead
                try:
                    cast_sql = sql.replace(
                        f"{call} AS v", f"CAST({call} AS VARCHAR) AS v", 1
                    )
                    s = spark.sql(translate(cast_sql)).collect()[0][0]
                    parsed = _parse_ym_interval(s) if s is not None else None
                    if parsed is not None or s is None:
                        got = parsed
                    else:
                        results["SPARK_ERR"].append((name, call, str(exc)[:120]))
                        continue
                except Exception as exc2:  # noqa: BLE001
                    results["SPARK_ERR"].append((name, call, str(exc2)[:120]))
                    continue
            else:
                results["SPARK_ERR"].append((name, call, str(exc)[:120]))
                continue
        nw, ng = norm(want), norm(got)
        if name in ORDER_INSENSITIVE and isinstance(nw, list):
            nw = sorted(nw, key=repr)
            ng = sorted(ng, key=repr) if isinstance(ng, list) else ng
        same = str(ng) == str(nw)
        if not same:
            try:
                same = (
                    want is not None
                    and got is not None
                    and math.isclose(
                        float(want), float(got), rel_tol=1e-9, abs_tol=1e-12
                    )
                )
            except (TypeError, ValueError):
                same = False
        (results["OK"] if same else results["VALUE_DIFF"]).append(
            (name, call, repr(want)[:60], repr(got)[:60])
        )

    print(f"OK: {len(results['OK'])}  VALUE_DIFF: {len(results['VALUE_DIFF'])}"
          f"  SPARK_ERR: {len(results['SPARK_ERR'])}  SKIP(duck-err): "
          f"{len(results['SKIP'])}")
    for name, call, want, got in results["VALUE_DIFF"]:
        print(f"DIFF {name}: {call} duck={want} spark={got}")
    for name, call, err in results["SPARK_ERR"]:
        print(f"ERR  {name}: {call} :: {err}")
    return 0


if __name__ == "__main__":
    raise SystemExit(main())
