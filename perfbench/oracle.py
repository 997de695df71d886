"""DuckDB oracle for the component benchmark.

``replay`` runs a generated config the way the reference component does:
inputs imported from ``in/tables`` by their manifests, then blocks in
order, scripts in order, each statement verbatim (except the few the
generator gave a DuckDB 1.0 spelling for). ``compare`` checks one
exported CSV against the oracle's table: same column names, and the
same multiset of rows with exact values after casting the CSV text to
the oracle's column type (the ``tools/diff_check.py`` normalization:
order-insensitive, names compared, values exact).
"""

from __future__ import annotations

import json
import os
import re

import duckdb

from gen import split_script

#: KBC base type -> DuckDB type for typed CSV inputs; the engine's
#: importer reads INTEGER as BIGINT and NUMERIC as DECIMAL(38,9) too
_KBC_TO_DUCKDB = {
    "INTEGER": "BIGINT",
    "NUMERIC": "DECIMAL(38,9)",
    "FLOAT": "DOUBLE",
    "BOOLEAN": "BOOLEAN",
    "TIMESTAMP": "TIMESTAMP",
    "DATE": "DATE",
    "STRING": "VARCHAR",
}

_RETURNING = re.compile(r"(?is)^\s*(UPDATE|DELETE|INSERT)\b.*\bRETURNING\b")


def _q(name: str) -> str:
    return '"' + name.replace('"', '""') + '"'


def _import_inputs(con, data_dir: str, mapping: list) -> None:
    in_dir = os.path.join(data_dir, "in", "tables")
    dest = {m["source"]: m for m in mapping}
    for entry in sorted(os.listdir(in_dir)):
        if entry.endswith(".manifest") or entry.startswith("."):
            continue
        path = os.path.join(in_dir, entry)
        with open(path + ".manifest", encoding="utf-8") as fh:
            manifest = json.load(fh)
        m = dest[manifest["id"]]
        if m["file_type"] == "parquet":
            src = f"read_parquet('{path}/*.parquet')"
        else:
            sliced = os.path.isdir(path)
            types = {
                c: _KBC_TO_DUCKDB[
                    next(
                        kv["value"] for kv in manifest["column_metadata"][c]
                        if kv["key"] == "KBC.datatype.basetype"
                    )
                ]
                for c in manifest["columns"]
            }
            cols = "{" + ", ".join(f"'{c}': '{t}'" for c, t in types.items()) + "}"
            glob = os.path.join(path, "*.csv") if sliced else path
            src = (
                f"read_csv('{glob}', header={'false' if sliced else 'true'}, "
                f"columns={cols}, delim=',', quote='\"', escape='\"')"
            )
        con.execute(f"CREATE TABLE {_q(m['destination'])} AS SELECT * FROM {src}")


def _run_statement(con, sql: str) -> None:
    if _RETURNING.match(sql):
        # the engine exposes RETURNING rows as a `returning` view; keep
        # them as a table of that name for the statement that reads it
        rows = con.execute(sql).arrow()
        con.register("returning_rows", rows)
        con.execute('CREATE OR REPLACE TEMP TABLE "returning" AS FROM returning_rows')
        con.unregister("returning_rows")
    else:
        con.execute(sql)


def replay(data_dir: str, overrides: dict, threads: int) -> duckdb.DuckDBPyConnection:
    """Run the data dir's config in an in-memory DuckDB; returns the
    connection holding every table the config created."""
    with open(os.path.join(data_dir, "config.json"), encoding="utf-8") as fh:
        config = json.load(fh)
    con = duckdb.connect(config={"threads": threads})
    _import_inputs(con, data_dir, config["storage"]["input"]["tables"])
    for block in config["parameters"]["blocks"]:
        for code in block["codes"]:
            for script in code["script"]:
                for stmt in split_script(script):
                    for sql in overrides.get(stmt, [stmt]):
                        _run_statement(con, sql)
    return con


def _pair(name: str, dtype: str) -> tuple[str, str]:
    """(CSV side, oracle side) expressions for one column, made
    comparable: CSV text cast to the oracle's type, enums as text,
    nested values as minified JSON. The export quotes every field, NULL
    included, so an empty string and NULL both read back as NULL."""
    col = _q(name)
    if dtype == "VARCHAR" or dtype.startswith("ENUM"):
        return col, f"NULLIF(CAST({col} AS VARCHAR), '')"
    if dtype.endswith("]") or dtype.startswith(("STRUCT", "MAP")):
        return f"CAST(json({col}) AS VARCHAR)", f"CAST(to_json({col}) AS VARCHAR)"
    return f"TRY_CAST({col} AS {dtype})", col


def compare(con, table: str, csv_path: str) -> tuple[bool, int, str]:
    """(matches, exported rows, detail) for one exported table."""
    if not os.path.exists(csv_path):
        return False, 0, "no exported file"
    cols = con.execute(f"DESCRIBE {_q(table)}").fetchall()
    names = [c[0] for c in cols]
    csv = (
        f"read_csv('{csv_path}', header=true, all_varchar=true, delim=',', "
        "quote='\"', escape='\"', auto_detect=false, "
        "columns={" + ", ".join(f"'{n}': 'VARCHAR'" for n in names) + "})"
    )
    with open(csv_path, encoding="utf-8", newline="") as fh:
        header = fh.readline().rstrip("\r\n")
    expected = ",".join(_q(n) for n in names)
    if header != expected:
        return False, 0, f"header {header[:200]!r} != {expected[:200]!r}"
    pairs = [_pair(n, t) for n, t, *_ in cols]
    s_cols = ", ".join(f"{sx} AS c{i}" for i, (sx, _) in enumerate(pairs))
    o_cols = ", ".join(f"{ox} AS c{i}" for i, (_, ox) in enumerate(pairs))
    s_rel = f"(SELECT {s_cols} FROM {csv})"
    o_rel = f"(SELECT {o_cols} FROM {_q(table)})"
    extra, missing, rows = con.execute(
        f"SELECT (SELECT count(*) FROM (FROM {s_rel} EXCEPT ALL FROM {o_rel})), "
        f"(SELECT count(*) FROM (FROM {o_rel} EXCEPT ALL FROM {s_rel})), "
        f"(SELECT count(*) FROM {s_rel})"
    ).fetchone()
    if extra or missing:
        return False, rows, f"{extra} rows not in oracle, {missing} oracle rows missing"
    return True, rows, ""
