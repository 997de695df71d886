"""Local mirror of the driver's correctness gate: run every workload on
Spark AND its DuckDB oracle over the same parquet dir; compare row count,
column names/dtypes, and order-insensitive values.

Usage: python tools/diff_check.py [sf_dir | --sf 0.01] [query ...]

Run at --sf 0.1 periodically: partial-aggregation numeric drift (e.g.
sample-moment corrections) only shows up with more rows per group than
the sf0.01 gate exercises.
"""

from __future__ import annotations

import os
import sys

import duckdb
import numpy as np
import pandas as pd


def normalize(df: pd.DataFrame) -> pd.DataFrame:
    df = df[sorted(df.columns)].copy()
    for c in df.columns:
        if df[c].dtype == object:
            df[c] = df[c].astype(str)
        if str(df[c].dtype).startswith("datetime64"):
            df[c] = df[c].astype("datetime64[us]")
    return df.sort_values(by=list(df.columns), ignore_index=True)


def compare(name: str, sdf: pd.DataFrame, odf: pd.DataFrame) -> list[str]:
    issues = []
    if len(sdf) != len(odf):
        issues.append(f"rowcount spark={len(sdf)} oracle={len(odf)}")
    if sorted(sdf.columns) != sorted(odf.columns):
        issues.append(f"columns spark={sorted(sdf.columns)} oracle={sorted(odf.columns)}")
        return issues
    s, o = normalize(sdf), normalize(odf)
    if len(s) != len(o):
        return issues
    for c in s.columns:
        sc, oc = s[c], o[c]
        if sc.dtype.kind == "f" or oc.dtype.kind == "f":
            # object columns (DECIMAL results) stringified NULLs to
            # 'None' in normalize — coerce, don't crash (r13)
            a = pd.to_numeric(sc, errors="coerce").to_numpy(dtype=float)
            b = pd.to_numeric(oc, errors="coerce").to_numpy(dtype=float)
            both_nan = np.isnan(a) & np.isnan(b)
            eq = np.isclose(a, b, rtol=0, atol=0, equal_nan=True)
            if not np.all(eq | both_nan):
                bad = int(np.sum(~(eq | both_nan)))
                idx = np.argwhere(~(eq | both_nan)).ravel()[:3]
                issues.append(
                    f"col {c}: {bad} float mismatches, e.g. {[(a[i], b[i]) for i in idx]}"
                )
        else:
            if not sc.astype(str).equals(oc.astype(str)):
                bad = (sc.astype(str) != oc.astype(str)).sum()
                ex = [
                    (sc.iloc[i], oc.iloc[i])
                    for i in np.argwhere((sc.astype(str) != oc.astype(str)).to_numpy()).ravel()[:3]
                ]
                issues.append(f"col {c}: {bad} mismatches, e.g. {ex}")
    # dtype report (informational)
    for c in s.columns:
        if str(s[c].dtype) != str(o[c].dtype):
            issues.append(f"DTYPE col {c}: spark={s[c].dtype} oracle={o[c].dtype}")
    return issues


def main() -> int:
    args = list(sys.argv[1:])
    sf_dir = "/root/testdata/sf0.001"
    # --sf 0.1 selects /root/testdata/sf<val>; a positional dir still works
    if "--sf" in args:
        k = args.index("--sf")
        sf_dir = f"/root/testdata/sf{args[k + 1]}"
        del args[k : k + 2]
    elif args and "/" in args[0]:
        sf_dir = args.pop(0)
    only = set(args)
    sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))
    from component_duckdb_transformation_spark.session import build_spark_session
    from component_duckdb_transformation_spark.workloads import TABLES, WORKLOADS

    spark = build_spark_session(app_name="diff-check", threads=8, shuffle_partitions=8)
    con = duckdb.connect()
    for t in TABLES:
        con.execute(f"CREATE VIEW {t} AS FROM read_parquet('{sf_dir}/{t}.parquet')")

    failures = 0
    for name, wl in WORKLOADS.items():
        if only and name not in only:
            continue
        try:
            sdf = wl.make(spark, sf_dir).toPandas()
        except Exception as exc:
            print(f"FAIL {name}: spark error: {str(exc)[:300]}")
            failures += 1
            continue
        if wl.oracle is None:
            print(f"ok   {name}: rows={len(sdf)} (no oracle; rows-only)")
            continue
        try:
            odf = con.execute(wl.oracle).fetchdf()
        except Exception as exc:
            print(f"FAIL {name}: oracle error: {str(exc)[:300]}")
            failures += 1
            continue
        issues = compare(name, sdf, odf)
        hard = [i for i in issues if not i.startswith("DTYPE")]
        if hard:
            failures += 1
            print(f"FAIL {name}: rows={len(sdf)}")
            for i in issues:
                print(f"     - {i}")
        else:
            note = "; ".join(i for i in issues if i.startswith("DTYPE"))
            print(f"ok   {name}: rows={len(sdf)}" + (f" [{note}]" if note else ""))
    print(f"\n{failures} failures")
    return 1 if failures else 0


if __name__ == "__main__":
    raise SystemExit(main())
