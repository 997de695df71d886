"""Time the DuckDB oracle suite — the judge's bench denominator.

Runs every registered workload's oracle SQL SEQUENTIALLY on one DuckDB
connection (threads=32, the judge protocol) over the same parquet dir
bench.py uses, materializing each result via fetchdf() (the oracle-side
equivalent of bench.py's noop sink: every column is evaluated). Prints
one JSON line {"value": total_sec, "queries": {...}, "n": ...} so the
bench gate (Spark suite wall / oracle total <= 2.0) can be recorded
from two artifacts produced on the same box.

Usage: python tools/oracle_bench.py [sf_dir] [query ...]
"""

from __future__ import annotations

import json
import os
import sys
import time

import duckdb


def main() -> int:
    args = list(sys.argv[1:])
    sf_dir = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    if args and "/" in args[0]:
        sf_dir = args.pop(0)
    only = set(args)
    sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))
    from component_duckdb_transformation_spark.workloads import TABLES, WORKLOADS

    con = duckdb.connect()
    # pinned at 32 so the recorded denominator matches the judged
    # protocol regardless of the box (override via DUCKDB_THREADS)
    n_threads = int(os.environ.get("DUCKDB_THREADS", "32"))
    con.execute(f"SET threads={n_threads}")
    for t in TABLES:
        con.execute(
            f"CREATE VIEW {t} AS FROM read_parquet('{sf_dir}/{t}.parquet')"
        )

    timings: dict[str, float] = {}
    skipped: list[str] = []
    failures: list[str] = []
    t_all = time.perf_counter()
    for name, wl in WORKLOADS.items():
        if only and name not in only:
            continue
        if wl.oracle is None:
            skipped.append(name)
            continue
        t0 = time.perf_counter()
        try:
            n_rows = len(con.execute(wl.oracle).fetchdf())
        except Exception as exc:  # noqa: BLE001
            failures.append(name)
            print(f"# {name}: FAILED {str(exc)[:200]}", file=sys.stderr)
            continue
        timings[name] = round(time.perf_counter() - t0, 4)
        print(f"# {name}: {timings[name]:.3f}s rows={n_rows}", file=sys.stderr)
    total = round(time.perf_counter() - t_all, 4)

    print(
        json.dumps(
            {
                "metric": "oracle_suite_sequential_wall_time",
                "queries": timings,
                "n": len(timings),
                "skipped_no_oracle": skipped,
                "failures": failures,
                "sf_dir": sf_dir,
                "threads": n_threads,
                "unit": "sec",
                "value": total,
            }
        )
    )
    return 1 if failures else 0


if __name__ == "__main__":
    raise SystemExit(main())
