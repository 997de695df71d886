"""Translation golden: sha256 of every corpus statement's translated text.

The corpus is the Spark-side text of every SQL-text workload in
``workloads.WORKLOADS`` plus every query in ``perfbench/q_surface.json``.
Each is translated with no type hints published, the per-call window ids
(``#w<n>``, ``#g<n>``) are normalised, and the text is hashed. A change
to the dialect layer that is meant to keep translation byte-stable must
leave every hash unchanged.

Usage:
    python tools/translate_golden.py           # check; names moved hashes
    python tools/translate_golden.py --write   # regenerate the hash file
"""

from __future__ import annotations

import hashlib
import json
import os
import re
import sys

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
GOLDEN = os.path.join(ROOT, "tools", "translate_golden.json")

_WINDOW_IDS = re.compile(r"#([wg])\d+")


def corpus() -> dict:
    """``key -> DuckDB-dialect text``, keys ``workload:<name>`` and
    ``q_surface:<name>``."""
    if ROOT not in sys.path:
        sys.path.insert(0, ROOT)
    from component_duckdb_transformation_spark.workloads import WORKLOADS

    out = {
        f"workload:{name}": wl.sql
        for name, wl in WORKLOADS.items()
        if wl.sql is not None
    }
    with open(os.path.join(ROOT, "perfbench", "q_surface.json"), encoding="utf-8") as fh:
        for name, sql in json.load(fh)["queries"].items():
            out[f"q_surface:{name}"] = sql
    return out


def digest(sql: str) -> str:
    from component_duckdb_transformation_spark.functions.dialect import translate

    text = _WINDOW_IDS.sub(r"#\1", translate(sql))
    return hashlib.sha256(text.encode("utf-8")).hexdigest()


def moved() -> list:
    """Keys whose hash differs from the committed file (or is missing
    from either side)."""
    with open(GOLDEN, encoding="utf-8") as fh:
        want = json.load(fh)
    got = {key: digest(sql) for key, sql in corpus().items()}
    return sorted(k for k in set(want) | set(got) if want.get(k) != got.get(k))


def main() -> int:
    if "--write" in sys.argv[1:]:
        got = {key: digest(sql) for key, sql in corpus().items()}
        with open(GOLDEN, "w", encoding="utf-8") as fh:
            json.dump(got, fh, indent=1, sort_keys=True)
            fh.write("\n")
        print(f"wrote {len(got)} hashes to {GOLDEN}")
        return 0
    bad = moved()
    for key in bad:
        print(f"MOVED {key}")
    print(f"{len(bad)} moved")
    return 1 if bad else 0


if __name__ == "__main__":
    sys.exit(main())
