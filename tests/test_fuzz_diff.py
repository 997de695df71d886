"""CI hook for the adversarial dialect fuzzer (tools/fuzz_diff.py).

Deterministic seed; 150 expressions keeps it under a minute on top of
the session fixture. round()-on-DOUBLE boundaries and numeric->integral
casts now reproduce DuckDB exactly (typeof-dispatched shims,
COVERAGE.md), so any mismatch on any seed is a translator bug — a
16-seed sweep (11..26) was certified clean for round 6, and a further
16-seed sweep (101..116) after the grammar grew the round-6 surface
(grapheme functions, json_contains/json_structure, list_resize,
parse_path, strftime %V/%G, VARCHAR-subscript array_extract) — that
sweep caught and fixed a real gap: Spark's array element_at takes
only INT indexes, so BIGINT index expressions now get a cast (3-arg
list_resize stays literal-only in the grammar: DuckDB 1.0.0 aborts on
it over column data). The one
engine-level noise source left is windowed-SUM accumulation order
(~1e-14 relative, measured), which the generator avoids amplifying by
not rounding window aggregates.
"""

from __future__ import annotations

import os
import subprocess
import sys


_TOOL = os.path.join(
    os.path.dirname(os.path.dirname(os.path.abspath(__file__))), "tools", "fuzz_diff.py"
)


def test_fuzz_diff_default_seed():
    proc = subprocess.run(
        [sys.executable, _TOOL, "--n", "150"],
        capture_output=True,
        text=True,
        timeout=1200,
    )
    tail = "\n".join(proc.stdout.splitlines()[-15:])
    assert proc.returncode == 0, f"fuzz_diff found mismatches:\n{tail}"
