"""CI hook for the differential mutation fuzzer (tools/fuzz_executor.py):
random CTAS/INSERT/UPDATE/DELETE sequences applied through the
copy-on-write TableStore AND DuckDB, final table contents compared.
Two sequences at sf0.001 keep it fast; longer sweeps run ad hoc."""

from __future__ import annotations

import os
import subprocess
import sys


_TOOL = os.path.join(
    os.path.dirname(os.path.dirname(os.path.abspath(__file__))), "tools", "fuzz_executor.py"
)


def test_fuzz_executor_default_seed():
    proc = subprocess.run(
        [
            sys.executable, _TOOL,
            "--n", "2", "--ops", "8", "--sf-dir", "/root/testdata/sf0.001",
        ],
        capture_output=True,
        text=True,
        timeout=1200,
    )
    tail = "\n".join(proc.stdout.splitlines()[-10:])
    assert proc.returncode == 0, f"fuzz_executor mismatches:\n{tail}"
