"""Full-suite differential gate at sf0.1, as a deliberately slow test.

The sf0.01 checks in the regular suite miss partial-aggregation numeric
drift (sample-moment corrections, log-space products) that only shows up
with more rows per group. ``tools/diff_check.py --sf 0.1`` is the local
mirror of the driver's correctness gate; this test makes it part of CI
instead of a thing someone has to remember to run.

Deselected by default (``addopts = -m "not slow"`` in pytest.ini); run
with ``python -m pytest -m slow -q``.
"""

from __future__ import annotations

import os
import subprocess
import sys

import pytest


_TOOL = os.path.join(
    os.path.dirname(os.path.dirname(os.path.abspath(__file__))), "tools", "diff_check.py"
)


@pytest.mark.slow
def test_full_diff_sf01():
    proc = subprocess.run(
        [sys.executable, _TOOL, "--sf", "0.1"],
        capture_output=True,
        text=True,
        timeout=3600,
    )
    tail = "\n".join(proc.stdout.splitlines()[-40:])
    assert proc.returncode == 0, f"diff_check --sf 0.1 failed:\n{tail}"
