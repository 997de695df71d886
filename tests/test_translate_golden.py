"""Translation golden: every workload and q_surface statement translates
to the text whose hash is committed in ``tools/translate_golden.json``
(no type hints published, window ids normalised)."""

from __future__ import annotations

import importlib.util
import os

_TOOL = os.path.join(
    os.path.dirname(os.path.dirname(os.path.abspath(__file__))),
    "tools",
    "translate_golden.py",
)


def _golden():
    spec = importlib.util.spec_from_file_location("translate_golden", _TOOL)
    mod = importlib.util.module_from_spec(spec)
    spec.loader.exec_module(mod)
    return mod


def test_translate_golden():
    moved = _golden().moved()
    assert not moved, f"translated text moved for: {', '.join(moved)}"
