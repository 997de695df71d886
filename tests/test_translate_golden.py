"""Translation golden: every workload, q_surface and battery statement
translates to the text whose hash is committed in
``tools/translate_golden.json`` (window ids normalised), every
DML/DDL statement there and in the executor tests parses to the
committed outcome of the executor's statement parsers, and every
translation pass and call shim fires on some of them."""

from __future__ import annotations

import collections
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


def test_every_call_shim_fires(monkeypatch):
    """Every ``_CALL_SHIMS`` handler lowers some corpus or battery text:
    a handler nothing reaches is deleted, not kept."""
    from component_duckdb_transformation_spark.functions import dialect

    hits: collections.Counter = collections.Counter()

    def counted(shim):
        def run(call):
            repl = shim(call)
            if repl is not None:
                hits[shim] += 1
            return repl

        return run

    monkeypatch.setattr(dialect, "_CALL_SHIMS", {
        name: tuple(counted(s) for s in shims)
        for name, shims in dialect._CALL_SHIMS.items()
    })
    monkeypatch.setattr(
        dialect, "_ANY_CALL_SHIMS", tuple(counted(s) for s in dialect._ANY_CALL_SHIMS)
    )
    golden = _golden()
    for sql, hints in golden.corpus().values():
        golden._translate(sql, hints)
    dead = [shim.__name__ for _, shim in dialect._SHIMS if not hits[shim]]
    assert not dead, f"call shims that never fire: {', '.join(dead)}"


def test_every_pass_fires(monkeypatch):
    """Every ``_PASSES`` entry changes some corpus or battery text (a
    pass nothing reaches is deleted, not kept), and running every pass
    on every text, triggers ignored, moves no hash: a trigger never
    skips a pass that would have changed the statement."""
    from component_duckdb_transformation_spark.functions import dialect

    passes = dialect._PASSES
    hits: collections.Counter = collections.Counter()

    def counted(k, rewrite):
        def run(tokens):
            out = rewrite(tokens)
            if out is not tokens and out != tokens:
                hits[k] += 1
            return out

        return run

    monkeypatch.setattr(dialect, "_PASSES", tuple(
        (counted(k, rewrite), trigger) for k, (rewrite, trigger) in enumerate(passes)
    ))
    golden = _golden()
    for sql, hints in golden.corpus().values():
        golden._translate(sql, hints)
    dead = [
        f"{k}:{rewrite.__name__}"
        for k, (rewrite, _) in enumerate(passes)
        if not hits[k]
    ]
    assert not dead, f"passes that never fire: {', '.join(dead)}"

    monkeypatch.setattr(dialect, "_PASSES", tuple((p, None) for p, _ in passes))
    moved = golden.moved()
    assert not moved, f"moved with every pass run: {', '.join(moved)}"
