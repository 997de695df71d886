"""``tools/diff_check.py`` argument handling: an argument that names no
workload, or ``--sf`` without a value, exits 2 before any engine starts
instead of checking nothing and reporting ``0 failures``."""

from __future__ import annotations

import importlib.util
import os

import pytest

from component_duckdb_transformation_spark import session

_TOOL = os.path.join(
    os.path.dirname(os.path.dirname(os.path.abspath(__file__))),
    "tools",
    "diff_check.py",
)


def _tool():
    spec = importlib.util.spec_from_file_location("diff_check", _TOOL)
    mod = importlib.util.module_from_spec(spec)
    spec.loader.exec_module(mod)
    return mod


@pytest.mark.parametrize("argv", [
    ["--help"],
    ["q99_nope"],
    ["--sf", "0.01", "q01_pricing_summary", "q99_nope"],
    ["--sf"],
    ["--sf", "--help"],
])
def test_bad_arguments_exit_2_without_spark(monkeypatch, capsys, argv):
    def no_spark(*args, **kwargs):
        raise AssertionError("Spark started for a rejected command line")

    monkeypatch.setattr(session, "build_spark_session", no_spark)
    assert _tool().main(argv) == 2
    err = capsys.readouterr().err
    assert "usage:" in err
    if "q99_nope" in argv or argv == ["--help"]:
        assert "q01_pricing_summary" in err
