"""``python -m component_duckdb_transformation_spark``: the command-line
entry dispatches on the config's ``action``, prints a sync action's
result as JSON and maps failures to exit codes (1 user error, 2 other)."""

from __future__ import annotations

import json

from component_duckdb_transformation_spark import __main__ as cli
from component_duckdb_transformation_spark.component import Component


def _datadir(tmp_path, monkeypatch, action=None):
    config = {
        "parameters": {
            "blocks": [
                {
                    "name": "B",
                    "codes": [
                        {
                            "name": "C",
                            "script": ["CREATE TABLE t AS SELECT * FROM src;"],
                        }
                    ],
                }
            ]
        }
    }
    if action:
        config["action"] = action
    (tmp_path / "config.json").write_text(json.dumps(config))
    monkeypatch.setenv("KBC_DATADIR", str(tmp_path))


def test_sync_action_prints_result_json(tmp_path, monkeypatch, capsys):
    _datadir(tmp_path, monkeypatch, "lineage_visualization")
    assert cli.main() == 0
    out = json.loads(capsys.readouterr().out)
    assert out["status"] == "success"
    assert out["type"] == "success"
    assert "src" in out["message"] and "t" in out["message"]


def test_run_action_is_the_default(tmp_path, monkeypatch, capsys):
    _datadir(tmp_path, monkeypatch)
    ran = []
    monkeypatch.setattr(Component, "run", lambda self: ran.append(self))
    assert cli.main() == 0
    assert len(ran) == 1
    assert capsys.readouterr().out == ""


def test_user_errors_exit_1(tmp_path, monkeypatch):
    _datadir(tmp_path, monkeypatch, "no_such_action")
    assert cli.main() == 1
    monkeypatch.setenv("KBC_DATADIR", str(tmp_path / "missing"))
    assert cli.main() == 1


def test_other_errors_exit_2(tmp_path, monkeypatch):
    _datadir(tmp_path, monkeypatch)

    def boom(self):
        raise RuntimeError("engine failure")

    monkeypatch.setattr(Component, "run", boom)
    assert cli.main() == 2
