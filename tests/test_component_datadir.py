"""End-to-end golden-datadir tests, modeled on the reference's functional
test strategy (reference tests/test_functional.py + tests/functional/*;
SURVEY §5): build a Keboola data directory, run the Component, assert on
the exported CSVs + manifests.

Fixtures are authored here (reference-shaped, not copied): CSV input with
header, a headerless sliced-table directory with manifest column types, a
parquet input, and block/code/script configs exercising views, CTAS,
string-literal table names, ORDER BY at export, and type mapping.
"""

from __future__ import annotations

import csv
import json
import os
import re

import pytest

from component_duckdb_transformation_spark.component import Component
from component_duckdb_transformation_spark.exceptions import UserException

DAYS_CSV = (
    '"id","name"\n'
    '"1","Monday"\n'
    '"2","Tuesday"\n'
    '"3","Wednesday"\n'
    '"4","Thursday"\n'
    '"5","Friday"\n'
    '"6","Saturday"\n'
    '"7","Sunday"\n'
)


def _write(path: str, content: str) -> None:
    os.makedirs(os.path.dirname(path), exist_ok=True)
    with open(path, "w", encoding="utf-8") as fh:
        fh.write(content)


def _make_simple_datadir(tmp_path) -> str:
    data = tmp_path / "data"
    in_tables = data / "in" / "tables"
    _write(str(in_tables / "days.csv"), DAYS_CSV)
    _write(
        str(in_tables / "days.csv.manifest"),
        json.dumps({"id": "in.c-app.days", "incremental": False}),
    )
    # sliced: headerless slices + manifest columns with base types
    _write(str(in_tables / "sliced" / "a.csv"), '"1","100","x"\n"2","200","y"\n')
    _write(str(in_tables / "sliced" / "b.csv"), '"3","300","z"\n')
    _write(
        str(in_tables / "sliced.manifest"),
        json.dumps(
            {
                "id": "in.c-app.sliced",
                "delimiter": ",",
                "enclosure": '"',
                "columns": ["id", "value", "role"],
                "column_metadata": {
                    "id": [{"key": "KBC.datatype.basetype", "value": "INTEGER"}],
                    "value": [{"key": "KBC.datatype.basetype", "value": "INTEGER"}],
                    "role": [{"key": "KBC.datatype.basetype", "value": "STRING"}],
                },
            }
        ),
    )
    config = {
        "parameters": {
            "threads": 4,
            "blocks": [
                {
                    "name": "Block 1",
                    "codes": [
                        {
                            "name": "Views",
                            "script": [
                                "CREATE VIEW 'week.csv' AS (SELECT * FROM 'days.csv' "
                                "WHERE id::INT <= 5) ORDER BY id;",
                                "CREATE VIEW 'out-table.csv' AS (SELECT * FROM sliced) "
                                "ORDER BY id;",
                            ],
                        }
                    ],
                },
                {
                    "name": "Block 2",
                    "codes": [
                        {
                            "name": "Join",
                            "script": [
                                "CREATE VIEW 'joined.csv' AS (SELECT * FROM sliced "
                                "LEFT JOIN 'days.csv' USING (id)) ORDER BY id;"
                            ],
                        }
                    ],
                },
            ],
        },
        "storage": {
            "input": {
                "tables": [
                    {"source": "in.c-app.days", "destination": "days.csv"},
                    {"source": "in.c-app.sliced", "destination": "sliced"},
                ]
            },
            "output": {
                "tables": [
                    {"source": "week.csv", "destination": "out.c-out.week"},
                    {"source": "out-table.csv", "destination": "out.c-out.out-table"},
                    {"source": "joined.csv", "destination": "out.c-out.joined"},
                ]
            },
        },
    }
    _write(str(data / "config.json"), json.dumps(config))
    return str(data)


def _read_rows(path: str) -> list[list[str]]:
    with open(path, newline="", encoding="utf-8") as fh:
        return list(csv.reader(fh))


def test_simple_datadir_end_to_end(spark, tmp_path):
    data_dir = _make_simple_datadir(tmp_path)
    Component(data_dir=data_dir, spark=spark).run()
    out = os.path.join(data_dir, "out", "tables")

    week = _read_rows(os.path.join(out, "week.csv"))
    assert week[0] == ["id", "name"]
    assert [r[0] for r in week[1:]] == ["1", "2", "3", "4", "5"]
    assert week[1] == ["1", "Monday"]

    # raw text must be fully quoted (FORCE_QUOTE * behavior)
    with open(os.path.join(out, "week.csv"), encoding="utf-8") as fh:
        first_data_line = fh.read().splitlines()[1]
    assert first_data_line == '"1","Monday"'

    # sliced table glob read + ORDER BY id
    out_table = _read_rows(os.path.join(out, "out-table.csv"))
    assert out_table[0] == ["id", "value", "role"]
    assert [r[0] for r in out_table[1:]] == ["1", "2", "3"]

    joined = _read_rows(os.path.join(out, "joined.csv"))
    assert joined[0] == ["id", "value", "role", "name"]
    assert joined[1] == ["1", "100", "x", "Monday"]

    # manifest: typed via sliced manifest INTEGER basetypes
    with open(os.path.join(out, "joined.csv.manifest"), encoding="utf-8") as fh:
        manifest = json.load(fh)
    assert manifest["destination"] == "out.c-out.joined"
    assert manifest["manifest_type"] == "out"
    assert manifest["has_header"] is True
    types = {c["name"]: c["data_type"]["base"]["type"] for c in manifest["schema"]}
    assert types["id"] == "INTEGER"
    assert types["value"] == "INTEGER"
    assert types["role"] == "STRING"
    assert types["name"] == "STRING"


def test_parquet_input_and_ctas(spark, tmp_path):
    data = tmp_path / "data"
    in_tables = data / "in" / "tables"
    os.makedirs(in_tables / "orders_pq")
    spark.read.parquet("/root/testdata/sf0.001/orders.parquet").limit(100).write.mode(
        "overwrite"
    ).parquet(str(in_tables / "orders_pq"))
    _write(
        str(in_tables / "orders_pq.manifest"),
        json.dumps({"id": "in.c-app.orders"}),
    )
    config = {
        "parameters": {
            "threads": 2,
            "blocks": [
                {
                    "name": "B",
                    "codes": [
                        {
                            "name": "C",
                            "script": [
                                "CREATE TABLE agg AS SELECT o_orderstatus, count(*) AS n, "
                                "round(sum(o_totalprice), 2) AS total FROM orders "
                                "GROUP BY o_orderstatus ORDER BY o_orderstatus;"
                            ],
                        }
                    ],
                }
            ],
        },
        "storage": {
            "input": {
                "tables": [
                    {
                        "source": "in.c-app.orders",
                        "destination": "orders",
                        "file_type": "parquet",
                    }
                ]
            },
            "output": {
                "tables": [{"source": "agg", "destination": "out.c-out.agg"}]
            },
        },
    }
    _write(str(data / "config.json"), json.dumps(config))
    Component(data_dir=str(data), spark=spark).run()

    rows = _read_rows(os.path.join(str(data), "out", "tables", "agg"))
    assert rows[0] == ["o_orderstatus", "n", "total"]
    assert [r[0] for r in rows[1:]] == sorted(r[0] for r in rows[1:])
    with open(
        os.path.join(str(data), "out", "tables", "agg.manifest"), encoding="utf-8"
    ) as fh:
        manifest = json.load(fh)
    types = {c["name"]: c["data_type"]["base"]["type"] for c in manifest["schema"]}
    assert types["n"] == "INTEGER"
    assert types["total"] in ("FLOAT", "NUMERIC")


def test_dtypes_manifest_typing(spark, tmp_path):
    """Manifest base types must type the view (reference dtypes/ case)."""
    data = tmp_path / "data"
    in_tables = data / "in" / "tables"
    _write(str(in_tables / "t.csv"), '"id","amount","flag"\n"1","1.5","true"\n')
    _write(
        str(in_tables / "t.csv.manifest"),
        json.dumps(
            {
                "id": "in.c-app.t",
                "column_metadata": {
                    "id": [{"key": "KBC.datatype.basetype", "value": "INTEGER"}],
                    "amount": [{"key": "KBC.datatype.basetype", "value": "FLOAT"}],
                    "flag": [{"key": "KBC.datatype.basetype", "value": "BOOLEAN"}],
                },
            }
        ),
    )
    config = {
        "parameters": {
            "blocks": [
                {
                    "name": "B",
                    "codes": [
                        {"name": "C", "script": ["CREATE VIEW o AS SELECT * FROM t;"]}
                    ],
                }
            ]
        },
        "storage": {
            "input": {"tables": [{"source": "in.c-app.t", "destination": "t"}]},
            "output": {"tables": [{"source": "o", "destination": "out.c-out.o"}]},
        },
    }
    _write(str(data / "config.json"), json.dumps(config))
    Component(data_dir=str(data), spark=spark).run()
    with open(
        os.path.join(str(data), "out", "tables", "o.manifest"), encoding="utf-8"
    ) as fh:
        manifest = json.load(fh)
    types = {c["name"]: c["data_type"]["base"]["type"] for c in manifest["schema"]}
    assert types == {"id": "INTEGER", "amount": "FLOAT", "flag": "BOOLEAN"}


def test_sync_actions(spark, tmp_path):
    data_dir = _make_simple_datadir(tmp_path)
    comp = Component(data_dir=data_dir, spark=spark)

    plan = comp.execution_plan_visualization()
    assert plan.type.value == "success"
    assert "Total Queries:** 3" in plan.message
    assert "Block 1" in plan.message and "Block 2" in plan.message

    lineage = comp.lineage_visualization()
    assert "days.csv" in lineage.message
    assert "Created by" in lineage.message

    expected = comp.expected_input_tables()
    # reference parity quirk: suffixes are stripped from *available*
    # destinations only (reference src/actions/expected_input_tables.py:52-55),
    # so the dependency 'days.csv' vs available 'days' reports as missing
    assert expected.type.value == "danger"
    assert "days.csv" in expected.message
    assert "sliced" in expected.message

    check = comp.syntax_check()
    assert check.type.value == "success"


def test_syntax_check_danger(spark, tmp_path):
    data = tmp_path / "data"
    config = {
        "parameters": {
            "blocks": [
                {
                    "name": "B",
                    "codes": [
                        {
                            "name": "C",
                            "script": ["CREATE VIEW v AS SELECT * FROM t WHERE ((x = 1;"],
                        }
                    ],
                }
            ]
        }
    }
    _write(str(data / "config.json"), json.dumps(config))
    comp = Component(data_dir=str(data), spark=spark)
    result = comp.syntax_check()
    assert result.type.value == "danger"


def test_missing_config_raises(tmp_path):
    with pytest.raises(UserException):
        Component(data_dir=str(tmp_path / "nope"))


def test_round3_surface_datadir(spark, tmp_path):
    """Full component path over the round-3 statement surface: MERGE,
    ALTER TABLE, UPDATE..FROM, dynamic PIVOT, engine no-ops, and a
    FROM-first view — one config, golden assertions on the export."""
    data = tmp_path / "data"
    in_tables = data / "in" / "tables"
    _write(str(in_tables / "days.csv"), DAYS_CSV)
    _write(
        str(in_tables / "days.csv.manifest"),
        json.dumps({"id": "in.c-app.days", "incremental": False}),
    )
    config = {
        "parameters": {
            "blocks": [
                {
                    "name": "b",
                    "codes": [
                        {
                            "name": "mutations",
                            "script": [
                                "PRAGMA memory_limit='1GB';",
                                "CREATE TABLE wk AS SELECT id::INT AS id, name, "
                                "0::INT AS seen FROM 'days.csv';",
                                "CREATE TABLE weekend AS SELECT * FROM "
                                "(VALUES (6), (7)) v(id);",
                                "ALTER TABLE wk ADD COLUMN kind VARCHAR DEFAULT 'weekday';",
                                "UPDATE wk SET kind = 'weekend' FROM weekend "
                                "WHERE wk.id = weekend.id;",
                                "MERGE INTO wk USING weekend ON wk.id = weekend.id "
                                "WHEN MATCHED THEN UPDATE SET seen = 1;",
                                "CREATE VIEW 'wk.csv' AS FROM wk SELECT id, name, "
                                "kind, seen WHERE id <= 7 ORDER BY id;",
                                "CREATE TABLE pv AS PIVOT wk ON kind USING "
                                "CAST(count(*) AS INT) GROUP BY seen;",
                                "CREATE VIEW 'pv.csv' AS SELECT * FROM pv ORDER BY seen;",
                            ],
                        }
                    ],
                }
            ]
        },
        "storage": {
            "input": {
                "tables": [
                    {"source": "in.c-app.days", "destination": "days.csv"}
                ]
            },
            "output": {
                "tables": [
                    {"source": "wk.csv", "destination": "out.c-out.wk"},
                    {"source": "pv.csv", "destination": "out.c-out.pv"},
                ]
            },
        },
    }
    _write(str(data / "config.json"), json.dumps(config))
    Component(data_dir=str(data), spark=spark).run()
    out = os.path.join(str(data), "out", "tables")

    wk = _read_rows(os.path.join(out, "wk.csv"))
    assert wk[0] == ["id", "name", "kind", "seen"]
    assert wk[6] == ["6", "Saturday", "weekend", "1"]
    assert wk[7] == ["7", "Sunday", "weekend", "1"]
    assert wk[1] == ["1", "Monday", "weekday", "0"]

    pv = _read_rows(os.path.join(out, "pv.csv"))
    assert pv[0] == ["seen", "weekday", "weekend"]
    # count over the absent combination is 0 (count never yields NULL),
    # matching DuckDB's native PIVOT
    assert pv[1] == ["0", "5", "0"]
    assert pv[2] == ["1", "0", "2"]


def _typed_manifest(table_id: str, columns: dict, **extra) -> str:
    return json.dumps({
        "id": table_id,
        "columns": list(columns),
        "column_metadata": {
            name: [{"key": "KBC.datatype.basetype", "value": base}]
            for name, base in columns.items()
        },
        **extra,
    })


def _make_wide_datadir(root, threads: int, sliced_output: bool, extra_script=(),
                       extra_outputs=()) -> str:
    """Six inputs (CSV with an inferred and with a typed schema, two sliced
    CSVs, a parquet dir and a parquet file) and seven outputs, ordered
    and unordered. Every statement is its own block, so the batches run
    the same way at any ``threads`` and only the imports and exports
    change with it."""
    import pyarrow as pa
    import pyarrow.parquet as pq

    data = root / "data"
    in_tables = data / "in" / "tables"
    _write(str(in_tables / "days.csv"), DAYS_CSV)
    _write(str(in_tables / "days.csv.manifest"), json.dumps({"id": "in.c-app.days"}))
    _write(
        str(in_tables / "people.csv"),
        '"id","name"\n"1","  Ann "\n"2","Bob"\n"3",""\n"4","Dee"\n',
    )
    _write(
        str(in_tables / "people.csv.manifest"),
        _typed_manifest("in.c-app.people", {"id": "INTEGER", "name": "STRING"}),
    )
    for table, slices in {
        "sliced_a": {"a.csv": '"1","10","x"\n"2","20","y"\n', "b.csv": '"3","30","x"\n'},
        "sliced_b": {"a.csv": '"1","5","p"\n', "b.csv": '"2","6","q"\n"4","7","p"\n'},
    }.items():
        for name, body in slices.items():
            _write(str(in_tables / table / name), body)
        _write(
            str(in_tables / f"{table}.manifest"),
            _typed_manifest(
                f"in.c-app.{table}",
                {"id": "INTEGER", "value": "INTEGER", "role": "STRING"},
            ),
        )
    os.makedirs(in_tables / "pq_dir")
    for part in range(2):
        pq.write_table(
            pa.table({"k": [part * 10 + i for i in range(5)],
                      "tag": [f"t{(part + i) % 3}" for i in range(5)]}),
            str(in_tables / "pq_dir" / f"part-{part}.parquet"),
        )
    _write(str(in_tables / "pq_dir.manifest"), json.dumps({"id": "in.c-app.pq_dir"}))
    pq.write_table(
        pa.table({"k": [3, 1, 2], "w": [0.5, 1.5, 2.5]}),
        str(in_tables / "pq_file.parquet"),
    )
    _write(
        str(in_tables / "pq_file.parquet.manifest"),
        json.dumps({"id": "in.c-app.pq_file"}),
    )
    script = [
        "CREATE TABLE days_t AS SELECT id, name FROM days ORDER BY id DESC;",
        "CREATE TABLE role_sums AS SELECT role, sum(value) AS total "
        "FROM sliced_a GROUP BY role;",
        "CREATE VIEW tags AS SELECT tag, count(*) AS n FROM pq_dir "
        "GROUP BY tag ORDER BY tag;",
        "CREATE TABLE weights AS SELECT * FROM pq_file;",
        "CREATE TABLE joined AS SELECT p.id, p.name, s.value FROM people p "
        "JOIN sliced_b s USING (id) ORDER BY p.id;",
        *extra_script,
    ]
    outputs = [
        "days_t", "role_sums", "tags", "weights", "joined", "pq_dir", "people",
        *extra_outputs,
    ]
    config = {
        "parameters": {
            "threads": threads,
            "sliced_output": sliced_output,
            "blocks": [
                {"name": f"b{i}", "codes": [{"name": f"c{i}", "script": [sql]}]}
                for i, sql in enumerate(script)
            ],
        },
        "storage": {
            "input": {"tables": [
                {"source": "in.c-app.days", "destination": "days"},
                {"source": "in.c-app.people", "destination": "people"},
                {"source": "in.c-app.sliced_a", "destination": "sliced_a"},
                {"source": "in.c-app.sliced_b", "destination": "sliced_b"},
                {"source": "in.c-app.pq_dir", "destination": "pq_dir",
                 "file_type": "parquet"},
                {"source": "in.c-app.pq_file", "destination": "pq_file",
                 "file_type": "parquet"},
            ]},
            "output": {"tables": [
                {"source": name, "destination": f"out.c-out.{name}"}
                for name in outputs
            ]},
        },
    }
    _write(str(data / "config.json"), json.dumps(config))
    return str(data)


def _out_files(data_dir: str) -> dict:
    """Every file under out/tables by relative path, with the per-write
    UUID in Spark part-file names masked."""
    root = os.path.join(data_dir, "out", "tables")
    files = {}
    for dirpath, _, names in os.walk(root):
        for name in names:
            path = os.path.join(dirpath, name)
            rel = re.sub(r"part-(\d+)-[0-9a-f-]{36}", r"part-\1", os.path.relpath(path, root))
            with open(path, "rb") as fh:
                files[rel] = fh.read()
    return files


@pytest.mark.parametrize("sliced_output", [False, True])
def test_concurrent_import_export_matches_serial(spark, tmp_path, sliced_output):
    outs = {}
    for threads in (1, 4):
        data_dir = _make_wide_datadir(tmp_path / f"t{threads}", threads, sliced_output)
        Component(data_dir=data_dir, spark=spark).run()
        outs[threads] = _out_files(data_dir)
    assert sorted(outs[1]) == sorted(outs[4])
    assert len([f for f in outs[1] if f.endswith(".manifest")]) == 7
    for rel, body in outs[1].items():
        assert outs[4][rel] == body, rel
    if not sliced_output:
        # padded and empty strings pass through import and export as is
        assert _read_rows(
            os.path.join(data_dir, "out", "tables", "people")
        )[1:3] == [["1", "  Ann "], ["2", "Bob"]]


def test_failing_export_names_table_and_leaves_no_temp_dir(spark, tmp_path):
    # the terminal ORDER BY names a column the table does not carry, so
    # re-applying it at export fails
    data_dir = _make_wide_datadir(
        tmp_path, 4, False,
        extra_script=["CREATE TABLE bad_order AS SELECT id FROM people ORDER BY name;"],
        extra_outputs=["bad_order"],
    )
    with pytest.raises(UserException, match="Table export failed") as info:
        Component(data_dir=data_dir, spark=spark).run()
    assert "bad_order: Error exporting table bad_order" in str(info.value)
    leftovers = [
        e for e in os.listdir(os.path.join(data_dir, "out", "tables"))
        if e.startswith("cdts-export-")
    ]
    assert leftovers == []


def test_duplicate_output_source_last_mapping_wins(spark, tmp_path, monkeypatch):
    from component_duckdb_transformation_spark import component

    exported = []
    real_export = component.export_table

    def recording_export(spark, name, mapping, *args, **kwargs):
        exported.append((name, mapping.destination))
        return real_export(spark, name, mapping, *args, **kwargs)

    # concurrent exports of one source would race on its file: it must be
    # exported once, with the last mapping
    monkeypatch.setattr(component, "export_table", recording_export)
    data = tmp_path / "data"
    _write(str(data / "in" / "tables" / "days.csv"), DAYS_CSV)
    config = {
        "parameters": {
            "threads": 4,
            "blocks": [{"name": "b", "codes": [{"name": "c", "script": [
                "CREATE TABLE t AS SELECT * FROM 'days.csv' ORDER BY id;",
            ]}]}],
        },
        "storage": {"output": {"tables": [
            {"source": "t", "destination": "out.c-out.first"},
            {"source": "t", "destination": "out.c-out.second",
             "primary_key": ["id"]},
        ]}},
    }
    _write(str(data / "config.json"), json.dumps(config))
    Component(data_dir=str(data), spark=spark).run()
    assert exported == [("t", "out.c-out.second")]
    out = os.path.join(str(data), "out", "tables")
    assert sorted(os.listdir(out)) == ["t", "t.manifest"]
    with open(os.path.join(out, "t.manifest"), encoding="utf-8") as fh:
        manifest = json.load(fh)
    assert manifest["destination"] == "out.c-out.second"
    assert manifest["primary_key"] == ["id"]
    assert len(_read_rows(os.path.join(out, "t"))) == 8


def test_pool_threads_carry_callers_job_group(spark, tmp_path, monkeypatch):
    """Imports and exports run on pool threads; their Spark jobs must
    stay in the caller's job group (harnesses attribute jobs by it)."""
    from component_duckdb_transformation_spark import component

    sc = spark.sparkContext
    seen = []
    real_export = component.export_table

    def recording_export(*args, **kwargs):
        seen.append(sc.getLocalProperty("spark.jobGroup.id"))
        return real_export(*args, **kwargs)

    monkeypatch.setattr(component, "export_table", recording_export)
    data = tmp_path / "data"
    _write(str(data / "in" / "tables" / "days.csv"), DAYS_CSV)
    config = {
        "parameters": {
            "threads": 4,
            # one batch of two: the executor tags those jobs
            # "<group>/<query>" and leaves the caller's thread untouched
            "blocks": [{"name": "b", "codes": [{"name": "c", "script": [
                "CREATE TABLE a AS SELECT * FROM 'days.csv' WHERE id <= 3;",
                "CREATE TABLE b AS SELECT * FROM 'days.csv' WHERE id > 3;",
            ]}]}],
        },
        "storage": {"output": {"tables": [
            {"source": "a", "destination": "out.c-out.a"},
            {"source": "b", "destination": "out.c-out.b"},
            {"source": "days.csv", "destination": "out.c-out.days"},
        ]}},
    }
    _write(str(data / "config.json"), json.dumps(config))
    group = "cdts-pool-group-probe"
    sc.setJobGroup(group, group)
    try:
        Component(data_dir=str(data), spark=spark).run()
    finally:
        sc.setLocalProperty("spark.jobGroup.id", None)
        sc.setLocalProperty("spark.job.description", None)
    assert seen == [group] * 3
    # at least the CSV schema inference at import and one write job per
    # export ran under the group itself
    assert len(sc.statusTracker().getJobIdsForGroup(group)) >= 4


def test_dotted_names_ctas_insert_rename_export(spark, tmp_path):
    """Dotted table names bind as one quoted view each (no alias view):
    an input, a CTAS over it, an INSERT, a RENAME and the export all go
    through the exact logical names."""
    data = tmp_path / "data"
    in_tables = data / "in" / "tables"
    _write(str(in_tables / "days.csv"), DAYS_CSV)
    _write(
        str(in_tables / "days.csv.manifest"),
        json.dumps({"id": "in.c-main.days", "incremental": False}),
    )
    config = {
        "parameters": {
            "threads": 2,
            "blocks": [
                {
                    "name": "B",
                    "codes": [
                        {
                            "name": "C",
                            "script": [
                                "CREATE TABLE 'res.v1' AS SELECT id, name "
                                "FROM 'in.c-main.days' WHERE id::INT <= 2;",
                                "INSERT INTO 'res.v1' VALUES ('9', 'Extra');",
                                'ALTER TABLE "res.v1" RENAME TO "res.final";',
                            ],
                        }
                    ],
                }
            ],
        },
        "storage": {
            "input": {
                "tables": [
                    {"source": "in.c-main.days", "destination": "in.c-main.days"}
                ]
            },
            "output": {
                "tables": [{"source": "res.final", "destination": "out.c-out.res"}]
            },
        },
    }
    _write(str(data / "config.json"), json.dumps(config))
    Component(data_dir=str(data), spark=spark).run()

    rows = _read_rows(os.path.join(str(data), "out", "tables", "res.final"))
    assert rows[0] == ["id", "name"]
    assert sorted(rows[1:]) == [["1", "Monday"], ["2", "Tuesday"], ["9", "Extra"]]
    views = {t.name for t in spark.catalog.listTables()}
    assert {"in.c-main.days", "res.final"} <= views
    assert "res.v1" not in views
    assert not any(v.startswith("_import_") for v in views)


def test_replaced_view_exports_without_stale_order_by(spark, tmp_path):
    """CREATE OR REPLACE VIEW replaces the view's whole record: the
    export no longer sorts by the ORDER BY of the view it replaced (a
    column the new view does not have)."""
    data = tmp_path / "data"
    config = {
        "parameters": {
            "threads": 2,
            "blocks": [
                {
                    "name": "B",
                    "codes": [
                        {
                            "name": "C",
                            "script": [
                                "CREATE TABLE base AS SELECT * FROM "
                                "(VALUES (2, 'a'), (1, 'b')) t(k, s);",
                                "CREATE VIEW vo AS SELECT k, s FROM base ORDER BY s;",
                                "CREATE OR REPLACE VIEW vo AS SELECT k FROM base;",
                            ],
                        }
                    ],
                }
            ],
        },
        "storage": {
            "output": {"tables": [{"source": "vo", "destination": "out.c-out.vo"}]}
        },
    }
    _write(str(data / "config.json"), json.dumps(config))
    Component(data_dir=str(data), spark=spark).run()

    rows = _read_rows(os.path.join(str(data), "out", "tables", "vo"))
    assert rows[0] == ["k"]
    assert sorted(rows[1:]) == [["1"], ["2"]]
