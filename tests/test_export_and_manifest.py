"""Sliced-export directory hygiene + manifest metadata parsing
(ADVICE r1: hidden .crc files corrupt KBC sliced uploads; string
'false' nullable metadata parsed truthy), import view aliases, and
string values surviving the CSV export unchanged."""

import os

from component_duckdb_transformation_spark.component import _schema_from_manifest
from component_duckdb_transformation_spark.configuration import (
    ColumnSchema,
    InputTable,
    OutputTable,
)
from component_duckdb_transformation_spark.sinks.table_export import export_table
from component_duckdb_transformation_spark.sources.table_import import (
    create_input_view,
    register_view,
)


def test_sliced_export_dir_contains_only_part_csvs(spark, tmp_path):
    spark.range(100).selectExpr("id", "id * 2 AS v").createOrReplaceTempView(
        "slice_me"
    )
    out_dir = str(tmp_path / "out")
    os.makedirs(out_dir, exist_ok=True)
    export_table(
        spark,
        "slice_me",
        OutputTable(source="slice_me.csv", destination="out.c-x.slice_me"),
        out_dir,
        sliced=True,
    )
    entries = os.listdir(os.path.join(out_dir, "slice_me.csv"))
    assert entries, "sliced dir should contain data slices"
    bad = [e for e in entries if not (e.startswith("part-") and e.endswith(".csv"))]
    assert bad == [], f"non-slice files left in sliced dir: {bad}"


def test_nullable_metadata_string_false():
    manifest = {
        "columns": ["a", "b", "c"],
        "column_metadata": {
            "a": [{"key": "KBC.datatype.nullable", "value": "false"}],
            "b": [{"key": "KBC.datatype.nullable", "value": "0"}],
            "c": [{"key": "KBC.datatype.nullable", "value": "true"}],
        },
    }
    _, schema = _schema_from_manifest(manifest)
    by_name = {c.name: c.nullable for c in schema}
    assert by_name == {"a": False, "b": False, "c": True}


def test_register_view_aliases_do_not_collide(spark):
    # both names sanitize to the same identifier; each view must still
    # read its own DataFrame
    register_view(spark.createDataFrame([(1,)], "v INT"), "alias_probe.b")
    register_view(spark.createDataFrame([(2,)], "v INT"), "alias_probe_b")
    assert spark.sql("SELECT v FROM `alias_probe.b`").collect()[0].v == 1
    assert spark.sql("SELECT v FROM `alias_probe_b`").collect()[0].v == 2


def test_export_keeps_padding_and_empty_strings(spark, tmp_path):
    spark.createDataFrame(
        [("  a  ", "")], "padded STRING, empty STRING"
    ).createOrReplaceTempView("pad_probe")
    out_dir = str(tmp_path / "out")
    os.makedirs(out_dir)
    export_table(
        spark, "pad_probe", OutputTable(source="pad.csv", destination="out.c-x.pad"),
        out_dir,
    )
    with open(os.path.join(out_dir, "pad.csv"), encoding="utf-8") as fh:
        lines = fh.read().splitlines()
    assert lines == ['"padded","empty"', '"  a  ",""']

    # and back in through the importer with the spaces kept
    created = create_input_view(
        spark,
        InputTable(
            source="pad", destination="pad_back",
            full_path=os.path.join(out_dir, "pad.csv"),
            column_names=["padded", "empty"],
            schema=[ColumnSchema(name=c) for c in ("padded", "empty")],
        ),
    )
    assert spark.table(created.name).collect()[0].padded == "  a  "
