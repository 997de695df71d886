"""Output-table export: named table/view -> quoted CSV + KBC manifest
(reference ``src/component.py:155-182``; manifest shape from the
reference goldens, e.g.
tests/functional/simple/expected/data/out/tables/joined.csv.manifest).

The reference exports with DuckDB
``COPY 't' TO 'path' (HEADER, DELIMITER ',', FORCE_QUOTE *)`` — one
CSV file, every value quoted. Spark-first equivalents:

- **single-file** (default, golden-compatible): write with
  ``coalesce(1)`` to a temp dir and move the part file into place.
  Correct for component-sized outputs; a deliberate perf cliff at scale.
- **sliced** (``sliced_output=True``): keep Spark's natural part-files
  as a KBC sliced table (headerless dir + manifest columns). This is
  the 100 TB path — fully parallel write, no driver bottleneck
  (SURVEY §7 hard-part 1).

Export-time ORDER BY: Spark views don't persist order, so the defining
query's terminal ORDER BY (tracked by the executor) is re-applied here
(SURVEY §7 hard-part 2).

String values are written as they are: leading and trailing spaces
survive, and an empty string is ``""``.

``export_table`` is safe to call from several threads at once for
distinct tables: the component runs its exports on the orchestrator's
``threads``-wide pool. Each single-file export writes into its own
``cdts-export-*`` temp dir, removed on success and failure alike.
"""

from __future__ import annotations

import glob
import json
import logging
import os
import shutil
import tempfile

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import types as T

from ..configuration import OutputTable
from ..exceptions import UserException
from ..plans.sql_tokens import _bt, tokenize

LOG = logging.getLogger(__name__)


def spark_to_kbc_base(dtype: T.DataType) -> str:
    """Spark type -> KBC base type (reference src/component.py:196-224;
    mapping table SURVEY §1.2). DECIMAL precision is irrelevant: the
    reference strips it (``dtype.split("(")[0]``) before mapping."""
    if isinstance(dtype, (T.ByteType, T.ShortType, T.IntegerType, T.LongType)):
        return "INTEGER"
    if isinstance(dtype, (T.FloatType, T.DecimalType)):
        return "NUMERIC"
    if isinstance(dtype, T.DoubleType):
        return "FLOAT"
    if isinstance(dtype, T.BooleanType):
        return "BOOLEAN"
    if isinstance(dtype, (T.TimestampType, T.TimestampNTZType)):
        return "TIMESTAMP"
    if isinstance(dtype, T.DateType):
        return "DATE"
    # VARCHAR, UUID, arrays, structs, maps, intervals, binary -> STRING
    return "STRING"


def _schema_manifest(df: DataFrame) -> list[dict]:
    return [
        {
            "name": f.name,
            "data_type": {"base": {"type": spark_to_kbc_base(f.dataType)}},
            "nullable": True,
        }
        for f in df.schema.fields
    ]


_CSV_WRITE_OPTIONS = {
    "header": True,
    "quoteAll": True,
    "quote": '"',
    "escape": '"',  # KBC quotes are escaped by doubling, not backslash
    "sep": ",",
    "timestampNTZFormat": "yyyy-MM-dd HH:mm:ss",
    "timestampFormat": "yyyy-MM-dd HH:mm:ss",
    "dateFormat": "yyyy-MM-dd",
    "nullValue": "",
    "emptyValue": '""',
    # the writer trims strings by default; DuckDB's COPY keeps them as is
    "ignoreLeadingWhiteSpace": False,
    "ignoreTrailingWhiteSpace": False,
}


def _stringify_nested(df: DataFrame) -> DataFrame:
    """CSV cannot carry arrays/structs/maps/binary — stringify them, the
    same observable behavior as DuckDB's VARCHAR casts on export."""
    from pyspark.sql import functions as F

    cols = []
    for f in df.schema.fields:
        if isinstance(f.dataType, (T.ArrayType, T.StructType, T.MapType)):
            cols.append(F.to_json(F.col(f.name)).alias(f.name))
        elif isinstance(f.dataType, T.BinaryType):
            cols.append(F.base64(F.col(f.name)).alias(f.name))
        else:
            cols.append(F.col(f.name))
    return df.select(*cols)


def _strip_order_qualifiers(clause: str, columns: list[str]) -> str:
    """Rewrite ``alias.col`` -> ``col`` in a captured ORDER BY clause.

    The defining query's terminal ORDER BY may reference its FROM-clause
    aliases (``ORDER BY s.id``); at export time only the view's output
    columns exist, so qualifiers whose final part is an output column are
    dropped."""
    lowered = {c.lower() for c in columns}
    tokens = tokenize(clause)
    out: list[str] = []
    i = 0
    while i < len(tokens):
        # match (word|qident) ('.' (word|qident))+ as one dotted chain
        if tokens[i].kind in ("word", "qident"):
            j = i
            while (
                j + 2 < len(tokens)
                and tokens[j + 1].kind == "op"
                and tokens[j + 1].text == "."
                and tokens[j + 2].kind in ("word", "qident")
            ):
                j += 2
            if j > i:
                last = tokens[j].text.strip('"')
                if last.lower() in lowered:
                    out.append(tokens[j].text)
                    i = j + 1
                    continue
        out.append(tokens[i].text)
        i += 1
    return "".join(out)


def export_table(
    spark: SparkSession,
    name: str,
    mapping: OutputTable,
    out_tables_dir: str,
    order_by: str | None = None,
    sliced: bool = False,
) -> dict:
    """Export one output-mapping entry; returns the manifest dict."""
    try:
        df = spark.table(_bt(name))
        if order_by:
            clause = _strip_order_qualifiers(order_by, df.columns)
            df = spark.sql(f"SELECT * FROM {_bt(name)} ORDER BY {clause}")
    except Exception as exc:
        raise UserException(f"Error exporting table {name}: {exc}") from exc

    out_path = os.path.join(out_tables_dir, mapping.source)
    df_out = _stringify_nested(df)
    manifest: dict = {
        "destination": mapping.destination,
        "incremental": mapping.incremental,
        "write_always": False,
        "delimiter": ",",
        "enclosure": '"',
        "manifest_type": "out",
        "has_header": not sliced,
        "schema": _schema_manifest(df),
    }
    if mapping.primary_key:
        manifest["primary_key"] = mapping.primary_key

    if sliced:
        # parallel part-file write; KBC sliced output = headerless dir +
        # column names in the manifest
        opts = dict(_CSV_WRITE_OPTIONS, header=False)
        df_out.write.mode("overwrite").options(**opts).csv(out_path)
        # KBC treats EVERY file in a sliced dir as a data slice — remove
        # all of Spark's bookkeeping output, including the HIDDEN local-FS
        # checksum files (.part-*.csv.crc, ._SUCCESS.crc) that glob('*')
        # would miss because '*' doesn't match dotfiles.
        for entry in os.listdir(out_path):
            if not (entry.startswith("part-") and entry.endswith(".csv")):
                os.remove(os.path.join(out_path, entry))
        manifest["columns"] = list(df_out.columns)
    else:
        tmp = tempfile.mkdtemp(prefix="cdts-export-", dir=out_tables_dir)
        try:
            # coalesce(1) is applied at write, after the (distributed)
            # sort/compute: one task streams the final file
            df_out.coalesce(1).write.mode("overwrite").options(
                **_CSV_WRITE_OPTIONS
            ).csv(tmp)
            parts = sorted(glob.glob(os.path.join(tmp, "part-*.csv")))
            if not parts:
                raise UserException(f"Export of {name} produced no data file")
            shutil.move(parts[0], out_path)
        finally:
            shutil.rmtree(tmp, ignore_errors=True)

    with open(out_path + ".manifest", "w", encoding="utf-8") as fh:
        json.dump(manifest, fh)
    LOG.info("Exported table %s -> %s", name, out_path)
    return manifest


def export_file_manifests(files_mapping: list[dict], out_files_dir: str) -> None:
    """Out-file manifests (tags/permanence), reference src/component.py:184-194."""
    os.makedirs(out_files_dir, exist_ok=True)
    for entry in files_mapping:
        name = entry.get("source")
        if not name:
            continue
        manifest = {
            "is_permanent": bool(entry.get("is_permanent", False)),
            "tags": list(entry.get("tags", [])),
        }
        with open(
            os.path.join(out_files_dir, name) + ".manifest", "w", encoding="utf-8"
        ) as fh:
            json.dump(manifest, fh)
