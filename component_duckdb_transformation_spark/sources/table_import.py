"""Input-table import: local CSV / sliced-CSV / Parquet files become named
Spark temp views (reference ``src/in_tables_creator.py:33-149``).

Spark-first mapping (SURVEY §2.A A1-A4):

- CSV           -> lazy temp view over ``spark.read.csv`` with
  manifest-driven schema (A1). Lazy like the reference's DuckDB views.
- sliced CSV    -> ``spark.read.csv("dir/*.csv")`` — Spark globs natively;
  slices become input splits, a better fit than single-process DuckDB (A2).
- Parquet       -> temp view over ``read_parquet`` glob (A3). The
  reference materializes (CTAS) because its DB file must persist; a lazy
  view is the right Spark call — Catalyst prunes columns/filters into
  the scan and nothing is copied.
- KBC-INTEGER parquet columns are cast to BIGINT at load (A4; reference
  rationale src/in_tables_creator.py:92-96 — Snowflake exports INTEGER
  as DECIMAL(38,0), slow in any engine, wide-decimal agg in Spark too).
"""

from __future__ import annotations

import logging
import os
from dataclasses import dataclass

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql import types as T

from ..configuration import InputTable
from ..exceptions import UserException
from ..plans.sql_tokens import _bt
from .parquet_io import read_parquet

LOG = logging.getLogger(__name__)

# KBC base type -> Spark type for manifest-driven CSV schemas
# (reverse direction of the export mapping, SURVEY §1.2)
_KBC_TO_SPARK: dict[str, T.DataType] = {
    "INTEGER": T.LongType(),
    "NUMERIC": T.DecimalType(38, 9),
    "FLOAT": T.DoubleType(),
    "BOOLEAN": T.BooleanType(),
    "TIMESTAMP": T.TimestampNTZType(),
    "DATE": T.DateType(),
    "STRING": T.StringType(),
}


@dataclass
class CreatedTable:
    name: str
    is_view: bool


def register_view(df: DataFrame, name: str) -> None:
    """Bind a DataFrame under a logical name that may contain dots or
    dashes (DuckDB string-literal table names, e.g. ``'days.csv'``).

    Spark's ``createOrReplaceTempView`` parses its argument as a
    multipart identifier, so the name is passed backtick-quoted: one
    view, named exactly ``name``.
    """
    df.createOrReplaceTempView(_bt(name))


def _manifest_schema(table: InputTable) -> T.StructType | None:
    if not table.schema_:
        return None
    fields = []
    for col in table.schema_:
        base = (col.base_type or "STRING").upper()
        spark_type = _KBC_TO_SPARK.get(base, T.StringType())
        fields.append(T.StructField(col.name, spark_type, nullable=col.nullable))
    return T.StructType(fields)


def create_input_view(
    spark: SparkSession, table: InputTable, dtypes_infer: bool = False
) -> CreatedTable:
    """Create the temp view for one input-mapping entry.

    Schema policy (reference src/in_tables_creator.py:70-78): fixed
    manifest base types unless ``dtypes_infer`` or no manifest metadata,
    then Spark's CSV schema inference (the analogue of DuckDB's sniffer).
    """
    path = table.full_path or table.source
    if table.file_type == "parquet":
        return _from_parquet(spark, table, path)
    return _from_csv(spark, table, path, dtypes_infer)


def _from_parquet(spark: SparkSession, table: InputTable, path: str) -> CreatedTable:
    glob = os.path.join(path, "*.parquet") if os.path.isdir(path) else path
    df = read_parquet(spark, glob)
    # A4: selective DECIMAL(38,0)->BIGINT fixup for KBC-INTEGER columns
    to_cast = {
        c.name for c in table.schema_ if (c.base_type or "").upper() == "INTEGER"
    }
    if to_cast:
        df = df.select(
            *[
                F.col(c).cast("bigint").alias(c) if c in to_cast else F.col(c)
                for c in df.columns
            ]
        )
    register_view(df, table.destination)
    return CreatedTable(name=table.destination, is_view=True)


def _from_csv(
    spark: SparkSession, table: InputTable, path: str, dtypes_infer: bool
) -> CreatedTable:
    is_sliced = os.path.isdir(path)
    src = os.path.join(path, "*.csv") if is_sliced else path
    # KBC datadir convention: non-sliced table files carry a header row
    # (manifest "columns" are authoritative names, not a headerless
    # marker — see reference tests/functional/dtypes days.csv.manifest);
    # sliced tables are always headerless
    names = table.column_names
    has_header = table.has_header if table.has_header is not None else not is_sliced
    reader = spark.read.options(
        sep=table.delimiter or ",",
        quote=table.enclosure or '"',
        escape=table.enclosure or '"',  # KBC CSVs escape quotes by doubling
        header=has_header,
    )
    schema = None if dtypes_infer else _manifest_schema(table)
    if schema is not None:
        reader = reader.schema(schema)
    else:
        reader = reader.option("inferSchema", True)
    try:
        df = reader.csv(src)
    except Exception as exc:  # pragma: no cover - IO failure path
        raise UserException(f"Error importing table {table.destination}: {exc}") from exc
    if names and schema is None:
        if len(names) != len(df.columns):
            raise UserException(
                f"Table {table.destination}: manifest lists {len(names)} columns, "
                f"file has {len(df.columns)}"
            )
        df = df.toDF(*names)
    elif names and schema is not None and not has_header:
        # schema carries the names already (built from manifest columns)
        pass
    register_view(df, table.destination)
    return CreatedTable(name=table.destination, is_view=True)
