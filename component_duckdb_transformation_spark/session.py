"""SparkSession factory — the engine analogue of the reference's
``duckdb_client.init_connection`` (reference src/duckdb_client.py:10-31).

The reference opens one embedded DuckDB connection configured with
``threads``, ``max_memory``, ``temp_directory`` and
``preserve_insertion_order: False``. Here one SparkSession plays that
role; the mapping is:

- ``threads``                  -> ``local[N]`` master / shuffle partitions
- ``max_memory``               -> ``spark.driver.memory``
- ``temp_directory`` (spill)   -> ``spark.local.dir``
- ``preserve_insertion_order`` -> free (Spark is unordered without ORDER BY)

Scale posture (100 TB): AQE on (runtime coalescing, skew-join splitting),
FAIR scheduler so the DAG executor's concurrent batches share the cluster,
UTC session timezone + NTZ timestamps for engine-independent semantics,
Arrow for any pandas exchange.
"""

from __future__ import annotations

import os
from typing import Mapping

from pyspark.sql import SparkSession

from .system_resources import detect_cpu_count, detect_memory_limit_mb


def build_spark_session(
    app_name: str = "cdts-engine",
    master: str | None = None,
    threads: int | None = None,
    max_memory_mb: int | None = None,
    temp_directory: str | None = None,
    shuffle_partitions: int | None = None,
    extra_conf: Mapping[str, str] | None = None,
) -> SparkSession:
    """Create (or get) the engine SparkSession.

    ``threads``/``max_memory_mb`` default to cgroup autodetection exactly as
    the reference's Configuration does (reference src/configuration.py:54-79).
    On a real cluster pass ``master`` explicitly and the local[] sizing is
    skipped; every other conf still applies.
    """
    threads = threads or int(os.environ.get("SPARK_GRAFT_CPUS", 0)) or detect_cpu_count()
    max_memory_mb = max_memory_mb or detect_memory_limit_mb()
    master = master or f"local[{threads}]"
    # Rule of thumb: a couple of partitions per core locally; on a cluster
    # AQE coalesces the excess, so err high.
    shuffle_partitions = shuffle_partitions or max(32, threads)

    builder = (
        SparkSession.builder.appName(app_name)
        .config("spark.sql.shuffle.partitions", str(shuffle_partitions))
        # Deterministic, engine-neutral time semantics (DuckDB TIMESTAMP is
        # timezone-naive; TIMESTAMP_NTZ matches it).
        .config("spark.sql.session.timeZone", "UTC")
        .config("spark.sql.timestampType", "TIMESTAMP_NTZ")
        # DuckDB identifiers are case-insensitive (reference README.md:105-121)
        .config("spark.sql.caseSensitive", "false")
        # Adaptive execution: runtime partition coalescing, skew-join
        # handling, dynamic join strategy switches — the scale safety net.
        .config("spark.sql.adaptive.enabled", "true")
        .config("spark.sql.adaptive.coalescePartitions.enabled", "true")
        # coalesce by SIZE, not by initial parallelism: small shuffles
        # collapse to few tasks (cuts fixed per-query scheduling cost).
        # The advisory target is deliberately small: coalescing only
        # MERGES sub-advisory partitions (it never splits large ones), so
        # on a cluster where stages shuffle far more than 4 MB/partition
        # it is inert, while locally it keeps mid-size joins from being
        # squashed to 1 task (measured 3-4x on the dedup self-joins).
        # Deployments that want larger skew-split chunks pass their own
        # size in ``extra_conf``.
        .config("spark.sql.adaptive.coalescePartitions.parallelismFirst", "false")
        .config("spark.sql.adaptive.advisoryPartitionSizeInBytes", "4m")
        .config("spark.sql.adaptive.skewJoin.enabled", "true")
        # Concurrent DAG batches (plans.orchestrator) submit jobs from
        # multiple threads; FAIR scheduling keeps one long query from
        # starving its batch-mates (reference runs per-thread cursors,
        # src/query_orchestrator.py:343-353).
        .config("spark.scheduler.mode", "FAIR")
        # Arrow for every pandas_udf / toPandas boundary.
        .config("spark.sql.execution.arrow.pyspark.enabled", "true")
        # Tolerate TIMESTAMP(NANOS) parquet (read as BIGINT; converted to
        # us TIMESTAMP_NTZ by sources.parquet_io.read_parquet)
        .config("spark.sql.legacy.parquet.nanosAsLong", "true")
        .config("spark.ui.enabled", "false")
        .config("spark.ui.showConsoleProgress", "false")
    )
    if master.startswith("local"):
        builder = builder.master(master).config("spark.driver.memory", f"{max_memory_mb}m")
    else:
        builder = builder.master(master)
    if temp_directory:
        builder = builder.config("spark.local.dir", temp_directory)
    for key, value in (extra_conf or {}).items():
        builder = builder.config(key, value)
    spark = builder.getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    # string-similarity functions DuckDB ships natively (Python-boundary
    # pandas UDFs; see functions/text_udfs.py)
    from .functions.text_udfs import register_text_udfs

    register_text_udfs(spark)
    return spark
