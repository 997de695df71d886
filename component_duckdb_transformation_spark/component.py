"""The component: Keboola data-directory contract around the Spark engine
(reference ``src/component.py:28-194``; lifecycle SURVEY §3.1).

Flow of ``run()`` (mirrors reference src/component.py:36-56):

1. parse ``config.json`` -> :class:`Configuration`
2. optional startup syntax check
3. import: every entry under ``in/tables`` becomes a temp view
   (manifest-driven schema; input-mapping destination overrides name),
   ``threads`` imports at a time
4. execute: DAG-batched blocks of SQL scripts on Spark (FAIR pools,
   fail-fast)
5. export: every output-mapping entry -> quoted CSV + manifest,
   ``threads`` exports at a time; a source mapped twice is exported
   once, with its last mapping
6. out-file manifests

Steps 3-5 share one fail-fast pool (:func:`plans.orchestrator.run_fail_fast`,
``threads`` wide); the pool threads inherit the caller's Spark job group
and local properties.

Divergence from the reference, by design: no ``.duck.db`` passthrough —
the persistent store is the TableStore's Parquet warehouse dir, which
callers may place under ``files/`` for the same carry-across-runs
effect (SURVEY §7 hard-part 3).
"""

from __future__ import annotations

import json
import logging
import os
import shutil
import time
from typing import Optional

from pyspark import inheritable_thread_target
from pyspark.sql import SparkSession

from . import set_requested_engine_version
from .configuration import Block, ColumnSchema, Configuration, InputTable, OutputTable
from .exceptions import UserException
from .actions.results import ValidationResult
from .actions import sync_actions
from .plans.executor import SparkStatementExecutor, TableStore
from .plans.orchestrator import BlockOrchestrator, run_fail_fast
from .session import build_spark_session
from .system_resources import spark_resource_stats
from .sinks.table_export import export_file_manifests, export_table
from .sources.table_import import create_input_view
from .validators.sql_validator import SQLValidator

LOG = logging.getLogger(__name__)


def _load_manifest(path: str) -> dict:
    if not os.path.exists(path):
        return {}
    with open(path, encoding="utf-8") as fh:
        return json.load(fh)


def _schema_from_manifest(manifest: dict) -> tuple[list[str], list[ColumnSchema]]:
    """Column names + base types from either manifest format: legacy
    ``columns`` + ``column_metadata`` (KBC.datatype.basetype keys) or the
    newer ``schema`` list."""
    if "schema" in manifest:
        cols = []
        for entry in manifest["schema"]:
            base = (
                entry.get("data_type", {}).get("base", {}).get("type")
                if isinstance(entry.get("data_type"), dict)
                else None
            )
            cols.append(
                ColumnSchema(
                    name=entry["name"],
                    base_type=base,
                    nullable=entry.get("nullable", True),
                )
            )
        return [c.name for c in cols], cols
    names = list(manifest.get("columns", []))
    meta = manifest.get("column_metadata", {})
    # column names come from "columns" when present, else from the
    # metadata keys (sliced manifests may carry only column_metadata —
    # reference tests/functional/dtypes sliced.manifest)
    effective = names or list(meta.keys())
    schema: list[ColumnSchema] = []
    for name in effective:
        base = None
        nullable = True
        for kv in meta.get(name, []):
            if kv.get("key") == "KBC.datatype.basetype":
                base = kv.get("value")
            elif kv.get("key") == "KBC.datatype.nullable":
                # KBC metadata values are strings: 'false'/'0' must not
                # evaluate truthy via bool()
                nullable = str(kv.get("value")).strip().lower() in (
                    "1", "true", "yes", "t",
                )
        schema.append(ColumnSchema(name=name, base_type=base, nullable=nullable))
    return effective, schema


class Component:
    """One transformation job over a Keboola data directory."""

    def __init__(
        self,
        data_dir: Optional[str] = None,
        spark: Optional[SparkSession] = None,
    ):
        self.data_dir = data_dir or os.environ.get("KBC_DATADIR", "/data")
        cfg_path = os.path.join(self.data_dir, "config.json")
        if not os.path.exists(cfg_path):
            raise UserException(f"Configuration file not found: {cfg_path}")
        with open(cfg_path, encoding="utf-8") as fh:
            raw = json.load(fh)
        self.raw_config = raw
        self.params = Configuration(**raw.get("parameters", {}))
        set_requested_engine_version(self.params.duckdb_version)
        storage = raw.get("storage", {})
        self.input_mapping = storage.get("input", {}).get("tables", [])
        self.output_mapping = [
            OutputTable(**t) for t in storage.get("output", {}).get("tables", [])
        ]
        self.files_output_mapping = storage.get("output", {}).get("files", [])
        self._spark = spark
        self.executor: Optional[SparkStatementExecutor] = None

    # -- session ----------------------------------------------------------
    @property
    def spark(self) -> SparkSession:
        if self._spark is None:
            self._spark = build_spark_session(
                app_name="cdts-component",
                master=self.params.spark_master,
                threads=self.params.threads,
                max_memory_mb=self.params.max_memory_mb,
            )
        return self._spark

    # -- input discovery --------------------------------------------------
    def get_input_tables_definitions(self) -> list[InputTable]:
        """Scan ``in/tables``; the input mapping's destination (matched on
        the manifest ``id``) overrides the on-disk name
        (reference src/component.py:139-153)."""
        in_dir = os.path.join(self.data_dir, "in", "tables")
        if not os.path.isdir(in_dir):
            return []
        src_to_dest = {m["source"]: m.get("destination") for m in self.input_mapping}
        src_to_ftype = {
            m["source"]: m.get("file_type", "csv") for m in self.input_mapping
        }
        tables: list[InputTable] = []
        for entry in sorted(os.listdir(in_dir)):
            # skip manifests and hidden/placeholder files (.gitkeep in the
            # reference's own functional fixtures)
            if entry.endswith(".manifest") or entry.startswith("."):
                continue
            full = os.path.join(in_dir, entry)
            manifest = _load_manifest(full + ".manifest")
            source_id = manifest.get("id", entry)
            names, schema = _schema_from_manifest(manifest)
            tables.append(
                InputTable(
                    source=source_id,
                    destination=src_to_dest.get(source_id) or entry,
                    file_type=src_to_ftype.get(source_id, "csv"),
                    full_path=full,
                    delimiter=manifest.get("delimiter", ","),
                    enclosure=manifest.get("enclosure", '"'),
                    has_header=manifest.get("has_header"),
                    column_names=names,
                    schema=schema,
                )
            )
        return tables

    # -- lifecycle --------------------------------------------------------
    def run(self) -> None:
        start = time.time()
        if self.params.syntax_check_on_startup:
            result = SQLValidator(self.spark).validate_queries(self.params.blocks)
            if result.type.value == "danger":
                raise UserException(f"SQL syntax check failed:\n{result.message}")

        self._create_input_tables()

        warehouse = self.params.warehouse_dir or os.path.join(
            self.data_dir, "out", "files", ".spark-warehouse"
        )
        store = TableStore(self.spark, warehouse)
        self.executor = SparkStatementExecutor(self.spark, store)
        orchestrator = BlockOrchestrator(
            execute_script=self.executor.execute_query,
            max_workers=self.params.threads or 4,
            cancel_running=self._cancel_all_jobs,
        )
        orchestrator.add_queries_from_blocks(self.params.blocks)
        stats = orchestrator.execute()
        LOG.info(
            "Executed %d queries in %.2fs (%d batches)",
            stats.total_queries,
            stats.total_execution_time,
            stats.total_batches,
        )
        if self.params.debug:
            # reference logs duckdb_memory()/duckdb_temporary_files()
            # under debug (src/duckdb_client.py:34-48); this is the Spark
            # analogue: heap, per-executor storage memory, spill scratch
            res = spark_resource_stats(self.spark)
            LOG.info(
                "Engine memory: jvm_heap_used_mb=%s jvm_heap_max_mb=%s",
                res["jvm_heap_used_mb"],
                res["jvm_heap_max_mb"],
            )
            for ex in res["executors"]:
                LOG.info(
                    "Executor memory: %s storage_free_mb=%s storage_max_mb=%s",
                    ex["executor"],
                    ex["storage_free_mb"],
                    ex["storage_max_mb"],
                )
            for d in res["scratch_dirs"]:
                LOG.info("Temporary files: %s bytes=%s", d["path"], d["bytes"])

        self._export_tables(store)
        export_file_manifests(
            self.files_output_mapping, os.path.join(self.data_dir, "out", "files")
        )
        LOG.info("Component finished in %.2fs", time.time() - start)

    def _cancel_all_jobs(self) -> None:
        try:
            self.spark.sparkContext.cancelAllJobs()
        except Exception:  # pragma: no cover
            pass

    def _run_pooled(self, fn, items, name, what: str) -> None:
        """Imports and exports: the orchestrator's fail-fast pool, with the
        caller's job group and local properties carried into each task."""
        run_fail_fast(
            fn,
            items,
            max_workers=self.params.threads or 4,
            name=name,
            what=what,
            cancel_running=self._cancel_all_jobs,
            thread_target=self._inherit_local_properties,
        )

    def _inherit_local_properties(self, fn):
        """``fn`` with a copy of this thread's Spark local properties (job
        group, scheduler pool) applied in whichever thread runs it."""
        wrap = inheritable_thread_target(self.spark)
        # pinned-thread mode off: pyspark hands the session back, and there
        # are no per-thread properties to carry
        return fn if wrap is self.spark else wrap(fn)

    def _create_input_tables(self) -> None:
        t0 = time.time()
        # one view per destination, the last definition winning as it
        # would serially
        tables = {t.destination: t for t in self.get_input_tables_definitions()}

        def create(table: InputTable) -> None:
            created = create_input_view(self.spark, table, self.params.dtypes_infer)
            LOG.info("Input table created: %s (is_view=%s)", created.name, created.is_view)

        self._run_pooled(
            create, tables.values(), name=lambda t: t.destination, what="Input import"
        )
        LOG.debug("Input tables created in %.2fs", time.time() - t0)

    def _export_tables(self, store: TableStore) -> None:
        out_dir = os.path.join(self.data_dir, "out", "tables")
        os.makedirs(out_dir, exist_ok=True)
        # a source mapped twice writes one file: export it once with its
        # last mapping, the result a serial export loop leaves
        mappings = {m.source: m for m in self.output_mapping}

        def export(mapping: OutputTable) -> None:
            state = store.record(mapping.source)
            export_table(
                self.spark,
                mapping.source,
                mapping,
                out_dir,
                order_by=state.order_by if state else None,
                sliced=self.params.sliced_output,
            )

        self._run_pooled(
            export, mappings.values(), name=lambda m: m.source, what="Table export"
        )

    # -- sync actions (reference src/component.py:93-137) ------------------
    def syntax_check(self) -> ValidationResult:
        return SQLValidator(self.spark).validate_queries(self.params.blocks)

    def lineage_visualization(self) -> ValidationResult:
        return sync_actions.lineage_visualization(self.params.blocks)

    def execution_plan_visualization(self) -> ValidationResult:
        return sync_actions.execution_plan_visualization(
            self.params.blocks, self.params.threads or 4
        )

    def expected_input_tables(self) -> ValidationResult:
        available = self.get_input_tables_definitions()
        return sync_actions.expected_input_tables(
            self.params.blocks, available or None
        )

    def execute_action(self) -> Optional[ValidationResult]:
        """Dispatch on config ``action`` (default: run)."""
        action = self.raw_config.get("action", "run")
        if action == "run":
            self.run()
            return None
        handler = {
            "syntax_check": self.syntax_check,
            "lineage_visualization": self.lineage_visualization,
            "execution_plan_visualization": self.execution_plan_visualization,
            "expected_input_tables": self.expected_input_tables,
        }.get(action)
        if handler is None:
            raise UserException(f"Unknown action: {action}")
        return handler()
