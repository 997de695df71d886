"""Spark statement execution: the engine half the reference delegates to
DuckDB (``cursor.execute(sql)``, reference src/query_orchestrator.py:351).

Statement routing:

- ``CREATE [OR REPLACE] VIEW``  -> Spark temporary view (lazy, like the
  reference's CSV-input views)
- ``CREATE [OR REPLACE] TABLE`` -> materialized Parquet table in the
  session warehouse dir + temp view over it. Materialization matches
  DuckDB CTAS semantics (computed once, then mutable) and is the sane
  100 TB behavior: downstream readers re-scan Parquet instead of
  re-computing the plan.
- ``INSERT INTO``               -> Parquet append + view refresh
- ``UPDATE`` / ``DELETE``       -> SQL rewrite to a full-table SELECT
  (CASE-projection / negated-predicate filter), written as a new table
  version and re-bound — copy-on-write over plain Parquet, the same
  model table formats use, minus manifests
- anything else                 -> ``spark.sql`` + noop-format write
  (executes the plan distributed, discards rows — the analogue of
  DuckDB executing a bare SELECT)

All SQL passes through functions.dialect.translate first.
"""

from __future__ import annotations

import contextlib
import dataclasses
import logging
import os
import re
import shutil
import threading
import uuid
from dataclasses import dataclass, field
from typing import Dict, List, Optional

from pyspark.sql import DataFrame, SparkSession

from ..exceptions import UserException
from ..functions.dialect import (
    SCAN_ROW_NUMBER,
    _alias_expr_hint,
    _pop_operand,
    _rewrite_array_type_suffix,
    column_type_hints,
    expand_scopes,
    translate,
)
from .orchestrator import Query
from .sql_parser import ParsedStatement, StatementType, parse_statement
from .sql_tokens import (
    Token,
    _bt,
    closing,
    code_tokens,
    next_code,
    split_top_commas,
    tokenize,
    top_level,
    unquote_name,
)

LOG = logging.getLogger(__name__)


_DUCK_TYPE_NAMES = {
    "string": "VARCHAR",
    "int": "INTEGER",
    "binary": "BLOB",
    "timestamp_ntz": "TIMESTAMP",
}


def _duck_type_name(dt) -> str:
    """Spark type -> DuckDB's DESCRIBE type spelling (VARCHAR, BLOB,
    ``T[]`` arrays, MAP(K, V), STRUCT(name T, ...))."""
    from pyspark.sql import types as T

    if isinstance(dt, T.ArrayType):
        return _duck_type_name(dt.elementType) + "[]"
    if isinstance(dt, T.MapType):
        return (
            f"MAP({_duck_type_name(dt.keyType)}, "
            f"{_duck_type_name(dt.valueType)})"
        )
    if isinstance(dt, T.StructType):
        inner = ", ".join(
            f"{f.name} {_duck_type_name(f.dataType)}" for f in dt.fields
        )
        return f"STRUCT({inner})"
    if isinstance(dt, T.DecimalType):
        return f"DECIMAL({dt.precision},{dt.scale})"
    s = dt.simpleString()
    return _DUCK_TYPE_NAMES.get(s, s.upper())


def _as_read_schema(schema):
    """The written DataFrame's schema, nullability-normalized the way
    parquet inference reports it (every level nullable) — pinning the
    writer's nullable=False on the read side would claim a guarantee
    the file format does not carry."""
    from pyspark.sql.types import ArrayType, MapType, StructField, StructType

    def conv(dt):
        if isinstance(dt, StructType):
            return StructType(
                [
                    StructField(f.name, conv(f.dataType), True, f.metadata)
                    for f in dt.fields
                ]
            )
        if isinstance(dt, ArrayType):
            return ArrayType(conv(dt.elementType), True)
        if isinstance(dt, MapType):
            return MapType(conv(dt.keyType), conv(dt.valueType), True)
        return dt

    return conv(schema)


@dataclass
class TableState:
    """One catalog record per script-created relation, like a DuckDB
    catalog entry: its physical state (views have no ``path``) plus the
    metadata CREATE declared or inherited."""

    name: str
    version: int = 0
    path: Optional[str] = None  # None for a view
    order_by: Optional[str] = None  # terminal ORDER BY clause text, for export
    # True for tables fed by streaming ingest: data lives in
    # ingest_batch=<id> partition dirs (idempotent micro-batch commits)
    stream: bool = False
    # True while the table is KNOWN row-free (bare-DDL create, nothing
    # inserted yet): the first keyed INSERT's clash probe can skip its
    # join against current keys — no row can clash (r13-opt). Any
    # mutation conservatively clears it.
    empty: bool = False
    # the written Spark schema (nullability normalized the way parquet
    # inference would): lets the view bind as a schema-pinned DataFrame
    # read, so per-statement re-resolutions never pay a footer-reading
    # schema-inference job (r14 driver-floor work, guide §1.2)
    schema: object = None
    # PRIMARY KEY / UNIQUE and NOT NULL columns (lowercase) and CHECK
    # expressions: DuckDB constraint semantics on INSERT and UPDATE
    primary_key: List[str] = field(default_factory=list)
    not_null: List[str] = field(default_factory=list)
    checks: List[str] = field(default_factory=list)
    # ENUM columns, lowercase column -> enum type name: ordinal
    # comparison/sort semantics (DuckDB orders enums by declaration
    # position, not lexically)
    enum_columns: Dict[str, str] = field(default_factory=dict)
    # TIME columns (lowercase), stored as epoch-day TIMESTAMP (Spark has
    # no TIME); published as the 'time' pseudo-hint so the 24 h wrap
    # holds when a value reaches arithmetic through the column
    time_columns: set = field(default_factory=set)


def _without_column(
    state: TableState, col: str, to: Optional[str] = None
) -> dict:
    """The constraint and type metadata after column ``col`` is
    renamed to ``to`` or, with no ``to``, dropped: NOT NULL, key,
    enum and TIME markings follow the column, and a CHECK on a
    dropped column goes with it (as in DuckDB)."""
    cl = col.lower()

    def is_col(t: Token) -> bool:
        return (
            t.kind in ("word", "bident", "qident")
            and t.text.strip('`"').lower() == cl
        )

    def renamed(cols):
        return [to.lower() if c == cl else c for c in cols if to or c != cl]

    if to:
        checks = [
            "".join(_bt(to) if is_col(t) else t.text for t in tokenize(e))
            for e in state.checks
        ]
    else:
        checks = [
            e for e in state.checks if not any(map(is_col, tokenize(e)))
        ]
    return dict(
        primary_key=renamed(state.primary_key),
        not_null=renamed(state.not_null),
        checks=checks,
        enum_columns={
            (to.lower() if c == cl else c): e
            for c, e in state.enum_columns.items()
            if to or c != cl
        },
        time_columns=set(renamed(state.time_columns)),
    )


# partition-style directory key for streaming micro-batch commits;
# projected away by the table view
_BATCH_COL = "ingest_batch"


class TableStore:
    """Catalog and Parquet warehouse of the relations a script creates.

    Replaces the reference's persistent ``.duck.db`` working database
    (reference src/component.py:58-66): one :class:`TableState` record
    per table or view, keyed case-insensitively like DuckDB's catalog.
    Every CREATE TABLE lands here, versioned per mutation, always
    exposed as a temp view under its logical name; a view's record has
    no directory. Records are published, moved and removed whole, under
    the store lock.
    """

    def __init__(self, spark: SparkSession, warehouse_dir: str):
        self.spark = spark
        self.warehouse_dir = warehouse_dir
        self.tables: Dict[str, TableState] = {}
        self._lock = threading.Lock()
        # per-table write locks: concurrent appends to ONE directory can
        # race on the FileOutputCommitter _temporary staging dir (one
        # job's commit cleanup deletes the other's in-flight files), so
        # same-table writers serialize here; different tables still
        # write fully in parallel
        self._write_locks: Dict[str, threading.Lock] = {}
        os.makedirs(warehouse_dir, exist_ok=True)

    def record(self, name: str) -> Optional[TableState]:
        return self.tables.get(name.lower())

    def table(self, name: str) -> Optional[TableState]:
        """``name``'s record when it is a table, not a view."""
        state = self.record(name)
        return state if state is not None and state.path is not None else None

    @staticmethod
    def _check_kind(name: str, state: Optional[TableState], view: bool) -> None:
        """DuckDB's catalog error when a statement naming a view (or a
        table) meets ``name``'s record of the other kind."""
        if state is not None and (state.path is None) != view:
            have, want = ("Table", "View") if view else ("View", "Table")
            raise UserException(
                f"Catalog Error: Existing object {name} is of type {have}, "
                f"trying to replace with type {want}"
            )

    def _claim(self, name: str, view: bool, replace: bool) -> Optional[TableState]:
        """The record a CREATE of ``name`` replaces (caller holds the
        lock). Like DuckDB, a table never replaces a view, nor a view a
        table, and only CREATE OR REPLACE replaces at all."""
        state = self.tables.get(name.lower())
        self._check_kind(name, state, view)
        if state is not None and not replace:
            raise UserException(
                f'Catalog Error: {"View" if view else "Table"} with name '
                f'"{name}" already exists!'
            )
        return state

    def _write_lock(self, name: str) -> threading.Lock:
        with self._lock:
            lock = self._write_locks.get(name)
            if lock is None:
                lock = self._write_locks[name] = threading.Lock()
            return lock

    def _safe_dir(self, name: str) -> str:
        slug = re.sub(r"[^A-Za-z0-9_.-]", "_", name)
        return os.path.join(self.warehouse_dir, slug)

    def _bind_view(self, state: TableState) -> None:
        if state.stream or state.schema is None:
            # stream tables carry a partition column the schema-pinned
            # path would have to model; they stay on the re-resolving
            # text view (appends land as new partition dirs)
            projection = (
                f"* EXCEPT ({_BATCH_COL})" if state.stream else "*"
            )
            self.spark.sql(
                f"CREATE OR REPLACE TEMPORARY VIEW {_bt(state.name)} "
                f"AS SELECT {projection} FROM parquet.`{state.path}`"
            )
        else:
            # schema-pinned DataFrame bind: resolving the view reuses
            # this analyzed relation, so statements referencing the
            # table never pay the footer-reading schema-inference job
            # the text view re-ran on every resolution (~2 driver jobs
            # per statement on the executor pipelines, r14). The
            # listing is taken fresh here — every mutation re-binds.
            self.spark.read.schema(state.schema).parquet(
                state.path
            ).createOrReplaceTempView(_bt(state.name))

    def create_table(
        self,
        name: str,
        df: DataFrame,
        order_by: str | None = None,
        empty: bool = False,
        replace: bool = True,
        **catalog,
    ) -> None:
        """CREATE [OR REPLACE] TABLE: ``df`` becomes the first version
        of a fresh record whose order, constraint and type metadata
        (``catalog``: :class:`TableState` fields) replace the old."""
        fresh = TableState(name=name, order_by=order_by, empty=empty, **catalog)
        self._commit_version(name, df, fresh, replace)

    def create_view(
        self, name: str, sql: str, replace: bool = True, **catalog
    ) -> None:
        """CREATE [OR REPLACE] VIEW: bind ``name`` over the translated
        ``sql`` and publish its record (no path; ``catalog`` fields)."""
        with self._lock:
            self._claim(name, view=True, replace=replace)
        self.spark.sql(f"CREATE OR REPLACE TEMPORARY VIEW {_bt(name)} AS {sql}")
        with self._lock:
            self.tables[name.lower()] = TableState(name=name, **catalog)

    def _commit_version(
        self,
        name: str,
        df: DataFrame,
        fresh: TableState = None,
        replace: bool = True,
        **fields,
    ) -> None:
        """Write ``df`` as the next version of ``name``, then publish it
        under the lock — as the ``fresh`` record of a CREATE, or as the
        current record with ``fields`` set — and re-bind the view. A
        failed write publishes nothing — the table keeps its previous
        version, as in DuckDB — and its staged directory is removed."""
        with self._lock:
            state = (
                self._claim(name, view=False, replace=replace)
                if fresh
                else self.record(name)
            )
            version = (state.version if state else 0) + 1
            path = os.path.join(self._safe_dir(name), f"v{version}")
            # a renamed table keeps its directory: a new table under
            # the old name must not write over it
            live = {s.path for s in self.tables.values()}
            while path in live:
                version += 1
                path = os.path.join(self._safe_dir(name), f"v{version}")
            if state is not None:
                state.version = version
        try:
            df.write.mode("overwrite").parquet(path)
        except BaseException:
            shutil.rmtree(path, ignore_errors=True)
            raise
        with self._lock:
            state = fresh or state
            for key, value in fields.items():
                setattr(state, key, value)
            state.version = version
            state.path = path
            state.schema = _as_read_schema(df.schema)
            self.tables[name.lower()] = state
        self._bind_view(state)

    def insert_into(
        self, name: str, df: DataFrame, columns: Optional[List[str]] = None
    ) -> None:
        state = self.table(name)
        if state is None:
            raise UserException(f"INSERT INTO unknown table '{name}'")
        target = self.spark.table(_bt(name))
        if columns:
            aligned = _align_by_name(df, target, columns)
        else:
            aligned = _align_by_position(df, target)
        if state.stream:
            # batch-partitioned layout can't take root-level appends
            # (conflicting directory structures): fold the insert in via
            # copy-on-write, converting to a plain versioned table
            self._commit_version(
                name, target.unionAll(aligned), stream=False, empty=False
            )
            return
        state.empty = False
        with self._write_lock(name):
            aligned.write.mode("append").parquet(state.path)
            # the view is a schema-pinned DataFrame whose file listing
            # was taken at bind time: re-bind so the appended files are
            # visible. This is ONE py4j call + a driver-side listing —
            # far cheaper than the schema-inference job every statement
            # paid to re-resolve the old text view (r14; the r13 note
            # about refresh-only applied to the text-view spelling)
            self._bind_view(state)

    def commit_stream_batch(self, name: str, df: DataFrame, batch_id: int) -> None:
        """Idempotent micro-batch commit for streaming ingest: batch
        ``b`` always lands at ``<table>/ingest_batch=b`` with overwrite
        semantics, so a ``foreachBatch`` replay after a crash between
        the data write and the checkpoint commit overwrites the same
        directory instead of appending duplicates — exactly-once at the
        data layout level (the checkpoint and the table directory share
        one lifecycle: reuse both or neither). First batch creates the
        table."""
        with self._lock:
            state = self.record(name)
            created = state is None
            if created:
                state = TableState(name=name, version=1, stream=True)
                state.path = os.path.join(self._safe_dir(name), "stream_v1")
                self.tables[name.lower()] = state
            elif not state.stream:
                raise UserException(
                    f"stream ingest into non-stream table '{name}'"
                )
        df.write.mode("overwrite").parquet(
            os.path.join(state.path, f"{_BATCH_COL}={int(batch_id)}")
        )
        self.spark.catalog.refreshByPath(state.path)
        if created:
            # later batches only add ingest_batch=N partition dirs under
            # the same root: refreshByPath invalidates the file index
            # and re-resolution rediscovers partitions — the per-batch
            # view re-bind was redundant (r13-opt)
            self._bind_view(state)

    def rewrite(self, name: str, df: DataFrame, **catalog) -> None:
        """Copy-on-write: write a new version, re-bind the view; a column
        ALTER passes the record's new metadata as ``catalog``."""
        if self.table(name) is None:
            raise UserException(f"UPDATE/DELETE on unknown table '{name}'")
        self._commit_version(name, df, empty=False, **catalog)

    def rename_table(self, old: str, new: str) -> None:
        """Metadata-only rename: the whole record moves to the new name
        (same parquet files, new view name)."""
        with self._lock:
            state = self.table(old)
            if state is None:
                raise UserException(f"RENAME: unknown table '{old}'")
            if new.lower() != old.lower() and new.lower() in self.tables:
                raise UserException(
                    f'Catalog Error: Could not rename "{old}" to "{new}": '
                    "another entry with this name already exists!"
                )
            del self.tables[old.lower()]
            state.name = new
            self.tables[new.lower()] = state
        self.spark.catalog.dropTempView(old)
        self._bind_view(state)

    def drop(self, name: str, view: bool) -> bool:
        """DROP TABLE/VIEW: remove the record and the temp view; False
        when neither existed. Like DuckDB, DROP TABLE of a view (or
        DROP VIEW of a table) raises, IF EXISTS or not."""
        with self._lock:
            self._check_kind(name, self.record(name), view)
            state = self.tables.pop(name.lower(), None)
        return self.spark.catalog.dropTempView(name) or state is not None


def _align_by_position(df: DataFrame, target: DataFrame) -> DataFrame:
    """Positionally align INSERT source columns to the target schema."""
    t_fields = target.schema.fields
    if len(df.columns) != len(t_fields):
        raise UserException(
            f"INSERT column count {len(df.columns)} does not match target {len(t_fields)}"
        )
    from pyspark.sql import functions as F

    # backtick-quote source names: auto-generated ones like `2.5`
    # contain dots that unquoted resolution parses as struct access
    return df.select(
        *[
            F.col(_bt(src)).cast(fld.dataType).alias(fld.name)
            for src, fld in zip(df.columns, t_fields)
        ]
    )


def _align_by_name(df: DataFrame, target: DataFrame, columns: List[str]) -> DataFrame:
    """Align an explicit `INSERT INTO t (b, a) ...` column list by NAME:
    listed target columns take the source values in list order, unlisted
    target columns are filled with NULL (DuckDB semantics; the reference
    inherits them — reference src/query_orchestrator.py executes the
    statement verbatim in DuckDB)."""
    from pyspark.sql import functions as F

    if len(columns) != len(df.columns):
        raise UserException(
            f"INSERT column list has {len(columns)} names but source "
            f"provides {len(df.columns)} columns"
        )
    t_by_lower = {fld.name.lower(): fld for fld in target.schema.fields}
    src_for = {}
    for src, col in zip(df.columns, columns):
        key = col.lower()
        if key not in t_by_lower:
            raise UserException(f"INSERT column '{col}' not in target table")
        src_for[key] = src
    out = []
    for fld in target.schema.fields:
        src = src_for.get(fld.name.lower())
        if src is not None:
            out.append(F.col(_bt(src)).cast(fld.dataType).alias(fld.name))
        else:
            out.append(F.lit(None).cast(fld.dataType).alias(fld.name))
    return df.select(*out)


class SparkStatementExecutor:
    """Executes parsed scripts against a SparkSession."""

    def __init__(self, spark: SparkSession, store: TableStore):
        self.spark = spark
        self.store = store
        # scalar macros: name -> (params, body text), inlined at use
        self._macros: Dict[str, tuple[List[str], str]] = {}
        # temp views already bound (and fresh) for file-reading table
        # functions, plus abspath -> ALL view names ever bound for that
        # path (one per distinct option set). A COPY TO must invalidate
        # every view of the written path, not just the first one
        # re-registered — each cached view pins the OLD data and
        # inferred schema.
        self._file_read_views: set[str] = set()
        self._path_read_views: Dict[str, set] = {}
        # sequences: name -> {next, curr, inc, minv, maxv, cycle, used}
        self._sequences: Dict[str, dict] = {}
        # scratch parquet materializations for nextval over shuffled
        # sources (_seq_materialize_shuffled)
        self._seq_mat_counter = 0
        # ENUM types: lowercase name -> ordered value list (the columns
        # declared or inherited with one live on their table's record)
        self._enum_types: Dict[str, List[str]] = {}
        # dep-table schema cache for the hint publisher; entries for a
        # statement's outputs/dependencies are invalidated after every
        # non-SELECT statement (see _execute_statement)
        self._hint_schema_cache: Dict[str, list] = {}
        # Ambient job group at construction time (job groups are
        # thread-local and the orchestrator fans queries out to pool
        # threads, which would otherwise lose the caller's tag): nest
        # per-query groups under it as "<parent>/<query>" so harnesses
        # keyed on the parent group (bench.py::_active_times) can still
        # attribute the pipeline's jobs.
        try:
            self._parent_job_group = spark.sparkContext.getLocalProperty(
                "spark.jobGroup.id"
            )
        except Exception:  # noqa: BLE001 — attribution is best-effort
            self._parent_job_group = None

    def _expand_dynamic_pivot(self, sql: str, max_values: int = 200) -> str:
        """DuckDB statement-level dynamic pivot — ``PIVOT tbl ON col
        USING agg(x) GROUP BY keys [ORDER BY ...]`` — discovers the
        pivot values at plan time, like DuckDB does. Expanded to
        conditional aggregation (``agg FILTER (WHERE col = v) AS v``,
        values sorted ascending, NULLs excluded — DuckDB's column set)
        rather than Spark's PIVOT operator, so the USING expression
        passes through whole. Supports the explicit-GROUP BY form with
        one ON column and one USING aggregate; other shapes are left
        untouched (Spark-style ``PIVOT (... FOR ... IN ...)`` already
        parses natively). Value discovery caps at ``max_values`` —
        beyond that a pivot is almost certainly a mistake."""
        tokens = tokenize(sql)
        code = list(code_tokens(tokens))
        ctoks = [t for _, t in code]
        n = len(code)
        p_ci = next(
            (
                ci for ci, tok in top_level(ctoks)
                if tok.is_kw("PIVOT")
                and ci + 1 < n
                and ctoks[ci + 1].kind in ("word", "bident", "qident")
            ),
            None,
        )
        if p_ci is None:
            return sql
        name = unquote_name(code[p_ci + 1][1])

        def _find(kw: str, from_ci: int) -> Optional[int]:
            return next((j for j, t in top_level(ctoks, from_ci) if t.is_kw(kw)), None)

        on_ci = _find("ON", p_ci + 2)
        using_ci = _find("USING", p_ci + 2)
        group_ci = _find("GROUP", p_ci + 2)
        if on_ci is None or using_ci is None or group_ci is None:
            return sql
        order_ci = _find("ORDER", group_ci + 1)
        limit_ci = _find("LIMIT", group_ci + 1)
        tail_ci = min(x for x in (order_ci, limit_ci, n) if x is not None)

        raw = lambda ci: code[ci][0]  # noqa: E731
        on_expr = "".join(
            t.text for t in tokens[raw(on_ci) + 1: raw(using_ci)]
        ).strip()
        agg_expr = "".join(
            t.text for t in tokens[raw(using_ci) + 1: raw(group_ci)]
        ).strip()
        by_ci = group_ci + 1
        if by_ci < n and code[by_ci][1].is_kw("BY"):
            by_ci += 1
        keys = "".join(
            t.text
            for t in tokens[raw(by_ci): raw(tail_ci) if tail_ci < n else len(tokens)]
        ).strip()
        tail = (
            "".join(t.text for t in tokens[raw(tail_ci):]) if tail_ci < n else ""
        )
        if not on_expr or not agg_expr or not keys:
            return sql
        # ON col IN (v1, v2, ...): explicit value list, no discovery
        on_expr, in_values = _split_pivot_in_list(on_expr)
        if in_values is not None:
            values = in_values  # [(literal_sql, column_name)] as listed
        else:
            discovered = [
                r[0]
                for r in self.spark.sql(
                    f"SELECT DISTINCT {translate(on_expr)} AS v "
                    f"FROM {_bt(name)} "
                    f"WHERE ({translate(on_expr)}) IS NOT NULL ORDER BY 1 "
                    f"LIMIT {max_values + 1}"
                ).collect()
            ]
            if len(discovered) > max_values:
                raise UserException(
                    f"PIVOT ON {on_expr}: more than {max_values} "
                    "distinct values"
                )
            values = [(_pivot_value_literal(v), str(v)) for v in discovered]
        aggs = _split_pivot_aggs(agg_expr)
        cols = []
        for lit, vname in values:
            for expr, alias in aggs:
                if alias is None and len(aggs) > 1:
                    raise UserException(
                        "PIVOT with multiple USING aggregates requires "
                        "AS aliases (DuckDB's column-naming rule)"
                    )
                cname = (
                    vname if alias is None else f"{vname}_{alias}"
                ).replace("`", "``")
                filtered = _attach_agg_filter(
                    expr, f"({on_expr}) = {lit}"
                )
                if filtered is None:
                    raise UserException(
                        f"PIVOT USING expression has no aggregate call: {expr}"
                    )
                cols.append(f"{filtered} AS `{cname}`")
        head = "".join(t.text for t in tokens[: raw(p_ci)])
        return (
            f"{head}SELECT {keys}, {', '.join(cols)} FROM {_bt(name)} "
            f"GROUP BY {keys} {tail}"
        )

    def _summarize(self, name: str) -> DataFrame:
        """DuckDB ``SUMMARIZE t`` — per-column profile with DuckDB's
        column set (column_name, column_type, min, max, approx_unique,
        avg, std, q25/q50/q75, count, null_percentage). ONE distributed
        aggregation pass over the table (all columns' metrics in a
        single agg row); only that one row reaches the driver, where it
        pivots into the per-column result. Numeric-only metrics are
        NULL for other types, like DuckDB."""
        from pyspark.sql import functions as F
        from pyspark.sql import types as T

        name = name.strip().strip('`"')
        df = self.spark.table(_bt(name))
        numeric = (T.IntegralType, T.FractionalType, T.DecimalType)
        aggs = [F.count(F.lit(1)).alias("__n")]
        for i, fld in enumerate(df.schema.fields):
            c = F.col(_bt(fld.name))
            aggs += [
                F.min(c).cast("string").alias(f"min_{i}"),
                F.max(c).cast("string").alias(f"max_{i}"),
                F.approx_count_distinct(c).alias(f"au_{i}"),
                F.count(c).alias(f"cnt_{i}"),
            ]
            if isinstance(fld.dataType, numeric):
                d = c.cast("double")
                aggs += [
                    F.avg(d).alias(f"avg_{i}"),
                    F.stddev(d).alias(f"std_{i}"),
                    F.expr(
                        f"percentile_approx({_bt(fld.name)}, "
                        "array(0.25, 0.5, 0.75))"
                    ).alias(f"q_{i}"),
                ]
        row = df.agg(*aggs).collect()[0].asDict()
        n = row["__n"]
        out = []
        for i, fld in enumerate(df.schema.fields):
            is_num = isinstance(fld.dataType, numeric)
            q = row.get(f"q_{i}") or [None, None, None]
            out.append(
                (
                    fld.name,
                    fld.dataType.simpleString().upper(),
                    row[f"min_{i}"],
                    row[f"max_{i}"],
                    int(row[f"au_{i}"]),
                    float(row[f"avg_{i}"]) if is_num and row.get(f"avg_{i}") is not None else None,
                    float(row[f"std_{i}"]) if is_num and row.get(f"std_{i}") is not None else None,
                    str(q[0]) if q[0] is not None else None,
                    str(q[1]) if q[1] is not None else None,
                    str(q[2]) if q[2] is not None else None,
                    int(n),
                    round(100.0 * (n - row[f"cnt_{i}"]) / n, 2) if n else 0.0,
                )
            )
        return self.spark.createDataFrame(
            out,
            "column_name string, column_type string, min string, "
            "max string, approx_unique bigint, avg double, std double, "
            "q25 string, q50 string, q75 string, count bigint, "
            "null_percentage double",
        )

    def _describe(self, name: Optional[str], query: str) -> DataFrame:
        """DuckDB ``DESCRIBE t`` / ``DESCRIBE SELECT ...`` — schema
        report with DuckDB's column set (column_name, column_type,
        null, key, default, extra). Metadata-only: a DESCRIBE'd query
        is analyzed (Catalyst schema), never executed. Types render
        with DuckDB's names (VARCHAR, BLOB, ``T[]`` arrays,
        STRUCT(...))."""
        if name:
            schema = self.spark.table(_bt(name)).schema
        else:
            schema = self.spark.sql(translate(query)).schema
        rows = [
            (
                f.name,
                _duck_type_name(f.dataType),
                "YES" if f.nullable else "NO",
                None,
                None,
                None,
            )
            for f in schema.fields
        ]
        return self.spark.createDataFrame(
            rows,
            "column_name string, column_type string, null string, "
            "key string, default string, extra string",
        )

    # ------------------------------------------------------------------
    # ENUM types (DuckDB CREATE TYPE ... AS ENUM)
    # ------------------------------------------------------------------

    def _create_type(self, st: ParsedStatement) -> None:
        """``CREATE TYPE name AS ENUM ('a', ...)``. ENUM columns map to
        STRING plus an insert-time CHECK on the value set; casts
        validate via ``_bind_enum_casts``, comparisons and ORDER BY
        follow declaration order via ``_bind_enum_ordinals``. Non-ENUM
        CREATE TYPE (aliases, structs) is unsupported and raises."""
        name = st.head.name.lower()
        tokens = tokenize(st.tail)
        code = [i for i, t in enumerate(tokens) if t.kind not in ("ws", "comment")]
        if not (
            len(code) > 2
            and tokens[code[0]].is_kw("AS")
            and tokens[code[1]].is_kw("ENUM")
            and tokens[code[2]].text == "("
        ):
            raise UserException(
                f"Only CREATE TYPE ... AS ENUM is supported: {st.sql[:80]}"
            )
        vals: List[str] = []
        close = closing(tokens, code[2])
        for a, b in split_top_commas(tokens, code[2] + 1, close):
            if a == b == close:
                continue  # ENUM () or a trailing comma
            arg = [t for t in tokens[a:b] if t.kind not in ("ws", "comment")]
            if len(arg) != 1 or arg[0].kind != "string":
                raise UserException(
                    "CREATE TYPE AS ENUM: values must be string "
                    f"literals: {st.sql[:80]}"
                )
            vals.append(arg[0].text[1:-1].replace("''", "'"))
        if name in self._enum_types:
            raise UserException(f'Type "{name}" already exists')
        self._enum_types[name] = vals

    def _drop_type(self, st: ParsedStatement) -> None:
        name = st.head.name.lower()
        if self._enum_types.pop(name, None) is None and not st.head.if_exists:
            raise UserException(
                f"Catalog Error: Type with name {name} does not exist!"
            )

    def _enum_check_expr(self, ename: str, operand: str) -> str:
        vals = ", ".join(
            "'" + v.replace("'", "''") + "'" for v in self._enum_types[ename]
        )
        return (
            f"(CASE WHEN ({operand}) IS NULL OR ({operand}) IN ({vals}) "
            f"THEN CAST(({operand}) AS STRING) ELSE "
            f"CAST(raise_error(concat('Conversion Error: Could not "
            f"convert string ''', CAST(({operand}) AS STRING), "
            f"''' to ENUM {ename}')) AS STRING) END)"
        )

    def _bind_enum_casts(self, sql: str) -> str:
        """Rewrite ``enum_range(NULL::name)`` to the value-array
        literal, and ``x::name`` / ``CAST(x AS name)`` to a validating
        STRING expression, for every registered ENUM name."""
        low = sql.lower()
        if not any(n in low for n in self._enum_types):
            return sql
        tokens = tokenize(sql)
        out: List[Token] = []
        i = 0
        n = len(tokens)
        changed = False
        while i < n:
            tok = tokens[i]
            nxt = next_code(tokens, i)
            # enum_range(NULL::name) — before the :: pass eats the name
            if (
                tok.kind == "word"
                and tok.text.lower() == "enum_range"
                and nxt < n
                and tokens[nxt].kind == "op" and tokens[nxt].text == "("
            ):
                close = closing(tokens, nxt)
                inner = [
                    t for t in tokens[nxt + 1: close]
                    if t.kind not in ("ws", "comment")
                ]
                ename = (
                    inner[-1].text.lower()
                    if inner and inner[-1].kind == "word" else None
                )
                if ename in self._enum_types:
                    vals = ", ".join(
                        "'" + v.replace("'", "''") + "'"
                        for v in self._enum_types[ename]
                    )
                    out.extend(tokenize(f"array({vals})"))
                    i = close + 1
                    changed = True
                    continue
            if (
                tok.kind == "op" and tok.text == "::"
                and nxt < n and tokens[nxt].kind == "word"
                and tokens[nxt].text.lower() in self._enum_types
            ):
                operand = "".join(t.text for t in _pop_operand(out)).strip()
                expr = self._enum_check_expr(
                    tokens[nxt].text.lower(), operand
                )
                out.extend(tokenize(expr))
                i = nxt + 1
                changed = True
                continue
            if (
                tok.kind == "word" and tok.upper == "CAST"
                and nxt < n and tokens[nxt].kind == "op"
                and tokens[nxt].text == "("
            ):
                close = closing(tokens, nxt)
                body = tokens[nxt + 1: close]
                code = [
                    (k, t) for k, t in enumerate(body)
                    if t.kind not in ("ws", "comment")
                ]
                if (
                    len(code) >= 3
                    and code[-2][1].is_kw("AS")
                    and code[-1][1].kind == "word"
                    and code[-1][1].text.lower() in self._enum_types
                ):
                    operand = "".join(
                        t.text for t in body[: code[-2][0]]
                    ).strip()
                    expr = self._enum_check_expr(
                        code[-1][1].text.lower(), operand
                    )
                    out.extend(tokenize(expr))
                    i = close + 1
                    changed = True
                    continue
            out.append(tok)
            i += 1
        return "".join(t.text for t in out) if changed else sql

    def _check_enum_member(self, ename: str, lit_tok: str) -> None:
        """A positional rewrite of a 'lit'::ename operand bypasses the
        cast pass's validating CASE, so validate the literal here —
        DuckDB raises a Conversion Error for a non-member (and a silent
        array_position miss would return 0, comparing as before-first
        instead of erroring)."""
        val = lit_tok[1:-1].replace("''", "'")
        if val not in self._enum_types[ename]:
            raise UserException(
                f"Conversion Error: Could not convert string '{val}' "
                f"to ENUM {ename}"
            )

    def _bind_enum_ordinals(self, sql: str, deps) -> str:
        """DuckDB orders ENUM values by declaration position, not
        lexically; this engine stores enum columns as STRING, so plain
        ORDER BY / range comparisons / min-max over them would sort
        alphabetically — a silent wrong answer for value lists like
        ('low', 'medium', 'high'). Rewrite the positional operations on
        DDL-declared enum columns of the statement's referenced tables
        to ``array_position(<declaration array>, col)``:

        - ORDER BY items (statement-level and window OVER) that are a
          bare/qualified enum column ref
        - ``< > <= >=`` comparisons where one simple operand is an enum
          column ref (the other side joins via array_position too —
          string literals behave like DuckDB's cast-to-enum)
        - ``min(col)`` / ``max(col)`` round-trip through the ordinal

        A column name that resolves to different value lists (or to a
        plain column) across the referenced tables is ambiguous without
        full name resolution and keeps lexical semantics; equality and
        grouping are value-based and never rewritten. Compound
        comparison operands (``x || col < 'v'``) are left lexical —
        boundary-token checks keep the rewrite from splitting a larger
        expression."""
        colmap: Dict[str, List[str]] = {}
        drop: set = set()
        enum_maps = {t: self._catalog(t).enum_columns for t in deps or []}
        for emap in enum_maps.values():
            for c, ename in emap.items():
                vals = self._enum_types.get(ename)
                if vals is None:
                    continue
                if c in colmap and colmap[c] != vals:
                    drop.add(c)
                else:
                    colmap[c] = vals
        if not colmap:
            return sql
        for tbl, emap in enum_maps.items():
            for c in self._table_columns(tbl) or []:
                cl = c.lower()
                if cl not in colmap:
                    continue
                ename = emap.get(cl)
                if ename is None or self._enum_types.get(ename) != colmap[cl]:
                    drop.add(cl)
        colmap = {c: v for c, v in colmap.items() if c not in drop}
        if not colmap:
            return sql

        tokens = tokenize(sql)
        n = len(tokens)

        def arr(col: str) -> str:
            vals = ", ".join(
                "'" + v.replace("'", "''") + "'" for v in colmap[col]
            )
            return f"array({vals})"

        def ref_at(i: int):
            """(lo, hi_exclusive, col_lower, text) when tokens[i] starts
            a bare or single-qualified identifier whose FINAL segment is
            an enum column; else None."""
            if i >= n or tokens[i].kind not in ("word", "bident", "qident"):
                return None
            j = next_code(tokens, i)
            if j < n and tokens[j].kind == "op" and tokens[j].text == ".":
                k = next_code(tokens, j)
                if k < n and tokens[k].kind in ("word", "bident", "qident"):
                    col = unquote_name(tokens[k]).lower()
                    if col in colmap:
                        # not a deeper dotted path
                        m = next_code(tokens, k)
                        if m < n and tokens[m].kind == "op" and tokens[
                            m
                        ].text in (".", "("):
                            return None
                        txt = "".join(t.text for t in tokens[i: k + 1])
                        return (i, k + 1, col, txt)
                return None
            col = unquote_name(tokens[i]).lower()
            if col in colmap:
                m = next_code(tokens, i)
                if m < n and tokens[m].kind == "op" and tokens[m].text in (
                    ".",
                    "(",
                ):
                    return None
                return (i, i + 1, col, tokens[i].text)
            return None

        _BOUND_BEFORE = {
            "SELECT", "WHERE", "AND", "OR", "NOT", "WHEN", "THEN", "ELSE",
            "BY", "ON", "HAVING", "CASE",
        }

        out: List[Token] = []
        i = 0
        while i < n:
            tok = tokens[i]
            # min(col) / max(col)
            if tok.kind == "word" and tok.text.lower() in ("min", "max"):
                p = next_code(tokens, i)
                if p < n and tokens[p].kind == "op" and tokens[p].text == "(":
                    close = closing(tokens, p)
                    inner_lo = next_code(tokens, p)
                    r = ref_at(inner_lo)
                    if (
                        r is not None
                        and next_code(tokens, r[1] - 1) == close
                    ):
                        _, _, col, txt = r
                        fn = tok.text.lower()
                        out.extend(tokenize(
                            f"element_at({arr(col)}, CAST({fn}("
                            f"array_position({arr(col)}, {txt})) AS INT))"
                        ))
                        i = close + 1
                        continue
            # ORDER BY items
            if tok.is_kw("ORDER"):
                p = next_code(tokens, i)
                if p < n and tokens[p].is_kw("BY"):
                    out.extend(tokens[i:p + 1])
                    end = closing(tokens, p)
                    end = next(
                        (
                            j for j, t in top_level(tokens, p + 1, end)
                            if t.is_kw(
                                "LIMIT", "OFFSET", "FETCH", "ROWS",
                                "RANGE", "GROUPS", "UNION", "EXCEPT",
                                "INTERSECT", "HAVING", "WINDOW",
                                "QUALIFY", "EXCLUDE", "USING",
                            )
                        ),
                        end,
                    )
                    for item_lo, j in split_top_commas(tokens, p + 1, end):
                        item = tokens[item_lo:j]
                        code = [
                            (k, x) for k, x in enumerate(item)
                            if x.kind not in ("ws", "comment")
                        ]
                        tail0 = len(code)
                        while tail0 and code[tail0 - 1][1].is_kw(
                            "ASC", "DESC", "FIRST", "LAST", "NULLS"
                        ):
                            tail0 -= 1
                        r = (
                            ref_at(item_lo + code[0][0])
                            if code[:tail0]
                            else None
                        )
                        if (
                            r is not None
                            and tail0 >= 1
                            and r[1] - item_lo == code[tail0 - 1][0] + 1
                        ):
                            _, _, col, txt = r
                            out.extend(tokenize(
                                f" array_position({arr(col)}, {txt})"
                            ))
                            out.extend(item[code[tail0 - 1][0] + 1:])
                        else:
                            out.extend(item)
                        if j < end:
                            out.append(tokens[j])  # the comma
                    i = end
                    continue
            # range comparisons — positional ONLY when BOTH sides are
            # enum-typed (col ref or 'lit'::ename cast) with the same
            # value list; DuckDB compares enum-vs-bare-VARCHAR
            # LEXICALLY (the enum side casts to varchar), which the
            # stored-as-STRING representation already matches
            if tok.kind == "op" and tok.text in ("<", ">", "<=", ">="):
                lref = None  # (lo_k, values, text)
                k = len(out) - 1
                while k >= 0 and out[k].kind in ("ws", "comment"):
                    k -= 1
                if k >= 0 and out[k].kind in ("word", "bident", "qident"):
                    k2 = k - 1
                    while k2 >= 0 and out[k2].kind in ("ws", "comment"):
                        k2 -= 1
                    if (
                        k2 >= 0
                        and out[k2].kind == "op"
                        and out[k2].text == "::"
                    ):
                        # 'lit'::ename
                        ename = unquote_name(out[k]).lower()
                        k3 = k2 - 1
                        while k3 >= 0 and out[k3].kind in ("ws", "comment"):
                            k3 -= 1
                        if (
                            k3 >= 0
                            and out[k3].kind == "string"
                            and ename in self._enum_types
                        ):
                            self._check_enum_member(
                                ename, out[k3].text
                            )
                            lref = (
                                k3,
                                self._enum_types[ename],
                                out[k3].text,
                            )
                    else:
                        lo_k = k
                        if (
                            k2 >= 0
                            and out[k2].kind == "op"
                            and out[k2].text == "."
                        ):
                            k3 = k2 - 1
                            while k3 >= 0 and out[k3].kind in (
                                "ws", "comment"
                            ):
                                k3 -= 1
                            if k3 >= 0 and out[k3].kind in (
                                "word", "bident", "qident"
                            ):
                                lo_k = k3
                        col = unquote_name(out[k]).lower()
                        before = lo_k - 1
                        while before >= 0 and out[before].kind in (
                            "ws", "comment"
                        ):
                            before -= 1
                        bound_ok = before < 0 or (
                            out[before].kind == "op"
                            and out[before].text in ("(", ",")
                        ) or out[before].is_kw(*_BOUND_BEFORE)
                        if col in colmap and bound_ok:
                            lref = (
                                lo_k,
                                colmap[col],
                                "".join(
                                    t.text for t in out[lo_k:]
                                ).strip(),
                            )
                # right operand: enum col ref or 'lit'::ename, followed
                # by a boundary
                rlo = next_code(tokens, i)
                rref = None  # (values, text)
                rend = None
                if rlo < n and tokens[rlo].kind == "string":
                    c2 = next_code(tokens, rlo)
                    if (
                        c2 < n
                        and tokens[c2].kind == "op"
                        and tokens[c2].text == "::"
                    ):
                        c3 = next_code(tokens, c2)
                        if c3 < n and tokens[c3].kind in (
                            "word", "bident", "qident"
                        ):
                            ename = unquote_name(tokens[c3]).lower()
                            if ename in self._enum_types:
                                self._check_enum_member(
                                    ename, tokens[rlo].text
                                )
                                rend = c3 + 1
                                rref = (
                                    self._enum_types[ename],
                                    tokens[rlo].text,
                                )
                else:
                    r = ref_at(rlo)
                    if r is not None and r[2] in colmap:
                        rend = r[1]
                        rref = (colmap[r[2]], r[3])
                if rend is not None:
                    after = next_code(tokens, rend - 1)
                    if not (
                        after >= n
                        or (
                            tokens[after].kind == "op"
                            and tokens[after].text in (")", ",", ";")
                        )
                        or tokens[after].is_kw(
                            "AND", "OR", "THEN", "ELSE", "END", "ORDER",
                            "GROUP", "HAVING", "LIMIT", "WHERE", "ASC",
                            "DESC", "NULLS", "UNION", "EXCEPT",
                            "INTERSECT", "QUALIFY",
                        )
                    ):
                        rref = None
                if (
                    lref is not None
                    and rref is not None
                    and lref[1] == rref[0]
                ):
                    vals = ", ".join(
                        "'" + v.replace("'", "''") + "'" for v in lref[1]
                    )
                    varr = f"array({vals})"
                    lo_k = lref[0]
                    del out[lo_k:]
                    out.extend(tokenize(
                        f"array_position({varr}, {lref[2]})"
                    ))
                    out.append(tok)
                    out.extend(tokenize(
                        f" array_position({varr}, {rref[1]})"
                    ))
                    i = rend
                    continue
            out.append(tok)
            i += 1
        return "".join(t.text for t in out)

    # ------------------------------------------------------------------
    # sequences (DuckDB CREATE SEQUENCE / nextval / currval)
    # ------------------------------------------------------------------

    @staticmethod
    def _seq_call_spans(tokens: List[Token], fname: str):
        """Spans of ``fname('literal')`` calls over the FULL token list:
        (word_idx, close_idx, literal_or_None). Token-shaped, so string
        literals and comments containing the pattern never spoof a call
        (a raw-regex scan would treat ``'uses nextval(''s'')'`` as a
        real sequence call)."""
        spans = []
        n = len(tokens)
        for i, t in enumerate(tokens):
            if t.kind != "word" or t.text.lower() != fname:
                continue
            j = next_code(tokens, i)
            if j >= n or tokens[j].kind != "op" or tokens[j].text != "(":
                continue
            close = closing(tokens, j)
            inner = [
                x for x in tokens[j + 1: close]
                if x.kind not in ("ws", "comment")
            ]
            lit = (
                inner[0].text[1:-1].replace("''", "'")
                if len(inner) == 1 and inner[0].kind == "string"
                else None
            )
            spans.append((i, close, lit))
        return spans

    def _plan_has_exchange(self, query_sql: str) -> bool:
        """True when ``query_sql``'s physical plan shuffles (or fails to
        plan). Planning runs no Spark job."""
        try:
            plan = self.spark.sql(translate(query_sql))._jdf.queryExecution()
            return "Exchange" in plan.executedPlan().toString()
        except Exception:  # noqa: BLE001 — unplannable counts as shuffled
            return True

    def _sequence_step(self, st: ParsedStatement) -> bool:
        """Handle nextval/currval statements. Returns True when the
        statement was fully handled here.

        ``nextval('s')`` values are assigned in scan order — the same
        physical-order contract as POSITIONAL JOIN (COVERAGE.md).
        FROM-less statements (single row) inline the literal next
        value; FROM queries number rows with ``SCAN_ROW_NUMBER``. A
        shuffled source is first materialized to scratch parquet
        (``_seq_materialize_shuffled``) so ids follow the statement's
        ORDER BY rather than shuffle arrival order. Supported where surrogate
        keys are actually minted: CREATE TABLE AS / INSERT / plain
        SELECT, one nextval call per statement; the sequence advances
        by the statement's row count after it runs (a bounds violation
        therefore surfaces after execution, not mid-scan like DuckDB —
        documented). currval inlines the last value and errors if the
        sequence was never advanced, like DuckDB. Calls are found
        token-shaped, so the words inside a string literal or comment
        never land here."""
        full = tokenize(st.sql)
        has_curr = bool(self._seq_call_spans(full, "currval"))
        next_spans = self._seq_call_spans(full, "nextval")
        if not has_curr and not next_spans:
            return False
        sql = self._inline_currval(st.sql) if has_curr else st.sql
        if not next_spans:
            self._execute_statement(parse_statement(sql))
            return True
        if len(next_spans) > 1:
            raise UserException(
                "nextval: one call per statement is supported "
                "(row-order value assignment cannot model several "
                "independent advances per row)"
            )
        if next_spans[0][2] is None:
            raise UserException(
                "nextval: only a literal sequence name is supported"
            )
        name = next_spans[0][2].strip('`"').lower()
        seq = self._sequences.get(name)
        if seq is None:
            raise UserException(
                f"Catalog Error: Sequence with name {name} does not exist!"
            )
        base, inc = seq["next"], seq["inc"]

        # statement shape, read on the (possibly currval-inlined) text
        sql_toks = tokenize(sql)
        has_from = False
        has_row_filter = False
        has_values = False
        saw_body = False  # a depth-0 SELECT or VALUES was seen at all
        for _, t in top_level(sql_toks):
            if t.is_kw("FROM"):
                has_from = True
                break
            elif t.is_kw("WHERE", "QUALIFY", "LIMIT"):
                has_row_filter = True
            elif t.is_kw("VALUES"):
                has_values = True  # may carry multiple row groups
                saw_body = True
            elif t.is_kw("SELECT"):
                saw_body = True
        # a FROM-less, filter-less, conflict-mode-less INSERT inserts
        # exactly one row (or raises): the post-execute sequence advance
        # is statically n=1 — skips the two full-table count() jobs the
        # general path pays (r13-opt). Conflict modes keep the counted
        # path: their count-delta semantics (no advance on an ignored /
        # replaced row) are the shipped, oracle-tested behavior.
        # Fully parenthesized bodies (``INSERT INTO t (SELECT ... FROM
        # x)`` — no depth-0 SELECT or VALUES at all) keep the counted
        # path: their row count is the inner query's, not 1. Depth-0
        # set operations and OFFSET deliberately STAY static: DuckDB
        # evaluates the single nextval span exactly once per FROM-less
        # branch row and advances by 1 even when EXCEPT/OFFSET then
        # drops the row (differentially pinned in
        # test_sequence_setop_insert_counted — the r13-ADVICE proposal
        # to route them to the counted path would diverge).
        static_single_row = (
            not has_from
            and not has_row_filter
            and not has_values
            and saw_body
            and not (st.head.or_replace or st.head.or_ignore)
            and re.search(r"(?i)\bON\s+CONFLICT\b", sql) is None
        )
        if not has_from:
            rank_sql = "CAST(1 AS BIGINT)"  # single-row statement
        else:
            rank_sql = SCAN_ROW_NUMBER
            # plan the query part (first top-level SELECT/VALUES,
            # minus any INSERT tail clauses), with nextval neutralized
            qlo = next(
                (k for k, t in top_level(sql_toks) if t.is_kw("SELECT", "VALUES")),
                None,
            )
            if qlo is not None:
                qhi = len(sql_toks)
                for k, t in top_level(sql_toks, qlo):
                    nk = next_code(sql_toks, k)
                    if t.is_kw("RETURNING") or (
                        t.is_kw("ON")
                        and nk < len(sql_toks)
                        and sql_toks[nk].is_kw("CONFLICT")
                    ):
                        qhi = k
                        break
                qtext = "".join(t.text for t in sql_toks[qlo:qhi])
                probe_q = self._replace_nextval_once(
                    qtext, "CAST(0 AS BIGINT)"
                )
                if self._plan_has_exchange(probe_q):
                    # shuffled source: materialize the non-sequence
                    # columns to scratch parquet (deterministic file
                    # order) and number the parquet scan. Positional
                    # INSERT never reads output column names, so
                    # unaliased expression items may be auto-aliased
                    # into the rebuild
                    prefix = "".join(
                        t.text for t in sql_toks[:qlo]
                    ).upper()
                    mat = self._seq_materialize_shuffled(
                        qtext,
                        allow_rename=st.head.verb == "INSERT"
                        and "BY NAME" not in prefix,
                    )
                    if mat is not None:
                        sql = (
                            "".join(t.text for t in sql_toks[:qlo])
                            + mat[0]
                            + "".join(t.text for t in sql_toks[qhi:])
                        )
        if seq["cycle"]:
            span = seq["maxv"] - seq["minv"] + 1
            expr = (
                f"(pmod(CAST({base - seq['minv']} AS BIGINT) + "
                f"({rank_sql} - 1) * "
                f"CAST({inc} AS BIGINT), CAST({span} AS BIGINT)) + "
                f"CAST({seq['minv']} AS BIGINT))"
            )
        else:
            expr = (
                f"(CAST({base} AS BIGINT) + ({rank_sql} - 1) * "
                f"CAST({inc} AS BIGINT))"
            )
        new_sql = self._replace_nextval_once(sql, expr)
        new_st = parse_statement(new_sql)
        stype = new_st.statement_type
        target = new_st.head.name
        # NOTE: a scratch __seq_mat_N view stays registered — the
        # RETURNING view (and any lazy consumer of this statement's
        # result) may still reference it; names are unique per counter
        # and the backing parquet lives in the warehouse scratch dir.
        if stype == StatementType.CREATE_TABLE:
            self._execute_statement(new_st)
            n = self.spark.table(_bt(target)).count()
        elif stype == StatementType.INSERT:
            if static_single_row:
                self._execute_statement(new_st)
                n = 1  # raised otherwise; no count jobs needed
            else:
                before = self.spark.table(_bt(target)).count()
                self._execute_statement(new_st)
                n = self.spark.table(_bt(target)).count() - before
        elif stype == StatementType.SELECT:
            n = self.spark.sql(translate(new_sql)).count()
        else:
            raise UserException(
                "nextval is supported in CREATE TABLE AS / INSERT / "
                f"SELECT statements, not: {st.sql[:80]}"
            )
        if n > 0:
            last = base + (n - 1) * inc
            if not seq["cycle"]:
                if inc > 0 and last > seq["maxv"]:
                    raise UserException(
                        f'nextval: reached maximum value of sequence '
                        f'"{name}" ({seq["maxv"]})'
                    )
                if inc < 0 and last < seq["minv"]:
                    raise UserException(
                        f'nextval: reached minimum value of sequence '
                        f'"{name}" ({seq["minv"]})'
                    )
                seq["curr"] = last
                seq["next"] = last + inc
            else:
                span = seq["maxv"] - seq["minv"] + 1
                seq["curr"] = (last - seq["minv"]) % span + seq["minv"]
                seq["next"] = (last + inc - seq["minv"]) % span + seq["minv"]
            seq["used"] = True
        return True

    # select-item residue allowed around a hoisted nextval call: the
    # rebuilt item re-evaluates over the materialized scan, so it may
    # reference nothing but the call itself and constant scaffolding
    _SEQ_ITEM_CONST_WORDS = frozenset({
        "cast", "as", "bigint", "int", "integer", "smallint", "tinyint",
        "hugeint", "ubigint", "uinteger", "varchar", "text", "string",
        "double", "decimal", "numeric", "concat", "lpad", "rpad", "abs",
        "format", "printf", "null",
    })

    def _seq_materialize_shuffled(self, qtext: str, allow_rename: bool = False):
        """nextval over a SHUFFLED source: materialize the query's
        non-sequence columns to scratch parquet (scan order of the
        materialization is deterministic file order — parquet part
        files are listed name-sorted in write order), then rebuild the
        query as a scan of that table, numbered in file order. Returns
        ``(outer_query_sql, mat_view_name)`` with the nextval call left
        intact for the caller's value substitution, or None when the
        statement shape can't be safely rebuilt (the caller then
        numbers the shuffled source directly).

        Supported shape: plain SELECT list where the nextval item
        references only the call plus constants, every other item is a
        bare ``*``, an ``AS``-aliased expression, a (dotted) column
        ref, or — under ``allow_rename`` (positional INSERT, where
        output column names are irrelevant) — any expression
        (auto-aliased into the materialization). GROUP BY / ORDER BY
        ordinals are renumbered for the dropped sequence item; ALL
        group keys still bail (their expansion shifts)."""
        toks = tokenize(qtext)
        code = [k for k, t in enumerate(toks) if t.kind not in ("ws", "comment")]
        if not code or not toks[code[0]].is_kw("SELECT"):
            return None
        sel0 = code[0]
        first_item = next_code(toks, sel0)
        if first_item < len(toks) and toks[first_item].is_kw(
            "DISTINCT", "ALL"
        ):
            return None
        # depth-0 FROM + ordinal/ALL guard on GROUP/ORDER bodies
        from_idx = None
        guard = False  # inside a GROUP BY / ORDER BY body
        ordinal_idxs: List[int] = []
        for k, t in top_level(toks):
            if t.kind == "word":
                u = t.upper
                if u == "FROM" and from_idx is None:
                    from_idx = k
                elif u in ("GROUP", "ORDER"):
                    guard = True
                elif u in ("HAVING", "LIMIT", "OFFSET", "WHERE", "QUALIFY"):
                    guard = False
                elif guard and u == "ALL":
                    return None
                elif guard and re.fullmatch(r"\d+", t.text):
                    # ordinal — renumbered after the sequence item's
                    # position is known
                    ordinal_idxs.append(k)
        if from_idx is None or from_idx <= sel0:
            return None
        items = split_top_commas(toks, first_item, from_idx)
        seq_pos = None
        for idx, (lo, hi) in enumerate(items):
            if any(
                toks[k].kind == "word"
                and toks[k].text.lower() == "nextval"
                for k in range(lo, hi)
            ):
                if seq_pos is not None:
                    return None
                seq_pos = idx
        if seq_pos is None:
            return None
        outer_items: List[str] = []
        mat_items: List[str] = []
        for idx, (lo, hi) in enumerate(items):
            seg = toks[lo:hi]
            text = "".join(t.text for t in seg).strip()
            scode = [t for t in seg if t.kind not in ("ws", "comment")]
            if idx == seq_pos:
                spans = self._seq_call_spans(seg, "nextval")
                if len(spans) != 1:
                    return None
                w, close, _ = spans[0]
                residue = [
                    t
                    for k, t in enumerate(seg)
                    if t.kind not in ("ws", "comment")
                    and not (w <= k <= close)
                ]
                # strip optional trailing "AS alias"
                if (
                    len(residue) >= 2
                    and residue[-2].is_kw("AS")
                    and residue[-1].kind in ("word", "bident", "qident")
                ):
                    residue = residue[:-2]
                for t in residue:
                    if t.kind in ("number", "string", "op"):
                        continue
                    if t.kind == "word" and (
                        t.text.lower() in self._SEQ_ITEM_CONST_WORDS
                        or re.fullmatch(
                            r"\d+(\.\d+)?([eE][+-]?\d+)?", t.text
                        )
                    ):
                        continue
                    return None
                outer_items.append(text)
                continue
            if len(scode) == 1 and scode[0].kind == "op" and scode[0].text == "*":
                outer_items.append("*")
                mat_items.append(text)
                continue
            if (
                len(scode) >= 3
                and scode[-2].is_kw("AS")
                and scode[-1].kind in ("word", "bident", "qident")
            ):
                outer_items.append(_bt(unquote_name(scode[-1])))
                mat_items.append(text)
                continue
            # bare (dotted) column ref
            if len(scode) % 2 == 1 and all(
                (
                    t.kind in ("word", "bident", "qident")
                    if k % 2 == 0
                    else (t.kind == "op" and t.text == ".")
                )
                for k, t in enumerate(scode)
            ):
                outer_items.append(_bt(unquote_name(scode[-1])))
                mat_items.append(text)
                continue
            if allow_rename:
                # positional INSERT: output names are irrelevant, so
                # any expression item auto-aliases into the scan
                mat_items.append(f"({text}) AS __seq_c{idx}")
                outer_items.append(f"__seq_c{idx}")
                continue
            return None
        if ordinal_idxs:
            # renumber bare GROUP/ORDER ordinals for the dropped
            # sequence item; anything not a BARE list element (a number
            # inside an expression) keeps the conservative bail
            repl: Dict[int, str] = {}
            code_set = {k for k, _ in code_tokens(toks)}
            ordered = sorted(code_set)
            for k in ordinal_idxs:
                pos = ordered.index(k)
                prev_t = toks[ordered[pos - 1]] if pos > 0 else None
                next_t = (
                    toks[ordered[pos + 1]] if pos + 1 < len(ordered) else None
                )
                prev_ok = prev_t is not None and (
                    prev_t.is_kw("BY")
                    or (prev_t.kind == "op" and prev_t.text == ",")
                )
                next_ok = next_t is None or (
                    next_t.kind == "op" and next_t.text == ","
                ) or next_t.is_kw(
                    "ASC", "DESC", "NULLS", "LIMIT", "OFFSET", "HAVING",
                    "ORDER", "GROUP", "QUALIFY",
                )
                if not (prev_ok and next_ok):
                    return None
                val = int(toks[k].text)
                if val == seq_pos + 1:
                    return None  # references the sequence item itself
                if val > seq_pos + 1:
                    repl[k] = str(val - 1)
            if repl:
                toks = [
                    Token(t.kind, repl[k]) if k in repl else t
                    for k, t in enumerate(toks)
                ]
        if not mat_items:
            mat_items = ["1 AS __seq_one"]
        tail = "".join(t.text for t in toks[from_idx:])
        mat_sql = "SELECT " + ", ".join(mat_items) + " " + tail
        self._seq_mat_counter += 1
        view = f"__seq_mat_{self._seq_mat_counter}"
        path = os.path.join(
            self.store.warehouse_dir, "__seq_mat", f"m{self._seq_mat_counter}"
        )
        try:
            mat_df = self.spark.sql(translate(mat_sql))
            mat_df.write.mode("overwrite").parquet(path)
            # pass the known schema: skips the driver-side parquet
            # schema-inference job on the read-back (~0.15 s per
            # sequence statement, r13-opt)
            self.spark.read.schema(mat_df.schema).parquet(
                path
            ).createOrReplaceTempView(view)
        except Exception:  # noqa: BLE001 — any failure keeps the fallback
            return None
        outer = "SELECT " + ", ".join(outer_items) + f" FROM {_bt(view)}"
        return outer, view

    def _replace_nextval_once(self, sql: str, repl: str) -> str:
        """Replace the first token-shaped ``nextval('...')`` call with
        ``repl`` (string literals containing the pattern untouched)."""
        tokens = tokenize(sql)
        spans = self._seq_call_spans(tokens, "nextval")
        if not spans:
            return sql
        w, close, _ = spans[0]
        return (
            "".join(t.text for t in tokens[:w])
            + repl
            + "".join(t.text for t in tokens[close + 1:])
        )

    def _inline_currval(self, sql: str) -> str:
        """Inline every token-shaped ``currval('s')`` call with the
        sequence's current value (DuckDB errors when never advanced)."""
        tokens = tokenize(sql)
        spans = self._seq_call_spans(tokens, "currval")
        if not spans:
            return sql
        out: List[str] = []
        pos = 0
        for w, close, lit in spans:
            out.append("".join(t.text for t in tokens[pos:w]))
            if lit is None:
                raise UserException(
                    "currval: only a literal sequence name is supported"
                )
            name = lit.strip('`"').lower()
            seq = self._sequences.get(name)
            if seq is None:
                raise UserException(
                    f"Catalog Error: Sequence with name {name} "
                    "does not exist!"
                )
            if not seq["used"]:
                raise UserException(
                    "currval: sequence is not yet defined in this session"
                )
            out.append(f"CAST({seq['curr']} AS BIGINT)")
            pos = close + 1
        out.append("".join(t.text for t in tokens[pos:]))
        return "".join(out)

    def _create_sequence(self, st: ParsedStatement) -> None:
        """``CREATE [OR REPLACE] SEQUENCE [IF NOT EXISTS] name
        [options]``; the options are INCREMENT, MINVALUE, MAXVALUE,
        START and [NO] CYCLE."""
        head, rest = st.head, st.tail
        name = head.name.lower()
        if name in self._sequences:
            if head.if_exists:
                return
            if not head.or_replace:
                raise UserException(
                    f'Sequence "{name}" already exists (use OR REPLACE)'
                )

        def num(pat, default):
            mm = re.search(pat, rest, re.I)
            return int(mm.group(1)) if mm else default

        inc = num(r"\bINCREMENT\s+(?:BY\s+)?(-?\d+)", 1)
        if inc == 0:
            raise UserException("CREATE SEQUENCE: increment cannot be 0")
        # DuckDB defaults: ascending 1..huge starting 1; descending
        # -huge..-1 starting -1
        minv = num(r"\bMINVALUE\s+(-?\d+)",
                   1 if inc > 0 else -(2 ** 62))
        maxv = num(r"\bMAXVALUE\s+(-?\d+)",
                   2 ** 62 if inc > 0 else -1)
        start = num(r"\bSTART\s+(?:WITH\s+)?(-?\d+)",
                    minv if inc > 0 else maxv)
        cycle = bool(re.search(r"(?i)(?<!NO\s)\bCYCLE\b", rest))
        if re.search(r"(?i)\bNO\s+CYCLE\b", rest):
            cycle = False
        leftover = re.sub(
            r"(?is)\b(INCREMENT\s+(BY\s+)?-?\d+|MINVALUE\s+-?\d+|"
            r"MAXVALUE\s+-?\d+|START\s+(WITH\s+)?-?\d+|NO\s+MINVALUE|"
            r"NO\s+MAXVALUE|NO\s+CYCLE|CYCLE)\b", "", rest,
        ).strip()
        if leftover:
            raise UserException(
                f"Unsupported CREATE SEQUENCE options: {leftover[:60]}"
            )
        self._sequences[name] = {
            "next": start, "curr": None, "inc": inc, "minv": minv,
            "maxv": maxv, "cycle": cycle, "used": False,
        }

    def _drop_sequence(self, st: ParsedStatement) -> None:
        name = st.head.name.lower()
        if self._sequences.pop(name, None) is None and not st.head.if_exists:
            raise UserException(
                f"Catalog Error: Sequence with name {name} does not exist!"
            )

    _FILE_READ_FNS = {
        "read_csv", "read_csv_auto", "read_json", "read_json_auto",
        "read_ndjson", "read_ndjson_auto",
    }

    def _bind_file_reads(self, sql: str) -> str:
        """DuckDB file-reading table functions over literal paths
        (reference: user scripts read staged ``in/files`` data with
        ``read_csv_auto(...)`` etc. through the same cursor as any
        query). Each call is bound to a deterministic temp view on the
        live session (``spark.read.csv/json`` — header + schema
        inference approximate DuckDB's sniffer) and the call text is
        replaced by the view name. Supported named options: header,
        delim/sep, all_varchar, format='newline_delimited'|'array'
        (json), compression/sample_size/ignore_errors are accepted and
        ignored; anything else raises (loud, no silent divergence).
        ``read_parquet`` stays in the dialect layer (direct
        ``parquet.`path``` scan needs no options)."""
        import hashlib

        tokens = tokenize(sql)
        out: List[Token] = []
        i = 0
        n = len(tokens)
        changed = False
        while i < n:
            tok = tokens[i]
            nxt = i + 1
            while nxt < n and tokens[nxt].kind in ("ws", "comment"):
                nxt += 1
            if (
                tok.kind == "word"
                and tok.text.lower() in self._FILE_READ_FNS
                and nxt < n
                and tokens[nxt].kind == "op"
                and tokens[nxt].text == "("
            ):
                close = closing(tokens, nxt)
                args = [
                    [t for t in tokens[a:b] if t.kind not in ("ws", "comment")]
                    for a, b in split_top_commas(tokens, nxt + 1, close)
                    if not a == b == close  # f() or a trailing comma
                ]
                view = self._register_file_read(
                    tok.text.lower(), args, hashlib
                )
                out.append(Token("word", view))
                i = close + 1
                changed = True
                continue
            out.append(tok)
            i += 1
        return "".join(t.text for t in out) if changed else sql

    def _register_file_read(self, fn: str, args, hashlib) -> str:
        if not args or not args[0] or args[0][0].kind != "string":
            raise UserException(
                f"{fn}: only a literal path argument is supported"
            )
        path = args[0][0].text[1:-1].replace("''", "'")
        opts: Dict[str, str] = {}
        for arg in args[1:]:
            # named argument: name = value | name := value
            if (
                len(arg) >= 3
                and arg[0].kind == "word"
                and arg[1].kind == "op"
                and arg[1].text in ("=", ":=")
            ) or (
                len(arg) >= 4
                and arg[0].kind == "word"
                and arg[1].kind == "op" and arg[1].text == ":"
                and arg[2].kind == "op" and arg[2].text == "="
            ):
                name = arg[0].text.lower()
                val = "".join(
                    t.text for t in (arg[2:] if arg[1].text in ("=", ":=")
                                     else arg[3:])
                ).strip().strip("'")
                opts[name] = val
            else:
                raise UserException(
                    f"{fn}: unsupported argument form "
                    f"{''.join(t.text for t in arg)!r}"
                )
        ignored = {"compression", "sample_size", "ignore_errors",
                   "auto_detect", "filename", "union_by_name"}
        known = {"header", "delim", "sep", "all_varchar", "format"}
        unknown = set(opts) - known - ignored
        if unknown:
            raise UserException(
                f"{fn}: unsupported options {sorted(unknown)} "
                "(supported: header, delim/sep, all_varchar, format)"
            )
        key = f"{fn}|{path}|{sorted(opts.items())}"
        view = "__file_read_" + hashlib.md5(key.encode()).hexdigest()[:10]
        if view in self._file_read_views:
            return view
        if fn.startswith("read_csv"):
            header = opts.get("header", "true").lower() != "false"
            reader = (
                self.spark.read.option("header", header)
                .option("inferSchema", opts.get("all_varchar", "").lower()
                        not in ("true", "1"))
                .option("sep", opts.get("delim", opts.get("sep", ",")))
            )
            df = reader.csv(path)
        else:
            reader = self.spark.read
            if opts.get("format") == "array":
                reader = reader.option("multiLine", True)
            df = reader.json(path)
        df.createOrReplaceTempView(view)
        self._file_read_views.add(view)
        self._path_read_views.setdefault(
            os.path.abspath(path), set()
        ).add(view)
        return view

    def _create_macro(self, st: ParsedStatement) -> None:
        """``CREATE [OR REPLACE] [TEMP] MACRO name(params) AS expr`` —
        DuckDB scalar macros, kept as (params, body-token) templates and
        inlined into later statements at the call site (Spark SQL
        temporary functions can't be defined from SQL text without a
        JVM class, so expansion-at-use is the faithful equivalent;
        DuckDB macros are also inlined by its binder). Macros defined
        in one script are visible to subsequent statements; a table
        macro's ``AS TABLE <select>`` body expands to a derived table;
        default parameters are not supported."""
        parsed = _parse_macro(st.tail)
        if parsed is None:
            raise UserException(f"Unsupported MACRO form: {st.sql[:120]}")
        self._macros[st.head.name.lower()] = parsed

    def _drop_macro(self, st: ParsedStatement) -> None:
        name = st.head.name.lower()
        if self._macros.pop(name, None) is None and not st.head.if_exists:
            raise UserException(
                f"Catalog Error: Macro Function with name {name} does not exist!"
            )

    def _expand_macros(self, sql: str, depth: int = 0) -> str:
        """Inline every known-macro call; recurses for macros calling
        macros (depth-capped)."""
        if depth > 5:
            raise UserException("Macro expansion too deep (cycle?)")
        tokens = tokenize(sql)
        out: List[Token] = []
        changed = False
        i = 0
        n = len(tokens)
        while i < n:
            tok = tokens[i]
            if (
                tok.kind == "word"
                and tok.text.lower() in self._macros
            ):
                j = i + 1
                while j < n and tokens[j].kind in ("ws", "comment"):
                    j += 1
                if j < n and tokens[j].kind == "op" and tokens[j].text == "(":
                    close = closing(tokens, j)
                    params, body = self._macros[tok.text.lower()]
                    args = _item_texts(tokens, j + 1, close)
                    if len(args) == len(params):
                        sub = {p.lower(): a for p, a in zip(params, args)}
                        out.append(Token("op", "("))
                        for bt in tokenize(body):
                            if bt.kind == "word" and bt.text.lower() in sub:
                                out.append(
                                    Token("word", f"({sub[bt.text.lower()]})")
                                )
                            else:
                                out.append(bt)
                        out.append(Token("op", ")"))
                        changed = True
                        i = close + 1
                        continue
            out.append(tok)
            i += 1
        expanded = "".join(t.text for t in out)
        return self._expand_macros(expanded, depth + 1) if changed else expanded

    def _table_columns(self, name: str) -> Optional[List[str]]:
        """``name``'s column names; None when unknown."""
        try:
            return self.spark.table(_bt(name)).columns
        except Exception:  # noqa: BLE001 — unknown table: leave unexpanded
            return None

    def _resolve_query_columns(self, sql: str) -> Optional[List[str]]:
        """Column names of a DuckDB-dialect query (``expand_scopes``'s
        resolver) — lazy analysis only, no job runs."""
        try:
            return self.spark.sql(translate(sql)).columns
        except Exception:  # noqa: BLE001 — unresolvable: leave unexpanded
            return None

    def _catalog(self, name: str) -> TableState:
        """``name``'s store record; an empty one for a relation the
        script did not create (input views, CTEs)."""
        return self.store.record(name) or TableState(name=name)

    # -- public entry -----------------------------------------------------
    def execute_query(self, query: Query) -> None:
        """Run one script (possibly multiple statements, sequentially),
        inside a named Spark job group so batch failure can cancel it."""
        sc = self.spark.sparkContext
        group = (
            f"{self._parent_job_group}/{query.name}"
            if self._parent_job_group
            else query.name
        )
        sc.setJobGroup(group, query.sql[:120], interruptOnCancel=True)
        sc.setLocalProperty("spark.scheduler.pool", query.block_name)
        try:
            for st in query.statements:
                self._execute_statement(st)
        finally:
            sc.setLocalProperty("spark.scheduler.pool", None)

    # -- routing ----------------------------------------------------------
    def _execute_statement(self, st: ParsedStatement) -> None:
        time_columns = {
            dep.lower(): self._catalog(dep).time_columns
            for dep in st.dependencies
        }
        try:
            with published_hints(
                self.spark,
                st.sql,
                st.dependencies,
                time_columns,
                self._hint_schema_cache,
            ):
                self._execute_statement_hinted(st)
        finally:
            # any non-SELECT statement may have changed the schemas it
            # touched (CTAS/INSERT/ALTER/DROP/COPY re-register views)
            if st.statement_type != StatementType.SELECT:
                for name in set(st.outputs) | set(st.dependencies):
                    self._hint_schema_cache.pop(name.lower(), None)

    def _execute_statement_hinted(self, st: ParsedStatement) -> None:
        head = st.head
        if head.kind and not head.name:
            raise UserException(f"Missing {head.kind} name in: {st.sql[:100]}")
        if head.is_catalog_ddl:
            # ahead of the expansions: a macro's own head and body must
            # not be rewritten by the macros it replaces or calls
            self._ROUTES[head.verb, head.kind](self, st)
            return
        if self._macros:
            expanded = self._expand_macros(st.sql)
            if expanded != st.sql:
                st = dataclasses.replace(st, sql=expanded)
        # COLUMNS(), star-REPLACE and UNION BY NAME: upstream tables
        # exist by the time the statement runs, so the live session
        # resolves the columns the schema-free translator can't
        expanded = expand_scopes(st.sql, self._resolve_query_columns)
        if expanded != st.sql:
            st = dataclasses.replace(st, sql=expanded)
        if "read_" in st.sql.lower():
            # file-reading table functions (read_csv/read_json...):
            # bind each literal-path call to a temp view on the live
            # session, then substitute the view name
            expanded = self._bind_file_reads(st.sql)
            if expanded != st.sql:
                st = dataclasses.replace(st, sql=expanded)
        if "pivot" in st.sql.lower():
            expanded = self._expand_dynamic_pivot(st.sql)
            if expanded != st.sql:
                st = dataclasses.replace(st, sql=expanded)
        low = st.sql.lower()
        if ("nextval" in low or "currval" in low) and self._sequence_step(st):
            return
        if self._enum_types:
            # ordinals BEFORE casts: the positional rewrite needs the
            # 'lit'::ename form intact (the cast pass lowers it to a
            # validating CASE expression)
            expanded = self._bind_enum_ordinals(st.sql, st.dependencies)
            if expanded != st.sql:
                st = dataclasses.replace(st, sql=expanded)
        if self._enum_types:
            expanded = self._bind_enum_casts(st.sql)
            if expanded != st.sql:
                st = dataclasses.replace(st, sql=expanded)
        if head.verb == "CREATE" and head.if_exists:
            try:
                self.spark.table(_bt(head.name))
                return  # exists: IF NOT EXISTS is a no-op, not a replace
            except Exception:  # noqa: BLE001 — not there: create below
                pass
        route = self._ROUTES.get((head.verb, head.kind), SparkStatementExecutor._run)
        route(self, st)

    def _run(self, st: ParsedStatement) -> None:
        """A statement Spark runs whole: executed fully, rows discarded
        (distributed, no driver collect)."""
        sql = spark_query_text(st)
        if sql is None:
            raise UserException(f"Unsupported {st.head.verb} form: {st.sql[:100]}")
        df = self.spark.sql(translate(sql))
        if df.columns:
            df.write.format("noop").mode("overwrite").save()

    def _truncate(self, st: ParsedStatement) -> None:
        """TRUNCATE [TABLE] t = DELETE FROM t (empty rewrite)."""
        name = st.head.name
        self.store.rewrite(name, self.spark.table(_bt(name)).limit(0))

    def _summarize_view(self, st: ParsedStatement) -> None:
        """DuckDB profiling statement; the result is registered as the
        summarize view so scripts can SELECT from it."""
        self._summarize(st.head.name or st.tail).createOrReplaceTempView(
            "summarize"
        )

    def _describe_view(self, st: ParsedStatement) -> None:
        """DESCRIBE t | query and SHOW t register DuckDB's schema report
        as the describe view; SHOW TABLES lists relations (single
        `name` column) as the show_tables view."""
        if st.head.verb == "SHOW" and st.head.name is None:
            names = sorted(t.name for t in self.spark.catalog.listTables())
            self.spark.createDataFrame(
                [(n,) for n in names], "name string"
            ).createOrReplaceTempView("show_tables")
            return
        self._describe(st.head.name, st.tail).createOrReplaceTempView("describe")

    def _engine_statement(self, st: ParsedStatement) -> None:
        """DuckDB engine-maintenance/resource statements (PRAGMA,
        CHECKPOINT, VACUUM, ANALYZE): no Spark equivalent at statement
        level (session sizing comes from session.py); scripts keep
        running."""
        LOG.warning("Ignoring DuckDB engine statement (no-op here): %s", st.sql[:80])

    def _set(self, st: ParsedStatement) -> None:
        """DuckDB SET configures the engine (memory_limit, threads,
        TimeZone...). Try Spark's own SET (harmless for spark.* keys);
        ignore unknown engine knobs."""
        try:
            self.spark.sql(st.sql)
        except Exception:  # noqa: BLE001
            LOG.warning("Ignoring engine SET (no Spark equivalent): %s", st.sql[:80])

    def _merge(self, st: ParsedStatement) -> None:
        """``MERGE INTO target [AS a] USING source ON cond WHEN MATCHED
        [AND c] THEN UPDATE SET ...|DELETE WHEN NOT MATCHED [AND c] THEN
        INSERT ... WHEN NOT MATCHED BY SOURCE [AND c] THEN
        UPDATE|DELETE`` (DuckDB 1.4+), run on the matched-row plan; a
        target row matching several source rows raises, per the SQL
        standard."""
        parsed = _parse_merge(st.sql)
        if parsed is None:
            raise UserException(f"Unsupported MERGE form: {st.sql[:140]}")
        name = parsed["target"]
        if self.store.table(name) is None:
            raise UserException(f"MERGE INTO unknown table '{name}'")
        self._apply_matched(
            name,
            parsed["target_alias"] or name,
            parsed["source"],
            parsed["on"],
            parsed["clauses"],
            "raise",
        )

    def _apply_matched(
        self, name, alias, source, on, clauses, multi_match, probed=False
    ) -> None:
        """The one matched-row mutation plan, shared by MERGE, UPDATE ...
        FROM and INSERT ... ON CONFLICT DO UPDATE. ``clauses`` are
        ``_parse_merge``'s clause dicts; ``source`` is a FROM list (a
        MERGE source, UPDATE ... FROM's comma list) and ``on`` matches
        it to the target aliased ``alias``.

        Spark plan: the target tagged with a persisted row id; one match
        query ``FROM tagged AS alias, source WHERE on`` evaluates every
        clause condition and SET expression; a LEFT join stitches the
        first applicable clause back onto each row (rows a DELETE clause
        picks drop out; BY SOURCE clauses apply to unmatched rows, over
        target columns); a LEFT ANTI join per INSERT clause adds the
        unmatched source rows — then one copy-on-write rewrite. A target
        row with several matches raises (``multi_match="raise"``: MERGE,
        ON CONFLICT) or takes any one of them (``"any"``: DuckDB's
        UPDATE ... FROM updates it once), one window in the match query.
        Before the rewrite the constraint probe checks those on the
        columns the SET lists assign and, for INSERT clauses, NOT NULL
        and CHECK on the inserted rows plus key uniqueness of the result
        (skipped when ``probed``: ON CONFLICT has already checked every
        row it proposes)."""
        from pyspark.sql import functions as F

        current = self.spark.table(_bt(name))
        fields = current.schema.fields
        sets = [a for cl in clauses for a in cl.get("sets", ())]
        _check_set_columns(name, fields, sets)
        src, on = translate(source), translate(on)
        join_cl = [
            c for c in clauses if c["kind"] != "insert" and not c.get("by_source")
        ]
        bs_cl = [c for c in clauses if c.get("by_source")]
        inserts = [c for c in clauses if c["kind"] == "insert"]

        tagged_view = f"__mrg_{uuid.uuid4().hex[:10]}"
        tagged = current.withColumn("__rid", F.monotonically_increasing_id())
        tagged.persist()
        tagged.createOrReplaceTempView(tagged_view)
        target = f"{_bt(tagged_view)} AS {_bt(alias)}"
        try:
            # the stitch frame carries the statement's target alias, so
            # BY SOURCE conditions/SET expressions (target-column scope,
            # possibly alias-qualified) resolve directly
            kept = self.spark.table(_bt(tagged_view)).alias(alias)
            cols = {f.name: F.col(f"{_bt(alias)}.{_bt(f.name)}") for f in fields}
            if join_cl or bs_cl:
                sel = [
                    f"{_bt(alias)}.__rid AS __rid",
                    f"row_number() OVER (PARTITION BY {_bt(alias)}.__rid "
                    f"ORDER BY 1) AS __mn",
                ]
                for ci, cl in enumerate(join_cl):
                    cond = translate(cl["cond"]) if cl["cond"] else "true"
                    sel.append(f"({cond}) AS __c{ci}")
                    for j, (_, expr) in enumerate(cl.get("sets", ())):
                        sel.append(f"({translate(expr)}) AS __s{ci}_{j}")
                # several matches for one target row: MERGE raises (SQL
                # standard), UPDATE ... FROM keeps any one (DuckDB
                # updates the row once); BY SOURCE alone needs only
                # matched-ness
                many = (
                    F.expr(
                        "raise_error('MERGE: a target row matched multiple "
                        "source rows') IS NULL"
                    )
                    if multi_match == "raise" and join_cl
                    else F.lit(False)
                )
                matches = self.spark.sql(
                    f"SELECT {', '.join(sel)} FROM {target}, {src} WHERE {on}"
                ).filter(F.when(F.col("__mn") > 1, many).otherwise(True))
                joined = kept.join(matches.alias("__m"), on="__rid", how="left")
                # first applicable clause per row, separately for the
                # matched (join) and unmatched (BY SOURCE) populations
                matched = F.col("__m.__rid").isNotNull()
                clause_idx = F.lit(None).cast("int")
                for ci in reversed(range(len(join_cl))):
                    clause_idx = F.when(
                        matched & F.col(f"__m.__c{ci}"), F.lit(ci)
                    ).otherwise(clause_idx)
                bs_idx = F.lit(None).cast("int")
                for ci in reversed(range(len(bs_cl))):
                    cond = bs_cl[ci]["cond"]
                    bs_idx = F.when(
                        ~matched & (F.expr(translate(cond)) if cond else F.lit(True)),
                        F.lit(ci),
                    ).otherwise(bs_idx)
                joined = joined.withColumn("__clause", clause_idx).withColumn(
                    "__bs", bs_idx
                )
                for col, cls in (("__clause", join_cl), ("__bs", bs_cl)):
                    dropped = [i for i, cl in enumerate(cls) if cl["kind"] == "delete"]
                    if dropped:
                        joined = joined.filter(
                            F.col(col).isNull() | ~F.col(col).isin(dropped)
                        )
                for fld in fields:
                    value = cols[fld.name]
                    for ci, cl in enumerate(join_cl):
                        for j, (c, _) in enumerate(cl.get("sets", ())):
                            if c.lower() == fld.name.lower():
                                value = F.when(
                                    F.col("__clause") == ci,
                                    F.col(f"__m.__s{ci}_{j}").cast(fld.dataType),
                                ).otherwise(value)
                    for ci, cl in enumerate(bs_cl):
                        for c, expr in cl.get("sets", ()):
                            if c.lower() == fld.name.lower():
                                value = F.when(
                                    F.col("__bs") == ci,
                                    F.expr(translate(expr)).cast(fld.dataType),
                                ).otherwise(value)
                    cols[fld.name] = value
                kept = joined
            result = kept.select(*[v.alias(k) for k, v in cols.items()])

            added = None
            earlier_conds: List[str] = []
            for cl in inserts:
                # first-match-wins across NOT MATCHED clauses: exclude
                # rows already taken by an earlier clause's condition
                preds = [f"NOT ({c})" for c in earlier_conds]
                this = translate(cl["cond"]) if cl["cond"] else "true"
                preds.append(f"({this})")
                earlier_conds.append(this)
                ins = self.spark.sql(
                    f"SELECT {_merge_insert_projection(cl, fields)} FROM {src} "
                    f"LEFT ANTI JOIN {target} ON {on} WHERE {' AND '.join(preds)}"
                )
                added = ins if added is None else added.unionAll(ins)
            if added is not None:
                result = result.unionAll(added)
            self._validate_update_constraints(
                name, result, {c.lower() for c, _ in sets}, None if probed else added
            )
            self.store.rewrite(name, result)
        finally:
            self.spark.catalog.dropTempView(tagged_view)
            tagged.unpersist()

    def _copy(self, st: ParsedStatement) -> None:
        """User-script ``COPY <table|(query)> TO 'path' [(options)]``
        (the reference executes these verbatim in DuckDB). CSV (HEADER /
        DELIMITER / FORCE_QUOTE *) and PARQUET formats; DuckDB writes
        ONE file, so the write coalesces to a single part streamed into
        the target path — the component-level export path
        (sinks/table_export) stays the scale route for sliced output."""
        import glob
        import shutil
        import tempfile

        parsed = _parse_copy(st.sql)
        if parsed is None:
            raise UserException(f"Unsupported COPY form: {st.sql[:120]}")
        source, path, opts = parsed
        if source.lstrip().startswith("("):
            df = self.spark.sql(translate(source.strip()[1:-1]))
        else:
            df = self.spark.table(_bt(source))
        fmt = opts.get("format")
        if fmt is None:
            fmt = "parquet" if path.lower().endswith(".parquet") else "csv"
        os.makedirs(os.path.dirname(path) or ".", exist_ok=True)
        tmp = tempfile.mkdtemp(prefix="cdts-copy-")
        try:
            if fmt == "parquet":
                df.coalesce(1).write.mode("overwrite").parquet(tmp)
                parts = sorted(glob.glob(os.path.join(tmp, "part-*.parquet")))
            else:
                writer = df.coalesce(1).write.mode("overwrite").options(
                    header=opts.get("header", True),
                    sep=opts.get("delimiter", ","),
                    quoteAll=opts.get("force_quote_all", False),
                    nullValue="",
                    emptyValue='""',
                )
                writer.csv(tmp)
                parts = sorted(glob.glob(os.path.join(tmp, "part-*.csv")))
            if not parts:
                raise UserException(f"COPY to {path} produced no data file")
            shutil.move(parts[0], path)
            # a later read_csv/read_json on this path must not reuse
            # ANY stale cached view of it — every option-set variant
            # re-registers on next use (see _register_file_read)
            for v in self._path_read_views.get(os.path.abspath(path), ()):
                self._file_read_views.discard(v)
        finally:
            shutil.rmtree(tmp, ignore_errors=True)

    def _alter(self, st: ParsedStatement) -> None:
        """ALTER TABLE (DuckDB supports it on its working database;
        reference scripts use it for light schema evolution):

        - ``ADD [COLUMN] [IF NOT EXISTS] c type [DEFAULT expr]``
        - ``DROP [COLUMN] [IF EXISTS] c``
        - ``RENAME [COLUMN] a TO b``
        - ``RENAME TO new_name``
        - ``ALTER [COLUMN] c [SET DATA] TYPE type``

        Column changes are copy-on-write rewrites (a new Parquet version
        with the projected schema). RENAME TO is metadata-only. At lake
        scale a format with schema evolution (Delta/Iceberg) would make
        the column ops metadata-only too; plain Parquet versioning keeps
        the engine dependency-free."""
        parsed = _parse_alter(st.tail)
        if parsed is None:
            raise UserException(f"Unsupported ALTER form: {st.sql[:120]}")
        action, args = parsed
        name = st.head.name
        state = self.store.table(name)
        if state is None:
            if st.head.if_exists:
                return
            raise UserException(f"ALTER TABLE: unknown table '{name}'")
        from pyspark.sql import functions as F

        if action == "rename_table":
            self.store.rename_table(name, args["to"])
            return
        current = self.spark.table(_bt(name))
        have = {c.lower() for c in current.columns}
        catalog = {}
        if action == "add_column":
            col, type_text, default = args["col"], args["type"], args["default"]
            if col.lower() in have:
                if args["if_not_exists"]:
                    return
                raise UserException(f"ALTER TABLE: column '{col}' exists")
            value = F.expr(
                translate(f"CAST(({default or 'NULL'}) AS {type_text})")
            )
            new_df = current.withColumn(col, value)
        elif action == "drop_column":
            col = args["col"]
            if col.lower() not in have:
                if args["if_exists"]:
                    return
                raise UserException(f"ALTER TABLE: unknown column '{col}'")
            # DuckDB refuses to drop a PK/UNIQUE-constrained column;
            # the rest of the column's metadata goes with it
            if col.lower() in state.primary_key:
                raise UserException(
                    f'Catalog Error: Cannot drop column "{col}" because '
                    "there is a UNIQUE constraint that depends on it"
                )
            catalog = _without_column(state, col)
            new_df = current.drop(col)
        elif action == "rename_column":
            col, to = args["col"], args["to"]
            if col.lower() not in have:
                raise UserException(f"ALTER TABLE: unknown column '{col}'")
            catalog = _without_column(state, col, to)
            new_df = current.withColumnRenamed(col, to)
        elif action == "set_type":
            col, type_text = args["col"], args["type"]
            if col.lower() not in have:
                raise UserException(f"ALTER TABLE: unknown column '{col}'")
            new_df = current.withColumn(
                col,
                F.expr(translate(f"CAST({_bt(col)} AS {type_text})")),
            )
        else:  # pragma: no cover
            raise UserException(f"Unsupported ALTER action: {action}")
        self.store.rewrite(name, new_df, **catalog)

    def _drop(self, st: ParsedStatement) -> None:
        """DROP TABLE/VIEW: both kinds live as temp views here (store
        tables are parquet-backed temp views); the store record says
        which kind a script-created name is."""
        name = st.head.name
        if not self.store.drop(name, view=st.head.kind == "view"):
            if not st.head.if_exists:
                raise UserException(f"DROP: table or view '{name}' does not exist")

    # -- CREATE -----------------------------------------------------------
    def _create_view(self, st: ParsedStatement) -> None:
        name = st.head.name
        body = spark_query_text(st)
        if body is None:
            raise UserException(f"Missing AS <select> body in: {st.sql[:100]}")
        # views inherit TIME/enum column bindings like CTAS outputs
        time_cols, enum_cols = self._body_special_columns(
            body, st.dependencies
        )
        self.store.create_view(
            name,
            translate(body),
            replace=st.head.or_replace,
            order_by=_terminal_order_by(body),
            time_columns=time_cols,
            enum_columns=enum_cols,
        )

    def _body_special_columns(self, body: str, deps):
        """(time_cols, enum_cols) a CTAS/VIEW output inherits from its
        body's TOP-LEVEL select items (VERDICT r9 item 3: TIME values
        previously lost TIME-ness through a CTAS hop and landed on the
        next epoch day; ENUM ordinal semantics likewise dropped).
        Handled shapes: bare/dotted column refs (inherit the 'time'
        pseudo-hint / the dep's enum binding), ``expr AS name`` items
        whose expression is statically TIME-typed (plain time-column
        renames, ``CAST(x AS TIME)`` — via the r10 alias typer), and a
        lone ``*`` over a SINGLE dependency (whole-set inheritance).

        A plain SELECT is the one-branch case of a depth-0 set
        operation (r12), which inherits POSITIONALLY: names come from
        the FIRST branch; a column stays enum only when EVERY branch's
        item at that position is a ref to the SAME enum (DuckDB decays
        enum-vs-varchar and enum-vs-other-enum unions to VARCHAR) and
        TIME only when every branch's item is. Star items in a set
        operation, UNION BY NAME (name-matched, not positional),
        unparenthesized shapes, item-count mismatches, multi-dep stars
        and computed TIME arithmetic items inherit nothing
        (COVERAGE.md)."""
        time_cols: set = set()
        enum_cols: Dict[str, str] = {}
        code = [
            t for t in tokenize(body) if t.kind not in ("ws", "comment")
        ]
        n = len(code)
        starts: List[int] = []
        ends: List[int] = []
        for i, t in top_level(code):
            if t.kind != "word":
                continue
            elif t.upper == "SELECT" and len(starts) == len(ends):
                starts.append(i)
            elif starts and t.upper in ("UNION", "EXCEPT", "INTERSECT"):
                ends.append(i)
                j = i + 1
                while j < n and code[j].kind == "word" and code[j].upper in (
                    "ALL",
                    "DISTINCT",
                ):
                    j += 1
                if not (
                    j < n
                    and code[j].kind == "word"
                    and code[j].upper == "SELECT"
                ):
                    return time_cols, enum_cols  # UNION BY NAME, (SELECT..)
        if not starts:
            return time_cols, enum_cols
        ends.append(n)
        dep_enums: Dict[str, str] = {}
        conflict: set = set()
        for dep in deps:
            for c, e in self._catalog(dep).enum_columns.items():
                if e not in self._enum_types:
                    continue  # type dropped since binding
                if dep_enums.get(c, e) != e:
                    conflict.add(c)
                dep_enums[c] = e
        anns = [
            self._branch_item_annotations(code, lo, hi, dep_enums, conflict)
            for lo, hi in zip(starts, ends)
        ]
        if len(anns) > 1:
            if any(None in a or "*" in a for a in anns):
                return time_cols, enum_cols  # star: positions unknowable
            if len({len(a) for a in anns}) != 1:
                return time_cols, enum_cols
        elif "*" in anns[0]:
            only = [d for d in deps if d != "returning"]
            if len(only) == 1:
                time_cols |= self._catalog(only[0]).time_columns
                enum_cols.update(dep_enums)
        anns = [[a for a in ann if a and a != "*"] for ann in anns]
        for i, (name, _e, _t) in enumerate(anns[0]):
            if not name:
                continue
            enums = {a[i][1] for a in anns}
            if len(enums) == 1 and None not in enums:
                enum_cols[name] = enums.pop()
            if all(a[i][2] for a in anns):
                time_cols.add(name)
        return time_cols, enum_cols

    def _branch_item_annotations(self, code, sel, end, dep_enums, conflict):
        """``(output_name | None, enum | None, is_time)`` per top-level
        item of the SELECT branch ``code[sel:end]``; a star item is
        ``"*"`` when it is a lone ``*`` and None otherwise."""
        lo = sel + 1
        if lo < end and code[lo].kind == "word" and code[lo].upper in (
            "DISTINCT",
            "ALL",
        ):
            lo += 1
        hi = next(
            (j for j, t in top_level(code, lo, end) if t.kind == "word" and t.upper == "FROM"),
            end,
        )
        out = []
        for a, b in split_top_commas(code, lo, hi):
            item = code[a:b]
            if not item:
                continue
            if len(item) == 1 and item[0].text == "*":
                out.append("*")
                continue
            if any(
                t.kind == "op" and t.text == "*" and (
                    k == 0 or item[k - 1].text == "."
                )
                for k, t in enumerate(item)
            ):
                out.append(None)  # qualified or modified star
                continue
            name = None
            expr = item
            if (
                len(item) >= 3
                and item[-2].kind == "word"
                and item[-2].upper == "AS"
                and item[-1].kind in ("word", "bident", "qident")
            ):
                name = unquote_name(item[-1]).lower()
                expr = item[:-2]
            elif item[-1].kind in ("word", "bident", "qident") and all(
                t.kind in ("word", "bident", "qident")
                or (t.kind == "op" and t.text == ".")
                for t in item
            ):
                name = unquote_name(item[-1]).lower()
            enum = None
            is_time = _alias_expr_hint(list(expr)) == "time"
            if all(
                t.kind in ("word", "bident", "qident")
                or (t.kind == "op" and t.text == ".")
                for t in expr
            ):
                src = unquote_name(expr[-1]).lower()
                if src in dep_enums and src not in conflict:
                    enum = dep_enums[src]
            out.append((name, enum, is_time))
        return out

    def _create_table(self, st: ParsedStatement) -> None:
        name = st.head.name
        body = spark_query_text(st)
        keys: dict = {}
        checks: List[str] = []
        if body is None:
            # bare DDL: CREATE TABLE t (col type, ...) -> empty table
            enum_decl: Dict[str, str] = {}
            time_decl: List[str] = []
            schema_sql = _ddl_column_schema(
                st.sql, self._enum_types, enum_decl, time_decl
            )
            df = self.spark.sql(f"SELECT {schema_sql} LIMIT 0")
            enum_cols = {c.lower(): e for c, e in enum_decl.items()}
            time_cols = {c.lower() for c in time_decl}
            keys = dict(
                primary_key=_ddl_primary_key(st.sql) or [],
                not_null=_ddl_not_null(st.sql),
            )
            checks = _ddl_checks(st.sql)
        else:
            df = self.spark.sql(translate(body))
            names = _dedupe_names(df.columns)
            if names != df.columns:
                df = df.toDF(*names)
            # persist TIME pseudo-hints and enum bindings the CTAS
            # output inherits from its defining statement, so TIME
            # values wrap at midnight and enum ordinals survive a
            # materialization hop (VERDICT r9 item 3)
            time_cols, enum_cols = self._body_special_columns(
                body, st.dependencies
            )
        # enum columns, declared or inherited, stay ENUM-typed in
        # DuckDB: INSERT and UPDATE validate against the value set
        for col, ename in enum_cols.items():
            vals = ", ".join(
                "'" + v.replace("'", "''") + "'"
                for v in self._enum_types[ename]
            )
            checks.append(f"{_bt(col)} IS NULL OR {_bt(col)} IN ({vals})")
        self.store.create_table(
            name,
            df,
            order_by=_terminal_order_by(body or ""),
            empty=body is None,  # bare DDL creates a known-row-free table
            replace=st.head.or_replace,
            checks=checks,
            enum_columns=enum_cols,
            time_columns=time_cols,
            **keys,
        )

    # -- DML --------------------------------------------------------------
    def _insert(self, st: ParsedStatement) -> None:
        head = st.head
        name = head.name
        sql, conflict, returning = _insert_clauses(st.sql)
        # DuckDB constraint-aware forms: OR REPLACE / OR IGNORE
        # modifiers and a trailing ON CONFLICT upsert clause
        mode: object = (
            "replace" if head.or_replace else "ignore" if head.or_ignore else None
        )
        if conflict is not None:
            sets = tokenize(conflict["sets"])
            sets = _split_assignments(sets, 0, len(sets))
            mode = (
                "ignore"
                if conflict["action"] == "nothing"
                else ("update", sets, conflict["where"])
            )
        df = self.spark.sql(translate(spark_query_text(st)))
        cols = _insert_column_list(sql)
        if cols is None and _insert_is_by_name(sql):
            # DuckDB `INSERT INTO t BY NAME select`: the SELECT's output
            # names pick the target columns; missing ones get NULL
            cols = df.columns
        state = self._catalog(name or "")
        keys = state.primary_key
        target = (conflict or {}).get("cols")
        if target and sorted(target) != sorted(keys):
            raise UserException(
                "Binder Error: The specified columns as conflict target are "
                "not referenced by a UNIQUE/PRIMARY KEY CONSTRAINT"
            )
        if mode is not None and not keys:
            # exactly DuckDB's binder complaint
            raise UserException(
                "There are no UNIQUE/PRIMARY KEY Indexes that refer to "
                f"this table, ON CONFLICT is a no-op for '{name}'"
            )
        for col, _ in mode[1] if isinstance(mode, tuple) else ():
            if col.lower() in keys:
                raise UserException(
                    f"Binder Error: Can not assign to column '{col}' because "
                    "it has a UNIQUE/PRIMARY KEY constraint"
                )
        nn, chk = state.not_null, state.checks
        if returning is not None and (mode is not None or keys or nn or chk):
            raise UserException(
                "INSERT ... RETURNING is not supported together with "
                "constraint handling (ON CONFLICT / keyed tables)"
            )
        if mode is None and not keys and not nn and not chk:
            if returning is not None:
                # DuckDB returns the inserted rows (target-aligned).
                # Materialize BEFORE the append: the source plan may
                # read the table being inserted into (INSERT INTO t
                # SELECT ... FROM t RETURNING *) or be
                # non-deterministic, and a lazy view would re-execute
                # it against the post-append state
                target = self.spark.table(_bt(name)).limit(0)
                aligned = (
                    _align_by_name(df, target, cols)
                    if cols is not None
                    else _align_by_position(df, target)
                )
                aligned = aligned.localCheckpoint(eager=True)
                self._commit_returning(
                    lambda: self.store.insert_into(name, aligned), aligned, returning
                )
                return
            self.store.insert_into(name, df, columns=cols)
            return
        self._keyed_insert(name, df, cols, keys, mode, nn, chk)

    def _keyed_insert(self, name, df, cols, keys, mode, nn, chk) -> None:
        """INSERT into a PRIMARY KEY/UNIQUE table with DuckDB
        constraint semantics: duplicate keys (within the batch, or vs
        the table for plain INSERT) raise; OR REPLACE copy-on-writes
        matching rows out; OR IGNORE / ON CONFLICT DO NOTHING anti-joins
        the incoming side; ON CONFLICT DO UPDATE runs the matched-row
        plan with the incoming rows aliased ``excluded``. All paths are
        joins on the key columns — no collects beyond the fused 1-row
        constraint probe (``_probe_constraints``; a plain keyed INSERT
        adds its table-clash join to it)."""
        from pyspark.sql import functions as F

        state = self.store.table(name)
        if state is None:
            raise UserException(f"INSERT INTO unknown table '{name}'")
        current = self.spark.table(_bt(name))
        aligned = (
            _align_by_name(df, current, cols)
            if cols
            else _align_by_position(df, current)
        )
        by_lower = {f.name.lower(): f.name for f in current.schema.fields}
        # key columns follow RENAME COLUMN and cannot be dropped
        key_cols = [by_lower[k] for k in keys] if keys else None
        # NOTE (r13-opt, measured): persisting ``aligned`` across the
        # probe collect and the mutation (each executes the source plan
        # once) was tried and reverted — the cache materialization cost
        # exceeded the saved re-scan at bench scale and added a job per
        # statement. The re-execution is a second scan of the same
        # pruned parquet source; the COW model re-scans ``current``
        # every statement anyway, so it is proportionally minor.
        self._probe_constraints(
            name,
            aligned,
            [by_lower[c] for c in nn if c in by_lower],
            chk,
            key_cols,
            # a known-row-free target (bare-DDL create, nothing
            # inserted yet) cannot clash: the probe skips its join
            # against current keys — one shuffle less on the
            # pipeline-opening INSERT
            clash=(
                current.select(*[F.col(_bt(k)) for k in key_cols])
                if key_cols and mode is None and not state.empty
                else None
            ),
        )
        if not keys or mode is None:
            self.store.insert_into(name, aligned)
            return
        if mode == "replace":
            survivors = current.join(
                aligned.select(*key_cols), on=key_cols, how="left_anti"
            )
            self.store.rewrite(name, survivors.unionByName(aligned))
            return
        if mode == "ignore":
            fresh = aligned.join(
                current.select(*key_cols), on=key_cols, how="left_anti"
            )
            self.store.rewrite(name, current.unionByName(fresh))
            return
        # ON CONFLICT DO UPDATE SET ... [WHERE c]: the update clause
        # guarded by the WHERE, then INSERT * for the rows left, over
        # the incoming rows aliased `excluded` (DuckDB's pseudo-table).
        # They passed the probe above, so the plan probes only the
        # assigned columns
        _, sets, where = mode
        src_view = f"__ins_src_{uuid.uuid4().hex[:10]}"
        aligned.createOrReplaceTempView(src_view)
        try:
            self._apply_matched(
                name,
                name,
                f"{src_view} AS excluded",
                " AND ".join(
                    f"{_bt(name)}.{_bt(k)} = excluded.{_bt(k)}" for k in key_cols
                ),
                [
                    {"kind": "update", "cond": where, "sets": sets},
                    {"kind": "insert", "cond": None, "star": True},
                ],
                "raise",
                probed=True,
            )
        finally:
            self.spark.catalog.dropTempView(src_view)

    def _probe_constraints(
        self, name, df, nn, chk, key_cols, clash=None, update=False
    ) -> None:
        """Check DuckDB's constraints on ``df`` — the rows an INSERT
        adds, or the table an UPDATE leaves — in ONE fused aggregate
        job: a flag per NOT NULL column ``nn`` and per CHECK in ``chk``
        (violated only when FALSE — NULL passes), the duplicate count
        over ``key_cols``, and, given ``clash`` (the current keys), a
        LEFT join flag for incoming keys already in the table — instead
        of 3+N separate LIMIT-1 jobs each re-scanning the frame. The
        first violation raises DuckDB's error; a duplicate key re-probes
        only on that failure path, for the key text."""
        from pyspark.sql import functions as F

        aggs: List = [
            F.expr(f"max(CASE WHEN {_bt(c)} IS NULL THEN 1 ELSE 0 END)")
            .alias(f"__nn_{i}")
            for i, c in enumerate(nn)
        ] + [
            F.expr(f"max(CASE WHEN ({translate(e)}) = FALSE THEN 1 ELSE 0 END)")
            .alias(f"__ck_{i}")
            for i, e in enumerate(chk)
        ]
        if key_cols:
            # struct-wrapped so NULL key fields still count as rows
            # (matching the groupBy-equality the error path reports)
            ks = ", ".join(_bt(k) for k in key_cols)
            aggs.append(
                F.expr(f"count(*) - count(DISTINCT struct({ks}))").alias("__dup")
            )
        if not aggs:
            return
        probe = df
        if clash is not None:
            aggs.append(F.max(F.col("__clash")).alias("__clash"))
            probe = df.join(
                clash.withColumn("__clash", F.lit(1)), on=key_cols, how="left"
            )
        flags = probe.agg(*aggs).collect()[0]
        for i, c in enumerate(nn):
            if flags[f"__nn_{i}"]:
                raise UserException(
                    f"Constraint Error: NOT NULL constraint failed: {name}.{c}"
                )
        for i, e in enumerate(chk):
            if flags[f"__ck_{i}"]:
                raise UserException(
                    f"Constraint Error: CHECK constraint failed on "
                    f"table {name}: ({e})"
                )
        if key_cols and flags["__dup"]:
            dup = (
                df.groupBy(*[_bt(k) for k in key_cols])
                .count()
                .where("count > 1")
                .limit(1)
                .collect()
            )
            values = list(dup[0])[:-1]
            if update:
                key_txt = ", ".join(f"{k}: {v}" for k, v in zip(key_cols, values))
                raise UserException(
                    f'Constraint Error: Duplicate key "{key_txt}" violates '
                    "primary key constraint"
                )
            key_txt = ", ".join(str(v) for v in values)
            raise UserException(
                "Constraint Error: PRIMARY KEY or UNIQUE constraint "
                f'violated: duplicate key "{key_txt}"'
            )
        if clash is not None and flags["__clash"]:
            raise UserException(
                "Constraint Error: Duplicate key violates primary "
                f"key constraint on '{name}'"
            )

    def _validate_update_constraints(
        self, name: str, new_df: DataFrame, assigned_lower: set, inserted=None
    ) -> None:
        """Re-validate the constraints a mutation can break — DuckDB
        enforces NOT NULL / CHECK / PRIMARY KEY on every write, and
        skipping it lets an UPDATE silently write a NULL into a NOT
        NULL column. Cost-proportional: only constraints whose columns
        are assigned are probed, in one fused aggregate pass over the
        post-update frame (the COW rewrite scans it anyway); the rows
        ``inserted`` (by MERGE's INSERT clauses) get every NOT NULL and
        CHECK, and then the key must stay unique over ``new_df``."""
        state = self._catalog(name or "")
        by_lower = {f.name.lower(): f.name for f in new_df.schema.fields}
        nn = [by_lower[c] for c in state.not_null if c in by_lower]
        keys = [by_lower[k] for k in state.primary_key if k in by_lower]
        if inserted is not None:
            self._probe_constraints(name, inserted, nn, state.checks, None)
        key_assigned = any(k.lower() in assigned_lower for k in keys)
        self._probe_constraints(
            name,
            new_df,
            [c for c in nn if c.lower() in assigned_lower],
            [
                e
                for e in state.checks
                if any(
                    t.kind in ("word", "bident", "qident")
                    and t.text.strip('`"').lower() in assigned_lower
                    for t in tokenize(e)
                )
            ],
            keys if key_assigned or inserted is not None else None,
            update=key_assigned,
        )

    def _commit_returning(self, commit, rows, returning) -> None:
        """Run the mutation ``commit``. Given a RETURNING list, publish
        ``SELECT <list>`` over ``rows`` (the affected rows, planned
        before the commit, so they read the version it replaces) as the
        ``returning`` view once the commit succeeded, like SUMMARIZE."""
        if returning is None:
            commit()
            return
        rows.createOrReplaceTempView("__returning_src")
        out = self.spark.sql(translate(f"SELECT {returning} FROM __returning_src"))
        commit()
        out.createOrReplaceTempView("returning")

    def _update(self, st: ParsedStatement) -> None:
        name = st.head.name
        sql, returning = _split_returning(st.sql)
        assignments, from_text, where = _parse_update(sql)
        if from_text is not None:
            if returning is not None:
                raise UserException(
                    "UPDATE ... FROM with RETURNING is not supported"
                )
            # a target row matching several FROM rows is updated once,
            # from any one of them, as DuckDB does
            self._apply_matched(
                name,
                name,
                from_text,
                where or "true",
                [{"kind": "update", "cond": None, "sets": assignments}],
                "any",
            )
            return
        current = self.spark.table(_bt(name))
        _check_set_columns(name, current.schema.fields, assignments)
        pred = f"coalesce(({translate(where)}), false)" if where else "true"
        assigned = {c.lower(): e for c, e in assignments}
        cols = [
            f"CASE WHEN {pred} THEN CAST(({translate(assigned[f.name.lower()])}) "
            f"AS {f.dataType.simpleString()}) ELSE {_bt(f.name)} END AS {_bt(f.name)}"
            if f.name.lower() in assigned
            else _bt(f.name)
            for f in current.schema.fields
        ]
        new_df = current.selectExpr(*cols)
        self._validate_update_constraints(name, new_df, set(assigned))
        # RETURNING: the matched rows through the same assignment
        # projection (pre-image filter, post-update values)
        self._commit_returning(
            lambda: self.store.rewrite(name, new_df),
            current.filter(pred).selectExpr(*cols) if returning else None,
            returning,
        )

    def _delete(self, st: ParsedStatement) -> None:
        name = st.head.name
        sql, returning = _split_returning(st.sql)
        using, where = _delete_using_where(sql)
        if returning is not None and using is not None:
            raise UserException(
                "DELETE ... USING with RETURNING is not supported"
            )
        current = self.spark.table(_bt(name))
        hit = f"coalesce(({translate(where)}), false)" if where else None
        if using is not None:
            # DELETE FROM t USING src WHERE pred: delete target rows
            # with ANY qualifying source match — an anti-join (NOT
            # EXISTS), the plan Catalyst turns into a hash LeftAnti
            new_df = self.spark.sql(
                f"SELECT {_bt(name)}.* FROM {_bt(name)} "
                f"WHERE NOT EXISTS (SELECT 1 FROM {translate(using)} "
                f"WHERE {hit or 'true'})"
            )
        elif hit is None:
            new_df = current.limit(0)
        else:
            new_df = current.filter(f"NOT {hit}")
        # RETURNING: the deleted rows (pre-image)
        self._commit_returning(
            lambda: self.store.rewrite(name, new_df),
            (current if hit is None else current.filter(hit)) if returning else None,
            returning,
        )

    #: statements the executor's own code parses, by head (verb, kind);
    #: every other statement is a query ``_run`` hands to Spark
    _ROUTES = {
        ("CREATE", "macro"): _create_macro,
        ("DROP", "macro"): _drop_macro,
        ("CREATE", "type"): _create_type,
        ("DROP", "type"): _drop_type,
        ("CREATE", "sequence"): _create_sequence,
        ("DROP", "sequence"): _drop_sequence,
        ("CREATE", "table"): _create_table,
        ("CREATE", "view"): _create_view,
        ("DROP", "table"): _drop,
        ("DROP", "view"): _drop,
        ("INSERT", ""): _insert,
        ("UPDATE", ""): _update,
        ("DELETE", ""): _delete,
        ("TRUNCATE", "table"): _truncate,
        ("ALTER", "table"): _alter,
        ("MERGE", ""): _merge,
        ("COPY", ""): _copy,
        ("SUMMARIZE", ""): _summarize_view,
        ("DESCRIBE", ""): _describe_view,
        ("SHOW", ""): _describe_view,
        ("PRAGMA", ""): _engine_statement,
        ("CHECKPOINT", ""): _engine_statement,
        ("VACUUM", ""): _engine_statement,
        ("ANALYZE", ""): _engine_statement,
        ("SET", ""): _set,
    }


def spark_query_text(st: ParsedStatement) -> Optional[str]:
    """The DuckDB-dialect text of ``st`` the executor translates and
    hands to ``spark.sql``: a query whole, the body of CREATE TABLE/VIEW
    ... AS, an INSERT's source query (its OR REPLACE/IGNORE, ON CONFLICT
    and RETURNING parts split off). None for a bare-DDL CREATE, for
    every other statement the executor parses itself, and for a DML or
    DDL form nothing handles. The startup check parses exactly this."""
    head = st.head
    if head.verb == "CREATE" and head.kind in ("table", "view"):
        return _body_after_as(st.sql, allow_missing=True)
    if head.verb == "INSERT":
        return _insert_source_sql(_insert_clauses(st.sql)[0])
    if (head.verb, head.kind) in SparkStatementExecutor._ROUTES:
        return None
    if st.statement_type not in (StatementType.SELECT, StatementType.OTHER):
        return None
    return st.sql


# -- statement-text helpers (tokenizer-based, string/comment safe) --------

def _code(sql: str) -> List[tuple[int, Token]]:
    return list(code_tokens(tokenize(sql)))


def _body_after_as(sql: str, allow_missing: bool = False) -> Optional[str]:
    """Text after the top-level AS in CREATE ... AS <select>.
    Handles DuckDB's `CREATE TABLE t AS FROM x` and parenthesized bodies."""
    tokens = tokenize(sql)
    for i, tok in top_level(tokens):
        if tok.is_kw("AS"):
            body = "".join(t.text for t in tokens[i + 1:]).strip()
            if body.startswith("(") and body.endswith(")"):
                inner = body[1:-1].strip()
                if inner.upper().startswith(("SELECT", "WITH", "FROM", "VALUES")):
                    body = inner
            # DuckDB `AS FROM t [SELECT ...]` bodies are handled by the
            # dialect layer's FROM-first rewrite at translate() time
            return body
    if allow_missing:
        return None
    raise UserException(f"Missing AS <select> body in: {sql[:100]}")


def _dedupe_names(names: List[str]) -> List[str]:
    """DuckDB's CTAS column names: a name already taken (ignoring case)
    gets the first free ``_<n>`` suffix, n = 1, 2, ... (``k, k, K`` ->
    ``k, k_1, K_2``; ``k, k_1, k`` -> ``k, k_1, k_2``)."""
    taken: set = set()
    out = []
    for name in names:
        new, k = name, 1
        while new.lower() in taken:
            new, k = f"{name}_{k}", k + 1
        taken.add(new.lower())
        out.append(new)
    return out


def _terminal_order_by(body: str) -> Optional[str]:
    """Top-level 'ORDER BY ...' clause text (without LIMIT tail), if any."""
    tokens = tokenize(body)
    order_start = None
    limit_start = None
    for idx, tok in top_level(tokens):
        if tok.is_kw("ORDER"):
            nxt = next_code(tokens, idx)
            if nxt < len(tokens) and tokens[nxt].is_kw("BY"):
                order_start = idx
        elif tok.is_kw("LIMIT") and order_start is not None:
            limit_start = idx
            break
    if order_start is None:
        return None
    end = limit_start if limit_start is not None else len(tokens)
    clause = "".join(t.text for t in tokens[order_start:end]).strip()
    # strip leading ORDER BY
    return re.sub(r"(?is)^ORDER\s+BY\s+", "", clause)


# column constraints that terminate the type text in a DDL column def
_COL_CONSTRAINT_KWS = {
    "PRIMARY", "NOT", "NULL", "DEFAULT", "UNIQUE", "REFERENCES",
    "CHECK", "COLLATE", "GENERATED",
}
# table-level constraint entries to skip entirely
_TABLE_CONSTRAINT_KWS = {"PRIMARY", "FOREIGN", "UNIQUE", "CHECK", "CONSTRAINT"}

# DuckDB type names Spark lacks -> Spark cast targets. Parameterized
# types (VARCHAR(n), DECIMAL(p,s)) pass through untouched — Spark
# accepts those forms; only the BARE names below need mapping.
_DDL_TYPE_MAP = {
    "VARCHAR": "STRING", "TEXT": "STRING", "CHAR": "STRING",
    "BPCHAR": "STRING", "JSON": "STRING", "UUID": "STRING",
    "HUGEINT": "DECIMAL(38,0)", "UHUGEINT": "DECIMAL(38,0)",
    "UBIGINT": "DECIMAL(20,0)", "UINTEGER": "BIGINT",
    "USMALLINT": "INT", "UTINYINT": "SMALLINT",
    "BLOB": "BINARY", "BYTEA": "BINARY",
    "TIMESTAMPTZ": "TIMESTAMP", "DOUBLE_PRECISION": "DOUBLE",
    "REAL": "FLOAT", "INT1": "TINYINT", "INT2": "SMALLINT",
    "INT4": "INT", "INT8": "BIGINT", "SIGNED": "BIGINT",
    "LOGICAL": "BOOLEAN", "BIT": "STRING",
}


def _column_items(sql: str) -> List[List[Token]]:
    """Code tokens of each item of the column list ``_column_list_span``
    finds (no list: no items)."""
    span = _column_list_span(sql)
    if span is None:
        return []
    tokens, open_idx, close_idx = span
    return [
        [t for t in tokens[a:b] if t.kind not in ("ws", "comment")]
        for a, b in split_top_commas(tokens, open_idx + 1, close_idx)
        if not a == b == close_idx  # () or a trailing comma
    ]


def _unquote_ident(tok: Token) -> str:
    if tok.kind == "qident":
        return tok.text[1:-1].replace('""', '"')
    if tok.kind == "bident":
        return tok.text[1:-1].replace("``", "`")
    return tok.text


def _column_list_span(sql: str) -> Optional[tuple[List[Token], int, int]]:
    """(tokens, open_idx, close_idx) of the first top-level paren group,
    provided it appears before any SELECT/WITH/VALUES/FROM keyword."""
    tokens = tokenize(sql)
    for i, tok in enumerate(tokens):
        if tok.is_kw("SELECT", "WITH", "VALUES", "FROM"):
            return None
        if tok.kind == "op" and tok.text == "(":
            close = closing(tokens, i)
            return (tokens, i, close) if close < len(tokens) else None
    return None


# Words that can never be an (AS-less) alias candidate when computing
# hint invalidation: clause keywords, operators-as-words, DDL/DML
# syntax. Conservative in the SAFE direction — a keyword wrongly kept
# here just keeps a name un-droppable via the bare-alias rule, and the
# statement almost certainly binds it as syntax, not as a column.
_HINT_NONALIAS_KWS = frozenset({
    "SELECT", "FROM", "WHERE", "GROUP", "BY", "HAVING", "ORDER",
    "LIMIT", "OFFSET", "QUALIFY", "WINDOW", "UNION", "EXCEPT",
    "INTERSECT", "ALL", "DISTINCT", "AS", "ON", "USING", "JOIN",
    "INNER", "LEFT", "RIGHT", "FULL", "CROSS", "NATURAL", "ASOF",
    "POSITIONAL", "LATERAL", "OUTER", "SEMI", "ANTI", "AND", "OR",
    "NOT", "IN", "IS", "NULL", "LIKE", "ILIKE", "SIMILAR", "GLOB",
    "BETWEEN", "EXISTS", "CASE", "WHEN", "THEN", "ELSE", "END",
    "CAST", "TRY_CAST", "INTERVAL", "ASC", "DESC", "NULLS", "OVER",
    "PARTITION", "ROWS", "RANGE", "GROUPS", "PRECEDING", "FOLLOWING",
    "UNBOUNDED", "CURRENT", "FILTER", "WITHIN", "VALUES",
    "WITH", "RECURSIVE", "SAMPLE", "TABLESAMPLE", "REPEATABLE",
    "FETCH", "ONLY", "TIES", "ESCAPE", "COLLATE", "TO", "FOR",
    "IGNORE", "RESPECT", "EXCLUDE", "NO", "OTHERS", "MATERIALIZED",
    "TRUE", "FALSE", "GROUPING", "ROLLUP", "CUBE",
    "INSERT", "INTO", "UPDATE", "DELETE", "MERGE", "SET", "CREATE",
    "TABLE", "VIEW", "REPLACE", "TEMP", "TEMPORARY", "IF", "DROP",
    "ALTER", "ADD", "RENAME", "CONSTRAINT", "PRIMARY",
    "UNIQUE", "CHECK", "DEFAULT", "REFERENCES", "RETURNING",
    "CONFLICT", "DO", "NOTHING", "MATCHED",
    "PIVOT", "UNPIVOT", "COPY", "EXTRACT",
    # NOTE deliberately absent: NAME/VALUE/KEY/ROW/COLUMN/SOURCE/
    # TARGET/SETS and the interval unit words (DAY/HOUR/...). They are
    # common COLUMN names, and membership here would prevent dropping
    # a stale hint when such a name is rebound by a bare alias — the
    # unsafe direction. Their syntax positions are already guarded by
    # the PRECEDING keyword (PRIMARY KEY, CURRENT ROW, GROUPING SETS,
    # INTO NAME, NOT MATCHED BY SOURCE, INTERVAL 3 DAY...): a
    # keyword-preceded token is never an alias candidate, and at worst
    # a syntax word gets its (nonexistent) hint dropped — harmless.
})
# keywords that DO end an expression (so a bare identifier after them
# can still be an alias) — CASE ends and literals; the interval unit
# words are plain words now (absent from the non-alias set above), so
# they end expressions without needing an exemption
_HINT_EXPR_END_KWS = frozenset({"END", "NULL", "TRUE", "FALSE"})


@contextlib.contextmanager
def published_hints(
    spark: SparkSession,
    sql: str,
    dependencies,
    time_columns: Optional[Dict[str, set]] = None,
    schema_cache: Optional[Dict[str, list]] = None,
):
    """Publish ``sql``'s ``statement_type_hints`` (and the dependency
    columns they shadow) to every ``translate()`` call in the block —
    the one way schema types reach the translator."""
    shadowed: set = set()
    hints = statement_type_hints(
        spark, sql, dependencies, time_columns, schema_cache,
        shadowed_out=shadowed,
    )
    with column_type_hints(hints, shadowed):
        yield


def statement_type_hints(
    spark: SparkSession,
    sql: str,
    dependencies,
    time_columns: Optional[Dict[str, set]] = None,
    schema_cache: Optional[Dict[str, list]] = None,
    shadowed_out: Optional[set] = None,
) -> Dict[str, str]:
    """``lowercase column name -> Spark simpleString type`` for a
    statement's dependency tables (lazy catalog lookups, no jobs).
    Names typed differently across tables, or re-bound by an
    ``AS name`` alias anywhere in the statement (a type-changing
    expression must alias to keep a name), are dropped so a surviving
    hint is unambiguous. Published via ``column_type_hints`` so the
    schema-free translator can dispatch ``len(col)`` / ``col[i]`` /
    ``col || x`` by type; DDL-declared TIME columns (``time_columns``:
    table -> {col}) publish the ``time`` pseudo-hint."""
    hints: Dict[str, str] = {}
    drop: set = set()
    for dep in dependencies:
        key = dep.lower()
        fields = schema_cache.get(key) if schema_cache is not None else None
        if fields is None:
            try:
                fields = [
                    (f.name, f.dataType.simpleString())
                    for f in spark.table(_bt(dep)).schema.fields
                ]
            except Exception:  # noqa: BLE001 — unknown table: no hints
                continue
            if schema_cache is not None:
                schema_cache[key] = fields
        declared_time = (time_columns or {}).get(key, set())
        for fname, t in fields:
            col = fname.lower()
            if col in declared_time and t in (
                "timestamp", "timestamp_ntz",
            ):
                t = "time"  # DDL-declared TIME pseudo-hint
            if hints.get(col, t) != t:
                drop.add(col)
            hints[col] = t
    if hints:
        code = [t for _, t in code_tokens(tokenize(sql))]
        n = len(code)
        for idx in range(n):
            t = code[idx]
            if t.kind not in ("word", "bident", "qident"):
                continue
            if t.kind == "word" and (
                t.upper in _HINT_NONALIAS_KWS or t.text[0].isdigit()
            ):
                continue
            prev = code[idx - 1] if idx > 0 else None
            nxt = code[idx + 1] if idx + 1 < n else None
            # 'AS name' rebind (any position)
            if prev is not None and prev.is_kw("AS"):
                drop.add(unquote_name(t).lower())
                continue
            # DuckDB also allows AS-less select-item aliases
            # ('SELECT expr name'): a name preceded by something that
            # ENDS an expression and followed by an item terminator is
            # a rebind too (conservative: over-dropping only loses a
            # hint, never mis-dispatches)
            prev_ends_expr = prev is not None and (
                (prev.kind == "op" and prev.text in (")", "]"))
                or prev.kind in ("string", "bident", "qident")
                or (
                    prev.kind == "word"
                    and (
                        prev.upper not in _HINT_NONALIAS_KWS
                        or prev.upper in _HINT_EXPR_END_KWS
                    )
                )
            )
            if prev_ends_expr and (
                nxt is None
                or (nxt.kind == "op" and nxt.text == ",")
                or nxt.is_kw("FROM")
            ):
                drop.add(unquote_name(t).lower())
                continue
            # FROM-alias column lists ('FROM src t(a, b)' /
            # '(SELECT ...) AS t(a, b)') rebind every listed name
            if (
                nxt is not None
                and nxt.kind == "op"
                and nxt.text == "("
                and prev is not None
                and (
                    (prev.kind == "op" and prev.text == ")")
                    or prev.is_kw("AS")
                    or prev.kind in ("bident", "qident")
                    or (
                        prev.kind == "word"
                        and prev.upper not in _HINT_NONALIAS_KWS
                    )
                )
            ):
                cols: List[str] = []
                ok = False
                expect_ident = True
                j = idx + 2
                while j < n:
                    c = code[j]
                    if c.kind == "op" and c.text == ")":
                        ok = not expect_ident and bool(cols)
                        break
                    if (
                        expect_ident
                        and c.kind in ("word", "bident", "qident")
                        and not (
                            c.kind == "word"
                            and (
                                c.upper in _HINT_NONALIAS_KWS
                                or c.text[0].isdigit()
                            )
                        )
                    ):
                        cols.append(unquote_name(c).lower())
                        expect_ident = False
                    elif (
                        not expect_ident
                        and c.kind == "op"
                        and c.text == ","
                    ):
                        expect_ident = True
                    else:
                        break
                    j += 1
                if ok:
                    drop.update(cols)
    if shadowed_out is not None:
        # names that ARE real dependency columns but lost their hint
        # (rebound or cross-table-ambiguous): the translator's alias
        # typer must not re-derive a type for them
        shadowed_out.update(k for k in drop if k in hints)
    for k in drop:
        hints.pop(k, None)
    return hints


def _ddl_column_schema(
    sql: str, enum_types=None, enum_cols=None, time_cols=None
) -> str:
    """Column list of a bare-DDL ``CREATE TABLE t (col type, ...)`` as
    select-item text ``CAST(NULL AS type) AS name, ...`` (the reference
    passes the DDL verbatim to DuckDB; here the empty typed relation is
    materialized so a later INSERT has a schema to align against).
    Column constraints and table-level constraints are skipped. A
    column typed with a registered ENUM (``enum_types`` name -> values)
    maps to STRING and lands in ``enum_cols`` (name -> enum name) for
    the caller's insert-time CHECK."""
    if _column_list_span(sql) is None:
        raise UserException(
            f"CREATE TABLE without AS body or column list: {sql[:100]}"
        )
    items: List[str] = []
    for code in _column_items(sql):
        if not code:
            continue
        first = code[0]
        if first.kind == "word" and first.upper in _TABLE_CONSTRAINT_KWS:
            continue  # table-level constraint entry
        name = _unquote_ident(first)
        stop = next(
            (
                k for k, tok in top_level(code, 1)
                if tok.kind == "word" and tok.upper in _COL_CONSTRAINT_KWS
            ),
            len(code),
        )
        # DuckDB's list suffix (INTEGER[]) lowers as in a cast
        type_toks = _rewrite_array_type_suffix(code[1:stop])
        if not type_toks:
            raise UserException(f"Column '{name}' has no type in: {sql[:100]}")
        type_text = " ".join(t.text for t in type_toks)
        upper = type_text.upper().replace(" ", "")
        if upper == "DOUBLEPRECISION":
            type_text = "DOUBLE"
        elif (
            enum_types
            and len(type_toks) == 1
            and type_toks[0].text.lower() in enum_types
        ):
            if enum_cols is not None:
                enum_cols[name] = type_toks[0].text.lower()
            type_text = "STRING"
        elif len(type_toks) == 1 and type_toks[0].upper == "TIME":
            # Spark has no TIME: epoch-day TIMESTAMP representation
            # (same as TIME literals); the declaration is tracked so
            # the 'time' pseudo-hint keeps 24 h wrap arithmetic
            if time_cols is not None:
                time_cols.append(name)
            type_text = "TIMESTAMP"
        elif len(type_toks) == 1 and type_toks[0].upper in _DDL_TYPE_MAP:
            type_text = _DDL_TYPE_MAP[type_toks[0].upper]
        items.append(f"CAST(NULL AS {type_text}) AS {_bt(name)}")
    if not items:
        raise UserException(f"Empty column list in: {sql[:100]}")
    return ", ".join(items)


def _ddl_primary_key(sql: str) -> Optional[List[str]]:
    """PRIMARY KEY (or, failing that, UNIQUE) columns of a bare-DDL
    ``CREATE TABLE``, lowercase: column-level ``a INT PRIMARY KEY`` and
    table-level ``PRIMARY KEY (a, b)`` / ``CONSTRAINT n PRIMARY KEY
    (...)`` forms. None when the DDL declares neither."""
    pk: List[str] = []
    unique: List[str] = []
    for code in _column_items(sql):
        if not code:
            continue
        first = code[0]
        uppers = [t.upper if t.kind == "word" else t.text for t in code]
        if first.kind == "word" and first.upper in _TABLE_CONSTRAINT_KWS:
            # table-level: find the parenthesized column list
            kind = None
            for k, u in enumerate(uppers):
                if u == "PRIMARY" and k + 1 < len(uppers) and uppers[k + 1] == "KEY":
                    kind = "pk"
                elif u == "UNIQUE":
                    kind = kind or "unique"
            try:
                p = next(
                    k for k, t in enumerate(code)
                    if t.kind == "op" and t.text == "("
                )
            except StopIteration:
                continue
            cols = [
                _unquote_ident(t).lower()
                for t in code[p + 1:]
                if t.kind in ("word", "bident", "qident")
            ]
            if kind == "pk" and cols:
                pk = cols
            elif kind == "unique" and cols and not unique:
                unique = cols
            continue
        # column-level constraint on this column
        name = _unquote_ident(first).lower()
        for k, u in enumerate(uppers[1:], start=1):
            if u == "PRIMARY" and k + 1 < len(uppers) and uppers[k + 1] == "KEY":
                pk = pk or [name]
            elif u == "UNIQUE":
                unique = unique or [name]
    return pk or unique or None


def _ddl_not_null(sql: str) -> List[str]:
    """Columns declared NOT NULL (or PRIMARY KEY, which implies it) in
    a bare-DDL CREATE TABLE, lowercase."""
    out: List[str] = []
    for code in _column_items(sql):
        if not code:
            continue
        first = code[0]
        if first.kind == "word" and first.upper in _TABLE_CONSTRAINT_KWS:
            continue
        uppers = [t.upper if t.kind == "word" else "" for t in code]
        name = _unquote_ident(first).lower()
        for k in range(1, len(uppers)):
            if uppers[k] == "NOT" and k + 1 < len(uppers) and uppers[k + 1] == "NULL":
                out.append(name)
                break
            if uppers[k] == "PRIMARY" and k + 1 < len(uppers) and uppers[k + 1] == "KEY":
                out.append(name)
                break
    pk = _ddl_primary_key(sql) or []
    for c in pk:
        if c not in out:
            out.append(c)
    return out


def _ddl_checks(sql: str) -> List[str]:
    """CHECK (...) expressions (column- and table-level) of a bare-DDL
    CREATE TABLE, as raw DuckDB-dialect expression text."""
    span = _column_list_span(sql)
    if span is None:
        return []
    tokens, open_idx, close_idx = span
    out: List[str] = []
    j = open_idx + 1
    while j < close_idx:
        if tokens[j].is_kw("CHECK"):
            k = next_code(tokens, j)
            if k < close_idx and tokens[k].kind == "op" and tokens[k].text == "(":
                m = closing(tokens, k)
                out.append("".join(x.text for x in tokens[k + 1: m]).strip())
                j = m
        j += 1
    return out


def _split_on_conflict(sql: str):
    """(sql_without_clause, conflict) — conflict is None or a dict
    {cols: Optional[list], action: 'nothing'|'update', sets: str,
    where: Optional[str]} for a trailing DuckDB upsert clause
    ``ON CONFLICT [(cols)] DO NOTHING | DO UPDATE SET ... [WHERE c]``.
    """
    tokens = tokenize(sql)
    n = len(tokens)
    at = None
    for i, t in top_level(tokens):
        if t.is_kw("ON"):
            j = next_code(tokens, i)
            if j < n and tokens[j].is_kw("CONFLICT"):
                at = (i, j)
                break
    if at is None:
        return sql, None
    pre = "".join(t.text for t in tokens[: at[0]])
    k = next_code(tokens, at[1])
    cols = None
    if k < n and tokens[k].kind == "op" and tokens[k].text == "(":
        close = closing(tokens, k)
        cols = [
            _unquote_ident(t).lower()
            for t in tokens[k + 1: close]
            if t.kind in ("word", "bident", "qident")
        ]
        k = next_code(tokens, close)
    if not (k < n and tokens[k].is_kw("DO")):
        raise UserException(f"Unsupported ON CONFLICT form: {sql[:120]}")
    k = next_code(tokens, k)
    if k < n and tokens[k].is_kw("NOTHING"):
        return pre, {"cols": cols, "action": "nothing", "sets": "", "where": None}
    if not (
        k < n
        and tokens[k].is_kw("UPDATE")
        and next_code(tokens, k) < n
        and tokens[next_code(tokens, k)].is_kw("SET")
    ):
        raise UserException(f"Unsupported ON CONFLICT form: {sql[:120]}")
    k = next_code(tokens, k)  # SET
    # split a trailing top-level WHERE off the SET list
    w = next((i for i, t in top_level(tokens, k + 1) if t.is_kw("WHERE")), None)
    where = None if w is None else "".join(x.text for x in tokens[w + 1:]).strip()
    sets = "".join(t.text for t in tokens[k + 1: w]).strip()
    return pre, {"cols": cols, "action": "update", "sets": sets, "where": where}


def _insert_clauses(sql: str):
    """(insert_text, on_conflict, returning): an INSERT with its
    trailing RETURNING and ON CONFLICT clauses split off."""
    sql, returning = _split_returning(sql)
    sql, conflict = _split_on_conflict(sql)
    return sql, conflict, returning


def _split_returning(sql: str):
    """Split a trailing top-level ``RETURNING <exprs>`` off an INSERT.
    Returns (sql_without_returning, exprs_text_or_None)."""
    tokens = tokenize(sql)
    for i, t in top_level(tokens):
        if t.is_kw("RETURNING"):
            exprs = "".join(x.text for x in tokens[i + 1:]).strip().rstrip(";")
            head = "".join(x.text for x in tokens[:i]).rstrip()
            return head, exprs or "*"
    return sql, None


def _insert_column_list(sql: str) -> Optional[List[str]]:
    """Explicit column list of ``INSERT INTO t (c1, c2) ...``, or None.
    The paren group must appear before the source keyword — ``INSERT
    INTO t VALUES (...)`` has none."""
    cols: List[str] = []
    for code in _column_items(sql):
        if len(code) != 1 or code[0].kind not in ("word", "qident", "bident"):
            return None  # not a plain column list
        cols.append(_unquote_ident(code[0]))
    return cols or None


def _insert_is_by_name(sql: str) -> bool:
    """True for ``INSERT INTO t BY NAME <source>``."""
    code = _code(sql)
    for pos in range(2, min(len(code) - 1, 8)):
        tok = code[pos][1]
        if tok.is_kw("SELECT", "WITH", "VALUES", "FROM"):
            return False
        if tok.is_kw("BY") and code[pos + 1][1].is_kw("NAME"):
            return True
    return False


def _insert_source_sql(sql: str) -> str:
    """SELECT/VALUES tail of an INSERT statement."""
    code = _code(sql)
    for pos, (idx, tok) in enumerate(code):
        if tok.is_kw("SELECT", "WITH", "VALUES", "FROM") and pos >= 2:
            tokens = tokenize(sql)
            tail = "".join(t.text for t in tokens[idx:]).strip()
            if tail.upper().startswith("FROM"):
                tail = "SELECT * " + tail
            if tail.upper().startswith("VALUES"):
                tail = "SELECT * FROM " + tail
            return tail
    raise UserException(f"Unsupported INSERT form: {sql[:100]}")


def _parse_update(
    sql: str,
) -> tuple[List[tuple[str, str]], Optional[str], Optional[str]]:
    """Parse `UPDATE t SET c = expr[, ...] [FROM sources] [WHERE pred]`
    into ([(col, expr)], from_text, pred)."""
    tokens = tokenize(sql)
    set_idx = from_idx = where_idx = None
    for i, tok in top_level(tokens):
        if tok.is_kw("SET") and set_idx is None:
            set_idx = i
        elif tok.is_kw("FROM") and set_idx is not None and from_idx is None:
            from_idx = i
        elif tok.is_kw("WHERE"):
            where_idx = i
            break
    if set_idx is None:
        raise UserException(f"UPDATE without SET: {sql[:100]}")
    set_end = min(
        x for x in (from_idx, where_idx, len(tokens)) if x is not None
    )
    assignments = _split_assignments(tokens, set_idx + 1, set_end)
    from_text = None
    if from_idx is not None:
        from_end = where_idx if where_idx is not None else len(tokens)
        from_text = "".join(t.text for t in tokens[from_idx + 1: from_end]).strip()
    where = None
    if where_idx is not None:
        where = "".join(t.text for t in tokens[where_idx + 1:]).strip()
    return assignments, from_text, where


def _parse_alter(tail: str):
    """Parse the action of a supported ALTER TABLE form (the text after
    its head) into ``(action, args)``; None for unsupported forms."""
    tokens = tokenize(tail)
    code = list(code_tokens(tokens))
    n = len(code)
    if n == 0:
        return None
    i = 0
    verb = code[i][1].upper

    def _name_at(j):
        return unquote_name(code[j][1]) if j < n else None

    if verb == "RENAME":
        i += 1
        if i < n and code[i][1].is_kw("TO"):
            return "rename_table", {"to": _name_at(i + 1)}
        if i < n and code[i][1].is_kw("COLUMN"):
            i += 1
        col = _name_at(i)
        if col and i + 1 < n and code[i + 1][1].is_kw("TO"):
            return "rename_column", {
                "col": col, "to": _name_at(i + 2),
            }
        return None
    if verb == "ADD":
        i += 1
        if i < n and code[i][1].is_kw("COLUMN"):
            i += 1
        if_not = False
        if (
            i + 2 < n
            and code[i][1].is_kw("IF")
            and code[i + 1][1].is_kw("NOT")
            and code[i + 2][1].is_kw("EXISTS")
        ):
            if_not = True
            i += 3
        col = _name_at(i)
        if col is None or i + 1 >= n:
            return None
        # remaining text = type [DEFAULT expr]
        lo = code[i + 1][0]
        d = next((j for j, t in top_level(tokens, lo) if t.is_kw("DEFAULT")), None)
        default = None if d is None else "".join(x.text for x in tokens[d + 1:]).strip()
        type_text = "".join(t.text for t in tokens[lo:d]).strip()
        if not type_text:
            return None
        return "add_column", {
            "col": col, "type": type_text, "default": default,
            "if_not_exists": if_not,
        }
    if verb == "DROP":
        i += 1
        if i < n and code[i][1].is_kw("COLUMN"):
            i += 1
        col_if_exists = False
        if i + 1 < n and code[i][1].is_kw("IF") and code[i + 1][1].is_kw("EXISTS"):
            col_if_exists = True
            i += 2
        col = _name_at(i)
        if col is None:
            return None
        return "drop_column", {
            "col": col, "if_exists": col_if_exists,
        }
    if verb == "ALTER":
        i += 1
        if i < n and code[i][1].is_kw("COLUMN"):
            i += 1
        col = _name_at(i)
        if col is None:
            return None
        i += 1
        # [SET DATA] TYPE <type>
        if i + 1 < n and code[i][1].is_kw("SET") and code[i + 1][1].is_kw("DATA"):
            i += 2
        if i >= n or not code[i][1].is_kw("TYPE"):
            return None
        if i + 1 >= n:
            return None
        type_text = "".join(t.text for t in tokens[code[i + 1][0]:]).strip()
        if not type_text:
            return None
        return "set_type", {"col": col, "type": type_text}
    return None


def _split_assignments(tokens: List[Token], lo: int, hi: int) -> List[tuple[str, str]]:
    """``[(col, expr)]`` of the ``c = expr[, ...]`` list in
    ``tokens[lo:hi]`` (UPDATE, MERGE ... UPDATE SET and ON CONFLICT DO
    UPDATE SET)."""
    out: List[tuple[str, str]] = []
    for a, b in split_top_commas(tokens, lo, hi):
        if a == b == hi:
            continue  # nothing after the last comma
        col, _, expr = "".join(t.text for t in tokens[a:b]).partition("=")
        out.append((col.strip().strip('"`'), expr.strip()))
    return out


def _check_set_columns(name: str, fields, sets) -> None:
    """DuckDB's binder rejects a SET naming no column of the target: a
    stale (e.g. renamed-away) column fails instead of a silent no-op."""
    have = {f.name.lower() for f in fields}
    for col, _ in sets:
        if col.lower() not in have:
            raise UserException(
                f"UPDATE: referenced update column '{col}' not found "
                f"in table '{name}'"
            )


def _parse_merge(sql: str):
    """Parse supported MERGE INTO forms; None for unsupported shapes.

    Returns {target, target_alias, source, on, clauses:[{kind, cond,
    sets | cols/values}]}. kind in update/delete/insert."""
    tokens = tokenize(sql)
    code = _code(sql)
    ctoks = [t for _, t in code]
    n = len(code)
    if n < 4 or code[0][1].upper != "MERGE" or code[1][1].upper != "INTO":
        return None
    i = 2
    target = unquote_name(code[i][1])
    i += 1
    target_alias = None
    if i < n and code[i][1].is_kw("AS"):
        i += 1
    if i < n and code[i][1].kind in ("word", "bident", "qident") and not code[i][
        1
    ].is_kw("USING"):
        target_alias = unquote_name(code[i][1])
        i += 1
    if i >= n or not code[i][1].is_kw("USING"):
        return None
    # spans in RAW token indices, tracked at depth 0
    using_start = code[i][0] + 1

    def _find_kw(kw: str, from_code_idx: int) -> Optional[int]:
        return next((j for j, t in top_level(ctoks, from_code_idx) if t.is_kw(kw)), None)

    on_ci = _find_kw("ON", i + 1)
    if on_ci is None:
        return None
    first_when_ci = _find_kw("WHEN", on_ci + 1)
    if first_when_ci is None:
        return None
    source = "".join(
        t.text for t in tokens[using_start: code[on_ci][0]]
    ).strip()
    on = "".join(
        t.text for t in tokens[code[on_ci][0] + 1: code[first_when_ci][0]]
    ).strip()

    # WHEN-clause spans
    when_cis = []
    ci = first_when_ci
    while ci is not None:
        when_cis.append(ci)
        ci = _find_kw("WHEN", ci + 1)
    clauses = []
    for k, wci in enumerate(when_cis):
        end_ci = when_cis[k + 1] if k + 1 < len(when_cis) else n
        j = wci + 1
        negated = False
        if j < end_ci and code[j][1].is_kw("NOT"):
            negated = True
            j += 1
        if j >= end_ci or not code[j][1].is_kw("MATCHED"):
            return None
        j += 1
        by_source = False
        if j < end_ci and code[j][1].is_kw("BY"):
            if j + 1 < end_ci and code[j + 1][1].is_kw("SOURCE") and negated:
                by_source = True
                j += 2
            elif j + 1 < end_ci and code[j + 1][1].is_kw("TARGET") and negated:
                j += 2  # NOT MATCHED BY TARGET == plain NOT MATCHED
            else:
                return None
        cond = None
        if j < end_ci and code[j][1].is_kw("AND"):
            then_ci = _find_kw("THEN", j)
            if then_ci is None or then_ci >= end_ci:
                return None
            cond = "".join(
                t.text for t in tokens[code[j][0] + 1: code[then_ci][0]]
            ).strip()
            j = then_ci
        if j >= end_ci or not code[j][1].is_kw("THEN"):
            return None
        j += 1
        if j >= end_ci:
            return None
        action = code[j][1].upper
        end_raw = code[end_ci][0] if end_ci < n else len(tokens)
        if action == "DELETE":
            if negated and not by_source:
                return None
            clauses.append(
                {"kind": "delete", "cond": cond, "by_source": by_source}
            )
        elif action == "UPDATE":
            if negated and not by_source:
                return None
            j += 1
            if j >= end_ci or not code[j][1].is_kw("SET"):
                return None
            clauses.append(
                {
                    "kind": "update",
                    "cond": cond,
                    "sets": _split_assignments(tokens, code[j][0] + 1, end_raw),
                    "by_source": by_source,
                }
            )
        elif action == "INSERT":
            if not negated or by_source:
                return None
            j += 1
            cols = None
            values = None
            star = False
            if j < end_ci and code[j][1].kind == "op" and code[j][1].text == "*":
                star = True
            elif j < end_ci:
                if code[j][1].kind == "op" and code[j][1].text == "(":
                    close_raw = closing(tokens, code[j][0])
                    cols = [
                        p.strip().strip('"`')
                        for p in "".join(
                            t.text for t in tokens[code[j][0] + 1: close_raw]
                        ).split(",")
                    ]
                    while j < end_ci and code[j][0] <= close_raw:
                        j += 1
                if j < end_ci and code[j][1].is_kw("VALUES"):
                    jj = j + 1
                    if jj >= end_ci or code[jj][1].text != "(":
                        return None
                    close_raw = closing(tokens, code[jj][0])
                    values = _item_texts(tokens, code[jj][0] + 1, close_raw)
                else:
                    return None
            clauses.append(
                {
                    "kind": "insert",
                    "cond": cond,
                    "cols": cols,
                    "values": values,
                    "star": star,
                }
            )
        else:
            return None
    return {
        "target": target,
        "target_alias": target_alias,
        "source": source,
        "on": on,
        "clauses": clauses,
    }


def _item_texts(tokens: List[Token], lo: int, hi: int) -> List[str]:
    """The non-blank top-level comma items of ``tokens[lo:hi]`` as
    stripped text."""
    texts = ("".join(t.text for t in tokens[a:b]).strip() for a, b in split_top_commas(tokens, lo, hi))
    return [x for x in texts if x]


def _merge_insert_projection(clause, fields) -> str:
    """SELECT list (target column order, typed) for a WHEN NOT MATCHED
    INSERT clause."""
    if clause["star"]:
        return ", ".join(
            f"CAST({_bt(f.name)} AS {f.dataType.simpleString()}) AS {_bt(f.name)}"
            for f in fields
        )
    values = [translate(v) for v in (clause["values"] or [])]
    if clause["cols"] is None:
        if len(values) != len(fields):
            raise UserException(
                f"MERGE INSERT values count {len(values)} does not match "
                f"target column count {len(fields)}"
            )
        by_name = dict(zip([f.name.lower() for f in fields], values))
    else:
        if len(values) != len(clause["cols"]):
            raise UserException("MERGE INSERT column/value count mismatch")
        by_name = {c.lower(): v for c, v in zip(clause["cols"], values)}
    out = []
    for f in fields:
        expr = by_name.get(f.name.lower(), "NULL")
        out.append(
            f"CAST(({expr}) AS {f.dataType.simpleString()}) AS {_bt(f.name)}"
        )
    return ", ".join(out)


_AGG_FN_NAMES = {
    "sum", "count", "avg", "mean", "min", "max", "median", "mode",
    "stddev", "stddev_samp", "stddev_pop", "variance", "var_samp",
    "var_pop", "corr", "covar_pop", "covar_samp", "first", "last",
    "string_agg", "listagg", "array_agg", "collect_list", "collect_set",
    "approx_count_distinct", "percentile", "percentile_cont",
    "percentile_disc", "bool_and", "bool_or", "any_value",
}


def _parse_macro(tail: str):
    """(params, body_text) for a macro head's tail ``(p1, p2) AS
    expr``; None otherwise."""
    tokens = tokenize(tail)
    code = [i for i, t in enumerate(tokens) if t.kind not in ("ws", "comment")]
    if not code or tokens[code[0]].text != "(":
        return None
    close = closing(tokens, code[0])
    params = [p.strip('`"') for p in _item_texts(tokens, code[0] + 1, close)]
    after = [i for i in code if i > close]
    if not after or not tokens[after[0]].is_kw("AS"):
        return None
    # table macro: AS TABLE <select> — the inline expansion already
    # parenthesizes, and a parenthesized SELECT is a valid derived
    # table, so only the TABLE keyword needs stripping
    if len(after) > 1 and tokens[after[1]].is_kw("TABLE"):
        after = after[1:]
    body = "".join(t.text for t in tokens[after[0] + 1:]).strip()
    return (params, body) if body else None


def _pivot_value_literal(v) -> str:
    """Typed SQL literal for a discovered PIVOT ON value: a bare
    ``str(date)`` would reach Spark as integer subtraction
    (``(col) = 1998-01-02``)."""
    import datetime
    import decimal

    if isinstance(v, str):
        return "'" + v.replace("'", "''") + "'"
    if isinstance(v, bool):
        return "TRUE" if v else "FALSE"
    if isinstance(v, datetime.datetime):
        return f"TIMESTAMP '{v.isoformat(sep=' ')}'"
    if isinstance(v, datetime.date):
        return f"DATE '{v.isoformat()}'"
    if isinstance(v, (int, float, decimal.Decimal)):
        return str(v)
    raise UserException(
        f"PIVOT ON column has unsupported value type "
        f"{type(v).__name__}: {v!r}"
    )


def _split_pivot_in_list(on_expr: str):
    """Split ``col IN (v1, v2)`` -> (``col``, [(lit_sql, name), ...]);
    (on_expr, None) when there is no top-level IN list."""
    tokens = tokenize(on_expr)
    n = len(tokens)
    for i, tok in top_level(tokens):
        if tok.is_kw("IN"):
            j = next_code(tokens, i)
            if j < n and tokens[j].kind == "op" and tokens[j].text == "(":
                close = closing(tokens, j)
                vals = []
                for text in _item_texts(tokens, j + 1, close):
                    name = (
                        text[1:-1].replace("''", "'")
                        if text.startswith("'") and text.endswith("'")
                        else text
                    )
                    vals.append((text, name))
                col = "".join(t.text for t in tokens[:i]).strip()
                return col, vals
    return on_expr, None


def _split_pivot_aggs(agg_expr: str):
    """Split a USING clause on top-level commas into
    [(expr, alias|None)] pairs (``sum(x) AS s, count(*) AS c``)."""
    tokens = tokenize(agg_expr)
    out = []
    for a, b in split_top_commas(tokens, 0, len(tokens)):
        text = "".join(t.text for t in tokens[a:b]).strip()
        if not text:
            continue
        as_pos = next((j for j, t in top_level(tokens, a, b) if t.is_kw("AS")), None)
        if as_pos is None:
            out.append((text, None))
        else:
            expr = "".join(t.text for t in tokens[a:as_pos]).strip()
            alias = "".join(t.text for t in tokens[as_pos + 1: b]).strip().strip('"`')
            out.append((expr, alias))
    return out


# aggregates whose dialect rewrite replaces the call with a composite
# expression that can't carry a trailing FILTER clause — the pivot
# predicate goes into the ARGUMENT instead (both skip nulls, so
# CASE WHEN pred THEN arg END is equivalent to FILTER)
_ARG_WRAPPED_AGGS = {"product", "entropy", "histogram"}


def _attach_agg_filter(expr: str, predicate: str) -> Optional[str]:
    """Apply a pivot-cell predicate to every aggregate call inside an
    expression: ``FILTER (WHERE pred)`` after the call
    (``CAST(count(*) AS INT)`` -> ``CAST(count(*) FILTER (...) AS
    INT)``), AND-merged into an existing FILTER clause rather than
    doubled; product/entropy get a CASE-wrapped argument instead.
    Returns None when no aggregate call is found."""
    tokens = tokenize(expr)
    n = len(tokens)
    out: List[Token] = []
    found = False

    def _next(k: int) -> int:
        while k < n and tokens[k].kind in ("ws", "comment"):
            k += 1
        return k

    def _existing_filter(k: int):
        """(filter_close, body) when tokens[k:] start with a FILTER
        clause; else None."""
        k = _next(k)
        if k < n and tokens[k].kind == "word" and tokens[k].upper == "FILTER":
            p = _next(k + 1)
            if p < n and tokens[p].kind == "op" and tokens[p].text == "(":
                fclose = closing(tokens, p)
                body = "".join(t.text for t in tokens[p + 1 : fclose]).strip()
                if body.upper().startswith("WHERE"):
                    body = body[5:].strip()
                return fclose, body
        return None

    i = 0
    while i < n:
        tok = tokens[i]
        low = tok.text.lower() if tok.kind == "word" else ""
        if low in _AGG_FN_NAMES or low in _ARG_WRAPPED_AGGS:
            j = _next(i + 1)
            if j < n and tokens[j].kind == "op" and tokens[j].text == "(":
                close = closing(tokens, j)
                found = True
                existing = _existing_filter(close + 1)
                if low in _ARG_WRAPPED_AGGS:
                    arg = "".join(
                        t.text for t in tokens[j + 1 : close]
                    ).strip()
                    pred = predicate
                    if existing is not None:
                        pred = f"({existing[1]}) AND {predicate}"
                    out.append(tok)
                    out.extend(
                        tokenize(f"(CASE WHEN {pred} THEN {arg} END)")
                    )
                    i = (existing[0] if existing is not None else close) + 1
                    continue
                out.append(tok)
                out.extend(tokens[i + 1 : close + 1])
                out.append(Token("ws", " "))
                if existing is not None:
                    out.extend(
                        tokenize(
                            f"FILTER (WHERE ({existing[1]}) AND {predicate})"
                        )
                    )
                    i = existing[0] + 1
                else:
                    out.extend(tokenize(f"FILTER (WHERE {predicate})"))
                    i = close + 1
                continue
        out.append(tok)
        i += 1
    if not found:
        return None
    return "".join(t.text for t in out)


def _parse_copy(sql: str):
    """(source_text, path, options) for ``COPY src TO 'path' [(opts)]``;
    None for unsupported shapes (COPY FROM import is not supported —
    inputs arrive via the data-dir mapping)."""
    tokens = tokenize(sql)
    code = _code(sql)
    n = len(code)
    if n < 4 or code[0][1].upper != "COPY":
        return None
    i = 1
    if code[i][1].kind == "op" and code[i][1].text == "(":
        close_raw = closing(tokens, code[i][0])
        source = "".join(
            t.text for t in tokens[code[i][0]: close_raw + 1]
        )
        while i < n and code[i][0] <= close_raw:
            i += 1
    elif code[i][1].kind in ("word", "bident", "qident", "string"):
        tok = code[i][1]
        source = tok.text[1:-1] if tok.kind == "string" else unquote_name(tok)
        i += 1
    else:
        return None
    if i >= n or not code[i][1].is_kw("TO"):
        return None
    i += 1
    if i >= n or code[i][1].kind != "string":
        return None
    path = code[i][1].text[1:-1].replace("''", "'")
    i += 1
    opts: dict = {}
    if i < n and code[i][1].kind == "op" and code[i][1].text == "(":
        close_raw = closing(tokens, code[i][0])
        inner = [
            (j, t) for j, t in code[i + 1:]
            if j < close_raw
        ]
        words = [t for _, t in inner]
        for k, t in enumerate(words):
            u = t.upper if t.kind == "word" else ""
            if u == "FORMAT" and k + 1 < len(words):
                opts["format"] = words[k + 1].text.strip("'").lower()
            elif u == "HEADER":
                val = True
                if k + 1 < len(words) and words[k + 1].upper in ("FALSE", "0"):
                    val = False
                opts["header"] = val
            elif u == "DELIMITER" and k + 1 < len(words):
                if words[k + 1].kind == "string":
                    opts["delimiter"] = words[k + 1].text[1:-1]
            elif u == "FORCE_QUOTE":
                opts["force_quote_all"] = True
    return source, path, opts


def _delete_using_where(sql: str) -> tuple[Optional[str], Optional[str]]:
    """Split ``DELETE FROM t [USING sources] [WHERE pred]`` into
    (using_text, where_text)."""
    tokens = tokenize(sql)
    using_idx = where_idx = None
    for i, tok in top_level(tokens):
        if tok.is_kw("USING") and using_idx is None:
            using_idx = i
        elif tok.is_kw("WHERE"):
            where_idx = i
            break
    where = (
        "".join(t.text for t in tokens[where_idx + 1:]).strip()
        if where_idx is not None
        else None
    )
    using = None
    if using_idx is not None:
        end = where_idx if where_idx is not None else len(tokens)
        using = "".join(t.text for t in tokens[using_idx + 1: end]).strip()
    return using, where
