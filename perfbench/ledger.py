"""Per-layer ledger for the component benchmark.

Wraps each layer's public entry point from outside the program (the
names the layer is bound under at its call site), records one span per
call in memory, and sums time and counts per run. A span is
(run, layer, parent layer, thread, start, end, label); the parent is
the innermost ledger span open on the same thread, and the label names
the query or table of a statement or export span.

Attribution rules:

- a layer re-entered on the same thread (``insert_into`` folding into
  ``rewrite``) is one span;
- ``SparkSession.sql`` counts as ``executor.spark_sql`` only inside
  ``executor.query`` and outside translation and store commits, so
  ``executor.residual_s`` = query - translate - spark.sql - commit holds
  without double counting;
- ``dialect.translate`` sums both bindings (executor and validator);
  the executor's share is also kept for the residual.
"""

from __future__ import annotations

import functools
import json
import threading
import time
from collections import defaultdict

#: layers inside which a SparkSession.sql call is theirs, not the executor's
_OWNS_SQL = ("dialect.translate", "store.commit")

_STORE_COMMITS = (
    "create_table", "insert_into", "rewrite", "rename_table", "commit_stream_batch",
)


class Ledger:
    def __init__(self) -> None:
        self._local = threading.local()
        self._lock = threading.Lock()
        self._patches: list = []
        self.spans: list = []
        self.run = None
        self.seconds: dict = defaultdict(float)
        self.counts: dict = defaultdict(int)

    # -- recording --------------------------------------------------------
    def _stack(self) -> list:
        stack = getattr(self._local, "stack", None)
        if stack is None:
            stack = self._local.stack = []
        return stack

    def _wrap(self, fn, layer: str, when=None, count=None, label=None):
        ledger = self

        @functools.wraps(fn)
        def wrapper(*args, **kwargs):
            stack = ledger._stack()
            if layer in stack or (when is not None and not when(stack)):
                return fn(*args, **kwargs)
            parent = stack[-1] if stack else None
            stack.append(layer)
            t0 = time.perf_counter()
            try:
                result = fn(*args, **kwargs)
            finally:
                t1 = time.perf_counter()
                stack.pop()
                ledger._record(
                    layer, parent, stack, t0, t1, label(*args) if label else None
                )
            if count is not None:
                with ledger._lock:
                    ledger.counts[count[0]] += count[1](result)
            return result

        return wrapper

    def _record(self, layer, parent, stack, t0, t1, label) -> None:
        with self._lock:
            self.seconds[layer] += t1 - t0
            self.counts[layer] += 1
            if layer == "dialect.translate" and "executor.query" in stack:
                self.seconds["dialect.translate@executor"] += t1 - t0
            self.spans.append(
                (self.run, layer, parent, threading.get_ident(), t0, t1, label)
            )

    def begin_run(self, run) -> None:
        with self._lock:
            self.run = run
            self.seconds.clear()
            self.counts.clear()

    def end_run(self) -> tuple[dict, dict]:
        with self._lock:
            self.run = None
            return dict(self.seconds), dict(self.counts)

    # -- installation -----------------------------------------------------
    def _patch(self, owner, attr: str, layer: str, **kw) -> None:
        had = attr in vars(owner)
        original = vars(owner)[attr] if had else None
        self._patches.append((owner, attr, had, original))
        setattr(owner, attr, self._wrap(getattr(owner, attr), layer, **kw))

    def install(self, session_cls) -> None:
        """Wrap every layer entry point; ``session_cls`` is the class of
        the live SparkSession."""
        from component_duckdb_transformation_spark import component
        from component_duckdb_transformation_spark.plans import executor, orchestrator
        from component_duckdb_transformation_spark.validators import sql_validator

        def executor_sql(stack):
            return "executor.query" in stack and not any(
                layer in stack for layer in _OWNS_SQL
            )

        self._patch(component, "create_input_view", "sources.import")
        self._patch(sql_validator.SQLValidator, "validate_queries", "validators.validate")
        self._patch(
            orchestrator, "parse_script", "sql_parser.parse",
            count=("sql_parser.statements", len),
        )
        self._patch(orchestrator, "build_execution_plan", "orchestrator.plan")
        self._patch(orchestrator.BlockOrchestrator, "_run_batch", "orchestrator.batch")
        self._patch(executor, "translate", "dialect.translate")
        self._patch(sql_validator, "translate", "dialect.translate")
        self._patch(
            executor.SparkStatementExecutor, "execute_query", "executor.query",
            label=lambda _self, query, *a: query.name,
        )
        self._patch(session_cls, "sql", "executor.spark_sql", when=executor_sql)
        for name in _STORE_COMMITS:
            self._patch(executor.TableStore, name, "store.commit")
        self._patch(
            component, "export_table", "sinks.export",
            label=lambda _spark, table, *a: table,
        )

    def uninstall(self) -> None:
        for owner, attr, had, original in reversed(self._patches):
            if had:
                setattr(owner, attr, original)
            else:
                delattr(owner, attr)
        self._patches.clear()

    def write_spans(self, path: str, header: dict) -> None:
        """Spans as JSON lines, times relative to the first span."""
        t_base = min((s[4] for s in self.spans), default=0.0)
        with open(path, "w", encoding="utf-8") as fh:
            fh.write(json.dumps(header) + "\n")
            for run, layer, parent, thread, t0, t1, label in self.spans:
                fh.write(json.dumps({
                    "run": run, "layer": layer, "parent": parent,
                    "thread": thread, "start": round(t0 - t_base, 6),
                    "end": round(t1 - t_base, 6), "label": label,
                }) + "\n")
