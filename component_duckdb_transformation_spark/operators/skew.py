"""Skew-handling utilities for 100 TB-scale joins and aggregations.

Spark's own mitigations come first: partial (map-side) aggregation
absorbs aggregate skew, AQE splits skewed sort-merge-join partitions
(``spark.sql.adaptive.skewJoin`` — enabled by the session factory), and
broadcast joins sidestep skew entirely when one side fits. These helpers
cover the remaining case: a shuffle join where BOTH sides are large and
one join key is pathologically hot.

- ``salted_join``: replicates the build side ``salt`` times and sprays
  the probe side across salts, so a hot key spreads over ``salt``
  reducers instead of one.
- ``two_stage_count_distinct``: exact COUNT(DISTINCT x) per hot key
  without a single-reducer bottleneck (pre-aggregate on (key, x)).
"""

from __future__ import annotations

import re
from typing import Sequence

from pyspark.sql import DataFrame, functions as F

# logical operators that make a plan "narrow-over-scan": probing such a
# plan's RDD partition count is free (no upstream shuffle stage exists,
# so AQE has nothing to materialize eagerly). Anything else — joins,
# aggregates, generators — skips the fan-out entirely rather than risk
# executing upstream exchanges twice via df.rdd (r13 ADVICE).
_NARROW_OPS = frozenset({"Relation", "LogicalRelation", "Filter", "Project"})
_PLAN_OP_RE = re.compile(r"^[\s:+\-]*([A-Za-z]+)")


def fan_target(sc, parts: int | None = None) -> int:
    """Concurrency-aware fan-out sizing (guide §2.5 with §2.6).

    ``defaultParallelism`` is the right ceiling for ONE job with the
    cluster to itself, but concurrent sibling jobs (a thread-pooled
    driver, guide §2.6) share the same cores: sizing every sibling's
    fan to the full core count multiplies peak demand by the pool
    width and oversubscribes CPU and Python workers (each fanned task
    pins one). Derive the target from FREE capacity instead — the
    core count divided by the jobs already running."""
    dp = sc.defaultParallelism
    requested = parts or dp
    try:
        active = len(sc.statusTracker().getActiveJobsIds())
    except Exception:  # noqa: BLE001 — sizing heuristic only
        active = 0
    return max(2, min(requested, dp // (active + 1)))


def _is_narrow_over_scan(df: DataFrame) -> bool:
    """True when the optimized logical plan is only scan/filter/project
    nodes — the shapes whose RDD conversion runs no upstream job."""
    try:
        plan = df._jdf.queryExecution().optimizedPlan().toString()
    except Exception:  # noqa: BLE001 — conservative: no fan-out
        return False
    for line in plan.splitlines():
        m = _PLAN_OP_RE.match(line)
        if not line.strip() or not m:
            continue
        if m.group(1) not in _NARROW_OPS:
            return False
    return True


def fan_out_narrow(df: DataFrame, parts: int | None = None) -> DataFrame:
    """Round-robin-repartition a NARROW input up to ``parts`` (capped
    by :func:`fan_target`) before a CPU-heavy map stage.

    A single-row-group parquet file is unsplittable, so every map-side
    stage above the first exchange runs on ONE core no matter how many
    are free (guide §2.5 input skew). When the downstream per-row work
    (Arrow/Python hashing, scoring, shingling) far outweighs shuffling
    the compact input rows once, fanning out is the right trade at any
    scale — and when the input already has at least ``parts``
    partitions (real multi-file tables at cluster scale), this is a
    no-op, so it never adds a shuffle where the scan already
    parallelizes. Inputs that are not plain scan/filter/project plans
    are returned unchanged: probing their partition count via df.rdd
    can force AQE to materialize upstream shuffle stages eagerly (a
    hidden re-execution cliff), and a shuffled input is already spread
    across reducers anyway. Keyless repartition sorts-before-shuffle
    (SPARK-23207), so retries are deterministic."""
    if not _is_narrow_over_scan(df):
        return df
    target = fan_target(df.sparkSession.sparkContext, parts)
    if df.rdd.getNumPartitions() >= target:
        return df
    return df.repartition(target)


def salted_join(
    probe: DataFrame,
    build: DataFrame,
    on: str | Sequence[str],
    salt: int = 16,
    how: str = "inner",
) -> DataFrame:
    """Equi-join resilient to hot keys in ``probe``.

    The build side is replicated ``salt`` times (rows x salt — keep the
    build side the smaller one); each probe row picks one salt bucket at
    random-but-deterministically (hash of all probe columns), so a hot
    key's rows land on ``salt`` distinct reducers.
    """
    keys = [on] if isinstance(on, str) else list(on)
    salted_build = build.withColumn(
        "__salt", F.explode(F.sequence(F.lit(0), F.lit(salt - 1)))
    )
    probe_salted = probe.withColumn(
        "__salt", F.pmod(F.xxhash64(*[F.col(c) for c in probe.columns]), F.lit(salt))
        .cast("int")
    )
    out = probe_salted.join(salted_build, [*keys, "__salt"], how)
    return out.drop("__salt")


def two_stage_count_distinct(
    df: DataFrame, keys: Sequence[str], distinct_col: str, out_col: str = "n_distinct"
) -> DataFrame:
    """Exact per-key COUNT(DISTINCT distinct_col) as two partial-friendly
    aggregations: dedupe on (keys, value) first (map-side combinable),
    then count. Equivalent to COUNT(DISTINCT) but never funnels one hot
    key's raw rows into a single reducer."""
    keys = list(keys)
    return (
        df.select(*keys, distinct_col)
        .distinct()
        .groupBy(*keys)
        .agg(F.count("*").alias(out_col))
    )
