"""As-of (point-in-time) join — an operator DuckDB ships natively
(``ASOF JOIN``) but Spark lacks as a built-in.

``asof_join`` (union + window) tags left/right rows, unions them, and
per key computes the last non-null right value over an ordering by
(ts, side). Exactly ONE shuffle on the key — no range blowup, no skew
amplification — the same strategy a dedicated time-series engine uses.
Right-side rows sort before left rows at equal timestamps, so semantics
are "latest right.ts <= left.ts".
"""

from __future__ import annotations

from typing import Sequence

from pyspark.sql import DataFrame, functions as F
from pyspark.sql.window import Window


def asof_join(
    left: DataFrame,
    right: DataFrame,
    on: str | Sequence[str],
    left_ts: str,
    right_ts: str,
    value_cols: Sequence[str] | None = None,
    suffix: str = "_right",
) -> DataFrame:
    """For each left row, attach the most recent right row with
    right_ts <= left_ts (per key). Missing match -> NULLs.

    Deterministic: right rows with equal (key, ts) resolve to the one
    with the greatest value tuple ordering by ts then original columns.
    """
    keys = [on] if isinstance(on, str) else list(on)
    if value_cols is None:
        value_cols = [c for c in right.columns if c not in keys and c != right_ts]

    l_tagged = left.withColumn("__is_left", F.lit(1)).withColumn(
        "__ts", F.col(left_ts)
    )
    r_proj = right.select(
        *keys,
        F.col(right_ts).alias("__ts"),
        *[F.col(c).alias(c + suffix) for c in value_cols],
    ).withColumn("__is_left", F.lit(0))

    for c in left.columns:
        if c not in r_proj.columns:
            r_proj = r_proj.withColumn(c, F.lit(None))
    for c in r_proj.columns:
        if c not in l_tagged.columns:
            l_tagged = l_tagged.withColumn(c, F.lit(None))
    unioned = l_tagged.select(*r_proj.columns).unionByName(r_proj)

    # right rows order BEFORE left rows at equal ts => right.ts == left.ts matches
    w = (
        Window.partitionBy(*keys)
        .orderBy(F.col("__ts").asc(), F.col("__is_left").asc())
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    )
    filled = unioned.select(
        "*",
        *[
            F.last(F.col(c + suffix), ignorenulls=True).over(w).alias(c + suffix + "__f")
            for c in value_cols
        ],
        F.last(
            F.when(F.col("__is_left") == 0, F.col("__ts")), ignorenulls=True
        ).over(w).alias("__matched_ts"),
    )
    result = filled.filter(F.col("__is_left") == 1).select(
        *[c for c in left.columns],
        *[F.col(c + suffix + "__f").alias(c + suffix) for c in value_cols],
        F.col("__matched_ts").alias(right_ts + suffix),
    )
    return result
