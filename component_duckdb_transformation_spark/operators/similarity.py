"""Similarity search over embedding columns (``array<float>``).

- ``brute_force_topk``: exact top-k by cosine (or quantized integer dot)
  — broadcast the query set, map-side score, per-query window top-k.
  This is the correct baseline at any scale where the QUERY set is
  small: cost = one scan of the corpus, no shuffle except the final
  per-query top-k (tiny).
- ``lsh_bucketed_topk``: random-hyperplane LSH — computes a sign-bit
  bucket per vector, joins query and corpus within buckets only. The
  scale path when the query set is itself huge: turns all-pairs into a
  per-bucket join. Probing ``n_probe`` neighboring buckets (bit flips)
  trades recall for cost.

Quantized scoring (``quantize=1000``) converts to integer arithmetic:
dot = sum(round(a*q) * round(b*q)) — bit-exact across engines, used by
the correctness oracle.
"""

from __future__ import annotations

import numpy as np
from pyspark.sql import DataFrame, functions as F
from pyspark.sql.window import Window

from ..exceptions import UserException


def _dot_double(a, b) -> F.Column:
    return F.aggregate(
        F.zip_with(a, b, lambda x, y: x.cast("double") * y.cast("double")),
        F.lit(0.0),
        lambda acc, v: acc + v,
    )


def _dot_quantized(a, b, q: int) -> F.Column:
    return F.aggregate(
        F.zip_with(
            a,
            b,
            lambda x, y: F.round(x.cast("double") * q).cast("bigint")
            * F.round(y.cast("double") * q).cast("bigint"),
        ),
        F.lit(0).cast("bigint"),
        lambda acc, v: acc + v,
    )


def _norm(a) -> F.Column:
    return F.sqrt(_dot_double(a, a))


def brute_force_topk(
    corpus: DataFrame,
    queries: DataFrame,
    k: int = 10,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    query_id_col: str = "query_id",
    metric: str = "cosine",
    quantize: int | None = None,
) -> DataFrame:
    """Exact top-k neighbors per query. Output:
    (query_id, vec_id, score, rank). Deterministic: ties broken by vec_id."""
    q = queries.select(
        F.col(query_id_col).alias("query_id"), F.col(vec_col).alias("q_vec")
    )
    c = corpus.select(F.col(id_col).alias("vec_id"), F.col(vec_col).alias("c_vec"))
    joined = c.crossJoin(F.broadcast(q))
    if quantize:
        score = _dot_quantized(F.col("q_vec"), F.col("c_vec"), quantize)
    elif metric == "dot":
        score = _dot_double(F.col("q_vec"), F.col("c_vec"))
    else:  # cosine
        score = _dot_double(F.col("q_vec"), F.col("c_vec")) / (
            _norm(F.col("q_vec")) * _norm(F.col("c_vec"))
        )
    w = Window.partitionBy("query_id").orderBy(F.col("score").desc(), F.col("vec_id").asc())
    return (
        joined.withColumn("score", score)
        .withColumn("rank", F.row_number().over(w).cast("int"))
        .filter(F.col("rank") <= k)
        .select("query_id", "vec_id", "score", "rank")
    )


def random_hyperplanes(dim: int, n_planes: int, seed: int = 42) -> list[list[float]]:
    """Deterministic Gaussian hyperplanes (public-knowledge SimHash-LSH)."""
    rng = np.random.default_rng(seed)
    return rng.standard_normal((n_planes, dim)).tolist()


def integer_hyperplanes(dim: int, n_planes: int) -> list[list[int]]:
    """md5-derived integer hyperplane components in [-1000, 1000].

    Integer planes + quantized embeddings make bucket assignment exact
    integer arithmetic — reproducible in any engine (no float summation
    order issues), so LSH results can be verified against a SQL oracle.
    """
    import hashlib

    def h(i: int, d: int) -> int:
        v = int(hashlib.md5(f"{i}:{d}".encode()).hexdigest()[:15], 16)
        return (v % 2001) - 1000

    return [[h(i, d) for d in range(dim)] for i in range(n_planes)]


def _bucket_expr_quantized(vec, planes: list[list[int]], q: int) -> F.Column:
    """Sign-bit bucket from integer projections: proj_i = sum(round(e*q)
    * p_i) as bigint — bit-exact across engines.

    One pass over the vector: all n_planes projections accumulate in an
    array accumulator, with the quantized element and intermediate
    arrays LET-BOUND via single-element transform() lambdas — without
    the binding, Catalyst's projection collapse inlines the rounding
    into every per-plane use and the old per-plane-aggregate shape
    evaluated round(e*q) planes x dim times per row (~8x slower at
    n_planes=8; this was 80% of the LSH workload's runtime)."""
    n_planes = len(planes)
    dim = len(planes[0])
    # transposed coefficients: per-dimension array of per-plane weights
    planes_t = F.array(*[
        F.array(*[F.lit(int(planes[i][d])).cast("bigint") for i in range(n_planes)])
        for d in range(dim)
    ])
    qv = F.transform(vec, lambda x: F.round(x.cast("double") * q).cast("bigint"))

    def bucket_of(qv_b):
        per_elem = F.zip_with(
            qv_b, planes_t, lambda qx, coefs: F.transform(coefs, lambda p: qx * p)
        )
        projs = F.aggregate(
            per_elem,
            F.array_repeat(F.lit(0).cast("bigint"), n_planes),
            lambda acc, v: F.zip_with(acc, v, lambda a, b: a + b),
        )

        def bits(pr):
            bucket = F.lit(0).cast("bigint")
            for i in range(n_planes):
                bucket = bucket + F.when(
                    F.element_at(pr, i + 1) > 0, F.lit(2 ** i).cast("bigint")
                ).otherwise(0)
            return bucket

        return F.element_at(F.transform(F.array(projs), bits), 1)

    return F.element_at(F.transform(F.array(qv), bucket_of), 1)


def _bucket_expr(vec, planes: list[list[float]]) -> F.Column:
    """Sign-bit bucket id from hyperplane projections (JVM-side arithmetic)."""
    bucket = F.lit(0).cast("bigint")
    for i, plane in enumerate(planes):
        proj = F.aggregate(
            F.zip_with(
                vec,
                F.array(*[F.lit(float(p)) for p in plane]),
                lambda x, p: x.cast("double") * p,
            ),
            F.lit(0.0),
            lambda acc, v: acc + v,
        )
        bucket = bucket + F.when(proj > 0, F.lit(2 ** i).cast("bigint")).otherwise(0)
    return bucket


def _with_quantized_bucket(
    df: DataFrame, vec_col: str, planes: list[list[int]], q: int
) -> DataFrame:
    """Append a ``bucket`` column = sign-bit hyperplane bucket of the
    quantized vector. Same arithmetic as ``_bucket_expr_quantized``
    (verified equal by test_lsh_bucket_vectorized_matches_expr) but
    computed as ONE numpy int64 matmul per Arrow batch — Spark's
    higher-order lambdas are interpreted per element, and at
    n_planes x dim = 512 interpreted ops/row the Column-expression
    form was 80% of the LSH workload's runtime."""
    import pandas as pd  # noqa: F401

    fields = df.schema.fields
    out_schema = ", ".join(
        f"`{f.name}` {f.dataType.simpleString()}" for f in fields
    ) + ", bucket bigint"
    planes_t = np.array(planes, dtype=np.int64).T  # dim x n_planes
    bits = 1 << np.arange(len(planes), dtype=np.int64)

    def add_bucket(batches):
        for pdf in batches:
            if not len(pdf):
                continue
            mat = _quantize_np(np.stack(pdf[vec_col].to_numpy()), q)
            signs = (mat @ planes_t) > 0
            pdf = pdf.copy()
            pdf["bucket"] = signs.astype(np.int64) @ bits
            yield pdf

    return df.mapInPandas(add_bucket, schema=out_schema)


def lsh_bucketed_topk(
    corpus: DataFrame,
    queries: DataFrame,
    k: int = 10,
    n_planes: int = 8,
    dim: int = 64,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    query_id_col: str = "query_id",
    n_probe: int = 1,
    seed: int = 42,
    quantize: int | None = None,
) -> DataFrame:
    """Approximate top-k: candidates share a hyperplane sign bucket
    (plus ``n_probe-1`` single-bit-flip probes), scored by exact cosine.
    Output: (query_id, vec_id, score, rank).

    With ``quantize=q``: md5-derived integer hyperplanes + quantized
    integer dot scoring — every arithmetic step is int64, so bucketing
    AND ranking are bit-identical across engines (SQL-oracle-friendly).
    """
    if quantize:
        iplanes = integer_hyperplanes(dim, n_planes)
        c = _with_quantized_bucket(
            corpus.select(
                F.col(id_col).alias("vec_id"), F.col(vec_col).alias("c_vec")
            ),
            "c_vec", iplanes, quantize,
        )
        q = _with_quantized_bucket(
            queries.select(
                F.col(query_id_col).alias("query_id"),
                F.col(vec_col).alias("q_vec"),
            ),
            "q_vec", iplanes, quantize,
        ).withColumnRenamed("bucket", "q_bucket")
    else:
        planes = random_hyperplanes(dim, n_planes, seed)
        bucket_of = lambda v: _bucket_expr(v, planes)  # noqa: E731
        c = corpus.select(
            F.col(id_col).alias("vec_id"),
            F.col(vec_col).alias("c_vec"),
            bucket_of(F.col(vec_col)).alias("bucket"),
        )
        q = queries.select(
            F.col(query_id_col).alias("query_id"),
            F.col(vec_col).alias("q_vec"),
            bucket_of(F.col(vec_col)).alias("q_bucket"),
        )
    probes = [0] + [1 << b for b in range(n_probe - 1)]
    q_probed = q.withColumn(
        "bucket",
        F.explode(F.array(*[F.col("q_bucket").bitwiseXOR(F.lit(p)) for p in probes])),
    )
    joined = c.join(F.broadcast(q_probed), "bucket")
    if quantize:
        score = _dot_quantized(F.col("q_vec"), F.col("c_vec"), quantize)
    else:
        score = _dot_double(F.col("q_vec"), F.col("c_vec")) / (
            _norm(F.col("q_vec")) * _norm(F.col("c_vec"))
        )
    w = Window.partitionBy("query_id").orderBy(F.col("score").desc(), F.col("vec_id").asc())
    return (
        joined.withColumn("score", score)
        .withColumn("rank", F.row_number().over(w).cast("int"))
        .filter(F.col("rank") <= k)
        .select("query_id", "vec_id", "score", "rank")
    )


def _quantize_col(vec, q: int) -> F.Column:
    """array<float> -> array<bigint>: round(x*q) half-away-from-zero —
    the engine-portable quantization shared with the DuckDB oracles."""
    return F.transform(vec, lambda x: F.round(x.cast("double") * q).cast("bigint"))


def _dot_int(a, b) -> F.Column:
    """Integer dot of two array<bigint> columns (exact, JVM-side)."""
    return F.aggregate(
        F.zip_with(a, b, lambda x, y: x * y),
        F.lit(0).cast("bigint"),
        lambda acc, v: acc + v,
    )


def _trunc_div(s: int, n: int) -> int:
    """Truncating integer division (toward zero) — matches DuckDB ``//``
    on negatives, unlike Python's flooring ``//``."""
    return -((-s) // n) if s < 0 else s // n


def _kmeans_assign_int(df: DataFrame, centroids: list[list[int]], n_probe: int = 1) -> DataFrame:
    """Attach the ``n_probe`` nearest centroid ids (squared-L2, int64;
    ties -> lowest cid) to rows carrying an ``qv array<bigint>`` column.
    One vectorized numpy pass per Arrow batch; int64 arithmetic is exact,
    so the assignment is bit-identical to its SQL-oracle replay."""
    from pyspark.sql.types import IntegerType, StructField, StructType

    spark = df.sparkSession
    b_cent = spark.sparkContext.broadcast(np.array(centroids, dtype=np.int64))
    out_schema = StructType(list(df.schema.fields) + [StructField("cluster", IntegerType())])

    def assign(batches):
        import pandas as pd

        cent = b_cent.value
        for pdf in batches:
            if not len(pdf):
                continue
            x = np.stack(pdf["qv"].to_numpy()).astype(np.int64)
            diff = x[:, None, :] - cent[None, :, :]
            d2 = (diff * diff).sum(axis=2)
            # stable sort: ties resolve to the lowest centroid id, same
            # as the oracle's ORDER BY dist, cid
            top = np.argsort(d2, axis=1, kind="stable")[:, :n_probe]
            reps = []
            for p in range(top.shape[1]):
                rep = pdf.copy()
                rep["cluster"] = top[:, p].astype("int32")
                reps.append(rep)
            yield pd.concat(reps, ignore_index=True)

    return df.mapInPandas(assign, out_schema)


def _kmeans_train(
    c: DataFrame, n_clusters: int, n_iters: int, dim: int
) -> list:
    """Deterministic distributed integer Lloyd k-means over a
    ``(vec_id, qv array<bigint>)`` frame: seeds are the ``n_clusters``
    lowest-id vectors; each iteration is ONE fused assign+partial-stats
    pass (per-task (cluster, count, sum-vector) partials — k x tasks
    tiny rows to the driver, never per-row assignments), with
    truncating integer means so every step replays in ANSI SQL. The
    same plan trains on a 100 TB corpus."""
    spark = c.sparkSession
    seed_rows = c.orderBy("vec_id").limit(n_clusters).collect()
    centroids = [list(r.qv) for r in seed_rows]
    for _ in range(n_iters):
        b_cent = spark.sparkContext.broadcast(np.array(centroids, dtype=np.int64))

        def partials(batches):
            import pandas as pd

            cent = b_cent.value
            acc_n = np.zeros(len(cent), dtype=np.int64)
            acc_s = np.zeros_like(cent)
            for pdf in batches:
                if not len(pdf):
                    continue
                x = np.stack(pdf["qv"].to_numpy()).astype(np.int64)
                diff = x[:, None, :] - cent[None, :, :]
                # argmin takes the first occurrence on ties — same rule
                # as the oracle's ORDER BY dist, cid
                assign = np.argmin((diff * diff).sum(axis=2), axis=1)
                np.add.at(acc_n, assign, 1)
                np.add.at(acc_s, assign, x)
            hit = np.nonzero(acc_n)[0]
            yield pd.DataFrame(
                {"cluster": hit, "n": acc_n[hit], "s": list(acc_s[hit])}
            )

        stats = c.mapInPandas(
            partials, schema="cluster int, n bigint, s array<bigint>"
        ).collect()
        n_tot = np.zeros(len(centroids), dtype=np.int64)
        s_tot = np.array(centroids, dtype=np.int64) * 0
        for r in stats:
            n_tot[r.cluster] += r.n
            s_tot[r.cluster] += np.array(r.s, dtype=np.int64)
        centroids = [
            [_trunc_div(int(s_tot[cid][d]), int(n_tot[cid])) for d in range(dim)]
            if n_tot[cid]
            else centroids[cid]  # empty cell keeps its previous centroid
            for cid in range(len(centroids))
        ]
    return centroids


def semantic_dedup(
    corpus: DataFrame,
    threshold_q: int,
    n_clusters: int = 16,
    n_iters: int = 2,
    dim: int = 64,
    quantize: int = 1000,
    n_blocks: int = 4,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
) -> DataFrame:
    """SemDeDup-style semantic deduplication (Abbas et al. 2023,
    arXiv:2303.09540): cluster the embedding space with the
    deterministic distributed k-means, then compare pairs ONLY within
    a cluster — the cluster bound is what makes the quadratic
    tractable at corpus scale. A row is removed when it has a
    >= ``threshold_q`` quantized-dot pair with a LOWER id in its
    cluster (deterministic keep-lowest representative; the paper keeps
    one arbitrary member per duplicate group).

    Fully distributed: training moves only k x dim stats to the
    driver; the pair stage is an equi-join keyed by (cluster, block
    pair) — a triangle blocking INSIDE each cluster (same scheme as
    ``embedding_near_duplicates_blocked``) splits a hot cluster's
    quadratic work across ``n_blocks*(n_blocks+1)/2`` tasks, so one
    giant cluster no longer funnels through one task. Shuffle volume
    is ~rows * n_blocks / 2. The per-cluster quadratic itself is the
    SemDeDup contract — shrink it with a larger ``n_clusters`` (the
    paper uses ~100k clusters at web scale).

    Output: (vec_id, cluster, keep) — every corpus row, keep=false for
    removed near-duplicates. Engine-exact integer arithmetic end to
    end (verified against a DuckDB oracle replaying the training)."""
    from .skew import fan_out_narrow

    # k-means partials + the assignment are Python-boundary map passes
    # over this frame; a narrow (single-split) corpus would run them on
    # one core. cores/2 leaves the JVM join side headroom — measured
    # 2.7s -> 1.7s at sf0.1 (no-op when the scan already parallelizes)
    c = fan_out_narrow(
        corpus.select(
            F.col(id_col).alias("vec_id"),
            _quantize_col(F.col(vec_col), quantize).alias("qv"),
        ),
        max(2, corpus.sparkSession.sparkContext.defaultParallelism // 2),
    ).persist()
    centroids = _kmeans_train(c, n_clusters, n_iters, dim)
    # the assignment is a Python-boundary mapInPandas pass consumed
    # THREE times below (both triangle sides + the final keep join);
    # persist it so the Arrow round trip runs once, and release the
    # pre-assignment cache it subsumes (r13-opt, guide §4/§1.2)
    cf = _kmeans_assign_int(c, centroids, n_probe=1).persist()
    cf.count()
    c.unpersist()
    blk = F.pmod(F.xxhash64(F.col("vec_id")), F.lit(n_blocks)).cast("int")
    # row with block b: A-side of pairs (b, j >= b), B-side of pairs
    # (i <= b, b) — every unordered pair meets in exactly one
    # (cluster, ba, bb) group; same-block pairs dedupe on v1 < v2
    a = cf.withColumn("ba", blk).withColumn(
        "bb", F.explode(F.sequence(F.col("ba"), F.lit(n_blocks - 1)))
    ).select(
        "cluster", "ba", "bb",
        F.col("vec_id").alias("v1"), F.col("qv").alias("qv1"),
    )
    b = cf.withColumn("bb", blk).withColumn(
        "ba", F.explode(F.sequence(F.lit(0), F.col("bb")))
    ).select(
        "cluster", "ba", "bb",
        F.col("vec_id").alias("v2"), F.col("qv").alias("qv2"),
    )
    # a cross-block pair meets once but its ids can arrive in either
    # role order: normalize with greatest() (the pair's lower id is
    # the keeper); same-block pairs meet twice, distinct() dedupes
    removed = (
        a.join(b, ["cluster", "ba", "bb"])
        .filter(F.col("v1") != F.col("v2"))
        .withColumn("qdot", _dot_int(F.col("qv1"), F.col("qv2")))
        .filter(F.col("qdot") >= threshold_q)
        .select(F.greatest("v1", "v2").alias("vec_id"))
        .distinct()
    )
    return (
        cf.select("vec_id", "cluster")
        .join(removed.withColumn("__rm", F.lit(True)), "vec_id", "left")
        .select(
            "vec_id",
            "cluster",
            F.coalesce(~F.col("__rm"), F.lit(True)).alias("keep"),
        )
    )


def ivf_topk_quantized(
    corpus: DataFrame,
    queries: DataFrame,
    k: int = 10,
    n_clusters: int = 16,
    n_probe: int = 4,
    n_iters: int = 2,
    dim: int = 64,
    quantize: int = 1000,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    query_id_col: str = "query_id",
) -> DataFrame:
    """Deterministic, fully-distributed IVF top-k (engine-exact).

    The coarse quantizer is Lloyd k-means run IN Spark over quantized
    int64 vectors: seeds are the ``n_clusters`` lowest-id vectors;
    each iteration assigns distributed (vectorized mapInPandas, exact
    integer L2) and recomputes centroids from per-cluster per-dimension
    SUM/COUNT aggregates — only k x dim stats ever reach the driver, so
    the same plan trains on a 100 TB corpus. Truncating integer means
    keep every step reproducible in ANSI SQL, so the full pipeline
    (training included) is verified against a DuckDB oracle.

    Search: corpus rows live in their 1 nearest cell, each query probes
    its ``n_probe`` nearest cells, exact integer-dot re-rank inside.
    Output: (query_id, vec_id, score, rnk).
    """
    c = corpus.select(
        F.col(id_col).alias("vec_id"), _quantize_col(F.col(vec_col), quantize).alias("qv")
    ).persist()
    q = queries.select(
        F.col(query_id_col).alias("query_id"),
        _quantize_col(F.col(vec_col), quantize).alias("qv"),
    )
    centroids = _kmeans_train(c, n_clusters, n_iters, dim)
    cf = _kmeans_assign_int(c, centroids, n_probe=1).withColumnRenamed("qv", "c_qv")
    qf = _kmeans_assign_int(q, centroids, n_probe=n_probe).withColumnRenamed("qv", "q_qv")
    joined = cf.join(F.broadcast(qf), "cluster")
    w = Window.partitionBy("query_id").orderBy(F.col("score").desc(), F.col("vec_id").asc())
    return (
        joined.withColumn("score", _dot_int(F.col("q_qv"), F.col("c_qv")))
        .withColumn("rnk", F.row_number().over(w).cast("int"))
        .filter(F.col("rnk") <= k)
        .select("query_id", "vec_id", "score", "rnk")
    )


def embedding_near_duplicates_blocked(
    corpus: DataFrame,
    threshold_q: int,
    n_blocks: int = 8,
    quantize: int = 1000,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
) -> DataFrame:
    """Exact all-pairs near-dup WITHOUT any driver collect or broadcast
    of the corpus — the 100 TB path for exact (non-LSH) matching.

    Triangle block cogroup: rows are hashed into ``n_blocks`` blocks and
    fanned out so every unordered row pair meets in exactly one
    (bx <= by) block-pair group. Per-side shuffle volume is
    ~N * n_blocks / 2 rows; each group scores its A x B slice with ONE
    numpy int64 matmul (Arrow in, vectorized, same quantized arithmetic
    as the SQL oracle) and emits only surviving pairs — the N^2
    candidate set is never materialized as rows. Pick n_blocks so one
    block's matrix fits a task; no executor ever holds a full corpus
    copy (contrast ``embedding_near_duplicates``).

    Output: (v1, v2, qdot) with v1 < v2 — identical to
    ``embedding_near_duplicates``.
    """
    base = corpus.select(F.col(id_col).alias("vid"), F.col(vec_col).alias("vec"))
    block = F.pmod(F.xxhash64(F.col("vid")), F.lit(n_blocks)).cast("int")
    # a row with block b is the A-side of pairs (b, j>=b) and the B-side
    # of pairs (i<=b, b); each unordered row pair meets in exactly one
    # (bx, by) group (same-block pairs dedupe on id inside the matmul)
    a_side = base.withColumn("bx", block).withColumn(
        "by", F.explode(F.expr(f"sequence(bx, {n_blocks - 1})"))
    )
    # fresh aliases on the B side: both sides derive from the same plan,
    # and same-exprId attributes across a self-cogroup get deduplicated
    # by the analyzer (the right side would arrive column-pruned)
    b_side = (
        base.select(F.col("vid").alias("vid_r"), F.col("vec").alias("vec_r"))
        .withColumn("by", F.pmod(F.xxhash64(F.col("vid_r")), F.lit(n_blocks)).cast("int"))
        .withColumn("bx", F.explode(F.expr("sequence(0, by)")))
    )
    q = quantize

    def score(key, left, right):
        import pandas as pd

        if not len(left) or not len(right):
            return pd.DataFrame({"v1": [], "v2": [], "qdot": []}).astype(
                {"v1": "int64", "v2": "int64", "qdot": "int64"}
            )
        same = key[0] == key[1]
        ida = left["vid"].to_numpy(dtype=np.int64)
        idb = right["vid_r"].to_numpy(dtype=np.int64)
        qa = _quantize_np(np.stack(left["vec"].to_numpy()), q)
        qb = _quantize_np(np.stack(right["vec_r"].to_numpy()), q)
        scores = qa @ qb.T
        keep = scores >= threshold_q
        if same:
            keep &= ida[:, None] < idb[None, :]
        i, j = np.nonzero(keep)
        v1, v2 = ida[i], idb[j]
        lo, hi = np.minimum(v1, v2), np.maximum(v1, v2)
        return pd.DataFrame({"v1": lo, "v2": hi, "qdot": scores[i, j]})

    return (
        a_side.groupBy("bx", "by")
        .cogroup(b_side.groupBy("bx", "by"))
        .applyInPandas(score, schema="v1 bigint, v2 bigint, qdot bigint")
    )


def _quantize_np(mat: "np.ndarray", q: int) -> "np.ndarray":
    """Half-away-from-zero rounding — bit-matches Spark's ROUND (HALF_UP)
    and DuckDB's round() on the same double product."""
    scaled = mat.astype(np.float64) * q
    return np.trunc(scaled + np.copysign(0.5, scaled)).astype(np.int64)


def embedding_near_duplicates(
    corpus: DataFrame,
    threshold_q: int,
    quantize: int = 1000,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    max_driver_rows: int = 200_000,
) -> DataFrame:
    """Near-duplicate vector pairs by quantized dot >= threshold_q
    (exact integer arithmetic — oracle-reproducible).

    Block-wise brute force: each partition scores its vectors against a
    broadcast quantized matrix with one numpy int64 matmul (Arrow batch
    in, vectorized compute, ~100x over per-pair interpreted array
    lambdas). Exact all-pairs inherently needs one side resident per
    executor, so the corpus is size-guarded: beyond ``max_driver_rows``
    this raises instead of OOM-ing the driver — bucket first
    (``lsh_bucketed_topk``), that is the 100 TB path.
    """
    spark = corpus.sparkSession
    base = corpus.select(F.col(id_col).alias("v1"), F.col(vec_col).alias("vec"))
    n = base.count()
    if n > max_driver_rows:
        raise UserException(
            f"embedding_near_duplicates broadcasts the full corpus; "
            f"{n} rows exceeds max_driver_rows={max_driver_rows}. Use "
            "lsh_bucketed_topk (bucketed LSH join, no driver collect) for "
            "large corpora, or raise max_driver_rows if one executor can "
            "hold the quantized matrix."
        )
    pdf = base.toPandas()
    ids = pdf["v1"].to_numpy(dtype=np.int64)
    mat = _quantize_np(np.stack(pdf["vec"].to_numpy()), quantize)
    b_ids = spark.sparkContext.broadcast(ids)
    b_mat = spark.sparkContext.broadcast(mat.T.copy())

    def score_block(batches):
        import pandas as pd

        all_ids, mat_t = b_ids.value, b_mat.value
        for block in batches:
            if not len(block):
                continue
            my_ids = block["v1"].to_numpy(dtype=np.int64)
            scores = _quantize_np(np.stack(block["vec"].to_numpy()), quantize) @ mat_t
            keep = (scores >= threshold_q) & (my_ids[:, None] < all_ids[None, :])
            i, j = np.nonzero(keep)
            yield pd.DataFrame(
                {"v1": my_ids[i], "v2": all_ids[j], "qdot": scores[i, j]}
            )

    return base.mapInPandas(score_block, schema="v1 bigint, v2 bigint, qdot bigint")
