"""Deduplication operators: exact, n-gram Jaccard, MinHash+LSH, SimHash.

Scale posture (100 TB):

- **exact**: one hash-aggregate shuffle on a 64-bit content hash — the
  cheapest possible full-corpus dedup; never groups by the raw text.
- **minhash_lsh**: the production near-dup path. Cost is
  O(docs x num_hashes) map-side + a shuffle keyed by (band, bucket);
  candidate verification joins only within buckets. No all-pairs stage
  anywhere.
- **ngram_jaccard**: exact pairwise Jaccard via a shingle-inverted-index
  self-join. Quadratic in the hottest shingle's posting list — correct
  as a small-scale oracle / verifier for LSH, not the 100 TB path; a
  frequency cap on shingles (``max_shingle_freq``) bounds the blowup.
- **simhash**: 64-bit signature via per-word-hash bit voting; near-dup
  pairs found by banding the signature into 16-bit chunks (hamming<=3
  guarantees an exact chunk match by pigeonhole).

Hashing/aggregation/joins are built-in JVM functions throughout; the
only Python boundary is the Arrow-batched shingle generator
(``shingles_pandas``) — measured faster than the higher-order-function
form because Spark interprets lambdas per element. No row-at-a-time
Python UDFs anywhere.
"""

from __future__ import annotations

import hashlib

from pyspark.sql import Column, DataFrame, functions as F

# Hot-shingle keys at or under this count ride back on the regime
# estimate's collect and apply as an InSet filter over the cached
# shingle rows; past it (adversarial corpora) the broadcast anti join
# handles removal without pulling keys to the driver.
_HOT_KEY_BOUND = 1000


def _md5_60(col: Column) -> Column:
    """60-bit hash from the first 15 hex chars of md5 — bit-identical
    across engines (DuckDB: ``('0x' || substr(md5(s),1,15))::BIGINT``),
    which makes md5-mode pipelines verifiable against a SQL oracle.
    Always non-negative (< 2^60), so decimal rendering also matches."""
    return F.conv(F.substring(F.md5(col), 1, 15), 16, 10).cast("long")


def md5_seed(i: int) -> int:
    """Deterministic 60-bit XOR-seed for the md5 hash family; any engine
    can reproduce it as ``('0x' || substr(md5(CAST(i AS VARCHAR)),1,15))``."""
    return int(hashlib.md5(str(i).encode()).hexdigest()[:15], 16)


def exact_duplicates(df: DataFrame, id_col: str = "doc_id", text_col: str = "text") -> DataFrame:
    """Group identical texts: (keeper_id, n_copies, member ids).

    Hashes text first so the shuffle key is 8 bytes, not the document.
    """
    hashed = df.select(
        F.col(id_col), F.xxhash64(F.col(text_col)).alias("content_hash")
    )
    return (
        hashed.groupBy("content_hash")
        .agg(
            F.min(id_col).alias("keeper_id"),
            F.count("*").alias("n_copies"),
            F.sort_array(F.collect_list(id_col)).alias("member_ids"),
        )
    )


def shingles_pandas(
    df: DataFrame, id_col: str = "doc_id", text_col: str = "text", k: int = 3
) -> DataFrame:
    """Distinct k-word shingles per document: (id, shingle).

    Arrow ``mapInPandas``: plain Python slicing + a set per document.
    Spark's higher-order functions are interpreted per element — a
    zip_with/array_distinct column-expression formulation (the
    semantics the SQL oracles replay) spent
    ~1.3 s on a 3k-doc/260k-shingle corpus purely in lambda dispatch,
    ~5x this implementation. Identical output set: split on a literal
    space (empty words kept, like ``string_split``), set-dedup ==
    array_distinct.
    """
    import pandas as pd  # noqa: F401

    id_type = df.schema[id_col].dataType.simpleString()
    schema = f"doc_id {id_type}, shingle string"

    def gen(batches):
        for pdf in batches:
            oid, osh = [], []
            for i, t in zip(pdf[id_col], pdf[text_col]):
                if not isinstance(t, str):
                    continue
                w = t.split(" ")
                if len(w) < k:
                    continue
                uniq = {" ".join(w[j: j + k]) for j in range(len(w) - k + 1)}
                oid.extend([i] * len(uniq))
                osh.extend(uniq)
            yield pd.DataFrame({"doc_id": oid, "shingle": osh})

    return df.select(id_col, text_col).mapInPandas(gen, schema=schema)


def shingles(
    df: DataFrame, id_col: str = "doc_id", text_col: str = "text", k: int = 3
) -> DataFrame:
    """Distinct k-word shingles per document — see ``shingles_pandas``
    (Arrow-vectorized)."""
    return shingles_pandas(df, id_col, text_col, k)


def ngram_jaccard_pairs(
    df: DataFrame,
    threshold: float = 0.4,
    id_col: str = "doc_id",
    text_col: str = "text",
    k: int = 3,
    max_shingle_freq: int | None = None,
    prefix_filter: bool | str = "auto",
    max_naive_candidates: int = 20_000_000,
) -> DataFrame:
    """Exact Jaccard-similar pairs.

    (d1, d2, intersection, union, jaccard) for jaccard >= threshold.
    ``max_shingle_freq`` drops shingles hotter than the cap (stopword
    shingles) to bound candidate generation at scale.

    ``prefix_filter=True`` (r12) is the published AllPairs/PPJoin
    scheme (Bayardo et al. WWW'07; Xiao et al. WWW'08): order every
    document's shingles by ascending global document frequency (rarest
    first, ties by hash), keep only the PREFIX of length
    n - ceil(t*n) + 1, and generate candidates from prefix-token
    collisions — a pair at jaccard >= t MUST share a token inside both
    prefixes under any common total order, so the candidate set is
    exact-complete while the self-join shrinks from sum(f_s^2) over
    ALL shingles to prefix collisions only. Candidates verify exactly
    against per-doc shingle-hash arrays (array_intersect —
    O(|X|+|Y|) per pair). The ceil uses a 1e-9 slack so float noise
    can only LENGTHEN a prefix (safe), never shorten it.
    ``prefix_filter=False`` keeps the full inverted-index self-join —
    the equivalence oracle for this optimization and the spelling the
    DuckDB workload oracle replays.

    ``"auto"`` (default) picks by the MEASURED candidate volume
    sum(f*(f-1)/2) aggregated over the cached shingle table
    — the same size-based physical-strategy choice AQE makes for
    joins: below ``max_naive_candidates`` the single-join naive path
    wins on fixed costs (it is one shuffle against prefix's four);
    above it the prefix path's threshold-bounded candidates are the
    only thing that survives corpus growth. Both paths return the
    identical pair set (equivalence-tested)."""
    # join on the 64-bit shingle hash, never the raw string: shuffle
    # keys shrink from ~20-byte strings to 8 bytes and comparisons are
    # single longs (collision odds ~n^2/2^64 — immaterial)
    # cache the ONE shingle explode; everything below (hot-shingle scan,
    # both self-join sides, cardinalities) re-reads the cache instead of
    # re-running the explode. Materialized EAGERLY: lazy cache fill races
    # when one action's DAG fans out over the uncached node (concurrent
    # stages each recompute unfilled partitions)
    sh = (
        shingles(df, id_col, text_col, k)
        .select("doc_id", F.xxhash64("shingle").alias("sh"))
        .cache()
    )
    sh.count()
    cap = max_shingle_freq
    freq = sh.groupBy("sh").agg(F.count("*").alias("_f"))
    # hot-shingle removal + the auto-regime estimate share ONE
    # partial-agg pass over the cached explode (r13-opt; previously
    # three separate jobs: hot scan, broadcast-anti re-materialization,
    # estimate agg — ~4 s of the 7 s x02 paid at sf0.1). The hot keys
    # (stopword shingles, a handful by construction) come back in the
    # same collect, bounded at _HOT_KEY_BOUND: within it they apply as
    # a codegen'd InSet filter on the cached rows (no join, no second
    # cache); past it the broadcast anti join returns.
    hot_keys: list = []
    hot_overflow = False
    keep = F.lit(True) if cap is None else F.col("_f") <= cap
    if prefix_filter == "auto":
        aggs = [
            F.sum(
                F.when(keep, F.col("_f") * (F.col("_f") - 1) / 2)
            ).alias("c")
        ]
        if cap is not None:
            aggs.append(
                F.slice(
                    F.collect_list(F.when(~keep, F.col("sh"))),
                    1,
                    _HOT_KEY_BOUND + 1,
                ).alias("hot")
            )
        row = freq.agg(*aggs).collect()[0]
        if cap is not None:
            hot_keys = list(row["hot"])
        prefix_filter = (row["c"] or 0) > max_naive_candidates
    elif cap is not None:
        hot_keys = [
            r["sh"]
            for r in freq.filter(~keep)
            .select("sh")
            .limit(_HOT_KEY_BOUND + 1)
            .collect()
        ]
    if len(hot_keys) > _HOT_KEY_BOUND:
        hot_keys, hot_overflow = [], True
    if hot_keys:
        sh = sh.filter(~F.col("sh").isin(hot_keys))
    elif hot_overflow:
        hot = freq.filter(~keep).select("sh")
        sh = sh.join(F.broadcast(hot), "sh", "left_anti").cache()
        sh.count()
    if prefix_filter:
        # global token order: ascending document frequency (rarest
        # first, ties by hash) — the order that minimizes prefix
        # collisions in AllPairs/PPJoin
        freq = sh.groupBy("sh").agg(F.count("*").alias("_df"))
        ordered = (
            sh.join(freq, "sh")
            .groupBy("doc_id")
            .agg(
                F.expr(
                    "transform(array_sort(collect_list(struct(_df, sh)))"
                    ", p -> p.sh)"
                ).alias("toks"),
                F.count("*").alias("n"),
            )
        )
        # prefix length n - ceil(t*n) + 1; the 1e-9 slack keeps float
        # ceil from ever SHORTENING the prefix (missing candidates)
        pref = ordered.select(
            "doc_id",
            "n",
            F.col("toks").alias("tset"),
            F.slice(
                "toks",
                F.lit(1),
                F.greatest(
                    F.lit(0),
                    (
                        F.col("n")
                        - F.ceil(F.lit(threshold) * F.col("n") - F.lit(1e-9))
                        + F.lit(1)
                    ).cast("int"),
                ),
            ).alias("prefix"),
        )
        px = pref.select(
            "doc_id", F.explode("prefix").alias("sh")
        )
        cand = (
            px.alias("a")
            .join(
                px.alias("b"),
                (F.col("a.sh") == F.col("b.sh"))
                & (F.col("a.doc_id") < F.col("b.doc_id")),
            )
            .select(
                F.col("a.doc_id").alias("d1"),
                F.col("b.doc_id").alias("d2"),
            )
            .distinct()
        )
        sets1 = pref.select(
            F.col("doc_id").alias("d1"),
            F.col("tset").alias("t1"),
            F.col("n").alias("n1"),
        )
        sets2 = pref.select(
            F.col("doc_id").alias("d2"),
            F.col("tset").alias("t2"),
            F.col("n").alias("n2"),
        )
        return (
            cand.join(sets1, "d1")
            .join(sets2, "d2")
            .withColumn(
                "intersection",
                F.size(F.array_intersect("t1", "t2")).cast("bigint"),
            )
            .withColumn(
                "union_size", F.col("n1") + F.col("n2") - F.col("intersection")
            )
            .withColumn(
                "jaccard",
                F.round(
                    F.col("intersection").cast("double") / F.col("union_size"),
                    6,
                ),
            )
            .filter(F.col("jaccard") >= threshold)
            .select("d1", "d2", "intersection", "union_size", "jaccard")
        )
    card = sh.groupBy("doc_id").agg(F.count("*").alias("n_shingles"))
    if cap is not None:
        # the cap bounds every shingle's posting list at ``cap`` docs,
        # so pairs can be generated from per-shingle sorted doc lists:
        # ONE exchange of the shingle rows (the groupBy) instead of the
        # self-join's two, and singleton shingles never reach the pair
        # stage (r13-opt). Per-row memory stays O(cap): posexplode
        # streams one (i, d1) row at a time and the slice carries at
        # most cap - i - 1 partners. Uncapped corpora keep the
        # self-join below — an unbounded posting list must never
        # materialize as one array.
        grouped = (
            sh.groupBy("sh")
            .agg(F.sort_array(F.collect_list("doc_id")).alias("docs"))
            .filter(F.size("docs") >= 2)
        )
        cand = grouped.select(
            F.posexplode("docs").alias("i", "d1"), "docs"
        ).select(
            "d1",
            F.explode(
                F.slice(F.col("docs"), F.col("i") + F.lit(2), F.size("docs"))
            ).alias("d2"),
        )
        inter = cand.groupBy("d1", "d2").agg(
            F.count("*").alias("intersection")
        )
    else:
        a = sh.alias("a")
        b = sh.alias("b")
        inter = (
            a.join(b, (F.col("a.sh") == F.col("b.sh")) & (F.col("a.doc_id") < F.col("b.doc_id")))
            .groupBy(F.col("a.doc_id").alias("d1"), F.col("b.doc_id").alias("d2"))
            .agg(F.count("*").alias("intersection"))
        )
    c1 = card.select(F.col("doc_id").alias("d1"), F.col("n_shingles").alias("n1"))
    c2 = card.select(F.col("doc_id").alias("d2"), F.col("n_shingles").alias("n2"))
    return (
        inter.join(c1, "d1").join(c2, "d2")
        .withColumn("union_size", F.col("n1") + F.col("n2") - F.col("intersection"))
        .withColumn(
            "jaccard",
            F.round(F.col("intersection").cast("double") / F.col("union_size"), 6),
        )
        .filter(F.col("jaccard") >= threshold)
        .select("d1", "d2", "intersection", "union_size", "jaccard")
    )


def minhash_signatures(
    df: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
    k: int = 3,
    num_hashes: int = 64,
    hash_mode: str = "xxhash64",
) -> DataFrame:
    """(doc_id, sig: array<bigint>) MinHash signatures.

    ``hash_mode="xxhash64"`` (default): h_i(s) = xxhash64(shingle, i) —
    the fastest JVM path. ``hash_mode="md5"``: h_i(s) = md5_60(s) XOR
    seed_i — slightly weaker min-wise independence, but bit-identical
    across engines, so results are verifiable against a DuckDB oracle
    (XOR is the seeding op because it cannot overflow; DuckDB raises on
    int64 multiply overflow while Spark wraps).

    Implemented as explode(shingles) -> num_hashes parallel MIN
    aggregates -> array. The shingle is materialized as a row field
    before hashing, so each shingle string is built exactly once
    (a nested-lambda formulation re-evaluates split(text) per lambda
    element — Catalyst inlines collapsed projections into lambda
    bodies, which is quadratic per row). The groupBy benefits from
    map-side partial aggregation: shuffle volume is docs x num_hashes
    x 8B regardless of document size — the 100 TB-safe shape.

    Docs with fewer than ``k`` words have no shingles and are absent
    from the output (they cannot be near-duplicates).
    """
    return _signatures_from_shingles(
        shingles(df, id_col, text_col, k), num_hashes, hash_mode
    )


def _signatures_from_shingles(
    sh: DataFrame, num_hashes: int, hash_mode: str
) -> DataFrame:
    """Signature aggregation over a prebuilt (doc_id, shingle) frame —
    lets callers share (cache) one shingle explode across stages."""
    if hash_mode == "md5":
        sh = sh.select("doc_id", _md5_60(F.col("shingle")).alias("h"))
        mins = [
            F.min(F.col("h").bitwiseXOR(F.lit(md5_seed(i)))).alias(f"_m{i}")
            for i in range(num_hashes)
        ]
    else:
        mins = [
            F.min(F.xxhash64(F.col("shingle"), F.lit(i))).alias(f"_m{i}")
            for i in range(num_hashes)
        ]
    return (
        sh.groupBy("doc_id")
        .agg(*mins)
        .select("doc_id", F.array(*[f"_m{i}" for i in range(num_hashes)]).alias("sig"))
    )


def minhash_lsh_pairs(
    df: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
    k: int = 3,
    num_hashes: int = 64,
    bands: int = 16,
    threshold: float = 0.4,
    hash_mode: str = "xxhash64",
) -> DataFrame:
    """Near-duplicate pairs via MinHash banding + exact-Jaccard verify.

    LSH generates candidates (any shared band bucket); candidates are
    then verified with exact shingle Jaccard so output has no false
    positives. Rows: (d1, d2, jaccard). ``hash_mode="md5"`` swaps every
    hash for the engine-portable md5 family (see minhash_signatures) so
    the full pipeline is reproducible in ANSI SQL.
    """
    rows_per_band = num_hashes // bands
    bucket_hash = F.xxhash64 if hash_mode != "md5" else _md5_60
    # One shingle explode shared by the signature and verify stages
    # (uncached it would be computed 4x: signatures, card, s1, s2).
    # Cached as (doc_id, 8-byte hash), never the raw strings — in md5
    # mode every consumer (XOR-seeded mins, intersection join key,
    # cardinalities) needs only the hash, making the cache ~3x smaller
    # and the verify-join key fixed-width. Eager fill — see
    # ngram_jaccard_pairs.
    raw = shingles(df, id_col, text_col, k)
    if hash_mode == "md5":
        sh = raw.select("doc_id", _md5_60(F.col("shingle")).alias("shingle")).cache()
        sh.count()
        mins = [
            F.min(F.col("shingle").bitwiseXOR(F.lit(md5_seed(i)))).alias(f"_m{i}")
            for i in range(num_hashes)
        ]
        sigs = (
            sh.groupBy("doc_id")
            .agg(*mins)
            .select(
                "doc_id", F.array(*[f"_m{i}" for i in range(num_hashes)]).alias("sig")
            )
        )
    else:
        sh = raw.cache()
        sh.count()
        sigs = _signatures_from_shingles(sh, num_hashes, hash_mode)
    banded = sigs.select(
        "doc_id",
        F.posexplode(
            F.transform(
                F.sequence(F.lit(0), F.lit(bands - 1)),
                lambda b: bucket_hash(
                    F.concat_ws(
                        ",",
                        F.slice(F.col("sig"), b * rows_per_band + 1, rows_per_band).cast(
                            "array<string>"
                        ),
                    )
                ),
            )
        ).alias("band", "bucket"),
    )
    a = banded.alias("a")
    b = banded.alias("b")
    candidates = (
        a.join(
            b,
            (F.col("a.band") == F.col("b.band"))
            & (F.col("a.bucket") == F.col("b.bucket"))
            & (F.col("a.doc_id") < F.col("b.doc_id")),
        )
        .select(F.col("a.doc_id").alias("d1"), F.col("b.doc_id").alias("d2"))
        .distinct()
    )
    # exact verify on the candidate set only; join keyed on (d2, shingle)
    # so the intersection is a composite-key hash join, never a per-pair
    # shingle cross product (sh is the cached explode from above)
    card = sh.groupBy("doc_id").agg(F.count("*").alias("n"))
    s1 = sh.select(F.col("doc_id").alias("d1"), "shingle")
    s2 = sh.select(F.col("doc_id").alias("d2"), "shingle")
    inter = (
        candidates.join(s1, "d1")
        .join(s2, ["d2", "shingle"])
        .groupBy("d1", "d2")
        .agg(F.count("*").alias("intersection"))
    )
    c1 = card.select(F.col("doc_id").alias("d1"), F.col("n").alias("n1"))
    c2 = card.select(F.col("doc_id").alias("d2"), F.col("n").alias("n2"))
    return (
        inter.join(c1, "d1").join(c2, "d2")
        .withColumn(
            "jaccard",
            F.round(
                F.col("intersection").cast("double")
                / (F.col("n1") + F.col("n2") - F.col("intersection")),
                6,
            ),
        )
        .filter(F.col("jaccard") >= threshold)
        .select("d1", "d2", "jaccard")
    )


def simhash_signatures(
    df: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
    hash_mode: str = "xxhash64",
) -> DataFrame:
    """SimHash per document via per-word-hash bit voting (64-bit with
    xxhash64; 60-bit in engine-portable ``hash_mode="md5"``).

    explode(distinct words) -> hash once per word -> n_bits parallel
    SUM(+-1) bit-vote aggregates -> recombine sign bits. Partial
    (map-side) aggregation makes the shuffle docs x n_bits x 8B
    regardless of document length; the word hash is computed exactly
    once per word (a single nested higher-order expression re-evaluates
    split(text) per bit position). Docs with no words are absent from
    the output.
    """
    n_bits = 60 if hash_mode == "md5" else 64
    words = df.select(
        F.col(id_col).alias("doc_id"),
        F.explode(F.array_distinct(F.split(F.col(text_col), " "))).alias("word"),
    )
    h = _md5_60(F.col("word")) if hash_mode == "md5" else F.xxhash64("word")
    hashed = words.select("doc_id", h.alias("h"))
    votes = [
        F.sum(
            F.when(F.expr(f"(shiftright(h, {b}) & 1) = 1"), 1).otherwise(-1)
        ).alias(f"_v{b}")
        for b in range(n_bits)
    ]
    agg = hashed.groupBy("doc_id").agg(*votes)
    sim = None
    for b in range(n_bits):
        term = F.when(
            F.col(f"_v{b}") > 0, F.expr(f"shiftleft(CAST(1 AS BIGINT), {b})")
        ).otherwise(F.lit(0).cast("bigint"))
        sim = term if sim is None else sim + term
    return agg.select("doc_id", sim.alias("simhash"))


def simhash_near_pairs(
    df: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
    max_hamming: int = 3,
    hash_mode: str = "xxhash64",
) -> DataFrame:
    """Pairs with hamming(simhash) <= max_hamming, found by banding the
    signature into 4 chunks (pigeonhole: <=3 differing bits leaves >=1
    of 4 chunks equal). Chunks are 16-bit (xxhash64) or 15-bit (md5)."""
    chunk_bits = 15 if hash_mode == "md5" else 16
    mask = (1 << chunk_bits) - 1
    # cached: the self-join below would otherwise run the word explode
    # and the 60+ bit-vote aggregates once per side; eager fill — see
    # ngram_jaccard_pairs
    sigs = simhash_signatures(df, id_col, text_col, hash_mode).cache()
    sigs.count()
    chunks = sigs.select(
        "doc_id",
        "simhash",
        F.posexplode(
            F.expr(
                f"transform(sequence(0, 3), c -> shiftright(simhash, c * {chunk_bits}) & {mask})"
            )
        ).alias("chunk_idx", "chunk"),
    )
    a = chunks.alias("a")
    b = chunks.alias("b")
    cand = (
        a.join(
            b,
            (F.col("a.chunk_idx") == F.col("b.chunk_idx"))
            & (F.col("a.chunk") == F.col("b.chunk"))
            & (F.col("a.doc_id") < F.col("b.doc_id")),
        )
        .select(
            F.col("a.doc_id").alias("d1"),
            F.col("b.doc_id").alias("d2"),
            F.col("a.simhash").alias("s1"),
            F.col("b.simhash").alias("s2"),
        )
        .distinct()
    )
    hamming = F.bit_count(F.col("s1").bitwiseXOR(F.col("s2")))
    return (
        cand.withColumn("hamming", hamming)
        .filter(F.col("hamming") <= max_hamming)
        .select("d1", "d2", "hamming")
    )
