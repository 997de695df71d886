"""Skew utilities: salted join and two-stage distinct must equal their
plain equivalents."""

from __future__ import annotations

import os

from pyspark.sql import functions as F

from component_duckdb_transformation_spark.operators.skew import (
    salted_join,
    two_stage_count_distinct,
)

SF = "/root/testdata/sf0.001"


def test_salted_join_equals_plain_join(spark):
    orders = spark.read.parquet(f"{SF}/orders.parquet").select(
        "o_orderkey", "o_custkey", "o_totalprice"
    )
    customer = spark.read.parquet(f"{SF}/customer.parquet").select(
        "c_custkey", "c_name"
    )
    build = customer.withColumnRenamed("c_custkey", "o_custkey")
    plain = orders.join(build, "o_custkey").select("o_orderkey", "c_name")
    salted = salted_join(orders, build, "o_custkey", salt=8).select(
        "o_orderkey", "c_name"
    )
    assert sorted(map(tuple, plain.collect())) == sorted(map(tuple, salted.collect()))


def test_salted_left_join_preserves_unmatched(spark):
    left = spark.createDataFrame([(1, "a"), (2, "b"), (99, "zz")], ["k", "v"])
    right = spark.createDataFrame([(1, "x"), (2, "y")], ["k", "w"])
    out = salted_join(left, right, "k", salt=4, how="left").orderBy("k").collect()
    assert len(out) == 3
    assert out[-1].k == 99 and out[-1].w is None


def test_two_stage_count_distinct(spark):
    li = spark.read.parquet(f"{SF}/lineitem.parquet")
    plain = li.groupBy("l_returnflag").agg(
        F.countDistinct("l_orderkey").alias("n_distinct")
    )
    staged = two_stage_count_distinct(li, ["l_returnflag"], "l_orderkey")
    assert sorted(map(tuple, plain.collect())) == sorted(map(tuple, staged.collect()))


def test_connected_components_shapes(spark):
    """CC over chain / star / isolated shapes; long chain converges in
    O(log n) pointer-jump rounds rather than O(n)."""
    from component_duckdb_transformation_spark.operators.graph import (
        connected_components,
    )

    edges = spark.createDataFrame(
        [(1, 2), (2, 3), (3, 4), (4, 5), (10, 11)], "src long, dst long"
    )
    nodes = spark.createDataFrame(
        [(i,) for i in [1, 2, 3, 4, 5, 10, 11, 20]], "node long"
    )
    got = sorted(
        tuple(r) for r in connected_components(edges, nodes=nodes).collect()
    )
    assert got == [
        (1, 1), (2, 1), (3, 1), (4, 1), (5, 1),
        (10, 10), (11, 10), (20, 20),
    ]
    chain = spark.createDataFrame(
        [(i, i + 1) for i in range(120)], "src long, dst long"
    )
    labs = connected_components(chain, max_iter=12, max_driver_edges=0).collect()
    assert {r["cluster"] for r in labs} == {0}


def test_connected_components_dominant_component_no_hot_task(spark):
    """One component holding ~90% of all nodes: its canonical label is
    the classic hot key. The pointer jump must resolve through the
    distinct-label map (map-side combine + broadcast remap), so no
    output task ends up processing the whole dominant component — the
    pre-round-8 lbl==p_node self-join funneled ~90% of rows into the
    single partition owning the canonical label."""
    from component_duckdb_transformation_spark.operators.graph import (
        connected_components,
    )

    # dominant: 45k-node tree rooted at 0 (edges i -> i//10);
    # background: 500 disjoint 10-node chains
    tree = spark.range(1, 45_001).select(
        F.col("id").alias("src"), (F.col("id") / 10).cast("long").alias("dst")
    )
    chains = (
        spark.range(500)
        .crossJoin(spark.range(9).withColumnRenamed("id", "j"))
        .select(
            (F.lit(1_000_000) + F.col("id") * 100 + F.col("j")).alias("src"),
            (F.lit(1_000_000) + F.col("id") * 100 + F.col("j") + 1).alias(
                "dst"
            ),
        )
    )
    cc = connected_components(tree.union(chains), max_iter=20, max_driver_edges=0)
    labs = cc.collect()
    by_cluster = {}
    for r in labs:
        by_cluster.setdefault(r["cluster"], 0)
        by_cluster[r["cluster"]] += 1
    assert by_cluster[0] == 45_001
    assert len(by_cluster) == 501
    # no task processes the dominant component wholesale
    sizes = sorted(
        s for s in cc.rdd.glom().map(len).collect() if s > 0
    )
    med = sizes[len(sizes) // 2]
    assert sizes[-1] <= 2 * med, (sizes, med)


def test_connected_components_regime_equivalence(spark):
    """The driver union-find fast path (edge list below the broadcast
    ceiling) must produce the identical (node, min-reachable-id)
    labeling as the distributed pointer-jumping loop — including
    isolated nodes, string ids, and a component whose minimum enters
    via the reversed edge direction."""
    import random

    from component_duckdb_transformation_spark.operators.graph import (
        connected_components,
    )

    rng = random.Random(11)
    edges = [
        (rng.randrange(400), rng.randrange(400)) for _ in range(300)
    ] + [(399, 7)]
    edf = spark.createDataFrame(edges, "src long, dst long")
    ndf = spark.createDataFrame(
        [(i,) for i in range(450)], "node long"
    )
    fast_df = connected_components(edf, nodes=ndf)
    dist_df = connected_components(edf, nodes=ndf, max_driver_edges=0)
    fast = sorted(tuple(r) for r in fast_df.collect())
    dist = sorted(tuple(r) for r in dist_df.collect())
    assert fast == dist
    # ADVICE r11: pandas round trip must not widen the schema — both
    # regimes return the edge column's type (here INT, not BIGINT)
    iedges = spark.createDataFrame([(1, 2), (5, 6)], "src int, dst int")
    ifast = connected_components(iedges)
    idist = connected_components(iedges, max_driver_edges=0)
    assert ifast.schema == idist.schema, (
        ifast.schema.simpleString(),
        idist.schema.simpleString(),
    )
    assert ifast.schema["node"].dataType.simpleString() == "int"
    # string ids: lexicographic minimum in both regimes
    sedges = spark.createDataFrame(
        [("b", "c"), ("c", "a"), ("x", "y")], "src string, dst string"
    )
    fast_s = sorted(
        tuple(r) for r in connected_components(sedges).collect()
    )
    dist_s = sorted(
        tuple(r)
        for r in connected_components(
            sedges, max_driver_edges=0
        ).collect()
    )
    assert fast_s == dist_s == [
        ("a", "a"), ("b", "a"), ("c", "a"), ("x", "x"), ("y", "x"),
    ]


def test_connected_components_empty_edges(spark):
    """Zero surviving edges: every supplied node labels itself (the
    dedup-pipeline case where LSH finds no duplicate pairs)."""
    from component_duckdb_transformation_spark.operators.graph import (
        connected_components,
    )

    edf = spark.createDataFrame([], "src long, dst long")
    ndf = spark.createDataFrame([(1,), (2,)], "node long")
    got = sorted(
        tuple(r)
        for r in connected_components(edf, nodes=ndf).collect()
    )
    assert got == [(1, 1), (2, 2)]


def test_connected_components_reliable_checkpoint(spark, tmp_path):
    """reliable_checkpoint=True writes round checkpoints to the
    SparkContext checkpoint dir (cluster fault tolerance) and produces
    the same labeling; the plan's lineage is truncated either way."""
    from component_duckdb_transformation_spark.operators.graph import (
        connected_components,
    )

    edges = [(1, 2), (2, 3), (10, 11)]
    edf = spark.createDataFrame(edges, "src long, dst long")
    local = sorted(
        tuple(r)
        for r in connected_components(edf, max_driver_edges=0).collect()
    )
    spark.sparkContext.setCheckpointDir(str(tmp_path / "ckpt"))
    rel = sorted(
        tuple(r)
        for r in connected_components(
            edf, max_driver_edges=0, reliable_checkpoint=True
        ).collect()
    )
    assert rel == local == [(1, 1), (2, 1), (3, 1), (10, 10), (11, 10)]
    import os

    # the reliable run actually materialized checkpoint files
    assert any(os.scandir(str(tmp_path / "ckpt")))


def test_fan_out_narrow_gates_and_caps(spark, tmp_path):
    """r14: fan_out_narrow only fans narrow-over-scan plans (probing a
    shuffled input's RDD can force AQE stage re-execution — r13
    ADVICE), and its target honors the free-capacity division (r13
    VERDICT #1)."""
    from pyspark.sql import functions as F

    from component_duckdb_transformation_spark.operators.skew import (
        fan_out_narrow,
        fan_target,
    )

    p = str(tmp_path / "narrow.parquet")
    spark.range(0, 1000, 1, 1).withColumn(
        "t", F.concat(F.lit("doc "), F.col("id"))
    ).write.parquet(p)
    scan = spark.read.parquet(p)
    filt = scan.filter(F.col("id") % 3 == 0).select(
        "id", F.upper("t").alias("u")
    )
    # scan/filter/project plans fan out (bounded by the session cores)
    fanned = fan_out_narrow(filt, 4)
    assert fanned.rdd.getNumPartitions() == min(
        4, spark.sparkContext.defaultParallelism
    )
    assert sorted(r.id for r in fanned.collect()) == sorted(
        r.id for r in filt.collect()
    )
    # non-scan inputs are returned unchanged — no fan, no .rdd probe
    agg = scan.groupBy((F.col("id") % 7).alias("k")).count()
    assert fan_out_narrow(agg, 4) is agg
    join = scan.join(
        scan.select(F.col("id").alias("id2")), F.col("id") == F.col("id2")
    )
    assert fan_out_narrow(join, 4) is join
    # adaptive: never above the requested parts or defaultParallelism
    assert fan_target(spark.sparkContext, 4) <= 4
    assert (
        fan_target(spark.sparkContext)
        <= spark.sparkContext.defaultParallelism
    )


def test_parquet_schema_cache_sees_new_files(spark, tmp_path):
    """r14 (r13 ADVICE): the read_parquet schema cache must key on the
    whole directory listing — adding a later part file (schema
    evolution) has to invalidate the cached schema, not serve a stale
    one."""
    import shutil

    from component_duckdb_transformation_spark.sources.parquet_io import (
        _listing_stamp,
        read_parquet,
    )

    d = tmp_path / "tbl"
    spark.range(5).selectExpr("id AS a").coalesce(1).write.parquet(str(d))
    stamp1 = _listing_stamp(str(d))
    df1 = read_parquet(spark, str(d))
    assert df1.columns == ["a"]
    # adding a later part changes the stamp (file count component)
    extra = tmp_path / "extra"
    spark.range(5).selectExpr(
        "id AS a", "id * 2 AS b"
    ).coalesce(1).write.parquet(str(extra))
    part = next(
        p for p in os.listdir(extra) if p.endswith(".parquet")
    )
    shutil.copy(str(extra / part), str(d / ("zz_" + part)))
    stamp2 = _listing_stamp(str(d))
    assert stamp2 != stamp1  # file count changed -> new cache key
    # replace the directory content wholesale with the wider schema:
    # same file count, newer mtime -> stamp changes again and the
    # fresh read sees the new schema, not the stale cached one
    for name in os.listdir(d):
        if name.endswith(".parquet") and not name.startswith("zz_"):
            os.remove(str(d / name))
    stamp3 = _listing_stamp(str(d))
    assert stamp3 != stamp1
    df2 = read_parquet(spark, str(d))
    assert df2.columns == ["a", "b"]  # not the stale cached ["a"]
