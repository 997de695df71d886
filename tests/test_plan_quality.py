"""Physical-plan quality guards: these assert the *shape* of the plans
Catalyst produces for headline workloads, so perf regressions (lost
pushdown, missed broadcast, disabled partial aggregation) fail fast —
the 100 TB posture is enforced here, not just eyeballed.
"""

from __future__ import annotations

import pytest

from component_duckdb_transformation_spark.workloads import WORKLOADS

SF = "/root/testdata/sf0.001"


def _plan(spark, name: str) -> str:
    df = WORKLOADS[name].make(spark, SF)
    jmode = spark._jvm.org.apache.spark.sql.execution.ExplainMode.fromString("formatted")
    return df._jdf.queryExecution().explainString(jmode)


def test_q01_filter_pushdown_and_partial_agg(spark):
    plan = _plan(spark, "q01_pricing_summary")
    assert "PushedFilters: [IsNotNull(l_shipdate), LessThanOrEqual(l_shipdate" in plan
    # column pruning: only the 7 needed columns reach the scan
    assert "l_comment" not in plan
    # partial + final hash aggregation (two HashAggregate nodes)
    assert plan.count("HashAggregate") >= 2


def test_q04_broadcasts_all_dimensions(spark):
    plan = _plan(spark, "q04_multi_join_revenue")
    # 4 joins: every one must be broadcast (no shuffle/sort-merge join);
    # formatted mode prints each node twice (tree + details)
    assert plan.count("BroadcastHashJoin") >= 4
    assert "SortMergeJoin" not in plan and "ShuffledHashJoin" not in plan
    # the region IN-filter is pushed into the scan
    assert "In(r_name, [ASIA,EUROPE])" in plan


def test_q16_semi_anti_join_rewrite(spark):
    plan = _plan(spark, "q16_exists_semi_anti")
    assert "LeftSemi" in plan
    assert "LeftAnti" in plan


def test_minhash_partial_aggregation(spark):
    """Signature aggregation must be map-side combinable: partial
    HashAggregate before the exchange, final after."""
    from component_duckdb_transformation_spark.operators.dedup import (
        minhash_signatures,
    )

    docs = spark.read.parquet(f"{SF}/documents.parquet")
    sigs = minhash_signatures(docs, num_hashes=8)
    jmode = spark._jvm.org.apache.spark.sql.execution.ExplainMode.fromString(
        "formatted"
    )
    plan = sigs._jdf.queryExecution().explainString(jmode)
    assert plan.count("HashAggregate") >= 2
    assert "Exchange" in plan


def test_text_metrics_no_shuffle(spark):
    """Text metrics are map-only: no Exchange anywhere in the plan."""
    from component_duckdb_transformation_spark.operators.text_analysis import (
        with_text_metrics,
    )

    docs = spark.read.parquet(f"{SF}/documents.parquet").select("doc_id", "text")
    jmode = spark._jvm.org.apache.spark.sql.execution.ExplainMode.fromString(
        "formatted"
    )
    plan = with_text_metrics(docs)._jdf.queryExecution().explainString(jmode)
    assert "Exchange" not in plan


def test_asof_join_single_shuffle(spark):
    """The union+window as-of join must shuffle exactly once (on the key)."""
    from pyspark.sql import functions as F

    from component_duckdb_transformation_spark.operators.asof import asof_join

    ev = spark.read.parquet(f"{SF}/events.parquet")
    purchases = ev.filter(F.col("event_type") == "purchase").select(
        "event_id", "user_id", "ts"
    )
    clicks = ev.filter(F.col("event_type") == "click").select(
        "user_id", "ts", "value"
    )
    out = asof_join(purchases, clicks, on="user_id", left_ts="ts", right_ts="ts",
                    value_cols=["value"])
    jmode = spark._jvm.org.apache.spark.sql.execution.ExplainMode.fromString(
        "formatted"
    )
    plan = out._jdf.queryExecution().explainString(jmode)
    # one exchange (for the window); no join node at all
    import re

    exchanges = re.findall(r"\(\d+\) Exchange", plan)
    assert len(exchanges) == 1, exchanges
    assert "Join" not in plan


def test_x37_repetition_map_only_single_agg(spark):
    """Per-doc n-gram counters are pure column expressions: the whole
    workload is one partial+final aggregation, no joins, one shuffle."""
    import re

    plan = _plan(spark, "x37_repetition_signals")
    assert "Join" not in plan
    assert plan.count("HashAggregate") >= 2
    exchanges = re.findall(r"\(\d+\) Exchange", plan)
    assert len(exchanges) == 1, exchanges


def test_x38_decontam_broadcast_probe(spark):
    """The benchmark shingle-hash set reaches the corpus as a broadcast
    — the corpus probe is map-side, and nothing goes cartesian."""
    plan = _plan(spark, "x38_decontamination")
    assert "BroadcastHashJoin" in plan
    assert "CartesianProduct" not in plan
    assert "BroadcastNestedLoop" not in plan


def test_x18_split_is_map_only_single_agg(spark):
    plan = _plan(spark, "x18_deterministic_split")
    # one partial+final aggregation; no joins of any kind
    assert "Join" not in plan
    assert plan.count("HashAggregate") >= 2  # partial + final


def test_x19_range_join_is_equi_join(spark):
    plan = _plan(spark, "x19_range_join")
    assert "BroadcastNestedLoopJoin" not in plan
    assert "CartesianProduct" not in plan


def test_x21_blocked_near_dup_no_cartesian(spark):
    plan = _plan(spark, "x21_embedding_near_dup_blocked")
    assert "CartesianProduct" not in plan
    assert "BroadcastNestedLoopJoin" not in plan
    # the pair scoring happens inside the cogroup, not as a row join
    assert "FlatMapCoGroupsInPandas" in plan


def test_x14_ivf_search_broadcasts_probes(spark):
    plan = _plan(spark, "x14_ann_ivf_topk")
    # the probed query side is broadcast into the cell join
    assert "BroadcastHashJoin" in plan
    assert "CartesianProduct" not in plan


def test_q42_product_rewrite_partial_agg(spark):
    plan = _plan(spark, "q42_product_aggregate")
    # the product() composition must stay an ordinary two-phase hash
    # aggregate (map-side combinable) with the key filter pushed down
    assert plan.count("HashAggregate") >= 2
    assert "PushedFilters: [IsNotNull(l_orderkey), LessThan(l_orderkey" in plan
    assert "Generate" not in plan  # no explode/UDF detour


def test_q44_columns_expansion_prunes_scan(spark):
    plan = _plan(spark, "q44_columns_macro")
    # COLUMNS('n_n.*') expansion must not force a full-schema scan
    assert "n_regionkey" in plan
    assert "ReadSchema" in plan
    read_schema = [l for l in plan.splitlines() if "ReadSchema" in l][0]
    assert "n_comment" not in read_schema


def test_x28_entropy_two_phase_aggregation(spark):
    plan = _plan(spark, "x28_token_entropy")
    # the scale-path entropy must be chained hash aggregates with
    # map-side combine — never a per-group array materialization
    assert plan.count("HashAggregate") >= 4  # 2 per groupBy (partial+final)
    assert "collect_list" not in plan


def test_q53_asof_sql_no_range_blowup(spark):
    plan = _plan(spark, "q53_asof_join_sql")
    # the ASOF rewrite must yield a hash join + one window, never a
    # nested-loop range join
    assert "BroadcastNestedLoopJoin" not in plan
    assert "CartesianProduct" not in plan
    assert "Window" in plan
    # event_type filters reach the scans
    assert "PushedFilters" in plan and "event_type" in plan


def test_q61_global_mad_no_pandas_funnel(spark):
    """Whole-table mad must lower to the two-phase built-in median plan
    (1-row subquery broadcast-joined back) — never the grouped-agg
    pandas UDF, which funnels the entire column through ONE task when
    there is no GROUP BY."""
    plan = _plan(spark, "q61_mad_json_temporal")
    assert "AggregateInPandas" not in plan
    assert "FlatMapGroupsInPandas" not in plan


def test_q59_positional_join_single_pass(spark):
    """POSITIONAL JOIN numbers each side in one pass: one scan per side
    (no second pass whose layout must agree with the first) and no
    per-partition count stats."""
    import re

    plan = _plan(spark, "q59_positional_join_comprehension")
    assert "row_number" in plan
    assert "__pid" not in plan
    scans = re.findall(r"\(\d+\) Scan parquet\s*(\S*)", plan)
    assert len(scans) == 2, scans


def test_grouped_mad_two_phase(spark):
    """Grouped mad() must restructure to chained built-in median
    aggregates joined on the group keys — no grouped-agg pandas UDF
    gathering a whole group's column in one task."""
    from component_duckdb_transformation_spark.functions.dialect import (
        translate,
    )
    from component_duckdb_transformation_spark.workloads import (
        register_tables,
    )

    register_tables(spark, SF)
    df = spark.sql(translate(
        "SELECT p_brand, mad(p_retailprice) AS m FROM part GROUP BY p_brand"
    ))
    plan = df._jdf.queryExecution().executedPlan().toString()
    assert "AggregateInPandas" not in plan
    assert "FlatMapGroupsInPandas" not in plan


def test_grouped_mad_having_order_two_phase(spark):
    """mad() in HAVING / ORDER BY must hoist into the select-list
    restructure and keep the two-phase chained-median plan — the
    pre-round-8 behavior fell back to the grouped-agg pandas UDF that
    funnels one group's whole column through a single task."""
    from component_duckdb_transformation_spark.functions.dialect import (
        translate,
    )
    from component_duckdb_transformation_spark.workloads import (
        register_tables,
    )

    register_tables(spark, SF)
    for sql in (
        "SELECT p_brand, count(*) AS n FROM part GROUP BY p_brand "
        "HAVING mad(p_retailprice) > 100",
        "SELECT p_brand, avg(p_retailprice) AS a FROM part "
        "GROUP BY p_brand ORDER BY mad(p_retailprice) DESC LIMIT 5",
    ):
        plan = (
            spark.sql(translate(sql))
            ._jdf.queryExecution()
            .executedPlan()
            .toString()
        )
        assert "AggregateInPandas" not in plan, sql
        assert "FlatMapGroupsInPandas" not in plan, sql


def test_x35_packing_window_keyed_shuffle(spark):
    # the packing window partitions by (lang, shard): the Exchange must
    # be a keyed hashpartitioning, never SinglePartition (a global
    # window would funnel the corpus through one task)
    plan = _plan(spark, "x35_sequence_packing")
    assert "Window" in plan
    assert "SinglePartition" not in plan
    assert "Join" not in plan


def test_x36_stratified_sample_map_only(spark):
    # per-row hash decision: filter + one partial/final aggregate, no
    # joins, no windows
    plan = _plan(spark, "x36_stratified_sample")
    assert "Join" not in plan
    assert "Window" not in plan
    assert plan.count("HashAggregate") >= 2


def test_x40_semantic_dedup_cluster_keyed_join(spark):
    # the pair stage must be an equi-join KEYED BY CLUSTER id — never a
    # cartesian/broadcast-nested-loop (the quadratic work is bounded
    # per cluster, shuffle volume stays linear)
    from component_duckdb_transformation_spark.workloads import (
        register_tables,
    )

    register_tables(spark, SF)
    plan = _plan(spark, "x40_semantic_dedup")
    assert "CartesianProduct" not in plan
    assert "BroadcastNestedLoopJoin" not in plan
    assert "cluster" in plan


def test_x42_bigram_lm_partial_aggs_no_cartesian(spark):
    # corpus-count training + score-back joins: partial aggregation on
    # every count stage, never a cartesian/nested-loop
    plan = _plan(spark, "x42_bigram_lm_quality")
    assert "CartesianProduct" not in plan
    assert "BroadcastNestedLoopJoin" not in plan
    assert plan.count("HashAggregate") >= 6  # partial+final x 3 aggs


def test_q65_hinted_dispatch_broadcast_and_prune(spark):
    # 3-way join over small keys broadcasts; unused columns never reach
    # the scans (hinted dispatch must not widen the read schema)
    plan = _plan(spark, "q65_schema_hinted_dispatch")
    assert "BroadcastHashJoin" in plan
    assert "n_chars" not in plan


def test_x43_training_mix_distributed_prefix_sum(spark):
    # two-pass prefix sum: the running-sum window is keyed by
    # (stratum, bucket) — NOT stratum alone (one task per stratum is a
    # scale-killer when one source is 90% of the corpus) — with the
    # tiny cumulative-offsets frame broadcast back, never shuffled
    plan = _plan(spark, "x43_training_mix")
    assert "Window" in plan
    assert "SinglePartition" not in plan
    assert "BroadcastHashJoin" in plan
    assert "SortMergeJoin" not in plan and "ShuffledHashJoin" not in plan
    # the data-side window partitioning carries both keys
    assert "source#" in plan and "__bkt#" in plan


def test_x43_training_mix_bounded_tasks_under_skew(spark):
    # one stratum 10x the rest: no window partition may hold more than
    # a small fraction of the hot stratum (the r8 one-task-per-stratum
    # shape would put 100% of it in one task)
    from pyspark.sql import functions as F

    from component_duckdb_transformation_spark.operators import sampling

    docs = spark.read.parquet(f"{SF}/documents.parquet")
    hot = docs.withColumn("source", F.lit("web"))
    rest = docs.limit(30).withColumn("source", F.lit("books"))
    corpus = hot.unionByName(rest)
    n_hot = hot.count()
    out = sampling.assemble_training_mix(
        corpus, {"web": 0.9, "books": 0.1}, 10_000_000, n_buckets=16
    )
    # correctness: monotone cumsum per stratum, budget met not undershot
    rows = out.orderBy("source", "cum_tokens").collect()
    seen: dict[str, int] = {}
    for r in rows:
        prev = seen.get(r.source, 0)
        assert r.cum_tokens == prev + r.n_tokens
        assert prev < r.budget  # exclusive prefix under budget
        seen[r.source] = r.cum_tokens
    # scale posture: max rows any window task ingests is bounded by
    # ~stratum/n_buckets, far below the hot stratum's size
    hb = sampling.hash_bucket(F.col("doc_id"), "mix")
    grp = (
        hot.select(F.floor(hb * 16 / 10_000).cast("int").alias("b"))
        .groupBy("b")
        .count()
        .agg(F.max("count"))
        .collect()[0][0]
    )
    assert grp < 0.25 * n_hot


def test_x44_domain_cap_bucketed_window(spark):
    # per-key capping: the only window partitions by (key, bucket) —
    # never key alone — offsets broadcast back, and whole buckets
    # pass/drop WITHOUT entering the window (boundary bucket only)
    plan = _plan(spark, "x44_domain_cap")
    assert "row_number" in plan
    assert "SinglePartition" not in plan
    assert "BroadcastHashJoin" in plan
    assert "SortMergeJoin" not in plan and "ShuffledHashJoin" not in plan
    assert "source#" in plan and "__bkt#" in plan


def test_x44_domain_cap_bounded_tasks_under_skew(spark):
    # one domain holds ~all rows: the ranking window must only ever see
    # the BOUNDARY bucket of that domain (~size/n_buckets), and the
    # kept set must equal the oracle's row_number <= cap semantics
    from pyspark.sql import functions as F

    from component_duckdb_transformation_spark.operators import sampling

    docs = spark.read.parquet(f"{SF}/documents.parquet")
    hot = docs.withColumn("source", F.lit("web"))
    rest = docs.limit(30).withColumn("source", F.lit("books"))
    corpus = hot.unionByName(rest)
    cap = 17
    out = sampling.cap_per_key(corpus, "source", cap, n_buckets=16)
    got = {(r.doc_id, r.source) for r in out.select("doc_id", "source").collect()}
    # oracle replay in-Spark: full row_number over the whole key
    hb = sampling.hash_bucket(F.col("doc_id"), "cap")
    from pyspark.sql import Window

    w = Window.partitionBy("source").orderBy(hb.asc(), F.col("doc_id").asc())
    want = {
        (r.doc_id, r.source)
        for r in corpus.withColumn("rn", F.row_number().over(w))
        .filter(F.col("rn") <= cap)
        .select("doc_id", "source")
        .collect()
    }
    assert got == want and len(got) == 2 * cap
    # cap = 0 keeps nothing; cap >= key size keeps everything
    assert sampling.cap_per_key(corpus, "source", 0).count() == 0
    big = sampling.cap_per_key(rest, "source", 10_000).count()
    assert big == rest.count()
    # NULL is a partition too: row_number() PARTITION BY keeps up to
    # cap NULL-key rows — the offsets join must be null-safe
    nulled = docs.limit(40).withColumn(
        "source", F.when(F.col("doc_id") % 2 == 0, F.lit(None)).otherwise(F.lit("b"))
    )
    out_n = sampling.cap_per_key(nulled, "source", 5, n_buckets=4)
    by_key = {
        r.source: r.n
        for r in out_n.groupBy("source").agg(F.count("*").alias("n")).collect()
    }
    assert by_key.get(None) == 5 and by_key.get("b") == 5


def test_printf_twins_batch_into_one_arrow_stage(spark):
    """r10c: every printf/format float-directive twin call in a
    statement batches into ONE ArrowEvalPython stage (a single
    map-only Python crossing per statement), and nothing falls back
    to row-at-a-time BatchEvalPython. q69 carries printf/format
    through the oracle gate; this pins the plan shape."""
    from component_duckdb_transformation_spark.functions.dialect import (
        translate,
    )
    from component_duckdb_transformation_spark.workloads import (
        register_tables,
    )

    register_tables(spark, SF)
    q = (
        "SELECT printf('%.2f', l_tax) AS a, printf('%.1g', l_discount)"
        " AS b, format('{:.3}', l_quantity) AS c FROM lineitem"
    )
    df = spark.sql(translate(q))
    plan = df._jdf.queryExecution().executedPlan().toString()
    assert plan.count("ArrowEvalPython") == 1, plan[:2000]
    assert "BatchEvalPython" not in plan


def test_q08_percentiles_fused_single_percentile_agg(spark):
    """All five of q08's quantiles (four percentile_cont + one
    percentile_disc) fold onto ONE shared collect_list aggregate
    (r13-opt: Catalyst dedupes the textually identical collect_list;
    subexpression elimination evaluates the shared sort_array once in
    the result projection) — the five separate per-partition
    value-count maps were q08's pole twice over (5.5 s in r10, and
    still 2.8 s sequential as two maps in r13's inherited tree; the
    fold runs 0.94 s)."""
    import re

    plan = _plan(spark, "q08_percentiles")
    # the aggregate node evaluates exactly 1 function: the shared
    # collect_list (was 5, then 2, value-count maps)
    counts = {int(n) for n in re.findall(r"Functions \[(\d+)\]", plan)}
    assert counts == {1}, (counts, plan[:300])
    assert "percentile_cont" not in plan
    assert "collect_list" in plan
    # still a partial+final aggregation over one shuffle
    assert plan.count("Exchange") <= 4


def test_x37_repetition_single_compiled_pass(spark):
    """Repetition counters come from the compiled DuckNgramStats core:
    no explode, no per-n-gram array assembly (concat_ws/transform
    chains) in the plan, still map-only into one aggregation."""
    plan = _plan(spark, "x37_repetition_signals")
    assert "Explode" not in plan and "explode" not in plan
    assert "concat_ws" not in plan
    assert "__duck_ngram_stats" in plan
    assert "Join" not in plan


def test_x32_cc_driver_regime_broadcasts_label_map(spark):
    """Small pair graphs take the driver union-find regime: the final
    labeling is a broadcast join of the label map against the node
    set — no iterative shuffle rounds in the returned plan."""
    plan = _plan(spark, "x32_connected_components")
    assert "BroadcastHashJoin" in plan
    assert "SortMergeJoin" not in plan


def test_streaming_window_mad_single_exchange(spark):
    """The r12 streaming order-statistics lowering must not add
    exchanges or sorts: a running mad and its helper windows
    (collect_list peers, row_number, count) share the statement's one
    (PARTITION BY, ORDER BY) prefix, so the plan is one Exchange + one
    Sort + Window, all inside a single WindowExec stage."""
    import re

    from component_duckdb_transformation_spark.functions.dialect import (
        translate,
    )

    spark.read.parquet(f"{SF}/part.parquet").createOrReplaceTempView("part")
    t = translate(
        "SELECT p_partkey,"
        " mad(p_retailprice) OVER (PARTITION BY p_brand ORDER BY p_partkey) AS m,"
        " quantile_cont(p_size, 0.5)"
        " OVER (PARTITION BY p_brand ORDER BY p_partkey) AS q"
        " FROM part"
    )
    assert t.count("__duck_win_os") == 2
    df = spark.sql(t)
    jmode = spark._jvm.org.apache.spark.sql.execution.ExplainMode.fromString(
        "formatted"
    )
    plan = df._jdf.queryExecution().explainString(jmode)
    # exactly ONE exchange (the window hash partitioning) and one sort
    assert len(re.findall(r"\(\d+\) Exchange", plan)) == 1, plan[:2000]
    assert len(re.findall(r"\(\d+\) Sort", plan)) == 1
    assert len(re.findall(r"\(\d+\) Window", plan)) == 1
