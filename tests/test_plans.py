"""Plan-shape regression gates: the scale properties the engine promises
(pushdown, pruning, broadcast, bounded shuffles) asserted on real plans."""

from pyspark.sql import functions as F

from hybridbackend_spark.plans.inspect import (
    assert_broadcast_join,
    assert_column_pruned,
    assert_filter_pushed,
    assert_max_shuffles,
    codegen_stage_count,
    count_exchanges,
    has_broadcast_join,
    pushed_filters,
    scan_read_schema,
)
from hybridbackend_spark.queries import (
    lookup_join_dedup,
    q1_pricing_summary,
    q3_top_orders,
    q5_nation_revenue,
    scan_filter_project,
)


def test_scan_projection_pruned_and_pushed(spark, sf_dir):
    df = scan_filter_project(spark, sf_dir)
    # only the 4 referenced columns are read off disk
    assert_column_pruned(df, ["l_extendedprice", "l_returnflag", "l_comment"])
    read = scan_read_schema(df)
    assert set(read) == {"l_orderkey", "l_partkey", "l_quantity", "l_shipdate"}
    assert_filter_pushed(df, "l_quantity")
    assert_filter_pushed(df, "l_shipdate")


def test_q1_single_shuffle(spark, sf_dir):
    # scan -> partial agg -> ONE exchange -> final agg
    df = q1_pricing_summary(spark, sf_dir)
    assert_max_shuffles(df, 1)
    from hybridbackend_spark.plans.inspect import physical_plan

    assert "partial_sum" in physical_plan(df)  # map-side combine present


def test_codegen_covers_agg_after_execution(spark, sf_dir):
    df = q1_pricing_summary(spark, sf_dir)
    df.collect()  # finalize the adaptive plan
    assert codegen_stage_count(df) >= 1


def test_q3_broadcasts_dims(spark, sf_dir):
    df = q3_top_orders(spark, sf_dir)
    assert_broadcast_join(df)


def test_q5_star_join_no_fact_shuffle_before_agg(spark, sf_dir):
    df = q5_nation_revenue(spark, sf_dir)
    assert_broadcast_join(df)
    # all four dim joins broadcast; the only shuffle is the final group-by
    assert_max_shuffles(df, 1)


def test_lookup_join_broadcast(spark, sf_dir):
    df = lookup_join_dedup(spark, sf_dir)
    assert_broadcast_join(df)


def test_filter_pushdown_reaches_parquet(spark, sf_dir):
    df = (
        spark.read.parquet(f"{sf_dir}/orders.parquet")
        .filter(F.col("o_totalprice") > 100000)
        .select("o_orderkey")
    )
    assert "o_totalprice" in pushed_filters(df)
    # pruning: only the two referenced columns read
    assert set(scan_read_schema(df)) == {"o_orderkey", "o_totalprice"}


def _assert_range_prefix_plan(plan):
    assert "rangepartitioning" in plan
    # every window partitions by _pid — no global single-partition window
    for ln in plan.splitlines():
        if "Window " in ln:
            assert "_pid" in ln


def test_auc_no_global_window(spark, sf_dir, checkpointed_plans):
    # the AUC sweep must range-partition, not funnel through one partition
    from hybridbackend_spark.functions.metrics import auc

    ev = spark.read.parquet(f"{sf_dir}/events.parquet").selectExpr(
        "cast(event_id % 2 as double) as label", "value as score"
    )
    auc(ev, "label", "score")
    [plan] = checkpointed_plans
    _assert_range_prefix_plan(plan)


def test_asof_single_shuffle_on_key(spark, sf_dir):
    from hybridbackend_spark.queries import asof_prior_click
    from hybridbackend_spark.plans.inspect import count_exchanges

    df = asof_prior_click(spark, sf_dir)
    # union + window: one hash exchange on user_id (x2 input branches max)
    assert count_exchanges(df) <= 2


def test_batch_id_distributed(spark, checkpointed_plans):
    from hybridbackend_spark.operators.structural import with_batch_id

    with_batch_id(spark.range(100), 10, order_by=["id"])
    [plan] = checkpointed_plans
    _assert_range_prefix_plan(plan)


def test_cosine_bucketed_no_cartesian(spark, sf_dir):
    # the demonstrated scale path must never cross-join the corpus
    from hybridbackend_spark.queries import cosine_near_dup_bucketed
    from hybridbackend_spark.plans.inspect import physical_plan

    plan = physical_plan(cosine_near_dup_bucketed(spark, sf_dir))
    assert "CartesianProduct" not in plan
    assert "BroadcastNestedLoopJoin" not in plan


def test_bucketed_join_shuffle_free(spark, sf_dir, tmp_path):
    # both sides bucketed on the join key by the same bucket count:
    # the join must plan with ZERO exchanges (the durable analog of the
    # reference's static sharding, embedding/sharding.py:99-131)
    from hybridbackend_spark.sources.bucketed import (
        read_bucketed_table,
        write_bucketed,
    )

    orders = spark.read.parquet(f"{sf_dir}/orders.parquet").select(
        "o_orderkey", "o_totalprice"
    )
    li = spark.read.parquet(f"{sf_dir}/lineitem.parquet").select(
        "l_orderkey", "l_quantity"
    )
    write_bucketed(orders, "b_orders", str(tmp_path / "bo"), "o_orderkey", 8)
    write_bucketed(li, "b_lineitem", str(tmp_path / "bl"), "l_orderkey", 8)
    try:
        bo = read_bucketed_table(spark, "b_orders")
        bl = read_bucketed_table(spark, "b_lineitem")
        j = bl.hint("merge").join(bo, bl.l_orderkey == bo.o_orderkey)
        assert j.count() > 0
        assert count_exchanges(j) == 0
    finally:
        spark.sql("DROP TABLE IF EXISTS b_orders")
        spark.sql("DROP TABLE IF EXISTS b_lineitem")


def test_pack_sequences_distributed(spark, checkpointed_plans):
    # the packing prefix sum must range-partition, never funnel through a
    # single-partition window
    from hybridbackend_spark.operators.corpus import pack_sequences

    df = spark.range(1000).selectExpr("id AS doc_id", "id % 7 + 1 AS n_tok")
    pack_sequences(df, "doc_id", "n_tok", budget=64)
    [plan] = checkpointed_plans
    _assert_range_prefix_plan(plan)


def test_repetition_signals_partial_agg(spark, sf_dir):
    # gram counting must combine map-side: shuffle bytes scale with
    # distinct grams, not corpus bytes
    from hybridbackend_spark.operators.corpus import repetition_signals
    from hybridbackend_spark.plans.inspect import physical_plan

    docs = spark.read.parquet(f"{sf_dir}/documents.parquet")
    plan = physical_plan(repetition_signals(docs))
    assert "partial_count" in plan


def test_label_centroid_bounded_shuffles(spark, sf_dir):
    # posexplode -> (label, dim) agg -> label agg: exactly two bounded
    # exchanges, each carrying |labels| x dim rows at most
    from hybridbackend_spark.queries import label_centroid_embeddings
    from hybridbackend_spark.plans.inspect import count_exchanges

    assert count_exchanges(label_centroid_embeddings(spark, sf_dir)) <= 2


def test_q4_semi_join_shape(spark, sf_dir):
    # EXISTS must decorrelate to a semi join; the probe side carries only
    # (l_orderkey, l_shipdate) — assert pruning reached the lineitem scan
    from hybridbackend_spark.queries import q4_order_priority
    from hybridbackend_spark.plans.inspect import physical_plan

    plan = physical_plan(q4_order_priority(spark, sf_dir))
    assert "LeftSemi" in plan
    import re
    li_scans = [
        ln for ln in plan.splitlines()
        if "ReadSchema" in ln and "l_orderkey" in ln
    ]
    assert li_scans and all(
        set(re.findall(r"l_\w+", ln)) <= {"l_orderkey", "l_shipdate"}
        for ln in li_scans
    )


def test_q7_all_dims_broadcast_single_shuffle(spark, sf_dir):
    # every dimension leg broadcasts; the only exchange is the final agg
    from hybridbackend_spark.queries import q7_volume_shipping
    from hybridbackend_spark.plans.inspect import assert_broadcast_join

    df = q7_volume_shipping(spark, sf_dir)
    assert_broadcast_join(df)
    assert_max_shuffles(df, 1)


def test_q16_not_in_is_broadcast_anti(spark, sf_dir):
    from hybridbackend_spark.queries import q16_supplier_counts
    from hybridbackend_spark.plans.inspect import physical_plan

    plan = physical_plan(q16_supplier_counts(spark, sf_dir))
    assert "LeftAnti" in plan and "BroadcastHashJoin" in plan
    assert "CartesianProduct" not in plan


def test_q22_anti_join_streams_keys_only(spark, sf_dir):
    # NOT EXISTS -> anti join; the orders side must be pruned to o_custkey
    # (+ the pushed o_orderdate predicate)
    from hybridbackend_spark.queries import q22_idle_rich_customers
    from hybridbackend_spark.plans.inspect import physical_plan
    import re

    plan = physical_plan(q22_idle_rich_customers(spark, sf_dir))
    assert "LeftAnti" in plan
    o_scans = [
        ln for ln in plan.splitlines()
        if "ReadSchema" in ln and "o_custkey" in ln
    ]
    assert o_scans and all(
        set(re.findall(r"o_\w+", ln)) <= {"o_custkey", "o_orderdate"}
        for ln in o_scans
    )


def test_stratified_sample_zero_shuffle(spark, sf_dir):
    # rate-mode sampling is a pure filter: NO exchange anywhere
    from hybridbackend_spark.queries import stratified_sample_docs

    assert count_exchanges(stratified_sample_docs(spark, sf_dir)) == 0


def test_quantize_int8_zero_shuffle(spark, sf_dir):
    from hybridbackend_spark.queries import quantize_embeddings_int8

    assert count_exchanges(quantize_embeddings_int8(spark, sf_dir)) == 0


def test_heavy_hitters_partial_agg_and_topk(spark, sf_dir):
    # vocabulary count must combine map-side and top-k must not global-sort
    from hybridbackend_spark.queries import heavy_hitter_tokens
    from hybridbackend_spark.plans.inspect import physical_plan

    plan = physical_plan(heavy_hitter_tokens(spark, sf_dir))
    assert "partial_count" in plan
    assert "TakeOrderedAndProject" in plan


def test_bm25_bounded_shuffles_and_topk(spark, sf_dir):
    # postings agg + doc agg are the only real exchanges (plus tiny
    # broadcasts); the final ranking is TakeOrdered, not a global sort
    from hybridbackend_spark.queries import bm25_rank_docs
    from hybridbackend_spark.plans.inspect import physical_plan

    plan = physical_plan(bm25_rank_docs(spark, sf_dir))
    assert "TakeOrderedAndProject" in plan
    assert plan.count("Exchange hashpartitioning") <= 2


def test_q6_all_filters_pushed_single_shuffle(spark, sf_dir):
    # the pure-pushdown benchmark: shipdate + quantity reach the scan and
    # the only exchange is the single-row final aggregate
    from hybridbackend_spark.queries import q6_forecast_revenue

    df = q6_forecast_revenue(spark, sf_dir)
    assert_filter_pushed(df, "l_shipdate")
    assert_filter_pushed(df, "l_quantity")
    assert_max_shuffles(df, 1)


def test_q8_star_join_all_dims_broadcast(spark, sf_dir):
    # 8-way star: the true dims (part keys, nation-tagged supplier, nation,
    # region) broadcast statically. Orders and the region-reduced customer
    # are fact-proportional and carry no hint, so the initial plan may
    # shuffle them; at runtime AQE measures the actual (tiny at this SF)
    # sizes and converts those joins to broadcasts — assert on the final
    # adaptive plan after execution. Scale behavior (hints survive
    # threshold=-1, facts degrade to SMJ) is pinned in test_plan_scale.py.
    from hybridbackend_spark.plans.inspect import physical_plan
    from hybridbackend_spark.queries import q8_market_share

    df = q8_market_share(spark, sf_dir)
    assert_broadcast_join(df)
    df.collect()
    plan = physical_plan(df)
    assert "isFinalPlan=true" in plan
    # AQE converted the unhinted fact-side joins: no sort-merge survives
    # at this SF (the plan string appends the pre-AQE "Initial Plan" —
    # assert on the final section only)
    final = plan.split("== Initial Plan ==")[0]
    assert "SortMergeJoin" not in final


def test_q21_semi_anti_two_column_probes(spark, sf_dir):
    # EXISTS/NOT EXISTS decorrelate into one semi + one anti join, and the
    # correlated lineitem scans stream only (orderkey, suppkey[, shipdate])
    import re

    from hybridbackend_spark.plans.inspect import physical_plan
    from hybridbackend_spark.queries import q21_sole_late_supplier

    plan = physical_plan(q21_sole_late_supplier(spark, sf_dir))
    assert "LeftSemi" in plan
    assert "LeftAnti" in plan
    li_scans = [
        ln
        for ln in plan.splitlines()
        if "parquet" in ln and "lineitem" in ln and "ReadSchema" in ln
    ]
    assert li_scans and all(
        set(re.findall(r"l_\w+", ln))
        <= {"l_orderkey", "l_suppkey", "l_shipdate"}
        for ln in li_scans
    )


def test_redact_pii_zero_shuffle(spark, sf_dir):
    # redaction is a map-only expression pipeline
    from hybridbackend_spark.queries import redact_pii_docs

    assert count_exchanges(redact_pii_docs(spark, sf_dir)) == 0


def test_time_decay_single_shuffle(spark, sf_dir):
    # window anchor + final agg share one hash partitioning on user_id
    from hybridbackend_spark.queries import user_value_decay

    assert_max_shuffles(user_value_decay(spark, sf_dir), 1)


def test_line_dedup_two_partial_agg_shuffles(spark, sf_dir):
    # groupBy(line) + groupBy(doc_id), nothing else
    from hybridbackend_spark.queries import line_dedup_docs

    assert_max_shuffles(line_dedup_docs(spark, sf_dir), 2)


def test_temperature_mixture_corpus_never_shuffled(spark, sf_dir):
    # rates join back broadcast; every exchange is on the tiny aggregates
    from hybridbackend_spark.plans.inspect import physical_plan
    from hybridbackend_spark.queries import temperature_mixture_docs

    df = temperature_mixture_docs(spark, sf_dir)
    assert has_broadcast_join(df)
    assert "SortMergeJoin" not in physical_plan(df)


def test_vocab_encode_broadcast_ids(spark, sf_dir):
    from hybridbackend_spark.queries import vocab_encode_docs

    df = vocab_encode_docs(spark, sf_dir)
    assert has_broadcast_join(df)
    assert_max_shuffles(df, 3)


def test_semantic_dedup_pairs_no_cartesian_and_blocked_key(spark, sf_dir):
    # the in-cell self-join must be an equi-join on (cell, block-pair)
    # keys, never a cartesian/broadcast-nested-loop over the corpus
    from pyspark.sql import functions as F

    from hybridbackend_spark.plans.inspect import physical_plan
    from hybridbackend_spark.queries import _ivf_centroids
    from hybridbackend_spark.operators.similarity import dot, ivf_assign, l2_norm

    emb = spark.read.parquet(f"{sf_dir}/embeddings.parquet")
    v = emb.select(
        "vec_id", F.transform("embedding", lambda x: x.cast("double")).alias("_v")
    )
    cells = (
        ivf_assign(v, "_v", _ivf_centroids(), "_cell")
        .withColumn("_blk", F.pmod(F.xxhash64("vec_id"), F.lit(8)))
        .withColumn("_nrm", l2_norm(F.col("_v")))
    )
    lo = cells.withColumn("_hi", F.explode(F.sequence(F.col("_blk"), F.lit(7)))).alias("a")
    hi = cells.withColumn("_lo", F.explode(F.sequence(F.lit(0), F.col("_blk")))).alias("b")
    pairs = lo.join(
        hi,
        (F.col("a._cell") == F.col("b._cell"))
        & (F.col("a._blk") == F.col("b._lo"))
        & (F.col("a._hi") == F.col("b._blk"))
        & (
            (F.col("a._blk") < F.col("b._blk"))
            | ((F.col("a._blk") == F.col("b._blk")) & (F.col("a.vec_id") < F.col("b.vec_id")))
        ),
    ).select(
        F.round(dot(F.col("a._v"), F.col("b._v")) / (F.col("a._nrm") * F.col("b._nrm")), 6).alias("cos")
    )
    plan = physical_plan(pairs)
    assert "CartesianProduct" not in plan
    assert "BroadcastNestedLoopJoin" not in plan


def test_triangle_count_no_cartesian(spark):
    from hybridbackend_spark.plans.inspect import physical_plan
    from hybridbackend_spark.operators.graph import triangle_count

    edges = spark.createDataFrame(
        [(a, b) for a in range(10) for b in range(10) if a < b], ["src", "dst"]
    )
    plan = physical_plan(triangle_count(edges))
    assert "CartesianProduct" not in plan
    assert "BroadcastNestedLoopJoin" not in plan


def test_pagerank_round_is_two_shuffles(spark):
    # one iteration = join on source id + partial-agg groupBy on dest id
    # (+ the final left join against the checkpointed node set). Round-12
    # cadence: localCheckpoint fires every 4th iteration only — rank state
    # is consumed exactly once per round, so the un-checkpointed plan
    # grows linearly and a short call runs as ONE job — so a 1-iteration
    # plan carries exactly one round's exchanges...
    from hybridbackend_spark.plans.inspect import count_exchanges
    from hybridbackend_spark.operators.graph import pagerank

    edges = spark.createDataFrame(
        [(i, (i + 1) % 50) for i in range(50)], ["src", "dst"]
    )
    one_round = count_exchanges(pagerank(edges, iterations=1))
    assert one_round <= 4
    # ...and the every-4th checkpoint BOUNDS plan depth: 5 iterations
    # (checkpoint after round 4) leave one un-checkpointed round, the
    # same exchange count as iterations=1 — rounds don't stack past a cut
    assert count_exchanges(pagerank(edges, iterations=5)) == one_round


def test_profile_single_scan(spark, sf_dir):
    # the fused profile aggregates every column in ONE scan of the input
    from hybridbackend_spark.plans.inspect import physical_plan
    from hybridbackend_spark.operators.profile import profile_columns

    li = spark.read.parquet(f"{sf_dir}/lineitem.parquet")
    plan = physical_plan(profile_columns(li, ["l_orderkey", "l_quantity"]))
    assert plan.count("Scan parquet") == 1


def test_rolling_distinct_two_agg_shuffles(spark, sf_dir):
    from hybridbackend_spark.functions.windows import rolling_distinct_count
    from hybridbackend_spark.queries import _t

    ev = _t(spark, sf_dir, "events")
    df = rolling_distinct_count(ev, "ts", "user_id", 7)
    # dedup agg, day-join of observed days, final count-distinct agg
    assert_max_shuffles(df, 4)


def test_runtime_bloom_filter_prunes_probe_side(spark, sf_dir):
    # a selective filter on the build side should inject a runtime bloom
    # filter into the probe-side scan of a shuffle join — Spark's runtime
    # analog of the reference's lookup-before-shuffle pruning
    from pyspark.sql import functions as F

    from hybridbackend_spark.plans.inspect import physical_plan

    conf = spark.conf
    saved = {
        k: conf.get(k)
        for k in (
            "spark.sql.optimizer.runtime.bloomFilter.enabled",
            "spark.sql.optimizer.runtime.bloomFilter.applicationSideScanSizeThreshold",
            "spark.sql.autoBroadcastJoinThreshold",
        )
    }
    try:
        conf.set("spark.sql.optimizer.runtime.bloomFilter.enabled", "true")
        conf.set(
            "spark.sql.optimizer.runtime.bloomFilter.applicationSideScanSizeThreshold",
            "0",
        )
        conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
        li = spark.read.parquet(f"{sf_dir}/lineitem.parquet")
        orders = spark.read.parquet(f"{sf_dir}/orders.parquet").filter(
            F.col("o_orderpriority") == "1-URGENT"
        )
        joined = li.join(orders, li.l_orderkey == orders.o_orderkey).groupBy(
            "o_orderpriority"
        ).count()
        plan = physical_plan(joined)
        assert "might_contain" in plan or "bloom_filter" in plan.lower()
    finally:
        for k, v in saved.items():
            if v is None:
                conf.unset(k)
            else:
                conf.set(k, v)


def test_partitioned_write_prunes_partitions(spark, sf_dir, tmp_path):
    # hive-style partitionBy write + a filter on the partition column must
    # prune at planning time: the pruned read touches fewer files
    from pyspark.sql import functions as F

    out = str(tmp_path / "orders_parted")
    spark.read.parquet(f"{sf_dir}/orders.parquet").write.partitionBy(
        "o_orderpriority"
    ).parquet(out)
    full = spark.read.parquet(out)
    pruned = full.filter(F.col("o_orderpriority") == "1-URGENT")
    from hybridbackend_spark.plans.inspect import physical_plan

    plan = physical_plan(pruned)
    # the equality predicate must appear as a PARTITION filter (planning-
    # time file pruning), not a post-scan data filter
    assert "PartitionFilters: [" in plan
    assert "1-URGENT" in plan.split("PartitionFilters:")[1].split("]")[0]
    # and the pruned scan returns exactly the one partition's rows
    assert pruned.count() == full.filter(
        F.col("o_orderpriority") == "1-URGENT"
    ).count()


def test_aqe_splits_skewed_join(spark):
    # a hot key owning 90% of the fact side must be split by AQE's skew
    # join optimization (one reducer would otherwise own the whole key)
    from pyspark.sql import functions as F

    conf = spark.conf
    keys = (
        "spark.sql.autoBroadcastJoinThreshold",
        "spark.sql.adaptive.skewJoin.skewedPartitionThresholdInBytes",
        "spark.sql.adaptive.advisoryPartitionSizeInBytes",
        "spark.sql.adaptive.skewJoin.skewedPartitionFactor",
    )
    saved = {k: conf.get(k, None) for k in keys}
    try:
        conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
        # shrink the thresholds so test-sized data qualifies as skewed
        conf.set(
            "spark.sql.adaptive.skewJoin.skewedPartitionThresholdInBytes",
            "256KB",
        )
        conf.set("spark.sql.adaptive.advisoryPartitionSizeInBytes", "64KB")
        conf.set("spark.sql.adaptive.skewJoin.skewedPartitionFactor", "2")
        # incompressible payload: skew detection uses compressed shuffle
        # sizes, so repetitive fillers hide the skew
        payload = F.concat(
            *[
                F.md5(F.concat(F.col("id").cast("string"), F.lit(str(i))))
                for i in range(4)
            ]
        )
        left = spark.range(200000).select(
            F.when(F.col("id") % 10 < 9, 0).otherwise(F.col("id")).alias("k"),
            payload.alias("payload"),
        )
        right = spark.range(3000).select(
            F.col("id").alias("k"), F.lit("dim").alias("attr")
        )
        j = left.join(right, "k")
        assert len(j.collect()) == 180300
        # inspect the SAME QueryExecution that ran (AQE finalizes in place)
        plan = j._jdf.queryExecution().executedPlan().toString()
        assert "isFinalPlan=true" in plan
        assert "skew=true" in plan
    finally:
        for k, v in saved.items():
            if v is None:
                conf.unset(k)
            else:
                conf.set(k, v)


def test_pq_encode_zero_shuffle(spark, sf_dir):
    """PQ encoding is a pure projection: codebook literals fold into the
    plan, no Exchange anywhere."""
    from hybridbackend_spark.operators.similarity import (
        pq_encode,
        pq_random_codebooks,
    )
    from hybridbackend_spark.plans.inspect import count_exchanges

    emb = spark.read.parquet(f"{sf_dir}/embeddings.parquet")
    books = pq_random_codebooks(dim=64, m=4, ksub=8, seed=11)
    assert count_exchanges(pq_encode(emb, "embedding", books)) == 0


def test_zorder_key_zero_shuffle_and_range_partition_on_write_path(spark, sf_dir):
    from hybridbackend_spark.operators.layout import cluster_by_zorder, zorder_key
    from hybridbackend_spark.plans.inspect import count_exchanges, physical_plan

    li = spark.read.parquet(f"{sf_dir}/lineitem.parquet")
    keyed = li.select(
        zorder_key(["l_partkey", "l_suppkey"], [(0, 20000), (0, 1000)]).alias("z")
    )
    assert count_exchanges(keyed) == 0
    clustered = cluster_by_zorder(
        li, ["l_partkey", "l_suppkey"], num_partitions=8
    )
    assert "rangepartitioning" in physical_plan(clustered).lower()


def test_standard_scale_single_stats_broadcast(spark, sf_dir):
    """The fitted scaler computes stats once and broadcasts them — the
    fact side never shuffles."""
    from hybridbackend_spark.functions.feature import standard_scale
    from hybridbackend_spark.plans.inspect import physical_plan

    li = spark.read.parquet(f"{sf_dir}/lineitem.parquet").select(
        "l_orderkey", "l_quantity"
    )
    plan = physical_plan(standard_scale(li, ["l_quantity"]))
    assert "BroadcastNestedLoopJoin" in plan or "BroadcastExchange" in plan
    # no hash shuffle of the fact table itself
    assert "Exchange hashpartitioning(l_orderkey" not in plan


def test_cluster_conf_scales_with_size_and_cores():
    from hybridbackend_spark.session import cluster_conf

    small = cluster_conf(total_executor_cores=100, target_sf_tb=1.0)
    big = cluster_conf(total_executor_cores=4000, target_sf_tb=100.0)
    assert int(big["spark.sql.shuffle.partitions"]) > int(
        small["spark.sql.shuffle.partitions"]
    )
    # 100 TB: partitions sized so ~20% shuffle volume / 256MB targets
    assert int(big["spark.sql.shuffle.partitions"]) >= 80_000
    # dims-only broadcast line
    assert int(big["spark.sql.autoBroadcastJoinThreshold"]) == 64 * (1 << 20)
    # AQE stays on in every profile
    assert big["spark.sql.adaptive.enabled"] == "true"
    # reliable lineage cuts (spark.checkpoint.dir) are cleaned up with
    # their DataFrames
    assert small["spark.cleaner.referenceTracking.cleanCheckpoints"] == "true"
    assert big["spark.cleaner.referenceTracking.cleanCheckpoints"] == "true"


def test_sort_key_advisor_exact_run_bound(spark):
    """min_runs equals the hand-computed sum of per-group distincts, and
    sorting by the better candidate genuinely produces fewer runs."""
    from hybridbackend_spark.operators.layout import sort_key_advisor

    rows = [
        # key k clusters v perfectly; key j does not
        (1, "a", 10), (1, "a", 11), (2, "b", 10), (2, "b", 11),
        (3, "c", 10), (3, "c", 11),
    ]
    df = spark.createDataFrame(rows, "k long, v string, j long")
    got = {
        (r.candidate, r["column"]): r.min_runs
        for r in sort_key_advisor(
            df, candidates=["k", "j"], measure_cols=["v"]
        ).collect()
    }
    # by k: each of 3 groups holds 1 distinct v -> 3 runs minimum
    assert got[("k", "v")] == 3
    # by j: each of 2 groups holds all 3 v values -> 6 runs minimum
    assert got[("j", "v")] == 6
