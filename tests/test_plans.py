"""Physical-plan assertions: the plan shape IS the scale contract.

These tests pin the properties that make the queries survive 100×:
filters/projections reaching the parquet scan, small dims broadcast,
aggregates running partial→final (map-side combine), top-k not sorting
the world, and no accidental cartesian products.
"""

from __future__ import annotations

import re

import pytest
from pyspark.sql import functions as F

from simple_map_reduce_ruuner_spark.operators import relational, wordcount
from simple_map_reduce_ruuner_spark.sources.tables import load_table


def plan_of(df) -> str:
    return df._jdf.queryExecution().executedPlan().toString()


def optimized_of(df) -> str:
    return df._jdf.queryExecution().optimizedPlan().toString()


def test_filter_pushdown_reaches_scan(spark, sf_dir):
    li = load_table(spark, sf_dir, "lineitem")
    q = li.where(F.col("l_shipdate") <= F.lit("1998-09-02").cast("timestamp")).select(
        "l_quantity"
    )
    plan = plan_of(q)
    assert "PushedFilters" in plan
    assert "l_shipdate" in plan.split("PushedFilters")[1][:200], plan


def test_column_pruning_reaches_scan(spark, sf_dir):
    q = relational.pricing_summary(spark, sf_dir)
    plan = plan_of(q)
    # ReadSchema must NOT include unused wide columns
    read_schema = plan.split("ReadSchema")[1][:400]
    assert "l_comment" not in read_schema
    assert "l_orderkey" not in read_schema  # grouped query needs no keys
    assert "l_quantity" in read_schema


def test_broadcast_join_for_small_dims(spark, sf_dir):
    q = relational.revenue_by_nation(spark, sf_dir)
    plan = plan_of(q)
    assert "BroadcastHashJoin" in plan
    # the fact table must never be broadcast
    assert "SortMergeJoin" in plan or plan.count("BroadcastHashJoin") >= 2


def test_partial_final_aggregation(spark, sf_dir):
    q = wordcount.word_count(spark, sf_dir)
    plan = plan_of(q)
    # two HashAggregates around the exchange = map-side combine, the
    # reference's chunk-partial -> global-final contract (SURVEY §1.4)
    assert plan.count("HashAggregate") >= 2
    assert "partial_count" in plan


def test_topk_uses_bounded_sort(spark, sf_dir):
    q = relational.top_suppliers_revenue(spark, sf_dir)
    plan = plan_of(q)
    # orderBy().limit(k) must plan TakeOrderedAndProject (k-row heap),
    # not a global Sort + CollectLimit
    assert "TakeOrderedAndProject" in plan


def test_no_accidental_cartesian(spark, sf_dir):
    # every registry query except the documented O(n^2) anchors must be
    # free of CartesianProduct / unconditional BroadcastNestedLoopJoin
    from simple_map_reduce_ruuner_spark.registry import all_queries

    allowed_quadratic = {"neardup_embedding", "ann_topk_bruteforce"}
    offenders = []
    for name, q in all_queries().items():
        if name in allowed_quadratic:
            continue
        plan = plan_of(q.fn(spark, sf_dir))
        if "CartesianProduct" in plan:
            offenders.append(name)
    assert not offenders, offenders


def test_lsh_verified_scores_candidates_with_partial_aggs(spark, sf_dir):
    """The production near-dedup plan: shingle intersection counts run
    partial→final (map-side combine before every exchange), and no
    cartesian product sneaks into candidate generation or verify."""
    from simple_map_reduce_ruuner_spark.operators import dedup

    # assert on the underlying plan builder: the public fn returns the
    # session-cached lazy checkpoint, whose plan is an opaque ExistingRDD
    plan = plan_of(dedup._neardup_lsh_verified_plan(spark, sf_dir))
    assert "CartesianProduct" not in plan
    assert "partial_count" in plan  # band-bucket + intersection counts


def test_embedding_lsh_broadcasts_planes_only(spark, sf_dir):
    """rh_lsh bucketing must broadcast the tiny hyperplane matrix (512
    rows), never the embeddings table, and pair scoring must be a real
    join on (band, sub) keys — not a nested loop."""
    from simple_map_reduce_ruuner_spark.operators import dedup

    plan = plan_of(dedup.neardup_embedding_lsh(spark, sf_dir))
    assert "BroadcastHashJoin" in plan  # planes join against components
    assert "CartesianProduct" not in plan
    # candidate generation must shuffle on the tiny (band, sub) key — a
    # real hash join between band-mates, never an all-pairs loop. (The
    # one BroadcastNestedLoopJoin in this plan is the intentional 8x64
    # planes-constant cross join, 512 broadcast rows.)
    assert "hashpartitioning(band" in plan


def test_approx_sketch_aggs_run_partial_final(spark, sf_dir):
    """Sketch twins must combine map-side: HLL and GK state merges at
    the exchange, shuffling sketches instead of raw values."""
    from simple_map_reduce_ruuner_spark.operators import approx

    hll = plan_of(approx.approx_distinct_users(spark, sf_dir))
    assert "partial_approx_count_distinct" in hll
    gk = plan_of(approx.approx_percentiles(spark, sf_dir))
    assert "partial_percentile_approx" in gk


def test_corpus_clean_single_plan_no_cartesian(spark, sf_dir):
    """The composed curation pipeline must stay one declarative plan
    with no cartesian products and partial/final aggregation — stage
    composition must not defeat the per-operator scale contracts."""
    from simple_map_reduce_ruuner_spark.operators import pipeline

    plan = plan_of(pipeline.corpus_clean(spark, sf_dir))
    assert "CartesianProduct" not in plan
    # the cluster stage is pre-materialized (localCheckpoint inside the
    # iterative loop); the final composed plan joins it against the
    # quality/stats branches — those joins must be hash joins
    assert "BroadcastHashJoin" in plan or "SortMergeJoin" in plan


def test_stratified_sample_is_shuffle_free(spark, sf_dir):
    """Deterministic sampling must stay a pure map-side filter: zero
    exchanges, projection pruned to the three output source columns."""
    from simple_map_reduce_ruuner_spark.operators import pipeline

    plan = plan_of(pipeline.stratified_sample(spark, sf_dir))
    assert "Exchange" not in plan
    read_schema = plan.split("ReadSchema")[1]
    assert "text" not in read_schema  # the wide column must not be read


def test_stratified_sample_builds_without_future_warning(spark, sf_dir):
    """The per-language rate lookup indexes the map with ``map[col]``:
    ``getItem(Column)`` is deprecated and warns (FutureWarning) on every
    build, ahead of its removal from pyspark."""
    import warnings

    from simple_map_reduce_ruuner_spark.operators import pipeline

    with warnings.catch_warnings():
        warnings.simplefilter("error", FutureWarning)
        pipeline.stratified_sample(spark, sf_dir)


def test_whole_stage_codegen_present(spark, sf_dir):
    q = relational.pricing_summary(spark, sf_dir)
    q.collect()  # AQE finalizes the physical plan only on execution
    plan = plan_of(q)
    # '*(n)' prefixes mark whole-stage-codegen spans in the plan string
    assert "*(1)" in plan and "*(2)" in plan, plan
    # and AQE coalesced the post-shuffle partitions
    assert "AQEShuffleRead coalesced" in plan


def test_doc_chunks_is_shuffle_free(spark, sf_dir):
    """Chunking must be scan -> generate -> project in one codegen
    stage: zero exchanges, and only (doc_id, text) read from parquet."""
    from simple_map_reduce_ruuner_spark.operators import curation

    plan = plan_of(curation.doc_chunks(spark, sf_dir))
    assert "Exchange" not in plan
    read_schema = plan.split("ReadSchema")[1][:200]
    assert "lang" not in read_schema and "source" not in read_schema


def test_latest_snapshot_single_partial_final_agg(spark, sf_dir):
    """CDC keep-latest must be ONE partial/final max_by aggregation —
    a single exchange carrying one struct per (task, user), never a
    window sort over all events."""
    from simple_map_reduce_ruuner_spark.operators import curation

    plan = plan_of(curation.latest_events_snapshot(spark, sf_dir))
    assert "partial_max_by" in plan
    assert plan.count("Exchange") == 1
    assert "Window" not in plan


def test_vocab_build_topk_bounded(spark, sf_dir):
    """Vocabulary build must TakeOrdered the top V, never globally sort
    the token-count table; counts run partial/final."""
    from simple_map_reduce_ruuner_spark.operators import training

    plan = plan_of(training.vocab_build(spark, sf_dir))
    assert "TakeOrderedAndProject" in plan
    assert "partial_count" in plan


def test_dataset_split_is_shuffle_free(spark, sf_dir):
    """Split assignment is a pure map-side projection: zero exchanges,
    text column never read."""
    from simple_map_reduce_ruuner_spark.operators import training

    plan = plan_of(training.dataset_split(spark, sf_dir))
    assert "Exchange" not in plan
    assert "text" not in plan.split("ReadSchema")[1]


def test_sequence_pack_single_window_shuffle(spark, sf_dir):
    """Packing is one hash exchange on the partition key plus the window
    sort — the token sizing must happen map-side (no exploded shuffle of
    tokens)."""
    from simple_map_reduce_ruuner_spark.operators import training

    plan = plan_of(training.sequence_pack_bins(spark, sf_dir))
    assert plan.count("Exchange") == 1
    assert "Window" in plan


def test_shipping_priority_topk_pushdown_broadcast(spark, sf_dir):
    """Q3 shape: date/segment filters reach the scans, the filtered
    customer dim is broadcast, and the top-10 is a heap, not a sort."""
    from simple_map_reduce_ruuner_spark.operators import relational3

    plan = plan_of(relational3.shipping_priority(spark, sf_dir))
    assert "TakeOrderedAndProject" in plan
    assert "BroadcastHashJoin" in plan
    assert "PushedFilters" in plan
    assert "Sort " not in plan.split("TakeOrderedAndProject")[0]


def test_orders_above_customer_avg_no_window(spark, sf_dir):
    """Decorrelation is aggregate-then-join: no Window operator, and the
    aggregate runs partial/final."""
    from simple_map_reduce_ruuner_spark.operators import relational3

    plan = plan_of(relational3.orders_above_customer_avg(spark, sf_dir))
    assert "Window" not in plan
    assert "partial_sum" in plan


def test_contamination_check_broadcasts_eval_side(spark, sf_dir):
    """The eval n-gram set is the broadcast build side — the corpus
    shingles are never shuffled for the join."""
    from simple_map_reduce_ruuner_spark.operators import mixing

    plan = plan_of(mixing.contamination_check(spark, sf_dir))
    assert "BroadcastHashJoin" in plan
    assert "SortMergeJoin" not in plan


def test_heavy_hitters_total_is_broadcast_scalar(spark, sf_dir):
    """The corpus-total side is a 1-row broadcast, and no window ever
    runs over the vocabulary table."""
    from simple_map_reduce_ruuner_spark.operators import mixing

    plan = plan_of(mixing.heavy_hitter_tokens(spark, sf_dir))
    assert "Broadcast" in plan
    assert "Window" not in plan
    assert "partial_count" in plan


def test_label_centroids_partial_final_no_window(spark, sf_dir):
    """Centroids are one partial/final aggregation over the exploded
    (label, pos) key — no window, a single exchange."""
    from simple_map_reduce_ruuner_spark.operators import similarity

    plan = plan_of(similarity.label_centroids(spark, sf_dir))
    assert "partial_sum" in plan
    assert "Window" not in plan
    assert plan.count("Exchange") == 1


def test_user_value_history_single_exchange(spark, sf_dir):
    """SCD2 reconstruction is one hash exchange on user_id plus the
    in-partition window sort."""
    from simple_map_reduce_ruuner_spark.operators import curation

    plan = plan_of(curation.user_value_history(spark, sf_dir))
    assert plan.count("Exchange") == 1
    assert "Window" in plan


def test_rolling_hour_range_frame_single_exchange(spark, sf_dir):
    """Trailing-hour range frame: one hash exchange on user_id, window
    sort in-partition."""
    from simple_map_reduce_ruuner_spark.operators import timeseries

    plan = plan_of(timeseries.rolling_hour_value(spark, sf_dir))
    assert plan.count("Exchange") == 1
    assert "Window" in plan


def test_salted_word_count_two_phase(spark, sf_dir):
    """The salted aggregate is two-phase by construction: (word, salt)
    exchange then word exchange."""
    from simple_map_reduce_ruuner_spark.operators import wordcount

    plan = plan_of(wordcount.salted_word_count(spark, sf_dir))
    assert plan.count("Exchange") == 2


def test_sessionize_single_exchange_shared_sort(spark, sf_dir):
    """Both window passes (lag flag, running sum) share one user_id
    exchange and sort order."""
    from simple_map_reduce_ruuner_spark.operators import timeseries

    plan = plan_of(timeseries.sessionize_events(spark, sf_dir))
    assert plan.count("Exchange hashpartitioning") == 1
    assert "Window" in plan


def test_pagerank_partial_final_no_cartesian(spark, sf_dir):
    """Each PageRank iteration's contribution sum is a partial/final
    aggregation; the only nested-loop joins are the broadcast 1-row
    node-count attach."""
    from simple_map_reduce_ruuner_spark.operators import graph

    plan = plan_of(graph.pagerank_trading(spark, sf_dir))
    assert "partial_sum" in plan
    assert "CartesianProduct" not in plan


def test_quality_deciles_broadcast_bounds_no_global_sort(spark, sf_dir):
    """Decile bounds are a 1-row broadcast; the corpus is never globally
    sorted or windowed."""
    from simple_map_reduce_ruuner_spark.operators import curation

    plan = plan_of(curation.quality_deciles(spark, sf_dir))
    assert "Broadcast" in plan
    assert "Window" not in plan
    assert "Sort " not in plan


def test_embedding_outliers_broadcast_centroids(spark, sf_dir):
    """Centroid arrays are a label-count-sized broadcast; the embedding
    table is never shuffled for the scoring join."""
    from simple_map_reduce_ruuner_spark.operators import similarity

    plan = plan_of(similarity.embedding_outliers(spark, sf_dir))
    assert "BroadcastHashJoin" in plan
    assert "SortMergeJoin" not in plan


def test_runtime_bloom_filter_injected_for_selective_join(spark, sf_dir):
    """With broadcast off (both sides 'big'), Spark injects a runtime
    bloom filter from the selective build side into the probe-side scan
    (might_contain in the optimized plan). Defaults only trigger at
    cluster scale (10 GB application side), so the thresholds are scaled
    down to the fixtures — the mechanism, not the threshold, is what
    this pins for the 100 TB case."""
    import pyspark.sql.functions as F

    confs = {
        "spark.sql.autoBroadcastJoinThreshold": "-1",
        "spark.sql.optimizer.runtime.bloomFilter.applicationSideScanSizeThreshold": "0",
        "spark.sql.optimizer.runtime.bloomFilter.creationSideThreshold": "100MB",
    }
    saved = {k: spark.conf.get(k) for k in confs}
    try:
        for k, v in confs.items():
            spark.conf.set(k, v)
        li = load_table(spark, sf_dir, "lineitem")
        orders = load_table(spark, sf_dir, "orders").where(
            F.col("o_orderpriority") == "1-URGENT"
        )
        j = (
            li.join(orders, li.l_orderkey == orders.o_orderkey)
            .groupBy("o_orderpriority")
            .count()
        )
        plan = j._jdf.queryExecution().optimizedPlan().toString()
        assert "might_contain" in plan.lower(), plan[:1500]
    finally:
        for k, v in saved.items():
            spark.conf.set(k, v)


def test_volume_shipping_one_fact_shuffle_join(spark, sf_dir):
    """Q7 shape: lineitem ⋈ orders is the only non-broadcast join; both
    nation lookups ride along as broadcasts, and there is no cartesian."""
    from simple_map_reduce_ruuner_spark.operators import relational6

    plan = plan_of(relational6.volume_shipping(spark, sf_dir))
    assert "CartesianProduct" not in plan
    assert "BroadcastNestedLoopJoin" not in plan
    assert plan.count("BroadcastHashJoin") >= 2
    n_smj = plan.count("SortMergeJoin")
    n_shj = plan.count("ShuffledHashJoin")
    assert n_smj + n_shj <= 1, plan[:2000]


def test_large_quantity_orders_aggregates_before_joining(spark, sf_dir):
    """Q18 shape: the HAVING aggregate runs on lineitem FIRST (partial→
    final), and the survivor set joins orders/customer via broadcast —
    the fact table is never shuffled against a dimension."""
    from simple_map_reduce_ruuner_spark.operators import relational6

    plan = plan_of(relational6.large_quantity_orders(spark, sf_dir))
    assert "partial_sum" in plan
    assert plan.count("BroadcastHashJoin") >= 2
    assert "SortMergeJoin" not in plan and "ShuffledHashJoin" not in plan


def test_part_supplier_counts_anti_join_is_broadcast(spark, sf_dir):
    """Q16 shape: the NOT-IN exclusion runs as a broadcast LEFT ANTI
    join; the distinct-count aggregate still combines map-side."""
    from simple_map_reduce_ruuner_spark.operators import relational6

    plan = plan_of(relational6.part_supplier_counts(spark, sf_dir))
    assert "BroadcastHashJoin" in plan and "LeftAnti" in plan
    assert "HashAggregate" in plan
    assert "CartesianProduct" not in plan


def test_idle_rich_customers_scalar_threshold_broadcast(spark, sf_dir):
    """Q22 shape: the 1-row average-balance aggregate broadcasts (a
    nested-loop join over one row is free); the urgent-orders anti join
    is also broadcast, with the priority filter pushed to the scan."""
    from simple_map_reduce_ruuner_spark.operators import relational6

    plan = plan_of(relational6.idle_rich_customers(spark, sf_dir))
    assert "LeftAnti" in plan
    assert "PushedFilters" in plan and "o_orderpriority" in plan
    assert "SortMergeJoin" not in plan and "ShuffledHashJoin" not in plan


def test_regional_market_share_single_fact_pass(spark, sf_dir):
    """Q8 shape: the share ratio comes from conditional aggregates over
    ONE pass — exactly one lineitem scan in the plan."""
    from simple_map_reduce_ruuner_spark.operators import relational6

    plan = plan_of(relational6.regional_market_share(spark, sf_dir))
    scans = [ln for ln in plan.splitlines() if "FileScan" in ln]
    assert sum("l_extendedprice" in ln for ln in scans) == 1, scans
    assert len(scans) == 5  # lineitem, orders, supplier, nation, region — once each
    assert "CartesianProduct" not in plan


def test_small_quantity_revenue_window_decorrelation(spark, sf_dir):
    """Q17 shape: the per-part average is a window aggregate over ONE
    lineitem exchange — no second fact scan, no self-join."""
    from simple_map_reduce_ruuner_spark.operators import relational7

    plan = plan_of(relational7.small_quantity_order_revenue(spark, sf_dir))
    scans = [ln for ln in plan.splitlines() if "FileScan" in ln]
    assert len(scans) == 1, scans
    assert "Window" in plan
    assert plan.count("Exchange") == 2  # partkey window + 1-row final agg


def test_monthly_top_supplier_two_level_agg_no_window(spark, sf_dir):
    """Q15 shape: argmax via max(struct) — two hash aggregates, no rank
    window, no join-back, single fact scan."""
    from simple_map_reduce_ruuner_spark.operators import relational7

    plan = plan_of(relational7.monthly_top_supplier(spark, sf_dir))
    assert "Window" not in plan
    assert "Join" not in plan
    assert "partial_max" in plan and "partial_sum" in plan
    assert plan.count("Exchange") == 2


def test_lone_late_suppliers_no_expand_no_self_join(spark, sf_dir):
    """Q21 shape: the EXISTS/NOT-EXISTS pair runs as two stacked
    aggregates — no Expand (the multi-countDistinct trap that triples
    shuffle volume), exactly one lineitem scan, supplier broadcast."""
    from simple_map_reduce_ruuner_spark.operators import relational7

    plan = plan_of(relational7.lone_late_suppliers(spark, sf_dir))
    assert "Expand" not in plan
    scans = [ln for ln in plan.splitlines() if "FileScan" in ln]
    assert sum("l_suppkey" in ln for ln in scans) == 1, scans
    assert "BroadcastHashJoin" in plan
    assert "CartesianProduct" not in plan


def test_table_profile_one_scan_two_level_agg(spark, sf_dir):
    """Profiling report: one scan of orders feeds every column's
    metrics; the distinct count is the two-level rewrite, so no Expand
    and exactly two exchanges (per-value, then per-column)."""
    from simple_map_reduce_ruuner_spark.operators import profiling

    plan = plan_of(profiling.table_profile(spark, sf_dir))
    assert plan.count("FileScan") == 1
    assert "Expand" not in plan
    assert plan.count("Exchange") == 2


def test_user_type_islands_single_shuffle_two_sorts(spark, sf_dir):
    """Gaps-and-islands: hash(user_id) satisfies both windows'
    clustering, so the two row_numbers share ONE exchange (two
    in-partition sorts, no second shuffle of the events)."""
    from simple_map_reduce_ruuner_spark.operators import profiling

    plan = plan_of(profiling.user_type_islands(spark, sf_dir))
    assert plan.count("Window") == 2
    # one shuffle for the windows + the run-aggregate's final exchange
    assert plan.count("Exchange hashpartitioning") <= 2, plan[:1500]


def test_forecast_revenue_all_predicates_pushed(spark, sf_dir):
    """Q6 shape: the registry's purest I/O query — every predicate
    (ship-date range, discount band, quantity bound) reaches the
    parquet reader, the ReadSchema is minimal, and the only exchange
    is the single-row final aggregate."""
    from simple_map_reduce_ruuner_spark.operators import relational8

    q = relational8.forecast_revenue_delta(spark, sf_dir)
    plan = plan_of(q)
    scan = next(ln for ln in plan.splitlines() if "FileScan" in ln)
    # toString truncates the PushedFilters list — assert via the
    # untruncated formatted explain instead.
    fmt = spark._jvm.PythonSQLUtils.explainString(
        q._jdf.queryExecution(), "formatted"
    )
    pushed = fmt.split("PushedFilters:")[1].split("\n")[0]
    assert "GreaterThanOrEqual(l_shipdate" in pushed
    assert "LessThan(l_shipdate" in pushed
    assert "GreaterThanOrEqual(l_discount" in pushed
    assert "LessThan(l_quantity" in pushed
    assert "ReadSchema" in scan and "l_tax" not in scan
    assert plan.count("Exchange") == 1
    assert "Join" not in plan


def test_min_cost_supplier_argmin_no_join_back(spark, sf_dir):
    """Q2 shape: the cheapest-supplier argmin is min(struct) over the
    (part, supplier) aggregate — no rank window, no fact join-back,
    one fact scan, dims broadcast."""
    from simple_map_reduce_ruuner_spark.operators import relational8

    plan = plan_of(relational8.regional_min_cost_supplier(spark, sf_dir))
    assert "Window" not in plan
    scans = [ln for ln in plan.splitlines() if "FileScan" in ln]
    assert sum("lineitem" in ln for ln in scans) == 1, scans
    assert "BroadcastHashJoin" in plan
    assert "SortMergeJoin" not in plan and "CartesianProduct" not in plan


def test_late_counts_semi_join_with_residual(spark, sf_dir):
    """Q4 shape: the correlated EXISTS is a LeftSemi hash join — the
    datediff runs as a join residual, never as a post-join filter over
    duplicated orders (no distinct/aggregate dedup step)."""
    from simple_map_reduce_ruuner_spark.operators import relational8

    plan = plan_of(relational8.order_priority_late_counts(spark, sf_dir))
    assert "LeftSemi" in plan
    # quarter filter pushed to the orders scan
    orders_scan = next(
        ln for ln in plan.splitlines() if "FileScan" in ln and "orders" in ln
    )
    assert "GreaterThanOrEqual(o_orderdate" in orders_scan
    # priority groups only: one distinct-free aggregate pair
    assert plan.count("HashAggregate") == 2


def test_returned_items_topk_bounded(spark, sf_dir):
    """Q10 shape: top-k is TakeOrderedAndProject (never a global sort);
    the return-flag filter reaches the fact scan; nation broadcasts."""
    from simple_map_reduce_ruuner_spark.operators import relational8

    plan = plan_of(relational8.returned_item_losses(spark, sf_dir))
    assert "TakeOrderedAndProject" in plan
    fact_scan = next(
        ln for ln in plan.splitlines() if "FileScan" in ln and "lineitem" in ln
    )
    assert "EqualTo(l_returnflag,R)" in fact_scan
    assert "BroadcastHashJoin" in plan


def test_important_part_value_reuses_fact_exchange(spark, sf_dir):
    """Q11 shape: the scalar total aggregates the per-part aggregate —
    at runtime AQE reuses the l_partkey exchange, so the fact is
    scanned and shuffled ONCE, and the total joins back as a 1-row
    broadcast (BNLJ over a single row is constant work)."""
    from simple_map_reduce_ruuner_spark.operators import relational8

    q = relational8.important_part_value(spark, sf_dir)
    q.collect()  # AQE finalizes the physical plan only on execution
    plan = plan_of(q)
    assert "ReusedExchange" in plan
    assert "BroadcastNestedLoopJoin" in plan  # 1-row build side
    assert "Window" not in plan


def test_special_brand_revenue_stays_equi_join(spark, sf_dir):
    """Q19 shape: the OR-of-ANDs predicate must NOT degrade the join to
    a nested loop — the part-only residue pre-filters the broadcast
    build side and the disjunction evaluates as an equi-join residual;
    the shared quantity bound reaches the fact scan."""
    from simple_map_reduce_ruuner_spark.operators import relational8

    plan = plan_of(relational8.special_brand_revenue(spark, sf_dir))
    assert "BroadcastHashJoin" in plan
    assert "BroadcastNestedLoopJoin" not in plan
    assert "CartesianProduct" not in plan
    fact_scan = next(
        ln for ln in plan.splitlines() if "FileScan" in ln and "lineitem" in ln
    )
    assert "LessThanOrEqual(l_quantity" in fact_scan
    part_scan = next(
        ln for ln in plan.splitlines() if "FileScan" in ln and "part" in ln
    )
    assert "In(p_brand" in part_scan or "Or(" in part_scan


def test_red_part_heavy_suppliers_broadcast_chain(spark, sf_dir):
    """Q20 shape: the part-family filter broadcasts into the
    year-filtered fact scan; one fact exchange (l_suppkey aggregate);
    the HAVING bar runs before the supplier-name broadcast join."""
    from simple_map_reduce_ruuner_spark.operators import relational8

    plan = plan_of(relational8.red_part_heavy_suppliers(spark, sf_dir))
    assert plan.count("BroadcastHashJoin") == 2
    fact_scan = next(
        ln for ln in plan.splitlines() if "FileScan" in ln and "lineitem" in ln
    )
    assert "GreaterThanOrEqual(l_shipdate" in fact_scan
    part_scan = next(
        ln for ln in plan.splitlines() if "FileScan" in ln and "part.parquet" in ln
    )
    assert "StringStartsWith(p_name" in part_scan


def test_behavior_batch_single_user_exchange(spark, sf_dir):
    """Behavioral analytics: each query's per-user context is a window
    over ONE hash(user_id) exchange of the events scan (no firsts
    aggregate + join-back, no self-joins); the follow-up aggregate adds
    at most one more dimension-bounded exchange — and the TWAP's
    groupBy(user_id) reuses the window's partitioning outright."""
    from simple_map_reduce_ruuner_spark.operators import behavior

    for fn, max_exchanges in [
        (behavior.cohort_retention, 2),
        (behavior.event_transitions, 2),
        (behavior.time_weighted_value, 1),
    ]:
        plan = plan_of(fn(spark, sf_dir))
        assert plan.count("FileScan") == 1, fn.__name__
        assert "Join" not in plan, fn.__name__
        assert (
            plan.count("Exchange hashpartitioning") <= max_exchanges
        ), (fn.__name__, plan[:1200])


def test_kmeans_centroids_broadcast_no_cartesian(spark, sf_dir):
    """Clustering: every centroid side is a BROADCAST build (K × dim
    longs) — assignment is a map-side pass over the vectors, never a
    shuffled or unbroadcast cartesian; the SemDeDup pair join is keyed
    on the cluster id, not all-pairs."""
    from simple_map_reduce_ruuner_spark.operators import clustering

    for fn in (clustering.kmeans_clusters, clustering.semdedup_pairs):
        plan = plan_of(fn(spark, sf_dir))
        assert "CartesianProduct" not in plan, fn.__name__
        assert "Broadcast" in plan, fn.__name__
    pair_plan = plan_of(clustering.semdedup_pairs(spark, sf_dir))
    assert "cid" in pair_plan  # cluster-keyed join, not cross


def test_cotrading_projection_bounded_topk(spark, sf_dir):
    """Bipartite projection: the top-k report never sorts the full pair
    set (TakeOrderedAndProject), the degree window and pair join share
    the customer-key clustering, and the triangle count's wedge joins
    run over the bounded (broadcastable) edge list."""
    from simple_map_reduce_ruuner_spark.operators import graph

    pairs_plan = plan_of(graph.supplier_cotrading_pairs(spark, sf_dir))
    assert "TakeOrderedAndProject" in pairs_plan
    assert "CartesianProduct" not in pairs_plan
    tri_plan = plan_of(graph.cotrading_triangles(spark, sf_dir))
    assert "CartesianProduct" not in tri_plan


def test_rank_stats_rank_post_aggregate_only(spark, sf_dir):
    """Rank statistics: the fact aggregates once on the customer key
    and every ranking window runs over the POST-AGGREGATE rows — one
    orders scan, no joins, no fact-sized sort."""
    from simple_map_reduce_ruuner_spark.operators import rankstats

    for fn in (
        rankstats.spearman_spend_orders,
        rankstats.gini_spend_ppm,
        rankstats.spearman_avg_rank,
    ):
        plan = plan_of(fn(spark, sf_dir))
        assert plan.count("FileScan") == 1, fn.__name__
        assert "Join" not in plan, fn.__name__
        # the customer aggregate must sit BETWEEN the Window and the
        # scan (deeper operators print later): if ranking ever ran over
        # raw fact rows, every HashAggregate would move above the
        # Window and this rindex comparison would flip
        assert plan.rindex("HashAggregate") > plan.index("Window"), fn.__name__


# A Python operator node at the start of a plan-tree line (after the
# "+- " / ":- " prefix and an optional codegen "*(n) " stage marker).
PYTHON_OP = re.compile(
    r"^[\s:+\-|]*(?:\*\(\d+\) )?"
    r"(\w*In(?:Pandas|Arrow)|(?:Arrow|Batch)EvalPython\w*)\b"
)

# The codec/container round trips: encode + decode in ONE Python node.
CODEC_QUERIES = {
    "decode_audio_mulaw",
    "decode_audio_wav",
    "decode_image_gif",
    "decode_image_jpeg",
    "decode_image_png",
    "decode_image_ppm",
    "decode_image_tga",
    "decode_video_avi",
    "gzip_member_stats",
    "sqlite_table_stats",
    "tar_shard_members",
    "xz_block_stats",
    "zip_shard_members",
}

# Python operators per query in the executed plan (sf0.001); every
# query not listed has none. A query may drop below its count, never
# rise above it.
PYTHON_NODES = {
    "ann_recall_report": 2,
    "ann_topk_ivf": 2,
    "char_count": 1,
    "cotrading_triangles": 1,
    "decode_audio_mulaw": 1,
    "decode_audio_wav": 1,
    "decode_image_gif": 1,
    "decode_image_jpeg": 1,
    "decode_image_png": 1,
    "decode_image_ppm": 1,
    "decode_image_tga": 1,
    "decode_video_avi": 1,
    "embedding_quantize": 1,
    "ewma_value": 1,
    "frame_sample": 1,
    "gzip_member_stats": 1,
    "kmeans_clusters": 2,
    "neardup_embedding": 1,
    "neardup_embedding_lsh": 1,
    "neardup_embedding_lsh_auto": 2,
    "order_gaps": 1,
    "payload_byte_stats": 1,
    "semdedup_pairs": 3,
    "semdedup_pairs_auto": 3,
    "sqlite_table_stats": 1,
    "tar_shard_members": 1,
    "throttle_suppress": 1,
    "user_order_context": 1,
    "xz_block_stats": 1,
    "zip_shard_members": 1,
}


def test_no_row_at_a_time_python_udfs(spark, sf_dir):
    """Registry-wide invariants on how Python reaches plans:

    - only through Arrow batches (ArrowEvalPython / *InPandas) —
      BatchEvalPython (row-at-a-time pickling, the 10-100× slow path)
      must never appear;
    - never as two adjacent Python operators: each one is a full
      JVM<->Python round of its input, so a Python node feeding another
      must be one kernel instead;
    - each codec round trip is exactly one Python operator;
    - no query has more Python operators than ``PYTHON_NODES`` pins."""
    from simple_map_reduce_ruuner_spark.registry import all_queries

    row_at_a_time, adjacent, codec_nodes, gained = [], [], {}, {}
    for name, q in all_queries().items():
        plan = plan_of(q.fn(spark, sf_dir))
        ops = [PYTHON_OP.match(line) for line in plan.splitlines()]
        if "BatchEvalPython" in plan:
            row_at_a_time.append(name)
        # a Python operator is unary, so the next plan line is its child
        if any(a and b for a, b in zip(ops, ops[1:])):
            adjacent.append(name)
        if name in CODEC_QUERIES:
            codec_nodes[name] = [op[1] for op in ops if op]
        n_python = sum(1 for op in ops if op)
        if n_python > PYTHON_NODES.get(name, 0):
            gained[name] = n_python
    assert not row_at_a_time, row_at_a_time
    assert not adjacent, adjacent
    assert not gained, gained
    assert codec_nodes == {name: ["MapInPandas"] for name in CODEC_QUERIES}


def test_analyze_statistics_drive_cbo_estimates(spark, sf_dir):
    """Catalog statistics → optimizer: ANALYZE TABLE populates row and
    column stats, and with CBO enabled the optimizer's cardinality
    estimates use them — the exact row count on a bare scan, and a
    column-stats selectivity estimate (< full count) under an equality
    filter. At 100 TB this is what keeps join-order and broadcast
    decisions from flying blind on raw file sizes."""
    spark.sql("DROP TABLE IF EXISTS smrr_cbo_dim")
    load_table(spark, sf_dir, "nation").write.mode("overwrite").saveAsTable(
        "smrr_cbo_dim"
    )
    prev = spark.conf.get("spark.sql.cbo.enabled", "false")
    try:
        spark.sql(
            "ANALYZE TABLE smrr_cbo_dim COMPUTE STATISTICS FOR ALL COLUMNS"
        )
        spark.conf.set("spark.sql.cbo.enabled", "true")

        def row_estimate(df):
            opt = df._jdf.queryExecution().optimizedPlan()
            rc = opt.stats().rowCount()
            assert rc.isDefined(), "CBO produced no rowCount estimate"
            return int(str(rc.get()))

        n = row_estimate(spark.table("smrr_cbo_dim"))
        assert n == 25  # exact analyzed row count, not a size guess
        filtered = spark.table("smrr_cbo_dim").where(F.col("n_regionkey") == 0)
        assert 0 < row_estimate(filtered) < n  # column-stat selectivity
    finally:
        spark.conf.set("spark.sql.cbo.enabled", prev)
        spark.sql("DROP TABLE IF EXISTS smrr_cbo_dim")
