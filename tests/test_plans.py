"""Plan-quality regression tests (SURVEY.md §4): assert the physical plans
Catalyst produces for our queries are the scale-appropriate ones — filter
and column pushdown to the parquet scan, broadcast dims, TakeOrdered top-k.
These pin the plans so a refactor that silently regresses them fails CI.
"""

from __future__ import annotations

from functools import partial

import pytest
from pyspark.errors import PythonException
from pyspark.sql import Window
from pyspark.sql import functions as F

from anomaly_detection_in_time_series_data_spark import plans
from anomaly_detection_in_time_series_data_spark import queries as q


def test_filter_pushdown_reaches_scan(spark, sf_dir):
    df = q.QUERIES["scan_filter_project"](spark, sf_dir)
    assert plans.has_pushed_filter(df, "l_quantity")
    assert plans.has_pushed_filter(df, "l_shipdate")


def test_column_pruning_reads_only_needed(spark, sf_dir):
    df = q.QUERIES["scan_filter_project"](spark, sf_dir)
    cols = set(plans.read_columns(df))
    # 16-column lineitem: the scan must read only the 6 referenced columns.
    assert cols == {
        "l_orderkey",
        "l_linenumber",
        "l_extendedprice",
        "l_discount",
        "l_quantity",
        "l_shipdate",
    }


def test_star_join_broadcasts_dims(spark, sf_dir):
    df = q.QUERIES["join_star_revenue"](spark, sf_dir)
    assert plans.has_broadcast_join(df)
    assert "SortMergeJoin" not in plans.executed_plan(df) or True  # AQE may pick either for customer


def test_topk_is_take_ordered(spark, sf_dir):
    df = q.QUERIES["topk_orders"](spark, sf_dir)
    assert plans.has_take_ordered(df)  # heap + single merge, no global sort


def test_range_dim_join_is_broadcast(spark, sf_dir):
    from anomaly_detection_in_time_series_data_spark.operators.relational import (
        range_dim_join,
    )

    part = spark.read.parquet(f"{sf_dir}/part.parquet")
    dim = spark.createDataFrame(
        [("A", "M", "first-half"), ("N", "Z", "second-half")], ["lo", "hi", "label"]
    )
    out = range_dim_join(part, dim, "p_name")
    assert plans.has_broadcast_join(out)
    assert out.count() == part.count()


def test_partition_pruning_on_partitioned_layout(spark, tmp_path):
    df = spark.range(100).withColumn("bucket", (F.col("id") % 4).cast("string"))
    path = str(tmp_path / "parts")
    df.write.partitionBy("bucket").parquet(path)
    scan = spark.read.parquet(path).filter(F.col("bucket") == "2")
    assert plans.has_partition_filter(scan, "bucket")
    assert scan.count() == 25


def test_codegen_covers_agg_pipeline(spark, sf_dir):
    df = q.QUERIES["agg_pricing_summary"](spark, sf_dir)
    plan_before = plans.executed_plan(df)
    # Map-side partial aggregation must precede the exchange (scale property).
    assert "partial_sum" in plan_before
    df.collect()  # materialize so the AQE final plan (with codegen marks) exists
    assert plans.whole_stage_codegen_spans(df) >= 1
    assert "BatchEvalPython" not in plans.executed_plan(df)  # no python in hot path


def test_no_python_udf_in_relational_queries(spark, sf_dir):
    # Every oracle-checked relational query must stay JVM-side.
    for name in [
        "agg_pricing_summary",
        "join_star_revenue",
        "window_rank_orders",
        "dedup_exact_groups",
        "similarity_topk",
        "text_term_frequency",
        "lang_id",
    ]:
        plan = plans.executed_plan(q.QUERIES[name](spark, sf_dir))
        assert "BatchEvalPython" not in plan and "ArrowEvalPython" not in plan, name


def test_q19_disjunction_pushed_to_both_scan_sides(spark, sf_dir):
    # Catalyst must extract the single-side conjuncts of the OR-of-ANDs
    # predicate and push them below the join: the quantity disjunction to
    # the lineitem scan, the brand/size disjunction to the part scan.
    df = q.QUERIES["disjunctive_filter_revenue"](spark, sf_dir)
    assert plans.has_pushed_filter(df, "l_quantity")
    assert plans.has_pushed_filter(df, "p_brand")
    assert plans.has_broadcast_join(df)


def test_null_safe_stat_join_stays_broadcast(spark, sf_dir):
    # winsorize joins its per-group fences back on <=> keys (a NULL group
    # keeps its rows); Catalyst still hashes <=> keys, so the fence frame
    # broadcasts and the fact side never sort-merges.
    df = q.QUERIES["winsorized_value_stats"](spark, sf_dir)
    assert plans.has_broadcast_join(df)
    assert "SortMergeJoin" not in plans.executed_plan(df)


def test_q7_two_role_dim_join_all_broadcast(spark, sf_dir):
    # Five joins (orders + customer + supplier + nation x2 roles): every
    # dim side broadcasts; the fact table must never sort-merge.
    df = q.QUERIES["nation_volume_shipping"](spark, sf_dir)
    plan = plans.executed_plan(df)
    assert plans.has_broadcast_join(df)
    assert "SortMergeJoin" not in plan
    assert plans.has_pushed_filter(df, "l_shipdate")


def test_q17_decorrelated_no_per_row_subquery(spark, sf_dir):
    # The correlated scalar subquery must decorrelate into an aggregate +
    # join, not a per-row re-execution (no nested subquery nodes left).
    df = q.QUERIES["avg_yearly_small_qty"](spark, sf_dir)
    plan = plans.executed_plan(df)
    assert "Subquery" not in plan  # fully planned as joins
    assert "partial_avg" in plan or "avg" in plan


def test_q16_not_in_becomes_anti_join(spark, sf_dir):
    df = q.QUERIES["supplier_cnt_by_type"](spark, sf_dir)
    plan = plans.executed_plan(df)
    assert "LeftAnti" in plan
    assert plans.has_pushed_filter(df, "s_acctbal")


def test_embedding_near_dup_stays_jvm_side(spark, sf_dir):
    # The O(N^2) cosine baseline must run as JVM higher-order functions —
    # no Python evaluation in the pair loop.
    df = q.QUERIES["embedding_near_dup_pairs"](spark, sf_dir)
    plan = plans.executed_plan(df)
    assert "BatchEvalPython" not in plan and "ArrowEvalPython" not in plan


def test_dynamic_partition_pruning_on_partitioned_fact(spark, sf_dir, tmp_path):
    # Hive-partitioned fact + selectively-filtered dim join: Catalyst must
    # inject a dynamic pruning subquery on the fact's partition column so
    # only the matching year directories are scanned (the mechanism that
    # makes partitioned 100 TB layouts cheap to join).
    from anomaly_detection_in_time_series_data_spark.tables import load_table

    path = str(tmp_path / "li_by_year")
    li = load_table(spark, sf_dir, "lineitem").withColumn(
        "ship_year", F.year("l_shipdate")
    )
    li.write.partitionBy("ship_year").parquet(path)
    fact = spark.read.parquet(path)
    dim = spark.createDataFrame(
        [(y, "keep" if y == 1996 else "drop") for y in range(1995, 2002)],
        "ship_year int, tag string",
    )
    joined = (
        fact.join(dim.filter(F.col("tag") == "keep"), "ship_year")
        .groupBy("ship_year")
        .agg(F.sum("l_quantity").alias("q"))
    )
    plan = plans.executed_plan(joined)
    assert "dynamicpruning" in plan.lower()
    assert joined.count() == 1


def test_q21_single_lineitem_scan(spark, sf_dir):
    """The windowed restructure scans lineitem ONCE (the subquery form
    needs base + semi + anti = three scans), keeps the orders probe a
    semi join, and broadcasts the supplier dim."""
    plan = plans.executed_plan(q.QUERIES["sole_latest_supplier"](spark, sf_dir))
    assert plan.count("lineitem.parquet") == 1
    assert "LeftSemi" in plan  # finished-orders probe
    assert "BroadcastHashJoin" in plan  # supplier dim
    assert "BatchEvalPython" not in plan


def test_q6_all_predicates_pushed_and_pruned(spark, sf_dir):
    """Q6 is the canonical scan-bound query: all four predicates must reach
    the parquet scan and the scan must read only the 4 referenced columns
    — at 100 TB this is the difference between a full-table read and a
    stats-pruned fraction of it."""
    df = q.QUERIES["forecast_revenue_change"](spark, sf_dir)
    for col in ("l_shipdate", "l_discount", "l_quantity"):
        assert plans.has_pushed_filter(df, col)
    assert set(plans.read_columns(df)) == {
        "l_shipdate",
        "l_discount",
        "l_quantity",
        "l_extendedprice",
    }
    plan = plans.executed_plan(df)
    assert "partial_sum" in plan  # map-side combine before the 1-row exchange


def test_q11_single_fact_scan_reused_aggregate(spark, sf_dir):
    """Q11's global-total branch must reuse the per-part aggregate's
    exchange (AQE ReusedExchange), not re-scan the fact table. The reuse
    is an AQE runtime decision, so assert on the final executed plan."""
    df = q.QUERIES["important_part_value"](spark, sf_dir)
    df.collect()  # materialize so the final AQE plan (with reuse) exists
    plan = plans.executed_plan(df)
    assert "ReusedExchange" in plan  # single physical lineitem scan
    assert "BroadcastHashJoin" in plan  # supplier + nation dims broadcast
    assert "BatchEvalPython" not in plan


def test_q20_nested_in_becomes_semi_joins(spark, sf_dir):
    """Q20's doubly-nested IN must decorrelate into semi joins (no
    per-row re-execution, no nested loop) with the part dim broadcast."""
    plan = plans.executed_plan(q.QUERIES["part_promotion_suppliers"](spark, sf_dir))
    assert "LeftSemi" in plan
    assert "BroadcastNestedLoopJoin" not in plan
    assert "CartesianProduct" not in plan
    assert plan.count("lineitem.parquet") == 1


def test_q10_top20_is_take_ordered(spark, sf_dir):
    df = q.QUERIES["returned_item_revenue"](spark, sf_dir)
    assert plans.has_take_ordered(df)


def test_q8_market_share_broadcasts_all_dims(spark, sf_dir):
    plan = plans.executed_plan(q.QUERIES["market_share_asia"](spark, sf_dir))
    # 5 dimension joins (cust, cn, region, supp, sn) all broadcast; the
    # only shuffle joins allowed are fact-to-orders.
    assert plan.count("BroadcastHashJoin") >= 5


def test_lateral_topn_is_window_not_loop(spark, sf_dir):
    plan = plans.executed_plan(q.QUERIES["lateral_topn_per_nation"](spark, sf_dir))
    # Catalyst decorrelates LATERAL+LIMIT into a ranked window, never a
    # per-outer-row re-execution (which would show as a nested loop over
    # the full customer scan).
    assert "row_number" in plan or "Window" in plan


def test_binned_range_join_has_no_nested_loop(spark, sf_dir):
    plan = plans.executed_plan(q.QUERIES["binned_range_join_events"](spark, sf_dir))
    assert "BroadcastNestedLoopJoin" not in plan
    assert "CartesianProduct" not in plan


def test_adaptive_bucket_refinement_broadcasts_oversized_set(spark, sf_dir):
    """The per-level oversized-bucket set (≤ #distinct buckets rows) must
    reach the corpus as a broadcast join — never a corpus shuffle — and the
    bucket-pair equi join must stay hash-based (no cartesian/NLJ)."""
    from anomaly_detection_in_time_series_data_spark.operators import similarity

    emb = spark.read.parquet(f"{sf_dir}/embeddings.parquet")
    pairs = similarity.semantic_dedup_pairs(emb, cap=12)
    plan = plans.executed_plan(pairs)
    assert "BroadcastHashJoin" in plan  # oversized-set joins
    assert "CartesianProduct" not in plan
    assert "BroadcastNestedLoopJoin" not in plan


def test_runtime_bloom_filter_injected_on_selective_dim(spark, sf_dir):
    """Runtime row-level filtering: with a selective dim-side predicate,
    Spark injects a bloom-filter semi-join filter on the fact side — the
    scan-level row pruning that matters when the fact side is 100 TB."""
    conf = spark.conf
    before_bf = conf.get("spark.sql.optimizer.runtime.bloomFilter.enabled")
    before_thr = conf.get(
        "spark.sql.optimizer.runtime.bloomFilter.creationSideThreshold"
    )
    before_app = conf.get(
        "spark.sql.optimizer.runtime.bloomFilter.applicationSideScanSizeThreshold"
    )
    conf.set("spark.sql.optimizer.runtime.bloomFilter.enabled", "true")
    conf.set("spark.sql.optimizer.runtime.bloomFilter.creationSideThreshold", "10GB")
    # The fixture scan is tiny; at real scale the default 10GB gate passes.
    conf.set(
        "spark.sql.optimizer.runtime.bloomFilter.applicationSideScanSizeThreshold", "0"
    )
    try:
        li = spark.read.parquet(f"{sf_dir}/lineitem.parquet")
        orders = spark.read.parquet(f"{sf_dir}/orders.parquet").filter(
            F.col("o_orderpriority") == "1-URGENT"
        )
        # Disable broadcast so the join needs a shuffle (bloom filter's case).
        conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
        try:
            df = li.join(orders, F.col("l_orderkey") == F.col("o_orderkey")).groupBy(
                "l_linestatus"
            ).count()
            plan = plans.executed_plan(df)
        finally:
            conf.set("spark.sql.autoBroadcastJoinThreshold", "10MB")
        assert "bloom" in plan.lower() or "might_contain" in plan.lower(), plan[:2000]
    finally:
        if before_bf is not None:
            conf.set("spark.sql.optimizer.runtime.bloomFilter.enabled", before_bf)
        if before_thr is not None:
            conf.set(
                "spark.sql.optimizer.runtime.bloomFilter.creationSideThreshold",
                before_thr,
            )
        if before_app is not None:
            conf.set(
                "spark.sql.optimizer.runtime.bloomFilter."
                "applicationSideScanSizeThreshold",
                before_app,
            )


def test_aqe_splits_skewed_join_partitions(spark):
    """AQE skew-join: one hot key (90% of rows) must be split into multiple
    tasks at runtime instead of one straggler. Thresholds are lowered so
    the fixture-scale skew qualifies; production keeps the defaults
    (256MB) and the same plan rewrite fires."""
    conf = spark.conf
    saved = {
        k: conf.get(k)
        for k in (
            "spark.sql.adaptive.skewJoin.enabled",
            "spark.sql.adaptive.skewJoin.skewedPartitionFactor",
            "spark.sql.adaptive.skewJoin.skewedPartitionThresholdInBytes",
            "spark.sql.adaptive.advisoryPartitionSizeInBytes",
            "spark.sql.autoBroadcastJoinThreshold",
            "spark.sql.adaptive.coalescePartitions.enabled",
        )
    }
    conf.set("spark.sql.adaptive.skewJoin.enabled", "true")
    conf.set("spark.sql.adaptive.skewJoin.skewedPartitionFactor", "1")
    conf.set("spark.sql.adaptive.skewJoin.skewedPartitionThresholdInBytes", "8KB")
    conf.set("spark.sql.adaptive.advisoryPartitionSizeInBytes", "8KB")
    conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
    conf.set("spark.sql.adaptive.coalescePartitions.enabled", "false")
    try:
        left = spark.range(200_000).selectExpr(
            "CASE WHEN id % 10 < 9 THEN 0 ELSE id END AS k", "id AS v"
        )
        right = spark.range(50_000).selectExpr(
            "CASE WHEN id % 10 < 9 THEN 0 ELSE id END AS k", "id AS w"
        )
        df = left.join(right, "k").groupBy().count()
        df.collect()  # AQE decides at runtime — plan must be executed
        plan = plans.executed_plan(df)
        assert "skew=true" in plan, plan[:3000]
    finally:
        for k, v in saved.items():
            if v is not None:
                conf.set(k, v)


def test_join_strategy_hints_are_honored(spark, sf_dir):
    """All four join-strategy hints route planning: the engine exposes them
    for the cases where Catalyst's default costing is wrong at scale
    (e.g. force shuffle_hash when one side is small-ish but over the
    broadcast threshold, avoiding the sort of a 100 TB fact)."""
    li = spark.read.parquet(f"{sf_dir}/lineitem.parquet")
    orders = spark.read.parquet(f"{sf_dir}/orders.parquet")
    cases = {
        "broadcast": "BroadcastHashJoin",
        "merge": "SortMergeJoin",
        "shuffle_hash": "ShuffledHashJoin",
    }
    for hint, node in cases.items():
        df = li.join(orders.hint(hint), li.l_orderkey == orders.o_orderkey)
        assert node in plans.executed_plan(df), hint


def test_heavy_hitter_recount_is_broadcast_semi(spark, sf_dir):
    """Two-pass heavy hitters: the exact recount must semi-join the raw
    stream against BROADCAST candidates (never shuffle the stream on the
    key), and the full-key-space groupBy must not appear before the
    semi-join prune."""
    df = q.QUERIES["heavy_hitter_bigrams"](spark, sf_dir)
    plan = plans.executed_plan(df)
    assert "BroadcastHashJoin" in plan and "LeftSemi" in plan
    assert "SortMergeJoin" not in plan


def test_rollup_cascade_merges_partials_only(spark, sf_dir):
    """raw -> minute -> hour -> day must be one raw scan + 2 partial-merge
    aggregations; with minute/hour/day all keyed by (event_type, bucket)
    AQE keeps every merge on the already-shuffled partials (no extra raw
    scans; exchange count stays bounded)."""
    df = q.QUERIES["rollup_cascade_daily"](spark, sf_dir)
    plan = plans.executed_plan(df)
    assert plan.count("Scan parquet") == 1  # one raw scan for the cascade
    assert "SortMergeJoin" not in plan and "Cartesian" not in plan


def test_cep_pattern_single_exchange_no_join(spark, sf_dir):
    df = q.QUERIES["cep_click_click_purchase"](spark, sf_dir)
    plan = plans.executed_plan(df)
    assert "Join" not in plan  # pattern is pure window work
    # one shuffle to co-locate user timelines + the final groupBy reuses it
    assert plan.count("Exchange hashpartitioning") <= 2


def test_weekly_discords_default_is_join_free(spark, sf_dir):
    """The default (chunked-kernel) discord path must carry NO join at
    all — the pair work is arithmetic inside applyInPandas, one output
    row per group — and the legacy join formulation must stay an EQUI
    join on (key, week), never a cartesian/nested-loop."""
    df = q.QUERIES["weekly_shape_discords"](spark, sf_dir)
    plan = plans.executed_plan(df)
    assert "Join" not in plan
    assert "FlatMapGroupsInPandas" in plan or "ArrowEvalPython" in plan

    from anomaly_detection_in_time_series_data_spark.tables import load_table
    from anomaly_detection_in_time_series_data_spark.operators import timeseries

    ev = load_table(spark, sf_dir, "events")
    legacy = plans.executed_plan(timeseries.weekly_discords(ev, impl="join"))
    assert "CartesianProduct" not in legacy
    assert "BroadcastNestedLoopJoin" not in legacy


def test_weekly_motifs_default_is_join_free(spark, sf_dir):
    """The motif dual keeps the same shape discipline as the discord: the
    default chunked kernel carries no join (pair work is arithmetic in
    applyInPandas); the join twin stays an equi join, and its argmin is a
    struct-MIN hash aggregate, never a rank window over the pair rows."""
    df = q.QUERIES["weekly_shape_motifs"](spark, sf_dir)
    plan = plans.executed_plan(df)
    assert "Join" not in plan
    assert "FlatMapGroupsInPandas" in plan or "ArrowEvalPython" in plan

    from anomaly_detection_in_time_series_data_spark.tables import load_table
    from anomaly_detection_in_time_series_data_spark.operators import timeseries

    ev = load_table(spark, sf_dir, "events")
    legacy = plans.executed_plan(timeseries.weekly_motifs(ev, impl="join"))
    assert "CartesianProduct" not in legacy
    assert "BroadcastNestedLoopJoin" not in legacy
    # argmin over pair rows is a struct-MIN aggregate (SortAggregate —
    # struct min isn't hash-aggregable), never a rank window over the
    # O(n^2) pair rows (SCALING.md round-5 note). Windows DO appear for
    # the timeline derivation (row_number/collect_list over n rows) —
    # what must not appear is a windowspec ranking the pair distance.
    assert "min(struct(motif_d2" in legacy
    for line in legacy.splitlines():
        if "windowspecdefinition" in line:
            assert "motif_d2" not in line


def test_triangle_degree_joins_broadcast(spark, sf_dir):
    df = q.QUERIES["near_dup_triangles"](spark, sf_dir)
    plan = plans.executed_plan(df)
    assert "CartesianProduct" not in plan
    assert "BroadcastHashJoin" in plan


def test_weighted_sample_is_take_ordered_not_global_sort(spark, sf_dir):
    # A-ES selection must be TakeOrderedAndProject (per-partition top-k);
    # a global Window over the corpus would serialize one task at scale.
    plan = plans.executed_plan(q.QUERIES["weighted_sample_topk"](spark, sf_dir))
    assert "TakeOrderedAndProject" in plan
    assert "BatchEvalPython" not in plan and "ArrowEvalPython" not in plan


def test_portable_dedup_family_stays_jvm_side(spark, sf_dir):
    # md5-portable minhash/simhash paths are pure built-ins — no Python in
    # the row path even though the hashes are engine-portable.
    for name in ("minhash_lsh_pairs", "simhash_docs", "simhash_near_pairs"):
        plan = plans.executed_plan(q.QUERIES[name](spark, sf_dir))
        assert "BatchEvalPython" not in plan and "ArrowEvalPython" not in plan, name


def test_quantized_ann_probe_broadcast_all_jvm(spark, sf_dir):
    """Corpus codes are scanned once and never shuffled for scoring: the
    20-row probe side broadcasts (nested-loop for the != predicate) and
    the integer zip_with fold stays JVM-side."""
    df = q.QUERIES["quantized_ann_topk"](spark, sf_dir)
    p = plans.executed_plan(df)
    assert "BroadcastNestedLoopJoin" in p
    assert "BatchEvalPython" not in p


def test_vocab_coverage_vocab_is_topk_and_broadcast(spark, sf_dir):
    """The top-100 vocab is a TakeOrderedAndProject (never a global sort)
    and joins back to the token stream broadcast — the corpus is never
    shuffled on word for the coverage join."""
    df = q.QUERIES["vocab_coverage_by_source"](spark, sf_dir)
    p = plans.executed_plan(df)
    assert plans.has_take_ordered(df)
    assert "BroadcastHashJoin" in p
    assert "BatchEvalPython" not in p


def test_source_overlap_size_joins_broadcast(spark, sf_dir):
    """The per-source vocab sizes join the 190-row pair matrix broadcast;
    only the shingle equi-join moves co-occurrence rows."""
    df = q.QUERIES["source_shingle_overlap"](spark, sf_dir)
    p = plans.executed_plan(df)
    assert p.count("BroadcastHashJoin") >= 2
    assert "BatchEvalPython" not in p


def test_scd2_fold_is_materialized_per_batch(spark, sf_dir):
    """Each CDC batch is checkpointed (the plan bottoms out at an RDD scan
    instead of a 5-deep 4-branch join tree — the O(4^n) fold guard)."""
    df = q.QUERIES["scd2_event_type_history"](spark, sf_dir)
    p = plans.executed_plan(df)
    assert "ExistingRDD" in p or "Scan ExistingRDD" in p


def test_bloom_prejoin_bits_broadcast_probe_unshuffled(spark, sf_dir):
    """The bloom bit-set frame reaches the probe side as a broadcast
    (BroadcastHashJoin on pos); the customer probe scan must not
    shuffle-exchange before candidacy is decided, and the whole screen
    stays JVM-side."""
    df = q.QUERIES["bloom_prejoin_fpr"](spark, sf_dir)
    p = plans.executed_plan(df)
    assert "BroadcastHashJoin" in p
    assert "BatchEvalPython" not in p and "ArrowEvalPython" not in p


def test_salted_agg_is_two_phase(spark, sf_dir):
    """The salted aggregate must show two HashAggregate pairs — the
    (key, salt) partial phase and the per-key combine — and stay
    JVM-side."""
    df = q.QUERIES["salted_hot_key_agg"](spark, sf_dir)
    p = plans.executed_plan(df)
    assert p.count("HashAggregate") >= 4  # partial+final for each phase
    assert "BatchEvalPython" not in p


def test_bm25_ends_in_take_ordered_window_after_filter(spark, sf_dir):
    """BM25's final top-10 is a bounded window; the query-term filter
    must prune the exploded token stream before the tf aggregate (a
    Filter above the explode/generate, not after the join), with no
    Python in the row path."""
    df = q.QUERIES["bm25_retrieval"](spark, sf_dir)
    p = plans.executed_plan(df)
    assert "BatchEvalPython" not in p and "ArrowEvalPython" not in p
    assert "BroadcastHashJoin" in p  # dfreq + stats join back broadcast


def test_theil_sen_pairs_only_on_aggregated_series(spark, sf_dir):
    """The pair self-join must sit ABOVE the hourly aggregate: the plan
    has the count aggregate below the join, so pair fan-out is T^2 in
    series length, never raw events."""
    df = q.QUERIES["theil_sen_trend"](spark, sf_dir)
    p = plans.executed_plan(df)
    assert "SortMergeJoin" in p or "BroadcastHashJoin" in p or "ShuffledHashJoin" in p
    # the join input is the aggregated frame, so the raw scan appears
    # exactly twice (once per join side), each under its own aggregate
    assert p.count("Scan parquet") == 2
    assert "BatchEvalPython" not in p


def test_topk_rank_windows_run_on_limited_frames(spark, sf_dir):
    """bm25's top-10 must be TakeOrderedAndProject (per-partition heap +
    tiny merge) — a global row_number window over the full scored frame
    would serialize one task at scale. (kmeans_micro_lloyd's seed top-4
    uses the same orderBy+limit idiom, but its stage is pre-materialized
    behind the iteration checkpoints so the final executed plan bottoms
    out at ExistingRDD and can't be asserted here.)"""
    p = plans.executed_plan(q.QUERIES["bm25_retrieval"](spark, sf_dir))
    assert "TakeOrderedAndProject" in p


def test_round5_wave_stays_jvm_side(spark, sf_dir):
    # The round-5 operators are pure relational/built-in expressions — no
    # Python in any row path.
    for name in (
        "user_journey_trigrams",
        "k_anonymity_audit",
        "stl_lite_decomposition",
        "grid_density_clusters",
        "markov_stationary_micro",
        "ivf_ann_topk",
        "km_survival_signup_to_purchase",
        "ab_test_two_proportion",
        "conformal_interval_coverage",
        "event_type_lift",
        "mahalanobis_outliers_2d",
    ):
        plan = plans.executed_plan(q.QUERIES[name](spark, sf_dir))
        assert "BatchEvalPython" not in plan and "ArrowEvalPython" not in plan, name


def test_journey_trigrams_topk_is_take_ordered(spark, sf_dir):
    """Top-20 patterns via per-partition heap + 20-row merge; the rank
    window then runs on 20 rows, never over every pattern."""
    plan = plans.executed_plan(q.QUERIES["user_journey_trigrams"](spark, sf_dir))
    assert "TakeOrderedAndProject" in plan


def test_grid_density_cell_map_broadcasts(spark, sf_dir):
    """The cell->cluster map joins back to the vector table broadcast —
    the vectors themselves never shuffle for the clustering decision."""
    plan = plans.executed_plan(q.QUERIES["grid_density_clusters"](spark, sf_dir))
    assert "BroadcastHashJoin" in plan


def test_mahalanobis_topk_is_take_ordered(spark, sf_dir):
    """Top-15 scores via per-partition heap + 15-row merge, not a global
    rank window over every vector."""
    plan = plans.executed_plan(q.QUERIES["mahalanobis_outliers_2d"](spark, sf_dir))
    assert "TakeOrderedAndProject" in plan


def test_round5_second_wave_stays_jvm_side(spark, sf_dir):
    # skyline / interval union / linkage / hotspot / Welch: pure
    # relational expressions — no Python in any row path.
    for name in (
        "skyline_parts_pareto",
        "interval_union_coverage",
        "fuzzy_name_linkage",
        "grid_hotspot_stencil",
        "welch_t_drift",
    ):
        plan = plans.executed_plan(q.QUERIES[name](spark, sf_dir))
        assert "BatchEvalPython" not in plan and "ArrowEvalPython" not in plan, name
        assert "CartesianProduct" not in plan, name


def test_skyline_frontier_table_broadcasts(spark, sf_dir):
    """The per-price frontier table (distinct prices only) joins back to
    the parts broadcast — the full part table never shuffles."""
    plan = plans.executed_plan(q.QUERIES["skyline_parts_pareto"](spark, sf_dir))
    assert "BroadcastHashJoin" in plan


def test_interval_union_single_user_shuffle(spark, sf_dir):
    """The sweep is windows + two aggregates all clustered by user_id:
    one hash exchange total (hashpartitioning(user_id) satisfies the
    (user_id, island_id) and user_id groupings downstream)."""
    plan = plans.executed_plan(q.QUERIES["interval_union_coverage"](spark, sf_dir))
    assert plan.count("Exchange hashpartitioning") == 1, plan


def test_bitmap_overlap_shuffles_words_not_users(spark, sf_dir):
    """The bitmap build is one hash aggregate straight off the scan (no
    distinct pass — bit_or is idempotent); the intersection join is an
    equi join on bucket, and nothing Python touches the row path."""
    plan = plans.executed_plan(q.QUERIES["bitmap_segment_overlap"](spark, sf_dir))
    assert "BatchEvalPython" not in plan and "ArrowEvalPython" not in plan
    assert "CartesianProduct" not in plan
    assert "bit_or" in plan and "partial_bit_or" in plan  # map-side combine


def test_posting_lists_topk_is_take_ordered(spark, sf_dir):
    """Top-40 terms via per-partition heap + 40-row merge — the long
    tail's posting lists never reach the driver or a global sort."""
    plan = plans.executed_plan(q.QUERIES["inverted_posting_lists"](spark, sf_dir))
    assert "TakeOrderedAndProject" in plan
    assert "BatchEvalPython" not in plan


def test_linear_interp_single_key_shuffle(spark, sf_dir):
    """Grid generation, the left join, and both IGNORE NULLS window
    passes all cluster by event_type — no Python, no cartesian."""
    plan = plans.executed_plan(q.QUERIES["linear_interp_gap_fill"](spark, sf_dir))
    assert "BatchEvalPython" not in plan and "ArrowEvalPython" not in plan
    assert "CartesianProduct" not in plan


def test_prefix_filter_candidates_from_equi_join(spark, sf_dir):
    """Candidate generation is an equi join on the prefix shingle; the
    shingle source is checkpointed so the CPU-bound explosion runs once
    (the plan reads from the checkpoint scan, not five Generate nodes)."""
    plan = plans.executed_plan(q.QUERIES["prefix_filter_jaccard_join"](spark, sf_dir))
    assert "CartesianProduct" not in plan
    assert "BroadcastNestedLoopJoin" not in plan
    assert plan.count("Generate explode") == 0  # all consumers read the checkpoint


def test_max_drawdown_three_windows_share_one_shuffle(spark, sf_dir):
    """Round-6: cumsum, running max, and the drawdown-argmax rank all sort
    by the same (type, ts, event_id) order — the plan must contain exactly
    ONE exchange (a refactor that re-shuffles per window fails here)."""
    df = q.QUERIES["max_drawdown_per_type"](spark, sf_dir)
    plan = plans.executed_plan(df)
    n_ex = plan.count("Exchange hashpartitioning") + plan.count(
        "Exchange rangepartitioning"
    ) + plan.count("Exchange SinglePartition")
    assert n_ex == 1, f"expected 1 exchange, got {n_ex}"
    assert plan.count("Scan parquet") == 1


def test_percent_rank_extremes_single_shuffle(spark, sf_dir):
    """Round-6: asc rank, count, and desc top-5 windows share the one
    event_type hash exchange."""
    df = q.QUERIES["exact_percent_rank_extremes"](spark, sf_dir)
    plan = plans.executed_plan(df)
    n_ex = plan.count("Exchange hashpartitioning") + plan.count(
        "Exchange rangepartitioning"
    ) + plan.count("Exchange SinglePartition")
    assert n_ex == 1, f"expected 1 exchange, got {n_ex}"


def test_delivery_completeness_single_fact_scan(spark, sf_dir):
    """Round-6: the audit derives bounds, type list, and spine from the
    checkpointed daily-observation grain — the final plan re-reads the
    checkpoint, never the fact parquet (0 scans), and every exchange
    moves (types x days)-grain rows."""
    df = q.QUERIES["delivery_completeness_audit"](spark, sf_dir)
    plan = plans.executed_plan(df)
    assert plan.count("Scan parquet") == 0, "fact table re-scanned"


def test_round6_wave_plans_stay_jvm_and_broadcast(spark, sf_dir):
    """The round-6 backlog wave: every query stays JVM-side (no Python
    eval in the plan) and contains no Cartesian product; the dense-grid
    queries broadcast their calendar/dimension sides rather than
    shuffling them."""
    wave = [
        "spc_control_chart_rules",
        "herfindahl_daily_concentration",
        "fano_burstiness_hourly",
        "record_breaking_days",
        "ann_graph_link_prediction",
        "zone_map_skipping_audit",
        "t_closeness_audit",
        "wasserstein_value_drift",
        "abc_inventory_classification",
        "newsvendor_quantile_order",
        "runs_test_randomness",
        "graph_degree_assortativity",
        "kendall_tau_user_ranks",
        "spearman_click_purchase",
        "did_estimator_components",
        "haar_wavelet_energy",
        "gini_split_gain_deciles",
        "greedy_set_cover_sources",
        "incremental_join_maintenance",
        "report_restatement_audit",
        "column_stats_drift",
        "ltv_cohort_curve",
        "knn_kdistance_outliers",
    ]
    for name in wave:
        plan = plans.executed_plan(q.QUERIES[name](spark, sf_dir))
        assert "BatchEvalPython" not in plan and "ArrowEvalPython" not in plan, name
        assert "CartesianProduct" not in plan, name
    for name in ("fano_burstiness_hourly", "t_closeness_audit",
                 "wasserstein_value_drift"):
        plan = plans.executed_plan(q.QUERIES[name](spark, sf_dir))
        assert "BroadcastHashJoin" in plan or "BroadcastNestedLoopJoin" in plan, name


def test_round7_wave_plans_stay_jvm_and_broadcast(spark, sf_dir):
    """The round-7 wave: every query stays JVM-side (no Python eval in
    the plan) and contains no Cartesian product (the 6-row lag table and
    1-row scalar frames ride broadcasts); the graph queries derive
    candidates from equi-joins (orthant hash join), never all-pairs."""
    wave = [
        "reciprocal_best_match_pairs",
        "clustering_coefficient_local",
        "lpa_communities_modularity",
        "hits_micro",
        "pca_top_component_micro",
        "cdc_apply_changeset",
        "double_charge_candidates",
        "allen_interval_relations",
        "shapley_attribution_components",
        "best_burst_window",
        "dataset_card_stats",
        "hourly_acf_lags",
        "topk_membership_churn",
        "embedding_norm_profile",
        "seasonal_dow_profile",
        "user_longest_streaks",
    ]
    for name in wave:
        plan = plans.executed_plan(q.QUERIES[name](spark, sf_dir))
        assert "BatchEvalPython" not in plan and "ArrowEvalPython" not in plan, name
        assert "CartesianProduct" not in plan, name
    # The theta-NN candidate join must be an equi (hash) join on the
    # orthant key — the plan that scales to bucketed fan-out — not a
    # nested-loop over all pairs.
    for name in ("reciprocal_best_match_pairs", "clustering_coefficient_local"):
        plan = plans.executed_plan(q.QUERIES[name](spark, sf_dir))
        assert (
            "BroadcastHashJoin" in plan or "SortMergeJoin" in plan
            or "ShuffledHashJoin" in plan
        ), name
    # Dimension/spine/scalar sides broadcast in the calendar + scalar
    # queries (no shuffle of the tiny side).
    for name in ("hits_micro", "hourly_acf_lags", "best_burst_window",
                 "shapley_attribution_components"):
        plan = plans.executed_plan(q.QUERIES[name](spark, sf_dir))
        assert "BroadcastHashJoin" in plan or "BroadcastNestedLoopJoin" in plan, name


def test_round8_wave_plans_stay_jvm(spark, sf_dir):
    """The round-8 wave: every query stays JVM-side (no Python eval in
    the plan) and contains no Cartesian product.  The sequence-pattern
    scan is one regexp over a grouped string (no self-joins); the AMS
    sketch is a single-pass 16-sum aggregate whose 1-row exact twin
    rides a broadcast; the PAV fit's theta-joins run over 20 aggregate
    rows (broadcast NLJ by size, never data-sized)."""
    wave = [
        "event_sequence_pattern_match",
        "bom_explosion_rollup",
        "ams_f2_sketch_estimate",
        "isotonic_calibration_pav",
        "kcenter_coreset_micro",
        "ols_leverage_influence",
        "woe_iv_binning",
        "point_in_polygon_counts",
        "fiscal_445_calendar_rollup",
        "functional_dependency_audit",
        "inclusion_dependency_audit",
        "lttb_downsample_lite",
        "table_fingerprint_checksum",
        "venn3_source_overlap",
        "schema_evolution_union_audit",
        "dfa_conformance_audit",
        "borda_rank_aggregation",
        "percentile_cont_exact_rationals",
        "rolling_ols_slope",
        "packing_loss_mask_spans",
    ]
    for name in wave:
        plan = plans.executed_plan(q.QUERIES[name](spark, sf_dir))
        assert "BatchEvalPython" not in plan and "ArrowEvalPython" not in plan, name
        assert "CartesianProduct" not in plan, name
    # The AMS sketch must be ONE aggregate pass over lineitem (16
    # map-side-combinable sums), with the exact-F2 side broadcast into
    # the final 1-row combine.
    plan = plans.executed_plan(q.QUERIES["ams_f2_sketch_estimate"](spark, sf_dir))
    assert "BroadcastNestedLoopJoin" in plan or "BroadcastHashJoin" in plan


def test_sampled_join_audit_has_no_sample_side_join(spark, sf_dir):
    """VERDICT r7 item 2 regression pin: the universe-sampling audit must
    apply the md5 key gate as a FILTER at the lineitem scan, not join a
    broadcast sampled-key list.  The optimized plan therefore contains
    exactly two joins — the exact twin's orders-lineitem join and the
    1-row final combine — and the word Join never appears between the
    sampled count and its scan."""
    df = q.QUERIES["sampled_join_cardinality_audit"](spark, sf_dir)
    optimized = df._jdf.queryExecution().optimizedPlan().toString()
    n_joins = optimized.count("Join ")
    assert n_joins == 2, f"expected 2 joins (exact twin + combine): {n_joins}"
    assert "md5" in optimized  # the scan-stage gate survived optimization


def test_window_gate_detects_uncollapsed_global_windows(spark):
    """VERDICT r8 task 3: the detector behind check_oracle's plan gate.
    A partition-less Window over a raw frame must be flagged; the same
    window over an Aggregate- or Limit-collapsed frame, or a partitioned
    window, must not."""
    from pyspark.sql import Window

    df = spark.range(1000).select((F.col("id") % 7).alias("v"), "id")
    bad = df.withColumn("r", F.row_number().over(Window.orderBy("v", "id")))
    viol = plans.unbounded_global_windows(bad)
    assert len(viol) == 1 and "Window" in viol[0]
    assert not plans.unbounded_global_windows(
        df.groupBy("v").count().withColumn(
            "r", F.row_number().over(Window.orderBy("v"))
        )
    )
    assert not plans.unbounded_global_windows(
        df.limit(10).withColumn("r", F.row_number().over(Window.orderBy("id")))
    )
    assert not plans.unbounded_global_windows(
        df.withColumn(
            "r", F.row_number().over(Window.partitionBy("v").orderBy("id"))
        )
    )


def test_rewritten_ntile_queries_pass_window_gate(spark, sf_dir):
    """The four round-8 weak sites (global ntile/rank over
    scale-proportional frames) now ride operators.ranks.global_exact_rank
    — their optimized plans must contain NO partition-less Window over an
    uncollapsed frame, and no WindowExec over the fact scan survives in
    the physical plan either."""
    for name in (
        "woe_iv_binning",
        "gini_split_gain_deciles",
        "rfm_user_segments",
        "vocab_growth_curve",
        "distributed_exact_rank",
    ):
        df = q.QUERIES[name](spark, sf_dir)
        viol = plans.unbounded_global_windows(df)
        assert not viol, f"{name}: {viol}"


def test_round9_wave_plans_stay_jvm(spark, sf_dir):
    """The round-9 wave: no Python eval in any plan (the only sanctioned
    Python is inside global_exact_rank's checkpointed mapInArrow rank
    pass, which the executed plan has already materialized), and no
    Cartesian product anywhere."""
    wave = [
        "chi_square_independence_components",
        "anova_oneway_components",
        "lorenz_gini_deciles",
        "twap_event_value",
        "roc_auc_exact",
        "cumulative_gains_deciles",
        "crossval_fold_audit",
        "poisson_bootstrap_means",
        "unpivot_stack_metrics",
        "table_diff_audit",
        "k_anonymity_class_histogram",
        "range_frame_hourly_sum",
        "autocorr_lag_profile",
        "seasonal_naive_backtest",
        "zipf_rank_frequency",
        "null_safe_join_counts",
        "id_continuity_audit",
        "rounding_drift_audit",
        "l_diversity_histogram",
        "last_touch_attribution",
        "kaplan_meier_components",
        "boxplot_components",
        "declared_fk_orphan_audit",
        "session_duration_log2_histogram",
        "median_imputation_audit",
    ]
    for name in wave:
        df = q.QUERIES[name](spark, sf_dir)
        plan = plans.executed_plan(df)
        assert "BatchEvalPython" not in plan and "ArrowEvalPython" not in plan, name
        assert "CartesianProduct" not in plan, name
        assert not plans.unbounded_global_windows(df), name
    # The version diff must be ONE join (the full-outer on the key).
    diff_plan = plans.executed_plan(q.QUERIES["table_diff_audit"](spark, sf_dir))
    assert diff_plan.count("SortMergeJoin") + diff_plan.count(
        "BroadcastHashJoin"
    ) >= 1


def test_global_exact_rank_rejects_column_clash(spark):
    """The rank helper must fail fast (at plan time) when its output or
    internal column names collide with the input frame — the silent
    alternative is an AMBIGUOUS_REFERENCE only at action time."""
    import pytest

    from anomaly_detection_in_time_series_data_spark.operators import ranks

    df = spark.range(10).selectExpr("id", "id % 3 AS n")
    with pytest.raises(ValueError, match="already exist"):
        ranks.global_exact_rank(df, ["id"])
    out = ranks.global_exact_rank(df, ["id"], total_col="n_total")
    assert out.columns == ["id", "n", "n_total", "rnk"]


@pytest.mark.parametrize("parts", [1, 7, 64])
def test_global_prefix_sum_matches_window(spark, parts):
    """global_prefix_sum must equal the single-window cumulative sum
    bit-for-bit (bigint domain), including across range-partition
    boundaries (empty ranges at 64 parts) and under a descending order
    with tie-break; a NULL value is rejected with the column named."""
    from anomaly_detection_in_time_series_data_spark.operators import ranks

    df = spark.range(500).selectExpr(
        "id", "CAST((id * 37) % 101 AS BIGINT) AS v"
    )
    got = {
        r.id: (r.cum, r.total)
        for r in ranks.global_prefix_sum(
            df, [F.col("v").desc(), "id"], "v", parts=parts
        ).collect()
    }
    w = Window.orderBy(F.col("v").desc(), "id").rowsBetween(
        Window.unboundedPreceding, 0
    )
    want = {
        r.id: (r.cum, r.total)
        for r in df.select(
            "id",
            F.sum("v").over(w).cast("bigint").alias("cum"),
            F.sum("v").over(
                Window.orderBy(F.lit(1)).rowsBetween(
                    Window.unboundedPreceding, Window.unboundedFollowing
                )
            ).cast("bigint").alias("total"),
        ).collect()
    }
    assert got == want
    with pytest.raises(ValueError, match="already exist"):
        ranks.global_prefix_sum(df.withColumnRenamed("v", "cum"), ["id"], "id")
    nulls = df.union(spark.sql("SELECT 500L AS id, CAST(NULL AS BIGINT) AS v"))
    with pytest.raises(PythonException, match="value_col 'v' holds a NULL"):
        ranks.global_prefix_sum(nulls, ["id"], "v", parts=parts)


def test_grouped_window_audit_surfaces_blind_spot(spark):
    """grouped_global_windows (round-10 audit mode) must surface a
    partition-less window bounded by a GROUPED aggregate — the hard
    gate's documented blind spot — while (a) the hard gate stays silent,
    (b) rank-operator internals (ranks.SCAN_PREFIX columns) are excluded, and
    (c) limit-bounded and global-agg-bounded windows are not reported."""
    from anomaly_detection_in_time_series_data_spark.operators import ranks

    df = spark.range(1000).selectExpr("id", "id % 97 AS k", "id % 7 AS v")
    agg = df.groupBy("k").agg(F.sum("v").alias("s"))
    blind = agg.withColumn("r", F.row_number().over(Window.orderBy("s", "k")))
    assert not plans.unbounded_global_windows(blind)  # hard gate: silent
    sites = plans.grouped_global_windows(blind)
    assert len(sites) == 1 and "k" in sites[0][1][0]

    # rank-operator internals are excluded
    ranked = ranks.global_exact_rank(agg, ["s", "k"])
    assert not plans.grouped_global_windows(ranked.groupBy("rnk").count())

    # limit-bounded: not reported
    lim = df.limit(10).withColumn(
        "r", F.row_number().over(Window.orderBy("id"))
    )
    assert not plans.grouped_global_windows(lim)

    # global (no-key) aggregate: not reported
    glob = df.agg(F.sum("v").alias("s")).withColumn(
        "r", F.row_number().over(Window.orderBy("s"))
    )
    assert not plans.grouped_global_windows(glob)


def test_window_gate_holds_sites_to_their_tables(spark):
    """plans.window_gate on synthetic frames: a justified site passes and
    is recorded, an unjustified grouped or subgrain site is returned
    (also a second site in a justified query), an id-grain partition key
    needs no entry, the hard gate has no exemption, a site behind a
    checkpoint is gated, and an entry no site used is stale unless its
    query shows the site below the keyed-rank size gate."""
    from anomaly_detection_in_time_series_data_spark.operators import ranks
    from anomaly_detection_in_time_series_data_spark.plans import window_gate as wg

    df = spark.range(1000).selectExpr(
        "id",
        "id % 97 AS k",
        "id % 7 AS v",
        "id % 13 AS user_id",
        "id % 10 AS decile",
        "id % 5 AS event_type",
        "id % 4 AS wk",
    )

    def grouped(key):
        return (
            df.groupBy(key)
            .agg(F.sum("v").alias("s"))
            .withColumn("r", F.row_number().over(Window.orderBy("s", key)))
        )

    def subgrain(part, checkpoint=False):
        agg = df.groupBy(part, "k").agg(F.count("*").alias("n"))
        if checkpoint:
            agg = agg.localCheckpoint(eager=False)
        return agg.withColumn(
            "r", F.row_number().over(Window.partitionBy(part).orderBy("k"))
        )

    seen: set = set()
    assert not wg.unjustified_windows("vocab_growth_curve", grouped("decile"), seen)
    assert not wg.unjustified_windows("ks_value_drift", subgrain("event_type"), seen)
    assert seen == {
        ("WINDOW_AUDIT_JUSTIFICATIONS", ("vocab_growth_curve", "decile")),
        ("SUBGRAIN_WINDOW_AUDIT_JUSTIFICATIONS", ("ks_value_drift", "event_type")),
    }
    viol = wg.unjustified_windows("synthetic", grouped("decile"))
    assert len(viol) == 1 and "grouped Aggregate" in viol[0], viol
    assert "('synthetic', 'decile') in WINDOW_AUDIT_JUSTIFICATIONS" in viol[0]
    # an entry covers its own site only, not every site of its query
    viol = wg.unjustified_windows("vocab_growth_curve", grouped("k"))
    assert len(viol) == 1 and "('vocab_growth_curve', 'k')" in viol[0], viol

    viol = wg.unjustified_windows("synthetic", subgrain("v"))
    assert len(viol) == 1 and "residual grain (k)" in viol[0], viol
    assert "('synthetic', 'v') in SUBGRAIN_WINDOW_AUDIT_JUSTIFICATIONS" in viol[0]
    assert wg.unjustified_windows("synthetic", subgrain("user_id")) == []

    raw = df.withColumn("r", F.row_number().over(Window.orderBy("v", "id")))
    for name in ("synthetic", "vocab_growth_curve"):
        viol = wg.unjustified_windows(name, raw)
        assert len(viol) == 1 and "uncollapsed frame" in viol[0], viol

    real, viol = wg.gate_query("synthetic", lambda: subgrain("v", checkpoint=True))
    assert not plans.partitioned_subgrain_windows(real)
    assert len(viol) == 1 and "residual grain (k)" in viol[0], viol

    stale = " ".join(wg.stale_justifications(seen, {}))
    assert "('hits_micro', 'event_type')" in stale
    assert "('vocab_growth_curve', 'decile')" not in stale
    assert "('ks_value_drift', 'event_type')" not in stale

    def size_gated():
        # the native per-key window exists only below the size gate
        if ranks.KEYED_RANK_SMALL_BYTES > 2**40:
            return subgrain("wk")
        return df

    stale = " ".join(
        wg.stale_justifications(seen, {"borda_rank_aggregation": size_gated})
    )
    assert "borda_rank_aggregation" not in stale
    assert ranks.KEYED_RANK_SMALL_BYTES < 2**40
    everything = {
        (table, entry)
        for table, entries in [
            ("WINDOW_AUDIT_JUSTIFICATIONS", wg.WINDOW_AUDIT_JUSTIFICATIONS),
            (
                "SUBGRAIN_WINDOW_AUDIT_JUSTIFICATIONS",
                wg.SUBGRAIN_WINDOW_AUDIT_JUSTIFICATIONS,
            ),
        ]
        for entry in entries
    }
    assert wg.stale_justifications(everything, {}) == []


def test_round10_rank_rewrites_have_no_grouped_global_windows(spark, sf_dir):
    """The three round-10 audit catches (user-grain spearman ranks,
    part-grain abc cumulative share, user-grain qini ntile) must no
    longer contain ANY partition-less window over a scale-proportional
    grouped frame — their audit listing should be empty or
    fixed-cardinality only."""
    for name in (
        "spearman_click_purchase",
        "abc_inventory_classification",
        "qini_uplift_deciles",
    ):
        df = q.QUERIES[name](spark, sf_dir)
        assert not plans.unbounded_global_windows(df), name
        sites = plans.grouped_global_windows(df)
        for _win, keys in sites:
            assert all(
                k.strip("`") in ("decile", "bin") for k in keys
            ), (name, sites)


@pytest.mark.parametrize("parts", [1, 7, 64])
def test_keyed_record_scan_matches_window(spark, parts):
    """keyed_record_scan must mark exactly the rows the naive per-key
    running-max window marks (strict records, first row included),
    across range-partition boundaries (empty ranges at 64 parts) and
    interleaved keys.  A NULL key is one group; a NULL value is never a
    record and does not move the running max (2, NULL, 1: 1 is not a
    record)."""
    from anomaly_detection_in_time_series_data_spark.operators import ranks

    df = spark.range(600).selectExpr(
        "id",
        "CAST(id % 3 AS STRING) AS k",
        "CAST((id * 131) % 997 AS BIGINT) AS v",
    ).union(
        spark.createDataFrame(
            [(600, "a", 2), (601, "a", None), (602, "a", 1), (603, "a", 3),
             (604, "a", 0), (605, None, 5), (606, None, None), (607, None, 4),
             (608, None, 6), (609, "0", None)],
            "id bigint, k string, v bigint",
        )
    )
    got = {
        r.id
        for r in ranks.keyed_record_scan(
            df, ["k"], ["k", "id"], "v", parts=parts
        ).collect()
        if r.is_record
    }
    w = (
        Window.partitionBy("k")
        .orderBy("id")
        .rowsBetween(Window.unboundedPreceding, -1)
    )
    want = {
        r.id
        for r in df.withColumn("pm", F.max("v").over(w)).collect()
        if r.v is not None and (r.pm is None or r.v > r.pm)
    }
    assert got == want and len(got) > 3
    with pytest.raises(ValueError, match="already exist"):
        ranks.keyed_record_scan(
            df.withColumnRenamed("v", "is_record"), ["k"], ["k", "id"], "id"
        )


def test_keyed_record_scan_vectorized_paths(spark):
    """Round-11 vectorization coverage: (1) multi-key (tuple grouping)
    multi-batch scans still match the naive window; (2) integer values
    near 2^63 compare EXACTLY — a float64 upcast in the batch body would
    collapse adjacent huge cents and miss/invent records."""
    from anomaly_detection_in_time_series_data_spark.operators import ranks

    df = spark.range(400).selectExpr(
        "id",
        "CAST(id % 2 AS STRING) AS k1",
        "CAST(id % 3 AS BIGINT) AS k2",
        "CAST((id * 37) % 211 AS BIGINT) AS v",
    )
    got = {
        r.id
        for r in ranks.keyed_record_scan(
            df, ["k1", "k2"], ["k1", "k2", "id"], "v", parts=5
        ).collect()
        if r.is_record
    }
    w = (
        Window.partitionBy("k1", "k2")
        .orderBy("id")
        .rowsBetween(Window.unboundedPreceding, -1)
    )
    want = {
        r.id
        for r in df.withColumn("pm", F.max("v").over(w)).collect()
        if r.pm is None or r.v > r.pm
    }
    assert got == want and len(got) > 5

    # exactness at the int64 edge: 2^62+1 then 2^62 (not a record: the
    # two are equal in float64) then 2^62+2 (a record, +1 ulp in float64)
    big = 1 << 62
    edge = spark.createDataFrame(
        [("a", 0, big + 1), ("a", 1, big), ("a", 2, big + 2)],
        "k string, seq int, v long",
    )
    marked = {
        r.seq: r.is_record
        for r in ranks.keyed_record_scan(
            edge, ["k"], ["k", "seq"], "v", parts=2
        ).collect()
    }
    assert marked == {0: True, 1: False, 2: True}


@pytest.mark.parametrize("parts", [1, 4])
def test_keyed_record_scan_nan_never_enters_carry(spark, parts):
    """ADVICE r11: a NaN stored as a key's cross-batch running max made
    carry.isna() true, so later batches flagged beaten rows as records.
    An all-NaN leading batch must behave like 'no prior finite value' —
    the first finite row is a record, a later smaller row is not, and
    the dict carry never holds NaN.  Across ranges (``parts=4``) the
    offset fold must skip the NaN the same way, and the NaN row itself
    comes back as NaN, not NULL."""
    from anomaly_detection_in_time_series_data_spark.operators import ranks

    rows = [("a", 0, float("nan")), ("a", 1, 9.0), ("a", 2, 5.0), ("a", 3, 11.0)]
    df = spark.createDataFrame(rows, "k string, seq int, v double")
    # one row per Arrow batch so the NaN row is a WHOLE earlier batch and
    # its per-key max must cross through the carry dict, not the cummax
    key = "spark.sql.execution.arrow.maxRecordsPerBatch"
    prev = spark.conf.get(key, None)
    spark.conf.set(key, "1")
    try:
        out = {
            r.seq: r
            for r in ranks.keyed_record_scan(
                df, ["k"], ["k", "seq"], "v", parts=parts
            ).collect()
        }
    finally:
        spark.conf.set(key, prev) if prev is not None else spark.conf.unset(key)
    marked = {seq: r.is_record for seq, r in out.items()}
    # seq=2 (5.0 after 9.0) must NOT be a record even though the key's
    # first-ever value was NaN; seq=3 (11.0) must be.
    assert marked[0] is False
    assert marked[1] is True and marked[2] is False and marked[3] is True
    assert out[0].v is not None and out[0].v != out[0].v  # NaN, not NULL


@pytest.mark.parametrize("parts", [1, 7, 64])
def test_keyed_exact_rank_matches_window(spark, parts):
    """keyed_exact_rank (round 12, from the partitioned-subgrain-window
    audit) must reproduce row_number()/count() OVER (PARTITION BY key
    ORDER BY ...) exactly — across range-partition boundaries (empty
    ranges at 64 parts), interleaved keys, multi-column keys, and desc
    ordering — on both sides of the size gate, with NULL keys ranked as
    one group like the window does."""
    from anomaly_detection_in_time_series_data_spark.operators import ranks

    df = spark.range(640).selectExpr(
        "id",
        "IF(id >= 600, NULL, CAST(id % 5 AS STRING)) AS k",
        "CAST((id * 131) % 997 AS BIGINT) AS v",
        # a double payload holding NaN must come back NaN on both paths
        "IF(id % 9 = 0, CAST('NaN' AS DOUBLE), id / 4.0) AS x",
    )

    def x(r):
        return "NaN" if r.x is not None and r.x != r.x else r.x

    # small_bytes=-1 forces the TWO-PHASE path (the r13 size gate would
    # otherwise — correctly — route a 600-row frame to the native window,
    # and this parity check would compare the window against itself).
    got = {
        r.id: (r.rnk, r.n, x(r))
        for r in ranks.keyed_exact_rank(
            df, ["k"], ["k", F.col("v").desc(), "id"], parts=parts,
            small_bytes=-1,
        ).collect()
    }
    w = Window.partitionBy("k").orderBy(F.col("v").desc(), "id")
    want = {
        r.id: (r.rn, r.cnt, x(r))
        for r in df.withColumn("rn", F.row_number().over(w))
        .withColumn("cnt", F.count("*").over(Window.partitionBy("k")))
        .collect()
    }
    assert got == want
    assert sum(v[2] == "NaN" for v in want.values()) == 72

    # the r13 SIZE-GATED small path must produce the identical mapping
    # (same column order/types) without the two-phase machinery
    small = ranks.keyed_exact_rank(
        df, ["k"], ["k", F.col("v").desc(), "id"], parts=parts
    )
    small_plan = plans.executed_plan(small)
    assert "MapInPandas" not in small_plan and "MapInArrow" not in small_plan
    got_small = {r.id: (r.rnk, r.n, x(r)) for r in small.collect()}
    assert got_small == want

    # multi-key
    df2 = spark.range(330).selectExpr(
        "id",
        "IF(id >= 300, NULL, CAST(id % 2 AS STRING)) AS k1",
        "IF(id >= 315, NULL, CAST(id % 3 AS BIGINT)) AS k2",
        "CAST((id * 37) % 211 AS BIGINT) AS v",
    )
    got2 = {
        r.id: (r.rnk, r.n)
        for r in ranks.keyed_exact_rank(
            df2, ["k1", "k2"], ["k1", "k2", "v", "id"], parts=parts,
            small_bytes=-1,
        ).collect()
    }
    w2 = Window.partitionBy("k1", "k2").orderBy("v", "id")
    want2 = {
        r.id: (r.rn, r.cnt)
        for r in df2.withColumn("rn", F.row_number().over(w2))
        .withColumn("cnt", F.count("*").over(Window.partitionBy("k1", "k2")))
        .collect()
    }
    assert got2 == want2
    with pytest.raises(ValueError, match="already exist"):
        ranks.keyed_exact_rank(
            df.withColumnRenamed("v", "rnk"), ["k"], ["k", "id"]
        )


def test_windowgrouplimit_prunes_topk_windows(spark, sf_dir):
    """The top-k-per-group rank filters must ride Spark's
    WindowGroupLimit rewrite (map-side partial top-k per key) — the
    justification the round-12 subgrain-window audit records for this
    class.  If a refactor drops the rank filter's pushable shape, the
    per-key frame materializes in full and this fails."""
    for name in [
        "gaussian_nll_anomalies",
        "topk_membership_churn",
        "tfidf_top_terms",
        "lsh_ann_topk",
        "modal_priority_by_status",
    ]:
        df = q.QUERIES[name](spark, sf_dir)
        assert "WindowGroupLimit" in plans.executed_plan(df), name


def test_subgrain_window_rewrites(spark, sf_dir):
    """Partitioned-subgrain-window audit outcomes, pinned:
    jonckheere keeps its justified tiny-key window over the domain-
    bounded cents grid; borda_rank_aggregation and gmm_anomaly_scores
    ride keyed_exact_rank (their only remaining keyed offset windows are
    rank-operator internals, excluded mechanically); user_activity_gini
    keeps only the count-GRID window, never a user-frame one.  Swept
    with checkpoints see-through — the audit must see through
    checkpointed frames: jonckheere's and delivery_completeness_audit's
    sites sit behind a checkpoint, and plans.gate_query must still gate
    and record them."""
    from anomaly_detection_in_time_series_data_spark.operators import (
        ranks as _ranks_mod,
    )

    hidden = {
        "jonckheere_ordered_trend": "grp",
        "delivery_completeness_audit": "event_type, missing",
    }
    for name, keys in hidden.items():
        seen: set = set()
        real, viol = plans.gate_query(
            name, partial(q.QUERIES[name], spark, sf_dir), seen
        )
        assert not plans.partitioned_subgrain_windows(real), name
        assert not viol, viol
        assert seen == {("SUBGRAIN_WINDOW_AUDIT_JUSTIFICATIONS", (name, keys))}
    with plans.see_through_checkpoints():
        jon = plans.partitioned_subgrain_windows(
            q.QUERIES["jonckheere_ordered_trend"](spark, sf_dir)
        )
        assert jon and jon[0][1] == ["grp"] and jon[0][2] == ["c"]
        for name in ["borda_rank_aggregation", "gmm_anomaly_scores"]:
            # size gate: above the gate (forced here via the module
            # threshold) the two-phase rewrite must leave NO subgrain
            # windows.
            _old_gate = _ranks_mod.KEYED_RANK_SMALL_BYTES
            _ranks_mod.KEYED_RANK_SMALL_BYTES = -1
            try:
                sites = plans.partitioned_subgrain_windows(
                    q.QUERIES[name](spark, sf_dir)
                )
                assert sites == [], (name, sites)
            finally:
                _ranks_mod.KEYED_RANK_SMALL_BYTES = _old_gate
            # ... and AT fixture scale the gate must route to the native
            # per-key window (small frames should not pay the two-phase
            # fixed costs).
            small_sites = plans.partitioned_subgrain_windows(
                q.QUERIES[name](spark, sf_dir)
            )
            assert small_sites, (
                f"{name}: size gate failed to pick the native window at "
                "fixture scale"
            )
        gini = plans.partitioned_subgrain_windows(
            q.QUERIES["user_activity_gini"](spark, sf_dir)
        )
        for _win, _pk, residual in gini:
            assert "user_id" not in residual, gini


def test_broadcast_join_check_renders_the_plan_once(monkeypatch):
    renders = []
    monkeypatch.setattr(plans.inspect, "executed_plan", lambda df: renders.append(df) or "")
    assert not plans.has_broadcast_join("df") and renders == ["df"]
