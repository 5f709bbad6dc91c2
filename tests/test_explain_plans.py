"""Physical-plan audit: the scale properties the engine promises must be visible in
the optimized plans — pushed filters, pruned scans, broadcast dimension joins,
distributed top-k. A regression here is a 100TB problem long before it is a
correctness problem.
"""

from __future__ import annotations

import pytest

from ortholog_pipeline_spark import queries as Q
from ortholog_pipeline_spark.operators import iterate as IT

SF = "/root/testdata/sf0.001"


def _frames(spark, name: str) -> list:
    """The query's frame, then every frame it stores through
    ``round_checkpoint``: a checkpoint cuts the query's own plan at a
    LogicalRDD leaf, and the audited operators may sit below it."""
    stored = []
    real = IT.round_checkpoint
    IT.round_checkpoint = lambda df: stored.append(df) or real(df)
    try:
        return [Q.queries()[name](spark, SF), *stored]
    finally:
        IT.round_checkpoint = real


def _explain(spark, df) -> str:
    return df._jdf.queryExecution().explainString(
        spark._jvm.org.apache.spark.sql.execution.ExplainMode.fromString("formatted")
    )


def _plan(spark, name: str) -> str:
    """The formatted plans of the query and of every frame it stores."""
    return "\n".join(_explain(spark, f) for f in _frames(spark, name))


def test_filter_and_projection_pushed_to_scan(spark):
    plan = _plan(spark, "f_filter_projection_pushdown")
    assert "GreaterThanOrEqual(l_shipdate" in plan  # predicate reached the scan
    assert "LessThanOrEqual(l_discount,0.07)" in plan
    # column pruning: the lineitem scan reads exactly the two used columns
    assert "ReadSchema: struct<l_discount:double,l_shipdate:timestamp_ntz>" in plan


def test_global_topk_is_take_ordered_not_window(spark):
    plan = _plan(spark, "j_join_group_topk")
    assert "TakeOrderedAndProject" in plan
    assert "Window" not in plan  # a global window would single-partition the data


def test_dimension_joins_broadcast(spark):
    plan = _plan(spark, "j14_report_join_prefer_best")
    assert plan.count("BroadcastHashJoin") >= 2
    assert "SortMergeJoin" not in plan


def test_best_fit_window_is_partitioned(spark):
    plan = _plan(spark, "w1_best_fit_pick")
    # the W1 windows must carry a partition spec (no whole-table single partition)
    for line in plan.splitlines():
        if "windowspecdefinition" in line.lower():
            assert "l_orderkey" in line


def test_species_load_dag_has_no_unpartitioned_window(spark, tmp_path):
    """End-to-end species_load plan audit: every window in the flow's DAG must carry
    a partition spec — an ORDER-only window funnels the whole frame through one
    partition (the 100TB killer the surrogate-key bucketing exists to avoid)."""
    from tests.test_plans import RAT, RUN_TS, _relations, _seed_store

    store = _seed_store(spark, tmp_path)
    from ortholog_pipeline_spark.plans import run_species_load

    res = run_species_load(
        store, _relations(spark), RUN_TS, RAT, delete_threshold_pct=100.0
    )
    part_cols = (
        "src_rgd_id", "dest_rgd_id", "master_rgd_id", "_skb", "dest_species"
    )
    for frame in (res.picks, res.verdicts, res.assoc_verdicts, res.inserted):
        plan = frame._jdf.queryExecution().explainString(
            spark._jvm.org.apache.spark.sql.execution.ExplainMode.fromString(
                "formatted"
            )
        )
        for line in plan.splitlines():
            if "windowspecdefinition" in line.lower():
                assert any(c in line for c in part_cols), line


def test_pricing_summary_partial_aggregation(spark):
    plan = _plan(spark, "a4_pricing_summary")
    # map-side combine: partial aggregates run before the exchange, so the shuffle
    # moves one row per (group × partition), not the raw table
    assert "partial_sum" in plan
    assert plan.index("partial_sum") < plan.index("Exchange") or "HashAggregate" in plan


def test_window_family_single_shuffle(spark):
    """Six analytic functions over the same (partition, order) must collapse to
    window operators fed by ONE exchange — not one shuffle per function."""
    plan = _plan(spark, "w_window_family")
    assert plan.count("Arguments: hashpartitioning") == 1  # one exchange node
    assert plan.count(") Window") == 1  # one Window operator for all six funcs


def test_asof_join_no_nested_loop(spark):
    plan = _plan(spark, "j_asof_event_state")
    assert "CartesianProduct" not in plan
    assert "BroadcastNestedLoopJoin" not in plan


def test_pivot_no_value_discovery_scan(spark):
    """Explicit pivot values: exactly one scan of events (no extra distinct
    pass to discover the pivot columns)."""
    plan = _plan(spark, "a_pivot_event_matrix")
    assert plan.count("Location: InMemoryFileIndex") == 1  # one scan node


def test_deep_join_broadcasts_all_dimensions(spark):
    """Q5-shape join: every dimension broadcasts; the only shuffle join pair is
    lineitem-orders; date + region filters reach the scans."""
    plan = _plan(spark, "j_deep_join_revenue")
    assert plan.count("BroadcastHashJoin") >= 4
    assert plan.count("SortMergeJoin") <= 1
    assert "1996-01-01" in plan  # order-date bound pushed to the orders scan
    assert "ASIA" in plan or "IsNotNull(r_name)" in plan  # region filter pushed


def test_equidepth_histogram_no_global_window(spark):
    """The distributed-rank histogram must not contain an unpartitioned Window
    node (the whole point vs the oracle's naive ROW_NUMBER() OVER ())."""
    plan = _plan(spark, "a_histogram_equidepth")
    assert "Window" not in plan
    assert "RangePartitioning" in plan or "rangepartitioning" in plan


def test_heavy_hitters_take_ordered(spark):
    """Global top-k must be heap-merged (TakeOrderedAndProject), never a full
    global sort or single-partition window."""
    plan = _plan(spark, "a_heavy_hitters")
    assert "TakeOrderedAndProject" in plan
    assert "Window" not in plan


def test_weighted_sample_take_ordered(spark):
    """A-ES weighted top-k must run as per-partition heaps + k-row driver merge
    (TakeOrderedAndProject), never a global sort or single-partition window."""
    plan = _plan(spark, "sample_weighted_topk")
    assert "TakeOrderedAndProject" in plan
    assert "Window" not in plan


def test_quantize_is_map_side_only(spark):
    """int8 quantization is a pure projection: no exchange, no join, no
    aggregate — one scan, codegen array expressions."""
    plan = _plan(spark, "emb_quantize_int8")
    assert "Exchange" not in plan
    assert "Join" not in plan
    assert plan.count("Location: InMemoryFileIndex") == 1


def test_kmeans_assignment_no_join(spark):
    """The k-means final assignment must be a map-side argmin over literal
    centroids — no join against a centroid table, no cartesian product."""
    plan = _plan(spark, "emb_kmeans_assign")
    assert "CartesianProduct" not in plan
    assert "Join" not in plan


def test_validation_suite_single_scan_per_table(spark):
    """The single-pass checks must not multiply scans: orders is read twice
    (agg pass + RI anti-join build) and lineitem twice (agg pass + RI probe) —
    never once per check."""
    plan = _plan(spark, "a_validation_suite")
    assert plan.count("Location: InMemoryFileIndex") <= 4


def test_incremental_dedup_broadcasts_batch_side(spark):
    """The CDC probe must broadcast the (small) batch band keys against the
    index — a shuffle join here would move the corpus per ingest."""
    plan = _plan(spark, "dedup_incremental_minhash")
    assert "BroadcastHashJoin" in plan
    assert "CartesianProduct" not in plan


def test_perplexity_count_tables_broadcast(spark):
    """Both LM count tables (bigram, unigram) must broadcast onto the scoring
    stream — they are vocabulary-bounded, never corpus-bounded."""
    plan = _plan(spark, "text_bigram_perplexity")
    assert plan.count("BroadcastHashJoin") >= 2


def test_sliding_window_single_shuffle(spark):
    """Hop-window expansion happens plan-side (explode), then ONE aggregation
    exchange on the (window, user) key."""
    plan = _plan(spark, "stream_sliding_window")
    assert plan.count("Arguments: hashpartitioning") == 1


def test_anomaly_stats_broadcast_back(spark):
    plan = _plan(spark, "a_anomaly_zscore")
    assert "BroadcastHashJoin" in plan
    assert "SortMergeJoin" not in plan


def test_spatial_join_no_cartesian(spark):
    """Grid blocking must make the proximity join an equi-join on cell keys —
    never a cartesian/nested-loop distance join."""
    plan = _plan(spark, "j_spatial_grid_join")
    assert "CartesianProduct" not in plan
    assert "BroadcastNestedLoopJoin" not in plan


def test_cooccurrence_joins_on_basket(spark):
    """The pair generation must shuffle on the basket key (equi-join), with
    the item count tables broadcast."""
    plan = _plan(spark, "j_cooccurrence_lift")
    assert "CartesianProduct" not in plan
    assert "BroadcastHashJoin" in plan  # item_n lookups


def test_ewma_single_group_shuffle(spark):
    """applyInPandas must introduce exactly one group-key exchange."""
    plan = _plan(spark, "w_ewma_grouped_map")
    assert plan.count("Arguments: hashpartitioning") == 1


def test_countmin_probe_broadcasts_into_sketch(spark):
    """CM estimate joins the tiny probe frame into the sketch as a broadcast —
    the sketch (bounded at depth*width rows) must never sort-merge."""
    plan = _plan(spark, "a_countmin_freq")
    assert "BroadcastHashJoin" in plan
    # exact top-20 side: global top-k without a single-partition window
    assert "TakeOrderedAndProject" in plan
    assert "Window" not in plan


def test_kmv_rank_filter_compiles_to_group_limit(spark):
    """The rn <= k filter over the per-group hash sort must run as
    WindowGroupLimit (each group keeps k rows through the sort) — not as a
    full window materialization followed by a filter."""
    plan = _plan(spark, "a_kmv_set_ops")
    assert "WindowGroupLimit" in plan


def test_substring_spans_two_bounded_shuffles(spark):
    """Span hashing is map-side; the wide ops are exactly the two aggregation
    exchanges the exact distinct-doc count requires — (span_hash, doc_id)
    dedup, then span_hash — both preceded by partial aggregation, and no join
    anywhere."""
    import re

    plan = _plan(spark, "dedup_substring_spans")
    assert "Join" not in plan
    assert len(re.findall(r"\(\d+\) Exchange", plan)) == 2


def test_quality_classifier_is_map_side_only(spark):
    """fastText-shape scoring is pure projection: no exchange, no join, no
    window — the whole plan must collapse into the scan's codegen stage."""
    plan = _plan(spark, "text_quality_classifier")
    assert "Exchange" not in plan
    assert "Join" not in plan


def test_keyword_search_take_ordered(spark):
    """Top-20 search results rank via heap-merged TakeOrderedAndProject —
    wave-13 pin: never a single-partition ranking window."""
    plan = _plan(spark, "j_keyword_search")
    assert "TakeOrderedAndProject" in plan or "Window" in plan
    # the term filter must run before the aggregation shuffle
    assert "spark" in plan and "merge" in plan


def test_lag_features_single_window_shuffle(spark):
    """Five lag/frame features over one (user, time) ordering must share a
    single exchange — Catalyst collapses same-spec windows."""
    plan = _plan(spark, "w_lag_features")
    assert plan.count("Arguments: hashpartitioning") == 1


def test_sorted_neighborhood_window_is_blocked(spark):
    """SNM windows must partition by the blocking key (blk) — a global sort
    window would single-partition the corpus."""
    plan = _plan(spark, "dedup_sorted_neighborhood")
    for line in plan.splitlines():
        if "windowspecdefinition" in line.lower():
            assert "blk" in line, line


def test_mad_outliers_broadcasts_group_stats(spark):
    """Both 5-row stat tables (median, MAD) broadcast back onto events —
    no sort-merge join against the fact table."""
    plan = _plan(spark, "a_mad_outliers")
    assert plan.count("BroadcastHashJoin") >= 2
    assert "SortMergeJoin" not in plan


def test_linreg_is_one_partial_agg_shuffle(spark):
    """The five OLS sufficient statistics accumulate map-side: exactly one
    aggregation exchange on event_type, preceded by partial_sum."""
    plan = _plan(spark, "a_grouped_linreg")
    assert "partial_sum" in plan
    assert plan.count("Arguments: hashpartitioning") == 1


def test_rp_reduce_projection_is_map_side(spark):
    """The 64->8 projection must be pure codegen (no exchange before the
    tiny broadcast crossJoin); the query side broadcasts."""
    plan = _plan(spark, "emb_rp_reduce")
    assert "BroadcastNestedLoopJoin" in plan or "CartesianProduct" not in plan
    assert "SortMergeJoin" not in plan


def test_containment_joins_on_gram_key(spark):
    """Pair generation must be the shingle equi-join — a cartesian product
    here is the 100TB failure the gram key exists to prevent."""
    plan = _plan(spark, "dedup_containment")
    assert "CartesianProduct" not in plan
    assert "BroadcastNestedLoopJoin" not in plan


def test_gini_uses_distributed_rank(spark):
    """The Gini rank must come from range-repartition + Arrow local index —
    never an unpartitioned ROW_NUMBER window."""
    plan = _plan(spark, "a_gini_concentration")
    assert "Window" not in plan
    assert "rangepartitioning" in plan.lower()


def test_ohlc_single_aggregation_shuffle(spark):
    """OHLC is one groupBy with mergeable min_by/max_by partials: exactly one
    aggregation exchange, partial aggregation before it."""
    plan = _plan(spark, "w_ohlc_bars")
    assert plan.count("Arguments: hashpartitioning") == 1
    assert "partial_min_by" in plan or "partial_" in plan


def test_scd2_pit_join_is_key_join_not_range_cross(spark):
    """The PIT join must shuffle on user_id with the interval as residual —
    never a nested-loop range join."""
    plan = _plan(spark, "j_scd2_pit_join")
    assert "CartesianProduct" not in plan
    assert "BroadcastNestedLoopJoin" not in plan


def test_streaks_share_one_user_shuffle(spark):
    """Gaps-and-islands: both windows and both aggregations key on user_id —
    the plan must not re-shuffle between them."""
    plan = _plan(spark, "w_activity_streaks")
    assert plan.count("Arguments: hashpartitioning") <= 2


def test_decayed_popularity_take_ordered(spark):
    plan = _plan(spark, "a_decayed_popularity")
    assert "TakeOrderedAndProject" in plan


def test_centroid_classifier_broadcasts_centroids(spark):
    """The 10-row centroid table must broadcast into the distance argmin —
    a shuffle join against the corpus would be a 100TB regression."""
    plan = _plan(spark, "emb_centroid_classifier")
    assert "BroadcastNestedLoopJoin" in plan or "BroadcastHashJoin" in plan
    assert "SortMergeJoin" not in plan


def test_windowed_topk_group_limit(spark):
    """rn <= 3 over the per-window rank must compile to WindowGroupLimit
    (k rows per window survive the sort, not the whole frame)."""
    plan = _plan(spark, "stream_windowed_topk")
    assert "WindowGroupLimit" in plan


def test_bfs_rounds_are_key_joins(spark):
    """Every BFS round must expand via the node-key equi-join — no nested
    loops, no cartesian frontier."""
    plan = _plan(spark, "g_bfs_distance")
    assert "CartesianProduct" not in plan
    assert "BroadcastNestedLoopJoin" not in plan


def test_cusum_prefix_window_partitioned(spark):
    """The CUSUM prefix sum must be partitioned by series key; totals
    broadcast back."""
    plan = _plan(spark, "w_changepoint_cusum")
    for line in plan.splitlines():
        if "windowspecdefinition" in line.lower():
            assert "event_type" in line, line
    assert "BroadcastHashJoin" in plan


def test_small_qty_broadcasts_stats(spark):
    """Q17 shape: part dimension and per-part stats both broadcast — the only
    shuffle is the stats aggregation itself."""
    plan = _plan(spark, "j_small_qty_revenue")
    assert plan.count("BroadcastHashJoin") >= 2
    assert "SortMergeJoin" not in plan


def test_prospect_nations_anti_join(spark):
    """Q22 shape: NOT EXISTS must compile to a hash anti join (broadcast or
    shuffled), never a per-row probe."""
    plan = _plan(spark, "a_prospect_nations")
    assert "LeftAnti" in plan
    assert "CartesianProduct" not in plan


def test_survival_grid_broadcast(spark):
    """The 7-row horizon grid must broadcast onto the user aggregate."""
    plan = _plan(spark, "a_survival_curve")
    assert "BroadcastNestedLoopJoin" in plan or "BroadcastHashJoin" in plan
    assert "SortMergeJoin" not in plan


def test_template_mining_single_scan(spark):
    """Masking is map-side: one events scan feeds the template aggregate."""
    plan = _plan(spark, "text_template_mining")
    assert plan.count("Location: InMemoryFileIndex") == 1


def test_scene_cuts_lag_partitioned_by_media(spark):
    """The frame-delta LAG must partition by media_id — never a global
    frame ordering."""
    plan = _plan(spark, "mm_scene_cuts")
    for line in plan.splitlines():
        if "windowspecdefinition" in line.lower():
            assert "media_id" in line, line


def test_bitmap_retention_is_constant_width(spark):
    """The bitmap aggregation must shuffle one long per day (bit_or partials
    merge map-side); the LAG window is calendar-bounded (ORDER-only is fine
    over <= one row per day)."""
    plan = _plan(spark, "a_bitmap_retention")
    assert "partial_bit_or" in plan or "bit_or" in plan
    assert plan.count("Location: InMemoryFileIndex") == 1


def test_incremental_join_broadcasts_dimension_twice(spark):
    """Both slices (state + delta) must broadcast the customer dimension."""
    plan = _plan(spark, "s_incremental_join")
    assert plan.count("BroadcastHashJoin") >= 2
    assert "SortMergeJoin" not in plan


def test_share_of_parent_no_second_fact_pass(spark):
    """The region total must come from a window over the 25-row child
    aggregate — orders is scanned exactly once."""
    plan = _plan(spark, "a_share_of_parent")
    scans = [l for l in plan.splitlines() if "Location: InMemoryFileIndex" in l]
    assert sum("orders" in l for l in scans) == 1, scans


def test_ppjoin_candidates_from_gram_equijoin(spark):
    """PPJoin candidate generation must be the prefix-gram equi-join —
    never a cartesian pair enumeration."""
    plan = _plan(spark, "dedup_ppjoin")
    assert "CartesianProduct" not in plan
    assert "BroadcastNestedLoopJoin" not in plan


def test_mmr_rounds_stay_on_candidate_frame(spark):
    """Every MMR round must be broadcast-sized: no sort-merge join anywhere
    (the corpus-sized work ended at the ANN stage)."""
    plan = _plan(spark, "emb_mmr_rerank")
    assert "SortMergeJoin" not in plan


def test_interpolation_windows_share_user_shuffle(spark):
    """Grid explode + both IGNORE-NULLS context windows must all key on
    user_id — no extra exchanges between them."""
    plan = _plan(spark, "w_linear_interpolation")
    for line in plan.splitlines():
        if "windowspecdefinition" in line.lower():
            assert "user_id" in line, line


def test_weighted_median_partitioned_prefix(spark):
    """The weight prefix-sum must partition by the group key — the exact
    weighted median never funnels a group through one task."""
    plan = _plan(spark, "a_weighted_median")
    for line in plan.splitlines():
        if "windowspecdefinition" in line.lower():
            assert "l_returnflag" in line, line


def test_kcore_rounds_semi_join(spark):
    """Each peel round must restrict edges via hash semi-joins on the node
    key — no nested loops."""
    plan = _plan(spark, "g_kcore_peel")
    assert "LeftSemi" in plan
    assert "CartesianProduct" not in plan


def test_session_paths_take_ordered(spark):
    plan = _plan(spark, "a_session_paths")
    assert "TakeOrderedAndProject" in plan


def test_vad_islands_partitioned_by_media(spark):
    plan = _plan(spark, "mm_audio_vad_segments")
    for line in plan.splitlines():
        if "windowspecdefinition" in line.lower():
            assert "media_id" in line, line


# ---------------------------------------------------------------------------
# Wave 20+ plan pins
# ---------------------------------------------------------------------------


def test_q10_topk_plan(spark):
    """Q10 shape: broadcast dims, date filter pushed to the orders scan,
    heap-merged top-20 (never a global sort or single-partition window)."""
    plan = _plan(spark, "j_returned_items_topk")
    assert "TakeOrderedAndProject" in plan
    assert plan.count("BroadcastHashJoin") >= 2
    assert "EqualTo(l_returnflag,R)" in plan  # pushed into the lineitem scan
    assert "GreaterThanOrEqual(o_orderdate" in plan  # pushed into the orders scan


def test_q4_exists_is_semi_join(spark):
    """EXISTS must compile to a LEFT SEMI join — an inner join + distinct
    would multiply fact rows then pay a dedup shuffle."""
    plan = _plan(spark, "j_order_priority_exists")
    assert "LeftSemi" in plan
    assert "CartesianProduct" not in plan


def test_q16_not_in_is_anti_join(spark):
    plan = _plan(spark, "a_brand_supplier_counts")
    assert "LeftAnti" in plan
    assert "BroadcastHashJoin" in plan


def test_phash_banding_no_cartesian(spark):
    """The pHash candidate join must be an equi-join on (band, band_val) —
    a cartesian/BNL product here means the banding got optimized away."""
    plan = _plan(spark, "mm_phash_neardup")
    assert "CartesianProduct" not in plan
    assert "BroadcastNestedLoopJoin" not in plan


def test_link_prediction_no_cartesian(spark):
    plan = _plan(spark, "g_link_prediction")
    assert "CartesianProduct" not in plan
    assert "BroadcastNestedLoopJoin" not in plan


def test_bpe_rounds_reuse_vocab_no_collect_shape(spark):
    """BPE training: each round's winner joins back via broadcast (1-row),
    and the plan never falls into a cartesian product."""
    plan = _plan(spark, "text_bpe_train_rounds")
    assert "CartesianProduct" not in plan
    # three rounds -> three broadcast applications of the 1-row winner
    assert plan.count("BroadcastNestedLoopJoin") + plan.count("BroadcastHashJoin") >= 3


def test_dynamic_partition_pruning_on_partitioned_write(spark, tmp_path):
    """The layout story end-to-end: a fact table written partitionBy(key)
    must be dynamically pruned when joined to a filtered dimension — the
    plan carries a dynamicpruning subquery on the partition column, so at
    scale the scan reads only the partitions the dimension selects."""
    from pyspark.sql import functions as F

    li = spark.read.parquet(f"{SF}/lineitem.parquet").limit(2000)
    fact_path = str(tmp_path / "fact")
    li.withColumn("rf", F.col("l_returnflag")).write.partitionBy("rf").parquet(
        fact_path
    )
    fact = spark.read.parquet(fact_path)
    dim = spark.createDataFrame(
        [("R", "returned")], schema="rf string, label string"
    )
    joined = fact.join(F.broadcast(dim), "rf").groupBy("label").count()
    plan = joined._jdf.queryExecution().explainString(
        spark._jvm.org.apache.spark.sql.execution.ExplainMode.fromString(
            "formatted"
        )
    )
    assert "dynamicpruning" in plan.lower() or "PartitionFilters: [isnotnull(rf" in plan, plan[:2000]


def test_pmi_adjacency_join_is_hash_join(spark):
    """The pos+1 adjacency join must run as an equi hash join on
    (doc_id, pnext)=(doc_id, p2) — if the key extraction regresses, the
    join degrades to a per-document nested loop (quadratic in doc length).
    The only permitted BNL is the 1-row corpus-total broadcast."""
    df = Q.queries()["text_collocations_pmi"](spark, SF)
    plan = df._jdf.queryExecution().explainString(
        spark._jvm.org.apache.spark.sql.execution.ExplainMode.fromString("simple")
    )
    joins = [
        ln for ln in plan.splitlines() if "Join" in ln and "BuildRight" in ln
    ]
    big = [ln for ln in joins if "pnext" in ln]
    assert big and all("HashJoin" in ln for ln in big), plan[:1500]


def test_skyline_is_single_window_no_join(spark):
    plan = _plan(spark, "a_skyline_pareto_front")
    assert "Join" not in plan
    assert "Window" in plan


def test_hill_uses_heap_topk(spark):
    plan = _plan(spark, "a_hill_tail_index")
    assert "TakeOrderedAndProject" in plan


def test_no_undeclared_cartesian_products(spark):
    """Whole-registry plan hygiene: a CartesianProduct may appear ONLY in
    the two documented brute-force baselines (their LSH twins are the
    scale paths). Any other occurrence is an accidental O(n^2) — the
    regression this net exists to catch. (BroadcastNestedLoopJoins of
    1-row statistic frames are legitimate and not flagged here; the
    specific big-side BNL hazards have their own pins above.)"""
    # the three declared exhaustive baselines: two brute-force dedup
    # references and the sampled ground-truth pass of the blocking audit
    ALLOWED = {
        "dedup_embedding_cosine",
        "ngram_jaccard_pairs",
        "er_blocking_quality",
    }
    offenders = []
    for name, fn in sorted(Q.queries().items()):
        df = fn(spark, SF)
        plan = df._jdf.queryExecution().explainString(
            spark._jvm.org.apache.spark.sql.execution.ExplainMode.fromString(
                "simple"
            )
        )
        if "CartesianProduct" in plan and name not in ALLOWED:
            offenders.append(name)
    assert not offenders, offenders


def test_flow_world_seed_bounds_pushed_to_scan(spark):
    """The flow worlds' seed bounds (p_partkey <= N) must reach the parquet
    scan: a filter on cast(p_partkey) does NOT push (only IsNotNull made it,
    verified r3), so the derivation filters the raw column before casting —
    at 100 TB the difference is five full table scans per flow call."""
    from ortholog_pipeline_spark.queries_flows import _species_world

    w = _species_world(spark, SF)
    plan = w["orthologs"]._jdf.queryExecution().explainString(
        spark._jvm.org.apache.spark.sql.execution.ExplainMode.fromString(
            "formatted"
        )
    )
    assert "LessThanOrEqual(p_partkey,300)" in plan


def test_iterative_graph_queries_truncate_round_lineage(spark):
    """r10 optimization pin: the unrolled peel/BFS/LPA rounds must not carry
    the full edge-derivation lineage into every round's plan. Before the fix
    g_kcore_peel's single-action plan held 564 Exchange / 750 parquet-scan
    operators (the degree subtree re-embedded the edge subtree ~5x per
    round, nothing deduped at plan time) and executed 3.7x slower than the
    lineage-truncated shape. The checkpointed plans bottom out in a
    LogicalRDD leaf ("Scan ExistingRDD"), so the parquet scan count stays
    O(1) instead of O(5^rounds)."""
    for name, bound in (("g_kcore_peel", 4), ("g_bfs_distance", 8),
                        ("g_label_propagation", 4)):
        plan = _explain(spark, _frames(spark, name)[0])
        n_scans = plan.count("Scan parquet")
        assert n_scans <= bound, f"{name}: {n_scans} parquet scans (> {bound})"
