"""Benchmark harness: runs the headline queries and the scaling probes
(``tools/probes.py``) at $SPARK_GRAFT_SF_DIR (default /root/testdata/sf0.1) on
local[$SPARK_GRAFT_CPUS] and prints two JSON lines, the full record and then
the compact one: {"metric": ..., "value": total_sec, "unit": "sec", ...}.

Each query is forced with a count() so the full plan executes; a warmup query runs
first so JVM/codegen startup isn't billed to the first measurement.
"""

from __future__ import annotations

import json
import os
import sys
import time

sys.path.insert(0, os.path.dirname(os.path.abspath(__file__)))

from ortholog_pipeline_spark import queries as Q  # noqa: E402
from ortholog_pipeline_spark.oracle import git_head  # noqa: E402
from ortholog_pipeline_spark.session import get_spark  # noqa: E402
from tools import probes as P  # noqa: E402

#: Headline set: one per operator family — aggregation, join+topk, windows, CDC,
#: set-closure, anti-joins, text analytics, dedup (exact/LSH/jaccard), ANN.
HEADLINE = [
    "a4_pricing_summary",
    "j_join_group_topk",
    "j1_resolution_verdict",
    "w1_best_fit_pick",
    "w2_duplicate_cleanup",
    "j7_conflict_verdict",
    "j10_cdc_sync",
    "a2_merge_dup_relations",
    "u4_complement_closure",
    "j8_missing_reverse",
    "j12_no_orthologs_report",
    "stream_tumbling_window",
    "text_token_stats",
    "text_quality_score",
    "dedup_exact",
    "dedup_minhash_lsh",
    "ann_cosine_topk",
    "ann_lsh_topk",
    "ann_ivf_topk",
    # round-2 surface: clustering, as-of, sessions, sampling, PII, rollup
    "dedup_cluster_assign",
    "j_asof_event_state",
    "stream_session_window",
    "sample_stratified_exact",
    "text_pii_scrub",
    "a_rollup_revenue",
    "j_deep_join_revenue",
    "text_tfidf_topterms",
    "a_hll_distinct",
    "g_pagerank_fixedpoint",
    # round-2 wave 2: k-means, validation, weighted draw, quantization, repetition
    "emb_kmeans_assign",
    "a_validation_suite",
    "sample_weighted_topk",
    "emb_quantize_int8",
    "text_repetition_stats",
    # round-2 wave 3: incremental dedup, chunking, layout, skew, curation, vocab
    "dedup_incremental_minhash",
    "doc_context_chunks",
    "o_zorder_layout",
    "j_salted_skew_join",
    "emb_semantic_prune",
    "text_vocab_encode",
    # round-2 wave 4: hop windows, LM scoring, anomaly flags, audio chunks
    "stream_sliding_window",
    "text_bigram_perplexity",
    "a_anomaly_zscore",
    "mm_audio_chunks",
    # round-2 wave 6: scaling, runtime filters, graph triangles
    "a_winsorize_normalize",
    "j_bloom_prefilter",
    "g_triangle_count",
    "w_ewma_grouped_map",
    "a_pareto_customers",
    "a_event_transitions",
    "j_spatial_grid_join",
    "j_cooccurrence_lift",
    "a_ab_test_welch",
    # round-2 wave 7: mergeable sketches, substring dedup, model-based quality
    "a_countmin_freq",
    "a_kmv_set_ops",
    "dedup_substring_spans",
    "text_quality_classifier",
    "sample_kfold",
    # round-2 wave 8: join-size estimation, BPE stats, mixture, k-anon, DAU
    "a_cm_join_size",
    "text_bpe_pair_stats",
    "sample_domain_mixture",
    "a_k_anonymity",
    "w_cumulative_distinct_users",
    # round-2 wave 9: entity resolution
    "er_entity_clusters",
    # round-2 wave 10: feature prep + drift monitoring
    "a_target_encoding",
    "a_drift_chi2",
    # round-2 wave 11: incremental aggregates, attribution, rate limiting
    "s_incremental_agg",
    "j_attribution_last_touch",
    "w_rate_limit_flags",
    # round-2 wave 12: time-weighted averages
    "w_time_weighted_avg",
    # round-2 wave 13: boilerplate, search index, SNM blocking, ML-table trio
    "text_boilerplate_ngrams",
    "text_inverted_index",
    "dedup_sorted_neighborhood",
    "a_grouped_linreg",
    "a_decile_lift",
    # round-2 wave 14: JL projection, containment, Gini rank, OHLC
    "emb_rp_reduce",
    "dedup_containment",
    "a_gini_concentration",
    "w_ohlc_bars",
    # round-2 wave 15: SCD2 PIT join, streaks, centroid classifier, windowed topk
    "j_scd2_pit_join",
    "w_activity_streaks",
    "emb_centroid_classifier",
    "stream_windowed_topk",
    # round-2 wave 16: BFS, CUSUM, Q17/Q22 shapes
    "g_bfs_distance",
    "w_changepoint_cusum",
    "j_small_qty_revenue",
    "a_prospect_nations",
    # round-2 wave 17: survival, diversity, templates, degrees, scene cuts
    "a_survival_curve",
    "text_template_mining",
    "g_degree_distribution",
    "mm_scene_cuts",
    # round-2 wave 18: bitmap retention, incremental join, PPJoin, MMR
    "a_bitmap_retention",
    "s_incremental_join",
    "dedup_ppjoin",
    "emb_mmr_rerank",
    # round-2 wave 19: interpolation, weighted median, k-core, paths, VAD
    "w_linear_interpolation",
    "a_weighted_median",
    "g_kcore_peel",
    "a_session_paths",
    "mm_audio_vad_segments",
    # round-2 wave 20: classic decision-support shapes (TPC-H Q4..Q18 analogs)
    "j_returned_items_topk",
    "a_promo_revenue",
    "j_order_priority_exists",
    "a_market_share",
    "j_customer_order_distribution",
    "a_top_supplier",
    "a_brand_supplier_counts",
    "j_large_qty_orders",
    # round-2 wave 21: evaluation statistics (AUC, NDCG, calibration, drift, MI)
    "a_auc_rank",
    "a_ndcg_at_k",
    "a_calibration_bins",
    "a_psi_drift",
    "a_mutual_information",
    "a_cramers_v",
    # round-2 wave 22: community detection, link prediction, GNN sampling
    "g_label_propagation",
    "g_link_prediction",
    "g_neighbor_sampling",
    # round-2 wave 23: readability, vocabulary profile, ACF, rolling corr, pHash
    "text_readability",
    "text_hapax_zipf",
    "w_acf_daily",
    "w_rolling_corr",
    "mm_phash_neardup",
    # round-2 wave 24: bootstrap CI, KS test, feature hashing, class weights, URL dedup
    "sample_poisson_bootstrap",
    "a_ks_test",
    "a_feature_hashing",
    "sample_class_weights",
    "dedup_url_canonical",
    # round-2 wave 25: BPE training rounds, Benford, entropy, l-diversity
    "text_bpe_train_rounds",
    "a_benford_law",
    "a_entropy_columns",
    "a_l_diversity",
    # round-2 wave 26: power-iteration PCA, covariance screen, moments, forecasting
    "emb_power_iteration",
    "emb_covariance_topk",
    "a_moments_skew_kurtosis",
    "w_forecast_baselines",
    # round-2 wave 27: triplet mining, partition-skew report, norm outliers
    "emb_triplet_mining",
    "o_partition_skew_report",
    "emb_norm_outliers",
    # round-2 wave 28: LSH recall scorecard, watermark sizing, stickiness
    "dedup_lsh_scorecard",
    "w_watermark_lateness",
    "a_dau_mau_stickiness",
    # round-2 wave 29: dedup keeper election, RFM segmentation
    "dedup_cluster_keepers",
    "a_rfm_segments",
    # round-2 wave 30: cohort LTV, SRM check, Zipf exponent
    "w_cohort_ltv",
    "a_srm_check",
    "a_zipf_exponent",
    # round-2 wave 31: fair-share waterfill, throughput profile
    "a_fair_share_waterfill",
    "w_throughput_profile",
    # round-2 wave 32: density clustering
    "j_dbscan_grid",
    # round-2 wave 33: cross-source redundancy
    "a_source_overlap_matrix",
    "a_dp_noisy_counts",
    "w_anomaly_seasonal_adjusted",
    "a_variant_shred",
    # round-2 wave 36: temporal absence, SPC chart, drawdown
    "j_abandoned_actions",
    "w_xmr_control",
    "w_max_drawdown",
    # round-2 wave 37: negative sampling, seasonality strength
    "sample_negative_sampling",
    "a_seasonality_strength",
    # round-2 wave 38: LSH planner, growth accounting
    "a_lsh_param_planner",
    "a_growth_accounting",
    # round-2 wave 39: Theil decomposition, position-based attribution
    "a_theil_index",
    "j_attribution_position_based",
    # round-2 wave 40: HHI, distinctive terms
    "a_market_hhi",
    "text_distinctive_terms",
    # round-2 wave 41: seasonal decomposition, burstiness
    "a_seasonal_decompose",
    "text_term_burstiness",
    # round-2 wave 42: PMI collocations, Neyman allocation
    "text_collocations_pmi",
    "sample_neyman_allocation",
    # round-2 wave 43: price indices, ABC-XYZ
    "a_price_index",
    "a_abc_xyz_classes",
    # round-2 wave 44: similarity calibration, bounce rate
    "emb_sim_calibration",
    "a_bounce_rate",
    # round-2 wave 45: vocab coverage, capture-recapture
    "text_vocab_coverage",
    "a_capture_recapture",
    # round-2 wave 46: clustering eval, feature store
    "emb_cluster_purity_ari",
    "a_user_feature_vector",
    # round-2 wave 47: skyline, assortativity
    "a_skyline_pareto_front",
    "g_degree_assortativity",
    # round-2 wave 48: Granger screen, Bellman-Ford
    "w_granger_screen",
    "g_bellman_ford",
    # round-2 wave 49: Simpson screen, catalog coverage
    "a_simpsons_paradox",
    "a_catalog_coverage",
    # round-2 wave 50: F1 operating point
    "a_f1_threshold",
    # round-2 wave 51: retention half-life
    "a_retention_halflife",
    # round-2 wave 52: Heaps law, peak detection
    "text_heaps_law",
    "w_peak_detection",
    # round-2 wave 53: James-Stein shrinkage, Hill tail index
    "a_james_stein_means",
    "a_hill_tail_index",
    # round-2 wave 54: geodesic nearest neighbor
    "j_haversine_nearest",
    # round-2 wave 55: FD discovery
    "a_fd_discovery",
    "a_ind_discovery",
    "a_ucc_discovery",
    "a_od_discovery",
    "w_p_chart",
    "a_variance_ratio_test",
    # round-2 wave 61: revenue bridge, segment migration
    "a_price_volume_mix",
    "a_segment_migration",
    "er_blocking_quality",
    "j_bm25_search",
    # round-2 wave 64: association rules, interrupted time series
    "a_association_rules",
    "w_interrupted_ts",
    "w_runs_test",
    # round-2 wave 66: knapsack selection, newsvendor quantile
    "a_budget_knapsack",
    "a_newsvendor_quantile",
    "a_ab_proportions_z",
    # round-2 wave 68: process capability, JS divergence
    "a_process_capability",
    "text_js_divergence",
    "a_pr_auc",
    # round-2 wave 70: normality test, regression influence
    "a_jarque_bera",
    "w_cooks_distance",
    # round-2 wave 71: PACF, robust skewness
    "w_pacf",
    "a_bowley_skewness",
    # round-2 wave 72: Spearman, FD histogram sizing
    "w_spearman_daily",
    "a_fd_histogram",
    # round-2 wave 73: effect size, Mann-Kendall trend
    "a_effect_size_cohens_d",
    "w_mann_kendall",
    # round-2 wave 74: quantile normalization, propensity matching
    "a_quantile_normalization",
    "a_psm_matching",
    # round-2 wave 75: DiD, V-shape pattern matching
    "a_diff_in_diff",
    "w_pattern_vshape",
    "a_mann_whitney",
    "a_ab_bootstrap_ci",
    # round-2 wave 78: component beta, transition entropy
    "w_component_beta",
    "a_transition_entropy",
    "j_fifo_matching",
    "a_cohens_kappa",
    # round-2 wave 81: EVT return level, frequency spectrum
    "a_evt_return_level",
    "a_frequency_spectrum",
    "text_textrank_keywords",
    # round-2 wave 83: modularity, Ljung-Box
    "g_modularity",
    "w_ljung_box",
    "a_cuped_adjustment",
    "a_sprt_check",
    "a_beta_binomial_shrinkage",
    # round-2 wave 87: reliability, proportion interval
    "a_cronbach_alpha",
    "a_wilson_ci",
    "a_mcc_at_threshold",
    "a_permutation_test",
    # round-3: end-to-end flow queries (the full §3.1/3.2/3.3 + corpus plans)
    "flow_species_load",
    "flow_agr_load",
    "flow_fix_xref",
    "flow_corpus_prep",
    # round-3: LLM corpus-prep additions (chunking, packing, mixture)
    "sample_mixture_rebalance",
    "text_decontaminate_ngrams",
    # round-6: duplicate-heavy MinHash with exact-duplicate collapse
    "dedup_minhash_collapse",
]

#: Rolling record of past runs (last 5), used for per-query regression ratios.
HISTORY_PATH = os.path.join(os.path.dirname(os.path.abspath(__file__)), "bench_history.json")


def read_history(sf) -> tuple[list, dict]:
    """(every recorded run, the last run at scale factor ``sf`` or {}): a run
    at another sf must not poison the ratios."""
    try:
        with open(HISTORY_PATH) as fh:
            hist = json.load(fh)
    except (OSError, json.JSONDecodeError):
        return [], {}
    same_sf = [h for h in hist if str(h.get("sf")) == str(sf)]
    return hist, same_sf[-1] if same_sf else {}


def calibration_probe(spark) -> float:
    """Fixed environment anchor: a pinned-size pure-JVM workload — range →
    md5 → group-sort-agg, no I/O, no Python, no data dependence — whose code
    never changes. Each run may land on a different VM (a uniform ~1.3x
    shift was measured on unchanged code); recording this number per run
    turns that into a measured ratio, and the regression bar scales by it
    instead of by the median of all entry ratios (a code change that slows
    most entries uniformly raises the median and masks itself — a sentinel
    whose code is known-unchanged can't be fooled that way). One untimed
    warmup (the probe's own codegen) then min-of-5: min-of-3 straight after
    session start still caught a 1.5x JIT transient; min-of-5 post-warmup
    sits in a ±12% band standalone.

    The session confs its plan depends on are pinned for the probe: it runs
    under the bench's SparkSession, so a session-config regression (shuffle
    partitions, AQE, codegen) would otherwise slow the sentinel too, inflate
    env_shift, raise the bar and suppress the median-vs-calibration review
    note — exactly the masking the anchor exists to prevent. Only the BOX
    can move this number, never session-level code."""
    from pyspark.sql import functions as F

    def run():
        (
            spark.range(0, 20_000_000, 1, 32)
            .select(F.md5(F.col("id").cast("string")).alias("h"))
            .withColumn("k", F.substring("h", 1, 2))
            .groupBy("k")
            .agg(F.count(F.lit(1)).alias("n"), F.max("h").alias("mx"))
            .orderBy("k")
            .count()
        )

    with P.pinned_conf(spark, {
        "spark.sql.shuffle.partitions": "32",
        "spark.sql.adaptive.enabled": "false",
        "spark.sql.codegen.wholeStage": "true",
        "spark.sql.execution.sortBeforeRepartition": "true",
    }):
        run()  # untimed: the anchor's own whole-stage codegen + JIT
        best = float("inf")
        for _ in range(5):
            t0 = time.perf_counter()
            run()
            best = min(best, time.perf_counter() - t0)
    return round(best, 3)


#: Start/end calibration anchors further apart than this mean the box shifted
#: mid-run: a single-point anchor is then under-determined.
ANCHOR_SPREAD_BAR = 1.15


def env_shift_estimate(
    calibration_sec: float,
    prev_calibration: float | None,
    median_ratio: float,
    anchor_spread: float | None,
) -> tuple[float, str]:
    """Environment shift vs the previous same-sf run, and its source: the
    calibration ratio, the median entry ratio when history predates the
    anchor, or — when this run's own anchors disagree beyond
    ANCHOR_SPREAD_BAR — a raw 1.0 (normalization refused, so a box that moved
    mid-run cannot raise the regression bar)."""
    if anchor_spread and anchor_spread > ANCHOR_SPREAD_BAR:
        return 1.0, (
            f"raw: start/end anchors disagree {anchor_spread}x "
            f"(> {ANCHOR_SPREAD_BAR}), normalization refused"
        )
    if prev_calibration:
        return calibration_sec / prev_calibration, "calibration"
    return median_ratio, "median_prev_ratio (no calibration in history)"


def _loadavg() -> list | None:
    try:
        return list(os.getloadavg())
    except OSError:
        return None


def main() -> None:
    sf_dir = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    sf = sf_dir.rstrip("/").split("sf")[-1]
    sf_val = float(sf) if sf.replace(".", "").isdigit() else sf
    spark = get_spark(app_name="opspark-bench")
    registry = Q.queries()

    # warmup: JVM + codegen + parquet footer reads
    registry["a4_pricing_summary"](spark, sf_dir).count()

    # environment anchor, right after warmup so it sees the same JVM state
    # every run. The box's load comes in waves, so a single-point anchor is
    # under-determined: the anchor AND loadavg are sampled again after the
    # last timed entry, and env_shift_estimate refuses to normalize when the
    # two anchors disagree beyond ANCHOR_SPREAD_BAR.
    calibration_sec = calibration_probe(spark)
    loadavg_start = _loadavg()

    hist, last = read_history(sf_val)
    prev = last.get("queries", {})
    timings: dict[str, float] = {}
    retimed: list[str] = []

    def timed(name: str, fn) -> None:
        sec, _, again = P.best_of(spark, fn, prev=prev.get(name))
        timings[name] = sec
        if again:
            retimed.append(name)

    for name in HEADLINE:
        timed(name, lambda: registry[name](spark, sf_dir).count())
    stream_state = P.bench_probes(spark, sf_dir, timed, timings)
    skew_ratio = (
        round(timings["skew_hotkey_probe"] / timings["skew_uniform_probe"], 2)
        if timings["skew_uniform_probe"] > 0
        else None
    )

    # closing anchor: a >15% spread between the two anchors means the box
    # shifted mid-run and normalized totals from this run are under-determined
    calibration_end_sec = calibration_probe(spark)
    loadavg_end = _loadavg()
    anchor_spread = (
        round(
            max(calibration_sec, calibration_end_sec)
            / min(calibration_sec, calibration_end_sec),
            3,
        )
        if calibration_sec and calibration_end_sec
        else None
    )
    anchor_note = (
        f"start/end calibration anchors disagree {anchor_spread}x "
        f"(> {ANCHOR_SPREAD_BAR}): the box shifted mid-run; normalized "
        "cross-round totals from this run are under-determined"
        if anchor_spread and anchor_spread > ANCHOR_SPREAD_BAR
        else None
    )

    # per-query regression tracking vs the previous run at this sf: a ratio
    # over the bar is a fail-soft warning surfaced in the artifact
    prev_ratio = {
        name: round(sec / prev[name], 2)
        for name, sec in timings.items()
        if prev.get(name, 0) > 0
    }
    regressions: list[str] = []
    # Shift-invariant regression rule, calibration-anchored: history may come
    # from a DIFFERENT VM. The environment shift is the CALIBRATION ratio — a
    # pinned sentinel whose code is known-unchanged — not the median of all
    # entry ratios, which a genuinely uniform code regression (session config,
    # shared loader) would raise and thereby mask. The median stays as the
    # fallback for history that predates the anchor, and a median above what
    # calibration explains is flagged for review rather than absorbed.
    median_ratio = sorted(prev_ratio.values())[len(prev_ratio) // 2] if prev_ratio else 1.0
    env_shift, shift_source = env_shift_estimate(
        calibration_sec, last.get("calibration_sec"), median_ratio, anchor_spread
    )
    bar = 1.5 * max(1.0, env_shift)
    shift_review_note = None
    if shift_source == "calibration" and median_ratio > 1.3 * max(1.0, env_shift):
        shift_review_note = (
            f"median entry ratio {median_ratio} exceeds the calibration shift "
            f"{round(env_shift, 2)} — a uniform slowdown NOT explained by the "
            "environment; review the diff for session-config/shared-loader "
            "regressions"
        )
    for name, r in prev_ratio.items():
        sec, pv = timings[name], prev[name]
        # noise floor (BASELINE.md): sub-3 s entries jitter ±40% on a shared
        # box — a regression is structural only if it clears the
        # (shift-scaled) bar AND the entry is slow enough to trust or lost
        # more than 1 s outright
        if r > bar and (pv > 3.0 or sec - pv > 1.0):
            regressions.append(name)

    # steady-state stream drift is a first-class regression signal
    drift_steady = stream_state.get("latency_drift_steady_state")
    if drift_steady is not None and drift_steady > P.STREAM_DRIFT_BAR:
        regressions.append(
            f"stream_state_scale_24c:steady_drift {drift_steady} > {P.STREAM_DRIFT_BAR}"
        )

    total = round(sum(timings.values()), 3)
    # which entries needed the stabilizing third sample, so the artifact
    # itself says how noisy the box was
    variance_note = (
        f"{len(retimed)} entries deviated >1.3x from history and got a third "
        f"sample: {sorted(retimed)[:8]}"
        if retimed
        else "all entries within 1.3x of history on best-of-2"
    )
    hist.append(
        {"sf": sf_val, "git_head": git_head(), "queries": timings,
         "skew_ratio": skew_ratio,
         "stream_state": stream_state, "retimed": sorted(retimed),
         "calibration_sec": calibration_sec,
         "calibration_end_sec": calibration_end_sec,
         "anchor_spread": anchor_spread,
         "loadavg": {"start": loadavg_start, "end": loadavg_end}}
    )
    try:
        with open(HISTORY_PATH, "w") as fh:
            json.dump(hist[-5:], fh, indent=1)
    except OSError:
        pass
    # full per-query dump first (humans, greppable)...
    print(
        json.dumps(
            {
                "metric": "headline_queries_total",
                "value": total,
                "unit": "sec",
                "queries": timings,
                "prev_ratio": prev_ratio,
                "median_prev_ratio": median_ratio,
                "calibration_sec": calibration_sec,
                "calibration_end_sec": calibration_end_sec,
                "anchor_spread": anchor_spread,
                "anchor_note": anchor_note,
                "loadavg": {"start": loadavg_start, "end": loadavg_end},
                "env_shift": round(env_shift, 3),
                "shift_source": shift_source,
                "shift_review_note": shift_review_note,
                "regressions": regressions,
                "skew_ratio": skew_ratio,
                "stream_state": stream_state,
                "variance_note": variance_note,
                "sf": sf_val,
            }
        )
    )
    # ...then ONE compact line LAST: the driver keeps only a ~2 KB stdout
    # tail, and the full line above (~10 KB at 260 entries) truncates into
    # unparseable JSON. This line stays well under 2 KB: top-10 entries only,
    # with the full map in bench_history.json (last 5 runs, same repo dir).
    top10 = dict(
        sorted(timings.items(), key=lambda kv: kv[1], reverse=True)[:10]
    )
    print(
        json.dumps(
            {
                "metric": "headline_queries_total",
                "value": total,
                "unit": "sec",
                "sf": sf_val,
                "n_queries": len(timings),
                "queries": top10,
                "queries_note": "top-10 by time; full map in bench_history.json",
                "regressions": regressions,
                "median_prev_ratio": median_ratio,
                "calibration_sec": calibration_sec,
                "calibration_end_sec": calibration_end_sec,
                "anchor_spread": anchor_spread,
                "env_shift": round(env_shift, 3),
                "skew_ratio": skew_ratio,
                "stream_state_drift": stream_state.get("latency_drift_last3_over_first3"),
                "stream_state_drift_steady": drift_steady,
                "stream_state_provider": stream_state.get("provider"),
                "variance_note": variance_note,
                "history_file": "bench_history.json",
            },
            separators=(",", ":"),
        )
    )
    spark.stop()


if __name__ == "__main__":
    main()
