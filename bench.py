"""Benchmark harness: run the headline queries at $SPARK_GRAFT_SF_DIR
(default /root/testdata/sf0.1) on local[$SPARK_GRAFT_CPUS] and print ONE
JSON line: {"metric": ..., "value": total_sec, "unit": "sec",
"queries": {name: sec}, "sf": ...}.

Each query is forced end-to-end with a noop sink (full computation, no
driver-side collect bottleneck) — the number measures the engine, not
result serialization.
"""

from __future__ import annotations

import json
import os
import sys
import time

sys.path.insert(0, os.path.dirname(os.path.abspath(__file__)))

from metas_judiciarias_etl_spark import registry  # noqa: E402
from metas_judiciarias_etl_spark.session import build_session  # noqa: E402

# Headline set: the reference's central shapes (grouped sums, guarded
# ratios, dim-lookup join, union-by-name, top-k) + the heavy extension
# operators (joins, windows, dedup) — the mix a 100 TB run would care about.
HEADLINE = [
    "q1_pricing_summary",
    "a4_guarded_ratio_kernel",
    "q3_shipping_priority",
    "q5_local_supplier_volume",
    "j1_dim_lookup_fallback",
    "u1_union_by_name",
    "w1_topk_sort",
    "distinct_agg",
    "q4_order_priority",
    "q6_forecast_revenue",
    "q10_returned_revenue",
    "q18_large_volume_customers",
    "percentile_agg",
    "gapfill_locf",
    "asof_join_last_purchase",
    "range_join_event_pairs",
    "window_running_total",
    "window_argmax_per_group",
    "stream_session_window",
    "dedup_exact",
    "dedup_minhash_lsh",
    "sim_cosine_topk_bruteforce",
    "sim_cosine_topk_lsh",
    "sim_cosine_topk_ivf",
    "text_fingerprint",
    "prep_pipeline",
    "stats_aggs",
    "argmax_struct",
    "metas_resumo_pipeline",
    # round 2 additions: decontamination + text quality + the new TPC-H
    # shapes with nontrivial physical plans.
    "decontam_ngram_overlap",
    "text_top_tokens",
    "text_repetition",
    "text_pii_scrub",
    "q8_market_share",
    "q19_disjunctive_revenue",
    "q20_dominant_suppliers",
    "funnel_conversion",
    "dedup_fuzzy_levenshtein",
    "emb_norm_stats",
    "graph_triangle_count",
    # round 2, later additions: event analytics + iterative graph rank.
    "sessionize_events",
    "concurrent_intervals",
    "histogram_equi_width",
    "pagerank_integer",
    "text_tfidf_topk",
    # round 2, final additions: time-series rollups + layout + chunking.
    "ohlc_bars",
    "time_weighted_avg",
    "anomaly_zscore",
    "entropy_fold",
    "zorder_bucket",
    "chunk_documents",
    "pareto_topshare",
    "mm_image_resize",
    "corr_exact",
    "skyline_dominance",
    "weighted_sample_topk",
    "incremental_agg_merge",
    "grouped_linear_fit",
    "table_snapshot_diff",
    "spatial_grid_join",
    "skew_salted_join",
    "pq_code_histogram",
    "sim_l2_topk_pq",
    # round 3 additions: composite ANN, canonical dedup, containment
    # decontamination, cohort retention, robust outliers, audio windows,
    # deterministic splits, streaming dedup.
    "sim_l2_topk_ivfpq",
    "dedup_normalized_text",
    "decontam_containment",
    "retention_cohorts",
    "mad_robust_outliers",
    "mm_audio_rms_windows",
    "dataset_split_hash",
    "stream_dedup_earliest",
    "knn_classify",
    "text_bigram_lm",
    "emb_centroids",
    "bpe_merge_steps",
    "text_perplexity_bigram",
    "nearest_centroid_confusion",
    "prep_pipeline_v2",
    "approx_percentile_by_key",
    "dedup_cluster_sizes",
    "mm_frame_dedup",
    "rolling_active_users",
    "funnel_three_step",
    "dedup_incremental_ingest",
    "asof_join_tolerance",
    "graph_degree_distribution",
    "text_lang_confusion",
    "scd2_as_of",
    # round 4 additions: decayed features, bitmap distinct, compaction
    # planning, sketch estimation, inverted-index search, graph peeling,
    # scene cuts, stream-static enrichment.
    "ewma_halflife",
    "bitmap_distinct_users",
    "compaction_bins",
    "cms_heavy_hitters",
    "chisq_independence",
    "graph_kcore_peel",
    "text_inverted_index",
    "text_phrase_search",
    "mm_scene_cuts",
    "stream_static_enrich",
    "winsorized_stats",
    "key_skew_hhi",
    "ri_orphan_audit",
    "period_over_period",
    "array_set_ops",
    # round-3 continuation: profiling & affinity batch
    "dq_column_profile",
    "basket_pair_counts",
    "interval_coverage",
    "path_trigrams",
    "attribution_last_touch",
    "vocab_coverage",
    "token_df_spectrum",
    "graph_label_propagation",
    "histogram_equi_depth",
    "emb_outlier_zscore",
    "sim_rank_fusion_rrf",
    "dedup_source_matrix",
    "sim_label_margin",
    "source_vocab_overlap",
    "customer_rfm_segments",
    "cycle_time_percentiles",
    "text_novelty_ratio",
    "events_dow_hour_profile",
    "rolling_median_smooth",
    "basket_association_rules",
    "purchase_gap_survival",
    "graph_link_prediction",
    "mm_audio_quiet_segments",
    "markov_stationary",
    "emb_pca_top_component",
    # round 4: approx_percentile scale-mode twins (the 100x plans) +
    # streaming state-cardinality accounting.
    "percentile_agg_approx",
    "histogram_equi_depth_approx",
    "customer_rfm_segments_approx",
    "cycle_time_percentiles_approx",
    "mad_robust_outliers_approx",
    "stream_state_keys_profile",
    "bloom_semi_join_prune",
    "data_skipping_zonemap",
    "dedup_prefix_filter_jaccard",
    "graph_hits_scores",
    "split_leakage_check",
    "quality_token_histogram",
    "source_mixture_weights",
    "event_pattern_match",
    "dq_benford_first_digit",
    "seasonal_decompose_monthly",
    "ivf_cell_balance",
    "join_cardinality_estimate",
    "hll_partitioned_merge",
    "dedup_cluster_keeper_quality",
    "variant_typed_extract",
    "dedup_simhash_hamming1",
    "null_safe_join_semantics",
    "zorder_skipping_effectiveness",
    "mor_positional_delete_apply",
    "emb_drift_by_split",
    "autocorr_lags",
    "cusum_changepoint",
    "gini_concentration",
    "ks_two_sample",
    "jackknife_bucket_ci",
    "graph_bfs_distance",
    "text_collocation_pmi",
    "dedup_lsh_recall",
    "cow_write_amplification",
    "graph_modularity",
    "emb_int8_quantize",
    "events_user_burstiness",
    "quality_dup_pointbiserial",
    "text_zipf_slope",
    "sim_cosine_topk_prefix",
    "sim_recall_dim_prefix",
    "sim_prefix_rerank",
    "sim_recall_prefix_rerank",
    "events_burst_collapse",
    "neyman_allocation",
    "sim_cosine_topk_int8",
    "sim_recall_int8",
    "dq_freshness_lag",
    "boilerplate_chunks",
    "seasonal_residual_anomaly",
    "sim_ivf_nprobe_curve",
    "dedup_lsh_band_sweep",
    "ab_test_proportions",
    "dedup_clusters_incremental",
    "bpe_compression_curve",
    "quality_gate_sweep",
    "theil_sen_trend",
    "dedup_minhash_estimate_error",
    "decontam_ngram_size_curve",
    "survival_kaplan_meier",
    "survival_logrank_test",
    "text_token_drift_chi2",
    "contrastive_negative_audit",
    "item_cooccurrence_cosine",
    "kmeans_lloyd_iteration",
    "cohort_ltv_curve",
    "graph_degree_assortativity",
    "monthly_return_rate_wilson",
    "mann_whitney_u",
    "daily_count_control_chart",
    "text_readability",
    "emb_covariance_offdiag_mass",
    "dq_order_lineitem_reconcile",
    "spearman_rank_corr",
    "attribution_position_weighted",
    "emb_fisher_ratio",
    "prep_pipeline_v3",
    "roc_auc_exact",
    "pr_auc_average_precision",
    "score_calibration_bins",
    "anova_oneway_f",
    "kruskal_wallis",
    "poisson_bootstrap_ci",
    "sim_ndcg_ivf",
    "emb_hubness",
    "ols_two_feature",
    "bh_fdr_token_drift",
    "kendall_tau_b",
    "score_quantile_normalize",
    "graph_weighted_sssp",
    "knn_label_noise",
    "seasonal_fourier_fit",
    "markov_transition_gini",
    "er_match_weights",
    "bm25_topk",
    "er_pattern_precision",
    "dataset_card_by_source",
    "k_anonymity_audit",
    "vocab_growth_curve",
    "sim_mmr_diverse_topk",
    "emb_silhouette_by_label",
    "brier_decomposition",
    "crosssource_backoff_score",
    "attribution_markov_removal",
    "cuped_adjustment",
    "conformal_interval_calibration",
    "graph_conductance",
    "source_temperature_mix",
    "fd_candidate_audit",
    "dedup_simhash_recall",
    "mm_image_histogram",
    "global_rank_two_phase",
    "f1_optimal_threshold",
    "diff_in_diff",
    "ab_test_power_mde",
    "sampled_sum_estimate",
    "lang_agreement_ari",
    "lang_agreement_nmi",
    "l_diversity_audit",
    "sim_mrr_ivf",
    "score_psi_drift",
    "dist_js_divergence",
    "dedup_repeated_substrings",
    "sim_rbo_overlap",
    "attribution_shapley",
    "delta_method_ratio_ci",
    "sprt_sequential_test",
    "empirical_bayes_rates",
    "feature_mi_ranking",
    "tokenizer_fertility_by_lang",
    "decontam_embedding_cosine",
    "group_sequential_looks",
    "stratified_standardization",
    "ab_srm_check",
    "forecast_backtest_naive",
    "uplift_qini_deciles",
    "yuen_trimmed_ttest",
    "stream_join_state_peak",
    "median_order_ci",
    "tail_index_hill",
    "covariate_balance_smd",
    "bm25_prf_terms",
    "partial_correlation",
    "decision_stump_split",
    "cohens_kappa_langid",
    "ab_tost_equivalence",
    "dynamic_gap_sessions",
    "source_shingle_overlap_hll",
    "dedup_detector_ensemble",
    "loso_source_influence",
    "pinball_loss_eval",
    "ips_policy_replay",
    "heavy_hitter_drift",
    "holm_fwer_token_drift",
    "sim_norm_effect_rbo",
    "calibration_ece",
    "lorenz_curve_deciles",
    "popularity_baseline_hitrate",
    "atkinson_index",
    # round 5: distribution-shift completion pack
    "dist_wasserstein1",
    "cvm_two_sample",
    "mann_kendall_trend",
    "cramers_v_assoc",
    "dedup_containment_asymmetric",
    "er_blocking_quality",
    "calibration_isotonic_pav",
    "privacy_t_closeness",
    "packing_waste_curve",
    "incremental_join_delta",
    "heaps_law_fit",
    "deletion_cascade_audit",
    "krippendorff_alpha_nominal",
    "source_budget_allocation",
    "dedup_containment_minhash_error",
    "hierarchy_rollup_recursive",
    "hodges_lehmann_location",
    "emb_effective_rank",
    # round 6: DP accounting, eval metrics, scrub budgeting, CDC dedup
    "privacy_dp_sensitivity_audit",
    "eval_pass_at_k",
    "pii_scrub_loss_stats",
    "dedup_cdc_chunks",
    "text_dedup_onion",
    "sim_pq_distortion",
    "dedup_truth_sample_estimate",
]


def force(df) -> None:
    df.write.format("noop").mode("overwrite").save()


def main() -> None:
    sf_dir = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    # Optional subset (comma-separated names): lets A/B runs compare a
    # query set alone in a fresh session vs embedded in the full session
    # (SCALE.md "bench session-accumulation" evidence).
    only = os.environ.get("SPARK_GRAFT_BENCH_ONLY")
    headline = (
        [n for n in HEADLINE if n in set(only.split(","))] if only else HEADLINE
    )
    registry.load_all()
    # UI/listener state is the measurable per-session accumulation: the SQL
    # tab retains up to 1000 query executions (full plan graphs) and the
    # listener bus processes every event on the driver. Over 63 queries x 2
    # reps that skews late queries vs a fresh session (SCALE.md round-3 A/B).
    spark = build_session(
        app_name="metas-etl-bench",
        extra_conf={
            "spark.ui.enabled": "false",
            "spark.sql.ui.retainedExecutions": "2",
        },
    )
    spark.sparkContext.setLogLevel("WARN")

    # Warm the JVM/codegen paths once so per-query numbers measure the
    # plan, not first-run JIT.
    force(registry.QUERIES["q1_pricing_summary"](spark, sf_dir))

    timings: dict[str, float] = {}
    for name in headline:
        fn = registry.QUERIES.get(name)
        if fn is None:
            continue
        # min of 2 runs: first-run codegen/JIT and transient interference
        # otherwise dominate sub-second plans
        best = None
        for _ in range(2):
            spark.catalog.clearCache()  # keep every rep cold (persists)
            t0 = time.perf_counter()
            force(fn(spark, sf_dir))
            dt = time.perf_counter() - t0
            best = dt if best is None or dt < best else best
        timings[name] = round(best, 3)

    total = round(sum(timings.values()), 3)
    sf = sf_dir.rstrip("/").rsplit("sf", 1)[-1]
    line = json.dumps(
        {
            "metric": "headline_queries_total",
            "value": total,
            "unit": "sec",
            "queries": timings,
            "sf": float(sf) if sf.replace(".", "").isdigit() else sf,
        }
    )
    print(line)
    # Also persist the full record to a file: the driver's stdout capture
    # truncates long tails, which cost round 3 the per-query map for ~80 of
    # 127 queries. Default target is the UNTRACKED bench_out/ dir so a bench
    # run never dirties the tree (ADVICE r4).
    out = os.environ.get("SPARK_GRAFT_BENCH_OUT")
    if out is None:
        out_dir = os.path.join(
            os.path.dirname(os.path.abspath(__file__)), "bench_out"
        )
        os.makedirs(out_dir, exist_ok=True)
        out = os.path.join(out_dir, "BENCH_HEADLINE_latest.json")
    try:
        with open(out, "w") as fh:
            fh.write(line + "\n")
    except OSError as exc:  # never let the artifact sink kill the bench
        print(f"warning: could not write {out}: {exc}", file=sys.stderr)


if __name__ == "__main__":
    main()
