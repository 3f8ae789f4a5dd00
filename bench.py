"""Benchmark harness — runs the headline queries at $SPARK_GRAFT_SF_DIR
(default /root/testdata/sf0.1) on local[$SPARK_GRAFT_CPUS] and prints
ONE JSON line: {"metric": ..., "value": total_sec, "unit": "sec",
"queries": {name: sec}, "sf": ...}.

Each timed sample covers building the query's DataFrame — including the
Spark jobs some builders run eagerly (lineage-cut checkpoints, driver
collects) — plus one noop-sink run of the finished plan. The noop sink
skips the final driver collect; it does not by itself cover a query's
full distributed work, which for build-bound queries happens while the
DataFrame is built (perfbench's traced runs split the two).
"""

from __future__ import annotations

import json
import os
import sys
import time

sys.path.insert(0, os.path.dirname(os.path.abspath(__file__)))

from aws_datalake_spark.session import get_spark  # noqa: E402
from aws_datalake_spark.queries import all_queries  # noqa: E402

# Headline set: covers scan-agg, multi-join, window, set-op, and (as
# they land) LLM-pipeline ops. Keep keys stable across rounds.
HEADLINE = [
    "q01_pricing_summary",
    "q03_shipping_priority",
    "q05_region_revenue",
    "q_join_broadcast_dim",
    "q_window_topk_per_group",
    "q_set_union_all",
    "q_asof_join",
    "q_range_join",
    "ref_scd2_merge",
    "ref_state_delta",
    "ref_dq_expectations",
    "st_session_window",
    "llm_exact_dedup",
    "llm_minhash_lsh_pairs",
    "llm_simhash",
    "llm_cosine_topk",
    "llm_ann_ivf_topk",
    "llm_multimodal_features",
    "llm_dedup_clusters",
    "llm_repetition_filters",
    "llm_embedding_quantize",
    "llm_decontaminate",
    "llm_duplicate_chunks",
    "llm_sequence_packing",
    "llm_corpus_pipeline",
    "q_event_funnel",
    "llm_tfidf_top_terms",
    "llm_rarity_scores",
    "st_hourly_daily_rollup",
    "llm_chunk_documents",
    "ref_snapshot_diff",
    "llm_bigram_lm",
    "llm_budgeted_sample",
    "llm_embed_documents",
    "q_gaps_islands",
    "q_cohort_retention",
    "ref_temporal_dim_join",
    "q07_volume_shipping",
    "q10_returned_items",
    "q18_large_orders",
    "q21_blame_supplier",
    "llm_heavy_hitters",
    "q_bloom_pruned_join",
    "st_distinct_users_hll",
    "st_gap_fill_locf",
    "llm_priority_sample",
    "q_exact_median_histogram",
    "llm_heavy_hitters_by_lang",
    "llm_train_test_split",
    "llm_hard_negatives",
    "q_window_rank_stats",
    "ref_numeric_drift",
    "llm_media_dedup",
    "st_gap_fill_interp",
    "llm_dataset_card",
    # round-2 additions
    "q02_min_cost_supplier",
    "q09_product_type_profit",
    "q11_important_stock",
    "q16_supplier_part_count",
    "q20_excess_inventory_suppliers",
    "ref_txn_merge_time_travel",
    "ref_txn_zorder_pruned_read",
    "ref_scd2_on_txn",
    "st_txn_stream_ingest",
    "llm_segment_dedup",
    "llm_importance_weights",
    # round-2 second pass: merge-on-read deletes, bloom point lookup,
    # incremental MV, IVF-PQ, LM scoring (hidden partitioning is
    # excluded: its write fans out to ~bucket×month files by design,
    # so the bench would time small-file IO, not the query)
    "ref_txn_delete_vectors",
    "ref_txn_bloom_lookup",
    "ref_incremental_mv",
    "llm_ann_pq_topk",
    "llm_lm_doc_scores",
    # round-2 third pass: equality deletes + typed CDF (commit
    # machinery), hybrid retrieval, index-served BM25, observability
    "ref_txn_equality_delete",
    "ref_txn_change_feed",
    "llm_hybrid_search_rrf",
    "llm_bm25_indexed",
    "llm_filter_funnel",
    "llm_seq_len_histogram",
    # round-4 additions: the two perf-reworked planners (single-scan
    # waterfilling, shared-pass quantile narrowing), the epoch
    # planner, the new paginated-API surface, and RAG indexing
    "llm_token_budget",
    "llm_curriculum_bins",
    "llm_epoch_plan",
    "ref_paginated_scan",
    "llm_rag_index",
    "llm_source_overlap",
    "llm_fertility_by_lang",
    "llm_dedup_rate_by_source",
    "llm_diversity_by_source",
    "llm_bucket_packing",
    "llm_packing_efficiency",
    # round-5 additions
    "q_entity_resolution",
    "st_late_data_drop",
    "st_ohlc_bars",
    "llm_length_outliers",
    "q_skew_salted_join",
    "q_attribution_first_last",
    "llm_stratified_eval_split",
    # round-5 session additions
    "q_session_journeys",
    "q_countmin_frequencies",
    "q_quantile_sketch",
    "llm_winnow_fingerprints",
    "q_trigram_substring_search",
    "q_graph_pagerank",
    "q_kmv_distinct_docs",
    "llm_source_similarity_sketch",
    # round-5 session batch 2: graph triangles, sequence mining,
    # exact moments, weighted quantiles, the two eval harnesses,
    # and the shard-balance report
    "q_triangle_count",
    "q_event_sequences",
    "q_correlation_exact",
    "llm_weighted_length_quantiles",
    "llm_ann_recall",
    "llm_lsh_recall_curve",
    "q_shard_skew_gini",
    "llm_embedding_stats",
    "llm_weighted_median_by_source",
    "q_session_incident_overlap",
    "q_rolling_active_days",
    "llm_decontam_excise",
    "llm_phrase_search",
    "st_interval_join_outer",
    "llm_winnow_matches",
    "q_fd_violations",
    "q_ri_violations",
    "q_conversion_time_quantiles",
    "llm_lang_id_eval",
    "q_correlation_matrix",
    "q_winsorized_mean",
    "q_skyline_parts",
    "q_benford_digits",
    # round-5 late additions (ADVICE r05 #2: keep HEADLINE at HEAD)
    "llm_mutual_nn",
    "llm_corpus_pipeline_v3",
    "llm_rbo_top_terms",
    # round-6 session additions
    "q_graph_pagerank_conserving",
    "llm_ngram_jaccard_capped",
    "llm_chi2_terms",
    "q_markov_transitions",
    "q_mad_outliers",
    "llm_novelty_scores",
    "llm_label_centroid_drift",
    "llm_code_detect",
    # round-6 session batch 2
    "llm_quality_auc",
    "q_welch_ttest",
    "llm_blocklist_filter",
    "llm_containment_pairs",
    "llm_textrank_summary",
    "llm_exact_substr_excise",
    "q_seasonal_anomaly",
    "llm_mutual_nn_bucketed",
    # round-7 session additions (perf artifacts at birth, VERDICT r06
    # item 6)
    "q_k_anonymity",
    "llm_histogram_match",
    "llm_contamination_report",
    "q_group_mode",
    "llm_cluster_best_rep",
    "llm_gopher_rules",
    "llm_mixed_lang",
    # round-7 session batch 2
    "q_basket_pairs",
    "q_regression_trend",
    "q_cusum_changepoint",
    "q_l_diversity",
    "q_graph_hits",
    "llm_rake_keywords",
    "q_interarrival_burstiness",
    "q_clustering_coefficient",
    "q_interval_coverage",
    "q_tvd_drift",
    "llm_bpe_encode",
    "q_ks_test",
    "q_kruskal_wallis",
    "q_t_closeness",
    "q_mann_kendall",
    "q_graph_kcore",
    "q_graph_communities",
    "q_graph_ktruss",
    "q_ams_f2",
    "q_graph_ppr",
    "llm_cluster_db_index",
    "q_rolling_regression",
    "llm_simpson_diversity",
    "q_decile_lift",
    "q_abc_pareto",
    "q_runs_test",
    # driver-round r08 batch (at birth)
    "q_spearman_corr",
    "q_kendall_tau",
    "q_cramers_v",
    "q_autocorr",
    "q_graph_common_neighbors",
    "q_graph_assortativity",
    "st_watermark_freshness",
    "st_time_weighted_avg",
    "q04_order_priority",
    "q06_forecast_revenue",
    "llm_knn_eval",
    "llm_pr_curve",
    "q_ewma_smoothing",
    "q_kaplan_meier",
    "q_ab_test_proportions",
    "q_lorenz_curve",
    "q_cohort_ltv",
    "q_mcnemar_change",
    "q_cohens_kappa",
    "q_bootstrap_ci",
    "llm_crossval_split",
    "q_shapley_attribution",
    "q_rfm_segments",
    "q_laspeyres_index",
    "st_new_vs_returning",
    "q_granger_causality",
    # driver-round r09 batch (at birth)
    "q_anova_f",
    "q_brown_forsythe",
    "q_jarque_bera",
    "q_durbin_watson",
    "q_point_biserial",
    "q_cohens_d",
    "q_hhi_concentration",
    "q_paasche_fisher",
    "q_max_drawdown",
    "q_vwap_brand",
    "q_spatial_grid_join",
    "llm_ttr_diversity",
    "q_confusion_thresholds",
    "llm_brier_calibration",
    "llm_mrr_eval",
    "llm_map_eval",
    "q_graph_bfs_layers",
    "q_mann_whitney_u",
    "q_wilson_ci",
    "q_odds_ratio",
    "q_graph_resource_allocation",
    "q_wilcoxon_signed_rank",
    "q_cochran_q",
    "q_wasserstein_drift",
    "q_holt_linear",
    "q_seasonal_decompose",
    "q_friedman_test",
    "q_partial_correlation",
    "q_churn_rate",
    "q_dau_mau_stickiness",
    "q_window_ntile_cume",
    "q_nelson_aalen",
    "q_logrank",
    "q_forecast_backtest",
    "q_rmst",
    "q_km_by_segment",
    "q_poisson_rate_test",
    # round-10 additions (keep HEADLINE at HEAD)
    "llm_ndcg_eval",
    "llm_media_phash_neardup",
    "q_theil_sen",
    "q_cliffs_delta",
    "q_grubbs_outlier",
    "q_mood_median",
    "q_atkinson_index",
    "q_acf_lags",
    "q_yule_walker_ar2",
    "q_cooks_distance",
    "q_breusch_pagan",
    "q_graph_adamic_adar",
    "q_spc_imr_chart",
    "q_process_capability",
    "q_arc_elasticity",
    "q_trimmed_mean",
    "st_top_n_per_window",
    "st_dedup_late_events",
    "llm_script_mix",
    "q_benford_chi2",
    "q_welch_anova",
    "q_games_howell_pairs",
    "q_seasonal_strength",
]


def materialize(df) -> int:
    df.write.format("noop").mode("overwrite").save()
    return 0


def main() -> None:
    sf_dir = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    spark = get_spark("bench")
    queries = all_queries()
    names = [n for n in HEADLINE if n in queries]
    # Warm the JVM/session so per-query numbers measure the plan, not startup.
    materialize(queries[names[0]](spark, sf_dir))
    runs = int(os.environ.get("SPARK_GRAFT_BENCH_RUNS", "3"))
    max_runs = int(os.environ.get("SPARK_GRAFT_BENCH_MAX_RUNS", "5"))
    timings: dict[str, float] = {}
    spreads: dict[str, float] = {}
    for name in names:
        # Noise discipline (r03 verdict item 6: four queries "doubled"
        # round-over-round with zero code change; n=3 spread was 40%
        # of the headline): one DISCARDED warm-up run per query pays
        # codegen/compile + page-cache cost outside the timed window,
        # then median of `runs`; if the spread still exceeds 50% of
        # the median, sample up to `max_runs` so one GC-hit run can't
        # swing the recorded number. Per-query spread is published so
        # a future round can tell plan regressions from jitter.
        materialize(queries[name](spark, sf_dir))  # warm-up, discarded
        samples = []
        for _ in range(runs):
            t0 = time.time()
            materialize(queries[name](spark, sf_dir))
            samples.append(time.time() - t0)
        while (
            len(samples) < max_runs
            and (max(samples) - min(samples))
            > 0.5 * sorted(samples)[len(samples) // 2]
        ):
            t0 = time.time()
            materialize(queries[name](spark, sf_dir))
            samples.append(time.time() - t0)
        samples.sort()
        timings[name] = round(samples[len(samples) // 2], 3)
        spreads[name] = round(samples[-1] - samples[0], 3)
    sf = os.path.basename(sf_dir.rstrip("/")).replace("sf", "")
    payload = {
        "metric": "headline_query_wall_time",
        "value": round(sum(timings.values()), 3),
        "unit": "sec",
        "queries": timings,
        "sf": float(sf) if sf else sf_dir,
        "runs_per_query": runs,
        "max_runs_on_noise": max_runs,
        "warmup": "1 discarded run per query",
        "stat": "median",
    }
    # The driver keeps only a bounded tail of stdout and parses the
    # LAST line as the bench payload. Embedding per-query `spreads`
    # (a second dict the size of `queries`) overflowed that window in
    # round 9 (BENCH_r09.json parsed: null → the whole round-over-round
    # PERF table died). Keep the stdout line to the contract fields
    # plus the scalar noise summary; the full spreads dict lives only
    # in the committed BENCH_local.json artifact.
    print(json.dumps(payload))
    payload_full = dict(payload)
    payload_full.update(
        {
            "spreads": spreads,
            "spread_total": round(sum(spreads.values()), 3),
            "spread_max": (
                max(spreads, key=spreads.get) if spreads else None
            ),
        }
    )
    # The driver stores only a truncated tail of stdout; persist the
    # full per-query JSON so BENCH artifacts stay parseable end-to-end
    # (round-2 verdict item 8).
    out = os.path.join(os.path.dirname(os.path.abspath(__file__)), "BENCH_local.json")
    with open(out, "w") as f:
        json.dump(payload_full, f, indent=1, sort_keys=True)


if __name__ == "__main__":
    main()
