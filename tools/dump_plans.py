"""Dump formatted physical plans — reviewable evidence of pushdown,
pruning, and join strategy.

Usage:
  python tools/dump_plans.py [sf_dir]
      the headline queries (PLAN_QUERIES) into PLANS.md at the repo root
      (not committed; ``make plans`` regenerates it);
  python tools/dump_plans.py <suffix> <out_dir> [query ...]
      one ``<out_dir>/<query>_<suffix>.txt`` per named query, against
      SPARK_GRAFT_SF_DIR (default /root/testdata/sf0.1) — run it with
      ``before`` on the parent checkout and ``after`` on the change to
      pair an optimization's plans (``plans/r15/``).
"""

from __future__ import annotations

import os
import sys

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

from mysql_public_data_ingestor_spark.plans import formatted_plan
from mysql_public_data_ingestor_spark.registry import all_queries
from mysql_public_data_ingestor_spark.session import get_spark

PLAN_QUERIES = [
    "q1_pricing_summary",
    "q5_revenue_by_nation",
    "q6_forecast_revenue",
    "window_topk_orders_per_customer",
    "dedup_minhash_lsh",
    "knn_brute_cosine",
    "events_tumbling_hourly",
    "sample_hash_mod",
    "corpus_decontaminate_ngram_overlap",
    "corpus_pack_sequences",
    "embedding_centroid_outliers",
    "agg_histogram_order_totals",
    "graph_triangle_count",
    "events_rolling_zscore",
    "events_attribution_last_touch",
    "layout_zorder_stats",
    "text_inverted_index",
    "dq_expectations_orders",
    "events_kv_flatten_native",
    "text_quality_classifier_score",
    "corpus_bpe_pair_counts",
    "text_lm_cross_entropy",
    "graph_market_basket_lift",
    "events_user_path_transitions",
    "corpus_shuffle_shard",
    "dq_referential_integrity",
    "embedding_random_projection",
    "embedding_int8_quant_stats",
    "sample_weighted_topk",
    "stats_ttest_ab",
    "events_asof_nearest",
    "dq_psi_value_drift",
    "stats_mann_whitney_ab",
    "events_seasonal_hourly_baseline",
    "mv_incremental_join_merge",
    "stats_jackknife_mean_ci",
    "events_time_to_convert",
    "stats_mad_robust_outliers",
    "corpus_filter_ablation",
    "ml_user_feature_pack",
    "sample_stratified",
    "text_bm25_topk",
    "similarity_mmr_rerank",
    "sketch_bitmap_exact_distinct",
    "multimodal_frame_sample",
    "multimodal_feature_stats",
    "ml_auc_by_lang",
    "ml_calibration_curve",
    "dq_referential_integrity_bloom",
    "ann_lsh_selective_topk",
    # round-5 batch (the activated operators/roundfive.py queue)
    "corpus_temperature_mixture",
    "privacy_l_diversity_audit",
    "agg_topk_mergeable",
    "dq_schema_drift",
    "similarity_ann_multiprobe_topk",
    "stats_logistic_gd",
    "embedding_pq_assign_stats",
    "events_scd_asof_snapshot",
    "dq_uniqueness_violations",
    "join_range_bucketed",
    "graph_label_propagation",
    "events_funnel_time_windowed",
    "text_pmi_cooccurrence",
    "layout_compaction_plan",
    "text_langid_confusion",
    "stats_welch_anova",
    "ml_confusion_threshold_sweep",
    "stats_pareto_by_nation",
    "events_hourly_topk_users",
    "events_late_arrival_audit",
    "text_char_trigram_profile",
    "corpus_dedup_survivorship",
    "lineitem_shipment_latency",
    # round-5 additions beyond the activated batch
    "lineitem_shipment_latency_bucketed",
    "corpus_decontaminated_train_stats",
    "dedup_minhash_store_probe",
    "similarity_pq_adc_topk",
    "events_watermark_policy_audit",
    "stats_bootstrap_mean_ci",
    "dq_order_lineitem_reconciliation",
    "stats_gini_by_nation",
    "graph_common_neighbors_linkpred",
    "text_rake_keywords_topk",
    "privacy_pseudonymize_joinability",
    "dq_freshness_lag_audit",
    "dq_ab_sample_ratio_mismatch",
    "dedup_simhash_pairs",
    "stats_proportions_ztest",
    "multimodal_chunk_manifest",
    "corpus_shard_manifest_hash",
    "stats_power_mde",
    "events_heatmap_dow_hour",
    # round-8 representatives (one per new family thread: link
    # prediction, survival, series diagnostics, weighted quantiles,
    # order-statistics sketch, effect size, chronology DQ, robust
    # shape, text diversity)
    "graph_jaccard_linkpred",
    "stats_logrank_segments",
    "stats_ljung_box_daily",
    "agg_weighted_median_price",
    "sketch_kmv_distinct_users",
    "stats_cliffs_delta_discount",
    "dq_date_order_violations",
    "stats_hodges_lehmann_quantity",
    "text_simpson_diversity_by_lang",
    "stats_wilcoxon_signed_rank_daily",
    # round-9 representatives (one per new thread: bounded quantile
    # summary, weighted SSSP off the warehouse adjacency, sequence
    # mining, ordered-alternative rank test, ECDF tail statistic,
    # vocabulary scaling law, split drift, uplift, key discovery,
    # cardinality fill-rate sketch)
    "sketch_rank_sample_quantile_merge",
    "graph_weighted_sssp_seeds",
    "events_sequential_patterns_topk",
    "stats_jonckheere_terpstra_priority",
    "stats_anderson_darling_quantity",
    "text_heaps_law_fit",
    "corpus_split_balance_kl",
    "ml_uplift_by_engagement_tier",
    "dq_candidate_key_discovery",
    "sketch_linear_counting_users",
    # round-10 representatives (one per new thread: relative-error
    # quantile sketch, cohort triangle, truncated stress centrality,
    # LSH banding curve, residual-diagnostic OLS with bounded-domain
    # rank join, closed-form isotonic fit, det-ln keyword scoring,
    # dyadic decay ladder, circular statistics, IVF tuning curve,
    # theta-union-adjacent audience overlap, Markov entropy rate)
    "sketch_ddsketch_quantiles",
    "events_cohort_retention_matrix",
    "graph_stress_centrality_seeds",
    "dedup_lsh_band_tuning_curve",
    "stats_durbin_watson_daily",
    "ml_isotonic_calibration_pav",
    "text_keyword_log_odds",
    "events_decayed_value_halflife",
    "stats_rayleigh_hour_uniformity",
    "similarity_ivf_nprobe_recall_curve",
    "events_type_audience_jaccard",
    "events_markov_entropy_rate",
    # round-11 representatives (one per new thread: residual-suite
    # heteroscedasticity with the staged half-up R^2, sampled
    # betweenness off the layered-BFS scaffold, Arrow gram-hash
    # contamination scan, calendar-bounded STL band join, anchor-
    # bounded intrinsic-dimension pass, mergeable count-median grid,
    # det-ln vocabulary-richness spectrum, Durbin-Levinson PACF,
    # rank-grid Cucconi, scored-scan ROC hull)
    "stats_breusch_pagan_daily",
    "graph_betweenness_sampled",
    "corpus_suffix_window_contamination",
    "events_stl_dow_decomposition",
    "embedding_intrinsic_dim_twonn",
    "sketch_countmedian_topk_freq",
    "text_yule_k_richness",
    "events_pacf_durbin_levinson",
    "stats_cucconi_halves",
    "ml_roc_convex_hull",
    # round-12 representative additions (batches K-O)
    "stats_holm_stepdown_dunn",
    "stats_siegel_tukey_scale",
    "events_stl_residual_periodogram",
    "events_cusum_max_drawdown",
    "graph_weighted_triangles",
    "graph_avg_neighbor_degree_curve",
    "text_vmeasure_lang_source",
    "ml_pav_roc_hull_audit",
    "ml_rank_rbo_overlap",
    "embedding_knn_hubness_audit",
    "layout_clustering_depth_audit",
]


def dump_pairs(suffix: str, out_dir: str, names: list[str]) -> None:
    sf_dir = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    os.makedirs(out_dir, exist_ok=True)
    spark = get_spark("dump_plans")
    specs = all_queries()
    for name in names:
        df = specs[name].fn(spark, sf_dir)
        with open(os.path.join(out_dir, f"{name}_{suffix}.txt"), "w") as f:
            f.write(formatted_plan(df))
        print(f"wrote {name}_{suffix}.txt")


def dump_headline(sf_dir: str) -> None:
    spark = get_spark("dump_plans")
    specs = all_queries()
    out = [
        "# PLANS — formatted physical plans of headline queries",
        "",
        f"Generated by `tools/dump_plans.py` against `{sf_dir}`. Things to",
        "read for: `PushedFilters` (predicate pushdown into parquet),",
        "`ReadSchema` (column pruning), `BroadcastHashJoin` (dim joins),",
        "`TakeOrderedAndProject` (top-k), partial/final `HashAggregate`",
        "pairs, and the absence of `CartesianProduct`.",
        "",
    ]
    for name in PLAN_QUERIES:
        df = specs[name].fn(spark, sf_dir)
        out.append(f"## {name}\n")
        out.append("```")
        out.append(formatted_plan(df).strip())
        out.append("```\n")
    root = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
    with open(os.path.join(root, "PLANS.md"), "w") as f:
        f.write("\n".join(out))
    print("PLANS.md written")


def main() -> None:
    args = sys.argv[1:]
    if len(args) >= 2:
        dump_pairs(args[0], args[1], args[2:])
    else:
        dump_headline(args[0] if args else "/root/testdata/sf0.1")


if __name__ == "__main__":
    main()
