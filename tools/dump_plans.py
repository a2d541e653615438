"""Dump formatted physical plans — reviewable evidence of pushdown,
pruning, and join strategy.

Usage:
  python tools/dump_plans.py [sf_dir]
      the headline queries (PLAN_QUERIES) into PLANS.md at the repo root
      (not committed; ``make plans`` regenerates it);
  python tools/dump_plans.py --manifest <out.json> [query ...]
      the masked plan of each named query (default: every registered
      query) as ``{name: {sha256, operators: {operator: count}}}``,
      against SPARK_GRAFT_SF_DIR (required); build it on two checkouts
      at the same scale and core count to compare them. The committed
      ``plans/MANIFEST.json`` is the sf0.01, 4-core manifest of every
      query (``make manifest``);
  python tools/dump_plans.py --diff <a.json> <b.json>
      the queries whose masked plan differs between two manifests, each
      with its operator-count deltas (b minus a).
"""

from __future__ import annotations

import hashlib
import json
import os
import re
import sys
from collections import Counter

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
sys.path.insert(0, ROOT)

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


# Tokens that differ between two builds of the same plan: expression ids
# (``#123``, ``#45L``), the 12-hex fixture tag of a warehouse table, RDD
# and plan ids, and the checkout the plan was built in.
_VOLATILE = (
    (re.compile(r"#\d+L?"), "#N"),
    (re.compile(r"_[0-9a-f]{12}\b"), "_TAG"),
    (re.compile(r"RDD\[\d+\]"), "RDD[N]"),
    (re.compile(r"plan_id=\d+"), "plan_id=N"),
    # a higher-order function's variables (``lambda x_12``) are numbered
    # from a process-wide counter; a column's name (``o_0``) is kept
    (re.compile(r"\blambda ([A-Za-z]+)_\d+\b"), r"lambda \1_N"),
)
_OPERATOR = re.compile(r"^\(\d+\) (\S.*?)(?: \[codegen id : \d+\])?\s*$", re.M)


def mask_plan(plan: str) -> str:
    """The plan with every build-specific token replaced by a constant."""
    plan = plan.replace(ROOT, "<ROOT>")
    for pattern, repl in _VOLATILE:
        plan = pattern.sub(repl, plan)
    return plan


def plan_entry(plan: str) -> dict:
    masked = mask_plan(plan)
    return {
        "sha256": hashlib.sha256(masked.encode()).hexdigest(),
        "operators": dict(sorted(Counter(_OPERATOR.findall(masked)).items())),
    }


def write_manifest(out: str, names: list[str]) -> None:
    sf_dir = os.environ.get("SPARK_GRAFT_SF_DIR")
    if not sf_dir:
        raise SystemExit("--manifest plans against SPARK_GRAFT_SF_DIR; set it")
    spark = get_spark("dump_plans")
    specs = all_queries()
    manifest = {}
    for name in names or sorted(specs):
        manifest[name] = plan_entry(formatted_plan(specs[name].fn(spark, sf_dir)))
        print(f"{name} {manifest[name]['sha256'][:12]}", flush=True)
    with open(out, "w") as f:
        json.dump(manifest, f, indent=1, sort_keys=True)
        f.write("\n")


def diff_manifests(a_path: str, b_path: str) -> None:
    with open(a_path) as f:
        a = json.load(f)
    with open(b_path) as f:
        b = json.load(f)
    changed = 0
    for name in sorted(a.keys() | b.keys()):
        if name not in a or name not in b:
            print(f"{name}: only in {a_path if name in a else b_path}")
            changed += 1
        elif a[name]["sha256"] != b[name]["sha256"]:
            ops_a, ops_b = Counter(a[name]["operators"]), Counter(b[name]["operators"])
            delta = {op: ops_b[op] - ops_a[op] for op in sorted(ops_a.keys() | ops_b.keys())}
            moved = ", ".join(f"{op} {d:+d}" for op, d in delta.items() if d)
            print(f"{name}: {moved or 'same operator counts'}")
            changed += 1
    print(f"{changed} of {len(a.keys() | b.keys())} plans changed")


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
    with open(os.path.join(ROOT, "PLANS.md"), "w") as f:
        f.write("\n".join(out))
    print("PLANS.md written")


def main() -> None:
    args = sys.argv[1:]
    if args[:1] == ["--manifest"]:
        write_manifest(args[1], args[2:])
    elif args[:1] == ["--diff"]:
        diff_manifests(args[1], args[2])
    else:
        dump_headline(args[0] if args else "/root/testdata/sf0.1")


if __name__ == "__main__":
    main()
