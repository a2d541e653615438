"""×10 scale-up measurement for a named set of registered queries.

The pre-registration evidence loop (SCALE.md §5d recipe): every query
runs min-of-2 warm at the base fixture (sf0.1) and at the ×10 replica
(tools/make_scale_fixture.py), on the same session/host, with the
noop sink forcing full materialization. Super-unit ratios (>2× the 10×
data growth would explain sub-linearly) get flagged for a written
explanation in SCALE.md.

Usage:
  python tools/measure_x10.py out.json name1 name2 ...
  python tools/measure_x10.py out.json @round6      # the 37 r6 ops
Env: SPARK_GRAFT_BASE_SF (default /root/testdata/sf0.1),
     SPARK_GRAFT_X10_SF (default /tmp/sf1.0).
"""

from __future__ import annotations

import gc
import json
import os
import sys
import time

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

from mysql_public_data_ingestor_spark.registry import all_queries
from mysql_public_data_ingestor_spark.session import get_spark

ROUND6 = [
    "stats_ks_two_sample", "stats_wilson_ci_by_nation",
    "privacy_t_closeness_audit", "events_acf_daily_lags",
    "graph_kcore_membership", "stats_theil_sen_trend",
    "stats_spearman_corr", "ml_ndcg_by_lang", "privacy_dp_laplace_counts",
    "text_zipf_fit", "stats_changepoint_binseg", "ml_pr_auc_by_lang",
    "ml_naive_bayes_langid", "ml_decision_stump", "stats_kendall_tau_b",
    "graph_degree_assortativity", "events_holt_linear_fit",
    "events_poisson_rate_test", "stats_hhi_supplier_concentration",
    "stats_cramers_v_priority_status", "stats_overdispersion_vmr",
    "dq_completeness_profile", "text_ttr_hapax_by_lang",
    "events_interarrival_burstiness", "ml_brier_score_by_lang",
    "ml_mcc_threshold", "ml_cohens_kappa_gates", "ml_lift_deciles_by_lang",
    "ml_score_ks_separation", "stats_js_divergence_priority",
    "stats_odds_ratio_woolf", "stats_km_log_survival",
    "ml_split_quality_metrics", "graph_modularity_lpa",
    "graph_local_clustering_topk", "corpus_incremental_decontamination",
    "similarity_ivfpq_topk",
]

ROUND8 = [
    "graph_edge_triangle_support", "stats_mcnemar_quality_rules",
    "corpus_ngram_novelty_deciles", "graph_bfs_frontier_hops",
    "stats_trimmed_winsorized_price", "similarity_ivfpq_recall_audit",
    "ml_logistic_fit_quality", "stats_cohens_d_priority",
    "sketch_fixedbin_quantile_merge", "events_runs_test_daily",
    "dedup_minhash_recall_audit", "graph_adamic_adar_linkpred",
    "text_vocab_coverage_curve", "stats_kruskal_wallis_quantity",
    "graph_khop_reach_per_seed", "stats_weibull_latency_fit",
    "stats_grubbs_acctbal_nation", "stats_friedman_nation_priority",
    "stats_negbin_hourly_fit", "events_markov_stationary",
    "agg_mode_per_group", "events_seasonal_strength",
    "dq_orderkey_gap_audit", "dq_iqr_outlier_fences",
    "stats_ols_influence_daily", "stats_mood_median_discount",
    "stats_cochran_q_gates", "events_changepoint_pettitt",
    "stats_theil_index_nation", "ml_calibration_slope_intercept",
    "stats_mutual_info_priority_segment", "stats_levene_priority",
    "events_hourly_entropy_profile", "stats_bowley_skew_priority",
    "stats_moments_skew_kurtosis", "sketch_kmv_distinct_users",
    "dq_interval_overlap_orders", "graph_jaccard_linkpred",
    "stats_hodges_lehmann_quantity", "stats_cliffs_delta_discount",
    "stats_pythagorean_means_quantity", "agg_weighted_median_price",
    "dq_date_order_violations", "dq_functional_dependency_audit",
    "stats_wilcoxon_signed_rank_daily", "stats_logrank_segments",
    "stats_ljung_box_daily", "text_simpson_diversity_by_lang",
]

PRESETS = {"round6": ROUND6, "round8": ROUND8, "round9queue": None}


def main() -> int:
    out_path = sys.argv[1]
    specs = all_queries()
    names: list[str] = []
    for a in sys.argv[2:]:
        if a == "@round9queue":
            names.extend(
                n for n, s in specs.items() if s.fn.__module__.endswith(".roundnine")
            )
        elif a.startswith("@"):
            names.extend(PRESETS[a[1:]])
        else:
            names.append(a)
    base = os.environ.get("SPARK_GRAFT_BASE_SF", "/root/testdata/sf0.1")
    x10 = os.environ.get("SPARK_GRAFT_X10_SF", "/tmp/sf1.0")
    spark = get_spark("measure_x10")
    missing = [n for n in names if n not in specs]
    if missing:
        print(f"unknown queries: {missing}", file=sys.stderr)
        return 2

    results: dict[str, dict] = {}
    for sf_dir, key in ((base, "base"), (x10, "x10")):
        # JVM/footer warmup per fixture
        spark.read.parquet(os.path.join(sf_dir, "nation.parquet")).write.format(
            "noop"
        ).mode("overwrite").save()
        for name in names:
            runs = []
            for _ in range(2):
                gc.collect()
                t0 = time.time()
                specs[name].fn(spark, sf_dir).write.format("noop").mode(
                    "overwrite"
                ).save()
                runs.append(time.time() - t0)
            rec = results.setdefault(name, {})
            rec[key] = round(min(runs), 3)
            rec[key + "_cold"] = round(runs[0], 3)
            print(
                f"[x10] {key} {name}: cold {runs[0]:.2f}s min {min(runs):.2f}s",
                file=sys.stderr,
                flush=True,
            )
    for name, rec in results.items():
        rec["ratio"] = round(rec["x10"] / rec["base"], 2) if rec["base"] else None
    with open(out_path, "w") as f:
        json.dump(
            {"base": base, "x10": x10, "timing": "min_of_2_warm", "queries": results},
            f,
            indent=1,
        )
    flagged = sorted(
        (n for n, r in results.items() if r["ratio"] and r["ratio"] > 2),
        key=lambda n: -results[n]["ratio"],
    )
    print(f"[x10] wrote {out_path}; >2x ratios needing explanation: {flagged}",
          file=sys.stderr)
    return 0


if __name__ == "__main__":
    raise SystemExit(main())
