"""Plan-shape assertions: the scale story, testable.

Each test pins a physical-plan property that matters at 100 TB:
pushdown, pruning, broadcast vs shuffle joins, no cartesian products,
take-ordered top-k.
"""

from __future__ import annotations

from mysql_public_data_ingestor_spark.plans import (
    assert_no_cartesian,
    count_exchanges,
    has_broadcast_join,
    physical_plan,
    pushed_filters,
    scan_read_schemas,
)
from mysql_public_data_ingestor_spark.registry import all_queries

SPECS = all_queries()


def q(name, spark, sf_dir):
    return SPECS[name].fn(spark, sf_dir)


# Registry-wide audit support: the two whole-registry audits below each
# need the physical plan of every audited query; planning 611 queries
# is ~6 min of driver work, so (a) the plan STRING is computed once and
# shared between them (r15: halves their combined cost), and (b) the
# default smoke tier audits a deterministic 1-in-8 sample per test-tier
# policy in conftest.py (SPARK_GRAFT_FULL_TESTS=1 audits all — the
# round-end discipline).
_PLAN_CACHE: dict[str, str] = {}


def registry_plan(name, spark, sf_dir) -> str:
    if name not in _PLAN_CACHE:
        _PLAN_CACHE[name] = physical_plan(q(name, spark, sf_dir))
    return _PLAN_CACHE[name]


def registry_audit_names():
    from conftest import FULL_TESTS, smoke_tier_keeps

    if FULL_TESTS:
        return list(SPECS)
    return [n for n in SPECS if smoke_tier_keeps(n)]


def test_q1_filter_pushed_and_schema_pruned(spark, sf_dir):
    df = q("q1_pricing_summary", spark, sf_dir)
    pushed = pushed_filters(df)
    assert any("l_shipdate" in p for p in pushed), pushed
    schemas = scan_read_schemas(df)
    # only the 7 needed columns read, not all 11
    assert schemas and all("l_orderkey" not in s and "l_partkey" not in s for s in schemas), schemas


def test_q5_broadcasts_dims_and_bounded_shuffles(spark, sf_dir):
    df = q("q5_revenue_by_nation", spark, sf_dir)
    assert has_broadcast_join(df)
    plan = physical_plan(df)
    # region filter must reach the region scan, not be evaluated post-join
    assert any("r_name" in p for p in pushed_filters(df))
    # lineitem⋈orders is the only big join; agg adds one more exchange.
    # Anything above 4 exchanges means a dim stopped broadcasting.
    assert count_exchanges(df) <= 4, plan


def test_topk_uses_take_ordered(spark, sf_dir):
    df = q("topk_global_orders", spark, sf_dir)
    assert "TakeOrderedAndProject" in physical_plan(df)


def test_range_join_is_broadcast_not_cartesian(spark, sf_dir):
    df = q("join_range_price_band", spark, sf_dir)
    assert_no_cartesian(df)
    assert has_broadcast_join(df)


def test_minhash_lsh_no_cartesian(spark, sf_dir):
    df = q("dedup_minhash_lsh", spark, sf_dir)
    assert_no_cartesian(df)


def test_knn_broadcasts_queries(spark, sf_dir):
    df = q("knn_brute_cosine", spark, sf_dir)
    assert has_broadcast_join(df)


def test_semi_anti_join_plans(spark, sf_dir):
    semi = q("join_semi_customers_with_urgent_orders", spark, sf_dir)
    anti = q("join_anti_customers_without_orders", spark, sf_dir)
    assert "LeftSemi" in physical_plan(semi)
    assert "LeftAnti" in physical_plan(anti)


def test_window_topk_single_shuffle(spark, sf_dir):
    df = q("window_topk_orders_per_customer", spark, sf_dir)
    # one hash exchange on the partition key, nothing else
    assert count_exchanges(df) <= 1, physical_plan(df)


def test_events_tumbling_partial_agg(spark, sf_dir):
    df = q("events_tumbling_hourly", spark, sf_dir)
    plan = physical_plan(df)
    # partial-final split: HashAggregate appears above and below the exchange
    assert plan.count("HashAggregate") >= 2


def test_ntile_by_nation_partitioned_no_single_partition_window(spark, sf_dir):
    """The partitioned ntile twin must shuffle on the partition key; a
    SinglePartition exchange would mean a global (one-reducer) window."""
    df = q("window_ntile_by_nation", spark, sf_dir)
    plan = physical_plan(df)
    assert "SinglePartition" not in plan, plan
    assert count_exchanges(df) <= 1, plan


def test_ann_lsh_topk_no_cartesian(spark, sf_dir):
    """ANN candidates must come from the band equi-join, never a
    cross product of queries x corpus."""
    df = q("ann_lsh_topk", spark, sf_dir)
    assert_no_cartesian(df)
    assert has_broadcast_join(df)


def test_tpch2_broadcast_and_pushdown(spark, sf_dir):
    """New TPC-H shapes keep dims broadcast and filters pushed."""
    for name, pushed_col in [
        ("q19_discounted_revenue", "l_partkey"),
        ("q12_shipmode_priority", "l_shipdate"),
        ("q15_top_supplier", "l_shipdate"),
    ]:
        df = q(name, spark, sf_dir)
        assert has_broadcast_join(df), name
        assert any(pushed_col in p for p in pushed_filters(df)), (name, pushed_filters(df))


def test_q21_semi_and_anti(spark, sf_dir):
    plan = physical_plan(q("q21_suppliers_kept_waiting", spark, sf_dir))
    assert "LeftSemi" in plan
    assert "LeftAnti" in plan


def test_gap_fill_no_cartesian_partitioned_window(spark, sf_dir):
    """Gap-fill: grid generation and forward fill must stay per-key —
    no cartesian grid x events, no SinglePartition window."""
    df = q("events_hourly_gap_fill", spark, sf_dir)
    assert_no_cartesian(df)
    assert "SinglePartition" not in physical_plan(df)


def test_repetition_stats_no_python(spark, sf_dir):
    """Repetition stats is pure JVM: no Arrow/Python eval in the plan."""
    plan = physical_plan(q("text_repetition_stats", spark, sf_dir))
    assert "ArrowEvalPython" not in plan and "BatchEvalPython" not in plan


def test_kv_flatten_native_no_python(spark, sf_dir):
    """The variant_explode kv flatten must run entirely JVM-side —
    no Python UDTF / Arrow eval nodes (that is the whole point of the
    twin vs udtf_props_kv_flatten)."""
    plan = physical_plan(q("events_kv_flatten_native", spark, sf_dir))
    for node in ("ArrowEvalPython", "BatchEvalPython", "PythonUDTF", "EvalPythonUDTF"):
        assert node not in plan, plan


def test_classifier_score_zero_exchanges(spark, sf_dir):
    """Hashed-feature classifier scoring must be a single pass over the
    scan — tokenize/weight/reduce fused into one projection, zero
    exchanges."""
    df = q("text_quality_classifier_score", spark, sf_dir)
    assert count_exchanges(df) == 0, physical_plan(df)


def test_bpe_pair_counts_bounded_shuffles(spark, sf_dir):
    """BPE pair counting: vocab groupBy + pair groupBy, both
    partial-aggregated; nothing else shuffles and nothing is cartesian."""
    df = q("corpus_bpe_pair_counts", spark, sf_dir)
    assert_no_cartesian(df)
    assert count_exchanges(df) <= 3, physical_plan(df)


def test_containment_no_cartesian(spark, sf_dir):
    """Containment self-join must stay an equi-join on the block key."""
    assert_no_cartesian(q("dedup_containment", spark, sf_dir))


def test_market_basket_broadcasts_supports(spark, sf_dir):
    """Association rules: item supports and the order total broadcast;
    the pair table joins without reshuffling; nothing is cartesian
    (the 1-row total attaches via BroadcastNestedLoopJoin, which is
    fine — assert no CartesianProduct node instead)."""
    plan = physical_plan(q("graph_market_basket_lift", spark, sf_dir))
    assert "BroadcastHashJoin" in plan
    assert "CartesianProduct" not in plan


def test_rfm_no_global_window(spark, sf_dir):
    """RFM scoring must use broadcast percentile thresholds, not
    ntile() OVER () — no SinglePartition window in the plan."""
    plan = physical_plan(q("stats_rfm_segmentation", spark, sf_dir))
    assert "Window" not in plan, plan
    assert "BroadcastNestedLoopJoin" in plan or "BroadcastHashJoin" in plan


def test_budget_fill_partitioned_window(spark, sf_dir):
    """Budget fill: the running token sum is per-language, never a
    global window; the huge text column is pruned from the scan."""
    df = q("corpus_budget_fill", spark, sf_dir)
    assert "SinglePartition" not in physical_plan(df)


def test_path_transitions_partitioned_window(spark, sf_dir):
    """Markov transitions: the lag window is per-user, never global."""
    df = q("events_user_path_transitions", spark, sf_dir)
    assert "SinglePartition" not in physical_plan(df)
    assert_no_cartesian(df)


def test_lm_cross_entropy_broadcasts_lm(spark, sf_dir):
    """LM scoring join: the bigram LM and context tables broadcast;
    doc bigrams never reshuffle for the join."""
    plan = physical_plan(q("text_lm_cross_entropy", spark, sf_dir))
    assert "BroadcastHashJoin" in plan
    assert "CartesianProduct" not in plan


def test_sample_hash_mod_is_pure_scan_filter(spark, sf_dir):
    """Hash-mod sampling must stay a row-local scan predicate: zero
    exchanges, and the (huge) text column pruned from the read."""
    df = q("sample_hash_mod", spark, sf_dir)
    assert count_exchanges(df) == 0, physical_plan(df)
    assert all("text" not in s for s in scan_read_schemas(df))


def test_pack_sequences_window_is_partitioned(spark, sf_dir):
    """Sequence packing cumsums per source shard — a global
    SinglePartition window would serialize the whole corpus."""
    plan = physical_plan(q("corpus_pack_sequences", spark, sf_dir))
    assert "SinglePartition" not in plan, plan


def test_decontamination_joins_on_hashes_only(spark, sf_dir):
    df = q("corpus_decontaminate_ngram_overlap", spark, sf_dir)
    assert_no_cartesian(df)
    # only (doc_id, text) ever read — lang/source/n_chars pruned
    assert all(set(s.split(",")) <= {"struct<doc_id:bigint", "text:string>"}
               for s in scan_read_schemas(df)), scan_read_schemas(df)


def test_centroid_outliers_broadcasts_centroids(spark, sf_dir):
    df = q("embedding_centroid_outliers", spark, sf_dir)
    assert has_broadcast_join(df)
    assert_no_cartesian(df)


def test_passage_windows_no_cartesian(spark, sf_dir):
    assert_no_cartesian(q("dedup_passage_windows", spark, sf_dir))


def test_graph_triangle_no_cartesian(spark, sf_dir):
    df = q("graph_triangle_count", spark, sf_dir)
    assert_no_cartesian(df)


def test_rolling_zscore_single_window_shuffle(spark, sf_dir):
    df = q("events_rolling_zscore", spark, sf_dir)
    # one exchange to the hourly rollup, one to the per-type window
    assert count_exchanges(df) <= 2, physical_plan(df)


def test_attribution_single_shuffle_no_self_join(spark, sf_dir):
    df = q("events_attribution_last_touch", spark, sf_dir)
    plan = physical_plan(df)
    assert count_exchanges(df) <= 1, plan
    assert "Join" not in plan, plan


def test_inverted_index_pruned_scan(spark, sf_dir):
    df = q("text_inverted_index", spark, sf_dir)
    schemas = scan_read_schemas(df)
    assert schemas and all("lang" not in s and "source" not in s for s in schemas), schemas


def test_countmin_estimate_never_undercounts(spark, sf_dir):
    rows = q("sketch_countmin_heavy_hitters", spark, sf_dir).collect()
    assert rows and all(r.cm_estimate >= r.exact_n for r in rows)


def test_bloom_prefilter_no_false_negatives(spark, sf_dir):
    r = q("sketch_bloom_semijoin_prefilter", spark, sf_dir).collect()[0]
    # every true member must survive the pre-filter
    assert r.n_candidates >= r.n_members
    assert r.n_false_positives == r.n_candidates - r.n_members
    assert r.n_false_positives >= 0


def test_bloom_probe_broadcasts_bitset(spark, sf_dir):
    df = q("sketch_bloom_semijoin_prefilter", spark, sf_dir)
    assert has_broadcast_join(df)


def test_corpus_prep_full_broadcasts_lm_no_cartesian(spark, sf_dir):
    df = q("pipeline_corpus_prep_full", spark, sf_dir)
    assert_no_cartesian(df)
    # the bigram LM and context tables must broadcast into the doc-side join
    assert has_broadcast_join(df)


def test_kmeans_broadcasts_centroids_no_cartesian(spark, sf_dir):
    df = q("ml_kmeans_lloyd", spark, sf_dir)
    assert_no_cartesian(df)
    # both Lloyd rounds must score distances via a broadcast centroid join
    assert has_broadcast_join(df)
    # argmin is a partial-aggregated min(struct), never a row_number window
    assert "Window" not in physical_plan(df)


def test_semdedup_pairs_stay_cell_blocked(spark, sf_dir):
    df = q("dedup_semantic_cells", spark, sf_dir)
    assert_no_cartesian(df)


def test_ewma_single_user_shuffle(spark, sf_dir):
    df = q("events_ewma_value", spark, sf_dir)
    # one window over user_id: exactly one exchange, no join
    assert count_exchanges(df) == 1, physical_plan(df)


def test_fuzzy_pairs_blocked_join_no_cartesian(spark, sf_dir):
    df = q("dedup_fuzzy_name_pairs", spark, sf_dir)
    assert_no_cartesian(df)


def test_feature_pack_broadcasts_fit_row(spark, sf_dir):
    df = q("ml_feature_scaling_pack", spark, sf_dir)
    # the 1-row fit aggregate must broadcast into the transform projection
    assert has_broadcast_join(df)
    # transform side reads only the 3 needed columns
    assert any(
        "l_extendedprice" in s and "l_quantity" not in s for s in scan_read_schemas(df)
    ), scan_read_schemas(df)


def test_attribution_position_based_no_join(spark, sf_dir):
    df = q("events_attribution_position_based", spark, sf_dir)
    # pure window pipeline: no join operator of any kind in the plan
    plan = physical_plan(df)
    assert "Join" not in plan, plan


def test_benford_and_equidepth_broadcast_their_one_row_state(spark, sf_dir):
    for name in ("dq_benford_order_totals", "agg_equidepth_histogram"):
        df = q(name, spark, sf_dir)
        assert_no_cartesian(df)
        assert has_broadcast_join(df), name


def test_skew_profile_no_cartesian(spark, sf_dir):
    df = q("diag_key_skew_profile", spark, sf_dir)
    assert_no_cartesian(df)


def test_random_projection_is_shuffle_free(spark, sf_dir):
    """JL projection must run at scan speed: no Exchange in the plan."""
    df = q("embedding_random_projection", spark, sf_dir)
    assert count_exchanges(df) == 0, physical_plan(df)


def test_shuffle_shard_single_exchange(spark, sf_dir):
    """Shard assignment is map-side; only the per-shard position window
    shuffles — exactly one Exchange, keyed by shard."""
    df = q("corpus_shuffle_shard", spark, sf_dir)
    assert count_exchanges(df) == 1, physical_plan(df)


def test_referential_integrity_dims_broadcast(spark, sf_dir):
    """Dim probes are broadcast anti-joins; no cartesian anywhere."""
    df = q("dq_referential_integrity", spark, sf_dir)
    assert_no_cartesian(df)
    plan = physical_plan(df)
    assert "BroadcastHashJoin" in plan and "LeftAnti" in plan, plan


def test_int8_quant_calibration_broadcasts_scales(spark, sf_dir):
    """The 64-row per-dimension scale table broadcasts back into the
    transform — the quantize pass must not shuffle the exploded rows
    a second time."""
    df = q("embedding_int8_quant_stats", spark, sf_dir)
    assert has_broadcast_join(df), physical_plan(df)


def test_asof_nearest_single_exchange(spark, sf_dir):
    """Both as-of frames ride ONE user_id shuffle (union-tag idiom) —
    no per-row subquery, no range join, no extra exchange."""
    df = q("events_asof_nearest", spark, sf_dir)
    assert_no_cartesian(df)
    assert count_exchanges(df) == 1, physical_plan(df)


def test_weighted_topk_rank_pushed_below_exchange(spark, sf_dir):
    """Efraimidis–Spirakis top-k must push the rank filter below the
    exchange (WindowGroupLimit) so the shuffle carries at most k rows
    per group per map partition."""
    plan = physical_plan(q("sample_weighted_topk", spark, sf_dir))
    assert "WindowGroupLimit" in plan, plan


# Documented exceptions to the registry-wide SinglePartition rule:
#   window_ntile_percent_rank — deliberate global-window surface demo;
#     its partitioned twin (window_ntile_by_nation) is the scale path.
#   percentiles_exact — exact global percentiles require one ordered
#     pass by definition; percentiles_approx is the scale path.
#   diag_key_skew_profile — the global prefix-sum window runs over the
#     count-of-counts table, an aggregate OUTPUT whose size is the
#     number of distinct per-key frequencies (~sqrt(N) under Zipf; a
#     few 1e5 rows at billions of keys), not over data-scaled rows.
SINGLE_PARTITION_ALLOWLIST = {
    "window_ntile_percent_rank",
    "percentiles_exact",
    "diag_key_skew_profile",
    # cumulative window over the POST-AGGREGATION fixed bin domain
    # (~600 $1000-bins regardless of row count) — same bounded-domain
    # shape as diag_key_skew_profile's count-of-counts cumulative; the
    # row-bounded work all happens in the partial/merged histogram
    # aggregates upstream of the exchange.
    "sketch_fixedbin_quantile_merge",
    # ordered ranking over the POST-AGGREGATION distinct-|difference|
    # domain (bounded by the daily count range, not by rows) — the
    # fact scan partial-aggregates to calendar days before anything
    # ordered runs.
    "stats_wilcoxon_signed_rank_daily",
    # lead/lag + cumulative passes over the POST-AGGREGATION calendar-
    # day series (~2.4k rows regardless of corpus size) and the 7-row
    # lag table — same bounded-domain class as events_acf_daily_lags'
    # per-type series, which here is a single global series by
    # definition of the statistic.
    "stats_ljung_box_daily",
    # round-9 queue activations (rationales carried over from the
    # pre-activation sweep in tests/test_roundnine.py — every global
    # ordered pass below runs over a POST-AGGREGATION bounded domain,
    # never over raw fact rows):
    # prefix sum + running min over the ~2.4k-calendar-day series.
    "stats_page_hinkley_orders",
    # total-recovery window over the 10 decile rows.
    "ml_brier_decomposition",
    # frontier cumulative over the collapsed DISTINCT price-cents
    # curve of the dimension table.
    "relational_skyline_pareto",
    # ROC cumulative over the <= 10001-value score grid.
    "ml_youden_optimal_threshold",
    # (agg_top_value_share was allowlisted here through round 9 — its
    # value-range-bounded distinct-cents cumulative is now a two-pass
    # boundary-bin refinement with no ordered SinglePartition stage,
    # so it rejoins the swept set. VERDICT r9 item 3.)
    # share window over the 8-row per-shard aggregate output.
    "layout_serpentine_shard_balance",
    # round-11 banked queue (gated pre-activation in
    # tests/test_roundeleven.py): ROC cumulative over the
    # <= 10001-value POST-AGGREGATION score grid — the same bounded
    # domain as ml_youden_optimal_threshold above (scores group to
    # the quantized grid before anything ordered runs).
    "privacy_membership_inference_audit",
    # round-9 direct registrations (roundnine2.py):
    # merged-summary cumulative over <= 32 shards x 256 rank samples
    # (the sketch's size is fixed by mechanism regardless of rows —
    # stride grows with the data, the summary does not).
    "sketch_rank_sample_quantile_merge",
    # lag/flag/cumsum run detection over the POST-AGGREGATION
    # calendar-day exceedance series (~2.4k rows at any corpus size).
    "events_peak_over_threshold_clusters",
    # round-10 activation (roundtenb.py): descending ROC cumulative
    # over the POST-AGGREGATION <= 10001-value quantized score grid —
    # same bounded-domain class (and same upstream aggregate) as
    # ml_youden_optimal_threshold above.
    "ml_cost_optimal_threshold",
    # round-12 batch L (now daily_change.py): cumulative-path + running-
    # peak windows over the POST-AGGREGATION ~2.4k-calendar-day series
    # (the stats_ljung_box_daily class; replaced a 27.5s chain of
    # three day^2 non-equi prefix joins).
    "events_cusum_max_drawdown",
    # successive-difference rank cumulatives over the POST-AGGREGATION
    # ~2.4k-calendar-day daily-count value grid plus its lag join —
    # the stats_ljung_box_daily bounded-calendar class.
    "stats_bartels_rank_daily",
    # round-13 activation (roundthirteen3.py): equal-mass-bin and
    # ranking cumulatives over the POST-AGGREGATION <= 10001-value
    # quantized score grid — the ml_youden_optimal_threshold class.
    "ml_adaptive_calibration_error",
    # descending ROC cumulative + per-beta ranking over the same
    # <= 10001-value POST-AGGREGATION score grid.
    "ml_fbeta_optimal_thresholds",
    # round-13 activation (roundthirteen4.py): Lorenz cumulative over
    # the POST-AGGREGATION distinct-document-length value grid
    # (bounded by the length domain, not by document count).
    "corpus_token_mass_lorenz",
    # round-13 batch V (roundthirteen7.py): descending ROC cumulative
    # over the <= 10001-value POST-AGGREGATION score grid — the
    # fbeta/Youden class (the per-floor ranking partitions by floor,
    # so only the shared cumulative is global).
    "ml_recall_at_precision_floor",
    # round-14 activation (roundfourteen3.py): descending ROC
    # cumulative over the same <= 10001-value POST-AGGREGATION score
    # grid — the fbeta/Youden class, flagged at bank time in the
    # batch-3 docstring and landed with the activation flip.
    "ml_prg_at_operating_points",
    # round-14 batch Z (roundfourteen5.py): <=-rank cumulative over
    # the POST-AGGREGATION distinct-daily-count value grid plus its
    # +1 calendar lag join — the stats_bartels_rank_daily
    # bounded-calendar class.
    "stats_chatterjee_xi_daily",
    # round-14 batch AA (roundfourteen6.py): quartile-threshold
    # cumulative over the POST-AGGREGATION distinct-daily-count value
    # grid feeding the bounded lag fan — same bounded-calendar class.
    "events_ami_lag_profile",
    # round-14 batch AC (roundfourteen8.py): descending ROC cumulative
    # (+ its lag / first-crossing pick) over the <= 10001-value
    # POST-AGGREGATION score grid — the fbeta/Youden class, three
    # consumers sharing the identical head.
    "ml_partial_auc_mcclish",
    "ml_equal_error_rate",
    "ml_cost_curve_envelope",
    # round-14 batch AD (roundfourteen9.py): median/MAD order
    # statistics over the POST-AGGREGATION distinct-daily-count (and
    # absolute-deviation) value grids — the bounded-calendar class.
    "events_recurrence_rate_daily",
}


def test_registry_single_partition_only_feeds_final_aggregates(spark, sf_dir):
    """Scale sweep over the ENTIRE registry (not just the bench
    headline set): an Exchange SinglePartition may only feed a
    constant-size final aggregate (HashAggregate / ObjectHashAggregate
    — 32 partial rows in, one row out). A Sort or Window consumer would
    mean a data-scaled single-reducer stage — the classic scale-killer.
    This makes the 100 TB posture a property of every registered query,
    with an explicit allowlist for the two documented exceptions."""
    import re

    def sp_consumers(plan: str) -> list[str]:
        lines = plan.splitlines()
        out = []
        for i, line in enumerate(lines):
            if "Exchange SinglePartition" not in line:
                continue
            if "REPARTITION_BY_NUM" in line:
                # explicit cpu_repartition sizing: 1 partition only at
                # tiny SF; the count grows linearly with rows (pinned by
                # test_cpu_repartition_scales_with_rows), so this is a
                # fixture-size artifact, not a planner-forced global
                # stage. ENSURE_REQUIREMENTS SinglePartition — the real
                # scale hazard — is still checked.
                continue
            for j in range(i - 1, -1, -1):
                m = re.match(r"\s*[:+\-\s]*([A-Za-z]+)", lines[j])
                if m and m.group(1) != "Exchange":
                    out.append(m.group(1))
                    break
        return out

    offenders = {}
    for name in registry_audit_names():
        if name in SINGLE_PARTITION_ALLOWLIST:
            continue
        plan = registry_plan(name, spark, sf_dir)
        bad = [c for c in sp_consumers(plan)
               if c not in ("HashAggregate", "ObjectHashAggregate", "SortAggregate")]
        if bad:
            offenders[name] = bad
    assert not offenders, offenders


def test_cpu_repartition_scales_with_rows(spark):
    """cpu_repartition's partition count must grow linearly with input
    rows (until the waves-per-core cap) — this is what makes the
    REPARTITION_BY_NUM SinglePartition exchanges seen at tiny SF a
    fixture artifact rather than a scale bug."""
    from mysql_public_data_ingestor_spark.functions.partitioning import (
        DEFAULT_ROWS_PER_TASK,
        WAVES_PER_CORE,
        cpu_repartition,
    )

    cap = spark.sparkContext.defaultParallelism * WAVES_PER_CORE
    small = spark.range(DEFAULT_ROWS_PER_TASK // 2).withColumnRenamed("id", "k")
    assert cpu_repartition(small, "k").rdd.getNumPartitions() == 1
    mid = spark.range(DEFAULT_ROWS_PER_TASK * 8).withColumnRenamed("id", "k")
    assert cpu_repartition(mid, "k").rdd.getNumPartitions() == 8
    big = spark.range(DEFAULT_ROWS_PER_TASK * (cap + 50)).withColumnRenamed("id", "k")
    assert cpu_repartition(big, "k").rdd.getNumPartitions() == cap


def test_registry_no_cartesian_products(spark, sf_dir):
    """Registry-wide: no query may plan a CartesianProduct. 1-row
    scalar broadcasts (BroadcastNestedLoopJoin over a literal/aggregate
    row) remain legal — assert_no_cartesian only forbids the O(N*M)
    shape."""
    offenders = []
    for name in registry_audit_names():
        if "CartesianProduct" in registry_plan(name, spark, sf_dir):
            offenders.append(name)
    assert not offenders, offenders


def test_mann_whitney_window_is_partitioned(spark, sf_dir):
    """The rank window runs per event type — a SinglePartition exchange
    would mean the distinct-value table sorts on one reducer."""
    df = q("stats_mann_whitney_ab", spark, sf_dir)
    assert_no_cartesian(df)
    assert "SinglePartition" not in physical_plan(df), physical_plan(df)


def test_psi_edges_broadcast_no_cartesian(spark, sf_dir):
    """Decile edges and totals reach the bucketing projection as
    broadcasts; the only nested-loop join is the 1-row bounds row."""
    df = q("dq_psi_value_drift", spark, sf_dir)
    assert_no_cartesian(df)
    assert "BroadcastHashJoin" in physical_plan(df), physical_plan(df)


def test_mv_join_merge_dims_broadcast(spark, sf_dir):
    """Base, delta, and full enrichment all broadcast the dim side —
    the fact table never shuffles for the join."""
    df = q("mv_incremental_join_merge", spark, sf_dir)
    assert_no_cartesian(df)
    assert physical_plan(df).count("BroadcastHashJoin") >= 3, physical_plan(df)


def test_seasonal_baseline_bounded_shuffles(spark, sf_dir):
    """Hourly pre-agg + calendar-bounded baseline/current join: no
    cartesian, no global window."""
    df = q("events_seasonal_hourly_baseline", spark, sf_dir)
    assert_no_cartesian(df)
    assert "Window" not in physical_plan(df)


def test_jackknife_group_keyed_throughout(spark, sf_dir):
    """Block summaries join broadcast; no global exchange anywhere —
    the only real shuffle is the 160-key (priority, block) agg."""
    df = q("stats_jackknife_mean_ci", spark, sf_dir)
    assert_no_cartesian(df)
    plan = physical_plan(df)
    assert "SinglePartition" not in plan, plan
    assert "BroadcastHashJoin" in plan, plan


def test_time_to_convert_copartitioned_on_user(spark, sf_dir):
    """Both firsts and the latency join share the user_id key; the
    global percentile reduce merges constant-size sketch states."""
    df = q("events_time_to_convert", spark, sf_dir)
    assert_no_cartesian(df)


def test_filter_ablation_single_window_shuffle(spark, sf_dir):
    """One content_hash window + the 8-key reduce; nothing global."""
    df = q("corpus_filter_ablation", spark, sf_dir)
    assert_no_cartesian(df)
    assert "SinglePartition" not in physical_plan(df), physical_plan(df)


def test_user_feature_pack_combined_shuffles(spark, sf_dir):
    """Both aggs are map-side combined: exactly the (user, day) and
    (user) exchanges plus the 1-row broadcast anchor — no more."""
    df = q("ml_user_feature_pack", spark, sf_dir)
    assert_no_cartesian(df)
    assert count_exchanges(df) == 2, physical_plan(df)
