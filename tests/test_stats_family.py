"""The stats family lives in one place and builds each shared sample
design once.

- Layout: the 96 stats queries that the round modules held are defined
  in the ``operators/stats_*.py`` theme modules, and those modules
  register nothing but ``stats_*`` queries.
- One derivation: the document gate flags, the complete-block filter,
  the return-flag quantity samples and the value-histogram running
  count are written only in ``operators/stats_samples.py``.
- Values: the gate sums and the complete-block cells equal a
  pure-pyarrow computation over the fixture.
"""

from __future__ import annotations

import ast
import os
import re

import pyarrow.compute as pc
import pyarrow.parquet as pq

from mysql_public_data_ingestor_spark.registry import all_queries
from mysql_public_data_ingestor_spark.tables import Tables

OPS_DIR = os.path.join(
    os.path.dirname(os.path.dirname(os.path.abspath(__file__))),
    "mysql_public_data_ingestor_spark",
    "operators",
)

STATS_QUERIES = (
    "stats_anderson_darling_quantity",
    "stats_ansari_bradley_quantity",
    "stats_atkinson_index_nation",
    "stats_bartlett_variance_priority",
    "stats_bh_fdr_nation_urgency",
    "stats_bhattacharyya_hellinger_priority",
    "stats_bland_altman_price_agreement",
    "stats_blomqvist_beta",
    "stats_bowley_skew_priority",
    "stats_brown_forsythe_quantity",
    "stats_brunner_munzel_ab",
    "stats_changepoint_binseg",
    "stats_chi2_dow_hour_independence",
    "stats_circular_weekday_concentration",
    "stats_cliffs_delta_discount",
    "stats_cochran_armitage_trend",
    "stats_cochran_q_gates",
    "stats_cohens_d_priority",
    "stats_conover_squared_ranks",
    "stats_cramers_v_bias_corrected",
    "stats_cramers_v_priority_status",
    "stats_cronbach_alpha_gates",
    "stats_cvm_two_sample",
    "stats_dunn_posthoc_quantity",
    "stats_eb_beta_binomial_shrinkage",
    "stats_fleiss_kappa_gates",
    "stats_fligner_policello_status",
    "stats_friedman_nation_priority",
    "stats_g_test_dow_type",
    "stats_gamma_latency_fit_moments",
    "stats_goodman_kruskal_gamma",
    "stats_goodman_kruskal_lambda",
    "stats_goodman_kruskal_tau",
    "stats_grubbs_acctbal_nation",
    "stats_gumbel_daily_max_fit",
    "stats_gwet_ac1_gates",
    "stats_hartley_fmax_cochran_c",
    "stats_hhi_supplier_concentration",
    "stats_hodges_lehmann_quantity",
    "stats_holm_stepdown_dunn",
    "stats_hoover_index_nation",
    "stats_jonckheere_terpstra_priority",
    "stats_js_divergence_priority",
    "stats_k_sample_median_test",
    "stats_kendall_tau_b",
    "stats_kendall_w_nation_priority",
    "stats_km_log_survival",
    "stats_krippendorff_alpha_binary",
    "stats_kruskal_wallis_quantity",
    "stats_ks_two_sample",
    "stats_kuiper_ab",
    "stats_lepage_location_scale",
    "stats_levene_priority",
    "stats_lin_ccc_reconciliation",
    "stats_logistic_gd",
    "stats_logrank_segments",
    "stats_lorenz_asymmetry",
    "stats_mantel_haenszel_priority_nation",
    "stats_mcnemar_quality_rules",
    "stats_median_polish_2way",
    "stats_moments_skew_kurtosis",
    "stats_mood_median_discount",
    "stats_mutual_info_priority_segment",
    "stats_nation_rank_stability_tau",
    "stats_negbin_hourly_fit",
    "stats_newcombe_diff_ci",
    "stats_odds_ratio_woolf",
    "stats_ols_influence_daily",
    "stats_overdispersion_vmr",
    "stats_page_trend_l",
    "stats_pareto_by_nation",
    "stats_partial_correlation_price",
    "stats_permutation_test_ab",
    "stats_phi_yule_q_gates",
    "stats_process_capability_latency",
    "stats_pythagorean_means_quantity",
    "stats_quade_nation_priority",
    "stats_quantile_shift_function",
    "stats_rayleigh_hour_uniformity",
    "stats_siegel_tukey_scale",
    "stats_sign_test_daily_pair",
    "stats_somers_d_status",
    "stats_spearman_corr",
    "stats_theil_index_nation",
    "stats_theil_sen_trend",
    "stats_tost_equivalence_ab",
    "stats_total_variation_segment_pairs",
    "stats_trimmed_winsorized_price",
    "stats_tukey_hsd_priority",
    "stats_tukey_quick_ab",
    "stats_two_way_anova_price",
    "stats_weibull_latency_fit",
    "stats_welch_anova",
    "stats_wilcoxon_signed_rank_daily",
    "stats_wilson_ci_by_nation",
    "stats_yuen_trimmed_ttest",
)

# The gate constants, read as names (the Spark columns and the SQL
# f-strings both name them).
GATE_CONSTANTS = ("MCNEMAR_MIN_CHARS", "MCNEMAR_MIN_TOKENS", "COCHRAN_MIN_SENTENCES")
# The complete-block filter, the return-flag sample select, and the
# running count below a value: a global window over the value column or
# a band self-join against the histogram's ``*_lo`` copy.
BLOCK_FILTER = 'F.col("n_trt") == F.col("k")'
FLAG_SAMPLE = ('F.col("l_returnflag").isin(', 'F.col("l_quantity").isNotNull()')
VALUE_CUM = ('Window.orderBy("v")', 'Window.orderBy("u")', '_lo") <')


def _is_theme_module(module: str) -> bool:
    name = module.split(".")[-1]
    return name.startswith("stats_") and name != "stats_samples"


def test_stats_queries_live_in_theme_modules():
    assert len(set(STATS_QUERIES)) == 96
    home = {n: s.fn.__module__ for n, s in all_queries().items()}
    outside = sorted(n for n in STATS_QUERIES if not _is_theme_module(home[n]))
    assert not outside, f"stats queries outside operators/stats_*.py: {outside}"
    foreign = sorted(
        n for n, m in home.items() if _is_theme_module(m) and not n.startswith("stats_")
    )
    assert not foreign, f"other queries in operators/stats_*.py: {foreign}"


def _modules() -> list[tuple[str, str]]:
    out = []
    for fname in sorted(os.listdir(OPS_DIR)):
        if fname.endswith(".py"):
            with open(os.path.join(OPS_DIR, fname)) as f:
                out.append((fname, f.read()))
    return out


def _functions_with(*needles: str) -> list[tuple[str, str]]:
    """(file, function) of every top-level function of an operator
    module whose source contains all of ``needles``."""
    hits = []
    for fname, src in _modules():
        for node in ast.parse(src).body:
            if isinstance(node, ast.FunctionDef):
                seg = ast.get_source_segment(src, node)
                if all(n in seg for n in needles):
                    hits.append((fname, node.name))
    return hits


def test_gate_flags_are_built_in_one_place():
    users = sorted(
        {
            fname
            for fname, src in _modules()
            for node in ast.walk(ast.parse(src))
            if isinstance(node, ast.Name) and node.id in GATE_CONSTANTS
        }
    )
    assert users == ["stats_samples.py"], users


def test_complete_blocks_are_built_in_one_place():
    hits = _functions_with(BLOCK_FILTER)
    assert hits == [("stats_samples.py", "block_ranks")], hits


def test_return_flag_samples_are_selected_in_one_place():
    hits = _functions_with(*FLAG_SAMPLE)
    assert hits == [("stats_samples.py", "flag_quantities")], hits


def test_value_running_count_is_built_in_one_place():
    hits = sorted({h for needle in VALUE_CUM for h in _functions_with(needle)})
    assert hits == [("stats_samples.py", "value_cum")], hits


def _pyarrow_gate_sums(sf_dir: str) -> tuple[int, int, int]:
    """(n, sum L, sum L^2) of the per-document gate pass count L, with
    plain Python over ``documents.parquet``."""
    from mysql_public_data_ingestor_spark.operators.stats_samples import (
        COCHRAN_MIN_SENTENCES,
        MCNEMAR_MIN_CHARS,
        MCNEMAR_MIN_TOKENS,
    )

    docs = pq.read_table(os.path.join(sf_dir, "documents.parquet"), columns=["n_chars", "text"])
    n = sl = sll = 0
    for n_chars, text in zip(docs["n_chars"].to_pylist(), docs["text"].to_pylist()):
        passes = 0
        if n_chars is not None and n_chars >= MCNEMAR_MIN_CHARS:
            passes += 1
        if text is not None:
            # Java's \s: the six ASCII whitespace characters
            tokens = re.sub(r"[ \t\n\x0b\f\r]+", " ", text.lower()).strip(" ").split(" ")
            passes += len(tokens) >= MCNEMAR_MIN_TOKENS
            passes += text.count(".") >= COCHRAN_MIN_SENTENCES
        n += 1
        sl += passes
        sll += passes * passes
    return n, sl, sll


def test_gate_sums_match_pyarrow(spark, sf_dir):
    from mysql_public_data_ingestor_spark.operators.stats_samples import gate_sums

    row = gate_sums(Tables(spark, sf_dir)).collect()[0]
    assert (int(row.n), int(row.sl), int(row.sll)) == _pyarrow_gate_sums(sf_dir)


def _pyarrow_block_ranks(sf_dir: str) -> list[tuple]:
    """(blk, trt, n_cell, s_cell, rnk) of the complete nation x priority
    blocks: whole-cent order values summed per cell, cells ranked by
    mean (then label) within their block."""
    orders = pq.read_table(
        os.path.join(sf_dir, "orders.parquet"),
        columns=["o_custkey", "o_orderpriority", "o_totalprice"],
    )
    customer = pq.read_table(
        os.path.join(sf_dir, "customer.parquet"), columns=["c_custkey", "c_nationkey"]
    )
    nation_of = dict(
        zip(customer["c_custkey"].to_pylist(), customer["c_nationkey"].to_pylist())
    )
    cents = pc.cast(
        pc.floor(pc.add(pc.multiply(orders["o_totalprice"], 100.0), 0.5)), "int64"
    ).to_pylist()
    cells: dict[tuple, list[int]] = {}
    for cust, trt, c in zip(
        orders["o_custkey"].to_pylist(), orders["o_orderpriority"].to_pylist(), cents
    ):
        if cust not in nation_of:
            continue
        cell = cells.setdefault((nation_of[cust], trt), [0, 0])
        cell[0] += 1
        cell[1] += c
    k = len({trt for _, trt in cells})
    out = []
    for blk in sorted({b for b, _ in cells}):
        row = sorted(
            ((s / n, trt, n, s) for (b, trt), (n, s) in cells.items() if b == blk),
            key=lambda r: (r[0], r[1]),
        )
        if len(row) == k:
            out += [(blk, trt, n, s, r) for r, (_, trt, n, s) in enumerate(row, start=1)]
    return sorted(out)


def test_block_ranks_match_pyarrow(spark, sf_dir):
    from mysql_public_data_ingestor_spark.operators.stats_samples import block_ranks

    ranked, kk, complete = block_ranks(Tables(spark, sf_dir))
    got = sorted(
        (r.blk, r.trt, int(r.n_cell), int(r.s_cell), int(r.rnk)) for r in ranked.collect()
    )
    want = _pyarrow_block_ranks(sf_dir)
    assert got == want
    assert sorted(r.blk for r in complete.collect()) == sorted({w[0] for w in want})
    assert kk.collect()[0].k == max((w[4] for w in want), default=0)
