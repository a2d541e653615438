"""The orders daily-series family lives in one place and derives the
series once.

- Layout: the 49 queries built on the orders calendar-day series are
  defined in ``operators/daily*.py`` modules, and those modules register
  nothing else.
- One derivation: the orders day grouping and the calendar band-join
  rank (of any day series) are written only in ``operators/daily.py``.
- Head values: the count and cents heads' ``(day, y, k)`` equal a
  pure-pyarrow computation over the fixture's ``orders.parquet``.
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

DAILY_QUERIES = (
    "dq_control_chart_daily",
    "dq_weekday_volume_anomaly",
    "events_cusum_max_drawdown",
    "events_dfa_daily",
    "events_haar_wavelet_energy",
    "events_its_segmented_regression",
    "events_mase_seasonal_naive",
    "events_mosum_changepoint",
    "events_otsu_threshold_daily",
    "events_pacf_durbin_levinson",
    "events_peak_over_threshold_clusters",
    "events_periodogram_fixed_periods",
    "events_permutation_entropy3",
    "events_qs_seasonality_test",
    "events_records_foster_stuart",
    "events_recurrence_rate_daily",
    "events_sample_entropy_daily",
    "events_spectral_entropy_periods",
    "events_spectral_flatness_residual",
    "events_stl_dow_decomposition",
    "events_stl_residual_periodogram",
    "events_stl_trend_strength",
    "events_turning_points_daily",
    "events_variance_ratio_test",
    "events_weekend_effect_did",
    "stats_arch_lm_daily",
    "stats_bartels_rank_daily",
    "stats_breusch_pagan_daily",
    "stats_chatterjee_xi_daily",
    "stats_chow_test_break",
    "stats_cochrane_orcutt_trend",
    "stats_cox_stuart_trend_daily",
    "stats_cucconi_halves",
    "stats_cusum_squares_changepoint",
    "stats_diebold_mariano_daily",
    "stats_dixon_q_daily",
    "stats_durbin_watson_daily",
    "stats_effective_sample_size_daily",
    "stats_hurst_rs_daily",
    "stats_jarque_bera_daily",
    "stats_kpss_level_trend_daily",
    "stats_ljung_box_daily",
    "stats_mann_kendall_daily",
    "stats_mcleod_li_daily",
    "stats_page_hinkley_orders",
    "stats_poisson_deviance_dow",
    "stats_runs_up_down_daily",
    "stats_seasonal_mann_kendall",
    "stats_seasonal_sen_slope",
)

# The orders day grouping, and the rank's broadcast self band join
# against the bare calendar-day column, named ``day`` or ``d`` (a
# prefix-sum band join carries a value column too).
DAY_GROUPING = 'F.to_date("o_orderdate").alias("day")'
RANK_SIDE = re.compile(r'\.select\(\s*F\.col\("(d|day)"\)\.alias\("\1_b"\)\s*\)')


def _is_daily_module(module: str) -> bool:
    return module.split(".")[-1].startswith("daily")


def test_daily_queries_live_in_daily_modules():
    assert len(set(DAILY_QUERIES)) == 49
    home = {n: _is_daily_module(s.fn.__module__) for n, s in all_queries().items()}
    outside = sorted(n for n in DAILY_QUERIES if not home[n])
    assert not outside, f"daily-series queries outside operators/daily*.py: {outside}"
    foreign = sorted(n for n, d in home.items() if d and n not in DAILY_QUERIES)
    assert not foreign, f"other queries in operators/daily*.py: {foreign}"


def _functions_with(needle: str) -> list[tuple[str, str, str]]:
    """(file, function, source) of every top-level function of an
    operator module whose source contains ``needle``."""
    hits = []
    for fname in sorted(os.listdir(OPS_DIR)):
        if not fname.endswith(".py"):
            continue
        with open(os.path.join(OPS_DIR, fname)) as f:
            src = f.read()
        for node in ast.parse(src).body:
            if isinstance(node, ast.FunctionDef):
                seg = ast.get_source_segment(src, node)
                if needle in seg:
                    hits.append((fname, node.name, seg))
    return hits


def test_orders_day_series_is_derived_in_one_place():
    hits = [(f, fn) for f, fn, _ in _functions_with(DAY_GROUPING)]
    assert hits == [("daily.py", "day_series")], hits


def _is_rank_join(seg: str) -> bool:
    """A broadcast band self-join of a day table against its own bare
    day column: ``b = daily.select(F.col("d").alias("d_b"))`` joined on
    ``F.col("d_b") <= F.col("d")``."""
    return any(
        "F.broadcast(" in seg and f'F.col("{c}_b") <= F.col("{c}")' in seg
        for c in RANK_SIDE.findall(seg)
    )


def test_calendar_rank_is_built_in_one_place():
    """The only calendar band-join rank in the operators is
    ``daily.calendar_rank``; a series over another calendar (the events
    days) calls it too."""
    hits = [(f, fn) for f, fn, seg in _functions_with("_b") if _is_rank_join(seg)]
    assert hits == [("daily.py", "calendar_rank")], hits


def _pyarrow_heads(sf_dir: str) -> dict[str, list[tuple]]:
    """(day, y, k) of the count and cents series with plain pyarrow:
    group by calendar day, drop a null day, rank the days ascending."""
    orders = pq.read_table(
        os.path.join(sf_dir, "orders.parquet"), columns=["o_orderdate", "o_totalprice"]
    )
    day = pc.cast(orders["o_orderdate"], "date32")
    cents = pc.cast(
        pc.floor(pc.add(pc.multiply(orders["o_totalprice"], 100.0), 0.5)), "int64"
    )
    counts, sums = {}, {}
    for d, c in zip(day.to_pylist(), cents.to_pylist()):
        if d is None:
            continue
        counts[d] = counts.get(d, 0) + 1
        sums[d] = sums.get(d, 0) + c
    days = sorted(counts)
    return {
        "counts": [(d, counts[d], k) for k, d in enumerate(days, start=1)],
        "cents": [(d, sums[d], k) for k, d in enumerate(days, start=1)],
    }


def test_heads_match_pyarrow(spark, sf_dir):
    from mysql_public_data_ingestor_spark.operators.daily import (
        _daily_cents_idx,
        _daily_counts_idx,
    )

    t = Tables(spark, sf_dir)
    want = _pyarrow_heads(sf_dir)
    for name, head in (("counts", _daily_counts_idx), ("cents", _daily_cents_idx)):
        got = sorted((r.day, int(r.y), int(r.k)) for r in head(t).collect())
        assert got == want[name], name
