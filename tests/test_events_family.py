"""The events family lives in one place and derives each shared
per-user and per-type step once.

- Layout: the 38 events queries that the round modules held are defined
  in the ``operators/events_*.py`` theme modules, and those modules
  register nothing but ``events_*`` queries.
- One derivation: the per-user ``(ts, event_id)`` window, the per-user
  and per-type gap expressions, the session flag and the transition
  ``lag``/``lead`` of ``event_type`` are written only in
  ``operators/events.py`` (anywhere in the package, the streaming
  batch twins included).
- Values: the transition counts and the per-user gap histogram equal a
  pure-pyarrow computation over the fixture.
"""

from __future__ import annotations

import ast
import os
from collections import Counter

import pyarrow.compute as pc
import pyarrow.parquet as pq

from mysql_public_data_ingestor_spark.registry import all_queries
from mysql_public_data_ingestor_spark.tables import Tables

PKG_DIR = os.path.join(
    os.path.dirname(os.path.dirname(os.path.abspath(__file__))),
    "mysql_public_data_ingestor_spark",
)

EVENTS_QUERIES = (
    "events_absorbing_markov_steps",
    "events_acf_daily_lags",
    "events_ami_lag_profile",
    "events_asof_nearest_attribution",
    "events_bass_diffusion_fit",
    "events_ccf_types_lags",
    "events_changepoint_pettitt",
    "events_churn_hazard_by_tenure",
    "events_cohort_retention_matrix",
    "events_dau_mau_stickiness",
    "events_decayed_value_halflife",
    "events_fano_factor_curve",
    "events_funnel_path_signatures",
    "events_funnel_time_windowed",
    "events_granger_lag1_test",
    "events_hill_tail_interevent",
    "events_holt_linear_fit",
    "events_hourly_entropy_profile",
    "events_hourly_topk_users",
    "events_inspection_paradox_interarrival",
    "events_interarrival_burstiness",
    "events_interarrival_memory_coeff",
    "events_late_arrival_audit",
    "events_markov_entropy_rate",
    "events_markov_stationary",
    "events_parkinson_volatility_daily",
    "events_poisson_rate_test",
    "events_retention_decay_fit",
    "events_rfm_transition_matrix",
    "events_runs_test_daily",
    "events_scd_asof_snapshot",
    "events_seasonal_strength",
    "events_sequential_patterns_topk",
    "events_session_duration_histogram",
    "events_session_gap_sensitivity",
    "events_theil_u_forecast",
    "events_type_audience_jaccard",
    "events_user_activity_lorenz_deciles",
)

# The one function that may write each step. The within-session
# trigram of ``events_sequential_patterns_topk`` leads ``event_type``
# too (events.py's docstring gives the reason).
HOMES = {
    "user_window": [("operators/events.py", "user_order")],
    "type_window": [("operators/events.py", "type_order")],
    "ts_lag": [("operators/events.py", "type_gap_s"), ("operators/events.py", "user_gap_us")],
    "session_flag": [("operators/events.py", "user_sessions")],
    "type_lag_lead": [
        ("operators/events.py", "type_transitions"),
        ("operators/events_sequence.py", "events_sequential_patterns_topk"),
    ],
}


def _is_theme_module(module: str) -> bool:
    name = module.split(".")[-1]
    return name.startswith("events_")


def test_events_queries_live_in_theme_modules():
    assert len(set(EVENTS_QUERIES)) == 38
    home = {n: s.fn.__module__ for n, s in all_queries().items()}
    outside = sorted(n for n in EVENTS_QUERIES if not _is_theme_module(home[n]))
    assert not outside, f"events queries outside operators/events_*.py: {outside}"
    foreign = sorted(
        n for n, m in home.items() if _is_theme_module(m) and not n.startswith("events_")
    )
    assert not foreign, f"other queries in operators/events_*.py: {foreign}"


def _window(call: ast.Call, partition: str) -> bool:
    """``Window.partitionBy(<partition>).orderBy("ts", "event_id")``."""
    src = ast.unparse(call)
    return src == f"Window.partitionBy('{partition}').orderBy('ts', 'event_id')"


def _lag_of(call: ast.Call) -> str | None:
    """The unparsed first argument of a ``lag``/``lead`` call."""
    if isinstance(call.func, ast.Attribute) and call.func.attr in ("lag", "lead") and call.args:
        return ast.unparse(call.args[0])
    return None


def _step(node: ast.AST) -> str | None:
    if isinstance(node, ast.Call):
        if _window(node, "user_id"):
            return "user_window"
        if _window(node, "event_type"):
            return "type_window"
        arg = _lag_of(node)
        if arg in ("'ts'", "F.col('ts')", "F.unix_timestamp('ts')", "F.unix_micros('ts')"):
            return "ts_lag"
        if arg in ("'event_type'", "F.col('event_type')"):
            return "type_lag_lead"
    if isinstance(node, ast.BinOp) and any(
        isinstance(n, ast.Name) and n.id == "SESSION_GAP_MIN" for n in (node.left, node.right)
    ):
        return "session_flag"
    return None


def _step_sites() -> dict[str, list[tuple[str, str]]]:
    """step -> sorted (file, top-level function) of every package
    function whose code writes it."""
    sites: dict[str, set] = {k: set() for k in HOMES}
    for root, _, files in os.walk(PKG_DIR):
        for fname in files:
            if not fname.endswith(".py"):
                continue
            path = os.path.join(root, fname)
            with open(path) as f:
                tree = ast.parse(f.read())
            rel = os.path.relpath(path, PKG_DIR)
            for top in tree.body:
                for node in ast.walk(top):
                    step = _step(node)
                    if step:
                        sites[step].add((rel, getattr(top, "name", "<module>")))
    return {k: sorted(v) for k, v in sites.items()}


def test_shared_events_steps_are_written_once():
    assert _step_sites() == HOMES


def _pyarrow_user_pairs(sf_dir: str) -> tuple[Counter, Counter]:
    """(transition counts, gap histogram) of every user's events in
    (ts, event_id) order: ``(prev_type, type) -> n`` and
    ``gap_us -> n``, with plain pyarrow and Python."""
    ev = pq.read_table(
        os.path.join(sf_dir, "events.parquet"), columns=["user_id", "ts", "event_id", "event_type"]
    )
    unit = ev.schema.field("ts").type.unit
    us = pc.cast(ev["ts"], "int64").to_pylist()
    if unit == "ns":
        us = [None if v is None else v // 1000 for v in us]
    rows = sorted(
        zip(ev["user_id"].to_pylist(), us, ev["event_id"].to_pylist(), ev["event_type"].to_pylist()),
        key=lambda r: (r[0], r[1], r[2]),
    )
    trans: Counter = Counter()
    gaps: Counter = Counter()
    for prev, cur in zip(rows, rows[1:]):
        if prev[0] != cur[0]:
            continue
        if prev[3] is not None:
            trans[(prev[3], cur[3])] += 1
        gaps[cur[1] - prev[1]] += 1
    return trans, gaps


def test_transitions_and_gaps_match_pyarrow(spark, sf_dir):
    from pyspark.sql import functions as F

    from mysql_public_data_ingestor_spark.operators.events import (
        type_transitions,
        user_gap_us,
    )

    t = Tables(spark, sf_dir)
    want_trans, want_gaps = _pyarrow_user_pairs(sf_dir)
    for lead in (False, True):
        got = {
            (r.from_type, r.to_type): r.n for r in type_transitions(t, lead=lead).collect()
        }
        assert got == dict(want_trans), lead
    hist = (
        t.events.select(user_gap_us().alias("g"))
        .where(F.col("g").isNotNull())
        .groupBy("g")
        .count()
        .collect()
    )
    assert {r.g: r["count"] for r in hist} == dict(want_gaps)
