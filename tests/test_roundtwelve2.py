"""Round-12 batch G gate (``operators/roundtwelve2.py``): raw-frame
oracle parity, plan bars, and Python replicas with float anchors (the
float anchors are mandatory after four twin-sided formula catches in
round 11, SCALE §§5i.11/5j.2/5j.5/5j.6).
"""

from __future__ import annotations

import hashlib
import math
import re
from collections import Counter, defaultdict

import pytest

from mysql_public_data_ingestor_spark.operators import events_sequence
from mysql_public_data_ingestor_spark.operators import roundtwelve2 as r122
from mysql_public_data_ingestor_spark.registry import all_queries
from mysql_public_data_ingestor_spark.tables import Tables
from tools.check_correctness import compare, duck_connection

# The queries this gate covers, by name, so its test ids stay fixed: the
# module's own queries plus the graph queries it registered before the
# graph family moved to ``operators/graph_*.py``.
NAMES = (
    "corpus_mi_lang_length",
    "events_session_gap_sensitivity",
    "graph_bipartite_projection_audit",
    "layout_minmax_skipping_audit",
    "stats_cochran_armitage_trend",
)
# (name, fn, oracle, doc) of each
QUERIES = [
    (s.name, s.fn, s.oracle, s.doc) for s in (all_queries()[n] for n in NAMES)
]


def _halfup_int(num: int, den: int) -> int:
    mag = (2 * abs(num) + den) // (2 * den)
    return -mag if num < 0 else mag


def test_queue_entries_well_formed():
    seen = set()
    for name, fn, oracle, doc in QUERIES:
        assert name not in seen, f"duplicate queue name {name}"
        seen.add(name)
        assert callable(fn)
        assert isinstance(oracle, str) and oracle.strip()
        assert doc.strip(), f"{name} missing docstring"


def _spec(name):
    spec = all_queries()[name]
    return spec.fn, spec.oracle


@pytest.mark.parametrize("name", [n for n, *_ in QUERIES])
def test_query_matches_oracle(spark, sf_dir, name):
    fn, oracle = _spec(name)
    sdf = fn(spark, sf_dir).toPandas()
    con = duck_connection(sf_dir)
    try:
        odf = con.execute(oracle).fetchdf()
    finally:
        con.close()
    problems = compare(name, sdf, odf)
    assert not problems, f"{name}: {problems}"


def test_queue_plan_bars(spark, sf_dir):
    from mysql_public_data_ingestor_spark.plans import assert_no_cartesian

    for name, fn, *_ in QUERIES:
        assert_no_cartesian(fn(spark, sf_dir))


# ---------------------------------------------------------------------------
# replicas
# ---------------------------------------------------------------------------


def test_armitage_matches_python(spark, sf_dir):
    fn, _ = _spec("stats_cochran_armitage_trend")
    got = fn(spark, sf_dir).toPandas().sort_values("j").reset_index(drop=True)
    pdf = (
        Tables(spark, sf_dir)
        .orders.select("o_orderpriority", "o_orderstatus")
        .toPandas()
    )
    cells: dict = defaultdict(lambda: [0, 0])
    for pri, st in zip(pdf["o_orderpriority"], pdf["o_orderstatus"]):
        j = int(pri[0])
        cells[j][0] += 1
        cells[j][1] += 1 if st == "F" else 0
    n = sum(v[0] for v in cells.values())
    r = sum(v[1] for v in cells.values())
    sns = sum(j * v[0] for j, v in cells.items())
    snss = sum(j * j * v[0] for j, v in cells.items())
    tn = sum(j * (n * v[1] - v[0] * r) for j, v in cells.items())
    var_s = r * (n - r) * (n * snss - sns * sns)
    assert list(got["j"]) == sorted(cells)
    for row in got.itertuples():
        n_j, r_j = cells[int(row.j)]
        assert int(row.n_orders) == n_j
        assert int(row.n_pos) == r_j
        assert int(row.p_hat_micro) == _halfup_int(10**6 * r_j, n_j)
        exp = _halfup_int(10**6 * tn * tn * n, var_s)
        exp = -exp if tn < 0 else exp
        assert int(row.trend_z_sq_signed_micro) == exp
    # float anchor: Z^2 vs the textbook Cochran-Armitage formula
    pbar = r / n
    t_f = sum(j * (v[1] - v[0] * pbar) for j, v in cells.items())
    var_f = pbar * (1 - pbar) * (snss - sns * sns / n)
    z2_f = t_f * t_f / var_f
    assert abs(abs(exp) / 1e6 - z2_f) < 1e-3 * max(1.0, z2_f)


def test_skipping_audit_matches_python(spark, sf_dir):
    fn, _ = _spec("layout_minmax_skipping_audit")
    got = fn(spark, sf_dir).toPandas().sort_values("thr_cents").reset_index(drop=True)
    pdf = (
        Tables(spark, sf_dir).orders.select("o_orderdate", "o_totalprice").toPandas()
    )
    parts: dict = defaultdict(list)
    for d, p in zip(pdf["o_orderdate"], pdf["o_totalprice"]):
        dd = d.date() if hasattr(d, "date") else d
        parts[dd.year * 100 + dd.month].append(int(math.floor(p * 100 + 0.5)))
    rows_total = sum(len(v) for v in parts.values())
    assert list(got["thr_cents"]) == sorted(r122.SKIP_THRESHOLDS_CENTS)
    for row in got.itertuples():
        thr = int(row.thr_cents)
        skipped_parts = [v for v in parts.values() if max(v) <= thr]
        rows_skipped = sum(len(v) for v in skipped_parts)
        rows_matching = sum(1 for v in parts.values() for c in v if c > thr)
        assert int(row.n_parts) == len(parts)
        assert int(row.n_parts_skipped) == len(skipped_parts)
        assert int(row.rows_skipped) == rows_skipped
        assert int(row.rows_matching) == rows_matching
        nonmatch = rows_total - rows_matching
        if nonmatch > 0:
            exp = _halfup_int(10**6 * rows_skipped, nonmatch)
            assert int(row.skip_efficiency_micro) == exp
            # float anchor + sanity: a skipped partition contains no
            # matching row, so efficiency is a true fraction
            assert abs(exp / 1e6 - rows_skipped / nonmatch) < 1e-5
            assert 0 <= exp <= 10**6
        else:
            assert row.skip_efficiency_micro is None or (
                row.skip_efficiency_micro != row.skip_efficiency_micro
            )


def test_gap_sensitivity_matches_python(spark, sf_dir):
    fn, _ = _spec("events_session_gap_sensitivity")
    got = fn(spark, sf_dir).toPandas().sort_values("gap_s").reset_index(drop=True)
    ev = Tables(spark, sf_dir).events.select("user_id", "ts", "event_id").toPandas()
    by_user: dict = defaultdict(list)
    for r in ev.itertuples():
        by_user[int(r.user_id)].append((int(r.ts.value // 1000), int(r.event_id)))
    gaps = []
    for rows in by_user.values():
        rows.sort()
        for (a, _), (b, _) in zip(rows, rows[1:]):
            gaps.append(b - a)
    n_users, n_events = len(by_user), len(ev)
    assert list(got["gap_s"]) == sorted(events_sequence.SESSION_GAPS_S)
    prev_sessions = None
    for row in got.itertuples():
        thr_us = int(row.gap_s) * 1_000_000
        sessions = n_users + sum(1 for g in gaps if g > thr_us)
        assert int(row.n_users) == n_users
        assert int(row.n_events) == n_events
        assert int(row.n_sessions) == sessions
        assert int(row.sessions_per_user_micro) == _halfup_int(
            10**6 * sessions, n_users
        )
        assert int(row.events_per_session_micro) == _halfup_int(
            10**6 * n_events, sessions
        )
        # the curve is monotone: longer timeouts merge sessions
        if prev_sessions is not None:
            assert sessions <= prev_sessions
        prev_sessions = sessions
        # float anchor: events/session ratio
        assert abs(int(row.events_per_session_micro) / 1e6 - n_events / sessions) < 1e-5


def test_bipartite_audit_matches_python(spark, sf_dir):
    fn, _ = _spec("graph_bipartite_projection_audit")
    got = fn(spark, sf_dir).toPandas().iloc[0]
    li = (
        Tables(spark, sf_dir)
        .lineitem.select("l_orderkey", "l_partkey")
        .distinct()
        .toPandas()
    )
    by_order: dict = defaultdict(set)
    part_deg: Counter = Counter()
    for r in li.itertuples():
        by_order[r.l_orderkey].add(int(r.l_partkey))
        part_deg[int(r.l_partkey)] += 1
    edges = set()
    for parts in by_order.values():
        ps = sorted(parts)
        for i, a in enumerate(ps):
            for b in ps[i + 1 :]:
                edges.add((a, b))
    pair_gen = sum(len(p) * (len(p) - 1) // 2 for p in by_order.values())
    assert int(got["n_orders"]) == len(by_order)
    assert int(got["n_parts"]) == len(part_deg)
    assert int(got["max_order_deg"]) == max(len(p) for p in by_order.values())
    assert int(got["max_part_deg"]) == max(part_deg.values())
    assert int(got["pairs_generated"]) == pair_gen
    assert int(got["distinct_edges"]) == len(edges)
    exp = _halfup_int(10**6 * pair_gen, len(edges))
    assert int(got["inflation_micro"]) == exp
    # float anchors: inflation ratio vs float; generated pairs always
    # bound the surviving distinct edges
    assert abs(exp / 1e6 - pair_gen / len(edges)) < 1e-5
    assert pair_gen >= len(edges)


def test_mi_matches_python(spark, sf_dir):
    from mysql_public_data_ingestor_spark.functions.detmath import ref_det_ln_q

    fn, _ = _spec("corpus_mi_lang_length")
    got = fn(spark, sf_dir).toPandas()
    docs = Tables(spark, sf_dir).documents.select("lang", "text").toPandas()
    ws = re.compile(r"\s+")
    cells: Counter = Counter()
    for r in docs.itertuples():
        n_tok = len(ws.sub(" ", r.text.lower()).strip().split(" "))
        lb = min(n_tok // r122.MI_BUCKET_W, r122.MI_BUCKET_MAX)
        cells[(r.lang, lb)] += 1
    rows = Counter()
    cols = Counter()
    for (lang, lb), c in cells.items():
        rows[lang] += c
        cols[lb] += c
    n = sum(cells.values())
    assert len(got) == len(cells)
    mi_float = 0.0
    for row in got.itertuples():
        c = cells[(row.lang, int(row.lb))]
        assert int(row.n_docs) == c
        ln_num = ref_det_ln_q(float(c * n))
        ln_den = ref_det_ln_q(float(rows[row.lang] * cols[int(row.lb)]))
        exp = _halfup_int(c * (ln_num - ln_den), n)
        assert int(row.mi_contrib_micro) == exp
        mi_float += (c / n) * math.log(c * n / (rows[row.lang] * cols[int(row.lb)]))
    # float anchors: the contributions sum to I(lang; length) and MI >= 0
    assert abs(sum(got["mi_contrib_micro"]) / 1e6 - mi_float) < 1e-3 * max(1.0, abs(mi_float))
    assert mi_float >= -1e-12
