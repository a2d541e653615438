"""Round-13 direct batch W gate (``operators/roundthirteen8.py``):
raw-frame oracle parity, plan bars, constant
anchors, and independent Python replicas with float anchors for the
five ops (circular weekday concentration, hub-removal robustness,
Youden jackknife, PQ distortion, QS seasonality).
"""

from __future__ import annotations

import math
from collections import Counter, defaultdict
from itertools import combinations

import pytest

from mysql_public_data_ingestor_spark.operators import graph_centrality
from mysql_public_data_ingestor_spark.operators import roundthirteen8 as r138
from mysql_public_data_ingestor_spark.tables import Tables
from tools.check_correctness import compare, duck_connection

NAMES = [
    "stats_circular_weekday_concentration",
    "graph_hub_removal_robustness",
    "ml_youden_threshold_jackknife",
    "embedding_pq_distortion_audit",
    "events_qs_seasonality_test",
]


def _spec(name):
    from mysql_public_data_ingestor_spark import registry

    registry._ensure_loaded()
    return registry._REGISTRY[name]


def _halfup_int(num: int, den: int) -> int:
    mag = (2 * abs(num) + den) // (2 * den)
    return -mag if num < 0 else mag


def test_registered_with_oracle():
    for name in NAMES:
        assert _spec(name).oracle is not None, name


def test_trig_constant_anchors():
    """COS7/SIN7 micro literals re-derived from the unit circle with
    arithmetic sharing nothing with the module (SCALE §5n rule)."""
    for d in range(1, 8):
        theta = 2.0 * math.pi * (d - 1) / 7.0
        assert r138.COS7_MICRO[d] == int(math.floor(math.cos(theta) * 1e6 + 0.5))
        assert r138.SIN7_MICRO[d] == int(math.floor(math.sin(theta) * 1e6 + 0.5))
    # resultant of a uniform distribution is 0 by symmetry
    assert abs(sum(r138.COS7_MICRO.values())) <= 3
    assert abs(sum(r138.SIN7_MICRO.values())) <= 3


@pytest.mark.parametrize("name", NAMES)
def test_query_matches_oracle(spark, sf_dir, name):
    spec = _spec(name)
    sdf = spec.fn(spark, sf_dir).toPandas()
    con = duck_connection(sf_dir)
    try:
        odf = con.execute(spec.oracle).fetchdf()
    finally:
        con.close()
    problems = compare(name, sdf, odf)
    assert not problems, f"{name}: {problems}"


@pytest.mark.parametrize("name", NAMES)
def test_plan_bars(spark, sf_dir, name):
    from mysql_public_data_ingestor_spark.plans import assert_no_cartesian

    assert_no_cartesian(_spec(name).fn(spark, sf_dir))


# ---------------------------------------------------------------------------
# replicas
# ---------------------------------------------------------------------------


def test_circular_matches_python(spark, sf_dir):
    pdf = Tables(spark, sf_dir).orders.select("o_orderdate").toPandas()
    cnt = Counter(d.isoweekday() for d in pdf["o_orderdate"])
    n = sum(cnt.values())
    c = sum(cnt[d] * r138.COS7_MICRO[d] for d in cnt)
    s = sum(cnt[d] * r138.SIN7_MICRO[d] for d in cnt)
    modal = sorted(cnt.items(), key=lambda kv: (-kv[1], kv[0]))[0][0]
    got = (
        _spec("stats_circular_weekday_concentration")
        .fn(spark, sf_dir)
        .toPandas()
        .iloc[0]
    )
    assert int(got["n"]) == n
    assert int(got["modal_dow"]) == modal
    rbar_sq = _halfup_int(10**6 * (c * c + s * s), n * n * 10**12)
    z = _halfup_int(10**3 * (c * c + s * s), n * 10**12)
    assert int(got["rbar_sq_micro"]) == rbar_sq
    assert int(got["rayleigh_z_milli"]) == z
    # float anchor: the textbook resultant length
    cf = sum(cnt[d] * math.cos(2 * math.pi * (d - 1) / 7) for d in cnt)
    sf_ = sum(cnt[d] * math.sin(2 * math.pi * (d - 1) / 7) for d in cnt)
    rbar2_f = (cf * cf + sf_ * sf_) / (n * n)
    assert abs(rbar_sq / 1e6 - rbar2_f) < 1e-4
    assert 0 <= rbar_sq <= 10**6


def _graph_edges(spark, sf_dir):
    pdf = Tables(spark, sf_dir).lineitem.select("l_orderkey", "l_partkey").toPandas()
    by_order = defaultdict(set)
    for o, p in zip(pdf["l_orderkey"], pdf["l_partkey"]):
        by_order[int(o)].add(int(p))
    edges = set()
    for parts in by_order.values():
        for u, v in combinations(sorted(parts), 2):
            edges.add((u, v))
    return edges


def test_hub_removal_matches_python(spark, sf_dir):
    edges = _graph_edges(spark, sf_dir)
    deg = Counter()
    for u, v in edges:
        deg[u] += 1
        deg[v] += 1
    hubs = set(
        n for n, _ in sorted(deg.items(), key=lambda kv: (-kv[1], kv[0]))[
            : graph_centrality.HUBS_REMOVED
        ]
    )
    surv = [(u, v) for u, v in edges if u not in hubs and v not in hubs]
    sdeg = Counter()
    for u, v in surv:
        sdeg[u] += 1
        sdeg[v] += 1
    got = _spec("graph_hub_removal_robustness").fn(spark, sf_dir).toPandas().iloc[0]
    assert int(got["n_nodes"]) == len(deg)
    assert int(got["n_edges"]) == len(edges)
    assert int(got["n_hubs_removed"]) == len(hubs)
    assert int(got["n_edges_surviving"]) == len(surv)
    assert int(got["n_nodes_surviving"]) == len(sdeg)
    assert int(got["n_isolated"]) == len(deg) - len(hubs) - len(sdeg)
    assert int(got["max_degree_after"]) == (max(sdeg.values()) if sdeg else 0)
    assert int(got["edges_surviving_ppm"]) == _halfup_int(
        10**6 * len(surv), len(edges)
    )
    # targeted attack can only shrink the maximum degree
    assert int(got["max_degree_after"]) <= max(deg.values())


def test_youden_jackknife_matches_python(spark, sf_dir):
    from mysql_public_data_ingestor_spark.operators.ml import _scored_labeled

    t = Tables(spark, sf_dir)
    pdf = _scored_labeled(t).toPandas()
    B = r138.YJ_BLOCKS
    gb = defaultdict(lambda: [0, 0])  # (score, block) -> [n, pos]
    for doc_id, s, y in zip(pdf["doc_id"], pdf["score_q"], pdf["label"]):
        k = (int(s), int(doc_id) % B)
        gb[k][0] += 1
        gb[k][1] += int(y)

    all_scores = sorted({s for s, _ in gb}, reverse=True)

    def best_for(drop_block):
        # thresholds range over the FULL-data score grid (the engine's
        # delgrid keeps every v, with zero contribution rows) — a v
        # whose only rows sit in the dropped block still competes and
        # wins J ties as the lower threshold
        grid = {s: [0, 0] for s in all_scores}
        for (s, b), (n, p) in gb.items():
            if b == drop_block:
                continue
            grid[s][0] += n
            grid[s][1] += p
        pp = sum(p for _, p in grid.values())
        nn = sum(n for n, _ in grid.values())
        qq = nn - pp
        if pp <= 0 or qq <= 0:
            return None
        n_sel = tp = 0
        best = None
        for v in all_scores:
            n_sel += grid[v][0]
            tp += grid[v][1]
            j = _halfup_int(10**6 * (tp * qq - (n_sel - tp) * pp), pp * qq)
            if best is None or j > best[1] or (j == best[1] and v < best[0]):
                best = (v, j)
        return best

    full = best_for(None)
    reps = [best_for(b) for b in range(B)]
    assert all(r is not None for r in reps) and full is not None
    sj = sum(j for _, j in reps)
    jbar = _halfup_int(sj, B)
    ss = sum((j - jbar) ** 2 for _, j in reps)
    got = _spec("ml_youden_threshold_jackknife").fn(spark, sf_dir).toPandas().iloc[0]
    assert int(got["n_blocks"]) == B
    assert int(got["thr_full"]) == full[0]
    assert int(got["j_full_micro"]) == full[1]
    assert int(got["thr_jk_min"]) == min(v for v, _ in reps)
    assert int(got["thr_jk_max"]) == max(v for v, _ in reps)
    assert int(got["n_distinct_thr"]) == len(set(v for v, _ in reps))
    assert int(got["j_jk_mean_micro"]) == jbar
    assert int(got["jk_var_micro2"]) == _halfup_int((B - 1) * ss, B)
    # jackknife mean tracks the full-data J; J in [0, 1e6]
    assert abs(jbar - full[1]) < 100000
    assert 0 <= full[1] <= 10**6


def test_pq_distortion_matches_python(spark, sf_dir):
    import numpy as np

    from mysql_public_data_ingestor_spark.operators.similarity import (
        PQ_CODEWORDS,
        PQ_M,
        PQ_SUBDIM,
    )

    pdf = Tables(spark, sf_dir).embeddings.select("vec_id", "embedding").toPandas()
    vecs = {
        int(vid): np.asarray(list(v), dtype=np.float64)
        for vid, v in zip(pdf["vec_id"], pdf["embedding"])
    }
    cb = {m: {} for m in range(PQ_M)}
    for cid in range(PQ_CODEWORDS):
        for m in range(PQ_M):
            cb[m][cid] = vecs[cid][m * PQ_SUBDIM : (m + 1) * PQ_SUBDIM]
    agg = {m: [0, 0, 0, set()] for m in range(PQ_M)}  # n, sum, max, cids
    for vid, v in vecs.items():
        for m in range(PQ_M):
            sv = v[m * PQ_SUBDIM : (m + 1) * PQ_SUBDIM]
            cands = []
            for cid in range(PQ_CODEWORDS):
                diff = sv - cb[m][cid]
                d2 = float(np.dot(diff, diff))
                cands.append((round(d2, 9), cid, d2))
            cands.sort(key=lambda x: (x[0], x[1]))
            d2q = int(math.floor(cands[0][2] * 1e6 + 0.5))
            agg[m][0] += 1
            agg[m][1] += d2q
            agg[m][2] = max(agg[m][2], d2q)
            agg[m][3].add(cands[0][1])
    got = _spec("embedding_pq_distortion_audit").fn(spark, sf_dir).toPandas()
    assert list(got["m"]) == list(range(PQ_M))
    for _, row in got.iterrows():
        m = int(row["m"])
        n, sm, mx, cids = agg[m]
        assert int(row["n_vecs"]) == n
        assert int(row["mean_d2_micro"]) == _halfup_int(sm, n)
        assert int(row["max_d2_micro"]) == mx
        assert int(row["n_codewords_used"]) == len(cids)
        assert 1 <= len(cids) <= PQ_CODEWORDS
        assert int(row["mean_d2_micro"]) <= int(row["max_d2_micro"])


def test_qs_matches_python(spark, sf_dir):
    pdf = Tables(spark, sf_dir).orders.select("o_orderdate").toPandas()
    daily = Counter(d for d in pdf["o_orderdate"])
    y = [daily[d] for d in sorted(daily)]
    z = [b - a for a, b in zip(y, y[1:])]
    m = len(z)
    sz = sum(z)
    w = [m * zz - sz for zz in z]
    c0 = sum(x * x for x in w)
    cl = {}
    for L in r138.QS_LAGS:
        cl[L] = sum(w[j] * w[j + L] for j in range(m - L))
    got = _spec("events_qs_seasonality_test").fn(spark, sf_dir).toPandas().iloc[0]
    assert int(got["m"]) == m
    qs_terms = 0.0
    for L in r138.QS_LAGS:
        r_micro = int(
            math.floor(abs(float(cl[L]) / float(c0)) * 1e6 + 0.5)
        ) * (-1 if cl[L] < 0 else 1)
        assert int(got[f"r{L}_micro"]) == r_micro
        qs_terms += (
            (float(cl[L]) * float(cl[L]))
            / float(c0)
            / float(c0)
            / float(m - L)
        )
    qs = int(math.floor(qs_terms * float(m * (m + 2)) * 1000.0 + 0.5))
    assert int(got["qs_milli"]) == qs
    # float anchor: the textbook Ljung-Box form at the two lags
    rs = {L: cl[L] / c0 for L in r138.QS_LAGS}
    qs_f = m * (m + 2) * sum(rs[L] ** 2 / (m - L) for L in r138.QS_LAGS)
    assert abs(qs / 1000 - qs_f) < 1e-2
    assert qs >= 0
    for L in r138.QS_LAGS:
        assert -(10**6) <= int(got[f"r{L}_micro"]) <= 10**6
