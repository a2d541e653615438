"""Round-13 direct batch T gate (``operators/roundthirteen5.py``):
raw-frame oracle parity, plan bars, and
independent Python replicas with float anchors for the five ops
(Barrat weighted clustering, eigenvector-centrality power iteration,
PAV-block Brier decomposition, STL trend/seasonal strength, Kuiper
two-sample).
"""

from __future__ import annotations

from collections import Counter, defaultdict
from itertools import combinations

import pytest

from mysql_public_data_ingestor_spark.operators import graph_centrality, graph_structure
from mysql_public_data_ingestor_spark.tables import Tables
from tools.check_correctness import compare, duck_connection

NAMES = [
    "graph_weighted_clustering_barrat",
    "graph_eigenvector_centrality_power",
    "ml_brier_pav_decomposition",
    "events_stl_trend_strength",
    "stats_kuiper_ab",
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


def _wgraph(spark, sf_dir):
    """Distinct undirected co-purchase edges + co-order weights."""
    pdf = Tables(spark, sf_dir).lineitem.select("l_orderkey", "l_partkey").toPandas()
    by_order = defaultdict(set)
    for o, p in zip(pdf["l_orderkey"], pdf["l_partkey"]):
        by_order[int(o)].add(int(p))
    w = Counter()
    for parts in by_order.values():
        for u, v in combinations(sorted(parts), 2):
            w[(u, v)] += 1
    return w


def test_barrat_matches_python(spark, sf_dir):
    w = _wgraph(spark, sf_dir)
    adj = defaultdict(set)
    for u, v in w:
        adj[u].add(v)
        adj[v].add(u)
    strength = Counter()
    for (u, v), c in w.items():
        strength[u] += c
        strength[v] += c
    wsum = Counter()
    ntri = Counter()
    for (u, v), _ in w.items():
        for x in adj[u] & adj[v]:
            if x > v:  # u < v < x canonical
                wuv = w[(u, v)]
                wux = w[(min(u, x), max(u, x))]
                wvx = w[(min(v, x), max(v, x))]
                for node, pair in ((u, wuv + wux), (v, wuv + wvx), (x, wux + wvx)):
                    wsum[node] += pair
                    ntri[node] += 1
    hubs = sorted(
        (n for n in adj if len(adj[n]) >= 2),
        key=lambda n: (-strength[n], n),
    )[: graph_structure.BARRAT_TOPK]
    got = _spec("graph_weighted_clustering_barrat").fn(spark, sf_dir).toPandas()
    assert list(got["node"]) == hubs
    for _, row in got.iterrows():
        n = int(row["node"])
        k, s = len(adj[n]), strength[n]
        assert int(row["degree"]) == k
        assert int(row["strength"]) == s
        assert int(row["n_tri"]) == ntri[n]
        if ntri[n]:
            want = _halfup_int(10**6 * wsum[n], 2 * s * (k - 1))
            assert int(row["barrat_micro"]) == want
            # float anchor: the published Barrat formula
            c_f = wsum[n] / 2 / (s * (k - 1))
            assert abs(want / 1e6 - c_f) <= 1e-5
            assert 0 <= want <= 10**6
        assert int(row["clustering_micro"]) == _halfup_int(
            10**6 * 2 * ntri[n], k * (k - 1)
        )


def test_eigenvector_centrality_matches_python(spark, sf_dir):
    w = _wgraph(spark, sf_dir)
    adj = defaultdict(set)
    for u, v in w:
        adj[u].add(v)
        adj[v].add(u)
    x = {n: graph_centrality.EC_SCALE for n in adj}
    for _ in range(graph_centrality.EC_ITERS):
        y = {n: sum(x[m] for m in adj[n]) for n in adj}
        my = max(y.values())
        x = {n: _halfup_int(graph_centrality.EC_SCALE * y[n], my) for n in adj}
    want = sorted(x.items(), key=lambda kv: (-kv[1], kv[0]))[: graph_centrality.EC_TOPK]
    got = _spec("graph_eigenvector_centrality_power").fn(spark, sf_dir).toPandas()
    assert [(int(r["node"]), int(r["ec_micro"])) for _, r in got.iterrows()] == want
    # float anchor: the same 6 renormalized hops in float arithmetic
    xf = {n: 1.0 for n in adj}
    for _ in range(graph_centrality.EC_ITERS):
        yf = {n: sum(xf[m] for m in adj[n]) for n in adj}
        mf = max(yf.values())
        xf = {n: yf[n] / mf for n in adj}
    for n, micro in want:
        assert abs(micro / 1e6 - xf[n]) < 1e-4


def _pav_blocks(bins):
    """Classic sequential pool-adjacent-violators over (bin, n, pos)
    rows sorted by bin — INDEPENDENT of the module's prefix-sum
    minimax identity."""
    stack = []  # [n, pos]
    for n, pos in bins:
        stack.append([n, pos])
        while len(stack) >= 2 and (
            stack[-2][1] * stack[-1][0] >= stack[-1][1] * stack[-2][0]
        ):
            n2, p2 = stack.pop()
            stack[-1][0] += n2
            stack[-1][1] += p2
    return stack


def test_brier_pav_matches_python(spark, sf_dir):
    from mysql_public_data_ingestor_spark.operators.ml import _scored_labeled
    from mysql_public_data_ingestor_spark.operators.roundten3 import ISO_BINS

    t = Tables(spark, sf_dir)
    pdf = _scored_labeled(t).toPandas()
    width = 10000 // ISO_BINS
    per_bin = defaultdict(lambda: [0, 0, 0])  # bin -> [n, pos, ssum]
    sqe = 0
    for s, y in zip(pdf["score_q"], pdf["label"]):
        s, y = int(s), int(y)
        b = min(s // width, ISO_BINS - 1)
        per_bin[b][0] += 1
        per_bin[b][1] += y
        per_bin[b][2] += s
        sqe += (s - 10000 * y) ** 2
    ordered = [per_bin[b] for b in sorted(per_bin)]
    blocks = _pav_blocks([(n, p) for n, p, _ in ordered])
    # map bins back onto blocks to accumulate score sums per block
    bss = []
    it = iter(ordered)
    for bn, bp in blocks:
        acc_n = acc_p = acc_s = 0
        while acc_n < bn:
            n, p, ss = next(it)
            acc_n += n
            acc_p += p
            acc_s += ss
        assert (acc_n, acc_p) == (bn, bp)
        bss.append((bn, bp, acc_s))
    n_tot = sum(n for n, _, _ in bss)
    p_tot = sum(p for _, p, _ in bss)
    obar = _halfup_int(10**6 * p_tot, n_tot)
    rel_n = res_n = 0
    for bn, bp, ss in bss:
        obar_b = _halfup_int(10**6 * bp, bn)
        sbar_b = _halfup_int(100 * ss, bn)
        rel_n += bn * (sbar_b - obar_b) ** 2
        res_n += bn * (obar_b - obar) ** 2
    brier = _halfup_int(10**6 * sqe, 10**8 * n_tot)
    rel = _halfup_int(rel_n, 10**6 * n_tot)
    res = _halfup_int(res_n, 10**6 * n_tot)
    unc = _halfup_int(10**6 * p_tot * (n_tot - p_tot), n_tot * n_tot)
    got = _spec("ml_brier_pav_decomposition").fn(spark, sf_dir).toPandas().iloc[0]
    assert int(got["n"]) == n_tot
    assert int(got["n_pos"]) == p_tot
    assert int(got["n_blocks"]) == len(bss)
    assert int(got["brier_micro"]) == brier
    assert int(got["rel_pav_micro"]) == rel
    assert int(got["res_pav_micro"]) == res
    assert int(got["unc_micro"]) == unc
    assert int(got["decomp_residual_micro"]) == brier - (unc + rel - res)
    # float anchors: Brier is the mean squared probability error;
    # components are nonnegative; uncertainty <= 1/4
    brier_f = sum(
        (int(s) / 10000 - int(y)) ** 2 for s, y in zip(pdf["score_q"], pdf["label"])
    ) / len(pdf)
    assert abs(brier / 1e6 - brier_f) < 2e-6
    assert rel >= 0 and res >= 0
    assert 0 <= unc <= 250000
    # PAV block rates strictly increase (maximal pooling)
    rates = [p / n for n, p, _ in bss]
    assert all(a < b for a, b in zip(rates, rates[1:]))


def test_stl_trend_strength_matches_python(spark, sf_dir):
    pdf = Tables(spark, sf_dir).orders.select("o_orderdate").toPandas()
    daily = Counter(d for d in pdf["o_orderdate"])
    days = sorted(daily)
    y = [daily[d] for d in days]
    n = len(days)
    rows = []  # (dow, d_micro, y)
    for i in range(3, n - 3):
        s7 = sum(y[i - 3 : i + 4])
        d_micro = _halfup_int(10**6 * (7 * y[i] - s7), 7)
        rows.append((days[i].isoweekday(), d_micro, y[i]))
    seas = {}
    for dow in set(r[0] for r in rows):
        ds = [d for w, d, _ in rows if w == dow]
        seas[dow] = _halfup_int(sum(ds), len(ds))
    q = [10**6 * yy - d + (d - seas[w]) for w, d, yy in rows]
    d_ = [d for _, d, _ in rows]
    r_ = [d - seas[w] for w, d, _ in rows]
    m = len(rows)

    def var_n(xs):
        return m * sum(x * x for x in xs) - sum(xs) ** 2

    vt, vd, vr = var_n(q), var_n(d_), var_n(r_)
    got = _spec("events_stl_trend_strength").fn(spark, sf_dir).toPandas().iloc[0]
    assert int(got["n_days"]) == m
    want_t = max(0, _halfup_int(10**6 * (vt - vr), vt)) if vt > 0 else None
    want_s = max(0, _halfup_int(10**6 * (vd - vr), vd)) if vd > 0 else None
    assert int(got["trend_strength_micro"]) == want_t
    assert int(got["seasonal_strength_micro"]) == want_s
    # float anchor: FPP variance-ratio form
    if vt > 0:
        f_t = max(0.0, 1.0 - vr / vt)
        assert abs(want_t / 1e6 - f_t) < 1e-5
        assert 0 <= want_t <= 10**6
    if vd > 0:
        f_s = max(0.0, 1.0 - vr / vd)
        assert abs(want_s / 1e6 - f_s) < 1e-5


def test_kuiper_matches_python(spark, sf_dir):
    pdf = (
        Tables(spark, sf_dir)
        .lineitem.select("l_returnflag", "l_quantity")
        .toPandas()
    )
    a = Counter()
    r = Counter()
    for g, v in zip(pdf["l_returnflag"], pdf["l_quantity"]):
        if v != v:
            continue
        if g == "A":
            a[int(v)] += 1
        elif g == "R":
            r[int(v)] += 1
    na, nr = sum(a.values()), sum(r.values())
    ca = cr = 0
    dp = dm = 0
    for v in sorted(set(a) | set(r)):
        ca += a[v]
        cr += r[v]
        dp = max(dp, ca * nr - cr * na)
        dm = max(dm, cr * na - ca * nr)
    got = _spec("stats_kuiper_ab").fn(spark, sf_dir).toPandas().iloc[0]
    assert int(got["n_a"]) == na and int(got["n_r"]) == nr
    assert int(got["d_plus_micro"]) == _halfup_int(10**6 * dp, na * nr)
    assert int(got["d_minus_micro"]) == _halfup_int(10**6 * dm, na * nr)
    assert int(got["kuiper_v_micro"]) == _halfup_int(10**6 * (dp + dm), na * nr)
    # float anchors: V >= KS D (the one-sided sup); V <= 2
    ks = max(dp, dm) / (na * nr)
    v_f = (dp + dm) / (na * nr)
    assert v_f + 1e-12 >= ks
    assert 0.0 <= v_f <= 2.0
    assert abs(int(got["kuiper_v_micro"]) / 1e6 - v_f) < 1e-5
