"""Round-13 direct batch V gate (``operators/roundthirteen7.py``):
raw-frame oracle parity, plan bars, constant
anchors, and independent Python replicas with float anchors for the
five ops (Lepage, process capability, recall@precision, truncated
Katz, DFA).
"""

from __future__ import annotations

import math
from collections import Counter, defaultdict
from itertools import combinations

import pytest

from mysql_public_data_ingestor_spark.operators import graph_centrality
from mysql_public_data_ingestor_spark.operators import roundthirteen7 as r137
from mysql_public_data_ingestor_spark.tables import Tables
from tools.check_correctness import compare, duck_connection

NAMES = [
    "stats_lepage_location_scale",
    "stats_process_capability_latency",
    "ml_recall_at_precision_floor",
    "graph_katz_centrality_walks",
    "events_dfa_daily",
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


def test_ln2_constant_anchor():
    """LN2_MICRO re-derived from its mathematical definition with
    arithmetic sharing nothing with the module (the SCALE §5n
    independent-anchor rule)."""
    assert r137.LN2_MICRO == int(math.log(2) * 1e6 + 0.5) == 693147


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


def test_allowlist_mirrored_in_registry_sweep():
    from tests.test_plans import SINGLE_PARTITION_ALLOWLIST

    assert "ml_recall_at_precision_floor" in SINGLE_PARTITION_ALLOWLIST


# ---------------------------------------------------------------------------
# replicas
# ---------------------------------------------------------------------------


def test_lepage_matches_python(spark, sf_dir):
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
    n = na + nr
    vals = sorted(set(a) | set(r))
    cum = 0
    w2 = ab2 = s1_2 = s2_4 = t3 = 0
    for v in vals:
        n_v = a[v] + r[v]
        r2 = 2 * cum + n_v + 1
        a2 = min(r2, 2 * (n + 1) - r2)
        w2 += a[v] * r2
        ab2 += a[v] * a2
        s1_2 += n_v * a2
        s2_4 += n_v * a2 * a2
        t3 += n_v**3 - n_v
        cum += n_v
    dw = w2 - na * (n + 1)
    vw_core = n * (n - 1) * (n + 1) - t3
    dab_n = ab2 * n - na * s1_2
    vab_core = n * s2_4 - s1_2 * s1_2
    zw2 = int(
        math.floor(
            (((3.0 * float(dw)) * float(dw)) * float(n * (n - 1))) * 1000000.0
            / float(na * nr)
            / float(vw_core)
            + 0.5
        )
    )
    zab2 = int(
        math.floor(
            ((float(dab_n)) * float(dab_n) * float(n - 1)) * 1000000.0
            / float(na * nr)
            / float(vab_core)
            + 0.5
        )
    )
    got = _spec("stats_lepage_location_scale").fn(spark, sf_dir).toPandas().iloc[0]
    assert int(got["n_a"]) == na and int(got["n_r"]) == nr
    assert int(got["zw2_micro"]) == zw2
    assert int(got["zab2_micro"]) == zab2
    assert int(got["lepage_micro"]) == zw2 + zab2
    # float anchors: the classical tie-corrected z^2 forms
    var_w = na * nr * ((n + 1) - t3 / (n * (n - 1))) / 12.0
    z_w = (w2 / 2 - na * (n + 1) / 2) / math.sqrt(var_w)
    assert abs(zw2 / 1e6 - z_w**2) < 1e-4 * max(1.0, z_w**2)
    s1 = s1_2 / 2
    s2 = s2_4 / 4
    var_ab = na * nr * (n * s2 - s1 * s1) / (n * n * (n - 1))
    z_ab = (ab2 / 2 - na * s1 / n) / math.sqrt(var_ab)
    assert abs(zab2 / 1e6 - z_ab**2) < 1e-4 * max(1.0, z_ab**2)
    assert zw2 >= 0 and zab2 >= 0


def test_capability_matches_python(spark, sf_dir):
    t = Tables(spark, sf_dir)
    od = dict(
        zip(
            (int(k) for k in t.orders.select("o_orderkey", "o_orderdate")
             .toPandas()["o_orderkey"]),
            t.orders.select("o_orderdate").toPandas()["o_orderdate"],
        )
    )
    li = t.lineitem.select("l_orderkey", "l_shipdate").toPandas()
    xs = []
    for ok, sd in zip(li["l_orderkey"], li["l_shipdate"]):
        o = od.get(int(ok))
        if o is None or sd != sd:
            continue
        xs.append(
            (sd.date() if hasattr(sd, "date") else sd)
            .toordinal()
            - (o.date() if hasattr(o, "date") else o).toordinal()
        )
    n = len(xs)
    sx = sum(xs)
    sxx = sum(x * x for x in xs)
    vc = n * sxx - sx * sx
    lsl, usl = r137.CAP_LSL_DAYS, r137.CAP_USL_DAYS
    mg = min(usl * n - sx, sx - lsl * n)
    mg_milli = _halfup_int(1000 * mg, n)
    got = (
        _spec("stats_process_capability_latency").fn(spark, sf_dir).toPandas().iloc[0]
    )
    assert int(got["n"]) == n
    assert int(got["mean_milli"]) == _halfup_int(1000 * sx, n)
    assert int(got["var_milli"]) == _halfup_int(1000 * vc, n * (n - 1))
    assert int(got["below_lsl_ppm"]) == _halfup_int(
        10**6 * sum(1 for x in xs if x < lsl), n
    )
    assert int(got["above_usl_ppm"]) == _halfup_int(
        10**6 * sum(1 for x in xs if x > usl), n
    )
    cp = _halfup_int(10**6 * (usl - lsl) ** 2 * n * (n - 1), 36 * vc)
    sign = -1 if mg < 0 else 1
    cpk = sign * _halfup_int(mg_milli * mg_milli * n * (n - 1), 9 * vc)
    assert int(got["cp_sq_micro"]) == cp
    assert int(got["cpk_sq_signed_micro"]) == cpk
    # float anchors: the textbook Cp / Cpk
    var = vc / (n * (n - 1))
    cp_f = ((usl - lsl) / (6 * math.sqrt(var))) ** 2
    cpk_f = (mg / n / (3 * math.sqrt(var))) ** 2 * sign
    assert abs(cp / 1e6 - cp_f) < 1e-3 * max(1.0, cp_f)
    assert abs(cpk / 1e6 - cpk_f) < 2e-3 * max(1.0, abs(cpk_f))
    # Cpk <= Cp always (centering can only hurt)
    assert cpk <= cp


def test_recall_at_precision_matches_python(spark, sf_dir):
    from mysql_public_data_ingestor_spark.operators.ml import _scored_labeled

    t = Tables(spark, sf_dir)
    pdf = _scored_labeled(t).toPandas()
    grid = defaultdict(lambda: [0, 0])
    for s, y in zip(pdf["score_q"], pdf["label"]):
        grid[int(s)][0] += 1
        grid[int(s)][1] += int(y)
    p_tot = sum(p for _, p in grid.values())
    cum = []
    n_sel = tp = 0
    for v in sorted(grid, reverse=True):
        n_sel += grid[v][0]
        tp += grid[v][1]
        cum.append((v, n_sel, tp))
    got = _spec("ml_recall_at_precision_floor").fn(spark, sf_dir).toPandas()
    assert len(got) == len(r137.PRECISION_FLOORS)
    for (pn, pd_), (_, row) in zip(r137.PRECISION_FLOORS, got.iterrows()):
        assert int(row["floor_num"]) == pn and int(row["floor_den"]) == pd_
        feas = [(v, ns, tp_) for v, ns, tp_ in cum if tp_ * pd_ >= ns * pn]
        if not feas:
            assert row["best_threshold_q"] != row["best_threshold_q"]  # NaN
            continue
        best = sorted(feas, key=lambda x: (-x[2], x[0]))[0]
        v, ns, tp_ = best
        assert int(row["best_threshold_q"]) == v
        assert int(row["n_selected"]) == ns
        assert int(row["tp"]) == tp_
        prec = _halfup_int(10**6 * tp_, ns)
        rec = _halfup_int(10**6 * tp_, p_tot)
        assert int(row["precision_micro"]) == prec
        assert int(row["recall_micro"]) == rec
        # the SLA actually holds at the chosen point
        assert tp_ * pd_ >= ns * pn
        assert 0 <= rec <= 10**6
    # recall is non-increasing as the floor tightens
    recs = [
        int(r["recall_micro"])
        for _, r in got.iterrows()
        if r["recall_micro"] == r["recall_micro"]
    ]
    assert recs == sorted(recs, reverse=True)


def _adj(spark, sf_dir):
    pdf = Tables(spark, sf_dir).lineitem.select("l_orderkey", "l_partkey").toPandas()
    by_order = defaultdict(set)
    for o, p in zip(pdf["l_orderkey"], pdf["l_partkey"]):
        by_order[int(o)].add(int(p))
    adj = defaultdict(set)
    for parts in by_order.values():
        for u, v in combinations(sorted(parts), 2):
            adj[u].add(v)
            adj[v].add(u)
    return adj


def test_katz_matches_python(spark, sf_dir):
    adj = _adj(spark, sf_dir)
    x = {n: graph_centrality.KATZ_SCALE for n in adj}
    for _ in range(graph_centrality.KATZ_ITERS):
        y = {n: sum(x[m] for m in adj[n]) for n in adj}
        x = {
            n: graph_centrality.KATZ_SCALE
            + _halfup_int(y[n], graph_centrality.KATZ_ATT_DEN)
            for n in adj
        }
    want = sorted(x.items(), key=lambda kv: (-kv[1], kv[0]))[: graph_centrality.KATZ_TOPK]
    got = _spec("graph_katz_centrality_walks").fn(spark, sf_dir).toPandas()
    assert [(int(r["node"]), int(r["katz_micro"])) for _, r in got.iterrows()] == want
    # float anchor: the same truncated series in float arithmetic
    xf = {n: 1.0 for n in adj}
    for _ in range(graph_centrality.KATZ_ITERS):
        yf = {n: sum(xf[m] for m in adj[n]) for n in adj}
        xf = {n: 1.0 + yf[n] / graph_centrality.KATZ_ATT_DEN for n in adj}
    for n, micro in want:
        assert abs(micro / 1e6 - xf[n]) < 1e-3 * max(1.0, xf[n])
        # Katz >= base for every node
        assert micro >= graph_centrality.KATZ_SCALE


def test_dfa_matches_python(spark, sf_dir):
    from mysql_public_data_ingestor_spark.functions.detmath import ref_det_ln_q

    pdf = Tables(spark, sf_dir).orders.select("o_orderdate").toPandas()
    daily = Counter(d for d in pdf["o_orderdate"])
    days = sorted(daily)
    y = [daily[d] for d in days]
    nd = len(y)
    s_tot = sum(y)
    cum = 0
    prof = []
    for k0, yy in enumerate(y, start=1):
        cum += yy
        prof.append(nd * cum - k0 * s_tot)
    rows = {}
    lnf2 = {}
    for s in r137.DFA_SCALES:
        nb = nd // s
        sres = 0
        for b in range(nb):
            ks = list(range(b * s + 1, b * s + s + 1))
            ps = prof[b * s : b * s + s]
            m = s
            sx = sum(ks)
            sxx = sum(k * k for k in ks)
            sp = sum(ps)
            sxp = sum(k * p for k, p in zip(ks, ps))
            spp = sum(p * p for p in ps)
            g = m * sxx - sx * sx
            n1 = m * spp - sp * sp
            n2 = m * sxp - sx * sp
            ssres_q = int(
                math.floor(
                    ((float(n1) * float(g)) - (float(n2) * float(n2)))
                    / float(m * g)
                    + 0.5
                )
            )
            sres += ssres_q
        f2_dbl = float(sres) / float(nb * s) / float(nd * nd)
        rows[s] = (nb, int(math.floor(f2_dbl * 1000.0 + 0.5)))
        lnf2[s] = ref_det_ln_q(f2_dbl)
    coef = {8: -3, 16: -1, 32: 1, 64: 3}
    csum = sum(coef[s] * lnf2[s] for s in r137.DFA_SCALES)
    alpha = _halfup_int(1000 * csum, 20 * r137.LN2_MICRO)
    got = _spec("events_dfa_daily").fn(spark, sf_dir).toPandas()
    assert list(got["scale_days"]) == list(r137.DFA_SCALES)
    for _, row in got.iterrows():
        nb, f2m = rows[int(row["scale_days"])]
        assert int(row["n_boxes"]) == nb
        assert int(row["f2_milli"]) == f2m
        assert int(row["alpha_milli"]) == alpha
    # float anchor: alpha from a float log-log regression on the same
    # 4 points (slope of ln F^2 on ln s, halved)
    xs = [math.log(s) for s in r137.DFA_SCALES]
    ys = [lnf2[s] / 1e6 for s in r137.DFA_SCALES]
    xb = sum(xs) / 4
    yb = sum(ys) / 4
    slope = sum((a - xb) * (b - yb) for a, b in zip(xs, ys)) / sum(
        (a - xb) ** 2 for a in xs
    )
    assert abs(alpha / 1000 - slope / 2) < 2e-3
    # fluctuations grow with box size on a non-degenerate series
    f2s = [rows[s][1] for s in r137.DFA_SCALES]
    assert f2s[0] <= f2s[-1]
