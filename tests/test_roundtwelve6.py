"""Round-12 direct batch K gate (``operators/roundtwelve6.py``):
raw-frame oracle parity, plan bars, and
independent Python replicas with float anchors for the six
stats-family ops (Holm step-down, Goodman–Kruskal gamma, Somers' D,
Siegel–Tukey, Conover squared ranks, Cox–Stuart).
"""

from __future__ import annotations

from collections import Counter, defaultdict

import pytest

from mysql_public_data_ingestor_spark.operators import stats_rank as r126
from mysql_public_data_ingestor_spark.tables import Tables
from tools.check_correctness import compare, duck_connection

NAMES = [
    "stats_holm_stepdown_dunn",
    "stats_goodman_kruskal_gamma",
    "stats_somers_d_status",
    "stats_siegel_tukey_scale",
    "stats_conover_squared_ranks",
    "stats_cox_stuart_trend_daily",
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


def _lineitem_gv(spark, sf_dir):
    pdf = (
        Tables(spark, sf_dir)
        .lineitem.select("l_returnflag", "l_quantity")
        .toPandas()
    )
    out = []
    for g, v in zip(pdf["l_returnflag"], pdf["l_quantity"]):
        if v == v:  # not NaN
            out.append((g, int(v)))
    return out


def _dunn_pairs_py(rows):
    """Exact-integer Dunn pair table + the shape-matched double z^2 —
    the same derivation the engines share, re-run independently."""
    dv = Counter(v for _, v in rows)
    cum, cums = 0, {}
    for v in sorted(dv):
        cums[v] = cum
        cum += dv[v]
    rg = defaultdict(lambda: [0, 0])  # g -> [n_g, r2_g]
    gv = Counter(rows)
    for (g, v), c in gv.items():
        rg[g][0] += c
        rg[g][1] += c * (2 * cums[v] + dv[v] + 1)
    n = sum(x[0] for x in rg.values())
    tie3 = sum(c * c * c - c for c in dv.values())
    cnum = n * (n + 1) * (n - 1) - tie3
    pairs = []
    gs = sorted(rg)
    for i, gi in enumerate(gs):
        for gj in gs[i + 1 :]:
            ni, r2i = rg[gi]
            nj, r2j = rg[gj]
            a_ij = r2i * nj - r2j * ni
            z2 = int(
                (
                    (((3.0 * float(n - 1)) * float(a_ij)) * float(a_ij) * 1000000.0)
                    / float(ni * nj)
                    / float(ni + nj)
                    / float(cnum)
                    + 0.5
                )
                // 1
            )
            pairs.append((gi, gj, ni, nj, a_ij, z2))
    return pairs


def test_holm_matches_python(spark, sf_dir):
    """Independent replica of the full Holm step-down: shared Dunn z^2
    double sequence, predecessor-count ranking with the deterministic
    tiebreak, the fixed critical ladder, and prefix-min rejection."""
    rows = _lineitem_gv(spark, sf_dir)
    pairs = _dunn_pairs_py(rows)
    by_sig = sorted(pairs, key=lambda p: (-p[5], p[0], p[1]))
    expected = {}
    running_ok = 1
    for rank, (gi, gj, _ni, _nj, _a, z2) in enumerate(by_sig, start=1):
        crit = r126.HOLM_CRIT_MICRO[rank]
        raw = 1 if z2 >= crit else 0
        running_ok = min(running_ok, raw)
        expected[(gi, gj)] = (z2, rank, crit, running_ok)

    got = _spec("stats_holm_stepdown_dunn").fn(spark, sf_dir).toPandas()
    assert len(got) == len(pairs)
    for _, row in got.iterrows():
        z2, rank, crit, rej = expected[(row["g_i"], row["g_j"])]
        assert int(row["z2_micro"]) == z2
        assert int(row["holm_rank"]) == rank
        assert int(row["crit_micro"]) == crit
        assert int(row["reject"]) == rej
    # structural invariants of a step-down procedure
    by_rank = got.sort_values("holm_rank")
    rejected = list(by_rank["reject"])
    assert rejected == sorted(rejected, reverse=True), "reject set not a prefix"
    # the critical ladder is increasing in significance (rank 1 hardest)
    crits = list(by_rank["crit_micro"])
    assert crits == sorted(crits, reverse=True)


def _orders_pdf(spark, sf_dir):
    return (
        Tables(spark, sf_dir)
        .orders.select("o_orderpriority", "o_orderstatus", "o_totalprice")
        .toPandas()
    )


def test_gk_gamma_matches_python(spark, sf_dir):
    pdf = _orders_pdf(spark, sf_dir)
    cells = Counter(
        (int(p[0]), int(tp // r126.GK_PRICE_BAND))
        for p, tp in zip(pdf["o_orderpriority"], pdf["o_totalprice"])
    )
    c_pairs = d_pairs = 0
    items = list(cells.items())
    for (ax, ay), an in items:
        for (bx, by), bn in items:
            if bx > ax and by > ay:
                c_pairs += an * bn
            elif bx > ax and by < ay:
                d_pairs += an * bn
    got = _spec("stats_goodman_kruskal_gamma").fn(spark, sf_dir).toPandas().iloc[0]
    assert int(got["n_cells"]) == len(cells)
    assert int(got["c_pairs"]) == c_pairs
    assert int(got["d_pairs"]) == d_pairs
    gamma = _halfup_int(10**6 * (c_pairs - d_pairs), c_pairs + d_pairs)
    assert int(got["gamma_micro"]) == gamma
    # float anchor
    gf = (c_pairs - d_pairs) / (c_pairs + d_pairs)
    assert abs(gamma / 1e6 - gf) < 1e-5
    assert -(10**6) <= gamma <= 10**6


def test_somers_d_matches_python(spark, sf_dir):
    pdf = _orders_pdf(spark, sf_dir)
    cells = Counter(
        (int(p[0]), 1 if s == "F" else 0)
        for p, s in zip(pdf["o_orderpriority"], pdf["o_orderstatus"])
    )
    C = D = TX = TY = 0
    items = list(cells.items())
    for (ax, ay), an in items:
        for (bx, by), bn in items:
            if bx > ax and by > ay:
                C += an * bn
            elif bx > ax and by < ay:
                D += an * bn
            elif bx > ax and by == ay:
                TY += an * bn
            elif bx == ax and by > ay:
                TX += an * bn
    got = _spec("stats_somers_d_status").fn(spark, sf_dir).toPandas().iloc[0]
    assert (int(got["c_pairs"]), int(got["d_pairs"])) == (C, D)
    assert (int(got["ties_x"]), int(got["ties_y"])) == (TX, TY)
    assert int(got["somers_d_yx_micro"]) == _halfup_int(10**6 * (C - D), C + D + TY)
    assert int(got["somers_d_xy_micro"]) == _halfup_int(10**6 * (C - D), C + D + TX)
    # pair-count completeness: all pairs are classified or doubly tied
    n = sum(cells.values())
    both_tied = sum(an * (an - 1) // 2 for an in cells.values())
    assert C + D + TX + TY + both_tied == n * (n - 1) // 2


def _st_ranks(n: int) -> list[int]:
    """Textbook Siegel–Tukey alternating rank assignment by position
    (1-based), independent of the closed form under test."""
    ranks = [0] * (n + 1)
    lo, hi, r, turn_low, first = 1, n, 1, True, True
    while lo <= hi:
        if turn_low:
            for _ in range(min(1 if first else 2, hi - lo + 1)):
                ranks[lo] = r
                r += 1
                lo += 1
            first = False
        else:
            for _ in range(min(2, hi - lo + 1)):
                ranks[hi] = r
                r += 1
                hi -= 1
        turn_low = not turn_low
    return ranks


def test_st_runsum_closed_form():
    """The telescoped run-sum closed form equals the brute-force sum of
    textbook alternating ranks for every run of every small N."""
    import duckdb

    con = duckdb.connect()
    for n in (1, 2, 3, 4, 5, 6, 7, 10, 13):
        ranks = _st_ranks(n)
        assert sorted(ranks[1:]) == list(range(1, n + 1)), n
        for a in range(1, n + 1):
            for b in range(a, n + 1):
                want = sum(ranks[a : b + 1])
                sql = r126._st_runsum_sql(str(a), str(b), str(n))
                got = con.execute(f"SELECT {sql}").fetchone()[0]
                assert got == want, (n, a, b, got, want)
    con.close()
    assert _st_ranks(5)[1:] == [1, 4, 5, 3, 2]
    assert _st_ranks(6)[1:] == [1, 4, 5, 6, 3, 2]


def test_siegel_tukey_matches_python(spark, sf_dir):
    rows = [(g, v) for g, v in _lineitem_gv(spark, sf_dir) if g in ("A", "R")]
    dv = Counter(v for _, v in rows)
    cnt_a = Counter(v for g, v in rows if g == "A")
    n = len(rows)
    n_a = sum(cnt_a.values())
    n_r = n - n_a
    ranks = _st_ranks(n)
    cum, w_micro = 0, 0
    for v in sorted(dv):
        c = dv[v]
        s_run = sum(ranks[cum + 1 : cum + c + 1])
        w_micro += _halfup_int(10**6 * cnt_a.get(v, 0) * s_run, c)
        cum += c
    tie3 = sum(c * c * c - c for c in dv.values())
    cnum = n * (n + 1) * (n - 1) - tie3
    dw = float(w_micro) - float(n_a) * float(n + 1) * 500000.0
    z2 = int(
        (
            (dw * dw)
            * 12.0
            * float(n)
            * float(n - 1)
            / 1000000.0
            / float(n_a)
            / float(n_r)
            / float(cnum)
            + 0.5
        )
        // 1
    )
    sign = -1 if w_micro < 500000 * n_a * (n + 1) else 1
    got = _spec("stats_siegel_tukey_scale").fn(spark, sf_dir).toPandas().iloc[0]
    assert (int(got["n_a"]), int(got["n_r"])) == (n_a, n_r)
    assert int(got["w_a_micro"]) == w_micro
    assert int(got["e_w_micro"]) == 500000 * n_a * (n + 1)
    assert int(got["st_z_sq_signed_micro"]) == sign * z2
    # float anchor: un-quantized mid-rank rank sum
    wf, cum = 0.0, 0
    for v in sorted(dv):
        c = dv[v]
        wf += cnt_a.get(v, 0) * sum(ranks[cum + 1 : cum + c + 1]) / c
        cum += c
    assert abs(w_micro / 1e6 - wf) < 1e-3 * max(1, len(dv))


def test_conover_matches_python(spark, sf_dir):
    rows = _lineitem_gv(spark, sf_dir)
    gs = defaultdict(lambda: [0, 0])  # g -> [n_g, s_g]
    for g, v in rows:
        gs[g][0] += 1
        gs[g][1] += v
    p = 1
    for ng, _ in gs.values():
        p *= ng
    devs = [(abs(v * gs[g][0] - gs[g][1]) * (p // gs[g][0]), g) for g, v in rows]
    du = Counter(u for u, _ in devs)
    cum, cums = 0, {}
    for u in sorted(du):
        cums[u] = cum
        cum += du[u]
    n = len(rows)
    sums = defaultdict(lambda: [0, 0, 0])  # g -> [n_g, s_j, q_j]
    for u, g in devs:
        r2 = 2 * cums[u] + du[u] + 1
        sums[g][0] += 1
        sums[g][1] += r2 * r2
        sums[g][2] += r2 ** 4
    s_all = sum(x[1] for x in sums.values())
    q_all = sum(x[2] for x in sums.values())
    sq_over_n = 0.0
    for g in sorted(sums):
        ng, sj, _ = sums[g]
        sq_over_n += float(sj) * float(sj) / float(ng)
    den = float(q_all) - float(s_all) * float(s_all) / float(n)
    t_micro = int(
        (
            (sq_over_n - float(s_all) * float(s_all) / float(n))
            * float(n - 1)
            * 1000000.0
            / den
            + 0.5
        )
        // 1
    )
    got = _spec("stats_conover_squared_ranks").fn(spark, sf_dir).toPandas().iloc[0]
    assert int(got["n_items"]) == n
    assert int(got["conover_t_micro"]) == t_micro
    # float anchor against the textbook formula on plain (undoubled)
    # mid-ranks — T is invariant to the rank doubling
    ranks_f = {}
    for u in sorted(du):
        ranks_f[u] = cums[u] + (du[u] + 1) / 2.0
    sj_f = defaultdict(float)
    q_f = 0.0
    for u, g in devs:
        r = ranks_f[u]
        sj_f[g] += r * r
        q_f += r ** 4
    s_f = sum(sj_f.values())
    num_f = sum(sj_f[g] ** 2 / gs[g][0] for g in sj_f) - s_f * s_f / n
    den_f = (q_f - s_f * s_f / n)
    t_f = num_f * (n - 1) / den_f
    assert abs(t_micro / 1e6 - t_f) < 5e-4 * max(1.0, abs(t_f))
    # chi-square-scale sanity: T nonnegative, bounded by N
    assert 0 <= t_micro <= 10**6 * n


def test_cox_stuart_matches_python(spark, sf_dir):
    pdf = Tables(spark, sf_dir).orders.select("o_orderdate").toPandas()
    acc: dict = defaultdict(int)
    for v in pdf["o_orderdate"]:
        acc[v.date() if hasattr(v, "date") else v] += 1
    ys = [y for _, y in sorted(acc.items())]
    n = len(ys)
    c = (n + 1) // 2
    n_pos = n_neg = 0
    for i in range(n - c):
        if ys[i + c] > ys[i]:
            n_pos += 1
        elif ys[i + c] < ys[i]:
            n_neg += 1
    got = _spec("stats_cox_stuart_trend_daily").fn(spark, sf_dir).toPandas().iloc[0]
    assert int(got["n_days"]) == n
    assert int(got["n_pairs"]) == n - c
    assert (int(got["n_pos"]), int(got["n_neg"])) == (n_pos, n_neg)
    m = n_pos + n_neg
    want = _halfup_int(10**6 * (n_pos - n_neg) ** 2, m) * (
        -1 if n_pos < n_neg else 1
    )
    assert int(got["cs_z_sq_signed_micro"]) == want
