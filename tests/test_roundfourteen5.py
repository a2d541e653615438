"""Round-14 direct batch Z gate (``operators/roundfourteen5.py``):
raw-frame oracle parity, plan bars, and
independent Python replicas with float anchors for the six ops
(Gwet AC1, Krippendorff alpha, Jarque-Bera daily, Newcombe diff CI,
Yuen trimmed t, Chatterjee xi).
"""

from __future__ import annotations

import math
import re
from collections import Counter, defaultdict

import pytest

from mysql_public_data_ingestor_spark.tables import Tables
from tools.check_correctness import compare, duck_connection

NAMES = [
    "stats_gwet_ac1_gates",
    "stats_krippendorff_alpha_binary",
    "stats_jarque_bera_daily",
    "stats_newcombe_diff_ci",
    "stats_yuen_trimmed_ttest",
    "stats_chatterjee_xi_daily",
]


def _spec(name):
    from mysql_public_data_ingestor_spark import registry

    registry._ensure_loaded()
    return registry._REGISTRY[name]


def _halfup_int(num: int, den: int) -> int:
    mag = (2 * abs(num) + den) // (2 * den)
    return -mag if num < 0 else mag


def _ratio6(num: int, den: int) -> float:
    return _halfup_int(10**6 * num, den) / 1e6


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


def _gate_sums(spark, sf_dir):
    from mysql_public_data_ingestor_spark.operators.stats_samples import (
        COCHRAN_MIN_SENTENCES,
        MCNEMAR_MIN_CHARS,
        MCNEMAR_MIN_TOKENS,
    )

    pdf = Tables(spark, sf_dir).documents.select("n_chars", "text").toPandas()
    ws = re.compile(r"\s+")
    n = sl = sll = 0
    for n_chars, text in zip(pdf["n_chars"], pdf["text"]):
        toks = ws.sub(" ", text.lower()).strip().split(" ")
        l = (
            (1 if int(n_chars) >= MCNEMAR_MIN_CHARS else 0)
            + (1 if len(toks) >= MCNEMAR_MIN_TOKENS else 0)
            + (1 if text.count(".") >= COCHRAN_MIN_SENTENCES else 0)
        )
        n += 1
        sl += l
        sll += l * l
    return n, sl, sll


def test_gwet_ac1_matches_python(spark, sf_dir):
    n, sl, sll = _gate_sums(spark, sf_dir)
    tt = 3 * n
    pbar_num = sll - 3 * sl + 3 * n
    pe2 = 2 * sl * (tt - sl)
    got = _spec("stats_gwet_ac1_gates").fn(spark, sf_dir).toPandas().iloc[0]
    assert int(got["n_docs"]) == n
    assert int(got["total_passes"]) == sl
    assert got["p_a"] == _ratio6(pbar_num, tt)
    assert got["p_e_gamma"] == _ratio6(pe2, tt * tt)
    assert got["gwet_ac1"] == _ratio6(pbar_num * tt - pe2, tt * tt - pe2)
    # float anchors: AC1 = (Pa - Pe)/(1 - Pe); AC1 >= kappa at high
    # prevalence is the documented paradox direction
    pa = pbar_num / tt
    pe = pe2 / (tt * tt)
    assert abs(got["gwet_ac1"] - (pa - pe) / (1 - pe)) < 1e-5
    assert -1.0 <= got["gwet_ac1"] <= 1.0


def test_krippendorff_matches_python(spark, sf_dir):
    n, sl, sll = _gate_sums(spark, sf_dir)
    tt = 3 * n
    do_num = 3 * sl - sll
    de2 = 2 * sl * (tt - sl)
    got = (
        _spec("stats_krippendorff_alpha_binary").fn(spark, sf_dir).toPandas().iloc[0]
    )
    assert int(got["n_docs"]) == n
    assert int(got["total_passes"]) == sl
    assert got["disagree_rate"] == _ratio6(do_num, tt)
    assert got["kripp_alpha"] == _ratio6(de2 - (tt - 1) * do_num, de2)
    # float anchor: the coincidence-matrix definition, computed
    # independently per unit
    alpha_f = 1 - (tt - 1) * do_num / de2
    assert abs(got["kripp_alpha"] - alpha_f) < 1e-5
    assert got["kripp_alpha"] <= 1.0


def test_jarque_bera_matches_python(spark, sf_dir):
    pdf = Tables(spark, sf_dir).orders.select("o_orderdate").toPandas()
    daily = Counter(d.date() for d in pdf["o_orderdate"])
    ys = list(daily.values())
    n = len(ys)
    sy = sum(ys)
    m = _halfup_int(sy, n)
    s2 = sum((y - m) ** 2 for y in ys)
    s3 = sum((y - m) ** 3 for y in ys)
    s4 = sum((y - m) ** 4 for y in ys)
    nd = float(n)
    delta = float(sy - n * m) / nd
    r2, r3, r4 = s2 / nd, s3 / nd, s4 / nd
    mu2 = r2 - delta * delta
    mu3 = r3 - 3.0 * delta * r2 + 2.0 * delta**3
    mu4 = r4 - 4.0 * delta * r3 + 6.0 * delta * delta * r2 - 3.0 * delta**4
    s = mu3 / (math.sqrt(mu2) * mu2)
    k = mu4 / (mu2 * mu2) - 3.0
    got = _spec("stats_jarque_bera_daily").fn(spark, sf_dir).toPandas().iloc[0]
    assert int(got["n_days"]) == n
    assert int(got["skew_micro"]) == math.floor(s * 1e6 + 0.5)
    assert int(got["ex_kurt_micro"]) == math.floor(k * 1e6 + 0.5)
    assert int(got["jb_micro"]) == math.floor(
        (nd / 6.0) * (s * s + (k * k) / 4.0) * 1e6 + 0.5
    )
    # float anchor vs textbook central moments about the exact mean
    mean = sy / nd
    c2 = sum((y - mean) ** 2 for y in ys) / nd
    c3 = sum((y - mean) ** 3 for y in ys) / nd
    assert abs(s - c3 / c2**1.5) < 1e-9
    assert int(got["jb_micro"]) >= 0


def _wilson(k, n, z):
    p = k / n
    zn = z * z / n
    center = (p + zn * 0.5) / (1.0 + zn)
    hw = (z * math.sqrt(p * (1 - p) / n + zn * 0.25 / n)) / (1.0 + zn)
    return p, center - hw, center + hw


def test_newcombe_matches_python(spark, sf_dir):
    from mysql_public_data_ingestor_spark.operators.stats_tables import (
        NEWCOMBE_R1,
        NEWCOMBE_R2,
    )
    from mysql_public_data_ingestor_spark.operators.stats_tables import WILSON_Z

    t = Tables(spark, sf_dir)
    pdf = (
        t.orders.join(
            t.customer.selectExpr("c_custkey", "c_nationkey"),
            t.orders.o_custkey == t.customer.c_custkey,
        )
        .join(t.nation, t.customer.c_nationkey == t.nation.n_nationkey)
        .join(t.region, t.nation.n_regionkey == t.region.r_regionkey)
        .selectExpr("r_name", "o_orderpriority")
        .toPandas()
    )
    stats = defaultdict(lambda: [0, 0])
    for rname, prio in zip(pdf["r_name"], pdf["o_orderpriority"]):
        if rname in (NEWCOMBE_R1, NEWCOMBE_R2):
            stats[rname][0] += 1
            stats[rname][1] += 1 if prio == "1-URGENT" else 0
    n1, k1 = stats[NEWCOMBE_R1]
    n2, k2 = stats[NEWCOMBE_R2]
    p1, l1, u1 = _wilson(k1, n1, WILSON_Z)
    p2, l2, u2 = _wilson(k2, n2, WILSON_Z)
    d = p1 - p2
    lo = d - math.sqrt((p1 - l1) ** 2 + (u2 - p2) ** 2)
    hi = d + math.sqrt((u1 - p1) ** 2 + (p2 - l2) ** 2)
    got = _spec("stats_newcombe_diff_ci").fn(spark, sf_dir).toPandas().iloc[0]
    assert (int(got["n1"]), int(got["k1"])) == (n1, k1)
    assert (int(got["n2"]), int(got["k2"])) == (n2, k2)
    assert int(got["diff_micro"]) == math.floor(d * 1e6 + 0.5)
    assert abs(int(got["ci_lo_micro"]) - math.floor(lo * 1e6 + 0.5)) <= 1
    assert abs(int(got["ci_hi_micro"]) - math.floor(hi * 1e6 + 0.5)) <= 1
    # structural anchors: CI brackets the point difference
    assert int(got["ci_lo_micro"]) <= int(got["diff_micro"]) <= int(got["ci_hi_micro"])


def test_yuen_matches_python(spark, sf_dir):
    from mysql_public_data_ingestor_spark.operators.stats_models import YUEN_TRIM_DEN

    t = Tables(spark, sf_dir)
    pdf = (
        t.orders.join(
            t.customer.selectExpr("c_custkey", "c_nationkey"),
            t.orders.o_custkey == t.customer.c_custkey,
        )
        .join(t.nation, t.customer.c_nationkey == t.nation.n_nationkey)
        .selectExpr("n_name", "o_orderkey", "o_totalprice", "o_orderpriority")
        .toPandas()
    )
    groups = defaultdict(list)
    for nm, ok, price, prio in zip(
        pdf["n_name"], pdf["o_orderkey"], pdf["o_totalprice"], pdf["o_orderpriority"]
    ):
        cents = math.floor(price * 100.0 + 0.5)
        g = 1 if prio == "1-URGENT" else 0
        groups[(nm, g)].append((cents, int(ok)))

    def yuen_side(vals):
        vals.sort()
        n = len(vals)
        k = n // YUEN_TRIM_DEN
        cents = [c for c, _ in vals]
        trim = cents[k : n - k]
        st = sum(trim)
        h = n - 2 * k
        lo, hi = cents[k], cents[n - k - 1]
        wins = trim + [lo] * k + [hi] * k
        sw = sum(wins)
        sww = sum(x * x for x in wins)
        s2w = (sww - sw * sw / float(n)) / float(n - 1)
        return n, k, h, st, s2w

    want = {}
    for nm in sorted({k[0] for k in groups}):
        if (nm, 1) not in groups or (nm, 0) not in groups:
            continue
        n1, _, h1, st1, s2w1 = yuen_side(groups[(nm, 1)])
        n2, _, h2, st2, s2w2 = yuen_side(groups[(nm, 0)])
        xt1, xt2 = st1 / float(h1), st2 / float(h2)
        d1 = s2w1 * (n1 - 1) / (float(h1) * float(h1 - 1)) if h1 >= 2 else 0.0
        d2 = s2w2 * (n2 - 1) / (float(h2) * float(h2 - 1)) if h2 >= 2 else 0.0
        tstat = (
            math.floor((xt1 - xt2) / math.sqrt(d1 + d2) * 1e6 + 0.5)
            if h1 >= 2 and h2 >= 2 and d1 + d2 > 0
            else None
        )
        want[nm] = (n1, n2, _ratio6(st1, 100 * h1) * 100 / 100, tstat, st1, h1, st2, h2)
    got = _spec("stats_yuen_trimmed_ttest").fn(spark, sf_dir).toPandas()
    assert list(got["nation"]) == sorted(want)
    for _, row in got.iterrows():
        n1, n2, _, tstat, st1, h1, st2, h2 = want[row["nation"]]
        assert int(row["n_urgent"]) == n1
        assert int(row["n_other"]) == n2
        assert row["trimmed_mean_urgent"] == _halfup_int(10**4 * st1, 100 * h1) / 1e4
        assert row["trimmed_mean_other"] == _halfup_int(10**4 * st2, 100 * h2) / 1e4
        if tstat is None:
            assert row["yuen_t_micro"] is None or math.isnan(row["yuen_t_micro"])
        else:
            assert int(row["yuen_t_micro"]) == tstat


def test_chatterjee_xi_matches_python(spark, sf_dir):
    pdf = Tables(spark, sf_dir).orders.select("o_orderdate").toPandas()
    daily = Counter(d.date() for d in pdf["o_orderdate"])
    days = sorted(daily)
    ys = [daily[d] for d in days]
    n = len(ys)
    r = {v: sum(1 for y in ys if y <= v) for v in set(ys)}
    l = {v: sum(1 for y in ys if y >= v) for v in set(ys)}
    s = sum(abs(r[ys[i + 1]] - r[ys[i]]) for i in range(n - 1))
    dd = sum(l[y] * (n - l[y]) for y in ys)
    got = _spec("stats_chatterjee_xi_daily").fn(spark, sf_dir).toPandas().iloc[0]
    assert int(got["n_days"]) == n
    assert int(got["sum_abs_rank_diff"]) == s
    want = 10**6 - _halfup_int(10**6 * n * s, 2 * dd)
    assert int(got["xi_micro"]) == want
    # float anchor: the published ties-robust formula; xi <= 1 always
    xi_f = 1.0 - n * s / (2.0 * dd)
    assert abs(want / 1e6 - xi_f) < 1e-5
    assert want <= 10**6
