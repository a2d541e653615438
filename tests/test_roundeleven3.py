"""Round-11 direct batch B gate (``operators/roundeleven3.py``):
raw-frame oracle parity, plan bars, and an independent Python replica
per operator, with numpy anchors where a closed form is hand-derived
on both sides (the shared-derivation rule).
"""

from __future__ import annotations

import math
import re
from collections import defaultdict

import pytest

from mysql_public_data_ingestor_spark.operators import stats_models as r113
from mysql_public_data_ingestor_spark.tables import Tables
from tools.check_correctness import compare, duck_connection

NAMES = [
    "stats_cucconi_halves",
    "stats_blomqvist_beta",
    "stats_seasonal_mann_kendall",
    "stats_fleiss_kappa_gates",
    "stats_median_polish_2way",
    "stats_tost_equivalence_ab",
]


def _spec(name):
    from mysql_public_data_ingestor_spark import registry

    registry._ensure_loaded()
    return registry._REGISTRY[name]


def _q(name, spark, sf_dir):
    return _spec(name).fn(spark, sf_dir).toPandas()


def _halfup_int(num: int, den: int) -> int:
    mag = (2 * abs(num) + den) // (2 * den)
    return -mag if num < 0 else mag


def test_batch_registered_with_oracles():
    from mysql_public_data_ingestor_spark import registry

    registry._ensure_loaded()
    missing = [n for n in NAMES if n not in registry._REGISTRY]
    assert not missing, f"not registered: {missing}"
    no_oracle = [n for n in NAMES if registry._REGISTRY[n].oracle is None]
    assert no_oracle == [], f"registered without oracle: {no_oracle}"


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


def test_batch_plan_bars(spark, sf_dir):
    from mysql_public_data_ingestor_spark.plans import assert_no_cartesian

    for name in NAMES:
        assert_no_cartesian(_spec(name).fn(spark, sf_dir))


# ---------------------------------------------------------------------------
# replicas
# ---------------------------------------------------------------------------


def _daily_cents(spark, sf_dir):
    pdf = Tables(spark, sf_dir).orders.select("o_orderdate", "o_totalprice").toPandas()
    acc: dict = defaultdict(int)
    for r in pdf.itertuples():
        d = r.o_orderdate.date() if hasattr(r.o_orderdate, "date") else r.o_orderdate
        acc[d] += int(math.floor(r.o_totalprice * 100 + 0.5))
    return sorted(acc.items())


def test_cucconi_matches_python(spark, sf_dir):
    got = _q("stats_cucconi_halves", spark, sf_dir).iloc[0]
    days = _daily_cents(spark, sf_dir)
    n = len(days)
    m1 = n // 2
    second = set(d for d, _ in days[m1:])
    ordered = sorted(days, key=lambda dv: (dv[1], dv[0]))
    U = V = 0
    for r, (d, _) in enumerate(ordered, start=1):
        if d in second:
            U += r * r
            V += (n + 1 - r) * (n + 1 - r)
    n2 = n - m1
    q = (2 * n + 1) * (8 * n + 11)
    p = 2 * (n * n - 4) - q
    a = 6 * U - n2 * (n + 1) * (2 * n + 1)
    b = 6 * V - n2 * (n + 1) * (2 * n + 1)
    c_num = 5 * (q * (a * a + b * b) - 2 * p * a * b)
    c_den = 2 * (q * q - p * p) * m1 * n2 * (n + 1)
    assert int(got["n_days"]) == n
    assert int(got["n_first"]) == m1 and int(got["n_second"]) == n2
    assert int(got["u_stat"]) == U and int(got["v_stat"]) == V
    assert got["cucconi_c"] == _halfup_int(10**6 * c_num, c_den) / 1e6
    # C is a positive-definite quadratic form: never negative
    assert got["cucconi_c"] >= 0

    # Independent anchor: the quadratic-form reduction must agree with
    # the textbook float formula (standardize, correlate, combine).
    eu = n2 * (n + 1) * (2 * n + 1) / 6
    var = m1 * n2 * (n + 1) * (2 * n + 1) * (8 * n + 11) / 180
    rho = 2 * (n * n - 4) / ((2 * n + 1) * (8 * n + 11)) - 1
    us = (U - eu) / math.sqrt(var)
    vs = (V - eu) / math.sqrt(var)
    c_float = (us * us + vs * vs - 2 * rho * us * vs) / (2 * (1 - rho * rho))
    assert abs(got["cucconi_c"] - c_float) < 1e-4


def test_blomqvist_matches_python(spark, sf_dir):
    got = _q("stats_blomqvist_beta", spark, sf_dir).iloc[0]
    li = (
        Tables(spark, sf_dir)
        .lineitem.select("l_quantity", "l_discount")
        .dropna()
        .toPandas()
    )
    xs = [int(v) for v in li["l_quantity"]]
    ys = [int(math.floor(v * 100 + 0.5)) for v in li["l_discount"]]
    n = len(xs)

    def lower_median(vals):
        cnt = defaultdict(int)
        for v in vals:
            cnt[v] += 1
        cum = 0
        for v in sorted(cnt):
            cum += cnt[v]
            if 2 * cum >= n:
                return v
        raise AssertionError

    mx, my = lower_median(xs), lower_median(ys)
    n11 = sum(1 for x, y in zip(xs, ys) if x > mx and y > my)
    n22 = sum(1 for x, y in zip(xs, ys) if x < mx and y < my)
    n12 = sum(1 for x, y in zip(xs, ys) if x > mx and y < my)
    n21 = sum(1 for x, y in zip(xs, ys) if x < mx and y > my)
    n_on = sum(1 for x, y in zip(xs, ys) if x == mx or y == my)
    assert int(got["n_rows"]) == n
    assert int(got["median_qty"]) == mx
    assert int(got["median_disc_cents"]) == my
    assert (int(got["n11"]), int(got["n22"]), int(got["n12"]), int(got["n21"])) == (
        n11, n22, n12, n21,
    )
    assert int(got["n_on"]) == n_on
    den = n11 + n22 + n12 + n21
    assert got["blomqvist_beta"] == _halfup_int(10**6 * (n11 + n22 - n12 - n21), den) / 1e6
    assert -1.0 <= got["blomqvist_beta"] <= 1.0


def test_seasonal_mk_matches_python(spark, sf_dir):
    got = _q("stats_seasonal_mann_kendall", spark, sf_dir)
    pdf = Tables(spark, sf_dir).orders.select("o_orderdate").toPandas()
    acc: dict = defaultdict(int)
    for r in pdf.itertuples():
        d = r.o_orderdate.date() if hasattr(r.o_orderdate, "date") else r.o_orderdate
        acc[d] += 1
    strata: dict = defaultdict(list)
    for d in sorted(acc):
        strata[d.isoweekday()].append(acc[d])
    exp = {}
    for dow, xs in strata.items():
        s = 0
        for i in range(len(xs)):
            for j in range(i + 1, len(xs)):
                s += (xs[j] > xs[i]) - (xs[j] < xs[i])
        cnt = defaultdict(int)
        for x in xs:
            cnt[x] += 1
        tie18 = sum(t * (t - 1) * (2 * t + 5) for t in cnt.values() if t > 1)
        nd = len(xs)
        exp[dow] = (nd, s, nd * (nd - 1) * (2 * nd + 5) - tie18)
    exp[-1] = tuple(sum(v[i] for v in exp.values()) for i in range(3))
    assert list(got["dow"]) == sorted(exp)
    for r in got.itertuples():
        nd, s, v18 = exp[int(r.dow)]
        assert (int(r.n_days), int(r.s_mk), int(r.var_s_x18)) == (nd, s, v18)
        if v18 > 0:
            ccv = s - 1 if s > 0 else (s + 1 if s < 0 else 0)
            z = math.floor(ccv / math.sqrt(v18 / 18.0) * 1e6 + 0.5) / 1e6
            assert r.z_mk == z


def test_fleiss_matches_python(spark, sf_dir):
    from mysql_public_data_ingestor_spark.operators.stats_samples import (
        COCHRAN_MIN_SENTENCES,
        MCNEMAR_MIN_CHARS,
        MCNEMAR_MIN_TOKENS,
    )

    got = _q("stats_fleiss_kappa_gates", spark, sf_dir).iloc[0]
    docs = Tables(spark, sf_dir).documents.select("text", "n_chars").toPandas()
    n = len(docs)
    sl = sll = 0
    for r in docs.itertuples():
        toks = re.sub(r"\s+", " ", r.text.lower()).strip().split(" ")
        l = (
            (r.n_chars >= MCNEMAR_MIN_CHARS)
            + (len(toks) >= MCNEMAR_MIN_TOKENS)
            + (r.text.count(".") >= COCHRAN_MIN_SENTENCES)
        )
        sl += l
        sll += l * l
    t3 = 3 * n
    pbar_num = sll - 3 * sl + 3 * n
    pe_num = sl * sl + (t3 - sl) * (t3 - sl)
    assert int(got["n_docs"]) == n
    assert int(got["total_passes"]) == sl
    assert got["p_bar"] == _halfup_int(10**6 * pbar_num, 3 * n) / 1e6
    assert got["p_e"] == _halfup_int(10**6 * pe_num, t3 * t3) / 1e6
    kden = 3 * n * t3 * t3 - 3 * n * pe_num
    if kden > 0:
        knum = pbar_num * t3 * t3 - 3 * n * pe_num
        assert got["fleiss_kappa"] == _halfup_int(10**6 * knum, kden) / 1e6
        assert got["fleiss_kappa"] <= 1.0


def test_median_polish_matches_python(spark, sf_dir):
    got = _q("stats_median_polish_2way", spark, sf_dir)
    t = Tables(spark, sf_dir)
    orders = t.orders.select("o_custkey", "o_orderpriority").toPandas()
    cust = t.customer.select("c_custkey", "c_nationkey").toPandas()
    nations = sorted(int(v) for v in t.nation.select("n_nationkey").toPandas()["n_nationkey"])
    nk = dict(zip(cust["c_custkey"], cust["c_nationkey"]))
    prios = sorted(orders["o_orderpriority"].unique())
    cells: dict = defaultdict(int)
    for r in orders.itertuples():
        cells[(int(nk[r.o_custkey]), r.o_orderpriority)] += 1
    grid = {(na, pr): cells.get((na, pr), 0) for na in nations for pr in prios}
    row_med = {
        na: sorted(grid[(na, pr)] for pr in prios)[len(prios) // 2] for na in nations
    }
    r1 = {k: v - row_med[k[0]] for k, v in grid.items()}
    col_med = {
        pr: sorted(r1[(na, pr)] for na in nations)[len(nations) // 2] for pr in prios
    }
    assert len(got) == len(nations) * len(prios)
    for r in got.itertuples():
        key = (int(r.nationkey), r.priority)
        assert int(r.cell) == grid[key]
        assert int(r.row_effect) == row_med[key[0]]
        assert int(r.col_effect) == col_med[key[1]]
        assert int(r.residual) == grid[key] - row_med[key[0]] - col_med[key[1]]
    # the LAST sweep was columns: every column's residual median is 0
    resid = {key: grid[key] - row_med[key[0]] - col_med[key[1]] for key in grid}
    for pr in prios:
        col = sorted(resid[(na, pr)] for na in nations)
        assert col[len(nations) // 2] == 0


def test_tost_matches_python(spark, sf_dir):
    got = _q("stats_tost_equivalence_ab", spark, sf_dir).iloc[0]
    ev = Tables(spark, sf_dir).events.select("user_id", "value").dropna().toPandas()
    g: dict = {0: [], 1: []}
    for r in ev.itertuples():
        g[int(r.user_id) % 2].append(int(math.floor(r.value * 100 + 0.5)))
    n1, n2 = len(g[0]), len(g[1])
    s1, s2 = sum(g[0]), sum(g[1])
    q1 = sum(v * v for v in g[0])
    q2 = sum(v * v for v in g[1])
    M = 10**6
    d = _halfup_int(M * (s1 * n2 - s2 * n1), n1 * n2)
    delta = _halfup_int(M * r113.TOST_MARGIN_PCT * (s1 + s2), 100 * (n1 + n2))
    v1 = _halfup_int(M * (n1 * q1 - s1 * s1), n1 * n1 * (n1 - 1))
    v2 = _halfup_int(M * (n2 * q2 - s2 * s2), n2 * n2 * (n2 - 1))
    se2 = v1 + v2
    lo, hi = d + delta, delta - d
    t_lo = _halfup_int(lo * lo, se2)
    t_hi = _halfup_int(hi * hi, se2)
    assert int(got["n_a"]) == n1 and int(got["n_b"]) == n2
    assert got["mean_diff_cents"] == d / 1e6
    assert got["margin_cents"] == delta / 1e6
    assert got["t_lower_sq_signed"] == (t_lo / 1e6) * (-1 if lo < 0 else 1)
    assert got["t_upper_sq_signed"] == (t_hi / 1e6) * (-1 if hi < 0 else 1)
    exp_eq = (
        lo > 0 and hi > 0
        and t_lo > r113.TOST_T_CRIT_SQ_MICRO
        and t_hi > r113.TOST_T_CRIT_SQ_MICRO
    )
    assert bool(got["equivalent"]) == exp_eq

    # Independent anchor: the micro-integer pipeline against the plain
    # float Welch TOST.
    m1f, m2f = s1 / n1, s2 / n2
    var1 = (q1 - s1 * s1 / n1) / (n1 - 1)
    var2 = (q2 - s2 * s2 / n2) / (n2 - 1)
    sef = math.sqrt(var1 / n1 + var2 / n2)
    df = (m1f - m2f)
    deltaf = 0.05 * (s1 + s2) / (n1 + n2)
    t1f = (df + deltaf) / sef
    t2f = (deltaf - df) / sef
    assert abs(got["t_lower_sq_signed"] - math.copysign(t1f * t1f, t1f)) < 1e-2
    assert abs(got["t_upper_sq_signed"] - math.copysign(t2f * t2f, t2f)) < 1e-2
