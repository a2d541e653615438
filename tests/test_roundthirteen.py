"""Round-13 batch P gate (``operators/roundthirteen.py``): raw-frame
oracle parity at sf0.001, plan bars, and Python replicas with float
anchors.
"""

from __future__ import annotations

from collections import Counter

import pytest

from mysql_public_data_ingestor_spark.operators import stats_rank as r13
from mysql_public_data_ingestor_spark.registry import all_queries
from mysql_public_data_ingestor_spark.tables import Tables
from tools.check_correctness import compare, duck_connection

# The queries this gate covers, by name, so its test ids stay fixed: the
# module's own queries plus the daily-series queries it registered before
# they moved to ``operators/daily_*.py``.
NAMES = (
    "stats_bartels_rank_daily",
    "stats_brunner_munzel_ab",
    "stats_dixon_q_daily",
    "stats_hartley_fmax_cochran_c",
    "stats_tukey_quick_ab",
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


@pytest.mark.parametrize(
    "entry", QUERIES, ids=[name for name, *_ in QUERIES]
)
def test_queued_query_matches_oracle(spark, sf_dir, entry):
    name, fn, oracle, _doc = entry
    sdf = fn(spark, sf_dir).toPandas()
    con = duck_connection(sf_dir)
    try:
        odf = con.execute(oracle).fetchdf()
    finally:
        con.close()
    problems = compare(name, sdf, odf)
    assert not problems, f"{name}: {problems}"


@pytest.mark.parametrize(
    "entry", QUERIES, ids=[name for name, *_ in QUERIES]
)
def test_plan_bars(spark, sf_dir, entry):
    from mysql_public_data_ingestor_spark.plans import assert_no_cartesian

    _name, fn, _oracle, _doc = entry
    assert_no_cartesian(fn(spark, sf_dir))


# ---------------------------------------------------------------------------
# replicas
# ---------------------------------------------------------------------------


def _rows_ar(spark, sf_dir):
    pdf = (
        Tables(spark, sf_dir)
        .lineitem.select("l_returnflag", "l_quantity")
        .toPandas()
    )
    return [
        (g, int(v))
        for g, v in zip(pdf["l_returnflag"], pdf["l_quantity"])
        if v == v and g in ("A", "R")
    ]


def _fn(name):
    return all_queries()[name].fn


def test_tukey_quick_matches_python(spark, sf_dir):
    rows = _rows_ar(spark, sf_dir)
    a = [v for g, v in rows if g == "A"]
    r = [v for g, v in rows if g == "R"]
    max_a, min_a, max_r, min_r = max(a), min(a), max(r), min(r)

    def t2(vals, ref, above):
        return sum(
            2 if ((v > ref) if above else (v < ref)) else (1 if v == ref else 0)
            for v in vals
        )

    up = t2(a, max_r, True) + t2(r, min_a, False)
    dn = t2(r, max_a, True) + t2(a, min_r, False)
    got = _fn("stats_tukey_quick_ab")(spark, sf_dir).toPandas().iloc[0]
    assert (int(got["max_a"]), int(got["min_a"])) == (max_a, min_a)
    assert (int(got["max_r"]), int(got["min_r"])) == (max_r, min_r)
    assert int(got["t2_a_shifted_up"]) == up
    assert int(got["t2_r_shifted_up"]) == dn
    mx = max(up, dn)
    assert int(got["sig_05"]) == (1 if mx >= 14 else 0)
    assert int(got["sig_01"]) == (1 if mx >= 20 else 0)
    assert int(got["sig_001"]) == (1 if mx >= 26 else 0)


def _midranks2(values):
    """value -> doubled midrank over the multiset."""
    cnt = Counter(values)
    cum, out = 0, {}
    for v in sorted(cnt):
        out[v] = 2 * cum + cnt[v] + 1
        cum += cnt[v]
    return out


def test_brunner_munzel_matches_python(spark, sf_dir):
    rows = _rows_ar(spark, sf_dir)
    a = [v for g, v in rows if g == "A"]
    r = [v for g, v in rows if g == "R"]
    na, nr = len(a), len(r)
    pooled2 = _midranks2([v for _, v in rows])
    wa2 = _midranks2(a)
    wr2 = _midranks2(r)
    sra = sum(pooled2[v] for v in a)
    srr = sum(pooled2[v] for v in r)
    # exact scaled variance terms
    qa = sum(
        (na * (pooled2[v] - wa2[v]) - sra + na * (na + 1)) ** 2 for v in a
    )
    qr = sum(
        (nr * (pooled2[v] - wr2[v]) - srr + nr * (nr + 1)) ** 2 for v in r
    )
    rel = _halfup_int(
        10**6 * (srr - nr * (nr + 1) - na * nr), 2 * na * nr
    )
    A = sra * nr - srr * na
    denq = qa * nr * (nr - 1) + qr * na * (na - 1)
    w2 = int(
        (
            (float(A) * float(A))
            * float(na)
            * float(na - 1)
            * float(nr)
            * float(nr - 1)
            * 1000000.0
            / float(na + nr)
            / float(na + nr)
            / (
                float(qa) * float(nr) * float(nr - 1)
                + float(qr) * float(na) * float(na - 1)
            )
            + 0.5
        )
        // 1
    )
    sign = -1 if sra * nr > srr * na else 1
    got = _fn("stats_brunner_munzel_ab")(spark, sf_dir).toPandas().iloc[0]
    assert (int(got["n_a"]), int(got["n_r"])) == (na, nr)
    assert int(got["rel_effect_centered_micro"]) == rel
    assert int(got["bm_w_sq_signed_micro"]) == sign * w2
    # float anchor: scipy's formulation with plain midranks
    pooled = {v: m / 2 for v, m in pooled2.items()}
    wa = {v: m / 2 for v, m in wa2.items()}
    wr = {v: m / 2 for v, m in wr2.items()}
    mca = sum(pooled[v] for v in a) / na
    mcr = sum(pooled[v] for v in r) / nr
    sx = sum((pooled[v] - wa[v] - mca + (na + 1) / 2) ** 2 for v in a) / (na - 1)
    sy = sum((pooled[v] - wr[v] - mcr + (nr + 1) / 2) ** 2 for v in r) / (nr - 1)
    wbfn = (
        na * nr * (mcr - mca) / ((na + nr) * ((na * sx + nr * sy) ** 0.5))
    )
    assert abs(w2 / 1e6 - wbfn * wbfn) < 1e-3 * max(1.0, wbfn * wbfn)
    # the centered relative effect identity p_hat - 1/2 = (Rr - Ra)/N
    assert abs(rel / 1e6 - (mcr - mca) / (na + nr)) < 1e-5


def _daily_counts(spark, sf_dir):
    from collections import defaultdict

    pdf = Tables(spark, sf_dir).orders.select("o_orderdate").toPandas()
    acc = defaultdict(int)
    for v in pdf["o_orderdate"]:
        acc[v.date() if hasattr(v, "date") else v] += 1
    return [y for _, y in sorted(acc.items())]


def test_bartels_matches_python(spark, sf_dir):
    ys = _daily_counts(spark, sf_dir)
    n = len(ys)
    r2 = _midranks2(ys)
    rs = [r2[y] for y in ys]
    sr2 = sum(rs)
    nm = sum((rs[i] - rs[i + 1]) ** 2 for i in range(n - 1))
    dn = sum((n * r - sr2) ** 2 for r in rs)
    got = _fn("stats_bartels_rank_daily")(spark, sf_dir).toPandas().iloc[0]
    assert int(got["n_days"]) == n
    rvn = _halfup_int(10**6 * nm * n * n, dn)
    assert int(got["rvn_micro"]) == rvn
    rvn_d = float(nm) * float(n) * float(n) / float(dn)
    z2 = int(((rvn_d - 2.0) * (rvn_d - 2.0) * float(n) * 250000.0 + 0.5) // 1)
    sign = -1 if float(nm) * float(n) * float(n) < 2.0 * float(dn) else 1
    assert int(got["rvn_z_sq_signed_micro"]) == sign * z2
    # float anchor: RVN on plain midranks
    ranks = [r / 2 for r in rs]
    mr = sum(ranks) / n
    rvn_f = sum(
        (ranks[i] - ranks[i + 1]) ** 2 for i in range(n - 1)
    ) / sum((x - mr) ** 2 for x in ranks)
    assert abs(rvn / 1e6 - rvn_f) < 1e-5
    assert 0 < rvn / 1e6 < 4


def test_dixon_matches_python(spark, sf_dir):
    ys = sorted(_daily_counts(spark, sf_dir))
    n = len(ys)
    lo, hi = ys[0], ys[-1]
    x2, xn1 = ys[1], ys[-2]
    got = _fn("stats_dixon_q_daily")(spark, sf_dir).toPandas().iloc[0]
    assert int(got["n_days"]) == n
    assert (int(got["min_daily"]), int(got["max_daily"])) == (lo, hi)
    assert int(got["second_lowest"]) == x2
    assert int(got["second_highest"]) == xn1
    assert int(got["q_low_micro"]) == _halfup_int(10**6 * (x2 - lo), hi - lo)
    assert int(got["q_high_micro"]) == _halfup_int(10**6 * (hi - xn1), hi - lo)
    # Q lives in [0, 1]
    assert 0 <= int(got["q_low_micro"]) <= 10**6
    assert 0 <= int(got["q_high_micro"]) <= 10**6


def test_fmax_cochran_matches_python(spark, sf_dir):
    pdf = (
        Tables(spark, sf_dir)
        .lineitem.select("l_returnflag", "l_quantity")
        .toPandas()
    )
    groups: dict = {}
    for g, v in zip(pdf["l_returnflag"], pdf["l_quantity"]):
        if v == v:
            groups.setdefault(g, []).append(int(v))
    stats = {}
    for g, vs in groups.items():
        n = len(vs)
        vnum = n * sum(v * v for v in vs) - sum(vs) ** 2
        stats[g] = (n, vnum)
    # exact cross-multiplied ordering of s^2 = vnum/(n(n-1))
    def s2_key(g):
        n, v = stats[g]
        from fractions import Fraction

        return Fraction(v, n * (n - 1))

    gs_sorted = sorted(stats, key=lambda g: (s2_key(g), g))
    g_min = min(stats, key=lambda g: (s2_key(g), g))
    g_max = min(
        [g for g in stats if all(s2_key(g) >= s2_key(h) for h in stats)]
    )
    n_mx, v_mx = stats[g_max]
    n_mn, v_mn = stats[g_min]
    fmax = _halfup_int(
        10**6 * v_mx * n_mn * (n_mn - 1), v_mn * n_mx * (n_mx - 1)
    )
    s2sum = 0.0
    for g in sorted(stats):
        n, v = stats[g]
        s2sum += float(v) / float(n * (n - 1))
    c = int(
        (float(v_mx) / float(n_mx * (n_mx - 1)) / s2sum * 1000000.0 + 0.5) // 1
    )
    got = _fn("stats_hartley_fmax_cochran_c")(spark, sf_dir).toPandas().iloc[0]
    assert int(got["n_groups"]) == len(stats)
    assert got["max_var_group"] == g_max
    assert got["min_var_group"] == g_min
    assert int(got["fmax_micro"]) == fmax
    assert int(got["cochran_c_micro"]) == c
    # invariants: Fmax >= 1, 1/k <= C <= 1
    assert fmax >= 10**6
    assert 10**6 // len(stats) <= c <= 10**6
    assert gs_sorted[0] == g_min and gs_sorted[-1] == g_max
