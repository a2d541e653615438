"""Round-13 direct batch X gate (``operators/roundthirteen9.py``):
raw-frame oracle parity, plan bars, constant
anchors, and independent Python replicas with float anchors for the
five ops (sample entropy, inter-arrival memory, Bland-Altman, BH FDR,
effective sample size).
"""

from __future__ import annotations

import math
from collections import Counter, defaultdict

import pytest

from mysql_public_data_ingestor_spark.operators import daily_hypothesis, daily_spectral
from mysql_public_data_ingestor_spark.operators import stats_models
from mysql_public_data_ingestor_spark.operators import stats_tables
from mysql_public_data_ingestor_spark.tables import Tables
from tools.check_correctness import compare, duck_connection

NAMES = [
    "events_sample_entropy_daily",
    "events_interarrival_memory_coeff",
    "stats_bland_altman_price_agreement",
    "stats_bh_fdr_nation_urgency",
    "stats_effective_sample_size_daily",
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


def test_bh_critical_ladder_anchor():
    """BH_CRIT_MICRO re-derived by bisection on erfc — arithmetic
    sharing nothing with the module (the HOLM_CRIT precedent)."""

    def z_for(p):
        lo, hi = 0.0, 10.0
        target = 2 * (1 - p)
        for _ in range(200):
            mid = (lo + hi) / 2
            if math.erfc(mid / math.sqrt(2)) > target:
                lo = mid
            else:
                hi = mid
        return (lo + hi) / 2

    for k in range(1, 26):
        alpha_k = 0.05 * k / 25
        z = z_for(1 - alpha_k / 2)
        assert stats_models.BH_CRIT_MICRO[k] == int(math.floor(z * z * 1e6 + 0.5)), k
    # ladder strictly decreasing; endpoints are the chi^2_1 textbook
    # quantiles at 0.998 and 0.95
    vals = [stats_models.BH_CRIT_MICRO[k] for k in range(1, 26)]
    assert vals == sorted(vals, reverse=True)
    assert abs(vals[-1] / 1e6 - 3.8415) < 1e-3
    assert abs(stats_tables.BA_Z_SQ_NUM / stats_tables.BA_Z_SQ_DEN - 1.96**2) < 1e-12


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


def _daily(spark, sf_dir):
    pdf = Tables(spark, sf_dir).orders.select("o_orderdate").toPandas()
    daily = Counter(d for d in pdf["o_orderdate"])
    return [daily[d] for d in sorted(daily)]


def test_sample_entropy_matches_python(spark, sf_dir):
    from mysql_public_data_ingestor_spark.functions.detmath import ref_det_ln_q

    y = _daily(spark, sf_dir)
    n = len(y)
    vals = sorted(set(y))
    cnt = Counter(y)
    cum = 0
    q1 = q3 = None
    for v in vals:
        cum += cnt[v]
        if q1 is None and cum >= (n + 3) // 4:
            q1 = v
        if q3 is None and cum >= (3 * n + 3) // 4:
            q3 = v
    r = max(1, _halfup_int(2 * (q3 - q1), 10))
    tri = [(y[i], y[i + 1], y[i + 2]) for i in range(n - 2)]
    b_cnt = a_cnt = 0
    for i in range(len(tri)):
        for j in range(i + 1, len(tri)):
            a0, a1, a2 = tri[i]
            b0, b1, b2 = tri[j]
            if abs(a0 - b0) <= r and abs(a1 - b1) <= r:
                b_cnt += 1
                if abs(a2 - b2) <= r:
                    a_cnt += 1
    got = _spec("events_sample_entropy_daily").fn(spark, sf_dir).toPandas().iloc[0]
    assert int(got["n_days"]) == n
    assert int(got["m"]) == daily_spectral.SAMPEN_M
    assert int(got["r_tol"]) == r
    assert int(got["b_pairs"]) == b_cnt
    assert int(got["a_pairs"]) == a_cnt
    want = (
        ref_det_ln_q(float(b_cnt)) - ref_det_ln_q(float(a_cnt))
        if a_cnt and b_cnt
        else None
    )
    assert int(got["sampen_micro"]) == want
    # float anchor: -ln(A/B); A <= B by construction
    assert a_cnt <= b_cnt
    if want is not None:
        assert abs(want / 1e6 - (-math.log(a_cnt / b_cnt))) < 1e-4
        assert want >= 0


def test_memory_coeff_matches_python(spark, sf_dir):
    pdf = (
        Tables(spark, sf_dir)
        .events.select("event_type", "ts", "event_id")
        .toPandas()
    )
    rows = sorted(
        zip(pdf["event_type"], pdf["ts"], pdf["event_id"]),
        key=lambda x: (x[0], x[1], int(x[2])),
    )
    gaps = defaultdict(list)
    prev = {}
    for et, ts, _eid in rows:
        sec = int(ts.timestamp())
        if et in prev:
            gaps[et].append(sec - prev[et])
        prev[et] = sec
    got = _spec("events_interarrival_memory_coeff").fn(spark, sf_dir).toPandas()
    assert list(got["event_type"]) == sorted(gaps)
    for _, row in got.iterrows():
        g = gaps[row["event_type"]]
        xs, ys = g[:-1], g[1:]
        n = len(xs)
        assert int(row["n_pairs"]) == n
        sx, sy = sum(xs), sum(ys)
        sxy = sum(a * b for a, b in zip(xs, ys))
        sxx = sum(a * a for a in xs)
        syy = sum(b * b for b in ys)
        num = n * sxy - sx * sy
        denx = n * sxx - sx * sx
        deny = n * syy - sy * sy
        if denx > 0 and deny > 0:
            want = int(
                math.floor(
                    abs(float(num)) * 1000000.0
                    / math.sqrt(float(denx) * float(deny))
                    + 0.5
                )
            ) * (-1 if num < 0 else 1)
            assert int(row["memory_micro"]) == want
            # float anchor: Pearson r in [-1, 1]
            r_f = num / math.sqrt(denx * deny)
            assert abs(want / 1e6 - r_f) < 1e-4
            assert -(10**6) <= want <= 10**6
        else:
            assert row["memory_micro"] != row["memory_micro"]  # NaN


def test_bland_altman_matches_python(spark, sf_dir):
    t = Tables(spark, sf_dir)
    retail = dict(
        zip(
            (int(k) for k in t.part.select("p_partkey").toPandas()["p_partkey"]),
            t.part.select("p_retailprice").toPandas()["p_retailprice"],
        )
    )
    li = t.lineitem.select("l_partkey", "l_extendedprice", "l_quantity").toPandas()
    ds = []
    for pk, ep, q in zip(li["l_partkey"], li["l_extendedprice"], li["l_quantity"]):
        rp = retail[int(pk)]
        d = int(math.floor(float(ep) * 100.0 + 0.5)) - int(
            math.floor(float(rp) * 100.0 + 0.5)
        ) * int(q)
        ds.append(d)
    n = len(ds)
    sd = sum(ds)
    sdd = sum(d * d for d in ds)
    vc = n * sdd - sd * sd
    loa = _halfup_int(stats_tables.BA_Z_SQ_NUM * 1000 * vc, stats_tables.BA_Z_SQ_DEN * n * (n - 1))
    n_within = sum(
        1
        for d in ds
        if _halfup_int(1000 * (d * n - sd), n) ** 2 <= 1000 * loa
    )
    got = (
        _spec("stats_bland_altman_price_agreement")
        .fn(spark, sf_dir)
        .toPandas()
        .iloc[0]
    )
    assert int(got["n"]) == n
    assert int(got["bias_milli"]) == _halfup_int(1000 * sd, n)
    assert int(got["var_d_milli"]) == _halfup_int(1000 * vc, n * (n - 1))
    assert int(got["loa_sq_milli"]) == loa
    assert int(got["within_loa_ppm"]) == _halfup_int(10**6 * n_within, n)
    # float anchors: ~95% of a well-behaved difference distribution
    # sits inside +-1.96 sd (loose band — the data is not Gaussian)
    assert 0.80 * 10**6 <= int(got["within_loa_ppm"]) <= 10**6
    var_f = vc / (n * (n - 1))
    assert abs(int(got["loa_sq_milli"]) / 1000 - 1.96**2 * var_f) < max(
        1.0, 1e-9 * var_f
    )


def test_bh_fdr_matches_python(spark, sf_dir):
    t = Tables(spark, sf_dir)
    cn = dict(
        zip(
            (int(k) for k in t.customer.select("c_custkey").toPandas()["c_custkey"]),
            (int(k) for k in t.customer.select("c_nationkey").toPandas()["c_nationkey"]),
        )
    )
    nn = dict(
        zip(
            (int(k) for k in t.nation.select("n_nationkey").toPandas()["n_nationkey"]),
            t.nation.select("n_name").toPandas()["n_name"],
        )
    )
    od = t.orders.select("o_custkey", "o_orderpriority").toPandas()
    cnt = defaultdict(lambda: [0, 0])
    for ck, pr in zip(od["o_custkey"], od["o_orderpriority"]):
        nat = nn[cn[int(ck)]]
        cnt[nat][0] += 1
        cnt[nat][1] += 1 if pr == "1-URGENT" else 0
    N = sum(v[0] for v in cnt.values())
    K = sum(v[1] for v in cnt.values())
    z2s = {}
    for nat, (n_i, k_i) in cnt.items():
        d = float(k_i * N - n_i * K)
        z2s[nat] = int(
            math.floor(
                (d * d) * 1000000.0 / float(n_i) / float(K) / float(N - K) + 0.5
            )
        )
    ranked = sorted(z2s.items(), key=lambda kv: (-kv[1], kv[0]))
    k_star = 0
    for rank, (nat, z2) in enumerate(ranked, start=1):
        if rank in stats_models.BH_CRIT_MICRO and z2 >= stats_models.BH_CRIT_MICRO[rank]:
            k_star = rank
    got = _spec("stats_bh_fdr_nation_urgency").fn(spark, sf_dir).toPandas()
    assert len(got) == len(cnt)
    for rank, ((nat, z2), (_, row)) in enumerate(
        zip(ranked, got.iterrows()), start=1
    ):
        assert row["nation"] == nat
        assert int(row["n_orders"]) == cnt[nat][0]
        assert int(row["n_urgent"]) == cnt[nat][1]
        assert int(row["z2_micro"]) == z2
        assert int(row["bh_rank"]) == rank
        assert int(row["crit_micro"]) == stats_models.BH_CRIT_MICRO[rank]
        assert int(row["reject"]) == (1 if rank <= k_star else 0)
    # structural step-up invariants: rejections form a rank prefix
    rejected = list(got.sort_values("bh_rank")["reject"])
    assert rejected == sorted(rejected, reverse=True)
    # BH rejects everything Holm-style raw passing would — the step-up
    # set contains every rank whose own raw test passes
    for rank, (nat, z2) in enumerate(ranked, start=1):
        if z2 >= stats_models.BH_CRIT_MICRO[rank]:
            assert rank <= k_star


def test_ess_matches_python(spark, sf_dir):
    y = _daily(spark, sf_dir)
    m = len(y)
    sy = sum(y)
    w = [m * yy - sy for yy in y]
    c0 = sum(x * x for x in w)
    csum = 0
    for L in range(1, daily_hypothesis.ESS_MAX_LAG + 1):
        csum += sum(w[j] * w[j + L] for j in range(m - L))
    got = (
        _spec("stats_effective_sample_size_daily").fn(spark, sf_dir).toPandas().iloc[0]
    )
    assert int(got["n_days"]) == m
    assert int(got["sum_r_micro"]) == _halfup_int(10**6 * csum, c0)
    den = c0 + 2 * csum
    if den > 0:
        want = _halfup_int(1000 * m * c0, den)
        assert int(got["ess_milli"]) == want
        # float anchor: Kish formula; positively autocorrelated series
        # have ESS below N
        ess_f = m / (1 + 2 * csum / c0)
        assert abs(want / 1000 - ess_f) < 0.01 * max(1.0, ess_f)
        if csum > 0:
            assert want < 1000 * m
