"""Round-14 direct batch AA gate (``operators/roundfourteen6.py``):
raw-frame oracle parity, plan bars, and
independent Python replicas with float anchors for the six ops
(Lorenz asymmetry, Atkinson indices, Hoover index, Theil U forecast
ratios, AMI lag profile, inspection-paradox interarrival audit).
"""

from __future__ import annotations

import math
from collections import Counter, defaultdict

import pytest

from mysql_public_data_ingestor_spark.tables import Tables
from tools.check_correctness import compare, duck_connection

NAMES = [
    "stats_lorenz_asymmetry",
    "stats_atkinson_index_nation",
    "stats_hoover_index_nation",
    "events_theil_u_forecast",
    "events_ami_lag_profile",
    "events_inspection_paradox_interarrival",
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


def _nation_cents(spark, sf_dir):
    t = Tables(spark, sf_dir)
    pdf = (
        t.orders.join(
            t.customer.selectExpr("c_custkey", "c_nationkey"),
            t.orders.o_custkey == t.customer.c_custkey,
        )
        .join(t.nation, t.customer.c_nationkey == t.nation.n_nationkey)
        .selectExpr("n_name", "o_totalprice")
        .toPandas()
    )
    by = defaultdict(list)
    for nm, price in zip(pdf["n_name"], pdf["o_totalprice"]):
        if price is not None and price > 0:
            by[nm].append(math.floor(price * 100.0 + 0.5))
    return by


def test_lorenz_asymmetry_matches_python(spark, sf_dir):
    by = _nation_cents(spark, sf_dir)
    got = _spec("stats_lorenz_asymmetry").fn(spark, sf_dir).toPandas()
    assert list(got["nation"]) == sorted(by)
    for _, row in got.iterrows():
        xs = by[row["nation"]]
        n, sy = len(xs), sum(xs)
        below = [x for x in xs if n * x < sy]
        m, lm = len(below), sum(below)
        xm = max(below) if below else None
        xm1 = min(x for x in xs if n * x >= sy)
        assert int(row["n_orders"]) == n
        if xm is None or xm1 <= xm:
            assert row["lorenz_asymmetry_micro"] is None or math.isnan(
                row["lorenz_asymmetry_micro"]
            )
            continue
        delta = float(sy - n * xm) / float(n * (xm1 - xm))
        s = (m + delta) / float(n) + (lm + delta * float(xm1)) / float(sy)
        assert int(row["lorenz_asymmetry_micro"]) == math.floor(s * 1e6 + 0.5)
        # float anchor: S near 1 means symmetric; always positive
        assert 0 < s < 2.5


def test_atkinson_matches_python(spark, sf_dir):
    from mysql_public_data_ingestor_spark.operators.stats_dist import (
        ATK_RECIP_SCALE,
        ATK_SQRT_SCALE,
    )

    by = _nation_cents(spark, sf_dir)
    got = _spec("stats_atkinson_index_nation").fn(spark, sf_dir).toPandas()
    assert list(got["nation"]) == sorted(by)
    for _, row in got.iterrows():
        xs = by[row["nation"]]
        n, sy = len(xs), sum(xs)
        sr = sum(_halfup_int(ATK_RECIP_SCALE, x) for x in xs)
        ss = sum(math.floor(math.sqrt(float(x)) * ATK_SQRT_SCALE + 0.5) for x in xs)
        msqrt = ss / (float(n) * ATK_SQRT_SCALE)
        a_half = 1.0 - msqrt * msqrt * float(n) / float(sy)
        a2 = 10**6 - _halfup_int(10**6 * n * n * ATK_RECIP_SCALE, sr * sy)
        assert int(row["n_orders"]) == n
        assert int(row["atkinson_half_micro"]) == math.floor(a_half * 1e6 + 0.5)
        assert int(row["atkinson_2_micro"]) == a2
        # float anchors: 0 <= A(1/2) <= A(2) < 1 (monotone in aversion)
        mu = sy / n
        h = n / sum(1.0 / x for x in xs)
        assert abs(a2 / 1e6 - (1 - h / mu)) < 1e-4
        assert -1 <= int(row["atkinson_half_micro"]) <= int(row["atkinson_2_micro"]) + 1


def test_hoover_matches_python(spark, sf_dir):
    by = _nation_cents(spark, sf_dir)
    got = _spec("stats_hoover_index_nation").fn(spark, sf_dir).toPandas()
    assert list(got["nation"]) == sorted(by)
    for _, row in got.iterrows():
        xs = by[row["nation"]]
        n, sy = len(xs), sum(xs)
        sad = sum(abs(n * x - sy) for x in xs)
        assert int(row["n_orders"]) == n
        assert int(row["hoover_micro"]) == _halfup_int(10**6 * sad, 2 * n * sy)
        # float anchor: Hoover <= Gini always; both in [0, 1)
        assert 0 <= int(row["hoover_micro"]) < 10**6


def _daily_events(spark, sf_dir):
    pdf = Tables(spark, sf_dir).events.select("ts").toPandas()
    return Counter(d.date() for d in pdf["ts"])


def test_theil_u_matches_python(spark, sf_dir):
    import datetime

    daily = _daily_events(spark, sf_dir)
    sse7 = sse1 = syy = sff = n = 0
    for d, y in daily.items():
        d7, d1 = d - datetime.timedelta(days=7), d - datetime.timedelta(days=1)
        if d7 in daily and d1 in daily:
            n += 1
            sse7 += (y - daily[d7]) ** 2
            sse1 += (y - daily[d1]) ** 2
            syy += y * y
            sff += daily[d7] ** 2
    got = _spec("events_theil_u_forecast").fn(spark, sf_dir).toPandas().iloc[0]
    assert int(got["n_days_scored"]) == n
    assert int(got["sse_seasonal7"]) == sse7
    assert int(got["sse_naive1"]) == sse1
    u1 = math.sqrt(float(sse7)) / (math.sqrt(float(syy)) + math.sqrt(float(sff)))
    assert int(got["u1_micro"]) == math.floor(u1 * 1e6 + 0.5)
    if sse1 > 0:
        u2 = math.sqrt(float(sse7) / float(sse1))
        assert int(got["u2_micro"]) == math.floor(u2 * 1e6 + 0.5)
    # float anchor: U1 bounded in [0, 1]
    assert 0 <= u1 <= 1


def test_ami_matches_python(spark, sf_dir):
    from mysql_public_data_ingestor_spark.functions.detmath import ref_det_ln_fix
    from mysql_public_data_ingestor_spark.operators.events_series import (
        AMI_LAGS,
    )

    def ref_ln_dbl(x):
        L = ref_det_ln_fix(x)
        return None if L is None else L * (math.log(2) / 2**30)

    daily = _daily_events(spark, sf_dir)
    days = sorted(daily)
    ys = [daily[d] for d in days]
    n = len(ys)
    svals = sorted(ys)

    def qtile(p_num, p_den):
        # min y with p_den * cle >= p_num * n  (type-1)
        cnt = Counter(ys)
        cle = 0
        for v in sorted(cnt):
            cle += cnt[v]
            if p_den * cle >= p_num * n:
                return v
        return svals[-1]

    q1, q2, q3 = qtile(1, 4), qtile(1, 2), qtile(3, 4)
    b = [(1 if y > q1 else 0) + (1 if y > q2 else 0) + (1 if y > q3 else 0) for y in ys]
    got = _spec("events_ami_lag_profile").fn(spark, sf_dir).toPandas()
    assert list(got["lag"]) == list(range(1, AMI_LAGS + 1))
    for _, row in got.iterrows():
        lag = int(row["lag"])
        pairs = [(b[i], b[i + lag]) for i in range(n - lag)]
        nl = len(pairs)
        joint = Counter(pairs)
        rx = Counter(x for x, _ in pairs)
        ry = Counter(y for _, y in pairs)
        ami = 0
        for (bx, by_), c in joint.items():
            rat = (c * nl) / (rx[bx] * ry[by_])
            ami += math.floor((c / nl) * ref_ln_dbl(rat) * 1e9 + 0.5)
        assert int(row["n_pairs"]) == nl
        assert int(row["ami_nano"]) == ami
        # float anchor: AMI >= 0 up to quantization; <= ln(4)
        assert -16 * 1 <= ami <= math.ceil(math.log(4) * 1e9)


def test_inspection_paradox_matches_python(spark, sf_dir):
    pdf = (
        Tables(spark, sf_dir)
        .events.selectExpr(
            "event_type", "event_id", "CAST(unix_timestamp(ts) AS LONG) AS sec", "ts"
        )
        .toPandas()
    )
    by = defaultdict(list)
    for et, eid, sec, ts in zip(
        pdf["event_type"], pdf["event_id"], pdf["sec"], pdf["ts"]
    ):
        by[et].append((ts, int(eid), int(sec)))
    got = _spec("events_inspection_paradox_interarrival").fn(spark, sf_dir).toPandas()
    assert list(got["event_type"]) == sorted(by)
    for _, row in got.iterrows():
        evs = sorted(by[row["event_type"]])
        gaps = [evs[i + 1][2] - evs[i][2] for i in range(len(evs) - 1)]
        n, s, q = len(gaps), sum(gaps), sum(g * g for g in gaps)
        assert int(row["n_gaps"]) == n
        assert int(row["mean_gap_milli"]) == _halfup_int(1000 * s, n)
        if s > 0:
            assert int(row["length_biased_mean_milli"]) == _halfup_int(1000 * q, s)
            want_ratio = _halfup_int(10**6 * n * q, s * s)
            assert int(row["paradox_ratio_micro"]) == want_ratio
            # float anchors: ratio = 1 + CV^2 >= 1 (Cauchy-Schwarz)
            assert want_ratio >= 10**6 - 1
            mean = s / n
            cv2 = (q / n - mean * mean) / (mean * mean)
            assert abs(want_ratio / 1e6 - (1 + cv2)) < 1e-4
