"""Round-12 direct batch L gate (``operators/roundtwelve7.py``):
raw-frame oracle parity, plan bars, and
independent Python replicas with float anchors for the six
time-series ops (STL-residual periodogram, turning points,
Foster–Stuart records, permutation entropy, max drawdown, ARCH LM).
"""

from __future__ import annotations

import math
from collections import Counter, defaultdict

import pytest

from mysql_public_data_ingestor_spark.tables import Tables
from tools.check_correctness import compare, duck_connection

NAMES = [
    "events_stl_residual_periodogram",
    "events_turning_points_daily",
    "events_records_foster_stuart",
    "events_permutation_entropy3",
    "events_cusum_max_drawdown",
    "stats_arch_lm_daily",
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


def _daily_counts(spark, sf_dir):
    pdf = Tables(spark, sf_dir).orders.select("o_orderdate").toPandas()
    acc: dict = defaultdict(int)
    for v in pdf["o_orderdate"]:
        acc[v.date() if hasattr(v, "date") else v] += 1
    return sorted(acc.items())  # [(day, y)] by day


def _stl_residuals_py(days):
    """Replica of the shared STL-lite remainder: 7-day centered MA
    detrend (full windows), micro-quantized, minus per-ISO-weekday
    half-up mean of the detrended values. Returns [(k, r)]."""
    n = len(days)
    ys = [y for _, y in days]
    det = []  # (k, dow, d)
    for i in range(3, n - 3):
        k = i + 1
        s7 = sum(ys[i - 3 : i + 4])
        d = _halfup_int(10**6 * (7 * ys[i] - s7), 7)
        dow = days[i][0].isoweekday()
        det.append((k, dow, d))
    by_dow = defaultdict(list)
    for _, dow, d in det:
        by_dow[dow].append(d)
    smicro = {dow: _halfup_int(sum(v), len(v)) for dow, v in by_dow.items()}
    return [(k, d - smicro[dow]) for k, dow, d in det]


def test_stl_residual_periodogram_matches_python(spark, sf_dir):
    from mysql_public_data_ingestor_spark.operators.daily_spectral import (
        PGRAM_COSQ,
        PGRAM_PERIODS,
        PGRAM_SINQ,
    )

    days = _daily_counts(spark, sf_dir)
    rem = _stl_residuals_py(days)
    m = len(rem)
    rb = _halfup_int(sum(r for _, r in rem), m)
    cent = [(k, r - rb) for k, r in rem]
    zrr = sum(z * z for _, z in cent)
    got = (
        _spec("events_stl_residual_periodogram")
        .fn(spark, sf_dir)
        .toPandas()
        .set_index("period")
    )
    assert list(got.index) == list(PGRAM_PERIODS)
    for p in PGRAM_PERIODS:
        sc = sum(z * PGRAM_COSQ[p][(k - 1) % p] for k, z in cent)
        ss = sum(z * PGRAM_SINQ[p][(k - 1) % p] for k, z in cent)
        num = 2 * (sc * sc + ss * ss)
        den = m * zrr * 10**6
        want = _halfup_int(10**6 * num, den) / 1e6
        row = got.loc[p]
        assert int(row["n_resid_days"]) == m
        assert abs(float(row["residual_variance_share"]) - want) < 1e-9
        # a variance share lives in [0, 1] (up to basis quantization)
        assert -1e-3 <= want <= 1.001
    # float anchor: shares computed with real trig within basis error
    for p in PGRAM_PERIODS:
        scf = sum(
            z * math.cos(2 * math.pi * ((k - 1) % p) / p) for k, z in cent
        )
        ssf = sum(
            z * math.sin(2 * math.pi * ((k - 1) % p) / p) for k, z in cent
        )
        share_f = 2 * (scf * scf + ssf * ssf) / (m * zrr)
        assert abs(float(got.loc[p]["residual_variance_share"]) - share_f) < 5e-3


def test_turning_points_matches_python(spark, sf_dir):
    ys = [y for _, y in _daily_counts(spark, sf_dir)]
    n = len(ys)
    t = sum(
        1
        for i in range(1, n - 1)
        if (ys[i] > ys[i - 1] and ys[i] > ys[i + 1])
        or (ys[i] < ys[i - 1] and ys[i] < ys[i + 1])
    )
    got = _spec("events_turning_points_daily").fn(spark, sf_dir).toPandas().iloc[0]
    assert int(got["n_days"]) == n
    assert int(got["n_turning"]) == t
    assert int(got["expected_micro"]) == _halfup_int(10**6 * 2 * (n - 2), 3)
    d = 3 * t - 2 * (n - 2)
    want = _halfup_int(10**7 * d * d, 16 * n - 29) * (-1 if d < 0 else 1)
    assert int(got["tp_z_sq_signed_micro"]) == want
    # float anchor: classic z statistic
    e = 2 * (n - 2) / 3.0
    v = (16 * n - 29) / 90.0
    z2 = (t - e) ** 2 / v
    assert abs(abs(want) / 1e6 - z2) < 1e-3 * max(1.0, z2)


def test_foster_stuart_matches_python(spark, sf_dir):
    ys = [y for _, y in _daily_counts(spark, sf_dir)]
    n = len(ys)
    u = l = 0
    for i in range(1, n):
        prefix = ys[:i]
        if ys[i] > max(prefix):
            u += 1
        if ys[i] < min(prefix):
            l += 1
    var_micro = 2 * sum(_halfup_int(10**6, i) for i in range(2, n + 1))
    got = _spec("events_records_foster_stuart").fn(spark, sf_dir).toPandas().iloc[0]
    assert int(got["n_days"]) == n
    assert (int(got["n_upper"]), int(got["n_lower"])) == (u, l)
    assert int(got["d_stat"]) == u - l
    assert int(got["s_stat"]) == u + l
    assert int(got["var_d_micro"]) == var_micro
    d = u - l
    want = _halfup_int(10**12 * d * d, var_micro) * (-1 if d < 0 else 1)
    assert int(got["fs_z_sq_signed_micro"]) == want
    # float anchor: harmonic variance
    var_f = 2 * sum(1.0 / i for i in range(2, n + 1))
    assert abs(var_micro / 1e6 - var_f) < 1e-3


def _pattern_code(y0, y1, y2):
    r0 = (1 if y1 < y0 else 0) + (1 if y2 < y0 else 0)
    r1 = (1 if y0 <= y1 else 0) + (1 if y2 < y1 else 0)
    r2 = (1 if y0 <= y2 else 0) + (1 if y1 <= y2 else 0)
    return 100 * r0 + 10 * r1 + r2


def test_permutation_entropy_matches_python(spark, sf_dir):
    from mysql_public_data_ingestor_spark.functions.detmath import ref_det_ln_q
    from mysql_public_data_ingestor_spark.operators.daily_spectral import LN_6_MICRO

    assert ref_det_ln_q(6.0) == LN_6_MICRO
    ys = [y for _, y in _daily_counts(spark, sf_dir)]
    codes = Counter(
        _pattern_code(ys[i], ys[i + 1], ys[i + 2]) for i in range(len(ys) - 2)
    )
    # every code is a valid permutation rank triple (ranks 0..2 distinct)
    for c in codes:
        digits = sorted((c // 100, (c // 10) % 10, c % 10))
        assert digits == [0, 1, 2], c
    m = sum(codes.values())
    w = sum(c * ref_det_ln_q(m / c) for c in codes.values())
    got = (
        _spec("events_permutation_entropy3")
        .fn(spark, sf_dir)
        .toPandas()
        .set_index("pattern_code")
    )
    assert set(got.index) == set(codes)
    for code, c in codes.items():
        row = got.loc[code]
        assert int(row["n_triples"]) == c
        assert int(row["share_micro"]) == _halfup_int(10**6 * c, m)
        assert int(row["perm_entropy_micro"]) == _halfup_int(w, m)
        assert int(row["perm_entropy_norm_micro"]) == _halfup_int(
            10**6 * w, m * LN_6_MICRO
        )
    # float anchor: plain Shannon entropy over pattern shares
    h = -sum((c / m) * math.log(c / m) for c in codes.values())
    assert abs(_halfup_int(w, m) / 1e6 - h) < 1e-4
    norm = h / math.log(6)
    assert abs(_halfup_int(10**6 * w, m * LN_6_MICRO) / 1e6 - norm) < 1e-4
    assert 0 <= norm <= 1


def test_max_drawdown_matches_python(spark, sf_dir):
    days = _daily_counts(spark, sf_dir)
    m = len(days)
    sy = sum(y for _, y in days)
    s = 0
    path = []
    for k, (day, y) in enumerate(days, start=1):
        s += m * y - sy
        path.append((k, day, s))
    peak = -(10**30)
    peak_k = {}
    peaks = []
    for k, day, sv in path:
        if sv > peak:
            peak = sv
        peaks.append(peak)
    maxdd = max(p - sv for (k, day, sv), p in zip(path, peaks))
    trough_k, trough_day, tpeak = next(
        (k, day, p)
        for (k, day, sv), p in zip(path, peaks)
        if p - sv == maxdd
    )
    pk, peak_day = next(
        (k, day) for k, day, sv in path if k <= trough_k and sv == tpeak
    )
    got = _spec("events_cusum_max_drawdown").fn(spark, sf_dir).toPandas().iloc[0]
    assert int(got["n_days"]) == m
    assert int(got["max_drawdown_orders_micro"]) == _halfup_int(10**6 * maxdd, m)
    assert str(got["peak_day"])[:10] == str(peak_day)
    assert str(got["trough_day"])[:10] == str(trough_day)
    assert int(got["drawdown_days"]) == trough_k - pk
    assert maxdd >= 0 and trough_k >= pk


def test_arch_lm_matches_python(spark, sf_dir):
    from mysql_public_data_ingestor_spark.operators.daily import BP_RES_SCALE

    days = _daily_counts(spark, sf_dir)
    n = len(days)
    ys = [y for _, y in days]
    ks = list(range(1, n + 1))
    sk = sum(ks)
    skk = sum(k * k for k in ks)
    syy = sum(ys)
    sky = sum(k * y for k, y in zip(ks, ys))
    d = n * skk - sk * sk
    bcoef = n * sky - sk * syy
    us = [
        _halfup_int(
            BP_RES_SCALE * (n * d * y - d * syy + bcoef * sk - n * bcoef * k), n * d
        )
        for k, y in zip(ks, ys)
    ]
    zs = [u * u for u in us]
    xs, ysq = zs[:-1], zs[1:]
    np_ = len(xs)
    sx, sy_ = sum(xs), sum(ysq)
    sxx = sum(x * x for x in xs)
    syy2 = sum(y * y for y in ysq)
    sxy = sum(x * y for x, y in zip(xs, ysq))
    vx = np_ * sxx - sx * sx
    vy = np_ * syy2 - sy_ * sy_
    cxy = np_ * sxy - sx * sy_
    r2 = int((float(cxy) * float(cxy) * 1000000.0 / float(vx) / float(vy) + 0.5) // 1)
    got = _spec("stats_arch_lm_daily").fn(spark, sf_dir).toPandas().iloc[0]
    assert int(got["n_pairs"]) == np_
    assert int(got["arch_r2_micro"]) == r2
    assert int(got["arch_lm_micro"]) == np_ * r2
    # float anchor: textbook lag-1 autocorrelation R^2 of squared resids
    mx = sx / np_
    my = sy_ / np_
    cov = sum((x - mx) * (y - my) for x, y in zip(xs, ysq))
    vxf = sum((x - mx) ** 2 for x in xs)
    vyf = sum((y - my) ** 2 for y in ysq)
    r2f = cov * cov / (vxf * vyf)
    assert abs(r2 / 1e6 - r2f) < 1e-4
    assert 0 <= r2 <= 10**6
