"""Round-13 batch Q gate (``operators/roundthirteen2.py``): raw-frame
oracle parity at sf0.001, plan bars, and Python replicas with float
anchors.
"""

from __future__ import annotations

import math
from collections import Counter, defaultdict

import pytest

from mysql_public_data_ingestor_spark.operators.daily_change import MASE_SEASON, MOSUM_H
from mysql_public_data_ingestor_spark.operators.daily_hypothesis import ML_LAGS
from mysql_public_data_ingestor_spark.registry import all_queries
from mysql_public_data_ingestor_spark.tables import Tables
from tools.check_correctness import compare, duck_connection

# The queries this gate covers, by name, so its test ids stay fixed: the
# daily-series queries ``operators/roundthirteen2.py`` registered before
# they moved to ``operators/daily_*.py``.
NAMES = (
    "events_mase_seasonal_naive",
    "events_mosum_changepoint",
    "stats_mcleod_li_daily",
    "stats_poisson_deviance_dow",
    "stats_seasonal_sen_slope",
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
        assert name not in seen
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


def _fn(name):
    return all_queries()[name].fn


def _daily(spark, sf_dir):
    pdf = Tables(spark, sf_dir).orders.select("o_orderdate").toPandas()
    acc = defaultdict(int)
    for v in pdf["o_orderdate"]:
        acc[v.date() if hasattr(v, "date") else v] += 1
    return sorted(acc.items())


def test_mosum_matches_python(spark, sf_dir):
    days = _daily(spark, sf_dir)
    ys = [y for _, y in days]
    m = len(ys)
    sy = sum(ys)
    syy = sum(y * y for y in ys)
    h = MOSUM_H
    v = m * syy - sy * sy
    best = None
    for k in range(1, m - h + 1):  # window covers k+1 .. k+h
        sw = sum(ys[k : k + h])
        d = m * sw - h * sy
        key = (d * d, -k)
        if best is None or key > best[0]:
            best = (key, k, d)
    _, bk, bd = best
    got = _fn("events_mosum_changepoint")(spark, sf_dir).toPandas().iloc[0]
    assert int(got["n_days"]) == m
    assert int(got["bandwidth"]) == h
    assert int(got["argmax_k"]) == bk
    assert str(got["window_start_day"])[:10] == str(days[bk - 1][0])
    want = _halfup_int(10**6 * bd * bd, 2 * h * v)
    assert int(got["mosum_m_sq_micro"]) == want
    # float anchor
    ybar = sy / m
    sig2 = syy / m - ybar * ybar
    sw = sum(ys[bk : bk + h])
    m2 = (sw - h * ybar) ** 2 / (2 * h * sig2)
    assert abs(want / 1e6 - m2) < 1e-3 * max(1.0, m2)


def _bp_resid_py(days):
    from mysql_public_data_ingestor_spark.operators.daily import BP_RES_SCALE

    ys = [y for _, y in days]
    n = len(ys)
    ks = list(range(1, n + 1))
    sk = sum(ks)
    skk = sum(k * k for k in ks)
    sy = sum(ys)
    sky = sum(k * y for k, y in zip(ks, ys))
    d = n * skk - sk * sk
    bcoef = n * sky - sk * sy
    return [
        _halfup_int(
            BP_RES_SCALE * (n * d * y - d * sy + bcoef * sk - n * bcoef * k), n * d
        )
        for k, y in zip(ks, ys)
    ]


def test_mcleod_li_matches_python(spark, sf_dir):
    days = _daily(spark, sf_dir)
    us = _bp_resid_py(days)
    zs = [u * u for u in us]
    n = len(zs)
    sz = sum(zs)
    zeta = [n * z - sz for z in zs]
    c0 = sum(c * c for c in zeta)
    got = (
        _fn("stats_mcleod_li_daily")(spark, sf_dir).toPandas().set_index("lag")
    )
    q_total = 0
    r2us = {}
    for lag in range(1, ML_LAGS + 1):
        cl = sum(zeta[i] * zeta[i + lag] for i in range(n - lag))
        rd = float(cl) / float(c0)
        r2u = int((rd * rd * 1000000.0 + 0.5) // 1)
        r2us[lag] = (r2u, -1 if cl < 0 else 1)
        q_total += _halfup_int(n * (n + 2) * r2u, n - lag)
    for lag in range(1, ML_LAGS + 1):
        row = got.loc[lag]
        r2u, sign = r2us[lag]
        assert int(row["acf_sq_signed_micro"]) == sign * r2u
        assert int(row["n_days"]) == n
        assert int(row["mcleod_li_q_micro"]) == q_total
    # float anchor: Ljung-Box on squared residuals via plain floats
    mz = sz / n
    c0f = sum((z - mz) ** 2 for z in zs)
    qf = 0.0
    for lag in range(1, ML_LAGS + 1):
        clf = sum((zs[i] - mz) * (zs[i + lag] - mz) for i in range(n - lag))
        qf += n * (n + 2) * (clf / c0f) ** 2 / (n - lag)
    assert abs(q_total / 1e6 - qf) < 1e-2 * max(1.0, qf)


def test_mase_matches_python(spark, sf_dir):
    ys = [y for _, y in _daily(spark, sf_dir)]
    s = MASE_SEASON
    e1 = e7 = cnt = 0
    for i in range(s, len(ys)):
        e1 += abs(ys[i] - ys[i - 1])
        e7 += abs(ys[i] - ys[i - s])
        cnt += 1
    got = _fn("events_mase_seasonal_naive")(spark, sf_dir).toPandas().iloc[0]
    assert int(got["n_eval_days"]) == cnt
    assert int(got["abs_err_naive_sum"]) == e1
    assert int(got["abs_err_seasonal_sum"]) == e7
    assert int(got["mase_micro"]) == _halfup_int(10**6 * e7, e1)
    # float anchor: the MASE ratio
    assert abs(int(got["mase_micro"]) / 1e6 - (e7 / cnt) / (e1 / cnt)) < 1e-5


def test_poisson_deviance_matches_python(spark, sf_dir):
    from mysql_public_data_ingestor_spark.functions.detmath import ref_det_ln_q

    days = _daily(spark, sf_dir)
    by_dow = defaultdict(lambda: [0, 0])
    rows = []
    for day, y in days:
        dow = day.isoweekday()
        by_dow[dow][0] += 1
        by_dow[dow][1] += y
        rows.append((dow, y))
    half = 0
    for dow, y in rows:
        n_d, s_d = by_dow[dow]
        if y > 0 and s_d > 0:
            half += y * ref_det_ln_q(y * n_d / s_d)
    got = _fn("stats_poisson_deviance_dow")(spark, sf_dir).toPandas().iloc[0]
    assert int(got["n_days"]) == len(days)
    assert int(got["n_dow"]) == len(by_dow)
    assert int(got["deviance_micro"]) == 2 * half
    # float anchor: textbook Poisson deviance (second term is exactly 0)
    dev_f = 0.0
    for dow, y in rows:
        n_d, s_d = by_dow[dow]
        mu = s_d / n_d
        if y > 0:
            dev_f += 2 * (y * math.log(y / mu) - (y - mu))
    # residual -(y-mu) terms cancel per group: sum exactly 0
    assert abs(2 * half / 1e6 - dev_f) < 1e-2 * max(1.0, dev_f)
    assert 2 * half >= 0 or abs(2 * half) < 10**6  # deviance ~ nonnegative


def test_seasonal_sen_matches_python(spark, sf_dir):
    days = _daily(spark, sf_dir)
    by_dow = defaultdict(list)
    for day, y in days:
        by_dow[day.isoweekday()].append(y)
    slopes_all = []
    per_dow = {}
    for dow, ys in by_dow.items():
        sl = []
        for i in range(len(ys)):
            for j in range(i + 1, len(ys)):
                sl.append(_halfup_int(10**4 * (ys[j] - ys[i]), j - i))
        per_dow[dow] = sl
        slopes_all.extend(sl)

    def med_disc(vals):
        vals = sorted(vals)
        return vals[(len(vals) - 1) // 2]

    got = (
        _fn("stats_seasonal_sen_slope")(spark, sf_dir).toPandas().set_index("dow")
    )
    assert set(int(i) for i in got.index) == set(per_dow) | {0}
    for dow, sl in per_dow.items():
        row = got.loc[dow]
        assert int(row["n_pairs"]) == len(sl)
        assert abs(float(row["sen_slope_per_week_pos"]) - med_disc(sl) / 1e4) < 1e-9
    row = got.loc[0]
    assert int(row["n_pairs"]) == len(slopes_all)
    assert (
        abs(float(row["sen_slope_per_week_pos"]) - med_disc(slopes_all) / 1e4)
        < 1e-9
    )
