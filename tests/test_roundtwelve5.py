"""Round-12 batch J gate (``operators/roundtwelve5.py``): raw-frame
oracle parity, plan bars, and Python replicas with float anchors.
"""

from __future__ import annotations

from collections import Counter, defaultdict

import pytest

from mysql_public_data_ingestor_spark.operators import daily, daily_hypothesis
from mysql_public_data_ingestor_spark.operators import roundtwelve5 as r125
from mysql_public_data_ingestor_spark.registry import all_queries
from mysql_public_data_ingestor_spark.tables import Tables
from tools.check_correctness import compare, duck_connection

# The queries this gate covers, by name, so its test ids stay fixed: the
# module's own queries plus the daily-series queries it registered before
# they moved to ``operators/daily_*.py``.
NAMES = (
    "dq_category_drift_halves",
    "privacy_attribute_inference_baseline",
    "stats_kpss_level_trend_daily",
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


def _spec(name):
    spec = all_queries()[name]
    return spec.fn, spec.oracle


@pytest.mark.parametrize("name", [n for n, *_ in QUERIES])
def test_query_matches_oracle(spark, sf_dir, name):
    fn, oracle = _spec(name)
    sdf = fn(spark, sf_dir).toPandas()
    con = duck_connection(sf_dir)
    try:
        odf = con.execute(oracle).fetchdf()
    finally:
        con.close()
    problems = compare(name, sdf, odf)
    assert not problems, f"{name}: {problems}"


def test_queue_plan_bars(spark, sf_dir):
    from mysql_public_data_ingestor_spark.plans import assert_no_cartesian

    for name, fn, *_ in QUERIES:
        assert_no_cartesian(fn(spark, sf_dir))


# ---------------------------------------------------------------------------
# replicas
# ---------------------------------------------------------------------------


def test_kpss_matches_python(spark, sf_dir):
    fn, _ = _spec("stats_kpss_level_trend_daily")
    got = fn(spark, sf_dir).toPandas().iloc[0]
    pdf = Tables(spark, sf_dir).orders.select("o_orderdate").toPandas()
    acc: dict = defaultdict(int)
    for v in pdf["o_orderdate"]:
        acc[v.date() if hasattr(v, "date") else v] += 1
    ys = [y for _, y in sorted(acc.items())]
    n = len(ys)
    q = daily_hypothesis.KPSS_LAGS
    s = sum(ys)

    def kpss_scaled(series):
        # series: exact integer "residual" values; returns (ss2, v)
        sp = []
        run = 0
        for e in series:
            run += e
            sp.append(run)
        ss2 = sum(x * x for x in sp)
        v = (q + 1) * sum(e * e for e in series)
        for l in range(1, q + 1):
            v += 2 * (q + 1 - l) * sum(
                series[i] * series[i - l] for i in range(l, len(series))
            )
        return ss2, v

    # level form: e' = n y - S
    lvl = [n * y - s for y in ys]
    ss2_l, v_l = kpss_scaled(lvl)
    # trend form: centi residuals off exact OLS numerators
    ks = list(range(1, n + 1))
    sk, skk = sum(ks), sum(k * k for k in ks)
    sky = sum(k * y for k, y in zip(ks, ys))
    d = n * skk - sk * sk
    b = n * sky - sk * s
    us = [
        _halfup_int(
            daily.KPSS_RES_SCALE * (n * d * y - d * s + b * sk - n * b * k), n * d
        )
        for k, y in zip(ks, ys)
    ]
    ss2_t, v_t = kpss_scaled(us)
    assert int(got["n_days"]) == n
    assert int(got["kpss_level_micro"]) == _halfup_int(
        10**6 * (q + 1) * ss2_l, n * v_l
    )
    assert int(got["kpss_trend_micro"]) == _halfup_int(
        10**6 * (q + 1) * ss2_t, n * v_t
    )
    # float anchor: the textbook KPSS formula on float residuals
    mean = s / n
    e_f = [y - mean for y in ys]

    def kpss_float(series):
        sp = []
        run = 0.0
        for e in series:
            run += e
            sp.append(run)
        num = sum(x * x for x in sp) / (n * n)
        lrv = sum(e * e for e in series) / n
        for l in range(1, q + 1):
            g = sum(series[i] * series[i - l] for i in range(l, len(series))) / n
            lrv += 2 * (1 - l / (q + 1)) * g
        return num / lrv

    eta_l = kpss_float(e_f)
    assert abs(int(got["kpss_level_micro"]) / 1e6 - eta_l) < max(2e-3, 1e-3 * eta_l)
    beta = b / d
    alpha = mean - beta * sk / n
    e_t = [y - alpha - beta * k for k, y in zip(ks, ys)]
    eta_t = kpss_float(e_t)
    assert abs(int(got["kpss_trend_micro"]) / 1e6 - eta_t) < max(2e-3, 1e-2 * eta_t)
    # detrending removes variance, so the trend statistic cannot exceed
    # the level one by more than quantization
    assert int(got["kpss_trend_micro"]) <= int(got["kpss_level_micro"]) + 1000


def test_attribute_inference_matches_python(spark, sf_dir):
    fn, _ = _spec("privacy_attribute_inference_baseline")
    got = fn(spark, sf_dir).toPandas().iloc[0]
    cust = (
        Tables(spark, sf_dir)
        .customer.select("c_nationkey", "c_acctbal", "c_mktsegment")
        .toPandas()
    )
    cells: Counter = Counter()
    for r in cust.itertuples():
        import math

        band = int(math.floor(r.c_acctbal / 1000))
        cells[(int(r.c_nationkey), band, r.c_mktsegment)] += 1
    per_cell: dict = defaultdict(list)
    for (nat, band, sens), c in cells.items():
        per_cell[(nat, band)].append(c)
    n = sum(cells.values())
    hits = sum(max(v) for v in per_cell.values())
    marg = Counter()
    for (nat, band, sens), c in cells.items():
        marg[sens] += c
    gmaj = max(marg.values())
    assert int(got["n_cells"]) == len(per_cell)
    assert int(got["n_records"]) == n
    assert int(got["attacker_acc_micro"]) == _halfup_int(10**6 * hits, n)
    assert int(got["marginal_acc_micro"]) == _halfup_int(10**6 * gmaj, n)
    assert int(got["inference_lift_micro"]) == _halfup_int(
        10**6 * (hits - gmaj), n - gmaj
    )
    # float anchors: the attacker can only gain from conditioning, and
    # the lift is the Goodman-Kruskal lambda
    assert hits >= gmaj
    lam = (hits - gmaj) / (n - gmaj)
    assert abs(int(got["inference_lift_micro"]) / 1e6 - lam) < 1e-5
    assert 0.0 <= lam <= 1.0


def test_category_drift_matches_python(spark, sf_dir):
    fn, _ = _spec("dq_category_drift_halves")
    got = fn(spark, sf_dir).toPandas().sort_values("column_name").reset_index(drop=True)
    t = Tables(spark, sf_dir)

    def halves(values, orders):
        mid2 = min(orders) + max(orders)
        first = {v for v, o in zip(values, orders) if o * 2 <= mid2}
        second = {v for v, o in zip(values, orders) if o * 2 > mid2}
        return first, second

    ev = t.events.select("event_type", "ts").toPandas()
    doc = t.documents.select("source", "doc_id").toPandas()
    orders = t.orders.select("o_orderpriority", "o_orderdate").toPandas()
    data = {
        "events.event_type": halves(
            list(ev["event_type"]), [int(x.value // 1000) for x in ev["ts"]]
        ),
        "documents.source": halves(list(doc["source"]), [int(x) for x in doc["doc_id"]]),
        "orders.o_orderpriority": halves(
            list(orders["o_orderpriority"]),
            # pandas treats naive Timestamps as UTC in .timestamp(),
            # matching the session-UTC unix_seconds on the Spark side
            [int(x.timestamp()) for x in orders["o_orderdate"]],
        ),
    }
    assert list(got["column_name"]) == sorted(data)
    for row in got.itertuples():
        first, second = data[row.column_name]
        new = second - first
        vanished = first - second
        assert int(row.n_cats_first) == len(first)
        assert int(row.n_cats_second) == len(second)
        assert int(row.n_new) == len(new)
        assert int(row.n_vanished) == len(vanished)
        inter = len(first & second)
        union = len(first | second)
        exp = _halfup_int(10**6 * 2 * inter, 2 * union)
        assert int(row.jaccard_micro) == exp
        # float anchor: the 2I/2U identity equals the direct Jaccard
        assert abs(exp / 1e6 - inter / union) < 1e-5
