"""Round-14 batch 2 gate (``operators/roundfourteen2.py``): raw-frame
oracle parity, plan bars, and independent Python replicas with float
anchors for the four ops (Otsu threshold, quantile shift function,
nation rank stability, Count-Min error profile).
"""

from __future__ import annotations

import math
from collections import Counter, defaultdict

import pytest

from mysql_public_data_ingestor_spark.operators import stats_rank
from mysql_public_data_ingestor_spark.registry import all_queries
from mysql_public_data_ingestor_spark.tables import Tables
from tools.check_correctness import compare, duck_connection

# The queries this gate covers, by name, so its test ids stay fixed: the
# module's own queries plus the daily-series queries it registered before
# they moved to ``operators/daily_*.py``.
NAMES = (
    "events_otsu_threshold_daily",
    "sketch_countmin_error_profile",
    "stats_nation_rank_stability_tau",
    "stats_quantile_shift_function",
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
def test_queue_plan_bars(spark, sf_dir, entry):
    from mysql_public_data_ingestor_spark.plans import assert_no_cartesian

    _name, fn, _oracle, _doc = entry
    assert_no_cartesian(fn(spark, sf_dir))


def _q(name):
    return all_queries()[name].fn


# ---------------------------------------------------------------------------
# replicas
# ---------------------------------------------------------------------------


def test_otsu_matches_python(spark, sf_dir):
    pdf = Tables(spark, sf_dir).orders.select("o_orderdate").toPandas()
    daily = Counter(d for d in pdf["o_orderdate"])
    vals = Counter(daily.values())
    n = sum(vals.values())
    s = sum(v * c for v, c in vals.items())
    s2 = sum(v * v * c for v, c in vals.items())
    vt = n * s2 - s * s
    best = None
    n0 = s0 = 0
    for v in sorted(vals):
        n0 += vals[v]
        s0 += v * vals[v]
        n1 = n - n0
        if n0 > 0 and n1 > 0 and vt > 0:
            d = s0 * n - s * n0
            eta = _halfup_int(10**6 * d * d, n0 * n1 * vt)
            if best is None or eta > best[1] or (eta == best[1] and v < best[0]):
                best = (v, eta, n0, n1)
    got = _q("events_otsu_threshold_daily")(spark, sf_dir).toPandas().iloc[0]
    assert int(got["n_days"]) == n
    assert int(got["best_threshold"]) == best[0]
    assert int(got["n_low_days"]) == best[2]
    assert int(got["n_high_days"]) == best[3]
    assert int(got["eta_micro"]) == best[1]
    # float anchor: Otsu effectiveness eta in [0, 1]
    assert 0 <= best[1] <= 10**6


def test_quantile_shift_matches_python(spark, sf_dir):
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
    vals = sorted(set(a) | set(r))

    def quant(cnt, n, p):
        cum = 0
        for v in vals:
            cum += cnt[v]
            if 100 * cum >= p * n:
                return v
        return vals[-1]

    got = _q("stats_quantile_shift_function")(spark, sf_dir).toPandas()
    assert list(got["pct"]) == list(stats_rank.SHIFT_PCTS)
    for _, row in got.iterrows():
        p = int(row["pct"])
        qa = quant(a, na, p)
        qr = quant(r, nr, p)
        assert int(row["q_a"]) == qa
        assert int(row["q_r"]) == qr
        assert int(row["shift"]) == qr - qa
    # quantiles are non-decreasing in p
    assert list(got["q_a"]) == sorted(got["q_a"])
    assert list(got["q_r"]) == sorted(got["q_r"])


def test_rank_stability_matches_python(spark, sf_dir):
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
    od = t.orders.select("o_custkey", "o_orderdate", "o_totalprice").toPandas()
    y1 = max(d.year for d in od["o_orderdate"])
    rev = defaultdict(lambda: [0, 0])  # nation -> [rev(y1-1), rev(y1)]
    seen = defaultdict(set)
    for ck, d, tp in zip(od["o_custkey"], od["o_orderdate"], od["o_totalprice"]):
        if d.year not in (y1, y1 - 1):
            continue
        nat = nn[cn[int(ck)]]
        rev[nat][1 if d.year == y1 else 0] += int(
            math.floor(float(tp) * 100.0 + 0.5)
        )
        seen[nat].add(d.year)
    # the op inner-joins nations that have rev rows in BOTH years
    wide = {k: v for k, v in rev.items() if len(seen[k]) == 2}
    nats = sorted(wide)
    conc = disc = tx = ty = n0 = 0
    for i in range(len(nats)):
        for j in range(i + 1, len(nats)):
            x0, x1 = wide[nats[i]]
            z0, z1 = wide[nats[j]]
            n0 += 1
            if (x0 < z0 and x1 < z1) or (x0 > z0 and x1 > z1):
                conc += 1
            elif (x0 < z0 and x1 > z1) or (x0 > z0 and x1 < z1):
                disc += 1
            if x0 == z0:
                tx += 1
            if x1 == z1:
                ty += 1
    got = _q("stats_nation_rank_stability_tau")(spark, sf_dir).toPandas().iloc[0]
    assert int(got["year_a"]) == y1 - 1 and int(got["year_b"]) == y1
    assert int(got["n_nations"]) == len(nats)
    assert int(got["concordant"]) == conc
    assert int(got["discordant"]) == disc
    num = conc - disc
    dx, dy = n0 - tx, n0 - ty
    if dx > 0 and dy > 0:
        want = int(
            math.floor(
                abs(float(num)) * 1000000.0 / math.sqrt(float(dx) * float(dy))
                + 0.5
            )
        ) * (-1 if num < 0 else 1)
        assert int(got["tau_b_micro"]) == want
        # float anchor: tau-b in [-1, 1]
        assert -(10**6) <= want <= 10**6
        assert abs(want / 1e6 - num / math.sqrt(dx * dy)) < 1e-4


def test_cm_error_profile_matches_python(spark, sf_dir):
    from mysql_public_data_ingestor_spark.operators.sketches import CM_SEEDS, CM_W

    P = 2_147_483_647  # the shipped _uhash Mersenne prime (2^31 - 1)

    def uhash(x, a, b, w):
        return (((x % P) * a + b) % P) % w

    pdf = Tables(spark, sf_dir).events.select("user_id").toPandas()
    exact = Counter(int(u) for u in pdf["user_id"])
    cells = defaultdict(int)
    for u, c in exact.items():
        for j, (a, b) in enumerate(CM_SEEDS):
            cells[(j, uhash(u, a, b, CM_W))] += c
    ovs = []
    for u, c in exact.items():
        est = min(
            cells[(j, uhash(u, a, b, CM_W))] for j, (a, b) in enumerate(CM_SEEDS)
        )
        ovs.append(est - c)
    n = len(ovs)
    n_exact = sum(1 for o in ovs if o == 0)
    so = sum(ovs)
    mx = max(ovs)
    srt = sorted(ovs)
    cum = 0
    p90 = None
    for o in sorted(set(srt)):
        cum += sum(1 for x in srt if x == o)
        if 10 * cum >= 9 * n:
            p90 = o
            break
    got = _q("sketch_countmin_error_profile")(spark, sf_dir).toPandas().iloc[0]
    assert int(got["n_users"]) == n
    assert int(got["exact_ppm"]) == _halfup_int(10**6 * n_exact, n)
    assert int(got["mean_overcount_milli"]) == _halfup_int(1000 * so, n)
    assert int(got["p90_overcount"]) == p90
    assert int(got["max_overcount"]) == mx
    # CM guarantee: overcounts are never negative
    assert min(ovs) >= 0
    assert 0 <= p90 <= mx
