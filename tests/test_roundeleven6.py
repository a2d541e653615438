"""Round-11 direct batch E gate (``operators/roundeleven6.py``):
raw-frame oracle parity, plan bars, and an independent Python replica
per operator.
"""

from __future__ import annotations

import math
from collections import Counter, defaultdict

import pytest

from mysql_public_data_ingestor_spark.operators import graph_paths
from mysql_public_data_ingestor_spark.tables import Tables
from tools.check_correctness import compare, duck_connection

NAMES = [
    "events_stl_dow_decomposition",
    "graph_eccentricity_profile_seeds",
    "events_weekend_effect_did",
    "stats_chi2_dow_hour_independence",
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


def _daily_counts(spark, sf_dir):
    pdf = Tables(spark, sf_dir).orders.select("o_orderdate").toPandas()
    acc: dict = defaultdict(int)
    for r in pdf.itertuples():
        d = r.o_orderdate.date() if hasattr(r.o_orderdate, "date") else r.o_orderdate
        acc[d] += 1
    return sorted(acc.items())


def test_stl_matches_python(spark, sf_dir):
    got = _q("events_stl_dow_decomposition", spark, sf_dir).sort_values("dow")
    days = _daily_counts(spark, sf_dir)
    n = len(days)
    det = []
    for k in range(4, n - 2):  # 1-based ranks 4..n-3
        i = k - 1
        s7 = sum(y for _, y in days[i - 3 : i + 4])
        d = _halfup_int(10**6 * (7 * days[i][1] - s7), 7)
        det.append((days[i][0].isoweekday(), d))
    per: dict = defaultdict(list)
    for dow, d in det:
        per[dow].append(d)
    seas = {dow: _halfup_int(sum(ds), len(ds)) for dow, ds in per.items()}
    rem = [(d - seas[dow]) for dow, d in det]
    ds = [d for _, d in det]
    m = len(ds)
    vd = m * sum(x * x for x in ds) - sum(ds) ** 2
    vr = m * sum(x * x for x in rem) - sum(rem) ** 2
    strength = _halfup_int(10**6 * (vd - vr), vd)
    assert list(got["dow"]) == sorted(per)
    for r in got.itertuples():
        assert int(r.n_days) == len(per[int(r.dow)])
        assert int(r.seasonal_micro) == seas[int(r.dow)]
        assert int(r.seasonal_strength_micro) == strength
    assert 0 <= strength <= 10**6
    # seasonal indices of a detrended series roughly cancel
    tot = sum(len(per[d]) * seas[d] for d in per)
    assert abs(tot) < 10**6 * m  # mean |seasonal| < 1 count unit on average


def test_eccentricity_matches_python(spark, sf_dir):
    got = _q("graph_eccentricity_profile_seeds", spark, sf_dir).sort_values("seed_part")
    li = (
        Tables(spark, sf_dir)
        .lineitem.select("l_orderkey", "l_partkey")
        .distinct()
        .toPandas()
    )
    by_order: dict = defaultdict(set)
    for r in li.itertuples():
        by_order[r.l_orderkey].add(int(r.l_partkey))
    adj: dict = defaultdict(set)
    for parts in by_order.values():
        ps = sorted(parts)
        for i, a in enumerate(ps):
            for b in ps[i + 1 :]:
                adj[a].add(b)
                adj[b].add(a)
    n_nodes = len(adj)
    for r in got.itertuples():
        seed = int(r.seed_part)
        seen = {seed}
        frontier = {seed}
        sizes = []
        for _ in range(graph_paths.ECC_DEPTH):
            nxt = set()
            for u in frontier:
                nxt |= adj[u]
            nxt -= seen
            sizes.append(len(nxt))
            seen |= nxt
            frontier = nxt
        assert [int(r.n1), int(r.n2), int(r.n3), int(r.n4)] == sizes
        assert int(r.reach) == sum(sizes)
        ecc = max((i + 1 for i, s in enumerate(sizes) if s > 0), default=0)
        assert int(r.ecc_capped) == ecc
        assert bool(r.covers_component) == (sum(sizes) + 1 >= n_nodes)


def test_did_matches_python(spark, sf_dir):
    got = _q("events_weekend_effect_did", spark, sf_dir)
    days = _daily_counts(spark, sf_dir)
    n = len(days)
    cells: dict = defaultdict(list)
    for k, (d, y) in enumerate(days, start=1):
        period = 0 if 2 * k <= n else 1
        weekend = 1 if d.isoweekday() >= 6 else 0
        cells[(period, weekend)].append(y)
    mean_m = {}
    sem2 = {}
    for key, ys in cells.items():
        nd, s, q = len(ys), sum(ys), sum(y * y for y in ys)
        mean_m[key] = _halfup_int(10**6 * s, nd)
        sem2[key] = _halfup_int(10**6 * (nd * q - s * s), nd * nd * (nd - 1))
    d_micro = mean_m[(1, 1)] - mean_m[(1, 0)] - mean_m[(0, 1)] + mean_m[(0, 0)]
    se2 = sum(sem2.values())
    tsq = _halfup_int(d_micro * d_micro, se2)
    assert len(got) == 4
    for r in got.itertuples():
        key = (int(r.period), int(r.weekend))
        assert int(r.n_days) == len(cells[key])
        assert r.mean_daily == mean_m[key] / 1e6
        assert r.did_estimate == d_micro / 1e6
        assert r.did_t_sq_signed == (tsq / 1e6) * (-1 if d_micro < 0 else 1)

    # float anchor for the DID contrast (the TOST-class check: multi-
    # stage quantization must track the plain-float pipeline)
    fm = {k: sum(v) / len(v) for k, v in cells.items()}
    d_float = fm[(1, 1)] - fm[(1, 0)] - fm[(0, 1)] + fm[(0, 0)]
    assert abs(d_micro / 1e6 - d_float) < 1e-3 * max(1.0, abs(d_float))


def test_dow_hour_chi2_matches_python(spark, sf_dir):
    got = _q("stats_chi2_dow_hour_independence", spark, sf_dir)
    ev = Tables(spark, sf_dir).events.select("ts").toPandas()
    cells = Counter()
    for ts in ev["ts"]:
        cells[(ts.isoweekday(), ts.hour)] += 1
    rows = Counter()
    cols = Counter()
    for (d, h), o in cells.items():
        rows[d] += o
        cols[h] += o
    n = sum(cells.values())
    assert len(got) == len(cells)
    chi2 = 0
    for r in got.itertuples():
        key = (int(r.dow), int(r.hr))
        o = cells[key]
        assert int(r.n_events) == o
        diff = n * o - rows[key[0]] * cols[key[1]]
        exp = _halfup_int(10**6 * diff * diff, n * rows[key[0]] * cols[key[1]])
        assert int(r.chi2_contrib_micro) == exp
        chi2 += exp
    # float anchor on the total statistic
    chi2_f = sum(
        (o - rows[d] * cols[h] / n) ** 2 / (rows[d] * cols[h] / n)
        for (d, h), o in cells.items()
    )
    assert abs(chi2 / 1e6 - chi2_f) < 1e-2 * max(1.0, chi2_f)
