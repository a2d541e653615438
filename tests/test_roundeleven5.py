"""Round-11 direct batch D gate (``operators/roundeleven5.py``):
raw-frame oracle parity, plan bars, and an independent Python replica
per operator.
"""

from __future__ import annotations

import hashlib
import math
import re
from collections import Counter, defaultdict

import pytest

from mysql_public_data_ingestor_spark.operators import roundeleven5 as r115
from mysql_public_data_ingestor_spark.tables import Tables
from tools.check_correctness import compare, duck_connection

NAMES = [
    "sketch_countmedian_topk_freq",
    "ml_roc_convex_hull",
    "dq_benford_first_two_digits",
    "privacy_geometric_mechanism_counts",
    "embedding_intrinsic_dim_twonn",
    "sketch_hll_registers_audit",
]

_P = r115._P


def _spec(name):
    from mysql_public_data_ingestor_spark import registry

    registry._ensure_loaded()
    return registry._REGISTRY[name]


def _q(name, spark, sf_dir):
    return _spec(name).fn(spark, sf_dir).toPandas()


def _halfup_int(num: int, den: int) -> int:
    mag = (2 * abs(num) + den) // (2 * den)
    return -mag if num < 0 else mag


def _sha_i64(s: str) -> int:
    return int(hashlib.sha256(s.encode()).hexdigest()[:15], 16)


def _uh(x: int, a: int, b: int, w: int) -> int:
    return (((x % _P) * a + b) % _P) % w


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


def test_countsketch_matches_python(spark, sf_dir):
    got = _q("sketch_countmedian_topk_freq", spark, sf_dir)
    ev = Tables(spark, sf_dir).events.select("user_id").toPandas()
    users = [int(u) for u in ev["user_id"]]
    counters: dict = defaultdict(int)
    for u in users:
        for i, (a, b, c, e) in enumerate(r115.CS_ROWS):
            sgn = 1 - 2 * _uh(u, c, e, 2)
            counters[(i, _uh(u, a, b, r115.CS_W))] += sgn
    exact = Counter(users)
    top = sorted(exact.items(), key=lambda kv: (-kv[1], kv[0]))[: r115.CS_TOP]
    assert len(got) == len(top)
    for row, (u, n) in zip(got.sort_values(
        ["exact_n", "user_id"], ascending=[False, True]
    ).itertuples(), top):
        ests = sorted(
            (1 - 2 * _uh(u, c, e, 2)) * counters[(i, _uh(u, a, b, r115.CS_W))]
            for i, (a, b, c, e) in enumerate(r115.CS_ROWS)
        )
        med = ests[(r115.CS_D + 1) // 2 - 1]
        assert int(row.user_id) == u and int(row.exact_n) == n
        assert int(row.est_n) == med
        assert int(row.abs_err) == abs(med - n)


def test_roc_hull_matches_python(spark, sf_dir):
    # replicate from the op's own binned points, then check hull
    # geometry independently (concavity + dominance)
    got = _q("ml_roc_convex_hull", spark, sf_dir).sort_values("fp_count")
    from mysql_public_data_ingestor_spark.operators.ml_scores import scored_labeled

    scored = scored_labeled(Tables(spark, sf_dir)).toPandas()
    bins: dict = defaultdict(lambda: [0, 0])
    for r in scored.itertuples():
        b = min(int(r.score_q) // 100, 100)
        bins[b][0] += int(r.label)
        bins[b][1] += 1 - int(r.label)
    pts0 = {}
    for t in range(0, 102):
        tp = sum(p for b, (p, _) in bins.items() if b >= t)
        fp = sum(n for b, (_, n) in bins.items() if b >= t)
        pts0[t] = (fp, tp)
    pts: dict = {}
    for fp, tp in pts0.values():
        pts[fp] = max(pts.get(fp, 0), tp)
    hull = []
    items = sorted(pts.items())
    for fi, ti in items:
        dominated = False
        for fj, tj in items:
            if fj > fi:
                continue
            for fk, tk in items:
                if fk < fi or fj >= fk:
                    continue
                if ti * (fk - fj) < tj * (fk - fi) + tk * (fi - fj):
                    dominated = True
                    break
            if dominated:
                break
        if not dominated:
            hull.append((fi, ti))
    p = sum(p for p, _ in bins.values())
    nn = sum(n for _, n in bins.values())
    assert [(int(r.fp_count), int(r.tp_count)) for r in got.itertuples()] == hull
    for r in got.itertuples():
        assert r.fpr == _halfup_int(10**6 * int(r.fp_count), nn) / 1e6
        assert r.tpr == _halfup_int(10**6 * int(r.tp_count), p) / 1e6
    # geometry: hull slopes are non-increasing (concave frontier)
    for (f1, t1), (f2, t2), (f3, t3) in zip(hull, hull[1:], hull[2:]):
        assert (t2 - t1) * (f3 - f2) >= (t3 - t2) * (f2 - f1)


def test_benford2_matches_python(spark, sf_dir):
    got = _q("dq_benford_first_two_digits", spark, sf_dir).sort_values("first_two")
    pdf = Tables(spark, sf_dir).orders.select("o_totalprice").dropna().toPandas()
    obs = Counter()
    n = 0
    for v in pdf["o_totalprice"]:
        cents = int(math.floor(v * 100 + 0.5))
        if cents >= 10:
            obs[int(str(cents)[:2])] += 1
            n += 1
    assert list(got["first_two"]) == list(range(10, 100))
    for r in got.itertuples():
        d = int(r.first_two)
        p = r115.F2D_P_MICRO[d]
        o = obs.get(d, 0)
        assert int(r.n_obs) == o
        assert int(r.expected_micro) == p
        diff = 10**6 * o - n * p
        assert int(r.chi2_contrib_micro) == _halfup_int(diff * diff, n * p * 10**6)
    # the expected table itself sums to ~1 (sanity on the literals)
    assert abs(sum(r115.F2D_P_MICRO.values()) - 10**6) <= 50


def test_geometric_matches_python(spark, sf_dir):
    from mysql_public_data_ingestor_spark.functions.detmath import ref_det_ln_fix

    got = _q("privacy_geometric_mechanism_counts", spark, sf_dir).sort_values(
        "event_type"
    )
    ev = Tables(spark, sf_dir).events.select("event_type").toPandas()
    counts = Counter(ev["event_type"])
    assert list(got["event_type"]) == sorted(counts)
    for r in got.itertuples():
        assert int(r.true_count) == counts[r.event_type]
        h = _uh(_sha_i64(r.event_type), r115.GEO_HASH_A, r115.GEO_HASH_B, _P)
        u01 = (h + 1.0) / (_P + 1.0)
        arg = 1.0 - 2.0 * abs(u01 - 0.5)
        # ref_det_ln_fix gives the fixed-point ln; det_ln_dbl = fix * c(0)
        lnv = ref_det_ln_fix(arg) * (math.log(2.0) / (1 << 30))
        mag = math.floor(-r115.GEO_INV_EPS * lnv)
        k = int(mag) if u01 - 0.5 >= 0 else -int(mag)
        assert int(r.noise_k) == k
        assert int(r.noisy_count) == counts[r.event_type] + k
        assert int(r.abs_err) == abs(k)


def test_twonn_matches_python(spark, sf_dir):
    from mysql_public_data_ingestor_spark.functions.detmath import ref_det_ln_q

    got = _q("embedding_intrinsic_dim_twonn", spark, sf_dir).iloc[0]
    emb = Tables(spark, sf_dir).embeddings.select("vec_id", "embedding").toPandas()
    vecs = {
        int(r.vec_id): [int(math.floor(float(x) * r115.TWONN_Q + 0.5)) for x in r.embedding]
        for r in emb.itertuples()
    }
    ids = sorted(vecs)
    anchors = [
        v for _, v in sorted((_sha_i64(str(v)), v) for v in ids)[: r115.TWONN_ANCHORS]
    ]
    s2ln = 0
    used = 0
    for a in anchors:
        ds = []
        for b in ids:
            if a == b:
                continue
            d = sum((x - y) ** 2 for x, y in zip(vecs[a], vecs[b]))
            if d > 0:
                ds.append(d)
        if not ds:
            continue
        d1 = min(ds)
        greater = [d for d in ds if d > d1]
        if not greater:
            continue
        d2 = min(greater)
        s2ln += ref_det_ln_q(d2) - ref_det_ln_q(d1)
        used += 1
    assert int(got["n_vecs"]) == len(ids)
    assert int(got["n_used"]) == used
    assert int(got["intrinsic_dim_micro"]) == _halfup_int(
        2 * 10**12 * used, s2ln
    )
    # numpy anchor: the exact-integer pipeline against the float TwoNN
    import numpy as np

    X = np.array([vecs[i] for i in ids], dtype=float)
    A = np.array([vecs[i] for i in anchors], dtype=float)
    d2m = ((A[:, None, :] - X[None, :, :]) ** 2).sum(-1)
    est_terms = []
    for i in range(len(anchors)):
        row = np.sort(d2m[i][d2m[i] > 0])
        if len(row) < 2 or row[0] == 0:
            continue
        greater = row[row > row[0]]
        if len(greater) == 0:
            continue
        est_terms.append(0.5 * (math.log(greater[0]) - math.log(row[0])))
    d_float = len(est_terms) / sum(est_terms)
    assert abs(got["intrinsic_dim_micro"] / 1e6 - d_float) < 1e-3 * max(1.0, d_float)


def test_hll_registers_matches_python(spark, sf_dir):
    from mysql_public_data_ingestor_spark.functions.detmath import ref_det_ln_fix

    got = _q("sketch_hll_registers_audit", spark, sf_dir).iloc[0]
    ev = Tables(spark, sf_dir).events.select("user_id").toPandas()
    users = {int(u) for u in ev["user_id"]}
    m, wb = r115.HLL_M, r115.HLL_W_BITS
    regs = [0] * m
    for u in users:
        hv = _sha_i64(str(u))
        reg = hv % m
        w = (hv // m) % (1 << wb)
        rho = wb + 1 if w == 0 else wb - (w.bit_length() - 1)
        regs[reg] = max(regs[reg], rho)
    denom_units = sum(1 << (wb + 1 - mj) for mj in regs)
    n_empty = sum(1 for mj in regs if mj == 0)
    raw = _halfup_int(
        r115.HLL_ALPHA_MICRO * m * m * (1 << (wb + 1)), 10**6 * denom_units
    )
    assert int(got["m_registers"]) == m
    assert int(got["exact_users"]) == len(users)
    assert int(got["n_empty"]) == n_empty
    assert int(got["max_reg"]) == max(regs)
    assert int(got["hll_raw_est"]) == raw
    if n_empty > 0:
        lnv = ref_det_ln_fix(m / n_empty) * (math.log(2.0) / (1 << 30))
        lc = int(math.floor(m * lnv + 0.5))
        assert int(got["linear_counting_est"]) == lc
        # small-range regime (n << m): linear counting is the accurate
        # estimator (raw HLL is known-biased there — the reason HLL
        # implementations switch on n_empty)
        if len(users) < m:
            assert abs(lc - len(users)) <= max(3, 0.2 * len(users))
    if len(users) > 3 * m:
        # large-range regime: the raw harmonic estimate applies
        assert 0.5 * len(users) < raw < 2.0 * len(users)
