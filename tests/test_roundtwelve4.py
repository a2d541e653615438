"""Round-12 batch I gate (``operators/roundtwelve4.py``): raw-frame
oracle parity, plan bars, and Python replicas with float anchors.
"""

from __future__ import annotations

import hashlib
from collections import Counter, defaultdict

import pytest

from mysql_public_data_ingestor_spark.operators import daily_hypothesis
from mysql_public_data_ingestor_spark.operators import roundtwelve4 as r124
from mysql_public_data_ingestor_spark.registry import all_queries
from mysql_public_data_ingestor_spark.tables import Tables
from tools.check_correctness import compare, duck_connection

# The queries this gate covers, by name, so its test ids stay fixed: the
# module's own queries plus the daily-series queries it registered before
# they moved to ``operators/daily_*.py``.
NAMES = (
    "corpus_source_mixture_drift",
    "ml_threshold_transfer_audit",
    "stats_cochrane_orcutt_trend",
    "stats_eb_beta_binomial_shrinkage",
)
# (name, fn, oracle, doc) of each
QUERIES = [
    (s.name, s.fn, s.oracle, s.doc) for s in (all_queries()[n] for n in NAMES)
]


def _halfup_int(num: int, den: int) -> int:
    mag = (2 * abs(num) + den) // (2 * den)
    return -mag if num < 0 else mag


def _sha_i64(s: str) -> int:
    return int(hashlib.sha256(s.encode()).hexdigest()[:15], 16)


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


def test_eb_shrinkage_matches_python(spark, sf_dir):
    fn, _ = _spec("stats_eb_beta_binomial_shrinkage")
    got = fn(spark, sf_dir).toPandas().sort_values("nation").reset_index(drop=True)
    t = Tables(spark, sf_dir)
    orders = t.orders.select("o_custkey", "o_orderstatus").toPandas()
    cust = t.customer.select("c_custkey", "c_nationkey").toPandas()
    nat = t.nation.select("n_nationkey", "n_name").toPandas()
    c2n = dict(zip(cust["c_custkey"], cust["c_nationkey"]))
    n2name = dict(zip(nat["n_nationkey"], nat["n_name"]))
    agg: dict = defaultdict(lambda: [0, 0])
    for ck, st in zip(orders["o_custkey"], orders["o_orderstatus"]):
        name = n2name[c2n[ck]]
        agg[name][0] += 1
        agg[name][1] += 1 if st == "F" else 0
    g = len(agg)
    p_micro = {k: _halfup_int(10**6 * v[1], v[0]) for k, v in agg.items()}
    inv_nano = {k: _halfup_int(10**9, v[0]) for k, v in agg.items()}
    pbar = _halfup_int(sum(p_micro.values()), g)
    s2_pico = _halfup_int(sum((p - pbar) ** 2 for p in p_micro.values()), g - 1)
    mean_inv = _halfup_int(sum(inv_nano.values()), g)
    vw_pico = _halfup_int(pbar * (10**6 - pbar) * mean_inv, 10**9)
    tau2 = s2_pico - vw_pico
    m_milli = (
        max(_halfup_int(1000 * pbar * (10**6 - pbar), tau2) - 1000, 0)
        if tau2 > 0
        else None
    )
    assert len(got) == g
    for row in got.itertuples():
        n, k = agg[row.nation]
        assert int(row.n_orders) == n and int(row.n_pos) == k
        assert int(row.raw_micro) == p_micro[row.nation]
        if m_milli is None:
            assert row.prior_strength_milli is None or (
                row.prior_strength_milli != row.prior_strength_milli
            )
            assert int(row.shrunk_micro) == pbar
            assert int(row.prior_weight_milli) == 1000
        else:
            assert int(row.prior_strength_milli) == m_milli
            assert int(row.shrunk_micro) == _halfup_int(
                10**9 * k + m_milli * pbar, 1000 * n + m_milli
            )
            assert int(row.prior_weight_milli) == _halfup_int(
                1000 * m_milli, 1000 * n + m_milli
            )
            # float anchors: shrunk sits between raw and global, and
            # matches the float EB formula
            mf = m_milli / 1000
            pf = pbar / 1e6
            sf = (k + mf * pf) / (n + mf)
            assert abs(int(row.shrunk_micro) / 1e6 - sf) < 1e-4
            lo, hi = sorted([k / n, pf])
            assert lo - 1e-6 <= int(row.shrunk_micro) / 1e6 <= hi + 1e-6


def test_cochrane_orcutt_matches_python(spark, sf_dir):
    fn, _ = _spec("stats_cochrane_orcutt_trend")
    got = fn(spark, sf_dir).toPandas().iloc[0]
    pdf = Tables(spark, sf_dir).orders.select("o_orderdate").toPandas()
    acc: dict = defaultdict(int)
    for v in pdf["o_orderdate"]:
        acc[v.date() if hasattr(v, "date") else v] += 1
    ys = [y for _, y in sorted(acc.items())]
    n = len(ys)
    ks = list(range(1, n + 1))
    sk, skk = sum(ks), sum(k * k for k in ks)
    sy = sum(ys)
    sky = sum(k * y for k, y in zip(ks, ys))
    d = n * skk - sk * sk
    b = n * sky - sk * sy
    us = [
        _halfup_int(
            daily_hypothesis.CO_RES_SCALE * (n * d * y - d * sy + b * sk - n * b * k), n * d
        )
        for k, y in zip(ks, ys)
    ]
    rho = _halfup_int(
        10**6 * sum(a * bb for a, bb in zip(us[1:], us[:-1])),
        sum(u * u for u in us),
    )
    ysq = [10**6 * ys[i] - rho * ys[i - 1] for i in range(1, n)]
    xsq = [10**6 * (i + 1) - rho * i for i in range(1, n)]
    m = n - 1
    sx, sxx = sum(xsq), sum(x * x for x in xsq)
    syt = sum(ysq)
    sxy = sum(x * y for x, y in zip(xsq, ysq))
    co = _halfup_int(10**6 * (m * sxy - sx * syt), m * sxx - sx * sx)
    assert int(got["n_days"]) == n
    assert int(got["rho_micro"]) == rho
    assert int(got["ols_slope_micro"]) == _halfup_int(10**6 * b, d)
    assert int(got["co_slope_micro"]) == co
    # float anchors: rho matches the float residual autocorrelation and
    # the CO slope matches a float quasi-differenced OLS
    beta = b / d
    alpha = sy / n - beta * sk / n
    e = [y - alpha - beta * k for k, y in zip(ks, ys)]
    rho_f = sum(a * bb for a, bb in zip(e[1:], e[:-1])) / sum(x * x for x in e)
    assert abs(rho / 1e6 - rho_f) < 1e-3
    ysf = [ys[i] - rho_f * ys[i - 1] for i in range(1, n)]
    xsf = [(i + 1) - rho_f * i for i in range(1, n)]
    mx = sum(xsf) / m
    my = sum(ysf) / m
    co_f = sum((x - mx) * (y - my) for x, y in zip(xsf, ysf)) / sum(
        (x - mx) ** 2 for x in xsf
    )
    assert abs(co / 1e6 - co_f) < max(1e-3, 2e-2 * abs(co_f))


def test_source_drift_matches_python(spark, sf_dir):
    fn, _ = _spec("corpus_source_mixture_drift")
    got = fn(spark, sf_dir).toPandas().sort_values("d").reset_index(drop=True)
    docs = Tables(spark, sf_dir).documents.select("doc_id", "source").toPandas()
    cells: Counter = Counter()
    for did, s in zip(docs["doc_id"], docs["source"]):
        cells[(_sha_i64(str(did)) % r124.DRIFT_DECILES, s)] += 1
    n_d = Counter()
    for (dd, s), c in cells.items():
        n_d[dd] += c
    assert list(got["d"]) == sorted(n_d)
    for row in got.itertuples():
        dd = int(row.d)
        assert int(row.n_docs) == n_d[dd]
        mx = max(c for (d2, s), c in cells.items() if d2 == dd)
        top = min(s for (d2, s), c in cells.items() if d2 == dd and c == mx)
        assert row.top_source == top
        assert int(row.top_share_micro) == _halfup_int(10**6 * mx, n_d[dd])
        if dd == 0:
            assert row.tvd_prev_micro is None or (
                row.tvd_prev_micro != row.tvd_prev_micro
            )
        else:
            srcs = {s for (d2, s) in cells if d2 in (dd, dd - 1)}
            num = sum(
                abs(
                    cells.get((dd, s), 0) * n_d[dd - 1]
                    - cells.get((dd - 1, s), 0) * n_d[dd]
                )
                for s in srcs
            )
            exp = _halfup_int(10**6 * num, 2 * n_d[dd] * n_d[dd - 1])
            assert int(row.tvd_prev_micro) == exp
            # float anchor: TVD = half the L1 distance of the mixes
            tvd_f = 0.5 * sum(
                abs(
                    cells.get((dd, s), 0) / n_d[dd]
                    - cells.get((dd - 1, s), 0) / n_d[dd - 1]
                )
                for s in srcs
            )
            assert abs(exp / 1e6 - tvd_f) < 1e-5
            assert 0 <= exp <= 10**6


def test_threshold_transfer_matches_python(spark, sf_dir):
    from mysql_public_data_ingestor_spark.operators.ml_scores import scored_labeled

    fn, _ = _spec("ml_threshold_transfer_audit")
    got = fn(spark, sf_dir).toPandas().iloc[0]
    scored = scored_labeled(Tables(spark, sf_dir)).select(
        "doc_id", "score_q", "label"
    ).toPandas()
    folds: dict = {0: [], 1: []}
    for r in scored.itertuples():
        folds[_sha_i64(str(int(r.doc_id))) % 2].append((int(r.score_q), int(r.label)))

    def fold_j(rows):
        grid: dict = defaultdict(lambda: [0, 0])
        for s, l in rows:
            grid[s][l] += 1
        n0 = sum(v[0] for v in grid.values())
        n1 = sum(v[1] for v in grid.values())
        out = {}
        # descending cumulative = counts with score >= s
        fp_hi = 0
        tp_hi = 0
        for s in sorted(grid, reverse=True):
            fp_hi += grid[s][0]
            tp_hi += grid[s][1]
            out[s] = n0 * tp_hi - n1 * fp_hi
        return out, n0, n1

    ja_map, a0, a1 = fold_j(folds[0])
    jb_map, b0, b1 = fold_j(folds[1])
    best_a = max(ja_map.values())
    thr_a = min(s for s, v in ja_map.items() if v == best_a)
    best_b = max(jb_map.values())
    thr_b = min(s for s, v in jb_map.items() if v == best_b)
    ge = [s for s in jb_map if s >= thr_a]
    jb_at_a = jb_map[min(ge)] if ge else 0
    assert int(got["n_train"]) == a0 + a1
    assert int(got["n_holdout"]) == b0 + b1
    assert int(got["thr_train"]) == thr_a
    assert int(got["j_train_micro"]) == _halfup_int(10**6 * best_a, a0 * a1)
    assert int(got["thr_holdout_opt"]) == thr_b
    jo = _halfup_int(10**6 * best_b, b0 * b1)
    jx = _halfup_int(10**6 * jb_at_a, b0 * b1)
    assert int(got["j_holdout_opt_micro"]) == jo
    assert int(got["j_holdout_at_train_thr_micro"]) == jx
    assert int(got["transfer_regret_micro"]) == jo - jx
    # float anchors: regret is non-negative by optimality of thr_b, and
    # J values are valid Youden indices
    assert jo >= jx
    assert -(10**6) <= jx <= 10**6 and 0 <= jo <= 10**6
