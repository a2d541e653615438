"""Independent Python/numpy replicas for the round-8 batch-3/4 stats.

Same pattern as tests/test_roundsix.py: the DuckDB oracle gate proves
cross-engine agreement; these recompute each statistic from the raw
parquet with straight-line Python (pandas/numpy + the pure-Python
det-ln reference) and must match the Spark result exactly at the
operator's own quantization.
"""

from __future__ import annotations

import math

import numpy as np
import pandas as pd
import pytest

from mysql_public_data_ingestor_spark.functions.detmath import ref_det_ln_q
from mysql_public_data_ingestor_spark.registry import all_queries
from mysql_public_data_ingestor_spark.tables import Tables


def _q(name, spark, sf_dir):
    return all_queries()[name].fn(spark, sf_dir).toPandas()


def _half_up(num: int, den: int, dp: int = 6) -> float:
    s = 10**dp
    mag = (2 * s * abs(num) + den) // (2 * den)
    return (-mag if num < 0 else mag) / s


def _q6(x: float) -> float:
    return math.floor(x * 1e6 + 0.5) / 1e6


@pytest.fixture(scope="module")
def lineitem_pdf(spark, sf_dir):
    t = Tables(spark, sf_dir)
    return t.lineitem.select(
        "l_returnflag", "l_quantity", "l_discount", "l_orderkey", "l_shipdate"
    ).toPandas()


@pytest.fixture(scope="module")
def events_pdf(spark, sf_dir):
    t = Tables(spark, sf_dir)
    return t.events.select("event_type", "user_id", "event_id", "ts").toPandas()


def test_kruskal_wallis_matches_python(spark, sf_dir, lineitem_pdf):
    got = _q("stats_kruskal_wallis_quantity", spark, sf_dir).iloc[0]
    df = lineitem_pdf.dropna(subset=["l_quantity"]).copy()
    v = df["l_quantity"].astype(np.int64).to_numpy()
    g = df["l_returnflag"].to_numpy()
    n = len(v)
    vals, cnts = np.unique(v, return_counts=True)
    cum = np.concatenate([[0], np.cumsum(cnts)[:-1]])
    r2_of = {int(vv): 2 * int(c0) + int(cc) + 1 for vv, c0, cc in zip(vals, cum, cnts)}
    sum_u = 0
    k = 0
    for flag in np.unique(g):
        vg = v[g == flag]
        n_g = len(vg)
        r2_g = sum(r2_of[int(x)] for x in vg)
        dev = r2_g / (2.0 * n_g) - (float(n) + 1.0) / 2.0
        sum_u += math.floor(n_g * (dev * dev) / (float(n) * (float(n) + 1.0)) * 12e6 + 0.5)
        k += 1
    tie3 = int(np.sum(cnts.astype(object) ** 3 - cnts.astype(object)))
    corr = 1.0 - tie3 / (float(n) * n * n - n)
    h = math.floor((sum_u / 1e6) / corr * 1e6 + 0.5) / 1e6
    assert got["k"] == k and got["n"] == n
    assert got["h_tie"] == pytest.approx(h, abs=0)


def test_mood_median_matches_python(spark, sf_dir, lineitem_pdf):
    got = _q("stats_mood_median_discount", spark, sf_dir).set_index("returnflag")
    df = lineitem_pdf.dropna(subset=["l_discount"]).copy()
    df["v"] = np.floor(df["l_discount"] * 100.0 + 0.5).astype(np.int64)
    vals, cnts = np.unique(df["v"].to_numpy(), return_counts=True)
    cum = np.cumsum(cnts)
    n = int(cum[-1])
    median_v = int(vals[np.argmax(2 * cum >= n + 1)])
    cells = {}
    for flag, grp in df.groupby("l_returnflag"):
        above = int((grp["v"] > median_v).sum())
        le = int((grp["v"] <= median_v).sum())
        cells[flag] = (above, le)
    ta = sum(a for a, _ in cells.values())
    tl = sum(b for _, b in cells.values())
    for flag, (a, le) in cells.items():
        n_g = float(a + le)
        ea = n_g * ta / (float(ta) + tl)
        el = n_g * tl / (float(ta) + tl)
        da, dl = a - ea, le - el
        contrib = _q6(da * da / ea + dl * dl / el)
        row = got.loc[flag]
        assert (row["n_above"], row["n_le"]) == (a, le)
        assert row["chi2_contrib"] == pytest.approx(contrib, abs=0)


def test_mutual_info_matches_python(spark, sf_dir):
    got = _q("stats_mutual_info_priority_segment", spark, sf_dir).iloc[0]
    t = Tables(spark, SF_DIR := sf_dir)
    j = (
        t.orders.select("o_custkey", "o_orderpriority")
        .join(
            t.customer.selectExpr("c_custkey as o_custkey", "c_mktsegment"),
            "o_custkey",
        )
        .toPandas()
    )
    xy = j.groupby(["o_orderpriority", "c_mktsegment"]).size()
    n = int(xy.sum())
    ln_n = ref_det_ln_q(float(n), 9)
    xs = xy.groupby(level=0).sum()
    ys = xy.groupby(level=1).sum()
    mi_num = sum(
        int(c) * (ln_n + ref_det_ln_q(float(c), 9) - ref_det_ln_q(float(xs[x]), 9)
                  - ref_det_ln_q(float(ys[y]), 9))
        for (x, y), c in xy.items()
    )
    s_x = sum(int(c) * ref_det_ln_q(float(c), 9) for c in xs)
    hx_num = ln_n * n - s_x
    assert got["n"] == n
    assert got["mi_nats"] == pytest.approx(_half_up(mi_num, n * 10**9), abs=0)
    assert got["h_priority"] == pytest.approx(_half_up(hx_num, n * 10**9), abs=0)
    assert got["uncertainty_coeff"] == pytest.approx(_half_up(mi_num, hx_num), abs=0)


def test_theil_index_matches_python(spark, sf_dir):
    got = _q("stats_theil_index_nation", spark, sf_dir).set_index("n_name")
    t = Tables(spark, sf_dir)
    c = t.customer.filter("c_acctbal > 0").selectExpr(
        "c_nationkey", "cast(floor(c_acctbal * 100.0 + 0.5) as long) as cents"
    ).toPandas()
    names = t.nation.select("n_nationkey", "n_name").toPandas().set_index("n_nationkey")
    for nk, grp in c.groupby("c_nationkey"):
        cents = grp["cents"].to_numpy()
        n_cust = len(cents)
        s = int(cents.sum())
        xlnx = sum(int(x) * ref_det_ln_q(float(x), 9) for x in cents)
        num = xlnx - s * ref_det_ln_q(float(s), 9) + s * ref_det_ln_q(float(n_cust), 9)
        row = got.loc[names.loc[nk, "n_name"]]
        assert row["n_cust"] == n_cust
        assert row["theil_t"] == pytest.approx(_half_up(num, s * 10**9), abs=0)


def test_pettitt_matches_python(spark, sf_dir, events_pdf):
    got = _q("events_changepoint_pettitt", spark, sf_dir).set_index("event_type")
    df = events_pdf.copy()
    df["d"] = pd.to_datetime(df["ts"]).dt.date
    daily = df.groupby(["event_type", "d"]).size().rename("v").reset_index()
    for et, g in daily.groupby("event_type"):
        g = g.sort_values("d").reset_index(drop=True)
        v = g["v"].to_numpy()
        n = len(v)
        vals, cnts = np.unique(v, return_counts=True)
        cum = np.concatenate([[0], np.cumsum(cnts)[:-1]])
        r2_of = {int(vv): 2 * int(c0) + int(cc) + 1
                 for vv, c0, cc in zip(vals, cum, cnts)}
        r2 = np.array([r2_of[int(x)] for x in v], dtype=object)
        u2 = np.cumsum(r2) - (np.arange(1, n + 1, dtype=object)) * (n + 1)
        k2 = int(max(abs(int(x)) for x in u2))
        idx = min(i for i, x in enumerate(u2) if abs(int(x)) == k2)
        row = got.loc[et]
        assert row["n_days"] == n
        assert row["k_stat"] == pytest.approx(k2 / 2.0, abs=0)
        assert row["change_date"] == str(g.loc[idx, "d"])


def test_markov_stationary_matches_python(spark, sf_dir, events_pdf):
    got = _q("events_markov_stationary", spark, sf_dir).set_index("event_type")
    df = events_pdf.sort_values(["user_id", "ts", "event_id"]).copy()
    df["nxt"] = df.groupby("user_id")["event_type"].shift(-1)
    trans = df.dropna(subset=["nxt"]).groupby(["event_type", "nxt"]).size()
    rows = trans.groupby(level=0).sum()
    states = sorted(rows.index)
    pm = {
        (s, d): (1_000_000 * int(c)) // int(rows[s])
        for (s, d), c in trans.items()
    }
    pi = {s: 1_000_000 // len(states) for s in states}
    for _ in range(15):
        nxt = {}
        for (s, d), p in pm.items():
            nxt[d] = nxt.get(d, 0) + pi.get(s, 0) * p
        pi = {d: x // 1_000_000 for d, x in nxt.items()}
    for s, x in pi.items():
        assert got.loc[s, "stationary_micro"] == x


def test_negbin_fit_matches_python(spark, sf_dir, events_pdf):
    got = _q("stats_negbin_hourly_fit", spark, sf_dir).set_index("event_type")
    df = events_pdf.copy()
    ts = pd.to_datetime(df["ts"])
    df["d"] = ts.dt.date
    df["h"] = ts.dt.hour
    cells = df.groupby(["event_type", "d", "h"]).size()
    for et, g in cells.groupby(level=0):
        c = len(g)
        if c < 2:
            continue
        t1 = int(g.sum())
        t2 = int((g.astype(object) ** 2).sum())
        mean_c = t1 / c
        var_c = (t2 - float(t1) * t1 / c) / (c - 1)
        row = got.loc[et]
        assert row["n_cells"] == c
        assert row["mean_per_cell"] == pytest.approx(_q6(mean_c), abs=0)
        assert row["var_per_cell"] == pytest.approx(_q6(var_c), abs=0)
        if var_c > mean_c:
            assert row["r_hat"] == pytest.approx(
                _q6(mean_c * mean_c / (var_c - mean_c)), abs=0
            )
            assert row["p_hat"] == pytest.approx(_q6(mean_c / var_c), abs=0)


def test_grubbs_matches_python(spark, sf_dir):
    got = _q("stats_grubbs_acctbal_nation", spark, sf_dir).set_index("n_name")
    t = Tables(spark, sf_dir)
    c = t.customer.filter("c_acctbal is not null").selectExpr(
        "c_nationkey", "cast(floor(c_acctbal * 100.0 + 0.5) as long) as cents"
    ).toPandas()
    names = t.nation.select("n_nationkey", "n_name").toPandas().set_index("n_nationkey")
    for nk, grp in c.groupby("c_nationkey"):
        cents = grp["cents"].astype(object).to_numpy()
        n = len(cents)
        if n < 3:
            continue
        s = int(sum(cents))
        ss = int(sum(x * x for x in cents))
        maxdev = int(max(abs(x * n - s) for x in cents))
        mdev = maxdev / n
        var = (n * ss - s * s) / (float(n) * n * (n - 1))
        row = got.loc[names.loc[nk, "n_name"]]
        assert row["n_customers"] == n
        assert row["grubbs_g"] == pytest.approx(_q6(mdev / math.sqrt(var)), abs=0)


def test_vocab_coverage_monotone_and_bounded(spark, sf_dir):
    got = _q("text_vocab_coverage_curve", spark, sf_dir).sort_values("k")
    cov = got["coverage"].to_numpy()
    assert (np.diff(cov) >= 0).all()
    assert ((cov > 0) & (cov <= 1.0)).all()
    assert (got["tokens_covered"].to_numpy() >= 0).all()


def test_bowley_matches_python(spark, sf_dir):
    got = _q("stats_bowley_skew_priority", spark, sf_dir).set_index("priority")
    t = Tables(spark, sf_dir)
    pdf = t.orders.select("o_orderpriority", "o_totalprice").toPandas().dropna()
    cents = np.floor(pdf["o_totalprice"].to_numpy() * 100.0 + 0.5).astype(np.int64)
    for g, grp in pd.DataFrame({"g": pdf["o_orderpriority"], "c": cents}).groupby("g"):
        v = np.sort(grp["c"].to_numpy())
        n = len(v)
        q1 = int(v[(n + 3) // 4 - 1])
        q2 = int(v[(n + 1) // 2 - 1])
        q3 = int(v[(3 * n + 3) // 4 - 1])
        if q3 <= q1:
            assert g not in got.index
            continue
        row = got.loc[g]
        assert int(row["n"]) == n
        assert row["median_price"] == q2 / 100.0
        assert row["bowley_skew"] == _half_up(q1 + q3 - 2 * q2, q3 - q1)


def test_moments_matches_python(spark, sf_dir):
    got = _q("stats_moments_skew_kurtosis", spark, sf_dir).set_index("priority")
    t = Tables(spark, sf_dir)
    pdf = t.orders.select("o_orderpriority", "o_totalprice").toPandas().dropna()
    xs = np.floor(pdf["o_totalprice"].to_numpy()).astype(np.int64)
    for g, grp in pd.DataFrame({"g": pdf["o_orderpriority"], "x": xs}).groupby("g"):
        v = [int(x) for x in grp["x"]]
        n = len(v)
        if n < 4:
            assert g not in got.index
            continue
        s1 = sum(v)
        s2 = sum(x * x for x in v)
        s3 = sum(x * x * x for x in v)
        s4 = sum(x * x * x * x for x in v)
        mu = float(s1) / n
        m2r = float(s2) / n
        m3r = float(s3) / n
        m4r = float(s4) / n
        var = m2r - mu * mu
        if var <= 0.0:
            assert g not in got.index
            continue
        m3 = m3r - 3.0 * mu * m2r + 2.0 * (mu * mu) * mu
        m4 = m4r - 4.0 * mu * m3r + 6.0 * (mu * mu) * m2r - 3.0 * ((mu * mu) * (mu * mu))
        row = got.loc[g]
        assert int(row["n"]) == n
        assert row["skewness"] == math.floor(m3 / (math.sqrt(var) * var) * 1e6 + 0.5) / 1e6
        assert row["ex_kurtosis"] == math.floor((m4 / (var * var) - 3.0) * 1e6 + 0.5) / 1e6


def test_kmv_matches_python(spark, sf_dir):
    import hashlib

    from mysql_public_data_ingestor_spark.operators.roundeight2 import KMV_DOMAIN, KMV_K

    # NB: read columns directly — a mixed int64/float64 single-row
    # .iloc[0] upcasts to float64 and corrupts 60-bit hash values.
    got = _q("sketch_kmv_distinct_users", spark, sf_dir)
    t = Tables(spark, sf_dir)
    users = t.events.select("user_id").toPandas()["user_id"]
    hv = sorted(
        {
            int(hashlib.sha256(str(int(u)).encode()).hexdigest()[:15], 16)
            for u in users.dropna()
        }
    )
    d_true = len({int(u) for u in users.dropna()})
    topk = hv[:KMV_K]
    k_eff, h_k = len(topk), max(topk)
    d_est = ((KMV_K - 1) * KMV_DOMAIN) // h_k if k_eff == KMV_K else k_eff
    assert int(got["k_eff"].iloc[0]) == k_eff
    assert int(got["h_k"].iloc[0]) == h_k
    assert int(got["d_est"].iloc[0]) == d_est
    assert int(got["d_true"].iloc[0]) == d_true
    assert got["rel_error"].iloc[0] == _half_up(abs(d_est - d_true), d_true)


def test_interval_overlap_matches_python(spark, sf_dir):
    from mysql_public_data_ingestor_spark.operators.roundeight2 import OVERLAP_WINDOW_DAYS

    got = _q("dq_interval_overlap_orders", spark, sf_dir).iloc[0]
    t = Tables(spark, sf_dir)
    pdf = t.orders.select("o_custkey", "o_orderkey", "o_orderdate").toPandas()
    pdf["s"] = pd.to_datetime(pdf["o_orderdate"])
    pdf["e"] = pdf["s"] + pd.Timedelta(days=OVERLAP_WINDOW_DAYS)
    per_cust = {}
    for ck, grp in pdf.groupby("o_custkey"):
        rows = sorted(zip(grp["o_orderkey"], grp["s"], grp["e"]))
        cnt = 0
        for i in range(len(rows)):
            for j in range(i + 1, len(rows)):
                a, b = rows[i], rows[j]
                if a[1] < b[2] and b[1] < a[2]:
                    cnt += 1
        if cnt:
            per_cust[ck] = cnt
    assert int(got["n_customers_overlapping"]) == len(per_cust)
    assert int(got["n_overlap_pairs"]) == sum(per_cust.values())
    assert int(got["max_pairs_per_customer"]) == max(per_cust.values())
