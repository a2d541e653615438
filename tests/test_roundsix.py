"""Independent Python/numpy replicas for the round-6 statistics.

The DuckDB oracle gate proves CROSS-ENGINE agreement; these tests
prove the MATH — each operator is recomputed from the raw parquet with
an independent straight-line Python implementation (pandas/numpy, no
SQL), and must match the Spark result exactly at the operator's own
quantization. This is the repo's established "numpy-verified" pattern
(see stats_ttest_ab, ml_auc_by_lang) applied to the round-6 batch.
"""

from __future__ import annotations

import math

import numpy as np
import pandas as pd
import pytest
from pyspark.sql import functions as F

from mysql_public_data_ingestor_spark.registry import all_queries
from mysql_public_data_ingestor_spark.tables import Tables


def _q(name, spark, sf_dir):
    return all_queries()[name].fn(spark, sf_dir).toPandas()


@pytest.fixture(scope="module")
def events_pdf(spark, sf_dir):
    t = Tables(spark, sf_dir)
    return t.events.select("event_type", "user_id", "value", "ts").toPandas()


def _half_up(num: int, den: int, dp: int) -> float:
    s = 10**dp
    mag = (2 * s * abs(num) + den) // (2 * den)
    return (-mag if num < 0 else mag) / s


def test_ks_two_sample_matches_python(spark, sf_dir, events_pdf):
    got = _q("stats_ks_two_sample", spark, sf_dir).set_index("event_type")
    df = events_pdf.copy()
    df["v_u"] = np.floor(df["value"] * 1e6 + 0.5).astype(np.int64)
    df["cohort"] = df["user_id"] % 2
    for et, g in df.groupby("event_type"):
        a = np.sort(g.loc[g.cohort == 0, "v_u"].to_numpy())
        b = np.sort(g.loc[g.cohort == 1, "v_u"].to_numpy())
        vals = np.unique(g["v_u"].to_numpy())
        cum_a = np.searchsorted(a, vals, side="right")
        cum_b = np.searchsorted(b, vals, side="right")
        d = np.abs(cum_a.astype(object) * len(b) - cum_b.astype(object) * len(a))
        ks = _half_up(int(d.max()), len(a) * len(b), 6)
        row = got.loc[et]
        assert row["n_a"] == len(a) and row["n_b"] == len(b)
        assert row["ks_stat"] == pytest.approx(ks, abs=0), (et, ks)


def test_spearman_matches_pandas_rank(spark, sf_dir, events_pdf):
    got = _q("stats_spearman_corr", spark, sf_dir).set_index("event_type")
    df = events_pdf.copy()
    df["v_m"] = np.floor(df["value"] * 1e3 + 0.5).astype(np.int64)
    df["h"] = pd.to_datetime(df["ts"]).dt.hour.astype(np.int64)
    for et, g in df.groupby("event_type"):
        rx = g["v_m"].rank(method="average").to_numpy()
        ry = g["h"].rank(method="average").to_numpy()
        # the operator uses doubled midranks; Pearson is scale-invariant
        n = len(g)
        sx, sy = rx.sum(), ry.sum()
        num = n * float(np.dot(rx, ry)) - sx * sy
        den = math.sqrt(
            (n * float(np.dot(rx, rx)) - sx * sx)
            * (n * float(np.dot(ry, ry)) - sy * sy)
        )
        rho = num / den
        assert got.loc[et, "spearman_rho"] == pytest.approx(rho, abs=2e-6), et


def test_theil_sen_matches_numpy(spark, sf_dir, events_pdf):
    got = _q("stats_theil_sen_trend", spark, sf_dir).set_index("event_type")
    df = events_pdf.copy()
    df["d"] = pd.to_datetime(df["ts"]).dt.date
    df["cents"] = np.floor(df["value"] * 100.0 + 0.5).astype(np.int64)
    for et, g in df.groupby("event_type"):
        daily = g.groupby("d")["cents"].sum().sort_index().to_numpy()
        n = len(daily)
        slopes = []
        for i in range(n):
            for j in range(i + 1, n):
                slopes.append(
                    _half_up(int(daily[j] - daily[i]), j - i, 4) * 1e4
                )
        slopes = np.sort(np.array(slopes, dtype=np.int64))
        # exact discrete median = lower-middle element (quantile_disc)
        med = slopes[(len(slopes) - 1) // 2]
        assert got.loc[et, "n_pairs"] == len(slopes)
        assert got.loc[et, "trend_cents_per_day"] == pytest.approx(med / 1e4, abs=0)


def test_acf_matches_numpy(spark, sf_dir, events_pdf):
    got = _q("events_acf_daily_lags", spark, sf_dir)
    df = events_pdf.copy()
    df["d"] = pd.to_datetime(df["ts"]).dt.date
    for et, g in df.groupby("event_type"):
        y = g.groupby("d").size().sort_index().to_numpy().astype(object)
        n, s = len(y), int(y.sum())
        z = n * y - s
        den = int((z * z).sum())
        for lag in range(1, 8):
            if n <= lag:
                continue
            num = int((z[:-lag] * z[lag:]).sum())
            ref = _half_up(num, den, 6)
            row = got[(got.event_type == et) & (got.lag == lag)]
            assert len(row) == 1 and row.iloc[0]["acf"] == pytest.approx(ref, abs=0), (
                et,
                lag,
            )


def test_wilson_ci_matches_formula(spark, sf_dir):
    got = _q("stats_wilson_ci_by_nation", spark, sf_dir)
    z = 1.96
    for r in got.itertuples():
        n, k = r.n_orders, r.n_urgent
        p = k / n
        zn = z * z / n
        center = (p + zn * 0.5) / (1.0 + zn)
        half = (z * math.sqrt(p * (1.0 - p) / n + zn * 0.25 / n)) / (1.0 + zn)
        assert r.wilson_center == pytest.approx(
            math.floor(center * 1e6 + 0.5) / 1e6, abs=0
        )
        assert r.ci_lo == pytest.approx(math.floor((center - half) * 1e6 + 0.5) / 1e6)
        assert r.ci_hi == pytest.approx(math.floor((center + half) * 1e6 + 0.5) / 1e6)
        assert 0.0 <= r.ci_lo <= r.wilson_center <= r.ci_hi <= 1.0


def test_kcore_matches_python_peeling(spark, sf_dir):
    got = _q("graph_kcore_membership", spark, sf_dir).set_index("round")
    t = Tables(spark, sf_dir)
    li = t.lineitem.select("l_orderkey", "l_partkey").distinct().toPandas()
    edges = set()
    for _, grp in li.groupby("l_orderkey"):
        parts = sorted(set(grp["l_partkey"]))
        for i in range(len(parts)):
            for j in range(i + 1, len(parts)):
                edges.add((parts[i], parts[j]))
    cur = edges
    for r in range(1, 4):
        deg: dict[int, int] = {}
        for u, v in cur:
            deg[u] = deg.get(u, 0) + 1
            deg[v] = deg.get(v, 0) + 1
        keep = {n for n, d in deg.items() if d >= 3}
        cur = {(u, v) for (u, v) in cur if u in keep and v in keep}
        nodes = {u for u, _ in cur} | {v for _, v in cur}
        assert got.loc[r, "n_nodes"] == len(nodes), r
        assert got.loc[r, "n_edges"] == len(cur), r


def test_holt_matches_python_fold(spark, sf_dir, events_pdf):
    got = _q("events_holt_linear_fit", spark, sf_dir).set_index("event_type")
    df = events_pdf.copy()
    df["d"] = pd.to_datetime(df["ts"]).dt.date
    df["cents"] = np.floor(df["value"] * 100.0 + 0.5).astype(np.int64)
    for et, g in df.groupby("event_type"):
        ys = g.groupby("d")["cents"].sum().sort_index().astype(float).to_numpy()
        level, trend = ys[0], 0.0
        for y in ys[1:]:
            new_level = 0.5 * y + 0.5 * (level + trend)
            trend = 0.25 * (new_level - level) + 0.75 * trend
            level = new_level
        assert got.loc[et, "n_days"] == len(ys)
        assert got.loc[et, "level_cents"] == math.floor(level + 0.5)
        assert got.loc[et, "trend_cents_q2"] == math.floor(trend * 100.0 + 0.5)
        assert got.loc[et, "forecast_cents"] == math.floor(level + trend + 0.5)


def test_ndcg_matches_python_ranking(spark, sf_dir):
    from mysql_public_data_ingestor_spark.operators.ml_scores import scored_labeled
    from mysql_public_data_ingestor_spark.operators.ml_ranking import NDCG_W

    got = _q("ml_ndcg_by_lang", spark, sf_dir).set_index("lang")
    t = Tables(spark, sf_dir)
    s = scored_labeled(t).toPandas()
    for lang, g in s.groupby("lang"):
        g = g.sort_values(["score_q", "doc_id"], ascending=[False, True])
        labels = g["label"].to_numpy()
        dcg = int(sum(int(l) * NDCG_W[i] for i, l in enumerate(labels[:10])))
        n_pos = int(labels.sum())
        idcg = int(sum(NDCG_W[: min(10, n_pos)])) if n_pos else 0
        assert got.loc[lang, "n_pos"] == n_pos
        assert got.loc[lang, "dcg_q"] == dcg
        assert got.loc[lang, "idcg_q"] == idcg
        if idcg:
            assert got.loc[lang, "ndcg"] == pytest.approx(
                _half_up(dcg, idcg, 6), abs=0
            )


def test_dp_laplace_noise_matches_reference(spark, sf_dir):
    from mysql_public_data_ingestor_spark.functions.detmath import ref_det_ln_fix, _c
    from mysql_public_data_ingestor_spark.operators.roundsix import (
        DP_HASH_A,
        DP_HASH_B,
        _P,
    )

    got = _q("privacy_dp_laplace_counts", spark, sf_dir)
    t = Tables(spark, sf_dir)
    nk = {
        r.n_name: r.n_nationkey
        for r in t.nation.select("n_name", "n_nationkey").collect()
    }
    for r in got.itertuples():
        key = nk[r.nation]
        h = ((key % _P) * DP_HASH_A + DP_HASH_B) % _P
        u01 = (float(h) + 1.0) / float(_P + 1)
        c = u01 - 0.5
        arg = 1.0 - 2.0 * abs(u01 - 0.5)
        lnv = ref_det_ln_fix(arg) * _c(0)
        noise = -2.0 * lnv if c >= 0 else 2.0 * lnv
        assert r.noise_q6 == math.floor(noise * 1e6 + 0.5)
        assert r.noisy_count == r.true_count + math.floor(r.noise_q6 / 1e6 + 0.5)


def test_assortativity_matches_numpy(spark, sf_dir):
    got = _q("graph_degree_assortativity", spark, sf_dir)
    t = Tables(spark, sf_dir)
    li = t.lineitem.select("l_orderkey", "l_partkey").distinct().toPandas()
    edges = set()
    for _, grp in li.groupby("l_orderkey"):
        parts = sorted(set(grp["l_partkey"]))
        for i in range(len(parts)):
            for j in range(i + 1, len(parts)):
                edges.add((parts[i], parts[j]))
    deg: dict[int, int] = {}
    for u, v in edges:
        deg[u] = deg.get(u, 0) + 1
        deg[v] = deg.get(v, 0) + 1
    xs, ys = [], []
    for u, v in edges:
        xs += [deg[u], deg[v]]
        ys += [deg[v], deg[u]]
    x = np.array(xs, dtype=object)
    y = np.array(ys, dtype=object)
    m, sx = len(x), int(x.sum())
    num = m * int((x * y).sum()) - sx * sx
    den = m * int((x * x).sum()) - sx * sx
    ref = math.floor(float(num) / float(den) * 1e6 + 0.5) / 1e6
    assert got.iloc[0]["n_directed_edges"] == m
    assert got.iloc[0]["assortativity"] == pytest.approx(ref, abs=0)


def test_stump_matches_python_scan(spark, sf_dir):
    got = _q("ml_decision_stump", spark, sf_dir).iloc[0]
    t = Tables(spark, sf_dir)
    o = t.orders.select("o_totalprice", "o_orderpriority").toPandas()
    cents = np.floor(o["o_totalprice"].to_numpy() * 100.0 + 0.5).astype(np.int64)
    label = o["o_orderpriority"].isin(["1-URGENT", "2-HIGH"]).to_numpy().astype(int)
    bins = cents // 1_000_000
    tbl = pd.DataFrame({"bin": bins, "label": label}).groupby("bin")["label"].agg(
        ["count", "sum"]
    )
    tbl = tbl.sort_index()
    nt, post = int(tbl["count"].sum()), int(tbl["sum"].sum())
    best = None
    nl = posl = 0
    for b, row in tbl.iterrows():
        nl += int(row["count"])
        posl += int(row["sum"])
        if nl >= nt:
            continue
        negl = nl - posl
        nr = nt - nl
        posr = post - posl
        negr = nr - posr
        g = (nl * nl - posl * posl - negl * negl) / nl + (
            nr * nr - posr * posr - negr * negr
        ) / nr
        g_q = math.floor(g * 1e6 + 0.5)
        cand = (g_q, b, nl, posl, negl, nr, posr, negr)
        if best is None or cand < best:
            best = cand
    g_q, b, nl, posl, negl, nr, posr, negr = best
    assert got["threshold_cents"] == (b + 1) * 1_000_000
    assert got["n_left"] == nl and got["n_right"] == nr and got["g_q"] == g_q
    acc = _half_up(max(posl, negl) + max(posr, negr), nt, 6)
    assert got["stump_accuracy"] == pytest.approx(acc, abs=0)
