"""Independent Python/numpy replicas for the round-8 batch-6 operators.

Same pattern as tests/test_roundeight2.py: the DuckDB oracle gate
proves cross-engine agreement; these recompute each statistic from the
raw parquet with straight-line Python (pandas/numpy + the pure-Python
det-ln reference) and must match the Spark result exactly at the
operator's own quantization.
"""

from __future__ import annotations

import math
import re

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


def _half_up_int(num: int, den: int) -> int:
    """Signed half-up integer division (num may be negative)."""
    mag = (2 * abs(num) + den) // (2 * den)
    return -mag if num < 0 else mag


@pytest.fixture(scope="module")
def lineitem_pdf(spark, sf_dir):
    t = Tables(spark, sf_dir)
    return t.lineitem.select(
        "l_orderkey",
        "l_partkey",
        "l_returnflag",
        "l_linestatus",
        "l_quantity",
        "l_discount",
        "l_extendedprice",
        "l_shipdate",
    ).toPandas()


@pytest.fixture(scope="module")
def orders_pdf(spark, sf_dir):
    t = Tables(spark, sf_dir)
    return t.orders.select("o_orderkey", "o_custkey", "o_orderdate").toPandas()


def test_jaccard_linkpred_matches_python(spark, sf_dir, lineitem_pdf):
    from mysql_public_data_ingestor_spark.operators.graph_linkpred import (
        JC_MIN_CN,
        JC_SEEDS,
        JC_TOPK,
    )

    got = _q("graph_jaccard_linkpred", spark, sf_dir)
    li = lineitem_pdf[["l_orderkey", "l_partkey"]].drop_duplicates()
    edges = set()
    for _, grp in li.groupby("l_orderkey"):
        parts = sorted(set(int(p) for p in grp["l_partkey"]))
        for i in range(len(parts)):
            for j in range(i + 1, len(parts)):
                edges.add((parts[i], parts[j]))
    nbrs: dict[int, set[int]] = {}
    for u, v in edges:
        nbrs.setdefault(u, set()).add(v)
        nbrs.setdefault(v, set()).add(u)
    rows = []
    for seed in [n for n in nbrs if n < JC_SEEDS]:
        scores = {}
        for mid in nbrs[seed]:
            for cand in nbrs[mid]:
                if cand != seed:
                    scores[cand] = scores.get(cand, 0) + 1
        ranked = []
        for cand, cn in scores.items():
            if cn < JC_MIN_CN:
                continue
            if (min(seed, cand), max(seed, cand)) in edges:
                continue
            jacc = _half_up(cn, len(nbrs[seed]) + len(nbrs[cand]) - cn)
            ranked.append((-jacc, -cn, cand))
        ranked.sort()
        for rnk, (nj, ncn, cand) in enumerate(ranked[:JC_TOPK], 1):
            rows.append((seed, cand, -ncn, -nj, rnk))
    exp = pd.DataFrame(
        rows, columns=["seed_part", "recommended_part", "common_neighbors", "jaccard", "rnk"]
    ).sort_values(["seed_part", "rnk"]).reset_index(drop=True)
    got = got.sort_values(["seed_part", "rnk"]).reset_index(drop=True)
    pd.testing.assert_frame_equal(got.astype(exp.dtypes.to_dict()), exp)


def test_hodges_lehmann_matches_python(spark, sf_dir, lineitem_pdf):
    got = _q("stats_hodges_lehmann_quantity", spark, sf_dir).set_index("return_flag")
    df = lineitem_pdf.dropna(subset=["l_quantity"])
    for g, grp in df.groupby("l_returnflag"):
        vals, cnts = np.unique(grp["l_quantity"].astype(np.int64), return_counts=True)
        w: dict[int, int] = {}
        for i in range(len(vals)):
            for j in range(i, len(vals)):
                s = int(vals[i] + vals[j])
                ww = (
                    int(cnts[i]) * (int(cnts[i]) + 1) // 2
                    if i == j
                    else int(cnts[i]) * int(cnts[j])
                )
                w[s] = w.get(s, 0) + ww
        tw = sum(w.values())
        cum = 0
        hl = None
        for s in sorted(w):
            cum += w[s]
            if cum >= (tw + 1) // 2:
                hl = s / 2.0
                break
        row = got.loc[g]
        assert int(row["n_walsh_pairs"]) == tw
        assert row["hl_pseudo_median"] == hl


def test_cliffs_delta_matches_python(spark, sf_dir, lineitem_pdf):
    got = _q("stats_cliffs_delta_discount", spark, sf_dir)
    df = lineitem_pdf.dropna(subset=["l_discount"])
    cents = np.floor(df["l_discount"].to_numpy() * 100.0 + 0.5).astype(np.int64)
    x = cents[(df["l_returnflag"] == "R").to_numpy()]
    y = cents[(df["l_returnflag"] == "N").to_numpy()]
    xv, xc = np.unique(x, return_counts=True)
    yv, yc = np.unique(y, return_counts=True)
    gt = lt = eq = 0
    for a, ca in zip(xv, xc):
        for b, cb in zip(yv, yc):
            if a > b:
                gt += int(ca) * int(cb)
            elif a < b:
                lt += int(ca) * int(cb)
            else:
                eq += int(ca) * int(cb)
    assert int(got["n_gt"].iloc[0]) == gt
    assert int(got["n_lt"].iloc[0]) == lt
    assert int(got["n_eq"].iloc[0]) == eq
    assert got["cliffs_delta"].iloc[0] == _half_up(gt - lt, len(x) * len(y))


def test_pythagorean_means_matches_python(spark, sf_dir, lineitem_pdf):
    from mysql_public_data_ingestor_spark.operators.roundeight3 import HM_RECIP_SCALE

    got = _q("stats_pythagorean_means_quantity", spark, sf_dir).set_index("return_flag")
    df = lineitem_pdf.dropna(subset=["l_quantity"])
    df = df[df["l_quantity"] > 0]
    for g, grp in df.groupby("l_returnflag"):
        vals, cnts = np.unique(grp["l_quantity"].astype(np.int64), return_counts=True)
        n = int(cnts.sum())
        sum_v = int((vals * cnts).sum())
        sum_lnq = sum(int(c) * ref_det_ln_q(float(v), 9) for v, c in zip(vals, cnts))
        sum_recip = sum(
            int(c) * ((2 * HM_RECIP_SCALE + int(v)) // (2 * int(v)))
            for v, c in zip(vals, cnts)
        )
        row = got.loc[g]
        assert int(row["n"]) == n
        am = _half_up(sum_v, n)
        gm_ln = _half_up(sum_lnq, n * 10**9, 9)
        hm = _half_up(n * HM_RECIP_SCALE, sum_recip)
        assert row["arith_mean"] == am
        assert row["ln_geom_mean"] == gm_ln
        assert row["harmonic_mean"] == hm
        # Pythagorean ordering: AM >= GM >= HM (GM via its log)
        assert am >= math.exp(gm_ln) - 1e-6 >= hm - 1e-6


def test_weighted_median_matches_python(spark, sf_dir, lineitem_pdf):
    got = _q("agg_weighted_median_price", spark, sf_dir).set_index("return_flag")
    df = lineitem_pdf.dropna(subset=["l_extendedprice", "l_quantity"]).copy()
    df["cents"] = np.floor(df["l_extendedprice"].to_numpy() * 100.0 + 0.5).astype(np.int64)
    df["q"] = df["l_quantity"].astype(np.int64)
    for g, grp in df.groupby("l_returnflag"):
        agg = grp.groupby("cents")["q"].sum().sort_index()
        tw = int(agg.sum())
        cum = agg.cumsum()
        med = int(cum.index[(cum >= (tw + 1) // 2).argmax()])
        p90 = int(cum.index[(cum >= (9 * tw + 9) // 10).argmax()])
        row = got.loc[g]
        assert int(row["total_weight"]) == tw
        assert row["w_median_price"] == med / 100.0
        assert row["w_p90_price"] == p90 / 100.0


def test_date_order_violations_matches_python(spark, sf_dir, lineitem_pdf, orders_pdf):
    got = _q("dq_date_order_violations", spark, sf_dir).set_index("rule")
    j = lineitem_pdf.merge(
        orders_pdf[["o_orderkey", "o_orderdate"]],
        left_on="l_orderkey",
        right_on="o_orderkey",
    )
    ship = pd.to_datetime(j["l_shipdate"])
    od = pd.to_datetime(j["o_orderdate"])
    n = len(j)
    exp = {
        "orderdate<=shipdate": int((od > ship).sum()),
        "shipdate<=orderdate+90d": int((ship > od + pd.Timedelta(days=90)).sum()),
        "shipdate<=orderdate+121d": int((ship > od + pd.Timedelta(days=121)).sum()),
        "shipdate<=2001-12-31": int((ship > pd.Timestamp("2001-12-31")).sum()),
    }
    assert set(got.index) == set(exp)
    for rule, v in exp.items():
        row = got.loc[rule]
        assert int(row["n_checked"]) == n
        assert int(row["n_violations"]) == v
        assert row["violation_rate"] == _half_up(v, n)
        assert bool(row["passed"]) == (v == 0)
    # both outcomes must be exercised on this fixture
    assert got["passed"].any() and not got["passed"].all()


def test_fd_audit_matches_python(spark, sf_dir):
    from mysql_public_data_ingestor_spark.operators.roundeight3 import _FD_CANDIDATES

    got = _q("dq_functional_dependency_audit", spark, sf_dir).set_index("fd")
    t = Tables(spark, sf_dir)
    for label, table, lhs, rhs in _FD_CANDIDATES:
        pdf = getattr(t, table).select(lhs, rhs).toPandas()
        n_rhs = pdf.groupby(lhs)[rhs].nunique()
        row = got.loc[label]
        assert int(row["n_lhs_values"]) == len(n_rhs)
        assert int(row["n_violating_lhs"]) == int((n_rhs > 1).sum())
        assert int(row["max_rhs_per_lhs"]) == int(n_rhs.max())
        assert bool(row["holds"]) == bool((n_rhs <= 1).all())
    assert got["holds"].any() and not got["holds"].all()


def test_wilcoxon_signed_rank_matches_python(spark, sf_dir):
    from mysql_public_data_ingestor_spark.operators.roundeight3 import (
        WSR_TYPE_A,
        WSR_TYPE_B,
    )

    got = _q("stats_wilcoxon_signed_rank_daily", spark, sf_dir)
    t = Tables(spark, sf_dir)
    ev = t.events.select("event_type", "ts").toPandas()
    ev = ev[ev["event_type"].isin([WSR_TYPE_A, WSR_TYPE_B])]
    day = pd.to_datetime(ev["ts"]).dt.date
    piv = (
        pd.crosstab(day, ev["event_type"])
        .reindex(columns=[WSR_TYPE_A, WSR_TYPE_B], fill_value=0)
    )
    d = (piv[WSR_TYPE_A] - piv[WSR_TYPE_B]).astype(np.int64)
    d = d[d != 0]
    a = d.abs().to_numpy()
    pos = (d > 0).to_numpy()
    vals, cnts = np.unique(a, return_counts=True)
    cum = np.concatenate([[0], np.cumsum(cnts)[:-1]])
    r2_of = {int(v): 2 * int(c0) + int(c) + 1 for v, c0, c in zip(vals, cum, cnts)}
    w2p = sum(r2_of[int(x)] for x, p in zip(a, pos) if p)
    w2m = sum(r2_of[int(x)] for x, p in zip(a, pos) if not p)
    n = len(d)
    tie3 = sum(int(c) ** 3 - int(c) for c in cnts)
    num = w2p - n * (n + 1) // 2
    z = num / math.sqrt((2 * n * (n + 1) * (2 * n + 1) - tie3) / 12.0)
    row = got.iloc[0]
    assert int(row["n_nonzero_days"]) == n
    assert int(row["w2_plus"]) == w2p
    assert int(row["w2_minus"]) == w2m
    assert row["z_stat"] == math.floor(z * 1e6 + 0.5) / 1e6


def test_logrank_matches_python(spark, sf_dir, lineitem_pdf, orders_pdf):
    from mysql_public_data_ingestor_spark.operators.roundeight3 import (
        LOGRANK_G1,
        LOGRANK_G2,
    )

    got = _q("stats_logrank_segments", spark, sf_dir).iloc[0]
    j = lineitem_pdf[lineitem_pdf["l_returnflag"].isin([LOGRANK_G1, LOGRANK_G2])].merge(
        orders_pdf[["o_orderkey", "o_orderdate"]],
        left_on="l_orderkey",
        right_on="o_orderkey",
    )
    dur = (pd.to_datetime(j["l_shipdate"]) - pd.to_datetime(j["o_orderdate"])).dt.days
    flag = j["l_returnflag"].to_numpy()
    evt = (j["l_linestatus"] == "F").astype(int).to_numpy()
    df = pd.DataFrame({"flag": flag, "dur": dur.astype(np.int64), "ev": evt})
    pts = df.groupby(["flag", "dur"]).agg(d=("ev", "sum"), m=("ev", "size")).reset_index()
    durs = sorted(pts["dur"].unique())
    o1 = 0
    sum_e_u = 0
    sum_v_u = 0
    n_times = 0
    for t_ in durs:
        at1 = int(pts[(pts["flag"] == LOGRANK_G1) & (pts["dur"] >= t_)]["m"].sum())
        at2 = int(pts[(pts["flag"] == LOGRANK_G2) & (pts["dur"] >= t_)]["m"].sum())
        d1 = int(pts[(pts["flag"] == LOGRANK_G1) & (pts["dur"] == t_)]["d"].sum())
        d2 = int(pts[(pts["flag"] == LOGRANK_G2) & (pts["dur"] == t_)]["d"].sum())
        n, n1, d_tot = at1 + at2, at1, d1 + d2
        if not (d_tot > 0 and n > d_tot and n > 1):
            continue
        n_times += 1
        o1 += d1
        sum_e_u += _half_up_int(d_tot * n1 * 10**9, n)
        sum_v_u += _half_up_int(
            d_tot * n1 * (n - n1) * (n - d_tot) * 10**9, n * n * (n - 1)
        )
    e1 = sum_e_u / 1e9
    v = sum_v_u / 1e9
    z = (float(o1) - e1) / math.sqrt(v)
    assert int(got["n_event_times"]) == n_times
    assert int(got["o1"]) == o1
    assert got["e1"] == e1
    assert got["v"] == v
    assert got["z_stat"] == math.floor(z * 1e6 + 0.5) / 1e6


def test_ljung_box_matches_python(spark, sf_dir, orders_pdf):
    from mysql_public_data_ingestor_spark.operators.roundeight3 import LB_MAX_LAG

    got = _q("stats_ljung_box_daily", spark, sf_dir).sort_values("lag").reset_index(drop=True)
    daily = orders_pdf.groupby("o_orderdate").size().sort_index()
    x = daily.to_numpy().astype(object)  # python ints, no overflow
    n = len(x)
    s = int(sum(x))
    y = [n * int(v) - s for v in x]
    denom = sum(v * v for v in y)
    cum_term = 0
    for i, k in enumerate(range(1, LB_MAX_LAG + 1)):
        num = sum(y[t] * y[t + k] for t in range(n - k))
        rho_u = _half_up_int(num * 10**9, denom)
        cum_term += (2 * rho_u * rho_u + (n - k)) // (2 * (n - k))
        row = got.iloc[i]
        assert int(row["lag"]) == k
        assert int(row["n_days"]) == n
        assert row["rho"] == rho_u / 1e9
        assert row["q_ljung_box"] == _half_up(n * (n + 2) * cum_term, 10**18)


def test_simpson_diversity_matches_python(spark, sf_dir):
    got = _q("text_simpson_diversity_by_lang", spark, sf_dir).set_index("lang")
    t = Tables(spark, sf_dir)
    docs = t.documents.select("lang", "text").toPandas()
    for lang, grp in docs.groupby("lang"):
        counts: dict[str, int] = {}
        for txt in grp["text"]:
            norm = re.sub(r"\s+", " ", str(txt).lower()).strip()
            for tok in norm.split(" "):
                counts[tok] = counts.get(tok, 0) + 1
        n = sum(counts.values())
        d2 = sum(c * (c - 1) for c in counts.values())
        if n < 2 or d2 == 0:
            assert lang not in got.index
            continue
        row = got.loc[lang]
        assert int(row["n_tokens"]) == n
        assert int(row["distinct_tokens"]) == len(counts)
        assert row["simpson_lambda"] == _half_up(d2, n * (n - 1), 9)
        assert row["inv_simpson"] == _half_up(n * (n - 1), d2)
