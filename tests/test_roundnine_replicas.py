"""Independent Python replicas for ``operators/roundnine.py`` — same
pattern as tests/test_roundeight3.py: the oracle gate in
tests/test_roundnine.py proves cross-engine agreement; these recompute
each statistic from the raw parquet with straight-line Python and must
match exactly at the operator's own quantization.
"""

from __future__ import annotations

import math
import re

import numpy as np
import pandas as pd
import pytest

from mysql_public_data_ingestor_spark.operators import (
    graph_centrality,
    graph_paths,
    graph_structure,
)
from mysql_public_data_ingestor_spark.operators import daily_change
from mysql_public_data_ingestor_spark.operators import events_users
from mysql_public_data_ingestor_spark.operators import roundnine
from mysql_public_data_ingestor_spark.operators import ml_calibration
from mysql_public_data_ingestor_spark.operators import ml_ranking
from mysql_public_data_ingestor_spark.registry import all_queries
from mysql_public_data_ingestor_spark.tables import Tables


def _q(name, spark, sf_dir):
    fn = all_queries()[name].fn
    return fn(spark, sf_dir).toPandas()


def _half_up(num: int, den: int, dp: int = 6) -> float:
    s = 10**dp
    mag = (2 * s * abs(num) + den) // (2 * den)
    return (-mag if num < 0 else mag) / s


def _half_up_int(num: int, den: int) -> int:
    mag = (2 * abs(num) + den) // (2 * den)
    return -mag if num < 0 else mag


@pytest.fixture(scope="module")
def lineitem_pdf(spark, sf_dir):
    t = Tables(spark, sf_dir)
    return t.lineitem.select(
        "l_orderkey", "l_partkey", "l_returnflag", "l_quantity"
    ).toPandas()


@pytest.fixture(scope="module")
def orders_pdf(spark, sf_dir):
    t = Tables(spark, sf_dir)
    return t.orders.select("o_orderkey", "o_custkey", "o_orderdate").toPandas()


@pytest.fixture(scope="module")
def copurchase(lineitem_pdf):
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
    return edges, nbrs


def test_cvm_matches_python(spark, sf_dir, lineitem_pdf):
    got = _q("stats_cvm_two_sample", spark, sf_dir).iloc[0]
    df = lineitem_pdf.dropna(subset=["l_quantity"])
    x = df[df["l_returnflag"] == "R"]["l_quantity"].astype(np.int64)
    y = df[df["l_returnflag"] == "N"]["l_quantity"].astype(np.int64)
    n, m = len(x), len(y)
    vals = sorted(set(x) | set(y))
    cx = x.value_counts()
    cy = y.value_counts()
    cumx = cumy = 0
    num = 0
    for v in vals:
        a, b = int(cx.get(v, 0)), int(cy.get(v, 0))
        cumx += a
        cumy += b
        d = cumx * m - cumy * n
        num += (a + b) * d * d
    big_n = n + m
    assert int(got["n"]) == n and int(got["m"]) == m
    assert got["t_cvm"] == _half_up(num, big_n * big_n * n * m, 9)


def test_burstiness_matches_python(spark, sf_dir):
    got = _q("text_term_burstiness_topk", spark, sf_dir)
    t = Tables(spark, sf_dir)
    docs = t.documents.select("doc_id", "text").toPandas()
    per: dict[str, dict[int, int]] = {}
    for did, txt in zip(docs["doc_id"], docs["text"]):
        norm = re.sub(r"\s+", " ", str(txt).lower()).strip()
        for tok in norm.split(" "):
            per.setdefault(tok, {}).setdefault(int(did), 0)
            per[tok][int(did)] += 1
    n_docs = len(docs)
    rows = []
    for tok, dd in per.items():
        tf = sum(dd.values())
        rows.append((tok, tf, len(dd), sum(c * c for c in dd.values())))
    rows.sort(key=lambda r: (-r[1], r[0]))
    top = rows[: roundnine.BURST_TOPK]
    exp = {
        tok: (tf, df, _half_up(n_docs * sc2 - tf * tf, n_docs * tf))
        for tok, tf, df, sc2 in top
    }
    assert set(got["token"]) == set(exp)
    for _, r in got.iterrows():
        tf, df, vmr = exp[r["token"]]
        assert int(r["tf"]) == tf and int(r["df"]) == df
        assert r["burstiness_vmr"] == vmr


def test_interval_union_coverage_matches_python(spark, sf_dir, orders_pdf):
    got = _q("dq_interval_union_coverage", spark, sf_dir).iloc[0]
    epoch = pd.Timestamp("1990-01-01")
    s = (pd.to_datetime(orders_pdf["o_orderdate"]) - epoch).dt.days.astype(int)
    df = pd.DataFrame({"ck": orders_pdf["o_custkey"], "s": s, "e": s + roundnine.COVERAGE_WINDOW_DAYS})
    n_cust = 0
    tot_cov = 0
    max_cov = 0
    tot_span = 0
    n_gaps = 0
    for ck, grp in df.groupby("ck"):
        ivs = sorted(zip(grp["s"], grp["e"]))
        covered = 0
        run_max = None
        for st, en in ivs:
            if run_max is None:
                covered += en - st
            elif run_max >= en:
                pass
            elif run_max >= st:
                covered += en - run_max
            else:
                covered += en - st
            run_max = en if run_max is None else max(run_max, en)
        span = max(e for _, e in ivs) - min(s0 for s0, _ in ivs)
        n_cust += 1
        tot_cov += covered
        max_cov = max(max_cov, covered)
        tot_span += span
        if covered < span:
            n_gaps += 1
    assert int(got["n_customers"]) == n_cust
    assert int(got["total_covered_days"]) == tot_cov
    assert int(got["max_covered_days"]) == max_cov
    assert got["mean_coverage_ratio"] == _half_up(tot_cov, tot_span)
    assert int(got["n_customers_with_gaps"]) == n_gaps


def test_generalization_ladder_matches_python(spark, sf_dir):
    got = _q("privacy_generalization_ladder", spark, sf_dir).set_index("level")
    t = Tables(spark, sf_dir)
    c = t.customer.select("c_nationkey", "c_mktsegment", "c_acctbal").toPandas()
    c["bal_kb"] = np.floor(c["c_acctbal"].to_numpy() / 1000.0).astype(np.int64)
    ladders = {
        0: ["c_nationkey", "c_mktsegment", "bal_kb"],
        1: ["c_nationkey", "c_mktsegment"],
        2: ["c_nationkey"],
    }
    k = roundnine.KANON_K
    for lvl, cols in ladders.items():
        sizes = c.groupby(cols).size()
        row = got.loc[lvl]
        assert int(row["n_classes"]) == len(sizes)
        assert int(row["min_class_size"]) == int(sizes.min())
        assert int(row["n_classes_below_k"]) == int((sizes < k).sum())
        assert int(row["n_rows_below_k"]) == int(sizes[sizes < k].sum())
        assert bool(row["achieves_k"]) == bool((sizes >= k).all())


def test_katz_matches_python(spark, sf_dir, copurchase):
    edges, nbrs = copurchase
    got = _q("graph_katz_centrality_seeds", spark, sf_dir).set_index("seed_part")
    deg = {n: len(v) for n, v in nbrs.items()}
    s2 = {n: sum(deg[b] for b in nbrs[n]) for n in nbrs}
    for seed in sorted(n for n in nbrs if n < graph_centrality.KATZ_SEED_MAX):
        w1 = deg[seed]
        w2 = s2[seed]
        w3 = sum(s2[a] for a in nbrs[seed])
        katz = (
            w1 * graph_centrality.KATZ_W1
            + w2 * graph_centrality.KATZ_W2
            + w3 * graph_centrality.KATZ_W3
        ) / 1e9
        row = got.loc[seed]
        assert int(row["walks_1"]) == w1
        assert int(row["walks_2"]) == w2
        assert int(row["walks_3"]) == w3
        assert row["katz"] == katz


def test_harmonic_matches_python(spark, sf_dir, copurchase):
    edges, nbrs = copurchase
    got = _q("graph_harmonic_closeness_seeds", spark, sf_dir).set_index("seed_part")
    for seed in sorted(n for n in nbrs if n < graph_paths.HARM_SEED_MAX):
        d1 = set(nbrs[seed])
        d2 = set()
        for a in d1:
            d2 |= nbrs[a]
        d2 -= d1 | {seed}
        d3 = set()
        for a in d2:
            d3 |= nbrs[a]
        d3 -= d1 | d2 | {seed}
        h = (
            len(d1) * graph_paths.HARM_R1
            + len(d2) * graph_paths.HARM_R2
            + len(d3) * graph_paths.HARM_R3
        ) / 1e12
        row = got.loc[seed]
        assert int(row["n_dist1"]) == len(d1)
        assert int(row["n_dist2"]) == len(d2)
        assert int(row["n_dist3"]) == len(d3)
        assert row["harmonic_closeness"] == h


def test_brier_decomposition_matches_python(spark, sf_dir):
    got = _q("ml_brier_decomposition", spark, sf_dir).iloc[0]
    from mysql_public_data_ingestor_spark.operators.ml_scores import scored_labeled

    t = Tables(spark, sf_dir)
    sc = scored_labeled(t).select("score_q", "label").toPandas()
    s = ml_calibration.BRIER_SCALE
    q = sc["score_q"].astype(int).to_numpy()
    lab = sc["label"].astype(int).to_numpy()
    dec = np.minimum(q // 1000, 9)
    n = len(q)
    pos = int(lab.sum())
    sq_err = int(sum((int(a) - s * int(b)) ** 2 for a, b in zip(q, lab)))
    sum_rel_u = 0
    sum_res_u = 0
    for k in range(10):
        mask = dec == k
        n_k = int(mask.sum())
        if n_k == 0:
            continue
        pos_k = int(lab[mask].sum())
        sum_q_k = int(q[mask].sum())
        rel_num = (sum_q_k - s * pos_k) ** 2 * 10**9
        sum_rel_u += (2 * rel_num + n_k) // (2 * n_k)
        res_num = (pos_k * n - pos * n_k) ** 2 * 10**9
        sum_res_u += (2 * res_num + n_k) // (2 * n_k)
    assert int(got["n"]) == n and int(got["n_pos"]) == pos
    assert got["brier"] == _half_up(sq_err, n * s * s, 9)
    assert got["reliability"] == _half_up(sum_rel_u, n * s * s * 10**9, 9)
    assert got["resolution"] == _half_up(sum_res_u, n * n * n * 10**9, 9)
    assert got["uncertainty"] == _half_up(pos * (n - pos), n * n, 9)
    # sanity: BS ~ REL - RES + UNC up to within-bin terms
    approx = got["reliability"] - got["resolution"] + got["uncertainty"]
    assert abs(got["brier"] - approx) < 0.05


def test_page_hinkley_matches_python(spark, sf_dir, orders_pdf):
    got = _q("stats_page_hinkley_orders", spark, sf_dir).iloc[0]
    daily = orders_pdf.groupby("o_orderdate").size().sort_index()
    x = [int(v) for v in daily]
    n = len(x)
    s = sum(x)
    m = 0
    run_min = 0
    ph = []
    cur_min = None
    for v in x:
        m += 1000 * n * v - 1000 * s - daily_change.PH_DELTA_MILLI * n
        cur_min = m if cur_min is None else min(cur_min, m)
        ph.append(m - cur_min)
    ph_max = max(ph)
    arg = str(sorted(daily.index)[ph.index(ph_max)])[:10]
    assert int(got["n_days"]) == n
    assert int(got["ph_max_scaled"]) == ph_max
    assert got["ph_max"] == ph_max / (1000.0 * n)
    assert str(got["argmax_day"]) == arg


def test_auc_jackknife_matches_python(spark, sf_dir):
    import hashlib

    from mysql_public_data_ingestor_spark.operators.ml_scores import scored_labeled

    got = _q("ml_auc_jackknife_ci", spark, sf_dir).iloc[0]
    t = Tables(spark, sf_dir)
    sc = scored_labeled(t).select("doc_id", "score_q", "label").toPandas()
    b = ml_ranking.AUC_JK_BUCKETS
    sc["bucket"] = [
        int(hashlib.sha256(str(int(d)).encode()).hexdigest()[:15], 16) % b
        for d in sc["doc_id"]
    ]
    thetas = []
    for lv in range(b):
        sub = sc[sc["bucket"] != lv]
        grp = sub.groupby("score_q").agg(cnt=("label", "size"), cpos=("label", "sum"))
        grp = grp.sort_index()
        cum = 0
        r2 = 0
        n_pos = int(grp["cpos"].sum())
        n_neg = int((grp["cnt"] - grp["cpos"]).sum())
        for _, row in grp.iterrows():
            c, cp = int(row["cnt"]), int(row["cpos"])
            r2 += cp * (2 * cum + c + 1)
            cum += c
        num = (r2 - n_pos * (n_pos + 1)) * 10**9
        den = 2 * n_pos * n_neg
        thetas.append(_half_up_int(num, den))
    nb = len(thetas)
    s1 = sum(thetas)
    s2 = sum(v * v for v in thetas)
    assert int(got["n_buckets"]) == nb
    assert got["auc_jackknife_mean"] == _half_up(s1, nb * 10**9, 9)
    se = math.sqrt((nb - 1) * (nb * s2 - s1 * s1) / (nb * nb)) / 1e9
    assert got["auc_se_jackknife"] == math.floor(se * 1e6 + 0.5) / 1e6


def test_ansari_bradley_matches_python(spark, sf_dir, lineitem_pdf):
    got = _q("stats_ansari_bradley_quantity", spark, sf_dir).iloc[0]
    df = lineitem_pdf.dropna(subset=["l_quantity"])
    x = df[df["l_returnflag"] == "R"]["l_quantity"].astype(np.int64)
    y = df[df["l_returnflag"] == "N"]["l_quantity"].astype(np.int64)
    n, m = len(x), len(y)
    big = n + m
    cx = x.value_counts()
    cy = y.value_counts()
    vals = sorted(set(x) | set(y))
    cum = 0
    ab2 = 0
    for v in vals:
        a, b = int(cx.get(v, 0)), int(cy.get(v, 0))
        r2 = 2 * cum + (a + b) + 1
        s2 = min(r2, 2 * (big + 1) - r2)
        ab2 += a * s2
        cum += a + b
    if big % 2 == 0:
        mean2 = n * (big + 2) // 2
    else:
        mean2 = n * (big + 1) * (big + 1) // (2 * big)
    assert int(got["n"]) == n and int(got["m"]) == m
    assert int(got["ab2"]) == ab2
    assert int(got["ab2_null_mean"]) == mean2


def test_rich_club_matches_python(spark, sf_dir, copurchase):
    edges, nbrs = copurchase
    got = _q("graph_rich_club_coefficient", spark, sf_dir).set_index("k")
    deg = {n: len(v) for n, v in nbrs.items()}
    for k in graph_structure.RICH_CLUB_KS:
        rich = {n for n, d in deg.items() if d > k}
        n_k = len(rich)
        e_k = sum(1 for u, v in edges if u in rich and v in rich)
        row = got.loc[k]
        assert int(row["n_k"]) == n_k
        assert int(row["e_k"]) == e_k
        if n_k >= 2:
            assert row["rich_club_phi"] == _half_up(2 * e_k, n_k * (n_k - 1))
        else:
            assert pd.isna(row["rich_club_phi"])


def test_stickiness_matches_python(spark, sf_dir):
    got = _q("events_dau_mau_stickiness", spark, sf_dir).set_index("month")
    t = Tables(spark, sf_dir)
    ev = t.events.select("ts", "user_id").toPandas()
    ts = pd.to_datetime(ev["ts"])
    ev = ev.assign(month=ts.dt.strftime("%Y-%m"), day=ts.dt.date)
    for month, grp in ev.groupby("month"):
        mau = grp["user_id"].nunique()
        dau = grp.groupby("day")["user_id"].nunique()
        row = got.loc[month]
        assert int(row["n_days"]) == len(dau)
        assert int(row["sum_dau"]) == int(dau.sum())
        assert int(row["mau"]) == mau
        assert row["stickiness"] == _half_up(int(dau.sum()), len(dau) * mau)


def test_sentence_profile_matches_python(spark, sf_dir):
    got = _q("text_sentence_length_profile", spark, sf_dir).set_index("lang")
    t = Tables(spark, sf_dir)
    docs = t.documents.select("lang", "text").toPandas()
    for lang, grp in docs.groupby("lang"):
        lens = []
        for txt in grp["text"]:
            for s in re.split(r"[.!?]+", str(txt)):
                sn = re.sub(r"\s+", " ", s.lower()).strip()
                if sn:
                    lens.append(len(sn.split(" ")))
        row = got.loc[lang]
        assert int(row["n_sentences"]) == len(lens)
        assert int(row["n_tokens"]) == sum(lens)
        assert row["mean_sentence_len"] == _half_up(sum(lens), len(lens))
        assert int(row["max_sentence_len"]) == max(lens)


def test_lsh_recall_audit_matches_op_outputs(spark, sf_dir):
    """Independent check of the audit JOIN: recompute recall by
    collecting the two source operators (each already oracle- and
    replica-verified) and intersecting in Python."""
    from mysql_public_data_ingestor_spark.operators.similarity import (
        TOP_K,
        ann_lsh_topk,
        knn_brute_cosine,
    )

    got = _q("similarity_lsh_recall_audit", spark, sf_dir).iloc[0]
    exact = knn_brute_cosine(spark, sf_dir).select("query_id", "neighbor_id").toPandas()
    lsh = ann_lsh_topk(spark, sf_dir).select("query_id", "neighbor_id").toPandas()
    lset = set(zip(lsh["query_id"], lsh["neighbor_id"]))
    hits_per_q = {}
    for q, nb in zip(exact["query_id"], exact["neighbor_id"]):
        hits_per_q.setdefault(q, 0)
        if (q, nb) in lset:
            hits_per_q[q] += 1
    nq = len(hits_per_q)
    tot = sum(hits_per_q.values())
    assert int(got["n_queries"]) == nq
    assert int(got["k"]) == TOP_K
    assert int(got["n_hits_total"]) == tot
    assert int(got["min_hits_per_query"]) == min(hits_per_q.values())
    assert got["recall_at_k"] == _half_up(tot, nq * TOP_K)


def test_skyline_matches_python(spark, sf_dir):
    got = _q("relational_skyline_pareto", spark, sf_dir)
    t = Tables(spark, sf_dir)
    p = t.part.select("p_partkey", "p_retailprice", "p_size").toPandas().dropna()
    price_c = np.floor(p["p_retailprice"].to_numpy() * 100.0 + 0.5).astype(np.int64)
    size = p["p_size"].astype(np.int64).to_numpy()
    keys = p["p_partkey"].astype(np.int64).to_numpy()
    rows = sorted(zip(price_c, size, keys))
    # brute-force dominance check
    frontier = []
    for pc, sz, k in rows:
        dominated = any(
            (pc2 <= pc and sz2 >= sz and (pc2 < pc or sz2 > sz))
            for pc2, sz2, _ in rows
        )
        if not dominated:
            frontier.append((pc / 100.0, int(sz), int(k)))
    exp = sorted(frontier)
    gotr = sorted(zip(got["price"], got["size"].astype(int), got["partkey"].astype(int)))
    assert gotr == exp


def test_two_way_anova_matches_python(spark, sf_dir, lineitem_pdf, orders_pdf):
    got = _q("stats_two_way_anova_price", spark, sf_dir).set_index("source")
    t = Tables(spark, sf_dir)
    li = t.lineitem.select("l_orderkey", "l_returnflag", "l_extendedprice").toPandas()
    j = li.dropna(subset=["l_extendedprice"]).merge(
        t.orders.select("o_orderkey", "o_orderpriority").toPandas(),
        left_on="l_orderkey",
        right_on="o_orderkey",
    )
    j["x"] = np.floor(j["l_extendedprice"].to_numpy()).astype(np.int64)

    def q_term(T: int, n: int) -> int:
        num = T * T * 10**6
        return (2 * num + n) // (2 * n)

    cells = j.groupby(["l_returnflag", "o_orderpriority"])["x"]
    t_ab = cells.sum()
    n_ab = cells.size()
    sx2 = int(sum(int(x) * int(x) for x in j["x"]))
    q_cells = sum(q_term(int(T), int(n)) for T, n in zip(t_ab, n_ab))
    a_g = j.groupby("l_returnflag")["x"]
    q_as = sum(q_term(int(T), int(n)) for T, n in zip(a_g.sum(), a_g.size()))
    b_g = j.groupby("o_orderpriority")["x"]
    q_bs = sum(q_term(int(T), int(n)) for T, n in zip(b_g.sum(), b_g.size()))
    N = len(j)
    T = int(j["x"].sum())
    q_t = q_term(T, N)
    ka = j["l_returnflag"].nunique()
    kb = j["o_orderpriority"].nunique()
    n_cells = len(t_ab)
    ss = {
        "A:return_flag": (ka - 1, q_as - q_t),
        "B:order_priority": (kb - 1, q_bs - q_t),
        "AxB": ((ka - 1) * (kb - 1), q_cells - q_as - q_bs + q_t),
        "error": (N - n_cells, sx2 * 10**6 - q_cells),
        "total": (N - 1, sx2 * 10**6 - q_t),
    }
    ss = {k: (df, max(v, 0)) for k, (df, v) in ss.items()}
    df_e, ss_e_u = ss["error"]
    for src, (df, ss_u) in ss.items():
        row = got.loc[src]
        assert int(row["df"]) == df
        assert row["ss_micro_units"] == str(ss_u)
        assert row["ms_milli_units"] == str((2 * ss_u + df * 1000) // (2 * df * 1000))
        if src in ("A:return_flag", "B:order_priority", "AxB"):
            assert row["f_stat"] == _half_up(ss_u * df_e, ss_e_u * df)
        else:
            assert pd.isna(row["f_stat"])


def test_ece_matches_python(spark, sf_dir):
    from mysql_public_data_ingestor_spark.operators.ml_scores import scored_labeled

    got = _q("ml_expected_calibration_error", spark, sf_dir).iloc[0]
    t = Tables(spark, sf_dir)
    sc = scored_labeled(t).select("score_q", "label").toPandas()
    s = 10_000
    q = sc["score_q"].astype(int).to_numpy()
    lab = sc["label"].astype(int).to_numpy()
    dec = np.minimum(q // 1000, 9)
    gap_sum = 0
    mce = 0.0
    n_bins = 0
    for k in range(10):
        mask = dec == k
        n_k = int(mask.sum())
        if n_k == 0:
            continue
        n_bins += 1
        gap = abs(int(q[mask].sum()) - s * int(lab[mask].sum()))
        gap_sum += gap
        mce = max(mce, _half_up(gap, s * n_k, 9))
    n = len(q)
    assert int(got["n"]) == n
    assert int(got["n_bins"]) == n_bins
    assert got["ece"] == _half_up(gap_sum, s * n, 9)
    assert got["mce"] == mce


def test_youden_matches_python(spark, sf_dir):
    from mysql_public_data_ingestor_spark.operators.ml_scores import scored_labeled

    got = _q("ml_youden_optimal_threshold", spark, sf_dir).iloc[0]
    t = Tables(spark, sf_dir)
    sc = scored_labeled(t).select("score_q", "label").toPandas()
    grp = sc.groupby("score_q")["label"].agg(["size", "sum"]).sort_index()
    n_pos = int(grp["sum"].sum())
    n_neg = int((grp["size"] - grp["sum"]).sum())
    pos_lt = neg_lt = 0
    best = None
    for score_q, row in grp.iterrows():
        tp, fp = n_pos - pos_lt, n_neg - neg_lt
        tpr_u = (2 * tp * 10**9 + n_pos) // (2 * n_pos)
        fpr_u = (2 * fp * 10**9 + n_neg) // (2 * n_neg)
        cand = (-(tpr_u - fpr_u), int(score_q), tp, fp, pos_lt, neg_lt, tpr_u, fpr_u)
        if best is None or cand < best:
            best = cand
        pos_lt += int(row["sum"])
        neg_lt += int(row["size"] - row["sum"])
    neg_j, thr, tp, fp, fn, tn, tpr_u, fpr_u = best
    assert int(got["threshold_q"]) == thr
    assert (int(got["tp"]), int(got["fp"]), int(got["fn"]), int(got["tn"])) == (
        tp, fp, fn, tn,
    )
    assert got["tpr"] == tpr_u / 1e9
    assert got["fpr"] == fpr_u / 1e9
    assert got["youden_j"] == -neg_j / 1e9


def test_retention_decay_matches_python(spark, sf_dir):
    from mysql_public_data_ingestor_spark.functions.detmath import ref_det_ln_q

    got = _q("events_retention_decay_fit", spark, sf_dir)
    t = Tables(spark, sf_dir)
    ev = t.events.select("user_id", "ts").toPandas()
    ts = pd.to_datetime(ev["ts"])
    week = ts.dt.to_period("W-SUN").dt.start_time  # Monday-start weeks
    df = pd.DataFrame({"u": ev["user_id"], "wk": week})
    first = df.groupby("u")["wk"].min().rename("cw")
    df = df.merge(first, left_on="u", right_index=True)
    df["w"] = ((df["wk"] - df["cw"]).dt.days // 7).astype(int)
    max_week = df["wk"].max()
    df["age"] = ((max_week - df["cw"]).dt.days // 7).astype(int)
    act = df[["u", "w", "age"]].drop_duplicates(subset=["u", "w"])
    pairs = []
    base = df[["u", "cw", "age"]].drop_duplicates(subset=["u"])
    for w, grp in act[(act["w"] >= 1) & (act["age"] >= act["w"])].groupby("w"):
        act_w = len(grp)
        base_w = int((base["age"] >= w).sum())
        if act_w > 0 and base_w > 0:
            y = ref_det_ln_q(act_w / base_w, 9)
            pairs.append((int(w), y))
    n = len(pairs)
    sw = sum(w for w, _ in pairs)
    sww = sum(w * w for w, _ in pairs)
    sy = sum(y for _, y in pairs)
    swy = sum(w * y for w, y in pairs)
    num = n * swy - sw * sy
    den = n * sww - sw * sw
    assert n >= 2 and den > 0
    row = got.iloc[0]
    assert int(row["n_weeks"]) == n
    assert row["slope_ln_per_week"] == _half_up_int(num, den) / 1e9
    assert row["intercept_ln"] == _half_up_int(sy * den - num * sw, n * den) / 1e9
    if num < 0:
        assert row["half_life_weeks"] == _half_up(
            events_users.LN2_U9 * den, -num
        )
    else:
        assert pd.isna(row["half_life_weeks"])


def test_top_value_share_matches_python(spark, sf_dir, orders_pdf):
    got = _q("agg_top_value_share", spark, sf_dir).iloc[0]
    t = Tables(spark, sf_dir)
    o = t.orders.select("o_totalprice").toPandas().dropna()
    cents = sorted(
        np.floor(o["o_totalprice"].to_numpy() * 100.0 + 0.5).astype(np.int64),
        reverse=True,
    )
    n = len(cents)
    total = int(sum(int(c) for c in cents))
    for pct, col in [(1, "share_top1pct"), (10, "share_top10pct")]:
        k = (n + (100 // pct) - 1) // (100 // pct)
        top = int(sum(int(c) for c in cents[:k]))
        assert got[col] == _half_up(top, total)
    assert int(got["n_orders"]) == n


def test_kmv_intersection_matches_python(spark, sf_dir):
    import hashlib

    # NB: columns read directly — a mixed int64/float64 single-row
    # .iloc[0] upcasts to float64 and corrupts 60-bit hash values.
    gdf = _q("sketch_kmv_intersection_users", spark, sf_dir)
    got = {c: gdf[c].iloc[0] for c in gdf.columns}
    t = Tables(spark, sf_dir)
    ev = t.events.select("event_type", "user_id").toPandas()
    k, dom = roundnine.KMV_INT_K, roundnine.KMV_INT_DOMAIN

    def hv_set(etype):
        users = {
            int(u)
            for e, u in zip(ev["event_type"], ev["user_id"])
            if e == etype and not pd.isna(u)
        }
        return users, {
            int(hashlib.sha256(str(u).encode()).hexdigest()[:15], 16) for u in users
        }

    ua, ha = hv_set(roundnine.KMV_SET_A)
    ub, hb = hv_set(roundnine.KMV_SET_B)
    union = sorted(ha | hb)[:k]
    theta, k_eff = max(union), len(union)
    c = sum(1 for h in ha & hb if h <= theta)
    d_true = len(ua & ub)
    d_est = (c * (k - 1) * dom) // (k * theta) if k_eff == k else c
    assert int(got["k_eff"]) == k_eff
    assert int(got["theta"]) == theta
    assert int(got["n_common_under_theta"]) == c
    assert int(got["d_int_est"]) == d_est
    assert int(got["d_true"]) == d_true
    if d_true > 0:
        assert got["rel_error"] == _half_up(abs(d_est - d_true), d_true)


def test_serpentine_matches_python_and_balances(spark, sf_dir):
    got = _q("layout_serpentine_shard_balance", spark, sf_dir).set_index("shard")
    t = Tables(spark, sf_dir)
    docs = t.documents.select("source", "doc_id", "n_chars").toPandas()
    n = roundnine.SERP_N_SHARDS
    totals = {s: 0 for s in range(n)}
    counts = {s: 0 for s in range(n)}
    for _, grp in docs.groupby("source"):
        rows = sorted(zip(-grp["n_chars"], grp["doc_id"], grp["n_chars"]))
        for idx, (_, _, ch) in enumerate(rows):
            r, pos = divmod(idx, n)
            shard = pos if r % 2 == 0 else n - 1 - pos
            totals[shard] += int(ch)
            counts[shard] += 1
    gt = sum(totals.values())
    for s in range(n):
        row = got.loc[s]
        assert int(row["n_docs"]) == counts[s]
        assert int(row["total_chars"]) == totals[s]
        assert row["char_share"] == _half_up(totals[s], gt)
    # balance property: serpentine keeps shard totals within 10% of mean
    mean = gt / n
    assert max(totals.values()) <= 1.1 * mean
    assert min(totals.values()) >= 0.9 * mean
