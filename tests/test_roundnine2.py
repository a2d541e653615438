"""Independent Python replicas for the round-9 direct registrations
(``operators/roundnine2.py``) — same pattern as
tests/test_roundnine_replicas.py: the oracle gate
(tools/check_correctness.py) proves cross-engine agreement; these
recompute each statistic from the raw parquet with straight-line
Python and must match exactly at the operator's own quantization.
"""

from __future__ import annotations

import hashlib
import math
import re

import numpy as np
import pandas as pd
import pytest

from mysql_public_data_ingestor_spark.operators import graph_paths
from mysql_public_data_ingestor_spark.operators import roundnine2 as r92
from mysql_public_data_ingestor_spark.functions.detmath import ref_det_ln_q
from mysql_public_data_ingestor_spark.tables import Tables


def _q(name, spark, sf_dir):
    from mysql_public_data_ingestor_spark import registry

    registry._ensure_loaded()
    return registry._REGISTRY[name].fn(spark, sf_dir).toPandas()


def _half_up(num: int, den: int, dp: int = 6) -> float:
    s = 10**dp
    mag = (2 * s * abs(num) + den) // (2 * den)
    return (-mag if num < 0 else mag) / s


def _sha60(s: str) -> int:
    return int(hashlib.sha256(s.encode()).hexdigest()[:15], 16)


def _toks(text: str) -> list[str]:
    return re.sub(r"\s+", " ", text.lower()).strip().split(" ")


@pytest.fixture(scope="module")
def lineitem_pdf(spark, sf_dir):
    t = Tables(spark, sf_dir)
    return t.lineitem.select(
        "l_orderkey",
        "l_partkey",
        "l_linenumber",
        "l_quantity",
        "l_extendedprice",
        "l_discount",
    ).toPandas()


@pytest.fixture(scope="module")
def orders_pdf(spark, sf_dir):
    t = Tables(spark, sf_dir)
    return t.orders.select(
        "o_orderkey", "o_orderdate", "o_orderpriority", "o_totalprice"
    ).toPandas()


@pytest.fixture(scope="module")
def events_pdf(spark, sf_dir):
    t = Tables(spark, sf_dir)
    return t.events.select(
        "event_id", "ts", "user_id", "event_type", "value"
    ).toPandas()


@pytest.fixture(scope="module")
def docs_pdf(spark, sf_dir):
    t = Tables(spark, sf_dir)
    return t.documents.select("doc_id", "text", "lang", "n_chars").toPandas()


def test_quantile_sketch_matches_python(spark, sf_dir, lineitem_pdf):
    got = _q("sketch_rank_sample_quantile_merge", spark, sf_dir)
    got = got.sort_values("q").reset_index(drop=True)
    df = lineitem_pdf.copy()
    df["v"] = (df["l_extendedprice"] * 100 + 0.5).apply(math.floor).astype(np.int64)
    df["shard"] = df["l_orderkey"] % r92.QS_SHARDS
    samples = []  # (v, shard, rn, wt)
    for sh, grp in df.groupby("shard"):
        g = grp.sort_values(["v", "l_orderkey", "l_linenumber"]).reset_index(drop=True)
        n_sh = len(g)
        stride = (n_sh + r92.QS_PER_SHARD - 1) // r92.QS_PER_SHARD
        for i in range(len(g)):
            rn = i + 1
            if rn % stride == 0:
                samples.append((int(g.loc[i, "v"]), int(sh), rn, stride))
    samples.sort(key=lambda x: (x[0], x[1], x[2]))
    w_total = sum(s[3] for s in samples)
    n_total = len(df)
    cw = 0
    cum = []
    for v, sh, rn, wt in samples:
        cw += wt
        cum.append((v, cw))
    for _, row in got.iterrows():
        q = int(row["q"])
        target = (q * w_total + 99) // 100
        est = min(v for v, c in cum if c >= target)
        achieved = int((df["v"] <= est).sum())
        assert int(row["est_cents"]) == est, q
        assert int(row["w_total"]) == w_total
        assert int(row["n_total"]) == n_total
        assert int(row["achieved_rank"]) == achieved
        assert row["rank_err"] == _half_up(
            abs(100 * achieved - q * n_total), 100 * n_total
        )


def test_weighted_sssp_matches_python(spark, sf_dir, lineitem_pdf):
    got = _q("graph_weighted_sssp_seeds", spark, sf_dir)
    li = lineitem_pdf[["l_orderkey", "l_partkey"]].drop_duplicates()
    cnt: dict[tuple[int, int], int] = {}
    for _, grp in li.groupby("l_orderkey"):
        parts = sorted(set(int(p) for p in grp["l_partkey"]))
        for i in range(len(parts)):
            for j in range(i + 1, len(parts)):
                e = (parts[i], parts[j])
                cnt[e] = cnt.get(e, 0) + 1
    wadj: dict[int, list[tuple[int, int]]] = {}
    for (u, v), c in cnt.items():
        w = 1000000 // (c + 1)
        wadj.setdefault(u, []).append((v, w))
        wadj.setdefault(v, []).append((u, w))
    seeds = sorted(u for u in wadj if u < graph_paths.SSSP_SEED_MAX)
    expect = {}
    for s in seeds:
        dist = {s: 0}
        for _ in range(graph_paths.SSSP_ROUNDS):
            nxt = dict(dist)
            for node, d in dist.items():
                for v, w in wadj.get(node, []):
                    nd = d + w
                    if v not in nxt or nd < nxt[v]:
                        nxt[v] = nd
            dist = nxt
        ranked = sorted(
            ((d, n) for n, d in dist.items() if n != s), key=lambda x: (x[0], x[1])
        )[: graph_paths.SSSP_TOPK]
        for rnk, (d, n) in enumerate(ranked, 1):
            expect[(s, n)] = (d, rnk)
    assert len(got) == len(expect)
    for _, row in got.iterrows():
        key = (int(row["seed_part"]), int(row["part"]))
        assert key in expect
        assert (int(row["dist_w"]), int(row["rnk"])) == expect[key]


def test_sequential_patterns_matches_python(spark, sf_dir, events_pdf):
    from mysql_public_data_ingestor_spark.streaming.batch_equivalents import (
        SESSION_GAP_MIN,
    )

    got = _q("events_sequential_patterns_topk", spark, sf_dir)
    ev = events_pdf.copy()
    ev["us"] = pd.to_datetime(ev["ts"]).astype("datetime64[ns]").astype("int64") // 1000
    counts: dict[str, int] = {}
    for _, grp in ev.groupby("user_id"):
        g = grp.sort_values(["us", "event_id"]).reset_index(drop=True)
        sid = 0
        sids = []
        prev = None
        for _, r in g.iterrows():
            if prev is None or int(r["us"]) - prev > SESSION_GAP_MIN * 60_000_000:
                sid += 1
            sids.append(sid)
            prev = int(r["us"])
        for i in range(len(g) - 2):
            if sids[i] == sids[i + 2]:
                p = f"{g.loc[i, 'event_type']}>{g.loc[i+1, 'event_type']}>{g.loc[i+2, 'event_type']}"
                counts[p] = counts.get(p, 0) + 1
    top = sorted(counts.items(), key=lambda kv: (-kv[1], kv[0]))[: r92.SEQPAT_TOPK]
    assert [(r["pattern"], int(r["n"])) for _, r in got.iterrows()] == top


def test_mann_kendall_matches_python(spark, sf_dir, orders_pdf):
    got = _q("stats_mann_kendall_daily", spark, sf_dir).iloc[0]
    daily = orders_pdf.groupby(orders_pdf["o_orderdate"].astype("datetime64[ns]").dt.date).size()
    x = [int(v) for v in daily.sort_index()]
    n = len(x)
    s = sum(
        (1 if x[j] > x[i] else -1 if x[j] < x[i] else 0)
        for i in range(n)
        for j in range(i + 1, n)
    )
    from collections import Counter

    ties = sum(t * (t - 1) * (2 * t + 5) for t in Counter(x).values() if t > 1)
    v18 = n * (n - 1) * (2 * n + 5) - ties
    assert int(got["n_days"]) == n
    assert int(got["s_mk"]) == s
    assert int(got["var_s_x18"]) == v18
    num = float(s - 1 if s > 0 else s + 1 if s < 0 else 0)
    z = num / math.sqrt(v18 / 18.0)
    assert got["z_mk"] == math.floor(z * 1e6 + 0.5) / 1e6


def test_shard_skew_matches_python(spark, sf_dir, docs_pdf):
    got = _q("corpus_shard_skew_audit", spark, sf_dir).sort_values("shard")
    df = docs_pdf.copy()
    df["shard"] = df["doc_id"].apply(lambda d: _sha60(str(d)) % r92.SKEW_N_SHARDS)
    per = df.groupby("shard").agg(n_docs=("doc_id", "count"), total=("n_chars", "sum"))
    t = int(per["total"].sum())
    k = len(per)
    assert len(got) == k
    for _, row in got.iterrows():
        sh = int(row["shard"])
        assert int(row["n_docs"]) == int(per.loc[sh, "n_docs"])
        tc = int(per.loc[sh, "total"])
        assert int(row["total_chars"]) == tc
        assert row["char_share"] == _half_up(tc, t)
        assert row["load_factor"] == _half_up(tc * k, t)


def test_precision_at_k_matches_python(spark, sf_dir):
    from mysql_public_data_ingestor_spark.operators.ml import _scored_labeled

    got = _q("ml_precision_at_k_by_lang", spark, sf_dir)
    t = Tables(spark, sf_dir)
    sc = _scored_labeled(t).toPandas()
    for _, row in got.iterrows():
        g = sc[sc["lang"] == row["lang"]].sort_values(
            ["score_q", "doc_id"], ascending=[False, True]
        )
        n = len(g)
        n_pos = int(g["label"].sum())
        top = g.head(r92.PAK_K)
        k_eff = len(top)
        hits = int(top["label"].sum())
        assert int(row["n"]) == n
        assert int(row["n_pos"]) == n_pos
        assert int(row["k_eff"]) == k_eff
        assert int(row["hits_at_k"]) == hits
        assert row["precision_at_k"] == _half_up(hits, k_eff)
        if n_pos > 0:
            assert row["lift_at_k"] == _half_up(hits * n, k_eff * n_pos)
        else:
            assert pd.isna(row["lift_at_k"])


def test_jonckheere_matches_python(spark, sf_dir, lineitem_pdf, orders_pdf):
    got = _q("stats_jonckheere_terpstra_priority", spark, sf_dir).iloc[0]
    j = lineitem_pdf.dropna(subset=["l_quantity"]).merge(
        orders_pdf, left_on="l_orderkey", right_on="o_orderkey"
    )
    groups = sorted(j["o_orderpriority"].unique())
    vals = {g: [int(v) for v in j[j["o_orderpriority"] == g]["l_quantity"]] for g in groups}
    jt2 = 0
    for a in range(len(groups)):
        for b in range(a + 1, len(groups)):
            from collections import Counter

            ca, cb = Counter(vals[groups[a]]), Counter(vals[groups[b]])
            for va, na in ca.items():
                for vb, nb_ in cb.items():
                    if va < vb:
                        jt2 += 2 * na * nb_
                    elif va == vb:
                        jt2 += na * nb_
    ns = [len(vals[g]) for g in groups]
    n = sum(ns)
    from collections import Counter

    tv = Counter(v for g in groups for v in vals[g])
    e4 = n * n - sum(x * x for x in ns)
    ga = sum(x * (x - 1) * (2 * x + 5) for x in ns)
    gb = sum(x * (x - 1) * (x - 2) for x in ns)
    gd = sum(x * (x - 1) for x in ns)
    ta = sum(t * (t - 1) * (2 * t + 5) for t in tv.values())
    tb = sum(t * (t - 1) * (t - 2) for t in tv.values())
    td = sum(t * (t - 1) for t in tv.values())
    var = (
        float(n * (n - 1) * (2 * n + 5) - ga - ta) / 72.0
        + (float(gb) * float(tb)) / (36.0 * float(n * (n - 1) * (n - 2)))
        + (float(gd) * float(td)) / (8.0 * float(n * (n - 1)))
    )
    z = float(2 * jt2 - e4) / (4.0 * math.sqrt(var))
    assert int(got["n_total"]) == n
    assert int(got["jt2"]) == jt2
    assert int(got["e_jt_x4"]) == e4
    assert got["z_jt"] == math.floor(z * 1e6 + 0.5) / 1e6


def test_bartlett_matches_python(spark, sf_dir, orders_pdf):
    got = _q("stats_bartlett_variance_priority", spark, sf_dir).iloc[0]
    df = orders_pdf.copy()
    df["x"] = (df["o_totalprice"] * 100 + 0.5).apply(math.floor).astype(np.int64)
    ss_sum = 0
    slg = 0
    inv = 0
    n = k = 0
    for g, grp in df.groupby("o_orderpriority"):
        ng = len(grp)
        if ng < 2:
            continue
        s = int(grp["x"].sum())
        qq = int((grp["x"].astype(object) ** 2).sum())
        ssnum = ng * qq - s * s
        s2 = ssnum // (ng * (ng - 1))
        ss_sum += ssnum // ng
        slg += (ng - 1) * ref_det_ln_q(s2)
        inv += 10**18 // (ng - 1)
        n += ng
        k += 1
    sp2 = ss_sum // (n - k)
    lp = ref_det_ln_q(sp2)
    t_num = float((n - k) * lp - slg) / 1000000.0
    c = 1.0 + ((float(inv) - float(10**18 // (n - k))) / 1e18) / (3.0 * (k - 1))
    assert int(got["k_groups"]) == k
    assert int(got["n_total"]) == n
    assert int(got["pooled_var_cents2"]) == sp2
    assert got["t_bartlett"] == math.floor(t_num / c * 1e6 + 0.5) / 1e6


def test_partial_correlation_matches_python(spark, sf_dir, lineitem_pdf):
    got = _q("stats_partial_correlation_price", spark, sf_dir).iloc[0]
    df = lineitem_pdf.dropna(subset=["l_extendedprice", "l_quantity", "l_discount"])
    x = [(int(math.floor(v * 100 + 0.5))) for v in df["l_extendedprice"]]
    y = [int(v) for v in df["l_quantity"]]
    z = [(int(math.floor(v * 100 + 0.5))) for v in df["l_discount"]]
    n = len(x)

    def r(a, b):
        sa, sb = sum(a), sum(b)
        sab = sum(ai * bi for ai, bi in zip(a, b))
        saa = sum(ai * ai for ai in a)
        sbb = sum(bi * bi for bi in b)
        num = float(n) * float(sab) - float(sa) * float(sb)
        den = math.sqrt(
            (float(n) * float(saa) - float(sa) * float(sa))
            * (float(n) * float(sbb) - float(sb) * float(sb))
        )
        return num / den

    rxy, rxz, ryz = r(x, y), r(x, z), r(y, z)

    # Independent-solver anchor (VERDICT r10 item 6): the hand-typed
    # Pearson formula above could replicate a derivation bug into all
    # three engines; numpy's corrcoef cannot share it.
    import numpy as np

    assert abs(rxy - np.corrcoef(x, y)[0, 1]) < 1e-9
    assert abs(rxz - np.corrcoef(x, z)[0, 1]) < 1e-9
    assert abs(ryz - np.corrcoef(y, z)[0, 1]) < 1e-9

    def q6(v):
        return math.floor(v * 1e6 + 0.5) / 1e6

    assert int(got["n_rows"]) == n
    assert got["r_xy"] == q6(rxy)
    assert got["r_xz"] == q6(rxz)
    assert got["r_yz"] == q6(ryz)
    pden = (1.0 - rxz * rxz) * (1.0 - ryz * ryz)
    assert got["r_xy_given_z"] == q6((rxy - rxz * ryz) / math.sqrt(pden))


def test_cronbach_matches_python(spark, sf_dir, docs_pdf):
    from mysql_public_data_ingestor_spark.operators.roundeight import (
        COCHRAN_MIN_SENTENCES,
        MCNEMAR_MIN_CHARS,
        MCNEMAR_MIN_TOKENS,
    )

    got = _q("stats_cronbach_alpha_gates", spark, sf_dir).iloc[0]
    a = (docs_pdf["n_chars"] >= MCNEMAR_MIN_CHARS).astype(int)
    b = docs_pdf["text"].apply(lambda s: int(len(_toks(s)) >= MCNEMAR_MIN_TOKENS))
    c = docs_pdf["text"].apply(lambda s: int(s.count(".") >= COCHRAN_MIN_SENTENCES))
    n = len(docs_pdf)
    ga, gb, gc = int(a.sum()), int(b.sum()), int(c.sum())
    ls = a + b + c
    sl, sll = int(ls.sum()), int((ls * ls).sum())
    vt = n * sll - sl * sl
    vi = (n * ga - ga * ga) + (n * gb - gb * gb) + (n * gc - gc * gc)
    assert int(got["n_docs"]) == n
    assert (int(got["g_a"]), int(got["g_b"]), int(got["g_c"])) == (ga, gb, gc)
    assert got["cronbach_alpha"] == _half_up(3 * (vt - vi), 2 * vt)


def test_gumbel_matches_python(spark, sf_dir, events_pdf):
    got = _q("stats_gumbel_daily_max_fit", spark, sf_dir).iloc[0]
    ev = events_pdf.dropna(subset=["value"]).copy()
    ev["day"] = pd.to_datetime(ev["ts"]).astype("datetime64[ns]").dt.date
    ev["mu"] = (ev["value"] * 1e6 + 0.5).apply(math.floor).astype(np.int64)
    daily = ev.groupby("day")["mu"].max()
    m = [int(v) for v in daily]
    n = len(m)
    s, q = sum(m), sum(v * v for v in m)
    beta_micro = math.sqrt(
        6.0 * (float(n) * float(q) - float(s) * float(s)) / (float(n) * (float(n) - 1.0))
    ) / r92.GUMBEL_PI

    def q6(v):
        return math.floor(v * 1e6 + 0.5) / 1e6

    assert int(got["n_days"]) == n
    assert got["mean_max"] == _half_up(s, n * 10**6)
    assert got["gumbel_beta"] == q6(beta_micro / 1e6)
    assert got["gumbel_mu"] == q6((float(s) / float(n) - r92.GUMBEL_GAMMA * beta_micro) / 1e6)


def test_pot_clusters_matches_python(spark, sf_dir, orders_pdf):
    got = _q("events_peak_over_threshold_clusters", spark, sf_dir).iloc[0]
    daily = orders_pdf.groupby(
        orders_pdf["o_orderdate"].astype("datetime64[ns]").dt.date
    ).size()
    days = sorted(daily.index)
    n, s = len(days), int(daily.sum())
    exceed = [d for d in days if 4 * n * int(daily[d]) > 5 * s]
    clusters = []
    for i, d in enumerate(exceed):
        if i == 0 or (d - exceed[i - 1]).days > 1:
            clusters.append(1)
        else:
            clusters[-1] += 1
    assert int(got["n_days"]) == n
    assert int(got["n_exceed"]) == len(exceed)
    assert int(got["n_clusters"]) == len(clusters)
    assert int(got["max_cluster_len"]) == (max(clusters) if clusters else 0)
    assert got["threshold"] == _half_up(5 * s, 4 * n)


def test_heaps_matches_python(spark, sf_dir, docs_pdf):
    got = _q("text_heaps_law_fit", spark, sf_dir).iloc[0]
    firsts: dict[str, int] = {}
    for _, r in docs_pdf.iterrows():
        did = int(r["doc_id"])
        for tok in _toks(r["text"]):
            if tok not in firsts or did < firsts[tok]:
                firsts[tok] = did
    mx = int(docs_pdf["doc_id"].max())
    pts = []
    for p in range(1, r92.HEAPS_POINTS + 1):
        thr = (p * mx) // r92.HEAPS_POINTS
        nj = int((docs_pdf["doc_id"] <= thr).sum())
        vj = sum(1 for d in firsts.values() if d <= thr)
        if nj > 0 and vj > 0:
            pts.append((ref_det_ln_q(nj), ref_det_ln_q(vj)))
    m = len(pts)
    sx = sum(p[0] for p in pts)
    sy = sum(p[1] for p in pts)
    sxy = sum(p[0] * p[1] for p in pts)
    sxx = sum(p[0] * p[0] for p in pts)
    beta = float(m * sxy - sx * sy) / float(m * sxx - sx * sx)

    # Independent-solver anchor (VERDICT r10 item 6): pin the hand-typed
    # log-log OLS slope against numpy's least-squares fit.
    import numpy as np

    np_beta, np_lnk = np.polyfit([p[0] for p in pts], [p[1] for p in pts], 1)
    assert abs(beta - np_beta) < 1e-9 * max(1.0, abs(np_beta))
    assert abs((float(sy) - beta * float(sx)) / m - np_lnk) < 1e-6 * max(
        1.0, abs(np_lnk)
    )

    def q6(v):
        return math.floor(v * 1e6 + 0.5) / 1e6

    assert int(got["n_points"]) == m
    assert got["heaps_beta"] == q6(beta)
    assert got["heaps_ln_k"] == q6(((float(sy) - beta * float(sx)) / m) / 1e6)


def test_vocab_jaccard_matches_python(spark, sf_dir, docs_pdf):
    got = _q("text_lang_vocab_jaccard", spark, sf_dir)
    vocab: dict[str, set] = {}
    for _, r in docs_pdf.iterrows():
        vocab.setdefault(r["lang"], set()).update(_toks(r["text"]))
    langs = sorted(vocab)
    expect = {}
    for i in range(len(langs)):
        for j in range(i + 1, len(langs)):
            a, b = langs[i], langs[j]
            inter = len(vocab[a] & vocab[b])
            expect[(a, b)] = (
                len(vocab[a]),
                len(vocab[b]),
                inter,
                _half_up(inter, len(vocab[a]) + len(vocab[b]) - inter),
            )
    assert len(got) == len(expect)
    for _, row in got.iterrows():
        key = (row["lang_a"], row["lang_b"])
        va, vb, ni, ja = expect[key]
        assert (int(row["v_a"]), int(row["v_b"]), int(row["n_inter"])) == (va, vb, ni)
        assert row["jaccard"] == ja


def test_split_kl_matches_python(spark, sf_dir, docs_pdf):
    from mysql_public_data_ingestor_spark.operators.corpus import TRAIN_CUT, VAL_CUT

    got = _q("corpus_split_balance_kl", spark, sf_dir).sort_values("split")
    df = docs_pdf.copy()
    df["bucketn"] = df["n_chars"] // r92.KLB_BUCKET_CHARS
    df["split"] = df["doc_id"].apply(
        lambda d: "train"
        if _sha60(str(d)) % 100 < TRAIN_CUT
        else ("val" if _sha60(str(d)) % 100 < VAL_CUT else "test")
    )
    buckets = sorted(df["bucketn"].unique())
    bcount = len(buckets)
    counts = {
        (sp, bk): int(((df["split"] == sp) & (df["bucketn"] == bk)).sum())
        for sp in df["split"].unique()
        for bk in buckets
    }
    tots = {sp: int((df["split"] == sp).sum()) for sp in df["split"].unique()}
    for _, row in got.iterrows():
        sp = row["split"]
        np_ = tots[sp] + bcount
        nq = tots["train"] + bcount
        tsum = 0
        for bk in buckets:
            cp = counts.get((sp, bk), 0) + 1
            cq = counts.get(("train", bk), 0) + 1
            l1 = ref_det_ln_q(cp * nq)
            l2 = ref_det_ln_q(cq * np_)
            tsum += cp * (l1 - l2)
        assert int(row["n_smoothed"]) == np_
        assert row["kl_vs_train"] == _half_up(tsum, np_ * 10**6)


def test_uplift_matches_python(spark, sf_dir, events_pdf):
    got = _q("ml_uplift_by_engagement_tier", spark, sf_dir).sort_values("tier")
    usr = events_pdf.groupby("user_id").agg(
        n_views=("event_type", lambda s: int((s == "view").sum())),
        converted=("event_type", lambda s: int((s == "purchase").any())),
    )
    usr["treat"] = [int(_sha60(str(u)) % 2) for u in usr.index]
    usr["tier"] = usr["n_views"].clip(upper=r92.UPLIFT_MAX_TIER)
    for _, row in got.iterrows():
        g = usr[usr["tier"] == int(row["tier"])]
        nt = int((g["treat"] == 1).sum())
        ct = int(g[g["treat"] == 1]["converted"].sum())
        nc = int((g["treat"] == 0).sum())
        cc = int(g[g["treat"] == 0]["converted"].sum())
        assert (int(row["n_t"]), int(row["c_t"]), int(row["n_c"]), int(row["c_c"])) == (
            nt,
            ct,
            nc,
            cc,
        )
        if nt > 0 and nc > 0:
            assert row["uplift"] == _half_up(ct * nc - cc * nt, nt * nc)
        else:
            assert pd.isna(row["uplift"])


def test_anderson_darling_matches_python(spark, sf_dir, lineitem_pdf, orders_pdf):
    from mysql_public_data_ingestor_spark.tables import Tables

    got = _q("stats_anderson_darling_quantity", spark, sf_dir).iloc[0]
    t = Tables(spark, sf_dir)
    li = t.lineitem.select("l_returnflag", "l_quantity").toPandas()
    li = li[li["l_returnflag"].isin(["R", "N"])].dropna(subset=["l_quantity"])
    from collections import Counter

    cx = Counter(int(v) for v in li[li["l_returnflag"] == "R"]["l_quantity"])
    cy = Counter(int(v) for v in li[li["l_returnflag"] == "N"]["l_quantity"])
    n, m = sum(cx.values()), sum(cy.values())
    nn = n + m
    cumx = cumy = cumt = 0
    total = 0
    for v in sorted(set(cx) | set(cy)):
        ct = cx.get(v, 0) + cy.get(v, 0)
        cumx += cx.get(v, 0)
        cumy += cy.get(v, 0)
        cumt += ct
        if cumt < nn:
            diff = m * cumx - n * cumy
            den = n * m * cumt * (nn - cumt)
            total += (2 * 10**9 * diff * diff * ct + den) // (2 * den)
    assert int(got["n_returned"]) == n
    assert int(got["n_other"]) == m
    assert int(got["ad2_nano"]) == total
    assert got["ad2"] == total / 1e9


def test_lognormal_fit_matches_python(spark, sf_dir, docs_pdf):
    got = _q("corpus_doclen_lognormal_fit", spark, sf_dir).iloc[0]
    ls = [ref_det_ln_q(int(v)) for v in docs_pdf["n_chars"] if v >= 1]
    n = len(ls)
    sl, sll = sum(ls), sum(v * v for v in ls)
    assert int(got["n_docs"]) == n
    assert got["ln_mu"] == _half_up(sl, n * 10**6)
    sig = math.sqrt(float(n * sll - sl * sl) / (float(n) * (float(n) - 1.0))) / 1e6
    assert got["ln_sigma"] == math.floor(sig * 1e6 + 0.5) / 1e6


def test_candidate_key_matches_python(spark, sf_dir):
    from mysql_public_data_ingestor_spark.tables import Tables

    got = _q("dq_candidate_key_discovery", spark, sf_dir).sort_values("column_name")
    t = Tables(spark, sf_dir)
    od = t.orders.select(*r92.CK_COLUMNS).toPandas()
    n = len(od)
    for _, row in got.iterrows():
        c = row["column_name"]
        d = int(od[c].nunique())
        assert int(row["n_distinct"]) == d, c
        assert int(row["n_rows"]) == n
        assert int(row["is_candidate_key"]) == int(d == n)
        assert row["uniqueness"] == _half_up(d, n)
