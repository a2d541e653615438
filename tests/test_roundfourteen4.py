"""Round-14 direct batch Y gate (``operators/roundfourteen4.py``):
raw-frame oracle parity, plan bars, and
independent Python replicas with float anchors for the six ops
(weighted PageRank, C4 census, local-bridges audit, PAV reliability
diagram, Chao-Shen entropy, Mantel Jaccard-vs-cosine correlation).
"""

from __future__ import annotations

import hashlib
import math
import re
from collections import Counter, defaultdict
from itertools import combinations

import pytest

from mysql_public_data_ingestor_spark.operators import graph_centrality
from mysql_public_data_ingestor_spark.operators import roundfourteen4 as r144
from mysql_public_data_ingestor_spark.tables import Tables
from tools.check_correctness import compare, duck_connection

NAMES = [
    "graph_pagerank_weighted",
    "graph_square_count_c4",
    "graph_local_bridges_audit",
    "ml_pav_reliability_diagram",
    "corpus_chao_shen_entropy",
    "dedup_mantel_jaccard_cosine",
]


def _spec(name):
    from mysql_public_data_ingestor_spark import registry

    registry._ensure_loaded()
    return registry._REGISTRY[name]


def _halfup_int(num: int, den: int) -> int:
    mag = (2 * abs(num) + den) // (2 * den)
    return -mag if num < 0 else mag


def test_registered_with_oracle():
    for name in NAMES:
        assert _spec(name).oracle is not None, name


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


@pytest.mark.parametrize("name", NAMES)
def test_plan_bars(spark, sf_dir, name):
    from mysql_public_data_ingestor_spark.plans import assert_no_cartesian

    assert_no_cartesian(_spec(name).fn(spark, sf_dir))


# ---------------------------------------------------------------------------
# replicas
# ---------------------------------------------------------------------------


def _wgraph(spark, sf_dir):
    """Weighted undirected co-purchase edges (u < v, co-order count)."""
    pdf = Tables(spark, sf_dir).lineitem.select("l_orderkey", "l_partkey").toPandas()
    by_order = defaultdict(set)
    for o, p in zip(pdf["l_orderkey"], pdf["l_partkey"]):
        by_order[int(o)].add(int(p))
    w = Counter()
    for parts in by_order.values():
        for u, v in combinations(sorted(parts), 2):
            w[(u, v)] += 1
    return w


def test_pagerank_weighted_matches_python(spark, sf_dir):
    w = _wgraph(spark, sf_dir)
    out_w = defaultdict(list)  # u -> [(v, w)]
    strength = Counter()
    for (u, v), c in w.items():
        out_w[u].append((v, c))
        out_w[v].append((u, c))
        strength[u] += c
        strength[v] += c
    nodes = sorted(strength)
    n = len(nodes)
    num, den = graph_centrality.PRW_DAMP_NUM, graph_centrality.PRW_DAMP_DEN
    base = (den - num) * graph_centrality.PRW_SCALE // (den * n)
    rank = {u: graph_centrality.PRW_SCALE // n for u in nodes}
    for _ in range(graph_centrality.PRW_ITERS):
        in_sum = Counter()
        for u in nodes:
            ru = rank[u]
            su = strength[u]
            for v, c in out_w[u]:
                in_sum[v] += int(ru * c / su)  # exact: ru*c < 2^53
        rank = {
            u: base + int(in_sum[u] * num / den)
            for u in nodes
        }
    top = sorted(rank.items(), key=lambda kv: (-kv[1], kv[0]))[: graph_centrality.PRW_TOPK]
    got = _spec("graph_pagerank_weighted").fn(spark, sf_dir).toPandas()
    assert [(int(r.node), int(r.rank_micro)) for r in got.itertuples()] == top
    # float anchor: total rank mass stays within truncation loss of 1.0
    assert 0.5 <= sum(rank.values()) / graph_centrality.PRW_SCALE <= 1.0 + 1e-9


def _adj(spark, sf_dir):
    pdf = Tables(spark, sf_dir).lineitem.select("l_orderkey", "l_partkey").toPandas()
    by_order = defaultdict(set)
    for o, p in zip(pdf["l_orderkey"], pdf["l_partkey"]):
        by_order[int(o)].add(int(p))
    adj = defaultdict(set)
    for parts in by_order.values():
        for u, v in combinations(sorted(parts), 2):
            adj[u].add(v)
            adj[v].add(u)
    return adj


def test_c4_census_matches_python(spark, sf_dir):
    adj = _adj(spark, sf_dir)
    cn = Counter()
    for apex, nbrs in adj.items():
        for x, y in combinations(sorted(nbrs), 2):
            cn[(x, y)] += 1
    n_diag = len(cn)
    n_cn2 = sum(1 for c in cn.values() if c >= 2)
    sum_c2 = sum(c * (c - 1) // 2 for c in cn.values())
    assert sum_c2 % 2 == 0  # every square double-counted by its 2 diagonals
    got = _spec("graph_square_count_c4").fn(spark, sf_dir).toPandas().iloc[0]
    assert int(got["n_diag_pairs"]) == n_diag
    assert int(got["n_pairs_cn2"]) == n_cn2
    assert int(got["n_c4"]) == sum_c2 // 2
    assert int(got["max_cn"]) == max(cn.values())


def test_local_bridges_matches_python(spark, sf_dir):
    adj = _adj(spark, sf_dir)
    rows = {}  # is_bridge -> [n, sum_min_deg, sum_max_deg]
    for u in adj:
        for v in adj[u]:
            if u >= v:
                continue
            is_b = 1 if not (adj[u] & adj[v]) else 0
            du, dv = len(adj[u]), len(adj[v])
            r = rows.setdefault(is_b, [0, 0, 0])
            r[0] += 1
            r[1] += min(du, dv)
            r[2] += max(du, dv)
    got = _spec("graph_local_bridges_audit").fn(spark, sf_dir).toPandas()
    assert list(got["is_bridge"]) == sorted(rows)
    for _, row in got.iterrows():
        n, smn, smx = rows[int(row["is_bridge"])]
        assert int(row["n_edges"]) == n
        assert int(row["mean_min_deg_micro"]) == _halfup_int(10**6 * smn, n)
        assert int(row["mean_max_deg_micro"]) == _halfup_int(10**6 * smx, n)


def _pav_blocks(bins):
    """Independent PAV via the textbook pool-adjacent-violators stack;
    bins = [(bin, n, pos)] sorted by bin. Returns [(n_b, pos_b, bins)]
    in block order."""
    stack = []  # [n, pos, [bin...]]
    for b, n, pos in bins:
        stack.append([n, pos, [b]])
        while len(stack) >= 2 and stack[-2][1] * stack[-1][0] >= stack[-1][1] * stack[-2][0]:
            n2, p2, b2 = stack.pop()
            stack[-1][0] += n2
            stack[-1][1] += p2
            stack[-1][2].extend(b2)
    return stack


def test_pav_reliability_diagram_matches_python(spark, sf_dir):
    from mysql_public_data_ingestor_spark.operators.ml_scores import ISO_BINS, scored_labeled

    t = Tables(spark, sf_dir)
    pdf = scored_labeled(t).select("score_q", "label").toPandas()
    width = 10000 // ISO_BINS
    agg = defaultdict(lambda: [0, 0, 0])  # bin -> [n, pos, ssum]
    for s, lab in zip(pdf["score_q"], pdf["label"]):
        b = min(int(s) // width, ISO_BINS - 1)
        agg[b][0] += 1
        agg[b][1] += int(lab)
        agg[b][2] += int(s)
    bins = sorted((b, n, p) for b, (n, p, _s) in agg.items())
    want = []
    for n_b, pos_b, blist in _pav_blocks(bins):
        ssum_b = sum(agg[b][2] for b in blist)
        fitted = _halfup_int(10**6 * pos_b, n_b)
        mean_s = _halfup_int(100 * ssum_b, n_b)
        want.append((fitted, n_b, pos_b, mean_s, mean_s - fitted))
    want.sort()
    got = _spec("ml_pav_reliability_diagram").fn(spark, sf_dir).toPandas()
    rows = [
        (
            int(r.fitted_micro),
            int(r.n_b),
            int(r.pos_b),
            int(r.mean_score_micro),
            int(r.gap_micro),
        )
        for r in got.itertuples()
    ]
    assert rows == want
    # structural anchors: strictly monotone fitted rates, masses add up
    fits = [r[0] for r in rows]
    assert fits == sorted(set(fits))
    assert sum(r[1] for r in rows) == len(pdf)
    assert sum(r[2] for r in rows) == int(pdf["label"].sum())


def _tf(spark, sf_dir):
    pdf = Tables(spark, sf_dir).documents.select("lang", "text").toPandas()
    ws = re.compile(r"\s+")
    tf = defaultdict(Counter)
    for lang, text in zip(pdf["lang"], pdf["text"]):
        for tok in ws.sub(" ", text.lower()).strip().split(" "):
            tf[lang][tok] += 1
    return tf


def test_chao_shen_matches_python(spark, sf_dir):
    from mysql_public_data_ingestor_spark.functions.detmath import (
        ref_det_ln_fix,
        ref_det_pow_int,
    )

    def ref_ln_dbl(x):
        L = ref_det_ln_fix(x)
        return None if L is None else L * (math.log(2) / 2**30)

    tf = _tf(spark, sf_dir)
    got = _spec("corpus_chao_shen_entropy").fn(spark, sf_dir).toPandas()
    assert list(got["lang"]) == sorted(tf)
    for _, row in got.iterrows():
        c = tf[row["lang"]]
        n = sum(c.values())
        v = len(c)
        v1 = sum(1 for x in c.values() if x == 1)
        grid = Counter(c.values())
        h_plugin = 0
        h_cs = 0
        ccov = 1.0 - v1 / n
        for cnt, vc in grid.items():
            p = cnt / n
            h_plugin -= vc * math.floor(p * ref_ln_dbl(p) * 1e9 + 0.5)
            cp = ccov * p
            q = ref_det_pow_int(1.0 - cp, n)
            h_cs -= vc * math.floor((cp * ref_ln_dbl(cp)) / (1.0 - q) * 1e9 + 0.5)
        assert int(row["n_tokens"]) == n
        assert int(row["vocab"]) == v
        assert int(row["coverage_micro"]) == 10**6 - _halfup_int(10**6 * v1, n)
        assert int(row["h_plugin_nano"]) == h_plugin
        assert int(row["h_mm_nano"]) == h_plugin + _halfup_int(10**9 * (v - 1), 2 * n)
        assert int(row["h_chao_shen_nano"]) == h_cs
        # float anchors: plug-in matches direct entropy; CS >= plug-in
        # (the coverage correction recovers missed mass)
        h_direct = -sum((x / n) * math.log(x / n) for x in c.values())
        assert abs(h_plugin / 1e9 - h_direct) < 1e-5
        assert h_cs >= h_plugin - 1


def test_mantel_matches_python(spark, sf_dir):
    from mysql_public_data_ingestor_spark.operators.dedup import SHINGLE_K

    t = Tables(spark, sf_dir)
    pdf = t.documents.select("doc_id", "lang", "n_chars", "text").toPandas()
    emb = t.embeddings.select("vec_id", "embedding").toPandas()
    qv = {
        int(r.vec_id): [math.floor(float(x) * r144.EMB_Q + 0.5) for x in r.embedding]
        for r in emb.itertuples()
    }
    ws = re.compile(r"\s+")
    docs = []
    for doc_id, lang, n_chars, text in zip(
        pdf["doc_id"], pdf["lang"], pdf["n_chars"], pdf["text"]
    ):
        toks = ws.sub(" ", text.lower()).strip().split(" ")
        shingles = {
            " ".join(toks[i : i + SHINGLE_K])
            for i in range(len(toks) - (SHINGLE_K - 1))
        }
        if not shingles:
            continue
        bset = {
            int(hashlib.sha256(sh.encode()).hexdigest()[:15], 16) for sh in shingles
        }
        q = qv[int(doc_id)]
        nq = sum(x * x for x in q)
        docs.append((int(doc_id), lang, int(n_chars) // 100, bset, q, nq))
    by_block = defaultdict(list)
    for d in docs:
        by_block[(d[1], d[2])].append(d)
    xs, ys = [], []
    for block in by_block.values():
        block.sort()
        for i in range(len(block)):
            for j in range(i + 1, len(block)):
                _, _, _, sa, qa, na = block[i]
                _, _, _, sb, qb, nb = block[j]
                inter = len(sa & sb)
                union = len(sa) + len(sb) - inter
                xs.append(10**6 - _halfup_int(10**6 * inter, union))
                dot = sum(p * q for p, q in zip(qa, qb))
                cos = dot / (math.sqrt(na) * math.sqrt(nb))
                # round-half-away (Spark F.round / DuckDB round on double)
                scaled = cos * 1e6
                y = math.floor(scaled + 0.5) if scaled >= 0 else math.ceil(scaled - 0.5)
                ys.append(10**6 - y)
    n = len(xs)
    sx, sy = sum(xs), sum(ys)
    sxx = sum(x * x for x in xs)
    syy = sum(y * y for y in ys)
    sxy = sum(x * y for x, y in zip(xs, ys))
    got = _spec("dedup_mantel_jaccard_cosine").fn(spark, sf_dir).toPandas().iloc[0]
    assert int(got["n_pairs"]) == n
    assert int(got["mean_jac_dist_micro"]) == _halfup_int(sx, n)
    assert int(got["mean_cos_dist_micro"]) == _halfup_int(sy, n)
    dx = n * sxx - sx * sx
    dy = n * syy - sy * sy
    if dx > 0 and dy > 0:
        r = float(n * sxy - sx * sy) / (math.sqrt(float(dx)) * math.sqrt(float(dy)))
        assert int(got["mantel_r_micro"]) == math.floor(r * 1e6 + 0.5)
        assert -(10**6) <= int(got["mantel_r_micro"]) <= 10**6
    else:
        assert got["mantel_r_micro"] is None or math.isnan(got["mantel_r_micro"])
