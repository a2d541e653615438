"""Round-12 direct batch M gate (``operators/roundtwelve8.py``):
raw-frame oracle parity, plan bars, and
independent Python replicas with float anchors for the five graph /
text ops.
"""

from __future__ import annotations

import math
from collections import Counter, defaultdict
from itertools import combinations

import pytest

from mysql_public_data_ingestor_spark.tables import Tables
from tools.check_correctness import compare, duck_connection

NAMES = [
    "graph_weighted_triangles",
    "graph_attribute_assortativity_brand",
    "graph_avg_neighbor_degree_curve",
    "text_vmeasure_lang_source",
    "text_msttr_segmental",
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


def _baskets(spark, sf_dir):
    pdf = Tables(spark, sf_dir).lineitem.select("l_orderkey", "l_partkey").toPandas()
    by_order = defaultdict(set)
    for o, p in zip(pdf["l_orderkey"], pdf["l_partkey"]):
        by_order[int(o)].add(int(p))
    return by_order


def _graph(spark, sf_dir):
    """Distinct undirected edges + co-order weights."""
    by_order = _baskets(spark, sf_dir)
    w = Counter()
    for parts in by_order.values():
        for u, v in combinations(sorted(parts), 2):
            w[(u, v)] += 1
    return w


def test_weighted_triangles_matches_python(spark, sf_dir):
    w = _graph(spark, sf_dir)
    adj = defaultdict(set)
    for u, v in w:
        adj[u].add(v)
        adj[v].add(u)
    n_tri = 0
    sum_min = sum_max = 0
    for (u, v), _ in w.items():
        for x in adj[u] & adj[v]:
            if x > v:  # canonical u < v < x triangle enumeration
                ws = [w[(u, v)], w[(min(u, x), max(u, x))], w[(min(v, x), max(v, x))]]
                n_tri += 1
                sum_min += min(ws)
                sum_max += max(ws)
    got = _spec("graph_weighted_triangles").fn(spark, sf_dir).toPandas().iloc[0]
    assert int(got["n_triangles"]) == n_tri
    assert int(got["sum_min_w"]) == sum_min
    assert int(got["sum_max_w"]) == sum_max
    if n_tri:
        assert int(got["mean_min_w_micro"]) == _halfup_int(10**6 * sum_min, n_tri)
        # bottleneck <= max by construction
        assert sum_min <= sum_max


def test_brand_assortativity_matches_python(spark, sf_dir):
    w = _graph(spark, sf_dir)
    pdf = Tables(spark, sf_dir).part.select("p_partkey", "p_brand").toPandas()
    brand = dict(zip((int(k) for k in pdf["p_partkey"]), pdf["p_brand"]))
    mix = Counter()
    for u, v in w:
        mix[(brand[u], brand[v])] += 1
        mix[(brand[v], brand[u])] += 1
    m = sum(mix.values())
    tr = sum(c for (x, y), c in mix.items() if x == y)
    rows = Counter()
    for (x, _), c in mix.items():
        rows[x] += c
    sa2 = sum(c * c for c in rows.values())
    got = (
        _spec("graph_attribute_assortativity_brand")
        .fn(spark, sf_dir)
        .toPandas()
        .iloc[0]
    )
    assert int(got["n_brands"]) == len(rows)
    assert int(got["n_edge_ends"]) == m
    assert int(got["n_same_brand_ends"]) == tr
    want = _halfup_int(10**6 * (m * tr - sa2), m * m - sa2)
    assert int(got["assortativity_micro"]) == want
    # float anchor: Newman's categorical formula on normalized mixing
    e_same = tr / m
    ab = sa2 / (m * m)
    r_f = (e_same - ab) / (1 - ab)
    assert abs(want / 1e6 - r_f) < 1e-5
    assert -(10**6) <= want <= 10**6


def test_knn_curve_matches_python(spark, sf_dir):
    w = _graph(spark, sf_dir)
    adj = defaultdict(set)
    for u, v in w:
        adj[u].add(v)
        adj[v].add(u)
    deg = {n: len(s) for n, s in adj.items()}
    by_k = defaultdict(lambda: [0, 0])  # k -> [n_nodes, sum snd]
    for n, s in adj.items():
        by_k[deg[n]][0] += 1
        by_k[deg[n]][1] += sum(deg[x] for x in s)
    got = (
        _spec("graph_avg_neighbor_degree_curve")
        .fn(spark, sf_dir)
        .toPandas()
        .set_index("degree")
    )
    assert set(int(i) for i in got.index) == set(by_k)
    for k, (cnt, ssnd) in by_k.items():
        row = got.loc[k]
        assert int(row["n_nodes"]) == cnt
        assert int(row["avg_neighbor_degree_micro"]) == _halfup_int(
            10**6 * ssnd, k * cnt
        )
    # float anchor on the global mean of knn over nodes
    knn_f = {
        k: ssnd / (k * cnt) for k, (cnt, ssnd) in by_k.items()
    }
    for k in by_k:
        assert (
            abs(int(got.loc[k]["avg_neighbor_degree_micro"]) / 1e6 - knn_f[k]) < 1e-5
        )


def test_vmeasure_matches_python(spark, sf_dir):
    from mysql_public_data_ingestor_spark.functions.detmath import ref_det_ln_q

    pdf = Tables(spark, sf_dir).documents.select("lang", "source").toPandas()
    ck = Counter(zip(pdf["lang"], pdf["source"]))
    cc = Counter()
    kk = Counter()
    for (c, k), n in ck.items():
        cc[c] += n
        kk[k] += n
    n = sum(ck.values())
    w_c = sum(nc * ref_det_ln_q(n / nc) for nc in cc.values())
    w_k = sum(nk * ref_det_ln_q(n / nk) for nk in kk.values())
    w_ckv = sum(nck * ref_det_ln_q(kk[k] / nck) for (c, k), nck in ck.items())
    w_kcv = sum(nck * ref_det_ln_q(cc[c] / nck) for (c, k), nck in ck.items())
    h = _halfup_int(10**6 * (w_c - w_ckv), w_c)
    cm = _halfup_int(10**6 * (w_k - w_kcv), w_k)
    v = _halfup_int(2 * h * cm, h + cm)
    got = _spec("text_vmeasure_lang_source").fn(spark, sf_dir).toPandas().iloc[0]
    assert int(got["n_docs"]) == n
    assert int(got["n_langs"]) == len(cc)
    assert int(got["n_sources"]) == len(kk)
    assert int(got["homogeneity_micro"]) == h
    assert int(got["completeness_micro"]) == cm
    assert int(got["v_measure_micro"]) == v
    # float anchor: textbook entropies
    hC = -sum((x / n) * math.log(x / n) for x in cc.values())
    hK = -sum((x / n) * math.log(x / n) for x in kk.values())
    hCK = sum((x / n) * math.log(kk[k] / x) for (c, k), x in ck.items())
    hKC = sum((x / n) * math.log(cc[c] / x) for (c, k), x in ck.items())
    h_f = 1 - hCK / hC
    c_f = 1 - hKC / hK
    v_f = 2 * h_f * c_f / (h_f + c_f)
    assert abs(h / 1e6 - h_f) < 1e-4
    assert abs(cm / 1e6 - c_f) < 1e-4
    assert abs(v / 1e6 - v_f) < 1e-4
    assert 0 <= v <= 10**6


def test_msttr_matches_python(spark, sf_dir):
    import re

    from mysql_public_data_ingestor_spark.operators.roundtwelve8 import MSTTR_SEG

    pdf = Tables(spark, sf_dir).documents.select("text", "lang").toPandas()
    by_lang = defaultdict(lambda: [0, 0])  # lang -> [n_segments, sum_types]
    for text, lang in zip(pdf["text"], pdf["lang"]):
        toks = re.sub(r"\s+", " ", text.lower()).strip().split(" ")
        n_full = len(toks) // MSTTR_SEG
        for s in range(n_full):
            seg = toks[s * MSTTR_SEG : (s + 1) * MSTTR_SEG]
            by_lang[lang][0] += 1
            by_lang[lang][1] += len(set(seg))
    got = (
        _spec("text_msttr_segmental").fn(spark, sf_dir).toPandas().set_index("lang")
    )
    assert set(got.index) == set(by_lang)
    for lang, (n_seg, s_types) in by_lang.items():
        row = got.loc[lang]
        assert int(row["n_segments"]) == n_seg
        want = _halfup_int(10**6 * s_types, MSTTR_SEG * n_seg)
        assert int(row["msttr_micro"]) == want
        # a TTR lives in (0, 1]
        assert 0 < want <= 10**6
