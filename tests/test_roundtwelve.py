"""Round-12 batch F gate (``operators/roundtwelve.py``): raw-frame
oracle parity, plan bars, and Python replicas with float anchors.
"""

from __future__ import annotations

import hashlib
import math
from collections import Counter, defaultdict

import pytest

from mysql_public_data_ingestor_spark.operators import graph_structure
from mysql_public_data_ingestor_spark.operators import events_series
from mysql_public_data_ingestor_spark.operators import roundtwelve as r12
from mysql_public_data_ingestor_spark.operators import ml_models
from mysql_public_data_ingestor_spark.registry import all_queries
from mysql_public_data_ingestor_spark.tables import Tables
from tools.check_correctness import compare, duck_connection

# The queries this gate covers, by name, so its test ids stay fixed: the
# module's own queries plus the graph queries it registered before the
# graph family moved to ``operators/graph_*.py``.
NAMES = (
    "events_fano_factor_curve",
    "events_spectral_entropy_periods",
    "graph_ktruss_2peel_edges",
    "ml_permutation_importance_score",
    "sketch_bottomk_merge_audit",
    "text_punct_profile_chi2_by_source",
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
        assert name not in seen, f"duplicate queue name {name}"
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


def test_spectral_entropy_matches_python(spark, sf_dir):
    from mysql_public_data_ingestor_spark.functions.detmath import ref_det_ln_q
    from mysql_public_data_ingestor_spark.operators.daily_spectral import (
        PGRAM_COSQ,
        PGRAM_PERIODS,
        PGRAM_SINQ,
    )

    fn, _ = _spec("events_spectral_entropy_periods")
    got = fn(spark, sf_dir).toPandas().sort_values("period")
    pdf = Tables(spark, sf_dir).orders.select("o_orderdate").toPandas()
    acc: dict = defaultdict(int)
    for r in pdf.itertuples():
        d = r.o_orderdate.date() if hasattr(r.o_orderdate, "date") else r.o_orderdate
        acc[d] += 1
    days = sorted(acc.items())
    n = len(days)
    s = sum(y for _, y in days)
    zs = [n * y - s for _, y in days]
    powers = {}
    for p in PGRAM_PERIODS:
        sc = sum(z * PGRAM_COSQ[p][k % p] for k, z in enumerate(zs))
        ss = sum(z * PGRAM_SINQ[p][k % p] for k, z in enumerate(zs))
        powers[p] = sc * sc + ss * ss
    tp = sum(powers.values())
    shares = {p: _halfup_int(10**6 * v, tp) for p, v in powers.items()}
    hraw = sum(
        sm * (13_815_511 - ref_det_ln_q(sm)) for sm in shares.values() if sm > 0
    )
    h_micro = _halfup_int(hraw, 10**6)
    assert list(got["period"]) == sorted(PGRAM_PERIODS)
    for r in got.itertuples():
        assert int(r.share_micro) == shares[int(r.period)]
        assert int(r.spectral_entropy_micro) == h_micro
    # float anchor: H within quantization error of -sum p ln p
    ps = [v / tp for v in powers.values() if v > 0]
    h_f = -sum(p * math.log(p) for p in ps)
    assert abs(h_micro / 1e6 - h_f) < 1e-3
    assert 0 <= h_micro <= int(math.log(3) * 1e6) + 1000


def test_fano_matches_python(spark, sf_dir):
    fn, _ = _spec("events_fano_factor_curve")
    got = fn(spark, sf_dir).toPandas().sort_values("window_h")
    ev = Tables(spark, sf_dir).events.select("ts").toPandas()
    micros = [int(ts.value // 1000) for ts in ev["ts"]]  # ns -> us
    assert list(got["window_h"]) == sorted(events_series.FANO_WINDOWS_H)
    for r in got.itertuples():
        w = int(r.window_h) * 3600 * 1_000_000
        cnt = Counter(us // w for us in micros)
        m = len(cnt)
        sc = sum(cnt.values())
        scc = sum(c * c for c in cnt.values())
        assert int(r.n_buckets) == m
        assert int(r.n_events) == sc
        exp = _halfup_int(10**6 * (m * scc - sc * sc), (m - 1) * sc)
        assert int(r.fano_micro) == exp
        # float anchor
        mean = sc / m
        var = (scc - sc * sc / m) / (m - 1)
        assert abs(exp / 1e6 - var / mean) < 1e-3 * max(1.0, var / mean)


def test_punct_chi2_matches_python(spark, sf_dir):
    fn, _ = _spec("text_punct_profile_chi2_by_source")
    got = fn(spark, sf_dir).toPandas()
    docs = Tables(spark, sf_dir).documents.select("source", "text").toPandas()
    cells: dict = defaultdict(int)
    for r in docs.itertuples():
        for i, ch in enumerate(r12.PUNCT_CLASSES):
            cells[(r.source, i)] += r.text.count(ch)
    cells = {k: v for k, v in cells.items() if v > 0}
    rows = Counter()
    cols = Counter()
    for (src, cls), o in cells.items():
        rows[src] += o
        cols[cls] += o
    n = sum(cells.values())
    assert len(got) == len(cells)
    chi2 = 0.0
    for r in got.itertuples():
        key = (r.source, int(r.cls))
        o = cells[key]
        assert int(r.n_marks) == o
        diff = n * o - rows[key[0]] * cols[key[1]]
        exp = _halfup_int(10**6 * diff * diff, n * rows[key[0]] * cols[key[1]])
        assert int(r.chi2_contrib_micro) == exp
        e = rows[key[0]] * cols[key[1]] / n
        chi2 += (o - e) ** 2 / e
    # float anchor on the statistic total
    assert abs(sum(got["chi2_contrib_micro"]) / 1e6 - chi2) < 1e-2 * max(1.0, chi2)


def test_ktruss_matches_python(spark, sf_dir):
    fn, _ = _spec("graph_ktruss_2peel_edges")
    got = fn(spark, sf_dir).toPandas().sort_values("peel")
    li = (
        Tables(spark, sf_dir)
        .lineitem.select("l_orderkey", "l_partkey")
        .distinct()
        .toPandas()
    )
    by_order: dict = defaultdict(set)
    for r in li.itertuples():
        by_order[r.l_orderkey].add(int(r.l_partkey))
    edges = set()
    for parts in by_order.values():
        ps = sorted(parts)
        for i, a in enumerate(ps):
            for b in ps[i + 1 :]:
                edges.add((a, b))
    adj: dict = defaultdict(set)
    for a, b in edges:
        adj[a].add(b)
        adj[b].add(a)

    def support(es):
        nbrs: dict = defaultdict(set)
        for a, b in es:
            nbrs[a].add(b)
            nbrs[b].add(a)
        return {
            (a, b): len(nbrs[a] & nbrs[b]) for a, b in es
        }

    s_thresh = graph_structure.TRUSS_K - 2
    sup0 = support(edges)
    keep1 = {e for e, sup in sup0.items() if sup >= s_thresh}
    sup1 = support(keep1)
    keep2 = {e for e, sup in sup1.items() if sup >= s_thresh}

    def nodes(es):
        out = set()
        for a, b in es:
            out.add(a)
            out.add(b)
        return len(out)

    exp = [
        (0, len(edges), nodes(edges)),
        (1, len(keep1), nodes(keep1)),
        (2, len(keep2), nodes(keep2)),
    ]
    assert [
        (int(r.peel), int(r.n_edges), int(r.n_nodes)) for r in got.itertuples()
    ] == exp
    # peeling is monotone
    assert len(edges) >= len(keep1) >= len(keep2)


def test_perm_importance_matches_python(spark, sf_dir):
    from mysql_public_data_ingestor_spark.operators.ml_scores import scored_labeled

    fn, _ = _spec("ml_permutation_importance_score")
    got = fn(spark, sf_dir).toPandas().iloc[0]
    scored = scored_labeled(Tables(spark, sf_dir)).select(
        "doc_id", "score_q", "label"
    ).toPandas()
    rows = [
        (int(r.doc_id), int(r.score_q), int(r.label)) for r in scored.itertuples()
    ]

    def auc_midrank(pairs):
        # pairs: [(score, label)]
        bins: dict = defaultdict(lambda: [0, 0])
        for s, l in pairs:
            bins[s][0] += 1
            bins[s][1] += l
        r1x2 = 0
        below = 0
        n1 = n0 = 0
        for s in sorted(bins):
            nb, n1b = bins[s]
            r1x2 += n1b * (2 * below + nb + 1)
            below += nb
            n1 += n1b
            n0 += nb - n1b
        return r1x2, n1, n0

    base_pairs = [(s, l) for _, s, l in rows]
    # bucketed derangement
    per_bucket: dict = defaultdict(list)
    for did, s, l in rows:
        per_bucket[_sha_i64(str(did)) % ml_models.PERM_BUCKETS].append((did, s, l))
    perm_pairs = []
    for bkt, items in per_bucket.items():
        by_id = sorted(items)
        by_sha = sorted(items, key=lambda x: (_sha_i64(str(x[0])), x[0]))
        for (did, _, l), (_, s2, _) in zip(by_id, by_sha):
            perm_pairs.append((s2, l))
    ro, n1, n0 = auc_midrank(base_pairs)
    rp, pn1, pn0 = auc_midrank(perm_pairs)
    assert (pn1, pn0) == (n1, n0)
    num_o = ro - n1 * (n1 + 1)
    num_p = rp - n1 * (n1 + 1)
    den = 2 * n1 * n0
    assert int(got["n_pos"]) == n1 and int(got["n_neg"]) == n0
    assert got["auc"] == _halfup_int(10**6 * num_o, den) / 1e6
    assert got["auc_permuted"] == _halfup_int(10**6 * num_p, den) / 1e6
    assert got["importance"] == _halfup_int(10**6 * (num_o - num_p), den) / 1e6
    # float anchor: mid-rank AUC equals the pairwise-comparison AUC
    pos = [s for s, l in base_pairs if l == 1]
    neg = [s for s, l in base_pairs if l == 0]
    if len(pos) * len(neg) <= 4_000_000:
        wins = sum(
            1.0 if p > q else (0.5 if p == q else 0.0) for p in pos for q in neg
        )
        assert abs(got["auc"] - wins / (len(pos) * len(neg))) < 2e-6
    # the derangement must hover near chance
    assert abs(got["auc_permuted"] - 0.5) < 0.1


def test_bottomk_merge_matches_python(spark, sf_dir):
    fn, _ = _spec("sketch_bottomk_merge_audit")
    got = fn(spark, sf_dir).toPandas().iloc[0]
    docs = Tables(spark, sf_dir).documents.select("doc_id").toPandas()
    hashed = [
        (
            ((int(d) % r12.BKM_P) * r12.BKM_A + r12.BKM_B) % r12.BKM_P,
            int(d),
        )
        for d in docs["doc_id"]
    ]
    s0 = sorted(h for h, d in hashed if d % 2 == 0)[: r12.BKM_K]
    s1 = sorted(h for h, d in hashed if d % 2 == 1)[: r12.BKM_K]
    merged = sorted(s0 + s1)[: r12.BKM_K]
    direct = sorted(h for h, _ in hashed)[: r12.BKM_K]
    assert int(got["k"]) == r12.BKM_K
    assert int(got["n_total"]) == len(hashed)
    assert int(got["thr_merged"]) == max(merged)
    assert int(got["thr_direct"]) == max(direct)
    assert int(got["n_common"]) == len(set(merged) & set(direct))
    assert bool(got["merge_lossless"]) == (
        max(merged) == max(direct) and len(set(merged) & set(direct)) == r12.BKM_K
    )
    assert int(got["est_n"]) == _halfup_int(
        (r12.BKM_K - 1) * r12.BKM_P, max(merged)
    )
    # the merge IS lossless when hash values in the bottom-k region are
    # distinct — true for this fixture (audited, not assumed)
    if len(set(h for h, _ in hashed)) == len(hashed):
        assert bool(got["merge_lossless"])
