"""Round-11 direct batch A gate (``operators/roundeleven2.py``):
raw-frame oracle parity, plan bars, and an independent Python replica
for every operator — the same discipline as the roundten2/roundten3
direct batches.
"""

from __future__ import annotations

import math
from collections import defaultdict

import pytest

from mysql_public_data_ingestor_spark.operators import graph_paths
from mysql_public_data_ingestor_spark.operators import daily_spectral
from mysql_public_data_ingestor_spark.operators import events_sequence
from mysql_public_data_ingestor_spark.operators import roundeleven2 as r112
from mysql_public_data_ingestor_spark.tables import Tables
from tools.check_correctness import compare, duck_connection

NAMES = [
    "graph_betweenness_sampled",
    "graph_transitivity_global",
    "events_haar_wavelet_energy",
    "events_pacf_durbin_levinson",
    "events_hill_tail_interevent",
    "corpus_reservoir_sample_audit",
]


def _spec(name):
    from mysql_public_data_ingestor_spark import registry

    registry._ensure_loaded()
    return registry._REGISTRY[name]


def _q(name, spark, sf_dir):
    return _spec(name).fn(spark, sf_dir).toPandas()


def _halfup_int(num: int, den: int) -> int:
    """Signed half-up integer division (den > 0) — the twin of
    functions.exact.halfup_div used across the replicas."""
    mag = (2 * abs(num) + den) // (2 * den)
    return -mag if num < 0 else mag


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


def _adjacency(spark, sf_dir):
    li = (
        Tables(spark, sf_dir)
        .lineitem.select("l_orderkey", "l_partkey")
        .distinct()
        .toPandas()
    )
    by_order: dict = defaultdict(set)
    for r in li.itertuples():
        by_order[r.l_orderkey].add(int(r.l_partkey))
    adj: dict = defaultdict(set)
    for parts in by_order.values():
        ps = sorted(parts)
        for i, a in enumerate(ps):
            for b in ps[i + 1:]:
                adj[a].add(b)
                adj[b].add(a)
    return adj


def test_betweenness_matches_python(spark, sf_dir):
    got = _q("graph_betweenness_sampled", spark, sf_dir)
    adj = _adjacency(spark, sf_dir)
    M = 1_000_000
    exp_rows = {}
    for seed in sorted(n for n in adj if n < graph_paths.BTW_SEED_MAX):
        d1 = set(adj[seed])
        sigma2: dict = defaultdict(int)
        for v in d1:
            for w in adj[v]:
                if w != seed and w not in d1:
                    sigma2[w] += 1
        sigma3: dict = defaultdict(int)
        for w, s2 in sigma2.items():
            for x in adj[w]:
                if x != seed and x not in d1 and x not in sigma2:
                    sigma3[x] += s2
        b: dict = defaultdict(int)
        for v in d1:
            for w in adj[v]:
                if w in sigma2:
                    b[v] += _halfup_int(M, sigma2[w])
        for w, s2 in sigma2.items():
            for tgt in adj[w]:
                if tgt in sigma3:
                    b[w] += _halfup_int(M * s2, sigma3[tgt])
        for v in d1:
            svt: dict = defaultdict(int)
            for w in adj[v]:
                if w in sigma2:
                    for tgt in adj[w]:
                        if tgt in sigma3:
                            svt[tgt] += 1
            for tgt, cnt in svt.items():
                b[v] += _halfup_int(M * cnt, sigma3[tgt])
        total = sum(b.values())
        mx = max(b.values())
        node = min(n for n, val in b.items() if val == mx)
        exp_rows[seed] = (len(b), total, mx, node)
    got_rows = {
        int(r.seed_part): (
            int(r.n_interior),
            int(r.total_micro),
            int(r.max_micro),
            int(r.max_node),
        )
        for r in got.itertuples()
    }
    assert got_rows == exp_rows


def test_transitivity_matches_python(spark, sf_dir):
    got = _q("graph_transitivity_global", spark, sf_dir).iloc[0]
    adj = _adjacency(spark, sf_dir)
    tri = 0
    for a in adj:
        for b in adj[a]:
            if b <= a:
                continue
            tri += sum(1 for c in adj[a] & adj[b] if c > b)
    wedges = sum(len(ns) * (len(ns) - 1) // 2 for ns in adj.values())
    assert int(got["n_triangles"]) == tri
    assert int(got["n_wedges"]) == wedges
    assert got["transitivity"] == _halfup_int(10**6 * 3 * tri, wedges) / 1e6


def _daily(spark, sf_dir, what):
    pdf = Tables(spark, sf_dir).orders.select("o_orderdate", "o_totalprice").toPandas()
    acc: dict = defaultdict(int)
    for r in pdf.itertuples():
        d = r.o_orderdate.date() if hasattr(r.o_orderdate, "date") else r.o_orderdate
        acc[d] += 1 if what == "count" else int(math.floor(r.o_totalprice * 100 + 0.5))
    return [acc[d] for d in sorted(acc)]


def test_haar_matches_python(spark, sf_dir):
    got = _q("events_haar_wavelet_energy", spark, sf_dir).sort_values("level")
    ys = _daily(spark, sf_dir, "cents")
    n = len(ys)
    lmax = n.bit_length() - 1
    ys = ys[: 1 << lmax]
    energies = {}
    for j in range(1, lmax + 1):
        e = 0
        blocks = (1 << lmax) >> j
        for bkt in range(blocks):
            seg = ys[bkt << j: (bkt + 1) << j]
            half = len(seg) // 2
            d = sum(seg[:half]) - sum(seg[half:])
            e += _halfup_int(10**6 * d * d, 1 << j)
        energies[j] = (blocks, e)
    te = sum(e for _, e in energies.values())
    assert list(got["level"]) == list(range(1, lmax + 1))
    for r in got.itertuples():
        blocks, e = energies[int(r.level)]
        assert int(r.n_blocks) == blocks
        assert r.energy_share == _halfup_int(10**6 * e, te) / 1e6


def test_pacf_matches_python_and_numpy(spark, sf_dir):
    got = _q("events_pacf_durbin_levinson", spark, sf_dir).iloc[0]
    ys = _daily(spark, sf_dir, "count")
    n = len(ys)
    s = sum(ys)
    xs = [n * y - s for y in ys]
    c = [sum(a * b for a, b in zip(xs, xs[k:])) for k in range(4)]
    M = daily_spectral.PACF_M
    r1 = _halfup_int(M * c[1], c[0])
    r2 = _halfup_int(M * c[2], c[0])
    r3 = _halfup_int(M * c[3], c[0])
    f22 = _halfup_int(M * (M * r2 - r1 * r1), M * M - r1 * r1)
    f21 = _halfup_int(r1 * (M - f22), M)
    num3 = r3 * M * M - f21 * r2 * M - f22 * r1 * M
    den3 = M * M * M - f21 * r1 * M - f22 * r2 * M
    f33 = _halfup_int(M * num3, den3)
    assert int(got["n_days"]) == n
    assert got["rho1"] == r1 / M and got["rho2"] == r2 / M and got["rho3"] == r3 / M
    assert got["pacf1"] == r1 / M
    assert got["pacf2"] == f22 / M
    assert got["pacf3"] == f33 / M

    # Independent-solver anchor (the shared-derivation rule): the DL
    # recursion must agree with a numpy Toeplitz solve on the exact
    # (unquantized) autocovariances to within the quantization budget.
    import numpy as np

    rho = np.array([c[1] / c[0], c[2] / c[0], c[3] / c[0]])
    for p, gotv in ((1, got["pacf1"]), (2, got["pacf2"]), (3, got["pacf3"])):
        R = np.eye(p)
        for i in range(p):
            for j in range(p):
                if i != j:
                    R[i, j] = rho[abs(i - j) - 1]
        phi = np.linalg.solve(R, rho[:p])
        assert abs(gotv - phi[-1]) < 5e-5, (p, gotv, phi[-1])


def test_hill_matches_python(spark, sf_dir):
    from mysql_public_data_ingestor_spark.functions.detmath import ref_det_ln_q

    got = _q("events_hill_tail_interevent", spark, sf_dir).iloc[0]
    ev = Tables(spark, sf_dir).events.select("user_id", "ts", "event_id").toPandas()
    by_user: dict = defaultdict(list)
    for r in ev.itertuples():
        by_user[r.user_id].append((r.ts, r.event_id))
    gaps = []
    for rows in by_user.values():
        rows.sort()
        for (t0, _), (t1, _) in zip(rows, rows[1:]):
            g = int((t1 - t0).total_seconds() * 1e6 + 0.5)
            if g > 0:
                gaps.append(g)
    gaps.sort(reverse=True)
    top = gaps[: events_sequence.HILL_K + 1]
    lns = [ref_det_ln_q(g) for g in top]
    lk1 = min(lns)
    sm = sum(ln - lk1 for ln in lns)
    k = len(top) - 1
    assert int(got["n_gaps"]) == len(gaps)
    assert int(got["k"]) == k
    assert int(got["threshold_us"]) == min(top)
    assert got["hill_alpha"] == _halfup_int(10**12 * k, sm) / 1e6


def test_reservoir_matches_python(spark, sf_dir):
    got = _q("corpus_reservoir_sample_audit", spark, sf_dir).sort_values("lang")
    docs = Tables(spark, sf_dir).documents.select("doc_id", "lang").toPandas()
    hashed = [
        (((int(r.doc_id) % r112.RES_P) * r112.RES_A + r112.RES_B) % r112.RES_P,
         int(r.doc_id), r.lang)
        for r in docs.itertuples()
    ]
    hashed.sort()
    samp = hashed[: r112.RES_K]
    k = len(samp)
    h_k = max(h for h, _, _ in samp)
    est = _halfup_int((k - 1) * r112.RES_P, h_k)
    n_total = len(hashed)
    corpus: dict = defaultdict(int)
    sample: dict = defaultdict(int)
    for _, _, lang in hashed:
        corpus[lang] += 1
    for _, _, lang in samp:
        sample[lang] += 1
    assert list(got["lang"]) == sorted(corpus)
    for r in got.itertuples():
        assert int(r.n_corpus) == corpus[r.lang]
        assert int(r.n_sample) == sample.get(r.lang, 0)
        assert r.corpus_share == _halfup_int(10**6 * corpus[r.lang], n_total) / 1e6
        assert r.sample_share == _halfup_int(10**6 * sample.get(r.lang, 0), k) / 1e6
        assert int(r.est_population) == est
        assert int(r.n_total) == n_total
