"""Round-12 batch H gate (``operators/roundtwelve3.py``): raw-frame
oracle parity, plan bars, and Python replicas with float anchors.
"""

from __future__ import annotations

import hashlib
import math
from collections import Counter, defaultdict

import pytest

from mysql_public_data_ingestor_spark.operators import roundtwelve3 as r123
from mysql_public_data_ingestor_spark.registry import all_queries
from mysql_public_data_ingestor_spark.tables import Tables
from tools.check_correctness import compare, duck_connection

# The queries this gate covers, by name, so its test ids stay fixed: the
# module's own queries plus the graph queries it registered before the
# graph family moved to ``operators/graph_*.py``.
NAMES = (
    "dedup_cross_source_matrix",
    "embedding_cov_top_eigen_power",
    "graph_clustering_by_degree_curve",
    "privacy_dp_budget_utility_curve",
    "stats_dunn_posthoc_quantity",
)
# (name, fn, oracle, doc) of each
QUERIES = [
    (s.name, s.fn, s.oracle, s.doc) for s in (all_queries()[n] for n in NAMES)
]


def _halfup_int(num: int, den: int) -> int:
    mag = (2 * abs(num) + den) // (2 * den)
    return -mag if num < 0 else mag


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


def test_dunn_matches_python(spark, sf_dir):
    fn, _ = _spec("stats_dunn_posthoc_quantity")
    got = fn(spark, sf_dir).toPandas()
    li = Tables(spark, sf_dir).lineitem.select("l_returnflag", "l_quantity").toPandas()
    vals = [(g, int(v)) for g, v in zip(li["l_returnflag"], li["l_quantity"])]
    dv = Counter(v for _, v in vals)
    cum: dict = {}
    run = 0
    for v in sorted(dv):
        cum[v] = run
        run += dv[v]
    groups = sorted(set(g for g, _ in vals))
    n_g = Counter(g for g, _ in vals)
    r2_g = defaultdict(int)
    for g, v in vals:
        r2_g[g] += 2 * cum[v] + dv[v] + 1
    n = sum(n_g.values())
    tie3 = sum(c**3 - c for c in dv.values())
    cnum = n * (n + 1) * (n - 1) - tie3
    exp_rows = {}
    for i, gi in enumerate(groups):
        for gj in groups[i + 1 :]:
            a = r2_g[gi] * n_g[gj] - r2_g[gj] * n_g[gi]
            # same IEEE-double sequence as both engines (Python floats
            # are IEEE doubles; *, / are correctly rounded)
            z2 = int(
                math.floor(
                    (((3.0 * float(n - 1)) * float(a)) * float(a) * 1000000.0)
                    / float(n_g[gi] * n_g[gj])
                    / float(n_g[gi] + n_g[gj])
                    / float(cnum)
                    + 0.5
                )
            ) * (-1 if a < 0 else 1)
            exp_rows[(gi, gj)] = (
                n_g[gi],
                n_g[gj],
                _halfup_int(10**6 * a, 2 * n_g[gi] * n_g[gj]),
                z2,
            )
    assert len(got) == len(exp_rows)
    for row in got.itertuples():
        ni, nj, rd, z2 = exp_rows[(row.g_i, row.g_j)]
        assert int(row.n_i) == ni and int(row.n_j) == nj
        assert int(row.rank_diff_micro) == rd
        assert int(row.dunn_z_sq_signed_micro) == z2
        # float anchor: z^2 against the textbook Dunn statistic
        ri = r2_g[row.g_i] / (2 * ni)
        rj = r2_g[row.g_j] / (2 * nj)
        var = (n * (n + 1) / 12 - tie3 / (12 * (n - 1))) * (1 / ni + 1 / nj)
        z2_f = (ri - rj) ** 2 / var
        assert abs(abs(z2) / 1e6 - z2_f) < max(1e-4, 1e-4 * z2_f)


def test_cross_source_matches_python(spark, sf_dir):
    fn, _ = _spec("dedup_cross_source_matrix")
    got = fn(spark, sf_dir).toPandas()
    docs = Tables(spark, sf_dir).documents.select("source", "text").toPandas()
    per_s: dict = defaultdict(set)
    for s, txt in zip(docs["source"], docs["text"]):
        per_s[s].add(hashlib.sha256(txt.encode()).hexdigest())
    sources = sorted(per_s)
    exp = {}
    for i, si in enumerate(sources):
        for sj in sources[i + 1 :]:
            shared = len(per_s[si] & per_s[sj])
            union = len(per_s[si]) + len(per_s[sj]) - shared
            exp[(si, sj)] = (len(per_s[si]), len(per_s[sj]), shared, union)
    assert len(got) == len(exp)
    for row in got.itertuples():
        di, dj, shared, union = exp[(row.s_i, row.s_j)]
        assert int(row.n_distinct_i) == di and int(row.n_distinct_j) == dj
        assert int(row.n_shared) == shared
        if union > 0:
            j = _halfup_int(10**6 * shared, union)
            assert int(row.jaccard_micro) == j
            assert abs(j / 1e6 - shared / union) < 1e-5


def test_clustering_curve_matches_python(spark, sf_dir):
    fn, _ = _spec("graph_clustering_by_degree_curve")
    got = fn(spark, sf_dir).toPandas().sort_values("degree_bucket")
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
    buckets: dict = defaultdict(list)
    for v, nbrs in adj.items():
        d = len(nbrs)
        if d < 2:
            continue
        tri = 0
        for x in nbrs:
            tri += len(adj[x] & nbrs)
        tri //= 2
        c_micro = _halfup_int(2_000_000 * tri, d * (d - 1))
        buckets[d.bit_length() - 1].append((d, c_micro, tri))
    assert list(got["degree_bucket"]) == sorted(buckets)
    for row in got.itertuples():
        items = buckets[int(row.degree_bucket)]
        assert int(row.n_nodes) == len(items)
        assert int(row.min_degree) == min(d for d, _, _ in items)
        assert int(row.max_degree) == max(d for d, _, _ in items)
        mean = _halfup_int(sum(c for _, c, _ in items), len(items))
        assert int(row.mean_clustering_micro) == mean
        # float anchor: mean of float per-node coefficients
        mean_f = sum(2 * t / (d * (d - 1)) for d, _, t in items) / len(items)
        assert abs(mean / 1e6 - mean_f) < 2e-6
        assert 0 <= mean <= 10**6


def test_dp_utility_matches_python(spark, sf_dir):
    fn, _ = _spec("privacy_dp_budget_utility_curve")
    got = fn(spark, sf_dir).toPandas().sort_values("eps_micro")
    ev = Tables(spark, sf_dir).events.select("event_type").toPandas()
    cells = Counter(ev["event_type"])
    assert list(got["eps_micro"]) == sorted(r123.DP_EPS_MICRO)
    for row in got.itertuples():
        e = int(row.eps_micro)
        assert int(row.n_cells) == len(cells)
        assert int(row.min_count) == min(cells.values())
        assert int(row.expected_abs_noise_micro) == _halfup_int(10**12, e)
        assert int(row.cells_drowned) == sum(
            1 for c in cells.values() if c * e < 10**12
        )
        assert int(row.worst_rel_err_micro) == _halfup_int(
            10**18, e * min(cells.values())
        )
        # float anchors: E|Lap(1/eps)| = 1/eps; monotone in eps
        eps = e / 1e6
        assert abs(int(row.expected_abs_noise_micro) / 1e6 - 1 / eps) < 1e-5 / eps
    noise = list(got["expected_abs_noise_micro"])
    assert noise == sorted(noise, reverse=True)


def test_eigen_power_matches_python(spark, sf_dir):
    import numpy as np

    fn, _ = _spec("embedding_cov_top_eigen_power")
    got = fn(spark, sf_dir).toPandas().sort_values("rank").reset_index(drop=True)
    emb = Tables(spark, sf_dir).embeddings.select("vec_id", "embedding").toPandas()
    X = [list(map(float, v)) for v in emb["embedding"]]
    n = len(X)
    dim = len(X[0])
    xq = [[int(math.floor(x * 1e6 + 0.5)) for x in row] for row in X]
    means = [
        _halfup_int(sum(row[i] for row in xq), n) for i in range(dim)
    ]
    C = [[row[i] - means[i] for i in range(dim)] for row in xq]
    v = [10**6] * dim
    v_prev = None
    for _t in range(r123.POWER_ITERS):
        s = [sum(c * w for c, w in zip(row, v)) for row in C]
        wv = [sum(C[r][i] * s[r] for r in range(n)) for i in range(dim)]
        m = max(abs(x) for x in wv)
        v_prev = v
        v = [_halfup_int(10**6 * x, m) for x in wv]
    s = [sum(c * w for c, w in zip(row, v)) for row in C]
    num = sum(x * x for x in s)
    den = sum(x * x for x in v)
    lam = _halfup_int(num, 10**6 * den * n)
    delta = max(abs(a - b) for a, b in zip(v, v_prev))
    order = sorted(range(dim), key=lambda i: (-abs(v[i]), i))
    for rank, row in enumerate(got.itertuples(), start=1):
        i = order[rank - 1]
        assert int(row.rank) == rank
        assert int(row.dim) == i + 1
        assert int(row.v_micro) == v[i]
        assert int(row.eigenvalue_micro) == lam
        assert int(row.n_vecs) == n
        assert int(row.delta_micro) == delta
    # numpy anchors (the twin-sided guard): the Rayleigh quotient of ANY
    # vector is a lower bound on the top eigenvalue of the SAME matrix,
    # and must capture a nontrivial share of it
    Cf = np.array(C, dtype=float)
    cov = (Cf.T @ Cf) / n
    lam1 = float(np.linalg.eigh(cov)[0][-1])
    lam1_micro = lam1 / 1e6  # cov is in (1e6 x)^2 units -> micro variance
    assert lam <= lam1_micro * 1.0001 + 1
    assert lam >= 0.5 * lam1_micro
    # and the integer Rayleigh matches the float Rayleigh of the iterate
    vf = np.array(v, dtype=float)
    ray_f = float(vf @ cov @ vf / (vf @ vf)) / 1e6
    assert abs(lam - ray_f) < max(2.0, 1e-4 * ray_f)
