"""Round-14 direct batch AD gate (``operators/roundfourteen9.py``):
raw-frame oracle parity, plan bars, and
independent Python replicas with float anchors for the six ops
(kNN reciprocity, friendship paradox, daily recurrence, phi/Yule Q,
Bhattacharyya/Hellinger, bias-corrected Cramer's V).
"""

from __future__ import annotations

import hashlib
import math
import re
from collections import Counter, defaultdict

import pytest

from mysql_public_data_ingestor_spark.tables import Tables
from tools.check_correctness import compare, duck_connection

NAMES = [
    "similarity_knn_reciprocity_audit",
    "graph_friendship_paradox_audit",
    "events_recurrence_rate_daily",
    "stats_phi_yule_q_gates",
    "stats_bhattacharyya_hellinger_priority",
    "stats_cramers_v_bias_corrected",
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


def test_knn_reciprocity_matches_python(spark, sf_dir):
    from mysql_public_data_ingestor_spark.operators.roundtwelve10 import (
        HUB_BUCKETS,
        HUB_K,
        HUB_PER_BUCKET,
    )

    pdf = Tables(spark, sf_dir).embeddings.select("vec_id", "embedding").toPandas()
    sha = lambda s: int(hashlib.sha256(s.encode()).hexdigest()[:15], 16)  # noqa: E731
    by_bkt = defaultdict(list)
    for r in pdf.itertuples():
        vid = int(r.vec_id)
        by_bkt[sha(str(vid)) % HUB_BUCKETS].append((sha(f"hub|{vid}"), vid, r.embedding))
    sample = {}
    for rows in by_bkt.values():
        rows.sort(key=lambda t: (t[0], t[1]))
        for _, vid, emb in rows[:HUB_PER_BUCKET]:
            sample[vid] = [math.floor(float(x) * 1e6 + 0.5) for x in emb]
    ids = sorted(sample)
    cq = {}
    for i, va in enumerate(ids):
        qa = sample[va]
        na = sum(x * x for x in qa)
        for vb in ids[i + 1 :]:
            qb = sample[vb]
            nb = sum(x * x for x in qb)
            if na == 0 or nb == 0:
                continue
            dot = sum(p * q for p, q in zip(qa, qb))
            cq[(va, vb)] = math.floor(dot / (math.sqrt(na) * math.sqrt(nb)) * 1e6)
    knn = {}
    for va in ids:
        cand = []
        for vb in ids:
            if vb == va:
                continue
            c = cq.get((min(va, vb), max(va, vb)))
            if c is not None:
                cand.append((-c, vb))
        cand.sort()
        knn[va] = {vb: r + 1 for r, (_c, vb) in enumerate(cand[:HUB_K])}
    n_directed = sum(len(v) for v in knn.values())
    n_mutual = sum(
        1 for va, nbrs in knn.items() for vb in nbrs if va in knn.get(vb, {})
    )
    n_nn_mutual = sum(
        1
        for va, nbrs in knn.items()
        for vb, r in nbrs.items()
        if r == 1 and knn.get(vb, {}).get(va) == 1
    )
    got = _spec("similarity_knn_reciprocity_audit").fn(spark, sf_dir).toPandas().iloc[0]
    assert int(got["n_sample"]) == len([v for v in knn if knn[v]])
    assert int(got["n_directed"]) == n_directed
    assert int(got["n_mutual"]) == n_mutual
    assert int(got["reciprocity_micro"]) == _halfup_int(
        10**6 * n_mutual, n_directed
    )
    assert int(got["nn_mutual_micro"]) == _halfup_int(
        10**6 * n_nn_mutual, len([v for v in knn if knn[v]])
    )
    # structural anchors: reciprocity in [0, 1]; mutual pairs even in
    # the directed count
    assert 0 <= int(got["reciprocity_micro"]) <= 10**6


def _adj(spark, sf_dir):
    from itertools import combinations

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


def test_friendship_paradox_matches_python(spark, sf_dir):
    adj = _adj(spark, sf_dir)
    degs = [len(v) for v in adj.values()]
    n = len(degs)
    sk = sum(degs)
    sk2 = sum(k * k for k in degs)
    got = _spec("graph_friendship_paradox_audit").fn(spark, sf_dir).toPandas().iloc[0]
    assert int(got["n_nodes"]) == n
    assert int(got["n_edges"]) == sk // 2
    assert int(got["mean_deg_micro"]) == _halfup_int(10**6 * sk, n)
    assert int(got["kappa_micro"]) == _halfup_int(10**6 * sk2, sk)
    assert int(got["paradox_ratio_micro"]) == _halfup_int(10**6 * n * sk2, sk * sk)
    assert int(got["molloy_reed_supercritical"]) == (1 if sk2 > 2 * sk else 0)
    # float anchor: paradox ratio >= 1 (Cauchy-Schwarz)
    assert int(got["paradox_ratio_micro"]) >= 10**6 - 1


def test_recurrence_matches_python(spark, sf_dir):
    pdf = Tables(spark, sf_dir).orders.select("o_orderdate").toPandas()
    daily = Counter(d.date() for d in pdf["o_orderdate"])
    days = sorted(daily)
    ys = [daily[d] for d in days]
    n = len(ys)
    sv = sorted(ys)

    def med_of(vals):
        vals = sorted(vals)
        cnt = Counter(vals)
        cle = 0
        for v in sorted(cnt):
            cle += cnt[v]
            if 2 * cle >= len(vals):
                return v

    m = med_of(ys)
    eps = med_of([abs(y - m) for y in ys])
    rec = set()
    for i in range(n):
        for j in range(i + 1, n):
            if abs(ys[i] - ys[j]) <= eps:
                rec.add((i + 1, j + 1))
    n_rec = len(rec)
    n_chain = sum(1 for (i, j) in rec if (i + 1, j + 1) in rec)
    got = _spec("events_recurrence_rate_daily").fn(spark, sf_dir).toPandas().iloc[0]
    assert int(got["n_days"]) == n
    assert int(got["eps_mad"]) == eps
    assert int(got["n_recurrent_pairs"]) == n_rec
    assert int(got["recurrence_rate_micro"]) == _halfup_int(
        2 * 10**6 * n_rec, n * (n - 1)
    )
    if n_rec:
        assert int(got["determinism_proxy_micro"]) == _halfup_int(
            10**6 * n_chain, n_rec
        )
    # structural anchor: RR in (0, 1]; DET in [0, 1]
    assert 0 < int(got["recurrence_rate_micro"]) <= 10**6


def test_phi_yule_matches_python(spark, sf_dir):
    from mysql_public_data_ingestor_spark.operators.stats_samples import (
        COCHRAN_MIN_SENTENCES,
        MCNEMAR_MIN_CHARS,
        MCNEMAR_MIN_TOKENS,
    )

    pdf = Tables(spark, sf_dir).documents.select("n_chars", "text").toPandas()
    ws = re.compile(r"\s+")
    flags = []
    for n_chars, text in zip(pdf["n_chars"], pdf["text"]):
        toks = ws.sub(" ", text.lower()).strip().split(" ")
        flags.append(
            (
                1 if int(n_chars) >= MCNEMAR_MIN_CHARS else 0,
                1 if len(toks) >= MCNEMAR_MIN_TOKENS else 0,
                1 if text.count(".") >= COCHRAN_MIN_SENTENCES else 0,
            )
        )
    n = len(flags)
    pairs = {
        "chars_tokens": (0, 1),
        "chars_sentences": (0, 2),
        "tokens_sentences": (1, 2),
    }
    got = _spec("stats_phi_yule_q_gates").fn(spark, sf_dir).toPandas()
    assert list(got["pair"]) == sorted(pairs)
    for _, row in got.iterrows():
        xi, yi = pairs[row["pair"]]
        nx = sum(f[xi] for f in flags)
        ny = sum(f[yi] for f in flags)
        n11 = sum(1 for f in flags if f[xi] and f[yi])
        n10, n01 = nx - n11, ny - n11
        n00 = n - nx - ny + n11
        assert (int(row["n11"]), int(row["n10"]), int(row["n01"]), int(row["n00"])) == (
            n11,
            n10,
            n01,
            n00,
        )
        num = n11 * n00 - n10 * n01
        if 0 < nx < n and 0 < ny < n:
            phi = num / (
                math.sqrt(nx) * math.sqrt(n - nx) * math.sqrt(ny) * math.sqrt(n - ny)
            )
            assert int(row["phi_micro"]) == math.floor(phi * 1e6 + 0.5)
            assert -(10**6) <= int(row["phi_micro"]) <= 10**6
        qden = n11 * n00 + n10 * n01
        if qden > 0:
            assert int(row["yule_q_micro"]) == _halfup_int(10**6 * num, qden)


def test_bhattacharyya_matches_python(spark, sf_dir):
    t = Tables(spark, sf_dir)
    pdf = (
        t.lineitem.join(
            t.orders.selectExpr("o_orderkey", "o_orderpriority"),
            t.lineitem.l_orderkey == t.orders.o_orderkey,
        )
        .selectExpr("l_discount", "o_orderpriority")
        .toPandas()
    )
    cells = defaultdict(lambda: [0, 0])
    for disc, prio in zip(pdf["l_discount"], pdf["o_orderpriority"]):
        d = math.floor(disc * 100.0 + 0.5)
        cells[d][0 if prio == "1-URGENT" else 1] += 1
    n1 = sum(v[0] for v in cells.values())
    n2 = sum(v[1] for v in cells.values())
    sq_milli = sum(
        math.floor(math.sqrt(float(c1) * float(c2)) * 1e3 + 0.5)
        for c1, c2 in cells.values()
    )
    bc = sq_milli / 1e3 / (math.sqrt(n1) * math.sqrt(n2))
    got = (
        _spec("stats_bhattacharyya_hellinger_priority")
        .fn(spark, sf_dir)
        .toPandas()
        .iloc[0]
    )
    assert int(got["n_urgent"]) == n1
    assert int(got["n_other"]) == n2
    assert int(got["bhattacharyya_micro"]) == math.floor(bc * 1e6 + 0.5)
    assert int(got["hellinger_micro"]) == math.floor(math.sqrt(1.0 - bc) * 1e6 + 0.5)
    # float anchors: BC in [0, 1]; identical distributions give BC = 1
    assert 0 <= bc <= 1 + 1e-9


def test_cramers_v_corrected_matches_python(spark, sf_dir):
    pdf = (
        Tables(spark, sf_dir)
        .orders.select("o_orderpriority", "o_orderstatus")
        .toPandas()
    )
    grid = Counter(zip(pdf["o_orderpriority"], pdf["o_orderstatus"]))
    rows = Counter()
    cols = Counter()
    for (x, y), c in grid.items():
        rows[x] += c
        cols[y] += c
    n = sum(grid.values())
    r, c_ = len(rows), len(cols)
    chi_pico = sum(
        _halfup_int(10**12 * cc * cc, rows[x] * cols[y])
        for (x, y), cc in grid.items()
    )
    phi2 = chi_pico / 1e12 - 1.0
    corr = (r - 1) * (c_ - 1) / (n - 1)
    rsh = r - ((r - 1) * (r - 1)) // (n - 1)
    csh = c_ - ((c_ - 1) * (c_ - 1)) // (n - 1)
    v = math.sqrt(max(0.0, phi2 - corr) / (min(rsh, csh) - 1))
    got = _spec("stats_cramers_v_bias_corrected").fn(spark, sf_dir).toPandas().iloc[0]
    assert int(got["n"]) == n
    assert (int(got["n_rows"]), int(got["n_cols"])) == (r, c_)
    assert int(got["cramers_v_corrected_micro"]) == math.floor(v * 1e6 + 0.5)
    # float anchors: corrected V below the uncorrected plug-in V
    v_plain = math.sqrt(max(phi2, 0.0) / (min(r, c_) - 1))
    assert v <= v_plain + 1e-9
    assert 0 <= int(got["cramers_v_corrected_micro"]) <= 10**6
