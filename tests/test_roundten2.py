"""Round-10 direct-registration gate (``operators/roundten2.py``):
raw-frame oracle parity, registry-wide plan bars, and an independent
Python replica for every operator — the same discipline as the
roundtenb queue gate, applied to the direct batch.
"""

from __future__ import annotations

import math

import pytest

from mysql_public_data_ingestor_spark.operators import graph_paths
from mysql_public_data_ingestor_spark.operators import roundten2
from mysql_public_data_ingestor_spark.tables import Tables
from tools.check_correctness import compare, duck_connection

NAMES = [
    "sketch_ddsketch_quantiles",
    "events_cohort_retention_matrix",
    "corpus_stratified_sample_audit",
    "events_funnel_path_signatures",
    "stats_quade_nation_priority",
    "stats_total_variation_segment_pairs",
    "ml_conformal_threshold_by_lang",
    "dq_bloom_fpp_audit",
    "events_variance_ratio_test",
    "events_user_activity_lorenz_deciles",
    "graph_stress_centrality_seeds",
    "stats_runs_up_down_daily",
    "embedding_dim_correlation_topk",
    "corpus_dedup_cluster_powerlaw",
    "ml_gains_at_capacity",
    "stats_cusum_squares_changepoint",
    "dedup_lsh_band_tuning_curve",
    "stats_mantel_haenszel_priority_nation",
    "events_rfm_transition_matrix",
    "privacy_k_map_risk_audit",
    "similarity_cosine_pair_histogram",
    "text_unigram_js_lang_pairs",
    "stats_permutation_test_ab",
    "sketch_kmv_difference_users",
    "events_asof_nearest_attribution",
]


def test_batch_registered_with_oracles():
    from mysql_public_data_ingestor_spark import registry

    registry._ensure_loaded()
    missing = [n for n in NAMES if n not in registry._REGISTRY]
    assert not missing, f"not registered: {missing}"
    no_oracle = [n for n in NAMES if registry._REGISTRY[n].oracle is None]
    assert not no_oracle, f"registered without oracle: {no_oracle}"


def _spec(name):
    from mysql_public_data_ingestor_spark import registry

    registry._ensure_loaded()
    return registry._REGISTRY[name]


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


def _sp_consumers(plan: str) -> list[str]:
    import re

    lines = plan.splitlines()
    out = []
    for i, line in enumerate(lines):
        if "Exchange SinglePartition" not in line:
            continue
        if "REPARTITION_BY_NUM" in line:
            continue
        for j in range(i - 1, -1, -1):
            m = re.match(r"\s*[:+\-\s]*([A-Za-z]+)", lines[j])
            if m and m.group(1) != "Exchange":
                out.append(m.group(1))
                break
    return out


def test_batch_single_partition_only_feeds_final_aggregates(spark, sf_dir):
    from mysql_public_data_ingestor_spark.plans import physical_plan

    offenders = {}
    for name in NAMES:
        plan = physical_plan(_spec(name).fn(spark, sf_dir))
        bad = [
            c
            for c in _sp_consumers(plan)
            if c not in ("HashAggregate", "ObjectHashAggregate", "SortAggregate")
        ]
        if bad:
            offenders[name] = bad
    assert not offenders, offenders


def test_batch_no_cartesian_products(spark, sf_dir):
    from mysql_public_data_ingestor_spark.plans import assert_no_cartesian

    offenders = []
    for name in NAMES:
        try:
            assert_no_cartesian(_spec(name).fn(spark, sf_dir))
        except AssertionError:
            offenders.append(name)
    assert not offenders, offenders


# --- Python replicas ------------------------------------------------------


def _q(name, spark, sf_dir):
    return _spec(name).fn(spark, sf_dir).toPandas()


def _half_up(num: int, den: int, dp: int = 6) -> float:
    s = 10**dp
    mag = (2 * s * abs(num) + den) // (2 * den)
    return (-mag if num < 0 else mag) / s


def _sha60(s: str) -> int:
    import hashlib

    return int(hashlib.sha256(s.encode()).hexdigest()[:15], 16)


def test_ddsketch_matches_python(spark, sf_dir):
    got = _q("sketch_ddsketch_quantiles", spark, sf_dir).sort_values("q")
    t = Tables(spark, sf_dir)
    vs = [
        int(math.floor(v * 100 + 0.5))
        for v in t.lineitem.select("l_extendedprice").toPandas()["l_extendedprice"]
    ]
    vs = [v for v in vs if v >= 1]
    n = len(vs)
    sub = roundten2.DD_SUB
    from collections import Counter

    def bucket(v):
        e = v.bit_length() - 1
        return e * sub + ((v - (1 << e)) * sub) // (1 << e)

    counts = Counter(bucket(v) for v in vs)
    order = sorted(counts)
    for _, row in got.iterrows():
        q = int(row["q"])
        k = (q * n + 99) // 100
        cc = 0
        bkt = None
        for b in order:
            cc += counts[b]
            if cc >= k:
                bkt = b
                break
        e, sb = bkt // sub, bkt % sub
        rep = ((1 << e) * 32 + (2 * sb + 1) * (1 << e)) // 32
        ach = sum(1 for v in vs if v <= rep)
        assert int(row["bucket"]) == bkt, q
        assert int(row["est_cents"]) == rep, q
        assert int(row["n_total"]) == n
        assert int(row["achieved_rank"]) == ach, q
        assert row["rank_err"] == _half_up(abs(100 * ach - q * n), 100 * n), q
        # the sketch's contract: <=1/32 relative value error vs the
        # exact nearest-rank quantile
        exact = sorted(vs)[k - 1]
        assert abs(rep - exact) <= max(exact // 16, 1), (q, rep, exact)


def test_cohort_retention_matches_python(spark, sf_dir):
    import pandas as pd

    got = _q("events_cohort_retention_matrix", spark, sf_dir)
    t = Tables(spark, sf_dir)
    ev = t.events.select("user_id", "ts").toPandas()
    ev["week"] = pd.to_datetime(ev["ts"]).dt.to_period("W-SUN").dt.start_time
    uw = ev[["user_id", "week"]].drop_duplicates()
    first = uw.groupby("user_id")["week"].min().rename("cohort")
    j = uw.merge(first, on="user_id")
    j["off"] = ((j["week"] - j["cohort"]).dt.days // 7).astype(int)
    j = j[j["off"] <= roundten2.COHORT_MAX_OFFSET]
    act = j.groupby([j["cohort"].dt.strftime("%Y-%m-%d"), "off"]).size()
    sizes = first.dt.strftime("%Y-%m-%d").value_counts()
    assert len(got) == len(act)
    for _, row in got.iterrows():
        key = (row["cohort_week"], int(row["week_offset"]))
        assert int(row["n_active"]) == int(act[key]), key
        assert int(row["cohort_size"]) == int(sizes[row["cohort_week"]]), key
        assert row["retention"] == _half_up(int(act[key]), int(sizes[row["cohort_week"]]))


def test_stratified_audit_matches_python(spark, sf_dir):
    got = _q("corpus_stratified_sample_audit", spark, sf_dir).sort_values("lang")
    t = Tables(spark, sf_dir)
    docs = t.documents.select("doc_id", "lang", "source").toPandas()
    for _, row in got.iterrows():
        sub = docs[docs["lang"] == row["lang"]]
        n = len(sub)
        k = (n + roundten2.STRAT_RATE_DEN - 1) // roundten2.STRAT_RATE_DEN
        ranked = sorted(
            sub.itertuples(), key=lambda r: (_sha60(f"strat|{r.doc_id}"), r.doc_id)
        )
        sample = ranked[:k]
        from collections import Counter

        pop = Counter(r.source for r in sub.itertuples())
        smp = Counter(r.source for r in sample)
        num = sum(abs(smp.get(src, 0) * n - pop[src] * k) for src in pop)
        assert int(row["n_docs"]) == n
        assert int(row["target_k"]) == k
        assert int(row["n_sources"]) == len(pop)
        assert row["tvd"] == _half_up(num, 2 * n * k)


def test_pathsig_matches_python(spark, sf_dir):
    got = _q("events_funnel_path_signatures", spark, sf_dir)
    t = Tables(spark, sf_dir)
    ev = t.events.select("user_id", "ts", "event_id", "event_type").toPandas()
    ev = ev.sort_values(["user_id", "ts", "event_id"])
    sigs: dict = {}
    for uid, grp in ev.groupby("user_id"):
        ets = list(grp["event_type"])
        if len(ets) < roundten2.PATHSIG_LEN or any(
            e is None for e in ets[: roundten2.PATHSIG_LEN]
        ):
            continue
        sig = ">".join(ets[: roundten2.PATHSIG_LEN])
        conv = int("purchase" in ets)
        n, c = sigs.get(sig, (0, 0))
        sigs[sig] = (n + 1, c + conv)
    top = sorted(sigs.items(), key=lambda kv: (-kv[1][0], kv[0]))[
        : roundten2.PATHSIG_TOPK
    ]
    assert len(got) == len(top)
    got_rows = list(got.itertuples())
    # same multiset of rows (driver compares hash over sorted rows)
    got_set = {
        (r.signature, r.n_users, r.n_converted, r.conversion) for r in got_rows
    }
    exp_set = {
        (sig, n, c, _half_up(c, n)) for sig, (n, c) in top
    }
    assert got_set == exp_set


def test_quade_matches_python(spark, sf_dir):
    got = _q("stats_quade_nation_priority", spark, sf_dir).iloc[0]
    t = Tables(spark, sf_dir)
    orders = t.orders.select("o_custkey", "o_orderpriority", "o_totalprice").toPandas()
    cust = t.customer.select("c_custkey", "c_nationkey").toPandas()
    j = orders.merge(cust, left_on="o_custkey", right_on="c_custkey")
    j["cents"] = (j["o_totalprice"] * 100.0 + 0.5).apply(math.floor).astype("int64")
    cells = j.groupby(["c_nationkey", "o_orderpriority"]).agg(
        n=("cents", "count"), s=("cents", "sum")
    )
    k = j["o_orderpriority"].nunique()
    blocks = {}
    for blk, grp in cells.groupby(level=0):
        if len(grp) != k:
            continue
        mus = {trt: float(r["s"]) / float(r["n"]) for (_, trt), r in grp.iterrows()}
        blocks[blk] = mus
    b = len(blocks)
    rngs = sorted((max(m.values()) - min(m.values()), blk) for blk, m in blocks.items())
    qr = {blk: i + 1 for i, (_, blk) in enumerate(rngs)}
    t_ij = []
    tj: dict = {}
    for blk, mus in blocks.items():
        ranked = sorted((mu, trt) for trt, mu in mus.items())
        for r, (_, trt) in enumerate(ranked, 1):
            v = qr[blk] * (2 * r - (k + 1))
            t_ij.append(v)
            tj[trt] = tj.get(trt, 0) + v
    a2 = sum(v * v for v in t_ij)
    b2 = sum(v * v for v in tj.values())
    assert int(got["k"]) == k
    assert int(got["n_blocks"]) == b
    assert int(got["a2"]) == a2
    assert int(got["b2"]) == b2
    if b * a2 - b2 > 0:
        assert got["quade_f"] == _half_up((b - 1) * b2, b * a2 - b2)


def test_tvd_pairs_matches_python(spark, sf_dir):
    got = _q("stats_total_variation_segment_pairs", spark, sf_dir)
    t = Tables(spark, sf_dir)
    orders = t.orders.select("o_custkey", "o_orderpriority").toPandas()
    cust = t.customer.select("c_custkey", "c_mktsegment").toPandas()
    j = orders.merge(cust, left_on="o_custkey", right_on="c_custkey")
    from collections import Counter

    cnt = Counter(zip(j["c_mktsegment"], j["o_orderpriority"]))
    segs = sorted(j["c_mktsegment"].unique())
    prios = sorted(j["o_orderpriority"].unique())
    tot = {s: sum(cnt.get((s, p), 0) for p in prios) for s in segs}
    assert len(got) == len(segs) * (len(segs) - 1) // 2
    for _, row in got.iterrows():
        a, b = row["seg_a"], row["seg_b"]
        num = sum(
            abs(cnt.get((a, p), 0) * tot[b] - cnt.get((b, p), 0) * tot[a])
            for p in prios
        )
        assert row["tvd"] == _half_up(num, 2 * tot[a] * tot[b]), (a, b)
        assert 0.0 <= row["tvd"] <= 1.0


def test_conformal_matches_python(spark, sf_dir):
    from mysql_public_data_ingestor_spark.operators.ml import _scored_labeled

    got = _q("ml_conformal_threshold_by_lang", spark, sf_dir).sort_values("lang")
    t = Tables(spark, sf_dir)
    sc = _scored_labeled(t).select("doc_id", "lang", "score_q").toPandas()
    a_n, a_d = roundten2.CONF_ALPHA_NUM, roundten2.CONF_ALPHA_DEN
    for _, row in got.iterrows():
        sub = sc[sc["lang"] == row["lang"]]
        cal = sorted(int(s) for s in sub[sub["doc_id"] % 2 == 0]["score_q"])
        tst = [int(s) for s in sub[sub["doc_id"] % 2 == 1]["score_q"]]
        n_cal = len(cal)
        k = ((a_d - a_n) * (n_cal + 1) + a_d - 1) // a_d
        thr = cal[k - 1] if k <= n_cal else None
        assert int(row["n_cal"]) == n_cal
        assert int(row["n_test"]) == len(tst)
        if thr is None:
            assert row["thr_score_q"] is None or math.isnan(row["thr_score_q"])
        else:
            assert int(row["thr_score_q"]) == thr
            if tst:
                cov = sum(1 for s in tst if s <= thr)
                assert row["coverage"] == _half_up(cov, len(tst))
                # conformal guarantee holds in expectation; sanity only
                assert 0.0 <= row["coverage"] <= 1.0


def test_bloom_fpp_matches_python(spark, sf_dir):
    from mysql_public_data_ingestor_spark.operators.sketches import (
        BLOOM_SEEDS,
        _P,
    )

    got = _q("dq_bloom_fpp_audit", spark, sf_dir).iloc[0]
    t = Tables(spark, sf_dir)
    keys = {int(r.c_custkey) for r in t.customer.select("c_custkey").collect()}
    m = roundten2.FPP_M

    def uh(x, a, b):
        return (((x % _P) * a + b) % _P) % m

    bits = {uh(k, a, b) for k in keys for a, b in BLOOM_SEEDS}
    probes = {
        int(r.o_orderkey) + roundten2.FPP_PROBE_OFFSET
        for r in t.orders.select("o_orderkey").collect()
    }
    fp = sum(
        1
        for p in probes
        if p not in keys and all(uh(p, a, b) in bits for a, b in BLOOM_SEEDS)
    )
    s = len(bits)
    assert int(got["n_keys"]) == len(keys)
    assert int(got["bits_set"]) == s
    assert got["fpp_est"] == _half_up(s**3, m**3)
    assert int(got["n_probes"]) == len(probes)
    assert int(got["n_false_pos"]) == fp
    assert got["fpp_measured"] == _half_up(fp, len(probes))


def test_variance_ratio_matches_python(spark, sf_dir, orders_pdf=None):
    import pandas as pd

    got = _q("events_variance_ratio_test", spark, sf_dir).iloc[0]
    t = Tables(spark, sf_dir)
    od = t.orders.select("o_orderdate").toPandas()
    daily = od.groupby(pd.to_datetime(od["o_orderdate"]).dt.date).size()
    bymap = {d: int(x) for d, x in daily.items()}
    import datetime

    q = roundten2.VR_Q
    d1 = [
        bymap[d] - bymap[d - datetime.timedelta(days=1)]
        for d in bymap
        if d - datetime.timedelta(days=1) in bymap
    ]
    dq = [
        bymap[d] - bymap[d - datetime.timedelta(days=q)]
        for d in bymap
        if d - datetime.timedelta(days=q) in bymap
    ]
    n1, sd, sdd = len(d1), sum(d1), sum(x * x for x in d1)
    nq, ss, ssq = len(dq), sum(dq), sum(x * x for x in dq)
    assert int(got["n_diff"]) == n1
    assert int(got["n_qdiff"]) == nq
    den = q * nq * nq * (n1 * sdd - sd * sd)
    if n1 > 0 and nq > 0 and n1 * sdd - sd * sd > 0:
        assert got["variance_ratio"] == _half_up(
            n1 * n1 * (nq * ssq - ss * ss), den
        )


def test_lorenz_matches_python(spark, sf_dir):
    got = _q("events_user_activity_lorenz_deciles", spark, sf_dir).sort_values(
        "decile"
    )
    t = Tables(spark, sf_dir)
    from collections import Counter

    freq = Counter(
        int(r.user_id) for r in t.events.select("user_id").collect()
    )
    counts = sorted(freq.values())
    u, e = len(counts), sum(counts)
    # prefix sums over users ranked ascending by activity
    pref = [0]
    for c in counts:
        pref.append(pref[-1] + c)
    for _, row in got.iterrows():
        d = int(row["decile"])
        lo, hi = ((d - 1) * u) // 10, (d * u) // 10
        ev_d = pref[hi] - pref[lo]
        cum = pref[hi]
        assert int(row["n_users"]) == hi - lo, d
        assert row["events_share"] == _half_up(ev_d, e), d
        assert row["cum_share"] == _half_up(cum, e), d
    # Lorenz sanity: cumulative share is nondecreasing and ends at 1
    cums = list(got.sort_values("decile")["cum_share"])
    assert all(a <= b + 1e-12 for a, b in zip(cums, cums[1:]))
    assert cums[-1] == 1.0


def test_stress_centrality_matches_python(spark, sf_dir):
    got = _q("graph_stress_centrality_seeds", spark, sf_dir).sort_values("seed_part")
    t = Tables(spark, sf_dir)
    li = t.lineitem.select("l_orderkey", "l_partkey").distinct().toPandas()
    from collections import defaultdict

    baskets = defaultdict(set)
    for r in li.itertuples():
        baskets[r.l_orderkey].add(int(r.l_partkey))
    adj = defaultdict(set)
    for parts in baskets.values():
        ps = sorted(parts)
        for i, a in enumerate(ps):
            for b in ps[i + 1 :]:
                adj[a].add(b)
                adj[b].add(a)
    seeds = sorted(n for n in adj if n < graph_paths.STRESS_SEED_MAX)
    exp = {}
    for s in seeds:
        d1 = adj[s]
        sigma2, d2set = {}, set()
        for u in d1:
            for v in adj[u]:
                if v == s or v in d1:
                    continue
                sigma2[v] = sigma2.get(v, 0) + 1
        d2set = set(sigma2)
        sigma3 = {}
        for u in d2set:
            for v in adj[u]:
                if v == s or v in d1 or v in d2set:
                    continue
                sigma3[v] = sigma3.get(v, 0) + sigma2[u]
        d3set = set(sigma3)
        pf2 = {u: sum(1 for v in adj[u] if v in d3set) for u in d2set}
        pf1 = {
            u: sum(1 + pf2[v] for v in adj[u] if v in d2set) for u in d1
        }
        interior = [(u, 1 * pf1[u]) for u in d1] + [
            (u, sigma2[u] * pf2[u]) for u in d2set
        ]
        total = sum(st for _, st in interior)
        mx = max(st for _, st in interior)
        node = min(u for u, st in interior if st == mx)
        exp[s] = (len(interior), total, mx, node)
    assert len(got) == len(exp)
    for _, row in got.iterrows():
        n_i, tot, mx, node = exp[int(row["seed_part"])]
        assert int(row["n_interior"]) == n_i
        assert int(row["total_stress"]) == tot
        assert int(row["max_stress"]) == mx
        assert int(row["max_stress_node"]) == node


def test_runs_updown_matches_python(spark, sf_dir):
    import pandas as pd

    got = _q("stats_runs_up_down_daily", spark, sf_dir).iloc[0]
    t = Tables(spark, sf_dir)
    od = t.orders.select("o_orderdate").toPandas()
    daily = od.groupby(pd.to_datetime(od["o_orderdate"]).dt.date).size().sort_index()
    xs = [int(v) for v in daily]
    sgn = [
        (1 if b > a else (-1 if b < a else 0)) for a, b in zip(xs, xs[1:])
    ]
    n = len(sgn)
    changes = sum(1 for a, b in zip(sgn, sgn[1:]) if a != b)
    runs = changes + 1
    assert int(got["n_diffs"]) == n
    assert int(got["n_pairs"]) == n - 1
    assert int(got["n_runs"]) == runs
    if 16 * n - 29 > 0:
        z = (
            float(3 * runs - (2 * n - 1))
            * math.sqrt(10.0)
            / (math.sqrt(float(16 * n - 29)) * math.sqrt(9.0))
        )
        assert got["z_updown"] == math.floor(z * 1e6 + 0.5) / 1e6


def test_dimcorr_matches_python(spark, sf_dir):
    import numpy as np

    got = _q("embedding_dim_correlation_topk", spark, sf_dir)
    t = Tables(spark, sf_dir)
    emb = t.embeddings.select("embedding").toPandas()["embedding"]
    x = np.array([list(v) for v in emb], dtype=np.float64)
    xq = np.floor(x * 1e6 + 0.5).astype(np.int64)
    n, d = xq.shape
    best = []
    for i in range(d):
        for j in range(i + 1, d):
            a, b = xq[:, i].astype(object), xq[:, j].astype(object)
            sxy = int(sum(p * q for p, q in zip(a, b)))
            sx, sy = int(a.sum()), int(b.sum())
            sxx = int(sum(p * p for p in a))
            syy = int(sum(q * q for q in b))
            cov = n * sxy - sx * sy
            vi = n * sxx - sx * sx
            vj = n * syy - sy * sy
            if vi > 0 and vj > 0:
                r = float(cov) / (math.sqrt(float(vi)) * math.sqrt(float(vj)))
                rq = math.floor(r * 1e6 + 0.5)
                best.append((abs(rq), -(i + 1), -(j + 1), rq))
    best.sort(reverse=True)
    top = best[: roundten2.DIMCORR_TOPK]
    assert len(got) == len(top)
    exp = {(-bi, -bj, rq / 1e6) for _, bi, bj, rq in top}
    got_set = {
        (int(r.dim_i), int(r.dim_j), r.pearson_r) for r in got.itertuples()
    }
    assert got_set == exp


def test_powerlaw_matches_python(spark, sf_dir):
    import hashlib

    from mysql_public_data_ingestor_spark.functions.detmath import ref_det_ln_q

    got = _q("corpus_dedup_cluster_powerlaw", spark, sf_dir).iloc[0]
    t = Tables(spark, sf_dir)
    docs = t.documents.select("text").toPandas()["text"]
    from collections import Counter

    sizes = Counter(hashlib.sha256(s.encode()).hexdigest() for s in docs)
    ms = list(sizes.values())
    tail = [m for m in ms if m >= roundten2.PL_MMIN]
    l15 = ref_det_ln_q(roundten2.PL_MMIN - 0.5)
    dsum = sum(ref_det_ln_q(float(m)) - l15 for m in tail)
    assert int(got["n_clusters"]) == len(ms)
    assert int(got["n_dup_clusters"]) == sum(1 for m in ms if m >= 2)
    assert int(got["max_cluster"]) == max(ms)
    assert int(got["n_tail"]) == len(tail)
    if dsum > 0:
        assert got["alpha"] == _half_up(dsum + len(tail) * 10**6, dsum)
        assert got["alpha"] >= 1.0


def test_gains_matches_python(spark, sf_dir):
    from mysql_public_data_ingestor_spark.operators.ml import _scored_labeled

    got = _q("ml_gains_at_capacity", spark, sf_dir).sort_values("capacity_pct")
    t = Tables(spark, sf_dir)
    sc = _scored_labeled(t).select("score_q", "label").toPandas()
    grid: dict = {}
    for r in sc.itertuples():
        c, p = grid.get(int(r.score_q), (0, 0))
        grid[int(r.score_q)] = (c + 1, p + int(r.label))
    n = sum(c for c, _ in grid.values())
    pos = sum(p for _, p in grid.values())
    order = sorted(grid, reverse=True)
    for _, row in got.iterrows():
        cap = int(row["capacity_pct"])
        k = (cap * n + 99) // 100
        cc = tp = 0
        for s in order:
            c, p = grid[s]
            if cc + c >= k:
                cc_prev, tp_prev, cnt_b, cpos_b = cc, tp, c, p
                break
            cc += c
            tp += p
        num = tp_prev * cnt_b + (k - cc_prev) * cpos_b
        assert int(row["k"]) == k
        assert int(row["n_pos"]) == pos
        assert row["gain"] == _half_up(num, pos * cnt_b), cap
        assert row["lift"] == _half_up(num * n, pos * cnt_b * k), cap


def test_cusum_squares_matches_python(spark, sf_dir):
    import pandas as pd

    got = _q("stats_cusum_squares_changepoint", spark, sf_dir).iloc[0]
    t = Tables(spark, sf_dir)
    od = t.orders.select("o_orderdate").toPandas()
    daily = od.groupby(pd.to_datetime(od["o_orderdate"]).dt.date).size().sort_index()
    xs = [int(v) for v in daily]
    days = list(daily.index)
    n = len(xs)
    s_tot = sum(x * x for x in xs)
    best = None
    sk = 0
    for k, (d, x) in enumerate(zip(days, xs), 1):
        sk += x * x
        num = abs(n * sk - k * s_tot)
        key = (num, -k)
        if best is None or key > best[0]:
            best = (key, (d, k, num))
    d, k, num = best[1]
    assert int(got["n_days"]) == n
    assert got["change_day"] == d.strftime("%Y-%m-%d")
    assert int(got["change_index"]) == k
    assert got["cusum_sq_stat"] == _half_up(num, n * s_tot)


def test_lsh_tuning_matches_python(spark, sf_dir):
    got = _q("dedup_lsh_band_tuning_curve", spark, sf_dir).sort_values("r")
    t = Tables(spark, sf_dir)
    docs = t.documents.select("doc_id", "lang", "n_chars", "text").toPandas()
    from mysql_public_data_ingestor_spark.operators.dedup import SHINGLE_K

    def hs(text):
        toks = " ".join(text.lower().split()).split(" ")
        sh = {
            " ".join(toks[i : i + SHINGLE_K])
            for i in range(max(len(toks) - SHINGLE_K + 1, 0))
        }
        return {_sha60(x) for x in sh}

    docs["hs"] = docs["text"].apply(hs)
    docs["lb"] = docs["n_chars"] // 100
    from collections import Counter

    hist: Counter = Counter()
    for (_lang, _lb), grp in docs.groupby(["lang", "lb"]):
        rows = [r for r in grp.itertuples() if len(r.hs) > 0]
        rows.sort(key=lambda r: (_sha60(f"tune|{r.doc_id}"), r.doc_id))
        rows = rows[: roundten2.LSH_TUNE_BLOCK_CAP]
        rows.sort(key=lambda r: r.doc_id)
        for i, ra in enumerate(rows):
            for rb in rows[i + 1 :]:
                inter = len(ra.hs & rb.hs)
                union = len(ra.hs | rb.hs)
                if union > 0:
                    hist[(10 * inter) // union] += 1
    n = sum(hist.values())
    n_hi = sum(v for k, v in hist.items() if k >= 5)
    curve = {(r, b, i): p for r, b, i, p in roundten2._lsh_scurve_rows()}
    d = roundten2._LSH_D
    assert len(got) == len(roundten2.LSH_TUNE_CONFIGS)
    for _, row in got.iterrows():
        r, b = int(row["r"]), int(row["b"])
        det = sum(v * curve[(r, b, k)] for k, v in hist.items())
        det_hi = sum(v * curve[(r, b, k)] for k, v in hist.items() if k >= 5)
        assert int(row["n_pairs"]) == n
        assert int(row["n_pairs_hi"]) == n_hi
        assert row["expected_detected"] == _half_up(det, n * d)
        assert row["expected_detected_hi"] == _half_up(det_hi, n_hi * d)
    # monotone sanity: more rows per band -> fewer expected detections
    er = {int(r.r): r.expected_detected for r in got.itertuples()}
    assert er[1] >= er[2] >= er[4] >= er[8] >= er[16]


def test_mantel_haenszel_matches_python(spark, sf_dir):
    got = _q("stats_mantel_haenszel_priority_nation", spark, sf_dir).iloc[0]
    t = Tables(spark, sf_dir)
    orders = t.orders.select(
        "o_custkey", "o_orderpriority", "o_orderstatus"
    ).toPandas()
    cust = t.customer.select("c_custkey", "c_nationkey").toPandas()
    j = orders.merge(cust, left_on="o_custkey", right_on="c_custkey")
    sum_ad = sum_bc = 0
    n_strata = 0
    for _, grp in j.groupby("c_nationkey"):
        e = grp["o_orderpriority"].isin(roundten2.MH_EXPOSED)
        y = grp["o_orderstatus"] == "F"
        a = int((e & y).sum())
        b = int((e & ~y).sum())
        c = int((~e & y).sum())
        d = int((~e & ~y).sum())
        n = a + b + c + d
        if n > 0:
            n_strata += 1
            sum_ad += (a * d * 10**6) // n
            sum_bc += (b * c * 10**6) // n
    assert int(got["n_strata"]) == n_strata
    assert int(got["sum_ad_q"]) == sum_ad
    assert int(got["sum_bc_q"]) == sum_bc
    if sum_bc > 0:
        assert got["mh_odds_ratio"] == _half_up(sum_ad, sum_bc)


def test_rfm_transition_matches_python(spark, sf_dir):
    import pandas as pd

    got = _q("events_rfm_transition_matrix", spark, sf_dir)
    t = Tables(spark, sf_dir)
    ev = t.events.select("user_id", "ts").toPandas()
    us = pd.to_datetime(ev["ts"]).astype("int64") // 1000
    cut = (int(us.min()) + int(us.max())) // 2
    ev["h1"] = us < cut
    per = ev.groupby("user_id")["h1"].agg(n1="sum", tot="count")
    per["n2"] = per["tot"] - per["n1"]

    def cls(n):
        if n >= roundten2.RFM_HIGH_MIN:
            return "high"
        if n >= roundten2.RFM_MID_MIN:
            return "mid"
        if n >= 1:
            return "low"
        return "gone"

    from collections import Counter

    cells: Counter = Counter()
    for _, r in per.iterrows():
        if r["n1"] >= 1:
            cells[(cls(int(r["n1"])), cls(int(r["n2"])))] += 1
    rowtot = Counter()
    for (cf, _), v in cells.items():
        rowtot[cf] += v
    assert len(got) == len(cells)
    for _, row in got.iterrows():
        key = (row["class_from"], row["class_to"])
        assert int(row["n_users"]) == cells[key], key
        assert int(row["n_from"]) == rowtot[key[0]], key
        assert row["share"] == _half_up(cells[key], rowtot[key[0]])


def test_kmap_matches_python(spark, sf_dir):
    got = _q("privacy_k_map_risk_audit", spark, sf_dir).iloc[0]
    t = Tables(spark, sf_dir)
    cust = t.customer.select("c_custkey", "c_nationkey", "c_mktsegment").toPandas()
    sample_keys = {
        int(r.o_custkey) for r in t.orders.select("o_custkey").distinct().collect()
    }
    from collections import Counter

    pop = Counter(zip(cust["c_nationkey"], cust["c_mktsegment"]))
    smp = Counter(
        (r.c_nationkey, r.c_mktsegment)
        for r in cust.itertuples()
        if int(r.c_custkey) in sample_keys
    )
    k = roundten2.KMAP_K
    n_sample = sum(smp.values())
    risky_cells = [c for c in pop if pop[c] < k]
    n_risky = sum(smp.get(c, 0) for c in risky_cells)
    assert int(got["n_cells"]) == len(pop)
    assert int(got["n_sample"]) == n_sample
    assert int(got["n_risky_cells"]) == len(risky_cells)
    assert int(got["n_risky_records"]) == n_risky
    if n_sample > 0:
        assert got["risk_share"] == _half_up(n_risky, n_sample)


def test_cosine_hist_matches_python(spark, sf_dir):
    import numpy as np

    got = _q("similarity_cosine_pair_histogram", spark, sf_dir).sort_values("bin")
    t = Tables(spark, sf_dir)
    emb = t.embeddings.select("vec_id", "embedding").toPandas()
    B = roundten2.COSH_BUCKETS
    from collections import Counter, defaultdict

    buckets = defaultdict(list)
    for r in emb.itertuples():
        xq = np.floor(np.array(list(r.embedding), dtype=np.float64) * 1e6 + 0.5).astype(
            np.int64
        )
        n2 = int((xq.astype(object) ** 2).sum())
        if n2 > 0:
            buckets[_sha60(str(int(r.vec_id))) % B].append((int(r.vec_id), xq, n2))
    hist: Counter = Counter()
    for rows in buckets.values():
        rows.sort(key=lambda r: (_sha60(f"cosh|{r[0]}"), r[0]))
        rows = rows[: roundten2.COSH_BUCKET_CAP]
        rows.sort()
        for i, (va, xa, na) in enumerate(rows):
            for vb, xb, nb in rows[i + 1 :]:
                dot = int(sum(int(p) * int(q) for p, q in zip(xa, xb)))
                cos = float(dot) / (math.sqrt(float(na)) * math.sqrt(float(nb)))
                hist[min(math.floor(cos * 10), 9)] += 1
    n = sum(hist.values())
    assert len(got) == len(hist)
    for _, row in got.iterrows():
        b = int(row["bin"])
        assert int(row["n_pairs"]) == hist[b], b
        assert row["bin_lo"] == b / 10.0
        assert row["share"] == _half_up(hist[b], n)


def test_js_lang_pairs_matches_python(spark, sf_dir):
    from mysql_public_data_ingestor_spark.functions.detmath import ref_det_ln_q

    got = _q("text_unigram_js_lang_pairs", spark, sf_dir)
    t = Tables(spark, sf_dir)
    docs = t.documents.select("lang", "text").toPandas()
    from collections import Counter, defaultdict

    cnt: dict = defaultdict(Counter)
    for r in docs.itertuples():
        toks = " ".join(r.text.lower().split()).split(" ")
        cnt[r.lang].update(toks)
    sizes = {lg: sum(c.values()) for lg, c in cnt.items()}
    langs = sorted(sizes)
    assert len(got) == len(langs) * (len(langs) - 1) // 2
    for _, row in got.iterrows():
        a, b = row["lang_a"], row["lang_b"]
        na, nb = sizes[a], sizes[b]
        a_sum = b_sum = 0
        for tok in set(cnt[a]) | set(cnt[b]):
            ca, cb = cnt[a].get(tok, 0), cnt[b].get(tok, 0)
            lm = ref_det_ln_q(float(ca * nb + cb * na))
            if ca > 0:
                a_sum += ca * (ref_det_ln_q(float(2 * ca * nb)) - lm)
            if cb > 0:
                b_sum += cb * (ref_det_ln_q(float(2 * cb * na)) - lm)
        assert int(row["n_tokens_a"]) == na
        assert int(row["n_tokens_b"]) == nb
        assert row["js_divergence"] == _half_up(
            a_sum * nb + b_sum * na, 2 * na * nb * 10**6
        ), (a, b)
        assert 0.0 <= row["js_divergence"] <= 0.693148


def test_permutation_test_matches_python(spark, sf_dir):
    got = _q("stats_permutation_test_ab", spark, sf_dir).iloc[0]
    t = Tables(spark, sf_dir)
    ev = t.events.filter("event_type = 'purchase'").select(
        "user_id", "value"
    ).toPandas()
    import math as _m

    from collections import defaultdict

    ux: dict = defaultdict(int)
    for r in ev.itertuples():
        ux[int(r.user_id)] += int(_m.floor(r.value * 1e6 + 0.5))
    users = sorted(ux)
    n = len(users)
    na = sum(1 for u in users if u % 2 == 0)
    sa = sum(ux[u] for u in users if u % 2 == 0)
    nb, sb = n - na, sum(ux.values()) - sa
    d_obs = abs(sa * nb - sb * na)
    den_obs = na * nb
    n_exceed = 0
    B = roundten2.PERM_B
    for b in range(B):
        ga = [u for u in users if _sha60(f"perm{b}|{u}") % 2 == 0]
        pna = len(ga)
        psa = sum(ux[u] for u in ga)
        pnb, psb = n - pna, sum(ux.values()) - psa
        if pna > 0 and pnb > 0:
            if abs(psa * pnb - psb * pna) * den_obs >= d_obs * (pna * pnb):
                n_exceed += 1
    assert int(got["n_users"]) == n
    assert int(got["n_perms"]) == B
    assert got["mean_diff_obs"] == _half_up(sa * nb - sb * na, den_obs * 10**6)
    assert got["p_value"] == _half_up(1 + n_exceed, B + 1)
    assert 0.0 < got["p_value"] <= 1.0


def test_kmv_difference_matches_python(spark, sf_dir):
    # column access, not .iloc[0]: a row slice upcasts the >2^53
    # theta to float64 and silently rounds it
    gdf = _q("sketch_kmv_difference_users", spark, sf_dir)
    got = {c: gdf[c].iloc[0] for c in gdf.columns}
    t = Tables(spark, sf_dir)
    ev = t.events.select("user_id", "event_type").toPandas()
    from collections import Counter

    nv = Counter(r.user_id for r in ev.itertuples() if r.event_type == "view")
    np_ = Counter(r.user_id for r in ev.itertuples() if r.event_type == "purchase")
    thr = roundten2.KMV_DIFF_MIN
    A = {u for u, c in nv.items() if c >= thr}
    Bs = {u for u, c in np_.items() if c >= thr}
    from mysql_public_data_ingestor_spark.operators.roundnine import (
        KMV_INT_DOMAIN,
        KMV_INT_K,
    )

    hu = sorted(_sha60(str(int(u))) for u in A | Bs)
    kk = min(KMV_INT_K, len(hu))
    th = hu[kk - 1] if hu else None
    ha = {_sha60(str(int(u))) for u in A}
    hb = {_sha60(str(int(u))) for u in Bs}
    n_a = sum(1 for h in ha if h <= th)
    c = sum(1 for h in ha & hb if h <= th)
    d_true = len(A - Bs)
    if kk == KMV_INT_K:
        est = ((n_a - c) * (KMV_INT_K - 1) * KMV_INT_DOMAIN) // (KMV_INT_K * th)
    else:
        est = n_a - c
    assert int(got["k_eff"]) == kk
    assert int(got["theta"]) == th
    assert int(got["n_diff_under_theta"]) == n_a - c
    assert int(got["d_diff_est"]) == est
    assert int(got["d_true"]) == d_true
    if d_true > 0:
        assert got["rel_error"] == _half_up(abs(est - d_true), d_true)


def test_asof_nearest_matches_python(spark, sf_dir):
    import pandas as pd

    got = _q("events_asof_nearest_attribution", spark, sf_dir).sort_values("bucket")
    t = Tables(spark, sf_dir)
    ev = t.events.select("user_id", "event_id", "event_type", "ts").toPandas()
    ev["us"] = pd.to_datetime(ev["ts"]).astype("int64") // 1000
    from collections import Counter, defaultdict

    views = defaultdict(list)
    for r in ev.itertuples():
        if r.event_type == "view":
            views[r.user_id].append(int(r.us))
    edges = roundten2.ASOF_NEAR_EDGES_MIN
    hist: Counter = Counter()
    for r in ev.itertuples():
        if r.event_type != "purchase" or r.user_id not in views:
            continue
        gap = min(abs(int(r.us) - v) for v in views[r.user_id])
        b = len(edges)
        for i, m in enumerate(edges):
            if gap < m * 60_000_000:
                b = i
                break
        hist[b] += 1
    tot = sum(hist.values())
    assert len(got) == len(hist)
    for _, row in got.iterrows():
        b = int(row["bucket"])
        assert int(row["n_purchases"]) == hist[b], b
        assert row["share"] == _half_up(hist[b], tot)
