"""Round-11 batch gate: every operator in ``operators/roundeleven.py``
must pass the SAME raw-frame compare tools/check_correctness.py
uses, meet the registry-wide plan bars, and match an independent
Python replica.
"""

from __future__ import annotations

import hashlib
import math

import pytest

from mysql_public_data_ingestor_spark.operators import graph_paths
from mysql_public_data_ingestor_spark.operators import roundeleven
from mysql_public_data_ingestor_spark.registry import all_queries
from mysql_public_data_ingestor_spark.tables import Tables
from tools.check_correctness import compare, duck_connection

# The queries this gate covers, by name, so its test ids stay fixed: the
# module's own queries plus the graph queries it registered before the
# graph family moved to ``operators/graph_*.py``.
NAMES = (
    "corpus_dup_quality_quadrant",
    "dq_digit_preference_audit",
    "embedding_norm2_anova_by_label",
    "events_absorbing_markov_steps",
    "events_bass_diffusion_fit",
    "events_granger_lag1_test",
    "events_periodogram_fixed_periods",
    "graph_degree_gini",
    "graph_diameter_double_sweep",
    "ml_brier_skill_score",
    "privacy_exponential_mechanism_segment",
    "privacy_membership_inference_audit",
    "sketch_bottomk_jaccard_users",
    "sketch_kmv_union_users",
    "stats_brown_forsythe_quantity",
    "stats_fligner_policello_status",
    "stats_k_sample_median_test",
    "stats_sign_test_daily_pair",
    "stats_tukey_hsd_priority",
    "text_ngram_entropy_curve",
)
# (name, fn, oracle, doc) of each
QUERIES = [
    (s.name, s.fn, s.oracle, s.doc) for s in (all_queries()[n] for n in NAMES)
]


def test_queue_entries_well_formed():
    seen = set()
    for name, fn, oracle, doc in QUERIES:
        assert name not in seen, f"duplicate queue name {name}"
        seen.add(name)
        assert callable(fn)
        assert isinstance(oracle, str) and oracle.strip()
        assert doc.strip(), f"{name} missing docstring"


@pytest.mark.parametrize(
    "entry", QUERIES, ids=[name for name, *_ in QUERIES]
)
def test_queued_query_matches_oracle(spark, sf_dir, entry):
    # RAW frames into compare() (it canons internally) — the round-9
    # lesson: pre-canoning masked an int32 oracle dtype gap.
    name, fn, oracle, _doc = entry
    sdf = fn(spark, sf_dir).toPandas()
    con = duck_connection(sf_dir)
    try:
        odf = con.execute(oracle).fetchdf()
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


# privacy_membership_inference_audit runs its ROC cumulative window
# over the <= 10001-value POST-AGGREGATION score grid — the same
# bounded-domain class as ml_youden_optimal_threshold; it carries the
# matching entry in tests/test_plans.py::SINGLE_PARTITION_ALLOWLIST.
QUEUE_SP_ALLOWLIST = {"privacy_membership_inference_audit"}


def test_queue_single_partition_only_feeds_final_aggregates(spark, sf_dir):
    from mysql_public_data_ingestor_spark.plans import physical_plan

    offenders = {}
    for name, fn, _oracle, _doc in QUERIES:
        if name in QUEUE_SP_ALLOWLIST:
            continue
        plan = physical_plan(fn(spark, sf_dir))
        bad = [
            c
            for c in _sp_consumers(plan)
            if c not in ("HashAggregate", "ObjectHashAggregate", "SortAggregate")
        ]
        if bad:
            offenders[name] = bad
    assert not offenders, offenders


def test_queue_allowlist_mirrored_in_registry_sweep():
    """The module's one bounded-domain window exception must also be in
    the registry-wide allowlist, so the two sweeps agree."""
    from tests.test_plans import SINGLE_PARTITION_ALLOWLIST

    assert QUEUE_SP_ALLOWLIST <= SINGLE_PARTITION_ALLOWLIST


def test_queue_no_cartesian_products(spark, sf_dir):
    from mysql_public_data_ingestor_spark.plans import assert_no_cartesian

    offenders = []
    for name, fn, _oracle, _doc in QUERIES:
        try:
            assert_no_cartesian(fn(spark, sf_dir))
        except AssertionError:
            offenders.append(name)
    assert not offenders, offenders


def test_activate_registers_cleanly_in_subprocess():
    """In a fresh interpreter — so the live registry stays clean — import
    roundeleven.py on its own before the registry loads: every one of its
    queries must register through @register exactly once (a second
    registration would raise a duplicate-name error), each with its
    oracle, and the set must match the one this process sees."""
    import json
    import os
    import subprocess
    import sys

    code = (
        "import json\n"
        "from mysql_public_data_ingestor_spark.operators import roundeleven\n"
        "from mysql_public_data_ingestor_spark import registry\n"
        "specs = [s for s in registry.all_queries().values()\n"
        "         if s.fn.__module__ == roundeleven.__name__]\n"
        "no_oracle = [s.name for s in specs if s.oracle is None]\n"
        "assert not no_oracle, f'registered without oracle: {no_oracle}'\n"
        "print(json.dumps(sorted(s.name for s in specs)))\n"
    )
    root = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
    out = subprocess.run(
        [sys.executable, "-c", code], capture_output=True, text=True, cwd=root
    )
    assert out.returncode == 0, out.stderr[-2000:]
    registered = json.loads(out.stdout.strip().splitlines()[-1])
    assert registered == sorted(
        s.name for s in all_queries().values() if s.fn.__module__ == roundeleven.__name__
    )


# --- Python replicas ------------------------------------------------------


def _q(name, spark, sf_dir):
    fn = all_queries()[name].fn
    return fn(spark, sf_dir).toPandas()


def _half_up(num: int, den: int, dp: int = 6) -> float:
    s = 10**dp
    mag = (2 * s * abs(num) + den) // (2 * den)
    return (-mag if num < 0 else mag) / s


def _halfup_int(num: int, den: int) -> int:
    mag = (2 * abs(num) + den) // (2 * den)
    return -mag if num < 0 else mag


def _cramer3(rows):
    """rows = [(y, x1, x2)] -> (n, dd, da, db, dc) exact ints."""
    n = len(rows)
    s1 = sum(r[1] for r in rows)
    s2 = sum(r[2] for r in rows)
    s11 = sum(r[1] * r[1] for r in rows)
    s12 = sum(r[1] * r[2] for r in rows)
    s22 = sum(r[2] * r[2] for r in rows)
    sy = sum(r[0] for r in rows)
    sy1 = sum(r[0] * r[1] for r in rows)
    sy2 = sum(r[0] * r[2] for r in rows)
    dd = (
        n * (s11 * s22 - s12 * s12)
        - s1 * (s1 * s22 - s12 * s2)
        + s2 * (s1 * s12 - s11 * s2)
    )
    da = (
        sy * (s11 * s22 - s12 * s12)
        - s1 * (sy1 * s22 - s12 * sy2)
        + s2 * (sy1 * s12 - s11 * sy2)
    )
    db = (
        n * (sy1 * s22 - sy2 * s12)
        - sy * (s1 * s22 - s12 * s2)
        + s2 * (s1 * sy2 - sy1 * s2)
    )
    dc = (
        n * (s11 * sy2 - s12 * sy1)
        - s1 * (s1 * sy2 - sy1 * s2)
        + sy * (s1 * s12 - s11 * s2)
    )
    return n, dd, da, db, dc, sy, sy1, sy2


def test_bass_matches_python(spark, sf_dir):
    got = _q("events_bass_diffusion_fit", spark, sf_dir).iloc[0]
    t = Tables(spark, sf_dir)
    ev = t.events.filter("event_type = 'signup'").select("ts").toPandas()
    from collections import Counter

    daily = Counter(ts.date() for ts in ev["ts"])
    ss = [daily[d] for d in sorted(daily)]
    sh = roundeleven.BASS_SCALE_SHIFT
    rows = []
    nprev = 0
    for i, s in enumerate(ss):
        if i > 0:
            x1 = nprev >> sh
            rows.append((s, x1, x1 * x1))
        nprev += s
    n, dd, da, db, dc, *_ = _cramer3(rows)
    assert dd != 0
    assert int(got["n_days"]) == n
    assert got["coef_a"] == _half_up(da, dd)
    assert got["coef_b"] == _half_up(db, dd)
    assert got["coef_c"] == _half_up(dc, dd)
    # Bass shape on an adoption-like series: saturation term <= 0
    # would hold for true S-curves; at fixture scale just pin the
    # exact identity against numpy
    import numpy as np

    M = np.array(
        [
            [len(rows), sum(r[1] for r in rows), sum(r[2] for r in rows)],
            [
                sum(r[1] for r in rows),
                sum(r[1] ** 2 for r in rows),
                sum(r[1] * r[2] for r in rows),
            ],
            [
                sum(r[2] for r in rows),
                sum(r[1] * r[2] for r in rows),
                sum(r[2] ** 2 for r in rows),
            ],
        ],
        dtype=float,
    )
    v = np.array(
        [
            sum(r[0] for r in rows),
            sum(r[0] * r[1] for r in rows),
            sum(r[0] * r[2] for r in rows),
        ],
        dtype=float,
    )
    beta = np.linalg.solve(M, v)
    assert abs(got["coef_a"] - beta[0]) < 1e-4
    assert abs(got["coef_b"] - beta[1]) < 1e-4
    assert abs(got["coef_c"] - beta[2]) < 1e-4


def test_granger_matches_python(spark, sf_dir):
    got = _q("events_granger_lag1_test", spark, sf_dir).iloc[0]
    t = Tables(spark, sf_dir)
    ev = t.events.select("ts", "event_type").toPandas()
    from collections import Counter

    days = sorted({ts.date() for ts in ev["ts"]})
    cv = Counter(ts.date() for ts, et in zip(ev["ts"], ev["event_type"]) if et == "view")
    cp = Counter(
        ts.date() for ts, et in zip(ev["ts"], ev["event_type"]) if et == "purchase"
    )
    xs = [cv.get(d, 0) for d in days]
    ys = [cp.get(d, 0) for d in days]
    rows = [(ys[i], ys[i - 1], xs[i - 1]) for i in range(1, len(days))]
    n, dd, da, db, dc, sy, sy1, sy2 = _cramer3(rows)
    syy = sum(r[0] * r[0] for r in rows)
    s1 = sum(r[1] for r in rows)
    s11 = sum(r[1] * r[1] for r in rows)
    dr = n * s11 - s1 * s1
    br_num = n * sy1 - s1 * sy
    tss_n = n * syy - sy * sy
    assert int(got["n_pairs"]) == n
    assert got["r2_restricted"] == _half_up(br_num * br_num, tss_n * dr)
    expl_u = n * (da * sy + db * sy1 + dc * sy2) - sy * sy * dd
    assert got["r2_unrestricted"] == _half_up(expl_u, tss_n * dd)
    # adding a regressor can only help (up to the shared quantization)
    assert got["r2_unrestricted"] >= got["r2_restricted"] - 1e-6
    assert 0.0 <= got["r2_unrestricted"] <= 1.0


def test_tukey_matches_python(spark, sf_dir):
    got = _q("stats_tukey_hsd_priority", spark, sf_dir)
    t = Tables(spark, sf_dir)
    li = t.lineitem.select("l_orderkey", "l_quantity").toPandas()
    od = t.orders.select("o_orderkey", "o_orderpriority").toPandas()
    pr = dict(zip(od["o_orderkey"], od["o_orderpriority"]))
    from collections import defaultdict

    acc: dict = defaultdict(lambda: [0, 0, 0])
    for ok, qv in zip(li["l_orderkey"], li["l_quantity"]):
        g = pr[ok]
        q = int(qv)
        a = acc[g]
        a[0] += 1
        a[1] += q
        a[2] += q * q
    gq = {
        g: (
            n,
            _halfup_int(10**4 * s, n),
            _halfup_int(10**4 * (n * qq - s * s), n),
        )
        for g, (n, s, qq) in acc.items()
    }
    nn = sum(n for n, _, _ in gq.values())
    kk = len(gq)
    ssw = sum(w for _, _, w in gq.values())
    assert len(got) == kk * (kk - 1) // 2
    for _, row in got.iterrows():
        na, mqa, _ = gq[row["prio_a"]]
        nb, mqb, _ = gq[row["prio_b"]]
        dm = mqa - mqb
        assert int(row["n_a"]) == na and int(row["n_b"]) == nb
        assert row["mean_diff"] == dm / 1e4
        sign = -1 if dm < 0 else 1
        assert row["q_signed_sq"] == _half_up(
            sign * dm * dm * 2 * na * nb * (nn - kk),
            10**4 * ssw * (na + nb),
        ), (row["prio_a"], row["prio_b"])


def test_ngram_entropy_matches_python(spark, sf_dir):
    from mysql_public_data_ingestor_spark.functions.detmath import ref_det_ln_q

    got = _q("text_ngram_entropy_curve", spark, sf_dir).sort_values("ngram_n")
    t = Tables(spark, sf_dir)
    docs = t.documents.select("text").toPandas()
    from collections import Counter

    cnts = {1: Counter(), 2: Counter(), 3: Counter()}
    for r in docs.itertuples():
        toks = " ".join(r.text.lower().split()).split(" ")
        cnts[1].update(toks)
        cnts[2].update(
            "\x01".join(p) for p in zip(toks, toks[1:])
        )
        cnts[3].update(
            "\x01".join(p) for p in zip(toks, toks[1:], toks[2:])
        )
    assert list(got["ngram_n"]) == [1, 2, 3]
    prev_h = None
    for _, row in got.iterrows():
        cc = cnts[int(row["ngram_n"])]
        total = sum(cc.values())
        clc = sum(c * ref_det_ln_q(float(c)) for c in cc.values())
        hq = _halfup_int(total * ref_det_ln_q(float(total)) - clc, total)
        assert int(row["n_grams"]) == total
        assert int(row["vocab"]) == len(cc)
        assert row["entropy_nats"] == hq / 1e6
        if prev_h is not None:
            # joint entropy grows with n
            assert row["entropy_nats"] >= prev_h - 1e-6
        prev_h = row["entropy_nats"]


def _h60(s: str) -> int:
    return int(hashlib.sha256(s.encode()).hexdigest()[:15], 16)


def test_kmv_union_matches_python(spark, sf_dir):
    from mysql_public_data_ingestor_spark.operators.roundnine import (
        KMV_INT_DOMAIN,
        KMV_INT_K,
    )

    # column access, not a row slice: .iloc[0] on the mixed-dtype row
    # upcasts the >2^53 int64 theta to float64 and silently rounds it
    # (the round-10 batch-4 replica lesson, SCALE §5i.7)
    gdf = _q("sketch_kmv_union_users", spark, sf_dir)
    got = {c: gdf[c].iloc[0] for c in gdf.columns}
    t = Tables(spark, sf_dir)
    ev = t.events.select("user_id", "event_type").toPandas()
    from collections import Counter

    nv: Counter = Counter()
    np_: Counter = Counter()
    for u, et in zip(ev["user_id"], ev["event_type"]):
        if et == "view":
            nv[int(u)] += 1
        elif et == "purchase":
            np_[int(u)] += 1
    thr = roundeleven.KMV_UNION_MIN
    aset = {u for u, c in nv.items() if c >= thr}
    bset = {u for u, c in np_.items() if c >= thr}
    hv = {u: _h60(str(u)) % KMV_INT_DOMAIN for u in aset | bset}
    ska = sorted(hv[u] for u in aset)[: KMV_INT_K]
    skb = sorted(hv[u] for u in bset)[: KMV_INT_K]
    bottom = sorted(set(ska) | set(skb))[: KMV_INT_K]
    k_eff = len(bottom)
    theta = max(bottom) if bottom else None
    d_true = len(aset | bset)
    if k_eff == KMV_INT_K:
        d_est = (KMV_INT_K - 1) * KMV_INT_DOMAIN // theta
    else:
        d_est = k_eff
    assert int(got["k_eff"]) == k_eff
    assert int(got["theta"]) == theta
    assert int(got["d_est"]) == d_est
    assert int(got["d_true"]) == d_true
    if d_true:
        assert got["rel_error"] == _half_up(abs(d_est - d_true), d_true)


def test_degree_gini_matches_python(spark, sf_dir):
    got = _q("graph_degree_gini", spark, sf_dir).iloc[0]
    t = Tables(spark, sf_dir)
    li = t.lineitem.select("l_orderkey", "l_partkey").toPandas()
    from collections import Counter, defaultdict

    parts: dict = defaultdict(set)
    for ok, pk in zip(li["l_orderkey"], li["l_partkey"]):
        parts[int(ok)].add(int(pk))
    edges = set()
    for ps in parts.values():
        sl = sorted(ps)
        for i, a in enumerate(sl):
            for b in sl[i + 1 :]:
                edges.add((a, b))
    deg: Counter = Counter()
    for a, b in edges:
        deg[a] += 1
        deg[b] += 1
    degs = sorted(deg.values())
    n = len(degs)
    sx = sum(degs)
    two_ri = 2 * sum((i + 1) * x for i, x in enumerate(degs))
    gini = _half_up(two_ri - (n + 1) * sx, n * sx)
    assert int(got["n_nodes"]) == n
    assert int(got["sum_degree"]) == sx
    assert got["mean_degree"] == _half_up(sx, n)
    assert got["gini"] == gini
    assert 0.0 <= got["gini"] < 1.0


def test_expmech_matches_python(spark, sf_dir):
    from mysql_public_data_ingestor_spark.functions.detmath import ref_det_ln_q

    got = _q("privacy_exponential_mechanism_segment", spark, sf_dir)
    t = Tables(spark, sf_dir)
    cust = t.customer.select("c_nationkey", "c_mktsegment").toPandas()
    from collections import Counter, defaultdict

    cells = Counter(zip(cust["c_nationkey"], cust["c_mktsegment"]))
    per_nation: dict = defaultdict(list)
    for (nk, seg), c in cells.items():
        h = _h60(f"expmech|{nk}|{seg}") % (1 << 52)
        u = (2 * h + 1) / float(1 << 53)
        lnu = ref_det_ln_q(u)
        vln = float(-lnu) * 0.000001
        sq = roundeleven.EXPMECH_EPS_MICRO_HALF * c - ref_det_ln_q(vln)
        per_nation[int(nk)].append((seg, c, sq))
    assert len(got) == len(per_nation)
    for _, row in got.iterrows():
        entries = per_nation[int(row["nationkey"])]
        chosen = min(entries, key=lambda e: (-e[2], e[0]))
        best = min(entries, key=lambda e: (-e[1], e[0]))
        assert row["chosen_segment"] == chosen[0]
        assert int(row["chosen_count"]) == chosen[1]
        assert row["true_segment"] == best[0]
        assert int(row["true_count"]) == best[1]
        assert bool(row["utility_hit"]) == (chosen[0] == best[0])


def test_digit_preference_matches_python(spark, sf_dir):
    got = _q("dq_digit_preference_audit", spark, sf_dir).sort_values("digit")
    t = Tables(spark, sf_dir)
    od = t.orders.select("o_totalprice").toPandas()
    from collections import Counter

    cnt = Counter(
        int(math.floor(v * 100 + 0.5)) % 10
        for v in od["o_totalprice"]
        if v is not None
    )
    n = sum(cnt.values())
    num = sum((10 * c - n) ** 2 for c in cnt.values())
    assert len(got) == len(cnt)
    for _, row in got.iterrows():
        d = int(row["digit"])
        assert int(row["n_orders"]) == cnt[d]
        assert row["share"] == _half_up(cnt[d], n)
        assert row["chi2_over_n"] == _half_up(num, 10 * n * n)


# --- Batch B replicas ------------------------------------------------------


def test_periodogram_matches_python(spark, sf_dir):
    got = _q("events_periodogram_fixed_periods", spark, sf_dir).sort_values(
        "period"
    )
    t = Tables(spark, sf_dir)
    od = t.orders.select("o_orderdate").toPandas()
    from collections import Counter

    daily = Counter(d.date() for d in od["o_orderdate"])
    ys = [daily[d] for d in sorted(daily)]
    n = len(ys)
    s = sum(ys)
    zs = [n * y - s for y in ys]
    zyy = sum(z * z for z in zs)
    assert list(got["period"]) == sorted(roundeleven.PGRAM_PERIODS)
    for _, row in got.iterrows():
        p = int(row["period"])
        sc = sum(
            z * roundeleven.PGRAM_COSQ[p][k % p] for k, z in enumerate(zs)
        )
        ss = sum(
            z * roundeleven.PGRAM_SINQ[p][k % p] for k, z in enumerate(zs)
        )
        assert int(row["n_days"]) == n
        assert row["variance_share"] == _half_up(
            2 * (sc * sc + ss * ss), n * zyy * 10**6
        ), p
        # a variance share (2/n * sum over the basis pair): tiny
        # quantization drift aside it lives in [0, ~1]
        assert -1e-3 <= row["variance_share"] <= 1.1


def test_sign_test_matches_python(spark, sf_dir):
    got = _q("stats_sign_test_daily_pair", spark, sf_dir).iloc[0]
    t = Tables(spark, sf_dir)
    ev = t.events.select("ts", "event_type").toPandas()
    from collections import Counter

    days = sorted({ts.date() for ts in ev["ts"]})
    cv = Counter(ts.date() for ts, et in zip(ev["ts"], ev["event_type"]) if et == "view")
    cp = Counter(
        ts.date() for ts, et in zip(ev["ts"], ev["event_type"]) if et == "purchase"
    )
    m = sum(1 for d in days if cv.get(d, 0) != cp.get(d, 0))
    b = sum(1 for d in days if cv.get(d, 0) > cp.get(d, 0))
    assert int(got["n_days"]) == len(days)
    assert int(got["n_informative"]) == m
    assert int(got["b_plus"]) == b
    dev = 2 * b - m
    sign = -1 if dev < 0 else 1
    assert got["z_signed_sq"] == _half_up(sign * dev * dev, m)


def test_dup_quality_quadrant_matches_python(spark, sf_dir):
    from mysql_public_data_ingestor_spark.operators.ml import _scored_labeled

    got = _q("corpus_dup_quality_quadrant", spark, sf_dir)
    t = Tables(spark, sf_dir)
    docs = t.documents.select("doc_id", "text").toPandas()
    sc = _scored_labeled(t).select("doc_id", "label").toPandas()
    lab = dict(zip(sc["doc_id"], sc["label"]))
    from collections import Counter

    tc = Counter(docs["text"])
    cells: Counter = Counter()
    for did, tx in zip(docs["doc_id"], docs["text"]):
        cells[(tc[tx] > 1, lab[did] == 1)] += 1
    total = sum(cells.values())
    n_q = sum(v for (d, q), v in cells.items() if q)
    dup_m = Counter()
    for (d, q), v in cells.items():
        dup_m[d] += v
    assert len(got) == len(cells)
    for _, row in got.iterrows():
        key = (bool(row["is_dup"]), bool(row["is_quality"]))
        n = cells[key]
        assert int(row["n"]) == n
        assert row["share"] == _half_up(n, total)
        if key[1] and n_q:
            assert row["quality_lift"] == _half_up(
                n * total, dup_m[key[0]] * n_q
            )


def test_mia_matches_python(spark, sf_dir):
    from mysql_public_data_ingestor_spark.operators.ml import _scored_labeled

    gdf = _q("privacy_membership_inference_audit", spark, sf_dir)
    got = {c: gdf[c].iloc[0] for c in gdf.columns}
    t = Tables(spark, sf_dir)
    sc = _scored_labeled(t).select("doc_id", "score_q").toPandas()
    m = roundeleven.MIA_SPLIT_MOD
    from collections import defaultdict

    grid: dict = defaultdict(lambda: [0, 0])
    for did, q in zip(sc["doc_id"], sc["score_q"]):
        tr = 1 if _h60(f"miasplit|{int(did)}") % m < m - 1 else 0
        g = grid[int(q)]
        g[0] += 1
        g[1] += tr
    cum = 0
    r2 = n_tr = n_ho = 0
    for q in sorted(grid):
        cnt, cpos = grid[q]
        r2 += cpos * (2 * cum + cnt + 1)
        n_tr += cpos
        n_ho += cnt - cpos
        cum += cnt
    assert int(got["n_train"]) == n_tr
    assert int(got["n_holdout"]) == n_ho
    auc = _half_up(r2 - n_tr * (n_tr + 1), 2 * n_tr * n_ho)
    assert got["mia_auc"] == auc
    assert got["auc_gap"] == abs(auc - 0.5)
    # nothing was fit to the split: the score must NOT separate it
    assert got["auc_gap"] < 0.2


def test_bss_matches_python(spark, sf_dir):
    from mysql_public_data_ingestor_spark.operators.ml import _scored_labeled

    got = _q("ml_brier_skill_score", spark, sf_dir)
    t = Tables(spark, sf_dir)
    sc = _scored_labeled(t).select("lang", "score_q", "label").toPandas()
    from collections import defaultdict

    acc: dict = defaultdict(lambda: [0, 0, 0])
    for lg, q, y in zip(sc["lang"], sc["score_q"], sc["label"]):
        a = acc[lg]
        a[0] += 1
        a[1] += int(y)
        a[2] += (int(q) - 10000 * int(y)) ** 2
    for _, row in got.iterrows():
        n, pos, sd2 = acc[row["lang"]]
        assert int(row["n"]) == n and int(row["n_pos"]) == pos
        assert row["brier"] == _half_up(sd2, 10**8 * n)
        if 0 < pos < n:
            ref = 10**8 * pos * (n - pos)
            assert row["brier_skill"] == _half_up(ref - n * sd2, ref)
            assert row["brier_skill"] <= 1.0


def test_dsweep_matches_python(spark, sf_dir):
    gdf = _q("graph_diameter_double_sweep", spark, sf_dir)
    got = {c: gdf[c].iloc[0] for c in gdf.columns}
    t = Tables(spark, sf_dir)
    li = t.lineitem.select("l_orderkey", "l_partkey").toPandas()
    from collections import defaultdict

    parts: dict = defaultdict(set)
    for ok, pk in zip(li["l_orderkey"], li["l_partkey"]):
        parts[int(ok)].add(int(pk))
    adj: dict = defaultdict(set)
    for ps in parts.values():
        sl = sorted(ps)
        for i, a in enumerate(sl):
            for b in sl[i + 1 :]:
                adj[a].add(b)
                adj[b].add(a)
    h = graph_paths.DSWEEP_HOPS

    def bfs(seed):
        dist = {seed: 0}
        frontier = {seed}
        for k in range(1, h + 1):
            frontier = {
                v for u in frontier for v in adj[u] if v not in dist
            }
            for v in frontier:
                dist[v] = k
        return dist

    seed0 = min(adj)
    d1 = bfs(seed0)
    ecc1 = max(d1.values())
    far = min(n for n, d in d1.items() if d == ecc1)
    d2 = bfs(far)
    assert int(got["seed_node"]) == seed0
    assert int(got["sweep1_ecc"]) == ecc1
    assert int(got["far_node"]) == far
    assert int(got["diameter_lb"]) == max(d2.values())
    assert int(got["n_reached"]) == len(d2)
    # the double-sweep bound can only improve on the first sweep
    assert int(got["diameter_lb"]) >= ecc1 or int(got["diameter_lb"]) == graph_paths.DSWEEP_HOPS


# --- Batch C replicas ------------------------------------------------------


def test_absorbing_markov_matches_python(spark, sf_dir):
    got = _q("events_absorbing_markov_steps", spark, sf_dir)
    t = Tables(spark, sf_dir)
    ev = t.events.select("user_id", "ts", "event_id", "event_type").toPandas()
    ev = ev.sort_values(["user_id", "ts", "event_id"])
    from collections import Counter

    trans: Counter = Counter()
    prev: dict = {}
    for r in ev.itertuples():
        u = int(r.user_id)
        if u in prev:
            trans[(prev[u], r.event_type)] += 1
        prev[u] = r.event_type
    ts = roundeleven.TRANSIENT_STATES
    cf = {r: sum(c for (a, _b), c in trans.items() if a == r) for r in ts}
    C = [[trans.get((a, b), 0) for b in ts] for a in ts]

    def a_entry(r, c):
        return cf[ts[r]] - C[r][c] if r == c else -C[r][c]

    def det(entry):
        tot = 0
        for s, p in roundeleven._perm_terms():
            prod = 1
            for r in range(4):
                prod *= entry(r, p[r])
            tot += s * prod
        return tot

    dd = det(a_entry)
    assert dd != 0
    assert len(got) == 4
    for _, row in got.iterrows():
        j = ts.index(row["state"])

        def ej(r, c, _j=j):
            return cf[ts[r]] if c == _j else a_entry(r, c)

        assert int(row["n_out"]) == cf[row["state"]]
        assert row["expected_steps"] == _half_up(det(ej), dd), row["state"]
    # cross-check the whole linear system against numpy
    import numpy as np

    A = np.array([[a_entry(r, c) for c in range(4)] for r in range(4)], float)
    b = np.array([cf[s] for s in ts], float)
    tvec = np.linalg.solve(A, b)
    for _, row in got.iterrows():
        assert abs(row["expected_steps"] - tvec[ts.index(row["state"])]) < 1e-4
    # geometric sanity: with everything feeding purchase, steps >= 1
    assert (got["expected_steps"] >= 1.0).all()


def test_brown_forsythe_matches_python(spark, sf_dir):
    got = _q("stats_brown_forsythe_quantity", spark, sf_dir)
    t = Tables(spark, sf_dir)
    li = t.lineitem.select("l_orderkey", "l_quantity").toPandas()
    od = t.orders.select("o_orderkey", "o_orderpriority").toPandas()
    pr = dict(zip(od["o_orderkey"], od["o_orderpriority"]))
    from collections import defaultdict

    vals: dict = defaultdict(list)
    for ok, q in zip(li["l_orderkey"], li["l_quantity"]):
        vals[pr[ok]].append(int(q))
    med = {}
    stats = {}
    for g, vs in vals.items():
        vs.sort()
        m = vs[(len(vs) + 1) // 2 - 1]
        med[g] = m
        zs = [abs(v - m) for v in vs]
        stats[g] = (len(zs), sum(zs), sum(z * z for z in zs))
    tsum = sum(_halfup_int(10**4 * s * s, n) for n, s, _ in stats.values())
    nn = sum(n for n, _, _ in stats.values())
    kk = len(stats)
    sz_all = sum(s for _, s, _ in stats.values())
    szz_all = sum(zz for _, _, zz in stats.values())
    b_q = tsum - _halfup_int(10**4 * sz_all * sz_all, nn)
    d_q = 10**4 * szz_all - tsum
    w = _half_up(b_q * (nn - kk), d_q * (kk - 1))
    assert len(got) == kk
    for _, row in got.iterrows():
        n, s, _zz = stats[row["priority"]]
        assert int(row["n"]) == n
        assert int(row["group_median"]) == med[row["priority"]]
        assert row["mean_absdev"] == _half_up(s, n)
        assert row["w_stat"] == w
    assert w >= 0.0


def test_fligner_policello_matches_python(spark, sf_dir):
    gdf = _q("stats_fligner_policello_status", spark, sf_dir)
    got = {c: gdf[c].iloc[0] for c in gdf.columns}
    t = Tables(spark, sf_dir)
    li = t.lineitem.select("l_linestatus", "l_quantity").toPandas()
    from collections import Counter

    ca: Counter = Counter()
    cb: Counter = Counter()
    for s, q in zip(li["l_linestatus"], li["l_quantity"]):
        if s == "F":
            ca[int(q)] += 1
        elif s == "O":
            cb[int(q)] += 1

    def p2s(cx, cy):
        sp2 = s2p2 = m = 0
        for q, c in cx.items():
            p2 = 2 * sum(v for k, v in cy.items() if k < q) + cy.get(q, 0)
            m += c
            sp2 += c * p2
            s2p2 += c * p2 * p2
        return m, sp2, s2p2

    m, sp2, s2p2 = p2s(ca, cb)
    n, sq2, s2q2 = p2s(cb, ca)
    b1 = _halfup_int(100 * (m * s2p2 - sp2 * sp2), m)
    b2 = _halfup_int(100 * (n * s2q2 - sq2 * sq2), n)
    b3 = _halfup_int(100 * sp2 * sq2, m * n)
    assert int(got["n_f"]) == m and int(got["n_o"]) == n
    diff = sp2 - sq2
    sign = -1 if diff < 0 else 1
    assert got["u_signed_sq"] == _half_up(sign * 25 * diff * diff, b1 + b2 + b3)


# --- Batch D replicas ------------------------------------------------------


def test_k_sample_median_matches_python(spark, sf_dir):
    got = _q("stats_k_sample_median_test", spark, sf_dir)
    t = Tables(spark, sf_dir)
    li = t.lineitem.select("l_orderkey", "l_quantity").toPandas()
    od = t.orders.select("o_orderkey", "o_orderpriority").toPandas()
    pr = dict(zip(od["o_orderkey"], od["o_orderpriority"]))
    from collections import defaultdict

    vals: dict = defaultdict(list)
    allq = []
    for ok, q in zip(li["l_orderkey"], li["l_quantity"]):
        vals[pr[ok]].append(int(q))
        allq.append(int(q))
    allq.sort()
    med = allq[(len(allq) + 1) // 2 - 1]
    cells = {g: (len(v), sum(1 for x in v if x > med)) for g, v in vals.items()}
    n = len(allq)
    r_above = sum(a for _, a in cells.values())
    chi_q = 0
    for g, (ng, ab) in cells.items():
        for obs, rm in ((ab, r_above), (ng - ab, n - r_above)):
            if rm > 0:
                dev = obs * n - ng * rm
                chi_q += _halfup_int(10**6 * dev * dev, n * ng * rm)
    assert len(got) == len(cells)
    for _, row in got.iterrows():
        ng, ab = cells[row["priority"]]
        assert int(row["n"]) == ng
        assert int(row["n_above"]) == ab
        assert row["frac_above"] == _half_up(ab, ng)
        assert int(row["grand_median"]) == med
        assert row["chi2_stat"] == chi_q / 1e6
        assert int(row["df"]) == len(cells) - 1
    assert chi_q >= 0


def test_bottomk_jaccard_matches_python(spark, sf_dir):
    from mysql_public_data_ingestor_spark.operators.roundnine import (
        KMV_INT_DOMAIN,
        KMV_INT_K,
    )

    gdf = _q("sketch_bottomk_jaccard_users", spark, sf_dir)
    got = {c: gdf[c].iloc[0] for c in gdf.columns}
    t = Tables(spark, sf_dir)
    ev = t.events.select("user_id", "event_type").toPandas()
    from collections import Counter

    nv: Counter = Counter()
    nc: Counter = Counter()
    for u, et in zip(ev["user_id"], ev["event_type"]):
        if et == "view":
            nv[int(u)] += 1
        elif et == "click":
            nc[int(u)] += 1
    thr = roundeleven.BKJ_MIN
    aset = {u for u, c in nv.items() if c >= thr}
    bset = {u for u, c in nc.items() if c >= thr}
    uni = aset | bset
    mem = sorted(
        (_h60(str(u)) % KMV_INT_DOMAIN, u in aset, u in bset) for u in uni
    )[: KMV_INT_K]
    k_eff = len(mem)
    matches = sum(1 for _, a, b in mem if a and b)
    n_inter = len(aset & bset)
    assert int(got["k_eff"]) == k_eff
    assert int(got["matches"]) == matches
    assert int(got["n_inter"]) == n_inter
    assert int(got["n_union"]) == len(uni)
    assert got["j_est"] == _half_up(matches, k_eff)
    assert got["j_true"] == _half_up(n_inter, len(uni))


def test_norm2_anova_matches_python(spark, sf_dir):
    got = _q("embedding_norm2_anova_by_label", spark, sf_dir)
    t = Tables(spark, sf_dir)
    emb = t.embeddings.select("label", "embedding").toPandas()
    from collections import defaultdict

    acc: dict = defaultdict(list)
    for lb, vec in zip(emb["label"], emb["embedding"]):
        n2raw = sum(
            int(math.floor(x * 1e6 + 0.5)) ** 2 for x in vec
        )
        acc[int(lb)].append(_halfup_int(n2raw, 10**6))
    stats = {
        g: (len(v), sum(v), sum(x * x for x in v)) for g, v in acc.items()
    }
    tsum = sum(_halfup_int(10**4 * s * s, n) for n, s, _ in stats.values())
    nn = sum(n for n, _, _ in stats.values())
    kk = len(stats)
    s_all = sum(s for _, s, _ in stats.values())
    ss_all = sum(ss for _, _, ss in stats.values())
    b_q = tsum - _halfup_int(10**4 * s_all * s_all, nn)
    w_q = 10**4 * ss_all - tsum
    f = _half_up(b_q * (nn - kk), w_q * (kk - 1))
    assert len(got) == kk
    for _, row in got.iterrows():
        n, s, _ss = stats[int(row["label"])]
        assert int(row["n"]) == n
        assert row["mean_norm2"] == _half_up(s, 10**6 * n)
        assert row["f_stat"] == f
