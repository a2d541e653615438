"""Round-12 direct batch O gate (``operators/roundtwelve10.py``):
raw-frame oracle parity, plan bars, and
independent Python replicas with float anchors for the five ops
(randomized response, clustering depth, hubness, Lin CCC,
Diebold–Mariano).
"""

from __future__ import annotations

import hashlib
import math
from collections import Counter, defaultdict

import pytest

from mysql_public_data_ingestor_spark.operators import daily_hypothesis
from mysql_public_data_ingestor_spark.operators import roundtwelve10 as r1210
from mysql_public_data_ingestor_spark.tables import Tables
from tools.check_correctness import compare, duck_connection

NAMES = [
    "privacy_randomized_response_audit",
    "layout_clustering_depth_audit",
    "embedding_knn_hubness_audit",
    "stats_lin_ccc_reconciliation",
    "stats_diebold_mariano_daily",
]


def _spec(name):
    from mysql_public_data_ingestor_spark import registry

    registry._ensure_loaded()
    return registry._REGISTRY[name]


def _halfup_int(num: int, den: int) -> int:
    mag = (2 * abs(num) + den) // (2 * den)
    return -mag if num < 0 else mag


def _sha_i64(s: str) -> int:
    return int(hashlib.sha256(s.encode()).hexdigest()[:15], 16)


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


def test_randomized_response_matches_python(spark, sf_dir):
    pdf = Tables(spark, sf_dir).customer.select("c_custkey", "c_mktsegment").toPandas()
    segs = sorted(set(pdf["c_mktsegment"]))
    k = len(segs)
    truth = Counter()
    obs = Counter()
    for ck, seg in zip(pdf["c_custkey"], pdf["c_mktsegment"]):
        truth[seg] += 1
        coin = _sha_i64(f"rr|{int(ck)}") % r1210.RR_KEEP_DEN
        if coin < r1210.RR_KEEP_NUM:
            obs[seg] += 1
        else:
            pick = (_sha_i64(f"rrc|{int(ck)}") % 10**9) % k
            obs[segs[pick]] += 1
    n = sum(truth.values())
    got = (
        _spec("privacy_randomized_response_audit")
        .fn(spark, sf_dir)
        .toPandas()
        .set_index("segment")
    )
    assert list(got.index) == segs
    est_sum = 0.0
    for seg in segs:
        row = got.loc[seg]
        assert int(row["true_n"]) == truth[seg]
        assert int(row["reported_n"]) == obs[seg]
        est = _halfup_int(
            10**6 * (r1210.RR_KEEP_DEN * k * obs[seg] - n),
            r1210.RR_KEEP_NUM * k,
        )
        assert int(row["est_count_micro"]) == est
        assert int(row["est_err_micro"]) == est - 10**6 * truth[seg]
        # float anchor: the textbook RR debias
        p = r1210.RR_KEEP_NUM / r1210.RR_KEEP_DEN
        est_f = (obs[seg] - n * (1 - p) / k) / p
        assert abs(est / 1e6 - est_f) < 1e-5 * max(1.0, abs(est_f))
        est_sum += est / 1e6
    # debiased estimates sum exactly to n (the estimator is unbiased
    # and mass-preserving)
    assert abs(est_sum - n) < 1e-3 * k


def test_clustering_depth_matches_python(spark, sf_dir):
    pdf = Tables(spark, sf_dir).lineitem.select(
        "l_orderkey", "l_partkey", "l_shipdate", "l_extendedprice"
    ).toPandas()
    fcount = r1210.CLUSTER_FILES
    mo = int(pdf["l_orderkey"].max())
    width = (mo + fcount) // fcount
    import datetime

    epoch = datetime.date(1970, 1, 1)

    def keyvals(row):
        sd = row[2]
        d = sd.date() if hasattr(sd, "date") else sd
        return {
            "l_orderkey": int(row[0]),
            "l_partkey": int(row[1]),
            "l_shipdate_days": (d - epoch).days,
            "l_extprice_cents": int(row[3] * 100.0 + 0.5),
        }

    ranges = defaultdict(lambda: [None, None])  # (key, file) -> [lo, hi]
    for row in pdf.itertuples(index=False):
        f = int(row[0]) // width
        for key, v in keyvals(row).items():
            cur = ranges[(key, f)]
            cur[0] = v if cur[0] is None else min(cur[0], v)
            cur[1] = v if cur[1] is None else max(cur[1], v)
    got = (
        _spec("layout_clustering_depth_audit")
        .fn(spark, sf_dir)
        .toPandas()
        .set_index("key_name")
    )
    for key in ("l_orderkey", "l_partkey", "l_shipdate_days", "l_extprice_cents"):
        files = {f: r for (kk, f), r in ranges.items() if kk == key}
        depths = {
            f: sum(
                1
                for g, rg in files.items()
                if rg[0] <= files[f][1] and rg[1] >= files[f][0]
            )
            for f in files
        }
        row = got.loc[key]
        assert int(row["n_files"]) == len(files)
        assert int(row["max_depth"]) == max(depths.values())
        assert int(row["avg_depth_micro"]) == _halfup_int(
            10**6 * sum(depths.values()), len(files)
        )
    # the physical (orderkey) layout must be perfectly clustered on
    # its own key: ranges partition the keyspace, depth 1 everywhere
    assert int(got.loc["l_orderkey"]["max_depth"]) == 1


def test_hubness_matches_python(spark, sf_dir):
    pdf = Tables(spark, sf_dir).embeddings.select("vec_id", "embedding").toPandas()
    B, CAP, K = r1210.HUB_BUCKETS, r1210.HUB_PER_BUCKET, r1210.HUB_K
    buckets = defaultdict(list)
    for vid, emb in zip(pdf["vec_id"], pdf["embedding"]):
        vid = int(vid)
        buckets[_sha_i64(str(vid)) % B].append((_sha_i64(f"hub|{vid}"), vid, emb))
    sample = {}
    for bk, rows in buckets.items():
        for _, vid, emb in sorted(rows, key=lambda r: (r[0], r[1]))[:CAP]:
            sample[vid] = [int(math.floor(float(x) * 1e6 + 0.5)) for x in emb]
    ids = sorted(sample)
    norms = {v: sum(x * x for x in sample[v]) for v in ids}
    cq = {}
    for i, va in enumerate(ids):
        for vb in ids[i + 1 :]:
            dot = sum(a * b for a, b in zip(sample[va], sample[vb]))
            if norms[va] > 0 and norms[vb] > 0:
                c = math.floor(
                    float(dot)
                    / (math.sqrt(float(norms[va])) * math.sqrt(float(norms[vb])))
                    * 1e6
                )
                cq[(va, vb)] = c
                cq[(vb, va)] = c
    kocc = Counter()
    for va in ids:
        nbrs = sorted(
            ((vb, c) for (a, vb), c in cq.items() if a == va),
            key=lambda t: (-t[1], t[0]),
        )[:K]
        for vb, _ in nbrs:
            kocc[vb] += 1
    n_sample = len(ids)
    occs = [kocc.get(v, 0) for v in ids]
    sksq = sum(o * o for o in occs)
    sk = sum(occs)
    got = _spec("embedding_knn_hubness_audit").fn(spark, sf_dir).toPandas().iloc[0]
    assert int(got["n_sample"]) == n_sample
    assert int(got["k"]) == K
    assert int(got["max_k_occ"]) == max(occs)
    assert int(got["n_hubs"]) == sum(1 for o in occs if o >= 2 * K)
    assert int(got["n_antihubs"]) == sum(1 for o in occs if o == 0)
    assert int(got["k_occ_var_micro"]) == _halfup_int(
        10**6 * (n_sample * sksq - sk * sk), n_sample * n_sample
    )
    # conservation: every anchor contributes exactly K list slots
    assert sk == n_sample * K


def test_lin_ccc_matches_python(spark, sf_dir):
    t = Tables(spark, sf_dir)
    li = t.lineitem.select(
        "l_orderkey", "l_extendedprice", "l_discount", "l_tax"
    ).toPandas()
    od = t.orders.select("o_orderkey", "o_totalprice").toPandas()
    ycents = defaultdict(int)
    for ok, ep, dc, tx in zip(
        li["l_orderkey"], li["l_extendedprice"], li["l_discount"], li["l_tax"]
    ):
        ycents[int(ok)] += int(
            math.floor(float(ep) * (1 - float(dc)) * (1 + float(tx)) * 100.0 + 0.5)
        )
    xs, ys = [], []
    for ok, tp in zip(od["o_orderkey"], od["o_totalprice"]):
        ok = int(ok)
        if ok in ycents:
            xs.append(int(math.floor(float(tp) * 100.0 + 0.5)))
            ys.append(ycents[ok])
    n = len(xs)
    sx, sy = sum(xs), sum(ys)
    sxx = sum(x * x for x in xs)
    syy = sum(y * y for y in ys)
    sxy = sum(x * y for x, y in zip(xs, ys))
    den = (n * sxx - sx * sx) + (n * syy - sy * sy) + (sx - sy) ** 2
    ccc = _halfup_int(10**6 * 2 * (n * sxy - sx * sy), den)
    got = _spec("stats_lin_ccc_reconciliation").fn(spark, sf_dir).toPandas().iloc[0]
    assert int(got["n_orders"]) == n
    assert int(got["sum_header_cents"]) == sx
    assert int(got["sum_lines_cents"]) == sy
    assert int(got["ccc_micro"]) == ccc
    # float anchor: textbook CCC
    mx, my = sx / n, sy / n
    sx2 = sxx / n - mx * mx
    sy2 = syy / n - my * my
    sxyc = sxy / n - mx * my
    ccc_f = 2 * sxyc / (sx2 + sy2 + (mx - my) ** 2)
    assert abs(ccc / 1e6 - ccc_f) < 1e-5
    assert -(10**6) <= ccc <= 10**6


def test_diebold_mariano_matches_python(spark, sf_dir):
    pdf = Tables(spark, sf_dir).orders.select("o_orderdate").toPandas()
    acc: dict = defaultdict(int)
    for v in pdf["o_orderdate"]:
        acc[v.date() if hasattr(v, "date") else v] += 1
    ys = [y for _, y in sorted(acc.items())]
    n_days = len(ys)
    s = daily_hypothesis.DM_SEASON
    l1 = l7 = sd = sdd = 0
    cnt = 0
    for i in range(s, n_days):
        e1 = (ys[i] - ys[i - 1]) ** 2
        e7 = (ys[i] - ys[i - s]) ** 2
        d = e1 - e7
        l1 += e1
        l7 += e7
        sd += d
        sdd += d * d
        cnt += 1
    got = _spec("stats_diebold_mariano_daily").fn(spark, sf_dir).toPandas().iloc[0]
    assert int(got["n_eval_days"]) == cnt
    assert int(got["sum_loss_naive"]) == l1
    assert int(got["sum_loss_seasonal"]) == l7
    var = cnt * sdd - sd * sd
    if var > 0:
        want = _halfup_int(10**6 * sd * sd, var) * cnt * (-1 if sd < 0 else 1)
        assert int(got["dm_z_sq_signed_micro"]) == want
        # float anchor: DM^2 with population variance
        dbar = sd / cnt
        v = sdd / cnt - dbar * dbar
        dm2 = cnt * dbar * dbar / v
        assert abs(abs(want) / 1e6 - dm2) < 1e-2 * max(1.0, dm2)
