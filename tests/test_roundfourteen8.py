"""Round-14 direct batch AC gate (``operators/roundfourteen8.py``):
raw-frame oracle parity, plan bars, and
independent Python replicas with float anchors for the six ops
(McClish partial AUC, EER, cost-curve envelope, beta-likeness,
prosecutor re-id risk, participation ratio).
"""

from __future__ import annotations

import math
from collections import Counter, defaultdict

import pytest

from mysql_public_data_ingestor_spark.operators import roundfourteen8 as r148
from mysql_public_data_ingestor_spark.operators import ml_ranking
from mysql_public_data_ingestor_spark.operators import ml_thresholds
from mysql_public_data_ingestor_spark.tables import Tables
from tools.check_correctness import compare, duck_connection

NAMES = [
    "ml_partial_auc_mcclish",
    "ml_equal_error_rate",
    "ml_cost_curve_envelope",
    "privacy_beta_likeness_audit",
    "privacy_reid_risk_prosecutor",
    "embedding_participation_ratio",
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


def _roc_points(spark, sf_dir):
    """Descending-threshold ROC cumulative off the shared scored scan."""
    from mysql_public_data_ingestor_spark.operators.ml_scores import scored_labeled

    pdf = (
        scored_labeled(Tables(spark, sf_dir))
        .select("score_q", "label")
        .toPandas()
    )
    grid = defaultdict(lambda: [0, 0])
    for s, lab in zip(pdf["score_q"], pdf["label"]):
        grid[int(s)][0] += 1
        grid[int(s)][1] += int(lab)
    nn = sum(v[0] for v in grid.values())
    p = sum(v[1] for v in grid.values())
    cum = []
    n_sel = tp = 0
    for v in sorted(grid, reverse=True):
        n_sel += grid[v][0]
        tp += grid[v][1]
        cum.append((v, n_sel, tp))
    return cum, nn, p


def test_pauc_matches_python(spark, sf_dir):
    cum, nn, p = _roc_points(spark, sf_dir)
    b = ml_ranking.PAUC_B_NUM / ml_ranking.PAUC_B_DEN
    neg = nn - p
    pts = [(0.0, 0.0)] + [((ns - tp) / neg, tp / p) for _, ns, tp in cum]
    a_pico = 0
    for (x1, y1), (x2, y2) in zip(pts, pts[1:]):
        if x2 <= x1:
            continue
        if x2 <= b:
            a = (x2 - x1) * (y1 + y2) * 0.5
        elif x1 < b:
            yb = y1 + (y2 - y1) * ((b - x1) / (x2 - x1))
            a = (b - x1) * (y1 + yb) * 0.5
        else:
            a = 0.0
        a_pico += math.floor(a * 1e12 + 0.5)
    got = _spec("ml_partial_auc_mcclish").fn(spark, sf_dir).toPandas().iloc[0]
    assert int(got["n_docs"]) == nn
    assert int(got["n_pos"]) == p
    assert int(got["pauc_pico"]) == a_pico
    std = 0.5 * (1.0 + ((a_pico / 1e12 - b * b * 0.5) / (b - b * b * 0.5)))
    assert int(got["pauc_mcclish_micro"]) == math.floor(std * 1e6 + 0.5)
    # float anchors: area within band bounds; standardized in [0, 1]
    assert 0 <= a_pico / 1e12 <= b + 1e-12
    assert 0 <= int(got["pauc_mcclish_micro"]) <= 10**6


def test_eer_matches_python(spark, sf_dir):
    cum, nn, p = _roc_points(spark, sf_dir)
    neg = nn - p
    prev = (None, 0.0, 1.0)  # (v, fpr, fnr)
    hit = None
    for v, ns, tp in cum:
        fpr = (ns - tp) / neg
        fnr = 1.0 - tp / p
        if fpr >= fnr:
            hit = (v, prev[1], prev[2], fpr, fnr)
            break
        prev = (v, fpr, fnr)
    assert hit is not None
    v, fpr1, fnr1, fpr2, fnr2 = hit
    den = (fpr2 - fpr1) + (fnr1 - fnr2)
    eer = fpr1 + (fpr2 - fpr1) * ((fnr1 - fpr1) / den) if den > 0 else fpr2
    got = _spec("ml_equal_error_rate").fn(spark, sf_dir).toPandas().iloc[0]
    assert int(got["crossing_threshold_q"]) == v
    assert int(got["eer_micro"]) == math.floor(eer * 1e6 + 0.5)
    # float anchors: EER between the bracketing rates
    assert min(fpr1, fnr2) - 1e-9 <= eer <= max(fpr2, fnr1) + 1e-9


def test_cost_envelope_matches_python(spark, sf_dir):
    cum, nn, p = _roc_points(spark, sf_dir)
    neg = nn - p
    d = ml_thresholds.COST_PC_DEN
    rows = [(0, 0)] + [(ns, tp) for _, ns, tp in cum]
    got = _spec("ml_cost_curve_envelope").fn(spark, sf_dir).toPandas()
    assert list(got["pc_num"]) == list(range(1, d))
    for _, row in got.iterrows():
        i = int(row["pc_num"])
        env = min(
            _halfup_int(
                10**6 * (i * (p - tp) * neg + (d - i) * (ns - tp) * p),
                d * p * neg,
            )
            for ns, tp in rows
        )
        triv = _halfup_int(10**6 * min(i, d - i), d)
        assert int(row["envelope_micro"]) == env
        assert int(row["trivial_micro"]) == triv
        assert int(row["gain_micro"]) == triv - env
        # structural anchor: envelope never beats zero nor exceeds trivial
        assert 0 <= env <= triv + 1


def _qi_groups(spark, sf_dir):
    pdf = (
        Tables(spark, sf_dir).documents.select("lang", "n_chars", "source").toPandas()
    )
    grp = Counter()
    for lang, n_chars, source in zip(pdf["lang"], pdf["n_chars"], pdf["source"]):
        grp[(lang, int(n_chars) // r148.BETA_BUCKET, source)] += 1
    return grp


def test_beta_likeness_matches_python(spark, sf_dir):
    grp = _qi_groups(spark, sf_dir)
    gsize = Counter()
    gsrc = Counter()
    for (lang, b, src), c in grp.items():
        gsize[(lang, b)] += c
        gsrc[src] += c
    big_n = sum(grp.values())
    per_group = defaultdict(int)
    for (lang, b, src), c in grp.items():
        ng = gsize[(lang, b)]
        cs = gsrc[src]
        if c * big_n > cs * ng:
            bm = _halfup_int(10**6 * (c * big_n - cs * ng), cs * ng)
            per_group[(lang, b)] = max(per_group[(lang, b)], bm)
        else:
            per_group.setdefault((lang, b), 0)
    got = _spec("privacy_beta_likeness_audit").fn(spark, sf_dir).toPandas().iloc[0]
    assert int(got["n_groups"]) == len(gsize)
    assert int(got["max_beta_micro"]) == max(per_group.values())
    for bn, bd in r148.BETA_THRESH:
        thr = 10**6 * bn // bd
        viol = sum(1 for v in per_group.values() if v > thr)
        col = f"share_groups_beta_gt_{bn}_{bd}_micro"
        assert int(got[col]) == _halfup_int(10**6 * viol, len(gsize))
    # float anchor: relative-gain definition on the worst cell
    assert int(got["max_beta_micro"]) >= 0


def test_reid_risk_matches_python(spark, sf_dir):
    grp = _qi_groups(spark, sf_dir)
    gsize = Counter()
    for (lang, b, _src), c in grp.items():
        gsize[(lang, b)] += c
    n = sum(gsize.values())
    g = len(gsize)
    got = _spec("privacy_reid_risk_prosecutor").fn(spark, sf_dir).toPandas().iloc[0]
    assert int(got["n_records"]) == n
    assert int(got["n_groups"]) == g
    assert int(got["avg_risk_micro"]) == _halfup_int(10**6 * g, n)
    assert int(got["max_risk_micro"]) == _halfup_int(10**6, min(gsize.values()))
    for k in r148.REID_KS:
        mass = sum(c for c in gsize.values() if c < k)
        col = f"share_records_risk_gt_1_{k}_micro"
        assert int(got[col]) == _halfup_int(10**6 * mass, n)
    # structural anchor: risk shares monotone in k
    shares = [int(got[f"share_records_risk_gt_1_{k}_micro"]) for k in r148.REID_KS]
    assert shares == sorted(shares)


def test_participation_ratio_matches_python(spark, sf_dir):
    pdf = Tables(spark, sf_dir).embeddings.select("vec_id", "embedding").toPandas()
    vecs = {
        int(r.vec_id): [
            math.floor(float(x) * r148.PR_Q + 0.5) for x in r.embedding
        ]
        for r in pdf.itertuples()
    }
    n = len(vecs)
    d = len(next(iter(vecs.values())))
    means = [
        _halfup_int(sum(v[i] for v in vecs.values()), n) for i in range(d)
    ]
    cx = {vid: [v[i] - means[i] for i in range(d)] for vid, v in vecs.items()}
    s = [[0] * d for _ in range(d)]
    for v in cx.values():
        for i in range(d):
            vi = v[i]
            for j in range(i, d):
                s[i][j] += vi * v[j]
    tr_s = sum(s[i][i] for i in range(d))
    frob2 = sum(
        (s[i][j] ** 2 if i == j else 2 * s[i][j] ** 2)
        for i in range(d)
        for j in range(i, d)
    )
    got = _spec("embedding_participation_ratio").fn(spark, sf_dir).toPandas().iloc[0]
    assert int(got["n_vecs"]) == n
    assert int(got["dim"]) == d
    assert int(got["trace_scatter"]) == tr_s
    assert int(got["participation_ratio_micro"]) == _halfup_int(
        10**6 * tr_s * tr_s, frob2
    )
    assert int(got["pr_over_d_micro"]) == _halfup_int(10**6 * tr_s * tr_s, frob2 * d)
    # float anchor vs numpy eigen-spectrum of the float covariance
    import numpy as np

    x = np.array([v for v in vecs.values()], dtype=float)
    xc = x - x.mean(axis=0)
    cov = xc.T @ xc
    ev = np.linalg.eigvalsh(cov)
    pr_np = (ev.sum() ** 2) / (ev**2).sum()
    assert abs(int(got["participation_ratio_micro"]) / 1e6 - pr_np) < 0.01 * pr_np + 0.01
    assert 1 <= int(got["participation_ratio_micro"]) / 1e6 <= d
