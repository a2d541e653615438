"""Round-12 direct batch N gate (``operators/roundtwelve9.py``):
raw-frame oracle parity, plan bars, and
independent Python replicas with float anchors for the five ML
evaluation ops.
"""

from __future__ import annotations

import math
from collections import Counter, defaultdict

import pytest

from mysql_public_data_ingestor_spark.operators import ml_models
from mysql_public_data_ingestor_spark.operators import ml_ranking
from mysql_public_data_ingestor_spark.operators import ml_thresholds
from mysql_public_data_ingestor_spark.tables import Tables
from tools.check_correctness import compare, duck_connection

NAMES = [
    "ml_pav_roc_hull_audit",
    "ml_decision_curve_net_benefit",
    "ml_hosmer_lemeshow_bins",
    "ml_weighted_kappa_bands",
    "ml_rank_rbo_overlap",
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
# replicas (all built on the scored/labeled corpus replicated in pure
# Python from the shared hashed-classifier definition)
# ---------------------------------------------------------------------------


def _scored_py(spark, sf_dir):
    """Replica of ml_scores.scored_labeled: (doc_id, score_q, label, n_chars)."""
    import hashlib
    import re

    from mysql_public_data_ingestor_spark.operators.text import (
        CLS_WEIGHT_MOD,
        STOPWORDS,
    )

    half = (CLS_WEIGHT_MOD - 1) // 2
    pdf = Tables(spark, sf_dir).documents.select(
        "doc_id", "text", "n_chars"
    ).toPandas()
    out = []
    for doc_id, text, n_chars in zip(pdf["doc_id"], pdf["text"], pdf["n_chars"]):
        toks = re.sub(r"\s+", " ", text.lower()).strip().split(" ")
        ms = sum(
            int(hashlib.sha256(tk.encode()).hexdigest()[:15], 16) % CLS_WEIGHT_MOD
            - half
            for tk in toks
        )
        n = len(toks)
        d = 1000 * n + abs(ms)
        score_q = (10000 * (d + ms) + d) // (2 * d) if d > 0 else 5000
        n_stop = sum(1 for tk in toks if tk in STOPWORDS)
        label = 1 if (n >= 20 and 5 * n_stop <= 3 * n) else 0
        out.append((int(doc_id), score_q, label, int(n_chars)))
    return out


@pytest.fixture(scope="module")
def scored(spark, sf_dir):
    return _scored_py(spark, sf_dir)


def _pav_fit(bins):
    """Reference PAV via the minimax identity on (bin, n, pos) sorted
    ascending; returns fitted rate per bin as a float."""
    bins = sorted(bins)
    B = len(bins)
    fit = {}
    for k in range(B):
        best = -1.0
        for i in range(k + 1):
            mn = 10.0
            for j in range(k, B):
                p = sum(x[2] for x in bins[i : j + 1])
                nn = sum(x[1] for x in bins[i : j + 1])
                mn = min(mn, p / nn)
            best = max(best, mn)
        fit[bins[k][0]] = best
    return fit


def test_pav_hull_audit_matches_python(spark, sf_dir, scored):
    from mysql_public_data_ingestor_spark.operators.ml_scores import ISO_BINS

    bins_c = Counter()
    pos_c = Counter()
    for _, sq, lab, _nc in scored:
        b = min(sq // (10000 // ISO_BINS), ISO_BINS - 1)
        bins_c[b] += 1
        pos_c[b] += lab
    bins = [(b, bins_c[b], pos_c[b]) for b in sorted(bins_c)]
    fit = _pav_fit(bins)
    n_blocks = len({int(v * 1e6 + 0.5) for v in fit.values()})
    # hull: descending-score cumulative points + origin
    pts = [(0, 0)]
    for b, n, p in sorted(bins, reverse=True):
        pts.append((pts[-1][0] + n - p, pts[-1][1] + p))
    n_vertices = 2
    for m in range(1, len(pts) - 1):
        ok = True
        for i in range(m):
            for j in range(m + 1, len(pts)):
                cr = (pts[m][1] - pts[i][1]) * (pts[j][0] - pts[i][0]) - (
                    pts[j][1] - pts[i][1]
                ) * (pts[m][0] - pts[i][0])
                if cr <= 0:
                    ok = False
                    break
            if not ok:
                break
        n_vertices += 1 if ok else 0
    tri2 = sum(
        (pts[m + 1][0] - pts[m][0]) * (pts[m][1] + pts[m + 1][1])
        for m in range(len(pts) - 1)
    )
    nneg, npos = pts[-1]
    got = _spec("ml_pav_roc_hull_audit").fn(spark, sf_dir).toPandas().iloc[0]
    assert int(got["n_bins"]) == len(bins)
    assert int(got["n_blocks"]) == n_blocks
    assert int(got["n_hull_vertices"]) == n_vertices
    assert int(got["pav_hull_equiv"]) == (1 if n_blocks == n_vertices - 1 else 0)
    assert int(got["hull_auc_micro"]) == _halfup_int(10**6 * tri2, 2 * nneg * npos)
    # the theorem itself: PAV blocks ARE hull segments
    assert int(got["pav_hull_equiv"]) == 1
    assert 0 <= int(got["hull_auc_micro"]) <= 10**6


def test_dca_matches_python(spark, sf_dir, scored):
    n = len(scored)
    p = sum(lab for _, _, lab, _ in scored)
    got = (
        _spec("ml_decision_curve_net_benefit")
        .fn(spark, sf_dir)
        .toPandas()
        .set_index("threshold_milli")
    )
    assert list(got.index) == list(ml_thresholds.DCA_THRESHOLDS_MILLI)
    for t in ml_thresholds.DCA_THRESHOLDS_MILLI:
        sel = [(sq, lab) for _, sq, lab, _ in scored if sq >= 10 * t]
        tp = sum(lab for _, lab in sel)
        fp = len(sel) - tp
        row = got.loc[t]
        assert int(row["n_sel"]) == len(sel)
        assert (int(row["tp"]), int(row["fp"])) == (tp, fp)
        nb = _halfup_int(10**6 * (tp * (1000 - t) - fp * t), n * (1000 - t))
        nba = _halfup_int(10**6 * (p * (1000 - t) - (n - p) * t), n * (1000 - t))
        assert int(row["net_benefit_micro"]) == nb
        assert int(row["nb_treat_all_micro"]) == nba
        # float anchor
        tt = t / 1000.0
        nb_f = tp / n - (fp / n) * tt / (1 - tt)
        assert abs(nb / 1e6 - nb_f) < 1e-5
        # the model never beats the oracle upper bound P/N
        assert nb <= _halfup_int(10**6 * p, n) + 1


def test_hosmer_lemeshow_matches_python(spark, sf_dir, scored):
    bins = defaultdict(lambda: [0, 0, 0])  # decile -> [n, pos, s]
    for _, sq, lab, _ in scored:
        d = min(sq // 1000, 9)
        bins[d][0] += 1
        bins[d][1] += lab
        bins[d][2] += sq
    total = 0
    terms = {}
    for d, (nk, pk, sk) in bins.items():
        if 0 < sk < 10000 * nk:
            tm = _halfup_int(
                10**6 * (10000 * pk - sk) ** 2 * nk, sk * (10000 * nk - sk)
            )
            terms[d] = tm
            total += tm
        else:
            terms[d] = None
    got = (
        _spec("ml_hosmer_lemeshow_bins").fn(spark, sf_dir).toPandas().set_index("decile")
    )
    assert set(int(i) for i in got.index) == set(bins)
    for d, (nk, pk, sk) in bins.items():
        row = got.loc[d]
        assert int(row["n"]) == nk
        assert int(row["obs_pos"]) == pk
        assert int(row["exp_pos_micro"]) == 100 * sk
        if terms[d] is not None:
            assert int(row["hl_term_micro"]) == terms[d]
            # float anchor per term
            e = sk / 10000.0
            t_f = (pk - e) ** 2 / (e * (1 - e / nk))
            assert abs(terms[d] / 1e6 - t_f) < 1e-3 * max(1.0, t_f)
        assert int(row["hl_total_micro"]) == total


def test_weighted_kappa_matches_python(spark, sf_dir, scored):
    b = ml_models.KAPPA_BANDS
    cells = Counter()
    for _, sq, _, nc in scored:
        cells[(min(sq // (10000 // b), b - 1), min(nc // 1000, b - 1))] += 1
    m = sum(cells.values())
    diag = sum(c for (i, j), c in cells.items() if i == j)
    ri = Counter()
    cj = Counter()
    for (i, j), c in cells.items():
        ri[i] += c
        cj[j] += c
    el = sum(abs(i - j) * ri[i] * cj[j] for i in ri for j in cj)
    eq = sum((i - j) ** 2 * ri[i] * cj[j] for i in ri for j in cj)
    ol = sum(abs(i - j) * c for (i, j), c in cells.items())
    oq = sum((i - j) ** 2 * c for (i, j), c in cells.items())
    got = _spec("ml_weighted_kappa_bands").fn(spark, sf_dir).toPandas().iloc[0]
    assert int(got["n_docs"]) == m
    assert int(got["diag_share_micro"]) == _halfup_int(10**6 * diag, m)
    kl = 10**6 - _halfup_int(10**6 * ol * m, el)
    kq = 10**6 - _halfup_int(10**6 * oq * m, eq)
    assert int(got["kappa_linear_micro"]) == kl
    assert int(got["kappa_quadratic_micro"]) == kq
    # float anchors (textbook weighted kappa)
    kl_f = 1 - (ol / m) / (el / (m * m))
    kq_f = 1 - (oq / m) / (eq / (m * m))
    assert abs(kl / 1e6 - kl_f) < 1e-5
    assert abs(kq / 1e6 - kq_f) < 1e-5


def test_rbo_matches_python(spark, sf_dir, scored):
    d = ml_ranking.RBO_DEPTH
    top1 = sorted(scored, key=lambda x: (-x[1], x[0]))[:d]
    top2 = sorted(scored, key=lambda x: (-x[3], x[0]))[:d]
    r1 = {row[0]: i + 1 for i, row in enumerate(top1)}
    r2 = {row[0]: i + 1 for i, row in enumerate(top2)}
    common = {doc: max(r1[doc], r2[doc]) for doc in r1 if doc in r2}
    rbo = 0
    for dep in range(1, d + 1):
        cd = sum(1 for mr in common.values() if mr <= dep)
        rbo += _halfup_int(ml_ranking.RBO_W_MICRO[dep - 1] * cd, dep)
    got = _spec("ml_rank_rbo_overlap").fn(spark, sf_dir).toPandas().iloc[0]
    assert int(got["depth"]) == d
    assert int(got["n_common"]) == len(common)
    assert int(got["overlap_at_10"]) == sum(1 for mr in common.values() if mr <= 10)
    assert int(got[f"overlap_at_{d}"]) == len(common)
    assert int(got["rbo_trunc_micro"]) == rbo
    # float anchor: textbook truncated RBO
    p = 0.9
    rbo_f = sum(
        (1 - p) * p ** (dep - 1) * sum(1 for mr in common.values() if mr <= dep) / dep
        for dep in range(1, d + 1)
    )
    assert abs(rbo / 1e6 - rbo_f) < 1e-3
    assert 0 <= rbo <= 10**6
