"""Round-13 batch R gate (``operators/roundthirteen3.py``): raw-frame
oracle parity at sf0.001, plan bars, and Python replicas with float
anchors.
"""

from __future__ import annotations

import hashlib
import math
import re
from collections import Counter, defaultdict

import pytest

from mysql_public_data_ingestor_spark.operators import roundthirteen3 as r133
from mysql_public_data_ingestor_spark.operators import ml_calibration
from mysql_public_data_ingestor_spark.operators import ml_thresholds
from mysql_public_data_ingestor_spark.registry import all_queries
from mysql_public_data_ingestor_spark.tables import Tables
from tools.check_correctness import compare, duck_connection

# The queries this gate covers, by name, so its test ids stay fixed:
# the ones roundthirteen3.py registered before the ml family moved to
# ``operators/ml_*.py``.
NAMES = (
    "dedup_pair_jaccard_threshold_curve",
    "ml_adaptive_calibration_error",
    "ml_fbeta_optimal_thresholds",
    "privacy_delta_presence_audit",
    "text_honore_r_by_lang",
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
        assert name not in seen
        seen.add(name)
        assert callable(fn)
        assert isinstance(oracle, str) and oracle.strip()
        assert doc.strip(), f"{name} missing docstring"


@pytest.mark.parametrize(
    "entry", QUERIES, ids=[name for name, *_ in QUERIES]
)
def test_queued_query_matches_oracle(spark, sf_dir, entry):
    name, fn, oracle, _doc = entry
    sdf = fn(spark, sf_dir).toPandas()
    con = duck_connection(sf_dir)
    try:
        odf = con.execute(oracle).fetchdf()
    finally:
        con.close()
    problems = compare(name, sdf, odf)
    assert not problems, f"{name}: {problems}"


@pytest.mark.parametrize(
    "entry", QUERIES, ids=[name for name, *_ in QUERIES]
)
def test_plan_bars(spark, sf_dir, entry):
    from mysql_public_data_ingestor_spark.plans import assert_no_cartesian

    _name, fn, _oracle, _doc = entry
    assert_no_cartesian(fn(spark, sf_dir))


# ---------------------------------------------------------------------------
# replicas
# ---------------------------------------------------------------------------


def _fn(name):
    return all_queries()[name].fn


def _toks(text):
    return re.sub(r"\s+", " ", text.lower()).strip().split(" ")


def test_honore_matches_python(spark, sf_dir):
    from mysql_public_data_ingestor_spark.functions.detmath import ref_det_ln_q

    pdf = Tables(spark, sf_dir).documents.select("lang", "text").toPandas()
    tf = defaultdict(Counter)
    for lang, text in zip(pdf["lang"], pdf["text"]):
        tf[lang].update(_toks(text))
    got = _fn("text_honore_r_by_lang")(spark, sf_dir).toPandas().set_index("lang")
    assert set(got.index) == set(tf)
    for lang, c in tf.items():
        n = sum(c.values())
        v = len(c)
        v1 = sum(1 for x in c.values() if x == 1)
        row = got.loc[lang]
        assert int(row["n_tokens"]) == n
        assert int(row["vocab"]) == v
        assert int(row["hapax"]) == v1
        if v > v1:
            want = _halfup_int(100 * ref_det_ln_q(float(n)) * v, 1000 * (v - v1))
            assert int(row["honore_r_milli"]) == want
            # float anchor: textbook R
            r_f = 100 * math.log(n) / (1 - v1 / v)
            assert abs(want / 1e3 - r_f) < 1e-2 * max(1.0, r_f)


def _scored_py(spark, sf_dir):
    from mysql_public_data_ingestor_spark.operators.text import (
        CLS_WEIGHT_MOD,
        STOPWORDS,
    )

    half = (CLS_WEIGHT_MOD - 1) // 2
    pdf = Tables(spark, sf_dir).documents.select("doc_id", "text").toPandas()
    out = []
    for doc_id, text in zip(pdf["doc_id"], pdf["text"]):
        toks = _toks(text)
        ms = sum(
            _sha_i64(tk) % CLS_WEIGHT_MOD - half for tk in toks
        )
        n = len(toks)
        d = 1000 * n + abs(ms)
        score_q = (10000 * (d + ms) + d) // (2 * d) if d > 0 else 5000
        n_stop = sum(1 for tk in toks if tk in STOPWORDS)
        label = 1 if (n >= 20 and 5 * n_stop <= 3 * n) else 0
        out.append((int(doc_id), score_q, label))
    return out


def test_ace_matches_python(spark, sf_dir):
    scored = _scored_py(spark, sf_dir)
    k = ml_calibration.ACE_BINS
    grid = defaultdict(lambda: [0, 0])
    for _, sq, lab in scored:
        grid[sq][0] += 1
        grid[sq][1] += lab
    total = len(scored)
    bins = defaultdict(lambda: [0, 0, 0])  # bin -> [n, pos, s]
    before = 0
    for sq in sorted(grid):
        n, pos = grid[sq]
        b = min(k * before // total, k - 1)
        bins[b][0] += n
        bins[b][1] += pos
        bins[b][2] += sq * n
        before += n
    gaps = {
        b: _halfup_int(100 * abs(s - 10000 * pos), n)
        for b, (n, pos, s) in bins.items()
    }
    ace = _halfup_int(sum(gaps.values()), len(gaps))
    got = (
        _fn("ml_adaptive_calibration_error")(spark, sf_dir)
        .toPandas()
        .set_index("bin")
    )
    assert set(int(i) for i in got.index) == set(bins)
    for b, (n, pos, s) in bins.items():
        row = got.loc[b]
        assert int(row["n_b"]) == n
        assert int(row["pos_b"]) == pos
        assert int(row["exp_pos_micro"]) == 100 * s
        assert int(row["gap_micro"]) == gaps[b]
        assert int(row["ace_micro"]) == ace
        # float anchor per bin: |mean score - pos rate|
        gap_f = abs(s / 10000.0 / n - pos / n)
        assert abs(gaps[b] / 1e6 - gap_f) < 1e-5
    # equal-mass property: every bin within 2x of the ideal mass
    sizes = [n for n, _, _ in bins.values()]
    assert max(sizes) <= 2 * (total // k) + max(
        grid.values(), key=lambda x: x[0]
    )[0]


def test_fbeta_matches_python(spark, sf_dir):
    scored = _scored_py(spark, sf_dir)
    grid = defaultdict(lambda: [0, 0])
    for _, sq, lab in scored:
        grid[sq][0] += 1
        grid[sq][1] += lab
    p = sum(lab for _, _, lab in scored)
    got = _fn("ml_fbeta_optimal_thresholds")(spark, sf_dir).toPandas()
    assert len(got) == len(ml_thresholds.FBETA_SQ)
    for bn, bd in ml_thresholds.FBETA_SQ:
        best = None
        n_sel = tp = 0
        for sq in sorted(grid, reverse=True):
            n, pos = grid[sq]
            n_sel += n
            tp += pos
            fp = n_sel - tp
            fn = p - tp
            den = (bd + bn) * tp + bn * fn + bd * fp
            if den <= 0:
                continue
            f = _halfup_int(10**6 * (bd + bn) * tp, den)
            key = (f, -sq)
            if best is None or key > best[0]:
                best = (key, sq, n_sel, tp, fp, fn, f)
        _, sq, n_sel, tp, fp, fn, f = best
        row = got[(got["beta_sq_num"] == bn) & (got["beta_sq_den"] == bd)].iloc[0]
        assert int(row["best_threshold_q"]) == sq
        assert int(row["n_selected"]) == n_sel
        assert (int(row["tp"]), int(row["fp"]), int(row["fn"])) == (tp, fp, fn)
        assert int(row["fbeta_micro"]) == f
        # float anchor: textbook F-beta at the chosen threshold
        b2 = bn / bd
        prec = tp / (tp + fp) if tp + fp else 0.0
        rec = tp / (tp + fn) if tp + fn else 0.0
        if prec + rec > 0:
            f_f = (1 + b2) * prec * rec / (b2 * prec + rec)
            assert abs(f / 1e6 - f_f) < 1e-4


def test_jt_curve_matches_python(spark, sf_dir):
    from mysql_public_data_ingestor_spark.operators.dedup import dedup_ngram_jaccard

    pairs = dedup_ngram_jaccard(spark, sf_dir).toPandas()
    got = (
        _fn("dedup_pair_jaccard_threshold_curve")(spark, sf_dir)
        .toPandas()
        .set_index("threshold_milli")
    )
    assert list(got.index) == list(r133.JT_THRESHOLDS_MILLI)
    for t in r133.JT_THRESHOLDS_MILLI:
        sel = pairs[pairs["jaccard"] >= t / 1000.0]
        row = got.loc[t]
        assert int(row["n_pairs"]) == len(sel)
        assert int(row["n_dropped_greedy"]) == sel["doc_b"].nunique()
    # monotone: higher threshold never keeps more pairs or drops more
    np_ = list(got["n_pairs"])
    nd = list(got["n_dropped_greedy"])
    assert np_ == sorted(np_, reverse=True)
    assert nd == sorted(nd, reverse=True)


def test_delta_presence_matches_python(spark, sf_dir):
    pdf = Tables(spark, sf_dir).customer.select(
        "c_custkey", "c_nationkey", "c_acctbal"
    ).toPandas()
    cells = defaultdict(lambda: [0, 0])
    for ck, nat, bal in zip(pdf["c_custkey"], pdf["c_nationkey"], pdf["c_acctbal"]):
        band = math.floor(float(bal) / 1000)
        pub = 1 if _sha_i64(f"dp|{int(ck)}") % r133.DP_SAMPLE_MOD == 0 else 0
        cell = (int(nat), band)
        cells[cell][0] += 1
        cells[cell][1] += pub
    n_pop = sum(n for n, _ in cells.values())
    n_pub = sum(p for _, p in cells.values())
    max_p = max(_halfup_int(10**6 * p, n) for n, p in cells.values())
    risky = [(n, p) for n, p in cells.values() if 2 * p > n]
    got = _fn("privacy_delta_presence_audit")(spark, sf_dir).toPandas().iloc[0]
    assert int(got["n_cells"]) == len(cells)
    assert int(got["n_pop"]) == n_pop
    assert int(got["n_pub"]) == n_pub
    assert int(got["max_presence_micro"]) == max_p
    assert int(got["n_risky_cells"]) == len(risky)
    assert int(got["n_risky_published"]) == sum(p for _, p in risky)
    assert int(got["mean_presence_micro"]) == _halfup_int(10**6 * n_pub, n_pop)
    # the hash-25% sample should land near 1/4 presence on average
    assert abs(n_pub / n_pop - 0.25) < 0.05
