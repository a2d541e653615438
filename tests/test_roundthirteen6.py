"""Round-13 direct batch U gate (``operators/roundthirteen6.py``):
raw-frame oracle parity, plan bars, and
independent Python replicas with float anchors for the five ops
(Goodman-Kruskal lambda and tau, Sichel/Guiraud richness, Good-Turing
coverage, MinHash estimator audit).
"""

from __future__ import annotations

import hashlib
import re
from collections import Counter, defaultdict

import pytest

from mysql_public_data_ingestor_spark.tables import Tables
from tools.check_correctness import compare, duck_connection

NAMES = [
    "stats_goodman_kruskal_lambda",
    "stats_goodman_kruskal_tau",
    "text_sichel_guiraud_richness",
    "corpus_good_turing_coverage",
    "dedup_minhash_estimator_audit",
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


def _grid(spark, sf_dir):
    pdf = (
        Tables(spark, sf_dir)
        .orders.select("o_orderpriority", "o_orderstatus")
        .toPandas()
    )
    return Counter(zip(pdf["o_orderpriority"], pdf["o_orderstatus"]))


def test_gk_lambda_matches_python(spark, sf_dir):
    grid = _grid(spark, sf_dir)
    n = sum(grid.values())
    rowmax = Counter()
    colmax = Counter()
    rowmarg = Counter()
    colmarg = Counter()
    for (x, y), c in grid.items():
        rowmax[x] = max(rowmax[x], c)
        colmax[y] = max(colmax[y], c)
        rowmarg[x] += c
        colmarg[y] += c
    sum_rowmax = sum(rowmax.values())
    sum_colmax = sum(colmax.values())
    max_col = max(colmarg.values())
    max_row = max(rowmarg.values())
    got = _spec("stats_goodman_kruskal_lambda").fn(spark, sf_dir).toPandas().iloc[0]
    assert int(got["n"]) == n
    lyx = _halfup_int(10**6 * (sum_rowmax - max_col), n - max_col)
    lxy = _halfup_int(10**6 * (sum_colmax - max_row), n - max_row)
    lsym = _halfup_int(
        10**6 * ((sum_rowmax + sum_colmax) - (max_col + max_row)),
        2 * n - (max_col + max_row),
    )
    assert int(got["lambda_y_given_x_micro"]) == lyx
    assert int(got["lambda_x_given_y_micro"]) == lxy
    assert int(got["lambda_symmetric_micro"]) == lsym
    # float anchor + range: lambda in [0, 1]
    l_f = (sum_rowmax - max_col) / (n - max_col)
    assert abs(lyx / 1e6 - l_f) < 1e-5
    for v in (lyx, lxy, lsym):
        assert 0 <= v <= 10**6
    # symmetric lambda lies between the directional pair
    assert min(lyx, lxy) - 1 <= lsym <= max(lyx, lxy) + 1


def test_gk_tau_matches_python(spark, sf_dir):
    grid = _grid(spark, sf_dir)
    n = sum(grid.values())
    rows = defaultdict(lambda: [0, 0])  # x -> [nx, sum n_xy^2]
    cols = Counter()
    for (x, y), c in grid.items():
        rows[x][0] += c
        rows[x][1] += c * c
        cols[y] += c
    b = sum(c * c for c in cols.values())
    num_t = sum(_halfup_int(10**6 * n * a_x, nx) for nx, a_x in rows.values())
    want = _halfup_int(num_t - 10**6 * b, n * n - b)
    got = _spec("stats_goodman_kruskal_tau").fn(spark, sf_dir).toPandas().iloc[0]
    assert int(got["n"]) == n
    assert int(got["gk_tau_micro"]) == want
    # float anchor: the textbook rational form
    tau_f = (n * sum(a / nx for nx, a in rows.values()) - b) / (n * n - b)
    assert abs(want / 1e6 - tau_f) < 1e-5
    assert 0 <= want <= 10**6


def _spectrum(spark, sf_dir):
    pdf = Tables(spark, sf_dir).documents.select("lang", "text").toPandas()
    ws = re.compile(r"\s+")
    tf = defaultdict(Counter)
    for lang, text in zip(pdf["lang"], pdf["text"]):
        for tok in ws.sub(" ", text.lower()).strip().split(" "):
            tf[lang][tok] += 1
    out = {}
    for lang, c in tf.items():
        n = sum(c.values())
        v = len(c)
        v1 = sum(1 for x in c.values() if x == 1)
        v2 = sum(1 for x in c.values() if x == 2)
        out[lang] = (n, v, v1, v2)
    return out


def test_sichel_guiraud_matches_python(spark, sf_dir):
    sp = _spectrum(spark, sf_dir)
    got = _spec("text_sichel_guiraud_richness").fn(spark, sf_dir).toPandas()
    assert list(got["lang"]) == sorted(sp)
    for _, row in got.iterrows():
        n, v, _v1, v2 = sp[row["lang"]]
        assert int(row["n_tokens"]) == n
        assert int(row["vocab"]) == v
        assert int(row["v2"]) == v2
        s = _halfup_int(10**6 * v2, v)
        g = _halfup_int(10**6 * v * v, n)
        assert int(row["sichel_s_micro"]) == s
        assert int(row["guiraud_sq_micro"]) == g
        # float anchors: Sichel share and Guiraud R^2 = (V/sqrt(N))^2
        assert abs(s / 1e6 - v2 / v) < 1e-5
        assert abs(g / 1e6 - (v / n**0.5) ** 2) < 1e-4
        assert 0 <= s <= 10**6


def test_good_turing_matches_python(spark, sf_dir):
    sp = _spectrum(spark, sf_dir)
    got = _spec("corpus_good_turing_coverage").fn(spark, sf_dir).toPandas()
    assert list(got["lang"]) == sorted(sp)
    for _, row in got.iterrows():
        n, v, v1, v2 = sp[row["lang"]]
        p_unseen = _halfup_int(10**6 * v1, n)
        assert int(row["n_tokens"]) == n
        assert int(row["vocab"]) == v
        assert int(row["v1"]) == v1
        assert int(row["p_unseen_micro"]) == p_unseen
        assert int(row["coverage_micro"]) == 10**6 - p_unseen
        if v2 > 0:
            chao1 = 100 * v + _halfup_int(100 * v1 * v1, 2 * v2)
            assert int(row["chao1_centi"]) == chao1
            # Chao1 is a richness FLOOR above the observed vocabulary
            assert chao1 >= 100 * v
            # float anchor
            assert abs(chao1 / 100 - (v + v1 * v1 / (2 * v2))) <= 0.51
        # coverage + unseen mass partition the unit
        assert int(row["coverage_micro"]) + int(row["p_unseen_micro"]) == 10**6


def test_minhash_audit_matches_python(spark, sf_dir):
    from mysql_public_data_ingestor_spark.operators.dedup import (
        HASH_AB,
        MERSENNE_P,
        N_MINHASH,
        SHINGLE_K,
    )

    pdf = (
        Tables(spark, sf_dir)
        .documents.select("doc_id", "lang", "n_chars", "text")
        .toPandas()
    )
    ws = re.compile(r"\s+")
    docs = {}  # doc_id -> (lang, bucket, bases set, sig tuple)
    for doc_id, lang, n_chars, text in zip(
        pdf["doc_id"], pdf["lang"], pdf["n_chars"], pdf["text"]
    ):
        toks = ws.sub(" ", text.lower()).strip().split(" ")
        shingles = []
        seen = set()
        for i in range(len(toks) - (SHINGLE_K - 1)):
            sh = " ".join(toks[i : i + SHINGLE_K])
            if sh not in seen:
                seen.add(sh)
                shingles.append(sh)
        if not shingles:
            continue
        bases = []
        bset = set()
        for sh in shingles:
            v = int(hashlib.sha256(sh.encode()).hexdigest()[:15], 16)
            if v not in bset:
                bset.add(v)
                bases.append(v)
        sig = tuple(
            min((a * (x % MERSENNE_P) + b) % MERSENNE_P for x in bases)
            for a, b in HASH_AB
        )
        docs[int(doc_id)] = (lang, int(n_chars) // 100, bset, sig)
    by_block = defaultdict(list)
    for doc_id, (lang, bucket, bset, sig) in docs.items():
        by_block[(lang, bucket)].append((doc_id, bset, sig))
    byk = defaultdict(lambda: [0, 0])  # k -> [n_pairs, sum jac_micro]
    for block in by_block.values():
        block.sort()
        for i in range(len(block)):
            for j in range(i + 1, len(block)):
                _, sa, ga = block[i]
                _, sb, gb = block[j]
                inter = len(sa & sb)
                union = len(sa) + len(sb) - inter
                k = sum(1 for x, y in zip(ga, gb) if x == y)
                byk[k][0] += 1
                byk[k][1] += _halfup_int(10**6 * inter, union)
    got = _spec("dedup_minhash_estimator_audit").fn(spark, sf_dir).toPandas()
    assert list(got["n_sig_matches"]) == sorted(byk)
    for _, row in got.iterrows():
        k = int(row["n_sig_matches"])
        n_pairs, sj = byk[k]
        est = _halfup_int(10**6 * k, N_MINHASH)
        mean_j = _halfup_int(sj, n_pairs)
        assert int(row["n_pairs"]) == n_pairs
        assert int(row["mean_jaccard_micro"]) == mean_j
        assert int(row["est_jaccard_micro"]) == est
        assert int(row["bias_micro"]) == est - mean_j
        assert 0 <= k <= N_MINHASH
    # float anchor: mean exact Jaccard should increase with signature
    # agreement overall (Broder unbiasedness — check the two extreme
    # populated cells rather than strict monotonicity, which 8
    # permutations cannot guarantee)
    ks = sorted(byk)
    if len(ks) >= 2:
        lo, hi = ks[0], ks[-1]
        assert byk[hi][1] / byk[hi][0] >= byk[lo][1] / byk[lo][0]
