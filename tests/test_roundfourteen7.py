"""Round-14 direct batch AB gate (``operators/roundfourteen7.py``):
raw-frame oracle parity, plan bars, and
independent Python replicas with float anchors for the six ops
(Herdan/Dugast/Maas, ARI+CLI, Kneser-Ney discounts, char-bigram
conditional entropy, bigram top-k mass coverage, val-split OOV).
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
    "text_herdan_maas_lexical",
    "text_readability_ari_cli",
    "corpus_kneser_ney_discounts",
    "text_char_bigram_cond_entropy",
    "corpus_bigram_topk_mass_coverage",
    "corpus_oov_rate_val_split",
]


def _spec(name):
    from mysql_public_data_ingestor_spark import registry

    registry._ensure_loaded()
    return registry._REGISTRY[name]


def _halfup_int(num: int, den: int) -> int:
    mag = (2 * abs(num) + den) // (2 * den)
    return -mag if num < 0 else mag


def _ref_ln_dbl(x):
    from mysql_public_data_ingestor_spark.functions.detmath import ref_det_ln_fix

    L = ref_det_ln_fix(x)
    return None if L is None else L * (math.log(2) / 2**30)


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

_WS = re.compile(r"\s+")


def _toks(text: str) -> list[str]:
    return _WS.sub(" ", text.lower()).strip().split(" ")


def test_herdan_maas_matches_python(spark, sf_dir):
    pdf = Tables(spark, sf_dir).documents.select("lang", "text").toPandas()
    tf = defaultdict(Counter)
    for lang, text in zip(pdf["lang"], pdf["text"]):
        for tok in _toks(text):
            tf[lang][tok] += 1
    got = _spec("text_herdan_maas_lexical").fn(spark, sf_dir).toPandas()
    assert list(got["lang"]) == sorted(tf)
    for _, row in got.iterrows():
        c = tf[row["lang"]]
        n, v = sum(c.values()), len(c)
        ln_n, ln_v = _ref_ln_dbl(float(n)), _ref_ln_dbl(float(v))
        assert int(row["n_tokens"]) == n
        assert int(row["vocab"]) == v
        assert int(row["herdan_c_micro"]) == math.floor(ln_v / ln_n * 1e6 + 0.5)
        if ln_n > ln_v:
            assert int(row["dugast_u_milli"]) == math.floor(
                (ln_n * ln_n) / (ln_n - ln_v) * 1e3 + 0.5
            )
        assert int(row["maas_a2_nano"]) == math.floor(
            (ln_n - ln_v) / (ln_n * ln_n) * 1e9 + 0.5
        )
        # float anchors: C in (0, 1]; Maas a^2 small positive
        assert 0 < int(row["herdan_c_micro"]) <= 10**6
        assert abs(int(row["herdan_c_micro"]) / 1e6 - math.log(v) / math.log(n)) < 1e-5


def test_readability_matches_python(spark, sf_dir):
    from mysql_public_data_ingestor_spark.operators.stats_samples import (  # noqa: F401
        MCNEMAR_MIN_CHARS,
    )

    pdf = Tables(spark, sf_dir).documents.select("lang", "text").toPandas()
    agg = defaultdict(lambda: [0, 0, 0, 0])  # lang -> [docs, l, w, s]
    alnum = re.compile(r"[^A-Za-z0-9]")
    for lang, text in zip(pdf["lang"], pdf["text"]):
        letters = len(alnum.sub("", text))
        words = len(_toks(text))
        sentences = max(text.count("."), 1)
        a = agg[lang]
        a[0] += 1
        a[1] += letters
        a[2] += words
        a[3] += sentences
    got = _spec("text_readability_ari_cli").fn(spark, sf_dir).toPandas()
    assert list(got["lang"]) == sorted(agg)
    for _, row in got.iterrows():
        nd, l, w, s = agg[row["lang"]]
        assert int(row["n_docs"]) == nd
        assert (int(row["letters"]), int(row["words"]), int(row["sentences"])) == (
            l,
            w,
            s,
        )
        ari = 4.71 * (l / w) + 0.5 * (w / s) - 21.43
        cli = 0.0588 * (l / w * 100.0) - 0.296 * (s / w * 100.0) - 15.8
        assert int(row["ari_milli"]) == math.floor(ari * 1e3 + 0.5)
        assert int(row["cli_milli"]) == math.floor(cli * 1e3 + 0.5)


def _lang_bigram_counts(spark, sf_dir):
    pdf = Tables(spark, sf_dir).documents.select("lang", "text").toPandas()
    lm = defaultdict(Counter)
    for lang, text in zip(pdf["lang"], pdf["text"]):
        toks = _toks(text)
        for i in range(len(toks) - 1):
            lm[lang][(toks[i], toks[i + 1])] += 1
    return lm


def test_kn_discounts_matches_python(spark, sf_dir):
    lm = _lang_bigram_counts(spark, sf_dir)
    got = _spec("corpus_kneser_ney_discounts").fn(spark, sf_dir).toPandas()
    assert list(got["lang"]) == sorted(lm)
    for _, row in got.iterrows():
        c = lm[row["lang"]]
        coc = Counter(c.values())
        n1, n2, n3, n4 = coc[1], coc[2], coc[3], coc[4]
        den = n1 + 2 * n2
        assert int(row["n_bigrams"]) == sum(c.values())
        assert int(row["n_types"]) == len(c)
        assert (int(row["n1"]), int(row["n2"]), int(row["n3"]), int(row["n4"])) == (
            n1,
            n2,
            n3,
            n4,
        )
        if den > 0:
            assert int(row["y_micro"]) == _halfup_int(10**6 * n1, den)
        if n1 > 0:
            assert int(row["d1_micro"]) == 10**6 - _halfup_int(
                2 * 10**6 * n1 * n2, den * n1
            )
        if n2 > 0:
            assert int(row["d2_micro"]) == 2 * 10**6 - _halfup_int(
                3 * 10**6 * n1 * n3, den * n2
            )
        if n3 > 0:
            assert int(row["d3_micro"]) == 3 * 10**6 - _halfup_int(
                4 * 10**6 * n1 * n4, den * n3
            )
        # float anchors: Y in (0,1); D1 in (0,1) for Zipfian spectra
        if n1 > 0:
            y = n1 / den
            assert abs(int(row["y_micro"]) / 1e6 - y) < 1e-5
            d1 = 1 - 2 * y * n2 / n1
            assert abs(int(row["d1_micro"]) / 1e6 - d1) < 1e-5


def test_char_bigram_entropy_matches_python(spark, sf_dir):
    pdf = Tables(spark, sf_dir).documents.select("lang", "text").toPandas()
    big = defaultdict(Counter)
    for lang, text in zip(pdf["lang"], pdf["text"]):
        txt = text.lower()
        if len(txt) < 2:
            continue
        for i in range(len(txt) - 1):
            big[lang][(txt[i], txt[i + 1])] += 1
    got = _spec("text_char_bigram_cond_entropy").fn(spark, sf_dir).toPandas()
    assert list(got["lang"]) == sorted(big)
    for _, row in got.iterrows():
        c = big[row["lang"]]
        n = sum(c.values())
        ctx = Counter()
        for (c1, _c2), k in c.items():
            ctx[c1] += k
        h = 0
        for (c1, _c2), k in c.items():
            h -= math.floor((k / n) * _ref_ln_dbl(k / ctx[c1]) * 1e9 + 0.5)
        assert int(row["n_char_bigrams"]) == n
        assert int(row["cond_entropy_nano"]) == h
        # float anchor: 0 <= H(c2|c1) <= H(c2) <= ln(alphabet)
        h_f = -sum((k / n) * math.log(k / ctx[c1]) for (c1, _), k in c.items())
        assert abs(h / 1e9 - h_f) < 1e-4
        assert h >= 0


def test_topk_mass_matches_python(spark, sf_dir):
    from mysql_public_data_ingestor_spark.operators.roundfourteen7 import (
        TOPK_MASS_KS,
    )

    lm = _lang_bigram_counts(spark, sf_dir)
    glob = Counter()
    for c in lm.values():
        glob.update(c)
    ordered = sorted(glob.items(), key=lambda kv: (-kv[1], kv[0][0], kv[0][1]))
    total = sum(glob.values())
    got = _spec("corpus_bigram_topk_mass_coverage").fn(spark, sf_dir).toPandas()
    assert list(got["k"]) == list(TOPK_MASS_KS)
    for _, row in got.iterrows():
        k = int(row["k"])
        mass = sum(c for _, c in ordered[:k])
        assert int(row["total_mass"]) == total
        assert int(row["topk_mass"]) == min(mass, total)
        assert int(row["coverage_micro"]) == _halfup_int(10**6 * mass, total)
    # structural anchor: coverage is monotone in k
    cov = [int(r) for r in got["coverage_micro"]]
    assert cov == sorted(cov)


def test_oov_matches_python(spark, sf_dir):
    from mysql_public_data_ingestor_spark.operators.corpus import TRAIN_CUT, VAL_CUT

    pdf = Tables(spark, sf_dir).documents.select("doc_id", "lang", "text").toPandas()
    train_v = defaultdict(set)
    val_t = defaultdict(Counter)
    for doc_id, lang, text in zip(pdf["doc_id"], pdf["lang"], pdf["text"]):
        b = int(hashlib.sha256(str(int(doc_id)).encode()).hexdigest()[:15], 16) % 100
        split = "train" if b < TRAIN_CUT else ("val" if b < VAL_CUT else "test")
        if split == "train":
            train_v[lang].update(_toks(text))
        elif split == "val":
            val_t[lang].update(_toks(text))
    got = _spec("corpus_oov_rate_val_split").fn(spark, sf_dir).toPandas()
    assert list(got["lang"]) == sorted(val_t)
    for _, row in got.iterrows():
        lang = row["lang"]
        vt = val_t[lang]
        tv = train_v[lang]
        oov_types = sum(1 for tok in vt if tok not in tv)
        oov_mass = sum(c for tok, c in vt.items() if tok not in tv)
        assert int(row["val_types"]) == len(vt)
        assert int(row["oov_types"]) == oov_types
        assert int(row["val_tokens"]) == sum(vt.values())
        assert int(row["oov_tokens"]) == oov_mass
        assert int(row["oov_type_rate_micro"]) == _halfup_int(
            10**6 * oov_types, len(vt)
        )
        assert int(row["oov_mass_rate_micro"]) == _halfup_int(
            10**6 * oov_mass, sum(vt.values())
        )
        # structural anchor: mass rate <= type rate (frequent tokens
        # are the ones train has seen)
        assert int(row["oov_mass_rate_micro"]) <= int(row["oov_type_rate_micro"]) + 1
