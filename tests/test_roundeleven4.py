"""Round-11 direct batch C gate (``operators/roundeleven4.py``):
raw-frame oracle parity, plan bars, and an independent Python replica
per operator.
"""

from __future__ import annotations

import hashlib
import math
import re
from collections import Counter, defaultdict

import pytest

from mysql_public_data_ingestor_spark.operators import roundeleven4 as r114
from mysql_public_data_ingestor_spark.tables import Tables
from tools.check_correctness import compare, duck_connection

NAMES = [
    "text_yule_k_richness",
    "text_lm_order_aic",
    "corpus_suffix_window_contamination",
    "corpus_shard_marginal_novelty",
    "text_rare_token_tail_mass",
    "text_burrows_delta_langpairs",
]


def _spec(name):
    from mysql_public_data_ingestor_spark import registry

    registry._ensure_loaded()
    return registry._REGISTRY[name]


def _q(name, spark, sf_dir):
    return _spec(name).fn(spark, sf_dir).toPandas()


def _halfup_int(num: int, den: int) -> int:
    mag = (2 * abs(num) + den) // (2 * den)
    return -mag if num < 0 else mag


def _toks(text: str) -> list[str]:
    return re.sub(r"\s+", " ", text.lower()).strip().split(" ")


def _sha_i64(s: str) -> int:
    return int(hashlib.sha256(s.encode()).hexdigest()[:15], 16)


def test_batch_registered_with_oracles():
    from mysql_public_data_ingestor_spark import registry

    registry._ensure_loaded()
    missing = [n for n in NAMES if n not in registry._REGISTRY]
    assert not missing, f"not registered: {missing}"
    no_oracle = [n for n in NAMES if registry._REGISTRY[n].oracle is None]
    assert no_oracle == [], f"registered without oracle: {no_oracle}"


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


def test_batch_plan_bars(spark, sf_dir):
    from mysql_public_data_ingestor_spark.plans import assert_no_cartesian

    for name in NAMES:
        assert_no_cartesian(_spec(name).fn(spark, sf_dir))


# ---------------------------------------------------------------------------
# replicas
# ---------------------------------------------------------------------------


@pytest.fixture(scope="module")
def docs_pdf(spark, sf_dir):
    return Tables(spark, sf_dir).documents.select(
        "doc_id", "lang", "text", "n_chars"
    ).toPandas()


def _lang_counts(docs_pdf):
    counts: dict = defaultdict(Counter)
    for r in docs_pdf.itertuples():
        counts[r.lang].update(_toks(r.text))
    return counts


def test_yule_matches_python(spark, sf_dir, docs_pdf):
    from mysql_public_data_ingestor_spark.functions.detmath import ref_det_ln_q

    got = _q("text_yule_k_richness", spark, sf_dir).sort_values("lang")
    counts = _lang_counts(docs_pdf)
    assert list(got["lang"]) == sorted(counts)
    for r in got.itertuples():
        cnt = counts[r.lang]
        n = sum(cnt.values())
        v = len(cnt)
        s2 = sum(c * c for c in cnt.values())
        assert int(r.n_tokens) == n and int(r.v_types) == v
        assert r.yule_k == _halfup_int(10**6 * 10**4 * (s2 - n), n * n) / 1e6
        assert r.guiraud_r_sq == _halfup_int(10**6 * v * v, n) / 1e6
        ln_n = ref_det_ln_q(n)
        ln_v = ref_det_ln_q(v)
        assert int(r.herdan_c_micro) == _halfup_int(10**6 * ln_v, ln_n)
        # sanity: C in (0, 1] for v <= n
        assert 0 < r.herdan_c_micro <= 10**6


def test_lm_order_aic_matches_python(spark, sf_dir, docs_pdf):
    from mysql_public_data_ingestor_spark.functions.detmath import ref_det_ln_q

    got = _q("text_lm_order_aic", spark, sf_dir).sort_values("lang")
    uni: dict = defaultdict(Counter)
    big: dict = defaultdict(Counter)
    for r in docs_pdf.itertuples():
        ts = _toks(r.text)
        uni[r.lang].update(ts)
        big[r.lang].update(zip(ts, ts[1:]))
    for r in got.itertuples():
        u, b = uni[r.lang], big[r.lang]
        ctx = Counter()
        for (w1, _), c in b.items():
            ctx[w1] += c
        n, v = sum(u.values()), len(u)
        nb, kb = sum(b.values()), len(b)
        clnc = lambda cs: sum(c * ref_det_ln_q(c) for c in cs)  # noqa: E731
        h1n = n * ref_det_ln_q(n) - clnc(u.values())
        h2b = clnc(ctx.values()) - clnc(b.values())
        assert (int(r.n_tokens), int(r.v_unigram)) == (n, v)
        assert (int(r.n_bigrams), int(r.v_bigram)) == (nb, kb)
        assert int(r.h1_micro) == _halfup_int(h1n, n)
        assert int(r.h2_micro) == _halfup_int(h2b, nb)
        aic1 = 2 * v * 10**6 + 2 * h1n
        aic2 = 2 * kb * 10**6 + 2 * h2b
        assert int(r.aic1_micro) == aic1 and int(r.aic2_micro) == aic2
        assert bool(r.bigram_wins) == (aic2 < aic1)
        # conditioning can only reduce entropy (exact ints, shared ln)
        assert int(r.h2_micro) <= int(r.h1_micro)


def test_suffix_contamination_matches_python(spark, sf_dir, docs_pdf):
    from mysql_public_data_ingestor_spark.operators.corpus import TRAIN_CUT, VAL_CUT

    got = _q("corpus_suffix_window_contamination", spark, sf_dir).sort_values("lang")
    w = r114.SUFFIX_W
    train = []
    val_grams = set()
    for r in docs_pdf.itertuples():
        b = _sha_i64(str(int(r.doc_id))) % 100
        ts = _toks(r.text)
        if b < TRAIN_CUT and len(ts) >= w:
            train.append((r.lang, _sha_i64(" ".join(ts[-w:]))))
        elif TRAIN_CUT <= b < VAL_CUT:
            for i in range(len(ts) - w + 1):
                val_grams.add(_sha_i64(" ".join(ts[i : i + w])))
    per: dict = defaultdict(lambda: [0, 0])
    for lang, g in train:
        per[lang][0] += 1
        if g in val_grams:
            per[lang][1] += 1
    assert list(got["lang"]) == sorted(per)
    for r in got.itertuples():
        n_tr, n_c = per[r.lang]
        assert int(r.n_train_docs) == n_tr
        assert int(r.n_contaminated) == n_c
        assert r.contamination_rate == _halfup_int(10**6 * n_c, n_tr) / 1e6


def test_shard_novelty_matches_python(spark, sf_dir, docs_pdf):
    got = _q("corpus_shard_marginal_novelty", spark, sf_dir).sort_values("shard")
    k = r114.NOVELTY_K
    by_shard: dict = defaultdict(set)
    for r in docs_pdf.itertuples():
        sh = int(r.doc_id) % r114.NOVELTY_SHARDS
        ts = _toks(r.text)
        for i in range(len(ts) - k + 1):
            by_shard[sh].add(_sha_i64(" ".join(ts[i : i + k])))
    firsts: dict = {}
    for sh in sorted(by_shard):
        for g in by_shard[sh]:
            if g not in firsts:
                firsts[g] = sh
    news = Counter(firsts.values())
    cum = 0
    assert list(got["shard"]) == sorted(by_shard)
    for r in got.itertuples():
        sh = int(r.shard)
        cum += news.get(sh, 0)
        assert int(r.d_grams) == len(by_shard[sh])
        assert int(r.n_new) == news.get(sh, 0)
        assert int(r.cum_new) == cum
        assert r.novelty_rate == _halfup_int(
            10**6 * news.get(sh, 0), len(by_shard[sh])
        ) / 1e6
    # the cumulative must end at the global distinct-gram count
    assert cum == len(firsts)


def test_tail_mass_matches_python(spark, sf_dir, docs_pdf):
    got = _q("text_rare_token_tail_mass", spark, sf_dir)
    counts = _lang_counts(docs_pdf)
    for r in got.itertuples():
        cnt = counts[r.lang]
        n, v = sum(cnt.values()), len(cnt)
        k = int(r.k)
        tle = sum(1 for c in cnt.values() if c <= k)
        mle = sum(c for c in cnt.values() if c <= k)
        assert (int(r.n_tokens), int(r.v_types)) == (n, v)
        assert (int(r.types_le_k), int(r.mass_le_k)) == (tle, mle)
        assert r.type_share == _halfup_int(10**6 * tle, v) / 1e6
        assert r.mass_share == _halfup_int(10**6 * mle, n) / 1e6
    # shares are monotone in k within a lang
    for lang, grp in got.groupby("lang"):
        ts = list(grp.sort_values("k")["type_share"])
        assert ts == sorted(ts)


def test_burrows_matches_python(spark, sf_dir, docs_pdf):
    got = _q("text_burrows_delta_langpairs", spark, sf_dir)
    counts = _lang_counts(docs_pdf)
    langs = sorted(counts)
    totals = Counter()
    for cnt in counts.values():
        totals.update(cnt)
    top = sorted(totals.items(), key=lambda kv: (-kv[1], kv[0]))[: r114.DELTA_TOP_T]
    feats = [tok for tok, _ in top]
    nl = {lang: sum(cnt.values()) for lang, cnt in counts.items()}
    r = {
        (lang, tok): _halfup_int(10**6 * counts[lang].get(tok, 0), nl[lang])
        for lang in langs
        for tok in feats
    }
    L = len(langs)
    exp = {}
    for i, a in enumerate(langs):
        for b in langs[i + 1 :]:
            s = 0
            used = 0
            for tok in feats:
                rs = [r[(lang, tok)] for lang in langs]
                vnum = L * sum(x * x for x in rs) - sum(rs) ** 2
                if vnum > 0:
                    d = r[(a, tok)] - r[(b, tok)]
                    s += _halfup_int(10**6 * L * L * d * d, vnum)
                    used += 1
            exp[(a, b)] = (used, _halfup_int(s, used) if used else None)
    for row in got.itertuples():
        used, dsq = exp[(row.lang_a, row.lang_b)]
        assert int(row.n_terms) == used
        assert int(row.delta_sq_micro) == dsq
        assert dsq >= 0
