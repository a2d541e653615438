"""Round-11 direct registrations, batch C (text analysis + corpus
management).

Six LLM-corpus completions, each oracle-paired, replica-pinned and
plan-barred in ``tests/test_roundeleven4.py`` (same-commit gate rule):
vocabulary-richness indices (Yule K / Guiraud R^2 / Herdan C), an AIC
LM-order selection between the unigram and bigram in-sample models, a
suffix-window contamination audit (the completion-leakage case the
4-gram decontamination sweep under-weights), per-shard marginal n-gram
novelty (the data-mixing curve), the rare-token tail-mass profile, and
a Burrows-Delta-squared stylometric distance between language pairs.

Reference parity note: the reference (Go ingestion pipeline) has no
analytics; these extend SURVEY §2.B text analysis and §2.C corpus
management.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from ..functions.exact import dec38, halfup_div, sql_halfup_div
from ..registry import register
from ..tables import Tables
from .corpus import _SQL_TOKENS

# ---------------------------------------------------------------------------
# 1. Vocabulary-richness indices per language
# ---------------------------------------------------------------------------


def _yule_oracle() -> str:
    from ..functions.detmath import sql_det_ln_steps
    from ..functions.exact import sql_round_big_int_ratio

    return f"""
    WITH toks AS (
      SELECT lang, unnest({_SQL_TOKENS}) AS token FROM documents
    ), tc AS (
      SELECT lang, token, CAST(count(*) AS BIGINT) AS c
      FROM toks GROUP BY lang, token
    ), spec AS (
      SELECT lang,
             CAST(sum(c) AS HUGEINT) AS n,
             CAST(count(*) AS HUGEINT) AS v,
             CAST(sum(c::HUGEINT * c) AS HUGEINT) AS s2
      FROM tc GROUP BY lang
    ), {sql_det_ln_steps('spec', 'CAST(v AS BIGINT)', 'lv')},
    {sql_det_ln_steps('lv_rel', 'CAST(n AS BIGINT)', 'ln_')}
    SELECT lang, CAST(n AS BIGINT) AS n_tokens, CAST(v AS BIGINT) AS v_types,
           {sql_round_big_int_ratio('10000::HUGEINT * (s2 - n)', 'n * n')}
             AS yule_k,
           {sql_round_big_int_ratio('v * v', 'n')} AS guiraud_r_sq,
           CASE WHEN ln_ > 0 THEN
             CAST({sql_halfup_div('1000000::HUGEINT * lv', 'ln_')} AS BIGINT)
           END AS herdan_c_micro
    FROM ln__rel ORDER BY lang
    """


@register("text_yule_k_richness", oracle=_yule_oracle())
def text_yule_k_richness(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Vocabulary-richness indices per language: Yule's K
    (10^4 (S2 - N)/N^2 off the frequency spectrum — repeat-mass
    characteristic, LENGTH-INVARIANT unlike raw TTR), Guiraud's R^2
    (V^2/N — the squared form keeps it a ratio of exact integers; R
    itself needs a square root) and Herdan's C (ln V / ln N) — the
    lexical-richness triple beside ``text_ttr_hapax_by_lang`` (which IS
    length-sensitive) and ``text_simpson_diversity_by_lang`` (the
    probability-form sibling of K).

    Exactness: everything derives from the per-lang frequency spectrum
    (N, V, S2 = sum c^2) in decimal(38,0)/HUGEINT; K and R^2 are single
    half-up 1e-6 ratios, C is a ratio of two deterministic fixed-point
    lns (functions/detmath — identical int64 micro-lns in both engines)
    reported in micro units.

    Scale shape: one tokenize scan partial-aggregating to (lang, token)
    then to the ~5-row per-lang spectrum; no row-level second pass.
    """
    from ..functions.detmath import det_ln_q
    from ..functions.exact import round_big_int_ratio
    from ..functions.textnorm import whitespace_tokens

    t = Tables(spark, sf_dir)
    toks = t.documents.select(
        "lang", F.explode(whitespace_tokens(F.col("text"))).alias("token")
    )
    tc = toks.groupBy("lang", "token").agg(F.count(F.lit(1)).alias("c"))
    spec = tc.groupBy("lang").agg(
        dec38(F.sum("c")).alias("n"),
        dec38(F.count(F.lit(1))).alias("v"),
        F.sum(dec38(F.col("c")) * F.col("c")).alias("s2"),
    )
    lv = det_ln_q(F.col("v").cast("long"))
    ln_ = det_ln_q(F.col("n").cast("long"))
    m = F.lit(1_000_000).cast("decimal(38,0)")
    return spec.select(
        "lang",
        F.col("n").cast("long").alias("n_tokens"),
        F.col("v").cast("long").alias("v_types"),
        round_big_int_ratio(
            F.lit(10_000).cast("decimal(38,0)") * (F.col("s2") - F.col("n")),
            F.col("n") * F.col("n"),
        ).alias("yule_k"),
        round_big_int_ratio(F.col("v") * F.col("v"), F.col("n")).alias(
            "guiraud_r_sq"
        ),
        F.when(
            ln_ > 0, halfup_div(m * lv, dec38(ln_))
        ).cast("long").alias("herdan_c_micro"),
    ).orderBy("lang")


# ---------------------------------------------------------------------------
# 2. LM order selection: unigram vs bigram in-sample AIC
# ---------------------------------------------------------------------------


def _aic_oracle() -> str:
    from ..functions.detmath import sql_det_ln_steps

    # per-distinct-count quantized c*ln(c) terms, the token-entropy
    # convention (corpus.py) — shared for unigram counts, bigram counts
    # and bigram-context counts
    return f"""
    WITH toks AS (
      SELECT doc_id, lang, t AS toks FROM (
        SELECT doc_id, lang, {_SQL_TOKENS} AS t FROM documents)
    ), uni AS (
      SELECT lang, unnest(toks) AS w FROM toks
    ), uc AS (
      SELECT lang, w, CAST(count(*) AS BIGINT) AS c FROM uni GROUP BY lang, w
    ), bi AS (
      SELECT lang,
             unnest(toks[1:len(toks)-1]) AS w1,
             unnest(toks[2:len(toks)]) AS w2
      FROM toks WHERE len(toks) >= 2
    ), bc AS (
      SELECT lang, w1, w2, CAST(count(*) AS BIGINT) AS c
      FROM bi GROUP BY lang, w1, w2
    ), cc AS (
      SELECT lang, w1, CAST(sum(c) AS BIGINT) AS c FROM bc GROUP BY lang, w1
    ), dc AS (
      SELECT CAST(c AS BIGINT) AS c FROM uc
      UNION SELECT c FROM bc UNION SELECT c FROM cc
    ), {sql_det_ln_steps('dc', 'c', 'lc')},
    q AS (
      SELECT c, CAST(c AS HUGEINT) * lc AS clnc FROM lc_rel
    ), su AS (
      SELECT u.lang,
             CAST(sum(u.c) AS HUGEINT) AS n,
             CAST(count(*) AS HUGEINT) AS v,
             CAST(sum(q.clnc) AS HUGEINT) AS sclnc
      FROM uc u JOIN q ON q.c = u.c GROUP BY u.lang
    ), sb AS (
      SELECT b.lang,
             CAST(sum(b.c) AS HUGEINT) AS nb,
             CAST(count(*) AS HUGEINT) AS kb,
             CAST(sum(q.clnc) AS HUGEINT) AS sclnc
      FROM bc b JOIN q ON q.c = b.c GROUP BY b.lang
    ), sc AS (
      SELECT x.lang, CAST(sum(q.clnc) AS HUGEINT) AS sclnc
      FROM cc x JOIN q ON q.c = x.c GROUP BY x.lang
    ), nl AS (
      SELECT CAST(n AS BIGINT) AS nn FROM su
      UNION SELECT CAST(nb AS BIGINT) FROM sb
    ), {sql_det_ln_steps('nl', 'nn', 'lnn')},
    fin AS (
      SELECT su.lang, su.n, su.v, sb.nb, sb.kb,
             -- H1*N in micro-nats: N ln N - sum c ln c
             su.n * (SELECT lnn FROM lnn_rel WHERE nn = CAST(su.n AS BIGINT))
               - su.sclnc AS h1n,
             -- H2*B: sum ctx ln ctx - sum b ln b
             sc.sclnc - sb.sclnc AS h2b
      FROM su JOIN sb ON sb.lang = su.lang JOIN sc ON sc.lang = su.lang
    )
    SELECT lang, CAST(n AS BIGINT) AS n_tokens, CAST(v AS BIGINT) AS v_unigram,
           CAST(nb AS BIGINT) AS n_bigrams, CAST(kb AS BIGINT) AS v_bigram,
           CAST({sql_halfup_div('h1n', 'n')} AS BIGINT) AS h1_micro,
           CAST({sql_halfup_div('h2b', 'nb')} AS BIGINT) AS h2_micro,
           CAST(2 * v * 1000000 + 2 * h1n AS BIGINT) AS aic1_micro,
           CAST(2 * kb * 1000000 + 2 * h2b AS BIGINT) AS aic2_micro,
           (2 * kb * 1000000 + 2 * h2b) < (2 * v * 1000000 + 2 * h1n)
             AS bigram_wins
    FROM fin ORDER BY lang
    """


@register("text_lm_order_aic", oracle=_aic_oracle())
def text_lm_order_aic(spark: SparkSession, sf_dir: str) -> DataFrame:
    """LM model-order selection per language: in-sample AIC of the
    unigram model (2V + 2*N*H1) against the bigram model
    (2*K2 + 2*B*H2, H2 the conditional next-token entropy) — the
    quantitative form of "is a bigram LM worth its parameters on this
    slice", complementing ``text_lm_cross_entropy`` (which SCORES docs
    under a fixed LM; this SELECTS the order).

    Exactness: both likelihoods reduce to sums of c*ln(c) over count
    spectra (H1*N = N ln N - sum_t c_t ln c_t; H2*B = sum_u ctx_u ln
    ctx_u - sum_uv b_uv ln b_uv), so ONE deterministic fixed-point ln
    pass over the DISTINCT count values (the token-entropy convention,
    corpus.py) makes every term an exact int64 micro-nat product —
    summation order free in both engines. AICs are exact micro-nat
    integers; the winner flag is an integer comparison.

    Scale shape: tokenize once; unigram and bigram count tables are
    (lang, gram)-keyed partial aggregations; the ln fold runs on the
    distinct-count domain (<< row count) and broadcast-joins back.
    """
    from ..functions.detmath import det_ln_q
    from ..functions.textnorm import whitespace_tokens

    t = Tables(spark, sf_dir)
    toks = t.documents.select(
        "doc_id", "lang", whitespace_tokens(F.col("text")).alias("toks")
    )
    uni = toks.select("lang", F.explode("toks").alias("w"))
    uc = uni.groupBy("lang", "w").agg(F.count(F.lit(1)).alias("c"))
    bi = toks.filter(F.size("toks") >= 2).select(
        "lang",
        F.explode(
            F.arrays_zip(
                F.slice(F.col("toks"), 1, F.size("toks") - 1).alias("w1"),
                F.expr("slice(toks, 2, size(toks) - 1)").alias("w2"),
            )
        ).alias("p"),
    ).select("lang", F.col("p.w1").alias("w1"), F.col("p.w2").alias("w2"))
    bc = bi.groupBy("lang", "w1", "w2").agg(F.count(F.lit(1)).alias("c"))
    cc = bc.groupBy("lang", "w1").agg(F.sum("c").alias("c"))
    dc = (
        uc.select("c")
        .union(bc.select("c"))
        .union(cc.select("c"))
        .distinct()
    )
    q = dc.select("c", (dec38(F.col("c")) * det_ln_q(F.col("c"))).alias("clnc"))
    su = (
        uc.join(F.broadcast(q), "c")
        .groupBy("lang")
        .agg(
            dec38(F.sum("c")).alias("n"),
            dec38(F.count(F.lit(1))).alias("v"),
            F.sum("clnc").alias("sclnc"),
        )
    )
    sb = (
        bc.join(F.broadcast(q), "c")
        .groupBy("lang")
        .agg(
            dec38(F.sum("c")).alias("nb"),
            dec38(F.count(F.lit(1))).alias("kb"),
            F.sum("clnc").alias("sclnc_b"),
        )
    )
    sc = (
        cc.join(F.broadcast(q), "c")
        .groupBy("lang")
        .agg(F.sum("clnc").alias("sclnc_c"))
    )
    fin = (
        su.join(sb, "lang")
        .join(sc, "lang")
        .select(
            "lang",
            "n",
            "v",
            "nb",
            "kb",
            (
                F.col("n") * det_ln_q(F.col("n").cast("long")) - F.col("sclnc")
            ).alias("h1n"),
            (F.col("sclnc_c") - F.col("sclnc_b")).alias("h2b"),
        )
    )
    m6 = F.lit(1_000_000).cast("decimal(38,0)")
    aic1 = 2 * F.col("v") * m6 + 2 * F.col("h1n")
    aic2 = 2 * F.col("kb") * m6 + 2 * F.col("h2b")
    return fin.select(
        "lang",
        F.col("n").cast("long").alias("n_tokens"),
        F.col("v").cast("long").alias("v_unigram"),
        F.col("nb").cast("long").alias("n_bigrams"),
        F.col("kb").cast("long").alias("v_bigram"),
        halfup_div(F.col("h1n"), F.col("n")).cast("long").alias("h1_micro"),
        halfup_div(F.col("h2b"), F.col("nb")).cast("long").alias("h2_micro"),
        aic1.cast("long").alias("aic1_micro"),
        aic2.cast("long").alias("aic2_micro"),
        (aic2 < aic1).alias("bigram_wins"),
    ).orderBy("lang")


# ---------------------------------------------------------------------------
# 3. Suffix-window contamination audit
# ---------------------------------------------------------------------------

SUFFIX_W = 8  # suffix window length in tokens


def _suffix_oracle() -> str:
    from ..functions.exact import sql_round_int_ratio
    from .corpus import TRAIN_CUT, VAL_CUT, _SQL_ID_HASH

    w = SUFFIX_W
    return f"""
    WITH base AS (
      SELECT doc_id, lang, {_SQL_ID_HASH} % 100 AS b, {_SQL_TOKENS} AS t
      FROM documents
    ), train AS (
      SELECT doc_id, lang,
             ('0x' || substr(sha256(array_to_string(t[len(t)-{w - 1}:len(t)], ' ')), 1, 15))::BIGINT AS g
      FROM base WHERE b < {TRAIN_CUT} AND len(t) >= {w}
    ), val AS (
      SELECT DISTINCT ('0x' || substr(sha256(array_to_string(t[i:i+{w - 1}], ' ')), 1, 15))::BIGINT AS g
      FROM base, unnest(range(1, greatest(len(t) - {w - 1}, 0) + 1)) AS r(i)
      WHERE b >= {TRAIN_CUT} AND b < {VAL_CUT}
    ), hit AS (
      SELECT t.lang, t.doc_id FROM train t JOIN val v ON v.g = t.g
    )
    SELECT tr.lang,
           CAST(count(*) AS BIGINT) AS n_train_docs,
           CAST(count(h.doc_id) AS BIGINT) AS n_contaminated,
           {sql_round_int_ratio('count(h.doc_id)', 'count(*)')} AS contamination_rate
    FROM train tr LEFT JOIN (SELECT DISTINCT lang, doc_id FROM hit) h
      ON h.doc_id = tr.doc_id
    GROUP BY tr.lang ORDER BY tr.lang
    """


@register("corpus_suffix_window_contamination", oracle=_suffix_oracle())
def corpus_suffix_window_contamination(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Suffix-window contamination audit: does the LAST ``SUFFIX_W``
    tokens of a training document appear verbatim anywhere inside an
    eval-split document? The completion-leakage case the whole-doc
    4-gram sweep (``corpus_decontaminate_ngram_overlap``) under-weights:
    a model that memorized a training suffix will COMPLETE an eval
    prompt with it, so suffixes deserve a targeted, cheaper audit (one
    gram per train doc instead of hundreds).

    Split reuses the shared sha-based id-hash buckets (train < 80,
    val 80-90 — corpus.py constants); gram identity is the portable
    60-bit sha prefix. Per-lang output: train docs (>= W tokens),
    contaminated count, rate.

    Scale shape: the train side carries ONE hash per doc; the val side
    explodes to W-grams but is ~10% of the corpus by the split; the
    contamination check is a hash equi-join, never text comparison.
    """
    from ..functions.exact import round_int_ratio
    from ..functions.partitioning import cpu_repartition
    from ..functions.textnorm import (
        sha256_prefix_i64,
        shingle_base_hash_udf,
        whitespace_tokens,
    )
    from .corpus import TRAIN_CUT, VAL_CUT, _id_hash_bucket

    t = Tables(spark, sf_dir)
    b = _id_hash_bucket()
    base = t.documents.select(
        "doc_id", "lang", "text", b.alias("b"), whitespace_tokens(F.col("text")).alias("t")
    )
    train = base.filter(
        (F.col("b") < TRAIN_CUT) & (F.size("t") >= SUFFIX_W)
    ).select(
        "doc_id",
        "lang",
        sha256_prefix_i64(
            F.concat_ws(
                " ", F.slice(F.col("t"), F.size("t") - (SUFFIX_W - 1), SUFFIX_W)
            )
        ).alias("g"),
    )
    # val side hashes EVERY W-gram: the vectorized Arrow shingle hasher
    # (bit-identical sha-prefix values; ~4x over interpreted HOFs — the
    # corpus.py decontamination convention for gram-hash hot paths)
    bases_udf = shingle_base_hash_udf(SUFFIX_W)
    val = (
        cpu_repartition(
            base.filter((F.col("b") >= TRAIN_CUT) & (F.col("b") < VAL_CUT)),
            "doc_id",
        )
        .select(F.explode(bases_udf(F.col("text"))).alias("g"))
        .distinct()
    )
    hit = train.join(val, "g").select("lang", "doc_id").distinct()
    return (
        train.join(hit.withColumn("hit", F.lit(1)), ["lang", "doc_id"], "left")
        .groupBy("lang")
        .agg(
            F.count(F.lit(1)).cast("long").alias("n_train_docs"),
            F.count("hit").cast("long").alias("n_contaminated"),
        )
        .select(
            "lang",
            "n_train_docs",
            "n_contaminated",
            round_int_ratio(F.col("n_contaminated"), F.col("n_train_docs")).alias(
                "contamination_rate"
            ),
        )
        .orderBy("lang")
    )


# ---------------------------------------------------------------------------
# 4. Per-shard marginal n-gram novelty (the data-mixing curve)
# ---------------------------------------------------------------------------

NOVELTY_K = 3      # n-gram size
NOVELTY_SHARDS = 16


def _novelty_oracle() -> str:
    from ..functions.exact import sql_round_int_ratio

    k = NOVELTY_K
    return f"""
    WITH grams AS (
      SELECT CAST(doc_id % {NOVELTY_SHARDS} AS BIGINT) AS shard,
             ('0x' || substr(sha256(array_to_string(t[i:i+{k - 1}], ' ')), 1, 15))::BIGINT AS g
      FROM (SELECT doc_id, {_SQL_TOKENS} AS t FROM documents),
           unnest(range(1, greatest(len(t) - {k - 1}, 0) + 1)) AS r(i)
    ), per_shard AS (
      SELECT shard, CAST(count(DISTINCT g) AS BIGINT) AS d_grams
      FROM grams GROUP BY shard
    ), firsts AS (
      SELECT g, CAST(min(shard) AS BIGINT) AS first_shard FROM grams GROUP BY g
    ), news AS (
      SELECT first_shard AS shard, CAST(count(*) AS BIGINT) AS n_new
      FROM firsts GROUP BY first_shard
    ), rows_out AS (
      SELECT p.shard, p.d_grams, coalesce(n.n_new, 0) AS n_new
      FROM per_shard p LEFT JOIN news n ON n.shard = p.shard
    )
    SELECT a.shard, a.d_grams, a.n_new,
           CAST(sum(b.n_new) AS BIGINT) AS cum_new,
           {sql_round_int_ratio('a.n_new', 'a.d_grams')} AS novelty_rate
    FROM rows_out a JOIN rows_out b ON b.shard <= a.shard
    GROUP BY a.shard, a.d_grams, a.n_new
    ORDER BY a.shard
    """


@register("corpus_shard_marginal_novelty", oracle=_novelty_oracle())
def corpus_shard_marginal_novelty(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Marginal n-gram novelty per shard: processing shards in id
    order, how many DISTINCT 3-grams does each shard contribute that
    no earlier shard contains? The data-mixing planning curve — a
    flattening cumulative means additional shards of this source buy
    vocabulary repetition, not coverage (the in-corpus twin of the
    ``corpus_ngram_novelty_deciles`` cross-source view).

    The trick: "first shard to contain gram g" is just min(shard) per
    gram — ONE aggregation replaces the naive 16-pass incremental scan,
    and the 16-row cumulative is a broadcast non-equi self-join (the
    house bounded-domain pattern).

    Scale shape: tokenize + gram-hash once (portable 60-bit sha
    prefix); both aggregations are gram-keyed partial-first; nothing
    downstream exceeds 16 rows.
    """
    from ..functions.exact import round_int_ratio
    from ..functions.partitioning import cpu_repartition
    from ..functions.textnorm import shingle_base_hash_udf

    t = Tables(spark, sf_dir)
    # gram hashing is the op's one CPU-heavy stage (a sha per 3-gram,
    # linear in corpus bytes by necessity): the vectorized Arrow
    # shingle hasher (bit-identical sha-prefix values, per-doc distinct
    # — distinctness is free here, every consumer is distinct-based)
    bases_udf = shingle_base_hash_udf(NOVELTY_K)
    grams = cpu_repartition(t.documents, "doc_id").select(
        (F.col("doc_id") % NOVELTY_SHARDS).alias("shard"),
        F.explode(bases_udf(F.col("text"))).alias("g"),
    )
    per_shard = grams.groupBy("shard").agg(
        F.countDistinct("g").cast("long").alias("d_grams")
    )
    news = (
        grams.groupBy("g")
        .agg(F.min("shard").alias("shard"))
        .groupBy("shard")
        .agg(F.count(F.lit(1)).cast("long").alias("n_new"))
    )
    rows_out = per_shard.join(news, "shard", "left").select(
        "shard",
        "d_grams",
        F.coalesce(F.col("n_new"), F.lit(0)).cast("long").alias("n_new"),
    )
    b = rows_out.select(F.col("shard").alias("shard_b"), F.col("n_new").alias("new_b"))
    return (
        rows_out.join(F.broadcast(b), F.col("shard_b") <= F.col("shard"))
        .groupBy("shard", "d_grams", "n_new")
        .agg(F.sum("new_b").cast("long").alias("cum_new"))
        .select(
            "shard",
            "d_grams",
            "n_new",
            "cum_new",
            round_int_ratio(F.col("n_new"), F.col("d_grams")).alias("novelty_rate"),
        )
        .orderBy("shard")
    )


# ---------------------------------------------------------------------------
# 5. Rare-token tail mass (freq <= k profile per language)
# ---------------------------------------------------------------------------

TAIL_KS = (1, 2, 3, 4, 5)


def _tail_oracle() -> str:
    from ..functions.exact import sql_round_int_ratio

    ks = ", ".join(str(k) for k in TAIL_KS)
    return f"""
    WITH toks AS (
      SELECT lang, unnest({_SQL_TOKENS}) AS token FROM documents
    ), tc AS (
      SELECT lang, token, CAST(count(*) AS BIGINT) AS c
      FROM toks GROUP BY lang, token
    ), spec AS (
      SELECT lang, CAST(sum(c) AS BIGINT) AS n, CAST(count(*) AS BIGINT) AS v
      FROM tc GROUP BY lang
    ), ks AS (SELECT unnest([{ks}]) AS k),
    tail AS (
      SELECT tc.lang, ks.k,
             CAST(sum(CASE WHEN tc.c <= ks.k THEN 1 ELSE 0 END) AS BIGINT) AS types_le_k,
             CAST(sum(CASE WHEN tc.c <= ks.k THEN tc.c ELSE 0 END) AS BIGINT) AS mass_le_k
      FROM tc, ks GROUP BY tc.lang, ks.k
    )
    SELECT t.lang, CAST(t.k AS BIGINT) AS k, s.n AS n_tokens, s.v AS v_types,
           t.types_le_k, t.mass_le_k,
           {sql_round_int_ratio('t.types_le_k', 's.v')} AS type_share,
           {sql_round_int_ratio('t.mass_le_k', 's.n')} AS mass_share
    FROM tail t JOIN spec s ON s.lang = t.lang
    ORDER BY t.lang, t.k
    """


@register("text_rare_token_tail_mass", oracle=_tail_oracle())
def text_rare_token_tail_mass(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Rare-token tail profile per language: for k = 1..5, the share of
    vocabulary TYPES occurring <= k times and the share of token MASS
    they carry — the curve behind tokenizer-vocabulary and min-count
    pruning decisions (hapax share = the k=1 row, generalizing
    ``text_ttr_hapax_by_lang``; a long type-tail carrying negligible
    mass is what makes count-pruning safe).

    One tokenize scan to the (lang, token) counts; the k-profile is a
    5-way conditional aggregate off the count spectrum (broadcast
    explode of the static k list); everything integer until the two
    final micro ratios.
    """
    from ..functions.exact import round_int_ratio
    from ..functions.textnorm import whitespace_tokens

    t = Tables(spark, sf_dir)
    toks = t.documents.select(
        "lang", F.explode(whitespace_tokens(F.col("text"))).alias("token")
    )
    tc = toks.groupBy("lang", "token").agg(F.count(F.lit(1)).alias("c"))
    spec = tc.groupBy("lang").agg(
        F.sum("c").cast("long").alias("n"), F.count(F.lit(1)).cast("long").alias("v")
    )
    ks = F.explode(F.array(*[F.lit(k) for k in TAIL_KS])).alias("k")
    tail = (
        tc.select("lang", "c", ks)
        .groupBy("lang", "k")
        .agg(
            F.sum(F.when(F.col("c") <= F.col("k"), 1).otherwise(0))
            .cast("long")
            .alias("types_le_k"),
            F.sum(F.when(F.col("c") <= F.col("k"), F.col("c")).otherwise(0))
            .cast("long")
            .alias("mass_le_k"),
        )
    )
    return (
        tail.join(F.broadcast(spec), "lang")
        .select(
            "lang",
            F.col("k").cast("long").alias("k"),
            F.col("n").alias("n_tokens"),
            F.col("v").alias("v_types"),
            "types_le_k",
            "mass_le_k",
            round_int_ratio(F.col("types_le_k"), F.col("v")).alias("type_share"),
            round_int_ratio(F.col("mass_le_k"), F.col("n")).alias("mass_share"),
        )
        .orderBy("lang", "k")
    )


# ---------------------------------------------------------------------------
# 6. Burrows-Delta-squared stylometric distance between language pairs
# ---------------------------------------------------------------------------

DELTA_TOP_T = 50  # most frequent corpus-wide tokens used as features


def _burrows_oracle() -> str:
    return f"""
    WITH toks AS (
      SELECT lang, unnest({_SQL_TOKENS}) AS token FROM documents
    ), tc AS (
      SELECT lang, token, CAST(count(*) AS BIGINT) AS c
      FROM toks GROUP BY lang, token
    ), nl AS (
      SELECT lang, CAST(sum(c) AS BIGINT) AS n FROM tc GROUP BY lang
    ), topt AS (
      SELECT token FROM (
        SELECT token, CAST(sum(c) AS BIGINT) AS tot FROM tc GROUP BY token
        ORDER BY tot DESC, token LIMIT {DELTA_TOP_T}
      )
    ), langs AS (SELECT lang, n FROM nl),
    r AS (
      -- micro relative frequency of every top token in every lang
      SELECT l.lang, tt.token,
             {sql_halfup_div('1000000::HUGEINT * coalesce(tc.c, 0)', 'l.n')} AS r
      FROM langs l CROSS JOIN topt tt
      LEFT JOIN tc ON tc.lang = l.lang AND tc.token = tt.token
    ), var_t AS (
      SELECT token, CAST(count(*) AS HUGEINT) AS lcnt,
             CAST(sum(r) AS HUGEINT) AS sr,
             CAST(sum(r * r) AS HUGEINT) AS srr
      FROM r GROUP BY token
    ), pairs AS (
      SELECT a.lang AS lang_a, b.lang AS lang_b, a.token,
             (a.r - b.r) AS d
      FROM r a JOIN r b ON a.token = b.token AND a.lang < b.lang
    ), terms AS (
      SELECT p.lang_a, p.lang_b,
             CASE WHEN v.lcnt * v.srr - v.sr * v.sr > 0 THEN
               {sql_halfup_div(
                   '1000000::HUGEINT * v.lcnt * v.lcnt * p.d * p.d',
                   '(v.lcnt * v.srr - v.sr * v.sr)')}
             ELSE 0 END AS term,
             CASE WHEN v.lcnt * v.srr - v.sr * v.sr > 0 THEN 1 ELSE 0 END AS used
      FROM pairs p JOIN var_t v ON v.token = p.token
    )
    SELECT lang_a, lang_b,
           CAST(sum(used) AS BIGINT) AS n_terms,
           CAST(CASE WHEN sum(used) > 0 THEN
             {sql_halfup_div('CAST(sum(term) AS HUGEINT)', 'CAST(sum(used) AS HUGEINT)')}
           END AS BIGINT) AS delta_sq_micro
    FROM terms GROUP BY lang_a, lang_b
    ORDER BY lang_a, lang_b
    """


@register("text_burrows_delta_langpairs", oracle=_burrows_oracle())
def text_burrows_delta_langpairs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Burrows-Delta-SQUARED stylometric distance between language
    pairs over the ``DELTA_TOP_T`` most frequent corpus-wide tokens:
    mean over features of (r_a - r_b)^2 / var(r) — the variance
    normalization is what makes Delta the stylometry standard (raw
    frequency distance is dominated by the few highest-rate tokens;
    z-scoring gives every marker token equal vote). The SQUARED form is
    the house convention (classical Delta averages |z_a - z_b|, which
    needs a per-token square root; squaring preserves the ranking of
    pair distances and stays a ratio of exact integers).

    Exactness: per-(lang, token) micro rates quantize once; the
    across-lang variance enters as its exact integer numerator
    (L*sum r^2 - (sum r)^2 over L^2), so each term is one half-up
    micro division and the final mean another.

    Scale shape: tokenize to (lang, token) counts; the feature set is
    a top-T TakeOrdered (T=50); every later table is <= L*T rows.
    """
    from ..functions.textnorm import whitespace_tokens

    t = Tables(spark, sf_dir)
    toks = t.documents.select(
        "lang", F.explode(whitespace_tokens(F.col("text"))).alias("token")
    )
    tc = toks.groupBy("lang", "token").agg(F.count(F.lit(1)).alias("c"))
    nl = tc.groupBy("lang").agg(F.sum("c").cast("long").alias("n"))
    topt = (
        tc.groupBy("token")
        .agg(F.sum("c").alias("tot"))
        .orderBy(F.col("tot").desc(), "token")
        .limit(DELTA_TOP_T)
        .select("token")
    )
    m = F.lit(1_000_000).cast("decimal(38,0)")
    r = (
        nl.crossJoin(F.broadcast(topt))
        .join(tc, ["lang", "token"], "left")
        .select(
            "lang",
            "token",
            halfup_div(
                m * dec38(F.coalesce(F.col("c"), F.lit(0))), dec38(F.col("n"))
            ).alias("r"),
        )
    )
    var_t = r.groupBy("token").agg(
        dec38(F.count(F.lit(1))).alias("lcnt"),
        F.sum("r").alias("sr"),
        F.sum(F.col("r") * F.col("r")).alias("srr"),
    )
    rb = r.select(
        F.col("lang").alias("lang_b"), "token", F.col("r").alias("r_b")
    )
    pairs = r.join(rb, "token").filter(F.col("lang") < F.col("lang_b"))
    vnum = F.col("lcnt") * F.col("srr") - F.col("sr") * F.col("sr")
    d = F.col("r") - F.col("r_b")
    terms = pairs.join(F.broadcast(var_t), "token").select(
        F.col("lang").alias("lang_a"),
        "lang_b",
        F.when(
            vnum > 0,
            halfup_div(m * F.col("lcnt") * F.col("lcnt") * d * d, vnum),
        )
        .otherwise(F.lit(0).cast("decimal(38,0)"))
        .alias("term"),
        F.when(vnum > 0, 1).otherwise(0).alias("used"),
    )
    return (
        terms.groupBy("lang_a", "lang_b")
        .agg(
            F.sum("used").cast("long").alias("n_terms"),
            F.when(
                F.sum("used") > 0,
                halfup_div(F.sum("term"), dec38(F.sum("used"))),
            )
            .cast("long")
            .alias("delta_sq_micro"),
        )
        .orderBy("lang_a", "lang_b")
    )
