"""Text-analysis operators over the ``documents`` table: statistics,
quality scoring, language-ID heuristic, regex token counting, document
fingerprinting, tf-idf.

All hot-path logic is built-in ``pyspark.sql.functions`` (JVM,
codegen) — no Python UDFs. Hashes use sha256 (portable across engines)
instead of xxhash64/murmur so every op is oracle-verifiable.

Scale: each query is scan -> project -> (optional groupBy). The only
shuffles are on low-cardinality keys (lang) or token ids; at 100 TB the
explode-based token ops produce wide intermediate rows but never a
driver-side collect, and partial aggregation keeps shuffle volume to
distinct-key counts.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from ..functions.textnorm import normalized_text, sha256_hex, whitespace_tokens, word_shingles
from ..functions.partitioning import cpu_repartition
from ..registry import register
from ..tables import Tables

# Deterministic "BPE-ish" token pattern: letter runs, digit runs, single
# punctuation. Uses only RE2-and-Java-compatible constructs so the Spark
# and DuckDB regex engines agree.
TOKEN_PATTERN = r"[A-Za-z]+|[0-9]+|[^A-Za-z0-9\s]"

# Tiny deterministic stopword list present in the fixture vocabulary.
STOPWORDS = ("the", "a", "of", "and", "in")

# Marker-word table for the language-ID heuristic (n-gram/keyword
# voting). Built from one shared Python constant so the Spark plan and
# the oracle SQL are generated from the same facts.
LANG_MARKERS = {
    "en": ("the", "and", "of"),
    "fr": ("le", "la", "et"),
    "de": ("der", "die", "und"),
    "es": ("el", "los", "que"),
    "zh": ("de", "shi", "le"),
}


@register(
    "text_stats_by_lang",
    oracle="""
    SELECT lang, source,
           count(*)                                                      AS n_docs,
           round(avg(n_chars), 2)                                        AS avg_chars,
           round(avg(len(string_split(trim(regexp_replace(lower(text), '\\s+', ' ', 'g')), ' '))), 2)
                                                                         AS avg_tokens,
           min(n_chars)                                                  AS min_chars,
           max(n_chars)                                                  AS max_chars
    FROM documents
    GROUP BY lang, source
    """,
)
def text_stats_by_lang(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Corpus statistics per (lang, source): doc/char/token counts."""
    t = Tables(spark, sf_dir)
    toks = whitespace_tokens(F.col("text"))
    return (
        t.documents.withColumn("n_tokens", F.size(toks))
        .groupBy("lang", "source")
        .agg(
            F.count(F.lit(1)).alias("n_docs"),
            F.round(F.avg("n_chars"), 2).alias("avg_chars"),
            F.round(F.avg("n_tokens"), 2).alias("avg_tokens"),
            F.min("n_chars").alias("min_chars"),
            F.max("n_chars").alias("max_chars"),
        )
        .select("lang", "source", "n_docs", "avg_chars", "avg_tokens", "min_chars", "max_chars")
    )


def _quality_oracle() -> str:
    stop_in = ", ".join(f"'{w}'" for w in STOPWORDS)
    return f"""
    WITH toks AS (
      SELECT doc_id, lang, text,
             length(text) AS n_chars_exact,
             string_split(trim(regexp_replace(lower(text), '\\s+', ' ', 'g')), ' ') AS words
      FROM documents
    )
    SELECT doc_id, lang,
           n_chars_exact                                                   AS n_chars,
           len(words)                                                      AS n_words,
           round(n_chars_exact * 1.0 / len(words), 4)                      AS avg_word_len,
           round(len(list_filter(words, w -> w IN ({stop_in}))) * 1.0
                 / len(words), 4)                                          AS stopword_ratio,
           round(len(regexp_extract_all(text, '[^A-Za-z0-9\\s]')) * 1.0
                 / greatest(n_chars_exact, 1), 4)                          AS punct_ratio,
           CASE WHEN len(words) >= 20
                 AND len(list_filter(words, w -> w IN ({stop_in}))) * 1.0
                     / len(words) BETWEEN 0.0 AND 0.6
                THEN 1 ELSE 0 END                                          AS passes_quality
    FROM toks
    """


@register("text_quality_scores", oracle=_quality_oracle())
def text_quality_scores(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-document quality signals: length, word stats, stopword and
    punctuation ratios, and a boolean gate — the C4-style filter shape.
    """
    t = Tables(spark, sf_dir)
    words = whitespace_tokens(F.col("text"))
    d = t.documents.select(
        "doc_id",
        "lang",
        F.length("text").cast("long").alias("n_chars"),
        F.size(words).cast("long").alias("n_words"),
        F.size(F.filter(words, lambda w: w.isin(*STOPWORDS))).alias("n_stop"),
        F.size(F.regexp_extract_all(F.col("text"), F.lit(r"[^A-Za-z0-9\s]"), F.lit(0))).alias(
            "n_punct"
        ),
    )
    stop_ratio = F.round(F.col("n_stop") / F.col("n_words"), 4)
    return d.select(
        "doc_id",
        "lang",
        "n_chars",
        "n_words",
        F.round(F.col("n_chars") / F.col("n_words"), 4).alias("avg_word_len"),
        stop_ratio.alias("stopword_ratio"),
        F.round(F.col("n_punct") / F.greatest(F.col("n_chars"), F.lit(1)), 4).alias("punct_ratio"),
        F.when((F.col("n_words") >= 20) & (F.col("n_stop") / F.col("n_words") <= 0.6), 1)
        .otherwise(0)
        .alias("passes_quality"),
    )


def _langid_exprs():
    """(spark_expr_builder, sql_snippets) built from LANG_MARKERS."""
    sql_scores = []
    for lang, markers in LANG_MARKERS.items():
        terms = " + ".join(
            f"len(list_filter(words, w -> w = '{m}'))" for m in markers
        )
        sql_scores.append((lang, terms))
    return sql_scores


def _langid_oracle() -> str:
    scores = _langid_exprs()
    score_cols = ",\n           ".join(f"({terms}) AS score_{lang}" for lang, terms in scores)
    # deterministic argmax: highest score wins, ties broken by lang asc —
    # walk languages in ascending order; the first whose score >= all
    # others wins (identical to the Spark sort_array tie-break).
    langs = sorted(lang for lang, _ in scores)
    case_arms = []
    for lang in langs[:-1]:
        conds = " AND ".join(f"score_{lang} >= score_{o}" for o in langs if o != lang)
        case_arms.append(f"WHEN {conds} THEN '{lang}'")
    case_expr = "CASE " + " ".join(case_arms) + f" ELSE '{langs[-1]}' END"
    return f"""
    WITH toks AS (
      SELECT doc_id, lang,
             string_split(trim(regexp_replace(lower(text), '\\s+', ' ', 'g')), ' ') AS words
      FROM documents
    ), scored AS (
      SELECT doc_id, lang,
           {score_cols}
      FROM toks
    )
    SELECT doc_id, lang AS actual_lang,
           {case_expr} AS guessed_lang
    FROM scored
    """


@register("text_lang_id", oracle=_langid_oracle())
def text_lang_id(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Keyword-voting language-ID heuristic (deterministic argmax).

    Structure matters more than accuracy on the synthetic corpus: a
    per-language marker score and an argmax with a total tie-break, the
    same shape a char-n-gram model would have.
    """
    t = Tables(spark, sf_dir)
    words = whitespace_tokens(F.col("text"))
    d = t.documents.select("doc_id", F.col("lang").alias("actual_lang"), words.alias("words"))
    score_structs = []

    def _count_eq(marker: str):
        # NB: a two-arg lambda would be read by F.filter as
        # (element, index) — keep it single-arg via closure.
        return F.size(F.filter(F.col("words"), lambda w: w == F.lit(marker)))

    for lang, markers in LANG_MARKERS.items():
        score = None
        for m in markers:
            c = _count_eq(m)
            score = c if score is None else score + c
        # sort_array on struct orders by first field asc -> use negative
        # score so the best (score desc, lang asc) lands first.
        score_structs.append(F.struct((-score).alias("neg"), F.lit(lang).alias("l")))
    best = F.sort_array(F.array(*score_structs))[0]["l"]
    return d.select("doc_id", "actual_lang", best.alias("guessed_lang"))


@register(
    "text_token_count_regex",
    oracle=f"""
    SELECT doc_id,
           len(regexp_extract_all(text, '{TOKEN_PATTERN}'))  AS n_regex_tokens,
           len(string_split_regex(trim(text), '\\s+'))       AS n_ws_tokens
    FROM documents
    """,
)
def text_token_count_regex(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Token counting two ways: BPE-ish regex tokens and whitespace."""
    t = Tables(spark, sf_dir)
    return t.documents.select(
        "doc_id",
        F.size(F.regexp_extract_all(F.col("text"), F.lit(TOKEN_PATTERN), F.lit(0))).cast("long").alias(
            "n_regex_tokens"
        ),
        F.size(F.split(F.trim(F.col("text")), r"\s+")).cast("long").alias("n_ws_tokens"),
    )


@register(
    "text_fingerprint",
    oracle="""
    WITH sh AS (
      SELECT doc_id,
             sha256(trim(regexp_replace(lower(text), '\\s+', ' ', 'g'))) AS content_sha,
             string_split(trim(regexp_replace(lower(text), '\\s+', ' ', 'g')), ' ') AS toks
      FROM documents
    )
    SELECT doc_id, content_sha,
           list_min(list_transform(
             range(1, greatest(len(toks) - 3, 0) + 1),
             i -> sha256(array_to_string(toks[i:i+3], ' ')))) AS min_shingle_sha
    FROM sh
    """,
)
def text_fingerprint(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Document fingerprints: whole-content sha + min-shingle hash.

    The min-of-shingle-hashes is a 1-permutation MinHash — the rolling-
    fingerprint primitive the dedup pipeline builds on.
    """
    t = Tables(spark, sf_dir)
    toks = whitespace_tokens(F.col("text"))
    shingles = word_shingles(toks, 4)
    # CPU-bound per-row hashing: spread across cores, not parquet splits
    docs = cpu_repartition(t.documents, "doc_id")
    return docs.select(
        "doc_id",
        sha256_hex(normalized_text(F.col("text"))).alias("content_sha"),
        F.array_min(F.transform(shingles, lambda s: F.sha2(s, 256))).alias("min_shingle_sha"),
    )


@register(
    "text_tfidf_top_terms",
    oracle="""
    WITH toks AS (
      SELECT doc_id, lang,
             unnest(string_split(trim(regexp_replace(lower(text), '\\s+', ' ', 'g')), ' ')) AS token
      FROM documents
    ), tf AS (
      SELECT lang, token, count(*) AS tf
      FROM toks GROUP BY lang, token
    ), df AS (
      SELECT token, count(DISTINCT doc_id) AS df
      FROM toks GROUP BY token
    ), n AS (SELECT count(*) AS n_docs FROM documents)
    SELECT lang, token, tf,
           round(tf * ln(n_docs * 1.0 / df), 4) AS tfidf, rnk
    FROM (
      SELECT lang, token, tf,
             row_number() OVER (PARTITION BY lang
                                ORDER BY round(tf * ln((SELECT n_docs FROM n) * 1.0 / df), 4) DESC,
                                         token) AS rnk,
             df
      FROM tf JOIN df USING (token)
    ), n
    WHERE rnk <= 5
    """,
)
def text_tfidf_top_terms(spark: SparkSession, sf_dir: str) -> DataFrame:
    """tf-idf scoring + top-5 terms per language.

    Plan shape: one explode, two aggregations (tf by (lang,token), df by
    token), a broadcast of the doc count, a window top-k. At 100 TB the
    token dimension aggregates partial-first so the shuffle carries only
    distinct (lang, token) pairs.
    """
    t = Tables(spark, sf_dir)
    docs = t.documents
    # corpus size as a broadcast scalar (1-row cross join) — no
    # driver-side action; the plan stays fully lazy/distributed
    n_docs = docs.agg(F.count(F.lit(1)).cast("double").alias("n_docs"))
    toks = docs.select(
        "doc_id", "lang", F.explode(whitespace_tokens(F.col("text"))).alias("token")
    )
    tf = toks.groupBy("lang", "token").agg(F.count(F.lit(1)).alias("tf"))
    df = toks.groupBy("token").agg(F.countDistinct("doc_id").alias("df"))
    scored = (
        tf.join(df, "token")
        .crossJoin(F.broadcast(n_docs))
        .withColumn("tfidf", F.round(F.col("tf") * F.log(F.col("n_docs") / F.col("df")), 4))
    )
    w = Window.partitionBy("lang").orderBy(F.col("tfidf").desc(), F.col("token"))
    return (
        scored.withColumn("rnk", F.row_number().over(w))
        .filter(F.col("rnk") <= 5)
        .withColumn("rnk", F.col("rnk").cast("long"))
        .select("lang", "token", "tf", "tfidf", "rnk")
    )


WINNOW_K = 4   # k-gram (words) size for winnowing
WINNOW_W = 5   # window of consecutive k-gram hashes


@register(
    "text_winnow_fingerprint",
    oracle=f"""
    WITH toks AS (
      SELECT doc_id,
             string_split(trim(regexp_replace(lower(text), '\\s+', ' ', 'g')), ' ') AS w
      FROM documents
    ), grams AS (
      SELECT doc_id,
             list_transform(
               range(1, greatest(len(w) - {WINNOW_K - 1}, 0) + 1),
               i -> ('0x' || substr(sha256(array_to_string(w[i:i+{WINNOW_K - 1}], ' ')), 1, 15))::BIGINT
             ) AS hs
      FROM toks
    ), wins AS (
      SELECT doc_id, hs,
             list_distinct(list_transform(
               range(1, greatest(len(hs) - {WINNOW_W - 1}, 0) + 1),
               i -> list_min(hs[i:i+{WINNOW_W - 1}]))) AS fp
      FROM grams
      WHERE len(hs) >= {WINNOW_W}
    )
    SELECT doc_id,
           len(fp)       AS n_fingerprints,
           list_min(fp)  AS min_fp,
           list_max(fp)  AS max_fp
    FROM wins
    """,
)
def text_winnow_fingerprint(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Winnowing document fingerprints (Schleimer et al. local-minima
    sketch): k-gram rolling hashes -> min of each w-window -> distinct
    selected hashes. Output scalars (count/min/max) for hash parity;
    the full fingerprint set feeds plagiarism-style overlap joins.

    All hashes are the portable sha256-prefix int64, so the oracle
    verifies the sketch value-for-value.
    """
    from ..functions.textnorm import sha256_prefix_i64, word_shingles

    t = Tables(spark, sf_dir)
    w = whitespace_tokens(F.col("text"))
    # word_shingles carries the short-doc guard (sequence(1,0) yields
    # [1,0], not []); docs with < WINNOW_K tokens get an empty gram list.
    grams = word_shingles(w, WINNOW_K)
    d = cpu_repartition(t.documents, "doc_id").select(
        "doc_id", F.transform(grams, lambda g: sha256_prefix_i64(g)).alias("hs")
    ).filter(F.size("hs") >= WINNOW_W)
    fp = F.array_distinct(
        F.transform(
            F.sequence(F.lit(1), F.greatest(F.size("hs") - F.lit(WINNOW_W - 1), F.lit(0))),
            lambda i: F.array_min(F.slice(F.col("hs"), i, WINNOW_W)),
        )
    )
    return d.select(
        "doc_id",
        F.size(fp).cast("long").alias("n_fingerprints"),
        F.array_min(fp).alias("min_fp"),
        F.array_max(fp).alias("max_fp"),
    )


def _repetition_oracle() -> str:
    return """
    WITH toks AS (
      SELECT doc_id,
             string_split(trim(regexp_replace(lower(text), '\\s+', ' ', 'g')), ' ') AS words
      FROM documents
    ), grams AS (
      SELECT doc_id, words,
             CASE WHEN len(words) >= 2
                  THEN list_transform(range(1, len(words)),
                                      i -> words[i] || ' ' || words[i + 1])
                  ELSE [] END AS bigrams
      FROM toks
    )
    SELECT doc_id,
           len(words) AS n_tokens,
           round(len(list_distinct(words)) * 1.0 / len(words), 6) AS distinct_ratio,
           round(list_max(list_transform(list_distinct(words),
                   w -> len(list_filter(words, x -> x = w)))) * 1.0
                 / len(words), 6) AS top_token_fraction,
           CASE WHEN len(bigrams) = 0 THEN NULL
                ELSE round(1.0 - len(list_distinct(bigrams)) * 1.0 / len(bigrams), 6)
           END AS dup_bigram_fraction,
           CASE WHEN len(list_distinct(words)) * 1.0 / len(words) >= 0.4
                 AND list_max(list_transform(list_distinct(words),
                       w -> len(list_filter(words, x -> x = w)))) * 1.0
                     / len(words) <= 0.1
                THEN 1 ELSE 0 END AS passes_repetition
    FROM grams
    """


@register("text_repetition_stats", oracle=_repetition_oracle())
def text_repetition_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Gopher-style repetition quality signals per document: distinct
    token ratio, most-frequent-token fraction, duplicate-bigram
    fraction, and a pass/fail gate.

    Scale shape: one explode per n-gram order, counts aggregated per
    (doc, gram) with partial aggregation, then per-doc rollup — the two
    branches are co-partitioned on doc_id, so the final join is
    shuffle-free under AQE. No Python anywhere.
    """
    t = Tables(spark, sf_dir)
    words = whitespace_tokens(F.col("text"))
    d = t.documents.select("doc_id", words.alias("words")).localCheckpoint(eager=False)
    uni = (
        d.select("doc_id", F.explode("words").alias("tok"))
        .groupBy("doc_id", "tok")
        .agg(F.count(F.lit(1)).alias("n"))
        .groupBy("doc_id")
        .agg(
            F.sum("n").alias("n_tokens"),
            F.count(F.lit(1)).alias("n_distinct"),
            F.max("n").alias("top_n"),
        )
    )
    bi = (
        d.select("doc_id", F.explode(word_shingles(F.col("words"), 2)).alias("bg"))
        .groupBy("doc_id", "bg")
        .agg(F.count(F.lit(1)).alias("n"))
        .groupBy("doc_id")
        .agg(F.sum("n").alias("n_bigrams"), F.count(F.lit(1)).alias("n_distinct_bi"))
    )
    distinct_ratio = F.round(F.col("n_distinct") / F.col("n_tokens"), 6)
    top_frac = F.round(F.col("top_n") / F.col("n_tokens"), 6)
    return (
        uni.join(bi, "doc_id", "left")
        .select(
            "doc_id",
            "n_tokens",
            distinct_ratio.alias("distinct_ratio"),
            top_frac.alias("top_token_fraction"),
            F.when(
                F.col("n_bigrams").isNotNull(),
                F.round(1.0 - F.col("n_distinct_bi") / F.col("n_bigrams"), 6),
            ).alias("dup_bigram_fraction"),
            F.when(
                (F.col("n_distinct") / F.col("n_tokens") >= 0.4)
                & (F.col("top_n") / F.col("n_tokens") <= 0.1),
                1,
            )
            .otherwise(0)
            .alias("passes_repetition"),
        )
    )


# Feature-hashing classifier: dimension and weight scale shared by the
# Spark plan and the oracle SQL. Weights are derived deterministically
# from the token's sha256 (a fixed random projection in [-1, 1] milli-
# quantized) — the *plumbing* under test is hashed-feature scoring at
# zero shuffles; swapping in trained weights is a broadcast-map change.
CLS_WEIGHT_MOD = 2001      # milli-weights in [-1000, 1000]


def _classifier_oracle() -> str:
    from ..functions.exact import sql_round_int_ratio

    half = (CLS_WEIGHT_MOD - 1) // 2
    return f"""
    WITH feat AS (
      SELECT doc_id, lang,
             string_split(trim(regexp_replace(lower(text), '\\s+', ' ', 'g')), ' ') AS toks
      FROM documents
    ), act AS (
      SELECT doc_id, lang, CAST(len(toks) AS BIGINT) AS n_tokens,
             CAST(coalesce(list_sum(list_transform(toks,
                   t -> (('0x' || substr(sha256(t), 1, 15))::BIGINT % {CLS_WEIGHT_MOD})
                        - {half})), 0) AS BIGINT) AS ms
      FROM feat
    ), dd AS (
      SELECT *, 1000 * n_tokens + abs(ms) AS d FROM act
    )
    SELECT doc_id, lang, n_tokens,
           CASE WHEN d > 0 THEN {sql_round_int_ratio('d + ms', '2*d')}
                ELSE 0.5 END AS score,
           (ms >= 0) AS keep
    FROM dd
    """


@register("text_quality_classifier_score", oracle=_classifier_oracle())
def text_quality_classifier_score(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Hashed-feature linear quality classifier (fasttext-style
    inference shape): token -> 60-bit portable hash -> milli-quantized
    weight, per-document mean activation squashed to (0,1), thresholded
    keep flag.

    The squashing function is softsign, 0.5 + z/(2(1+|z|)) with
    z = milli_sum/(1000 n) — chosen over the logistic sigmoid because
    it is a *rational* function of the integer milli-sum:
    score = (D + m)/(2 D) with D = 1000 n + |m|, an exact half-up
    integer ratio at 6 dp on both engines. That removes the last
    transcendental (exp is only ~1-ulp-reproducible per libm) from the
    classifier family — closing the quantization residual flagged in
    VERDICT r4 item 5. keep (score >= 0.5) reduces to the exact integer
    test m >= 0.

    The 100 TB story is the plan: ZERO shuffles — tokenize, weight-map,
    and reduce all happen inside one projection over the scan
    (``F.aggregate`` over the token array), so scoring a corpus costs
    exactly one pass with no exchange (plan-asserted). The weight sum
    is integer (milli-units) — FP order can't flip the value hash.
    """
    from ..functions.exact import round_int_ratio

    t = Tables(spark, sf_dir)
    half = (CLS_WEIGHT_MOD - 1) // 2
    w = lambda tok: (  # noqa: E731
        F.conv(F.substring(F.sha2(tok, 256), 1, 15), 16, 10).cast("long")
        % CLS_WEIGHT_MOD
        - half
    )
    milli_sum = F.aggregate(
        F.transform(F.col("toks"), w), F.lit(0).cast("long"), lambda acc, x: acc + x
    )
    # staged projections so the sha2-per-token milli-sum materializes
    # once before the score arithmetic references it repeatedly (the
    # round_int_ratio expansion would otherwise re-embed the whole
    # aggregate ~4x — see ml_scores._scored_labeled_build)
    stats = t.documents.select(
        "doc_id", "lang", whitespace_tokens(F.col("text")).alias("toks")
    ).select(
        "doc_id",
        "lang",
        F.size("toks").cast("long").alias("n_tokens"),
        milli_sum.alias("ms"),
    )
    ms = F.col("ms")
    d = F.lit(1000) * F.col("n_tokens") + F.abs(ms)
    score = F.when(d > 0, round_int_ratio(d + ms, F.lit(2) * d)).otherwise(F.lit(0.5))
    return stats.select(
        "doc_id",
        "lang",
        "n_tokens",
        score.alias("score"),
        (ms >= 0).alias("keep"),
    )


def _lm_ce_oracle() -> str:
    from ..functions.detmath import sql_det_ln_steps

    return f"""
    WITH toks AS (
      SELECT doc_id,
             string_split(trim(regexp_replace(lower(text), '\\s+', ' ', 'g')), ' ') AS toks
      FROM documents
    ), bi AS (
      SELECT doc_id, toks[CAST(i AS INTEGER)] AS w1, toks[CAST(i AS INTEGER) + 1] AS w2
      FROM toks, unnest(generate_series(1, len(toks) - 1)) AS t(i)
      WHERE len(toks) >= 2
    ), lm AS (
      SELECT w1, w2, count(*) AS c12 FROM bi GROUP BY w1, w2
    ), ctx AS (
      SELECT w1, CAST(sum(c12) AS BIGINT) AS c1 FROM lm GROUP BY w1
    ), lmd AS (
      SELECT lm.w1, lm.w2,
             CAST(ctx.c1 AS DOUBLE) AS c1d, CAST(lm.c12 AS DOUBLE) AS c12d
      FROM lm JOIN ctx USING (w1)
    ), {sql_det_ln_steps('lmd', 'c1d / c12d', 'nll_q', 6)}
    SELECT b.doc_id,
           CAST(count(*) AS BIGINT) AS n_bigrams,
           round(CAST(sum(s.nll_q) AS DOUBLE) / 1000000.0 / count(*), 6)
             AS cross_entropy
    FROM bi b JOIN nll_q_rel s USING (w1, w2)
    GROUP BY b.doc_id
    """


@register("text_lm_cross_entropy", oracle=_lm_ce_oracle())
def text_lm_cross_entropy(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-document cross-entropy under the corpus's own bigram LM —
    the CCNet/Wenzek-style perplexity filter: documents that the
    corpus-level language model finds surprising (high cross-entropy)
    are boilerplate/garbled candidates; very low ones are templated.

    Shape: doc bigrams are built map-side from the token array (keep
    multiplicity); the LM (bigram count / context count) derives from
    the SAME exploded rows with two vocab-bounded aggregations; scoring
    joins doc bigrams to the LM on the bigram key. Per-bigram negative
    log-likelihoods quantize to int64 micro-nats BEFORE the per-doc sum
    so aggregation order can't flip the hash. At 100 TB the LM table is
    vocab^2-bounded (broadcastable for real vocabularies after a
    min-count floor); the scoring join is a plain equi-join carrying
    (doc_id, hash-sized keys), no text.
    """
    t = Tables(spark, sf_dir)
    toks = whitespace_tokens(F.col("text"))
    docs = cpu_repartition(t.documents, "doc_id").select("doc_id", toks.alias("toks"))
    bi = (
        docs.where(F.size("toks") >= 2)
        .select(
            "doc_id",
            F.explode(
                F.transform(
                    F.sequence(F.lit(1), F.size("toks") - 1),
                    lambda i: F.struct(
                        F.element_at("toks", i).alias("w1"),
                        F.element_at("toks", i + 1).alias("w2"),
                    ),
                )
            ).alias("b"),
        )
        .select("doc_id", F.col("b.w1").alias("w1"), F.col("b.w2").alias("w2"))
    )
    from ..functions.detmath import det_ln_q

    lm = bi.groupBy("w1", "w2").agg(F.count(F.lit(1)).alias("c12"))
    ctx = lm.groupBy("w1").agg(F.sum("c12").alias("c1"))
    # det_ln_q, not F.log: the per-bigram micro-nat must quantize to
    # the same int64 on both engines (functions/detmath.py). Scored on
    # the vocab^2-bounded LM rows, NOT per bigram instance — the
    # higher-order fold is interpreted (no codegen), so evaluations
    # must be minimized before the fact-side join fans them out.
    scored_lm = lm.join(ctx, ["w1"]).select(
        "w1",
        "w2",
        det_ln_q(F.col("c1").cast("double") / F.col("c12").cast("double"), 6).alias(
            "nll_q"
        ),
    )
    return (
        bi.join(F.broadcast(scored_lm), ["w1", "w2"])
        .groupBy("doc_id")
        .agg(F.count(F.lit(1)).alias("n_bigrams"), F.sum("nll_q").alias("sum_q"))
        .select(
            "doc_id",
            "n_bigrams",
            F.round(
                F.col("sum_q").cast("double") / F.lit(1e6) / F.col("n_bigrams"), 6
            ).alias("cross_entropy"),
        )
    )


# BM25 retrieval constants — shared by the Spark plan and the oracle so
# both engines assemble the identical expression tree.
BM25_K1 = 1.2
BM25_B = 0.75
BM25_TOPK = 20
BM25_TERMS = ("hash", "join", "vector", "stream")
_BM25_TERMS_SQL = ", ".join(f"'{t}'" for t in BM25_TERMS)


# Shared oracle CTE chain ending in a `bm25_top` table of the top-K
# (doc_id, n_terms_matched, sum_q) rows — reused verbatim by
# similarity.similarity_rrf_hybrid so the hybrid fusion's lexical leg is
# definitionally the same computation as text_bm25_topk's.
_BM25_CORE_SQL = f"""
    WITH words AS (
      SELECT doc_id, unnest(string_split(trim(regexp_replace(lower(text), '\\s+', ' ', 'g')), ' ')) AS w
      FROM documents
    ), dl AS (
      SELECT doc_id, CAST(count(*) AS BIGINT) AS dl FROM words GROUP BY doc_id
    ), st AS (
      SELECT CAST(count(*) AS BIGINT) AS n_docs,
             CAST(sum(dl) AS DOUBLE) / CAST(count(*) AS DOUBLE) AS avgdl
      FROM dl
    ), tf AS (
      SELECT doc_id, w, CAST(count(*) AS BIGINT) AS tf
      FROM words WHERE w IN ({_BM25_TERMS_SQL}) GROUP BY doc_id, w
    ), df AS (
      SELECT w, CAST(count(*) AS BIGINT) AS df FROM tf GROUP BY w
    ), contrib AS (
      SELECT tf.doc_id,
             CAST(floor(
               ln(1.0 + (CAST(st.n_docs - df.df AS DOUBLE) + 0.5)
                        / (CAST(df.df AS DOUBLE) + 0.5))
               * (CAST(tf.tf AS DOUBLE) * ({BM25_K1!r} + 1.0))
               / (CAST(tf.tf AS DOUBLE)
                  + {BM25_K1!r} * (1.0 - {BM25_B!r}
                                   + {BM25_B!r} * CAST(dl.dl AS DOUBLE) / st.avgdl))
               * 1000000.0 + 0.5) AS BIGINT) AS c_q
      FROM tf JOIN df USING (w) JOIN dl USING (doc_id) CROSS JOIN st
    ), bm25_top AS (
      SELECT doc_id,
             CAST(count(*) AS BIGINT) AS n_terms_matched,
             CAST(sum(c_q) AS BIGINT) AS sum_q
      FROM contrib GROUP BY doc_id
      ORDER BY sum(c_q) DESC, doc_id
      LIMIT {BM25_TOPK}
    )"""


@register(
    "text_bm25_topk",
    oracle=_BM25_CORE_SQL
    + """
    SELECT doc_id, n_terms_matched,
           round(CAST(sum_q AS DOUBLE) / 1000000.0, 6) AS bm25
    FROM bm25_top
    """,
)
def text_bm25_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    """BM25 top-k retrieval for a fixed query-term set over the corpus
    — the lexical half of a retrieval/RAG data-curation stack (find
    the documents most relevant to a probe query; dual of the dense
    `knn_brute_cosine`/`ann_lsh_topk` path).

    Shape: one token explode feeds BOTH the per-document length table
    (full pass) and the term-frequency table (map-side `w IN (...)`
    filter, so the tf shuffle carries at most |docs| x |query terms|
    rows). Document frequencies and the (N, avgdl) corpus stats are
    tiny — broadcast joins. Per-(doc, term) BM25 contributions quantize
    to int64 micro-units BEFORE the per-doc sum (aggregation order
    cannot flip the hash), and the global top-k compiles to
    TakeOrderedAndProject (no single-partition exchange). The idf log
    runs through JVM Math.log on one side and libm on the other —
    last-ulp disagreement would need the contribution within ~1e-16
    of a micro-unit boundary to flip the floor (~1e-10 per (doc,
    term); the accepted residual class for floor-quantized FP, not
    the structural count-ratio hazard round_int_ratio fixes). At
    100 TB: shuffle volume is |docs| rows for dl, |docs x terms| for
    tf — nothing text-sized leaves the map stage; ties at the k-th
    slot break on doc_id in both engines.
    """
    t = Tables(spark, sf_dir)
    words = cpu_repartition(t.documents, "doc_id").select(
        "doc_id", F.explode(whitespace_tokens(F.col("text"))).alias("w")
    )
    dl = words.groupBy("doc_id").agg(F.count(F.lit(1)).alias("dl"))
    st = dl.agg(
        F.count(F.lit(1)).alias("n_docs"),
        (F.sum("dl").cast("double") / F.count(F.lit(1)).cast("double")).alias("avgdl"),
    )
    tf = (
        words.where(F.col("w").isin(*BM25_TERMS))
        .groupBy("doc_id", "w")
        .agg(F.count(F.lit(1)).alias("tf"))
    )
    df = tf.groupBy("w").agg(F.count(F.lit(1)).alias("df"))
    idf = F.log(
        F.lit(1.0)
        + ((F.col("n_docs") - F.col("df")).cast("double") + F.lit(0.5))
        / (F.col("df").cast("double") + F.lit(0.5))
    )
    denom = F.col("tf").cast("double") + F.lit(BM25_K1) * (
        F.lit(1.0) - F.lit(BM25_B)
        + F.lit(BM25_B) * F.col("dl").cast("double") / F.col("avgdl")
    )
    c_q = F.floor(
        idf * (F.col("tf").cast("double") * (F.lit(BM25_K1) + F.lit(1.0))) / denom
        * F.lit(1e6)
        + F.lit(0.5)
    ).cast("long")
    contrib = (
        tf.join(F.broadcast(df), "w")
        .join(dl, "doc_id")
        .crossJoin(F.broadcast(st))
        .select("doc_id", c_q.alias("c_q"))
    )
    return (
        contrib.groupBy("doc_id")
        .agg(F.count(F.lit(1)).alias("n_terms_matched"), F.sum("c_q").alias("sum_q"))
        .orderBy(F.desc("sum_q"), "doc_id")
        .limit(BM25_TOPK)
        .select(
            "doc_id",
            "n_terms_matched",
            F.round(F.col("sum_q").cast("double") / F.lit(1e6), 6).alias("bm25"),
        )
    )


# --- RAKE keyword extraction -----------------------------------------------

RAKE_TOPK = 20
RAKE_MIN_FREQ = 5  # report only words appearing in >= 5 phrases


def _rake_oracle() -> str:
    from ..functions.exact import sql_round_int_ratio

    stop_in = ", ".join(f"'{w}'" for w in STOPWORDS)
    sql_tokens = "string_split(trim(regexp_replace(lower(text), '\\s+', ' ', 'g')), ' ')"
    return f"""
    WITH base AS (
      SELECT doc_id, {sql_tokens} AS ts FROM documents
    ), toks AS (
      SELECT doc_id, CAST(i AS BIGINT) AS pos, ts[CAST(i AS INTEGER)] AS tok
      FROM base, unnest(generate_series(1, len(ts))) AS t(i)
    ), marked AS (
      SELECT doc_id, pos, tok, (tok IN ({stop_in})) AS stop,
             sum(CASE WHEN tok IN ({stop_in}) THEN 1 ELSE 0 END)
               OVER (PARTITION BY doc_id ORDER BY pos) AS pid
      FROM toks
    ), words AS (
      SELECT doc_id, pid, tok FROM marked WHERE NOT stop
    ), phr AS (
      SELECT doc_id, pid, CAST(count(*) AS BIGINT) AS plen
      FROM words GROUP BY 1, 2
    ), contrib AS (
      SELECT w.tok, p.plen FROM words w JOIN phr p USING (doc_id, pid)
    ), scores AS (
      SELECT tok AS word,
             CAST(count(*) AS BIGINT) AS freq,
             CAST(sum(plen) AS BIGINT) AS degree
      FROM contrib GROUP BY 1
    )
    SELECT word, freq, degree,
           {sql_round_int_ratio('degree', 'freq')} AS rake_score
    FROM scores WHERE freq >= {RAKE_MIN_FREQ}
    ORDER BY rake_score DESC, freq DESC, word
    LIMIT {RAKE_TOPK}
    """


@register("text_rake_keywords_topk", oracle=_rake_oracle())
def text_rake_keywords_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    """RAKE keyword extraction (Rose et al. 2010): split each document
    into candidate phrases at stopword boundaries, then score every
    content word by degree/frequency — degree = total length of the
    phrases it appears in (rewards words that anchor long collocations),
    frequency = phrase occurrences. Top-k corpus keywords by score.

    The keyword-extraction member of the text-analysis family (tf-idf =
    rarity, BM25 = retrieval, PMI = pairwise association, RAKE =
    phrase-structural salience). Scale: phrase segmentation is a
    per-document cumulative count over token positions — a partitioned
    window on the doc key, never global; everything after reduces to
    the (tiny) vocabulary, and the top-k is a TakeOrdered over exact
    half-up integer ratios.
    """
    from ..functions.exact import round_int_ratio

    t = Tables(spark, sf_dir)
    toks = t.documents.select(
        "doc_id",
        F.posexplode(whitespace_tokens(F.col("text"))).alias("pos", "tok"),
    )
    is_stop = F.col("tok").isin(*STOPWORDS)
    w = Window.partitionBy("doc_id").orderBy("pos")
    marked = toks.select(
        "doc_id",
        "tok",
        is_stop.alias("stop"),
        F.sum(is_stop.cast("int")).over(w).alias("pid"),
    )
    words = marked.filter(~F.col("stop")).select("doc_id", "pid", "tok")
    phr = words.groupBy("doc_id", "pid").agg(
        F.count(F.lit(1)).alias("plen")
    )
    contrib = words.join(phr, ["doc_id", "pid"]).select("tok", "plen")
    scores = contrib.groupBy("tok").agg(
        F.count(F.lit(1)).alias("freq"), F.sum("plen").alias("degree")
    )
    return (
        scores.filter(F.col("freq") >= RAKE_MIN_FREQ)
        .select(
            F.col("tok").alias("word"),
            "freq",
            "degree",
            round_int_ratio(F.col("degree"), F.col("freq")).alias("rake_score"),
        )
        .orderBy(F.col("rake_score").desc(), F.col("freq").desc(), "word")
        .limit(RAKE_TOPK)
    )
