"""Composed training-data pipeline: the end-to-end LLM-data-prep shape
as ONE declarative plan — quality filter -> exact dedup (keep min
doc_id) -> per-language token accounting.

This is the composition the individual operators exist for; because it
is a single DataFrame plan, Catalyst fuses the stages (the quality
filter prunes before the dedup shuffle; the dedup winner join is a
broadcast) instead of materializing intermediates between "steps".
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from ..functions.textnorm import normalized_text, sha256_hex, whitespace_tokens
from ..registry import register
from ..tables import Tables

MIN_WORDS = 20
MAX_STOP_RATIO = 0.6
STOPWORDS = ("the", "a", "of", "and", "in")


@register(
    "pipeline_training_data_prep",
    oracle=f"""
    WITH scored AS (
      SELECT doc_id, lang,
             sha256(trim(regexp_replace(lower(text), '\\s+', ' ', 'g'))) AS content_hash,
             len(string_split(trim(regexp_replace(lower(text), '\\s+', ' ', 'g')), ' '))
               AS n_words,
             len(list_filter(string_split(trim(regexp_replace(lower(text), '\\s+', ' ', 'g')), ' '),
                             w -> w IN ({', '.join(f"'{w}'" for w in STOPWORDS)}))) AS n_stop
      FROM documents
    ), quality AS (
      SELECT * FROM scored
      WHERE n_words >= {MIN_WORDS} AND n_stop * 1.0 / n_words <= {MAX_STOP_RATIO}
    ), keep AS (
      SELECT content_hash, min(doc_id) AS keep_doc_id FROM quality GROUP BY content_hash
    )
    SELECT q.lang,
           count(*)                                       AS n_docs,
           CAST(sum(q.n_words) AS BIGINT)                 AS total_tokens,
           round(avg(q.n_words), 4)                       AS avg_tokens,
           min(q.doc_id)                                  AS min_doc_id
    FROM quality q JOIN keep k
      ON q.content_hash = k.content_hash AND q.doc_id = k.keep_doc_id
    GROUP BY q.lang
    """,
)
def pipeline_training_data_prep(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Quality-gate -> dedup -> token-accounting pipeline (one plan).

    Stages (all fused by Catalyst, no intermediate materialization):
      1. score: normalized tokens, stopword counts;
      2. quality gate: >= MIN_WORDS words, stopword ratio <= cap;
      3. exact dedup on the normalized-content hash, keeping min doc_id
         (deterministic winner);
      4. per-language corpus accounting of the surviving documents.
    """
    t = Tables(spark, sf_dir)
    words = whitespace_tokens(F.col("text"))
    scored = t.documents.select(
        "doc_id",
        "lang",
        sha256_hex(normalized_text(F.col("text"))).alias("content_hash"),
        F.size(words).alias("n_words"),
        F.size(F.filter(words, lambda w: w.isin(*STOPWORDS))).alias("n_stop"),
    )
    quality = scored.filter(
        (F.col("n_words") >= MIN_WORDS)
        & (F.col("n_stop") / F.col("n_words") <= MAX_STOP_RATIO)
    )
    # `keep` derives from `quality`, so the join columns are renamed first:
    # joining on quality["content_hash"] == keep["content_hash"] would hit
    # Spark's ambiguous self-join resolution (trivially-true predicate).
    keep = (
        quality.groupBy("content_hash")
        .agg(F.min("doc_id").alias("keep_doc_id"))
        .withColumnRenamed("content_hash", "keep_hash")
    )
    survivors = quality.join(
        keep,
        (F.col("content_hash") == F.col("keep_hash"))
        & (F.col("doc_id") == F.col("keep_doc_id")),
    )
    return survivors.groupBy("lang").agg(
        F.count(F.lit(1)).alias("n_docs"),
        F.sum("n_words").alias("total_tokens"),
        F.round(F.avg("n_words"), 4).alias("avg_tokens"),
        F.min("doc_id").alias("min_doc_id"),
    )


EVAL_HOLDOUT_PCT = 10  # hash-mod bucket reserved for eval, excluded from train


@register(
    "pipeline_survival_funnel",
    oracle=f"""
    WITH scored AS (
      SELECT doc_id,
             (('0x' || substr(sha256(CAST(doc_id AS VARCHAR)), 1, 15)))::BIGINT % 100 AS b,
             sha256(trim(regexp_replace(lower(text), '\\s+', ' ', 'g'))) AS content_hash,
             len(string_split(trim(regexp_replace(lower(text), '\\s+', ' ', 'g')), ' '))
               AS n_words,
             len(list_filter(string_split(trim(regexp_replace(lower(text), '\\s+', ' ', 'g')), ' '),
                             w -> w IN ({', '.join(f"'{w}'" for w in STOPWORDS)}))) AS n_stop
      FROM documents
    ), flagged AS (
      SELECT *,
             (n_words >= {MIN_WORDS}) AS len_ok,
             (n_words >= {MIN_WORDS} AND n_stop * 1.0 / n_words <= {MAX_STOP_RATIO}) AS stop_ok,
             (doc_id = min(CASE WHEN n_words >= {MIN_WORDS}
                                 AND n_stop * 1.0 / n_words <= {MAX_STOP_RATIO}
                           THEN doc_id END) OVER (PARTITION BY content_hash)) AS is_winner
      FROM scored
    ), wide AS (
      SELECT count(*) AS raw_docs, CAST(sum(n_words) AS BIGINT) AS raw_tokens,
             CAST(sum(CASE WHEN len_ok THEN 1 ELSE 0 END) AS BIGINT) AS len_docs,
             CAST(sum(CASE WHEN len_ok THEN n_words ELSE 0 END) AS BIGINT) AS len_tokens,
             CAST(sum(CASE WHEN stop_ok THEN 1 ELSE 0 END) AS BIGINT) AS stop_docs,
             CAST(sum(CASE WHEN stop_ok THEN n_words ELSE 0 END) AS BIGINT) AS stop_tokens,
             CAST(sum(CASE WHEN is_winner THEN 1 ELSE 0 END) AS BIGINT) AS dedup_docs,
             CAST(sum(CASE WHEN is_winner THEN n_words ELSE 0 END) AS BIGINT) AS dedup_tokens,
             CAST(sum(CASE WHEN is_winner AND b >= {EVAL_HOLDOUT_PCT} THEN 1 ELSE 0 END) AS BIGINT) AS final_docs,
             CAST(sum(CASE WHEN is_winner AND b >= {EVAL_HOLDOUT_PCT} THEN n_words ELSE 0 END) AS BIGINT) AS final_tokens
      FROM flagged
    )
    SELECT stage_idx, stage, n_docs, n_tokens,
           CAST(floor(CAST(n_docs AS DOUBLE) / CAST(raw_docs AS DOUBLE) * 1000000.0 + 0.5) AS BIGINT)
             / 1000000.0 AS retained_pct
    FROM (
      SELECT CAST(1 AS BIGINT) AS stage_idx, 'raw' AS stage, raw_docs AS n_docs, raw_tokens AS n_tokens, raw_docs FROM wide
      UNION ALL SELECT 2, 'len_gate', len_docs, len_tokens, raw_docs FROM wide
      UNION ALL SELECT 3, 'stopword_gate', stop_docs, stop_tokens, raw_docs FROM wide
      UNION ALL SELECT 4, 'exact_dedup', dedup_docs, dedup_tokens, raw_docs FROM wide
      UNION ALL SELECT 5, 'train_final', final_docs, final_tokens, raw_docs FROM wide
    )
    """,
)
def pipeline_survival_funnel(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-stage survival accounting for the full prep pipeline, in ONE
    scan.

    The dashboard number every corpus build reports: how many documents
    (and tokens) survive each stage — raw -> length gate -> stopword
    gate -> exact dedup -> eval-holdout removal. Instead of unioning
    five filtered aggregates (five scans at 100 TB), every stage is a
    conditional aggregate over one pass; the only shuffle besides the
    final 1-row agg is the dedup-winner window on content_hash.
    The 5-row tidy shape unpivots from the single aggregated row —
    driver-free and constant-size.
    """
    from ..functions.textnorm import sha256_prefix_i64

    t = Tables(spark, sf_dir)
    words = whitespace_tokens(F.col("text"))
    scored = t.documents.select(
        "doc_id",
        (sha256_prefix_i64(F.col("doc_id").cast("string")) % 100).alias("b"),
        sha256_hex(normalized_text(F.col("text"))).alias("content_hash"),
        F.size(words).alias("n_words"),
        F.size(F.filter(words, lambda w: w.isin(*STOPWORDS))).alias("n_stop"),
    )
    len_ok = F.col("n_words") >= MIN_WORDS
    stop_ok = len_ok & (F.col("n_stop") / F.col("n_words") <= MAX_STOP_RATIO)
    from pyspark.sql import Window

    win = Window.partitionBy("content_hash")
    flagged = scored.select(
        "*",
        len_ok.alias("len_ok"),
        stop_ok.alias("stop_ok"),
        (
            F.col("doc_id")
            == F.min(F.when(stop_ok, F.col("doc_id"))).over(win)
        ).alias("is_winner"),
    )
    cnt = lambda c: F.sum(F.when(c, 1).otherwise(0)).cast("long")  # noqa: E731
    tok = lambda c: F.sum(F.when(c, F.col("n_words")).otherwise(0)).cast("long")  # noqa: E731
    final_ok = F.col("is_winner") & (F.col("b") >= EVAL_HOLDOUT_PCT)
    wide = flagged.agg(
        F.count(F.lit(1)).alias("raw_docs"),
        F.sum("n_words").alias("raw_tokens"),
        cnt(F.col("len_ok")).alias("len_docs"),
        tok(F.col("len_ok")).alias("len_tokens"),
        cnt(F.col("stop_ok")).alias("stop_docs"),
        tok(F.col("stop_ok")).alias("stop_tokens"),
        cnt(F.col("is_winner")).alias("dedup_docs"),
        tok(F.col("is_winner")).alias("dedup_tokens"),
        cnt(final_ok).alias("final_docs"),
        tok(final_ok).alias("final_tokens"),
    )
    tidy = wide.select(
        F.expr(
            """stack(5,
                 CAST(1 AS BIGINT), 'raw',           raw_docs,   raw_tokens,
                 CAST(2 AS BIGINT), 'len_gate',      len_docs,   len_tokens,
                 CAST(3 AS BIGINT), 'stopword_gate', stop_docs,  stop_tokens,
                 CAST(4 AS BIGINT), 'exact_dedup',   dedup_docs, dedup_tokens,
                 CAST(5 AS BIGINT), 'train_final',   final_docs, final_tokens
               ) AS (stage_idx, stage, n_docs, n_tokens)"""
        ),
        "raw_docs",
    )
    retained = (
        F.floor(
            F.col("n_docs").cast("double") / F.col("raw_docs").cast("double") * F.lit(1e6)
            + F.lit(0.5)
        ).cast("long")
        / F.lit(1e6)
    )
    return tidy.select(
        "stage_idx", "stage", "n_docs", "n_tokens", retained.alias("retained_pct")
    )


# Full-prep pipeline constants (shared by plan and oracle).
# Classifier floor: softsign score (D+m)/(2D) >= 47/100, applied as the
# exact integer test 100*(D+m) >= 94*D — no float threshold compare
# (see text.text_quality_classifier_score for the softsign rationale).
PIPE_MIN_SCORE_PCT = 47
PIPE_CE_LO, PIPE_CE_HI = 3.30, 3.50   # LM cross-entropy keep band
_W_MOD = 2001                # milli-weights in [-1000, 1000]


def _prep_full_oracle() -> str:
    from ..functions.detmath import sql_det_ln_steps

    return f"""
    WITH base AS (
      SELECT doc_id, lang,
             string_split(trim(regexp_replace(lower(text), '\\s+', ' ', 'g')), ' ') AS toks,
             sha256(trim(regexp_replace(lower(text), '\\s+', ' ', 'g'))) AS h
      FROM documents
    ), act AS (
      SELECT doc_id, lang, h, CAST(len(toks) AS BIGINT) AS n_tokens,
             CAST(coalesce(list_sum(list_transform(toks,
                     t -> (('0x' || substr(sha256(t), 1, 15))::BIGINT % {_W_MOD}) - 1000)),
                   0) AS BIGINT) AS ms
      FROM base
    ), scored AS (
      SELECT doc_id, lang, h, n_tokens,
             (100 * ((1000 * n_tokens + abs(ms)) + ms)
              >= {2 * PIPE_MIN_SCORE_PCT} * (1000 * n_tokens + abs(ms))) AS q_ok
      FROM act
    ), bi AS (
      SELECT doc_id, toks[CAST(i AS INTEGER)] AS w1, toks[CAST(i AS INTEGER) + 1] AS w2
      FROM base, unnest(generate_series(1, len(toks) - 1)) AS t(i)
      WHERE len(toks) >= 2
    ), lm AS (
      SELECT w1, w2, count(*) AS c12 FROM bi GROUP BY w1, w2
    ), ctx AS (
      SELECT w1, CAST(sum(c12) AS BIGINT) AS c1 FROM lm GROUP BY w1
    ), lmj AS (
      SELECT lm.w1, lm.w2,
             CAST(ctx.c1 AS DOUBLE) AS c1d, CAST(lm.c12 AS DOUBLE) AS c12d
      FROM lm JOIN ctx USING (w1)
    ), {{DET_LN}}, ce AS (
      SELECT b.doc_id,
             round(CAST(sum(s.nll_q) AS DOUBLE) / 1000000.0 / count(*), 6) AS ce
      FROM bi b JOIN nll_q_rel s USING (w1, w2)
      GROUP BY b.doc_id
    ), flagged AS (
      SELECT s.doc_id, s.lang, s.h, s.n_tokens,
             s.q_ok AS keep_q,
             (s.q_ok AND ce.ce IS NOT NULL
              AND ce.ce BETWEEN {PIPE_CE_LO} AND {PIPE_CE_HI}) AS keep_ppl
      FROM scored s LEFT JOIN ce ON s.doc_id = ce.doc_id
    ), winners AS (
      SELECT *,
             (keep_ppl AND doc_id = min(CASE WHEN keep_ppl THEN doc_id END)
                                    OVER (PARTITION BY h)) AS keep_final
      FROM flagged
    )
    SELECT lang,
           CAST(count(*) AS BIGINT)                       AS docs_in,
           CAST(count(CASE WHEN keep_q THEN 1 END) AS BIGINT)     AS docs_quality,
           CAST(count(CASE WHEN keep_ppl THEN 1 END) AS BIGINT)   AS docs_ppl,
           CAST(count(CASE WHEN keep_final THEN 1 END) AS BIGINT) AS docs_final,
           CAST(coalesce(sum(CASE WHEN keep_final THEN n_tokens END), 0) AS BIGINT)
             AS tokens_final
    FROM winners GROUP BY lang
    """.replace(
        "{DET_LN}", sql_det_ln_steps("lmj", "c1d / c12d", "nll_q", 6)
    )


@register("pipeline_corpus_prep_full", oracle=_prep_full_oracle())
def pipeline_corpus_prep_full(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The round-2 flagship composition, as ONE declarative plan:
    hashed-classifier quality floor -> bigram-LM cross-entropy band
    (CCNet-style) -> exact dedup (min-doc winner per normalized hash)
    -> per-language survival + token accounting.

    Why one plan matters: Catalyst pushes the classifier floor (a
    zero-shuffle projection) below everything, the LM broadcast-joins
    doc bigrams once, the dedup winner is a single hash-partitioned
    window (no self-join), and the accounting reuses the same
    partitioning. At 100 TB this runs as: one corpus scan + one
    vocab-bounded LM build + one hash shuffle — no materialized
    intermediates between "stages".
    """
    from pyspark.sql import Window

    t = Tables(spark, sf_dir)
    w_fn = lambda tok: (  # noqa: E731
        F.conv(F.substring(F.sha2(tok, 256), 1, 15), 16, 10).cast("long") % _W_MOD - 1000
    )
    milli = F.aggregate(
        F.transform(F.col("toks"), w_fn), F.lit(0).cast("long"), lambda a, x: a + x
    )
    # staged projections: the sha2-per-token milli-sum materializes once
    # before the quality floor references it three times (see
    # ml_scores._scored_labeled_build for the measured 4.5x cost of inlining it)
    # softsign floor as an exact integer test: (D+m)/(2D) >= 47/100
    # <=> 100*(D+m) >= 94*D with D = 1000 n + |m|
    d_col = F.lit(1000) * F.col("n_tokens") + F.abs(F.col("ms"))
    q_ok = F.lit(100) * (d_col + F.col("ms")) >= F.lit(2 * PIPE_MIN_SCORE_PCT) * d_col
    base = (
        t.documents.select(
            "doc_id",
            "lang",
            whitespace_tokens(F.col("text")).alias("toks"),
            sha256_hex(normalized_text(F.col("text"))).alias("h"),
        )
        .select(
            "doc_id",
            "lang",
            "toks",
            "h",
            F.size("toks").cast("long").alias("n_tokens"),
            milli.alias("ms"),
        )
        .select("doc_id", "lang", "toks", "h", "n_tokens", q_ok.alias("q_ok"))
    )
    bi = (
        base.where(F.size("toks") >= 2)
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
        .select("doc_id", "b.w1", "b.w2")
    )
    from ..functions.detmath import det_ln_q

    lm = bi.groupBy("w1", "w2").agg(F.count(F.lit(1)).alias("c12"))
    ctx = lm.groupBy("w1").agg(F.sum("c12").alias("c1"))
    # det_ln_q, not F.log: cross-engine identical micro-nats, scored on
    # the vocab^2-bounded LM rows before the fact-side join fans them
    # out (the higher-order fold is interpreted; see text_lm_cross_entropy)
    scored_lm = lm.join(ctx, ["w1"]).select(
        "w1",
        "w2",
        det_ln_q(F.col("c1").cast("double") / F.col("c12").cast("double"), 6).alias(
            "nll_q"
        ),
    )
    ce = (
        bi.join(F.broadcast(scored_lm), ["w1", "w2"])
        .groupBy("doc_id")
        .agg(
            F.round(
                F.sum("nll_q").cast("double") / F.lit(1e6) / F.count(F.lit(1)), 6
            ).alias("ce")
        )
    )
    keep_q = F.col("q_ok")
    keep_ppl = (
        keep_q
        & F.col("ce").isNotNull()
        & F.col("ce").between(PIPE_CE_LO, PIPE_CE_HI)
    )
    flagged = (
        base.drop("toks")
        .join(ce, "doc_id", "left")
        .select(
            "doc_id", "lang", "h", "n_tokens",
            keep_q.alias("keep_q"), keep_ppl.alias("keep_ppl"),
        )
    )
    min_surv = F.min(F.when(F.col("keep_ppl"), F.col("doc_id"))).over(
        Window.partitionBy("h")
    )
    winners = flagged.withColumn(
        "keep_final", F.col("keep_ppl") & (F.col("doc_id") == min_surv)
    )
    cnt_if = lambda c: F.count(F.when(c, F.lit(1)))  # noqa: E731
    return winners.groupBy("lang").agg(
        F.count(F.lit(1)).alias("docs_in"),
        cnt_if(F.col("keep_q")).alias("docs_quality"),
        cnt_if(F.col("keep_ppl")).alias("docs_ppl"),
        cnt_if(F.col("keep_final")).alias("docs_final"),
        F.coalesce(
            F.sum(F.when(F.col("keep_final"), F.col("n_tokens"))), F.lit(0)
        ).cast("long").alias("tokens_final"),
    )


@register(
    "corpus_filter_ablation",
    oracle=f"""
    WITH scored AS (
      SELECT doc_id,
             sha256(trim(regexp_replace(lower(text), '\\s+', ' ', 'g'))) AS content_hash,
             len(string_split(trim(regexp_replace(lower(text), '\\s+', ' ', 'g')), ' '))
               AS n_words,
             len(list_filter(string_split(trim(regexp_replace(lower(text), '\\s+', ' ', 'g')), ' '),
                             w -> w IN ({', '.join(f"'{w}'" for w in STOPWORDS)}))) AS n_stop
      FROM documents
    ), flagged AS (
      SELECT n_words,
             CASE WHEN n_words >= {MIN_WORDS} THEN 1 ELSE 0 END AS len_ok,
             CASE WHEN n_stop * 1.0 / n_words <= {MAX_STOP_RATIO} THEN 1 ELSE 0 END AS stop_ok,
             CASE WHEN doc_id = min(doc_id) OVER (PARTITION BY content_hash)
                  THEN 1 ELSE 0 END AS uniq_ok
      FROM scored
    )
    SELECT len_ok, stop_ok, uniq_ok,
           CAST(count(*) AS BIGINT) AS n_docs,
           CAST(sum(n_words) AS BIGINT) AS n_tokens
    FROM flagged GROUP BY len_ok, stop_ok, uniq_ok
    """,
)
def corpus_filter_ablation(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Filter-ablation crosstab: every combination of the three
    INDEPENDENT corpus gates (length, stopword ratio, exact-dup winner)
    with doc/token counts — answers "what does each filter uniquely
    remove, and what do they agree on", which the sequential
    ``pipeline_survival_funnel`` by construction cannot (it only shows
    cumulative survival in one fixed order).

    Unlike the funnel's conditional winner, ``uniq_ok`` here is the
    unconditional min-doc_id-per-hash so the three gates are orthogonal
    and every marginal is derivable from the 8 cells. One scan, one
    dedup-window shuffle on content_hash, then an 8-key reduce —
    ablation reporting at 100 TB costs the same as the dedup pass
    itself.
    """
    from pyspark.sql import Window

    t = Tables(spark, sf_dir)
    words = whitespace_tokens(F.col("text"))
    scored = t.documents.select(
        "doc_id",
        sha256_hex(normalized_text(F.col("text"))).alias("content_hash"),
        F.size(words).alias("n_words"),
        F.size(F.filter(words, lambda w: w.isin(*STOPWORDS))).alias("n_stop"),
    )
    win = Window.partitionBy("content_hash")
    flagged = scored.select(
        "n_words",
        F.when(F.col("n_words") >= MIN_WORDS, 1).otherwise(0).alias("len_ok"),
        F.when(F.col("n_stop") / F.col("n_words") <= MAX_STOP_RATIO, 1)
        .otherwise(0)
        .alias("stop_ok"),
        F.when(F.col("doc_id") == F.min("doc_id").over(win), 1)
        .otherwise(0)
        .alias("uniq_ok"),
    )
    return flagged.groupBy("len_ok", "stop_ok", "uniq_ok").agg(
        F.count(F.lit(1)).cast("long").alias("n_docs"),
        F.sum("n_words").cast("long").alias("n_tokens"),
    )
