"""Round-6 operator batch, part 2.

Continues the round-6 surface after ``roundsix.py``: market-structure
and dispersion statistics, data-quality profiling, lexical-diversity
text analysis, and model-quality metrics over the shared classifier
scan — every operator oracle-paired and built on the exactness
toolkit (``functions/exact.py`` integer half-up ratios,
``functions/detmath.py`` deterministic ln where the semantics are
logarithmic).

Reference parity note: the reference (an ingestion pipeline,
`/root/reference/main.go`) has no analytics surface — these operators
extend the driver-mandated engine families (SURVEY.md §2.C: warehouse
statistics, DQ, text analysis, model metrics) with the standard
published formulations (HHI: Herfindahl 1950; Cramér's V: Cramér 1946;
burstiness B=(σ−μ)/(σ+μ): Goh & Barabási 2008).

``stats_hhi_supplier_concentration``, ``stats_js_divergence_priority``,
``stats_km_log_survival`` and ``stats_overdispersion_vmr`` live in
``operators/stats_dist.py``; ``stats_cramers_v_priority_status`` and
``stats_odds_ratio_woolf`` live in ``operators/stats_tables.py`` with
the other stats queries.

``events_interarrival_burstiness`` lives in
``operators/events_series.py`` with the other events queries.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql.window import Window

from ..functions.exact import dec38
from ..registry import register
from ..tables import Tables


# ---------------------------------------------------------------------------
# 4. Column completeness / distinctness profile (long format)
# ---------------------------------------------------------------------------

_PROFILE_COLS = ("lang", "source", "text")


def _completeness_oracle() -> str:
    parts = [
        f"""
        SELECT '{c}' AS column_name,
               CAST(count(*) AS BIGINT) AS n_rows,
               CAST(sum(CASE WHEN {c} IS NULL THEN 1 ELSE 0 END) AS BIGINT)
                 AS n_null,
               CAST(sum(CASE WHEN {c} IS NOT NULL AND trim({c}) = ''
                             THEN 1 ELSE 0 END) AS BIGINT) AS n_blank,
               CAST(count(DISTINCT {c}) AS BIGINT) AS n_distinct
        FROM documents
        """
        for c in _PROFILE_COLS
    ]
    return " UNION ALL ".join(parts) + " ORDER BY column_name"


@register("dq_completeness_profile", oracle=_completeness_oracle())
def dq_completeness_profile(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Long-format completeness/distinctness profile of the documents
    string columns — per column: row count, nulls, blank-after-trim,
    distinct values. The table-level profiling sweep a DQ suite runs
    before rule authoring (``dq_column_profile`` is the wide
    numeric-stats twin; this is the string-hygiene census).

    Scale: ONE aggregate pass — the per-column sums and the three
    count(DISTINCT) resolve through a single Expand-based
    multi-distinct aggregate (3x row amplification map-side, keyed
    shuffle), not three table scans; the unpivot to long format happens
    on the 1-row aggregate output via stack().
    """
    t = Tables(spark, sf_dir)
    aggs = []
    for c in _PROFILE_COLS:
        aggs += [
            F.count(F.lit(1)).alias(f"{c}__rows"),
            F.sum(F.when(F.col(c).isNull(), 1).otherwise(0)).alias(
                f"{c}__null"
            ),
            F.sum(
                F.when(
                    F.col(c).isNotNull() & (F.trim(F.col(c)) == ""), 1
                ).otherwise(0)
            ).alias(f"{c}__blank"),
            F.countDistinct(F.col(c)).alias(f"{c}__distinct"),
        ]
    wide = t.documents.agg(*aggs)
    stack_args = ", ".join(
        f"'{c}', {c}__rows, {c}__null, {c}__blank, {c}__distinct"
        for c in _PROFILE_COLS
    )
    return wide.select(
        F.expr(
            f"stack({len(_PROFILE_COLS)}, {stack_args}) AS "
            "(column_name, n_rows, n_null, n_blank, n_distinct)"
        )
    ).orderBy("column_name")


# ---------------------------------------------------------------------------
# 5. Type-token ratio and hapax share by language
# ---------------------------------------------------------------------------


def _ttr_oracle() -> str:
    from .corpus import _SQL_TOKENS

    return f"""
    WITH toks AS (
      SELECT lang, unnest({_SQL_TOKENS}) AS token FROM documents
    ), freq AS (
      SELECT lang, token, CAST(count(*) AS BIGINT) AS f
      FROM toks WHERE token <> '' GROUP BY 1, 2
    )
    SELECT lang,
           CAST(sum(f) AS BIGINT) AS n_tokens,
           CAST(count(*) AS BIGINT) AS n_types,
           CAST(sum(CASE WHEN f = 1 THEN 1 ELSE 0 END) AS BIGINT) AS n_hapax,
           ((2000000::BIGINT * count(*) + sum(f)) // (2 * sum(f)))
             / 1000000.0 AS ttr,
           ((2000000::BIGINT * sum(CASE WHEN f = 1 THEN 1 ELSE 0 END)
             + count(*)) // (2 * count(*))) / 1000000.0 AS hapax_share
    FROM freq GROUP BY lang
    ORDER BY lang
    """


@register("text_ttr_hapax_by_lang", oracle=_ttr_oracle())
def text_ttr_hapax_by_lang(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Lexical diversity per language: type-token ratio and hapax
    legomenon share — the vocabulary-richness gates a corpus QA pass
    runs next to the Zipf fit (low TTR = boilerplate/templated text;
    high hapax share = OCR noise or tokenizer damage).

    Exactness: pure integer count ratios, half-up at 1e-6
    (round_int_ratio domain — type/token counts stay well under the
    int64 ratio ceiling at any SF since they are per-language counts
    of DISTINCT tokens).

    Scale: the (lang, token) groupBy partial-aggregates the token
    stream map-side; the reduce keys on the bounded vocabulary, and
    the final rollup is |langs| rows. No text leaves the token
    hashing stage — shuffles carry (lang, token, count).
    """
    from ..functions.exact import round_int_ratio
    from ..functions.textnorm import whitespace_tokens

    t = Tables(spark, sf_dir)
    toks = t.documents.select(
        "lang",
        F.explode(whitespace_tokens(F.col("text"))).alias("token"),
    ).where(F.col("token") != "")
    freq = toks.groupBy("lang", "token").agg(F.count(F.lit(1)).alias("f"))
    agg = freq.groupBy("lang").agg(
        F.sum("f").alias("n_tokens"),
        F.count(F.lit(1)).alias("n_types"),
        F.sum(F.when(F.col("f") == 1, 1).otherwise(0)).alias("n_hapax"),
    )
    return agg.select(
        "lang",
        "n_tokens",
        "n_types",
        "n_hapax",
        round_int_ratio(F.col("n_types"), F.col("n_tokens")).alias("ttr"),
        round_int_ratio(F.col("n_hapax"), F.col("n_types")).alias(
            "hapax_share"
        ),
    ).orderBy("lang")


# ---------------------------------------------------------------------------
# 7-11. Model-quality metrics over the shared classifier scan
# ---------------------------------------------------------------------------
#
# All five reuse ml._scored_labeled — ONE document scan produces the
# 1e-4-quantized classifier score and the rule-gate label; everything
# downstream is integer sufficient statistics per language.


def _brier_oracle() -> str:
    from ..functions.exact import sql_round_big_int_ratio

    from .ml import _scored_labeled_sql

    return (
        _scored_labeled_sql()
        + f"""
    SELECT lang,
           CAST(count(*) AS BIGINT) AS n_docs,
           {sql_round_big_int_ratio(
               'sum((score_q - 10000 * label)::HUGEINT '
               '* (score_q - 10000 * label))',
               '100000000::HUGEINT * count(*)')} AS brier
    FROM scored GROUP BY lang ORDER BY lang
    """
    )


@register("ml_brier_score_by_lang", oracle=_brier_oracle())
def ml_brier_score_by_lang(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Brier score of the hashed-feature quality classifier per
    language — mean squared error of the predicted probability against
    the rule-gate outcome, the strictly-proper scoring rule that
    penalizes BOTH miscalibration and poor discrimination (AUC ranks,
    calibration bins, Brier scores; together they triangulate the
    model).

    Exactness: with score_q in [0,10000], each residual
    (score_q - 10000*label)^2 is an exact int64; the sum runs in
    decimal(38,0) (1e8 per row at corpus scale passes int64) and one
    half-up decimal ratio by 1e8*n closes it.

    Scale: the linear-in-docs classifier scan (shared, measured in
    SCALE.md) then a |langs|-row integer reduce.
    """
    from ..functions.exact import round_big_int_ratio
    from .ml import _scored_labeled

    t = Tables(spark, sf_dir)
    s = _scored_labeled(t)
    r = F.col("score_q") - F.lit(10000) * F.col("label")
    agg = s.groupBy("lang").agg(
        F.count(F.lit(1)).alias("n_docs"),
        F.sum(dec38(r) * dec38(r)).alias("sse_q"),
    )
    return agg.select(
        "lang",
        "n_docs",
        round_big_int_ratio(
            F.col("sse_q"),
            F.lit(100_000_000).cast("decimal(38,0)") * dec38(F.col("n_docs")),
        ).alias("brier"),
    ).orderBy("lang")


MCC_THRESHOLD = 5000  # softsign midpoint: predicted-positive iff score >= 0.5


def _confusion_sql() -> str:
    th = MCC_THRESHOLD
    return f"""
    conf AS (
      SELECT lang,
             CAST(count(*) AS BIGINT) AS n,
             CAST(sum(CASE WHEN score_q >= {th} AND label = 1
                           THEN 1 ELSE 0 END) AS BIGINT) AS tp,
             CAST(sum(CASE WHEN score_q >= {th} AND label = 0
                           THEN 1 ELSE 0 END) AS BIGINT) AS fp,
             CAST(sum(CASE WHEN score_q < {th} AND label = 0
                           THEN 1 ELSE 0 END) AS BIGINT) AS tn,
             CAST(sum(CASE WHEN score_q < {th} AND label = 1
                           THEN 1 ELSE 0 END) AS BIGINT) AS fn
      FROM scored GROUP BY lang
    )
    """


def _confusion_df(t: Tables) -> DataFrame:
    from .ml import _scored_labeled

    s = _scored_labeled(t)
    pred = F.col("score_q") >= MCC_THRESHOLD
    pos = F.col("label") == 1
    return s.groupBy("lang").agg(
        F.count(F.lit(1)).alias("n"),
        F.sum(F.when(pred & pos, 1).otherwise(0)).alias("tp"),
        F.sum(F.when(pred & ~pos, 1).otherwise(0)).alias("fp"),
        F.sum(F.when(~pred & ~pos, 1).otherwise(0)).alias("tn"),
        F.sum(F.when(~pred & pos, 1).otherwise(0)).alias("fn"),
    )


def _mcc_oracle() -> str:
    from .ml import _scored_labeled_sql

    return (
        _scored_labeled_sql()
        + ", "
        + _confusion_sql()
        + """
    SELECT lang, tp, fp, tn, fn,
           CASE WHEN (tp+fp) = 0 OR (tp+fn) = 0 OR (tn+fp) = 0 OR (tn+fn) = 0
                THEN 0.0
                ELSE CAST(floor(
                  CAST(tp::HUGEINT * tn - fp::HUGEINT * fn AS DOUBLE)
                  / sqrt(CAST((tp+fp)::HUGEINT * (tp+fn) * (tn+fp) * (tn+fn)
                              AS DOUBLE))
                  * 1000000.0 + 0.5) AS BIGINT) / 1000000.0
           END AS mcc
    FROM conf ORDER BY lang
    """
    )


@register("ml_mcc_threshold", oracle=_mcc_oracle())
def ml_mcc_threshold(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Matthews correlation coefficient of the classifier at the
    softsign midpoint threshold, per language — the single-number
    confusion summary that stays honest under class imbalance
    (accuracy and F1 both inflate when one class dominates; MCC is the
    full fourfold-point correlation).

    Exactness: the four confusion cells are exact integers; the MCC
    numerator tp*tn - fp*fn stays in decimal/HUGEINT, and the one
    sqrt + divide run on bit-identical doubles (decimal→double casts
    are correctly rounded on both engines) before 1e-6 quantization.
    Degenerate margins (a zero row/column) define MCC = 0 on both
    sides.

    Scale: shared classifier scan + |langs|-row reduce.
    """
    t = Tables(spark, sf_dir)
    c = _confusion_df(t)
    tp, fp, tn, fn = (F.col(x) for x in ("tp", "fp", "tn", "fn"))
    degenerate = (
        ((tp + fp) == 0) | ((tp + fn) == 0) | ((tn + fp) == 0) | ((tn + fn) == 0)
    )
    num = (dec38(tp) * dec38(tn) - dec38(fp) * dec38(fn)).cast("double")
    den = F.sqrt(
        (dec38(tp + fp) * dec38(tp + fn) * dec38(tn + fp) * dec38(tn + fn)).cast(
            "double"
        )
    )
    mcc = F.when(degenerate, F.lit(0.0)).otherwise(
        F.floor(num / den * F.lit(1_000_000.0) + F.lit(0.5)).cast("long")
        / F.lit(1_000_000.0)
    )
    return c.select("lang", "tp", "fp", "tn", "fn", mcc.alias("mcc")).orderBy(
        "lang"
    )


def _kappa_oracle() -> str:
    from .ml import _scored_labeled_sql

    return (
        _scored_labeled_sql()
        + ", "
        + _confusion_sql()
        + """
    SELECT lang, CAST(n AS BIGINT) AS n_docs,
           CAST(tp + tn AS BIGINT) AS n_agree,
           CASE WHEN n::HUGEINT * n
                     = (tp+fp)::HUGEINT * (tp+fn) + (fn+tn)::HUGEINT * (fp+tn)
                THEN 0.0
                ELSE CAST(CASE WHEN
                    (n::HUGEINT * (tp+tn)
                     - ((tp+fp)::HUGEINT * (tp+fn) + (fn+tn)::HUGEINT * (fp+tn))) < 0
                  THEN -((2000000::HUGEINT * abs(n::HUGEINT * (tp+tn)
                           - ((tp+fp)::HUGEINT * (tp+fn) + (fn+tn)::HUGEINT * (fp+tn)))
                          + (n::HUGEINT * n
                             - ((tp+fp)::HUGEINT * (tp+fn) + (fn+tn)::HUGEINT * (fp+tn))))
                         // (2::HUGEINT * (n::HUGEINT * n
                             - ((tp+fp)::HUGEINT * (tp+fn) + (fn+tn)::HUGEINT * (fp+tn)))))
                  ELSE ((2000000::HUGEINT * (n::HUGEINT * (tp+tn)
                           - ((tp+fp)::HUGEINT * (tp+fn) + (fn+tn)::HUGEINT * (fp+tn)))
                          + (n::HUGEINT * n
                             - ((tp+fp)::HUGEINT * (tp+fn) + (fn+tn)::HUGEINT * (fp+tn))))
                         // (2::HUGEINT * (n::HUGEINT * n
                             - ((tp+fp)::HUGEINT * (tp+fn) + (fn+tn)::HUGEINT * (fp+tn)))))
                  END AS BIGINT) / 1000000.0
           END AS kappa
    FROM conf ORDER BY lang
    """
    )


@register("ml_cohens_kappa_gates", oracle=_kappa_oracle())
def ml_cohens_kappa_gates(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Cohen's kappa agreement between the learned classifier (at the
    softsign midpoint) and the rule-based quality gate, per language —
    chance-corrected agreement between two annotators, the standard
    check before swapping a rule gate for a model gate in a corpus
    pipeline (raw agreement inflates when both raters mostly say
    "keep").

    Exactness: kappa = (N*agree - sum(r_i*c_i)) / (N^2 - sum(r_i*c_i))
    is a pure integer ratio of confusion-margin products — one
    decimal-domain half-up quantization, zero floats until the final
    scale-down. The chance-only denominator-zero case defines
    kappa = 0 on both engines.

    Scale: shared classifier scan + |langs|-row reduce.
    """
    from ..functions.exact import round_big_int_ratio

    t = Tables(spark, sf_dir)
    c = _confusion_df(t)
    tp, fp, tn, fn, n = (F.col(x) for x in ("tp", "fp", "tn", "fn", "n"))
    pe = dec38(tp + fp) * dec38(tp + fn) + dec38(fn + tn) * dec38(fp + tn)
    num = dec38(n) * dec38(tp + tn) - pe
    den = dec38(n) * dec38(n) - pe
    kappa = F.when(den == F.lit(0).cast("decimal(38,0)"), F.lit(0.0)).otherwise(
        round_big_int_ratio(num, den)
    )
    return c.select(
        "lang",
        n.alias("n_docs"),
        (tp + tn).alias("n_agree"),
        kappa.alias("kappa"),
    ).orderBy("lang")


def _lift_oracle() -> str:
    from ..functions.exact import sql_round_big_int_ratio
    from .ml import _scored_labeled_sql

    return (
        _scored_labeled_sql()
        + f"""
    , deciled AS (
      SELECT lang, label,
             ntile(10) OVER (PARTITION BY lang
                             ORDER BY score_q DESC, doc_id) AS decile
      FROM scored
    ), per AS (
      SELECT lang, CAST(decile AS BIGINT) AS decile,
             CAST(count(*) AS BIGINT) AS n_docs,
             CAST(sum(label) AS BIGINT) AS n_pos
      FROM deciled GROUP BY 1, 2
    ), tot AS (
      SELECT lang, CAST(sum(n_docs) AS BIGINT) AS n_all,
             CAST(sum(n_pos) AS BIGINT) AS pos_all
      FROM per GROUP BY lang
    )
    SELECT p.lang, p.decile, p.n_docs, p.n_pos,
           {sql_round_big_int_ratio('p.n_pos', 'p.n_docs')} AS pos_rate,
           CASE WHEN t.pos_all = 0 THEN NULL
                ELSE {sql_round_big_int_ratio(
                    'p.n_pos::HUGEINT * t.n_all',
                    'p.n_docs::HUGEINT * t.pos_all')}
           END AS lift
    FROM per p JOIN tot t ON t.lang = p.lang
    ORDER BY p.lang, p.decile
    """
    )


@register("ml_lift_deciles_by_lang", oracle=_lift_oracle())
def ml_lift_deciles_by_lang(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Gains/lift table of the quality classifier per language: rank
    documents by score, cut into deciles, and compare each decile's
    positive rate to the language base rate — the campaign-targeting
    view of model skill ("the top 10% of scored docs carry 2.3x the
    base quality rate").

    Determinism: the decile assignment ties on (score_q DESC, doc_id),
    a total order, so ntile(10) distributes identically on both
    engines; lift = pos*N / (n*P) is a pure integer ratio.

    Scale: the ntile window partitions BY LANGUAGE (parallel across
    the corpus's natural shards); per-decile sufficient stats are
    integers, 10 rows per language out.
    """
    from ..functions.exact import round_big_int_ratio

    t = Tables(spark, sf_dir)
    from .ml import _scored_labeled

    s = _scored_labeled(t)
    w = Window.partitionBy("lang").orderBy(
        F.col("score_q").desc(), F.col("doc_id")
    )
    per = (
        s.select("lang", "label", F.ntile(10).over(w).alias("decile"))
        .groupBy("lang", F.col("decile").cast("long").alias("decile"))
        .agg(
            F.count(F.lit(1)).alias("n_docs"),
            F.sum("label").alias("n_pos"),
        )
    )
    tot = per.groupBy("lang").agg(
        F.sum("n_docs").alias("n_all"), F.sum("n_pos").alias("pos_all")
    )
    j = per.join(tot, "lang")
    lift = F.when(F.col("pos_all") == 0, F.lit(None).cast("double")).otherwise(
        round_big_int_ratio(
            dec38(F.col("n_pos")) * dec38(F.col("n_all")),
            dec38(F.col("n_docs")) * dec38(F.col("pos_all")),
        )
    )
    return j.select(
        "lang",
        "decile",
        "n_docs",
        "n_pos",
        round_big_int_ratio(dec38(F.col("n_pos")), dec38(F.col("n_docs"))).alias(
            "pos_rate"
        ),
        lift.alias("lift"),
    ).orderBy("lang", "decile")


def _ks_sep_oracle() -> str:
    from .ml import _scored_labeled_sql

    return (
        _scored_labeled_sql()
        + """
    , g AS (
      SELECT lang, score_q,
             CAST(sum(label) AS BIGINT) AS cp,
             CAST(sum(1 - label) AS BIGINT) AS cn
      FROM scored GROUP BY 1, 2
    ), c AS (
      SELECT lang, score_q,
             sum(cp) OVER (PARTITION BY lang ORDER BY score_q) AS cum_p,
             sum(cn) OVER (PARTITION BY lang ORDER BY score_q) AS cum_n
      FROM g
    ), tot AS (
      SELECT lang, CAST(max(cum_p) AS BIGINT) AS n_pos,
             CAST(max(cum_n) AS BIGINT) AS n_neg
      FROM c GROUP BY lang
    ), d AS (
      SELECT c.lang, t.n_pos, t.n_neg,
             max(abs(CAST(cum_p AS HUGEINT) * t.n_neg
                     - CAST(cum_n AS HUGEINT) * t.n_pos)) AS d_num
      FROM c JOIN tot t USING (lang)
      GROUP BY c.lang, t.n_pos, t.n_neg
    )
    SELECT lang, n_pos, n_neg,
           CASE WHEN n_pos = 0 OR n_neg = 0 THEN NULL
                ELSE CAST(((2000000::HUGEINT * d_num
                            + (n_pos::HUGEINT * n_neg))
                           // (2::HUGEINT * n_pos * n_neg)) AS BIGINT)
                     / 1000000.0
           END AS ks_stat
    FROM d ORDER BY lang
    """
    )


@register("ml_score_ks_separation", oracle=_ks_sep_oracle())
def ml_score_ks_separation(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Kolmogorov-Smirnov separation of the classifier score
    distributions between gate-positive and gate-negative documents,
    per language — the credit-scoring "KS statistic" that reads the
    best single-threshold separation straight off the two CDFs
    (KS = max TPR-FPR gap; AUC integrates it, KS locates it).

    Exactness: same integer machinery as ``stats_ks_two_sample`` on
    the bounded score_q domain — CDF differences cross-multiplied to
    |cum_p * n_neg - cum_n * n_pos| int128, one half-up ratio. A
    single-class language yields NULL on both engines.

    Scale: the per-(lang, score_q) histogram collapses the corpus to
    at most 10001 rows per language before the window; the ordered
    pass never sees raw documents.
    """
    from ..functions.exact import round_big_int_ratio
    from .ml import _scored_labeled

    t = Tables(spark, sf_dir)
    s = _scored_labeled(t)
    g = s.groupBy("lang", "score_q").agg(
        F.sum("label").alias("cp"),
        F.sum(F.lit(1) - F.col("label")).alias("cn"),
    )
    w = Window.partitionBy("lang").orderBy("score_q")
    c = g.select(
        "lang",
        F.sum("cp").over(w).alias("cum_p"),
        F.sum("cn").over(w).alias("cum_n"),
    )
    tot = c.groupBy("lang").agg(
        F.max("cum_p").alias("n_pos"), F.max("cum_n").alias("n_neg")
    )
    d = (
        c.join(tot, "lang")
        .groupBy("lang", "n_pos", "n_neg")
        .agg(
            F.max(
                F.abs(
                    dec38(F.col("cum_p")) * dec38(F.col("n_neg"))
                    - dec38(F.col("cum_n")) * dec38(F.col("n_pos"))
                )
            ).alias("d_num")
        )
    )
    ks = F.when(
        (F.col("n_pos") == 0) | (F.col("n_neg") == 0),
        F.lit(None).cast("double"),
    ).otherwise(
        round_big_int_ratio(
            F.col("d_num"), dec38(F.col("n_pos")) * dec38(F.col("n_neg"))
        )
    )
    return d.select("lang", "n_pos", "n_neg", ks.alias("ks_stat")).orderBy(
        "lang"
    )


# ---------------------------------------------------------------------------
# 15. Split-quality metrics (weighted Gini, information gain)
# ---------------------------------------------------------------------------

SPLIT_THRESHOLDS = (10, 20, 40, 80, 160)  # candidate n_tokens cuts


def _split_quality_oracle() -> str:
    from ..functions.detmath import sql_det_ln_steps
    from .corpus import _SQL_TOKENS
    from .text import STOPWORDS

    stop_in = ", ".join(f"'{w}'" for w in STOPWORDS)
    th_values = ", ".join(f"({th})" for th in SPLIT_THRESHOLDS)
    return f"""
    WITH docs AS (
      SELECT len({_SQL_TOKENS}) AS n_tok,
             CASE WHEN len({_SQL_TOKENS}) >= 20
                   AND 5 * len(list_filter({_SQL_TOKENS},
                                           w -> w IN ({stop_in})))
                       <= 3 * len({_SQL_TOKENS})
                  THEN 1 ELSE 0 END AS label
      FROM documents
    ), th(threshold) AS (VALUES {th_values}),
    conf AS (
      SELECT th.threshold,
             CAST(sum(CASE WHEN n_tok <= th.threshold AND label = 1
                           THEN 1 ELSE 0 END) AS BIGINT) AS l1,
             CAST(sum(CASE WHEN n_tok <= th.threshold AND label = 0
                           THEN 1 ELSE 0 END) AS BIGINT) AS l0,
             CAST(sum(CASE WHEN n_tok > th.threshold AND label = 1
                           THEN 1 ELSE 0 END) AS BIGINT) AS r1,
             CAST(sum(CASE WHEN n_tok > th.threshold AND label = 0
                           THEN 1 ELSE 0 END) AS BIGINT) AS r0
      FROM docs CROSS JOIN th GROUP BY 1
    ), sides AS (
      SELECT threshold, 'L' AS side, l1 AS n1, l0 AS n0 FROM conf
      UNION ALL
      SELECT threshold, 'R', r1, r0 FROM conf
      UNION ALL
      SELECT threshold, 'P', l1 + r1, l0 + r0 FROM conf
    ), sn AS (
      SELECT *, n1 + n0 AS n FROM sides
    ), pr AS (
      SELECT *,
             CAST(n1 AS DOUBLE) / CAST(n AS DOUBLE) AS p1,
             CAST(n0 AS DOUBLE) / CAST(n AS DOUBLE) AS p0
      FROM sn WHERE n > 0
    ), {sql_det_ln_steps('pr', 'p1', 'ln1', as_double=True)},
    {sql_det_ln_steps('ln1_rel', 'p0', 'ln0', as_double=True)},
    ent AS (
      SELECT threshold, side, n,
             CAST(floor(-(CASE WHEN n1 > 0 THEN p1 * ln1 ELSE 0.0 END
                          + CASE WHEN n0 > 0 THEN p0 * ln0 ELSE 0.0 END)
                        * 1000000000.0 + 0.5) AS BIGINT) AS h_q
      FROM ln0_rel
    ), wide AS (
      SELECT c.threshold, c.l1, c.l0, c.r1, c.r0,
             c.l1 + c.l0 AS n_l, c.r1 + c.r0 AS n_r,
             c.l1 + c.l0 + c.r1 + c.r0 AS big_n,
             coalesce(max(CASE WHEN e.side = 'L' THEN e.h_q END), 0) AS h_l,
             coalesce(max(CASE WHEN e.side = 'R' THEN e.h_q END), 0) AS h_r,
             max(CASE WHEN e.side = 'P' THEN e.h_q END) AS h_p
      FROM conf c JOIN ent e ON e.threshold = c.threshold
      GROUP BY 1, 2, 3, 4, 5
    )
    SELECT CAST(threshold AS BIGINT) AS threshold,
           CAST(n_l AS BIGINT) AS n_left, CAST(n_r AS BIGINT) AS n_right,
           CASE WHEN n_l = 0 OR n_r = 0 THEN
             CAST(((2000000::HUGEINT
                    * (big_n::HUGEINT * big_n
                       - ((l1+r1)::HUGEINT * (l1+r1) + (l0+r0)::HUGEINT * (l0+r0)))
                    + big_n::HUGEINT * big_n)
                   // (2::HUGEINT * big_n * big_n)) AS BIGINT) / 1000000.0
           ELSE
             CAST(((2000000::HUGEINT
                    * (n_r::HUGEINT * (n_l::HUGEINT * n_l
                                       - (l1::HUGEINT * l1 + l0::HUGEINT * l0))
                       + n_l::HUGEINT * (n_r::HUGEINT * n_r
                                       - (r1::HUGEINT * r1 + r0::HUGEINT * r0)))
                    + big_n::HUGEINT * n_l * n_r)
                   // (2::HUGEINT * big_n * n_l * n_r)) AS BIGINT) / 1000000.0
           END AS weighted_gini,
           (h_p - CAST(((2::HUGEINT
                         * (n_l::HUGEINT * h_l + n_r::HUGEINT * h_r)
                         + big_n) // (2::HUGEINT * big_n)) AS BIGINT))
             / 1000000000.0 AS info_gain_nats
    FROM wide
    ORDER BY threshold
    """


@register("ml_split_quality_metrics", oracle=_split_quality_oracle())
def ml_split_quality_metrics(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Decision-tree split-quality scan: for each candidate token-count
    threshold, the weighted Gini impurity and the information gain of
    splitting the corpus against the rule-gate label — the metric pair
    behind ``ml_decision_stump``'s argmax, exposed as a full profile
    (the stump picks ONE split; this reports the whole candidate
    ladder so the choice is auditable).

    Exactness: the per-threshold confusion counts are one conditional
    aggregate; weighted Gini reduces to a single integer ratio
    [n_r(n_l^2 - s_l) + n_l(n_r^2 - s_r)] / (N n_l n_r) in
    decimal/HUGEINT; entropies use the deterministic fixed-point ln on
    correctly-rounded class fractions, quantized to 1e-9 per side, and
    the n_l/N-weighted mix is an exact integer half-up ratio. An empty
    side degrades to the parent Gini and zero gain by construction.

    Scale: one document scan (token counts + gate), a 5-row broadcast
    threshold cross, and 15 rows of scalar math. The label derivation
    matches ml._scored_labeled's gate exactly (n >= 20 and stopword
    ratio <= 0.6), so θ=20 dominating the gain column is the expected
    self-consistency check.
    """
    from ..functions.detmath import det_ln_dbl
    from ..functions.exact import round_big_int_ratio
    from ..functions.textnorm import whitespace_tokens
    from .text import STOPWORDS

    t = Tables(spark, sf_dir)
    toks = F.col("toks")
    docs = t.documents.select(
        whitespace_tokens(F.col("text")).alias("toks")
    ).select(
        F.size(toks).cast("long").alias("n_tok"),
        F.size(F.filter(toks, lambda x: x.isin(*STOPWORDS))).alias("n_stop"),
    ).select(
        "n_tok",
        F.when(
            (F.col("n_tok") >= 20) & (5 * F.col("n_stop") <= 3 * F.col("n_tok")),
            1,
        )
        .otherwise(0)
        .alias("label"),
    )
    th = spark.createDataFrame(
        [(int(x),) for x in SPLIT_THRESHOLDS], "threshold long"
    )
    left = F.col("n_tok") <= F.col("threshold")
    pos = F.col("label") == 1
    conf = (
        docs.crossJoin(F.broadcast(th))
        .groupBy("threshold")
        .agg(
            F.sum(F.when(left & pos, 1).otherwise(0)).alias("l1"),
            F.sum(F.when(left & ~pos, 1).otherwise(0)).alias("l0"),
            F.sum(F.when(~left & pos, 1).otherwise(0)).alias("r1"),
            F.sum(F.when(~left & ~pos, 1).otherwise(0)).alias("r0"),
        )
    )
    sides = conf.select(
        "threshold",
        F.explode(
            F.array(
                F.struct(
                    F.lit("L").alias("side"),
                    F.col("l1").alias("n1"),
                    F.col("l0").alias("n0"),
                ),
                F.struct(
                    F.lit("R").alias("side"),
                    F.col("r1").alias("n1"),
                    F.col("r0").alias("n0"),
                ),
                F.struct(
                    F.lit("P").alias("side"),
                    (F.col("l1") + F.col("r1")).alias("n1"),
                    (F.col("l0") + F.col("r0")).alias("n0"),
                ),
            )
        ).alias("s"),
    ).select(
        "threshold",
        F.col("s.side").alias("side"),
        F.col("s.n1").alias("n1"),
        F.col("s.n0").alias("n0"),
        (F.col("s.n1") + F.col("s.n0")).alias("n"),
    ).where(F.col("n") > 0)
    p1 = F.col("n1").cast("double") / F.col("n").cast("double")
    p0 = F.col("n0").cast("double") / F.col("n").cast("double")
    t1 = F.when(F.col("n1") > 0, p1 * det_ln_dbl(p1)).otherwise(F.lit(0.0))
    t0 = F.when(F.col("n0") > 0, p0 * det_ln_dbl(p0)).otherwise(F.lit(0.0))
    ent = sides.select(
        "threshold",
        "side",
        F.floor(-(t1 + t0) * F.lit(1_000_000_000.0) + F.lit(0.5))
        .cast("long")
        .alias("h_q"),
    )
    wide = (
        conf.join(ent, "threshold")
        .groupBy("threshold", "l1", "l0", "r1", "r0")
        .agg(
            F.coalesce(
                F.max(F.when(F.col("side") == "L", F.col("h_q"))), F.lit(0)
            ).alias("h_l"),
            F.coalesce(
                F.max(F.when(F.col("side") == "R", F.col("h_q"))), F.lit(0)
            ).alias("h_r"),
            F.max(F.when(F.col("side") == "P", F.col("h_q"))).alias("h_p"),
        )
    )
    l1, l0, r1, r0 = (F.col(x) for x in ("l1", "l0", "r1", "r0"))
    n_l, n_r = l1 + l0, r1 + r0
    big_n = n_l + n_r
    s_l = dec38(l1) * dec38(l1) + dec38(l0) * dec38(l0)
    s_r = dec38(r1) * dec38(r1) + dec38(r0) * dec38(r0)
    s_p = (dec38(l1 + r1) * dec38(l1 + r1)
           + dec38(l0 + r0) * dec38(l0 + r0))
    gini_split = round_big_int_ratio(
        dec38(n_r) * (dec38(n_l) * dec38(n_l) - s_l)
        + dec38(n_l) * (dec38(n_r) * dec38(n_r) - s_r),
        dec38(big_n) * dec38(n_l) * dec38(n_r),
    )
    gini_parent = round_big_int_ratio(
        dec38(big_n) * dec38(big_n) - s_p, dec38(big_n) * dec38(big_n)
    )
    # n/N-weighted entropy mix, half-up on the exact integer ratio
    wnum = dec38(n_l) * dec38(F.col("h_l")) + dec38(n_r) * dec38(F.col("h_r"))
    a = F.lit(2).cast("decimal(38,0)") * wnum + dec38(big_n)
    b = F.lit(2).cast("decimal(38,0)") * dec38(big_n)
    h_mix_q = ((a - a % b) / b).cast("long")
    return wide.select(
        "threshold",
        n_l.alias("n_left"),
        n_r.alias("n_right"),
        F.when((n_l == 0) | (n_r == 0), gini_parent)
        .otherwise(gini_split)
        .alias("weighted_gini"),
        ((F.col("h_p") - h_mix_q) / F.lit(1_000_000_000.0)).alias(
            "info_gain_nats"
        ),
    ).orderBy("threshold")


# ---------------------------------------------------------------------------
# 18. Incremental decontamination of an incoming batch
# ---------------------------------------------------------------------------


def _incr_decon_oracle() -> str:
    from ..functions.exact import sql_round_int_ratio
    from .corpus import (
        DECON_K,
        TRAIN_CUT,
        VAL_CUT,
        _SQL_ID_HASH,
        _SQL_TOKENS,
    )

    return f"""
    WITH grams AS (
      SELECT doc_id, lang,
             {_SQL_ID_HASH} % 100 AS b,
             len({_SQL_TOKENS}) AS n_tok,
             list_distinct(list_transform(
               range(1, greatest(len(t) - {DECON_K - 1}, 0) + 1),
               i -> ('0x' || substr(sha256(array_to_string(t[i:i+{DECON_K - 1}], ' ')),
                                    1, 15))::BIGINT)) AS gs
      FROM (SELECT doc_id, lang, text, {_SQL_TOKENS} AS t FROM documents)
    ), vg AS (
      SELECT DISTINCT unnest(gs) AS g
      FROM grams WHERE b >= {TRAIN_CUT} AND b < {VAL_CUT}
    ), incoming AS (
      SELECT doc_id, lang, n_tok, gs FROM grams WHERE b >= {VAL_CUT}
    ), contaminated AS (
      SELECT DISTINCT i.doc_id
      FROM (SELECT doc_id, unnest(gs) AS g FROM incoming) i
      JOIN vg ON vg.g = i.g
    ), flagged AS (
      SELECT inc.lang, inc.n_tok,
             CASE WHEN c.doc_id IS NULL THEN 0 ELSE 1 END AS bad
      FROM incoming inc LEFT JOIN contaminated c ON c.doc_id = inc.doc_id
    )
    SELECT lang,
           CAST(count(*) AS BIGINT) AS n_incoming,
           CAST(sum(bad) AS BIGINT) AS n_contaminated,
           CAST(count(*) - sum(bad) AS BIGINT) AS n_admitted,
           {sql_round_int_ratio('sum(bad)', 'count(*)')} AS contamination_rate,
           CAST(sum(CASE WHEN bad = 0 THEN n_tok ELSE 0 END) AS BIGINT)
             AS admitted_tokens
    FROM flagged GROUP BY lang
    ORDER BY lang
    """


@register("corpus_incremental_decontamination", oracle=_incr_decon_oracle())
def corpus_incremental_decontamination(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    """Admission control for an INCOMING crawl batch (the held-back
    hash band, b >= VAL_CUT): screen every new document's n-grams
    against the frozen eval set's gram store and admit only clean
    ones — the steady-state decontamination a production corpus runs
    per ingest cycle, where the eval set is fixed and each new batch
    is checked incrementally (``corpus_decontaminate_ngram_overlap``
    is the one-shot full-corpus audit; this is its per-batch sibling,
    pairing with ``dedup_incremental_new_docs`` the way VERDICT r5
    sketched).

    Scale: the val-gram store is a distinct 60-bit hash column —
    at 100 TB it is the persisted side of the pipeline, re-derived
    here only because the fixture is ephemeral; the probe is an
    equi-join of the incoming batch's gram stream (~10% band) against
    it, hash-only shuffles, then a left anti-style flag join back on
    doc_id and a |langs|-row rollup.
    """
    from ..functions.exact import round_int_ratio
    from ..functions.partitioning import cpu_repartition, iter_checkpoint
    from ..functions.textnorm import shingle_base_hash_udf, whitespace_tokens
    from .corpus import DECON_K, TRAIN_CUT, VAL_CUT, _id_hash_bucket

    t = Tables(spark, sf_dir)
    bases_udf = shingle_base_hash_udf(DECON_K)
    # iter_checkpoint: one materialization of the shingled stream feeds
    # both the store and the probe; SPARK_GRAFT_ITER_PERSIST=1 restores
    # the recomputable persist path under executor churn (ADVICE r7)
    grams = iter_checkpoint(
        cpu_repartition(t.documents, "doc_id").select(
            "doc_id",
            "lang",
            _id_hash_bucket().alias("b"),
            F.size(whitespace_tokens(F.col("text"))).cast("long").alias("n_tok"),
            bases_udf(F.col("text")).alias("gs"),
        )
    )
    vg = (
        grams.where((F.col("b") >= TRAIN_CUT) & (F.col("b") < VAL_CUT))
        .select(F.explode("gs").alias("g"))
        .distinct()
    )
    incoming = grams.where(F.col("b") >= VAL_CUT).select(
        "doc_id", "lang", "n_tok", "gs"
    )
    contaminated = (
        incoming.select("doc_id", F.explode("gs").alias("g"))
        .join(vg, "g", "left_semi")
        .select("doc_id")
        .distinct()
        .select("doc_id", F.lit(1).alias("bad"))
    )
    flagged = incoming.join(contaminated, "doc_id", "left").select(
        "lang", "n_tok", F.coalesce(F.col("bad"), F.lit(0)).alias("bad")
    )
    agg = flagged.groupBy("lang").agg(
        F.count(F.lit(1)).alias("n_incoming"),
        F.sum("bad").alias("n_contaminated"),
        F.sum(F.lit(1) - F.col("bad")).alias("n_admitted"),
        F.sum(F.when(F.col("bad") == 0, F.col("n_tok")).otherwise(0)).alias(
            "admitted_tokens"
        ),
    )
    return agg.select(
        "lang",
        "n_incoming",
        "n_contaminated",
        "n_admitted",
        round_int_ratio(F.col("n_contaminated"), F.col("n_incoming")).alias(
            "contamination_rate"
        ),
        "admitted_tokens",
    ).orderBy("lang")


# ---------------------------------------------------------------------------
# 19. IVF-PQ composed ANN search
# ---------------------------------------------------------------------------

IVFPQ_NPROBE = 2  # coarse cells probed per query


def _ivfpq_oracle() -> str:
    from .similarity import (
        N_CENTROIDS,
        PQ_CODEWORDS,
        PQ_M,
        PQ_PROBES,
        PQ_SUBDIM,
        PQ_TOPK,
    )

    subs = " UNION ALL ".join(
        f"SELECT vec_id, {m} AS m, v[{m * PQ_SUBDIM + 1}:{(m + 1) * PQ_SUBDIM}] AS sv "
        "FROM emb"
        for m in range(PQ_M)
    )
    cbs = " UNION ALL ".join(
        f"SELECT vec_id AS cid, {m} AS m, v[{m * PQ_SUBDIM + 1}:{(m + 1) * PQ_SUBDIM}] AS cv "
        f"FROM emb WHERE vec_id < {PQ_CODEWORDS}"
        for m in range(PQ_M)
    )
    return f"""
    WITH emb AS (
      SELECT vec_id, embedding::DOUBLE[] AS v FROM embeddings
    ), cent AS (
      SELECT vec_id AS centroid_id, v AS cv FROM emb
      WHERE vec_id < {N_CENTROIDS}
    ), coarse AS (
      SELECT vec_id, centroid_id,
             row_number() OVER (PARTITION BY vec_id
                                ORDER BY round(list_cosine_similarity(v, cv), 9) DESC,
                                         centroid_id) AS rn
      FROM emb, cent
    ), cells AS (
      SELECT vec_id, centroid_id AS cell FROM coarse WHERE rn = 1
    ), probe_cells AS (
      SELECT vec_id AS probe_id, centroid_id AS cell
      FROM coarse WHERE vec_id < {PQ_PROBES} AND rn <= {IVFPQ_NPROBE}
    ), sub AS ({subs}), cb AS ({cbs}),
    dists AS (
      SELECT s.vec_id, s.m, c.cid,
             list_sum(list_transform(range(1, {PQ_SUBDIM} + 1),
                      i -> (s.sv[i] - c.cv[i]) * (s.sv[i] - c.cv[i]))) AS d2
      FROM sub s JOIN cb c USING (m)
    ), codes AS (
      SELECT vec_id, m, cid FROM (
        SELECT vec_id, m, cid,
               row_number() OVER (PARTITION BY vec_id, m
                                  ORDER BY round(d2, 9), cid) AS rn
        FROM dists
      ) WHERE rn = 1
    ), lut AS (
      SELECT p.vec_id AS probe_id, p.m, c.cid,
             CAST(floor(list_sum(list_transform(range(1, {PQ_SUBDIM} + 1),
                      i -> (p.sv[i] - c.cv[i]) * (p.sv[i] - c.cv[i])))
                  * 1000000.0 + 0.5) AS BIGINT) AS d2q
      FROM (SELECT * FROM sub WHERE vec_id < {PQ_PROBES}) p
      JOIN cb c USING (m)
    ), cand AS (
      SELECT pc.probe_id, cl.vec_id, pc.cell
      FROM probe_cells pc JOIN cells cl ON cl.cell = pc.cell
      WHERE cl.vec_id <> pc.probe_id
    ), adc AS (
      SELECT ca.probe_id, ca.vec_id, ca.cell,
             CAST(sum(l.d2q) AS BIGINT) AS adc_micro
      FROM cand ca
      JOIN codes k ON k.vec_id = ca.vec_id
      JOIN lut l ON l.probe_id = ca.probe_id AND l.m = k.m AND l.cid = k.cid
      GROUP BY 1, 2, 3
    )
    SELECT probe_id, vec_id AS neighbor_id, cell, adc_micro, rnk FROM (
      SELECT probe_id, vec_id, cell, adc_micro,
             CAST(row_number() OVER (PARTITION BY probe_id
                                     ORDER BY adc_micro, vec_id) AS BIGINT) AS rnk
      FROM adc
    ) WHERE rnk <= {PQ_TOPK}
    """


@register("similarity_ivfpq_topk", oracle=_ivfpq_oracle())
def similarity_ivfpq_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    """IVF-PQ: the full production ANN index shape — a coarse inverted
    file (cells around N_CENTROIDS centroids, top-{IVFPQ_NPROBE}
    probed per query) combined with product-quantized codes searched
    by ADC table lookups inside the probed cells only. Composes
    ``ann_ivf_topk``'s coarse quantizer with
    ``similarity_pq_adc_topk``'s code search, exactly the VERDICT r5
    follow-through.

    The 100 TB shape: the scan side is the CODE TABLE (4 small ints
    per vector) pre-partitioned by cell; a query touches nprobe cells'
    code lists and sums M broadcast-LUT lookups per candidate — no
    full-precision vectors at query time anywhere. Candidate volume =
    nprobe/|cells| of the corpus instead of 1.0 (brute) — the recall/
    fanout dial is (nprobe, |cells|); LUT distances are 1e-6-quantized
    int64 so ADC sums and the per-probe top-k rank exactly.
    """
    from .similarity import (
        N_CENTROIDS,
        PQ_CODEWORDS,
        PQ_M,
        PQ_PROBES,
        PQ_SUBDIM,
        PQ_TOPK,
    )

    t = Tables(spark, sf_dir)
    emb = t.embeddings.select(
        "vec_id", F.col("embedding").cast("array<double>").alias("v")
    )
    norm = F.sqrt(F.aggregate(F.col("v"), F.lit(0.0), lambda a, x: a + x * x))
    embn = emb.withColumn("nrm", norm)
    centroids = embn.filter(F.col("vec_id") < N_CENTROIDS).select(
        F.col("vec_id").alias("centroid_id"),
        F.col("v").alias("cv"),
        F.col("nrm").alias("cn"),
    )
    dot = F.aggregate(
        F.zip_with(F.col("v"), F.col("cv"), lambda x, y: x * y),
        F.lit(0.0),
        lambda a, x: a + x,
    )
    coarse = embn.join(F.broadcast(centroids)).select(
        "vec_id",
        "centroid_id",
        F.round(dot / (F.col("nrm") * F.col("cn")), 9).alias("sim"),
    )
    w_assign = Window.partitionBy("vec_id").orderBy(
        F.col("sim").desc(), F.col("centroid_id")
    )
    ranked = coarse.withColumn("rn", F.row_number().over(w_assign))
    cells = ranked.filter(F.col("rn") == 1).select(
        "vec_id", F.col("centroid_id").alias("cell")
    )
    probe_cells = ranked.filter(
        (F.col("vec_id") < PQ_PROBES) & (F.col("rn") <= IVFPQ_NPROBE)
    ).select(F.col("vec_id").alias("probe_id"), F.col("centroid_id").alias("cell"))

    sub = emb.select(
        "vec_id",
        F.explode(
            F.array(
                *[
                    F.struct(
                        F.lit(m).alias("m"),
                        F.slice("v", m * PQ_SUBDIM + 1, PQ_SUBDIM).alias("sv"),
                    )
                    for m in range(PQ_M)
                ]
            )
        ).alias("s"),
    ).select("vec_id", F.col("s.m").alias("m"), F.col("s.sv").alias("sv"))
    cb = (
        emb.filter(F.col("vec_id") < PQ_CODEWORDS)
        .select(
            F.col("vec_id").alias("cid"),
            F.explode(
                F.array(
                    *[
                        F.struct(
                            F.lit(m).alias("m"),
                            F.slice("v", m * PQ_SUBDIM + 1, PQ_SUBDIM).alias(
                                "cv"
                            ),
                        )
                        for m in range(PQ_M)
                    ]
                )
            ).alias("c"),
        )
        .select("cid", F.col("c.m").alias("m"), F.col("c.cv").alias("cv"))
    )
    d2 = F.aggregate(
        F.zip_with(F.col("sv"), F.col("cv"), lambda x, y: (x - y) * (x - y)),
        F.lit(0.0),
        lambda acc, x: acc + x,
    )
    codes = (
        sub.join(F.broadcast(cb), "m")
        .select("vec_id", "m", "cid", d2.alias("d2"))
        .groupBy("vec_id", "m")
        .agg(
            F.min(
                F.struct(
                    F.round(F.col("d2"), 9).alias("d2r"), F.col("cid").alias("cid")
                )
            ).alias("b")
        )
        .select("vec_id", "m", F.col("b.cid").alias("cid"))
    )
    lut = (
        sub.filter(F.col("vec_id") < PQ_PROBES)
        .select(F.col("vec_id").alias("probe_id"), "m", "sv")
        .join(F.broadcast(cb), "m")
        .select(
            "probe_id",
            "m",
            "cid",
            F.floor(d2 * F.lit(1e6) + F.lit(0.5)).cast("long").alias("d2q"),
        )
    )
    cand = (
        probe_cells.join(cells.withColumnRenamed("vec_id", "cand_id"), "cell")
        .where(F.col("cand_id") != F.col("probe_id"))
        .select("probe_id", F.col("cand_id").alias("vec_id"), "cell")
    )
    adc = (
        cand.join(codes, "vec_id")
        .join(F.broadcast(lut), ["probe_id", "m", "cid"])
        .groupBy("probe_id", "vec_id", "cell")
        .agg(F.sum("d2q").cast("long").alias("adc_micro"))
    )
    w = Window.partitionBy("probe_id").orderBy("adc_micro", "vec_id")
    return (
        adc.withColumn("rnk", F.row_number().over(w).cast("long"))
        .filter(F.col("rnk") <= PQ_TOPK)
        .select(
            "probe_id",
            F.col("vec_id").alias("neighbor_id"),
            "cell",
            "adc_micro",
            "rnk",
        )
    )
