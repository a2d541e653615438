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
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql.window import Window

from ..functions.exact import dec38
from ..registry import register
from ..tables import Tables


# ---------------------------------------------------------------------------
# 1. Herfindahl-Hirschman supplier concentration by nation
# ---------------------------------------------------------------------------


def _hhi_oracle() -> str:
    return """
    WITH rev AS (
      SELECT s.s_nationkey, l.l_suppkey,
             CAST(sum(CAST(floor(l.l_extendedprice * (1 - l.l_discount) * 100.0
                                 + 0.5) AS BIGINT)) AS HUGEINT) AS cents
      FROM lineitem l JOIN supplier s ON s.s_suppkey = l.l_suppkey
      GROUP BY 1, 2
    ), agg AS (
      SELECT s_nationkey,
             CAST(count(*) AS BIGINT) AS n_suppliers,
             sum(cents * cents) AS sq,
             sum(cents) AS tot
      FROM rev GROUP BY 1
    )
    SELECT n.n_name AS nation, n_suppliers,
           CAST(((2000000::HUGEINT * sq + tot * tot)
                 // (2::HUGEINT * tot * tot)) AS BIGINT) / 1000000.0 AS hhi
    FROM agg JOIN nation n ON n.n_nationkey = agg.s_nationkey
    ORDER BY nation
    """


@register("stats_hhi_supplier_concentration", oracle=_hhi_oracle())
def stats_hhi_supplier_concentration(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    """Herfindahl-Hirschman index of supplier revenue concentration
    within each supplier nation — the market-structure statistic
    (HHI = sum of squared revenue shares; 1/n = perfect competition,
    1 = monopoly).

    Exactness: revenue quantizes to cents (int64 per row, exact sum),
    then HHI = sum(s_i^2) / S^2 entirely in decimal(38,0) — cents-sums
    at 100 TB square to ~1e26, far past int64, so this is the
    round_big_int_ratio discipline applied to a sum-of-squares
    numerator (ADVICE r5 overflow class).

    Scale: one partial-aggregated fact groupBy on (nationkey, suppkey)
    after a broadcast join to supplier; the squaring reduce is
    |suppliers| rows, the output |nations|.
    """
    from ..functions.exact import quantize, round_big_int_ratio

    t = Tables(spark, sf_dir)
    rev = (
        t.lineitem.join(
            F.broadcast(t.supplier.select("s_suppkey", "s_nationkey")),
            t.lineitem.l_suppkey == F.col("s_suppkey"),
        )
        .groupBy("s_nationkey", "l_suppkey")
        .agg(
            F.sum(
                quantize(
                    F.col("l_extendedprice") * (1 - F.col("l_discount")), 2
                )
            ).alias("cents")
        )
    )
    agg = rev.groupBy("s_nationkey").agg(
        F.count(F.lit(1)).alias("n_suppliers"),
        F.sum(dec38(F.col("cents")) * dec38(F.col("cents"))).alias("sq"),
        F.sum(dec38(F.col("cents"))).alias("tot"),
    )
    return (
        agg.join(
            F.broadcast(t.nation.select("n_nationkey", "n_name")),
            agg.s_nationkey == F.col("n_nationkey"),
        )
        .select(
            F.col("n_name").alias("nation"),
            "n_suppliers",
            round_big_int_ratio(
                F.col("sq"), dec38(F.col("tot")) * dec38(F.col("tot"))
            ).alias("hhi"),
        )
        .orderBy("nation")
    )


# ---------------------------------------------------------------------------
# 2. Cramér's V association: order priority x order status
# ---------------------------------------------------------------------------


def _cramers_oracle() -> str:
    return """
    WITH cell AS (
      SELECT o_orderpriority AS pri, o_orderstatus AS st,
             CAST(count(*) AS BIGINT) AS o
      FROM orders GROUP BY 1, 2
    ), tot AS (
      SELECT CAST(sum(o) AS HUGEINT) AS n,
             CAST(count(DISTINCT pri) AS BIGINT) AS k_r,
             CAST(count(DISTINCT st) AS BIGINT) AS k_c
      FROM cell
    ), margins AS (
      SELECT c.pri, c.st, c.o,
             CAST(sum(c.o) OVER (PARTITION BY c.pri) AS HUGEINT) AS r,
             CAST(sum(c.o) OVER (PARTITION BY c.st) AS HUGEINT) AS cc
      FROM cell c
    ), terms AS (
      SELECT m.pri, m.st,
             CAST(floor(
               (CAST(m.o * t.n - m.r * m.cc AS DOUBLE)
                * CAST(m.o * t.n - m.r * m.cc AS DOUBLE))
               / CAST(t.n * m.r * m.cc AS DOUBLE)
               * 1000000000.0 + 0.5) AS BIGINT) AS term_q
      FROM margins m CROSS JOIN tot t
    ), chi AS (
      SELECT CAST(sum(term_q) AS BIGINT) AS chi2_q FROM terms
    )
    SELECT CAST(t.n AS BIGINT) AS n_orders,
           CAST(t.k_r AS BIGINT) AS k_priorities,
           CAST(t.k_c AS BIGINT) AS k_statuses,
           chi2_q / 1000000000.0 AS chi2,
           CAST(floor(sqrt((chi2_q / 1000000000.0)
                           / (CAST(t.n AS DOUBLE)
                              * CAST(least(t.k_r, t.k_c) - 1 AS DOUBLE)))
                      * 1000000.0 + 0.5) AS BIGINT) / 1000000.0 AS cramers_v
    FROM chi CROSS JOIN tot t
    """


@register("stats_cramers_v_priority_status", oracle=_cramers_oracle())
def stats_cramers_v_priority_status(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    """Cramér's V association between order priority and order status
    — the [0,1]-normalized chi-square for two categoricals (the
    chi-square statistic itself grows with N; V is comparable across
    fixture scales).

    Exactness: chi2 = sum over cells of (o*N - r*c)^2 / (N*r*c). The
    numerator o*N - r*c (|.| <= N^2, exact in decimal(38,0)/HUGEINT up
    to N ~ 1e12 orders) and the denominator N*r*c (<= N^3, 34 digits
    at N ~ 1e11) are exact integers; the per-cell term is computed in
    DOUBLE off those exact integers (square after the correctly-rounded
    cast, so nothing overflows 38 digits — squaring in decimal would
    reach ~N^4 ~ 1e44 and overflow, the round-6 draft's bug), quantized
    half-up at 1e-9 to a bigint, and the integer term sum is exact.
    Both engines evaluate the identical double expression tree on the
    same exact inputs (decimal->double casts are correctly rounded on
    both), so the quantized terms are bit-identical cross-engine. The
    final sqrt runs on a bit-identical double on both engines.

    Scale: one groupBy over the 15-cell contingency; margins via
    windows over 15 rows; single-row output (final-aggregate
    SinglePartition, sanctioned).
    """
    t = Tables(spark, sf_dir)
    cell = t.orders.groupBy(
        F.col("o_orderpriority").alias("pri"),
        F.col("o_orderstatus").alias("st"),
    ).agg(F.count(F.lit(1)).alias("o"))
    tot = cell.agg(
        F.sum("o").alias("n"),
        F.countDistinct("pri").alias("k_r"),
        F.countDistinct("st").alias("k_c"),
    )
    m = cell.select(
        "pri",
        "st",
        "o",
        F.sum("o").over(Window.partitionBy("pri")).alias("r"),
        F.sum("o").over(Window.partitionBy("st")).alias("cc"),
    )
    j = m.crossJoin(F.broadcast(tot))
    num = (
        dec38(F.col("o")) * dec38(F.col("n"))
        - dec38(F.col("r")) * dec38(F.col("cc"))
    ).cast("double")
    den = (
        dec38(F.col("n")) * dec38(F.col("r")) * dec38(F.col("cc"))
    ).cast("double")
    terms = j.select(
        "n",
        "k_r",
        "k_c",
        F.floor(num * num / den * F.lit(1_000_000_000.0) + F.lit(0.5))
        .cast("long")
        .alias("term_q"),
    )
    chi = terms.groupBy("n", "k_r", "k_c").agg(
        F.sum("term_q").alias("chi2_q")
    )
    chi2 = F.col("chi2_q") / F.lit(1_000_000_000.0)
    v = F.sqrt(
        chi2
        / (
            F.col("n").cast("double")
            * (F.least("k_r", "k_c") - F.lit(1)).cast("double")
        )
    )
    return chi.select(
        F.col("n").alias("n_orders"),
        F.col("k_r").alias("k_priorities"),
        F.col("k_c").alias("k_statuses"),
        chi2.alias("chi2"),
        (F.floor(v * F.lit(1_000_000.0) + F.lit(0.5)).cast("long")
         / F.lit(1_000_000.0)).alias("cramers_v"),
    )


# ---------------------------------------------------------------------------
# 3. Variance-to-mean overdispersion of daily event counts
# ---------------------------------------------------------------------------


def _vmr_oracle() -> str:
    return """
    WITH daily AS (
      SELECT event_type, date_trunc('day', ts) AS day,
             CAST(count(*) AS BIGINT) AS c
      FROM events GROUP BY 1, 2
    ), agg AS (
      SELECT event_type,
             CAST(count(*) AS HUGEINT) AS n,
             CAST(sum(c) AS HUGEINT) AS s,
             CAST(sum(c * c) AS HUGEINT) AS q
      FROM daily GROUP BY 1
    )
    SELECT event_type,
           CAST(n AS BIGINT) AS n_days,
           CAST(s AS BIGINT) AS n_events,
           CAST(((2000000::HUGEINT * s + n) // (2::HUGEINT * n)) AS BIGINT)
             / 1000000.0 AS mean_daily,
           CAST(((2000000::HUGEINT * (n * q - s * s) + (n * s))
                 // (2::HUGEINT * n * s)) AS BIGINT) / 1000000.0 AS vmr
    FROM agg
    ORDER BY event_type
    """


@register("stats_overdispersion_vmr", oracle=_vmr_oracle())
def stats_overdispersion_vmr(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Variance-to-mean ratio (index of dispersion) of daily event
    counts per event type — the standard Poisson-ness check (VMR = 1
    under Poisson; > 1 means bursty/overdispersed arrivals), the
    dispersion companion to ``events_poisson_rate_test``'s rate
    comparison.

    Exactness: population variance / mean collapses to the integer
    ratio (n*sum(c^2) - S^2) / (n*S) — numerator in decimal/HUGEINT
    (day-count squares sum past int64 at large SF), one half-up
    quantization at 1e-6.

    Scale: groupBy (event_type, day) partial-aggregates map-side to
    |types|*|days| rows; the moment reduce is |types| rows.
    """
    from ..functions.exact import round_big_int_ratio

    t = Tables(spark, sf_dir)
    daily = t.events.groupBy(
        "event_type", F.date_trunc("day", F.col("ts")).alias("day")
    ).agg(F.count(F.lit(1)).alias("c"))
    agg = daily.groupBy("event_type").agg(
        F.count(F.lit(1)).alias("n"),
        F.sum("c").alias("s"),
        F.sum(dec38(F.col("c")) * dec38(F.col("c"))).alias("q"),
    )
    n, s, q = dec38(F.col("n")), dec38(F.col("s")), F.col("q")
    return agg.select(
        "event_type",
        F.col("n").alias("n_days"),
        F.col("s").alias("n_events"),
        round_big_int_ratio(s, n).alias("mean_daily"),
        round_big_int_ratio(n * q - s * s, n * s).alias("vmr"),
    ).orderBy("event_type")


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
# 6. Inter-arrival burstiness per event type
# ---------------------------------------------------------------------------


def _burstiness_oracle() -> str:
    return """
    WITH ordered AS (
      SELECT event_type,
             CAST(floor(epoch(ts)) AS BIGINT)
               - lag(CAST(floor(epoch(ts)) AS BIGINT)) OVER (
                   PARTITION BY event_type ORDER BY ts, event_id) AS gap
      FROM events
    ), agg AS (
      SELECT event_type,
             CAST(count(*) AS HUGEINT) AS n,
             CAST(sum(gap) AS HUGEINT) AS s,
             CAST(sum(gap::HUGEINT * gap) AS HUGEINT) AS q
      FROM ordered WHERE gap IS NOT NULL GROUP BY 1
    )
    SELECT event_type,
           CAST(n AS BIGINT) AS n_gaps,
           CAST(((2000000::HUGEINT * s + n) // (2::HUGEINT * n)) AS BIGINT)
             / 1000000.0 AS mean_gap_s,
           CAST(floor((sqrt(CAST(n * q - s * s AS DOUBLE)) - CAST(s AS DOUBLE))
                      / (sqrt(CAST(n * q - s * s AS DOUBLE)) + CAST(s AS DOUBLE))
                      * 1000000.0 + 0.5) AS BIGINT) / 1000000.0 AS burstiness
    FROM agg
    ORDER BY event_type
    """


@register("events_interarrival_burstiness", oracle=_burstiness_oracle())
def events_interarrival_burstiness(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    """Goh-Barabási burstiness B = (σ−μ)/(σ+μ) of inter-arrival times
    per event type — B→−1 for clockwork arrivals, 0 for Poisson, →1
    for extreme burst trains; the shape statistic behind rate-limit
    and capacity planning that a plain mean gap hides.

    Exactness: gaps are integer epoch-second diffs; n·Σg²−S² is exact
    in decimal(38,0)/HUGEINT, and B simplifies so the group size n
    cancels: B = (sqrt(nΣg²−S²) − S)/(sqrt(nΣg²−S²) + S). The one
    decimal→double cast is correctly rounded on both engines, and
    sqrt/divide are IEEE-correct single roundings — bit-identical
    before the 1e-6 quantization.

    Scale: the lag window partitions by event_type (parallel across
    types; within a type the ordered pass is the semantics). At 100 TB
    with few giant types, pre-bucket by (type, day) and difference at
    day boundaries — the day-interior gaps dominate the moments.
    """
    t = Tables(spark, sf_dir)
    w = Window.partitionBy("event_type").orderBy("ts", "event_id")
    gaps = t.events.select(
        "event_type",
        (
            F.unix_timestamp("ts")
            - F.lag(F.unix_timestamp("ts")).over(w)
        ).alias("gap"),
    ).where(F.col("gap").isNotNull())
    agg = gaps.groupBy("event_type").agg(
        F.count(F.lit(1)).alias("n"),
        F.sum("gap").alias("s"),
        F.sum(dec38(F.col("gap")) * dec38(F.col("gap"))).alias("q"),
    )
    from ..functions.exact import round_big_int_ratio

    var_num = (dec38(F.col("n")) * F.col("q")
               - dec38(F.col("s")) * dec38(F.col("s"))).cast("double")
    sd = F.sqrt(var_num)
    s_d = F.col("s").cast("double")
    b = (sd - s_d) / (sd + s_d)
    return agg.select(
        "event_type",
        F.col("n").alias("n_gaps"),
        round_big_int_ratio(dec38(F.col("s")), dec38(F.col("n"))).alias(
            "mean_gap_s"
        ),
        (F.floor(b * F.lit(1_000_000.0) + F.lit(0.5)).cast("long")
         / F.lit(1_000_000.0)).alias("burstiness"),
    ).orderBy("event_type")


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
# 12. Jensen-Shannon divergence of priority mix per nation
# ---------------------------------------------------------------------------


def _js_oracle() -> str:
    from ..functions.detmath import sql_det_ln_steps

    return f"""
    WITH cust_orders AS (
      SELECT c.c_nationkey, o.o_orderpriority AS pri
      FROM orders o JOIN customer c ON c.c_custkey = o.o_custkey
    ), cell AS (
      SELECT c_nationkey, pri, CAST(count(*) AS BIGINT) AS c
      FROM cust_orders GROUP BY 1, 2
    ), nat AS (
      SELECT c_nationkey, CAST(sum(c) AS BIGINT) AS n FROM cell GROUP BY 1
    ), gpri AS (
      SELECT pri, CAST(sum(c) AS BIGINT) AS g FROM cell GROUP BY 1
    ), tot AS (
      SELECT CAST(sum(c) AS BIGINT) AS big_n FROM cell
    ), grid AS (
      SELECT nat.c_nationkey, nat.n, gpri.pri, gpri.g, tot.big_n,
             coalesce(cell.c, 0) AS c
      FROM nat CROSS JOIN gpri CROSS JOIN tot
      LEFT JOIN cell ON cell.c_nationkey = nat.c_nationkey
                    AND cell.pri = gpri.pri
    ), pq AS (
      SELECT c_nationkey, n, c, g, big_n,
             CAST(c AS DOUBLE) / CAST(n AS DOUBLE) AS p,
             CAST(g AS DOUBLE) / CAST(big_n AS DOUBLE) AS q
      FROM grid
    ), pm AS (
      SELECT *, (p + q) * 0.5 AS m FROM pq
    ), {sql_det_ln_steps('pm', 'p / m', 'lnp', as_double=True)},
    {sql_det_ln_steps('lnp_rel', 'q / m', 'lnq', as_double=True)},
    terms AS (
      SELECT c_nationkey, n,
             CAST(floor(
               (CASE WHEN c > 0 THEN 0.5 * p * lnp ELSE 0.0 END
                + CASE WHEN g > 0 THEN 0.5 * q * lnq ELSE 0.0 END)
               * 1000000000.0 + 0.5) AS BIGINT) AS term_q
      FROM lnq_rel
    ), agg AS (
      SELECT c_nationkey, n, CAST(sum(term_q) AS BIGINT) AS js_q
      FROM terms GROUP BY 1, 2
    )
    SELECT nn.n_name AS nation, agg.n AS n_orders,
           js_q / 1000000000.0 AS js_nats
    FROM agg JOIN nation nn ON nn.n_nationkey = agg.c_nationkey
    ORDER BY nation
    """


@register("stats_js_divergence_priority", oracle=_js_oracle())
def stats_js_divergence_priority(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Jensen-Shannon divergence between each nation's order-priority
    mix and the global mix — the symmetric, bounded (<= ln 2)
    distribution-drift score; the same statistic a corpus pipeline
    runs between a shard's language mix and the corpus mix
    (``dq_psi_value_drift`` is the banded PSI twin; JS is the
    information-theoretic one).

    Determinism: p, q, m = (p+q)/2 are single correctly-rounded double
    ops on exact integer counts; ln comes from the fixed-point
    deterministic ln (functions/detmath.py), each 0.5*p*ln(p/m) term
    quantizes to 1e-9 int64 per grid cell, and the per-nation sum is
    exact. Zero cells contribute their defined limits (0 for p=0).

    Scale: one fact groupBy to the |nations|x|priorities| grid;
    everything after is 125-row scalar math. The det-ln fold is
    interpreted, which is why it runs on the collapsed grid, never on
    fact rows.
    """
    from ..functions.detmath import det_ln_dbl

    t = Tables(spark, sf_dir)
    cell = (
        t.orders.join(
            F.broadcast(t.customer.select("c_custkey", "c_nationkey")),
            t.orders.o_custkey == F.col("c_custkey"),
        )
        .groupBy("c_nationkey", F.col("o_orderpriority").alias("pri"))
        .agg(F.count(F.lit(1)).alias("c"))
    )
    nat = cell.groupBy("c_nationkey").agg(F.sum("c").alias("n"))
    glob = cell.groupBy("pri").agg(F.sum("c").alias("g"))
    tot = cell.agg(F.sum("c").alias("big_n"))
    grid = (
        nat.crossJoin(F.broadcast(glob))
        .crossJoin(F.broadcast(tot))
        .join(cell, ["c_nationkey", "pri"], "left")
        .select(
            "c_nationkey",
            "n",
            "g",
            "big_n",
            F.coalesce(F.col("c"), F.lit(0)).alias("c"),
        )
    )
    p = F.col("c").cast("double") / F.col("n").cast("double")
    q = F.col("g").cast("double") / F.col("big_n").cast("double")
    m = (p + q) * F.lit(0.5)
    t_p = F.when(F.col("c") > 0, F.lit(0.5) * p * det_ln_dbl(p / m)).otherwise(
        F.lit(0.0)
    )
    t_q = F.when(F.col("g") > 0, F.lit(0.5) * q * det_ln_dbl(q / m)).otherwise(
        F.lit(0.0)
    )
    terms = grid.select(
        "c_nationkey",
        "n",
        F.floor((t_p + t_q) * F.lit(1_000_000_000.0) + F.lit(0.5))
        .cast("long")
        .alias("term_q"),
    )
    agg = terms.groupBy("c_nationkey", "n").agg(F.sum("term_q").alias("js_q"))
    return (
        agg.join(
            F.broadcast(t.nation.select("n_nationkey", "n_name")),
            agg.c_nationkey == F.col("n_nationkey"),
        )
        .select(
            F.col("n_name").alias("nation"),
            F.col("n").alias("n_orders"),
            (F.col("js_q") / F.lit(1_000_000_000.0)).alias("js_nats"),
        )
        .orderBy("nation")
    )


# ---------------------------------------------------------------------------
# 13. Log odds ratio of urgent orders per nation, Woolf CI
# ---------------------------------------------------------------------------

WOOLF_Z = 1.96


def _odds_oracle() -> str:
    from ..functions.detmath import sql_det_ln_steps

    return f"""
    WITH cust_orders AS (
      SELECT c.c_nationkey,
             CASE WHEN o.o_orderpriority = '1-URGENT' THEN 1 ELSE 0 END AS urg
      FROM orders o JOIN customer c ON c.c_custkey = o.o_custkey
    ), per AS (
      SELECT c_nationkey,
             CAST(sum(urg) AS BIGINT) AS a,
             CAST(sum(1 - urg) AS BIGINT) AS b
      FROM cust_orders GROUP BY 1
    ), tot AS (
      SELECT CAST(sum(a) AS BIGINT) AS ta, CAST(sum(b) AS BIGINT) AS tb
      FROM per
    ), cells AS (
      SELECT p.c_nationkey, p.a, p.b,
             t.ta - p.a AS c, t.tb - p.b AS d
      FROM per p CROSS JOIN tot t
    ), hald AS (
      SELECT *,
             CAST(a AS DOUBLE) + 0.5 AS ah, CAST(b AS DOUBLE) + 0.5 AS bh,
             CAST(c AS DOUBLE) + 0.5 AS ch, CAST(d AS DOUBLE) + 0.5 AS dh
      FROM cells
    ), orv AS (
      SELECT *, (ah * dh) / (bh * ch) AS orate,
             sqrt(1.0 / ah + 1.0 / bh + 1.0 / ch + 1.0 / dh) AS se
      FROM hald
    ), {sql_det_ln_steps('orv', 'orate', 'lnor', as_double=True)}
    SELECT nn.n_name AS nation, a, b, c, d,
           CAST(floor(lnor * 1000000.0 + 0.5) AS BIGINT) / 1000000.0
             AS log_or,
           CAST(floor((lnor - {WOOLF_Z!r}::DOUBLE * se) * 1000000.0 + 0.5)
                AS BIGINT) / 1000000.0 AS ci_lo,
           CAST(floor((lnor + {WOOLF_Z!r}::DOUBLE * se) * 1000000.0 + 0.5)
                AS BIGINT) / 1000000.0 AS ci_hi
    FROM lnor_rel JOIN nation nn ON nn.n_nationkey = lnor_rel.c_nationkey
    ORDER BY nation
    """


@register("stats_odds_ratio_woolf", oracle=_odds_oracle())
def stats_odds_ratio_woolf(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Log odds ratio of urgent-order incidence, each nation vs the
    rest of the world, with the Woolf 95% confidence interval — the
    case-control effect-size report (reported in the log domain, where
    the CI is symmetric and no exp() is needed; readers exponentiate
    off-line).

    Determinism: cells take the Haldane-Anscombe +0.5 correction
    (always-defined OR, exact double halves), the OR is two exact-int
    products and one correctly-rounded divide, ln is the deterministic
    fixed-point ln, and the Woolf standard error is a left-to-right
    sum of four correctly-rounded reciprocals — every step
    bit-identical across engines before 1e-6 quantization.

    Scale: one fact groupBy to |nations| rows + a broadcast 1-row
    total; all effect-size math is 25-row scalar.
    """
    from ..functions.detmath import det_ln_dbl

    t = Tables(spark, sf_dir)
    per = (
        t.orders.join(
            F.broadcast(t.customer.select("c_custkey", "c_nationkey")),
            t.orders.o_custkey == F.col("c_custkey"),
        )
        .groupBy("c_nationkey")
        .agg(
            F.sum(
                F.when(F.col("o_orderpriority") == "1-URGENT", 1).otherwise(0)
            ).alias("a"),
            F.sum(
                F.when(F.col("o_orderpriority") == "1-URGENT", 0).otherwise(1)
            ).alias("b"),
        )
    )
    tot = per.agg(F.sum("a").alias("ta"), F.sum("b").alias("tb"))
    cells = per.crossJoin(F.broadcast(tot)).select(
        "c_nationkey",
        "a",
        "b",
        (F.col("ta") - F.col("a")).alias("c"),
        (F.col("tb") - F.col("b")).alias("d"),
    )
    ah = F.col("a").cast("double") + F.lit(0.5)
    bh = F.col("b").cast("double") + F.lit(0.5)
    ch = F.col("c").cast("double") + F.lit(0.5)
    dh = F.col("d").cast("double") + F.lit(0.5)
    orate = (ah * dh) / (bh * ch)
    se = F.sqrt(
        F.lit(1.0) / ah + F.lit(1.0) / bh + F.lit(1.0) / ch + F.lit(1.0) / dh
    )
    lnor = det_ln_dbl(orate)
    q6 = lambda col: (  # noqa: E731
        F.floor(col * F.lit(1_000_000.0) + F.lit(0.5)).cast("long")
        / F.lit(1_000_000.0)
    )
    out = cells.select(
        "c_nationkey",
        "a",
        "b",
        "c",
        "d",
        q6(lnor).alias("log_or"),
        q6(lnor - F.lit(WOOLF_Z) * se).alias("ci_lo"),
        q6(lnor + F.lit(WOOLF_Z) * se).alias("ci_hi"),
    )
    return (
        out.join(
            F.broadcast(t.nation.select("n_nationkey", "n_name")),
            out.c_nationkey == F.col("n_nationkey"),
        )
        .select(
            F.col("n_name").alias("nation"),
            "a",
            "b",
            "c",
            "d",
            "log_or",
            "ci_lo",
            "ci_hi",
        )
        .orderBy("nation")
    )


# ---------------------------------------------------------------------------
# 14. Kaplan-Meier log-survival of shipment transit time
# ---------------------------------------------------------------------------


def _km_oracle() -> str:
    from ..functions.detmath import sql_det_ln_steps

    return f"""
    WITH obs AS (
      SELECT l.l_returnflag AS flag,
             CAST(datediff('day', o.o_orderdate, l.l_shipdate) AS BIGINT)
               AS dur,
             CASE WHEN l.l_linestatus = 'F' THEN 1 ELSE 0 END AS ev
      FROM lineitem l JOIN orders o ON o.o_orderkey = l.l_orderkey
    ), pts AS (
      SELECT flag, dur,
             CAST(sum(ev) AS BIGINT) AS d,
             CAST(sum(1 - ev) AS BIGINT) AS w
      FROM obs GROUP BY 1, 2
    ), risk AS (
      SELECT flag, dur, d, w,
             CAST(sum(d + w) OVER (PARTITION BY flag) AS BIGINT)
               - CAST(coalesce(sum(d + w) OVER (
                   PARTITION BY flag ORDER BY dur
                   ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0)
                 AS BIGINT) AS n_risk
      FROM pts
    ), kept AS (
      SELECT * FROM risk WHERE NOT (d > 0 AND n_risk = d)
    ), rat AS (
      SELECT *, CAST(n_risk - d AS DOUBLE) / CAST(n_risk AS DOUBLE) AS sratio
      FROM kept
    ), {sql_det_ln_steps('rat', 'sratio', 'lnq', dp=9)},
    terms AS (
      SELECT flag, dur, d, w, n_risk,
             CASE WHEN d > 0 THEN lnq ELSE 0 END AS term_q
      FROM lnq_rel
    )
    SELECT flag AS return_flag, dur AS transit_days, n_risk,
           d AS n_events, w AS n_censored,
           CAST(sum(term_q) OVER (PARTITION BY flag ORDER BY dur
                ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS BIGINT)
             / 1000000000.0 AS log_survival
    FROM terms
    ORDER BY return_flag, transit_days
    """


@register("stats_km_log_survival", oracle=_km_oracle())
def stats_km_log_survival(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Kaplan-Meier survival curve of order-to-ship latency
    (orderdate→shipdate), one curve per return flag, with right-censoring:
    open-status lines (l_linestatus <> 'F') count as censored at their
    observed duration — they leave the risk set without an "event".
    Reported as log-survival: logS(t) = sum over event times <= t of
    ln(1 - d/n), the form in which the product-limit estimator is a
    SUM and therefore exact under quantization (S itself would need
    exp; readers exponentiate off-line).

    Determinism: risk-set sizes and event counts are exact integers
    computed on the collapsed (flag, duration) curve, the hazard ratio
    (n-d)/n is one correctly-rounded double divide, and ln is the
    deterministic fixed-point ln quantized to 1e-9 per step, so the
    running sum is integer-exact. The terminal point where the whole
    risk set fails (S -> 0, logS -> -inf) is excluded by definition.

    Scale: the fact scan collapses to |flags| x |distinct durations|
    rows before any window; the ordered passes run per flag on the
    ~100-point curve, never on raw lineitem.
    """
    from ..functions.detmath import det_ln_q

    t = Tables(spark, sf_dir)
    obs = t.lineitem.join(
        t.orders.select("o_orderkey", "o_orderdate"),
        t.lineitem.l_orderkey == F.col("o_orderkey"),
    ).select(
        F.col("l_returnflag").alias("flag"),
        F.datediff("l_shipdate", "o_orderdate").cast("long").alias("dur"),
        F.when(F.col("l_linestatus") == "F", 1).otherwise(0).alias("ev"),
    )
    pts = obs.groupBy("flag", "dur").agg(
        F.sum("ev").alias("d"), F.sum(F.lit(1) - F.col("ev")).alias("w")
    )
    w_tot = Window.partitionBy("flag")
    w_prev = (
        Window.partitionBy("flag")
        .orderBy("dur")
        .rowsBetween(Window.unboundedPreceding, -1)
    )
    risk = pts.select(
        "flag",
        "dur",
        "d",
        "w",
        (
            F.sum(F.col("d") + F.col("w")).over(w_tot)
            - F.coalesce(
                F.sum(F.col("d") + F.col("w")).over(w_prev), F.lit(0)
            )
        ).alias("n_risk"),
    ).where(~((F.col("d") > 0) & (F.col("n_risk") == F.col("d"))))
    sratio = (F.col("n_risk") - F.col("d")).cast("double") / F.col(
        "n_risk"
    ).cast("double")
    terms = risk.select(
        "flag",
        "dur",
        "d",
        "w",
        "n_risk",
        F.when(F.col("d") > 0, det_ln_q(sratio, 9)).otherwise(F.lit(0)).alias(
            "term_q"
        ),
    )
    w_cum = (
        Window.partitionBy("flag")
        .orderBy("dur")
        .rowsBetween(Window.unboundedPreceding, 0)
    )
    return terms.select(
        F.col("flag").alias("return_flag"),
        F.col("dur").alias("transit_days"),
        "n_risk",
        F.col("d").alias("n_events"),
        F.col("w").alias("n_censored"),
        (F.sum("term_q").over(w_cum) / F.lit(1_000_000_000.0)).alias(
            "log_survival"
        ),
    ).orderBy("return_flag", "transit_days")


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
