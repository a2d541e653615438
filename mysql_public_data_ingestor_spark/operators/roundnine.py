"""Round-9 operator batch A.

Gates: oracle parity, plan sweeps and fuzz profiles in
`tests/test_roundnine.py`; sf0.1 + ×10 evidence in SCALE.md
§§5g.8-5g.13.

Batch theme: remaining standard-toolbox members each family still
lacked — Cramér-von Mises (the quadratic ECDF two-sample test beside
KS's supremum), per-term burstiness (the dispersion dual of tf-idf),
interval-union coverage (the measure dual of the overlap audit), a
generalization ladder (the k-anonymity REPAIR search, not just the
audit), and a jackknife CI on AUC.

House discipline throughout: bounded-domain partial aggregation,
exact integer/decimal arithmetic across the engine boundary, DuckDB
oracle twin per query.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql.window import Window

from ..functions.exact import dec38
from ..registry import register
from ..tables import Tables


# ---------------------------------------------------------------------------
# 1. Cramér-von Mises two-sample test: quantity, returned vs non-returned
# ---------------------------------------------------------------------------


def _cvm_oracle() -> str:
    from ..functions.exact import sql_round_big_int_ratio

    return f"""
    WITH c AS (
      SELECT l_returnflag AS g, CAST(l_quantity AS BIGINT) AS v
      FROM lineitem WHERE l_returnflag IN ('R', 'N') AND l_quantity IS NOT NULL
    ), dv AS (
      SELECT v,
             CAST(sum(CASE WHEN g = 'R' THEN 1 ELSE 0 END) AS BIGINT) AS cx,
             CAST(sum(CASE WHEN g = 'N' THEN 1 ELSE 0 END) AS BIGINT) AS cy
      FROM c GROUP BY v
    ), cum AS (
      SELECT v, cx, cy,
             sum(cx) OVER (ORDER BY v) AS cumx,
             sum(cy) OVER (ORDER BY v) AS cumy,
             sum(cx) OVER () AS n, sum(cy) OVER () AS m
      FROM dv
    ), s AS (
      SELECT CAST(max(n) AS BIGINT) AS n, CAST(max(m) AS BIGINT) AS m,
             CAST(sum((cx + cy)::HUGEINT
                      * (cumx::HUGEINT * m - cumy::HUGEINT * n)
                      * (cumx::HUGEINT * m - cumy::HUGEINT * n)) AS HUGEINT)
               AS num
      FROM cum
    )
    SELECT n, m,
           {sql_round_big_int_ratio(
               'num',
               '(n + m)::HUGEINT * (n + m) * n * m', 9)} AS t_cvm
    FROM s
    """


@register("stats_cvm_two_sample", oracle=_cvm_oracle())
def stats_cvm_two_sample(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Cramér-von Mises two-sample statistic on line quantity between
    returned ('R') and non-returned ('N') lines: the tie-adapted
    quadratic ECDF distance T = (n·m/N^2) * sum_k p_k-weighted
    (F_n(v_k) - G_m(v_k))^2, evaluated over the pooled distinct-value
    domain — the integral companion of the KS supremum test
    (``stats_ks_two_sample``): KS sees the single worst gap, CvM sees
    the accumulated gap, so they disagree exactly when distributions
    differ in the body vs at one quantile.

    Exactness: both ECDFs are integer cumulatives over the <= 50
    distinct quantity values; the squared difference is computed on
    the nm-scaled integer diff = cumx*m - cumy*n, so the whole
    statistic is ONE exact decimal ratio num / (N^2*n*m) quantized
    half-up 1e-9. One scan, one bounded ordered pass — nothing
    row-scaled after the partial aggregation.
    """
    from ..functions.exact import round_big_int_ratio

    t = Tables(spark, sf_dir)
    c = t.lineitem.filter(
        F.col("l_returnflag").isin("R", "N") & F.col("l_quantity").isNotNull()
    ).select(F.col("l_returnflag").alias("g"), F.col("l_quantity").cast("long").alias("v"))
    dv = c.groupBy("v").agg(
        F.sum(F.when(F.col("g") == "R", 1).otherwise(0)).alias("cx"),
        F.sum(F.when(F.col("g") == "N", 1).otherwise(0)).alias("cy"),
    )
    w_ord = Window.orderBy("v").rowsBetween(Window.unboundedPreceding, 0)
    w_all = Window.orderBy("v").rowsBetween(
        Window.unboundedPreceding, Window.unboundedFollowing
    )
    cum = dv.select(
        "cx",
        "cy",
        F.sum("cx").over(w_ord).alias("cumx"),
        F.sum("cy").over(w_ord).alias("cumy"),
        F.sum("cx").over(w_all).alias("n"),
        F.sum("cy").over(w_all).alias("m"),
    )
    diff = dec38(F.col("cumx")) * F.col("m") - dec38(F.col("cumy")) * F.col("n")
    s = cum.select(
        "n", "m", (dec38(F.col("cx") + F.col("cy")) * diff * diff).alias("term")
    ).groupBy().agg(
        F.max("n").alias("n"), F.max("m").alias("m"), F.sum("term").alias("num")
    )
    big_n = dec38(F.col("n") + F.col("m"))
    return s.select(
        "n",
        "m",
        round_big_int_ratio(
            F.col("num"), big_n * big_n * F.col("n") * F.col("m"), 9
        ).alias("t_cvm"),
    )


# ---------------------------------------------------------------------------
# 2. Per-term burstiness (variance-to-mean of per-doc counts), top terms
# ---------------------------------------------------------------------------

BURST_TOPK = 20


def _burstiness_oracle() -> str:
    from .corpus import _SQL_TOKENS
    from ..functions.exact import sql_round_big_int_ratio

    return f"""
    WITH toks AS (
      SELECT doc_id, unnest({_SQL_TOKENS}) AS token FROM documents
    ), tc AS (
      SELECT token, doc_id, CAST(count(*) AS BIGINT) AS c
      FROM toks GROUP BY token, doc_id
    ), per_term AS (
      SELECT token,
             CAST(sum(c) AS BIGINT) AS tf,
             CAST(count(*) AS BIGINT) AS df,
             CAST(sum(c * c) AS BIGINT) AS sum_c2
      FROM tc GROUP BY token
    ), d AS (SELECT CAST(count(*) AS BIGINT) AS n_docs FROM documents),
    top AS (
      SELECT p.*, d.n_docs FROM per_term p, d
      ORDER BY tf DESC, token LIMIT {BURST_TOPK}
    )
    SELECT token, tf, df,
           {sql_round_big_int_ratio(
               'n_docs::HUGEINT * sum_c2 - tf::HUGEINT * tf',
               'n_docs::HUGEINT * tf')} AS burstiness_vmr
    FROM top
    """


@register("text_term_burstiness_topk", oracle=_burstiness_oracle())
def text_term_burstiness_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Burstiness (variance-to-mean ratio of per-document counts,
    zero-inclusive) for the top-20 terms by total frequency: VMR = 1
    for a Poisson-scattered term, >1 for a "bursty" content word that
    clumps into few documents — the dispersion dual of tf-idf (df
    measures WHERE a term appears, burstiness measures HOW unevenly),
    the standard content-word/function-word separator.

    VMR over all D docs (including zero-count docs) reduces to
    (D*sum_c2 - tf^2)/(D*tf) — exact integers from the same
    (token, doc) partial aggregation the tf-idf family uses; the
    D-scaling keeps the zero docs implicit so no dense term x doc
    grid is ever materialized. Vocabulary-sized shuffle; top-k via
    (tf DESC, token) total order.
    """
    from ..functions.exact import round_big_int_ratio
    from ..functions.textnorm import whitespace_tokens

    t = Tables(spark, sf_dir)
    toks = t.documents.select(
        "doc_id", F.explode(whitespace_tokens(F.col("text"))).alias("token")
    )
    tc = toks.groupBy("token", "doc_id").agg(F.count(F.lit(1)).alias("c"))
    per_term = tc.groupBy("token").agg(
        F.sum("c").alias("tf"),
        F.count(F.lit(1)).alias("df"),
        F.sum(F.col("c") * F.col("c")).alias("sum_c2"),
    )
    n_docs = t.documents.agg(F.count(F.lit(1)).alias("n_docs"))
    top = (
        per_term.crossJoin(F.broadcast(n_docs))
        .orderBy(F.col("tf").desc(), "token")
        .limit(BURST_TOPK)
    )
    return top.select(
        "token",
        "tf",
        "df",
        round_big_int_ratio(
            dec38(F.col("n_docs")) * F.col("sum_c2") - dec38(F.col("tf")) * F.col("tf"),
            dec38(F.col("n_docs")) * F.col("tf"),
        ).alias("burstiness_vmr"),
    )


# ---------------------------------------------------------------------------
# 3. Interval-union coverage: per-customer activity-window union length
# ---------------------------------------------------------------------------

COVERAGE_WINDOW_DAYS = 30


def _coverage_oracle() -> str:
    from ..functions.exact import sql_round_int_ratio

    return f"""
    WITH iv AS (
      SELECT o_custkey,
             CAST(datediff('day', DATE '1990-01-01', CAST(o_orderdate AS DATE))
               AS BIGINT) AS s
      FROM orders
    ), iv2 AS (
      SELECT o_custkey, s, s + {COVERAGE_WINDOW_DAYS} AS e FROM iv
    ), runs AS (
      SELECT o_custkey, s, e,
             max(e) OVER (PARTITION BY o_custkey ORDER BY s, e
                          ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING)
               AS prev_max_e
      FROM iv2
    ), contrib AS (
      SELECT o_custkey,
             CASE WHEN prev_max_e IS NULL THEN e - s
                  WHEN prev_max_e >= e THEN 0
                  WHEN prev_max_e >= s THEN e - prev_max_e
                  ELSE e - s END AS add_days,
             s, e
      FROM runs
    ), per_cust AS (
      SELECT o_custkey,
             CAST(sum(add_days) AS BIGINT) AS covered_days,
             CAST(max(e) - min(s) AS BIGINT) AS span_days,
             CAST(count(*) AS BIGINT) AS n_windows
      FROM contrib GROUP BY o_custkey
    )
    SELECT CAST(count(*) AS BIGINT) AS n_customers,
           CAST(sum(covered_days) AS BIGINT) AS total_covered_days,
           CAST(max(covered_days) AS BIGINT) AS max_covered_days,
           {sql_round_int_ratio('sum(covered_days)', 'sum(span_days)')}
             AS mean_coverage_ratio,
           CAST(sum(CASE WHEN covered_days < span_days THEN 1 ELSE 0 END)
             AS BIGINT) AS n_customers_with_gaps
    FROM per_cust
    """


@register("dq_interval_union_coverage", oracle=_coverage_oracle())
def dq_interval_union_coverage(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Interval-UNION coverage per customer: treating each order as a
    30-day activity window, compute the union length (overlaps merged)
    of each customer's windows via the classic running-max sweep, then
    report corpus-level coverage stats — the measure dual of the
    overlap-pair audit (``dq_interval_overlap_orders``): overlap
    counts say whether intervals collide, union coverage says how much
    real time they span (SLA uptime, subscription coverage, session
    wall-clock).

    The sweep is one ordered window PER CUSTOMER (partitioned, never
    global): each interval contributes max(0, e - max(s, running max
    of previous ends)) days — exact integer day arithmetic on an
    epoch-anchored day number, summed per customer then one
    constant-size final aggregate with an exact coverage ratio.
    """
    from ..functions.exact import round_int_ratio

    t = Tables(spark, sf_dir)
    iv = t.orders.select(
        "o_custkey",
        F.datediff(F.to_date("o_orderdate"), F.lit("1990-01-01").cast("date"))
        .cast("long")
        .alias("s"),
    ).withColumn("e", F.col("s") + COVERAGE_WINDOW_DAYS)
    w_prev = (
        Window.partitionBy("o_custkey")
        .orderBy("s", "e")
        .rowsBetween(Window.unboundedPreceding, -1)
    )
    runs = iv.select(
        "o_custkey", "s", "e", F.max("e").over(w_prev).alias("prev_max_e")
    )
    add_days = (
        F.when(F.col("prev_max_e").isNull(), F.col("e") - F.col("s"))
        .when(F.col("prev_max_e") >= F.col("e"), F.lit(0))
        .when(F.col("prev_max_e") >= F.col("s"), F.col("e") - F.col("prev_max_e"))
        .otherwise(F.col("e") - F.col("s"))
    )
    per_cust = runs.select("o_custkey", "s", "e", add_days.alias("add_days")).groupBy(
        "o_custkey"
    ).agg(
        F.sum("add_days").alias("covered_days"),
        (F.max("e") - F.min("s")).alias("span_days"),
        F.count(F.lit(1)).alias("n_windows"),
    )
    return per_cust.agg(
        F.count(F.lit(1)).alias("n_customers"),
        F.sum("covered_days").alias("total_covered_days"),
        F.max("covered_days").alias("max_covered_days"),
        round_int_ratio(F.sum("covered_days"), F.sum("span_days")).alias(
            "mean_coverage_ratio"
        ),
        F.sum(F.when(F.col("covered_days") < F.col("span_days"), 1).otherwise(0)).alias(
            "n_customers_with_gaps"
        ),
    )


# ---------------------------------------------------------------------------
# 4. k-anonymity generalization ladder (the repair search, not the audit)
# ---------------------------------------------------------------------------

KANON_K = 5


def _ladder_oracle() -> str:
    return f"""
    WITH base AS (
      SELECT c_nationkey AS nat, c_mktsegment AS seg,
             CAST(floor(c_acctbal / 1000.0) AS BIGINT) AS bal_kb
      FROM customer
    ), classes AS (
      SELECT CASE WHEN grouping(bal_kb) = 0 THEN 0
                  WHEN grouping(seg) = 0 THEN 1
                  ELSE 2 END AS level,
             CAST(count(*) AS BIGINT) AS class_size
      FROM base
      GROUP BY GROUPING SETS ((nat, seg, bal_kb), (nat, seg), (nat))
    )
    SELECT level,
           CASE level WHEN 0 THEN 'nation+segment+balance_kb'
                      WHEN 1 THEN 'nation+segment'
                      ELSE 'nation' END AS quasi_identifier,
           CAST(count(*) AS BIGINT) AS n_classes,
           CAST(min(class_size) AS BIGINT) AS min_class_size,
           CAST(sum(CASE WHEN class_size < {KANON_K} THEN 1 ELSE 0 END)
             AS BIGINT) AS n_classes_below_k,
           CAST(sum(CASE WHEN class_size < {KANON_K} THEN class_size ELSE 0 END)
             AS BIGINT) AS n_rows_below_k,
           min(class_size) >= {KANON_K} AS achieves_k
    FROM classes GROUP BY level ORDER BY level
    """


@register("privacy_generalization_ladder", oracle=_ladder_oracle())
def privacy_generalization_ladder(spark: SparkSession, sf_dir: str) -> DataFrame:
    """k-anonymity generalization ladder: evaluate the SAME k=5
    anonymity criterion at three successive generalizations of the
    quasi-identifier — (nation, segment, $1000-balance-bucket) ->
    (nation, segment) -> (nation) — reporting per level the class
    count, minimum class size, below-k class/row counts, and whether
    the level achieves k. Where ``privacy_k_anonymity_audit`` answers
    "is this release safe?", the ladder answers the repair question
    "how much must I generalize before it becomes safe?" — the core
    loop of Samarati-style full-domain generalization.

    Spark-first: ALL levels come from ONE scan via GROUPING SETS
    (grouping(..) flags recover the level), so the ladder costs one
    shuffle regardless of its depth; the per-level summary is a
    second, |levels|-bounded aggregate.
    """
    t = Tables(spark, sf_dir)
    base = t.customer.select(
        F.col("c_nationkey").alias("nat"),
        F.col("c_mktsegment").alias("seg"),
        F.floor(F.col("c_acctbal") / F.lit(1000.0)).cast("long").alias("bal_kb"),
    )
    classes = (
        base.groupingSets(
            [["nat", "seg", "bal_kb"], ["nat", "seg"], ["nat"]],
            "nat",
            "seg",
            "bal_kb",
        )
        .agg(
            F.count(F.lit(1)).alias("class_size"),
            F.grouping("seg").alias("g_seg"),
            F.grouping("bal_kb").alias("g_bal"),
        )
        .select(
            F.when(F.col("g_bal") == 0, F.lit(0))
            .when(F.col("g_seg") == 0, F.lit(1))
            .otherwise(F.lit(2))
            .alias("level"),
            "class_size",
        )
    )
    return (
        classes.groupBy("level")
        .agg(
            F.count(F.lit(1)).alias("n_classes"),
            F.min("class_size").alias("min_class_size"),
            F.sum(F.when(F.col("class_size") < KANON_K, 1).otherwise(0)).alias(
                "n_classes_below_k"
            ),
            F.sum(
                F.when(F.col("class_size") < KANON_K, F.col("class_size")).otherwise(0)
            ).alias("n_rows_below_k"),
            (F.min("class_size") >= KANON_K).alias("achieves_k"),
        )
        .select(
            "level",
            F.when(F.col("level") == 0, "nation+segment+balance_kb")
            .when(F.col("level") == 1, "nation+segment")
            .otherwise("nation")
            .alias("quasi_identifier"),
            "n_classes",
            "min_class_size",
            "n_classes_below_k",
            "n_rows_below_k",
            "achieves_k",
        )
        .orderBy("level")
    )


# ---------------------------------------------------------------------------
# 7. Murphy decomposition of the Brier score (reliability / resolution /
#    uncertainty) over the classifier deciles
# ---------------------------------------------------------------------------

BRIER_SCALE = 10_000  # score_q unit (1e-4 score quantization)


def _brier_decomp_oracle() -> str:
    from .ml import _scored_labeled_sql
    from ..functions.exact import sql_round_big_int_ratio

    s = BRIER_SCALE
    return (
        _scored_labeled_sql()
        + f"""
    , bins AS (
      SELECT CAST(least(score_q // 1000, 9) AS BIGINT) AS decile,
             CAST(count(*) AS BIGINT) AS n_k,
             CAST(sum(label) AS BIGINT) AS pos_k,
             CAST(sum(score_q) AS BIGINT) AS sum_q_k,
             CAST(sum((score_q - {s} * label)::HUGEINT
                      * (score_q - {s} * label)) AS HUGEINT) AS sq_err_k
      FROM scored GROUP BY 1
    ), tot AS (
      SELECT CAST(sum(n_k) AS BIGINT) AS n,
             CAST(sum(pos_k) AS BIGINT) AS pos,
             CAST(sum(sq_err_k) AS HUGEINT) AS sq_err
      FROM bins
    ), terms AS (
      SELECT b.*, t.n, t.pos, t.sq_err,
             (2 * ((b.sum_q_k - {s} * b.pos_k)::HUGEINT
                   * (b.sum_q_k - {s} * b.pos_k) * 1000000000) + b.n_k)
               // (2::HUGEINT * b.n_k) AS rel_u,
             (2 * ((b.pos_k::HUGEINT * t.n - t.pos::HUGEINT * b.n_k)
                   * (b.pos_k::HUGEINT * t.n - t.pos::HUGEINT * b.n_k)
                   * 1000000000) + b.n_k) // (2::HUGEINT * b.n_k) AS res_u
      FROM bins b, tot t
    )
    SELECT CAST(max(n) AS BIGINT) AS n,
           CAST(max(pos) AS BIGINT) AS n_pos,
           {sql_round_big_int_ratio(
               'max(sq_err)', f'max(n)::HUGEINT * {s} * {s}', 9)} AS brier,
           {sql_round_big_int_ratio(
               'sum(rel_u)',
               f'max(n)::HUGEINT * {s} * {s} * 1000000000', 9)} AS reliability,
           {sql_round_big_int_ratio(
               'sum(res_u)',
               'max(n)::HUGEINT * max(n) * max(n) * 1000000000', 9)} AS resolution,
           {sql_round_big_int_ratio(
               'max(pos)::HUGEINT * (max(n) - max(pos))',
               'max(n)::HUGEINT * max(n)', 9)} AS uncertainty
    FROM terms
    """
    )


@register("ml_brier_decomposition", oracle=_brier_decomp_oracle())
def ml_brier_decomposition(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Murphy decomposition of the quality classifier's Brier score
    over its 10 calibration deciles: BS alongside reliability
    (calibration error — how far bin-mean forecasts sit from bin
    event rates; lower is better), resolution (how much the bins
    separate the base rate; higher is better) and uncertainty (the
    irreducible o(1-o)) — the canonical diagnosis of WHY a Brier
    score is what it is, on top of the raw score
    (``ml_brier_score_by_lang``) and the reliability diagram
    (``ml_calibration_curve``). BS ≈ REL - RES + UNC up to the
    within-bin forecast-variance/covariance terms (non-constant
    forecasts inside a decile); the replica test pins the exact
    residual.

    All four values are exact decimal ratios of integer sufficient
    statistics from ONE document scan + a 10-key aggregate: squared
    errors on the 1e-4 score grid, per-bin REL/RES numerators
    quantized half-up 1e-9 per bin (deterministic in both engines),
    one ratio each at the end. Shuffle volume: 10 rows.
    """
    from .ml import _scored_labeled
    from ..functions.exact import round_big_int_ratio

    s = BRIER_SCALE
    t = Tables(spark, sf_dir)
    sc = _scored_labeled(t)
    err = F.col("score_q") - s * F.col("label")
    bins = sc.groupBy(
        F.least(F.floor(F.col("score_q") / F.lit(1000)), F.lit(9)).cast("long").alias("decile")
    ).agg(
        F.count(F.lit(1)).alias("n_k"),
        F.sum("label").alias("pos_k"),
        F.sum("score_q").alias("sum_q_k"),
        F.sum(dec38(err) * err).alias("sq_err_k"),
    )
    w_all = Window.rowsBetween(Window.unboundedPreceding, Window.unboundedFollowing)
    withtot = bins.select(
        "*",
        F.sum("n_k").over(w_all).alias("n"),
        F.sum("pos_k").over(w_all).alias("pos"),
        F.sum("sq_err_k").over(w_all).alias("sq_err"),
    )
    rel_num = dec38(F.col("sum_q_k") - s * F.col("pos_k"))
    rel_a = F.lit(2).cast("decimal(38,0)") * (rel_num * rel_num * F.lit(10**9)) + F.col("n_k")
    rel_b = F.lit(2).cast("decimal(38,0)") * F.col("n_k")
    res_num = dec38(F.col("pos_k")) * F.col("n") - dec38(F.col("pos")) * F.col("n_k")
    res_a = F.lit(2).cast("decimal(38,0)") * (res_num * res_num * F.lit(10**9)) + F.col("n_k")
    res_b = rel_b
    terms = withtot.select(
        "n",
        "pos",
        "sq_err",
        ((rel_a - rel_a % rel_b) / rel_b).cast("decimal(38,0)").alias("rel_u"),
        ((res_a - res_a % res_b) / res_b).cast("decimal(38,0)").alias("res_u"),
    )
    agg = terms.agg(
        F.max("n").alias("n"),
        F.max("pos").alias("pos"),
        F.max("sq_err").alias("sq_err"),
        F.sum("rel_u").alias("sum_rel_u"),
        F.sum("res_u").alias("sum_res_u"),
    )
    return agg.select(
        F.col("n"),
        F.col("pos").alias("n_pos"),
        round_big_int_ratio(F.col("sq_err"), dec38(F.col("n")) * F.lit(s * s), 9).alias(
            "brier"
        ),
        round_big_int_ratio(
            F.col("sum_rel_u"), dec38(F.col("n")) * F.lit(s * s) * F.lit(10**9), 9
        ).alias("reliability"),
        round_big_int_ratio(
            F.col("sum_res_u"),
            dec38(F.col("n")) * F.col("n") * F.col("n") * F.lit(10**9),
            9,
        ).alias("resolution"),
        round_big_int_ratio(
            dec38(F.col("pos")) * (F.col("n") - F.col("pos")),
            dec38(F.col("n")) * F.col("n"),
            9,
        ).alias("uncertainty"),
    )


# ---------------------------------------------------------------------------
# 8. Page-Hinkley drift detector over the daily order-count series
# ---------------------------------------------------------------------------

PH_DELTA_MILLI = 500  # drift allowance delta = 0.5 counts/day, in 1e-3 units


def _page_hinkley_oracle() -> str:
    return f"""
    WITH daily AS (
      SELECT CAST(o_orderdate AS DATE) AS day,
             CAST(count(*) AS BIGINT) AS x
      FROM orders GROUP BY 1
    ), stat AS (
      SELECT CAST(count(*) AS BIGINT) AS n, CAST(sum(x) AS BIGINT) AS s
      FROM daily
    ), m AS (
      SELECT day, n,
             sum(1000 * n * x - 1000 * s - {PH_DELTA_MILLI} * n)
               OVER (ORDER BY day) AS m_t
      FROM daily, stat
    ), exc AS (
      SELECT day, n, m_t,
             m_t - min(m_t) OVER (ORDER BY day) AS ph_t
      FROM m
    )
    SELECT CAST(max(n) AS BIGINT) AS n_days,
           CAST(max(ph_t) AS BIGINT) AS ph_max_scaled,
           CAST(max(ph_t) AS DOUBLE) / (1000.0 * max(n)) AS ph_max,
           strftime(min(CASE WHEN ph_t = (SELECT max(ph_t) FROM exc)
                         THEN day END), '%Y-%m-%d') AS argmax_day
    FROM exc
    """


@register("stats_page_hinkley_orders", oracle=_page_hinkley_oracle())
def stats_page_hinkley_orders(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Page-Hinkley upward-drift detector over the daily order-count
    series: m_t = sum_{i<=t}(x_i - mean - delta), PH_t = m_t - min m,
    reporting the maximum excursion and its earliest date — the
    sequential mean-shift monitor beside CUSUM
    (``events_cusum_changepoint``, which tracks level shifts without
    the drift allowance) and the retrospective tests (Pettitt,
    binary segmentation). delta = 0.5/day tolerates slow drift; a
    large PH max flags a sustained upward shift.

    Exact integers end-to-end: mean-centering is n-scaled
    (1000*n*x - 1000*S - delta_milli*n per day), so the prefix sums,
    running minimum, and excursion are int64 in n*1e-3 count units;
    the display value divides once. Both ordered passes run on the
    calendar-day series (~2.4k rows), never raw orders.
    """
    t = Tables(spark, sf_dir)
    daily = t.orders.groupBy(F.to_date("o_orderdate").alias("day")).agg(
        F.count(F.lit(1)).alias("x")
    )
    stat = daily.agg(F.count(F.lit(1)).alias("n"), F.sum("x").alias("s"))
    w_ord = Window.orderBy("day").rowsBetween(Window.unboundedPreceding, 0)
    m = daily.crossJoin(F.broadcast(stat)).select(
        "day",
        "n",
        F.sum(
            F.lit(1000) * F.col("n") * F.col("x")
            - F.lit(1000) * F.col("s")
            - F.lit(PH_DELTA_MILLI) * F.col("n")
        )
        .over(w_ord)
        .alias("m_t"),
    )
    exc = m.select(
        "day", "n", (F.col("m_t") - F.min("m_t").over(w_ord)).alias("ph_t")
    )
    w_all = Window.rowsBetween(Window.unboundedPreceding, Window.unboundedFollowing)
    ranked = exc.select(
        "day", "n", "ph_t", F.max("ph_t").over(w_all).alias("ph_max_scaled")
    )
    return ranked.filter(F.col("ph_t") == F.col("ph_max_scaled")).agg(
        F.max("n").alias("n_days"),
        F.max("ph_max_scaled").alias("ph_max_scaled"),
        (
            F.max("ph_max_scaled").cast("double") / (F.lit(1000.0) * F.max("n"))
        ).alias("ph_max"),
        F.date_format(F.min("day"), "yyyy-MM-dd").alias("argmax_day"),
    )


# ---------------------------------------------------------------------------
# 9. Jackknife CI on the classifier AUC (leave-one-bucket-out)
# ---------------------------------------------------------------------------

AUC_JK_BUCKETS = 10


def _auc_jackknife_oracle() -> str:
    from .ml import _scored_labeled_sql
    from ..functions.exact import sql_round_big_int_ratio

    b = AUC_JK_BUCKETS
    return (
        _scored_labeled_sql()
        + f"""
    , bv AS (
      SELECT score_q,
             CAST((('0x' || substr(sha256(CAST(doc_id AS VARCHAR)), 1, 15)))::BIGINT
               % {b} AS BIGINT) AS bucket,
             CAST(count(*) AS BIGINT) AS cnt,
             CAST(sum(label) AS BIGINT) AS cpos
      FROM scored GROUP BY 1, 2
    ), buckets AS (SELECT unnest(range(0, {b})) AS bucket),
    tot AS (
      SELECT score_q, CAST(sum(cnt) AS BIGINT) AS cnt_t,
             CAST(sum(cpos) AS BIGINT) AS cpos_t
      FROM bv GROUP BY score_q
    ), excl AS (
      SELECT bk.bucket, t.score_q,
             t.cnt_t - coalesce(v.cnt, 0) AS cnt,
             t.cpos_t - coalesce(v.cpos, 0) AS cpos
      FROM buckets bk CROSS JOIN tot t
      LEFT JOIN bv v ON v.bucket = bk.bucket AND v.score_q = t.score_q
    ), ranked AS (
      SELECT bucket, cnt, cpos,
             coalesce(sum(cnt) OVER (PARTITION BY bucket ORDER BY score_q
               ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0) AS cum
      FROM excl
    ), per_b AS (
      SELECT bucket,
             CAST(sum(cpos) AS BIGINT) AS n_pos,
             CAST(sum(cnt - cpos) AS BIGINT) AS n_neg,
             CAST(sum(cpos * (2 * cum + cnt + 1)) AS HUGEINT) AS r2
      FROM ranked GROUP BY bucket
    ), theta AS (
      SELECT bucket,
             CAST((2 * ((r2 - n_pos::HUGEINT * (n_pos + 1)) * 1000000000)
                   + 2::HUGEINT * n_pos * n_neg)
               // (2::HUGEINT * 2 * n_pos * n_neg) AS BIGINT) AS theta_u
      FROM per_b WHERE n_pos > 0 AND n_neg > 0
    ), s AS (
      SELECT CAST(count(*) AS BIGINT) AS nb,
             CAST(sum(theta_u) AS BIGINT) AS s1,
             CAST(sum(theta_u::HUGEINT * theta_u) AS HUGEINT) AS s2
      FROM theta
    )
    SELECT nb AS n_buckets,
           {sql_round_big_int_ratio('s1', 'nb::HUGEINT * 1000000000', 9)}
             AS auc_jackknife_mean,
           CAST(floor(sqrt(
             CAST((nb - 1) * (nb * s2 - s1::HUGEINT * s1) AS DOUBLE)
             / (CAST(nb AS DOUBLE) * nb)) / 1000000000.0 * 1000000.0 + 0.5)
             AS BIGINT) / 1000000.0 AS auc_se_jackknife
    FROM s
    """
    )


@register("ml_auc_jackknife_ci", oracle=_auc_jackknife_oracle())
def ml_auc_jackknife_ci(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Delete-one-group jackknife standard error on the classifier
    AUC: documents hash deterministically into 10 buckets, theta_b =
    AUC computed WITHOUT bucket b (exact doubled rank-sums on the
    leave-out score-domain counts), and the jackknife mean/SE follow
    from the 10 thetas — the error bar the point estimates
    (``ml_auc_by_lang``) lack, RNG-free like the block-jackknife mean
    CI (``stats_jackknife_mean_ci``).

    The leave-out trick never rescans documents: one scan builds the
    (score, bucket) count grid; each theta_b is the full-population
    cumulative MINUS the bucket's own counts, an O(|domain| x 10)
    bounded computation. Each theta quantizes half-up 1e-9, so the
    jackknife moments are exact integer sums with one double sqrt at
    the end.
    """
    from .ml import _scored_labeled
    from ..functions.exact import round_big_int_ratio
    from ..functions.textnorm import sha256_prefix_i64

    b = AUC_JK_BUCKETS
    t = Tables(spark, sf_dir)
    sc = _scored_labeled(t).select(
        "score_q",
        "label",
        (sha256_prefix_i64(F.col("doc_id").cast("string")) % b).alias("bucket"),
    )
    from ..functions.partitioning import iter_checkpoint

    # the (score, bucket) grid is consumed twice (totals + the
    # leave-out join); without a lineage cut the expensive per-token
    # scoring scan upstream runs once per consumer (measured 6.9x at
    # the x10 fixture). The grid itself is domain-bounded
    # (<= 10001 scores x 10 buckets), so the cut is cheap.
    bv = iter_checkpoint(
        sc.groupBy("score_q", "bucket").agg(
            F.count(F.lit(1)).alias("cnt"), F.sum("label").alias("cpos")
        )
    )
    tot = bv.groupBy("score_q").agg(
        F.sum("cnt").alias("cnt_t"), F.sum("cpos").alias("cpos_t")
    )
    buckets = spark.range(b).select(F.col("id").alias("bucket"))
    excl = (
        buckets.crossJoin(tot)
        .join(bv, ["bucket", "score_q"], "left")
        .select(
            "bucket",
            "score_q",
            (F.col("cnt_t") - F.coalesce(F.col("cnt"), F.lit(0))).alias("cnt"),
            (F.col("cpos_t") - F.coalesce(F.col("cpos"), F.lit(0))).alias("cpos"),
        )
    )
    w_prev = (
        Window.partitionBy("bucket")
        .orderBy("score_q")
        .rowsBetween(Window.unboundedPreceding, -1)
    )
    ranked = excl.select(
        "bucket",
        "cnt",
        "cpos",
        F.coalesce(F.sum("cnt").over(w_prev), F.lit(0)).alias("cum"),
    )
    per_b = ranked.groupBy("bucket").agg(
        F.sum("cpos").alias("n_pos"),
        F.sum(F.col("cnt") - F.col("cpos")).alias("n_neg"),
        F.sum(dec38(F.col("cpos")) * (2 * F.col("cum") + F.col("cnt") + 1)).alias("r2"),
    )
    th_num = (F.col("r2") - dec38(F.col("n_pos")) * (F.col("n_pos") + 1)) * F.lit(10**9)
    th_den = F.lit(2).cast("decimal(38,0)") * F.col("n_pos") * F.col("n_neg")
    th_a = F.lit(2).cast("decimal(38,0)") * th_num + th_den
    th_b = F.lit(2).cast("decimal(38,0)") * th_den
    # a leave-one-bucket-out sample with n_pos=0 or n_neg=0 (degenerate
    # fuzz corpora) has no defined AUC: theta would be NULL on the
    # Spark side (decimal div by zero) while nb still counted the row
    # and the engines' div-by-zero semantics differ — drop degenerate
    # buckets in BOTH engines instead (ADVICE r8).
    theta = (
        per_b.filter((F.col("n_pos") > 0) & (F.col("n_neg") > 0))
        .select(((th_a - th_a % th_b) / th_b).cast("long").alias("theta_u"))
    )
    s = theta.agg(
        F.count(F.lit(1)).alias("nb"),
        F.sum("theta_u").alias("s1"),
        F.sum(dec38(F.col("theta_u")) * F.col("theta_u")).alias("s2"),
    )
    nb = F.col("nb")
    var_num = (
        (dec38(nb) - 1) * (dec38(nb) * F.col("s2") - dec38(F.col("s1")) * F.col("s1"))
    ).cast("double")
    se = F.sqrt(var_num / (nb.cast("double") * nb)) / F.lit(1e9)
    return s.select(
        nb.alias("n_buckets"),
        round_big_int_ratio(F.col("s1"), dec38(nb) * F.lit(10**9), 9).alias(
            "auc_jackknife_mean"
        ),
        (F.floor(se * F.lit(1e6) + F.lit(0.5)).cast("long") / F.lit(1e6)).alias(
            "auc_se_jackknife"
        ),
    )


# ---------------------------------------------------------------------------
# 10. Ansari-Bradley scale test: quantity dispersion, returned vs rest
# ---------------------------------------------------------------------------


def _ansari_oracle() -> str:
    return """
    WITH c AS (
      SELECT l_returnflag AS g, CAST(l_quantity AS BIGINT) AS v
      FROM lineitem WHERE l_returnflag IN ('R', 'N') AND l_quantity IS NOT NULL
    ), dv AS (
      SELECT v,
             CAST(sum(CASE WHEN g = 'R' THEN 1 ELSE 0 END) AS BIGINT) AS cx,
             CAST(sum(CASE WHEN g = 'N' THEN 1 ELSE 0 END) AS BIGINT) AS cy
      FROM c GROUP BY v
    ), cum AS (
      SELECT v, cx, cy,
             2 * (sum(cx + cy) OVER (ORDER BY v) - (cx + cy)) + (cx + cy) + 1
               AS r2,
             sum(cx) OVER () AS n, sum(cy) OVER () AS m
      FROM dv
    ), scored AS (
      SELECT cx, cy, n, m,
             least(r2, 2 * (n + m + 1) - r2) AS s2
      FROM cum
    )
    SELECT CAST(max(n) AS BIGINT) AS n,
           CAST(max(m) AS BIGINT) AS m,
           CAST(sum(cx * s2) AS BIGINT) AS ab2,
           CAST(CASE WHEN (max(n) + max(m)) % 2 = 0
                THEN max(n) * (max(n) + max(m) + 2) / 2
                ELSE max(n) * (max(n) + max(m) + 1) * (max(n) + max(m) + 1)
                     / (2 * (max(n) + max(m))) END AS BIGINT) AS ab2_null_mean
    FROM scored
    """


@register("stats_ansari_bradley_quantity", oracle=_ansari_oracle())
def stats_ansari_bradley_quantity(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Ansari-Bradley rank SCALE test on quantity between returned
    ('R') and non-returned ('N') lines: rank from both ends inward
    (score = min(rank, N+1-rank), small scores at the extremes), sum
    the scores of sample 1 — a low sum means sample 1 sits in the
    tails, i.e. has larger dispersion. The scale companion of the
    location tests (Mann-Whitney/Mood): same rank machinery, opposite
    question; Levene tests scale via moments, AB via ranks.

    Convention (documented because ties matter): mid-ranks on the
    pooled distinct-value domain, kept exact by DOUBLED ranks
    (2*cum_before + c + 1) and doubled scores s2 = min(r2, 2(N+1)-r2),
    so AB2 = 2*AB is an exact integer; the no-tie null mean (doubled,
    parity-dependent closed form) is reported alongside for the
    direction read. Ranking happens on the <= 50-value domain —
    nothing row-scaled after the partial aggregation.
    """
    t = Tables(spark, sf_dir)
    c = t.lineitem.filter(
        F.col("l_returnflag").isin("R", "N") & F.col("l_quantity").isNotNull()
    ).select(F.col("l_returnflag").alias("g"), F.col("l_quantity").cast("long").alias("v"))
    dv = c.groupBy("v").agg(
        F.sum(F.when(F.col("g") == "R", 1).otherwise(0)).alias("cx"),
        F.sum(F.when(F.col("g") == "N", 1).otherwise(0)).alias("cy"),
    )
    w_ord = Window.orderBy("v").rowsBetween(Window.unboundedPreceding, 0)
    w_all = Window.orderBy("v").rowsBetween(
        Window.unboundedPreceding, Window.unboundedFollowing
    )
    ct = F.col("cx") + F.col("cy")
    cum = dv.select(
        "cx",
        "cy",
        (2 * (F.sum(ct).over(w_ord) - ct) + ct + 1).alias("r2"),
        F.sum("cx").over(w_all).alias("n"),
        F.sum("cy").over(w_all).alias("m"),
    )
    s2 = F.least(F.col("r2"), 2 * (F.col("n") + F.col("m") + 1) - F.col("r2"))
    scored = cum.select("cx", "n", "m", s2.alias("s2"))
    agg = scored.agg(
        F.max("n").alias("n"),
        F.max("m").alias("m"),
        F.sum(F.col("cx") * F.col("s2")).alias("ab2"),
    )
    n, m = F.col("n"), F.col("m")
    big = n + m
    even_mean = n * (big + 2)
    odd_mean = n * (big + 1) * (big + 1)
    mean2 = F.when(
        big % 2 == 0,
        ((even_mean - even_mean % 2) / 2).cast("long"),
    ).otherwise(((odd_mean - odd_mean % (2 * big)) / (2 * big)).cast("long"))
    return agg.select("n", "m", "ab2", mean2.alias("ab2_null_mean"))


# ---------------------------------------------------------------------------
# 12. DAU/MAU stickiness per month
# ---------------------------------------------------------------------------


def _stickiness_oracle() -> str:
    from ..functions.exact import sql_round_int_ratio

    return f"""
    WITH daily AS (
      SELECT strftime(CAST(ts AS DATE), '%Y-%m') AS month,
             CAST(ts AS DATE) AS day,
             CAST(count(DISTINCT user_id) AS BIGINT) AS dau
      FROM events GROUP BY 1, 2
    ), monthly AS (
      SELECT strftime(CAST(ts AS DATE), '%Y-%m') AS month,
             CAST(count(DISTINCT user_id) AS BIGINT) AS mau
      FROM events GROUP BY 1
    ), d AS (
      SELECT month, CAST(sum(dau) AS BIGINT) AS sum_dau,
             CAST(count(*) AS BIGINT) AS n_days
      FROM daily GROUP BY month
    )
    SELECT d.month, d.n_days, d.sum_dau, m.mau,
           {sql_round_int_ratio('d.sum_dau', 'd.n_days * m.mau')} AS stickiness
    FROM d JOIN monthly m ON m.month = d.month
    ORDER BY d.month
    """


@register("events_dau_mau_stickiness", oracle=_stickiness_oracle())
def events_dau_mau_stickiness(spark: SparkSession, sf_dir: str) -> DataFrame:
    """DAU/MAU stickiness per calendar month: mean daily active users
    over monthly active users — the standard product-engagement ratio
    (1.0 = every monthly user active every day), computed as
    sum(DAU)/(active_days * MAU) so it is ONE exact integer ratio.
    Completes the engagement family (rolling actives, weekly
    retention, cumulative distinct) with the canonical headline
    metric.

    Two distinct-aggregations (day grain, month grain) — both shuffle
    on (period, user) with map-side partial dedup — joined on the
    |months|-bounded key; the ratio is exact half-up 6dp.
    """
    from ..functions.exact import round_int_ratio

    t = Tables(spark, sf_dir)
    month = F.date_format(F.col("ts"), "yyyy-MM").alias("month")
    daily = t.events.groupBy(month, F.to_date("ts").alias("day")).agg(
        F.countDistinct("user_id").alias("dau")
    )
    monthly = t.events.groupBy(month).agg(F.countDistinct("user_id").alias("mau"))
    d = daily.groupBy("month").agg(
        F.sum("dau").alias("sum_dau"), F.count(F.lit(1)).alias("n_days")
    )
    return (
        d.join(monthly, "month")
        .select(
            "month",
            "n_days",
            "sum_dau",
            "mau",
            round_int_ratio(F.col("sum_dau"), F.col("n_days") * F.col("mau")).alias(
                "stickiness"
            ),
        )
        .orderBy("month")
    )


# ---------------------------------------------------------------------------
# 13. Sentence-length profile per language
# ---------------------------------------------------------------------------


def _sentence_oracle() -> str:
    from ..functions.exact import sql_round_int_ratio

    return f"""
    WITH sents AS (
      SELECT lang, trim(regexp_replace(lower(s), '\\s+', ' ', 'g')) AS sn
      FROM (SELECT lang, unnest(string_split_regex(text, '[.!?]+')) AS s
            FROM documents)
    ), ns AS (
      SELECT lang, len(string_split(sn, ' ')) AS n_tokens
      FROM sents WHERE sn <> ''
    )
    SELECT lang,
           CAST(count(*) AS BIGINT) AS n_sentences,
           CAST(sum(n_tokens) AS BIGINT) AS n_tokens,
           {sql_round_int_ratio('sum(n_tokens)', 'count(*)')}
             AS mean_sentence_len,
           CAST(max(n_tokens) AS BIGINT) AS max_sentence_len
    FROM ns GROUP BY lang ORDER BY lang
    """


@register("text_sentence_length_profile", oracle=_sentence_oracle())
def text_sentence_length_profile(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Sentence-length profile per language: split documents on
    terminal punctuation runs ([.!?]+), normalize each sentence, and
    report sentence count, token volume, exact mean tokens/sentence
    and the maximum — the segment-grain member of the text-statistics
    family (doc-grain length stats and token-grain entropy exist;
    quality heuristics like "mean sentence length between 5 and 40"
    are standard corpus gates, cf. Gopher rules).

    One explode + one |langs|-bounded aggregation; the sentence split
    and whitespace normalization are engine-twinned expressions
    (regexp split / collapse), the mean is an exact half-up ratio.
    """
    from ..functions.exact import round_int_ratio

    t = Tables(spark, sf_dir)
    sents = t.documents.select(
        "lang", F.explode(F.split(F.col("text"), r"[.!?]+")).alias("s")
    ).select(
        "lang",
        F.trim(F.regexp_replace(F.lower(F.col("s")), r"\s+", " ")).alias("sn"),
    )
    ns = sents.filter(F.col("sn") != "").select(
        "lang", F.size(F.split(F.col("sn"), " ")).cast("long").alias("n_tokens")
    )
    return (
        ns.groupBy("lang")
        .agg(
            F.count(F.lit(1)).alias("n_sentences"),
            F.sum("n_tokens").alias("n_tokens"),
            round_int_ratio(F.sum("n_tokens"), F.count(F.lit(1))).alias(
                "mean_sentence_len"
            ),
            F.max("n_tokens").alias("max_sentence_len"),
        )
        .orderBy("lang")
    )


# ---------------------------------------------------------------------------
# 14. LSH recall audit vs the exact brute-force cosine top-k
# ---------------------------------------------------------------------------


def _lsh_recall_oracle() -> str:
    from .similarity import N_QUERIES, TOP_K, _ann_topk_oracle
    from ..functions.exact import sql_round_int_ratio

    # exact side: the same SQL knn_brute_cosine registers as its oracle
    exact = f"""
    WITH scored AS (
      SELECT q.vec_id AS query_id, c.vec_id AS neighbor_id,
             round(list_cosine_similarity(q.embedding::DOUBLE[], c.embedding::DOUBLE[]), 6)
               AS cosine
      FROM embeddings q JOIN embeddings c
        ON q.vec_id < {N_QUERIES} AND c.vec_id <> q.vec_id
    )
    SELECT query_id, neighbor_id
    FROM (SELECT *, row_number() OVER (PARTITION BY query_id
                                       ORDER BY cosine DESC, neighbor_id) AS rnk
          FROM scored)
    WHERE rnk <= {TOP_K}
    """
    return f"""
    WITH exact_topk AS MATERIALIZED ({exact}),
    lsh_topk AS MATERIALIZED (
      SELECT query_id, neighbor_id FROM ({_ann_topk_oracle()})
    ), hits AS (
      SELECT e.query_id, CAST(count(l.neighbor_id) AS BIGINT) AS n_hits
      FROM exact_topk e
      LEFT JOIN lsh_topk l
        ON l.query_id = e.query_id AND l.neighbor_id = e.neighbor_id
      GROUP BY e.query_id
    )
    SELECT CAST(count(*) AS BIGINT) AS n_queries,
           CAST({TOP_K} AS BIGINT) AS k,
           CAST(sum(n_hits) AS BIGINT) AS n_hits_total,
           CAST(min(n_hits) AS BIGINT) AS min_hits_per_query,
           {sql_round_int_ratio('sum(n_hits)', f'count(*) * {TOP_K}')}
             AS recall_at_k
    FROM hits
    """


@register("similarity_lsh_recall_audit", oracle=_lsh_recall_oracle())
def similarity_lsh_recall_audit(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Recall@10 of the banded-LSH ANN index against the exact
    brute-force cosine top-k, AS A REGISTERED QUERY — completing the
    approximate-operator audit trio (IVF-PQ recall and MinHash recall
    are registered; the plain LSH path was measured only by the
    offline tool). The audit output is deterministic (both sides are
    deterministic operators), so it hash-verifies rather than
    "approximately matches".

    Composes the two registered operators unchanged (exact side =
    ``knn_brute_cosine``, approx side = ``ann_lsh_topk``) and
    left-joins their (query, neighbor) sets — the recall is an exact
    integer ratio over n_queries * k. Cost is the two operators' own
    plans plus a probe-set-sized join.
    """
    from .similarity import TOP_K, ann_lsh_topk, knn_brute_cosine
    from ..functions.exact import round_int_ratio

    exact = knn_brute_cosine(spark, sf_dir).select("query_id", "neighbor_id")
    lsh = ann_lsh_topk(spark, sf_dir).select(
        F.col("query_id").alias("ql"), F.col("neighbor_id").alias("nl")
    )
    hits = (
        exact.join(
            lsh,
            (F.col("query_id") == F.col("ql")) & (F.col("neighbor_id") == F.col("nl")),
            "left",
        )
        .groupBy("query_id")
        .agg(F.count(F.col("nl")).alias("n_hits"))
    )
    return hits.agg(
        F.count(F.lit(1)).alias("n_queries"),
        F.lit(TOP_K).cast("long").alias("k"),
        F.sum("n_hits").alias("n_hits_total"),
        F.min("n_hits").alias("min_hits_per_query"),
        round_int_ratio(F.sum("n_hits"), F.count(F.lit(1)) * TOP_K).alias(
            "recall_at_k"
        ),
    )


# ---------------------------------------------------------------------------
# 15. Skyline (Pareto-optimal set): cheapest-largest parts
# ---------------------------------------------------------------------------


def _skyline_oracle() -> str:
    return """
    WITH p AS (
      SELECT p_partkey,
             CAST(floor(p_retailprice * 100.0 + 0.5) AS BIGINT) AS price_c,
             CAST(p_size AS BIGINT) AS size
      FROM part WHERE p_retailprice IS NOT NULL AND p_size IS NOT NULL
    ), curve AS (
      SELECT price_c, CAST(max(size) AS BIGINT) AS max_size
      FROM p GROUP BY price_c
    ), sky AS (
      SELECT price_c, max_size,
             max(max_size) OVER (ORDER BY price_c
               RANGE BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING) AS best_lt
      FROM curve
    ), frontier AS (
      SELECT price_c, max_size FROM sky
      WHERE best_lt IS NULL OR max_size > best_lt
    )
    SELECT pt.p_partkey AS partkey,
           CAST(f.price_c AS DOUBLE) / 100.0 AS price,
           f.max_size AS size
    FROM frontier f
    JOIN p pt ON pt.price_c = f.price_c AND pt.size = f.max_size
    ORDER BY price, partkey
    """


@register("relational_skyline_pareto", oracle=_skyline_oracle())
def relational_skyline_pareto(spark: SparkSession, sf_dir: str) -> DataFrame:
    """2-D skyline (Pareto-optimal set) of parts under (minimize
    retail price, maximize size): a part is on the frontier iff no
    other part is both no-more-expensive and no-smaller with at least
    one strict improvement — the preference-query operator family
    (skyline/top-k-dominating) the relational surface lacked.

    The dominance test never runs pairwise: within a price only the
    max-size rows can survive, so the scan collapses to the distinct
    price-cents curve (value-domain-bounded) first; on that curve a
    part survives iff its size strictly exceeds the running max over
    all strictly cheaper prices — one RANGE-frame cumulative on the
    collapsed domain, then a join back to emit every part attaining a
    frontier point. Exact integer cents/size arithmetic throughout.
    """
    t = Tables(spark, sf_dir)
    p = t.part.filter(
        F.col("p_retailprice").isNotNull() & F.col("p_size").isNotNull()
    ).select(
        "p_partkey",
        F.floor(F.col("p_retailprice") * F.lit(100.0) + F.lit(0.5))
        .cast("long")
        .alias("price_c"),
        F.col("p_size").cast("long").alias("size"),
    )
    curve = p.groupBy("price_c").agg(F.max("size").alias("max_size"))
    w_lt = Window.orderBy("price_c").rangeBetween(Window.unboundedPreceding, -1)
    sky = curve.select(
        "price_c", "max_size", F.max("max_size").over(w_lt).alias("best_lt")
    )
    frontier = sky.filter(
        F.col("best_lt").isNull() | (F.col("max_size") > F.col("best_lt"))
    ).select("price_c", "max_size")
    return (
        frontier.join(
            p,
            (p.price_c == frontier.price_c) & (p.size == frontier.max_size),
        )
        .select(
            F.col("p_partkey").alias("partkey"),
            (frontier.price_c.cast("double") / F.lit(100.0)).alias("price"),
            F.col("max_size").alias("size"),
        )
        .orderBy("price", "partkey")
    )


# ---------------------------------------------------------------------------
# 16. Two-way ANOVA: price by return flag x order priority
# ---------------------------------------------------------------------------


def _anova2_oracle() -> str:
    hup = "(2 * ({num}) * 1000000 + ({den})) // (2::HUGEINT * ({den}))"
    t2n = lambda T, n: hup.format(num=f"({T})::HUGEINT * ({T})", den=n)  # noqa: E731
    return f"""
    WITH c AS (
      SELECT l.l_returnflag AS fa, o.o_orderpriority AS fb,
             CAST(floor(l.l_extendedprice) AS BIGINT) AS x
      FROM lineitem l JOIN orders o ON o.o_orderkey = l.l_orderkey
      WHERE l.l_extendedprice IS NOT NULL
    ), cells AS (
      SELECT fa, fb, CAST(count(*) AS BIGINT) AS n_ab,
             CAST(sum(x::HUGEINT) AS HUGEINT) AS t_ab,
             CAST(sum(x::HUGEINT * x) AS HUGEINT) AS sx2_ab
      FROM c GROUP BY fa, fb
    ), qcell AS (
      SELECT fa, fb, n_ab, t_ab, sx2_ab,
             {t2n('t_ab', 'n_ab')} AS q_ab
      FROM cells
    ), a AS (
      SELECT fa, CAST(sum(n_ab) AS BIGINT) AS n_a,
             CAST(sum(t_ab) AS HUGEINT) AS t_a
      FROM cells GROUP BY fa
    ), qa AS (SELECT fa, {t2n('t_a', 'n_a')} AS q_a FROM a),
    b AS (
      SELECT fb, CAST(sum(n_ab) AS BIGINT) AS n_b,
             CAST(sum(t_ab) AS HUGEINT) AS t_b
      FROM cells GROUP BY fb
    ), qb AS (SELECT fb, {t2n('t_b', 'n_b')} AS q_b FROM b),
    tot AS (
      SELECT CAST(sum(n_ab) AS BIGINT) AS n,
             CAST(sum(t_ab) AS HUGEINT) AS t,
             CAST(sum(sx2_ab) AS HUGEINT) AS sx2,
             CAST(count(*) AS BIGINT) AS n_cells,
             CAST(count(DISTINCT fa) AS BIGINT) AS ka,
             CAST(count(DISTINCT fb) AS BIGINT) AS kb
      FROM cells
    ), q AS (
      SELECT tot.*, {t2n('t', 'n')} AS q_t,
             (SELECT CAST(sum(q_ab) AS HUGEINT) FROM qcell) AS q_cells,
             (SELECT CAST(sum(q_a) AS HUGEINT) FROM qa) AS q_as,
             (SELECT CAST(sum(q_b) AS HUGEINT) FROM qb) AS q_bs
      FROM tot
    ), ss AS (
      SELECT ka - 1 AS df_a, kb - 1 AS df_b,
             (ka - 1) * (kb - 1) AS df_ab,
             n - n_cells AS df_e, n - 1 AS df_t,
             greatest(q_as - q_t, 0) AS ss_a_u,
             greatest(q_bs - q_t, 0) AS ss_b_u,
             greatest(q_cells - q_as - q_bs + q_t, 0) AS ss_ab_u,
             greatest(sx2 * 1000000 - q_cells, 0) AS ss_e_u,
             greatest(sx2 * 1000000 - q_t, 0) AS ss_t_u
      FROM q
    ), rows_ AS (
      SELECT 'A:return_flag' AS source, df_a AS df, ss_a_u AS ss_u,
             df_e, ss_e_u FROM ss
      UNION ALL SELECT 'B:order_priority', df_b, ss_b_u, df_e, ss_e_u FROM ss
      UNION ALL SELECT 'AxB', df_ab, ss_ab_u, df_e, ss_e_u FROM ss
      UNION ALL SELECT 'error', df_e, ss_e_u, df_e, ss_e_u FROM ss
      UNION ALL SELECT 'total', df_t, ss_t_u, df_e, ss_e_u FROM ss
    )
    SELECT source, CAST(df AS BIGINT) AS df,
           CAST(ss_u AS VARCHAR) AS ss_micro_units,
           CAST((2 * ss_u + df::HUGEINT * 1000) // (2::HUGEINT * df * 1000)
             AS VARCHAR) AS ms_milli_units,
           CASE WHEN source IN ('A:return_flag', 'B:order_priority', 'AxB')
                THEN CAST((2 * (ss_u * df_e * 1000000)
                           + ss_e_u::HUGEINT * df)
                      // (2::HUGEINT * ss_e_u * df) AS BIGINT) / 1000000.0
           END AS f_stat
    FROM rows_ ORDER BY source
    """


@register("stats_two_way_anova_price", oracle=_anova2_oracle())
def stats_two_way_anova_price(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Two-way ANOVA of line price by return flag (3 levels) x order
    priority (5 levels): the full sums-of-squares table (A, B, AxB
    interaction, error, total) with degrees of freedom, mean squares
    and F statistics — extending the one-way family (Welch ANOVA,
    Kruskal-Wallis) to factorial designs, the "does the discount
    effect differ by priority" question.

    Convention (unbalanced data): classical method-of-moments sums
    SS_A = sum T_a^2/n_a - T^2/N etc., with each T^2/n term quantized
    half-up to 1e-6 BEFORE differencing (deterministic cross-engine;
    the raw T^2 products need int128/decimal). Everything reduces on
    the 15-cell (flag x priority) grid from ONE fact-join scan; the
    F ratios are one double division of quantized values, floor-
    half-up displayed.
    """
    t = Tables(spark, sf_dir)
    c = (
        t.lineitem.filter(F.col("l_extendedprice").isNotNull())
        .join(
            t.orders.select("o_orderkey", "o_orderpriority"),
            t.lineitem.l_orderkey == F.col("o_orderkey"),
        )
        .select(
            F.col("l_returnflag").alias("fa"),
            F.col("o_orderpriority").alias("fb"),
            F.floor(F.col("l_extendedprice")).cast("long").alias("x"),
        )
    )
    cells = c.groupBy("fa", "fb").agg(
        F.count(F.lit(1)).alias("n_ab"),
        F.sum(dec38(F.col("x"))).alias("t_ab"),
        F.sum(dec38(F.col("x")) * F.col("x")).alias("sx2_ab"),
    )

    def q_term(tcol, ncol):
        a = F.lit(2).cast("decimal(38,0)") * (tcol * tcol * F.lit(10**6)) + ncol
        b = F.lit(2).cast("decimal(38,0)") * ncol
        return ((a - a % b) / b).cast("decimal(38,0)")

    qcell = cells.select(q_term(F.col("t_ab"), F.col("n_ab")).alias("q_ab"))
    a = cells.groupBy("fa").agg(
        F.sum("n_ab").alias("n_a"), F.sum("t_ab").alias("t_a")
    )
    qa = a.select(q_term(F.col("t_a"), F.col("n_a")).alias("q_a"))
    b = cells.groupBy("fb").agg(
        F.sum("n_ab").alias("n_b"), F.sum("t_ab").alias("t_b")
    )
    qb = b.select(q_term(F.col("t_b"), F.col("n_b")).alias("q_b"))
    tot = cells.agg(
        F.sum("n_ab").alias("n"),
        F.sum("t_ab").alias("t"),
        F.sum("sx2_ab").alias("sx2"),
        F.count(F.lit(1)).alias("n_cells"),
        F.countDistinct("fa").alias("ka"),
        F.countDistinct("fb").alias("kb"),
    )
    q = (
        tot.withColumn("q_t", q_term(F.col("t"), F.col("n")))
        .crossJoin(F.broadcast(qcell.agg(F.sum("q_ab").alias("q_cells"))))
        .crossJoin(F.broadcast(qa.agg(F.sum("q_a").alias("q_as"))))
        .crossJoin(F.broadcast(qb.agg(F.sum("q_b").alias("q_bs"))))
    )
    zero = F.lit(0).cast("decimal(38,0)")
    ss = q.select(
        (F.col("ka") - 1).alias("df_a"),
        (F.col("kb") - 1).alias("df_b"),
        ((F.col("ka") - 1) * (F.col("kb") - 1)).alias("df_ab"),
        (F.col("n") - F.col("n_cells")).alias("df_e"),
        (F.col("n") - 1).alias("df_t"),
        F.greatest(F.col("q_as") - F.col("q_t"), zero).alias("ss_a_u"),
        F.greatest(F.col("q_bs") - F.col("q_t"), zero).alias("ss_b_u"),
        F.greatest(
            F.col("q_cells") - F.col("q_as") - F.col("q_bs") + F.col("q_t"), zero
        ).alias("ss_ab_u"),
        F.greatest(F.col("sx2") * F.lit(10**6) - F.col("q_cells"), zero).alias(
            "ss_e_u"
        ),
        F.greatest(F.col("sx2") * F.lit(10**6) - F.col("q_t"), zero).alias("ss_t_u"),
    )
    rows = ss.select(
        F.expr(
            "stack(5,"
            " 'A:return_flag', df_a, ss_a_u,"
            " 'B:order_priority', df_b, ss_b_u,"
            " 'AxB', df_ab, ss_ab_u,"
            " 'error', df_e, ss_e_u,"
            " 'total', df_t, ss_t_u) AS (source, df, ss_u)"
        ),
        "df_e",
        "ss_e_u",
    )
    # ss/ms stay EXACT integer-unit decimals rendered as strings — at
    # fuzz magnitudes ss_u exceeds 2^53 and the decimal->double casts
    # of the two engines disagree in the last ulp (caught by the fuzz
    # gate); f is an exact half-up decimal ratio, always small.
    two = F.lit(2).cast("decimal(38,0)")
    ms_a = two * F.col("ss_u") + dec38(F.col("df")) * 1000
    ms_b = two * dec38(F.col("df")) * 1000
    f_num = F.col("ss_u") * F.col("df_e") * F.lit(10**6)
    f_den = F.col("ss_e_u") * F.col("df")
    f_a = two * f_num + f_den
    f_b = two * f_den
    return rows.select(
        "source",
        F.col("df").cast("long").alias("df"),
        F.col("ss_u").cast("string").alias("ss_micro_units"),
        ((ms_a - ms_a % ms_b) / ms_b)
        .cast("decimal(38,0)")
        .cast("string")
        .alias("ms_milli_units"),
        F.when(
            F.col("source").isin("A:return_flag", "B:order_priority", "AxB"),
            ((f_a - f_a % f_b) / f_b).cast("long") / F.lit(1e6),
        ).alias("f_stat"),
    ).orderBy("source")


# ---------------------------------------------------------------------------
# 17. Expected / maximum calibration error over the classifier deciles
# ---------------------------------------------------------------------------


def _ece_oracle() -> str:
    from .ml import _scored_labeled_sql
    from ..functions.exact import sql_round_big_int_ratio, sql_round_int_ratio

    s = 10_000
    return (
        _scored_labeled_sql()
        + f"""
    , bins AS (
      SELECT CAST(least(score_q // 1000, 9) AS BIGINT) AS decile,
             CAST(count(*) AS BIGINT) AS n_k,
             CAST(sum(label) AS BIGINT) AS pos_k,
             CAST(sum(score_q) AS BIGINT) AS sum_q_k
      FROM scored GROUP BY 1
    ), gaps AS (
      SELECT decile, n_k,
             abs(sum_q_k - {s} * pos_k) AS gap_u
      FROM bins
    )
    SELECT CAST(sum(n_k) AS BIGINT) AS n,
           CAST(count(*) AS BIGINT) AS n_bins,
           {sql_round_big_int_ratio('sum(gap_u)', f'{s}::HUGEINT * sum(n_k)', 9)}
             AS ece,
           max({sql_round_int_ratio('gap_u', f'{s} * n_k', 9)}) AS mce
    FROM gaps
    """
    )


@register("ml_expected_calibration_error", oracle=_ece_oracle())
def ml_expected_calibration_error(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Expected and maximum calibration error of the quality
    classifier over its 10 score deciles: ECE = sum_k (n_k/N) *
    |mean_score_k - frac_pos_k| (the headline number quoted for
    forecast calibration) and MCE = the worst single bin — the scalar
    summaries of the reliability diagram (``ml_calibration_curve``)
    and the absolute-error sibling of the Brier reliability term.

    The per-bin gap |sum_q_k - s*pos_k| is an exact integer on the
    1e-4 score grid, so ECE reduces to ONE exact decimal ratio
    sum(gap)/(s*N) with no per-bin division at all; MCE takes the max
    of exact per-bin half-up ratios. One scan, 10-row aggregate.
    """
    from .ml import _scored_labeled
    from ..functions.exact import round_big_int_ratio, round_int_ratio

    s = 10_000
    t = Tables(spark, sf_dir)
    sc = _scored_labeled(t)
    bins = sc.groupBy(
        F.least(F.floor(F.col("score_q") / F.lit(1000)), F.lit(9)).cast("long").alias("decile")
    ).agg(
        F.count(F.lit(1)).alias("n_k"),
        F.sum("label").alias("pos_k"),
        F.sum("score_q").alias("sum_q_k"),
    )
    gaps = bins.select(
        "n_k", F.abs(F.col("sum_q_k") - s * F.col("pos_k")).alias("gap_u")
    )
    return gaps.agg(
        F.sum("n_k").alias("n"),
        F.count(F.lit(1)).alias("n_bins"),
        round_big_int_ratio(
            F.sum("gap_u"), F.lit(s).cast("decimal(38,0)") * F.sum("n_k"), 9
        ).alias("ece"),
        F.max(round_int_ratio(F.col("gap_u"), F.lit(s) * F.col("n_k"), 9)).alias("mce"),
    )


# ---------------------------------------------------------------------------
# 18. Youden-J optimal threshold over the full score domain
# ---------------------------------------------------------------------------


def _youden_oracle() -> str:
    from .ml import _scored_labeled_sql

    return (
        _scored_labeled_sql()
        + """
    , dv AS (
      SELECT score_q, CAST(count(*) AS BIGINT) AS cnt,
             CAST(sum(label) AS BIGINT) AS cpos
      FROM scored GROUP BY score_q
    ), cum AS (
      SELECT score_q,
             coalesce(sum(cpos) OVER (ORDER BY score_q
               ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0) AS pos_lt,
             coalesce(sum(cnt - cpos) OVER (ORDER BY score_q
               ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0) AS neg_lt,
             sum(cpos) OVER () AS n_pos,
             sum(cnt - cpos) OVER () AS n_neg
      FROM dv
    ), j AS (
      SELECT score_q AS threshold_q,
             n_pos - pos_lt AS tp, n_neg - neg_lt AS fp,
             pos_lt AS fn, neg_lt AS tn, n_pos, n_neg,
             (2 * (n_pos - pos_lt) * 1000000000 + n_pos) // (2 * n_pos)
               - (2 * (n_neg - neg_lt) * 1000000000 + n_neg) // (2 * n_neg)
               AS j_u
      FROM cum WHERE n_pos > 0 AND n_neg > 0
    )
    SELECT CAST(threshold_q AS BIGINT) AS threshold_q,
           CAST(tp AS BIGINT) AS tp, CAST(fp AS BIGINT) AS fp,
           CAST(fn AS BIGINT) AS fn, CAST(tn AS BIGINT) AS tn,
           CAST((2 * tp * 1000000000 + n_pos) // (2 * n_pos) AS BIGINT)
             / 1000000000.0 AS tpr,
           CAST((2 * fp * 1000000000 + n_neg) // (2 * n_neg) AS BIGINT)
             / 1000000000.0 AS fpr,
           CAST(j_u AS BIGINT) / 1000000000.0 AS youden_j
    FROM j
    ORDER BY j_u DESC, threshold_q
    LIMIT 1
    """
    )


@register("ml_youden_optimal_threshold", oracle=_youden_oracle())
def ml_youden_optimal_threshold(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Youden-J optimal operating point of the quality classifier:
    sweep EVERY distinct score as the >=-threshold, J(t) = TPR - FPR,
    return the maximizing threshold (ties -> smallest) with its full
    confusion row — the operating-point selector the fixed-grid sweep
    (``ml_confusion_threshold_sweep``) and the ranking metrics (AUC =
    integral over all J) bracket but don't answer.

    TPR/FPR per candidate threshold come from the same score-domain
    cumulative the AUC uses (tp(t) = n_pos - pos_below), each
    quantized half-up 1e-9 integers, so J and the argmax are
    cross-engine exact; the argmax is a (J desc, threshold) top-1 on
    the <= 10001-value domain, never a row-scaled sort.
    """
    from .ml import _scored_labeled

    t = Tables(spark, sf_dir)
    sc = _scored_labeled(t)
    dv = sc.groupBy("score_q").agg(
        F.count(F.lit(1)).alias("cnt"), F.sum("label").alias("cpos")
    )
    w_prev = Window.orderBy("score_q").rowsBetween(Window.unboundedPreceding, -1)
    w_all = Window.orderBy("score_q").rowsBetween(
        Window.unboundedPreceding, Window.unboundedFollowing
    )
    cum = dv.select(
        "score_q",
        F.coalesce(F.sum("cpos").over(w_prev), F.lit(0)).alias("pos_lt"),
        F.coalesce(F.sum(F.col("cnt") - F.col("cpos")).over(w_prev), F.lit(0)).alias(
            "neg_lt"
        ),
        F.sum("cpos").over(w_all).alias("n_pos"),
        F.sum(F.col("cnt") - F.col("cpos")).over(w_all).alias("n_neg"),
    )

    def hup9(num, den):
        return ((2 * num * F.lit(10**9) + den) - (2 * num * F.lit(10**9) + den) % (2 * den)) / (
            2 * den
        )

    tp = F.col("n_pos") - F.col("pos_lt")
    fp = F.col("n_neg") - F.col("neg_lt")
    j = cum.filter((F.col("n_pos") > 0) & (F.col("n_neg") > 0)).select(
        F.col("score_q").alias("threshold_q"),
        tp.alias("tp"),
        fp.alias("fp"),
        F.col("pos_lt").alias("fn"),
        F.col("neg_lt").alias("tn"),
        hup9(tp, F.col("n_pos")).cast("long").alias("tpr_u"),
        hup9(fp, F.col("n_neg")).cast("long").alias("fpr_u"),
    )
    j = j.withColumn("j_u", F.col("tpr_u") - F.col("fpr_u"))
    return (
        j.orderBy(F.col("j_u").desc(), "threshold_q")
        .limit(1)
        .select(
            "threshold_q",
            "tp",
            "fp",
            "fn",
            "tn",
            (F.col("tpr_u") / F.lit(1e9)).alias("tpr"),
            (F.col("fpr_u") / F.lit(1e9)).alias("fpr"),
            (F.col("j_u") / F.lit(1e9)).alias("youden_j"),
        )
    )


# ---------------------------------------------------------------------------
# 19. Pooled retention-decay fit (exponential half-life)
# ---------------------------------------------------------------------------

LN2_U9 = 693_147_181  # round(ln 2 * 1e9), the half-life literal


def _retention_decay_oracle() -> str:
    from ..functions.detmath import sql_det_ln_steps
    from ..functions.exact import sql_round_int_ratio

    return f"""
    WITH firsts AS (
      SELECT user_id, date_trunc('week', min(ts)) AS cohort_week
      FROM events GROUP BY user_id
    ), maxw AS (
      SELECT max(date_trunc('week', ts)) AS max_week FROM events
    ), activity AS (
      SELECT DISTINCT e.user_id, f.cohort_week,
             CAST(datediff('day', f.cohort_week, date_trunc('week', e.ts)) / 7
               AS BIGINT) AS w
      FROM events e JOIN firsts f ON e.user_id = f.user_id
    ), obs AS (
      SELECT a.w,
             CAST(count(*) AS BIGINT) AS act_w,
             (SELECT CAST(count(*) AS BIGINT) FROM activity a0, maxw
              WHERE a0.w = 0
                AND datediff('day', a0.cohort_week, maxw.max_week) / 7 >= a.w)
               AS base_w
      FROM activity a, maxw
      WHERE a.w >= 1 AND datediff('day', a.cohort_week, maxw.max_week) / 7 >= a.w
      GROUP BY a.w
    ), r AS (
      SELECT w, act_w, base_w,
             CAST(act_w AS DOUBLE) / CAST(base_w AS DOUBLE) AS ratio
      FROM obs WHERE act_w > 0 AND base_w > 0
    ), {sql_det_ln_steps('r', 'ratio', 'y_u', 9)},
    s AS (
      SELECT CAST(count(*) AS BIGINT) AS n,
             CAST(sum(w) AS BIGINT) AS sw,
             CAST(sum(w * w) AS BIGINT) AS sww,
             CAST(sum(y_u) AS BIGINT) AS sy,
             CAST(sum(w * y_u) AS BIGINT) AS swy
      FROM y_u_rel
    ), fit AS (
      SELECT n,
             n * swy - sw * sy AS num,
             n * sww - sw * sw AS den,
             sy, sw
      FROM s WHERE n >= 2 AND n * sww - sw * sw > 0
    )
    SELECT n AS n_weeks,
           CAST(CASE WHEN num < 0
                THEN -((2 * (-num) + den) // (2 * den))
                ELSE (2 * num + den) // (2 * den) END AS BIGINT)
             / 1000000000.0 AS slope_ln_per_week,
           CAST(CASE WHEN sy * den - num * sw < 0
                THEN -((2 * (-(sy::HUGEINT * den - num::HUGEINT * sw)) + n::HUGEINT * den)
                       // (2::HUGEINT * n * den))
                ELSE (2 * (sy::HUGEINT * den - num::HUGEINT * sw) + n::HUGEINT * den)
                       // (2::HUGEINT * n * den) END AS BIGINT)
             / 1000000000.0 AS intercept_ln,
           CASE WHEN num < 0 THEN
             {sql_round_int_ratio(f'{LN2_U9}::BIGINT * den', '(-num)')}
           END AS half_life_weeks
    FROM fit
    """


@register("events_retention_decay_fit", oracle=_retention_decay_oracle())
def events_retention_decay_fit(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exponential decay fit of the pooled weekly retention curve:
    ln(r_w) regressed on week offset w (observable-triangle-corrected
    — a cohort only contributes to offsets its age covers), reporting
    slope, intercept and the implied half-life ln2/(-slope) — turning
    the retention TABLE (``events_weekly_retention``) into the 2-
    parameter summary growth teams actually quote.

    r_w = active(w)/eligible-cohort-size is one correctly-rounded
    double divide of exact counts, ln is det-ln quantized 1e-9, and
    the OLS closed form runs in exact integer arithmetic over the
    calendar-bounded week domain; slope/intercept/half-life are exact
    half-up ratios (half-life only when the slope is negative).
    """
    from ..functions.detmath import det_ln_q
    from ..functions.exact import round_int_ratio

    t = Tables(spark, sf_dir)
    firsts = t.events.groupBy("user_id").agg(
        F.date_trunc("week", F.min("ts")).alias("cohort_week")
    )
    maxw = t.events.agg(F.date_trunc("week", F.max("ts")).alias("max_week"))
    activity = (
        t.events.join(firsts, "user_id")
        .select(
            "user_id",
            "cohort_week",
            (
                F.datediff(F.date_trunc("week", F.col("ts")), F.col("cohort_week"))
                / 7
            )
            .cast("long")
            .alias("w"),
        )
        .distinct()
    )
    act = activity.crossJoin(F.broadcast(maxw)).withColumn(
        "age_w",
        (F.datediff(F.col("max_week"), F.col("cohort_week")) / 7).cast("long"),
    )
    obs = (
        act.filter((F.col("w") >= 1) & (F.col("age_w") >= F.col("w")))
        .groupBy("w")
        .agg(F.count(F.lit(1)).alias("act_w"))
    )
    base = act.filter(F.col("w") == 0).select("cohort_week", "age_w")
    # eligible cohort size per offset: cohorts old enough to observe w
    base_per_w = obs.select("w", "act_w").join(
        base.select(F.col("age_w").alias("base_age")), F.col("base_age") >= F.col("w")
    ).groupBy("w", "act_w").agg(F.count(F.lit(1)).alias("base_w"))
    r = base_per_w.filter((F.col("act_w") > 0) & (F.col("base_w") > 0)).select(
        "w",
        (F.col("act_w").cast("double") / F.col("base_w").cast("double")).alias("ratio"),
    )
    y = r.select("w", det_ln_q(F.col("ratio"), 9).alias("y_u"))
    s = y.agg(
        F.count(F.lit(1)).alias("n"),
        F.sum("w").alias("sw"),
        F.sum(F.col("w") * F.col("w")).alias("sww"),
        F.sum("y_u").alias("sy"),
        F.sum(F.col("w") * F.col("y_u")).alias("swy"),
    )
    num = F.col("n") * F.col("swy") - F.col("sw") * F.col("sy")
    den = F.col("n") * F.col("sww") - F.col("sw") * F.col("sw")
    fit = s.filter((F.col("n") >= 2) & (den > 0)).select(
        F.col("n").alias("n_weeks"), num.alias("num"), den.alias("den"), "sy", "sw"
    )

    def hup_signed(numc, denc):
        mag = ((2 * F.abs(numc) + denc) - (2 * F.abs(numc) + denc) % (2 * denc)) / (
            2 * denc
        )
        return F.when(numc < 0, -mag.cast("long")).otherwise(mag.cast("long"))

    i_num = dec38(F.col("sy")) * F.col("den") - dec38(F.col("num")) * F.col("sw")
    i_den = dec38(F.col("n_weeks")) * F.col("den")
    i_a = F.lit(2).cast("decimal(38,0)") * F.abs(i_num) + i_den
    i_mag = ((i_a - i_a % (F.lit(2).cast("decimal(38,0)") * i_den)) / (
        F.lit(2).cast("decimal(38,0)") * i_den
    )).cast("long")
    return fit.select(
        "n_weeks",
        (hup_signed(F.col("num"), F.col("den")) / F.lit(1e9)).alias(
            "slope_ln_per_week"
        ),
        (F.when(i_num < 0, -i_mag).otherwise(i_mag) / F.lit(1e9)).alias("intercept_ln"),
        F.when(
            F.col("num") < 0,
            round_int_ratio(F.lit(LN2_U9) * F.col("den"), -F.col("num")),
        ).alias("half_life_weeks"),
    )


# ---------------------------------------------------------------------------
# 20. Revenue concentration: top-1% / top-10% order value share
# ---------------------------------------------------------------------------


def _topshare_oracle() -> str:
    from ..functions.exact import sql_round_big_int_ratio

    def share(pct: int) -> str:
        k = f"((n + {100 // pct - 1}) // {100 // pct})"
        return f"""
      (SELECT {sql_round_big_int_ratio(
          f'(SELECT cs - (cc - {k}) * cents FROM cum WHERE cc >= {k} ORDER BY cents DESC LIMIT 1)',
          'total_cents')}
       FROM tot)"""

    return f"""
    WITH c AS (
      SELECT CAST(floor(o_totalprice * 100.0 + 0.5) AS BIGINT) AS cents
      FROM orders WHERE o_totalprice IS NOT NULL
    ), dv AS (
      SELECT cents, CAST(count(*) AS BIGINT) AS cnt,
             CAST(count(*) AS HUGEINT) * cents AS val
      FROM c GROUP BY cents
    ), cum AS (
      SELECT cents,
             CAST(sum(cnt) OVER (ORDER BY cents DESC) AS BIGINT) AS cc,
             CAST(sum(val) OVER (ORDER BY cents DESC) AS HUGEINT) AS cs
      FROM dv
    ), tot AS (
      SELECT CAST(sum(cnt) AS BIGINT) AS n,
             CAST(sum(val) AS HUGEINT) AS total_cents
      FROM dv
    )
    SELECT n AS n_orders,
           {share(1)} AS share_top1pct,
           {share(10)} AS share_top10pct
    FROM tot
    """


@register("agg_top_value_share", oracle=_topshare_oracle())
def agg_top_value_share(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Revenue concentration ("whale curve"): the exact share of total
    order value held by the top 1% and top 10% of orders by value —
    the business-side concentration diagnostic beside the statistical
    ones (Gini, Pareto tail fit, HHI), and the canonical "how
    whale-dependent is revenue" number.

    Exact nearest-rank on the DESCENDING cumulative over the distinct
    order-value cents domain: the top-k cut may split a tie group, so
    the boundary group contributes (cc - k) * cents back — integer
    arithmetic end-to-end, shares as exact half-up decimal ratios
    (cents sums exceed int64 at warehouse scale).

    Two-pass boundary-bin refinement (VERDICT r9 item 3 — the distinct
    cents domain is value-range-bounded, ~5.6e7 possible values over
    the TPC-H price range, so a single global ordered cumulative over
    it is effectively row-scaled at fixture scale): pass 1 partial-
    aggregates the distinct-cents table into fixed $1000 bins (~600
    over the price range, the sketch_fixedbin class) and finds each
    k's boundary bin with a broadcast non-equi self-join cumulative —
    no global sort anywhere; pass 2 runs the exact ordered cumulative
    ONLY over the boundary bin's distinct cents values (<= BIN_W by
    mechanism), offset by the strictly-higher bins' exact count/sum.
    Output bit-identical to the one-pass form (same exact nearest-rank
    arithmetic); the plan swaps a data-scaled SinglePartition window
    for a bin-partitioned one plus a TakeOrdered(1).
    """
    from ..functions.exact import round_big_int_ratio

    BIN_W = 100_000  # $1000-wide cents bins — range/1000 bins, not rows

    t = Tables(spark, sf_dir)
    c = t.orders.filter(F.col("o_totalprice").isNotNull()).select(
        F.floor(F.col("o_totalprice") * F.lit(100.0) + F.lit(0.5))
        .cast("long")
        .alias("cents")
    )
    dv = c.groupBy("cents").agg(F.count(F.lit(1)).alias("cnt"))
    dvb = dv.withColumn("bin", F.expr(f"cents div {BIN_W}"))
    bins = dvb.groupBy("bin").agg(
        F.sum("cnt").alias("bcnt"),
        F.sum(dec38(F.col("cnt")) * F.col("cents")).alias("bcs"),
    )
    # descending cumulative over the bounded bin domain via broadcast
    # non-equi self-join (no SinglePartition ordered stage)
    b2 = bins.select(
        F.col("bin").alias("bin2"),
        F.col("bcnt").alias("bcnt2"),
        F.col("bcs").alias("bcs2"),
    )
    bcum = (
        bins.join(F.broadcast(b2), F.col("bin2") >= F.col("bin"))
        .groupBy("bin", "bcnt", "bcs")
        .agg(F.sum("bcnt2").alias("ccnt"), F.sum("bcs2").alias("ccs"))
    )
    tot = dv.agg(
        F.sum("cnt").alias("n"), F.sum(dec38(F.col("cnt")) * F.col("cents")).alias("total_cents")
    )

    def share(pct: int):
        k = (F.col("n") + (100 // pct - 1)) - (
            F.col("n") + (100 // pct - 1)
        ) % (100 // pct)
        k = (k / (100 // pct)).cast("long")
        # pass 1: the boundary bin = highest-valued bin whose running
        # count first reaches k — picked with a max_by FINAL AGGREGATE
        # (not an ordered limit, so the plan's only SinglePartition
        # stages feed constant-size aggregates); carry the strictly-
        # higher bins' exact prefix (ccnt - bcnt, ccs - bcs) as the
        # pass-2 offset
        boundary_bin = (
            bcum.crossJoin(F.broadcast(tot.select(k.alias("k"), "total_cents")))
            .filter(F.col("ccnt") >= F.col("k"))
            .agg(
                F.max_by(
                    F.struct("bin", "bcnt", "bcs", "ccnt", "ccs", "k", "total_cents"),
                    F.col("bin"),
                ).alias("b")
            )
            .select(
                F.col("b.bin").alias("bbin"),
                (F.col("b.ccnt") - F.col("b.bcnt")).alias("prev_cc"),
                (F.col("b.ccs") - F.col("b.bcs")).alias("prev_cs"),
                F.col("b.k").alias("k"),
                F.col("b.total_cents").alias("total_cents"),
            )
        )
        # pass 2: exact descending cumulative over ONLY the boundary
        # bin's distinct cents (bin-partitioned window, <= BIN_W rows)
        w_in = (
            Window.partitionBy("bbin")
            .orderBy(F.col("cents").desc())
            .rowsBetween(Window.unboundedPreceding, 0)
        )
        inbin = dvb.join(F.broadcast(boundary_bin), dvb.bin == F.col("bbin"))
        cum_in = inbin.select(
            "cents",
            "prev_cs",
            "k",
            "total_cents",
            (F.col("prev_cc") + F.sum("cnt").over(w_in)).alias("cc"),
            F.sum(dec38(F.col("cnt")) * F.col("cents")).over(w_in).alias("cs"),
        )
        boundary = (
            cum_in.filter(F.col("cc") >= F.col("k"))
            .agg(
                F.max_by(
                    F.struct("prev_cs", "cs", "cc", "k", "total_cents", "cents"),
                    F.col("cents"),
                ).alias("b")
            )
            .select(
                (
                    F.col("b.prev_cs")
                    + F.col("b.cs")
                    - dec38(F.col("b.cc") - F.col("b.k")) * F.col("b.cents")
                ).alias("top_cents"),
                F.col("b.total_cents").alias("total_cents"),
            )
        )
        return boundary.select(
            round_big_int_ratio(F.col("top_cents"), F.col("total_cents")).alias(
                f"share_top{pct}pct"
            )
        )

    return (
        tot.select(F.col("n").alias("n_orders"))
        .crossJoin(F.broadcast(share(1)))
        .crossJoin(F.broadcast(share(10)))
    )


# ---------------------------------------------------------------------------
# 21. KMV/theta intersection estimate: viewers x clickers
# ---------------------------------------------------------------------------

KMV_INT_K = 256
KMV_INT_DOMAIN = 1 << 60
KMV_SET_A = "view"
KMV_SET_B = "click"


def _kmv_intersection_oracle() -> str:
    from ..functions.exact import sql_round_int_ratio

    k, dom = KMV_INT_K, KMV_INT_DOMAIN
    return f"""
    WITH h AS (
      SELECT DISTINCT event_type AS g,
             (('0x' || substr(sha256(CAST(user_id AS VARCHAR)), 1, 15)))::BIGINT
               AS hv,
             user_id
      FROM events WHERE event_type IN ('{KMV_SET_A}', '{KMV_SET_B}')
    ), ha AS (SELECT DISTINCT hv FROM h WHERE g = '{KMV_SET_A}'),
    hb AS (SELECT DISTINCT hv FROM h WHERE g = '{KMV_SET_B}'),
    hu AS (SELECT hv FROM ha UNION SELECT hv FROM hb),
    theta AS (
      SELECT CAST(max(hv) AS BIGINT) AS th,
             CAST(count(*) AS BIGINT) AS k_eff
      FROM (SELECT hv FROM hu ORDER BY hv LIMIT {k})
    ), common AS (
      SELECT CAST(count(*) AS BIGINT) AS c
      FROM ha JOIN hb USING (hv), theta
      WHERE hv <= theta.th
    ), tru AS (
      SELECT CAST(count(*) AS BIGINT) AS d_true
      FROM (SELECT user_id FROM h WHERE g = '{KMV_SET_A}'
            INTERSECT
            SELECT user_id FROM h WHERE g = '{KMV_SET_B}')
    )
    SELECT t.k_eff, t.th AS theta, c.c AS n_common_under_theta,
           CAST(CASE WHEN t.k_eff = {k}
                THEN (c.c::HUGEINT * {k - 1} * {dom}) // ({k}::HUGEINT * t.th)
                ELSE c.c END AS BIGINT) AS d_int_est,
           u.d_true,
           CASE WHEN u.d_true > 0 THEN {sql_round_int_ratio(
               f'''abs(CAST(CASE WHEN t.k_eff = {k}
                    THEN (c.c::HUGEINT * {k - 1} * {dom}) // ({k}::HUGEINT * t.th)
                    ELSE c.c END AS BIGINT) - u.d_true)''',
               'u.d_true')} END AS rel_error
    FROM theta t, common c, tru u
    """


@register("sketch_kmv_intersection_users", oracle=_kmv_intersection_oracle())
def sketch_kmv_intersection_users(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Theta/KMV INTERSECTION estimate: distinct users who both viewed
    and clicked, estimated from the two sets' hash order statistics —
    theta = the union sketch's k-th minimum, the intersection sample =
    common hashes below theta, and D_int ≈ (c/k) * D_union — the
    set-OPERATION member of the mergeable-sketch family (the single-
    set KMV estimates one cardinality; real sketch workloads ask for
    intersections/unions of many), reported beside the exact
    intersection and its relative error like the other sketch audits.

    Deterministic end-to-end (sha-derived 60-bit hashes, integer
    floor estimate), so it hash-verifies cross-engine. The per-set
    distinct-hash aggregations collapse map-side; theta is a
    TakeOrdered k-min on the union; the common-hash probe is one
    equi-join on the hash key. At 100 TB each set's sketch state is k
    values and intersection = a k-sized join.
    """
    from ..functions.exact import round_int_ratio
    from ..functions.textnorm import sha256_prefix_i64

    k, dom = KMV_INT_K, KMV_INT_DOMAIN
    t = Tables(spark, sf_dir)
    ev = t.events.filter(F.col("event_type").isin(KMV_SET_A, KMV_SET_B)).select(
        F.col("event_type").alias("g"),
        sha256_prefix_i64(F.col("user_id").cast("string")).alias("hv"),
        "user_id",
    )
    ha = ev.filter(F.col("g") == KMV_SET_A).select("hv").distinct()
    hb = ev.filter(F.col("g") == KMV_SET_B).select("hv").distinct()
    hu = ha.unionAll(hb).distinct()
    theta = hu.orderBy("hv").limit(k).agg(
        F.max("hv").alias("th"), F.count(F.lit(1)).alias("k_eff")
    )
    # c is aggregated on its own and joined back onto the 1-row theta
    # frame: if the intersection under theta is EMPTY (tiny/disjoint
    # sets, reachable under fuzz), first('th') over the empty frame
    # would emit NULL theta/k_eff while the oracle's separate theta CTE
    # still carries real values. count() over an empty frame is 0, so
    # theta.crossJoin(common_cnt) always keeps the theta aggregate's
    # values (ADVICE r8).
    common_cnt = (
        ha.join(hb, "hv")
        .crossJoin(F.broadcast(theta))
        .filter(F.col("hv") <= F.col("th"))
        .agg(F.count(F.lit(1)).alias("c"))
    )
    common = theta.crossJoin(F.broadcast(common_cnt))
    ua = ev.filter(F.col("g") == KMV_SET_A).select("user_id").distinct()
    ub = ev.filter(F.col("g") == KMV_SET_B).select("user_id").distinct()
    tru = ua.join(ub, "user_id").agg(F.count(F.lit(1)).alias("d_true"))
    est_num = dec38(F.col("c")) * F.lit(k - 1) * F.lit(dom)
    est_den = dec38(F.lit(k)) * F.col("th")
    est = F.when(
        F.col("k_eff") == k,
        ((est_num - est_num % est_den) / est_den).cast("long"),
    ).otherwise(F.col("c"))
    out = common.crossJoin(F.broadcast(tru))
    return out.select(
        "k_eff",
        F.col("th").alias("theta"),
        F.col("c").alias("n_common_under_theta"),
        est.alias("d_int_est"),
        "d_true",
        F.when(
            F.col("d_true") > 0,
            round_int_ratio(F.abs(est - F.col("d_true")), F.col("d_true")),
        ).alias("rel_error"),
    )


# ---------------------------------------------------------------------------
# 22. Serpentine (boustrophedon) shard balancing of document payloads
# ---------------------------------------------------------------------------

SERP_N_SHARDS = 8


def _serpentine_oracle() -> str:
    from ..functions.exact import sql_round_int_ratio

    n = SERP_N_SHARDS
    return f"""
    WITH ranked AS (
      SELECT source, n_chars,
             row_number() OVER (PARTITION BY source
                                ORDER BY n_chars DESC, doc_id) - 1 AS idx
      FROM documents
    ), assigned AS (
      SELECT source, n_chars,
             CASE WHEN (idx // {n}) % 2 = 0 THEN idx % {n}
                  ELSE {n - 1} - (idx % {n}) END AS shard
      FROM ranked
    ), per_shard AS (
      SELECT CAST(shard AS BIGINT) AS shard,
             CAST(count(*) AS BIGINT) AS n_docs,
             CAST(sum(n_chars) AS BIGINT) AS total_chars
      FROM assigned GROUP BY shard
    ), tot AS (SELECT CAST(sum(total_chars) AS BIGINT) AS t FROM per_shard)
    SELECT shard, n_docs, total_chars,
           {sql_round_int_ratio('total_chars', 't')} AS char_share
    FROM per_shard, tot ORDER BY shard
    """


@register("layout_serpentine_shard_balance", oracle=_serpentine_oracle())
def layout_serpentine_shard_balance(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Serpentine (boustrophedon) size-balanced shard assignment of
    document payloads: within each source, order docs by size
    descending and deal them across 8 shards alternating direction
    each round (0..7, 7..0, ...), the classic deterministic
    approximation of LPT bin packing that a training-data writer uses
    to keep output shards byte-balanced — the assignment-PLANNING
    member of the layout family (z-order = clustering, compaction =
    file sizing, this = load balance). The replica test asserts the
    achieved balance beats naive round-robin's worst case.

    The ranking window is PARTITIONED by source (a layout plan runs
    per ingest partition, never globally); the serpentine formula is
    pure row-local arithmetic on the rank, and shard totals are one
    bounded aggregate. Shares are exact half-up ratios.
    """
    from ..functions.exact import round_int_ratio

    n = SERP_N_SHARDS
    t = Tables(spark, sf_dir)
    w = Window.partitionBy("source").orderBy(F.col("n_chars").desc(), "doc_id")
    ranked = t.documents.select(
        "source", "n_chars", (F.row_number().over(w) - 1).alias("idx")
    )
    rnd = (F.col("idx") - F.col("idx") % n) / n
    shard = F.when(
        rnd.cast("long") % 2 == 0, F.col("idx") % n
    ).otherwise(F.lit(n - 1) - F.col("idx") % n)
    per_shard = (
        ranked.select(shard.cast("long").alias("shard"), "n_chars")
        .groupBy("shard")
        .agg(F.count(F.lit(1)).alias("n_docs"), F.sum("n_chars").alias("total_chars"))
    )
    w_all = Window.rowsBetween(Window.unboundedPreceding, Window.unboundedFollowing)
    return per_shard.select(
        "shard",
        "n_docs",
        "total_chars",
        round_int_ratio(F.col("total_chars"), F.sum("total_chars").over(w_all)).alias(
            "char_share"
        ),
    ).orderBy("shard")
