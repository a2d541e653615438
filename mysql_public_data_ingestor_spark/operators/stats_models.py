"""Parametric tests, variance, regression and multiplicity.

Mean comparisons (Cohen's d, Welch ANOVA, two-way ANOVA, Tukey HSD,
TOST equivalence, Yuen's trimmed t), variance homogeneity (Levene,
Brown–Forsythe, Bartlett), regression and fits (logistic gradient
descent, OLS influence, partial correlation, median polish, binary
segmentation), outliers (Grubbs) and multiplicity (Benjamini–Hochberg).

The priority quantity sample comes from ``operators/stats_samples.py``.
Gates: raw-frame oracle parity, plan bars and Python replicas in the
``tests/test_round*.py`` file named after the module each query was
first registered in.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql.window import Window

from ..functions.exact import dec38, halfup_div, order_cents, sql_halfup_div
from ..registry import register
from ..tables import Tables
from .stats_samples import priority_quantities


# ---------------------------------------------------------------------------
# Declarative logistic regression (fixed-step gradient descent)
# ---------------------------------------------------------------------------

LOGIT_STEPS = 3


# lr = 0.5 expressed as an integer halving of the micro-unit gradient sum


def logit_cte_chain() -> tuple[list[str], str, str]:
    """The GD loop as an unrolled CTE list, plus scalar-subquery refs to
    the FINAL step's micro-weights — shared by the ``stats_logistic_gd``
    oracle and the round-7 diagnostics (deviance, Hosmer-Lemeshow) that
    score with the trained weights."""
    ctes, prev_w0, prev_w1, _ = _logit_parts()
    return ctes, prev_w0, prev_w1


def _logit_oracle() -> str:
    """Unrolled-CTE twin of the GD loop: identical per-step quantized
    integer weight updates, so every step's weights hash-match."""
    ctes, _, _, selects = _logit_parts()
    return "WITH " + ", ".join(ctes) + " " + " UNION ALL ".join(selects)


def _logit_parts() -> tuple[list[str], str, str, list[str]]:
    x = "CAST(CAST(floor(o_totalprice * 100.0 + 0.5) AS BIGINT) AS DOUBLE) / 10000000.0"
    y = "CASE WHEN o_orderpriority = '1-URGENT' THEN 1.0 ELSE 0.0 END"
    ctes = ["base AS (SELECT " + x + " AS x, " + y + " AS y FROM orders)"]
    prev_w0, prev_w1 = "0", "0"
    selects = []
    for k in range(1, LOGIT_STEPS + 1):
        p = f"1.0 / (1.0 + exp(-(({prev_w0}) / 1000000.0 + ({prev_w1}) / 1000000.0 * x)))"
        ctes.append(
            f"""s{k} AS (
              SELECT sum(CAST(floor(({p} - y) * 1000000.0 + 0.5) AS BIGINT)) AS s0,
                     sum(CAST(floor(({p} - y) * x * 1000000.0 + 0.5) AS BIGINT)) AS s1,
                     count(*) AS n
              FROM base{"" if k == 1 else f", w{k-1}"})"""
        )
        ctes.append(
            f"""w{k} AS (
              SELECT CAST(({prev_w0}) - floor(CAST(s0 AS DOUBLE) / (2.0 * n) + 0.5)
                     AS BIGINT) AS w0q,
                     CAST(({prev_w1}) - floor(CAST(s1 AS DOUBLE) / (2.0 * n) + 0.5)
                     AS BIGINT) AS w1q
              FROM s{k})"""
        )
        prev_w0, prev_w1 = f"(SELECT w0q FROM w{k})", f"(SELECT w1q FROM w{k})"
        selects.append(
            f"SELECT CAST({k} AS BIGINT) AS step, w0q AS w0_micro, w1q AS w1_micro FROM w{k}"
        )
    return ctes, prev_w0, prev_w1, selects


@register("stats_logistic_gd", oracle=_logit_oracle())
def stats_logistic_gd(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Logistic regression (urgent-order propensity vs order value) by
    THREE fixed gradient-descent steps, as declarative plans — the
    iterative-model-training showpiece alongside ``ml_kmeans_lloyd``:
    no collect of the weights, no RNG, bit-reproducible.

    Reproducibility contract: weights live as int64 micro-units; each
    step's gradient contributions are 1e-6-quantized per row BEFORE the
    exact integer sum (order-independent under any partitioning), and
    the weight update is the same integer halving on both engines. The
    only float op is the sigmoid itself, computed from bit-identical
    (micro-weight / 1e6) doubles — same ~1-ulp residual as documented
    for the classifier scoring pack. Scale: one pruned 2-column scan
    per step with a 2-value aggregate; the 1-row weight state
    broadcasts into the next step (localCheckpointed so step K costs
    one scan, not K). Output: the weight trajectory, one row per step.
    """
    t = Tables(spark, sf_dir)
    out = [
        w_df.select(
            F.lit(k).cast("long").alias("step"),
            F.col("w0q").alias("w0_micro"),
            F.col("w1q").alias("w1_micro"),
        )
        for k, w_df in enumerate(logit_weight_steps(t), start=1)
    ]
    res = out[0]
    for df in out[1:]:
        res = res.unionByName(df)
    return res


def logit_base(t: Tables) -> DataFrame:
    """The (x, y) training frame of the GD logistic model — x the
    1e7-scaled exact-cents order value, y the urgent-priority label.
    Shared by the training loop and the round-8 fit diagnostics so the
    scoring expression is identical to the one trained on."""
    cents = order_cents()
    return t.orders.select(
        (cents.cast("double") / F.lit(1e7)).alias("x"),
        F.when(F.col("o_orderpriority") == "1-URGENT", 1.0).otherwise(0.0).alias("y"),
    )


def logit_sigmoid(x: F.Column, w0q: F.Column, w1q: F.Column) -> F.Column:
    """p = sigmoid(w0 + w1*x) off micro-unit weights — the exact
    scoring expression of the training loop (identical doubles on both
    engines; the oracle twin is the ``p`` string in `_logit_parts`)."""
    z = w0q / F.lit(1e6) + w1q / F.lit(1e6) * x
    return F.lit(1.0) / (F.lit(1.0) + F.exp(-z))


def logit_weight_steps(t: Tables) -> list[DataFrame]:
    """Per-step trained micro-weights as 1-row (w0q, w1q) DataFrames,
    localCheckpointed so step K costs one scan. Shared by the
    trajectory query above and `ml_logistic_fit_quality` (round 8),
    which scores with ``steps[-1]``."""
    base = logit_base(t)
    w_df = None  # step-1 weights are the (0, 0) literals
    steps: list[DataFrame] = []
    for _ in range(LOGIT_STEPS):
        if w_df is None:
            joined = base.withColumn("w0q", F.lit(0).cast("long")).withColumn(
                "w1q", F.lit(0).cast("long")
            )
        else:
            joined = base.crossJoin(F.broadcast(w_df))
        p = logit_sigmoid(F.col("x"), F.col("w0q"), F.col("w1q"))
        g0 = F.floor((p - F.col("y")) * F.lit(1e6) + F.lit(0.5)).cast("long")
        g1 = F.floor((p - F.col("y")) * F.col("x") * F.lit(1e6) + F.lit(0.5)).cast("long")
        agg = joined.agg(
            F.sum(g0).alias("s0"),
            F.sum(g1).alias("s1"),
            F.count(F.lit(1)).alias("n"),
            F.first("w0q").alias("w0q"),
            F.first("w1q").alias("w1q"),
        )
        w_df = agg.select(
            (
                F.col("w0q")
                - F.floor(F.col("s0").cast("double") / (F.lit(2.0) * F.col("n")) + F.lit(0.5))
            )
            .cast("long")
            .alias("w0q"),
            (
                F.col("w1q")
                - F.floor(F.col("s1").cast("double") / (F.lit(2.0) * F.col("n")) + F.lit(0.5))
            )
            .cast("long")
            .alias("w1q"),
        ).localCheckpoint()
        steps.append(w_df)
    return steps


# ---------------------------------------------------------------------------
# Welch's ANOVA (k-group mean comparison; extends stats_ttest_ab)
# ---------------------------------------------------------------------------


@register(
    "stats_welch_anova",
    oracle="""
    WITH q AS (
      SELECT event_type,
             CAST(floor(value * 1000000.0 + 0.5) AS BIGINT) AS v_u
      FROM events
    ), s AS (
      SELECT event_type,
             CAST(count(*) AS BIGINT) AS n,
             CAST(sum(v_u) AS DOUBLE) AS sum_u,
             CAST(sum(CAST(v_u AS HUGEINT) * v_u) AS DOUBLE) AS sumsq_u
      FROM q GROUP BY event_type
    ), g AS (
      SELECT event_type, n,
             sum_u / 1e6 / n AS mean_g,
             (sumsq_u / 1e12 - (sum_u / 1e6) * (sum_u / 1e6) / n) / (n - 1) AS var_g
      FROM s
    ), w AS (
      SELECT event_type, n, mean_g, var_g, n / var_g AS wt FROM g
    ), tot AS (
      SELECT CAST(count(*) AS BIGINT) AS k, sum(wt) AS w_sum,
             sum(wt * mean_g) / sum(wt) AS grand_mean
      FROM w
    ), parts AS (
      SELECT sum(wt * (mean_g - grand_mean) * (mean_g - grand_mean)) AS between_w,
             sum((1 - wt / w_sum) * (1 - wt / w_sum) / (n - 1)) AS lambda_term
      FROM w, tot GROUP BY w_sum
    )
    SELECT k,
           CAST((SELECT sum(n) FROM s) AS BIGINT) AS n_total,
           round(grand_mean, 6) AS grand_mean,
           round((between_w / (k - 1))
                 / (1 + 2.0 * (k - 2) / (k * k - 1.0) * lambda_term), 6) AS f_welch,
           round((k * k - 1.0) / (3.0 * lambda_term), 6) AS df2
    FROM tot, parts
    """,
)
def stats_welch_anova(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Welch's heteroscedastic one-way ANOVA across ALL event types —
    the k-group generalization of ``stats_ttest_ab`` (do the k event
    types share a mean value, without assuming equal variances?).

    Same exactness discipline as the t-test: every sufficient statistic
    (n, sum, sum-of-squares) is an exact integer aggregate of
    1e-6-quantized values (sum of squares in decimal(38,0) so 100 TB
    cannot overflow), bit-identical under any partitioning; the F
    statistic is then one deterministic float expression over the
    k-row group table, rounded at 6dp on both engines. Shuffle: one
    |event-types|-keyed aggregate; everything after runs on k rows.
    """
    t = Tables(spark, sf_dir)
    v_u = F.floor(F.col("value") * F.lit(1e6) + F.lit(0.5)).cast("long")
    s = (
        t.events.select("event_type", v_u.alias("v_u"))
        .groupBy("event_type")
        .agg(
            F.count(F.lit(1)).alias("n"),
            F.sum("v_u").cast("double").alias("sum_u"),
            # decimal BEFORE the square: v_u^2 overflows int64 once
            # values carry web-scale magnitudes (the stats.py:868
            # lesson, re-caught by the value-magnitude fuzz profile)
            F.sum(
                F.col("v_u").cast("decimal(38,0)") * F.col("v_u").cast("decimal(38,0)")
            )
            .cast("double")
            .alias("sumsq_u"),
        )
    )
    g = s.select(
        "event_type",
        "n",
        (F.col("sum_u") / F.lit(1e6) / F.col("n")).alias("mean_g"),
        (
            (
                F.col("sumsq_u") / F.lit(1e12)
                - (F.col("sum_u") / F.lit(1e6)) * (F.col("sum_u") / F.lit(1e6)) / F.col("n")
            )
            / (F.col("n") - 1)
        ).alias("var_g"),
    ).withColumn("wt", F.col("n") / F.col("var_g"))
    tot = g.agg(
        F.count(F.lit(1)).alias("k"),
        F.sum("wt").alias("w_sum"),
        (F.sum(F.col("wt") * F.col("mean_g")) / F.sum("wt")).alias("grand_mean"),
        F.sum("n").cast("long").alias("n_total"),
    )
    joined = g.crossJoin(F.broadcast(tot))
    parts = joined.agg(
        F.first("k").alias("k"),
        F.first("n_total").alias("n_total"),
        F.first("grand_mean").alias("grand_mean"),
        F.sum(
            F.col("wt") * (F.col("mean_g") - F.col("grand_mean")) * (F.col("mean_g") - F.col("grand_mean"))
        ).alias("between_w"),
        F.sum(
            (F.lit(1.0) - F.col("wt") / F.col("w_sum"))
            * (F.lit(1.0) - F.col("wt") / F.col("w_sum"))
            / (F.col("n") - 1)
        ).alias("lambda_term"),
    )
    kk = F.col("k").cast("double")
    return parts.select(
        F.col("k").cast("long").alias("k"),
        "n_total",
        F.round(F.col("grand_mean"), 6).alias("grand_mean"),
        F.round(
            (F.col("between_w") / (kk - 1))
            / (
                F.lit(1.0)
                + F.lit(2.0) * (kk - 2) / (kk * kk - F.lit(1.0)) * F.col("lambda_term")
            ),
            6,
        ).alias("f_welch"),
        F.round((kk * kk - F.lit(1.0)) / (F.lit(3.0) * F.col("lambda_term")), 6).alias(
            "df2"
        ),
    )


# ---------------------------------------------------------------------------
# Single change-point detection (binary segmentation, 1 split)
# ---------------------------------------------------------------------------


def _binseg_oracle() -> str:
    return """
    WITH daily AS (
      SELECT event_type, CAST(ts AS DATE) AS d,
             CAST(sum(CAST(floor(value * 100.0 + 0.5) AS BIGINT)) AS BIGINT)
               AS cents
      FROM events GROUP BY 1, 2
    ), idx AS (
      SELECT event_type, d, cents,
             row_number() OVER (PARTITION BY event_type ORDER BY d) AS i,
             CAST(count(*) OVER (PARTITION BY event_type) AS BIGINT) AS n,
             CAST(sum(cents) OVER (PARTITION BY event_type) AS BIGINT) AS s,
             CAST(sum(cents) OVER (PARTITION BY event_type ORDER BY d)
                  AS BIGINT) AS sl
      FROM daily
    ), cand AS (
      SELECT event_type, d, i, n,
             CAST(i AS BIGINT) AS nl, n - i AS nr,
             sl, s - sl AS sr,
             CASE WHEN sl >= 0
               THEN  ((200::HUGEINT * sl + i) // (2::HUGEINT * i))
               ELSE -((200::HUGEINT * (-sl) + i) // (2::HUGEINT * i)) END AS dl_q2,
             CASE WHEN (s - sl) >= 0
               THEN  ((200::HUGEINT * (s - sl) + (n - i)) // (2::HUGEINT * (n - i)))
               ELSE -((200::HUGEINT * (sl - s) + (n - i)) // (2::HUGEINT * (n - i)))
             END AS dr_q2
      FROM idx WHERE i < n
    ), scored AS (
      SELECT event_type, d, nl, nr,
             CAST(floor(
               (CAST(dl_q2 AS DOUBLE) / 100.0 - CAST(dr_q2 AS DOUBLE) / 100.0)
               * (CAST(dl_q2 AS DOUBLE) / 100.0 - CAST(dr_q2 AS DOUBLE) / 100.0)
               * CAST(nl AS DOUBLE) * CAST(nr AS DOUBLE)
               / CAST(nl + nr AS DOUBLE) + 0.5) AS BIGINT) AS t_q
      FROM cand
    ), best AS (
      SELECT event_type, d, nl, nr, t_q,
             row_number() OVER (PARTITION BY event_type
                                ORDER BY t_q DESC, d) AS rn
      FROM scored
    )
    SELECT event_type, CAST(d AS TIMESTAMP) AS change_day,
           CAST(nl AS BIGINT) AS n_before, CAST(nr AS BIGINT) AS n_after, t_q
    FROM best WHERE rn = 1
    """


@register("stats_changepoint_binseg", oracle=_binseg_oracle())
def stats_changepoint_binseg(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Single change-point detection on the daily revenue series per
    event type — binary segmentation's first split: the day whose
    before/after mean shift maximizes the pooled two-sample statistic
    d^2 * nL * nR / n (the CUSUM-family scan complementary to
    ``events_cusum_changepoint``, which flags drift online; this
    locates the globally best breakpoint offline).

    Candidate evaluation is prefix-sum algebra on the BOUNDED daily
    series: each split's side means are exact half-up cents ratios
    (2 dp, int128/decimal domain), the scan statistic then runs in
    doubles derived from those identical quantized integers with
    matching association, and the argmax tie-breaks on day. One
    window pass + one |days|-row ranking per type — no O(days^2).
    """
    t = Tables(spark, sf_dir)
    daily = (
        t.events.select(
            "event_type",
            F.to_date("ts").alias("d"),
            F.floor(F.col("value") * F.lit(100.0) + F.lit(0.5))
            .cast("long")
            .alias("c_row"),
        )
        .groupBy("event_type", "d")
        .agg(F.sum("c_row").alias("cents"))
    )
    wp = Window.partitionBy("event_type")
    idx = daily.select(
        "event_type",
        "d",
        F.row_number().over(wp.orderBy("d")).alias("i"),
        F.count(F.lit(1)).over(wp).alias("n"),
        F.sum("cents").over(wp).alias("s"),
        F.sum("cents").over(wp.orderBy("d")).alias("sl"),
    )

    def half_up_signed(num, den, scale):
        a_ = F.lit(2 * scale).cast("decimal(38,0)") * F.abs(num) + den
        b_ = F.lit(2).cast("decimal(38,0)") * den
        mag = ((a_ - a_ % b_) / b_).cast("long")
        return F.when(num < 0, -mag).otherwise(mag)

    cand = idx.where(F.col("i") < F.col("n")).select(
        "event_type",
        "d",
        F.col("i").cast("long").alias("nl"),
        (F.col("n") - F.col("i")).alias("nr"),
        half_up_signed(dec38(F.col("sl")), dec38(F.col("i")), 100).alias("dl_q2"),
        half_up_signed(
            dec38(F.col("s")) - dec38(F.col("sl")),
            dec38(F.col("n")) - dec38(F.col("i")),
            100,
        ).alias("dr_q2"),
    )
    diff = F.col("dl_q2").cast("double") / F.lit(100.0) - F.col("dr_q2").cast(
        "double"
    ) / F.lit(100.0)
    t_q = F.floor(
        diff
        * diff
        * F.col("nl").cast("double")
        * F.col("nr").cast("double")
        / (F.col("nl") + F.col("nr")).cast("double")
        + F.lit(0.5)
    ).cast("long")
    scored = cand.select("event_type", "d", "nl", "nr", t_q.alias("t_q"))
    best = scored.select(
        "*",
        F.row_number()
        .over(Window.partitionBy("event_type").orderBy(F.col("t_q").desc(), "d"))
        .alias("rn"),
    ).where(F.col("rn") == 1)
    return best.select(
        "event_type",
        F.col("d").cast("timestamp").alias("change_day"),
        F.col("nl").alias("n_before"),
        F.col("nr").alias("n_after"),
        "t_q",
    )


# ---------------------------------------------------------------------------
# Cohen's d effect size: urgent vs non-urgent order value
# ---------------------------------------------------------------------------


def _cohens_d_oracle() -> str:
    from ..functions.exact import sql_round_big_int_ratio

    m1 = "CAST(s1 AS DOUBLE) / n1"
    m2 = "CAST(s2 AS DOUBLE) / n2"
    v1 = f"CAST(ss1 AS DOUBLE) - n1 * ({m1}) * ({m1})"
    v2 = f"CAST(ss2 AS DOUBLE) - n2 * ({m2}) * ({m2})"
    sp2 = f"(({v1}) + ({v2})) / (n1 + n2 - 2)"
    d = f"(({m1}) - ({m2})) / sqrt({sp2})"
    return f"""
    WITH c AS (
      SELECT CAST(floor(o_totalprice * 100.0 + 0.5) AS BIGINT) AS cents,
             CASE WHEN o_orderpriority = '1-URGENT' THEN 1 ELSE 0 END AS g
      FROM orders
      WHERE o_totalprice IS NOT NULL
    ), a AS (
      SELECT CAST(sum(g) AS BIGINT) AS n1,
             CAST(count(*) - sum(g) AS BIGINT) AS n2,
             sum(CASE WHEN g = 1 THEN cents::HUGEINT ELSE 0 END) AS s1,
             sum(CASE WHEN g = 0 THEN cents::HUGEINT ELSE 0 END) AS s2,
             sum(CASE WHEN g = 1 THEN cents::HUGEINT * cents ELSE 0 END) AS ss1,
             sum(CASE WHEN g = 0 THEN cents::HUGEINT * cents ELSE 0 END) AS ss2
      FROM c)
    SELECT n1 AS n_urgent, n2 AS n_other,
           {sql_round_big_int_ratio('s1', '100 * n1', 4)} AS mean_urgent,
           {sql_round_big_int_ratio('s2', '100 * n2', 4)} AS mean_other,
           CASE WHEN n1 >= 2 AND n2 >= 2 AND ({sp2}) > 0
                THEN CAST(floor(({d}) * 1000000.0 + 0.5) AS BIGINT) / 1000000.0
           END AS cohens_d
    FROM a
    """


@register("stats_cohens_d_priority", oracle=_cohens_d_oracle())
def stats_cohens_d_priority(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Cohen's d standardized effect size of urgent-vs-other order
    value — the "is the difference MEANINGFUL, not just significant"
    companion to the t/z tests in the stats family.

    Sufficient statistics only: conditional exact cents sums and
    decimal(38,0) sums of squares (cast BEFORE the square — int64
    overflows at web-scale magnitudes) in ONE scan, then the pooled-SD
    ratio as a single identical IEEE expression off identical integers
    (same float discipline as ``graph_degree_assortativity``).
    Degenerate groups (n < 2, zero pooled variance) yield NULL on both
    engines rather than a division error — the fuzz profiles hit this.
    """
    from ..functions.exact import round_big_int_ratio

    t = Tables(spark, sf_dir)
    cents = order_cents()
    c = t.orders.where(F.col("o_totalprice").isNotNull()).select(
        cents.alias("cents"),
        F.when(F.col("o_orderpriority") == "1-URGENT", 1).otherwise(0).alias("g"),
    )
    zero = F.lit(0).cast("decimal(38,0)")
    a = c.agg(
        F.sum("g").cast("long").alias("n1"),
        (F.count(F.lit(1)) - F.sum("g")).cast("long").alias("n2"),
        F.sum(F.when(F.col("g") == 1, dec38(F.col("cents"))).otherwise(zero)).alias("s1"),
        F.sum(F.when(F.col("g") == 0, dec38(F.col("cents"))).otherwise(zero)).alias("s2"),
        F.sum(
            F.when(F.col("g") == 1, dec38(F.col("cents")) * F.col("cents")).otherwise(zero)
        ).alias("ss1"),
        F.sum(
            F.when(F.col("g") == 0, dec38(F.col("cents")) * F.col("cents")).otherwise(zero)
        ).alias("ss2"),
    )
    n1d, n2d = F.col("n1").cast("double"), F.col("n2").cast("double")
    m1 = F.col("s1").cast("double") / n1d
    m2 = F.col("s2").cast("double") / n2d
    v1 = F.col("ss1").cast("double") - n1d * m1 * m1
    v2 = F.col("ss2").cast("double") - n2d * m2 * m2
    sp2 = (v1 + v2) / (n1d + n2d - F.lit(2.0))
    d = (m1 - m2) / F.sqrt(sp2)
    return a.select(
        F.col("n1").alias("n_urgent"),
        F.col("n2").alias("n_other"),
        round_big_int_ratio(F.col("s1"), F.lit(100) * F.col("n1"), 4).alias(
            "mean_urgent"
        ),
        round_big_int_ratio(F.col("s2"), F.lit(100) * F.col("n2"), 4).alias(
            "mean_other"
        ),
        F.when(
            (F.col("n1") >= 2) & (F.col("n2") >= 2) & (sp2 > 0),
            F.floor(d * F.lit(1e6) + F.lit(0.5)).cast("long") / F.lit(1e6),
        ).alias("cohens_d"),
    )


# ---------------------------------------------------------------------------
# Levene's test (variance homogeneity across order priorities)
# ---------------------------------------------------------------------------


def _levene_oracle() -> str:
    return f"""
    WITH c AS (
      SELECT o_orderpriority AS g,
             CAST(floor(o_totalprice * 100.0 + 0.5) AS BIGINT) AS cents
      FROM orders WHERE o_totalprice IS NOT NULL
    ), gs AS (
      SELECT g, CAST(count(*) AS BIGINT) AS n_g,
             CAST(sum(cents::HUGEINT) AS HUGEINT) AS s_g
      FROM c GROUP BY g
    ), z AS (
      SELECT c.g,
             CAST(floor(abs(CAST(c.cents AS DOUBLE)
                            - CAST(gs.s_g AS DOUBLE) / gs.n_g)
                        * 100.0 + 0.5) AS BIGINT) AS z_q
      FROM c JOIN gs USING (g)
    ), zg AS (
      SELECT g, CAST(count(*) AS BIGINT) AS n_g,
             CAST(sum(z_q::HUGEINT) AS HUGEINT) AS sz_g,
             CAST(sum(z_q::HUGEINT * z_q) AS HUGEINT) AS szz_g
      FROM z GROUP BY g
    ), a AS (
      SELECT CAST(count(*) AS BIGINT) AS k,
             CAST(sum(n_g) AS BIGINT) AS n_total,
             CAST(sum(sz_g) AS HUGEINT) AS sz,
             CAST(sum((sz_g * sz_g) // n_g) AS HUGEINT) AS bet_sum,
             CAST(sum(szz_g) AS HUGEINT) AS szz
      FROM zg)
    SELECT k, n_total,
           CASE WHEN k >= 2 AND n_total > k
                     AND CAST(szz - bet_sum AS DOUBLE) > 0 THEN
             CAST(floor(((CAST(n_total - k AS DOUBLE) / (k - 1))
                         * (CAST(bet_sum - (sz * sz) // n_total AS DOUBLE)
                            / CAST(szz - bet_sum AS DOUBLE)))
                        * 1000000.0 + 0.5) AS BIGINT) / 1000000.0
           END AS levene_w
    FROM a
    """


@register("stats_levene_priority", oracle=_levene_oracle())
def stats_levene_priority(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Levene\'s test statistic W for homogeneity of order-value
    variance across the five order priorities — the assumption check
    gating every pooled-variance test in the family (Welch ANOVA
    exists for unequal variances; Levene tells you when you need it).

    Exactness: mean-centered absolute deviations z_ij = |x - mean_g|
    quantize per row at 1e-2 cents BEFORE any sum (the mean is the
    identical s_g/n_g double on both engines), so every sum is an
    exact integer; the two quadratic forms then stay EXACT via
    truncated integer division (sz_g^2 // n_g in decimal/HUGEINT —
    never a cross-group float sum, whose partial-aggregation order
    would differ between engines), and W assembles as one identical
    IEEE expression off those integers. Headroom: sz_g^2 fits
    decimal(38,0) up to ~1e7 rows/group at this quantization; larger
    corpora drop the z scale (documented trade, same class as the
    Cram\xe9r\'s V overflow rework).

    Scale: two scans (group moments, then deviations), a broadcast
    |groups|-row join, 5-row final domain. Degenerate inputs (k < 2,
    zero within-group variance) yield NULL on both engines.
    """
    t = Tables(spark, sf_dir)
    cents = order_cents()
    c = t.orders.where(F.col("o_totalprice").isNotNull()).select(
        F.col("o_orderpriority").alias("g"), cents.alias("cents")
    )
    gs = c.groupBy("g").agg(
        F.count(F.lit(1)).alias("n_g"), F.sum(dec38(F.col("cents"))).alias("s_g")
    )
    z_q = F.floor(
        F.abs(
            F.col("cents").cast("double")
            - F.col("s_g").cast("double") / F.col("n_g")
        )
        * F.lit(100.0)
        + F.lit(0.5)
    ).cast("long")
    z = c.join(F.broadcast(gs), "g").select("g", z_q.alias("z_q"))
    zg = z.groupBy("g").agg(
        F.count(F.lit(1)).alias("n_g"),
        F.sum(dec38(F.col("z_q"))).alias("sz_g"),
        F.sum(dec38(F.col("z_q")) * F.col("z_q")).alias("szz_g"),
    )

    def _tdiv(num, den):
        # exact truncated integer division in decimal: (a - a % b) / b
        return (num - num % den) / den

    a = zg.agg(
        F.count(F.lit(1)).alias("k"),
        F.sum("n_g").cast("long").alias("n_total"),
        F.sum(F.col("sz_g")).alias("sz"),
        F.sum(_tdiv(F.col("sz_g") * F.col("sz_g"), dec38(F.col("n_g")))).alias(
            "bet_sum"
        ),
        F.sum(F.col("szz_g")).alias("szz"),
    )
    kd = F.col("k").cast("double")
    within = (F.col("szz") - F.col("bet_sum")).cast("double")
    between = (
        F.col("bet_sum") - _tdiv(F.col("sz") * F.col("sz"), dec38(F.col("n_total")))
    ).cast("double")
    w_stat = ((F.col("n_total").cast("double") - kd) / (kd - F.lit(1.0))) * (
        between / within
    )
    return a.select(
        "k",
        "n_total",
        F.when(
            (F.col("k") >= 2) & (F.col("n_total") > F.col("k")) & (within > 0),
            F.floor(w_stat * F.lit(1e6) + F.lit(0.5)).cast("long") / F.lit(1e6),
        ).alias("levene_w"),
    )


# ---------------------------------------------------------------------------
# Grubbs' extreme-outlier statistic per nation (supplier balances)
# ---------------------------------------------------------------------------

GRUBBS_MIN_N = 3


def _grubbs_oracle() -> str:
    return f"""
    WITH sup AS (
      SELECT c_nationkey AS s_nationkey,
             CAST(floor(c_acctbal * 100.0 + 0.5) AS BIGINT) AS cents
      FROM customer WHERE c_acctbal IS NOT NULL
    ), g1 AS (
      SELECT s_nationkey,
             CAST(count(*) AS BIGINT) AS n,
             CAST(sum(cents::HUGEINT) AS HUGEINT) AS s,
             CAST(sum(cents::HUGEINT * cents) AS HUGEINT) AS ss
      FROM sup GROUP BY s_nationkey
    ), devs AS (
      SELECT p.s_nationkey, g.n, g.s, g.ss,
             abs(p.cents::HUGEINT * g.n - g.s) AS dev
      FROM sup p JOIN g1 g USING (s_nationkey)
      WHERE g.n >= {GRUBBS_MIN_N}
    ), mx AS (
      SELECT s_nationkey,
             CAST(max(n) AS BIGINT) AS n,
             CAST(max(s) AS HUGEINT) AS s,
             CAST(max(ss) AS HUGEINT) AS ss,
             CAST(max(dev) AS HUGEINT) AS maxdev
      FROM devs GROUP BY s_nationkey
    )
    SELECT nn.n_name, m.n AS n_customers,
           CAST(floor(CAST(m.maxdev AS DOUBLE) / m.n / 100.0 * 1000000.0 + 0.5)
                AS BIGINT) / 1000000.0 AS max_abs_dev,
           CAST(floor((CAST(m.maxdev AS DOUBLE) / m.n)
                      / sqrt(CAST(m.n::HUGEINT * m.ss - m.s * m.s AS DOUBLE)
                             / (CAST(m.n AS DOUBLE) * m.n * (m.n - 1)))
                      * 1000000.0 + 0.5) AS BIGINT) / 1000000.0 AS grubbs_g
    FROM mx m JOIN nation nn ON m.s_nationkey = nn.n_nationkey
    """


@register("stats_grubbs_acctbal_nation", oracle=_grubbs_oracle())
def stats_grubbs_acctbal_nation(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Grubbs' extreme-outlier statistic G = max|x - mean|/sd per
    nation over customer account balances — the single-most-extreme-
    value screen that complements the fence-counting
    ``dq_iqr_outlier_fences`` (IQR counts how many points sit outside
    robust fences; Grubbs asks whether the WORST point is extreme
    relative to a normal-theory spread).

    max|x - mean| is found in exact integer space as max|x*n - s| (no
    float mean subtraction per row, so the argmax cannot flip on
    rounding); variance comes from the exact (n, sum, sum-of-squares)
    triple; only the final G divides/sqrts in double through an
    oracle-mirrored chain. Two scans of customer (one for moments, one
    for deviations vs the broadcast per-nation triple), both partial-
    aggregated on nationkey — bounded output, no windows, no
    cartesian.
    """
    t = Tables(spark, sf_dir)
    sup = t.customer.filter(F.col("c_acctbal").isNotNull()).select(
        F.col("c_nationkey").alias("s_nationkey"),
        F.floor(F.col("c_acctbal") * F.lit(100.0) + F.lit(0.5)).cast("long").alias("cents"),
    )
    g1 = sup.groupBy("s_nationkey").agg(
        F.count(F.lit(1)).alias("n"),
        F.sum(dec38(F.col("cents"))).alias("s"),
        F.sum(dec38(F.col("cents")) * F.col("cents")).alias("ss"),
    )
    devs = sup.join(F.broadcast(g1), "s_nationkey").filter(
        F.col("n") >= GRUBBS_MIN_N
    ).select(
        "s_nationkey",
        "n",
        "s",
        "ss",
        F.abs(dec38(F.col("cents")) * F.col("n") - F.col("s")).alias("dev"),
    )
    mx = devs.groupBy("s_nationkey").agg(
        F.max("n").alias("n"),
        F.max("s").alias("s"),
        F.max("ss").alias("ss"),
        F.max("dev").alias("maxdev"),
    )
    n_d = F.col("n").cast("double")
    mdev = F.col("maxdev").cast("double") / F.col("n")
    var = (dec38(F.col("n")) * F.col("ss") - F.col("s") * F.col("s")).cast("double") / (
        n_d * F.col("n") * (F.col("n") - 1)
    )
    out = mx.join(
        F.broadcast(Tables(spark, sf_dir).nation.select("n_nationkey", "n_name")),
        F.col("s_nationkey") == F.col("n_nationkey"),
    )
    return out.select(
        "n_name",
        F.col("n").alias("n_customers"),
        (
            F.floor(mdev / F.lit(100.0) * F.lit(1e6) + F.lit(0.5)).cast("long")
            / F.lit(1e6)
        ).alias("max_abs_dev"),
        (
            F.floor(mdev / F.sqrt(var) * F.lit(1e6) + F.lit(0.5)).cast("long")
            / F.lit(1e6)
        ).alias("grubbs_g"),
    )


# ---------------------------------------------------------------------------
# OLS influence diagnostics over the daily revenue trend (Cook's D)
# ---------------------------------------------------------------------------

INFLUENCE_TOPK = 5


def _ols_influence_oracle() -> str:
    return f"""
    WITH daily AS (
      SELECT CAST(o_orderdate AS DATE) AS d,
             CAST(count(*) AS BIGINT) AS n_orders,
             CAST(sum(CAST(floor(o_totalprice * 100.0 + 0.5) AS BIGINT)::HUGEINT)
                  AS HUGEINT) AS y
      FROM orders GROUP BY 1
    ), dx AS (
      SELECT d, n_orders, y,
             CAST(date_diff('day', DATE '1992-01-01', d) AS BIGINT) AS x
      FROM daily
    ), s AS (
      SELECT CAST(count(*) AS BIGINT) AS n,
             CAST(sum(x::HUGEINT) AS HUGEINT) AS sx,
             CAST(sum(y) AS HUGEINT) AS sy,
             CAST(sum(x::HUGEINT * y) AS HUGEINT) AS sxy,
             CAST(sum(x::HUGEINT * x) AS HUGEINT) AS sxx
      FROM dx
    ), fit AS (
      SELECT n, sx, sy, sxx,
             CAST(n::HUGEINT * sxy - sx * sy AS DOUBLE)
               / CAST(n::HUGEINT * sxx - sx * sx AS DOUBLE) AS b,
             CAST(n::HUGEINT * sxx - sx * sx AS DOUBLE) AS sxx_c
      FROM s
    ), fit2 AS (
      SELECT n, sx, sxx_c, b,
             (CAST(sy AS DOUBLE) - b * CAST(sx AS DOUBLE)) / n AS a
      FROM fit
    ), res AS (
      SELECT dx.d, dx.n_orders, dx.x, f.n, f.sx, f.sxx_c, f.b, f.a,
             CAST(floor(CAST(dx.y AS DOUBLE) - (f.a + f.b * dx.x) + 0.5)
                  AS BIGINT) AS r_q
      FROM dx, fit2 f
    ), sse AS (
      SELECT CAST(sum(r_q::HUGEINT * r_q) AS HUGEINT) AS sse2 FROM res
    ), diag AS (
      SELECT r.d, r.n_orders, r.r_q,
             1.0 / r.n + (CAST(r.x AS DOUBLE) - CAST(r.sx AS DOUBLE) / r.n)
                         * (CAST(r.x AS DOUBLE) - CAST(r.sx AS DOUBLE) / r.n)
                         * r.n / r.sxx_c AS h,
             CAST(e.sse2 AS DOUBLE) / (r.n - 2) AS s2
      FROM res r, sse e
    )
    SELECT strftime(d, '%Y-%m-%d') AS day, n_orders, r_q AS resid_cents,
           CAST(floor(h * 1000000.0 + 0.5) AS BIGINT) / 1000000.0 AS leverage,
           CAST(floor(CAST(r_q AS DOUBLE) * r_q * h
                      / (2.0 * s2 * ((1.0 - h) * (1.0 - h)))
                      * 1000000.0 + 0.5) AS BIGINT) / 1000000.0 AS cooks_d
    FROM diag
    ORDER BY CAST(r_q AS DOUBLE) * r_q * h
             / (2.0 * s2 * ((1.0 - h) * (1.0 - h))) DESC, d
    LIMIT {INFLUENCE_TOPK}
    """


@register("stats_ols_influence_daily", oracle=_ols_influence_oracle())
def stats_ols_influence_daily(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Cook's-distance influence diagnostics for the daily-revenue
    OLS trend: the top-5 most influential days with residual, leverage
    and Cook's D — the "which day is dragging the trend line" answer
    that turns ``stats_linear_regression`` from a fit into a DQ tool
    (a single ETL-duplicated day shows up here first).

    The regression runs on the CALENDAR-bounded daily aggregate (one
    partial-aggregated scan of orders), sufficient statistics are
    exact decimal integers, and residuals quantize to integer cents
    BEFORE the SSE sum — so s^2, leverage and D evaluate in double
    from exact integers through an oracle-mirrored chain, and the
    top-k ordering (D desc, date) cannot flip cross-engine. The top-k
    itself is a TakeOrdered over the bounded day table, not a global
    sort of anything row-scaled.
    """
    t = Tables(spark, sf_dir)
    cents = order_cents()
    daily = (
        t.orders.select(F.to_date("o_orderdate").alias("d"), cents.alias("cents"))
        .groupBy("d")
        .agg(F.count(F.lit(1)).alias("n_orders"), F.sum(dec38(F.col("cents"))).alias("y"))
    )
    dx = daily.withColumn(
        "x", F.datediff(F.col("d"), F.to_date(F.lit("1992-01-01"))).cast("long")
    )
    s = dx.agg(
        F.count(F.lit(1)).alias("n"),
        F.sum(dec38(F.col("x"))).alias("sx"),
        F.sum("y").alias("sy"),
        F.sum(dec38(F.col("x")) * F.col("y")).alias("sxy"),
        F.sum(dec38(F.col("x")) * F.col("x")).alias("sxx"),
    )
    n_dec = dec38(F.col("n"))
    b = (n_dec * F.col("sxy") - F.col("sx") * F.col("sy")).cast("double") / (
        n_dec * F.col("sxx") - F.col("sx") * F.col("sx")
    ).cast("double")
    fit = s.select(
        "n",
        "sx",
        b.alias("b"),
        (n_dec * F.col("sxx") - F.col("sx") * F.col("sx")).cast("double").alias("sxx_c"),
        ((F.col("sy").cast("double") - b * F.col("sx").cast("double")) / F.col("n")).alias(
            "a"
        ),
    )
    res = dx.join(F.broadcast(fit)).select(
        "d",
        "n_orders",
        "x",
        "n",
        "sx",
        "sxx_c",
        (
            F.floor(
                F.col("y").cast("double") - (F.col("a") + F.col("b") * F.col("x")) + F.lit(0.5)
            ).cast("long")
        ).alias("r_q"),
    )
    sse = res.agg(F.sum(dec38(F.col("r_q")) * F.col("r_q")).alias("sse2"))
    xdev = F.col("x").cast("double") - F.col("sx").cast("double") / F.col("n")
    diag = res.join(F.broadcast(sse)).select(
        "d",
        "n_orders",
        "r_q",
        (F.lit(1.0) / F.col("n") + xdev * xdev * F.col("n") / F.col("sxx_c")).alias("h"),
        (F.col("sse2").cast("double") / (F.col("n") - 2)).alias("s2"),
    )
    dcook = (
        F.col("r_q").cast("double")
        * F.col("r_q")
        * F.col("h")
        / (F.lit(2.0) * F.col("s2") * ((F.lit(1.0) - F.col("h")) * (F.lit(1.0) - F.col("h"))))
    )
    return (
        diag.orderBy(dcook.desc(), F.col("d"))
        .limit(INFLUENCE_TOPK)
        .select(
            F.date_format(F.col("d"), "yyyy-MM-dd").alias("day"),
            "n_orders",
            F.col("r_q").alias("resid_cents"),
            (F.floor(F.col("h") * F.lit(1e6) + F.lit(0.5)).cast("long") / F.lit(1e6)).alias(
                "leverage"
            ),
            (F.floor(dcook * F.lit(1e6) + F.lit(0.5)).cast("long") / F.lit(1e6)).alias(
                "cooks_d"
            ),
        )
    )


# ---------------------------------------------------------------------------
# Two-way ANOVA: price by return flag x order priority
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
# Bartlett's test for equal order-total variance across priorities
# ---------------------------------------------------------------------------


def _bartlett_oracle() -> str:
    from ..functions.detmath import sql_det_ln_steps

    return f"""
    WITH px AS (
      SELECT o_orderpriority AS g,
             CAST(floor(o_totalprice * 100 + 0.5) AS BIGINT) AS x
      FROM orders
    ), per AS (
      SELECT g, CAST(count(*) AS BIGINT) AS n_g,
             CAST(sum(x) AS HUGEINT) AS s,
             CAST(sum(x::HUGEINT * x) AS HUGEINT) AS qq
      FROM px GROUP BY g
    ), s2t AS (
      SELECT g, n_g,
             CAST((n_g::HUGEINT * qq - s * s) // (n_g::HUGEINT * (n_g - 1))
               AS BIGINT) AS s2_g,
             (n_g::HUGEINT * qq - s * s) // n_g::HUGEINT AS ss_g
      FROM per WHERE n_g >= 2
    ), {sql_det_ln_steps('s2t', 's2_g', 'lg')},
    tot AS (
      SELECT CAST(count(*) AS BIGINT) AS k,
             CAST(sum(n_g) AS BIGINT) AS n,
             CAST(sum(ss_g) AS HUGEINT) AS sssum,
             CAST(sum((n_g - 1)::HUGEINT * lg) AS HUGEINT) AS slg,
             CAST(sum(1000000000000000000::HUGEINT // (n_g - 1)) AS BIGINT)
               AS invsum_u
      FROM lg_rel
    ), pool AS (
      SELECT k, n, slg, invsum_u,
             CAST(sssum // (n - k)::HUGEINT AS BIGINT) AS sp2
      FROM tot
    ), {sql_det_ln_steps('pool', 'sp2', 'lp')}
    SELECT k AS k_groups, n AS n_total, sp2 AS pooled_var_cents2,
           CASE WHEN k >= 2 AND n > k THEN
             CAST(floor(
               (CAST((n - k)::HUGEINT * lp - slg AS DOUBLE) / 1000000.0::DOUBLE)
               / (1.0::DOUBLE + ((CAST(invsum_u AS DOUBLE)
                   - CAST(1000000000000000000::HUGEINT // (n - k)::HUGEINT
                          AS DOUBLE)) / 1e18::DOUBLE)
                  / (3.0::DOUBLE * (k - 1)))
               * 1000000.0 + 0.5) AS BIGINT) / 1000000.0
           END AS t_bartlett
    FROM lp_rel
    """


@register("stats_bartlett_variance_priority", oracle=_bartlett_oracle())
def stats_bartlett_variance_priority(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Bartlett's test for homogeneity of order-total variance across
    the five priority classes — the NORMAL-theory variance test beside
    the robust ones (Levene tests deviations from group centers,
    Mood/Ansari test scale by ranks; Bartlett is the likelihood-ratio
    test every ANOVA textbook gates on, most powerful under normality
    and the right "did the spread change" screen when the data are
    well-behaved).

    T = [(N-k) ln s_p^2 - sum (n_i-1) ln s_i^2] / C. Variances are
    integer-truncated cents^2 (exact decimal (n*Q - S^2) // d in both
    engines — the <1 cents^2 truncation is part of the statistic's
    definition here, identically on both sides); the logs are the
    det-ln fixed-point chain, so (N-k) ln s_p^2 - sum (n_i-1) ln s_i^2
    is an EXACT int64 in 1e-6 ln-units (the ln-unit shift from cents^2
    scaling cancels because the coefficients sum to zero); the C
    correction's reciprocal sum accumulates as exact 1e-18-unit
    integer divisions, so C is bit-identical cross-engine. One scan to
    5 group rows; everything after is constant-size.
    """
    from ..functions.detmath import det_ln_q

    t = Tables(spark, sf_dir)
    px = t.orders.select(
        F.col("o_orderpriority").alias("g"),
        order_cents().alias("x"),
    )
    per = px.groupBy("g").agg(
        F.count(F.lit(1)).alias("n_g"),
        F.sum(dec38(F.col("x"))).alias("s"),
        F.sum(dec38(F.col("x")) * F.col("x")).alias("qq"),
    ).filter(F.col("n_g") >= 2)

    def tdiv(num, den):
        return (num - num % den) / den

    ssnum = dec38(F.col("n_g")) * F.col("qq") - F.col("s") * F.col("s")
    s2t = per.select(
        "g",
        "n_g",
        tdiv(ssnum, dec38(F.col("n_g")) * (F.col("n_g") - 1)).cast("long").alias("s2_g"),
        tdiv(ssnum, dec38(F.col("n_g"))).alias("ss_g"),
    )
    lg = s2t.select("n_g", "ss_g", det_ln_q(F.col("s2_g")).alias("lg"))
    big = F.lit(10**18).cast("decimal(38,0)")
    tot = lg.agg(
        F.count(F.lit(1)).alias("k"),
        F.sum("n_g").alias("n"),
        F.sum(F.col("ss_g")).alias("sssum"),
        F.sum(dec38(F.col("n_g") - 1) * F.col("lg")).alias("slg"),
        F.sum(tdiv(big, dec38(F.col("n_g") - 1)).cast("long")).alias("invsum_u"),
    )
    pool = tot.select(
        "k",
        "n",
        "slg",
        "invsum_u",
        tdiv(F.col("sssum"), dec38(F.col("n") - F.col("k"))).cast("long").alias("sp2"),
    )
    lp = pool.select("*", det_ln_q(F.col("sp2")).alias("lp"))
    t_num = (
        (dec38(F.col("n") - F.col("k")) * F.col("lp") - F.col("slg")).cast("double")
        / F.lit(1000000.0)
    )
    c_corr = F.lit(1.0) + (
        (
            F.col("invsum_u").cast("double")
            - tdiv(big, dec38(F.col("n") - F.col("k"))).cast("double")
        )
        / F.lit(1e18)
    ) / (F.lit(3.0) * (F.col("k") - 1))
    return lp.select(
        F.col("k").alias("k_groups"),
        F.col("n").alias("n_total"),
        F.col("sp2").alias("pooled_var_cents2"),
        F.when(
            (F.col("k") >= 2) & (F.col("n") > F.col("k")),
            F.floor(t_num / c_corr * F.lit(1000000.0) + F.lit(0.5)).cast("long")
            / F.lit(1e6),
        ).alias("t_bartlett"),
    )


# ---------------------------------------------------------------------------
# Partial correlation: price ~ quantity controlling for discount
# ---------------------------------------------------------------------------


def _partial_corr_oracle() -> str:
    r = (
        "(CAST(n AS DOUBLE) * CAST(s{a}{b} AS DOUBLE)"
        " - CAST(s{a} AS DOUBLE) * CAST(s{b} AS DOUBLE))"
        " / sqrt((CAST(n AS DOUBLE) * CAST(s{a}{a} AS DOUBLE)"
        " - CAST(s{a} AS DOUBLE) * CAST(s{a} AS DOUBLE))"
        " * (CAST(n AS DOUBLE) * CAST(s{b}{b} AS DOUBLE)"
        " - CAST(s{b} AS DOUBLE) * CAST(s{b} AS DOUBLE)))"
    )
    rxy, rxz, ryz = r.format(a="x", b="y"), r.format(a="x", b="z"), r.format(a="y", b="z")
    return f"""
    WITH v AS (
      SELECT CAST(floor(l_extendedprice * 100 + 0.5) AS BIGINT) AS x,
             CAST(l_quantity AS BIGINT) AS y,
             CAST(floor(l_discount * 100 + 0.5) AS BIGINT) AS z
      FROM lineitem
      WHERE l_extendedprice IS NOT NULL AND l_quantity IS NOT NULL
        AND l_discount IS NOT NULL
    ), a AS (
      SELECT CAST(count(*) AS BIGINT) AS n,
             CAST(sum(x) AS HUGEINT) AS sx, CAST(sum(y) AS HUGEINT) AS sy,
             CAST(sum(z) AS HUGEINT) AS sz,
             CAST(sum(x::HUGEINT * x) AS HUGEINT) AS sxx,
             CAST(sum(y::HUGEINT * y) AS HUGEINT) AS syy,
             CAST(sum(z::HUGEINT * z) AS HUGEINT) AS szz,
             CAST(sum(x::HUGEINT * y) AS HUGEINT) AS sxy,
             CAST(sum(x::HUGEINT * z) AS HUGEINT) AS sxz,
             CAST(sum(y::HUGEINT * z) AS HUGEINT) AS syz
      FROM v
    ), rr AS (
      SELECT n, {rxy} AS rxy, {rxz} AS rxz, {ryz} AS ryz FROM a
    )
    SELECT n AS n_rows,
           CAST(floor(rxy * 1000000.0 + 0.5) AS BIGINT) / 1000000.0 AS r_xy,
           CAST(floor(rxz * 1000000.0 + 0.5) AS BIGINT) / 1000000.0 AS r_xz,
           CAST(floor(ryz * 1000000.0 + 0.5) AS BIGINT) / 1000000.0 AS r_yz,
           CASE WHEN (1.0::DOUBLE - rxz * rxz) * (1.0::DOUBLE - ryz * ryz) > 0 THEN
             CAST(floor((rxy - rxz * ryz)
                        / sqrt((1.0::DOUBLE - rxz * rxz)
                               * (1.0::DOUBLE - ryz * ryz))
                        * 1000000.0 + 0.5) AS BIGINT) / 1000000.0
           END AS r_xy_given_z
    FROM rr
    """


@register("stats_partial_correlation_price", oracle=_partial_corr_oracle())
def stats_partial_correlation_price(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Partial correlation of extended price and quantity CONTROLLING
    for discount: r_xy.z = (r_xy - r_xz r_yz)/sqrt((1-r_xz^2)(1-r_yz^2))
    — the "is the price-quantity relationship real or
    discount-mediated" question the marginal correlations
    (``stats_spearman_corr``, ``stats_kendall_tau_b``) cannot answer;
    the three-variable conditioning member of the correlation family.

    One scan accumulates all ten exact decimal moment sums (cents /
    integer units, squares widened BEFORE multiplication); the three
    Pearson r's and the partial r are evaluated in double from those
    exact integers with an identical association order in both
    engines, each quantized half-up 1e-6. Degenerate conditioning
    (|r_xz| or |r_yz| = 1) yields NULL on both sides.
    """
    t = Tables(spark, sf_dir)
    v = t.lineitem.filter(
        F.col("l_extendedprice").isNotNull()
        & F.col("l_quantity").isNotNull()
        & F.col("l_discount").isNotNull()
    ).select(
        F.floor(F.col("l_extendedprice") * 100 + F.lit(0.5)).cast("long").alias("x"),
        F.col("l_quantity").cast("long").alias("y"),
        F.floor(F.col("l_discount") * 100 + F.lit(0.5)).cast("long").alias("z"),
    )
    a = v.agg(
        F.count(F.lit(1)).alias("n"),
        F.sum(dec38(F.col("x"))).alias("sx"),
        F.sum(dec38(F.col("y"))).alias("sy"),
        F.sum(dec38(F.col("z"))).alias("sz"),
        F.sum(dec38(F.col("x")) * F.col("x")).alias("sxx"),
        F.sum(dec38(F.col("y")) * F.col("y")).alias("syy"),
        F.sum(dec38(F.col("z")) * F.col("z")).alias("szz"),
        F.sum(dec38(F.col("x")) * F.col("y")).alias("sxy"),
        F.sum(dec38(F.col("x")) * F.col("z")).alias("sxz"),
        F.sum(dec38(F.col("y")) * F.col("z")).alias("syz"),
    )

    def r(sa, sb, sab, saa, sbb):
        nd = F.col("n").cast("double")
        num = nd * F.col(sab).cast("double") - F.col(sa).cast("double") * F.col(
            sb
        ).cast("double")
        den = F.sqrt(
            (nd * F.col(saa).cast("double") - F.col(sa).cast("double") * F.col(sa).cast("double"))
            * (nd * F.col(sbb).cast("double") - F.col(sb).cast("double") * F.col(sb).cast("double"))
        )
        return num / den

    rxy = r("sx", "sy", "sxy", "sxx", "syy")
    rxz = r("sx", "sz", "sxz", "sxx", "szz")
    ryz = r("sy", "sz", "syz", "syy", "szz")

    def q6(c):
        return F.floor(c * F.lit(1000000.0) + F.lit(0.5)).cast("long") / F.lit(1e6)

    pden = (F.lit(1.0) - rxz * rxz) * (F.lit(1.0) - ryz * ryz)
    return a.select(
        F.col("n").alias("n_rows"),
        q6(rxy).alias("r_xy"),
        q6(rxz).alias("r_xz"),
        q6(ryz).alias("r_yz"),
        F.when(pden > 0, q6((rxy - rxz * ryz) / F.sqrt(pden))).alias("r_xy_given_z"),
    )


# ---------------------------------------------------------------------------
# Tukey HSD post-hoc pairs (l_quantity by order priority)
# ---------------------------------------------------------------------------


def _tukey_oracle() -> str:
    from ..functions.exact import sql_round_big_int_ratio

    return f"""
    WITH jn AS (
      SELECT o.o_orderpriority AS g, CAST(l.l_quantity AS BIGINT) AS q
      FROM lineitem l JOIN orders o ON o.o_orderkey = l.l_orderkey
    ), grp AS (
      SELECT g, CAST(count(*) AS HUGEINT) AS n,
             CAST(sum(q) AS HUGEINT) AS s,
             CAST(sum(q * q) AS HUGEINT) AS qq
      FROM jn GROUP BY g
    ), gq AS (
      SELECT g, n, s,
             {sql_halfup_div('10000::HUGEINT * s', 'n')} AS mq,
             {sql_halfup_div('10000::HUGEINT * (n * qq - s * s)', 'n')} AS sswq
      FROM grp
    ), tot AS (
      SELECT CAST(sum(n) AS HUGEINT) AS nn,
             CAST(count(*) AS HUGEINT) AS kk,
             CAST(sum(sswq) AS HUGEINT) AS ssw
      FROM gq
    ), pairs AS (
      SELECT a.g AS prio_a, b.g AS prio_b,
             a.n AS na, b.n AS nb, a.mq - b.mq AS dm,
             t.nn, t.kk, t.ssw
      FROM gq a JOIN gq b ON a.g < b.g, tot t
    )
    SELECT prio_a, prio_b,
           CAST(na AS BIGINT) AS n_a, CAST(nb AS BIGINT) AS n_b,
           CAST(dm AS BIGINT) / 10000.0 AS mean_diff,
           CASE WHEN ssw > 0 AND nn > kk THEN
             {sql_round_big_int_ratio(
                 '(CASE WHEN dm < 0 THEN -1 ELSE 1 END) * dm * dm'
                 ' * 2 * na * nb * (nn - kk)',
                 '10000::HUGEINT * ssw * (na + nb)')}
           END AS q_signed_sq
    FROM pairs
    """


@register("stats_tukey_hsd_priority", _tukey_oracle())
def stats_tukey_hsd_priority(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Tukey HSD post-hoc pairwise comparisons of mean l_quantity
    across the five order priorities: the studentized-range statistic
    q_ij = (m_i - m_j)/sqrt(MSW/2 * (1/n_i + 1/n_j)) for every
    priority pair — the missing POST-HOC member after the omnibus
    family (one/two-way ANOVA, Welch, Kruskal-Wallis all say "some
    group differs"; Tukey says WHICH pairs, with family-wise control).

    House exact form sign(q)*q^2 (the sqrt-avoidance convention):
    group means and the within-group sum of squares quantize ONCE at
    1e-4 via the shared half-up idiom (mq = [1e4*S/n], sswq =
    [1e4*(n*Sum(q^2) - S^2)/n] per group — exact integers on both
    engines), then sign*dm^2*2*n_i*n_j*(N-k) /
    (1e4*SSW_q*(n_i+n_j)) is one round_big_int_ratio per pair
    (numerator <= ~1e34 at sf1x10, inside decimal(38)/HUGEINT). One
    fact-scan aggregate to 5 group rows; the pair grid is 10 rows by
    mechanism.
    """
    from ..functions.exact import round_big_int_ratio

    t = Tables(spark, sf_dir)
    jn = priority_quantities(t)
    grp = jn.groupBy("g").agg(
        dec38(F.count(F.lit(1))).alias("n"),
        dec38(F.sum("q")).alias("s"),
        dec38(F.sum(F.col("q") * F.col("q"))).alias("qq"),
    )
    ten4 = F.lit(10000).cast("decimal(38,0)")
    gq = grp.select(
        "g",
        "n",
        halfup_div(ten4 * F.col("s"), F.col("n")).alias("mq"),
        halfup_div(
            ten4 * (F.col("n") * F.col("qq") - F.col("s") * F.col("s")),
            F.col("n"),
        ).alias("sswq"),
    )
    tot = gq.agg(
        F.sum("n").alias("nn"),
        dec38(F.count(F.lit(1))).alias("kk"),
        F.sum("sswq").alias("ssw"),
    )
    a = gq.select(
        F.col("g").alias("prio_a"),
        F.col("n").alias("na"),
        F.col("mq").alias("mqa"),
    )
    b = gq.select(
        F.col("g").alias("prio_b"),
        F.col("n").alias("nb"),
        F.col("mq").alias("mqb"),
    )
    pairs = a.join(F.broadcast(b), F.col("prio_a") < F.col("prio_b")).crossJoin(
        F.broadcast(tot)
    )
    dm = F.col("mqa") - F.col("mqb")
    sign = F.when(dm < 0, F.lit(-1)).otherwise(F.lit(1)).cast("decimal(38,0)")
    return pairs.select(
        "prio_a",
        "prio_b",
        F.col("na").cast("long").alias("n_a"),
        F.col("nb").cast("long").alias("n_b"),
        (dm.cast("long") / F.lit(1e4)).alias("mean_diff"),
        F.when(
            (F.col("ssw") > 0) & (F.col("nn") > F.col("kk")),
            round_big_int_ratio(
                sign
                * dm
                * dm
                * F.lit(2).cast("decimal(38,0)")
                * F.col("na")
                * F.col("nb")
                * (F.col("nn") - F.col("kk")),
                ten4 * F.col("ssw") * (F.col("na") + F.col("nb")),
            ),
        ).alias("q_signed_sq"),
    )


# ---------------------------------------------------------------------------
# Brown-Forsythe (median-centered Levene) on quantity by priority
# ---------------------------------------------------------------------------


def _brown_forsythe_oracle() -> str:
    from ..functions.exact import sql_round_big_int_ratio, sql_round_int_ratio

    return f"""
    WITH jn AS (
      SELECT o.o_orderpriority AS g, CAST(l.l_quantity AS BIGINT) AS q
      FROM lineitem l JOIN orders o ON o.o_orderkey = l.l_orderkey
    ), grid AS (
      SELECT g, q, CAST(count(*) AS BIGINT) AS cnt FROM jn GROUP BY g, q
    ), cum AS (
      SELECT a.g, a.q, a.cnt,
             CAST(sum(b.cnt) AS BIGINT) AS cle
      FROM grid a JOIN grid b ON b.g = a.g AND b.q <= a.q
      GROUP BY a.g, a.q, a.cnt
    ), gn AS (
      SELECT g, CAST(sum(cnt) AS BIGINT) AS n FROM grid GROUP BY g
    ), med AS (
      SELECT c.g, CAST(min(c.q) AS BIGINT) AS med
      FROM cum c JOIN gn ON gn.g = c.g
      WHERE c.cle >= (gn.n + 1) // 2
      GROUP BY c.g
    ), zrows AS (
      SELECT gr.g, gr.cnt, abs(gr.q - med.med) AS z
      FROM grid gr JOIN med ON med.g = gr.g
    ), per_g AS (
      SELECT g, CAST(sum(cnt) AS HUGEINT) AS n,
             CAST(sum(cnt * z) AS HUGEINT) AS sz,
             CAST(sum(cnt * z * z) AS HUGEINT) AS szz
      FROM zrows GROUP BY g
    ), tq AS (
      SELECT g, n, sz, szz,
             {sql_halfup_div('10000::HUGEINT * sz * sz', 'n')} AS t_g
      FROM per_g
    ), tot AS (
      SELECT CAST(sum(n) AS HUGEINT) AS nn,
             CAST(count(*) AS HUGEINT) AS kk,
             CAST(sum(sz) AS HUGEINT) AS sz_all,
             CAST(sum(szz) AS HUGEINT) AS szz_all,
             CAST(sum(t_g) AS HUGEINT) AS t_sum
      FROM tq
    ), stat AS (
      SELECT nn, kk,
             t_sum - {sql_halfup_div('10000::HUGEINT * sz_all * sz_all',
                                      'nn')} AS b_q,
             10000::HUGEINT * szz_all - t_sum AS d_q
      FROM tot
    )
    SELECT t.g AS priority, CAST(t.n AS BIGINT) AS n,
           CAST(m.med AS BIGINT) AS group_median,
           {sql_round_int_ratio('CAST(t.sz AS BIGINT)', 'CAST(t.n AS BIGINT)')}
             AS mean_absdev,
           CASE WHEN s.d_q > 0 AND s.kk > 1 AND s.nn > s.kk THEN
             {sql_round_big_int_ratio('s.b_q * (s.nn - s.kk)',
                                      's.d_q * (s.kk - 1)')}
           END AS w_stat
    FROM tq t JOIN med m ON m.g = t.g CROSS JOIN stat s
    """


@register("stats_brown_forsythe_quantity", _brown_forsythe_oracle())
def stats_brown_forsythe_quantity(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Brown-Forsythe test (median-centered Levene) for homogeneity of
    l_quantity spread across order priorities — the ROBUST member of
    the variance-test family: stats_levene_priority centers on the
    MEAN (power against normal-ish alternatives, fragile under
    skew/outliers), Bartlett assumes normality outright; BF's
    median-centered deviations keep the test's size under heavy
    tails, which is why it is the default in most stats packages.

    Exactness beats the Levene op's: the group median over the
    ≤50-value quantity domain is an exact integer (nearest-rank via
    the bounded-grid cumulative), so z = |q − med| is an exact int
    per grid cell and EVERY sum is integer-weighted by cell counts —
    no per-row float deviation anywhere. The two quadratic forms
    quantize once per group at 1e-4 by the shared half-up idiom and W
    assembles as one round_big_int_ratio. All heavy work is the
    lineitem⋈orders scan partial-aggregated to the (priority,
    quantity) grid (≤ 250 cells); medians, sums and W live on that
    grid.
    """
    from ..functions.exact import round_big_int_ratio, round_int_ratio

    t = Tables(spark, sf_dir)
    jn = priority_quantities(t)
    grid = jn.groupBy("g", "q").agg(F.count(F.lit(1)).alias("cnt"))
    gb = grid.select(
        F.col("g").alias("g_b"), F.col("q").alias("q_b"), F.col("cnt").alias("cnt_b")
    )
    cum = (
        grid.join(
            F.broadcast(gb),
            (F.col("g_b") == F.col("g")) & (F.col("q_b") <= F.col("q")),
        )
        .groupBy("g", "q", "cnt")
        .agg(F.sum("cnt_b").alias("cle"))
    )
    gn = grid.groupBy("g").agg(F.sum("cnt").alias("n"))
    med = (
        cum.join(F.broadcast(gn), "g")
        .filter(F.col("cle") >= ((F.col("n") + 1) - (F.col("n") + 1) % 2) / 2)
        .groupBy("g")
        .agg(F.min("q").alias("med"))
    )
    zrows = grid.join(F.broadcast(med), "g").select(
        "g", "cnt", F.abs(F.col("q") - F.col("med")).alias("z")
    )
    per_g = zrows.groupBy("g").agg(
        dec38(F.sum("cnt")).alias("n"),
        dec38(F.sum(F.col("cnt") * F.col("z"))).alias("sz"),
        dec38(F.sum(F.col("cnt") * F.col("z") * F.col("z"))).alias("szz"),
    )
    e4 = F.lit(10000).cast("decimal(38,0)")
    tq = per_g.select(
        "g",
        "n",
        "sz",
        "szz",
        halfup_div(e4 * F.col("sz") * F.col("sz"), F.col("n")).alias("t_g"),
    )
    tot = tq.agg(
        F.sum("n").alias("nn"),
        dec38(F.count(F.lit(1))).alias("kk"),
        F.sum("sz").alias("sz_all"),
        F.sum("szz").alias("szz_all"),
        F.sum("t_g").alias("t_sum"),
    )
    stat = tot.select(
        "nn",
        "kk",
        (
            F.col("t_sum")
            - halfup_div(e4 * F.col("sz_all") * F.col("sz_all"), F.col("nn"))
        ).alias("b_q"),
        (e4 * F.col("szz_all") - F.col("t_sum")).alias("d_q"),
    )
    one = F.lit(1).cast("decimal(38,0)")
    return (
        tq.join(F.broadcast(med.select(F.col("g"), F.col("med"))), "g")
        .crossJoin(F.broadcast(stat))
        .select(
            F.col("g").alias("priority"),
            F.col("n").cast("long").alias("n"),
            F.col("med").cast("long").alias("group_median"),
            round_int_ratio(
                F.col("sz").cast("long"), F.col("n").cast("long")
            ).alias("mean_absdev"),
            F.when(
                (F.col("d_q") > 0) & (F.col("kk") > 1) & (F.col("nn") > F.col("kk")),
                round_big_int_ratio(
                    F.col("b_q") * (F.col("nn") - F.col("kk")),
                    F.col("d_q") * (F.col("kk") - one),
                ),
            ).alias("w_stat"),
        )
    )


# ---------------------------------------------------------------------------
# Tukey two-way median polish (nation x priority order counts)
# ---------------------------------------------------------------------------


def _polish_oracle() -> str:
    return """
    WITH cells0 AS (
      SELECT c.c_nationkey AS nationkey, o.o_orderpriority AS priority,
             CAST(count(*) AS BIGINT) AS cell
      FROM orders o JOIN customer c ON c.c_custkey = o.o_custkey
      GROUP BY 1, 2
    ), spine AS (
      SELECT n.n_nationkey AS nationkey, p.priority
      FROM nation n,
           (SELECT DISTINCT o_orderpriority AS priority FROM orders) p
    ), cells AS (
      SELECT s.nationkey, s.priority, coalesce(c0.cell, 0) AS cell
      FROM spine s LEFT JOIN cells0 c0
        ON c0.nationkey = s.nationkey AND c0.priority = s.priority
    ), rowmed AS (
      SELECT nationkey,
             list_sort(list(cell))[(count(*) + 1) // 2] AS row_med
      FROM cells GROUP BY nationkey
    ), sweep1 AS (
      SELECT c.nationkey, c.priority, c.cell, r.row_med,
             c.cell - r.row_med AS r1
      FROM cells c JOIN rowmed r ON r.nationkey = c.nationkey
    ), colmed AS (
      SELECT priority,
             list_sort(list(r1))[(count(*) + 1) // 2] AS col_med
      FROM sweep1 GROUP BY priority
    )
    SELECT s.nationkey, s.priority, s.cell,
           CAST(s.row_med AS BIGINT) AS row_effect,
           CAST(m.col_med AS BIGINT) AS col_effect,
           CAST(s.r1 - m.col_med AS BIGINT) AS residual
    FROM sweep1 s JOIN colmed m ON m.priority = s.priority
    ORDER BY s.nationkey, s.priority
    """


@register("stats_median_polish_2way", oracle=_polish_oracle())
def stats_median_polish_2way(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Tukey's two-way MEDIAN POLISH on the nation x priority
    order-count table (one row sweep, one column sweep): the robust
    alternative to ``stats_two_way_anova_price``'s mean decomposition —
    effects are medians, so a single anomalous cell (one nation
    dumping one priority) lands entirely in its own residual instead
    of leaking into every margin the way means do. The residual table
    IS the anomaly report.

    Exactness: the grid is complete by construction — the 25-nation x
    5-priority spine (both ODD) is cross-joined from the dimension
    tables and zero-filled, so every row median is the exact middle of
    5 integers and every column median the exact middle of 25 integers
    (sorted-array middle element, no averaging of two middles, no
    doubles anywhere). Integer in, integer out.

    Scale shape: the fact scan partial-aggregates to <=125 cells; the
    sweeps are two tiny grouped sorted-array medians joined back by
    key. The spine cross-join is broadcast dimension x dimension.
    """
    t = Tables(spark, sf_dir)
    cells0 = (
        t.orders.join(
            t.customer.select("c_custkey", "c_nationkey"),
            t.orders.o_custkey == F.col("c_custkey"),
        )
        .groupBy(
            F.col("c_nationkey").alias("nationkey"),
            F.col("o_orderpriority").alias("priority"),
        )
        .agg(F.count(F.lit(1)).cast("long").alias("cell"))
    )
    spine = t.nation.select(F.col("n_nationkey").alias("nationkey")).crossJoin(
        F.broadcast(
            t.orders.select(
                F.col("o_orderpriority").alias("priority")
            ).distinct()
        )
    )
    cells = spine.join(cells0, ["nationkey", "priority"], "left").select(
        "nationkey",
        "priority",
        F.coalesce(F.col("cell"), F.lit(0)).cast("long").alias("cell"),
    )
    rowmed = cells.groupBy("nationkey").agg(
        F.element_at(
            F.array_sort(F.collect_list("cell")),
            ((F.count(F.lit(1)) + 1) / 2).cast("int"),
        ).alias("row_med")
    )
    sweep1 = cells.join(rowmed, "nationkey").select(
        "nationkey",
        "priority",
        "cell",
        "row_med",
        (F.col("cell") - F.col("row_med")).alias("r1"),
    )
    colmed = sweep1.groupBy("priority").agg(
        F.element_at(
            F.array_sort(F.collect_list("r1")),
            ((F.count(F.lit(1)) + 1) / 2).cast("int"),
        ).alias("col_med")
    )
    return (
        sweep1.join(F.broadcast(colmed), "priority")
        .select(
            "nationkey",
            "priority",
            "cell",
            F.col("row_med").cast("long").alias("row_effect"),
            F.col("col_med").cast("long").alias("col_effect"),
            (F.col("r1") - F.col("col_med")).cast("long").alias("residual"),
        )
        .orderBy("nationkey", "priority")
    )


# ---------------------------------------------------------------------------
# TOST equivalence test (A/B on event value, signed-squared-t)
# ---------------------------------------------------------------------------

TOST_MARGIN_PCT = 5  # equivalence margin: 5% of the pooled mean


TOST_T_CRIT_SQ_MICRO = 2_706_025  # 1.645^2 at 1e-6 (one-sided z, alpha=.05)


def _tost_oracle() -> str:
    hd = sql_halfup_div
    return f"""
    WITH ab AS (
      SELECT CAST(user_id % 2 AS BIGINT) AS grp,
             CAST(floor(value * 100 + 0.5) AS BIGINT) AS v
      FROM events WHERE value IS NOT NULL
    ), m AS (
      SELECT
        CAST(sum(CASE WHEN grp = 0 THEN 1 ELSE 0 END) AS HUGEINT) AS n1,
        CAST(sum(CASE WHEN grp = 1 THEN 1 ELSE 0 END) AS HUGEINT) AS n2,
        CAST(sum(CASE WHEN grp = 0 THEN v ELSE 0 END) AS HUGEINT) AS s1,
        CAST(sum(CASE WHEN grp = 1 THEN v ELSE 0 END) AS HUGEINT) AS s2,
        CAST(sum(CASE WHEN grp = 0 THEN v::HUGEINT * v ELSE 0 END) AS HUGEINT) AS q1,
        CAST(sum(CASE WHEN grp = 1 THEN v::HUGEINT * v ELSE 0 END) AS HUGEINT) AS q2
      FROM ab
    ), micro AS (
      SELECT n1, n2,
        {hd('1000000::HUGEINT * (s1 * n2 - s2 * n1)', 'n1 * n2')} AS d_micro,
        {hd(f'1000000::HUGEINT * {TOST_MARGIN_PCT} * (s1 + s2)',
            '100::HUGEINT * (n1 + n2)')} AS delta_micro,
        -- var_g / n_g directly: the n_g^2 (n_g - 1) denominator IS the
        -- Welch per-group SE^2 term (var/n), so the two just sum
        {hd('1000000::HUGEINT * (n1 * q1 - s1 * s1)', 'n1 * n1 * (n1 - 1)')} AS v1_micro,
        {hd('1000000::HUGEINT * (n2 * q2 - s2 * s2)', 'n2 * n2 * (n2 - 1)')} AS v2_micro
      FROM m WHERE n1 > 1 AND n2 > 1
    ), se AS (
      SELECT *, (v1_micro + v2_micro) AS se2_micro
      FROM micro
    )
    SELECT CAST(n1 AS BIGINT) AS n_a, CAST(n2 AS BIGINT) AS n_b,
           CAST(d_micro AS DOUBLE) / 1000000 AS mean_diff_cents,
           CAST(delta_micro AS DOUBLE) / 1000000 AS margin_cents,
           CASE WHEN se2_micro > 0 THEN
             CAST({hd('(d_micro + delta_micro) * (d_micro + delta_micro)',
                      'se2_micro')} AS DOUBLE) / 1000000
               * (CASE WHEN d_micro + delta_micro < 0 THEN -1 ELSE 1 END)
           END AS t_lower_sq_signed,
           CASE WHEN se2_micro > 0 THEN
             CAST({hd('(delta_micro - d_micro) * (delta_micro - d_micro)',
                      'se2_micro')} AS DOUBLE) / 1000000
               * (CASE WHEN delta_micro - d_micro < 0 THEN -1 ELSE 1 END)
           END AS t_upper_sq_signed,
           CASE WHEN se2_micro > 0 THEN
             (d_micro + delta_micro > 0 AND delta_micro - d_micro > 0
              AND {hd('(d_micro + delta_micro) * (d_micro + delta_micro)',
                      'se2_micro')} > {TOST_T_CRIT_SQ_MICRO}
              AND {hd('(delta_micro - d_micro) * (delta_micro - d_micro)',
                      'se2_micro')} > {TOST_T_CRIT_SQ_MICRO})
           END AS equivalent
    FROM se
    """


@register("stats_tost_equivalence_ab", oracle=_tost_oracle())
def stats_tost_equivalence_ab(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TOST (two one-sided tests) EQUIVALENCE test on the user-parity
    A/B split of event value: rejects "the groups differ by more than
    the margin" rather than failing to reject "they differ" — the
    correct statistic for validating that an A/B harness is balanced
    (``stats_ttest_ab`` answers the opposite question;
    ``dq_ab_sample_ratio_mismatch`` audits counts, this audits the
    metric). Margin = 5% of the pooled mean; both one-sided statistics
    must clear the z critical value.

    Exactness convention: like ``stats_tukey_hsd_priority``'s
    q_signed_sq, the t statistics are reported as SIGNED SQUARES —
    t^2 = (d +/- delta)^2 / SE^2 is a ratio of exact integers (Welch
    SE^2 from the sufficient sums, each stage half-up micro-quantized
    identically in both engines), so no square root ever runs; the
    decision compares t^2 against the squared critical value with the
    sign guarding direction.

    Scale shape: ONE scan to six sufficient sums; everything after is
    1-row algebra.
    """
    t = Tables(spark, sf_dir)
    ab = t.events.filter(F.col("value").isNotNull()).select(
        (F.col("user_id") % 2).alias("grp"),
        F.floor(F.col("value") * 100 + F.lit(0.5)).cast("long").alias("v"),
    )
    m = ab.agg(
        dec38(F.sum(F.when(F.col("grp") == 0, 1).otherwise(0))).alias("n1"),
        dec38(F.sum(F.when(F.col("grp") == 1, 1).otherwise(0))).alias("n2"),
        dec38(F.sum(F.when(F.col("grp") == 0, F.col("v")).otherwise(0))).alias("s1"),
        dec38(F.sum(F.when(F.col("grp") == 1, F.col("v")).otherwise(0))).alias("s2"),
        F.sum(F.when(F.col("grp") == 0, dec38(F.col("v")) * F.col("v")).otherwise(0)).alias("q1"),
        F.sum(F.when(F.col("grp") == 1, dec38(F.col("v")) * F.col("v")).otherwise(0)).alias("q2"),
    ).filter((F.col("n1") > 1) & (F.col("n2") > 1))
    mm = F.lit(1_000_000).cast("decimal(38,0)")
    micro = m.select(
        "n1",
        "n2",
        halfup_div(
            mm * (F.col("s1") * F.col("n2") - F.col("s2") * F.col("n1")),
            F.col("n1") * F.col("n2"),
        ).alias("d_micro"),
        halfup_div(
            mm * TOST_MARGIN_PCT * (F.col("s1") + F.col("s2")),
            F.lit(100).cast("decimal(38,0)") * (F.col("n1") + F.col("n2")),
        ).alias("delta_micro"),
        halfup_div(
            mm * (F.col("n1") * F.col("q1") - F.col("s1") * F.col("s1")),
            F.col("n1") * F.col("n1") * (F.col("n1") - 1),
        ).alias("v1_micro"),
        halfup_div(
            mm * (F.col("n2") * F.col("q2") - F.col("s2") * F.col("s2")),
            F.col("n2") * F.col("n2") * (F.col("n2") - 1),
        ).alias("v2_micro"),
    )
    # v{1,2}_micro are already var_g/n_g (the n_g^2(n_g-1) denominator),
    # so Welch SE^2 is their plain sum — an earlier draft divided by n_g
    # AGAIN on both sides and passed oracle parity (the §5i.11
    # twin-sided class); the float TOST anchor in the replica caught it.
    se = micro.select(
        "*",
        (F.col("v1_micro") + F.col("v2_micro")).alias("se2_micro"),
    )
    lo = F.col("d_micro") + F.col("delta_micro")
    hi = F.col("delta_micro") - F.col("d_micro")
    t_lo = halfup_div(lo * lo, F.col("se2_micro"))
    t_hi = halfup_div(hi * hi, F.col("se2_micro"))
    crit = F.lit(TOST_T_CRIT_SQ_MICRO).cast("decimal(38,0)")
    return se.select(
        F.col("n1").cast("long").alias("n_a"),
        F.col("n2").cast("long").alias("n_b"),
        (F.col("d_micro").cast("double") / F.lit(1e6)).alias("mean_diff_cents"),
        (F.col("delta_micro").cast("double") / F.lit(1e6)).alias("margin_cents"),
        F.when(
            F.col("se2_micro") > 0,
            t_lo.cast("double")
            / F.lit(1e6)
            * F.when(lo < 0, F.lit(-1.0)).otherwise(F.lit(1.0)),
        ).alias("t_lower_sq_signed"),
        F.when(
            F.col("se2_micro") > 0,
            t_hi.cast("double")
            / F.lit(1e6)
            * F.when(hi < 0, F.lit(-1.0)).otherwise(F.lit(1.0)),
        ).alias("t_upper_sq_signed"),
        F.when(
            F.col("se2_micro") > 0,
            (lo > 0) & (hi > 0) & (t_lo > crit) & (t_hi > crit),
        ).alias("equivalent"),
    )


# ---------------------------------------------------------------------------
# Benjamini-Hochberg FDR over the per-nation urgency family
# ---------------------------------------------------------------------------

# chi^2_1 quantiles at 1 - 0.05*k/25, k = 1..25, in micro units —
# the BH step-up ladder for m = 25 simultaneous nation tests at
# FDR alpha = 0.05. Fixed literals computed by bisection on erfc and
# re-derived independently in tests/test_roundthirteen9.py.
BH_CRIT_MICRO = {
    1: 9549536, 2: 8283815, 3: 7550303, 4: 7033474, 5: 6634897,
    6: 6310869, 7: 6038143, 8: 5802874, 9: 5596149, 10: 5411894,
    11: 5245785, 12: 5094632, 13: 4956019, 14: 4828067, 15: 4709292,
    16: 4598497, 17: 4494704, 18: 4397105, 19: 4305022, 20: 4217885,
    21: 4135204, 22: 4056562, 23: 3981594, 24: 3909986, 25: 3841459,
}


def _bh_oracle() -> str:
    crit = " ".join(f"WHEN {k} THEN {c}" for k, c in sorted(BH_CRIT_MICRO.items()))
    return f"""
    WITH nat AS (
      SELECT n.n_name AS nation,
             CAST(count(*) AS HUGEINT) AS n_i,
             CAST(sum(CASE WHEN o.o_orderpriority = '1-URGENT'
                      THEN 1 ELSE 0 END) AS HUGEINT) AS k_i
      FROM orders o
      JOIN customer c ON c.c_custkey = o.o_custkey
      JOIN nation n ON n.n_nationkey = c.c_nationkey
      GROUP BY 1
    ), tot AS (
      SELECT CAST(sum(n_i) AS HUGEINT) AS nn, CAST(sum(k_i) AS HUGEINT) AS kk
      FROM nat
    ), z AS (
      SELECT nation, n_i, k_i,
             CAST(floor(
               (CAST(k_i * t.nn - n_i * t.kk AS DOUBLE)
                * CAST(k_i * t.nn - n_i * t.kk AS DOUBLE)) * 1000000.0
               / CAST(n_i AS DOUBLE) / CAST(t.kk AS DOUBLE)
               / CAST(t.nn - t.kk AS DOUBLE) + 0.5) AS BIGINT) AS z2
      FROM nat, tot t
    ), rk AS (
      SELECT a.nation, a.n_i, a.k_i, a.z2,
             1 + (SELECT count(*) FROM z b
                  WHERE b.z2 > a.z2
                     OR (b.z2 = a.z2 AND b.nation < a.nation)) AS bh_rank
      FROM z a
    ), rr AS (
      SELECT rk.*, (CASE bh_rank {crit} END) AS crit_micro,
             CASE WHEN z2 >= (CASE bh_rank {crit} END) THEN 1 ELSE 0 END
               AS raw_pass
      FROM rk
    ), kstar AS (
      SELECT coalesce(max(bh_rank), 0) AS k_star FROM rr WHERE raw_pass = 1
    )
    SELECT r.nation, CAST(r.n_i AS BIGINT) AS n_orders,
           CAST(r.k_i AS BIGINT) AS n_urgent,
           CAST(r.z2 AS BIGINT) AS z2_micro,
           CAST(r.bh_rank AS BIGINT) AS bh_rank,
           CAST(r.crit_micro AS BIGINT) AS crit_micro,
           CAST(CASE WHEN r.bh_rank <= s.k_star THEN 1 ELSE 0 END AS BIGINT)
             AS reject
    FROM rr r, kstar s ORDER BY r.bh_rank, r.nation
    """


@register("stats_bh_fdr_nation_urgency", oracle=_bh_oracle())
def stats_bh_fdr_nation_urgency(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Benjamini-Hochberg step-UP false-discovery-rate control
    (Benjamini & Hochberg 1995) over the 25-nation family of
    urgency-rate deviation tests: per nation, the one-sample
    proportion z^2 against the global urgent share; rank by
    significance; find the LARGEST rank k with z^2_(k) above the
    chi^2_1(1 - alpha k/m) ladder and reject everything at or above
    it. The Holm wrapper in the family controls FWER (any false
    positive); BH controls the false-discovery RATE — the multiplicity
    regime a 25-way dashboard actually runs at, uniformly more
    powerful when many nations genuinely deviate. Step-UP vs Holm's
    step-DOWN is the structural difference the replica pins: a rank
    below a passing rank is rejected even if its own raw test fails.

    Exactness: per-nation z^2 is ONE shape-matched IEEE double
    sequence over exact integers (d = k_i N - n_i K; z^2 = d^2 /
    (n_i K (N-K)), the Dunn precedent); the 25-value critical ladder
    is fixed integer micro literals (erf bisection, independently
    re-derived in the anchor test); ranking (predecessor-count
    self-join, deterministic (z^2 desc, nation) tiebreak), k* and
    rejection are pure integer logic.

    Scale shape: one orders scan with two broadcast dim joins
    partial-aggregates to 25 nation cells; everything after is
    25-row algebra. 25 rows out.
    """
    from ..functions.partitioning import gated_broadcast

    t = Tables(spark, sf_dir)
    nat = (
        t.orders.select("o_custkey", "o_orderpriority")
        .join(
            gated_broadcast(t.customer.select("c_custkey", "c_nationkey")),
            F.col("c_custkey") == F.col("o_custkey"),
        )
        .join(
            gated_broadcast(t.nation.select("n_nationkey", "n_name")),
            F.col("n_nationkey") == F.col("c_nationkey"),
        )
        .groupBy(F.col("n_name").alias("nation"))
        .agg(
            dec38(F.count(F.lit(1))).alias("n_i"),
            F.sum(
                F.when(F.col("o_orderpriority") == "1-URGENT", 1).otherwise(0)
            )
            .cast("decimal(38,0)")
            .alias("k_i"),
        )
        .localCheckpoint(eager=True)  # 25 rows; five consumers
    )
    tot = nat.agg(F.sum("n_i").alias("nn"), F.sum("k_i").alias("kk"))
    dd = (F.col("k_i") * F.col("nn") - F.col("n_i") * F.col("kk")).cast("double")
    z2 = F.floor(
        (dd * dd) * F.lit(1000000.0)
        / F.col("n_i").cast("double")
        / F.col("kk").cast("double")
        / (F.col("nn") - F.col("kk")).cast("double")
        + F.lit(0.5)
    ).cast("long")
    z = nat.crossJoin(F.broadcast(tot)).select(
        "nation", "n_i", "k_i", z2.alias("z2")
    )
    zb = z.select(F.col("nation").alias("nation_b"), F.col("z2").alias("z2_b"))
    before = (F.col("z2_b") > F.col("z2")) | (
        (F.col("z2_b") == F.col("z2")) & (F.col("nation_b") < F.col("nation"))
    )
    rk = (
        z.join(F.broadcast(zb), before, "left")
        .groupBy("nation", "n_i", "k_i", "z2")
        .agg((F.count("nation_b") + 1).alias("bh_rank"))
    )
    crit = F.create_map(
        *[F.lit(x) for kv in sorted(BH_CRIT_MICRO.items()) for x in kv]
    )
    rr = rk.select(
        "nation",
        "n_i",
        "k_i",
        "z2",
        "bh_rank",
        crit[F.col("bh_rank")].alias("crit_micro"),
        F.when(F.col("z2") >= crit[F.col("bh_rank")], 1).otherwise(0).alias(
            "raw_pass"
        ),
    )
    kstar = rr.filter(F.col("raw_pass") == 1).agg(
        F.coalesce(F.max("bh_rank"), F.lit(0).cast("long")).alias("k_star")
    )
    return (
        rr.crossJoin(F.broadcast(kstar))
        .select(
            "nation",
            F.col("n_i").cast("long").alias("n_orders"),
            F.col("k_i").cast("long").alias("n_urgent"),
            F.col("z2").alias("z2_micro"),
            F.col("bh_rank").cast("long").alias("bh_rank"),
            F.col("crit_micro").cast("long").alias("crit_micro"),
            F.when(F.col("bh_rank") <= F.col("k_star"), 1)
            .otherwise(0)
            .cast("long")
            .alias("reject"),
        )
        .orderBy("bh_rank", "nation")
    )


# ---------------------------------------------------------------------------
# Yuen's trimmed-mean t (urgent vs other order prices) per nation
# ---------------------------------------------------------------------------

YUEN_TRIM_DEN = 5  # 20% trim per tail


def _yuen_oracle() -> str:
    from ..functions.exact import sql_round_big_int_ratio

    return f"""
    WITH c AS (
      SELECT n.n_name, o.o_orderkey,
             CAST(floor(o.o_totalprice * 100.0 + 0.5) AS BIGINT) AS cents,
             CASE WHEN o.o_orderpriority = '1-URGENT' THEN 1 ELSE 0 END AS g
      FROM orders o
      JOIN customer cu ON cu.c_custkey = o.o_custkey
      JOIN nation n ON n.n_nationkey = cu.c_nationkey
      WHERE o.o_totalprice IS NOT NULL
    ), r AS (
      SELECT n_name, g, cents,
             row_number() OVER (PARTITION BY n_name, g
                                ORDER BY cents, o_orderkey) AS rn,
             count(*) OVER (PARTITION BY n_name, g) AS cnt
      FROM c
    ), a AS (
      SELECT n_name, g,
             CAST(max(cnt) AS BIGINT) AS n,
             CAST(max(cnt) // {YUEN_TRIM_DEN} AS BIGINT) AS k,
             sum(CASE WHEN rn > cnt // {YUEN_TRIM_DEN}
                       AND rn <= cnt - cnt // {YUEN_TRIM_DEN}
                      THEN cents::HUGEINT ELSE 0::HUGEINT END) AS st,
             sum(CASE WHEN rn > cnt // {YUEN_TRIM_DEN}
                       AND rn <= cnt - cnt // {YUEN_TRIM_DEN}
                      THEN cents::HUGEINT * cents ELSE 0::HUGEINT END) AS stt,
             max(CASE WHEN rn = cnt // {YUEN_TRIM_DEN} + 1 THEN cents END) AS lo,
             max(CASE WHEN rn = cnt - cnt // {YUEN_TRIM_DEN} THEN cents END) AS hi
      FROM r GROUP BY n_name, g
    ), w AS (
      SELECT n_name, g, n, k, st, lo, hi,
             n - 2 * k AS h,
             st + k::HUGEINT * lo + k::HUGEINT * hi AS sw,
             stt + k::HUGEINT * lo * lo + k::HUGEINT * hi * hi AS sww
      FROM a
    ), d AS (
      SELECT n_name, g, n, k, h, st,
             (CAST(sww AS DOUBLE)
              - CAST(sw AS DOUBLE) * CAST(sw AS DOUBLE) / CAST(n AS DOUBLE))
             / CAST(n - 1 AS DOUBLE) AS s2w
      FROM w
    ), p AS (
      SELECT u.n_name,
             u.n AS n_urgent, o.n AS n_other,
             u.h AS h_urgent, o.h AS h_other,
             u.st AS st1, o.st AS st2,
             CAST(u.st AS DOUBLE) / CAST(u.h AS DOUBLE) AS xt1,
             CAST(o.st AS DOUBLE) / CAST(o.h AS DOUBLE) AS xt2,
             u.s2w * CAST(u.n - 1 AS DOUBLE)
               / (CAST(u.h AS DOUBLE) * CAST(u.h - 1 AS DOUBLE)) AS d1,
             o.s2w * CAST(o.n - 1 AS DOUBLE)
               / (CAST(o.h AS DOUBLE) * CAST(o.h - 1 AS DOUBLE)) AS d2
      FROM d u JOIN d o ON o.n_name = u.n_name AND u.g = 1 AND o.g = 0
    )
    SELECT n_name AS nation, n_urgent, n_other,
           {sql_round_big_int_ratio('st1', '100 * h_urgent', 4)}
             AS trimmed_mean_urgent,
           {sql_round_big_int_ratio('st2', '100 * h_other', 4)}
             AS trimmed_mean_other,
           CASE WHEN h_urgent >= 2 AND h_other >= 2 AND d1 + d2 > 0 THEN
             CAST(floor((xt1 - xt2) / sqrt(d1 + d2)
                        * 1000000.0::DOUBLE + 0.5) AS BIGINT)
           END AS yuen_t_micro
    FROM p ORDER BY nation
    """


@register("stats_yuen_trimmed_ttest", oracle=_yuen_oracle())
def stats_yuen_trimmed_ttest(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Yuen's trimmed-mean t statistic (Yuen 1974) for urgent vs
    other order prices within each nation: 20%-trimmed means compared
    with winsorized-variance standard errors — the robust location
    contrast that survives the heavy right tail where Student/Welch t
    (``stats_ttest_ab``) loses power and Cohen's d misstates effect
    size. The trimmed/winsorized machinery is
    ``stats_trimmed_winsorized_price``'s exact rank-window
    construction, extended with the winsorized sum of squares.

    Exactness: trim boundaries come from exact row_number ranks
    (deterministic cents + orderkey tiebreak); trimmed and winsorized
    sums (and squares) are exact HUGEINT/decimal(38,0); the Yuen
    assembly (means, winsorized variances, t) is one mirrored IEEE
    double expression off the exact integers, quantized once at
    micro. Degenerate groups (h < 2 or zero pooled variance) NULL the
    statistic.

    Scale shape: ranks partition by (nation, priority-group) — the
    accepted bounded-key partitioned-window class of the trimmed op
    (never a global sort); one grouped aggregate per partition
    follows; |nations| rows out.
    """
    from ..functions.exact import round_big_int_ratio

    t = Tables(spark, sf_dir)
    cents = order_cents()
    c = (
        t.orders.where(F.col("o_totalprice").isNotNull())
        .join(
            t.customer.select("c_custkey", "c_nationkey"),
            t.orders.o_custkey == F.col("c_custkey"),
        )
        .join(
            F.broadcast(t.nation.select("n_nationkey", "n_name")),
            F.col("c_nationkey") == F.col("n_nationkey"),
        )
        .select(
            "n_name",
            "o_orderkey",
            cents.alias("cents"),
            F.when(F.col("o_orderpriority") == "1-URGENT", 1).otherwise(0).alias("g"),
        )
    )
    wspec = Window.partitionBy("n_name", "g").orderBy("cents", "o_orderkey")
    wcnt = Window.partitionBy("n_name", "g")
    r = c.select(
        "n_name", "g", "cents",
        F.row_number().over(wspec).alias("rn"),
        F.count(F.lit(1)).over(wcnt).alias("cnt"),
    )
    k_ = F.floor(F.col("cnt") / YUEN_TRIM_DEN).cast("long")
    in_trim = (F.col("rn") > k_) & (F.col("rn") <= F.col("cnt") - k_)
    zero = F.lit(0).cast("decimal(38,0)")
    a = r.groupBy("n_name", "g").agg(
        F.max("cnt").cast("long").alias("n"),
        F.max(k_).cast("long").alias("k"),
        F.sum(F.when(in_trim, dec38(F.col("cents"))).otherwise(zero)).alias("st"),
        F.sum(
            F.when(in_trim, dec38(F.col("cents")) * F.col("cents")).otherwise(zero)
        ).alias("stt"),
        F.max(F.when(F.col("rn") == k_ + 1, F.col("cents"))).alias("lo"),
        F.max(F.when(F.col("rn") == F.col("cnt") - k_, F.col("cents"))).alias("hi"),
    )
    h = F.col("n") - 2 * F.col("k")
    sw = F.col("st") + dec38(F.col("k")) * F.col("lo") + dec38(F.col("k")) * F.col("hi")
    sww = (
        F.col("stt")
        + dec38(F.col("k")) * F.col("lo") * F.col("lo")
        + dec38(F.col("k")) * F.col("hi") * F.col("hi")
    )
    nd = F.col("n").cast("double")
    s2w = (
        sww.cast("double") - sw.cast("double") * sw.cast("double") / nd
    ) / (F.col("n") - 1).cast("double")
    d = a.select(
        "n_name", "g", "n", "k", h.alias("h"), "st", s2w.alias("s2w")
    )
    u = d.where(F.col("g") == 1).select(
        "n_name",
        F.col("n").alias("n_urgent"), F.col("h").alias("h_urgent"),
        F.col("st").alias("st1"), F.col("s2w").alias("s2w1"),
    )
    o = d.where(F.col("g") == 0).select(
        "n_name",
        F.col("n").alias("n_other"), F.col("h").alias("h_other"),
        F.col("st").alias("st2"), F.col("s2w").alias("s2w2"),
    )
    j = u.join(o, "n_name")
    xt1 = F.col("st1").cast("double") / F.col("h_urgent").cast("double")
    xt2 = F.col("st2").cast("double") / F.col("h_other").cast("double")
    d1 = (
        F.col("s2w1")
        * (F.col("n_urgent") - 1).cast("double")
        / (F.col("h_urgent").cast("double") * (F.col("h_urgent") - 1).cast("double"))
    )
    d2 = (
        F.col("s2w2")
        * (F.col("n_other") - 1).cast("double")
        / (F.col("h_other").cast("double") * (F.col("h_other") - 1).cast("double"))
    )
    return j.select(
        F.col("n_name").alias("nation"),
        "n_urgent",
        "n_other",
        round_big_int_ratio(F.col("st1"), F.lit(100) * F.col("h_urgent"), 4).alias(
            "trimmed_mean_urgent"
        ),
        round_big_int_ratio(F.col("st2"), F.lit(100) * F.col("h_other"), 4).alias(
            "trimmed_mean_other"
        ),
        F.when(
            (F.col("h_urgent") >= 2) & (F.col("h_other") >= 2) & (d1 + d2 > 0),
            F.floor((xt1 - xt2) / F.sqrt(d1 + d2) * F.lit(1e6) + F.lit(0.5)).cast(
                "long"
            ),
        ).alias("yuen_t_micro"),
    ).orderBy("nation")
