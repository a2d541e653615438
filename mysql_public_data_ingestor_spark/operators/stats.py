"""Statistical analysis operators: contingency/chi-square, Pearson
correlation via exact sufficient statistics, and value histograms.

The common thread is the 100 TB statistics discipline: every statistic
reduces to a handful of per-group integer sums ("sufficient
statistics") computed with per-row fixed-point quantization
(``functions/exact.py``), so the result is exact, order-independent,
and cross-engine reproducible — the property that makes CI runs,
migration validations, and A/B replications comparable. No statistic
here ever materializes per-group value lists.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from ..functions.exact import order_cents, quantize, round_int_ratio
from ..registry import register
from ..tables import Tables

HIST_WIDTH = 50_000.0  # order-total histogram bucket width


def _q6(e):
    """Quantize a deterministic double expression to 6 dp (both engines
    floor the same IEEE value, so this is reproducible)."""
    return F.floor(e * F.lit(1e6) + F.lit(0.5)).cast("long") / F.lit(1e6)


@register(
    "stats_chi_square_lang_source",
    oracle="""
    WITH o AS (
      SELECT lang, source, count(*) AS obs FROM documents GROUP BY lang, source
    ), r AS (SELECT lang, CAST(sum(obs) AS BIGINT) AS row_tot FROM o GROUP BY lang
    ), c AS (SELECT source, CAST(sum(obs) AS BIGINT) AS col_tot FROM o GROUP BY source
    ), n AS (SELECT CAST(sum(obs) AS BIGINT) AS grand FROM o
    ), cells AS (
      SELECT o.lang, o.obs,
             CAST(row_tot AS DOUBLE) * CAST(col_tot AS DOUBLE) / CAST(grand AS DOUBLE) AS e
      FROM o JOIN r ON o.lang = r.lang JOIN c ON o.source = c.source, n
    )
    SELECT lang,
           CAST(sum(obs) AS BIGINT) AS n_docs,
           count(*) AS n_cells,
           sum(CAST(floor((CAST(obs AS DOUBLE) - e) * (CAST(obs AS DOUBLE) - e) / e
                          * 1000000.0 + 0.5) AS BIGINT)) / 1000000.0 AS chi2_contrib
    FROM cells GROUP BY lang
    """,
)
def stats_chi_square_lang_source(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Chi-square independence test contributions: lang x source.

    The corpus-drift / sampling-bias check: is language distribution
    independent of source? Expected counts come from the margins; each
    cell's ``(obs-exp)^2/exp`` term quantizes to int64 before the
    per-language sum, so the statistic is order-independent. All three
    margin tables are tiny aggregates (languages, sources, grand total)
    joined back broadcast — the only wide work is one count per
    (lang, source) cell.
    """
    t = Tables(spark, sf_dir)
    o = t.documents.groupBy("lang", "source").agg(F.count(F.lit(1)).alias("obs"))
    r = o.groupBy("lang").agg(F.sum("obs").alias("row_tot"))
    c = o.groupBy("source").agg(F.sum("obs").alias("col_tot"))
    n = o.agg(F.sum("obs").alias("grand"))
    e = (
        F.col("row_tot").cast("double")
        * F.col("col_tot").cast("double")
        / F.col("grand").cast("double")
    )
    od = F.col("obs").cast("double")
    term_q = F.floor((od - e) * (od - e) / e * F.lit(1e6) + F.lit(0.5)).cast("long")
    cells = (
        o.join(F.broadcast(r), "lang")
        .join(F.broadcast(c), "source")
        .crossJoin(F.broadcast(n))
        .select("lang", "obs", term_q.alias("term_q"))
    )
    return cells.groupBy("lang").agg(
        F.sum("obs").alias("n_docs"),
        F.count(F.lit(1)).alias("n_cells"),
        (F.sum("term_q") / F.lit(1e6)).alias("chi2_contrib"),
    )


@register(
    "stats_corr_price_quantity",
    oracle="""
    WITH s AS (
      SELECT l_returnflag,
             count(*) AS n,
             CAST(sum(CAST(floor(l_quantity * 10000.0 + 0.5) AS BIGINT)) AS DOUBLE) / 10000.0 AS sx,
             CAST(sum(CAST(floor(l_extendedprice * 10000.0 + 0.5) AS BIGINT)) AS DOUBLE) / 10000.0 AS sy,
             CAST(sum(CAST(floor(l_quantity * l_quantity * 10000.0 + 0.5) AS BIGINT)) AS DOUBLE) / 10000.0 AS sxx,
             CAST(sum(CAST(floor(l_extendedprice * l_extendedprice * 10000.0 + 0.5) AS BIGINT)) AS DOUBLE) / 10000.0 AS syy,
             CAST(sum(CAST(floor(l_quantity * l_extendedprice * 10000.0 + 0.5) AS BIGINT)) AS DOUBLE) / 10000.0 AS sxy
      FROM lineitem GROUP BY l_returnflag
    )
    SELECT l_returnflag, n,
           CAST(floor((CAST(n AS DOUBLE) * sxy - sx * sy)
                      / (sqrt(CAST(n AS DOUBLE) * sxx - sx * sx)
                         * sqrt(CAST(n AS DOUBLE) * syy - sy * sy))
                      * 1000000.0 + 0.5) AS BIGINT) / 1000000.0 AS corr_qty_price
    FROM s
    """,
)
def stats_corr_price_quantity(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Pearson correlation of quantity vs price per return flag, from
    exact sufficient statistics.

    ``F.corr`` streams doubles whose summation order varies run to run;
    instead the five sufficient sums (x, y, x^2, y^2, xy) quantize per
    row to int64 — one shuffle-free partial aggregation per group, and
    the correlation assembles from five exact numbers. The product
    sums widen to decimal(38,0) before aggregation (mirroring the
    oracle's HUGEINT fold), so group size never wraps the sum — the
    earlier int64 fold hit overflow at the 6M-row sf1 scale fixture.
    """
    t = Tables(spark, sf_dir)
    x = F.col("l_quantity")
    y = F.col("l_extendedprice")
    unscale = lambda col: col.cast("double") / F.lit(1e4)  # noqa: E731
    s = t.lineitem.groupBy("l_returnflag").agg(
        F.count(F.lit(1)).alias("n"),
        unscale(F.sum(quantize(x, 4))).alias("sx"),
        unscale(F.sum(quantize(y, 4))).alias("sy"),
        # products widen to decimal BEFORE the sum: y^2 quantized at
        # scale 4 is ~1e14 per row, so an int64 sum wraps past ~9e4
        # rows-per-group-per-1e14 (hit at the sf1 scale fixture); the
        # oracle already folds in HUGEINT
        unscale(F.sum(quantize(x * x, 4).cast("decimal(38,0)"))).alias("sxx"),
        unscale(F.sum(quantize(y * y, 4).cast("decimal(38,0)"))).alias("syy"),
        unscale(F.sum(quantize(x * y, 4).cast("decimal(38,0)"))).alias("sxy"),
    )
    nd = F.col("n").cast("double")
    corr = (nd * F.col("sxy") - F.col("sx") * F.col("sy")) / (
        F.sqrt(nd * F.col("sxx") - F.col("sx") * F.col("sx"))
        * F.sqrt(nd * F.col("syy") - F.col("sy") * F.col("sy"))
    )
    return s.select("l_returnflag", "n", _q6(corr).alias("corr_qty_price"))


@register(
    "agg_histogram_order_totals",
    oracle=f"""
    SELECT CAST(floor(o_totalprice / {HIST_WIDTH!r}) AS BIGINT) AS bucket,
           CAST(floor(o_totalprice / {HIST_WIDTH!r}) AS BIGINT) * {HIST_WIDTH!r} AS bucket_lo,
           count(*) AS n_orders,
           sum(CAST(floor(o_totalprice * 100.0 + 0.5) AS BIGINT)) / 100.0 AS sum_total
    FROM orders
    GROUP BY 1
    """,
)
def agg_histogram_order_totals(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Fixed-width histogram of order totals.

    The profiling primitive behind data-skew diagnostics: bucket id is
    a row-local floor-divide (pushes into the scan projection), so the
    histogram is one partial-first aggregation over a bounded key
    domain — shuffle rows = bucket count, regardless of table size.
    """
    t = Tables(spark, sf_dir)
    bucket = F.floor(F.col("o_totalprice") / F.lit(HIST_WIDTH)).cast("long")
    return (
        t.orders.select(
            bucket.alias("bucket"), F.col("o_totalprice").alias("total")
        )
        .groupBy("bucket")
        .agg(
            F.count(F.lit(1)).alias("n_orders"),
            (F.sum(quantize(F.col("total"), 2)) / F.lit(100.0)).alias("sum_total"),
        )
        .select(
            "bucket",
            (F.col("bucket") * F.lit(HIST_WIDTH)).alias("bucket_lo"),
            "n_orders",
            "sum_total",
        )
    )


DQ_MAX_DATE = "1998-12-31"
DQ_PRIORITIES = ("1-URGENT", "2-HIGH", "3-MEDIUM", "4-NOT SPECIFIED", "5-LOW")


@register(
    "dq_expectations_orders",
    oracle=f"""
    WITH wide AS (
      SELECT count(*) AS n_checked,
             CAST(sum(CASE WHEN o_custkey IS NULL THEN 1 ELSE 0 END) AS BIGINT) AS null_custkey,
             CAST(sum(CASE WHEN o_totalprice <= 0 THEN 1 ELSE 0 END) AS BIGINT) AS nonpositive_total,
             CAST(sum(CASE WHEN o_orderdate > TIMESTAMP '{DQ_MAX_DATE} 00:00:00' THEN 1 ELSE 0 END) AS BIGINT)
               AS future_orderdate,
             CAST(sum(CASE WHEN o_orderpriority NOT IN ({', '.join(f"'{p}'" for p in DQ_PRIORITIES)})
                           THEN 1 ELSE 0 END) AS BIGINT) AS unknown_priority
      FROM orders
    ), orphans AS (
      SELECT CAST(count(*) AS BIGINT) AS orphan_custkey
      FROM orders o WHERE NOT EXISTS (
        SELECT 1 FROM customer c WHERE c.c_custkey = o.o_custkey)
    )
    SELECT rule, n_violations, n_checked,
           (n_violations = 0) AS passed
    FROM (
      SELECT 'null_custkey' AS rule, null_custkey AS n_violations, n_checked FROM wide
      UNION ALL SELECT 'orphan_custkey', orphan_custkey, n_checked FROM wide, orphans
      UNION ALL SELECT 'nonpositive_total', nonpositive_total, n_checked FROM wide
      UNION ALL SELECT 'future_orderdate', future_orderdate, n_checked FROM wide
      UNION ALL SELECT 'unknown_priority', unknown_priority, n_checked FROM wide
    )
    """,
)
def dq_expectations_orders(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Data-quality expectations over ``orders``: violation counts per
    rule, in one scan plus one referential probe.

    The pre-ingestion gate of a production pipeline (null keys, broken
    foreign keys, domain violations, impossible dates). Row-local rules
    are conditional aggregates over a single pass; the referential rule
    is a left-anti count against the (broadcastable) key side. The tidy
    5-row result unpivots from the one-row aggregate — constant-size,
    no driver loop, and cheap enough to run on every batch.
    """
    t = Tables(spark, sf_dir)
    cnt = lambda c: F.sum(F.when(c, 1).otherwise(0)).cast("long")  # noqa: E731
    wide = t.orders.agg(
        F.count(F.lit(1)).alias("n_checked"),
        cnt(F.col("o_custkey").isNull()).alias("null_custkey"),
        cnt(F.col("o_totalprice") <= 0).alias("nonpositive_total"),
        cnt(
            F.col("o_orderdate") > F.lit(f"{DQ_MAX_DATE} 00:00:00").cast("timestamp")
        ).alias("future_orderdate"),
        cnt(~F.col("o_orderpriority").isin(*DQ_PRIORITIES)).alias("unknown_priority"),
    )
    orphans = (
        t.orders.join(
            t.customer.select(F.col("c_custkey")),
            F.col("o_custkey") == F.col("c_custkey"),
            "left_anti",
        ).agg(F.count(F.lit(1)).alias("orphan_custkey"))
    )
    tidy = wide.crossJoin(F.broadcast(orphans)).select(
        F.expr(
            """stack(5,
                 'null_custkey',      null_custkey,      n_checked,
                 'orphan_custkey',    orphan_custkey,    n_checked,
                 'nonpositive_total', nonpositive_total, n_checked,
                 'future_orderdate',  future_orderdate,  n_checked,
                 'unknown_priority',  unknown_priority,  n_checked
               ) AS (rule, n_violations, n_checked)"""
        )
    )
    return tidy.select(
        "rule", "n_violations", "n_checked", (F.col("n_violations") == 0).alias("passed")
    )


@register(
    "stats_linear_regression",
    oracle="""
    WITH s AS (
      SELECT l_returnflag,
             count(*) AS n,
             CAST(sum(CAST(floor(l_quantity * 10000.0 + 0.5) AS BIGINT)) AS DOUBLE) / 10000.0 AS sx,
             CAST(sum(CAST(floor(l_extendedprice * 10000.0 + 0.5) AS BIGINT)) AS DOUBLE) / 10000.0 AS sy,
             CAST(sum(CAST(floor(l_quantity * l_quantity * 10000.0 + 0.5) AS BIGINT)) AS DOUBLE) / 10000.0 AS sxx,
             CAST(sum(CAST(floor(l_extendedprice * l_extendedprice * 10000.0 + 0.5) AS BIGINT)) AS DOUBLE) / 10000.0 AS syy,
             CAST(sum(CAST(floor(l_quantity * l_extendedprice * 10000.0 + 0.5) AS BIGINT)) AS DOUBLE) / 10000.0 AS sxy
      FROM lineitem GROUP BY l_returnflag
    )
    SELECT l_returnflag, n,
           CAST(floor((CAST(n AS DOUBLE) * sxy - sx * sy)
                      / (CAST(n AS DOUBLE) * sxx - sx * sx)
                      * 1000000.0 + 0.5) AS BIGINT) / 1000000.0 AS slope,
           CAST(floor((sy - (CAST(n AS DOUBLE) * sxy - sx * sy)
                            / (CAST(n AS DOUBLE) * sxx - sx * sx) * sx)
                      / CAST(n AS DOUBLE)
                      * 1000000.0 + 0.5) AS BIGINT) / 1000000.0 AS intercept,
           CAST(floor(((CAST(n AS DOUBLE) * sxy - sx * sy) * (CAST(n AS DOUBLE) * sxy - sx * sy))
                      / ((CAST(n AS DOUBLE) * sxx - sx * sx) * (CAST(n AS DOUBLE) * syy - sy * sy))
                      * 1000000.0 + 0.5) AS BIGINT) / 1000000.0 AS r2
    FROM s
    """,
)
def stats_linear_regression(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-group OLS fit (price ~ quantity): slope, intercept, R^2 from
    the same exact sufficient statistics as ``stats_corr_*`` — the
    engine-portable alternative to ``regr_slope``/``regr_intercept``,
    whose streaming-double summation order varies run to run.

    One partial-aggregated shuffle on a 3-value key; the fit assembles
    from six exact numbers per group. This is the distributed-OLS
    shape: at 100 TB the shuffle carries six fixed-width partials per
    (group, task), nothing else — the product sums in decimal(38,0)
    (the int64 fold wrapped at the 6M-row sf1 scale fixture; the
    oracle folds in HUGEINT).
    """
    t = Tables(spark, sf_dir)
    x = F.col("l_quantity")
    y = F.col("l_extendedprice")
    unscale = lambda col: col.cast("double") / F.lit(1e4)  # noqa: E731
    s = t.lineitem.groupBy("l_returnflag").agg(
        F.count(F.lit(1)).alias("n"),
        unscale(F.sum(quantize(x, 4))).alias("sx"),
        unscale(F.sum(quantize(y, 4))).alias("sy"),
        # products widen to decimal BEFORE the sum: y^2 quantized at
        # scale 4 is ~1e14 per row, so an int64 sum wraps past ~9e4
        # rows-per-group-per-1e14 (hit at the sf1 scale fixture); the
        # oracle already folds in HUGEINT
        unscale(F.sum(quantize(x * x, 4).cast("decimal(38,0)"))).alias("sxx"),
        unscale(F.sum(quantize(y * y, 4).cast("decimal(38,0)"))).alias("syy"),
        unscale(F.sum(quantize(x * y, 4).cast("decimal(38,0)"))).alias("sxy"),
    )
    nd = F.col("n").cast("double")
    cov_n = nd * F.col("sxy") - F.col("sx") * F.col("sy")
    var_x = nd * F.col("sxx") - F.col("sx") * F.col("sx")
    var_y = nd * F.col("syy") - F.col("sy") * F.col("sy")
    slope = cov_n / var_x
    intercept = (F.col("sy") - slope * F.col("sx")) / nd
    r2 = (cov_n * cov_n) / (var_x * var_y)
    return s.select(
        "l_returnflag",
        "n",
        _q6(slope).alias("slope"),
        _q6(intercept).alias("intercept"),
        _q6(r2).alias("r2"),
    )


@register(
    "stats_rfm_segmentation",
    oracle="""
    WITH m AS (
      SELECT o_custkey,
             date_diff('day', CAST(max(o_orderdate) AS DATE),
                       (SELECT CAST(max(o_orderdate) AS DATE) FROM orders))
               AS recency_days,
             CAST(count(*) AS BIGINT) AS frequency,
             CAST(sum(CAST(floor(o_totalprice * 100.0 + 0.5) AS BIGINT)) AS BIGINT)
               AS monetary_cents
      FROM orders GROUP BY o_custkey
    ), th AS (
      SELECT quantile_disc(recency_days,   [0.2, 0.4, 0.6, 0.8]) AS rt,
             quantile_disc(frequency,      [0.2, 0.4, 0.6, 0.8]) AS ft,
             quantile_disc(monetary_cents, [0.2, 0.4, 0.6, 0.8]) AS mt
      FROM m
    )
    SELECT o_custkey, recency_days, frequency, monetary_cents,
           CAST(len(list_filter(rt, t -> recency_days < t)) + 1 AS BIGINT) AS r_score,
           CAST(len(list_filter(ft, t -> frequency > t)) + 1 AS BIGINT) AS f_score,
           CAST(len(list_filter(mt, t -> monetary_cents > t)) + 1 AS BIGINT) AS m_score
    FROM m CROSS JOIN th
    """,
)
def stats_rfm_segmentation(spark: SparkSession, sf_dir: str) -> DataFrame:
    """RFM customer segmentation (recency / frequency / monetary
    quintile scores) with NO global window: per-customer metrics are
    one groupBy; the quintile thresholds are a 1-row exact-discrete-
    percentile aggregate that BROADCASTS into the scoring projection.

    This is the scale-correct alternative to ``ntile(5) OVER ()``
    (single-reducer): at 100 TB the threshold row still costs one
    tiny all-to-one aggregate, and scoring stays embarrassingly
    parallel. Metrics are exact integers (days / counts / cents);
    ``percentile_approx`` at max accuracy is Spark's exact discrete
    percentile and matches DuckDB's ``quantile_disc`` value-for-value,
    so even the thresholds are engine-portable.
    """
    t = Tables(spark, sf_dir)
    cents = order_cents()
    per_cust = t.orders.groupBy("o_custkey").agg(
        F.max(F.col("o_orderdate").cast("date")).alias("last_order"),
        F.count(F.lit(1)).alias("frequency"),
        F.sum(cents).alias("monetary_cents"),
    )
    global_max = t.orders.agg(
        F.max(F.col("o_orderdate").cast("date")).alias("max_date")
    )
    m = (
        per_cust.crossJoin(F.broadcast(global_max))
        .select(
            "o_custkey",
            F.datediff(F.col("max_date"), F.col("last_order")).cast("long").alias(
                "recency_days"
            ),
            "frequency",
            "monetary_cents",
        )
    )
    qs = "array(0.2, 0.4, 0.6, 0.8)"
    exact = str(2**31 - 1)
    th = m.agg(
        F.expr(f"percentile_approx(recency_days, {qs}, {exact})").alias("rt"),
        F.expr(f"percentile_approx(frequency, {qs}, {exact})").alias("ft"),
        F.expr(f"percentile_approx(monetary_cents, {qs}, {exact})").alias("mt"),
    )
    score = lambda col, th_col, better_high: (  # noqa: E731
        F.size(
            F.filter(
                F.col(th_col),
                (lambda x: F.col(col) > x) if better_high else (lambda x: F.col(col) < x),
            )
        ).cast("long")
        + 1
    )
    return (
        m.crossJoin(F.broadcast(th))
        .select(
            "o_custkey",
            "recency_days",
            "frequency",
            "monetary_cents",
            score("recency_days", "rt", False).alias("r_score"),
            score("frequency", "ft", True).alias("f_score"),
            score("monetary_cents", "mt", True).alias("m_score"),
        )
    )


@register(
    "agg_median_p90_disc",
    oracle="""
    SELECT o_orderpriority,
           CAST(count(*) AS BIGINT) AS n,
           CAST(quantile_disc(CAST(floor(o_totalprice * 100.0 + 0.5) AS BIGINT), 0.5)
                AS BIGINT) AS median_cents,
           CAST(quantile_disc(CAST(floor(o_totalprice * 100.0 + 0.5) AS BIGINT), 0.9)
                AS BIGINT) AS p90_cents
    FROM orders
    GROUP BY o_orderpriority
    """,
)
def agg_median_p90_disc(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact discrete median / p90 of order value per priority:
    ``percentile_approx`` at max accuracy degenerates to the exact
    discrete percentile (and matches DuckDB's ``quantile_disc``
    value-for-value on int64 cents — no interpolation FP anywhere).

    At 100 TB you lower the accuracy knob and the SAME plan becomes
    the bounded-memory KLL sketch (mergeable partial aggregate, one
    shuffle on a 5-value key); ``percentiles_approx`` registers that
    path. This query pins the exact end of the dial.
    """
    t = Tables(spark, sf_dir)
    cents = order_cents()
    exact = str(2**31 - 1)
    return (
        t.orders.select("o_orderpriority", cents.alias("cents"))
        .groupBy("o_orderpriority")
        .agg(
            F.count(F.lit(1)).alias("n"),
            F.expr(f"percentile_approx(cents, 0.5, {exact})").alias("median_cents"),
            F.expr(f"percentile_approx(cents, 0.9, {exact})").alias("p90_cents"),
        )
    )


@register(
    "stats_cohort_ltv_triangle",
    oracle="""
    WITH firsts AS (
      SELECT o_custkey, date_trunc('month', min(o_orderdate)) AS cohort_month
      FROM orders GROUP BY o_custkey
    ), joined AS (
      SELECT f.cohort_month,
             date_diff('month', f.cohort_month, date_trunc('month', o.o_orderdate))
               AS months_since,
             CAST(floor(o.o_totalprice * 100.0 + 0.5) AS BIGINT) AS cents
      FROM orders o JOIN firsts f USING (o_custkey)
    ), cell AS (
      SELECT cohort_month, months_since,
             CAST(sum(cents) AS BIGINT) AS revenue_cents,
             CAST(count(*) AS BIGINT) AS n_orders
      FROM joined GROUP BY cohort_month, months_since
    )
    SELECT cohort_month, months_since, revenue_cents, n_orders,
           CAST(sum(revenue_cents) OVER (PARTITION BY cohort_month ORDER BY months_since
                                         ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
                AS BIGINT) AS cum_revenue_cents
    FROM cell
    """,
)
def stats_cohort_ltv_triangle(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Cohort lifetime-value triangle: customers grouped by first-order
    month; each cell is (cohort, months-since-acquisition) revenue with
    a running cumulative — the LTV curve every subscription/commerce
    warehouse reports.

    Shape: first-order month is one groupBy on the customer key; the
    fact joins back on the same key (co-partitioned); cells aggregate
    on a (months x months)-bounded key, so the cumulative window runs
    over a TINY table — the partitioned running sum is per-cohort.
    Revenue is exact int64 cents end to end.
    """
    t = Tables(spark, sf_dir)
    firsts = t.orders.groupBy("o_custkey").agg(
        F.date_trunc("month", F.min("o_orderdate")).alias("cohort_month")
    )
    cents = order_cents()
    joined = t.orders.join(firsts, "o_custkey").select(
        "cohort_month",
        (
            (F.year(F.col("o_orderdate")) - F.year(F.col("cohort_month"))) * 12
            + (F.month(F.col("o_orderdate")) - F.month(F.col("cohort_month")))
        ).cast("long").alias("months_since"),
        cents.alias("cents"),
    )
    cell = joined.groupBy("cohort_month", "months_since").agg(
        F.sum("cents").alias("revenue_cents"), F.count(F.lit(1)).alias("n_orders")
    )
    w = (
        Window.partitionBy("cohort_month")
        .orderBy("months_since")
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    )
    return cell.select(
        "cohort_month",
        "months_since",
        "revenue_cents",
        "n_orders",
        F.sum("revenue_cents").over(w).alias("cum_revenue_cents"),
    )


import math as _math

# Benford expected first-digit shares, embedded as identical double
# literals in both plans (no runtime log10 — libm-free determinism).
_BENFORD_P = {d: _math.log10(1.0 + 1.0 / d) for d in range(1, 10)}


def _benford_oracle() -> str:
    p_case = " ".join(f"WHEN {d} THEN CAST({p!r} AS DOUBLE)" for d, p in _BENFORD_P.items())
    return f"""
    WITH digits AS (
      SELECT CAST(substr(CAST(CAST(floor(o_totalprice * 100.0 + 0.5) AS BIGINT) AS VARCHAR),
                         1, 1) AS BIGINT) AS digit
      FROM orders
    ), obs AS (
      SELECT digit, CAST(count(*) AS BIGINT) AS n_obs FROM digits GROUP BY digit
    ), tot AS (
      SELECT CAST(sum(n_obs) AS BIGINT) AS n_total FROM obs
    )
    SELECT digit, n_obs,
           ((2*1000000*n_obs + n_total) // (2*n_total)) / 1000000.0 AS obs_pct,
           round(CASE digit {p_case} END, 6)                      AS exp_pct,
           round((n_obs - n_total * (CASE digit {p_case} END))
                 * (n_obs - n_total * (CASE digit {p_case} END))
                 / (n_total * (CASE digit {p_case} END)), 6)      AS chi2_contrib
    FROM obs CROSS JOIN tot
    """


@register("dq_benford_order_totals", oracle=_benford_oracle())
def dq_benford_order_totals(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Benford's-law audit of order totals — the classic fraud /
    synthetic-data detector: compare the observed leading-digit
    distribution against log10(1 + 1/d) and emit per-digit chi-square
    contributions.

    The leading digit comes from the INTEGER cents string (never
    through log10 at runtime, so no libm divergence); the expected
    shares are compile-time literals. One 9-row aggregate + a 1-row
    broadcast total: trivially 100 TB-safe.
    """
    t = Tables(spark, sf_dir)
    cents = order_cents()
    digit = F.substring(cents.cast("string"), 1, 1).cast("long")
    obs = (
        t.orders.select(digit.alias("digit"))
        .groupBy("digit")
        .agg(F.count(F.lit(1)).alias("n_obs"))
    )
    tot = obs.agg(F.sum("n_obs").alias("n_total"))
    p = F.col("digit")
    exp_pct = None
    for d, pv in _BENFORD_P.items():
        exp_pct = (
            F.when(p == d, F.lit(pv)) if exp_pct is None else exp_pct.when(p == d, F.lit(pv))
        )
    diff = F.col("n_obs") - F.col("n_total") * exp_pct
    return obs.crossJoin(F.broadcast(tot)).select(
        "digit",
        "n_obs",
        round_int_ratio(F.col("n_obs"), F.col("n_total")).alias("obs_pct"),
        F.round(exp_pct, 6).alias("exp_pct"),
        F.round(diff * diff / (F.col("n_total") * exp_pct), 6).alias("chi2_contrib"),
    )


EQUIDEPTH_DECILES = [round(0.1 * i, 1) for i in range(1, 10)]


def _equidepth_oracle() -> str:
    qs = ", ".join(str(q) for q in EQUIDEPTH_DECILES)
    return f"""
    WITH c AS (
      SELECT l_orderkey, l_extendedprice,
             CAST(floor(l_extendedprice * 100.0 + 0.5) AS BIGINT) AS cents
      FROM lineitem
    ), th AS (
      SELECT quantile_disc(cents, [{qs}]) AS edges FROM c
    )
    SELECT CAST(len(list_filter(edges, t -> cents > t)) + 1 AS BIGINT) AS bucket,
           CAST(count(*) AS BIGINT)  AS n_rows,
           min(l_extendedprice)      AS min_price,
           max(l_extendedprice)      AS max_price
    FROM c CROSS JOIN th
    GROUP BY 1
    """


@register("agg_equidepth_histogram", oracle=_equidepth_oracle())
def agg_equidepth_histogram(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Equi-depth (decile) histogram of line-item prices: bucket edges
    are exact discrete percentiles computed in ONE pass, broadcast into
    the bucketing projection, then a 10-key aggregate.

    The complement of ``agg_histogram_order_totals`` (fixed-width):
    equi-depth is what query optimizers and drift monitors actually
    want. Same scale shape as the RFM thresholds — no global sort, no
    ntile window; the only all-to-one step is the percentile sketch
    merge.
    """
    t = Tables(spark, sf_dir)
    cents = F.floor(F.col("l_extendedprice") * 100.0 + F.lit(0.5)).cast("long")
    c = t.lineitem.select("l_orderkey", "l_extendedprice", cents.alias("cents"))
    exact = str(2**31 - 1)
    qs = ", ".join(str(q) for q in EQUIDEPTH_DECILES)
    th = c.agg(F.expr(f"percentile_approx(cents, array({qs}), {exact})").alias("edges"))
    return (
        c.crossJoin(F.broadcast(th))
        .select(
            (F.size(F.filter(F.col("edges"), lambda x: F.col("cents") > x)) + 1)
            .cast("long")
            .alias("bucket"),
            "l_extendedprice",
        )
        .groupBy("bucket")
        .agg(
            F.count(F.lit(1)).alias("n_rows"),
            F.min("l_extendedprice").alias("min_price"),
            F.max("l_extendedprice").alias("max_price"),
        )
    )


@register(
    "diag_key_skew_profile",
    oracle="""
    WITH counts AS (
      SELECT l_suppkey AS k, CAST(count(*) AS BIGINT) AS cnt
      FROM lineitem GROUP BY 1
    ), coc AS (
      SELECT cnt, CAST(count(*) AS BIGINT) AS m FROM counts GROUP BY cnt
    ), blocks AS (
      SELECT cnt, m,
             CAST(coalesce(sum(m) OVER (ORDER BY cnt
                                        ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING),
                           0) AS BIGINT) AS r0
      FROM coc
    ), s AS (
      SELECT CAST(sum(cnt * (m * r0 + (m * (m + 1)) // 2)) AS BIGINT) AS s_sum
      FROM blocks
    ), a AS (
      SELECT CAST(count(*) AS BIGINT)  AS n_keys,
             CAST(sum(cnt) AS BIGINT)  AS n_rows,
             max(cnt)                  AS max_cnt,
             quantile_disc(cnt, 0.5)   AS p50_cnt,
             quantile_disc(cnt, 0.99)  AS p99_cnt,
             (SELECT k FROM counts ORDER BY cnt DESC, k LIMIT 1) AS top_key
      FROM counts
    )
    SELECT n_rows, n_keys, max_cnt, top_key, p50_cnt, p99_cnt,
           round((2.0 * s_sum) / (CAST(n_keys AS DOUBLE) * CAST(n_rows AS DOUBLE))
                 - (CAST(n_keys AS DOUBLE) + 1.0) / CAST(n_keys AS DOUBLE), 6) AS gini
    FROM a CROSS JOIN s
    """,
)
def diag_key_skew_profile(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Join-key skew profiler — the diagnostic you run BEFORE picking a
    salting factor or enabling AQE skew handling: per-key frequency
    percentiles, the heaviest key, and the exact Gini coefficient of
    the key distribution.

    Scale shape: the raw table collapses to (key, cnt) in one partial
    aggregate; everything after runs on the count-of-counts table,
    whose size is the number of DISTINCT frequencies (tiny even when
    there are billions of keys), so the Gini needs no global sort of
    keys. Gini uses the block formula sum(cnt * (m*r0 + m(m+1)/2)) —
    pure int64 until two final divisions.
    """
    t = Tables(spark, sf_dir)
    counts = t.lineitem.groupBy(F.col("l_suppkey").alias("k")).agg(
        F.count(F.lit(1)).alias("cnt")
    )
    coc = counts.groupBy("cnt").agg(F.count(F.lit(1)).alias("m"))
    w = Window.orderBy("cnt").rowsBetween(Window.unboundedPreceding, -1)
    blocks = coc.select(
        "cnt", "m", F.coalesce(F.sum("m").over(w), F.lit(0)).cast("long").alias("r0")
    )
    s = blocks.agg(
        F.sum(
            F.col("cnt") * (F.col("m") * F.col("r0") + F.expr("(m * (m + 1)) DIV 2"))
        ).alias("s_sum")
    )
    exact = str(2**31 - 1)
    a = counts.agg(
        F.count(F.lit(1)).alias("n_keys"),
        F.sum("cnt").alias("n_rows"),
        F.max("cnt").alias("max_cnt"),
        F.expr(f"percentile_approx(cnt, 0.5, {exact})").alias("p50_cnt"),
        F.expr(f"percentile_approx(cnt, 0.99, {exact})").alias("p99_cnt"),
        F.min(F.struct((-F.col("cnt")).alias("neg"), F.col("k").alias("k"))).alias("top"),
    )
    nk = F.col("n_keys").cast("double")
    nr = F.col("n_rows").cast("double")
    return a.crossJoin(s).select(
        "n_rows",
        "n_keys",
        "max_cnt",
        F.col("top.k").alias("top_key"),
        "p50_cnt",
        "p99_cnt",
        F.round(
            (F.lit(2.0) * F.col("s_sum")) / (nk * nr) - (nk + F.lit(1.0)) / nk, 6
        ).alias("gini"),
    )


@register(
    "dq_referential_integrity",
    oracle="""
    SELECT relation, n_orphans, n_checked, (n_orphans = 0) AS passed
    FROM (
      SELECT 'lineitem.l_orderkey->orders' AS relation,
             CAST((SELECT count(*) FROM lineitem l WHERE NOT EXISTS
                   (SELECT 1 FROM orders o WHERE o.o_orderkey = l.l_orderkey)) AS BIGINT) AS n_orphans,
             CAST((SELECT count(*) FROM lineitem) AS BIGINT) AS n_checked
      UNION ALL
      SELECT 'lineitem.l_partkey->part',
             CAST((SELECT count(*) FROM lineitem l WHERE NOT EXISTS
                   (SELECT 1 FROM part p WHERE p.p_partkey = l.l_partkey)) AS BIGINT),
             CAST((SELECT count(*) FROM lineitem) AS BIGINT)
      UNION ALL
      SELECT 'lineitem.l_suppkey->supplier',
             CAST((SELECT count(*) FROM lineitem l WHERE NOT EXISTS
                   (SELECT 1 FROM supplier s WHERE s.s_suppkey = l.l_suppkey)) AS BIGINT),
             CAST((SELECT count(*) FROM lineitem) AS BIGINT)
      UNION ALL
      SELECT 'orders.o_custkey->customer',
             CAST((SELECT count(*) FROM orders o WHERE NOT EXISTS
                   (SELECT 1 FROM customer c WHERE c.c_custkey = o.o_custkey)) AS BIGINT),
             CAST((SELECT count(*) FROM orders) AS BIGINT)
      UNION ALL
      SELECT 'customer.c_nationkey->nation',
             CAST((SELECT count(*) FROM customer c WHERE NOT EXISTS
                   (SELECT 1 FROM nation n WHERE n.n_nationkey = c.c_nationkey)) AS BIGINT),
             CAST((SELECT count(*) FROM customer) AS BIGINT)
    )
    """,
)
def dq_referential_integrity(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Referential-integrity audit across the star schema's FK edges:
    one row per relation with orphan and checked counts.

    The warehouse-wide companion to ``dq_expectations_orders``: every
    fact->dim edge is probed with a left-anti join. Small key sides
    (supplier, part, customer, nation) broadcast, so those probes are
    map-side; the fact->fact edge (lineitem->orders) gets the bloom
    prefilter composed in front of its shuffle anti-join
    (``sketches.bloom_prefilter_pass`` — bloom misses are counted as
    orphans map-side without shuffling; only bloom-passing candidates
    reach the anti-join). On a clean edge the prefilter prunes nothing
    and the plan degenerates to the plain anti-join plus three
    broadcast hash probes; on a dirty edge at 100 TB it cuts the
    shuffle from |fact| to |candidates|. The threshold is structural:
    edges whose dim side already broadcasts gain nothing from a bloom
    (the anti-join is map-side anyway), so only non-broadcast edges
    take the prefiltered path. Each edge's count is an independent job
    over a pruned two-column scan; results union into a constant-size
    frame. ``dq_referential_integrity_bloom`` value-checks the prune
    counts themselves on both a clean and a selective edge.
    """
    from .sketches import bloom_prefilter_pass

    t = Tables(spark, sf_dir)

    def orphan_count(fact: DataFrame, fk: str, dim: DataFrame, pk: str, broadcast_dim: bool):
        keys = dim.select(pk)
        if broadcast_dim:
            keys = F.broadcast(keys)
            return fact.join(keys, fact[fk] == keys[pk], "left_anti").agg(
                F.count(F.lit(1)).alias("n_orphans")
            )
        # big dim: bloom-prefilter the probe side map-side, anti-join
        # only the candidates, add back the definite (bloom-miss) orphans
        flags = bloom_prefilter_pass(
            fact.select(F.col(fk).alias("k")), "k", dim.select(F.col(pk).alias("k")).distinct()
        )
        definite = flags.where(~F.col("bloom_pass")).agg(
            F.count(F.lit(1)).alias("n_definite")
        )
        resid = (
            flags.where(F.col("bloom_pass"))
            .join(dim.select(F.col(pk).alias("k")), "k", "left_anti")
            .agg(F.count(F.lit(1)).alias("n_resid"))
        )
        return definite.crossJoin(F.broadcast(resid)).select(
            (F.col("n_definite") + F.col("n_resid")).alias("n_orphans")
        )

    edges = [
        ("lineitem.l_orderkey->orders", t.lineitem, "l_orderkey", t.orders, "o_orderkey", False),
        ("lineitem.l_partkey->part", t.lineitem, "l_partkey", t.part, "p_partkey", True),
        ("lineitem.l_suppkey->supplier", t.lineitem, "l_suppkey", t.supplier, "s_suppkey", True),
        ("orders.o_custkey->customer", t.orders, "o_custkey", t.customer, "c_custkey", True),
        ("customer.c_nationkey->nation", t.customer, "c_nationkey", t.nation, "n_nationkey", True),
    ]
    out = None
    for name, fact, fk, dim, pk, bcast in edges:
        checked = fact.agg(F.count(F.lit(1)).alias("n_checked"))
        row = (
            orphan_count(fact, fk, dim, pk, bcast)
            .crossJoin(F.broadcast(checked))
            .select(
                F.lit(name).alias("relation"),
                F.col("n_orphans"),
                F.col("n_checked"),
                (F.col("n_orphans") == 0).alias("passed"),
            )
        )
        out = row if out is None else out.unionByName(row)
    return out


@register(
    "stats_ttest_ab",
    oracle="""
    WITH q AS (
      SELECT event_type,
             user_id % 2 AS cohort,
             CAST(floor(value * 1000000.0 + 0.5) AS BIGINT) AS v_u
      FROM events
      WHERE event_type IN ('purchase', 'click')
    ), s AS (
      SELECT event_type, cohort,
             count(*)                                    AS n,
             CAST(sum(v_u) AS DOUBLE)                    AS sum_u,
             CAST(sum(CAST(v_u AS HUGEINT) * v_u) AS DOUBLE) AS sumsq_u
      FROM q GROUP BY event_type, cohort
    ), wide AS (
      SELECT a.event_type,
             a.n AS n_a, b.n AS n_b,
             a.sum_u / 1e6 / a.n AS mean_a,
             b.sum_u / 1e6 / b.n AS mean_b,
             (a.sumsq_u / 1e12 - (a.sum_u / 1e6) * (a.sum_u / 1e6) / a.n) / (a.n - 1) AS var_a,
             (b.sumsq_u / 1e12 - (b.sum_u / 1e6) * (b.sum_u / 1e6) / b.n) / (b.n - 1) AS var_b
      FROM s a JOIN s b ON a.event_type = b.event_type AND a.cohort = 0 AND b.cohort = 1
    )
    SELECT event_type, n_a, n_b,
           round(mean_a, 6) AS mean_a,
           round(mean_b, 6) AS mean_b,
           round((mean_a - mean_b) / sqrt(var_a / n_a + var_b / n_b), 6) AS t_welch
    FROM wide
    """,
)
def stats_ttest_ab(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Welch's two-sample t statistic between A/B cohorts (user_id
    parity) per event type — the experimentation-platform primitive.

    All sufficient statistics are exact int64/decimal sums of 1e-6-
    quantized values (functions/exact discipline), so n/sum/sumsq are
    bit-identical under any partitioning; the t statistic is then a
    deterministic scalar expression over one row per (event_type,
    cohort). One partial-agg shuffle on a tiny key domain — at 100 TB
    the reduce side is |event_types| x 2 rows.
    """
    t = Tables(spark, sf_dir)
    v_u = quantize(F.col("value"), 6)
    s = (
        t.events.filter(F.col("event_type").isin("purchase", "click"))
        .select("event_type", (F.col("user_id") % 2).alias("cohort"), v_u.alias("v_u"))
        .groupBy("event_type", "cohort")
        .agg(
            F.count(F.lit(1)).alias("n"),
            F.sum("v_u").cast("double").alias("sum_u"),
            # widen BEFORE multiplying: v_u*v_u in int64 wraps silently
            # once |value| > ~3035 (v_u^2 > 2^63); decimal first matches
            # the oracle's HUGEINT fold and the discipline used in
            # stats_mann_whitney_ab / events_seasonal_hourly_baseline.
            F.sum(F.col("v_u").cast("decimal(38,0)") * F.col("v_u").cast("decimal(38,0)"))
            .cast("double")
            .alias("sumsq_u"),
        )
    )
    a = s.filter(F.col("cohort") == 0).select(
        "event_type", F.col("n").alias("n_a"), F.col("sum_u").alias("sum_a"), F.col("sumsq_u").alias("ssq_a")
    )
    b = s.filter(F.col("cohort") == 1).select(
        F.col("event_type").alias("et_b"), F.col("n").alias("n_b"), F.col("sum_u").alias("sum_b"), F.col("sumsq_u").alias("ssq_b")
    )
    mean_a = F.col("sum_a") / F.lit(1e6) / F.col("n_a")
    mean_b = F.col("sum_b") / F.lit(1e6) / F.col("n_b")
    var_a = (F.col("ssq_a") / F.lit(1e12) - (F.col("sum_a") / F.lit(1e6)) * (F.col("sum_a") / F.lit(1e6)) / F.col("n_a")) / (F.col("n_a") - 1)
    var_b = (F.col("ssq_b") / F.lit(1e12) - (F.col("sum_b") / F.lit(1e6)) * (F.col("sum_b") / F.lit(1e6)) / F.col("n_b")) / (F.col("n_b") - 1)
    return (
        a.join(b, F.col("event_type") == F.col("et_b"))
        .select(
            "event_type",
            "n_a",
            "n_b",
            F.round(mean_a, 6).alias("mean_a"),
            F.round(mean_b, 6).alias("mean_b"),
            F.round((mean_a - mean_b) / F.sqrt(var_a / F.col("n_a") + var_b / F.col("n_b")), 6).alias("t_welch"),
        )
    )


def _psi_oracle() -> str:
    from ..functions.detmath import sql_det_ln_steps

    return """
    WITH e AS (
      SELECT event_type,
             CAST(floor(value * 1000000.0 + 0.5) AS BIGINT) AS v_u,
             epoch_us(ts) AS us
      FROM events
    ), b AS (
      SELECT min(us) + max(us) AS lohi FROM e
    ), p AS (
      SELECT event_type, v_u,
             CASE WHEN us * 2 <= lohi THEN 'base' ELSE 'cur' END AS period
      FROM e CROSS JOIN b
    ), th AS (
      SELECT event_type,
             quantile_disc(v_u, [0.1, 0.2, 0.3, 0.4, 0.5, 0.6, 0.7, 0.8, 0.9]) AS edges
      FROM p WHERE period = 'base' GROUP BY event_type
    ), binned AS (
      SELECT p.event_type, p.period,
             CAST(len(list_filter(edges, t -> v_u > t)) + 1 AS BIGINT) AS bucket
      FROM p JOIN th ON p.event_type = th.event_type
    ), counts AS (
      SELECT event_type, bucket,
             CAST(sum(CASE WHEN period = 'base' THEN 1 ELSE 0 END) AS BIGINT) AS n_base,
             CAST(sum(CASE WHEN period = 'cur' THEN 1 ELSE 0 END) AS BIGINT) AS n_cur
      FROM binned GROUP BY event_type, bucket
    ), grid AS (
      SELECT event_type, CAST(g.b AS BIGINT) AS bucket
      FROM (SELECT DISTINCT event_type FROM binned)
      CROSS JOIN (SELECT unnest(range(1, 11)) AS b) g
    ), filled AS (
      SELECT g.event_type, g.bucket,
             coalesce(c.n_base, 0) AS n_base, coalesce(c.n_cur, 0) AS n_cur
      FROM grid g LEFT JOIN counts c
        ON g.event_type = c.event_type AND g.bucket = c.bucket
    ), tot AS (
      SELECT event_type, sum(n_base) AS tb, sum(n_cur) AS tc
      FROM filled GROUP BY event_type
    ), pq AS (
      SELECT f.event_type, t.tb, t.tc,
             (f.n_base + 0.5::DOUBLE) / (t.tb + 5.0::DOUBLE) AS p,
             (f.n_cur + 0.5::DOUBLE) / (t.tc + 5.0::DOUBLE) AS q
      FROM filled f JOIN tot t USING (event_type)
    ), __DET_LN__, terms AS (
      SELECT event_type, tb, tc,
             CAST(floor((p - q) * lnpq * 1000000000.0 + 0.5) AS BIGINT) AS term_nano
      FROM lnpq_rel
    )
    SELECT event_type,
           CAST(max(tb) AS BIGINT) AS n_base,
           CAST(max(tc) AS BIGINT) AS n_cur,
           round(sum(term_nano) / 1000000000.0, 6) AS psi
    FROM terms GROUP BY event_type
    """.replace(
        "__DET_LN__", sql_det_ln_steps("pq", "p / q", "lnpq", as_double=True)
    )


@register("dq_psi_value_drift", oracle=_psi_oracle())
def dq_psi_value_drift(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Population Stability Index of ``value`` per event type between
    the first and second half of the time range — the drift monitor a
    feature store or training pipeline runs before every refresh.

    Bin edges are the BASE period's exact discrete deciles (max-accuracy
    ``percentile_approx`` == DuckDB ``quantile_disc``), broadcast into a
    stateless bucketing projection; counts are one partial-agg shuffle
    on a (|event_types| x 10)-bounded key. Laplace smoothing (+0.5 per
    bucket) keeps empty buckets finite, and each PSI term is quantized
    to integer nano-nats before the final sum so the statistic is
    order-independent and cross-engine identical. At 100 TB: two scans
    (edges, then counts) of pruned columns, reduce side bounded by the
    type-domain — never by rows.
    """
    t = Tables(spark, sf_dir)
    e = t.events.select(
        "event_type",
        quantize(F.col("value"), 6).alias("v_u"),
        F.unix_micros(F.col("ts")).alias("us"),
    )
    b = e.agg((F.min("us") + F.max("us")).alias("lohi"))
    p = e.crossJoin(F.broadcast(b)).select(
        "event_type",
        "v_u",
        F.when(F.col("us") * 2 <= F.col("lohi"), "base").otherwise("cur").alias("period"),
    )
    exact = str(2**31 - 1)
    qs = ", ".join(str(q) for q in EQUIDEPTH_DECILES)
    th = (
        p.filter(F.col("period") == "base")
        .groupBy("event_type")
        .agg(F.expr(f"percentile_approx(v_u, array({qs}), {exact})").alias("edges"))
    )
    binned = p.join(F.broadcast(th), "event_type").select(
        "event_type",
        "period",
        (F.size(F.filter(F.col("edges"), lambda x: F.col("v_u") > x)) + 1)
        .cast("long")
        .alias("bucket"),
    )
    counts = binned.groupBy("event_type", "bucket").agg(
        F.sum(F.when(F.col("period") == "base", 1).otherwise(0)).alias("n_base"),
        F.sum(F.when(F.col("period") == "cur", 1).otherwise(0)).alias("n_cur"),
    )
    grid = (
        binned.select("event_type")
        .distinct()
        .select("event_type", F.explode(F.sequence(F.lit(1), F.lit(10))).alias("bucket"))
        .select("event_type", F.col("bucket").cast("long").alias("bucket"))
    )
    filled = (
        grid.join(counts, ["event_type", "bucket"], "left")
        .select(
            "event_type",
            "bucket",
            F.coalesce(F.col("n_base"), F.lit(0)).alias("n_base"),
            F.coalesce(F.col("n_cur"), F.lit(0)).alias("n_cur"),
        )
    )
    tot = filled.groupBy("event_type").agg(
        F.sum("n_base").alias("tb"), F.sum("n_cur").alias("tc")
    )
    from ..functions.detmath import det_ln_dbl

    p_ = (F.col("n_base") + F.lit(0.5)) / (F.col("tb") + F.lit(5.0))
    q_ = (F.col("n_cur") + F.lit(0.5)) / (F.col("tc") + F.lit(5.0))
    # det_ln_dbl, not F.log: the scaled term must quantize to the same
    # nano-nat integer on both engines (see functions/detmath.py);
    # the surrounding +-*/ chain mirrors the oracle's association order
    terms = filled.join(F.broadcast(tot), "event_type").select(
        "event_type",
        "tb",
        "tc",
        F.floor((p_ - q_) * det_ln_dbl(p_ / q_) * F.lit(1e9) + F.lit(0.5))
        .cast("long")
        .alias("term_nano"),
    )
    return terms.groupBy("event_type").agg(
        F.max("tb").cast("long").alias("n_base"),
        F.max("tc").cast("long").alias("n_cur"),
        F.round(F.sum("term_nano") / F.lit(1e9), 6).alias("psi"),
    )


@register(
    "stats_mann_whitney_ab",
    oracle="""
    WITH q AS (
      SELECT event_type,
             user_id % 2 AS cohort,
             CAST(floor(value * 1000.0 + 0.5) AS BIGINT) AS v_m
      FROM events WHERE event_type IN ('purchase', 'click')
    ), g AS (
      SELECT event_type, v_m,
             CAST(sum(CASE WHEN cohort = 0 THEN 1 ELSE 0 END) AS BIGINT) AS ca,
             CAST(count(*) AS BIGINT) AS cnt
      FROM q GROUP BY event_type, v_m
    ), r AS (
      SELECT event_type, ca, cnt,
             coalesce(sum(cnt) OVER (PARTITION BY event_type ORDER BY v_m
               ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0) AS cum
      FROM g
    ), s AS (
      SELECT event_type,
             CAST(sum(ca) AS BIGINT) AS n_a,
             CAST(sum(cnt - ca) AS BIGINT) AS n_b,
             CAST(sum(CAST(ca AS HUGEINT) * (2 * cum + cnt + 1)) AS DOUBLE) AS ra2,
             CAST(sum(CAST(cnt AS HUGEINT) * cnt * cnt - cnt) AS DOUBLE) AS tie3
      FROM r GROUP BY event_type
    )
    SELECT event_type, n_a, n_b,
           round(ra2 / 2.0 - CAST(n_a AS DOUBLE) * (n_a + 1) / 2.0, 6) AS u_a,
           round((ra2 / 2.0 - CAST(n_a AS DOUBLE) * (n_a + 1) / 2.0
                  - CAST(n_a AS DOUBLE) * n_b / 2.0)
                 / sqrt(CAST(n_a AS DOUBLE) * n_b / 12.0
                        * ((n_a + n_b + 1)
                           - tie3 / (CAST(n_a + n_b AS DOUBLE) * (n_a + n_b - 1)))),
                 6) AS z
    FROM s
    """,
)
def stats_mann_whitney_ab(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Mann-Whitney U (rank-sum) test with tie correction between A/B
    user cohorts per event type — the non-parametric complement to
    ``stats_ttest_ab`` for skewed metrics.

    Ranks never materialize per row: values are quantized to 1e-3 and
    pre-aggregated to a (event_type, value)-distinct table with tied
    counts, so the rank window runs over the *distinct value domain*
    (|domain|-bounded, far smaller than rows) ordered per event type.
    ``2*cum + cnt + 1`` is twice the average rank of a tie group, so
    every sufficient statistic (n_a, n_b, 2*R_a, tie-cubes) is an exact
    integer sum — order-independent and cross-engine identical; only
    the final U/z are floating point. One shuffle for the distinct-agg,
    one for the per-type window.
    """
    t = Tables(spark, sf_dir)
    q = t.events.filter(F.col("event_type").isin("purchase", "click")).select(
        "event_type",
        (F.col("user_id") % 2).alias("cohort"),
        F.floor(F.col("value") * F.lit(1000.0) + F.lit(0.5)).cast("long").alias("v_m"),
    )
    g = q.groupBy("event_type", "v_m").agg(
        F.sum(F.when(F.col("cohort") == 0, 1).otherwise(0)).alias("ca"),
        F.count(F.lit(1)).alias("cnt"),
    )
    w = (
        Window.partitionBy("event_type")
        .orderBy("v_m")
        .rowsBetween(Window.unboundedPreceding, -1)
    )
    r = g.select(
        "event_type",
        "ca",
        "cnt",
        F.coalesce(F.sum("cnt").over(w), F.lit(0)).alias("cum"),
    )
    s = r.groupBy("event_type").agg(
        F.sum("ca").alias("n_a"),
        F.sum(F.col("cnt") - F.col("ca")).alias("n_b"),
        F.sum(
            (F.col("ca").cast("decimal(38,0)") * (2 * F.col("cum") + F.col("cnt") + 1))
        )
        .cast("double")
        .alias("ra2"),
        F.sum(
            F.col("cnt").cast("decimal(38,0)") * F.col("cnt") * F.col("cnt") - F.col("cnt")
        )
        .cast("double")
        .alias("tie3"),
    )
    n_a_d = F.col("n_a").cast("double")
    n_b_d = F.col("n_b").cast("double")
    n = F.col("n_a") + F.col("n_b")
    u_a = F.col("ra2") / 2.0 - n_a_d * (F.col("n_a") + 1) / 2.0
    var_u = n_a_d * n_b_d / 12.0 * ((n + 1) - F.col("tie3") / (n.cast("double") * (n - 1)))
    return s.select(
        "event_type",
        "n_a",
        "n_b",
        F.round(u_a, 6).alias("u_a"),
        F.round((u_a - n_a_d * n_b_d / 2.0) / F.sqrt(var_u), 6).alias("z"),
    )


JACK_BLOCKS = 32  # delete-one-block jackknife resampling granularity


@register(
    "stats_jackknife_mean_ci",
    oracle=f"""
    WITH o AS (
      SELECT o_orderpriority,
             o_orderkey % {JACK_BLOCKS} AS blk,
             CAST(floor(o_totalprice * 100.0 + 0.5) AS BIGINT) AS cents
      FROM orders
    ), per AS (
      SELECT o_orderpriority, blk,
             CAST(count(*) AS BIGINT) AS n_i,
             CAST(sum(cents) AS BIGINT) AS s_i
      FROM o GROUP BY o_orderpriority, blk
    ), tot AS (
      SELECT o_orderpriority,
             CAST(sum(n_i) AS BIGINT) AS n_all,
             CAST(sum(s_i) AS BIGINT) AS s_all
      FROM per GROUP BY o_orderpriority
    ), ti AS (
      SELECT p.o_orderpriority, t.n_all, t.s_all,
             CAST(floor(CAST(t.s_all - p.s_i AS DOUBLE) * 1000000.0
                        / (t.n_all - p.n_i) + 0.5) AS BIGINT) AS ti_u
      FROM per p JOIN tot t USING (o_orderpriority)
    ), tsum AS (
      SELECT o_orderpriority, CAST(sum(ti_u) AS BIGINT) AS t_u
      FROM ti GROUP BY o_orderpriority
    ), dev AS (
      SELECT i.o_orderpriority, i.n_all, i.s_all,
             CAST(sum(
               CAST({JACK_BLOCKS} * i.ti_u - s.t_u AS HUGEINT)
               * ({JACK_BLOCKS} * i.ti_u - s.t_u)
             ) AS DOUBLE) AS ssd
      FROM ti i JOIN tsum s USING (o_orderpriority)
      GROUP BY i.o_orderpriority, i.n_all, i.s_all
    )
    SELECT o_orderpriority, n_all AS n_orders,
           round(CAST(s_all AS DOUBLE) / n_all / 100.0, 6) AS mean_total,
           round(sqrt(({JACK_BLOCKS} - 1.0) / {JACK_BLOCKS}
                      * ssd / ({JACK_BLOCKS} * {JACK_BLOCKS} * 1e12)) / 100.0, 6)
             AS se_jack,
           round(CAST(s_all AS DOUBLE) / n_all / 100.0
                 - 1.96 * sqrt(({JACK_BLOCKS} - 1.0) / {JACK_BLOCKS}
                               * ssd / ({JACK_BLOCKS} * {JACK_BLOCKS} * 1e12)) / 100.0,
                 6) AS ci_lo,
           round(CAST(s_all AS DOUBLE) / n_all / 100.0
                 + 1.96 * sqrt(({JACK_BLOCKS} - 1.0) / {JACK_BLOCKS}
                               * ssd / ({JACK_BLOCKS} * {JACK_BLOCKS} * 1e12)) / 100.0,
                 6) AS ci_hi
    FROM dev
    """,
)
def stats_jackknife_mean_ci(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Delete-one-block jackknife standard error + 95% CI for the mean
    order total per priority — error bars at scale WITHOUT random
    resampling: blocks are ``o_orderkey % 32``, so the estimate is a
    pure function of the data (bootstrap needs RNG; block jackknife
    doesn't, which is why it's the production choice for huge data).

    One real shuffle (the (priority, block) partial agg — 160 balanced
    keys); everything after operates on block summaries. Leave-one-out
    means are quantized to integer micro-cents and deviations use the
    identity ``theta_i - theta_bar = (B*ti - sum(ti)) / B`` so the
    sum of squares is an exact integer — order-independent and
    cross-engine identical; only the final sqrt is floating point.
    """
    t = Tables(spark, sf_dir)
    B = JACK_BLOCKS
    o = t.orders.select(
        "o_orderpriority",
        (F.col("o_orderkey") % B).alias("blk"),
        order_cents().alias("cents"),
    )
    per = o.groupBy("o_orderpriority", "blk").agg(
        F.count(F.lit(1)).alias("n_i"), F.sum("cents").alias("s_i")
    )
    tot = per.groupBy("o_orderpriority").agg(
        F.sum("n_i").alias("n_all"), F.sum("s_i").alias("s_all")
    )
    ti = per.join(F.broadcast(tot), "o_orderpriority").select(
        "o_orderpriority",
        "n_all",
        "s_all",
        F.floor(
            (F.col("s_all") - F.col("s_i")).cast("double")
            * F.lit(1e6)
            / (F.col("n_all") - F.col("n_i"))
            + F.lit(0.5)
        )
        .cast("long")
        .alias("ti_u"),
    )
    tsum = ti.groupBy("o_orderpriority").agg(F.sum("ti_u").alias("t_u"))
    dev = (
        ti.join(F.broadcast(tsum), "o_orderpriority")
        .groupBy("o_orderpriority", "n_all", "s_all")
        .agg(
            F.sum(
                (B * F.col("ti_u") - F.col("t_u")).cast("decimal(38,0)")
                * (B * F.col("ti_u") - F.col("t_u"))
            )
            .cast("double")
            .alias("ssd")
        )
    )
    mean_total = F.col("s_all").cast("double") / F.col("n_all") / F.lit(100.0)
    se = (
        F.sqrt(
            F.lit((B - 1.0) / B) * F.col("ssd") / F.lit(float(B * B) * 1e12)
        )
        / F.lit(100.0)
    )
    return dev.select(
        "o_orderpriority",
        F.col("n_all").alias("n_orders"),
        F.round(mean_total, 6).alias("mean_total"),
        F.round(se, 6).alias("se_jack"),
        F.round(mean_total - F.lit(1.96) * se, 6).alias("ci_lo"),
        F.round(mean_total + F.lit(1.96) * se, 6).alias("ci_hi"),
    )


@register(
    "stats_mad_robust_outliers",
    oracle="""
    WITH e AS (
      SELECT event_type,
             CAST(floor(value * 1000000.0 + 0.5) AS BIGINT) AS v_u
      FROM events
    ), med AS (
      SELECT event_type, quantile_disc(v_u, 0.5) AS med_u
      FROM e GROUP BY event_type
    ), dev AS (
      SELECT e.event_type, e.v_u, m.med_u, abs(e.v_u - m.med_u) AS d_u
      FROM e JOIN med m ON e.event_type = m.event_type
    ), mad AS (
      SELECT event_type, quantile_disc(d_u, 0.5) AS mad_u
      FROM dev GROUP BY event_type
    )
    SELECT d.event_type,
           CAST(count(*) AS BIGINT) AS n_events,
           round(max(d.med_u) / 1000000.0, 6) AS median_v,
           round(max(m.mad_u) / 1000000.0, 6) AS mad_v,
           CAST(sum(CASE WHEN abs(0.6745 * (d.v_u - d.med_u) / m.mad_u) > 3.5
                         THEN 1 ELSE 0 END) AS BIGINT) AS n_outliers,
           round(max(abs(0.6745 * (d.v_u - d.med_u) / m.mad_u)), 6) AS max_abs_rz
    FROM dev d JOIN mad m ON d.event_type = m.event_type
    GROUP BY d.event_type
    """,
)
def stats_mad_robust_outliers(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Robust outlier scoring via median / MAD (the 0.6745-scaled
    modified z-score): unlike mean/std (``events_rolling_zscore``'s
    basis), a few extreme values cannot drag the threshold — the
    robust-statistics workhorse for fat-tailed metrics.

    Two grouped exact-discrete-percentile passes (median of values,
    then median of absolute deviations), each a constant-size sketch
    state per event type, broadcast back between passes; the outlier
    flags are then a row-local expression folded into one final
    bounded-key aggregate. At 100 TB: two pruned scans, reduce sides
    bounded by |event_types|, never by rows.
    """
    t = Tables(spark, sf_dir)
    exact = str(2**31 - 1)
    e = t.events.select(
        "event_type", quantize(F.col("value"), 6).alias("v_u")
    )
    med = e.groupBy("event_type").agg(
        F.expr(f"percentile_approx(v_u, 0.5, {exact})").alias("med_u")
    )
    dev = e.join(F.broadcast(med), "event_type").select(
        "event_type", "v_u", "med_u", F.abs(F.col("v_u") - F.col("med_u")).alias("d_u")
    )
    mad = dev.groupBy("event_type").agg(
        F.expr(f"percentile_approx(d_u, 0.5, {exact})").alias("mad_u")
    )
    rz = F.abs(F.lit(0.6745) * (F.col("v_u") - F.col("med_u")) / F.col("mad_u"))
    return (
        dev.join(F.broadcast(mad), "event_type")
        .groupBy("event_type")
        .agg(
            F.count(F.lit(1)).cast("long").alias("n_events"),
            F.round(F.max("med_u") / F.lit(1e6), 6).alias("median_v"),
            F.round(F.max("mad_u") / F.lit(1e6), 6).alias("mad_v"),
            F.sum(F.when(rz > 3.5, 1).otherwise(0)).cast("long").alias("n_outliers"),
            F.round(F.max(rz), 6).alias("max_abs_rz"),
        )
    )


def _profile_oracle() -> str:
    """Single-aggregate-CTE + UNION ALL oracle for dq_column_profile."""
    cols = [
        ("o_orderkey", "num"),
        ("o_custkey", "num"),
        ("o_orderstatus", "str"),
        ("o_totalprice", "num"),
        ("o_orderdate", "other"),
        ("o_orderpriority", "str"),
    ]
    aggs = ["count(*) AS n"]
    sels = []
    for c, kind in cols:
        aggs.append(
            f"CAST(sum(CASE WHEN {c} IS NULL THEN 1 ELSE 0 END) AS BIGINT) AS {c}__nulls"
        )
        aggs.append(f"count(DISTINCT {c}) AS {c}__nd")
        if kind == "num":
            aggs.append(f"CAST(min({c}) AS DOUBLE) AS {c}__mn")
            aggs.append(f"CAST(max({c}) AS DOUBLE) AS {c}__mx")
            mn, mx = f"{c}__mn", f"{c}__mx"
            ln_mn = ln_mx = ln_avg = "NULL"
        elif kind == "str":
            aggs.append(f"min(length({c})) AS {c}__lmn")
            aggs.append(f"max(length({c})) AS {c}__lmx")
            aggs.append(f"CAST(sum(CAST(length({c}) AS BIGINT)) AS BIGINT) AS {c}__lsum")
            mn = mx = "NULL"
            ln_mn, ln_mx = f"{c}__lmn", f"{c}__lmx"
            ln_avg = f"round(CAST({c}__lsum AS DOUBLE) / (n - {c}__nulls), 4)"
        else:
            mn = mx = ln_mn = ln_mx = ln_avg = "NULL"
        sels.append(
            f"SELECT '{c}' AS column_name, n, {c}__nulls AS n_null,"
            f" {c}__nd AS n_distinct, CAST({mn} AS DOUBLE) AS min_num,"
            f" CAST({mx} AS DOUBLE) AS max_num,"
            f" CAST({ln_mn} AS BIGINT) AS min_len, CAST({ln_mx} AS BIGINT) AS max_len,"
            f" CAST({ln_avg} AS DOUBLE) AS avg_len FROM a"
        )
    return "WITH a AS (SELECT " + ", ".join(aggs) + " FROM orders) " + " UNION ALL ".join(sels)


@register("dq_column_profile", oracle=_profile_oracle())
def dq_column_profile(spark: SparkSession, sf_dir: str) -> DataFrame:
    """ANALYZE-style one-pass column profile of ``orders``: per column,
    row/null/exact-distinct counts, numeric min/max, and string length
    stats — the table-stats build a warehouse runs before admitting a
    feed (and the inputs a cost-based optimizer wants).

    One aggregate pass produces a single wide row (Spark plans the
    multi-column exact count-distinct as ONE scan with an Expand —
    |profiled columns| x rows into the partial aggregate, the textbook
    ANALYZE plan); a literal-array inline then unpivots it to one row
    per column, so the only shuffle carries partial aggregate states.
    min/max stay in native numeric types (parquet values pass through
    untouched — no string casts whose formatting differs per engine;
    string columns report length stats instead, which are
    integer-exact). At 100 TB the same profile swaps
    ``approx_count_distinct`` for the exact expand to keep one scan +
    one constant-size reduce; exact is kept here because the oracle
    must match value-for-value.
    """
    t = Tables(spark, sf_dir)
    cols = [
        ("o_orderkey", "num"),
        ("o_custkey", "num"),
        ("o_orderstatus", "str"),
        ("o_totalprice", "num"),
        ("o_orderdate", "other"),
        ("o_orderpriority", "str"),
    ]
    aggs = [F.count(F.lit(1)).alias("n")]
    for c, kind in cols:
        aggs.append(F.sum(F.col(c).isNull().cast("long")).alias(f"{c}__nulls"))
        aggs.append(F.countDistinct(c).alias(f"{c}__nd"))
        if kind == "num":
            aggs.append(F.min(c).cast("double").alias(f"{c}__mn"))
            aggs.append(F.max(c).cast("double").alias(f"{c}__mx"))
        elif kind == "str":
            aggs.append(F.min(F.length(c)).cast("long").alias(f"{c}__lmn"))
            aggs.append(F.max(F.length(c)).cast("long").alias(f"{c}__lmx"))
            aggs.append(F.sum(F.length(c).cast("long")).alias(f"{c}__lsum"))
    row = t.orders.agg(*aggs)
    null_d = F.lit(None).cast("double")
    null_l = F.lit(None).cast("long")
    structs = []
    for c, kind in cols:
        mn = F.col(f"{c}__mn") if kind == "num" else null_d
        mx = F.col(f"{c}__mx") if kind == "num" else null_d
        lmn = F.col(f"{c}__lmn") if kind == "str" else null_l
        lmx = F.col(f"{c}__lmx") if kind == "str" else null_l
        lavg = (
            F.round(F.col(f"{c}__lsum").cast("double") / (F.col("n") - F.col(f"{c}__nulls")), 4)
            if kind == "str"
            else null_d
        )
        structs.append(
            F.struct(
                F.lit(c).alias("column_name"),
                F.col("n").alias("n"),
                F.col(f"{c}__nulls").alias("n_null"),
                F.col(f"{c}__nd").alias("n_distinct"),
                mn.alias("min_num"),
                mx.alias("max_num"),
                lmn.alias("min_len"),
                lmx.alias("max_len"),
                lavg.alias("avg_len"),
            )
        )
    return row.select(F.explode(F.array(*structs)).alias("p")).select("p.*")


# --- deterministic multiplier bootstrap CI ---------------------------------

# B pseudo-replicas; each order gets a deterministic Poisson(1)-shaped
# integer weight per replica from a portable hash — the "multiplier
# bootstrap at scale" pattern: no resampled copies of the data ever
# materialize, each replica is one weighted aggregate over the same
# scan, and the B replica means reduce to a constant-size CI row.
BOOT_B = 32
_BOOT_P = 2_147_483_647
_BOOT_A = 1_103_515_245
_BOOT_S1, _BOOT_S0 = 2_654_435_761 % _BOOT_P, 12_345
# cumulative-probability thresholds (per mille) of Poisson(1): 0,1,2,3,4+
_BOOT_CUTS = (368, 736, 920, 981)


def _boot_ci_oracle() -> str:
    from ..functions.exact import sql_round_big_int_ratio as sql_round_int_ratio

    w_case = (
        f"CASE WHEN h < {_BOOT_CUTS[0]} THEN 0 WHEN h < {_BOOT_CUTS[1]} THEN 1 "
        f"WHEN h < {_BOOT_CUTS[2]} THEN 2 WHEN h < {_BOOT_CUTS[3]} THEN 3 ELSE 4 END"
    )
    return f"""
    WITH o AS (
      SELECT o_orderkey, CAST(floor(o_totalprice * 100.0 + 0.5) AS BIGINT) AS cents
      FROM orders
    ), reps AS (
      SELECT unnest(range(0, {BOOT_B})) AS b
    ), weighted AS (
      SELECT r.b, o.cents, {w_case} AS wt
      FROM o CROSS JOIN reps r,
      LATERAL (SELECT (((o.o_orderkey % {_BOOT_P}) * {_BOOT_A}
                        + (r.b * {_BOOT_S1} + {_BOOT_S0})) % {_BOOT_P}) % 1000 AS h) x
    ), rep_means AS (
      SELECT b,
             {sql_round_int_ratio('sum(wt * cents)', 'greatest(sum(wt), 1)', 2)}
               AS mean_cents
      FROM weighted GROUP BY b
    ), base AS (
      SELECT CAST(count(*) AS BIGINT) AS n_orders,
             {sql_round_int_ratio('sum(cents)', 'count(*)', 2)} AS mean_cents_all
      FROM o
    )
    SELECT base.n_orders,
           CAST({BOOT_B} AS BIGINT) AS n_replicas,
           base.mean_cents_all,
           lst[2] AS ci_lo_cents,
           lst[{BOOT_B - 1}] AS ci_hi_cents
    FROM base, (SELECT list_sort(list(mean_cents)) AS lst FROM rep_means)
    """


@register("stats_bootstrap_mean_ci", oracle=_boot_ci_oracle())
def stats_bootstrap_mean_ci(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Bootstrap confidence interval for the mean order value via a
    DETERMINISTIC multiplier bootstrap: every order receives a portable
    hash-derived Poisson(1)-shaped weight per replica, so the B
    pseudo-resamples are pure weighted aggregates — no resampled data
    copies, no RNG state, bit-identical across engines and partitionings
    (the distributed answer to "you can't bootstrap 100 TB by
    materializing resamples"; complements ``stats_jackknife_mean_ci``,
    which is leave-one-GROUP-out rather than row-resampling).

    Scale: the corpus expands B=32x into (replica, weight) rows that
    partial-aggregate map-side to B rows of integer partials; the CI is
    order statistics over the 32 replica means in a constant-size final
    aggregate. Replica means are exact half-up integer ratios in the
    decimal(38,0) domain (``round_big_int_ratio`` — sum(wt*cents)
    exceeds the int64 ratio path's ~4.6e16 dp=2 ceiling well before
    100 TB; ADVICE r5).
    """
    from ..functions.exact import round_big_int_ratio as round_int_ratio

    t = Tables(spark, sf_dir)
    o = t.orders.select(
        "o_orderkey",
        order_cents()
        .alias("cents"),
    )
    # replica index must be long BEFORE the seed multiply: sequence()
    # yields int32 and b * _BOOT_S1 overflows int at b >= 5 (ANSI crash)
    b = F.col("b").cast("long")
    h = (
        (F.col("o_orderkey") % _BOOT_P) * _BOOT_A + (b * _BOOT_S1 + _BOOT_S0)
    ) % _BOOT_P % 1000
    wt = (
        F.when(h < _BOOT_CUTS[0], 0)
        .when(h < _BOOT_CUTS[1], 1)
        .when(h < _BOOT_CUTS[2], 2)
        .when(h < _BOOT_CUTS[3], 3)
        .otherwise(4)
        .cast("long")
    )
    weighted = o.select(
        "o_orderkey",
        "cents",
        F.explode(F.sequence(F.lit(0), F.lit(BOOT_B - 1))).alias("b"),
    ).select(b.alias("b"), "cents", wt.alias("wt"))
    rep_means = weighted.groupBy("b").agg(
        round_int_ratio(
            F.sum(F.col("wt") * F.col("cents")),
            F.greatest(F.sum("wt"), F.lit(1)),
            2,
        ).alias("mean_cents")
    )
    ci = rep_means.agg(
        F.array_sort(F.collect_list("mean_cents")).alias("lst")
    ).select(
        F.element_at("lst", 2).alias("ci_lo_cents"),
        F.element_at("lst", BOOT_B - 1).alias("ci_hi_cents"),
    )
    base = o.agg(
        F.count(F.lit(1)).alias("n_orders"),
        round_int_ratio(F.sum("cents"), F.count(F.lit(1)), 2).alias("mean_cents_all"),
    )
    return base.crossJoin(F.broadcast(ci)).select(
        "n_orders",
        F.lit(BOOT_B).cast("long").alias("n_replicas"),
        "mean_cents_all",
        "ci_lo_cents",
        "ci_hi_cents",
    )


# --- cross-table monetary reconciliation -----------------------------------


def _reconciliation_oracle() -> str:
    return """
    WITH items AS (
      SELECT l_orderkey,
             CAST(sum(CAST(floor(l_extendedprice * (1 - l_discount) * (1 + l_tax)
                                 * 100.0 + 0.5) AS BIGINT)) AS BIGINT) AS items_cents,
             CAST(count(*) AS BIGINT) AS n_items
      FROM lineitem GROUP BY 1
    ), o AS (
      SELECT o_orderkey,
             CAST(floor(o_totalprice * 100.0 + 0.5) AS BIGINT) AS stated_cents
      FROM orders
    ), joined AS (
      SELECT o.o_orderkey, o.stated_cents, i.items_cents, i.n_items,
             o.stated_cents - i.items_cents AS diff_cents
      FROM o LEFT JOIN items i ON o.o_orderkey = i.l_orderkey
    )
    SELECT CASE WHEN items_cents IS NULL THEN 'no_lineitems'
                WHEN diff_cents = 0 THEN 'exact'
                WHEN abs(diff_cents) <= 100 THEN 'within_1_dollar'
                WHEN abs(diff_cents) <= 10000 THEN 'within_100_dollars'
                ELSE 'large_discrepancy' END AS bucket,
           CAST(count(*) AS BIGINT) AS n_orders,
           CAST(coalesce(sum(n_items), 0) AS BIGINT) AS n_items,
           CAST(min(diff_cents) AS BIGINT) AS min_diff_cents,
           CAST(max(diff_cents) AS BIGINT) AS max_diff_cents
    FROM joined GROUP BY 1
    """


@register("dq_order_lineitem_reconciliation", oracle=_reconciliation_oracle())
def dq_order_lineitem_reconciliation(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Cross-table monetary reconciliation — the DQ audit the
    referential-integrity check can't do: do the MONEY columns agree?
    Per order, the stated total is compared against the sum of its line
    items' net charges (extendedprice * (1-discount) * (1+tax)), and
    orders bucket into exact / within-$1 / within-$100 / large /
    no-lineitems with count and diff range per bucket.

    Everything is cents-quantized int64 (the per-item charge is a
    product of IEEE doubles — deterministic — floored once to cents),
    so the audit is bit-exact. Scale: one partial-aggregated groupBy on
    the fact key, then the orders-side join — the same order-key
    fact-fact edge as ``lineitem_shipment_latency``, i.e. exactly the
    join the bucketed layout (operators/bucketed.py) removes at 100 TB;
    output is a 5-row histogram.
    """
    t = Tables(spark, sf_dir)
    charge_cents = F.floor(
        F.col("l_extendedprice")
        * (F.lit(1.0) - F.col("l_discount"))
        * (F.lit(1.0) + F.col("l_tax"))
        * F.lit(100.0)
        + F.lit(0.5)
    ).cast("long")
    items = (
        t.lineitem.select("l_orderkey", charge_cents.alias("c"))
        .groupBy("l_orderkey")
        .agg(F.sum("c").alias("items_cents"), F.count(F.lit(1)).alias("n_items"))
    )
    o = t.orders.select(
        "o_orderkey",
        order_cents()
        .alias("stated_cents"),
    )
    joined = o.join(items, o.o_orderkey == items.l_orderkey, "left").select(
        "stated_cents",
        "items_cents",
        "n_items",
        (F.col("stated_cents") - F.col("items_cents")).alias("diff_cents"),
    )
    bucket = (
        F.when(F.col("items_cents").isNull(), "no_lineitems")
        .when(F.col("diff_cents") == 0, "exact")
        .when(F.abs("diff_cents") <= 100, "within_1_dollar")
        .when(F.abs("diff_cents") <= 10000, "within_100_dollars")
        .otherwise("large_discrepancy")
    )
    return joined.groupBy(bucket.alias("bucket")).agg(
        F.count(F.lit(1)).alias("n_orders"),
        F.coalesce(F.sum("n_items"), F.lit(0)).cast("long").alias("n_items"),
        F.min("diff_cents").alias("min_diff_cents"),
        F.max("diff_cents").alias("max_diff_cents"),
    )


# --- Gini revenue concentration per nation ---------------------------------


def _gini_oracle() -> str:
    return """
    WITH rev AS (
      SELECT c.c_nationkey, o.o_custkey,
             CAST(sum(CAST(floor(o.o_totalprice * 100.0 + 0.5) AS BIGINT)) AS BIGINT)
               AS cents
      FROM orders o JOIN customer c ON o.o_custkey = c.c_custkey
      GROUP BY 1, 2
    ), ranked AS (
      SELECT c_nationkey, cents,
             row_number() OVER (PARTITION BY c_nationkey
                                ORDER BY cents, o_custkey) AS rn
      FROM rev
    ), agg AS (
      SELECT c_nationkey,
             CAST(count(*) AS HUGEINT) AS n,
             CAST(sum(cents) AS HUGEINT) AS tot,
             sum(CAST(rn AS HUGEINT) * CAST(cents AS HUGEINT)) AS rnx
      FROM ranked GROUP BY 1
    )
    SELECT CAST(c_nationkey AS BIGINT) AS nationkey,
           CAST(n AS BIGINT) AS n_customers,
           CAST(tot AS BIGINT) AS total_cents,
           CASE WHEN n > 1 AND tot > 0 THEN
             CAST(((2000000::HUGEINT * (2 * rnx - (n + 1) * tot) + (n * tot))
                   // (2::HUGEINT * n * tot)) AS BIGINT) / 1000000.0
           END AS gini
    FROM agg
    """


@register("stats_gini_by_nation", oracle=_gini_oracle())
def stats_gini_by_nation(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Gini coefficient of customer revenue per nation — the
    concentration curve's single-number summary, complementing
    ``stats_pareto_by_nation`` (top-decile share): Gini reads the WHOLE
    Lorenz curve, via the rank identity
    G = (2*sum(i*x_i) - (n+1)*sum(x)) / (n*sum(x)) over ascending
    ranked revenues.

    Exactness: revenues are cents-int64; the rank products widen to
    decimal(38,0) BEFORE multiplying (rank * cents overflows int64 at
    warehouse scale), and the final Gini is an exact half-up integer
    ratio at 6 dp in the decimal domain — the ``_round_big_int_ratio``
    lesson applied at design time. Scale: one per-nation ranked window
    (partitioned, never global) over customer aggregates, then a
    |nations|-row reduce.
    """
    t = Tables(spark, sf_dir)
    rev = (
        t.orders.join(
            t.customer.select("c_custkey", "c_nationkey"),
            t.orders.o_custkey == F.col("c_custkey"),
        )
        .select(
            "c_nationkey",
            "o_custkey",
            order_cents()
            .alias("cents_row"),
        )
        .groupBy("c_nationkey", "o_custkey")
        .agg(F.sum("cents_row").alias("cents"))
    )
    w = Window.partitionBy("c_nationkey").orderBy("cents", "o_custkey")
    dec = lambda c: c.cast("decimal(38,0)")  # noqa: E731
    ranked = rev.withColumn("rn", F.row_number().over(w).cast("long"))
    agg = ranked.groupBy("c_nationkey").agg(
        F.count(F.lit(1)).cast("long").alias("n"),
        F.sum("cents").alias("tot"),
        F.sum(dec(F.col("rn")) * dec(F.col("cents"))).alias("rnx"),
    )
    n, tot, rnx = dec(F.col("n")), dec(F.col("tot")), F.col("rnx").cast("decimal(38,0)")
    num = F.lit(2_000_000).cast("decimal(38,0)") * (
        F.lit(2).cast("decimal(38,0)") * rnx - (n + F.lit(1).cast("decimal(38,0)")) * tot
    ) + (n * tot)
    den = F.lit(2).cast("decimal(38,0)") * n * tot
    gini = ((num - num % den) / den).cast("long") / F.lit(1e6)
    return agg.select(
        F.col("c_nationkey").cast("long").alias("nationkey"),
        F.col("n").alias("n_customers"),
        F.col("tot").cast("long").alias("total_cents"),
        F.when((F.col("n") > 1) & (F.col("tot") > 0), gini).alias("gini"),
    )


# --- A/B sample-ratio-mismatch (SRM) audit ---------------------------------

# chi-square critical value at alpha=0.05, 1 df, as an exact rational
# (38415/10000) so the flag is an integer test on both engines
_SRM_CRIT_NUM, _SRM_CRIT_DEN = 38_415, 10_000


def _srm_oracle() -> str:
    from ..functions.exact import sql_round_int_ratio

    return f"""
    WITH assign AS (
      SELECT DISTINCT event_type, user_id, user_id % 2 AS cohort
      FROM events WHERE event_type IN ('purchase', 'click')
    ), counts AS (
      SELECT event_type,
             CAST(sum(CASE WHEN cohort = 0 THEN 1 ELSE 0 END) AS BIGINT) AS n_a,
             CAST(sum(CASE WHEN cohort = 1 THEN 1 ELSE 0 END) AS BIGINT) AS n_b
      FROM assign GROUP BY 1
    )
    SELECT event_type, n_a, n_b,
           {sql_round_int_ratio('(n_a - n_b) * (n_a - n_b)', 'n_a + n_b')}
             AS chi2,
           ({_SRM_CRIT_DEN} * (n_a - n_b) * (n_a - n_b)
            > {_SRM_CRIT_NUM} * (n_a + n_b)) AS srm_detected
    FROM counts
    """


@register("dq_ab_sample_ratio_mismatch", oracle=_srm_oracle())
def dq_ab_sample_ratio_mismatch(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Sample-ratio-mismatch (SRM) audit for the A/B assignment the
    t-test / Mann-Whitney queries consume: per experiment surface
    (event type), count distinct users per cohort and chi-square-test
    the observed split against the intended 50/50 — the standard
    guardrail that invalidates an experiment BEFORE anyone reads its
    metrics (a skewed split means assignment or logging is broken).

    Exactness: chi2 for a 50/50 design reduces to (nA-nB)^2/(nA+nB) —
    an exact half-up integer ratio — and the detection flag compares
    against the 0.05 critical value as a rational (38415/10000), so
    both stat and verdict are pure integer arithmetic. Scale: one
    distinct-user aggregate per (event_type, cohort); shuffle volume is
    the user dimension, output |event_types| rows.
    """
    from ..functions.exact import round_int_ratio

    t = Tables(spark, sf_dir)
    assign = (
        t.events.filter(F.col("event_type").isin("purchase", "click"))
        .select("event_type", "user_id", (F.col("user_id") % 2).alias("cohort"))
        .distinct()
    )
    counts = assign.groupBy("event_type").agg(
        F.sum(F.when(F.col("cohort") == 0, 1).otherwise(0)).cast("long").alias("n_a"),
        F.sum(F.when(F.col("cohort") == 1, 1).otherwise(0)).cast("long").alias("n_b"),
    )
    d = F.col("n_a") - F.col("n_b")
    tot = F.col("n_a") + F.col("n_b")
    return counts.select(
        "event_type",
        "n_a",
        "n_b",
        round_int_ratio(d * d, tot).alias("chi2"),
        (F.lit(_SRM_CRIT_DEN) * d * d > F.lit(_SRM_CRIT_NUM) * tot).alias(
            "srm_detected"
        ),
    )


# --- two-proportion z-test (conversion-rate A/B) ---------------------------


def _prop_ztest_oracle() -> str:
    from ..functions.exact import sql_round_int_ratio

    return f"""
    WITH users AS (
      SELECT user_id % 2 AS cohort, user_id,
             CASE WHEN 5 * sum(CASE WHEN event_type = 'purchase' THEN 1 ELSE 0 END)
                       > count(*) THEN 1 ELSE 0 END AS converted
      FROM events GROUP BY 1, 2
    ), counts AS (
      SELECT cohort, CAST(count(*) AS BIGINT) AS n,
             CAST(sum(converted) AS BIGINT) AS x
      FROM users GROUP BY 1
    ), wide AS (
      SELECT a.n AS n_a, a.x AS x_a, b.n AS n_b, b.x AS x_b
      FROM counts a JOIN counts b ON a.cohort = 0 AND b.cohort = 1
    )
    SELECT n_a, x_a, n_b, x_b,
           {sql_round_int_ratio('x_a', 'n_a')} AS rate_a,
           {sql_round_int_ratio('x_b', 'n_b')} AS rate_b,
           CASE WHEN x_a + x_b > 0 AND x_a + x_b < n_a + n_b THEN
             CAST(floor((CAST(x_a AS DOUBLE) / CAST(n_a AS DOUBLE)
                         - CAST(x_b AS DOUBLE) / CAST(n_b AS DOUBLE))
                  / sqrt((CAST(x_a + x_b AS DOUBLE) / CAST(n_a + n_b AS DOUBLE))
                         * (1.0 - CAST(x_a + x_b AS DOUBLE) / CAST(n_a + n_b AS DOUBLE))
                         * (1.0 / CAST(n_a AS DOUBLE) + 1.0 / CAST(n_b AS DOUBLE)))
                  * 1000000.0 + 0.5) AS BIGINT) / 1000000.0
           END AS z_stat
    FROM wide
    """


@register("stats_proportions_ztest", oracle=_prop_ztest_oracle())
def stats_proportions_ztest(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Two-proportion pooled z-test on user CONVERSION (purchase share
    above 20% — an exact integer per-user test) between the A/B cohorts — the rate companion of the
    value-based ``stats_ttest_ab``: experimentation platforms read
    conversion deltas far more often than mean deltas.

    Exactness without a t-table: the sufficient statistics are four
    integers (n, conversions per cohort); the rates are exact half-up
    ratios, and the z statistic is a fixed tree of IEEE
    divisions/multiplications and one sqrt — all correctly-rounded
    operations, so the 1e-6-quantized value is bit-identical across
    engines with no transcendental involved. Scale: one distinct-user
    aggregate (partial map-side), then arithmetic over a 1-row table.
    """
    t = Tables(spark, sf_dir)
    # converted = purchase share above 20%, as the exact integer test
    # 5*purchases > events ("ever purchased" is degenerate on this
    # corpus: every user has one, so the pooled rate would be 1 and the
    # z denominator 0)
    users = (
        t.events.groupBy((F.col("user_id") % 2).alias("cohort"), "user_id")
        .agg(
            F.sum(F.when(F.col("event_type") == "purchase", 1).otherwise(0)).alias(
                "np"
            ),
            F.count(F.lit(1)).alias("ne"),
        )
        .select(
            "cohort",
            "user_id",
            F.when(F.lit(5) * F.col("np") > F.col("ne"), 1).otherwise(0).alias(
                "converted"
            ),
        )
    )
    counts = users.groupBy("cohort").agg(
        F.count(F.lit(1)).alias("n"), F.sum("converted").cast("long").alias("x")
    )
    a = counts.filter(F.col("cohort") == 0).select(
        F.col("n").alias("n_a"), F.col("x").alias("x_a")
    )
    b = counts.filter(F.col("cohort") == 1).select(
        F.col("n").alias("n_b"), F.col("x").alias("x_b")
    )
    wide = a.crossJoin(F.broadcast(b))
    d = lambda c: F.col(c).cast("double")  # noqa: E731
    pp = (d("x_a") + d("x_b")) / (d("n_a") + d("n_b"))
    z = (d("x_a") / d("n_a") - d("x_b") / d("n_b")) / F.sqrt(
        pp * (F.lit(1.0) - pp) * (F.lit(1.0) / d("n_a") + F.lit(1.0) / d("n_b"))
    )
    return wide.select(
        "n_a",
        "x_a",
        "n_b",
        "x_b",
        round_int_ratio(F.col("x_a"), F.col("n_a")).alias("rate_a"),
        round_int_ratio(F.col("x_b"), F.col("n_b")).alias("rate_b"),
        F.when(
            (F.col("x_a") + F.col("x_b") > 0)
            & (F.col("x_a") + F.col("x_b") < F.col("n_a") + F.col("n_b")),
            F.floor(z * F.lit(1e6) + F.lit(0.5)).cast("long") / F.lit(1e6),
        ).alias("z_stat"),
    )


# --- minimum detectable effect (experiment power planning) -----------------

# z-quantiles as shared literals: two-sided alpha=0.05 and power=0.80.
Z_ALPHA_2 = 1.959964
Z_BETA = 0.841621


@register(
    "stats_power_mde",
    oracle=f"""
    WITH users AS (
      SELECT user_id % 2 AS cohort, user_id,
             CASE WHEN 5 * sum(CASE WHEN event_type = 'purchase' THEN 1 ELSE 0 END)
                       > count(*) THEN 1 ELSE 0 END AS converted
      FROM events GROUP BY 1, 2
    ), counts AS (
      SELECT cohort, CAST(count(*) AS BIGINT) AS n,
             CAST(sum(converted) AS BIGINT) AS x
      FROM users GROUP BY 1
    ), wide AS (
      SELECT a.n AS n_a, b.n AS n_b,
             CAST(a.x + b.x AS DOUBLE) / CAST(a.n + b.n AS DOUBLE) AS pp
      FROM counts a JOIN counts b ON a.cohort = 0 AND b.cohort = 1
    )
    SELECT n_a, n_b,
           CAST(floor(pp * 1000000.0 + 0.5) AS BIGINT) / 1000000.0 AS baseline_rate,
           CASE WHEN pp > 0 AND pp < 1 THEN
             CAST(floor(({Z_ALPHA_2} + {Z_BETA})
                  * sqrt(pp * (1.0 - pp)
                         * (1.0 / CAST(n_a AS DOUBLE) + 1.0 / CAST(n_b AS DOUBLE)))
                  * 1000000.0 + 0.5) AS BIGINT) / 1000000.0
           END AS mde_abs
    FROM wide
    """,
)
def stats_power_mde(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Minimum detectable effect at the CURRENT sample sizes — the
    power-planning companion that closes the experimentation kit
    (``dq_ab_sample_ratio_mismatch`` = is the split valid,
    ``stats_proportions_ztest`` = is the delta significant, this = what
    delta COULD we even detect): MDE = (z_a/2 + z_beta) * se(pooled)
    at alpha = 0.05 two-sided, power = 0.80.

    The z-quantiles are shared literals on both engines; the MDE is a
    fixed tree of IEEE divisions, one multiply chain, and one sqrt —
    all correctly rounded, so the 1e-6-quantized value is bit-identical
    with no transcendental (same discipline as the z-test itself).
    Scale: one distinct-user aggregate, then 1-row arithmetic.
    """
    t = Tables(spark, sf_dir)
    users = (
        t.events.groupBy((F.col("user_id") % 2).alias("cohort"), "user_id")
        .agg(
            F.sum(F.when(F.col("event_type") == "purchase", 1).otherwise(0)).alias(
                "np"
            ),
            F.count(F.lit(1)).alias("ne"),
        )
        .select(
            "cohort",
            F.when(F.lit(5) * F.col("np") > F.col("ne"), 1).otherwise(0).alias(
                "converted"
            ),
        )
    )
    counts = users.groupBy("cohort").agg(
        F.count(F.lit(1)).alias("n"), F.sum("converted").cast("long").alias("x")
    )
    a = counts.filter(F.col("cohort") == 0).select(
        F.col("n").alias("n_a"), F.col("x").alias("x_a")
    )
    b = counts.filter(F.col("cohort") == 1).select(
        F.col("n").alias("n_b"), F.col("x").alias("x_b")
    )
    d = lambda c: F.col(c).cast("double")  # noqa: E731
    wide = a.crossJoin(F.broadcast(b)).select(
        "n_a", "n_b", ((d("x_a") + d("x_b")) / (d("n_a") + d("n_b"))).alias("pp")
    )
    pp = F.col("pp")
    q6 = lambda e: F.floor(e * F.lit(1e6) + F.lit(0.5)).cast("long") / F.lit(1e6)  # noqa: E731
    mde = q6(
        F.lit(Z_ALPHA_2 + Z_BETA)
        * F.sqrt(pp * (F.lit(1.0) - pp) * (F.lit(1.0) / d("n_a") + F.lit(1.0) / d("n_b")))
    )
    return wide.select(
        "n_a",
        "n_b",
        q6(pp).alias("baseline_rate"),
        F.when((pp > 0) & (pp < 1), mde).alias("mde_abs"),
    )
