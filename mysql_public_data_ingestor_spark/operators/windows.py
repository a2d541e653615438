"""Window functions: ranking, analytic (lag/lead), frame aggregates,
per-group top-k, ntile, percent_rank.

Scale notes: a window over ``partitionBy(k)`` shuffles once on ``k`` and
sorts within partitions — the same cost shape as a groupBy, and AQE
handles skewed keys. Every ORDER BY inside a window carries a unique
tie-break column so results are deterministic across engines.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from ..functions.exact import exact_sum_window, order_cents, quantize
from ..registry import register
from ..tables import Tables


@register(
    "window_topk_orders_per_customer",
    oracle="""
    SELECT o_custkey, o_orderkey, round(o_totalprice, 2) AS total_price, rn
    FROM (
      SELECT o_custkey, o_orderkey, o_totalprice,
             row_number() OVER (PARTITION BY o_custkey
                                ORDER BY o_totalprice DESC, o_orderkey) AS rn
      FROM orders
    )
    WHERE rn <= 3
    """,
)
def window_topk_orders_per_customer(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-group top-k via row_number — the scalable top-k idiom.

    (No global sort; one shuffle on the partition key, per-partition
    sort, early filter. At 100 TB this is the only viable top-k-per-key
    plan.)
    """
    t = Tables(spark, sf_dir)
    w = Window.partitionBy("o_custkey").orderBy(F.col("o_totalprice").desc(), F.col("o_orderkey"))
    return (
        t.orders.withColumn("rn", F.row_number().over(w).cast("long"))
        .filter(F.col("rn") <= 3)
        .select("o_custkey", "o_orderkey", F.round("o_totalprice", 2).alias("total_price"), "rn")
    )


@register(
    "window_rank_dense_rank",
    oracle="""
    SELECT c_custkey, c_nationkey, round(c_acctbal, 2) AS acctbal,
           rank()       OVER (PARTITION BY c_nationkey ORDER BY c_acctbal DESC) AS bal_rank,
           dense_rank() OVER (PARTITION BY c_nationkey ORDER BY c_acctbal DESC) AS bal_dense_rank
    FROM customer
    """,
)
def window_rank_dense_rank(spark: SparkSession, sf_dir: str) -> DataFrame:
    """rank / dense_rank (gap vs no-gap semantics on ties)."""
    t = Tables(spark, sf_dir)
    w = Window.partitionBy("c_nationkey").orderBy(F.col("c_acctbal").desc())
    return t.customer.select(
        "c_custkey",
        "c_nationkey",
        F.round("c_acctbal", 2).alias("acctbal"),
        F.rank().over(w).cast("long").alias("bal_rank"),
        F.dense_rank().over(w).cast("long").alias("bal_dense_rank"),
    )


@register(
    "window_running_revenue",
    oracle="""
    SELECT l_suppkey, l_orderkey, l_linenumber,
           sum(CAST(floor(l_extendedprice * (1 - l_discount) * 10000.0 + 0.5) AS BIGINT))
                 OVER (PARTITION BY l_suppkey
                       ORDER BY l_shipdate, l_orderkey, l_linenumber,
                                CAST(floor(l_extendedprice * (1 - l_discount) * 10000.0 + 0.5) AS BIGINT)
                       ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) / 10000.0
             AS running_revenue
    FROM lineitem
    """,
)
def window_running_revenue(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Cumulative aggregate over a ROWS frame (deterministic order).

    The measure is quantized per row (functions.exact) so the running
    int64 sum is order-exact and engine-independent. The quantized
    measure itself joins the ORDER BY: (l_orderkey, l_linenumber) is
    NOT unique in the fixture (duplicated keys at sf>=0.1), and a tie
    whose rows carry different revenues would make the prefix sums
    engine-order-dependent — with the measure in the ordering, any
    remaining ties are revenue-identical and the cumsum multiset is
    deterministic.
    """
    t = Tables(spark, sf_dir)
    rev = F.col("l_extendedprice") * (1 - F.col("l_discount"))
    w = (
        Window.partitionBy("l_suppkey")
        .orderBy("l_shipdate", "l_orderkey", "l_linenumber", quantize(rev, 4))
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    )
    return t.lineitem.select(
        "l_suppkey",
        "l_orderkey",
        "l_linenumber",
        exact_sum_window(rev, w, 4).alias("running_revenue"),
    )


@register(
    "window_lag_lead_order_gaps",
    oracle="""
    SELECT o_custkey, o_orderkey, o_orderdate,
           lag(o_orderkey)  OVER w AS prev_orderkey,
           lead(o_orderkey) OVER w AS next_orderkey,
           datediff('day',
                    lag(o_orderdate) OVER w,
                    o_orderdate)    AS days_since_prev
    FROM orders
    WINDOW w AS (PARTITION BY o_custkey ORDER BY o_orderdate, o_orderkey)
    """,
)
def window_lag_lead_order_gaps(spark: SparkSession, sf_dir: str) -> DataFrame:
    """lag/lead analytic functions + inter-row date arithmetic."""
    t = Tables(spark, sf_dir)
    w = Window.partitionBy("o_custkey").orderBy("o_orderdate", "o_orderkey")
    return t.orders.select(
        "o_custkey",
        "o_orderkey",
        "o_orderdate",
        F.lag("o_orderkey").over(w).alias("prev_orderkey"),
        F.lead("o_orderkey").over(w).alias("next_orderkey"),
        F.datediff(F.to_date("o_orderdate"), F.to_date(F.lag("o_orderdate").over(w))).alias(
            "days_since_prev"
        ),
    )


@register(
    "window_moving_avg",
    oracle="""
    SELECT l_suppkey, l_orderkey, l_linenumber,
           round(avg(l_quantity)
                 OVER (PARTITION BY l_suppkey
                       ORDER BY l_shipdate, l_orderkey, l_linenumber, l_quantity
                       ROWS BETWEEN 4 PRECEDING AND CURRENT ROW), 4)
             AS qty_ma5
    FROM lineitem
    """,
)
def window_moving_avg(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Sliding ROWS frame (5-row moving average).

    l_quantity joins the ordering: lineitem keys duplicate at sf>=0.1,
    and a tie with differing quantities would make frame contents
    engine-order-dependent (see window_running_revenue).
    """
    t = Tables(spark, sf_dir)
    w = (
        Window.partitionBy("l_suppkey")
        .orderBy("l_shipdate", "l_orderkey", "l_linenumber", "l_quantity")
        .rowsBetween(-4, Window.currentRow)
    )
    return t.lineitem.select(
        "l_suppkey",
        "l_orderkey",
        "l_linenumber",
        F.round(F.avg("l_quantity").over(w), 4).alias("qty_ma5"),
    )


@register(
    "window_ntile_percent_rank",
    oracle="""
    WITH b AS (
      SELECT c_custkey,
             ntile(4) OVER w     AS bal_quartile,
             row_number() OVER w AS k,
             count(*) OVER ()    AS n
      FROM customer
      WINDOW w AS (ORDER BY c_acctbal, c_custkey)
    )
    SELECT c_custkey, bal_quartile,
           CASE WHEN n > 1
                THEN ((2000000 * (k - 1) + (n - 1)) // (2 * (n - 1))) / 1000000.0
                ELSE 0.0 END AS bal_pct_rank,
           ((2000000 * k + n) // (2 * n)) / 1000000.0 AS bal_cume_dist
    FROM b
    """,
)
def window_ntile_percent_rank(spark: SparkSession, sf_dir: str) -> DataFrame:
    """ntile / percent_rank / cume_dist over a global ordering.

    A single unpartitioned window is a deliberate scale smell (one
    reducer); kept here for surface completeness — the partitioned
    variants above are the 100 TB path. Same exact-integer 6-dp
    rounding as ``window_ntile_by_nation`` (unique tie-break makes
    cume_dist == row_number/n), avoiding the Spark-vs-DuckDB
    double-rounding divergence on decimal-boundary ratios.
    """
    t = Tables(spark, sf_dir)
    w = Window.orderBy("c_acctbal", "c_custkey")
    wn = Window.partitionBy(F.lit(1))
    base = t.customer.select(
        "c_custkey",
        F.ntile(4).over(w).cast("long").alias("bal_quartile"),
        F.row_number().over(w).cast("long").alias("k"),
        F.count(F.lit(1)).over(wn).cast("long").alias("n"),
    )
    return base.select(
        "c_custkey",
        "bal_quartile",
        F.when(
            F.col("n") > 1,
            F.expr("(2000000 * (k - 1) + (n - 1)) div (2 * (n - 1))") / F.lit(1e6),
        )
        .otherwise(F.lit(0.0))
        .alias("bal_pct_rank"),
        (F.expr("(2000000 * k + n) div (2 * n)") / F.lit(1e6)).alias("bal_cume_dist"),
    )


@register(
    "window_first_last_value",
    oracle="""
    SELECT o_custkey, o_orderkey,
           first_value(o_orderkey) OVER w AS first_orderkey,
           last_value(o_orderkey)  OVER (PARTITION BY o_custkey
                                         ORDER BY o_orderdate, o_orderkey
                                         ROWS BETWEEN UNBOUNDED PRECEDING
                                                  AND UNBOUNDED FOLLOWING) AS last_orderkey
    FROM orders
    WINDOW w AS (PARTITION BY o_custkey ORDER BY o_orderdate, o_orderkey)
    """,
)
def window_first_last_value(spark: SparkSession, sf_dir: str) -> DataFrame:
    """first_value / last_value with explicit full frame for last."""
    t = Tables(spark, sf_dir)
    w = Window.partitionBy("o_custkey").orderBy("o_orderdate", "o_orderkey")
    wfull = w.rowsBetween(Window.unboundedPreceding, Window.unboundedFollowing)
    return t.orders.select(
        "o_custkey",
        "o_orderkey",
        F.first("o_orderkey").over(w).alias("first_orderkey"),
        F.last("o_orderkey").over(wfull).alias("last_orderkey"),
    )


@register(
    "window_range_frame",
    oracle="""
    SELECT o_orderkey, o_custkey,
           count(*) OVER (PARTITION BY o_custkey
                          ORDER BY datediff('day', DATE '1970-01-01', o_orderdate)
                          RANGE BETWEEN 30 PRECEDING AND 30 FOLLOWING) AS n_orders_60d,
           sum(CAST(floor(o_totalprice * 100.0 + 0.5) AS BIGINT))
               OVER (PARTITION BY o_custkey
                     ORDER BY datediff('day', DATE '1970-01-01', o_orderdate)
                     RANGE BETWEEN 30 PRECEDING AND 30 FOLLOWING) / 100.0 AS spend_60d
    FROM orders
    """,
)
def window_range_frame(spark: SparkSession, sf_dir: str) -> DataFrame:
    """RANGE frame over day numbers: orders of the same customer within
    +/-30 days (value-based frame, vs the ROWS frames elsewhere)."""
    t = Tables(spark, sf_dir)
    day = F.datediff(F.to_date("o_orderdate"), F.to_date(F.lit("1970-01-01")))
    w = Window.partitionBy("o_custkey").orderBy(day).rangeBetween(-30, 30)
    return t.orders.select(
        "o_orderkey",
        "o_custkey",
        F.count(F.lit(1)).over(w).alias("n_orders_60d"),
        (F.sum(order_cents()).over(w) / 100.0).alias(
            "spend_60d"
        ),
    )


@register(
    "window_ntile_by_nation",
    oracle="""
    WITH b AS (
      SELECT c_custkey, c_nationkey,
             ntile(4) OVER w       AS bal_quartile,
             row_number() OVER w   AS k,
             count(*) OVER (PARTITION BY c_nationkey) AS n
      FROM customer
      WINDOW w AS (PARTITION BY c_nationkey ORDER BY c_acctbal, c_custkey)
    )
    SELECT c_custkey, c_nationkey, bal_quartile,
           CASE WHEN n > 1
                THEN ((2000000 * (k - 1) + (n - 1)) // (2 * (n - 1))) / 1000000.0
                ELSE 0.0 END AS bal_pct_rank,
           ((2000000 * k + n) // (2 * n)) / 1000000.0 AS bal_cume_dist
    FROM b
    """,
)
def window_ntile_by_nation(spark: SparkSession, sf_dir: str) -> DataFrame:
    """ntile / percent_rank / cume_dist per nation — the partitioned
    twin of ``window_ntile_percent_rank``.

    This is the 100 TB shape for distribution statistics: one shuffle on
    the partition key, each nation's ranking computed independently in
    parallel. The global variant (single reducer) stays registered only
    as a surface demo; any headline path uses this form.

    Because the window ordering carries a unique tie-break
    (c_acctbal, c_custkey), cume_dist == row_number/n and percent_rank
    == (row_number-1)/(n-1) exactly — so the 6-dp rounding is done as
    integer half-up division ((2e6*k + n) div (2n)) instead of
    F.round on a double: rounding a binary double that lands ON a
    decimal boundary (e.g. k/n = 0.0640625) differs between Spark
    (BigDecimal HALF_UP on the shortest decimal form) and DuckDB
    (libm rounding of the actual binary value) — a latent oracle-hash
    flake the sf0.1 parity sweep caught on 3 of 150k rows. Integer
    division is bit-identical in both engines by construction.
    """
    t = Tables(spark, sf_dir)
    w = Window.partitionBy("c_nationkey").orderBy("c_acctbal", "c_custkey")
    wp = Window.partitionBy("c_nationkey")
    base = t.customer.select(
        "c_custkey",
        "c_nationkey",
        F.ntile(4).over(w).cast("long").alias("bal_quartile"),
        F.row_number().over(w).cast("long").alias("k"),
        F.count(F.lit(1)).over(wp).cast("long").alias("n"),
    )
    return base.select(
        "c_custkey",
        "c_nationkey",
        "bal_quartile",
        F.when(
            F.col("n") > 1,
            F.expr("(2000000 * (k - 1) + (n - 1)) div (2 * (n - 1))") / F.lit(1e6),
        )
        .otherwise(F.lit(0.0))
        .alias("bal_pct_rank"),
        (F.expr("(2000000 * k + n) div (2 * n)") / F.lit(1e6)).alias("bal_cume_dist"),
    )
