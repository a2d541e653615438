"""Distribution fits, moments, survival and inequality.

Fits (Pareto, Weibull, negative binomial, Gumbel, gamma), moments and
shape (skewness and kurtosis, Bowley skew, trimmed and winsorized means,
Pythagorean means, variance-to-mean ratio, process capability),
survival (Kaplan–Meier, log-rank), inequality and concentration (Theil,
Atkinson, Hoover, Lorenz asymmetry, HHI), divergences between
distributions (Jensen–Shannon, total variation, Bhattacharyya–Hellinger)
and circular statistics (Rayleigh, weekday concentration).

The lineitem-priority join comes from ``operators/stats_samples.py``.
Gates: raw-frame oracle parity, plan bars and Python replicas in the
``tests/test_round*.py`` file named after the module each query was
first registered in.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from ..functions.exact import dec38, halfup_div, order_cents, sql_halfup_div
from ..registry import register
from ..tables import Tables
from .stats_samples import priority_lines


def _round_big_int_ratio(num, den, dp: int = 6):
    """Promoted to ``functions.exact.round_big_int_ratio`` (ADVICE r5);
    kept as a delegating alias for existing call sites."""
    from ..functions.exact import round_big_int_ratio

    return round_big_int_ratio(num, den, dp)


# ---------------------------------------------------------------------------
# Pareto concentration by nation (top-decile revenue share)
# ---------------------------------------------------------------------------


def _pareto_oracle() -> str:
    from ..functions.exact import sql_round_big_int_ratio

    share = sql_round_big_int_ratio("top_cents", "all_cents")
    return f"""
    WITH rev AS (
      SELECT c.c_nationkey, o.o_custkey,
             CAST(sum(CAST(floor(o.o_totalprice * 100.0 + 0.5) AS BIGINT)) AS BIGINT)
               AS cents
      FROM orders o JOIN customer c ON c.c_custkey = o.o_custkey
      GROUP BY 1, 2
    ), ranked AS (
      SELECT c_nationkey, cents,
             row_number() OVER (PARTITION BY c_nationkey
                                ORDER BY cents DESC, o_custkey) AS rn,
             CAST(count(*) OVER (PARTITION BY c_nationkey) AS BIGINT) AS n_cust
      FROM rev
    ), agg AS (
      SELECT c_nationkey,
             CAST(max(n_cust) AS BIGINT) AS n_customers,
             CAST(ceil(max(n_cust) / 10.0) AS BIGINT) AS n_top,
             CAST(sum(CASE WHEN rn <= ceil(n_cust / 10.0) THEN cents ELSE 0 END)
                  AS BIGINT) AS top_cents,
             CAST(sum(cents) AS BIGINT) AS all_cents
      FROM ranked GROUP BY 1
    )
    SELECT n.n_name AS nation, n_customers, n_top, top_cents, all_cents,
           {share} AS top_decile_share
    FROM agg JOIN nation n ON n.n_nationkey = agg.c_nationkey
    """


@register("stats_pareto_by_nation", oracle=_pareto_oracle())
def stats_pareto_by_nation(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Revenue-concentration (Pareto/80-20) audit per nation: what
    share of each nation's order revenue comes from its top decile of
    customers — the concentration metric behind account-tiering and
    whale-risk dashboards.

    Scale: the customer-revenue rollup is one (nation, customer)
    aggregate of exact cents; ranking and the decile cutoff are
    PARTITIONED windows (per nation — never a global sort), and the
    final frame is |nations| rows with an exact integer revenue ratio.
    """
    t = Tables(spark, sf_dir)
    cents = order_cents()
    rev = (
        t.orders.select("o_custkey", cents.alias("cents"))
        .join(F.broadcast(t.customer.select("c_custkey", "c_nationkey")),
              F.col("o_custkey") == F.col("c_custkey"))
        .groupBy("c_nationkey", "o_custkey")
        .agg(F.sum("cents").cast("long").alias("cents"))
    )
    w_rank = Window.partitionBy("c_nationkey").orderBy(
        F.col("cents").desc(), F.col("o_custkey")
    )
    w_all = Window.partitionBy("c_nationkey")
    ranked = rev.withColumn("rn", F.row_number().over(w_rank)).withColumn(
        "n_cust", F.count(F.lit(1)).over(w_all).cast("long")
    )
    agg = ranked.groupBy("c_nationkey").agg(
        F.max("n_cust").cast("long").alias("n_customers"),
        F.ceil(F.max("n_cust") / F.lit(10.0)).cast("long").alias("n_top"),
        F.sum(
            F.when(F.col("rn") <= F.ceil(F.col("n_cust") / F.lit(10.0)), F.col("cents"))
            .otherwise(0)
        )
        .cast("long")
        .alias("top_cents"),
        F.sum("cents").cast("long").alias("all_cents"),
    )
    return (
        agg.join(
            F.broadcast(t.nation.select("n_nationkey", "n_name")),
            F.col("c_nationkey") == F.col("n_nationkey"),
        )
        .select(
            F.col("n_name").alias("nation"),
            "n_customers",
            "n_top",
            "top_cents",
            "all_cents",
            _round_big_int_ratio(F.col("top_cents"), F.col("all_cents")).alias(
                "top_decile_share"
            ),
        )
    )


# ---------------------------------------------------------------------------
# Herfindahl-Hirschman supplier concentration by nation
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
# Variance-to-mean overdispersion of daily event counts
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
# Jensen-Shannon divergence of priority mix per nation
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
# Kaplan-Meier log-survival of shipment transit time
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
# Trimmed / winsorized means per nation (robust location)
# ---------------------------------------------------------------------------


def _trimmed_oracle() -> str:
    from ..functions.exact import sql_round_big_int_ratio

    return f"""
    WITH c AS (
      SELECT n.n_name, o.o_orderkey,
             CAST(floor(o.o_totalprice * 100.0 + 0.5) AS BIGINT) AS cents
      FROM orders o
      JOIN customer cu ON cu.c_custkey = o.o_custkey
      JOIN nation n ON n.n_nationkey = cu.c_nationkey
      WHERE o.o_totalprice IS NOT NULL
    ), r AS (
      SELECT n_name, cents,
             row_number() OVER (PARTITION BY n_name
                                ORDER BY cents, o_orderkey) AS rn,
             count(*) OVER (PARTITION BY n_name) AS cnt
      FROM c
    ), a AS (
      SELECT n_name,
             CAST(max(cnt) AS BIGINT) AS n,
             CAST(max(cnt) // 10 AS BIGINT) AS k_trim,
             sum(cents::HUGEINT) AS sum_all,
             sum(CASE WHEN rn > cnt // 10 AND rn <= cnt - cnt // 10
                      THEN cents::HUGEINT ELSE 0 END) AS sum_trim,
             max(CASE WHEN rn = cnt // 10 + 1 THEN cents END) AS lo,
             max(CASE WHEN rn = cnt - cnt // 10 THEN cents END) AS hi
      FROM r GROUP BY n_name)
    SELECT n_name, n, k_trim,
           {sql_round_big_int_ratio('sum_all', '100 * n', 4)} AS mean_price,
           {sql_round_big_int_ratio('sum_trim', '100 * (n - 2 * k_trim)', 4)}
             AS trimmed_mean,
           {sql_round_big_int_ratio(
               'sum_trim + k_trim::HUGEINT * lo + k_trim::HUGEINT * hi',
               '100 * n', 4)} AS winsorized_mean
    FROM a
    """


@register("stats_trimmed_winsorized_price", oracle=_trimmed_oracle())
def stats_trimmed_winsorized_price(spark: SparkSession, sf_dir: str) -> DataFrame:
    """10% trimmed and winsorized mean order value per nation — the
    robust-location estimators an outlier-ridden revenue series needs
    (trimming drops each tail's floor(n/10) rows; winsorizing clamps
    them to the surviving extremes).

    One partitioned rank window (cents, orderkey — a total order, so
    the trim cut is deterministic), then a per-nation aggregate whose
    winsorized sum needs NO second pass: clamped tails contribute
    k * boundary-value, and the boundary values are single-row
    conditional aggregates off the same ranked rows. Exact cents in
    decimal(38,0) end-to-end; means leave as exact half-up ratios.
    Scale: windows partition by nation (never global), and the two
    dimension joins broadcast.
    """
    from ..functions.exact import round_big_int_ratio

    t = Tables(spark, sf_dir)
    cents = order_cents()
    c = (
        t.orders.where(F.col("o_totalprice").isNotNull())
        .join(
            F.broadcast(t.customer.select("c_custkey", "c_nationkey")),
            F.col("o_custkey") == F.col("c_custkey"),
        )
        .join(
            F.broadcast(t.nation.select("n_nationkey", "n_name")),
            F.col("c_nationkey") == F.col("n_nationkey"),
        )
        .select("n_name", "o_orderkey", cents.alias("cents"))
    )
    wp = Window.partitionBy("n_name")
    wo = wp.orderBy("cents", "o_orderkey")
    r = c.select(
        "n_name",
        "cents",
        F.row_number().over(wo).alias("rn"),
        F.count(F.lit(1)).over(wp).alias("cnt"),
    )
    k = ((F.col("cnt") - F.col("cnt") % 10) / 10).cast("long")
    zero = F.lit(0).cast("decimal(38,0)")
    a = r.withColumn("k", k).groupBy("n_name").agg(
        F.max("cnt").cast("long").alias("n"),
        F.max("k").cast("long").alias("k_trim"),
        F.sum(dec38(F.col("cents"))).alias("sum_all"),
        F.sum(
            F.when(
                (F.col("rn") > F.col("k")) & (F.col("rn") <= F.col("cnt") - F.col("k")),
                dec38(F.col("cents")),
            ).otherwise(zero)
        ).alias("sum_trim"),
        F.max(F.when(F.col("rn") == F.col("k") + 1, F.col("cents"))).alias("lo"),
        F.max(F.when(F.col("rn") == F.col("cnt") - F.col("k"), F.col("cents"))).alias(
            "hi"
        ),
    )
    return a.select(
        "n_name",
        "n",
        "k_trim",
        round_big_int_ratio(F.col("sum_all"), F.lit(100) * F.col("n"), 4).alias(
            "mean_price"
        ),
        round_big_int_ratio(
            F.col("sum_trim"), F.lit(100) * (F.col("n") - F.lit(2) * F.col("k_trim")), 4
        ).alias("trimmed_mean"),
        round_big_int_ratio(
            F.col("sum_trim")
            + dec38(F.col("k_trim")) * F.col("lo")
            + dec38(F.col("k_trim")) * F.col("hi"),
            F.lit(100) * F.col("n"),
            4,
        ).alias("winsorized_mean"),
    )


# ---------------------------------------------------------------------------
# Weibull fit of shipment latency (median-rank regression, det-ln)
# ---------------------------------------------------------------------------


def _weibull_oracle() -> str:
    from ..functions.detmath import sql_det_ln_steps

    return f"""
    WITH lat AS (
      SELECT CAST(date_diff('day', o.o_orderdate, l.l_shipdate) AS BIGINT) AS v
      FROM lineitem l JOIN orders o ON o.o_orderkey = l.l_orderkey
      WHERE date_diff('day', o.o_orderdate, l.l_shipdate) >= 1
    ), dv AS (
      SELECT v, CAST(count(*) AS BIGINT) AS cnt FROM lat GROUP BY v
    ), nt AS (
      SELECT CAST(sum(cnt) AS BIGINT) AS n FROM dv
    ), cm AS (
      SELECT d.v, d.cnt, nt.n,
             CAST(sum(d2.cnt) AS BIGINT) AS cum,
             CAST(nt.n AS DOUBLE) + 0.4::DOUBLE AS na
      FROM dv d JOIN dv d2 ON d2.v <= d.v CROSS JOIN nt
      GROUP BY d.v, d.cnt, nt.n
    ), cw AS (
      SELECT v, cnt, n, cum, na,
             CAST(n AS DOUBLE) + 0.7::DOUBLE - cum AS nb
      FROM cm
    ), {sql_det_ln_steps('cw', 'v', 'ln_v', 9)},
    {sql_det_ln_steps('ln_v_rel', 'na', 'la', as_double=True)},
    {sql_det_ln_steps('la_rel', 'nb', 'lb', as_double=True)},
    ww AS (
      SELECT v, cnt, n, cum, ln_v, la - lb AS w FROM lb_rel
    ), {sql_det_ln_steps('ww', 'w', 'y_n', 9)},
    sums AS (
      SELECT CAST(max(n) AS BIGINT) AS n,
             CAST(count(*) AS BIGINT) AS n_pts,
             CAST(sum(ln_v::HUGEINT) AS HUGEINT) AS sx,
             CAST(sum(y_n::HUGEINT) AS HUGEINT) AS sy,
             CAST(sum(ln_v::HUGEINT * y_n) AS HUGEINT) AS sxy,
             CAST(sum(ln_v::HUGEINT * ln_v) AS HUGEINT) AS sxx
      FROM y_n_rel
    ), fit AS (
      SELECT n, n_pts,
             CAST(n_pts::HUGEINT * sxy - sx * sy AS DOUBLE)
               / CAST(n_pts::HUGEINT * sxx - sx * sx AS DOUBLE) AS shape
      FROM sums
    )
    SELECT f.n, f.n_pts,
           CAST(floor(f.shape * 1000000.0 + 0.5) AS BIGINT) / 1000000.0
             AS shape,
           CAST(floor(-(((CAST(s.sy AS DOUBLE) - f.shape * CAST(s.sx AS DOUBLE))
                         / f.n_pts) / f.shape) / 1000000000.0
                      * 1000000.0 + 0.5) AS BIGINT) / 1000000.0 AS ln_scale
    FROM fit f, sums s
    """


@register("stats_weibull_latency_fit", oracle=_weibull_oracle())
def stats_weibull_latency_fit(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Weibull (shape, ln-scale) fit of order-to-ship latency by
    median-rank regression — the reliability-engineering read of the
    logistics pipeline (`shape > 1` = wear-in delays dominate, ~1 =
    memoryless): regress ln(-ln(1-F_hat)) on ln(days) where F_hat is
    the grouped median-rank estimate (cum - 0.3)/(n + 0.4), and report
    the slope (shape k) and -intercept/k (= ln of the scale parameter;
    reported in ln-domain so no exp() ever runs — the r5 discipline).

    Latency is an integer-day domain (~120 distinct), so every
    regression point lives on the post-aggregation distinct table:
    x = det-ln(v), y = det-ln(ln(n+0.4) - ln(n+0.7-cum)) with all four
    ln evaluations the deterministic fixed-point det-ln — x and y
    quantize to exact nano-nat integers, the OLS sufficient statistics
    are exact integer sums (order-independent), and only the final
    slope/intercept are floating point through an oracle-mirrored
    chain. Cumulatives run via a <=|domain|^2 self-join of the distinct
    table, never a row-scaled window; the only row-scaled work is the
    fact-fact equi-join and one partial-aggregated groupBy.
    """
    from ..functions.detmath import det_ln_dbl, det_ln_q

    t = Tables(spark, sf_dir)
    lat = (
        t.lineitem.select("l_orderkey", "l_shipdate")
        .join(t.orders.select("o_orderkey", "o_orderdate"),
              F.col("o_orderkey") == F.col("l_orderkey"))
        .select(F.datediff(F.col("l_shipdate"), F.col("o_orderdate")).cast("long").alias("v"))
        .filter(F.col("v") >= 1)
    )
    dv = lat.groupBy("v").agg(F.count(F.lit(1)).alias("cnt"))
    nt = dv.agg(F.sum("cnt").alias("n"))
    d2 = dv.select(F.col("v").alias("v2"), F.col("cnt").alias("cnt2"))
    cm = (
        dv.join(F.broadcast(d2), F.col("v2") <= F.col("v"))
        .join(F.broadcast(nt))
        .groupBy("v", "cnt", "n")
        .agg(F.sum("cnt2").alias("cum"))
        .withColumn("na", F.col("n").cast("double") + F.lit(0.4))
        .withColumn("nb", F.col("n").cast("double") + F.lit(0.7) - F.col("cum"))
    )
    ww = cm.select(
        "v",
        "cnt",
        "n",
        "cum",
        det_ln_q(F.col("v"), 9).alias("ln_v"),
        (det_ln_dbl(F.col("na")) - det_ln_dbl(F.col("nb"))).alias("w"),
    )
    pts = ww.select("n", "ln_v", det_ln_q(F.col("w"), 9).alias("y_n"))
    sums = pts.agg(
        F.max("n").alias("n"),
        F.count(F.lit(1)).alias("n_pts"),
        F.sum(dec38(F.col("ln_v"))).alias("sx"),
        F.sum(dec38(F.col("y_n"))).alias("sy"),
        F.sum(dec38(F.col("ln_v")) * F.col("y_n")).alias("sxy"),
        F.sum(dec38(F.col("ln_v")) * F.col("ln_v")).alias("sxx"),
    )
    np_dec = dec38(F.col("n_pts"))
    shape = (np_dec * F.col("sxy") - F.col("sx") * F.col("sy")).cast("double") / (
        np_dec * F.col("sxx") - F.col("sx") * F.col("sx")
    ).cast("double")
    out = sums.withColumn("shape_d", shape)
    intercept = (
        F.col("sy").cast("double") - F.col("shape_d") * F.col("sx").cast("double")
    ) / F.col("n_pts")
    return out.select(
        "n",
        "n_pts",
        (F.floor(F.col("shape_d") * F.lit(1e6) + F.lit(0.5)).cast("long") / F.lit(1e6)).alias(
            "shape"
        ),
        (
            F.floor(
                -((intercept / F.col("shape_d")) / F.lit(1e9)) * F.lit(1e6) + F.lit(0.5)
            ).cast("long")
            / F.lit(1e6)
        ).alias("ln_scale"),
    )


# ---------------------------------------------------------------------------
# Negative-binomial fit of hourly event counts (method of moments)
# ---------------------------------------------------------------------------


def _negbin_oracle() -> str:
    return """
    WITH cells AS (
      SELECT event_type, CAST(ts AS DATE) AS d, extract(hour FROM ts) AS h,
             CAST(count(*) AS BIGINT) AS n_dh
      FROM events GROUP BY 1, 2, 3
    ), m AS (
      SELECT event_type,
             CAST(count(*) AS BIGINT) AS c,
             CAST(sum(n_dh) AS BIGINT) AS t1,
             CAST(sum(n_dh::HUGEINT * n_dh) AS HUGEINT) AS t2
      FROM cells GROUP BY event_type
    ), mv AS (
      SELECT event_type, c, t1,
             CAST(t1 AS DOUBLE) / c AS mean_c,
             (CAST(t2 AS DOUBLE) - CAST(t1 AS DOUBLE) * t1 / c) / (c - 1)
               AS var_c
      FROM m WHERE c >= 2
    )
    SELECT event_type, c AS n_cells,
           CAST(floor(mean_c * 1000000.0 + 0.5) AS BIGINT) / 1000000.0
             AS mean_per_cell,
           CAST(floor(var_c * 1000000.0 + 0.5) AS BIGINT) / 1000000.0
             AS var_per_cell,
           CASE WHEN var_c > mean_c THEN
             CAST(floor(mean_c * mean_c / (var_c - mean_c) * 1000000.0 + 0.5)
                  AS BIGINT) / 1000000.0
           END AS r_hat,
           CASE WHEN var_c > mean_c THEN
             CAST(floor(mean_c / var_c * 1000000.0 + 0.5) AS BIGINT) / 1000000.0
           END AS p_hat
    FROM mv
    """


@register("stats_negbin_hourly_fit", oracle=_negbin_oracle())
def stats_negbin_hourly_fit(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Negative-binomial method-of-moments fit (r, p) of per-(date,
    hour) event counts per type — the parametric step past
    ``stats_overdispersion_vmr``: once VMR > 1 says "not Poisson",
    NB(r, p) with r = m^2/(v - m), p = m/v is the standard arrival
    model a capacity planner actually simulates from; r_hat/p_hat are
    NULL when the feed is NOT overdispersed (v <= m) and the fit is
    undefined — a meaningful output, not an error.

    All moments come from one partial-aggregated cell scan as exact
    integers (count, sum, sum-of-squares); mean/variance/r/p evaluate
    in double through an oracle-mirrored chain, each quantized half-up
    to 6dp. Bounded |types| output; observed cells only (structural
    zeros documented as in events_seasonal_strength).
    """
    t = Tables(spark, sf_dir)
    cells = (
        t.events.select(
            "event_type", F.to_date("ts").alias("d"), F.hour("ts").alias("h")
        )
        .groupBy("event_type", "d", "h")
        .agg(F.count(F.lit(1)).alias("n_dh"))
    )
    m = cells.groupBy("event_type").agg(
        F.count(F.lit(1)).alias("c"),
        F.sum("n_dh").alias("t1"),
        F.sum(dec38(F.col("n_dh")) * F.col("n_dh")).alias("t2"),
    ).filter(F.col("c") >= 2)
    mean_c = F.col("t1").cast("double") / F.col("c")
    var_c = (
        F.col("t2").cast("double") - F.col("t1").cast("double") * F.col("t1") / F.col("c")
    ) / (F.col("c") - 1)
    mv = m.select("event_type", "c", mean_c.alias("mean_c"), var_c.alias("var_c"))

    def q6(c):
        return F.floor(c * F.lit(1e6) + F.lit(0.5)).cast("long") / F.lit(1e6)

    over = F.col("var_c") > F.col("mean_c")
    return mv.select(
        "event_type",
        F.col("c").alias("n_cells"),
        q6(F.col("mean_c")).alias("mean_per_cell"),
        q6(F.col("var_c")).alias("var_per_cell"),
        F.when(over, q6(F.col("mean_c") * F.col("mean_c") / (F.col("var_c") - F.col("mean_c")))).alias(
            "r_hat"
        ),
        F.when(over, q6(F.col("mean_c") / F.col("var_c"))).alias("p_hat"),
    )


# ---------------------------------------------------------------------------
# Theil T inequality index of customer balances per nation (det-ln)
# ---------------------------------------------------------------------------


def _theil_oracle() -> str:
    from ..functions.detmath import sql_det_ln_steps
    from ..functions.exact import sql_round_big_int_ratio

    return f"""
    WITH c AS (
      SELECT c_nationkey,
             CAST(floor(c_acctbal * 100.0 + 0.5) AS BIGINT) AS cents
      FROM customer WHERE c_acctbal > 0
    ), cv AS (
      SELECT c_nationkey, cents, CAST(count(*) AS BIGINT) AS cnt
      FROM c GROUP BY 1, 2
    ), dv AS (
      SELECT cents, CAST(sum(cnt) AS BIGINT) AS cnt_all FROM cv GROUP BY cents
    ), {sql_det_ln_steps('dv', 'cents', 'ln_x', 9)},
    pn AS (
      SELECT cv.c_nationkey,
             CAST(sum(cv.cnt) AS BIGINT) AS n_cust,
             CAST(sum(cv.cnt::HUGEINT * cv.cents) AS HUGEINT) AS s,
             CAST(sum(cv.cnt::HUGEINT * cv.cents * lx.ln_x) AS HUGEINT) AS xlnx
      FROM cv JOIN ln_x_rel lx USING (cents)
      GROUP BY cv.c_nationkey
    ), {sql_det_ln_steps('pn', 's', 'ln_s', 9)},
    {sql_det_ln_steps('ln_s_rel', 'n_cust', 'ln_n', 9)}
    SELECT nn.n_name, p.n_cust,
           {sql_round_big_int_ratio(
               'p.xlnx - p.s * p.ln_s + p.s * p.ln_n',
               'p.s * 1000000000::HUGEINT', 6)} AS theil_t
    FROM ln_n_rel p JOIN nation nn ON p.c_nationkey = nn.n_nationkey
    """


@register("stats_theil_index_nation", oracle=_theil_oracle())
def stats_theil_index_nation(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Theil T inequality index of positive customer balances per
    nation — the decomposable entropy-based inequality measure that
    complements ``stats_gini_by_nation`` (Gini weights transfers near
    the mode; Theil weights the top tail, and unlike Gini it sums
    across subgroups).

    Identity used: T = (sum x ln x)/S - ln S + ln N, so the only
    per-value ln runs ONCE per distinct cents value (a bounded domain:
    balances live in a fixed [0.01, 9999.99] range, so the distinct
    table is <= ~1e6 rows at ANY corpus size) with det-ln dp=9;
    ln S / ln N evaluate on the 25-row per-nation aggregate. The
    numerator combines exact decimal integers, and the final index is
    one exact half-up ratio — no float accumulation anywhere.
    Balances <= 0 are excluded (ln undefined), documented semantics.
    """
    from ..functions.detmath import det_ln_q
    from ..functions.exact import round_big_int_ratio

    t = Tables(spark, sf_dir)
    c = t.customer.filter(F.col("c_acctbal") > 0).select(
        "c_nationkey",
        F.floor(F.col("c_acctbal") * F.lit(100.0) + F.lit(0.5)).cast("long").alias("cents"),
    )
    cv = c.groupBy("c_nationkey", "cents").agg(F.count(F.lit(1)).alias("cnt"))
    dv = cv.groupBy("cents").agg(F.sum("cnt").alias("cnt_all"))
    lnx = dv.select("cents", det_ln_q(F.col("cents"), 9).alias("ln_x"))
    pn = (
        cv.join(lnx, "cents")
        .groupBy("c_nationkey")
        .agg(
            F.sum("cnt").alias("n_cust"),
            F.sum(dec38(F.col("cnt")) * F.col("cents")).alias("s"),
            F.sum(dec38(F.col("cnt")) * F.col("cents") * F.col("ln_x")).alias("xlnx"),
        )
    )
    pn = pn.withColumn("ln_s", det_ln_q(F.col("s"), 9)).withColumn(
        "ln_n", det_ln_q(F.col("n_cust"), 9)
    )
    num = F.col("xlnx") - F.col("s") * F.col("ln_s") + F.col("s") * F.col("ln_n")
    out = pn.join(
        F.broadcast(t.nation.select("n_nationkey", "n_name")),
        F.col("c_nationkey") == F.col("n_nationkey"),
    )
    return out.select(
        "n_name",
        "n_cust",
        round_big_int_ratio(num, F.col("s") * F.lit(1_000_000_000), 6).alias("theil_t"),
    )


# ---------------------------------------------------------------------------
# Bowley quartile skewness per order priority
# ---------------------------------------------------------------------------


def _bowley_oracle() -> str:
    from ..functions.exact import sql_round_int_ratio

    return f"""
    WITH c AS (
      SELECT o_orderpriority AS g,
             CAST(floor(o_totalprice * 100.0 + 0.5) AS BIGINT) AS cents
      FROM orders WHERE o_totalprice IS NOT NULL
    ), dv AS (
      SELECT g, cents, CAST(count(*) AS BIGINT) AS cnt FROM c GROUP BY 1, 2
    ), r AS (
      SELECT g, cents,
             sum(cnt) OVER (PARTITION BY g ORDER BY cents) AS cum,
             sum(cnt) OVER (PARTITION BY g) AS n
      FROM dv
    ), q AS (
      SELECT g,
             CAST(max(n) AS BIGINT) AS n,
             min(CASE WHEN cum >= (n + 3) // 4 THEN cents END) AS q1,
             min(CASE WHEN cum >= (n + 1) // 2 THEN cents END) AS q2,
             min(CASE WHEN cum >= (3 * n + 3) // 4 THEN cents END) AS q3
      FROM r GROUP BY g
    )
    SELECT g AS priority, n,
           CAST(q2 AS DOUBLE) / 100.0 AS median_price,
           {sql_round_int_ratio('q1 + q3 - 2 * q2', 'q3 - q1')} AS bowley_skew
    FROM q WHERE q3 > q1
    """


@register("stats_bowley_skew_priority", oracle=_bowley_oracle())
def stats_bowley_skew_priority(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Bowley (quartile) skewness of order values per priority:
    (Q1 + Q3 - 2*Q2)/(Q3 - Q1) on exact nearest-rank quartiles — the
    outlier-immune skewness to pair with the moment version
    (``stats_moments_skew_kurtosis``): a disagreement between the two
    is itself a tail-anomaly signal.

    Quartiles resolve on the per-priority DISTINCT cents domain
    (range-bounded at any corpus size) via an inclusive cumulative,
    so no row-scaled rank window exists; the statistic is an exact
    half-up integer ratio of integer cents — no floating point at all
    except the display median.
    """
    from ..functions.exact import round_int_ratio

    t = Tables(spark, sf_dir)
    c = t.orders.filter(F.col("o_totalprice").isNotNull()).select(
        F.col("o_orderpriority").alias("g"),
        order_cents().alias("cents"),
    )
    dv = c.groupBy("g", "cents").agg(F.count(F.lit(1)).alias("cnt"))
    wg = Window.partitionBy("g")
    r = dv.select(
        "g",
        "cents",
        F.sum("cnt").over(wg.orderBy("cents").rowsBetween(Window.unboundedPreceding, 0)).alias("cum"),
        F.sum("cnt").over(wg).alias("n"),
    )
    qrank1 = (F.col("n") + 3) - (F.col("n") + 3) % 4
    q = r.groupBy("g").agg(
        F.max("n").alias("n"),
        F.min(F.when(F.col("cum") >= (qrank1 / 4).cast("long"), F.col("cents"))).alias("q1"),
        F.min(
            F.when(
                F.col("cum") >= (((F.col("n") + 1) - (F.col("n") + 1) % 2) / 2).cast("long"),
                F.col("cents"),
            )
        ).alias("q2"),
        F.min(
            F.when(
                F.col("cum")
                >= (((3 * F.col("n") + 3) - (3 * F.col("n") + 3) % 4) / 4).cast("long"),
                F.col("cents"),
            )
        ).alias("q3"),
    )
    return q.filter(F.col("q3") > F.col("q1")).select(
        F.col("g").alias("priority"),
        "n",
        (F.col("q2").cast("double") / F.lit(100.0)).alias("median_price"),
        round_int_ratio(
            F.col("q1") + F.col("q3") - 2 * F.col("q2"), F.col("q3") - F.col("q1")
        ).alias("bowley_skew"),
    )


# ---------------------------------------------------------------------------
# Moment skewness / excess kurtosis per order priority
# ---------------------------------------------------------------------------


def _moments_oracle() -> str:
    return """
    WITH c AS (
      SELECT o_orderpriority AS g,
             CAST(floor(o_totalprice) AS BIGINT) AS x
      FROM orders WHERE o_totalprice IS NOT NULL
    ), s AS (
      SELECT g,
             CAST(count(*) AS BIGINT) AS n,
             CAST(sum(x::HUGEINT) AS HUGEINT) AS s1,
             CAST(sum(x::HUGEINT * x) AS HUGEINT) AS s2,
             CAST(sum(x::HUGEINT * x * x) AS HUGEINT) AS s3,
             CAST(sum(x::HUGEINT * x * x * x) AS HUGEINT) AS s4
      FROM c GROUP BY g
    ), m AS (
      SELECT g, n,
             CAST(s1 AS DOUBLE) / n AS mu,
             CAST(s2 AS DOUBLE) / n AS m2r,
             CAST(s3 AS DOUBLE) / n AS m3r,
             CAST(s4 AS DOUBLE) / n AS m4r
      FROM s WHERE n >= 4
    ), cm AS (
      SELECT g, n, mu,
             m2r - mu * mu AS v,
             m3r - 3.0 * mu * m2r + 2.0 * (mu * mu) * mu AS m3,
             m4r - 4.0 * mu * m3r + 6.0 * (mu * mu) * m2r
                 - 3.0 * ((mu * mu) * (mu * mu)) AS m4
      FROM m
    )
    SELECT g AS priority, n,
           CAST(floor(m3 / (sqrt(v) * v) * 1000000.0 + 0.5) AS BIGINT)
             / 1000000.0 AS skewness,
           CAST(floor((m4 / (v * v) - 3.0) * 1000000.0 + 0.5) AS BIGINT)
             / 1000000.0 AS ex_kurtosis
    FROM cm WHERE v > 0.0
    """


@register("stats_moments_skew_kurtosis", oracle=_moments_oracle())
def stats_moments_skew_kurtosis(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Moment skewness g1 = m3/sd^3 and excess kurtosis g2 = m4/v^2-3
    of order values per priority — the classical shape moments that
    complete the distribution-profile family (mean/var exist, robust
    quartile shape exists; these are the tail-sensitive versions whose
    disagreement with ``stats_bowley_skew_priority`` flags heavy
    tails).

    Raw power sums S1..S4 are exact decimal integers over
    dollar-quantized values (4th power of a 6-digit value times 1e12
    rows stays far inside decimal(38)); central moments evaluate in
    double via the standard raw-to-central identities through an
    oracle-mirrored chain (no per-row float, one partial-aggregated
    scan), quantized half-up 6dp.
    """
    t = Tables(spark, sf_dir)
    c = t.orders.filter(F.col("o_totalprice").isNotNull()).select(
        F.col("o_orderpriority").alias("g"),
        F.floor(F.col("o_totalprice")).cast("long").alias("x"),
    )
    xd = dec38(F.col("x"))
    s = c.groupBy("g").agg(
        F.count(F.lit(1)).alias("n"),
        F.sum(xd).alias("s1"),
        F.sum(xd * F.col("x")).alias("s2"),
        F.sum(xd * F.col("x") * F.col("x")).alias("s3"),
        F.sum(xd * F.col("x") * F.col("x") * F.col("x")).alias("s4"),
    ).filter(F.col("n") >= 4)
    mu = F.col("s1").cast("double") / F.col("n")
    m2r = F.col("s2").cast("double") / F.col("n")
    m3r = F.col("s3").cast("double") / F.col("n")
    m4r = F.col("s4").cast("double") / F.col("n")
    m = s.select("g", "n", mu.alias("mu"), m2r.alias("m2r"), m3r.alias("m3r"), m4r.alias("m4r"))
    v = F.col("m2r") - F.col("mu") * F.col("mu")
    m3 = (
        F.col("m3r")
        - F.lit(3.0) * F.col("mu") * F.col("m2r")
        + F.lit(2.0) * (F.col("mu") * F.col("mu")) * F.col("mu")
    )
    m4 = (
        F.col("m4r")
        - F.lit(4.0) * F.col("mu") * F.col("m3r")
        + F.lit(6.0) * (F.col("mu") * F.col("mu")) * F.col("m2r")
        - F.lit(3.0) * ((F.col("mu") * F.col("mu")) * (F.col("mu") * F.col("mu")))
    )
    cm = m.select("g", "n", v.alias("v"), m3.alias("m3"), m4.alias("m4"))
    return cm.filter(F.col("v") > 0.0).select(
        F.col("g").alias("priority"),
        "n",
        (
            F.floor(F.col("m3") / (F.sqrt(F.col("v")) * F.col("v")) * F.lit(1e6) + F.lit(0.5))
            .cast("long")
            / F.lit(1e6)
        ).alias("skewness"),
        (
            F.floor((F.col("m4") / (F.col("v") * F.col("v")) - F.lit(3.0)) * F.lit(1e6) + F.lit(0.5))
            .cast("long")
            / F.lit(1e6)
        ).alias("ex_kurtosis"),
    )


# ---------------------------------------------------------------------------
# Pythagorean means of quantity per return flag (AM / GM-log / HM)
# ---------------------------------------------------------------------------

HM_RECIP_SCALE = 10**12


def _means_oracle() -> str:
    from ..functions.detmath import sql_det_ln_steps
    from ..functions.exact import sql_round_big_int_ratio, sql_round_int_ratio

    return f"""
    WITH dv AS (
      SELECT l_returnflag AS g, CAST(l_quantity AS BIGINT) AS v,
             CAST(count(*) AS BIGINT) AS c
      FROM lineitem WHERE l_quantity IS NOT NULL AND l_quantity > 0
      GROUP BY 1, 2
    ), {sql_det_ln_steps('dv', 'v', 'lnv', 9)},
    terms AS (
      SELECT g, v, c, lnv,
             ({2 * HM_RECIP_SCALE}::BIGINT + v) // (2 * v) AS recip_u
      FROM lnv_rel
    ), s AS (
      SELECT g,
             CAST(sum(c) AS BIGINT) AS n,
             CAST(sum(c * v) AS BIGINT) AS sum_v,
             CAST(sum(c::HUGEINT * lnv) AS HUGEINT) AS sum_lnq,
             CAST(sum(c::HUGEINT * recip_u) AS HUGEINT) AS sum_recip
      FROM terms GROUP BY g
    )
    SELECT g AS return_flag, n,
           {sql_round_int_ratio('sum_v', 'n')} AS arith_mean,
           {sql_round_big_int_ratio('sum_lnq', 'n::HUGEINT * 1000000000', 9)}
             AS ln_geom_mean,
           {sql_round_big_int_ratio(f'n::HUGEINT * {HM_RECIP_SCALE}', 'sum_recip')}
             AS harmonic_mean
    FROM s
    """


@register("stats_pythagorean_means_quantity", oracle=_means_oracle())
def stats_pythagorean_means_quantity(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The three Pythagorean means of line quantity per return flag:
    arithmetic mean, geometric mean (reported as its log, the form in
    which it is a SUM and therefore exact — readers exponentiate
    off-line, mirroring ``stats_km_log_survival``), and harmonic mean
    (the right average for rates). AM >= GM >= HM is a built-in
    cross-check the replica test asserts.

    Quantity collapses to its <= 50 distinct positive values, so
    det-ln and the exact half-up reciprocal (1e12 micro-units) are
    evaluated once per VALUE, weighted by counts — integer sums, then
    one exact decimal ratio per mean. One scan, one bounded
    aggregation; nothing scales with rows but the count.
    """
    from ..functions.detmath import det_ln_q
    from ..functions.exact import round_big_int_ratio, round_int_ratio

    t = Tables(spark, sf_dir)
    dv = (
        t.lineitem.filter(F.col("l_quantity").isNotNull() & (F.col("l_quantity") > 0))
        .groupBy(
            F.col("l_returnflag").alias("g"),
            F.col("l_quantity").cast("long").alias("v"),
        )
        .agg(F.count(F.lit(1)).alias("c"))
    )
    two_rs = F.lit(2 * HM_RECIP_SCALE).cast("long")
    terms = dv.select(
        "g",
        "v",
        "c",
        det_ln_q(F.col("v"), 9).alias("lnv"),
        (
            ((two_rs + F.col("v")) - (two_rs + F.col("v")) % (2 * F.col("v")))
            / (2 * F.col("v"))
        )
        .cast("long")
        .alias("recip_u"),
    )
    s = terms.groupBy("g").agg(
        F.sum("c").alias("n"),
        F.sum(F.col("c") * F.col("v")).alias("sum_v"),
        F.sum(dec38(F.col("c")) * F.col("lnv")).alias("sum_lnq"),
        F.sum(dec38(F.col("c")) * F.col("recip_u")).alias("sum_recip"),
    )
    return s.select(
        F.col("g").alias("return_flag"),
        "n",
        round_int_ratio(F.col("sum_v"), F.col("n")).alias("arith_mean"),
        round_big_int_ratio(
            F.col("sum_lnq"), dec38(F.col("n")) * F.lit(10**9), 9
        ).alias("ln_geom_mean"),
        round_big_int_ratio(
            dec38(F.col("n")) * F.lit(HM_RECIP_SCALE), F.col("sum_recip")
        ).alias("harmonic_mean"),
    )


# ---------------------------------------------------------------------------
# Log-rank test: ship-latency survival, returned vs accepted lines
# ---------------------------------------------------------------------------

LOGRANK_G1 = "A"


LOGRANK_G2 = "R"


def _logrank_oracle() -> str:
    return f"""
    WITH obs AS (
      SELECT l.l_returnflag AS flag,
             CAST(datediff('day', o.o_orderdate, l.l_shipdate) AS BIGINT) AS dur,
             CASE WHEN l.l_linestatus = 'F' THEN 1 ELSE 0 END AS ev
      FROM lineitem l JOIN orders o ON o.o_orderkey = l.l_orderkey
      WHERE l.l_returnflag IN ('{LOGRANK_G1}', '{LOGRANK_G2}')
    ), pts AS (
      SELECT flag, dur, CAST(sum(ev) AS BIGINT) AS d,
             CAST(count(*) AS BIGINT) AS m
      FROM obs GROUP BY 1, 2
    ), durs AS (SELECT DISTINCT dur FROM pts),
    grid AS (
      SELECT g.dur, f.flag, coalesce(p.d, 0) AS d, coalesce(p.m, 0) AS m
      FROM durs g CROSS JOIN (SELECT DISTINCT flag FROM pts) f
      LEFT JOIN pts p ON p.dur = g.dur AND p.flag = f.flag
    ), risk AS (
      SELECT dur, flag, d,
             sum(m) OVER (PARTITION BY flag ORDER BY dur DESC) AS at_risk
      FROM grid
    ), ev AS (
      SELECT dur,
             CAST(sum(d) AS BIGINT) AS d_tot,
             CAST(sum(CASE WHEN flag = '{LOGRANK_G1}' THEN d ELSE 0 END)
               AS BIGINT) AS d1,
             CAST(sum(at_risk) AS BIGINT) AS n,
             CAST(sum(CASE WHEN flag = '{LOGRANK_G1}' THEN at_risk ELSE 0 END)
               AS BIGINT) AS n1
      FROM risk GROUP BY dur
    ), terms AS (
      SELECT dur, d_tot, d1, n, n1,
             (2 * (d_tot::HUGEINT * n1 * 1000000000) + n)
               // (2::HUGEINT * n) AS e_u,
             (2 * (d_tot::HUGEINT * n1 * (n - n1) * (n - d_tot) * 1000000000)
               + n::HUGEINT * n * (n - 1))
               // (2::HUGEINT * n * n * (n - 1)) AS v_u
      FROM ev WHERE d_tot > 0 AND n > d_tot AND n > 1
    ), s AS (
      SELECT CAST(count(*) AS BIGINT) AS n_event_times,
             CAST(sum(d1) AS BIGINT) AS o1,
             CAST(sum(e_u) AS BIGINT) AS sum_e_u,
             CAST(sum(v_u) AS BIGINT) AS sum_v_u
      FROM terms
    )
    SELECT n_event_times, o1,
           CAST(sum_e_u AS DOUBLE) / 1000000000.0 AS e1,
           CAST(sum_v_u AS DOUBLE) / 1000000000.0 AS v,
           CAST(floor(
             (CAST(o1 AS DOUBLE) - CAST(sum_e_u AS DOUBLE) / 1000000000.0)
             / sqrt(CAST(sum_v_u AS DOUBLE) / 1000000000.0)
             * 1000000.0 + 0.5) AS BIGINT) / 1000000.0 AS z_stat
    FROM s WHERE sum_v_u > 0
    """


@register("stats_logrank_segments", oracle=_logrank_oracle())
def stats_logrank_segments(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Log-rank (Mantel-Cox) test comparing the order-to-ship survival
    curves of accepted ('A') vs returned ('R') lines — the two-sample
    companion of ``stats_km_log_survival``: at every event time,
    compare group-1's observed event count with its expectation under
    the shared-hazard null (d * n1/n), accumulating O-E and the
    hypergeometric variance.

    Everything resolves on the (flag x distinct-duration) grid —
    duration is calendar-bounded (<= ~121 day values), so at-risk
    sets come from a descending cumulative over a ~250-row table, and
    the per-event-time expectation/variance terms are exact half-up
    1e-9 integers in decimal arithmetic (the variance numerator
    d*n1*(n-n1)*(n-d)*1e9 reaches ~1e36 at the x10 fixture — inside
    decimal(38) but the docstring notes 100 TB deployments should
    split the product). One double sqrt at the end for z.
    """
    t = Tables(spark, sf_dir)
    obs = (
        t.lineitem.filter(F.col("l_returnflag").isin(LOGRANK_G1, LOGRANK_G2))
        .join(
            t.orders.select("o_orderkey", "o_orderdate"),
            t.lineitem.l_orderkey == F.col("o_orderkey"),
        )
        .select(
            F.col("l_returnflag").alias("flag"),
            F.datediff("l_shipdate", "o_orderdate").cast("long").alias("dur"),
            F.when(F.col("l_linestatus") == "F", 1).otherwise(0).alias("ev"),
        )
    )
    pts = obs.groupBy("flag", "dur").agg(
        F.sum("ev").alias("d"), F.count(F.lit(1)).alias("m")
    )
    durs = pts.select("dur").distinct()
    flags = pts.select("flag").distinct()
    grid = durs.crossJoin(F.broadcast(flags)).join(pts, ["dur", "flag"], "left").select(
        "dur",
        "flag",
        F.coalesce(F.col("d"), F.lit(0)).alias("d"),
        F.coalesce(F.col("m"), F.lit(0)).alias("m"),
    )
    w_desc = (
        Window.partitionBy("flag")
        .orderBy(F.col("dur").desc())
        .rowsBetween(Window.unboundedPreceding, 0)
    )
    risk = grid.select("dur", "flag", "d", F.sum("m").over(w_desc).alias("at_risk"))
    ev = risk.groupBy("dur").agg(
        F.sum("d").alias("d_tot"),
        F.sum(F.when(F.col("flag") == LOGRANK_G1, F.col("d")).otherwise(0)).alias("d1"),
        F.sum("at_risk").alias("n"),
        F.sum(F.when(F.col("flag") == LOGRANK_G1, F.col("at_risk")).otherwise(0)).alias("n1"),
    )
    kept = ev.filter((F.col("d_tot") > 0) & (F.col("n") > F.col("d_tot")) & (F.col("n") > 1))
    e_num = dec38(F.col("d_tot")) * F.col("n1") * F.lit(10**9)
    e_den = dec38(F.col("n"))
    e_a = F.lit(2).cast("decimal(38,0)") * e_num + e_den
    e_b = F.lit(2).cast("decimal(38,0)") * e_den
    v_num = (
        dec38(F.col("d_tot"))
        * F.col("n1")
        * (F.col("n") - F.col("n1"))
        * (F.col("n") - F.col("d_tot"))
        * F.lit(10**9)
    )
    v_den = dec38(F.col("n")) * F.col("n") * (F.col("n") - 1)
    v_a = F.lit(2).cast("decimal(38,0)") * v_num + v_den
    v_b = F.lit(2).cast("decimal(38,0)") * v_den
    terms = kept.select(
        "d1",
        ((e_a - e_a % e_b) / e_b).cast("long").alias("e_u"),
        ((v_a - v_a % v_b) / v_b).cast("long").alias("v_u"),
    )
    s = terms.agg(
        F.count(F.lit(1)).alias("n_event_times"),
        F.sum("d1").alias("o1"),
        F.sum("e_u").alias("sum_e_u"),
        F.sum("v_u").alias("sum_v_u"),
    )
    e1 = F.col("sum_e_u").cast("double") / F.lit(1e9)
    v = F.col("sum_v_u").cast("double") / F.lit(1e9)
    z = (F.col("o1").cast("double") - e1) / F.sqrt(v)
    return s.filter(F.col("sum_v_u") > 0).select(
        "n_event_times",
        "o1",
        e1.alias("e1"),
        v.alias("v"),
        (F.floor(z * F.lit(1e6) + F.lit(0.5)).cast("long") / F.lit(1e6)).alias("z_stat"),
    )


# ---------------------------------------------------------------------------
# Gumbel fit of the daily maximum event value (method of moments)
# ---------------------------------------------------------------------------

GUMBEL_PI = 3.141592653589793


GUMBEL_GAMMA = 0.5772156649015329


def _gumbel_oracle() -> str:
    from ..functions.exact import sql_round_big_int_ratio

    return f"""
    WITH daily AS (
      SELECT CAST(ts AS DATE) AS day,
             CAST(max(CAST(floor(value * 1000000 + 0.5) AS BIGINT)) AS BIGINT) AS m
      FROM events WHERE value IS NOT NULL GROUP BY 1
    ), a AS (
      SELECT CAST(count(*) AS BIGINT) AS n,
             CAST(sum(m) AS HUGEINT) AS s,
             CAST(sum(m::HUGEINT * m) AS HUGEINT) AS q
      FROM daily
    ), fit AS (
      SELECT n, s,
             sqrt(6.0::DOUBLE * (CAST(n AS DOUBLE) * CAST(q AS DOUBLE)
                  - CAST(s AS DOUBLE) * CAST(s AS DOUBLE))
                  / (CAST(n AS DOUBLE) * (CAST(n AS DOUBLE) - 1.0::DOUBLE)))
             / {GUMBEL_PI!r}::DOUBLE AS beta_micro
      FROM a WHERE n >= 2
    )
    SELECT n AS n_days,
           {sql_round_big_int_ratio('s', 'n::HUGEINT * 1000000')} AS mean_max,
           CAST(floor(beta_micro / 1000000.0::DOUBLE * 1000000.0 + 0.5) AS BIGINT)
             / 1000000.0 AS gumbel_beta,
           CAST(floor((CAST(s AS DOUBLE) / CAST(n AS DOUBLE)
                       - {GUMBEL_GAMMA!r}::DOUBLE * beta_micro) / 1000000.0::DOUBLE
                      * 1000000.0 + 0.5) AS BIGINT) / 1000000.0 AS gumbel_mu
    FROM fit
    """


@register("stats_gumbel_daily_max_fit", oracle=_gumbel_oracle())
def stats_gumbel_daily_max_fit(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Gumbel (type-I extreme value) fit of the DAILY MAXIMUM event
    value by the method of moments: beta = sqrt(6 Var)/pi,
    mu = mean - gamma*beta — the block-maxima member of the
    distribution-fitting family (Weibull fits the latency BODY,
    negative-binomial the counts; extreme-value theory says block
    maxima converge to Gumbel, and the fitted (mu, beta) is what a
    capacity planner feeds return-level estimates: the p-quantile of
    tomorrow's peak).

    The block-maxima reduction (one groupBy day -> max) is the scan;
    moments accumulate as exact decimal micro-unit sums over the
    ~2.4k-day series. The sqrt and the pi/gamma double literals
    (identical spellings both engines) enter only in the final
    constant-size projection, quantized half-up 1e-6. Sample variance
    uses the n-1 denominator in both engines.
    """
    t = Tables(spark, sf_dir)
    daily = (
        t.events.filter(F.col("value").isNotNull())
        .select(
            F.to_date("ts").alias("day"),
            F.floor(F.col("value") * 1000000 + F.lit(0.5)).cast("long").alias("mu_v"),
        )
        .groupBy("day")
        .agg(F.max("mu_v").alias("m"))
    )
    a = daily.agg(
        F.count(F.lit(1)).alias("n"),
        F.sum(dec38(F.col("m"))).alias("s"),
        F.sum(dec38(F.col("m")) * F.col("m")).alias("q"),
    ).filter(F.col("n") >= 2)
    from ..functions.exact import round_big_int_ratio

    nd = F.col("n").cast("double")
    beta_micro = (
        F.sqrt(
            F.lit(6.0)
            * (nd * F.col("q").cast("double") - F.col("s").cast("double") * F.col("s").cast("double"))
            / (nd * (nd - F.lit(1.0)))
        )
        / F.lit(GUMBEL_PI)
    )

    def q6(c):
        return F.floor(c * F.lit(1000000.0) + F.lit(0.5)).cast("long") / F.lit(1e6)

    return a.select(
        F.col("n").alias("n_days"),
        round_big_int_ratio(
            F.col("s"), dec38(F.col("n")) * F.lit(1000000)
        ).alias("mean_max"),
        q6(beta_micro / F.lit(1000000.0)).alias("gumbel_beta"),
        q6(
            (F.col("s").cast("double") / nd - F.lit(GUMBEL_GAMMA) * beta_micro)
            / F.lit(1000000.0)
        ).alias("gumbel_mu"),
    )


# ---------------------------------------------------------------------------
# Gamma fit of shipment latency (method of moments)
# ---------------------------------------------------------------------------


def _gamma_oracle() -> str:
    return """
    WITH lat AS (
      SELECT CAST(date_diff('day', o.o_orderdate, l.l_shipdate) AS BIGINT) AS v
      FROM lineitem l JOIN orders o ON o.o_orderkey = l.l_orderkey
      WHERE date_diff('day', o.o_orderdate, l.l_shipdate) >= 1
    ), a AS (
      SELECT CAST(count(*) AS BIGINT) AS n,
             CAST(sum(v) AS HUGEINT) AS s,
             CAST(sum(v::HUGEINT * v) AS HUGEINT) AS q
      FROM lat
    )
    SELECT n,
           CAST(floor(CAST(s AS DOUBLE) / CAST(n AS DOUBLE) * 1000000.0 + 0.5)
                AS BIGINT) / 1000000.0 AS mean_days,
           CAST(floor((CAST(s AS DOUBLE) / CAST(n AS DOUBLE))
                      * (CAST(s AS DOUBLE) / CAST(n AS DOUBLE))
                      / ((CAST(n AS DOUBLE) * CAST(q AS DOUBLE)
                          - CAST(s AS DOUBLE) * CAST(s AS DOUBLE))
                         / (CAST(n AS DOUBLE) * (CAST(n AS DOUBLE) - 1.0::DOUBLE)))
                      * 1000000.0 + 0.5) AS BIGINT) / 1000000.0 AS gamma_shape,
           CAST(floor(((CAST(n AS DOUBLE) * CAST(q AS DOUBLE)
                        - CAST(s AS DOUBLE) * CAST(s AS DOUBLE))
                       / (CAST(n AS DOUBLE) * (CAST(n AS DOUBLE) - 1.0::DOUBLE)))
                      / (CAST(s AS DOUBLE) / CAST(n AS DOUBLE))
                      * 1000000.0 + 0.5) AS BIGINT) / 1000000.0 AS gamma_scale
    FROM a WHERE n >= 2
    """


@register("stats_gamma_latency_fit_moments", oracle=_gamma_oracle())
def stats_gamma_latency_fit_moments(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Gamma(shape k, scale theta) method-of-moments fit of
    order-to-ship latency: k = mean^2/var, theta = var/mean — the
    sum-of-exponential-stages read of the logistics pipeline (k ~= 2
    says two queueing stages; Weibull's wear-in story and Gamma's
    stage story bracket the same latency body, which is why
    reliability toolboxes fit both — completing the
    Weibull/NegBin/Gumbel distribution-fitting family).

    One join-scan accumulates exact (n, sum, sum-of-squares) in
    decimal; shape and scale evaluate in double from those exact
    integers with identical association order in both engines,
    quantized half-up 1e-6. Sample variance (n-1) throughout.
    """
    t = Tables(spark, sf_dir)
    lat = (
        t.lineitem.join(
            t.orders, t.lineitem.l_orderkey == t.orders.o_orderkey
        )
        .select(F.datediff(F.col("l_shipdate"), F.col("o_orderdate")).cast("long").alias("v"))
        .filter(F.col("v") >= 1)
    )
    a = lat.agg(
        F.count(F.lit(1)).alias("n"),
        F.sum(dec38(F.col("v"))).alias("s"),
        F.sum(dec38(F.col("v")) * F.col("v")).alias("q"),
    ).filter(F.col("n") >= 2)
    nd = F.col("n").cast("double")
    mean = F.col("s").cast("double") / nd
    var = (nd * F.col("q").cast("double") - F.col("s").cast("double") * F.col("s").cast("double")) / (
        nd * (nd - F.lit(1.0))
    )

    def q6(c):
        return F.floor(c * F.lit(1000000.0) + F.lit(0.5)).cast("long") / F.lit(1e6)

    return a.select(
        "n",
        q6(mean).alias("mean_days"),
        q6(mean * mean / var).alias("gamma_shape"),
        q6(var / mean).alias("gamma_scale"),
    )


# ---------------------------------------------------------------------------
# Pairwise total-variation distance between segment priority mixes
# ---------------------------------------------------------------------------


def _tvd_oracle() -> str:
    from ..functions.exact import sql_round_big_int_ratio

    return f"""
    WITH j AS (
      SELECT c.c_mktsegment AS seg, o.o_orderpriority AS prio
      FROM orders o JOIN customer c ON o.o_custkey = c.c_custkey
    ), cellraw AS (
      SELECT seg, prio, CAST(count(*) AS BIGINT) AS cnt FROM j GROUP BY 1, 2
    ), segs AS (SELECT DISTINCT seg FROM j),
    prios AS (SELECT DISTINCT prio FROM j),
    cell AS (
      SELECT s.seg, p.prio, coalesce(c.cnt, 0) AS cnt
      FROM segs s CROSS JOIN prios p
      LEFT JOIN cellraw c ON c.seg = s.seg AND c.prio = p.prio
    ), tots AS (
      SELECT seg, CAST(sum(cnt) AS BIGINT) AS n FROM cell GROUP BY seg
    ), pairs AS (
      SELECT a.seg AS seg_a, b.seg AS seg_b,
             ta.n AS n_a, tb.n AS n_b,
             CAST(sum(abs(a.cnt::HUGEINT * tb.n - b.cnt::HUGEINT * ta.n))
                  AS HUGEINT) AS num
      FROM cell a
      JOIN cell b ON a.prio = b.prio AND a.seg < b.seg
      JOIN tots ta ON ta.seg = a.seg
      JOIN tots tb ON tb.seg = b.seg
      GROUP BY 1, 2, 3, 4
    )
    SELECT seg_a, seg_b,
           CASE WHEN n_a > 0 AND n_b > 0 THEN
             {sql_round_big_int_ratio('num', '2::HUGEINT * n_a * n_b')}
           END AS tvd
    FROM pairs ORDER BY seg_a, seg_b
    """


@register("stats_total_variation_segment_pairs", oracle=_tvd_oracle())
def stats_total_variation_segment_pairs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Pairwise total-variation distance between the order-priority
    mixes of every market-segment pair: TVD = (1/2) sum_i |p_i - q_i|
    — the L1 sibling of the registry's JS divergence (JS is smooth
    and information-theoretic; TVD is THE metric with the operational
    reading "max probability gap any event can show between the two
    segments"), and unlike JS it is EXACT: sum |c_a*n_b - c_b*n_a| /
    (2 n_a n_b) is one big-integer ratio, no logs.

    One fact-scan aggregate to the |segments| x |priorities| cell
    grid (completed with zero cells so missing categories count, both
    engines identically); the pairwise sweep is a broadcast self-join
    over that <= 25-row grid. Output |segments| choose 2 rows.
    """
    from ..functions.exact import round_big_int_ratio

    t = Tables(spark, sf_dir)
    j = t.orders.select("o_custkey", F.col("o_orderpriority").alias("prio")).join(
        t.customer.select(
            F.col("c_custkey").alias("o_custkey"), F.col("c_mktsegment").alias("seg")
        ),
        "o_custkey",
    )
    cellraw = j.groupBy("seg", "prio").agg(F.count(F.lit(1)).alias("cnt"))
    segs = cellraw.select("seg").distinct()
    prios = cellraw.select("prio").distinct()
    cell = (
        segs.crossJoin(F.broadcast(prios))
        .join(cellraw, ["seg", "prio"], "left")
        .select("seg", "prio", F.coalesce(F.col("cnt"), F.lit(0)).alias("cnt"))
    )
    tots = cell.groupBy("seg").agg(F.sum("cnt").alias("n"))
    a = cell.select(
        F.col("seg").alias("seg_a"), "prio", F.col("cnt").alias("cnt_a")
    ).join(F.broadcast(tots.select(F.col("seg").alias("seg_a"), F.col("n").alias("n_a"))), "seg_a")
    bdf = cell.select(
        F.col("seg").alias("seg_b"), "prio", F.col("cnt").alias("cnt_b")
    ).join(F.broadcast(tots.select(F.col("seg").alias("seg_b"), F.col("n").alias("n_b"))), "seg_b")
    pairs = (
        a.join(F.broadcast(bdf), ["prio"])
        .filter(F.col("seg_a") < F.col("seg_b"))
        .groupBy("seg_a", "seg_b", "n_a", "n_b")
        .agg(
            F.sum(
                F.abs(
                    dec38(F.col("cnt_a")) * F.col("n_b")
                    - dec38(F.col("cnt_b")) * F.col("n_a")
                )
            ).alias("num")
        )
    )
    return pairs.select(
        "seg_a",
        "seg_b",
        F.when(
            (F.col("n_a") > 0) & (F.col("n_b") > 0),
            round_big_int_ratio(
                F.col("num"), F.lit(2).cast("decimal(38,0)") * F.col("n_a") * F.col("n_b")
            ),
        ).alias("tvd"),
    )


# ---------------------------------------------------------------------------
# Rayleigh test of hour-of-day uniformity per event type
# ---------------------------------------------------------------------------

# cos/sin(2*pi*h/24) quantized at 1e-6 — the SAME 48 integer literals are
# embedded in the Spark plan and the SQL twin, so the trig never crosses
# the engine boundary as a float computation
RAYLEIGH_COSQ = [1000000, 965926, 866025, 707107, 500000, 258819, 0, -258819, -500000, -707107, -866025, -965926, -1000000, -965926, -866025, -707107, -500000, -258819, 0, 258819, 500000, 707107, 866025, 965926]


RAYLEIGH_SINQ = [0, 258819, 500000, 707107, 866025, 965926, 1000000, 965926, 866025, 707107, 500000, 258819, 0, -258819, -500000, -707107, -866025, -965926, -1000000, -965926, -866025, -707107, -500000, -258819]


def _rayleigh_oracle() -> str:
    from ..functions.exact import sql_round_big_int_ratio

    cosl = ", ".join(str(v) for v in RAYLEIGH_COSQ)
    sinl = ", ".join(str(v) for v in RAYLEIGH_SINQ)
    return f"""
    WITH hrs AS (
      SELECT event_type, CAST(hour(ts) AS BIGINT) AS h,
             CAST(count(*) AS BIGINT) AS c
      FROM events GROUP BY 1, 2
    ), vecs AS (
      SELECT event_type,
             CAST(sum(c) AS BIGINT) AS n,
             CAST(sum(c * ([{cosl}])[h + 1]) AS BIGINT) AS sc,
             CAST(sum(c * ([{sinl}])[h + 1]) AS BIGINT) AS ss
      FROM hrs GROUP BY event_type
    )
    SELECT event_type, n,
           {sql_round_big_int_ratio(
               'sc::HUGEINT * sc + ss::HUGEINT * ss',
               'n::HUGEINT * 1000000000000')} AS rayleigh_z,
           {sql_round_big_int_ratio(
               'sc::HUGEINT * sc + ss::HUGEINT * ss',
               'n::HUGEINT * n * 1000000000000')} AS rbar_sq
    FROM vecs
    """


@register("stats_rayleigh_hour_uniformity", oracle=_rayleigh_oracle())
def stats_rayleigh_hour_uniformity(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Rayleigh test of circular uniformity on the hour-of-day
    distribution, per event type: z = n·R_bar² where R_bar is the mean
    resultant length of the unit vectors at angles 2πh/24 — the
    CIRCULAR-statistics member the family lacked (the hourly-entropy
    profile measures concentration but ignores adjacency: 9 a.m. and
    10 a.m. are as different to it as 9 a.m. and 9 p.m.; the Rayleigh
    resultant knows the hours wrap).

    The 24 cos/sin values are 1e-6-quantized integer LITERALS baked
    identically into the Spark plan and the SQL twin (module
    constants), so no engine evaluates a single trig function: the
    resultant components are int64 dot products over the ≤ 24-row
    per-type hour histogram and z = (Sc² + Ss²)/(n·10¹²) is one exact
    round_big_int_ratio (Sc² ≤ ~10²⁵ at sf1×10 — decimal/HUGEINT).
    Quantizing the direction vectors (not the statistic) shifts z by
    < 10⁻⁶·n relative — identical on both engines, irrelevant to the
    uniformity verdict. One partial-aggregated scan to the bounded
    (type × hour) grid; everything after is a ≤ 5-row aggregate.
    """
    from ..functions.exact import round_big_int_ratio

    t = Tables(spark, sf_dir)
    hrs = t.events.groupBy(
        "event_type", F.hour("ts").cast("long").alias("h")
    ).agg(F.count(F.lit(1)).alias("c"))
    cos_arr = F.array(*[F.lit(v).cast("long") for v in RAYLEIGH_COSQ])
    sin_arr = F.array(*[F.lit(v).cast("long") for v in RAYLEIGH_SINQ])
    vecs = hrs.select(
        "event_type",
        "c",
        (F.col("c") * F.element_at(cos_arr, (F.col("h") + 1).cast("int"))).alias(
            "cc"
        ),
        (F.col("c") * F.element_at(sin_arr, (F.col("h") + 1).cast("int"))).alias(
            "cs"
        ),
    ).groupBy("event_type").agg(
        F.sum("c").alias("n"),
        F.sum("cc").alias("sc"),
        F.sum("cs").alias("ss"),
    )
    num = dec38(F.col("sc")) * dec38(F.col("sc")) + dec38(F.col("ss")) * dec38(
        F.col("ss")
    )
    scale = F.lit(10**12).cast("decimal(38,0)")
    return vecs.select(
        "event_type",
        "n",
        round_big_int_ratio(num, dec38(F.col("n")) * scale).alias("rayleigh_z"),
        round_big_int_ratio(
            num, dec38(F.col("n")) * dec38(F.col("n")) * scale
        ).alias("rbar_sq"),
    )


# ---------------------------------------------------------------------------
# Process capability of order->ship latency
# ---------------------------------------------------------------------------

CAP_LSL_DAYS = 1


CAP_USL_DAYS = 120


def _capability_oracle() -> str:
    hd = sql_halfup_div
    lsl, usl = CAP_LSL_DAYS, CAP_USL_DAYS
    return f"""
    WITH lat AS (
      SELECT date_diff('day', CAST(o.o_orderdate AS DATE),
                       CAST(l.l_shipdate AS DATE)) AS x
      FROM lineitem l JOIN orders o ON o.o_orderkey = l.l_orderkey
      WHERE l.l_shipdate IS NOT NULL AND o.o_orderdate IS NOT NULL
    ), s AS (
      SELECT CAST(count(*) AS HUGEINT) AS n,
             CAST(sum(x) AS HUGEINT) AS sx,
             CAST(sum(x * CAST(x AS HUGEINT)) AS HUGEINT) AS sxx,
             CAST(sum(CASE WHEN x < {lsl} THEN 1 ELSE 0 END) AS HUGEINT)
               AS n_below,
             CAST(sum(CASE WHEN x > {usl} THEN 1 ELSE 0 END) AS HUGEINT)
               AS n_above
      FROM lat
    ), d AS (
      SELECT n, sx, sxx, n_below, n_above,
             (n * sxx - sx * sx) AS vc,
             least({usl}::HUGEINT * n - sx, sx - {lsl}::HUGEINT * n) AS mg,
             {hd(f'1000::HUGEINT * least({usl}::HUGEINT * n - sx, sx - {lsl}::HUGEINT * n)', 'n')} AS mg_milli
      FROM s
    )
    SELECT CAST(n AS BIGINT) AS n,
           CAST({hd('1000::HUGEINT * sx', 'n')} AS BIGINT) AS mean_milli,
           CAST({hd('1000::HUGEINT * vc', 'n * (n - 1)')} AS BIGINT)
             AS var_milli,
           CAST({hd('1000000::HUGEINT * n_below', 'n')} AS BIGINT)
             AS below_lsl_ppm,
           CAST({hd('1000000::HUGEINT * n_above', 'n')} AS BIGINT)
             AS above_usl_ppm,
           CASE WHEN vc > 0 THEN
             CAST({hd(f'1000000::HUGEINT * {(usl - lsl) ** 2} * n * (n - 1)',
                      '36 * vc')} AS BIGINT) END AS cp_sq_micro,
           CASE WHEN vc > 0 THEN
             CAST((CASE WHEN mg < 0 THEN -1 ELSE 1 END)
                  * {hd('mg_milli * mg_milli * n * (n - 1)', '9::HUGEINT * vc')}
                  AS BIGINT) END AS cpk_sq_signed_micro
    FROM d
    """


@register("stats_process_capability_latency", oracle=_capability_oracle())
def stats_process_capability_latency(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Process capability of the order->ship latency against fixed
    spec limits [1, 120] days: Cp = (USL-LSL)/(6 sigma) (the
    potential of the process if centered) and Cpk = min(USL-mu,
    mu-LSL)/(3 sigma) (the actual capability at the current centering)
    — the Six-Sigma fulfillment-SLA numbers, reported SQUARED so the
    statistic stays in exact rational arithmetic (no sqrt; the
    squared-index convention shared with Guiraud R^2), with the sign
    of the Cpk margin carried separately (negative = the mean itself
    sits outside spec). Exact below-LSL / above-USL ppm ride along —
    what the spec misses actually cost, not just the index.

    Exactness: N, sum(x), sum(x^2) and the spec-violation counts are
    exact integers off one scan; the variance core N*Sxx - Sx^2 is
    integer; Cp^2 is ONE half-up division. The Cpk margin quantizes
    half-up at milli-days once (two-stage quantization keeps the
    squared numerator inside decimal(38,0) at 1e12 rows — documented
    headroom), then Cpk^2 is one more half-up division. The oracle
    mirrors both stages digit-for-digit.

    Scale shape: one lineitem-orders equi-join (orderkey) feeding a
    single global aggregate; 1 row out.
    """
    t = Tables(spark, sf_dir)
    lsl, usl = CAP_LSL_DAYS, CAP_USL_DAYS
    lat = (
        t.lineitem.filter(F.col("l_shipdate").isNotNull())
        .select("l_orderkey", F.to_date("l_shipdate").alias("ship"))
        .join(
            t.orders.filter(F.col("o_orderdate").isNotNull()).select(
                F.col("o_orderkey").alias("l_orderkey"),
                F.to_date("o_orderdate").alias("odate"),
            ),
            "l_orderkey",
        )
        .select(F.datediff("ship", "odate").cast("long").alias("x"))
    )
    s = lat.agg(
        dec38(F.count(F.lit(1))).alias("n"),
        F.sum(dec38(F.col("x"))).alias("sx"),
        F.sum(dec38(F.col("x")) * F.col("x")).alias("sxx"),
        F.sum(F.when(F.col("x") < lsl, 1).otherwise(0)).cast("decimal(38,0)").alias(
            "n_below"
        ),
        F.sum(F.when(F.col("x") > usl, 1).otherwise(0)).cast("decimal(38,0)").alias(
            "n_above"
        ),
    )
    vc = F.col("n") * F.col("sxx") - F.col("sx") * F.col("sx")
    mg = F.least(
        F.lit(usl).cast("decimal(38,0)") * F.col("n") - F.col("sx"),
        F.col("sx") - F.lit(lsl).cast("decimal(38,0)") * F.col("n"),
    )
    k3 = F.lit(1000).cast("decimal(38,0)")
    m6 = F.lit(1_000_000).cast("decimal(38,0)")
    mg_milli = halfup_div(k3 * mg, F.col("n"))
    d = s.select(
        "n", "sx", "sxx", "n_below", "n_above", vc.alias("vc"), mg.alias("mg"),
        mg_milli.alias("mg_milli"),
    )
    return d.select(
        F.col("n").cast("long").alias("n"),
        halfup_div(k3 * F.col("sx"), F.col("n")).cast("long").alias("mean_milli"),
        halfup_div(k3 * F.col("vc"), F.col("n") * (F.col("n") - 1))
        .cast("long")
        .alias("var_milli"),
        halfup_div(m6 * F.col("n_below"), F.col("n")).cast("long").alias(
            "below_lsl_ppm"
        ),
        halfup_div(m6 * F.col("n_above"), F.col("n")).cast("long").alias(
            "above_usl_ppm"
        ),
        F.when(
            F.col("vc") > 0,
            halfup_div(
                m6 * F.lit((usl - lsl) ** 2) * F.col("n") * (F.col("n") - 1),
                F.lit(36).cast("decimal(38,0)") * F.col("vc"),
            ).cast("long"),
        ).alias("cp_sq_micro"),
        F.when(
            F.col("vc") > 0,
            (
                F.when(F.col("mg") < 0, F.lit(-1)).otherwise(F.lit(1)).cast(
                    "decimal(38,0)"
                )
                * halfup_div(
                    F.col("mg_milli") * F.col("mg_milli")
                    * F.col("n") * (F.col("n") - 1),
                    F.lit(9).cast("decimal(38,0)") * F.col("vc"),
                )
            ).cast("long"),
        ).alias("cpk_sq_signed_micro"),
    )


# ---------------------------------------------------------------------------
# Circular concentration of the order weekday distribution
# ---------------------------------------------------------------------------

# 1e6-quantized cos/sin(2*pi*(dow-1)/7) for ISO dow 1..7 — fixed
# literals shared verbatim by both engines; re-derived independently
# in tests/test_roundthirteen8.py (the SCALE §5n anchor rule).
COS7_MICRO = {1: 1000000, 2: 623490, 3: -222521, 4: -900969,
              5: -900969, 6: -222521, 7: 623490}


SIN7_MICRO = {1: 0, 2: 781831, 3: 974928, 4: 433884,
              5: -433884, 6: -974928, 7: -781831}


def _circular_oracle() -> str:
    hd = sql_halfup_div
    cosc = " ".join(f"WHEN {d} THEN {c}" for d, c in sorted(COS7_MICRO.items()))
    sinc = " ".join(f"WHEN {d} THEN {c}" for d, c in sorted(SIN7_MICRO.items()))
    return f"""
    WITH dw AS (
      SELECT CAST(isodow(CAST(o_orderdate AS DATE)) AS BIGINT) AS dow,
             CAST(count(*) AS HUGEINT) AS n_d
      FROM orders GROUP BY 1
    ), s AS (
      SELECT CAST(sum(n_d) AS HUGEINT) AS n,
             CAST(sum(n_d * (CASE dow {cosc} END)) AS HUGEINT) AS c,
             CAST(sum(n_d * (CASE dow {sinc} END)) AS HUGEINT) AS sn,
             (SELECT dow FROM dw ORDER BY n_d DESC, dow ASC LIMIT 1)
               AS modal_dow
      FROM dw
    )
    SELECT CAST(n AS BIGINT) AS n, CAST(modal_dow AS BIGINT) AS modal_dow,
           CAST({hd('1000000::HUGEINT * (c * c + sn * sn)',
                    'n * n * 1000000000000::HUGEINT')} AS BIGINT)
             AS rbar_sq_micro,
           CAST({hd('1000::HUGEINT * (c * c + sn * sn)',
                    'n * 1000000000000::HUGEINT')} AS BIGINT)
             AS rayleigh_z_milli
    FROM s
    """


@register("stats_circular_weekday_concentration", oracle=_circular_oracle())
def stats_circular_weekday_concentration(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Circular concentration of order placement around the week:
    treat ISO weekday d as the angle 2 pi (d-1)/7 and report the
    squared mean resultant length Rbar^2 = (C^2 + S^2) / N^2 (Fisher,
    Statistical Analysis of Circular Data) and the Rayleigh statistic
    z = N Rbar^2 — the uniformity test that respects the week's
    WRAPAROUND (a chi-square sees Mon..Sun as unordered categories;
    the circular statistic knows Sunday neighbors Monday, so a
    weekend hump concentrates mass in one arc and lights up z).
    Squared form keeps exact rational arithmetic (the Guiraud/Cpk
    convention); the modal weekday rides along.

    Exactness: C = sum n_d cos_q, S = sum n_d sin_q over the 7-cell
    weekday table with 1e6-quantized trig LITERALS (constant-anchored
    against an independent re-derivation) — pure integers; one
    half-up division each for Rbar^2 (micro) and z (milli). Headroom:
    C^2 peaks ~ (N * 1e6)^2 = 1e36 at 1e12 rows — inside
    decimal(38,0)/HUGEINT (documented bound).

    Scale shape: one fact scan partial-aggregates to 7 weekday cells;
    1 row out.
    """
    t = Tables(spark, sf_dir)
    cosc = F.create_map(
        *[F.lit(x) for kv in sorted(COS7_MICRO.items()) for x in kv]
    )
    sinc = F.create_map(
        *[F.lit(x) for kv in sorted(SIN7_MICRO.items()) for x in kv]
    )
    dow = (F.weekday(F.to_date("o_orderdate")) + 1).cast("long")
    dw = t.orders.select(dow.alias("dow")).groupBy("dow").agg(
        dec38(F.count(F.lit(1))).alias("n_d")
    )
    s = dw.agg(
        F.sum("n_d").alias("n"),
        F.sum(F.col("n_d") * dec38(cosc[F.col("dow")])).alias("c"),
        F.sum(F.col("n_d") * dec38(sinc[F.col("dow")])).alias("sn"),
        F.min_by("dow", F.struct((-F.col("n_d")).alias("a"), F.col("dow").alias("b")))
        .alias("modal_dow"),
    )
    m6 = F.lit(1_000_000).cast("decimal(38,0)")
    t12 = F.lit(10**12).cast("decimal(38,0)")
    r2 = F.col("c") * F.col("c") + F.col("sn") * F.col("sn")
    return s.select(
        F.col("n").cast("long").alias("n"),
        F.col("modal_dow").cast("long").alias("modal_dow"),
        halfup_div(m6 * r2, F.col("n") * F.col("n") * t12)
        .cast("long")
        .alias("rbar_sq_micro"),
        halfup_div(F.lit(1000).cast("decimal(38,0)") * r2, F.col("n") * t12)
        .cast("long")
        .alias("rayleigh_z_milli"),
    )


# ---------------------------------------------------------------------------
# shared: per-nation order cents with per-nation totals broadcast back
# ---------------------------------------------------------------------------

_SQL_NATION_CENTS = """
    c AS (
      SELECT n.n_name,
             CAST(floor(o.o_totalprice * 100.0 + 0.5) AS BIGINT) AS cents
      FROM orders o
      JOIN customer cu ON cu.c_custkey = o.o_custkey
      JOIN nation n ON n.n_nationkey = cu.c_nationkey
      WHERE o.o_totalprice IS NOT NULL AND o.o_totalprice > 0
    ), tot AS (
      SELECT n_name, CAST(count(*) AS HUGEINT) AS n,
             CAST(sum(cents) AS HUGEINT) AS sy
      FROM c GROUP BY n_name
    )
"""


def _nation_cents(t: Tables) -> DataFrame:
    """(n_name, cents) rows plus broadcast-joined per-nation (n, sy)
    totals — the two-pass head all three inequality ops consume (SQL
    twin ``_SQL_NATION_CENTS``)."""
    cents = order_cents()
    c = (
        t.orders.where(
            F.col("o_totalprice").isNotNull() & (F.col("o_totalprice") > 0)
        )
        .join(
            t.customer.select("c_custkey", "c_nationkey"),
            t.orders.o_custkey == F.col("c_custkey"),
        )
        .join(
            F.broadcast(t.nation.select("n_nationkey", "n_name")),
            F.col("c_nationkey") == F.col("n_nationkey"),
        )
        .select("n_name", cents.alias("cents"))
    )
    tot = c.groupBy("n_name").agg(
        dec38(F.count(F.lit(1))).alias("n"), F.sum(dec38(F.col("cents"))).alias("sy")
    )
    return c.join(F.broadcast(tot), "n_name")


# ---------------------------------------------------------------------------
# Lorenz asymmetry coefficient per nation
# ---------------------------------------------------------------------------


def _lac_oracle() -> str:
    return f"""
    WITH {_SQL_NATION_CENTS.strip()}
    , j AS (
      SELECT c.n_name, c.cents, t.n, t.sy FROM c JOIN tot t USING (n_name)
    ), a AS (
      SELECT n_name, max(n) AS n, max(sy) AS sy,
             CAST(sum(CASE WHEN n * cents < sy THEN 1 ELSE 0 END) AS HUGEINT) AS m,
             CAST(sum(CASE WHEN n * cents < sy THEN cents ELSE 0 END) AS HUGEINT)
               AS lm,
             max(CASE WHEN n * cents < sy THEN cents END) AS xm,
             min(CASE WHEN n * cents >= sy THEN cents END) AS xm1
      FROM j GROUP BY n_name
    )
    SELECT n_name AS nation, CAST(n AS BIGINT) AS n_orders,
           CASE WHEN xm IS NOT NULL AND xm1 > xm THEN
             CAST(floor((
               (CAST(m AS DOUBLE)
                + CAST(sy - n * xm AS DOUBLE) / CAST(n * (xm1 - xm) AS DOUBLE))
               / CAST(n AS DOUBLE)
               + (CAST(lm AS DOUBLE)
                  + (CAST(sy - n * xm AS DOUBLE) / CAST(n * (xm1 - xm) AS DOUBLE))
                    * CAST(xm1 AS DOUBLE))
                 / CAST(sy AS DOUBLE)
             ) * 1000000.0::DOUBLE + 0.5) AS BIGINT)
           END AS lorenz_asymmetry_micro
    FROM a ORDER BY nation
    """


@register("stats_lorenz_asymmetry", oracle=_lac_oracle())
def stats_lorenz_asymmetry(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Lorenz asymmetry coefficient S (Damgaard & Weiner 2000) of
    order revenue per nation: S = F(mu) + L(mu), the sum of the
    population share and the revenue share held by orders below the
    mean, with linear interpolation at the mean. ``stats_gini_by_nation``
    prices HOW MUCH inequality; S says WHERE it lives — S > 1 means
    the inequality is driven by a few very large orders (the Lorenz
    curve's kink sits above the axis of symmetry), S < 1 by many very
    small ones. Two nations with identical Gini and opposite S need
    opposite risk treatments.

    Exactness: the below-mean classification is the exact integer
    comparison n*cents < sum (no division); counts, below-mean sums
    and the straddling order statistics x_m / x_m+1 are exact; the
    interpolation delta and the final S are one mirrored IEEE double
    expression off the exact integers, quantized once at micro.
    Degenerate nations (all orders equal) yield NULL.

    Scale shape: one fact scan to per-nation totals (broadcast back),
    one conditional re-aggregate; |nations| rows out.
    """
    t = Tables(spark, sf_dir)
    j = _nation_cents(t)
    below = F.col("n") * F.col("cents") < F.col("sy")
    a = j.groupBy("n_name").agg(
        F.max("n").alias("n"),
        F.max("sy").alias("sy"),
        F.sum(F.when(below, 1).otherwise(0)).cast("decimal(38,0)").alias("m"),
        F.sum(F.when(below, dec38(F.col("cents"))).otherwise(F.lit(0).cast("decimal(38,0)"))).alias("lm"),
        F.max(F.when(below, F.col("cents"))).alias("xm"),
        F.min(F.when(~below, F.col("cents"))).alias("xm1"),
    )
    delta = (F.col("sy") - F.col("n") * F.col("xm")).cast("double") / (
        F.col("n") * (dec38(F.col("xm1")) - F.col("xm"))
    ).cast("double")
    s = (F.col("m").cast("double") + delta) / F.col("n").cast("double") + (
        F.col("lm").cast("double") + delta * F.col("xm1").cast("double")
    ) / F.col("sy").cast("double")
    return a.select(
        F.col("n_name").alias("nation"),
        F.col("n").cast("long").alias("n_orders"),
        F.when(
            F.col("xm").isNotNull() & (F.col("xm1") > F.col("xm")),
            F.floor(s * F.lit(1e6) + F.lit(0.5)).cast("long"),
        ).alias("lorenz_asymmetry_micro"),
    ).orderBy("nation")


# ---------------------------------------------------------------------------
# Atkinson index (eps = 1/2 and 2) per nation
# ---------------------------------------------------------------------------

ATK_RECIP_SCALE = 1_000_000_000_000  # pico-scale reciprocal quantization


ATK_SQRT_SCALE = 1_000_000           # micro-scale sqrt quantization


def _atkinson_oracle() -> str:
    hd = sql_halfup_div
    return f"""
    WITH {_SQL_NATION_CENTS.strip()}
    , q AS (
      SELECT c.n_name, t.n, t.sy,
             CAST(sum({hd(f'{ATK_RECIP_SCALE}::HUGEINT', 'c.cents')})
                  AS HUGEINT) AS sr,
             CAST(sum(CAST(floor(sqrt(CAST(c.cents AS DOUBLE))
                                 * {ATK_SQRT_SCALE}.0::DOUBLE + 0.5) AS BIGINT))
                  AS HUGEINT) AS ss
      FROM c JOIN tot t USING (n_name)
      GROUP BY c.n_name, t.n, t.sy
    )
    SELECT n_name AS nation, CAST(n AS BIGINT) AS n_orders,
           CAST(floor((1.0::DOUBLE
                       - (CAST(ss AS DOUBLE)
                          / (CAST(n AS DOUBLE) * {ATK_SQRT_SCALE}.0::DOUBLE))
                         * (CAST(ss AS DOUBLE)
                            / (CAST(n AS DOUBLE) * {ATK_SQRT_SCALE}.0::DOUBLE))
                         * CAST(n AS DOUBLE) / CAST(sy AS DOUBLE))
                      * 1000000.0::DOUBLE + 0.5) AS BIGINT) AS atkinson_half_micro,
           CAST(1000000 - {hd(f'1000000::HUGEINT * n * n * {ATK_RECIP_SCALE}',
                              'sr * sy')} AS BIGINT) AS atkinson_2_micro
    FROM q ORDER BY nation
    """


@register("stats_atkinson_index_nation", oracle=_atkinson_oracle())
def stats_atkinson_index_nation(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Atkinson welfare-based inequality index (Atkinson 1970) of
    order revenue per nation at two aversion levels with closed forms
    that need NO exp/pow: eps = 1/2 — A = 1 - (mean sqrt(x))^2 / mu —
    and eps = 2 — A = 1 - harmonic_mean/mu. Gini weighs all transfers
    equally; Atkinson's eps dials how much the bottom matters (eps=2
    is dominated by the smallest orders), and 1-A is literally the
    fraction of total revenue that could be discarded if it were
    distributed equally at the same welfare. The eps spread beside
    ``stats_gini_by_nation`` and ``stats_theil_index_nation``
    completes the inequality shelf's sensitivity axis.

    Exactness: the sqrt path quantizes floor(sqrt(cents)*1e6 + 0.5)
    per row (sqrt is IEEE correctly rounded — identical in both
    engines) and sums exactly; the harmonic path quantizes the
    reciprocal at pico scale with a half-up integer division per row
    and sums exactly; A(2) is then ONE exact half-up micro ratio and
    A(1/2) one mirrored double expression, quantized at micro.

    Scale shape: one fact scan to per-nation totals (broadcast back),
    one re-aggregate of two quantized per-row terms; |nations| rows.
    """
    t = Tables(spark, sf_dir)
    j = _nation_cents(t)
    recip = halfup_div(
        F.lit(ATK_RECIP_SCALE).cast("decimal(38,0)"), dec38(F.col("cents"))
    )
    sqq = F.floor(
        F.sqrt(F.col("cents").cast("double")) * F.lit(float(ATK_SQRT_SCALE))
        + F.lit(0.5)
    ).cast("long")
    q = j.groupBy("n_name", "n", "sy").agg(
        F.sum(recip).alias("sr"), F.sum(dec38(sqq)).alias("ss")
    )
    nd = F.col("n").cast("double")
    msqrt = F.col("ss").cast("double") / (nd * F.lit(float(ATK_SQRT_SCALE)))
    a_half = F.lit(1.0) - msqrt * msqrt * nd / F.col("sy").cast("double")
    m6 = F.lit(1_000_000).cast("decimal(38,0)")
    return q.select(
        F.col("n_name").alias("nation"),
        F.col("n").cast("long").alias("n_orders"),
        F.floor(a_half * F.lit(1e6) + F.lit(0.5)).cast("long").alias(
            "atkinson_half_micro"
        ),
        (
            F.lit(1_000_000)
            - halfup_div(
                m6
                * F.col("n")
                * F.col("n")
                * F.lit(ATK_RECIP_SCALE).cast("decimal(38,0)"),
                F.col("sr") * F.col("sy"),
            )
        )
        .cast("long")
        .alias("atkinson_2_micro"),
    ).orderBy("nation")


# ---------------------------------------------------------------------------
# Hoover / Robin-Hood index per nation
# ---------------------------------------------------------------------------


def _hoover_oracle() -> str:
    hd = sql_halfup_div
    return f"""
    WITH {_SQL_NATION_CENTS.strip()}
    , a AS (
      SELECT c.n_name, max(t.n) AS n, max(t.sy) AS sy,
             CAST(sum(abs(t.n * c.cents - t.sy)) AS HUGEINT) AS sad
      FROM c JOIN tot t USING (n_name)
      GROUP BY c.n_name
    )
    SELECT n_name AS nation, CAST(n AS BIGINT) AS n_orders,
           CAST({hd('1000000::HUGEINT * sad', '2 * n * sy')} AS BIGINT)
             AS hoover_micro
    FROM a ORDER BY nation
    """


@register("stats_hoover_index_nation", oracle=_hoover_oracle())
def stats_hoover_index_nation(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Hoover (Robin-Hood) index of order revenue per nation: half the
    relative mean absolute deviation, H = sum|x_i - mu| / (2 sum x) —
    the exact fraction of total revenue that would have to be taken
    from above-average orders and given to below-average ones to
    equalize. It is also the maximum vertical gap between the Lorenz
    curve and the diagonal, so beside ``stats_gini_by_nation`` (the
    area) and ``stats_lorenz_asymmetry`` (the skew) it pins the
    curve's third geometric invariant.

    Exactness: |n*cents - sum| is exact integer arithmetic per row
    (no division before the sum); ONE half-up micro division total.

    Scale shape: one fact scan to per-nation totals (broadcast back),
    one exact re-aggregate; |nations| rows out.
    """
    t = Tables(spark, sf_dir)
    j = _nation_cents(t)
    a = j.groupBy("n_name").agg(
        F.max("n").alias("n"),
        F.max("sy").alias("sy"),
        F.sum(F.abs(F.col("n") * F.col("cents") - F.col("sy"))).alias("sad"),
    )
    m6 = F.lit(1_000_000).cast("decimal(38,0)")
    return a.select(
        F.col("n_name").alias("nation"),
        F.col("n").cast("long").alias("n_orders"),
        halfup_div(
            m6 * F.col("sad"),
            F.lit(2).cast("decimal(38,0)") * F.col("n") * F.col("sy"),
        )
        .cast("long")
        .alias("hoover_micro"),
    ).orderBy("nation")


# ---------------------------------------------------------------------------
# Bhattacharyya / Hellinger affinity of urgent vs other discounts
# ---------------------------------------------------------------------------


def _bhatt_oracle() -> str:
    return """
    WITH li AS (
      SELECT CAST(floor(l.l_discount * 100.0 + 0.5) AS BIGINT) AS disc,
             CASE WHEN o.o_orderpriority = '1-URGENT' THEN 1 ELSE 0 END AS g
      FROM lineitem l JOIN orders o ON o.o_orderkey = l.l_orderkey
    ), cells AS (
      SELECT disc,
             CAST(sum(g) AS BIGINT) AS c1,
             CAST(count(*) - sum(g) AS BIGINT) AS c2
      FROM li GROUP BY disc
    ), tot AS (
      SELECT CAST(sum(c1) AS HUGEINT) AS n1, CAST(sum(c2) AS HUGEINT) AS n2
      FROM cells
    ), terms AS (
      SELECT CAST(sum(CAST(floor(sqrt(CAST(c1 AS DOUBLE) * CAST(c2 AS DOUBLE))
                                 * 1000.0::DOUBLE + 0.5) AS BIGINT)) AS HUGEINT)
               AS sq_milli
      FROM cells
    )
    SELECT CAST(t.n1 AS BIGINT) AS n_urgent, CAST(t.n2 AS BIGINT) AS n_other,
           CAST(floor(CAST(s.sq_milli AS DOUBLE) / 1000.0::DOUBLE
                      / (sqrt(CAST(t.n1 AS DOUBLE)) * sqrt(CAST(t.n2 AS DOUBLE)))
                      * 1000000.0::DOUBLE + 0.5) AS BIGINT) AS bhattacharyya_micro,
           CAST(floor(sqrt(1.0::DOUBLE
                           - CAST(s.sq_milli AS DOUBLE) / 1000.0::DOUBLE
                             / (sqrt(CAST(t.n1 AS DOUBLE))
                                * sqrt(CAST(t.n2 AS DOUBLE))))
                      * 1000000.0::DOUBLE + 0.5) AS BIGINT) AS hellinger_micro
    FROM tot t, terms s
    """


@register("stats_bhattacharyya_hellinger_priority", oracle=_bhatt_oracle())
def stats_bhattacharyya_hellinger_priority(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    """Bhattacharyya coefficient and Hellinger distance between the
    discount distributions of urgent and non-urgent order lines:
    BC = sum sqrt(p_i q_i) over the bounded discount grid, H =
    sqrt(1 - BC). The divergence shelf already prices these two
    distributions asymmetrically (KL-flavored members explode on
    empty cells) and symmetrically-but-unbounded; Hellinger is the
    bounded TRUE METRIC member (triangle inequality holds), which is
    what downstream threshold rules and clustering on distribution
    distances actually require, and BC is the Bayes-error bound
    (error >= (1 - sqrt(1 - BC^2))/2) behind "can any classifier even
    separate these groups".

    Exactness: cell counts are exact off one join-fan scan;
    sqrt(c1*c2) per bounded cell is a correctly-rounded IEEE sqrt of
    an exact integer product quantized to milli BEFORE the integer
    sum (11-cell domain); the BC/H assembly is one mirrored double
    expression, quantized at micro.

    Scale shape: one lineitem-orders equi-join partial-aggregates to
    the <= 101-cell discount grid; constant-size algebra after.
    1 row out.
    """
    t = Tables(spark, sf_dir)
    li = priority_lines(t).select(
        F.floor(F.col("l_discount") * F.lit(100.0) + F.lit(0.5))
        .cast("long")
        .alias("disc"),
        F.when(F.col("o_orderpriority") == "1-URGENT", 1).otherwise(0).alias("g"),
    )
    cells = li.groupBy("disc").agg(
        F.sum("g").cast("long").alias("c1"),
        (F.count(F.lit(1)) - F.sum("g")).cast("long").alias("c2"),
    )
    tot = cells.agg(
        F.sum(dec38(F.col("c1"))).alias("n1"), F.sum(dec38(F.col("c2"))).alias("n2")
    )
    terms = cells.agg(
        F.sum(
            F.floor(
                F.sqrt(F.col("c1").cast("double") * F.col("c2").cast("double"))
                * F.lit(1e3)
                + F.lit(0.5)
            ).cast("long")
        ).alias("sq_milli")
    )
    bc = (
        F.col("sq_milli").cast("double")
        / F.lit(1e3)
        / (F.sqrt(F.col("n1").cast("double")) * F.sqrt(F.col("n2").cast("double")))
    )
    return tot.crossJoin(F.broadcast(terms)).select(
        F.col("n1").cast("long").alias("n_urgent"),
        F.col("n2").cast("long").alias("n_other"),
        F.floor(bc * F.lit(1e6) + F.lit(0.5)).cast("long").alias(
            "bhattacharyya_micro"
        ),
        F.floor(F.sqrt(F.lit(1.0) - bc) * F.lit(1e6) + F.lit(0.5))
        .cast("long")
        .alias("hellinger_micro"),
    )
