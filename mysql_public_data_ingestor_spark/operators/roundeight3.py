"""Round-8 batch-6 operators: robust/rank effect sizes, diversity and
diagnostics that round out the statistics surface, plus DQ primitives
(cross-column ordering, functional dependencies).

Hodges-Lehmann / Cliff's delta / Wilcoxon signed-rank complete the
nonparametric family begun with Mann-Whitney (effect sizes and the
paired test were the missing members); the Pythagorean-means and
weighted-median operators finish the location-statistics surface;
Ljung-Box turns the existing ACF machinery into the standard
whiteness diagnostic; log-rank is the two-sample companion of the
Kaplan-Meier estimator; Simpson diversity extends the text-analysis
family with the concentration dual of token entropy.

House discipline throughout: declarative DataFrame plans, partial
aggregation to a bounded domain (distinct values, calendar days,
11-value discounts) before any window/pair join, exact
integer/decimal arithmetic on every value crossing the engine
boundary (functions/exact), det-ln (functions/detmath) wherever the
semantics are logarithmic, and a DuckDB oracle twin per query.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql.window import Window

from ..functions.exact import dec38
from ..registry import register
from ..tables import Tables


# ---------------------------------------------------------------------------
# 2. Hodges-Lehmann pseudo-median of quantity per return flag
# ---------------------------------------------------------------------------


def _hl_oracle() -> str:
    return """
    WITH dv AS (
      SELECT l_returnflag AS g, CAST(l_quantity AS BIGINT) AS v,
             CAST(count(*) AS BIGINT) AS c
      FROM lineitem WHERE l_quantity IS NOT NULL GROUP BY 1, 2
    ), walsh AS (
      SELECT a.g, a.v + b.v AS s, a.c * b.c AS w
      FROM dv a JOIN dv b ON a.g = b.g AND a.v < b.v
      UNION ALL
      SELECT g, 2 * v AS s, c * (c + 1) // 2 AS w FROM dv
    ), ws AS (
      SELECT g, s, CAST(sum(w) AS BIGINT) AS w FROM walsh GROUP BY g, s
    ), cum AS (
      SELECT g, s, sum(w) OVER (PARTITION BY g ORDER BY s) AS cw,
             sum(w) OVER (PARTITION BY g) AS tw
      FROM ws
    )
    SELECT g AS return_flag,
           CAST(max(tw) AS BIGINT) AS n_walsh_pairs,
           CAST(min(CASE WHEN cw >= (tw + 1) // 2 THEN s END) AS DOUBLE)
             / 2.0 AS hl_pseudo_median
    FROM cum GROUP BY g
    """


@register("stats_hodges_lehmann_quantity", oracle=_hl_oracle())
def stats_hodges_lehmann_quantity(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Hodges-Lehmann pseudo-median of line quantity per return flag:
    the median of all Walsh averages (x_i + x_j)/2, i <= j — the
    location estimator dual to the Wilcoxon test (30% breakdown,
    ~0.96 efficiency at the normal), completing the robust-location
    family (median = 50% breakdown, trimmed mean = tunable, HL =
    rank-test-consistent).

    Never enumerates pairs over rows: quantity collapses to its <= 50
    distinct values first, Walsh sums live on the <= C(50,2)+50 sum
    domain with integer pair-count weights (diagonal weight
    c(c+1)/2), and the weighted median resolves on the cumulative —
    the whole statistic is one bounded-domain self-join regardless of
    corpus size. All arithmetic integer-exact; the only division is
    the final display s/2.
    """
    t = Tables(spark, sf_dir)
    dv = (
        t.lineitem.filter(F.col("l_quantity").isNotNull())
        .groupBy(
            F.col("l_returnflag").alias("g"),
            F.col("l_quantity").cast("long").alias("v"),
        )
        .agg(F.count(F.lit(1)).alias("c"))
    )
    b = dv.select(F.col("g").alias("gb"), F.col("v").alias("vb"), F.col("c").alias("cb"))
    off = (
        dv.join(b, (F.col("g") == F.col("gb")) & (F.col("v") < F.col("vb")))
        .select("g", (F.col("v") + F.col("vb")).alias("s"), (F.col("c") * F.col("cb")).alias("w"))
    )
    diag = dv.select(
        "g",
        (F.lit(2) * F.col("v")).alias("s"),
        (F.col("c") * (F.col("c") + 1) - (F.col("c") * (F.col("c") + 1)) % 2)
        .cast("long")
        .alias("w2"),
    ).select("g", "s", (F.col("w2") / 2).cast("long").alias("w"))
    ws = off.unionAll(diag).groupBy("g", "s").agg(F.sum("w").alias("w"))
    wg = Window.partitionBy("g")
    cum = ws.select(
        "g",
        "s",
        F.sum("w").over(wg.orderBy("s").rowsBetween(Window.unboundedPreceding, 0)).alias("cw"),
        F.sum("w").over(wg).alias("tw"),
    )
    half = (F.col("tw") + 1) - (F.col("tw") + 1) % 2
    return cum.groupBy(F.col("g").alias("return_flag")).agg(
        F.max("tw").alias("n_walsh_pairs"),
        (
            F.min(F.when(F.col("cw") >= (half / 2).cast("long"), F.col("s"))).cast("double")
            / F.lit(2.0)
        ).alias("hl_pseudo_median"),
    )


# ---------------------------------------------------------------------------
# 3. Cliff's delta effect size: discount, returned vs non-returned lines
# ---------------------------------------------------------------------------


def _cliffs_oracle() -> str:
    from ..functions.exact import sql_round_big_int_ratio

    return f"""
    WITH c AS (
      SELECT l_returnflag AS g,
             CAST(floor(l_discount * 100.0 + 0.5) AS BIGINT) AS v
      FROM lineitem WHERE l_returnflag IN ('R', 'N') AND l_discount IS NOT NULL
    ), dv AS (
      SELECT g, v, CAST(count(*) AS BIGINT) AS c FROM c GROUP BY g, v
    ), x AS (SELECT v, c FROM dv WHERE g = 'R'),
    y AS (SELECT v, c FROM dv WHERE g = 'N'),
    pairs AS (
      SELECT CAST(sum(CASE WHEN x.v > y.v THEN x.c * y.c ELSE 0 END) AS BIGINT) AS n_gt,
             CAST(sum(CASE WHEN x.v < y.v THEN x.c * y.c ELSE 0 END) AS BIGINT) AS n_lt,
             CAST(sum(CASE WHEN x.v = y.v THEN x.c * y.c ELSE 0 END) AS BIGINT) AS n_eq
      FROM x CROSS JOIN y
    ), ns AS (
      SELECT (SELECT CAST(sum(c) AS BIGINT) FROM x) AS nx,
             (SELECT CAST(sum(c) AS BIGINT) FROM y) AS ny
    )
    SELECT nx, ny, n_gt, n_lt, n_eq,
           {sql_round_big_int_ratio('n_gt - n_lt', 'nx::HUGEINT * ny')} AS cliffs_delta
    FROM pairs, ns
    """


@register("stats_cliffs_delta_discount", oracle=_cliffs_oracle())
def stats_cliffs_delta_discount(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Cliff's delta effect size of discount between returned ('R')
    and non-returned ('N') lines: (P(X>Y) - P(X<Y)) over all cross
    pairs — the ordinal, distribution-free effect size that the
    Mann-Whitney family reports alongside its test statistic
    (delta = 2·AUC - 1), robust where Cohen's d assumes normality.

    The 11-value discount domain makes the pair enumeration a
    constant 11x11 cross of per-group COUNT tables (never rows x
    rows); the delta is one exact half-up 6dp decimal ratio over the
    nx·ny pair count, which at 100 TB exceeds int64 — hence the
    decimal/HUGEINT ratio path.
    """
    from ..functions.exact import round_big_int_ratio

    t = Tables(spark, sf_dir)
    c = t.lineitem.filter(
        F.col("l_returnflag").isin("R", "N") & F.col("l_discount").isNotNull()
    ).select(
        F.col("l_returnflag").alias("g"),
        F.floor(F.col("l_discount") * F.lit(100.0) + F.lit(0.5)).cast("long").alias("v"),
    )
    dv = c.groupBy("g", "v").agg(F.count(F.lit(1)).alias("c"))
    x = dv.filter(F.col("g") == "R").select(F.col("v").alias("vx"), F.col("c").alias("cx"))
    y = dv.filter(F.col("g") == "N").select(F.col("v").alias("vy"), F.col("c").alias("cy"))
    # 11x11 cross of bounded count tables (broadcast, constant size)
    pairs = x.crossJoin(F.broadcast(y)).agg(
        F.sum(F.when(F.col("vx") > F.col("vy"), F.col("cx") * F.col("cy")).otherwise(0)).alias(
            "n_gt"
        ),
        F.sum(F.when(F.col("vx") < F.col("vy"), F.col("cx") * F.col("cy")).otherwise(0)).alias(
            "n_lt"
        ),
        F.sum(F.when(F.col("vx") == F.col("vy"), F.col("cx") * F.col("cy")).otherwise(0)).alias(
            "n_eq"
        ),
    )
    ns = x.agg(F.sum("cx").alias("nx")).crossJoin(F.broadcast(y.agg(F.sum("cy").alias("ny"))))
    return pairs.crossJoin(F.broadcast(ns)).select(
        "nx",
        "ny",
        "n_gt",
        "n_lt",
        "n_eq",
        round_big_int_ratio(
            F.col("n_gt") - F.col("n_lt"), dec38(F.col("nx")) * dec38(F.col("ny"))
        ).alias("cliffs_delta"),
    )


# ---------------------------------------------------------------------------
# 4. Pythagorean means of quantity per return flag (AM / GM-log / HM)
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
# 5. Weighted median / weighted p90 of price per return flag
# ---------------------------------------------------------------------------


def _wmedian_oracle() -> str:
    return """
    WITH c AS (
      SELECT l_returnflag AS g,
             CAST(floor(l_extendedprice * 100.0 + 0.5) AS BIGINT) AS cents,
             CAST(l_quantity AS BIGINT) AS q
      FROM lineitem WHERE l_extendedprice IS NOT NULL AND l_quantity IS NOT NULL
    ), dv AS (
      SELECT g, cents, CAST(sum(q) AS BIGINT) AS w FROM c GROUP BY g, cents
    ), cum AS (
      SELECT g, cents, sum(w) OVER (PARTITION BY g ORDER BY cents) AS cw,
             sum(w) OVER (PARTITION BY g) AS tw
      FROM dv
    )
    SELECT g AS return_flag,
           CAST(max(tw) AS BIGINT) AS total_weight,
           CAST(min(CASE WHEN cw >= (tw + 1) // 2 THEN cents END) AS DOUBLE)
             / 100.0 AS w_median_price,
           CAST(min(CASE WHEN cw >= (9 * tw + 9) // 10 THEN cents END) AS DOUBLE)
             / 100.0 AS w_p90_price
    FROM cum GROUP BY g
    """


@register("agg_weighted_median_price", oracle=_wmedian_oracle())
def agg_weighted_median_price(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Quantity-weighted median and p90 of extended price per return
    flag — the weighted-quantile primitive (every unit of quantity
    votes, not every line), which `percentile` built-ins don't cover
    and which training-data pipelines need for token-weighted
    length/quality cutoffs.

    Exact nearest-rank on the cumulative weight over the DISTINCT
    cents domain (range-bounded at any corpus size): the fact scan
    partially aggregates to (flag, cents, sum-of-weight) before the
    ordered cumulative, so no window ever sees raw rows. All
    arithmetic is integer; the only division is the cents display.
    """
    t = Tables(spark, sf_dir)
    c = t.lineitem.filter(
        F.col("l_extendedprice").isNotNull() & F.col("l_quantity").isNotNull()
    ).select(
        F.col("l_returnflag").alias("g"),
        F.floor(F.col("l_extendedprice") * F.lit(100.0) + F.lit(0.5))
        .cast("long")
        .alias("cents"),
        F.col("l_quantity").cast("long").alias("q"),
    )
    dv = c.groupBy("g", "cents").agg(F.sum("q").alias("w"))
    wg = Window.partitionBy("g")
    cum = dv.select(
        "g",
        "cents",
        F.sum("w").over(wg.orderBy("cents").rowsBetween(Window.unboundedPreceding, 0)).alias("cw"),
        F.sum("w").over(wg).alias("tw"),
    )
    half = (F.col("tw") + 1) - (F.col("tw") + 1) % 2
    p90 = (9 * F.col("tw") + 9) - (9 * F.col("tw") + 9) % 10
    return cum.groupBy(F.col("g").alias("return_flag")).agg(
        F.max("tw").alias("total_weight"),
        (
            F.min(F.when(F.col("cw") >= (half / 2).cast("long"), F.col("cents"))).cast("double")
            / F.lit(100.0)
        ).alias("w_median_price"),
        (
            F.min(F.when(F.col("cw") >= (p90 / 10).cast("long"), F.col("cents"))).cast("double")
            / F.lit(100.0)
        ).alias("w_p90_price"),
    )


# ---------------------------------------------------------------------------
# 6. Cross-column date-ordering DQ audit over the order lifecycle
# ---------------------------------------------------------------------------


def _dateorder_oracle() -> str:
    from ..functions.exact import sql_round_int_ratio

    rate = sql_round_int_ratio("n_violations", "n_checked")
    return f"""
    WITH s AS (
      SELECT CAST(count(*) AS BIGINT) AS n_checked,
             CAST(sum(CASE WHEN o.o_orderdate > l.l_shipdate THEN 1 ELSE 0 END)
               AS BIGINT) AS v1,
             CAST(sum(CASE WHEN l.l_shipdate > o.o_orderdate + INTERVAL 90 DAY
               THEN 1 ELSE 0 END) AS BIGINT) AS v2,
             CAST(sum(CASE WHEN l.l_shipdate > o.o_orderdate + INTERVAL 121 DAY
               THEN 1 ELSE 0 END) AS BIGINT) AS v3,
             CAST(sum(CASE WHEN l.l_shipdate > DATE '2001-12-31'
               THEN 1 ELSE 0 END) AS BIGINT) AS v4
      FROM lineitem l JOIN orders o ON o.o_orderkey = l.l_orderkey
    ), rules AS (
      SELECT 'orderdate<=shipdate' AS rule, n_checked, v1 AS n_violations FROM s
      UNION ALL
      SELECT 'shipdate<=orderdate+90d', n_checked, v2 FROM s
      UNION ALL
      SELECT 'shipdate<=orderdate+121d', n_checked, v3 FROM s
      UNION ALL
      SELECT 'shipdate<=2001-12-31', n_checked, v4 FROM s
    )
    SELECT rule, n_checked, n_violations,
           {rate} AS violation_rate,
           n_violations = 0 AS passed
    FROM rules
    """


@register("dq_date_order_violations", oracle=_dateorder_oracle())
def dq_date_order_violations(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Cross-column chronology audit over the order lifecycle: for
    each declared ordering rule (order placed before shipped; the
    90- and 121-day shipment SLAs; a calendar upper bound) report
    checked/violation counts, the exact violation rate, and a pass
    flag — the multi-column ordering member of the DQ family
    (completeness, uniqueness, referential integrity, expectations
    exist; cross-column ORDER constraints did not). On this synthetic
    fixture the ship dates are drawn independently of order dates, so
    the three chronology rules all genuinely fire (~48% violation —
    exactly the defect class this audit exists to surface) while the
    calendar-bound rule holds, exercising both outcomes.

    One joined scan computes all four violation counts as conditional
    partial aggregates; the per-rule rows come from a 4-way unpivot
    of the single aggregate row — no second scan, no shuffle beyond
    the aggregate's.
    """
    from ..functions.exact import round_int_ratio

    t = Tables(spark, sf_dir)
    j = t.lineitem.join(
        t.orders.select("o_orderkey", "o_orderdate"),
        t.lineitem.l_orderkey == F.col("o_orderkey"),
    )
    s = j.agg(
        F.count(F.lit(1)).alias("n_checked"),
        F.sum(F.when(F.col("o_orderdate") > F.col("l_shipdate"), 1).otherwise(0)).alias("v1"),
        F.sum(
            F.when(F.col("l_shipdate") > F.date_add(F.col("o_orderdate"), 90), 1).otherwise(0)
        ).alias("v2"),
        F.sum(
            F.when(F.col("l_shipdate") > F.date_add(F.col("o_orderdate"), 121), 1).otherwise(0)
        ).alias("v3"),
        F.sum(
            F.when(F.col("l_shipdate") > F.lit("2001-12-31").cast("date"), 1).otherwise(0)
        ).alias("v4"),
    )
    rules = s.select(
        F.expr(
            "stack(4, 'orderdate<=shipdate', v1, 'shipdate<=orderdate+90d', v2, "
            "'shipdate<=orderdate+121d', v3, 'shipdate<=2001-12-31', v4) "
            "AS (rule, n_violations)"
        ),
        "n_checked",
    )
    return rules.select(
        "rule",
        "n_checked",
        F.col("n_violations").cast("long").alias("n_violations"),
        round_int_ratio(F.col("n_violations"), F.col("n_checked")).alias("violation_rate"),
        (F.col("n_violations") == 0).alias("passed"),
    )


# ---------------------------------------------------------------------------
# 7. Functional-dependency audit (FD candidates: holds / violated)
# ---------------------------------------------------------------------------

# (label, table, lhs, rhs) — the key FD holds by construction; the
# other two are plausible-but-false dependencies the data violates,
# so the audit separates holds from fails.
_FD_CANDIDATES = [
    ("orders.o_orderkey->o_custkey", "orders", "o_orderkey", "o_custkey"),
    ("part.p_type->p_size", "part", "p_type", "p_size"),
    ("customer.c_nationkey->c_mktsegment", "customer", "c_nationkey", "c_mktsegment"),
]


def _fd_oracle() -> str:
    selects = []
    for label, table, lhs, rhs in _FD_CANDIDATES:
        selects.append(
            f"""
    SELECT '{label}' AS fd, CAST(count(*) AS BIGINT) AS n_lhs_values,
           CAST(sum(CASE WHEN n_rhs > 1 THEN 1 ELSE 0 END) AS BIGINT)
             AS n_violating_lhs,
           CAST(max(n_rhs) AS BIGINT) AS max_rhs_per_lhs,
           sum(CASE WHEN n_rhs > 1 THEN 1 ELSE 0 END) = 0 AS holds
    FROM (SELECT {lhs}, count(DISTINCT {rhs}) AS n_rhs
          FROM {table} GROUP BY {lhs})"""
        )
    return " UNION ALL ".join(selects)


@register("dq_functional_dependency_audit", oracle=_fd_oracle())
def dq_functional_dependency_audit(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Functional-dependency audit: for each declared FD candidate
    lhs -> rhs, count the lhs values bound to more than one rhs (FD
    violations), the worst fan-out, and whether the dependency holds
    — the schema-inference/normalization DQ primitive (is this column
    derivable? can this pair be a dimension key?). One candidate is a
    key FD that holds by construction, two are plausible-but-false,
    so both outcomes are exercised.

    Per FD: one groupBy on the lhs domain with a countDistinct,
    collapsed to a single audit row — partial aggregation makes the
    shuffle at most the lhs domain (a value domain for the attribute
    FDs; the key domain, i.e. one hash shuffle of the keys, for the
    key FD). The audits are independent scans unioned at constant
    size.
    """
    t = Tables(spark, sf_dir)
    outs = []
    for label, table, lhs, rhs in _FD_CANDIDATES:
        per_lhs = (
            getattr(t, table)
            .groupBy(lhs)
            .agg(F.countDistinct(rhs).alias("n_rhs"))
        )
        outs.append(
            per_lhs.agg(
                F.count(F.lit(1)).alias("n_lhs_values"),
                F.sum(F.when(F.col("n_rhs") > 1, 1).otherwise(0)).alias("n_violating_lhs"),
                F.max("n_rhs").alias("max_rhs_per_lhs"),
            ).select(
                F.lit(label).alias("fd"),
                "n_lhs_values",
                F.col("n_violating_lhs").cast("long").alias("n_violating_lhs"),
                "max_rhs_per_lhs",
                (F.col("n_violating_lhs") == 0).alias("holds"),
            )
        )
    out = outs[0]
    for o in outs[1:]:
        out = out.unionAll(o)
    return out


# ---------------------------------------------------------------------------
# 8. Wilcoxon signed-rank: paired daily view-vs-click volumes
# ---------------------------------------------------------------------------

WSR_TYPE_A = "view"
WSR_TYPE_B = "click"


def _wsr_oracle() -> str:
    return f"""
    WITH daily AS (
      SELECT CAST(ts AS DATE) AS day,
             CAST(sum(CASE WHEN event_type = '{WSR_TYPE_A}' THEN 1 ELSE 0 END)
               AS BIGINT) AS ca,
             CAST(sum(CASE WHEN event_type = '{WSR_TYPE_B}' THEN 1 ELSE 0 END)
               AS BIGINT) AS cb
      FROM events WHERE event_type IN ('{WSR_TYPE_A}', '{WSR_TYPE_B}')
      GROUP BY 1
    ), nz AS (
      SELECT abs(ca - cb) AS a, CASE WHEN ca > cb THEN 1 ELSE 0 END AS pos
      FROM daily WHERE ca <> cb
    ), grp AS (
      SELECT a, CAST(count(*) AS BIGINT) AS cnt,
             CAST(sum(pos) AS BIGINT) AS npos
      FROM nz GROUP BY a
    ), ranked AS (
      SELECT a, cnt, npos,
             2 * (sum(cnt) OVER (ORDER BY a) - cnt) + cnt + 1 AS r2
      FROM grp
    ), s AS (
      SELECT CAST(sum(cnt) AS BIGINT) AS n,
             CAST(sum(npos * r2) AS BIGINT) AS w2_plus,
             CAST(sum((cnt - npos) * r2) AS BIGINT) AS w2_minus,
             CAST(sum(cnt * cnt * cnt - cnt) AS BIGINT) AS tie3
      FROM ranked
    )
    SELECT n AS n_nonzero_days, w2_plus, w2_minus,
           CAST(floor(
             CAST(w2_plus - (n * (n + 1)) // 2 AS DOUBLE)
             / sqrt(CAST(2 * n * (n + 1) * (2 * n + 1) - tie3 AS DOUBLE) / 12.0)
             * 1000000.0 + 0.5) AS BIGINT) / 1000000.0 AS z_stat
    FROM s WHERE n > 0
    """


@register("stats_wilcoxon_signed_rank_daily", oracle=_wsr_oracle())
def stats_wilcoxon_signed_rank_daily(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Wilcoxon signed-rank test on paired daily volumes (views vs
    clicks, paired by calendar day): the PAIRED member of the
    nonparametric family — Mann-Whitney compares independent samples,
    this ranks the |differences| of matched pairs, the right test for
    "did the metric move day-over-day between two series".

    Zero differences drop (standard Wilcoxon); average ranks for ties
    are kept exact by DOUBLED ranks (2x the average rank of a tie run
    is always an integer: 2*cum_before + t + 1), so W+ and W- are
    exact integers in doubled units. The normal-approximation z uses
    the tie-corrected variance via the x12 integer form
    2n(n+1)(2n+1) - sum(t^3 - t), one double sqrt at the end —
    every operation before the final quantized z is integer.

    Scale: the fact scan partial-aggregates to calendar days; ranking
    happens on the distinct |difference| domain (bounded by the daily
    count range), a single tiny ordered pass.
    """
    t = Tables(spark, sf_dir)
    daily = (
        t.events.filter(F.col("event_type").isin(WSR_TYPE_A, WSR_TYPE_B))
        .groupBy(F.to_date("ts").alias("day"))
        .agg(
            F.sum(F.when(F.col("event_type") == WSR_TYPE_A, 1).otherwise(0)).alias("ca"),
            F.sum(F.when(F.col("event_type") == WSR_TYPE_B, 1).otherwise(0)).alias("cb"),
        )
    )
    nz = daily.filter(F.col("ca") != F.col("cb")).select(
        F.abs(F.col("ca") - F.col("cb")).alias("a"),
        F.when(F.col("ca") > F.col("cb"), 1).otherwise(0).alias("pos"),
    )
    grp = nz.groupBy("a").agg(
        F.count(F.lit(1)).alias("cnt"), F.sum("pos").alias("npos")
    )
    w_ord = Window.orderBy("a").rowsBetween(Window.unboundedPreceding, 0)
    ranked = grp.select(
        "a",
        "cnt",
        "npos",
        (2 * (F.sum("cnt").over(w_ord) - F.col("cnt")) + F.col("cnt") + 1).alias("r2"),
    )
    s = ranked.agg(
        F.sum("cnt").alias("n"),
        F.sum(F.col("npos") * F.col("r2")).alias("w2_plus"),
        F.sum((F.col("cnt") - F.col("npos")) * F.col("r2")).alias("w2_minus"),
        F.sum(F.col("cnt") * F.col("cnt") * F.col("cnt") - F.col("cnt")).alias("tie3"),
    )
    n = F.col("n")
    mean2 = (n * (n + 1) - (n * (n + 1)) % 2) / 2
    var12 = (2 * n * (n + 1) * (2 * n + 1) - F.col("tie3")).cast("double") / F.lit(12.0)
    z = (F.col("w2_plus") - mean2.cast("long")).cast("double") / F.sqrt(var12)
    return s.filter(n > 0).select(
        n.alias("n_nonzero_days"),
        "w2_plus",
        "w2_minus",
        (F.floor(z * F.lit(1e6) + F.lit(0.5)).cast("long") / F.lit(1e6)).alias("z_stat"),
    )


# ---------------------------------------------------------------------------
# 9. Log-rank test: ship-latency survival, returned vs accepted lines
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
# 10. Ljung-Box whiteness diagnostic over the daily order-count series
# ---------------------------------------------------------------------------

LB_MAX_LAG = 7


def _ljung_box_oracle() -> str:
    from ..functions.exact import sql_round_big_int_ratio

    lag_rows = " UNION ALL ".join(
        f"SELECT {k} AS k, num{k} AS num FROM nums" for k in range(1, LB_MAX_LAG + 1)
    )
    lead_cols = ",\n             ".join(
        f"lead(y, {k}) OVER (ORDER BY day) AS y{k}" for k in range(1, LB_MAX_LAG + 1)
    )
    num_cols = ",\n             ".join(
        f"CAST(sum(y * y{k}) AS BIGINT) AS num{k}" for k in range(1, LB_MAX_LAG + 1)
    )
    return f"""
    WITH daily AS (
      SELECT CAST(o_orderdate AS DATE) AS day,
             CAST(count(*) AS BIGINT) AS x
      FROM orders GROUP BY 1
    ), stat AS (
      SELECT CAST(count(*) AS BIGINT) AS n, CAST(sum(x) AS BIGINT) AS s
      FROM daily
    ), y AS (
      SELECT day, n * x - s AS y, n FROM daily, stat
    ), yl AS (
      SELECT y, n,
             {lead_cols}
      FROM y
    ), nums AS (
      SELECT max(n) AS n,
             CAST(sum(y * y) AS BIGINT) AS denom,
             {num_cols}
      FROM yl
    ), lags AS ({lag_rows}),
    rho AS (
      SELECT l.k, n.n, n.denom,
             CAST(CASE WHEN l.num < 0
               THEN -((2::HUGEINT * 1000000000 * (-l.num) + n.denom)
                      // (2::HUGEINT * n.denom))
               ELSE (2::HUGEINT * 1000000000 * l.num + n.denom)
                      // (2::HUGEINT * n.denom) END AS BIGINT) AS rho_u
      FROM lags l, nums n
    ), terms AS (
      SELECT k, n, rho_u,
             (2 * rho_u::HUGEINT * rho_u + (n - k)) // (2::HUGEINT * (n - k))
               AS term_u
      FROM rho
    ), cum AS (
      SELECT k, n, rho_u,
             CAST(sum(term_u) OVER (ORDER BY k) AS HUGEINT) AS cum_term
      FROM terms
    )
    SELECT k AS lag, n AS n_days,
           CAST(rho_u AS DOUBLE) / 1000000000.0 AS rho,
           {sql_round_big_int_ratio(
               'n::HUGEINT * (n + 2) * cum_term',
               '1000000000000000000::HUGEINT')} AS q_ljung_box
    FROM cum ORDER BY lag
    """


@register("stats_ljung_box_daily", oracle=_ljung_box_oracle())
def stats_ljung_box_daily(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Ljung-Box portmanteau statistic over the daily order-count
    series: autocorrelations rho_k for lags 1..7 and the cumulative
    Q(k) = n(n+2) * sum_{j<=k} rho_j^2/(n-j) — the standard whiteness
    diagnostic that turns the existing ACF machinery
    (``events_acf_daily_lags``) into a single test number per lag
    depth (large Q -> the series is not white noise; TPC-H order
    arrivals are near-uniform so Q stays small, a fixture-verified
    signature).

    Exactness: mean-centering is integer via n-scaling (y = n*x - S),
    so every autocovariance numerator and the variance denominator
    are exact int64 sums; rho quantizes to 1e-9 by exact half-up
    decimal division, the per-lag Q contribution rho_u^2/(n-k)
    likewise, and the cumulative Q is one decimal ratio per row. The
    ordered passes run on the calendar-day series (~2.4k rows) and
    the 7-row lag table — never on raw orders.
    """
    from ..functions.exact import round_big_int_ratio

    t = Tables(spark, sf_dir)
    daily = t.orders.groupBy(F.to_date("o_orderdate").alias("day")).agg(
        F.count(F.lit(1)).alias("x")
    )
    stat = daily.agg(F.count(F.lit(1)).alias("n"), F.sum("x").alias("s"))
    y = daily.crossJoin(F.broadcast(stat)).select(
        "day", (F.col("n") * F.col("x") - F.col("s")).alias("y"), "n"
    )
    w = Window.orderBy("day")
    num_aggs = [F.max("n").alias("n"), F.sum(F.col("y") * F.col("y")).alias("denom")]
    ycols = y.select(
        "y", "n", *[F.lead("y", k).over(w).alias(f"y{k}") for k in range(1, LB_MAX_LAG + 1)]
    )
    for k in range(1, LB_MAX_LAG + 1):
        num_aggs.append(F.sum(F.col("y") * F.col(f"y{k}")).alias(f"num{k}"))
    nums = ycols.agg(*num_aggs)
    lags = nums.select(
        "n",
        "denom",
        F.expr(
            "stack({}, {}) AS (k, num)".format(
                LB_MAX_LAG,
                ", ".join(f"{k}, num{k}" for k in range(1, LB_MAX_LAG + 1)),
            )
        ),
    )
    rho_a = F.lit(2 * 10**9).cast("decimal(38,0)") * F.abs(F.col("num")) + F.col("denom")
    rho_b = F.lit(2).cast("decimal(38,0)") * F.col("denom")
    rho_mag = ((rho_a - rho_a % rho_b) / rho_b).cast("long")
    rho = lags.select(
        "k",
        "n",
        F.when(F.col("num") < 0, -rho_mag).otherwise(rho_mag).alias("rho_u"),
    )
    t_a = F.lit(2).cast("decimal(38,0)") * F.col("rho_u") * F.col("rho_u") + (
        F.col("n") - F.col("k")
    )
    t_b = F.lit(2).cast("decimal(38,0)") * (F.col("n") - F.col("k"))
    terms = rho.select(
        "k", "n", "rho_u", ((t_a - t_a % t_b) / t_b).cast("long").alias("term_u")
    )
    w_k = Window.orderBy("k").rowsBetween(Window.unboundedPreceding, 0)
    cum = terms.select(
        "k", "n", "rho_u", F.sum(dec38(F.col("term_u"))).over(w_k).alias("cum_term")
    )
    return cum.select(
        F.col("k").alias("lag"),
        F.col("n").alias("n_days"),
        (F.col("rho_u").cast("double") / F.lit(1e9)).alias("rho"),
        round_big_int_ratio(
            dec38(F.col("n")) * (F.col("n") + 2) * F.col("cum_term"),
            F.lit(10**18).cast("decimal(38,0)"),
        ).alias("q_ljung_box"),
    ).orderBy("lag")


# ---------------------------------------------------------------------------
# 11. Simpson diversity of token frequencies per language
# ---------------------------------------------------------------------------


def _simpson_oracle() -> str:
    from .corpus import _SQL_TOKENS
    from ..functions.exact import sql_round_big_int_ratio

    return f"""
    WITH toks AS (
      SELECT lang, unnest({_SQL_TOKENS}) AS token FROM documents
    ), tc AS (
      SELECT lang, token, CAST(count(*) AS BIGINT) AS c
      FROM toks GROUP BY lang, token
    ), s AS (
      SELECT lang,
             CAST(sum(c) AS BIGINT) AS n_tokens,
             CAST(count(*) AS BIGINT) AS distinct_tokens,
             CAST(sum(c::HUGEINT * (c - 1)) AS HUGEINT) AS d2
      FROM tc GROUP BY lang
    )
    SELECT lang, n_tokens, distinct_tokens,
           {sql_round_big_int_ratio('d2', 'n_tokens::HUGEINT * (n_tokens - 1)', 9)}
             AS simpson_lambda,
           {sql_round_big_int_ratio('n_tokens::HUGEINT * (n_tokens - 1)', 'd2')}
             AS inv_simpson
    FROM s WHERE n_tokens >= 2 AND d2 > 0
    """


@register("text_simpson_diversity_by_lang", oracle=_simpson_oracle())
def text_simpson_diversity_by_lang(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Simpson diversity of the token distribution per language:
    lambda = sum n_i(n_i-1) / (N(N-1)) — the probability two tokens
    drawn without replacement are the same type — and its inverse
    (effective vocabulary size). The concentration dual of token
    entropy (entropy weighs the tail, Simpson the head), completing
    the text-diversity family alongside TTR/hapax and Zipf.

    Both statistics are exact integer ratios of pair counts (the
    unbiased finite-sample form, not the p_i^2 plug-in), so they
    hash-verify with no det-ln needed. Tokenization partial-
    aggregates to the (lang, token) vocabulary before any totals —
    shuffle volume is vocabulary-sized regardless of corpus size; the
    N(N-1) pair counts exceed int64 on real corpora, hence the
    decimal/HUGEINT ratio path.
    """
    from ..functions.exact import round_big_int_ratio
    from ..functions.textnorm import whitespace_tokens

    t = Tables(spark, sf_dir)
    toks = t.documents.select(
        "lang", F.explode(whitespace_tokens(F.col("text"))).alias("token")
    )
    tc = toks.groupBy("lang", "token").agg(F.count(F.lit(1)).alias("c"))
    s = tc.groupBy("lang").agg(
        F.sum("c").alias("n_tokens"),
        F.count(F.lit(1)).alias("distinct_tokens"),
        F.sum(dec38(F.col("c")) * (F.col("c") - 1)).alias("d2"),
    )
    pair_den = dec38(F.col("n_tokens")) * (F.col("n_tokens") - 1)
    return s.filter((F.col("n_tokens") >= 2) & (F.col("d2") > 0)).select(
        "lang",
        "n_tokens",
        "distinct_tokens",
        round_big_int_ratio(F.col("d2"), pair_den, 9).alias("simpson_lambda"),
        round_big_int_ratio(pair_den, F.col("d2")).alias("inv_simpson"),
    )
