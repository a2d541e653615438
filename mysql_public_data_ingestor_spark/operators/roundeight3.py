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

``stats_ljung_box_daily`` lives in ``operators/daily_hypothesis.py``
with the other daily-series queries.

``stats_cliffs_delta_discount``, ``stats_hodges_lehmann_quantity`` and
``stats_wilcoxon_signed_rank_daily`` live in
``operators/stats_rank.py``; ``stats_logrank_segments`` and
``stats_pythagorean_means_quantity`` live in ``operators/stats_dist.py``
with the other stats queries.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql.window import Window

from ..functions.exact import dec38
from ..registry import register
from ..tables import Tables


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
