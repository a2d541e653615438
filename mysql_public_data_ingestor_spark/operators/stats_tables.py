"""Contingency tables, agreement and proportions.

Independence and association in tables (chi-square, G-test, Cramér's V
and its bias-corrected form, Goodman–Kruskal lambda and tau, mutual
information, odds ratio, Mantel–Haenszel, Cochran–Armitage), paired
and multi-rater agreement over the document quality gates (McNemar,
Cochran's Q, Fleiss' kappa, Gwet's AC1, Krippendorff's alpha, Cronbach's
alpha, phi and Yule's Q), agreement between measurements (Lin's CCC,
Bland–Altman) and proportions (Wilson and Newcombe intervals,
empirical-Bayes beta-binomial shrinkage).

The gate flags come from ``operators/stats_samples.py``. Gates:
raw-frame oracle parity, plan bars and Python replicas in the
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
from .stats_samples import (
    _SQL_GATE_FLAGS,
    _SQL_GATE_FLAGS_AB,
    _SQL_GATE_SUMS,
    gate_flags,
    gate_sums,
)


# ---------------------------------------------------------------------------
# Wilson score interval for proportions (companion to the z-test)
# ---------------------------------------------------------------------------

WILSON_Z = 1.96  # 95% two-sided


def _wilson_oracle() -> str:
    z2 = f"({WILSON_Z!r}::DOUBLE * {WILSON_Z!r}::DOUBLE)"
    return f"""
    WITH base AS (
      SELECT c.c_nationkey,
             CAST(count(*) AS BIGINT) AS n,
             CAST(sum(CASE WHEN o.o_orderpriority = '1-URGENT' THEN 1 ELSE 0 END)
                  AS BIGINT) AS k
      FROM orders o JOIN customer c ON c.c_custkey = o.o_custkey
      GROUP BY 1
    ), w AS (
      SELECT c_nationkey, n, k,
             CAST(k AS DOUBLE) / CAST(n AS DOUBLE) AS p,
             {z2} / CAST(n AS DOUBLE) AS zn
      FROM base
    ), parts AS (
      SELECT c_nationkey, n, k,
             (p + zn * 0.5) / (1.0 + zn) AS center,
             ({WILSON_Z!r}::DOUBLE * sqrt(p * (1.0 - p) / CAST(n AS DOUBLE)
                                          + zn * 0.25 / CAST(n AS DOUBLE)))
               / (1.0 + zn) AS halfwidth
      FROM w
    )
    SELECT nn.n_name AS nation, n AS n_orders, k AS n_urgent,
           CAST(floor(center * 1000000.0 + 0.5) AS BIGINT) / 1000000.0
             AS wilson_center,
           CAST(floor((center - halfwidth) * 1000000.0 + 0.5) AS BIGINT)
             / 1000000.0 AS ci_lo,
           CAST(floor((center + halfwidth) * 1000000.0 + 0.5) AS BIGINT)
             / 1000000.0 AS ci_hi
    FROM parts JOIN nation nn ON nn.n_nationkey = parts.c_nationkey
    """


@register("stats_wilson_ci_by_nation", oracle=_wilson_oracle())
def stats_wilson_ci_by_nation(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Wilson score 95% confidence interval for the urgent-order rate
    per nation — the proportion CI that stays inside [0,1] and behaves
    at small n, complementing ``stats_proportions_ztest`` (which tests
    a difference; this bounds a level).

    Cross-engine exactness without integer gymnastics: the Wilson
    formula is +-*/sqrt only — every one of those is IEEE
    correctly-rounded on both engines — so mirroring the association
    order (and ::DOUBLE-casting the z constant, which DuckDB would
    otherwise parse as DECIMAL) makes the doubles bit-identical before
    the one micro-unit quantization. Scale: one partial-aggregated
    fact groupBy; everything downstream is |nations| rows.
    """
    t = Tables(spark, sf_dir)
    base = (
        t.orders.join(
            t.customer.select("c_custkey", "c_nationkey"),
            t.orders.o_custkey == F.col("c_custkey"),
        )
        .groupBy("c_nationkey")
        .agg(
            F.count(F.lit(1)).alias("n"),
            F.sum(
                F.when(F.col("o_orderpriority") == "1-URGENT", 1).otherwise(0)
            ).alias("k"),
        )
    )
    nd = F.col("n").cast("double")
    p = F.col("k").cast("double") / nd
    zn = F.lit(WILSON_Z * WILSON_Z) / nd
    center = (p + zn * F.lit(0.5)) / (F.lit(1.0) + zn)
    halfwidth = (
        F.lit(WILSON_Z)
        * F.sqrt(p * (F.lit(1.0) - p) / nd + zn * F.lit(0.25) / nd)
    ) / (F.lit(1.0) + zn)
    q6 = lambda c: F.floor(c * F.lit(1e6) + F.lit(0.5)).cast("long") / F.lit(1e6)  # noqa: E731
    return (
        base.join(
            F.broadcast(t.nation.select("n_nationkey", "n_name")),
            base.c_nationkey == F.col("n_nationkey"),
        )
        .select(
            F.col("n_name").alias("nation"),
            F.col("n").alias("n_orders"),
            F.col("k").alias("n_urgent"),
            q6(center).alias("wilson_center"),
            q6(center - halfwidth).alias("ci_lo"),
            q6(center + halfwidth).alias("ci_hi"),
        )
    )


# ---------------------------------------------------------------------------
# Cramér's V association: order priority x order status
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
# Log odds ratio of urgent orders per nation, Woolf CI
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
# McNemar's test on paired document-quality rules
# ---------------------------------------------------------------------------

def _mcnemar_oracle() -> str:
    from ..functions.exact import sql_round_int_ratio

    return f"""
    WITH {_SQL_GATE_FLAGS_AB}, agg AS (
      SELECT CAST(count(*) AS BIGINT) AS n_docs,
             CAST(sum(a * b) AS BIGINT) AS n_both,
             CAST(sum(a * (1 - b)) AS BIGINT) AS n_a_only,
             CAST(sum((1 - a) * b) AS BIGINT) AS n_b_only,
             CAST(sum((1 - a) * (1 - b)) AS BIGINT) AS n_neither
      FROM flags)
    SELECT n_docs, n_both, n_a_only, n_b_only, n_neither,
           CASE WHEN n_a_only + n_b_only > 0 THEN
             {sql_round_int_ratio(
                 '(n_a_only - n_b_only) * (n_a_only - n_b_only)',
                 'n_a_only + n_b_only')}
           END AS mcnemar_chi2
    FROM agg
    """


@register("stats_mcnemar_quality_rules", oracle=_mcnemar_oracle())
def stats_mcnemar_quality_rules(spark: SparkSession, sf_dir: str) -> DataFrame:
    """McNemar's test for PAIRED binary classifiers: do the char-length
    gate (n_chars >= {MCNEMAR_MIN_CHARS}) and the token-count gate
    (tokens >= {MCNEMAR_MIN_TOKENS}) disagree symmetrically on the same
    documents? The discordant-pair statistic (b - c)^2 / (b + c) is the
    right comparison for two quality filters evaluated on one corpus —
    marginal accuracy comparisons double-count the concordant mass.

    One scan, one 5-value aggregate; the statistic is an exact integer
    half-up ratio, NULL when there are no discordant pairs (fuzz
    profiles produce degenerate corpora where both gates agree
    everywhere).
    """
    from ..functions.exact import round_int_ratio

    t = Tables(spark, sf_dir)
    a, b, _ = gate_flags()
    flags = t.documents.select(a.alias("a"), b.alias("b"))
    agg = flags.agg(
        F.count(F.lit(1)).alias("n_docs"),
        F.sum(F.col("a") * F.col("b")).cast("long").alias("n_both"),
        F.sum(F.col("a") * (F.lit(1) - F.col("b"))).cast("long").alias("n_a_only"),
        F.sum((F.lit(1) - F.col("a")) * F.col("b")).cast("long").alias("n_b_only"),
        F.sum((F.lit(1) - F.col("a")) * (F.lit(1) - F.col("b")))
        .cast("long")
        .alias("n_neither"),
    )
    diff = F.col("n_a_only") - F.col("n_b_only")
    disc = F.col("n_a_only") + F.col("n_b_only")
    return agg.select(
        "n_docs",
        "n_both",
        "n_a_only",
        "n_b_only",
        "n_neither",
        F.when(disc > 0, round_int_ratio(diff * diff, disc)).alias("mcnemar_chi2"),
    )


# ---------------------------------------------------------------------------
# Cochran's Q across three document-quality gates
# ---------------------------------------------------------------------------

def _cochran_oracle() -> str:
    from ..functions.exact import sql_round_big_int_ratio

    return f"""
    WITH {_SQL_GATE_FLAGS}, agg AS (
      SELECT CAST(count(*) AS BIGINT) AS n_docs,
             CAST(sum(a) AS BIGINT) AS g_a,
             CAST(sum(b) AS BIGINT) AS g_b,
             CAST(sum(c) AS BIGINT) AS g_c,
             CAST(sum(a + b + c) AS BIGINT) AS sl,
             CAST(sum((a + b + c) * (a + b + c)) AS BIGINT) AS sll
      FROM flags)
    SELECT n_docs, g_a, g_b, g_c,
           CASE WHEN 3 * sl - sll > 0 THEN
             {sql_round_big_int_ratio(
                 '2 * (3 * (g_a::HUGEINT * g_a + g_b::HUGEINT * g_b '
                 '+ g_c::HUGEINT * g_c) - sl::HUGEINT * sl)',
                 '3 * sl - sll')}
           END AS cochran_q
    FROM agg
    """


@register("stats_cochran_q_gates", oracle=_cochran_oracle())
def stats_cochran_q_gates(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Cochran's Q for THREE paired binary quality gates (char-length,
    token-count, sentence-count) on the same documents — the k-gate
    generalization of the McNemar pair: do the gates admit
    significantly different fractions of the corpus?

    Q = (k-1) (k Sum G_j^2 - (Sum G_j)^2) / (k Sum L_i - Sum L_i^2)
    with G the per-gate totals and L the per-document pass counts —
    every term an exact integer off ONE scan (L in {{0..3}}, so the
    row-level squares are trivial), the statistic one exact half-up
    decimal ratio, NULL when every document passes all or no gates.
    """
    from ..functions.exact import round_big_int_ratio

    t = Tables(spark, sf_dir)
    a, b, cgate = gate_flags()
    li = a + b + cgate
    agg = t.documents.select(
        a.alias("a"), b.alias("b"), cgate.alias("c"), li.alias("l")
    ).agg(
        F.count(F.lit(1)).alias("n_docs"),
        F.sum("a").cast("long").alias("g_a"),
        F.sum("b").cast("long").alias("g_b"),
        F.sum("c").cast("long").alias("g_c"),
        F.sum("l").cast("long").alias("sl"),
        F.sum(F.col("l") * F.col("l")).cast("long").alias("sll"),
    )
    num = F.lit(2).cast("decimal(38,0)") * (
        F.lit(3).cast("decimal(38,0)")
        * (
            dec38(F.col("g_a")) * F.col("g_a")
            + dec38(F.col("g_b")) * F.col("g_b")
            + dec38(F.col("g_c")) * F.col("g_c")
        )
        - dec38(F.col("sl")) * F.col("sl")
    )
    den = F.lit(3) * F.col("sl") - F.col("sll")
    return agg.select(
        "n_docs",
        "g_a",
        "g_b",
        "g_c",
        F.when(den > 0, round_big_int_ratio(num, dec38(den))).alias("cochran_q"),
    )


# ---------------------------------------------------------------------------
# Mutual information: order priority x customer market segment (det-ln)
# ---------------------------------------------------------------------------


def _mi_oracle() -> str:
    from ..functions.detmath import sql_det_ln_steps
    from ..functions.exact import sql_round_big_int_ratio

    return f"""
    WITH j AS (
      SELECT o.o_orderpriority AS x, c.c_mktsegment AS y
      FROM orders o JOIN customer c ON o.o_custkey = c.c_custkey
    ), xy AS (
      SELECT x, y, CAST(count(*) AS BIGINT) AS n_xy FROM j GROUP BY x, y
    ), {sql_det_ln_steps('xy', 'n_xy', 'ln_xy', 9)},
    xs AS (
      SELECT x, CAST(sum(n_xy) AS BIGINT) AS n_x FROM xy GROUP BY x
    ), {sql_det_ln_steps('xs', 'n_x', 'ln_x', 9)},
    ys AS (
      SELECT y, CAST(sum(n_xy) AS BIGINT) AS n_y FROM xy GROUP BY y
    ), {sql_det_ln_steps('ys', 'n_y', 'ln_y', 9)},
    ns AS (
      SELECT CAST(sum(n_xy) AS BIGINT) AS n FROM xy
    ), {sql_det_ln_steps('ns', 'n', 'ln_n', 9)},
    mi AS (
      SELECT CAST(sum(c.n_xy::HUGEINT
                      * (n.ln_n + c.ln_xy - a.ln_x - b.ln_y)) AS HUGEINT)
               AS mi_num,
             CAST(max(n.n) AS BIGINT) AS n
      FROM ln_xy_rel c
      JOIN ln_x_rel a USING (x) JOIN ln_y_rel b USING (y)
      CROSS JOIN ln_n_rel n
    ), hx AS (
      SELECT CAST(sum(a.n_x::HUGEINT * a.ln_x) AS HUGEINT) AS s_x FROM ln_x_rel a
    ), hy AS (
      SELECT CAST(sum(b.n_y::HUGEINT * b.ln_y) AS HUGEINT) AS s_y FROM ln_y_rel b
    )
    SELECT m.n,
           {sql_round_big_int_ratio('m.mi_num', 'm.n::HUGEINT * 1000000000', 6)}
             AS mi_nats,
           {sql_round_big_int_ratio(
               '(SELECT max(ln_n) FROM ln_n_rel)::HUGEINT * m.n - hx.s_x',
               'm.n::HUGEINT * 1000000000', 6)} AS h_priority,
           {sql_round_big_int_ratio(
               '(SELECT max(ln_n) FROM ln_n_rel)::HUGEINT * m.n - hy.s_y',
               'm.n::HUGEINT * 1000000000', 6)} AS h_segment,
           {sql_round_big_int_ratio(
               'm.mi_num',
               '(SELECT max(ln_n) FROM ln_n_rel)::HUGEINT * m.n - hx.s_x', 6)}
             AS uncertainty_coeff
    FROM mi m, hx, hy
    """


@register("stats_mutual_info_priority_segment", oracle=_mi_oracle())
def stats_mutual_info_priority_segment(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Mutual information I(priority; segment) between order priority
    and the ordering customer's market segment, with both marginal
    entropies and the uncertainty coefficient U = I/H(priority) — the
    information-theoretic effect-size companion to
    ``stats_cramers_v_priority_status`` (chi-square measures departure
    from independence; MI measures it in nats).

    I = (1/N) sum_xy n_xy (ln N + ln n_xy - ln n_x - ln n_y): every ln
    is the deterministic fixed-point det-ln (dp=9) evaluated on the
    BOUNDED 5x5 joint table (never per row), so the summand is an exact
    integer and the sums are order-independent; the three outputs are
    exact half-up integer ratios. The only row-scaled work is the
    orders-customer equi-join (one shuffle each side; at 100 TB this is
    the standard co-partitioned fact join) feeding a partial-aggregated
    25-cell groupBy.
    """
    from ..functions.detmath import det_ln_q
    from ..functions.exact import round_big_int_ratio

    t = Tables(spark, sf_dir)
    j = t.orders.select("o_custkey", F.col("o_orderpriority").alias("x")).join(
        t.customer.select(F.col("c_custkey").alias("o_custkey"), F.col("c_mktsegment").alias("y")),
        "o_custkey",
    )
    xy = j.groupBy("x", "y").agg(F.count(F.lit(1)).alias("n_xy"))
    xy = xy.withColumn("ln_xy", det_ln_q(F.col("n_xy"), 9)).localCheckpoint(eager=False)
    xs = xy.groupBy("x").agg(F.sum("n_xy").alias("n_x"))
    xs = xs.withColumn("ln_x", det_ln_q(F.col("n_x"), 9))
    ys = xy.groupBy("y").agg(F.sum("n_xy").alias("n_y"))
    ys = ys.withColumn("ln_y", det_ln_q(F.col("n_y"), 9))
    ns = xy.agg(F.sum("n_xy").alias("n"))
    ns = ns.withColumn("ln_n", det_ln_q(F.col("n"), 9))
    mi = (
        xy.join(F.broadcast(xs), "x")
        .join(F.broadcast(ys), "y")
        .join(F.broadcast(ns))
        .agg(
            F.sum(
                dec38(F.col("n_xy"))
                * (F.col("ln_n") + F.col("ln_xy") - F.col("ln_x") - F.col("ln_y"))
            ).alias("mi_num"),
            F.max("n").alias("n"),
            F.max("ln_n").alias("ln_n"),
        )
    )
    hx = xs.agg(F.sum(dec38(F.col("n_x")) * F.col("ln_x")).alias("s_x"))
    hy = ys.agg(F.sum(dec38(F.col("n_y")) * F.col("ln_y")).alias("s_y"))
    out = mi.join(F.broadcast(hx)).join(F.broadcast(hy))
    n_dec = dec38(F.col("n"))
    nano = n_dec * F.lit(1_000_000_000)
    hx_num = dec38(F.col("ln_n")) * F.col("n") - F.col("s_x")
    hy_num = dec38(F.col("ln_n")) * F.col("n") - F.col("s_y")
    return out.select(
        "n",
        round_big_int_ratio(F.col("mi_num"), nano, 6).alias("mi_nats"),
        round_big_int_ratio(hx_num, nano, 6).alias("h_priority"),
        round_big_int_ratio(hy_num, nano, 6).alias("h_segment"),
        round_big_int_ratio(F.col("mi_num"), hx_num, 6).alias("uncertainty_coeff"),
    )


# ---------------------------------------------------------------------------
# Cronbach's alpha over the three document-quality gates
# ---------------------------------------------------------------------------


def _cronbach_oracle() -> str:
    from ..functions.exact import sql_round_big_int_ratio

    return f"""
    WITH {_SQL_GATE_FLAGS}, agg AS (
      SELECT CAST(count(*) AS BIGINT) AS n,
             CAST(sum(a) AS BIGINT) AS g_a,
             CAST(sum(b) AS BIGINT) AS g_b,
             CAST(sum(c) AS BIGINT) AS g_c,
             CAST(sum(a + b + c) AS BIGINT) AS sl,
             CAST(sum((a + b + c) * (a + b + c)) AS BIGINT) AS sll
      FROM flags
    ), vv AS (
      SELECT n, g_a, g_b, g_c,
             n::HUGEINT * sll - sl::HUGEINT * sl AS vt,
             (n::HUGEINT * g_a - g_a::HUGEINT * g_a)
             + (n::HUGEINT * g_b - g_b::HUGEINT * g_b)
             + (n::HUGEINT * g_c - g_c::HUGEINT * g_c) AS vi
      FROM agg
    )
    SELECT n AS n_docs, g_a, g_b, g_c,
           CASE WHEN vt > 0 THEN
             {sql_round_big_int_ratio('3::HUGEINT * (vt - vi)', '2::HUGEINT * vt')}
           END AS cronbach_alpha
    FROM vv
    """


@register("stats_cronbach_alpha_gates", oracle=_cronbach_oracle())
def stats_cronbach_alpha_gates(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Cronbach's alpha internal-consistency coefficient over the same
    three binary quality gates Cochran's Q tests
    (``stats_cochran_q_gates``: char-length, token-count,
    sentence-count): alpha = k/(k-1) * (1 - sum item variances /
    variance of the summed score) — Cochran asks whether the gates
    DISAGREE in pass rate; alpha asks whether they measure ONE
    underlying "quality" trait (the scale-reliability read a corpus
    team wants before collapsing gates into a single score).

    With binary items the population variances reduce to
    n*G_i - G_i^2 and n*sum(L^2) - (sum L)^2 — so alpha is ONE exact
    big-integer ratio off the same single-scan aggregate Cochran uses
    (k=3 hard-coded: 3(vt - vi) / 2 vt); no float enters at any
    point. NULL when the summed score is constant (zero variance).
    One scan to one row.
    """
    from ..functions.exact import round_big_int_ratio

    t = Tables(spark, sf_dir)
    a, b, c = gate_flags()
    li = a + b + c
    agg = t.documents.select(
        a.alias("a"), b.alias("b"), c.alias("c"), li.alias("l")
    ).agg(
        F.count(F.lit(1)).alias("n"),
        F.sum("a").cast("long").alias("g_a"),
        F.sum("b").cast("long").alias("g_b"),
        F.sum("c").cast("long").alias("g_c"),
        F.sum("l").cast("long").alias("sl"),
        F.sum(F.col("l") * F.col("l")).cast("long").alias("sll"),
    )
    nd = dec38(F.col("n"))
    vt = nd * F.col("sll") - dec38(F.col("sl")) * F.col("sl")
    vi = (
        (nd * F.col("g_a") - dec38(F.col("g_a")) * F.col("g_a"))
        + (nd * F.col("g_b") - dec38(F.col("g_b")) * F.col("g_b"))
        + (nd * F.col("g_c") - dec38(F.col("g_c")) * F.col("g_c"))
    )
    return agg.select(
        F.col("n").alias("n_docs"),
        "g_a",
        "g_b",
        "g_c",
        F.when(
            vt > 0,
            round_big_int_ratio(
                F.lit(3).cast("decimal(38,0)") * (vt - vi),
                F.lit(2).cast("decimal(38,0)") * vt,
            ),
        ).alias("cronbach_alpha"),
    )


# ---------------------------------------------------------------------------
# Mantel-Haenszel common odds ratio across nation strata
# ---------------------------------------------------------------------------

MH_EXPOSED = ("1-URGENT", "2-HIGH")


def _mh_oracle() -> str:
    from ..functions.exact import sql_round_big_int_ratio

    exp_in = ", ".join(f"'{p}'" for p in MH_EXPOSED)
    return f"""
    WITH j AS (
      SELECT c.c_nationkey AS blk,
             CASE WHEN o.o_orderpriority IN ({exp_in}) THEN 1 ELSE 0 END AS e,
             CASE WHEN o.o_orderstatus = 'F' THEN 1 ELSE 0 END AS y
      FROM orders o JOIN customer c ON o.o_custkey = c.c_custkey
    ), cells AS (
      SELECT blk,
             CAST(sum(e * y) AS BIGINT) AS a,
             CAST(sum(e * (1 - y)) AS BIGINT) AS b,
             CAST(sum((1 - e) * y) AS BIGINT) AS c,
             CAST(sum((1 - e) * (1 - y)) AS BIGINT) AS d,
             CAST(count(*) AS BIGINT) AS n
      FROM j GROUP BY blk
    ), terms AS (
      SELECT CAST(count(*) AS BIGINT) AS n_strata,
             CAST(sum((a::HUGEINT * d * 1000000) // n) AS HUGEINT) AS sum_ad_q,
             CAST(sum((b::HUGEINT * c * 1000000) // n) AS HUGEINT) AS sum_bc_q
      FROM cells WHERE n > 0
    )
    SELECT n_strata, CAST(sum_ad_q AS BIGINT) AS sum_ad_q,
           CAST(sum_bc_q AS BIGINT) AS sum_bc_q,
           CASE WHEN sum_bc_q > 0 THEN
             {sql_round_big_int_ratio('sum_ad_q', 'sum_bc_q')}
           END AS mh_odds_ratio
    FROM terms
    """


@register("stats_mantel_haenszel_priority_nation", oracle=_mh_oracle())
def stats_mantel_haenszel_priority_nation(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Mantel-Haenszel common odds ratio across nation strata:
    exposure = urgent/high priority, outcome = finished status,
    stratified by customer nation — THE confounder-adjusted 2x2
    association estimator (a crude pooled odds ratio is Simpson's-
    paradox bait when nation sizes and priority mixes differ; MH
    weights each stratum's ad/n and bc/n so only WITHIN-stratum
    contrasts count), completing the association family beside the
    crude odds ratio (Woolf CI) and Cramer's V.

    Deterministic variant: each stratum's ad/n and bc/n term is
    quantized to exact 1e-6 integer units BEFORE summation (floor
    division, identical both engines), so the two sums are exact
    int64 arithmetic and the final ratio one half-up big-ratio — no
    float accumulation order anywhere. One fact-scan aggregate to
    |nations| cells, then a constant-size reduce.
    """
    from ..functions.exact import round_big_int_ratio

    t = Tables(spark, sf_dir)
    j = t.orders.select(
        "o_custkey",
        F.col("o_orderpriority").isin(*MH_EXPOSED).cast("int").alias("e"),
        (F.col("o_orderstatus") == "F").cast("int").alias("y"),
    ).join(
        t.customer.select(
            F.col("c_custkey").alias("o_custkey"), F.col("c_nationkey").alias("blk")
        ),
        "o_custkey",
    )
    cells = j.groupBy("blk").agg(
        F.sum(F.col("e") * F.col("y")).alias("a"),
        F.sum(F.col("e") * (1 - F.col("y"))).alias("b"),
        F.sum((1 - F.col("e")) * F.col("y")).alias("c"),
        F.sum((1 - F.col("e")) * (1 - F.col("y"))).alias("d"),
        F.count(F.lit(1)).alias("n"),
    )
    terms = cells.filter(F.col("n") > 0).agg(
        F.count(F.lit(1)).alias("n_strata"),
        F.sum(
            F.expr("CAST(a AS DECIMAL(38,0)) * d * 1000000 div n").cast("long")
        ).alias("sum_ad_q"),
        F.sum(
            F.expr("CAST(b AS DECIMAL(38,0)) * c * 1000000 div n").cast("long")
        ).alias("sum_bc_q"),
    )
    return terms.select(
        "n_strata",
        "sum_ad_q",
        "sum_bc_q",
        F.when(
            F.col("sum_bc_q") > 0,
            round_big_int_ratio(dec38(F.col("sum_ad_q")), dec38(F.col("sum_bc_q"))),
        ).alias("mh_odds_ratio"),
    )


# ===========================================================================
# Batch 6 (round-10 continuation)
# ===========================================================================


# ---------------------------------------------------------------------------
# G-test of independence (day-of-week x event type)
# ---------------------------------------------------------------------------


def _gtest_oracle() -> str:
    from ..functions.detmath import sql_det_ln_steps

    return f"""
    WITH cells AS (
      SELECT CAST(dayofweek(CAST(ts AS DATE)) AS BIGINT) AS dow,
             event_type, CAST(count(*) AS BIGINT) AS o
      FROM events GROUP BY 1, 2
    ), margins AS (
      SELECT c.dow, c.event_type, c.o,
             r.r, col.c, t.n
      FROM cells c
      JOIN (SELECT dow, CAST(sum(o) AS BIGINT) AS r FROM cells GROUP BY dow) r
        ON r.dow = c.dow
      JOIN (SELECT event_type, CAST(sum(o) AS BIGINT) AS c FROM cells
            GROUP BY event_type) col
        ON col.event_type = c.event_type
      JOIN (SELECT CAST(sum(o) AS BIGINT) AS n FROM cells) t ON true
    ), args AS (
      SELECT dow, event_type, o, r, c, n,
             o * n AS arg_on, r * c AS arg_rc
      FROM margins
    ), {sql_det_ln_steps('args', 'arg_on', 'lon')},
    {sql_det_ln_steps('lon_rel', 'arg_rc', 'lrc')},
    terms AS (
      SELECT CAST(sum(o) AS BIGINT) AS n,
             CAST(count(DISTINCT dow) AS BIGINT) AS nr,
             CAST(count(DISTINCT event_type) AS BIGINT) AS nc,
             CAST(sum(o * (lon - lrc)) AS BIGINT) AS gsum
      FROM lrc_rel
    )
    SELECT n, (nr - 1) * (nc - 1) AS df,
           CAST(2 * gsum AS BIGINT) / 1000000.0 AS g_stat
    FROM terms
    """


@register("stats_g_test_dow_type", oracle=_gtest_oracle())
def stats_g_test_dow_type(spark: SparkSession, sf_dir: str) -> DataFrame:
    """G-test (likelihood-ratio chi-square) of independence between
    day-of-week and event type: G = 2 Σ O·ln(O·N/(R·C)) over the
    7×5-bounded contingency grid — the LR companion to the Pearson
    chi-square already in the family (stats_chi_square_lang_source);
    G is additive under partitioning and better-behaved at small
    expected counts, so it is the one mutual-information decomposes
    into (G = 2N·MI in nats).

    Every log argument is an exact integer (O·N and R·C, ≤ ~10¹⁵ at
    sf1×10 — inside 2⁵³), ln via the det_ln_q twins, the G sum a pure
    int64 accumulation with ONE final /10⁶ display division. Zero
    cells contribute nothing by construction (grid rows only exist
    for observed cells). The fact scan partial-aggregates to ≤ 35
    cells before margins join — three broadcast-size equi-joins on a
    bounded grid, no data-scaled shuffle beyond the first aggregate.
    """
    from ..functions.detmath import det_ln_q

    t = Tables(spark, sf_dir)
    cells = t.events.groupBy(
        F.dayofweek(F.to_date("ts")).cast("long").alias("dow"), "event_type"
    ).agg(F.count(F.lit(1)).alias("o"))
    r = cells.groupBy("dow").agg(F.sum("o").alias("r"))
    c = cells.groupBy("event_type").agg(F.sum("o").alias("c"))
    n = cells.agg(F.sum("o").alias("n"))
    m = (
        cells.join(F.broadcast(r), "dow")
        .join(F.broadcast(c), "event_type")
        .crossJoin(F.broadcast(n))
    )
    term = F.col("o") * (
        det_ln_q(F.col("o") * F.col("n")) - det_ln_q(F.col("r") * F.col("c"))
    )
    agg = m.agg(
        F.sum("o").alias("n"),
        F.countDistinct("dow").alias("nr"),
        F.countDistinct("event_type").alias("nc"),
        F.sum(term).alias("gsum"),
    )
    return agg.select(
        "n",
        ((F.col("nr") - 1) * (F.col("nc") - 1)).alias("df"),
        ((F.lit(2) * F.col("gsum")) / F.lit(1e6)).alias("g_stat"),
    )


# ---------------------------------------------------------------------------
# Fleiss' kappa over the three shared quality-gate "raters"
# ---------------------------------------------------------------------------


def _fleiss_oracle() -> str:
    from ..functions.exact import sql_round_big_int_ratio

    return f"""
    WITH {_SQL_GATE_SUMS}, terms AS (
      SELECT n, sl, sll, 3 * n AS t,
             (sll - 3 * sl + 3 * n) AS pbar_num,
             (sl * sl + (3 * n - sl) * (3 * n - sl)) AS pe_num
      FROM agg
    )
    SELECT CAST(n AS BIGINT) AS n_docs,
           CAST(sl AS BIGINT) AS total_passes,
           {sql_round_big_int_ratio('pbar_num', '3 * n')} AS p_bar,
           {sql_round_big_int_ratio('pe_num', 't * t')} AS p_e,
           CASE WHEN 3 * n * t * t - 3 * n * pe_num > 0 THEN
             {sql_round_big_int_ratio(
                 'pbar_num * t * t - 3 * n * pe_num',
                 '3 * n * t * t - 3 * n * pe_num')}
           END AS fleiss_kappa
    FROM terms
    """


@register("stats_fleiss_kappa_gates", oracle=_fleiss_oracle())
def stats_fleiss_kappa_gates(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Fleiss' kappa treating the three shared binary quality gates
    (char-length, token-count, sentence-count — the SAME gate
    constants as ``stats_cochran_q_gates`` and the McNemar pair, the
    shared-derivation rule) as three raters classifying each document
    pass/fail: chance-corrected AGREEMENT, the complement of Cochran's
    Q (Q asks whether the gates admit different fractions; kappa asks
    whether they agree on WHICH documents, which is what deciding to
    collapse redundant gates needs).

    With binary categories and m=3 raters, P_i = (L^2-3L+3)/3 for
    per-doc pass count L, so P-bar = (SLL-3SL+3n)/(3n) and
    P_e = (SL^2+(T-SL)^2)/T^2 with T = 3n — kappa reduces to one
    half-up 1e-6 ratio of exact decimal(38,0)/HUGEINT polynomials in
    the three sufficient sums (n, SL, SLL) off ONE scan.
    """
    from ..functions.exact import round_big_int_ratio

    agg = gate_sums(Tables(spark, sf_dir))
    tt = 3 * F.col("n")
    pbar_num = F.col("sll") - 3 * F.col("sl") + 3 * F.col("n")
    pe_num = F.col("sl") * F.col("sl") + (tt - F.col("sl")) * (tt - F.col("sl"))
    kden = 3 * F.col("n") * tt * tt - 3 * F.col("n") * pe_num
    return agg.select(
        F.col("n").cast("long").alias("n_docs"),
        F.col("sl").cast("long").alias("total_passes"),
        round_big_int_ratio(pbar_num, 3 * F.col("n")).alias("p_bar"),
        round_big_int_ratio(pe_num, tt * tt).alias("p_e"),
        F.when(
            kden > 0,
            round_big_int_ratio(
                pbar_num * tt * tt - 3 * F.col("n") * pe_num, kden
            ),
        ).alias("fleiss_kappa"),
    )


# ---------------------------------------------------------------------------
# dow x hour independence chi-square
# ---------------------------------------------------------------------------


def _dowhour_oracle() -> str:
    hd = sql_halfup_div
    return f"""
    WITH cells AS (
      SELECT CAST(isodow(CAST(ts AS DATE)) AS BIGINT) AS dow,
             CAST(extract(hour FROM ts) AS BIGINT) AS hr,
             CAST(count(*) AS HUGEINT) AS o
      FROM events GROUP BY 1, 2
    ), margins AS (
      SELECT dow, CAST(sum(o) AS HUGEINT) AS rd FROM cells GROUP BY dow
    ), cols AS (
      SELECT hr, CAST(sum(o) AS HUGEINT) AS ch FROM cells GROUP BY hr
    ), nn AS (SELECT CAST(sum(o) AS HUGEINT) AS n FROM cells),
    terms AS (
      SELECT c.dow, c.hr, c.o, m.rd, h.ch,
             {hd('1000000::HUGEINT * (n.n * c.o - m.rd * h.ch)'
                 ' * (n.n * c.o - m.rd * h.ch)',
                 'n.n * m.rd * h.ch')} AS contrib
      FROM cells c
      JOIN margins m ON m.dow = c.dow
      JOIN cols h ON h.hr = c.hr, nn n
    )
    SELECT dow, hr, CAST(o AS BIGINT) AS n_events,
           CAST(contrib AS BIGINT) AS chi2_contrib_micro
    FROM terms ORDER BY dow, hr
    """


@register("stats_chi2_dow_hour_independence", oracle=_dowhour_oracle())
def stats_chi2_dow_hour_independence(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Chi-square independence test between ISO weekday and hour of
    day on the event stream — the decision statistic for whether ONE
    hour-of-day baseline (``events_seasonal_hourly_baseline``) serves
    all weekdays or each weekday needs its own profile: under
    independence the dow x hour cell counts factor into the margins,
    and a large chi-square says the hourly shape itself changes by
    weekday (the heatmap op shows the picture; this is the test).

    Exactness: each cell's (N o - r c)^2 / (N r c) is one half-up
    1e-6 division of exact decimal(38,0)/HUGEINT products (the G-test
    convention, observed cells only — structural zeros contribute 0 to
    Pearson's statistic). Sum the contrib column for the statistic
    (df = (7-1)(24-1)).

    Scale shape: one scan to <=168 cells; everything after is
    bounded-grid algebra.
    """
    t = Tables(spark, sf_dir)
    cells = t.events.groupBy(
        (F.weekday(F.to_date("ts")) + 1).cast("long").alias("dow"),
        F.hour("ts").cast("long").alias("hr"),
    ).agg(dec38(F.count(F.lit(1))).alias("o"))
    margins = cells.groupBy("dow").agg(F.sum("o").alias("rd"))
    cols = cells.groupBy("hr").agg(F.sum("o").alias("ch"))
    nn = cells.agg(F.sum("o").alias("n"))
    m6 = F.lit(1_000_000).cast("decimal(38,0)")
    diff = F.col("n") * F.col("o") - F.col("rd") * F.col("ch")
    return (
        cells.join(F.broadcast(margins), "dow")
        .join(F.broadcast(cols), "hr")
        .crossJoin(F.broadcast(nn))
        .select(
            "dow",
            "hr",
            F.col("o").cast("long").alias("n_events"),
            # micro units: 1e6 (No - rc)^2 / (N r c) — an earlier draft
            # multiplied BOTH sides by 1e6 (cancelling, so contributions
            # truncated to whole units identically in both engines and
            # parity stayed green); the replica's float chi-square
            # anchor caught it — the §5i.11 twin-sided class again
            halfup_div(m6 * diff * diff, F.col("n") * F.col("rd") * F.col("ch"))
            .cast("long")
            .alias("chi2_contrib_micro"),
        )
        .orderBy("dow", "hr")
    )


# ---------------------------------------------------------------------------
# Cochran–Armitage trend test: order status across ordered priorities
# ---------------------------------------------------------------------------


def _armitage_oracle() -> str:
    hd = sql_halfup_div
    return f"""
    WITH lab AS (
      SELECT CAST(substr(o_orderpriority, 1, 1) AS BIGINT) AS j,
             CASE WHEN o_orderstatus = 'F' THEN 1 ELSE 0 END AS pos
      FROM orders
    ), cells AS (
      SELECT j, CAST(count(*) AS HUGEINT) AS n_j,
             CAST(sum(pos) AS HUGEINT) AS r_j
      FROM lab GROUP BY j
    ), tot AS (
      SELECT CAST(sum(n_j) AS HUGEINT) AS n,
             CAST(sum(r_j) AS HUGEINT) AS r,
             CAST(sum(j * n_j) AS HUGEINT) AS sns,
             CAST(sum(j * j * n_j) AS HUGEINT) AS snss
      FROM cells
    ), tstat AS (
      SELECT t.n, t.r,
             (SELECT sum(c.j * (t.n * c.r_j - c.n_j * t.r)) FROM cells c) AS tn,
             (t.r * (t.n - t.r) * (t.n * t.snss - t.sns * t.sns)) AS var_s
      FROM tot t
    )
    SELECT c.j, CAST(c.n_j AS BIGINT) AS n_orders, CAST(c.r_j AS BIGINT) AS n_pos,
           CAST({hd('1000000::HUGEINT * c.r_j', 'c.n_j')} AS BIGINT)
             AS p_hat_micro,
           CASE WHEN t.var_s > 0 THEN
             CAST({hd('1000000::HUGEINT * t.tn * t.tn * t.n', 't.var_s')} AS BIGINT)
               * (CASE WHEN t.tn < 0 THEN -1 ELSE 1 END)
           END AS trend_z_sq_signed_micro
    FROM cells c, tstat t ORDER BY c.j
    """


@register("stats_cochran_armitage_trend", _armitage_oracle())
def stats_cochran_armitage_trend(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Cochran–Armitage trend test: does the proportion of finished
    ('F') orders TREND monotonically across the five ordered priority
    levels? The chi-square independence family
    (``stats_chi_square_lang_source``, ``stats_g_test_dow_type``)
    spends its df on ANY deviation; this test spends ONE df on the
    ordered alternative — far more powerful when the question is "does
    urgency change the outcome RATE monotonically", the same reason
    ``stats_jonckheere_terpstra_priority`` exists for continuous
    outcomes (this is its binary-outcome sibling).

    Exactness: T*N = sum_j j (N r_j - n_j R) and Var*N^3 =
    R(N-R)(N sum n j^2 - (sum n j)^2) are exact integers; the signed
    squared statistic Z^2 = (TN)^2 N / Var*N^3-scaled is ONE half-up
    1e-6 division, sign carried from T (positive = completion rate
    rises toward LOW priority numbers... i.e. with j).

    Scale shape: one fact scan partial-aggregating to 5 (priority)
    cells; everything after is 5-row algebra.
    """
    t = Tables(spark, sf_dir)
    lab = t.orders.select(
        F.substring("o_orderpriority", 1, 1).cast("long").alias("j"),
        F.when(F.col("o_orderstatus") == "F", 1).otherwise(0).alias("pos"),
    )
    cells = lab.groupBy("j").agg(
        dec38(F.count(F.lit(1))).alias("n_j"), dec38(F.sum("pos")).alias("r_j")
    )
    tot = cells.agg(
        F.sum("n_j").alias("n"),
        F.sum("r_j").alias("r"),
        F.sum(dec38(F.col("j")) * F.col("n_j")).alias("sns"),
        F.sum(dec38(F.col("j")) * F.col("j") * F.col("n_j")).alias("snss"),
    )
    tn_parts = cells.crossJoin(F.broadcast(tot)).agg(
        F.sum(
            dec38(F.col("j")) * (F.col("n") * F.col("r_j") - F.col("n_j") * F.col("r"))
        ).alias("tn")
    )
    m6 = F.lit(1_000_000).cast("decimal(38,0)")
    stat = (
        tot.crossJoin(F.broadcast(tn_parts))
        .select(
            "tn",
            (
                F.col("r")
                * (F.col("n") - F.col("r"))
                * (F.col("n") * F.col("snss") - F.col("sns") * F.col("sns"))
            ).alias("var_s"),
            "n",
        )
    )
    return (
        cells.crossJoin(F.broadcast(stat))
        .select(
            "j",
            F.col("n_j").cast("long").alias("n_orders"),
            F.col("r_j").cast("long").alias("n_pos"),
            halfup_div(m6 * F.col("r_j"), F.col("n_j")).cast("long").alias("p_hat_micro"),
            F.when(
                F.col("var_s") > 0,
                halfup_div(m6 * F.col("tn") * F.col("tn") * F.col("n"), F.col("var_s"))
                * F.when(F.col("tn") < 0, F.lit(-1)).otherwise(F.lit(1)),
            )
            .cast("long")
            .alias("trend_z_sq_signed_micro"),
        )
        .orderBy("j")
    )


# ---------------------------------------------------------------------------
# Empirical-Bayes beta-binomial shrinkage of per-nation rates
# ---------------------------------------------------------------------------


def _eb_oracle() -> str:
    hd = sql_halfup_div
    return f"""
    WITH rates AS (
      SELECT n.n_name AS nation,
             CAST(count(*) AS HUGEINT) AS n_orders,
             CAST(sum(CASE WHEN o.o_orderstatus = 'F' THEN 1 ELSE 0 END)
                  AS HUGEINT) AS k_pos
      FROM orders o
      JOIN customer c ON c.c_custkey = o.o_custkey
      JOIN nation n ON n.n_nationkey = c.c_nationkey
      GROUP BY n.n_name
    ), pm AS (
      SELECT nation, n_orders, k_pos,
             {hd('1000000::HUGEINT * k_pos', 'n_orders')} AS p_micro
      FROM rates
    ), gstats AS (
      SELECT CAST(count(*) AS HUGEINT) AS g,
             CAST(sum(p_micro) AS HUGEINT) AS sp,
             CAST(sum({hd('1000000000::HUGEINT', 'n_orders')}) AS HUGEINT)
               AS s_inv_nano
      FROM pm
    ), pbar AS (
      SELECT g, s_inv_nano, {hd('sp', 'g')} AS pbar_micro FROM gstats
    ), s2 AS (
      SELECT pb.g, pb.pbar_micro, pb.s_inv_nano,
             {hd('CAST((SELECT sum((p_micro - pb.pbar_micro)'
                 ' * (p_micro - pb.pbar_micro)) FROM pm) AS HUGEINT)',
                 'pb.g - 1')} AS s2_pico,
             {hd('pb.s_inv_nano', 'pb.g')} AS mean_inv_nano
      FROM pbar pb
    ), mo AS (
      SELECT g, pbar_micro,
             s2_pico,
             {hd('pbar_micro * (1000000 - pbar_micro) * mean_inv_nano',
                 '1000000000::HUGEINT')} AS vw_pico
      FROM s2
    ), m AS (
      SELECT g, pbar_micro, s2_pico, vw_pico,
             CASE WHEN s2_pico - vw_pico > 0 THEN
               greatest({hd('1000::HUGEINT * pbar_micro * (1000000 - pbar_micro)',
                            's2_pico - vw_pico')} - 1000, 0)
             END AS m_milli
      FROM mo
    )
    SELECT r.nation, CAST(r.n_orders AS BIGINT) AS n_orders,
           CAST(r.k_pos AS BIGINT) AS n_pos,
           CAST(p.p_micro AS BIGINT) AS raw_micro,
           CAST(m.m_milli AS BIGINT) AS prior_strength_milli,
           CAST(CASE WHEN m.m_milli IS NULL THEN m.pbar_micro ELSE
             {hd('1000000000::HUGEINT * r.k_pos + m.m_milli * m.pbar_micro',
                 '1000::HUGEINT * r.n_orders + m.m_milli')}
           END AS BIGINT) AS shrunk_micro,
           CAST(CASE WHEN m.m_milli IS NULL THEN 1000 ELSE
             {hd('1000::HUGEINT * m.m_milli',
                 '1000::HUGEINT * r.n_orders + m.m_milli')}
           END AS BIGINT) AS prior_weight_milli
    FROM rates r JOIN pm p ON p.nation = r.nation, m
    ORDER BY r.nation
    """


@register("stats_eb_beta_binomial_shrinkage", _eb_oracle())
def stats_eb_beta_binomial_shrinkage(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Empirical-Bayes shrinkage of per-nation order-completion rates:
    method-of-moments beta-binomial prior (strength M = p(1-p)/tau^2
    - 1 pseudo-observations of the global rate, tau^2 the between-
    nation variance in excess of binomial sampling noise), then
    shrunk_i = (k_i + M pbar)/(n_i + M). THE standard fix for
    small-sample league tables — raw per-segment rates over-disperse
    and the smallest segments dominate both tails
    (``stats_wilson_ci_by_nation`` widens intervals; this moves the
    ESTIMATE, which is what a ranking or alert threshold consumes).
    When tau^2 <= 0 (no evidence of real between-nation variation)
    the estimator degenerates to the global rate, reported as NULL
    prior strength + full prior weight.

    Exactness: the whole MoM chain runs in staged fixed-point integers
    (rates micro, variances pico, inverse sizes nano, M milli) — every
    step one half-up division of exact integers, identical on both
    engines; the replica re-runs the integer chain AND anchors against
    the float MoM formulas.

    Scale shape: one orders scan with two broadcast dimension joins to
    25 nation cells; the MoM is 25-row algebra.
    """
    t = Tables(spark, sf_dir)
    rates = (
        t.orders.join(
            F.broadcast(t.customer.select("c_custkey", "c_nationkey")),
            F.col("o_custkey") == F.col("c_custkey"),
        )
        .join(
            F.broadcast(t.nation.select("n_nationkey", "n_name")),
            F.col("c_nationkey") == F.col("n_nationkey"),
        )
        .groupBy(F.col("n_name").alias("nation"))
        .agg(
            dec38(F.count(F.lit(1))).alias("n_orders"),
            dec38(
                F.sum(F.when(F.col("o_orderstatus") == "F", 1).otherwise(0))
            ).alias("k_pos"),
        )
    )
    m6 = F.lit(1_000_000).cast("decimal(38,0)")
    g9 = F.lit(10**9).cast("decimal(38,0)")
    pm = rates.select(
        "nation",
        "n_orders",
        "k_pos",
        halfup_div(m6 * F.col("k_pos"), F.col("n_orders")).alias("p_micro"),
        halfup_div(g9, F.col("n_orders")).alias("inv_nano"),
    )
    gstats = pm.agg(
        dec38(F.count(F.lit(1))).alias("g"),
        F.sum("p_micro").alias("sp"),
        F.sum("inv_nano").alias("s_inv_nano"),
    ).select(
        "g",
        "s_inv_nano",
        halfup_div(F.col("sp"), F.col("g")).alias("pbar_micro"),
    )
    s2 = (
        pm.crossJoin(F.broadcast(gstats))
        .agg(
            F.sum(
                (F.col("p_micro") - F.col("pbar_micro"))
                * (F.col("p_micro") - F.col("pbar_micro"))
            ).alias("sdev2"),
            F.max("g").alias("g"),
            F.max("pbar_micro").alias("pbar_micro"),
            F.max("s_inv_nano").alias("s_inv_nano"),
        )
        .select(
            "g",
            "pbar_micro",
            halfup_div(F.col("sdev2"), F.col("g") - 1).alias("s2_pico"),
            halfup_div(F.col("s_inv_nano"), F.col("g")).alias("mean_inv_nano"),
        )
    )
    mo = s2.select(
        "g",
        "pbar_micro",
        "s2_pico",
        halfup_div(
            F.col("pbar_micro") * (m6 - F.col("pbar_micro")) * F.col("mean_inv_nano"),
            g9,
        ).alias("vw_pico"),
    )
    k3 = F.lit(1000).cast("decimal(38,0)")
    mm = mo.select(
        "pbar_micro",
        F.when(
            F.col("s2_pico") - F.col("vw_pico") > 0,
            F.greatest(
                halfup_div(
                    k3 * F.col("pbar_micro") * (m6 - F.col("pbar_micro")),
                    F.col("s2_pico") - F.col("vw_pico"),
                )
                - 1000,
                F.lit(0).cast("decimal(38,0)"),
            ),
        ).alias("m_milli"),
    )
    out = pm.crossJoin(F.broadcast(mm))
    shrunk = F.when(F.col("m_milli").isNull(), F.col("pbar_micro")).otherwise(
        halfup_div(
            g9 * F.col("k_pos") + F.col("m_milli") * F.col("pbar_micro"),
            k3 * F.col("n_orders") + F.col("m_milli"),
        )
    )
    weight = F.when(F.col("m_milli").isNull(), F.lit(1000)).otherwise(
        halfup_div(k3 * F.col("m_milli"), k3 * F.col("n_orders") + F.col("m_milli"))
    )
    return out.select(
        "nation",
        F.col("n_orders").cast("long").alias("n_orders"),
        F.col("k_pos").cast("long").alias("n_pos"),
        F.col("p_micro").cast("long").alias("raw_micro"),
        F.col("m_milli").cast("long").alias("prior_strength_milli"),
        shrunk.cast("long").alias("shrunk_micro"),
        weight.cast("long").alias("prior_weight_milli"),
    ).orderBy("nation")


# ---------------------------------------------------------------------------
# Lin's concordance between header total and line-derived total
# ---------------------------------------------------------------------------


def _ccc_oracle() -> str:
    hd = sql_halfup_div
    return f"""
    WITH lx AS (
      SELECT l_orderkey,
             CAST(sum(CAST(floor(l_extendedprice * (1 - l_discount)
                                 * (1 + l_tax) * 100.0 + 0.5) AS BIGINT))
                  AS HUGEINT) AS y
      FROM lineitem GROUP BY l_orderkey
    ), pairs AS (
      SELECT CAST(floor(o.o_totalprice * 100.0 + 0.5) AS HUGEINT) AS x, lx.y
      FROM orders o JOIN lx ON lx.l_orderkey = o.o_orderkey
    ), s AS (
      SELECT CAST(count(*) AS HUGEINT) AS n,
             CAST(sum(x) AS HUGEINT) AS sx, CAST(sum(y) AS HUGEINT) AS sy,
             CAST(sum(x * x) AS HUGEINT) AS sxx,
             CAST(sum(y * y) AS HUGEINT) AS syy,
             CAST(sum(x * y) AS HUGEINT) AS sxy
      FROM pairs
    )
    SELECT CAST(n AS BIGINT) AS n_orders,
           CAST(sx AS BIGINT) AS sum_header_cents,
           CAST(sy AS BIGINT) AS sum_lines_cents,
           CASE WHEN (n * sxx - sx * sx) + (n * syy - sy * sy)
                     + (sx - sy) * (sx - sy) > 0 THEN
             CAST({hd('1000000::HUGEINT * 2 * (n * sxy - sx * sy)',
                      '(n * sxx - sx * sx) + (n * syy - sy * sy)'
                      ' + (sx - sy) * (sx - sy)')} AS BIGINT)
           END AS ccc_micro
    FROM s
    """


@register("stats_lin_ccc_reconciliation", oracle=_ccc_oracle())
def stats_lin_ccc_reconciliation(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Lin's concordance correlation coefficient (1989) between the
    order HEADER total and the LINE-DERIVED total (sum of
    extendedprice * (1-discount) * (1+tax) per order): CCC = 2 s_xy /
    (s_x^2 + s_y^2 + (mean_x - mean_y)^2) measures agreement with the
    45-degree line, penalizing BOTH scatter and systematic bias.
    ``dq_order_lineitem_reconciliation`` counts mismatching orders;
    CCC is the agreement COEFFICIENT a data-contract dashboard trends
    (a CCC drifting from 1 flags creeping formula drift even while
    the mismatch count stays noisy) — the method-comparison statistic
    of clinical chemistry applied to warehouse reconciliation.

    Exactness: both totals quantize to cents once (floor(x*100+0.5),
    the identical double sequence on both engines); all five
    sufficient sums are exact integers; clearing n^2 gives CCC =
    2(n Sxy - Sx Sy) / ((n Sxx - Sx^2) + (n Syy - Sy^2) + (Sx-Sy)^2)
    — ONE half-up micro division, NULL-guarded degenerate.

    Scale shape: one lineitem scan grouped by orderkey, one orders
    scan, one co-keyed equi-join, one sufficient-sum aggregate.
    """
    t = Tables(spark, sf_dir)
    lx = t.lineitem.groupBy("l_orderkey").agg(
        F.sum(
            F.floor(
                F.col("l_extendedprice")
                * (1 - F.col("l_discount"))
                * (1 + F.col("l_tax"))
                * 100.0
                + 0.5
            ).cast("long")
        ).alias("y")
    )
    pairs = t.orders.select(
        F.col("o_orderkey").alias("l_orderkey"),
        order_cents().alias("x"),
    ).join(lx, "l_orderkey")
    s = pairs.agg(
        dec38(F.count(F.lit(1))).alias("n"),
        dec38(F.sum("x")).alias("sx"),
        dec38(F.sum("y")).alias("sy"),
        F.sum(dec38(F.col("x")) * F.col("x")).alias("sxx"),
        F.sum(dec38(F.col("y")) * F.col("y")).alias("syy"),
        F.sum(dec38(F.col("x")) * F.col("y")).alias("sxy"),
    )
    m6 = F.lit(1_000_000).cast("decimal(38,0)")
    vx = F.col("n") * F.col("sxx") - F.col("sx") * F.col("sx")
    vy = F.col("n") * F.col("syy") - F.col("sy") * F.col("sy")
    bias = (F.col("sx") - F.col("sy")) * (F.col("sx") - F.col("sy"))
    den = vx + vy + bias
    return s.select(
        F.col("n").cast("long").alias("n_orders"),
        F.col("sx").cast("long").alias("sum_header_cents"),
        F.col("sy").cast("long").alias("sum_lines_cents"),
        F.when(
            den > 0,
            halfup_div(
                m6 * 2 * (F.col("n") * F.col("sxy") - F.col("sx") * F.col("sy")),
                den,
            ).cast("long"),
        ).alias("ccc_micro"),
    )


# ---------------------------------------------------------------------------
# shared: priority x status contingency grid (two consumers below)
# ---------------------------------------------------------------------------

_SQL_PS_GRID = """
    grid AS (
      SELECT o_orderpriority AS x, o_orderstatus AS y,
             CAST(count(*) AS HUGEINT) AS n
      FROM orders GROUP BY 1, 2
    )
"""


def _ps_grid(t: Tables) -> DataFrame:
    """(x=priority, y=status, n) — the bounded contingency grid both
    PRE measures consume (SQL twin ``_SQL_PS_GRID``). Eagerly
    localCheckpointed: the lambda op branches five grid-sized
    aggregates off it and each would otherwise re-run the fact scan
    (measured 4.3 s -> 1.7 s at sf0.1; the 20-row-grid pinning
    discipline from the PAV decomposition)."""
    return (
        t.orders.groupBy(
            F.col("o_orderpriority").alias("x"), F.col("o_orderstatus").alias("y")
        )
        .agg(dec38(F.count(F.lit(1))).alias("n"))
        .localCheckpoint(eager=True)
    )


# ---------------------------------------------------------------------------
# Goodman-Kruskal lambda (modal PRE)
# ---------------------------------------------------------------------------


def _lambda_oracle() -> str:
    hd = sql_halfup_div
    return f"""
    WITH {_SQL_PS_GRID.strip()}
    , rowmax AS (
      SELECT CAST(sum(mx) AS HUGEINT) AS sum_rowmax FROM (
        SELECT x, max(n) AS mx FROM grid GROUP BY x)
    ), colmax AS (
      SELECT CAST(sum(mx) AS HUGEINT) AS sum_colmax FROM (
        SELECT y, max(n) AS mx FROM grid GROUP BY y)
    ), marg AS (
      SELECT CAST(max(ny) AS HUGEINT) AS max_col,
             (SELECT CAST(max(nx) AS HUGEINT) FROM (
                SELECT x, sum(n) AS nx FROM grid GROUP BY x)) AS max_row,
             (SELECT CAST(sum(n) AS HUGEINT) FROM grid) AS n
      FROM (SELECT y, sum(n) AS ny FROM grid GROUP BY y)
    )
    SELECT CAST(m.n AS BIGINT) AS n,
           CAST({hd('1000000::HUGEINT * (r.sum_rowmax - m.max_col)',
                    'm.n - m.max_col')} AS BIGINT) AS lambda_y_given_x_micro,
           CAST({hd('1000000::HUGEINT * (c.sum_colmax - m.max_row)',
                    'm.n - m.max_row')} AS BIGINT) AS lambda_x_given_y_micro,
           CAST({hd(
               '1000000::HUGEINT * ((r.sum_rowmax + c.sum_colmax) - (m.max_col + m.max_row))',
               '2 * m.n - (m.max_col + m.max_row)')} AS BIGINT)
             AS lambda_symmetric_micro
    FROM rowmax r, colmax c, marg m
    """


@register("stats_goodman_kruskal_lambda", oracle=_lambda_oracle())
def stats_goodman_kruskal_lambda(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Goodman-Kruskal lambda for order priority x order status — the
    modal proportional-reduction-in-error association (Goodman &
    Kruskal 1954): how much better you predict the STATUS knowing the
    priority than by always guessing the modal status (and the
    transposed and symmetric versions). Gamma / Somers' D in the
    family price ORDINAL concordance; lambda is the purely NOMINAL
    PRE measure — zero exactly when every priority row has the same
    modal status, regardless of how the probabilities differ off the
    mode.

    Exactness: lambda is a ratio of integer count differences
    (sum of row maxima minus the modal column margin over N minus the
    modal column margin) — pure int64/decimal arithmetic with ONE
    half-up micro division per reported direction.

    Scale shape: one fact scan partial-aggregates to the bounded
    (5 priorities x |statuses|) grid; everything after is grid-sized
    algebra. 1 row out.
    """
    t = Tables(spark, sf_dir)
    grid = _ps_grid(t)
    rowmax = grid.groupBy("x").agg(F.max("n").alias("mx")).agg(
        F.sum("mx").alias("sum_rowmax")
    )
    colmax = grid.groupBy("y").agg(F.max("n").alias("mx")).agg(
        F.sum("mx").alias("sum_colmax")
    )
    colmarg = grid.groupBy("y").agg(F.sum("n").alias("ny")).agg(
        F.max("ny").alias("max_col")
    )
    rowmarg = grid.groupBy("x").agg(F.sum("n").alias("nx")).agg(
        F.max("nx").alias("max_row")
    )
    tot = grid.agg(F.sum("n").alias("n"))
    j = (
        rowmax.crossJoin(F.broadcast(colmax))
        .crossJoin(F.broadcast(colmarg))
        .crossJoin(F.broadcast(rowmarg))
        .crossJoin(F.broadcast(tot))
    )
    m6 = F.lit(1_000_000).cast("decimal(38,0)")
    two = F.lit(2).cast("decimal(38,0)")
    return j.select(
        F.col("n").cast("long").alias("n"),
        halfup_div(
            m6 * (F.col("sum_rowmax") - F.col("max_col")),
            F.col("n") - F.col("max_col"),
        )
        .cast("long")
        .alias("lambda_y_given_x_micro"),
        halfup_div(
            m6 * (F.col("sum_colmax") - F.col("max_row")),
            F.col("n") - F.col("max_row"),
        )
        .cast("long")
        .alias("lambda_x_given_y_micro"),
        halfup_div(
            m6
            * (
                (F.col("sum_rowmax") + F.col("sum_colmax"))
                - (F.col("max_col") + F.col("max_row"))
            ),
            two * F.col("n") - (F.col("max_col") + F.col("max_row")),
        )
        .cast("long")
        .alias("lambda_symmetric_micro"),
    )


# ---------------------------------------------------------------------------
# Goodman-Kruskal tau (variance PRE)
# ---------------------------------------------------------------------------


def _gk_tau_oracle() -> str:
    hd = sql_halfup_div
    return f"""
    WITH {_SQL_PS_GRID.strip()}
    , rows_ AS (
      SELECT x, CAST(sum(n) AS HUGEINT) AS nx,
             CAST(sum(n * n) AS HUGEINT) AS a_x
      FROM grid GROUP BY x
    ), tot AS (
      SELECT CAST(sum(nx) AS HUGEINT) AS n FROM rows_
    ), cols AS (
      SELECT CAST(sum(ny * ny) AS HUGEINT) AS b FROM (
        SELECT y, CAST(sum(n) AS HUGEINT) AS ny FROM grid GROUP BY y)
    ), terms AS (
      SELECT CAST(sum({hd('1000000::HUGEINT * t.n * r.a_x', 'r.nx')})
                  AS HUGEINT) AS num_t
      FROM rows_ r, tot t
    )
    SELECT CAST(t.n AS BIGINT) AS n,
           CAST({hd('(tm.num_t - 1000000::HUGEINT * c.b)',
                    '(t.n * t.n - c.b)')} AS BIGINT) AS gk_tau_micro
    FROM tot t, cols c, terms tm
    """


@register("stats_goodman_kruskal_tau", oracle=_gk_tau_oracle())
def stats_goodman_kruskal_tau(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Goodman-Kruskal tau for order status given order priority — the
    variance-based PRE sibling of lambda: the proportional reduction
    in Gini concentration of the status distribution when the priority
    is known, tau = (N * sum_x (sum_y n_xy^2)/n_x - sum_y n_y^2) /
    (N^2 - sum_y n_y^2). Lambda only sees the MODE move; tau responds
    to any probability shift (the reason it's the default nominal PRE
    in categorical data analysis texts, e.g. Agresti §2.4).

    Exactness: the per-row-category term N * A_x / n_x quantizes
    half-up at micro once (exact integer A_x = sum of squared cell
    counts), the quantized terms sum as integers, and ONE final
    half-up division produces the micro statistic — deterministic in
    any partitioning/order.

    Scale shape: identical to lambda — one partial-aggregated scan to
    the bounded grid, grid-sized algebra, 1 row out. Headroom: the
    per-term numerator 1e6 * N * A_x <= 1e6 * N * n_x^2 ~ 1e6 * N^3
    peaks ~1e30 at 1e8-row grids cells — inside decimal(38,0).
    """
    t = Tables(spark, sf_dir)
    grid = _ps_grid(t)
    rows_ = grid.groupBy("x").agg(
        F.sum("n").alias("nx"), F.sum(F.col("n") * F.col("n")).alias("a_x")
    )
    tot = rows_.agg(F.sum("nx").alias("n"))
    cols = (
        grid.groupBy("y")
        .agg(F.sum("n").alias("ny"))
        .agg(F.sum(F.col("ny") * F.col("ny")).alias("b"))
    )
    m6 = F.lit(1_000_000).cast("decimal(38,0)")
    terms = rows_.crossJoin(F.broadcast(tot)).select(
        halfup_div(m6 * F.col("n") * F.col("a_x"), F.col("nx")).alias("t_x")
    ).agg(F.sum("t_x").alias("num_t"))
    j = tot.crossJoin(F.broadcast(cols)).crossJoin(F.broadcast(terms))
    return j.select(
        F.col("n").cast("long").alias("n"),
        halfup_div(
            F.col("num_t") - m6 * F.col("b"),
            F.col("n") * F.col("n") - F.col("b"),
        )
        .cast("long")
        .alias("gk_tau_micro"),
    )


# ---------------------------------------------------------------------------
# Bland-Altman agreement: invoiced vs list-derived line value
# ---------------------------------------------------------------------------

# limits of agreement at +-1.96 sd: 1.96^2 = 9604/2500 exactly
BA_Z_SQ_NUM = 9604


BA_Z_SQ_DEN = 2500


def _bland_altman_oracle() -> str:
    hd = sql_halfup_div
    return f"""
    WITH d AS (
      SELECT CAST(CAST(floor(l.l_extendedprice * 100.0 + 0.5) AS BIGINT)
                  - CAST(floor(p.p_retailprice * 100.0 + 0.5) AS BIGINT)
                    * CAST(l.l_quantity AS BIGINT) AS HUGEINT) AS d
      FROM lineitem l JOIN part p ON p.p_partkey = l.l_partkey
    ), s AS (
      SELECT CAST(count(*) AS HUGEINT) AS n,
             CAST(sum(d) AS HUGEINT) AS sd,
             CAST(sum(d * d) AS HUGEINT) AS sdd
      FROM d
    ), c AS (
      SELECT n, sd, sdd, (n * sdd - sd * sd) AS vc FROM s
    ), lim AS (
      SELECT c.*,
             {hd(f'{BA_Z_SQ_NUM}::HUGEINT * 1000 * vc',
                 f'{BA_Z_SQ_DEN}::HUGEINT * n * (n - 1)')} AS loa_sq_milli
      FROM c
    ), w AS (
      SELECT CAST(sum(CASE WHEN
               {hd('1000::HUGEINT * (d.d * l.n - l.sd)', 'l.n')}
               * {hd('1000::HUGEINT * (d.d * l.n - l.sd)', 'l.n')}
               <= 1000::HUGEINT * l.loa_sq_milli THEN 1 ELSE 0 END)
             AS HUGEINT) AS n_within
      FROM d, lim l
    )
    SELECT CAST(l.n AS BIGINT) AS n,
           CAST({hd('1000::HUGEINT * l.sd', 'l.n')} AS BIGINT) AS bias_milli,
           CASE WHEN {hd('1000::HUGEINT * l.vc', 'l.n * (l.n - 1)')}
                     <= 9223372036854775807::HUGEINT THEN
             CAST({hd('1000::HUGEINT * l.vc', 'l.n * (l.n - 1)')} AS BIGINT)
           END AS var_d_milli,
           CASE WHEN l.loa_sq_milli <= 9223372036854775807::HUGEINT THEN
             CAST(l.loa_sq_milli AS BIGINT) END AS loa_sq_milli,
           CAST({hd('1000000::HUGEINT * w.n_within', 'l.n')} AS BIGINT)
             AS within_loa_ppm
    FROM lim l, w
    """


@register("stats_bland_altman_price_agreement", oracle=_bland_altman_oracle())
def stats_bland_altman_price_agreement(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Bland-Altman agreement analysis (Bland & Altman 1986) between
    two "measurements" of the same line value: the invoiced
    l_extendedprice vs the list-derived p_retailprice x quantity.
    Reports the bias (mean difference, milli-cents), the difference
    variance, the squared half-width of the 95% limits of agreement
    (1.96^2 sigma^2 — the squared-index convention), and the EXACT
    share of lines inside the limits. Correlation answers "do they
    move together"; Bland-Altman answers the operative question — "by
    how much do they disagree, and is the disagreement within
    tolerance" — the standard for method comparison.

    Exactness: differences are exact integer cents; N, sum d, sum d^2
    exact; the limits compare per row as centered milli deviations
    (two-stage half-up quantization, the Cpk precedent — keeps the
    squared terms inside decimal(38,0) at 1e12 rows) against the
    milli-quantized squared limit; one half-up division per output.

    Scale shape: one lineitem-part equi-join (partkey, dim broadcast
    under the gate), one global aggregate, one broadcast-back
    conditional count. 1 row out.
    """
    t = Tables(spark, sf_dir)
    d = (
        t.lineitem.select("l_partkey", "l_extendedprice", "l_quantity")
        .join(
            t.part.select("p_partkey", "p_retailprice"),
            F.col("p_partkey") == F.col("l_partkey"),
        )
        .select(
            (
                dec38(F.floor(F.col("l_extendedprice") * F.lit(100.0) + F.lit(0.5))
                     .cast("long"))
                - dec38(F.floor(F.col("p_retailprice") * F.lit(100.0) + F.lit(0.5))
                       .cast("long"))
                * dec38(F.col("l_quantity").cast("long"))
            ).alias("d")
        )
    )
    s = d.agg(
        dec38(F.count(F.lit(1))).alias("n"),
        F.sum("d").alias("sd"),
        F.sum(F.col("d") * F.col("d")).alias("sdd"),
    )
    vc = F.col("n") * F.col("sdd") - F.col("sd") * F.col("sd")
    k3 = F.lit(1000).cast("decimal(38,0)")
    lim = s.select(
        "n",
        "sd",
        vc.alias("vc"),
        halfup_div(
            F.lit(BA_Z_SQ_NUM).cast("decimal(38,0)") * k3 * vc,
            F.lit(BA_Z_SQ_DEN).cast("decimal(38,0)")
            * F.col("n")
            * (F.col("n") - 1),
        ).alias("loa_sq_milli"),
    )
    dev_milli = halfup_div(k3 * (F.col("d") * F.col("n") - F.col("sd")), F.col("n"))
    w = (
        d.crossJoin(F.broadcast(lim))
        .select(
            F.when(
                dev_milli * dev_milli <= k3 * F.col("loa_sq_milli"), 1
            )
            .otherwise(0)
            .alias("inside")
        )
        .agg(F.sum("inside").cast("decimal(38,0)").alias("n_within"))
    )
    m6 = F.lit(1_000_000).cast("decimal(38,0)")
    i64max = F.lit(9223372036854775807).cast("decimal(38,0)")
    var_milli = halfup_div(k3 * F.col("vc"), F.col("n") * (F.col("n") - 1))
    return lim.crossJoin(F.broadcast(w)).select(
        F.col("n").cast("long").alias("n"),
        halfup_div(k3 * F.col("sd"), F.col("n")).cast("long").alias("bias_milli"),
        # int64 magnitude guards (the adversarial value-fuzz profile
        # inflates cents^2 variances past BIGINT; both engines emit
        # NULL identically rather than overflow)
        F.when(var_milli <= i64max, var_milli.cast("long")).alias("var_d_milli"),
        F.when(F.col("loa_sq_milli") <= i64max,
               F.col("loa_sq_milli").cast("long")).alias("loa_sq_milli"),
        halfup_div(m6 * F.col("n_within"), F.col("n"))
        .cast("long")
        .alias("within_loa_ppm"),
    )


# ---------------------------------------------------------------------------
# Gwet's AC1 over the three quality gates
# ---------------------------------------------------------------------------


def _ac1_oracle() -> str:
    from ..functions.exact import sql_round_big_int_ratio

    return f"""
    WITH {_SQL_GATE_SUMS}
    , terms AS (
      SELECT n, sl, sll, 3 * n AS t,
             (sll - 3 * sl + 3 * n) AS pbar_num,
             2 * sl * (3 * n - sl) AS pe2_num
      FROM agg
    )
    SELECT CAST(n AS BIGINT) AS n_docs,
           CAST(sl AS BIGINT) AS total_passes,
           {sql_round_big_int_ratio('pbar_num', 't')} AS p_a,
           {sql_round_big_int_ratio('pe2_num', 't * t')} AS p_e_gamma,
           CASE WHEN t * t - pe2_num > 0 THEN
             {sql_round_big_int_ratio('pbar_num * t - pe2_num',
                                      't * t - pe2_num')}
           END AS gwet_ac1
    FROM terms
    """


@register("stats_gwet_ac1_gates", oracle=_ac1_oracle())
def stats_gwet_ac1_gates(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Gwet's AC1 chance-corrected agreement (Gwet 2008) treating the
    three shared binary quality gates as raters — the
    paradox-resistant companion to ``stats_fleiss_kappa_gates``: when
    the trait prevalence is extreme (nearly all documents pass),
    kappa's chance term P_e approaches 1 and kappa collapses even
    under near-perfect agreement (the Feinstein-Cicchetti paradox);
    AC1's chance term 2*pi*(1-pi) peaks at pi=1/2 and vanishes at the
    extremes, so it stays interpretable exactly where corpus gates
    live. Reading the pair: kappa low + AC1 high = prevalence
    artifact, not rater disagreement.

    With m=3 binary raters the observed agreement is Fleiss' P-bar =
    (SLL - 3SL + 3n)/(3n) and AC1 = (P_a*T - 2 SL (T-SL)) /
    (T^2 - 2 SL (T-SL)) with T = 3n — one half-up 1e-6 ratio of exact
    HUGEINT/decimal(38,0) polynomials in the sufficient sums
    (n, SL, SLL) off ONE document scan.

    Scale shape: single partial-aggregated scan to three scalars;
    constant-size algebra after. 1 row out.
    """
    from ..functions.exact import round_big_int_ratio

    agg = gate_sums(Tables(spark, sf_dir))
    tt = 3 * F.col("n")
    pbar_num = F.col("sll") - 3 * F.col("sl") + 3 * F.col("n")
    pe2_num = 2 * F.col("sl") * (tt - F.col("sl"))
    return agg.select(
        F.col("n").cast("long").alias("n_docs"),
        F.col("sl").cast("long").alias("total_passes"),
        round_big_int_ratio(pbar_num, tt).alias("p_a"),
        round_big_int_ratio(pe2_num, tt * tt).alias("p_e_gamma"),
        F.when(
            tt * tt - pe2_num > 0,
            round_big_int_ratio(pbar_num * tt - pe2_num, tt * tt - pe2_num),
        ).alias("gwet_ac1"),
    )


# ---------------------------------------------------------------------------
# Krippendorff's alpha (binary nominal, 3 raters, no missing)
# ---------------------------------------------------------------------------


def _kripp_oracle() -> str:
    from ..functions.exact import sql_round_big_int_ratio

    return f"""
    WITH {_SQL_GATE_SUMS}
    , terms AS (
      SELECT n, sl, sll, 3 * n AS t,
             (3 * sl - sll) AS do_num,
             2 * sl * (3 * n - sl) AS de2_num
      FROM agg
    )
    SELECT CAST(n AS BIGINT) AS n_docs,
           CAST(sl AS BIGINT) AS total_passes,
           {sql_round_big_int_ratio('do_num', 't')} AS disagree_rate,
           CASE WHEN de2_num > 0 THEN
             {sql_round_big_int_ratio('de2_num - (t - 1) * do_num', 'de2_num')}
           END AS kripp_alpha
    FROM terms
    """


@register("stats_krippendorff_alpha_binary", oracle=_kripp_oracle())
def stats_krippendorff_alpha_binary(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Krippendorff's alpha for the three binary quality gates as
    raters (nominal metric, no missing values) — the
    reliability-theory member of the agreement shelf: unlike kappa
    and AC1 it is built from the COINCIDENCE matrix, so it corrects
    chance by the pooled value distribution and generalizes across
    rater counts, sample sizes and missingness (Krippendorff 2004,
    the content-analysis standard alongside Fleiss).

    Closed form at m=3 binary, nothing missing: per-document
    disagreeing ordered pairs are L(3-L), so the observed-
    disagreement sum is 3SL - SLL and alpha = 1 - (T-1)(3SL - SLL) /
    (2 SL (T-SL)) with T = 3n — one half-up 1e-6 ratio of exact
    polynomials in the same (n, SL, SLL) sufficient sums as the
    Fleiss/AC1 siblings. Degenerate all-pass / all-fail corpora NULL
    the coefficient (zero expected disagreement).

    Scale shape: single partial-aggregated scan to three scalars;
    constant-size algebra after. 1 row out.
    """
    from ..functions.exact import round_big_int_ratio

    agg = gate_sums(Tables(spark, sf_dir))
    tt = 3 * F.col("n")
    do_num = 3 * F.col("sl") - F.col("sll")
    de2_num = 2 * F.col("sl") * (tt - F.col("sl"))
    return agg.select(
        F.col("n").cast("long").alias("n_docs"),
        F.col("sl").cast("long").alias("total_passes"),
        round_big_int_ratio(do_num, tt).alias("disagree_rate"),
        F.when(
            de2_num > 0,
            round_big_int_ratio(de2_num - (tt - 1) * do_num, de2_num),
        ).alias("kripp_alpha"),
    )


# ---------------------------------------------------------------------------
# Newcombe-Wilson hybrid CI for the urgent-rate difference
# ---------------------------------------------------------------------------

NEWCOMBE_R1, NEWCOMBE_R2 = "EUROPE", "ASIA"


def _newcombe_oracle() -> str:

    z = f"{WILSON_Z!r}::DOUBLE"
    return f"""
    WITH base AS (
      SELECT r.r_name,
             CAST(count(*) AS BIGINT) AS n,
             CAST(sum(CASE WHEN o.o_orderpriority = '1-URGENT' THEN 1 ELSE 0 END)
                  AS BIGINT) AS k
      FROM orders o
      JOIN customer c ON c.c_custkey = o.o_custkey
      JOIN nation na ON na.n_nationkey = c.c_nationkey
      JOIN region r ON r.r_regionkey = na.n_regionkey
      WHERE r.r_name IN ('{NEWCOMBE_R1}', '{NEWCOMBE_R2}')
      GROUP BY 1
    ), w AS (
      SELECT r_name, n, k,
             CAST(k AS DOUBLE) / CAST(n AS DOUBLE) AS p,
             ({z} * {z}) / CAST(n AS DOUBLE) AS zn
      FROM base
    ), b AS (
      SELECT r_name, n, k, p,
             (p + zn * 0.5::DOUBLE) / (1.0::DOUBLE + zn)
               - ({z} * sqrt(p * (1.0::DOUBLE - p) / CAST(n AS DOUBLE)
                             + zn * 0.25::DOUBLE / CAST(n AS DOUBLE)))
                 / (1.0::DOUBLE + zn) AS lo,
             (p + zn * 0.5::DOUBLE) / (1.0::DOUBLE + zn)
               + ({z} * sqrt(p * (1.0::DOUBLE - p) / CAST(n AS DOUBLE)
                             + zn * 0.25::DOUBLE / CAST(n AS DOUBLE)))
                 / (1.0::DOUBLE + zn) AS hi
      FROM w
    ), j AS (
      SELECT a.n AS n1, a.k AS k1, b2.n AS n2, b2.k AS k2,
             a.p AS p1, b2.p AS p2, a.lo AS l1, a.hi AS u1,
             b2.lo AS l2, b2.hi AS u2
      FROM b a JOIN b b2
        ON a.r_name = '{NEWCOMBE_R1}' AND b2.r_name = '{NEWCOMBE_R2}'
    )
    SELECT n1, k1, n2, k2,
           CAST(floor((p1 - p2) * 1000000.0::DOUBLE + 0.5) AS BIGINT)
             AS diff_micro,
           CAST(floor(((p1 - p2)
                       - sqrt((p1 - l1) * (p1 - l1) + (u2 - p2) * (u2 - p2)))
                      * 1000000.0::DOUBLE + 0.5) AS BIGINT) AS ci_lo_micro,
           CAST(floor(((p1 - p2)
                       + sqrt((u1 - p1) * (u1 - p1) + (p2 - l2) * (p2 - l2)))
                      * 1000000.0::DOUBLE + 0.5) AS BIGINT) AS ci_hi_micro
    FROM j
    """


@register("stats_newcombe_diff_ci", oracle=_newcombe_oracle())
def stats_newcombe_diff_ci(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Newcombe hybrid score 95% CI (Newcombe 1998, method 10) for the
    urgent-order-rate DIFFERENCE between the EUROPE and ASIA regions
    — the recommended small-sample interval for p1 - p2: take each
    proportion's Wilson score bounds (the ``stats_wilson_ci_by_nation``
    construction) and combine the one-sided distances in quadrature,
    d -+ sqrt((p1-l1)^2 + (u2-p2)^2) / + sqrt((u1-p1)^2 + (p2-l2)^2).
    The Wald interval ``stats_proportions_ztest`` implies collapses at
    extreme rates; Newcombe's inherits Wilson's boundary-respecting
    behavior on both ends.

    Exactness: counts are exact integers off one partial-aggregated
    fan; the Wilson bounds and the quadrature combination are
    +-*/sqrt-only IEEE expressions mirrored operation-for-operation
    (::DOUBLE-cast literals — the DECIMAL-literal trap), quantized
    once at micro.

    Scale shape: one fact scan to a 2-key aggregate; the region join
    fan is broadcast-sized; constant-size algebra after. 1 row out.
    """

    t = Tables(spark, sf_dir)
    base = (
        t.orders.join(
            t.customer.select("c_custkey", "c_nationkey"),
            t.orders.o_custkey == F.col("c_custkey"),
        )
        .join(
            F.broadcast(t.nation.select("n_nationkey", "n_regionkey")),
            F.col("c_nationkey") == F.col("n_nationkey"),
        )
        .join(
            F.broadcast(t.region.select("r_regionkey", "r_name")),
            F.col("n_regionkey") == F.col("r_regionkey"),
        )
        .where(F.col("r_name").isin(NEWCOMBE_R1, NEWCOMBE_R2))
        .groupBy("r_name")
        .agg(
            F.count(F.lit(1)).cast("long").alias("n"),
            F.sum(
                F.when(F.col("o_orderpriority") == "1-URGENT", 1).otherwise(0)
            )
            .cast("long")
            .alias("k"),
        )
    )
    nd = F.col("n").cast("double")
    p = F.col("k").cast("double") / nd
    zn = F.lit(WILSON_Z * WILSON_Z) / nd
    center = (p + zn * F.lit(0.5)) / (F.lit(1.0) + zn)
    halfwidth = (
        F.lit(WILSON_Z)
        * F.sqrt(p * (F.lit(1.0) - p) / nd + zn * F.lit(0.25) / nd)
    ) / (F.lit(1.0) + zn)
    b = base.select(
        "r_name", "n", "k", p.alias("p"),
        (center - halfwidth).alias("lo"), (center + halfwidth).alias("hi"),
    )
    a1 = b.where(F.col("r_name") == NEWCOMBE_R1).select(
        F.col("n").alias("n1"), F.col("k").alias("k1"),
        F.col("p").alias("p1"), F.col("lo").alias("l1"), F.col("hi").alias("u1"),
    )
    a2 = b.where(F.col("r_name") == NEWCOMBE_R2).select(
        F.col("n").alias("n2"), F.col("k").alias("k2"),
        F.col("p").alias("p2"), F.col("lo").alias("l2"), F.col("hi").alias("u2"),
    )
    j = a1.crossJoin(F.broadcast(a2))
    d = F.col("p1") - F.col("p2")
    dl = F.sqrt(
        (F.col("p1") - F.col("l1")) * (F.col("p1") - F.col("l1"))
        + (F.col("u2") - F.col("p2")) * (F.col("u2") - F.col("p2"))
    )
    dh = F.sqrt(
        (F.col("u1") - F.col("p1")) * (F.col("u1") - F.col("p1"))
        + (F.col("p2") - F.col("l2")) * (F.col("p2") - F.col("l2"))
    )
    q6 = lambda c: F.floor(c * F.lit(1e6) + F.lit(0.5)).cast("long")  # noqa: E731
    return j.select(
        "n1", "k1", "n2", "k2",
        q6(d).alias("diff_micro"),
        q6(d - dl).alias("ci_lo_micro"),
        q6(d + dh).alias("ci_hi_micro"),
    )


# ---------------------------------------------------------------------------
# Phi coefficient + Yule's Q for each quality-gate pair
# ---------------------------------------------------------------------------


def _phi_oracle() -> str:

    pair_rows = []
    for name, x, y in (
        ("chars_tokens", "a", "b"),
        ("chars_sentences", "a", "c"),
        ("tokens_sentences", "b", "c"),
    ):
        pair_rows.append(
            f"SELECT '{name}' AS pair, n, n_{x} AS nx, n_{y} AS ny,"
            f" n_{x}{y} AS nxy FROM agg"
        )
    return f"""
    WITH {_SQL_GATE_FLAGS}, agg AS (
      SELECT CAST(count(*) AS HUGEINT) AS n,
             CAST(sum(a) AS HUGEINT) AS n_a, CAST(sum(b) AS HUGEINT) AS n_b,
             CAST(sum(c) AS HUGEINT) AS n_c,
             CAST(sum(a * b) AS HUGEINT) AS n_ab,
             CAST(sum(a * c) AS HUGEINT) AS n_ac,
             CAST(sum(b * c) AS HUGEINT) AS n_bc
      FROM flags
    ), pairs AS (
      {" UNION ALL ".join(pair_rows)}
    ), cells AS (
      SELECT pair, n, nxy AS n11, nx - nxy AS n10, ny - nxy AS n01,
             n - nx - ny + nxy AS n00, nx, ny
      FROM pairs
    )
    SELECT pair,
           CAST(n11 AS BIGINT) AS n11, CAST(n10 AS BIGINT) AS n10,
           CAST(n01 AS BIGINT) AS n01, CAST(n00 AS BIGINT) AS n00,
           CASE WHEN nx > 0 AND ny > 0 AND nx < n AND ny < n THEN
             CAST(floor(CAST(n11 * n00 - n10 * n01 AS DOUBLE)
                        / (sqrt(CAST(nx AS DOUBLE)) * sqrt(CAST(n - nx AS DOUBLE))
                           * sqrt(CAST(ny AS DOUBLE)) * sqrt(CAST(n - ny AS DOUBLE)))
                        * 1000000.0::DOUBLE + 0.5) AS BIGINT)
           END AS phi_micro,
           CASE WHEN n11 * n00 + n10 * n01 > 0 THEN
             CAST((CASE WHEN (n11 * n00 - n10 * n01) < 0
                   THEN -((2000000::HUGEINT * abs(n11 * n00 - n10 * n01)
                           + (n11 * n00 + n10 * n01))
                          // (2::HUGEINT * (n11 * n00 + n10 * n01)))
                   ELSE ((2000000::HUGEINT * (n11 * n00 - n10 * n01)
                          + (n11 * n00 + n10 * n01))
                         // (2::HUGEINT * (n11 * n00 + n10 * n01)))
                   END) AS BIGINT)
           END AS yule_q_micro
    FROM cells ORDER BY pair
    """


@register("stats_phi_yule_q_gates", oracle=_phi_oracle())
def stats_phi_yule_q_gates(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Phi coefficient and Yule's Q for each PAIR of the three shared
    binary quality gates — the 2x2 association shelf: phi is the
    Pearson correlation of the indicator pair (margin-sensitive,
    bounded by the marginal imbalance), Yule's Q the odds-ratio
    transform (margin-free, hits +-1 whenever a cell empties).
    Reading them together separates "the gates agree because both
    nearly always pass" (phi small, Q large) from genuine overlap —
    the pairwise refinement of the multi-rater coefficients
    (``stats_fleiss_kappa_gates`` / ``stats_gwet_ac1_gates`` /
    ``stats_krippendorff_alpha_binary``) that tells WHICH gate is the
    redundant one.

    Exactness: the seven sufficient sums come off ONE document scan;
    all four 2x2 cells per pair are exact integer algebra; Q is one
    half-up micro division of exact cross-products; phi is a
    mirrored IEEE expression (four correctly-rounded sqrts of exact
    integers), quantized at micro. Degenerate margins NULL the
    respective coefficient.

    Scale shape: one partial-aggregated scan to seven scalars; the
    3-row pair fan is constant-size algebra. 3 rows out.
    """
    t = Tables(spark, sf_dir)
    a, b, c = gate_flags()
    agg = t.documents.select(a.alias("a"), b.alias("b"), c.alias("c")).agg(
        dec38(F.count(F.lit(1))).alias("n"),
        F.sum(dec38(F.col("a"))).alias("n_a"),
        F.sum(dec38(F.col("b"))).alias("n_b"),
        F.sum(dec38(F.col("c"))).alias("n_c"),
        F.sum(dec38(F.col("a") * F.col("b"))).alias("n_ab"),
        F.sum(dec38(F.col("a") * F.col("c"))).alias("n_ac"),
        F.sum(dec38(F.col("b") * F.col("c"))).alias("n_bc"),
    )
    rows = []
    for name, x, y, xy in (
        ("chars_tokens", "n_a", "n_b", "n_ab"),
        ("chars_sentences", "n_a", "n_c", "n_ac"),
        ("tokens_sentences", "n_b", "n_c", "n_bc"),
    ):
        rows.append(
            agg.select(
                F.lit(name).alias("pair"),
                F.col("n").alias("n"),
                F.col(x).alias("nx"),
                F.col(y).alias("ny"),
                F.col(xy).alias("nxy"),
            )
        )
    pairs = rows[0]
    for r in rows[1:]:
        pairs = pairs.unionByName(r)
    n11 = F.col("nxy")
    n10 = F.col("nx") - F.col("nxy")
    n01 = F.col("ny") - F.col("nxy")
    n00 = F.col("n") - F.col("nx") - F.col("ny") + F.col("nxy")
    num = n11 * n00 - n10 * n01
    qden = n11 * n00 + n10 * n01
    phi = num.cast("double") / (
        F.sqrt(F.col("nx").cast("double"))
        * F.sqrt((F.col("n") - F.col("nx")).cast("double"))
        * F.sqrt(F.col("ny").cast("double"))
        * F.sqrt((F.col("n") - F.col("ny")).cast("double"))
    )
    valid = (
        (F.col("nx") > 0)
        & (F.col("ny") > 0)
        & (F.col("nx") < F.col("n"))
        & (F.col("ny") < F.col("n"))
    )
    return pairs.select(
        "pair",
        n11.cast("long").alias("n11"),
        n10.cast("long").alias("n10"),
        n01.cast("long").alias("n01"),
        n00.cast("long").alias("n00"),
        F.when(valid, F.floor(phi * F.lit(1e6) + F.lit(0.5)).cast("long")).alias(
            "phi_micro"
        ),
        F.when(
            qden > 0,
            halfup_div(F.lit(1_000_000).cast("decimal(38,0)") * num, qden).cast(
                "long"
            ),
        ).alias("yule_q_micro"),
    ).orderBy("pair")


# ---------------------------------------------------------------------------
# Bias-corrected Cramer's V (Bergsma 2013) for priority x status
# ---------------------------------------------------------------------------


def _vcorr_oracle() -> str:
    return """
    WITH grid AS (
      SELECT o_orderpriority AS x, o_orderstatus AS y,
             CAST(count(*) AS HUGEINT) AS c
      FROM orders GROUP BY 1, 2
    ), margs AS (
      SELECT x, CAST(sum(c) AS HUGEINT) AS rx FROM grid GROUP BY x
    ), margc AS (
      SELECT y, CAST(sum(c) AS HUGEINT) AS cy FROM grid GROUP BY y
    ), nn AS (
      SELECT CAST(sum(c) AS HUGEINT) AS n,
             (SELECT CAST(count(*) AS HUGEINT) FROM margs) AS r,
             (SELECT CAST(count(*) AS HUGEINT) FROM margc) AS cc
      FROM grid
    ), terms AS (
      SELECT CAST(sum(
        (2000000000000::HUGEINT * g.c * g.c + m.rx * mc.cy)
        // (2::HUGEINT * m.rx * mc.cy)
      ) AS HUGEINT) AS chi_pico
      FROM grid g JOIN margs m USING (x) JOIN margc mc USING (y)
    )
    SELECT CAST(n.n AS BIGINT) AS n,
           CAST(n.r AS BIGINT) AS n_rows, CAST(n.cc AS BIGINT) AS n_cols,
           CAST(floor(
             sqrt(
               greatest(0.0::DOUBLE,
                 (CAST(t.chi_pico AS DOUBLE) / 1000000000000.0::DOUBLE
                  - 1.0::DOUBLE)
                 - CAST((n.r - 1) * (n.cc - 1) AS DOUBLE)
                   / CAST(n.n - 1 AS DOUBLE))
               / CAST(least(
                   n.r - ((n.r - 1) * (n.r - 1)) // (n.n - 1),
                   n.cc - ((n.cc - 1) * (n.cc - 1)) // (n.n - 1)) - 1 AS DOUBLE)
             ) * 1000000.0::DOUBLE + 0.5) AS BIGINT) AS cramers_v_corrected_micro
    FROM nn n, terms t
    """


@register("stats_cramers_v_bias_corrected", oracle=_vcorr_oracle())
def stats_cramers_v_bias_corrected(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Bias-corrected Cramer's V (Bergsma 2013) for order priority x
    order status: the plug-in V (``stats_cramers_v_priority_status``)
    is upward-biased — under exact independence its expectation is
    ~sqrt((r-1)(c-1)/(n-1)), not 0 — so small tables and weak
    associations read as spurious signal. The correction subtracts
    the independence expectation from phi^2 and shrinks the effective
    row/column counts, giving an estimator that is ~0 when nothing is
    there. Reporting it beside the uncorrected V turns the pair into
    a significance-free effect-size reading.

    Exactness: the chi-square sum quantizes each bounded cell's
    c^2/(r_i c_j) term at pico via exact half-up integer division
    (<= 15 cells) and sums integers; the Bergsma assembly (including
    the integer-floor shrunken dimensions, mirrored with // on both
    engines) is one double expression quantized at micro.

    Scale shape: one fact scan partial-aggregates to the bounded
    priority x status grid; constant-size algebra after. 1 row out.
    """
    t = Tables(spark, sf_dir)
    grid = t.orders.groupBy(
        F.col("o_orderpriority").alias("x"), F.col("o_orderstatus").alias("y")
    ).agg(dec38(F.count(F.lit(1))).alias("c"))
    margs = grid.groupBy("x").agg(F.sum("c").alias("rx"))
    margc = grid.groupBy("y").agg(F.sum("c").alias("cy"))
    nn = grid.agg(
        F.sum("c").alias("n"),
        dec38(F.countDistinct("x")).alias("r"),
        dec38(F.countDistinct("y")).alias("cc"),
    )
    terms = (
        grid.join(F.broadcast(margs), "x")
        .join(F.broadcast(margc), "y")
        .agg(
            F.sum(
                halfup_div(
                    F.lit(1_000_000_000_000).cast("decimal(38,0)")
                    * F.col("c")
                    * F.col("c"),
                    F.col("rx") * F.col("cy"),
                )
            ).alias("chi_pico")
        )
    )
    j = nn.crossJoin(F.broadcast(terms))
    phi2 = F.col("chi_pico").cast("double") / F.lit(1e12) - F.lit(1.0)
    corr = (
        (F.col("r") - 1) * (F.col("cc") - 1)
    ).cast("double") / (F.col("n") - 1).cast("double")
    # exact integer floor division (x - x % y) / y, mirroring SQL //
    def _fdiv(x, y):
        return (x - x % y) / y

    rsh = F.col("r") - _fdiv(
        (F.col("r") - 1) * (F.col("r") - 1), F.col("n") - 1
    )
    csh = F.col("cc") - _fdiv(
        (F.col("cc") - 1) * (F.col("cc") - 1), F.col("n") - 1
    )
    v = F.sqrt(
        F.greatest(F.lit(0.0), phi2 - corr)
        / (F.least(rsh, csh) - 1).cast("double")
    )
    return j.select(
        F.col("n").cast("long").alias("n"),
        F.col("r").cast("long").alias("n_rows"),
        F.col("cc").cast("long").alias("n_cols"),
        F.floor(v * F.lit(1e6) + F.lit(0.5)).cast("long").alias(
            "cramers_v_corrected_micro"
        ),
    )
