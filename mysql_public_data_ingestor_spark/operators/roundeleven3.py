"""Round-11 direct registrations, batch B (warehouse statistics).

Six statistics-family completions, each oracle-paired, replica-pinned
and plan-barred in ``tests/test_roundeleven3.py`` (same-commit gate
rule): the Cucconi joint location-scale rank test, Blomqvist's medial
correlation (bounded-domain boundary-bin medians), the seasonal
Mann-Kendall combination, Fleiss' kappa over the shared quality-gate
raters, Tukey's two-way median polish, and a TOST equivalence test in
the signed-squared-t convention.

Reference parity note: the reference (Go ingestion pipeline) has no
analytics; these extend SURVEY §2.C warehouse statistics.

``stats_cucconi_halves`` and ``stats_seasonal_mann_kendall`` live in
``operators/daily_hypothesis.py`` with the other daily-series queries.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from ..functions.exact import dec38, halfup_div, sql_halfup_div
from ..registry import register
from ..tables import Tables


# ---------------------------------------------------------------------------
# 2. Blomqvist's beta (medial correlation) on a bounded-domain grid
# ---------------------------------------------------------------------------


def _blomqvist_oracle() -> str:
    from ..functions.exact import sql_round_big_int_ratio

    return f"""
    WITH grid AS (
      SELECT CAST(l_quantity AS BIGINT) AS xq,
             CAST(floor(l_discount * 100 + 0.5) AS BIGINT) AS yq,
             CAST(count(*) AS BIGINT) AS c
      FROM lineitem
      WHERE l_quantity IS NOT NULL AND l_discount IS NOT NULL
      GROUP BY 1, 2
    ), nn AS (SELECT CAST(sum(c) AS BIGINT) AS n FROM grid),
    mx AS (
      SELECT min(xq) AS med_x FROM (
        SELECT a.xq, CAST(sum(b.c) AS BIGINT) AS cum
        FROM (SELECT DISTINCT xq FROM grid) a
        JOIN grid b ON b.xq <= a.xq GROUP BY a.xq
      ), nn WHERE 2 * cum >= n
    ), my AS (
      SELECT min(yq) AS med_y FROM (
        SELECT a.yq, CAST(sum(b.c) AS BIGINT) AS cum
        FROM (SELECT DISTINCT yq FROM grid) a
        JOIN grid b ON b.yq <= a.yq GROUP BY a.yq
      ), nn WHERE 2 * cum >= n
    ), quad AS (
      SELECT
        CAST(sum(CASE WHEN xq > med_x AND yq > med_y THEN c ELSE 0 END) AS BIGINT) AS n11,
        CAST(sum(CASE WHEN xq < med_x AND yq < med_y THEN c ELSE 0 END) AS BIGINT) AS n22,
        CAST(sum(CASE WHEN xq > med_x AND yq < med_y THEN c ELSE 0 END) AS BIGINT) AS n12,
        CAST(sum(CASE WHEN xq < med_x AND yq > med_y THEN c ELSE 0 END) AS BIGINT) AS n21,
        CAST(sum(CASE WHEN xq = med_x OR yq = med_y THEN c ELSE 0 END) AS BIGINT) AS n_on
      FROM grid, mx, my
    )
    SELECT (SELECT n FROM nn) AS n_rows,
           (SELECT med_x FROM mx) AS median_qty,
           (SELECT med_y FROM my) AS median_disc_cents,
           n11, n22, n12, n21, n_on,
           CASE WHEN n11 + n22 + n12 + n21 > 0 THEN
             {sql_round_big_int_ratio(
                 '(n11::HUGEINT + n22 - n12 - n21)',
                 '(n11::HUGEINT + n22 + n12 + n21)')}
           END AS blomqvist_beta
    FROM quad
    """


@register("stats_blomqvist_beta", oracle=_blomqvist_oracle())
def stats_blomqvist_beta(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Blomqvist's beta (the medial correlation coefficient) between
    quantity and discount: the sign-concordance of each row with the
    two medians, (n11+n22-n12-n21)/(n11+n22+n12+n21) — the maximally
    robust member of the correlation family (Pearson uses magnitudes,
    Spearman/Kendall full ranks; Blomqvist needs only which QUADRANT
    of the median cross each point falls in, so a single wild row can
    move it by at most 1/n).

    Boundary-bin exactness: both variables live on bounded integer
    domains (quantity 1..50, discount cents 0..10), so ONE fact scan
    collapses to the <=550-cell grid; the lower medians come from the
    grid's marginal cumulative (min v with 2*cum >= n — deterministic
    under any tie mass), and the quadrant counts are one conditional
    aggregate over the grid. Rows ON either median are counted and
    excluded, the classical treatment. No sort, no window, no
    row-level second pass.
    """
    from ..functions.exact import round_big_int_ratio

    t = Tables(spark, sf_dir)
    grid = (
        t.lineitem.filter(
            F.col("l_quantity").isNotNull() & F.col("l_discount").isNotNull()
        )
        .groupBy(
            F.col("l_quantity").cast("long").alias("xq"),
            F.floor(F.col("l_discount") * 100 + F.lit(0.5)).cast("long").alias("yq"),
        )
        .agg(F.count(F.lit(1)).alias("c"))
    )
    nn = grid.agg(F.sum("c").cast("long").alias("n"))

    def _median(col):
        marg = grid.groupBy(col).agg(F.sum("c").alias("mc"))
        b = marg.select(F.col(col).alias("vb"), F.col("mc").alias("cb"))
        cum = (
            marg.join(F.broadcast(b), F.col("vb") <= F.col(col))
            .groupBy(col)
            .agg(F.sum("cb").cast("long").alias("cum"))
        )
        return (
            cum.crossJoin(F.broadcast(nn))
            .filter(2 * F.col("cum") >= F.col("n"))
            .agg(F.min(col).alias(f"med_{col}"))
        )

    mx = _median("xq")
    my = _median("yq")
    quad = (
        grid.crossJoin(F.broadcast(mx))
        .crossJoin(F.broadcast(my))
        .agg(
            F.sum(
                F.when(
                    (F.col("xq") > F.col("med_xq")) & (F.col("yq") > F.col("med_yq")),
                    F.col("c"),
                ).otherwise(F.lit(0))
            )
            .cast("long")
            .alias("n11"),
            F.sum(
                F.when(
                    (F.col("xq") < F.col("med_xq")) & (F.col("yq") < F.col("med_yq")),
                    F.col("c"),
                ).otherwise(F.lit(0))
            )
            .cast("long")
            .alias("n22"),
            F.sum(
                F.when(
                    (F.col("xq") > F.col("med_xq")) & (F.col("yq") < F.col("med_yq")),
                    F.col("c"),
                ).otherwise(F.lit(0))
            )
            .cast("long")
            .alias("n12"),
            F.sum(
                F.when(
                    (F.col("xq") < F.col("med_xq")) & (F.col("yq") > F.col("med_yq")),
                    F.col("c"),
                ).otherwise(F.lit(0))
            )
            .cast("long")
            .alias("n21"),
            F.sum(
                F.when(
                    (F.col("xq") == F.col("med_xq")) | (F.col("yq") == F.col("med_yq")),
                    F.col("c"),
                ).otherwise(F.lit(0))
            )
            .cast("long")
            .alias("n_on"),
            F.max("med_xq").alias("median_qty"),
            F.max("med_yq").alias("median_disc_cents"),
        )
    )
    den = dec38(F.col("n11")) + F.col("n22") + F.col("n12") + F.col("n21")
    return quad.crossJoin(F.broadcast(nn)).select(
        F.col("n").alias("n_rows"),
        "median_qty",
        "median_disc_cents",
        "n11",
        "n22",
        "n12",
        "n21",
        "n_on",
        F.when(
            den > 0,
            round_big_int_ratio(
                dec38(F.col("n11")) + F.col("n22") - F.col("n12") - F.col("n21"), den
            ),
        ).alias("blomqvist_beta"),
    )


# ---------------------------------------------------------------------------
# 4. Fleiss' kappa over the three shared quality-gate "raters"
# ---------------------------------------------------------------------------


def _fleiss_oracle() -> str:
    from ..functions.exact import sql_round_big_int_ratio
    from .corpus import _SQL_TOKENS
    from .roundeight import (
        COCHRAN_MIN_SENTENCES,
        MCNEMAR_MIN_CHARS,
        MCNEMAR_MIN_TOKENS,
    )

    return f"""
    WITH flags AS (
      SELECT CASE WHEN n_chars >= {MCNEMAR_MIN_CHARS} THEN 1 ELSE 0 END
             + CASE WHEN len({_SQL_TOKENS}) >= {MCNEMAR_MIN_TOKENS} THEN 1 ELSE 0 END
             + CASE WHEN len(string_split(text, '.')) - 1 >= {COCHRAN_MIN_SENTENCES}
                    THEN 1 ELSE 0 END AS l
      FROM documents
    ), agg AS (
      SELECT CAST(count(*) AS HUGEINT) AS n,
             CAST(sum(l) AS HUGEINT) AS sl,
             CAST(sum(l * l) AS HUGEINT) AS sll
      FROM flags
    ), terms AS (
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
    from ..functions.textnorm import whitespace_tokens
    from .roundeight import (
        COCHRAN_MIN_SENTENCES,
        MCNEMAR_MIN_CHARS,
        MCNEMAR_MIN_TOKENS,
    )

    t = Tables(spark, sf_dir)
    a = F.when(F.col("n_chars") >= MCNEMAR_MIN_CHARS, 1).otherwise(0)
    b = F.when(
        F.size(whitespace_tokens(F.col("text"))) >= MCNEMAR_MIN_TOKENS, 1
    ).otherwise(0)
    c = F.when(
        F.size(F.split(F.col("text"), "\\.", -1)) - 1 >= COCHRAN_MIN_SENTENCES, 1
    ).otherwise(0)
    agg = t.documents.select((a + b + c).alias("l")).agg(
        dec38(F.count(F.lit(1))).alias("n"),
        dec38(F.sum("l")).alias("sl"),
        dec38(F.sum(F.col("l") * F.col("l"))).alias("sll"),
    )
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
# 5. Tukey two-way median polish (nation x priority order counts)
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
    mid = lambda arr, n: F.element_at(F.array_sort(arr), (n + 1) // 2)  # noqa: E731
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
# 6. TOST equivalence test (A/B on event value, signed-squared-t)
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
