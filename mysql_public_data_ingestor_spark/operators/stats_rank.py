"""Rank, ECDF and location/scale tests.

Two-sample and k-sample rank tests (Kolmogorov–Smirnov, Cramér–von
Mises, Anderson–Darling, Kuiper, Kruskal–Wallis with the Dunn and Holm
post-hoc pairs, Brunner–Munzel, Fligner–Policello, Tukey's quick test,
the permutation test, the quantile shift function), blocked rank designs
(Friedman, Page's L, Quade, Kendall's W), scale tests (Ansari–Bradley,
Siegel–Tukey, Conover, Lepage, Hartley Fmax / Cochran C), median tests
(Mood, k-sample, sign) and rank correlation and association (Spearman,
Kendall tau-b, Theil–Sen, Goodman–Kruskal gamma, Somers' d, Blomqvist
beta, Jonckheere–Terpstra, Wilcoxon signed rank, Hodges–Lehmann, Cliff's
delta, nation-rank stability).

The samples, the complete-block design and the value running counts
come from ``operators/stats_samples.py``. Gates: raw-frame oracle
parity, plan bars and Python replicas in the ``tests/test_round*.py``
file named after the module each query was first registered in.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql.window import Window

from ..functions.exact import dec38, halfup_div, order_cents, sql_halfup_div
from ..registry import register
from ..tables import Tables
from .events import type_pair_days
from .stats_samples import (
    block_ranks,
    flag_quantities,
    priority_quantities,
    value_cum,
)


# ---------------------------------------------------------------------------
# Kolmogorov-Smirnov two-sample test (A/B on full distributions)
# ---------------------------------------------------------------------------


def _ks_oracle() -> str:
    return """
    WITH q AS (
      SELECT event_type, user_id % 2 AS cohort,
             CAST(floor(value * 1000000.0 + 0.5) AS BIGINT) AS v_u
      FROM events
    ), g AS (
      SELECT event_type, v_u,
             CAST(sum(CASE WHEN cohort = 0 THEN 1 ELSE 0 END) AS BIGINT) AS ca,
             CAST(sum(CASE WHEN cohort = 1 THEN 1 ELSE 0 END) AS BIGINT) AS cb
      FROM q GROUP BY event_type, v_u
    ), c AS (
      SELECT event_type, v_u,
             sum(ca) OVER (PARTITION BY event_type ORDER BY v_u) AS cum_a,
             sum(cb) OVER (PARTITION BY event_type ORDER BY v_u) AS cum_b
      FROM g
    ), tot AS (
      SELECT event_type,
             CAST(max(cum_a) AS BIGINT) AS n_a,
             CAST(max(cum_b) AS BIGINT) AS n_b
      FROM c GROUP BY event_type
    ), d AS (
      SELECT c.event_type, t.n_a, t.n_b,
             max(abs(CAST(cum_a AS HUGEINT) * t.n_b
                     - CAST(cum_b AS HUGEINT) * t.n_a)) AS d_num
      FROM c JOIN tot t USING (event_type)
      GROUP BY c.event_type, t.n_a, t.n_b
    )
    SELECT event_type, n_a, n_b,
           CAST(((2000000::HUGEINT * d_num + (n_a::HUGEINT * n_b))
                 // (2::HUGEINT * n_a * n_b)) AS BIGINT) / 1000000.0 AS ks_stat
    FROM d
    """


@register("stats_ks_two_sample", oracle=_ks_oracle())
def stats_ks_two_sample(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact two-sample Kolmogorov-Smirnov statistic per event type
    between the even/odd user cohorts — the distribution-level A/B
    test (t-test compares means; KS catches shape drift anywhere in
    the CDF).

    Exactness: values quantize to micro-units; the statistic is
    max |F_a - F_b| evaluated only at the DISTINCT quantized values,
    with the CDF difference cross-multiplied to the integer
    |cum_a * n_b - cum_b * n_a| — no division until one final
    decimal-domain half-up ratio by n_a * n_b (cents-scale-proof per
    the round_big_int_ratio discipline).

    Scale: one partial-aggregated groupBy on (event_type, value), one
    bounded per-type ordered window over the distinct-value domain,
    and a |event_types|-row reduce. No row-level sort of the raw
    corpus — the window runs on the collapsed value histogram.
    """
    from ..functions.exact import quantize, round_big_int_ratio

    t = Tables(spark, sf_dir)
    q = t.events.select(
        "event_type",
        (F.col("user_id") % 2).alias("cohort"),
        quantize(F.col("value"), 6).alias("v_u"),
    )
    g = q.groupBy("event_type", "v_u").agg(
        F.sum(F.when(F.col("cohort") == 0, 1).otherwise(0)).alias("ca"),
        F.sum(F.when(F.col("cohort") == 1, 1).otherwise(0)).alias("cb"),
    )
    w = Window.partitionBy("event_type").orderBy("v_u")
    c = g.select(
        "event_type",
        F.sum("ca").over(w).alias("cum_a"),
        F.sum("cb").over(w).alias("cum_b"),
    )
    tot = c.groupBy("event_type").agg(
        F.max("cum_a").alias("n_a"), F.max("cum_b").alias("n_b")
    )
    d = (
        c.join(tot, "event_type")
        .groupBy("event_type", "n_a", "n_b")
        .agg(
            F.max(
                F.abs(
                    dec38(F.col("cum_a")) * dec38(F.col("n_b"))
                    - dec38(F.col("cum_b")) * dec38(F.col("n_a"))
                )
            ).alias("d_num")
        )
    )
    return d.select(
        "event_type",
        "n_a",
        "n_b",
        round_big_int_ratio(
            F.col("d_num"), dec38(F.col("n_a")) * dec38(F.col("n_b"))
        ).alias("ks_stat"),
    )


# ---------------------------------------------------------------------------
# Theil-Sen robust trend (median of pairwise slopes)
# ---------------------------------------------------------------------------


def _theil_sen_oracle() -> str:
    return """
    WITH daily AS (
      SELECT event_type, CAST(ts AS DATE) AS d,
             CAST(sum(CAST(floor(value * 100.0 + 0.5) AS BIGINT)) AS BIGINT)
               AS cents
      FROM events GROUP BY 1, 2
    ), idx AS (
      SELECT event_type, cents,
             row_number() OVER (PARTITION BY event_type ORDER BY d) AS i
      FROM daily
    ), pairs AS (
      SELECT a.event_type,
             CAST(CASE WHEN b.cents >= a.cents
               THEN  ((20000::HUGEINT * (b.cents - a.cents) + (b.i - a.i))
                      // (2::HUGEINT * (b.i - a.i)))
               ELSE -((20000::HUGEINT * (a.cents - b.cents) + (b.i - a.i))
                      // (2::HUGEINT * (b.i - a.i)))
             END AS BIGINT) AS slope_q4
      FROM idx a JOIN idx b
        ON a.event_type = b.event_type AND b.i > a.i
    )
    SELECT event_type,
           CAST((SELECT count(*) FROM idx x WHERE x.event_type = p.event_type)
                AS BIGINT) AS n_days,
           CAST(count(*) AS BIGINT) AS n_pairs,
           CAST(quantile_disc(slope_q4, 0.5) AS BIGINT) / 10000.0
             AS trend_cents_per_day
    FROM pairs p GROUP BY event_type
    """


@register("stats_theil_sen_trend", oracle=_theil_sen_oracle())
def stats_theil_sen_trend(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Theil-Sen robust trend of daily revenue per event type: the
    MEDIAN of all pairwise day-to-day slopes — the outlier-immune
    alternative to OLS regression (one corrupted day moves OLS
    arbitrarily; it moves the pairwise-slope median by one rank).

    Exactness: slopes are exact half-up integer ratios of cents over
    day-index differences at 4 dp (decimal-domain, cents-scale-proof),
    and the median is the exact discrete quantile over those int64s.
    Scale: the corpus collapses to a |event_types| x |days| series
    first; the O(days^2) pair join runs on that BOUNDED series (days
    grow with calendar time, not data volume) — never on raw rows.
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
    idx = daily.select(
        "event_type",
        "cents",
        F.row_number()
        .over(Window.partitionBy("event_type").orderBy("d"))
        .alias("i"),
    )
    b = idx.select(
        F.col("event_type").alias("et_b"),
        F.col("cents").alias("cents_b"),
        F.col("i").alias("i_b"),
    )
    num = dec38(F.col("cents_b")) - dec38(F.col("cents"))
    den = dec38(F.col("i_b")) - dec38(F.col("i"))
    a_ = F.lit(20000).cast("decimal(38,0)") * F.abs(num) + den
    b_ = F.lit(2).cast("decimal(38,0)") * den
    mag = ((a_ - a_ % b_) / b_).cast("long")
    slope_q4 = F.when(num < 0, -mag).otherwise(mag)
    pairs = (
        idx.join(
            b,
            (F.col("et_b") == F.col("event_type")) & (F.col("i_b") > F.col("i")),
        )
        .select("event_type", slope_q4.alias("slope_q4"))
    )
    n_days = idx.groupBy("event_type").agg(F.count(F.lit(1)).alias("n_days"))
    exact = str(2**31 - 1)
    return (
        pairs.groupBy("event_type")
        .agg(
            F.count(F.lit(1)).alias("n_pairs"),
            F.expr(f"percentile_approx(slope_q4, 0.5, {exact})")
            .cast("long")
            .alias("med_q4"),
        )
        .join(F.broadcast(n_days), "event_type")
        .select(
            "event_type",
            "n_days",
            "n_pairs",
            (F.col("med_q4") / F.lit(1e4)).alias("trend_cents_per_day"),
        )
    )


# ---------------------------------------------------------------------------
# Spearman rank correlation (midranks, tie-exact)
# ---------------------------------------------------------------------------


def _spearman_oracle() -> str:
    return """
    WITH q AS (
      SELECT event_type,
             CAST(floor(value * 1000.0 + 0.5) AS BIGINT) AS v_m,
             CAST(hour(ts) AS BIGINT) AS h
      FROM events
    ), vx AS (
      SELECT event_type, v_m, CAST(count(*) AS BIGINT) AS cnt,
             coalesce(sum(count(*)) OVER (PARTITION BY event_type ORDER BY v_m
               ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0) AS cum
      FROM q GROUP BY event_type, v_m
    ), vy AS (
      SELECT event_type, h, CAST(count(*) AS BIGINT) AS cnt,
             coalesce(sum(count(*)) OVER (PARTITION BY event_type ORDER BY h
               ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0) AS cum
      FROM q GROUP BY event_type, h
    ), r AS (
      SELECT q.event_type,
             CAST(2 * vx.cum + vx.cnt + 1 AS HUGEINT) AS rx2,
             CAST(2 * vy.cum + vy.cnt + 1 AS HUGEINT) AS ry2
      FROM q
      JOIN vx ON vx.event_type = q.event_type AND vx.v_m = q.v_m
      JOIN vy ON vy.event_type = q.event_type AND vy.h = q.h
    ), s AS (
      SELECT event_type,
             CAST(count(*) AS HUGEINT) AS n,
             sum(rx2) AS sx, sum(ry2) AS sy,
             sum(rx2 * rx2) AS sxx, sum(ry2 * ry2) AS syy,
             sum(rx2 * ry2) AS sxy
      FROM r GROUP BY event_type
    )
    SELECT event_type, CAST(n AS BIGINT) AS n_events,
           CAST(floor(CAST(n * sxy - sx * sy AS DOUBLE)
                      / sqrt(CAST(n * sxx - sx * sx AS DOUBLE)
                             * CAST(n * syy - sy * sy AS DOUBLE))
                      * 1000000.0 + 0.5) AS BIGINT) / 1000000.0 AS spearman_rho
    FROM s
    """


@register("stats_spearman_corr", oracle=_spearman_oracle())
def stats_spearman_corr(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Spearman rank correlation between event value and hour-of-day,
    per event type — the monotonic-association test (does value drift
    across the day?), tie-exact via midranks.

    Ranks never materialize per row from a sort: both variables
    pre-aggregate to their distinct-value histograms, midranks come
    from the (cum, cnt) window over those bounded domains (doubled to
    stay integral), and each event row joins its two midranks back.
    All five sufficient sums are exact decimal integers; the one
    final expression (Pearson on midranks) runs in doubles whose
    inputs are casts of identical integers on both engines, with
    matching association order, sqrt being correctly rounded — then a
    single micro-unit quantization. Scale: two domain-bounded windows
    plus one corpus-wide partial-aggregated sum; no row-level sort.
    """
    t = Tables(spark, sf_dir)
    from ..functions.exact import quantize

    q = t.events.select(
        "event_type",
        quantize(F.col("value"), 3).alias("v_m"),
        F.hour("ts").cast("long").alias("h"),
    )
    wv = Window.partitionBy("event_type").orderBy("v_m").rowsBetween(
        Window.unboundedPreceding, -1
    )
    wh = Window.partitionBy("event_type").orderBy("h").rowsBetween(
        Window.unboundedPreceding, -1
    )
    vx = q.groupBy("event_type", "v_m").agg(F.count(F.lit(1)).alias("cnt")).select(
        "event_type",
        "v_m",
        "cnt",
        F.coalesce(F.sum("cnt").over(wv), F.lit(0)).alias("cum"),
    )
    vy = q.groupBy("event_type", "h").agg(F.count(F.lit(1)).alias("cnt")).select(
        "event_type",
        "h",
        "cnt",
        F.coalesce(F.sum("cnt").over(wh), F.lit(0)).alias("cum"),
    )
    r = (
        q.join(
            vx.select(
                "event_type", "v_m", (2 * F.col("cum") + F.col("cnt") + 1).alias("rx2")
            ),
            ["event_type", "v_m"],
        )
        .join(
            F.broadcast(
                vy.select(
                    "event_type",
                    "h",
                    (2 * F.col("cum") + F.col("cnt") + 1).alias("ry2"),
                )
            ),
            ["event_type", "h"],
        )
        .select("event_type", dec38(F.col("rx2")).alias("rx2"), dec38(F.col("ry2")).alias("ry2"))
    )
    s = r.groupBy("event_type").agg(
        F.count(F.lit(1)).alias("n"),
        F.sum("rx2").alias("sx"),
        F.sum("ry2").alias("sy"),
        F.sum(F.col("rx2") * F.col("rx2")).alias("sxx"),
        F.sum(F.col("ry2") * F.col("ry2")).alias("syy"),
        F.sum(F.col("rx2") * F.col("ry2")).alias("sxy"),
    )
    n = dec38(F.col("n"))
    num = (n * F.col("sxy") - F.col("sx") * F.col("sy")).cast("double")
    denx = (n * F.col("sxx") - F.col("sx") * F.col("sx")).cast("double")
    deny = (n * F.col("syy") - F.col("sy") * F.col("sy")).cast("double")
    rho = (
        F.floor(num / F.sqrt(denx * deny) * F.lit(1e6) + F.lit(0.5)).cast("long")
        / F.lit(1e6)
    )
    return s.select(
        "event_type", F.col("n").alias("n_events"), rho.alias("spearman_rho")
    )


# ---------------------------------------------------------------------------
# Kendall tau-b (concordance over the bounded bucket grid)
# ---------------------------------------------------------------------------

KT_VBINS = 10


def _kendall_oracle() -> str:
    return f"""
    WITH q AS (
      SELECT event_type,
             CAST(floor(value * 1000.0 + 0.5) AS BIGINT) AS v_m,
             CAST(hour(ts) AS BIGINT) AS h
      FROM events
    ), ext AS (
      SELECT event_type, CAST(min(v_m) AS BIGINT) AS mn, CAST(max(v_m) AS BIGINT) AS mx
      FROM q GROUP BY event_type
    ), cells AS (
      SELECT q.event_type,
             least(CAST(floor((q.v_m - e.mn) * {KT_VBINS}
                              / (e.mx - e.mn + 1)) AS BIGINT),
                   {KT_VBINS - 1}) AS vb,
             q.h,
             CAST(count(*) AS HUGEINT) AS n
      FROM q JOIN ext e USING (event_type)
      GROUP BY 1, 2, 3
    ), pairs AS (
      SELECT a.event_type,
             sum(CASE WHEN b.vb > a.vb AND b.h > a.h THEN a.n * b.n ELSE 0 END)
               AS c2,
             sum(CASE WHEN b.vb > a.vb AND b.h < a.h THEN a.n * b.n ELSE 0 END)
               AS d2
      FROM cells a JOIN cells b USING (event_type)
      GROUP BY a.event_type
    ), ties AS (
      SELECT event_type,
             CAST(sum(n) AS HUGEINT) AS nn,
             sum(n * (n - 1)) AS tie_cell2
      FROM cells GROUP BY event_type
    ), tx AS (
      SELECT event_type, sum(rn * (rn - 1)) AS tie_x2
      FROM (SELECT event_type, vb, CAST(sum(n) AS HUGEINT) AS rn
            FROM cells GROUP BY 1, 2)
      GROUP BY event_type
    ), ty AS (
      SELECT event_type, sum(rn * (rn - 1)) AS tie_y2
      FROM (SELECT event_type, h, CAST(sum(n) AS HUGEINT) AS rn
            FROM cells GROUP BY 1, 2)
      GROUP BY event_type
    )
    SELECT t.event_type, CAST(t.nn AS BIGINT) AS n_events,
           CAST(floor(CAST(p.c2 - p.d2 AS DOUBLE)
                      / sqrt(CAST(t.nn * (t.nn - 1) - x.tie_x2 AS DOUBLE)
                             * CAST(t.nn * (t.nn - 1) - y.tie_y2 AS DOUBLE))
                      * 1000000.0 + 0.5) AS BIGINT) / 1000000.0 AS kendall_tau_b
    FROM ties t
    JOIN pairs p USING (event_type)
    JOIN tx x USING (event_type)
    JOIN ty y USING (event_type)
    """


@register("stats_kendall_tau_b", oracle=_kendall_oracle())
def stats_kendall_tau_b(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Kendall tau-b between event value (10 equal-width bins) and
    hour-of-day, per event type — the concordance-based association
    test completing the correlation trio (Pearson = linear, Spearman =
    monotonic-by-rank, Kendall = pairwise-concordance; tau-b's tie
    correction makes it the right one for coarsely-bucketed data).

    Concordant/discordant pair counts NEVER enumerate row pairs: the
    corpus collapses to a 10 x 24 contingency grid (value bin x hour)
    and the pair sums run over grid-cell pairs (bounded at 240^2)
    with exact int128 products; tie corrections come from the grid's
    margins. One final double expression (sqrt of exact integers,
    matching association) and a micro-unit quantization. The binning
    itself is pure integer arithmetic off broadcast min/max — no
    data-dependent float edges.
    """
    t = Tables(spark, sf_dir)
    from ..functions.exact import quantize

    q = t.events.select(
        "event_type",
        quantize(F.col("value"), 3).alias("v_m"),
        F.hour("ts").cast("long").alias("h"),
    )
    ext = q.groupBy("event_type").agg(
        F.min("v_m").alias("mn"), F.max("v_m").alias("mx")
    )
    vb = F.least(
        F.floor(
            ((F.col("v_m") - F.col("mn")) * KT_VBINS)
            / (F.col("mx") - F.col("mn") + 1)
        ).cast("long"),
        F.lit(KT_VBINS - 1).cast("long"),
    )
    cells = (
        q.join(F.broadcast(ext), "event_type")
        .select("event_type", vb.alias("vb"), "h")
        .groupBy("event_type", "vb", "h")
        .agg(F.count(F.lit(1)).alias("n"))
    )
    b = cells.select(
        F.col("event_type").alias("et_b"),
        F.col("vb").alias("vb_b"),
        F.col("h").alias("h_b"),
        F.col("n").alias("n_b"),
    )
    pairs = (
        cells.join(b, F.col("et_b") == F.col("event_type"))
        .groupBy("event_type")
        .agg(
            F.sum(
                F.when(
                    (F.col("vb_b") > F.col("vb")) & (F.col("h_b") > F.col("h")),
                    dec38(F.col("n")) * dec38(F.col("n_b")),
                ).otherwise(F.lit(0).cast("decimal(38,0)"))
            ).alias("c2"),
            F.sum(
                F.when(
                    (F.col("vb_b") > F.col("vb")) & (F.col("h_b") < F.col("h")),
                    dec38(F.col("n")) * dec38(F.col("n_b")),
                ).otherwise(F.lit(0).cast("decimal(38,0)"))
            ).alias("d2"),
        )
    )
    ties = cells.groupBy("event_type").agg(F.sum("n").alias("nn"))
    tx = (
        cells.groupBy("event_type", "vb")
        .agg(F.sum("n").alias("rn"))
        .groupBy("event_type")
        .agg(F.sum(dec38(F.col("rn")) * (dec38(F.col("rn")) - 1)).alias("tie_x2"))
    )
    ty = (
        cells.groupBy("event_type", "h")
        .agg(F.sum("n").alias("rn"))
        .groupBy("event_type")
        .agg(F.sum(dec38(F.col("rn")) * (dec38(F.col("rn")) - 1)).alias("tie_y2"))
    )
    nn = dec38(F.col("nn"))
    tau = (
        F.floor(
            (F.col("c2") - F.col("d2")).cast("double")
            / F.sqrt(
                (nn * (nn - 1) - F.col("tie_x2")).cast("double")
                * (nn * (nn - 1) - F.col("tie_y2")).cast("double")
            )
            * F.lit(1e6)
            + F.lit(0.5)
        ).cast("long")
        / F.lit(1e6)
    )
    return (
        ties.join(pairs, "event_type")
        .join(tx, "event_type")
        .join(ty, "event_type")
        .select("event_type", F.col("nn").alias("n_events"), tau.alias("kendall_tau_b"))
    )


# ---------------------------------------------------------------------------
# Kruskal-Wallis H across return flags (quantity ranks, tie-corrected)
# ---------------------------------------------------------------------------


def _kw_oracle() -> str:
    return """
    WITH q AS (
      SELECT l_returnflag AS g, CAST(l_quantity AS BIGINT) AS v
      FROM lineitem WHERE l_quantity IS NOT NULL
    ), dv AS (
      SELECT v, CAST(count(*) AS BIGINT) AS cnt
      FROM q GROUP BY v
    ), r AS (
      SELECT v, cnt,
             coalesce(sum(cnt) OVER (ORDER BY v
               ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0) AS cum
      FROM dv
    ), gv AS (
      SELECT g, v, CAST(count(*) AS BIGINT) AS cnt_g
      FROM q GROUP BY g, v
    ), rg AS (
      SELECT gv.g,
             CAST(sum(gv.cnt_g) AS BIGINT) AS n_g,
             CAST(sum(gv.cnt_g::HUGEINT * (2 * r.cum + r.cnt + 1)) AS HUGEINT)
               AS r2_g
      FROM gv JOIN r ON gv.v = r.v
      GROUP BY gv.g
    ), nt AS (
      SELECT CAST(sum(n_g) AS BIGINT) AS n FROM rg
    ), terms AS (
      SELECT rg.g, rg.n_g,
             CAST(floor(CAST(rg.n_g AS DOUBLE)
                        * ((CAST(rg.r2_g AS DOUBLE) / (2.0 * rg.n_g)
                            - (CAST(nt.n AS DOUBLE) + 1.0) / 2.0)
                           * (CAST(rg.r2_g AS DOUBLE) / (2.0 * rg.n_g)
                              - (CAST(nt.n AS DOUBLE) + 1.0) / 2.0))
                        / (CAST(nt.n AS DOUBLE) * (CAST(nt.n AS DOUBLE) + 1.0))
                        * 12000000.0 + 0.5) AS BIGINT) AS term_u
      FROM rg, nt
    ), s AS (
      SELECT CAST(count(*) AS BIGINT) AS k,
             CAST(sum(term_u) AS BIGINT) AS sum_u
      FROM terms
    ), t AS (
      SELECT CAST(sum(cnt::HUGEINT * cnt * cnt - cnt) AS HUGEINT) AS tie3
      FROM dv
    )
    SELECT s.k, nt.n,
           CAST(floor((CAST(s.sum_u AS DOUBLE) / 1000000.0)
                      / (1.0 - CAST(t.tie3 AS DOUBLE)
                               / (CAST(nt.n AS DOUBLE) * nt.n * nt.n - nt.n))
                      * 1000000.0 + 0.5) AS BIGINT) / 1000000.0 AS h_tie
    FROM s, t, nt
    """


@register("stats_kruskal_wallis_quantity", oracle=_kw_oracle())
def stats_kruskal_wallis_quantity(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Kruskal-Wallis H (rank one-way ANOVA, tie-corrected) of lineitem
    quantity across return flags — the k-group generalization of
    ``stats_mann_whitney_ab`` and the nonparametric complement of
    ``stats_welch_anova``.

    Ranks never materialize per row: quantity is an INTEGER domain
    (1..50), so rank arithmetic runs on the |domain|-bounded distinct
    table. ``2*cum + cnt + 1`` is twice a tie group's midrank (exact
    integer, as in Mann-Whitney); per-group doubled rank sums ``2*R_g``
    and the tie-cube correction are exact integer sums. H uses the
    mean-deviation identity H = 12/(N(N+1)) sum n_g (rbar_g-(N+1)/2)^2
    so no integer ever needs squaring (the Cramer's-V decimal(38,0)
    overflow lesson): each group's contribution is evaluated in double
    from exact integers through a fixed expression chain mirrored
    token-for-token in the oracle, quantized half-up to micro units,
    and summed as integers — order-independent and cross-engine
    identical by construction.

    The cumulative over the 50-value domain is a broadcast non-equi
    self-join of the post-aggregation value table (<=50 rows) — no
    global window, no SinglePartition stage; the only row-scaled work
    is the two partial-aggregated groupBys. Scales: shuffles carry
    |domain| and |modes x domain| rows regardless of corpus size.
    """
    t = Tables(spark, sf_dir)
    q = flag_quantities(t)
    dv = q.groupBy("v").agg(F.count(F.lit(1)).alias("cnt"))
    r = value_cum(dv, cum="cnt")
    gv = q.groupBy("g", "v").agg(F.count(F.lit(1)).alias("cnt_g"))
    rg = (
        gv.join(F.broadcast(r), "v")
        .groupBy("g")
        .agg(
            F.sum("cnt_g").alias("n_g"),
            F.sum(dec38(F.col("cnt_g")) * (2 * F.col("cum") + F.col("cnt") + 1)).alias(
                "r2_g"
            ),
        )
    )
    nt = rg.agg(F.sum("n_g").alias("n"))
    n_d = F.col("n").cast("double")
    dev = F.col("r2_g").cast("double") / (F.lit(2.0) * F.col("n_g")) - (
        n_d + F.lit(1.0)
    ) / F.lit(2.0)
    term_u = F.floor(
        F.col("n_g").cast("double")
        * (dev * dev)
        / (n_d * (n_d + F.lit(1.0)))
        * F.lit(12000000.0)
        + F.lit(0.5)
    ).cast("long")
    terms = rg.join(F.broadcast(nt)).select("g", "n_g", term_u.alias("term_u"))
    s = terms.agg(F.count(F.lit(1)).alias("k"), F.sum("term_u").alias("sum_u"))
    tie = dv.agg(
        F.sum(dec38(F.col("cnt")) * F.col("cnt") * F.col("cnt") - F.col("cnt")).alias(
            "tie3"
        )
    )
    j = s.join(F.broadcast(tie)).join(F.broadcast(nt))
    corr = F.lit(1.0) - F.col("tie3").cast("double") / (
        n_d * F.col("n") * F.col("n") - F.col("n")
    )
    return j.select(
        "k",
        "n",
        (
            F.floor(
                (F.col("sum_u").cast("double") / F.lit(1e6)) / corr * F.lit(1e6)
                + F.lit(0.5)
            ).cast("long")
            / F.lit(1e6)
        ).alias("h_tie"),
    )


# ---------------------------------------------------------------------------
# Mood's median test (discount above/below grand median per return flag)
# ---------------------------------------------------------------------------


def _mood_oracle() -> str:
    return """
    WITH q AS (
      SELECT l_returnflag AS g,
             CAST(floor(l_discount * 100.0 + 0.5) AS BIGINT) AS v
      FROM lineitem WHERE l_discount IS NOT NULL
    ), dv AS (
      SELECT v, CAST(count(*) AS BIGINT) AS cnt FROM q GROUP BY v
    ), med AS (
      SELECT min(v) AS median_v FROM (
        SELECT v, sum(cnt) OVER (ORDER BY v) AS cum,
               sum(cnt) OVER () AS n FROM dv
      ) WHERE 2 * cum >= n + 1
    ), cells AS (
      SELECT q.g,
             CAST(sum(CASE WHEN q.v > m.median_v THEN 1 ELSE 0 END) AS BIGINT)
               AS n_above,
             CAST(sum(CASE WHEN q.v <= m.median_v THEN 1 ELSE 0 END) AS BIGINT)
               AS n_le
      FROM q, med m GROUP BY q.g
    ), tot AS (
      SELECT CAST(sum(n_above) AS BIGINT) AS ta,
             CAST(sum(n_le) AS BIGINT) AS tl,
             CAST(count(*) AS BIGINT) AS k
      FROM cells
    ), ex AS (
      SELECT c.g, c.n_above, c.n_le,
             CAST(c.n_above + c.n_le AS DOUBLE) * t.ta
               / (CAST(t.ta AS DOUBLE) + t.tl) AS ea,
             CAST(c.n_above + c.n_le AS DOUBLE) * t.tl
               / (CAST(t.ta AS DOUBLE) + t.tl) AS el
      FROM cells c, tot t
    ), dv2 AS (
      SELECT g, n_above, n_le, ea, el,
             CAST(n_above AS DOUBLE) - ea AS da,
             CAST(n_le AS DOUBLE) - el AS dl
      FROM ex
    )
    SELECT g AS returnflag, n_above, n_le,
           CAST(floor((da * da / ea + dl * dl / el) * 1000000.0 + 0.5)
                AS BIGINT) / 1000000.0 AS chi2_contrib
    FROM dv2
    """


@register("stats_mood_median_discount", oracle=_mood_oracle())
def stats_mood_median_discount(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Mood's median test cells for lineitem discount across return
    flags: per-flag counts above / at-or-below the grand median, plus
    each flag's chi-square contribution (the statistic is their sum) —
    the robust "do these groups share a center" screen that, unlike
    Kruskal-Wallis, is insensitive to tail shape.

    The grand median comes from the discount value domain (11 distinct
    cents values) — cumulative counts via a broadcast non-equi join on
    the <=11-row aggregate, never a row-scaled sort. The 2xk
    contingency cells are one partial-aggregated scan joined to the
    broadcast 1-row median; expected counts and contributions are
    evaluated in double from exact integer cells, quantized half-up
    6dp. ``power(x,2)`` in the oracle is the correctly-rounded IEEE
    multiply both engines share (x*x on the Spark side).
    """
    t = Tables(spark, sf_dir)
    q = t.lineitem.filter(F.col("l_discount").isNotNull()).select(
        F.col("l_returnflag").alias("g"),
        F.floor(F.col("l_discount") * F.lit(100.0) + F.lit(0.5)).cast("long").alias("v"),
    )
    dv = q.groupBy("v").agg(F.count(F.lit(1)).alias("cnt"))
    cum = value_cum(dv, below="cnt").select(
        "v", (F.col("below") + F.col("cnt")).alias("cum")
    )
    n_tot = dv.agg(F.sum("cnt").alias("n"))
    med = (
        cum.join(F.broadcast(n_tot))
        .filter(2 * F.col("cum") >= F.col("n") + 1)
        .agg(F.min("v").alias("median_v"))
    )
    cells = (
        q.join(F.broadcast(med))
        .groupBy("g")
        .agg(
            F.sum(F.when(F.col("v") > F.col("median_v"), 1).otherwise(0)).alias(
                "n_above"
            ),
            F.sum(F.when(F.col("v") <= F.col("median_v"), 1).otherwise(0)).alias("n_le"),
        )
    )
    tot = cells.agg(
        F.sum("n_above").alias("ta"), F.sum("n_le").alias("tl"), F.count(F.lit(1)).alias("k")
    )
    j = cells.join(F.broadcast(tot))
    n_g = (F.col("n_above") + F.col("n_le")).cast("double")
    tt = F.col("ta").cast("double") + F.col("tl")
    ea = n_g * F.col("ta") / tt
    el = n_g * F.col("tl") / tt
    da = F.col("n_above").cast("double") - ea
    dl = F.col("n_le").cast("double") - el
    contrib = da * da / ea + dl * dl / el
    return j.select(
        F.col("g").alias("returnflag"),
        "n_above",
        "n_le",
        (F.floor(contrib * F.lit(1e6) + F.lit(0.5)).cast("long") / F.lit(1e6)).alias(
            "chi2_contrib"
        ),
    )


# ---------------------------------------------------------------------------
# Friedman test: order priority effect with nation blocks
# ---------------------------------------------------------------------------


def _friedman_oracle() -> str:
    return """
    WITH cells AS (
      SELECT c.c_nationkey AS blk, o.o_orderpriority AS trt,
             CAST(count(*) AS BIGINT) AS n_cell,
             CAST(sum(CAST(floor(o.o_totalprice * 100.0 + 0.5) AS BIGINT)::HUGEINT)
                  AS HUGEINT) AS s_cell
      FROM orders o JOIN customer c ON o.o_custkey = c.c_custkey
      GROUP BY 1, 2
    ), kk AS (
      SELECT CAST(count(DISTINCT trt) AS BIGINT) AS k FROM cells
    ), complete AS (
      SELECT blk FROM cells, kk GROUP BY blk, kk.k
      HAVING count(*) = max(kk.k)
    ), ranked AS (
      SELECT c.blk, c.trt,
             CAST(row_number() OVER (PARTITION BY c.blk
                  ORDER BY CAST(c.s_cell AS DOUBLE) / c.n_cell, c.trt)
                  AS BIGINT) AS rnk
      FROM cells c JOIN complete b USING (blk)
    ), rj AS (
      SELECT trt, CAST(sum(rnk) AS BIGINT) AS r_j FROM ranked GROUP BY trt
    ), s AS (
      SELECT CAST(count(*) AS BIGINT) AS k,
             CAST(sum(r_j::HUGEINT * r_j) AS HUGEINT) AS sr2
      FROM rj
    ), c AS (
      SELECT CAST(count(*) AS BIGINT) AS n_blocks FROM complete
    )
    SELECT s.k, c.n_blocks,
           CAST(floor((12.0 * CAST(s.sr2 AS DOUBLE)
                       / (CAST(c.n_blocks AS DOUBLE) * s.k * (s.k + 1))
                       - 3.0 * CAST(c.n_blocks AS DOUBLE) * (s.k + 1))
                      * 1000000.0 + 0.5) AS BIGINT) / 1000000.0 AS friedman_q
    FROM s, c
    """


@register("stats_friedman_nation_priority", oracle=_friedman_oracle())
def stats_friedman_nation_priority(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Friedman test statistic Q for an order-priority effect on mean
    order value, blocked by customer nation — the repeated-measures
    companion of ``stats_kruskal_wallis_quantity``: each nation is a
    block, the five priorities are ranked WITHIN it, so a
    nation-wealth effect (which would drown a pooled rank test)
    cancels by construction.

    The ranked table is |nations| x |priorities| (125 rows) built from
    one partial-aggregated fact join — the window partitions by block,
    so no SinglePartition stage exists. Cell ordering uses the exact
    integer (cents-sum, count) pair through a deterministic double
    division with the priority label as total-order tie-break —
    cross-engine identical ranks by construction; only complete blocks
    (all k treatments present) enter, per the classical test. Rank
    sums and their squares are exact integers; only the final Q is
    floating point, quantized half-up 6dp.
    """
    ranked, _, complete = block_ranks(Tables(spark, sf_dir))
    rj = ranked.groupBy("trt").agg(F.sum("rnk").alias("r_j"))
    s = rj.agg(
        F.count(F.lit(1)).alias("k"), F.sum(dec38(F.col("r_j")) * F.col("r_j")).alias("sr2")
    )
    c = complete.agg(F.count(F.lit(1)).alias("n_blocks"))
    j = s.join(F.broadcast(c))
    nb_d = F.col("n_blocks").cast("double")
    q = (
        F.lit(12.0) * F.col("sr2").cast("double") / (nb_d * F.col("k") * (F.col("k") + 1))
        - F.lit(3.0) * nb_d * (F.col("k") + 1)
    )
    return j.select(
        "k",
        "n_blocks",
        (F.floor(q * F.lit(1e6) + F.lit(0.5)).cast("long") / F.lit(1e6)).alias(
            "friedman_q"
        ),
    )


# ---------------------------------------------------------------------------
# Hodges-Lehmann pseudo-median of quantity per return flag
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
# Cliff's delta effect size: discount, returned vs non-returned lines
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
# Wilcoxon signed-rank: paired daily view-vs-click volumes
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
# Cramér-von Mises two-sample test: quantity, returned vs non-returned
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
    half-up 1e-9. One scan, one broadcast band join over the value
    histogram (``value_cum``) — nothing row-scaled after the partial
    aggregation.
    """
    from ..functions.exact import round_big_int_ratio

    t = Tables(spark, sf_dir)
    c = flag_quantities(t, ("R", "N"))
    dv = c.groupBy("v").agg(
        F.sum(F.when(F.col("g") == "R", 1).otherwise(0)).alias("cx"),
        F.sum(F.when(F.col("g") == "N", 1).otherwise(0)).alias("cy"),
    )
    tot = dv.agg(F.sum("cx").alias("n"), F.sum("cy").alias("m"))
    cum = value_cum(dv, lx="cx", ly="cy").crossJoin(F.broadcast(tot)).select(
        "cx",
        "cy",
        (F.col("lx") + F.col("cx")).alias("cumx"),
        (F.col("ly") + F.col("cy")).alias("cumy"),
        "n",
        "m",
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
# Ansari-Bradley scale test: quantity dispersion, returned vs rest
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
    c = flag_quantities(t, ("R", "N"))
    dv = c.groupBy("v").agg(
        F.sum(F.when(F.col("g") == "R", 1).otherwise(0)).alias("cx"),
        F.sum(F.when(F.col("g") == "N", 1).otherwise(0)).alias("cy"),
    )
    tot = dv.agg(F.sum("cx").alias("n"), F.sum("cy").alias("m"))
    ct = F.col("cx") + F.col("cy")
    cum = value_cum(dv, lx="cx", ly="cy").crossJoin(F.broadcast(tot)).select(
        "cx",
        "cy",
        (2 * (F.col("lx") + F.col("ly")) + ct + 1).alias("r2"),
        "n",
        "m",
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
# Jonckheere-Terpstra ordered-alternative test: quantity by priority
# ---------------------------------------------------------------------------


def _jonckheere_oracle() -> str:
    return """
    WITH q AS (
      SELECT o.o_orderpriority AS g, CAST(l.l_quantity AS BIGINT) AS v
      FROM lineitem l JOIN orders o ON o.o_orderkey = l.l_orderkey
      WHERE l.l_quantity IS NOT NULL
    ), cells AS (
      SELECT g, v, CAST(count(*) AS BIGINT) AS c FROM q GROUP BY g, v
    ), jt AS (
      SELECT CAST(coalesce(sum(CASE WHEN a.v < b.v THEN 2 * a.c * b.c
                                    WHEN a.v = b.v THEN a.c * b.c
                                    ELSE 0 END), 0) AS BIGINT) AS jt2
      FROM cells a JOIN cells b ON a.g < b.g
    ), grp AS (
      SELECT CAST(sum(n_g) AS BIGINT) AS n,
             CAST(sum(n_g::HUGEINT * n_g) AS HUGEINT) AS sn2,
             CAST(sum(n_g::HUGEINT * (n_g-1) * (2*n_g+5)) AS HUGEINT) AS ga,
             CAST(sum(n_g::HUGEINT * (n_g-1) * (n_g-2)) AS HUGEINT) AS gb,
             CAST(sum(n_g::HUGEINT * (n_g-1)) AS HUGEINT) AS gd
      FROM (SELECT g, CAST(sum(c) AS BIGINT) AS n_g FROM cells GROUP BY g)
    ), tie AS (
      SELECT CAST(coalesce(sum(t::HUGEINT * (t-1) * (2*t+5)), 0) AS HUGEINT) AS ta,
             CAST(coalesce(sum(t::HUGEINT * (t-1) * (t-2)), 0) AS HUGEINT) AS tb,
             CAST(coalesce(sum(t::HUGEINT * (t-1)), 0) AS HUGEINT) AS td
      FROM (SELECT v, CAST(sum(c) AS BIGINT) AS t FROM cells GROUP BY v)
    ), stat AS (
      SELECT jt2, n,
             n::HUGEINT * n - sn2 AS e4,
             CAST(n::HUGEINT * (n-1) * (2*n+5) - ga - ta AS DOUBLE) / 72.0::DOUBLE
             + (CAST(gb AS DOUBLE) * CAST(tb AS DOUBLE))
               / (36.0::DOUBLE * CAST(n::HUGEINT * (n-1) * (n-2) AS DOUBLE))
             + (CAST(gd AS DOUBLE) * CAST(td AS DOUBLE))
               / (8.0::DOUBLE * CAST(n::HUGEINT * (n-1) AS DOUBLE)) AS var_jt
      FROM jt, grp, tie
    )
    SELECT n AS n_total, jt2, CAST(e4 AS BIGINT) AS e_jt_x4,
           CASE WHEN var_jt > 0 THEN
             CAST(floor(CAST(2::HUGEINT * jt2 - e4 AS DOUBLE)
                        / (4.0::DOUBLE * sqrt(var_jt))
                        * 1000000.0 + 0.5) AS BIGINT) / 1000000.0
           END AS z_jt
    FROM stat
    """


@register("stats_jonckheere_terpstra_priority", oracle=_jonckheere_oracle())
def stats_jonckheere_terpstra_priority(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Jonckheere-Terpstra ordered-alternative test: does lineitem
    quantity trend MONOTONICALLY across the ordered priority classes
    (1-URGENT -> 5-LOW)? JT = sum over ordered group pairs of the
    between-group Mann-Whitney counts — the test Kruskal-Wallis cannot
    replace when the alternative is ordered (KW spends power on
    arbitrary differences; JT concentrates it on the trend), finishing
    the ordered-groups corner of the nonparametric family.

    Everything runs on the (group, value) COUNT GRID — 5 priorities x
    <= 50 distinct quantities — so the pairwise "joins" are 250-row
    cell products, never row pairs: JT2 (doubled, tie-in-halves exact)
    is one cell-grid join-aggregate, and the Lehmann tie-corrected
    variance's three terms come from per-group and per-value count
    aggregates. Count cubes exceed int64 at fuzz magnitudes, so they
    accumulate in decimal/HUGEINT; the two >1e38 cross-products
    (gb*tb, gd*td) multiply AFTER the correctly-rounded double cast,
    in the same association order in both engines; z quantizes
    half-up 1e-6.
    """
    t = Tables(spark, sf_dir)
    q = (
        t.lineitem.filter(F.col("l_quantity").isNotNull())
        .join(t.orders, t.lineitem.l_orderkey == t.orders.o_orderkey)
        .select(
            F.col("o_orderpriority").alias("g"),
            F.col("l_quantity").cast("long").alias("v"),
        )
    )
    cells = q.groupBy("g", "v").agg(F.count(F.lit(1)).alias("c"))
    a = cells.select(
        F.col("g").alias("ga_"), F.col("v").alias("va_"), F.col("c").alias("ca_")
    )
    b = cells.select(
        F.col("g").alias("gb_"), F.col("v").alias("vb_"), F.col("c").alias("cb_")
    )
    # the cell grid is bounded (|priorities| x |quantity domain| <= 250
    # rows at any corpus size) — broadcast one side so the ordered-pair
    # non-equi join plans as a BroadcastNestedLoopJoin over the tiny
    # grid, never a CartesianProduct
    jt = a.join(F.broadcast(b), F.col("ga_") < F.col("gb_")).agg(
        F.coalesce(
            F.sum(
                F.when(F.col("va_") < F.col("vb_"), 2 * F.col("ca_") * F.col("cb_"))
                .when(F.col("va_") == F.col("vb_"), F.col("ca_") * F.col("cb_"))
                .otherwise(0)
            ),
            F.lit(0),
        ).alias("jt2")
    )
    ng = cells.groupBy("g").agg(F.sum("c").alias("n_g"))
    grp = ng.agg(
        F.sum("n_g").alias("n"),
        F.sum(dec38(F.col("n_g")) * F.col("n_g")).alias("sn2"),
        F.sum(
            dec38(F.col("n_g")) * (F.col("n_g") - 1) * (2 * F.col("n_g") + 5)
        ).alias("ga"),
        F.sum(dec38(F.col("n_g")) * (F.col("n_g") - 1) * (F.col("n_g") - 2)).alias(
            "gb"
        ),
        F.sum(dec38(F.col("n_g")) * (F.col("n_g") - 1)).alias("gd"),
    )
    tv = cells.groupBy("v").agg(F.sum("c").alias("t"))
    tie = tv.agg(
        F.coalesce(
            F.sum(dec38(F.col("t")) * (F.col("t") - 1) * (2 * F.col("t") + 5)),
            F.lit(0).cast("decimal(38,0)"),
        ).alias("ta"),
        F.coalesce(
            F.sum(dec38(F.col("t")) * (F.col("t") - 1) * (F.col("t") - 2)),
            F.lit(0).cast("decimal(38,0)"),
        ).alias("tb"),
        F.coalesce(
            F.sum(dec38(F.col("t")) * (F.col("t") - 1)),
            F.lit(0).cast("decimal(38,0)"),
        ).alias("td"),
    )
    st = jt.crossJoin(F.broadcast(grp)).crossJoin(F.broadcast(tie))
    nd = dec38(F.col("n"))
    e4 = nd * F.col("n") - F.col("sn2")
    var_jt = (
        (nd * (F.col("n") - 1) * (2 * F.col("n") + 5) - F.col("ga") - F.col("ta")).cast(
            "double"
        )
        / F.lit(72.0)
        + (F.col("gb").cast("double") * F.col("tb").cast("double"))
        / (F.lit(36.0) * (nd * (F.col("n") - 1) * (F.col("n") - 2)).cast("double"))
        + (F.col("gd").cast("double") * F.col("td").cast("double"))
        / (F.lit(8.0) * (nd * (F.col("n") - 1)).cast("double"))
    )
    z = (F.lit(2).cast("decimal(38,0)") * F.col("jt2") - e4).cast("double") / (
        F.lit(4.0) * F.sqrt(var_jt)
    )
    return st.select(
        F.col("n").alias("n_total"),
        "jt2",
        e4.cast("long").alias("e_jt_x4"),
        F.when(
            var_jt > 0,
            F.floor(z * F.lit(1000000.0) + F.lit(0.5)).cast("long") / F.lit(1e6),
        ).alias("z_jt"),
    )


# ---------------------------------------------------------------------------
# Anderson-Darling two-sample statistic: quantity, returned vs rest
# ---------------------------------------------------------------------------


def _ad_oracle() -> str:
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
      SELECT v, cx, cy, cx + cy AS ct,
             sum(cx) OVER (ORDER BY v) AS cumx,
             sum(cy) OVER (ORDER BY v) AS cumy,
             sum(cx + cy) OVER (ORDER BY v) AS cumt,
             sum(cx) OVER () AS n, sum(cy) OVER () AS m
      FROM dv
    ), terms AS (
      SELECT n, m, n + m AS nn,
             CASE WHEN cumt < n + m THEN
               CAST((2000000000::HUGEINT
                     * ((m::HUGEINT * cumx - n::HUGEINT * cumy)
                        * (m::HUGEINT * cumx - n::HUGEINT * cumy)) * ct
                     + (n::HUGEINT * m * cumt * (n + m - cumt)))
                    // (2::HUGEINT * n * m * cumt * (n + m - cumt)) AS BIGINT)
             ELSE 0 END AS term_nano
      FROM cum
    )
    SELECT CAST(max(n) AS BIGINT) AS n_returned,
           CAST(max(m) AS BIGINT) AS n_other,
           CAST(sum(term_nano) AS BIGINT) AS ad2_nano,
           CAST(sum(term_nano) AS BIGINT) / 1000000000.0 AS ad2
    FROM terms
    """


@register("stats_anderson_darling_quantity", oracle=_ad_oracle())
def stats_anderson_darling_quantity(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Anderson-Darling-type two-sample statistic for lineitem
    quantity, returned vs non-returned (discrete-data form): A2 =
    sum_v (m*cumx - n*cumy)^2 * c_v / (n*m*cumt*(N-cumt)) over the
    pooled value domain (H < 1) — the TAIL-WEIGHTED member that
    completes the two-sample ECDF family (KS takes the supremum, CvM
    the unweighted quadratic mean; AD's 1/(H(1-H)) weight is why it
    dominates both when differences live in the tails).

    Cross-multiplied exact arithmetic throughout: each value's term
    is ONE exact decimal division quantized half-up 1e-9 BEFORE the
    cross-value summation (so no float aggregation order exists), and
    the cumulative counts come from a broadcast band join over the
    <= 50-value quantity domain (``value_cum``, as CvM), never a
    row-scaled sort.
    """
    t = Tables(spark, sf_dir)
    c = flag_quantities(t, ("R", "N"))
    dv = c.groupBy("v").agg(
        F.sum(F.when(F.col("g") == "R", 1).otherwise(0)).alias("cx"),
        F.sum(F.when(F.col("g") == "N", 1).otherwise(0)).alias("cy"),
    )
    tot = dv.agg(F.sum("cx").alias("n"), F.sum("cy").alias("m"))
    cumx = F.col("lx") + F.col("cx")
    cumy = F.col("ly") + F.col("cy")
    cum = value_cum(dv, lx="cx", ly="cy").crossJoin(F.broadcast(tot)).select(
        (F.col("cx") + F.col("cy")).alias("ct"),
        cumx.alias("cumx"),
        cumy.alias("cumy"),
        (cumx + cumy).alias("cumt"),
        "n",
        "m",
    )
    diff = dec38(F.col("m")) * F.col("cumx") - dec38(F.col("n")) * F.col("cumy")
    den = (
        dec38(F.col("n"))
        * F.col("m")
        * F.col("cumt")
        * (F.col("n") + F.col("m") - F.col("cumt"))
    )
    num = F.lit(2000000000).cast("decimal(38,0)") * diff * diff * F.col("ct") + den
    term = F.when(
        F.col("cumt") < F.col("n") + F.col("m"),
        ((num - num % (F.lit(2).cast("decimal(38,0)") * den))
         / (F.lit(2).cast("decimal(38,0)") * den)).cast("long"),
    ).otherwise(F.lit(0))
    return cum.select("n", "m", term.alias("term_nano")).agg(
        F.max("n").alias("n_returned"),
        F.max("m").alias("n_other"),
        F.sum("term_nano").alias("ad2_nano"),
        (F.sum("term_nano") / F.lit(1000000000.0)).alias("ad2"),
    )


# ---------------------------------------------------------------------------
# Page's L trend test: ordered priority effect, blocked by nation
# ---------------------------------------------------------------------------


def _page_l_oracle() -> str:
    return """
    WITH cells AS (
      SELECT c.c_nationkey AS blk, o.o_orderpriority AS trt,
             CAST(count(*) AS BIGINT) AS n_cell,
             CAST(sum(CAST(floor(o.o_totalprice * 100.0 + 0.5) AS BIGINT)::HUGEINT)
                  AS HUGEINT) AS s_cell
      FROM orders o JOIN customer c ON o.o_custkey = c.c_custkey
      GROUP BY 1, 2
    ), kk AS (
      SELECT CAST(count(DISTINCT trt) AS BIGINT) AS k FROM cells
    ), complete AS (
      SELECT blk FROM cells, kk GROUP BY blk, kk.k
      HAVING count(*) = max(kk.k)
    ), ranked AS (
      SELECT c.blk, c.trt,
             CAST(substr(c.trt, 1, 1) AS BIGINT) AS j,
             CAST(row_number() OVER (PARTITION BY c.blk
                  ORDER BY CAST(c.s_cell AS DOUBLE) / c.n_cell, c.trt)
                  AS BIGINT) AS rnk
      FROM cells c JOIN complete b USING (blk)
    ), l AS (
      SELECT CAST(sum(j * rnk) AS BIGINT) AS page_l FROM ranked
    ), s AS (
      SELECT CAST(max(kk.k) AS BIGINT) AS k,
             CAST(count(*) AS BIGINT) AS b
      FROM complete, kk GROUP BY kk.k
    )
    SELECT s.k, s.b AS n_blocks, l.page_l,
           s.b * s.k * (s.k + 1) * (s.k + 1) AS e_l_x4,
           CASE WHEN s.b > 0 AND s.k > 1 THEN
             CAST(floor(3.0::DOUBLE
                        * CAST(4 * l.page_l
                               - s.b * s.k * (s.k + 1) * (s.k + 1) AS DOUBLE)
                        / sqrt(CAST(s.b * s.k * s.k * (s.k + 1)
                                    * (s.k * s.k - 1) AS DOUBLE))
                        * 1000000.0 + 0.5) AS BIGINT) / 1000000.0
           END AS z_page
    FROM l, s
    """


@register("stats_page_trend_l", oracle=_page_l_oracle())
def stats_page_trend_l(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Page's L trend test for an ORDERED priority effect on mean
    order value, blocked by customer nation: L = sum_j j * R_j over
    the same within-block rank table Friedman uses
    (``stats_friedman_nation_priority``) — Friedman asks "do the
    priorities differ at all", Page concentrates the power on the
    ordered alternative (value rising monotonically from 1-URGENT to
    5-LOW), the blocked twin of Jonckheere-Terpstra.

    Reuses the Friedman construction verbatim (complete blocks only;
    deterministic (mean, label) rank ordering, tie-free by total
    order); the treatment index j is the priority label's leading
    digit. L, E(L)x4 = b k (k+1)^2 and Var(L)x144 = b k^2 (k+1)
    (k^2-1) are exact integers; z = 3(4L - E4)/sqrt(V144) evaluates
    in double once, quantized half-up 1e-6. The ranked table is
    |nations| x |priorities| rows off one partial-aggregated join.
    """
    ranked, kk, complete = block_ranks(Tables(spark, sf_dir))
    j = F.substring("trt", 1, 1).cast("long")
    l_ = ranked.agg(F.sum(j * F.col("rnk")).alias("page_l"))
    s = complete.agg(F.count(F.lit(1)).alias("b")).crossJoin(F.broadcast(kk))
    st = l_.crossJoin(F.broadcast(s))
    e4 = F.col("b") * F.col("k") * (F.col("k") + 1) * (F.col("k") + 1)
    v144 = (
        F.col("b")
        * F.col("k")
        * F.col("k")
        * (F.col("k") + 1)
        * (F.col("k") * F.col("k") - 1)
    )
    z = (
        F.lit(3.0)
        * (4 * F.col("page_l") - e4).cast("double")
        / F.sqrt(v144.cast("double"))
    )
    return st.select(
        "k",
        F.col("b").alias("n_blocks"),
        "page_l",
        e4.alias("e_l_x4"),
        F.when(
            (F.col("b") > 0) & (F.col("k") > 1),
            F.floor(z * F.lit(1000000.0) + F.lit(0.5)).cast("long") / F.lit(1e6),
        ).alias("z_page"),
    )


# ---------------------------------------------------------------------------
# Quade test over the nation x priority block design
# ---------------------------------------------------------------------------


def _quade_oracle() -> str:
    from ..functions.exact import sql_round_big_int_ratio

    return f"""
    WITH cells AS (
      SELECT c.c_nationkey AS blk, o.o_orderpriority AS trt,
             CAST(count(*) AS BIGINT) AS n_cell,
             CAST(sum(CAST(floor(o.o_totalprice * 100.0 + 0.5) AS BIGINT)::HUGEINT)
                  AS HUGEINT) AS s_cell
      FROM orders o JOIN customer c ON o.o_custkey = c.c_custkey
      GROUP BY 1, 2
    ), kk AS (SELECT CAST(count(DISTINCT trt) AS BIGINT) AS k FROM cells),
    complete AS (
      SELECT blk FROM cells, kk GROUP BY blk, kk.k
      HAVING count(*) = max(kk.k)
    ), m AS (
      SELECT c.blk, c.trt, CAST(c.s_cell AS DOUBLE) / c.n_cell AS mu
      FROM cells c JOIN complete USING (blk)
    ), ranked AS (
      SELECT blk, trt,
             CAST(row_number() OVER (PARTITION BY blk ORDER BY mu, trt)
                  AS BIGINT) AS r
      FROM m
    ), rng AS (
      SELECT blk, max(mu) - min(mu) AS rg FROM m GROUP BY blk
    ), qrank AS (
      SELECT a.blk,
             CAST(1 + count(b.blk) AS BIGINT) AS qr
      FROM rng a LEFT JOIN rng b
        ON (b.rg < a.rg) OR (b.rg = a.rg AND b.blk < a.blk)
      GROUP BY a.blk
    ), tt AS (
      SELECT r.trt, q.qr * (2 * r.r - (kk.k + 1)) AS t_ij
      FROM ranked r JOIN qrank q USING (blk), kk
    ), bb AS (SELECT CAST(count(*) AS BIGINT) AS b FROM complete),
    agg AS (
      SELECT CAST(sum(t_ij::HUGEINT * t_ij) AS HUGEINT) AS a2 FROM tt
    ), tj AS (
      SELECT trt, CAST(sum(t_ij) AS BIGINT) AS t_j FROM tt GROUP BY trt
    ), bstat AS (
      SELECT CAST(sum(t_j::HUGEINT * t_j) AS HUGEINT) AS b2 FROM tj
    )
    SELECT kk.k, bb.b AS n_blocks,
           CAST(agg.a2 AS BIGINT) AS a2, CAST(bstat.b2 AS BIGINT) AS b2,
           CASE WHEN bb.b * agg.a2 - bstat.b2 > 0 THEN
             {sql_round_big_int_ratio(
                 '(bb.b - 1)::HUGEINT * bstat.b2',
                 'bb.b::HUGEINT * agg.a2 - bstat.b2')}
           END AS quade_f
    FROM kk, bb, agg, bstat
    """


@register("stats_quade_nation_priority", oracle=_quade_oracle())
def stats_quade_nation_priority(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Quade's test over the nation-blocked priority design: the
    WEIGHTED block-rank test completing the blocked-design family
    (Friedman = unweighted "is there an effect", Page = "is it
    ordered", Kendall's W = effect size; Quade weights each block by
    the rank of its RANGE, so blocks where treatments actually differ
    count more — the more powerful test when block sensitivity
    varies, which skewed nation sizes guarantee here).

    The per-block observation is the cell mean (exact cents sum over
    exact count — double division is identical IEEE in both engines);
    within-block ranks come from a blk-partitioned window; the block
    weights come from a broadcast self-join rank over the <= |nations|
    range table (no global window). T_ij = Q_i(2r_ij - (k+1)) makes
    the whole statistic integer: F = (b-1)*sum T_j^2 / (b*sum T_ij^2
    - sum T_j^2), one exact half-up ratio.
    """
    from ..functions.exact import round_big_int_ratio

    cells, kk, complete = block_ranks(Tables(spark, sf_dir))
    m = cells.select(
        "blk", "trt", (F.col("s_cell").cast("double") / F.col("n_cell")).alias("mu")
    )
    ranked = cells.select("blk", "trt", F.col("rnk").alias("r"))
    rng = m.groupBy("blk").agg((F.max("mu") - F.min("mu")).alias("rg"))
    r2 = rng.select(F.col("blk").alias("blk2"), F.col("rg").alias("rg2"))
    qrank = (
        rng.join(
            F.broadcast(r2),
            (F.col("rg2") < F.col("rg"))
            | ((F.col("rg2") == F.col("rg")) & (F.col("blk2") < F.col("blk"))),
            "left",
        )
        .groupBy("blk")
        .agg((F.lit(1) + F.count("blk2")).cast("long").alias("qr"))
    )
    tt = (
        ranked.join(F.broadcast(qrank), "blk")
        .crossJoin(F.broadcast(kk))
        .select(
            "trt",
            (dec38(F.col("qr")) * (2 * F.col("r") - (F.col("k") + 1))).alias("t_ij"),
        )
    )
    b = complete.agg(F.count(F.lit(1)).alias("b"))
    agg = tt.agg(F.sum(F.col("t_ij") * F.col("t_ij")).alias("a2"))
    tj = tt.groupBy("trt").agg(F.sum("t_ij").alias("t_j"))
    bstat = tj.agg(F.sum(F.col("t_j") * F.col("t_j")).alias("b2"))
    out = (
        kk.crossJoin(F.broadcast(b))
        .crossJoin(F.broadcast(agg))
        .crossJoin(F.broadcast(bstat))
    )
    den = dec38(F.col("b")) * F.col("a2") - F.col("b2")
    return out.select(
        "k",
        F.col("b").alias("n_blocks"),
        F.col("a2").cast("long").alias("a2"),
        F.col("b2").cast("long").alias("b2"),
        F.when(
            den > 0,
            round_big_int_ratio(dec38(F.col("b") - 1) * F.col("b2"), den),
        ).alias("quade_f"),
    )


# ---------------------------------------------------------------------------
# Exact randomization (permutation) test for the A/B value gap
# ---------------------------------------------------------------------------

PERM_B = 64


def _perm_oracle() -> str:
    from ..functions.exact import sql_round_big_int_ratio, sql_round_int_ratio

    B = PERM_B
    return f"""
    WITH ux AS (
      SELECT user_id,
             CAST(sum(CAST(floor(value * 1000000.0 + 0.5) AS BIGINT)) AS BIGINT)
               AS x
      FROM events WHERE event_type = 'purchase'
      GROUP BY user_id
    ), obs AS (
      SELECT CAST(count(*) AS BIGINT) AS n_users,
             CAST(sum(CASE WHEN user_id % 2 = 0 THEN 1 ELSE 0 END) AS BIGINT) AS na,
             CAST(sum(CASE WHEN user_id % 2 = 0 THEN x ELSE 0 END) AS HUGEINT) AS sa,
             CAST(sum(CASE WHEN user_id % 2 = 1 THEN 1 ELSE 0 END) AS BIGINT) AS nb,
             CAST(sum(CASE WHEN user_id % 2 = 1 THEN x ELSE 0 END) AS HUGEINT) AS sb
      FROM ux
    ), perms AS (
      SELECT s.b,
             CAST(sum(CASE WHEN s.g = 0 THEN 1 ELSE 0 END) AS BIGINT) AS na,
             CAST(sum(CASE WHEN s.g = 0 THEN s.x ELSE 0 END) AS HUGEINT) AS sa,
             CAST(sum(CASE WHEN s.g = 1 THEN 1 ELSE 0 END) AS BIGINT) AS nb,
             CAST(sum(CASE WHEN s.g = 1 THEN s.x ELSE 0 END) AS HUGEINT) AS sb
      FROM (
        SELECT u.user_id, u.x, bb.b,
               (('0x' || substr(sha256('perm' || CAST(bb.b AS VARCHAR) || '|'
                 || CAST(u.user_id AS VARCHAR)), 1, 15))::BIGINT % 2) AS g
        FROM ux u, (SELECT unnest(range(0, {B})) AS b) bb
      ) s
      GROUP BY s.b
    ), cmp AS (
      SELECT CAST(count(*) AS BIGINT) AS n_exceed
      FROM perms p, obs o
      WHERE p.na > 0 AND p.nb > 0
        AND abs(p.sa * p.nb - p.sb * p.na) * (o.na::HUGEINT * o.nb)
            >= abs(o.sa * o.nb - o.sb * o.na) * (p.na::HUGEINT * p.nb)
    )
    SELECT o.n_users, CAST({B} AS BIGINT) AS n_perms,
           CASE WHEN o.na > 0 AND o.nb > 0 THEN
             {sql_round_big_int_ratio(
                 'o.sa * o.nb - o.sb * o.na',
                 'o.na::HUGEINT * o.nb * 1000000')}
           END AS mean_diff_obs,
           {sql_round_int_ratio('1 + c.n_exceed', f'{B} + 1')} AS p_value
    FROM obs o, cmp c
    """


@register("stats_permutation_test_ab", oracle=_perm_oracle())
def stats_permutation_test_ab(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact randomization test for the A/B purchase-value gap:
    64 deterministic salted-hash relabelings of the user-level spend
    totals, p = (1 + #{|T_perm| >= |T_obs|}) / 65 — the
    assumption-free inference the t-test family approximates (Welch
    assumes normal-ish sampling distributions; the randomization test
    IS the null distribution, and hash-derived labelings make it
    RNG-free and bit-reproducible on every engine and rerun).

    One user-keyed aggregate produces the spend totals; the 64
    relabelings are a broadcast 64-row grid crossed against that
    AGGREGATE (64x|users| rows, never 64x raw events); each
    permutation reduces to 4 integers, and every |T_b| >= |T_obs|
    comparison is cross-multiplied exact decimal arithmetic (valid to
    ~1e6 users before decimal38 would saturate — beyond that the
    comparison drops to the deterministic double cast of the same
    exact integers).
    """
    from ..functions.exact import round_big_int_ratio, round_int_ratio
    from ..functions.textnorm import sha256_prefix_i64

    B = PERM_B
    t = Tables(spark, sf_dir)
    ux = (
        t.events.filter(F.col("event_type") == "purchase")
        .select(
            "user_id",
            F.floor(F.col("value") * F.lit(1000000.0) + F.lit(0.5))
            .cast("long")
            .alias("xv"),
        )
        .groupBy("user_id")
        .agg(F.sum("xv").alias("x"))
        .localCheckpoint(eager=False)
    )
    obs = ux.agg(
        F.count(F.lit(1)).alias("n_users"),
        F.sum(F.when(F.col("user_id") % 2 == 0, 1).otherwise(0)).alias("na"),
        F.sum(F.when(F.col("user_id") % 2 == 0, dec38(F.col("x"))).otherwise(
            F.lit(0).cast("decimal(38,0)"))).alias("sa"),
        F.sum(F.when(F.col("user_id") % 2 == 1, 1).otherwise(0)).alias("nb"),
        F.sum(F.when(F.col("user_id") % 2 == 1, dec38(F.col("x"))).otherwise(
            F.lit(0).cast("decimal(38,0)"))).alias("sb"),
    )
    bs = spark.range(B).select(F.col("id").alias("b"))
    g = (
        sha256_prefix_i64(
            F.concat(
                F.lit("perm"), F.col("b").cast("string"), F.lit("|"),
                F.col("user_id").cast("string"),
            )
        )
        % 2
    )
    perms = (
        ux.crossJoin(F.broadcast(bs))
        .select("b", "x", g.alias("g"))
        .groupBy("b")
        .agg(
            F.sum(F.when(F.col("g") == 0, 1).otherwise(0)).alias("na"),
            F.sum(F.when(F.col("g") == 0, dec38(F.col("x"))).otherwise(
                F.lit(0).cast("decimal(38,0)"))).alias("sa"),
            F.sum(F.when(F.col("g") == 1, 1).otherwise(0)).alias("nb"),
            F.sum(F.when(F.col("g") == 1, dec38(F.col("x"))).otherwise(
                F.lit(0).cast("decimal(38,0)"))).alias("sb"),
        )
    )
    o = F.broadcast(obs.select(
        F.col("na").alias("o_na"), F.col("sa").alias("o_sa"),
        F.col("nb").alias("o_nb"), F.col("sb").alias("o_sb"),
    ))
    cmp = (
        perms.crossJoin(o)
        .filter(
            (F.col("na") > 0) & (F.col("nb") > 0)
            & (
                F.abs(F.col("sa") * F.col("nb") - F.col("sb") * F.col("na"))
                * (dec38(F.col("o_na")) * F.col("o_nb"))
                >= F.abs(
                    F.col("o_sa") * F.col("o_nb") - F.col("o_sb") * F.col("o_na")
                )
                * (dec38(F.col("na")) * F.col("nb"))
            )
        )
        .agg(F.count(F.lit(1)).alias("n_exceed"))
    )
    return obs.crossJoin(F.broadcast(cmp)).select(
        "n_users",
        F.lit(B).cast("long").alias("n_perms"),
        F.when(
            (F.col("na") > 0) & (F.col("nb") > 0),
            round_big_int_ratio(
                F.col("sa") * F.col("nb") - F.col("sb") * F.col("na"),
                dec38(F.col("na")) * F.col("nb") * 1000000,
            ),
        ).alias("mean_diff_obs"),
        round_int_ratio(F.lit(1) + F.col("n_exceed"), F.lit(B + 1)).alias("p_value"),
    )


# ---------------------------------------------------------------------------
# Kendall's W concordance over the nation x priority rank table
# ---------------------------------------------------------------------------


def _kendall_w_oracle() -> str:
    from ..functions.exact import sql_round_big_int_ratio

    return f"""
    WITH cells AS (
      SELECT c.c_nationkey AS blk, o.o_orderpriority AS trt,
             CAST(count(*) AS BIGINT) AS n_cell,
             CAST(sum(CAST(floor(o.o_totalprice * 100.0 + 0.5) AS BIGINT)::HUGEINT)
                  AS HUGEINT) AS s_cell
      FROM orders o JOIN customer c ON o.o_custkey = c.c_custkey
      GROUP BY 1, 2
    ), kk AS (
      SELECT CAST(count(DISTINCT trt) AS BIGINT) AS k FROM cells
    ), complete AS (
      SELECT blk FROM cells, kk GROUP BY blk, kk.k
      HAVING count(*) = max(kk.k)
    ), ranked AS (
      SELECT c.trt,
             CAST(row_number() OVER (PARTITION BY c.blk
                  ORDER BY CAST(c.s_cell AS DOUBLE) / c.n_cell, c.trt)
                  AS BIGINT) AS rnk
      FROM cells c JOIN complete b USING (blk)
    ), rj AS (
      SELECT trt, CAST(sum(rnk) AS BIGINT) AS r_j FROM ranked GROUP BY trt
    ), bb AS (SELECT CAST(count(*) AS BIGINT) AS b FROM complete),
    s AS (
      SELECT kk.k, bb.b,
             CAST(sum((2::HUGEINT * r_j - bb.b::HUGEINT * (kk.k + 1))
                      * (2::HUGEINT * r_j - bb.b::HUGEINT * (kk.k + 1)))
                  AS HUGEINT) AS s4
      FROM rj, kk, bb GROUP BY kk.k, bb.b
    )
    SELECT k, b AS n_blocks, CAST(s4 AS BIGINT) AS s4,
           CASE WHEN b > 0 AND k > 1 THEN
             {sql_round_big_int_ratio(
                 '3::HUGEINT * s4',
                 'b::HUGEINT * b * k * (k * k - 1)')}
           END AS kendall_w
    FROM s
    """


@register("stats_kendall_w_nation_priority", oracle=_kendall_w_oracle())
def stats_kendall_w_nation_priority(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Kendall's coefficient of concordance W over the same
    nation-blocked priority rank table Friedman and Page use: W =
    12 sum_j (R_j - b(k+1)/2)^2 / (b^2 k (k^2-1)) — the EFFECT SIZE
    for the blocked rank design (Friedman answers "is there an
    effect", Page "is it ordered", W "how strong is the agreement
    across blocks", the Friedman statistic's chi-square scaled to
    [0,1]).

    With the deterministic total-order ranking (no ties by
    construction) W is ONE exact big-integer ratio: S4 = sum (2R_j -
    b(k+1))^2 makes 12*S = 3*S4, so kendall_w =
    3*S4 / (b^2 k (k^2-1)) with zero floats anywhere. Same
    |nations| x |priorities| bounded rank table off one
    partial-aggregated join.
    """
    from ..functions.exact import round_big_int_ratio

    ranked, kk, complete = block_ranks(Tables(spark, sf_dir))
    rj = ranked.groupBy("trt").agg(F.sum("rnk").alias("r_j"))
    b = complete.agg(F.count(F.lit(1)).alias("b"))
    kb = kk.crossJoin(F.broadcast(b))
    dev = F.lit(2).cast("decimal(38,0)") * F.col("r_j") - dec38(F.col("b")) * (
        F.col("k") + 1
    )
    s = rj.crossJoin(F.broadcast(kb)).agg(
        F.max("k").alias("k"),
        F.max("b").alias("b"),
        F.sum(dev * dev).alias("s4"),
    )
    den = (
        dec38(F.col("b"))
        * F.col("b")
        * F.col("k")
        * (F.col("k") * F.col("k") - 1)
    )
    return s.select(
        "k",
        F.col("b").alias("n_blocks"),
        F.col("s4").cast("long").alias("s4"),
        F.when(
            (F.col("b") > 0) & (F.col("k") > 1),
            round_big_int_ratio(F.lit(3).cast("decimal(38,0)") * F.col("s4"), den),
        ).alias("kendall_w"),
    )


# ===========================================================================
# Queue batch B (round-10 second bank — same-commit gates)
# ===========================================================================


# ---------------------------------------------------------------------------
# Paired sign test on the daily view/purchase series
# ---------------------------------------------------------------------------


def _sign_test_oracle() -> str:
    from ..functions.exact import sql_round_big_int_ratio

    return f"""
    WITH days AS (
      SELECT DISTINCT CAST(ts AS DATE) AS d FROM events
    ), cx AS (
      SELECT CAST(ts AS DATE) AS d, CAST(count(*) AS BIGINT) AS c
      FROM events WHERE event_type = 'view' GROUP BY 1
    ), cy AS (
      SELECT CAST(ts AS DATE) AS d, CAST(count(*) AS BIGINT) AS c
      FROM events WHERE event_type = 'purchase' GROUP BY 1
    ), paired AS (
      SELECT coalesce(cx.c, 0) AS x, coalesce(cy.c, 0) AS y
      FROM days LEFT JOIN cx ON cx.d = days.d LEFT JOIN cy ON cy.d = days.d
    ), agg AS (
      SELECT CAST(sum(CASE WHEN x <> y THEN 1 ELSE 0 END) AS BIGINT) AS m,
             CAST(sum(CASE WHEN x > y THEN 1 ELSE 0 END) AS BIGINT) AS b_plus,
             CAST(count(*) AS BIGINT) AS n_days
      FROM paired
    )
    SELECT n_days, m AS n_informative, b_plus,
           CASE WHEN m > 0 THEN
             {sql_round_big_int_ratio(
                 '(CASE WHEN 2 * b_plus < m THEN -1 ELSE 1 END)'
                 ' * (2 * b_plus - m) * (2 * b_plus - m)',
                 'm')}
           END AS z_signed_sq
    FROM agg
    """


@register("stats_sign_test_daily_pair", _sign_test_oracle())
def stats_sign_test_daily_pair(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Paired sign test of the daily view vs purchase counts: on each
    calendar day the pair (views, purchases) gives one sign; under
    exchangeability B+ ~ Binomial(m, 1/2) over the m informative
    (non-tied) days, and sign(Z)*Z^2 = sign * (2B - m)^2 / m is the
    house exact form of the normal approximation. The DISTRIBUTION-
    FREE paired-location member beside the Wilcoxon signed-rank
    (which already covers magnitudes): the sign test is the one that
    survives arbitrary per-day scale differences.

    Calendar-bounded throughout: per-(type, day) partial aggregation,
    zero-filled spine, one scalar aggregate, one exact ratio.
    """
    from ..functions.exact import round_big_int_ratio

    t = Tables(spark, sf_dir)
    paired = type_pair_days(t, "view", "purchase")
    agg = paired.agg(
        F.sum(F.when(F.col("x") != F.col("y"), 1).otherwise(0)).alias("m"),
        F.sum(F.when(F.col("x") > F.col("y"), 1).otherwise(0)).alias("b_plus"),
        F.count(F.lit(1)).alias("n_days"),
    )
    dev = F.lit(2) * F.col("b_plus") - F.col("m")
    sign = F.when(dev < 0, F.lit(-1)).otherwise(F.lit(1)).cast("decimal(38,0)")
    return agg.select(
        "n_days",
        F.col("m").alias("n_informative"),
        "b_plus",
        F.when(
            F.col("m") > 0,
            round_big_int_ratio(sign * dec38(dev) * dec38(dev), dec38(F.col("m"))),
        ).alias("z_signed_sq"),
    )


# ---------------------------------------------------------------------------
# Fligner-Policello robust rank-order test (quantity by linestatus)
# ---------------------------------------------------------------------------


def _fp_oracle() -> str:
    from ..functions.exact import sql_round_big_int_ratio

    return f"""
    WITH rows_ AS (
      SELECT l_linestatus AS s, CAST(l_quantity AS BIGINT) AS q
      FROM lineitem WHERE l_linestatus IN ('F', 'O')
    ), grid AS (
      SELECT s, q, CAST(count(*) AS BIGINT) AS cnt FROM rows_ GROUP BY s, q
    ), a AS (SELECT q, cnt FROM grid WHERE s = 'F'),
    b AS (SELECT q, cnt FROM grid WHERE s = 'O'),
    pa AS (
      SELECT a.q, a.cnt,
             CAST(2 * coalesce(sum(CASE WHEN b.q < a.q THEN b.cnt END), 0)
                  + coalesce(sum(CASE WHEN b.q = a.q THEN b.cnt END), 0)
                  AS BIGINT) AS p2
      FROM a LEFT JOIN b ON b.q <= a.q
      GROUP BY a.q, a.cnt
    ), pb AS (
      SELECT b.q, b.cnt,
             CAST(2 * coalesce(sum(CASE WHEN a.q < b.q THEN a.cnt END), 0)
                  + coalesce(sum(CASE WHEN a.q = b.q THEN a.cnt END), 0)
                  AS BIGINT) AS p2
      FROM b LEFT JOIN a ON a.q <= b.q
      GROUP BY b.q, b.cnt
    ), sums AS (
      SELECT (SELECT CAST(sum(cnt) AS HUGEINT) FROM pa) AS m,
             (SELECT CAST(sum(cnt) AS HUGEINT) FROM pb) AS n,
             (SELECT CAST(sum(cnt * p2) AS HUGEINT) FROM pa) AS sp2,
             (SELECT CAST(sum(cnt * p2) AS HUGEINT) FROM pb) AS sq2,
             (SELECT CAST(sum(cnt * p2 * p2) AS HUGEINT) FROM pa) AS s2p2,
             (SELECT CAST(sum(cnt * p2 * p2) AS HUGEINT) FROM pb) AS s2q2
    ), bq AS (
      SELECT m, n, sp2, sq2,
             {sql_halfup_div('100::HUGEINT * (m * s2p2 - sp2 * sp2)', 'm')}
               AS b1,
             {sql_halfup_div('100::HUGEINT * (n * s2q2 - sq2 * sq2)', 'n')}
               AS b2,
             {sql_halfup_div('100::HUGEINT * sp2 * sq2', 'm * n')} AS b3
      FROM sums
    )
    SELECT CAST(m AS BIGINT) AS n_f, CAST(n AS BIGINT) AS n_o,
           CASE WHEN b1 + b2 + b3 > 0 THEN
             {sql_round_big_int_ratio(
                 '(CASE WHEN sp2 < sq2 THEN -1 ELSE 1 END)'
                 ' * 25 * (sp2 - sq2) * (sp2 - sq2)',
                 'b1 + b2 + b3')}
           END AS u_signed_sq
    FROM bq
    """


@register("stats_fligner_policello_status", _fp_oracle())
def stats_fligner_policello_status(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Fligner-Policello robust rank-order test of l_quantity between
    the two line statuses: U = (ΣP − ΣQ)/(2√(V₁+V₂+P̄Q̄)) built from
    PLACEMENTS (P_i = #{y < x_i} + ½#{y = x_i}) — the
    Behrens-Fisher-robust two-sample location test: Mann-Whitney
    assumes equal shapes, the t-test equal-ish variances; FP stays
    valid when the groups differ in BOTH spread and shape, which is
    the actual situation after any non-random split.

    House exact form sign(U)·U²: doubled placements 2P are exact
    integers computed on the ≤50-value quantity grid (count-weighted
    — never per-row ranks), the three variance addends quantize once
    at 1e-2 via the shared half-up idiom (4·[V₁+V₂+P̄Q̄] =
    (b₁+b₂+b₃)/100), and sign·25·(ΣP₂−ΣQ₂)²/(b₁+b₂+b₃) is one
    round_big_int_ratio — numerator ≲ 10³⁴ at sf1×10, inside
    decimal(38)/HUGEINT. One fact scan to the bounded grid;
    placements are grid×grid non-equi joins over ≤50 distinct values.
    """
    from ..functions.exact import round_big_int_ratio

    t = Tables(spark, sf_dir)
    rows = t.lineitem.filter(F.col("l_linestatus").isin("F", "O")).select(
        F.col("l_linestatus").alias("s"),
        F.col("l_quantity").cast("long").alias("q"),
    )
    grid = rows.groupBy("s", "q").agg(F.count(F.lit(1)).alias("cnt"))
    a = grid.filter(F.col("s") == "F").select("q", "cnt")
    b = grid.filter(F.col("s") == "O").select(
        F.col("q").alias("qb"), F.col("cnt").alias("cntb")
    )

    def placements(x, y, qx, qy, cx, cy):
        j = x.join(F.broadcast(y), F.col(qy) <= F.col(qx), "left")
        return j.groupBy(qx, cx).agg(
            (
                F.lit(2)
                * F.coalesce(
                    F.sum(F.when(F.col(qy) < F.col(qx), F.col(cy))), F.lit(0)
                )
                + F.coalesce(
                    F.sum(F.when(F.col(qy) == F.col(qx), F.col(cy))), F.lit(0)
                )
            ).alias("p2")
        )

    pa = placements(a, b, "q", "qb", "cnt", "cntb")
    pb = placements(
        b.select(F.col("qb").alias("q"), F.col("cntb").alias("cnt")),
        a.select(F.col("q").alias("qb"), F.col("cnt").alias("cntb")),
        "q",
        "qb",
        "cnt",
        "cntb",
    )

    def sums(p, pre):
        return p.agg(
            dec38(F.sum("cnt")).alias(f"{pre}n"),
            dec38(F.sum(F.col("cnt") * F.col("p2"))).alias(f"{pre}s"),
            F.sum(dec38(F.col("cnt")) * dec38(F.col("p2")) * dec38(F.col("p2"))).alias(
                f"{pre}ss"
            ),
        )

    s = sums(pa, "a_").crossJoin(F.broadcast(sums(pb, "b_")))
    h = F.lit(100).cast("decimal(38,0)")
    bq = s.select(
        F.col("a_n").alias("m"),
        F.col("b_n").alias("n"),
        F.col("a_s").alias("sp2"),
        F.col("b_s").alias("sq2"),
        halfup_div(
            h * (F.col("a_n") * F.col("a_ss") - F.col("a_s") * F.col("a_s")),
            F.col("a_n"),
        ).alias("b1"),
        halfup_div(
            h * (F.col("b_n") * F.col("b_ss") - F.col("b_s") * F.col("b_s")),
            F.col("b_n"),
        ).alias("b2"),
        halfup_div(h * F.col("a_s") * F.col("b_s"), F.col("a_n") * F.col("b_n")).alias(
            "b3"
        ),
    )
    diff = F.col("sp2") - F.col("sq2")
    sign = F.when(diff < 0, F.lit(-1)).otherwise(F.lit(1)).cast("decimal(38,0)")
    den = F.col("b1") + F.col("b2") + F.col("b3")
    return bq.select(
        F.col("m").cast("long").alias("n_f"),
        F.col("n").cast("long").alias("n_o"),
        F.when(
            den > 0,
            round_big_int_ratio(
                sign * F.lit(25).cast("decimal(38,0)") * diff * diff, den
            ),
        ).alias("u_signed_sq"),
    )


# ---------------------------------------------------------------------------
# k-sample median test (quantity by priority)
# ---------------------------------------------------------------------------


def _ksample_median_oracle() -> str:
    from ..functions.exact import sql_round_int_ratio

    return f"""
    WITH jn AS (
      SELECT o.o_orderpriority AS g, CAST(l.l_quantity AS BIGINT) AS q
      FROM lineitem l JOIN orders o ON o.o_orderkey = l.l_orderkey
    ), grid AS (
      SELECT g, q, CAST(count(*) AS BIGINT) AS cnt FROM jn GROUP BY g, q
    ), vals AS (
      SELECT q, CAST(sum(cnt) AS BIGINT) AS c FROM grid GROUP BY q
    ), cum AS (
      SELECT a.q, CAST(sum(b.c) AS BIGINT) AS cle
      FROM vals a JOIN vals b ON b.q <= a.q GROUP BY a.q
    ), nn AS (SELECT CAST(sum(c) AS BIGINT) AS n FROM vals),
    med AS (
      SELECT CAST(min(cum.q) AS BIGINT) AS med
      FROM cum, nn WHERE cum.cle >= (nn.n + 1) // 2
    ), cells AS (
      SELECT g, CAST(sum(cnt) AS HUGEINT) AS n_g,
             CAST(sum(CASE WHEN grid.q > med.med THEN cnt ELSE 0 END)
                  AS HUGEINT) AS above
      FROM grid, med GROUP BY g
    ), marg AS (
      SELECT CAST(sum(n_g) AS HUGEINT) AS n,
             CAST(sum(above) AS HUGEINT) AS r_above
      FROM cells
    ), chi AS (
      SELECT sum(
        (CASE WHEN m.r_above > 0 THEN
          ((2000000::HUGEINT * (c.above * m.n - c.n_g * m.r_above)
            * (c.above * m.n - c.n_g * m.r_above)
            + m.n * c.n_g * m.r_above)
           // (2::HUGEINT * m.n * c.n_g * m.r_above)) ELSE 0 END)
        + (CASE WHEN m.n - m.r_above > 0 THEN
          ((2000000::HUGEINT * ((c.n_g - c.above) * m.n
             - c.n_g * (m.n - m.r_above))
            * ((c.n_g - c.above) * m.n - c.n_g * (m.n - m.r_above))
            + m.n * c.n_g * (m.n - m.r_above))
           // (2::HUGEINT * m.n * c.n_g * (m.n - m.r_above))) ELSE 0 END)
        ) AS chi_q,
        CAST(count(*) AS BIGINT) AS k
      FROM cells c, marg m
    )
    SELECT c.g AS priority, CAST(c.n_g AS BIGINT) AS n,
           CAST(c.above AS BIGINT) AS n_above,
           {sql_round_int_ratio('CAST(c.above AS BIGINT)',
                                'CAST(c.n_g AS BIGINT)')} AS frac_above,
           m2.med AS grand_median,
           ch.chi_q / 1000000.0 AS chi2_stat,
           ch.k - 1 AS df
    FROM cells c, med m2, chi ch
    """


@register("stats_k_sample_median_test", _ksample_median_oracle())
def stats_k_sample_median_test(spark: SparkSession, sf_dir: str) -> DataFrame:
    """k-sample median test of l_quantity across the five order
    priorities: dichotomize every observation at the GRAND median and
    chi-square the resulting k×2 table — the k-group generalization
    of stats_mood_median_discount (two groups) and the bluntest,
    most assumption-free of the k-sample location tests (only the
    dichotomy matters, so it survives arbitrary within-group shapes
    where Kruskal-Wallis needs similar ones).

    Exact path: the grand median is the nearest-rank value over the
    ≤50-value quantity grid (bounded-domain cumulative); cell terms
    (O·N − n_g·R)²/(N·n_g·R) quantize per cell at 1e-6 by half-up
    integer division and SUM AS INT64 — one display division total.
    The expected-count denominators use the exact margins, so the
    statistic matches the textbook χ² on the dichotomized table.
    Heavy work is the lineitem⋈orders scan to the (priority,
    quantity) grid; everything after is ≤ 250 rows.
    """
    from ..functions.exact import round_int_ratio

    t = Tables(spark, sf_dir)
    jn = priority_quantities(t)
    grid = jn.groupBy("g", "q").agg(F.count(F.lit(1)).alias("cnt"))
    vals = grid.groupBy("q").agg(F.sum("cnt").alias("c"))
    vb = vals.select(F.col("q").alias("q_b"), F.col("c").alias("c_b"))
    cum = (
        vals.join(F.broadcast(vb), F.col("q_b") <= F.col("q"))
        .groupBy("q")
        .agg(F.sum("c_b").alias("cle"))
    )
    nn = vals.agg(F.sum("c").alias("n"))
    med = (
        cum.crossJoin(F.broadcast(nn))
        .filter(F.col("cle") >= ((F.col("n") + 1) - (F.col("n") + 1) % 2) / 2)
        .agg(F.min("q").alias("med"))
    )
    cells = (
        grid.crossJoin(F.broadcast(med))
        .groupBy("g")
        .agg(
            dec38(F.sum("cnt")).alias("n_g"),
            dec38(
                F.sum(F.when(F.col("q") > F.col("med"), F.col("cnt")).otherwise(0))
            ).alias("above"),
        )
    )
    marg = cells.agg(
        F.sum("n_g").alias("n"),
        F.sum("above").alias("r_above"),
        dec38(F.count(F.lit(1))).alias("k"),
    )
    wm = cells.crossJoin(F.broadcast(marg))

    def cell_term(obs, rmarg):
        dev = obs * F.col("n") - F.col("n_g") * rmarg
        den = F.col("n") * F.col("n_g") * rmarg
        a = F.lit(2000000).cast("decimal(38,0)") * dev * dev + den
        b = F.lit(2).cast("decimal(38,0)") * den
        return F.when(rmarg > 0, dec38((a - a % b) / b)).otherwise(
            F.lit(0).cast("decimal(38,0)")
        )

    chi = wm.select(
        (
            cell_term(F.col("above"), F.col("r_above"))
            + cell_term(
                F.col("n_g") - F.col("above"), F.col("n") - F.col("r_above")
            )
        ).alias("t")
    ).agg(F.sum("t").alias("chi_q"))
    return (
        cells.crossJoin(F.broadcast(med))
        .crossJoin(F.broadcast(chi))
        .crossJoin(F.broadcast(marg.select("k")))
        .select(
            F.col("g").alias("priority"),
            F.col("n_g").cast("long").alias("n"),
            F.col("above").cast("long").alias("n_above"),
            round_int_ratio(
                F.col("above").cast("long"), F.col("n_g").cast("long")
            ).alias("frac_above"),
            F.col("med").alias("grand_median"),
            (F.col("chi_q").cast("long") / F.lit(1e6)).alias("chi2_stat"),
            (F.col("k") - 1).cast("long").alias("df"),
        )
    )


# ---------------------------------------------------------------------------
# Blomqvist's beta (medial correlation) on a bounded-domain grid
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
# Dunn nonparametric post-hoc pairwise test (return-flag groups)
# ---------------------------------------------------------------------------


# Shared CTE chain up to the per-pair table (g_i, g_j, n_i, n_j, a_ij,
# n, cnum) — consumed by BOTH the Dunn oracle below and the Holm
# step-down oracle (one derivation, two tests: the
# r10 twin-sided-bug rule).
_DUNN_PAIR_CTES = """
    q AS (
      SELECT l_returnflag AS g, CAST(l_quantity AS BIGINT) AS v
      FROM lineitem WHERE l_quantity IS NOT NULL
    ), dv AS (
      SELECT v, CAST(count(*) AS BIGINT) AS cnt FROM q GROUP BY v
    ), r AS (
      SELECT v, cnt,
             coalesce(sum(cnt) OVER (ORDER BY v
               ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0) AS cum
      FROM dv
    ), gv AS (
      SELECT g, v, CAST(count(*) AS BIGINT) AS cnt_g FROM q GROUP BY g, v
    ), rg AS (
      SELECT gv.g,
             CAST(sum(gv.cnt_g) AS HUGEINT) AS n_g,
             CAST(sum(gv.cnt_g::HUGEINT * (2 * r.cum + r.cnt + 1)) AS HUGEINT)
               AS r2_g
      FROM gv JOIN r ON gv.v = r.v GROUP BY gv.g
    ), nt AS (
      SELECT CAST(sum(n_g) AS HUGEINT) AS n,
             (SELECT CAST(sum(cnt::HUGEINT * cnt * cnt - cnt) AS HUGEINT)
              FROM dv) AS tie3
      FROM rg
    ), cn AS (
      SELECT n, (n * (n + 1) * (n - 1) - tie3) AS cnum FROM nt
    ), pairs AS (
      SELECT a.g AS g_i, b.g AS g_j, a.n_g AS n_i, b.n_g AS n_j,
             (a.r2_g * b.n_g - b.r2_g * a.n_g) AS a_ij,
             c.n, c.cnum
      FROM rg a JOIN rg b ON a.g < b.g, cn c
    )
"""


# z^2 in shape-matched IEEE double (the KW-oracle precedent: *, / are
# correctly rounded identically in both engines; the exact-integer A^2
# path overflows decimal(38,0) at x10) — shared with the Holm step-down.
_SQL_DUNN_Z2 = """CAST(floor(
             ((((3.0 * CAST(n - 1 AS DOUBLE)) * CAST(a_ij AS DOUBLE))
               * CAST(a_ij AS DOUBLE)) * 1000000.0)
             / CAST(n_i * n_j AS DOUBLE)
             / CAST(n_i + n_j AS DOUBLE)
             / CAST(cnum AS DOUBLE) + 0.5) AS BIGINT)
             * (CASE WHEN a_ij < 0 THEN -1 ELSE 1 END)"""


def _dunn_oracle() -> str:
    hd = sql_halfup_div
    return f"""
    WITH {_DUNN_PAIR_CTES}
    SELECT g_i, g_j, CAST(n_i AS BIGINT) AS n_i, CAST(n_j AS BIGINT) AS n_j,
           CAST({hd('1000000::HUGEINT * a_ij', '2 * n_i * n_j')} AS BIGINT)
             AS rank_diff_micro,
           {_SQL_DUNN_Z2}
             AS dunn_z_sq_signed_micro
    FROM pairs ORDER BY g_i, g_j
    """


def _dunn_pairs(t: Tables) -> DataFrame:
    """Per-pair table (g_i, g_j, n_i, n_j, a_ij, n, cnum) of the Dunn
    derivation — 2x-midrank sums on the <= 50-value quantity grid, the
    exact pair numerator A_ij and the tie-corrected variance core.
    Shared by ``stats_dunn_posthoc_quantity`` and the Holm step-down
    wrapper ``stats_holm_stepdown_dunn`` (one derivation, two consumers)."""
    q = flag_quantities(t)
    dv = q.groupBy("v").agg(F.count(F.lit(1)).alias("cnt"))
    r = value_cum(dv, cum="cnt")
    gv = q.groupBy("g", "v").agg(F.count(F.lit(1)).alias("cnt_g"))
    rg = (
        gv.join(F.broadcast(r), "v")
        .groupBy("g")
        .agg(
            dec38(F.sum("cnt_g")).alias("n_g"),
            F.sum(
                dec38(F.col("cnt_g")) * (2 * F.col("cum") + F.col("cnt") + 1)
            ).alias("r2_g"),
        )
    )
    tie3 = dv.agg(
        F.sum(
            dec38(F.col("cnt")) * F.col("cnt") * F.col("cnt") - dec38(F.col("cnt"))
        ).alias("tie3")
    )
    cn = (
        rg.agg(F.sum("n_g").alias("n"))
        .crossJoin(F.broadcast(tie3))
        .select(
            "n",
            (F.col("n") * (F.col("n") + 1) * (F.col("n") - 1) - F.col("tie3")).alias(
                "cnum"
            ),
        )
    )
    b = rg.select(
        F.col("g").alias("g_j"), F.col("n_g").alias("n_j"), F.col("r2_g").alias("r2_j")
    )
    pairs = (
        rg.select(
            F.col("g").alias("g_i"), F.col("n_g").alias("n_i"), F.col("r2_g").alias("r2_i")
        )
        .join(F.broadcast(b), F.col("g_i") < F.col("g_j"))
        .crossJoin(F.broadcast(cn))
        .select(
            "g_i",
            "g_j",
            "n_i",
            "n_j",
            (F.col("r2_i") * F.col("n_j") - F.col("r2_j") * F.col("n_i")).alias("a_ij"),
            "n",
            "cnum",
        )
    )
    return pairs


def _dunn_z2_unsigned():
    """Unsigned z^2 micro column over a ``_dunn_pairs`` row, in the
    shape-matched IEEE double sequence twinned by ``_SQL_DUNN_Z2``."""
    ad = F.col("a_ij").cast("double")
    return F.floor(
        (((F.lit(3.0) * (F.col("n") - 1).cast("double")) * ad) * ad * F.lit(1000000.0))
        / (F.col("n_i") * F.col("n_j")).cast("double")
        / (F.col("n_i") + F.col("n_j")).cast("double")
        / F.col("cnum").cast("double")
        + F.lit(0.5)
    ).cast("long")


@register("stats_dunn_posthoc_quantity", _dunn_oracle())
def stats_dunn_posthoc_quantity(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Dunn post-hoc pairwise rank test behind
    ``stats_kruskal_wallis_quantity``: once KW rejects "all return-flag
    groups share a quantity distribution", Dunn says WHICH pairs differ
    — mean-rank difference per pair with the tie-corrected z statistic
    (signed square, the convention that avoids square roots). The
    nonparametric sibling of ``stats_tukey_hsd_priority`` (parametric
    post-hoc), sharing KW's bounded-grid rank machinery.

    Exactness: rank sums run in exact 2x-midrank units on the <= 50-row
    quantity grid (the KW convention); A_ij = r2_i n_j - r2_j n_i and
    the tie-corrected variance core Cn = N(N+1)(N-1) - sum(t^3 - t)
    are exact integers; z^2 = 3(N-1) A^2 / (n_i n_j (n_i+n_j) Cn) is
    evaluated in SHAPE-MATCHED IEEE double (the Kruskal-Wallis oracle
    precedent: double *, / are correctly rounded, so two engines
    evaluating the identical expression tree produce the identical
    bits; the exact-integer 1e6 A^2 numerator overflows decimal(38,0)
    at the x10 replica scale, and no integer staging balances the
    factor magnitudes) — the replica re-runs the same double sequence
    AND anchors against the textbook float formula.

    Scale shape: one scan to the (group x quantity-value) grid; the
    midrank cumulative is a broadcast band join over <= 50 DISTINCT
    VALUES (``value_cum``, never row-scaled); pairs are a 3-row
    self-join.
    """
    t = Tables(spark, sf_dir)
    pairs = _dunn_pairs(t)
    # Cross-engine contract (ADVICE r11): a_ij is an exact integer that
    # can exceed 2^53 at x10 replica scale, so Spark's decimal->double
    # and DuckDB's HUGEINT->double casts must round identically. Both
    # engines use IEEE-754 round-to-nearest-even for integer->double
    # conversion (same precedent as the Kruskal-Wallis H path); the x10
    # replica in tests/test_roundtwelve3.py anchors this — if either
    # engine ever changes conversion rounding, that parity test is the
    # tripwire.
    z2 = _dunn_z2_unsigned()
    m6 = F.lit(1_000_000).cast("decimal(38,0)")
    return pairs.select(
        "g_i",
        "g_j",
        F.col("n_i").cast("long").alias("n_i"),
        F.col("n_j").cast("long").alias("n_j"),
        halfup_div(m6 * F.col("a_ij"), 2 * F.col("n_i") * F.col("n_j"))
        .cast("long")
        .alias("rank_diff_micro"),
        (z2 * F.when(F.col("a_ij") < 0, F.lit(-1)).otherwise(F.lit(1)))
        .cast("long")
        .alias("dunn_z_sq_signed_micro"),
    ).orderBy("g_i", "g_j")


# ---------------------------------------------------------------------------
# Holm–Bonferroni step-down over the Dunn pairwise family
# ---------------------------------------------------------------------------

# chi^2_1 critical values at the Holm alpha ladder for m=3 pairwise
# comparisons, alpha=0.05 (two-sided): quantile(1 - 0.05/(m-rank+1)).
# Fixed literals computed once by bisection on the error function
# (Phi^-1(1-a/2)^2) and shared verbatim by both engines — micro units.
HOLM_CRIT_MICRO = {1: 5731139, 2: 5023886, 3: 3841459}


def _holm_oracle() -> str:

    crit = " ".join(
        f"WHEN {r} THEN {c}" for r, c in sorted(HOLM_CRIT_MICRO.items())
    )
    return f"""
    WITH {_DUNN_PAIR_CTES}, pz AS (
      SELECT g_i, g_j, abs({_SQL_DUNN_Z2}) AS z2u FROM pairs
    ), rk AS (
      SELECT a.g_i, a.g_j, a.z2u,
             1 + (SELECT count(*) FROM pz b
                  WHERE b.z2u > a.z2u
                     OR (b.z2u = a.z2u AND (b.g_i, b.g_j) < (a.g_i, a.g_j)))
               AS holm_rank
      FROM pz a
    ), rr AS (
      SELECT g_i, g_j, z2u, holm_rank,
             (CASE holm_rank {crit} END) AS crit_micro,
             CASE WHEN z2u >= (CASE holm_rank {crit} END)
                  THEN 1 ELSE 0 END AS raw_reject
      FROM rk
    )
    SELECT a.g_i, a.g_j, CAST(a.z2u AS BIGINT) AS z2_micro,
           CAST(a.holm_rank AS BIGINT) AS holm_rank,
           CAST(a.crit_micro AS BIGINT) AS crit_micro,
           CAST((SELECT min(b.raw_reject) FROM rr b
                 WHERE b.holm_rank <= a.holm_rank) AS BIGINT) AS reject
    FROM rr a ORDER BY a.holm_rank, a.g_i, a.g_j
    """


@register("stats_holm_stepdown_dunn", oracle=_holm_oracle())
def stats_holm_stepdown_dunn(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Holm–Bonferroni step-down multiplicity control over the Dunn
    pairwise family (Holm 1979): order the m=3 return-flag pair
    statistics by significance, test the most significant against
    alpha/m, the next against alpha/(m-1), and STOP at the first
    acceptance — every later pair is accepted regardless of its raw
    statistic. ``stats_dunn_posthoc_quantity`` reports the raw pair
    z^2; this is the decision layer an analyst actually applies
    (uniformly more powerful than plain Bonferroni at identical
    familywise error), shared-derivation with the Dunn op
    (``_dunn_pairs`` / ``_DUNN_PAIR_CTES`` — one
    derivation, two consumers, the r10 twin-sided-bug rule).

    Exactness: pair z^2 micro values come from the shared shape-matched
    IEEE double sequence (Dunn/KW precedent); the critical ladder is
    three fixed integer micro literals (``HOLM_CRIT_MICRO``, computed
    by erf bisection, embedded verbatim in both engines); ranking,
    step-down (min over the rank prefix) and rejection are pure integer
    logic with a deterministic (z2 desc, g_i, g_j) tiebreak.

    Scale shape: everything after the shared <= 50-value rank grid is
    3-row algebra — rank via a 3x3 broadcast self-join counting
    predecessors (no global window), step-down via a second bounded
    self-join feeding a grouped min.
    """

    t = Tables(spark, sf_dir)
    pz = _dunn_pairs(t).select(
        "g_i", "g_j", _dunn_z2_unsigned().alias("z2u")
    )
    b = pz.select(
        F.col("g_i").alias("b_gi"),
        F.col("g_j").alias("b_gj"),
        F.col("z2u").alias("b_z2u"),
    )
    before = (F.col("b_z2u") > F.col("z2u")) | (
        (F.col("b_z2u") == F.col("z2u"))
        & (
            (F.col("b_gi") < F.col("g_i"))
            | ((F.col("b_gi") == F.col("g_i")) & (F.col("b_gj") < F.col("g_j")))
        )
    )
    rk = (
        pz.join(F.broadcast(b), before, "left")
        .groupBy("g_i", "g_j", "z2u")
        .agg((F.lit(1) + F.count("b_gi")).alias("holm_rank"))
    )
    crit = F.element_at(
        F.create_map(
            *[
                x
                for r, c in sorted(HOLM_CRIT_MICRO.items())
                for x in (F.lit(r), F.lit(c))
            ]
        ),
        F.col("holm_rank").cast("int"),
    )
    rr = rk.select(
        "g_i",
        "g_j",
        "z2u",
        "holm_rank",
        crit.cast("long").alias("crit_micro"),
        F.when(F.col("z2u") >= crit, F.lit(1)).otherwise(F.lit(0)).alias("raw_reject"),
    )
    b2 = rr.select(
        F.col("holm_rank").alias("b_rank"), F.col("raw_reject").alias("b_raw")
    )
    return (
        rr.join(F.broadcast(b2), F.col("b_rank") <= F.col("holm_rank"))
        .groupBy("g_i", "g_j", "z2u", "holm_rank", "crit_micro")
        .agg(F.min("b_raw").cast("long").alias("reject"))
        .select(
            "g_i",
            "g_j",
            F.col("z2u").cast("long").alias("z2_micro"),
            F.col("holm_rank").cast("long").alias("holm_rank"),
            "crit_micro",
            "reject",
        )
        .orderBy("holm_rank", "g_i", "g_j")
    )


# ---------------------------------------------------------------------------
# Goodman–Kruskal gamma: priority rank x total-price band
# ---------------------------------------------------------------------------

GK_PRICE_BAND = 50_000


def _gk_cells_sql() -> str:
    return f"""
    lab AS (
      SELECT CAST(substr(o_orderpriority, 1, 1) AS BIGINT) AS x,
             CAST(floor(o_totalprice / {GK_PRICE_BAND}.0) AS BIGINT) AS y
      FROM orders
    ), cells AS (
      SELECT x, y, CAST(count(*) AS HUGEINT) AS n FROM lab GROUP BY x, y
    )
    """


def _gk_oracle() -> str:
    hd = sql_halfup_div
    return f"""
    WITH {_gk_cells_sql()}, cd AS (
      SELECT CAST(sum(CASE WHEN b.x > a.x AND b.y > a.y THEN a.n * b.n
                           ELSE 0 END) AS HUGEINT) AS c_pairs,
             CAST(sum(CASE WHEN b.x > a.x AND b.y < a.y THEN a.n * b.n
                           ELSE 0 END) AS HUGEINT) AS d_pairs
      FROM cells a, cells b
    )
    SELECT (SELECT CAST(count(*) AS BIGINT) FROM cells) AS n_cells,
           CAST(c_pairs AS BIGINT) AS c_pairs,
           CAST(d_pairs AS BIGINT) AS d_pairs,
           CASE WHEN c_pairs + d_pairs > 0 THEN
             CAST({hd('1000000::HUGEINT * (c_pairs - d_pairs)',
                      'c_pairs + d_pairs')} AS BIGINT)
           END AS gamma_micro
    FROM cd
    """


@register("stats_goodman_kruskal_gamma", oracle=_gk_oracle())
def stats_goodman_kruskal_gamma(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Goodman–Kruskal gamma (1954) between order priority rank and
    the $50k total-price band: the ordinal association measure that
    IGNORES ties entirely — gamma = (C - D)/(C + D) over strictly
    concordant/discordant pairs. Completes the ordinal-association
    shelf: ``stats_kendall_tau_b`` corrects for ties symmetrically,
    ``stats_somers_d_status`` asymmetrically; gamma is the
    ties-excluded upper member the three-way comparison needs.

    Exactness: pair counts come from the (priority x band) contingency
    cells — C = sum over cell pairs (a,b) with b strictly above-right
    of a of n_a * n_b, D the above-left twin — all exact integers; the
    single final ratio is one half-up micro division, NULL-guarded for
    the degenerate all-tied table.

    Scale shape: one orders scan partial-aggregating to the bounded
    (5 x ~20-band) grid; the cell-pair "join" is a broadcast cross of
    <= ~100-row grids; three scalars out. Never row-scaled.
    """
    t = Tables(spark, sf_dir)
    cells = t.orders.select(
        F.substring("o_orderpriority", 1, 1).cast("long").alias("x"),
        F.floor(F.col("o_totalprice") / float(GK_PRICE_BAND)).cast("long").alias("y"),
    ).groupBy("x", "y").agg(dec38(F.count(F.lit(1))).alias("n"))
    b = cells.select(
        F.col("x").alias("bx"), F.col("y").alias("by"), F.col("n").alias("bn")
    )
    cd = cells.crossJoin(F.broadcast(b)).agg(
        F.sum(
            F.when(
                (F.col("bx") > F.col("x")) & (F.col("by") > F.col("y")),
                F.col("n") * F.col("bn"),
            ).otherwise(F.lit(0).cast("decimal(38,0)"))
        ).alias("c_pairs"),
        F.sum(
            F.when(
                (F.col("bx") > F.col("x")) & (F.col("by") < F.col("y")),
                F.col("n") * F.col("bn"),
            ).otherwise(F.lit(0).cast("decimal(38,0)"))
        ).alias("d_pairs"),
    )
    ncells = cells.agg(F.count(F.lit(1)).cast("long").alias("n_cells"))
    m6 = F.lit(1_000_000).cast("decimal(38,0)")
    return ncells.crossJoin(F.broadcast(cd)).select(
        "n_cells",
        F.col("c_pairs").cast("long").alias("c_pairs"),
        F.col("d_pairs").cast("long").alias("d_pairs"),
        F.when(
            F.col("c_pairs") + F.col("d_pairs") > 0,
            halfup_div(
                m6 * (F.col("c_pairs") - F.col("d_pairs")),
                F.col("c_pairs") + F.col("d_pairs"),
            ).cast("long"),
        ).alias("gamma_micro"),
    )


# ---------------------------------------------------------------------------
# Somers' D: order status (binary) on priority rank (ordinal)
# ---------------------------------------------------------------------------


def _somers_oracle() -> str:
    hd = sql_halfup_div
    return f"""
    WITH lab AS (
      SELECT CAST(substr(o_orderpriority, 1, 1) AS BIGINT) AS x,
             CASE WHEN o_orderstatus = 'F' THEN 1 ELSE 0 END AS y
      FROM orders
    ), cells AS (
      SELECT x, y, CAST(count(*) AS HUGEINT) AS n FROM lab GROUP BY x, y
    ), cd AS (
      SELECT CAST(sum(CASE WHEN b.x > a.x AND b.y > a.y THEN a.n * b.n
                           ELSE 0 END) AS HUGEINT) AS c_pairs,
             CAST(sum(CASE WHEN b.x > a.x AND b.y < a.y THEN a.n * b.n
                           ELSE 0 END) AS HUGEINT) AS d_pairs,
             CAST(sum(CASE WHEN b.x > a.x AND b.y = a.y THEN a.n * b.n
                           ELSE 0 END) AS HUGEINT) AS ties_y,
             CAST(sum(CASE WHEN b.x = a.x AND b.y > a.y THEN a.n * b.n
                           ELSE 0 END) AS HUGEINT) AS ties_x
      FROM cells a, cells b
    )
    SELECT CAST(c_pairs AS BIGINT) AS c_pairs,
           CAST(d_pairs AS BIGINT) AS d_pairs,
           CAST(ties_x AS BIGINT) AS ties_x,
           CAST(ties_y AS BIGINT) AS ties_y,
           CASE WHEN c_pairs + d_pairs + ties_y > 0 THEN
             CAST({hd('1000000::HUGEINT * (c_pairs - d_pairs)',
                      'c_pairs + d_pairs + ties_y')} AS BIGINT)
           END AS somers_d_yx_micro,
           CASE WHEN c_pairs + d_pairs + ties_x > 0 THEN
             CAST({hd('1000000::HUGEINT * (c_pairs - d_pairs)',
                      'c_pairs + d_pairs + ties_x')} AS BIGINT)
           END AS somers_d_xy_micro
    FROM cd
    """


@register("stats_somers_d_status", oracle=_somers_oracle())
def stats_somers_d_status(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Somers' D (1962) of the finished-status indicator on the order
    priority rank, both directions: d_{Y|X} = (C-D)/(C+D+T_Y) treats
    status as the response (the form equal to 2*AUC-1 for a binary
    outcome against an ordinal predictor — the Gini coefficient of the
    priority-as-classifier), d_{X|Y} the transpose.
    ``stats_cochran_armitage_trend`` tests the same two variables for
    a LINEAR trend in proportions; Somers' D is the rank-based effect
    SIZE with the tie decomposition that explains where association
    mass lives. Asymmetric tie handling is the whole point — it
    completes gamma (ties dropped) and tau-b (ties symmetric).

    Exactness: C, D, T_X, T_Y are exact integer pair counts off the
    5x2 contingency cells (broadcast cell cross, never row pairs); the
    two ratios are single half-up micro divisions, NULL-guarded for
    degenerate margins.

    Scale shape: one orders scan to 10 cells; everything downstream is
    constant-size algebra.
    """
    t = Tables(spark, sf_dir)
    cells = t.orders.select(
        F.substring("o_orderpriority", 1, 1).cast("long").alias("x"),
        F.when(F.col("o_orderstatus") == "F", 1).otherwise(0).alias("y"),
    ).groupBy("x", "y").agg(dec38(F.count(F.lit(1))).alias("n"))
    b = cells.select(
        F.col("x").alias("bx"), F.col("y").alias("by"), F.col("n").alias("bn")
    )
    z = F.lit(0).cast("decimal(38,0)")
    prod = F.col("n") * F.col("bn")
    cd = cells.crossJoin(F.broadcast(b)).agg(
        F.sum(
            F.when((F.col("bx") > F.col("x")) & (F.col("by") > F.col("y")), prod)
            .otherwise(z)
        ).alias("c_pairs"),
        F.sum(
            F.when((F.col("bx") > F.col("x")) & (F.col("by") < F.col("y")), prod)
            .otherwise(z)
        ).alias("d_pairs"),
        F.sum(
            F.when((F.col("bx") > F.col("x")) & (F.col("by") == F.col("y")), prod)
            .otherwise(z)
        ).alias("ties_y"),
        F.sum(
            F.when((F.col("bx") == F.col("x")) & (F.col("by") > F.col("y")), prod)
            .otherwise(z)
        ).alias("ties_x"),
    )
    m6 = F.lit(1_000_000).cast("decimal(38,0)")
    num = m6 * (F.col("c_pairs") - F.col("d_pairs"))
    den_yx = F.col("c_pairs") + F.col("d_pairs") + F.col("ties_y")
    den_xy = F.col("c_pairs") + F.col("d_pairs") + F.col("ties_x")
    return cd.select(
        F.col("c_pairs").cast("long").alias("c_pairs"),
        F.col("d_pairs").cast("long").alias("d_pairs"),
        F.col("ties_x").cast("long").alias("ties_x"),
        F.col("ties_y").cast("long").alias("ties_y"),
        F.when(den_yx > 0, halfup_div(num, den_yx).cast("long")).alias(
            "somers_d_yx_micro"
        ),
        F.when(den_xy > 0, halfup_div(num, den_xy).cast("long")).alias(
            "somers_d_xy_micro"
        ),
    )


# ---------------------------------------------------------------------------
# Siegel–Tukey scale test (return-flag A vs R quantities)
# ---------------------------------------------------------------------------

# Closed-form sum of Siegel–Tukey ranks over a positions run [a, b]
# (1-based positions in the pooled sorted order, N total). The take
# pattern (1 low, 2 high, 2 low, 2 high, ...) gives position-wise
# ranks that do NOT depend on N:
#   low-end position p:             strank = 2p - [p odd]
#   high-end position, q = N+1-p:   strank = 2q - [q even]
# but the low/high SPLIT does: the low side consumes exactly
#   h(N) = N//2 + [N mod 4 == 1]
# positions (derived from the alternating-take cumulative 1,3,5,...;
# verified against the brute-force assignment for N = 1..13 in
# tests/test_roundtwelve6.py, including the textbook 1,4,5,3,2 and
# 1,4,5,6,3,2 sequences). Both partial sums telescope:
#   sum 2p over [a', b']   = b'(b'+1) - (a'-1)a'
#   #odd  in [a', b']      = (b'+1)//2 - a'//2
#   #even in [a', b']      = b'//2 - (a'-1)//2


def _st_runsum_sql(a: str, b: str, n: str) -> str:
    """SQL: sum of Siegel–Tukey ranks over positions [a, b] of N."""
    h = f"(({n}) // 2 + CASE WHEN ({n}) % 4 = 1 THEN 1 ELSE 0 END)"
    lo_a, lo_b = f"({a})", f"least(({b}), {h})"
    # high-end q-range for positions (h, b]: q in [N+1-b, N-h]
    hi_a, hi_b = f"({n} + 1 - ({b}))", f"({n} - greatest(({a}) - 1, {h}))"
    lo = (
        f"(CASE WHEN {lo_a} <= {lo_b} THEN "
        f"({lo_b} * ({lo_b} + 1) - ({lo_a} - 1) * {lo_a}) "
        f"- (({lo_b} + 1) // 2 - {lo_a} // 2) ELSE 0 END)"
    )
    hi = (
        f"(CASE WHEN {hi_a} <= {hi_b} THEN "
        f"({hi_b} * ({hi_b} + 1) - ({hi_a} - 1) * {hi_a}) "
        f"- ({hi_b} // 2 - ({hi_a} - 1) // 2) ELSE 0 END)"
    )
    return f"({lo} + {hi})"


def _st_runsum_col(a, b, n):
    """Spark twin of :func:`_st_runsum_sql` (same integer closed form)."""
    h = (
        F.floor(n / 2) + F.when(n % 4 == 1, F.lit(1)).otherwise(F.lit(0))
    ).cast("long")
    lo_a, lo_b = a, F.least(b, h)
    hi_a, hi_b = n + 1 - b, n - F.greatest(a - 1, h)
    odd = lambda x, y: F.floor((y + 1) / 2) - F.floor(x / 2)  # noqa: E731
    even = lambda x, y: F.floor(y / 2) - F.floor((x - 1) / 2)  # noqa: E731
    lo = F.when(
        lo_a <= lo_b, lo_b * (lo_b + 1) - (lo_a - 1) * lo_a - odd(lo_a, lo_b)
    ).otherwise(F.lit(0))
    hi = F.when(
        hi_a <= hi_b, hi_b * (hi_b + 1) - (hi_a - 1) * hi_a - even(hi_a, hi_b)
    ).otherwise(F.lit(0))
    return (lo + hi).cast("long")


def _siegel_tukey_oracle() -> str:
    hd = sql_halfup_div
    runsum = _st_runsum_sql("cum + 1", "cum + cnt", "n")
    return f"""
    WITH q AS (
      SELECT l_returnflag AS g, CAST(l_quantity AS BIGINT) AS v
      FROM lineitem
      WHERE l_returnflag IN ('A', 'R') AND l_quantity IS NOT NULL
    ), dv AS (
      SELECT v, CAST(count(*) AS BIGINT) AS cnt,
             CAST(count(*) FILTER (WHERE g = 'A') AS BIGINT) AS cnt_a
      FROM q GROUP BY v
    ), tot AS (
      SELECT CAST(sum(cnt) AS BIGINT) AS n,
             CAST(sum(cnt_a) AS BIGINT) AS n_a,
             CAST(sum(cnt * cnt * cnt - cnt) AS HUGEINT) AS tie3
      FROM dv
    ), runs AS (
      SELECT v, cnt, cnt_a,
             coalesce(sum(cnt) OVER (ORDER BY v
               ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0) AS cum,
             t.n
      FROM dv, tot t
    ), w AS (
      SELECT CAST(sum({hd('1000000::HUGEINT * cnt_a * ' + runsum, 'cnt')})
                  AS HUGEINT) AS w_a_micro
      FROM runs
    ), stat AS (
      SELECT t.n, t.n_a, (t.n - t.n_a) AS n_r, t.tie3, w.w_a_micro,
             (t.n::HUGEINT * (t.n + 1) * (t.n - 1) - t.tie3) AS cnum
      FROM tot t, w
    )
    SELECT CAST(n_a AS BIGINT) AS n_a, CAST(n_r AS BIGINT) AS n_r,
           CAST(w_a_micro AS BIGINT) AS w_a_micro,
           CAST(500000::HUGEINT * n_a * (n + 1) AS BIGINT) AS e_w_micro,
           CASE WHEN cnum > 0 AND n_a > 0 AND n_r > 0 THEN
             CAST(floor(
               ((CAST(w_a_micro AS DOUBLE) - CAST(n_a AS DOUBLE)
                 * CAST(n + 1 AS DOUBLE) * 500000.0)
                * (CAST(w_a_micro AS DOUBLE) - CAST(n_a AS DOUBLE)
                   * CAST(n + 1 AS DOUBLE) * 500000.0))
               * 12.0 * CAST(n AS DOUBLE) * CAST(n - 1 AS DOUBLE)
               / 1000000.0
               / CAST(n_a AS DOUBLE) / CAST(n_r AS DOUBLE)
               / CAST(cnum AS DOUBLE) + 0.5) AS BIGINT)
             * (CASE WHEN w_a_micro < 500000::HUGEINT * n_a * (n + 1)
                     THEN -1 ELSE 1 END)
           END AS st_z_sq_signed_micro
    FROM stat
    """


@register("stats_siegel_tukey_scale", oracle=_siegel_tukey_oracle())
def stats_siegel_tukey_scale(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Siegel–Tukey scale test (1960) on returned-vs-refused line-item
    quantities: rank the pooled sample ALTERNATING FROM BOTH EXTREMES
    (1 to the min, 2-3 to the top two, 4-5 to the next two lows, ...)
    so a group with larger dispersion collects systematically SMALLER
    ranks, then run the Wilcoxon rank-sum on those ranks. The
    scale-shelf member whose null distribution IS Wilcoxon's (its
    selling point over ``stats_ansari_bradley_quantity``, whose
    statistic needs its own tables; ``stats_conover_squared_ranks``
    completes the shelf with the moments-based rank test).

    Exactness: the extreme-alternating rank sum over each tied-value
    run [cum+1, cum+cnt] has the integer closed form implemented ONCE
    per engine (``_st_runsum_sql`` / ``_st_runsum_col``, telescoped
    low-end 2p-[p odd] and high-end 2q-[q even] partial sums, verified
    against the textbook 1,4,5,3,2 / 1,4,5,6,3,2 sequences in the
    replica); mid-rank tie handling quantizes each run's group share
    ONCE at micro (half-up, denominator = run length, <= 50 runs so
    total quantization error <= 25 micro-rank); the z^2 uses the exact
    tie-corrected Wilcoxon variance core n_a n_r (N^3-N - sum(t^3-t))
    / (12 N (N-1)) in the shape-matched IEEE double sequence (Dunn/KW
    precedent).

    Scale shape: one scan to the <= 50-value quantity grid; the prefix
    cumulative is a broadcast band join over DISTINCT VALUES
    (``value_cum``, domain-bounded); two scalar aggregates out.
    """
    t = Tables(spark, sf_dir)
    q = flag_quantities(t, ("A", "R"))
    dv = q.groupBy("v").agg(
        F.count(F.lit(1)).alias("cnt"),
        F.sum(F.when(F.col("g") == "A", 1).otherwise(0)).alias("cnt_a"),
    )
    tot = dv.agg(
        F.sum("cnt").cast("long").alias("n"),
        F.sum("cnt_a").cast("long").alias("n_a"),
        F.sum(
            dec38(F.col("cnt")) * F.col("cnt") * F.col("cnt") - dec38(F.col("cnt"))
        ).alias("tie3"),
    )
    runs = value_cum(dv, cum="cnt").crossJoin(F.broadcast(tot.select("n")))
    runsum = _st_runsum_col(
        F.col("cum") + 1, F.col("cum") + F.col("cnt"), F.col("n")
    )
    m6 = F.lit(1_000_000).cast("decimal(38,0)")
    wa = runs.agg(
        F.sum(
            halfup_div(m6 * F.col("cnt_a") * dec38(runsum), dec38(F.col("cnt")))
        ).alias("w_a_micro")
    )
    stat = tot.crossJoin(F.broadcast(wa)).select(
        "n",
        "n_a",
        (F.col("n") - F.col("n_a")).alias("n_r"),
        "w_a_micro",
        (
            dec38(F.col("n")) * (F.col("n") + 1) * (F.col("n") - 1) - F.col("tie3")
        ).alias("cnum"),
    )
    dw = F.col("w_a_micro").cast("double") - F.col("n_a").cast("double") * (
        F.col("n") + 1
    ).cast("double") * F.lit(500000.0)
    z2 = F.floor(
        (dw * dw)
        * F.lit(12.0)
        * F.col("n").cast("double")
        * (F.col("n") - 1).cast("double")
        / F.lit(1000000.0)
        / F.col("n_a").cast("double")
        / F.col("n_r").cast("double")
        / F.col("cnum").cast("double")
        + F.lit(0.5)
    ).cast("long")
    e_w = dec38(F.lit(500000)) * F.col("n_a") * (F.col("n") + 1)
    return stat.select(
        F.col("n_a").cast("long").alias("n_a"),
        F.col("n_r").cast("long").alias("n_r"),
        F.col("w_a_micro").cast("long").alias("w_a_micro"),
        e_w.cast("long").alias("e_w_micro"),
        F.when(
            (F.col("cnum") > 0) & (F.col("n_a") > 0) & (F.col("n_r") > 0),
            z2 * F.when(F.col("w_a_micro") < e_w, F.lit(-1)).otherwise(F.lit(1)),
        )
        .cast("long")
        .alias("st_z_sq_signed_micro"),
    )


# ---------------------------------------------------------------------------
# Conover squared-ranks dispersion test (return-flag groups)
# ---------------------------------------------------------------------------


def _conover_oracle() -> str:
    return """
    WITH q AS (
      SELECT l_returnflag AS g, CAST(l_quantity AS HUGEINT) AS v
      FROM lineitem WHERE l_quantity IS NOT NULL
    ), gs AS (
      SELECT g, CAST(count(*) AS HUGEINT) AS n_g, CAST(sum(v) AS HUGEINT) AS s_g
      FROM q GROUP BY g
    ), pr AS (
      -- exact integer product of group sizes (k <= 3 groups, pivoted
      -- in group order; COALESCE(1) absorbs fuzz profiles with < 3)
      SELECT COALESCE((SELECT n_g FROM gs ORDER BY g LIMIT 1), 1)::HUGEINT
             * COALESCE((SELECT n_g FROM gs ORDER BY g LIMIT 1 OFFSET 1), 1)::HUGEINT
             * COALESCE((SELECT n_g FROM gs ORDER BY g LIMIT 1 OFFSET 2), 1)::HUGEINT
               AS p
    ), dev AS (
      SELECT q.g, (abs(q.v * gs.n_g - gs.s_g) * (pr.p // gs.n_g)) AS u
      FROM q JOIN gs ON q.g = gs.g, pr
    ), du AS (
      SELECT u, CAST(count(*) AS BIGINT) AS cnt FROM dev GROUP BY u
    ), r AS (
      SELECT u, cnt,
             coalesce(sum(cnt) OVER (ORDER BY u
               ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0) AS cum
      FROM du
    ), ranked AS (
      -- doubled mid-rank 2R = 2*cum + cnt + 1 (exact integer)
      SELECT d.g, (2 * r.cum + r.cnt + 1)::HUGEINT AS r2
      FROM dev d JOIN r ON d.u = r.u
    ), sums AS (
      SELECT g, CAST(count(*) AS HUGEINT) AS n_g,
             CAST(sum(r2 * r2) AS HUGEINT) AS s_j,
             CAST(sum(r2 * r2 * r2 * r2) AS HUGEINT) AS q_j
      FROM ranked GROUP BY g
    ), tot AS (
      SELECT CAST(sum(n_g) AS HUGEINT) AS n,
             CAST(sum(s_j) AS HUGEINT) AS s_all,
             CAST(sum(q_j) AS HUGEINT) AS q_all
      FROM sums
    ), tstat AS (
      -- sq_over_n sums <= 3 float terms in EXPLICIT group order
      -- (float addition is order-sensitive; a set-order sum could
      -- diverge between engines) — pivoted term-by-term like pr
      SELECT t.n, t.s_all, t.q_all,
             COALESCE((SELECT CAST(s_j AS DOUBLE) * CAST(s_j AS DOUBLE)
                       / CAST(n_g AS DOUBLE) FROM sums ORDER BY g LIMIT 1), 0.0)
             + COALESCE((SELECT CAST(s_j AS DOUBLE) * CAST(s_j AS DOUBLE)
                       / CAST(n_g AS DOUBLE) FROM sums ORDER BY g LIMIT 1 OFFSET 1), 0.0)
             + COALESCE((SELECT CAST(s_j AS DOUBLE) * CAST(s_j AS DOUBLE)
                       / CAST(n_g AS DOUBLE) FROM sums ORDER BY g LIMIT 1 OFFSET 2), 0.0)
               AS sq_over_n
      FROM tot t
    )
    SELECT CAST(n AS BIGINT) AS n_items,
           CASE WHEN CAST(q_all AS DOUBLE) * CAST(n AS DOUBLE)
                     - CAST(s_all AS DOUBLE) * CAST(s_all AS DOUBLE) > 0 THEN
             CAST(floor(
               (sq_over_n - CAST(s_all AS DOUBLE) * CAST(s_all AS DOUBLE)
                            / CAST(n AS DOUBLE))
               * CAST(n - 1 AS DOUBLE) * 1000000.0
               / (CAST(q_all AS DOUBLE)
                  - CAST(s_all AS DOUBLE) * CAST(s_all AS DOUBLE)
                    / CAST(n AS DOUBLE)) + 0.5) AS BIGINT)
           END AS conover_t_micro
    FROM tstat
    """


@register("stats_conover_squared_ranks", oracle=_conover_oracle())
def stats_conover_squared_ranks(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Conover squared-ranks test (Conover & Iman 1978) for equal
    dispersion across the three return-flag quantity groups: rank the
    pooled ABSOLUTE DEVIATIONS FROM GROUP MEANS, square the ranks, and
    run the one-way ANOVA on those squares — T = (sum_j S_j^2/n_j -
    N avg^2) (N-1) / (sum R^4 - N avg^2), chi-square with k-1 df. The
    k-sample moments-based member of the scale shelf
    (``stats_siegel_tukey_scale`` and ``stats_ansari_bradley_quantity``
    are two-sample location-of-ranks forms; Bartlett/Levene/
    Brown-Forsythe are the parametric/robust siblings).

    Exactness: deviations compare EXACTLY across groups by clearing
    denominators — |v - s_j/n_j| ranks identically to
    |v*n_j - s_j| * (P/n_j) with P the product of group sizes (all
    exact integers, k=3 so P fits HUGEINT/decimal(38)); pooled doubled
    mid-ranks 2R = 2*cum + cnt + 1 are exact on the <= 150-value
    deviation grid (50 quantity values x 3 group scalings); S_j =
    sum (2R)^2 and sum (2R)^4 are exact integers (T is invariant to
    the doubling — both numerator and denominator scale by 16); the
    final T is the shape-matched IEEE double sequence, micro-quantized,
    NULL-guarded for the zero-variance degenerate.

    Scale shape: one scan to the (group x quantity) grid, a broadcast
    3-row group-stats join, mid-ranks via a broadcast band join over
    <= 150 DISTINCT deviation VALUES (``value_cum``, domain-bounded),
    then 3-row algebra.
    """
    t = Tables(spark, sf_dir)
    q = flag_quantities(t)
    # per-(group, value) grid first: all per-row arithmetic collapses
    # to the bounded grid before any join or window
    gv = q.groupBy("g", "v").agg(F.count(F.lit(1)).alias("cnt_gv"))
    gs = gv.groupBy("g").agg(
        dec38(F.sum("cnt_gv")).alias("n_g"),
        dec38(F.sum(F.col("v") * F.col("cnt_gv"))).alias("s_g"),
    )
    # exact integer product of the k<=3 group sizes: collect, sort (so
    # the fold order is deterministic), fold-multiply in decimal
    prod = (
        gs.agg(F.sort_array(F.collect_list(F.col("n_g"))).alias("arr"))
        .select(
            F.aggregate(
                "arr",
                F.lit(1).cast("decimal(38,0)"),
                lambda acc, x: acc * x,
            ).alias("p")
        )
    )
    dev = (
        gv.join(F.broadcast(gs), "g")
        .crossJoin(F.broadcast(prod))
        .select(
            "g",
            "cnt_gv",
            (
                F.abs(dec38(F.col("v")) * F.col("n_g") - F.col("s_g"))
                * halfup_div(F.col("p"), F.col("n_g"))
            ).alias("u"),
        )
    )
    du = dev.groupBy("u").agg(F.sum("cnt_gv").alias("cnt"))
    r = value_cum(du, key="u", cum="cnt")
    r2 = dec38(2 * F.col("cum") + F.col("cnt") + 1)
    ranked = dev.join(F.broadcast(r), "u").select(
        "g", "cnt_gv", r2.alias("r2")
    )
    sums = ranked.groupBy("g").agg(
        dec38(F.sum("cnt_gv")).alias("n_g"),
        F.sum(F.col("r2") * F.col("r2") * F.col("cnt_gv")).alias("s_j"),
        F.sum(
            F.col("r2") * F.col("r2") * F.col("r2") * F.col("r2") * F.col("cnt_gv")
        ).alias("q_j"),
    )
    # sq_over_n: <= 3 float terms summed in EXPLICIT group order via a
    # sorted-struct fold (float addition is order-sensitive; an
    # unordered F.sum could diverge from the oracle's pivoted sum)
    tot = sums.agg(
        F.sum("n_g").alias("n"),
        F.sum("s_j").alias("s_all"),
        F.sum("q_j").alias("q_all"),
        F.aggregate(
            F.sort_array(
                F.collect_list(F.struct(F.col("g"), F.col("s_j"), F.col("n_g")))
            ),
            F.lit(0.0),
            lambda acc, x: acc
            + x["s_j"].cast("double")
            * x["s_j"].cast("double")
            / x["n_g"].cast("double"),
        ).alias("sq_over_n"),
    )
    sa = F.col("s_all").cast("double")
    qa = F.col("q_all").cast("double")
    nn = F.col("n").cast("double")
    den = qa - sa * sa / nn
    tmicro = F.floor(
        (F.col("sq_over_n") - sa * sa / nn)
        * (F.col("n") - 1).cast("double")
        * F.lit(1000000.0)
        / den
        + F.lit(0.5)
    ).cast("long")
    return tot.select(
        F.col("n").cast("long").alias("n_items"),
        F.when(qa * nn - sa * sa > 0, tmicro).alias("conover_t_micro"),
    )


# ---------------------------------------------------------------------------
# Tukey quick (pocket) test: A vs R quantities
# ---------------------------------------------------------------------------


def _tukey_quick_oracle() -> str:
    return """
    WITH q AS (
      SELECT l_returnflag AS g, CAST(l_quantity AS BIGINT) AS v
      FROM lineitem
      WHERE l_returnflag IN ('A', 'R') AND l_quantity IS NOT NULL
    ), ext AS (
      SELECT CAST(max(CASE WHEN g = 'A' THEN v END) AS BIGINT) AS max_a,
             CAST(min(CASE WHEN g = 'A' THEN v END) AS BIGINT) AS min_a,
             CAST(max(CASE WHEN g = 'R' THEN v END) AS BIGINT) AS max_r,
             CAST(min(CASE WHEN g = 'R' THEN v END) AS BIGINT) AS min_r
      FROM q
    ), cnt AS (
      SELECT
        CAST(sum(CASE WHEN g = 'A' AND v > e.max_r THEN 2
                      WHEN g = 'A' AND v = e.max_r THEN 1 ELSE 0 END) AS BIGINT)
          AS t2_a_high,
        CAST(sum(CASE WHEN g = 'R' AND v < e.min_a THEN 2
                      WHEN g = 'R' AND v = e.min_a THEN 1 ELSE 0 END) AS BIGINT)
          AS t2_r_low,
        CAST(sum(CASE WHEN g = 'R' AND v > e.max_a THEN 2
                      WHEN g = 'R' AND v = e.max_a THEN 1 ELSE 0 END) AS BIGINT)
          AS t2_r_high,
        CAST(sum(CASE WHEN g = 'A' AND v < e.min_r THEN 2
                      WHEN g = 'A' AND v = e.min_r THEN 1 ELSE 0 END) AS BIGINT)
          AS t2_a_low
      FROM q, ext e
    )
    SELECT e.max_a, e.min_a, e.max_r, e.min_r,
           (c.t2_a_high + c.t2_r_low) AS t2_a_shifted_up,
           (c.t2_r_high + c.t2_a_low) AS t2_r_shifted_up,
           CAST(CASE WHEN greatest(c.t2_a_high + c.t2_r_low,
                                   c.t2_r_high + c.t2_a_low) >= 14
                     THEN 1 ELSE 0 END AS BIGINT) AS sig_05,
           CAST(CASE WHEN greatest(c.t2_a_high + c.t2_r_low,
                                   c.t2_r_high + c.t2_a_low) >= 20
                     THEN 1 ELSE 0 END AS BIGINT) AS sig_01,
           CAST(CASE WHEN greatest(c.t2_a_high + c.t2_r_low,
                                   c.t2_r_high + c.t2_a_low) >= 26
                     THEN 1 ELSE 0 END AS BIGINT) AS sig_001
    FROM ext e, cnt c
    """


@register("stats_tukey_quick_ab", _tukey_quick_oracle())
def stats_tukey_quick_ab(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Tukey's quick ("pocket") test (1959) on returned-vs-refused
    quantities: count one sample's values ABOVE the other's maximum
    plus the other's values BELOW the first's minimum (ties count
    half — doubled counts keep integers), in both shift directions.
    The famous 7-13-10 rule makes it the zero-table two-sample
    screen: T >= 7 rejects at ~.05, >= 10 at ~.01, >= 13 at ~.001
    (doubled: 14/20/26), almost independently of sample sizes. The
    instant-read member of the location shelf beside Mann–Whitney
    (full rank machinery) — what an analyst computes from a sorted
    printout before any heavier test.

    Exactness: pure integer comparisons against the four exact
    extremes; ties contribute 1 in doubled units; significance flags
    are the fixed Tukey critical ladder.

    Scale shape: one scan to the extremes, one re-scan to the four
    exceedance counts (both partial-aggregated); a 1-row output.
    """
    t = Tables(spark, sf_dir)
    q = flag_quantities(t, ("A", "R"))
    ext = q.agg(
        F.max(F.when(F.col("g") == "A", F.col("v"))).alias("max_a"),
        F.min(F.when(F.col("g") == "A", F.col("v"))).alias("min_a"),
        F.max(F.when(F.col("g") == "R", F.col("v"))).alias("max_r"),
        F.min(F.when(F.col("g") == "R", F.col("v"))).alias("min_r"),
    )
    j = q.crossJoin(F.broadcast(ext))

    def t2(gv: str, cmp_col: str, above: bool):
        c = F.col(cmp_col)
        if above:
            return F.sum(
                F.when((F.col("g") == gv) & (F.col("v") > c), 2)
                .when((F.col("g") == gv) & (F.col("v") == c), 1)
                .otherwise(0)
            )
        return F.sum(
            F.when((F.col("g") == gv) & (F.col("v") < c), 2)
            .when((F.col("g") == gv) & (F.col("v") == c), 1)
            .otherwise(0)
        )

    cnt = j.agg(
        t2("A", "max_r", True).cast("long").alias("t2_a_high"),
        t2("R", "min_a", False).cast("long").alias("t2_r_low"),
        t2("R", "max_a", True).cast("long").alias("t2_r_high"),
        t2("A", "min_r", False).cast("long").alias("t2_a_low"),
    )
    up = F.col("t2_a_high") + F.col("t2_r_low")
    dn = F.col("t2_r_high") + F.col("t2_a_low")
    mx = F.greatest(up, dn)
    return ext.crossJoin(F.broadcast(cnt)).select(
        "max_a",
        "min_a",
        "max_r",
        "min_r",
        up.alias("t2_a_shifted_up"),
        dn.alias("t2_r_shifted_up"),
        F.when(mx >= 14, 1).otherwise(0).cast("long").alias("sig_05"),
        F.when(mx >= 20, 1).otherwise(0).cast("long").alias("sig_01"),
        F.when(mx >= 26, 1).otherwise(0).cast("long").alias("sig_001"),
    )


# ---------------------------------------------------------------------------
# Brunner–Munzel heteroscedastic rank test
# ---------------------------------------------------------------------------


def _bm_oracle() -> str:
    return """
    WITH q AS (
      SELECT l_returnflag AS g, CAST(l_quantity AS BIGINT) AS v
      FROM lineitem
      WHERE l_returnflag IN ('A', 'R') AND l_quantity IS NOT NULL
    ), dv AS (
      SELECT v, CAST(count(*) AS BIGINT) AS cnt FROM q GROUP BY v
    ), rc AS (
      SELECT v, cnt,
             coalesce(sum(cnt) OVER (ORDER BY v
               ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0) AS cum
      FROM dv
    ), gv AS (
      SELECT g, v, CAST(count(*) AS BIGINT) AS cnt_g FROM q GROUP BY g, v
    ), rw AS (
      SELECT g, v, cnt_g,
             coalesce(sum(cnt_g) OVER (PARTITION BY g ORDER BY v
               ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0) AS cum_g
      FROM gv
    ), cell AS (
      -- per (group, value): pooled doubled midrank 2Rc, within-group
      -- doubled midrank 2Rw, and the integer difference per item
      SELECT rw.g, rw.v, rw.cnt_g,
             (2 * rc.cum + rc.cnt + 1)::HUGEINT AS rc2,
             (2 * rw.cum_g + rw.cnt_g + 1)::HUGEINT AS rw2
      FROM rw JOIN rc ON rc.v = rw.v
    ), gs AS (
      SELECT g, CAST(sum(cnt_g) AS HUGEINT) AS n_g,
             CAST(sum(cnt_g * rc2) AS HUGEINT) AS src2
      FROM cell GROUP BY g
    ), tv AS (
      -- T_i per item scaled by n_g: n_g*(2Rc - 2Rw) - sum(2Rc) + n_g*(n_g+1)
      SELECT c.g, c.cnt_g,
             (s.n_g * (c.rc2 - c.rw2) - s.src2 + s.n_g * (s.n_g + 1))
               AS t_scaled
      FROM cell c JOIN gs s ON s.g = c.g
    ), sx AS (
      SELECT g, CAST(sum(cnt_g::HUGEINT * t_scaled * t_scaled) AS HUGEINT) AS ssq
      FROM tv GROUP BY g
    ), parts AS (
      SELECT
        (SELECT n_g FROM gs WHERE g = 'A') AS na,
        (SELECT n_g FROM gs WHERE g = 'R') AS nr,
        (SELECT src2 FROM gs WHERE g = 'A') AS sra,
        (SELECT src2 FROM gs WHERE g = 'R') AS srr,
        (SELECT ssq FROM sx WHERE g = 'A') AS qa,
        (SELECT ssq FROM sx WHERE g = 'R') AS qr
    )
    SELECT CAST(na AS BIGINT) AS n_a, CAST(nr AS BIGINT) AS n_r,
           -- p_hat - 1/2 = (srr - nr(nr+1) - na*nr) / (2 na nr)
           -- (doubled pooled midranks: srr = sum of 2Rc over group R;
           -- p_hat = (mean Rc_R - (nr+1)/2)/na)
           CAST(CASE WHEN srr >= nr * (nr + 1) + na * nr THEN
                  ((2::HUGEINT * 1000000 * (srr - nr * (nr + 1) - na * nr)
                    + 2 * na * nr)
                   // (2::HUGEINT * 2 * na * nr))
                ELSE
                  -((2::HUGEINT * 1000000 * (nr * (nr + 1) + na * nr - srr)
                     + 2 * na * nr)
                    // (2::HUGEINT * 2 * na * nr))
                END AS BIGINT) AS rel_effect_centered_micro,
           -- guard: den > 0 <=> (qa > 0 or qr > 0) with na, nr >= 2;
           -- the literal product overflows HUGEINT at the x10 scale
           CASE WHEN (qa > 0 OR qr > 0) AND na > 1 AND nr > 1 THEN
             CAST(floor(
               ((CAST(sra * nr - srr * na AS DOUBLE)
                 * CAST(sra * nr - srr * na AS DOUBLE))
                * CAST(na AS DOUBLE) * CAST(na - 1 AS DOUBLE)
                * CAST(nr AS DOUBLE) * CAST(nr - 1 AS DOUBLE)) * 1000000.0
               / CAST(na + nr AS DOUBLE) / CAST(na + nr AS DOUBLE)
               / (CAST(qa AS DOUBLE) * CAST(nr AS DOUBLE) * CAST(nr - 1 AS DOUBLE)
                  + CAST(qr AS DOUBLE) * CAST(na AS DOUBLE) * CAST(na - 1 AS DOUBLE))
               + 0.5) AS BIGINT)
             * (CASE WHEN sra * nr > srr * na THEN -1 ELSE 1 END)
           END AS bm_w_sq_signed_micro
    FROM parts
    """


@register("stats_brunner_munzel_ab", _bm_oracle())
def stats_brunner_munzel_ab(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Brunner–Munzel heteroscedastic rank test (2000) on
    returned-vs-refused quantities: tests P(A < R) + P(A = R)/2 = 1/2
    WITHOUT Mann–Whitney's equal-variance (exchangeability) premise —
    the recommended default for ordinal two-sample comparisons since
    the "WMW gives wrong answers under variance shift" literature.
    Reports the centered relative effect and the signed W^2 (scipy's
    statistic squared, the house no-sqrt convention).

    Exactness: pooled AND within-group doubled midranks live on the
    <= 50-value grid; the per-item variance terms clear denominators
    to exact integers T_i = n_g(2Rc - 2Rw) - sum(2Rc) + n_g(n_g+1)
    (per-VALUE, weighted by cell count); the final W^2 combines the
    exact sufficient sums in the shape-matched IEEE double sequence
    (Dunn/KW precedent — the exact-integer numerator exceeds
    decimal(38,0) at the x10 replica scale); the relative effect is
    ONE half-up micro division. Sign: positive when R stochastically
    dominates A.

    Scale shape: one scan to the (group x value) grid; two bounded
    prefix cumulatives over <= 50 distinct values (the pooled one a
    broadcast band join, the within-group one a window partitioned by
    group); 2-row algebra out.
    """
    t = Tables(spark, sf_dir)
    q = flag_quantities(t, ("A", "R"))
    dv = q.groupBy("v").agg(F.count(F.lit(1)).alias("cnt"))
    rc = value_cum(dv, cum="cnt")
    gv = q.groupBy("g", "v").agg(F.count(F.lit(1)).alias("cnt_g"))
    wg = Window.partitionBy("g").orderBy("v").rowsBetween(
        Window.unboundedPreceding, -1
    )
    rw = gv.select(
        "g",
        "v",
        "cnt_g",
        F.coalesce(F.sum("cnt_g").over(wg), F.lit(0)).alias("cum_g"),
    )
    cell = rw.join(F.broadcast(rc), "v").select(
        "g",
        "v",
        "cnt_g",
        dec38(2 * F.col("cum") + F.col("cnt") + 1).alias("rc2"),
        dec38(2 * F.col("cum_g") + F.col("cnt_g") + 1).alias("rw2"),
    )
    gs = cell.groupBy("g").agg(
        dec38(F.sum("cnt_g")).alias("n_g"),
        F.sum(dec38(F.col("cnt_g")) * F.col("rc2")).alias("src2"),
    )
    tv = cell.join(F.broadcast(gs), "g").select(
        "g",
        "cnt_g",
        (
            F.col("n_g") * (F.col("rc2") - F.col("rw2"))
            - F.col("src2")
            + F.col("n_g") * (F.col("n_g") + 1)
        ).alias("t_scaled"),
    )
    sx = tv.groupBy("g").agg(
        F.sum(dec38(F.col("cnt_g")) * F.col("t_scaled") * F.col("t_scaled")).alias(
            "ssq"
        )
    )
    pick = lambda df, gv_, cols: df.filter(F.col("g") == gv_).select(  # noqa: E731
        *[F.col(c).alias(f"{c}_{gv_.lower()}") for c in cols]
    )
    parts = (
        pick(gs, "A", ["n_g", "src2"])
        .crossJoin(F.broadcast(pick(gs, "R", ["n_g", "src2"])))
        .crossJoin(F.broadcast(pick(sx, "A", ["ssq"])))
        .crossJoin(F.broadcast(pick(sx, "R", ["ssq"])))
        .select(
            F.col("n_g_a").alias("na"),
            F.col("n_g_r").alias("nr"),
            F.col("src2_a").alias("sra"),
            F.col("src2_r").alias("srr"),
            F.col("ssq_a").alias("qa"),
            F.col("ssq_r").alias("qr"),
        )
    )
    num = (
        F.col("srr")
        - F.col("nr") * (F.col("nr") + 1)
        - F.col("na") * F.col("nr")
    )
    rel = halfup_div(
        F.lit(1_000_000).cast("decimal(38,0)") * num,
        F.lit(2).cast("decimal(38,0)") * F.col("na") * F.col("nr"),
    )
    a_ = F.col("sra") * F.col("nr") - F.col("srr") * F.col("na")
    # den > 0 <=> (qa > 0 or qr > 0) with na, nr >= 2 — the literal
    # decimal product overflows decimal(38,0) at the x10 scale, so the
    # guard never materializes it (the division itself runs in doubles)
    denq_pos = ((F.col("qa") > 0) | (F.col("qr") > 0)) & (F.col("na") > 1) & (
        F.col("nr") > 1
    )
    w2 = F.floor(
        (a_.cast("double") * a_.cast("double"))
        * F.col("na").cast("double")
        * (F.col("na") - 1).cast("double")
        * F.col("nr").cast("double")
        * (F.col("nr") - 1).cast("double")
        * F.lit(1000000.0)
        / (F.col("na") + F.col("nr")).cast("double")
        / (F.col("na") + F.col("nr")).cast("double")
        / (
            F.col("qa").cast("double")
            * F.col("nr").cast("double")
            * (F.col("nr") - 1).cast("double")
            + F.col("qr").cast("double")
            * F.col("na").cast("double")
            * (F.col("na") - 1).cast("double")
        )
        + F.lit(0.5)
    ).cast("long")
    return parts.select(
        F.col("na").cast("long").alias("n_a"),
        F.col("nr").cast("long").alias("n_r"),
        rel.cast("long").alias("rel_effect_centered_micro"),
        F.when(
            denq_pos,
            w2
            * F.when(
                F.col("sra") * F.col("nr") > F.col("srr") * F.col("na"), F.lit(-1)
            ).otherwise(F.lit(1)),
        )
        .cast("long")
        .alias("bm_w_sq_signed_micro"),
    )


# ---------------------------------------------------------------------------
# Hartley Fmax + Cochran C variance-ratio screens
# ---------------------------------------------------------------------------


def _fmax_oracle() -> str:
    return """
    WITH q AS (
      SELECT l_returnflag AS g, CAST(l_quantity AS HUGEINT) AS v
      FROM lineitem WHERE l_quantity IS NOT NULL
    ), gs AS (
      -- exact n^2(n-1)-scale variance numerator per group:
      -- V = n * sum(v^2) - (sum v)^2, s^2 = V / (n (n-1))
      SELECT g, CAST(count(*) AS HUGEINT) AS n_g,
             (CAST(count(*) AS HUGEINT) * CAST(sum(v * v) AS HUGEINT)
              - CAST(sum(v) AS HUGEINT) * CAST(sum(v) AS HUGEINT)) AS vnum
      FROM q GROUP BY g
    ), rated AS (
      -- cross-group comparable rates: s^2 = vnum / (n_g (n_g - 1));
      -- compare a.s2 vs b.s2 by cross-multiplying exact integers
      SELECT a.g, a.n_g, a.vnum,
             CAST(count(*) FILTER (WHERE b.vnum * a.n_g * (a.n_g - 1)
                                         > a.vnum * b.n_g * (b.n_g - 1))
                  AS BIGINT) AS n_larger
      FROM gs a, gs b
      GROUP BY a.g, a.n_g, a.vnum
    ), mx AS (
      SELECT g, n_g, vnum FROM rated WHERE n_larger = 0
      ORDER BY g LIMIT 1
    ), mn AS (
      SELECT g, n_g, vnum FROM rated
      WHERE n_larger = (SELECT max(n_larger) FROM rated)
      ORDER BY g LIMIT 1
    ), ssum AS (
      -- s_j^2 terms summed in EXPLICIT group order (float addition is
      -- order-sensitive; pivoted term-by-term, the conover pattern)
      SELECT CAST(count(*) AS BIGINT) AS k,
             (COALESCE((SELECT CAST(vnum AS DOUBLE) / CAST(n_g * (n_g - 1) AS DOUBLE) FROM gs ORDER BY g LIMIT 1 OFFSET 0), 0.0) + COALESCE((SELECT CAST(vnum AS DOUBLE) / CAST(n_g * (n_g - 1) AS DOUBLE) FROM gs ORDER BY g LIMIT 1 OFFSET 1), 0.0) + COALESCE((SELECT CAST(vnum AS DOUBLE) / CAST(n_g * (n_g - 1) AS DOUBLE) FROM gs ORDER BY g LIMIT 1 OFFSET 2), 0.0)) AS s2sum
      FROM gs
    )
    SELECT CAST(ss.k AS BIGINT) AS n_groups,
           mx.g AS max_var_group, mn.g AS min_var_group,
           CASE WHEN mn.vnum > 0 THEN
             CAST(((2000000::HUGEINT * mx.vnum * mn.n_g * (mn.n_g - 1))
                   + (mn.vnum * mx.n_g * (mx.n_g - 1)))
                  // (2::HUGEINT * mn.vnum * mx.n_g * (mx.n_g - 1)) AS BIGINT)
           END AS fmax_micro,
           CASE WHEN ss.s2sum > 0 THEN
             CAST(floor(CAST(mx.vnum AS DOUBLE)
                        / CAST(mx.n_g * (mx.n_g - 1) AS DOUBLE)
                        / ss.s2sum
                        * 1000000.0 + 0.5) AS BIGINT)
           END AS cochran_c_micro
    FROM mx, mn, ssum ss
    """


@register("stats_hartley_fmax_cochran_c", _fmax_oracle())
def stats_hartley_fmax_cochran_c(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Hartley's Fmax (1950) and Cochran's C (1941) over the
    return-flag quantity groups: Fmax = s^2_max / s^2_min is the
    classical quick screen for variance heterogeneity, C = s^2_max /
    sum(s^2_j) the one that stays sane when ONE group blows up.
    Bartlett (chi-square), Levene/Brown–Forsythe (robust F) and
    Conover (rank) already sit on the shelf — Fmax/C are the
    table-lookup screens run FIRST because they need only the k
    variances, and C is the standard check for "is one instrument
    (source) noisier than the rest".

    Exactness: per-group variance numerators V_g = n sum(v^2) -
    (sum v)^2 are exact integers; the max/min groups are found by
    exact cross-multiplied comparisons (no float ordering); Fmax is
    ONE half-up micro division of cross-multiplied exact products;
    C's mixed-denominator sum runs in the shape-matched IEEE double
    sequence (both engines divide and sum the identical 3 terms in
    the same group order via the correlated sum — k=3 fixed).

    Scale shape: one scan to 3 group rows; 3x3 comparison algebra.
    """
    t = Tables(spark, sf_dir)
    q = flag_quantities(t)
    gs = q.groupBy("g").agg(
        dec38(F.count(F.lit(1))).alias("n_g"),
        (
            dec38(F.count(F.lit(1))) * F.sum(dec38(F.col("v")) * F.col("v"))
            - dec38(F.sum("v")) * dec38(F.sum("v"))
        ).alias("vnum"),
    )
    b = gs.select(
        F.col("g").alias("gb"), F.col("n_g").alias("nb"), F.col("vnum").alias("vb")
    )
    rated = (
        gs.crossJoin(F.broadcast(b))
        .groupBy("g", "n_g", "vnum")
        .agg(
            F.sum(
                F.when(
                    F.col("vb") * F.col("n_g") * (F.col("n_g") - 1)
                    > F.col("vnum") * F.col("nb") * (F.col("nb") - 1),
                    1,
                ).otherwise(0)
            )
            .cast("long")
            .alias("n_larger")
        )
    )
    mx = rated.filter(F.col("n_larger") == 0).orderBy("g").limit(1).select(
        F.col("g").alias("max_var_group"),
        F.col("n_g").alias("n_mx"),
        F.col("vnum").alias("v_mx"),
    )
    mxr = rated.agg(F.max("n_larger").alias("ml"))
    mn = (
        rated.crossJoin(F.broadcast(mxr))
        .filter(F.col("n_larger") == F.col("ml"))
        .orderBy("g")
        .limit(1)
        .select(
            F.col("g").alias("min_var_group"),
            F.col("n_g").alias("n_mn"),
            F.col("vnum").alias("v_mn"),
        )
    )
    # ordered 3-term float fold for Cochran's denominator (float
    # addition is order-sensitive; matches the oracle's correlated
    # group-ordered sum)
    ssum = gs.agg(
        F.aggregate(
            F.sort_array(
                F.collect_list(F.struct(F.col("g"), F.col("vnum"), F.col("n_g")))
            ),
            F.lit(0.0),
            lambda acc, x: acc
            + x["vnum"].cast("double")
            / (x["n_g"] * (x["n_g"] - 1)).cast("double"),
        ).alias("s2sum"),
        F.count(F.lit(1)).cast("long").alias("n_groups"),
    )
    m6 = F.lit(1_000_000).cast("decimal(38,0)")
    fmax = halfup_div(
        m6 * F.col("v_mx") * F.col("n_mn") * (F.col("n_mn") - 1),
        F.col("v_mn") * F.col("n_mx") * (F.col("n_mx") - 1),
    )
    cochran = F.floor(
        F.col("v_mx").cast("double")
        / (F.col("n_mx") * (F.col("n_mx") - 1)).cast("double")
        / F.col("s2sum")
        * F.lit(1000000.0)
        + F.lit(0.5)
    ).cast("long")
    return (
        ssum.crossJoin(F.broadcast(mx))
        .crossJoin(F.broadcast(mn))
        .select(
            "n_groups",
            "max_var_group",
            "min_var_group",
            F.when(F.col("v_mn") > 0, fmax.cast("long")).alias("fmax_micro"),
            F.when(F.col("s2sum") > 0, cochran).alias("cochran_c_micro"),
        )
    )


# ---------------------------------------------------------------------------
# Kuiper two-sample test on returned-vs-refused quantity
# ---------------------------------------------------------------------------


def _kuiper_oracle() -> str:
    hd = sql_halfup_div
    return f"""
    WITH gv AS (
      SELECT CAST(l_quantity AS BIGINT) AS v,
             CAST(sum(CASE WHEN l_returnflag = 'A' THEN 1 ELSE 0 END)
                  AS HUGEINT) AS na,
             CAST(sum(CASE WHEN l_returnflag = 'R' THEN 1 ELSE 0 END)
                  AS HUGEINT) AS nr
      FROM lineitem
      WHERE l_returnflag IN ('A', 'R') AND l_quantity IS NOT NULL
      GROUP BY 1
    ), cum AS (
      SELECT a.v, CAST(sum(b.na) AS HUGEINT) AS ca,
             CAST(sum(b.nr) AS HUGEINT) AS cr
      FROM gv a JOIN gv b ON b.v <= a.v
      GROUP BY a.v
    ), tot AS (
      SELECT CAST(sum(na) AS HUGEINT) AS n_a, CAST(sum(nr) AS HUGEINT) AS n_r
      FROM gv
    ), dd AS (
      SELECT greatest(0, max(c.ca * t.n_r - c.cr * t.n_a)) AS dp,
             greatest(0, max(c.cr * t.n_a - c.ca * t.n_r)) AS dm,
             any_value(t.n_a) AS n_a, any_value(t.n_r) AS n_r
      FROM cum c, tot t
    )
    SELECT CAST(n_a AS BIGINT) AS n_a, CAST(n_r AS BIGINT) AS n_r,
           CAST({hd('1000000::HUGEINT * dp', 'n_a * n_r')} AS BIGINT)
             AS d_plus_micro,
           CAST({hd('1000000::HUGEINT * dm', 'n_a * n_r')} AS BIGINT)
             AS d_minus_micro,
           CAST({hd('1000000::HUGEINT * (dp + dm)', 'n_a * n_r')} AS BIGINT)
             AS kuiper_v_micro
    FROM dd
    """


@register("stats_kuiper_ab", oracle=_kuiper_oracle())
def stats_kuiper_ab(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Kuiper two-sample statistic V = D+ + D- for lineitem quantity,
    returned (A) vs refused (R) lines — the rotation-invariant sibling
    of Kolmogorov-Smirnov (Kuiper 1960): KS sees only the single
    largest ECDF gap and goes blind near the distribution tails; V adds
    the largest gap in EACH direction, giving equal sensitivity across
    the whole support (the reason it's the standard for cyclic /
    tail-sensitive comparisons). Complements the CvM / Anderson-Darling
    quadratic statistics already in the family with the L-infinity
    pair.

    Exactness: the ECDF gaps compare as cross-multiplied exact integers
    (ca * n_r vs cr * n_a — never a per-row division); D+ and D- floor
    at 0 (the sup over an empty excursion set); three half-up micro
    divisions at the very end.

    Scale shape: one fact scan partial-aggregates to the <= 50-value
    quantity grid; the ECDF cumulative is a broadcast self-join on the
    POST-AGGREGATION grid (the cvm/ansari bounded-domain class, no
    global window); 1 row out. Headroom: ca * n_r <= N^2 ~ 1e24 at
    1e12 rows — inside decimal(38,0)/HUGEINT.
    """
    t = Tables(spark, sf_dir)
    gv = (
        flag_quantities(t, ("A", "R"))
        .select(
            "v",
            F.when(F.col("g") == "A", 1).otherwise(0).alias("ia"),
            F.when(F.col("g") == "R", 1).otherwise(0).alias("ir"),
        )
        .groupBy("v")
        .agg(F.sum(dec38(F.col("ia"))).alias("na"), F.sum(dec38(F.col("ir"))).alias("nr"))
    )
    b = gv.select(
        F.col("v").alias("v_b"), F.col("na").alias("na_b"), F.col("nr").alias("nr_b")
    )
    cum = (
        gv.join(F.broadcast(b), F.col("v_b") <= F.col("v"))
        .groupBy("v")
        .agg(F.sum("na_b").alias("ca"), F.sum("nr_b").alias("cr"))
    )
    tot = gv.agg(F.sum("na").alias("n_a"), F.sum("nr").alias("n_r"))
    zero = F.lit(0).cast("decimal(38,0)")
    dd = cum.crossJoin(F.broadcast(tot)).agg(
        F.greatest(zero, F.max(F.col("ca") * F.col("n_r") - F.col("cr") * F.col("n_a")))
        .alias("dp"),
        F.greatest(zero, F.max(F.col("cr") * F.col("n_a") - F.col("ca") * F.col("n_r")))
        .alias("dm"),
        F.first("n_a").alias("n_a"),
        F.first("n_r").alias("n_r"),
    )
    m6 = F.lit(1_000_000).cast("decimal(38,0)")
    den = F.col("n_a") * F.col("n_r")
    return dd.select(
        F.col("n_a").cast("long").alias("n_a"),
        F.col("n_r").cast("long").alias("n_r"),
        halfup_div(m6 * F.col("dp"), den).cast("long").alias("d_plus_micro"),
        halfup_div(m6 * F.col("dm"), den).cast("long").alias("d_minus_micro"),
        halfup_div(m6 * (F.col("dp") + F.col("dm")), den)
        .cast("long")
        .alias("kuiper_v_micro"),
    )


# ---------------------------------------------------------------------------
# Lepage combined location-scale rank test (A vs R quantity)
# ---------------------------------------------------------------------------


def _lepage_oracle() -> str:
    return f"""
    WITH gv AS (
      SELECT CAST(l_quantity AS BIGINT) AS v,
             CAST(sum(CASE WHEN l_returnflag = 'A' THEN 1 ELSE 0 END)
                  AS HUGEINT) AS na_v,
             CAST(sum(CASE WHEN l_returnflag = 'R' THEN 1 ELSE 0 END)
                  AS HUGEINT) AS nr_v
      FROM lineitem
      WHERE l_returnflag IN ('A', 'R') AND l_quantity IS NOT NULL
      GROUP BY 1
    ), cum AS (
      SELECT a.v, a.na_v, a.nr_v, (a.na_v + a.nr_v) AS n_v,
             CAST(coalesce(sum(b.na_v + b.nr_v), 0) AS HUGEINT) AS cum_before
      FROM gv a LEFT JOIN gv b ON b.v < a.v
      GROUP BY a.v, a.na_v, a.nr_v
    ), tot AS (
      SELECT CAST(sum(na_v) AS HUGEINT) AS na,
             CAST(sum(nr_v) AS HUGEINT) AS nr,
             CAST(sum(na_v + nr_v) AS HUGEINT) AS n,
             CAST(sum((na_v + nr_v) * (na_v + nr_v) * (na_v + nr_v)
                      - (na_v + nr_v)) AS HUGEINT) AS t3
      FROM gv
    ), scores AS (
      SELECT c.v, c.na_v, c.n_v,
             (2 * c.cum_before + c.n_v + 1) AS r2,
             least(2 * c.cum_before + c.n_v + 1,
                   2 * (t.n + 1) - (2 * c.cum_before + c.n_v + 1)) AS a2
      FROM cum c, tot t
    ), suff AS (
      SELECT CAST(sum(na_v * r2) AS HUGEINT) AS w2,
             CAST(sum(na_v * a2) AS HUGEINT) AS ab2,
             CAST(sum(n_v * a2) AS HUGEINT) AS s1_2,
             CAST(sum(n_v * a2 * a2) AS HUGEINT) AS s2_4
      FROM scores
    ), z AS (
      SELECT t.na, t.nr, t.n,
             (s.w2 - t.na * (t.n + 1)) AS dw,
             (t.n * (t.n - 1) * (t.n + 1) - t.t3) AS vw_core,
             (s.ab2 * t.n - t.na * s.s1_2) AS dab_n,
             (t.n * s.s2_4 - s.s1_2 * s.s1_2) AS vab_core
      FROM suff s, tot t
    ), q AS (
      SELECT na, nr, n,
             CASE WHEN vw_core > 0 THEN CAST(floor(
               (((3.0 * CAST(dw AS DOUBLE)) * CAST(dw AS DOUBLE))
                * CAST(n * (n - 1) AS DOUBLE)) * 1000000.0
               / CAST(na * nr AS DOUBLE) / CAST(vw_core AS DOUBLE)
               + 0.5) AS BIGINT) END AS zw2_micro,
             CASE WHEN vab_core > 0 THEN CAST(floor(
               (((CAST(dab_n AS DOUBLE)) * CAST(dab_n AS DOUBLE))
                * CAST(n - 1 AS DOUBLE)) * 1000000.0
               / CAST(na * nr AS DOUBLE) / CAST(vab_core AS DOUBLE)
               + 0.5) AS BIGINT) END AS zab2_micro
      FROM z
    )
    SELECT CAST(na AS BIGINT) AS n_a, CAST(nr AS BIGINT) AS n_r,
           zw2_micro, zab2_micro,
           (zw2_micro + zab2_micro) AS lepage_micro
    FROM q
    """


@register("stats_lepage_location_scale", oracle=_lepage_oracle())
def stats_lepage_location_scale(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Lepage combined location-scale test for lineitem quantity,
    returned (A) vs refused (R): L = Z_W^2 + Z_AB^2 — the tie-corrected
    Wilcoxon rank-sum z^2 (location) plus the Ansari-Bradley z^2
    (scale), Lepage 1971. The family already prices location
    (Mann-Whitney / Wilcoxon) and scale (Ansari-Bradley / Siegel-Tukey
    / Conover) SEPARATELY; L is the omnibus either-moved test a
    monitoring gate runs when it doesn't know which will shift
    (asymptotically chi^2_2).

    Exactness: both components come off ONE pooled <= 50-value
    quantity grid — doubled midranks 2r = 2 cum + n_v + 1 and doubled
    AB scores 2a = min(2r, 2(N+1) - 2r) are exact integers, as are the
    statistic sums (2W, 2AB), the tie-corrected variance cores
    N(N-1)(N+1) - sum(t^3 - t) and N*4S2 - (2S1)^2, and the centered
    numerators (2W - na(N+1); 2AB*N - na*2S1). Each z^2 is ONE
    shape-matched IEEE double sequence over those integers (the Dunn
    z^2 precedent), quantized half-up at micro; L is their integer
    sum. Degenerate (all-one-value) inputs NULL out via the variance
    guards.

    Scale shape: one fact scan partial-aggregates to the value grid;
    the ECDF prefix is a broadcast self-join on the POST-AGGREGATION
    grid (the cvm/ansari bounded-domain class, no global window);
    1 row out.
    """
    t = Tables(spark, sf_dir)
    gv = (
        flag_quantities(t, ("A", "R"))
        .select(
            "v",
            F.when(F.col("g") == "A", 1).otherwise(0).alias("ia"),
            F.when(F.col("g") == "R", 1).otherwise(0).alias("ir"),
        )
        .groupBy("v")
        .agg(
            F.sum(dec38(F.col("ia"))).alias("na_v"),
            F.sum(dec38(F.col("ir"))).alias("nr_v"),
        )
        .localCheckpoint(eager=True)  # <= 50 rows; five consumers below
    )
    b = gv.select(
        F.col("v").alias("v_b"), (F.col("na_v") + F.col("nr_v")).alias("n_b")
    )
    cum = (
        gv.join(F.broadcast(b), F.col("v_b") < F.col("v"), "left")
        .groupBy("v", "na_v", "nr_v")
        .agg(
            F.coalesce(F.sum("n_b"), F.lit(0).cast("decimal(38,0)")).alias(
                "cum_before"
            )
        )
        .select("v", "na_v", "nr_v", (F.col("na_v") + F.col("nr_v")).alias("n_v"),
                "cum_before")
    )
    n_v = F.col("na_v") + F.col("nr_v")
    tot = gv.agg(
        F.sum("na_v").alias("na"),
        F.sum("nr_v").alias("nr"),
        F.sum(n_v).alias("n"),
        F.sum(n_v * n_v * n_v - n_v).alias("t3"),
    )
    r2 = 2 * F.col("cum_before") + F.col("n_v") + 1
    scores = cum.crossJoin(F.broadcast(tot)).select(
        "na_v",
        "n_v",
        "na",
        "nr",
        "n",
        "t3",
        r2.alias("r2"),
        F.least(r2, 2 * (F.col("n") + 1) - r2).alias("a2"),
    )
    suff = scores.groupBy("na", "nr", "n", "t3").agg(
        F.sum(F.col("na_v") * F.col("r2")).alias("w2"),
        F.sum(F.col("na_v") * F.col("a2")).alias("ab2"),
        F.sum(F.col("n_v") * F.col("a2")).alias("s1_2"),
        F.sum(F.col("n_v") * F.col("a2") * F.col("a2")).alias("s2_4"),
    )
    dw = F.col("w2") - F.col("na") * (F.col("n") + 1)
    vw_core = F.col("n") * (F.col("n") - 1) * (F.col("n") + 1) - F.col("t3")
    dab_n = F.col("ab2") * F.col("n") - F.col("na") * F.col("s1_2")
    vab_core = F.col("n") * F.col("s2_4") - F.col("s1_2") * F.col("s1_2")
    zw2 = F.floor(
        (((F.lit(3.0) * dw.cast("double")) * dw.cast("double"))
         * (F.col("n") * (F.col("n") - 1)).cast("double")) * F.lit(1000000.0)
        / (F.col("na") * F.col("nr")).cast("double")
        / vw_core.cast("double")
        + F.lit(0.5)
    ).cast("long")
    zab2 = F.floor(
        (((dab_n.cast("double")) * dab_n.cast("double"))
         * (F.col("n") - 1).cast("double")) * F.lit(1000000.0)
        / (F.col("na") * F.col("nr")).cast("double")
        / vab_core.cast("double")
        + F.lit(0.5)
    ).cast("long")
    return suff.select(
        F.col("na").cast("long").alias("n_a"),
        F.col("nr").cast("long").alias("n_r"),
        F.when(vw_core > 0, zw2).alias("zw2_micro"),
        F.when(vab_core > 0, zab2).alias("zab2_micro"),
        (F.when(vw_core > 0, zw2) + F.when(vab_core > 0, zab2)).alias(
            "lepage_micro"
        ),
    )


# ---------------------------------------------------------------------------
# Doksum quantile shift function (A vs R quantity)
# ---------------------------------------------------------------------------

SHIFT_PCTS = tuple(range(10, 100, 10))


def _shift_oracle() -> str:
    ps = ", ".join(str(p) for p in SHIFT_PCTS)
    return f"""
    WITH gv AS (
      SELECT CAST(l_quantity AS BIGINT) AS v,
             CAST(sum(CASE WHEN l_returnflag = 'A' THEN 1 ELSE 0 END)
                  AS HUGEINT) AS na_v,
             CAST(sum(CASE WHEN l_returnflag = 'R' THEN 1 ELSE 0 END)
                  AS HUGEINT) AS nr_v
      FROM lineitem
      WHERE l_returnflag IN ('A', 'R') AND l_quantity IS NOT NULL
      GROUP BY 1
    ), cum AS (
      SELECT a.v, CAST(sum(b.na_v) AS HUGEINT) AS ca,
             CAST(sum(b.nr_v) AS HUGEINT) AS cr
      FROM gv a JOIN gv b ON b.v <= a.v GROUP BY a.v
    ), tot AS (
      SELECT CAST(sum(na_v) AS HUGEINT) AS na, CAST(sum(nr_v) AS HUGEINT) AS nr
      FROM gv
    ), ps(p) AS (SELECT unnest([{ps}])),
    q AS (
      SELECT ps.p,
             (SELECT min(c.v) FROM cum c, tot t
              WHERE 100 * c.ca >= ps.p * t.na) AS q_a,
             (SELECT min(c.v) FROM cum c, tot t
              WHERE 100 * c.cr >= ps.p * t.nr) AS q_r
      FROM ps
    )
    SELECT CAST(p AS BIGINT) AS pct, CAST(q_a AS BIGINT) AS q_a,
           CAST(q_r AS BIGINT) AS q_r,
           CAST(q_r - q_a AS BIGINT) AS shift
    FROM q ORDER BY p
    """


@register("stats_quantile_shift_function", _shift_oracle())
def stats_quantile_shift_function(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Doksum's quantile shift function (Doksum 1974) for lineitem
    quantity, returned (A) vs refused (R): Delta(p) = q_R(p) - q_A(p)
    at each decile — WHERE the two distributions differ, not just
    whether. The location tests in the family (Mann-Whitney, HL,
    Tukey quick) compress the comparison to one number and miss the
    classic crossing pattern (tails shifted one way, center the
    other); the shift function is the standard robust-statistics
    answer (Wilcox's comparison-of-quantiles), and a flat nonzero
    profile vs a sloped one distinguishes a pure location shift from
    a scale change at a glance.

    Exactness: exact discrete lower quantiles (min v with 100 cum >=
    p n — cross-multiplied, never a division) off one pooled value
    grid with broadcast prefix sums; shifts are integer differences.

    Scale shape: one fact scan to the <= 50-value grid; the decile
    probes are 9 bounded lookups (explode x filter x min). 9 rows
    out.
    """
    t = Tables(spark, sf_dir)
    gv = (
        flag_quantities(t, ("A", "R"))
        .select(
            "v",
            F.when(F.col("g") == "A", 1).otherwise(0).alias("ia"),
            F.when(F.col("g") == "R", 1).otherwise(0).alias("ir"),
        )
        .groupBy("v")
        .agg(
            F.sum(dec38(F.col("ia"))).alias("na_v"),
            F.sum(dec38(F.col("ir"))).alias("nr_v"),
        )
        .localCheckpoint(eager=True)  # <= 50 rows; three consumers
    )
    b = gv.select(
        F.col("v").alias("v_b"), F.col("na_v").alias("na_b"), F.col("nr_v").alias("nr_b")
    )
    cum = (
        gv.join(F.broadcast(b), F.col("v_b") <= F.col("v"))
        .groupBy("v")
        .agg(F.sum("na_b").alias("ca"), F.sum("nr_b").alias("cr"))
    )
    tot = gv.agg(F.sum("na_v").alias("na"), F.sum("nr_v").alias("nr"))
    ps = gv.sparkSession.createDataFrame(
        [(p,) for p in SHIFT_PCTS], "p long"
    )
    probe = cum.crossJoin(F.broadcast(tot)).crossJoin(F.broadcast(ps))
    qa = (
        probe.filter(
            F.lit(100).cast("decimal(38,0)") * F.col("ca")
            >= F.col("p") * F.col("na")
        )
        .groupBy("p")
        .agg(F.min("v").alias("q_a"))
    )
    qr = (
        probe.filter(
            F.lit(100).cast("decimal(38,0)") * F.col("cr")
            >= F.col("p") * F.col("nr")
        )
        .groupBy("p")
        .agg(F.min("v").alias("q_r"))
    )
    return (
        qa.join(qr, "p")
        .select(
            F.col("p").alias("pct"),
            F.col("q_a").cast("long").alias("q_a"),
            F.col("q_r").cast("long").alias("q_r"),
            (F.col("q_r") - F.col("q_a")).cast("long").alias("shift"),
        )
        .orderBy("pct")
    )


# ---------------------------------------------------------------------------
# Cross-year nation revenue rank stability (Kendall tau-b)
# ---------------------------------------------------------------------------


def _rank_stability_oracle() -> str:
    return """
    WITH yr AS (
      SELECT CAST(max(date_part('year', o_orderdate)) AS BIGINT) AS y1
      FROM orders
    ), rev AS (
      SELECT n.n_name AS nation,
             CAST(date_part('year', o.o_orderdate) AS BIGINT) AS yy,
             CAST(sum(CAST(floor(o.o_totalprice * 100.0 + 0.5) AS BIGINT))
                  AS HUGEINT) AS r
      FROM orders o
      JOIN customer c ON c.c_custkey = o.o_custkey
      JOIN nation n ON n.n_nationkey = c.c_nationkey, yr
      WHERE CAST(date_part('year', o.o_orderdate) AS BIGINT)
            IN (yr.y1, yr.y1 - 1)
      GROUP BY 1, 2
    ), wide AS (
      SELECT a.nation, a.r AS r0, b.r AS r1
      FROM rev a JOIN rev b ON b.nation = a.nation AND b.yy = a.yy + 1, yr
      WHERE a.yy = yr.y1 - 1
    ), pairs AS (
      SELECT CAST(sum(CASE WHEN (a.r0 < b.r0 AND a.r1 < b.r1)
                             OR (a.r0 > b.r0 AND a.r1 > b.r1)
                      THEN 1 ELSE 0 END) AS HUGEINT) AS conc,
             CAST(sum(CASE WHEN (a.r0 < b.r0 AND a.r1 > b.r1)
                             OR (a.r0 > b.r0 AND a.r1 < b.r1)
                      THEN 1 ELSE 0 END) AS HUGEINT) AS disc,
             CAST(sum(CASE WHEN a.r0 = b.r0 THEN 1 ELSE 0 END) AS HUGEINT)
               AS tx,
             CAST(sum(CASE WHEN a.r1 = b.r1 THEN 1 ELSE 0 END) AS HUGEINT)
               AS ty,
             CAST(count(*) AS HUGEINT) AS n0
      FROM wide a JOIN wide b ON a.nation < b.nation
    )
    SELECT (SELECT CAST(y1 - 1 AS BIGINT) FROM yr) AS year_a,
           (SELECT CAST(y1 AS BIGINT) FROM yr) AS year_b,
           (SELECT CAST(count(*) AS BIGINT) FROM wide) AS n_nations,
           CAST(conc AS BIGINT) AS concordant,
           CAST(disc AS BIGINT) AS discordant,
           CASE WHEN n0 - tx > 0 AND n0 - ty > 0 THEN
             CAST(floor(abs(CAST(conc - disc AS DOUBLE)) * 1000000.0
                  / sqrt(CAST(n0 - tx AS DOUBLE) * CAST(n0 - ty AS DOUBLE))
                  + 0.5) AS BIGINT)
             * (CASE WHEN conc < disc THEN -1 ELSE 1 END)
           END AS tau_b_micro
    FROM pairs
    """


@register("stats_nation_rank_stability_tau", _rank_stability_oracle())
def stats_nation_rank_stability_tau(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Cross-year rank stability of nation revenue: Kendall tau-b
    between the per-nation order revenue rankings of the last two
    calendar years in the data. ``stats_kendall_tau_b`` measures
    within-snapshot ordinal association; this is the LONGITUDINAL
    question a market analyst actually asks — did the league table
    hold? — with tau-b's tie correction handling revenue ties
    exactly. tau ~ 1 means a frozen competitive order; tau near 0
    means the ranking reshuffles yearly and single-year market-share
    reports are noise.

    Exactness: yearly revenues are exact integer cents (floor + 0.5
    extraction, both engines); concordant/discordant/tie counts are
    exact integers over the bounded 25 x 25 nation-pair self-join;
    tau-b is ONE shape-matched IEEE double sequence (|C - D| * 1e6 /
    sqrt((n0 - tx)(n0 - ty)), sign carried separately — the Dunn
    precedent), NULL-guarded for all-tied degenerates.

    Scale shape: one orders scan (year-pruned at the source) with two
    broadcast dim joins partial-aggregates to <= 50 (nation, year)
    cells; everything after is 25-row algebra. 1 row out.
    """
    from ..functions.partitioning import gated_broadcast

    t = Tables(spark, sf_dir)
    yr = t.orders.agg(
        F.max(F.year(F.to_date("o_orderdate"))).cast("long").alias("y1")
    )
    rev = (
        t.orders.select(
            "o_custkey",
            F.year(F.to_date("o_orderdate")).cast("long").alias("yy"),
            order_cents()
            .alias("cents"),
        )
        .crossJoin(F.broadcast(yr))
        .filter((F.col("yy") == F.col("y1")) | (F.col("yy") == F.col("y1") - 1))
        .join(
            gated_broadcast(t.customer.select("c_custkey", "c_nationkey")),
            F.col("c_custkey") == F.col("o_custkey"),
        )
        .join(
            gated_broadcast(t.nation.select("n_nationkey", "n_name")),
            F.col("n_nationkey") == F.col("c_nationkey"),
        )
        .groupBy(F.col("n_name").alias("nation"), "yy", "y1")
        .agg(F.sum(dec38(F.col("cents"))).alias("r"))
    )
    a = rev.filter(F.col("yy") == F.col("y1") - 1).select(
        "nation", F.col("r").alias("r0"), "y1"
    )
    bb = rev.filter(F.col("yy") == F.col("y1")).select(
        F.col("nation").alias("nation_b"), F.col("r").alias("r1")
    )
    wide = a.join(
        F.broadcast(bb), F.col("nation_b") == F.col("nation")
    ).select("nation", "r0", "r1", "y1").localCheckpoint(eager=True)  # 25 rows
    w2 = wide.select(
        F.col("nation").alias("nation_2"),
        F.col("r0").alias("r0_2"),
        F.col("r1").alias("r1_2"),
    )
    pairs = wide.join(F.broadcast(w2), F.col("nation") < F.col("nation_2"))
    conc = F.sum(
        F.when(
            ((F.col("r0") < F.col("r0_2")) & (F.col("r1") < F.col("r1_2")))
            | ((F.col("r0") > F.col("r0_2")) & (F.col("r1") > F.col("r1_2"))),
            1,
        ).otherwise(0)
    ).cast("decimal(38,0)")
    disc = F.sum(
        F.when(
            ((F.col("r0") < F.col("r0_2")) & (F.col("r1") > F.col("r1_2")))
            | ((F.col("r0") > F.col("r0_2")) & (F.col("r1") < F.col("r1_2"))),
            1,
        ).otherwise(0)
    ).cast("decimal(38,0)")
    agg = pairs.agg(
        conc.alias("conc"),
        disc.alias("disc"),
        F.sum(F.when(F.col("r0") == F.col("r0_2"), 1).otherwise(0))
        .cast("decimal(38,0)")
        .alias("tx"),
        F.sum(F.when(F.col("r1") == F.col("r1_2"), 1).otherwise(0))
        .cast("decimal(38,0)")
        .alias("ty"),
        dec38(F.count(F.lit(1))).alias("n0"),
        F.first("y1").alias("y1"),
    )
    nn = wide.agg(F.count(F.lit(1)).cast("long").alias("n_nations"))
    num = F.col("conc") - F.col("disc")
    dx = F.col("n0") - F.col("tx")
    dy = F.col("n0") - F.col("ty")
    tau = F.floor(
        F.abs(num.cast("double")) * F.lit(1000000.0)
        / F.sqrt(dx.cast("double") * dy.cast("double"))
        + F.lit(0.5)
    ).cast("long") * F.when(num < 0, F.lit(-1)).otherwise(F.lit(1))
    return agg.crossJoin(F.broadcast(nn)).select(
        (F.col("y1") - 1).cast("long").alias("year_a"),
        F.col("y1").cast("long").alias("year_b"),
        "n_nations",
        F.col("conc").cast("long").alias("concordant"),
        F.col("disc").cast("long").alias("discordant"),
        F.when((dx > 0) & (dy > 0), tau).alias("tau_b_micro"),
    )
