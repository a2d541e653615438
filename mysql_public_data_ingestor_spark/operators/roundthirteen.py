"""Round-13 operator batch P.

Gates: raw-frame oracle parity, plan bars and Python replicas with
float anchors in ``tests/test_roundthirteen.py``; SCALE.md §5o
records the ×10 ladder.

Batch theme — two-sample and randomness rank tests plus classical
outlier/variance screens: Tukey's quick (pocket) test, the
Brunner–Munzel heteroscedastic rank test, the Bartels rank von
Neumann randomness test, Dixon's Q extreme-outlier screen, and the
Hartley Fmax / Cochran C variance-ratio pair. Every name was checked
against the full 520-name registry inventory before design (the
SCALE §5j.7 authoring rule).

Reference parity note: the reference (Go ingestion pipeline,
``/root/reference/main.go``) has no analytics; these extend SURVEY
§2.C warehouse statistics.

``stats_bartels_rank_daily`` and ``stats_dixon_q_daily`` live in
``operators/daily_hypothesis.py`` with the other daily-series queries.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from ..functions.exact import dec38, halfup_div, sql_halfup_div
from ..registry import register
from ..tables import Tables

# ---------------------------------------------------------------------------
# 1. Tukey quick (pocket) test: A vs R quantities
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
    q = t.lineitem.filter(
        F.col("l_returnflag").isin("A", "R") & F.col("l_quantity").isNotNull()
    ).select(F.col("l_returnflag").alias("g"), F.col("l_quantity").cast("long").alias("v"))
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
# 2. Brunner–Munzel heteroscedastic rank test
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
    prefix cumulatives over <= 50 distinct values (allowlist class);
    2-row algebra out.
    """
    from pyspark.sql.window import Window

    t = Tables(spark, sf_dir)
    q = t.lineitem.filter(
        F.col("l_returnflag").isin("A", "R") & F.col("l_quantity").isNotNull()
    ).select(F.col("l_returnflag").alias("g"), F.col("l_quantity").cast("long").alias("v"))
    dv = q.groupBy("v").agg(F.count(F.lit(1)).alias("cnt"))
    wv = Window.orderBy("v").rowsBetween(Window.unboundedPreceding, -1)
    rc = dv.select(
        "v", "cnt", F.coalesce(F.sum("cnt").over(wv), F.lit(0)).alias("cum")
    )
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
# 5. Hartley Fmax + Cochran C variance-ratio screens
# ---------------------------------------------------------------------------


def _fmax_oracle() -> str:
    hd = sql_halfup_div
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
    q = t.lineitem.filter(F.col("l_quantity").isNotNull()).select(
        F.col("l_returnflag").alias("g"), F.col("l_quantity").cast("long").alias("v")
    )
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
