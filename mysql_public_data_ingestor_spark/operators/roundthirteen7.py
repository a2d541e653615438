"""Round-13 direct registrations, batch V (combined rank tests,
process capability, operating-point selection, and detrended fluctuation analysis).

Five window-slot completions, each oracle-paired, replica-pinned and
plan-barred in ``tests/test_roundthirteen7.py`` (same-commit gate
rule). Every name was checked against the full 548-name registry
inventory before design (the SCALE §5j.7 authoring rule):

* ``stats_lepage_location_scale`` — the Lepage combined
  location-scale rank test (Wilcoxon z^2 + Ansari-Bradley z^2).
* ``stats_process_capability_latency`` — Cp^2 / signed Cpk^2 process
  capability of order->ship latency against fixed spec limits.
* ``ml_recall_at_precision_floor`` — max recall subject to a
  precision SLA over the exact score grid (3 floors).

``events_dfa_daily`` lives in ``operators/daily_spectral.py`` with the
other daily-series queries.

Reference parity note: the reference (Go ingestion pipeline,
``/root/reference/main.go``) has no analytics; these extend SURVEY
§2.C warehouse statistics / ML / graph / time-series.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from ..functions.exact import dec38, halfup_div, sql_halfup_div
from ..registry import register
from ..tables import Tables

# ---------------------------------------------------------------------------
# 1. Lepage combined location-scale rank test (A vs R quantity)
# ---------------------------------------------------------------------------


def _lepage_oracle() -> str:
    hd = sql_halfup_div
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
        t.lineitem.filter(
            F.col("l_returnflag").isin("A", "R") & F.col("l_quantity").isNotNull()
        )
        .select(
            F.col("l_quantity").cast("long").alias("v"),
            F.when(F.col("l_returnflag") == "A", 1).otherwise(0).alias("ia"),
            F.when(F.col("l_returnflag") == "R", 1).otherwise(0).alias("ir"),
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
# 2. Process capability of order->ship latency
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
# 3. Max recall at a precision floor over the score grid
# ---------------------------------------------------------------------------

PRECISION_FLOORS = ((4, 5), (9, 10), (19, 20))  # 0.80, 0.90, 0.95


def _recall_floor_oracle() -> str:
    from .ml import _scored_labeled_sql

    hd = sql_halfup_div
    floors = ", ".join(f"({n}, {d})" for n, d in PRECISION_FLOORS)
    return (
        _scored_labeled_sql()
        + f"""
    , grid AS (
      SELECT score_q, CAST(count(*) AS BIGINT) AS n,
             CAST(sum(label) AS BIGINT) AS pos
      FROM scored GROUP BY score_q
    ), tot AS (
      SELECT CAST(sum(n) AS BIGINT) AS nn, CAST(sum(pos) AS BIGINT) AS p
      FROM grid
    ), cum AS (
      SELECT score_q AS v,
             sum(n) OVER (ORDER BY score_q DESC
               ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS n_sel,
             sum(pos) OVER (ORDER BY score_q DESC
               ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS tp
      FROM grid
    ), floors(pn, pd) AS (VALUES {floors}),
    feasible AS (
      SELECT f.pn, f.pd, c.v, c.n_sel, c.tp,
             row_number() OVER (PARTITION BY f.pn, f.pd
               ORDER BY c.tp DESC, c.v ASC) AS r
      FROM floors f JOIN cum c ON c.tp * f.pd >= c.n_sel * f.pn
    )
    SELECT CAST(f.pn AS BIGINT) AS floor_num, CAST(f.pd AS BIGINT) AS floor_den,
           CAST(b.v AS BIGINT) AS best_threshold_q,
           CAST(b.n_sel AS BIGINT) AS n_selected,
           CAST(b.tp AS BIGINT) AS tp,
           CASE WHEN b.v IS NOT NULL THEN
             CAST({hd('1000000::HUGEINT * b.tp', 'b.n_sel')} AS BIGINT) END
             AS precision_micro,
           CASE WHEN b.v IS NOT NULL THEN
             CAST({hd('1000000::HUGEINT * b.tp', 't.p')} AS BIGINT) END
             AS recall_micro
    FROM floors f
    LEFT JOIN (SELECT * FROM feasible WHERE r = 1) b
      ON b.pn = f.pn AND b.pd = f.pd, tot t
    ORDER BY f.pn * 1.0 / f.pd
    """
    )


@register("ml_recall_at_precision_floor", oracle=_recall_floor_oracle())
def ml_recall_at_precision_floor(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Maximum recall subject to a precision SLA, for floors 0.80 /
    0.90 / 0.95, over the classifier's exact score grid — the
    operating-point selection a production filter actually deploys
    ("keep precision >= 90%, then recall as much as possible").
    ``ml_fbeta_optimal_thresholds`` trades the two smoothly; this is
    the hard-constraint version (the feasible set can be
    non-contiguous in the threshold, so the exact grid scan matters —
    a bisection on threshold would miss re-entrant feasible points).

    Exactness: TP / n_selected come off the descending score-grid
    cumulative (exact integers); the floor test is cross-multiplied
    (tp * pd >= n_sel * pn — never a per-row division); the argmax
    uses (tp desc, threshold asc); precision/recall quantize half-up
    at micro only in the output. Infeasible floors emit a NULL row
    (LEFT JOIN), so the row count is always 3.

    Scale shape: one scored scan to the <= 10001-value grid; the
    cumulative and per-floor ranking run over the POST-AGGREGATION
    grid (allowlist class, the fbeta/Youden precedent); 3 rows out.
    """
    from pyspark.sql.window import Window

    from .ml import _scored_labeled

    t = Tables(spark, sf_dir)
    grid = _scored_labeled(t).groupBy("score_q").agg(
        F.count(F.lit(1)).alias("n"), F.sum("label").alias("pos")
    )
    tot = grid.agg(
        F.sum("n").cast("long").alias("nn"), F.sum("pos").cast("long").alias("p")
    )
    w = Window.orderBy(F.col("score_q").desc()).rowsBetween(
        Window.unboundedPreceding, 0
    )
    cum = grid.select(
        F.col("score_q").alias("v"),
        F.sum("n").over(w).cast("long").alias("n_sel"),
        F.sum("pos").over(w).cast("long").alias("tp"),
    )
    floors = grid.sparkSession.createDataFrame(
        [(n, d) for n, d in PRECISION_FLOORS], "pn long, pd long"
    )
    feasible = floors.join(
        cum, F.col("tp") * F.col("pd") >= F.col("n_sel") * F.col("pn")
    )
    wb = Window.partitionBy("pn", "pd").orderBy(
        F.col("tp").desc(), F.col("v").asc()
    )
    best = (
        feasible.withColumn("r", F.row_number().over(wb))
        .filter(F.col("r") == 1)
        .select("pn", "pd", "v", "n_sel", "tp")
    )
    m6 = F.lit(1_000_000).cast("decimal(38,0)")
    return (
        floors.join(best, ["pn", "pd"], "left")
        .crossJoin(F.broadcast(tot))
        .select(
            F.col("pn").alias("floor_num"),
            F.col("pd").alias("floor_den"),
            F.col("v").alias("best_threshold_q"),
            F.col("n_sel").alias("n_selected"),
            "tp",
            F.when(
                F.col("v").isNotNull(),
                halfup_div(m6 * dec38(F.col("tp")), dec38(F.col("n_sel"))).cast(
                    "long"
                ),
            ).alias("precision_micro"),
            F.when(
                F.col("v").isNotNull(),
                halfup_div(m6 * dec38(F.col("tp")), dec38(F.col("p"))).cast("long"),
            ).alias("recall_micro"),
        )
        .orderBy(F.col("floor_num").cast("double") / F.col("floor_den"))
    )
