"""Round-13 direct registrations, batch T — the VERDICT r12 item-3
follow-throughs (a PAV-calibrated Brier decomposition beside the PAV/ROC-hull audit, and
the trend-strength summary off the shared STL derivation) plus the
Kuiper two-sample test. Each op is oracle-paired, replica-pinned and
plan-barred in ``tests/test_roundthirteen5.py`` (same-commit gate
rule). Every name was checked against the full 538-name registry
inventory before design (the SCALE §5j.7 authoring rule).

* ``ml_brier_pav_decomposition`` — Murphy decomposition of the Brier
  score over the PAV (isotonic) calibration blocks.
* ``events_stl_trend_strength`` — FPP-style trend/seasonal strength
  (Hyndman & Athanasopoulos) off the shared STL-lite derivation.
* ``stats_kuiper_ab`` — the rotation-invariant KS sibling
  (V = D+ + D-) on returned-vs-refused quantity.

Reference parity note: the reference (Go ingestion pipeline,
``/root/reference/main.go``) has no analytics; these extend SURVEY
§2.C graph / ML / time-series / warehouse statistics.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from ..functions.exact import dec38, halfup_div, sql_halfup_div
from ..registry import register
from ..tables import Tables


# ---------------------------------------------------------------------------
# 3. Murphy decomposition of the Brier score over PAV blocks
# ---------------------------------------------------------------------------


def _brier_pav_oracle() -> str:
    from .ml import _scored_labeled_sql
    from .roundten3 import ISO_BINS, _sql_iso_fit_ctes

    width = 10000 // ISO_BINS
    hd = sql_halfup_div
    return (
        _scored_labeled_sql()
        + ", "
        + _sql_iso_fit_ctes()
        + f"""
    , binstats AS (
      SELECT CAST(least(score_q // {width}, {ISO_BINS - 1}) AS BIGINT) AS bin,
             CAST(sum(score_q) AS HUGEINT) AS ssum,
             CAST(sum((score_q - 10000 * label)
                      * CAST((score_q - 10000 * label) AS HUGEINT))
                  AS HUGEINT) AS sqe
      FROM scored GROUP BY 1
    ), blocks AS (
      SELECT f.v,
             CAST(sum(f.n) AS HUGEINT) AS n_b,
             CAST(sum(f.pos) AS HUGEINT) AS pos_b,
             CAST(sum(s.ssum) AS HUGEINT) AS ssum_b
      FROM fit f JOIN binstats s ON s.bin = f.bin
      GROUP BY f.v
    ), tot AS (
      SELECT CAST(sum(n) AS HUGEINT) AS n,
             CAST(sum(pos) AS HUGEINT) AS p,
             (SELECT CAST(sum(sqe) AS HUGEINT) FROM binstats) AS sqe
      FROM bins
    ), bterm AS (
      SELECT b.n_b,
             {hd('1000000::HUGEINT * b.pos_b', 'b.n_b')} AS obar_b,
             {hd('100::HUGEINT * b.ssum_b', 'b.n_b')} AS sbar_b,
             {hd('1000000::HUGEINT * t.p', 't.n')} AS obar
      FROM blocks b, tot t
    ), comps AS (
      SELECT CAST(count(*) AS BIGINT) AS n_blocks,
             CAST(sum(n_b * (sbar_b - obar_b)
                      * CAST((sbar_b - obar_b) AS HUGEINT)) AS HUGEINT) AS rel_n,
             CAST(sum(n_b * (obar_b - obar)
                      * CAST((obar_b - obar) AS HUGEINT)) AS HUGEINT) AS res_n
      FROM bterm
    )
    SELECT CAST(t.n AS BIGINT) AS n, CAST(t.p AS BIGINT) AS n_pos,
           c.n_blocks,
           CAST({hd('1000000::HUGEINT * t.sqe', '100000000::HUGEINT * t.n')}
                AS BIGINT) AS brier_micro,
           CAST({hd('c.rel_n', '1000000::HUGEINT * t.n')} AS BIGINT)
             AS rel_pav_micro,
           CAST({hd('c.res_n', '1000000::HUGEINT * t.n')} AS BIGINT)
             AS res_pav_micro,
           CAST({hd('1000000::HUGEINT * t.p * (t.n - t.p)', 't.n * t.n')}
                AS BIGINT) AS unc_micro,
           CAST({hd('1000000::HUGEINT * t.sqe', '100000000::HUGEINT * t.n')}
                - ({hd('1000000::HUGEINT * t.p * (t.n - t.p)', 't.n * t.n')}
                   + {hd('c.rel_n', '1000000::HUGEINT * t.n')}
                   - {hd('c.res_n', '1000000::HUGEINT * t.n')})
                AS BIGINT) AS decomp_residual_micro
    FROM tot t, comps c
    """
    )


@register("ml_brier_pav_decomposition", oracle=_brier_pav_oracle())
def ml_brier_pav_decomposition(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Murphy (1973) decomposition of the classifier's Brier score
    computed over the PAV (isotonic) calibration blocks — the binning
    that makes reliability/resolution canonical rather than an
    arbitrary decile choice (VERDICT r12 suggestion: "a PAV-calibrated
    Brier decomposition beside the PAV/ROC-hull audit").
    ``ml_brier_decomposition`` bins by deciles; here the bins are the
    PAV blocks themselves (maximal score runs the isotonic fit pools),
    where the fitted probability IS the block positive rate, so
    reliability measures exactly the gap the isotonic recalibration
    would remove. Reported: Brier, PAV-reliability, PAV-resolution,
    uncertainty, and the decomposition residual (the within-block
    forecast variance/covariance remainder — Stephenson et al. 2008 —
    an explicit output so the replica can assert the identity).

    Derivation sharing: the score/label scan is ``ml._scored_labeled``;
    the PAV fit is ``roundten3._iso_fit`` over the shared 20-bin grid
    (one derivation, three consumers with the isotonic op and the
    PAV/hull audit).

    Exactness: block rates quantize once at micro (half-up integer
    divisions of exact integer counts/score sums); the component sums
    are then pure integer arithmetic, divided once by N. The residual
    is integer subtraction of the published components, so the Murphy
    identity holds bit-exactly in the output by construction.

    Scale shape: everything after the partial-aggregated document scan
    runs on the <= 20-bin POST-AGGREGATION grid (the isotonic-fit
    bounded-domain class); 1 row out.
    """
    from .ml import _scored_labeled
    from .roundten3 import ISO_BINS, _iso_fit

    t = Tables(spark, sf_dir)
    width = 10000 // ISO_BINS
    scored = _scored_labeled(t)
    # ONE partial-aggregated pass over the scored documents carries
    # every sufficient statistic (n/pos for the fit, ssum for block
    # score means, the squared-error partials for Brier) — the three
    # downstream consumers branch off the identical groupBy(bin)
    # exchange, which Spark's ReuseExchange collapses to a single
    # execution of the expensive sha2 scoring scan (measured 2.7 s ->
    # ~1 s at sf0.1 vs three independent aggregates).
    err = dec38(F.col("score_q") - F.lit(10000) * F.col("label"))
    stats = scored.groupBy(
        F.least(F.floor(F.col("score_q") / F.lit(width)), F.lit(ISO_BINS - 1))
        .cast("long")
        .alias("bin")
    ).agg(
        F.count(F.lit(1)).alias("n"),
        F.sum("label").alias("pos"),
        F.sum(dec38(F.col("score_q"))).alias("ssum"),
        F.sum(err * err).alias("sqe"),
    )
    # the fit's prefix-sum minimax chain references the bin grid ~9
    # times; an eager localCheckpoint of the 20-row grid pins the
    # expensive scoring scan to exactly ONE execution (the PageRank /
    # power-iteration lineage discipline; 9 sha2 scans in the static
    # plan -> 1). The remaining wall is the single scoring scan itself
    # (the _scored_labeled class every classifier op pays).
    stats = stats.localCheckpoint(eager=True)
    fit = _iso_fit(stats.select("bin", "n", "pos"))
    blocks = (
        fit.join(stats.select("bin", "ssum"), "bin")
        .groupBy("v")
        .agg(
            F.sum(dec38(F.col("n"))).alias("n_b"),
            F.sum(dec38(F.col("pos"))).alias("pos_b"),
            F.sum(F.col("ssum")).alias("ssum_b"),
        )
    )
    tot = stats.agg(
        F.sum(dec38(F.col("n"))).alias("n"),
        F.sum(dec38(F.col("pos"))).alias("p"),
        F.sum("sqe").alias("sqe"),
    )
    m6 = F.lit(1_000_000).cast("decimal(38,0)")
    bterm = blocks.crossJoin(F.broadcast(tot)).select(
        "n_b",
        halfup_div(m6 * F.col("pos_b"), F.col("n_b")).alias("obar_b"),
        halfup_div(F.lit(100).cast("decimal(38,0)") * F.col("ssum_b"), F.col("n_b"))
        .alias("sbar_b"),
        halfup_div(m6 * F.col("p"), F.col("n")).alias("obar"),
    )
    comps = bterm.agg(
        F.count(F.lit(1)).cast("long").alias("n_blocks"),
        F.sum(
            F.col("n_b")
            * (F.col("sbar_b") - F.col("obar_b"))
            * (F.col("sbar_b") - F.col("obar_b"))
        ).alias("rel_n"),
        F.sum(
            F.col("n_b")
            * (F.col("obar_b") - F.col("obar"))
            * (F.col("obar_b") - F.col("obar"))
        ).alias("res_n"),
    )
    m8 = F.lit(100_000_000).cast("decimal(38,0)")
    j = tot.crossJoin(F.broadcast(comps))
    brier = halfup_div(m6 * F.col("sqe"), m8 * F.col("n"))
    rel = halfup_div(F.col("rel_n"), m6 * F.col("n"))
    res = halfup_div(F.col("res_n"), m6 * F.col("n"))
    unc = halfup_div(m6 * F.col("p") * (F.col("n") - F.col("p")),
                      F.col("n") * F.col("n"))
    return j.select(
        F.col("n").cast("long").alias("n"),
        F.col("p").cast("long").alias("n_pos"),
        "n_blocks",
        brier.cast("long").alias("brier_micro"),
        rel.cast("long").alias("rel_pav_micro"),
        res.cast("long").alias("res_pav_micro"),
        unc.cast("long").alias("unc_micro"),
        (brier - (unc + rel - res)).cast("long").alias("decomp_residual_micro"),
    )


# ---------------------------------------------------------------------------
# 4. FPP trend/seasonal strength off the shared STL-lite derivation
# ---------------------------------------------------------------------------


def _stl_strength_oracle() -> str:
    from .roundeleven6 import _SQL_STL_DET_CTES

    hd = sql_halfup_div
    return f"""
    WITH {_SQL_STL_DET_CTES}
    , j AS (
      SELECT CAST(1000000::HUGEINT * i.y AS HUGEINT) - r.d + r.r AS q,
             r.d AS d, r.r AS r
      FROM rem0 r JOIN daily i ON i.day = r.day
    ), v AS (
      SELECT CAST(count(*) AS HUGEINT) AS m,
             CAST(sum(q) AS HUGEINT) AS sq,
             CAST(sum(q * q) AS HUGEINT) AS sqq,
             CAST(sum(d) AS HUGEINT) AS sd,
             CAST(sum(d * d) AS HUGEINT) AS sdd,
             CAST(sum(r) AS HUGEINT) AS sr,
             CAST(sum(r * r) AS HUGEINT) AS srr
      FROM j
    )
    SELECT CAST(m AS BIGINT) AS n_days,
           CASE WHEN m * sqq - sq * sq > 0 THEN
             CAST(greatest(0, {hd(
                 '1000000::HUGEINT * ((m * sqq - sq * sq) - (m * srr - sr * sr))',
                 '(m * sqq - sq * sq)')}) AS BIGINT)
           END AS trend_strength_micro,
           CASE WHEN m * sdd - sd * sd > 0 THEN
             CAST(greatest(0, {hd(
                 '1000000::HUGEINT * ((m * sdd - sd * sd) - (m * srr - sr * sr))',
                 '(m * sdd - sd * sd)')}) AS BIGINT)
           END AS seasonal_strength_micro
    FROM v
    """


@register("events_stl_trend_strength", oracle=_stl_strength_oracle())
def events_stl_trend_strength(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Trend strength and seasonal strength of the daily order series
    (Hyndman & Athanasopoulos, FPP3 §4.3; Wang, Smith & Hyndman 2006),
    off the SHARED STL-lite derivation: F_T = max(0, 1 - Var(R) /
    Var(deseasonalized)) and F_S = max(0, 1 - Var(R) / Var(detrended)),
    one row summarizing how much of the series' variation the trend and
    the weekday cycle each explain — the feature a forecasting pipeline
    uses to route series (high F_S -> seasonal model; both ~0 -> white
    noise, don't forecast). VERDICT r12 suggestion executed: the
    seasonal component is ``events_stl_dow_decomposition``'s published
    strength; the trend sibling is what was missing.

    Derivation sharing: ``roundeleven6._stl_rem`` /
    ``_SQL_STL_DET_CTES`` — the detrended (d) and remainder (r) series
    the STL op, the residual periodogram and now this summary all
    consume (one derivation, three consumers). The deseasonalized
    series needs the raw counts back: rem0 joins the `daily` CTE on
    day (micro: q = 1e6*y - d + r, exact integers, since d = 1e6*(y -
    trend) and r = d - seasonal).

    Exactness: all three variance blocks are m*sum(x^2) - sum(x)^2 over
    exact integer micro series; two half-up micro divisions with a
    greatest(0, .) floor. Headroom: q ~ 1e6*y, so m*sqq ~ m^2 *
    (1e6*y_max)^2 — at 1e9-row days and a 10k-day calendar this peaks
    ~1e37, inside decimal(38,0)/HUGEINT (documented bound).

    Scale shape: one fact scan partial-aggregates to the calendar-day
    domain; everything after (the 7-day band join, the dow seasonal
    index, the variance blocks) is calendar-bounded. 1 row out.
    """
    from .roundeleven6 import _stl_rem

    t = Tables(spark, sf_dir)
    rem = _stl_rem(t)
    # mirrors the `daily` CTE in _SQL_DAILY_COUNTS_IDX (a 1-line
    # aggregate, not a derivation chain — the shared chain starts at
    # the detrend, which _stl_rem provides)
    daily = t.orders.groupBy(F.to_date("o_orderdate").alias("day")).agg(
        dec38(F.count(F.lit(1))).alias("y")
    )
    m6 = F.lit(1_000_000).cast("decimal(38,0)")
    j = rem.join(daily, "day").select(
        (m6 * F.col("y") - F.col("d") + F.col("r")).alias("q"), "d", "r"
    )
    v = j.agg(
        dec38(F.count(F.lit(1))).alias("m"),
        F.sum("q").alias("sq"),
        F.sum(F.col("q") * F.col("q")).alias("sqq"),
        F.sum("d").alias("sd"),
        F.sum(F.col("d") * F.col("d")).alias("sdd"),
        F.sum("r").alias("sr"),
        F.sum(F.col("r") * F.col("r")).alias("srr"),
    )
    zero = F.lit(0).cast("decimal(38,0)")
    vt = F.col("m") * F.col("sqq") - F.col("sq") * F.col("sq")
    vd = F.col("m") * F.col("sdd") - F.col("sd") * F.col("sd")
    vr = F.col("m") * F.col("srr") - F.col("sr") * F.col("sr")
    return v.select(
        F.col("m").cast("long").alias("n_days"),
        F.when(vt > 0, F.greatest(zero, halfup_div(m6 * (vt - vr), vt)))
        .cast("long")
        .alias("trend_strength_micro"),
        F.when(vd > 0, F.greatest(zero, halfup_div(m6 * (vd - vr), vd)))
        .cast("long")
        .alias("seasonal_strength_micro"),
    )


# ---------------------------------------------------------------------------
# 5. Kuiper two-sample test on returned-vs-refused quantity
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
        t.lineitem.filter(
            F.col("l_returnflag").isin("A", "R") & F.col("l_quantity").isNotNull()
        )
        .select(
            F.col("l_quantity").cast("long").alias("v"),
            F.when(F.col("l_returnflag") == "A", 1).otherwise(0).alias("ia"),
            F.when(F.col("l_returnflag") == "R", 1).otherwise(0).alias("ir"),
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
