"""Round-13 operator batch Q.

Gates: ``tests/test_roundthirteen2.py``; SCALE.md §5o records the
×10 ladder.

Batch theme — changepoint scan, volatility-memory diagnostics and
forecast-accuracy scaling on the daily series: the MOSUM moving-sum
changepoint statistic, the McLeod–Li test (Ljung–Box on SQUARED
residuals), MASE forecast scaling for the seasonal-naive model, the
Poisson deviance of the day-of-week rate model, and the seasonal Sen
slope. Every name was checked against the full registry inventory
before design.

Reference parity note: the reference (Go ingestion pipeline) has no
analytics; these extend SURVEY §2.C time-series statistics.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from ..functions.exact import dec38, halfup_div, sql_halfup_div
from ..registry import register
from ..tables import Tables
from .roundeleven2 import _SQL_DAILY_COUNTS_IDX, _daily_counts_idx

# ---------------------------------------------------------------------------
# 1. MOSUM moving-sum changepoint scan
# ---------------------------------------------------------------------------

MOSUM_H = 30  # bandwidth (days)


def _mosum_oracle() -> str:
    hd = sql_halfup_div
    h = MOSUM_H
    return f"""
    WITH {_SQL_DAILY_COUNTS_IDX}
    , tot AS (
      SELECT CAST(count(*) AS HUGEINT) AS m, CAST(sum(y) AS HUGEINT) AS sy,
             CAST(sum(y * y) AS HUGEINT) AS syy
      FROM idx
    ), win AS (
      SELECT a.day, a.k, CAST(sum(b.y) AS HUGEINT) AS sw
      FROM idx a JOIN idx b ON b.k BETWEEN a.k + 1 AND a.k + {h}, tot t
      WHERE a.k <= t.m - {h}
      GROUP BY a.day, a.k
    ), dev AS (
      SELECT w.day, w.k, (t.m * w.sw - {h} * t.sy) AS d,
             (t.m * t.syy - t.sy * t.sy) AS v
      FROM win w, tot t
    ), best AS (
      SELECT day, k, d, v FROM dev
      ORDER BY (d * d) DESC, k LIMIT 1
    )
    SELECT (SELECT CAST(m AS BIGINT) FROM tot) AS n_days,
           CAST({h} AS BIGINT) AS bandwidth,
           CAST(best.k AS BIGINT) AS argmax_k,
           CAST(best.day AS TIMESTAMP) AS window_start_day,
           CASE WHEN best.v > 0 THEN
             CAST({hd('1000000::HUGEINT * best.d * best.d',
                      f'2 * {h} * best.v')} AS BIGINT)
           END AS mosum_m_sq_micro
    FROM best
    """


@register("events_mosum_changepoint", _mosum_oracle())
def events_mosum_changepoint(spark: SparkSession, sf_dir: str) -> DataFrame:
    """MOSUM (moving-sum) changepoint scan on the daily order counts
    (Bauer & Hackl 1978): slide a {MOSUM_H}-day window, compare each
    window's sum against the global mean, and report the maximizing
    window with M^2 = (S_w - h ybar)^2 / (2 h sigma^2). The
    LOCAL-window member of the changepoint shelf — CUSUM/Pettitt
    detect ONE global break, Page–Hinkley alarms online; MOSUM is the
    one that finds a TRANSIENT regime (a month-long incident that
    global statistics average away) and the standard scan statistic
    for epidemic alternatives.

    Exactness: window sums come off the calendar-bounded rank band
    join; deviations clear denominators to exact integers
    D_k = m*S_w - h*Sy and V = m*Syy - Sy^2; the argmax uses the
    exact D^2 ordering with earliest-k tiebreak; ONE half-up micro
    division for the reported statistic.

    Scale shape: one fact scan to the ~2.4k-day table; the band join
    is (days x h)-bounded; a 1-row TakeOrdered argmax.
    """
    t = Tables(spark, sf_dir)
    idx = _daily_counts_idx(t)
    tot = idx.agg(
        dec38(F.count(F.lit(1))).alias("m"),
        F.sum("y").alias("sy"),
        F.sum(F.col("y") * F.col("y")).alias("syy"),
    )
    b = idx.select(F.col("k").alias("kb"), F.col("y").alias("yb"))
    win = (
        idx.crossJoin(F.broadcast(tot))
        .filter(F.col("k") <= F.col("m") - MOSUM_H)
        .join(
            F.broadcast(b),
            (F.col("kb") >= F.col("k") + 1) & (F.col("kb") <= F.col("k") + MOSUM_H),
        )
        .groupBy("day", "k", "m", "sy", "syy")
        .agg(F.sum("yb").alias("sw"))
    )
    dev = win.select(
        "day",
        "k",
        (F.col("m") * F.col("sw") - MOSUM_H * F.col("sy")).alias("d"),
        (F.col("m") * F.col("syy") - F.col("sy") * F.col("sy")).alias("v"),
    )
    best = (
        dev.orderBy((F.col("d") * F.col("d")).desc(), "k")
        .limit(1)
    )
    m6 = F.lit(1_000_000).cast("decimal(38,0)")
    nn = idx.agg(F.count(F.lit(1)).cast("long").alias("n_days"))
    return nn.crossJoin(F.broadcast(best)).select(
        "n_days",
        F.lit(MOSUM_H).cast("long").alias("bandwidth"),
        F.col("k").cast("long").alias("argmax_k"),
        F.col("day").cast("timestamp").alias("window_start_day"),
        F.when(
            F.col("v") > 0,
            halfup_div(
                m6 * F.col("d") * F.col("d"),
                F.lit(2 * MOSUM_H).cast("decimal(38,0)") * F.col("v"),
            ).cast("long"),
        ).alias("mosum_m_sq_micro"),
    )


# ---------------------------------------------------------------------------
# 2. McLeod–Li test (Ljung–Box on squared residuals)
# ---------------------------------------------------------------------------

ML_LAGS = 7


def _mcleod_oracle() -> str:
    from .roundeleven7 import _SQL_BP_RESID_CTES

    hd = sql_halfup_div
    return f"""
    WITH {_SQL_BP_RESID_CTES}, z AS (
      SELECT k, (u * u) AS z FROM resid
    ), zt AS (
      SELECT CAST(count(*) AS HUGEINT) AS n, CAST(sum(z) AS HUGEINT) AS sz
      FROM z
    ), zeta AS (
      SELECT z.k, (zt.n * z.z - zt.sz) AS c FROM z, zt
    ), c0 AS (
      SELECT CAST(sum(c * c) AS HUGEINT) AS c0 FROM zeta
    ), lags AS (SELECT CAST(unnest(range(1, {ML_LAGS + 1})) AS BIGINT) AS lag),
    cl AS (
      SELECT l.lag, CAST(coalesce(sum(a.c * b.c), 0) AS HUGEINT) AS cl
      FROM lags l
      JOIN zeta a ON TRUE
      JOIN zeta b ON b.k = a.k + l.lag
      GROUP BY l.lag
    ), rr AS (
      SELECT cl.lag,
             CAST(floor(
               (CAST(cl.cl AS DOUBLE) / CAST(c0.c0 AS DOUBLE))
               * (CAST(cl.cl AS DOUBLE) / CAST(c0.c0 AS DOUBLE))
               * 1000000.0 + 0.5) AS BIGINT)
               * (CASE WHEN cl.cl < 0 THEN -1 ELSE 1 END) AS r2_signed,
             CAST(floor(
               (CAST(cl.cl AS DOUBLE) / CAST(c0.c0 AS DOUBLE))
               * (CAST(cl.cl AS DOUBLE) / CAST(c0.c0 AS DOUBLE))
               * 1000000.0 + 0.5) AS BIGINT) AS r2u
      FROM cl, c0
    ), q AS (
      SELECT CAST(sum({hd('zt.n * (zt.n + 2) * rr.r2u', 'zt.n - rr.lag')})
                  AS HUGEINT) AS qstat
      FROM rr, zt
    )
    SELECT rr.lag, rr.r2_signed AS acf_sq_signed_micro,
           (SELECT CAST(n AS BIGINT) FROM zt) AS n_days,
           CAST(q.qstat AS BIGINT) AS mcleod_li_q_micro
    FROM rr, q ORDER BY rr.lag
    """


@register("stats_mcleod_li_daily", _mcleod_oracle())
def stats_mcleod_li_daily(spark: SparkSession, sf_dir: str) -> DataFrame:
    """McLeod–Li test (1983) on the daily order-count OLS residuals:
    the Ljung–Box portmanteau computed on the SQUARED residuals at
    lags 1..{ML_LAGS} — Q = n(n+2) sum r_l^2/(n-l), chi-square under
    "no ARCH". ``stats_ljung_box_daily`` checks LEVEL autocorrelation
    and ``stats_arch_lm_daily`` the lag-1 variance regression; McLeod–
    Li is the MULTI-LAG volatility-memory screen that catches
    clustering the single-lag LM misses (e.g. weekly volatility
    cycles), on the SHARED Breusch–Pagan residual table
    (``roundeleven7._bp_resid`` — one derivation, three consumers).

    Exactness: squared residuals and their centered products clear
    denominators to exact integers (zeta = n*z - Sz); per-lag r^2
    runs the shape-matched IEEE double sequence (c_l^2 overflows
    decimal(38,0) at x10), micro-quantized ONCE per lag; Q sums the
    exact n(n+2)*r2q/(n-l) half-up terms of those quantized r^2 —
    deterministic on both engines by construction.

    Scale shape: calendar-bounded; {ML_LAGS} lag equi-joins on the
    rank; per-lag scalars out.
    """
    from .roundeleven7 import _bp_resid

    t = Tables(spark, sf_dir)
    # Round-15 (guide §2.4; VERDICT r14 item 1): the round-14 eager
    # localCheckpoints here serialized the residual build into every
    # timed run (driver-contradicted, 3.09→6.36 s). `_bp_resid` is now
    # a session-materialized warehouse table, so each of the 10+ plan
    # branches (c0, both sides of 7 lag joins, zt/q/nn) re-reads a
    # ~2.4k-row 2-column parquet scan — no checkpoint needed.
    z = _bp_resid(t).select("k", (F.col("u") * F.col("u")).alias("z"))
    zt = z.agg(dec38(F.count(F.lit(1))).alias("n"), F.sum("z").alias("sz"))
    zeta = z.crossJoin(F.broadcast(zt)).select(
        "k", (F.col("n") * F.col("z") - F.col("sz")).alias("c"), "n"
    )
    c0 = zeta.agg(F.sum(F.col("c") * F.col("c")).alias("c0"))
    lags = z.sparkSession.range(1, ML_LAGS + 1).select(
        F.col("id").cast("long").alias("lag")
    )
    a = zeta.select(F.col("k").alias("ka"), F.col("c").alias("ca"))
    bz = zeta.select(F.col("k").alias("kb"), F.col("c").alias("cb"))
    cl = (
        a.crossJoin(F.broadcast(lags))
        .join(bz, F.col("kb") == F.col("ka") + F.col("lag"))
        .groupBy("lag")
        .agg(F.coalesce(F.sum(F.col("ca") * F.col("cb")), F.lit(0)).alias("cl"))
    )
    r_d = F.col("cl").cast("double") / F.col("c0").cast("double")
    r2u = F.floor(r_d * r_d * F.lit(1000000.0) + F.lit(0.5)).cast("long")
    rr = cl.crossJoin(F.broadcast(c0)).select(
        "lag",
        (r2u * F.when(F.col("cl") < 0, F.lit(-1)).otherwise(F.lit(1))).alias(
            "r2_signed"
        ),
        r2u.alias("r2u"),
    )
    q = (
        rr.crossJoin(F.broadcast(zt))
        .agg(
            F.sum(
                halfup_div(
                    F.col("n") * (F.col("n") + 2) * dec38(F.col("r2u")),
                    F.col("n") - dec38(F.col("lag")),
                )
            ).alias("qstat")
        )
    )
    nn = zt.select(F.col("n").cast("long").alias("n_days"))
    return (
        rr.crossJoin(F.broadcast(q))
        .crossJoin(F.broadcast(nn))
        .select(
            "lag",
            F.col("r2_signed").cast("long").alias("acf_sq_signed_micro"),
            "n_days",
            F.col("qstat").cast("long").alias("mcleod_li_q_micro"),
        )
        .orderBy("lag")
    )


# ---------------------------------------------------------------------------
# 3. MASE scaling of the seasonal-naive forecast
# ---------------------------------------------------------------------------

MASE_SEASON = 7


def _mase_oracle() -> str:
    hd = sql_halfup_div
    s = MASE_SEASON
    return f"""
    WITH {_SQL_DAILY_COUNTS_IDX}
    , ev AS (
      SELECT a.k,
             abs(a.y - n1.y) AS e1,
             abs(a.y - n7.y) AS e7
      FROM idx a
      JOIN idx n1 ON n1.k = a.k - 1
      JOIN idx n7 ON n7.k = a.k - {s}
    ), sums AS (
      SELECT CAST(count(*) AS HUGEINT) AS n,
             CAST(sum(e1) AS HUGEINT) AS mae1_sum,
             CAST(sum(e7) AS HUGEINT) AS mae7_sum
      FROM ev
    )
    SELECT CAST(n AS BIGINT) AS n_eval_days,
           CAST(mae1_sum AS BIGINT) AS abs_err_naive_sum,
           CAST(mae7_sum AS BIGINT) AS abs_err_seasonal_sum,
           CASE WHEN mae1_sum > 0 THEN
             CAST({hd('1000000::HUGEINT * mae7_sum', 'mae1_sum')} AS BIGINT)
           END AS mase_micro
    FROM sums
    """


@register("events_mase_seasonal_naive", _mase_oracle())
def events_mase_seasonal_naive(spark: SparkSession, sf_dir: str) -> DataFrame:
    """MASE (mean absolute scaled error, Hyndman & Koehler 2006) of
    the seasonal-naive forecast on the daily order counts, scaled by
    the one-step naive: MASE = MAE(same-weekday-last-week) /
    MAE(yesterday), on the common evaluation days. The SCALE-FREE
    forecast-accuracy member: ``stats_diebold_mariano_daily`` tests
    the same pair for significance under squared loss; MASE is the
    magnitude read (< 1 means the seasonal model beats persistence)
    that survives zero-heavy and re-scaled series where MAPE
    explodes — the M-competition standard.

    Exactness: absolute errors are exact integers off the two
    calendar-rank lag joins restricted to the SAME evaluation days
    (both forecasts defined); ONE half-up micro division.

    Scale shape: one fact scan to the day table; two rank equi-joins;
    one sufficient-sum aggregate.
    """
    t = Tables(spark, sf_dir)
    idx = _daily_counts_idx(t)
    a = idx.select(F.col("k").alias("ka"), F.col("y").alias("ya"))
    n1 = idx.select(F.col("k").alias("k1"), F.col("y").alias("y1"))
    n7 = idx.select(F.col("k").alias("k7"), F.col("y").alias("y7"))
    ev = (
        a.join(n1, F.col("k1") == F.col("ka") - 1)
        .join(n7, F.col("k7") == F.col("ka") - MASE_SEASON)
        .select(
            F.abs(F.col("ya") - F.col("y1")).alias("e1"),
            F.abs(F.col("ya") - F.col("y7")).alias("e7"),
        )
    )
    sums = ev.agg(
        dec38(F.count(F.lit(1))).alias("n"),
        F.sum("e1").alias("mae1_sum"),
        F.sum("e7").alias("mae7_sum"),
    )
    m6 = F.lit(1_000_000).cast("decimal(38,0)")
    return sums.select(
        F.col("n").cast("long").alias("n_eval_days"),
        F.col("mae1_sum").cast("long").alias("abs_err_naive_sum"),
        F.col("mae7_sum").cast("long").alias("abs_err_seasonal_sum"),
        F.when(
            F.col("mae1_sum") > 0,
            halfup_div(m6 * F.col("mae7_sum"), F.col("mae1_sum")).cast("long"),
        ).alias("mase_micro"),
    )


# ---------------------------------------------------------------------------
# 4. Poisson deviance of the day-of-week rate model
# ---------------------------------------------------------------------------


def _pois_dev_oracle() -> str:
    from ..functions.detmath import sql_det_ln_steps

    hd = sql_halfup_div
    return f"""
    WITH daily AS (
      SELECT CAST(o_orderdate AS DATE) AS day,
             CAST(isodow(CAST(o_orderdate AS DATE)) AS BIGINT) AS dow,
             CAST(count(*) AS BIGINT) AS y
      FROM orders GROUP BY 1, 2
    ), dows AS (
      SELECT dow, CAST(count(*) AS BIGINT) AS n_d, CAST(sum(y) AS BIGINT) AS s_d
      FROM daily GROUP BY dow
    ), cells AS (
      SELECT d.dow, d.y, CAST(count(*) AS BIGINT) AS c,
             w.n_d, w.s_d,
             CAST(d.y AS DOUBLE) * CAST(w.n_d AS DOUBLE)
               / CAST(w.s_d AS DOUBLE) AS ratio
      FROM daily d JOIN dows w ON w.dow = d.dow
      WHERE d.y > 0 AND w.s_d > 0
      GROUP BY d.dow, d.y, w.n_d, w.s_d
    ), {sql_det_ln_steps('cells', 'ratio', 'lnr')},
    dev AS (
      SELECT CAST(sum(c::HUGEINT * y * lnr) AS HUGEINT) AS half_dev_micro
      FROM lnr_rel
    ), nn AS (SELECT CAST(count(*) AS BIGINT) AS n FROM daily)
    SELECT nn.n AS n_days,
           (SELECT CAST(count(*) AS BIGINT) FROM dows) AS n_dow,
           CAST(2 * dev.half_dev_micro AS BIGINT) AS deviance_micro
    FROM nn, dev
    """


@register("stats_poisson_deviance_dow", _pois_dev_oracle())
def stats_poisson_deviance_dow(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Poisson deviance of the day-of-week rate model on daily order
    counts: D = 2 sum[y ln(y/mu) - (y - mu)] with mu = the weekday
    mean; the second term vanishes exactly because the MLE matches
    group totals, leaving D = 2 sum y ln(y n_d / S_d). The GLM
    goodness-of-fit read of the weekday model (chi-square with
    n - 7 df under the model): ``stats_negbin_hourly_fit`` asks if
    counts are overdispersed globally; the deviance says whether the
    WEEKDAY model's residual dispersion is Poisson-compatible, i.e.
    whether a weekday-rate alert threshold needs a dispersion factor.

    Exactness: the y*ln(ratio) masses accumulate as exact integer
    products y * det_ln_q(y n_d / S_d) (the shared deterministic
    fixed-point ln), partial-aggregated per (dow, y) CELL so each
    distinct ratio is ln'd once; zero-count days contribute exactly
    0 on both engines (dropped by the same y > 0 filter).

    Scale shape: one scan to the (dow x count-value) grid (bounded by
    the daily-count value domain); one det-ln pass over the grid.
    """
    from ..functions.detmath import det_ln_q

    t = Tables(spark, sf_dir)
    daily = t.orders.groupBy(
        F.to_date("o_orderdate").alias("day"),
        (F.weekday(F.to_date("o_orderdate")) + 1).cast("long").alias("dow"),
    ).agg(F.count(F.lit(1)).cast("long").alias("y"))
    dows = daily.groupBy("dow").agg(
        F.count(F.lit(1)).cast("long").alias("n_d"),
        F.sum("y").cast("long").alias("s_d"),
    )
    cells = (
        daily.join(F.broadcast(dows), "dow")
        .filter((F.col("y") > 0) & (F.col("s_d") > 0))
        .groupBy("dow", "y", "n_d", "s_d")
        .agg(F.count(F.lit(1)).cast("long").alias("c"))
    )
    lnr = det_ln_q(
        F.col("y").cast("double")
        * F.col("n_d").cast("double")
        / F.col("s_d").cast("double")
    )
    dev = cells.select(
        (dec38(F.col("c")) * F.col("y") * lnr).alias("t")
    ).agg(F.sum("t").alias("half_dev_micro"))
    nn = daily.agg(F.count(F.lit(1)).cast("long").alias("n_days"))
    nd = dows.agg(F.count(F.lit(1)).cast("long").alias("n_dow"))
    return (
        nn.crossJoin(F.broadcast(nd))
        .crossJoin(F.broadcast(dev))
        .select(
            "n_days",
            "n_dow",
            (2 * F.col("half_dev_micro")).cast("long").alias("deviance_micro"),
        )
    )


# ---------------------------------------------------------------------------
# 5. Seasonal Sen slope (within-weekday pairwise-slope medians)
# ---------------------------------------------------------------------------


def _ssen_oracle() -> str:
    return """
    WITH daily AS (
      SELECT CAST(o_orderdate AS DATE) AS day,
             CAST(isodow(CAST(o_orderdate AS DATE)) AS BIGINT) AS dow,
             CAST(count(*) AS BIGINT) AS y
      FROM orders GROUP BY 1, 2
    ), idx AS (
      SELECT a.dow, a.y, CAST(count(*) AS BIGINT) AS i
      FROM daily a JOIN daily b ON b.dow = a.dow AND b.day <= a.day
      GROUP BY a.dow, a.day, a.y
    ), pairs AS (
      SELECT a.dow,
             CAST(CASE WHEN b.y >= a.y
               THEN  ((20000::HUGEINT * (b.y - a.y) + (b.i - a.i))
                      // (2::HUGEINT * (b.i - a.i)))
               ELSE -((20000::HUGEINT * (a.y - b.y) + (b.i - a.i))
                      // (2::HUGEINT * (b.i - a.i)))
             END AS BIGINT) AS slope_q4
      FROM idx a JOIN idx b ON b.dow = a.dow AND b.i > a.i
    ), per_dow AS (
      SELECT dow, CAST(count(*) AS BIGINT) AS n_pairs,
             CAST(quantile_disc(slope_q4, 0.5) AS BIGINT) AS med_q4
      FROM pairs GROUP BY dow
    ), overall AS (
      SELECT CAST(0 AS BIGINT) AS dow, CAST(count(*) AS BIGINT) AS n_pairs,
             CAST(quantile_disc(slope_q4, 0.5) AS BIGINT) AS med_q4
      FROM pairs
    )
    SELECT dow, n_pairs, med_q4 / 10000.0 AS sen_slope_per_week_pos
    FROM (SELECT * FROM per_dow UNION ALL SELECT * FROM overall)
    ORDER BY dow
    """


@register("stats_seasonal_sen_slope", _ssen_oracle())
def stats_seasonal_sen_slope(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Seasonal Sen slope on the daily order counts: Theil–Sen's
    median-of-pairwise-slopes computed WITHIN each ISO weekday (so
    the weekly cycle cannot masquerade as trend), per weekday and
    pooled (dow = 0 row — the Hirsch–Slack seasonal estimator that
    pairs only like with like). ``stats_seasonal_mann_kendall``
    delivers the seasonal trend TEST; this is the matching robust
    SLOPE — the magnitude the test's rejection needs attached
    (orders per weekday-position step, i.e. per week).

    Exactness: within-weekday day positions come from the
    calendar-bounded rank join; slopes are exact half-up integer
    ratios at 4 dp (the Theil–Sen convention); medians are exact
    discrete quantiles over those int64s (percentile_approx at exact
    accuracy == DuckDB quantile_disc).

    Scale shape: the corpus collapses to the ~2.4k-day table first;
    the per-dow pair join is (days/7)^2 x 7-bounded; medians run on
    the bounded slope multiset.
    """
    from pyspark.sql.window import Window

    t = Tables(spark, sf_dir)
    daily = t.orders.groupBy(
        F.to_date("o_orderdate").alias("day"),
        (F.weekday(F.to_date("o_orderdate")) + 1).cast("long").alias("dow"),
    ).agg(F.count(F.lit(1)).cast("long").alias("y"))
    idx = daily.select(
        "dow",
        "y",
        F.row_number().over(Window.partitionBy("dow").orderBy("day")).alias("i"),
    )
    b = idx.select(
        F.col("dow").alias("dow_b"), F.col("y").alias("y_b"), F.col("i").alias("i_b")
    )
    num = dec38(F.col("y_b")) - dec38(F.col("y"))
    den = dec38(F.col("i_b")) - dec38(F.col("i"))
    a_ = F.lit(20000).cast("decimal(38,0)") * F.abs(num) + den
    b_ = F.lit(2).cast("decimal(38,0)") * den
    mag = ((a_ - a_ % b_) / b_).cast("long")
    slope_q4 = F.when(num < 0, -mag).otherwise(mag)
    pairs = idx.join(
        b, (F.col("dow_b") == F.col("dow")) & (F.col("i_b") > F.col("i"))
    ).select("dow", slope_q4.alias("slope_q4"))
    exact = str(2**31 - 1)
    per_dow = pairs.groupBy("dow").agg(
        F.count(F.lit(1)).cast("long").alias("n_pairs"),
        F.expr(f"percentile_approx(slope_q4, 0.5, {exact})")
        .cast("long")
        .alias("med_q4"),
    )
    overall = pairs.agg(
        F.lit(0).cast("long").alias("dow"),
        F.count(F.lit(1)).cast("long").alias("n_pairs"),
        F.expr(f"percentile_approx(slope_q4, 0.5, {exact})")
        .cast("long")
        .alias("med_q4"),
    )
    return (
        per_dow.unionByName(overall)
        .select(
            "dow",
            "n_pairs",
            (F.col("med_q4").cast("double") / F.lit(10000.0)).alias(
                "sen_slope_per_week_pos"
            ),
        )
        .orderBy("dow")
    )
