"""Event time-series queries: per-day, per-hour and per-type series of
the events stream.

- day-count series: ACF, auto mutual information, Theil U, Bass
  diffusion, the view/purchase CCF and Granger test, Pettitt, Holt,
  runs, seasonal strength and Parkinson volatility;
- hourly and windowed counts: hourly entropy, hourly top-k users, the
  Fano-factor curve, the Poisson rate test, the decayed value;
- inter-arrival gaps per event type: burstiness, memory coefficient
  and the inspection paradox.

The calendar-day steps and the per-type gap come from
``operators/events.py``; the day rank is ``daily.calendar_rank``.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from ..functions.detmath import LN2_MICRO
from ..functions.exact import dec38, halfup_div, sql_halfup_div
from ..registry import register
from ..tables import Tables
from .daily import calendar_rank
from .events import day_counts, type_day_counts, type_gap_s, type_order, type_pair_days


# ---------------------------------------------------------------------------
# Autocorrelation of the daily activity series (lags 1..7)
# ---------------------------------------------------------------------------

ACF_MAX_LAG = 7


def _acf_oracle() -> str:
    return f"""
    WITH daily AS (
      SELECT event_type, CAST(ts AS DATE) AS d, CAST(count(*) AS BIGINT) AS y
      FROM events GROUP BY 1, 2
    ), idx AS (
      SELECT event_type, y,
             row_number() OVER (PARTITION BY event_type ORDER BY d) AS i,
             CAST(count(*) OVER (PARTITION BY event_type) AS BIGINT) AS n,
             CAST(sum(y) OVER (PARTITION BY event_type) AS BIGINT) AS s
      FROM daily
    ), cent AS (
      SELECT event_type, i, n,
             n::HUGEINT * y - s::HUGEINT AS z
      FROM idx
    ), lags AS (
      SELECT l FROM unnest(range(1, {ACF_MAX_LAG + 1})) AS t(l)
    ), num AS (
      SELECT a.event_type, l.l AS lag, a.n,
             sum(a.z * b.z) AS num
      FROM cent a
      JOIN lags l ON true
      JOIN cent b ON b.event_type = a.event_type AND b.i = a.i + l.l
      GROUP BY 1, 2, 3
    ), den AS (
      SELECT event_type, sum(z * z) AS den FROM cent GROUP BY event_type
    )
    SELECT n.event_type, n.lag, n.n AS n_days,
           CAST(CASE WHEN n.num >= 0
             THEN  ((2000000::HUGEINT * n.num + d.den) // (2::HUGEINT * d.den))
             ELSE -((2000000::HUGEINT * (-n.num) + d.den) // (2::HUGEINT * d.den))
           END AS BIGINT) / 1000000.0 AS acf
    FROM num n JOIN den d USING (event_type)
    """


@register("events_acf_daily_lags", oracle=_acf_oracle())
def events_acf_daily_lags(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Autocorrelation of the daily event-count series at lags 1..7,
    per event type — the seasonality detector (a weekly cycle shows as
    a lag-7 peak) feeding forecasting and anomaly baselines.

    Exactness: with the series mean-centered by cross-multiplication
    (z_t = n*y_t - S, integers — no fractional mean anywhere), the ACF
    is sum(z_t * z_{t+l}) / sum(z_t^2), two exact decimal sums and one
    half-up ratio. Scale: the raw corpus collapses to a
    |event_types| x |days| series in one partial-aggregated groupBy;
    lag pairing is a self-join on the day index of that BOUNDED series
    (days grow with time, not with data volume), broadcastable at any
    corpus size.
    """
    from ..functions.exact import round_big_int_ratio

    t = Tables(spark, sf_dir)
    daily = type_day_counts(t, F.count(F.lit(1)).alias("y"))
    w = Window.partitionBy("event_type")
    idx = daily.select(
        "event_type",
        "y",
        F.row_number().over(w.orderBy("day")).alias("i"),
        F.count(F.lit(1)).over(w).alias("n"),
        F.sum("y").over(w).alias("s"),
    )
    cent = idx.select(
        "event_type",
        "i",
        "n",
        (dec38(F.col("n")) * dec38(F.col("y")) - dec38(F.col("s"))).alias("z"),
    )
    lags = spark.range(1, ACF_MAX_LAG + 1).select(F.col("id").alias("lag"))
    b = cent.select(
        F.col("event_type").alias("et_b"), F.col("i").alias("i_b"), F.col("z").alias("z_b")
    )
    num = (
        cent.crossJoin(F.broadcast(lags))
        .join(
            b,
            (F.col("et_b") == F.col("event_type"))
            & (F.col("i_b") == F.col("i") + F.col("lag")),
        )
        .groupBy("event_type", "lag", "n")
        .agg(F.sum(F.col("z") * F.col("z_b")).alias("num"))
    )
    den = cent.groupBy("event_type").agg(F.sum(F.col("z") * F.col("z")).alias("den"))
    return (
        num.join(F.broadcast(den), "event_type")
        .select(
            "event_type",
            "lag",
            F.col("n").alias("n_days"),
            round_big_int_ratio(F.col("num"), F.col("den")).alias("acf"),
        )
    )


# ---------------------------------------------------------------------------
# Auto mutual information of the quartile-binned daily counts
# ---------------------------------------------------------------------------

AMI_LAGS = 7


def _ami_oracle() -> str:
    from ..functions.detmath import sql_det_ln_steps

    return f"""
    WITH daily AS (
      SELECT CAST(ts AS DATE) AS d, CAST(count(*) AS HUGEINT) AS y
      FROM events GROUP BY 1
    ), idx AS (
      SELECT a.d, a.y, CAST(count(*) AS BIGINT) AS k
      FROM daily a JOIN daily b ON b.d <= a.d
      GROUP BY a.d, a.y
    ), vals AS (
      SELECT y, CAST(count(*) AS BIGINT) AS cnt FROM idx GROUP BY y
    ), cumv AS (
      SELECT a.y, CAST(coalesce(sum(b.cnt), 0) + a.cnt AS BIGINT) AS cle
      FROM vals a LEFT JOIN vals b ON b.y < a.y
      GROUP BY a.y, a.cnt
    ), nn AS (
      SELECT CAST(count(*) AS BIGINT) AS n FROM idx
    ), qs AS (
      SELECT
        (SELECT min(y) FROM cumv, nn WHERE 4 * cle >= n) AS q1,
        (SELECT min(y) FROM cumv, nn WHERE 2 * cle >= n) AS q2,
        (SELECT min(y) FROM cumv, nn WHERE 4 * cle >= 3 * n) AS q3
    ), binned AS (
      SELECT i.k,
             (CASE WHEN i.y > q.q1 THEN 1 ELSE 0 END
              + CASE WHEN i.y > q.q2 THEN 1 ELSE 0 END
              + CASE WHEN i.y > q.q3 THEN 1 ELSE 0 END) AS b
      FROM idx i, qs q
    ), lags AS (
      SELECT unnest(range(1, {AMI_LAGS + 1})) AS lag
    ), joint AS (
      SELECT l.lag, a.b AS bx, c.b AS by, CAST(count(*) AS BIGINT) AS cnt
      FROM lags l
      JOIN binned a ON true
      JOIN binned c ON c.k = a.k + l.lag
      GROUP BY l.lag, a.b, c.b
    ), tot AS (
      SELECT lag, CAST(sum(cnt) AS BIGINT) AS nl FROM joint GROUP BY lag
    ), marg AS (
      SELECT j.lag, j.bx, j.by, j.cnt, t.nl,
             rx.mx AS rx, ry.my AS ry
      FROM joint j
      JOIN tot t USING (lag)
      JOIN (SELECT lag, bx, CAST(sum(cnt) AS BIGINT) AS mx
            FROM joint GROUP BY lag, bx) rx ON rx.lag = j.lag AND rx.bx = j.bx
      JOIN (SELECT lag, by, CAST(sum(cnt) AS BIGINT) AS my
            FROM joint GROUP BY lag, by) ry ON ry.lag = j.lag AND ry.by = j.by
    ), ratio AS (
      SELECT lag, cnt, nl,
             CAST(cnt * nl AS DOUBLE) / CAST(rx * ry AS DOUBLE) AS rat
      FROM marg
    ), {sql_det_ln_steps('ratio', 'rat', 'lnr', as_double=True)}
    , terms AS (
      SELECT lag, nl,
             CAST(floor((CAST(cnt AS DOUBLE) / CAST(nl AS DOUBLE)) * lnr
                        * 1000000000.0::DOUBLE + 0.5) AS BIGINT) AS t_nano
      FROM lnr_rel
    )
    SELECT lag, CAST(max(nl) AS BIGINT) AS n_pairs,
           CAST(sum(t_nano) AS BIGINT) AS ami_nano
    FROM terms GROUP BY lag ORDER BY lag
    """


@register("events_ami_lag_profile", oracle=_ami_oracle())
def events_ami_lag_profile(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Auto mutual information profile (Fraser & Swinney 1986) of the
    quartile-binned daily event-count series at lags 1..7: the
    information (nats) the count L days ago carries about today's
    count, with no linearity assumption. The ACF shelf
    (``events_acf_daily_lags``/``events_pacf_durbin_levinson``) prices
    LINEAR memory; AMI prices ANY measurable dependence — the lag
    where AMI first collapses is the standard embedding-delay choice
    and the honest "how far back does state matter" answer for
    feature windows.

    Exactness: quartile thresholds are exact order statistics off the
    bounded distinct-count value grid (type-1 quantiles, integer
    comparisons only); joint/marginal counts at each lag are exact
    integers off the +lag calendar join; each cell's log-ratio uses
    the deterministic ``det_ln_dbl`` on an exactly-representable
    ratio of int64 products, and each term quantizes to nano-nats
    BEFORE the order-independent integer sum (the FP discipline).

    Scale shape: calendar-bounded — one fact scan partial-aggregates
    to daily counts; one value-grid cumulative (single-partition
    allowlist class, entry landed in this same commit); the lag fan
    is a bounded 7-way replicated equi-join; <= 16 cells per lag.
    7 rows out.
    """
    from ..functions.detmath import det_ln_dbl

    t = Tables(spark, sf_dir)
    daily = day_counts(t, dec38(F.count(F.lit(1))).alias("y"))
    idx = calendar_rank(daily).withColumn("k", F.col("k").cast("long"))
    vals = idx.groupBy("y").agg(F.count(F.lit(1)).cast("long").alias("cnt"))
    wv = Window.orderBy("y").rowsBetween(Window.unboundedPreceding, 0)
    cumv = vals.select("y", F.sum("cnt").over(wv).alias("cle"))
    nn = idx.agg(F.count(F.lit(1)).cast("long").alias("n"))
    cj = cumv.crossJoin(F.broadcast(nn))
    qs = cj.agg(
        F.min(F.when(4 * F.col("cle") >= F.col("n"), F.col("y"))).alias("q1"),
        F.min(F.when(2 * F.col("cle") >= F.col("n"), F.col("y"))).alias("q2"),
        F.min(F.when(4 * F.col("cle") >= 3 * F.col("n"), F.col("y"))).alias("q3"),
    )
    binned = idx.crossJoin(F.broadcast(qs)).select(
        "k",
        (
            F.when(F.col("y") > F.col("q1"), 1).otherwise(0)
            + F.when(F.col("y") > F.col("q2"), 1).otherwise(0)
            + F.when(F.col("y") > F.col("q3"), 1).otherwise(0)
        ).alias("b"),
    )
    lags = spark.range(1, AMI_LAGS + 1).select(F.col("id").cast("long").alias("lag"))
    a = binned.crossJoin(F.broadcast(lags)).select(
        "lag", (F.col("k") + F.col("lag")).alias("kt"), F.col("b").alias("bx")
    )
    c = binned.select(F.col("k").alias("kt"), F.col("b").alias("by"))
    joint = a.join(c, "kt").groupBy("lag", "bx", "by").agg(
        F.count(F.lit(1)).cast("long").alias("cnt")
    )
    tot = joint.groupBy("lag").agg(F.sum("cnt").cast("long").alias("nl"))
    rx = joint.groupBy("lag", "bx").agg(F.sum("cnt").cast("long").alias("mx"))
    ry = joint.groupBy("lag", "by").agg(F.sum("cnt").cast("long").alias("my"))
    marg = (
        joint.join(F.broadcast(tot), "lag")
        .join(F.broadcast(rx), ["lag", "bx"])
        .join(F.broadcast(ry), ["lag", "by"])
    )
    rat = (F.col("cnt") * F.col("nl")).cast("double") / (
        F.col("mx") * F.col("my")
    ).cast("double")
    terms = marg.select(
        "lag",
        "nl",
        F.floor(
            (F.col("cnt").cast("double") / F.col("nl").cast("double"))
            * det_ln_dbl(rat)
            * F.lit(1_000_000_000.0)
            + F.lit(0.5)
        )
        .cast("long")
        .alias("t_nano"),
    )
    return (
        terms.groupBy("lag")
        .agg(
            F.max("nl").alias("n_pairs"),
            F.sum("t_nano").cast("long").alias("ami_nano"),
        )
        .orderBy("lag")
    )


# ---------------------------------------------------------------------------
# Theil U forecast accuracy of the seasonal-naive weekly forecast
# ---------------------------------------------------------------------------


def _theil_u_oracle() -> str:
    return """
    WITH daily AS (
      SELECT CAST(ts AS DATE) AS d, CAST(count(*) AS BIGINT) AS y
      FROM events GROUP BY 1
    ), scored AS (
      SELECT a.y, b7.y AS y7, b1.y AS y1
      FROM daily a
      JOIN daily b7 ON b7.d = a.d - INTERVAL 7 DAY
      JOIN daily b1 ON b1.d = a.d - INTERVAL 1 DAY
    ), s AS (
      SELECT CAST(count(*) AS BIGINT) AS n,
             CAST(sum((y - y7) * CAST((y - y7) AS HUGEINT)) AS HUGEINT) AS sse7,
             CAST(sum((y - y1) * CAST((y - y1) AS HUGEINT)) AS HUGEINT) AS sse1,
             CAST(sum(y * CAST(y AS HUGEINT)) AS HUGEINT) AS syy,
             CAST(sum(y7 * CAST(y7 AS HUGEINT)) AS HUGEINT) AS sff
      FROM scored
    )
    SELECT n AS n_days_scored,
           CAST(sse7 AS BIGINT) AS sse_seasonal7,
           CAST(sse1 AS BIGINT) AS sse_naive1,
           CAST(floor(sqrt(CAST(sse7 AS DOUBLE))
                      / (sqrt(CAST(syy AS DOUBLE)) + sqrt(CAST(sff AS DOUBLE)))
                      * 1000000.0::DOUBLE + 0.5) AS BIGINT) AS u1_micro,
           CASE WHEN sse1 > 0 THEN
             CAST(floor(sqrt(CAST(sse7 AS DOUBLE) / CAST(sse1 AS DOUBLE))
                        * 1000000.0::DOUBLE + 0.5) AS BIGINT)
           END AS u2_micro
    FROM s
    """


@register("events_theil_u_forecast", oracle=_theil_u_oracle())
def events_theil_u_forecast(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Theil's U forecast-accuracy ratios (Theil 1966) for the
    seasonal-naive weekly forecast f_t = y_{t-7} of the daily event
    counts: U1 (bounded inequality coefficient,
    sqrt(SSE)/(sqrt(sum y^2) + sqrt(sum f^2))) and U2 against the
    random-walk benchmark (sqrt(SSE_seasonal / SSE_naive1)) — U2 < 1
    is the scale-free statement "the weekly pattern beats persistence",
    the go/no-go gate before any seasonal forecast ships.
    ``events_mase_seasonal_naive`` prices the same forecast in L1
    against the in-sample naive; the U pair prices it in L2 and
    against the walk, completing the accuracy-ratio shelf.

    Exactness: the scoring set is the exact calendar inner join (days
    with BOTH a t-7 and a t-1 predecessor, so numerator and benchmark
    cover identical days); all squared-error sums are exact
    HUGEINT/decimal(38,0); two sqrt/divide double expressions
    mirrored operation-for-operation, quantized at micro. Zero
    benchmark error NULLs U2.

    Scale shape: one fact scan partial-aggregates to the bounded
    calendar table; two calendar self-equi-joins; one scalar
    aggregate. 1 row out.
    """
    t = Tables(spark, sf_dir)
    daily = day_counts(t, F.count(F.lit(1)).cast("long").alias("y"))
    b7 = daily.select(F.date_add(F.col("day"), 7).alias("day"), F.col("y").alias("y7"))
    b1 = daily.select(F.date_add(F.col("day"), 1).alias("day"), F.col("y").alias("y1"))
    scored = daily.join(b7, "day").join(b1, "day")
    d7 = dec38(F.col("y") - F.col("y7"))
    d1 = dec38(F.col("y") - F.col("y1"))
    s = scored.agg(
        F.count(F.lit(1)).cast("long").alias("n"),
        F.sum(d7 * d7).alias("sse7"),
        F.sum(d1 * d1).alias("sse1"),
        F.sum(dec38(F.col("y")) * F.col("y")).alias("syy"),
        F.sum(dec38(F.col("y7")) * F.col("y7")).alias("sff"),
    )
    return s.select(
        F.col("n").alias("n_days_scored"),
        F.col("sse7").cast("long").alias("sse_seasonal7"),
        F.col("sse1").cast("long").alias("sse_naive1"),
        F.floor(
            F.sqrt(F.col("sse7").cast("double"))
            / (F.sqrt(F.col("syy").cast("double")) + F.sqrt(F.col("sff").cast("double")))
            * F.lit(1e6)
            + F.lit(0.5)
        )
        .cast("long")
        .alias("u1_micro"),
        F.when(
            F.col("sse1") > 0,
            F.floor(
                F.sqrt(F.col("sse7").cast("double") / F.col("sse1").cast("double"))
                * F.lit(1e6)
                + F.lit(0.5)
            ).cast("long"),
        ).alias("u2_micro"),
    )


# ---------------------------------------------------------------------------
# Discrete Bass diffusion fit on cumulative signups
# ---------------------------------------------------------------------------

BASS_SCALE_SHIFT = 6  # cumulative adopters scaled by >>6 for det headroom


def _bass_oracle() -> str:
    from ..functions.exact import sql_round_big_int_ratio

    sh = BASS_SCALE_SHIFT
    return f"""
    WITH daily AS (
      SELECT CAST(ts AS DATE) AS d, CAST(count(*) AS BIGINT) AS s
      FROM events WHERE event_type = 'signup' GROUP BY 1
    ), idx AS (
      SELECT a.d, a.s, CAST(count(*) AS BIGINT) AS k
      FROM daily a JOIN daily b ON b.d <= a.d
      GROUP BY a.d, a.s
    ), cum AS (
      SELECT k, s, CAST(sum(s) OVER (ORDER BY k) - s AS BIGINT) AS nprev
      FROM idx
    ), xy AS (
      SELECT s AS y, nprev >> {sh} AS x1,
             (nprev >> {sh}) * (nprev >> {sh}) AS x2
      FROM cum WHERE k > 1
    ), m AS (
      SELECT CAST(count(*) AS HUGEINT) AS n,
             CAST(sum(x1) AS HUGEINT) AS s1, CAST(sum(x2) AS HUGEINT) AS s2,
             CAST(sum(x1::HUGEINT * x1) AS HUGEINT) AS s11,
             CAST(sum(x1::HUGEINT * x2) AS HUGEINT) AS s12,
             CAST(sum(x2::HUGEINT * x2) AS HUGEINT) AS s22,
             CAST(sum(y) AS HUGEINT) AS sy,
             CAST(sum(x1::HUGEINT * y) AS HUGEINT) AS sy1,
             CAST(sum(x2::HUGEINT * y) AS HUGEINT) AS sy2
      FROM xy
    ), det AS (
      SELECT n,
             n*(s11*s22 - s12*s12) - s1*(s1*s22 - s12*s2)
               + s2*(s1*s12 - s11*s2) AS dd,
             sy*(s11*s22 - s12*s12) - s1*(sy1*s22 - s12*sy2)
               + s2*(sy1*s12 - s11*sy2) AS da,
             n*(sy1*s22 - sy2*s12) - sy*(s1*s22 - s12*s2)
               + s2*(s1*sy2 - sy1*s2) AS db,
             n*(s11*sy2 - s12*sy1) - s1*(s1*sy2 - sy1*s2)
               + sy*(s1*s12 - s11*s2) AS dc
      FROM m
    )
    SELECT CAST(n AS BIGINT) AS n_days,
           {sql_round_big_int_ratio('da', 'dd')} AS coef_a,
           {sql_round_big_int_ratio('db', 'dd')} AS coef_b,
           {sql_round_big_int_ratio('dc', 'dd')} AS coef_c
    FROM det WHERE dd <> 0
    """


def _ols2_sums() -> list[Column]:
    """The exact decimal sums ``n, s1, s2, s11, s12, s22, sy, sy1, sy2``
    of ``y ~ 1 + x1 + x2`` over a frame of ``(y, x1, x2)`` rows."""
    x1, x2, y = (dec38(F.col(c)) for c in ("x1", "x2", "y"))
    return [
        dec38(F.count(F.lit(1))).alias("n"),
        dec38(F.sum("x1")).alias("s1"),
        dec38(F.sum("x2")).alias("s2"),
        F.sum(x1 * x1).alias("s11"),
        F.sum(x1 * x2).alias("s12"),
        F.sum(x2 * x2).alias("s22"),
        dec38(F.sum("y")).alias("sy"),
        F.sum(x1 * y).alias("sy1"),
        F.sum(x2 * y).alias("sy2"),
    ]


def _cramer3() -> list[Column]:
    """``dd``, the determinant of the 3x3 normal equations over the
    ``_ols2_sums`` columns, and ``da``, ``db``, ``dc``, the Cramer
    numerators of the intercept and the two slopes."""
    n, s1, s2 = F.col("n"), F.col("s1"), F.col("s2")
    s11, s12, s22 = F.col("s11"), F.col("s12"), F.col("s22")
    sy, sy1, sy2 = F.col("sy"), F.col("sy1"), F.col("sy2")
    return [
        (
            n * (s11 * s22 - s12 * s12)
            - s1 * (s1 * s22 - s12 * s2)
            + s2 * (s1 * s12 - s11 * s2)
        ).alias("dd"),
        (
            sy * (s11 * s22 - s12 * s12)
            - s1 * (sy1 * s22 - s12 * sy2)
            + s2 * (sy1 * s12 - s11 * sy2)
        ).alias("da"),
        (
            n * (sy1 * s22 - sy2 * s12)
            - sy * (s1 * s22 - s12 * s2)
            + s2 * (s1 * sy2 - sy1 * s2)
        ).alias("db"),
        (
            n * (s11 * sy2 - s12 * sy1)
            - s1 * (s1 * sy2 - sy1 * s2)
            + sy * (s1 * s12 - s11 * s2)
        ).alias("dc"),
    ]


@register("events_bass_diffusion_fit", _bass_oracle())
def events_bass_diffusion_fit(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Discrete Bass diffusion fit of daily signups: regress new
    adopters S_t on cumulative prior adoption N_{t−1} and N_{t−1}² —
    the Bass identity S_t = pM + (q−p)N − (q/M)N², so the fitted
    (a, b, c) recover innovation p, imitation q and market size M.
    The adoption-curve member of the product-analytics family (the
    retention-decay fit models leaving; this models arriving).

    Exact path: a 3-regressor OLS solved by Cramer determinants over
    the 3×3 normal-equation matrix — every entry an exact integer sum,
    each coefficient one round_big_int_ratio of two 128-bit
    determinants. Cumulative adoption is pre-scaled by a FIXED >>6
    (identically in both engines) so the degree-6 determinant terms
    stay ≲ 10³² at sf1×10 instead of overflowing decimal(38) — a
    constant rescale of x1/x2 that only rescales b and c, documented
    in the coefficient semantics (b, c are per-64-adopters units).

    Scale shape: fact scan partial-aggregates to the ~30-row signup
    calendar; the rank comes from the house broadcast non-equi
    self-join; the single ordered cumulative runs over that bounded
    POST-AGGREGATION spine (same class as stats_ljung_box_daily's
    allowlist entry — here it collapses into the scalar aggregate).
    """
    from ..functions.exact import round_big_int_ratio

    sh = BASS_SCALE_SHIFT
    t = Tables(spark, sf_dir)
    daily = t.events.filter(F.col("event_type") == "signup").groupBy(
        F.to_date("ts").alias("day")
    ).agg(F.count(F.lit(1)).alias("s"))
    idx = calendar_rank(daily).withColumn("k", F.col("k").cast("long"))
    # nprev via a second bounded non-equi self-join (strictly-earlier
    # ranks), keeping the plan window-free
    ib = idx.select(F.col("k").alias("k_b"), F.col("s").alias("s_b"))
    cum = (
        idx.join(F.broadcast(ib), F.col("k_b") < F.col("k"), "left")
        .groupBy("k", "s")
        .agg(F.coalesce(F.sum("s_b"), F.lit(0)).alias("nprev"))
    )
    x1 = (F.col("nprev") / F.lit(1 << sh)).cast("long")
    xy = cum.filter(F.col("k") > 1).select(
        F.col("s").alias("y"), x1.alias("x1")
    ).withColumn("x2", F.col("x1") * F.col("x1"))
    m = xy.agg(*_ols2_sums())
    det = m.select(F.col("n").alias("n"), *_cramer3())
    return det.filter(F.col("dd") != 0).select(
        F.col("n").cast("long").alias("n_days"),
        round_big_int_ratio(F.col("da"), F.col("dd")).alias("coef_a"),
        round_big_int_ratio(F.col("db"), F.col("dd")).alias("coef_b"),
        round_big_int_ratio(F.col("dc"), F.col("dd")).alias("coef_c"),
    )


# ---------------------------------------------------------------------------
# Cross-correlation between the view and purchase daily series
# ---------------------------------------------------------------------------

CCF_MAX_LAG = 7
CCF_TYPE_X = "view"
CCF_TYPE_Y = "purchase"


def _ccf_oracle() -> str:
    from ..functions.exact import sql_round_big_int_ratio

    return f"""
    WITH days AS (
      SELECT DISTINCT CAST(ts AS DATE) AS d FROM events
    ), cx AS (
      SELECT CAST(ts AS DATE) AS d, CAST(count(*) AS BIGINT) AS c
      FROM events WHERE event_type = '{CCF_TYPE_X}' GROUP BY 1
    ), cy AS (
      SELECT CAST(ts AS DATE) AS d, CAST(count(*) AS BIGINT) AS c
      FROM events WHERE event_type = '{CCF_TYPE_Y}' GROUP BY 1
    ), filled AS (
      SELECT days.d, coalesce(cx.c, 0) AS x, coalesce(cy.c, 0) AS y
      FROM days LEFT JOIN cx ON cx.d = days.d LEFT JOIN cy ON cy.d = days.d
    ), idx AS (
      SELECT a.d, a.x, a.y, CAST(count(*) AS BIGINT) AS k
      FROM filled a JOIN filled b ON b.d <= a.d
      GROUP BY a.d, a.x, a.y
    ), tot AS (
      SELECT CAST(count(*) AS BIGINT) AS n,
             CAST(sum(x) AS BIGINT) AS sx, CAST(sum(y) AS BIGINT) AS sy
      FROM idx
    ), cent AS (
      SELECT i.k,
             t.n * i.x - t.sx AS zx,
             t.n * i.y - t.sy AS zy
      FROM idx i, tot t
    ), den AS (
      SELECT CAST(sum(zx::HUGEINT * zx) AS HUGEINT) AS zxx,
             CAST(sum(zy::HUGEINT * zy) AS HUGEINT) AS zyy
      FROM cent
    ), lags AS (
      SELECT CAST(unnest(range(-{CCF_MAX_LAG}, {CCF_MAX_LAG + 1})) AS BIGINT) AS l
    ), num AS (
      SELECT l.l AS lag, CAST(count(*) AS BIGINT) AS n_pairs,
             CAST(sum(a.zx::HUGEINT * b.zy) AS HUGEINT) AS num
      FROM cent a JOIN lags l ON true
      JOIN cent b ON b.k = a.k + l.l
      GROUP BY l.l
    )
    SELECT n.lag, n.n_pairs,
           CASE WHEN d.zxx > 0 AND d.zyy > 0 THEN
             {sql_round_big_int_ratio(
                 '(CASE WHEN n.num < 0 THEN -1 ELSE 1 END) * n.num * n.num',
                 'd.zxx * d.zyy')}
           END AS ccf_sq
    FROM num n, den d
    """


@register("events_ccf_types_lags", oracle=_ccf_oracle())
def events_ccf_types_lags(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Lagged cross-correlation between the zero-filled daily VIEW and
    PURCHASE count series at lags −7..+7 — does view traffic LEAD
    purchases (positive-lag peak) or trail it? The two-series
    complement of events_acf_daily_lags, and the classical lead-lag
    screen before any transfer-function / attribution model.

    CCF normalization needs √(Sxx·Syy), so to stay exact the query
    reports the SIGNED SQUARED cross-correlation sign(r)·r² =
    sign(num)·num²/(Zxx·Zyy) — a ratio of exact integers (centered
    values z = n·x − Σx, the ACF op's scaling), quantized once by
    round_big_int_ratio; |r| = √|ccf_sq| for display downstream.
    num² ≤ (n·z_max²)² ≈ 10²⁸ at sf1×10 — inside HUGEINT/decimal(38).

    Scale shape: the fact scan partial-aggregates per (type, day)
    BEFORE anything joins; the day spine and both series are
    calendar-bounded (~30 rows at every sf), zero-filled by left
    joins on the spine so silent gaps can't shrink the overlap; the
    rank comes from the house broadcast non-equi self-join over the
    POST-AGGREGATION spine, and each lag is a rank equi-join against
    the broadcast 15-row lag grid.
    """
    from ..functions.exact import round_big_int_ratio

    t = Tables(spark, sf_dir)
    filled = type_pair_days(t, CCF_TYPE_X, CCF_TYPE_Y)
    idx = calendar_rank(filled).withColumn("k", F.col("k").cast("long"))
    tot = idx.agg(
        F.count(F.lit(1)).alias("n"),
        F.sum("x").alias("sx"),
        F.sum("y").alias("sy"),
    )
    cent = idx.crossJoin(F.broadcast(tot)).select(
        "k",
        (F.col("n") * F.col("x") - F.col("sx")).alias("zx"),
        (F.col("n") * F.col("y") - F.col("sy")).alias("zy"),
    )
    den = cent.agg(
        F.sum(dec38(F.col("zx")) * dec38(F.col("zx"))).alias("zxx"),
        F.sum(dec38(F.col("zy")) * dec38(F.col("zy"))).alias("zyy"),
    )
    lags = F.explode(
        F.array(
            *[F.lit(l).cast("long") for l in range(-CCF_MAX_LAG, CCF_MAX_LAG + 1)]
        )
    ).alias("l")
    a = cent.select(F.col("k").alias("k_a"), F.col("zx").alias("zx_a")).select(
        "k_a", "zx_a", lags
    )
    b = cent.select(F.col("k").alias("k_b"), F.col("zy").alias("zy_b"))
    num = (
        a.join(b, F.col("k_b") == F.col("k_a") + F.col("l"))
        .groupBy(F.col("l").alias("lag"))
        .agg(
            F.count(F.lit(1)).alias("n_pairs"),
            F.sum(dec38(F.col("zx_a")) * dec38(F.col("zy_b"))).alias("num"),
        )
    )
    sign = F.when(F.col("num") < 0, F.lit(-1)).otherwise(F.lit(1)).cast(
        "decimal(38,0)"
    )
    return num.crossJoin(F.broadcast(den)).select(
        "lag",
        "n_pairs",
        F.when(
            (F.col("zxx") > 0) & (F.col("zyy") > 0),
            round_big_int_ratio(
                sign * F.col("num") * F.col("num"),
                F.col("zxx") * F.col("zyy"),
            ),
        ).alias("ccf_sq"),
    )


# ---------------------------------------------------------------------------
# Granger-style lag-1 regression comparison (view -> purchase)
# ---------------------------------------------------------------------------


def _granger_oracle() -> str:
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
    ), filled AS (
      SELECT days.d, coalesce(cx.c, 0) AS x, coalesce(cy.c, 0) AS y
      FROM days LEFT JOIN cx ON cx.d = days.d LEFT JOIN cy ON cy.d = days.d
    ), idx AS (
      SELECT a.d, a.x, a.y, CAST(count(*) AS BIGINT) AS k
      FROM filled a JOIN filled b ON b.d <= a.d
      GROUP BY a.d, a.x, a.y
    ), rows_ AS (
      SELECT a.y AS y, b.y AS x1, b.x AS x2
      FROM idx a JOIN idx b ON b.k = a.k - 1
    ), m AS (
      SELECT CAST(count(*) AS HUGEINT) AS n,
             CAST(sum(x1) AS HUGEINT) AS s1, CAST(sum(x2) AS HUGEINT) AS s2,
             CAST(sum(x1::HUGEINT * x1) AS HUGEINT) AS s11,
             CAST(sum(x1::HUGEINT * x2) AS HUGEINT) AS s12,
             CAST(sum(x2::HUGEINT * x2) AS HUGEINT) AS s22,
             CAST(sum(y) AS HUGEINT) AS sy,
             CAST(sum(x1::HUGEINT * y) AS HUGEINT) AS sy1,
             CAST(sum(x2::HUGEINT * y) AS HUGEINT) AS sy2,
             CAST(sum(y::HUGEINT * y) AS HUGEINT) AS syy
      FROM rows_
    ), fits AS (
      SELECT n, syy, sy, sy1, sy2,
             -- restricted: y ~ 1 + x1 (own lag only)
             n * s11 - s1 * s1 AS dr,
             (n * sy1 - s1 * sy) AS br_num,
             -- unrestricted 3x3 Cramer determinants
             n*(s11*s22 - s12*s12) - s1*(s1*s22 - s12*s2)
               + s2*(s1*s12 - s11*s2) AS dd,
             sy*(s11*s22 - s12*s12) - s1*(sy1*s22 - s12*sy2)
               + s2*(sy1*s12 - s11*sy2) AS da,
             n*(sy1*s22 - sy2*s12) - sy*(s1*s22 - s12*s2)
               + s2*(s1*sy2 - sy1*s2) AS db,
             n*(s11*sy2 - s12*sy1) - s1*(s1*sy2 - sy1*s2)
               + sy*(s1*s12 - s11*s2) AS dc
      FROM m
    ), ssr AS (
      -- centered R^2 identities in cleared-denominator integer space:
      -- restricted  R^2 = br_num^2 / (tss_n * dr)
      -- unrestricted R^2 = (n * beta'X'y * D - Sy^2 * D) / (tss_n * D)
      --   with beta*D = (da, db, dc)
      SELECT n,
             (n * syy - sy * sy) AS tss_n,
             br_num * br_num AS expl_r_scaled,
             dr, dd,
             n * (da * sy + db * sy1 + dc * sy2) - sy * sy * dd
               AS expl_u_scaled
      FROM fits
    )
    SELECT CAST(n AS BIGINT) AS n_pairs,
           {sql_round_big_int_ratio('expl_r_scaled', 'tss_n * dr')}
             AS r2_restricted,
           {sql_round_big_int_ratio('expl_u_scaled', 'tss_n * dd')}
             AS r2_unrestricted
    FROM ssr
    WHERE tss_n > 0 AND dr > 0 AND dd > 0
    """


@register("events_granger_lag1_test", _granger_oracle())
def events_granger_lag1_test(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Granger-style lag-1 predictability comparison: does yesterday's
    VIEW count improve the prediction of today's PURCHASE count beyond
    yesterday's purchases alone? Reports R² of the restricted model
    (purchases ~ own lag) and the unrestricted one (+ view lag) — the
    regression-based causality screen completing the lead-lag pair
    with events_ccf_types_lags (CCF is bivariate symmetric; Granger
    conditions on the own-lag).

    Exactness: both R² values are exact integer ratios. Restricted:
    R² = (nSxy − SxSy)²/((nSxx − Sx²)(nSyy − Sy²)). Unrestricted: from
    the 3×3 Cramer solution β·D = (Dα, Dβ1, Dβ2), explained sum of
    squares obeys R² = (n·βᵀX'y·D − Sy²·D²)/((nSyy − Sy²)·D²) — every
    term an exact 128-bit integer, one round_big_int_ratio each
    (|terms| ≲ 10³⁰ at sf1×10 over the 30-day grid). Zero-variance
    series empty the output identically on both engines.

    Scale shape: identical to the CCF op — per-(type, day) partial
    aggregation, calendar-bounded spine, broadcast rank join, lag-1
    rank equi-join; the regression is a scalar aggregate.
    """
    from ..functions.exact import round_big_int_ratio

    t = Tables(spark, sf_dir)
    filled = type_pair_days(t, "view", "purchase")
    idx = calendar_rank(filled).withColumn("k", F.col("k").cast("long"))
    ia = idx.select(F.col("k").alias("k_a"), F.col("y").alias("ya"))
    ib = idx.select(
        F.col("k").alias("k_b"), F.col("y").alias("x1"), F.col("x").alias("x2")
    )
    rows = ia.join(ib, F.col("k_b") == F.col("k_a") - 1).select(
        F.col("ya").alias("y"), "x1", "x2"
    )
    m = rows.agg(*_ols2_sums(), F.sum(dec38(F.col("y")) * dec38(F.col("y"))).alias("syy"))
    n, s1, sy = F.col("n"), F.col("s1"), F.col("sy")
    fits = m.select(
        n.alias("n"),
        F.col("syy").alias("syy"),
        sy.alias("sy"),
        (n * F.col("s11") - s1 * s1).alias("dr"),
        (n * F.col("sy1") - s1 * sy).alias("br_num"),
        *_cramer3(),
        F.col("sy1").alias("sy1v"),
        F.col("sy2").alias("sy2v"),
    )
    tss_n = fits["n"] * F.col("syy") - F.col("sy") * F.col("sy")
    bty_dd = (
        F.col("da") * F.col("sy")
        + F.col("db") * F.col("sy1v")
        + F.col("dc") * F.col("sy2v")
    )
    out = fits.select(
        F.col("n").cast("long").alias("n_pairs"),
        tss_n.alias("tss_n"),
        F.col("dr"),
        F.col("dd"),
        (F.col("br_num") * F.col("br_num")).alias("expl_r_scaled"),
        (fits["n"] * bty_dd - F.col("sy") * F.col("sy") * F.col("dd")).alias(
            "expl_u_scaled"
        ),
    )
    return out.filter(
        (F.col("tss_n") > 0) & (F.col("dr") > 0) & (F.col("dd") > 0)
    ).select(
        "n_pairs",
        round_big_int_ratio(
            F.col("expl_r_scaled"), F.col("tss_n") * F.col("dr")
        ).alias("r2_restricted"),
        round_big_int_ratio(
            F.col("expl_u_scaled"), F.col("tss_n") * F.col("dd")
        ).alias("r2_unrestricted"),
    )


# ---------------------------------------------------------------------------
# Pettitt change-point test on daily event counts
# ---------------------------------------------------------------------------


def _pettitt_oracle() -> str:
    return """
    WITH daily AS (
      SELECT event_type, CAST(ts AS DATE) AS d,
             CAST(count(*) AS BIGINT) AS v
      FROM events GROUP BY 1, 2
    ), vals AS (
      SELECT event_type, v, CAST(count(*) AS BIGINT) AS cnt
      FROM daily GROUP BY 1, 2
    ), rv AS (
      SELECT event_type, v, cnt,
             coalesce(sum(cnt) OVER (PARTITION BY event_type ORDER BY v
               ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0) AS cum_lt
      FROM vals
    ), ranked AS (
      SELECT d.event_type, d.d,
             2 * r.cum_lt + r.cnt + 1 AS r2
      FROM daily d JOIN rv r ON d.event_type = r.event_type AND d.v = r.v
    ), nn AS (
      SELECT event_type, CAST(count(*) AS BIGINT) AS n_days
      FROM ranked GROUP BY event_type
    ), u AS (
      SELECT r.event_type, r.d,
             sum(r.r2) OVER (PARTITION BY r.event_type ORDER BY r.d)
               - CAST(row_number() OVER (PARTITION BY r.event_type ORDER BY r.d)
                      AS BIGINT) * (n.n_days + 1) AS u2
      FROM ranked r JOIN nn n USING (event_type)
    ), mx AS (
      SELECT event_type, CAST(max(abs(u2)) AS BIGINT) AS k2
      FROM u GROUP BY event_type
    )
    SELECT m.event_type, n.n_days,
           CAST(m.k2 AS DOUBLE) / 2.0 AS k_stat,
           strftime(min(u.d), '%Y-%m-%d') AS change_date
    FROM mx m JOIN nn n USING (event_type)
    JOIN u ON u.event_type = m.event_type AND abs(u.u2) = m.k2
    GROUP BY m.event_type, n.n_days, m.k2
    """


@register("events_changepoint_pettitt", oracle=_pettitt_oracle())
def events_changepoint_pettitt(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Pettitt rank change-point test per event type: K = max_t |U_t|
    over the daily count series, with the earliest date attaining the
    maximum as the estimated change point — the nonparametric
    complement of ``events_cusum_changepoint`` (CUSUM assumes a mean
    scale; Pettitt is rank-based, so a level shift is detected
    identically under any monotone transform of volume).

    Identity used: with midranks, U_t = sum_{i<=t} R_i * 2/2 -
    t(n+1)/2 — doubled throughout (2R via the 2*cum+cnt+1 tie trick,
    as in Mann-Whitney/Kruskal-Wallis) so every intermediate is an
    exact integer and K halves only at display time. Both windows
    partition by event type over the CALENDAR-bounded daily table
    (never raw events): the rank window runs over distinct daily
    values, the cumulative over dates; the argmax date resolves by an
    exact integer equality join, min-date tie-break. Row-scaled work
    is one partial-aggregated scan.
    """
    t = Tables(spark, sf_dir)
    daily = type_day_counts(t, F.count(F.lit(1)).alias("v"))
    vals = daily.groupBy("event_type", "v").agg(F.count(F.lit(1)).alias("cnt"))
    wv = (
        Window.partitionBy("event_type")
        .orderBy("v")
        .rowsBetween(Window.unboundedPreceding, -1)
    )
    rv = vals.select(
        "event_type",
        "v",
        "cnt",
        F.coalesce(F.sum("cnt").over(wv), F.lit(0)).alias("cum_lt"),
    )
    ranked = daily.join(rv, ["event_type", "v"]).select(
        "event_type", "day", (2 * F.col("cum_lt") + F.col("cnt") + 1).alias("r2")
    )
    nn = ranked.groupBy("event_type").agg(F.count(F.lit(1)).alias("n_days"))
    wd = Window.partitionBy("event_type").orderBy("day")
    u = ranked.join(nn, "event_type").select(
        "event_type",
        "day",
        (
            F.sum("r2").over(wd.rowsBetween(Window.unboundedPreceding, 0))
            - F.row_number().over(wd).cast("long") * (F.col("n_days") + 1)
        ).alias("u2"),
    )
    mx = u.groupBy("event_type").agg(F.max(F.abs(F.col("u2"))).alias("k2"))
    out = (
        mx.join(nn, "event_type")
        .join(u, "event_type")
        .filter(F.abs(F.col("u2")) == F.col("k2"))
        .groupBy("event_type", "n_days", "k2")
        .agg(F.min("day").alias("change_d"))
    )
    return out.select(
        "event_type",
        "n_days",
        (F.col("k2").cast("double") / F.lit(2.0)).alias("k_stat"),
        F.date_format(F.col("change_d"), "yyyy-MM-dd").alias("change_date"),
    )


# ---------------------------------------------------------------------------
# Holt linear-trend smoothing of the daily series
# ---------------------------------------------------------------------------

HOLT_ALPHA = 0.5    # exactly representable binary fractions: the
HOLT_BETA = 0.25    # smoothing recurrences stay bit-exact trivially


def _holt_oracle() -> str:
    return f"""
    WITH RECURSIVE daily AS (
      SELECT event_type, CAST(ts AS DATE) AS d,
             CAST(CAST(sum(CAST(floor(value * 100.0 + 0.5) AS BIGINT)) AS BIGINT)
                  AS DOUBLE) AS y
      FROM events GROUP BY 1, 2
    ), idx AS (
      SELECT event_type, y,
             row_number() OVER (PARTITION BY event_type ORDER BY d) AS i,
             CAST(count(*) OVER (PARTITION BY event_type) AS BIGINT) AS n
      FROM daily
    ), rec AS (
      SELECT event_type, 1::BIGINT AS i, n, y AS level, 0.0::DOUBLE AS trend
      FROM idx WHERE i = 1
      UNION ALL
      SELECT r.event_type, r.i + 1, r.n,
             {HOLT_ALPHA!r} * x.y
               + {1.0 - HOLT_ALPHA!r} * (r.level + r.trend),
             {HOLT_BETA!r} * (({HOLT_ALPHA!r} * x.y
                               + {1.0 - HOLT_ALPHA!r} * (r.level + r.trend))
                              - r.level)
               + {1.0 - HOLT_BETA!r} * r.trend
      FROM rec r JOIN idx x ON x.event_type = r.event_type AND x.i = r.i + 1
    )
    SELECT event_type, n AS n_days,
           CAST(floor(level + 0.5) AS BIGINT) AS level_cents,
           CAST(floor(trend * 100.0 + 0.5) AS BIGINT) AS trend_cents_q2,
           CAST(floor((level + trend) + 0.5) AS BIGINT) AS forecast_cents
    FROM rec WHERE i = n
    """


@register("events_holt_linear_fit", oracle=_holt_oracle())
def events_holt_linear_fit(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Holt's linear-trend exponential smoothing over the daily revenue
    series per event type — level + trend state after a full pass, and
    the one-step-ahead forecast: the classical operational forecast
    (EWMA tracks level only; this tracks drift too).

    The recurrence is inherently sequential, so it runs where
    sequential is FREE: the corpus collapses to the bounded
    |event_types| x |days| series, which collects into a per-type
    ordered array and folds once through a runtime higher-order
    aggregate (level', trend' per step). Smoothing constants are exact
    binary fractions (0.5, 0.25), every update is a correctly-rounded
    double chain identical on both engines (the DuckDB twin is a
    recursive CTE executing the same arithmetic), and outputs quantize
    to integer cents. No window over raw rows, no driver loop.
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
        .agg(F.sum("c_row").cast("double").alias("y"))
    )
    series = daily.groupBy("event_type").agg(
        F.transform(
            F.sort_array(F.collect_list(F.struct("d", "y"))), lambda s: s["y"]
        ).alias("ys")
    )
    ys = F.col("ys")
    a, b = HOLT_ALPHA, HOLT_BETA
    init = F.struct(
        F.element_at(ys, 1).alias("level"), F.lit(0.0).alias("trend")
    )

    def step(acc, y):
        new_level = F.lit(a) * y + F.lit(1.0 - a) * (acc["level"] + acc["trend"])
        new_trend = F.lit(b) * (new_level - acc["level"]) + F.lit(1.0 - b) * acc[
            "trend"
        ]
        return F.struct(new_level.alias("level"), new_trend.alias("trend"))

    fit = F.aggregate(F.slice(ys, 2, F.size(ys)), init, step)
    return series.select(
        "event_type",
        F.size(ys).cast("long").alias("n_days"),
        F.floor(fit["level"] + F.lit(0.5)).cast("long").alias("level_cents"),
        F.floor(fit["trend"] * F.lit(100.0) + F.lit(0.5))
        .cast("long")
        .alias("trend_cents_q2"),
        F.floor((fit["level"] + fit["trend"]) + F.lit(0.5))
        .cast("long")
        .alias("forecast_cents"),
    )


# ---------------------------------------------------------------------------
# Wald–Wolfowitz runs test on the daily value series
# ---------------------------------------------------------------------------


def _runs_oracle() -> str:
    z = (
        "(CAST(n_runs AS DOUBLE) - (1.0 + 2.0 * n_above * n_below / (n_above + n_below)))"
        " / sqrt(2.0 * n_above * n_below * (2.0 * n_above * n_below - n_above - n_below)"
        " / ((1.0 * (n_above + n_below)) * (n_above + n_below) * (n_above + n_below - 1)))"
    )
    return f"""
    WITH daily AS (
      SELECT event_type, CAST(ts AS DATE) AS day,
             sum(CAST(floor(value * 1000000.0 + 0.5) AS BIGINT)) AS x
      FROM events GROUP BY 1, 2
    ), ranked AS (
      SELECT event_type, day, x,
             row_number() OVER (PARTITION BY event_type ORDER BY x, day) AS rn,
             count(*) OVER (PARTITION BY event_type) AS cnt
      FROM daily
    ), med AS (
      SELECT event_type, max(CASE WHEN rn = (cnt + 1) // 2 THEN x END) AS med
      FROM ranked GROUP BY event_type
    ), signs AS (
      SELECT d.event_type, d.day,
             CASE WHEN d.x > m.med THEN 1 ELSE 0 END AS s
      FROM daily d JOIN med m ON m.event_type = d.event_type
      WHERE d.x <> m.med
    ), runs AS (
      SELECT event_type, s,
             CASE WHEN s <> lag(s) OVER (PARTITION BY event_type ORDER BY day)
                  THEN 1 ELSE 0 END AS chg
      FROM signs
    ), a AS (
      SELECT event_type,
             CAST(count(*) AS BIGINT) AS n_eff,
             CAST(sum(s) AS BIGINT) AS n_above,
             CAST(count(*) - sum(s) AS BIGINT) AS n_below,
             CAST(sum(chg) + 1 AS BIGINT) AS n_runs
      FROM runs GROUP BY event_type)
    SELECT event_type, n_eff, n_above, n_below, n_runs,
           CASE WHEN n_above > 0 AND n_below > 0
                     AND 2.0 * n_above * n_below > n_above + n_below
                     AND n_above + n_below > 1 THEN
             CAST(floor(({z}) * 1000000.0 + 0.5) AS BIGINT) / 1000000.0
           END AS z
    FROM a
    """


@register("events_runs_test_daily", oracle=_runs_oracle())
def events_runs_test_daily(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Wald–Wolfowitz runs test per event type: is the daily value
    series' above/below-median sequence random, or does it trend/
    oscillate? (Too few runs = level persistence / drift; too many =
    alternation.) The independence audit that complements the CUSUM
    change-point and ACF queries on the same daily series.

    The median is the lower order statistic ((n+1)//2-th) from a
    per-type rank window — integer-exact, no percentile interpolation;
    tie days (x = median) are excluded per the standard construction.
    Runs count is a lag window over the calendar-bounded per-type
    series. n_above/n_below/n_runs are exact integers; z is one
    identical IEEE expression off them (sqrt is correctly rounded),
    NULL for degenerate one-sided series (fuzz hits this).
    """
    t = Tables(spark, sf_dir)
    daily = (
        t.events.select(
            "event_type",
            F.to_date(F.col("ts")).alias("day"),
            F.floor(F.col("value") * F.lit(1e6) + F.lit(0.5)).cast("long").alias("v_u"),
        )
        .groupBy("event_type", "day")
        .agg(F.sum("v_u").alias("x"))
    )
    wp = Window.partitionBy("event_type")
    ranked = daily.select(
        "event_type",
        "day",
        "x",
        F.row_number().over(wp.orderBy("x", "day")).alias("rn"),
        F.count(F.lit(1)).over(wp).alias("cnt"),
    )
    kth = (F.col("cnt") + 1 - (F.col("cnt") + 1) % 2) / 2
    med = ranked.groupBy("event_type").agg(
        F.max(F.when(F.col("rn") == kth.cast("long"), F.col("x"))).alias("med")
    )
    signs = (
        daily.join(F.broadcast(med), "event_type")
        .where(F.col("x") != F.col("med"))
        .select(
            "event_type", "day", F.when(F.col("x") > F.col("med"), 1).otherwise(0).alias("s")
        )
    )
    lag_s = F.lag("s").over(wp.orderBy("day"))
    runs = signs.select(
        "event_type",
        "s",
        F.when(F.col("s") != lag_s, 1).otherwise(0).alias("chg"),
    )
    a = runs.groupBy("event_type").agg(
        F.count(F.lit(1)).alias("n_eff"),
        F.sum("s").cast("long").alias("n_above"),
        (F.count(F.lit(1)) - F.sum("s")).cast("long").alias("n_below"),
        (F.sum("chg") + 1).cast("long").alias("n_runs"),
    )
    na, nb = F.col("n_above"), F.col("n_below")
    nn = na + nb
    z = (
        F.col("n_runs").cast("double")
        - (F.lit(1.0) + F.lit(2.0) * na * nb / nn)
    ) / F.sqrt(
        F.lit(2.0) * na * nb * (F.lit(2.0) * na * nb - na - nb)
        / ((F.lit(1.0) * nn) * nn * (nn - 1))
    )
    return a.select(
        "event_type",
        "n_eff",
        "n_above",
        "n_below",
        "n_runs",
        F.when(
            (na > 0) & (nb > 0) & (F.lit(2.0) * na * nb > nn) & (nn > 1),
            F.floor(z * F.lit(1e6) + F.lit(0.5)).cast("long") / F.lit(1e6),
        ).alias("z"),
    )


# ---------------------------------------------------------------------------
# Seasonal strength of hourly traffic per event type (hour-of-day eta^2)
# ---------------------------------------------------------------------------


def _seasonal_strength_oracle() -> str:
    return """
    WITH cells AS (
      SELECT event_type, CAST(ts AS DATE) AS d, extract(hour FROM ts) AS h,
             CAST(count(*) AS BIGINT) AS n_dh
      FROM events GROUP BY 1, 2, 3
    ), per_hour AS (
      SELECT event_type, h,
             CAST(count(*) AS BIGINT) AS c_h,
             CAST(sum(n_dh) AS BIGINT) AS s_h
      FROM cells GROUP BY 1, 2
    ), hterms AS (
      SELECT event_type,
             CAST(floor(CAST(s_h AS DOUBLE) * s_h / c_h * 1000000.0 + 0.5)
                  AS BIGINT) AS t_u
      FROM per_hour
    ), hsum AS (
      SELECT event_type, CAST(sum(t_u) AS BIGINT) AS sb_u
      FROM hterms GROUP BY event_type
    ), tot AS (
      SELECT event_type,
             CAST(count(*) AS BIGINT) AS c,
             CAST(sum(n_dh) AS BIGINT) AS t1,
             CAST(sum(n_dh::HUGEINT * n_dh) AS HUGEINT) AS t2
      FROM cells GROUP BY event_type
    )
    SELECT t.event_type, t.t1 AS n_events, t.c AS n_cells,
           CASE WHEN CAST(t.t2 AS DOUBLE)
                     - CAST(t.t1 AS DOUBLE) * t.t1 / t.c > 0.0 THEN
             CAST(floor((CAST(h.sb_u AS DOUBLE) / 1000000.0
                         - CAST(t.t1 AS DOUBLE) * t.t1 / t.c)
                        / (CAST(t.t2 AS DOUBLE)
                           - CAST(t.t1 AS DOUBLE) * t.t1 / t.c)
                        * 1000000.0 + 0.5) AS BIGINT) / 1000000.0
           END AS seasonal_strength
    FROM tot t JOIN hsum h USING (event_type)
    """


@register("events_seasonal_strength", oracle=_seasonal_strength_oracle())
def events_seasonal_strength(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Strength of the hour-of-day seasonality per event type: the
    share of hourly-cell count variance explained by the hour-of-day
    profile (one-way eta^2 of hour on (date, hour) cell counts; 0 =
    flat feed, ->1 = traffic fully determined by time of day) — the
    scalar companion of ``events_seasonal_hourly_baseline`` a monitor
    can threshold to decide whether the seasonal baseline is even
    worth subtracting.

    Identity used: SS_between/SS_total with SS_between = sum_h S_h^2 /
    C_h - T1^2/C and SS_total = T2 - T1^2/C, all from exact integer
    cell aggregates (observed cells only; absent hours are structural
    zeros a gap-fill would add — documented choice shared with the
    burstiness op). Per-hour quotients quantize half-up to micro units
    and sum as integers, so both engines add identical values in any
    order. Bounded domains end-to-end after one partial-aggregated
    scan: |types| x dates x 24 cells, then |types| x 24.
    """
    t = Tables(spark, sf_dir)
    cells = (
        t.events.select(
            "event_type", F.to_date("ts").alias("d"), F.hour("ts").alias("h")
        )
        .groupBy("event_type", "d", "h")
        .agg(F.count(F.lit(1)).alias("n_dh"))
    )
    per_hour = cells.groupBy("event_type", "h").agg(
        F.count(F.lit(1)).alias("c_h"), F.sum("n_dh").alias("s_h")
    )
    t_u = F.floor(
        F.col("s_h").cast("double") * F.col("s_h") / F.col("c_h") * F.lit(1e6)
        + F.lit(0.5)
    ).cast("long")
    hsum = per_hour.select("event_type", t_u.alias("t_u")).groupBy("event_type").agg(
        F.sum("t_u").alias("sb_u")
    )
    tot = cells.groupBy("event_type").agg(
        F.count(F.lit(1)).alias("c"),
        F.sum("n_dh").alias("t1"),
        F.sum(dec38(F.col("n_dh")) * F.col("n_dh")).alias("t2"),
    )
    j = tot.join(hsum, "event_type")
    t1d = F.col("t1").cast("double")
    grand = t1d * F.col("t1") / F.col("c")
    den = F.col("t2").cast("double") - grand
    num = F.col("sb_u").cast("double") / F.lit(1e6) - grand
    return j.select(
        "event_type",
        F.col("t1").alias("n_events"),
        F.col("c").alias("n_cells"),
        F.when(
            den > F.lit(0.0),
            F.floor(num / den * F.lit(1e6) + F.lit(0.5)).cast("long") / F.lit(1e6),
        ).alias("seasonal_strength"),
    )


# ---------------------------------------------------------------------------
# Parkinson high-low volatility of the hourly event intensity
# ---------------------------------------------------------------------------


def _parkinson_oracle() -> str:
    from ..functions.detmath import sql_det_ln_steps

    return f"""
    WITH hourly AS (
      SELECT CAST(ts AS DATE) AS d, date_part('hour', ts) AS h,
             CAST(count(*) AS BIGINT) AS c
      FROM events GROUP BY 1, 2
    ), hl AS (
      SELECT d, CAST(max(c) AS BIGINT) AS hi, CAST(min(c) AS BIGINT) AS lo,
             CAST(max(c) AS DOUBLE) AS hi_dbl, CAST(min(c) AS DOUBLE) AS lo_dbl
      FROM hourly GROUP BY d
    ), {sql_det_ln_steps('hl', 'hi_dbl', 'lnh')},
    {sql_det_ln_steps('lnh_rel', 'lo_dbl', 'lnl')},
    terms AS (
      SELECT CAST(count(*) AS HUGEINT) AS n,
             CAST(sum((lnh - lnl) * CAST(lnh - lnl AS HUGEINT)) AS HUGEINT)
               AS sd2
      FROM lnl_rel
    )
    SELECT CAST(n AS BIGINT) AS n_days,
           CAST({sql_halfup_div('sd2', f'4::HUGEINT * {LN2_MICRO} * n')}
                AS BIGINT) AS parkinson_var_micro
    FROM terms
    """


@register("events_parkinson_volatility_daily", _parkinson_oracle())
def events_parkinson_volatility_daily(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Parkinson (1980) range-based volatility of the hourly event
    intensity: sigma^2_P = (1 / (4 ln 2)) x mean over days of
    ln(high/low)^2, where high/low are each day's max/min hourly event
    counts (hours with events; the trading-day high-low convention).
    The close-to-close variance of the daily total sees only the
    day-level aggregate; the Parkinson estimator extracts ~5x more
    information per day from the intraday RANGE — the capacity
    planner's question ("how violently does load swing within a day")
    answered with one number per corpus.

    Exactness: hourly extremes are exact integers; ln(high/low) =
    det-ln(high) - det-ln(low) in micro-nats (integer); the squared
    terms sum as integers and divide once by 4 ln 2 via the shared
    LN2_MICRO literal (anchored in tests/test_roundthirteen7.py).

    Scale shape: one fact scan partial-aggregates to (day, hour)
    cells, then to per-day extremes (calendar-bounded); 1 row out.
    """
    from ..functions.detmath import det_ln_q

    t = Tables(spark, sf_dir)
    hourly = (
        t.events.select(F.to_date("ts").alias("d"), F.hour("ts").alias("h"))
        .groupBy("d", "h")
        .agg(F.count(F.lit(1)).cast("long").alias("c"))
    )
    hl = hourly.groupBy("d").agg(
        F.max("c").alias("hi"), F.min("c").alias("lo")
    )
    dterm = det_ln_q(F.col("hi").cast("double")) - det_ln_q(
        F.col("lo").cast("double")
    )
    terms = hl.select(dterm.alias("dln")).agg(
        dec38(F.count(F.lit(1))).alias("n"),
        F.sum(dec38(F.col("dln")) * F.col("dln")).alias("sd2"),
    )
    return terms.select(
        F.col("n").cast("long").alias("n_days"),
        halfup_div(
            F.col("sd2"),
            F.lit(4 * LN2_MICRO).cast("decimal(38,0)") * F.col("n"),
        )
        .cast("long")
        .alias("parkinson_var_micro"),
    )


# ---------------------------------------------------------------------------
# Hour-of-day entropy profile per event type (det-ln)
# ---------------------------------------------------------------------------

# ln(24) at dp=9 via the deterministic fixed-point ln — the identical
# constant both engines would compute; embedded as a literal.
_LN24_NANO = 3_178_053_830


def _hourly_entropy_oracle() -> str:
    from ..functions.detmath import sql_det_ln_steps
    from ..functions.exact import sql_round_big_int_ratio

    return f"""
    WITH hist AS (
      SELECT event_type, extract(hour FROM ts) AS hr,
             CAST(count(*) AS BIGINT) AS n_h
      FROM events GROUP BY 1, 2
    ), {sql_det_ln_steps('hist', 'n_h', 'ln_nh', 9)},
    tot AS (
      SELECT event_type, CAST(sum(n_h) AS BIGINT) AS n_events,
             CAST(count(*) AS BIGINT) AS n_active_hours,
             sum(n_h::HUGEINT * ln_nh) AS s_nln
      FROM ln_nh_rel GROUP BY event_type
    ), {sql_det_ln_steps('tot', 'n_events', 'ln_n', 9)}
    SELECT event_type, n_events, n_active_hours,
           {sql_round_big_int_ratio(
               'n_events::HUGEINT * ln_n - s_nln',
               'n_events::HUGEINT * 1000000000', 6)} AS entropy_nats,
           {sql_round_big_int_ratio(
               'n_events::HUGEINT * ln_n - s_nln',
               f'n_events::HUGEINT * {_LN24_NANO}', 6)} AS entropy_ratio
    FROM ln_n_rel
    """


@register("events_hourly_entropy_profile", oracle=_hourly_entropy_oracle())
def events_hourly_entropy_profile(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Shannon entropy of each event type's hour-of-day distribution
    (nats, plus the ratio to the ln(24) uniform maximum) — the
    "is this feed diurnal or flat" profile a stream monitor keys
    alerting thresholds on; near-0 ratio = single-hour spike traffic,
    near-1 = uniform.

    H = ln(N) - (1/N) sum_h n_h ln(n_h), evaluated with the
    deterministic fixed-point ln (detmath, dp=9) on the BOUNDED
    |types| x 24 histogram — never per event row (the §5e det-ln
    domain discipline); ln(24) is a compile-time constant from the
    same construction. All sums exact decimal; both outputs exact
    half-up ratios.
    """
    from ..functions.detmath import det_ln_q
    from ..functions.exact import round_big_int_ratio

    t = Tables(spark, sf_dir)
    hist = (
        t.events.select("event_type", F.hour("ts").alias("hr"))
        .groupBy("event_type", "hr")
        .agg(F.count(F.lit(1)).alias("n_h"))
    )
    ln_nh = hist.withColumn("ln_nh", det_ln_q(F.col("n_h"), 9))
    tot = ln_nh.groupBy("event_type").agg(
        F.sum("n_h").alias("n_events"),
        F.count(F.lit(1)).alias("n_active_hours"),
        F.sum(dec38(F.col("n_h")) * F.col("ln_nh")).alias("s_nln"),
    )
    out = tot.withColumn("ln_n", det_ln_q(F.col("n_events"), 9))
    num = dec38(F.col("n_events")) * F.col("ln_n") - F.col("s_nln")
    return out.select(
        "event_type",
        "n_events",
        "n_active_hours",
        round_big_int_ratio(num, dec38(F.col("n_events")) * F.lit(1_000_000_000), 6).alias(
            "entropy_nats"
        ),
        round_big_int_ratio(num, dec38(F.col("n_events")) * F.lit(_LN24_NANO), 6).alias(
            "entropy_ratio"
        ),
    )


# ---------------------------------------------------------------------------
# Hourly top-k active users (windowed group top-k)
# ---------------------------------------------------------------------------

HOURLY_TOPK = 3


@register(
    "events_hourly_topk_users",
    oracle=f"""
    WITH hourly AS (
      SELECT date_trunc('hour', ts) AS hour, user_id,
             CAST(count(*) AS BIGINT) AS n_events
      FROM events GROUP BY 1, 2
    )
    SELECT hour, user_id, n_events, rnk FROM (
      SELECT hour, user_id, n_events,
             CAST(row_number() OVER (PARTITION BY hour
                                     ORDER BY n_events DESC, user_id) AS BIGINT) AS rnk
      FROM hourly
    ) WHERE rnk <= {HOURLY_TOPK}
    """,
)
def events_hourly_topk_users(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Top-3 most active users per hour — the periodic-leaderboard
    shape (windowed group top-k) every ops dashboard renders.

    Scale: the (hour, user) pre-aggregate partial-aggregates map-side
    before its shuffle; the per-hour rank is a PARTITIONED window whose
    WindowGroupLimit keeps only k candidates per partition below the
    exchange — so the second shuffle carries <= k rows per (task,
    hour). Deterministic user_id tie-break. The same plan maintained
    incrementally is the mergeable-top-k MV (``agg_topk_mergeable``
    demonstrates the merge algebra).
    """
    t = Tables(spark, sf_dir)
    hourly = (
        t.events.select(F.date_trunc("hour", F.col("ts")).alias("hour"), "user_id")
        .groupBy("hour", "user_id")
        .agg(F.count(F.lit(1)).alias("n_events"))
    )
    w = Window.partitionBy("hour").orderBy(F.col("n_events").desc(), F.col("user_id"))
    return (
        hourly.withColumn("rnk", F.row_number().over(w).cast("long"))
        .filter(F.col("rnk") <= HOURLY_TOPK)
        .select("hour", "user_id", "n_events", "rnk")
    )


# ---------------------------------------------------------------------------
# Fano-factor burstiness curve across window widths
# ---------------------------------------------------------------------------

FANO_WINDOWS_H = (1, 6, 24, 168)


def _fano_oracle() -> str:
    hd = sql_halfup_div
    per_w = []
    for w in FANO_WINDOWS_H:
        per_w.append(
            f"""
      SELECT {w}::BIGINT AS window_h, bucket, CAST(count(*) AS HUGEINT) AS c
      FROM (SELECT epoch_us(ts) // {w * 3600 * 1000000} AS bucket FROM events)
      GROUP BY bucket"""
        )
    unions = " UNION ALL ".join(per_w)
    return f"""
    WITH cells AS ({unions}),
    s AS (
      SELECT window_h, CAST(count(*) AS HUGEINT) AS m,
             CAST(sum(c) AS HUGEINT) AS sc,
             CAST(sum(c * c) AS HUGEINT) AS scc
      FROM cells GROUP BY window_h
    )
    SELECT window_h, CAST(m AS BIGINT) AS n_buckets,
           CAST(sc AS BIGINT) AS n_events,
           CASE WHEN m > 1 AND sc > 0 THEN
             CAST({hd('1000000::HUGEINT * (m * scc - sc * sc)',
                      '(m - 1) * sc')} AS BIGINT)
           END AS fano_micro
    FROM s ORDER BY window_h
    """


@register("events_fano_factor_curve", _fano_oracle())
def events_fano_factor_curve(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Fano factor (variance-to-mean of bucket counts) of the event
    stream across window widths 1h/6h/24h/168h — the SCALE-CURVE form
    of burstiness: a Poisson process holds F = 1 at every width, while
    clustered arrivals push F up with widening windows, and the slope
    of the curve is the standard long-range-dependence fingerprint
    (complements ``events_interarrival_burstiness``, one number at the
    gap level, and ``stats_overdispersion_vmr``, one width).

    Exactness: occupied-bucket counts only (structural-zero policy
    shared with the burstiness op, documented there); F = (m sum c^2 -
    (sum c)^2) * m / (m^2 (m-1) sum c) is one half-up micro ratio of
    exact integers per width — sample variance over mean with the
    common denominators multiplied through.

    Scale shape: one scan per width fans out from a static 4-way
    union of row-local bucket projections, each partial-aggregating
    to its bucket table; nothing downstream exceeds bucket counts.
    """
    t = Tables(spark, sf_dir)
    cells = None
    for w in FANO_WINDOWS_H:
        part = (
            t.events.select(
                F.expr(f"unix_micros(ts) div {w * 3600 * 1000000}").alias("bucket")
            )
            .groupBy("bucket")
            .agg(F.count(F.lit(1)).alias("c"))
            .select(F.lit(w).cast("long").alias("window_h"), "bucket", "c")
        )
        cells = part if cells is None else cells.unionAll(part)
    s = cells.groupBy("window_h").agg(
        dec38(F.count(F.lit(1))).alias("m"),
        dec38(F.sum("c")).alias("sc"),
        F.sum(dec38(F.col("c")) * F.col("c")).alias("scc"),
    )
    m6 = F.lit(1_000_000).cast("decimal(38,0)")
    return s.select(
        "window_h",
        F.col("m").cast("long").alias("n_buckets"),
        F.col("sc").cast("long").alias("n_events"),
        F.when(
            (F.col("m") > 1) & (F.col("sc") > 0),
            # F = var/mean = (m scc - sc^2) / ((m-1) sc): an earlier
            # draft carried an extra m on both sides (F/m, parity green
            # — the twin-sided class); the replica's float var/mean
            # anchor caught it, the FOURTH such catch this round
            halfup_div(
                m6 * (F.col("m") * F.col("scc") - F.col("sc") * F.col("sc")),
                (F.col("m") - 1) * F.col("sc"),
            ),
        )
        .cast("long")
        .alias("fano_micro"),
    ).orderBy("window_h")


# ---------------------------------------------------------------------------
# Poisson rate test between the two halves of the time range
# ---------------------------------------------------------------------------


def _poisson_oracle() -> str:
    return """
    WITH e AS (
      SELECT event_type, epoch_us(ts) AS us FROM events
    ), b AS (SELECT min(us) + max(us) AS lohi FROM e),
    k AS (
      SELECT event_type,
             CAST(sum(CASE WHEN us * 2 <= lohi THEN 1 ELSE 0 END) AS BIGINT) AS k1,
             CAST(sum(CASE WHEN us * 2 > lohi THEN 1 ELSE 0 END) AS BIGINT) AS k2
      FROM e CROSS JOIN b GROUP BY event_type
    )
    SELECT event_type, k1, k2,
           CASE WHEN k1 + k2 > 0 THEN
             CAST(floor(CAST(k1 - k2 AS DOUBLE)
                        / sqrt(CAST(k1 + k2 AS DOUBLE))
                        * 1000000.0 + 0.5) AS BIGINT) / 1000000.0
           END AS z_rate
    FROM k
    """


@register("events_poisson_rate_test", oracle=_poisson_oracle())
def events_poisson_rate_test(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Poisson rate-change test per event type between the first and
    second half of the time range: under H0 (constant rate with equal
    exposure) k1 - k2 has variance k1 + k2, so z = (k1-k2)/sqrt(k1+k2)
    — the event-COUNT drift monitor beside dq_psi_value_drift's
    value-distribution drift (conditional-binomial normal
    approximation).

    One scan, one partial-aggregated conditional count per type, one
    correctly-rounded sqrt expression from exact integers.
    """
    t = Tables(spark, sf_dir)
    e = t.events.select("event_type", F.unix_micros(F.col("ts")).alias("us"))
    b = e.agg((F.min("us") + F.max("us")).alias("lohi"))
    k = (
        e.crossJoin(F.broadcast(b))
        .groupBy("event_type")
        .agg(
            F.sum(F.when(F.col("us") * 2 <= F.col("lohi"), 1).otherwise(0)).alias(
                "k1"
            ),
            F.sum(F.when(F.col("us") * 2 > F.col("lohi"), 1).otherwise(0)).alias(
                "k2"
            ),
        )
    )
    z = (
        F.floor(
            (F.col("k1") - F.col("k2")).cast("double")
            / F.sqrt((F.col("k1") + F.col("k2")).cast("double"))
            * F.lit(1e6)
            + F.lit(0.5)
        ).cast("long")
        / F.lit(1e6)
    )
    return k.select(
        "event_type",
        "k1",
        "k2",
        F.when(F.col("k1") + F.col("k2") > 0, z).alias("z_rate"),
    )


# ---------------------------------------------------------------------------
# Exponential-decay user value at a halflife ladder
# ---------------------------------------------------------------------------

DECAY_HALflIVES = (7, 14, 30)
DECAY_KCAP = 40


def _decay_oracle() -> str:
    from ..functions.exact import sql_round_big_int_ratio

    hl = ", ".join(str(h) for h in DECAY_HALflIVES)
    kc = DECAY_KCAP
    return f"""
    WITH ev AS (
      SELECT event_type, CAST(ts AS DATE) AS d,
             CAST(floor(value * 100 + 0.5) AS BIGINT) AS v
      FROM events WHERE value IS NOT NULL
    ), ref AS (SELECT max(d) AS ref_d FROM ev),
    hs AS (SELECT CAST(unnest([{hl}]) AS BIGINT) AS h),
    wts AS (
      SELECT e.event_type, h.h, e.v,
             (1::HUGEINT << ({kc} - least(datediff('day', e.d, r.ref_d) // h.h,
                                          {kc}))) AS w
      FROM ev e, ref r, hs h
    )
    SELECT event_type, h AS halflife_days,
           CAST(count(*) AS BIGINT) AS n_events,
           CAST(sum(v) AS BIGINT) AS raw_cents,
           {sql_round_big_int_ratio(
               'CAST(sum(w * v) AS HUGEINT)', f'1::HUGEINT << {kc}')}
             AS decayed_cents,
           {sql_round_big_int_ratio(
               'CAST(sum(w * v) AS HUGEINT)',
               f'(1::HUGEINT << {kc}) * sum(v)')} AS retention_ratio
    FROM wts GROUP BY event_type, h
    """


@register("events_decayed_value_halflife", oracle=_decay_oracle())
def events_decayed_value_halflife(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exponentially-decayed event value at a halflife ladder
    (7/14/30 days): weight = 2^(−⌊Δ/H⌋) with Δ = days before the
    corpus reference date (max event date) — the step-decay form
    whose weights are EXACT dyadic rationals, so the whole ladder is
    integer arithmetic: numerator Σ v·2^(K−k) with K = 40 and k
    capped at K (weights below 2^−40 clamp to the floor, identically
    on both engines), one shift per row, two round_big_int_ratio
    outputs (decayed cents and the retention ratio decayed/raw).
    Continuous e^(−λΔ) decay would be transcendental per row — the
    dyadic staircase keeps the engine-boundary contract while
    preserving the halflife semantics product analytics wants
    (recency-weighted LTV per event type; the decay twin of
    events_ewma_value, which smooths rather than ages).

    One partial-aggregated pass over events per (type, halflife); the
    3-element ladder and the 1-row reference date ride broadcasts.
    Σv·2^K ≤ 10¹⁷·2⁴⁰ ≈ 10²⁹ at sf1×10 — inside decimal(38)/HUGEINT.
    """
    from ..functions.exact import round_big_int_ratio

    kc = DECAY_KCAP
    t = Tables(spark, sf_dir)
    ev = t.events.filter(F.col("value").isNotNull()).select(
        "event_type",
        F.to_date("ts").alias("d"),
        F.floor(F.col("value") * 100 + F.lit(0.5)).cast("long").alias("v"),
    )
    ref = ev.agg(F.max("d").alias("ref_d"))
    hs = F.explode(
        F.array(*[F.lit(h).cast("long") for h in DECAY_HALflIVES])
    ).alias("h")
    k = F.least(
        F.floor(F.datediff(F.col("ref_d"), F.col("d")) / F.col("h")).cast("long"),
        F.lit(kc),
    )
    wts = (
        ev.crossJoin(F.broadcast(ref))
        .select("event_type", "v", "d", "ref_d", hs)
        .select("event_type", "h", "v", k.alias("k"))
        # pyspark's F.shiftleft only takes a literal shift amount; the
        # SQL form accepts a column expression
        .select(
            "event_type",
            "h",
            "v",
            F.expr(f"shiftleft(cast(1 as bigint), cast({kc} - k as int))").alias(
                "w"
            ),
        )
    )
    den_dec = F.lit(2 ** kc).cast("decimal(38,0)")
    return wts.groupBy("event_type", F.col("h").alias("halflife_days")).agg(
        F.count(F.lit(1)).alias("n_events"),
        F.sum("v").alias("raw_cents"),
        round_big_int_ratio(
            F.sum(dec38(F.col("w")) * dec38(F.col("v"))), den_dec
        ).alias("decayed_cents"),
        round_big_int_ratio(
            F.sum(dec38(F.col("w")) * dec38(F.col("v"))),
            den_dec * dec38(F.sum("v")),
        ).alias("retention_ratio"),
    )


# ---------------------------------------------------------------------------
# Inter-arrival burstiness per event type
# ---------------------------------------------------------------------------


def _burstiness_oracle() -> str:
    return """
    WITH ordered AS (
      SELECT event_type,
             CAST(floor(epoch(ts)) AS BIGINT)
               - lag(CAST(floor(epoch(ts)) AS BIGINT)) OVER (
                   PARTITION BY event_type ORDER BY ts, event_id) AS gap
      FROM events
    ), agg AS (
      SELECT event_type,
             CAST(count(*) AS HUGEINT) AS n,
             CAST(sum(gap) AS HUGEINT) AS s,
             CAST(sum(gap::HUGEINT * gap) AS HUGEINT) AS q
      FROM ordered WHERE gap IS NOT NULL GROUP BY 1
    )
    SELECT event_type,
           CAST(n AS BIGINT) AS n_gaps,
           CAST(((2000000::HUGEINT * s + n) // (2::HUGEINT * n)) AS BIGINT)
             / 1000000.0 AS mean_gap_s,
           CAST(floor((sqrt(CAST(n * q - s * s AS DOUBLE)) - CAST(s AS DOUBLE))
                      / (sqrt(CAST(n * q - s * s AS DOUBLE)) + CAST(s AS DOUBLE))
                      * 1000000.0 + 0.5) AS BIGINT) / 1000000.0 AS burstiness
    FROM agg
    ORDER BY event_type
    """


@register("events_interarrival_burstiness", oracle=_burstiness_oracle())
def events_interarrival_burstiness(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    """Goh-Barabási burstiness B = (σ−μ)/(σ+μ) of inter-arrival times
    per event type — B→−1 for clockwork arrivals, 0 for Poisson, →1
    for extreme burst trains; the shape statistic behind rate-limit
    and capacity planning that a plain mean gap hides.

    Exactness: gaps are integer epoch-second diffs; n·Σg²−S² is exact
    in decimal(38,0)/HUGEINT, and B simplifies so the group size n
    cancels: B = (sqrt(nΣg²−S²) − S)/(sqrt(nΣg²−S²) + S). The one
    decimal→double cast is correctly rounded on both engines, and
    sqrt/divide are IEEE-correct single roundings — bit-identical
    before the 1e-6 quantization.

    Scale: the lag window partitions by event_type (parallel across
    types; within a type the ordered pass is the semantics). At 100 TB
    with few giant types, pre-bucket by (type, day) and difference at
    day boundaries — the day-interior gaps dominate the moments.
    """
    t = Tables(spark, sf_dir)
    gaps = t.events.select("event_type", type_gap_s().alias("gap")).where(
        F.col("gap").isNotNull()
    )
    agg = gaps.groupBy("event_type").agg(
        F.count(F.lit(1)).alias("n"),
        F.sum("gap").alias("s"),
        F.sum(dec38(F.col("gap")) * dec38(F.col("gap"))).alias("q"),
    )
    from ..functions.exact import round_big_int_ratio

    var_num = (dec38(F.col("n")) * F.col("q")
               - dec38(F.col("s")) * dec38(F.col("s"))).cast("double")
    sd = F.sqrt(var_num)
    s_d = F.col("s").cast("double")
    b = (sd - s_d) / (sd + s_d)
    return agg.select(
        "event_type",
        F.col("n").alias("n_gaps"),
        round_big_int_ratio(dec38(F.col("s")), dec38(F.col("n"))).alias(
            "mean_gap_s"
        ),
        (F.floor(b * F.lit(1_000_000.0) + F.lit(0.5)).cast("long")
         / F.lit(1_000_000.0)).alias("burstiness"),
    ).orderBy("event_type")


# ---------------------------------------------------------------------------
# Goh-Barabási memory coefficient of inter-arrival times
# ---------------------------------------------------------------------------


def _memory_oracle() -> str:
    return """
    WITH ordered AS (
      SELECT event_type, ts, event_id,
             CAST(floor(epoch(ts)) AS BIGINT)
               - lag(CAST(floor(epoch(ts)) AS BIGINT)) OVER (
                   PARTITION BY event_type ORDER BY ts, event_id) AS gap
      FROM events
    ), lagged AS (
      SELECT event_type, gap AS y,
             lag(gap) OVER (PARTITION BY event_type
                            ORDER BY ts, event_id) AS x
      FROM ordered
    ), agg AS (
      SELECT event_type,
             CAST(count(*) AS HUGEINT) AS n,
             CAST(sum(x) AS HUGEINT) AS sx, CAST(sum(y) AS HUGEINT) AS sy,
             CAST(sum(x * CAST(y AS HUGEINT)) AS HUGEINT) AS sxy,
             CAST(sum(x * CAST(x AS HUGEINT)) AS HUGEINT) AS sxx,
             CAST(sum(y * CAST(y AS HUGEINT)) AS HUGEINT) AS syy
      FROM lagged WHERE x IS NOT NULL AND y IS NOT NULL GROUP BY 1
    )
    SELECT event_type, CAST(n AS BIGINT) AS n_pairs,
           CASE WHEN n * sxx - sx * sx > 0 AND n * syy - sy * sy > 0 THEN
             CAST(floor(abs(CAST(n * sxy - sx * sy AS DOUBLE)) * 1000000.0
                  / sqrt(CAST(n * sxx - sx * sx AS DOUBLE)
                         * CAST(n * syy - sy * sy AS DOUBLE)) + 0.5) AS BIGINT)
             * (CASE WHEN n * sxy - sx * sy < 0 THEN -1 ELSE 1 END)
           END AS memory_micro
    FROM agg ORDER BY event_type
    """


@register("events_interarrival_memory_coeff", oracle=_memory_oracle())
def events_interarrival_memory_coeff(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Goh-Barabási memory coefficient M per event type — the Pearson
    correlation of CONSECUTIVE inter-arrival times (Goh & Barabási
    2008): M > 0 means long gaps follow long gaps (congestion /
    session structure), M < 0 means alternation. Together with
    ``events_interarrival_burstiness`` this completes the (B, M)
    phase diagram that separates bursty-by-heavy-tail traffic (B high,
    M ~ 0) from bursty-by-correlation traffic (M high) — different
    capacity-planning answers.

    CAVEAT (documented, replica-pinned): the consecutive-gap pairing
    uses the SAME deterministic event order as the burstiness op
    (ts, event_id within type).

    Exactness: gaps are integer epoch-second diffs (the burstiness
    convention); all six sufficient statistics are exact integers; the
    correlation is ONE shape-matched IEEE double sequence (|num| *
    1e6 / sqrt(denx * deny), sign carried separately — the Dunn
    precedent), NULL-guarded for degenerate variance.

    Scale shape: two chained lag windows partitioned by event_type
    (hash-partitioned, parallel across types — the burstiness shape),
    then a per-type aggregate. |types| rows out.
    """
    t = Tables(spark, sf_dir)
    gaps = t.events.select("event_type", "ts", "event_id", type_gap_s().alias("y"))
    lagged = gaps.select(
        "event_type", "y", F.lag("y").over(type_order()).alias("x")
    ).where(F.col("x").isNotNull() & F.col("y").isNotNull())
    agg = lagged.groupBy("event_type").agg(
        dec38(F.count(F.lit(1))).alias("n"),
        F.sum(dec38(F.col("x"))).alias("sx"),
        F.sum(dec38(F.col("y"))).alias("sy"),
        F.sum(dec38(F.col("x")) * F.col("y")).alias("sxy"),
        F.sum(dec38(F.col("x")) * F.col("x")).alias("sxx"),
        F.sum(dec38(F.col("y")) * F.col("y")).alias("syy"),
    )
    num = F.col("n") * F.col("sxy") - F.col("sx") * F.col("sy")
    denx = F.col("n") * F.col("sxx") - F.col("sx") * F.col("sx")
    deny = F.col("n") * F.col("syy") - F.col("sy") * F.col("sy")
    r = F.floor(
        F.abs(num.cast("double")) * F.lit(1000000.0)
        / F.sqrt(denx.cast("double") * deny.cast("double"))
        + F.lit(0.5)
    ).cast("long") * F.when(num < 0, F.lit(-1)).otherwise(F.lit(1))
    return agg.select(
        "event_type",
        F.col("n").cast("long").alias("n_pairs"),
        F.when((denx > 0) & (deny > 0), r).alias("memory_micro"),
    ).orderBy("event_type")


# ---------------------------------------------------------------------------
# Inspection paradox: length-biased vs plain mean inter-arrival gap
# ---------------------------------------------------------------------------


def _paradox_oracle() -> str:
    hd = sql_halfup_div
    return f"""
    WITH ordered AS (
      SELECT event_type,
             CAST(floor(epoch(ts)) AS BIGINT)
               - lag(CAST(floor(epoch(ts)) AS BIGINT)) OVER (
                   PARTITION BY event_type ORDER BY ts, event_id) AS gap
      FROM events
    ), agg AS (
      SELECT event_type,
             CAST(count(*) AS HUGEINT) AS n,
             CAST(sum(gap) AS HUGEINT) AS s,
             CAST(sum(gap::HUGEINT * gap) AS HUGEINT) AS q
      FROM ordered WHERE gap IS NOT NULL GROUP BY 1
    )
    SELECT event_type,
           CAST(n AS BIGINT) AS n_gaps,
           CAST({hd('1000::HUGEINT * s', 'n')} AS BIGINT) AS mean_gap_milli,
           CASE WHEN s > 0 THEN
             CAST({hd('1000::HUGEINT * q', 's')} AS BIGINT)
           END AS length_biased_mean_milli,
           CASE WHEN s > 0 THEN
             CAST({hd('1000000::HUGEINT * n * q', 's * s')} AS BIGINT)
           END AS paradox_ratio_micro
    FROM agg ORDER BY event_type
    """


@register("events_inspection_paradox_interarrival", oracle=_paradox_oracle())
def events_inspection_paradox_interarrival(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    """Inspection-paradox audit of the inter-arrival gaps per event
    type: the plain mean gap E[L] vs the LENGTH-BIASED mean
    E[L^2]/E[L] — the gap an observer landing at a random instant
    actually sits in — and their ratio E[L^2]/E[L]^2 = 1 + CV^2 (the
    waiting-time/inspection paradox factor, Feller 1966). A ratio of
    1 is clockwork, 2 is exactly Poisson, and >> 2 means burst trains
    so heavy that "mean time between events" overstates real-time
    coverage by that factor — the honest correction for freshness
    SLAs and sampling-by-arrival designs.
    ``events_interarrival_burstiness`` reports the shape statistic B
    on the same gaps; this op reports the operational consequence.

    Exactness: gaps are integer epoch-second diffs off the
    type-partitioned ordered window (identical derivation shape to
    the burstiness op, per that family's convention); n, S = sum g,
    Q = sum g^2 are exact HUGEINT/decimal(38,0); all three outputs
    are single half-up divisions of exact integers (milli for the
    means, micro for the ratio). Degenerate all-zero-gap types NULL
    the biased mean and ratio.

    Scale shape: the lag window partitions by event_type (parallel
    across types); one grouped exact aggregate after; |types| rows.
    """
    t = Tables(spark, sf_dir)
    gaps = t.events.select("event_type", type_gap_s().alias("gap")).where(
        F.col("gap").isNotNull()
    )
    agg = gaps.groupBy("event_type").agg(
        dec38(F.count(F.lit(1))).alias("n"),
        F.sum(dec38(F.col("gap"))).alias("s"),
        F.sum(dec38(F.col("gap")) * F.col("gap")).alias("q"),
    )
    k1 = F.lit(1000).cast("decimal(38,0)")
    m6 = F.lit(1_000_000).cast("decimal(38,0)")
    return agg.select(
        "event_type",
        F.col("n").cast("long").alias("n_gaps"),
        halfup_div(k1 * F.col("s"), F.col("n")).cast("long").alias("mean_gap_milli"),
        F.when(
            F.col("s") > 0,
            halfup_div(k1 * F.col("q"), F.col("s")).cast("long"),
        ).alias("length_biased_mean_milli"),
        F.when(
            F.col("s") > 0,
            halfup_div(m6 * F.col("n") * F.col("q"), F.col("s") * F.col("s")).cast(
                "long"
            ),
        ).alias("paradox_ratio_micro"),
    ).orderBy("event_type")
