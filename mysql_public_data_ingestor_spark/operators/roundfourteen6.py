"""Round-14 direct registrations, batch AA (inequality geometry,
forecastability ratios, lagged information, and length-biased
sampling).

Six window-slot completions, each oracle-paired, replica-pinned and
plan-barred in ``tests/test_roundfourteen6.py`` (same-commit gate
rule; the ONE new single-partition allowlist entry —
``events_ami_lag_profile``, the bounded value-grid quantile class —
lands in ``tests/test_plans.py`` in the same commit). Every name was
checked against the full 587-name registry inventory before design
(the SCALE §5j.7 authoring rule):

* ``stats_lorenz_asymmetry`` — Lorenz asymmetry coefficient per
  nation (WHERE the inequality lives, completing the Gini/Lorenz
  shelf).
* ``stats_atkinson_index_nation`` — Atkinson welfare-inequality index
  at eps = 1/2 and 2 (both closed forms free of exp/pow).
* ``stats_hoover_index_nation`` — Hoover/Robin-Hood index (share of
  revenue that must move to equalize).
* ``events_theil_u_forecast`` — Theil U accuracy ratios of the
  seasonal-naive weekly forecast on daily event counts.
* ``events_ami_lag_profile`` — auto mutual information of the
  quartile-binned daily count series at lags 1..7.
* ``events_inspection_paradox_interarrival`` — length-biased vs
  plain mean inter-arrival gap per event type (the waiting-time
  paradox factor 1 + CV^2).

Reference parity note: the reference (Go ingestion pipeline,
``/root/reference/main.go``) has no analytics; these extend SURVEY
§2.C warehouse statistics / time-series & product analytics.

``stats_atkinson_index_nation``, ``stats_hoover_index_nation`` and
``stats_lorenz_asymmetry`` live in ``operators/stats_dist.py`` with the
other stats queries.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from ..functions.exact import dec38, halfup_div, sql_halfup_div
from ..registry import register
from ..tables import Tables
from .daily import calendar_rank

# ---------------------------------------------------------------------------
# 4. Theil U forecast accuracy of the seasonal-naive weekly forecast
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
    daily = t.events.groupBy(F.to_date("ts").alias("d")).agg(
        F.count(F.lit(1)).cast("long").alias("y")
    )
    b7 = daily.select(F.date_add(F.col("d"), 7).alias("d"), F.col("y").alias("y7"))
    b1 = daily.select(F.date_add(F.col("d"), 1).alias("d"), F.col("y").alias("y1"))
    scored = daily.join(b7, "d").join(b1, "d")
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
# 5. Auto mutual information of the quartile-binned daily counts
# ---------------------------------------------------------------------------

AMI_LAGS = 7
AMI_BINS = 4


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
    from pyspark.sql.window import Window

    from ..functions.detmath import det_ln_dbl

    t = Tables(spark, sf_dir)
    daily = t.events.groupBy(F.to_date("ts").alias("day")).agg(
        dec38(F.count(F.lit(1))).alias("y")
    )
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
# 6. Inspection paradox: length-biased vs plain mean inter-arrival gap
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
    from pyspark.sql.window import Window

    t = Tables(spark, sf_dir)
    w = Window.partitionBy("event_type").orderBy("ts", "event_id")
    gaps = t.events.select(
        "event_type",
        (F.unix_timestamp("ts") - F.lag(F.unix_timestamp("ts")).over(w)).alias("gap"),
    ).where(F.col("gap").isNotNull())
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
