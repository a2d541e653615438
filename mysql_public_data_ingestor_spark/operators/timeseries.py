"""Time-series resampling over ``events``: fixed-grid densification
(gap filling) with forward fill — the hypertable-rollup / downsample
shape a metrics pipeline needs.

Scale: the grid is generated *distributed* (per-key ``sequence`` +
``explode``, no driver-side date loop), the join back to observed
buckets is co-partitioned on (key, bucket), and the forward fill is a
per-key ordered window — one shuffle on the key, no global ordering
anywhere.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from ..functions.exact import exact_sum, round_int_ratio
from ..registry import register
from ..tables import Tables
from .events import type_transitions, user_order


@register(
    "events_hourly_gap_fill",
    oracle="""
    WITH hourly AS (
      SELECT user_id, date_trunc('hour', ts) AS hour_start,
             sum(CAST(floor(value * 1000000.0 + 0.5) AS BIGINT)) / 1000000.0 AS hour_value,
             count(*) AS n_events
      FROM events GROUP BY 1, 2
    ), bounds AS (
      SELECT user_id, min(hour_start) AS lo, max(hour_start) AS hi
      FROM hourly GROUP BY 1
    ), grid AS (
      SELECT user_id, unnest(generate_series(lo, hi, INTERVAL 1 HOUR)) AS hour_start
      FROM bounds
    ), joined AS (
      SELECT g.user_id, g.hour_start, h.hour_value,
             coalesce(h.n_events, 0) AS n_events
      FROM grid g LEFT JOIN hourly h USING (user_id, hour_start)
    )
    SELECT user_id, hour_start,
           last_value(hour_value IGNORE NULLS)
             OVER (PARTITION BY user_id ORDER BY hour_start
                   ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS filled_value,
           n_events
    FROM joined
    """,
)
def events_hourly_gap_fill(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Densify each user's event stream to a full hourly grid and
    forward-fill the last observed hourly value into the gaps.

    Plan: hourly rollup (one shuffle on (user, hour)) -> per-user
    bounds -> distributed grid via sequence/explode -> left join of
    grid to observations -> per-user ordered window with
    last(ignorenulls). The grid row count is sum over users of their
    active span — linear in keys x span, generated executor-side.
    """
    t = Tables(spark, sf_dir)
    hourly = (
        t.events.groupBy("user_id", F.date_trunc("hour", "ts").alias("hour_start"))
        .agg(
            exact_sum(F.col("value"), 6).alias("hour_value"),
            F.count(F.lit(1)).alias("n_events"),
        )
    )
    bounds = hourly.groupBy("user_id").agg(
        F.min("hour_start").alias("lo"), F.max("hour_start").alias("hi")
    )
    grid = bounds.select(
        "user_id",
        F.explode(F.sequence("lo", "hi", F.expr("interval 1 hour"))).alias("hour_start"),
    )
    joined = grid.join(hourly, ["user_id", "hour_start"], "left").select(
        "user_id",
        "hour_start",
        "hour_value",
        F.coalesce("n_events", F.lit(0)).alias("n_events"),
    )
    w = (
        Window.partitionBy("user_id")
        .orderBy("hour_start")
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    )
    return joined.select(
        "user_id",
        "hour_start",
        F.last("hour_value", ignorenulls=True).over(w).alias("filled_value"),
        "n_events",
    )


@register(
    "events_funnel_view_click_purchase",
    oracle="""
    WITH v AS (
      SELECT user_id, min(ts) AS v_ts FROM events
      WHERE event_type = 'view' GROUP BY user_id
    ), c AS (
      SELECT e.user_id, min(e.ts) AS c_ts
      FROM events e JOIN v ON e.user_id = v.user_id AND e.ts > v.v_ts
      WHERE e.event_type = 'click' GROUP BY e.user_id
    ), p AS (
      SELECT e.user_id, min(e.ts) AS p_ts
      FROM events e JOIN c ON e.user_id = c.user_id AND e.ts > c.c_ts
      WHERE e.event_type = 'purchase' GROUP BY e.user_id
    )
    SELECT count(*)                                   AS n_viewed,
           count(c_ts)                                AS n_clicked,
           count(p_ts)                                AS n_purchased,
           ((2*1000000*count(c_ts) + count(*)) // (2*count(*))) / 1000000.0
                                                      AS view_to_click,
           ((2*1000000*count(p_ts) + count(*)) // (2*count(*))) / 1000000.0
                                                      AS view_to_purchase
    FROM v LEFT JOIN c USING (user_id) LEFT JOIN p USING (user_id)
    """,
)
def events_funnel_view_click_purchase(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Ordered funnel: first view -> first subsequent click -> first
    subsequent purchase, per user, with conversion rates.

    The ORDER matters (each stage strictly after the previous one's
    first occurrence), which is what separates a funnel from three
    independent counts. Plan: three per-user aggs chained by
    co-partitioned joins on user_id — one shuffle key throughout, AQE
    reuses the partitioning; final rollup is a 1-row agg.
    """
    t = Tables(spark, sf_dir)
    ev = t.events.select("user_id", "event_type", "ts")
    v = (
        ev.filter(F.col("event_type") == "view")
        .groupBy("user_id")
        .agg(F.min("ts").alias("v_ts"))
    )
    c = (
        ev.filter(F.col("event_type") == "click")
        .join(v, "user_id")
        .filter(F.col("ts") > F.col("v_ts"))
        .groupBy("user_id")
        .agg(F.min("ts").alias("c_ts"))
    )
    p = (
        ev.filter(F.col("event_type") == "purchase")
        .join(c, "user_id")
        .filter(F.col("ts") > F.col("c_ts"))
        .groupBy("user_id")
        .agg(F.min("ts").alias("p_ts"))
    )
    funnel = v.join(c, "user_id", "left").join(p, "user_id", "left")
    return funnel.agg(
        F.count(F.lit(1)).alias("n_viewed"),
        F.count("c_ts").alias("n_clicked"),
        F.count("p_ts").alias("n_purchased"),
        round_int_ratio(F.count("c_ts"), F.count(F.lit(1))).alias("view_to_click"),
        round_int_ratio(F.count("p_ts"), F.count(F.lit(1))).alias("view_to_purchase"),
    )


@register(
    "events_weekly_retention",
    oracle="""
    WITH firsts AS (
      SELECT user_id, date_trunc('week', min(ts)) AS cohort_week
      FROM events GROUP BY user_id
    ), activity AS (
      SELECT DISTINCT e.user_id, f.cohort_week,
             CAST(datediff('day', f.cohort_week, date_trunc('week', e.ts)) / 7 AS BIGINT)
               AS week_offset
      FROM events e JOIN firsts f ON e.user_id = f.user_id
    )
    SELECT cohort_week, week_offset, count(*) AS n_active_users
    FROM activity
    GROUP BY cohort_week, week_offset
    """,
)
def events_weekly_retention(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Cohort retention: users grouped by first-activity week, counted
    in each subsequent week they were active.

    Classic retention-triangle shape: one agg for cohort assignment,
    one distinct over (user, week) — both shuffles on user_id /
    low-cardinality composites; no self-joins over raw events.
    """
    t = Tables(spark, sf_dir)
    firsts = t.events.groupBy("user_id").agg(
        F.date_trunc("week", F.min("ts")).alias("cohort_week")
    )
    activity = (
        t.events.select("user_id", F.date_trunc("week", "ts").alias("week"))
        .join(firsts, "user_id")
        .select(
            "user_id",
            "cohort_week",
            (F.datediff(F.to_date("week"), F.to_date("cohort_week")) / 7)
            .cast("long")
            .alias("week_offset"),
        )
        .distinct()
    )
    return activity.groupBy("cohort_week", "week_offset").agg(
        F.count(F.lit(1)).alias("n_active_users")
    )


@register(
    "events_activity_islands",
    oracle="""
    WITH days AS (
      SELECT DISTINCT user_id, CAST(date_trunc('day', ts) AS DATE) AS day
      FROM events
    ), anchored AS (
      SELECT user_id, day,
             day - CAST(row_number() OVER (PARTITION BY user_id ORDER BY day) AS INTEGER)
               AS anchor
      FROM days
    ), islands AS (
      SELECT user_id, anchor,
             count(*) AS streak_days,
             min(day) AS streak_start,
             max(day) AS streak_end
      FROM anchored GROUP BY user_id, anchor
    ), per_user AS (
      SELECT user_id,
             count(*) AS n_islands,
             CAST(sum(streak_days) AS BIGINT) AS n_active_days
      FROM islands GROUP BY user_id
    ), best AS (
      SELECT user_id, streak_days AS longest_streak_days,
             streak_start, streak_end,
             row_number() OVER (PARTITION BY user_id
                                ORDER BY streak_days DESC, streak_start) AS rnk
      FROM islands
    )
    SELECT p.user_id, p.n_active_days, p.n_islands,
           b.longest_streak_days,
           CAST(b.streak_start AS TIMESTAMP) AS streak_start,
           CAST(b.streak_end AS TIMESTAMP) AS streak_end
    FROM per_user p JOIN best b ON p.user_id = b.user_id AND b.rnk = 1
    """,
)
def events_activity_islands(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Gaps-and-islands: consecutive-active-day streaks per user.

    The classic SQL pattern (retention/engagement streaks) expressed
    shuffle-minimally: distinct active days, then the row_number anchor
    trick (``day - rn`` is constant within a consecutive run) groups
    each streak without any self-join or recursion. Every window and
    aggregation partitions by user_id — one shuffle key end to end, no
    SinglePartition stage.
    """
    t = Tables(spark, sf_dir)
    days = t.events.select(
        "user_id", F.to_date(F.date_trunc("day", F.col("ts"))).alias("day")
    ).distinct()
    wd = Window.partitionBy("user_id").orderBy("day")
    anchored = days.withColumn(
        "anchor", F.date_sub(F.col("day"), F.row_number().over(wd))
    )
    islands = anchored.groupBy("user_id", "anchor").agg(
        F.count(F.lit(1)).alias("streak_days"),
        F.min("day").alias("streak_start"),
        F.max("day").alias("streak_end"),
    )
    per_user = islands.groupBy("user_id").agg(
        F.count(F.lit(1)).alias("n_islands"),
        F.sum("streak_days").alias("n_active_days"),
    )
    wb = Window.partitionBy("user_id").orderBy(
        F.col("streak_days").desc(), "streak_start"
    )
    best = (
        islands.withColumn("rnk", F.row_number().over(wb))
        .filter(F.col("rnk") == 1)
        .select(
            "user_id",
            F.col("streak_days").alias("longest_streak_days"),
            "streak_start",
            "streak_end",
        )
    )
    return per_user.join(best, "user_id").select(
        "user_id",
        "n_active_days",
        "n_islands",
        "longest_streak_days",
        F.col("streak_start").cast("timestamp").alias("streak_start"),
        F.col("streak_end").cast("timestamp").alias("streak_end"),
    )


@register(
    "events_cumulative_distinct_users",
    oracle="""
    WITH firsts AS (
      SELECT event_type, user_id, min(date_trunc('day', ts)) AS first_day
      FROM events GROUP BY event_type, user_id
    ), daily_new AS (
      SELECT event_type, first_day AS day, count(*) AS new_users
      FROM firsts GROUP BY event_type, first_day
    )
    SELECT event_type, day, new_users,
           CAST(sum(new_users) OVER (PARTITION BY event_type ORDER BY day
                                     ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS BIGINT)
             AS cum_users
    FROM daily_new
    """,
)
def events_cumulative_distinct_users(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Cumulative distinct users per event type by day — the
    COUNT(DISTINCT) OVER workaround.

    Windowed distinct counts aren't directly expressible (Spark or
    ANSI); the scalable identity is: cumulative distinct = running sum
    of first occurrences. One aggregation to each user's first day, one
    to daily new-user counts, one per-type running sum — shuffle keys
    are (type, user) then (type, day), never a growing distinct state.
    """
    t = Tables(spark, sf_dir)
    firsts = t.events.groupBy("event_type", "user_id").agg(
        F.min(F.date_trunc("day", F.col("ts"))).alias("first_day")
    )
    daily = firsts.groupBy("event_type", F.col("first_day").alias("day")).agg(
        F.count(F.lit(1)).alias("new_users")
    )
    w = (
        Window.partitionBy("event_type")
        .orderBy("day")
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    )
    return daily.select(
        "event_type", "day", "new_users", F.sum("new_users").over(w).alias("cum_users")
    )


ZSCORE_LOOKBACK = 24  # trailing hours in the anomaly baseline
ZSCORE_THRESHOLD = 2.5


@register(
    "events_rolling_zscore",
    oracle=f"""
    WITH hourly AS (
      SELECT event_type, date_trunc('hour', ts) AS hour_start,
             count(*) AS n_events
      FROM events GROUP BY 1, 2
    ), windowed AS (
      SELECT event_type, hour_start, n_events,
             CAST(sum(n_events)            OVER w AS BIGINT) AS base_sum,
             CAST(sum(CAST(n_events AS HUGEINT) * n_events) OVER w AS BIGINT)
               AS base_sumsq,
             count(*)                      OVER w            AS base_n
      FROM hourly
      WINDOW w AS (PARTITION BY event_type ORDER BY hour_start
                   ROWS BETWEEN {ZSCORE_LOOKBACK} PRECEDING AND 1 PRECEDING)
    ), scored AS (
      SELECT event_type, hour_start, n_events,
             base_sum * 1.0 / base_n AS base_mean,
             sqrt((base_sumsq - base_sum * 1.0 * base_sum / base_n) / base_n)
               AS base_std
      FROM windowed WHERE base_n = {ZSCORE_LOOKBACK}
    )
    SELECT event_type, hour_start, n_events, base_mean,
           (n_events - base_mean) / base_std AS zscore
    FROM scored
    WHERE base_std > 0
      AND abs((n_events - base_mean) / base_std) >= {ZSCORE_THRESHOLD}
    """,
)
def events_rolling_zscore(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Rolling z-score anomaly detection on per-type hourly event
    volumes: flag hours whose count deviates >= 2.5 sigma from the
    trailing-24-observation baseline (baseline excludes the current
    hour).

    The mean and variance come from *integer* window sums (sum and
    sum-of-squares of counts), so the baseline is exact and
    order-independent; the only FP ops are the final mean/std/z
    divisions — an identical expression tree in any engine. One shuffle
    to the hourly rollup, one per-type ordered window; baseline state
    is O(lookback) per key, so the operator streams at any scale.
    """
    t = Tables(spark, sf_dir)
    hourly = t.events.groupBy(
        "event_type", F.date_trunc("hour", "ts").alias("hour_start")
    ).agg(F.count(F.lit(1)).alias("n_events"))

    w = (
        Window.partitionBy("event_type")
        .orderBy("hour_start")
        .rowsBetween(-ZSCORE_LOOKBACK, -1)
    )
    n = F.col("n_events")
    windowed = hourly.select(
        "event_type",
        "hour_start",
        "n_events",
        F.sum(n).over(w).cast("long").alias("base_sum"),
        # widen BEFORE multiplying: long*long wraps silently once an
        # hourly count passes ~3e9 (same discipline as stats_ttest_ab)
        F.sum(n.cast("decimal(38,0)") * n).over(w).cast("long").alias("base_sumsq"),
        F.count(F.lit(1)).over(w).alias("base_n"),
    ).where(F.col("base_n") == ZSCORE_LOOKBACK)

    mean = F.col("base_sum") * F.lit(1.0) / F.col("base_n")
    std = F.sqrt(
        (F.col("base_sumsq") - F.col("base_sum") * F.lit(1.0) * F.col("base_sum") / F.col("base_n"))
        / F.col("base_n")
    )
    scored = windowed.select(
        "event_type",
        "hour_start",
        "n_events",
        mean.alias("base_mean"),
        std.alias("base_std"),
    )
    z = (F.col("n_events") - F.col("base_mean")) / F.col("base_std")
    return (
        scored.where(F.col("base_std") > 0)
        .where(F.abs(z) >= ZSCORE_THRESHOLD)
        .select("event_type", "hour_start", "n_events", "base_mean", z.alias("zscore"))
    )


@register(
    "events_attribution_last_touch",
    oracle="""
    WITH ordered AS (
      SELECT event_id, user_id, ts, event_type,
             last_value(CASE WHEN event_type IN ('view', 'click')
                             THEN event_id END IGNORE NULLS) OVER w AS touch_event_id,
             last_value(CASE WHEN event_type IN ('view', 'click')
                             THEN event_type END IGNORE NULLS) OVER w AS touch_type,
             last_value(CASE WHEN event_type IN ('view', 'click')
                             THEN ts END IGNORE NULLS) OVER w AS touch_ts
      FROM events
      WINDOW w AS (PARTITION BY user_id ORDER BY ts, event_id
                   ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING)
    )
    SELECT event_id AS purchase_event_id, user_id, ts AS purchase_ts,
           touch_event_id, touch_type,
           epoch_us(ts) - epoch_us(touch_ts) AS us_since_touch
    FROM ordered
    WHERE event_type = 'purchase' AND touch_event_id IS NOT NULL
    """,
)
def events_attribution_last_touch(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Last-touch attribution: for every purchase, the most recent
    preceding view/click by the same user, with the exact microsecond
    gap.

    The marketing-attribution primitive. One per-user ordered window
    with conditional ``last(..., ignorenulls)`` — no self-join, no
    as-of join machinery; the frame ends at 1 PRECEDING so a purchase
    never attributes to itself. Total order within a user is
    (ts, event_id) so ties can't flip engines. The gap is integer
    microseconds (exact); timestamps never pass through FP.
    """
    t = Tables(spark, sf_dir)
    w = user_order().rowsBetween(Window.unboundedPreceding, -1)
    is_touch = F.col("event_type").isin("view", "click")
    touched = t.events.select(
        "event_id",
        "user_id",
        "ts",
        "event_type",
        F.last(F.when(is_touch, F.col("event_id")), ignorenulls=True)
        .over(w)
        .alias("touch_event_id"),
        F.last(F.when(is_touch, F.col("event_type")), ignorenulls=True)
        .over(w)
        .alias("touch_type"),
        F.last(F.when(is_touch, F.col("ts")), ignorenulls=True)
        .over(w)
        .alias("touch_ts"),
    )
    return (
        touched.where((F.col("event_type") == "purchase") & F.col("touch_event_id").isNotNull())
        .select(
            F.col("event_id").alias("purchase_event_id"),
            "user_id",
            F.col("ts").alias("purchase_ts"),
            "touch_event_id",
            "touch_type",
            (F.unix_micros("ts") - F.unix_micros("touch_ts")).alias("us_since_touch"),
        )
    )


@register(
    "events_session_window_builtin",
    oracle="""
    WITH flagged AS (
      SELECT user_id, ts, event_id,
             CASE WHEN lag(ts) OVER w IS NULL
                    OR epoch_us(ts) - epoch_us(lag(ts) OVER w) >= 30 * 60000000
                  THEN 1 ELSE 0 END AS is_new
      FROM events
      WINDOW w AS (PARTITION BY user_id ORDER BY ts, event_id)
    ), sessions AS (
      SELECT user_id, ts,
             CAST(sum(is_new) OVER (PARTITION BY user_id ORDER BY ts, event_id
                               ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS BIGINT)
               AS sid
      FROM flagged
    )
    SELECT user_id,
           min(ts) AS session_start,
           max(ts) + INTERVAL 30 MINUTE AS session_end,
           count(*) AS n_events
    FROM sessions
    GROUP BY user_id, sid
    """,
)
def events_session_window_builtin(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Sessionization via the engine-native ``session_window`` grouping
    (30-minute inactivity gap) — the built-in twin of the manual
    lag/flag/sum pipeline in ``events_sessionization``.

    ``session_window`` merges per-key overlapping gap-windows inside
    the aggregation operator itself: one shuffle on the user key, no
    analytic-window pass, and the identical operator works unchanged in
    Structured Streaming with state eviction. The window's ``end`` is
    by definition last-event + gap; the oracle mirrors that.

    Semantics note: the built-in closes a session when the gap is
    >= the duration (a new event exactly at the boundary starts a new
    session), hence the oracle's ``>=``.
    """
    t = Tables(spark, sf_dir)
    return (
        t.events.groupBy("user_id", F.session_window("ts", "30 minutes").alias("w"))
        .agg(F.count(F.lit(1)).alias("n_events"))
        .select(
            "user_id",
            F.col("w.start").alias("session_start"),
            F.col("w.end").alias("session_end"),
            "n_events",
        )
    )


WAU_WINDOW_DAYS = 7


@register(
    "events_rolling_active_users",
    oracle=f"""
    WITH user_days AS (
      SELECT DISTINCT user_id, date_trunc('day', ts) AS day FROM events
    ), contrib AS (
      SELECT DISTINCT user_id, day + INTERVAL (off) DAY AS day
      FROM user_days, unnest(range(0, {WAU_WINDOW_DAYS})) AS t(off)
    ), dau AS (
      SELECT day, CAST(count(*) AS BIGINT) AS dau FROM user_days GROUP BY day
    ), wau AS (
      SELECT day, CAST(count(*) AS BIGINT) AS wau FROM contrib GROUP BY day
    )
    SELECT d.day, d.dau, w.wau
    FROM dau d JOIN wau w USING (day)
    """,
)
def events_rolling_active_users(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Rolling engagement counts: per day, exact DAU and trailing-7-day
    WAU (days with no DAU row are excluded — they have no anchor in the
    fixture's dense stream).

    Windowed COUNT(DISTINCT) doesn't exist; the scalable identity is
    contribution-explode: each (user, active-day) pair contributes to
    the {WAU_WINDOW_DAYS} calendar days whose trailing window covers
    it, then WAU is a plain distinct-count per day. The explode factor
    is window/granularity (7) — constant — and both distincts shuffle
    (user, day) pairs, never raw events. The same shape gives MAU with
    a 30-day range.
    """
    t = Tables(spark, sf_dir)
    user_days = t.events.select(
        "user_id", F.date_trunc("day", "ts").alias("day")
    ).distinct()
    contrib = (
        user_days.select(
            "user_id",
            F.explode(
                F.sequence(F.lit(0), F.lit(WAU_WINDOW_DAYS - 1))
            ).alias("off"),
            "day",
        )
        .select(
            "user_id",
            (F.col("day") + F.make_dt_interval(F.col("off"))).alias("day"),
        )
        .distinct()
    )
    dau = user_days.groupBy("day").agg(F.count(F.lit(1)).alias("dau"))
    wau = contrib.groupBy("day").agg(F.count(F.lit(1)).alias("wau"))
    return dau.join(wau, "day").select("day", "dau", "wau")


@register(
    "events_user_path_transitions",
    oracle="""
    WITH seq AS (
      SELECT user_id, event_type,
             lag(event_type) OVER (PARTITION BY user_id ORDER BY ts, event_id)
               AS prev_type
      FROM events
    ), trans AS (
      SELECT prev_type AS from_type, event_type AS to_type,
             CAST(count(*) AS BIGINT) AS n
      FROM seq WHERE prev_type IS NOT NULL
      GROUP BY 1, 2
    ), totals AS (
      SELECT from_type, CAST(sum(n) AS BIGINT) AS n_from FROM trans GROUP BY 1
    )
    SELECT t.from_type, t.to_type, t.n,
           ((2*1000000*t.n + tt.n_from) // (2*tt.n_from)) / 1000000.0 AS p
    FROM trans t JOIN totals tt USING (from_type)
    """,
)
def events_user_path_transitions(spark: SparkSession, sf_dir: str) -> DataFrame:
    """First-order Markov transition matrix of user behavior: for each
    ordered pair of consecutive event types within a user's stream, the
    count and conditional probability P(next | prev) — the product-
    analytics path model (and the input to behavioral anomaly scoring).

    One shuffle on user_id for the lag window, then aggregation on a
    key bounded by |event_type|^2 — independent of event volume. The
    per-user ordering is (ts, event_id) so ties can't reorder between
    engines or runs; probabilities are a single integer division.
    """
    t = Tables(spark, sf_dir)
    trans = type_transitions(t)
    totals = trans.groupBy("from_type").agg(F.sum("n").alias("n_from"))
    return trans.join(totals, "from_type").select(
        "from_type",
        "to_type",
        "n",
        round_int_ratio(F.col("n"), F.col("n_from")).alias("p"),
    )


# Truncated-EWMA constants: 8 lag terms of alpha * (1-alpha)^j. The
# weights are Python doubles embedded as literals in BOTH plans, so the
# weighted sum is the same FP expression tree (left-associated adds) in
# both engines.
EWMA_ALPHA = 0.3
EWMA_TERMS = 8
_EWMA_W = [EWMA_ALPHA * (1.0 - EWMA_ALPHA) ** j for j in range(EWMA_TERMS)]


def _ewma_oracle() -> str:
    num = " + ".join(
        f"coalesce({'value' if j == 0 else f'lag(value, {j}) OVER w'}, 0.0) * {w!r}"
        for j, w in enumerate(_EWMA_W)
    )
    den = " + ".join(
        f"(CASE WHEN {'value' if j == 0 else f'lag(value, {j}) OVER w'} IS NULL "
        f"THEN 0.0 ELSE {w!r} END)"
        for j, w in enumerate(_EWMA_W)
    )
    return f"""
    SELECT event_id, user_id, ts, value,
           round(({num}) / ({den}), 6) AS ewma
    FROM events
    WINDOW w AS (PARTITION BY user_id ORDER BY ts, event_id)
    """


@register("events_ewma_value", oracle=_ewma_oracle())
def events_ewma_value(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Truncated exponentially-weighted moving average of ``value`` per
    user — the smoothing primitive behind anomaly baselines and metric
    dashboards.

    The textbook EWMA is a recursion (state = f(previous state)), which
    neither engine's windows express; truncating at 8 terms (weight
    tail < 6% of mass at alpha=0.3) turns it into a fixed weighted sum
    of lags — one shuffle on user_id, no state, no UDF, and partial
    windows renormalize by the weights actually present. The same
    unrolling is how you'd write it over 100 TB: the window frame is
    O(TERMS) per row regardless of history length.
    """
    from functools import reduce
    from operator import add

    t = Tables(spark, sf_dir)
    w = user_order()
    lags = [
        F.col("value") if j == 0 else F.lag("value", j).over(w) for j in range(EWMA_TERMS)
    ]
    num = reduce(add, [F.coalesce(lag, F.lit(0.0)) * F.lit(wt) for lag, wt in zip(lags, _EWMA_W)])
    den = reduce(
        add,
        [F.when(lag.isNull(), F.lit(0.0)).otherwise(F.lit(wt)) for lag, wt in zip(lags, _EWMA_W)],
    )
    return t.events.select(
        "event_id", "user_id", "ts", "value", F.round(num / den, 6).alias("ewma")
    )


@register(
    "events_attribution_position_based",
    oracle="""
    WITH assigned AS (
      SELECT event_id, user_id, ts, event_type,
             first_value(CASE WHEN event_type = 'purchase' THEN event_id END IGNORE NULLS)
               OVER (PARTITION BY user_id ORDER BY ts, event_id
                     ROWS BETWEEN 1 FOLLOWING AND UNBOUNDED FOLLOWING)
               AS purchase_event_id
      FROM events
    ), touches AS (
      SELECT user_id, purchase_event_id, event_id AS touch_event_id, ts
      FROM assigned
      WHERE event_type IN ('view', 'click') AND purchase_event_id IS NOT NULL
    ), ranked AS (
      SELECT user_id, purchase_event_id, touch_event_id,
             row_number() OVER (PARTITION BY user_id, purchase_event_id
                                ORDER BY ts, touch_event_id) AS pos,
             count(*)   OVER (PARTITION BY user_id, purchase_event_id) AS n_touches
      FROM touches
    )
    SELECT purchase_event_id, touch_event_id, user_id,
           CAST(pos AS BIGINT) AS pos, CAST(n_touches AS BIGINT) AS n_touches,
           round(CASE WHEN n_touches = 1 THEN 1.0
                      WHEN n_touches = 2 THEN 0.5
                      WHEN pos = 1 OR pos = n_touches THEN 0.4
                      ELSE 0.2 / (n_touches - 2) END, 6) AS credit
    FROM ranked
    """,
)
def events_attribution_position_based(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Position-based (U-shaped) multi-touch attribution: every
    view/click attributes to the user's NEXT purchase; within each
    purchase's touch sequence the first and last touches get 40%
    credit each and the middles split the remaining 20%.

    Complements ``events_attribution_last_touch`` (single-touch): the
    assignment is one forward-looking conditional window (no
    self-join), the credit split one backward ranking window — two
    shuffles total, both on user-prefixed keys, so a 100 TB event log
    never builds a touches x purchases join.
    """
    t = Tables(spark, sf_dir)
    w_fwd = user_order().rowsBetween(1, Window.unboundedFollowing)
    assigned = t.events.select(
        "event_id",
        "user_id",
        "ts",
        "event_type",
        F.first(
            F.when(F.col("event_type") == "purchase", F.col("event_id")), ignorenulls=True
        )
        .over(w_fwd)
        .alias("purchase_event_id"),
    )
    touches = assigned.where(
        F.col("event_type").isin("view", "click") & F.col("purchase_event_id").isNotNull()
    ).select("user_id", "purchase_event_id", F.col("event_id").alias("touch_event_id"), "ts")
    w_grp = Window.partitionBy("user_id", "purchase_event_id")
    ranked = touches.select(
        "user_id",
        "purchase_event_id",
        "touch_event_id",
        F.row_number().over(w_grp.orderBy("ts", "touch_event_id")).cast("long").alias("pos"),
        F.count(F.lit(1)).over(w_grp).cast("long").alias("n_touches"),
    )
    credit = (
        F.when(F.col("n_touches") == 1, F.lit(1.0))
        .when(F.col("n_touches") == 2, F.lit(0.5))
        .when((F.col("pos") == 1) | (F.col("pos") == F.col("n_touches")), F.lit(0.4))
        .otherwise(F.lit(0.2) / (F.col("n_touches") - 2))
    )
    return ranked.select(
        "purchase_event_id",
        "touch_event_id",
        "user_id",
        "pos",
        "n_touches",
        F.round(credit, 6).alias("credit"),
    )


@register(
    "events_seasonal_hourly_baseline",
    oracle="""
    WITH h AS (
      SELECT event_type,
             date_trunc('day', ts) AS day,
             CAST(hour(ts) AS INT) AS hr,
             sum(CAST(floor(value * 1000000.0 + 0.5) AS BIGINT)) AS tot_u
      FROM events GROUP BY 1, 2, 3
    ), last_d AS (
      SELECT max(day) AS last_day FROM h
    ), base AS (
      SELECT event_type, hr,
             CAST(count(*) AS BIGINT) AS n_days,
             CAST(sum(tot_u) AS DOUBLE) AS sum_u,
             CAST(sum(CAST(tot_u AS HUGEINT) * tot_u) AS DOUBLE) AS sumsq_u
      FROM h CROSS JOIN last_d WHERE day < last_day
      GROUP BY event_type, hr
    ), cur AS (
      SELECT event_type, hr, tot_u AS cur_u
      FROM h CROSS JOIN last_d WHERE day = last_day
    )
    SELECT b.event_type, b.hr, b.n_days,
           round(b.sum_u / b.n_days / 1000000.0, 6) AS baseline_mean,
           round(c.cur_u / 1000000.0, 6) AS cur_value,
           round(CASE WHEN b.n_days > 1
                       AND (b.sumsq_u - b.sum_u * b.sum_u / b.n_days) > 0
                 THEN (c.cur_u - b.sum_u / b.n_days)
                      / sqrt((b.sumsq_u - b.sum_u * b.sum_u / b.n_days)
                             / (b.n_days - 1))
                 ELSE NULL END, 6) AS z
    FROM base b JOIN cur c ON b.event_type = c.event_type AND b.hr = c.hr
    """,
)
def events_seasonal_hourly_baseline(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Seasonal (hour-of-day) baseline anomaly scoring: the final day's
    hourly totals per event type are z-scored against the mean/std of
    the same hour on every prior day — the ops-dashboard "is today
    weird for 3pm?" primitive.

    One hourly pre-aggregation (exact micro-unit sums) compresses the
    stream to a (type, day, hour) table; the baseline is a second
    aggregate over that table with exact integer sufficient statistics
    (sum, sum-of-squares as decimal), so mean/std are order-independent.
    The last-day boundary is a broadcast 1-row cross join — no driver
    action. At 100 TB the reduce sides are calendar-bounded (days x 24
    x |types|), never row-bounded.
    """
    t = Tables(spark, sf_dir)
    h = (
        t.events.select(
            "event_type",
            F.date_trunc("DAY", F.col("ts")).alias("day"),
            F.hour(F.col("ts")).cast("int").alias("hr"),
            F.floor(F.col("value") * F.lit(1e6) + F.lit(0.5)).cast("long").alias("v_u"),
        )
        .groupBy("event_type", "day", "hr")
        .agg(F.sum("v_u").alias("tot_u"))
    )
    last_d = h.agg(F.max("day").alias("last_day"))
    hb = h.crossJoin(F.broadcast(last_d))
    base = (
        hb.filter(F.col("day") < F.col("last_day"))
        .groupBy("event_type", "hr")
        .agg(
            F.count(F.lit(1)).alias("n_days"),
            F.sum("tot_u").cast("double").alias("sum_u"),
            F.sum(F.col("tot_u").cast("decimal(38,0)") * F.col("tot_u"))
            .cast("double")
            .alias("sumsq_u"),
        )
    )
    cur = hb.filter(F.col("day") == F.col("last_day")).select(
        "event_type", "hr", F.col("tot_u").alias("cur_u")
    )
    mean_u = F.col("sum_u") / F.col("n_days")
    ss = F.col("sumsq_u") - F.col("sum_u") * F.col("sum_u") / F.col("n_days")
    z = F.when(
        (F.col("n_days") > 1) & (ss > 0),
        (F.col("cur_u") - mean_u) / F.sqrt(ss / (F.col("n_days") - 1)),
    )
    return base.join(cur, ["event_type", "hr"]).select(
        "event_type",
        "hr",
        "n_days",
        F.round(mean_u / F.lit(1e6), 6).alias("baseline_mean"),
        F.round(F.col("cur_u") / F.lit(1e6), 6).alias("cur_value"),
        F.round(z, 6).alias("z"),
    )


@register(
    "events_time_to_convert",
    oracle="""
    WITH v AS (
      SELECT user_id, min(ts) AS v_ts FROM events
      WHERE event_type = 'view' GROUP BY user_id
    ), p AS (
      SELECT e.user_id, min(e.ts) AS p_ts
      FROM events e JOIN v ON e.user_id = v.user_id AND e.ts > v.v_ts
      WHERE e.event_type = 'purchase' GROUP BY e.user_id
    ), lat AS (
      SELECT epoch_us(p.p_ts) - epoch_us(v.v_ts) AS lat_us
      FROM v JOIN p USING (user_id)
    )
    SELECT CAST(count(*) AS BIGINT) AS n_converted,
           round(quantile_disc(lat_us, 0.5) / 1000000.0, 6) AS p50_s,
           round(quantile_disc(lat_us, 0.9) / 1000000.0, 6) AS p90_s,
           round(quantile_disc(lat_us, 0.99) / 1000000.0, 6) AS p99_s,
           round(CAST(sum(lat_us) AS DOUBLE) / count(*) / 1000000.0, 6) AS mean_s
    FROM lat
    """,
)
def events_time_to_convert(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Latency distribution from first view to first subsequent
    purchase per user: exact-discrete p50/p90/p99 and mean seconds —
    the funnel's companion ("how fast do users convert", not just "how
    many").

    Per-user firsts are two aggs co-partitioned on user_id (same
    shuffle key as the funnel); latencies are exact integer
    microseconds, so the mean is order-independent and the percentiles
    (max-accuracy ``percentile_approx`` == DuckDB ``quantile_disc``)
    are exact data points. The final global reduce is a constant-size
    percentile-sketch merge — the only SinglePartition step, carrying
    one state per partition, never rows.
    """
    t = Tables(spark, sf_dir)
    ev = t.events.select("user_id", "event_type", "ts")
    v = (
        ev.filter(F.col("event_type") == "view")
        .groupBy("user_id")
        .agg(F.min("ts").alias("v_ts"))
    )
    p = (
        ev.filter(F.col("event_type") == "purchase")
        .join(v, "user_id")
        .filter(F.col("ts") > F.col("v_ts"))
        .groupBy("user_id")
        .agg(F.min("ts").alias("p_ts"))
    )
    lat = (
        v.join(p, "user_id")
        .select((F.unix_micros(F.col("p_ts")) - F.unix_micros(F.col("v_ts"))).alias("lat_us"))
    )
    exact = str(2**31 - 1)
    return lat.agg(
        F.count(F.lit(1)).cast("long").alias("n_converted"),
        F.round(F.expr(f"percentile_approx(lat_us, 0.5, {exact})") / F.lit(1e6), 6).alias("p50_s"),
        F.round(F.expr(f"percentile_approx(lat_us, 0.9, {exact})") / F.lit(1e6), 6).alias("p90_s"),
        F.round(F.expr(f"percentile_approx(lat_us, 0.99, {exact})") / F.lit(1e6), 6).alias("p99_s"),
        F.round(F.sum("lat_us").cast("double") / F.count(F.lit(1)) / F.lit(1e6), 6).alias("mean_s"),
    )


@register(
    "events_cusum_changepoint",
    oracle="""
    WITH daily AS (
      SELECT event_type, CAST(ts AS DATE) AS day,
             sum(CAST(floor(value * 1000000.0 + 0.5) AS BIGINT)) AS x
      FROM events GROUP BY 1, 2
    ), tot AS (
      SELECT event_type, count(*) AS n_days, sum(CAST(x AS HUGEINT)) AS tot
      FROM daily GROUP BY 1
    ), dev AS (
      SELECT d.event_type, d.day, t.n_days,
             CAST(t.n_days AS HUGEINT) * d.x - t.tot AS y
      FROM daily d JOIN tot t USING (event_type)
    ), pre AS (
      SELECT event_type, day, n_days, sum(y) OVER w AS p
      FROM dev
      WINDOW w AS (PARTITION BY event_type ORDER BY day
                   ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
    ), cu AS (
      SELECT event_type, day, n_days,
             p - least(CAST(0 AS HUGEINT), min(p) OVER w) AS s_pos,
             greatest(CAST(0 AS HUGEINT), max(p) OVER w) - p AS s_neg
      FROM pre
      WINDOW w AS (PARTITION BY event_type ORDER BY day
                   ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
    ), ranked AS (
      SELECT event_type, day, n_days, s_pos, s_neg,
             row_number() OVER (PARTITION BY event_type
                                ORDER BY greatest(s_pos, s_neg) DESC, day) AS rn
      FROM cu
    )
    SELECT event_type, CAST(day AS TIMESTAMP) AS change_day, n_days,
           CASE WHEN s_pos >= s_neg THEN 'up' ELSE 'down' END AS direction,
           round(CAST(greatest(s_pos, s_neg) AS DOUBLE) / n_days / 1000000.0, 6)
             AS cusum_stat
    FROM ranked WHERE rn = 1
    """,
)
def events_cusum_changepoint(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-event-type CUSUM change-point detection over the daily value
    series — the level-shift monitor a metrics/quality pipeline runs on
    every ingested stream (did the distribution of this feed move, and
    when?).

    The textbook CUSUM recursions ``S+_t = max(0, S+_{t-1} + y_t)`` /
    ``S-_t = max(0, S-_{t-1} - y_t)`` look inherently sequential, but
    both have closed forms over the prefix sum P_t of the centered
    series: ``S+_t = P_t - min(0, min_{j<=t} P_j)`` and ``S-_t =
    max(0, max_{j<=t} P_j) - P_t`` — i.e. two per-key ordered-window
    aggregates, no recursion, no UDF. Centering is integer-exact:
    ``y_t = n * x_t - sum(x)`` (scaled by n to avoid division), with
    x_t the exact micro-unit daily sum, and all window arithmetic in
    decimal(38,0) (HUGEINT in the oracle) so no scale overflows or
    reorders it. The reported change point is the argmax day of
    max(S+, S-) — the classic CUSUM change-location estimate — with
    its direction and the magnitude rescaled to value units.

    Scale shape: one (type, day)-keyed aggregation compresses the raw
    stream, a broadcast join attaches the |types|-row totals, and every
    window partitions by event_type over calendar-bounded rows — the
    reduce sides are |types| x days, never row-bounded. No
    SinglePartition anywhere; the final row_number window is per-type
    over the same bounded series.
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
    tot = daily.groupBy("event_type").agg(
        F.count(F.lit(1)).alias("n_days"),
        F.sum(F.col("x").cast("decimal(38,0)")).alias("tot"),
    )
    dev = daily.join(F.broadcast(tot), "event_type").select(
        "event_type",
        "day",
        "n_days",
        (F.col("n_days").cast("decimal(38,0)") * F.col("x") - F.col("tot")).alias("y"),
    )
    w = (
        Window.partitionBy("event_type")
        .orderBy("day")
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    )
    pre = dev.select("event_type", "day", "n_days", F.sum("y").over(w).alias("p"))
    zero = F.lit(0).cast("decimal(38,0)")
    cu = pre.select(
        "event_type",
        "day",
        "n_days",
        (F.col("p") - F.least(zero, F.min("p").over(w))).alias("s_pos"),
        (F.greatest(zero, F.max("p").over(w)) - F.col("p")).alias("s_neg"),
    )
    s = F.greatest(F.col("s_pos"), F.col("s_neg"))
    wr = Window.partitionBy("event_type").orderBy(s.desc(), F.col("day"))
    return (
        cu.withColumn("rn", F.row_number().over(wr))
        .filter(F.col("rn") == 1)
        .select(
            "event_type",
            F.col("day").cast("timestamp").alias("change_day"),
            "n_days",
            F.when(F.col("s_pos") >= F.col("s_neg"), F.lit("up"))
            .otherwise(F.lit("down"))
            .alias("direction"),
            F.round(s.cast("double") / F.col("n_days") / F.lit(1e6), 6).alias("cusum_stat"),
        )
    )


# --- watermark policy selection (applier for the late-arrival audit) -------

# Candidate Structured Streaming watermark delays (seconds). The
# late-arrival audit (operators/roundfive.py events_late_arrival_audit)
# MEASURES the lateness histogram; this query APPLIES each candidate
# policy to the same history and prices it: how many events a
# `withWatermark("ts", "<delay>")` would have dropped, and the kept
# share — the table you read before committing a watermark to a 100 TB
# event stream (VERDICT r4 item 2 follow-through).
WATERMARK_DELAYS_S = [60, 300, 900, 3600]


def _watermark_policy_oracle() -> str:
    from ..functions.exact import sql_round_int_ratio

    vals = ", ".join(f"({d})" for d in WATERMARK_DELAYS_S)
    kept = "sum(CASE WHEN late_s <= d THEN 1 ELSE 0 END)"
    return f"""
    WITH ordered AS (
      SELECT user_id, ts,
             max(ts) OVER (PARTITION BY user_id ORDER BY event_id
                           ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING)
               AS high_water
      FROM events
    ), late AS (
      SELECT CASE WHEN high_water IS NOT NULL AND ts < high_water
                  THEN CAST(date_diff('second', ts, high_water) AS BIGINT)
                  ELSE 0 END AS late_s
      FROM ordered
    )
    SELECT CAST(d AS BIGINT) AS delay_s,
           CAST(count(*) AS BIGINT) AS n_events,
           CAST(sum(CASE WHEN late_s > 0 THEN 1 ELSE 0 END) AS BIGINT) AS n_late,
           CAST(sum(CASE WHEN late_s > d THEN 1 ELSE 0 END) AS BIGINT) AS n_dropped,
           CAST({kept} AS BIGINT) AS n_kept,
           {sql_round_int_ratio(kept, 'count(*)')} AS kept_share
    FROM late, (VALUES {vals}) w(d)
    GROUP BY d
    """


@register("events_watermark_policy_audit", oracle=_watermark_policy_oracle())
def events_watermark_policy_audit(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Watermark policy pricing table: for each candidate
    ``withWatermark`` delay, the events the policy would drop vs keep,
    measured against the stream's real arrival history (event_id =
    arrival order, per-user event-time high-water mark — the same
    lateness definition as ``events_late_arrival_audit``).

    Scale: one shuffle on the session key for the per-user ordered
    window, then each event row meets a broadcast 4-row literal policy
    table and reduces to |policies| rows of integer counts — the policy
    sweep adds zero extra shuffles over the audit itself. kept_share is
    an exact half-up integer ratio (no float flake surface).
    """
    t = Tables(spark, sf_dir)
    w = (
        Window.partitionBy("user_id")
        .orderBy("event_id")
        .rowsBetween(Window.unboundedPreceding, -1)
    )
    hw = F.max("ts").over(w)
    late = t.events.select("user_id", "ts", F.col("event_id"), hw.alias("high_water")).select(
        F.when(
            F.col("high_water").isNotNull() & (F.col("ts") < F.col("high_water")),
            F.unix_timestamp("high_water") - F.unix_timestamp("ts"),
        )
        .otherwise(0)
        .cast("long")
        .alias("late_s")
    )
    delays = spark.range(1).select(
        F.explode(
            F.array(*[F.lit(d).cast("long") for d in WATERMARK_DELAYS_S])
        ).alias("delay_s")
    )
    kept = F.sum(F.when(F.col("late_s") <= F.col("delay_s"), 1).otherwise(0))
    return (
        late.crossJoin(F.broadcast(delays))
        .groupBy("delay_s")
        .agg(
            F.count(F.lit(1)).alias("n_events"),
            F.sum(F.when(F.col("late_s") > 0, 1).otherwise(0))
            .cast("long")
            .alias("n_late"),
            F.sum(F.when(F.col("late_s") > F.col("delay_s"), 1).otherwise(0))
            .cast("long")
            .alias("n_dropped"),
            kept.cast("long").alias("n_kept"),
            round_int_ratio(kept.cast("long"), F.count(F.lit(1))).alias("kept_share"),
        )
    )


# --- ingestion freshness audit ---------------------------------------------


@register(
    "dq_freshness_lag_audit",
    oracle="""
    WITH daily AS (
      SELECT date_trunc('day', ts) AS day,
             CAST(count(*) AS BIGINT) AS n_events,
             max(ts) AS last_event_ts
      FROM events GROUP BY 1
    )
    SELECT day, n_events, last_event_ts,
           CAST(date_diff('second', last_event_ts,
                          day + INTERVAL 1 DAY) AS BIGINT) AS tail_gap_s,
           (date_diff('second', last_event_ts, day + INTERVAL 1 DAY) <= 3600)
             AS fresh_to_the_hour
    FROM daily
    """,
)
def dq_freshness_lag_audit(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-day ingestion freshness: when did each day's LAST event
    arrive, and how much of the day's tail is silent? A silent tail
    hours long on a feed that normally ticks every few seconds is the
    classic symptom of an upstream outage or a stuck ingest offset —
    this is the audit a 100 TB event lake runs per partition-day before
    marking it complete (complements ``events_late_arrival_audit``:
    that measures out-of-ORDER arrivals, this measures missing TAIL).

    Scale: one partial-aggregated groupBy on the day key — shuffle rows
    = |days|; the gap arithmetic is per-group scalar math.
    """
    t = Tables(spark, sf_dir)
    daily = t.events.groupBy(F.date_trunc("day", F.col("ts")).alias("day")).agg(
        F.count(F.lit(1)).alias("n_events"),
        F.max("ts").alias("last_event_ts"),
    )
    day_end = F.col("day") + F.expr("INTERVAL 1 DAY")
    gap = (
        F.unix_timestamp(day_end) - F.unix_timestamp("last_event_ts")
    ).cast("long")
    return daily.select(
        "day",
        "n_events",
        "last_event_ts",
        gap.alias("tail_gap_s"),
        (gap <= 3600).alias("fresh_to_the_hour"),
    )


# --- day-of-week x hour activity heatmap -----------------------------------


@register(
    "events_heatmap_dow_hour",
    oracle="""
    SELECT CAST(isodow(ts) AS BIGINT) AS dow,
           CAST(hour(ts) AS BIGINT) AS hour,
           CAST(count(*) AS BIGINT) AS n_events,
           CAST(count(DISTINCT user_id) AS BIGINT) AS n_users,
           CAST(sum(CAST(floor(value * 1000000.0 + 0.5) AS BIGINT)) AS BIGINT)
             AS value_micro_total
    FROM events GROUP BY 1, 2
    """,
)
def events_heatmap_dow_hour(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Day-of-week x hour activity heatmap (ISO weekday 1=Mon..7=Sun):
    event counts, distinct users, and exact value totals per cell — the
    product-analytics staple behind every "when are users active"
    dashboard, and the seasonality input the hourly-baseline query
    normalizes against.

    Exactness: ISO weekday on both engines (Spark ``weekday()+1`` ==
    DuckDB ``isodow``; plain dayofweek disagrees on the week start),
    and the value total is the order-free quantized-int64 sum. Scale:
    one partial-aggregated groupBy over a 168-cell key domain — shuffle
    volume is constant no matter the corpus.
    """
    t = Tables(spark, sf_dir)
    return t.events.groupBy(
        (F.expr("weekday(ts)") + F.lit(1)).cast("long").alias("dow"),
        F.hour("ts").cast("long").alias("hour"),
    ).agg(
        F.count(F.lit(1)).alias("n_events"),
        F.countDistinct("user_id").alias("n_users"),
        F.sum(F.floor(F.col("value") * F.lit(1e6) + F.lit(0.5)).cast("long")).alias(
            "value_micro_total"
        ),
    )
