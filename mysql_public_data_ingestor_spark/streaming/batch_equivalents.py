"""Event-time analytics over the ``events`` table, batch-mode.

These are the *batch-expressible twins* of the streaming operators in
``streaming/windows.py`` — same windowing semantics, verifiable against
the DuckDB oracle. The streaming variants (watermarks, session_window,
dropDuplicatesWithinWatermark, stateful ops) run the identical logic on
``readStream`` inputs and are covered by tests instead.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from ..functions.exact import exact_sum
from ..operators.events import SESSION_GAP_MIN, user_sessions
from ..registry import register
from ..tables import Tables


@register(
    "events_tumbling_hourly",
    oracle="""
    SELECT date_trunc('hour', ts)   AS window_start,
           event_type,
           count(*)                 AS n_events,
           sum(CAST(floor(value * 1000000.0 + 0.5) AS BIGINT)) / 1000000.0 AS total_value,
           count(DISTINCT user_id)  AS n_users
    FROM events
    GROUP BY 1, 2
    """,
)
def events_tumbling_hourly(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Tumbling 1-hour event-time windows (batch twin of the streaming
    windowed aggregation)."""
    t = Tables(spark, sf_dir)
    return (
        t.events.groupBy(F.window("ts", "1 hour").alias("w"), "event_type")
        .agg(
            F.count(F.lit(1)).alias("n_events"),
            exact_sum(F.col("value"), 6).alias("total_value"),
            F.countDistinct("user_id").alias("n_users"),
        )
        .select(
            F.col("w.start").alias("window_start"),
            "event_type",
            "n_events",
            "total_value",
            "n_users",
        )
    )


@register(
    "events_sliding_windows",
    oracle="""
    WITH exploded AS (
      SELECT time_bucket(INTERVAL 30 minutes, ts) - (i * INTERVAL 30 minutes) AS window_start,
             value
      FROM events, unnest([0, 1]) AS t(i)
    )
    SELECT window_start,
           count(*)             AS n_events,
           sum(CAST(floor(value * 1000000.0 + 0.5) AS BIGINT)) / 1000000.0 AS total_value
    FROM exploded
    GROUP BY window_start
    """,
)
def events_sliding_windows(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Sliding windows: 1-hour length, 30-minute slide (each event lands
    in exactly 2 windows)."""
    t = Tables(spark, sf_dir)
    return (
        t.events.groupBy(F.window("ts", "1 hour", "30 minutes").alias("w"))
        .agg(
            F.count(F.lit(1)).alias("n_events"),
            exact_sum(F.col("value"), 6).alias("total_value"),
        )
        .select(F.col("w.start").alias("window_start"), "n_events", "total_value")
    )


@register(
    "events_sessionization",
    oracle=f"""
    WITH flagged AS (
      SELECT user_id, ts, event_id,
             CASE WHEN lag(ts) OVER w IS NULL
                    OR epoch_us(ts) - epoch_us(lag(ts) OVER w) > {SESSION_GAP_MIN} * 60000000
                  THEN 1 ELSE 0 END AS is_new
      FROM events
      WINDOW w AS (PARTITION BY user_id ORDER BY ts, event_id)
    ), sessions AS (
      SELECT user_id, ts, event_id,
             CAST(sum(is_new) OVER (PARTITION BY user_id ORDER BY ts, event_id
                               ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS BIGINT)
               AS session_id
      FROM flagged
    )
    SELECT user_id, session_id,
           count(*)  AS n_events,
           min(ts)   AS session_start,
           max(ts)   AS session_end
    FROM sessions
    GROUP BY user_id, session_id
    """,
)
def events_sessionization(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Gap-based sessionization (30-min inactivity gap), batch mode:
    lag + cumulative-sum session ids — the standard distributed
    sessionization plan (one shuffle on user_id)."""
    t = Tables(spark, sf_dir)
    sessions = user_sessions(t.events)
    return sessions.groupBy("user_id", "session_id").agg(
        F.count(F.lit(1)).alias("n_events"),
        F.min("ts").alias("session_start"),
        F.max("ts").alias("session_end"),
    )


@register(
    "events_json_extract",
    oracle="""
    SELECT event_type,
           round(avg(CAST(json_extract_string(props, '$.k') AS BIGINT)), 4) AS avg_k,
           max(CAST(json_extract_string(props, '$.k') AS BIGINT))           AS max_k,
           count(*)                                                          AS n_events
    FROM events
    GROUP BY event_type
    """,
)
def events_json_extract(spark: SparkSession, sf_dir: str) -> DataFrame:
    """JSON property extraction (the events.props / sensors-column shape)."""
    t = Tables(spark, sf_dir)
    k = F.get_json_object("props", "$.k").cast("long")
    return t.events.groupBy("event_type").agg(
        F.round(F.avg(k), 4).alias("avg_k"),
        F.max(k).alias("max_k"),
        F.count(F.lit(1)).alias("n_events"),
    )


@register(
    "events_dedup_first_per_key",
    oracle="""
    SELECT user_id, event_type, event_id, ts
    FROM (
      SELECT user_id, event_type, event_id, ts,
             row_number() OVER (PARTITION BY user_id, event_type
                                ORDER BY ts, event_id) AS rn
      FROM events
    )
    WHERE rn = 1
    """,
)
def events_dedup_first_per_key(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Deterministic keep-first dedup per (user_id, event_type) — the
    batch twin of streaming ``dropDuplicatesWithinWatermark``."""
    t = Tables(spark, sf_dir)
    w = Window.partitionBy("user_id", "event_type").orderBy("ts", "event_id")
    return (
        t.events.withColumn("rn", F.row_number().over(w))
        .filter(F.col("rn") == 1)
        .select("user_id", "event_type", "event_id", "ts")
    )


@register(
    "events_asof_enrichment",
    oracle="""
    SELECT e.event_id, e.user_id, e.ts,
           round(e.value, 2) AS value,
           p.event_id        AS prev_purchase_id
    FROM events e
    LEFT JOIN LATERAL (
      SELECT p.event_id
      FROM events p
      WHERE p.user_id = e.user_id AND p.event_type = 'purchase' AND p.ts <= e.ts
      ORDER BY p.ts DESC, p.event_id DESC
      LIMIT 1
    ) p ON true
    WHERE e.event_type = 'click'
    """,
)
def events_asof_enrichment(spark: SparkSession, sf_dir: str) -> DataFrame:
    """As-of join: each click enriched with the latest preceding
    purchase of the same user.

    Implemented as union + window last_value (the distributed as-of
    idiom: one shuffle on user_id, no per-row subquery) — semantically
    identical to the oracle's LATERAL lookup.
    """
    t = Tables(spark, sf_dir)
    clicks = t.events.filter(F.col("event_type") == "click")
    purchases = t.events.filter(F.col("event_type") == "purchase").select(
        "user_id",
        F.col("ts").alias("p_ts"),
        F.col("event_id").alias("p_event_id"),
    )
    tagged = clicks.select(
        "event_id", "user_id", "ts", "value", F.lit(None).cast("long").alias("p_event_id"),
        F.lit(0).alias("is_purchase"), F.col("ts").alias("sort_ts"), F.col("event_id").alias("sort_id"),
    ).unionByName(
        purchases.select(
            F.lit(None).cast("long").alias("event_id"),
            "user_id",
            F.lit(None).cast("timestamp").alias("ts"),
            F.lit(None).cast("double").alias("value"),
            F.col("p_event_id"),
            F.lit(1).alias("is_purchase"),
            F.col("p_ts").alias("sort_ts"),
            F.col("p_event_id").alias("sort_id"),
        )
    )
    # Order purchases before clicks at identical timestamps (asof is <=),
    # ids ascending so the carried "last" purchase at equal ts is the
    # max event_id — matching the oracle's ORDER BY ts DESC, id DESC LIMIT 1.
    w = (
        Window.partitionBy("user_id")
        .orderBy(F.col("sort_ts"), F.col("is_purchase").desc(), F.col("sort_id"))
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    )
    carried = tagged.withColumn(
        "prev_purchase_id",
        F.last(F.when(F.col("is_purchase") == 1, F.col("sort_id")), ignorenulls=True).over(w),
    )
    return carried.filter(F.col("is_purchase") == 0).select(
        "event_id",
        "user_id",
        "ts",
        F.round("value", 2).alias("value"),
        "prev_purchase_id",
    )


@register(
    "events_interval_join",
    oracle="""
    SELECT c.event_id AS click_id, p.event_id AS purchase_id, c.user_id,
           epoch_us(p.ts) - epoch_us(c.ts) AS us_to_purchase
    FROM events c JOIN events p
      ON c.user_id = p.user_id
     AND c.event_type = 'click' AND p.event_type = 'purchase'
     AND p.ts >= c.ts
     AND p.ts <  c.ts + INTERVAL 1 HOUR
    """,
)
def events_interval_join(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Event-time interval join: purchases within 1 h after each click
    (batch twin of a stream-stream interval join; same plan shape —
    equi-join on user_id with the time range as residual condition)."""
    t = Tables(spark, sf_dir)
    clicks = t.events.filter(F.col("event_type") == "click").select(
        F.col("event_id").alias("click_id"), "user_id", F.col("ts").alias("c_ts")
    )
    purchases = t.events.filter(F.col("event_type") == "purchase").select(
        F.col("event_id").alias("purchase_id"),
        F.col("user_id").alias("p_user"),
        F.col("ts").alias("p_ts"),
    )
    return (
        clicks.join(
            purchases,
            (F.col("user_id") == F.col("p_user"))
            & (F.col("p_ts") >= F.col("c_ts"))
            & (F.col("p_ts") < F.col("c_ts") + F.expr("INTERVAL 1 HOUR")),
        )
        .select(
            "click_id",
            "purchase_id",
            "user_id",
            (F.unix_micros("p_ts") - F.unix_micros("c_ts")).alias("us_to_purchase"),
        )
    )


@register(
    "events_asof_nearest",
    oracle="""
    WITH c AS (
      SELECT e.event_id AS click_id, e.user_id, e.ts,
             pv.event_id AS prev_id, pv.ts AS prev_ts,
             nx.event_id AS next_id, nx.ts AS next_ts
      FROM events e
      LEFT JOIN LATERAL (
        SELECT p.event_id, p.ts FROM events p
        WHERE p.user_id = e.user_id AND p.event_type = 'purchase' AND p.ts <= e.ts
        ORDER BY p.ts DESC, p.event_id DESC LIMIT 1
      ) pv ON true
      LEFT JOIN LATERAL (
        SELECT p.event_id, p.ts FROM events p
        WHERE p.user_id = e.user_id AND p.event_type = 'purchase' AND p.ts > e.ts
        ORDER BY p.ts ASC, p.event_id ASC LIMIT 1
      ) nx ON true
      WHERE e.event_type = 'click'
    )
    SELECT click_id, user_id, ts,
           CASE WHEN next_id IS NULL
                  OR (prev_id IS NOT NULL AND
                      epoch_us(ts) - epoch_us(prev_ts) <= epoch_us(next_ts) - epoch_us(ts))
                THEN prev_id ELSE next_id END AS purchase_id,
           CASE WHEN next_id IS NULL
                  OR (prev_id IS NOT NULL AND
                      epoch_us(ts) - epoch_us(prev_ts) <= epoch_us(next_ts) - epoch_us(ts))
                THEN epoch_us(ts) - epoch_us(prev_ts)
                ELSE epoch_us(next_ts) - epoch_us(ts) END AS abs_us,
           CASE WHEN next_id IS NULL
                  OR (prev_id IS NOT NULL AND
                      epoch_us(ts) - epoch_us(prev_ts) <= epoch_us(next_ts) - epoch_us(ts))
                THEN 'prev' ELSE 'next' END AS direction
    FROM c
    WHERE prev_id IS NOT NULL OR next_id IS NOT NULL
    """,
)
def events_asof_nearest(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Bidirectional as-of: each click matched to its NEAREST purchase
    by the same user (earlier-or-equal beats strictly-later on a tie),
    with the distance and direction.

    The variant financial/telemetry users reach for after plain
    backward as-of — "closest quote to this trade, either side".
    Implemented with the same union-tag + ordered-window idiom as
    ``events_asof_enrichment``: one shuffle on user_id, one sort; the
    preceding frame carries the latest prior purchase (max id at equal
    ts — purchases sort before clicks), the following frame the
    earliest later one (min id). No per-row subquery, no range join;
    at 100 TB this is a single hash-partitioned sort per key, state
    O(1) per row — exactly the streaming-friendly shape.
    """
    t = Tables(spark, sf_dir)
    ev = t.events
    clicks = ev.filter(F.col("event_type") == "click")
    purchases = ev.filter(F.col("event_type") == "purchase")
    tagged = clicks.select(
        F.col("event_id").alias("click_id"),
        "user_id",
        "ts",
        F.lit(0).alias("is_p"),
        F.col("ts").alias("sort_ts"),
        F.col("event_id").alias("sort_id"),
    ).unionByName(
        purchases.select(
            F.lit(None).cast("long").alias("click_id"),
            "user_id",
            F.lit(None).cast("timestamp").alias("ts"),
            F.lit(1).alias("is_p"),
            F.col("ts").alias("sort_ts"),
            F.col("event_id").alias("sort_id"),
        )
    )
    order = [F.col("sort_ts"), F.col("is_p").desc(), F.col("sort_id")]
    w_prev = Window.partitionBy("user_id").orderBy(*order).rowsBetween(
        Window.unboundedPreceding, Window.currentRow
    )
    w_next = Window.partitionBy("user_id").orderBy(*order).rowsBetween(
        Window.currentRow, Window.unboundedFollowing
    )
    p_id = F.when(F.col("is_p") == 1, F.col("sort_id"))
    p_ts = F.when(F.col("is_p") == 1, F.col("sort_ts"))
    carried = tagged.select(
        "click_id",
        "user_id",
        "ts",
        "is_p",
        F.last(p_id, ignorenulls=True).over(w_prev).alias("prev_id"),
        F.last(p_ts, ignorenulls=True).over(w_prev).alias("prev_ts"),
        F.first(p_id, ignorenulls=True).over(w_next).alias("next_id"),
        F.first(p_ts, ignorenulls=True).over(w_next).alias("next_ts"),
    ).filter((F.col("is_p") == 0) & (F.col("prev_id").isNotNull() | F.col("next_id").isNotNull()))
    d_prev = F.unix_micros("ts") - F.unix_micros("prev_ts")
    d_next = F.unix_micros("next_ts") - F.unix_micros("ts")
    take_prev = F.col("next_id").isNull() | (F.col("prev_id").isNotNull() & (d_prev <= d_next))
    return carried.select(
        "click_id",
        "user_id",
        "ts",
        F.when(take_prev, F.col("prev_id")).otherwise(F.col("next_id")).alias("purchase_id"),
        F.when(take_prev, d_prev).otherwise(d_next).alias("abs_us"),
        F.when(take_prev, F.lit("prev")).otherwise(F.lit("next")).alias("direction"),
    )
