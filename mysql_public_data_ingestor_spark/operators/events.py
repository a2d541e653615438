"""The steps the events-stream queries share.

This module registers no query. The events queries live by theme next
to it:

- ``events_sequence``: Markov chains over event-type transitions,
  paths, sessions, funnels and as-of reads;
- ``events_series``: the per-day, per-hour and per-type series;
- ``events_users``: cohorts, retention, churn and per-user activity.

Shared steps, one copy each:

- ``user_order``: each user's events in ``(ts, event_id)`` order, the
  tie-free order of every per-user sequence read;
- ``user_gap_us``: the microseconds since the user's previous event,
  and ``user_sessions``: the ``SESSION_GAP_MIN`` new-session flag and
  its running sum, the session id;
- ``type_order`` and ``type_gap_s``: the whole seconds since the
  previous event of the same type;
- ``type_transitions``: the ``(from_type, to_type, count)`` pairs of
  consecutive event types within each user's order;
- the calendar-day steps: ``day_counts`` (the events per calendar
  day), ``type_day_counts`` (per event type and day) and
  ``type_pair_days`` (two types' zero-filled day pair). Their day rank
  is ``daily.calendar_rank``.

Queries that keep their own copy:

- ``events_sequential_patterns_topk`` leads ``event_type`` by one and
  two rows to build within-session trigrams, not transition counts.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame, Window, WindowSpec
from pyspark.sql import functions as F

from ..tables import Tables

SESSION_GAP_MIN = 30  # a gap longer than this many minutes opens a session


# ---------------------------------------------------------------------------
# per-user order, gaps and sessions
# ---------------------------------------------------------------------------


def user_order() -> WindowSpec:
    """Each user's events in ``(ts, event_id)`` order. A function, not a
    constant: building a window spec needs a live Spark context."""
    return Window.partitionBy("user_id").orderBy("ts", "event_id")


def user_gap_us() -> Column:
    """Microseconds since the same user's previous event (null on a
    user's first event). Exact: a seconds-level cast would truncate and
    disagree with the oracles' interval comparison at boundaries."""
    return F.unix_micros(F.col("ts")) - F.unix_micros(F.lag(F.col("ts")).over(user_order()))


def user_sessions(frame: DataFrame) -> DataFrame:
    """``frame`` (events rows) with ``is_new`` (1 on a user's first
    event and after a gap of more than ``SESSION_GAP_MIN`` minutes) and
    ``session_id``, its running sum in ``user_order()``."""
    gap = user_gap_us()
    flagged = frame.withColumn(
        "is_new",
        F.when(gap.isNull() | (gap > SESSION_GAP_MIN * 60_000_000), 1).otherwise(0),
    )
    cum = user_order().rowsBetween(Window.unboundedPreceding, Window.currentRow)
    return flagged.withColumn("session_id", F.sum("is_new").over(cum))


def type_transitions(t: Tables, n: str = "n", lead: bool = False) -> DataFrame:
    """``(from_type, to_type, <n>)``: how often ``to_type`` directly
    follows ``from_type`` in a user's ``user_order()``.

    The pairs come from ``lag``, dropping a pair whose first type is
    null; with ``lead`` they come from ``lead``, dropping a pair whose
    second type is null (the stationary-mix oracle's form). On
    null-free types the two agree."""
    if lead:
        nxt = F.lead("event_type").over(user_order()).alias("nxt")
        seq = t.events.select("user_id", "event_type", nxt)
        first, second, kept = F.col("event_type"), F.col("nxt"), F.col("nxt")
    else:
        prev = F.lag("event_type").over(user_order()).alias("prev_type")
        seq = t.events.select("user_id", "event_type", prev)
        first, second, kept = F.col("prev_type"), F.col("event_type"), F.col("prev_type")
    return (
        seq.where(kept.isNotNull())
        .groupBy(first.alias("from_type"), second.alias("to_type"))
        .agg(F.count(F.lit(1)).alias(n))
    )


# ---------------------------------------------------------------------------
# per-type gaps
# ---------------------------------------------------------------------------


def type_order() -> WindowSpec:
    """Each event type's events in ``(ts, event_id)`` order."""
    return Window.partitionBy("event_type").orderBy("ts", "event_id")


def type_gap_s() -> Column:
    """Whole epoch seconds since the previous event of the same type
    in ``type_order()`` (null on a type's first event)."""
    return F.unix_timestamp("ts") - F.lag(F.unix_timestamp("ts")).over(type_order())


# ---------------------------------------------------------------------------
# the events calendar-day series
# ---------------------------------------------------------------------------


def day_counts(t: Tables, y: Column) -> DataFrame:
    """Events grouped by calendar day: ``(day, <y>)``, where ``y`` is
    the caller's aliased aggregate."""
    return t.events.groupBy(F.to_date("ts").alias("day")).agg(y)


def type_day_counts(t: Tables, y: Column) -> DataFrame:
    """Events grouped by event type and calendar day:
    ``(event_type, day, <y>)``."""
    return (
        t.events.select("event_type", F.to_date("ts").alias("day"))
        .groupBy("event_type", "day")
        .agg(y)
    )


def type_pair_days(t: Tables, x_type: str, y_type: str) -> DataFrame:
    """``(day, x, y)``: the counts of ``x_type`` and ``y_type`` events
    on every calendar day with an event, zero where a type is absent."""
    ev = t.events.select(F.to_date("ts").alias("day"), "event_type")
    days = ev.select("day").distinct()
    cx = (
        ev.filter(F.col("event_type") == x_type)
        .groupBy("day")
        .agg(F.count(F.lit(1)).alias("cx"))
    )
    cy = (
        ev.filter(F.col("event_type") == y_type)
        .groupBy("day")
        .agg(F.count(F.lit(1)).alias("cy"))
    )
    return (
        days.join(cx, "day", "left")
        .join(cy, "day", "left")
        .select(
            "day",
            F.coalesce(F.col("cx"), F.lit(0)).alias("x"),
            F.coalesce(F.col("cy"), F.lit(0)).alias("y"),
        )
    )
