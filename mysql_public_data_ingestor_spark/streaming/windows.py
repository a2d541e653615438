"""Streaming analytics operators (real ``readStream`` pipelines).

Each mirrors a batch twin in ``streaming/batch_equivalents.py`` (which
carries the DuckDB oracle); tests drive these with file/memory sources
and assert equivalence with the batch result — the strongest check
available for streaming semantics without an external system.

Operators: watermarked tumbling/sliding windows, session windows,
watermarked stream dedup, stream-static and stream-stream joins, and
the custom stateful monitors Spark lacks natively: running per-user
totals, CUSUM, Holt, Page-Hinkley, incremental OLS, Shewhart c-chart
and EWMA.

Each stateful monitor is written once, as a pure fold
``fold(key, state, frames) -> (new_state, out_row)`` over one key's
micro-batch frames, with its initial state, output schema, state schema
and ValueState name (a ``_Monitor``). Two adapters, each written once,
run every fold: ``_run_apply_in_pandas`` through an
``applyInPandasWithState`` ``GroupState``, and ``_run_transform_with_state``
through the ``_FoldProcessor`` ``StatefulProcessor`` holding one
``ValueState`` (the ``*_tws`` builders). The day- or week-ordered
monitors share one out-of-order guard, ``_in_order``.

The state layout is a checkpoint format: the ``_*_STATE`` strings, the
order of the state tuples and the ValueState names (``totals``, ``ph``,
``ols``, ``cc``, ``ew``) are what a restarted query restores, so
changing any of them orphans existing checkpoints.
"""

from __future__ import annotations

from typing import Any, Callable, Iterable, Iterator, NamedTuple, Tuple

import pandas as pd

from pyspark.sql import DataFrame
from pyspark.sql import functions as F
from pyspark.sql.streaming import StatefulProcessor, StatefulProcessorHandle
from pyspark.sql.streaming.state import GroupState, GroupStateTimeout

from ..functions.exact import exact_sum


def tumbling_counts(events: DataFrame, watermark: str = "2 hours") -> DataFrame:
    """Watermarked 1-hour tumbling windows; late rows beyond the
    watermark are dropped (the streaming late-data policy)."""
    return (
        events.withWatermark("ts", watermark)
        .groupBy(F.window("ts", "1 hour").alias("w"), "event_type")
        .agg(
            F.count(F.lit(1)).alias("n_events"),
            exact_sum(F.col("value"), 6).alias("total_value"),
            F.approx_count_distinct("user_id").alias("approx_users"),
        )
        .select(F.col("w.start").alias("window_start"), "event_type", "n_events", "total_value",
                "approx_users")
    )


def sliding_counts(events: DataFrame, watermark: str = "2 hours") -> DataFrame:
    return (
        events.withWatermark("ts", watermark)
        .groupBy(F.window("ts", "1 hour", "30 minutes").alias("w"))
        .agg(F.count(F.lit(1)).alias("n_events"))
        .select(F.col("w.start").alias("window_start"), "n_events")
    )


def session_counts(events: DataFrame, gap: str = "30 minutes", watermark: str = "4 hours") -> DataFrame:
    """Native session windows (gap-based), the streaming twin of
    batch_equivalents.events_sessionization."""
    return (
        events.withWatermark("ts", watermark)
        .groupBy(F.session_window("ts", gap).alias("w"), "user_id")
        .agg(F.count(F.lit(1)).alias("n_events"))
        .select(
            "user_id",
            F.col("w.start").alias("session_start"),
            F.col("w.end").alias("session_end"),
            "n_events",
        )
    )


def dedup_within_watermark(events: DataFrame, watermark: str = "1 hour") -> DataFrame:
    """Stateful stream dedup on (user_id, event_type) bounded by the
    watermark (state is evicted as event time advances — the reason
    this scales where an unbounded dropDuplicates would not)."""
    return events.withWatermark("ts", watermark).dropDuplicatesWithinWatermark(
        ["user_id", "event_type"]
    )


# --- one fold per stateful monitor, two state-API adapters -----------------

class _Monitor(NamedTuple):
    """A stateful monitor: ``fold(key, state, frames)`` folds one key's
    micro-batch frames into its state tuple and returns ``(new_state,
    out_row)``; ``out_row`` is in ``schema`` column order. ``state_name``
    is the ValueState the transformWithState adapter stores the state
    under (None where the monitor has no transformWithState twin)."""

    key: str
    fold: Callable[[Tuple[Any, ...], tuple, Iterable[pd.DataFrame]], Tuple[tuple, tuple]]
    init: tuple
    schema: str
    state_schema: str
    state_name: str | None = None


def _day_key(day) -> int:
    """Monotonic int encoding of a 'yyyy-MM-dd' day for state storage
    (string days sort the same as their yyyymmdd integers)."""
    return int(str(day).replace("-", ""))


def _in_order(
    frames: Iterable[pd.DataFrame], order_col: str, value_col: str, last: int,
    key: Callable[[Any], int] = _day_key,
) -> Tuple[list, int, int]:
    """The out-of-order guard every day- or week-ordered monitor shares.

    Concatenates one key's frames, sorts them by ``order_col`` and keeps
    each row whose ``key(order)`` is after ``last`` (the state's last
    processed day or week), advancing ``last`` as it goes. Rows at or
    before it are dropped and counted instead of being folded into the
    integer recursion (ADVICE r8). The sort is stable, so of a day that
    repeats within the batch the first to arrive is the one kept.
    Returns ``(kept, last, n_late)`` with ``kept`` the in-order
    ``(key, int(value))`` pairs.
    """
    rows = pd.concat(list(frames)).sort_values(order_col, kind="stable")
    kept, n_late = [], 0
    for k, x in zip(rows[order_col], rows[value_col]):
        k = key(k)
        if k <= last:
            n_late += 1
            continue
        last = k
        kept.append((k, int(x)))
    return kept, last, n_late


def _out_frame(schema: str, row: tuple) -> pd.DataFrame:
    """A fold's output row as a one-row frame named by ``schema``."""
    names = [field.split()[0] for field in schema.split(",")]
    return pd.DataFrame({name: [value] for name, value in zip(names, row)})


def _run_apply_in_pandas(df: DataFrame, monitor: _Monitor) -> DataFrame:
    """Run ``monitor`` through ``applyInPandasWithState``, its state in
    the ``GroupState`` (Update mode, no timeout)."""

    def fn(key, pdfs, state: GroupState) -> Iterator[pd.DataFrame]:
        new_state, row = monitor.fold(key, state.get if state.exists else monitor.init, pdfs)
        state.update(new_state)
        yield _out_frame(monitor.schema, row)

    return df.groupBy(monitor.key).applyInPandasWithState(
        fn,
        outputStructType=monitor.schema,
        stateStructType=monitor.state_schema,
        outputMode="update",
        timeoutConf=GroupStateTimeout.NoTimeout,
    )


class _FoldProcessor(StatefulProcessor):
    """The transformWithStateInPandas adapter: runs a monitor's fold
    with its state in one typed ValueState named ``state_name``."""

    def __init__(self, monitor: _Monitor) -> None:
        self._monitor = monitor

    def init(self, handle: StatefulProcessorHandle) -> None:
        self._state = handle.getValueState(self._monitor.state_name, self._monitor.state_schema)

    def handleInputRows(self, key, rows, timerValues) -> Iterator[pd.DataFrame]:
        prior = self._state.get() if self._state.exists() else None
        new_state, row = self._monitor.fold(
            key, tuple(prior) if prior else self._monitor.init, rows
        )
        self._state.update(new_state)
        yield _out_frame(self._monitor.schema, row)

    def close(self) -> None:
        pass


def _run_transform_with_state(df: DataFrame, monitor: _Monitor) -> DataFrame:
    """Run ``monitor`` through ``transformWithStateInPandas`` (Update
    mode, no timers); start the query under ``rocksdb_state_store``."""
    return df.groupBy(monitor.key).transformWithStateInPandas(
        statefulProcessor=_FoldProcessor(monitor),
        outputStructType=monitor.schema,
        outputMode="Update",
        timeMode="None",
    )


_RUNNING_SCHEMA = "user_id long, n_events long, total_value double"
_STATE_SCHEMA = "n long, total double"


def _fold_running_totals(key, state, pdfs):
    (user_id,) = key
    n, total = state
    # one sum per frame: checkpointed totals were accumulated this way,
    # and summing the concatenated frames rounds differently
    for pdf in pdfs:
        n += len(pdf)
        total += float(pdf["value"].sum())
    return (n, total), (user_id, n, total)


_RUNNING = _Monitor(
    "user_id", _fold_running_totals, (0, 0.0), _RUNNING_SCHEMA, _STATE_SCHEMA, "totals"
)


def running_totals_per_user(events: DataFrame) -> DataFrame:
    """Custom stateful operator: running per-user totals across
    micro-batches via applyInPandasWithState — the pattern for any
    operator Structured Streaming lacks natively (reference has no
    analog; this is the §2.B custom-stateful extension point)."""
    return _run_apply_in_pandas(events, _RUNNING)


def stream_static_enrich(events: DataFrame, dim: DataFrame) -> DataFrame:
    """Stream-static join: enrich a stream against a batch dimension
    (dim re-read per micro-batch; broadcast-sized here)."""
    return events.join(F.broadcast(dim), events["user_id"] == dim["c_custkey"], "left").select(
        events["event_id"], events["user_id"], events["value"], dim["c_mktsegment"]
    )


def stream_stream_interval_join(
    clicks: DataFrame, purchases: DataFrame, horizon: str = "1 hour"
) -> DataFrame:
    """Stream-stream interval join with watermarks: purchases within
    ``horizon`` after each click. Watermarks bound the join state: click
    state older than the horizon (+ watermark delay) is evicted.
    """
    c = clicks.withWatermark("ts", "2 hours").select(
        F.col("event_id").alias("click_id"), F.col("user_id").alias("c_user"),
        F.col("ts").alias("c_ts"),
    )
    p = purchases.withWatermark("ts", "2 hours").select(
        F.col("event_id").alias("purchase_id"), F.col("user_id").alias("p_user"),
        F.col("ts").alias("p_ts"),
    )
    return c.join(
        p,
        (F.col("c_user") == F.col("p_user"))
        & (F.col("p_ts") >= F.col("c_ts"))
        & (F.col("p_ts") < F.col("c_ts") + F.expr(f"INTERVAL {horizon}")),
    ).select("click_id", "purchase_id", F.col("c_user").alias("user_id"), "c_ts", "p_ts")


def running_totals_per_user_tws(events: DataFrame) -> DataFrame:
    """transformWithStateInPandas twin of ``running_totals_per_user``
    — the Spark 4 stateful-processor API with explicit, typed,
    composable state (ValueState here; ListState/MapState/timers
    available), backed by the RocksDB state store.

    Prefer this over applyInPandasWithState on Spark 4+: state schema
    evolution, multiple state variables, and timers come for free.
    Runtime requires ``google.protobuf`` (the state-server worker
    protocol); the test suite skips where it is absent.
    """
    return _run_transform_with_state(events, _RUNNING)


# --- stateful Holt / CUSUM monitors (round 8, VERDICT r7 item 5) ----------

_CUSUM_SCHEMA = (
    "event_type string, n_days long, s_pos long, s_neg long, n_alarms long,"
    " n_late long"
)
_CUSUM_STATE = "n long, s_pos long, s_neg long, n_alarms long, last_day long"


def _cusum(baselines: dict, h_micro: int) -> _Monitor:
    def fold(key, state, pdfs):
        (event_type,) = key
        n, s_pos, s_neg, n_alarms, last_day = state
        mu = int(baselines.get(event_type, 0))
        days, last_day, n_late = _in_order(pdfs, "day", "x_micro", last_day)
        for _, x in days:
            d = x - mu
            s_pos = max(0, s_pos + d)
            s_neg = max(0, s_neg - d)
            if s_pos >= h_micro or s_neg >= h_micro:
                n_alarms += 1
            n += 1
        return (
            (n, s_pos, s_neg, n_alarms, last_day),
            (event_type, n, s_pos, s_neg, n_alarms, n_late),
        )

    return _Monitor("event_type", fold, (0, 0, 0, 0, -1), _CUSUM_SCHEMA, _CUSUM_STATE)


def cusum_monitor_per_type(
    daily: DataFrame, baselines: dict, h_micro: int
) -> DataFrame:
    """Streaming one-sided-pair CUSUM monitor per event type: the
    ONLINE twin of the batch ``events_cusum_changepoint`` retrospective
    (the batch query centers on the full-series mean it can see; a
    monitor centers on a FROZEN baseline — the standard train-then-
    watch deployment). State is the classic recursion
    ``S+ <- max(0, S+ + (x - mu))`` / ``S- <- max(0, S- - (x - mu))``
    in exact micro-units (pure int64 arithmetic, so stream-vs-batch
    equivalence is exact, not approximate), with an alarm counter at
    threshold ``h_micro``.

    ``daily`` rows are (event_type, day, x_micro) — the upstream daily
    aggregate (a watermarked tumbling window in production). Rows are
    processed in day order within each micro-batch; state carries the
    recursion across batches PLUS the last-processed day, so a
    micro-batch arriving out of event-time order is DETECTED instead
    of silently folded into the integer recursion (ADVICE r8): rows at
    or before the state's day are dropped and counted in the emitted
    ``n_late`` (in production that counter feeds the same alerting
    channel as the alarms; a watermarked upstream window makes it 0).
    Scale: state is 5 longs per event type — the smallest possible
    keyed state — and the emitted row per (type, batch) is Update-mode
    compatible.
    """
    return _run_apply_in_pandas(daily, _cusum(baselines, h_micro))


_HOLT_SCHEMA = (
    "event_type string, n_days long, level_micro long, trend_micro long,"
    " n_late long"
)
_HOLT_STATE = "n long, level long, trend long, last_day long"


def _fold_holt(key, state, pdfs):
    (event_type,) = key
    n, level, trend, last_day = state
    days, last_day, n_late = _in_order(pdfs, "day", "x_micro", last_day)
    for _, x in days:
        if n == 0:
            level, trend = x, 0
        else:
            new_level = (x + level + trend) // 2
            trend = (trend + (new_level - level)) // 2
            level = new_level
        n += 1
    return (n, level, trend, last_day), (event_type, n, level, trend, n_late)


_HOLT = _Monitor("event_type", _fold_holt, (0, 0, 0, -1), _HOLT_SCHEMA, _HOLT_STATE)


def holt_tracker_per_type(daily: DataFrame) -> DataFrame:
    """Streaming Holt linear smoother per event type (alpha = beta =
    1/2 as exact integer halving, matching the rational-coefficient
    discipline of the batch ``events_holt_linear_fit``): state is
    (level, trend) micro-units; each day folds in as
    ``l' = (x + l + b) div 2``, ``b' = (b + (l' - l)) div 2`` (floor
    division — deterministic, so the stream equals a single-pass batch
    recursion bit-for-bit). First observation seeds level = x,
    trend = 0.

    The sequential-looking recursion is exactly what a stateful
    streaming operator is FOR: per-key state advances in event-time
    order across micro-batches; the batch twin (a calendar-bounded
    per-type fold) verifies equivalence in tests. Like the CUSUM
    monitor, state carries the last-processed day: out-of-order
    micro-batch rows (day at or before it) are dropped and surfaced
    in ``n_late`` rather than silently corrupting the recursion
    (ADVICE r8).
    """
    return _run_apply_in_pandas(daily, _HOLT)


# --- stateful Page-Hinkley / incremental-OLS monitors (round 9, ----------
# --- VERDICT r8 item 6's streaming batch-twins) ---------------------------

_PH_SCHEMA = (
    "event_type string, n_days long, ph_t long, ph_max long, n_alarms long,"
    " n_late long"
)
_PH_STATE = "n long, m_t long, min_m long, ph_max long, n_alarms long, last_day long"


def _page_hinkley(baselines_milli: dict, delta_milli: int, h_milli: int) -> _Monitor:
    def fold(key, state, pdfs):
        (event_type,) = key
        n, m_t, min_m, ph_max, n_alarms, last_day = state
        mu = int(baselines_milli.get(event_type, 0))
        days, last_day, n_late = _in_order(pdfs, "day", "x", last_day)
        ph_t = m_t - min_m
        for _, x in days:
            m_t += 1000 * x - mu - delta_milli
            min_m = min(min_m, m_t)
            ph_t = m_t - min_m
            ph_max = max(ph_max, ph_t)
            if ph_t >= h_milli:
                n_alarms += 1
            n += 1
        return (
            (n, m_t, min_m, ph_max, n_alarms, last_day),
            (event_type, n, ph_t, ph_max, n_alarms, n_late),
        )

    return _Monitor("event_type", fold, (0, 0, 0, 0, 0, -1), _PH_SCHEMA, _PH_STATE, "ph")


def page_hinkley_monitor_per_type(
    daily: DataFrame, baselines_milli: dict, delta_milli: int, h_milli: int
) -> DataFrame:
    """Streaming Page-Hinkley upward-drift monitor per event type: the
    ONLINE twin of the batch ``stats_page_hinkley_orders``
    retrospective. The batch query centers on the full-series mean it
    can see; the monitor centers on a FROZEN per-type baseline (milli
    units) exactly like the CUSUM monitor above — m_t accumulates
    1000*x - mu_milli - delta_milli per day, PH_t = m_t - min m_t,
    with an alarm counter at threshold ``h_milli``.

    State is 6 longs per type (count, running sum, running min, max
    excursion, alarms, last day); pure int64 recursion so the stream
    equals the single-pass batch fold bit-for-bit. Out-of-order
    micro-batch rows are dropped and surfaced via ``n_late`` (same
    guard as the CUSUM/Holt trackers, ADVICE r8).
    """
    return _run_apply_in_pandas(
        daily, _page_hinkley(baselines_milli, delta_milli, h_milli)
    )


_OLS_SCHEMA = (
    "metric string, m long, slope_micro long, intercept_micro long, n_late long"
)
_OLS_STATE = "m long, sx long, sy long, sxy long, sxx long, last_w long"


def _half_up_int(num: int, den: int) -> int:
    mag = (2 * abs(num) + den) // (2 * den)
    return -mag if num < 0 else mag


def _fold_ols(key, state, pdfs):
    (metric,) = key
    m, sx, sy, sxy, sxx, last_w = state
    points, last_w, n_late = _in_order(pdfs, "w", "y_u", last_w, key=int)
    for w, y_u in points:
        m += 1
        sx += w
        sy += y_u
        sxy += w * y_u
        sxx += w * w
    num = m * sxy - sx * sy
    den = m * sxx - sx * sx
    slope = _half_up_int(num, den) if m >= 2 and den != 0 else 0
    intercept = (
        _half_up_int(sy * den - num * sx, m * den)
        if m >= 2 and den != 0
        else (sy if m == 1 else 0)
    )
    return (m, sx, sy, sxy, sxx, last_w), (metric, m, slope, intercept, n_late)


_OLS = _Monitor("metric", _fold_ols, (0, 0, 0, 0, 0, -1), _OLS_SCHEMA, _OLS_STATE, "ols")


def retention_ols_tracker(points: DataFrame) -> DataFrame:
    """Streaming incremental-OLS tracker: the ONLINE twin of the
    batch ``events_retention_decay_fit`` regression stage. Upstream
    (a watermarked weekly aggregate) emits matured retention points
    (metric, w, y_u) — offset in weeks, ln-retention in 1e-6 units —
    in offset order as each week's triangle completes; the tracker
    folds them into the five exact OLS sufficient statistics and
    emits the RUNNING slope/intercept after every micro-batch: the
    decay model refits continuously without ever rescanning history
    (that is what sufficient statistics are for).

    slope = (m*sxy - sx*sy)/(m*sxx - sx^2) and intercept =
    (sy*den - num*sx)/(m*den) are emitted as exact half-up 1e-6-unit
    integers computed from the int64 state — no float enters, so
    stream == batch closed form bit-for-bit. Rows at or below the
    state's last offset are dropped and flagged (``n_late``),
    protecting the monotone-maturation contract.
    """
    return _run_apply_in_pandas(points, _OLS)


# --- transformWithState twins of the round-9 monitors (round 10, ----------
# --- VERDICT r9 item 5's "wire transformWithState twins") -----------------


_ROCKSDB_PROVIDER = (
    "org.apache.spark.sql.execution.streaming.state.RocksDBStateStoreProvider"
)
_PROVIDER_KEY = "spark.sql.streaming.stateStore.providerClass"


class rocksdb_state_store:
    """Context manager: set the RocksDB state-store provider for the
    duration of STARTING a transformWithStateInPandas query, then
    restore the prior session value.

    transformWithState requires the RocksDB provider; the provider is
    captured per-query at ``.start()`` time, so the conf only needs to
    hold while the query starts. Plan builders below do NOT mutate
    session conf (ADVICE r10: a builder-time ``conf.set`` silently
    switched every later streaming query in the session — including the
    applyInPandasWithState monitors — to RocksDB). Callers wrap the
    ``writeStream...start()`` call:

        with rocksdb_state_store(spark):
            q = tws_df.writeStream...start()
    """

    def __init__(self, spark) -> None:
        self._spark = spark
        self._prior: str | None = None

    def __enter__(self) -> None:
        self._prior = self._spark.conf.get(_PROVIDER_KEY, None)
        self._spark.conf.set(_PROVIDER_KEY, _ROCKSDB_PROVIDER)

    def __exit__(self, *exc) -> None:
        if self._prior is None:
            self._spark.conf.unset(_PROVIDER_KEY)
        else:
            self._spark.conf.set(_PROVIDER_KEY, self._prior)


def page_hinkley_monitor_per_type_tws(
    daily: DataFrame, baselines_milli: dict, delta_milli: int, h_milli: int
) -> DataFrame:
    """transformWithStateInPandas twin of
    ``page_hinkley_monitor_per_type`` — identical int64 fold (same
    state tuple, same out-of-order guard, bit-identical output rows),
    expressed through the Spark 4 StatefulProcessor API with explicit
    typed ValueState on the RocksDB store. Prefer this on Spark 4+:
    state schema evolution, multiple state variables, and timers come
    for free; the applyInPandasWithState form remains the
    Spark 3-compatible twin. Requires google.protobuf at runtime
    (state-server worker protocol); tests skip where absent.
    """
    return _run_transform_with_state(
        daily, _page_hinkley(baselines_milli, delta_milli, h_milli)
    )


def retention_ols_tracker_tws(points: DataFrame) -> DataFrame:
    """transformWithStateInPandas twin of ``retention_ols_tracker`` —
    the same five exact int64 OLS sufficient statistics and the same
    monotone-offset guard, through the Spark 4 StatefulProcessor API
    (typed ValueState, RocksDB store). Output rows are bit-identical
    to the applyInPandasWithState form by construction: both fold the
    same integers in the same order and emit the same exact half-up
    slope/intercept.
    """
    return _run_transform_with_state(points, _OLS)


# ---------------------------------------------------------------------------
# Shewhart c-chart monitor (round-10 addition): the ONLINE twin of the
# batch dq_control_chart_daily retrospective audit
# ---------------------------------------------------------------------------

_CC_SCHEMA = (
    "event_type string, n_days long, n_high long, n_low long,"
    " last_flag long, n_late long"
)
_CC_STATE = "n long, s long, n_high long, n_low long, last_day long"


def _fold_cchart(key, state, pdfs):
    (event_type,) = key
    n, s, n_high, n_low, last_day = state
    days, last_day, n_late = _in_order(pdfs, "day", "x", last_day)
    last_flag = 0
    for _, x in days:
        n += 1
        s += x
        dev = n * x - s
        if dev * dev > 9 * s * n:
            if dev > 0:
                n_high += 1
                last_flag = 1
            else:
                n_low += 1
                last_flag = -1
        else:
            last_flag = 0
    return (
        (n, s, n_high, n_low, last_day),
        (event_type, n, n_high, n_low, last_flag, n_late),
    )


_CCHART = _Monitor("event_type", _fold_cchart, (0, 0, 0, 0, -1), _CC_SCHEMA, _CC_STATE, "cc")


def cchart_monitor_per_type(daily: DataFrame) -> DataFrame:
    """Streaming Shewhart c-chart per event type: as each day's count
    closes, fold it into the running (N, S) sufficient statistics and
    flag the day if it breaches the RUNNING Poisson 3σ limits —
    exactly the cross-multiplied integer test of the batch audit,
    (N·c − S)² > 9·S·N, with the day included in its own limits
    (prequential form; the batch ``dq_control_chart_daily`` is the
    retrospective twin that re-judges every day against the FINAL
    mean, so their violation counts agree in the limit but not day
    by day — that difference IS the online/offline distinction, not
    a bug).

    State is 4 longs + the last closed day; the fold is pure int64
    so the stream equals a single-pass batch recursion bit-for-bit.
    Out-of-order micro-batch rows are dropped and surfaced via
    ``n_late`` (the standing CUSUM/Holt/PH guard). last_flag is the
    most recent day's verdict (+1 high, −1 low, 0 in-control).
    """
    return _run_apply_in_pandas(daily, _CCHART)


def cchart_monitor_per_type_tws(daily: DataFrame) -> DataFrame:
    """transformWithStateInPandas twin of ``cchart_monitor_per_type``
    — identical int64 fold and out-of-order guard through the Spark 4
    StatefulProcessor API on the RocksDB store (the PH/OLS twin
    pattern). Requires google.protobuf at runtime; tests skip where
    absent.
    """
    return _run_transform_with_state(daily, _CCHART)


_EW_SCHEMA = (
    "event_type string, n_days long, ewma_micro long, n_high long,"
    " n_low long, last_flag long, n_late long"
)
_EW_STATE = "n long, s long, z long, n_high long, n_low long, last_day long"


def _fold_ewma(key, state, pdfs):
    (event_type,) = key
    n, s, z, n_high, n_low, last_day = state
    days, last_day, n_late = _in_order(pdfs, "day", "x", last_day)
    last_flag = 0
    for _, x in days:
        n += 1
        s += x
        if n == 1:
            z = 1_000_000 * x
        else:
            num = 1_000_000 * x + 7 * z
            z = (2 * num + 8) // 16  # half-up /8 (num >= 0)
        dev = n * z - 1_000_000 * s
        if 5 * dev * dev > 3 * 10**12 * s * n:
            if dev > 0:
                n_high += 1
                last_flag = 1
            else:
                n_low += 1
                last_flag = -1
        else:
            last_flag = 0
    return (
        (n, s, z, n_high, n_low, last_day),
        (event_type, n, z, n_high, n_low, last_flag, n_late),
    )


_EWMA = _Monitor("event_type", _fold_ewma, (0, 0, 0, 0, 0, -1), _EW_SCHEMA, _EW_STATE, "ew")


def ewma_monitor_per_type(daily: DataFrame) -> DataFrame:
    """Streaming EWMA control chart per event type — the SMALL-shift
    detector beside the Shewhart c-chart (``cchart_monitor_per_type``
    catches single large excursions; the EWMA accumulates a drifting
    mean long before any one day breaches 3σ — the classic paired
    deployment).

    Exact dyadic recursion: λ = 1/8, so z_t = half-up((1e6·x_t + 7·z_
    {t-1}) / 8) on int64 micro units (z_0 = 1e6·x_1) — a deterministic
    integer state machine, no float anywhere. The flag test uses the
    asymptotic Poisson EWMA limits |z − μ| > 3·sqrt(μ·λ/(2−λ)) with
    the running mean μ = S/N as the center line, cross-multiplied to
    the exact integer test 5·(N·z − 1e6·S)² > 3·10¹²·S·N (λ/(2−λ) =
    1/15; the day is included in its own limits — the prequential
    convention of the CUSUM/PH/c-chart monitors; asymptotic-width
    limits slightly under-flag the first few days by design, the
    standard steady-state EWMA-chart form).

    State is 5 longs + the last closed day; out-of-order micro-batch
    rows are dropped and surfaced via ``n_late`` (the standing guard).
    """
    return _run_apply_in_pandas(daily, _EWMA)


def ewma_monitor_per_type_tws(daily: DataFrame) -> DataFrame:
    """transformWithStateInPandas twin of ``ewma_monitor_per_type`` —
    identical int64 dyadic-EWMA state machine through the Spark 4
    StatefulProcessor API on the RocksDB store (the PH/OLS/c-chart
    twin pattern). Requires google.protobuf at runtime; tests skip
    where absent.
    """
    return _run_transform_with_state(daily, _EWMA)
