"""Structured Streaming tests: file-source micro-batches driven to
completion, streaming results compared against batch twins, custom
stateful operator, streaming fan-out, and the OpenSky DataSource.
"""

from __future__ import annotations

import numpy as np
import pandas as pd
import pytest

from pyspark.sql import functions as F

from mysql_public_data_ingestor_spark.streaming import windows as sw
from mysql_public_data_ingestor_spark.tables import Tables, load_table


@pytest.fixture(scope="module")
def events_stream(spark, sf_dir):
    from mysql_public_data_ingestor_spark.session import tune

    tune(spark)
    # normalize ts to a session-UTC TIMESTAMP exactly like the batch
    # loader, whichever physical form the fixture shipped with (raw
    # nanos long via nanosAsLong, or native TIMESTAMP_NTZ micros)
    from pyspark.sql.types import LongType

    raw_schema = spark.read.parquet(f"{sf_dir}/events.parquet").schema
    raw = (
        spark.readStream.schema(raw_schema)
        .format("parquet")
        .option("pathGlobFilter", "events.parquet")
        .load(sf_dir)
    )
    if isinstance(raw_schema["ts"].dataType, LongType):
        return raw.withColumn("ts", F.timestamp_micros(F.expr("ts div 1000")))
    return raw.withColumn("ts", F.col("ts").cast("timestamp"))


def run_to_memory(df, name: str, output_mode: str, rocksdb: bool = False):
    """Drain ``df`` into an in-memory sink. ``rocksdb=True`` starts the
    query under ``sw.rocksdb_state_store`` (required for
    transformWithStateInPandas) and restores the session's prior
    state-store provider afterwards — builders no longer mutate session
    conf (ADVICE r10)."""
    writer = (
        df.writeStream.format("memory")
        .queryName(name)
        .outputMode(output_mode)
    )
    if rocksdb:
        with sw.rocksdb_state_store(df.sparkSession):
            q = writer.start()
    else:
        q = writer.start()
    try:
        q.processAllAvailable()
    finally:
        q.stop()


def test_streaming_tumbling_equals_batch(spark, sf_dir, events_stream):
    run_to_memory(sw.tumbling_counts(events_stream), "tumbling_out", "append")
    got = spark.sql(
        "SELECT window_start, event_type, n_events, total_value FROM tumbling_out"
    )
    t = Tables(spark, sf_dir)
    expect = (
        t.events.groupBy(F.window("ts", "1 hour").alias("w"), "event_type")
        .agg(F.count(F.lit(1)).alias("n_events"))
        .select(F.col("w.start").alias("window_start"), "event_type", "n_events")
    )
    # append mode emits only windows closed by the final watermark; all
    # emitted windows must match the batch result exactly
    got_rows = {(r.window_start, r.event_type): r.n_events for r in got.collect()}
    exp_rows = {(r.window_start, r.event_type): r.n_events for r in expect.collect()}
    assert len(got_rows) > 0
    for k, v in got_rows.items():
        assert exp_rows[k] == v


def test_streaming_dedup_within_watermark(spark, events_stream):
    run_to_memory(sw.dedup_within_watermark(events_stream), "dedup_out", "append")
    got = spark.sql("SELECT user_id, event_type, count(*) AS n FROM dedup_out GROUP BY 1, 2")
    # at most one row per (user, type) within the watermark horizon;
    # fixture spans 30 days >> 1 h watermark, so re-emission across
    # horizons is allowed — but each micro-batch run over one file is a
    # single batch, so duplicates would collapse entirely
    assert got.filter(F.col("n") > 1).count() == 0


def test_streaming_session_window(spark, events_stream):
    run_to_memory(sw.session_counts(events_stream), "sess_out", "append")
    rows = spark.sql("SELECT * FROM sess_out").collect()
    assert len(rows) > 0
    # sessions are disjoint per user and each holds >= 1 event
    by_user: dict[int, list] = {}
    for r in rows:
        assert r.n_events >= 1
        by_user.setdefault(r.user_id, []).append((r.session_start, r.session_end))
    for spans in by_user.values():
        spans.sort()
        for (s1, e1), (s2, _) in zip(spans, spans[1:]):
            assert s2 >= e1, f"overlapping sessions: {(s1, e1)} vs {(s2, _)}"


def test_stateful_running_totals(spark, sf_dir, events_stream):
    run_to_memory(sw.running_totals_per_user(events_stream), "run_out", "update")
    got = spark.sql(
        "SELECT user_id, max_by(n_events, n_events) AS n FROM run_out GROUP BY user_id"
    )
    t = Tables(spark, sf_dir)
    expect = t.events.groupBy("user_id").agg(F.count(F.lit(1)).alias("n"))
    got_m = {r.user_id: r.n for r in got.collect()}
    exp_m = {r.user_id: r.n for r in expect.collect()}
    assert got_m == exp_m
    # the running total of value tracks the batch sum per user
    got_t = {
        r.user_id: r.total
        for r in spark.sql(
            "SELECT user_id, max_by(total_value, n_events) AS total FROM run_out"
            " GROUP BY user_id"
        ).collect()
    }
    exp_t = {
        r.user_id: r.total
        for r in t.events.groupBy("user_id").agg(F.sum("value").alias("total")).collect()
    }
    assert got_t.keys() == exp_t.keys()
    for user_id, total in exp_t.items():
        assert got_t[user_id] == pytest.approx(total, rel=1e-9), user_id


def test_streaming_fanout_foreachBatch(spark, sf_dir, tmp_path):
    from mysql_public_data_ingestor_spark.streaming.ingest import (
        ParquetSink,
        streaming_fanout_query,
    )
    from mysql_public_data_ingestor_spark.topology import SinkTarget

    # raw schema (ts as nanos long) — the fan-out is payload-agnostic
    schema = spark.read.parquet(f"{sf_dir}/events.parquet").schema
    stream = (
        spark.readStream.schema(schema)
        .format("parquet")
        .option("pathGlobFilter", "events.parquet")
        .load(sf_dir)
    )
    targets = [SinkTarget("db1", "t1"), SinkTarget("db1", "t2"), SinkTarget("db2", "t1")]
    q = streaming_fanout_query(
        stream,
        targets,
        ParquetSink(str(tmp_path / "out")),
        interval_s=1,
        checkpoint_dir=str(tmp_path / "ckpt"),
    ).start()
    try:
        q.processAllAvailable()
    finally:
        q.stop()
    n_src = load_table(spark, sf_dir, "events").count()
    for t in targets:
        got = spark.read.parquet(str(tmp_path / "out" / t.database / t.table))
        assert got.count() == n_src


def test_opensky_datasource_streaming(spark, tmp_path):
    # The Python DataSource driven for one micro-batch via the
    # file-replay transport (the reader runs in its own Python process,
    # so the fake endpoint must be option-driven, not monkeypatched).
    import json

    import mysql_public_data_ingestor_spark.sources.opensky as osky

    if not osky.DATASOURCE_AVAILABLE:
        pytest.skip("pyspark.sql.datasource missing")

    state = [1234567890, "abc123", "CALLSIGN", "Country", 1234567890, 1234567890,
             10.0, 20.0, 30.0, True, 40.0, 50.0, 60.0, None, 70.0, "SQUAWK", True, 1]
    payload = tmp_path / "snapshot.json"
    payload.write_text(json.dumps({"time": 1234567890, "states": [state, state]}))

    osky.register_datasource(spark)
    stream = (
        spark.readStream.format("opensky")
        .option("payload_file", str(payload))
        .load()
    )
    q = (
        stream.writeStream.format("memory")
        .queryName("osky_out")
        .outputMode("append")
        .trigger(availableNow=True)
        .start()
    )
    try:
        q.processAllAvailable()
    finally:
        q.stop()
    got = spark.sql("SELECT * FROM osky_out").collect()
    assert len(got) >= 2
    assert got[0].icao24 == "abc123"
    assert got[0].on_ground is True
    assert got[0].longitude == 10.0


def test_stream_static_join(spark, sf_dir, events_stream):
    from mysql_public_data_ingestor_spark.tables import load_table

    dim = load_table(spark, sf_dir, "customer").select("c_custkey", "c_mktsegment")
    run_to_memory(sw.stream_static_enrich(events_stream, dim), "enrich_out", "append")
    got = spark.sql("SELECT * FROM enrich_out")
    n_src = load_table(spark, sf_dir, "events").count()
    assert got.count() == n_src          # left join preserves every event
    assert got.filter(F.col("c_mktsegment").isNotNull()).count() > 0


def test_stream_stream_interval_join_equals_batch(spark, sf_dir, events_stream):
    from mysql_public_data_ingestor_spark.registry import all_queries

    clicks = events_stream.filter(F.col("event_type") == "click")
    purchases = events_stream.filter(F.col("event_type") == "purchase")
    run_to_memory(
        sw.stream_stream_interval_join(clicks, purchases), "ssj_out", "append"
    )
    got = {(r.click_id, r.purchase_id) for r in spark.sql("SELECT * FROM ssj_out").collect()}
    batch = all_queries()["events_interval_join"].fn(spark, sf_dir)
    expect = {(r.click_id, r.purchase_id) for r in batch.collect()}
    # a single-file stream closes all watermarks at end -> full equality
    assert got == expect


def test_opensky_batch_datasource(spark, tmp_path):
    import json

    import mysql_public_data_ingestor_spark.sources.opensky as osky

    if not osky.DATASOURCE_AVAILABLE:
        pytest.skip("pyspark.sql.datasource missing")

    state = [1234567890, "abc123", "CALLSIGN", "Country", 1234567890, 1234567890,
             10.0, 20.0, 30.0, True, 40.0, 50.0, 60.0, None, 70.0, "SQUAWK", True, 1]
    payload = tmp_path / "snap.json"
    payload.write_text(json.dumps({"time": 1, "states": [state] * 7}))
    osky.register_datasource(spark)
    df = spark.read.format("opensky").option("payload_file", str(payload)).load()
    rows = df.collect()
    assert len(rows) == 7
    assert rows[0].icao24 == "abc123"
    assert [f.name for f in df.schema.fields][:2] == ["time", "icao24"]


def test_stream_reader_spool_crash_replay(tmp_path):
    """ADVICE item: a crashed query's replayed epoch must reproduce the
    polled rows, not silently emit an empty batch. With spool_dir the
    rows are spilled before the offset is visible, so a FRESH reader
    instance (the restart) serves them from disk; commit cleans up."""
    import json as _json

    import mysql_public_data_ingestor_spark.sources.opensky as osky

    if not osky.DATASOURCE_AVAILABLE:
        pytest.skip("pyspark.sql.datasource missing")
    from mysql_public_data_ingestor_spark.sources.opensky import OpenSkyStreamReader

    state = [1234567890, "abc123", "CALLSIGN", "Country", 1234567890, 1234567890,
             10.0, 20.0, 30.0, True, 40.0, 50.0, 60.0, None, 70.0, "SQUAWK", True, 1]
    payload = tmp_path / "snap.json"
    payload.write_text(_json.dumps({"time": 1, "states": [state] * 3}))
    opts = {
        "payload_file": str(payload),
        "spool_dir": str(tmp_path / "spool"),
    }

    r1 = OpenSkyStreamReader(opts)
    start = r1.initialOffset()
    end = r1.latestOffset()
    # crash before processing: a NEW reader has empty in-memory state
    r2 = OpenSkyStreamReader(opts)
    parts = r2.partitions(start, end)
    rows = [row for p in parts for row in p.rows]
    assert len(rows) == 3
    assert rows[0][1] == "abc123"
    assert isinstance(rows[0][0], int)  # re-coerced to schema types
    # commit removes the spool file
    r2.commit(end)
    assert not list((tmp_path / "spool").glob("poll_*.json"))


def test_stream_reader_empty_poll_yields_partition(tmp_path):
    """An empty poll must still produce >=1 (empty) partition so the
    epoch materializes as an empty micro-batch, matching the batch
    reader's behavior."""
    import json as _json

    import mysql_public_data_ingestor_spark.sources.opensky as osky

    if not osky.DATASOURCE_AVAILABLE:
        pytest.skip("pyspark.sql.datasource missing")
    from mysql_public_data_ingestor_spark.sources.opensky import OpenSkyStreamReader

    payload = tmp_path / "empty.json"
    payload.write_text(_json.dumps({"time": 1, "states": []}))
    r = OpenSkyStreamReader({"payload_file": str(payload)})
    parts = r.partitions(r.initialOffset(), r.latestOffset())
    assert len(parts) == 1
    assert parts[0].rows == []


def test_streaming_incremental_dedup(spark, tmp_path):
    """Planted stream: one doc duplicating the base corpus, one internal
    duplicate pair, one unique doc -> sink receives exactly the unique
    doc plus one winner of the internal pair."""
    from mysql_public_data_ingestor_spark.streaming.corpus_stream import (
        base_hashes_from_documents,
        incremental_dedup_stream,
    )

    schema = "doc_id bigint, text string"
    base = spark.createDataFrame(
        [(1, "already ingested content")], schema
    )
    incoming = spark.createDataFrame(
        [
            (10, "already   INGESTED content"),   # dup of base (normalized)
            (11, "brand new content a"),
            (12, "brand new content a"),          # internal dup of 11
            (13, "brand new content b"),
        ],
        schema,
    )
    src = str(tmp_path / "stream_src")
    incoming.coalesce(1).write.mode("overwrite").parquet(src)

    stream = spark.readStream.schema(incoming.schema).format("parquet").load(src)
    kept = incremental_dedup_stream(stream, base_hashes_from_documents(base))
    q = (
        kept.writeStream.format("memory")
        .queryName("inc_dedup_out")
        .outputMode("append")
        .start()
    )
    try:
        q.processAllAvailable()
    finally:
        q.stop()
    rows = spark.sql("SELECT * FROM inc_dedup_out").collect()
    texts = sorted(r.text for r in rows)
    assert texts == ["brand new content a", "brand new content b"]
    assert {r.doc_id for r in rows} <= {11, 12, 13}


def test_stateful_running_totals_tws(spark, sf_dir, events_stream):
    """transformWithStateInPandas (Spark 4 StatefulProcessor) agrees
    with the batch aggregate — same check as the applyInPandasWithState
    twin, different state API.

    Requires google.protobuf (the API's state-server worker protocol);
    skipped where the dependency is absent — environment-imposed, the
    operator itself is complete."""
    pytest.importorskip("google.protobuf")
    run_to_memory(
        sw.running_totals_per_user_tws(events_stream), "tws_out", "update",
        rocksdb=True,
    )
    got = spark.sql(
        "SELECT user_id, max_by(n_events, n_events) AS n FROM tws_out GROUP BY user_id"
    )
    t = Tables(spark, sf_dir)
    expect = t.events.groupBy("user_id").agg(F.count(F.lit(1)).alias("n"))
    got_m = {r.user_id: r.n for r in got.collect()}
    exp_m = {r.user_id: r.n for r in expect.collect()}
    assert got_m == exp_m


def test_streaming_mv_maintenance_equals_batch(spark, sf_dir, tmp_path):
    """Per-priority MV maintained across micro-batches (one file per
    trigger) equals the from-scratch batch aggregate, and a replayed
    epoch is a no-op (no double counting)."""
    from mysql_public_data_ingestor_spark.streaming.mv import (
        latest_epoch,
        maintain_priority_mv,
        merge_epoch,
        read_mv,
    )

    orders = spark.read.parquet(f"{sf_dir}/orders.parquet")
    src = str(tmp_path / "orders_src")
    # two source files -> two micro-batches under maxFilesPerTrigger=1
    orders.filter(F.col("o_orderkey") % 2 == 0).coalesce(1).write.parquet(
        src + "/chunk=0"
    )
    orders.filter(F.col("o_orderkey") % 2 == 1).coalesce(1).write.parquet(
        src + "/chunk=1"
    )
    stream = (
        spark.readStream.schema(orders.schema)
        .format("parquet")
        .option("maxFilesPerTrigger", "1")
        .option("recursiveFileLookup", "true")
        .load(src)
    )
    mv_path = str(tmp_path / "mv")
    import pytest as _pytest

    with _pytest.raises(ValueError, match="checkpointLocation"):
        maintain_priority_mv(stream, mv_path, "")
    q = maintain_priority_mv(stream, mv_path, str(tmp_path / "ckpt")).start()
    try:
        q.processAllAvailable()
    finally:
        q.stop()
    assert latest_epoch(mv_path) >= 1  # really merged across >1 epoch

    got = {
        r.o_orderpriority: (r.n_orders, r.cents)
        for r in read_mv(spark, mv_path).collect()
    }
    cents = F.floor(F.col("o_totalprice") * 100.0 + F.lit(0.5)).cast("long")
    want = {
        r.o_orderpriority: (r.n, r.c)
        for r in orders.groupBy("o_orderpriority")
        .agg(F.count(F.lit(1)).alias("n"), F.sum(cents).alias("c"))
        .collect()
    }
    assert got == want

    # crash-replay of the last epoch: already folded -> no-op
    last = latest_epoch(mv_path)
    merge_epoch(orders.limit(10), last, mv_path)
    assert latest_epoch(mv_path) == last
    got2 = {
        r.o_orderpriority: (r.n_orders, r.cents)
        for r in read_mv(spark, mv_path).collect()
    }
    assert got2 == want

    # crash MID-WRITE of a new epoch: partial dir without _SUCCESS must
    # not count as committed, and the replayed merge must overwrite it.
    import os

    partial = os.path.join(mv_path, f"epoch={last + 1}")
    os.makedirs(partial)
    with open(os.path.join(partial, "part-garbage.parquet"), "w") as f:
        f.write("not parquet")
    assert latest_epoch(mv_path) == last  # partial epoch invisible
    extra = orders.limit(10)
    merge_epoch(extra, last + 1, mv_path)  # replay actually merges
    assert latest_epoch(mv_path) == last + 1
    cents10 = extra.select(F.sum(cents).alias("c"), F.count(F.lit(1)).alias("n")).first()
    got3 = read_mv(spark, mv_path).agg(
        F.sum("cents").alias("c"), F.sum("n_orders").alias("n")
    ).first()
    want_tot = orders.select(F.sum(cents).alias("c"), F.count(F.lit(1)).alias("n")).first()
    assert got3.n == want_tot.n + cents10.n
    assert got3.c == want_tot.c + cents10.c


def test_streaming_bitmap_mv_equals_batch_distinct(spark, sf_dir, tmp_path):
    """The streamed daily user-bitmap MV yields exactly the batch
    COUNT(DISTINCT) per day and overall, with the total derived by
    OR-merging the MV's partials (never re-reading events)."""
    from mysql_public_data_ingestor_spark.streaming.mv import (
        latest_epoch,
        maintain_user_bitmap_mv,
        read_bitmap_distinct,
    )

    events = spark.read.parquet(f"{sf_dir}/events.parquet")
    src = str(tmp_path / "events_src")
    events.filter(F.col("event_id") % 2 == 0).coalesce(1).write.parquet(src + "/chunk=0")
    events.filter(F.col("event_id") % 2 == 1).coalesce(1).write.parquet(src + "/chunk=1")
    stream = (
        spark.readStream.schema(events.schema)
        .format("parquet")
        .option("maxFilesPerTrigger", "1")
        .option("recursiveFileLookup", "true")
        .load(src)
    )
    mv_path = str(tmp_path / "bm_mv")
    q = maintain_user_bitmap_mv(stream, mv_path, str(tmp_path / "bm_ckpt")).start()
    try:
        q.processAllAvailable()
    finally:
        q.stop()
    assert latest_epoch(mv_path) >= 1  # merged across >1 micro-batch

    rows = read_bitmap_distinct(spark, mv_path).collect()
    got_daily = {r.day: r.n_users for r in rows if r.day is not None}
    got_total = [r.n_users for r in rows if r.day is None]
    want_daily = {
        r.day: r.n
        for r in events.groupBy(F.date_trunc("day", "ts").alias("day"))
        .agg(F.countDistinct("user_id").alias("n"))
        .collect()
    }
    assert got_daily == want_daily
    assert got_total == [events.select("user_id").distinct().count()]


def _daily_series(spark, sf_dir):
    t = Tables(spark, sf_dir)
    return (
        t.events.select(
            "event_type",
            F.to_date(F.col("ts")).cast("string").alias("day"),
            F.floor(F.col("value") * F.lit(1e6) + F.lit(0.5)).cast("long").alias("v_u"),
        )
        .groupBy("event_type", "day")
        .agg(F.sum("v_u").alias("x_micro"))
    )


def _two_batch_stream(spark, tmp_path, daily):
    """Write the daily series as two day-ordered files and stream them
    as two micro-batches (file source orders by mtime; pin it)."""
    import glob
    import os
    import time

    days = sorted(r.day for r in daily.select("day").distinct().collect())
    cut = days[len(days) // 2]
    src = str(tmp_path / "daily_src")
    daily.filter(F.col("day") < cut).coalesce(1).write.parquet(src + "/chunk=0")
    daily.filter(F.col("day") >= cut).coalesce(1).write.parquet(src + "/chunk=1")
    now = time.time()
    for i, chunk in enumerate(("chunk=0", "chunk=1")):
        for p in glob.glob(os.path.join(src, chunk, "*.parquet")):
            os.utime(p, (now - 60 + 30 * i,) * 2)
    return (
        spark.readStream.schema(daily.schema)
        .format("parquet")
        .option("maxFilesPerTrigger", "1")
        .option("recursiveFileLookup", "true")
        .load(src)
    )


def test_streaming_cusum_monitor_equals_batch_recursion(spark, sf_dir, tmp_path):
    """Stateful streaming CUSUM across two ordered micro-batches ==
    the single-pass integer recursion over the same day-ordered series
    (exact, not approximate — all state arithmetic is int64)."""
    daily = _daily_series(spark, sf_dir)
    rows = daily.collect()
    baselines, series = {}, {}
    for r in rows:
        series.setdefault(r.event_type, []).append((r.day, r.x_micro))
    for et, sr in series.items():
        baselines[et] = sum(x for _, x in sr) // len(sr)
    h = 10_000_000_000
    stream = _two_batch_stream(spark, tmp_path, daily)
    run_to_memory(
        sw.cusum_monitor_per_type(stream, baselines, h), "cusum_out", "update"
    )
    got = {
        r.event_type: (r.n_days, r.s_pos, r.s_neg, r.n_alarms)
        for r in spark.sql(
            "SELECT event_type, max_by(n_days, n_days) AS n_days,"
            " max_by(s_pos, n_days) AS s_pos, max_by(s_neg, n_days) AS s_neg,"
            " max_by(n_alarms, n_days) AS n_alarms FROM cusum_out GROUP BY 1"
        ).collect()
    }
    for et, sr in series.items():
        s_pos = s_neg = n_alarms = 0
        for _, x in sorted(sr):
            d = int(x) - baselines[et]
            s_pos = max(0, s_pos + d)
            s_neg = max(0, s_neg - d)
            if s_pos >= h or s_neg >= h:
                n_alarms += 1
        assert got[et] == (len(sr), s_pos, s_neg, n_alarms), et
    # ordered micro-batches: the out-of-order guard must fire nowhere
    assert spark.sql("SELECT sum(n_late) FROM cusum_out").collect()[0][0] == 0


def test_streaming_holt_tracker_equals_batch_recursion(spark, sf_dir, tmp_path):
    """Stateful streaming Holt smoother across two ordered
    micro-batches == the single-pass integer-halving recursion."""
    daily = _daily_series(spark, sf_dir)
    series: dict = {}
    for r in daily.collect():
        series.setdefault(r.event_type, []).append((r.day, r.x_micro))
    stream = _two_batch_stream(spark, tmp_path, daily)
    run_to_memory(sw.holt_tracker_per_type(stream), "holt_out", "update")
    got = {
        r.event_type: (r.n_days, r.level_micro, r.trend_micro)
        for r in spark.sql(
            "SELECT event_type, max_by(n_days, n_days) AS n_days,"
            " max_by(level_micro, n_days) AS level_micro,"
            " max_by(trend_micro, n_days) AS trend_micro FROM holt_out GROUP BY 1"
        ).collect()
    }
    for et, sr in series.items():
        n = level = trend = 0
        for _, x in sorted(sr):
            x = int(x)
            if n == 0:
                level, trend = x, 0
            else:
                new_level = (x + level + trend) // 2
                trend = (trend + (new_level - level)) // 2
                level = new_level
            n += 1
        assert got[et] == (n, level, trend), et
    assert spark.sql("SELECT sum(n_late) FROM holt_out").collect()[0][0] == 0


def _out_of_order_stream(spark, tmp_path, daily):
    """Two micro-batches in REVERSED event-time order: the LATER half
    of the days arrives first, the earlier half second."""
    import glob
    import os
    import time

    days = sorted(r.day for r in daily.select("day").distinct().collect())
    cut = days[len(days) // 2]
    src = str(tmp_path / "ooo_src")
    daily.filter(F.col("day") >= cut).coalesce(1).write.parquet(src + "/chunk=0")
    daily.filter(F.col("day") < cut).coalesce(1).write.parquet(src + "/chunk=1")
    now = time.time()
    for i, chunk in enumerate(("chunk=0", "chunk=1")):
        for p in glob.glob(os.path.join(src, chunk, "*.parquet")):
            os.utime(p, (now - 60 + 30 * i,) * 2)
    return (
        spark.readStream.schema(daily.schema)
        .format("parquet")
        .option("maxFilesPerTrigger", "1")
        .option("recursiveFileLookup", "true")
        .load(src)
    ), cut


def test_streaming_cusum_out_of_order_batch_flagged(spark, sf_dir, tmp_path):
    """A micro-batch arriving out of event-time order (days at or
    before the state's last-processed day) is DROPPED and counted in
    n_late instead of silently corrupting the integer recursion: the
    final state equals the recursion over the first (later-days) batch
    only, and n_late totals the stale rows per type (ADVICE r8)."""
    daily = _daily_series(spark, sf_dir)
    series: dict = {}
    for r in daily.collect():
        series.setdefault(r.event_type, []).append((r.day, r.x_micro))
    baselines = {et: sum(x for _, x in sr) // len(sr) for et, sr in series.items()}
    h = 10_000_000_000
    stream, cut = _out_of_order_stream(spark, tmp_path, daily)
    run_to_memory(
        sw.cusum_monitor_per_type(stream, baselines, h), "cusum_ooo_out", "update"
    )
    got = {
        r.event_type: (r.n_days, r.s_pos, r.s_neg, r.n_alarms, r.n_late)
        for r in spark.sql(
            "SELECT event_type, max_by(n_days, n_days) AS n_days,"
            " max_by(s_pos, n_days) AS s_pos, max_by(s_neg, n_days) AS s_neg,"
            " max_by(n_alarms, n_days) AS n_alarms,"
            " sum(n_late) AS n_late FROM cusum_ooo_out GROUP BY 1"
        ).collect()
    }
    for et, sr in series.items():
        s_pos = s_neg = n_alarms = 0
        later = sorted((d, x) for d, x in sr if d >= cut)
        for _, x in later:
            d = int(x) - baselines[et]
            s_pos = max(0, s_pos + d)
            s_neg = max(0, s_neg - d)
            if s_pos >= h or s_neg >= h:
                n_alarms += 1
        n_stale = len(sr) - len(later)
        assert got[et] == (len(later), s_pos, s_neg, n_alarms, n_stale), et


def test_streaming_holt_out_of_order_batch_flagged(spark, sf_dir, tmp_path):
    """Holt tracker twin of the out-of-order guard test: stale rows
    are flagged, the (level, trend) recursion reflects only the
    in-order prefix."""
    daily = _daily_series(spark, sf_dir)
    series: dict = {}
    for r in daily.collect():
        series.setdefault(r.event_type, []).append((r.day, r.x_micro))
    stream, cut = _out_of_order_stream(spark, tmp_path, daily)
    run_to_memory(sw.holt_tracker_per_type(stream), "holt_ooo_out", "update")
    got = {
        r.event_type: (r.n_days, r.level_micro, r.trend_micro, r.n_late)
        for r in spark.sql(
            "SELECT event_type, max_by(n_days, n_days) AS n_days,"
            " max_by(level_micro, n_days) AS level_micro,"
            " max_by(trend_micro, n_days) AS trend_micro,"
            " sum(n_late) AS n_late FROM holt_ooo_out GROUP BY 1"
        ).collect()
    }
    for et, sr in series.items():
        n = level = trend = 0
        later = sorted((d, x) for d, x in sr if d >= cut)
        for _, x in later:
            x = int(x)
            if n == 0:
                level, trend = x, 0
            else:
                new_level = (x + level + trend) // 2
                trend = (trend + (new_level - level)) // 2
                level = new_level
            n += 1
        assert got[et] == (n, level, trend, len(sr) - len(later)), et


def test_streaming_page_hinkley_equals_batch_recursion(spark, sf_dir, tmp_path):
    """Stateful streaming Page-Hinkley across two ordered micro-batches
    == the single-pass integer recursion over the same day-ordered
    per-type daily count series (exact int64 state)."""
    t = Tables(spark, sf_dir)
    daily = (
        t.events.select(
            "event_type", F.to_date(F.col("ts")).cast("string").alias("day")
        )
        .groupBy("event_type", "day")
        .agg(F.count(F.lit(1)).alias("x"))
    )
    rows = daily.collect()
    series: dict = {}
    for r in rows:
        series.setdefault(r.event_type, []).append((r.day, int(r.x)))
    baselines = {
        et: (1000 * sum(x for _, x in sr)) // len(sr) for et, sr in series.items()
    }
    delta, h = 500, 10_000_000
    stream = _two_batch_stream(spark, tmp_path, daily)
    run_to_memory(
        sw.page_hinkley_monitor_per_type(stream, baselines, delta, h),
        "ph_out",
        "update",
    )
    got = {
        r.event_type: (r.n_days, r.ph_t, r.ph_max, r.n_alarms)
        for r in spark.sql(
            "SELECT event_type, max_by(n_days, n_days) AS n_days,"
            " max_by(ph_t, n_days) AS ph_t, max_by(ph_max, n_days) AS ph_max,"
            " max_by(n_alarms, n_days) AS n_alarms FROM ph_out GROUP BY 1"
        ).collect()
    }
    for et, sr in series.items():
        m_t = min_m = ph_max = n_alarms = 0
        ph_t = 0
        for _, x in sorted(sr):
            m_t += 1000 * x - baselines[et] - delta
            min_m = min(min_m, m_t)
            ph_t = m_t - min_m
            ph_max = max(ph_max, ph_t)
            if ph_t >= h:
                n_alarms += 1
        assert got[et] == (len(sr), ph_t, ph_max, n_alarms), et
    assert spark.sql("SELECT sum(n_late) FROM ph_out").collect()[0][0] == 0


def test_streaming_retention_ols_tracker_equals_closed_form(spark, tmp_path):
    """Incremental-OLS tracker across two micro-batches == the exact
    closed-form fit over all points (state = five int64 sufficient
    statistics; slope/intercept are exact half-up 1e-6 integers)."""
    import glob
    import os
    import time

    pts = [
        (m, w, 5_000_000 - 300_000 * w + (17_000 * w * w if m == "b" else 0))
        for m in ("a", "b")
        for w in range(1, 9)
    ]
    pdf = spark.createDataFrame(pts, "metric string, w long, y_u long")
    src = str(tmp_path / "ols_src")
    pdf.filter(F.col("w") <= 4).coalesce(1).write.parquet(src + "/chunk=0")
    pdf.filter(F.col("w") > 4).coalesce(1).write.parquet(src + "/chunk=1")
    now = time.time()
    for i, chunk in enumerate(("chunk=0", "chunk=1")):
        for p in glob.glob(os.path.join(src, chunk, "*.parquet")):
            os.utime(p, (now - 60 + 30 * i,) * 2)
    stream = (
        spark.readStream.schema(pdf.schema)
        .format("parquet")
        .option("maxFilesPerTrigger", "1")
        .option("recursiveFileLookup", "true")
        .load(src)
    )
    run_to_memory(sw.retention_ols_tracker(stream), "ols_out", "update")
    got = {
        r.metric: (r.m, r.slope_micro, r.intercept_micro)
        for r in spark.sql(
            "SELECT metric, max_by(m, m) AS m,"
            " max_by(slope_micro, m) AS slope_micro,"
            " max_by(intercept_micro, m) AS intercept_micro"
            " FROM ols_out GROUP BY 1"
        ).collect()
    }

    def half_up(num, den):
        mag = (2 * abs(num) + den) // (2 * den)
        return -mag if num < 0 else mag

    for metric in ("a", "b"):
        sel = [(w, y) for m, w, y in pts if m == metric]
        m = len(sel)
        sx = sum(w for w, _ in sel)
        sy = sum(y for _, y in sel)
        sxy = sum(w * y for w, y in sel)
        sxx = sum(w * w for w, _ in sel)
        num, den = m * sxy - sx * sy, m * sxx - sx * sx
        assert got[metric] == (
            m,
            half_up(num, den),
            half_up(sy * den - num * sx, m * den),
        ), metric
    assert spark.sql("SELECT sum(n_late) FROM ols_out").collect()[0][0] == 0


def test_streaming_page_hinkley_tws_equals_apws(spark, sf_dir, tmp_path):
    """transformWithStateInPandas Page-Hinkley twin across two ordered
    micro-batches emits the same final per-type rows as the
    applyInPandasWithState monitor's fold (identical int64 recursion,
    different state API). Requires google.protobuf; skipped where
    absent."""
    pytest.importorskip("google.protobuf")
    t = Tables(spark, sf_dir)
    daily = (
        t.events.select(
            "event_type", F.to_date(F.col("ts")).cast("string").alias("day")
        )
        .groupBy("event_type", "day")
        .agg(F.count(F.lit(1)).alias("x"))
    )
    rows = daily.collect()
    series: dict = {}
    for r in rows:
        series.setdefault(r.event_type, []).append((r.day, int(r.x)))
    baselines = {
        et: (1000 * sum(x for _, x in sr)) // len(sr) for et, sr in series.items()
    }
    delta, h = 500, 10_000_000
    stream = _two_batch_stream(spark, tmp_path, daily)
    run_to_memory(
        sw.page_hinkley_monitor_per_type_tws(stream, baselines, delta, h),
        "ph_tws_out",
        "update",
        rocksdb=True,
    )
    got = {
        r.event_type: (r.n_days, r.ph_t, r.ph_max, r.n_alarms)
        for r in spark.sql(
            "SELECT event_type, max_by(n_days, n_days) AS n_days,"
            " max_by(ph_t, n_days) AS ph_t, max_by(ph_max, n_days) AS ph_max,"
            " max_by(n_alarms, n_days) AS n_alarms FROM ph_tws_out GROUP BY 1"
        ).collect()
    }
    for et, sr in series.items():
        m_t = min_m = ph_max = n_alarms = 0
        ph_t = 0
        for _, x in sorted(sr):
            m_t += 1000 * x - baselines[et] - delta
            min_m = min(min_m, m_t)
            ph_t = m_t - min_m
            ph_max = max(ph_max, ph_t)
            if ph_t >= h:
                n_alarms += 1
        assert got[et] == (len(sr), ph_t, ph_max, n_alarms), et
    assert spark.sql("SELECT sum(n_late) FROM ph_tws_out").collect()[0][0] == 0


def test_streaming_retention_ols_tws_equals_closed_form(spark, tmp_path):
    """transformWithStateInPandas OLS tracker == exact closed-form fit
    (same five int64 sufficient statistics as the
    applyInPandasWithState twin)."""
    pytest.importorskip("google.protobuf")
    import glob
    import os
    import time

    pts = [
        (m, w, 5_000_000 - 300_000 * w + (17_000 * w * w if m == "b" else 0))
        for m in ("a", "b")
        for w in range(1, 9)
    ]
    pdf = spark.createDataFrame(pts, "metric string, w long, y_u long")
    src = str(tmp_path / "ols_tws_src")
    pdf.filter(F.col("w") <= 4).coalesce(1).write.parquet(src + "/chunk=0")
    pdf.filter(F.col("w") > 4).coalesce(1).write.parquet(src + "/chunk=1")
    now = time.time()
    for i, chunk in enumerate(("chunk=0", "chunk=1")):
        for p in glob.glob(os.path.join(src, chunk, "*.parquet")):
            os.utime(p, (now - 60 + 30 * i,) * 2)
    stream = (
        spark.readStream.schema(pdf.schema)
        .format("parquet")
        .option("maxFilesPerTrigger", "1")
        .option("recursiveFileLookup", "true")
        .load(src)
    )
    run_to_memory(
        sw.retention_ols_tracker_tws(stream), "ols_tws_out", "update", rocksdb=True
    )
    got = {
        r.metric: (r.m, r.slope_micro, r.intercept_micro)
        for r in spark.sql(
            "SELECT metric, max_by(m, m) AS m,"
            " max_by(slope_micro, m) AS slope_micro,"
            " max_by(intercept_micro, m) AS intercept_micro"
            " FROM ols_tws_out GROUP BY 1"
        ).collect()
    }

    def half_up(num, den):
        mag = (2 * abs(num) + den) // (2 * den)
        return -mag if num < 0 else mag

    for metric in ("a", "b"):
        sel = [(w, y) for m, w, y in pts if m == metric]
        m = len(sel)
        sx = sum(w for w, _ in sel)
        sy = sum(y for _, y in sel)
        sxy = sum(w * y for w, y in sel)
        sxx = sum(w * w for w, _ in sel)
        num, den = m * sxy - sx * sy, m * sxx - sx * sx
        assert got[metric] == (
            m,
            half_up(num, den),
            half_up(sy * den - num * sx, m * den),
        ), metric
    assert spark.sql("SELECT sum(n_late) FROM ols_tws_out").collect()[0][0] == 0


def _cchart_fold(series):
    """Single-pass int64 reference of the c-chart monitor recursion."""
    n = s = n_high = n_low = 0
    last_flag = 0
    for _, x in sorted(series):
        n += 1
        s += int(x)
        dev = n * int(x) - s
        if dev * dev > 9 * s * n:
            if dev > 0:
                n_high += 1
                last_flag = 1
            else:
                n_low += 1
                last_flag = -1
        else:
            last_flag = 0
    return n, n_high, n_low, last_flag


def test_streaming_cchart_equals_batch_recursion(spark, sf_dir, tmp_path):
    """Stateful streaming Shewhart c-chart across two ordered
    micro-batches == the single-pass integer recursion over the same
    day-ordered per-type daily count series (running 3-sigma limits,
    cross-multiplied integer test — no float anywhere)."""
    t = Tables(spark, sf_dir)
    daily = (
        t.events.select(
            "event_type", F.to_date(F.col("ts")).cast("string").alias("day")
        )
        .groupBy("event_type", "day")
        .agg(F.count(F.lit(1)).alias("x"))
    )
    series: dict = {}
    for r in daily.collect():
        series.setdefault(r.event_type, []).append((r.day, int(r.x)))
    stream = _two_batch_stream(spark, tmp_path, daily)
    run_to_memory(sw.cchart_monitor_per_type(stream), "cc_out", "update")
    got = {
        r.event_type: (r.n_days, r.n_high, r.n_low, r.last_flag)
        for r in spark.sql(
            "SELECT event_type, max_by(n_days, n_days) AS n_days,"
            " max_by(n_high, n_days) AS n_high,"
            " max_by(n_low, n_days) AS n_low,"
            " max_by(last_flag, n_days) AS last_flag FROM cc_out GROUP BY 1"
        ).collect()
    }
    for et, sr in series.items():
        n, n_high, n_low, last_flag = _cchart_fold(sr)
        assert got[et] == (n, n_high, n_low, last_flag), et
    assert spark.sql("SELECT sum(n_late) FROM cc_out").collect()[0][0] == 0


def test_streaming_cchart_out_of_order_batch_flagged(spark, sf_dir, tmp_path):
    """Out-of-order guard: when the later half of the days arrives
    first, the earlier half is dropped and surfaced via n_late, and
    the fold reflects only the in-order prefix."""
    t = Tables(spark, sf_dir)
    daily = (
        t.events.select(
            "event_type", F.to_date(F.col("ts")).cast("string").alias("day")
        )
        .groupBy("event_type", "day")
        .agg(F.count(F.lit(1)).alias("x"))
    )
    series: dict = {}
    for r in daily.collect():
        series.setdefault(r.event_type, []).append((r.day, int(r.x)))
    stream, cut = _out_of_order_stream(spark, tmp_path, daily)
    run_to_memory(sw.cchart_monitor_per_type(stream), "cc_ooo_out", "update")
    got = {
        r.event_type: (r.n_days, r.n_high, r.n_low, r.n_late)
        for r in spark.sql(
            "SELECT event_type, max_by(n_days, n_days) AS n_days,"
            " max_by(n_high, n_days) AS n_high,"
            " max_by(n_low, n_days) AS n_low,"
            " sum(n_late) AS n_late FROM cc_ooo_out GROUP BY 1"
        ).collect()
    }
    for et, sr in series.items():
        later = [(d, x) for d, x in sr if d >= cut]
        n, n_high, n_low, _ = _cchart_fold(later)
        assert got[et] == (n, n_high, n_low, len(sr) - len(later)), et


def test_streaming_cchart_tws_twin_matches(spark, sf_dir, tmp_path):
    """transformWithStateInPandas twin == the applyInPandasWithState
    c-chart fold on the same two ordered micro-batches (identical
    int64 state machine through a different state API). Requires
    google.protobuf; skipped where absent."""
    pytest.importorskip("google.protobuf")
    t = Tables(spark, sf_dir)
    daily = (
        t.events.select(
            "event_type", F.to_date(F.col("ts")).cast("string").alias("day")
        )
        .groupBy("event_type", "day")
        .agg(F.count(F.lit(1)).alias("x"))
    )
    series: dict = {}
    for r in daily.collect():
        series.setdefault(r.event_type, []).append((r.day, int(r.x)))
    stream = _two_batch_stream(spark, tmp_path, daily)
    run_to_memory(
        sw.cchart_monitor_per_type_tws(stream), "cc_tws_out", "update", rocksdb=True
    )
    got = {
        r.event_type: (r.n_days, r.n_high, r.n_low, r.last_flag)
        for r in spark.sql(
            "SELECT event_type, max_by(n_days, n_days) AS n_days,"
            " max_by(n_high, n_days) AS n_high,"
            " max_by(n_low, n_days) AS n_low,"
            " max_by(last_flag, n_days) AS last_flag FROM cc_tws_out GROUP BY 1"
        ).collect()
    }
    for et, sr in series.items():
        n, n_high, n_low, last_flag = _cchart_fold(sr)
        assert got[et] == (n, n_high, n_low, last_flag), et


def _ewma_fold(series):
    """Single-pass int64 reference of the EWMA monitor recursion
    (dyadic lambda = 1/8, prequential asymptotic Poisson limits)."""
    n = s = z = n_high = n_low = 0
    last_flag = 0
    for _, x in sorted(series):
        n += 1
        s += int(x)
        if n == 1:
            z = 1_000_000 * int(x)
        else:
            num = 1_000_000 * int(x) + 7 * z
            z = (2 * num + 8) // 16
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
    return n, z, n_high, n_low, last_flag


def test_streaming_ewma_equals_batch_recursion(spark, sf_dir, tmp_path):
    """Stateful streaming EWMA chart across two ordered micro-batches
    == the single-pass integer recursion over the same day-ordered
    per-type daily count series (dyadic lambda, cross-multiplied
    integer limit test — no float anywhere). Float anchor: the integer
    EWMA tracks the float EWMA within one micro-quantum per step."""
    t = Tables(spark, sf_dir)
    daily = (
        t.events.select(
            "event_type", F.to_date(F.col("ts")).cast("string").alias("day")
        )
        .groupBy("event_type", "day")
        .agg(F.count(F.lit(1)).alias("x"))
    )
    series: dict = {}
    for r in daily.collect():
        series.setdefault(r.event_type, []).append((r.day, int(r.x)))
    stream = _two_batch_stream(spark, tmp_path, daily)
    run_to_memory(sw.ewma_monitor_per_type(stream), "ew_out", "update")
    got = {
        r.event_type: (r.n_days, r.ewma_micro, r.n_high, r.n_low, r.last_flag)
        for r in spark.sql(
            "SELECT event_type, max_by(n_days, n_days) AS n_days,"
            " max_by(ewma_micro, n_days) AS ewma_micro,"
            " max_by(n_high, n_days) AS n_high,"
            " max_by(n_low, n_days) AS n_low,"
            " max_by(last_flag, n_days) AS last_flag FROM ew_out GROUP BY 1"
        ).collect()
    }
    for et, sr in series.items():
        n, z, n_high, n_low, last_flag = _ewma_fold(sr)
        assert got[et] == (n, z, n_high, n_low, last_flag), et
        # float anchor: the quantized EWMA stays within n quanta of the
        # float recursion (half-up error <= 0.5 micro per step)
        zf = None
        for _, x in sorted(sr):
            zf = float(x) if zf is None else (float(x) + 7 * zf) / 8
        assert abs(z / 1e6 - zf) <= max(1e-3, 1e-6 * len(sr))
    assert spark.sql("SELECT sum(n_late) FROM ew_out").collect()[0][0] == 0


def test_streaming_ewma_out_of_order_batch_flagged(spark, sf_dir, tmp_path):
    """Out-of-order guard: when the later half of the days arrives
    first, the earlier half is dropped and surfaced via n_late."""
    t = Tables(spark, sf_dir)
    daily = (
        t.events.select(
            "event_type", F.to_date(F.col("ts")).cast("string").alias("day")
        )
        .groupBy("event_type", "day")
        .agg(F.count(F.lit(1)).alias("x"))
    )
    series: dict = {}
    for r in daily.collect():
        series.setdefault(r.event_type, []).append((r.day, int(r.x)))
    stream, cut = _out_of_order_stream(spark, tmp_path, daily)
    run_to_memory(sw.ewma_monitor_per_type(stream), "ew_ooo_out", "update")
    got = {
        r.event_type: (r.n_days, r.n_high, r.n_low, r.n_late)
        for r in spark.sql(
            "SELECT event_type, max_by(n_days, n_days) AS n_days,"
            " max_by(n_high, n_days) AS n_high,"
            " max_by(n_low, n_days) AS n_low,"
            " sum(n_late) AS n_late FROM ew_ooo_out GROUP BY 1"
        ).collect()
    }
    for et, sr in series.items():
        later = [(d, x) for d, x in sr if d >= cut]
        n, _, n_high, n_low, _ = _ewma_fold(later)
        assert got[et] == (n, n_high, n_low, len(sr) - len(later)), et


def test_streaming_ewma_tws_twin_matches(spark, sf_dir, tmp_path):
    """transformWithStateInPandas twin == the applyInPandasWithState
    EWMA fold on the same two ordered micro-batches. Requires
    google.protobuf; skipped where absent."""
    pytest.importorskip("google.protobuf")
    t = Tables(spark, sf_dir)
    daily = (
        t.events.select(
            "event_type", F.to_date(F.col("ts")).cast("string").alias("day")
        )
        .groupBy("event_type", "day")
        .agg(F.count(F.lit(1)).alias("x"))
    )
    series: dict = {}
    for r in daily.collect():
        series.setdefault(r.event_type, []).append((r.day, int(r.x)))
    stream = _two_batch_stream(spark, tmp_path, daily)
    run_to_memory(
        sw.ewma_monitor_per_type_tws(stream), "ew_tws_out", "update", rocksdb=True
    )
    got = {
        r.event_type: (r.n_days, r.ewma_micro, r.n_high, r.n_low, r.last_flag)
        for r in spark.sql(
            "SELECT event_type, max_by(n_days, n_days) AS n_days,"
            " max_by(ewma_micro, n_days) AS ewma_micro,"
            " max_by(n_high, n_days) AS n_high,"
            " max_by(n_low, n_days) AS n_low,"
            " max_by(last_flag, n_days) AS last_flag FROM ew_tws_out GROUP BY 1"
        ).collect()
    }
    for et, sr in series.items():
        n, z, n_high, n_low, last_flag = _ewma_fold(sr)
        assert got[et] == (n, z, n_high, n_low, last_flag), et


def test_ewma_monitor_state_survives_query_restart(spark, sf_dir, tmp_path):
    """Two availableNow runs of the EWMA monitor over one checkpoint,
    with the later half of the days added between them: the second run
    restores each type's state from the checkpoint, so its last row
    equals the single-pass recursion over ALL days."""
    t = Tables(spark, sf_dir)
    daily = (
        t.events.select(
            "event_type", F.to_date(F.col("ts")).cast("string").alias("day")
        )
        .groupBy("event_type", "day")
        .agg(F.count(F.lit(1)).alias("x"))
    )
    series: dict = {}
    for r in daily.collect():
        series.setdefault(r.event_type, []).append((r.day, int(r.x)))
    days = sorted({d for sr in series.values() for d, _ in sr})
    cut = days[len(days) // 2]
    src = str(tmp_path / "ew_restart_src")
    rows: list = []

    def run_once():
        stream = (
            spark.readStream.schema(daily.schema)
            .format("parquet")
            .option("recursiveFileLookup", "true")
            .load(src)
        )
        q = (
            sw.ewma_monitor_per_type(stream)
            .writeStream.foreachBatch(lambda df, _: rows.extend(df.collect()))
            .outputMode("update")
            .option("checkpointLocation", str(tmp_path / "ew_restart_ckpt"))
            .trigger(availableNow=True)
            .start()
        )
        try:
            q.awaitTermination()
        finally:
            q.stop()

    daily.filter(F.col("day") < cut).coalesce(1).write.parquet(src + "/chunk=0")
    run_once()
    n_first = len(rows)
    assert n_first > 0
    daily.filter(F.col("day") >= cut).coalesce(1).write.parquet(src + "/chunk=1")
    run_once()
    assert len(rows) > n_first
    last: dict = {}
    for r in rows:
        if r.event_type not in last or r.n_days > last[r.event_type].n_days:
            last[r.event_type] = r
    assert last.keys() == series.keys()
    for et, sr in series.items():
        r = last[et]
        assert (r.n_days, r.ewma_micro, r.n_high, r.n_low, r.last_flag) == _ewma_fold(sr), et
    assert sum(r.n_late for r in rows) == 0


# --- off-Spark drive of both state-API adapters ----------------------------
#
# A fake ``groupBy`` captures what each builder hands to Spark: the
# applyInPandasWithState function or the transformWithStateInPandas
# StatefulProcessor, with their keyword arguments. Fake GroupState,
# handle and ValueState objects then hold the state while the test feeds
# fixed micro-batch sequences key by key, so both adapters run on hosts
# without google.protobuf (which the transformWithState runtime needs).


def _plain(value):
    """numpy scalars to Python, as Spark's state serializer does."""
    return value.item() if hasattr(value, "item") else value


class _FakeGroupState:
    def __init__(self):
        self.value = None

    @property
    def exists(self):
        return self.value is not None

    @property
    def get(self):
        return tuple(self.value)

    def update(self, value):
        self.value = tuple(_plain(v) for v in value)


class _FakeValueState:
    """One ValueState; Spark scopes it to the key being processed."""

    def __init__(self):
        self.by_key: dict = {}
        self.key = None

    def exists(self):
        return self.key in self.by_key

    def get(self):
        return self.by_key[self.key] if self.exists() else None

    def update(self, value):
        self.by_key[self.key] = tuple(_plain(v) for v in value)


class _FakeHandle:
    def __init__(self):
        self.states: dict = {}

    def getValueState(self, name, schema):
        assert name not in self.states
        self.states[name] = (schema, _FakeValueState())
        return self.states[name][1]


class _FakeGrouped:
    def __init__(self, column):
        self.column = column

    def applyInPandasWithState(self, fn, **kwargs):
        return ("apply", self.column, fn, kwargs)

    def transformWithStateInPandas(self, **kwargs):
        return ("tws", self.column, kwargs.pop("statefulProcessor"), kwargs)


class _FakeFrame:
    def groupBy(self, column):
        return _FakeGrouped(column)


def _drive(plan, batches):
    """Run a captured plan over ``batches`` (each a {key: [frames]}) the
    way Spark does after shipping it to a worker: unpickle it once, then
    call it per key per micro-batch. Returns the emitted rows per batch,
    the final state per key and what the plan passed to Spark."""
    from pyspark import cloudpickle

    api, column, fn, kwargs = plan
    fn = cloudpickle.loads(cloudpickle.dumps(fn))
    emitted, states, handle = [], {}, _FakeHandle()
    if api == "tws":
        fn.init(handle)
        assert len(handle.states) == 1
        ((name, (schema, value_state)),) = handle.states.items()
    for batch in batches:
        rows = []
        for key, frames in batch.items():
            if api == "apply":
                state = states.setdefault(key, _FakeGroupState())
                out = fn((key,), iter(frames), state)
            else:
                value_state.key = key
                out = fn.handleInputRows((key,), iter(frames), None)
            for pdf in out:
                rows += [tuple(_plain(v) for v in r) for r in pdf.itertuples(index=False)]
        emitted.append(rows)
    if api == "apply":
        final = {k: s.value for k, s in states.items()}
        return emitted, final, column, kwargs, None
    return emitted, value_state.by_key, column, kwargs, (name, schema)


_DAYS = [f"2024-01-{d:02d}" for d in range(1, 11)]
_DAY_X = {
    "click": [10, 12, 9, 11, 60, 62, 61, 59, 63, 65],
    "view": [5, 5, 6, 4, 5, 6, 5, 4, 20, 5],
}


def _day_batches(value_col, scale):
    """Four micro-batches per event type over days 1-10: the first
    holds days 1-4 out of order in two frames, the second repeats day 4
    with another value, the third brings days 2 and 3 again (out of
    order) beside day 8, the last days 10 and 9. The guard must keep
    exactly days 1-10 with their first values; n_late per batch is
    0, 1, 2, 0."""

    def frame(key, picks):
        return pd.DataFrame(
            {
                "event_type": [key] * len(picks),
                "day": [_DAYS[d - 1] for d, _ in picks],
                value_col: np.array([x * scale for _, x in picks], dtype="int64"),
            }
        )

    batches = []
    for layout in (
        [[3, 1], [4, 2]],
        [[(4, 99), 5, 6, 7]],
        [[(2, 50), 8], [(3, 70)]],
        [[10, 9]],
    ):
        batch = {}
        for key, xs in _DAY_X.items():
            batch[key] = [
                frame(key, [p if isinstance(p, tuple) else (p, xs[p - 1]) for p in f])
                for f in layout
            ]
        batches.append(batch)
    series = {key: [(_DAYS[i], x * scale) for i, x in enumerate(xs)] for key, xs in _DAY_X.items()}
    return batches, series


def _ols_batches():
    def y(metric, w):
        return 5_000_000 - 300_000 * w + (17_000 * w * w if metric == "b" else 0)

    def frame(metric, picks):
        return pd.DataFrame(
            {
                "metric": [metric] * len(picks),
                "w": np.array([w for w, _ in picks], dtype="int64"),
                "y_u": np.array([v for _, v in picks], dtype="int64"),
            }
        )

    batches = []
    for layout in ([[3, 1], [2]], [[(2, 7), 4, 5]], [[(1, -3), 6]], [[8, 7]]):
        batches.append(
            {
                m: [frame(m, [p if isinstance(p, tuple) else (p, y(m, p)) for p in f]) for f in layout]
                for m in ("a", "b")
            }
        )
    return batches, {m: [(w, y(m, w)) for w in range(1, 9)] for m in ("a", "b")}


def _cusum_ref(series, mu, h):
    s_pos = s_neg = n_alarms = 0
    for _, x in sorted(series):
        d = int(x) - mu
        s_pos = max(0, s_pos + d)
        s_neg = max(0, s_neg - d)
        if s_pos >= h or s_neg >= h:
            n_alarms += 1
    return len(series), s_pos, s_neg, n_alarms


def _holt_ref(series):
    n = level = trend = 0
    for _, x in sorted(series):
        x = int(x)
        if n == 0:
            level, trend = x, 0
        else:
            new_level = (x + level + trend) // 2
            trend = (trend + (new_level - level)) // 2
            level = new_level
        n += 1
    return n, level, trend


def _ph_ref(series, mu, delta, h):
    m_t = min_m = ph_max = n_alarms = 0
    ph_t = 0
    for _, x in sorted(series):
        m_t += 1000 * x - mu - delta
        min_m = min(min_m, m_t)
        ph_t = m_t - min_m
        ph_max = max(ph_max, ph_t)
        if ph_t >= h:
            n_alarms += 1
    return len(series), ph_t, ph_max, n_alarms


def _ols_ref(points):
    def half_up(num, den):
        mag = (2 * abs(num) + den) // (2 * den)
        return -mag if num < 0 else mag

    m = len(points)
    sx = sum(w for w, _ in points)
    sy = sum(y for _, y in points)
    sxy = sum(w * y for w, y in points)
    sxx = sum(w * w for w, _ in points)
    num, den = m * sxy - sx * sy, m * sxx - sx * sx
    return m, half_up(num, den), half_up(sy * den - num * sx, m * den)


_CUSUM_MU = {"click": 35_000_000, "view": 6_000_000}
_PH_MU = {"click": 30_000, "view": 6_000}

# builder -> (args, group column, output schema, state schema, ValueState
# name of the _tws twin or None). The schema strings and names are the
# monitors' checkpoint format: they must never change.
_MONITORS = {
    "running_totals_per_user": (
        (), "user_id", "user_id long, n_events long, total_value double",
        "n long, total double", "totals",
    ),
    "cusum_monitor_per_type": (
        (_CUSUM_MU, 40_000_000), "event_type",
        "event_type string, n_days long, s_pos long, s_neg long, n_alarms long, n_late long",
        "n long, s_pos long, s_neg long, n_alarms long, last_day long", None,
    ),
    "holt_tracker_per_type": (
        (), "event_type",
        "event_type string, n_days long, level_micro long, trend_micro long, n_late long",
        "n long, level long, trend long, last_day long", None,
    ),
    "page_hinkley_monitor_per_type": (
        (_PH_MU, 500, 30_000), "event_type",
        "event_type string, n_days long, ph_t long, ph_max long, n_alarms long, n_late long",
        "n long, m_t long, min_m long, ph_max long, n_alarms long, last_day long", "ph",
    ),
    "retention_ols_tracker": (
        (), "metric",
        "metric string, m long, slope_micro long, intercept_micro long, n_late long",
        "m long, sx long, sy long, sxy long, sxx long, last_w long", "ols",
    ),
    "cchart_monitor_per_type": (
        (), "event_type",
        "event_type string, n_days long, n_high long, n_low long, last_flag long, n_late long",
        "n long, s long, n_high long, n_low long, last_day long", "cc",
    ),
    "ewma_monitor_per_type": (
        (), "event_type",
        "event_type string, n_days long, ewma_micro long, n_high long,"
        " n_low long, last_flag long, n_late long",
        "n long, s long, z long, n_high long, n_low long, last_day long", "ew",
    ),
}


def _oracle(builder, args):
    """Fixed batches for ``builder`` and, per key, the expected last
    emitted row (key and n_late left out) from the recursions above,
    which never import the package."""
    if builder == "running_totals_per_user":
        values = {1: [[2.5, 0.1], [7.0]], 2: [[1e-3]], 3: [[4.25, 4.25, 1.0], [0.3]]}
        batches = [
            {u: [pd.DataFrame({"user_id": np.array([u] * len(v), dtype="int64"), "value": v})
                 for v in frames]
             for u, frames in values.items()},
            {1: [pd.DataFrame({"user_id": np.array([1], dtype="int64"), "value": [3.0]})]},
        ]
        all_values = {u: [v for f in fr for v in f] for u, fr in values.items()}
        all_values[1].append(3.0)
        return batches, {u: (len(v), sum(v)) for u, v in all_values.items()}, None
    if builder == "retention_ols_tracker":
        batches, points = _ols_batches()
        return batches, {m: _ols_ref(p) for m, p in points.items()}, [0, 1, 1, 0]
    micro = builder in ("cusum_monitor_per_type", "holt_tracker_per_type")
    batches, series = _day_batches("x_micro" if micro else "x", 1_000_000 if micro else 1)
    ref = {
        "cusum_monitor_per_type": lambda et, sr: _cusum_ref(sr, args[0][et], args[1]),
        "holt_tracker_per_type": lambda et, sr: _holt_ref(sr),
        "page_hinkley_monitor_per_type": lambda et, sr: _ph_ref(sr, args[0][et], *args[1:]),
        "cchart_monitor_per_type": lambda et, sr: _cchart_fold(sr),
        "ewma_monitor_per_type": lambda et, sr: _ewma_fold(sr),
    }[builder]
    return batches, {et: ref(et, sr) for et, sr in series.items()}, [0, 1, 2, 0]


@pytest.mark.parametrize("builder", sorted(_MONITORS))
def test_monitor_adapters_off_spark(builder):
    """Each monitor's applyInPandasWithState form, driven off-Spark over
    micro-batches with an out-of-order batch and a repeated day, ends
    on the independent recursion's values and hands Spark the
    checkpoint-format schemas; its transformWithStateInPandas twin
    (where it has one) emits the same rows and keeps the same state in
    a ValueState of the same name, after a cloudpickle round-trip."""
    args, column, schema, state_schema, state_name = _MONITORS[builder]
    batches, want, late = _oracle(builder, args)
    rows, states, got_column, kwargs, _ = _drive(
        getattr(sw, builder)(_FakeFrame(), *args), batches
    )
    assert got_column == column
    assert kwargs == {
        "outputStructType": schema,
        "stateStructType": state_schema,
        "outputMode": "update",
        "timeoutConf": "NoTimeout",
    }
    last = {r[0]: r for batch in rows for r in batch}
    assert last.keys() == want.keys()
    for key, expected in want.items():
        got = last[key][1:-1] if late else last[key][1:]
        if builder == "running_totals_per_user":
            assert got[0] == expected[0]
            assert got[1] == pytest.approx(expected[1], rel=1e-12), key
        else:
            assert got == expected, key
        assert len(states[key]) == len(state_schema.split(","))
    if late:
        for key in want:
            assert [r[-1] for batch in rows for r in batch if r[0] == key] == late, key
        # the last field of every state is the last kept day or week
        last_key = 20240110 if column == "event_type" else 8
        assert {s[-1] for s in states.values()} == {last_key}
    if state_name is None:
        assert not hasattr(sw, builder + "_tws")
        return
    tws_rows, tws_states, tws_column, tws_kwargs, value_state = _drive(
        getattr(sw, builder + "_tws")(_FakeFrame(), *args), batches
    )
    assert tws_column == column
    assert tws_kwargs == {"outputStructType": schema, "outputMode": "Update", "timeMode": "None"}
    assert value_state == (state_name, state_schema)
    assert tws_rows == rows
    assert tws_states == states


@pytest.mark.parametrize("builder", ["cchart_monitor_per_type", "ewma_monitor_per_type"])
def test_repeated_day_in_one_batch_folds_first_arrival(builder):
    """A day that repeats inside one micro-batch is folded with the value
    that arrived first; the later copies count as late. One 60-row frame
    brings days 1-10 six times each in a fixed scattered order, each row's
    value recording its arrival, so any unstable sort of the frame keeps
    a later copy. Both adapters emit the same rows."""
    arrivals = [(i * 7) % 10 + 1 for i in range(60)]
    xs = [100 + 3 * i for i in range(60)]
    frame = pd.DataFrame(
        {
            "event_type": ["click"] * 60,
            "day": [_DAYS[d - 1] for d in arrivals],
            "x": np.array(xs, dtype="int64"),
        }
    )
    first = {}
    for d, x in zip(arrivals, xs):
        first.setdefault(d, x)
    series = [(_DAYS[d - 1], x) for d, x in sorted(first.items())]
    fold = {"cchart_monitor_per_type": _cchart_fold, "ewma_monitor_per_type": _ewma_fold}
    batches = [{"click": [frame]}]
    rows, _, _, _, _ = _drive(getattr(sw, builder)(_FakeFrame()), batches)
    assert rows == [[("click", *fold[builder](series), 50)]]
    tws_rows, _, _, _, _ = _drive(getattr(sw, builder + "_tws")(_FakeFrame()), batches)
    assert tws_rows == rows


def test_each_monitor_recursion_is_written_once():
    """The monitors share one applyInPandasWithState call, one
    transformWithStateInPandas call and one out-of-order guard."""
    import ast
    import inspect

    tree = ast.parse(inspect.getsource(sw))
    calls = [
        node.func.attr
        for node in ast.walk(tree)
        if isinstance(node, ast.Call) and isinstance(node.func, ast.Attribute)
    ]
    late_guards = [
        node
        for node in ast.walk(tree)
        if isinstance(node, ast.AugAssign)
        and isinstance(node.target, ast.Name)
        and node.target.id == "n_late"
        and isinstance(node.op, ast.Add)
        and isinstance(node.value, ast.Constant)
        and node.value.value == 1
    ]
    assert calls.count("applyInPandasWithState") == 1
    assert calls.count("transformWithStateInPandas") == 1
    assert len(late_guards) == 1
