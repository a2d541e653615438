"""Ingest engine tests: fan-out distribution, retry, schema-driven
synthetic records (mirrors main_test.go TestFetchAndDistributeData /
TestTableWorker and the disabled integration test's generateMockData,
FIXTURES.md A2/A3)."""

from __future__ import annotations

import gc
import json
import weakref
from contextlib import contextmanager

import pyarrow as pa
import pyarrow.parquet as pq
import pytest

from pyspark.sql import types as T

from mysql_public_data_ingestor_spark.config import DatabasesConfig, ExtraDatabase
from mysql_public_data_ingestor_spark.schema import FLIGHTS_SCHEMA, schema_from_mysql_map
from mysql_public_data_ingestor_spark.sources.batch import rows_to_table
from mysql_public_data_ingestor_spark.sources.opensky import OpenSkyPlugin
from mysql_public_data_ingestor_spark.streaming import ingest
from mysql_public_data_ingestor_spark.streaming.ingest import IngestEngine, ParquetSink
from mysql_public_data_ingestor_spark.topology import SinkTarget, expand_topology


def generate_mock_row(schema: T.StructType) -> tuple:
    """Schema-driven synthetic record, the engine twin of
    generateMockData (main_integration_test.go.disabled:67-90):
    INT->123456, VARCHAR->'test', FLOAT->1.23, BOOLEAN->True, JSON->'{}'."""
    out = []
    for f in schema.fields:
        if isinstance(f.dataType, (T.IntegerType, T.LongType)):
            out.append(123456)
        elif isinstance(f.dataType, T.DoubleType):
            out.append(1.23)
        elif isinstance(f.dataType, T.BooleanType):
            out.append(True)
        else:
            out.append("test" if f.name != "sensors" else "{}")
    return tuple(out)


class FlakyPlugin(OpenSkyPlugin):
    """Fails n times then returns a fixed batch."""

    def __init__(self, fail_times: int, rows: list[tuple]):
        super().__init__(http_get=lambda url, auth: b"")
        self.fail_times = fail_times
        self.batch = rows_to_table(rows, self.schema())
        self.calls = 0

    def fetch_rows(self) -> pa.Table:
        self.calls += 1
        if self.calls <= self.fail_times:
            raise ConnectionError("boom")
        return self.batch


@pytest.fixture()
def topology_cfg():
    return DatabasesConfig(
        prefix="test_prefix",
        table_prefix="data",
        copies=2,
        extra={"extra1": ExtraDatabase(tables=2)},
    )


def test_fanout_every_target_gets_every_batch(spark, tmp_path, topology_cfg):
    # TestFetchAndDistributeData semantics: one batch -> all channels
    rows = [generate_mock_row(FLIGHTS_SCHEMA) for _ in range(10)]
    plugin = FlakyPlugin(0, rows)
    targets = expand_topology(topology_cfg)
    sink = ParquetSink(str(tmp_path))
    eng = IngestEngine(spark=spark, plugin=plugin, targets=targets, sink=sink, sleep=lambda s: None)
    eng.run(max_batches=2)

    assert eng.batches_done == 2
    assert eng.rows_done == 20
    for t in targets:
        df = spark.read.parquet(str(tmp_path / t.database / t.table))
        assert df.count() == 20                      # both batches, replicated
        assert [f.name for f in df.schema.fields] == [f.name for f in FLIGHTS_SCHEMA.fields]
        row = df.limit(1).collect()[0]
        assert row.time == 123456 and row.on_ground is True


def test_fetch_retry_then_success(spark, tmp_path, topology_cfg):
    slept = []
    rows = [generate_mock_row(FLIGHTS_SCHEMA)]
    plugin = FlakyPlugin(3, rows)
    eng = IngestEngine(
        spark=spark,
        plugin=plugin,
        targets=expand_topology(topology_cfg)[:1],
        sink=ParquetSink(str(tmp_path)),
        retry_backoff_s=5.0,
        sleep=slept.append,
    )
    eng.run(max_batches=1)
    assert plugin.calls == 4
    assert slept[:3] == [5.0, 5.0, 5.0]   # the reference's 5 s backoff


def test_fetch_retry_exhaustion_raises(spark, topology_cfg):
    plugin = FlakyPlugin(99, [])
    eng = IngestEngine(
        spark=spark,
        plugin=plugin,
        targets=[],
        sink=lambda df, t: None,
        max_fetch_retries=3,
        sleep=lambda s: None,
    )
    with pytest.raises(ConnectionError):
        eng.fetch_with_retry()
    assert plugin.calls == 3


def test_empty_batch_skips_sinks(spark, topology_cfg):
    writes = []
    plugin = FlakyPlugin(0, [])
    eng = IngestEngine(
        spark=spark,
        plugin=plugin,
        targets=expand_topology(topology_cfg),
        sink=lambda df, t: writes.append(t),
        sleep=lambda s: None,
    )
    # an empty poll is a zero-row table and runs no Spark job
    with job_group(spark, "empty-poll") as jobs:
        eng.run(max_batches=1)
        assert jobs() == 0
    assert writes == []
    assert eng.rows_done == 0


def test_sink_contract_values(spark, tmp_path):
    # FIXTURES.md A3: field1 int, field2 varchar; row (1, "value") must
    # arrive at the named db.table exactly once
    schema = schema_from_mysql_map([("field1", "INT"), ("field2", "VARCHAR(50)")])

    class OneShot(OpenSkyPlugin):
        def fetch_rows(self):
            return rows_to_table([(1, "value")], schema)

        def schema(self):  # type: ignore[override]
            return schema

    eng = IngestEngine(
        spark=spark,
        plugin=OneShot(http_get=lambda u, a: b""),
        targets=[SinkTarget("test_db", "test_table")],
        sink=ParquetSink(str(tmp_path)),
        sleep=lambda s: None,
    )
    eng.run(max_batches=1)
    got = spark.read.parquet(str(tmp_path / "test_db" / "test_table")).collect()
    assert [(r.field1, r.field2) for r in got] == [(1, "value")]


# --- encode once: one pyarrow write per batch, byte-copied to every target ---


@contextmanager
def job_group(spark, group_id: str):
    sc = spark.sparkContext
    sc.setJobGroup(group_id, group_id)
    try:
        yield lambda: len(sc.statusTracker().getJobIdsForGroup(group_id))
    finally:
        sc.setLocalProperty("spark.jobGroup.id", None)
        sc.setLocalProperty("spark.job.description", None)


def part_files(path) -> list:
    return sorted(path.glob("part-*")) if path.is_dir() else []


FOUR_TARGETS = [SinkTarget("db1", "t"), SinkTarget("db2", "t"), SinkTarget("db3", "t"), SinkTarget("db3", "u")]


def snapshot(n: int, offset: int) -> pa.Table:
    base = generate_mock_row(FLIGHTS_SCHEMA)
    return rows_to_table([(base[0] + offset + i,) + base[1:] for i in range(n)], FLIGHTS_SCHEMA)


def engine_for(spark, targets, sink) -> IngestEngine:
    return IngestEngine(spark=spark, plugin=FlakyPlugin(0, []), targets=targets, sink=sink, sleep=lambda s: None)


def test_batch_is_encoded_once_and_byte_copied_to_every_target(spark, tmp_path):
    eng = engine_for(spark, FOUR_TARGETS, ParquetSink(str(tmp_path)))
    dirs = [tmp_path / t.database / t.table for t in FOUR_TARGETS]

    first = snapshot(30, 0)
    with job_group(spark, "encode-once-1") as jobs:
        assert eng.process_batch(first) == 30
        assert jobs() == 0
    files = [part_files(d) for d in dirs]
    assert all(len(f) == 1 for f in files)
    assert len({f[0].read_bytes() for f in files}) == 1

    # a different batch through the same sink is encoded afresh, not a
    # copy of the previous batch's file
    second = snapshot(20, 1000)
    with job_group(spark, "encode-once-2") as jobs:
        assert eng.process_batch(second) == 20
        assert jobs() == 0
    new = [sorted(set(part_files(d)) - set(f)) for d, f in zip(dirs, files)]
    assert all(len(f) == 1 for f in new)
    assert len({f[0].read_bytes() for f in new}) == 1
    assert new[0][0].read_bytes() != files[0][0].read_bytes()
    got = pq.read_table(new[0][0]).column("time").to_pylist()
    assert sorted(got) == second.column("time").to_pylist()
    for d in dirs:
        assert spark.read.parquet(str(d)).count() == 50
    assert (eng.batches_done, eng.rows_done) == (2, 50)


def test_zero_targets_counts_rows_without_a_spark_job(spark):
    eng = engine_for(spark, [], lambda df, t: None)
    with job_group(spark, "zero-targets") as jobs:
        assert eng.process_batch(snapshot(7, 0)) == 7
        assert jobs() == 0
    assert (eng.batches_done, eng.rows_done) == (1, 7)


def test_batch_reaches_spark_without_a_pandas_frame(spark, tmp_path, monkeypatch):
    # the poll's Arrow table goes to Spark as it is: no pandas frame on
    # the batch path, and no Spark job for all four targets
    import pandas

    class NoFrame:  # still a type, so isinstance checks against it work
        def __new__(cls, *args, **kwargs):
            raise AssertionError("pandas.DataFrame built on the ingest batch path")

    monkeypatch.setattr(pandas, "DataFrame", NoFrame)
    eng = engine_for(spark, FOUR_TARGETS, ParquetSink(str(tmp_path)))
    batch = snapshot(25, 0)
    with job_group(spark, "no-pandas") as jobs:
        assert eng.process_batch(batch) == 25
        assert jobs() == 0
    monkeypatch.undo()
    for t in FOUR_TARGETS:
        got = pq.read_table(tmp_path / t.database / t.table)
        assert got.num_rows == 25
        assert sorted(got.column("time").to_pylist()) == batch.column("time").to_pylist()



def test_finished_batch_is_not_kept_alive(spark, tmp_path):
    # once process_batch returns, neither the engine nor the sink holds
    # the batch's DataFrame (and with it the rows in the JVM), and the
    # frame -> table map no longer holds the batch's table
    sink, frames, recorded = ParquetSink(str(tmp_path)), [], []
    batch = snapshot(5, 0)

    def recording(df, target):
        frames.append(weakref.ref(df))
        recorded.append(ingest._BATCH_TABLES.get(df) is batch)
        sink(df, target)

    eng = engine_for(spark, FOUR_TARGETS, recording)
    assert eng.process_batch(batch) == 5
    gc.collect()
    assert len(frames) == 4 and all(f() is None for f in frames)
    assert recorded == [True] * 4
    assert all(t is not batch for t in ingest._BATCH_TABLES.values())

@pytest.mark.parametrize("k", [0, 2], ids=["first-spark-write", "later-copy"])
def test_sink_failure_on_target_k_stops_the_batch(spark, tmp_path, k):
    # a regular file where target k's directory belongs makes the sink
    # raise on k: in the first (pyarrow) write for k=0, in the byte copy
    # for k=2
    dirs = [tmp_path / t.database / t.table for t in FOUR_TARGETS]
    dirs[k].parent.mkdir(parents=True, exist_ok=True)
    dirs[k].write_text("obstruction")
    eng = engine_for(spark, FOUR_TARGETS, ParquetSink(str(tmp_path)))
    rows = snapshot(12, 0)

    with pytest.raises(Exception):
        eng.process_batch(rows)
    assert (eng.batches_done, eng.rows_done) == (0, 0)
    for d in dirs[:k]:
        assert spark.read.parquet(str(d)).count() == len(rows)
    for d in dirs[k:]:
        assert part_files(d) == []
    assert dirs[k].read_text() == "obstruction"

    # nothing is rolled back: re-delivering the batch reaches every
    # target, and the ones before k then hold it twice
    dirs[k].unlink()
    assert eng.process_batch(rows) == len(rows)
    assert (eng.batches_done, eng.rows_done) == (1, len(rows))
    for i, d in enumerate(dirs):
        assert spark.read.parquet(str(d)).count() == len(rows) * (2 if i < k else 1)


def test_repeated_target_raises_instead_of_overwriting_its_copy(spark, tmp_path):
    # the copy for the repeated target would land on the file the first
    # write committed under the same name; the sink refuses to replace it
    t = SinkTarget("db1", "t")
    eng = engine_for(spark, [t, SinkTarget("db2", "t"), t], ParquetSink(str(tmp_path)))
    with pytest.raises(FileExistsError):
        eng.process_batch(snapshot(5, 0))
    assert (eng.batches_done, eng.rows_done) == (0, 0)
    assert len(part_files(tmp_path / "db1" / "t")) == 1


# --- the Arrow-written file against Spark's, and the Spark fallback ---


def mixed_snapshot(n: int) -> pa.Table:
    """NaN and null doubles, null cells and ``sensors`` JSON strings.
    Every ``icao24`` is distinct, ``origin_country`` takes two values,
    and no ``longitude`` is positive except the NaNs (Spark reads NaN as
    larger than any number)."""
    col = {f.name: i for i, f in enumerate(FLIGHTS_SCHEMA.fields)}
    rows = []
    for i in range(n):
        r = list(generate_mock_row(FLIGHTS_SCHEMA))
        r[col["time"]] += i
        r[col["icao24"]] = f"{i:06x}"
        r[col["callsign"]] = None if i % 5 == 0 else f"CS{i % 7}"
        r[col["origin_country"]] = ("Germany", "France")[i % 2]
        r[col["longitude"]] = (float("nan"), None, -1.5 * i, -0.25)[i % 4]
        r[col["latitude"]] = None if i % 6 == 0 else i / 3
        r[col["velocity"]] = float("nan") if i % 9 == 0 else 200.0 + i
        r[col["sensors"]] = json.dumps([i, i + 1]) if i % 3 else None
        r[col["squawk"]] = None if i % 2 else f"{i:04d}"
        rows.append(tuple(r))
    return rows_to_table(rows, FLIGHTS_SCHEMA)


def test_arrow_written_target_reads_like_the_spark_written_one(spark, tmp_path):
    batch = mixed_snapshot(40)
    target = SinkTarget("db", "t")
    arrow_dir, spark_dir = tmp_path / "arrow" / "db" / "t", tmp_path / "spark" / "db" / "t"
    eng = engine_for(spark, [target], ParquetSink(str(tmp_path / "arrow")))
    with job_group(spark, "parity-arrow") as jobs:
        assert eng.process_batch(batch) == 40
        assert jobs() == 0
    # a frame the engine did not build takes the Spark write
    ParquetSink(str(tmp_path / "spark"))(
        spark.createDataFrame(batch, schema=FLIGHTS_SCHEMA).coalesce(1), target)
    assert (spark_dir / "_SUCCESS").exists()
    assert not (arrow_dir / "_SUCCESS").exists()  # the rename is the commit
    assert [p.name for p in arrow_dir.iterdir() if p.name.startswith(".")] == []

    a, s = spark.read.parquet(str(arrow_dir)), spark.read.parquet(str(spark_dir))
    want = [(f.name, f.dataType) for f in FLIGHTS_SCHEMA.fields]
    assert [(f.name, f.dataType) for f in a.schema.fields] == want
    assert [(f.name, f.dataType) for f in s.schema.fields] == want
    assert a.count() == s.count() == 40
    assert a.exceptAll(s).count() == 0 and s.exceptAll(a).count() == 0
    # the pushed-down filter must not skip the row group of the NaNs
    positive = s.filter("longitude > 0").count()
    assert positive == 10
    assert a.filter("longitude > 0").count() == positive
    assert a.filter("velocity > 1000").count() == s.filter("velocity > 1000").count() == 5

    (part,) = part_files(arrow_dir)
    meta = pq.ParquetFile(part).metadata
    assert meta.num_row_groups == 1
    chunks = {meta.schema.column(i).name: meta.row_group(0).column(i) for i in range(meta.num_columns)}
    assert not any("DICTIONARY" in e for e in chunks["icao24"].encodings)
    assert any("DICTIONARY" in e for e in chunks["origin_country"].encodings)
    assert chunks["icao24"].compression == "SNAPPY"
    assert chunks["latitude"].statistics.has_min_max
    assert not chunks["longitude"].is_stats_set


def test_frame_not_built_by_the_engine_takes_one_spark_write(spark, tmp_path):
    # a foreachBatch-style frame has no table on record: one Spark write
    # to the first target, then byte copies to the others
    sink = ParquetSink(str(tmp_path))
    batch = snapshot(15, 0)
    df = spark.createDataFrame(batch, schema=FLIGHTS_SCHEMA).coalesce(1)
    with job_group(spark, "foreign-frame") as jobs:
        for t in FOUR_TARGETS:
            sink(df, t)
        assert jobs() == 1
    files = [part_files(tmp_path / t.database / t.table) for t in FOUR_TARGETS]
    assert all(len(f) == 1 for f in files)
    assert len({f[0].read_bytes() for f in files}) == 1
    assert sorted(pq.read_table(files[3][0]).column("time").to_pylist()) == batch.column("time").to_pylist()


def test_table_outside_the_plugin_schema_takes_the_spark_write(spark, tmp_path):
    # Spark casts a bigint column that arrives as int32; a file written
    # from the table as it is would hold int32, so Spark writes it
    batch = snapshot(10, 0)
    narrow = batch.set_column(0, "time", batch.column("time").cast(pa.int32()))
    eng = engine_for(spark, FOUR_TARGETS, ParquetSink(str(tmp_path)))
    with job_group(spark, "other-schema") as jobs:
        assert eng.process_batch(narrow) == 10
        assert jobs() == 1
    files = [part_files(tmp_path / t.database / t.table) for t in FOUR_TARGETS]
    assert all(len(f) == 1 for f in files)
    assert len({f[0].read_bytes() for f in files}) == 1
    got = pq.read_table(files[0][0])
    assert got.schema.field("time").type == pa.int64()
    assert sorted(got.column("time").to_pylist()) == batch.column("time").to_pylist()
