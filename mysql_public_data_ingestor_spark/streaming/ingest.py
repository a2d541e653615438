"""Micro-batch ingestion engine: poll source -> broadcast fan-out to N
sink targets.

Reference pipeline being re-expressed (SURVEY §3):
  - poll loop with interval + retry/backoff (main.go:101-127) ->
    ``IngestEngine.run`` with bounded fetch retries, or Structured
    Streaming ``trigger(processingTime=interval)`` driving the source;
  - broadcast distribute: every batch to every (db, table) channel
    (main.go:129-158) -> the SAME DataFrame object handed to every sink
    target. ``IngestEngine`` builds it from the poll's Arrow table,
    already decoded in the driver (a local relation, no pandas frame
    and no per-row serialization), so no target can re-poll the source.
    The ``foreachBatch`` variants persist the batch, because there a
    sink that re-evaluates the frame would recompute (re-poll!) the
    streaming source once per target (SURVEY §4, the one semantic trap);
  - transactional insert per table (main.go:160-212) -> one partition
    per batch, so each target gets one JDBC transaction or one
    atomically committed parquet file per batch. ``ParquetSink`` writes
    an engine batch's file with pyarrow from the poll's table, with no
    Spark job, and byte-copies it to the other targets; Spark writes
    only frames the engine did not build (the ``foreachBatch`` paths);
  - bounded demo run (main.go:49-50) -> ``run(duration_s=...)``.

Backpressure is structural: micro-batch N+1 does not start until every
sink of batch N finished — the reference's unbounded fire-and-forget
goroutines (main.go:152-154) cannot pile up here.
"""

from __future__ import annotations

import os
import time
import uuid
import weakref
from dataclasses import dataclass, field
from typing import Callable, Optional

import pyarrow as pa
import pyarrow.compute as pc
import pyarrow.parquet as pq
from pyspark import StorageLevel
from pyspark.sql import DataFrame, SparkSession
from pyspark.sql.pandas.types import to_arrow_schema

from ..logging_util import get_logger
from ..sources.registry import SourcePlugin

SinkWriter = Callable[[DataFrame, "object"], None]

log = get_logger("ingest")

# frame -> the Arrow table ``process_batch`` built it from. Weak on the
# frame: an entry, and with it the table, goes when its batch does.
_BATCH_TABLES: "weakref.WeakKeyDictionary[DataFrame, pa.Table]" = weakref.WeakKeyDictionary()


@dataclass
class ParquetSink:
    """Filesystem stand-in for the MySQL table sink: each batch is
    appended to ``<path>/<database>/<table>``.

    A batch is encoded once, whatever the number of targets, and with no
    Spark job when the engine built it. The first call with a given
    DataFrame object writes the batch's file into its target:

    - A frame ``process_batch`` built from a table in the plugin's Arrow
      schema, bound for a ``file`` filesystem, is written by pyarrow
      from that table (``_write_arrow``). The settings follow Spark's
      writer: snappy, statistics, one row group, and a dictionary only
      where it pays. No ``_SUCCESS`` marker and no Spark row-metadata
      key are written: the rename of the hidden ``.part-*.writing`` file
      to its ``part-*`` name is the commit, and Spark reads the schema
      from the Parquet types.
    - Any other frame (a ``foreachBatch`` batch, another filesystem, a
      table in another schema) takes one Spark append, and the sink
      records the ``part-*`` files it committed (the target directory
      listed before and after the write).

    A later call with the *same* object copies those files byte for byte
    into its own target instead of encoding again. The rule is: same
    DataFrame object => same batch => same bytes in every target, which
    is stricter broadcast semantics than re-evaluating the frame once
    per target. Each copy is written under a hidden ``.``-prefixed name
    and then renamed, so readers never see a torn file. Copies and
    renames go through the session's Hadoop ``FileSystem``, so any URI
    Spark can write works. The sink keeps only a weak reference to the
    last batch's DataFrame: it does not keep a finished batch (and its
    rows in the JVM) alive, and a later batch cannot be mistaken for it
    by a reused object id.
    """

    path: str
    _last_df: Optional[weakref.ref] = field(default=None, init=False, repr=False, compare=False)
    _last_files: list = field(default_factory=list, init=False, repr=False, compare=False)

    def __call__(self, df: DataFrame, target) -> None:
        jvm = df.sparkSession._jvm  # type: ignore[union-attr]
        conf = df.sparkSession._jsc.hadoopConfiguration()  # type: ignore[union-attr]
        hadoop = jvm.org.apache.hadoop.fs  # resolved once: each package hop is a py4j call
        out = hadoop.Path(f"{self.path}/{target.database}/{target.table}")
        fs = out.getFileSystem(conf)
        if self._last_df is not None and self._last_df() is df:
            for src in self._last_files:
                name = src.rsplit("/", 1)[1]
                tmp, dst = hadoop.Path(out, f".{name}.copying"), hadoop.Path(out, name)
                if fs.exists(dst):
                    raise FileExistsError(f"{dst.toString()} already holds this batch")
                try:
                    hadoop.FileUtil.copy(fs, hadoop.Path(src), fs, tmp, False, conf)
                    if not fs.rename(tmp, dst):
                        raise OSError(f"could not rename {tmp.toString()} to {dst.toString()}")
                except BaseException:
                    fs.delete(tmp, False)
                    raise
            return
        self._last_df = None
        table, uri = _BATCH_TABLES.get(df), fs.makeQualified(out).toUri()
        if table is not None and uri.getScheme() == "file":
            self._last_files = [_write_arrow(table, hadoop, fs, out, uri.getPath())]
        else:
            before = _part_files(jvm, hadoop, fs, out)
            df.write.mode("append").parquet(out.toString())
            self._last_files = sorted(_part_files(jvm, hadoop, fs, out) - before)
        self._last_df = weakref.ref(df)


def _write_arrow(table: pa.Table, hadoop, fs, out, local_dir: str) -> str:
    """Write ``table`` as one new ``part-*`` file in the local directory
    ``out`` (``local_dir`` on disk) and return the file's path.

    pyarrow writes a hidden ``.part-*.writing`` file, which the Hadoop
    ``FileSystem`` then renames to Spark's file name; a failed write
    leaves nothing behind."""
    name = f"part-00000-{uuid.uuid4()}-c000.snappy.parquet"
    os.makedirs(local_dir, exist_ok=True)
    tmp = os.path.join(local_dir, f".{name}.writing")
    dst = hadoop.Path(out, name)
    try:
        pq.write_table(table, tmp, **_writer_options(table))
        if not fs.rename(hadoop.Path(out, f".{name}.writing"), dst):
            raise OSError(f"could not rename {tmp} to {dst.toString()}")
    except BaseException:
        if os.path.exists(tmp):
            os.remove(tmp)
        raise
    return dst.toString()


def _writer_options(table: pa.Table) -> dict:
    """pyarrow writer settings that give the file Spark's writer would
    (parquet-mr: snappy, statistics, one row group per batch).

    - Dictionary: parquet-mr falls back to PLAIN on a high-cardinality
      column, where pyarrow would dictionary-encode every column (and
      write larger files than Spark). A column gets a dictionary only
      when its distinct values are at most half its non-null cells.
    - Statistics: pyarrow leaves NaN out of a double column's min/max,
      parquet-mr does not, and Spark's pushed-down filters read ``NaN``
      as larger than any number. A column holding NaN gets no statistics,
      so ``x > 0`` cannot skip a row group whose only positive rows are
      NaN.
    - No ``ARROW:schema`` key: Spark reads the Parquet types, and the
      key only adds bytes to every file.
    """
    dictionary, statistics = [], []
    for name, column in zip(table.column_names, table.columns):
        if 2 * pc.count_distinct(column).as_py() <= len(column) - column.null_count:
            dictionary.append(name)
        if not (pa.types.is_floating(column.type) and pc.any(pc.is_nan(column)).as_py()):
            statistics.append(name)
    return {
        "compression": "snappy",
        "use_dictionary": dictionary,
        "write_statistics": statistics,
        "row_group_size": table.num_rows,
        "store_schema": False,
    }


def _part_files(jvm, hadoop, fs, out) -> set[str]:
    """Paths of the ``part-*`` files directly under ``out`` (none if it
    does not exist), fetched with a constant number of py4j calls
    however many batches the directory already holds."""
    if not fs.exists(out):
        return set()
    paths = hadoop.FileUtil.stat2Paths(fs.listStatus(out))
    listed = jvm.scala.collection.immutable.ArraySeq.unsafeWrapArray(paths).mkString("\n").split("\n")
    return {p for p in listed if p.rsplit("/", 1)[1].startswith("part-")}


@dataclass
class JdbcSink:
    cfg: "object"
    batch_size: int = 1000

    def __call__(self, df: DataFrame, target) -> None:
        from ..sources.jdbc import jdbc_append

        jdbc_append(df, self.cfg, target, self.batch_size).save()


@dataclass
class IngestEngine:
    """Drives plugin polls into a replicated fan-out of sink targets.

    Partial sink failure: the targets are written in order, and a sink
    that raises on target k of N stops the batch there. ``process_batch``
    re-raises; ``batches_done`` and ``rows_done`` do not advance; targets
    0..k-1 keep the batch (their writes already committed) and targets
    k..N-1 do not get it. Nothing is rolled back, so handing the same
    table to ``process_batch`` again delivers it to every target and
    targets 0..k-1 then hold it twice: delivery is at-least-once per
    target. ``idempotent_fanout_query`` gives exactly-once.
    """

    spark: SparkSession
    plugin: SourcePlugin
    targets: list
    sink: SinkWriter
    max_fetch_retries: int = 5
    retry_backoff_s: float = 5.0
    sleep: Callable[[float], None] = time.sleep
    batches_done: int = field(default=0, init=False)
    rows_done: int = field(default=0, init=False)

    def fetch_with_retry(self) -> pa.Table:
        """reference: warn + 5 s sleep + retry on fetch error
        (main.go:111-122); bounded here so failures surface."""
        attempt = 0
        while True:
            try:
                return self.plugin.fetch_rows()
            except Exception as e:
                attempt += 1
                if attempt >= self.max_fetch_retries:
                    log.error("fetch failed after %d attempts: %s", attempt, e)
                    raise
                log.warning(
                    "fetch error (attempt %d/%d), retrying in %.1fs: %s",
                    attempt, self.max_fetch_retries, self.retry_backoff_s, e,
                )
                self.sleep(self.retry_backoff_s)

    def process_batch(self, table: pa.Table) -> int:
        """One micro-batch: the poll's table -> one single-partition
        DataFrame -> every sink target, in order. Returns its row count.

        An empty poll still counts as a completed batch (the loop's
        progress/bound accounting must advance or ``run(max_batches=N)``
        would spin forever on a quiet source), but runs no Spark job."""
        n = table.num_rows
        if n:
            # the table goes to the JVM as Arrow batches as it is; one
            # partition: one file (or JDBC transaction) per target
            schema = self.plugin.schema()
            df = self.spark.createDataFrame(table, schema=schema).coalesce(1)
            if table.schema.equals(to_arrow_schema(schema)):
                _BATCH_TABLES[df] = table  # ParquetSink writes it without Spark
            for target in self.targets:
                self.sink(df, target)
        self.batches_done += 1
        self.rows_done += n
        log.info("batch %d: %d rows -> %d sinks", self.batches_done, n, len(self.targets))
        return n

    def run(self, duration_s: Optional[float] = None, max_batches: Optional[int] = None) -> None:
        """Poll loop with the plugin's interval (reference: main.go:101-127;
        bounded like the 60 s demo run, main.go:49-50)."""
        deadline = time.monotonic() + duration_s if duration_s else None
        while True:
            if max_batches is not None and self.batches_done >= max_batches:
                return
            if deadline is not None and time.monotonic() >= deadline:
                return
            self.process_batch(self.fetch_with_retry())
            interval = max(self.plugin.interval(), 0)
            if interval:
                self.sleep(interval)


def streaming_fanout_query(
    stream_df: DataFrame,
    targets: list,
    sink: SinkWriter,
    interval_s: int,
    checkpoint_dir: str,
):
    """Structured-Streaming variant: foreachBatch fan-out with persist.

    Use with any streaming source (the OpenSky DataSource, rate, files).
    """

    def write_all(batch_df: DataFrame, epoch_id: int) -> None:
        batch_df.persist(StorageLevel.MEMORY_AND_DISK)
        try:
            for target in targets:
                sink(batch_df, target)
        finally:
            batch_df.unpersist()

    return (
        stream_df.writeStream.foreachBatch(write_all)
        .option("checkpointLocation", checkpoint_dir)
        .trigger(processingTime=f"{interval_s} seconds")
    )


@dataclass
class IdempotentParquetSink:
    """Exactly-once parquet sink for ``foreachBatch``: one directory per
    (target, epoch), skipped if already committed.

    ``foreachBatch`` is at-least-once — after a crash the same epoch
    replays. Keying the write by epoch id and skipping committed epochs
    makes the replay duplicate-free (the JDBC analog: an epoch column +
    `INSERT ... ON DUPLICATE KEY` / staging-table swap keyed by epoch).

    End-to-end exactly-once additionally requires the SOURCE to
    reproduce the replayed epoch's rows: pair with
    ``OpenSkyStreamReader``'s ``spool_dir`` option (polled rows spilled
    to disk before the offset is visible). Without a spool the source
    replays an in-flight epoch as empty — duplicate-free but
    at-most-once for that poll window.
    """

    path: str

    def write_batch(self, df: DataFrame, epoch_id: int, target) -> None:
        out = f"{self.path}/{target.database}/{target.table}/epoch={epoch_id}"
        marker = f"{out}/_SUCCESS"
        jvm_path = df.sparkSession._jvm.org.apache.hadoop.fs.Path(marker)  # type: ignore[union-attr]
        fs = jvm_path.getFileSystem(
            df.sparkSession._jsc.hadoopConfiguration()  # type: ignore[union-attr]
        )
        if fs.exists(jvm_path):
            return  # epoch already committed -> replay is a no-op
        df.write.mode("overwrite").parquet(out)


def idempotent_fanout_query(
    stream_df: DataFrame,
    targets: list,
    sink: IdempotentParquetSink,
    interval_s: int,
    checkpoint_dir: str,
):
    """Streaming fan-out with exactly-once sink semantics."""

    def write_all(batch_df: DataFrame, epoch_id: int) -> None:
        batch_df.persist(StorageLevel.MEMORY_AND_DISK)
        try:
            for target in targets:
                sink.write_batch(batch_df, epoch_id, target)
        finally:
            batch_df.unpersist()

    return (
        stream_df.writeStream.foreachBatch(write_all)
        .option("checkpointLocation", checkpoint_dir)
        .trigger(processingTime=f"{interval_s} seconds")
    )
