"""SparkSession factory.

Tuned for the driver's local[$SPARK_GRAFT_CPUS] harness but with every
knob chosen to also be sane on a 1000-executor cluster:

- AQE on (runtime coalescing, skew-join splitting) — the scale-up path
  relies on it instead of hand-tuned partition counts.
- shuffle.partitions ~ cores locally; on a real cluster AQE's coalesce
  makes the initial number far less critical.
- Arrow enabled for every pandas interchange (vectorized UDF path).
- Session timezone pinned to UTC so timestamp semantics match the
  DuckDB oracle (naive-UTC) exactly.
"""

from __future__ import annotations

import os

from pyspark.sql import SparkSession


def default_parallelism() -> int:
    return int(os.environ.get("SPARK_GRAFT_CPUS", os.cpu_count() or 8))


def tune(spark: SparkSession) -> SparkSession:
    """Apply runtime confs that matter for correctness/perf.

    Safe to call on a session we did not build (the driver hands us one):
    all of these are runtime-settable SQL confs.
    """
    conf = spark.conf
    conf.set("spark.sql.session.timeZone", "UTC")
    conf.set("spark.sql.adaptive.enabled", "true")
    conf.set("spark.sql.adaptive.coalescePartitions.enabled", "true")
    conf.set("spark.sql.adaptive.skewJoin.enabled", "true")
    conf.set("spark.sql.execution.arrow.pyspark.enabled", "true")
    # Arrow batch sizing (guide §4.2): the default 10k-records cap
    # starves narrow numeric transfers (e.g. the C4 census ships one
    # int64 per wedge through mapInArrow — measured 14.4 s at 10k
    # records vs 10.5 s byte-bound). Raise the record cap and let
    # Spark 4's byte cap (spark.sql.execution.arrow.maxBytesPerBatch,
    # default 64 MB) bound memory for wide/binary rows — batches are
    # min(records, bytes), so this is scale-safe for any row width.
    # CAVEAT (per Spark's conf doc): maxBytesPerBatch does NOT apply to
    # createDataFrame/toPandas. Ingest (streaming.ingest.IngestEngine)
    # hands createDataFrame one poll-sized Arrow table, so with this cap
    # each poll is one Arrow batch (and one partition) whatever its size
    # in bytes: a 10^4-row OpenSky poll is about 1.3 MB. Query paths never
    # collect through Arrow; a future driver-side Arrow collect would
    # batch up to 1M rows unbounded by bytes, so lower the record cap
    # locally there.
    conf.set("spark.sql.execution.arrow.maxRecordsPerBatch", "1000000")
    # The events fixture stores TIMESTAMP(NANOS) which Spark's parquet
    # reader rejects by default; read as raw nanos (long) and convert in
    # the loader (tables.load_table) with exact integer division.
    conf.set("spark.sql.legacy.parquet.nanosAsLong", "true")
    return spark


def get_spark(app_name: str = "mysql_public_data_ingestor_spark") -> SparkSession:
    cpus = default_parallelism()
    spark = (
        SparkSession.builder.master(f"local[{cpus}]")
        .appName(app_name)
        .config("spark.sql.shuffle.partitions", str(cpus))
        .config("spark.sql.session.timeZone", "UTC")
        .config("spark.sql.adaptive.enabled", "true")
        .config("spark.sql.adaptive.coalescePartitions.enabled", "true")
        .config("spark.sql.adaptive.skewJoin.enabled", "true")
        .config("spark.sql.execution.arrow.pyspark.enabled", "true")
        # local[N] runs all N executor threads inside the driver JVM, so
        # the driver heap IS the cluster memory: 8g with 32 threads is
        # GC-bound on the heavy queries (measured -23% bench total going
        # 8g->24g). On a real cluster this knob moves to executor memory.
        .config("spark.driver.memory", os.environ.get("SPARK_GRAFT_DRIVER_MEM", "24g"))
        # A young generation fixed at a quarter of the heap. G1 otherwise
        # grows it adaptively, one collection at a time, toward 60% of
        # the heap, so a light workload's resident memory depends on how
        # many collections a run happened to reach before it ended: an
        # ingest run (~70 MB of garbage per batch, 2g heap, 4 vCPUs) left
        # the driver JVM at 1.7-2.15 GB resident from one run to the
        # next, and at 1.2-1.3 GB with the fixed size.
        .config("spark.driver.defaultJavaOptions", "-XX:NewRatio=3")
        .config("spark.ui.enabled", "false")
        .config("spark.sql.streaming.forceDeleteTempCheckpointLocation", "true")
        .getOrCreate()
    )
    spark.sparkContext.setLogLevel("WARN")
    return tune(spark)
