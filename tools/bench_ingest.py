"""Ingestion throughput benchmark: synthetic OpenSky snapshots through
the full fan-out engine (payload bytes -> decoded Arrow table -> typed
DataFrame -> N parquet sinks).

Each batch is fetched from an in-memory transport that returns the
pre-built payload, so the JSON decode is timed with the rest; only the
synthetic-data generation is left out. Besides the rows/s totals it
prints the seconds per batch of each stage: fetch+decode
(``IngestEngine.fetch_with_retry``), frame (``createDataFrame`` and the
rest of ``process_batch`` outside the sinks) and sink (all targets: one
pyarrow write of the batch's table into the first, no Spark job, then a
byte copy of that file into each other target).

Context: the reference's configuration bounds it to ~1.3e4 rows/s
across all sinks (BASELINE.md §A: one 10^4-row snapshot per 60 s poll,
8 sinks, row-at-a-time INSERTs). This measures the Spark engine's
equivalent number.

Usage: python tools/bench_ingest.py [rows_per_batch] [n_batches] [copies]

``copies`` is the topology's replicated-database count; one extra
database of 5 tables rides along, so ``copies`` = 3 (the default)
gives 8 sink targets.
"""

from __future__ import annotations

import json
import os
import shutil
import sys
import tempfile
import time

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

from mysql_public_data_ingestor_spark.config import DatabasesConfig, ExtraDatabase
from mysql_public_data_ingestor_spark.session import get_spark
from mysql_public_data_ingestor_spark.sources.opensky import OpenSkyPlugin
from mysql_public_data_ingestor_spark.streaming.ingest import IngestEngine, ParquetSink
from mysql_public_data_ingestor_spark.topology import expand_topology


def synthetic_payload(n_rows: int) -> bytes:
    states = [
        [1700000000 + i, f"ic{i:06x}", f"CS{i % 997}", "Country", 1700000000 + i,
         1700000000 + i, (i % 360) - 180.0, (i % 180) - 90.0, 10000.0 + i % 3000,
         i % 2 == 0, 200.0 + i % 100, float(i % 360), -2.0 + (i % 5), [i % 4, i % 7],
         10050.0 + i % 3000, f"{i % 7000:04d}", i % 5 == 0, i % 4]
        for i in range(n_rows)
    ]
    return json.dumps({"time": 1700000000, "states": states}).encode()


def main() -> None:
    rows_per_batch = int(sys.argv[1]) if len(sys.argv) > 1 else 10_000
    n_batches = int(sys.argv[2]) if len(sys.argv) > 2 else 5
    copies = int(sys.argv[3]) if len(sys.argv) > 3 else 3

    spark = get_spark("bench_ingest")
    # generated once: the measurement excludes synthetic-data generation,
    # not the decode
    payload = synthetic_payload(rows_per_batch)
    plugin = OpenSkyPlugin(http_get=lambda u, a: payload, interval_s=0)

    cfg = DatabasesConfig(
        prefix="bench_", table_prefix="flights",
        copies=copies, extra={"x": ExtraDatabase(tables=5)},
    )
    targets = expand_topology(cfg)
    out = tempfile.mkdtemp(prefix="bench_ingest_")
    try:
        parquet_sink, sink_s = ParquetSink(out), [0.0]

        def timed_sink(df, target) -> None:
            t = time.perf_counter()
            parquet_sink(df, target)
            sink_s[0] += time.perf_counter() - t

        eng = IngestEngine(
            spark=spark, plugin=plugin, targets=targets,
            sink=timed_sink, sleep=lambda s: None,
        )
        eng.process_batch(eng.fetch_with_retry())  # warm-up batch (JVM, codegen)
        fetch_s = batch_s = sink_s[0] = 0.0
        for _ in range(n_batches):
            t0 = time.perf_counter()
            table = eng.fetch_with_retry()
            t1 = time.perf_counter()
            eng.process_batch(table)
            fetch_s += t1 - t0
            batch_s += time.perf_counter() - t1
        dt = fetch_s + batch_s
        measured_rows = rows_per_batch * n_batches
        sink_rows = measured_rows * len(targets)
        print(
            json.dumps(
                {
                    "metric": "ingest_sink_rows_per_sec",
                    "value": round(sink_rows / dt, 1),
                    "unit": "rows/s",
                    "source_rows_per_sec": round(measured_rows / dt, 1),
                    "n_sinks": len(targets),
                    "rows_per_batch": rows_per_batch,
                    "n_batches": n_batches,
                    "seconds": round(dt, 3),
                    "fetch_decode_s_per_batch": round(fetch_s / n_batches, 4),
                    "frame_s_per_batch": round((batch_s - sink_s[0]) / n_batches, 4),
                    "sink_s_per_batch": round(sink_s[0] / n_batches, 4),
                    "reference_ceiling_rows_per_sec": 1.3e4,
                }
            )
        )
    finally:
        shutil.rmtree(out, ignore_errors=True)


if __name__ == "__main__":
    main()
