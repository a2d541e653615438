"""Ingestion throughput benchmark: synthetic OpenSky snapshots through
the full fan-out engine (rows -> typed DataFrame -> N parquet sinks).

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
from mysql_public_data_ingestor_spark.schema import FLIGHTS_SCHEMA
from mysql_public_data_ingestor_spark.session import get_spark
from mysql_public_data_ingestor_spark.sources.opensky import OpenSkyPlugin, parse_states_payload
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
    payload = synthetic_payload(rows_per_batch)
    # pre-parse once so the measurement excludes synthetic-data generation
    rows = parse_states_payload(payload)
    plugin = OpenSkyPlugin(http_get=lambda u, a: payload, interval_s=0)
    plugin.fetch_rows = lambda: rows  # type: ignore[method-assign]

    cfg = DatabasesConfig(
        prefix="bench_", table_prefix="flights",
        copies=copies, extra={"x": ExtraDatabase(tables=5)},
    )
    targets = expand_topology(cfg)
    out = tempfile.mkdtemp(prefix="bench_ingest_")
    try:
        eng = IngestEngine(
            spark=spark, plugin=plugin, targets=targets,
            sink=ParquetSink(out), sleep=lambda s: None,
        )
        eng.process_batch(rows)  # warm-up batch (JVM, codegen)
        t0 = time.perf_counter()
        eng.run(max_batches=1 + n_batches)
        dt = time.perf_counter() - t0
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
                    "reference_ceiling_rows_per_sec": 1.3e4,
                }
            )
        )
    finally:
        shutil.rmtree(out, ignore_errors=True)


if __name__ == "__main__":
    main()
