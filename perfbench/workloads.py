"""The benchmark's workloads.

Each workload is a closed loop with one client: the next operation
starts only when the previous one has finished. ``warm`` is the untimed
warm-up that every set-up repetition runs, ``run_pass`` one pass over
the workload's operation list (the first ``warm_passes`` of them run
untimed, and ``reset_timings`` drops what they recorded), ``check`` the
untimed output check that follows the timed passes.

Every call into the program goes through ``JobGroups.group`` so that
the jobs it launches are charged to the operation and phase that caused
them, and through ``Trace.span`` so that a traced run can split each
operation's time by layer.
"""

from __future__ import annotations

import os
import random
import time

from probes import JobGroups, Trace, dir_stats

# Execution-bound: scans, joins, aggregations and windows over the fact
# tables and events. The bucketed join reads two tables that
# ``warehouse.ensure_table`` builds once per session, so every set-up
# pays for warehouse builds and a timed pass reuses them.
SCAN_QUERIES = [
    "q1_pricing_summary",
    "window_running_revenue",
    "events_sessionization",
    "lineitem_shipment_latency_bucketed",
]


class InjectedFailure(RuntimeError):
    """Raised by the failures the smoke test injects on purpose."""


class QueryWorkload:
    """One pass runs every query of ``queries`` in a seed-shuffled order:
    ``fn(spark, sf_dir)`` (construction), then a noop write (execution)."""

    layer_unit = "pass"
    warm_passes = 3

    def __init__(self, queries: list[str], scale: float, ctx) -> None:
        self.queries = list(queries)
        self.scale = scale
        self.ctx = ctx
        self.inject = ctx.inject == "query"

    def prepare(self) -> dict:
        from fixture import write_fixture

        self.sf_dir = os.path.join(self.ctx.work, "fixture")
        self.latencies: dict[str, list[float]] = {}
        self.warm_s: dict[str, float] = {}
        rows = write_fixture(self.sf_dir, self.scale, self.ctx.seed)
        return {"scale": self.scale, "rows": rows, "queries": self.queries}

    def reset_timings(self) -> None:
        self.latencies = {}

    def bind(self, spark) -> None:
        from mysql_public_data_ingestor_spark.registry import all_queries

        self.spark = spark
        self.specs = all_queries()
        self.groups = JobGroups(spark)

    def _fn(self, name: str):
        if name == "injected_failure":
            def fail(spark, sf_dir):
                raise InjectedFailure("query failure injected by the smoke test")
            return fail
        return self.specs[name].fn

    def warm(self, rep: int) -> None:
        order = list(self.queries)
        random.Random(f"{self.ctx.seed}:warm").shuffle(order)
        for name in order:
            t0 = time.perf_counter()
            with self.groups.group(f"warm{rep}:{name}", name):
                self._fn(name)(self.spark, self.sf_dir).write.format("noop").mode("overwrite").save()
            self.warm_s[f"{rep}:{name}"] = time.perf_counter() - t0

    def run_pass(self, p: int, trace: Trace) -> tuple[list[dict], list[float]]:
        order = list(self.queries) + (["injected_failure"] if self.inject else [])
        random.Random(f"{self.ctx.seed}:{p}").shuffle(order)
        unit = {
            "prefix": f"p{p}:", "construct_s": 0.0, "execute_s": 0.0, "planner_s": 0.0,
            "construct_jobs": 0, "execute_jobs": 0, "ops": 0, "failed": 0,
        }
        latencies = []
        # only the last pass's frames are kept, for the output check
        self.frames: dict[str, object] = {}
        t_pass = time.perf_counter()
        for i, name in enumerate(order):
            op = f"p{p}:{i}:{name}"
            unit["ops"] += 1
            t0 = time.perf_counter()
            with trace.span(name, "operation", pass_=p) as s_op:
                try:
                    with trace.span("construct", "operators", s_op["id"], group=f"{op}|construct"), \
                            self.groups.group(f"{op}|construct", name):
                        df = self._fn(name)(self.spark, self.sf_dir)
                    t1 = time.perf_counter()
                    if trace.enabled:
                        with trace.span("plan", "planner", s_op["id"], group=f"{op}|plan"), \
                                self.groups.group(f"{op}|plan", name):
                            df._jdf.queryExecution().executedPlan()
                    t2 = time.perf_counter()
                    with trace.span("execute", "spark", s_op["id"], group=f"{op}|execute"), \
                            self.groups.group(f"{op}|execute", name):
                        df.write.format("noop").mode("overwrite").save()
                    t3 = time.perf_counter()
                    self.frames[name] = df
                    unit["construct_s"] += t1 - t0
                    unit["planner_s"] += t2 - t1
                    unit["execute_s"] += t3 - t2
                except Exception as exc:  # noqa: BLE001 - a failed operation is counted, not fatal
                    unit["failed"] += 1
                    self.ctx.errors.append(f"{op}: {type(exc).__name__}: {exc}")
            latencies.append(time.perf_counter() - t0)
            self.latencies.setdefault(name, []).append(latencies[-1])
            unit["construct_jobs"] += self.groups.jobs(f"{op}|construct")
            unit["execute_jobs"] += self.groups.jobs(f"{op}|execute")
        unit["wall_s"] = time.perf_counter() - t_pass
        return [unit], latencies

    def check(self) -> tuple[int, int, dict]:
        """Collect each query's frame from the last timed pass and compare
        it to the query's DuckDB oracle on the same fixture."""
        from tools.check_correctness import compare, duck_connection

        con = duck_connection(self.sf_dir)
        checked = failed = 0
        report = {}
        for name in sorted(self.queries):
            checked += 1
            spec = self.specs[name]
            try:
                if name not in self.frames:
                    problems = ["no result: the query failed in the last pass"]
                else:
                    with self.groups.group(f"check:{name}", name):
                        sdf = self.frames[name].toPandas()
                    problems = compare(name, sdf, con.execute(spec.oracle).df())
            except Exception as exc:  # noqa: BLE001
                problems = [f"{type(exc).__name__}: {exc}"]
            report[name] = "ok" if not problems else problems[:3]
            if problems:
                failed += 1
        con.close()
        return checked, failed, {"oracle": report}


class IngestWorkload:
    """The reference pipeline: poll an OpenSky snapshot, decode it, and
    fan the batch out to every sink target of an 8-target topology
    (``copies=3`` plus one extra database of 5 tables), poll interval 0.

    The plugin's transport returns pre-built payload bytes, so the JSON
    decode and coercion in ``OpenSkyPlugin.fetch_rows`` stay in the timed
    path. A pass is one batch; successive batches cycle through the
    seeded snapshots, in a seed-shuffled order per cycle.
    """

    layer_unit = "batch"
    warm_passes = 3

    def __init__(self, snapshots: int, rows: int, ctx) -> None:
        self.n_snapshots = snapshots
        self.rows = rows
        self.ctx = ctx
        self.inject = ctx.inject == "sink"

    def prepare(self) -> dict:
        from fixture import opensky_snapshots, row_multiset_hash

        self.snaps = opensky_snapshots(self.n_snapshots, self.rows, self.ctx.seed)
        self.snap_hash = [row_multiset_hash(rows) for _, rows in self.snaps]
        self.written: list[int] = []
        self.latencies: dict[str, list[float]] = {}
        self.fetch_calls = self.fetches = self.sink_failures = 0
        return {"snapshots": self.n_snapshots, "rows_per_snapshot": self.rows}

    def bind(self, spark) -> None:
        from mysql_public_data_ingestor_spark.config import DatabasesConfig, ExtraDatabase
        from mysql_public_data_ingestor_spark.sources.opensky import OpenSkyPlugin
        from mysql_public_data_ingestor_spark.streaming.ingest import IngestEngine, ParquetSink
        from mysql_public_data_ingestor_spark.topology import expand_topology

        self.spark = spark
        self.groups = JobGroups(spark)
        cfg = DatabasesConfig(
            prefix="bench_", table_prefix="flights", copies=3,
            extra={"x": ExtraDatabase(tables=5)},
        )
        t0 = time.perf_counter()
        self.targets = expand_topology(cfg)
        self.topology_s = time.perf_counter() - t0
        self.current = 0

        def http_get(url, auth):
            self.fetch_calls += 1
            return self.snaps[self.current][0]

        self.plugin = OpenSkyPlugin(http_get=http_get, interval_s=0)
        self.sink_dir = os.path.join(self.ctx.work, f"sink-{spark.sparkContext.applicationId}")
        self.parquet_sink = ParquetSink(self.sink_dir)
        self.sink_log: list[tuple[str, float]] = []
        self.engine = IngestEngine(
            spark=spark, plugin=self.plugin, targets=self.targets,
            sink=self._sink, sleep=lambda s: None,
        )

    def _sink(self, df, target) -> None:
        op = self.op
        t0 = time.time()
        try:
            with self.groups.group(f"{op}|sink[{target.qualified}]", target.qualified):
                if self.inject and target is self.targets[3]:
                    raise InjectedFailure("sink failure injected by the smoke test")
                self.parquet_sink(df, target)
        except Exception:
            self.sink_failures += 1
            raise
        finally:
            self.sink_log.append((target.qualified, t0, time.time()))

    def _batch(self, op: str, snap: int, trace: Trace) -> dict:
        self.op, self.current, self.sink_log = op, snap, []
        unit = {"prefix": f"{op}|", "failed": 0}
        t0 = time.perf_counter()
        with trace.span(f"snap{snap}", "operation") as s_op:
            try:
                with trace.span("fetch", "sources", s_op["id"], group=f"{op}|fetch"), \
                        self.groups.group(f"{op}|fetch", "fetch"):
                    rows = self.engine.fetch_with_retry()
                self.fetches += 1
                t1 = time.perf_counter()
                with trace.span("frame", "ingest", s_op["id"], group=f"{op}|frame") as s_frame, \
                        self.groups.group(f"{op}|frame", "frame"):
                    self.engine.process_batch(rows)
                t2 = time.perf_counter()
                unit["fetch_s"] = t1 - t0
                unit["rows"] = len(rows)
            except Exception as exc:  # noqa: BLE001 - a failed batch is counted, not fatal
                unit["failed"] = 1
                self.ctx.errors.append(f"{op}: {type(exc).__name__}: {exc}")
                t2 = time.perf_counter()
            parent = s_frame["id"] if self.sink_log else None
            for qualified, start, end in self.sink_log:
                trace.add(f"sink[{qualified}]", "ingest.sink", parent, start, end,
                          group=f"{op}|sink[{qualified}]")
        sink_s = sum(end - start for _, start, end in self.sink_log)
        unit["wall_s"] = t2 - t0
        unit["sink_write_s"] = sink_s
        unit["sink_calls"] = len(self.sink_log)
        if "fetch_s" in unit:
            unit["frame_s"] = (t2 - t0) - unit["fetch_s"] - sink_s
        jobs = self.groups.jobs(f"{op}|fetch") + self.groups.jobs(f"{op}|frame")
        jobs += sum(self.groups.jobs(f"{op}|sink[{q}]") for q, _, _ in self.sink_log)
        unit["jobs"] = jobs
        if not unit["failed"]:
            self.written.append(snap)
        return unit

    def warm(self, rep: int) -> None:
        timed_sink = self.parquet_sink
        self.parquet_sink = type(timed_sink)(os.path.join(self.ctx.work, f"warm{rep}"))
        inject, self.inject = self.inject, False
        try:
            self._batch(f"warm{rep}", 0, Trace(False))
        finally:
            self.parquet_sink, self.inject = timed_sink, inject
        self.written = []
        self.fetch_calls = self.fetches = 0

    def reset_timings(self) -> None:
        self.latencies = {}

    def run_pass(self, p: int, trace: Trace) -> tuple[list[dict], list[float]]:
        cycle, i = divmod(p, self.n_snapshots)
        order = list(range(self.n_snapshots))
        random.Random(f"{self.ctx.seed}:{cycle}").shuffle(order)
        u = self._batch(f"p{p}", order[i], trace)
        self.latencies.setdefault(f"snap{order[i]}", []).append(u["wall_s"])
        return [u], [u["wall_s"]]

    def output_stats(self) -> dict:
        """On-disk output of every batch written to the timed sink."""
        files, size = dir_stats(self.sink_dir)
        batches = len(self.written)
        sink_rows = self.rows * batches * len(self.targets)
        return {
            "files_per_batch": files / batches if batches else 0.0,
            "bytes_per_row": size / sink_rows if sink_rows else 0.0,
            "fetch_retries": self.fetch_calls - self.fetches,
        }

    def check(self) -> tuple[int, int, dict]:
        """Read back every target: its row count must be rows x batches
        written; the first target's rows must hash equal to the
        generated rows."""
        import pyarrow.parquet as pq

        from fixture import row_multiset_hash

        expected_rows = self.rows * len(self.written)
        checked = failed = 0
        counts = {}
        for target in self.targets:
            checked += 1
            path = os.path.join(self.sink_dir, target.database, target.table)
            try:
                with self.groups.group(f"check:{target.qualified}", "read-back"):
                    n = self.spark.read.parquet(path).count()
            except Exception as exc:  # noqa: BLE001
                n = f"{type(exc).__name__}: {exc}"
            counts[target.qualified] = n
            if n != expected_rows:
                failed += 1
        checked += 1
        first = self.targets[0]
        want = sum(self.snap_hash[s] for s in self.written) & 0xFFFFFFFFFFFFFFFF
        try:
            table = pq.read_table(os.path.join(self.sink_dir, first.database, first.table))
            names = table.column_names
            got = row_multiset_hash(tuple(r[c] for c in names) for r in table.to_pylist())
        except Exception as exc:  # noqa: BLE001
            got = f"{type(exc).__name__}: {exc}"
        if got != want:
            failed += 1
        return checked, failed, {
            "read_back_rows": counts,
            "expected_rows": expected_rows,
            "hash_target": first.qualified,
            "hash_match": got == want,
        }
