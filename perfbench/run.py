"""Benchmark entry point.

    python3 perfbench/run.py --workload <name> --seed <n> --seconds <s> --trace <0|1>

Run from the root of a checkout. Generates the workload's inputs from
the seed, sets the program up ``SETUP_REPS`` times (a fresh Spark
session each time; the first one also starts the JVM), runs untimed
warm-up passes, runs timed passes over the workload until ``--seconds``
have elapsed, checks the outputs, and prints one JSON object as the
last line of stdout:

    {"correct": ..., "attempted": ..., "failed": ..., "metrics": {...}}

With ``--trace 0`` the metrics are the end-to-end ones, measured with
tracing off:

- ``setup_s``: median over the set-ups of the CPU seconds of
  ``get_spark`` plus one untimed warm pass (or warm-up batch),
  warehouse builds included, counted like ``pass_cpu_s``;
- ``pass_cpu_s``: median CPU seconds of one timed pass over the
  workload's operations (all queries, or one batch), summed over the
  Python driver, the JVM and the Python workers, less the share of the
  machine's CPU time the hypervisor stole during the pass;
- ``peak_rss_mb``: peak resident memory (``VmHWM``) of the driver JVM
  plus the Python driver.

With ``--trace 1`` Spark writes an event log, every query is also
planned on its own, spans are kept, and the metrics are the per-layer
ones. The line before the last holds the full record of the run:
per-set-up and per-pass wall and CPU seconds with the stolen share,
the wall-clock figures (``setup_s``, ``pass_s``, per-operation median
and tail latency with its percentile and sample count), contention,
the output-check report and ``failed_frac``. It is also saved under
``.perfbench/results``.
"""

from __future__ import annotations

import argparse
import json
import os
import shlex
import shutil
import statistics
import sys
import tempfile
import time

HERE = os.path.dirname(os.path.abspath(__file__))
sys.path.insert(0, HERE)

from probes import (  # noqa: E402
    CpuClock, Trace, cpu_seconds, dir_stats, host_record, jit_cpu_seconds, jvm_pid, median_of,
    stop_jvm, tail, thread_cpu_by_kind, vm_hwm_mb,
)

WORKLOADS = ("ingest_fanout", "query_scan")
SETUP_REPS = 3
MIN_PASSES = 3

END_TO_END = {
    "setup_s": "s",
    "pass_cpu_s": "s",
    "peak_rss_mb": "MB",
}

PER_LAYER = {
    "session.start_s": "s",
    "sources.fetch_s": "s",
    "sources.rows": "count",
    "topology.targets": "count",
    "topology.expand_s": "s",
    "ingest.frame_s": "s",
    "ingest.sink_write_s": "s",
    "ingest.sink_calls": "count",
    "ingest.jobs_per_batch": "count",
    "ingest.files_per_batch": "count",
    "ingest.bytes_per_row": "B",
    "ingest.fetch_retries": "count",
    "ingest.sink_failures": "count",
    "operators.construct_s": "s",
    "operators.construct_jobs": "count",
    "operators.execute_s": "s",
    "operators.execute_jobs": "count",
    "planner.s": "s",
    "warehouse.build_s": "s",
    "warehouse.tables_built": "count",
    "warehouse.mb": "MB",
    "spark.stages": "count",
    "spark.tasks": "count",
    "spark.executor_run_s": "s",
    "spark.executor_cpu_s": "s",
    "spark.gc_s": "s",
    "spark.shuffle_read_mb": "MB",
    "spark.shuffle_write_mb": "MB",
    "spark.spill_mb": "MB",
    "spark.input_mb": "MB",
    "spark.task_skew": "ratio",
    "check.failed_frac": "ratio",
    "jvm.cpu_s": "s",
    "jvm.jit_cpu_s": "s",
}


class Context:
    def __init__(self, args, root: str) -> None:
        self.root = root
        self.seed = args.seed
        self.tiny = args.tiny
        self.inject = args.inject
        self.work = os.path.join(root, ".perfbench", f"{args.workload}-{args.seed}-{os.getpid()}")
        self.errors: list[str] = []


def make_workload(name: str, ctx: Context):
    from workloads import SCAN_QUERIES, IngestWorkload, QueryWorkload

    if name == "ingest_fanout":
        return IngestWorkload(snapshots=3, rows=500 if ctx.tiny else 10_000, ctx=ctx)
    return QueryWorkload(SCAN_QUERIES, 0.001 if ctx.tiny else 0.02, ctx)


def isolate(ctx: Context, traced: bool) -> str:
    """Keep every file Spark, the JVM and Python write inside the run's
    work directory, and turn the event log on for a traced run. Spark
    reads these settings when it starts the JVM, so the program's own
    session settings stay untouched."""
    tmp = os.path.join(ctx.work, "tmp")
    os.makedirs(tmp, exist_ok=True)
    os.environ["TMPDIR"] = tmp
    tempfile.tempdir = tmp
    os.environ["SPARK_LOCAL_DIRS"] = os.path.join(ctx.work, "spark-local")
    # A 2g heap fits the inputs with room to spare; the program's 24g
    # default is sized for a dedicated host.
    heap = os.environ.setdefault("SPARK_GRAFT_DRIVER_MEM", "2g")
    log_dir = os.path.join(ctx.work, "eventlog")
    confs = [
        f"spark.sql.warehouse.dir={os.path.join(ctx.work, 'warehouse')}",
        # a heap that starts at its cap: its size, and with it GC
        # frequency and resident memory, no longer drift with timing
        f"spark.driver.extraJavaOptions=-Xms{heap}",
    ]
    if traced:
        os.makedirs(log_dir)
        confs += [
            "spark.eventLog.enabled=true",
            "spark.eventLog.compress=false",
            f"spark.eventLog.dir=file://{log_dir}",
        ]
    os.environ["PYSPARK_SUBMIT_ARGS"] = shlex.join(
        [a for c in confs for a in ("--conf", c)] + ["pyspark-shell"]
    )
    # every JVM, the spark-submit launcher included
    # Compiler threads that live as long as the JVM, so that the JIT's
    # CPU time per pass (``jvm.jit_cpu_s``) can be read from them.
    os.environ["JAVA_TOOL_OPTIONS"] = (
        f"-Djava.io.tmpdir={tmp} -XX:-UsePerfData -XX:-UseDynamicNumberOfCompilerThreads"
    )
    return log_dir


def spark_layers(log_dir: str, app_id: str, units: list[dict], trace: Trace) -> dict:
    """Per-unit Spark totals from the event log, plus the jobs as spans
    under the phase span whose group launched them."""
    import eventlog

    parsed = eventlog.parse(eventlog.log_files(log_dir, app_id))
    by_group = {s["group"]: s["id"] for s in trace.spans if "group" in s}
    for jid, group, start, end in parsed["jobs"]:
        if group in by_group:
            trace.add(f"job{jid}", "spark.job", by_group[group], start, end, group=group)
    per_unit = []
    for u in units:
        tot = eventlog.new_totals()
        for group, g in parsed["groups"].items():
            if group.startswith(u["prefix"]):
                for k in tot:
                    tot[k] += g[k]
        stages = [s for s in parsed["stages"].values() if s["group"].startswith(u["prefix"])]
        tot["task_skew"] = eventlog.task_skew(stages)
        per_unit.append(tot)
    return {f"spark.{k}": median_of(per_unit, k) for k in per_unit[0]} if per_unit else {}


def measure(args, ctx: Context) -> tuple[dict, dict]:
    from mysql_public_data_ingestor_spark import warehouse
    from mysql_public_data_ingestor_spark.session import get_spark

    traced = args.trace == 1
    log_dir = isolate(ctx, traced)
    wl = make_workload(args.workload, ctx)
    t0 = time.perf_counter()
    record = {"workload": args.workload, "seed": args.seed, "trace": args.trace,
              "inputs": wl.prepare(), "host": host_record()}
    record["prepare_s"] = time.perf_counter() - t0
    trace = Trace(traced)
    setups, sessions, spark = [], [], None
    try:
        for rep in range(1 if ctx.tiny else SETUP_REPS):
            if spark is not None:
                spark.stop()
            clock = CpuClock()
            spark = get_spark("perfbench")
            sessions.append(time.perf_counter() - clock.wall0)
            built_before = set(warehouse.BUILD_SECONDS)
            wl.bind(spark)
            wl.warm(rep)
            setups.append(clock.read())
        built = {k: v for k, v in warehouse.BUILD_SECONDS.items() if k not in built_before}
        built_before = set(warehouse.BUILD_SECONDS)

        # Untimed passes so that the JIT has compiled the hot paths: the
        # first passes after start-up use twice the CPU of later ones.
        t0 = time.perf_counter()
        warm_passes = 0 if ctx.tiny else wl.warm_passes
        for p in range(warm_passes):
            wl.run_pass(p, Trace(False))
        wl.reset_timings()
        record["warm_up_s"] = time.perf_counter() - t0

        jvm = jvm_pid()
        cpu0, driver_cpu0 = cpu_seconds(jvm), cpu_seconds()
        threads0 = thread_cpu_by_kind(jvm)
        units, latencies, passes, pass_jit, loads = [], [], [], [], []
        t_start = time.perf_counter()
        p = warm_passes
        while True:
            j0 = jit_cpu_seconds(jvm)
            clock = CpuClock()
            pass_units, lat = wl.run_pass(p, trace)
            passes.append(clock.read())
            pass_jit.append(jit_cpu_seconds(jvm) - j0)
            units += pass_units
            latencies += lat
            loads.append(os.getloadavg()[0])
            p += 1
            if len(passes) >= MIN_PASSES and time.perf_counter() - t_start >= args.seconds:
                break
        timed_s = time.perf_counter() - t_start
        jvm_cpu = cpu_seconds(jvm) - cpu0
        threads = {k: v - threads0[k] for k, v in thread_cpu_by_kind(jvm).items()}
        driver_cpu = cpu_seconds() - driver_cpu0
        timed_builds = sorted(set(warehouse.BUILD_SECONDS) - built_before)

        t0 = time.perf_counter()
        checked, check_failed, check_report = wl.check()
        record["check_s"] = time.perf_counter() - t0
        peak_rss = vm_hwm_mb(jvm) + vm_hwm_mb()
        app_id = spark.sparkContext.applicationId
        warehouse_dir = spark.conf.get("spark.sql.warehouse.dir").removeprefix("file:")
        layer = wl_layers(wl, units)
    finally:
        if spark is not None:
            stop_jvm(spark)

    ops = len(latencies)
    failed_ops = sum(u["failed"] for u in units)
    attempted = ops + checked
    failed = failed_ops + check_failed
    # Wall times move with the host: CPU the hypervisor gives to other
    # guests slowed the same set-up or pass by up to twice on a shared
    # 4-vCPU machine. CPU seconds with the stolen share taken out
    # (``CpuClock``) move far less, so they are the end-to-end figures
    # the bounds apply to, and the wall times stay in the record. Per
    # operation, the record has the middle and the slowest of the
    # operations' median latencies, and the pooled tail: the highest
    # percentile with ten samples beyond it.
    per_op = sorted(statistics.median(v) for v in wl.latencies.values())
    pooled_tail, tail_pct, n = tail(latencies)
    e2e = {
        "setup_s": statistics.median(c["cpu_s"] for c in setups),
        "pass_cpu_s": statistics.median(c["cpu_s"] for c in passes),
        "peak_rss_mb": peak_rss,
    }
    wall = {
        "setup_s": statistics.median(c["wall_s"] for c in setups),
        "pass_s": statistics.median(c["wall_s"] for c in passes),
        "op_p50_s": statistics.median(per_op),
        "op_tail_s": per_op[-1],
        "op_tail_pooled_s": pooled_tail,
        "op_tail_percentile": tail_pct,
        "op_samples": n,
    }
    layer.update({
        "session.start_s": sessions[0],
        "warehouse.build_s": sum(built.values()),
        "warehouse.tables_built": len(built),
        "warehouse.mb": sum(dir_stats(os.path.join(warehouse_dir, t))[1] for t in built) / 2**20,
        "check.failed_frac": failed / attempted,
        "jvm.cpu_s": jvm_cpu / len(passes),
        "jvm.jit_cpu_s": statistics.median(pass_jit),
    })
    if traced:
        layer.update(spark_layers(log_dir, app_id, units, trace))
    layer = {k: float(layer.get(k, 0.0)) for k in PER_LAYER}
    record.update({
        "correct": failed == 0,
        "attempted": attempted,
        "failed": failed,
        "failed_frac": failed / attempted,
        "end_to_end": e2e,
        "per_layer": layer,
        "wall": wall,
        "op_latencies_s": wl.latencies,
        "layer_unit": wl.layer_unit,
        "units": len(units),
        "passes": passes,
        "pass_jit_cpu_s": pass_jit,
        "setups": setups,
        "warm_ops_s": getattr(wl, "warm_s", {}),
        "session_starts_s": sessions,
        "timed_s": timed_s,
        "warehouse_builds_timed": timed_builds,
        "contention": {"loadavg_per_pass": loads, "jvm_cpu_s": jvm_cpu,
                       "driver_cpu_s": driver_cpu, "jvm_thread_cpu_s": threads},
        "check": {"checked": checked, "failed": check_failed, **check_report},
        "errors": ctx.errors[:20],
    })
    if wl.layer_unit == "batch":
        record["sink_rows_per_s"] = (
            sum(u.get("rows", 0) * u["sink_calls"] for u in units) / sum(u["wall_s"] for u in units)
        )
    if traced:
        from report import self_times

        record["self_s_per_unit"] = {
            k: v / len(units) for k, v in self_times(trace.spans).items()
        }
        trace.write(os.path.join(ctx.root, ".perfbench", "traces",
                                 f"{args.workload}-seed{args.seed}.json"))
    return record, (e2e if not traced else layer)


def wl_layers(wl, units: list[dict]) -> dict:
    """Per-layer values the benchmark measured itself (no event log)."""
    if wl.layer_unit == "pass":
        return {
            "operators.construct_s": median_of(units, "construct_s"),
            "operators.construct_jobs": median_of(units, "construct_jobs"),
            "operators.execute_s": median_of(units, "execute_s"),
            "operators.execute_jobs": median_of(units, "execute_jobs"),
            "planner.s": median_of(units, "planner_s"),
        }
    return {
        "sources.fetch_s": median_of(units, "fetch_s"),
        "sources.rows": median_of(units, "rows"),
        "topology.targets": len(wl.targets),
        "topology.expand_s": wl.topology_s,
        "ingest.frame_s": median_of(units, "frame_s"),
        "ingest.sink_write_s": median_of(units, "sink_write_s"),
        "ingest.sink_calls": median_of(units, "sink_calls"),
        "ingest.jobs_per_batch": median_of(units, "jobs"),
        "ingest.sink_failures": wl.sink_failures,
        **{f"ingest.{k}": v for k, v in wl.output_stats().items()},
    }


def main(argv: list[str] | None = None) -> int:
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--workload", required=True, choices=WORKLOADS)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    ap.add_argument("--tiny", action="store_true",
                    help="smallest inputs and one set-up; for the smoke test")
    ap.add_argument("--inject", choices=("query", "sink"),
                    help="make one query or one sink fail on every call")
    args = ap.parse_args(argv)

    root = os.getcwd()
    sys.path.insert(0, root)
    try:
        import mysql_public_data_ingestor_spark as program
    except ImportError as exc:
        print(f"perfbench: the program is not importable from {root}: {exc}", file=sys.stderr)
        return 2
    if not os.path.abspath(program.__file__).startswith(root + os.sep):
        print(f"perfbench: the program was imported from {program.__file__}, "
              f"not from the checkout at {root}", file=sys.stderr)
        return 2
    ctx = Context(args, root)
    try:
        record, metrics = measure(args, ctx)
    finally:
        shutil.rmtree(ctx.work, ignore_errors=True)
    units = END_TO_END if args.trace == 0 else PER_LAYER
    out = os.path.join(root, ".perfbench", "results",
                       f"{args.workload}-seed{args.seed}-trace{args.trace}.json")
    os.makedirs(os.path.dirname(out), exist_ok=True)
    with open(out, "w") as f:
        json.dump(record, f)
    print(json.dumps(record))
    print(json.dumps({
        "correct": record["correct"],
        "attempted": record["attempted"],
        "failed": record["failed"],
        "metrics": {k: {"value": metrics[k], "unit": units[k]} for k in units},
    }))
    return 0


if __name__ == "__main__":
    sys.exit(main())
