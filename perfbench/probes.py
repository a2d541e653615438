"""Measurement helpers the workloads share: spans, Spark job groups,
/proc readers and order statistics.

Everything here observes the program from outside: it times calls the
benchmark makes into the program's public functions and reads what the
operating system and Spark's status tracker report.
"""

from __future__ import annotations

import json
import os
import statistics
import time
from contextlib import contextmanager


class Trace:
    """Spans kept in memory and written once, when the run ends.

    A span is ``{"id", "parent", "name", "layer", "start", "end"}`` with
    epoch seconds, so Spark's own job timestamps (epoch milliseconds in
    the event log) line up with the spans that caused them. A disabled
    trace records nothing.
    """

    def __init__(self, enabled: bool = True) -> None:
        self.enabled = enabled
        self.spans: list[dict] = []

    def add(self, name: str, layer: str, parent: int | None, start: float, end: float, **attrs) -> dict:
        record = {"id": len(self.spans), "parent": parent, "name": name, "layer": layer,
                  "start": start, "end": end, **attrs}
        if self.enabled:
            self.spans.append(record)
        return record

    @contextmanager
    def span(self, name: str, layer: str, parent: int | None = None, **attrs):
        record = self.add(name, layer, parent, time.time(), 0.0, **attrs)
        try:
            yield record
        finally:
            record["end"] = time.time()

    def write(self, path: str) -> None:
        os.makedirs(os.path.dirname(path), exist_ok=True)
        with open(path, "w") as f:
            json.dump(self.spans, f)


class JobGroups:
    """Tags every Spark job with the operation and phase that caused it,
    and counts a group's jobs through the status tracker. Groups nest:
    leaving one restores the group that was active before it."""

    IDLE = "perfbench:idle"

    def __init__(self, spark) -> None:
        self.sc = spark.sparkContext
        self.active = [(self.IDLE, "idle")]

    @contextmanager
    def group(self, group_id: str, description: str):
        self.active.append((group_id, description))
        self.sc.setJobGroup(group_id, description, False)
        try:
            yield
        finally:
            self.active.pop()
            self.sc.setJobGroup(*self.active[-1], False)

    def jobs(self, group_id: str) -> int:
        return len(self.sc.statusTracker().getJobIdsForGroup(group_id))


def jvm_pid() -> int:
    from pyspark import SparkContext

    return SparkContext._gateway.proc.pid  # type: ignore[union-attr]


def stop_jvm(spark) -> None:
    """Stop the session and the JVM it runs in, and wait for the JVM
    (and with it the Python workers it forked) to exit."""
    from pyspark import SparkContext

    spark.stop()
    gateway = SparkContext._gateway
    if gateway is None:
        return
    proc = gateway.proc
    gateway.shutdown()
    proc.stdin.close()
    proc.wait(timeout=60)
    SparkContext._gateway = None
    SparkContext._jvm = None


def vm_hwm_mb(pid: int | str = "self") -> float:
    """Peak resident set size of a process, from /proc/<pid>/status."""
    with open(f"/proc/{pid}/status") as f:
        for line in f:
            if line.startswith("VmHWM:"):
                return int(line.split()[1]) / 1024.0
    raise RuntimeError(f"no VmHWM for pid {pid}")


def cpu_seconds(pid: int | str = "self") -> float:
    """User plus system CPU seconds of a process, from /proc/<pid>/stat."""
    with open(f"/proc/{pid}/stat") as f:
        fields = f.read().rsplit(")", 1)[1].split()
    return (int(fields[11]) + int(fields[12])) / os.sysconf("SC_CLK_TCK")


def tree_cpu_seconds(root: int | None = None) -> float:
    """CPU seconds used so far by a process and every process below it:
    the Python driver, the JVM it launched, and the Python workers the
    JVM forked. Children that have exited count through their parent's
    ``cutime``/``cstime``."""
    root = os.getpid() if root is None else root
    parent: dict[int, int] = {}
    ticks: dict[int, int] = {}
    for name in os.listdir("/proc"):
        if not name.isdigit():
            continue
        try:
            with open(f"/proc/{name}/stat") as f:
                fields = f.read().rsplit(")", 1)[1].split()
        except OSError:  # the process ended while we listed /proc
            continue
        pid = int(name)
        parent[pid] = int(fields[1])
        ticks[pid] = sum(int(x) for x in fields[11:15])
    total = 0
    for pid, t in ticks.items():
        p = pid
        while p and p != root:
            p = parent.get(p, 0)
        if p == root:
            total += t
    return total / os.sysconf("SC_CLK_TCK")


THREAD_KINDS = (
    ("jit", ("C1 Compiler", "C2 Compiler")),
    ("gc", ("GC Thread", "G1 ", "VM Thread")),
    ("tasks", ("Executor task",)),
)


def thread_cpu_by_kind(pid: int) -> dict[str, float]:
    """CPU seconds of a JVM's live threads, grouped by what the thread
    name says they do: JIT compilation, garbage collection, Spark task
    execution, or anything else."""
    out = {kind: 0.0 for kind, _ in THREAD_KINDS} | {"other": 0.0}
    clk = os.sysconf("SC_CLK_TCK")
    for tid in os.listdir(f"/proc/{pid}/task"):
        try:
            with open(f"/proc/{pid}/task/{tid}/stat") as f:
                raw = f.read()
        except OSError:  # the thread ended while we listed it
            continue
        name = raw[raw.index("(") + 1:raw.rindex(")")]
        fields = raw.rsplit(")", 1)[1].split()
        kind = next((k for k, prefixes in THREAD_KINDS if name.startswith(prefixes)), "other")
        out[kind] += (int(fields[11]) + int(fields[12])) / clk
    return out


def jit_cpu_seconds(pid: int) -> float:
    """CPU seconds the JVM's JIT compiler threads have used."""
    return thread_cpu_by_kind(pid)["jit"]


def steal_seconds() -> float:
    """CPU seconds the hypervisor has stolen from this machine's vCPUs,
    summed over vCPUs, from /proc/stat."""
    with open("/proc/stat") as f:
        fields = f.readline().split()
    return int(fields[8]) / os.sysconf("SC_CLK_TCK")


class CpuClock:
    """Wall and CPU seconds of this process tree since the clock was
    made.

    ``cpu_s`` is the CPU time charged to the tree less the share of the
    machine's vCPU time that the hypervisor stole meanwhile: on a shared
    4-vCPU host the charged CPU time of the same work was measured to
    grow by 1/(1 - share) as that share rose to 0.3, while the share
    moved from run to run.
    """

    def __init__(self) -> None:
        self.wall0, self.cpu0, self.steal0 = time.perf_counter(), tree_cpu_seconds(), steal_seconds()

    def read(self) -> dict[str, float]:
        wall = time.perf_counter() - self.wall0
        charged = tree_cpu_seconds() - self.cpu0
        stolen = (steal_seconds() - self.steal0) / (os.cpu_count() * wall)
        return {"wall_s": wall, "charged_cpu_s": charged, "stolen_share": stolen,
                "cpu_s": charged * (1.0 - stolen)}


def host_record() -> dict:
    """What else could explain a slow run: the machine and the knobs the
    program reads from the environment."""
    with open("/proc/meminfo") as f:
        mem_kb = int(f.readline().split()[1])
    return {
        "nproc": len(os.sched_getaffinity(0)),
        "SPARK_GRAFT_CPUS": os.environ.get("SPARK_GRAFT_CPUS"),
        "SPARK_GRAFT_DRIVER_MEM": os.environ.get("SPARK_GRAFT_DRIVER_MEM"),
        "mem_total_gb": round(mem_kb / 1024 / 1024, 1),
        "loadavg_start": os.getloadavg(),
    }


def tail(values: list[float]) -> tuple[float, float, int]:
    """Highest percentile with at least ten samples beyond it.

    Returns ``(value, percentile, samples)``. A run with fewer than 40
    samples has no such percentile at or above the 75th; it reports
    the highest percentile with a quarter of the samples beyond it
    instead (at least one), so the tail never reads below the median.
    """
    xs = sorted(values)
    n = len(xs)
    beyond = max(1, min(10, n // 4)) if n > 1 else 0
    k = n - 1 - beyond
    return xs[k], round(100.0 * (k + 1) / n, 1), n


def median_of(units: list[dict], key: str) -> float:
    vals = [u[key] for u in units if key in u]
    return float(statistics.median(vals)) if vals else 0.0


def dir_stats(path: str) -> tuple[int, int]:
    """(data files, bytes) under ``path``, ignoring Spark's marker and
    checksum files."""
    files = size = 0
    for root, _dirs, names in os.walk(path):
        for name in names:
            if name.startswith((".", "_")):
                continue
            files += 1
            size += os.path.getsize(os.path.join(root, name))
    return files, size
