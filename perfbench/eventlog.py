"""Spark event-log reader (stdlib ``json`` only).

The traced run starts Spark with ``spark.eventLog.enabled=true`` and
``spark.eventLog.compress=false``; this module turns one application's
log into per-job-group totals. Each job carries the group the benchmark
set with ``setJobGroup`` before the call that launched it, so every
stage and task is charged to the operation and phase that caused it.
"""

from __future__ import annotations

import glob
import json
import os
import statistics
from collections import defaultdict

MB = 1024.0 * 1024.0


def log_files(log_dir: str, app_id: str) -> list[str]:
    """The event-log file(s) of ``app_id``: a single file, or a rolling
    ``eventlog_v2_<app>/events_<n>_<app>`` directory."""
    rolled = sorted(
        glob.glob(os.path.join(log_dir, f"eventlog_v2_{app_id}*", "events_*")),
        key=lambda p: int(os.path.basename(p).split("_")[1]),
    )
    return rolled or sorted(glob.glob(os.path.join(log_dir, f"{app_id}*")))


def _events(paths: list[str]):
    for path in paths:
        with open(path) as f:
            for line in f:
                if line.strip():
                    yield json.loads(line)


def new_totals() -> dict:
    return {
        "jobs": 0, "stages": 0, "tasks": 0, "executor_run_s": 0.0,
        "executor_cpu_s": 0.0, "gc_s": 0.0, "shuffle_read_mb": 0.0,
        "shuffle_write_mb": 0.0, "spill_mb": 0.0, "input_mb": 0.0,
    }


def parse(paths: list[str]) -> dict:
    """Return ``{"groups": {group: totals}, "jobs": [...], "stages": {...}}``.

    ``totals`` sums task metrics over the group's tasks; ``jobs`` lists
    ``(job_id, group, start_s, end_s)`` in epoch seconds; ``stages`` maps
    a stage id to its group, duration and task durations.
    """
    job_group: dict[int, str] = {}
    job_times: dict[int, list[float]] = {}
    stage_group: dict[int, str] = {}
    stage_wall: dict[int, float] = {}
    stage_tasks: dict[int, list[float]] = defaultdict(list)
    groups: dict[str, dict] = defaultdict(new_totals)
    for ev in _events(paths):
        kind = ev.get("Event")
        if kind == "SparkListenerJobStart":
            jid = ev["Job ID"]
            group = (ev.get("Properties") or {}).get("spark.jobGroup.id") or "none"
            job_group[jid] = group
            job_times[jid] = [ev["Submission Time"] / 1000.0, ev["Submission Time"] / 1000.0]
            groups[group]["jobs"] += 1
            # a stage belongs to the first job that lists it; later jobs
            # list it again only as an already-computed (skipped) parent
            for sid in ev.get("Stage IDs", []):
                stage_group.setdefault(sid, group)
        elif kind == "SparkListenerJobEnd":
            jid = ev["Job ID"]
            if jid in job_times:
                job_times[jid][1] = ev["Completion Time"] / 1000.0
        elif kind == "SparkListenerStageCompleted":
            info = ev["Stage Info"]
            sid = info["Stage ID"]
            group = stage_group.get(sid, "none")
            groups[group]["stages"] += 1
            if info.get("Submission Time") and info.get("Completion Time"):
                stage_wall[sid] = (info["Completion Time"] - info["Submission Time"]) / 1000.0
        elif kind == "SparkListenerTaskEnd":
            sid = ev["Stage ID"]
            group = groups[stage_group.get(sid, "none")]
            info = ev.get("Task Info") or {}
            m = ev.get("Task Metrics") or {}
            group["tasks"] += 1
            group["executor_run_s"] += m.get("Executor Run Time", 0) / 1000.0
            group["executor_cpu_s"] += m.get("Executor CPU Time", 0) / 1e9
            group["gc_s"] += m.get("JVM GC Time", 0) / 1000.0
            group["spill_mb"] += (
                m.get("Memory Bytes Spilled", 0) + m.get("Disk Bytes Spilled", 0)
            ) / MB
            group["input_mb"] += (m.get("Input Metrics") or {}).get("Bytes Read", 0) / MB
            rd = m.get("Shuffle Read Metrics") or {}
            group["shuffle_read_mb"] += (
                rd.get("Remote Bytes Read", 0) + rd.get("Local Bytes Read", 0)
            ) / MB
            wr = m.get("Shuffle Write Metrics") or {}
            group["shuffle_write_mb"] += wr.get("Shuffle Bytes Written", 0) / MB
            if info.get("Launch Time") and info.get("Finish Time"):
                stage_tasks[sid].append((info["Finish Time"] - info["Launch Time"]) / 1000.0)
    jobs = [(jid, job_group[jid], t[0], t[1]) for jid, t in sorted(job_times.items())]
    stages = {
        sid: {"group": stage_group.get(sid, "none"), "wall_s": wall, "tasks": stage_tasks.get(sid, [])}
        for sid, wall in stage_wall.items()
    }
    return {"groups": dict(groups), "jobs": jobs, "stages": stages}


def task_skew(stages: list[dict]) -> float:
    """max/median task time in the slowest of ``stages`` (1.0 = even)."""
    timed = [s for s in stages if s["tasks"]]
    if not timed:
        return 0.0
    slowest = max(timed, key=lambda s: s["wall_s"])
    med = statistics.median(slowest["tasks"])
    return max(slowest["tasks"]) / med if med > 0 else 1.0
