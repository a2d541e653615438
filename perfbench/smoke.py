"""The benchmark's own smoke test.

    python3 perfbench/smoke.py

Run from the root of a checkout; takes a few minutes. Every run uses
the smallest inputs (``--tiny``: the 0.001-scale fixture or three
500-row snapshots, one set-up). It checks that

- each workload, untraced and traced, exits 0 and prints as its last
  line the result object with every metric ``BENCHMARK.json`` names for
  that mode, each with its unit, and a correct output check;
- a query made to fail and a sink made to fail each count as failed
  operations (``failed_frac`` above 0, ``correct`` false);
- in a directory holding only the benchmark, the command exits non-zero
  without printing a result.

Exits 0 when every check passes, 1 otherwise.
"""

from __future__ import annotations

import json
import math
import os
import shutil
import subprocess
import sys

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.getcwd()
RESULT_KEYS = {"correct", "attempted", "failed", "metrics"}


def run(args: list[str], cwd: str = ROOT) -> tuple[int, list[str], str]:
    proc = subprocess.run(
        [sys.executable, os.path.join(cwd, "perfbench", "run.py"), *args],
        cwd=cwd, capture_output=True, text=True, timeout=600,
    )
    return proc.returncode, proc.stdout.strip().splitlines(), proc.stderr


def bench_run(workload: str, trace: int, *extra: str) -> tuple[dict, dict]:
    """(result line, full record line) of one tiny run. Runs with an
    injected failure use their own seed, so their saved records do not
    replace the clean runs' ones."""
    seed = "8" if extra else "7"
    code, lines, err = run(["--workload", workload, "--seed", seed, "--seconds", "1",
                            "--trace", str(trace), "--tiny", *extra])
    if code != 0 or len(lines) < 2:
        raise AssertionError(f"{workload} trace={trace} {extra}: exit {code}\n{err[-2000:]}")
    return json.loads(lines[-1]), json.loads(lines[-2])


def check_result(result: dict, wanted: list[dict], label: str) -> list[str]:
    problems = []
    if set(result) != RESULT_KEYS:
        problems.append(f"{label}: result keys {sorted(result)}")
    if not (isinstance(result.get("attempted"), int) and result["attempted"] >= 1):
        problems.append(f"{label}: attempted {result.get('attempted')!r}")
    metrics = result.get("metrics", {})
    names = {m["name"] for m in wanted}
    if set(metrics) != names:
        problems.append(f"{label}: metrics {sorted(set(metrics) ^ names)} differ from BENCHMARK.json")
    for m in wanted:
        got = metrics.get(m["name"])
        if got is None:
            continue
        if got.get("unit") != m["unit"]:
            problems.append(f"{label}: {m['name']} unit {got.get('unit')!r}, want {m['unit']!r}")
        value = got.get("value")
        if not isinstance(value, (int, float)) or not math.isfinite(value):
            problems.append(f"{label}: {m['name']} value {value!r}")
    return problems


def main() -> int:
    with open(os.path.join(ROOT, "BENCHMARK.json")) as f:
        spec = json.load(f)
    problems: list[str] = []

    for w in spec["workloads"]:
        for trace, wanted in ((0, spec["end_to_end"]), (1, spec["per_layer"])):
            label = f"{w['name']} trace={trace}"
            before = len(problems)
            result, record = bench_run(w["name"], trace)
            problems += check_result(result, wanted, label)
            if not (result["correct"] and result["failed"] == 0):
                problems.append(f"{label}: output check failed: {record.get('errors')} {record.get('check')}")
            if trace == 0:
                for m in spec["end_to_end"]:
                    if result["metrics"].get(m["name"], {}).get("value") == 0:
                        problems.append(f"{label}: end-to-end metric {m['name']} reads 0")
            print(f"{'ok' if len(problems) == before else 'FAIL'} {label}", flush=True)

    for workload, inject in (("query_scan", "query"), ("ingest_fanout", "sink")):
        label = f"{workload} --inject {inject}"
        result, record = bench_run(workload, 0, "--inject", inject)
        counted = not result["correct"] and result["failed"] >= 1 and record["failed_frac"] > 0
        if not counted:
            problems.append(f"{label}: failure not counted: failed={result['failed']} "
                            f"failed_frac={record['failed_frac']}")
        print(f"{'ok' if counted else 'FAIL'} {label}: failed_frac={record['failed_frac']:.3f}",
              flush=True)

    bare = os.path.join(ROOT, ".perfbench", "smoke-bare")
    shutil.rmtree(bare, ignore_errors=True)
    shutil.copytree(HERE, os.path.join(bare, "perfbench"),
                    ignore=shutil.ignore_patterns("__pycache__"))
    shutil.copy(os.path.join(ROOT, "BENCHMARK.json"), bare)
    try:
        code, lines, _ = run(["--workload", "query_scan", "--seed", "1", "--seconds", "1",
                              "--trace", "0"], cwd=bare)
    finally:
        shutil.rmtree(bare, ignore_errors=True)
    refused = code != 0 and not any(line.startswith("{") for line in lines)
    if not refused:
        problems.append(f"bare directory: exit {code}, output {lines[-1:]}")
    print(f"{'ok' if refused else 'FAIL'} bare directory: exit {code}", flush=True)

    for p in problems:
        print("problem:", p)
    return 1 if problems else 0


if __name__ == "__main__":
    sys.exit(main())
