"""Self-time and tracing-overhead report.

    python3 perfbench/report.py [workload ...]

Reads what runs left under ``.perfbench/``: the spans of the last
traced run of each workload (``traces/``) and the records of traced and
untraced runs with the same seed (``results/``). Prints, per workload,
each layer's self time per pass, and the tracing overhead: how much
more wall time (``pass_s``) and CPU time (``pass_cpu_s``) a pass takes
in the traced run.
"""

from __future__ import annotations

import glob
import json
import os
import sys
from collections import defaultdict


def covered(start: float, end: float, intervals: list[tuple[float, float]]) -> float:
    """Length of the part of [start, end] that ``intervals`` cover."""
    total, cursor = 0.0, start
    for a, b in sorted(intervals):
        a, b = max(a, cursor), min(b, end)
        if b > a:
            total += b - a
            cursor = b
    return total


def self_times(spans: list[dict]) -> dict[str, float]:
    """Seconds per layer: each span's duration minus the part of it that
    its child spans cover, summed by layer."""
    children: dict[int, list[tuple[float, float]]] = defaultdict(list)
    for s in spans:
        if s["parent"] is not None:
            children[s["parent"]].append((s["start"], s["end"]))
    out: dict[str, float] = defaultdict(float)
    for s in spans:
        dur = s["end"] - s["start"]
        out[s["layer"]] += dur - covered(s["start"], s["end"], children.get(s["id"], []))
    return dict(out)


def overhead(results_dir: str, workload: str) -> list[str]:
    lines = []
    for traced in sorted(glob.glob(os.path.join(results_dir, f"{workload}-seed*-trace1.json"))):
        plain = traced.replace("-trace1.json", "-trace0.json")
        if not os.path.exists(plain):
            continue
        with open(traced) as f:
            t = json.load(f)
        with open(plain) as f:
            u = json.load(f)
        # the traced record keeps its own end-to-end figures next to the
        # per-layer ones it prints
        for key, a, b in (("pass_s", u["wall"]["pass_s"], t["wall"]["pass_s"]),
                          ("pass_cpu_s", u["end_to_end"]["pass_cpu_s"],
                           t["end_to_end"]["pass_cpu_s"])):
            lines.append(f"  seed {t['seed']}: {key} untraced {a:.3f} s, traced {b:.3f} s, "
                         f"overhead {b - a:+.3f} s ({(b - a) / a:+.1%})")
    return lines


def main(argv: list[str]) -> int:
    base = os.path.join(os.getcwd(), ".perfbench")
    names = argv or ["ingest_fanout", "query_scan"]
    for name in names:
        print(f"== {name}")
        for path in sorted(glob.glob(os.path.join(base, "results", f"{name}-seed*-trace1.json"))):
            with open(path) as f:
                rec = json.load(f)
            unit = rec.get("layer_unit", "unit")
            print(f"  seed {rec['seed']}: self seconds per {unit}")
            for layer, secs in sorted(rec.get("self_s_per_unit", {}).items(), key=lambda kv: -kv[1]):
                print(f"    {layer:<16} {secs:8.3f}")
        lines = overhead(os.path.join(base, "results"), name)
        print("  tracing overhead:" if lines else "  tracing overhead: no untraced run with the same seed")
        print("\n".join(lines))
    return 0


if __name__ == "__main__":
    sys.exit(main(sys.argv[1:]))
