"""Benchmark harness: runs every registered query, in name order, at
$SPARK_GRAFT_SF_DIR (default: the sf0.1 fixture) on
local[$SPARK_GRAFT_CPUS] and prints ONE compact JSON line:
{"metric": ..., "value": N, "unit": "sec", "queries": {"all": N},
"n_queries": K, "sf": ...}. Per-query warm and cold timings go to
stderr and to BENCH_DETAIL.json (the recording harness keeps only a
bounded tail of stdout — round 2's full per-query line outgrew it and
the headline number was lost).

Each query is forced to full materialization with the noop sink (no
driver-side collect, no Arrow transfer cost in the measurement).

Regression tracking: per-query deltas vs the previous detail record at
the same scale and core count (:func:`detail_sidecar`) are printed to
STDERR (stdout stays one JSON line).
"""

from __future__ import annotations

import json
import os
import sys
import time

sys.path.insert(0, os.path.dirname(os.path.abspath(__file__)))

from mysql_public_data_ingestor_spark.registry import all_queries
from mysql_public_data_ingestor_spark.session import get_spark


def main() -> None:
    sf_dir = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    sf = float(os.path.basename(sf_dir.rstrip("/")).replace("sf", "") or "0.1")
    spark = get_spark("bench")
    specs = all_queries()

    # warm the JVM + parquet footers with one cheap query, and the
    # Python/Arrow UDF workers with a trivial pandas UDF (so per-query
    # timings measure steady-state, not one-time worker startup)
    # twice: the first execution JITs parquet scan + hash-agg codegen,
    # the second catches stragglers so the first *timed* query isn't
    # paying one-time compilation (observed up to ~2.5 s of it).
    for _ in range(2):
        specs["q1_pricing_summary"].fn(spark, sf_dir).write.format("noop").mode("overwrite").save()
    from pyspark.sql import functions as F

    @F.pandas_udf("long")
    def _warm(s):
        return s

    spark.range(spark.sparkContext.defaultParallelism * 4).repartition(
        spark.sparkContext.defaultParallelism
    ).select(_warm("id")).write.format("noop").mode("overwrite").save()

    # Each query runs twice; the headline number is the min (steady
    # state). Rationale: the first local run is dominated by one-time
    # plan compilation + whole-stage codegen (~0.5-1.5 s, high variance
    # with JVM age), which at production scale amortizes to nothing
    # against hours of actual scan/shuffle work — min-of-2 measures the
    # execution plan, not the JIT. Cold (first-run) times are kept in
    # "queries_cold" for transparency.
    timings: dict[str, float] = {}
    cold: dict[str, float] = {}
    for name in specs:
        # Inter-query hygiene (untimed): drop Python-side DataFrame refs
        # so the async ContextCleaner can release localCheckpoint blocks
        # and broadcasts between queries. Python gc only — a forced
        # per-query JVM System.gc() was measured to inflate the whole
        # suite ~20% (full STW collections reset heap/JIT heuristics),
        # strictly worse than letting G1 pace itself.
        import gc

        gc.collect()
        fn = specs[name].fn
        runs = []
        for _ in range(2):
            t0 = time.perf_counter()
            fn(spark, sf_dir).write.format("noop").mode("overwrite").save()
            runs.append(time.perf_counter() - t0)
        cold[name] = round(runs[0], 3)
        timings[name] = round(min(runs), 3)

    # VERDICT r14 item 7: the min-of-2 fold drops one-time warehouse
    # materialization costs (they land only in the first consumer's
    # cold run). Charge them visibly as a timed "derivations"
    # pseudo-entry that counts toward the headline total — every
    # bench invocation rebuilds every table from parquet (app-id
    # fingerprints forbid cross-run reuse), so this is real computed
    # work of the run, not an estimate. Old-style totals (excluding
    # builds) stay available as value - queries["derivations"].
    from mysql_public_data_ingestor_spark import warehouse

    timings["derivations"] = round(sum(warehouse.BUILD_SECONDS.values()), 3)
    total = round(sum(timings.values()), 3)
    from mysql_public_data_ingestor_spark.session import default_parallelism

    cpus = default_parallelism()
    root = os.path.dirname(os.path.abspath(__file__))
    _report_deltas(timings, total, load_history(root, sf, cpus))
    # The harness that records this run keeps only a bounded tail of
    # stdout; round 2's single line (50 warm + 50 cold timings, ~5 KB)
    # outgrew it and the headline number was lost. So: full per-query
    # detail goes to stderr AND a sidecar file; the FINAL stdout line is
    # a compact summary guaranteed to fit any reasonable tail buffer.
    detail = {
        "metric": "headline_query_wall_seconds_total",
        "value": total,
        "unit": "sec",
        "queries": timings,
        "sf": sf,
        "cpus": cpus,
        "timing": "min_of_2_runs",
        "queries_cold": cold,
        "derivation_builds": {
            k: round(v, 3) for k, v in warehouse.BUILD_SECONDS.items()
        },
    }
    sidecar = detail_sidecar(sf, cpus)
    detail_path = os.path.join(root, sidecar)
    try:
        with open(detail_path, "w") as f:
            json.dump(detail, f, indent=1)
    except OSError as exc:  # read-only checkout: stderr copy still has it
        print(f"[bench] could not write {detail_path}: {exc}", file=sys.stderr)
    print("[bench] per-query detail: " + json.dumps(detail), file=sys.stderr)
    print(
        json.dumps(
            {
                "metric": "headline_query_wall_seconds_total",
                "value": total,
                "unit": "sec",
                "queries": {
                    "all": total,
                    "derivations": timings["derivations"],
                },
                "n_queries": len(timings) - 1,  # minus the pseudo-entry
                "sf": sf,
                "cpus": cpus,
                "timing": "min_of_2_runs",
                "detail": sidecar,
            }
        )
    )


def detail_sidecar(sf: float, cpus: int) -> str:
    """File name of the per-query detail record for one scale and core
    count. ``BENCH_DETAIL.json`` is the sf0.1 32-core history; any other
    scale or core count gets its own file, so a run never overwrites or
    diffs against numbers it cannot be compared with."""
    stem = "BENCH_DETAIL" if sf == 0.1 else f"BENCH_DETAIL_sf{sf}"
    return f"{stem}.json" if cpus == 32 else f"{stem}_c{cpus}.json"


def load_history(root: str, sf: float, cpus: int) -> tuple[str, dict] | None:
    """``(file name, record)`` of the previous run at this scale and core
    count, or ``None`` when there is none (missing or unreadable file)."""
    name = detail_sidecar(sf, cpus)
    try:
        with open(os.path.join(root, name)) as f:
            return name, json.load(f)
    except (OSError, json.JSONDecodeError):
        return None


def _report_deltas(
    timings: dict[str, float], total: float, history: tuple[str, dict] | None
) -> None:
    """Diff per-query timings against ``history`` (see
    :func:`load_history`) on stderr."""
    if history is None:
        print("[bench] no comparable history", file=sys.stderr)
        return
    src, prev = history
    prev_q = prev.get("queries", {})
    print(f"[bench] vs {src}:", file=sys.stderr)
    for name, t in timings.items():
        if name in prev_q and prev_q[name]:
            pct = 100.0 * (t - prev_q[name]) / prev_q[name]
            flag = "  REGRESSION" if pct > 25 else ""
            print(f"[bench]   {name}: {prev_q[name]:.2f}s -> {t:.2f}s ({pct:+.0f}%){flag}",
                  file=sys.stderr)
        else:
            print(f"[bench]   {name}: (new) {t:.2f}s", file=sys.stderr)
    if prev.get("value"):
        pct = 100.0 * (total - prev["value"]) / prev["value"]
        print(f"[bench]   TOTAL: {prev['value']:.2f}s -> {total:.2f}s ({pct:+.0f}%)",
              file=sys.stderr)
    common = [n for n in timings if n in prev_q]
    if common and len(common) != len(timings):
        now_c = sum(timings[n] for n in common)
        then_c = sum(prev_q[n] for n in common)
        print(
            f"[bench]   LIKE-FOR-LIKE ({len(common)} queries in both rounds): "
            f"{then_c:.2f}s -> {now_c:.2f}s ({100.0 * (now_c - then_c) / then_c:+.0f}%)",
            file=sys.stderr,
        )


if __name__ == "__main__":
    main()
