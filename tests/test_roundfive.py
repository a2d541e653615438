"""Round-5 batch gate: every operator in ``operators/roundfive.py``
must pass the SAME canon/compare tools/check_correctness.py uses
and meet the registry-wide plan bars.
"""

from __future__ import annotations

import pytest

from mysql_public_data_ingestor_spark.operators import roundfive
from mysql_public_data_ingestor_spark.registry import all_queries
from tools.check_correctness import canon, compare, duck_connection

# The queries this gate covers, by name, so its test ids stay fixed: the
# module's own queries plus the graph queries it registered before the
# graph family moved to ``operators/graph_*.py``.
NAMES = (
    "agg_topk_mergeable",
    "corpus_dedup_survivorship",
    "corpus_temperature_mixture",
    "dq_schema_drift",
    "dq_uniqueness_violations",
    "embedding_pq_assign_stats",
    "events_funnel_time_windowed",
    "events_hourly_topk_users",
    "events_late_arrival_audit",
    "events_scd_asof_snapshot",
    "graph_label_propagation",
    "join_range_bucketed",
    "layout_compaction_plan",
    "lineitem_shipment_latency",
    "ml_confusion_threshold_sweep",
    "privacy_l_diversity_audit",
    "similarity_ann_multiprobe_topk",
    "stats_logistic_gd",
    "stats_pareto_by_nation",
    "stats_welch_anova",
    "text_char_trigram_profile",
    "text_langid_confusion",
    "text_pmi_cooccurrence",
)
# (name, fn, oracle, doc) of each
QUERIES = [
    (s.name, s.fn, s.oracle, s.doc) for s in (all_queries()[n] for n in NAMES)
]


def test_queue_is_registered_with_oracles():
    """All 22 roundfive.py queries reach ``__spark_entry__.oracle_sql()``, each with
    its oracle."""
    import __spark_entry__ as entry

    names = {
        s.name for s in all_queries().values() if s.fn.__module__ == roundfive.__name__
    }
    assert len(names) == 22
    missing = names - set(entry.oracle_sql())
    assert not missing, f"registered without oracle: {missing}"


def test_queue_entries_well_formed():
    seen = set()
    for name, fn, oracle, doc in QUERIES:
        assert name not in seen, f"duplicate queue name {name}"
        seen.add(name)
        assert callable(fn)
        assert isinstance(oracle, str) and oracle.strip()
        assert doc.strip(), f"{name} missing docstring"


@pytest.mark.parametrize(
    "entry", QUERIES, ids=[name for name, *_ in QUERIES]
)
def test_queued_query_matches_oracle(spark, sf_dir, entry):
    name, fn, oracle, _doc = entry
    sdf = canon(fn(spark, sf_dir).toPandas())
    con = duck_connection(sf_dir)
    try:
        odf = canon(con.execute(oracle).fetchdf())
    finally:
        con.close()
    problems = compare(name, sdf, odf)
    assert not problems, f"{name}: {problems}"


# Per-module twins of the registry-wide plan sweeps in test_plans.py.

# agg_topk_mergeable: the global re-rank window runs over the merged
# per-shard partials (<= shards*k = 80 rows by construction) — a
# constant-size merge stage like diag_key_skew_profile's, not a
# data-scaled single-reducer.
QUEUE_SP_ALLOWLIST = {"agg_topk_mergeable"}


def _sp_consumers(plan: str) -> list[str]:
    import re

    lines = plan.splitlines()
    out = []
    for i, line in enumerate(lines):
        if "Exchange SinglePartition" not in line:
            continue
        if "REPARTITION_BY_NUM" in line:
            continue
        for j in range(i - 1, -1, -1):
            m = re.match(r"\s*[:+\-\s]*([A-Za-z]+)", lines[j])
            if m and m.group(1) != "Exchange":
                out.append(m.group(1))
                break
    return out


def test_queue_single_partition_only_feeds_final_aggregates(spark, sf_dir):
    from mysql_public_data_ingestor_spark.plans import physical_plan

    offenders = {}
    for name, fn, _oracle, _doc in QUERIES:
        if name in QUEUE_SP_ALLOWLIST:
            continue
        plan = physical_plan(fn(spark, sf_dir))
        bad = [
            c
            for c in _sp_consumers(plan)
            if c not in ("HashAggregate", "ObjectHashAggregate", "SortAggregate")
        ]
        if bad:
            offenders[name] = bad
    assert not offenders, offenders


def test_queue_no_cartesian_products(spark, sf_dir):
    from mysql_public_data_ingestor_spark.plans import assert_no_cartesian

    offenders = []
    for name, fn, _oracle, _doc in QUERIES:
        try:
            assert_no_cartesian(fn(spark, sf_dir))
        except AssertionError:
            offenders.append(name)
    assert not offenders, offenders


def test_activate_registers_cleanly_in_subprocess():
    """In a fresh interpreter — so the live registry stays clean — import
    roundfive.py on its own before the registry loads: every one of its
    queries must register through @register exactly once (a second
    registration would raise a duplicate-name error), each with its
    oracle, and the set must match the one this process sees."""
    import json
    import os
    import subprocess
    import sys

    code = (
        "import json\n"
        "from mysql_public_data_ingestor_spark.operators import roundfive\n"
        "from mysql_public_data_ingestor_spark import registry\n"
        "specs = [s for s in registry.all_queries().values()\n"
        "         if s.fn.__module__ == roundfive.__name__]\n"
        "no_oracle = [s.name for s in specs if s.oracle is None]\n"
        "assert not no_oracle, f'registered without oracle: {no_oracle}'\n"
        "print(json.dumps(sorted(s.name for s in specs)))\n"
    )
    root = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
    out = subprocess.run(
        [sys.executable, "-c", code], capture_output=True, text=True, cwd=root
    )
    assert out.returncode == 0, out.stderr[-2000:]
    registered = json.loads(out.stdout.strip().splitlines()[-1])
    assert registered == sorted(
        s.name for s in all_queries().values() if s.fn.__module__ == roundfive.__name__
    )
