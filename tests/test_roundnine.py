"""Round-9 batch A gate: every operator in ``operators/roundnine.py``
must pass the SAME canon/compare tools/check_correctness.py uses
and meet the registry-wide plan bars.
"""

from __future__ import annotations

import pytest

from mysql_public_data_ingestor_spark.operators import roundnine
from mysql_public_data_ingestor_spark.registry import all_queries
from tools.check_correctness import compare, duck_connection

# The queries this gate covers, by name, so its test ids stay fixed: the
# module's own queries plus the graph queries it registered before the
# graph family moved to ``operators/graph_*.py``.
NAMES = (
    "agg_top_value_share",
    "dq_interval_union_coverage",
    "events_dau_mau_stickiness",
    "events_retention_decay_fit",
    "graph_harmonic_closeness_seeds",
    "graph_katz_centrality_seeds",
    "graph_rich_club_coefficient",
    "layout_serpentine_shard_balance",
    "ml_auc_jackknife_ci",
    "ml_brier_decomposition",
    "ml_expected_calibration_error",
    "ml_youden_optimal_threshold",
    "privacy_generalization_ladder",
    "relational_skyline_pareto",
    "similarity_lsh_recall_audit",
    "sketch_kmv_intersection_users",
    "stats_ansari_bradley_quantity",
    "stats_cvm_two_sample",
    "stats_page_hinkley_orders",
    "stats_two_way_anova_price",
    "text_sentence_length_profile",
    "text_term_burstiness_topk",
)
# (name, fn, oracle, doc) of each
QUERIES = [
    (s.name, s.fn, s.oracle, s.doc) for s in (all_queries()[n] for n in NAMES)
]


def test_queue_is_registered_with_oracles():
    """All 19 roundnine.py queries reach ``__spark_entry__.oracle_sql()``, each with
    its oracle."""
    import __spark_entry__ as entry

    names = {
        s.name for s in all_queries().values() if s.fn.__module__ == roundnine.__name__
    }
    assert len(names) == 19
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
    # RAW frames into compare() (it canons internally): pre-canoning
    # here once masked an int32-vs-int64 oracle dtype gap that the
    # registry-wide gate (which compares raw) then caught at
    # activation time (graph_rich_club_coefficient, round 9).
    name, fn, oracle, _doc = entry
    sdf = fn(spark, sf_dir).toPandas()
    con = duck_connection(sf_dir)
    try:
        odf = con.execute(oracle).fetchdf()
    finally:
        con.close()
    problems = compare(name, sdf, odf)
    assert not problems, f"{name}: {problems}"


# Per-module twins of the registry-wide plan sweeps in test_plans.py.
#
# stats_cvm_two_sample: the ordered ECDF pass runs over the POST-
#   AGGREGATION <= 50-distinct-quantity domain, not rows.
# stats_page_hinkley_orders: prefix sum + running min over the POST-
#   AGGREGATION calendar-day series (~2.4k rows at any corpus size).
# ml_brier_decomposition: the total-recovery window runs over the 10
#   decile rows of the final aggregate.
# stats_ansari_bradley_quantity: same bounded-domain shape as CvM —
#   doubled mid-ranks over the <= 50 pooled distinct quantity values.
# relational_skyline_pareto: the frontier cumulative runs over the
#   collapsed DISTINCT price-cents curve of the dimension table
#   (value-domain-bounded), never over part rows.
# ml_youden_optimal_threshold: ROC cumulative over the POST-
#   AGGREGATION <= 10001-value score grid; top-1 via TakeOrdered.
# (agg_top_value_share left this list in round 10: its ordered pass is
#   now a two-pass boundary-bin refinement with max_by final
#   aggregates — no SinglePartition window remains. SCALE §5i.3.)
QUEUE_SP_ALLOWLIST = {
    "stats_cvm_two_sample",
    "stats_page_hinkley_orders",
    "ml_brier_decomposition",
    "stats_ansari_bradley_quantity",
    "relational_skyline_pareto",
    "ml_youden_optimal_threshold",
    # layout_serpentine_shard_balance: the share window runs over the
    # 8-row per-shard aggregate output.
    "layout_serpentine_shard_balance",
}


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
    roundnine.py on its own before the registry loads: every one of its
    queries must register through @register exactly once (a second
    registration would raise a duplicate-name error), each with its
    oracle, and the set must match the one this process sees."""
    import json
    import os
    import subprocess
    import sys

    code = (
        "import json\n"
        "from mysql_public_data_ingestor_spark.operators import roundnine\n"
        "from mysql_public_data_ingestor_spark import registry\n"
        "specs = [s for s in registry.all_queries().values()\n"
        "         if s.fn.__module__ == roundnine.__name__]\n"
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
        s.name for s in all_queries().values() if s.fn.__module__ == roundnine.__name__
    )
