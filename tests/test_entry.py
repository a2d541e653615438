"""Driver-contract smoke tests for __spark_entry__.py."""

from __future__ import annotations

import __spark_entry__ as entrymod


def test_entry_returns_rows(spark):
    df = entrymod.entry(spark)
    rows = df.collect()
    assert len(rows) > 0
    assert set(df.columns) == {"n_name", "revenue"}


def test_queries_and_oracles_consistent(spark):
    qs = entrymod.queries()
    oracles = entrymod.oracle_sql()
    assert len(qs) >= 50
    # every oracle key must have a query
    assert set(oracles) <= set(qs)
    # every callable takes (spark, sf_dir)
    for fn in qs.values():
        assert callable(fn)


def test_registry_loads_sorted_and_stable_in_fresh_interpreter():
    """Registry guard, run in a fresh interpreter so no earlier import
    order can mask a problem: every operator module is listed in
    registry._ensure_loaded (a module dropped from that import tuple
    shows up as a short name count), the entry surface is sorted by
    name and identical on a second call, and building it reads no
    CORRECTNESS_r*.json."""
    import os
    import subprocess
    import sys

    code = (
        "import sys\n"
        "opened = []\n"
        "def hook(event, args):\n"
        "    if event == 'open' and 'CORRECTNESS_r' in str(args[0]):\n"
        "        opened.append(args[0])\n"
        "sys.addaudithook(hook)\n"
        "import __spark_entry__ as e\n"
        "qs, osql = e.queries(), e.oracle_sql()\n"
        "assert len(qs) == 611, len(qs)\n"
        "assert len(osql) == 608, len(osql)\n"
        "assert list(qs) == sorted(qs)\n"
        "assert list(osql) == sorted(osql)\n"
        "assert e.queries() == qs and e.oracle_sql() == osql\n"
        "assert not opened, opened\n"
        "print('REGISTRY OK')\n"
    )
    root = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
    out = subprocess.run(
        [sys.executable, "-c", code], capture_output=True, text=True, cwd=root
    )
    assert out.returncode == 0, out.stderr[-2000:]
    assert "REGISTRY OK" in out.stdout


def test_bench_and_plan_dump_names_resolve():
    """Every name in tools.dump_plans.PLAN_QUERIES must exist in the
    registry — a typo there crashes the plan dump with a KeyError. (The
    bench iterates all_queries() itself, so it has no name list.)"""
    from mysql_public_data_ingestor_spark.registry import all_queries
    from tools import dump_plans

    registered = set(all_queries())
    missing_plans = [n for n in dump_plans.PLAN_QUERIES if n not in registered]
    assert not missing_plans, missing_plans


def test_mask_plan_hides_lambda_variable_counter():
    """Two builds of one higher-order-function plan differ only in the
    process-wide lambda-variable counter; their masked plans are equal,
    and a column named like a lambda variable keeps its name."""
    from tools.dump_plans import mask_plan

    a = (
        "Output [2]: [transform(a#1, lambdafunction((lambda x_1#4L + 1), lambda x_1#4L, "
        "false)) AS b#2, aggregate(a#1, 0, lambdafunction((lambda x_2#5L + lambda y_3#6L), "
        "lambda x_2#5L, lambda y_3#6L, false), lambdafunction(lambda id#7L, lambda id#7L, "
        "false)) AS o_0#3L]"
    )
    b = a.replace("x_1#", "x_41#").replace("x_2#", "x_42#").replace("y_3#", "y_43#")
    assert mask_plan(a) == mask_plan(b)
    assert "o_0#N" in mask_plan(a)
    assert mask_plan(a.replace("o_0#", "o_1#")) != mask_plan(a)


def test_plan_manifest_names_match_registry():
    """The committed plan manifest (``make manifest``) covers exactly the
    registered queries: a query added, renamed or deleted without a
    regenerated manifest fails here, with no Spark session."""
    import json
    import os

    from mysql_public_data_ingestor_spark.registry import all_queries

    root = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
    with open(os.path.join(root, "plans", "MANIFEST.json")) as f:
        manifest = json.load(f)
    assert sorted(manifest) == sorted(all_queries())


def test_bench_history_matches_scale_and_cores(tmp_path, capsys):
    """bench.py writes and diffs one detail file per (sf, cpus): a run at
    another scale or core count finds no history rather than diffing
    against the sf0.1 32-core file."""
    import json

    import bench

    assert bench.detail_sidecar(0.1, 32) == "BENCH_DETAIL.json"
    assert bench.detail_sidecar(0.1, 8) == "BENCH_DETAIL_c8.json"
    assert bench.detail_sidecar(1.0, 8) == "BENCH_DETAIL_sf1.0_c8.json"

    rec = {"sf": 0.1, "cpus": 32, "value": 2.0, "queries": {"q": 2.0}}
    (tmp_path / "BENCH_DETAIL.json").write_text(json.dumps(rec))
    assert bench.load_history(str(tmp_path), 0.1, 32) == ("BENCH_DETAIL.json", rec)
    # missing same-shape files: no fallback to the sf0.1 32-core record
    assert bench.load_history(str(tmp_path), 0.1, 8) is None
    assert bench.load_history(str(tmp_path), 1.0, 8) is None

    bench._report_deltas({"q": 1.0}, 1.0, None)
    assert "no comparable history" in capsys.readouterr().err
    bench._report_deltas({"q": 1.0}, 1.0, ("BENCH_DETAIL.json", rec))
    err = capsys.readouterr().err
    assert "vs BENCH_DETAIL.json" in err and "q: 2.00s -> 1.00s" in err
