"""Round-9 batch B gate: every operator in ``operators/roundten.py``
must pass the SAME raw-frame compare tools/check_correctness.py
uses and meet the registry-wide plan bars.
"""

from __future__ import annotations

import math

import pytest

from mysql_public_data_ingestor_spark.operators import roundten
from mysql_public_data_ingestor_spark.registry import all_queries
from tools.check_correctness import compare, duck_connection

# The queries this gate covers, by name, so its test ids stay fixed: the
# module's own queries plus the stats queries it registered before the
# stats family moved to ``operators/stats_*.py``.
NAMES = (
    "dq_benford_second_digit_totals",
    "events_churn_hazard_by_tenure",
    "multimodal_payload_dedup_manifest",
    "sketch_linear_counting_users",
    "stats_gamma_latency_fit_moments",
    "stats_page_trend_l",
)
# (name, fn, oracle, doc) of each
QUERIES = [
    (s.name, s.fn, s.oracle, s.doc) for s in (all_queries()[n] for n in NAMES)
]


def test_queue_is_registered_with_oracles():
    """All 6 queries of this gate reach ``__spark_entry__.oracle_sql()``, each with
    its oracle."""
    import __spark_entry__ as entry

    names = {name for name, *_ in QUERIES}
    assert len(names) == 6
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
    # RAW frames into compare() (it canons internally) — the round-9
    # lesson: pre-canoning masked an int32 oracle dtype gap.
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
# No entry needs a single-partition allowlist: every global ordered
# pass is a TakeOrdered or a constant-size final aggregate.


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
    roundten.py on its own before the registry loads: every one of its
    queries must register through @register exactly once (a second
    registration would raise a duplicate-name error), each with its
    oracle, and the set must match the one this process sees."""
    import json
    import os
    import subprocess
    import sys

    code = (
        "import json\n"
        "from mysql_public_data_ingestor_spark.operators import roundten\n"
        "from mysql_public_data_ingestor_spark import registry\n"
        "specs = [s for s in registry.all_queries().values()\n"
        "         if s.fn.__module__ == roundten.__name__]\n"
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
        s.name for s in all_queries().values() if s.fn.__module__ == roundten.__name__
    )


# --- Python replicas ------------------------------------------------------


def _q(name, spark, sf_dir):
    fn = all_queries()[name].fn
    return fn(spark, sf_dir).toPandas()


def _half_up(num: int, den: int, dp: int = 6) -> float:
    s = 10**dp
    mag = (2 * s * abs(num) + den) // (2 * den)
    return (-mag if num < 0 else mag) / s


def _sha60(s: str) -> int:
    import hashlib

    return int(hashlib.sha256(s.encode()).hexdigest()[:15], 16)


def test_page_trend_matches_python(spark, sf_dir):
    from mysql_public_data_ingestor_spark.tables import Tables

    got = _q("stats_page_trend_l", spark, sf_dir).iloc[0]
    t = Tables(spark, sf_dir)
    orders = t.orders.select("o_custkey", "o_orderpriority", "o_totalprice").toPandas()
    cust = t.customer.select("c_custkey", "c_nationkey").toPandas()
    j = orders.merge(cust, left_on="o_custkey", right_on="c_custkey")
    j["cents"] = (j["o_totalprice"] * 100.0 + 0.5).apply(math.floor).astype("int64")
    cells = j.groupby(["c_nationkey", "o_orderpriority"]).agg(
        n=("cents", "count"), s=("cents", "sum")
    )
    k = j["o_orderpriority"].nunique()
    l_sum = 0
    b = 0
    for blk, grp in cells.groupby(level=0):
        if len(grp) != k:
            continue
        b += 1
        rows = sorted(
            (
                (float(r["s"]) / float(r["n"]), trt)
                for (_, trt), r in grp.iterrows()
            )
        )
        for rnk, (_, trt) in enumerate(rows, 1):
            l_sum += int(trt[0]) * rnk
    e4 = b * k * (k + 1) * (k + 1)
    v144 = b * k * k * (k + 1) * (k * k - 1)
    z = 3.0 * float(4 * l_sum - e4) / math.sqrt(float(v144))
    assert int(got["k"]) == k
    assert int(got["n_blocks"]) == b
    assert int(got["page_l"]) == l_sum
    assert int(got["e_l_x4"]) == e4
    assert got["z_page"] == math.floor(z * 1e6 + 0.5) / 1e6


def test_linear_counting_matches_python(spark, sf_dir):
    from mysql_public_data_ingestor_spark.functions.detmath import ref_det_ln_q
    from mysql_public_data_ingestor_spark.tables import Tables

    got = _q("sketch_linear_counting_users", spark, sf_dir).iloc[0]
    t = Tables(spark, sf_dir)
    users = [r.user_id for r in t.events.select("user_id").distinct().collect()]
    m = roundten.LC_M
    occupied = len({_sha60(str(u)) % m for u in users})
    d_exact = len(set(users))
    assert int(got["occupied"]) == occupied
    assert int(got["d_exact"]) == d_exact
    if occupied < m:
        est = (2 * m * (ref_det_ln_q(m) - ref_det_ln_q(m - occupied)) + 10**6) // (
            2 * 10**6
        )
        assert int(got["d_lc_est"]) == est
        assert got["rel_error"] == _half_up(abs(est - d_exact), d_exact)


def test_churn_hazard_matches_python(spark, sf_dir):
    import pandas as pd

    from mysql_public_data_ingestor_spark.tables import Tables

    got = _q("events_churn_hazard_by_tenure", spark, sf_dir).sort_values("w")
    t = Tables(spark, sf_dir)
    ev = t.events.select("user_id", "ts").toPandas()
    ev["week"] = pd.to_datetime(ev["ts"]).dt.to_period("W-SUN").dt.start_time
    per = ev.groupby("user_id")["week"].agg(["min", "max"])
    maxw = ev["week"].max()
    tenure = ((per["max"] - per["min"]).dt.days // 7).astype(int)
    age = ((maxw - per["min"]).dt.days // 7).astype(int)
    for _, row in got.iterrows():
        w = int(row["w"])
        at_risk = int(((age >= w) & (tenure >= w)).sum())
        churned = int(((tenure == w) & (age > w)).sum())
        assert int(row["at_risk"]) == at_risk, w
        assert int(row["churned"]) == churned, w
        if at_risk > 0:
            assert row["hazard"] == _half_up(churned, at_risk)


def test_benford2_matches_python(spark, sf_dir):
    from mysql_public_data_ingestor_spark.tables import Tables

    got = _q("dq_benford_second_digit_totals", spark, sf_dir).sort_values("digit")
    t = Tables(spark, sf_dir)
    tp = t.orders.select("o_totalprice").toPandas()["o_totalprice"]
    cents = [int(math.floor(v * 100 + 0.5)) for v in tp]
    cents = [c for c in cents if c >= 10]
    n = len(cents)
    from collections import Counter

    obs = Counter(int(str(c)[1]) for c in cents)
    for _, row in got.iterrows():
        d = int(row["digit"])
        o = obs.get(d, 0)
        p = roundten.BENFORD2_P[d]
        assert int(row["observed"]) == o
        assert int(row["expected_u"]) == math.floor(float(n) * p * 1e6 + 0.5)
        dev = float(o) - float(n) * p
        assert row["chi2_contrib"] == math.floor(
            dev * dev / (float(n) * p) * 1e6 + 0.5
        ) / 1e6


def test_payload_dedup_matches_python(spark, sf_dir):
    import hashlib

    from mysql_public_data_ingestor_spark.tables import Tables

    got = _q("multimodal_payload_dedup_manifest", spark, sf_dir)
    t = Tables(spark, sf_dir)
    docs = t.documents.select("text").toPandas()["text"]
    from collections import Counter

    groups: dict[str, list[int]] = {}
    for s in docs:
        h = hashlib.sha256(s.encode()).hexdigest()
        groups.setdefault(h, []).append(len(s.encode()))
    dups = [
        (h, len(v), v[0], (len(v) - 1) * v[0]) for h, v in groups.items() if len(v) >= 2
    ]
    dups.sort(key=lambda x: (-x[3], x[0]))
    dups = dups[: roundten.PAYLOAD_DEDUP_TOPK]
    assert len(got) == len(dups)
    for row, (h, nc, pb, bs) in zip(got.itertuples(), dups):
        assert (row.payload_sha, row.n_copies, row.payload_bytes, row.bytes_saved) == (
            h,
            nc,
            pb,
            bs,
        )


def test_gamma_fit_matches_python(spark, sf_dir):
    import pandas as pd

    from mysql_public_data_ingestor_spark.tables import Tables

    got = _q("stats_gamma_latency_fit_moments", spark, sf_dir).iloc[0]
    t = Tables(spark, sf_dir)
    li = t.lineitem.select("l_orderkey", "l_shipdate").toPandas()
    od = t.orders.select("o_orderkey", "o_orderdate").toPandas()
    j = li.merge(od, left_on="l_orderkey", right_on="o_orderkey")
    v = (
        (pd.to_datetime(j["l_shipdate"]) - pd.to_datetime(j["o_orderdate"])).dt.days
    ).astype(int)
    v = v[v >= 1]
    n = len(v)
    s = int(v.sum())
    q = int((v.astype(object) ** 2).sum())
    mean = float(s) / float(n)
    var = (float(n) * float(q) - float(s) * float(s)) / (float(n) * (float(n) - 1.0))

    def q6(x):
        return math.floor(x * 1e6 + 0.5) / 1e6

    assert int(got["n"]) == n
    assert got["mean_days"] == q6(mean)
    assert got["gamma_shape"] == q6(mean * mean / var)
    assert got["gamma_scale"] == q6(var / mean)
