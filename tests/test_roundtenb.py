"""Gate for ``operators/roundtenb.py`` (batch B): every operator must
pass the SAME raw-frame compare tools/check_correctness.py uses,
meet the registry-wide plan bars, and match an independent Python
replica.
"""

from __future__ import annotations

import math

import pytest

from mysql_public_data_ingestor_spark.operators import daily_change
from mysql_public_data_ingestor_spark.operators import events_sequence
from mysql_public_data_ingestor_spark.operators import roundtenb
from mysql_public_data_ingestor_spark.operators import ml_thresholds
from mysql_public_data_ingestor_spark.registry import all_queries
from tools.check_correctness import compare, duck_connection

# The queries this gate covers, by name, so its test ids stay fixed: the
# module's own queries plus the daily-series queries it registered before
# they moved to ``operators/daily_*.py``.
NAMES = (
    "dq_weekday_volume_anomaly",
    "events_session_duration_histogram",
    "ml_cost_optimal_threshold",
    "sketch_ams_f2_users",
    "stats_kendall_w_nation_priority",
    "text_code_detection_gate",
)
# (name, fn, oracle, doc) of each
QUERIES = [
    (s.name, s.fn, s.oracle, s.doc) for s in (all_queries()[n] for n in NAMES)
]


def test_queue_is_registered_with_oracles():
    """All 6 roundtenb.py queries reach ``__spark_entry__.oracle_sql()``, each with
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


# Plan bars: identical sweeps to the registry-wide tests, with one
# documented exception. ml_cost_optimal_threshold runs its descending
# ROC cumulative over the POST-AGGREGATION <= 10001-value quantized
# score grid — the same bounded-domain class (and the same upstream
# aggregate) as the allowlisted ml_youden_optimal_threshold; the
# row-scaled work all happens in the partial/merged (score_q -> cnt,
# cpos) aggregate before the single-partition stage.

SP_ALLOWLIST = {"ml_cost_optimal_threshold"}


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
        if name in SP_ALLOWLIST:
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


def test_kendall_w_matches_python(spark, sf_dir):
    from mysql_public_data_ingestor_spark.tables import Tables

    got = _q("stats_kendall_w_nation_priority", spark, sf_dir).iloc[0]
    t = Tables(spark, sf_dir)
    orders = t.orders.select("o_custkey", "o_orderpriority", "o_totalprice").toPandas()
    cust = t.customer.select("c_custkey", "c_nationkey").toPandas()
    j = orders.merge(cust, left_on="o_custkey", right_on="c_custkey")
    j["cents"] = (j["o_totalprice"] * 100.0 + 0.5).apply(math.floor).astype("int64")
    cells = j.groupby(["c_nationkey", "o_orderpriority"]).agg(
        n=("cents", "count"), s=("cents", "sum")
    )
    k = j["o_orderpriority"].nunique()
    r_j: dict[str, int] = {}
    b = 0
    for _blk, grp in cells.groupby(level=0):
        if len(grp) != k:
            continue
        b += 1
        rows = sorted(
            ((float(r["s"]) / float(r["n"]), trt) for (_, trt), r in grp.iterrows())
        )
        for rnk, (_, trt) in enumerate(rows, 1):
            r_j[trt] = r_j.get(trt, 0) + rnk
    s4 = sum((2 * rj - b * (k + 1)) ** 2 for rj in r_j.values())
    assert int(got["k"]) == k
    assert int(got["n_blocks"]) == b
    assert int(got["s4"]) == s4
    if b > 0 and k > 1:
        assert got["kendall_w"] == _half_up(3 * s4, b * b * k * (k * k - 1))
        assert 0.0 <= got["kendall_w"] <= 1.0


def test_session_duration_histogram_matches_python(spark, sf_dir):
    import pandas as pd

    from mysql_public_data_ingestor_spark.streaming.batch_equivalents import (
        SESSION_GAP_MIN,
    )
    from mysql_public_data_ingestor_spark.tables import Tables

    got = _q("events_session_duration_histogram", spark, sf_dir).sort_values("bucket")
    t = Tables(spark, sf_dir)
    ev = t.events.select("user_id", "ts", "event_id").toPandas()
    ev = ev.sort_values(["user_id", "ts", "event_id"]).reset_index(drop=True)
    ev["us"] = pd.to_datetime(ev["ts"]).astype("int64") // 1000
    durs: list[int] = []
    for _uid, grp in ev.groupby("user_id"):
        us = grp["us"].tolist()
        start = us[0]
        prev = us[0]
        for u in us[1:]:
            if u - prev > SESSION_GAP_MIN * 60_000_000:
                durs.append((prev - start) // 60_000_000)
                start = u
            prev = u
        durs.append((prev - start) // 60_000_000)
    edges = events_sequence.SESSDUR_EDGES
    from collections import Counter

    def bucket(d: int) -> int:
        for i, hi in enumerate(edges):
            if d < hi:
                return i
        return len(edges)

    counts = Counter(bucket(d) for d in durs)
    tot = sum(counts.values())
    assert len(got) == len(counts)
    for _, row in got.iterrows():
        bkt = int(row["bucket"])
        assert int(row["n_sessions"]) == counts[bkt]
        assert row["share"] == _half_up(counts[bkt], tot)


def test_code_detection_matches_python(spark, sf_dir):
    from mysql_public_data_ingestor_spark.tables import Tables

    got = _q("text_code_detection_gate", spark, sf_dir).sort_values("lang")
    t = Tables(spark, sf_dir)
    docs = t.documents.select("lang", "n_chars", "text").toPandas()
    syms = set(roundtenb.CODE_SYMBOLS)
    per: dict[str, list[int]] = {}
    for _, r in docs.iterrows():
        n_sym = sum(1 for ch in r["text"] if ch in syms)
        n_chars = int(r["n_chars"])
        agg = per.setdefault(r["lang"], [0, 0, 0])
        agg[0] += 1
        agg[1] += 1 if (n_chars > 0 and 20 * n_sym > n_chars) else 0
        agg[2] += n_sym
    assert len(got) == len(per)
    for _, row in got.iterrows():
        n_docs, n_code, tot_sym = per[row["lang"]]
        assert int(row["n_docs"]) == n_docs
        assert int(row["n_code_like"]) == n_code
        assert int(row["total_symbols"]) == tot_sym
        assert row["code_share"] == _half_up(n_code, n_docs)


def test_cost_optimal_threshold_matches_python(spark, sf_dir):
    from mysql_public_data_ingestor_spark.operators.ml_scores import scored_labeled
    from mysql_public_data_ingestor_spark.tables import Tables

    got = _q("ml_cost_optimal_threshold", spark, sf_dir).iloc[0]
    t = Tables(spark, sf_dir)
    sc = scored_labeled(t).select("score_q", "label").toPandas()
    grid = (
        sc.assign(one=1)
        .groupby("score_q")
        .agg(cnt=("one", "sum"), cpos=("label", "sum"))
        .sort_index(ascending=False)
    )
    n = int(grid["cnt"].sum())
    pos = int(grid["cpos"].sum())
    best = None
    pred_pos = tp = 0
    for score_q, r in grid.iterrows():
        pred_pos += int(r["cnt"])
        tp += int(r["cpos"])
        fp = pred_pos - tp
        fn = pos - tp
        tn = n - pred_pos - fn
        cost = ml_thresholds.COST_FP * fp + ml_thresholds.COST_FN * fn
        key = (cost, int(score_q))
        if best is None or key < best[0]:
            best = (key, (int(score_q), tp, fp, fn, tn, cost))
    thr, tp, fp, fn, tn, cost = best[1]
    assert int(got["threshold"]) == thr
    assert (int(got["tp"]), int(got["fp"]), int(got["fn"]), int(got["tn"])) == (
        tp,
        fp,
        fn,
        tn,
    )
    assert int(got["cost"]) == cost


def test_ams_f2_matches_python(spark, sf_dir):
    from collections import Counter

    from mysql_public_data_ingestor_spark.tables import Tables

    got = _q("sketch_ams_f2_users", spark, sf_dir).iloc[0]
    t = Tables(spark, sf_dir)
    users = [r.user_id for r in t.events.select("user_id").collect()]
    freq = Counter(users)
    f2_exact = sum(c * c for c in freq.values())
    jn = roundtenb.AMS_ESTIMATORS
    ests = []
    for j in range(jn):
        x = sum(
            (2 * (_sha60(f"ams{j}|{u}") % 2) - 1) * c for u, c in freq.items()
        )
        ests.append(x * x)
    ests.sort()
    f2_ams = (ests[jn // 2 - 1] + ests[jn // 2]) // 2
    assert int(got["n_estimators"]) == jn
    assert int(got["f2_exact"]) == f2_exact
    assert int(got["f2_ams"]) == f2_ams
    if f2_exact > 0:
        assert got["rel_error"] == _half_up(abs(f2_ams - f2_exact), f2_exact)


def test_weekday_anomaly_matches_python(spark, sf_dir):
    import pandas as pd

    from mysql_public_data_ingestor_spark.tables import Tables

    got = _q("dq_weekday_volume_anomaly", spark, sf_dir).sort_values("weekday")
    t = Tables(spark, sf_dir)
    od = t.orders.select("o_orderdate").toPandas()
    daily = od.groupby("o_orderdate").size()
    # 0=Sunday..6=Saturday (pandas dayofweek is 0=Monday)
    wd = [
        ((pd.Timestamp(day).dayofweek + 1) % 7, int(x)) for day, x in daily.items()
    ]
    per: dict[int, list[int]] = {}
    for w, x in wd:
        agg = per.setdefault(w, [0, 0, 0])
        agg[0] += 1
        agg[1] += x
        agg[2] += x * x
    k2 = daily_change.ANOM_K_SIGMA**2
    expect = {}
    for w, (n, s, qq) in per.items():
        n_anom = 0
        if n >= 2:
            for ww, x in wd:
                if ww != w:
                    continue
                dev = n * x - s
                if dev * dev * (n - 1) >= k2 * n * (n * qq - s * s):
                    n_anom += 1
        expect[w] = (n, n_anom)
    assert len(got) == len(expect)
    for _, row in got.iterrows():
        n, n_anom = expect[int(row["weekday"])]
        assert int(row["n_days"]) == n
        assert int(row["n_anomalies"]) == n_anom
