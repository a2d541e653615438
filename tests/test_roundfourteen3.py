"""Round-14 batch 3 gate (``operators/roundfourteen3.py``): raw-frame
oracle parity, plan bars, and independent Python replicas with float
anchors for the two ops (generalization info loss, precision-recall
gain).
"""

from __future__ import annotations

from collections import Counter, defaultdict

import pytest

from mysql_public_data_ingestor_spark.registry import all_queries
from mysql_public_data_ingestor_spark.tables import Tables
from tools.check_correctness import compare, duck_connection

# The queries this gate covers, by name, so its test ids stay fixed:
# the ones roundfourteen3.py registered before the ml family moved to
# ``operators/ml_*.py``.
NAMES = (
    "ml_prg_at_operating_points",
    "privacy_generalization_info_loss",
)
# (name, fn, oracle, doc) of each
QUERIES = [
    (s.name, s.fn, s.oracle, s.doc) for s in (all_queries()[n] for n in NAMES)
]


def _halfup_int(num: int, den: int) -> int:
    mag = (2 * abs(num) + den) // (2 * den)
    return -mag if num < 0 else mag


def test_queue_entries_well_formed():
    seen = set()
    for name, fn, oracle, doc in QUERIES:
        assert name not in seen
        seen.add(name)
        assert callable(fn)
        assert isinstance(oracle, str) and oracle.strip()
        assert doc.strip(), f"{name} missing docstring"


@pytest.mark.parametrize(
    "entry", QUERIES, ids=[name for name, *_ in QUERIES]
)
def test_queued_query_matches_oracle(spark, sf_dir, entry):
    name, fn, oracle, _doc = entry
    sdf = fn(spark, sf_dir).toPandas()
    con = duck_connection(sf_dir)
    try:
        odf = con.execute(oracle).fetchdf()
    finally:
        con.close()
    problems = compare(name, sdf, odf)
    assert not problems, f"{name}: {problems}"


@pytest.mark.parametrize(
    "entry", QUERIES, ids=[name for name, *_ in QUERIES]
)
def test_queue_plan_bars(spark, sf_dir, entry):
    from mysql_public_data_ingestor_spark.plans import assert_no_cartesian

    _name, fn, _oracle, _doc = entry
    assert_no_cartesian(fn(spark, sf_dir))


def _q(name):
    return all_queries()[name].fn


# ---------------------------------------------------------------------------
# replicas
# ---------------------------------------------------------------------------


def test_info_loss_matches_python(spark, sf_dir):
    t = Tables(spark, sf_dir)
    natreg = dict(
        zip(
            (int(k) for k in t.nation.select("n_nationkey").toPandas()["n_nationkey"]),
            (int(k) for k in t.nation.select("n_regionkey").toPandas()["n_regionkey"]),
        )
    )
    n_nations = len(natreg)
    nat_per_reg = Counter(natreg.values())
    pdf = t.customer.select("c_nationkey", "c_mktsegment").toPandas()
    raw = Counter()
    gen = Counter()
    reg_cnt = Counter()
    for nk, seg in zip(pdf["c_nationkey"], pdf["c_mktsegment"]):
        nk = int(nk)
        raw[(nk, seg)] += 1
        gen[(natreg[nk], seg)] += 1
        reg_cnt[natreg[nk]] += 1
    n = sum(raw.values())
    ncp_num = sum(c * (nat_per_reg[r] - 1) for r, c in reg_cnt.items())
    got = _q("privacy_generalization_info_loss")(spark, sf_dir).toPandas().iloc[0]
    assert int(got["n"]) == n
    assert int(got["n_classes_raw"]) == len(raw)
    assert int(got["n_classes_gen"]) == len(gen)
    assert int(got["dm_raw"]) == sum(c * c for c in raw.values())
    assert int(got["dm_gen"]) == sum(c * c for c in gen.values())
    assert int(got["min_class_raw"]) == min(raw.values())
    assert int(got["min_class_gen"]) == min(gen.values())
    ncp = _halfup_int(10**6 * ncp_num, n * (n_nations - 1))
    assert int(got["ncp_micro"]) == ncp
    # structural anchors: generalization can only merge classes, so
    # DM and the minimum class size both rise; NCP in [0, 1]
    assert int(got["dm_gen"]) >= int(got["dm_raw"])
    assert int(got["min_class_gen"]) >= int(got["min_class_raw"])
    assert 0 <= ncp <= 10**6


def test_prg_matches_python(spark, sf_dir):
    from mysql_public_data_ingestor_spark.operators.ml_scores import scored_labeled
    from mysql_public_data_ingestor_spark.operators.ml_thresholds import PRECISION_FLOORS

    t = Tables(spark, sf_dir)
    pdf = scored_labeled(t).toPandas()
    grid = defaultdict(lambda: [0, 0])
    for s, y in zip(pdf["score_q"], pdf["label"]):
        grid[int(s)][0] += 1
        grid[int(s)][1] += int(y)
    nn = sum(v[0] for v in grid.values())
    pp = sum(v[1] for v in grid.values())
    cum = []
    n_sel = tp = 0
    for v in sorted(grid, reverse=True):
        n_sel += grid[v][0]
        tp += grid[v][1]
        cum.append((v, n_sel, tp))
    got = _q("ml_prg_at_operating_points")(spark, sf_dir).toPandas()
    assert len(got) == len(PRECISION_FLOORS)
    for (fn_, fd), (_, row) in zip(PRECISION_FLOORS, got.iterrows()):
        assert int(row["floor_num"]) == fn_ and int(row["floor_den"]) == fd
        feas = [(v, ns, t_) for v, ns, t_ in cum if t_ * fd >= ns * fn_]
        if not feas:
            assert row["threshold_q"] != row["threshold_q"]
            continue
        v, ns, t_ = sorted(feas, key=lambda x: (-x[2], x[0]))[0]
        assert int(row["threshold_q"]) == v
        den = t_ * (nn - pp)
        pg = _halfup_int(10**6 * (t_ * nn - pp * ns), den)
        rg = _halfup_int(10**6 * (t_ * nn - pp * pp), den)
        assert int(row["prec_gain_micro"]) == pg
        assert int(row["rec_gain_micro"]) == rg
        # float anchors: the Flach-Kull definitions
        pi = pp / nn
        prec = t_ / ns
        rec = t_ / pp
        assert abs(pg / 1e6 - (prec - pi) / ((1 - pi) * prec)) < 1e-5
        assert abs(rg / 1e6 - (rec - pi) / ((1 - pi) * rec)) < 1e-5
        # gains are bounded above by 1
        assert pg <= 10**6 and rg <= 10**6
        # precision gain is nonnegative wherever the SLA held with
        # floor >= the base rate
        if fn_ / fd >= pi:
            assert pg >= 0
