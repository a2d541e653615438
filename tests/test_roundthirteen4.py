"""Round-13 batch S gate (``operators/roundthirteen4.py``): raw-frame
oracle parity at sf0.001, plan bars, and Python replicas with float
anchors.
"""

from __future__ import annotations

import math
import re
from collections import Counter, defaultdict
from itertools import combinations

import pytest

from mysql_public_data_ingestor_spark.operators import roundthirteen4 as r134
from mysql_public_data_ingestor_spark.registry import all_queries
from mysql_public_data_ingestor_spark.tables import Tables
from tools.check_correctness import compare, duck_connection

# The queries this gate covers, by name, so its test ids stay fixed: the
# module's own queries plus the graph queries it registered before the
# graph family moved to ``operators/graph_*.py``.
NAMES = (
    "corpus_token_mass_lorenz",
    "graph_copurchase_coverage_audit",
    "ml_ppv_prevalence_grid",
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
def test_plan_bars(spark, sf_dir, entry):
    from mysql_public_data_ingestor_spark.plans import assert_no_cartesian

    _name, fn, _oracle, _doc = entry
    assert_no_cartesian(fn(spark, sf_dir))


# ---------------------------------------------------------------------------
# replicas
# ---------------------------------------------------------------------------


def _fn(name):
    return all_queries()[name].fn


def test_coverage_matches_python(spark, sf_dir):
    t = Tables(spark, sf_dir)
    li = t.lineitem.select("l_orderkey", "l_partkey").toPandas()
    n_parts = t.part.count()
    by_order = defaultdict(set)
    sold = set()
    for o, p in zip(li["l_orderkey"], li["l_partkey"]):
        by_order[int(o)].add(int(p))
        sold.add(int(p))
    in_graph = set()
    for parts in by_order.values():
        if len(parts) >= 2:
            in_graph.update(parts)
    got = _fn("graph_copurchase_coverage_audit")(spark, sf_dir).toPandas().iloc[0]
    assert int(got["n_parts"]) == n_parts
    assert int(got["n_sold"]) == len(sold)
    assert int(got["n_in_graph"]) == len(in_graph)
    assert int(got["n_never_sold"]) == n_parts - len(sold)
    assert int(got["n_sold_isolated"]) == len(sold) - len(in_graph)
    assert int(got["graph_coverage_micro"]) == _halfup_int(
        10**6 * len(in_graph), n_parts
    )
    assert int(got["sold_coverage_micro"]) == _halfup_int(
        10**6 * len(in_graph), len(sold)
    )
    # containment chain: graph nodes are sold parts are parts
    assert in_graph <= sold
    assert len(sold) <= n_parts


def _scored_py(spark, sf_dir):
    import hashlib

    from mysql_public_data_ingestor_spark.operators.text import (
        CLS_WEIGHT_MOD,
        STOPWORDS,
    )

    half = (CLS_WEIGHT_MOD - 1) // 2
    pdf = Tables(spark, sf_dir).documents.select("doc_id", "text").toPandas()
    out = []
    for doc_id, text in zip(pdf["doc_id"], pdf["text"]):
        toks = re.sub(r"\s+", " ", text.lower()).strip().split(" ")
        ms = sum(
            int(hashlib.sha256(tk.encode()).hexdigest()[:15], 16) % CLS_WEIGHT_MOD
            - half
            for tk in toks
        )
        n = len(toks)
        d = 1000 * n + abs(ms)
        score_q = (10000 * (d + ms) + d) // (2 * d) if d > 0 else 5000
        n_stop = sum(1 for tk in toks if tk in STOPWORDS)
        label = 1 if (n >= 20 and 5 * n_stop <= 3 * n) else 0
        out.append((score_q, label))
    return out


def test_ppv_grid_matches_python(spark, sf_dir):
    scored = _scored_py(spark, sf_dir)
    th = r134.PPV_THRESHOLD
    tp = sum(1 for sq, lab in scored if lab == 1 and sq >= th)
    fn = sum(1 for sq, lab in scored if lab == 1 and sq < th)
    fp = sum(1 for sq, lab in scored if lab == 0 and sq >= th)
    tn = sum(1 for sq, lab in scored if lab == 0 and sq < th)
    got = (
        _fn("ml_ppv_prevalence_grid")(spark, sf_dir)
        .toPandas()
        .set_index("prevalence_milli")
    )
    assert list(got.index) == list(r134.PPV_PREVALENCE_MILLI)
    prev_ppv = None
    for pi in r134.PPV_PREVALENCE_MILLI:
        a = pi * tp * (tn + fp)
        b = (1000 - pi) * fp * (tp + fn)
        cn = (1000 - pi) * tn * (tp + fn)
        dn = pi * fn * (tn + fp)
        row = got.loc[pi]
        ppv = _halfup_int(10**6 * a, a + b) if a + b > 0 else None
        npv = _halfup_int(10**6 * cn, cn + dn) if cn + dn > 0 else None
        assert int(row["ppv_micro"]) == ppv
        assert int(row["npv_micro"]) == npv
        # float anchor: Bayes form with se/sp
        se = tp / (tp + fn)
        sp = tn / (tn + fp)
        p = pi / 1000.0
        ppv_f = p * se / (p * se + (1 - p) * (1 - sp))
        assert abs(ppv / 1e6 - ppv_f) < 1e-5
        # PPV is monotone increasing in prevalence
        if prev_ppv is not None:
            assert ppv >= prev_ppv
        prev_ppv = ppv


def test_token_mass_lorenz_matches_python(spark, sf_dir):
    pdf = Tables(spark, sf_dir).documents.select("n_chars").toPandas()
    k = r134.TML_DECILES
    dl = Counter(int(x) for x in pdf["n_chars"])
    total_docs = sum(dl.values())
    total_mass = sum(v * c for v, c in dl.items())
    bins = defaultdict(lambda: [0, 0])
    before = 0
    for v in sorted(dl):
        c = dl[v]
        b = min(k * before // total_docs, k - 1)
        bins[b][0] += c
        bins[b][1] += v * c
        before += c
    got = (
        _fn("corpus_token_mass_lorenz")(spark, sf_dir).toPandas().set_index("decile")
    )
    assert set(int(i) for i in got.index) == set(bins)
    cum = 0
    for b in sorted(bins):
        n, mass = bins[b]
        cum += mass
        row = got.loc[b]
        assert int(row["n_docs"]) == n
        assert int(row["char_mass"]) == mass
        assert int(row["mass_share_micro"]) == _halfup_int(10**6 * mass, total_mass)
        assert int(row["cum_mass_share_micro"]) == _halfup_int(
            10**6 * cum, total_mass
        )
    # Lorenz properties: cumulative shares increase to ~1, and the
    # top decile's share is the largest (sorted by length)
    shares = [int(got.loc[b]["mass_share_micro"]) for b in sorted(bins)]
    assert shares[-1] == max(shares)
    assert int(got.loc[max(bins)]["cum_mass_share_micro"]) == 10**6
