"""Round-14 batch 1 gate (``operators/roundfourteen.py``): raw-frame
oracle parity at the fixture SF, plan bars, and independent Python
replicas with float anchors for the six ops (spectral flatness,
shard-top-k coverage, strength assortativity, Whipple heaping,
Parkinson volatility, hapax growth).
"""

from __future__ import annotations

import hashlib
import math
import re
from collections import Counter, defaultdict
from itertools import combinations

import pytest

from mysql_public_data_ingestor_spark.operators import roundfourteen as r14
from mysql_public_data_ingestor_spark.registry import all_queries
from mysql_public_data_ingestor_spark.tables import Tables
from tools.check_correctness import compare, duck_connection

# The queries this gate covers, by name, so its test ids stay fixed: the
# module's own queries plus the graph queries it registered before the
# graph family moved to ``operators/graph_*.py``.
NAMES = (
    "corpus_hapax_growth_audit",
    "dq_whipple_heaping_index",
    "events_parkinson_volatility_daily",
    "events_spectral_flatness_residual",
    "graph_strength_assortativity",
    "sketch_shard_topk_coverage_audit",
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


def test_spectral_flatness_matches_python(spark, sf_dir):
    from mysql_public_data_ingestor_spark.functions.detmath import ref_det_ln_q
    from mysql_public_data_ingestor_spark.operators.daily_spectral import (
        PGRAM_COSQ,
        PGRAM_PERIODS,
        PGRAM_SINQ,
    )

    pdf = Tables(spark, sf_dir).orders.select("o_orderdate").toPandas()
    daily = Counter(d for d in pdf["o_orderdate"])
    days = sorted(daily)
    y = [daily[d] for d in days]
    n = len(days)
    rows = []  # (k, dow, d_micro)
    for i in range(3, n - 3):
        s7 = sum(y[i - 3 : i + 4])
        rows.append((i + 1, days[i].isoweekday(), _halfup_int(10**6 * (7 * y[i] - s7), 7)))
    seas = {}
    for dow in set(r[0] for r in [(w, 0) for _, w, _ in rows]):
        pass
    by_dow = defaultdict(list)
    for _, w, d in rows:
        by_dow[w].append(d)
    seas = {w: _halfup_int(sum(ds), len(ds)) for w, ds in by_dow.items()}
    rem = [(k, d - seas[w]) for k, w, d in rows]
    m = len(rem)
    rb = _halfup_int(sum(r for _, r in rem), m)
    cent = [(k, r - rb) for k, r in rem]
    pws = {}
    for p in PGRAM_PERIODS:
        sc = sum(z * PGRAM_COSQ[p][(k - 1) % p] for k, z in cent)
        ss = sum(z * PGRAM_SINQ[p][(k - 1) % p] for k, z in cent)
        pws[p] = sc * sc + ss * ss
    lns = {p: ref_det_ln_q(float(v)) for p, v in pws.items()}
    kk = len(PGRAM_PERIODS)
    pbar = _halfup_int(sum(pws.values()), kk)
    want = _halfup_int(sum(lns.values()), kk) - ref_det_ln_q(float(pbar))
    dom = sorted(pws.items(), key=lambda kv: (-kv[1], kv[0]))[0][0]
    got = _q("events_spectral_flatness_residual")(spark, sf_dir).toPandas().iloc[0]
    assert int(got["n_resid_days"]) == m
    assert int(got["n_periods"]) == kk
    assert int(got["ln_flatness_micro"]) == want
    assert int(got["dominant_period"]) == dom
    # float anchor: Jensen — geometric mean <= arithmetic mean
    assert want <= 0
    gm = math.exp(sum(math.log(v) for v in pws.values()) / kk)
    am = sum(pws.values()) / kk
    assert abs(want / 1e6 - math.log(gm / am)) < 1e-3


def test_shard_topk_matches_python(spark, sf_dir):
    pdf = Tables(spark, sf_dir).lineitem.select("l_orderkey", "l_partkey").toPandas()
    pershard = defaultdict(Counter)
    for ok, pk in zip(pdf["l_orderkey"], pdf["l_partkey"]):
        shard = (
            int(hashlib.sha256(str(int(ok)).encode()).hexdigest()[:15], 16)
            % r14.STK_SHARDS
        )
        pershard[shard][int(pk)] += 1
    cand = set()
    for shard, cnt in pershard.items():
        top = sorted(cnt.items(), key=lambda kv: (-kv[1], kv[0]))[: r14.STK_LOCAL_M]
        cand.update(i for i, _ in top)
    globalc = Counter()
    for cnt in pershard.values():
        globalc.update(cnt)
    gtop = sorted(globalc.items(), key=lambda kv: (-kv[1], kv[0]))[: r14.STK_GLOBAL_K]
    covered = sum(1 for i, _ in gtop if i in cand)
    min_topk = min(c for _, c in gtop)
    missed = [c for i, c in globalc.items() if i not in cand]
    got = _q("sketch_shard_topk_coverage_audit")(spark, sf_dir).toPandas().iloc[0]
    assert int(got["n_candidates"]) == len(cand)
    assert int(got["topk_covered"]) == covered
    assert int(got["min_topk_count"]) == min_topk
    assert int(got["max_missed_count"]) == (max(missed) if missed else 0)
    # the safety-margin reading: if nothing missed beats the floor,
    # coverage is necessarily complete
    if int(got["max_missed_count"]) < min_topk:
        assert covered == r14.STK_GLOBAL_K


def test_strength_assortativity_matches_python(spark, sf_dir):
    pdf = Tables(spark, sf_dir).lineitem.select("l_orderkey", "l_partkey").toPandas()
    by_order = defaultdict(set)
    for o, p in zip(pdf["l_orderkey"], pdf["l_partkey"]):
        by_order[int(o)].add(int(p))
    w = Counter()
    for parts in by_order.values():
        for u, v in combinations(sorted(parts), 2):
            w[(u, v)] += 1
    strength = Counter()
    for (u, v), c in w.items():
        strength[u] += c
        strength[v] += c
    xs = []
    for u, v in w:
        xs.append((strength[u], strength[v]))
        xs.append((strength[v], strength[u]))
    m = len(xs)
    sxs = sum(a for a, _ in xs)
    sxy = sum(a * b for a, b in xs)
    sxx = sum(a * a for a, _ in xs)
    num = m * sxy - sxs * sxs
    den = m * sxx - sxs * sxs
    got = _q("graph_strength_assortativity")(spark, sf_dir).toPandas().iloc[0]
    assert int(got["n_edge_ends"]) == m
    if den > 0:
        want = int(
            math.floor(abs(float(num)) * 1000000.0 / float(den) + 0.5)
        ) * (-1 if num < 0 else 1)
        assert int(got["assortativity_micro"]) == want
        # float anchor: a correlation lives in [-1, 1]
        assert -(10**6) <= want <= 10**6
        assert abs(want / 1e6 - num / den) < 1e-4


def test_whipple_matches_python(spark, sf_dir):
    pdf = Tables(spark, sf_dir).lineitem.select("l_quantity").toPandas()
    digits = Counter(int(v) % 10 for v in pdf["l_quantity"] if v == v)
    n = sum(digits.values())
    n5 = digits[0] + digits[5]
    sq = sum(c * c for c in digits.values())
    got = _q("dq_whipple_heaping_index")(spark, sf_dir).toPandas().iloc[0]
    assert int(got["n"]) == n
    assert int(got["n_mult5"]) == n5
    assert int(got["n_digits"]) == len(digits)
    assert int(got["whipple_micro"]) == _halfup_int(5 * 10**6 * n5, n)
    assert int(got["digit_chisq_milli"]) == _halfup_int(
        1000 * (10 * sq - n * n), n
    )
    # float anchors: W ~ 1 for uniform terminal digits; chi^2 identity
    assert abs(int(got["whipple_micro"]) / 1e6 - 5 * n5 / n) < 1e-5
    chi = sum((c - n / 10) ** 2 / (n / 10) for c in digits.values())
    assert abs(int(got["digit_chisq_milli"]) / 1000 - chi) < 1e-2


def test_parkinson_matches_python(spark, sf_dir):
    from mysql_public_data_ingestor_spark.functions.detmath import LN2_MICRO, ref_det_ln_q

    pdf = Tables(spark, sf_dir).events.select("ts").toPandas()
    cells = Counter((ts.date(), ts.hour) for ts in pdf["ts"])
    byday = defaultdict(list)
    for (d, _h), c in cells.items():
        byday[d].append(c)
    terms = []
    for d, cs in byday.items():
        hi, lo = max(cs), min(cs)
        terms.append(ref_det_ln_q(float(hi)) - ref_det_ln_q(float(lo)))
    n = len(terms)
    sd2 = sum(t * t for t in terms)
    want = _halfup_int(sd2, 4 * LN2_MICRO * n)
    got = _q("events_parkinson_volatility_daily")(spark, sf_dir).toPandas().iloc[0]
    assert int(got["n_days"]) == n
    assert int(got["parkinson_var_micro"]) == want
    # float anchor: the Parkinson formula
    pk = sum((t / 1e6) ** 2 for t in terms) / (4 * math.log(2) * n)
    assert abs(want / 1e6 - pk) < 1e-4 * max(1.0, pk)
    assert want >= 0


def test_hapax_growth_matches_python(spark, sf_dir):
    pdf = Tables(spark, sf_dir).documents.select("doc_id", "lang", "text").toPandas()
    ws = re.compile(r"\s+")

    def spectrum(rows):
        tf = defaultdict(Counter)
        for lang, text in rows:
            for tok in ws.sub(" ", text.lower()).strip().split(" "):
                tf[lang][tok] += 1
        return {
            lang: (sum(c.values()), len(c), sum(1 for x in c.values() if x == 1))
            for lang, c in tf.items()
        }

    full = spectrum(zip(pdf["lang"], pdf["text"]))
    half = spectrum(
        (lang, text)
        for did, lang, text in zip(pdf["doc_id"], pdf["lang"], pdf["text"])
        if int(did) % 2 == 0
    )
    got = _q("corpus_hapax_growth_audit")(spark, sf_dir).toPandas()
    assert list(got["lang"]) == sorted(set(full) & set(half))
    for _, row in got.iterrows():
        nf, vf, v1f = full[row["lang"]]
        nh, vh, v1h = half[row["lang"]]
        fsh = _halfup_int(10**6 * v1f, vf)
        hsh = _halfup_int(10**6 * v1h, vh)
        assert int(row["n_tokens_full"]) == nf
        assert int(row["n_tokens_half"]) == nh
        assert int(row["v1_share_full_micro"]) == fsh
        assert int(row["v1_share_half_micro"]) == hsh
        assert int(row["growth_delta_micro"]) == hsh - fsh
        # shares live in [0, 1]; the half sample is genuinely smaller
        assert 0 <= fsh <= 10**6 and 0 <= hsh <= 10**6
        assert nh < nf
