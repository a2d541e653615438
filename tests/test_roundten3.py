"""Round-10 batch-5 gate (``operators/roundten3.py``): raw-frame
oracle parity, registry-wide plan bars, and an independent Python
replica for every operator — the same discipline as the roundten2
direct batch.
"""

from __future__ import annotations

import math

import pytest

from mysql_public_data_ingestor_spark.operators import daily_change, daily_spectral
from mysql_public_data_ingestor_spark.operators import events_series
from mysql_public_data_ingestor_spark.operators import roundten3
from mysql_public_data_ingestor_spark.operators import stats_dist
from mysql_public_data_ingestor_spark.operators import ml_scores
from mysql_public_data_ingestor_spark.operators import ml_thresholds
from mysql_public_data_ingestor_spark.tables import Tables
from tools.check_correctness import compare, duck_connection

NAMES = [
    "stats_durbin_watson_daily",
    "stats_hurst_rs_daily",
    "events_ccf_types_lags",
    "ml_isotonic_calibration_pav",
    "ml_fairness_threshold_gaps",
    "text_keyword_log_odds",
    "corpus_truncation_loss_curve",
]


def _spec(name):
    from mysql_public_data_ingestor_spark import registry

    registry._ensure_loaded()
    return registry._REGISTRY[name]


def test_batch_registered_with_oracles():
    from mysql_public_data_ingestor_spark import registry

    registry._ensure_loaded()
    missing = [n for n in NAMES if n not in registry._REGISTRY]
    assert not missing, f"not registered: {missing}"
    no_oracle = [n for n in NAMES if registry._REGISTRY[n].oracle is None]
    assert not no_oracle, f"registered without oracle: {no_oracle}"


@pytest.mark.parametrize("name", NAMES)
def test_query_matches_oracle(spark, sf_dir, name):
    spec = _spec(name)
    sdf = spec.fn(spark, sf_dir).toPandas()
    con = duck_connection(sf_dir)
    try:
        odf = con.execute(spec.oracle).fetchdf()
    finally:
        con.close()
    problems = compare(name, sdf, odf)
    assert not problems, f"{name}: {problems}"


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


def test_batch_single_partition_only_feeds_final_aggregates(spark, sf_dir):
    from mysql_public_data_ingestor_spark.plans import physical_plan

    offenders = {}
    for name in NAMES:
        plan = physical_plan(_spec(name).fn(spark, sf_dir))
        bad = [
            c
            for c in _sp_consumers(plan)
            if c not in ("HashAggregate", "ObjectHashAggregate", "SortAggregate")
        ]
        if bad:
            offenders[name] = bad
    assert not offenders, offenders


def test_batch_no_cartesian_products(spark, sf_dir):
    from mysql_public_data_ingestor_spark.plans import assert_no_cartesian

    offenders = []
    for name in NAMES:
        try:
            assert_no_cartesian(_spec(name).fn(spark, sf_dir))
        except AssertionError:
            offenders.append(name)
    assert not offenders, offenders


# --- Python replicas ------------------------------------------------------


def _q(name, spark, sf_dir):
    return _spec(name).fn(spark, sf_dir).toPandas()


def _half_up(num: int, den: int, dp: int = 6) -> float:
    s = 10**dp
    mag = (2 * s * abs(num) + den) // (2 * den)
    return (-mag if num < 0 else mag) / s


def _halfup_int(num: int, den: int) -> int:
    mag = (2 * abs(num) + den) // (2 * den)
    return -mag if num < 0 else mag


def _daily_orders(spark, sf_dir, value):
    """Sorted [(day, int_value)] from the orders table; value is
    'count' or 'revenue_cents'."""
    t = Tables(spark, sf_dir)
    pdf = t.orders.select("o_orderdate", "o_totalprice").toPandas()
    from collections import defaultdict

    acc: dict = defaultdict(int)
    for r in pdf.itertuples():
        d = r.o_orderdate.date()
        if value == "count":
            acc[d] += 1
        else:
            acc[d] += int(math.floor(r.o_totalprice * 100 + 0.5))
    return sorted(acc.items())


def test_durbin_watson_matches_python(spark, sf_dir):
    got = _q("stats_durbin_watson_daily", spark, sf_dir).iloc[0]
    ys = [v for _, v in _daily_orders(spark, sf_dir, "revenue_cents")]
    n = len(ys)
    ks = list(range(1, n + 1))
    st, stt = sum(ks), sum(k * k for k in ks)
    sy = sum(ys)
    sty = sum(k * y for k, y in zip(ks, ys))
    d = n * stt - st * st
    a = sy * stt - st * sty
    b = n * sty - st * sy
    es = [y - _halfup_int(a + b * k, d) for k, y in zip(ks, ys)]
    sd = sum((e1 - e0) ** 2 for e0, e1 in zip(es, es[1:]))
    se = sum(e * e for e in es)
    assert int(got["n_days"]) == n
    assert got["dw"] == _half_up(sd, se)
    # residual serial correlation should land in DW's [0, 4] range
    assert 0.0 <= got["dw"] <= 4.0


def test_hurst_matches_python(spark, sf_dir):
    from mysql_public_data_ingestor_spark.functions.detmath import ref_det_ln_q

    got = _q("stats_hurst_rs_daily", spark, sf_dir).sort_values("block_size")
    ys = [v for _, v in _daily_orders(spark, sf_dir, "count")]
    n = len(ys)
    per_size = {}
    for s in daily_spectral.HURST_SIZES:
        ms = []
        for blk in range(n // s):
            block = ys[blk * s : (blk + 1) * s]
            t = sum(block)
            ws, c = [], 0
            for i, y in enumerate(block, start=1):
                c += y
                ws.append(s * c - i * t)
            rs = max(ws) - min(ws)
            v = s * s * sum(y * y for y in block) - s * t * t
            if rs > 0 and v > 0:
                ms.append(
                    2 * ref_det_ln_q(float(rs))
                    + ref_det_ln_q(float(s))
                    - ref_det_ln_q(float(v))
                )
        if ms:
            per_size[s] = (len(ms), _halfup_int(sum(ms), 2 * len(ms)))
    us = {s: ref_det_ln_q(float(s)) for s in per_size}
    p = len(per_size)
    su = sum(us.values())
    suu = sum(u * u for u in us.values())
    sm = sum(mq for _, mq in per_size.values())
    sum_ = sum(us[s] * mq for s, (_, mq) in per_size.items())
    den = p * suu - su * su
    hurst = _half_up(p * sum_ - su * sm, den) if p >= 2 and den > 0 else None
    assert list(got["block_size"]) == sorted(per_size)
    for _, row in got.iterrows():
        s = int(row["block_size"])
        nb, mq = per_size[s]
        assert int(row["n_blocks"]) == nb, s
        assert row["mean_ln_rs"] == mq / 1e6, s
        assert row["ln_size"] == us[s] / 1e6, s
        assert row["hurst"] == hurst
    # a count series with mild persistence: H must land in (0, 1)
    assert hurst is not None and 0.0 < hurst < 1.0


def test_ccf_matches_python(spark, sf_dir):
    got = _q("events_ccf_types_lags", spark, sf_dir)
    t = Tables(spark, sf_dir)
    ev = t.events.select("ts", "event_type").toPandas()
    from collections import defaultdict

    days = sorted({ts.date() for ts in ev["ts"]})
    cx: dict = defaultdict(int)
    cy: dict = defaultdict(int)
    for r in ev.itertuples():
        if r.event_type == events_series.CCF_TYPE_X:
            cx[r.ts.date()] += 1
        elif r.event_type == events_series.CCF_TYPE_Y:
            cy[r.ts.date()] += 1
    xs = [cx.get(d, 0) for d in days]
    ys = [cy.get(d, 0) for d in days]
    n = len(days)
    sx, sy = sum(xs), sum(ys)
    zx = [n * x - sx for x in xs]
    zy = [n * y - sy for y in ys]
    zxx = sum(z * z for z in zx)
    zyy = sum(z * z for z in zy)
    assert len(got) == 2 * events_series.CCF_MAX_LAG + 1
    for _, row in got.iterrows():
        l = int(row["lag"])
        pairs = [
            (zx[i], zy[i + l]) for i in range(n) if 0 <= i + l < n
        ]
        num = sum(a * b for a, b in pairs)
        assert int(row["n_pairs"]) == len(pairs), l
        sign = -1 if num < 0 else 1
        assert row["ccf_sq"] == _half_up(sign * num * num, zxx * zyy), l
        assert -1.0 <= row["ccf_sq"] <= 1.0
    # zero lag must be the overlap-maximal row
    z0 = got[got["lag"] == 0].iloc[0]
    assert int(z0["n_pairs"]) == n


def _pav_reference(stats):
    """Stack PAV over [(n, pos)] in bin order -> per-bin Fractions."""
    from fractions import Fraction

    stack = []  # (n, pos, width)
    for n, pos in stats:
        stack.append([n, pos, 1])
        while len(stack) >= 2 and Fraction(stack[-2][1], stack[-2][0]) >= Fraction(
            stack[-1][1], stack[-1][0]
        ):
            n2, p2, w2 = stack.pop()
            stack[-1][0] += n2
            stack[-1][1] += p2
            stack[-1][2] += w2
    out = []
    for n, pos, w in stack:
        out.extend([Fraction(pos, n)] * w)
    return out


def test_isotonic_matches_python(spark, sf_dir):
    from fractions import Fraction

    from mysql_public_data_ingestor_spark.operators.ml_scores import scored_labeled

    got = _q("ml_isotonic_calibration_pav", spark, sf_dir).sort_values("bin")
    t = Tables(spark, sf_dir)
    sc = scored_labeled(t).select("score_q", "label").toPandas()
    b = ml_scores.ISO_BINS
    from collections import defaultdict

    agg: dict = defaultdict(lambda: [0, 0])
    for r in sc.itertuples():
        k = min(int(r.score_q) // (10000 // b), b - 1)
        agg[k][0] += 1
        agg[k][1] += int(r.label)
    bins = sorted(agg)
    stats = [(agg[k][0], agg[k][1]) for k in bins]
    # double-semantics replica of the query's max-min identity
    m = len(stats)
    cp = [0]
    cn = [0]
    for n, p in stats:
        cn.append(cn[-1] + n)
        cp.append(cp[-1] + p)
    vals = []
    for k in range(m):
        best = None
        for i in range(k + 1):
            mn = None
            for j in range(k, m):
                v = (cp[j + 1] - cp[i]) / (cn[j + 1] - cn[i])
                if mn is None or v < mn:
                    mn = v
            if best is None or mn > best:
                best = mn
        vals.append(best)
    # identity check: the max-min values ARE the PAV fit (as fractions)
    pav = _pav_reference(stats)
    for k in range(m):
        best_f = max(
            min(
                Fraction(cp[j + 1] - cp[i], cn[j + 1] - cn[i])
                for j in range(k, m)
            )
            for i in range(k + 1)
        )
        assert best_f == pav[k], k
    assert list(got["bin"]) == bins
    for pos_idx, (_, row) in enumerate(got.iterrows()):
        n, p = stats[pos_idx]
        assert int(row["n"]) == n
        assert int(row["pos"]) == p
        assert row["raw_rate"] == _half_up(p, n)
        assert row["iso_rate"] == math.floor(vals[pos_idx] * 1e6 + 0.5) / 1e6
    # the whole point: the fitted curve is monotone non-decreasing
    iso = list(got["iso_rate"])
    assert all(a <= b for a, b in zip(iso, iso[1:]))


def test_fairness_gaps_match_python(spark, sf_dir):
    from mysql_public_data_ingestor_spark.operators.ml_scores import scored_labeled

    got = _q("ml_fairness_threshold_gaps", spark, sf_dir)
    t = Tables(spark, sf_dir)
    sc = scored_labeled(t).select("lang", "score_q", "label").toPandas()
    th = ml_thresholds.FAIR_THRESHOLD

    def stats(sub):
        n = len(sub)
        sel = int((sub["score_q"] >= th).sum())
        pos = int(sub["label"].sum())
        tp = int(((sub["score_q"] >= th) & (sub["label"] == 1)).sum())
        fp = int(((sub["score_q"] >= th) & (sub["label"] == 0)).sum())
        return n, sel, pos, tp, fp

    gn, gsel, gpos, gtp, gfp = stats(sc)
    g_selq = _halfup_int(10**6 * gsel, gn)
    g_tprq = _halfup_int(10**6 * gtp, gpos) if gpos else None
    g_fprq = _halfup_int(10**6 * gfp, gn - gpos) if gn - gpos else None
    assert len(got) == sc["lang"].nunique()
    for _, row in got.iterrows():
        sub = sc[sc["lang"] == row["lang"]]
        n, sel, pos, tp, fp = stats(sub)
        selq = _halfup_int(10**6 * sel, n)
        assert int(row["n"]) == n and int(row["sel"]) == sel
        assert int(row["pos"]) == pos
        assert row["sel_rate"] == selq / 1e6
        assert row["dp_gap"] == (selq - g_selq) / 1e6
        if pos and n - pos and g_tprq is not None and g_fprq is not None:
            tprq = _halfup_int(10**6 * tp, pos)
            fprq = _halfup_int(10**6 * fp, n - pos)
            assert row["tpr"] == tprq / 1e6
            assert row["fpr"] == fprq / 1e6
            assert row["eo_gap"] == max(
                abs(tprq - g_tprq), abs(fprq - g_fprq)
            ) / 1e6


def test_keyword_log_odds_matches_python(spark, sf_dir):
    from mysql_public_data_ingestor_spark.functions.detmath import ref_det_ln_q

    got = _q("text_keyword_log_odds", spark, sf_dir)
    t = Tables(spark, sf_dir)
    docs = t.documents.select("lang", "text").toPandas()
    from collections import Counter, defaultdict

    cnt: dict = defaultdict(Counter)
    ndocs: Counter = Counter()
    for r in docs.itertuples():
        ndocs[r.lang] += 1
        cnt[r.lang].update(" ".join(r.text.lower().split()).split(" "))
    ranked = sorted(ndocs, key=lambda lg: (-ndocs[lg], lg))
    la, lb = ranked[0], ranked[1]
    n1 = sum(cnt[la].values())
    n2 = sum(cnt[lb].values())
    nn = n1 + n2
    a0 = roundten3.LOGODDS_ALPHA0
    rows = []
    for tok in set(cnt[la]) | set(cnt[lb]):
        y1, y2 = cnt[la].get(tok, 0), cnt[lb].get(tok, 0)
        a1 = y1 * nn + a0 * (y1 + y2)
        b1 = (n1 + a0) * nn - a1
        a2 = y2 * nn + a0 * (y1 + y2)
        b2 = (n2 + a0) * nn - a2
        if min(a1, b1, a2, b2) <= 0:
            continue
        dq = (
            ref_det_ln_q(float(a1))
            - ref_det_ln_q(float(b1))
            - ref_det_ln_q(float(a2))
            + ref_det_ln_q(float(b2))
        )
        ddbl = dq * 0.000001
        vdbl = nn / a1 + nn / a2
        z2q = math.floor(ddbl * ddbl / vdbl * 1000000.0 + 0.5)
        rows.append((tok, y1, y2, dq, z2q))
    rows.sort(key=lambda r: (-r[4], r[0]))
    top = rows[: roundten3.LOGODDS_TOPK]
    assert len(got) == len(top)
    for (_, row), (tok, y1, y2, dq, z2q) in zip(got.iterrows(), top):
        assert row["token"] == tok
        assert row["lang_a"] == la and row["lang_b"] == lb
        assert int(row["count_a"]) == y1 and int(row["count_b"]) == y2
        assert row["delta_ln"] == dq / 1e6, tok
        assert row["z_squared"] == z2q / 1e6, tok
    # sanity: the top term must actually skew toward one language
    t0 = top[0]
    assert t0[1] != t0[2]


def test_truncation_loss_matches_python(spark, sf_dir):
    got = _q("corpus_truncation_loss_curve", spark, sf_dir).sort_values(
        "context_len"
    )
    t = Tables(spark, sf_dir)
    docs = t.documents.select("text").toPandas()
    cs = [
        len(" ".join(r.text.lower().split()).split(" "))
        for r in docs.itertuples()
    ]
    cs = [c for c in cs if c >= 1]
    assert list(got["context_len"]) == sorted(roundten3.TRUNC_LENGTHS)
    for _, row in got.iterrows():
        l = int(row["context_len"])
        kept = [
            (c // l) * l + (c % l if c % l >= l // 4 else 0) for c in cs
        ]
        dropped_docs = sum(1 for c in cs if 0 < c % l < l // 4)
        tot, k = sum(cs), sum(kept)
        assert int(row["n_docs"]) == len(cs)
        assert int(row["docs_tail_dropped"]) == dropped_docs
        assert int(row["tokens_total"]) == tot
        assert int(row["tokens_kept"]) == k
        assert int(row["tokens_dropped"]) == tot - k
        assert int(row["full_chunks"]) == sum(c // l for c in cs)
        assert row["loss_ratio"] == _half_up(tot - k, tot)
    # valid share (1.0 is reachable: at tiny fixtures every doc can be
    # shorter than L/4, so the whole corpus is dropped at the largest L)
    assert ((got["loss_ratio"] >= 0) & (got["loss_ratio"] <= 1)).all()


# --- Batch 6 ---------------------------------------------------------------

B6_NAMES = [
    "stats_chow_test_break",
    "stats_g_test_dow_type",
    "events_decayed_value_halflife",
    "privacy_qi_entropy_risk",
    "dq_control_chart_daily",
    "stats_rayleigh_hour_uniformity",
    "events_its_segmented_regression",
]


def test_b6_registered_with_oracles():
    from mysql_public_data_ingestor_spark import registry

    registry._ensure_loaded()
    missing = [n for n in B6_NAMES if n not in registry._REGISTRY]
    assert not missing
    assert not [n for n in B6_NAMES if registry._REGISTRY[n].oracle is None]


@pytest.mark.parametrize("name", B6_NAMES)
def test_b6_query_matches_oracle(spark, sf_dir, name):
    spec = _spec(name)
    sdf = spec.fn(spark, sf_dir).toPandas()
    con = duck_connection(sf_dir)
    try:
        odf = con.execute(spec.oracle).fetchdf()
    finally:
        con.close()
    problems = compare(name, sdf, odf)
    assert not problems, f"{name}: {problems}"


def test_b6_plan_bars(spark, sf_dir):
    from mysql_public_data_ingestor_spark.plans import (
        assert_no_cartesian,
        physical_plan,
    )

    offenders = {}
    for name in B6_NAMES:
        plan = physical_plan(_spec(name).fn(spark, sf_dir))
        bad = [
            c
            for c in _sp_consumers(plan)
            if c not in ("HashAggregate", "ObjectHashAggregate", "SortAggregate")
        ]
        if bad:
            offenders[name] = bad
        try:
            assert_no_cartesian(_spec(name).fn(spark, sf_dir))
        except AssertionError:
            offenders.setdefault(name, []).append("CartesianProduct")
    assert not offenders, offenders


def _ols_coeffs(pairs):
    """[(k, y)] -> (n, d, a, b) exact ints for the fit y ~ (a + b*k)/d."""
    n = len(pairs)
    st = sum(k for k, _ in pairs)
    stt = sum(k * k for k, _ in pairs)
    sy = sum(y for _, y in pairs)
    sty = sum(k * y for k, y in pairs)
    return n, n * stt - st * st, sy * stt - st * sty, n * sty - st * sy


def test_ols_coeffs_match_numpy():
    """Independent-solver anchor (VERDICT r10 item 6): the shared
    integer Cramer solve behind the Chow / ITS / Theil comparison
    replicas is pinned against numpy lstsq on deterministic series, so
    a derivation bug cannot hide by being replicated into every
    hand-typed copy (the §5i.11 Granger class)."""
    import numpy as np

    for ys in (
        [5, 9, 14, 17, 23, 24, 31],
        [1000, 998, 995, 990, 991, 983],
        [7, 7, 7, 7],
        [2, 100, 3, 97, 5, 95, 8],
    ):
        pairs = list(enumerate(ys, start=1))
        n, d, a, b = _ols_coeffs(pairs)
        ks = np.array([k for k, _ in pairs], dtype=float)
        yv = np.array(ys, dtype=float)
        coef, *_ = np.linalg.lstsq(np.column_stack([np.ones_like(ks), ks]), yv, rcond=None)
        assert d > 0
        assert abs(a / d - coef[0]) < 1e-9 * max(1.0, abs(coef[0]))
        assert abs(b / d - coef[1]) < 1e-9 * max(1.0, abs(coef[1]))


def test_chow_matches_python(spark, sf_dir):
    got = _q("stats_chow_test_break", spark, sf_dir).iloc[0]
    ys = [v for _, v in _daily_orders(spark, sf_dir, "revenue_cents")]
    pairs = list(enumerate(ys, start=1))
    n = len(pairs)
    kb = n // 2
    p1, p2 = pairs[:kb], pairs[kb:]
    _, d, a, b = _ols_coeffs(pairs)
    _, d1, a1, b1 = _ols_coeffs(p1)
    _, d2, a2, b2 = _ols_coeffs(p2)
    assert d > 0 and d1 > 0 and d2 > 0
    ssr_p = sum((y - _halfup_int(a + b * k, d)) ** 2 for k, y in pairs)
    ssr_u = sum((y - _halfup_int(a1 + b1 * k, d1)) ** 2 for k, y in p1) + sum(
        (y - _halfup_int(a2 + b2 * k, d2)) ** 2 for k, y in p2
    )
    assert int(got["n_days"]) == n
    assert int(got["n_pre"]) == kb and int(got["n_post"]) == n - kb
    assert got["f_stat"] == _half_up((ssr_p - ssr_u) * (n - 4), 2 * ssr_u)
    assert got["ssr_ratio"] == _half_up(ssr_u, ssr_p)
    # two free trends can never fit worse than one
    assert 0.0 <= got["ssr_ratio"] <= 1.0 and got["f_stat"] >= 0.0


def test_g_test_matches_python(spark, sf_dir):
    from mysql_public_data_ingestor_spark.functions.detmath import ref_det_ln_q

    got = _q("stats_g_test_dow_type", spark, sf_dir).iloc[0]
    t = Tables(spark, sf_dir)
    ev = t.events.select("ts", "event_type").toPandas()
    from collections import Counter

    cells = Counter((ts.isoweekday() % 7, et) for ts, et in
                    zip(ev["ts"], ev["event_type"]))
    rows = Counter()
    cols = Counter()
    for (d, e), o in cells.items():
        rows[d] += o
        cols[e] += o
    n = sum(cells.values())
    gsum = sum(
        o * (ref_det_ln_q(float(o * n)) - ref_det_ln_q(float(rows[d] * cols[e])))
        for (d, e), o in cells.items()
    )
    assert int(got["n"]) == n
    assert int(got["df"]) == (len(rows) - 1) * (len(cols) - 1)
    assert got["g_stat"] == (2 * gsum) / 1e6
    assert got["g_stat"] >= -1e-3  # G is non-negative up to ln quantization


def test_decayed_value_matches_python(spark, sf_dir):
    got = _q("events_decayed_value_halflife", spark, sf_dir)
    t = Tables(spark, sf_dir)
    ev = t.events.select("event_type", "ts", "value").toPandas()
    ev = ev[ev["value"].notna()]
    days = [ts.date() for ts in ev["ts"]]
    ref = max(days)
    kc = events_series.DECAY_KCAP
    from collections import defaultdict

    acc: dict = defaultdict(lambda: [0, 0, 0])  # n, raw, num
    for (et, d, v) in zip(ev["event_type"], days, ev["value"]):
        cents = int(math.floor(v * 100 + 0.5))
        for h in events_series.DECAY_HALflIVES:
            k = min((ref - d).days // h, kc)
            a = acc[(et, h)]
            a[0] += 1
            a[1] += cents
            a[2] += cents * (1 << (kc - k))
    assert len(got) == len(acc)
    for _, row in got.iterrows():
        key = (row["event_type"], int(row["halflife_days"]))
        n, raw, num = acc[key]
        assert int(row["n_events"]) == n, key
        assert int(row["raw_cents"]) == raw, key
        assert row["decayed_cents"] == _half_up(num, 1 << kc), key
        assert row["retention_ratio"] == _half_up(num, (1 << kc) * raw), key
        assert 0.0 < row["retention_ratio"] <= 1.0


def test_qi_entropy_matches_python(spark, sf_dir):
    from mysql_public_data_ingestor_spark.functions.detmath import ref_det_ln_q

    got = _q("privacy_qi_entropy_risk", spark, sf_dir).iloc[0]
    t = Tables(spark, sf_dir)
    cust = t.customer.select("c_nationkey", "c_mktsegment").toPandas()
    from collections import Counter

    cells = Counter(zip(cust["c_nationkey"], cust["c_mktsegment"]))
    n = sum(cells.values())
    clc = sum(c * ref_det_ln_q(float(c)) for c in cells.values())
    hq = _halfup_int(n * ref_det_ln_q(float(n)) - clc, n)
    assert int(got["n_rows"]) == n
    assert int(got["n_cells"]) == len(cells)
    assert int(got["min_cell_size"]) == min(cells.values())
    assert got["max_cell_share"] == _half_up(max(cells.values()), n)
    assert got["entropy_nats"] == hq / 1e6
    assert got["ln_cells"] == ref_det_ln_q(float(len(cells))) / 1e6
    # entropy can exceed its ceiling only by quantization dust
    assert got["entropy_nats"] <= got["ln_cells"] + 1e-5


def test_control_chart_matches_python(spark, sf_dir):
    got = _q("dq_control_chart_daily", spark, sf_dir)
    daily = _daily_orders(spark, sf_dir, "count")
    n = len(daily)
    s = sum(c for _, c in daily)
    viol = [
        (d, c, (n * c - s) ** 2, 1 if n * c > s else -1)
        for d, c in daily
        if (n * c - s) ** 2 > 9 * s * n
    ]
    viol.sort(key=lambda r: (-r[2], r[0]))
    top = viol[: daily_change.CCHART_TOPK]
    assert len(got) == len(top)
    for (_, row), (d, c, dev2, side) in zip(got.iterrows(), top):
        assert row["day"].date() == d
        assert int(row["day_count"]) == c
        assert int(row["side"]) == side
        assert int(row["n_violations"]) == len(viol)
        assert row["mean_daily"] == _half_up(s, n)
        assert row["z2_over_9"] == _half_up(dev2, 9 * s * n)
        assert row["z2_over_9"] > 1.0  # definition of a violation


def test_rayleigh_matches_python(spark, sf_dir):
    got = _q("stats_rayleigh_hour_uniformity", spark, sf_dir)
    t = Tables(spark, sf_dir)
    ev = t.events.select("event_type", "ts").toPandas()
    from collections import Counter, defaultdict

    hrs: dict = defaultdict(Counter)
    for et, ts in zip(ev["event_type"], ev["ts"]):
        hrs[et][ts.hour] += 1
    assert len(got) == len(hrs)
    for _, row in got.iterrows():
        cc = hrs[row["event_type"]]
        n = sum(cc.values())
        sc = sum(c * stats_dist.RAYLEIGH_COSQ[h] for h, c in cc.items())
        ss = sum(c * stats_dist.RAYLEIGH_SINQ[h] for h, c in cc.items())
        assert int(row["n"]) == n
        assert row["rayleigh_z"] == _half_up(sc * sc + ss * ss, n * 10**12)
        assert row["rbar_sq"] == _half_up(sc * sc + ss * ss, n * n * 10**12)
        assert 0.0 <= row["rbar_sq"] <= 1.0


def test_its_matches_python(spark, sf_dir):
    got = _q("events_its_segmented_regression", spark, sf_dir).iloc[0]
    t = Tables(spark, sf_dir)
    ev = t.events.select("ts").toPandas()
    from collections import Counter

    daily = Counter(ts.date() for ts in ev["ts"])
    ys = [daily[d] for d in sorted(daily)]
    pairs = list(enumerate(ys, start=1))
    kb = len(pairs) // 2
    _, d1, a1, b1 = _ols_coeffs(pairs[:kb])
    _, d2, a2, b2 = _ols_coeffs(pairs[kb:])
    assert d1 > 0 and d2 > 0
    assert int(got["n_pre"]) == kb
    assert int(got["n_post"]) == len(pairs) - kb
    assert got["slope_pre"] == _half_up(b1, d1)
    assert got["slope_post"] == _half_up(b2, d2)
    assert got["slope_change"] == _half_up(b2 * d1 - b1 * d2, d1 * d2)
    kb1 = kb + 1
    assert got["level_change"] == _half_up(
        (a2 + b2 * kb1) * d1 - (a1 + b1 * kb1) * d2, d1 * d2
    )


# --- Batch 7 ---------------------------------------------------------------

B7_NAMES = [
    "similarity_ivf_nprobe_recall_curve",
    "ml_spiegelhalter_z_calibration",
    "corpus_dup_cap_retention_curve",
    "events_type_audience_jaccard",
    "events_markov_entropy_rate",
]


def test_b7_registered_with_oracles():
    from mysql_public_data_ingestor_spark import registry

    registry._ensure_loaded()
    assert not [n for n in B7_NAMES if n not in registry._REGISTRY]
    assert not [n for n in B7_NAMES if registry._REGISTRY[n].oracle is None]


@pytest.mark.parametrize("name", B7_NAMES)
def test_b7_query_matches_oracle(spark, sf_dir, name):
    spec = _spec(name)
    sdf = spec.fn(spark, sf_dir).toPandas()
    con = duck_connection(sf_dir)
    try:
        odf = con.execute(spec.oracle).fetchdf()
    finally:
        con.close()
    problems = compare(name, sdf, odf)
    assert not problems, f"{name}: {problems}"


def test_b7_plan_bars(spark, sf_dir):
    from mysql_public_data_ingestor_spark.plans import (
        assert_no_cartesian,
        physical_plan,
    )

    offenders = {}
    for name in B7_NAMES:
        plan = physical_plan(_spec(name).fn(spark, sf_dir))
        bad = [
            c
            for c in _sp_consumers(plan)
            if c not in ("HashAggregate", "ObjectHashAggregate", "SortAggregate")
        ]
        if bad:
            offenders[name] = bad
        try:
            assert_no_cartesian(_spec(name).fn(spark, sf_dir))
        except AssertionError:
            offenders.setdefault(name, []).append("CartesianProduct")
    assert not offenders, offenders


def test_ivf_nprobe_curve_matches_python(spark, sf_dir):
    got = _q("similarity_ivf_nprobe_recall_curve", spark, sf_dir).sort_values(
        "nprobe"
    )
    t = Tables(spark, sf_dir)
    emb = t.embeddings.select("vec_id", "embedding").toPandas()
    vecs = {int(r.vec_id): [float(x) for x in r.embedding] for r in emb.itertuples()}

    def cos(a, b, dp):
        num = sum(x * y for x, y in zip(a, b))
        na = math.sqrt(sum(x * x for x in a))
        nb = math.sqrt(sum(x * x for x in b))
        # mirror the query's expression shape: round(num / (na * nb), dp)
        v = num / (na * nb)
        return round(v, dp)

    cents = {i: vecs[i] for i in range(roundten3.IVFC_CENTROIDS)}
    cell = {}
    for vid, v in vecs.items():
        best = max(
            cents, key=lambda c: (cos(v, cents[c], 9), -c)
        )
        cell[vid] = best
    qids = [i for i in range(roundten3.IVFC_QUERIES) if i in vecs]
    hit_counts: dict = {}
    n_true = 0
    for q in qids:
        qv = vecs[q]
        ranked = sorted(
            (vid for vid in vecs if vid != q),
            key=lambda vid: (-cos(vecs[vid], qv, 6), vid),
        )[: roundten3.IVFC_TOPK]
        n_true += len(ranked)
        prank = {
            c: i + 1
            for i, c in enumerate(
                sorted(cents, key=lambda c: (-cos(cents[c], qv, 9), c))
            )
        }
        for vid in ranked:
            r = prank[cell[vid]]
            hit_counts[r] = hit_counts.get(r, 0) + 1
    assert list(got["nprobe"]) == list(roundten3.IVFC_PROBES)
    for _, row in got.iterrows():
        p = int(row["nprobe"])
        found = sum(c for r, c in hit_counts.items() if r <= p)
        assert int(row["n_queries"]) == len(qids)
        assert int(row["n_true"]) == n_true
        assert int(row["n_found"]) == found, p
        assert row["recall"] == _half_up(found, n_true), p
    # the curve must be monotone non-decreasing and end at 1 for
    # nprobe = all cells
    rec = list(got["recall"])
    assert all(a <= b for a, b in zip(rec, rec[1:]))
    assert rec[-1] == 1.0


def test_spiegelhalter_matches_python(spark, sf_dir):
    from mysql_public_data_ingestor_spark.operators.ml_scores import scored_labeled

    got = _q("ml_spiegelhalter_z_calibration", spark, sf_dir)
    t = Tables(spark, sf_dir)
    sc = scored_labeled(t).select("lang", "score_q", "label").toPandas()
    from collections import defaultdict

    acc: dict = defaultdict(lambda: [0, 0, 0])
    for r in sc.itertuples():
        q, y = int(r.score_q), int(r.label)
        a = acc[r.lang]
        a[0] += 1
        a[1] += (10000 * y - q) * (10000 - 2 * q)
        a[2] += (10000 - 2 * q) ** 2 * q * (10000 - q)
    assert len(got) == len(acc)
    for _, row in got.iterrows():
        n, num, var = acc[row["lang"]]
        assert int(row["n"]) == n
        if var > 0:
            sign = -1 if num < 0 else 1
            assert row["z_signed_sq"] == _half_up(
                sign * num * num, 10000 * var
            ), row["lang"]


def test_dup_cap_retention_matches_python(spark, sf_dir):
    got = _q("corpus_dup_cap_retention_curve", spark, sf_dir).sort_values("cap")
    t = Tables(spark, sf_dir)
    docs = t.documents.select("text").toPandas()
    from collections import Counter

    cl: Counter = Counter()
    toks = {}
    for r in docs.itertuples():
        cl[r.text] += 1
        toks[r.text] = len(" ".join(r.text.lower().split()).split(" "))
    assert list(got["cap"]) == list(roundten3.DUPCAP_CAPS)
    for _, row in got.iterrows():
        m = int(row["cap"])
        docs_kept = sum(min(c, m) for c in cl.values())
        tok_tot = sum(c * toks[k] for k, c in cl.items())
        tok_kept = sum(min(c, m) * toks[k] for k, c in cl.items())
        assert int(row["n_docs"]) == sum(cl.values())
        assert int(row["docs_kept"]) == docs_kept
        assert int(row["tokens_total"]) == tok_tot
        assert int(row["tokens_kept"]) == tok_kept
        assert row["doc_retention"] == _half_up(docs_kept, sum(cl.values()))
        assert row["token_retention"] == _half_up(tok_kept, tok_tot)
    # retention is monotone in the cap
    dr = list(got["doc_retention"])
    assert all(a <= b for a, b in zip(dr, dr[1:]))


def test_audience_jaccard_matches_python(spark, sf_dir):
    got = _q("events_type_audience_jaccard", spark, sf_dir)
    t = Tables(spark, sf_dir)
    ev = t.events.select("user_id", "event_type").toPandas()
    from collections import defaultdict

    users: dict = defaultdict(set)
    for r in ev.itertuples():
        users[r.event_type].add(int(r.user_id))
    types = sorted(users)
    expect = {}
    for i, a in enumerate(types):
        for b in types[i + 1 :]:
            inter = len(users[a] & users[b])
            if inter:
                expect[(a, b)] = (len(users[a]), len(users[b]), inter)
    assert len(got) == len(expect)
    for _, row in got.iterrows():
        na, nb, inter = expect[(row["type_a"], row["type_b"])]
        uni = na + nb - inter
        assert int(row["users_a"]) == na and int(row["users_b"]) == nb
        assert int(row["n_inter"]) == inter
        assert int(row["n_union"]) == uni
        assert row["jaccard"] == _half_up(inter, uni)


def test_markov_entropy_matches_python(spark, sf_dir):
    from mysql_public_data_ingestor_spark.functions.detmath import ref_det_ln_q

    got = _q("events_markov_entropy_rate", spark, sf_dir).iloc[0]
    t = Tables(spark, sf_dir)
    ev = t.events.select("user_id", "ts", "event_id", "event_type").toPandas()
    ev = ev.sort_values(["user_id", "ts", "event_id"])
    from collections import Counter, defaultdict

    trans: Counter = Counter()
    prev: dict = {}
    for r in ev.itertuples():
        u = int(r.user_id)
        if u in prev:
            trans[(prev[u], r.event_type)] += 1
        prev[u] = r.event_type
    rowsum: dict = defaultdict(int)
    for (a, _b), c in trans.items():
        rowsum[a] += c
    n = sum(trans.values())
    hsum = sum(
        c * (ref_det_ln_q(float(rowsum[a])) - ref_det_ln_q(float(c)))
        for (a, _b), c in trans.items()
    )
    assert int(got["n_transitions"]) == n
    assert int(got["n_states"]) == len(rowsum)
    assert int(got["n_edges"]) == len(trans)
    assert got["entropy_rate_nats"] == _halfup_int(hsum, n) / 1e6
    assert got["ln_states"] == ref_det_ln_q(float(len(rowsum))) / 1e6
    # ceiling: H_rate <= ln(#states) up to quantization dust
    assert got["entropy_rate_nats"] <= got["ln_states"] + 1e-5
