"""Round-12 direct registrations, batch L (time-series diagnostics on
the daily order series).

Six window-slot completions, each oracle-paired, replica-pinned and
plan-barred in ``tests/test_roundtwelve7.py`` (same-commit gate rule).
Every name was checked against the full registry inventory before
design (the SCALE §5j.7 authoring rule):

* ``events_stl_residual_periodogram`` — VERDICT r11's suggested
  composition: the fixed-period periodogram run on the STL-lite
  REMAINDER (shared derivations: ``roundeleven6._stl_rem`` +
  ``roundeleven.PGRAM_*`` trig tables).
* ``events_turning_points_daily`` — Kendall's turning-point
  randomness test (exact rational moments).
* ``events_records_foster_stuart`` — record-counting trend test.
* ``events_permutation_entropy3`` — order-3 ordinal-pattern entropy
  (Bandt & Pompe 2002) with deterministic-ln exactness.
* ``events_cusum_max_drawdown`` — maximum drawdown + duration of the
  mean-adjusted cumulative path.
* ``stats_arch_lm_daily`` — Engle's ARCH LM test on the shared
  Breusch–Pagan OLS residuals (``roundeleven7._bp_resid``).

Reference parity note: the reference (Go ingestion pipeline,
``/root/reference/main.go``) has no analytics; these extend SURVEY
§2.C time-series / warehouse statistics.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from ..functions.exact import dec38, halfup_div, sql_halfup_div
from ..registry import register
from ..tables import Tables
from .roundeleven2 import _SQL_DAILY_COUNTS_IDX, _daily_counts_idx

# ---------------------------------------------------------------------------
# 1. Periodogram of the STL-lite remainder at fixed calendar periods
# ---------------------------------------------------------------------------


def _stl_pgram_oracle() -> str:
    from ..functions.exact import sql_round_big_int_ratio
    from .roundeleven import PGRAM_COSQ, PGRAM_PERIODS, PGRAM_SINQ
    from .roundeleven6 import _SQL_STL_DET_CTES

    per_p = []
    for p in PGRAM_PERIODS:
        cosl = ", ".join(str(v) for v in PGRAM_COSQ[p])
        sinl = ", ".join(str(v) for v in PGRAM_SINQ[p])
        per_p.append(
            f"""
      SELECT {p}::BIGINT AS period,
             CAST(sum(z * ([{cosl}])[((k - 1) % {p}) + 1]) AS HUGEINT) AS sc,
             CAST(sum(z * ([{sinl}])[((k - 1) % {p}) + 1]) AS HUGEINT) AS ss
      FROM cent"""
        )
    unions = " UNION ALL ".join(per_p)
    return f"""
    WITH {_SQL_STL_DET_CTES}
    , rtot AS (
      SELECT CAST(count(*) AS HUGEINT) AS m, CAST(sum(r) AS HUGEINT) AS sr
      FROM rem0
    ), rbar AS (
      SELECT m, {sql_halfup_div('sr', 'm')} AS rb FROM rtot
    ), cent AS (
      SELECT CAST(r0.k AS BIGINT) AS k, (r0.r - rb.rb) AS z
      FROM rem0 r0, rbar rb
    ), zz AS (
      SELECT CAST(sum(z * z) AS HUGEINT) AS zrr, CAST(max(rb.m) AS HUGEINT) AS m
      FROM cent, rbar rb
    ), vecs AS ({unions})
    SELECT v.period, CAST(zz.m AS BIGINT) AS n_resid_days,
           CASE WHEN zz.zrr > 0 THEN
             {sql_round_big_int_ratio(
                 '2::HUGEINT * (v.sc * v.sc + v.ss * v.ss)',
                 'zz.m * zz.zrr * 1000000')}
           END AS residual_variance_share
    FROM vecs v, zz ORDER BY v.period
    """


@register("events_stl_residual_periodogram", oracle=_stl_pgram_oracle())
def events_stl_residual_periodogram(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Fixed-period periodogram of the STL-lite REMAINDER: after
    ``events_stl_dow_decomposition`` removes the 7-day moving-average
    trend and the weekly seasonal index, how much of the LEFTOVER
    variance still concentrates at the weekly / monthly / quarterly
    periods — the residual-diagnostic VERDICT r11 suggested, and the
    check that says whether the weekly model actually absorbed the
    cycle (a large share at 7 means the seasonal was mis-specified;
    shares at 30/91 reveal the next cycle to model).
    ``events_periodogram_fixed_periods`` prices the RAW series; this
    prices what the decomposition left behind.

    Shared derivations both ways: the remainder series is
    ``roundeleven6._stl_rem`` / ``rem0`` in ``_SQL_STL_DET_CTES`` (the
    STL op's own table), the quantized trig tables are
    ``roundeleven.PGRAM_*`` verbatim (the Rayleigh convention) — one
    derivation each, two consumers.

    Exactness: remainders are micro integers; centering subtracts ONE
    half-up micro mean; z*cos products are exact integers; one
    round_big_int_ratio per period. Phase = original day rank mod P,
    so the remainder keeps calendar alignment (full-window days only,
    k in [4, n-3]).

    Scale shape: calendar-bounded throughout — the +-3 band join and
    the rank join live on the ~2.4k-day table; three 1-row vectors out.
    """
    from ..functions.exact import round_big_int_ratio
    from .roundeleven import PGRAM_COSQ, PGRAM_PERIODS, PGRAM_SINQ
    from .roundeleven6 import _stl_rem

    t = Tables(spark, sf_dir)
    rem = _stl_rem(t).select("k", "r")
    rtot = rem.agg(
        dec38(F.count(F.lit(1))).alias("m"), F.sum("r").alias("sr")
    )
    rbar = rtot.select("m", halfup_div(F.col("sr"), F.col("m")).alias("rb"))
    cent = rem.crossJoin(F.broadcast(rbar)).select(
        F.col("k").cast("long").alias("k"),
        (F.col("r") - F.col("rb")).alias("z"),
        "m",
    )
    # ONE pass over the remainder series for all three periods AND
    # the variance/count fold: the first draft union-ed three
    # per-period aggregates plus a separate zz aggregate, each branch
    # re-running the whole STL chain (detrend band join + seasonal
    # join) — 4 chains, 8.4 s warm at sf0.1. Exploding the period
    # column and folding sum(z^2)/count into the same grouped
    # aggregate leaves ~2 chains (cent is still evaluated under the
    # rbar centering cross) — 6.8-7.5 s warm; the residue is the
    # shared +-3-band detrend itself (the parent STL op's own 3.0 s
    # canonical), i.e. structure-bound, not plan waste.
    perexp = cent.select(
        "k",
        "z",
        F.explode(
            F.array(*[F.lit(p).cast("long") for p in PGRAM_PERIODS])
        ).alias("period"),
    )
    cos_pick = None
    sin_pick = None
    for p in PGRAM_PERIODS:
        cosv = F.array(*[F.lit(v) for v in PGRAM_COSQ[p]])
        sinv = F.array(*[F.lit(v) for v in PGRAM_SINQ[p]])
        ph = ((F.col("k") - 1) % p + 1).cast("int")
        c = F.element_at(cosv, ph)
        sn = F.element_at(sinv, ph)
        cond = F.col("period") == p
        cos_pick = F.when(cond, c) if cos_pick is None else cos_pick.when(cond, c)
        sin_pick = F.when(cond, sn) if sin_pick is None else sin_pick.when(cond, sn)
    # zrr/m fold into the SAME grouped aggregate (each period group
    # sees every remainder row, so per-group sum(z^2)/count equal the
    # global ones) — no second pass over the STL chain at all
    vecs = (
        perexp.select(
            "period",
            (F.col("z") * cos_pick.cast("decimal(38,0)")).alias("zc"),
            (F.col("z") * sin_pick.cast("decimal(38,0)")).alias("zs"),
            (F.col("z") * F.col("z")).alias("z2"),
        )
        .groupBy("period")
        .agg(
            F.sum("zc").alias("sc"),
            F.sum("zs").alias("ss"),
            F.sum("z2").alias("zrr"),
            dec38(F.count(F.lit(1))).alias("m"),
        )
    )
    num = F.lit(2).cast("decimal(38,0)") * (
        F.col("sc") * F.col("sc") + F.col("ss") * F.col("ss")
    )
    return (
        vecs
        .select(
            "period",
            F.col("m").cast("long").alias("n_resid_days"),
            F.when(
                F.col("zrr") > 0,
                round_big_int_ratio(
                    num,
                    F.col("m") * F.col("zrr") * F.lit(10**6).cast("decimal(38,0)"),
                ),
            ).alias("residual_variance_share"),
        )
        .orderBy("period")
    )


# ---------------------------------------------------------------------------
# 2. Turning-point randomness test on the daily series
# ---------------------------------------------------------------------------


def _turning_oracle() -> str:
    hd = sql_halfup_div
    return f"""
    WITH {_SQL_DAILY_COUNTS_IDX}
    , tp AS (
      SELECT CAST(count(*) AS BIGINT) AS t
      FROM idx a
      JOIN idx l ON l.k = a.k - 1
      JOIN idx r ON r.k = a.k + 1
      WHERE (a.y > l.y AND a.y > r.y) OR (a.y < l.y AND a.y < r.y)
    ), nn AS (SELECT CAST(count(*) AS BIGINT) AS n FROM idx)
    SELECT nn.n AS n_days, tp.t AS n_turning,
           CAST({hd('1000000::HUGEINT * 2 * (nn.n - 2)', '3::HUGEINT')} AS BIGINT)
             AS expected_micro,
           CASE WHEN 16 * nn.n - 29 > 0 THEN
             CAST({hd('10000000::HUGEINT * (3 * tp.t - 2 * (nn.n - 2))'
                      ' * (3 * tp.t - 2 * (nn.n - 2))',
                      '16 * nn.n - 29')} AS BIGINT)
             * (CASE WHEN 3 * tp.t < 2 * (nn.n - 2) THEN -1 ELSE 1 END)
           END AS tp_z_sq_signed_micro
    FROM nn, tp
    """


@register("events_turning_points_daily", oracle=_turning_oracle())
def events_turning_points_daily(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Kendall's turning-point test on the daily order-count series:
    count strict local maxima/minima; under exchangeability E[T] =
    2(n-2)/3 and Var[T] = (16n-29)/90, so too FEW turning points mean
    trend/persistence and too MANY mean alternation (negative serial
    correlation). The oscillation-counting member of the randomness
    shelf — ``events_runs_test_daily`` counts sign runs about the
    median (level information), ``stats_runs_up_down_daily`` counts
    monotone runs; turning points weigh the LOCAL curvature and have
    the classic exact moments above.

    Exactness: all integers — T from strict comparisons on the lag
    pair joins; z^2 = (T - 2(n-2)/3)^2 / ((16n-29)/90) reduces to the
    exact rational 10*(3T - 2(n-2))^2 / (16n-29) [the /9 from squaring
    D/3 cancels against 90/9], evaluated as ONE half-up micro division
    of exact products (signed by the deficit direction), NULL-guarded
    for degenerate n.

    Scale shape: one fact scan to the ~2.4k-day table; the +-1 lag
    joins are calendar-bounded equi-joins on the rank; one scalar row.
    """
    t = Tables(spark, sf_dir)
    idx = _daily_counts_idx(t)
    a = idx.select(F.col("k").alias("ka"), F.col("y").alias("ya"))
    lft = idx.select(F.col("k").alias("kl"), F.col("y").alias("yl"))
    rgt = idx.select(F.col("k").alias("kr"), F.col("y").alias("yr"))
    tp = (
        a.join(lft, F.col("kl") == F.col("ka") - 1)
        .join(rgt, F.col("kr") == F.col("ka") + 1)
        .filter(
            ((F.col("ya") > F.col("yl")) & (F.col("ya") > F.col("yr")))
            | ((F.col("ya") < F.col("yl")) & (F.col("ya") < F.col("yr")))
        )
        .agg(F.count(F.lit(1)).cast("long").alias("t"))
    )
    nn = idx.agg(F.count(F.lit(1)).cast("long").alias("n"))
    m6 = F.lit(1_000_000).cast("decimal(38,0)")
    d = 3 * F.col("t") - 2 * (F.col("n") - 2)
    return nn.crossJoin(F.broadcast(tp)).select(
        F.col("n").alias("n_days"),
        F.col("t").alias("n_turning"),
        halfup_div(m6 * 2 * dec38(F.col("n") - 2), F.lit(3).cast("decimal(38,0)"))
        .cast("long")
        .alias("expected_micro"),
        F.when(
            16 * F.col("n") - 29 > 0,
            halfup_div(
                F.lit(10_000_000).cast("decimal(38,0)") * dec38(d) * dec38(d),
                dec38(16 * F.col("n") - 29),
            ).cast("long")
            * F.when(d < 0, F.lit(-1)).otherwise(F.lit(1)),
        )
        .cast("long")
        .alias("tp_z_sq_signed_micro"),
    )


# ---------------------------------------------------------------------------
# 3. Foster–Stuart record test on the daily series
# ---------------------------------------------------------------------------


def _records_oracle() -> str:
    hd = sql_halfup_div
    return f"""
    WITH {_SQL_DAILY_COUNTS_IDX}
    , rec AS (
      SELECT a.k, a.y,
             CASE WHEN a.y > max(b.y) THEN 1 ELSE 0 END AS u,
             CASE WHEN a.y < min(b.y) THEN 1 ELSE 0 END AS l
      FROM idx a JOIN idx b ON b.k < a.k
      GROUP BY a.k, a.y
    ), cnt AS (
      SELECT CAST(sum(u) AS BIGINT) AS n_upper,
             CAST(sum(l) AS BIGINT) AS n_lower
      FROM rec
    ), var_m AS (
      -- Var(D) = 2 * sum of 1/i for i in 2..n, each term half-up micro once
      SELECT CAST(2 * sum({hd('1000000::HUGEINT', 'k')}) AS BIGINT) AS v
      FROM idx WHERE k >= 2
    ), nn AS (SELECT CAST(count(*) AS BIGINT) AS n FROM idx)
    SELECT nn.n AS n_days, c.n_upper, c.n_lower,
           (c.n_upper - c.n_lower) AS d_stat,
           (c.n_upper + c.n_lower) AS s_stat,
           v.v AS var_d_micro,
           CASE WHEN v.v > 0 THEN
             CAST({hd('1000000000000::HUGEINT * (c.n_upper - c.n_lower)'
                      ' * (c.n_upper - c.n_lower)', 'v.v')} AS BIGINT)
             * (CASE WHEN c.n_upper < c.n_lower THEN -1 ELSE 1 END)
           END AS fs_z_sq_signed_micro
    FROM nn, cnt c, var_m v
    """


@register("events_records_foster_stuart", oracle=_records_oracle())
def events_records_foster_stuart(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Foster–Stuart record test (1954) on the daily order counts:
    count upper records (strictly above every earlier day) and lower
    records; D = U - L tests TREND (records should balance under
    exchangeability, Var(D) = 2 sum_{i=2..n} 1/i), S = U + L tests
    dispersion change. The extreme-value member of the trend shelf —
    Mann–Kendall weighs all pairs, Cox–Stuart the half-offset signs;
    records react ONLY to new extremes, which is what capacity
    planning actually watches (a trend that never sets records is not
    a provisioning problem).

    Exactness: record flags are strict comparisons against exact
    prefix max/min (rank self-join, GROUP BY carries the current
    day's y so the flag is computed post-aggregate); Var(D)'s harmonic
    sum quantizes each 1/i term half-up micro ONCE (deterministic on
    both engines, <= 0.5e-6 per term); the signed z^2 is one half-up
    division.

    Scale shape: calendar-bounded — the prefix join is day x day on
    ~2.4k rows; three scalar aggregates out.
    """
    t = Tables(spark, sf_dir)
    idx = _daily_counts_idx(t)
    a = idx.select(F.col("k").alias("ka"), F.col("y").alias("ya"))
    b = idx.select(F.col("k").alias("kb"), F.col("y").alias("yb"))
    rec = (
        a.join(F.broadcast(b), F.col("kb") < F.col("ka"))
        .groupBy("ka", "ya")
        .agg(F.max("yb").alias("pmax"), F.min("yb").alias("pmin"))
        .select(
            F.when(F.col("ya") > F.col("pmax"), 1).otherwise(0).alias("u"),
            F.when(F.col("ya") < F.col("pmin"), 1).otherwise(0).alias("l"),
        )
    )
    cnt = rec.agg(
        F.sum("u").cast("long").alias("n_upper"),
        F.sum("l").cast("long").alias("n_lower"),
    )
    m6 = F.lit(1_000_000).cast("decimal(38,0)")
    var_m = (
        idx.filter(F.col("k") >= 2)
        .agg(F.sum(halfup_div(m6, dec38(F.col("k")))).alias("hsum"))
        .select((2 * F.col("hsum")).cast("long").alias("v"))
    )
    nn = idx.agg(F.count(F.lit(1)).cast("long").alias("n"))
    d = F.col("n_upper") - F.col("n_lower")
    return (
        nn.crossJoin(F.broadcast(cnt))
        .crossJoin(F.broadcast(var_m))
        .select(
            F.col("n").alias("n_days"),
            "n_upper",
            "n_lower",
            d.alias("d_stat"),
            (F.col("n_upper") + F.col("n_lower")).alias("s_stat"),
            F.col("v").alias("var_d_micro"),
            F.when(
                F.col("v") > 0,
                halfup_div(
                    F.lit(10**12).cast("decimal(38,0)") * dec38(d) * dec38(d),
                    dec38(F.col("v")),
                ).cast("long")
                * F.when(d < 0, F.lit(-1)).otherwise(F.lit(1)),
            )
            .cast("long")
            .alias("fs_z_sq_signed_micro"),
        )
    )


# ---------------------------------------------------------------------------
# 4. Order-3 permutation entropy of the daily series
# ---------------------------------------------------------------------------

LN_6_MICRO = 1_791_759  # det-ln(6) micro literal, shared by both engines
LN_1E6_MICRO = 13_815_511  # det-ln(1e6) micro literal (roundtwelve convention)


def _perm_entropy_oracle() -> str:
    from ..functions.detmath import sql_det_ln_steps

    hd = sql_halfup_div
    # rank of element i among the triple with ties broken by time
    # index: rank_i = #{j : y_j < y_i or (y_j = y_i and j < i)}
    return f"""
    WITH {_SQL_DAILY_COUNTS_IDX}
    , tri AS (
      SELECT a.y AS y0, b.y AS y1, c.y AS y2
      FROM idx a
      JOIN idx b ON b.k = a.k + 1
      JOIN idx c ON c.k = a.k + 2
    ), pat AS (
      SELECT 100 * ((CASE WHEN y1 < y0 THEN 1 ELSE 0 END)
                  + (CASE WHEN y2 < y0 THEN 1 ELSE 0 END))
             + 10 * ((CASE WHEN y0 <= y1 THEN 1 ELSE 0 END)
                   + (CASE WHEN y2 < y1 THEN 1 ELSE 0 END))
             + ((CASE WHEN y0 <= y2 THEN 1 ELSE 0 END)
              + (CASE WHEN y1 <= y2 THEN 1 ELSE 0 END)) AS code
      FROM tri
    ), pc AS (
      SELECT code, CAST(count(*) AS BIGINT) AS c FROM pat GROUP BY code
    ), mm AS (SELECT CAST(sum(c) AS BIGINT) AS m FROM pc),
    q AS (
      SELECT pc.code, pc.c, CAST(mm.m AS DOUBLE) / CAST(pc.c AS DOUBLE) AS ratio,
             mm.m
      FROM pc, mm
    ), {sql_det_ln_steps('q', 'ratio', 'lnq')},
    terms AS (
      SELECT code, c, m, lnq,
             CAST({hd('1000000::HUGEINT * c', 'm')} AS BIGINT) AS share_micro
      FROM lnq_rel
    ), ent AS (
      SELECT CAST(sum(c::HUGEINT * lnq) AS HUGEINT) AS w, CAST(max(m) AS HUGEINT) AS m
      FROM terms
    )
    SELECT t.code AS pattern_code, t.c AS n_triples, t.share_micro,
           CAST({hd('e.w', 'e.m')} AS BIGINT) AS perm_entropy_micro,
           CAST({hd('1000000::HUGEINT * e.w', f'e.m * {LN_6_MICRO}')} AS BIGINT)
             AS perm_entropy_norm_micro
    FROM terms t, ent e ORDER BY t.code
    """


@register("events_permutation_entropy3", oracle=_perm_entropy_oracle())
def events_permutation_entropy3(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Order-3 permutation entropy (Bandt & Pompe 2002) of the daily
    order-count series: slide a 3-day window, classify each triple
    into one of 6 ordinal patterns (ranks with ties broken by time
    index — the standard convention), and take the Shannon entropy of
    the pattern distribution, normalized by ln 6. The complexity
    member of the series shelf: ACF/periodogram see LINEAR structure,
    ``events_markov_entropy_rate`` needs a discretized state space —
    permutation entropy is scale-free, robust to monotone
    transformations, and its deficit from 1 prices ANY forecastable
    ordinal structure. Per-pattern shares double as the
    up-up/down-down/zigzag motif profile.

    Exactness: pattern codes are pure integer comparisons (rank_i =
    count of j with y_j < y_i, ties to the earlier index); entropy
    terms c * det_ln(m/c) use the shared deterministic fixed-point ln
    (functions/detmath.py) so both engines accumulate identical
    integers; the ln 6 normalizer is the fixed micro literal
    ``LN_6_MICRO``; two half-up divisions out.

    Scale shape: one fact scan to the ~2.4k-day table; +1/+2 lag
    equi-joins on the rank; a <= 6-row pattern table; scalar algebra.
    """
    from ..functions.detmath import det_ln_q

    t = Tables(spark, sf_dir)
    idx = _daily_counts_idx(t)
    a = idx.select(F.col("k").alias("ka"), F.col("y").alias("y0"))
    b = idx.select(F.col("k").alias("kb"), F.col("y").alias("y1"))
    c = idx.select(F.col("k").alias("kc"), F.col("y").alias("y2"))
    tri = a.join(b, F.col("kb") == F.col("ka") + 1).join(
        c, F.col("kc") == F.col("ka") + 2
    )
    i1 = lambda cond: F.when(cond, 1).otherwise(0)  # noqa: E731
    code = (
        100 * (i1(F.col("y1") < F.col("y0")) + i1(F.col("y2") < F.col("y0")))
        + 10 * (i1(F.col("y0") <= F.col("y1")) + i1(F.col("y2") < F.col("y1")))
        + (i1(F.col("y0") <= F.col("y2")) + i1(F.col("y1") <= F.col("y2")))
    )
    pc = tri.select(code.alias("code")).groupBy("code").agg(
        F.count(F.lit(1)).cast("long").alias("c")
    )
    mm = pc.agg(F.sum("c").cast("long").alias("m"))
    q = pc.crossJoin(F.broadcast(mm)).select(
        "code",
        "c",
        "m",
        det_ln_q(F.col("m").cast("double") / F.col("c").cast("double")).alias("lnq"),
    )
    m6 = F.lit(1_000_000).cast("decimal(38,0)")
    terms = q.select(
        "code",
        "c",
        "m",
        "lnq",
        halfup_div(m6 * dec38(F.col("c")), dec38(F.col("m"))).cast("long").alias(
            "share_micro"
        ),
    )
    ent = terms.agg(
        F.sum(dec38(F.col("c")) * F.col("lnq")).alias("w"),
        dec38(F.max("m")).alias("mt"),
    )
    return (
        terms.crossJoin(F.broadcast(ent))
        .select(
            F.col("code").alias("pattern_code"),
            F.col("c").alias("n_triples"),
            "share_micro",
            halfup_div(F.col("w"), F.col("mt")).cast("long").alias(
                "perm_entropy_micro"
            ),
            halfup_div(
                m6 * F.col("w"), F.col("mt") * F.lit(LN_6_MICRO).cast("decimal(38,0)")
            )
            .cast("long")
            .alias("perm_entropy_norm_micro"),
        )
        .orderBy("pattern_code")
    )


# ---------------------------------------------------------------------------
# 5. Maximum drawdown of the mean-adjusted cumulative path
# ---------------------------------------------------------------------------


def _drawdown_oracle() -> str:
    hd = sql_halfup_div
    return f"""
    WITH {_SQL_DAILY_COUNTS_IDX}
    , tot AS (
      SELECT CAST(count(*) AS HUGEINT) AS m, CAST(sum(y) AS HUGEINT) AS sy
      FROM idx
    ), path AS (
      -- S_k = sum_{{j<=k}} (m*y_j - sy) = m*cum(y) - k*sy, exact ints
      SELECT a.day, a.k, (t.m * sum(b.y) - a.k * t.sy) AS s
      FROM idx a JOIN idx b ON b.k <= a.k, tot t
      GROUP BY a.day, a.k, t.m, t.sy
    ), dd AS (
      SELECT a.day, a.k, a.s, max(b.s) AS peak
      FROM path a JOIN path b ON b.k <= a.k
      GROUP BY a.day, a.k, a.s
    ), mx AS (
      SELECT CAST(max(peak - s) AS HUGEINT) AS maxdd FROM dd
    ), trough AS (
      SELECT d.day AS trough_day, d.k AS tk, d.peak
      FROM dd d, mx WHERE d.peak - d.s = mx.maxdd
      ORDER BY d.k LIMIT 1
    ), peakrow AS (
      SELECT p.day AS peak_day, p.k AS pk
      FROM path p, trough tr WHERE p.k <= tr.tk AND p.s = tr.peak
      ORDER BY p.k LIMIT 1
    )
    SELECT (SELECT CAST(m AS BIGINT) FROM tot) AS n_days,
           CAST({hd('1000000::HUGEINT * mx.maxdd', 't.m')} AS BIGINT)
             AS max_drawdown_orders_micro,
           CAST(pr.peak_day AS TIMESTAMP) AS peak_day,
           CAST(tr.trough_day AS TIMESTAMP) AS trough_day,
           CAST(tr.tk - pr.pk AS BIGINT) AS drawdown_days
    FROM mx, tot t, trough tr, peakrow pr
    """


@register("events_cusum_max_drawdown", oracle=_drawdown_oracle())
def events_cusum_max_drawdown(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Maximum drawdown of the mean-adjusted cumulative daily path:
    S_k = sum_{j<=k}(y_j - mean) and the largest peak-to-trough drop
    max_k (max_{j<=k} S_j - S_k), with the peak/trough days and the
    duration. The drawdown is the SUSTAINED-shortfall member of the
    change family: ``events_cusum_changepoint`` finds the single most
    likely break, ``stats_page_hinkley_orders`` alarms online; the
    max drawdown prices the worst below-average STRETCH (how many
    orders of cumulative deficit, over how many days) — the number an
    SLA/capacity review wants. Ties resolve to the EARLIEST trough and
    its EARLIEST achieving peak (deterministic on both engines).

    Exactness: the path is exact integers at m-scale (S_k = m*cum -
    k*sum, no division); peak/drawdown are exact max/difference; ONE
    half-up micro division converts the final drawdown to order units.

    Scale shape: calendar-bounded — both prefix joins live on the
    ~2.4k-day table (the house <=-rank pattern); singleton argmin rows
    via ordered LIMIT 1 on the bounded table; one row out.
    """
    from pyspark.sql.window import Window

    t = Tables(spark, sf_dir)
    idx = _daily_counts_idx(t)
    tot = idx.agg(dec38(F.count(F.lit(1))).alias("m"), F.sum("y").alias("sy"))
    # cumulative path + running peak as ONE ordered pass over the
    # POST-AGGREGATION ~2.4k-day series (the stats_ljung_box_daily
    # allowlist class — day-domain-bounded, never row-scaled). The
    # first draft chained three day^2 non-equi prefix joins instead
    # and measured 27.5 s at sf0.01; this shape runs in ~1 s. The
    # running-peak struct max over (s, -k, k, day) carries the peak
    # VALUE and its EARLIEST day (ties on s pick the smallest k), and
    # the final struct max over (drawdown, -k, ...) resolves the
    # earliest trough the same way — both deterministic, matching the
    # oracle's ORDER BY k LIMIT 1 picks.
    w = Window.orderBy("k").rowsBetween(Window.unboundedPreceding, 0)
    z = F.col("m") * F.col("y") - F.col("sy")
    path = idx.crossJoin(F.broadcast(tot)).select(
        "day", F.col("k").cast("long").alias("k"), z.alias("z")
    )
    dd = path.select(
        "day",
        "k",
        F.sum("z").over(w).alias("s"),
    ).select(
        "day",
        "k",
        "s",
        F.max(
            F.struct(F.col("s").alias("sb"), (-F.col("k")).alias("negkb"),
                     F.col("k").alias("kb"), F.col("day").alias("dayb"))
        )
        .over(w)
        .alias("pk"),
    )
    best = dd.agg(
        F.max(
            F.struct(
                (F.col("pk.sb") - F.col("s")).alias("ddv"),
                (-F.col("k")).alias("negk"),
                F.col("k").alias("tk"),
                F.col("day").alias("trough_day"),
                F.col("pk.kb").alias("pk_k"),
                F.col("pk.dayb").alias("peak_day"),
            )
        ).alias("b")
    )
    m6 = F.lit(1_000_000).cast("decimal(38,0)")
    return tot.crossJoin(F.broadcast(best)).select(
        F.col("m").cast("long").alias("n_days"),
        halfup_div(m6 * F.col("b.ddv"), F.col("m")).cast("long").alias(
            "max_drawdown_orders_micro"
        ),
        F.col("b.peak_day").cast("timestamp").alias("peak_day"),
        F.col("b.trough_day").cast("timestamp").alias("trough_day"),
        (F.col("b.tk") - F.col("b.pk_k")).cast("long").alias("drawdown_days"),
    )


# ---------------------------------------------------------------------------
# 6. Engle's ARCH LM test on the daily OLS residuals
# ---------------------------------------------------------------------------


def _arch_oracle() -> str:
    from .roundeleven7 import _SQL_BP_RESID_CTES

    return f"""
    WITH {_SQL_BP_RESID_CTES}, z AS (
      SELECT k, (u * u) AS z FROM resid
    ), pairs AS (
      SELECT a.z AS x, b.z AS y
      FROM z a JOIN z b ON b.k = a.k + 1
    ), s AS (
      SELECT CAST(count(*) AS HUGEINT) AS np,
             CAST(sum(x) AS HUGEINT) AS sx, CAST(sum(y) AS HUGEINT) AS sy,
             CAST(sum(x * x) AS HUGEINT) AS sxx,
             CAST(sum(y * y) AS HUGEINT) AS syy,
             CAST(sum(x * y) AS HUGEINT) AS sxy
      FROM pairs
    )
    SELECT CAST(np AS BIGINT) AS n_pairs,
           CASE WHEN (np * sxx - sx * sx) > 0 AND (np * syy - sy * sy) > 0 THEN
             CAST(floor(
               (CAST(np * sxy - sx * sy AS DOUBLE)
                * CAST(np * sxy - sx * sy AS DOUBLE)) * 1000000.0
               / CAST(np * sxx - sx * sx AS DOUBLE)
               / CAST(np * syy - sy * sy AS DOUBLE) + 0.5) AS BIGINT)
           END AS arch_r2_micro,
           CASE WHEN (np * sxx - sx * sx) > 0 AND (np * syy - sy * sy) > 0 THEN
             CAST(np AS BIGINT) * CAST(floor(
               (CAST(np * sxy - sx * sy AS DOUBLE)
                * CAST(np * sxy - sx * sy AS DOUBLE)) * 1000000.0
               / CAST(np * sxx - sx * sx AS DOUBLE)
               / CAST(np * syy - sy * sy AS DOUBLE) + 0.5) AS BIGINT)
           END AS arch_lm_micro
    FROM s
    """


@register("stats_arch_lm_daily", oracle=_arch_oracle())
def stats_arch_lm_daily(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Engle's ARCH(1) LM test (1982) on the daily order-count OLS
    residuals: regress the squared residual on its own lag; LM =
    n * R^2 is chi-square(1) under "no volatility clustering".
    Completes the residual-diagnostic suite on the SHARED
    Breusch–Pagan residual table (``roundeleven7._bp_resid`` /
    ``resid`` in ``_SQL_BP_RESID_CTES`` — one derivation, two
    consumers): Durbin–Watson tests residual LEVEL autocorrelation,
    Breusch–Pagan variance drift WITH TIME; ARCH tests variance
    clustering WITH ITSELF, which decides whether daily-volume
    confidence bands can assume constant variance from one week to
    the next.

    Exactness: squared residuals are exact integers (centi^2 units);
    all six sufficient sums are exact; R^2 = (nSxy - SxSy)^2 /
    ((nSxx - Sx^2)(nSyy - Sy^2)) is evaluated in the shape-matched
    IEEE double sequence (the Dunn/KW precedent — the exact-integer
    numerator square overflows decimal(38,0) at the x10 replica
    scale), micro-quantized once; LM multiplies the SAME quantized
    R^2 by the exact integer n (no second rounding). NULL-guarded
    degenerate variances.

    Scale shape: calendar-bounded — residuals live on the ~2.4k-day
    table, the lag pairing is one rank equi-join, one sufficient-sum
    aggregate out.
    """
    from .roundeleven7 import _bp_resid

    t = Tables(spark, sf_dir)
    z = _bp_resid(t).select("k", (F.col("u") * F.col("u")).alias("z"))
    a = z.select(F.col("k").alias("ka"), F.col("z").alias("x"))
    b = z.select(F.col("k").alias("kb"), F.col("z").alias("y"))
    pairs = a.join(b, F.col("kb") == F.col("ka") + 1)
    s = pairs.agg(
        dec38(F.count(F.lit(1))).alias("np"),
        F.sum("x").alias("sx"),
        F.sum("y").alias("sy"),
        F.sum(F.col("x") * F.col("x")).alias("sxx"),
        F.sum(F.col("y") * F.col("y")).alias("syy"),
        F.sum(F.col("x") * F.col("y")).alias("sxy"),
    )
    vx = F.col("np") * F.col("sxx") - F.col("sx") * F.col("sx")
    vy = F.col("np") * F.col("syy") - F.col("sy") * F.col("sy")
    cxy = F.col("np") * F.col("sxy") - F.col("sx") * F.col("sy")
    r2 = F.floor(
        (cxy.cast("double") * cxy.cast("double"))
        * F.lit(1000000.0)
        / vx.cast("double")
        / vy.cast("double")
        + F.lit(0.5)
    ).cast("long")
    ok = (vx > 0) & (vy > 0)
    return s.select(
        F.col("np").cast("long").alias("n_pairs"),
        F.when(ok, r2).alias("arch_r2_micro"),
        F.when(ok, F.col("np").cast("long") * r2).alias("arch_lm_micro"),
    )
