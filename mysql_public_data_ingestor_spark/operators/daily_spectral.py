"""Spectral, entropy and complexity measures of the orders calendar-day
series.

Fixed-period periodograms (raw, of the STL-lite remainder, and their
spectral entropy and flatness), Haar wavelet energy, the Durbin–Levinson
PACF, permutation and sample entropy, recurrence quantification,
detrended fluctuation analysis and the rescaled-range Hurst exponent.

Every query reads the series through ``operators/daily.py``. Gates:
raw-frame oracle parity, plan bars and Python replicas in the
``tests/test_round*.py`` file named after the module each query was
first registered in.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql.window import Window

from ..functions.detmath import LN2_MICRO
from ..functions.exact import dec38, halfup_div, sql_halfup_div
from ..registry import register
from ..tables import Tables
from .daily import (
    _SQL_DAILY_CENTS_IDX,
    _SQL_DAILY_COUNTS_IDX,
    _SQL_STL_DET_CTES,
    _daily_cents_idx,
    _daily_counts_idx,
    _daily_counts_idx_long,
    _stl_rem,
)

LN_1E6_MICRO = 13_815_511  # det-ln(1e6) micro literal


# ---------------------------------------------------------------------------
# Coarse periodogram at fixed calendar periods
# ---------------------------------------------------------------------------

# cos/sin(2*pi*i/P) quantized at 1e-3 for P in (7, 30, 91) — shared
# integer literals in both engines (the Rayleigh-op convention; the
# coarser 1e-3 grid keeps Sc^2 inside decimal(38) at sf1x10)
PGRAM_PERIODS = (7, 30, 91)

PGRAM_COSQ = {7: [1000, 623, -223, -901, -901, -223, 623], 30: [1000, 978, 914, 809, 669, 500, 309, 105, -105, -309, -500, -669, -809, -914, -978, -1000, -978, -914, -809, -669, -500, -309, -105, 105, 309, 500, 669, 809, 914, 978], 91: [1000, 998, 990, 979, 962, 941, 915, 885, 851, 813, 771, 725, 676, 623, 568, 510, 449, 387, 322, 256, 189, 121, 52, -17, -86, -155, -223, -289, -355, -418, -480, -539, -596, -650, -701, -749, -792, -833, -869, -901, -929, -952, -971, -985, -995, -999, -999, -995, -985, -971, -952, -929, -901, -869, -833, -792, -749, -701, -650, -596, -539, -480, -418, -355, -289, -223, -155, -86, -17, 52, 121, 189, 256, 322, 387, 449, 510, 568, 623, 676, 725, 771, 813, 851, 885, 915, 941, 962, 979, 990, 998]}

PGRAM_SINQ = {7: [0, 782, 975, 434, -434, -975, -782], 30: [0, 208, 407, 588, 743, 866, 951, 995, 995, 951, 866, 743, 588, 407, 208, 0, -208, -407, -588, -743, -866, -951, -995, -995, -951, -866, -743, -588, -407, -208], 91: [0, 69, 138, 206, 273, 338, 403, 465, 525, 582, 637, 689, 737, 782, 823, 860, 893, 922, 947, 967, 982, 993, 999, 1000, 996, 988, 975, 957, 935, 908, 877, 842, 803, 760, 713, 663, 610, 554, 495, 434, 371, 306, 239, 172, 103, 35, -35, -103, -172, -239, -306, -371, -434, -495, -554, -610, -663, -713, -760, -803, -842, -877, -908, -935, -957, -975, -988, -996, -1000, -999, -993, -982, -967, -947, -922, -893, -860, -823, -782, -737, -689, -637, -582, -525, -465, -403, -338, -273, -206, -138, -69]}


def _pgram_oracle() -> str:
    from ..functions.exact import sql_round_big_int_ratio

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
    WITH daily AS (
      SELECT CAST(o_orderdate AS DATE) AS day, CAST(count(*) AS BIGINT) AS y
      FROM orders GROUP BY 1
    ), idx AS (
      SELECT a.day, a.y, CAST(count(*) AS BIGINT) AS k
      FROM daily a JOIN daily b ON b.day <= a.day
      GROUP BY a.day, a.y
    ), tot AS (
      SELECT CAST(count(*) AS BIGINT) AS n, CAST(sum(y) AS BIGINT) AS s
      FROM idx
    ), cent AS (
      SELECT i.k, t.n, (t.n * i.y - t.s) AS z FROM idx i, tot t
    ), zz AS (
      SELECT CAST(sum(z::HUGEINT * z) AS HUGEINT) AS zyy,
             CAST(max(n) AS HUGEINT) AS n
      FROM cent
    ), vecs AS ({unions})
    SELECT v.period, CAST(zz.n AS BIGINT) AS n_days,
           CASE WHEN zz.zyy > 0 THEN
             {sql_round_big_int_ratio(
                 '2::HUGEINT * (v.sc * v.sc + v.ss * v.ss)',
                 'zz.n * zz.zyy * 1000000')}
           END AS variance_share
    FROM vecs v, zz
    """


@register("events_periodogram_fixed_periods", _pgram_oracle())
def events_periodogram_fixed_periods(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Coarse periodogram of the daily order-count series at fixed
    calendar periods (weekly / monthly / quarterly): the share of
    series variance carried by the Fourier pair at each period,
    2*(Sc^2 + Ss^2)/(n * Szz) — the SPECTRAL member of the series
    family (ACF sees correlation at a lag; the periodogram prices a
    named seasonal cycle, and 'is there weekly seasonality and how
    much' is the planner's first question).

    Phases come from the day RANK mod P (house broadcast non-equi
    rank join over the calendar-bounded aggregate), angles from
    1e-3-quantized cos/sin integer literal tables shared verbatim by
    both engines (the Rayleigh convention; 1e-3 keeps Sc^2 <=
    ~1e34 at sf1x10 inside decimal(38)/HUGEINT — quantizing the
    BASIS shifts the share by <1e-3 relative, identically on both
    sides). Centered values z = n*y - S are exact ints; one
    round_big_int_ratio per period.
    """
    from ..functions.exact import round_big_int_ratio

    t = Tables(spark, sf_dir)
    idx = _daily_counts_idx_long(t)
    tot = idx.agg(F.count(F.lit(1)).alias("n"), F.sum("y").alias("s"))
    cent = idx.crossJoin(F.broadcast(tot)).select(
        "k", "n", (F.col("n") * F.col("y") - F.col("s")).alias("z")
    )
    zz = cent.agg(
        F.sum(dec38(F.col("z")) * dec38(F.col("z"))).alias("zyy"),
        dec38(F.max("n")).alias("n"),
    )
    vec_frames = []
    for p in PGRAM_PERIODS:
        cos_arr = F.array(*[F.lit(v).cast("long") for v in PGRAM_COSQ[p]])
        sin_arr = F.array(*[F.lit(v).cast("long") for v in PGRAM_SINQ[p]])
        ph = ((F.col("k") - 1) % p + 1).cast("int")
        vec_frames.append(
            cent.agg(
                F.lit(p).cast("long").alias("period"),
                F.sum(dec38(F.col("z") * F.element_at(cos_arr, ph))).alias("sc"),
                F.sum(dec38(F.col("z") * F.element_at(sin_arr, ph))).alias("ss"),
            )
        )
    vecs = vec_frames[0]
    for fr in vec_frames[1:]:
        vecs = vecs.unionByName(fr)
    num = F.lit(2).cast("decimal(38,0)") * (
        F.col("sc") * F.col("sc") + F.col("ss") * F.col("ss")
    )
    return vecs.crossJoin(F.broadcast(zz)).select(
        "period",
        F.col("n").cast("long").alias("n_days"),
        F.when(
            F.col("zyy") > 0,
            round_big_int_ratio(
                num, F.col("n") * F.col("zyy") * F.lit(10**6).cast("decimal(38,0)")
            ),
        ).alias("variance_share"),
    )


# ---------------------------------------------------------------------------
# Haar wavelet detail energy by dyadic level
# ---------------------------------------------------------------------------

HAAR_MAX_LEVELS = 16  # static explode list; runtime-filtered to floor(log2 n)


def _haar_oracle() -> str:
    from ..functions.exact import sql_round_big_int_ratio

    hd = sql_halfup_div
    levels = ", ".join(str(j) for j in range(1, HAAR_MAX_LEVELS + 1))
    return f"""
    WITH {_SQL_DAILY_CENTS_IDX}
    , nn AS (
      SELECT CAST(count(*) AS BIGINT) AS n,
             CAST(length(bin(CAST(count(*) AS BIGINT))) - 1 AS BIGINT) AS lmax
      FROM idx
    ), lv AS (
      SELECT j FROM (SELECT unnest([{levels}]) AS j), nn WHERE j <= nn.lmax
    ), cells AS (
      SELECT l.j, (i.k - 1) // (1::HUGEINT << l.j) AS blk,
             CASE WHEN ((i.k - 1) // (1::HUGEINT << (l.j - 1))) % 2 = 0
                  THEN i.y ELSE -i.y END AS sy
      FROM idx i, lv l, nn
      WHERE i.k <= (1::HUGEINT << nn.lmax)
    ), details AS (
      SELECT j, blk, CAST(sum(sy) AS HUGEINT) AS d
      FROM cells GROUP BY j, blk
    ), energy AS (
      SELECT j, CAST(count(*) AS BIGINT) AS n_blocks,
             CAST(sum({hd('1000000::HUGEINT * d * d', '(1::HUGEINT << j)')})
                  AS HUGEINT) AS e
      FROM details GROUP BY j
    ), tot AS (SELECT CAST(sum(e) AS HUGEINT) AS te FROM energy)
    SELECT CAST(j AS BIGINT) AS level, n_blocks,
           CASE WHEN te > 0 THEN {sql_round_big_int_ratio('e', 'te')} END
             AS energy_share
    FROM energy, tot ORDER BY level
    """


@register("events_haar_wavelet_energy", oracle=_haar_oracle())
def events_haar_wavelet_energy(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Haar wavelet detail energy of daily order revenue by dyadic
    level — the multi-resolution variance decomposition: level-j energy
    sum_blocks (S_left - S_right)^2 / 2^j localizes variability at the
    2^j-day scale (j=1 day-to-day noise, j=7..8 quarter-scale trend
    shifts), complementing the single-scale members of the daily suite
    (ACF lags, variance-ratio, Hurst R/S) with the full scale spectrum.
    Series truncated to the leading 2^floor(log2 n) days; the exponent
    comes from the binary-string-length idiom (length(bin(n)) - 1),
    never float log2 — the ddsketch convention (roundten2.py:120).

    Integer-exact: block detail d is a signed sum of exact revenue
    cents; per-block energy half-up-quantizes 1e6*d^2 / 2^j identically
    in both engines, sums per level in decimal(38,0)/HUGEINT, and
    reports each level's SHARE of total detail energy (scale-free —
    absolute cents-squared energy overflows int64 at the
    value-magnitude fuzz scale, and the spectrum shape is the signal). Everything after the fact scan runs on
    the ~2.4k-row calendar-day table: the (level x block) cell table is
    <= n * log2(n) rows BY MECHANISM (calendar-bounded), built by one
    explode over the static level list — no per-level rescan.
    """
    t = Tables(spark, sf_dir)
    idx = _daily_cents_idx(t)
    nn = idx.agg(
        F.count(F.lit(1)).cast("long").alias("n"),
        (F.length(F.bin(F.count(F.lit(1)))) - 1).cast("long").alias("lmax"),
    )
    cells = (
        idx.crossJoin(F.broadcast(nn))
        .filter(
            F.col("k")
            <= F.expr("shiftleft(CAST(1 AS BIGINT), CAST(lmax AS INT))").cast(
                "decimal(38,0)"
            )
        )
        .select(
            (F.col("k") - 1).cast("long").alias("k0"),
            "y",
            "lmax",
            F.explode(
                F.array(*[F.lit(j) for j in range(1, HAAR_MAX_LEVELS + 1)])
            ).alias("j"),
        )
        .filter(F.col("j") <= F.col("lmax"))
        .select(
            "j",
            F.expr(
                "k0 div shiftleft(CAST(1 AS BIGINT), CAST(j AS INT))"
            ).alias("blk"),
            F.when(
                F.expr(
                    "(k0 div shiftleft(CAST(1 AS BIGINT), CAST(j AS INT) - 1)) % 2"
                )
                == 0,
                F.col("y"),
            )
            .otherwise(-F.col("y"))
            .alias("sy"),
        )
    )
    details = cells.groupBy("j", "blk").agg(F.sum("sy").alias("d"))
    m = F.lit(1_000_000).cast("decimal(38,0)")
    pw = F.expr("shiftleft(CAST(1 AS BIGINT), CAST(j AS INT))").cast("decimal(38,0)")
    energy = details.groupBy("j").agg(
        F.count(F.lit(1)).cast("long").alias("n_blocks"),
        F.sum(halfup_div(m * F.col("d") * F.col("d"), pw)).alias("e"),
    )
    from ..functions.exact import round_big_int_ratio

    tot = energy.agg(F.sum("e").alias("te"))
    return (
        energy.crossJoin(F.broadcast(tot))
        .select(
            F.col("j").cast("long").alias("level"),
            "n_blocks",
            F.when(
                F.col("te") > 0, round_big_int_ratio(F.col("e"), F.col("te"))
            ).alias("energy_share"),
        )
        .orderBy("level")
    )


# ---------------------------------------------------------------------------
# Partial autocorrelation (Durbin-Levinson, lags 1-3)
# ---------------------------------------------------------------------------

PACF_M = 1_000_000


def _pacf_oracle() -> str:
    hd = sql_halfup_div
    m = PACF_M
    return f"""
    WITH {_SQL_DAILY_COUNTS_IDX}
    , tot AS (
      SELECT CAST(count(*) AS HUGEINT) AS n, CAST(sum(y) AS HUGEINT) AS s
      FROM idx
    ), cent AS (
      SELECT i.k, (t.n * i.y - t.s) AS x FROM idx i, tot t
    ), cc AS (
      SELECT
        (SELECT CAST(sum(a.x * a.x) AS HUGEINT) FROM cent a) AS c0,
        (SELECT CAST(sum(a.x * b.x) AS HUGEINT)
         FROM cent a JOIN cent b ON b.k = a.k + 1) AS c1,
        (SELECT CAST(sum(a.x * b.x) AS HUGEINT)
         FROM cent a JOIN cent b ON b.k = a.k + 2) AS c2,
        (SELECT CAST(sum(a.x * b.x) AS HUGEINT)
         FROM cent a JOIN cent b ON b.k = a.k + 3) AS c3,
        (SELECT CAST(max(n) AS BIGINT) FROM tot) AS n
    ), rho AS (
      SELECT n,
             {hd(f'{m}::HUGEINT * c1', 'c0')} AS r1,
             {hd(f'{m}::HUGEINT * c2', 'c0')} AS r2,
             {hd(f'{m}::HUGEINT * c3', 'c0')} AS r3
      FROM cc WHERE c0 > 0
    ), p2 AS (
      SELECT *, CASE WHEN {m}::HUGEINT*{m} - r1*r1 > 0 THEN
        {hd(f'{m}::HUGEINT * ({m}::HUGEINT * r2 - r1 * r1)',
            f'({m}::HUGEINT*{m} - r1*r1)')} END AS f22
      FROM rho
    ), p21 AS (
      SELECT *, {hd(f'(r1 * ({m}::HUGEINT - f22))', f'{m}::HUGEINT')} AS f21
      FROM p2 WHERE f22 IS NOT NULL
    ), p3 AS (
      SELECT *,
        (r3 * {m}::HUGEINT * {m} - f21 * r2 * {m} - f22 * r1 * {m}) AS num3,
        ({m}::HUGEINT*{m}*{m} - f21 * r1 * {m} - f22 * r2 * {m}) AS den3
      FROM p21
    )
    SELECT n AS n_days,
           CAST(r1 AS DOUBLE) / {m} AS rho1,
           CAST(r2 AS DOUBLE) / {m} AS rho2,
           CAST(r3 AS DOUBLE) / {m} AS rho3,
           CAST(r1 AS DOUBLE) / {m} AS pacf1,
           CAST(f22 AS DOUBLE) / {m} AS pacf2,
           CASE WHEN den3 > 0 THEN
             CAST({hd(f'{m}::HUGEINT * num3', 'den3')} AS DOUBLE) / {m}
           END AS pacf3
    FROM p3
    """


@register("events_pacf_durbin_levinson", oracle=_pacf_oracle())
def events_pacf_durbin_levinson(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Partial autocorrelation of daily order counts at lags 1-3 via
    the Durbin-Levinson recursion — the AR-order diagnostic the daily
    suite lacked: the ACF (``events_acf_daily_lags``) says WHETHER the
    series remembers, the PACF says at which lag the direct effect
    stops (an AR(p) cuts off after lag p), which is the model-selection
    question.

    Exactness path: center as X_t = n*y_t - S (integers, no float
    mean), fold c_k = sum X_t X_{{t+k}} in decimal(38,0)/HUGEINT via
    rank equi-joins on the calendar-day table, quantize rho_k ONCE at
    1e-6 (shared half-up idiom), then run the DL recursion entirely in
    micro-integers: phi22 = (rho2 - rho1^2)/(1 - rho1^2), phi21 =
    rho1(1 - phi22), phi33 = (rho3 - phi21 rho2 - phi22 rho1)/(1 -
    phi21 rho1 - phi22 rho2) — every division half-up at 1e-6,
    identically in both engines; the replica also pins the recursion
    against a numpy Toeplitz solve (the §5i.11 shared-derivation rule).

    Scale shape: one fact scan to the ~2.4k-row day table; lag pairing
    is a broadcast rank equi-join; everything after is 1-row algebra.
    """
    t = Tables(spark, sf_dir)
    idx = _daily_counts_idx(t)
    tot = idx.agg(
        dec38(F.count(F.lit(1))).alias("n"), F.sum("y").alias("s")
    )
    cent = idx.crossJoin(F.broadcast(tot)).select(
        "k", (F.col("n") * F.col("y") - F.col("s")).alias("x"), "n"
    )
    c0 = cent.agg(F.sum(F.col("x") * F.col("x")).alias("c0"), F.max("n").alias("n"))
    lagged = cent.select(F.col("k").alias("kb"), F.col("x").alias("xb"))
    pairs = cent.join(
        F.broadcast(lagged),
        (F.col("kb") > F.col("k")) & (F.col("kb") <= F.col("k") + 3),
    ).select((F.col("kb") - F.col("k")).cast("int").alias("lag"), (F.col("x") * F.col("xb")).alias("xx"))
    cks = (
        pairs.groupBy("lag")
        .agg(F.sum("xx").alias("ck"))
        .groupBy()
        .pivot("lag", [1, 2, 3])
        .agg(F.first("ck"))
        .select(
            F.col("1").alias("c1"), F.col("2").alias("c2"), F.col("3").alias("c3")
        )
    )
    m = F.lit(PACF_M).cast("decimal(38,0)")
    cc = c0.crossJoin(F.broadcast(cks)).filter(F.col("c0") > 0)
    rho = cc.select(
        F.col("n").cast("long").alias("n_days"),
        halfup_div(m * F.col("c1"), F.col("c0")).alias("r1"),
        halfup_div(m * F.col("c2"), F.col("c0")).alias("r2"),
        halfup_div(m * F.col("c3"), F.col("c0")).alias("r3"),
    )
    p2 = rho.select(
        "*",
        F.when(
            m * m - F.col("r1") * F.col("r1") > 0,
            halfup_div(
                m * (m * F.col("r2") - F.col("r1") * F.col("r1")),
                m * m - F.col("r1") * F.col("r1"),
            ),
        ).alias("f22"),
    ).filter(F.col("f22").isNotNull())
    p21 = p2.select(
        "*", halfup_div(F.col("r1") * (m - F.col("f22")), m).alias("f21")
    )
    p3 = p21.select(
        "*",
        (
            F.col("r3") * m * m
            - F.col("f21") * F.col("r2") * m
            - F.col("f22") * F.col("r1") * m
        ).alias("num3"),
        (
            m * m * m
            - F.col("f21") * F.col("r1") * m
            - F.col("f22") * F.col("r2") * m
        ).alias("den3"),
    )
    md = F.lit(float(PACF_M))
    return p3.select(
        "n_days",
        (F.col("r1").cast("double") / md).alias("rho1"),
        (F.col("r2").cast("double") / md).alias("rho2"),
        (F.col("r3").cast("double") / md).alias("rho3"),
        (F.col("r1").cast("double") / md).alias("pacf1"),
        (F.col("f22").cast("double") / md).alias("pacf2"),
        F.when(
            F.col("den3") > 0,
            halfup_div(m * F.col("num3"), F.col("den3")).cast("double") / md,
        ).alias("pacf3"),
    )


# ---------------------------------------------------------------------------
# Wiener (log-)spectral flatness of the STL remainder
# ---------------------------------------------------------------------------


def _flatness_oracle() -> str:
    from ..functions.detmath import sql_det_ln_steps

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
    k = len(PGRAM_PERIODS)
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
    ), vecs AS ({unions}),
    pw AS (
      SELECT period, (sc * sc + ss * ss) AS p,
             CAST((sc * sc + ss * ss) AS DOUBLE) AS p_dbl
      FROM vecs
    ), {sql_det_ln_steps('pw', 'p_dbl', 'lnp')},
    gm AS (
      SELECT CAST(count(*) AS HUGEINT) AS kk,
             CAST(sum(lnp) AS HUGEINT) AS slnp,
             {sql_halfup_div('CAST(sum(p) AS HUGEINT)', str(k))} AS pbar,
             CAST({sql_halfup_div('CAST(sum(p) AS HUGEINT)', str(k))}
                  AS DOUBLE) AS pbar_dbl,
             first(period ORDER BY p DESC, period ASC) AS dominant_period
      FROM lnp_rel
    ), {sql_det_ln_steps('gm', 'pbar_dbl', 'lnbar')},
    r AS (
      SELECT (SELECT m FROM rtot) AS m, kk, slnp, lnbar, dominant_period
      FROM lnbar_rel
    )
    SELECT CAST(m AS BIGINT) AS n_resid_days,
           CAST(kk AS BIGINT) AS n_periods,
           CAST({sql_halfup_div('slnp', 'kk')} - lnbar AS BIGINT)
             AS ln_flatness_micro,
           CAST(dominant_period AS BIGINT) AS dominant_period
    FROM r
    """


@register("events_spectral_flatness_residual", _flatness_oracle())
def events_spectral_flatness_residual(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Wiener spectral flatness (in the log domain) of the STL-lite
    remainder over the fixed calendar periods: ln SFM = mean_p ln P_p
    - ln mean_p P_p <= 0, where P_p = sc^2 + ss^2 is the unnormalized
    periodogram power at period p — 0 means the residual spectrum is
    white across the tested periods (the decomposition is done),
    strongly negative means power still concentrates at one period
    (the mis-specification alarm in one scalar, where
    ``events_stl_residual_periodogram`` reports the per-period
    shares). The dominant period rides along.

    Shared derivations: the remainder is ``daily._stl_rem`` /
    ``rem0``; the quantized trig tables are ``PGRAM_*``
    verbatim (the periodogram op's own heads — one derivation each,
    now three consumers).

    Exactness: powers are exact integers (sums of z x trig-literal
    products, squared); the geometric/arithmetic means use det-ln
    micro-nats with ONE half-up division each, so ln SFM is integer
    arithmetic; dominant-period argmax is deterministic (power desc,
    period asc).

    Scale shape: the STL chain is calendar-bounded; the flatness
    algebra runs on |periods| = 3 rows. 1 row out.
    """
    from ..functions.detmath import det_ln_q

    t = Tables(spark, sf_dir)
    rem = _stl_rem(t).select("k", "r")
    rtot = rem.agg(dec38(F.count(F.lit(1))).alias("m"), F.sum("r").alias("sr"))
    rbar = rtot.select("m", halfup_div(F.col("sr"), F.col("m")).alias("rb"))
    cent = rem.crossJoin(F.broadcast(rbar)).select(
        F.col("k").cast("long").alias("k"), (F.col("r") - F.col("rb")).alias("z"),
        "m",
    )
    perexp = cent.select(
        "k",
        "z",
        "m",
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
    vecs = (
        perexp.select(
            "period",
            "m",
            (F.col("z") * cos_pick.cast("decimal(38,0)")).alias("zc"),
            (F.col("z") * sin_pick.cast("decimal(38,0)")).alias("zs"),
        )
        .groupBy("period")
        .agg(F.sum("zc").alias("sc"), F.sum("zs").alias("ss"),
             F.first("m").alias("m"))
    )
    pw = vecs.select(
        "period",
        "m",
        (F.col("sc") * F.col("sc") + F.col("ss") * F.col("ss")).alias("p"),
        det_ln_q(
            (F.col("sc") * F.col("sc") + F.col("ss") * F.col("ss")).cast("double")
        ).alias("lnp"),
    )
    kk = len(PGRAM_PERIODS)
    gm = pw.agg(
        F.count(F.lit(1)).cast("long").alias("kk"),
        F.sum("lnp").alias("slnp"),
        halfup_div(F.sum("p"), F.lit(kk).cast("decimal(38,0)")).alias("pbar"),
        F.min_by(
            "period", F.struct((-F.col("p")).alias("a"), F.col("period").alias("b"))
        ).alias("dominant_period"),
        F.first("m").alias("m"),
    )
    lnbar = det_ln_q(F.col("pbar").cast("double"))
    return gm.select(
        F.col("m").cast("long").alias("n_resid_days"),
        F.col("kk").alias("n_periods"),
        (
            halfup_div(dec38(F.col("slnp")), dec38(F.col("kk"))).cast("long") - lnbar
        ).alias("ln_flatness_micro"),
        F.col("dominant_period").cast("long").alias("dominant_period"),
    )


# ---------------------------------------------------------------------------
# Spectral entropy over the fixed-period periodogram shares
# ---------------------------------------------------------------------------


def _spectral_oracle() -> str:
    from ..functions.detmath import sql_det_ln_steps

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
    hd = sql_halfup_div
    return f"""
    WITH daily AS (
      SELECT CAST(o_orderdate AS DATE) AS day, CAST(count(*) AS BIGINT) AS y
      FROM orders GROUP BY 1
    ), idx AS (
      SELECT a.day, a.y, CAST(count(*) AS BIGINT) AS k
      FROM daily a JOIN daily b ON b.day <= a.day
      GROUP BY a.day, a.y
    ), tot AS (
      SELECT CAST(count(*) AS BIGINT) AS n, CAST(sum(y) AS BIGINT) AS s
      FROM idx
    ), cent AS (
      SELECT i.k, (t.n * i.y - t.s) AS z FROM idx i, tot t
    ), vecs AS ({unions}),
    pw AS (
      SELECT period, (sc * sc + ss * ss) AS p FROM vecs
    ), tp AS (SELECT CAST(sum(p) AS HUGEINT) AS tpw FROM pw),
    shares AS (
      SELECT period, CAST({hd('1000000::HUGEINT * p', 'tp.tpw')} AS BIGINT) AS share_micro
      FROM pw, tp WHERE tp.tpw > 0
    ), sh2 AS (SELECT period, share_micro FROM shares WHERE share_micro > 0),
    {sql_det_ln_steps('sh2', 'share_micro', 'lns')},
    ent AS (
      -- H = -sum p ln p = sum p (ln 1e6 - ln(share_micro)) with p = share/1e6
      SELECT CAST(sum(share_micro * (13815511 - lns)) AS HUGEINT) AS hraw
      FROM lns_rel
    )
    SELECT s.period, s.share_micro,
           -- hraw is share_micro * ln_micro = 1e12 * (p ln p); micro
           -- output divides by 1e6 ONLY (the dow-hour cancel trap)
           CAST({hd('e.hraw', '1000000::HUGEINT')} AS BIGINT)
             AS spectral_entropy_micro
    FROM shares s, ent e ORDER BY s.period
    """


@register("events_spectral_entropy_periods", _spectral_oracle())
def events_spectral_entropy_periods(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Spectral ENTROPY of the fixed-period periodogram: normalize the
    (7, 30, 91)-day spectral powers of the daily order-count series to
    shares, then H = -sum p ln p — the scalar "is the calendar signal
    concentrated in one period or smeared" companion of
    ``events_periodogram_fixed_periods`` (which reports the shares;
    low entropy = one dominant cycle worth a seasonal model, high =
    no single period explains the variance). Reuses the periodogram's
    quantized trig tables verbatim (the shared-derivation rule).

    Exactness: powers sc^2+ss^2 are exact integers; shares half-up
    micro-quantize against the total; ln terms are the shared
    deterministic fixed-point ln of the micro shares (ln p = ln
    share_micro - ln 1e6, with ln 1e6 the fixed 13815511 micro
    literal), so H accumulates as exact integer products.
    """
    from ..functions.detmath import det_ln_q

    t = Tables(spark, sf_dir)
    idx = _daily_counts_idx_long(t)
    tot = idx.agg(
        dec38(F.count(F.lit(1))).alias("n"), dec38(F.sum("y")).alias("s")
    )
    cent = idx.crossJoin(F.broadcast(tot)).select(
        "k", (F.col("n") * F.col("y") - F.col("s")).alias("z")
    )
    vecs = None
    for p in PGRAM_PERIODS:
        cosv = F.array(*[F.lit(v) for v in PGRAM_COSQ[p]])
        sinv = F.array(*[F.lit(v) for v in PGRAM_SINQ[p]])
        part = cent.select(
            F.lit(p).cast("long").alias("period"),
            (F.col("z") * F.element_at(cosv, ((F.col("k") - 1) % p + 1).cast("int")).cast("decimal(38,0)")).alias("zc"),
            (F.col("z") * F.element_at(sinv, ((F.col("k") - 1) % p + 1).cast("int")).cast("decimal(38,0)")).alias("zs"),
        ).groupBy("period").agg(F.sum("zc").alias("sc"), F.sum("zs").alias("ss"))
        vecs = part if vecs is None else vecs.unionAll(part)
    pw = vecs.select(
        "period", (F.col("sc") * F.col("sc") + F.col("ss") * F.col("ss")).alias("p")
    )
    tp = pw.agg(F.sum("p").alias("tpw"))
    m6 = F.lit(1_000_000).cast("decimal(38,0)")
    shares = (
        pw.crossJoin(F.broadcast(tp))
        .filter(F.col("tpw") > 0)
        .select(
            "period",
            halfup_div(m6 * F.col("p"), F.col("tpw")).cast("long").alias("share_micro"),
        )
    )
    ent = shares.filter(F.col("share_micro") > 0).select(
        (
            dec38(F.col("share_micro"))
            * (F.lit(LN_1E6_MICRO).cast("decimal(38,0)") - det_ln_q(F.col("share_micro")))
        ).alias("hterm")
    ).agg(F.sum("hterm").alias("hraw"))
    return (
        shares.crossJoin(F.broadcast(ent))
        .select(
            "period",
            "share_micro",
            halfup_div(F.col("hraw"), F.lit(10**6).cast("decimal(38,0)"))
            .cast("long")
            .alias("spectral_entropy_micro"),
        )
        .orderBy("period")
    )


# ---------------------------------------------------------------------------
# Periodogram of the STL-lite remainder at fixed calendar periods
# ---------------------------------------------------------------------------


def _stl_pgram_oracle() -> str:
    from ..functions.exact import sql_round_big_int_ratio

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
    ``daily._stl_rem`` / ``rem0`` in ``_SQL_STL_DET_CTES`` (the
    STL op's own table), the quantized trig tables are
    ``PGRAM_*`` verbatim (the Rayleigh convention) — one
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
# Order-3 permutation entropy of the daily series
# ---------------------------------------------------------------------------

LN_6_MICRO = 1_791_759  # det-ln(6) micro literal, shared by both engines


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
# Sample entropy of the daily order series
# ---------------------------------------------------------------------------

SAMPEN_M = 2


def _sampen_oracle() -> str:
    from ..functions.detmath import sql_det_ln_steps

    return f"""
    WITH {_SQL_DAILY_COUNTS_IDX.strip()}
    , nn AS (SELECT CAST(count(*) AS HUGEINT) AS n FROM idx),
    vals AS (
      SELECT y AS v, CAST(count(*) AS HUGEINT) AS c FROM idx GROUP BY y
    ), vc AS (
      SELECT a.v, CAST(sum(b.c) AS HUGEINT) AS cum
      FROM vals a JOIN vals b ON b.v <= a.v GROUP BY a.v
    ), iqr AS (
      SELECT greatest(1,
        {sql_halfup_div(
            '''2 * ((SELECT min(v) FROM vc, nn WHERE cum >= (3 * n + 3) // 4)
                 - (SELECT min(v) FROM vc, nn WHERE cum >= (n + 3) // 4))''',
            '10')}) AS r
    ), tri AS (
      SELECT a.k, a.y AS y0, b.y AS y1, c.y AS y2
      FROM idx a JOIN idx b ON b.k = a.k + 1 JOIN idx c ON c.k = a.k + 2
    ), pairs AS (
      SELECT CAST(sum(CASE WHEN abs(a.y0 - b.y0) <= i.r
                            AND abs(a.y1 - b.y1) <= i.r THEN 1 ELSE 0 END)
                  AS HUGEINT) AS b_cnt,
             CAST(sum(CASE WHEN abs(a.y0 - b.y0) <= i.r
                            AND abs(a.y1 - b.y1) <= i.r
                            AND abs(a.y2 - b.y2) <= i.r THEN 1 ELSE 0 END)
                  AS HUGEINT) AS a_cnt
      FROM tri a JOIN tri b ON b.k > a.k, iqr i
    ), lnin AS (
      SELECT n.n, i.r, p.b_cnt, p.a_cnt,
             CAST(p.b_cnt AS DOUBLE) AS b_dbl,
             CAST(p.a_cnt AS DOUBLE) AS a_dbl
      FROM pairs p, iqr i, nn n
    ), {sql_det_ln_steps('lnin', 'b_dbl', 'lnb')},
    {sql_det_ln_steps('lnb_rel', 'a_dbl', 'lna')}
    SELECT CAST(n AS BIGINT) AS n_days, CAST({SAMPEN_M} AS BIGINT) AS m,
           CAST(r AS BIGINT) AS r_tol,
           CAST(b_cnt AS BIGINT) AS b_pairs, CAST(a_cnt AS BIGINT) AS a_pairs,
           CASE WHEN a_cnt > 0 AND b_cnt > 0 THEN lnb - lna END
             AS sampen_micro
    FROM lna_rel
    """


@register("events_sample_entropy_daily", oracle=_sampen_oracle())
def events_sample_entropy_daily(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Sample entropy SampEn(m=2, r) of the daily order series
    (Richman & Moorman 2000): -ln(A/B), where B counts template pairs
    matching for 2 consecutive days within tolerance r and A those
    still matching at day 3 — the regularity statistic that, unlike
    approximate entropy, excludes self-matches and is (largely)
    length-consistent. Low SampEn = the series repeats its own
    patterns (strong weekly template); high = pattern-free. Tolerance
    r is the conventional 0.2 x dispersion, taken as 0.2 x the EXACT
    discrete IQR (integer, floor 1) so the whole statistic is a pure
    function of the data.

    Exactness: templates and tolerance are integers; A and B are exact
    integer pair counts over the calendar-bounded template self-join;
    SampEn = ln B - ln A via the deterministic fixed-point ln
    (micro-nats), NULL-guarded when either count is zero.

    Scale shape: one fact scan partial-aggregates to the calendar-day
    domain; the template table is two calendar lag joins; the pair
    count is the day^2 rank join (the KPSS/DFA bounded class). 1 row
    out.
    """
    from ..functions.detmath import det_ln_q

    t = Tables(spark, sf_dir)
    # _daily_counts_idx is a session-materialized warehouse table;
    # branches re-scan the tiny parquet. An eager localCheckpoint on top
    # re-copied it into block storage on every timed run (3.29→3.71 s
    # in the r14 benchmark).
    idx = _daily_counts_idx(t)
    nn = idx.agg(dec38(F.count(F.lit(1))).alias("n"))
    vals = idx.groupBy(F.col("y").alias("v")).agg(dec38(F.count(F.lit(1))).alias("c"))
    vb = vals.select(F.col("v").alias("v_b"), F.col("c").alias("c_b"))
    vc = (
        vals.join(F.broadcast(vb), F.col("v_b") <= F.col("v"))
        .groupBy("v")
        .agg(F.sum("c_b").alias("cum"))
        .crossJoin(F.broadcast(nn))
    )
    q1 = vc.filter(
        F.col("cum") >= (F.col("n") + 3 - (F.col("n") + 3) % 4) / 4
    ).agg(F.min("v").alias("q1"))
    q3 = vc.filter(
        F.col("cum") >= (3 * F.col("n") + 3 - (3 * F.col("n") + 3) % 4) / 4
    ).agg(F.min("v").alias("q3"))
    iqr = (
        q1.crossJoin(F.broadcast(q3))
        .select(
            F.greatest(
                F.lit(1).cast("decimal(38,0)"),
                halfup_div(
                    F.lit(2).cast("decimal(38,0)") * (F.col("q3") - F.col("q1")),
                    F.lit(10).cast("decimal(38,0)"),
                ),
            ).alias("r")
        )
    )
    b1 = idx.select((F.col("k") - 1).alias("k"), F.col("y").alias("y1"))
    b2 = idx.select((F.col("k") - 2).alias("k"), F.col("y").alias("y2"))
    tri = (
        idx.join(b1, "k").join(b2, "k").select("k", F.col("y").alias("y0"), "y1", "y2")
    )
    tb = tri.select(
        F.col("k").alias("k_b"),
        F.col("y0").alias("y0_b"),
        F.col("y1").alias("y1_b"),
        F.col("y2").alias("y2_b"),
    )
    m2 = (F.abs(F.col("y0") - F.col("y0_b")) <= F.col("r")) & (
        F.abs(F.col("y1") - F.col("y1_b")) <= F.col("r")
    )
    m3 = m2 & (F.abs(F.col("y2") - F.col("y2_b")) <= F.col("r"))
    pairs = (
        tri.join(F.broadcast(tb), F.col("k_b") > F.col("k"))
        .crossJoin(F.broadcast(iqr))
        .agg(
            F.sum(F.when(m2, 1).otherwise(0)).cast("long").alias("b_cnt"),
            F.sum(F.when(m3, 1).otherwise(0)).cast("long").alias("a_cnt"),
            F.first("r").alias("r"),
        )
    )
    out = pairs.crossJoin(F.broadcast(nn))
    lnb = det_ln_q(F.col("b_cnt").cast("double"))
    lna = det_ln_q(F.col("a_cnt").cast("double"))
    return out.select(
        F.col("n").cast("long").alias("n_days"),
        F.lit(SAMPEN_M).cast("long").alias("m"),
        F.col("r").cast("long").alias("r_tol"),
        F.col("b_cnt").alias("b_pairs"),
        F.col("a_cnt").alias("a_pairs"),
        F.when((F.col("a_cnt") > 0) & (F.col("b_cnt") > 0), lnb - lna).alias(
            "sampen_micro"
        ),
    )


# ---------------------------------------------------------------------------
# Recurrence rate + determinism proxy of the daily counts at MAD radius
# ---------------------------------------------------------------------------


def _rqa_oracle() -> str:
    hd = sql_halfup_div
    return f"""
    WITH {_SQL_DAILY_COUNTS_IDX.strip()}
    , nn AS (
      SELECT CAST(count(*) AS BIGINT) AS n FROM idx
    ), vals AS (
      SELECT y, CAST(count(*) AS BIGINT) AS cnt FROM idx GROUP BY y
    ), cumv AS (
      SELECT a.y, CAST(coalesce(sum(b.cnt), 0) + a.cnt AS BIGINT) AS cle
      FROM vals a LEFT JOIN vals b ON b.y < a.y
      GROUP BY a.y, a.cnt
    ), med AS (
      SELECT min(y) AS m FROM cumv, nn WHERE 2 * cle >= n
    ), dev AS (
      SELECT abs(i.y - med.m) AS ad FROM idx i, med
    ), dvals AS (
      SELECT ad, CAST(count(*) AS BIGINT) AS cnt FROM dev GROUP BY ad
    ), dcum AS (
      SELECT a.ad, CAST(coalesce(sum(b.cnt), 0) + a.cnt AS BIGINT) AS cle
      FROM dvals a LEFT JOIN dvals b ON b.ad < a.ad
      GROUP BY a.ad, a.cnt
    ), mad AS (
      SELECT min(ad) AS eps FROM dcum, nn WHERE 2 * cle >= n
    ), rec AS (
      SELECT a.k AS i, b.k AS j
      FROM idx a JOIN idx b ON b.k > a.k, mad
      WHERE abs(a.y - b.y) <= mad.eps
    ), det_ AS (
      SELECT CAST(count(*) AS BIGINT) AS n_chain
      FROM rec r1 JOIN rec r2 ON r2.i = r1.i + 1 AND r2.j = r1.j + 1
    ), agg AS (
      SELECT (SELECT CAST(count(*) AS BIGINT) FROM rec) AS n_rec,
             (SELECT n_chain FROM det_) AS n_chain,
             (SELECT n FROM nn) AS n,
             (SELECT eps FROM mad) AS eps
    )
    SELECT n AS n_days, CAST(eps AS BIGINT) AS eps_mad,
           n_rec AS n_recurrent_pairs,
           CAST({hd('2000000::HUGEINT * n_rec', 'n * (n - 1)')} AS BIGINT)
             AS recurrence_rate_micro,
           CASE WHEN n_rec > 0 THEN
             CAST({hd('1000000::HUGEINT * n_chain', 'n_rec')} AS BIGINT)
           END AS determinism_proxy_micro
    FROM agg
    """


@register("events_recurrence_rate_daily", oracle=_rqa_oracle())
def events_recurrence_rate_daily(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Recurrence-quantification read of the daily order-count series
    (Webber & Zbilut 1994): the recurrence rate — the share of day
    pairs whose counts fall within the MAD radius of each other —
    and the determinism proxy — the share of recurrent pairs whose
    NEXT-day pair also recurs (diagonal-line structure). White noise
    gives DET ~ RR; a deterministic seasonal skeleton gives DET >> RR
    — structure the ACF shelf only sees linearly.
    The radius is the series' own median absolute deviation, so the
    statistic is scale-free and survives fixture renormalization.

    Exactness: the median and MAD come off the bounded distinct-value
    grids as exact order statistics (2*cle >= n, integer comparisons
    only); recurrent pairs are an exact integer-condition calendar
    self-join; the chain count is an exact +1/+1 equi-join of the
    pair set with itself; two half-up micro divisions total.

    Scale shape: calendar-bounded — daily counts partial-aggregate
    off the fact scan; two value-grid cumulatives (single-partition
    allowlist class, entry landed in this same commit); the pair join
    is bounded by the calendar squared (~2.9M pairs at 2.4k days),
    never fact-sized. 1 row out.
    """
    t = Tables(spark, sf_dir)
    idx = _daily_counts_idx(t).select(
        F.col("k").cast("long").alias("k"), F.col("y").cast("long").alias("y")
    )
    nn = idx.agg(F.count(F.lit(1)).cast("long").alias("n"))
    vals = idx.groupBy("y").agg(F.count(F.lit(1)).cast("long").alias("cnt"))
    wv = Window.orderBy("y").rowsBetween(Window.unboundedPreceding, 0)
    cumv = vals.select("y", F.sum("cnt").over(wv).alias("cle"))
    med = cumv.crossJoin(F.broadcast(nn)).agg(
        F.min(F.when(2 * F.col("cle") >= F.col("n"), F.col("y"))).alias("m")
    )
    dev = idx.crossJoin(F.broadcast(med)).select(
        "k", "y", F.abs(F.col("y") - F.col("m")).alias("ad")
    )
    dvals = dev.groupBy("ad").agg(F.count(F.lit(1)).cast("long").alias("cnt"))
    wd = Window.orderBy("ad").rowsBetween(Window.unboundedPreceding, 0)
    dcum = dvals.select("ad", F.sum("cnt").over(wd).alias("cle"))
    mad = dcum.crossJoin(F.broadcast(nn)).agg(
        F.min(F.when(2 * F.col("cle") >= F.col("n"), F.col("ad"))).alias("eps")
    )
    b = idx.select(F.col("k").alias("kb"), F.col("y").alias("yb"))
    rec = (
        idx.crossJoin(F.broadcast(mad))
        .join(b, F.col("kb") > F.col("k"))
        .where(F.abs(F.col("y") - F.col("yb")) <= F.col("eps"))
        .select(F.col("k").alias("i"), F.col("kb").alias("j"))
        .localCheckpoint(eager=False)
    )
    r2 = rec.select((F.col("i") - 1).alias("i"), (F.col("j") - 1).alias("j"))
    chain = rec.join(r2, ["i", "j"]).agg(
        F.count(F.lit(1)).cast("long").alias("n_chain")
    )
    nrec = rec.agg(F.count(F.lit(1)).cast("long").alias("n_rec"))
    m6 = F.lit(1_000_000).cast("decimal(38,0)")
    return (
        nn.crossJoin(F.broadcast(mad))
        .crossJoin(F.broadcast(nrec))
        .crossJoin(F.broadcast(chain))
        .select(
            F.col("n").alias("n_days"),
            F.col("eps").alias("eps_mad"),
            F.col("n_rec").alias("n_recurrent_pairs"),
            halfup_div(
                F.lit(2_000_000).cast("decimal(38,0)") * dec38(F.col("n_rec")),
                dec38(F.col("n")) * dec38(F.col("n") - 1),
            )
            .cast("long")
            .alias("recurrence_rate_micro"),
            F.when(
                F.col("n_rec") > 0,
                halfup_div(m6 * dec38(F.col("n_chain")), dec38(F.col("n_rec"))).cast(
                    "long"
                ),
            ).alias("determinism_proxy_micro"),
        )
    )


# ---------------------------------------------------------------------------
# Detrended fluctuation analysis of the daily order series
# ---------------------------------------------------------------------------

DFA_SCALES = (8, 16, 32, 64)


def _dfa_oracle() -> str:
    from ..functions.detmath import sql_det_ln_steps

    hd = sql_halfup_div
    scales = ", ".join(str(s) for s in DFA_SCALES)
    # alpha = sum(c_i * ln F^2(2^i)) / (20 ln 2), c = (-3, -1, 1, 3)
    cexpr = ("sum((CASE s WHEN 8 THEN -3 WHEN 16 THEN -1 WHEN 32 THEN 1 "
             "ELSE 3 END) * lnf2)")
    return f"""
    WITH {_SQL_DAILY_COUNTS_IDX.strip()}
    , tot AS (
      SELECT CAST(count(*) AS HUGEINT) AS nd, CAST(sum(y) AS HUGEINT) AS sy
      FROM idx
    ), prof AS (
      SELECT a.k, CAST(t.nd * sum(b.y) - a.k * t.sy AS HUGEINT) AS p
      FROM idx a JOIN idx b ON b.k <= a.k, tot t
      GROUP BY a.k, t.nd, t.sy
    ), sc(s) AS (SELECT unnest([{scales}])),
    boxed AS (
      SELECT sc.s, CAST((pr.k - 1) // sc.s AS BIGINT) AS b, pr.k, pr.p
      FROM prof pr, sc, tot t
      WHERE (pr.k - 1) // sc.s < t.nd // sc.s
    ), bsum AS (
      SELECT s, b,
             CAST(count(*) AS HUGEINT) AS m,
             CAST(sum(k) AS HUGEINT) AS sx,
             CAST(sum(k * k) AS HUGEINT) AS sxx,
             CAST(sum(p) AS HUGEINT) AS sp,
             CAST(sum(k * p) AS HUGEINT) AS sxp,
             CAST(sum(p * p) AS HUGEINT) AS spp
      FROM boxed GROUP BY s, b
    ), bres AS (
      SELECT s, CAST(floor(
        ((CAST(m * spp - sp * sp AS DOUBLE) * CAST(m * sxx - sx * sx AS DOUBLE))
         - (CAST(m * sxp - sx * sp AS DOUBLE) * CAST(m * sxp - sx * sp AS DOUBLE)))
        / CAST(m * (m * sxx - sx * sx) AS DOUBLE) + 0.5) AS BIGINT) AS ssres_q
      FROM bsum
    ), f2 AS (
      SELECT r.s, CAST(count(*) AS BIGINT) AS n_boxes,
             (CAST(sum(r.ssres_q) AS DOUBLE)
              / CAST(count(*) * r.s AS DOUBLE)
              / CAST(t.nd * t.nd AS DOUBLE)) AS f2_dbl
      FROM bres r, tot t GROUP BY r.s, t.nd
    ), {sql_det_ln_steps('f2', 'f2_dbl', 'lnf2')},
    alpha AS (
      SELECT CAST({hd(f'1000::HUGEINT * ({cexpr})', str(20 * LN2_MICRO))}
                  AS BIGINT) AS alpha_milli
      FROM lnf2_rel
    )
    SELECT CAST(f.s AS BIGINT) AS scale_days, f.n_boxes,
           CAST(floor(f.f2_dbl * 1000.0 + 0.5) AS BIGINT) AS f2_milli,
           a.alpha_milli
    FROM lnf2_rel f, alpha a ORDER BY f.s
    """


@register("events_dfa_daily", oracle=_dfa_oracle())
def events_dfa_daily(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Detrended fluctuation analysis (Peng et al. 1994) of the daily
    order-count series: integrate the centered series into a profile,
    split into non-overlapping boxes of s in {8, 16, 32, 64} days,
    least-squares detrend each box, and report the mean squared
    fluctuation F^2(s) per scale plus the log-log slope alpha (the
    long-memory exponent: 0.5 = uncorrelated, > 0.5 persistent,
    -> 1 = 1/f). ``stats_hurst_rs_daily`` prices the same question via
    rescaled range; DFA is the modern default because it stays valid
    under nonstationarity (the trend is removed per box, not assumed
    absent) — the pair disagreeing IS the nonstationarity signal.

    Exactness: the profile is exact integer (P_k = N*cum_k - k*S, the
    N-scaled centered prefix sum); per-box OLS residual sums use the
    closed form [(m Spp - Sp^2)(m Sxx - Sx^2) - (m Sxp - Sx Sp)^2] /
    [m (m Sxx - Sx^2)] over exact integer sufficient statistics,
    evaluated as ONE shape-matched IEEE double sequence per box and
    floor-quantized so the cross-box sum is an order-independent
    integer. F^2 de-scales by N^2 in the same double shape; alpha uses
    the deterministic fixed-point ln (micro-nats) and the dyadic-grid
    closed form sum(c_i ln F2_i) / (20 ln 2) with the single literal
    LN2_MICRO (constant-anchored in the gate tests).

    Scale shape: one fact scan partial-aggregates to the calendar-day
    domain; the profile prefix is a day^2 rank join over the bounded
    calendar (the KPSS class); boxes/scales explode the POST-
    AGGREGATION day table x4. 4 rows out.
    """
    from ..functions.detmath import det_ln_q

    t = Tables(spark, sf_dir)
    idx = _daily_counts_idx(t)
    tot = idx.agg(
        dec38(F.count(F.lit(1))).alias("nd"), F.sum("y").alias("sy")
    )
    b = idx.select(F.col("k").alias("k_b"), F.col("y").alias("y_b"))
    prof = (
        idx.join(F.broadcast(b), F.col("k_b") <= F.col("k"))
        .groupBy("k")
        .agg(F.sum("y_b").alias("cumy"))
        .crossJoin(F.broadcast(tot))
        .select(
            "k",
            "nd",
            (F.col("nd") * F.col("cumy") - F.col("k") * F.col("sy")).alias("p"),
        )
    )
    sc = prof.sparkSession.createDataFrame(
        [(s,) for s in DFA_SCALES], "s long"
    )
    boxed = (
        prof.crossJoin(F.broadcast(sc))
        .filter(
            F.floor((F.col("k") - 1) / F.col("s"))
            < F.floor(F.col("nd").cast("long") / F.col("s"))
        )
        .select(
            "s",
            F.floor((F.col("k") - 1) / F.col("s")).alias("b"),
            dec38(F.col("k")).alias("kk"),
            F.col("p"),
        )
    )
    bsum = boxed.groupBy("s", "b").agg(
        dec38(F.count(F.lit(1))).alias("m"),
        F.sum("kk").alias("sx"),
        F.sum(F.col("kk") * F.col("kk")).alias("sxx"),
        F.sum("p").alias("sp"),
        F.sum(F.col("kk") * F.col("p")).alias("sxp"),
        F.sum(F.col("p") * F.col("p")).alias("spp"),
    )
    g = F.col("m") * F.col("sxx") - F.col("sx") * F.col("sx")
    n1 = F.col("m") * F.col("spp") - F.col("sp") * F.col("sp")
    n2 = F.col("m") * F.col("sxp") - F.col("sx") * F.col("sp")
    ssres_q = F.floor(
        ((n1.cast("double") * g.cast("double"))
         - (n2.cast("double") * n2.cast("double")))
        / (F.col("m") * g).cast("double")
        + F.lit(0.5)
    ).cast("decimal(38,0)")
    bres = bsum.select("s", ssres_q.alias("ssres_q"))
    f2 = (
        bres.groupBy("s")
        .agg(F.count(F.lit(1)).cast("long").alias("n_boxes"),
             F.sum("ssres_q").alias("sres"))
        .crossJoin(F.broadcast(tot.select("nd")))
        .select(
            "s",
            "n_boxes",
            (
                F.col("sres").cast("double")
                / (F.col("n_boxes") * F.col("s")).cast("double")
                / (F.col("nd") * F.col("nd")).cast("double")
            ).alias("f2_dbl"),
        )
    )
    lnf2 = f2.select("s", "n_boxes", "f2_dbl", det_ln_q(F.col("f2_dbl")).alias("lnf2"))
    c = (
        F.when(F.col("s") == 8, -3)
        .when(F.col("s") == 16, -1)
        .when(F.col("s") == 32, 1)
        .otherwise(3)
    )
    alpha = lnf2.agg(F.sum(c * F.col("lnf2")).alias("csum")).select(
        halfup_div(
            F.lit(1000).cast("decimal(38,0)") * dec38(F.col("csum")),
            F.lit(20 * LN2_MICRO).cast("decimal(38,0)"),
        )
        .cast("long")
        .alias("alpha_milli")
    )
    return (
        lnf2.crossJoin(F.broadcast(alpha))
        .select(
            F.col("s").alias("scale_days"),
            "n_boxes",
            F.floor(F.col("f2_dbl") * F.lit(1000.0) + F.lit(0.5))
            .cast("long")
            .alias("f2_milli"),
            "alpha_milli",
        )
        .orderBy("scale_days")
    )


# ---------------------------------------------------------------------------
# Rescaled-range Hurst exponent of the daily order-count series
# ---------------------------------------------------------------------------

HURST_SIZES = (50, 100, 200, 400)


def _hurst_oracle() -> str:
    from ..functions.detmath import sql_det_ln_steps
    from ..functions.exact import sql_round_big_int_ratio

    sizes = ", ".join(str(s) for s in HURST_SIZES)
    return f"""
    WITH daily AS (
      SELECT CAST(o_orderdate AS DATE) AS day,
             CAST(count(*) AS BIGINT) AS y
      FROM orders GROUP BY 1
    ), idx AS (
      SELECT a.day, a.y, CAST(count(*) AS BIGINT) AS k
      FROM daily a JOIN daily b ON b.day <= a.day
      GROUP BY a.day, a.y
    ), nn AS (SELECT CAST(count(*) AS BIGINT) AS n FROM idx),
    sizes AS (SELECT CAST(unnest([{sizes}]) AS BIGINT) AS s),
    rows_s AS (
      SELECT s.s, (i.k - 1) // s.s AS blk, i.k, i.y
      FROM idx i JOIN sizes s ON true, nn
      WHERE (i.k - 1) // s.s < nn.n // s.s
    ), cum AS (
      SELECT s, blk, k, y,
             CAST(sum(y) OVER (PARTITION BY s, blk ORDER BY k) AS BIGINT) AS c,
             CAST(sum(y) OVER (PARTITION BY s, blk) AS BIGINT) AS t,
             CAST(row_number() OVER (PARTITION BY s, blk ORDER BY k) AS BIGINT)
               AS i
      FROM rows_s
    ), blocks AS (
      SELECT s, blk,
             max(s * c - i * t) - min(s * c - i * t) AS rs,
             s * s * sum(y * y) - s * t * t AS v
      FROM cum GROUP BY s, blk, t
    ), ok AS (
      SELECT s, blk, rs, v FROM blocks WHERE rs > 0 AND v > 0
    ), {sql_det_ln_steps('ok', 'rs', 'lrs')},
    {sql_det_ln_steps('lrs_rel', 'v', 'lv')},
    {sql_det_ln_steps('lv_rel', 's', 'ls')},
    per_block AS (
      SELECT s, ls, 2 * lrs + ls - lv AS m FROM ls_rel
    ), per_size AS (
      SELECT s, ls, CAST(count(*) AS BIGINT) AS n_blocks,
             {sql_halfup_div('CAST(sum(m) AS HUGEINT)',
                              '2::HUGEINT * count(*)')} AS mq
      FROM per_block GROUP BY s, ls
    ), fit AS (
      SELECT CAST(count(*) AS HUGEINT) AS p,
             CAST(sum(ls) AS HUGEINT) AS su,
             CAST(sum(ls::HUGEINT * ls) AS HUGEINT) AS suu,
             CAST(sum(mq) AS HUGEINT) AS sm,
             CAST(sum(ls::HUGEINT * mq) AS HUGEINT) AS sum_
      FROM per_size
    )
    SELECT ps.s AS block_size, ps.n_blocks,
           ps.mq / 1000000.0 AS mean_ln_rs,
           ps.ls / 1000000.0 AS ln_size,
           CASE WHEN f.p >= 2 AND f.p * f.suu - f.su * f.su > 0
                THEN {sql_round_big_int_ratio(
                    'f.p * f.sum_ - f.su * f.sm',
                    'f.p * f.suu - f.su * f.su')}
           END AS hurst
    FROM per_size ps, fit f
    """


@register("stats_hurst_rs_daily", oracle=_hurst_oracle())
def stats_hurst_rs_daily(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Rescaled-range (R/S) Hurst exponent of the daily order-count
    series (Hurst 1951 / Mandelbrot-Wallis): for each block size s in
    a fixed ladder, split the day-rank sequence into ⌊n/s⌋ full
    blocks, compute the range R of the mean-adjusted cumulative sums
    and the population s.d. S per block, and regress mean ln(R/S) on
    ln(s) — slope ≈ H (0.5 = random walk, >0.5 persistent). The
    long-memory complement to the variance-ratio test:
    VR(5) probes one horizon; R/S fits the whole scaling law.

    Exactness: with integer block sums, s·W_i = s·C_i − i·T is exact,
    R_s = max−min of it, and V = s²Σy² − sT² = s³S² — so
    (R/S)² = R_s²·s/V is a ratio of int64s and ln(R/S) =
    (2L(R_s)+L(s)−L(V))/2 in det_ln_q micro-nats, bit-identical
    across engines (det-ln twins). Per-size means quantize via the
    shared half-up idiom; the 4-point OLS slope is one exact
    round_big_int_ratio. det-ln args stay < 2⁵³ through sf1×10
    (V ≤ s³·ymax² ≈ 2.5·10¹⁵ at 6k orders/day).

    Scale shape: fact scan → calendar-day aggregate (~2.4k rows) →
    broadcast non-equi rank join (house pattern) → per-(size, block)
    KEY-PARTITIONED cumulative windows (never SinglePartition) →
    ≤ Σ⌊n/s⌋ ≈ 90-row block table → 4-row size table → scalar slope.
    Degenerate blocks (R=0 or V=0, constant counts) are excluded
    identically on both engines before the logs.
    """
    from ..functions.detmath import det_ln_q
    from ..functions.exact import round_big_int_ratio

    t = Tables(spark, sf_dir)
    idx = _daily_counts_idx_long(t)
    nn = idx.agg(F.count(F.lit(1)).alias("n"))
    sizes = F.explode(
        F.array(*[F.lit(s).cast("long") for s in HURST_SIZES])
    ).alias("s")
    rows_s = (
        idx.crossJoin(F.broadcast(nn))
        .select("k", "y", "n", sizes)
        .withColumn("blk", ((F.col("k") - 1) / F.col("s")).cast("long"))
        .filter(F.col("blk") < (F.col("n") / F.col("s")).cast("long"))
    )
    wo = Window.partitionBy("s", "blk").orderBy("k")
    wa = Window.partitionBy("s", "blk")
    cum = rows_s.select(
        "s",
        "blk",
        "y",
        F.sum("y").over(wo.rowsBetween(Window.unboundedPreceding, 0)).alias("c"),
        F.sum("y").over(wa).alias("t"),
        F.row_number().over(wo).cast("long").alias("i"),
    )
    w_s = F.col("s") * F.col("c") - F.col("i") * F.col("t")
    blocks = cum.groupBy("s", "blk", "t").agg(
        (F.max(w_s) - F.min(w_s)).alias("rs"),
        F.sum(F.col("y") * F.col("y")).alias("syy"),
    ).select(
        "s",
        "blk",
        "rs",
        (
            F.col("s") * F.col("s") * F.col("syy")
            - F.col("s") * F.col("t") * F.col("t")
        ).alias("v"),
    )
    ok = blocks.filter((F.col("rs") > 0) & (F.col("v") > 0))
    per_block = ok.select(
        "s",
        det_ln_q(F.col("s")).alias("ls"),
        (
            F.lit(2) * det_ln_q(F.col("rs"))
            + det_ln_q(F.col("s"))
            - det_ln_q(F.col("v"))
        ).alias("m"),
    )
    per_size = per_block.groupBy("s", "ls").agg(
        F.count(F.lit(1)).alias("n_blocks"),
        halfup_div(
            dec38(F.sum("m")), F.lit(2).cast("decimal(38,0)") * dec38(F.count(F.lit(1)))
        ).alias("mq"),
    )
    fit = per_size.agg(
        dec38(F.count(F.lit(1))).alias("p"),
        dec38(F.sum("ls")).alias("su"),
        dec38(F.sum(F.col("ls") * F.col("ls"))).alias("suu"),
        F.sum("mq").alias("sm"),
        F.sum(dec38(F.col("ls")) * F.col("mq")).alias("sum_"),
    )
    den = F.col("p") * F.col("suu") - F.col("su") * F.col("su")
    return per_size.crossJoin(F.broadcast(fit)).select(
        F.col("s").alias("block_size"),
        "n_blocks",
        (F.col("mq").cast("long") / F.lit(1e6)).alias("mean_ln_rs"),
        (F.col("ls") / F.lit(1e6)).alias("ln_size"),
        F.when(
            (F.col("p") >= 2) & (den > 0),
            round_big_int_ratio(
                F.col("p") * F.col("sum_") - F.col("su") * F.col("sm"), den
            ),
        ).alias("hurst"),
    )
