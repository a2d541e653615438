"""Round-14 operator batch 1.

Gates: raw-frame oracle parity, plan bars and Python replicas with
float anchors in ``tests/test_roundfourteen.py``; SCALE.md §5s
records the ×10 ladder.

Batch theme — spectral shape, distributed sketch guarantees, weighted
graph mixing, forensic data quality, range-based volatility and
vocabulary growth: the Wiener (log-)spectral flatness of the STL
remainder, a union-of-local-top-k coverage audit for shard-parallel
heavy-hitter search, the Whipple heaping index, the Parkinson high-low volatility estimator on
hourly extremes, and an LNRE hapax-growth audit. Every name was
checked against the full 563-name registry inventory before design
(the SCALE §5j.7 authoring rule).

Reference parity note: the reference (Go ingestion pipeline,
``/root/reference/main.go``) has no analytics; these extend SURVEY
§2.C time-series / sketches / graph / DQ / corpus management.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from ..functions.exact import dec38, halfup_div, sql_halfup_div
from ..registry import register
from ..tables import Tables
from .roundthirteen7 import LN2_MICRO

# ---------------------------------------------------------------------------
# 1. Wiener (log-)spectral flatness of the STL remainder
# ---------------------------------------------------------------------------


def _flatness_oracle() -> str:
    from ..functions.detmath import sql_det_ln_steps
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

    Shared derivations: the remainder is ``roundeleven6._stl_rem`` /
    ``rem0``; the quantized trig tables are ``roundeleven.PGRAM_*``
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
    from .roundeleven import PGRAM_COSQ, PGRAM_PERIODS, PGRAM_SINQ
    from .roundeleven6 import _stl_rem

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
# 2. Union-of-local-top-k coverage audit for shard-parallel heavy hitters
# ---------------------------------------------------------------------------

STK_SHARDS = 8
STK_LOCAL_M = 20
STK_GLOBAL_K = 10


def _shard_topk_oracle() -> str:
    hd = sql_halfup_div
    return f"""
    WITH base AS (
      SELECT l_partkey AS item,
             CAST(('0x' || substr(sha256(CAST(l_orderkey AS VARCHAR)), 1, 15))
                  ::BIGINT % {STK_SHARDS} AS BIGINT) AS shard
      FROM lineitem
    ), pershard AS (
      SELECT shard, item, CAST(count(*) AS BIGINT) AS c
      FROM base GROUP BY 1, 2
    ), localtop AS (
      SELECT shard, item, c FROM (
        SELECT shard, item, c,
               row_number() OVER (PARTITION BY shard
                                  ORDER BY c DESC, item ASC) AS rn
        FROM pershard
      ) WHERE rn <= {STK_LOCAL_M}
    ), cand AS (
      SELECT DISTINCT item FROM localtop
    ), globalc AS (
      SELECT item, CAST(sum(c) AS BIGINT) AS c FROM pershard GROUP BY item
    ), globaltop AS (
      SELECT item, c FROM (
        SELECT item, c,
               row_number() OVER (ORDER BY c DESC, item ASC) AS rn
        FROM globalc
      ) WHERE rn <= {STK_GLOBAL_K}
    ), s AS (
      SELECT (SELECT count(*) FROM cand) AS n_candidates,
             (SELECT count(*) FROM globaltop g
              WHERE g.item IN (SELECT item FROM cand)) AS topk_covered,
             (SELECT min(c) FROM globaltop) AS min_topk_count,
             (SELECT coalesce(max(c), 0) FROM globalc
              WHERE item NOT IN (SELECT item FROM cand)) AS max_missed_count
    )
    SELECT CAST({STK_GLOBAL_K} AS BIGINT) AS k,
           CAST({STK_LOCAL_M} AS BIGINT) AS local_m,
           CAST({STK_SHARDS} AS BIGINT) AS n_shards,
           CAST(n_candidates AS BIGINT) AS n_candidates,
           CAST(topk_covered AS BIGINT) AS topk_covered,
           CAST(min_topk_count AS BIGINT) AS min_topk_count,
           CAST(max_missed_count AS BIGINT) AS max_missed_count
    FROM s
    """


@register("sketch_shard_topk_coverage_audit", _shard_topk_oracle())
def sketch_shard_topk_coverage_audit(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Coverage audit of the shard-parallel heavy-hitter pattern: each
    of 8 hash shards (sha256 of the order key — rows of one order
    stay together, the realistic partitioning) proposes its local
    top-20 parts by line count; the candidate union is then exactly
    recounted and compared against the TRUE global top-10. The
    pattern is how a 1000-executor cluster finds heavy hitters with
    one small shuffle (candidates only) instead of a full key
    aggregate; its failure mode — a globally-heavy item that is
    locally mediocre everywhere — is exactly what `topk_covered` < k
    detects, and `max_missed_count` vs `min_topk_count` measures the
    remaining safety margin (missed candidates can never beat the
    published floor when max_missed < min_topk).

    Exactness: the shard hash is the portable sha256 prefix; local and
    global rankings use deterministic (count desc, item asc)
    tie-breaks; every output is an exact count.

    Scale shape: one fact scan to the (shard, item) partial aggregate;
    local top-m via shard-partitioned rank windows (hash-partitioned,
    never global); the exact global ranking feeds one
    TakeOrderedAndProject-style bounded rank; candidate set is
    <= 8 x 20 rows broadcast. 1 row out.
    """
    from pyspark.sql.window import Window

    from ..functions.textnorm import sha256_prefix_i64

    t = Tables(spark, sf_dir)
    base = t.lineitem.select(
        F.col("l_partkey").alias("item"),
        (sha256_prefix_i64(F.col("l_orderkey").cast("string")) % STK_SHARDS)
        .cast("long")
        .alias("shard"),
    )
    pershard = base.groupBy("shard", "item").agg(
        F.count(F.lit(1)).cast("long").alias("c")
    ).localCheckpoint(eager=True)  # bounded (shards x items); 3 consumers
    wl = Window.partitionBy("shard").orderBy(F.col("c").desc(), F.col("item").asc())
    localtop = (
        pershard.withColumn("rn", F.row_number().over(wl))
        .filter(F.col("rn") <= STK_LOCAL_M)
        .select("shard", "item", "c")
    )
    cand = localtop.select("item").distinct()
    globalc = pershard.groupBy("item").agg(F.sum("c").cast("long").alias("c"))
    globaltop = globalc.orderBy(F.col("c").desc(), F.col("item").asc()).limit(
        STK_GLOBAL_K
    )
    a = cand.agg(F.count(F.lit(1)).cast("long").alias("n_candidates"))
    b = (
        globaltop.join(F.broadcast(cand), "item", "left_semi")
        .agg(F.count(F.lit(1)).cast("long").alias("topk_covered"))
    )
    c_ = globaltop.agg(F.min("c").cast("long").alias("min_topk_count"))
    d = (
        globalc.join(F.broadcast(cand), "item", "left_anti")
        .agg(F.coalesce(F.max("c"), F.lit(0)).cast("long").alias("max_missed_count"))
    )
    return (
        a.crossJoin(F.broadcast(b))
        .crossJoin(F.broadcast(c_))
        .crossJoin(F.broadcast(d))
        .select(
            F.lit(STK_GLOBAL_K).cast("long").alias("k"),
            F.lit(STK_LOCAL_M).cast("long").alias("local_m"),
            F.lit(STK_SHARDS).cast("long").alias("n_shards"),
            "n_candidates",
            "topk_covered",
            "min_topk_count",
            "max_missed_count",
        )
    )


# ---------------------------------------------------------------------------
# 4. Whipple heaping index on lineitem quantities
# ---------------------------------------------------------------------------


def _whipple_oracle() -> str:
    hd = sql_halfup_div
    return f"""
    WITH q AS (
      SELECT CAST(l_quantity AS BIGINT) AS v FROM lineitem
      WHERE l_quantity IS NOT NULL
    ), d AS (
      SELECT v % 10 AS digit, CAST(count(*) AS HUGEINT) AS n_d
      FROM q GROUP BY 1
    ), s AS (
      SELECT CAST(sum(n_d) AS HUGEINT) AS n,
             CAST(sum(CASE WHEN digit % 5 = 0 THEN n_d ELSE 0 END)
                  AS HUGEINT) AS n_mult5,
             CAST(sum(n_d * n_d) AS HUGEINT) AS sq,
             CAST(count(*) AS BIGINT) AS n_digits
      FROM d
    )
    SELECT CAST(n AS BIGINT) AS n, CAST(n_mult5 AS BIGINT) AS n_mult5,
           n_digits,
           CAST({hd('5000000::HUGEINT * n_mult5', 'n')} AS BIGINT)
             AS whipple_micro,
           CAST({hd('1000::HUGEINT * (10 * sq - n * n)', 'n')} AS BIGINT)
             AS digit_chisq_milli
    FROM s
    """


@register("dq_whipple_heaping_index", _whipple_oracle())
def dq_whipple_heaping_index(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Whipple index of terminal-digit heaping on lineitem quantities:
    W = 5 x (share of values ending in 0 or 5) — the demographer's
    digit-preference audit (W = 1 means no preference; census quality
    bands run to W = 1.75+), plus the 10-cell terminal-digit
    chi-square against uniformity. In a warehouse this is the
    data-entry forensic: hand-keyed or estimated quantities heap on
    round numbers, machine-generated ones don't — a W shift between
    sources flags a feed that switched from measured to guessed.

    Exactness: digit cells are exact counts; W is ONE half-up micro
    division; the chi-square collapses to the pure integer identity
    (10 sum n_d^2 - N^2) / N (milli-quantized once) since the expected
    cell is N/10.

    Scale shape: one fact scan partial-aggregates to 10 digit cells;
    1 row out.
    """
    t = Tables(spark, sf_dir)
    d = (
        t.lineitem.filter(F.col("l_quantity").isNotNull())
        .select((F.col("l_quantity").cast("long") % 10).alias("digit"))
        .groupBy("digit")
        .agg(dec38(F.count(F.lit(1))).alias("n_d"))
    )
    s = d.agg(
        F.sum("n_d").alias("n"),
        F.sum(F.when(F.col("digit") % 5 == 0, F.col("n_d")).otherwise(
            F.lit(0).cast("decimal(38,0)")
        )).alias("n_mult5"),
        F.sum(F.col("n_d") * F.col("n_d")).alias("sq"),
        F.count(F.lit(1)).cast("long").alias("n_digits"),
    )
    return s.select(
        F.col("n").cast("long").alias("n"),
        F.col("n_mult5").cast("long").alias("n_mult5"),
        "n_digits",
        halfup_div(
            F.lit(5_000_000).cast("decimal(38,0)") * F.col("n_mult5"), F.col("n")
        )
        .cast("long")
        .alias("whipple_micro"),
        halfup_div(
            F.lit(1000).cast("decimal(38,0)")
            * (F.lit(10).cast("decimal(38,0)") * F.col("sq")
               - F.col("n") * F.col("n")),
            F.col("n"),
        )
        .cast("long")
        .alias("digit_chisq_milli"),
    )


# ---------------------------------------------------------------------------
# 5. Parkinson high-low volatility of the hourly event intensity
# ---------------------------------------------------------------------------


def _parkinson_oracle() -> str:
    from ..functions.detmath import sql_det_ln_steps

    return f"""
    WITH hourly AS (
      SELECT CAST(ts AS DATE) AS d, date_part('hour', ts) AS h,
             CAST(count(*) AS BIGINT) AS c
      FROM events GROUP BY 1, 2
    ), hl AS (
      SELECT d, CAST(max(c) AS BIGINT) AS hi, CAST(min(c) AS BIGINT) AS lo,
             CAST(max(c) AS DOUBLE) AS hi_dbl, CAST(min(c) AS DOUBLE) AS lo_dbl
      FROM hourly GROUP BY d
    ), {sql_det_ln_steps('hl', 'hi_dbl', 'lnh')},
    {sql_det_ln_steps('lnh_rel', 'lo_dbl', 'lnl')},
    terms AS (
      SELECT CAST(count(*) AS HUGEINT) AS n,
             CAST(sum((lnh - lnl) * CAST(lnh - lnl AS HUGEINT)) AS HUGEINT)
               AS sd2
      FROM lnl_rel
    )
    SELECT CAST(n AS BIGINT) AS n_days,
           CAST({sql_halfup_div('sd2', f'4::HUGEINT * {LN2_MICRO} * n')}
                AS BIGINT) AS parkinson_var_micro
    FROM terms
    """


@register("events_parkinson_volatility_daily", _parkinson_oracle())
def events_parkinson_volatility_daily(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Parkinson (1980) range-based volatility of the hourly event
    intensity: sigma^2_P = (1 / (4 ln 2)) x mean over days of
    ln(high/low)^2, where high/low are each day's max/min hourly event
    counts (hours with events; the trading-day high-low convention).
    The close-to-close variance of the daily total sees only the
    day-level aggregate; the Parkinson estimator extracts ~5x more
    information per day from the intraday RANGE — the capacity
    planner's question ("how violently does load swing within a day")
    answered with one number per corpus.

    Exactness: hourly extremes are exact integers; ln(high/low) =
    det-ln(high) - det-ln(low) in micro-nats (integer); the squared
    terms sum as integers and divide once by 4 ln 2 via the shared
    LN2_MICRO literal (anchored in tests/test_roundthirteen7.py).

    Scale shape: one fact scan partial-aggregates to (day, hour)
    cells, then to per-day extremes (calendar-bounded); 1 row out.
    """
    from ..functions.detmath import det_ln_q

    t = Tables(spark, sf_dir)
    hourly = (
        t.events.select(F.to_date("ts").alias("d"), F.hour("ts").alias("h"))
        .groupBy("d", "h")
        .agg(F.count(F.lit(1)).cast("long").alias("c"))
    )
    hl = hourly.groupBy("d").agg(
        F.max("c").alias("hi"), F.min("c").alias("lo")
    )
    dterm = det_ln_q(F.col("hi").cast("double")) - det_ln_q(
        F.col("lo").cast("double")
    )
    terms = hl.select(dterm.alias("dln")).agg(
        dec38(F.count(F.lit(1))).alias("n"),
        F.sum(dec38(F.col("dln")) * F.col("dln")).alias("sd2"),
    )
    return terms.select(
        F.col("n").cast("long").alias("n_days"),
        halfup_div(
            F.col("sd2"),
            F.lit(4 * LN2_MICRO).cast("decimal(38,0)") * F.col("n"),
        )
        .cast("long")
        .alias("parkinson_var_micro"),
    )


# ---------------------------------------------------------------------------
# 6. LNRE hapax-growth audit (half corpus vs full corpus)
# ---------------------------------------------------------------------------


def _hapax_growth_oracle() -> str:
    from .roundthirteen6 import _SQL_FREQ_SPECTRUM

    hd = sql_halfup_div
    half_spectrum = _SQL_FREQ_SPECTRUM.replace(
        "FROM documents", "FROM documents WHERE doc_id % 2 = 0"
    ).replace(" toks AS (", " htoks AS (").replace(
        "), tf AS (", "), htf AS ("
    ).replace(
        "FROM toks", "FROM htoks"
    ).replace(
        "), spectrum AS (", "), hspectrum AS ("
    ).replace(
        "FROM tf GROUP BY lang", "FROM htf GROUP BY lang"
    )
    return f"""
    WITH {_SQL_FREQ_SPECTRUM.strip()},
    {half_spectrum.strip()}
    SELECT f.lang,
           CAST(f.n_tokens AS BIGINT) AS n_tokens_full,
           CAST(h.n_tokens AS BIGINT) AS n_tokens_half,
           CAST({hd('1000000::HUGEINT * f.v1', 'f.vocab')} AS BIGINT)
             AS v1_share_full_micro,
           CAST({hd('1000000::HUGEINT * h.v1', 'h.vocab')} AS BIGINT)
             AS v1_share_half_micro,
           CAST({hd('1000000::HUGEINT * h.v1', 'h.vocab')}
                - {hd('1000000::HUGEINT * f.v1', 'f.vocab')} AS BIGINT)
             AS growth_delta_micro
    FROM spectrum f JOIN hspectrum h USING (lang)
    ORDER BY f.lang
    """


@register("corpus_hapax_growth_audit", _hapax_growth_oracle())
def corpus_hapax_growth_audit(spark: SparkSession, sf_dir: str) -> DataFrame:
    """LNRE hapax-growth audit per language: the hapax share V1/V on a
    deterministic half corpus (doc_id % 2 = 0) vs the full corpus. For
    a productive natural-language vocabulary (an LNRE distribution,
    Baayen 2001) the hapax share FALLS as the sample grows — types get
    re-observed; a flat or rising share is the template/boilerplate
    signature (every new doc mints fresh one-off tokens, e.g. IDs or
    timestamps) and predicts that more crawl will not saturate the
    vocabulary. The single-sample richness ops can't see this — it is
    a derivative in sample size, measured with two exact points.

    Derivation sharing: the full-corpus spectrum is
    ``roundthirteen6._freq_spectrum`` / ``_SQL_FREQ_SPECTRUM`` (third
    consumer); the half-corpus spectrum is the same derivation over
    the hash-deterministic half (the split is a pure function of
    doc_id, so both engines see the identical subsample).

    Exactness: both spectra are exact counts; two half-up micro
    divisions per language plus their integer difference.

    Scale shape: two (lang, token) partial-aggregated scans (the half
    scan prunes at the source filter); per-language scalars out.
    |langs| rows.
    """
    from ..functions.textnorm import whitespace_tokens
    from .roundthirteen6 import _freq_spectrum

    t = Tables(spark, sf_dir)
    full = _freq_spectrum(t)
    half_tf = (
        t.documents.filter(F.col("doc_id") % 2 == 0)
        .select("lang", F.explode(whitespace_tokens(F.col("text"))).alias("tok"))
        .groupBy("lang", "tok")
        .agg(F.count(F.lit(1)).alias("c"))
    )
    half = half_tf.groupBy("lang").agg(
        F.sum(dec38(F.col("c"))).alias("n_tokens_h"),
        dec38(F.count(F.lit(1))).alias("vocab_h"),
        F.sum(F.when(F.col("c") == 1, 1).otherwise(0))
        .cast("decimal(38,0)")
        .alias("v1_h"),
    )
    m6 = F.lit(1_000_000).cast("decimal(38,0)")
    full_share = halfup_div(m6 * F.col("v1"), F.col("vocab"))
    half_share = halfup_div(m6 * F.col("v1_h"), F.col("vocab_h"))
    return (
        full.join(half, "lang")
        .select(
            "lang",
            F.col("n_tokens").cast("long").alias("n_tokens_full"),
            F.col("n_tokens_h").cast("long").alias("n_tokens_half"),
            full_share.cast("long").alias("v1_share_full_micro"),
            half_share.cast("long").alias("v1_share_half_micro"),
            (half_share - full_share).cast("long").alias("growth_delta_micro"),
        )
        .orderBy("lang")
    )
