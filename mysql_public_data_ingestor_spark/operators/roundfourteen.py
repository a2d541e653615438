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

``events_spectral_flatness_residual`` lives in
``operators/daily_spectral.py`` with the other daily-series queries.

``events_parkinson_volatility_daily`` lives in
``operators/events_series.py`` with the other events queries.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from ..functions.exact import dec38, halfup_div, sql_halfup_div
from ..registry import register
from ..tables import Tables


# ---------------------------------------------------------------------------
# 2. Union-of-local-top-k coverage audit for shard-parallel heavy hitters
# ---------------------------------------------------------------------------

STK_SHARDS = 8
STK_LOCAL_M = 20
STK_GLOBAL_K = 10


def _shard_topk_oracle() -> str:
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
