"""Round-12 operator batch I.

Gates: raw-frame oracle parity, plan bars and Python replicas with
float anchors in ``tests/test_roundtwelve4.py``; SCALE.md §5j.10
records the ×10 ladder.

Batch theme — shrinkage, serial-correlation-corrected trend, mixture
drift and threshold governance: empirical-Bayes beta-binomial
shrinkage of per-nation completion rates, the Cochrane–Orcutt AR(1)-
corrected trend (the FIX step after ``stats_durbin_watson_daily``
diagnoses autocorrelation and ``stats_breusch_pagan_daily`` variance
drift), source-mixture drift across ingestion deciles (the crawl-
composition monitor), and a train/holdout threshold-transfer audit
(does the Youden-optimal threshold survive resampling?). Every name
was checked against the full registry inventory before design (the
§5j.7 authoring rule).

Reference parity note: the reference (Go ingestion pipeline) has no
analytics; these extend SURVEY §2.C warehouse statistics / corpus
management / ML governance.

``stats_cochrane_orcutt_trend`` lives in
``operators/daily_hypothesis.py`` with the other daily-series queries.

``stats_eb_beta_binomial_shrinkage`` lives in
``operators/stats_tables.py`` with the other stats queries.

``ml_threshold_transfer_audit`` lives in ``operators/ml_thresholds.py``
with the other ml queries.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from ..functions.exact import dec38, halfup_div, sql_halfup_div
from ..registry import register
from ..tables import Tables


# ---------------------------------------------------------------------------
# 3. Source-mixture drift across ingestion deciles
# ---------------------------------------------------------------------------

DRIFT_DECILES = 10


def _drift_oracle() -> str:
    hd = sql_halfup_div
    return f"""
    WITH dd AS (
      SELECT (('0x' || substr(sha256(CAST(doc_id AS VARCHAR)), 1, 15)))::BIGINT
               % {DRIFT_DECILES} AS d,
             source
      FROM documents
    ), cells AS (
      SELECT d, source, CAST(count(*) AS HUGEINT) AS c FROM dd GROUP BY d, source
    ), per_d AS (
      SELECT d, CAST(sum(c) AS HUGEINT) AS n_d FROM cells GROUP BY d
    ), tops AS (
      SELECT d, min(source) AS top_source FROM cells c1
      WHERE c = (SELECT max(c) FROM cells c2 WHERE c2.d = c1.d)
      GROUP BY d
    ), cur AS (
      SELECT d, source, c FROM cells WHERE d >= 1
    ), prv AS (
      SELECT d + 1 AS d, source, c FROM cells WHERE d <= {DRIFT_DECILES - 2}
    ), pairs AS (
      SELECT coalesce(a.d, b.d) AS d, coalesce(a.source, b.source) AS source,
             coalesce(a.c, 0::HUGEINT) AS c_cur,
             coalesce(b.c, 0::HUGEINT) AS c_prev
      FROM cur a FULL JOIN prv b ON a.d = b.d AND a.source = b.source
    ), tvd AS (
      SELECT pr.d,
             CAST(sum(abs(pr.c_cur * np.n_d - pr.c_prev * nc.n_d)) AS HUGEINT)
               AS num,
             2::HUGEINT * nc.n_d * np.n_d AS den
      FROM pairs pr
      JOIN per_d nc ON nc.d = pr.d
      JOIN per_d np ON np.d = pr.d - 1
      GROUP BY pr.d, nc.n_d, np.n_d
    )
    SELECT p.d, CAST(p.n_d AS BIGINT) AS n_docs, t.top_source,
           CAST({hd('1000000::HUGEINT * (SELECT max(c) FROM cells c2 WHERE c2.d = p.d)',
                    'p.n_d')} AS BIGINT) AS top_share_micro,
           CAST((SELECT {hd('1000000::HUGEINT * v.num', 'v.den')}
                 FROM tvd v WHERE v.d = p.d) AS BIGINT) AS tvd_prev_micro
    FROM per_d p JOIN tops t ON t.d = p.d
    ORDER BY p.d
    """


@register("corpus_source_mixture_drift", _drift_oracle())
def corpus_source_mixture_drift(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Source-mixture drift across the 10 deterministic ingestion
    deciles (the sha256(doc_id) pseudo-order every corpus sampler
    uses): per decile, the dominant source and its share, plus the
    total-variation distance between consecutive deciles' source
    mixes — the crawl-composition monitor. A TVD spike at decile d
    says the feed mix CHANGED mid-ingestion (a mirror came online, a
    source died), which silently shifts every downstream mixture
    weight (``corpus_mixture_weights`` assumes the mix is what it
    measures; this says WHEN that assumption broke).
    ``corpus_shard_skew_audit`` audits skew across SHARDS; this audits
    drift across pseudo-TIME.

    Exactness: TVD between deciles d-1, d is the exact integer
    sum |c_{{d,s}} n_{{d-1}} - c_{{d-1,s}} n_d| over the source union,
    one half-up 1e-6 division by 2 n_d n_{{d-1}}; top shares are
    single half-up ratios; the argmax source breaks ties to the
    lexicographically smallest (explicit min over the max-count set,
    never an engine-unspecified arg_max).

    Scale shape: one scan to the <= 10 x |sources| cell grid;
    consecutive-decile pairing is a bounded full-outer join on the
    grid; everything after is 10-row algebra.
    """
    from ..functions.textnorm import sha256_prefix_i64

    t = Tables(spark, sf_dir)
    d = (sha256_prefix_i64(F.col("doc_id").cast("string")) % DRIFT_DECILES).alias("d")
    cells = t.documents.groupBy(d, "source").agg(dec38(F.count(F.lit(1))).alias("c"))
    per_d = cells.groupBy("d").agg(F.sum("c").alias("n_d"))
    mx = cells.groupBy("d").agg(F.max("c").alias("mc"))
    tops = (
        cells.join(F.broadcast(mx), "d")
        .filter(F.col("c") == F.col("mc"))
        .groupBy("d")
        .agg(F.min("source").alias("top_source"), F.max("mc").alias("mc"))
    )
    cur = cells.select("d", "source", F.col("c").alias("c_cur"))
    prv = cells.select((F.col("d") + 1).alias("d"), "source", F.col("c").alias("c_prev"))
    zero = F.lit(0).cast("decimal(38,0)")
    pairs = (
        cur.join(prv, ["d", "source"], "full")
        .filter((F.col("d") >= 1) & (F.col("d") <= DRIFT_DECILES - 1))
        .select(
            "d",
            "source",
            F.coalesce(F.col("c_cur"), zero).alias("c_cur"),
            F.coalesce(F.col("c_prev"), zero).alias("c_prev"),
        )
    )
    nd_cur = per_d.select("d", F.col("n_d").alias("nc"))
    nd_prev = per_d.select((F.col("d") + 1).alias("d"), F.col("n_d").alias("np"))
    tvd = (
        pairs.join(F.broadcast(nd_cur), "d")
        .join(F.broadcast(nd_prev), "d")
        .groupBy("d", "nc", "np")
        .agg(
            F.sum(
                F.abs(F.col("c_cur") * F.col("np") - F.col("c_prev") * F.col("nc"))
            ).alias("num")
        )
        .select(
            "d",
            halfup_div(
                F.lit(1_000_000).cast("decimal(38,0)") * F.col("num"),
                2 * F.col("nc") * F.col("np"),
            ).alias("tvd_prev_micro"),
        )
    )
    m6 = F.lit(1_000_000).cast("decimal(38,0)")
    return (
        per_d.join(F.broadcast(tops), "d")
        .join(F.broadcast(tvd), "d", "left")
        .select(
            "d",
            F.col("n_d").cast("long").alias("n_docs"),
            "top_source",
            halfup_div(m6 * F.col("mc"), F.col("n_d")).cast("long").alias(
                "top_share_micro"
            ),
            F.col("tvd_prev_micro").cast("long").alias("tvd_prev_micro"),
        )
        .orderBy("d")
    )
