"""Round-13 direct registrations, batch W (circular statistics,
resampled operating points, PQ index quality, seasonal
diagnostics).

Five window-slot completions, each oracle-paired, replica-pinned and
plan-barred in ``tests/test_roundthirteen8.py`` (same-commit gate
rule). Every name was checked against the full 553-name registry
inventory before design (the SCALE §5j.7 authoring rule):

* ``stats_circular_weekday_concentration`` — circular resultant
  length / Rayleigh test of the order weekday distribution.
* ``ml_youden_threshold_jackknife`` — delete-one-block jackknife of
  the Youden-optimal operating point (threshold stability).
* ``embedding_pq_distortion_audit`` — per-subspace quantization
  distortion of the production PQ codebook.

``events_qs_seasonality_test`` lives in
``operators/daily_hypothesis.py`` with the other daily-series queries.

Reference parity note: the reference (Go ingestion pipeline,
``/root/reference/main.go``) has no analytics; these extend SURVEY
§2.C warehouse statistics / graph / ML / embedding / time-series.

``stats_circular_weekday_concentration`` lives in
``operators/stats_dist.py`` with the other stats queries.

``ml_youden_threshold_jackknife`` lives in
``operators/ml_thresholds.py`` with the other ml queries.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from ..functions.exact import dec38, halfup_div, sql_halfup_div
from ..registry import register
from ..tables import Tables


# ---------------------------------------------------------------------------
# 4. PQ codebook distortion audit
# ---------------------------------------------------------------------------


def _pq_distortion_oracle() -> str:
    from .similarity import PQ_CODEWORDS, PQ_M, PQ_SUBDIM

    hd = sql_halfup_div
    subs = " UNION ALL ".join(
        f"SELECT vec_id, {m} AS m, v[{m * PQ_SUBDIM + 1}:{(m + 1) * PQ_SUBDIM}] AS sv "
        "FROM emb"
        for m in range(PQ_M)
    )
    cbs = " UNION ALL ".join(
        f"SELECT vec_id AS cid, {m} AS m, v[{m * PQ_SUBDIM + 1}:{(m + 1) * PQ_SUBDIM}] AS cv "
        f"FROM emb WHERE vec_id < {PQ_CODEWORDS}"
        for m in range(PQ_M)
    )
    return f"""
    WITH emb AS (
      SELECT vec_id, embedding::DOUBLE[] AS v FROM embeddings
    ), sub AS ({subs}), cb AS ({cbs}),
    dists AS (
      SELECT s.vec_id, s.m, c.cid,
             list_sum(list_transform(range(1, {PQ_SUBDIM} + 1),
                      i -> (s.sv[i] - c.cv[i]) * (s.sv[i] - c.cv[i]))) AS d2
      FROM sub s JOIN cb c USING (m)
    ), assigned AS (
      SELECT m, cid, CAST(floor(d2 * 1000000.0 + 0.5) AS BIGINT) AS d2q
      FROM (
        SELECT vec_id, m, cid, d2,
               row_number() OVER (PARTITION BY vec_id, m
                                  ORDER BY round(d2, 9), cid) AS rn
        FROM dists
      ) WHERE rn = 1
    )
    SELECT CAST(m AS BIGINT) AS m,
           CAST(count(*) AS BIGINT) AS n_vecs,
           CAST({hd('CAST(sum(d2q) AS HUGEINT)', 'count(*)')} AS BIGINT)
             AS mean_d2_micro,
           CAST(max(d2q) AS BIGINT) AS max_d2_micro,
           CAST(count(DISTINCT cid) AS BIGINT) AS n_codewords_used
    FROM assigned GROUP BY m ORDER BY m
    """


@register("embedding_pq_distortion_audit", oracle=_pq_distortion_oracle())
def embedding_pq_distortion_audit(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-subspace quantization distortion of the production PQ
    codebook: for each of the M=4 subspaces, the mean and max squared
    distance between a vector's sub-block and its assigned codeword,
    plus how many of the 8 codewords the assignment actually uses —
    the index-quality report behind ``similarity_pq_adc_topk`` /
    ``similarity_ivfpq_topk`` (Jégou, Douze & Schmid 2011: ADC error
    is bounded by exactly this quantization distortion). A subspace
    with high distortion or dead codewords is where recall leaks and
    the codebook needs re-training.

    Derivation sharing: the subspace/codebook head is
    ``similarity._pq_sub_cb`` — the SAME object the ADC search scans,
    extracted (not rewritten) in round 13; codeword assignment reuses
    the (round(d2, 9), cid) argmin tie-break verbatim.

    Exactness: the winning distance quantizes once at micro (floor
    +0.5 of the deterministically-selected double), then all
    aggregates are exact integers with ONE half-up mean division.

    Scale shape: the distance computation is the ADC assign stage
    (vectors x 8 codewords, codebook broadcast, map-side); the audit
    aggregate is 4-key bounded. 4 rows out.
    """
    from .similarity import _pq_sub_cb

    t = Tables(spark, sf_dir)
    sub, cb = _pq_sub_cb(t)
    d2 = F.aggregate(
        F.zip_with(F.col("sv"), F.col("cv"), lambda x, y: (x - y) * (x - y)),
        F.lit(0.0),
        lambda acc, x: acc + x,
    )
    assigned = (
        sub.join(F.broadcast(cb), "m")
        .select("vec_id", "m", "cid", d2.alias("d2"))
        .groupBy("vec_id", "m")
        .agg(
            F.min(
                F.struct(
                    F.round(F.col("d2"), 9).alias("d2r"),
                    F.col("cid").alias("cid"),
                    F.col("d2").alias("d2"),
                )
            ).alias("b")
        )
        .select(
            "m",
            F.col("b.cid").alias("cid"),
            F.floor(F.col("b.d2") * F.lit(1e6) + F.lit(0.5)).cast("long").alias(
                "d2q"
            ),
        )
    )
    return (
        assigned.groupBy("m")
        .agg(
            F.count(F.lit(1)).cast("long").alias("n_vecs"),
            halfup_div(F.sum(dec38(F.col("d2q"))), dec38(F.count(F.lit(1))))
            .cast("long")
            .alias("mean_d2_micro"),
            F.max("d2q").alias("max_d2_micro"),
            F.countDistinct("cid").cast("long").alias("n_codewords_used"),
        )
        .select(F.col("m").cast("long").alias("m"), "n_vecs", "mean_d2_micro",
                "max_d2_micro", "n_codewords_used")
        .orderBy("m")
    )
