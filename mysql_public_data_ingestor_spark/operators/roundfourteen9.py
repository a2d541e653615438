"""Round-14 direct registrations, batch AD (ANN-graph symmetry,
degree-distribution criticality, recurrence structure, binary-gate
association, distributional affinity, and bias-corrected association
strength).

Six window-slot completions, each oracle-paired, replica-pinned and
plan-barred in ``tests/test_roundfourteen9.py`` (same-commit gate
rule; the ONE new single-partition allowlist entry —
``events_recurrence_rate_daily``, the bounded value-grid median
class — lands in ``tests/test_plans.py`` in the same commit). Every
name was checked against the full 605-name registry inventory before
design (the SCALE §5j.7 authoring rule):

* ``similarity_knn_reciprocity_audit`` — share of directed cosine
  kNN edges that are mutual, over the hubness-audit hash sample.
* ``stats_phi_yule_q_gates`` — phi coefficient and Yule's Q for each
  quality-gate pair (the 2x2 association shelf).
* ``stats_bhattacharyya_hellinger_priority`` — Bhattacharyya
  coefficient / Hellinger distance between urgent and non-urgent
  discount distributions.
* ``stats_cramers_v_bias_corrected`` — Bergsma (2013) bias-corrected
  Cramer's V for priority x status.

``events_recurrence_rate_daily`` lives in
``operators/daily_spectral.py`` with the other daily-series queries.

Reference parity note: the reference (Go ingestion pipeline,
``/root/reference/main.go``) has no analytics; these extend SURVEY
§2.C similarity / graph / time-series / warehouse statistics.

``stats_cramers_v_bias_corrected`` and ``stats_phi_yule_q_gates`` live
in ``operators/stats_tables.py``;
``stats_bhattacharyya_hellinger_priority`` lives in
``operators/stats_dist.py`` with the other stats queries.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from ..functions.exact import dec38, halfup_div, sql_halfup_div
from ..registry import register
from ..tables import Tables

# ---------------------------------------------------------------------------
# 1. kNN reciprocity audit over the hubness hash sample
# ---------------------------------------------------------------------------


def _recip_oracle() -> str:
    from .roundtwelve10 import HUB_BUCKETS, HUB_K, HUB_PER_BUCKET

    hd = sql_halfup_div
    B, CAP, K = HUB_BUCKETS, HUB_PER_BUCKET, HUB_K
    return f"""
    WITH ranked AS (
      SELECT vec_id, embedding,
             row_number() OVER (PARTITION BY
               ('0x' || substr(sha256(CAST(vec_id AS VARCHAR)), 1, 15))::BIGINT % {B}
               ORDER BY ('0x' || substr(sha256('hub|' || CAST(vec_id AS VARCHAR)),
                         1, 15))::BIGINT, vec_id) AS rnk
      FROM embeddings
    ), vq AS (
      SELECT vec_id,
             generate_subscripts(embedding, 1) AS pos,
             CAST(floor(unnest(embedding::DOUBLE[]) * 1000000.0 + 0.5) AS BIGINT)
               AS xq
      FROM ranked WHERE rnk <= {CAP}
    ), norms AS (
      SELECT vec_id, CAST(sum(xq * xq) AS HUGEINT) AS n2
      FROM vq GROUP BY vec_id
    ), dots AS (
      SELECT a.vec_id AS va, b.vec_id AS vb,
             CAST(sum(a.xq * b.xq) AS HUGEINT) AS dot
      FROM vq a JOIN vq b ON a.pos = b.pos AND a.vec_id < b.vec_id
      GROUP BY a.vec_id, b.vec_id
    ), cos2 AS (
      SELECT va, vb,
             CAST(floor(CAST(dot AS DOUBLE)
                  / (sqrt(CAST(na.n2 AS DOUBLE)) * sqrt(CAST(nb.n2 AS DOUBLE)))
                  * 1000000.0) AS BIGINT) AS cq
      FROM dots
      JOIN norms na ON na.vec_id = va
      JOIN norms nb ON nb.vec_id = vb
      WHERE na.n2 > 0 AND nb.n2 > 0
    ), sym AS (
      SELECT va, vb, cq FROM cos2
      UNION ALL SELECT vb, va, cq FROM cos2
    ), nbr AS (
      SELECT va, vb,
             row_number() OVER (PARTITION BY va ORDER BY cq DESC, vb) AS r
      FROM sym
    ), knn AS (
      SELECT va, vb, r FROM nbr WHERE r <= {K}
    ), mut AS (
      SELECT a.va, a.vb, a.r AS r_ab, b.r AS r_ba
      FROM knn a JOIN knn b ON b.va = a.vb AND b.vb = a.va
    ), agg AS (
      SELECT
        (SELECT CAST(count(DISTINCT va) AS BIGINT) FROM knn) AS n_sample,
        (SELECT CAST(count(*) AS BIGINT) FROM knn) AS n_directed,
        (SELECT CAST(count(*) AS BIGINT) FROM mut) AS n_mutual,
        (SELECT CAST(count(*) AS BIGINT) FROM mut WHERE r_ab = 1 AND r_ba = 1)
          AS n_nn_mutual_x2
    )
    SELECT n_sample, CAST({K} AS BIGINT) AS k, n_directed, n_mutual,
           CAST({hd('1000000::HUGEINT * n_mutual', 'n_directed')} AS BIGINT)
             AS reciprocity_micro,
           CAST({hd('1000000::HUGEINT * n_nn_mutual_x2', 'n_sample')} AS BIGINT)
             AS nn_mutual_micro
    FROM agg
    """


@register("similarity_knn_reciprocity_audit", oracle=_recip_oracle())
def similarity_knn_reciprocity_audit(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Reciprocity of the directed cosine kNN graph over the
    deterministic 256-vector hash sample: the share of "a lists b in
    its top-k" edges where b also lists a, plus the share of points
    whose single nearest neighbor is MUTUAL. Low reciprocity is the
    operational face of hubness (``embedding_knn_hubness_audit``
    measures the k-occurrence skew; this measures the asymmetry it
    induces) and directly prices two pipeline choices: mutual-kNN
    pruning for dedup graphs and the reliability of symmetric-kNN
    assumptions in graph-based ANN indexes (Radovanovic et al. 2010;
    the mutual-NN condition is also the classic Fraley-Raftery
    clusterability signal).

    Determinism & exactness: the sample, quantized cosines and
    (cq desc, vec_id) neighbor ranking are the hubness-audit
    construction verbatim (re-stated per-op by that family's
    convention); edge and mutual-pair counts are exact integers off
    the self-join of the ranked edge list; two half-up micro
    divisions total.

    Scale shape: sample-bounded everywhere (256^2/2 x dim pair join;
    anchor-partitioned ranking windows); the audit cost does not grow
    with corpus size. 1 row out.
    """
    from pyspark.sql.window import Window

    from .roundtwelve10 import HUB_BUCKETS, HUB_K, HUB_PER_BUCKET

    B, CAP, K = HUB_BUCKETS, HUB_PER_BUCKET, HUB_K
    t = Tables(spark, sf_dir)
    sha = lambda c: F.conv(F.substring(F.sha2(c, 256), 1, 15), 16, 10).cast(  # noqa: E731
        "long"
    )
    w = Window.partitionBy("bkt").orderBy("hkey", "vec_id")
    ranked = (
        t.embeddings.select(
            "vec_id",
            "embedding",
            (sha(F.col("vec_id").cast("string")) % B).alias("bkt"),
            sha(F.concat(F.lit("hub|"), F.col("vec_id").cast("string"))).alias("hkey"),
        )
        .withColumn("rnk", F.row_number().over(w))
        .filter(F.col("rnk") <= CAP)
    )
    vq = ranked.select(
        "vec_id",
        F.posexplode(F.col("embedding").cast("array<double>")).alias("pos0", "x"),
    ).select(
        "vec_id",
        (F.col("pos0") + 1).alias("pos"),
        F.floor(F.col("x") * 1000000.0 + 0.5).cast("long").alias("xq"),
    )
    norms = vq.groupBy("vec_id").agg(
        F.sum(dec38(F.col("xq") * F.col("xq"))).alias("n2")
    )
    a = vq.select(F.col("vec_id").alias("va"), "pos", F.col("xq").alias("xa"))
    bq = vq.select(F.col("vec_id").alias("vb"), "pos", F.col("xq").alias("xb"))
    dots = (
        a.join(bq, ["pos"])
        .filter(F.col("va") < F.col("vb"))
        .groupBy("va", "vb")
        .agg(F.sum(dec38(F.col("xa") * F.col("xb"))).alias("dot"))
    )
    na = norms.select(F.col("vec_id").alias("va"), F.col("n2").alias("na"))
    nb = norms.select(F.col("vec_id").alias("vb"), F.col("n2").alias("nb"))
    cos2 = (
        dots.join(F.broadcast(na), "va")
        .join(F.broadcast(nb), "vb")
        .filter((F.col("na") > 0) & (F.col("nb") > 0))
        .select(
            "va",
            "vb",
            F.floor(
                F.col("dot").cast("double")
                / (
                    F.sqrt(F.col("na").cast("double"))
                    * F.sqrt(F.col("nb").cast("double"))
                )
                * F.lit(1e6)
            )
            .cast("long")
            .alias("cq"),
        )
    )
    sym = cos2.unionAll(
        cos2.select(F.col("vb").alias("va"), F.col("va").alias("vb"), "cq")
    )
    wn = Window.partitionBy("va").orderBy(F.col("cq").desc(), "vb")
    knn = sym.withColumn("r", F.row_number().over(wn)).filter(F.col("r") <= K)
    rev = knn.select(
        F.col("va").alias("vb"), F.col("vb").alias("va"), F.col("r").alias("r_ba")
    )
    mut = knn.join(rev, ["va", "vb"])
    counts = knn.agg(
        F.countDistinct("va").cast("long").alias("n_sample"),
        F.count(F.lit(1)).cast("long").alias("n_directed"),
    )
    mcounts = mut.agg(
        F.count(F.lit(1)).cast("long").alias("n_mutual"),
        F.sum(
            F.when((F.col("r") == 1) & (F.col("r_ba") == 1), 1).otherwise(0)
        )
        .cast("long")
        .alias("n_nn_mutual_x2"),
    )
    m6 = F.lit(1_000_000).cast("decimal(38,0)")
    return counts.crossJoin(F.broadcast(mcounts)).select(
        "n_sample",
        F.lit(K).cast("long").alias("k"),
        "n_directed",
        "n_mutual",
        halfup_div(m6 * dec38(F.col("n_mutual")), dec38(F.col("n_directed")))
        .cast("long")
        .alias("reciprocity_micro"),
        halfup_div(m6 * dec38(F.col("n_nn_mutual_x2")), dec38(F.col("n_sample")))
        .cast("long")
        .alias("nn_mutual_micro"),
    )
