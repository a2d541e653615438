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
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from ..functions.exact import dec38, halfup_div, sql_halfup_div
from ..registry import register
from ..tables import Tables


# ---------------------------------------------------------------------------
# 3. Delete-one-block jackknife of the Youden-optimal threshold
# ---------------------------------------------------------------------------

YJ_BLOCKS = 32


def _youden_jk_oracle() -> str:
    from .ml import _scored_labeled_sql

    hd = sql_halfup_div
    return (
        _scored_labeled_sql()
        + f"""
    , gb AS (
      SELECT score_q, CAST(doc_id % {YJ_BLOCKS} AS BIGINT) AS b,
             CAST(count(*) AS BIGINT) AS nb,
             CAST(sum(label) AS BIGINT) AS posb
      FROM scored GROUP BY 1, 2
    ), grid AS (
      SELECT score_q, CAST(sum(nb) AS BIGINT) AS n,
             CAST(sum(posb) AS BIGINT) AS pos
      FROM gb GROUP BY 1
    ), btot AS (
      SELECT b, CAST(sum(nb) AS BIGINT) AS nb_tot,
             CAST(sum(posb) AS BIGINT) AS posb_tot
      FROM gb GROUP BY b
    ), tot AS (
      SELECT CAST(sum(n) AS BIGINT) AS nn, CAST(sum(pos) AS BIGINT) AS p
      FROM grid
    ), reps AS (
      SELECT -1 AS b, 0::BIGINT AS nb_tot, 0::BIGINT AS posb_tot FROM tot
      UNION ALL SELECT b, nb_tot, posb_tot FROM btot
    ), delgrid AS (
      SELECT r.b, g.score_q AS v,
             g.n - coalesce(x.nb, 0) AS n_r,
             g.pos - coalesce(x.posb, 0) AS pos_r
      FROM reps r JOIN grid g ON true
      LEFT JOIN gb x ON x.b = r.b AND x.score_q = g.score_q
    ), cum AS (
      SELECT d.b, d.v,
             sum(d.n_r) OVER (PARTITION BY d.b ORDER BY d.v DESC
               ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS n_sel,
             sum(d.pos_r) OVER (PARTITION BY d.b ORDER BY d.v DESC
               ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS tp
      FROM delgrid d
    ), jv AS (
      SELECT c.b, c.v, c.n_sel, c.tp,
             (t.p - r.posb_tot) AS pp,
             (t.nn - r.nb_tot) - (t.p - r.posb_tot) AS qq
      FROM cum c JOIN reps r ON r.b = c.b, tot t
    ), jm AS (
      SELECT b, v,
             {hd('1000000::HUGEINT * (CAST(tp AS HUGEINT) * qq - (n_sel - tp) * CAST(pp AS HUGEINT))',
                 'CAST(pp AS HUGEINT) * qq')} AS j_micro
      FROM jv WHERE pp > 0 AND qq > 0
    ), best AS (
      SELECT b, v, j_micro FROM (
        SELECT b, v, j_micro,
               row_number() OVER (PARTITION BY b
                 ORDER BY j_micro DESC, v ASC) AS rn
        FROM jm
      ) WHERE rn = 1
    ), full_b AS (
      SELECT v AS thr_full, j_micro AS j_full FROM best WHERE b = -1
    ), jk AS (
      SELECT CAST(count(*) AS BIGINT) AS n_blocks,
             CAST(min(v) AS BIGINT) AS thr_jk_min,
             CAST(max(v) AS BIGINT) AS thr_jk_max,
             CAST(count(DISTINCT v) AS BIGINT) AS n_distinct_thr,
             CAST(sum(j_micro) AS HUGEINT) AS sj
      FROM best WHERE b >= 0
    ), jk2 AS (
      SELECT k.*, {hd('k.sj', 'k.n_blocks')} AS jbar FROM jk k
    ), var_ AS (
      SELECT CAST(sum((b.j_micro - k.jbar) * (b.j_micro - k.jbar))
                  AS HUGEINT) AS ss
      FROM best b, jk2 k WHERE b.b >= 0
    )
    SELECT k.n_blocks, CAST(f.thr_full AS BIGINT) AS thr_full,
           CAST(f.j_full AS BIGINT) AS j_full_micro,
           k.thr_jk_min, k.thr_jk_max, k.n_distinct_thr,
           CAST(k.jbar AS BIGINT) AS j_jk_mean_micro,
           CAST({hd('(k.n_blocks - 1) * v.ss', 'k.n_blocks')} AS BIGINT)
             AS jk_var_micro2
    FROM jk2 k, full_b f, var_ v
    """
    )


@register("ml_youden_threshold_jackknife", oracle=_youden_jk_oracle())
def ml_youden_threshold_jackknife(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Delete-one-block jackknife of the Youden-optimal operating
    point: re-derive the J-maximizing threshold on each of 32
    leave-one-block-out replicas (blocks = doc_id % 32, the
    ``stats_jackknife_mean_ci`` RNG-free resampling convention) and
    report how stable the DEPLOYED number actually is — the min/max/
    distinct-count of the replica thresholds and the jackknife
    variance of J. ``ml_youden_optimal_threshold`` publishes a single
    point; this says whether that point is a plateau (one distinct
    threshold across replicas) or a knife-edge the next data batch
    will move (Efron & Stein 1981).

    Exactness: the full grid and every replica grid are exact integer
    counts (replica = full minus the block's per-score contributions,
    computed once from ONE (score, block) partial aggregate); J
    compares as ONE half-up micro division of cross-multiplied
    integers per candidate; the full data rides as replica b = -1 so
    every cumulative is block-partitioned (no global window). The
    jackknife variance is pure integer arithmetic on the quantized
    replica maxima.

    Scale shape: one scored scan to the (score, block) grid
    (<= 10001 x 32 POST-AGGREGATION rows); cumulatives and rankings
    partition by replica (hash-partitioned windows, never
    SinglePartition); 1 row out.
    """
    from pyspark.sql.window import Window

    from .ml import _scored_labeled

    t = Tables(spark, sf_dir)
    gb = (
        _scored_labeled(t)
        .groupBy(
            "score_q", (F.col("doc_id") % YJ_BLOCKS).cast("long").alias("b")
        )
        .agg(F.count(F.lit(1)).alias("nb"), F.sum("label").alias("posb"))
        .localCheckpoint(eager=True)  # bounded grid; many consumers
    )
    grid = gb.groupBy("score_q").agg(
        F.sum("nb").alias("n"), F.sum("posb").alias("pos")
    )
    btot = gb.groupBy("b").agg(
        F.sum("nb").alias("nb_tot"), F.sum("posb").alias("posb_tot")
    )
    tot = grid.agg(F.sum("n").alias("nn"), F.sum("pos").alias("p"))
    reps = btot.unionByName(
        tot.select(
            F.lit(-1).cast("long").alias("b"),
            F.lit(0).cast("long").alias("nb_tot"),
            F.lit(0).cast("long").alias("posb_tot"),
        )
    )
    delgrid = (
        grid.crossJoin(F.broadcast(reps))
        .join(
            gb.select(
                F.col("b").alias("b_x"),
                F.col("score_q").alias("v_x"),
                "nb",
                "posb",
            ),
            (F.col("b_x") == F.col("b")) & (F.col("v_x") == F.col("score_q")),
            "left",
        )
        .select(
            "b",
            F.col("score_q").alias("v"),
            (F.col("n") - F.coalesce(F.col("nb"), F.lit(0))).alias("n_r"),
            (F.col("pos") - F.coalesce(F.col("posb"), F.lit(0))).alias("pos_r"),
        )
    )
    w = Window.partitionBy("b").orderBy(F.col("v").desc()).rowsBetween(
        Window.unboundedPreceding, 0
    )
    cum = delgrid.select(
        "b",
        "v",
        F.sum("n_r").over(w).alias("n_sel"),
        F.sum("pos_r").over(w).alias("tp"),
    )
    jv = (
        cum.join(
            reps.select(F.col("b"), "nb_tot", "posb_tot"), "b"
        )
        .crossJoin(F.broadcast(tot))
        .select(
            "b",
            "v",
            "n_sel",
            "tp",
            (F.col("p") - F.col("posb_tot")).alias("pp"),
            ((F.col("nn") - F.col("nb_tot")) - (F.col("p") - F.col("posb_tot")))
            .alias("qq"),
        )
        .filter((F.col("pp") > 0) & (F.col("qq") > 0))
    )
    m6 = F.lit(1_000_000).cast("decimal(38,0)")
    jm = jv.select(
        "b",
        "v",
        halfup_div(
            m6
            * (
                dec38(F.col("tp")) * F.col("qq")
                - dec38(F.col("n_sel") - F.col("tp")) * F.col("pp")
            ),
            dec38(F.col("pp")) * F.col("qq"),
        ).alias("j_micro"),
    )
    wb = Window.partitionBy("b").orderBy(F.col("j_micro").desc(), F.col("v").asc())
    best = (
        jm.withColumn("rn", F.row_number().over(wb))
        .filter(F.col("rn") == 1)
        .select("b", "v", "j_micro")
        .localCheckpoint(eager=True)  # 33 rows; consumed four ways
    )
    full_b = best.filter(F.col("b") == -1).select(
        F.col("v").alias("thr_full"), F.col("j_micro").alias("j_full")
    )
    jkrows = best.filter(F.col("b") >= 0)
    jk = jkrows.agg(
        F.count(F.lit(1)).cast("long").alias("n_blocks"),
        F.min("v").cast("long").alias("thr_jk_min"),
        F.max("v").cast("long").alias("thr_jk_max"),
        F.countDistinct("v").cast("long").alias("n_distinct_thr"),
        F.sum("j_micro").alias("sj"),
    ).select(
        "*", halfup_div(F.col("sj"), dec38(F.col("n_blocks"))).alias("jbar")
    )
    var_ = (
        jkrows.crossJoin(F.broadcast(jk.select("jbar")))
        .select(
            ((F.col("j_micro") - F.col("jbar")) * (F.col("j_micro") - F.col("jbar")))
            .alias("d2")
        )
        .agg(F.sum("d2").alias("ss"))
    )
    return (
        jk.crossJoin(F.broadcast(full_b))
        .crossJoin(F.broadcast(var_))
        .select(
            "n_blocks",
            F.col("thr_full").cast("long").alias("thr_full"),
            F.col("j_full").cast("long").alias("j_full_micro"),
            "thr_jk_min",
            "thr_jk_max",
            "n_distinct_thr",
            F.col("jbar").cast("long").alias("j_jk_mean_micro"),
            halfup_div(
                dec38(F.col("n_blocks") - 1) * F.col("ss"), dec38(F.col("n_blocks"))
            )
            .cast("long")
            .alias("jk_var_micro2"),
        )
    )


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
