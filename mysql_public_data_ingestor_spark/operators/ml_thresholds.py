"""Operating points of the hashed-feature quality classifier: the
threshold sweep, Youden's J and its jackknife, cost-optimal, F-beta,
MCC and equal-error-rate thresholds, recall at a precision floor,
precision-recall gain, PPV under prevalence shift, split-conformal
thresholds, the transfer and fairness audits, and the decision and
cost curves.

Every query reads the shared scored frame of ``ml_scores``; the
score-grid queries read its ``score_grid`` and ``roc_cum``.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from ..functions.exact import dec38, halfup_div, sql_halfup_div
from ..registry import register
from ..tables import Tables
from .ml_scores import (
    confusion_df,
    confusion_sql,
    roc_cum,
    score_grid,
    scored_labeled,
    scored_labeled_sql,
    sql_roc_cum,
)

# ---------------------------------------------------------------------------
# Classifier threshold sweep (PR table; completes the eval trio)
# ---------------------------------------------------------------------------

SWEEP_THRESHOLDS = [1000, 3000, 5000, 7000, 9000]  # score_q cut points


def _sweep_oracle() -> str:
    from ..functions.exact import sql_round_int_ratio

    thr = ", ".join(f"({t})" for t in SWEEP_THRESHOLDS)
    prec = sql_round_int_ratio("sum(CASE WHEN score_q >= t AND label = 1 THEN 1 ELSE 0 END)",
                               "greatest(sum(CASE WHEN score_q >= t THEN 1 ELSE 0 END), 1)")
    rec = sql_round_int_ratio("sum(CASE WHEN score_q >= t AND label = 1 THEN 1 ELSE 0 END)",
                              "greatest(sum(label), 1)")
    return (
        scored_labeled_sql()
        + f"""
    SELECT CAST(t AS BIGINT) AS threshold_q,
           CAST(sum(CASE WHEN score_q >= t AND label = 1 THEN 1 ELSE 0 END) AS BIGINT) AS tp,
           CAST(sum(CASE WHEN score_q >= t AND label = 0 THEN 1 ELSE 0 END) AS BIGINT) AS fp,
           CAST(sum(CASE WHEN score_q < t AND label = 1 THEN 1 ELSE 0 END) AS BIGINT) AS fn,
           CAST(sum(CASE WHEN score_q < t AND label = 0 THEN 1 ELSE 0 END) AS BIGINT) AS tn,
           {prec} AS precision_,
           {rec} AS recall_
    FROM scored, (VALUES {thr}) s(t)
    GROUP BY t
    """
    )


@register("ml_confusion_threshold_sweep", oracle=_sweep_oracle())
def ml_confusion_threshold_sweep(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Confusion counts and precision/recall of the hashed-feature
    quality classifier at five fixed decision thresholds — the
    operating-point table that completes the eval trio
    (``ml_calibration_curve`` = is the score honest,
    ``ml_auc_by_lang`` = does it rank, this = where to CUT).

    Scale: the scored/labeled table is the same zero-join scan the
    siblings use; the sweep crosses it with a 5-row literal threshold
    table (broadcast) and reduces to 5 rows of integer counts —
    precision/recall are exact half-up integer ratios, so the whole
    artifact is hash-stable.
    """
    from ..functions.exact import round_int_ratio

    t = Tables(spark, sf_dir)
    s = scored_labeled(t)
    # 5-row literal threshold table
    thr_df = s.sparkSession.range(1).select(
        F.explode(F.array(*[F.lit(v).cast("long") for v in SWEEP_THRESHOLDS])).alias(
            "threshold_q"
        )
    )
    crossed = s.crossJoin(F.broadcast(thr_df))
    pred_pos = F.col("score_q") >= F.col("threshold_q")
    agg = crossed.groupBy("threshold_q").agg(
        F.sum(F.when(pred_pos & (F.col("label") == 1), 1).otherwise(0)).cast("long").alias("tp"),
        F.sum(F.when(pred_pos & (F.col("label") == 0), 1).otherwise(0)).cast("long").alias("fp"),
        F.sum(F.when(~pred_pos & (F.col("label") == 1), 1).otherwise(0)).cast("long").alias("fn"),
        F.sum(F.when(~pred_pos & (F.col("label") == 0), 1).otherwise(0)).cast("long").alias("tn"),
    )
    return agg.select(
        "threshold_q",
        "tp",
        "fp",
        "fn",
        "tn",
        round_int_ratio(F.col("tp"), F.greatest(F.col("tp") + F.col("fp"), F.lit(1))).alias(
            "precision_"
        ),
        round_int_ratio(F.col("tp"), F.greatest(F.col("tp") + F.col("fn"), F.lit(1))).alias(
            "recall_"
        ),
    )


# ---------------------------------------------------------------------------
# Youden-J optimal threshold over the full score domain
# ---------------------------------------------------------------------------


def _youden_oracle() -> str:
    return (
        scored_labeled_sql()
        + """
    , dv AS (
      SELECT score_q, CAST(count(*) AS BIGINT) AS cnt,
             CAST(sum(label) AS BIGINT) AS cpos
      FROM scored GROUP BY score_q
    ), cum AS (
      SELECT score_q,
             coalesce(sum(cpos) OVER (ORDER BY score_q
               ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0) AS pos_lt,
             coalesce(sum(cnt - cpos) OVER (ORDER BY score_q
               ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0) AS neg_lt,
             sum(cpos) OVER () AS n_pos,
             sum(cnt - cpos) OVER () AS n_neg
      FROM dv
    ), j AS (
      SELECT score_q AS threshold_q,
             n_pos - pos_lt AS tp, n_neg - neg_lt AS fp,
             pos_lt AS fn, neg_lt AS tn, n_pos, n_neg,
             (2 * (n_pos - pos_lt) * 1000000000 + n_pos) // (2 * n_pos)
               - (2 * (n_neg - neg_lt) * 1000000000 + n_neg) // (2 * n_neg)
               AS j_u
      FROM cum WHERE n_pos > 0 AND n_neg > 0
    )
    SELECT CAST(threshold_q AS BIGINT) AS threshold_q,
           CAST(tp AS BIGINT) AS tp, CAST(fp AS BIGINT) AS fp,
           CAST(fn AS BIGINT) AS fn, CAST(tn AS BIGINT) AS tn,
           CAST((2 * tp * 1000000000 + n_pos) // (2 * n_pos) AS BIGINT)
             / 1000000000.0 AS tpr,
           CAST((2 * fp * 1000000000 + n_neg) // (2 * n_neg) AS BIGINT)
             / 1000000000.0 AS fpr,
           CAST(j_u AS BIGINT) / 1000000000.0 AS youden_j
    FROM j
    ORDER BY j_u DESC, threshold_q
    LIMIT 1
    """
    )


@register("ml_youden_optimal_threshold", oracle=_youden_oracle())
def ml_youden_optimal_threshold(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Youden-J optimal operating point of the quality classifier:
    sweep EVERY distinct score as the >=-threshold, J(t) = TPR - FPR,
    return the maximizing threshold (ties -> smallest) with its full
    confusion row — the operating-point selector the fixed-grid sweep
    (``ml_confusion_threshold_sweep``) and the ranking metrics (AUC =
    integral over all J) bracket but don't answer.

    TPR/FPR per candidate threshold come from the same score-domain
    cumulative the AUC uses (tp(t) = n_pos - pos_below), each
    quantized half-up 1e-9 integers, so J and the argmax are
    cross-engine exact; the argmax is a (J desc, threshold) top-1 on
    the <= 10001-value domain, never a row-scaled sort.
    """
    t = Tables(spark, sf_dir)
    w_prev = Window.orderBy("score_q").rowsBetween(Window.unboundedPreceding, -1)
    w_all = Window.orderBy("score_q").rowsBetween(
        Window.unboundedPreceding, Window.unboundedFollowing
    )
    cum = score_grid(t).select(
        "score_q",
        F.coalesce(F.sum("pos").over(w_prev), F.lit(0)).alias("pos_lt"),
        F.coalesce(F.sum(F.col("n") - F.col("pos")).over(w_prev), F.lit(0)).alias(
            "neg_lt"
        ),
        F.sum("pos").over(w_all).alias("n_pos"),
        F.sum(F.col("n") - F.col("pos")).over(w_all).alias("n_neg"),
    )

    def hup9(num, den):
        return ((2 * num * F.lit(10**9) + den) - (2 * num * F.lit(10**9) + den) % (2 * den)) / (
            2 * den
        )

    tp = F.col("n_pos") - F.col("pos_lt")
    fp = F.col("n_neg") - F.col("neg_lt")
    j = cum.filter((F.col("n_pos") > 0) & (F.col("n_neg") > 0)).select(
        F.col("score_q").alias("threshold_q"),
        tp.alias("tp"),
        fp.alias("fp"),
        F.col("pos_lt").alias("fn"),
        F.col("neg_lt").alias("tn"),
        hup9(tp, F.col("n_pos")).cast("long").alias("tpr_u"),
        hup9(fp, F.col("n_neg")).cast("long").alias("fpr_u"),
    )
    j = j.withColumn("j_u", F.col("tpr_u") - F.col("fpr_u"))
    return (
        j.orderBy(F.col("j_u").desc(), "threshold_q")
        .limit(1)
        .select(
            "threshold_q",
            "tp",
            "fp",
            "fn",
            "tn",
            (F.col("tpr_u") / F.lit(1e9)).alias("tpr"),
            (F.col("fpr_u") / F.lit(1e9)).alias("fpr"),
            (F.col("j_u") / F.lit(1e9)).alias("youden_j"),
        )
    )


# ---------------------------------------------------------------------------
# Delete-one-block jackknife of the Youden-optimal threshold
# ---------------------------------------------------------------------------

YJ_BLOCKS = 32


def _youden_jk_oracle() -> str:
    hd = sql_halfup_div
    return (
        scored_labeled_sql()
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
    t = Tables(spark, sf_dir)
    gb = (
        scored_labeled(t)
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
# Cost-sensitive optimal threshold (expected-cost minimizer)
# ---------------------------------------------------------------------------

COST_FP = 1
COST_FN = 5


def _cost_threshold_oracle() -> str:
    return (
        scored_labeled_sql()
        + f"""
    , grid AS (
      SELECT score_q,
             CAST(count(*) AS BIGINT) AS cnt,
             CAST(sum(label) AS BIGINT) AS cpos
      FROM scored GROUP BY score_q
    ), tot AS (
      SELECT CAST(sum(cnt) AS BIGINT) AS n, CAST(sum(cpos) AS BIGINT) AS pos
      FROM grid
    ), cum AS (
      SELECT score_q,
             sum(cnt) OVER (ORDER BY score_q DESC) AS pred_pos,
             sum(cpos) OVER (ORDER BY score_q DESC) AS tp
      FROM grid
    ), costs AS (
      SELECT c.score_q AS threshold,
             CAST(c.tp AS BIGINT) AS tp,
             CAST(c.pred_pos - c.tp AS BIGINT) AS fp,
             CAST(t.pos - c.tp AS BIGINT) AS fn,
             CAST(t.n - c.pred_pos - (t.pos - c.tp) AS BIGINT) AS tn,
             CAST({COST_FP} * (c.pred_pos - c.tp)
                  + {COST_FN} * (t.pos - c.tp) AS BIGINT) AS cost
      FROM cum c, tot t
    )
    SELECT threshold, tp, fp, fn, tn, cost
    FROM costs ORDER BY cost, threshold LIMIT 1
    """
    )


@register("ml_cost_optimal_threshold", oracle=_cost_threshold_oracle())
def ml_cost_optimal_threshold(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Cost-sensitive operating point: the score threshold minimizing
    expected cost C_FP*FP + C_FN*FN (false negatives 5x false
    positives — the asymmetric regime of a KEEP/DROP corpus gate,
    where discarding a good document costs more than keeping a bad
    one) — the decision-theoretic selector beside the symmetric
    Youden J (``ml_youden_optimal_threshold``): same ROC cumulative,
    different objective, and the two chosen thresholds differ exactly
    when the cost ratio says they should.

    Confusion counts come from one descending cumulative over the
    <= 10001-value score grid (bounded domain, same class as Youden);
    cost is exact integer arithmetic with literal weights; the argmin
    is a TakeOrdered(1) with the threshold as total-order tiebreak.
    """
    cum, tot = roc_cum(Tables(spark, sf_dir))
    costs = cum.crossJoin(F.broadcast(tot)).select(
        F.col("v").alias("threshold"),
        F.col("tp"),
        (F.col("n_sel") - F.col("tp")).alias("fp"),
        (F.col("p") - F.col("tp")).alias("fn"),
        (F.col("nn") - F.col("n_sel") - (F.col("p") - F.col("tp"))).alias("tn"),
        (
            F.lit(COST_FP) * (F.col("n_sel") - F.col("tp"))
            + F.lit(COST_FN) * (F.col("p") - F.col("tp"))
        ).alias("cost"),
    )
    return costs.orderBy("cost", "threshold").limit(1)


# ---------------------------------------------------------------------------
# F-beta-optimal thresholds over the score grid
# ---------------------------------------------------------------------------

FBETA_SQ = ((1, 4), (1, 1), (4, 1))  # beta^2 as (num, den): 0.25, 1, 4


def _fbeta_oracle() -> str:
    hd = sql_halfup_div
    betas = ", ".join(f"({n}, {d})" for n, d in FBETA_SQ)
    return (
        scored_labeled_sql()
        + f"""
    , grid AS (
      SELECT score_q, CAST(count(*) AS BIGINT) AS n,
             CAST(sum(label) AS BIGINT) AS pos
      FROM scored GROUP BY score_q
    ), tot AS (
      SELECT CAST(sum(n) AS BIGINT) AS nn, CAST(sum(pos) AS BIGINT) AS p
      FROM grid
    ), cum AS (
      -- from the top: selecting score >= v
      SELECT score_q AS v,
             sum(n) OVER (ORDER BY score_q DESC
               ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS n_sel,
             sum(pos) OVER (ORDER BY score_q DESC
               ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS tp
      FROM grid
    ), betas(bn, bd) AS (VALUES {betas}),
    scoredth AS (
      SELECT b.bn, b.bd, c.v, c.n_sel, c.tp,
             (c.n_sel - c.tp) AS fp, (t.p - c.tp) AS fn,
             {hd('1000000::HUGEINT * (b.bd + b.bn) * c.tp',
                 '(b.bd + b.bn) * c.tp + b.bn * (t.p - c.tp)'
                 ' + b.bd * (c.n_sel - c.tp)')} AS f_micro
      FROM cum c, tot t, betas b
      WHERE (b.bd + b.bn) * c.tp + b.bn * (t.p - c.tp)
            + b.bd * (c.n_sel - c.tp) > 0
    ), best AS (
      SELECT bn, bd, v, n_sel, tp, fp, fn, f_micro,
             row_number() OVER (PARTITION BY bn, bd
               ORDER BY f_micro DESC, v ASC) AS r
      FROM scoredth
    )
    SELECT CAST(bn AS BIGINT) AS beta_sq_num, CAST(bd AS BIGINT) AS beta_sq_den,
           CAST(v AS BIGINT) AS best_threshold_q,
           CAST(n_sel AS BIGINT) AS n_selected,
           CAST(tp AS BIGINT) AS tp, CAST(fp AS BIGINT) AS fp,
           CAST(fn AS BIGINT) AS fn,
           CAST(f_micro AS BIGINT) AS fbeta_micro
    FROM best WHERE r = 1 ORDER BY bn * 1.0 / bd
    """
    )


@register("ml_fbeta_optimal_thresholds", _fbeta_oracle())
def ml_fbeta_optimal_thresholds(spark: SparkSession, sf_dir: str) -> DataFrame:
    """F-beta-optimal decision thresholds over the classifier score
    grid for beta^2 in (1/4, 1, 4) — precision-weighted (F0.5),
    balanced (F1) and recall-weighted (F2): F_beta = (1+b^2) TP /
    ((1+b^2) TP + b^2 FN + FP), maximized exactly over every
    achievable threshold. ``ml_youden_optimal_threshold`` and
    ``ml_cost_optimal_threshold`` optimize rate-based objectives; the
    F family is the PREVALENCE-SENSITIVE one a retrieval/filter
    pipeline actually reports, and the three-point spread shows how
    the operating point moves as the objective trades precision for
    recall.

    Exactness: TP/FP/FN come off the descending score-grid cumulative
    (exact integers); each F is ONE half-up micro division with exact
    integer beta^2 = bn/bd weights; the argmax uses (F desc,
    threshold asc) — deterministic, lowest threshold on micro ties.

    Scale shape: one scored scan to the <= 10001-value grid; the
    cumulative and per-beta ranking run over the POST-AGGREGATION
    grid (allowlist class); 3 rows out.
    """
    cum, tot = roc_cum(Tables(spark, sf_dir))
    betas = spark.createDataFrame(
        [(n, d) for n, d in FBETA_SQ], "bn long, bd long"
    )
    den = (
        (F.col("bd") + F.col("bn")) * F.col("tp")
        + F.col("bn") * (F.col("p") - F.col("tp"))
        + F.col("bd") * (F.col("n_sel") - F.col("tp"))
    )
    scoredth = (
        cum.crossJoin(F.broadcast(tot))
        .crossJoin(F.broadcast(betas))
        .filter(den > 0)
        .select(
            "bn",
            "bd",
            "v",
            "n_sel",
            "tp",
            (F.col("n_sel") - F.col("tp")).alias("fp"),
            (F.col("p") - F.col("tp")).alias("fn"),
            halfup_div(
                F.lit(1_000_000).cast("decimal(38,0)")
                * (F.col("bd") + F.col("bn"))
                * F.col("tp"),
                dec38(den),
            )
            .cast("long")
            .alias("f_micro"),
        )
    )
    wb = Window.partitionBy("bn", "bd").orderBy(
        F.col("f_micro").desc(), F.col("v").asc()
    )
    return (
        scoredth.withColumn("r", F.row_number().over(wb))
        .filter(F.col("r") == 1)
        .select(
            F.col("bn").alias("beta_sq_num"),
            F.col("bd").alias("beta_sq_den"),
            F.col("v").cast("long").alias("best_threshold_q"),
            F.col("n_sel").alias("n_selected"),
            "tp",
            "fp",
            "fn",
            F.col("f_micro").alias("fbeta_micro"),
        )
        .orderBy(F.col("beta_sq_num").cast("double") / F.col("beta_sq_den"))
    )


# ---------------------------------------------------------------------------
# Matthews correlation at the softsign midpoint
# ---------------------------------------------------------------------------


def _mcc_oracle() -> str:
    return (
        scored_labeled_sql()
        + ", "
        + confusion_sql()
        + """
    SELECT lang, tp, fp, tn, fn,
           CASE WHEN (tp+fp) = 0 OR (tp+fn) = 0 OR (tn+fp) = 0 OR (tn+fn) = 0
                THEN 0.0
                ELSE CAST(floor(
                  CAST(tp::HUGEINT * tn - fp::HUGEINT * fn AS DOUBLE)
                  / sqrt(CAST((tp+fp)::HUGEINT * (tp+fn) * (tn+fp) * (tn+fn)
                              AS DOUBLE))
                  * 1000000.0 + 0.5) AS BIGINT) / 1000000.0
           END AS mcc
    FROM conf ORDER BY lang
    """
    )


@register("ml_mcc_threshold", oracle=_mcc_oracle())
def ml_mcc_threshold(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Matthews correlation coefficient of the classifier at the
    softsign midpoint threshold, per language — the single-number
    confusion summary that stays honest under class imbalance
    (accuracy and F1 both inflate when one class dominates; MCC is the
    full fourfold-point correlation).

    Exactness: the four confusion cells are exact integers; the MCC
    numerator tp*tn - fp*fn stays in decimal/HUGEINT, and the one
    sqrt + divide run on bit-identical doubles (decimal→double casts
    are correctly rounded on both engines) before 1e-6 quantization.
    Degenerate margins (a zero row/column) define MCC = 0 on both
    sides.

    Scale: shared classifier scan + |langs|-row reduce.
    """
    t = Tables(spark, sf_dir)
    c = confusion_df(t)
    tp, fp, tn, fn = (F.col(x) for x in ("tp", "fp", "tn", "fn"))
    degenerate = (
        ((tp + fp) == 0) | ((tp + fn) == 0) | ((tn + fp) == 0) | ((tn + fn) == 0)
    )
    num = (dec38(tp) * dec38(tn) - dec38(fp) * dec38(fn)).cast("double")
    den = F.sqrt(
        (dec38(tp + fp) * dec38(tp + fn) * dec38(tn + fp) * dec38(tn + fn)).cast(
            "double"
        )
    )
    mcc = F.when(degenerate, F.lit(0.0)).otherwise(
        F.floor(num / den * F.lit(1_000_000.0) + F.lit(0.5)).cast("long")
        / F.lit(1_000_000.0)
    )
    return c.select("lang", "tp", "fp", "tn", "fn", mcc.alias("mcc")).orderBy(
        "lang"
    )


# ---------------------------------------------------------------------------
# Equal error rate with exact bracketing
# ---------------------------------------------------------------------------


def _eer_oracle() -> str:
    return (
        scored_labeled_sql()
        + ", "
        + sql_roc_cum().strip()
        + """
    , pts AS (
      SELECT v, n_sel, tp,
             CAST(n_sel - tp AS DOUBLE) / CAST((SELECT nn - p FROM tot) AS DOUBLE)
               AS fpr,
             1.0::DOUBLE - CAST(tp AS DOUBLE) / CAST((SELECT p FROM tot) AS DOUBLE)
               AS fnr
      FROM cum
    ), lagged AS (
      SELECT v,
             coalesce(lag(fpr) OVER (ORDER BY v DESC), 0.0::DOUBLE) AS fpr1,
             coalesce(lag(fnr) OVER (ORDER BY v DESC), 1.0::DOUBLE) AS fnr1,
             fpr AS fpr2, fnr AS fnr2,
             row_number() OVER (ORDER BY v DESC) AS rn
      FROM pts
    ), cross_ AS (
      SELECT *, row_number() OVER (ORDER BY rn) AS pick
      FROM lagged WHERE fpr2 >= fnr2
    ), sel AS (
      SELECT * FROM cross_ WHERE pick = 1
    )
    SELECT CAST(v AS BIGINT) AS crossing_threshold_q,
           CAST(floor(fpr1 * 1000000.0::DOUBLE + 0.5) AS BIGINT) AS fpr_before_micro,
           CAST(floor(fnr1 * 1000000.0::DOUBLE + 0.5) AS BIGINT) AS fnr_before_micro,
           CAST(floor(fpr2 * 1000000.0::DOUBLE + 0.5) AS BIGINT) AS fpr_after_micro,
           CAST(floor(fnr2 * 1000000.0::DOUBLE + 0.5) AS BIGINT) AS fnr_after_micro,
           CAST(floor(
             (CASE WHEN (fpr2 - fpr1) + (fnr1 - fnr2) > 0.0::DOUBLE THEN
               fpr1 + (fpr2 - fpr1)
                 * ((fnr1 - fpr1) / ((fpr2 - fpr1) + (fnr1 - fnr2)))
             ELSE fpr2 END) * 1000000.0::DOUBLE + 0.5) AS BIGINT) AS eer_micro
    FROM sel
    """
    )


@register("ml_equal_error_rate", oracle=_eer_oracle())
def ml_equal_error_rate(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Equal error rate of the classifier against the rule gate: the
    operating point where false-positive and false-negative rates
    cross — biometrics' and speaker-verification's single-number
    summary, and the threshold-free twin of
    ``ml_youden_optimal_threshold`` (Youden maximizes TPR - FPR; EER
    balances the two error types exactly). Reported with the exact
    bracketing pair (the last grid point before the crossing and the
    first after) plus the linear interpolation between them, so the
    consumer sees both the achievable operating points and the
    idealized rate.

    Exactness: the crossing row is picked by the EXACT integer
    condition fp * P >= (P - tp) * N lifted to the doubles only for
    the reported rates; bracketing rates and the interpolated EER are
    mirrored IEEE double expressions off the exact cumulative
    integers, quantized once at micro (degenerate vertical crossings
    fall back to the after-point rate).

    Scale shape: one scored scan to the <= 10001-value grid; the
    cumulative, lag and first-crossing pick are the fbeta/Youden
    allowlist class (entry landed in this same commit). 1 row out.
    """
    t = Tables(spark, sf_dir)
    cum, tot = roc_cum(t)
    pts = cum.crossJoin(F.broadcast(tot)).select(
        "v",
        "n_sel",
        "tp",
        ((F.col("n_sel") - F.col("tp")).cast("double")
         / (F.col("nn") - F.col("p")).cast("double")).alias("fpr"),
        (F.lit(1.0) - F.col("tp").cast("double") / F.col("p").cast("double")).alias(
            "fnr"
        ),
    )
    wlag = Window.orderBy(F.col("v").desc())
    lagged = pts.select(
        "v",
        F.coalesce(F.lag("fpr").over(wlag), F.lit(0.0)).alias("fpr1"),
        F.coalesce(F.lag("fnr").over(wlag), F.lit(1.0)).alias("fnr1"),
        F.col("fpr").alias("fpr2"),
        F.col("fnr").alias("fnr2"),
        F.row_number().over(wlag).alias("rn"),
    )
    wpick = Window.orderBy("rn")
    sel = (
        lagged.where(F.col("fpr2") >= F.col("fnr2"))
        .withColumn("pick", F.row_number().over(wpick))
        .where(F.col("pick") == 1)
    )
    den = (F.col("fpr2") - F.col("fpr1")) + (F.col("fnr1") - F.col("fnr2"))
    eer = F.when(
        den > 0.0,
        F.col("fpr1")
        + (F.col("fpr2") - F.col("fpr1"))
        * ((F.col("fnr1") - F.col("fpr1")) / den),
    ).otherwise(F.col("fpr2"))
    q6 = lambda c: F.floor(c * F.lit(1e6) + F.lit(0.5)).cast("long")  # noqa: E731
    return sel.select(
        F.col("v").cast("long").alias("crossing_threshold_q"),
        q6(F.col("fpr1")).alias("fpr_before_micro"),
        q6(F.col("fnr1")).alias("fnr_before_micro"),
        q6(F.col("fpr2")).alias("fpr_after_micro"),
        q6(F.col("fnr2")).alias("fnr_after_micro"),
        q6(eer).alias("eer_micro"),
    )


# ---------------------------------------------------------------------------
# Max recall at a precision floor over the score grid
# ---------------------------------------------------------------------------

PRECISION_FLOORS = ((4, 5), (9, 10), (19, 20))  # 0.80, 0.90, 0.95


def _recall_floor_oracle() -> str:
    hd = sql_halfup_div
    floors = ", ".join(f"({n}, {d})" for n, d in PRECISION_FLOORS)
    return (
        scored_labeled_sql()
        + f"""
    , grid AS (
      SELECT score_q, CAST(count(*) AS BIGINT) AS n,
             CAST(sum(label) AS BIGINT) AS pos
      FROM scored GROUP BY score_q
    ), tot AS (
      SELECT CAST(sum(n) AS BIGINT) AS nn, CAST(sum(pos) AS BIGINT) AS p
      FROM grid
    ), cum AS (
      SELECT score_q AS v,
             sum(n) OVER (ORDER BY score_q DESC
               ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS n_sel,
             sum(pos) OVER (ORDER BY score_q DESC
               ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS tp
      FROM grid
    ), floors(pn, pd) AS (VALUES {floors}),
    feasible AS (
      SELECT f.pn, f.pd, c.v, c.n_sel, c.tp,
             row_number() OVER (PARTITION BY f.pn, f.pd
               ORDER BY c.tp DESC, c.v ASC) AS r
      FROM floors f JOIN cum c ON c.tp * f.pd >= c.n_sel * f.pn
    )
    SELECT CAST(f.pn AS BIGINT) AS floor_num, CAST(f.pd AS BIGINT) AS floor_den,
           CAST(b.v AS BIGINT) AS best_threshold_q,
           CAST(b.n_sel AS BIGINT) AS n_selected,
           CAST(b.tp AS BIGINT) AS tp,
           CASE WHEN b.v IS NOT NULL THEN
             CAST({hd('1000000::HUGEINT * b.tp', 'b.n_sel')} AS BIGINT) END
             AS precision_micro,
           CASE WHEN b.v IS NOT NULL THEN
             CAST({hd('1000000::HUGEINT * b.tp', 't.p')} AS BIGINT) END
             AS recall_micro
    FROM floors f
    LEFT JOIN (SELECT * FROM feasible WHERE r = 1) b
      ON b.pn = f.pn AND b.pd = f.pd, tot t
    ORDER BY f.pn * 1.0 / f.pd
    """
    )


@register("ml_recall_at_precision_floor", oracle=_recall_floor_oracle())
def ml_recall_at_precision_floor(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Maximum recall subject to a precision SLA, for floors 0.80 /
    0.90 / 0.95, over the classifier's exact score grid — the
    operating-point selection a production filter actually deploys
    ("keep precision >= 90%, then recall as much as possible").
    ``ml_fbeta_optimal_thresholds`` trades the two smoothly; this is
    the hard-constraint version (the feasible set can be
    non-contiguous in the threshold, so the exact grid scan matters —
    a bisection on threshold would miss re-entrant feasible points).

    Exactness: TP / n_selected come off the descending score-grid
    cumulative (exact integers); the floor test is cross-multiplied
    (tp * pd >= n_sel * pn — never a per-row division); the argmax
    uses (tp desc, threshold asc); precision/recall quantize half-up
    at micro only in the output. Infeasible floors emit a NULL row
    (LEFT JOIN), so the row count is always 3.

    Scale shape: one scored scan to the <= 10001-value grid; the
    cumulative and per-floor ranking run over the POST-AGGREGATION
    grid (allowlist class, the fbeta/Youden precedent); 3 rows out.
    """
    cum, tot = roc_cum(Tables(spark, sf_dir))
    floors = spark.createDataFrame(
        [(n, d) for n, d in PRECISION_FLOORS], "pn long, pd long"
    )
    feasible = floors.join(
        cum, F.col("tp") * F.col("pd") >= F.col("n_sel") * F.col("pn")
    )
    wb = Window.partitionBy("pn", "pd").orderBy(
        F.col("tp").desc(), F.col("v").asc()
    )
    best = (
        feasible.withColumn("r", F.row_number().over(wb))
        .filter(F.col("r") == 1)
        .select("pn", "pd", "v", "n_sel", "tp")
    )
    m6 = F.lit(1_000_000).cast("decimal(38,0)")
    return (
        floors.join(best, ["pn", "pd"], "left")
        .crossJoin(F.broadcast(tot))
        .select(
            F.col("pn").alias("floor_num"),
            F.col("pd").alias("floor_den"),
            F.col("v").alias("best_threshold_q"),
            F.col("n_sel").alias("n_selected"),
            "tp",
            F.when(
                F.col("v").isNotNull(),
                halfup_div(m6 * dec38(F.col("tp")), dec38(F.col("n_sel"))).cast(
                    "long"
                ),
            ).alias("precision_micro"),
            F.when(
                F.col("v").isNotNull(),
                halfup_div(m6 * dec38(F.col("tp")), dec38(F.col("p"))).cast("long"),
            ).alias("recall_micro"),
        )
        .orderBy(F.col("floor_num").cast("double") / F.col("floor_den"))
    )


# ---------------------------------------------------------------------------
# Precision-recall-gain at the deployed operating points
# ---------------------------------------------------------------------------


def _prg_oracle() -> str:
    hd = sql_halfup_div
    floors = ", ".join(f"({n}, {d})" for n, d in PRECISION_FLOORS)
    return (
        scored_labeled_sql()
        + f"""
    , grid AS (
      SELECT score_q, CAST(count(*) AS BIGINT) AS n,
             CAST(sum(label) AS BIGINT) AS pos
      FROM scored GROUP BY score_q
    ), tot AS (
      SELECT CAST(sum(n) AS BIGINT) AS nn, CAST(sum(pos) AS BIGINT) AS p
      FROM grid
    ), cum AS (
      SELECT score_q AS v,
             sum(n) OVER (ORDER BY score_q DESC
               ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS n_sel,
             sum(pos) OVER (ORDER BY score_q DESC
               ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS tp
      FROM grid
    ), floors(pn, pd) AS (VALUES {floors}),
    feasible AS (
      SELECT f.pn, f.pd, c.v, c.n_sel, c.tp,
             row_number() OVER (PARTITION BY f.pn, f.pd
               ORDER BY c.tp DESC, c.v ASC) AS r
      FROM floors f JOIN cum c ON c.tp * f.pd >= c.n_sel * f.pn
    )
    SELECT CAST(f.pn AS BIGINT) AS floor_num, CAST(f.pd AS BIGINT) AS floor_den,
           CAST(b.v AS BIGINT) AS threshold_q,
           CASE WHEN b.v IS NOT NULL AND b.tp > 0 THEN
             CAST({hd('1000000::HUGEINT * (CAST(b.tp AS HUGEINT) * t.nn'
                      ' - CAST(t.p AS HUGEINT) * b.n_sel)',
                      'CAST(b.tp AS HUGEINT) * (t.nn - t.p)')} AS BIGINT) END
             AS prec_gain_micro,
           CASE WHEN b.v IS NOT NULL AND b.tp > 0 THEN
             CAST({hd('1000000::HUGEINT * (CAST(b.tp AS HUGEINT) * t.nn'
                      ' - CAST(t.p AS HUGEINT) * t.p)',
                      'CAST(b.tp AS HUGEINT) * (t.nn - t.p)')} AS BIGINT) END
             AS rec_gain_micro
    FROM floors f
    LEFT JOIN (SELECT * FROM feasible WHERE r = 1) b
      ON b.pn = f.pn AND b.pd = f.pd, tot t
    ORDER BY f.pn * 1.0 / f.pd
    """
    )


@register("ml_prg_at_operating_points", _prg_oracle())
def ml_prg_at_operating_points(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Precision-recall GAIN (Flach & Kull, NeurIPS 2015) at the
    deployed precision-floor operating points: precG = (prec - pi) /
    ((1 - pi) prec) and recG = (rec - pi) / ((1 - pi) rec), where pi
    is the base rate — the transform that fixes raw PR's known
    pathologies (a precision of 0.9 is trivial when pi = 0.89 and
    heroic when pi = 0.01; raw PR can't tell them apart, PRG maps the
    always-positive baseline to gain 0 and the perfect classifier to
    1). Reported at the SAME thresholds ``ml_recall_at_precision_floor``
    deploys, so the two tables read side by side: a floor that looks
    fine in raw precision but has near-zero precision GAIN is buying
    nothing over predict-all.

    Exactness: tp / n_sel off the descending score-grid cumulative
    (exact integers; the same derivation shape as the operating-point
    op); both gains collapse to single half-up micro divisions of
    cross-multiplied integers — precG = (tp N - P n_sel) / (tp (N -
    P)), recG = (tp N - P^2) / (tp (N - P)) — signed (gain < 0 means
    worse than baseline), NULL for infeasible floors or tp = 0.

    Scale shape: one scored scan to the <= 10001-value grid; the
    shared cumulative is the fbeta/Youden allowlist class (flagged for
    activation time); 3 rows out.
    """
    cum, tot = roc_cum(Tables(spark, sf_dir))
    floors = spark.createDataFrame(
        [(n, d) for n, d in PRECISION_FLOORS], "pn long, pd long"
    )
    feasible = floors.join(
        cum, F.col("tp") * F.col("pd") >= F.col("n_sel") * F.col("pn")
    )
    wb = Window.partitionBy("pn", "pd").orderBy(F.col("tp").desc(), F.col("v").asc())
    best = (
        feasible.withColumn("r", F.row_number().over(wb))
        .filter(F.col("r") == 1)
        .select("pn", "pd", "v", "n_sel", "tp")
    )
    m6 = F.lit(1_000_000).cast("decimal(38,0)")
    den = dec38(F.col("tp")) * dec38(F.col("nn") - F.col("p"))
    prec_g = halfup_div(
        m6 * (dec38(F.col("tp")) * F.col("nn") - dec38(F.col("p")) * F.col("n_sel")),
        den,
    )
    rec_g = halfup_div(
        m6 * (dec38(F.col("tp")) * F.col("nn") - dec38(F.col("p")) * F.col("p")),
        den,
    )
    ok = F.col("v").isNotNull() & (F.col("tp") > 0)
    return (
        floors.join(best, ["pn", "pd"], "left")
        .crossJoin(F.broadcast(tot))
        .select(
            F.col("pn").alias("floor_num"),
            F.col("pd").alias("floor_den"),
            F.col("v").alias("threshold_q"),
            F.when(ok, prec_g.cast("long")).alias("prec_gain_micro"),
            F.when(ok, rec_g.cast("long")).alias("rec_gain_micro"),
        )
        .orderBy(F.col("floor_num").cast("double") / F.col("floor_den"))
    )


# ---------------------------------------------------------------------------
# PPV/NPV under prevalence shift at the fixed gate threshold
# ---------------------------------------------------------------------------

PPV_THRESHOLD = 5000  # the fairness-op fixed operating point
PPV_PREVALENCE_MILLI = (10, 50, 100, 250, 500)


def _ppv_oracle() -> str:
    hd = sql_halfup_div
    th = PPV_THRESHOLD
    ps = ", ".join(str(x) for x in PPV_PREVALENCE_MILLI)
    return (
        scored_labeled_sql()
        + f"""
    , conf AS (
      SELECT CAST(sum(CASE WHEN label = 1 AND score_q >= {th} THEN 1 ELSE 0 END)
                  AS HUGEINT) AS tp,
             CAST(sum(CASE WHEN label = 1 AND score_q < {th} THEN 1 ELSE 0 END)
                  AS HUGEINT) AS fn,
             CAST(sum(CASE WHEN label = 0 AND score_q >= {th} THEN 1 ELSE 0 END)
                  AS HUGEINT) AS fp,
             CAST(sum(CASE WHEN label = 0 AND score_q < {th} THEN 1 ELSE 0 END)
                  AS HUGEINT) AS tn
      FROM scored
    ), pis AS (SELECT CAST(unnest([{ps}]) AS BIGINT) AS pi_milli),
    adj AS (
      -- Bayes: ppv(pi) = pi*se / (pi*se + (1-pi)(1-sp)); with
      -- se = tp/(tp+fn), sp = tn/(tn+fp), clear denominators:
      -- ppv = pi*tp*(tn+fp) / (pi*tp*(tn+fp) + (1000-pi)*fp*(tp+fn))
      SELECT p.pi_milli, c.tp, c.fp, c.fn, c.tn,
             (p.pi_milli * c.tp * (c.tn + c.fp)) AS a,
             ((1000 - p.pi_milli) * c.fp * (c.tp + c.fn)) AS b,
             ((1000 - p.pi_milli) * c.tn * (c.tp + c.fn)) AS cnpv,
             (p.pi_milli * c.fn * (c.tn + c.fp)) AS dnpv
      FROM pis p, conf c
    )
    SELECT pi_milli AS prevalence_milli,
           CASE WHEN a + b > 0 THEN
             CAST({hd('1000000::HUGEINT * a', 'a + b')} AS BIGINT)
           END AS ppv_micro,
           CASE WHEN cnpv + dnpv > 0 THEN
             CAST({hd('1000000::HUGEINT * cnpv', 'cnpv + dnpv')} AS BIGINT)
           END AS npv_micro
    FROM adj ORDER BY pi_milli
    """
    )


@register("ml_ppv_prevalence_grid", _ppv_oracle())
def ml_ppv_prevalence_grid(spark: SparkSession, sf_dir: str) -> DataFrame:
    """PPV/NPV of the classifier's fixed 0.5 operating point under a
    PREVALENCE grid (1%, 5%, 10%, 25%, 50%): Bayes-adjust the
    measured sensitivity/specificity to each deployment base rate —
    ppv(pi) = pi se / (pi se + (1-pi)(1-sp)). Sensitivity and
    specificity travel across datasets; PPV does NOT, and deploying a
    gate tuned on a balanced benchmark onto a 1%-positive stream is
    THE classic precision collapse. The threshold family optimizes ON
    the evaluation corpus (`ml_youden_optimal_threshold`,
    `ml_fbeta_optimal_thresholds`); this op prices the SAME operating
    point everywhere else.

    Exactness: the 2x2 confusion counts are exact; clearing the
    se/sp denominators makes each adjusted value ONE half-up micro
    division of exact integer products with milli prevalence weights;
    NULL-guarded degenerate margins.

    Scale shape: one scored scan to four counters; a 5-row grid
    broadcast; 5 rows out.
    """
    t = Tables(spark, sf_dir)
    s = scored_labeled(t)
    th = PPV_THRESHOLD
    conf = s.agg(
        F.sum(
            F.when((F.col("label") == 1) & (F.col("score_q") >= th), 1).otherwise(0)
        ).alias("tp"),
        F.sum(
            F.when((F.col("label") == 1) & (F.col("score_q") < th), 1).otherwise(0)
        ).alias("fn"),
        F.sum(
            F.when((F.col("label") == 0) & (F.col("score_q") >= th), 1).otherwise(0)
        ).alias("fp"),
        F.sum(
            F.when((F.col("label") == 0) & (F.col("score_q") < th), 1).otherwise(0)
        ).alias("tn"),
    )
    pis = s.sparkSession.range(1).select(
        F.explode(
            F.array(*[F.lit(x).cast("long") for x in PPV_PREVALENCE_MILLI])
        ).alias("pi_milli")
    )
    m6 = F.lit(1_000_000).cast("decimal(38,0)")
    a = dec38(F.col("pi_milli")) * F.col("tp") * (F.col("tn") + F.col("fp"))
    b = dec38(1000 - F.col("pi_milli")) * F.col("fp") * (F.col("tp") + F.col("fn"))
    cnpv = dec38(1000 - F.col("pi_milli")) * F.col("tn") * (
        F.col("tp") + F.col("fn")
    )
    dnpv = dec38(F.col("pi_milli")) * F.col("fn") * (F.col("tn") + F.col("fp"))
    return (
        pis.crossJoin(F.broadcast(conf))
        .select(
            F.col("pi_milli").alias("prevalence_milli"),
            F.when(a + b > 0, halfup_div(m6 * a, a + b).cast("long")).alias(
                "ppv_micro"
            ),
            F.when(
                cnpv + dnpv > 0, halfup_div(m6 * cnpv, cnpv + dnpv).cast("long")
            ).alias("npv_micro"),
        )
        .orderBy("prevalence_milli")
    )


# ---------------------------------------------------------------------------
# Split-conformal calibration threshold per language
# ---------------------------------------------------------------------------

CONF_ALPHA_NUM = 1
CONF_ALPHA_DEN = 10  # alpha = 0.1 -> 90% target coverage


def _conformal_oracle() -> str:
    from ..functions.exact import sql_round_int_ratio

    a_n, a_d = CONF_ALPHA_NUM, CONF_ALPHA_DEN
    return (
        scored_labeled_sql()
        + f"""
    , cal AS (
      SELECT lang, score_q FROM scored WHERE doc_id % 2 = 0
    ), tst AS (
      SELECT lang, score_q FROM scored WHERE doc_id % 2 = 1
    ), ncal AS (
      SELECT lang, CAST(count(*) AS BIGINT) AS n_cal FROM cal GROUP BY lang
    ), grid AS (
      SELECT lang, score_q, CAST(count(*) AS BIGINT) AS cnt
      FROM cal GROUP BY lang, score_q
    ), cum AS (
      SELECT lang, score_q,
             sum(cnt) OVER (PARTITION BY lang ORDER BY score_q) AS cc
      FROM grid
    ), thr AS (
      SELECT n.lang, n.n_cal,
             (SELECT min(score_q) FROM cum c
              WHERE c.lang = n.lang
                AND c.cc >= (({a_d} - {a_n}) * (n.n_cal + 1) + {a_d} - 1) // {a_d})
               AS thr_score_q
      FROM ncal n
    ), cov AS (
      SELECT t.lang,
             CAST(count(*) AS BIGINT) AS n_test,
             CAST(sum(CASE WHEN ts.score_q <= t.thr_score_q THEN 1 ELSE 0 END)
                  AS BIGINT) AS n_covered
      FROM thr t JOIN tst ts USING (lang)
      GROUP BY t.lang
    )
    SELECT t.lang, t.n_cal, coalesce(c.n_test, 0) AS n_test, t.thr_score_q,
           CASE WHEN coalesce(c.n_test, 0) > 0 AND t.thr_score_q IS NOT NULL THEN
             {sql_round_int_ratio('c.n_covered', 'c.n_test')}
           END AS coverage
    FROM thr t LEFT JOIN cov c USING (lang)
    ORDER BY t.lang
    """
    )


@register("ml_conformal_threshold_by_lang", oracle=_conformal_oracle())
def ml_conformal_threshold_by_lang(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Split-conformal calibration per language: the
    ceil((1-alpha)(n+1))-th smallest calibration score is the
    distribution-free threshold whose coverage guarantee (>= 90% of
    fresh points score at or below it) holds with NO model
    assumptions — the modern uncertainty-quantification member of the
    ML family (the other thresholds pick an operating point by
    cost/Youden; conformal picks one with a finite-sample guarantee),
    audited here by measuring the realized coverage on the held-out
    split.

    Deterministic even/odd doc_id split; the order statistic comes
    from a lang-PARTITIONED cumulative over the <= 10001-value
    per-lang score grid (never a global window); the coverage probe
    is one broadcast join of |langs| thresholds back over the test
    half. Output |langs| rows.
    """
    from ..functions.exact import round_int_ratio

    a_n, a_d = CONF_ALPHA_NUM, CONF_ALPHA_DEN
    t = Tables(spark, sf_dir)
    sc = scored_labeled(t)
    cal = sc.filter(F.col("doc_id") % 2 == 0).select("lang", "score_q")
    tst = sc.filter(F.col("doc_id") % 2 == 1).select("lang", "score_q")
    ncal = cal.groupBy("lang").agg(F.count(F.lit(1)).alias("n_cal"))
    grid = cal.groupBy("lang", "score_q").agg(F.count(F.lit(1)).alias("cnt"))
    w = (
        Window.partitionBy("lang")
        .orderBy("score_q")
        .rowsBetween(Window.unboundedPreceding, 0)
    )
    cum = grid.select("lang", "score_q", F.sum("cnt").over(w).alias("cc"))
    kexp = F.expr(
        f"(({a_d} - {a_n}) * (n_cal + 1) + {a_d} - 1) div {a_d}"
    )
    thr = (
        ncal.join(cum, "lang", "left")
        .filter(F.col("cc") >= kexp)
        .groupBy("lang", "n_cal")
        .agg(F.min("score_q").alias("thr_score_q"))
        .join(ncal, ["lang", "n_cal"], "right")
    )
    cov = (
        tst.join(F.broadcast(thr.filter(F.col("thr_score_q").isNotNull())), "lang")
        .groupBy("lang")
        .agg(
            F.count(F.lit(1)).alias("n_test"),
            F.sum(
                F.when(F.col("score_q") <= F.col("thr_score_q"), 1).otherwise(0)
            ).alias("n_covered"),
        )
    )
    return thr.join(cov, "lang", "left").select(
        "lang",
        "n_cal",
        F.coalesce(F.col("n_test"), F.lit(0).cast("long")).alias("n_test"),
        "thr_score_q",
        F.when(
            (F.coalesce(F.col("n_test"), F.lit(0)) > 0)
            & F.col("thr_score_q").isNotNull(),
            round_int_ratio(F.col("n_covered"), F.col("n_test")),
        ).alias("coverage"),
    )


# ---------------------------------------------------------------------------
# Train/holdout threshold-transfer audit (Youden threshold stability)
# ---------------------------------------------------------------------------


def _transfer_oracle() -> str:
    hd = sql_halfup_div
    return (
        scored_labeled_sql()
        + f"""
    , folded AS (
      SELECT score_q, label,
             (('0x' || substr(sha256(CAST(doc_id AS VARCHAR)), 1, 15)))::BIGINT
               % 2 AS fold
      FROM scored
    ), grid AS (
      SELECT fold, score_q,
             CAST(sum(CASE WHEN label = 0 THEN 1 ELSE 0 END) AS HUGEINT) AS c0,
             CAST(sum(label) AS HUGEINT) AS c1
      FROM folded GROUP BY fold, score_q
    ), cum AS (
      -- descending cumulative: docs with score >= s flagged positive
      SELECT a.fold, a.score_q,
             CAST(sum(b.c0) AS HUGEINT) AS fp,
             CAST(sum(b.c1) AS HUGEINT) AS tp
      FROM grid a JOIN grid b ON b.fold = a.fold AND b.score_q >= a.score_q
      GROUP BY a.fold, a.score_q
    ), tot AS (
      SELECT fold, CAST(sum(c0) AS HUGEINT) AS n0, CAST(sum(c1) AS HUGEINT) AS n1
      FROM grid GROUP BY fold
    ), j AS (
      SELECT c.fold, c.score_q,
             (t.n0 * c.tp - t.n1 * c.fp) AS j_scaled, t.n0, t.n1
      FROM cum c JOIN tot t ON t.fold = c.fold
    ), best AS (
      SELECT fold, min(score_q) AS thr
      FROM j x WHERE j_scaled = (SELECT max(j_scaled) FROM j y
                                 WHERE y.fold = x.fold)
      GROUP BY fold
    ), vals AS (
      SELECT f.fold, f.thr, j.j_scaled, j.n0, j.n1
      FROM best f JOIN j ON j.fold = f.fold AND j.score_q = f.thr
    ), cross_ AS (
      -- fold A's threshold applied to fold B: "score >= thr" counts
      -- come from the SMALLEST holdout-grid score >= thr (the train
      -- threshold need not exist as a holdout score value); an empty
      -- upper set means nothing is flagged -> J = 0
      SELECT coalesce(j.j_scaled, 0::HUGEINT) AS jb_at_a, t.n0, t.n1
      FROM vals a
      JOIN tot t ON t.fold = 1
      LEFT JOIN j ON j.fold = 1
        AND j.score_q = (SELECT min(score_q) FROM j y
                         WHERE y.fold = 1 AND y.score_q >= a.thr)
      WHERE a.fold = 0
    )
    SELECT CAST(a.n1 + a.n0 AS BIGINT) AS n_train,
           CAST(b.n1 + b.n0 AS BIGINT) AS n_holdout,
           CAST(a.thr AS BIGINT) AS thr_train,
           CAST({hd('1000000::HUGEINT * a.j_scaled', 'a.n0 * a.n1')} AS BIGINT)
             AS j_train_micro,
           CAST(b.thr AS BIGINT) AS thr_holdout_opt,
           CAST({hd('1000000::HUGEINT * b.j_scaled', 'b.n0 * b.n1')} AS BIGINT)
             AS j_holdout_opt_micro,
           CAST({hd('1000000::HUGEINT * c.jb_at_a', 'c.n0 * c.n1')} AS BIGINT)
             AS j_holdout_at_train_thr_micro,
           CAST({hd('1000000::HUGEINT * b.j_scaled', 'b.n0 * b.n1')}
                - {hd('1000000::HUGEINT * c.jb_at_a', 'c.n0 * c.n1')} AS BIGINT)
             AS transfer_regret_micro
    FROM vals a, vals b, cross_ c
    WHERE a.fold = 0 AND b.fold = 1
    """
    )


@register("ml_threshold_transfer_audit", _transfer_oracle())
def ml_threshold_transfer_audit(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Threshold-transfer audit: pick the Youden-optimal classifier
    threshold on a deterministic half of the corpus, apply it to the
    OTHER half, and report the Youden J it actually achieves there
    versus that half's own optimum — the transfer REGRET.
    ``ml_youden_optimal_threshold`` optimizes in-sample; a threshold
    that looks optimal can overfit score-grid noise, and the regret is
    the number a deployment gate needs before freezing the cut-off
    (same governance shape as ``ml_conformal_threshold_by_lang``,
    which calibrates coverage instead of J).

    Exactness: J is carried as the exact integer n0 TP - n1 FP on the
    bounded score grid (no per-threshold division); argmax ties break
    to the smallest score by explicit equality + min; the three J
    ratios and the regret are single half-up 1e-6 divisions.

    Scale shape: one zero-shuffle scoring scan to the <= 2 x 10001
    (fold, score) grid; the descending cumulative is the coarse-bin
    two-pass (101 bins via broadcast join + in-bin window partitioned
    by fold and bin — the `ml_gains_at_capacity` pattern), never the
    direct grid self-join; threshold picks are grid-bounded algebra.
    """
    from ..functions.textnorm import sha256_prefix_i64

    t = Tables(spark, sf_dir)
    sc = scored_labeled(t).select(
        "score_q",
        "label",
        (sha256_prefix_i64(F.col("doc_id").cast("string")) % 2).alias("fold"),
    )
    grid = (
        sc.groupBy("fold", "score_q")
        .agg(
            dec38(F.sum(F.when(F.col("label") == 0, 1).otherwise(0))).alias("c0"),
            dec38(F.sum("label")).alias("c1"),
        )
        .localCheckpoint(eager=False)
    )
    gb = grid.withColumn("gbin", F.expr("score_q div 100"))
    bins = gb.groupBy("fold", "gbin").agg(
        F.sum("c0").alias("b0"), F.sum("c1").alias("b1")
    )
    b2 = bins.select(
        F.col("fold").alias("fold2"),
        F.col("gbin").alias("gbin2"),
        F.col("b0").alias("b0_2"),
        F.col("b1").alias("b1_2"),
    )
    zero = F.lit(0).cast("decimal(38,0)")
    bcum = (
        bins.join(
            F.broadcast(b2),
            (F.col("fold2") == F.col("fold")) & (F.col("gbin2") > F.col("gbin")),
            "left",
        )
        .groupBy("fold", "gbin")
        .agg(
            F.coalesce(F.sum("b0_2"), zero).alias("hi0"),
            F.coalesce(F.sum("b1_2"), zero).alias("hi1"),
        )
    )
    w_in = (
        Window.partitionBy("fold", "gbin")
        .orderBy(F.col("score_q").desc())
        .rowsBetween(Window.unboundedPreceding, 0)
    )
    cum = gb.join(F.broadcast(bcum), ["fold", "gbin"]).select(
        "fold",
        "score_q",
        (F.col("hi0") + F.sum("c0").over(w_in)).alias("fp"),
        (F.col("hi1") + F.sum("c1").over(w_in)).alias("tp"),
    )
    tot = grid.groupBy("fold").agg(F.sum("c0").alias("n0"), F.sum("c1").alias("n1"))
    j = cum.join(F.broadcast(tot), "fold").select(
        "fold",
        "score_q",
        (F.col("n0") * F.col("tp") - F.col("n1") * F.col("fp")).alias("j_scaled"),
        "n0",
        "n1",
    )
    jb = j.groupBy("fold").agg(F.max("j_scaled").alias("mj"))
    best = (
        j.join(F.broadcast(jb), "fold")
        .filter(F.col("j_scaled") == F.col("mj"))
        .groupBy("fold")
        .agg(F.min("score_q").alias("thr"))
    )
    vals = best.join(
        j.select("fold", F.col("score_q").alias("thr"), "j_scaled", "n0", "n1"),
        ["fold", "thr"],
    )
    a = vals.filter(F.col("fold") == 0).select(
        F.col("thr").alias("thr_train"),
        F.col("j_scaled").alias("ja"),
        F.col("n0").alias("a0"),
        F.col("n1").alias("a1"),
    )
    bfold = vals.filter(F.col("fold") == 1).select(
        F.col("thr").alias("thr_holdout_opt"),
        F.col("j_scaled").alias("jb_opt"),
        F.col("n0").alias("b0"),
        F.col("n1").alias("b1"),
    )
    # the train threshold need not exist as a holdout score value:
    # "score >= thr" counts come from the SMALLEST holdout-grid score
    # >= thr; an empty upper set flags nothing -> J = 0
    j1 = j.filter(F.col("fold") == 1).select(
        F.col("score_q").alias("s1"), F.col("j_scaled").alias("j1s")
    )
    probe = (
        a.join(F.broadcast(j1), F.col("s1") >= F.col("thr_train"), "left")
        .groupBy("thr_train", "ja", "a0", "a1")
        .agg(F.min_by(F.col("j1s"), F.col("s1")).alias("jb_at_a_raw"))
    )
    cross_ = probe.select(
        "thr_train",
        "ja",
        "a0",
        "a1",
        F.coalesce(F.col("jb_at_a_raw"), F.lit(0).cast("decimal(38,0)")).alias(
            "jb_at_a"
        ),
    )
    m6 = F.lit(1_000_000).cast("decimal(38,0)")
    jt = halfup_div(m6 * F.col("ja"), F.col("a0") * F.col("a1"))
    jo = halfup_div(m6 * F.col("jb_opt"), F.col("b0") * F.col("b1"))
    jx = halfup_div(m6 * F.col("jb_at_a"), F.col("b0") * F.col("b1"))
    return (
        cross_.crossJoin(F.broadcast(bfold))
        .select(
            (F.col("a0") + F.col("a1")).cast("long").alias("n_train"),
            (F.col("b0") + F.col("b1")).cast("long").alias("n_holdout"),
            F.col("thr_train").cast("long").alias("thr_train"),
            jt.cast("long").alias("j_train_micro"),
            F.col("thr_holdout_opt").cast("long").alias("thr_holdout_opt"),
            jo.cast("long").alias("j_holdout_opt_micro"),
            jx.cast("long").alias("j_holdout_at_train_thr_micro"),
            (jo - jx).cast("long").alias("transfer_regret_micro"),
        )
    )


# ---------------------------------------------------------------------------
# Fairness gaps at a fixed decision threshold
# ---------------------------------------------------------------------------

FAIR_THRESHOLD = 5000


def _fairness_oracle() -> str:
    th = FAIR_THRESHOLD

    def rates(prefix: str) -> str:
        return f"""
             CAST(count(*) AS BIGINT) AS {prefix}n,
             CAST(sum(CASE WHEN score_q >= {th} THEN 1 ELSE 0 END) AS BIGINT)
               AS {prefix}sel,
             CAST(sum(label) AS BIGINT) AS {prefix}pos,
             CAST(sum(CASE WHEN score_q >= {th} AND label = 1 THEN 1 ELSE 0 END)
                  AS BIGINT) AS {prefix}tp,
             CAST(sum(CASE WHEN score_q >= {th} AND label = 0 THEN 1 ELSE 0 END)
                  AS BIGINT) AS {prefix}fp"""

    def hq(num: str, den: str) -> str:
        # half-up 1e-6 quantized ratio as the INTEGER magnitude (not
        # yet divided) so gap arithmetic stays in exact int64 space
        return f"((2000000::BIGINT*({num}) + ({den})) // (2*({den})))"

    return (
        scored_labeled_sql()
        + f"""
    , per_lang AS (
      SELECT lang, {rates('')}
      FROM scored GROUP BY lang
    ), gstats AS (
      SELECT {rates('g_')}
      FROM scored
    ), q AS (
      SELECT l.lang, l.n, l.sel, l.pos,
             {hq('l.sel', 'l.n')} AS selq,
             CASE WHEN l.pos > 0 THEN {hq('l.tp', 'l.pos')} END AS tprq,
             CASE WHEN l.n - l.pos > 0 THEN {hq('l.fp', 'l.n - l.pos')} END
               AS fprq,
             {hq('g.g_sel', 'g.g_n')} AS g_selq,
             CASE WHEN g.g_pos > 0 THEN {hq('g.g_tp', 'g.g_pos')} END AS g_tprq,
             CASE WHEN g.g_n - g.g_pos > 0
                  THEN {hq('g.g_fp', 'g.g_n - g.g_pos')} END AS g_fprq
      FROM per_lang l, gstats g
    )
    SELECT lang, n, sel, pos,
           selq / 1000000.0 AS sel_rate,
           tprq / 1000000.0 AS tpr,
           fprq / 1000000.0 AS fpr,
           (selq - g_selq) / 1000000.0 AS dp_gap,
           CASE WHEN tprq IS NOT NULL AND fprq IS NOT NULL
                 AND g_tprq IS NOT NULL AND g_fprq IS NOT NULL
                THEN greatest(abs(tprq - g_tprq), abs(fprq - g_fprq)) / 1000000.0
           END AS eo_gap
    FROM q
    """
    )


@register("ml_fairness_threshold_gaps", oracle=_fairness_oracle())
def ml_fairness_threshold_gaps(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Group-fairness audit of the hashed classifier at the deployed
    decision threshold (score_q ≥ 5000): per-language selection rate,
    TPR and FPR against the rule-gate label, plus the two standard
    gaps vs the global rates — demographic-parity gap (selection-rate
    difference) and an equalized-odds gap (max of |ΔTPR|, |ΔFPR|).
    The per-language AUC (ml_auc_by_lang) asks whether RANKING quality
    is even across groups; this asks whether the DECISION at the
    chosen operating point is — a filter can have equal AUC everywhere
    and still select one language at twice the rate.

    One partial-aggregated scan of the documents produces both the
    per-lang (≤ 5 rows) and global sufficient statistics; rates are
    exact half-up 1e-6 quantities (round_int_ratio) so the gap
    subtractions are differences of identical doubles on both engines.
    Degenerate groups (no positives / no negatives) yield NULL TPR/FPR
    and NULL eo_gap identically. Gap arithmetic runs on the INTEGER
    1e-6 magnitudes (one final /10⁶ division per output) — subtracting
    two already-divided doubles would reintroduce the engine-rounding
    flake round_int_ratio exists to kill.
    """
    th = FAIR_THRESHOLD
    t = Tables(spark, sf_dir)
    s = scored_labeled(t)
    sel = F.when(F.col("score_q") >= th, 1).otherwise(0)

    def hq(num, den):
        # non-negative counts: half-up integer magnitude of num/den 1e-6
        a = F.lit(2000000) * num + den
        b = F.lit(2) * den
        return ((a - a % b) / b).cast("long")

    def aggs():
        return [
            F.count(F.lit(1)).alias("n"),
            F.sum(sel).alias("sel"),
            F.sum("label").alias("pos"),
            F.sum(sel * F.col("label")).alias("tp"),
            F.sum(sel * (1 - F.col("label"))).alias("fp"),
        ]

    per_lang = s.groupBy("lang").agg(*aggs())
    glob = s.agg(*aggs()).select(
        hq(F.col("sel"), F.col("n")).alias("g_selq"),
        F.when(F.col("pos") > 0, hq(F.col("tp"), F.col("pos"))).alias("g_tprq"),
        F.when(
            F.col("n") - F.col("pos") > 0,
            hq(F.col("fp"), F.col("n") - F.col("pos")),
        ).alias("g_fprq"),
    )
    q = per_lang.crossJoin(F.broadcast(glob)).select(
        "lang",
        "n",
        "sel",
        "pos",
        hq(F.col("sel"), F.col("n")).alias("selq"),
        F.when(F.col("pos") > 0, hq(F.col("tp"), F.col("pos"))).alias("tprq"),
        F.when(
            F.col("n") - F.col("pos") > 0,
            hq(F.col("fp"), F.col("n") - F.col("pos")),
        ).alias("fprq"),
        "g_selq",
        "g_tprq",
        "g_fprq",
    )
    m = F.lit(1e6)
    return q.select(
        "lang",
        "n",
        "sel",
        "pos",
        (F.col("selq") / m).alias("sel_rate"),
        (F.col("tprq") / m).alias("tpr"),
        (F.col("fprq") / m).alias("fpr"),
        ((F.col("selq") - F.col("g_selq")) / m).alias("dp_gap"),
        F.when(
            F.col("tprq").isNotNull()
            & F.col("fprq").isNotNull()
            & F.col("g_tprq").isNotNull()
            & F.col("g_fprq").isNotNull(),
            F.greatest(
                F.abs(F.col("tprq") - F.col("g_tprq")),
                F.abs(F.col("fprq") - F.col("g_fprq")),
            )
            / m,
        ).alias("eo_gap"),
    )


# ---------------------------------------------------------------------------
# Decision-curve net benefit across a threshold grid
# ---------------------------------------------------------------------------

DCA_THRESHOLDS_MILLI = tuple(range(100, 1000, 100))  # 0.1 .. 0.9


def _dca_oracle() -> str:
    hd = sql_halfup_div
    ts = ", ".join(str(t) for t in DCA_THRESHOLDS_MILLI)
    return (
        scored_labeled_sql()
        + f"""
    , grid AS (
      SELECT score_q, CAST(count(*) AS BIGINT) AS n,
             CAST(sum(label) AS BIGINT) AS pos
      FROM scored GROUP BY score_q
    ), tot AS (
      SELECT CAST(sum(n) AS BIGINT) AS nn, CAST(sum(pos) AS BIGINT) AS p
      FROM grid
    ), th AS (SELECT CAST(unnest([{ts}]) AS BIGINT) AS t),
    sel AS (
      SELECT th.t,
             CAST(coalesce(sum(g.n), 0) AS BIGINT) AS n_sel,
             CAST(coalesce(sum(g.pos), 0) AS BIGINT) AS tp
      FROM th LEFT JOIN grid g ON g.score_q >= 10 * th.t
      GROUP BY th.t
    )
    SELECT s.t AS threshold_milli, s.n_sel, s.tp,
           (s.n_sel - s.tp) AS fp,
           CAST({hd('1000000::HUGEINT * (s.tp * (1000 - s.t)'
                    ' - (s.n_sel - s.tp) * s.t)',
                    'tt.nn * (1000 - s.t)')} AS BIGINT) AS net_benefit_micro,
           CAST({hd('1000000::HUGEINT * (tt.p * (1000 - s.t)'
                    ' - (tt.nn - tt.p) * s.t)',
                    'tt.nn * (1000 - s.t)')} AS BIGINT) AS nb_treat_all_micro
    FROM sel s, tot tt ORDER BY s.t
    """
    )


@register("ml_decision_curve_net_benefit", oracle=_dca_oracle())
def ml_decision_curve_net_benefit(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Decision-curve analysis (Vickers & Elkin 2006) of the quality
    classifier: at each probability threshold t the NET BENEFIT
    TP/N - FP/N * t/(1-t) prices true positives against false
    positives at the odds the threshold itself implies — the clinical
    standard for "is using this model better than treat-all or
    treat-none", which for a data pipeline reads "is gating on this
    score better than keeping everything (treat-all baseline, also
    reported) or dropping everything (zero)". Completes the
    threshold family: Youden/cost pick ONE optimal threshold, the
    confusion sweep reports raw counts; DCA weighs them by the
    threshold's own cost ratio across the grid.

    Exactness: per-threshold counts come off the bounded score grid
    (<= 10001 rows) via a broadcast >= join; net benefit reduces to
    ONE half-up micro division of exact integers per threshold over
    the common denominator N*(1000-t) (t in milli units).

    Scale shape: one scored-corpus scan partial-aggregating to the
    score grid; a 9-row threshold broadcast; 9 rows out.
    """
    grid = score_grid(Tables(spark, sf_dir))
    tot = grid.agg(
        F.sum("n").cast("long").alias("nn"), F.sum("pos").cast("long").alias("p")
    )
    th = spark.range(1).select(
        F.explode(
            F.array(*[F.lit(x).cast("long") for x in DCA_THRESHOLDS_MILLI])
        ).alias("t")
    )
    sel = (
        th.join(F.broadcast(grid), F.col("score_q") >= 10 * F.col("t"), "left")
        .groupBy("t")
        .agg(
            F.coalesce(F.sum("n"), F.lit(0)).cast("long").alias("n_sel"),
            F.coalesce(F.sum("pos"), F.lit(0)).cast("long").alias("tp"),
        )
    )
    m6 = F.lit(1_000_000).cast("decimal(38,0)")
    fp = F.col("n_sel") - F.col("tp")
    den = dec38(F.col("nn")) * (1000 - F.col("t"))
    return (
        sel.crossJoin(F.broadcast(tot))
        .select(
            F.col("t").alias("threshold_milli"),
            "n_sel",
            "tp",
            fp.alias("fp"),
            halfup_div(
                m6 * (dec38(F.col("tp")) * (1000 - F.col("t")) - dec38(fp) * F.col("t")),
                den,
            )
            .cast("long")
            .alias("net_benefit_micro"),
            halfup_div(
                m6
                * (
                    dec38(F.col("p")) * (1000 - F.col("t"))
                    - dec38(F.col("nn") - F.col("p")) * F.col("t")
                ),
                den,
            )
            .cast("long")
            .alias("nb_treat_all_micro"),
        )
        .orderBy("threshold_milli")
    )


# ---------------------------------------------------------------------------
# Cost-curve lower envelope over the probability-cost grid
# ---------------------------------------------------------------------------

COST_PC_DEN = 20  # pc grid i/20, i = 1..19


def _cost_env_oracle() -> str:
    hd = sql_halfup_div
    return (
        scored_labeled_sql()
        + ", "
        + sql_roc_cum().strip()
        + f"""
    , cum0 AS (
      SELECT n_sel, tp FROM cum
      UNION ALL SELECT 0 AS n_sel, 0 AS tp
    ), pcs AS (
      SELECT unnest(range(1, {COST_PC_DEN})) AS i
    ), nec AS (
      SELECT p.i,
             {hd(f'1000000::HUGEINT * (p.i * (t.p - c.tp) * (t.nn - t.p)'
                 f' + ({COST_PC_DEN} - p.i) * (c.n_sel - c.tp) * t.p)',
                 f'{COST_PC_DEN}::HUGEINT * t.p * (t.nn - t.p)')} AS nec_micro
      FROM pcs p, cum0 c, tot t
    ), env AS (
      SELECT i, CAST(min(nec_micro) AS BIGINT) AS envelope_micro
      FROM nec GROUP BY i
    )
    SELECT CAST(i AS BIGINT) AS pc_num,
           CAST({COST_PC_DEN} AS BIGINT) AS pc_den,
           envelope_micro,
           CAST({hd(f'1000000::HUGEINT * least(i, {COST_PC_DEN} - i)',
                    str(COST_PC_DEN))} AS BIGINT) AS trivial_micro,
           CAST({hd(f'1000000::HUGEINT * least(i, {COST_PC_DEN} - i)',
                    str(COST_PC_DEN))} - envelope_micro AS BIGINT)
             AS gain_micro
    FROM env ORDER BY pc_num
    """
    )


@register("ml_cost_curve_envelope", oracle=_cost_env_oracle())
def ml_cost_curve_envelope(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Cost-curve lower envelope (Drummond & Holte 2006): for each
    probability-cost operating condition pc on a 19-point grid, the
    minimum achievable normalized expected cost
    NEC(t; pc) = pc * FNR(t) + (1 - pc) * FPR(t) over every score
    threshold, beside the trivial-classifier cost min(pc, 1 - pc) and
    the gain over it. The ROC convex hull (``ml_roc_convex_hull``)
    shows WHICH thresholds are ever optimal; the cost envelope shows
    HOW MUCH each deployment condition saves — the view that answers
    "is this model worth deploying at MY class ratio" directly.

    Exactness: every NEC value is ONE half-up micro division of exact
    integer cross-products (i (P - tp) N + (20 - i) fp P over 20 P N)
    including the virtual reject-all row; the per-condition envelope
    is an integer MIN; trivial cost and gain are exact micro
    arithmetic.

    Scale shape: one scored scan to the <= 10001-value grid; the
    cumulative is the fbeta/Youden allowlist class (entry landed in
    this same commit); the pc fan is a broadcast 19-row cross of the
    bounded grid. 19 rows out.
    """
    t = Tables(spark, sf_dir)
    cum, tot = roc_cum(t)
    cum0 = cum.select("n_sel", "tp").unionByName(
        cum.sparkSession.createDataFrame([(0, 0)], "n_sel long, tp long")
    )
    pcs = cum.sparkSession.range(1, COST_PC_DEN).select(
        F.col("id").cast("long").alias("i")
    )
    j = cum0.crossJoin(F.broadcast(pcs)).crossJoin(F.broadcast(tot))
    m6 = F.lit(1_000_000).cast("decimal(38,0)")
    nden = F.lit(COST_PC_DEN).cast("decimal(38,0)") * dec38(F.col("p")) * dec38(
        F.col("nn") - F.col("p")
    )
    nnum = m6 * (
        dec38(F.col("i")) * dec38(F.col("p") - F.col("tp")) * dec38(F.col("nn") - F.col("p"))
        + dec38(F.lit(COST_PC_DEN) - F.col("i"))
        * dec38(F.col("n_sel") - F.col("tp"))
        * dec38(F.col("p"))
    )
    nec = j.select("i", halfup_div(nnum, nden).cast("long").alias("nec_micro"))
    env = nec.groupBy("i").agg(F.min("nec_micro").alias("envelope_micro"))
    triv = halfup_div(
        m6 * dec38(F.least(F.col("i"), F.lit(COST_PC_DEN) - F.col("i"))),
        F.lit(COST_PC_DEN).cast("decimal(38,0)"),
    ).cast("long")
    return env.select(
        F.col("i").alias("pc_num"),
        F.lit(COST_PC_DEN).cast("long").alias("pc_den"),
        "envelope_micro",
        triv.alias("trivial_micro"),
        (triv - F.col("envelope_micro")).alias("gain_micro"),
    ).orderBy("pc_num")
