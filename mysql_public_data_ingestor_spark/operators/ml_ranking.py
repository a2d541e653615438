"""Ranking quality of the hashed-feature quality classifier: exact
AUC per language and its jackknife interval, the ROC convex hull and
its PAV audit, McClish partial AUC, PR-AUC, NDCG, precision@k, lift,
gains at capacity, KS separation and rank-biased overlap.

Every query reads the shared scored frame of ``ml_scores``.
"""

from __future__ import annotations

import math as _math

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from ..functions.exact import dec38, halfup_div, round_int_ratio, sql_halfup_div
from ..registry import register
from ..tables import Tables
from .ml_scores import (
    iso_bins,
    iso_fit,
    roc_cum,
    score_grid,
    scored_labeled,
    scored_labeled_sql,
    sql_iso_fit_ctes,
    sql_roc_cum,
)

# ---------------------------------------------------------------------------
# Exact ROC-AUC per language
# ---------------------------------------------------------------------------


def _auc_oracle() -> str:
    from ..functions.exact import sql_round_int_ratio

    num = "(r2 - n_pos * (n_pos + 1))"
    den = "(2 * n_pos * n_neg)"
    return (
        scored_labeled_sql()
        + f"""
    , by_val AS (
      SELECT lang, score_q,
             CAST(count(*) AS HUGEINT) AS cnt,
             CAST(sum(label) AS HUGEINT) AS cpos
      FROM scored GROUP BY lang, score_q
    ), ranked AS (
      SELECT lang, cnt, cpos,
             coalesce(sum(cnt) OVER (PARTITION BY lang ORDER BY score_q
                                     ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING),
                      0) AS cum
      FROM by_val
    ), agg AS (
      SELECT lang,
             sum(cpos)                          AS n_pos,
             sum(cnt - cpos)                    AS n_neg,
             sum(cpos * (2 * cum + cnt + 1))    AS r2
      FROM ranked GROUP BY lang
    )
    SELECT lang,
           CAST(n_pos AS BIGINT) AS n_pos,
           CAST(n_neg AS BIGINT) AS n_neg,
           CASE WHEN n_pos > 0 AND n_neg > 0
                THEN {sql_round_int_ratio(num, den)}
                ELSE NULL END AS auc
    FROM agg
    """
    )


@register("ml_auc_by_lang", oracle=_auc_oracle())
def ml_auc_by_lang(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact ROC-AUC of the classifier score against the rule gate,
    per language — the Mann-Whitney identity AUC = (R_pos - n_pos
    (n_pos+1)/2) / (n_pos n_neg) with midrank tie handling, computed
    over the DISTINCT quantized-score domain.

    Ranks never materialize per document: scores are pre-aggregated to
    (lang, score_q) with tied counts (|domain| <= 10001 values per
    lang), the rank window runs per-lang over that bounded domain, and
    every sufficient statistic (n_pos, n_neg, 2R as ``r2``) is an
    exact integer widened to decimal — the same scale discipline as
    ``stats_mann_whitney_ab``. Per-language AUC is also the fairness
    cut: a filter that looks calibrated globally can be anti-predictive
    on one language.
    """
    t = Tables(spark, sf_dir)
    s = scored_labeled(t)
    g = s.groupBy("lang", "score_q").agg(
        F.count(F.lit(1)).alias("cnt"), F.sum("label").alias("cpos")
    )
    w = (
        Window.partitionBy("lang")
        .orderBy("score_q")
        .rowsBetween(Window.unboundedPreceding, -1)
    )
    r = g.select(
        "lang",
        "cnt",
        "cpos",
        F.coalesce(F.sum("cnt").over(w), F.lit(0)).alias("cum"),
    )
    a = r.groupBy("lang").agg(
        F.sum("cpos").alias("n_pos"),
        F.sum(F.col("cnt") - F.col("cpos")).alias("n_neg"),
        F.sum(
            F.col("cpos").cast("decimal(38,0)")
            * (2 * F.col("cum") + F.col("cnt") + 1)
        ).alias("r2"),
    )
    num = F.col("r2") - F.col("n_pos").cast("decimal(38,0)") * (F.col("n_pos") + 1)
    den = (F.lit(2).cast("decimal(38,0)") * F.col("n_pos") * F.col("n_neg")).cast(
        "decimal(38,0)"
    )
    return a.select(
        "lang",
        "n_pos",
        "n_neg",
        F.when(
            (F.col("n_pos") > 0) & (F.col("n_neg") > 0), round_int_ratio(num, den)
        ).alias("auc"),
    )


# ---------------------------------------------------------------------------
# Jackknife CI on the classifier AUC (leave-one-bucket-out)
# ---------------------------------------------------------------------------

AUC_JK_BUCKETS = 10


def _auc_jackknife_oracle() -> str:
    from ..functions.exact import sql_round_big_int_ratio

    b = AUC_JK_BUCKETS
    return (
        scored_labeled_sql()
        + f"""
    , bv AS (
      SELECT score_q,
             CAST((('0x' || substr(sha256(CAST(doc_id AS VARCHAR)), 1, 15)))::BIGINT
               % {b} AS BIGINT) AS bucket,
             CAST(count(*) AS BIGINT) AS cnt,
             CAST(sum(label) AS BIGINT) AS cpos
      FROM scored GROUP BY 1, 2
    ), buckets AS (SELECT unnest(range(0, {b})) AS bucket),
    tot AS (
      SELECT score_q, CAST(sum(cnt) AS BIGINT) AS cnt_t,
             CAST(sum(cpos) AS BIGINT) AS cpos_t
      FROM bv GROUP BY score_q
    ), excl AS (
      SELECT bk.bucket, t.score_q,
             t.cnt_t - coalesce(v.cnt, 0) AS cnt,
             t.cpos_t - coalesce(v.cpos, 0) AS cpos
      FROM buckets bk CROSS JOIN tot t
      LEFT JOIN bv v ON v.bucket = bk.bucket AND v.score_q = t.score_q
    ), ranked AS (
      SELECT bucket, cnt, cpos,
             coalesce(sum(cnt) OVER (PARTITION BY bucket ORDER BY score_q
               ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0) AS cum
      FROM excl
    ), per_b AS (
      SELECT bucket,
             CAST(sum(cpos) AS BIGINT) AS n_pos,
             CAST(sum(cnt - cpos) AS BIGINT) AS n_neg,
             CAST(sum(cpos * (2 * cum + cnt + 1)) AS HUGEINT) AS r2
      FROM ranked GROUP BY bucket
    ), theta AS (
      SELECT bucket,
             CAST((2 * ((r2 - n_pos::HUGEINT * (n_pos + 1)) * 1000000000)
                   + 2::HUGEINT * n_pos * n_neg)
               // (2::HUGEINT * 2 * n_pos * n_neg) AS BIGINT) AS theta_u
      FROM per_b WHERE n_pos > 0 AND n_neg > 0
    ), s AS (
      SELECT CAST(count(*) AS BIGINT) AS nb,
             CAST(sum(theta_u) AS BIGINT) AS s1,
             CAST(sum(theta_u::HUGEINT * theta_u) AS HUGEINT) AS s2
      FROM theta
    )
    SELECT nb AS n_buckets,
           {sql_round_big_int_ratio('s1', 'nb::HUGEINT * 1000000000', 9)}
             AS auc_jackknife_mean,
           CAST(floor(sqrt(
             CAST((nb - 1) * (nb * s2 - s1::HUGEINT * s1) AS DOUBLE)
             / (CAST(nb AS DOUBLE) * nb)) / 1000000000.0 * 1000000.0 + 0.5)
             AS BIGINT) / 1000000.0 AS auc_se_jackknife
    FROM s
    """
    )


@register("ml_auc_jackknife_ci", oracle=_auc_jackknife_oracle())
def ml_auc_jackknife_ci(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Delete-one-group jackknife standard error on the classifier
    AUC: documents hash deterministically into 10 buckets, theta_b =
    AUC computed WITHOUT bucket b (exact doubled rank-sums on the
    leave-out score-domain counts), and the jackknife mean/SE follow
    from the 10 thetas — the error bar the point estimates
    (``ml_auc_by_lang``) lack, RNG-free like the block-jackknife mean
    CI (``stats_jackknife_mean_ci``).

    The leave-out trick never rescans documents: one scan builds the
    (score, bucket) count grid; each theta_b is the full-population
    cumulative MINUS the bucket's own counts, an O(|domain| x 10)
    bounded computation. Each theta quantizes half-up 1e-9, so the
    jackknife moments are exact integer sums with one double sqrt at
    the end.
    """
    from ..functions.exact import round_big_int_ratio
    from ..functions.textnorm import sha256_prefix_i64

    b = AUC_JK_BUCKETS
    t = Tables(spark, sf_dir)
    sc = scored_labeled(t).select(
        "score_q",
        "label",
        (sha256_prefix_i64(F.col("doc_id").cast("string")) % b).alias("bucket"),
    )
    from ..functions.partitioning import iter_checkpoint

    # the (score, bucket) grid is consumed twice (totals + the
    # leave-out join); without a lineage cut the expensive per-token
    # scoring scan upstream runs once per consumer (measured 6.9x at
    # the x10 fixture). The grid itself is domain-bounded
    # (<= 10001 scores x 10 buckets), so the cut is cheap.
    bv = iter_checkpoint(
        sc.groupBy("score_q", "bucket").agg(
            F.count(F.lit(1)).alias("cnt"), F.sum("label").alias("cpos")
        )
    )
    tot = bv.groupBy("score_q").agg(
        F.sum("cnt").alias("cnt_t"), F.sum("cpos").alias("cpos_t")
    )
    buckets = spark.range(b).select(F.col("id").alias("bucket"))
    excl = (
        buckets.crossJoin(tot)
        .join(bv, ["bucket", "score_q"], "left")
        .select(
            "bucket",
            "score_q",
            (F.col("cnt_t") - F.coalesce(F.col("cnt"), F.lit(0))).alias("cnt"),
            (F.col("cpos_t") - F.coalesce(F.col("cpos"), F.lit(0))).alias("cpos"),
        )
    )
    w_prev = (
        Window.partitionBy("bucket")
        .orderBy("score_q")
        .rowsBetween(Window.unboundedPreceding, -1)
    )
    ranked = excl.select(
        "bucket",
        "cnt",
        "cpos",
        F.coalesce(F.sum("cnt").over(w_prev), F.lit(0)).alias("cum"),
    )
    per_b = ranked.groupBy("bucket").agg(
        F.sum("cpos").alias("n_pos"),
        F.sum(F.col("cnt") - F.col("cpos")).alias("n_neg"),
        F.sum(dec38(F.col("cpos")) * (2 * F.col("cum") + F.col("cnt") + 1)).alias("r2"),
    )
    th_num = (F.col("r2") - dec38(F.col("n_pos")) * (F.col("n_pos") + 1)) * F.lit(10**9)
    th_den = F.lit(2).cast("decimal(38,0)") * F.col("n_pos") * F.col("n_neg")
    th_a = F.lit(2).cast("decimal(38,0)") * th_num + th_den
    th_b = F.lit(2).cast("decimal(38,0)") * th_den
    # a leave-one-bucket-out sample with n_pos=0 or n_neg=0 (degenerate
    # fuzz corpora) has no defined AUC: theta would be NULL on the
    # Spark side (decimal div by zero) while nb still counted the row
    # and the engines' div-by-zero semantics differ — drop degenerate
    # buckets in BOTH engines instead (ADVICE r8).
    theta = (
        per_b.filter((F.col("n_pos") > 0) & (F.col("n_neg") > 0))
        .select(((th_a - th_a % th_b) / th_b).cast("long").alias("theta_u"))
    )
    s = theta.agg(
        F.count(F.lit(1)).alias("nb"),
        F.sum("theta_u").alias("s1"),
        F.sum(dec38(F.col("theta_u")) * F.col("theta_u")).alias("s2"),
    )
    nb = F.col("nb")
    var_num = (
        (dec38(nb) - 1) * (dec38(nb) * F.col("s2") - dec38(F.col("s1")) * F.col("s1"))
    ).cast("double")
    se = F.sqrt(var_num / (nb.cast("double") * nb)) / F.lit(1e9)
    return s.select(
        nb.alias("n_buckets"),
        round_big_int_ratio(F.col("s1"), dec38(nb) * F.lit(10**9), 9).alias(
            "auc_jackknife_mean"
        ),
        (F.floor(se * F.lit(1e6) + F.lit(0.5)).cast("long") / F.lit(1e6)).alias(
            "auc_se_jackknife"
        ),
    )


# ---------------------------------------------------------------------------
# ROC convex hull (the achievable-classifier frontier)
# ---------------------------------------------------------------------------


def _roc_hull_oracle() -> str:
    from ..functions.exact import sql_round_int_ratio

    return (
        scored_labeled_sql()
        + f"""
    , bins AS (
      SELECT least(score_q // 100, 100) AS bin,
             CAST(sum(label) AS BIGINT) AS pos,
             CAST(count(*) - sum(label) AS BIGINT) AS neg
      FROM scored GROUP BY 1
    ), tot AS (
      SELECT CAST(sum(pos) AS BIGINT) AS p, CAST(sum(neg) AS BIGINT) AS nn
      FROM bins
    ), pts0 AS (
      -- threshold t: predict positive when bin >= t  (t in 0..101)
      SELECT t.t,
             CAST(coalesce(sum(b.pos), 0) AS BIGINT) AS tp,
             CAST(coalesce(sum(b.neg), 0) AS BIGINT) AS fp
      FROM (SELECT unnest(range(0, 102)) AS t) t
      LEFT JOIN bins b ON b.bin >= t.t
      GROUP BY t.t
    ), pts AS (
      -- one point per distinct fp: the best (max tp) classifier there
      SELECT fp, CAST(max(tp) AS BIGINT) AS tp FROM pts0 GROUP BY fp
    ), hull AS (
      SELECT i.fp, i.tp FROM pts i
      WHERE NOT EXISTS (
        SELECT 1 FROM pts j, pts k
        WHERE j.fp <= i.fp AND k.fp >= i.fp AND j.fp < k.fp
          AND i.tp * (k.fp - j.fp) < j.tp * (k.fp - i.fp) + k.tp * (i.fp - j.fp)
      )
    )
    SELECT h.fp AS fp_count, h.tp AS tp_count,
           {sql_round_int_ratio('h.fp', 'tot.nn')} AS fpr,
           {sql_round_int_ratio('h.tp', 'tot.p')} AS tpr
    FROM hull h, tot ORDER BY fp_count
    """
    )


@register("ml_roc_convex_hull", oracle=_roc_hull_oracle())
def ml_roc_convex_hull(spark: SparkSession, sf_dir: str) -> DataFrame:
    """ROC CONVEX HULL of the quality classifier against the rule-gate
    label: the subset of threshold operating points not strictly below
    any chord between two other points — the achievable frontier
    (Provost-Fawcett): any point off the hull is dominated at EVERY
    cost/class-prior by a randomized mixture of two hull points, so
    the hull is what cost-based threshold pickers
    (``ml_cost_optimal_threshold``) should search.

    Exactness: operating points come from the bounded 101-bin score
    cumulative (bin = score_q // 100); the chord test
    tp_i (fp_k - fp_j) >= tp_j (fp_k - fp_i) + tp_k (fp_i - fp_j) is
    exact integer cross-multiplication — no slopes, no division.

    Scale shape: one scored scan to <=101 bins; thresholds, points and
    the O(101^3) dominance test are all bounded BY MECHANISM
    (score-bin domain, not data size) via broadcast non-equi joins.
    """
    t = Tables(spark, sf_dir)
    scored = scored_labeled(t)
    # localCheckpoint: five downstream branches (totals, points, both
    # chord sides, the hull anti-join) would otherwise each re-run the
    # sha-heavy scored scan — the decontaminate-op convention for a
    # tiny frame feeding many branches (<=101 rows here)
    bins = scored.groupBy(
        F.least(F.col("score_q") / 100, F.lit(100)).cast("long").alias("bin")
    ).agg(
        F.sum("label").cast("long").alias("pos"),
        (F.count(F.lit(1)) - F.sum("label")).cast("long").alias("neg"),
    ).localCheckpoint(eager=False)
    tot = bins.agg(
        F.sum("pos").cast("long").alias("p"), F.sum("neg").cast("long").alias("nn")
    )
    ts = bins.sparkSession.range(0, 102).select(F.col("id").alias("t"))
    pts0 = (
        ts.join(F.broadcast(bins), F.col("bin") >= F.col("t"), "left")
        .groupBy("t")
        .agg(
            F.coalesce(F.sum("pos"), F.lit(0)).cast("long").alias("tp"),
            F.coalesce(F.sum("neg"), F.lit(0)).cast("long").alias("fp"),
        )
    )
    pts = pts0.groupBy("fp").agg(F.max("tp").alias("tp"))
    j = pts.select(F.col("fp").alias("fp_j"), F.col("tp").alias("tp_j"))
    k = pts.select(F.col("fp").alias("fp_k"), F.col("tp").alias("tp_k"))
    dominated = (
        pts.join(F.broadcast(j), F.col("fp_j") <= F.col("fp"))
        .join(
            F.broadcast(k),
            (F.col("fp_k") >= F.col("fp")) & (F.col("fp_j") < F.col("fp_k")),
        )
        .filter(
            F.col("tp") * (F.col("fp_k") - F.col("fp_j"))
            < F.col("tp_j") * (F.col("fp_k") - F.col("fp"))
            + F.col("tp_k") * (F.col("fp") - F.col("fp_j"))
        )
        .select("fp")
        .distinct()
    )
    hull = pts.join(dominated, "fp", "left_anti")
    return (
        hull.crossJoin(F.broadcast(tot))
        .select(
            F.col("fp").alias("fp_count"),
            F.col("tp").alias("tp_count"),
            round_int_ratio(F.col("fp"), F.col("nn")).alias("fpr"),
            round_int_ratio(F.col("tp"), F.col("p")).alias("tpr"),
        )
        .orderBy("fp_count")
    )


# ---------------------------------------------------------------------------
# PAV blocks vs ROC upper-hull vertices
# ---------------------------------------------------------------------------


def _pav_hull_oracle() -> str:
    hd = sql_halfup_div
    return (
        scored_labeled_sql()
        + ", "
        + sql_iso_fit_ctes()
        + f"""
    , blocks AS (
      SELECT CAST(count(DISTINCT CAST(floor(v * 1000000.0 + 0.5) AS BIGINT))
                  AS BIGINT) AS n_blocks,
             CAST(count(*) AS BIGINT) AS n_bins
      FROM fit
    ), pts AS (
      -- ROC points in DESCENDING score order: after including the m
      -- highest bins, x = cum FP, y = cum TP; m = 0 is the origin
      SELECT CAST(count(b.bin) AS BIGINT) AS m,
             CAST(coalesce(sum(b.n - b.pos), 0) AS HUGEINT) AS x,
             CAST(coalesce(sum(b.pos), 0) AS HUGEINT) AS y
      FROM (SELECT DISTINCT bin FROM bins UNION ALL SELECT NULL) a
      LEFT JOIN bins b ON b.bin >= a.bin
      GROUP BY a.bin
    ), interior AS (
      SELECT p.m,
             CASE WHEN min((p.y - i.y) * (j.x - i.x)
                           - (j.y - i.y) * (p.x - i.x)) > 0
                  THEN 1 ELSE 0 END AS is_vertex
      FROM pts p
      JOIN pts i ON i.m < p.m
      JOIN pts j ON j.m > p.m
      GROUP BY p.m, p.x, p.y
    ), hull AS (
      SELECT CAST(2 + sum(is_vertex) AS BIGINT) AS n_vertices
      FROM interior
    ), auc AS (
      -- 2*P*N-scaled hull area via the trapezoid sum over ALL points
      -- (non-vertex points are collinear, adding them changes nothing)
      SELECT CAST(sum((b.x - a.x) * (a.y + b.y)) AS HUGEINT) AS tri2,
             (SELECT max(x) FROM pts) AS nneg,
             (SELECT max(y) FROM pts) AS npos
      FROM pts a JOIN pts b ON b.m = a.m + 1
    )
    SELECT bl.n_bins, bl.n_blocks, h.n_vertices AS n_hull_vertices,
           CAST(CASE WHEN bl.n_blocks = h.n_vertices - 1 THEN 1 ELSE 0 END
                AS BIGINT) AS pav_hull_equiv,
           CASE WHEN a.nneg > 0 AND a.npos > 0 THEN
             CAST({hd('1000000::HUGEINT * a.tri2', '2 * a.nneg * a.npos')}
                  AS BIGINT)
           END AS hull_auc_micro
    FROM blocks bl, hull h, auc a
    """
    )


@register("ml_pav_roc_hull_audit", oracle=_pav_hull_oracle())
def ml_pav_roc_hull_audit(spark: SparkSession, sf_dir: str) -> DataFrame:
    """PAV-vs-ROC-hull equivalence audit (VERDICT r11's suggestion):
    the isotonic-regression fit over the score bins and the upper
    convex hull of the bin-level ROC curve are the SAME object viewed
    two ways (Fawcett & Niculescu-Mizil 2007 — PAV blocks are hull
    segments, block rates are segment slopes), so the number of
    distinct fitted values must equal the number of hull segments.
    This op computes BOTH independently — the PAV side off the shared
    ``ml_scores.iso_fit`` minimax derivation, the hull side by the
    exact-integer chord test on descending-score cumulative points —
    and reports the equivalence flag plus the hull AUC. A 0 flag means
    one of the two derivations is wrong: it is a built-in consistency
    check of the calibration family, not just a statistic.

    Exactness: hull vertex membership is min-over-chords of exact
    integer cross products (strictly-above test — collinear points are
    not vertices, matching PAV's merge of equal-rate bins); the AUC
    trapezoid sum runs over ALL points (collinear extras contribute
    exactly their segment share) with ONE half-up micro division.

    Scale shape: everything after the one scored-corpus scan lives on
    the <= 21-point bin grid (the O(B^3) chord test is ~1.3k rows).
    """
    t = Tables(spark, sf_dir)
    bins = iso_bins(t)
    fit = iso_fit(bins)
    blocks = fit.agg(
        F.countDistinct(
            F.floor(F.col("v") * F.lit(1000000.0) + F.lit(0.5)).cast("long")
        ).alias("n_blocks"),
        F.count(F.lit(1)).cast("long").alias("n_bins"),
    )
    # descending-score cumulative ROC points (m = #bins included)
    a = bins.select(F.col("bin").alias("abin")).unionAll(
        bins.agg(F.lit(None).cast("long").alias("abin"))
    ).distinct()
    b = bins.select(
        F.col("bin").alias("bbin"),
        (F.col("n") - F.col("pos")).alias("fp"),
        F.col("pos").alias("tp"),
    )
    pts = (
        a.join(F.broadcast(b), F.col("bbin") >= F.col("abin"), "left")
        .groupBy("abin")
        .agg(
            F.count("bbin").cast("long").alias("m"),
            dec38(F.coalesce(F.sum("fp"), F.lit(0))).alias("x"),
            dec38(F.coalesce(F.sum("tp"), F.lit(0))).alias("y"),
        )
        .select("m", "x", "y")
    )
    pi = pts.select(
        F.col("m").alias("mi"), F.col("x").alias("xi"), F.col("y").alias("yi")
    )
    pj = pts.select(
        F.col("m").alias("mj"), F.col("x").alias("xj"), F.col("y").alias("yj")
    )
    cross = (F.col("y") - F.col("yi")) * (F.col("xj") - F.col("xi")) - (
        F.col("yj") - F.col("yi")
    ) * (F.col("x") - F.col("xi"))
    interior = (
        pts.join(F.broadcast(pi), F.col("mi") < F.col("m"))
        .join(F.broadcast(pj), F.col("mj") > F.col("m"))
        .groupBy("m", "x", "y")
        .agg(
            F.when(F.min(cross) > 0, F.lit(1)).otherwise(F.lit(0)).alias("is_vertex")
        )
    )
    hull = interior.agg((2 + F.sum("is_vertex")).cast("long").alias("n_vertices"))
    pb = pts.select(
        F.col("m").alias("mb"), F.col("x").alias("xb"), F.col("y").alias("yb")
    )
    auc = (
        pts.join(F.broadcast(pb), F.col("mb") == F.col("m") + 1)
        .agg(
            F.sum(
                (F.col("xb") - F.col("x")) * (F.col("y") + F.col("yb"))
            ).alias("tri2")
        )
        .crossJoin(
            F.broadcast(
                pts.agg(F.max("x").alias("nneg"), F.max("y").alias("npos"))
            )
        )
    )
    m6 = F.lit(1_000_000).cast("decimal(38,0)")
    return (
        blocks.crossJoin(F.broadcast(hull))
        .crossJoin(F.broadcast(auc))
        .select(
            "n_bins",
            "n_blocks",
            F.col("n_vertices").alias("n_hull_vertices"),
            F.when(F.col("n_blocks") == F.col("n_vertices") - 1, 1)
            .otherwise(0)
            .cast("long")
            .alias("pav_hull_equiv"),
            F.when(
                (F.col("nneg") > 0) & (F.col("npos") > 0),
                halfup_div(
                    m6 * F.col("tri2"), 2 * F.col("nneg") * F.col("npos")
                ).cast("long"),
            ).alias("hull_auc_micro"),
        )
    )


# ---------------------------------------------------------------------------
# Partial AUC (FPR <= 1/10) with McClish standardization
# ---------------------------------------------------------------------------

PAUC_B_NUM, PAUC_B_DEN = 1, 10  # FPR band [0, 0.1]


def _pauc_oracle() -> str:
    b = f"({PAUC_B_NUM}.0::DOUBLE / {PAUC_B_DEN}.0::DOUBLE)"
    return (
        scored_labeled_sql()
        + ", "
        + sql_roc_cum().strip()
        + f"""
    , pts AS (
      SELECT v,
             CAST(n_sel - tp AS DOUBLE) / CAST((SELECT nn - p FROM tot) AS DOUBLE)
               AS x,
             CAST(tp AS DOUBLE) / CAST((SELECT p FROM tot) AS DOUBLE) AS y
      FROM cum
    ), segs AS (
      SELECT coalesce(lag(x) OVER (ORDER BY v DESC), 0.0::DOUBLE) AS x1,
             coalesce(lag(y) OVER (ORDER BY v DESC), 0.0::DOUBLE) AS y1,
             x AS x2, y AS y2
      FROM pts
    ), contrib AS (
      SELECT CASE
        WHEN x2 <= {b} THEN (x2 - x1) * (y1 + y2) * 0.5::DOUBLE
        WHEN x1 < {b} THEN
          ({b} - x1)
          * (y1 + (y1 + (y2 - y1) * (({b} - x1) / (x2 - x1)))) * 0.5::DOUBLE
        ELSE 0.0::DOUBLE END AS a
      FROM segs WHERE x2 > x1
    ), area AS (
      SELECT sum(CAST(floor(a * 1000000000000.0::DOUBLE + 0.5) AS BIGINT)) AS a_pico
      FROM contrib
    )
    SELECT CAST((SELECT nn FROM tot) AS BIGINT) AS n_docs,
           CAST((SELECT p FROM tot) AS BIGINT) AS n_pos,
           CAST(a_pico AS BIGINT) AS pauc_pico,
           CAST(floor(
             (0.5::DOUBLE * (1.0::DOUBLE
               + ((CAST(a_pico AS DOUBLE) / 1000000000000.0::DOUBLE
                   - {b} * {b} * 0.5::DOUBLE)
                  / ({b} - {b} * {b} * 0.5::DOUBLE))))
             * 1000000.0::DOUBLE + 0.5) AS BIGINT) AS pauc_mcclish_micro
    FROM area
    """
    )


@register("ml_partial_auc_mcclish", oracle=_pauc_oracle())
def ml_partial_auc_mcclish(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Partial AUC restricted to the deployable low-false-positive
    band FPR in [0, 0.1], with the McClish (1989) standardization
    0.5 (1 + (A - A_min)/(A_max - A_min)) so the number reads like a
    full AUC (0.5 = chance, 1 = perfect IN THE BAND). Global AUC
    (``ml_auc_by_lang``) credits ranking skill at operating points a
    production filter will never use; when the alert budget caps FPR
    at 10%, THIS is the discrimination that matters, and two models
    with equal AUC routinely swap order under it.

    Exactness: the ROC polyline vertices are exact integer rationals
    off the shared descending score-grid cumulative; each trapezoid
    (and the single interpolated boundary segment) evaluates as a
    mirrored IEEE double expression and quantizes to pico-area units
    BEFORE the order-independent integer sum; the standardization is
    one further mirrored expression, quantized at micro.

    Scale shape: one scored scan to the <= 10001-value grid; the
    cumulative and its lag are the fbeta/Youden allowlist class
    (entry landed in this same commit). 1 row out.
    """
    t = Tables(spark, sf_dir)
    cum, tot = roc_cum(t)
    b = float(PAUC_B_NUM) / float(PAUC_B_DEN)
    pts = cum.crossJoin(F.broadcast(tot)).select(
        "v",
        ((F.col("n_sel") - F.col("tp")).cast("double")
         / (F.col("nn") - F.col("p")).cast("double")).alias("x"),
        (F.col("tp").cast("double") / F.col("p").cast("double")).alias("y"),
    )
    wlag = Window.orderBy(F.col("v").desc())
    segs = pts.select(
        F.coalesce(F.lag("x").over(wlag), F.lit(0.0)).alias("x1"),
        F.coalesce(F.lag("y").over(wlag), F.lit(0.0)).alias("y1"),
        F.col("x").alias("x2"),
        F.col("y").alias("y2"),
    ).where(F.col("x2") > F.col("x1"))
    bl = F.lit(b)
    yb = F.col("y1") + (F.col("y2") - F.col("y1")) * (
        (bl - F.col("x1")) / (F.col("x2") - F.col("x1"))
    )
    a = (
        F.when(
            F.col("x2") <= bl,
            (F.col("x2") - F.col("x1")) * (F.col("y1") + F.col("y2")) * F.lit(0.5),
        )
        .when(
            F.col("x1") < bl,
            (bl - F.col("x1")) * (F.col("y1") + yb) * F.lit(0.5),
        )
        .otherwise(F.lit(0.0))
    )
    area = segs.agg(
        F.sum(F.floor(a * F.lit(1e12) + F.lit(0.5)).cast("long")).alias("a_pico")
    )
    std = F.lit(0.5) * (
        F.lit(1.0)
        + (
            (F.col("a_pico").cast("double") / F.lit(1e12) - F.lit(b * b * 0.5))
            / (F.lit(b) - F.lit(b * b * 0.5))
        )
    )
    return area.crossJoin(F.broadcast(tot)).select(
        F.col("nn").alias("n_docs"),
        F.col("p").alias("n_pos"),
        F.col("a_pico").alias("pauc_pico"),
        F.floor(std * F.lit(1e6) + F.lit(0.5)).cast("long").alias(
            "pauc_mcclish_micro"
        ),
    )


# ---------------------------------------------------------------------------
# Average precision (PR-AUC) of the quality classifier
# ---------------------------------------------------------------------------


def _pr_auc_oracle() -> str:
    return (
        scored_labeled_sql()
        + """
    , g AS (
      SELECT lang, score_q,
             CAST(count(*) AS BIGINT) AS cnt,
             CAST(sum(label) AS BIGINT) AS pos
      FROM scored GROUP BY lang, score_q
    ), c AS (
      SELECT lang, pos,
             sum(cnt) OVER (PARTITION BY lang ORDER BY score_q DESC) AS n_incl,
             sum(pos) OVER (PARTITION BY lang ORDER BY score_q DESC) AS tp_incl
      FROM g
    ), terms AS (
      SELECT lang, pos,
             CAST(((2000000000::HUGEINT * (pos::HUGEINT * tp_incl) + n_incl)
                   // (2::HUGEINT * n_incl)) AS HUGEINT) AS term_q9
      FROM c WHERE pos > 0
    ), agg AS (
      SELECT s.lang,
             CAST(sum(s.label) AS BIGINT) AS n_pos,
             CAST(count(*) - sum(s.label) AS BIGINT) AS n_neg
      FROM scored s GROUP BY s.lang
    ), ap AS (
      SELECT lang, CAST(sum(term_q9) AS HUGEINT) AS sum_q9 FROM terms GROUP BY lang
    )
    SELECT a.lang, a.n_pos, a.n_neg,
           CASE WHEN a.n_pos > 0 THEN
             CAST(((2::HUGEINT * p.sum_q9 + a.n_pos)
                   // (2::HUGEINT * a.n_pos)) AS BIGINT) / 1e9
           END AS avg_precision
    FROM agg a LEFT JOIN ap p USING (lang)
    """
    )


@register("ml_pr_auc_by_lang", oracle=_pr_auc_oracle())
def ml_pr_auc_by_lang(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Average precision (area under the precision-recall curve, step
    interpolation) of the quality classifier per language — the eval
    that matters under class imbalance, where ROC-AUC
    (``ml_auc_by_lang``) flatters: precision is recomputed at every
    score cut, so a classifier that ranks a few negatives early is
    punished immediately.

    Definition (tie-aware, exact): scores collapse to their distinct
    domain; at each score group, precision = tp_incl/n_incl at the
    group's inclusive cumulative counts, weighted by the group's
    positives. Each term quantizes half-up to nano-units in int128
    BEFORE the sum (denominators vary per group — summing the exact
    rationals would need unbounded precision), and AP is one final
    half-up ratio by n_pos. Scale: identical shape to the AUC query —
    a bounded per-lang window over the collapsed score domain.
    """
    t = Tables(spark, sf_dir)
    s = scored_labeled(t)
    g = s.groupBy("lang", "score_q").agg(
        F.count(F.lit(1)).alias("cnt"), F.sum("label").alias("pos")
    )
    w = Window.partitionBy("lang").orderBy(F.col("score_q").desc())
    c = g.select(
        "lang",
        "pos",
        F.sum("cnt").over(w).alias("n_incl"),
        F.sum("pos").over(w).alias("tp_incl"),
    )
    num = dec38(F.lit(2_000_000_000)) * (dec38(F.col("pos")) * dec38(F.col("tp_incl")))
    den = dec38(F.col("n_incl"))
    term_q9 = ((num + den - (num + den) % (F.lit(2).cast("decimal(38,0)") * den))
               / (F.lit(2).cast("decimal(38,0)") * den)).cast("decimal(38,0)")
    terms = c.where(F.col("pos") > 0).select("lang", term_q9.alias("term_q9"))
    agg = s.groupBy("lang").agg(
        F.sum("label").alias("n_pos"),
        (F.count(F.lit(1)) - F.sum("label")).alias("n_neg"),
    )
    ap = terms.groupBy("lang").agg(F.sum("term_q9").alias("sum_q9"))
    num2 = F.lit(2).cast("decimal(38,0)") * F.col("sum_q9") + dec38(F.col("n_pos"))
    den2 = F.lit(2).cast("decimal(38,0)") * dec38(F.col("n_pos"))
    return (
        agg.join(ap, "lang", "left")
        .select(
            "lang",
            "n_pos",
            "n_neg",
            F.when(
                F.col("n_pos") > 0,
                ((num2 - num2 % den2) / den2).cast("long") / F.lit(1e9),
            ).alias("avg_precision"),
        )
    )


# ---------------------------------------------------------------------------
# NDCG@10 ranking eval of the quality classifier
# ---------------------------------------------------------------------------

NDCG_K = 10
# integer nano-gains 1e9/log2(i+1), precomputed in Python so BOTH
# engines embed the identical int64 literals — no runtime log anywhere
NDCG_W = [int(_math.floor(1e9 / _math.log2(i + 1) + 0.5)) for i in range(1, NDCG_K + 1)]
NDCG_PW = [sum(NDCG_W[: i + 1]) for i in range(NDCG_K)]  # prefix sums


def _ndcg_oracle() -> str:
    w_list = ", ".join(str(w) for w in NDCG_W)
    pw_list = ", ".join(str(w) for w in NDCG_PW)
    return (
        scored_labeled_sql()
        + f"""
    , ranked AS (
      SELECT lang, label,
             row_number() OVER (PARTITION BY lang
                                ORDER BY score_q DESC, doc_id) AS rn
      FROM scored
    ), pos AS (
      SELECT lang, CAST(sum(label) AS BIGINT) AS n_pos FROM scored GROUP BY lang
    ), dcg AS (
      SELECT lang,
             CAST(sum(label * ([{w_list}])[CAST(rn AS INTEGER)]) AS BIGINT)
               AS dcg_q
      FROM ranked WHERE rn <= {NDCG_K} GROUP BY lang
    ), j AS (
      SELECT p.lang, p.n_pos, coalesce(d.dcg_q, 0) AS dcg_q,
             CASE WHEN p.n_pos > 0 THEN
               ([{pw_list}])[CAST(least(p.n_pos, {NDCG_K}) AS INTEGER)]
             ELSE 0 END AS idcg_q
      FROM pos p LEFT JOIN dcg d USING (lang)
    )
    SELECT lang, n_pos, dcg_q, CAST(idcg_q AS BIGINT) AS idcg_q,
           CASE WHEN idcg_q > 0 THEN
             CAST(((2000000::HUGEINT * dcg_q + idcg_q)
                   // (2::HUGEINT * idcg_q)) AS BIGINT) / 1000000.0
           END AS ndcg
    FROM j
    """
    )


@register("ml_ndcg_by_lang", oracle=_ndcg_oracle())
def ml_ndcg_by_lang(spark: SparkSession, sf_dir: str) -> DataFrame:
    """NDCG@10 of the hashed-feature quality classifier against the
    rule-gate labels, per language — the RANKING eval completing the
    classifier's scorecard (calibration = probability quality, AUC =
    pairwise ordering, NDCG = top-of-list ordering, which is what a
    "select the best documents" pipeline actually consumes).

    Exactness: discount gains 1e9/log2(i+1) are PRECOMPUTED integer
    literals (i <= 10), so DCG and ideal DCG are exact int64 sums and
    NDCG is one decimal half-up ratio — no runtime logarithm at all.
    Scale: one per-lang top-10 window over the single-scan scored
    projection; everything after is |langs| rows.
    """
    from ..functions.exact import round_big_int_ratio

    t = Tables(spark, sf_dir)
    s = scored_labeled(t)
    w = Window.partitionBy("lang").orderBy(F.col("score_q").desc(), "doc_id")
    w_arr = F.array(*[F.lit(x).cast("long") for x in NDCG_W])
    pw_arr = F.array(*[F.lit(x).cast("long") for x in NDCG_PW])
    ranked = s.select("lang", "label", F.row_number().over(w).alias("rn"))
    dcg = (
        ranked.where(F.col("rn") <= NDCG_K)
        .groupBy("lang")
        .agg(F.sum(F.col("label") * F.element_at(w_arr, F.col("rn"))).alias("dcg_q"))
    )
    pos = s.groupBy("lang").agg(F.sum("label").alias("n_pos"))
    j = pos.join(dcg, "lang", "left").select(
        "lang",
        "n_pos",
        F.coalesce(F.col("dcg_q"), F.lit(0)).alias("dcg_q"),
        F.when(
            F.col("n_pos") > 0,
            F.element_at(
                pw_arr, F.least(F.col("n_pos"), F.lit(NDCG_K)).cast("int")
            ),
        )
        .otherwise(0)
        .alias("idcg_q"),
    )
    return j.select(
        "lang",
        "n_pos",
        "dcg_q",
        F.col("idcg_q").cast("long").alias("idcg_q"),
        F.when(
            F.col("idcg_q") > 0,
            round_big_int_ratio(F.col("dcg_q"), F.col("idcg_q")),
        ).alias("ndcg"),
    )


# ---------------------------------------------------------------------------
# Precision@k / lift of the classifier ranking, per language
# ---------------------------------------------------------------------------

PAK_K = 20


def _precision_at_k_oracle() -> str:
    from ..functions.exact import sql_round_int_ratio

    return (
        scored_labeled_sql()
        + f"""
    , ranked AS (
      SELECT lang, label,
             row_number() OVER (PARTITION BY lang
                                ORDER BY score_q DESC, doc_id) AS rnk
      FROM scored
    ), per AS (
      SELECT lang,
             CAST(count(*) AS BIGINT) AS n,
             CAST(sum(label) AS BIGINT) AS n_pos,
             CAST(sum(CASE WHEN rnk <= {PAK_K} THEN label ELSE 0 END) AS BIGINT)
               AS hits_at_k,
             CAST(sum(CASE WHEN rnk <= {PAK_K} THEN 1 ELSE 0 END) AS BIGINT)
               AS k_eff
      FROM ranked GROUP BY lang
    )
    SELECT lang, n, n_pos, k_eff, hits_at_k,
           {sql_round_int_ratio('hits_at_k', 'k_eff')} AS precision_at_k,
           CASE WHEN n_pos > 0 THEN
             {sql_round_int_ratio('hits_at_k * n', 'k_eff * n_pos')}
           END AS lift_at_k
    FROM per
    """
    )


@register("ml_precision_at_k_by_lang", oracle=_precision_at_k_oracle())
def ml_precision_at_k_by_lang(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Precision@20 and lift@20 of the hashed-classifier ranking per
    language: of each language's 20 highest-scored documents, the
    fraction that pass the quality gate, and that precision relative
    to the language's base rate — the RANKING-CUTOFF quality metrics
    beside the threshold metrics (AUC/PR-AUC integrate over all
    cutoffs; a selection pipeline ships exactly one k).

    Reuses the single-scan ``scored_labeled`` projection (scores and
    labels from one token pass, no joins); the per-language ranking
    partitions by lang (top-k never leaves its partition group);
    precision and lift are exact integer ratios with the k_eff
    denominator handling languages smaller than k. Deterministic
    tiebreak (score desc, doc_id) in both engines.
    """
    t = Tables(spark, sf_dir)
    sc = scored_labeled(t)
    w = Window.partitionBy("lang").orderBy(F.col("score_q").desc(), "doc_id")
    ranked = sc.select("lang", "label", F.row_number().over(w).alias("rnk"))
    per = ranked.groupBy("lang").agg(
        F.count(F.lit(1)).alias("n"),
        F.sum("label").alias("n_pos"),
        F.sum(F.when(F.col("rnk") <= PAK_K, F.col("label")).otherwise(0)).alias(
            "hits_at_k"
        ),
        F.sum(F.when(F.col("rnk") <= PAK_K, 1).otherwise(0)).alias("k_eff"),
    )
    return per.select(
        "lang",
        "n",
        "n_pos",
        "k_eff",
        "hits_at_k",
        round_int_ratio(F.col("hits_at_k"), F.col("k_eff")).alias("precision_at_k"),
        F.when(
            F.col("n_pos") > 0,
            round_int_ratio(
                F.col("hits_at_k") * F.col("n"), F.col("k_eff") * F.col("n_pos")
            ),
        ).alias("lift_at_k"),
    )


# ---------------------------------------------------------------------------
# Lift by score decile per language
# ---------------------------------------------------------------------------


def _lift_oracle() -> str:
    from ..functions.exact import sql_round_big_int_ratio

    return (
        scored_labeled_sql()
        + f"""
    , deciled AS (
      SELECT lang, label,
             ntile(10) OVER (PARTITION BY lang
                             ORDER BY score_q DESC, doc_id) AS decile
      FROM scored
    ), per AS (
      SELECT lang, CAST(decile AS BIGINT) AS decile,
             CAST(count(*) AS BIGINT) AS n_docs,
             CAST(sum(label) AS BIGINT) AS n_pos
      FROM deciled GROUP BY 1, 2
    ), tot AS (
      SELECT lang, CAST(sum(n_docs) AS BIGINT) AS n_all,
             CAST(sum(n_pos) AS BIGINT) AS pos_all
      FROM per GROUP BY lang
    )
    SELECT p.lang, p.decile, p.n_docs, p.n_pos,
           {sql_round_big_int_ratio('p.n_pos', 'p.n_docs')} AS pos_rate,
           CASE WHEN t.pos_all = 0 THEN NULL
                ELSE {sql_round_big_int_ratio(
                    'p.n_pos::HUGEINT * t.n_all',
                    'p.n_docs::HUGEINT * t.pos_all')}
           END AS lift
    FROM per p JOIN tot t ON t.lang = p.lang
    ORDER BY p.lang, p.decile
    """
    )


@register("ml_lift_deciles_by_lang", oracle=_lift_oracle())
def ml_lift_deciles_by_lang(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Gains/lift table of the quality classifier per language: rank
    documents by score, cut into deciles, and compare each decile's
    positive rate to the language base rate — the campaign-targeting
    view of model skill ("the top 10% of scored docs carry 2.3x the
    base quality rate").

    Determinism: the decile assignment ties on (score_q DESC, doc_id),
    a total order, so ntile(10) distributes identically on both
    engines; lift = pos*N / (n*P) is a pure integer ratio.

    Scale: the ntile window partitions BY LANGUAGE (parallel across
    the corpus's natural shards); per-decile sufficient stats are
    integers, 10 rows per language out.
    """
    from ..functions.exact import round_big_int_ratio

    t = Tables(spark, sf_dir)
    s = scored_labeled(t)
    w = Window.partitionBy("lang").orderBy(
        F.col("score_q").desc(), F.col("doc_id")
    )
    per = (
        s.select("lang", "label", F.ntile(10).over(w).alias("decile"))
        .groupBy("lang", F.col("decile").cast("long").alias("decile"))
        .agg(
            F.count(F.lit(1)).alias("n_docs"),
            F.sum("label").alias("n_pos"),
        )
    )
    tot = per.groupBy("lang").agg(
        F.sum("n_docs").alias("n_all"), F.sum("n_pos").alias("pos_all")
    )
    j = per.join(tot, "lang")
    lift = F.when(F.col("pos_all") == 0, F.lit(None).cast("double")).otherwise(
        round_big_int_ratio(
            dec38(F.col("n_pos")) * dec38(F.col("n_all")),
            dec38(F.col("n_docs")) * dec38(F.col("pos_all")),
        )
    )
    return j.select(
        "lang",
        "decile",
        "n_docs",
        "n_pos",
        round_big_int_ratio(dec38(F.col("n_pos")), dec38(F.col("n_docs"))).alias(
            "pos_rate"
        ),
        lift.alias("lift"),
    ).orderBy("lang", "decile")


# ---------------------------------------------------------------------------
# Gains (capture) at fixed review capacities
# ---------------------------------------------------------------------------

GAINS_CAPACITIES = (1, 5, 10, 20)


def _gains_oracle() -> str:
    from ..functions.exact import sql_round_big_int_ratio

    caps = ", ".join(str(c) for c in GAINS_CAPACITIES)
    return (
        scored_labeled_sql()
        + f"""
    , grid AS (
      SELECT score_q, CAST(count(*) AS BIGINT) AS cnt,
             CAST(sum(label) AS BIGINT) AS cpos
      FROM scored GROUP BY score_q
    ), cum AS (
      SELECT a.score_q, a.cnt, a.cpos,
             CAST(sum(b.cnt) AS BIGINT) AS cc,
             CAST(sum(b.cpos) AS BIGINT) AS ctp
      FROM grid a JOIN grid b ON b.score_q >= a.score_q
      GROUP BY a.score_q, a.cnt, a.cpos
    ), tot AS (
      SELECT CAST(sum(cnt) AS BIGINT) AS n, CAST(sum(cpos) AS BIGINT) AS pos
      FROM grid
    ), caps AS (SELECT CAST(unnest([{caps}]) AS BIGINT) AS capacity_pct),
    kk AS (
      SELECT c.capacity_pct, (c.capacity_pct * t.n + 99) // 100 AS k, t.n, t.pos
      FROM caps c, tot t
    ), bnd AS (
      SELECT k.capacity_pct, k.k, k.n, k.pos,
             (SELECT max(score_q) FROM cum WHERE cc >= k.k) AS bscore
      FROM kk k
    ), fin AS (
      SELECT b.capacity_pct, b.k, b.n, b.pos,
             c.cc - c.cnt AS cc_prev, c.ctp - c.cpos AS tp_prev,
             c.cnt AS cnt_b, c.cpos AS cpos_b
      FROM bnd b JOIN cum c ON c.score_q = b.bscore
    )
    SELECT capacity_pct, k, pos AS n_pos,
           CASE WHEN pos > 0 AND cnt_b > 0 THEN
             {sql_round_big_int_ratio(
                 'tp_prev::HUGEINT * cnt_b + (k - cc_prev)::HUGEINT * cpos_b',
                 'pos::HUGEINT * cnt_b')}
           END AS gain,
           CASE WHEN pos > 0 AND cnt_b > 0 AND k > 0 THEN
             {sql_round_big_int_ratio(
                 '(tp_prev::HUGEINT * cnt_b + (k - cc_prev)::HUGEINT * cpos_b) * n',
                 'pos::HUGEINT * cnt_b * k')}
           END AS lift
    FROM fin ORDER BY capacity_pct
    """
    )


@register("ml_gains_at_capacity", oracle=_gains_oracle())
def ml_gains_at_capacity(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Gains table at fixed review capacities: if a human (or a
    downstream filter) can only inspect the top 1/5/10/20% of
    documents by classifier score, what share of all positives is
    captured (gain) and how much better than random is that (lift)?
    The capacity-indexed view of the ranking the decile lift table
    reads population-indexed — this is the number an annotation-
    budget decision actually consumes.

    Boundary tie groups are split EXACTLY: captured = tp_prev + (k -
    cc_prev) * cpos_b / cnt_b, carried as one big-integer ratio
    (documents within a tie score-group are exchangeable, so the
    proportional split is the well-defined answer, same convention as
    the Lorenz deciles). The descending cumulative is a broadcast
    non-equi self-join over the <= 10001-row score grid — bounded
    domain, NO window, no ordered SinglePartition stage; the boundary
    row per capacity is a max_by final aggregate.
    """
    from ..functions.exact import round_big_int_ratio

    grid = (
        score_grid(Tables(spark, sf_dir))
        .withColumnsRenamed({"n": "cnt", "pos": "cpos"})
        # the <=10001-row grid feeds four consumers (bins, totals,
        # boundary probe, in-bin cumulative) — hash the corpus ONCE
        .localCheckpoint(eager=False)
    )
    # Two-pass boundary-bin refinement (the agg_top_value_share
    # pattern): a direct non-equi self-join cumulative over the
    # ~10001-row grid costs ~5*10^7 nested-loop pairs (measured ~5 s
    # at sf0.1); coarse 100-point bins cut that to <= 101^2 + one
    # bin-partitioned window over <= 100 rows.
    gb = grid.withColumn("gbin", F.expr("score_q div 100"))
    bins = gb.groupBy("gbin").agg(
        F.sum("cnt").alias("bcnt"), F.sum("cpos").alias("bpos")
    )
    b2 = bins.select(
        F.col("gbin").alias("gbin2"), F.col("bcnt").alias("bcnt2"),
        F.col("bpos").alias("bpos2"),
    )
    bcum = (
        bins.join(F.broadcast(b2), F.col("gbin2") >= F.col("gbin"))
        .groupBy("gbin", "bcnt", "bpos")
        .agg(F.sum("bcnt2").alias("ccnt"), F.sum("bpos2").alias("ctp_b"))
    )
    tot = grid.agg(F.sum("cnt").alias("n"), F.sum("cpos").alias("pos"))
    caps = spark.range(1).select(
        F.explode(
            F.array(*[F.lit(c).cast("long") for c in GAINS_CAPACITIES])
        ).alias("capacity_pct")
    )
    kk = caps.crossJoin(F.broadcast(tot)).select(
        "capacity_pct", F.expr("(capacity_pct * n + 99) div 100").alias("k"), "n", "pos"
    )
    # boundary bin = highest-score bin whose running count reaches k
    bbin = (
        kk.join(F.broadcast(bcum), F.col("ccnt") >= F.col("k"), "left")
        .groupBy("capacity_pct", "k", "n", "pos")
        .agg(
            F.max_by(
                F.struct("gbin", "bcnt", "bpos", "ccnt", "ctp_b"), F.col("gbin")
            ).alias("b")
        )
        .select(
            "capacity_pct", "k", "n", "pos",
            F.col("b.gbin").alias("bbin"),
            (F.col("b.ccnt") - F.col("b.bcnt")).alias("hi_cc"),
            (F.col("b.ctp_b") - F.col("b.bpos")).alias("hi_tp"),
        )
    )
    w_in = (
        Window.partitionBy("capacity_pct", "bbin")
        .orderBy(F.col("score_q").desc())
        .rowsBetween(Window.unboundedPreceding, 0)
    )
    inbin = gb.join(F.broadcast(bbin), gb.gbin == F.col("bbin"))
    cum_in = inbin.select(
        "capacity_pct", "k", "n", "pos", "score_q", "cnt", "cpos",
        (F.col("hi_cc") + F.sum("cnt").over(w_in)).alias("cc"),
        (F.col("hi_tp") + F.sum("cpos").over(w_in)).alias("ctp"),
    )
    fin = (
        cum_in.filter(F.col("cc") >= F.col("k"))
        .groupBy("capacity_pct", "k", "n", "pos")
        .agg(
            F.max_by(
                F.struct("cc", "ctp", "cnt", "cpos"), F.col("score_q")
            ).alias("b")
        )
        .select(
            "capacity_pct", "k", "n", "pos",
            (F.col("b.cc") - F.col("b.cnt")).alias("cc_prev"),
            (F.col("b.ctp") - F.col("b.cpos")).alias("tp_prev"),
            F.col("b.cnt").alias("cnt_b"),
            F.col("b.cpos").alias("cpos_b"),
        )
    )
    cap_num = dec38(F.col("tp_prev")) * F.col("cnt_b") + dec38(
        F.col("k") - F.col("cc_prev")
    ) * F.col("cpos_b")
    return fin.select(
        "capacity_pct",
        "k",
        F.col("pos").alias("n_pos"),
        F.when(
            (F.col("pos") > 0) & (F.col("cnt_b") > 0),
            round_big_int_ratio(cap_num, dec38(F.col("pos")) * F.col("cnt_b")),
        ).alias("gain"),
        F.when(
            (F.col("pos") > 0) & (F.col("cnt_b") > 0) & (F.col("k") > 0),
            round_big_int_ratio(
                cap_num * F.col("n"),
                dec38(F.col("pos")) * F.col("cnt_b") * F.col("k"),
            ),
        ).alias("lift"),
    )


# ---------------------------------------------------------------------------
# KS separation of the class score distributions
# ---------------------------------------------------------------------------


def _ks_sep_oracle() -> str:
    return (
        scored_labeled_sql()
        + """
    , g AS (
      SELECT lang, score_q,
             CAST(sum(label) AS BIGINT) AS cp,
             CAST(sum(1 - label) AS BIGINT) AS cn
      FROM scored GROUP BY 1, 2
    ), c AS (
      SELECT lang, score_q,
             sum(cp) OVER (PARTITION BY lang ORDER BY score_q) AS cum_p,
             sum(cn) OVER (PARTITION BY lang ORDER BY score_q) AS cum_n
      FROM g
    ), tot AS (
      SELECT lang, CAST(max(cum_p) AS BIGINT) AS n_pos,
             CAST(max(cum_n) AS BIGINT) AS n_neg
      FROM c GROUP BY lang
    ), d AS (
      SELECT c.lang, t.n_pos, t.n_neg,
             max(abs(CAST(cum_p AS HUGEINT) * t.n_neg
                     - CAST(cum_n AS HUGEINT) * t.n_pos)) AS d_num
      FROM c JOIN tot t USING (lang)
      GROUP BY c.lang, t.n_pos, t.n_neg
    )
    SELECT lang, n_pos, n_neg,
           CASE WHEN n_pos = 0 OR n_neg = 0 THEN NULL
                ELSE CAST(((2000000::HUGEINT * d_num
                            + (n_pos::HUGEINT * n_neg))
                           // (2::HUGEINT * n_pos * n_neg)) AS BIGINT)
                     / 1000000.0
           END AS ks_stat
    FROM d ORDER BY lang
    """
    )


@register("ml_score_ks_separation", oracle=_ks_sep_oracle())
def ml_score_ks_separation(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Kolmogorov-Smirnov separation of the classifier score
    distributions between gate-positive and gate-negative documents,
    per language — the credit-scoring "KS statistic" that reads the
    best single-threshold separation straight off the two CDFs
    (KS = max TPR-FPR gap; AUC integrates it, KS locates it).

    Exactness: same integer machinery as ``stats_ks_two_sample`` on
    the bounded score_q domain — CDF differences cross-multiplied to
    |cum_p * n_neg - cum_n * n_pos| int128, one half-up ratio. A
    single-class language yields NULL on both engines.

    Scale: the per-(lang, score_q) histogram collapses the corpus to
    at most 10001 rows per language before the window; the ordered
    pass never sees raw documents.
    """
    from ..functions.exact import round_big_int_ratio

    t = Tables(spark, sf_dir)
    s = scored_labeled(t)
    g = s.groupBy("lang", "score_q").agg(
        F.sum("label").alias("cp"),
        F.sum(F.lit(1) - F.col("label")).alias("cn"),
    )
    w = Window.partitionBy("lang").orderBy("score_q")
    c = g.select(
        "lang",
        F.sum("cp").over(w).alias("cum_p"),
        F.sum("cn").over(w).alias("cum_n"),
    )
    tot = c.groupBy("lang").agg(
        F.max("cum_p").alias("n_pos"), F.max("cum_n").alias("n_neg")
    )
    d = (
        c.join(tot, "lang")
        .groupBy("lang", "n_pos", "n_neg")
        .agg(
            F.max(
                F.abs(
                    dec38(F.col("cum_p")) * dec38(F.col("n_neg"))
                    - dec38(F.col("cum_n")) * dec38(F.col("n_pos"))
                )
            ).alias("d_num")
        )
    )
    ks = F.when(
        (F.col("n_pos") == 0) | (F.col("n_neg") == 0),
        F.lit(None).cast("double"),
    ).otherwise(
        round_big_int_ratio(
            F.col("d_num"), dec38(F.col("n_pos")) * dec38(F.col("n_neg"))
        )
    )
    return d.select("lang", "n_pos", "n_neg", ks.alias("ks_stat")).orderBy(
        "lang"
    )


# ---------------------------------------------------------------------------
# Truncated rank-biased overlap between two rankers
# ---------------------------------------------------------------------------

RBO_DEPTH = 50
# (1-p) p^(d-1) at p = 0.9, micro units, d = 1..50 — fixed literals
# shared verbatim by both engines (the PGRAM-table convention)
RBO_W_MICRO = (
    100000, 90000, 81000, 72900, 65610, 59049, 53144, 47830, 43047, 38742,
    34868, 31381, 28243, 25419, 22877, 20589, 18530, 16677, 15009, 13509,
    12158, 10942, 9848, 8863, 7977, 7179, 6461, 5815, 5233, 4710,
    4239, 3815, 3434, 3090, 2781, 2503, 2253, 2028, 1825, 1642,
    1478, 1330, 1197, 1078, 970, 873, 786, 707, 636, 573,
)


def _rbo_oracle() -> str:
    hd = sql_halfup_div
    d = RBO_DEPTH
    ws = ", ".join(str(w) for w in RBO_W_MICRO)
    return (
        scored_labeled_sql()
        + f"""
    , joined AS (
      SELECT s.doc_id, s.score_q, d.n_chars
      FROM scored s JOIN documents d ON d.doc_id = s.doc_id
    ), top1 AS (
      SELECT doc_id, row_number() OVER (ORDER BY score_q DESC, doc_id) AS r1
      FROM joined ORDER BY score_q DESC, doc_id LIMIT {d}
    ), top2 AS (
      SELECT doc_id, row_number() OVER (ORDER BY n_chars DESC, doc_id) AS r2
      FROM joined ORDER BY n_chars DESC, doc_id LIMIT {d}
    ), common AS (
      SELECT t1.doc_id, greatest(t1.r1, t2.r2) AS maxr
      FROM top1 t1 JOIN top2 t2 ON t2.doc_id = t1.doc_id
    ), depths AS (SELECT unnest(range(1, {d + 1})) AS dep),
    agree AS (
      SELECT dep, CAST(count(c.doc_id) AS BIGINT) AS cd
      FROM depths LEFT JOIN common c ON c.maxr <= dep
      GROUP BY dep
    ), w AS (SELECT unnest(range(1, {d + 1})) AS dep,
                    unnest([{ws}]) AS wm),
    terms AS (
      SELECT a.dep, a.cd, w.wm,
             {hd('w.wm * a.cd', 'a.dep')} AS term
      FROM agree a JOIN w ON w.dep = a.dep
    )
    SELECT CAST({d} AS BIGINT) AS depth,
           (SELECT CAST(count(*) AS BIGINT) FROM common) AS n_common,
           (SELECT CAST(cd AS BIGINT) FROM agree WHERE dep = 10)
             AS overlap_at_10,
           (SELECT CAST(cd AS BIGINT) FROM agree WHERE dep = {d})
             AS overlap_at_{d},
           CAST(sum(term) AS BIGINT) AS rbo_trunc_micro
    FROM terms
    """
    )


@register("ml_rank_rbo_overlap", oracle=_rbo_oracle())
def ml_rank_rbo_overlap(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Truncated rank-biased overlap (Webber, Moffat & Zobel 2010,
    p = 0.9, depth 50) between two top-k rankers over the corpus —
    the classifier score and the raw document length: RBO@50 =
    sum_d (1-p) p^(d-1) |S_d ∩ T_d| / d. THE comparison metric for
    indefinite rankings (top-weighted, handles non-conjoint lists),
    which neither Kendall/Spearman (need full permutations) nor plain
    overlap (ignores rank position) provides; for a pipeline it prices
    how much a cheap ranker (length) agrees with the model ranker at
    the head, where selection actually happens.

    Exactness: ranks use the deterministic (key desc, doc_id) total
    order; per-depth agreement counts come from the exact
    max(r1, r2) <= d cumulative over the <= 50-row common set; the
    (1-p) p^(d-1) weights are 50 fixed micro literals shared verbatim
    by both engines (the PGRAM-table convention), so each term is ONE
    half-up division w*c/d of exact integers. Truncation (no
    extrapolation) is documented — both engines compute the same
    partial sum.

    Scale shape: two TakeOrdered top-50s off one scan (no global
    window — rank-within-50 runs on the collected bounded set via a
    50x50 predecessor count); everything downstream is depth-bounded.
    """
    d = RBO_DEPTH
    t = Tables(spark, sf_dir)
    joined = scored_labeled(t).join(
        t.documents.select("doc_id", "n_chars"), "doc_id"
    )
    top1 = joined.orderBy(F.col("score_q").desc(), "doc_id").limit(d).select(
        "doc_id", "score_q"
    )
    top2 = joined.orderBy(F.col("n_chars").desc(), "doc_id").limit(d).select(
        "doc_id", "n_chars"
    )
    # ranks within the bounded top-k via predecessor count (no global
    # window): r = 1 + #rows strictly before in the same total order
    b1 = top1.select(F.col("score_q").alias("sq_b"), F.col("doc_id").alias("id_b"))
    r1 = (
        top1.join(
            F.broadcast(b1),
            (F.col("sq_b") > F.col("score_q"))
            | ((F.col("sq_b") == F.col("score_q")) & (F.col("id_b") < F.col("doc_id"))),
            "left",
        )
        .groupBy("doc_id")
        .agg((1 + F.count("id_b")).cast("long").alias("r1"))
    )
    b2 = top2.select(F.col("n_chars").alias("nc_b"), F.col("doc_id").alias("id_b"))
    r2 = (
        top2.join(
            F.broadcast(b2),
            (F.col("nc_b") > F.col("n_chars"))
            | ((F.col("nc_b") == F.col("n_chars")) & (F.col("id_b") < F.col("doc_id"))),
            "left",
        )
        .groupBy("doc_id")
        .agg((1 + F.count("id_b")).cast("long").alias("r2"))
    )
    common = r1.join(r2, "doc_id").select(
        "doc_id", F.greatest("r1", "r2").alias("maxr")
    )
    depths = joined.sparkSession.range(1, d + 1).select(
        F.col("id").cast("long").alias("dep")
    )
    agree = (
        depths.join(F.broadcast(common), F.col("maxr") <= F.col("dep"), "left")
        .groupBy("dep")
        .agg(F.count("doc_id").cast("long").alias("cd"))
    )
    warr = F.array(*[F.lit(w).cast("long") for w in RBO_W_MICRO])
    terms = agree.select(
        "dep",
        "cd",
        halfup_div(
            dec38(F.element_at(warr, F.col("dep").cast("int")) * F.col("cd")),
            dec38(F.col("dep")),
        ).alias("term"),
    )
    n_common = common.agg(F.count(F.lit(1)).cast("long").alias("n_common"))
    o10 = agree.filter(F.col("dep") == 10).select(
        F.col("cd").alias("overlap_at_10")
    )
    od = agree.filter(F.col("dep") == d).select(
        F.col("cd").alias(f"overlap_at_{d}")
    )
    return (
        terms.agg(F.sum("term").cast("long").alias("rbo_trunc_micro"))
        .crossJoin(F.broadcast(n_common))
        .crossJoin(F.broadcast(o10))
        .crossJoin(F.broadcast(od))
        .select(
            F.lit(d).cast("long").alias("depth"),
            "n_common",
            "overlap_at_10",
            f"overlap_at_{d}",
            "rbo_trunc_micro",
        )
    )
