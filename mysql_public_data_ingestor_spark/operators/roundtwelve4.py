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


# ---------------------------------------------------------------------------
# 4. Train/holdout threshold-transfer audit (Youden threshold stability)
# ---------------------------------------------------------------------------


def _transfer_oracle() -> str:
    from .ml import _scored_labeled_sql

    hd = sql_halfup_div
    return (
        _scored_labeled_sql()
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
    from pyspark.sql.window import Window

    from ..functions.textnorm import sha256_prefix_i64
    from .ml import _scored_labeled

    t = Tables(spark, sf_dir)
    sc = _scored_labeled(t).select(
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
