"""Round-13 operator batch R.

Gates: ``tests/test_roundthirteen3.py``; SCALE.md §5o records the
×10 ladder.

Batch theme — corpus richness, calibration, threshold selection,
dedup policy and presence risk: Honoré's R lexical richness, adaptive
(equal-mass) calibration error, F-beta-optimal thresholds, the
Jaccard-threshold dedup policy curve over the shared blocked pair
set, and a delta-presence disclosure audit. Every name was checked
against the full registry inventory before design.

Reference parity note: the reference (Go ingestion pipeline) has no
analytics; these extend SURVEY §2.C text / ML / dedup / privacy.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from ..functions.exact import dec38, halfup_div, sql_halfup_div
from ..registry import register
from ..tables import Tables

# ---------------------------------------------------------------------------
# 1. Honoré's R lexical richness per language
# ---------------------------------------------------------------------------


def _honore_oracle() -> str:
    from ..functions.detmath import sql_det_ln_steps

    hd = sql_halfup_div
    return f"""
    WITH toks AS (
      SELECT lang,
             unnest(string_split(trim(regexp_replace(lower(text), '\\s+', ' ', 'g')),
                    ' ')) AS tok
      FROM documents
    ), tf AS (
      SELECT lang, tok, CAST(count(*) AS BIGINT) AS c FROM toks GROUP BY lang, tok
    ), st AS (
      SELECT lang, CAST(sum(c) AS BIGINT) AS n_tokens,
             CAST(count(*) AS BIGINT) AS vocab,
             CAST(sum(CASE WHEN c = 1 THEN 1 ELSE 0 END) AS BIGINT) AS hapax,
             CAST(sum(c) AS DOUBLE) AS n_dbl
      FROM tf GROUP BY lang
    ), {sql_det_ln_steps('st', 'n_dbl', 'lnn')}
    SELECT lang, n_tokens, vocab, hapax,
           CASE WHEN vocab > hapax THEN
             CAST({hd('100::HUGEINT * lnn * vocab', '1000 * (vocab - hapax)')}
                  AS BIGINT)
           END AS honore_r_milli
    FROM lnn_rel ORDER BY lang
    """


@register("text_honore_r_by_lang", _honore_oracle())
def text_honore_r_by_lang(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Honoré's R lexical richness per language (1979): R = 100 ln N /
    (1 - V1/V) — the hapax-based richness statistic that grows with
    productive vocabulary use and is the classical companion of
    Yule's K (repeat structure, ``text_yule_k_richness``) and the
    TTR/hapax family: K prices REPETITION, R prices SINGLE-USE
    productivity, and the two moving apart is the signature of
    template text padded with random tokens (K low AND R low).

    Exactness: token/vocab/hapax counts are exact; ln N is the shared
    deterministic fixed-point ln (micro-nats), so R = 100 * lnN_q *
    V / (1e3 * (V - V1)) is ONE half-up division reported in milli
    units; NULL-guarded for the all-hapax degenerate (V = V1).

    Scale shape: one scan exploding to (lang, token) with partial
    aggregation; per-language scalars out.
    """
    from ..functions.detmath import det_ln_q
    from ..functions.textnorm import whitespace_tokens

    t = Tables(spark, sf_dir)
    tf = (
        t.documents.select("lang", F.explode(whitespace_tokens(F.col("text"))).alias("tok"))
        .groupBy("lang", "tok")
        .agg(F.count(F.lit(1)).alias("c"))
    )
    st = tf.groupBy("lang").agg(
        F.sum("c").cast("long").alias("n_tokens"),
        F.count(F.lit(1)).cast("long").alias("vocab"),
        F.sum(F.when(F.col("c") == 1, 1).otherwise(0)).cast("long").alias("hapax"),
    )
    lnn = det_ln_q(F.col("n_tokens").cast("double"))
    return st.select(
        "lang",
        "n_tokens",
        "vocab",
        "hapax",
        F.when(
            F.col("vocab") > F.col("hapax"),
            halfup_div(
                F.lit(100).cast("decimal(38,0)") * lnn * F.col("vocab"),
                F.lit(1000).cast("decimal(38,0)") * (F.col("vocab") - F.col("hapax")),
            ).cast("long"),
        ).alias("honore_r_milli"),
    ).orderBy("lang")


# ---------------------------------------------------------------------------
# 2. Adaptive (equal-mass) calibration error
# ---------------------------------------------------------------------------

ACE_BINS = 10


def _ace_oracle() -> str:
    from .ml import _scored_labeled_sql

    hd = sql_halfup_div
    k = ACE_BINS
    return (
        _scored_labeled_sql()
        + f"""
    , grid AS (
      SELECT score_q, CAST(count(*) AS BIGINT) AS n,
             CAST(sum(label) AS BIGINT) AS pos
      FROM scored GROUP BY score_q
    ), nn AS (SELECT CAST(sum(n) AS BIGINT) AS total FROM grid),
    cum AS (
      SELECT score_q, n, pos,
             coalesce(sum(n) OVER (ORDER BY score_q
               ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0) AS before
      FROM grid
    ), binned AS (
      SELECT least(CAST({k} * c.before // nn.total AS BIGINT), {k - 1}) AS bin,
             c.n, c.pos, c.score_q
      FROM cum c, nn
    ), bins AS (
      SELECT bin, CAST(count(*) AS BIGINT) AS n_values,
             CAST(sum(n) AS BIGINT) AS n_b,
             CAST(sum(pos) AS BIGINT) AS pos_b,
             CAST(sum(CAST(score_q AS HUGEINT) * n) AS HUGEINT) AS s_b
      FROM binned GROUP BY bin
    ), gaps AS (
      SELECT bin, n_b, pos_b, CAST(100 * s_b AS BIGINT) AS exp_pos_micro,
             CAST({hd('100::HUGEINT * abs(s_b - 10000 * pos_b)', 'n_b')}
                  AS BIGINT) AS gap_micro
      FROM bins
    ), tot AS (
      SELECT CAST({hd('CAST(sum(gap_micro) AS HUGEINT)',
                      'CAST(count(*) AS HUGEINT)')} AS BIGINT) AS ace
      FROM gaps
    )
    SELECT g.bin, g.n_b, g.pos_b, g.exp_pos_micro, g.gap_micro,
           t.ace AS ace_micro
    FROM gaps g, tot t ORDER BY g.bin
    """
    )


@register("ml_adaptive_calibration_error", _ace_oracle())
def ml_adaptive_calibration_error(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Adaptive (equal-mass) calibration error over {ACE_BINS}
    quantile bins of the classifier score: per bin |mean score -
    positive rate|, averaged with EQUAL bin weight. The fixed-width
    reliability diagram (``ml_expected_calibration_error``) lets
    sparse tail bins hide behind dense middle bins; ACE's equal-mass
    binning is the accepted fix (Nixon et al. 2019) and the pair
    (ECE, ACE) diverging localizes WHERE the miscalibration lives.

    Exactness: bin assignment is integer arithmetic on the score-grid
    cumulative (bin = K*cum_before // N, capped — every score VALUE
    lands wholly in one bin, deterministic on both engines); per-bin
    gaps reduce to 100*|S_b - 10^4 pos_b| / n_b half-up micro (one
    quantization per bin); ACE is the half-up mean of those <= {ACE_BINS}
    quantized gaps.

    Scale shape: one scored scan to the <= 10001-value grid; the
    cumulative runs over the POST-AGGREGATION grid (allowlist class);
    <= {ACE_BINS} rows out.
    """
    from pyspark.sql.window import Window

    from .ml import _scored_labeled

    k = ACE_BINS
    t = Tables(spark, sf_dir)
    grid = _scored_labeled(t).groupBy("score_q").agg(
        F.count(F.lit(1)).alias("n"), F.sum("label").alias("pos")
    )
    nn = grid.agg(F.sum("n").cast("long").alias("total"))
    w = Window.orderBy("score_q").rowsBetween(Window.unboundedPreceding, -1)
    cum = grid.select(
        "score_q",
        "n",
        "pos",
        F.coalesce(F.sum("n").over(w), F.lit(0)).cast("long").alias("before"),
    )
    binned = cum.crossJoin(F.broadcast(nn)).select(
        F.least(
            F.floor(k * F.col("before") / F.col("total")), F.lit(k - 1)
        )
        .cast("long")
        .alias("bin"),
        "n",
        "pos",
        "score_q",
    )
    bins = binned.groupBy("bin").agg(
        F.count(F.lit(1)).cast("long").alias("n_values"),
        F.sum("n").cast("long").alias("n_b"),
        F.sum("pos").cast("long").alias("pos_b"),
        F.sum(dec38(F.col("score_q")) * F.col("n")).alias("s_b"),
    )
    gaps = bins.select(
        "bin",
        "n_b",
        "pos_b",
        (F.lit(100).cast("decimal(38,0)") * F.col("s_b")).cast("long").alias(
            "exp_pos_micro"
        ),
        halfup_div(
            F.lit(100).cast("decimal(38,0)")
            * F.abs(F.col("s_b") - dec38(10000 * F.col("pos_b"))),
            dec38(F.col("n_b")),
        )
        .cast("long")
        .alias("gap_micro"),
    )
    tot = gaps.agg(
        halfup_div(dec38(F.sum("gap_micro")), dec38(F.count(F.lit(1))))
        .cast("long")
        .alias("ace")
    )
    return (
        gaps.crossJoin(F.broadcast(tot))
        .select("bin", "n_b", "pos_b", "exp_pos_micro", "gap_micro",
                F.col("ace").alias("ace_micro"))
        .orderBy("bin")
    )


# ---------------------------------------------------------------------------
# 3. F-beta-optimal thresholds over the score grid
# ---------------------------------------------------------------------------

FBETA_SQ = ((1, 4), (1, 1), (4, 1))  # beta^2 as (num, den): 0.25, 1, 4


def _fbeta_oracle() -> str:
    from .ml import _scored_labeled_sql

    hd = sql_halfup_div
    betas = ", ".join(f"({n}, {d})" for n, d in FBETA_SQ)
    return (
        _scored_labeled_sql()
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
    from pyspark.sql.window import Window

    from .ml import _scored_labeled

    t = Tables(spark, sf_dir)
    grid = _scored_labeled(t).groupBy("score_q").agg(
        F.count(F.lit(1)).alias("n"), F.sum("label").alias("pos")
    )
    tot = grid.agg(
        F.sum("n").cast("long").alias("nn"), F.sum("pos").cast("long").alias("p")
    )
    w = Window.orderBy(F.col("score_q").desc()).rowsBetween(
        Window.unboundedPreceding, 0
    )
    cum = grid.select(
        F.col("score_q").alias("v"),
        F.sum("n").over(w).cast("long").alias("n_sel"),
        F.sum("pos").over(w).cast("long").alias("tp"),
    )
    betas = grid.sparkSession.createDataFrame(
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
# 4. Jaccard-threshold dedup policy curve over the shared pair set
# ---------------------------------------------------------------------------

JT_THRESHOLDS_MILLI = (500, 600, 700, 800, 900)


def _jt_oracle() -> str:
    from .dedup import _NGRAM_JACCARD_ORACLE

    ts = ", ".join(str(x) for x in JT_THRESHOLDS_MILLI)
    return f"""
    WITH pairs AS ({_NGRAM_JACCARD_ORACLE}),
    th AS (SELECT CAST(unnest([{ts}]) AS BIGINT) AS t),
    stats AS (
      SELECT th.t,
             CAST(count(p.doc_a) AS BIGINT) AS n_pairs,
             CAST(count(DISTINCT p.doc_b) AS BIGINT) AS n_dropped_greedy
      FROM th LEFT JOIN pairs p ON p.jaccard >= th.t / 1000.0
      GROUP BY th.t
    )
    SELECT t AS threshold_milli, n_pairs, n_dropped_greedy
    FROM stats ORDER BY t
    """


@register("dedup_pair_jaccard_threshold_curve", _jt_oracle())
def dedup_pair_jaccard_threshold_curve(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Dedup POLICY curve over the shared blocked ngram-Jaccard pair
    set (``dedup.dedup_ngram_jaccard`` — one derivation, two
    consumers): at each Jaccard threshold tau, the surviving candidate
    pair count and the documents removed by the standard keep-lowest-
    id policy (drop every doc that appears as the HIGHER id of a
    qualifying pair). ``dedup_lsh_band_tuning_curve`` tunes the
    RECALL mechanism; this prices the PRECISION knob — how much
    corpus each tau actually deletes — which is the number the
    data-governance review asks for before approving a dedup pass.

    Exactness: the pair set and its 6-dp Jaccard values are the
    registered op's own (hash-identical across engines by its gate);
    threshold comparisons use identical double literals; drop counts
    are exact DISTINCT higher-id counts (the greedy keep-lowest-id
    policy is exact on pairs — a transitive-closure pass would only
    drop MORE; documented one-sided bound).

    Scale shape: the pair derivation is the registered op's blocked
    equi-join; the curve is a 5-row broadcast over the bounded pair
    set.
    """
    from .dedup import dedup_ngram_jaccard

    pairs = dedup_ngram_jaccard(spark, sf_dir)
    th = pairs.sparkSession.range(1).select(
        F.explode(
            F.array(*[F.lit(x).cast("long") for x in JT_THRESHOLDS_MILLI])
        ).alias("t")
    )
    return (
        th.join(
            F.broadcast(pairs),
            F.col("jaccard") >= F.col("t").cast("double") / F.lit(1000.0),
            "left",
        )
        .groupBy("t")
        .agg(
            F.count("doc_a").cast("long").alias("n_pairs"),
            F.countDistinct("doc_b").cast("long").alias("n_dropped_greedy"),
        )
        .select(
            F.col("t").alias("threshold_milli"), "n_pairs", "n_dropped_greedy"
        )
        .orderBy("threshold_milli")
    )


# ---------------------------------------------------------------------------
# 5. Delta-presence disclosure audit
# ---------------------------------------------------------------------------

DP_SAMPLE_MOD = 4  # hash-25% published sample


def _delta_presence_oracle() -> str:
    hd = sql_halfup_div
    return f"""
    WITH pop AS (
      SELECT c_custkey, c_nationkey AS nat,
             CAST(floor(c_acctbal / 1000) AS BIGINT) AS band,
             CASE WHEN ('0x' || substr(sha256('dp|' || CAST(c_custkey AS VARCHAR)),
                        1, 15))::BIGINT % {DP_SAMPLE_MOD} = 0
                  THEN 1 ELSE 0 END AS published
      FROM customer
    ), cells AS (
      SELECT nat, band, CAST(count(*) AS BIGINT) AS n_pop,
             CAST(sum(published) AS BIGINT) AS n_pub
      FROM pop GROUP BY nat, band
    ), agg AS (
      SELECT CAST(count(*) AS BIGINT) AS n_cells,
             CAST(sum(n_pop) AS BIGINT) AS n_pop,
             CAST(sum(n_pub) AS BIGINT) AS n_pub,
             CAST(max({hd('1000000::HUGEINT * n_pub', 'n_pop')}) AS BIGINT)
               AS max_presence_micro,
             CAST(sum(CASE WHEN 2 * n_pub > n_pop THEN 1 ELSE 0 END) AS BIGINT)
               AS n_risky_cells,
             CAST(sum(CASE WHEN 2 * n_pub > n_pop THEN n_pub ELSE 0 END)
                  AS BIGINT) AS n_risky_published
      FROM cells
    )
    SELECT n_cells, n_pop, n_pub, max_presence_micro, n_risky_cells,
           n_risky_published,
           CAST({hd('1000000::HUGEINT * n_pub', 'n_pop')} AS BIGINT)
             AS mean_presence_micro
    FROM agg
    """


@register("privacy_delta_presence_audit", _delta_presence_oracle())
def privacy_delta_presence_audit(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Delta-presence disclosure audit (Nergiz & Clifton 2007): with a
    deterministic hash-25% "published" subset of customers, compute
    per QI cell (nation x $1000 balance band) the presence probability
    n_published / n_population — the adversary's confidence that a
    TARGETED individual (known to be in the population cell) appears
    in the published data. ``privacy_k_anonymity_audit`` bounds
    re-identification WITHIN the published table;
    ``privacy_membership_inference_audit`` attacks a model; delta-
    presence is the third disclosure channel — membership in the
    published SET itself — and the audit reports the max/mean presence
    and the cells where presence exceeds 1/2 (the risky-cell
    convention).

    Determinism & exactness: the published subset is a sha-hash
    choice (the RR-audit coin convention) — both engines publish the
    identical subset; presence ratios are single half-up micro
    divisions; risky cells use the exact 2*n_pub > n_pop comparison.

    Scale shape: one customer scan to the QI grid; grid-bounded
    algebra out.
    """
    t = Tables(spark, sf_dir)
    sha = lambda c: F.conv(F.substring(F.sha2(c, 256), 1, 15), 16, 10).cast(  # noqa: E731
        "long"
    )
    pop = t.customer.select(
        F.col("c_nationkey").alias("nat"),
        F.floor(F.col("c_acctbal") / 1000).cast("long").alias("band"),
        F.when(
            sha(F.concat(F.lit("dp|"), F.col("c_custkey").cast("string")))
            % DP_SAMPLE_MOD
            == 0,
            1,
        )
        .otherwise(0)
        .alias("published"),
    )
    cells = pop.groupBy("nat", "band").agg(
        F.count(F.lit(1)).cast("long").alias("n_pop"),
        F.sum("published").cast("long").alias("n_pub"),
    )
    m6 = F.lit(1_000_000).cast("decimal(38,0)")
    agg = cells.agg(
        F.count(F.lit(1)).cast("long").alias("n_cells"),
        F.sum("n_pop").cast("long").alias("n_pop"),
        F.sum("n_pub").cast("long").alias("n_pub"),
        F.max(
            halfup_div(m6 * dec38(F.col("n_pub")), dec38(F.col("n_pop"))).cast("long")
        ).alias("max_presence_micro"),
        F.sum(F.when(2 * F.col("n_pub") > F.col("n_pop"), 1).otherwise(0))
        .cast("long")
        .alias("n_risky_cells"),
        F.sum(
            F.when(2 * F.col("n_pub") > F.col("n_pop"), F.col("n_pub")).otherwise(0)
        )
        .cast("long")
        .alias("n_risky_published"),
    )
    return agg.select(
        "n_cells",
        "n_pop",
        "n_pub",
        "max_presence_micro",
        "n_risky_cells",
        "n_risky_published",
        halfup_div(m6 * dec38(F.col("n_pub")), dec38(F.col("n_pop")))
        .cast("long")
        .alias("mean_presence_micro"),
    )
