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

``ml_adaptive_calibration_error`` lives in
``operators/ml_calibration.py``; ``ml_fbeta_optimal_thresholds`` lives
in ``operators/ml_thresholds.py`` with the other ml queries.
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
