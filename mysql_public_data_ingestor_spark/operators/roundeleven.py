"""Round-11 operator batch.

Gates: raw-frame oracle parity, plan sweeps and Python replicas in
``tests/test_roundeleven.py``; SCALE.md §5i.11 records the fuzz /
sf0.1 / ×10 ladder.

Batch theme — model-fitting and set-algebra completions: discrete Bass
diffusion fit (3-var Cramer OLS), a Granger-style lag-regression
comparison, Tukey HSD post-hoc pairs after the ANOVA family, an n-gram
entropy curve, the KMV theta-UNION (completing distinct /
intersection / difference), a deterministic exponential-mechanism DP
release, and a last-digit preference audit.

``events_periodogram_fixed_periods`` lives in
``operators/daily_spectral.py`` with the other daily-series queries.

``stats_brown_forsythe_quantity`` and ``stats_tukey_hsd_priority`` live
in ``operators/stats_models.py``; ``stats_fligner_policello_status``,
``stats_k_sample_median_test`` and ``stats_sign_test_daily_pair`` live
in ``operators/stats_rank.py`` with the other stats queries.

``events_absorbing_markov_steps`` lives in
``operators/events_sequence.py``; ``events_bass_diffusion_fit`` and
``events_granger_lag1_test`` live in ``operators/events_series.py`` with
the other events queries.

``ml_brier_skill_score`` lives in ``operators/ml_calibration.py`` with
the other ml queries.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql.window import Window

from ..functions.exact import dec38, halfup_div, order_cents, sql_halfup_div
from ..registry import register
from ..tables import Tables
from .ml_scores import scored_labeled, scored_labeled_sql


# ---------------------------------------------------------------------------
# 4. Token n-gram entropy curve (n = 1, 2, 3)
# ---------------------------------------------------------------------------


def _ngram_entropy_oracle() -> str:
    from ..functions.detmath import sql_det_ln_steps

    return f"""
    WITH toks AS (
      SELECT doc_id,
             generate_subscripts(string_split(trim(regexp_replace(lower(text),
               '\\s+', ' ', 'g')), ' '), 1) AS pos,
             unnest(string_split(trim(regexp_replace(lower(text), '\\s+', ' ',
               'g')), ' ')) AS tok
      FROM documents
    ), grams AS (
      SELECT 1 AS n, tok AS gram FROM toks
      UNION ALL
      SELECT 2 AS n, a.tok || chr(1) || b.tok AS gram
      FROM toks a JOIN toks b ON b.doc_id = a.doc_id AND b.pos = a.pos + 1
      UNION ALL
      SELECT 3 AS n, a.tok || chr(1) || b.tok || chr(1) || c.tok AS gram
      FROM toks a
      JOIN toks b ON b.doc_id = a.doc_id AND b.pos = a.pos + 1
      JOIN toks c ON c.doc_id = a.doc_id AND c.pos = a.pos + 2
    ), cnt AS (
      SELECT n, gram, CAST(count(*) AS BIGINT) AS c
      FROM grams GROUP BY n, gram
    ), {sql_det_ln_steps('cnt', 'c', 'lc')},
    per_n AS (
      SELECT n, CAST(sum(c) AS BIGINT) AS total,
             CAST(count(*) AS BIGINT) AS vocab,
             CAST(sum(c * lc) AS BIGINT) AS clc
      FROM lc_rel GROUP BY n
    ), witht AS (SELECT *, total AS arg_t FROM per_n),
    {sql_det_ln_steps('witht', 'arg_t', 'lt')}
    SELECT CAST(n AS BIGINT) AS ngram_n, total AS n_grams, vocab,
           {sql_halfup_div('(total * lt - clc)', 'total')} / 1000000.0
             AS entropy_nats
    FROM lt_rel
    """


@register("text_ngram_entropy_curve", _ngram_entropy_oracle())
def text_ngram_entropy_curve(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Shannon entropy of the corpus token n-gram distribution for
    n = 1, 2, 3 — the redundancy curve: H2 - H1 and H3 - H2 bound the
    conditional next-token entropy, the standard "how compressible /
    how repetitive is this corpus" diagnostic before LM training
    (token entropy measures the unigram only; the curve shows how
    fast context kills surprise).

    n-grams are within-document adjacencies: the Spark side builds
    them with array slices + zip_with (no join at all — bigram =
    zip(toks[:-1], toks[1:]) with a chr(1) separator), the oracle
    with position self-joins; both partial-aggregate to the
    vocabulary-bounded (n, gram) grid before entropy, every ln a
    det_ln_q on an exact count and the final rate one shared half-up
    division at micro-nats.
    """
    from ..functions.detmath import det_ln_q
    from ..functions.textnorm import whitespace_tokens

    t = Tables(spark, sf_dir)
    toks = t.documents.select(whitespace_tokens(F.col("text")).alias("a"))
    sz = F.size(F.col("a"))
    sep = F.lit("\x01")
    uni = toks.select(F.lit(1).alias("n"), F.explode(F.col("a")).alias("gram"))
    s1 = F.slice(F.col("a"), 1, sz - 1)
    s2 = F.slice(F.col("a"), 2, sz - 1)
    bi = toks.filter(sz >= 2).select(
        F.lit(2).alias("n"),
        F.explode(F.zip_with(s1, s2, lambda x, y: F.concat(x, sep, y))).alias(
            "gram"
        ),
    )
    t1 = F.slice(F.col("a"), 1, sz - 2)
    t2 = F.slice(F.col("a"), 2, sz - 2)
    t3 = F.slice(F.col("a"), 3, sz - 2)
    tri = toks.filter(sz >= 3).select(
        F.lit(3).alias("n"),
        F.explode(
            F.zip_with(
                F.zip_with(t1, t2, lambda x, y: F.concat(x, sep, y)),
                t3,
                lambda x, y: F.concat(x, sep, y),
            )
        ).alias("gram"),
    )
    cnt = (
        uni.unionAll(bi)
        .unionAll(tri)
        .groupBy("n", "gram")
        .agg(F.count(F.lit(1)).alias("c"))
    )
    per_n = cnt.groupBy("n").agg(
        F.sum("c").alias("total"),
        F.count(F.lit(1)).alias("vocab"),
        F.sum(F.col("c") * det_ln_q(F.col("c"))).alias("clc"),
    )
    return per_n.select(
        F.col("n").cast("long").alias("ngram_n"),
        F.col("total").alias("n_grams"),
        "vocab",
        (
            halfup_div(
                F.col("total") * det_ln_q(F.col("total")) - F.col("clc"),
                F.col("total"),
            ).cast("long")
            / F.lit(1e6)
        ).alias("entropy_nats"),
    )


# ---------------------------------------------------------------------------
# 5. KMV theta-sketch UNION (completing the set algebra)
# ---------------------------------------------------------------------------

KMV_UNION_MIN = 10


def _kmv_union_oracle() -> str:
    from .roundnine import KMV_INT_DOMAIN, KMV_INT_K
    from ..functions.exact import sql_round_int_ratio

    k, dom, thr = KMV_INT_K, KMV_INT_DOMAIN, KMV_UNION_MIN
    est_sql = (
        f"CAST(CASE WHEN k.k_eff = {k} "
        f"THEN ({k - 1}::BIGINT * {dom}::HUGEINT) // k.theta "
        f"ELSE k.k_eff END AS BIGINT)"
    )
    return f"""
    WITH pv AS (
      SELECT user_id,
             sum(CASE WHEN event_type = 'view' THEN 1 ELSE 0 END) AS nv,
             sum(CASE WHEN event_type = 'purchase' THEN 1 ELSE 0 END) AS np
      FROM events GROUP BY user_id
    ), members AS (
      SELECT user_id, nv >= {thr} AS in_a, np >= {thr} AS in_b,
             (('0x' || substr(sha256(CAST(user_id AS VARCHAR)), 1, 15))::BIGINT
               % {dom}) AS hv
      FROM pv WHERE nv >= {thr} OR np >= {thr}
    ), ska AS (
      SELECT hv FROM members WHERE in_a ORDER BY hv LIMIT {k}
    ), skb AS (
      SELECT hv FROM members WHERE in_b ORDER BY hv LIMIT {k}
    ), merged AS (
      SELECT DISTINCT hv FROM (SELECT hv FROM ska UNION ALL SELECT hv FROM skb)
    ), bottom AS (
      SELECT hv FROM merged ORDER BY hv LIMIT {k}
    ), kth AS (
      SELECT CAST(max(hv) AS BIGINT) AS theta,
             CAST(count(*) AS BIGINT) AS k_eff
      FROM bottom
    ), tru AS (
      SELECT CAST(count(*) AS BIGINT) AS d_true FROM members
    )
    SELECT k.k_eff, k.theta,
           {est_sql} AS d_est,
           t.d_true,
           CASE WHEN t.d_true > 0 THEN
             {sql_round_int_ratio(f'abs({est_sql} - t.d_true)', 't.d_true')}
           END AS rel_error
    FROM kth k, tru t
    """


@register("sketch_kmv_union_users", _kmv_union_oracle())
def sketch_kmv_union_users(spark: SparkSession, sf_dir: str) -> DataFrame:
    """KMV/theta set-UNION estimate |heavy viewers UNION heavy
    purchasers| (>= 10 events of the type) — the member completing the
    theta-sketch set algebra (distinct / intersection / difference
    already registered): build each set's bottom-k sketch
    INDEPENDENTLY, merge by unioning the k-sets and re-taking the k
    minimum (exactly how shard sketches compose at 100 TB — this op
    IS the merge path, exercised end-to-end), estimate (k-1)*2^60 /
    theta, audit against the exact union with relative error.

    Same deterministic bottom-k machinery as the siblings: per-user
    membership from ONE user-keyed aggregate, two 256-row
    TakeOrdereds, a <= 512-row merge, integer estimate —
    hash-verified cross-engine, never "approximately matches".
    """
    from .roundnine import KMV_INT_DOMAIN, KMV_INT_K
    from ..functions.exact import round_int_ratio
    from ..functions.textnorm import sha256_prefix_i64

    k, dom, thr = KMV_INT_K, KMV_INT_DOMAIN, KMV_UNION_MIN
    t = Tables(spark, sf_dir)
    pv = t.events.groupBy("user_id").agg(
        F.sum(F.when(F.col("event_type") == "view", 1).otherwise(0)).alias("nv"),
        F.sum(F.when(F.col("event_type") == "purchase", 1).otherwise(0)).alias(
            "np"
        ),
    )
    members = pv.filter((F.col("nv") >= thr) | (F.col("np") >= thr)).select(
        (F.col("nv") >= thr).alias("in_a"),
        (F.col("np") >= thr).alias("in_b"),
        (sha256_prefix_i64(F.col("user_id").cast("string")) % dom).alias("hv"),
    )
    ska = members.filter(F.col("in_a")).select("hv").orderBy("hv").limit(k)
    skb = members.filter(F.col("in_b")).select("hv").orderBy("hv").limit(k)
    bottom = ska.unionAll(skb).distinct().orderBy("hv").limit(k)
    kth = bottom.agg(F.max("hv").alias("theta"), F.count(F.lit(1)).alias("k_eff"))
    tru = members.agg(F.count(F.lit(1)).alias("d_true"))
    est_num = dec38(F.lit(k - 1)) * F.lit(dom)
    est = F.when(
        F.col("k_eff") == k,
        (
            (est_num - est_num % dec38(F.col("theta"))) / dec38(F.col("theta"))
        ).cast("long"),
    ).otherwise(F.col("k_eff"))
    return kth.join(F.broadcast(tru)).select(
        "k_eff",
        "theta",
        est.alias("d_est"),
        "d_true",
        F.when(
            F.col("d_true") > 0,
            round_int_ratio(F.abs(est - F.col("d_true")), F.col("d_true")),
        ).alias("rel_error"),
    )


# ---------------------------------------------------------------------------
# 7. Deterministic exponential-mechanism DP release (top segment/nation)
# ---------------------------------------------------------------------------

EXPMECH_EPS_MICRO_HALF = 250000  # eps = 0.5, sensitivity 1 -> eps/2 in 1e-6


def _expmech_oracle() -> str:
    from ..functions.detmath import sql_det_ln_steps

    return f"""
    WITH cells AS (
      SELECT c_nationkey, c_mktsegment, CAST(count(*) AS BIGINT) AS c
      FROM customer GROUP BY 1, 2
    ), hashed AS (
      SELECT c_nationkey, c_mktsegment, c,
             (('0x' || substr(sha256('expmech|' || CAST(c_nationkey AS VARCHAR)
               || '|' || c_mktsegment), 1, 15))::BIGINT % 4503599627370496)
               AS h
      FROM cells
    ), uarg AS (
      SELECT *, (2 * h + 1)::DOUBLE / 9007199254740992.0::DOUBLE AS u
      FROM hashed
    ), {sql_det_ln_steps('uarg', 'u', 'lnu')},
    varg AS (
      SELECT *, (-lnu)::DOUBLE * 0.000001::DOUBLE AS vln FROM lnu_rel
    ), {sql_det_ln_steps('varg', 'vln', 'lnv')},
    scored AS (
      SELECT c_nationkey, c_mktsegment, c,
             {EXPMECH_EPS_MICRO_HALF}::BIGINT * c - lnv AS sq
      FROM lnv_rel
    ), pick AS (
      SELECT a.c_nationkey, a.c_mktsegment AS chosen_segment,
             a.c AS chosen_count
      FROM scored a
      WHERE NOT EXISTS (
        SELECT 1 FROM scored b
        WHERE b.c_nationkey = a.c_nationkey
          AND (b.sq > a.sq OR (b.sq = a.sq AND b.c_mktsegment < a.c_mktsegment))
      )
    ), best AS (
      SELECT a.c_nationkey, a.c_mktsegment AS true_segment,
             a.c AS true_count
      FROM cells a
      WHERE NOT EXISTS (
        SELECT 1 FROM cells b
        WHERE b.c_nationkey = a.c_nationkey
          AND (b.c > a.c OR (b.c = a.c AND b.c_mktsegment < a.c_mktsegment))
      )
    )
    SELECT p.c_nationkey AS nationkey, p.chosen_segment, p.chosen_count,
           b.true_segment, b.true_count,
           p.chosen_segment = b.true_segment AS utility_hit
    FROM pick p JOIN best b ON b.c_nationkey = p.c_nationkey
    """


@register("privacy_exponential_mechanism_segment", _expmech_oracle())
def privacy_exponential_mechanism_segment(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exponential-mechanism differentially-private release of the
    most common market segment per nation (eps = 0.5, sensitivity 1):
    argmax over score = eps*count/2 + Gumbel noise — the SELECTION
    member of the DP family (privacy_dp_laplace_counts releases noisy
    COUNTS; the exponential mechanism releases a noisy ARGMAX, the
    right primitive when the category itself is the secret). The
    utility audit joins the true per-nation argmax and flags hits.

    RNG-free like the Laplace op: the Gumbel draw is
    -ln(-ln u) with u = (2h+1)/2^53 from the salted sha-hash of the
    (nation, segment) cell — an EXACT double (odd 53-bit numerator
    over a power of two), both ln's via the det_ln twins, so the
    whole release is bit-deterministic cross-engine. Scores compare
    as int64 micro-units (250000*c - lnv_q); argmax ties break on
    segment. One scan to the <=125-cell QI grid; the two argmax
    anti-join passes run on that bounded grid.
    """
    from ..functions.detmath import det_ln_q
    from ..functions.textnorm import sha256_prefix_i64

    t = Tables(spark, sf_dir)
    cells = t.customer.groupBy("c_nationkey", "c_mktsegment").agg(
        F.count(F.lit(1)).alias("c")
    )
    h = sha256_prefix_i64(
        F.concat(
            F.lit("expmech|"),
            F.col("c_nationkey").cast("string"),
            F.lit("|"),
            F.col("c_mktsegment"),
        )
    ) % F.lit(4503599627370496)
    u = (F.lit(2) * F.col("h") + 1).cast("double") / F.lit(9007199254740992.0)
    hashed = cells.withColumn("h", h)
    uarg = hashed.withColumn("lnu", det_ln_q(u))
    varg = uarg.withColumn(
        "vln", (-F.col("lnu")).cast("double") * F.lit(0.000001)
    )
    scored = varg.select(
        "c_nationkey",
        "c_mktsegment",
        "c",
        (
            F.lit(EXPMECH_EPS_MICRO_HALF) * F.col("c") - det_ln_q(F.col("vln"))
        ).alias("sq"),
    )
    sb = scored.select(
        F.col("c_nationkey").alias("nk_b"),
        F.col("c_mktsegment").alias("seg_b"),
        F.col("sq").alias("sq_b"),
    )
    pick = (
        scored.join(
            F.broadcast(sb),
            (F.col("nk_b") == F.col("c_nationkey"))
            & (
                (F.col("sq_b") > F.col("sq"))
                | ((F.col("sq_b") == F.col("sq")) & (F.col("seg_b") < F.col("c_mktsegment")))
            ),
            "left_anti",
        )
        .select(
            F.col("c_nationkey").alias("nationkey"),
            F.col("c_mktsegment").alias("chosen_segment"),
            F.col("c").alias("chosen_count"),
        )
    )
    cb = cells.select(
        F.col("c_nationkey").alias("nk_b"),
        F.col("c_mktsegment").alias("seg_b"),
        F.col("c").alias("c_b"),
    )
    best = (
        cells.join(
            F.broadcast(cb),
            (F.col("nk_b") == F.col("c_nationkey"))
            & (
                (F.col("c_b") > F.col("c"))
                | ((F.col("c_b") == F.col("c")) & (F.col("seg_b") < F.col("c_mktsegment")))
            ),
            "left_anti",
        )
        .select(
            F.col("c_nationkey").alias("nationkey"),
            F.col("c_mktsegment").alias("true_segment"),
            F.col("c").alias("true_count"),
        )
    )
    return pick.join(best, "nationkey").select(
        "nationkey",
        "chosen_segment",
        "chosen_count",
        "true_segment",
        "true_count",
        (F.col("chosen_segment") == F.col("true_segment")).alias("utility_hit"),
    )


# ---------------------------------------------------------------------------
# 8. Last-digit preference audit of order totals
# ---------------------------------------------------------------------------


def _digit_pref_oracle() -> str:
    from ..functions.exact import sql_round_big_int_ratio, sql_round_int_ratio

    return f"""
    WITH cents AS (
      SELECT CAST(floor(o_totalprice * 100 + 0.5) AS BIGINT) % 10 AS digit
      FROM orders WHERE o_totalprice IS NOT NULL
    ), cnt AS (
      SELECT digit, CAST(count(*) AS BIGINT) AS c FROM cents GROUP BY digit
    ), tot AS (SELECT CAST(sum(c) AS BIGINT) AS n FROM cnt),
    chi AS (
      SELECT CAST(sum((10 * c - t.n)::HUGEINT * (10 * c - t.n)) AS HUGEINT)
               AS num, t.n
      FROM cnt, tot t GROUP BY t.n
    )
    SELECT c.digit, c.c AS n_orders,
           {sql_round_int_ratio('c.c', 'ch.n')} AS share,
           {sql_round_big_int_ratio('ch.num', '10::HUGEINT * ch.n * ch.n')}
             AS chi2_over_n
    FROM cnt c, chi ch
    """


@register("dq_digit_preference_audit", _digit_pref_oracle())
def dq_digit_preference_audit(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Last-digit preference audit of order totals (in cents): the
    terminal-digit histogram with the chi-square index of digit
    preference — the measurement-quality cousin of the Benford
    first/second-digit audits (Benford tests the LEADING digits'
    logarithmic law; rounded-or-fabricated values betray themselves in
    the TRAILING digit, which should be uniform).

    Exact arithmetic throughout: chi^2/n = Sum(10*O_d - N)^2 / (10*N^2)
    (the per-n normalized index, so the statistic is comparable across
    scales) as one round_big_int_ratio, shares exact. One scan to the
    10-cell digit grid.
    """
    from ..functions.exact import round_big_int_ratio, round_int_ratio

    t = Tables(spark, sf_dir)
    cents = t.orders.filter(F.col("o_totalprice").isNotNull()).select(
        (order_cents() % 10).alias(
            "digit"
        )
    )
    cnt = cents.groupBy("digit").agg(F.count(F.lit(1)).alias("c"))
    tot = cnt.agg(F.sum("c").alias("n"))
    chi = cnt.crossJoin(F.broadcast(tot)).agg(
        F.sum(
            dec38(F.lit(10) * F.col("c") - F.col("n"))
            * dec38(F.lit(10) * F.col("c") - F.col("n"))
        ).alias("num"),
        F.max("n").alias("n"),
    )
    return cnt.crossJoin(F.broadcast(chi)).select(
        "digit",
        F.col("c").alias("n_orders"),
        round_int_ratio(F.col("c"), F.col("n")).alias("share"),
        round_big_int_ratio(
            F.col("num"),
            F.lit(10).cast("decimal(38,0)") * dec38(F.col("n")) * dec38(F.col("n")),
        ).alias("chi2_over_n"),
    )


# ---------------------------------------------------------------------------
# 11. Duplication x quality quadrant with lift
# ---------------------------------------------------------------------------


def _dup_quality_oracle() -> str:
    from ..functions.exact import sql_round_int_ratio

    return (
        scored_labeled_sql()
        + f"""
    , clus AS (
      SELECT doc_id, CAST(count(*) OVER (PARTITION BY sha256(text)) AS BIGINT)
               AS csize
      FROM documents
    ), cells AS (
      SELECT (c.csize > 1) AS is_dup, (s.label = 1) AS is_quality,
             CAST(count(*) AS BIGINT) AS n
      FROM scored s JOIN clus c ON c.doc_id = s.doc_id
      GROUP BY 1, 2
    ), margins AS (
      SELECT CAST(sum(n) AS BIGINT) AS total,
             CAST(sum(CASE WHEN is_quality THEN n ELSE 0 END) AS BIGINT)
               AS n_quality
      FROM cells
    ), dup_m AS (
      SELECT is_dup, CAST(sum(n) AS BIGINT) AS n_dupclass
      FROM cells GROUP BY is_dup
    )
    SELECT c.is_dup, c.is_quality, c.n,
           {sql_round_int_ratio('c.n', 'm.total')} AS share,
           CASE WHEN c.is_quality AND m.n_quality > 0 THEN
             {sql_round_int_ratio('c.n * m.total',
                                  'd.n_dupclass * m.n_quality')}
           END AS quality_lift
    FROM cells c
    JOIN dup_m d ON d.is_dup = c.is_dup
    CROSS JOIN margins m
    """
    )


@register("corpus_dup_quality_quadrant", _dup_quality_oracle())
def corpus_dup_quality_quadrant(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Duplication x quality 2x2: does duplicated content pass the
    quality gate more or less often than unique content? Reports the
    four cell counts/shares plus the quality LIFT within each dup
    class (P(quality | dup class)/P(quality)) — the interaction audit
    the dedup and quality families each assume away (boilerplate is
    often BOTH duplicated AND 'clean-looking'; a corpus plan that
    filters then dedups in the wrong order double-counts exactly this
    cell).

    One scored scan (shared hashed-classifier machinery) joined to
    the sha256 exact-dup cluster sizes on doc_id; everything after is
    a 4-cell grid with exact round_int_ratio shares and lifts. The
    per-cluster size rides a hash-partitioned window over the cluster
    key (never SinglePartition).
    """
    from ..functions.exact import round_int_ratio

    t = Tables(spark, sf_dir)
    s = scored_labeled(t).select("doc_id", "label")
    clus = t.documents.select(
        "doc_id",
        F.count(F.lit(1))
        .over(Window.partitionBy(F.sha2(F.col("text"), 256)))
        .cast("long")
        .alias("csize"),
    )
    cells = (
        s.join(clus, "doc_id")
        .groupBy(
            (F.col("csize") > 1).alias("is_dup"),
            (F.col("label") == 1).alias("is_quality"),
        )
        .agg(F.count(F.lit(1)).alias("n"))
    )
    margins = cells.agg(
        F.sum("n").alias("total"),
        F.sum(F.when(F.col("is_quality"), F.col("n")).otherwise(0)).alias(
            "n_quality"
        ),
    )
    dup_m = cells.groupBy("is_dup").agg(F.sum("n").alias("n_dupclass"))
    return (
        cells.join(F.broadcast(dup_m), "is_dup")
        .crossJoin(F.broadcast(margins))
        .select(
            "is_dup",
            "is_quality",
            "n",
            round_int_ratio(F.col("n"), F.col("total")).alias("share"),
            F.when(
                F.col("is_quality") & (F.col("n_quality") > 0),
                round_int_ratio(
                    F.col("n") * F.col("total"),
                    F.col("n_dupclass") * F.col("n_quality"),
                ),
            ).alias("quality_lift"),
        )
    )


# ---------------------------------------------------------------------------
# 12. Membership-inference audit of the quality classifier
# ---------------------------------------------------------------------------

MIA_SPLIT_MOD = 5  # hash % 5 < 4 -> "train", else holdout


def _mia_oracle() -> str:
    from ..functions.exact import sql_round_int_ratio

    m = MIA_SPLIT_MOD
    return (
        scored_labeled_sql()
        + f"""
    , lab AS (
      SELECT score_q,
             CASE WHEN (('0x' || substr(sha256('miasplit|' ||
               CAST(doc_id AS VARCHAR)), 1, 15))::BIGINT % {m}) < {m - 1}
             THEN 1 ELSE 0 END AS in_train
      FROM scored
    ), by_val AS (
      SELECT score_q, CAST(count(*) AS HUGEINT) AS cnt,
             CAST(sum(in_train) AS HUGEINT) AS cpos
      FROM lab GROUP BY score_q
    ), ranked AS (
      SELECT cnt, cpos,
             coalesce(sum(cnt) OVER (ORDER BY score_q
                      ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0)
               AS cum
      FROM by_val
    ), agg AS (
      SELECT sum(cpos) AS n_train, sum(cnt - cpos) AS n_holdout,
             sum(cpos * (2 * cum + cnt + 1)) AS r2
      FROM ranked
    )
    SELECT CAST(n_train AS BIGINT) AS n_train,
           CAST(n_holdout AS BIGINT) AS n_holdout,
           CASE WHEN n_train > 0 AND n_holdout > 0 THEN
             {sql_round_int_ratio('(r2 - n_train * (n_train + 1))',
                                  '(2 * n_train * n_holdout)')}
           END AS mia_auc,
           CASE WHEN n_train > 0 AND n_holdout > 0 THEN
             abs({sql_round_int_ratio('(r2 - n_train * (n_train + 1))',
                                      '(2 * n_train * n_holdout)')} - 0.5)
           END AS auc_gap
    FROM agg
    """
    )


@register("privacy_membership_inference_audit", _mia_oracle())
def privacy_membership_inference_audit(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Membership-inference audit: can the quality classifier's score
    DISTINGUISH a deterministic hash-split "train" subset from the
    holdout? Reported as the Mann-Whitney AUC of score vs membership
    plus its gap from 0.5 — the standard score-based MIA screen
    (Shokri et al. shape): a model whose scores separate members from
    non-members leaks membership. For this registry's hash-weighted
    classifier the expected gap is ~0 (nothing was fit to the split),
    which is exactly what the audit certifies; the operator IS the
    harness a trained filter would be dropped into.

    Machinery is the ml_auc_by_lang exact path: scores pre-aggregated
    to the <= 10001-value grid, midrank ties, one exact ratio.
    auc_gap = |auc - 0.5| is a derived column of the SAME quantized
    value on both engines (abs of a quantized double — no re-rounding).
    """
    from ..functions.exact import round_int_ratio
    from ..functions.textnorm import sha256_prefix_i64

    m = MIA_SPLIT_MOD
    t = Tables(spark, sf_dir)
    s = scored_labeled(t)
    lab = s.select(
        "score_q",
        F.when(
            sha256_prefix_i64(
                F.concat(F.lit("miasplit|"), F.col("doc_id").cast("string"))
            )
            % m
            < m - 1,
            1,
        )
        .otherwise(0)
        .alias("in_train"),
    )
    g = lab.groupBy("score_q").agg(
        F.count(F.lit(1)).alias("cnt"), F.sum("in_train").alias("cpos")
    )
    w = Window.orderBy("score_q").rowsBetween(Window.unboundedPreceding, -1)
    r = g.select(
        dec38(F.col("cnt")).alias("cnt"),
        dec38(F.col("cpos")).alias("cpos"),
        dec38(F.coalesce(F.sum("cnt").over(w), F.lit(0))).alias("cum"),
    )
    agg = r.agg(
        F.sum("cpos").alias("n_train"),
        F.sum(F.col("cnt") - F.col("cpos")).alias("n_holdout"),
        F.sum(
            F.col("cpos") * (F.lit(2).cast("decimal(38,0)") * F.col("cum") + F.col("cnt") + F.lit(1).cast("decimal(38,0)"))
        ).alias("r2"),
    )
    auc = round_int_ratio(
        (F.col("r2") - F.col("n_train") * (F.col("n_train") + F.lit(1).cast("decimal(38,0)"))).cast("long"),
        (F.lit(2).cast("decimal(38,0)") * F.col("n_train") * F.col("n_holdout")).cast("long"),
    )
    ok = (F.col("n_train") > 0) & (F.col("n_holdout") > 0)
    return agg.select(
        F.col("n_train").cast("long").alias("n_train"),
        F.col("n_holdout").cast("long").alias("n_holdout"),
        F.when(ok, auc).alias("mia_auc"),
        F.when(ok, F.abs(auc - F.lit(0.5))).alias("auc_gap"),
    )


# ---------------------------------------------------------------------------
# 15. Absorbing-Markov expected steps to purchase
# ---------------------------------------------------------------------------

ABSORB_STATE = "purchase"


# ---------------------------------------------------------------------------
# 19. Bottom-k (one-permutation) Jaccard sketch with exact audit
# ---------------------------------------------------------------------------

BKJ_MIN = 10


def _bkj_oracle() -> str:
    from .roundnine import KMV_INT_DOMAIN, KMV_INT_K
    from ..functions.exact import sql_round_int_ratio

    k, dom, thr = KMV_INT_K, KMV_INT_DOMAIN, BKJ_MIN
    return f"""
    WITH pv AS (
      SELECT user_id,
             sum(CASE WHEN event_type = 'view' THEN 1 ELSE 0 END) AS nv,
             sum(CASE WHEN event_type = 'click' THEN 1 ELSE 0 END) AS nc
      FROM events GROUP BY user_id
    ), members AS (
      SELECT nv >= {thr} AS in_a, nc >= {thr} AS in_b,
             (('0x' || substr(sha256(CAST(user_id AS VARCHAR)), 1, 15))::BIGINT
               % {dom}) AS hv
      FROM pv WHERE nv >= {thr} OR nc >= {thr}
    ), bottom AS (
      SELECT hv, in_a, in_b FROM members ORDER BY hv LIMIT {k}
    ), est AS (
      SELECT CAST(count(*) AS BIGINT) AS k_eff,
             CAST(sum(CASE WHEN in_a AND in_b THEN 1 ELSE 0 END) AS BIGINT)
               AS matches
      FROM bottom
    ), tru AS (
      SELECT CAST(sum(CASE WHEN in_a AND in_b THEN 1 ELSE 0 END) AS BIGINT)
               AS n_inter,
             CAST(count(*) AS BIGINT) AS n_union
      FROM members
    )
    SELECT e.k_eff, e.matches, t.n_inter, t.n_union,
           {sql_round_int_ratio('e.matches', 'e.k_eff')} AS j_est,
           {sql_round_int_ratio('t.n_inter', 't.n_union')} AS j_true,
           abs({sql_round_int_ratio('e.matches', 'e.k_eff')}
               - {sql_round_int_ratio('t.n_inter', 't.n_union')}) AS abs_err
    FROM est e, tru t WHERE e.k_eff > 0 AND t.n_union > 0
    """


@register("sketch_bottomk_jaccard_users", _bkj_oracle())
def sketch_bottomk_jaccard_users(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Bottom-k (one-permutation) Jaccard estimator between the heavy
    VIEWER and heavy CLICKER audiences: take the k = 256 smallest
    portable hashes over the UNION and estimate J as the fraction of
    those sample points belonging to both sets — the bottom-k sketch
    identity (Cohen & Kaplan): the k smallest of A∪B are a uniform
    sample of the union, so membership frequency estimates any set
    ratio. Audited against the exact Jaccard. Completes the sketch
    family's similarity corner (MinHash-LSH estimates PER-PAIR doc
    similarity from signatures; this estimates ONE audience-pair
    Jaccard from composable bottom-k state — the cheap first question
    before any per-pair work).

    Deterministic bottom-k machinery shared with the KMV siblings:
    one user-keyed aggregate, one 256-row TakeOrdered carrying the
    two membership flags, exact integer ratios everywhere.
    """
    from .roundnine import KMV_INT_DOMAIN, KMV_INT_K
    from ..functions.exact import round_int_ratio
    from ..functions.textnorm import sha256_prefix_i64

    k, dom, thr = KMV_INT_K, KMV_INT_DOMAIN, BKJ_MIN
    t = Tables(spark, sf_dir)
    pv = t.events.groupBy("user_id").agg(
        F.sum(F.when(F.col("event_type") == "view", 1).otherwise(0)).alias("nv"),
        F.sum(F.when(F.col("event_type") == "click", 1).otherwise(0)).alias("nc"),
    )
    members = pv.filter((F.col("nv") >= thr) | (F.col("nc") >= thr)).select(
        (F.col("nv") >= thr).alias("in_a"),
        (F.col("nc") >= thr).alias("in_b"),
        (sha256_prefix_i64(F.col("user_id").cast("string")) % dom).alias("hv"),
    )
    bottom = members.orderBy("hv").limit(k)
    est = bottom.agg(
        F.count(F.lit(1)).alias("k_eff"),
        F.sum(F.when(F.col("in_a") & F.col("in_b"), 1).otherwise(0)).alias(
            "matches"
        ),
    )
    tru = members.agg(
        F.sum(F.when(F.col("in_a") & F.col("in_b"), 1).otherwise(0)).alias(
            "n_inter"
        ),
        F.count(F.lit(1)).alias("n_union"),
    )
    j_est = round_int_ratio(F.col("matches"), F.col("k_eff"))
    j_true = round_int_ratio(F.col("n_inter"), F.col("n_union"))
    return (
        est.crossJoin(F.broadcast(tru))
        .filter((F.col("k_eff") > 0) & (F.col("n_union") > 0))
        .select(
            "k_eff",
            "matches",
            "n_inter",
            "n_union",
            j_est.alias("j_est"),
            j_true.alias("j_true"),
            F.abs(j_est - j_true).alias("abs_err"),
        )
    )


# ---------------------------------------------------------------------------
# 20. One-way ANOVA of embedding squared norms across labels
# ---------------------------------------------------------------------------


def _norm2_anova_oracle() -> str:
    from ..functions.exact import sql_round_big_int_ratio, sql_round_int_ratio

    return f"""
    WITH n2 AS (
      SELECT label,
             {sql_halfup_div(
                 "CAST(list_sum(list_transform(embedding::DOUBLE[], "
                 "x -> CAST(floor(x * 1000000.0 + 0.5) AS BIGINT) "
                 "* CAST(floor(x * 1000000.0 + 0.5) AS BIGINT))) AS HUGEINT)",
                 "1000000::HUGEINT")} AS v
      FROM embeddings
    ), per_g AS (
      SELECT label, CAST(count(*) AS HUGEINT) AS n,
             CAST(sum(v) AS HUGEINT) AS s,
             CAST(sum(v * v) AS HUGEINT) AS ss
      FROM n2 GROUP BY label
    ), tq AS (
      SELECT label, n, s, ss,
             {sql_halfup_div('10000::HUGEINT * s * s', 'n')} AS t_g
      FROM per_g
    ), tot AS (
      SELECT CAST(sum(n) AS HUGEINT) AS nn,
             CAST(count(*) AS HUGEINT) AS kk,
             CAST(sum(s) AS HUGEINT) AS s_all,
             CAST(sum(ss) AS HUGEINT) AS ss_all,
             CAST(sum(t_g) AS HUGEINT) AS t_sum
      FROM tq
    ), stat AS (
      SELECT nn, kk,
             t_sum - {sql_halfup_div('10000::HUGEINT * s_all * s_all', 'nn')}
               AS b_q,
             10000::HUGEINT * ss_all - t_sum AS w_q
      FROM tot
    )
    SELECT t.label, CAST(t.n AS BIGINT) AS n,
           {sql_round_int_ratio('CAST(t.s AS BIGINT)',
                                '1000000 * CAST(t.n AS BIGINT)')}
             AS mean_norm2,
           CASE WHEN s.w_q > 0 AND s.kk > 1 AND s.nn > s.kk THEN
             {sql_round_big_int_ratio('s.b_q * (s.nn - s.kk)',
                                      's.w_q * (s.kk - 1)')}
           END AS f_stat
    FROM tq t CROSS JOIN stat s
    """


@register("embedding_norm2_anova_by_label", _norm2_anova_oracle())
def embedding_norm2_anova_by_label(spark: SparkSession, sf_dir: str) -> DataFrame:
    """One-way ANOVA of embedding SQUARED NORMS across class labels —
    the norm-calibration diagnostic the embedding family lacked: if
    ‖x‖² differs systematically by class, cosine and dot-product
    retrieval disagree, quantizers allocate range unevenly, and any
    norm-based pruning is class-biased (the dim-stats op profiles
    dimensions; this tests the one scalar every index actually uses).

    Exactness: per-vector ‖x‖² from the house 1e-6-quantized
    components is an exact int64, re-quantized to 1e-6-norm² units by
    the shared half-up idiom (headroom: group Σv² then fits
    decimal(38) through sf1×10); the F statistic assembles exactly
    like the Brown-Forsythe W — per-group 1e-4 half-up quadratic
    terms, one round_big_int_ratio. One scan to ≤ 10 label rows.
    """
    from ..functions.exact import round_big_int_ratio, round_int_ratio

    t = Tables(spark, sf_dir)
    xq = F.transform(
        F.col("embedding").cast("array<double>"),
        lambda x: F.floor(x * F.lit(1000000.0) + F.lit(0.5)).cast("long"),
    )
    raw = t.embeddings.select(
        "label",
        F.aggregate(
            xq, F.lit(0).cast("long"), lambda acc, x: acc + x * x
        ).alias("n2raw"),
    )
    n2 = raw.select(
        "label",
        halfup_div(
            dec38(F.col("n2raw")), F.lit(1000000).cast("decimal(38,0)")
        ).alias("v"),
    )
    per_g = n2.groupBy("label").agg(
        dec38(F.count(F.lit(1))).alias("n"),
        F.sum("v").alias("s"),
        F.sum(F.col("v") * F.col("v")).alias("ss"),
    )
    e4 = F.lit(10000).cast("decimal(38,0)")
    tq = per_g.select(
        "label",
        "n",
        "s",
        "ss",
        halfup_div(e4 * F.col("s") * F.col("s"), F.col("n")).alias("t_g"),
    )
    tot = tq.agg(
        F.sum("n").alias("nn"),
        dec38(F.count(F.lit(1))).alias("kk"),
        F.sum("s").alias("s_all"),
        F.sum("ss").alias("ss_all"),
        F.sum("t_g").alias("t_sum"),
    )
    stat = tot.select(
        "nn",
        "kk",
        (
            F.col("t_sum")
            - halfup_div(e4 * F.col("s_all") * F.col("s_all"), F.col("nn"))
        ).alias("b_q"),
        (e4 * F.col("ss_all") - F.col("t_sum")).alias("w_q"),
    )
    one = F.lit(1).cast("decimal(38,0)")
    return tq.crossJoin(F.broadcast(stat)).select(
        "label",
        F.col("n").cast("long").alias("n"),
        round_int_ratio(
            F.col("s").cast("long"), F.lit(1000000) * F.col("n").cast("long")
        ).alias("mean_norm2"),
        F.when(
            (F.col("w_q") > 0) & (F.col("kk") > 1) & (F.col("nn") > F.col("kk")),
            round_big_int_ratio(
                F.col("b_q") * (F.col("nn") - F.col("kk")),
                F.col("w_q") * (F.col("kk") - one),
            ),
        ).alias("f_stat"),
    )
