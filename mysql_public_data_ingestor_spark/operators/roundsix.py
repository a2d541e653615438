"""Round-6 operator batch.

New analytics surface on top of the established exactness toolkit:
integer/decimal half-up ratios (functions/exact.py) and the
deterministic fixed-point ln (functions/detmath.py) added this round —
several of these operators exist specifically because det-ln makes
their log-based statistics hash-exact across engines for the first
time (naive Bayes, Zipf fit, deterministic Laplace noise).

Every operator is registered directly (@register).

``stats_kendall_tau_b``, ``stats_ks_two_sample``,
``stats_spearman_corr`` and ``stats_theil_sen_trend`` live in
``operators/stats_rank.py``; ``stats_wilson_ci_by_nation`` lives in
``operators/stats_tables.py``; ``stats_changepoint_binseg`` lives in
``operators/stats_models.py`` with the other stats queries.

``events_acf_daily_lags``, ``events_holt_linear_fit`` and
``events_poisson_rate_test`` live in ``operators/events_series.py`` with
the other events queries.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql.window import Window

from ..functions.exact import dec38, order_cents
from ..registry import register
from ..tables import Tables

_P = 2_147_483_647  # Mersenne prime for the portable uniform hash


# ---------------------------------------------------------------------------
# 3. t-closeness audit (privacy family: k-anonymity -> l-diversity -> this)
# ---------------------------------------------------------------------------

TCLOSE_BUCKET = 500   # n_chars quasi-identifier bucket width (matches l-div)
TCLOSE_T_PPM = 350_000  # t = 0.35 threshold, in ppm


def _tclose_oracle() -> str:
    return f"""
    WITH docs AS (
      SELECT lang, CAST(n_chars // {TCLOSE_BUCKET} AS BIGINT) AS len_bucket, source
      FROM documents
    ), gsrc AS (
      SELECT source, CAST(count(*) AS BIGINT) AS cs FROM docs GROUP BY source
    ), n AS (SELECT CAST(count(*) AS BIGINT) AS big_n FROM docs),
    grp AS (
      SELECT lang, len_bucket, source, CAST(count(*) AS BIGINT) AS c
      FROM docs GROUP BY 1, 2, 3
    ), gsize AS (
      SELECT lang, len_bucket, CAST(sum(c) AS BIGINT) AS ng
      FROM grp GROUP BY 1, 2
    ), terms AS (
      -- every (group, source) pair, including sources absent from the
      -- group (c = 0), so the variation distance sums the full domain
      SELECT gs.lang, gs.len_bucket, gs.ng, n.big_n,
             abs(coalesce(g.c, 0)::HUGEINT * n.big_n - gl.cs::HUGEINT * gs.ng)
               AS num
      FROM gsize gs
      CROSS JOIN gsrc gl
      CROSS JOIN n
      LEFT JOIN grp g ON g.lang = gs.lang AND g.len_bucket = gs.len_bucket
                      AND g.source = gl.source
    ), tv AS (
      SELECT lang, len_bucket, ng,
             CAST(((2000000::HUGEINT * sum(num) + (2::HUGEINT * max(ng) * max(big_n)))
                   // (2::HUGEINT * 2 * max(ng) * max(big_n))) AS BIGINT) AS tv_ppm
      FROM terms GROUP BY 1, 2, 3
    )
    SELECT lang, len_bucket, ng AS group_size,
           tv_ppm / 1000000.0 AS tv_distance,
           (tv_ppm <= {TCLOSE_T_PPM}) AS meets_t
    FROM tv
    """


@register("privacy_t_closeness_audit", oracle=_tclose_oracle())
def privacy_t_closeness_audit(spark: SparkSession, sf_dir: str) -> DataFrame:
    """t-closeness audit over the quasi-identifier (lang, length
    bucket): the distance between each QI group's sensitive-attribute
    distribution (source) and the GLOBAL distribution, as total
    variation distance — the third rung of the anonymity ladder
    (k-anonymity bounds group size, l-diversity bounds variety, this
    bounds how much a group's distribution LEAKS relative to baseline).

    Exactness: TV = sum |c/ng - C/N| / 2 is cross-multiplied to the
    integer sum |c*N - C*ng| and divided once in the decimal domain
    (half-up ppm). The group x source grid joins the bounded source
    domain, so absent sources contribute their full |0 - C*ng| mass.
    Scale: two partial-aggregated counts plus a |groups| x |sources|
    grid — both domain-bounded, never corpus-bounded.
    """
    from ..functions.exact import round_big_int_ratio

    t = Tables(spark, sf_dir)
    docs = t.documents.select(
        "lang",
        (F.col("n_chars") / F.lit(TCLOSE_BUCKET)).cast("long").alias("len_bucket"),
        "source",
    )
    glob = docs.groupBy("source").agg(F.count(F.lit(1)).alias("cs"))
    big_n = docs.agg(F.count(F.lit(1)).alias("big_n"))
    grp = docs.groupBy("lang", "len_bucket", "source").agg(
        F.count(F.lit(1)).alias("c")
    )
    gsize = grp.groupBy("lang", "len_bucket").agg(F.sum("c").alias("ng"))
    terms = (
        gsize.crossJoin(F.broadcast(glob))
        .crossJoin(F.broadcast(big_n))
        .join(grp, ["lang", "len_bucket", "source"], "left")
        .select(
            "lang",
            "len_bucket",
            "ng",
            "big_n",
            F.abs(
                dec38(F.coalesce(F.col("c"), F.lit(0))) * dec38(F.col("big_n"))
                - dec38(F.col("cs")) * dec38(F.col("ng"))
            ).alias("num"),
        )
    )
    tv = terms.groupBy("lang", "len_bucket", "ng").agg(
        F.sum("num").alias("sum_num"),
        F.max("big_n").alias("big_n"),
    )
    tv_ppm = round_big_int_ratio(
        F.col("sum_num"),
        F.lit(2).cast("decimal(38,0)") * dec38(F.col("ng")) * dec38(F.col("big_n")),
    ) * F.lit(1e6)
    return tv.select(
        "lang",
        "len_bucket",
        F.col("ng").alias("group_size"),
        (F.floor(tv_ppm + F.lit(0.5)).cast("long") / F.lit(1e6)).alias("tv_distance"),
        (F.floor(tv_ppm + F.lit(0.5)).cast("long") <= F.lit(TCLOSE_T_PPM)).alias(
            "meets_t"
        ),
    )


# ---------------------------------------------------------------------------
# 8. NDCG@10 ranking eval of the quality classifier
# ---------------------------------------------------------------------------

NDCG_K = 10
# integer nano-gains 1e9/log2(i+1), precomputed in Python so BOTH
# engines embed the identical int64 literals — no runtime log anywhere
import math as _math  # noqa: E402

NDCG_W = [int(_math.floor(1e9 / _math.log2(i + 1) + 0.5)) for i in range(1, NDCG_K + 1)]
NDCG_PW = [sum(NDCG_W[: i + 1]) for i in range(NDCG_K)]  # prefix sums


def _ndcg_oracle() -> str:
    from .ml import _scored_labeled_sql

    w_list = ", ".join(str(w) for w in NDCG_W)
    pw_list = ", ".join(str(w) for w in NDCG_PW)
    return (
        _scored_labeled_sql()
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
    from .ml import _scored_labeled

    t = Tables(spark, sf_dir)
    s = _scored_labeled(t)
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
# 9. Differentially-private counts via deterministic inverse-CDF Laplace
# ---------------------------------------------------------------------------

DP_EPS = 0.5
DP_HASH_A, DP_HASH_B = 1_103_515_245, 12_345


def _dp_oracle() -> str:
    from ..functions.detmath import sql_det_ln_steps

    b = 1.0 / DP_EPS
    return f"""
    WITH counts AS (
      SELECT c.c_nationkey, CAST(count(*) AS BIGINT) AS true_count
      FROM orders o JOIN customer c ON c.c_custkey = o.o_custkey
      GROUP BY 1
    ), u AS (
      SELECT c_nationkey, true_count,
             (CAST((((c_nationkey::BIGINT % {_P}) * {DP_HASH_A} + {DP_HASH_B}) % {_P})
                   AS DOUBLE) + 1.0) / {float(_P + 1)!r}::DOUBLE AS u01
      FROM counts
    ), centered AS (
      SELECT c_nationkey, true_count, u01 - 0.5 AS c,
             1.0 - 2.0 * abs(u01 - 0.5) AS arg
      FROM u
    ), {sql_det_ln_steps('centered', 'arg', 'lnv', as_double=True)}, noise AS (
      SELECT c_nationkey, true_count,
             CAST(floor((CASE WHEN c >= 0 THEN -{b!r}::DOUBLE * lnv
                              ELSE {b!r}::DOUBLE * lnv END)
                        * 1000000.0 + 0.5) AS BIGINT) AS noise_q6
      FROM lnv_rel
    )
    SELECT nn.n_name AS nation, true_count, noise_q6,
           true_count
             + CAST(floor(noise_q6 / 1000000.0 + 0.5) AS BIGINT) AS noisy_count
    FROM noise JOIN nation nn ON nn.n_nationkey = noise.c_nationkey
    """


@register("privacy_dp_laplace_counts", oracle=_dp_oracle())
def privacy_dp_laplace_counts(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-nation order counts with Laplace(1/eps)-SHAPED pseudo-noise,
    eps = 0.5 — a reproducible DEMO of the DP release mechanism's
    plumbing, NOT a differential-privacy guarantee: the noise is
    inverse-CDF Laplace driven by a portable hash of the public
    partition key with constants fixed in source, so anyone holding the
    code can subtract it exactly and recover true_count (ADVICE r6). A
    production release would derive the hash seed from a secret salt
    held outside the code (the mechanism below is unchanged by that
    substitution); what this query demonstrates — and what the oracle
    verifies bit-for-bit — is the deterministic inverse-CDF transform
    itself.

    The inverse CDF needs ln(1 - 2|u - 0.5|) — exactly what the
    deterministic fixed-point ln (functions/detmath.py) exists for: the
    noise quantizes to the same micro-unit integer on both engines.
    Scale: one partial-aggregated count; noise is |nations| rows of
    scalar math.
    """
    from ..functions.detmath import det_ln_dbl

    t = Tables(spark, sf_dir)
    b = 1.0 / DP_EPS
    counts = (
        t.orders.join(
            t.customer.select("c_custkey", "c_nationkey"),
            t.orders.o_custkey == F.col("c_custkey"),
        )
        .groupBy("c_nationkey")
        .agg(F.count(F.lit(1)).alias("true_count"))
    )
    h = ((F.col("c_nationkey").cast("long") % _P) * DP_HASH_A + DP_HASH_B) % _P
    u01 = (h.cast("double") + F.lit(1.0)) / F.lit(float(_P + 1))
    centered = counts.select(
        "c_nationkey",
        "true_count",
        (u01 - F.lit(0.5)).alias("c"),
        (F.lit(1.0) - F.lit(2.0) * F.abs(u01 - F.lit(0.5))).alias("arg"),
    )
    lnv = det_ln_dbl(F.col("arg"))
    noise_q6 = F.floor(
        F.when(F.col("c") >= 0, F.lit(-b) * lnv).otherwise(F.lit(b) * lnv)
        * F.lit(1e6)
        + F.lit(0.5)
    ).cast("long")
    noise = centered.select("c_nationkey", "true_count", noise_q6.alias("noise_q6"))
    return noise.join(
        F.broadcast(t.nation.select("n_nationkey", "n_name")),
        noise.c_nationkey == F.col("n_nationkey"),
    ).select(
        F.col("n_name").alias("nation"),
        "true_count",
        "noise_q6",
        (
            F.col("true_count")
            + F.floor(F.col("noise_q6") / F.lit(1e6) + F.lit(0.5)).cast("long")
        ).alias("noisy_count"),
    )


# ---------------------------------------------------------------------------
# 10. Zipf exponent fit of the token frequency distribution
# ---------------------------------------------------------------------------

ZIPF_TOP = 1000


def _zipf_oracle() -> str:
    from ..functions.detmath import sql_det_ln_steps
    from .corpus import _SQL_TOKENS

    return f"""
    WITH toks AS (
      SELECT unnest({_SQL_TOKENS}) AS token FROM documents
    ), freq AS (
      SELECT token, CAST(count(*) AS BIGINT) AS f
      FROM toks WHERE token <> '' GROUP BY token
    ), ranked AS (
      SELECT CAST(row_number() OVER (ORDER BY f DESC, token) AS BIGINT) AS r, f
      FROM freq
      ORDER BY f DESC, token
      LIMIT {ZIPF_TOP}
    ), rd AS (
      SELECT CAST(r AS DOUBLE) AS rd, CAST(f AS DOUBLE) AS fd FROM ranked
    ), {sql_det_ln_steps('rd', 'rd', 'x_q', 6)},
    {sql_det_ln_steps('x_q_rel', 'fd', 'y_q', 6)},
    s AS (
      SELECT CAST(count(*) AS HUGEINT) AS n,
             CAST(sum(x_q) AS HUGEINT) AS sx, CAST(sum(y_q) AS HUGEINT) AS sy,
             sum(x_q::HUGEINT * x_q) AS sxx, sum(y_q::HUGEINT * y_q) AS syy,
             sum(x_q::HUGEINT * y_q) AS sxy
      FROM y_q_rel
    ), fit AS (
      SELECT CAST(n AS BIGINT) AS n_ranks,
             n * sxy - sx * sy AS num,
             n * sxx - sx * sx AS denx,
             n * syy - sy * sy AS deny
      FROM s
    )
    SELECT n_ranks,
           CAST(CASE WHEN num >= 0
             THEN  ((2000000::HUGEINT * num + denx) // (2::HUGEINT * denx))
             ELSE -((2000000::HUGEINT * (-num) + denx) // (2::HUGEINT * denx))
           END AS BIGINT) / 1000000.0 AS zipf_slope,
           CAST(floor(CAST(num AS DOUBLE) * CAST(num AS DOUBLE)
                      / (CAST(denx AS DOUBLE) * CAST(deny AS DOUBLE))
                      * 1000000.0 + 0.5) AS BIGINT) / 1000000.0 AS r_squared
    FROM fit
    """


@register("text_zipf_fit", oracle=_zipf_oracle())
def text_zipf_fit(spark: SparkSession, sf_dir: str) -> DataFrame:
    """OLS fit of log-frequency against log-rank over the top-1000
    token frequency table — the Zipf exponent (slope ~ -1 for natural
    language; strong deviation flags templated/synthetic corpora), a
    standard corpus-health diagnostic.

    Both logs are the deterministic fixed-point ln in micro-nat int64
    (functions/detmath.py) — the fit's sufficient statistics are then
    exact decimal sums and the slope is one decimal half-up ratio (the
    micro-unit scale cancels between numerator and denominator). R^2
    runs in doubles cast from the same exact integers on both engines.
    Scale: token counting is the usual partial-aggregated explode; the
    fit itself touches only the top-1000 rows of the frequency table.
    """
    from ..functions.detmath import det_ln_q
    from ..functions.exact import round_big_int_ratio
    from ..functions.textnorm import whitespace_tokens

    t = Tables(spark, sf_dir)
    freq = (
        t.documents.select(F.explode(whitespace_tokens(F.col("text"))).alias("token"))
        .where(F.col("token") != "")
        .groupBy("token")
        .agg(F.count(F.lit(1)).alias("f"))
    )
    ranked = (
        freq.select(
            F.row_number()
            .over(Window.orderBy(F.col("f").desc(), "token"))
            .cast("long")
            .alias("r"),
            "f",
        )
        .where(F.col("r") <= ZIPF_TOP)
    )
    xy = ranked.select(
        det_ln_q(F.col("r").cast("double"), 6).alias("x_q"),
        det_ln_q(F.col("f").cast("double"), 6).alias("y_q"),
    )
    s = xy.agg(
        F.count(F.lit(1)).alias("n"),
        F.sum("x_q").alias("sx"),
        F.sum("y_q").alias("sy"),
        F.sum(dec38(F.col("x_q")) * dec38(F.col("x_q"))).alias("sxx"),
        F.sum(dec38(F.col("y_q")) * dec38(F.col("y_q"))).alias("syy"),
        F.sum(dec38(F.col("x_q")) * dec38(F.col("y_q"))).alias("sxy"),
    )
    n = dec38(F.col("n"))
    fit = s.select(
        F.col("n").alias("n_ranks"),
        (n * F.col("sxy") - dec38(F.col("sx")) * dec38(F.col("sy"))).alias("num"),
        (n * F.col("sxx") - dec38(F.col("sx")) * dec38(F.col("sx"))).alias("denx"),
        (n * F.col("syy") - dec38(F.col("sy")) * dec38(F.col("sy"))).alias("deny"),
    )
    r2 = (
        F.floor(
            F.col("num").cast("double")
            * F.col("num").cast("double")
            / (F.col("denx").cast("double") * F.col("deny").cast("double"))
            * F.lit(1e6)
            + F.lit(0.5)
        ).cast("long")
        / F.lit(1e6)
    )
    return fit.select(
        "n_ranks",
        round_big_int_ratio(F.col("num"), F.col("denx")).alias("zipf_slope"),
        r2.alias("r_squared"),
    )


# ---------------------------------------------------------------------------
# 12. Average precision (PR-AUC) of the quality classifier
# ---------------------------------------------------------------------------


def _pr_auc_oracle() -> str:
    from .ml import _scored_labeled_sql

    return (
        _scored_labeled_sql()
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
    from .ml import _scored_labeled

    t = Tables(spark, sf_dir)
    s = _scored_labeled(t)
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
# 13. Naive Bayes language classifier (train + score + confusion)
# ---------------------------------------------------------------------------

NB_HASH_A, NB_HASH_B = 214_013, 2_531_011
NB_TEST_MOD = 5          # doc_id hash % 5 == 0 -> held-out test fold
NB_MAX_CHARS = 400       # per-doc char cap bounds the bigram fanout


def _nb_oracle() -> str:
    from ..functions.detmath import sql_det_ln_steps

    return f"""
    WITH docs AS (
      SELECT doc_id, lang,
             substr(trim(regexp_replace(lower(text), '\\s+', ' ', 'g')), 1,
                    {NB_MAX_CHARS}) AS norm,
             ((((doc_id % {_P}) * {NB_HASH_A} + {NB_HASH_B}) % {_P})
              % {NB_TEST_MOD} = 0) AS is_test
      FROM documents
    ), grams AS (
      SELECT doc_id, lang, is_test, substr(norm, CAST(i AS INTEGER), 2) AS bg
      FROM docs, unnest(generate_series(1, len(norm) - 1)) AS t(i)
      WHERE len(norm) >= 2
    ), model AS (
      SELECT lang, bg, CAST(count(*) AS BIGINT) AS c
      FROM grams WHERE NOT is_test GROUP BY lang, bg
    ), vocab AS (
      SELECT CAST(count(DISTINCT bg) AS BIGINT) AS v
      FROM grams WHERE NOT is_test
    ), lang_tot AS (
      SELECT m.lang, CAST(sum(m.c) AS BIGINT) AS t_l,
             CAST(sum(m.c) + v.v AS BIGINT) AS denom
      FROM model m CROSS JOIN vocab v GROUP BY m.lang, v.v
    ), prior_base AS (
      SELECT lang, CAST(count(*) AS BIGINT) AS nl,
             CAST(sum(count(*)) OVER () AS BIGINT) AS ntr
      FROM docs WHERE NOT is_test GROUP BY lang
    ), modeld AS (
      SELECT m.lang, m.bg,
             (CAST(m.c AS DOUBLE) + 1.0) / CAST(lt.denom AS DOUBLE) AS pr
      FROM model m JOIN lang_tot lt USING (lang)
    ), {sql_det_ln_steps('modeld', 'pr', 'logp_q', 6)},
    langd AS (
      SELECT lt.lang, lt.denom,
             1.0 / CAST(lt.denom AS DOUBLE) AS pr0,
             CAST(pb.nl AS DOUBLE) / CAST(pb.ntr AS DOUBLE) AS prior
      FROM lang_tot lt JOIN prior_base pb USING (lang)
    ), {sql_det_ln_steps('langd', 'pr0', 'logp0_q', 6)},
    {sql_det_ln_steps('logp0_q_rel', 'prior', 'prior_q', 6)},
    test_grams AS (
      SELECT doc_id, lang AS true_lang, bg, CAST(count(*) AS BIGINT) AS cnt
      FROM grams WHERE is_test GROUP BY doc_id, lang, bg
    ), contrib AS (
      SELECT tg.doc_id, tg.true_lang, l.lang AS cand,
             CAST(sum(tg.cnt * coalesce(m.logp_q, l.logp0_q)) AS BIGINT) AS s
      FROM test_grams tg
      CROSS JOIN prior_q_rel l
      LEFT JOIN logp_q_rel m ON m.lang = l.lang AND m.bg = tg.bg
      GROUP BY tg.doc_id, tg.true_lang, l.lang
    ), test_docs AS (
      SELECT doc_id, lang AS true_lang FROM docs WHERE is_test
    ), scores AS (
      SELECT td.doc_id, td.true_lang, l.lang AS cand,
             l.prior_q + coalesce(c.s, 0) AS score
      FROM test_docs td
      CROSS JOIN prior_q_rel l
      LEFT JOIN contrib c ON c.doc_id = td.doc_id AND c.cand = l.lang
    ), pred AS (
      SELECT doc_id, true_lang, cand AS pred_lang,
             row_number() OVER (PARTITION BY doc_id
                                ORDER BY score DESC, cand) AS rn
      FROM scores
    )
    SELECT true_lang, pred_lang, CAST(count(*) AS BIGINT) AS n_docs
    FROM pred WHERE rn = 1
    GROUP BY true_lang, pred_lang
    """


@register("ml_naive_bayes_langid", oracle=_nb_oracle())
def ml_naive_bayes_langid(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Multinomial naive Bayes language identifier, trained AND
    evaluated in one declarative plan: character-bigram counts from a
    hash-held-out 80% train fold, Laplace-smoothed log-probabilities,
    argmax scoring of the 20% test fold, confusion matrix out — the
    classic "train a simple model inside the warehouse" pattern
    (complements ``text_lang_id``'s fixed heuristic with a LEARNED
    classifier, and ``stats_logistic_gd``'s regression with a
    generative model).

    Every log-probability is the deterministic fixed-point ln
    (functions/detmath.py) quantized to micro-nat int64 ON THE MODEL
    TABLE (|langs| x |bigrams|-bounded), so per-doc scores are exact
    integer dot products — bit-identical argmax on both engines.
    Scale: train counts partial-aggregate; scoring joins test bigrams
    to the broadcastable model; the per-doc fanout is |langs| (~5).
    """
    from ..functions.detmath import det_ln_q
    from ..functions.textnorm import normalized_text

    t = Tables(spark, sf_dir)
    h = ((F.col("doc_id") % _P) * NB_HASH_A + NB_HASH_B) % _P
    docs = t.documents.select(
        "doc_id",
        "lang",
        F.substring(normalized_text(F.col("text")), 1, NB_MAX_CHARS).alias("norm"),
        (h % NB_TEST_MOD == 0).alias("is_test"),
    )
    grams = docs.where(F.length("norm") >= 2).select(
        "doc_id",
        "lang",
        "is_test",
        F.explode(
            F.transform(
                F.sequence(F.lit(1), F.length("norm") - 1),
                lambda i: F.col("norm").substr(i, F.lit(2)),
            )
        ).alias("bg"),
    )
    train = grams.where(~F.col("is_test"))
    model = train.groupBy("lang", "bg").agg(F.count(F.lit(1)).alias("c"))
    vocab = train.agg(F.countDistinct("bg").alias("v"))
    lang_tot = (
        model.groupBy("lang")
        .agg(F.sum("c").alias("t_l"))
        .crossJoin(F.broadcast(vocab))
        .select("lang", "t_l", (F.col("t_l") + F.col("v")).alias("denom"))
    )
    lang_counts = (
        docs.where(~F.col("is_test")).groupBy("lang").agg(F.count(F.lit(1)).alias("nl"))
    )
    # broadcast 1-row total, not a global window — keeps the registry
    # free of SinglePartition-fed Window stages (tests/test_plans.py)
    prior_base = lang_counts.crossJoin(
        F.broadcast(lang_counts.agg(F.sum("nl").alias("ntr")))
    )
    scored_model = model.join(lang_tot, "lang").select(
        "lang",
        "bg",
        det_ln_q(
            (F.col("c").cast("double") + F.lit(1.0)) / F.col("denom").cast("double"),
            6,
        ).alias("logp_q"),
    )
    lang_scores = lang_tot.join(prior_base, "lang").select(
        "lang",
        det_ln_q(F.lit(1.0) / F.col("denom").cast("double"), 6).alias("logp0_q"),
        det_ln_q(
            F.col("nl").cast("double") / F.col("ntr").cast("double"), 6
        ).alias("prior_q"),
    )
    test_grams = (
        grams.where(F.col("is_test"))
        .groupBy("doc_id", F.col("lang").alias("true_lang"), "bg")
        .agg(F.count(F.lit(1)).alias("cnt"))
    )
    contrib = (
        test_grams.crossJoin(F.broadcast(lang_scores.select("lang", "logp0_q")))
        .join(
            F.broadcast(scored_model.withColumnRenamed("lang", "m_lang")),
            (F.col("m_lang") == F.col("lang")) & (scored_model.bg == test_grams.bg),
            "left",
        )
        .groupBy("doc_id", "true_lang", F.col("lang").alias("cand"))
        .agg(
            F.sum(
                F.col("cnt") * F.coalesce(F.col("logp_q"), F.col("logp0_q"))
            ).alias("s")
        )
    )
    test_docs = docs.where(F.col("is_test")).select(
        "doc_id", F.col("lang").alias("true_lang")
    )
    scores = (
        test_docs.crossJoin(F.broadcast(lang_scores.select("lang", "prior_q")))
        .join(
            contrib.withColumnRenamed("cand", "lang"),
            ["doc_id", "true_lang", "lang"],
            "left",
        )
        .select(
            "doc_id",
            "true_lang",
            F.col("lang").alias("cand"),
            (F.col("prior_q") + F.coalesce(F.col("s"), F.lit(0))).alias("score"),
        )
    )
    pred = scores.select(
        "*",
        F.row_number()
        .over(
            Window.partitionBy("doc_id").orderBy(F.col("score").desc(), "cand")
        )
        .alias("rn"),
    ).where(F.col("rn") == 1)
    return pred.groupBy(
        "true_lang", F.col("cand").alias("pred_lang")
    ).agg(F.count(F.lit(1)).alias("n_docs"))


# ---------------------------------------------------------------------------
# 14. Decision stump training (1-split tree by exact Gini scan)
# ---------------------------------------------------------------------------

STUMP_BIN_CENTS = 1_000_000  # $10,000 candidate-threshold bins


def _stump_oracle() -> str:
    return f"""
    WITH o AS (
      SELECT CAST(floor(o_totalprice * 100.0 + 0.5) AS BIGINT)
               // {STUMP_BIN_CENTS} AS bin,
             CASE WHEN o_orderpriority IN ('1-URGENT', '2-HIGH')
                  THEN 1 ELSE 0 END AS label
      FROM orders
    ), binned AS (
      SELECT bin, CAST(count(*) AS BIGINT) AS n, CAST(sum(label) AS BIGINT) AS pos
      FROM o GROUP BY bin
    ), c AS (
      SELECT bin,
             sum(n) OVER (ORDER BY bin) AS nl,
             sum(pos) OVER (ORDER BY bin) AS posl,
             sum(n) OVER () AS nt, sum(pos) OVER () AS post
      FROM binned
    ), cand AS (
      SELECT bin, nl, posl, nl - posl AS negl,
             nt - nl AS nr, post - posl AS posr,
             (nt - nl) - (post - posl) AS negr, nt, post
      FROM c WHERE nl < nt
    ), scored AS (
      SELECT bin, nl, nr, nt, post, posl, negl, posr, negr,
             CAST(floor(
               ((CAST(nl AS DOUBLE) * nl - CAST(posl AS DOUBLE) * posl
                 - CAST(negl AS DOUBLE) * negl) / CAST(nl AS DOUBLE)
                + (CAST(nr AS DOUBLE) * nr - CAST(posr AS DOUBLE) * posr
                   - CAST(negr AS DOUBLE) * negr) / CAST(nr AS DOUBLE))
               * 1000000.0 + 0.5) AS BIGINT) AS g_q
      FROM cand
    ), best AS (
      SELECT *, row_number() OVER (ORDER BY g_q, bin) AS rn FROM scored
    )
    SELECT CAST((bin + 1) * {STUMP_BIN_CENTS} AS BIGINT) AS threshold_cents,
           CAST(nl AS BIGINT) AS n_left, CAST(nr AS BIGINT) AS n_right, g_q,
           CAST(((2000000::HUGEINT * (greatest(posl, negl) + greatest(posr, negr))
                  + nt) // (2::HUGEINT * nt)) AS BIGINT) / 1000000.0
             AS stump_accuracy
    FROM best WHERE rn = 1
    """


@register("ml_decision_stump", oracle=_stump_oracle())
def ml_decision_stump(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Train a one-split decision tree (stump) predicting urgent/high
    priority from order value, by exact Gini-impurity scan over binned
    thresholds — the "can the warehouse train the baseline model"
    primitive, and the building block of boosted trees and of feature
    split-finding in distributed GBDT (per-feature histogram -> prefix
    scan -> best split is exactly how LightGBM/XGBoost's histogram
    mode works at scale).

    Candidates are $10k bins, so the scan is histogram-sized no matter
    the corpus: one partial-aggregated groupBy, one ordered prefix
    window over the bins, and the weighted Gini (kept as the exact
    integer identity n - (pos^2 + neg^2)/n per side, evaluated in
    doubles from identical integers) ranks splits with a bin
    tie-break. Stump accuracy is an exact half-up ratio.
    """
    t = Tables(spark, sf_dir)
    o = t.orders.select(
        (
            order_cents()
            / F.lit(STUMP_BIN_CENTS)
        )
        .cast("long")
        .alias("bin"),
        F.when(
            F.col("o_orderpriority").isin("1-URGENT", "2-HIGH"), 1
        )
        .otherwise(0)
        .alias("label"),
    )
    binned = o.groupBy("bin").agg(
        F.count(F.lit(1)).alias("n"), F.sum("label").alias("pos")
    )
    # The split scan runs as ARRAY algebra inside one final aggregate —
    # the bin histogram (domain-bounded, ~50 rows) collects into a
    # sorted struct array, prefix sums come from slice-folds per
    # candidate, and the argmin is array_min over (g_q, bin, ...)
    # structs. No global Window/Sort anywhere, so the registry-wide
    # "SinglePartition only feeds final aggregates" plan property
    # holds (tests/test_plans.py); the O(bins^2) fold is on the
    # histogram, never the data.
    row = binned.agg(
        F.sort_array(F.collect_list(F.struct("bin", "n", "pos"))).alias("arr")
    )
    arr = F.col("arr")
    zero = F.lit(0).cast("long")
    nt = F.aggregate(arr, zero, lambda a, x: a + x["n"])
    post = F.aggregate(arr, zero, lambda a, x: a + x["pos"])

    def prefix(field, i):
        return F.aggregate(
            F.slice(arr, F.lit(1), i + 1), zero, lambda a, x: a + x[field]
        )

    def cand_struct(x, i):
        nl = prefix("n", i)
        posl = prefix("pos", i)
        negl = nl - posl
        nr = nt - nl
        posr = post - posl
        negr = nr - posr
        dd = lambda c_: c_.cast("double")  # noqa: E731
        # the last element (nr = 0) is filtered out below, but ANSI
        # division must still be guarded during the transform
        g_q = F.when(
            nr > 0,
            F.floor(
                (
                    (dd(nl) * nl - dd(posl) * posl - dd(negl) * negl) / dd(nl)
                    + (dd(nr) * nr - dd(posr) * posr - dd(negr) * negr) / dd(nr)
                )
                * F.lit(1e6)
                + F.lit(0.5)
            ).cast("long"),
        ).otherwise(F.lit(2**62))
        return F.struct(
            g_q.alias("g_q"),
            x["bin"].alias("bin"),
            nl.alias("nl"),
            posl.alias("posl"),
            negl.alias("negl"),
            nr.alias("nr"),
            posr.alias("posr"),
            negr.alias("negr"),
        )

    cands = F.filter(
        F.transform(arr, cand_struct), lambda c_: c_["nl"] < nt
    )
    scored = row.select(F.array_min(cands).alias("b"), nt.alias("nt"))
    from ..functions.exact import round_big_int_ratio

    b = F.col("b")
    return scored.select(
        ((b["bin"] + 1) * STUMP_BIN_CENTS).cast("long").alias("threshold_cents"),
        b["nl"].alias("n_left"),
        b["nr"].alias("n_right"),
        b["g_q"].alias("g_q"),
        round_big_int_ratio(
            dec38(F.greatest(b["posl"], b["negl"])) + dec38(F.greatest(b["posr"], b["negr"])),
            dec38(F.col("nt")),
        ).alias("stump_accuracy"),
    )
