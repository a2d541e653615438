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

``ml_decision_stump`` and ``ml_naive_bayes_langid`` live in
``operators/ml_models.py``; ``ml_ndcg_by_lang`` and
``ml_pr_auc_by_lang`` live in ``operators/ml_ranking.py`` with the other
ml queries.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql.window import Window

from ..functions.exact import dec38
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
