"""Hypothesis tests on the orders calendar-day series.

Trend (Mann–Kendall, seasonal Mann–Kendall, seasonal Sen slope,
Cox–Stuart, Cochrane–Orcutt, Foster–Stuart records), randomness and
serial dependence (Ljung–Box, runs up/down, turning points, Bartels,
Chatterjee's xi, variance ratio, effective sample size), normality and
outliers (Jarque–Bera, Dixon's Q), stationarity (KPSS), location/scale
(Cucconi), seasonality (QS, Poisson deviance by weekday), forecast
comparison (Diebold–Mariano) and the residual diagnostics of the
daily-count trend fit (Durbin–Watson, Breusch–Pagan, ARCH LM,
McLeod–Li).

Every query reads the series through ``operators/daily.py``. Gates:
raw-frame oracle parity, plan bars and Python replicas in the
``tests/test_round*.py`` file named after the module each query was
first registered in.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql.window import Window

from ..functions.exact import dec38, halfup_div, sql_halfup_div
from ..registry import register
from ..tables import Tables
from .daily import (
    KPSS_RES_SCALE,
    _SQL_BP_RESID_CTES,
    _SQL_DAILY_CENTS_IDX,
    _SQL_DAILY_COUNTS_IDX,
    _bp_coef,
    _bp_resid,
    _daily_cents_idx,
    _daily_counts_idx,
    _daily_counts_idx_long,
    _kpss_tbl,
    day_series,
)


# ---------------------------------------------------------------------------
# Ljung-Box whiteness diagnostic over the daily order-count series
# ---------------------------------------------------------------------------

LB_MAX_LAG = 7


def _ljung_box_oracle() -> str:
    from ..functions.exact import sql_round_big_int_ratio

    lag_rows = " UNION ALL ".join(
        f"SELECT {k} AS k, num{k} AS num FROM nums" for k in range(1, LB_MAX_LAG + 1)
    )
    lead_cols = ",\n             ".join(
        f"lead(y, {k}) OVER (ORDER BY day) AS y{k}" for k in range(1, LB_MAX_LAG + 1)
    )
    num_cols = ",\n             ".join(
        f"CAST(sum(y * y{k}) AS BIGINT) AS num{k}" for k in range(1, LB_MAX_LAG + 1)
    )
    return f"""
    WITH daily AS (
      SELECT CAST(o_orderdate AS DATE) AS day,
             CAST(count(*) AS BIGINT) AS x
      FROM orders GROUP BY 1
    ), stat AS (
      SELECT CAST(count(*) AS BIGINT) AS n, CAST(sum(x) AS BIGINT) AS s
      FROM daily
    ), y AS (
      SELECT day, n * x - s AS y, n FROM daily, stat
    ), yl AS (
      SELECT y, n,
             {lead_cols}
      FROM y
    ), nums AS (
      SELECT max(n) AS n,
             CAST(sum(y * y) AS BIGINT) AS denom,
             {num_cols}
      FROM yl
    ), lags AS ({lag_rows}),
    rho AS (
      SELECT l.k, n.n, n.denom,
             CAST(CASE WHEN l.num < 0
               THEN -((2::HUGEINT * 1000000000 * (-l.num) + n.denom)
                      // (2::HUGEINT * n.denom))
               ELSE (2::HUGEINT * 1000000000 * l.num + n.denom)
                      // (2::HUGEINT * n.denom) END AS BIGINT) AS rho_u
      FROM lags l, nums n
    ), terms AS (
      SELECT k, n, rho_u,
             (2 * rho_u::HUGEINT * rho_u + (n - k)) // (2::HUGEINT * (n - k))
               AS term_u
      FROM rho
    ), cum AS (
      SELECT k, n, rho_u,
             CAST(sum(term_u) OVER (ORDER BY k) AS HUGEINT) AS cum_term
      FROM terms
    )
    SELECT k AS lag, n AS n_days,
           CAST(rho_u AS DOUBLE) / 1000000000.0 AS rho,
           {sql_round_big_int_ratio(
               'n::HUGEINT * (n + 2) * cum_term',
               '1000000000000000000::HUGEINT')} AS q_ljung_box
    FROM cum ORDER BY lag
    """


@register("stats_ljung_box_daily", oracle=_ljung_box_oracle())
def stats_ljung_box_daily(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Ljung-Box portmanteau statistic over the daily order-count
    series: autocorrelations rho_k for lags 1..7 and the cumulative
    Q(k) = n(n+2) * sum_{j<=k} rho_j^2/(n-j) — the standard whiteness
    diagnostic that turns the existing ACF machinery
    (``events_acf_daily_lags``) into a single test number per lag
    depth (large Q -> the series is not white noise; TPC-H order
    arrivals are near-uniform so Q stays small, a fixture-verified
    signature).

    Exactness: mean-centering is integer via n-scaling (y = n*x - S),
    so every autocovariance numerator and the variance denominator
    are exact int64 sums; rho quantizes to 1e-9 by exact half-up
    decimal division, the per-lag Q contribution rho_u^2/(n-k)
    likewise, and the cumulative Q is one decimal ratio per row. The
    ordered passes run on the calendar-day series (~2.4k rows) and
    the 7-row lag table — never on raw orders.
    """
    from ..functions.exact import round_big_int_ratio

    t = Tables(spark, sf_dir)
    daily = day_series(t, F.count(F.lit(1)).alias("x"))
    stat = daily.agg(F.count(F.lit(1)).alias("n"), F.sum("x").alias("s"))
    y = daily.crossJoin(F.broadcast(stat)).select(
        "day", (F.col("n") * F.col("x") - F.col("s")).alias("y"), "n"
    )
    w = Window.orderBy("day")
    num_aggs = [F.max("n").alias("n"), F.sum(F.col("y") * F.col("y")).alias("denom")]
    ycols = y.select(
        "y", "n", *[F.lead("y", k).over(w).alias(f"y{k}") for k in range(1, LB_MAX_LAG + 1)]
    )
    for k in range(1, LB_MAX_LAG + 1):
        num_aggs.append(F.sum(F.col("y") * F.col(f"y{k}")).alias(f"num{k}"))
    nums = ycols.agg(*num_aggs)
    lags = nums.select(
        "n",
        "denom",
        F.expr(
            "stack({}, {}) AS (k, num)".format(
                LB_MAX_LAG,
                ", ".join(f"{k}, num{k}" for k in range(1, LB_MAX_LAG + 1)),
            )
        ),
    )
    rho_a = F.lit(2 * 10**9).cast("decimal(38,0)") * F.abs(F.col("num")) + F.col("denom")
    rho_b = F.lit(2).cast("decimal(38,0)") * F.col("denom")
    rho_mag = ((rho_a - rho_a % rho_b) / rho_b).cast("long")
    rho = lags.select(
        "k",
        "n",
        F.when(F.col("num") < 0, -rho_mag).otherwise(rho_mag).alias("rho_u"),
    )
    t_a = F.lit(2).cast("decimal(38,0)") * F.col("rho_u") * F.col("rho_u") + (
        F.col("n") - F.col("k")
    )
    t_b = F.lit(2).cast("decimal(38,0)") * (F.col("n") - F.col("k"))
    terms = rho.select(
        "k", "n", "rho_u", ((t_a - t_a % t_b) / t_b).cast("long").alias("term_u")
    )
    w_k = Window.orderBy("k").rowsBetween(Window.unboundedPreceding, 0)
    cum = terms.select(
        "k", "n", "rho_u", F.sum(dec38(F.col("term_u"))).over(w_k).alias("cum_term")
    )
    return cum.select(
        F.col("k").alias("lag"),
        F.col("n").alias("n_days"),
        (F.col("rho_u").cast("double") / F.lit(1e9)).alias("rho"),
        round_big_int_ratio(
            dec38(F.col("n")) * (F.col("n") + 2) * F.col("cum_term"),
            F.lit(10**18).cast("decimal(38,0)"),
        ).alias("q_ljung_box"),
    ).orderBy("lag")


# ---------------------------------------------------------------------------
# Cucconi joint location-scale test (first vs second calendar half)
# ---------------------------------------------------------------------------


def _cucconi_oracle() -> str:
    from ..functions.exact import sql_round_big_int_ratio

    return f"""
    WITH {_SQL_DAILY_CENTS_IDX}
    , nn AS (SELECT CAST(count(*) AS HUGEINT) AS n FROM idx),
    lab AS (
      SELECT i.day, i.y, i.k, CASE WHEN i.k * 2 <= t.n THEN 0 ELSE 1 END AS grp
      FROM idx i, nn t
    ), rk AS (
      -- rank in the combined sample under the (value, day) total order
      SELECT a.day, a.grp,
             CAST(count(*) AS HUGEINT) AS r
      FROM lab a JOIN lab b
        ON (b.y < a.y) OR (b.y = a.y AND b.day <= a.day)
      GROUP BY a.day, a.grp
    ), uv AS (
      SELECT CAST(sum(CASE WHEN grp = 1 THEN r * r ELSE 0 END) AS HUGEINT) AS u,
             CAST(sum(CASE WHEN grp = 1
                           THEN ((SELECT n FROM nn) + 1 - r)
                              * ((SELECT n FROM nn) + 1 - r) ELSE 0 END)
                  AS HUGEINT) AS v,
             CAST(sum(CASE WHEN grp = 1 THEN 1 ELSE 0 END) AS HUGEINT) AS n2,
             CAST(sum(CASE WHEN grp = 0 THEN 1 ELSE 0 END) AS HUGEINT) AS m1
      FROM rk
    ), terms AS (
      SELECT u, v, n2, m1, (m1 + n2) AS nt,
             (2 * (m1 + n2) + 1) * (8 * (m1 + n2) + 11) AS q,
             2 * ((m1 + n2) * (m1 + n2) - 4)
               - (2 * (m1 + n2) + 1) * (8 * (m1 + n2) + 11) AS p,
             6 * u - n2 * ((m1 + n2) + 1) * (2 * (m1 + n2) + 1) AS a,
             6 * v - n2 * ((m1 + n2) + 1) * (2 * (m1 + n2) + 1) AS b
      FROM uv
    )
    SELECT CAST(nt AS BIGINT) AS n_days, CAST(m1 AS BIGINT) AS n_first,
           CAST(n2 AS BIGINT) AS n_second,
           CAST(u AS BIGINT) AS u_stat, CAST(v AS BIGINT) AS v_stat,
           CASE WHEN m1 > 0 AND n2 > 0 AND q*q - p*p > 0 THEN
             {sql_round_big_int_ratio(
                 '5::HUGEINT * (q * (a*a + b*b) - 2 * p * a * b)',
                 '2::HUGEINT * (q*q - p*p) * m1 * n2 * (nt + 1)')}
           END AS cucconi_c
    FROM terms
    """


@register("stats_cucconi_halves", oracle=_cucconi_oracle())
def stats_cucconi_halves(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Cucconi joint location-SCALE rank test between the first and
    second halves of the daily-revenue calendar — the two-sample test
    the family lacked: Mann-Whitney sees location only, Ansari-Bradley
    scale only; Cucconi's C = (U*^2 + V*^2 - 2 rho U* V*)/(2(1-rho^2))
    rejects when EITHER moved (and predates + outperforms the
    better-known Lepage combination, Marozzi 2013).

    Exactness: ranks come from the (value, day) lexicographic total
    order (deterministic under ties in both engines — documented tie
    policy, same convention as the rank tests in the family), U and V
    are exact integer rank-square sums, and C reduces to ONE half-up
    1e-6 ratio of exact decimal(38,0)/HUGEINT polynomials:
    C = 5(q(A^2+B^2) - 2pAB) / (2(q^2-p^2) m n (N+1)) with
    A = 6U - n(N+1)(2N+1), B the V twin, q = (2N+1)(8N+11),
    p = 2(N^2-4) - q — the whole standardization algebra cleared of
    square roots before any division happens.

    Scale shape: fact scan collapses to the ~2.4k-day table; the rank
    pass is the house bounded-domain non-equi self-join; everything
    after is 1-row algebra.
    """
    from ..functions.exact import round_big_int_ratio

    t = Tables(spark, sf_dir)
    idx = _daily_cents_idx(t)
    nn = idx.agg(F.max("k").alias("n"))
    lab = idx.crossJoin(F.broadcast(nn)).select(
        "day", "y", F.when(F.col("k") * 2 <= F.col("n"), 0).otherwise(1).alias("grp")
    )
    b = lab.select(
        F.col("day").alias("day_b"), F.col("y").alias("y_b")
    )
    rk = (
        lab.join(
            F.broadcast(b),
            (F.col("y_b") < F.col("y"))
            | ((F.col("y_b") == F.col("y")) & (F.col("day_b") <= F.col("day"))),
        )
        .groupBy("day", "grp")
        .agg(dec38(F.count(F.lit(1))).alias("r"))
    )
    tot = rk.agg(dec38(F.count(F.lit(1))).alias("nt"))
    uv = rk.crossJoin(F.broadcast(tot)).agg(
        F.sum(
            F.when(F.col("grp") == 1, F.col("r") * F.col("r")).otherwise(F.lit(0))
        ).alias("u"),
        F.sum(
            F.when(
                F.col("grp") == 1,
                (F.col("nt") + 1 - F.col("r")) * (F.col("nt") + 1 - F.col("r")),
            ).otherwise(F.lit(0))
        ).alias("v"),
        F.sum(F.when(F.col("grp") == 1, 1).otherwise(0)).cast("long").alias("n2"),
        F.sum(F.when(F.col("grp") == 0, 1).otherwise(0)).cast("long").alias("m1"),
    )
    nt = dec38(F.col("m1")) + F.col("n2")
    q = (2 * nt + 1) * (8 * nt + 11)
    p = 2 * (nt * nt - 4) - q
    a = 6 * F.col("u") - dec38(F.col("n2")) * (nt + 1) * (2 * nt + 1)
    bb = 6 * F.col("v") - dec38(F.col("n2")) * (nt + 1) * (2 * nt + 1)
    return uv.select(
        nt.cast("long").alias("n_days"),
        F.col("m1").alias("n_first"),
        F.col("n2").alias("n_second"),
        F.col("u").cast("long").alias("u_stat"),
        F.col("v").cast("long").alias("v_stat"),
        F.when(
            (F.col("m1") > 0) & (F.col("n2") > 0) & (q * q - p * p > 0),
            round_big_int_ratio(
                F.lit(5).cast("decimal(38,0)")
                * (q * (a * a + bb * bb) - 2 * p * a * bb),
                F.lit(2).cast("decimal(38,0)")
                * (q * q - p * p)
                * F.col("m1")
                * F.col("n2")
                * (nt + 1),
            ),
        ).alias("cucconi_c"),
    )


# ---------------------------------------------------------------------------
# Seasonal Mann-Kendall (per-ISO-weekday strata, combined z)
# ---------------------------------------------------------------------------


def _smk_oracle() -> str:
    return """
    WITH daily AS (
      SELECT CAST(o_orderdate AS DATE) AS day,
             CAST(isodow(CAST(o_orderdate AS DATE)) AS BIGINT) AS dow,
             CAST(count(*) AS BIGINT) AS x
      FROM orders GROUP BY 1, 2
    ), ncnt AS (
      SELECT dow, CAST(count(*) AS BIGINT) AS n FROM daily GROUP BY dow
    ), per AS (
      SELECT a.dow,
             CAST(sum(CASE WHEN b.x > a.x THEN 1
                           WHEN b.x < a.x THEN -1 ELSE 0 END) AS BIGINT) AS s_mk
      FROM daily a JOIN daily b ON a.dow = b.dow AND a.day < b.day
      GROUP BY a.dow
    ), ties AS (
      SELECT dow, CAST(coalesce(sum(t * (t - 1) * (2 * t + 5)), 0) AS BIGINT) AS tie18
      FROM (SELECT dow, CAST(count(*) AS BIGINT) AS t FROM daily GROUP BY dow, x)
      WHERE t > 1 GROUP BY dow
    ), strata AS (
      SELECT c.dow, c.n, coalesce(p.s_mk, 0) AS s_mk,
             c.n * (c.n - 1) * (2 * c.n + 5) - coalesce(t.tie18, 0) AS v18
      FROM ncnt c
      LEFT JOIN per p ON p.dow = c.dow
      LEFT JOIN ties t ON t.dow = c.dow
    ), rows_out AS (
      SELECT dow, n, s_mk, v18 FROM strata
      UNION ALL
      SELECT -1 AS dow, CAST(sum(n) AS BIGINT), CAST(sum(s_mk) AS BIGINT),
             CAST(sum(v18) AS BIGINT)
      FROM strata
    )
    SELECT dow, n AS n_days, s_mk, v18 AS var_s_x18,
           CASE WHEN v18 > 0 THEN
             CAST(floor((CASE WHEN s_mk > 0 THEN CAST(s_mk - 1 AS DOUBLE)
                              WHEN s_mk < 0 THEN CAST(s_mk + 1 AS DOUBLE)
                              ELSE 0.0::DOUBLE END)
                        / sqrt(CAST(v18 AS DOUBLE) / 18.0::DOUBLE)
                        * 1000000.0 + 0.5) AS BIGINT) / 1000000.0
           END AS z_mk
    FROM rows_out ORDER BY dow
    """


@register("stats_seasonal_mann_kendall", oracle=_smk_oracle())
def stats_seasonal_mann_kendall(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Seasonal Mann-Kendall trend test (Hirsch-Slack): the MK S
    statistic computed WITHIN each ISO-weekday stratum of the daily
    order-count series, then combined as S* = sum S_d, Var* = sum
    Var_d (dow = -1 row) — the trend test that cannot be fooled by the
    weekly cycle, which inflates plain MK's variance and masks real
    drift (``stats_mann_kendall_daily`` is the unstratified sibling;
    its docstring's z formula is reused verbatim per stratum and for
    the combination, the shared-derivation rule).

    Exactness: identical to the MK op — S and the tie-corrected
    variance (x18 integer units) are exact int64 per stratum and sum
    exactly for the combined row; the one sqrt+divide runs on exact
    integers with the identical continuity-corrected expression in
    both engines.

    Scale shape: the pairwise pass is dow-blocked (7 independent
    ~343-row self-joins on the post-aggregation day table, ~1/7 the
    pairs of the unstratified test), everything bounded by calendar.
    """
    t = Tables(spark, sf_dir)
    daily = day_series(t, F.count(F.lit(1)).cast("long").alias("x"), by_dow=True)
    b = daily.select(
        F.col("dow").alias("dow_b"), F.col("day").alias("day_b"), F.col("x").alias("x_b")
    )
    per = (
        daily.join(
            F.broadcast(b),
            (F.col("dow_b") == F.col("dow")) & (F.col("day") < F.col("day_b")),
        )
        .groupBy("dow")
        .agg(
            F.sum(
                F.when(F.col("x_b") > F.col("x"), 1)
                .when(F.col("x_b") < F.col("x"), -1)
                .otherwise(0)
            )
            .cast("long")
            .alias("s_mk"),
        )
    )
    # n per stratum must count ALL its days (the last day sources no
    # pair), so recount from daily, not from the pair join
    ncnt = daily.groupBy("dow").agg(F.countDistinct("day").cast("long").alias("n"))
    ties = (
        daily.groupBy("dow", "x")
        .agg(F.count(F.lit(1)).cast("long").alias("t"))
        .filter(F.col("t") > 1)
        .groupBy("dow")
        .agg(
            F.sum(F.col("t") * (F.col("t") - 1) * (2 * F.col("t") + 5))
            .cast("long")
            .alias("tie18")
        )
    )
    strata = (
        ncnt.join(per.select("dow", "s_mk"), "dow", "left")
        .join(ties, "dow", "left")
        .select(
            "dow",
            "n",
            F.coalesce(F.col("s_mk"), F.lit(0)).cast("long").alias("s_mk"),
            (
                F.col("n") * (F.col("n") - 1) * (2 * F.col("n") + 5)
                - F.coalesce(F.col("tie18"), F.lit(0))
            )
            .cast("long")
            .alias("v18"),
        )
    )
    combined = strata.agg(
        F.lit(-1).cast("long").alias("dow"),
        F.sum("n").cast("long").alias("n"),
        F.sum("s_mk").cast("long").alias("s_mk"),
        F.sum("v18").cast("long").alias("v18"),
    )
    rows_out = strata.unionByName(combined)
    cc = (
        F.when(F.col("s_mk") > 0, (F.col("s_mk") - 1).cast("double"))
        .when(F.col("s_mk") < 0, (F.col("s_mk") + 1).cast("double"))
        .otherwise(F.lit(0.0))
    )
    z = F.floor(
        cc / F.sqrt(F.col("v18").cast("double") / F.lit(18.0)) * 1e6 + F.lit(0.5)
    ).cast("long") / F.lit(1e6)
    return rows_out.select(
        "dow",
        F.col("n").alias("n_days"),
        "s_mk",
        F.col("v18").alias("var_s_x18"),
        F.when(F.col("v18") > 0, z).alias("z_mk"),
    ).orderBy("dow")


# ---------------------------------------------------------------------------
# Breusch–Pagan heteroscedasticity test on the daily OLS residuals
# ---------------------------------------------------------------------------


def _bp_oracle() -> str:
    hd = sql_halfup_div
    return f"""
    WITH {_SQL_BP_RESID_CTES}, s2 AS (
      SELECT CAST(count(*) AS HUGEINT) AS n,
             CAST(sum(k) AS HUGEINT) AS sk,
             CAST(sum(u * u) AS HUGEINT) AS sz,
             CAST(sum(k * u * u) AS HUGEINT) AS skz,
             CAST(sum(u * u * u * u) AS HUGEINT) AS szz
      FROM resid
    ), parts AS (
      SELECT s2.n, c.d, c.b,
             (s2.n * s2.skz - s2.sk * s2.sz) AS cc,
             (s2.n * s2.szz - s2.sz * s2.sz) AS vz
      FROM s2, coef c
    ), q AS (
      SELECT n, d, b, cc, vz,
             {hd('1000000000::HUGEINT * cc', 'd')} AS q1
      FROM parts
    )
    SELECT CAST(n AS BIGINT) AS n_days,
           CAST({hd('1000000::HUGEINT * b', 'd')} AS BIGINT) AS ols_slope_micro,
           CASE WHEN vz > 0 THEN
             CAST({hd('q1 * cc', '1000::HUGEINT * vz')} AS BIGINT)
           END AS bp_r2_micro,
           CASE WHEN vz > 0 THEN
             CAST(n * {hd('q1 * cc', '1000::HUGEINT * vz')} AS BIGINT)
           END AS bp_lm_micro
    FROM q
    """


@register("stats_breusch_pagan_daily", oracle=_bp_oracle())
def stats_breusch_pagan_daily(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Breusch–Pagan heteroscedasticity test on the daily order-count
    OLS trend fit: regress the squared residuals on the day index and
    report R^2 of that auxiliary regression plus the LM statistic
    n*R^2 (chi-square, df=1 under homoscedasticity). Completes the
    residual-diagnostic suite — ``stats_durbin_watson_daily`` tests
    residual autocorrelation, ``stats_chow_test_break`` a structural
    break, this tests variance drift over time: a significant LM means
    every OLS confidence interval on the series trend is mis-scaled
    and robust (HC) errors or WLS are required.

    Exactness: residuals are exact rationals R_k/(nD) with integer
    numerator R_k = nD y_k - D Sy + B Sk - nB k (D = n*Skk - Sk^2,
    B = n*Sky - Sk*Sy), quantized ONCE at centi resolution
    (``BP_RES_SCALE`` — per-value error < 1e-3 relative at fixture
    scales, anchored in the replica); the auxiliary R^2 =
    C^2/(D*Vz) is evaluated as the STAGED half-up product
    (1e9 C / D) * C / (1e3 Vz) because the direct 1e6*C^2 numerator
    exceeds decimal(38,0) at the x10 replica's residual scale — both
    engines run the identical two-step rounding, and the replica pins
    the staged value against the float formula.

    Scale shape: one fact scan to the ~2.4k-day table, the calendar-
    bounded <=-rank self-join, then two 5-number sufficient-sum
    aggregates — nothing downstream scales with data.
    """
    t = Tables(spark, sf_dir)
    coef = _bp_coef(t)
    resid = _bp_resid(t)
    z = F.col("u") * F.col("u")
    s2 = resid.agg(
        dec38(F.count(F.lit(1))).alias("n"),
        F.sum("k").alias("sk"),
        F.sum(z).alias("sz"),
        F.sum(F.col("k") * z).alias("skz"),
        F.sum(z * z).alias("szz"),
    )
    parts = s2.crossJoin(F.broadcast(coef.select("d", "b"))).select(
        "n",
        "d",
        "b",
        (F.col("n") * F.col("skz") - F.col("sk") * F.col("sz")).alias("cc"),
        (F.col("n") * F.col("szz") - F.col("sz") * F.col("sz")).alias("vz"),
    )
    q1 = halfup_div(F.lit(10**9).cast("decimal(38,0)") * F.col("cc"), F.col("d"))
    r2 = halfup_div(q1 * F.col("cc"), F.lit(1000).cast("decimal(38,0)") * F.col("vz"))
    return parts.select(
        F.col("n").cast("long").alias("n_days"),
        halfup_div(F.lit(1_000_000).cast("decimal(38,0)") * F.col("b"), F.col("d"))
        .cast("long")
        .alias("ols_slope_micro"),
        F.when(F.col("vz") > 0, r2).cast("long").alias("bp_r2_micro"),
        F.when(F.col("vz") > 0, F.col("n") * r2).cast("long").alias("bp_lm_micro"),
    )


# ---------------------------------------------------------------------------
# Jarque-Bera normality of the daily order counts
# ---------------------------------------------------------------------------


def _jb_oracle() -> str:
    return """
    WITH daily AS (
      SELECT CAST(o_orderdate AS DATE) AS day, CAST(count(*) AS BIGINT) AS y
      FROM orders GROUP BY 1
    ), s1 AS (
      SELECT CAST(count(*) AS HUGEINT) AS n, CAST(sum(y) AS HUGEINT) AS sy
      FROM daily
    ), piv AS (
      SELECT n, sy,
             (CASE WHEN sy < 0 THEN -((2*abs(sy) + n) // (2*n))
                   ELSE ((2*sy + n) // (2*n)) END) AS m
      FROM s1
    ), d AS (
      SELECT p.n, p.sy, p.m,
             CAST(sum((y - m) * (y - m)) AS HUGEINT) AS s2,
             CAST(sum((y - m) * (y - m) * (y - m)) AS HUGEINT) AS s3,
             CAST(sum((y - m) * (y - m) * (y - m) * (y - m)) AS HUGEINT) AS s4
      FROM daily, piv p
      GROUP BY p.n, p.sy, p.m
    ), mom AS (
      SELECT CAST(n AS BIGINT) AS n_days,
             CAST(n AS DOUBLE) AS nd,
             CAST(sy - n * m AS DOUBLE) / CAST(n AS DOUBLE) AS del,
             CAST(s2 AS DOUBLE) / CAST(n AS DOUBLE) AS r2,
             CAST(s3 AS DOUBLE) / CAST(n AS DOUBLE) AS r3,
             CAST(s4 AS DOUBLE) / CAST(n AS DOUBLE) AS r4
      FROM d
    ), cm AS (
      SELECT n_days, nd,
             r2 - del * del AS mu2,
             r3 - 3.0::DOUBLE * del * r2 + 2.0::DOUBLE * del * del * del AS mu3,
             r4 - 4.0::DOUBLE * del * r3 + 6.0::DOUBLE * del * del * r2
                - 3.0::DOUBLE * del * del * del * del AS mu4
      FROM mom
    ), sk AS (
      SELECT n_days, nd,
             mu3 / (sqrt(mu2) * mu2) AS s,
             mu4 / (mu2 * mu2) - 3.0::DOUBLE AS k
      FROM cm WHERE mu2 > 0
    )
    SELECT n_days,
           CAST(floor(s * 1000000.0::DOUBLE + 0.5) AS BIGINT) AS skew_micro,
           CAST(floor(k * 1000000.0::DOUBLE + 0.5) AS BIGINT) AS ex_kurt_micro,
           CAST(floor((nd / 6.0::DOUBLE) * (s * s + (k * k) / 4.0::DOUBLE)
                      * 1000000.0::DOUBLE + 0.5) AS BIGINT) AS jb_micro
    FROM sk
    """


@register("stats_jarque_bera_daily", oracle=_jb_oracle())
def stats_jarque_bera_daily(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Jarque-Bera normality test (1980) on the daily order-count
    series: JB = n/6 * (S^2 + K^2/4) from sample skewness S and
    excess kurtosis K. The randomness shelf
    (runs/turning-points/Bartels) asks whether the series is
    exchangeable; JB asks whether its MARGINAL is Gaussian — the
    gate before any z-scored control chart or sigma-threshold
    anomaly rule on daily volumes is trusted.

    Exactness: moments pivot at the half-up integer mean m so the
    deviation power sums (d^2, d^3, d^4) stay exact
    HUGEINT/decimal(38,0) at any realistic scale (raw fourth powers
    of 1e9-count days would overflow decimal38 — the Bland-Altman
    overflow lesson applied at design time); the exact sums cast once
    to double and the central-moment/JB assembly is the identical
    IEEE expression on both engines, quantized once at micro.

    Scale shape: one fact scan partial-aggregates to the bounded
    calendar-day table; two scalar aggregates (pivot, then deviation
    sums); constant-size algebra after. 1 row out.
    """
    t = Tables(spark, sf_dir)
    daily = day_series(t, F.count(F.lit(1)).cast("long").alias("y"))
    s1 = daily.agg(
        dec38(F.count(F.lit(1))).alias("n"), F.sum(dec38(F.col("y"))).alias("sy")
    )
    piv = s1.select(
        "n", "sy", halfup_div(F.col("sy"), F.col("n")).alias("m")
    )
    d = (
        daily.crossJoin(F.broadcast(piv))
        .select(
            "n",
            "sy",
            "m",
            (dec38(F.col("y")) - F.col("m")).alias("dv"),
        )
        .groupBy("n", "sy", "m")
        .agg(
            F.sum(F.col("dv") * F.col("dv")).alias("s2"),
            F.sum(F.col("dv") * F.col("dv") * F.col("dv")).alias("s3"),
            F.sum(F.col("dv") * F.col("dv") * F.col("dv") * F.col("dv")).alias("s4"),
        )
    )
    nd = F.col("n").cast("double")
    delta = (F.col("sy") - F.col("n") * F.col("m")).cast("double") / nd
    r2 = F.col("s2").cast("double") / nd
    r3 = F.col("s3").cast("double") / nd
    r4 = F.col("s4").cast("double") / nd
    mu2 = r2 - delta * delta
    mu3 = r3 - F.lit(3.0) * delta * r2 + F.lit(2.0) * delta * delta * delta
    mu4 = (
        r4
        - F.lit(4.0) * delta * r3
        + F.lit(6.0) * delta * delta * r2
        - F.lit(3.0) * delta * delta * delta * delta
    )
    s = mu3 / (F.sqrt(mu2) * mu2)
    k = mu4 / (mu2 * mu2) - F.lit(3.0)
    q6 = lambda c: F.floor(c * F.lit(1e6) + F.lit(0.5)).cast("long")  # noqa: E731
    return d.where(mu2 > 0).select(
        F.col("n").cast("long").alias("n_days"),
        q6(s).alias("skew_micro"),
        q6(k).alias("ex_kurt_micro"),
        q6((nd / F.lit(6.0)) * (s * s + (k * k) / F.lit(4.0))).alias("jb_micro"),
    )


# ---------------------------------------------------------------------------
# Chatterjee's xi: serial dependence of the daily order counts
# ---------------------------------------------------------------------------


def _xi_oracle() -> str:
    hd = sql_halfup_div
    return f"""
    WITH {_SQL_DAILY_COUNTS_IDX.strip()}
    , vals AS (
      SELECT y, CAST(count(*) AS HUGEINT) AS cnt FROM idx GROUP BY y
    ), cumv AS (
      SELECT a.y, a.cnt,
             CAST(coalesce(sum(b.cnt), 0) AS HUGEINT) AS cum
      FROM vals a LEFT JOIN vals b ON b.y < a.y
      GROUP BY a.y, a.cnt
    ), rk AS (
      SELECT i.k, (c.cum + c.cnt) AS r, c.cnt, c.cum
      FROM idx i JOIN cumv c ON c.y = i.y
    ), nn AS (
      SELECT CAST(count(*) AS HUGEINT) AS n FROM rk
    ), snum AS (
      SELECT CAST(sum(abs(a.r - b.r)) AS HUGEINT) AS s
      FROM rk a JOIN rk b ON b.k = a.k + 1
    ), dden AS (
      SELECT CAST(sum(c.cnt * (n.n - c.cum) * (n.n - (n.n - c.cum)))
                  AS HUGEINT) AS dd
      FROM cumv c, nn n
    )
    SELECT CAST(n.n AS BIGINT) AS n_days,
           CAST(s.s AS BIGINT) AS sum_abs_rank_diff,
           CASE WHEN d.dd > 0 THEN
             CAST(1000000 - {hd('1000000::HUGEINT * n.n * s.s', '2 * d.dd')}
                  AS BIGINT)
           END AS xi_micro
    FROM nn n, snum s, dden d
    """


@register("stats_chatterjee_xi_daily", oracle=_xi_oracle())
def stats_chatterjee_xi_daily(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Chatterjee's xi coefficient (Chatterjee 2020, JASA) measuring
    how well the NEXT day's order count is a function of the day
    index — i.e. rank-based serial dependence of the daily series,
    in the ties-robust form xi = 1 - n * sum|r_{i+1} - r_i| /
    (2 * sum l_i (n - l_i)) with r_i = #{y_j <= y_i} and
    l_i = #{y_j >= y_i}. Unlike the correlation shelf
    (Spearman/Kendall measure MONOTONE association), xi converges to
    a measure that is 0 iff independent and 1 iff y is a measurable
    FUNCTION of the ordering — it detects periodic and V-shaped
    structure the rank correlations score as zero.

    Exactness: ranks come off the bounded distinct-count-value grid
    (the Bartels midrank construction, here with plain <= ranks);
    the numerator is an exact integer sum over the +1 calendar lag
    join; the denominator is exact off the same grid; ONE half-up
    micro division total, with the complement taken in exact integers.

    Scale shape: calendar-bounded — one fact scan partial-aggregates
    to daily counts; one value-grid cumulative (single-partition
    allowlist class, entry landed in this same commit), one lag
    join, two scalar aggregates. 1 row out.
    """
    t = Tables(spark, sf_dir)
    idx = _daily_counts_idx(t)
    vals = idx.groupBy("y").agg(dec38(F.count(F.lit(1))).alias("cnt"))
    wv = Window.orderBy("y").rowsBetween(Window.unboundedPreceding, -1)
    cumv = vals.select(
        "y",
        "cnt",
        F.coalesce(F.sum("cnt").over(wv), F.lit(0).cast("decimal(38,0)")).alias("cum"),
    )
    rk = idx.join(F.broadcast(cumv), "y").select(
        "k", (F.col("cum") + F.col("cnt")).alias("r")
    )
    nn = rk.agg(dec38(F.count(F.lit(1))).alias("n"))
    b = rk.select(F.col("k").alias("kb"), F.col("r").alias("rb"))
    snum = rk.join(b, F.col("kb") == F.col("k") + 1).agg(
        F.sum(F.abs(F.col("r") - F.col("rb"))).alias("s")
    )
    dden = cumv.crossJoin(F.broadcast(nn)).agg(
        F.sum(
            F.col("cnt") * (F.col("n") - F.col("cum")) * (F.col("n") - (F.col("n") - F.col("cum")))
        ).alias("dd")
    )
    m6 = F.lit(1_000_000).cast("decimal(38,0)")
    return (
        nn.crossJoin(F.broadcast(snum))
        .crossJoin(F.broadcast(dden))
        .select(
            F.col("n").cast("long").alias("n_days"),
            F.col("s").cast("long").alias("sum_abs_rank_diff"),
            F.when(
                F.col("dd") > 0,
                (
                    F.lit(1_000_000)
                    - halfup_div(
                        m6 * F.col("n") * F.col("s"),
                        F.lit(2).cast("decimal(38,0)") * F.col("dd"),
                    )
                ).cast("long"),
            ).alias("xi_micro"),
        )
    )


# ---------------------------------------------------------------------------
# Mann-Kendall trend test on the daily order-count series
# ---------------------------------------------------------------------------


def _mann_kendall_oracle() -> str:
    return """
    WITH daily AS (
      SELECT CAST(o_orderdate AS DATE) AS day,
             CAST(count(*) AS BIGINT) AS x
      FROM orders GROUP BY 1
    ), s AS (
      SELECT CAST(sum(CASE WHEN b.x > a.x THEN 1
                           WHEN b.x < a.x THEN -1 ELSE 0 END) AS BIGINT) AS s_mk
      FROM daily a JOIN daily b ON a.day < b.day
    ), nn AS (SELECT CAST(count(*) AS BIGINT) AS n FROM daily),
    ties AS (
      SELECT CAST(coalesce(sum(t * (t - 1) * (2 * t + 5)), 0) AS BIGINT) AS tie18
      FROM (SELECT CAST(count(*) AS BIGINT) AS t FROM daily GROUP BY x)
      WHERE t > 1
    ), var18 AS (
      SELECT n, s_mk, tie18,
             n * (n - 1) * (2 * n + 5) - tie18 AS v18
      FROM s, nn, ties
    )
    SELECT n AS n_days, s_mk, v18 AS var_s_x18,
           CASE WHEN v18 > 0 THEN
             CAST(floor((CASE WHEN s_mk > 0 THEN CAST(s_mk - 1 AS DOUBLE)
                              WHEN s_mk < 0 THEN CAST(s_mk + 1 AS DOUBLE)
                              ELSE 0.0::DOUBLE END)
                        / sqrt(CAST(v18 AS DOUBLE) / 18.0::DOUBLE)
                        * 1000000.0 + 0.5) AS BIGINT) / 1000000.0
           END AS z_mk
    FROM var18
    """


@register("stats_mann_kendall_daily", oracle=_mann_kendall_oracle())
def stats_mann_kendall_daily(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Mann-Kendall monotone-trend test on the daily order-count
    series: S = sum over day pairs i<j of sign(x_j - x_i), the
    tie-corrected variance (x18 exact integer units), and the
    continuity-corrected normal z — the RANK trend test beside the
    Theil-Sen slope (``stats_theil_sen_trend`` estimates the slope;
    MK tests its existence — the pair every trend toolbox ships).

    The pairwise pass joins the POST-AGGREGATION calendar-day series
    to itself (~2.4k rows at any corpus size — the same bounded-domain
    self-join class as Theil-Sen); the fact scan collapses to days
    map-side first. S, the tie term, and 18*Var(S) are exact int64;
    the single sqrt+divide runs on exact integers with an identical
    expression chain in both engines, quantized half-up 1e-6.
    """
    t = Tables(spark, sf_dir)
    daily = day_series(t, F.count(F.lit(1)).alias("x"))
    a = daily.select(F.col("day").alias("da"), F.col("x").alias("xa"))
    b = daily.select(F.col("day").alias("db"), F.col("x").alias("xb"))
    s = a.join(b, F.col("da") < F.col("db")).agg(
        F.sum(
            F.when(F.col("xb") > F.col("xa"), 1)
            .when(F.col("xb") < F.col("xa"), -1)
            .otherwise(0)
        ).alias("s_mk")
    )
    nn = daily.agg(F.count(F.lit(1)).alias("n"))
    ties = (
        daily.groupBy("x")
        .agg(F.count(F.lit(1)).alias("t"))
        .filter(F.col("t") > 1)
        .agg(
            F.coalesce(
                F.sum(F.col("t") * (F.col("t") - 1) * (2 * F.col("t") + 5)), F.lit(0)
            ).alias("tie18")
        )
    )
    v = (
        s.crossJoin(F.broadcast(nn))
        .crossJoin(F.broadcast(ties))
        .select(
            "n",
            "s_mk",
            (
                F.col("n") * (F.col("n") - 1) * (2 * F.col("n") + 5) - F.col("tie18")
            ).alias("v18"),
        )
    )
    num = (
        F.when(F.col("s_mk") > 0, (F.col("s_mk") - 1).cast("double"))
        .when(F.col("s_mk") < 0, (F.col("s_mk") + 1).cast("double"))
        .otherwise(F.lit(0.0))
    )
    z = num / F.sqrt(F.col("v18").cast("double") / F.lit(18.0))
    return v.select(
        F.col("n").alias("n_days"),
        "s_mk",
        F.col("v18").alias("var_s_x18"),
        F.when(
            F.col("v18") > 0,
            F.floor(z * F.lit(1000000.0) + F.lit(0.5)).cast("long") / F.lit(1e6),
        ).alias("z_mk"),
    )


# ---------------------------------------------------------------------------
# Variance-ratio random-walk test on the daily order series
# ---------------------------------------------------------------------------

VR_Q = 5


def _vr_oracle() -> str:
    from ..functions.exact import sql_round_big_int_ratio

    q = VR_Q
    return f"""
    WITH daily AS (
      SELECT CAST(o_orderdate AS DATE) AS day,
             CAST(count(*) AS BIGINT) AS x
      FROM orders GROUP BY 1
    ), d1 AS (
      SELECT a.x - b.x AS d FROM daily a JOIN daily b ON b.day = a.day - 1
    ), dq AS (
      SELECT a.x - b.x AS s FROM daily a JOIN daily b ON b.day = a.day - {q}
    ), m1 AS (
      SELECT CAST(count(*) AS BIGINT) AS n1,
             CAST(sum(d) AS BIGINT) AS sd,
             CAST(sum(d::HUGEINT * d) AS HUGEINT) AS sdd
      FROM d1
    ), mq AS (
      SELECT CAST(count(*) AS BIGINT) AS nq,
             CAST(sum(s) AS BIGINT) AS ss,
             CAST(sum(s::HUGEINT * s) AS HUGEINT) AS ssq
      FROM dq
    )
    SELECT CAST({q} AS BIGINT) AS q, m1.n1 AS n_diff, mq.nq AS n_qdiff,
           CASE WHEN m1.n1 > 0 AND mq.nq > 0
                     AND m1.n1 * m1.sdd - m1.sd::HUGEINT * m1.sd > 0 THEN
             {sql_round_big_int_ratio(
                 'm1.n1::HUGEINT * m1.n1 * (mq.nq * mq.ssq - mq.ss::HUGEINT * mq.ss)',
                 f'{q}::HUGEINT * mq.nq * mq.nq'
                 ' * (m1.n1 * m1.sdd - m1.sd::HUGEINT * m1.sd)')}
           END AS variance_ratio
    FROM m1, mq
    """


@register("events_variance_ratio_test", oracle=_vr_oracle())
def events_variance_ratio_test(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Lo-MacKinlay variance-ratio test on the daily order-count
    series: VR(q) = Var(q-day change) / (q * Var(1-day change)) — 1
    under a random walk, < 1 under mean reversion, > 1 under trend
    persistence; the random-walk diagnostic the trend family (Mann-
    Kendall, runs test, ACF) reads qualitatively, here as ONE exact
    statistic.

    Both difference series come from calendar equi-joins (day = day -
    lag) on the POST-AGGREGATION daily table — no window at all, so
    no global ordered stage exists anywhere in the plan; a calendar
    gap simply drops that pair on BOTH engines identically. Integer
    daily counts make both variances exact big-integer forms, and
    VR is a single half-up big-ratio.
    """
    from ..functions.exact import round_big_int_ratio

    q = VR_Q
    t = Tables(spark, sf_dir)
    daily = day_series(t, F.count(F.lit(1)).alias("x"))
    a1 = daily.select(F.col("day").alias("day_a"), F.col("x").alias("x_a"))
    d1 = a1.join(
        daily.select(F.col("day").alias("day_b"), F.col("x").alias("x_b")),
        F.col("day_b") == F.date_sub(F.col("day_a"), 1),
    ).select((F.col("x_a") - F.col("x_b")).alias("d"))
    dq = a1.join(
        daily.select(F.col("day").alias("day_b"), F.col("x").alias("x_b")),
        F.col("day_b") == F.date_sub(F.col("day_a"), q),
    ).select((F.col("x_a") - F.col("x_b")).alias("s"))
    m1 = d1.agg(
        F.count(F.lit(1)).alias("n1"),
        F.sum("d").alias("sd"),
        F.sum(dec38(F.col("d")) * F.col("d")).alias("sdd"),
    )
    mq = dq.agg(
        F.count(F.lit(1)).alias("nq"),
        F.sum("s").alias("ss"),
        F.sum(dec38(F.col("s")) * F.col("s")).alias("ssq"),
    )
    out = m1.crossJoin(F.broadcast(mq))
    num = (
        dec38(F.col("n1"))
        * F.col("n1")
        * (dec38(F.col("nq")) * F.col("ssq") - dec38(F.col("ss")) * F.col("ss"))
    )
    den = (
        F.lit(q).cast("decimal(38,0)")
        * F.col("nq")
        * F.col("nq")
        * (dec38(F.col("n1")) * F.col("sdd") - dec38(F.col("sd")) * F.col("sd"))
    )
    return out.select(
        F.lit(q).cast("long").alias("q"),
        F.col("n1").alias("n_diff"),
        F.col("nq").alias("n_qdiff"),
        F.when(
            (F.col("n1") > 0)
            & (F.col("nq") > 0)
            & (dec38(F.col("n1")) * F.col("sdd") - dec38(F.col("sd")) * F.col("sd") > 0),
            round_big_int_ratio(num, den),
        ).alias("variance_ratio"),
    )


# ---------------------------------------------------------------------------
# Difference-sign (up/down) runs test on the daily series
# ---------------------------------------------------------------------------


def _updown_oracle() -> str:
    return """
    WITH daily AS (
      SELECT CAST(o_orderdate AS DATE) AS day,
             CAST(count(*) AS BIGINT) AS x
      FROM orders GROUP BY 1
    ), idx AS (
      SELECT a.day, a.x, CAST(count(*) AS BIGINT) AS k
      FROM daily a JOIN daily b ON b.day <= a.day
      GROUP BY a.day, a.x
    ), d AS (
      SELECT a.k,
             CASE WHEN a.x > b.x THEN 1 WHEN a.x < b.x THEN -1 ELSE 0 END AS sgn
      FROM idx a JOIN idx b ON b.k = a.k - 1
    ), pairs AS (
      SELECT CAST(count(*) AS BIGINT) AS n_pairs,
             CAST(sum(CASE WHEN a.sgn <> b.sgn THEN 1 ELSE 0 END) AS BIGINT)
               AS n_changes
      FROM d a JOIN d b ON b.k = a.k - 1
    ), nn AS (SELECT CAST(count(*) AS BIGINT) AS n FROM d)
    SELECT nn.n AS n_diffs, p.n_pairs, p.n_changes + 1 AS n_runs,
           CASE WHEN 16 * nn.n - 29 > 0 THEN
             CAST(floor(CAST(3 * (p.n_changes + 1) - (2 * nn.n - 1) AS DOUBLE)
                        * sqrt(10.0::DOUBLE)
                        / (sqrt(CAST(16 * nn.n - 29 AS DOUBLE))
                           * sqrt(9.0::DOUBLE))
                        * 1000000.0 + 0.5) AS BIGINT) / 1000000.0
           END AS z_updown
    FROM nn, pairs p
    """


@register("stats_runs_up_down_daily", oracle=_updown_oracle())
def stats_runs_up_down_daily(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Difference-sign (up/down) runs test on the daily order-count
    series: count maximal runs of rising/falling days and compare to
    the randomness expectation E[R] = (2n-1)/3, Var[R] = (16n-29)/90
    — the SERIAL-dependence randomness test complementing
    ``events_runs_test_daily`` (that one tests runs above/below the
    median, i.e. LEVEL clustering; this one tests the signs of the
    DIFFERENCES, i.e. local monotonicity — a sawtooth passes the
    median test and fails this one).

    Adjacency is by RANK in the observed day sequence (a day-index
    from a broadcast non-equi self-join over the ~2.4k-row
    POST-AGGREGATION calendar table — no window), so calendar gaps do
    not silently shrink the pair set and the classical E/Var formulas
    stay calibrated against the n actually counted. Ties (d=0) keep
    sign 0 and count as changes against either direction, identical
    on both engines by construction; only the final z runs in double
    (identical expression order), quantized 1e-6.
    """
    t = Tables(spark, sf_dir)
    idx = _daily_counts_idx_long(t, y="x")
    a = idx.select(F.col("k").alias("k_a"), F.col("x").alias("x_a"))
    d = a.join(
        idx.select(F.col("k").alias("k_b"), F.col("x").alias("x_b")),
        F.col("k_b") == F.col("k_a") - 1,
    ).select(
        F.col("k_a").alias("k"),
        F.when(F.col("x_a") > F.col("x_b"), 1)
        .when(F.col("x_a") < F.col("x_b"), -1)
        .otherwise(0)
        .alias("sgn"),
    )
    d1 = d.select(F.col("k").alias("k_a"), F.col("sgn").alias("sgn_a"))
    pairs = d1.join(
        d.select(F.col("k").alias("k_b"), F.col("sgn").alias("sgn_b")),
        F.col("k_b") == F.col("k_a") - 1,
    ).agg(
        F.count(F.lit(1)).alias("n_pairs"),
        F.sum(F.when(F.col("sgn_a") != F.col("sgn_b"), 1).otherwise(0)).alias(
            "n_changes"
        ),
    )
    nn = d.agg(F.count(F.lit(1)).alias("n"))
    out = nn.crossJoin(F.broadcast(pairs))
    z = (
        (3 * (F.col("n_changes") + 1) - (2 * F.col("n") - 1)).cast("double")
        * F.sqrt(F.lit(10.0))
        / (F.sqrt((16 * F.col("n") - 29).cast("double")) * F.sqrt(F.lit(9.0)))
    )
    return out.select(
        F.col("n").alias("n_diffs"),
        "n_pairs",
        (F.col("n_changes") + 1).alias("n_runs"),
        F.when(
            16 * F.col("n") - 29 > 0,
            F.floor(z * F.lit(1000000.0) + F.lit(0.5)).cast("long") / F.lit(1e6),
        ).alias("z_updown"),
    )


# ---------------------------------------------------------------------------
# Durbin-Watson test on the daily-revenue trend residuals
# ---------------------------------------------------------------------------


def _dw_oracle() -> str:
    from ..functions.exact import sql_round_big_int_ratio

    fit_num = "(co.a + co.b * i.k)"
    return f"""
    WITH daily AS (
      SELECT CAST(o_orderdate AS DATE) AS day,
             CAST(sum(CAST(floor(o_totalprice * 100 + 0.5) AS BIGINT))
                  AS HUGEINT) AS y
      FROM orders GROUP BY 1
    ), idx AS (
      SELECT a.day, a.y, CAST(count(*) AS HUGEINT) AS k
      FROM daily a JOIN daily b ON b.day <= a.day
      GROUP BY a.day, a.y
    ), s AS (
      SELECT CAST(count(*) AS HUGEINT) AS n, sum(k) AS st,
             sum(k * k) AS stt, sum(y) AS sy, sum(k * y) AS sty
      FROM idx
    ), co AS (
      SELECT n, n * stt - st * st AS d,
             sy * stt - st * sty AS a,
             n * sty - st * sy   AS b
      FROM s
    ), resid AS (
      SELECT i.k,
             i.y - {sql_halfup_div(fit_num, 'co.d')} AS e
      FROM idx i, co
    ), dsum AS (
      SELECT CAST(sum((a.e - b.e) * (a.e - b.e)) AS HUGEINT) AS sd
      FROM resid a JOIN resid b ON b.k = a.k - 1
    ), esum AS (
      SELECT CAST(sum(e * e) AS HUGEINT) AS se,
             CAST(count(*) AS BIGINT) AS n
      FROM resid
    )
    SELECT esum.n AS n_days,
           {sql_round_big_int_ratio('dsum.sd', 'esum.se')} AS dw
    FROM dsum, esum WHERE esum.se > 0
    """


@register("stats_durbin_watson_daily", oracle=_dw_oracle())
def stats_durbin_watson_daily(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Durbin-Watson statistic DW = Σ(e_t − e_{t−1})² / Σe_t² of the
    residuals from the exact OLS trend fit of daily order revenue on
    the day rank — THE classical first-order serial-correlation test
    on regression residuals, complementing the Ljung-Box (raw-series
    portmanteau) and runs tests already in the family: DW asks
    whether the TREND MODEL's errors are independent, not whether the
    series itself is.

    Exactness path: the OLS fit is closed-form integer algebra — with
    D = nΣt²−(Σt)², A = ΣyΣt²−ΣtΣty, B = nΣty−ΣtΣy the fitted value
    at rank k is (A+Bk)/D; residuals are quantized ONCE at WHOLE CENTS
    by the shared half-up integer-division idiom (e_k = y_k −
    halfup(A+Bk, D), decimal(38,0) vs HUGEINT twins), and both DW
    sums then run in exact 128-bit integers with one final
    round_big_int_ratio. Whole-cent (not micro-cent) quantization is
    the magnitude-audit headroom choice: residuals on real data are
    ≥ 10⁶ cents so the relative quantization error is ≤ 10⁻⁶, while
    2·10⁶·Σe² stays ≤ ~10³⁶ even on the value-magnitude fuzz profile
    (5·10⁹-cent days), inside decimal(38)/HUGEINT — the micro-cent
    form overflowed exactly there.

    Scale shape: the fact scan partial-aggregates to the ~2.4k-row
    calendar-day table before anything quadratic runs; the day rank
    comes from the house broadcast non-equi self-join over that
    POST-AGGREGATION table (no global window), and the lag pairing is
    a rank equi-join — the same bounded-domain pattern as
    stats_runs_up_down_daily and events_acf_daily_lags.
    """
    from ..functions.exact import round_big_int_ratio

    t = Tables(spark, sf_dir)
    idx = _daily_cents_idx(t)
    s = idx.agg(
        dec38(F.count(F.lit(1))).alias("n"),
        F.sum("k").alias("st"),
        F.sum(F.col("k") * F.col("k")).alias("stt"),
        F.sum("y").alias("sy"),
        F.sum(F.col("k") * F.col("y")).alias("sty"),
    )
    co = s.select(
        "n",
        (F.col("n") * F.col("stt") - F.col("st") * F.col("st")).alias("d"),
        (F.col("sy") * F.col("stt") - F.col("st") * F.col("sty")).alias("a"),
        (F.col("n") * F.col("sty") - F.col("st") * F.col("sy")).alias("b"),
    )
    fit_num = F.col("a") + F.col("b") * F.col("k")
    resid = idx.crossJoin(F.broadcast(co)).select(
        "k",
        (F.col("y") - halfup_div(fit_num, F.col("d"))).alias("e"),
    )
    ra = resid.select(F.col("k").alias("k_a"), F.col("e").alias("e_a"))
    rb = resid.select(F.col("k").alias("k_b"), F.col("e").alias("e_b"))
    dsum = ra.join(rb, F.col("k_b") == F.col("k_a") - 1).agg(
        F.sum(
            (F.col("e_a") - F.col("e_b")) * (F.col("e_a") - F.col("e_b"))
        ).alias("sd")
    )
    esum = resid.agg(
        F.sum(F.col("e") * F.col("e")).alias("se"),
        F.count(F.lit(1)).alias("n_days"),
    )
    return (
        esum.crossJoin(F.broadcast(dsum))
        .filter(F.col("se") > 0)
        .select(
            "n_days",
            round_big_int_ratio(F.col("sd"), F.col("se")).alias("dw"),
        )
    )


# ---------------------------------------------------------------------------
# Bartels rank von Neumann randomness test on the daily series
# ---------------------------------------------------------------------------


def _bartels_oracle() -> str:
    hd = sql_halfup_div
    return f"""
    WITH {_SQL_DAILY_COUNTS_IDX}
    , dvy AS (
      SELECT y, CAST(count(*) AS BIGINT) AS cnt FROM idx GROUP BY y
    ), ry AS (
      SELECT y, cnt,
             coalesce(sum(cnt) OVER (ORDER BY y
               ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0) AS cum
      FROM dvy
    ), rk AS (
      SELECT i.k, (2 * r.cum + r.cnt + 1)::HUGEINT AS r2
      FROM idx i JOIN ry r ON r.y = i.y
    ), nn AS (
      SELECT CAST(count(*) AS HUGEINT) AS n, CAST(sum(r2) AS HUGEINT) AS sr2
      FROM rk
    ), num AS (
      SELECT CAST(sum((a.r2 - b.r2) * (a.r2 - b.r2)) AS HUGEINT) AS nm
      FROM rk a JOIN rk b ON b.k = a.k + 1
    ), den AS (
      SELECT CAST(sum((nn.n * rk.r2 - nn.sr2) * (nn.n * rk.r2 - nn.sr2))
                  AS HUGEINT) AS dn
      FROM rk, nn
    )
    SELECT CAST(nn.n AS BIGINT) AS n_days,
           CASE WHEN den.dn > 0 THEN
             CAST({hd('1000000::HUGEINT * num.nm * nn.n * nn.n', 'den.dn')}
                  AS BIGINT)
           END AS rvn_micro,
           CASE WHEN den.dn > 0 THEN
             CAST(floor(
               ((CAST(num.nm AS DOUBLE) * CAST(nn.n AS DOUBLE) * CAST(nn.n AS DOUBLE)
                 / CAST(den.dn AS DOUBLE) - 2.0)
                * (CAST(num.nm AS DOUBLE) * CAST(nn.n AS DOUBLE) * CAST(nn.n AS DOUBLE)
                   / CAST(den.dn AS DOUBLE) - 2.0))
               * CAST(nn.n AS DOUBLE) * 250000.0 + 0.5) AS BIGINT)
             * (CASE WHEN CAST(num.nm AS DOUBLE) * CAST(nn.n AS DOUBLE)
                          * CAST(nn.n AS DOUBLE)
                          < 2.0 * CAST(den.dn AS DOUBLE) THEN -1 ELSE 1 END)
           END AS rvn_z_sq_signed_micro
    FROM nn, num, den
    """


@register("stats_bartels_rank_daily", _bartels_oracle())
def stats_bartels_rank_daily(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Bartels rank von Neumann randomness test (1982) on the daily
    order counts: RVN = sum of squared successive RANK differences
    over the rank variance — the rank-based (distribution-free)
    twin of the von Neumann / Durbin–Watson ratio, E[RVN] = 2 under
    exchangeability, with z^2 = (RVN - 2)^2 * n / 4 (asymptotic
    Var ~ 4/n). Completes the randomness shelf: turning points weigh
    local curvature, runs tests weigh sign persistence — Bartels
    weighs MAGNITUDE-ordered persistence and is the powerful one
    against smooth trends and slow cycles.

    Exactness: doubled midranks on the bounded distinct-count-value
    grid; the numerator is exact off the +1 lag join; the denominator
    clears the mean via n*2R - sum(2R) (the doubling cancels in the
    ratio); RVN is ONE half-up micro division; the z^2 re-runs the
    identical double sequence on both engines (the quantized RVN
    would lose the (RVN-2) cancellation).

    Scale shape: calendar-bounded; one value-grid cumulative
    (allowlist class), one lag join, two scalar aggregates.
    """
    t = Tables(spark, sf_dir)
    idx = _daily_counts_idx(t)
    dvy = idx.groupBy("y").agg(F.count(F.lit(1)).alias("cnt"))
    wv = Window.orderBy("y").rowsBetween(Window.unboundedPreceding, -1)
    ry = dvy.select(
        "y", "cnt", F.coalesce(F.sum("cnt").over(wv), F.lit(0)).alias("cum")
    )
    rk = idx.join(F.broadcast(ry), "y").select(
        "k", dec38(2 * F.col("cum") + F.col("cnt") + 1).alias("r2")
    )
    nn = rk.agg(
        dec38(F.count(F.lit(1))).alias("n"), F.sum("r2").alias("sr2")
    )
    b = rk.select(F.col("k").alias("kb"), F.col("r2").alias("r2b"))
    num = (
        rk.join(b, F.col("kb") == F.col("k") + 1)
        .agg(
            F.sum(
                (F.col("r2") - F.col("r2b")) * (F.col("r2") - F.col("r2b"))
            ).alias("nm")
        )
    )
    den = rk.crossJoin(F.broadcast(nn)).agg(
        F.sum(
            (F.col("n") * F.col("r2") - F.col("sr2"))
            * (F.col("n") * F.col("r2") - F.col("sr2"))
        ).alias("dn")
    )
    m6 = F.lit(1_000_000).cast("decimal(38,0)")
    rvn_d = (
        F.col("nm").cast("double")
        * F.col("n").cast("double")
        * F.col("n").cast("double")
        / F.col("dn").cast("double")
    )
    z2 = F.floor(
        (rvn_d - F.lit(2.0)) * (rvn_d - F.lit(2.0)) * F.col("n").cast("double")
        * F.lit(250000.0)
        + F.lit(0.5)
    ).cast("long")
    sgn = F.when(
        F.col("nm").cast("double")
        * F.col("n").cast("double")
        * F.col("n").cast("double")
        < F.lit(2.0) * F.col("dn").cast("double"),
        F.lit(-1),
    ).otherwise(F.lit(1))
    return (
        nn.crossJoin(F.broadcast(num))
        .crossJoin(F.broadcast(den))
        .select(
            F.col("n").cast("long").alias("n_days"),
            F.when(
                F.col("dn") > 0,
                halfup_div(
                    m6 * F.col("nm") * F.col("n") * F.col("n"), F.col("dn")
                ).cast("long"),
            ).alias("rvn_micro"),
            F.when(F.col("dn") > 0, z2 * sgn).cast("long").alias(
                "rvn_z_sq_signed_micro"
            ),
        )
    )


# ---------------------------------------------------------------------------
# Dixon's Q extreme-outlier screen on the daily series
# ---------------------------------------------------------------------------


def _dixon_oracle() -> str:
    return """
    WITH daily AS (
      SELECT CAST(o_orderdate AS DATE) AS day, CAST(count(*) AS BIGINT) AS y
      FROM orders GROUP BY 1
    ), ext AS (
      SELECT CAST(min(y) AS BIGINT) AS lo, CAST(max(y) AS BIGINT) AS hi,
             CAST(count(*) AS BIGINT) AS n,
             CAST(sum(CASE WHEN y = (SELECT min(y) FROM daily) THEN 1 ELSE 0 END)
                  AS BIGINT) AS n_lo,
             CAST(sum(CASE WHEN y = (SELECT max(y) FROM daily) THEN 1 ELSE 0 END)
                  AS BIGINT) AS n_hi
      FROM daily
    ), nbr AS (
      SELECT e.lo, e.hi, e.n, e.n_lo, e.n_hi,
             CASE WHEN e.n_lo >= 2 THEN e.lo
                  ELSE (SELECT min(y) FROM daily WHERE y > e.lo) END AS x2,
             CASE WHEN e.n_hi >= 2 THEN e.hi
                  ELSE (SELECT max(y) FROM daily WHERE y < e.hi) END AS xn1
      FROM ext e
    )
    SELECT n AS n_days, lo AS min_daily, hi AS max_daily,
           x2 AS second_lowest, xn1 AS second_highest,
           CASE WHEN hi > lo THEN
             CAST((2000000::HUGEINT * (x2 - lo) + (hi - lo))
                  // (2::HUGEINT * (hi - lo)) AS BIGINT)
           END AS q_low_micro,
           CASE WHEN hi > lo THEN
             CAST((2000000::HUGEINT * (hi - xn1) + (hi - lo))
                  // (2::HUGEINT * (hi - lo)) AS BIGINT)
           END AS q_high_micro
    FROM nbr
    """


@register("stats_dixon_q_daily", _dixon_oracle())
def stats_dixon_q_daily(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Dixon's Q ratio (1950) at both extremes of the daily
    order-count distribution: Q_low = (x(2) - x(1)) / range and
    Q_high = (x(n) - x(n-1)) / range — the gap-based outlier screen
    that needs NO moments (``stats_grubbs_acctbal_nation`` is the
    z-score-based member; Q is what lab practice uses at small n and
    what survives heavy tails at any n). A large Q says the extreme
    day is SEPARATED from the rest of the distribution, not just far
    from the mean — the signature of an ingest incident rather than
    ordinary volume spread.

    Exactness: order statistics via exact min/max with tie handling
    (a duplicated extreme makes the neighbor gap exactly 0 — the
    multiset convention, identical on both engines); the two Q ratios
    are single half-up micro divisions.

    Scale shape: one scan to the ~2.4k-day table; extremes and
    conditional neighbor extremes are four scalar aggregates.
    """
    t = Tables(spark, sf_dir)
    daily = day_series(t, F.count(F.lit(1)).cast("long").alias("y"))
    ext = daily.agg(
        F.min("y").alias("lo"),
        F.max("y").alias("hi"),
        F.count(F.lit(1)).cast("long").alias("n"),
    )
    cnts = (
        daily.crossJoin(F.broadcast(ext))
        .agg(
            F.sum(F.when(F.col("y") == F.col("lo"), 1).otherwise(0))
            .cast("long")
            .alias("n_lo"),
            F.sum(F.when(F.col("y") == F.col("hi"), 1).otherwise(0))
            .cast("long")
            .alias("n_hi"),
            F.min(F.when(F.col("y") > F.col("lo"), F.col("y"))).alias("above_lo"),
            F.max(F.when(F.col("y") < F.col("hi"), F.col("y"))).alias("below_hi"),
        )
    )
    j = ext.crossJoin(F.broadcast(cnts)).select(
        "n",
        "lo",
        "hi",
        F.when(F.col("n_lo") >= 2, F.col("lo"))
        .otherwise(F.col("above_lo"))
        .alias("x2"),
        F.when(F.col("n_hi") >= 2, F.col("hi"))
        .otherwise(F.col("below_hi"))
        .alias("xn1"),
    )
    m6 = F.lit(1_000_000).cast("decimal(38,0)")
    rng = dec38(F.col("hi") - F.col("lo"))
    return j.select(
        F.col("n").alias("n_days"),
        F.col("lo").alias("min_daily"),
        F.col("hi").alias("max_daily"),
        F.col("x2").alias("second_lowest"),
        F.col("xn1").alias("second_highest"),
        F.when(
            F.col("hi") > F.col("lo"),
            halfup_div(m6 * dec38(F.col("x2") - F.col("lo")), rng).cast("long"),
        ).alias("q_low_micro"),
        F.when(
            F.col("hi") > F.col("lo"),
            halfup_div(m6 * dec38(F.col("hi") - F.col("xn1")), rng).cast("long"),
        ).alias("q_high_micro"),
    )


# ---------------------------------------------------------------------------
# McLeod–Li test (Ljung–Box on squared residuals)
# ---------------------------------------------------------------------------

ML_LAGS = 7


def _mcleod_oracle() -> str:
    hd = sql_halfup_div
    return f"""
    WITH {_SQL_BP_RESID_CTES}, z AS (
      SELECT k, (u * u) AS z FROM resid
    ), zt AS (
      SELECT CAST(count(*) AS HUGEINT) AS n, CAST(sum(z) AS HUGEINT) AS sz
      FROM z
    ), zeta AS (
      SELECT z.k, (zt.n * z.z - zt.sz) AS c FROM z, zt
    ), c0 AS (
      SELECT CAST(sum(c * c) AS HUGEINT) AS c0 FROM zeta
    ), lags AS (SELECT CAST(unnest(range(1, {ML_LAGS + 1})) AS BIGINT) AS lag),
    cl AS (
      SELECT l.lag, CAST(coalesce(sum(a.c * b.c), 0) AS HUGEINT) AS cl
      FROM lags l
      JOIN zeta a ON TRUE
      JOIN zeta b ON b.k = a.k + l.lag
      GROUP BY l.lag
    ), rr AS (
      SELECT cl.lag,
             CAST(floor(
               (CAST(cl.cl AS DOUBLE) / CAST(c0.c0 AS DOUBLE))
               * (CAST(cl.cl AS DOUBLE) / CAST(c0.c0 AS DOUBLE))
               * 1000000.0 + 0.5) AS BIGINT)
               * (CASE WHEN cl.cl < 0 THEN -1 ELSE 1 END) AS r2_signed,
             CAST(floor(
               (CAST(cl.cl AS DOUBLE) / CAST(c0.c0 AS DOUBLE))
               * (CAST(cl.cl AS DOUBLE) / CAST(c0.c0 AS DOUBLE))
               * 1000000.0 + 0.5) AS BIGINT) AS r2u
      FROM cl, c0
    ), q AS (
      SELECT CAST(sum({hd('zt.n * (zt.n + 2) * rr.r2u', 'zt.n - rr.lag')})
                  AS HUGEINT) AS qstat
      FROM rr, zt
    )
    SELECT rr.lag, rr.r2_signed AS acf_sq_signed_micro,
           (SELECT CAST(n AS BIGINT) FROM zt) AS n_days,
           CAST(q.qstat AS BIGINT) AS mcleod_li_q_micro
    FROM rr, q ORDER BY rr.lag
    """


@register("stats_mcleod_li_daily", _mcleod_oracle())
def stats_mcleod_li_daily(spark: SparkSession, sf_dir: str) -> DataFrame:
    """McLeod–Li test (1983) on the daily order-count OLS residuals:
    the Ljung–Box portmanteau computed on the SQUARED residuals at
    lags 1..{ML_LAGS} — Q = n(n+2) sum r_l^2/(n-l), chi-square under
    "no ARCH". ``stats_ljung_box_daily`` checks LEVEL autocorrelation
    and ``stats_arch_lm_daily`` the lag-1 variance regression; McLeod–
    Li is the MULTI-LAG volatility-memory screen that catches
    clustering the single-lag LM misses (e.g. weekly volatility
    cycles), on the SHARED Breusch–Pagan residual table
    (``daily._bp_resid`` — one derivation, three consumers).

    Exactness: squared residuals and their centered products clear
    denominators to exact integers (zeta = n*z - Sz); per-lag r^2
    runs the shape-matched IEEE double sequence (c_l^2 overflows
    decimal(38,0) at x10), micro-quantized ONCE per lag; Q sums the
    exact n(n+2)*r2q/(n-l) half-up terms of those quantized r^2 —
    deterministic on both engines by construction.

    Scale shape: calendar-bounded; {ML_LAGS} lag equi-joins on the
    rank; per-lag scalars out.
    """
    t = Tables(spark, sf_dir)
    # `_bp_resid` is a session-materialized warehouse table, so each of
    # the 10+ plan branches (c0, both sides of 7 lag joins, zt/q/nn)
    # re-reads a ~2.4k-row 2-column parquet scan. Do not checkpoint it:
    # eager checkpoints here put the residual build into every timed
    # run (3.09→6.36 s in the r14 benchmark).
    z = _bp_resid(t).select("k", (F.col("u") * F.col("u")).alias("z"))
    zt = z.agg(dec38(F.count(F.lit(1))).alias("n"), F.sum("z").alias("sz"))
    zeta = z.crossJoin(F.broadcast(zt)).select(
        "k", (F.col("n") * F.col("z") - F.col("sz")).alias("c"), "n"
    )
    c0 = zeta.agg(F.sum(F.col("c") * F.col("c")).alias("c0"))
    lags = z.sparkSession.range(1, ML_LAGS + 1).select(
        F.col("id").cast("long").alias("lag")
    )
    a = zeta.select(F.col("k").alias("ka"), F.col("c").alias("ca"))
    bz = zeta.select(F.col("k").alias("kb"), F.col("c").alias("cb"))
    cl = (
        a.crossJoin(F.broadcast(lags))
        .join(bz, F.col("kb") == F.col("ka") + F.col("lag"))
        .groupBy("lag")
        .agg(F.coalesce(F.sum(F.col("ca") * F.col("cb")), F.lit(0)).alias("cl"))
    )
    r_d = F.col("cl").cast("double") / F.col("c0").cast("double")
    r2u = F.floor(r_d * r_d * F.lit(1000000.0) + F.lit(0.5)).cast("long")
    rr = cl.crossJoin(F.broadcast(c0)).select(
        "lag",
        (r2u * F.when(F.col("cl") < 0, F.lit(-1)).otherwise(F.lit(1))).alias(
            "r2_signed"
        ),
        r2u.alias("r2u"),
    )
    q = (
        rr.crossJoin(F.broadcast(zt))
        .agg(
            F.sum(
                halfup_div(
                    F.col("n") * (F.col("n") + 2) * dec38(F.col("r2u")),
                    F.col("n") - dec38(F.col("lag")),
                )
            ).alias("qstat")
        )
    )
    nn = zt.select(F.col("n").cast("long").alias("n_days"))
    return (
        rr.crossJoin(F.broadcast(q))
        .crossJoin(F.broadcast(nn))
        .select(
            "lag",
            F.col("r2_signed").cast("long").alias("acf_sq_signed_micro"),
            "n_days",
            F.col("qstat").cast("long").alias("mcleod_li_q_micro"),
        )
        .orderBy("lag")
    )


# ---------------------------------------------------------------------------
# Poisson deviance of the day-of-week rate model
# ---------------------------------------------------------------------------


def _pois_dev_oracle() -> str:
    from ..functions.detmath import sql_det_ln_steps

    return f"""
    WITH daily AS (
      SELECT CAST(o_orderdate AS DATE) AS day,
             CAST(isodow(CAST(o_orderdate AS DATE)) AS BIGINT) AS dow,
             CAST(count(*) AS BIGINT) AS y
      FROM orders GROUP BY 1, 2
    ), dows AS (
      SELECT dow, CAST(count(*) AS BIGINT) AS n_d, CAST(sum(y) AS BIGINT) AS s_d
      FROM daily GROUP BY dow
    ), cells AS (
      SELECT d.dow, d.y, CAST(count(*) AS BIGINT) AS c,
             w.n_d, w.s_d,
             CAST(d.y AS DOUBLE) * CAST(w.n_d AS DOUBLE)
               / CAST(w.s_d AS DOUBLE) AS ratio
      FROM daily d JOIN dows w ON w.dow = d.dow
      WHERE d.y > 0 AND w.s_d > 0
      GROUP BY d.dow, d.y, w.n_d, w.s_d
    ), {sql_det_ln_steps('cells', 'ratio', 'lnr')},
    dev AS (
      SELECT CAST(sum(c::HUGEINT * y * lnr) AS HUGEINT) AS half_dev_micro
      FROM lnr_rel
    ), nn AS (SELECT CAST(count(*) AS BIGINT) AS n FROM daily)
    SELECT nn.n AS n_days,
           (SELECT CAST(count(*) AS BIGINT) FROM dows) AS n_dow,
           CAST(2 * dev.half_dev_micro AS BIGINT) AS deviance_micro
    FROM nn, dev
    """


@register("stats_poisson_deviance_dow", _pois_dev_oracle())
def stats_poisson_deviance_dow(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Poisson deviance of the day-of-week rate model on daily order
    counts: D = 2 sum[y ln(y/mu) - (y - mu)] with mu = the weekday
    mean; the second term vanishes exactly because the MLE matches
    group totals, leaving D = 2 sum y ln(y n_d / S_d). The GLM
    goodness-of-fit read of the weekday model (chi-square with
    n - 7 df under the model): ``stats_negbin_hourly_fit`` asks if
    counts are overdispersed globally; the deviance says whether the
    WEEKDAY model's residual dispersion is Poisson-compatible, i.e.
    whether a weekday-rate alert threshold needs a dispersion factor.

    Exactness: the y*ln(ratio) masses accumulate as exact integer
    products y * det_ln_q(y n_d / S_d) (the shared deterministic
    fixed-point ln), partial-aggregated per (dow, y) CELL so each
    distinct ratio is ln'd once; zero-count days contribute exactly
    0 on both engines (dropped by the same y > 0 filter).

    Scale shape: one scan to the (dow x count-value) grid (bounded by
    the daily-count value domain); one det-ln pass over the grid.
    """
    from ..functions.detmath import det_ln_q

    t = Tables(spark, sf_dir)
    daily = day_series(t, F.count(F.lit(1)).cast("long").alias("y"), by_dow=True)
    dows = daily.groupBy("dow").agg(
        F.count(F.lit(1)).cast("long").alias("n_d"),
        F.sum("y").cast("long").alias("s_d"),
    )
    cells = (
        daily.join(F.broadcast(dows), "dow")
        .filter((F.col("y") > 0) & (F.col("s_d") > 0))
        .groupBy("dow", "y", "n_d", "s_d")
        .agg(F.count(F.lit(1)).cast("long").alias("c"))
    )
    lnr = det_ln_q(
        F.col("y").cast("double")
        * F.col("n_d").cast("double")
        / F.col("s_d").cast("double")
    )
    dev = cells.select(
        (dec38(F.col("c")) * F.col("y") * lnr).alias("t")
    ).agg(F.sum("t").alias("half_dev_micro"))
    nn = daily.agg(F.count(F.lit(1)).cast("long").alias("n_days"))
    nd = dows.agg(F.count(F.lit(1)).cast("long").alias("n_dow"))
    return (
        nn.crossJoin(F.broadcast(nd))
        .crossJoin(F.broadcast(dev))
        .select(
            "n_days",
            "n_dow",
            (2 * F.col("half_dev_micro")).cast("long").alias("deviance_micro"),
        )
    )


# ---------------------------------------------------------------------------
# Seasonal Sen slope (within-weekday pairwise-slope medians)
# ---------------------------------------------------------------------------


def _ssen_oracle() -> str:
    return """
    WITH daily AS (
      SELECT CAST(o_orderdate AS DATE) AS day,
             CAST(isodow(CAST(o_orderdate AS DATE)) AS BIGINT) AS dow,
             CAST(count(*) AS BIGINT) AS y
      FROM orders GROUP BY 1, 2
    ), idx AS (
      SELECT a.dow, a.y, CAST(count(*) AS BIGINT) AS i
      FROM daily a JOIN daily b ON b.dow = a.dow AND b.day <= a.day
      GROUP BY a.dow, a.day, a.y
    ), pairs AS (
      SELECT a.dow,
             CAST(CASE WHEN b.y >= a.y
               THEN  ((20000::HUGEINT * (b.y - a.y) + (b.i - a.i))
                      // (2::HUGEINT * (b.i - a.i)))
               ELSE -((20000::HUGEINT * (a.y - b.y) + (b.i - a.i))
                      // (2::HUGEINT * (b.i - a.i)))
             END AS BIGINT) AS slope_q4
      FROM idx a JOIN idx b ON b.dow = a.dow AND b.i > a.i
    ), per_dow AS (
      SELECT dow, CAST(count(*) AS BIGINT) AS n_pairs,
             CAST(quantile_disc(slope_q4, 0.5) AS BIGINT) AS med_q4
      FROM pairs GROUP BY dow
    ), overall AS (
      SELECT CAST(0 AS BIGINT) AS dow, CAST(count(*) AS BIGINT) AS n_pairs,
             CAST(quantile_disc(slope_q4, 0.5) AS BIGINT) AS med_q4
      FROM pairs
    )
    SELECT dow, n_pairs, med_q4 / 10000.0 AS sen_slope_per_week_pos
    FROM (SELECT * FROM per_dow UNION ALL SELECT * FROM overall)
    ORDER BY dow
    """


@register("stats_seasonal_sen_slope", _ssen_oracle())
def stats_seasonal_sen_slope(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Seasonal Sen slope on the daily order counts: Theil–Sen's
    median-of-pairwise-slopes computed WITHIN each ISO weekday (so
    the weekly cycle cannot masquerade as trend), per weekday and
    pooled (dow = 0 row — the Hirsch–Slack seasonal estimator that
    pairs only like with like). ``stats_seasonal_mann_kendall``
    delivers the seasonal trend TEST; this is the matching robust
    SLOPE — the magnitude the test's rejection needs attached
    (orders per weekday-position step, i.e. per week).

    Exactness: within-weekday day positions come from the
    calendar-bounded rank join; slopes are exact half-up integer
    ratios at 4 dp (the Theil–Sen convention); medians are exact
    discrete quantiles over those int64s (percentile_approx at exact
    accuracy == DuckDB quantile_disc).

    Scale shape: the corpus collapses to the ~2.4k-day table first;
    the per-dow pair join is (days/7)^2 x 7-bounded; medians run on
    the bounded slope multiset.
    """
    t = Tables(spark, sf_dir)
    daily = day_series(t, F.count(F.lit(1)).cast("long").alias("y"), by_dow=True)
    idx = daily.select(
        "dow",
        "y",
        F.row_number().over(Window.partitionBy("dow").orderBy("day")).alias("i"),
    )
    b = idx.select(
        F.col("dow").alias("dow_b"), F.col("y").alias("y_b"), F.col("i").alias("i_b")
    )
    num = dec38(F.col("y_b")) - dec38(F.col("y"))
    den = dec38(F.col("i_b")) - dec38(F.col("i"))
    a_ = F.lit(20000).cast("decimal(38,0)") * F.abs(num) + den
    b_ = F.lit(2).cast("decimal(38,0)") * den
    mag = ((a_ - a_ % b_) / b_).cast("long")
    slope_q4 = F.when(num < 0, -mag).otherwise(mag)
    pairs = idx.join(
        b, (F.col("dow_b") == F.col("dow")) & (F.col("i_b") > F.col("i"))
    ).select("dow", slope_q4.alias("slope_q4"))
    exact = str(2**31 - 1)
    per_dow = pairs.groupBy("dow").agg(
        F.count(F.lit(1)).cast("long").alias("n_pairs"),
        F.expr(f"percentile_approx(slope_q4, 0.5, {exact})")
        .cast("long")
        .alias("med_q4"),
    )
    overall = pairs.agg(
        F.lit(0).cast("long").alias("dow"),
        F.count(F.lit(1)).cast("long").alias("n_pairs"),
        F.expr(f"percentile_approx(slope_q4, 0.5, {exact})")
        .cast("long")
        .alias("med_q4"),
    )
    return (
        per_dow.unionByName(overall)
        .select(
            "dow",
            "n_pairs",
            (F.col("med_q4").cast("double") / F.lit(10000.0)).alias(
                "sen_slope_per_week_pos"
            ),
        )
        .orderBy("dow")
    )


# ---------------------------------------------------------------------------
# Diebold–Mariano: naive vs seasonal-naive daily forecasts
# ---------------------------------------------------------------------------

DM_SEASON = 7


def _dm_oracle() -> str:
    hd = sql_halfup_div
    s = DM_SEASON
    return f"""
    WITH {_SQL_DAILY_COUNTS_IDX}
    , pairs AS (
      SELECT a.k, a.y,
             (a.y - n1.y) * (a.y - n1.y) AS l_naive,
             (a.y - n7.y) * (a.y - n7.y) AS l_seasonal
      FROM idx a
      JOIN idx n1 ON n1.k = a.k - 1
      JOIN idx n7 ON n7.k = a.k - {s}
    ), d AS (
      SELECT CAST(count(*) AS HUGEINT) AS n,
             CAST(sum(l_naive) AS HUGEINT) AS sl1,
             CAST(sum(l_seasonal) AS HUGEINT) AS sl7,
             CAST(sum(l_naive - l_seasonal) AS HUGEINT) AS sd,
             CAST(sum((l_naive - l_seasonal) * (l_naive - l_seasonal))
                  AS HUGEINT) AS sdd
      FROM pairs
    )
    SELECT CAST(n AS BIGINT) AS n_eval_days,
           CAST(sl1 AS BIGINT) AS sum_loss_naive,
           CAST(sl7 AS BIGINT) AS sum_loss_seasonal,
           CASE WHEN n * sdd - sd * sd > 0 THEN
             CAST({hd('1000000::HUGEINT * sd * sd', 'n * sdd - sd * sd')}
                  AS BIGINT) * CAST(n AS BIGINT)
             * (CASE WHEN sd < 0 THEN -1 ELSE 1 END)
           END AS dm_z_sq_signed_micro
    FROM d
    """


@register("stats_diebold_mariano_daily", oracle=_dm_oracle())
def stats_diebold_mariano_daily(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Diebold–Mariano forecast-comparison test (1995) on the daily
    order counts: naive (yesterday's value) vs seasonal-naive (same
    weekday last week) one-step forecasts under squared-error loss;
    DM^2 = n dbar^2 / Var(d) over the loss differentials d_t (lag-0
    variance — the one-step-ahead case where DM's HAC correction
    vanishes). The FORECAST-selection member of the series shelf:
    Holt/Bass/STL fit models, Brier-skill scores probabilities — DM
    is the significance test that says whether the seasonal model's
    apparent edge over persistence survives sampling noise, i.e.
    whether weekly seasonality is worth a forecasting dependency.
    Positive sign = seasonal-naive wins (naive's loss is larger).

    Exactness: losses and differentials are exact integers off the
    calendar-rank lag joins; DM^2 = n (sum d)^2 / (n sum d^2 -
    (sum d)^2) is ONE half-up micro division times the exact n,
    signed by the mean differential, NULL-guarded for the
    identical-forecast degenerate.

    Scale shape: one fact scan to the ~2.4k-day table; two rank
    equi-joins; one sufficient-sum aggregate.
    """
    t = Tables(spark, sf_dir)
    idx = _daily_counts_idx(t)
    a = idx.select(F.col("k").alias("ka"), F.col("y").alias("ya"))
    n1 = idx.select(F.col("k").alias("k1"), F.col("y").alias("y1"))
    n7 = idx.select(F.col("k").alias("k7"), F.col("y").alias("y7"))
    pairs = (
        a.join(n1, F.col("k1") == F.col("ka") - 1)
        .join(n7, F.col("k7") == F.col("ka") - DM_SEASON)
        .select(
            ((F.col("ya") - F.col("y1")) * (F.col("ya") - F.col("y1"))).alias(
                "l_naive"
            ),
            ((F.col("ya") - F.col("y7")) * (F.col("ya") - F.col("y7"))).alias(
                "l_seasonal"
            ),
        )
    )
    d = pairs.agg(
        dec38(F.count(F.lit(1))).alias("n"),
        F.sum("l_naive").alias("sl1"),
        F.sum("l_seasonal").alias("sl7"),
        F.sum(F.col("l_naive") - F.col("l_seasonal")).alias("sd"),
        F.sum(
            (F.col("l_naive") - F.col("l_seasonal"))
            * (F.col("l_naive") - F.col("l_seasonal"))
        ).alias("sdd"),
    )
    m6 = F.lit(1_000_000).cast("decimal(38,0)")
    var = F.col("n") * F.col("sdd") - F.col("sd") * F.col("sd")
    return d.select(
        F.col("n").cast("long").alias("n_eval_days"),
        F.col("sl1").cast("long").alias("sum_loss_naive"),
        F.col("sl7").cast("long").alias("sum_loss_seasonal"),
        F.when(
            var > 0,
            halfup_div(m6 * F.col("sd") * F.col("sd"), var).cast("long")
            * F.col("n").cast("long")
            * F.when(F.col("sd") < 0, F.lit(-1)).otherwise(F.lit(1)),
        )
        .cast("long")
        .alias("dm_z_sq_signed_micro"),
    )


# ---------------------------------------------------------------------------
# Cochrane–Orcutt AR(1)-corrected trend on daily counts
# ---------------------------------------------------------------------------

CO_RES_SCALE = 100  # centi residuals, the Breusch-Pagan convention


def _co_oracle() -> str:
    hd = sql_halfup_div
    return f"""
    WITH daily AS (
      SELECT CAST(o_orderdate AS DATE) AS day, CAST(count(*) AS HUGEINT) AS y
      FROM orders GROUP BY 1
    ), idx AS (
      SELECT a.day, a.y, CAST(count(*) AS HUGEINT) AS k
      FROM daily a JOIN daily b ON b.day <= a.day
      GROUP BY a.day, a.y
    ), s1 AS (
      SELECT CAST(count(*) AS HUGEINT) AS n,
             CAST(sum(k) AS HUGEINT) AS sk,
             CAST(sum(k * k) AS HUGEINT) AS skk,
             CAST(sum(y) AS HUGEINT) AS sy,
             CAST(sum(k * y) AS HUGEINT) AS sky
      FROM idx
    ), coef AS (
      SELECT n, sk, sy,
             (n * skk - sk * sk) AS d, (n * sky - sk * sy) AS b
      FROM s1
    ), resid AS (
      SELECT i.k, i.y,
             {hd(f'{CO_RES_SCALE}::HUGEINT * '
                 '(c.n * c.d * i.y - c.d * c.sy + c.b * c.sk - c.n * c.b * i.k)',
                 'c.n * c.d')} AS u
      FROM idx i, coef c
    ), rho AS (
      SELECT {hd('1000000::HUGEINT * CAST((SELECT sum(a.u * b.u) FROM resid a '
                 'JOIN resid b ON b.k = a.k - 1) AS HUGEINT)',
                 'CAST((SELECT sum(u * u) FROM resid) AS HUGEINT)')} AS rho_micro
      FROM (SELECT 1)
    ), trans AS (
      SELECT (1000000::HUGEINT * a.y - r.rho_micro * b.y) AS ys,
             (1000000::HUGEINT * a.k - r.rho_micro * (a.k - 1)) AS xs
      FROM resid a JOIN resid b ON b.k = a.k - 1, rho r
    ), s2 AS (
      SELECT CAST(count(*) AS HUGEINT) AS m,
             CAST(sum(xs) AS HUGEINT) AS sx,
             CAST(sum(xs * xs) AS HUGEINT) AS sxx,
             CAST(sum(ys) AS HUGEINT) AS syt,
             CAST(sum(xs * ys) AS HUGEINT) AS sxy
      FROM trans
    )
    SELECT CAST(c.n AS BIGINT) AS n_days,
           CAST(r.rho_micro AS BIGINT) AS rho_micro,
           CAST({hd('1000000::HUGEINT * c.b', 'c.d')} AS BIGINT)
             AS ols_slope_micro,
           CAST({hd('1000000::HUGEINT * (s2.m * s2.sxy - s2.sx * s2.syt)',
                    's2.m * s2.sxx - s2.sx * s2.sx')} AS BIGINT)
             AS co_slope_micro
    FROM coef c, rho r, s2
    """


@register("stats_cochrane_orcutt_trend", _co_oracle())
def stats_cochrane_orcutt_trend(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Cochrane–Orcutt AR(1)-corrected trend estimate on the daily
    order-count series: estimate rho from the lag-1 autocorrelation of
    the OLS residuals, quasi-difference (y_t - rho y_{t-1} on
    x_t - rho x_{t-1}), and re-fit — the FIX step the residual-
    diagnostic suite points at (``stats_durbin_watson_daily`` detects
    the autocorrelation that makes plain OLS standard errors wrong;
    this delivers the corrected slope). Reporting both slopes side by
    side shows how much the naive trend moves once serial correlation
    is absorbed.

    Exactness: residuals quantize ONCE at centi resolution off exact
    integer numerators (the Breusch-Pagan convention); rho is ONE
    half-up 1e-6 ratio of exact integer lag products; the transformed
    series is exact integers (1e6-scaled quasi-differences with the
    integer rho); both slopes are single half-up big-integer ratios.

    Scale shape: one fact scan to the ~2.4k-day table; the lag pairing
    is a rank equi-join on the calendar-bounded index; two 5-number
    sufficient-sum aggregates.
    """
    t = Tables(spark, sf_dir)
    idx = _daily_counts_idx(t)
    s1 = idx.agg(
        dec38(F.count(F.lit(1))).alias("n"),
        F.sum("k").alias("sk"),
        F.sum(F.col("k") * F.col("k")).alias("skk"),
        F.sum("y").alias("sy"),
        F.sum(F.col("k") * F.col("y")).alias("sky"),
    )
    coef = s1.select(
        "n",
        "sk",
        "sy",
        (F.col("n") * F.col("skk") - F.col("sk") * F.col("sk")).alias("d"),
        (F.col("n") * F.col("sky") - F.col("sk") * F.col("sy")).alias("b"),
    )
    rnum = (
        F.col("n") * F.col("d") * F.col("y")
        - F.col("d") * F.col("sy")
        + F.col("b") * F.col("sk")
        - F.col("n") * F.col("b") * F.col("k")
    )
    resid = idx.crossJoin(F.broadcast(coef)).select(
        "k",
        "y",
        halfup_div(
            F.lit(CO_RES_SCALE).cast("decimal(38,0)") * rnum, F.col("n") * F.col("d")
        ).alias("u"),
    )
    lagged = resid.select(
        (F.col("k") + 1).alias("k"), F.col("u").alias("up"), F.col("y").alias("yp")
    )
    paired = resid.join(lagged, "k")
    rho = (
        paired.agg(F.sum(F.col("u") * F.col("up")).alias("num"))
        .crossJoin(F.broadcast(resid.agg(F.sum(F.col("u") * F.col("u")).alias("den"))))
        .select(
            halfup_div(
                F.lit(1_000_000).cast("decimal(38,0)") * F.col("num"), F.col("den")
            ).alias("rho_micro")
        )
    )
    m6 = F.lit(1_000_000).cast("decimal(38,0)")
    trans = paired.crossJoin(F.broadcast(rho)).select(
        (m6 * F.col("y") - F.col("rho_micro") * F.col("yp")).alias("ys"),
        (m6 * F.col("k") - F.col("rho_micro") * (F.col("k") - 1)).alias("xs"),
    )
    s2 = trans.agg(
        dec38(F.count(F.lit(1))).alias("m"),
        F.sum("xs").alias("sx"),
        F.sum(F.col("xs") * F.col("xs")).alias("sxx"),
        F.sum("ys").alias("syt"),
        F.sum(F.col("xs") * F.col("ys")).alias("sxy"),
    )
    return (
        coef.crossJoin(F.broadcast(rho))
        .crossJoin(F.broadcast(s2))
        .select(
            F.col("n").cast("long").alias("n_days"),
            F.col("rho_micro").cast("long").alias("rho_micro"),
            halfup_div(m6 * F.col("b"), F.col("d")).cast("long").alias("ols_slope_micro"),
            halfup_div(
                m6 * (F.col("m") * F.col("sxy") - F.col("sx") * F.col("syt")),
                F.col("m") * F.col("sxx") - F.col("sx") * F.col("sx"),
            )
            .cast("long")
            .alias("co_slope_micro"),
        )
    )


# ---------------------------------------------------------------------------
# KPSS stationarity test (level and trend forms) on daily counts
# ---------------------------------------------------------------------------

KPSS_LAGS = 4          # Bartlett truncation lag (fixed literal)


def _kpss_oracle() -> str:
    q = KPSS_LAGS
    hd = sql_halfup_div
    # Bartlett weights scaled by (q+1): (q+1) * gamma0 + 2 * sum (q+1-l) gamma_l
    lag_terms_lvl = " + ".join(
        f"2 * {q + 1 - l} * (SELECT CAST(sum(a.e * b.e) AS HUGEINT) "
        f"FROM lvl a JOIN lvl b ON b.k = a.k - {l})"
        for l in range(1, q + 1)
    )
    lag_terms_tr = " + ".join(
        f"2 * {q + 1 - l} * (SELECT CAST(sum(a.u * b.u) AS HUGEINT) "
        f"FROM tr a JOIN tr b ON b.k = a.k - {l})"
        for l in range(1, q + 1)
    )
    return f"""
    WITH daily AS (
      SELECT CAST(o_orderdate AS DATE) AS day, CAST(count(*) AS HUGEINT) AS y
      FROM orders GROUP BY 1
    ), idx AS (
      SELECT a.day, a.y, CAST(count(*) AS HUGEINT) AS k,
             CAST(sum(b.y) AS HUGEINT) AS p
      FROM daily a JOIN daily b ON b.day <= a.day
      GROUP BY a.day, a.y
    ), tot AS (
      SELECT CAST(count(*) AS HUGEINT) AS n,
             CAST(sum(y) AS HUGEINT) AS s,
             CAST(sum(k) AS HUGEINT) AS sk,
             CAST(sum(k * k) AS HUGEINT) AS skk,
             CAST(sum(k * y) AS HUGEINT) AS sky
      FROM idx
    ), lvl AS (
      -- scaled demeaned series e'_k = n y_k - S and its prefix sum
      SELECT i.k, (t.n * i.y - t.s) AS e, (t.n * i.p - i.k * t.s) AS sp
      FROM idx i, tot t
    ), lvl_sums AS (
      SELECT CAST(sum(sp * sp) AS HUGEINT) AS ss2,
             (SELECT ({q + 1}::HUGEINT
                      * (SELECT CAST(sum(e * e) AS HUGEINT) FROM lvl))
                     + {lag_terms_lvl}) AS v
      FROM lvl
    ), coef AS (
      SELECT n, sk, s AS sy, (n * skk - sk * sk) AS d, (n * sky - sk * s) AS b
      FROM tot
    ), tr AS (
      -- centi-quantized OLS residuals (trend form)
      SELECT i.k,
             {hd(f'{KPSS_RES_SCALE}::HUGEINT * '
                 '(c.n * c.d * i.y - c.d * c.sy + c.b * c.sk - c.n * c.b * i.k)',
                 'c.n * c.d')} AS u
      FROM idx i, coef c
    ), trp AS (
      SELECT a.k, CAST(sum(b.u) AS HUGEINT) AS sp
      FROM tr a JOIN tr b ON b.k <= a.k GROUP BY a.k
    ), tr_sums AS (
      SELECT (SELECT CAST(sum(sp * sp) AS HUGEINT) FROM trp) AS ss2,
             (SELECT ({q + 1}::HUGEINT
                      * (SELECT CAST(sum(u * u) AS HUGEINT) FROM tr))
                     + {lag_terms_tr}) AS v
    )
    SELECT CAST(t.n AS BIGINT) AS n_days,
           CASE WHEN l.v > 0 THEN
             CAST({hd(f'1000000::HUGEINT * {q + 1} * l.ss2', 't.n * l.v')}
                  AS BIGINT)
           END AS kpss_level_micro,
           CASE WHEN r.v > 0 THEN
             CAST({hd(f'1000000::HUGEINT * {q + 1} * r.ss2', 't.n * r.v')}
                  AS BIGINT)
           END AS kpss_trend_micro
    FROM tot t, lvl_sums l, tr_sums r
    """


@register("stats_kpss_level_trend_daily", _kpss_oracle())
def stats_kpss_level_trend_daily(spark: SparkSession, sf_dir: str) -> DataFrame:
    """KPSS stationarity test on the daily order-count series, both
    forms: level-stationarity (partial sums of the demeaned series)
    and trend-stationarity (partial sums of the OLS-detrended
    residuals), each normalized by the Bartlett long-run variance at
    lag {KPSS_LAGS}. The NULL here is STATIONARITY — the mirror image
    of ``stats_mann_kendall_daily`` / ``events_variance_ratio_test`` /
    ``stats_hurst_rs_daily`` (whose nulls are no-trend / random-walk):
    running both directions is the standard unit-root protocol, and
    "KPSS rejects level but not trend" is precisely the signal that a
    deterministic trend (not differencing) is the right modeling fix.

    Exactness: the level form runs on the exact integer scaled series
    e' = n y - S with exact prefix sums n P_k - k S; the trend form on
    centi-quantized residuals from exact integer numerators (the
    Breusch-Pagan convention — the statistic is scale-invariant so
    only the single quantization matters); the Bartlett combination
    (q+1) g0 + 2 sum (q+1-l) g_l is exact integer arithmetic, and each
    statistic is ONE half-up 1e-6 division (q+1 carried to keep the
    weights rational).

    Scale shape: one fact scan to the ~2.4k-day table; prefix sums and
    lag pairings are calendar-bounded rank joins; everything after is
    scalar algebra.
    """
    t = Tables(spark, sf_dir)
    q = KPSS_LAGS
    # The per-k series (k, y, e, sp, u) is a pure function of the
    # fixture (~2.4k rows, all decimal(38,0) — exact parquet
    # round-trip), materialized once per (application, fixture); each of
    # the ~15 plan branches (tot, both Bartlett lag ladders, trp,
    # tr_ss2) is a tiny 5-column parquet scan. Eager checkpoints of
    # idx/lvl/tr instead put all three builds into every timed run
    # (5.87→8.47 s in the r14 benchmark).
    tbl = _kpss_tbl(t)
    lvl = tbl.select("k", "e", "sp")

    def bartlett(df, col):
        g0 = df.agg(F.sum(F.col(col) * F.col(col)).alias("g")).select(
            (F.lit(q + 1).cast("decimal(38,0)") * F.col("g")).alias("acc")
        )
        acc = g0
        for l in range(1, q + 1):
            lag = df.select((F.col("k") + l).alias("k"), F.col(col).alias("xl"))
            gl = (
                df.join(lag, "k")
                .agg(F.sum(F.col(col) * F.col("xl")).alias("g"))
                .select((F.lit(2 * (q + 1 - l)).cast("decimal(38,0)") * F.col("g")).alias("gl"))
            )
            acc = acc.crossJoin(F.broadcast(gl)).select(
                (F.col("acc") + F.col("gl")).alias("acc")
            )
        return acc.select(F.col("acc").alias("v"))

    lvl_ss2 = lvl.agg(F.sum(F.col("sp") * F.col("sp")).alias("ss2"))
    lvl_v = bartlett(lvl.select("k", "e"), "e")

    tr = tbl.select("k", "u")
    trb = tr.select(F.col("k").alias("kb"), F.col("u").alias("ub"))
    trp = (
        tr.join(F.broadcast(trb), F.col("kb") <= F.col("k"))
        .groupBy("k")
        .agg(F.sum("ub").alias("sp"))
    )
    tr_ss2 = trp.agg(F.sum(F.col("sp") * F.col("sp")).alias("ss2"))
    tr_v = bartlett(tr, "u")

    m6 = F.lit(1_000_000).cast("decimal(38,0)")
    qq = F.lit(q + 1).cast("decimal(38,0)")
    return (
        tbl.agg(dec38(F.count(F.lit(1))).alias("n"))
        .crossJoin(F.broadcast(lvl_ss2.select(F.col("ss2").alias("l_ss2"))))
        .crossJoin(F.broadcast(lvl_v.select(F.col("v").alias("l_v"))))
        .crossJoin(F.broadcast(tr_ss2.select(F.col("ss2").alias("t_ss2"))))
        .crossJoin(F.broadcast(tr_v.select(F.col("v").alias("t_v"))))
        .select(
            F.col("n").cast("long").alias("n_days"),
            F.when(
                F.col("l_v") > 0,
                halfup_div(m6 * qq * F.col("l_ss2"), F.col("n") * F.col("l_v")),
            )
            .cast("long")
            .alias("kpss_level_micro"),
            F.when(
                F.col("t_v") > 0,
                halfup_div(m6 * qq * F.col("t_ss2"), F.col("n") * F.col("t_v")),
            )
            .cast("long")
            .alias("kpss_trend_micro"),
        )
    )


# ---------------------------------------------------------------------------
# Cox–Stuart trend test on daily order counts
# ---------------------------------------------------------------------------


def _cox_stuart_oracle() -> str:
    hd = sql_halfup_div
    return f"""
    WITH daily AS (
      SELECT CAST(o_orderdate AS DATE) AS day, CAST(count(*) AS BIGINT) AS y
      FROM orders GROUP BY 1
    ), idx AS (
      SELECT a.day, a.y, CAST(count(*) AS BIGINT) AS k
      FROM daily a JOIN daily b ON b.day <= a.day
      GROUP BY a.day, a.y
    ), nn AS (
      SELECT CAST(count(*) AS BIGINT) AS n,
             (CAST(count(*) AS BIGINT) + 1) // 2 AS c
      FROM idx
    ), pairs AS (
      SELECT CASE WHEN b.y > a.y THEN 1 ELSE 0 END AS pos,
             CASE WHEN b.y < a.y THEN 1 ELSE 0 END AS neg
      FROM idx a
      JOIN nn ON a.k <= nn.n - nn.c
      JOIN idx b ON b.k = a.k + nn.c
    ), s AS (
      SELECT CAST(count(*) AS BIGINT) AS n_pairs,
             CAST(sum(pos) AS BIGINT) AS n_pos,
             CAST(sum(neg) AS BIGINT) AS n_neg
      FROM pairs
    )
    SELECT (SELECT CAST(n AS BIGINT) FROM nn) AS n_days,
           n_pairs, n_pos, n_neg,
           CASE WHEN n_pos + n_neg > 0 THEN
             CAST({hd('1000000::HUGEINT * (n_pos - n_neg) * (n_pos - n_neg)',
                      'n_pos + n_neg')} AS BIGINT)
             * (CASE WHEN n_pos < n_neg THEN -1 ELSE 1 END)
           END AS cs_z_sq_signed_micro
    FROM s
    """


@register("stats_cox_stuart_trend_daily", oracle=_cox_stuart_oracle())
def stats_cox_stuart_trend_daily(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Cox–Stuart trend test (1955) on the daily order-count series:
    pair day i with day i + ceil(n/2) (the middle day drops out when n
    is odd), score each pair by sign, and run the binomial sign test on
    the m informative pairs — sign(S)*Z^2 = sign * (n_pos - n_neg)^2/m
    in the house exact form. The assumption-free member of the trend
    shelf: ``stats_mann_kendall_daily`` weighs ALL O(n^2) pairs,
    ``stats_theil_sen_trend`` estimates the slope, Cox–Stuart is the
    sign-only screen whose null is exactly Binomial(m, 1/2) under any
    exchangeable noise — the first test an analyst runs before
    trusting either of the others.

    Exactness: day indexing uses the calendar-bounded <=-rank self-join
    (house pattern, exact integer k); the half-offset pairing is an
    equi-join on k = k + c; counts and the final signed ratio are exact
    integers with one half-up micro division, NULL-guarded for the
    all-ties degenerate.

    Scale shape: one fact scan partial-aggregating to the ~2.4k-day
    table; the rank join and the offset join are day-domain-bounded;
    one scalar row out.
    """
    t = Tables(spark, sf_dir)
    idx = _daily_counts_idx_long(t)
    nn = idx.agg(F.count(F.lit(1)).cast("long").alias("n")).select(
        "n", F.floor((F.col("n") + 1) / 2).cast("long").alias("c")
    )
    a = idx.select(F.col("k").alias("ka"), F.col("y").alias("ya"))
    bb = idx.select(F.col("k").alias("kb"), F.col("y").alias("yb"))
    pairs = (
        a.crossJoin(F.broadcast(nn))
        .filter(F.col("ka") <= F.col("n") - F.col("c"))
        .join(bb, F.col("kb") == F.col("ka") + F.col("c"))
    )
    s = pairs.agg(
        F.count(F.lit(1)).cast("long").alias("n_pairs"),
        F.sum(F.when(F.col("yb") > F.col("ya"), 1).otherwise(0))
        .cast("long")
        .alias("n_pos"),
        F.sum(F.when(F.col("yb") < F.col("ya"), 1).otherwise(0))
        .cast("long")
        .alias("n_neg"),
    )
    m6 = F.lit(1_000_000).cast("decimal(38,0)")
    diff = F.col("n_pos") - F.col("n_neg")
    m = F.col("n_pos") + F.col("n_neg")
    return (
        nn.select("n")
        .crossJoin(F.broadcast(s))
        .select(
            F.col("n").alias("n_days"),
            "n_pairs",
            "n_pos",
            "n_neg",
            F.when(
                m > 0,
                halfup_div(m6 * dec38(diff) * dec38(diff), dec38(m)).cast("long")
                * F.when(diff < 0, F.lit(-1)).otherwise(F.lit(1)),
            )
            .cast("long")
            .alias("cs_z_sq_signed_micro"),
        )
    )


# ---------------------------------------------------------------------------
# Turning-point randomness test on the daily series
# ---------------------------------------------------------------------------


def _turning_oracle() -> str:
    hd = sql_halfup_div
    return f"""
    WITH {_SQL_DAILY_COUNTS_IDX}
    , tp AS (
      SELECT CAST(count(*) AS BIGINT) AS t
      FROM idx a
      JOIN idx l ON l.k = a.k - 1
      JOIN idx r ON r.k = a.k + 1
      WHERE (a.y > l.y AND a.y > r.y) OR (a.y < l.y AND a.y < r.y)
    ), nn AS (SELECT CAST(count(*) AS BIGINT) AS n FROM idx)
    SELECT nn.n AS n_days, tp.t AS n_turning,
           CAST({hd('1000000::HUGEINT * 2 * (nn.n - 2)', '3::HUGEINT')} AS BIGINT)
             AS expected_micro,
           CASE WHEN 16 * nn.n - 29 > 0 THEN
             CAST({hd('10000000::HUGEINT * (3 * tp.t - 2 * (nn.n - 2))'
                      ' * (3 * tp.t - 2 * (nn.n - 2))',
                      '16 * nn.n - 29')} AS BIGINT)
             * (CASE WHEN 3 * tp.t < 2 * (nn.n - 2) THEN -1 ELSE 1 END)
           END AS tp_z_sq_signed_micro
    FROM nn, tp
    """


@register("events_turning_points_daily", oracle=_turning_oracle())
def events_turning_points_daily(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Kendall's turning-point test on the daily order-count series:
    count strict local maxima/minima; under exchangeability E[T] =
    2(n-2)/3 and Var[T] = (16n-29)/90, so too FEW turning points mean
    trend/persistence and too MANY mean alternation (negative serial
    correlation). The oscillation-counting member of the randomness
    shelf — ``events_runs_test_daily`` counts sign runs about the
    median (level information), ``stats_runs_up_down_daily`` counts
    monotone runs; turning points weigh the LOCAL curvature and have
    the classic exact moments above.

    Exactness: all integers — T from strict comparisons on the lag
    pair joins; z^2 = (T - 2(n-2)/3)^2 / ((16n-29)/90) reduces to the
    exact rational 10*(3T - 2(n-2))^2 / (16n-29) [the /9 from squaring
    D/3 cancels against 90/9], evaluated as ONE half-up micro division
    of exact products (signed by the deficit direction), NULL-guarded
    for degenerate n.

    Scale shape: one fact scan to the ~2.4k-day table; the +-1 lag
    joins are calendar-bounded equi-joins on the rank; one scalar row.
    """
    t = Tables(spark, sf_dir)
    idx = _daily_counts_idx(t)
    a = idx.select(F.col("k").alias("ka"), F.col("y").alias("ya"))
    lft = idx.select(F.col("k").alias("kl"), F.col("y").alias("yl"))
    rgt = idx.select(F.col("k").alias("kr"), F.col("y").alias("yr"))
    tp = (
        a.join(lft, F.col("kl") == F.col("ka") - 1)
        .join(rgt, F.col("kr") == F.col("ka") + 1)
        .filter(
            ((F.col("ya") > F.col("yl")) & (F.col("ya") > F.col("yr")))
            | ((F.col("ya") < F.col("yl")) & (F.col("ya") < F.col("yr")))
        )
        .agg(F.count(F.lit(1)).cast("long").alias("t"))
    )
    nn = idx.agg(F.count(F.lit(1)).cast("long").alias("n"))
    m6 = F.lit(1_000_000).cast("decimal(38,0)")
    d = 3 * F.col("t") - 2 * (F.col("n") - 2)
    return nn.crossJoin(F.broadcast(tp)).select(
        F.col("n").alias("n_days"),
        F.col("t").alias("n_turning"),
        halfup_div(m6 * 2 * dec38(F.col("n") - 2), F.lit(3).cast("decimal(38,0)"))
        .cast("long")
        .alias("expected_micro"),
        F.when(
            16 * F.col("n") - 29 > 0,
            halfup_div(
                F.lit(10_000_000).cast("decimal(38,0)") * dec38(d) * dec38(d),
                dec38(16 * F.col("n") - 29),
            ).cast("long")
            * F.when(d < 0, F.lit(-1)).otherwise(F.lit(1)),
        )
        .cast("long")
        .alias("tp_z_sq_signed_micro"),
    )


# ---------------------------------------------------------------------------
# Foster–Stuart record test on the daily series
# ---------------------------------------------------------------------------


def _records_oracle() -> str:
    hd = sql_halfup_div
    return f"""
    WITH {_SQL_DAILY_COUNTS_IDX}
    , rec AS (
      SELECT a.k, a.y,
             CASE WHEN a.y > max(b.y) THEN 1 ELSE 0 END AS u,
             CASE WHEN a.y < min(b.y) THEN 1 ELSE 0 END AS l
      FROM idx a JOIN idx b ON b.k < a.k
      GROUP BY a.k, a.y
    ), cnt AS (
      SELECT CAST(sum(u) AS BIGINT) AS n_upper,
             CAST(sum(l) AS BIGINT) AS n_lower
      FROM rec
    ), var_m AS (
      -- Var(D) = 2 * sum of 1/i for i in 2..n, each term half-up micro once
      SELECT CAST(2 * sum({hd('1000000::HUGEINT', 'k')}) AS BIGINT) AS v
      FROM idx WHERE k >= 2
    ), nn AS (SELECT CAST(count(*) AS BIGINT) AS n FROM idx)
    SELECT nn.n AS n_days, c.n_upper, c.n_lower,
           (c.n_upper - c.n_lower) AS d_stat,
           (c.n_upper + c.n_lower) AS s_stat,
           v.v AS var_d_micro,
           CASE WHEN v.v > 0 THEN
             CAST({hd('1000000000000::HUGEINT * (c.n_upper - c.n_lower)'
                      ' * (c.n_upper - c.n_lower)', 'v.v')} AS BIGINT)
             * (CASE WHEN c.n_upper < c.n_lower THEN -1 ELSE 1 END)
           END AS fs_z_sq_signed_micro
    FROM nn, cnt c, var_m v
    """


@register("events_records_foster_stuart", oracle=_records_oracle())
def events_records_foster_stuart(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Foster–Stuart record test (1954) on the daily order counts:
    count upper records (strictly above every earlier day) and lower
    records; D = U - L tests TREND (records should balance under
    exchangeability, Var(D) = 2 sum_{i=2..n} 1/i), S = U + L tests
    dispersion change. The extreme-value member of the trend shelf —
    Mann–Kendall weighs all pairs, Cox–Stuart the half-offset signs;
    records react ONLY to new extremes, which is what capacity
    planning actually watches (a trend that never sets records is not
    a provisioning problem).

    Exactness: record flags are strict comparisons against exact
    prefix max/min (rank self-join, GROUP BY carries the current
    day's y so the flag is computed post-aggregate); Var(D)'s harmonic
    sum quantizes each 1/i term half-up micro ONCE (deterministic on
    both engines, <= 0.5e-6 per term); the signed z^2 is one half-up
    division.

    Scale shape: calendar-bounded — the prefix join is day x day on
    ~2.4k rows; three scalar aggregates out.
    """
    t = Tables(spark, sf_dir)
    idx = _daily_counts_idx(t)
    a = idx.select(F.col("k").alias("ka"), F.col("y").alias("ya"))
    b = idx.select(F.col("k").alias("kb"), F.col("y").alias("yb"))
    rec = (
        a.join(F.broadcast(b), F.col("kb") < F.col("ka"))
        .groupBy("ka", "ya")
        .agg(F.max("yb").alias("pmax"), F.min("yb").alias("pmin"))
        .select(
            F.when(F.col("ya") > F.col("pmax"), 1).otherwise(0).alias("u"),
            F.when(F.col("ya") < F.col("pmin"), 1).otherwise(0).alias("l"),
        )
    )
    cnt = rec.agg(
        F.sum("u").cast("long").alias("n_upper"),
        F.sum("l").cast("long").alias("n_lower"),
    )
    m6 = F.lit(1_000_000).cast("decimal(38,0)")
    var_m = (
        idx.filter(F.col("k") >= 2)
        .agg(F.sum(halfup_div(m6, dec38(F.col("k")))).alias("hsum"))
        .select((2 * F.col("hsum")).cast("long").alias("v"))
    )
    nn = idx.agg(F.count(F.lit(1)).cast("long").alias("n"))
    d = F.col("n_upper") - F.col("n_lower")
    return (
        nn.crossJoin(F.broadcast(cnt))
        .crossJoin(F.broadcast(var_m))
        .select(
            F.col("n").alias("n_days"),
            "n_upper",
            "n_lower",
            d.alias("d_stat"),
            (F.col("n_upper") + F.col("n_lower")).alias("s_stat"),
            F.col("v").alias("var_d_micro"),
            F.when(
                F.col("v") > 0,
                halfup_div(
                    F.lit(10**12).cast("decimal(38,0)") * dec38(d) * dec38(d),
                    dec38(F.col("v")),
                ).cast("long")
                * F.when(d < 0, F.lit(-1)).otherwise(F.lit(1)),
            )
            .cast("long")
            .alias("fs_z_sq_signed_micro"),
        )
    )


# ---------------------------------------------------------------------------
# Engle's ARCH LM test on the daily OLS residuals
# ---------------------------------------------------------------------------


def _arch_oracle() -> str:
    return f"""
    WITH {_SQL_BP_RESID_CTES}, z AS (
      SELECT k, (u * u) AS z FROM resid
    ), pairs AS (
      SELECT a.z AS x, b.z AS y
      FROM z a JOIN z b ON b.k = a.k + 1
    ), s AS (
      SELECT CAST(count(*) AS HUGEINT) AS np,
             CAST(sum(x) AS HUGEINT) AS sx, CAST(sum(y) AS HUGEINT) AS sy,
             CAST(sum(x * x) AS HUGEINT) AS sxx,
             CAST(sum(y * y) AS HUGEINT) AS syy,
             CAST(sum(x * y) AS HUGEINT) AS sxy
      FROM pairs
    )
    SELECT CAST(np AS BIGINT) AS n_pairs,
           CASE WHEN (np * sxx - sx * sx) > 0 AND (np * syy - sy * sy) > 0 THEN
             CAST(floor(
               (CAST(np * sxy - sx * sy AS DOUBLE)
                * CAST(np * sxy - sx * sy AS DOUBLE)) * 1000000.0
               / CAST(np * sxx - sx * sx AS DOUBLE)
               / CAST(np * syy - sy * sy AS DOUBLE) + 0.5) AS BIGINT)
           END AS arch_r2_micro,
           CASE WHEN (np * sxx - sx * sx) > 0 AND (np * syy - sy * sy) > 0 THEN
             CAST(np AS BIGINT) * CAST(floor(
               (CAST(np * sxy - sx * sy AS DOUBLE)
                * CAST(np * sxy - sx * sy AS DOUBLE)) * 1000000.0
               / CAST(np * sxx - sx * sx AS DOUBLE)
               / CAST(np * syy - sy * sy AS DOUBLE) + 0.5) AS BIGINT)
           END AS arch_lm_micro
    FROM s
    """


@register("stats_arch_lm_daily", oracle=_arch_oracle())
def stats_arch_lm_daily(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Engle's ARCH(1) LM test (1982) on the daily order-count OLS
    residuals: regress the squared residual on its own lag; LM =
    n * R^2 is chi-square(1) under "no volatility clustering".
    Completes the residual-diagnostic suite on the SHARED
    Breusch–Pagan residual table (``daily._bp_resid`` /
    ``resid`` in ``_SQL_BP_RESID_CTES`` — one derivation, two
    consumers): Durbin–Watson tests residual LEVEL autocorrelation,
    Breusch–Pagan variance drift WITH TIME; ARCH tests variance
    clustering WITH ITSELF, which decides whether daily-volume
    confidence bands can assume constant variance from one week to
    the next.

    Exactness: squared residuals are exact integers (centi^2 units);
    all six sufficient sums are exact; R^2 = (nSxy - SxSy)^2 /
    ((nSxx - Sx^2)(nSyy - Sy^2)) is evaluated in the shape-matched
    IEEE double sequence (the Dunn/KW precedent — the exact-integer
    numerator square overflows decimal(38,0) at the x10 replica
    scale), micro-quantized once; LM multiplies the SAME quantized
    R^2 by the exact integer n (no second rounding). NULL-guarded
    degenerate variances.

    Scale shape: calendar-bounded — residuals live on the ~2.4k-day
    table, the lag pairing is one rank equi-join, one sufficient-sum
    aggregate out.
    """
    t = Tables(spark, sf_dir)
    z = _bp_resid(t).select("k", (F.col("u") * F.col("u")).alias("z"))
    a = z.select(F.col("k").alias("ka"), F.col("z").alias("x"))
    b = z.select(F.col("k").alias("kb"), F.col("z").alias("y"))
    pairs = a.join(b, F.col("kb") == F.col("ka") + 1)
    s = pairs.agg(
        dec38(F.count(F.lit(1))).alias("np"),
        F.sum("x").alias("sx"),
        F.sum("y").alias("sy"),
        F.sum(F.col("x") * F.col("x")).alias("sxx"),
        F.sum(F.col("y") * F.col("y")).alias("syy"),
        F.sum(F.col("x") * F.col("y")).alias("sxy"),
    )
    vx = F.col("np") * F.col("sxx") - F.col("sx") * F.col("sx")
    vy = F.col("np") * F.col("syy") - F.col("sy") * F.col("sy")
    cxy = F.col("np") * F.col("sxy") - F.col("sx") * F.col("sy")
    r2 = F.floor(
        (cxy.cast("double") * cxy.cast("double"))
        * F.lit(1000000.0)
        / vx.cast("double")
        / vy.cast("double")
        + F.lit(0.5)
    ).cast("long")
    ok = (vx > 0) & (vy > 0)
    return s.select(
        F.col("np").cast("long").alias("n_pairs"),
        F.when(ok, r2).alias("arch_r2_micro"),
        F.when(ok, F.col("np").cast("long") * r2).alias("arch_lm_micro"),
    )


# ---------------------------------------------------------------------------
# QS seasonality test on the differenced daily series
# ---------------------------------------------------------------------------

QS_LAGS = (7, 14)


def _qs_oracle() -> str:
    lag_terms = " + ".join(
        f"((CAST(c{L} AS DOUBLE) * CAST(c{L} AS DOUBLE)) / CAST(c0 AS DOUBLE)"
        f" / CAST(c0 AS DOUBLE) / CAST(m - {L} AS DOUBLE))"
        for L in QS_LAGS
    )
    lag_cols = ", ".join(
        f"""(SELECT CAST(sum(a.w * b.w) AS HUGEINT) FROM wser a
             JOIN wser b ON b.j = a.j + {L}) AS c{L}"""
        for L in QS_LAGS
    )
    r_cols = ", ".join(
        f"""CASE WHEN c0 > 0 THEN
              CAST(floor(abs(CAST(c{L} AS DOUBLE) / CAST(c0 AS DOUBLE))
                         * 1000000.0 + 0.5) AS BIGINT)
              * (CASE WHEN c{L} < 0 THEN -1 ELSE 1 END) END AS r{L}_micro"""
        for L in QS_LAGS
    )
    return f"""
    WITH {_SQL_DAILY_COUNTS_IDX.strip()}
    , zser AS (
      SELECT CAST(a.k - 1 AS HUGEINT) AS j, CAST(a.y - b.y AS HUGEINT) AS z
      FROM idx a JOIN idx b ON b.k = a.k - 1
    ), mt AS (
      SELECT CAST(count(*) AS HUGEINT) AS m, CAST(sum(z) AS HUGEINT) AS sz
      FROM zser
    ), wser AS (
      SELECT z.j, (t.m * z.z - t.sz) AS w FROM zser z, mt t
    ), cc AS (
      SELECT (SELECT CAST(sum(w * w) AS HUGEINT) FROM wser) AS c0,
             {lag_cols},
             (SELECT m FROM mt) AS m
    )
    SELECT CAST(m AS BIGINT) AS m, {r_cols},
           CASE WHEN c0 > 0 THEN CAST(floor(
             ({lag_terms}) * CAST(m * (m + 2) AS DOUBLE) * 1000.0 + 0.5)
             AS BIGINT) END AS qs_milli
    FROM cc
    """


@register("events_qs_seasonality_test", oracle=_qs_oracle())
def events_qs_seasonality_test(spark: SparkSession, sf_dir: str) -> DataFrame:
    """QS residual-seasonality test on the FIRST-DIFFERENCED daily
    order series: the Ljung-Box statistic restricted to the seasonal
    lags {{7, 14}} (the X-13ARIMA-SEATS / `seasonal` package QS
    diagnostic) — "after removing the trend by differencing, is there
    still weekly structure?". ``stats_ljung_box_daily`` sweeps the
    short lags of the level series (trend leaks into every lag); QS
    isolates exactly the two harmonics a weekly cycle would leave in
    the differences, which is the accept/reject gate seasonal
    adjustment pipelines publish.

    Exactness: differencing and centering stay integer (w_j = m z_j -
    sum z, the N-scaled centering shared with the DFA profile); the
    lag products c_7 / c_14 and the energy c_0 are exact integer sums
    over calendar-bounded lag joins; each r_L and the QS combination
    are ONE shape-matched IEEE double sequence each (the Dunn
    precedent), sign-carried for r_L, quantized at micro/milli.

    Scale shape: one fact scan partial-aggregates to the calendar-day
    domain; the difference and lag joins are day-keyed equi-joins on
    the POST-AGGREGATION calendar table; 1 row out.
    """
    t = Tables(spark, sf_dir)
    idx = _daily_counts_idx(t)
    prev = idx.select((F.col("k") + 1).alias("k"), F.col("y").alias("y_prev"))
    zser = (
        idx.join(prev, "k")
        .select((F.col("k") - 1).alias("j"), (F.col("y") - F.col("y_prev")).alias("z"))
        .localCheckpoint(eager=True)  # calendar-sized; four consumers
    )
    mt = zser.agg(dec38(F.count(F.lit(1))).alias("m"), F.sum("z").alias("sz"))
    wser = zser.crossJoin(F.broadcast(mt)).select(
        "j", (F.col("m") * F.col("z") - F.col("sz")).alias("w"), "m"
    )
    c0 = wser.agg(F.sum(F.col("w") * F.col("w")).alias("c0"), F.first("m").alias("m"))
    lag_aggs = {}
    for L in QS_LAGS:
        b = wser.select((F.col("j") + L).alias("j"), F.col("w").alias("w_b"))
        lag_aggs[L] = (
            wser.join(b, "j")
            .agg(F.sum(F.col("w_b") * F.col("w")).alias(f"c{L}"))
        )
    cc = c0
    for L in QS_LAGS:
        cc = cc.crossJoin(F.broadcast(lag_aggs[L]))
    cols = [F.col("m").cast("long").alias("m")]
    qs_terms = None
    for L in QS_LAGS:
        cL = F.col(f"c{L}")
        r = F.floor(
            F.abs(cL.cast("double") / F.col("c0").cast("double")) * F.lit(1e6)
            + F.lit(0.5)
        ).cast("long") * F.when(cL < 0, F.lit(-1)).otherwise(F.lit(1))
        cols.append(F.when(F.col("c0") > 0, r).alias(f"r{L}_micro"))
        term = (
            (cL.cast("double") * cL.cast("double"))
            / F.col("c0").cast("double")
            / F.col("c0").cast("double")
            / (F.col("m") - L).cast("double")
        )
        qs_terms = term if qs_terms is None else qs_terms + term
    qs = F.floor(
        qs_terms * (F.col("m") * (F.col("m") + 2)).cast("double") * F.lit(1000.0)
        + F.lit(0.5)
    ).cast("long")
    cols.append(F.when(F.col("c0") > 0, qs).alias("qs_milli"))
    return cc.select(*cols)


# ---------------------------------------------------------------------------
# Effective sample size of the autocorrelated daily series
# ---------------------------------------------------------------------------

ESS_MAX_LAG = 7


def _ess_oracle() -> str:
    hd = sql_halfup_div
    lag_cols = " + ".join(
        f"""(SELECT CAST(sum(a.w * b.w) AS HUGEINT) FROM wser a
             JOIN wser b ON b.j = a.j + {L})"""
        for L in range(1, ESS_MAX_LAG + 1)
    )
    return f"""
    WITH {_SQL_DAILY_COUNTS_IDX.strip()}
    , mt AS (
      SELECT CAST(count(*) AS HUGEINT) AS m, CAST(sum(y) AS HUGEINT) AS sy
      FROM idx
    ), wser AS (
      SELECT i.k AS j, (t.m * i.y - t.sy) AS w FROM idx i, mt t
    ), cc AS (
      SELECT (SELECT CAST(sum(w * w) AS HUGEINT) FROM wser) AS c0,
             ({lag_cols}) AS csum,
             (SELECT m FROM mt) AS m
    )
    SELECT CAST(m AS BIGINT) AS n_days,
           CASE WHEN c0 > 0 THEN
             CAST({hd('1000000::HUGEINT * csum', 'c0')} AS BIGINT) END
             AS sum_r_micro,
           CASE WHEN c0 > 0 AND c0 + 2 * csum > 0 THEN
             CAST({hd('1000::HUGEINT * m * c0', 'c0 + 2 * csum')} AS BIGINT)
           END AS ess_milli
    FROM cc
    """


@register("stats_effective_sample_size_daily", oracle=_ess_oracle())
def stats_effective_sample_size_daily(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Kish-style effective sample size of the daily order series:
    N_eff = N / (1 + 2 sum_{k=1..7} rho_k) — how many INDEPENDENT
    observations the autocorrelated daily counts are actually worth
    when a monitor builds a confidence interval on the daily mean
    (Kish 1965; the MCMC ESS with a hard lag cutoff). The ACF family
    reports the rho_k themselves; this is the single number that says
    "your 2,400-day history has the statistical weight of N_eff
    independent days", i.e. how much to widen the bands.

    Exactness: the centered series w_j = N y_j - S is exact integer
    (the QS/DFA convention); c_0 and the 7 lag autocovariances are
    exact integer sums over calendar lag joins; both outputs are pure
    rational — ONE half-up division each (sum of rho in micro; ESS in
    milli-days = 1e3 N c_0 / (c_0 + 2 sum c_k)), NULL-guarded for the
    degenerate variance and non-positive denominator.

    Scale shape: one fact scan partial-aggregates to the calendar-day
    domain; 7 day-keyed lag equi-joins on the POST-AGGREGATION
    table; 1 row out.
    """
    t = Tables(spark, sf_dir)
    idx = _daily_counts_idx(t)
    mt = idx.agg(dec38(F.count(F.lit(1))).alias("m"), F.sum("y").alias("sy"))
    wser = idx.crossJoin(F.broadcast(mt)).select(
        F.col("k").alias("j"),
        (F.col("m") * F.col("y") - F.col("sy")).alias("w"),
        "m",
    )
    c0 = wser.agg(
        F.sum(F.col("w") * F.col("w")).alias("c0"), F.first("m").alias("m")
    )
    cc = c0
    for L in range(1, ESS_MAX_LAG + 1):
        b = wser.select((F.col("j") + L).alias("j"), F.col("w").alias("w_b"))
        cL = wser.join(b, "j").agg(F.sum(F.col("w_b") * F.col("w")).alias(f"c{L}"))
        cc = cc.crossJoin(F.broadcast(cL))
    csum = sum(F.col(f"c{L}") for L in range(1, ESS_MAX_LAG + 1))
    m6 = F.lit(1_000_000).cast("decimal(38,0)")
    k3 = F.lit(1000).cast("decimal(38,0)")
    den = F.col("c0") + F.lit(2).cast("decimal(38,0)") * csum
    return cc.select(
        F.col("m").cast("long").alias("n_days"),
        F.when(F.col("c0") > 0, halfup_div(m6 * csum, F.col("c0")).cast("long"))
        .alias("sum_r_micro"),
        F.when(
            (F.col("c0") > 0) & (den > 0),
            halfup_div(k3 * F.col("m") * F.col("c0"), den).cast("long"),
        ).alias("ess_milli"),
    )
