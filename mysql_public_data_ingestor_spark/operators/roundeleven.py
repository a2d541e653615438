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
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql.window import Window

from ..functions.exact import dec38, halfup_div, sql_halfup_div
from ..registry import register
from ..tables import Tables


# ---------------------------------------------------------------------------
# 1. Discrete Bass diffusion fit on cumulative signups
# ---------------------------------------------------------------------------

BASS_SCALE_SHIFT = 6  # cumulative adopters scaled by >>6 for det headroom


def _bass_oracle() -> str:
    from ..functions.exact import sql_round_big_int_ratio

    sh = BASS_SCALE_SHIFT
    return f"""
    WITH daily AS (
      SELECT CAST(ts AS DATE) AS d, CAST(count(*) AS BIGINT) AS s
      FROM events WHERE event_type = 'signup' GROUP BY 1
    ), idx AS (
      SELECT a.d, a.s, CAST(count(*) AS BIGINT) AS k
      FROM daily a JOIN daily b ON b.d <= a.d
      GROUP BY a.d, a.s
    ), cum AS (
      SELECT k, s, CAST(sum(s) OVER (ORDER BY k) - s AS BIGINT) AS nprev
      FROM idx
    ), xy AS (
      SELECT s AS y, nprev >> {sh} AS x1,
             (nprev >> {sh}) * (nprev >> {sh}) AS x2
      FROM cum WHERE k > 1
    ), m AS (
      SELECT CAST(count(*) AS HUGEINT) AS n,
             CAST(sum(x1) AS HUGEINT) AS s1, CAST(sum(x2) AS HUGEINT) AS s2,
             CAST(sum(x1::HUGEINT * x1) AS HUGEINT) AS s11,
             CAST(sum(x1::HUGEINT * x2) AS HUGEINT) AS s12,
             CAST(sum(x2::HUGEINT * x2) AS HUGEINT) AS s22,
             CAST(sum(y) AS HUGEINT) AS sy,
             CAST(sum(x1::HUGEINT * y) AS HUGEINT) AS sy1,
             CAST(sum(x2::HUGEINT * y) AS HUGEINT) AS sy2
      FROM xy
    ), det AS (
      SELECT n,
             n*(s11*s22 - s12*s12) - s1*(s1*s22 - s12*s2)
               + s2*(s1*s12 - s11*s2) AS dd,
             sy*(s11*s22 - s12*s12) - s1*(sy1*s22 - s12*sy2)
               + s2*(sy1*s12 - s11*sy2) AS da,
             n*(sy1*s22 - sy2*s12) - sy*(s1*s22 - s12*s2)
               + s2*(s1*sy2 - sy1*s2) AS db,
             n*(s11*sy2 - s12*sy1) - s1*(s1*sy2 - sy1*s2)
               + sy*(s1*s12 - s11*s2) AS dc
      FROM m
    )
    SELECT CAST(n AS BIGINT) AS n_days,
           {sql_round_big_int_ratio('da', 'dd')} AS coef_a,
           {sql_round_big_int_ratio('db', 'dd')} AS coef_b,
           {sql_round_big_int_ratio('dc', 'dd')} AS coef_c
    FROM det WHERE dd <> 0
    """


@register("events_bass_diffusion_fit", _bass_oracle())
def events_bass_diffusion_fit(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Discrete Bass diffusion fit of daily signups: regress new
    adopters S_t on cumulative prior adoption N_{t−1} and N_{t−1}² —
    the Bass identity S_t = pM + (q−p)N − (q/M)N², so the fitted
    (a, b, c) recover innovation p, imitation q and market size M.
    The adoption-curve member of the product-analytics family (the
    retention-decay fit models leaving; this models arriving).

    Exact path: a 3-regressor OLS solved by Cramer determinants over
    the 3×3 normal-equation matrix — every entry an exact integer sum,
    each coefficient one round_big_int_ratio of two 128-bit
    determinants. Cumulative adoption is pre-scaled by a FIXED >>6
    (identically in both engines) so the degree-6 determinant terms
    stay ≲ 10³² at sf1×10 instead of overflowing decimal(38) — a
    constant rescale of x1/x2 that only rescales b and c, documented
    in the coefficient semantics (b, c are per-64-adopters units).

    Scale shape: fact scan partial-aggregates to the ~30-row signup
    calendar; the rank comes from the house broadcast non-equi
    self-join; the single ordered cumulative runs over that bounded
    POST-AGGREGATION spine (same class as stats_ljung_box_daily's
    allowlist entry — here it collapses into the scalar aggregate).
    """
    from ..functions.exact import round_big_int_ratio

    sh = BASS_SCALE_SHIFT
    t = Tables(spark, sf_dir)
    daily = t.events.filter(F.col("event_type") == "signup").groupBy(
        F.to_date("ts").alias("d")
    ).agg(F.count(F.lit(1)).alias("s"))
    b0 = daily.select(F.col("d").alias("d_b"))
    idx = (
        daily.join(F.broadcast(b0), F.col("d_b") <= F.col("d"))
        .groupBy("d", "s")
        .agg(F.count(F.lit(1)).alias("k"))
    )
    # nprev via a second bounded non-equi self-join (strictly-earlier
    # ranks), keeping the plan window-free
    ib = idx.select(F.col("k").alias("k_b"), F.col("s").alias("s_b"))
    cum = (
        idx.join(F.broadcast(ib), F.col("k_b") < F.col("k"), "left")
        .groupBy("k", "s")
        .agg(F.coalesce(F.sum("s_b"), F.lit(0)).alias("nprev"))
    )
    x1 = (F.col("nprev") / F.lit(1 << sh)).cast("long")
    xy = cum.filter(F.col("k") > 1).select(
        F.col("s").alias("y"), x1.alias("x1")
    ).withColumn("x2", F.col("x1") * F.col("x1"))
    m = xy.agg(
        dec38(F.count(F.lit(1))).alias("n"),
        dec38(F.sum("x1")).alias("s1"),
        dec38(F.sum("x2")).alias("s2"),
        F.sum(dec38(F.col("x1")) * dec38(F.col("x1"))).alias("s11"),
        F.sum(dec38(F.col("x1")) * dec38(F.col("x2"))).alias("s12"),
        F.sum(dec38(F.col("x2")) * dec38(F.col("x2"))).alias("s22"),
        dec38(F.sum("y")).alias("sy"),
        F.sum(dec38(F.col("x1")) * dec38(F.col("y"))).alias("sy1"),
        F.sum(dec38(F.col("x2")) * dec38(F.col("y"))).alias("sy2"),
    )
    n, s1, s2 = F.col("n"), F.col("s1"), F.col("s2")
    s11, s12, s22 = F.col("s11"), F.col("s12"), F.col("s22")
    sy, sy1, sy2 = F.col("sy"), F.col("sy1"), F.col("sy2")
    det = m.select(
        n.alias("n"),
        (
            n * (s11 * s22 - s12 * s12)
            - s1 * (s1 * s22 - s12 * s2)
            + s2 * (s1 * s12 - s11 * s2)
        ).alias("dd"),
        (
            sy * (s11 * s22 - s12 * s12)
            - s1 * (sy1 * s22 - s12 * sy2)
            + s2 * (sy1 * s12 - s11 * sy2)
        ).alias("da"),
        (
            n * (sy1 * s22 - sy2 * s12)
            - sy * (s1 * s22 - s12 * s2)
            + s2 * (s1 * sy2 - sy1 * s2)
        ).alias("db"),
        (
            n * (s11 * sy2 - s12 * sy1)
            - s1 * (s1 * sy2 - sy1 * s2)
            + sy * (s1 * s12 - s11 * s2)
        ).alias("dc"),
    )
    return det.filter(F.col("dd") != 0).select(
        F.col("n").cast("long").alias("n_days"),
        round_big_int_ratio(F.col("da"), F.col("dd")).alias("coef_a"),
        round_big_int_ratio(F.col("db"), F.col("dd")).alias("coef_b"),
        round_big_int_ratio(F.col("dc"), F.col("dd")).alias("coef_c"),
    )


# ---------------------------------------------------------------------------
# 2. Granger-style lag-1 regression comparison (view -> purchase)
# ---------------------------------------------------------------------------


def _granger_oracle() -> str:
    from ..functions.exact import sql_round_big_int_ratio

    return f"""
    WITH days AS (
      SELECT DISTINCT CAST(ts AS DATE) AS d FROM events
    ), cx AS (
      SELECT CAST(ts AS DATE) AS d, CAST(count(*) AS BIGINT) AS c
      FROM events WHERE event_type = 'view' GROUP BY 1
    ), cy AS (
      SELECT CAST(ts AS DATE) AS d, CAST(count(*) AS BIGINT) AS c
      FROM events WHERE event_type = 'purchase' GROUP BY 1
    ), filled AS (
      SELECT days.d, coalesce(cx.c, 0) AS x, coalesce(cy.c, 0) AS y
      FROM days LEFT JOIN cx ON cx.d = days.d LEFT JOIN cy ON cy.d = days.d
    ), idx AS (
      SELECT a.d, a.x, a.y, CAST(count(*) AS BIGINT) AS k
      FROM filled a JOIN filled b ON b.d <= a.d
      GROUP BY a.d, a.x, a.y
    ), rows_ AS (
      SELECT a.y AS y, b.y AS x1, b.x AS x2
      FROM idx a JOIN idx b ON b.k = a.k - 1
    ), m AS (
      SELECT CAST(count(*) AS HUGEINT) AS n,
             CAST(sum(x1) AS HUGEINT) AS s1, CAST(sum(x2) AS HUGEINT) AS s2,
             CAST(sum(x1::HUGEINT * x1) AS HUGEINT) AS s11,
             CAST(sum(x1::HUGEINT * x2) AS HUGEINT) AS s12,
             CAST(sum(x2::HUGEINT * x2) AS HUGEINT) AS s22,
             CAST(sum(y) AS HUGEINT) AS sy,
             CAST(sum(x1::HUGEINT * y) AS HUGEINT) AS sy1,
             CAST(sum(x2::HUGEINT * y) AS HUGEINT) AS sy2,
             CAST(sum(y::HUGEINT * y) AS HUGEINT) AS syy
      FROM rows_
    ), fits AS (
      SELECT n, syy, sy, sy1, sy2,
             -- restricted: y ~ 1 + x1 (own lag only)
             n * s11 - s1 * s1 AS dr,
             (n * sy1 - s1 * sy) AS br_num,
             -- unrestricted 3x3 Cramer determinants
             n*(s11*s22 - s12*s12) - s1*(s1*s22 - s12*s2)
               + s2*(s1*s12 - s11*s2) AS dd,
             sy*(s11*s22 - s12*s12) - s1*(sy1*s22 - s12*sy2)
               + s2*(sy1*s12 - s11*sy2) AS da,
             n*(sy1*s22 - sy2*s12) - sy*(s1*s22 - s12*s2)
               + s2*(s1*sy2 - sy1*s2) AS db,
             n*(s11*sy2 - s12*sy1) - s1*(s1*sy2 - sy1*s2)
               + sy*(s1*s12 - s11*s2) AS dc
      FROM m
    ), ssr AS (
      -- centered R^2 identities in cleared-denominator integer space:
      -- restricted  R^2 = br_num^2 / (tss_n * dr)
      -- unrestricted R^2 = (n * beta'X'y * D - Sy^2 * D) / (tss_n * D)
      --   with beta*D = (da, db, dc)
      SELECT n,
             (n * syy - sy * sy) AS tss_n,
             br_num * br_num AS expl_r_scaled,
             dr, dd,
             n * (da * sy + db * sy1 + dc * sy2) - sy * sy * dd
               AS expl_u_scaled
      FROM fits
    )
    SELECT CAST(n AS BIGINT) AS n_pairs,
           {sql_round_big_int_ratio('expl_r_scaled', 'tss_n * dr')}
             AS r2_restricted,
           {sql_round_big_int_ratio('expl_u_scaled', 'tss_n * dd')}
             AS r2_unrestricted
    FROM ssr
    WHERE tss_n > 0 AND dr > 0 AND dd > 0
    """


@register("events_granger_lag1_test", _granger_oracle())
def events_granger_lag1_test(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Granger-style lag-1 predictability comparison: does yesterday's
    VIEW count improve the prediction of today's PURCHASE count beyond
    yesterday's purchases alone? Reports R² of the restricted model
    (purchases ~ own lag) and the unrestricted one (+ view lag) — the
    regression-based causality screen completing the lead-lag pair
    with events_ccf_types_lags (CCF is bivariate symmetric; Granger
    conditions on the own-lag).

    Exactness: both R² values are exact integer ratios. Restricted:
    R² = (nSxy − SxSy)²/((nSxx − Sx²)(nSyy − Sy²)). Unrestricted: from
    the 3×3 Cramer solution β·D = (Dα, Dβ1, Dβ2), explained sum of
    squares obeys R² = (n·βᵀX'y·D − Sy²·D²)/((nSyy − Sy²)·D²) — every
    term an exact 128-bit integer, one round_big_int_ratio each
    (|terms| ≲ 10³⁰ at sf1×10 over the 30-day grid). Zero-variance
    series empty the output identically on both engines.

    Scale shape: identical to the CCF op — per-(type, day) partial
    aggregation, calendar-bounded spine, broadcast rank join, lag-1
    rank equi-join; the regression is a scalar aggregate.
    """
    from ..functions.exact import round_big_int_ratio

    t = Tables(spark, sf_dir)
    ev = t.events.select(F.to_date("ts").alias("d"), "event_type")
    days = ev.select("d").distinct()
    cx = (
        ev.filter(F.col("event_type") == "view")
        .groupBy("d")
        .agg(F.count(F.lit(1)).alias("cx"))
    )
    cy = (
        ev.filter(F.col("event_type") == "purchase")
        .groupBy("d")
        .agg(F.count(F.lit(1)).alias("cy"))
    )
    filled = (
        days.join(cx, "d", "left")
        .join(cy, "d", "left")
        .select(
            "d",
            F.coalesce(F.col("cx"), F.lit(0)).alias("x"),
            F.coalesce(F.col("cy"), F.lit(0)).alias("y"),
        )
    )
    b0 = filled.select(F.col("d").alias("d_b"))
    idx = (
        filled.join(F.broadcast(b0), F.col("d_b") <= F.col("d"))
        .groupBy("d", "x", "y")
        .agg(F.count(F.lit(1)).alias("k"))
    )
    ia = idx.select(F.col("k").alias("k_a"), F.col("y").alias("ya"))
    ib = idx.select(
        F.col("k").alias("k_b"), F.col("y").alias("x1"), F.col("x").alias("x2")
    )
    rows = ia.join(ib, F.col("k_b") == F.col("k_a") - 1).select(
        F.col("ya").alias("y"), "x1", "x2"
    )
    m = rows.agg(
        dec38(F.count(F.lit(1))).alias("n"),
        dec38(F.sum("x1")).alias("s1"),
        dec38(F.sum("x2")).alias("s2"),
        F.sum(dec38(F.col("x1")) * dec38(F.col("x1"))).alias("s11"),
        F.sum(dec38(F.col("x1")) * dec38(F.col("x2"))).alias("s12"),
        F.sum(dec38(F.col("x2")) * dec38(F.col("x2"))).alias("s22"),
        dec38(F.sum("y")).alias("sy"),
        F.sum(dec38(F.col("x1")) * dec38(F.col("y"))).alias("sy1"),
        F.sum(dec38(F.col("x2")) * dec38(F.col("y"))).alias("sy2"),
        F.sum(dec38(F.col("y")) * dec38(F.col("y"))).alias("syy"),
    )
    n, s1, s2 = F.col("n"), F.col("s1"), F.col("s2")
    s11, s12, s22 = F.col("s11"), F.col("s12"), F.col("s22")
    sy, sy1, sy2, syy = F.col("sy"), F.col("sy1"), F.col("sy2"), F.col("syy")
    fits = m.select(
        n.alias("n"),
        syy.alias("syy"),
        sy.alias("sy"),
        (n * s11 - s1 * s1).alias("dr"),
        (n * sy1 - s1 * sy).alias("br_num"),
        (
            n * (s11 * s22 - s12 * s12)
            - s1 * (s1 * s22 - s12 * s2)
            + s2 * (s1 * s12 - s11 * s2)
        ).alias("dd"),
        (
            sy * (s11 * s22 - s12 * s12)
            - s1 * (sy1 * s22 - s12 * sy2)
            + s2 * (sy1 * s12 - s11 * sy2)
        ).alias("da"),
        (
            n * (sy1 * s22 - sy2 * s12)
            - sy * (s1 * s22 - s12 * s2)
            + s2 * (s1 * sy2 - sy1 * s2)
        ).alias("db"),
        (
            n * (s11 * sy2 - s12 * sy1)
            - s1 * (s1 * sy2 - sy1 * s2)
            + sy * (s1 * s12 - s11 * s2)
        ).alias("dc"),
        sy1.alias("sy1v"),
        sy2.alias("sy2v"),
    )
    tss_n = fits["n"] * F.col("syy") - F.col("sy") * F.col("sy")
    bty_dd = (
        F.col("da") * F.col("sy")
        + F.col("db") * F.col("sy1v")
        + F.col("dc") * F.col("sy2v")
    )
    out = fits.select(
        F.col("n").cast("long").alias("n_pairs"),
        tss_n.alias("tss_n"),
        F.col("dr"),
        F.col("dd"),
        (F.col("br_num") * F.col("br_num")).alias("expl_r_scaled"),
        (fits["n"] * bty_dd - F.col("sy") * F.col("sy") * F.col("dd")).alias(
            "expl_u_scaled"
        ),
    )
    return out.filter(
        (F.col("tss_n") > 0) & (F.col("dr") > 0) & (F.col("dd") > 0)
    ).select(
        "n_pairs",
        round_big_int_ratio(
            F.col("expl_r_scaled"), F.col("tss_n") * F.col("dr")
        ).alias("r2_restricted"),
        round_big_int_ratio(
            F.col("expl_u_scaled"), F.col("tss_n") * F.col("dd")
        ).alias("r2_unrestricted"),
    )


# ---------------------------------------------------------------------------
# 3. Tukey HSD post-hoc pairs (l_quantity by order priority)
# ---------------------------------------------------------------------------


def _tukey_oracle() -> str:
    from ..functions.exact import sql_round_big_int_ratio

    return f"""
    WITH jn AS (
      SELECT o.o_orderpriority AS g, CAST(l.l_quantity AS BIGINT) AS q
      FROM lineitem l JOIN orders o ON o.o_orderkey = l.l_orderkey
    ), grp AS (
      SELECT g, CAST(count(*) AS HUGEINT) AS n,
             CAST(sum(q) AS HUGEINT) AS s,
             CAST(sum(q * q) AS HUGEINT) AS qq
      FROM jn GROUP BY g
    ), gq AS (
      SELECT g, n, s,
             {sql_halfup_div('10000::HUGEINT * s', 'n')} AS mq,
             {sql_halfup_div('10000::HUGEINT * (n * qq - s * s)', 'n')} AS sswq
      FROM grp
    ), tot AS (
      SELECT CAST(sum(n) AS HUGEINT) AS nn,
             CAST(count(*) AS HUGEINT) AS kk,
             CAST(sum(sswq) AS HUGEINT) AS ssw
      FROM gq
    ), pairs AS (
      SELECT a.g AS prio_a, b.g AS prio_b,
             a.n AS na, b.n AS nb, a.mq - b.mq AS dm,
             t.nn, t.kk, t.ssw
      FROM gq a JOIN gq b ON a.g < b.g, tot t
    )
    SELECT prio_a, prio_b,
           CAST(na AS BIGINT) AS n_a, CAST(nb AS BIGINT) AS n_b,
           CAST(dm AS BIGINT) / 10000.0 AS mean_diff,
           CASE WHEN ssw > 0 AND nn > kk THEN
             {sql_round_big_int_ratio(
                 '(CASE WHEN dm < 0 THEN -1 ELSE 1 END) * dm * dm'
                 ' * 2 * na * nb * (nn - kk)',
                 '10000::HUGEINT * ssw * (na + nb)')}
           END AS q_signed_sq
    FROM pairs
    """


@register("stats_tukey_hsd_priority", _tukey_oracle())
def stats_tukey_hsd_priority(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Tukey HSD post-hoc pairwise comparisons of mean l_quantity
    across the five order priorities: the studentized-range statistic
    q_ij = (m_i - m_j)/sqrt(MSW/2 * (1/n_i + 1/n_j)) for every
    priority pair — the missing POST-HOC member after the omnibus
    family (one/two-way ANOVA, Welch, Kruskal-Wallis all say "some
    group differs"; Tukey says WHICH pairs, with family-wise control).

    House exact form sign(q)*q^2 (the sqrt-avoidance convention):
    group means and the within-group sum of squares quantize ONCE at
    1e-4 via the shared half-up idiom (mq = [1e4*S/n], sswq =
    [1e4*(n*Sum(q^2) - S^2)/n] per group — exact integers on both
    engines), then sign*dm^2*2*n_i*n_j*(N-k) /
    (1e4*SSW_q*(n_i+n_j)) is one round_big_int_ratio per pair
    (numerator <= ~1e34 at sf1x10, inside decimal(38)/HUGEINT). One
    fact-scan aggregate to 5 group rows; the pair grid is 10 rows by
    mechanism.
    """
    from ..functions.exact import round_big_int_ratio

    t = Tables(spark, sf_dir)
    jn = t.lineitem.join(
        t.orders.select("o_orderkey", "o_orderpriority"),
        t.lineitem.l_orderkey == F.col("o_orderkey"),
    ).select(
        F.col("o_orderpriority").alias("g"),
        F.col("l_quantity").cast("long").alias("q"),
    )
    grp = jn.groupBy("g").agg(
        dec38(F.count(F.lit(1))).alias("n"),
        dec38(F.sum("q")).alias("s"),
        dec38(F.sum(F.col("q") * F.col("q"))).alias("qq"),
    )
    ten4 = F.lit(10000).cast("decimal(38,0)")
    gq = grp.select(
        "g",
        "n",
        halfup_div(ten4 * F.col("s"), F.col("n")).alias("mq"),
        halfup_div(
            ten4 * (F.col("n") * F.col("qq") - F.col("s") * F.col("s")),
            F.col("n"),
        ).alias("sswq"),
    )
    tot = gq.agg(
        F.sum("n").alias("nn"),
        dec38(F.count(F.lit(1))).alias("kk"),
        F.sum("sswq").alias("ssw"),
    )
    a = gq.select(
        F.col("g").alias("prio_a"),
        F.col("n").alias("na"),
        F.col("mq").alias("mqa"),
    )
    b = gq.select(
        F.col("g").alias("prio_b"),
        F.col("n").alias("nb"),
        F.col("mq").alias("mqb"),
    )
    pairs = a.join(F.broadcast(b), F.col("prio_a") < F.col("prio_b")).crossJoin(
        F.broadcast(tot)
    )
    dm = F.col("mqa") - F.col("mqb")
    sign = F.when(dm < 0, F.lit(-1)).otherwise(F.lit(1)).cast("decimal(38,0)")
    return pairs.select(
        "prio_a",
        "prio_b",
        F.col("na").cast("long").alias("n_a"),
        F.col("nb").cast("long").alias("n_b"),
        (dm.cast("long") / F.lit(1e4)).alias("mean_diff"),
        F.when(
            (F.col("ssw") > 0) & (F.col("nn") > F.col("kk")),
            round_big_int_ratio(
                sign
                * dm
                * dm
                * F.lit(2).cast("decimal(38,0)")
                * F.col("na")
                * F.col("nb")
                * (F.col("nn") - F.col("kk")),
                ten4 * F.col("ssw") * (F.col("na") + F.col("nb")),
            ),
        ).alias("q_signed_sq"),
    )


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
        (F.floor(F.col("o_totalprice") * 100 + F.lit(0.5)).cast("long") % 10).alias(
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


# ===========================================================================
# Queue batch B (round-10 second bank — same-commit gates)
# ===========================================================================


# ---------------------------------------------------------------------------
# 9. Coarse periodogram at fixed calendar periods
# ---------------------------------------------------------------------------

# cos/sin(2*pi*i/P) quantized at 1e-3 for P in (7, 30, 91) — shared
# integer literals in both engines (the Rayleigh-op convention; the
# coarser 1e-3 grid keeps Sc^2 inside decimal(38) at sf1x10)
PGRAM_PERIODS = (7, 30, 91)
PGRAM_COSQ = {7: [1000, 623, -223, -901, -901, -223, 623], 30: [1000, 978, 914, 809, 669, 500, 309, 105, -105, -309, -500, -669, -809, -914, -978, -1000, -978, -914, -809, -669, -500, -309, -105, 105, 309, 500, 669, 809, 914, 978], 91: [1000, 998, 990, 979, 962, 941, 915, 885, 851, 813, 771, 725, 676, 623, 568, 510, 449, 387, 322, 256, 189, 121, 52, -17, -86, -155, -223, -289, -355, -418, -480, -539, -596, -650, -701, -749, -792, -833, -869, -901, -929, -952, -971, -985, -995, -999, -999, -995, -985, -971, -952, -929, -901, -869, -833, -792, -749, -701, -650, -596, -539, -480, -418, -355, -289, -223, -155, -86, -17, 52, 121, 189, 256, 322, 387, 449, 510, 568, 623, 676, 725, 771, 813, 851, 885, 915, 941, 962, 979, 990, 998]}
PGRAM_SINQ = {7: [0, 782, 975, 434, -434, -975, -782], 30: [0, 208, 407, 588, 743, 866, 951, 995, 995, 951, 866, 743, 588, 407, 208, 0, -208, -407, -588, -743, -866, -951, -995, -995, -951, -866, -743, -588, -407, -208], 91: [0, 69, 138, 206, 273, 338, 403, 465, 525, 582, 637, 689, 737, 782, 823, 860, 893, 922, 947, 967, 982, 993, 999, 1000, 996, 988, 975, 957, 935, 908, 877, 842, 803, 760, 713, 663, 610, 554, 495, 434, 371, 306, 239, 172, 103, 35, -35, -103, -172, -239, -306, -371, -434, -495, -554, -610, -663, -713, -760, -803, -842, -877, -908, -935, -957, -975, -988, -996, -1000, -999, -993, -982, -967, -947, -922, -893, -860, -823, -782, -737, -689, -637, -582, -525, -465, -403, -338, -273, -206, -138, -69]}


def _pgram_oracle() -> str:
    from ..functions.exact import sql_round_big_int_ratio

    per_p = []
    for p in PGRAM_PERIODS:
        cosl = ", ".join(str(v) for v in PGRAM_COSQ[p])
        sinl = ", ".join(str(v) for v in PGRAM_SINQ[p])
        per_p.append(
            f"""
      SELECT {p}::BIGINT AS period,
             CAST(sum(z * ([{cosl}])[((k - 1) % {p}) + 1]) AS HUGEINT) AS sc,
             CAST(sum(z * ([{sinl}])[((k - 1) % {p}) + 1]) AS HUGEINT) AS ss
      FROM cent"""
        )
    unions = " UNION ALL ".join(per_p)
    return f"""
    WITH daily AS (
      SELECT CAST(o_orderdate AS DATE) AS day, CAST(count(*) AS BIGINT) AS y
      FROM orders GROUP BY 1
    ), idx AS (
      SELECT a.day, a.y, CAST(count(*) AS BIGINT) AS k
      FROM daily a JOIN daily b ON b.day <= a.day
      GROUP BY a.day, a.y
    ), tot AS (
      SELECT CAST(count(*) AS BIGINT) AS n, CAST(sum(y) AS BIGINT) AS s
      FROM idx
    ), cent AS (
      SELECT i.k, t.n, (t.n * i.y - t.s) AS z FROM idx i, tot t
    ), zz AS (
      SELECT CAST(sum(z::HUGEINT * z) AS HUGEINT) AS zyy,
             CAST(max(n) AS HUGEINT) AS n
      FROM cent
    ), vecs AS ({unions})
    SELECT v.period, CAST(zz.n AS BIGINT) AS n_days,
           CASE WHEN zz.zyy > 0 THEN
             {sql_round_big_int_ratio(
                 '2::HUGEINT * (v.sc * v.sc + v.ss * v.ss)',
                 'zz.n * zz.zyy * 1000000')}
           END AS variance_share
    FROM vecs v, zz
    """


@register("events_periodogram_fixed_periods", _pgram_oracle())
def events_periodogram_fixed_periods(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Coarse periodogram of the daily order-count series at fixed
    calendar periods (weekly / monthly / quarterly): the share of
    series variance carried by the Fourier pair at each period,
    2*(Sc^2 + Ss^2)/(n * Szz) — the SPECTRAL member of the series
    family (ACF sees correlation at a lag; the periodogram prices a
    named seasonal cycle, and 'is there weekly seasonality and how
    much' is the planner's first question).

    Phases come from the day RANK mod P (house broadcast non-equi
    rank join over the calendar-bounded aggregate), angles from
    1e-3-quantized cos/sin integer literal tables shared verbatim by
    both engines (the Rayleigh convention; 1e-3 keeps Sc^2 <=
    ~1e34 at sf1x10 inside decimal(38)/HUGEINT — quantizing the
    BASIS shifts the share by <1e-3 relative, identically on both
    sides). Centered values z = n*y - S are exact ints; one
    round_big_int_ratio per period.
    """
    from ..functions.exact import round_big_int_ratio

    t = Tables(spark, sf_dir)
    daily = t.orders.groupBy(F.to_date("o_orderdate").alias("day")).agg(
        F.count(F.lit(1)).alias("y")
    )
    b0 = daily.select(F.col("day").alias("day_b"))
    idx = (
        daily.join(F.broadcast(b0), F.col("day_b") <= F.col("day"))
        .groupBy("day", "y")
        .agg(F.count(F.lit(1)).alias("k"))
    )
    tot = idx.agg(F.count(F.lit(1)).alias("n"), F.sum("y").alias("s"))
    cent = idx.crossJoin(F.broadcast(tot)).select(
        "k", "n", (F.col("n") * F.col("y") - F.col("s")).alias("z")
    )
    zz = cent.agg(
        F.sum(dec38(F.col("z")) * dec38(F.col("z"))).alias("zyy"),
        dec38(F.max("n")).alias("n"),
    )
    vec_frames = []
    for p in PGRAM_PERIODS:
        cos_arr = F.array(*[F.lit(v).cast("long") for v in PGRAM_COSQ[p]])
        sin_arr = F.array(*[F.lit(v).cast("long") for v in PGRAM_SINQ[p]])
        ph = ((F.col("k") - 1) % p + 1).cast("int")
        vec_frames.append(
            cent.agg(
                F.lit(p).cast("long").alias("period"),
                F.sum(dec38(F.col("z") * F.element_at(cos_arr, ph))).alias("sc"),
                F.sum(dec38(F.col("z") * F.element_at(sin_arr, ph))).alias("ss"),
            )
        )
    vecs = vec_frames[0]
    for fr in vec_frames[1:]:
        vecs = vecs.unionByName(fr)
    num = F.lit(2).cast("decimal(38,0)") * (
        F.col("sc") * F.col("sc") + F.col("ss") * F.col("ss")
    )
    return vecs.crossJoin(F.broadcast(zz)).select(
        "period",
        F.col("n").cast("long").alias("n_days"),
        F.when(
            F.col("zyy") > 0,
            round_big_int_ratio(
                num, F.col("n") * F.col("zyy") * F.lit(10**6).cast("decimal(38,0)")
            ),
        ).alias("variance_share"),
    )


# ---------------------------------------------------------------------------
# 10. Paired sign test on the daily view/purchase series
# ---------------------------------------------------------------------------


def _sign_test_oracle() -> str:
    from ..functions.exact import sql_round_big_int_ratio

    return f"""
    WITH days AS (
      SELECT DISTINCT CAST(ts AS DATE) AS d FROM events
    ), cx AS (
      SELECT CAST(ts AS DATE) AS d, CAST(count(*) AS BIGINT) AS c
      FROM events WHERE event_type = 'view' GROUP BY 1
    ), cy AS (
      SELECT CAST(ts AS DATE) AS d, CAST(count(*) AS BIGINT) AS c
      FROM events WHERE event_type = 'purchase' GROUP BY 1
    ), paired AS (
      SELECT coalesce(cx.c, 0) AS x, coalesce(cy.c, 0) AS y
      FROM days LEFT JOIN cx ON cx.d = days.d LEFT JOIN cy ON cy.d = days.d
    ), agg AS (
      SELECT CAST(sum(CASE WHEN x <> y THEN 1 ELSE 0 END) AS BIGINT) AS m,
             CAST(sum(CASE WHEN x > y THEN 1 ELSE 0 END) AS BIGINT) AS b_plus,
             CAST(count(*) AS BIGINT) AS n_days
      FROM paired
    )
    SELECT n_days, m AS n_informative, b_plus,
           CASE WHEN m > 0 THEN
             {sql_round_big_int_ratio(
                 '(CASE WHEN 2 * b_plus < m THEN -1 ELSE 1 END)'
                 ' * (2 * b_plus - m) * (2 * b_plus - m)',
                 'm')}
           END AS z_signed_sq
    FROM agg
    """


@register("stats_sign_test_daily_pair", _sign_test_oracle())
def stats_sign_test_daily_pair(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Paired sign test of the daily view vs purchase counts: on each
    calendar day the pair (views, purchases) gives one sign; under
    exchangeability B+ ~ Binomial(m, 1/2) over the m informative
    (non-tied) days, and sign(Z)*Z^2 = sign * (2B - m)^2 / m is the
    house exact form of the normal approximation. The DISTRIBUTION-
    FREE paired-location member beside the Wilcoxon signed-rank
    (which already covers magnitudes): the sign test is the one that
    survives arbitrary per-day scale differences.

    Calendar-bounded throughout: per-(type, day) partial aggregation,
    zero-filled spine, one scalar aggregate, one exact ratio.
    """
    from ..functions.exact import round_big_int_ratio

    t = Tables(spark, sf_dir)
    ev = t.events.select(F.to_date("ts").alias("d"), "event_type")
    days = ev.select("d").distinct()
    cx = (
        ev.filter(F.col("event_type") == "view")
        .groupBy("d")
        .agg(F.count(F.lit(1)).alias("cx"))
    )
    cy = (
        ev.filter(F.col("event_type") == "purchase")
        .groupBy("d")
        .agg(F.count(F.lit(1)).alias("cy"))
    )
    paired = (
        days.join(cx, "d", "left")
        .join(cy, "d", "left")
        .select(
            F.coalesce(F.col("cx"), F.lit(0)).alias("x"),
            F.coalesce(F.col("cy"), F.lit(0)).alias("y"),
        )
    )
    agg = paired.agg(
        F.sum(F.when(F.col("x") != F.col("y"), 1).otherwise(0)).alias("m"),
        F.sum(F.when(F.col("x") > F.col("y"), 1).otherwise(0)).alias("b_plus"),
        F.count(F.lit(1)).alias("n_days"),
    )
    dev = F.lit(2) * F.col("b_plus") - F.col("m")
    sign = F.when(dev < 0, F.lit(-1)).otherwise(F.lit(1)).cast("decimal(38,0)")
    return agg.select(
        "n_days",
        F.col("m").alias("n_informative"),
        "b_plus",
        F.when(
            F.col("m") > 0,
            round_big_int_ratio(sign * dec38(dev) * dec38(dev), dec38(F.col("m"))),
        ).alias("z_signed_sq"),
    )


# ---------------------------------------------------------------------------
# 11. Duplication x quality quadrant with lift
# ---------------------------------------------------------------------------


def _dup_quality_oracle() -> str:
    from .ml import _scored_labeled_sql
    from ..functions.exact import sql_round_int_ratio

    return (
        _scored_labeled_sql()
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
    from .ml import _scored_labeled
    from ..functions.exact import round_int_ratio

    t = Tables(spark, sf_dir)
    s = _scored_labeled(t).select("doc_id", "label")
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
    from .ml import _scored_labeled_sql
    from ..functions.exact import sql_round_int_ratio

    m = MIA_SPLIT_MOD
    return (
        _scored_labeled_sql()
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
    from .ml import _scored_labeled
    from ..functions.exact import round_int_ratio
    from ..functions.textnorm import sha256_prefix_i64

    m = MIA_SPLIT_MOD
    t = Tables(spark, sf_dir)
    s = _scored_labeled(t)
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
# 13. Brier skill score vs the climatology reference, per language
# ---------------------------------------------------------------------------


def _bss_oracle() -> str:
    from .ml import _scored_labeled_sql
    from ..functions.exact import sql_round_big_int_ratio

    return (
        _scored_labeled_sql()
        + f"""
    , terms AS (
      SELECT lang, CAST(count(*) AS HUGEINT) AS n,
             CAST(sum(label) AS HUGEINT) AS pos,
             CAST(sum((score_q - 10000 * label)::HUGEINT
                      * (score_q - 10000 * label)) AS HUGEINT) AS sd2
      FROM scored GROUP BY lang
    )
    SELECT lang, CAST(n AS BIGINT) AS n, CAST(pos AS BIGINT) AS n_pos,
           {sql_round_big_int_ratio('sd2', '100000000::HUGEINT * n')}
             AS brier,
           CASE WHEN pos > 0 AND pos < n THEN
             {sql_round_big_int_ratio(
                 '100000000::HUGEINT * pos * (n - pos) - n * sd2',
                 '100000000::HUGEINT * pos * (n - pos)')}
           END AS brier_skill
    FROM terms
    """
    )


@register("ml_brier_skill_score", _bss_oracle())
def ml_brier_skill_score(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Brier skill score of the classifier against the per-language
    climatology reference: BSS = 1 − BS/BS_ref with BS_ref =
    p̄(1−p̄) (always-predict-the-base-rate) — the SKILL normalization
    the raw Brier score (ml_brier_score_by_lang) and its
    decomposition lack: BS is incomparable across groups with
    different base rates, BSS > 0 means the model beats knowing the
    base rate at all.

    With p = score_q/10⁴, 10⁸·BS·n = Σ(score_q − 10⁴y)² and
    10⁸·BS_ref·n² = 10⁸·pos·(n−pos), so BSS =
    (10⁸·pos·(n−pos) − n·Σd²)/(10⁸·pos·(n−pos)) — exact 128-bit
    integers, one round_big_int_ratio per language; one-class groups
    (pos ∈ {0, n}) yield NULL identically. One partial-aggregated
    scan to ≤ 5 rows.
    """
    from .ml import _scored_labeled
    from ..functions.exact import round_big_int_ratio

    t = Tables(spark, sf_dir)
    s = _scored_labeled(t)
    d = F.col("score_q") - F.lit(10000) * F.col("label")
    terms = s.groupBy("lang").agg(
        F.count(F.lit(1)).alias("n"),
        F.sum("label").alias("pos"),
        F.sum(dec38(d) * dec38(d)).alias("sd2"),
    )
    e8 = F.lit(10**8).cast("decimal(38,0)")
    ref = e8 * dec38(F.col("pos")) * dec38(F.col("n") - F.col("pos"))
    return terms.select(
        "lang",
        "n",
        F.col("pos").alias("n_pos"),
        round_big_int_ratio(F.col("sd2"), e8 * dec38(F.col("n"))).alias("brier"),
        F.when(
            (F.col("pos") > 0) & (F.col("pos") < F.col("n")),
            round_big_int_ratio(ref - dec38(F.col("n")) * F.col("sd2"), ref),
        ).alias("brier_skill"),
    )


# ---------------------------------------------------------------------------
# 15. Absorbing-Markov expected steps to purchase
# ---------------------------------------------------------------------------

ABSORB_STATE = "purchase"
TRANSIENT_STATES = ("click", "error", "signup", "view")


def _perm_terms():
    """(sign, permutation) pairs for the 4x4 determinant expansion —
    the SAME 24 terms drive the Spark expression and the SQL twin."""
    from itertools import permutations as _perms

    out = []
    for p in _perms(range(4)):
        s, q = 1, list(p)
        for i in range(4):
            for j in range(i + 1, 4):
                if q[i] > q[j]:
                    s = -s
        out.append((s, p))
    return out


def _absorb_oracle() -> str:
    from ..functions.exact import sql_round_big_int_ratio

    ts = TRANSIENT_STATES

    def a(r, c):
        # A_rc = cf_r * [r == c] - c_rc  (transient-to-transient)
        base = f"c{r}{c}"
        return f"(cf{r} - {base})" if r == c else f"(- {base} + 0)"

    def a_rhs(col):
        def e(r, c):
            return f"cf{r}" if c == col else a(r, c)

        return e

    def det(entry):
        terms = []
        for s, p in _perm_terms():
            prod = " * ".join(entry(r, p[r]) for r in range(4))
            terms.append(("+ " if s > 0 else "- ") + prod)
        return "(" + " ".join(terms) + ")"

    cell_defs = []
    for r, fr in enumerate(ts):
        cell_defs.append(
            f"CAST(sum(CASE WHEN from_type = '{fr}' THEN c ELSE 0 END) AS HUGEINT) AS cf{r}"
        )
        for c, to in enumerate(ts):
            cell_defs.append(
                f"CAST(sum(CASE WHEN from_type = '{fr}' AND to_type = '{to}' "
                f"THEN c ELSE 0 END) AS HUGEINT) AS c{r}{c}"
            )
    selects = []
    for j, st in enumerate(ts):
        selects.append(
            f"""SELECT '{st}' AS state, CAST(cf{j} AS BIGINT) AS n_out,
               CASE WHEN {det(a)} <> 0 THEN
                 {sql_round_big_int_ratio(det(a_rhs(j)), det(a))}
               END AS expected_steps
        FROM m WHERE {det(a)} <> 0"""
        )
    return f"""
    WITH seq AS (
      SELECT user_id, event_type,
             lag(event_type) OVER (PARTITION BY user_id
                                   ORDER BY ts, event_id) AS prev_type
      FROM events
    ), trans AS (
      SELECT prev_type AS from_type, event_type AS to_type,
             CAST(count(*) AS BIGINT) AS c
      FROM seq WHERE prev_type IS NOT NULL
      GROUP BY 1, 2
    ), m AS (
      SELECT {", ".join(cell_defs)}
      FROM trans
    )
    {" UNION ALL ".join(selects)}
    """


@register("events_absorbing_markov_steps", _absorb_oracle())
def events_absorbing_markov_steps(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Expected steps to absorption in the user-path Markov chain with
    PURCHASE as the absorbing state: t = (I − Q)⁻¹·1 over the four
    transient event types — "how many more actions until this user
    converts, given where they are now", the absorbing-chain member
    completing the Markov family (stationary mix, entropy rate, and
    now the fundamental-matrix statistic that funnels approximate).

    Exact path: clearing each row's denominator turns (I − Q)t = 1
    into the INTEGER system A t = cf with A = diag(cf) − C (raw
    transition counts), solved per component by Cramer — two 4×4
    determinants per state, each expanded into the same 24
    permutation terms in the Spark plan and the SQL twin (generated
    from one shared _perm_terms table, so a sign error cannot hit
    only one engine — the round-10 Cramer lesson institutionalized).
    det ≤ 24·cf⁴ ≈ 10²⁸ at sf1×10 — inside decimal(38)/HUGEINT; a
    singular system (a closed transient class) empties the output
    identically on both engines.

    One user-keyed lag exchange; everything after lives on a 1-row
    25-cell aggregate.
    """
    from ..functions.exact import round_big_int_ratio

    ts = TRANSIENT_STATES
    t = Tables(spark, sf_dir)
    w = Window.partitionBy("user_id").orderBy("ts", "event_id")
    seq = t.events.select(
        "user_id", "event_type", F.lag("event_type").over(w).alias("prev_type")
    )
    trans = (
        seq.where(F.col("prev_type").isNotNull())
        .groupBy(
            F.col("prev_type").alias("from_type"),
            F.col("event_type").alias("to_type"),
        )
        .agg(F.count(F.lit(1)).alias("c"))
    )
    aggs = []
    for r, fr in enumerate(ts):
        aggs.append(
            dec38(
                F.sum(F.when(F.col("from_type") == fr, F.col("c")).otherwise(0))
            ).alias(f"cf{r}")
        )
        for c, to in enumerate(ts):
            aggs.append(
                dec38(
                    F.sum(
                        F.when(
                            (F.col("from_type") == fr) & (F.col("to_type") == to),
                            F.col("c"),
                        ).otherwise(0)
                    )
                ).alias(f"c{r}{c}")
            )
    m = trans.agg(*aggs)

    def a(r, c):
        if r == c:
            return F.col(f"cf{r}") - F.col(f"c{r}{c}")
        return -F.col(f"c{r}{c}")

    def det(entry):
        total = None
        for s, p in _perm_terms():
            prod = entry(0, p[0])
            for r in range(1, 4):
                prod = prod * entry(r, p[r])
            term = prod if s > 0 else -prod
            total = term if total is None else total + term
        return total

    rows = []
    for j, st in enumerate(ts):

        def entry_j(r, c, _j=j):
            return F.col(f"cf{r}") if c == _j else a(r, c)

        dd = det(a)
        dj = det(entry_j)
        rows.append(
            m.select(
                F.lit(st).alias("state"),
                F.col(f"cf{j}").cast("long").alias("n_out"),
                F.when(dd != 0, round_big_int_ratio(dj, dd)).alias(
                    "expected_steps"
                ),
                dd.alias("_dd"),
            ).filter(F.col("_dd") != 0).drop("_dd")
        )
    out = rows[0]
    for r in rows[1:]:
        out = out.unionByName(r)
    return out


# ---------------------------------------------------------------------------
# 16. Brown-Forsythe (median-centered Levene) on quantity by priority
# ---------------------------------------------------------------------------


def _brown_forsythe_oracle() -> str:
    from ..functions.exact import sql_round_big_int_ratio, sql_round_int_ratio

    return f"""
    WITH jn AS (
      SELECT o.o_orderpriority AS g, CAST(l.l_quantity AS BIGINT) AS q
      FROM lineitem l JOIN orders o ON o.o_orderkey = l.l_orderkey
    ), grid AS (
      SELECT g, q, CAST(count(*) AS BIGINT) AS cnt FROM jn GROUP BY g, q
    ), cum AS (
      SELECT a.g, a.q, a.cnt,
             CAST(sum(b.cnt) AS BIGINT) AS cle
      FROM grid a JOIN grid b ON b.g = a.g AND b.q <= a.q
      GROUP BY a.g, a.q, a.cnt
    ), gn AS (
      SELECT g, CAST(sum(cnt) AS BIGINT) AS n FROM grid GROUP BY g
    ), med AS (
      SELECT c.g, CAST(min(c.q) AS BIGINT) AS med
      FROM cum c JOIN gn ON gn.g = c.g
      WHERE c.cle >= (gn.n + 1) // 2
      GROUP BY c.g
    ), zrows AS (
      SELECT gr.g, gr.cnt, abs(gr.q - med.med) AS z
      FROM grid gr JOIN med ON med.g = gr.g
    ), per_g AS (
      SELECT g, CAST(sum(cnt) AS HUGEINT) AS n,
             CAST(sum(cnt * z) AS HUGEINT) AS sz,
             CAST(sum(cnt * z * z) AS HUGEINT) AS szz
      FROM zrows GROUP BY g
    ), tq AS (
      SELECT g, n, sz, szz,
             {sql_halfup_div('10000::HUGEINT * sz * sz', 'n')} AS t_g
      FROM per_g
    ), tot AS (
      SELECT CAST(sum(n) AS HUGEINT) AS nn,
             CAST(count(*) AS HUGEINT) AS kk,
             CAST(sum(sz) AS HUGEINT) AS sz_all,
             CAST(sum(szz) AS HUGEINT) AS szz_all,
             CAST(sum(t_g) AS HUGEINT) AS t_sum
      FROM tq
    ), stat AS (
      SELECT nn, kk,
             t_sum - {sql_halfup_div('10000::HUGEINT * sz_all * sz_all',
                                      'nn')} AS b_q,
             10000::HUGEINT * szz_all - t_sum AS d_q
      FROM tot
    )
    SELECT t.g AS priority, CAST(t.n AS BIGINT) AS n,
           CAST(m.med AS BIGINT) AS group_median,
           {sql_round_int_ratio('CAST(t.sz AS BIGINT)', 'CAST(t.n AS BIGINT)')}
             AS mean_absdev,
           CASE WHEN s.d_q > 0 AND s.kk > 1 AND s.nn > s.kk THEN
             {sql_round_big_int_ratio('s.b_q * (s.nn - s.kk)',
                                      's.d_q * (s.kk - 1)')}
           END AS w_stat
    FROM tq t JOIN med m ON m.g = t.g CROSS JOIN stat s
    """


@register("stats_brown_forsythe_quantity", _brown_forsythe_oracle())
def stats_brown_forsythe_quantity(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Brown-Forsythe test (median-centered Levene) for homogeneity of
    l_quantity spread across order priorities — the ROBUST member of
    the variance-test family: stats_levene_priority centers on the
    MEAN (power against normal-ish alternatives, fragile under
    skew/outliers), Bartlett assumes normality outright; BF's
    median-centered deviations keep the test's size under heavy
    tails, which is why it is the default in most stats packages.

    Exactness beats the Levene op's: the group median over the
    ≤50-value quantity domain is an exact integer (nearest-rank via
    the bounded-grid cumulative), so z = |q − med| is an exact int
    per grid cell and EVERY sum is integer-weighted by cell counts —
    no per-row float deviation anywhere. The two quadratic forms
    quantize once per group at 1e-4 by the shared half-up idiom and W
    assembles as one round_big_int_ratio. All heavy work is the
    lineitem⋈orders scan partial-aggregated to the (priority,
    quantity) grid (≤ 250 cells); medians, sums and W live on that
    grid.
    """
    from ..functions.exact import round_big_int_ratio, round_int_ratio

    t = Tables(spark, sf_dir)
    jn = t.lineitem.join(
        t.orders.select("o_orderkey", "o_orderpriority"),
        t.lineitem.l_orderkey == F.col("o_orderkey"),
    ).select(
        F.col("o_orderpriority").alias("g"),
        F.col("l_quantity").cast("long").alias("q"),
    )
    grid = jn.groupBy("g", "q").agg(F.count(F.lit(1)).alias("cnt"))
    gb = grid.select(
        F.col("g").alias("g_b"), F.col("q").alias("q_b"), F.col("cnt").alias("cnt_b")
    )
    cum = (
        grid.join(
            F.broadcast(gb),
            (F.col("g_b") == F.col("g")) & (F.col("q_b") <= F.col("q")),
        )
        .groupBy("g", "q", "cnt")
        .agg(F.sum("cnt_b").alias("cle"))
    )
    gn = grid.groupBy("g").agg(F.sum("cnt").alias("n"))
    med = (
        cum.join(F.broadcast(gn), "g")
        .filter(F.col("cle") >= ((F.col("n") + 1) - (F.col("n") + 1) % 2) / 2)
        .groupBy("g")
        .agg(F.min("q").alias("med"))
    )
    zrows = grid.join(F.broadcast(med), "g").select(
        "g", "cnt", F.abs(F.col("q") - F.col("med")).alias("z")
    )
    per_g = zrows.groupBy("g").agg(
        dec38(F.sum("cnt")).alias("n"),
        dec38(F.sum(F.col("cnt") * F.col("z"))).alias("sz"),
        dec38(F.sum(F.col("cnt") * F.col("z") * F.col("z"))).alias("szz"),
    )
    e4 = F.lit(10000).cast("decimal(38,0)")
    tq = per_g.select(
        "g",
        "n",
        "sz",
        "szz",
        halfup_div(e4 * F.col("sz") * F.col("sz"), F.col("n")).alias("t_g"),
    )
    tot = tq.agg(
        F.sum("n").alias("nn"),
        dec38(F.count(F.lit(1))).alias("kk"),
        F.sum("sz").alias("sz_all"),
        F.sum("szz").alias("szz_all"),
        F.sum("t_g").alias("t_sum"),
    )
    stat = tot.select(
        "nn",
        "kk",
        (
            F.col("t_sum")
            - halfup_div(e4 * F.col("sz_all") * F.col("sz_all"), F.col("nn"))
        ).alias("b_q"),
        (e4 * F.col("szz_all") - F.col("t_sum")).alias("d_q"),
    )
    one = F.lit(1).cast("decimal(38,0)")
    return (
        tq.join(F.broadcast(med.select(F.col("g"), F.col("med"))), "g")
        .crossJoin(F.broadcast(stat))
        .select(
            F.col("g").alias("priority"),
            F.col("n").cast("long").alias("n"),
            F.col("med").cast("long").alias("group_median"),
            round_int_ratio(
                F.col("sz").cast("long"), F.col("n").cast("long")
            ).alias("mean_absdev"),
            F.when(
                (F.col("d_q") > 0) & (F.col("kk") > 1) & (F.col("nn") > F.col("kk")),
                round_big_int_ratio(
                    F.col("b_q") * (F.col("nn") - F.col("kk")),
                    F.col("d_q") * (F.col("kk") - one),
                ),
            ).alias("w_stat"),
        )
    )


# ---------------------------------------------------------------------------
# 17. Fligner-Policello robust rank-order test (quantity by linestatus)
# ---------------------------------------------------------------------------


def _fp_oracle() -> str:
    from ..functions.exact import sql_round_big_int_ratio

    return f"""
    WITH rows_ AS (
      SELECT l_linestatus AS s, CAST(l_quantity AS BIGINT) AS q
      FROM lineitem WHERE l_linestatus IN ('F', 'O')
    ), grid AS (
      SELECT s, q, CAST(count(*) AS BIGINT) AS cnt FROM rows_ GROUP BY s, q
    ), a AS (SELECT q, cnt FROM grid WHERE s = 'F'),
    b AS (SELECT q, cnt FROM grid WHERE s = 'O'),
    pa AS (
      SELECT a.q, a.cnt,
             CAST(2 * coalesce(sum(CASE WHEN b.q < a.q THEN b.cnt END), 0)
                  + coalesce(sum(CASE WHEN b.q = a.q THEN b.cnt END), 0)
                  AS BIGINT) AS p2
      FROM a LEFT JOIN b ON b.q <= a.q
      GROUP BY a.q, a.cnt
    ), pb AS (
      SELECT b.q, b.cnt,
             CAST(2 * coalesce(sum(CASE WHEN a.q < b.q THEN a.cnt END), 0)
                  + coalesce(sum(CASE WHEN a.q = b.q THEN a.cnt END), 0)
                  AS BIGINT) AS p2
      FROM b LEFT JOIN a ON a.q <= b.q
      GROUP BY b.q, b.cnt
    ), sums AS (
      SELECT (SELECT CAST(sum(cnt) AS HUGEINT) FROM pa) AS m,
             (SELECT CAST(sum(cnt) AS HUGEINT) FROM pb) AS n,
             (SELECT CAST(sum(cnt * p2) AS HUGEINT) FROM pa) AS sp2,
             (SELECT CAST(sum(cnt * p2) AS HUGEINT) FROM pb) AS sq2,
             (SELECT CAST(sum(cnt * p2 * p2) AS HUGEINT) FROM pa) AS s2p2,
             (SELECT CAST(sum(cnt * p2 * p2) AS HUGEINT) FROM pb) AS s2q2
    ), bq AS (
      SELECT m, n, sp2, sq2,
             {sql_halfup_div('100::HUGEINT * (m * s2p2 - sp2 * sp2)', 'm')}
               AS b1,
             {sql_halfup_div('100::HUGEINT * (n * s2q2 - sq2 * sq2)', 'n')}
               AS b2,
             {sql_halfup_div('100::HUGEINT * sp2 * sq2', 'm * n')} AS b3
      FROM sums
    )
    SELECT CAST(m AS BIGINT) AS n_f, CAST(n AS BIGINT) AS n_o,
           CASE WHEN b1 + b2 + b3 > 0 THEN
             {sql_round_big_int_ratio(
                 '(CASE WHEN sp2 < sq2 THEN -1 ELSE 1 END)'
                 ' * 25 * (sp2 - sq2) * (sp2 - sq2)',
                 'b1 + b2 + b3')}
           END AS u_signed_sq
    FROM bq
    """


@register("stats_fligner_policello_status", _fp_oracle())
def stats_fligner_policello_status(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Fligner-Policello robust rank-order test of l_quantity between
    the two line statuses: U = (ΣP − ΣQ)/(2√(V₁+V₂+P̄Q̄)) built from
    PLACEMENTS (P_i = #{y < x_i} + ½#{y = x_i}) — the
    Behrens-Fisher-robust two-sample location test: Mann-Whitney
    assumes equal shapes, the t-test equal-ish variances; FP stays
    valid when the groups differ in BOTH spread and shape, which is
    the actual situation after any non-random split.

    House exact form sign(U)·U²: doubled placements 2P are exact
    integers computed on the ≤50-value quantity grid (count-weighted
    — never per-row ranks), the three variance addends quantize once
    at 1e-2 via the shared half-up idiom (4·[V₁+V₂+P̄Q̄] =
    (b₁+b₂+b₃)/100), and sign·25·(ΣP₂−ΣQ₂)²/(b₁+b₂+b₃) is one
    round_big_int_ratio — numerator ≲ 10³⁴ at sf1×10, inside
    decimal(38)/HUGEINT. One fact scan to the bounded grid;
    placements are grid×grid non-equi joins over ≤50 distinct values.
    """
    from ..functions.exact import round_big_int_ratio

    t = Tables(spark, sf_dir)
    rows = t.lineitem.filter(F.col("l_linestatus").isin("F", "O")).select(
        F.col("l_linestatus").alias("s"),
        F.col("l_quantity").cast("long").alias("q"),
    )
    grid = rows.groupBy("s", "q").agg(F.count(F.lit(1)).alias("cnt"))
    a = grid.filter(F.col("s") == "F").select("q", "cnt")
    b = grid.filter(F.col("s") == "O").select(
        F.col("q").alias("qb"), F.col("cnt").alias("cntb")
    )

    def placements(x, y, qx, qy, cx, cy):
        j = x.join(F.broadcast(y), F.col(qy) <= F.col(qx), "left")
        return j.groupBy(qx, cx).agg(
            (
                F.lit(2)
                * F.coalesce(
                    F.sum(F.when(F.col(qy) < F.col(qx), F.col(cy))), F.lit(0)
                )
                + F.coalesce(
                    F.sum(F.when(F.col(qy) == F.col(qx), F.col(cy))), F.lit(0)
                )
            ).alias("p2")
        )

    pa = placements(a, b, "q", "qb", "cnt", "cntb")
    pb = placements(
        b.select(F.col("qb").alias("q"), F.col("cntb").alias("cnt")),
        a.select(F.col("q").alias("qb"), F.col("cnt").alias("cntb")),
        "q",
        "qb",
        "cnt",
        "cntb",
    )

    def sums(p, pre):
        return p.agg(
            dec38(F.sum("cnt")).alias(f"{pre}n"),
            dec38(F.sum(F.col("cnt") * F.col("p2"))).alias(f"{pre}s"),
            F.sum(dec38(F.col("cnt")) * dec38(F.col("p2")) * dec38(F.col("p2"))).alias(
                f"{pre}ss"
            ),
        )

    s = sums(pa, "a_").crossJoin(F.broadcast(sums(pb, "b_")))
    h = F.lit(100).cast("decimal(38,0)")
    bq = s.select(
        F.col("a_n").alias("m"),
        F.col("b_n").alias("n"),
        F.col("a_s").alias("sp2"),
        F.col("b_s").alias("sq2"),
        halfup_div(
            h * (F.col("a_n") * F.col("a_ss") - F.col("a_s") * F.col("a_s")),
            F.col("a_n"),
        ).alias("b1"),
        halfup_div(
            h * (F.col("b_n") * F.col("b_ss") - F.col("b_s") * F.col("b_s")),
            F.col("b_n"),
        ).alias("b2"),
        halfup_div(h * F.col("a_s") * F.col("b_s"), F.col("a_n") * F.col("b_n")).alias(
            "b3"
        ),
    )
    diff = F.col("sp2") - F.col("sq2")
    sign = F.when(diff < 0, F.lit(-1)).otherwise(F.lit(1)).cast("decimal(38,0)")
    den = F.col("b1") + F.col("b2") + F.col("b3")
    return bq.select(
        F.col("m").cast("long").alias("n_f"),
        F.col("n").cast("long").alias("n_o"),
        F.when(
            den > 0,
            round_big_int_ratio(
                sign * F.lit(25).cast("decimal(38,0)") * diff * diff, den
            ),
        ).alias("u_signed_sq"),
    )


# ---------------------------------------------------------------------------
# 18. k-sample median test (quantity by priority)
# ---------------------------------------------------------------------------


def _ksample_median_oracle() -> str:
    from ..functions.exact import sql_round_int_ratio

    return f"""
    WITH jn AS (
      SELECT o.o_orderpriority AS g, CAST(l.l_quantity AS BIGINT) AS q
      FROM lineitem l JOIN orders o ON o.o_orderkey = l.l_orderkey
    ), grid AS (
      SELECT g, q, CAST(count(*) AS BIGINT) AS cnt FROM jn GROUP BY g, q
    ), vals AS (
      SELECT q, CAST(sum(cnt) AS BIGINT) AS c FROM grid GROUP BY q
    ), cum AS (
      SELECT a.q, CAST(sum(b.c) AS BIGINT) AS cle
      FROM vals a JOIN vals b ON b.q <= a.q GROUP BY a.q
    ), nn AS (SELECT CAST(sum(c) AS BIGINT) AS n FROM vals),
    med AS (
      SELECT CAST(min(cum.q) AS BIGINT) AS med
      FROM cum, nn WHERE cum.cle >= (nn.n + 1) // 2
    ), cells AS (
      SELECT g, CAST(sum(cnt) AS HUGEINT) AS n_g,
             CAST(sum(CASE WHEN grid.q > med.med THEN cnt ELSE 0 END)
                  AS HUGEINT) AS above
      FROM grid, med GROUP BY g
    ), marg AS (
      SELECT CAST(sum(n_g) AS HUGEINT) AS n,
             CAST(sum(above) AS HUGEINT) AS r_above
      FROM cells
    ), chi AS (
      SELECT sum(
        (CASE WHEN m.r_above > 0 THEN
          ((2000000::HUGEINT * (c.above * m.n - c.n_g * m.r_above)
            * (c.above * m.n - c.n_g * m.r_above)
            + m.n * c.n_g * m.r_above)
           // (2::HUGEINT * m.n * c.n_g * m.r_above)) ELSE 0 END)
        + (CASE WHEN m.n - m.r_above > 0 THEN
          ((2000000::HUGEINT * ((c.n_g - c.above) * m.n
             - c.n_g * (m.n - m.r_above))
            * ((c.n_g - c.above) * m.n - c.n_g * (m.n - m.r_above))
            + m.n * c.n_g * (m.n - m.r_above))
           // (2::HUGEINT * m.n * c.n_g * (m.n - m.r_above))) ELSE 0 END)
        ) AS chi_q,
        CAST(count(*) AS BIGINT) AS k
      FROM cells c, marg m
    )
    SELECT c.g AS priority, CAST(c.n_g AS BIGINT) AS n,
           CAST(c.above AS BIGINT) AS n_above,
           {sql_round_int_ratio('CAST(c.above AS BIGINT)',
                                'CAST(c.n_g AS BIGINT)')} AS frac_above,
           m2.med AS grand_median,
           ch.chi_q / 1000000.0 AS chi2_stat,
           ch.k - 1 AS df
    FROM cells c, med m2, chi ch
    """


@register("stats_k_sample_median_test", _ksample_median_oracle())
def stats_k_sample_median_test(spark: SparkSession, sf_dir: str) -> DataFrame:
    """k-sample median test of l_quantity across the five order
    priorities: dichotomize every observation at the GRAND median and
    chi-square the resulting k×2 table — the k-group generalization
    of stats_mood_median_discount (two groups) and the bluntest,
    most assumption-free of the k-sample location tests (only the
    dichotomy matters, so it survives arbitrary within-group shapes
    where Kruskal-Wallis needs similar ones).

    Exact path: the grand median is the nearest-rank value over the
    ≤50-value quantity grid (bounded-domain cumulative); cell terms
    (O·N − n_g·R)²/(N·n_g·R) quantize per cell at 1e-6 by half-up
    integer division and SUM AS INT64 — one display division total.
    The expected-count denominators use the exact margins, so the
    statistic matches the textbook χ² on the dichotomized table.
    Heavy work is the lineitem⋈orders scan to the (priority,
    quantity) grid; everything after is ≤ 250 rows.
    """
    from ..functions.exact import round_int_ratio

    t = Tables(spark, sf_dir)
    jn = t.lineitem.join(
        t.orders.select("o_orderkey", "o_orderpriority"),
        t.lineitem.l_orderkey == F.col("o_orderkey"),
    ).select(
        F.col("o_orderpriority").alias("g"),
        F.col("l_quantity").cast("long").alias("q"),
    )
    grid = jn.groupBy("g", "q").agg(F.count(F.lit(1)).alias("cnt"))
    vals = grid.groupBy("q").agg(F.sum("cnt").alias("c"))
    vb = vals.select(F.col("q").alias("q_b"), F.col("c").alias("c_b"))
    cum = (
        vals.join(F.broadcast(vb), F.col("q_b") <= F.col("q"))
        .groupBy("q")
        .agg(F.sum("c_b").alias("cle"))
    )
    nn = vals.agg(F.sum("c").alias("n"))
    med = (
        cum.crossJoin(F.broadcast(nn))
        .filter(F.col("cle") >= ((F.col("n") + 1) - (F.col("n") + 1) % 2) / 2)
        .agg(F.min("q").alias("med"))
    )
    cells = (
        grid.crossJoin(F.broadcast(med))
        .groupBy("g")
        .agg(
            dec38(F.sum("cnt")).alias("n_g"),
            dec38(
                F.sum(F.when(F.col("q") > F.col("med"), F.col("cnt")).otherwise(0))
            ).alias("above"),
        )
    )
    marg = cells.agg(
        F.sum("n_g").alias("n"),
        F.sum("above").alias("r_above"),
        dec38(F.count(F.lit(1))).alias("k"),
    )
    wm = cells.crossJoin(F.broadcast(marg))

    def cell_term(obs, rmarg):
        dev = obs * F.col("n") - F.col("n_g") * rmarg
        den = F.col("n") * F.col("n_g") * rmarg
        a = F.lit(2000000).cast("decimal(38,0)") * dev * dev + den
        b = F.lit(2).cast("decimal(38,0)") * den
        return F.when(rmarg > 0, dec38((a - a % b) / b)).otherwise(
            F.lit(0).cast("decimal(38,0)")
        )

    chi = wm.select(
        (
            cell_term(F.col("above"), F.col("r_above"))
            + cell_term(
                F.col("n_g") - F.col("above"), F.col("n") - F.col("r_above")
            )
        ).alias("t")
    ).agg(F.sum("t").alias("chi_q"))
    return (
        cells.crossJoin(F.broadcast(med))
        .crossJoin(F.broadcast(chi))
        .crossJoin(F.broadcast(marg.select("k")))
        .select(
            F.col("g").alias("priority"),
            F.col("n_g").cast("long").alias("n"),
            F.col("above").cast("long").alias("n_above"),
            round_int_ratio(
                F.col("above").cast("long"), F.col("n_g").cast("long")
            ).alias("frac_above"),
            F.col("med").alias("grand_median"),
            (F.col("chi_q").cast("long") / F.lit(1e6)).alias("chi2_stat"),
            (F.col("k") - 1).cast("long").alias("df"),
        )
    )


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
