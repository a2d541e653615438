"""Round-14 direct registrations, batch Z (agreement coefficients,
distributional diagnostics, robust location contrast, and the modern
rank-based dependence coefficient).

Six window-slot completions, each oracle-paired, replica-pinned and
plan-barred in ``tests/test_roundfourteen5.py`` (same-commit gate
rule; the ONE new single-partition allowlist entry —
``stats_chatterjee_xi_daily``, the bounded-calendar value-grid
cumulative class — lands in ``tests/test_plans.py`` in the same
commit). Every name was checked against the full 581-name
registry inventory before design (the SCALE §5j.7 authoring rule):

* ``stats_gwet_ac1_gates`` — Gwet's AC1 chance-corrected agreement
  over the three shared binary quality gates (the paradox-resistant
  kappa alternative).
* ``stats_krippendorff_alpha_binary`` — Krippendorff's alpha for the
  same three raters (coincidence-matrix nominal form).
* ``stats_newcombe_diff_ci`` — Newcombe-Wilson hybrid score CI for
  the urgent-rate difference EUROPE vs ASIA.
* ``stats_yuen_trimmed_ttest`` — Yuen's trimmed-mean t (urgent vs
  other order prices) per nation, off the exact rank windows.

``stats_jarque_bera_daily`` and ``stats_chatterjee_xi_daily`` live in
``operators/daily_hypothesis.py`` with the other daily-series queries.

Reference parity note: the reference (Go ingestion pipeline,
``/root/reference/main.go``) has no analytics; these extend SURVEY
§2.C warehouse statistics.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from ..functions.exact import dec38
from ..registry import register
from ..tables import Tables

# ---------------------------------------------------------------------------
# shared: the three-gate pass-count sufficient sums (n, SL, SLL)
# ---------------------------------------------------------------------------


def _gate_flags_sql() -> str:
    from .corpus import _SQL_TOKENS
    from .roundeight import (
        COCHRAN_MIN_SENTENCES,
        MCNEMAR_MIN_CHARS,
        MCNEMAR_MIN_TOKENS,
    )

    return f"""
    flags AS (
      SELECT CASE WHEN n_chars >= {MCNEMAR_MIN_CHARS} THEN 1 ELSE 0 END
             + CASE WHEN len({_SQL_TOKENS}) >= {MCNEMAR_MIN_TOKENS} THEN 1 ELSE 0 END
             + CASE WHEN len(string_split(text, '.')) - 1 >= {COCHRAN_MIN_SENTENCES}
                    THEN 1 ELSE 0 END AS l
      FROM documents
    ), agg AS (
      SELECT CAST(count(*) AS HUGEINT) AS n,
             CAST(sum(l) AS HUGEINT) AS sl,
             CAST(sum(l * l) AS HUGEINT) AS sll
      FROM flags
    )
"""


def _gate_sums(t: Tables) -> DataFrame:
    """(n, sl, sll) decimal — identical gate constants and pass-count
    polynomial as ``stats_fleiss_kappa_gates`` / ``stats_cochran_q_gates``
    (the established shared gate family; the flag expressions are
    re-stated per-op by that family's convention, so no derivation is
    rewritten and no evidence invalidation applies)."""
    from ..functions.textnorm import whitespace_tokens
    from .roundeight import (
        COCHRAN_MIN_SENTENCES,
        MCNEMAR_MIN_CHARS,
        MCNEMAR_MIN_TOKENS,
    )

    a = F.when(F.col("n_chars") >= MCNEMAR_MIN_CHARS, 1).otherwise(0)
    b = F.when(
        F.size(whitespace_tokens(F.col("text"))) >= MCNEMAR_MIN_TOKENS, 1
    ).otherwise(0)
    c = F.when(
        F.size(F.split(F.col("text"), "\\.", -1)) - 1 >= COCHRAN_MIN_SENTENCES, 1
    ).otherwise(0)
    return t.documents.select((a + b + c).alias("l")).agg(
        dec38(F.count(F.lit(1))).alias("n"),
        dec38(F.sum("l")).alias("sl"),
        dec38(F.sum(F.col("l") * F.col("l"))).alias("sll"),
    )


# ---------------------------------------------------------------------------
# 1. Gwet's AC1 over the three quality gates
# ---------------------------------------------------------------------------


def _ac1_oracle() -> str:
    from ..functions.exact import sql_round_big_int_ratio

    return f"""
    WITH {_gate_flags_sql().strip()}
    , terms AS (
      SELECT n, sl, sll, 3 * n AS t,
             (sll - 3 * sl + 3 * n) AS pbar_num,
             2 * sl * (3 * n - sl) AS pe2_num
      FROM agg
    )
    SELECT CAST(n AS BIGINT) AS n_docs,
           CAST(sl AS BIGINT) AS total_passes,
           {sql_round_big_int_ratio('pbar_num', 't')} AS p_a,
           {sql_round_big_int_ratio('pe2_num', 't * t')} AS p_e_gamma,
           CASE WHEN t * t - pe2_num > 0 THEN
             {sql_round_big_int_ratio('pbar_num * t - pe2_num',
                                      't * t - pe2_num')}
           END AS gwet_ac1
    FROM terms
    """


@register("stats_gwet_ac1_gates", oracle=_ac1_oracle())
def stats_gwet_ac1_gates(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Gwet's AC1 chance-corrected agreement (Gwet 2008) treating the
    three shared binary quality gates as raters — the
    paradox-resistant companion to ``stats_fleiss_kappa_gates``: when
    the trait prevalence is extreme (nearly all documents pass),
    kappa's chance term P_e approaches 1 and kappa collapses even
    under near-perfect agreement (the Feinstein-Cicchetti paradox);
    AC1's chance term 2*pi*(1-pi) peaks at pi=1/2 and vanishes at the
    extremes, so it stays interpretable exactly where corpus gates
    live. Reading the pair: kappa low + AC1 high = prevalence
    artifact, not rater disagreement.

    With m=3 binary raters the observed agreement is Fleiss' P-bar =
    (SLL - 3SL + 3n)/(3n) and AC1 = (P_a*T - 2 SL (T-SL)) /
    (T^2 - 2 SL (T-SL)) with T = 3n — one half-up 1e-6 ratio of exact
    HUGEINT/decimal(38,0) polynomials in the sufficient sums
    (n, SL, SLL) off ONE document scan.

    Scale shape: single partial-aggregated scan to three scalars;
    constant-size algebra after. 1 row out.
    """
    from ..functions.exact import round_big_int_ratio

    agg = _gate_sums(Tables(spark, sf_dir))
    tt = 3 * F.col("n")
    pbar_num = F.col("sll") - 3 * F.col("sl") + 3 * F.col("n")
    pe2_num = 2 * F.col("sl") * (tt - F.col("sl"))
    return agg.select(
        F.col("n").cast("long").alias("n_docs"),
        F.col("sl").cast("long").alias("total_passes"),
        round_big_int_ratio(pbar_num, tt).alias("p_a"),
        round_big_int_ratio(pe2_num, tt * tt).alias("p_e_gamma"),
        F.when(
            tt * tt - pe2_num > 0,
            round_big_int_ratio(pbar_num * tt - pe2_num, tt * tt - pe2_num),
        ).alias("gwet_ac1"),
    )


# ---------------------------------------------------------------------------
# 2. Krippendorff's alpha (binary nominal, 3 raters, no missing)
# ---------------------------------------------------------------------------


def _kripp_oracle() -> str:
    from ..functions.exact import sql_round_big_int_ratio

    return f"""
    WITH {_gate_flags_sql().strip()}
    , terms AS (
      SELECT n, sl, sll, 3 * n AS t,
             (3 * sl - sll) AS do_num,
             2 * sl * (3 * n - sl) AS de2_num
      FROM agg
    )
    SELECT CAST(n AS BIGINT) AS n_docs,
           CAST(sl AS BIGINT) AS total_passes,
           {sql_round_big_int_ratio('do_num', 't')} AS disagree_rate,
           CASE WHEN de2_num > 0 THEN
             {sql_round_big_int_ratio('de2_num - (t - 1) * do_num', 'de2_num')}
           END AS kripp_alpha
    FROM terms
    """


@register("stats_krippendorff_alpha_binary", oracle=_kripp_oracle())
def stats_krippendorff_alpha_binary(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Krippendorff's alpha for the three binary quality gates as
    raters (nominal metric, no missing values) — the
    reliability-theory member of the agreement shelf: unlike kappa
    and AC1 it is built from the COINCIDENCE matrix, so it corrects
    chance by the pooled value distribution and generalizes across
    rater counts, sample sizes and missingness (Krippendorff 2004,
    the content-analysis standard alongside Fleiss).

    Closed form at m=3 binary, nothing missing: per-document
    disagreeing ordered pairs are L(3-L), so the observed-
    disagreement sum is 3SL - SLL and alpha = 1 - (T-1)(3SL - SLL) /
    (2 SL (T-SL)) with T = 3n — one half-up 1e-6 ratio of exact
    polynomials in the same (n, SL, SLL) sufficient sums as the
    Fleiss/AC1 siblings. Degenerate all-pass / all-fail corpora NULL
    the coefficient (zero expected disagreement).

    Scale shape: single partial-aggregated scan to three scalars;
    constant-size algebra after. 1 row out.
    """
    from ..functions.exact import round_big_int_ratio

    agg = _gate_sums(Tables(spark, sf_dir))
    tt = 3 * F.col("n")
    do_num = 3 * F.col("sl") - F.col("sll")
    de2_num = 2 * F.col("sl") * (tt - F.col("sl"))
    return agg.select(
        F.col("n").cast("long").alias("n_docs"),
        F.col("sl").cast("long").alias("total_passes"),
        round_big_int_ratio(do_num, tt).alias("disagree_rate"),
        F.when(
            de2_num > 0,
            round_big_int_ratio(de2_num - (tt - 1) * do_num, de2_num),
        ).alias("kripp_alpha"),
    )


# ---------------------------------------------------------------------------
# 4. Newcombe-Wilson hybrid CI for the urgent-rate difference
# ---------------------------------------------------------------------------

NEWCOMBE_R1, NEWCOMBE_R2 = "EUROPE", "ASIA"


def _newcombe_oracle() -> str:
    from .roundsix import WILSON_Z

    z = f"{WILSON_Z!r}::DOUBLE"
    return f"""
    WITH base AS (
      SELECT r.r_name,
             CAST(count(*) AS BIGINT) AS n,
             CAST(sum(CASE WHEN o.o_orderpriority = '1-URGENT' THEN 1 ELSE 0 END)
                  AS BIGINT) AS k
      FROM orders o
      JOIN customer c ON c.c_custkey = o.o_custkey
      JOIN nation na ON na.n_nationkey = c.c_nationkey
      JOIN region r ON r.r_regionkey = na.n_regionkey
      WHERE r.r_name IN ('{NEWCOMBE_R1}', '{NEWCOMBE_R2}')
      GROUP BY 1
    ), w AS (
      SELECT r_name, n, k,
             CAST(k AS DOUBLE) / CAST(n AS DOUBLE) AS p,
             ({z} * {z}) / CAST(n AS DOUBLE) AS zn
      FROM base
    ), b AS (
      SELECT r_name, n, k, p,
             (p + zn * 0.5::DOUBLE) / (1.0::DOUBLE + zn)
               - ({z} * sqrt(p * (1.0::DOUBLE - p) / CAST(n AS DOUBLE)
                             + zn * 0.25::DOUBLE / CAST(n AS DOUBLE)))
                 / (1.0::DOUBLE + zn) AS lo,
             (p + zn * 0.5::DOUBLE) / (1.0::DOUBLE + zn)
               + ({z} * sqrt(p * (1.0::DOUBLE - p) / CAST(n AS DOUBLE)
                             + zn * 0.25::DOUBLE / CAST(n AS DOUBLE)))
                 / (1.0::DOUBLE + zn) AS hi
      FROM w
    ), j AS (
      SELECT a.n AS n1, a.k AS k1, b2.n AS n2, b2.k AS k2,
             a.p AS p1, b2.p AS p2, a.lo AS l1, a.hi AS u1,
             b2.lo AS l2, b2.hi AS u2
      FROM b a JOIN b b2
        ON a.r_name = '{NEWCOMBE_R1}' AND b2.r_name = '{NEWCOMBE_R2}'
    )
    SELECT n1, k1, n2, k2,
           CAST(floor((p1 - p2) * 1000000.0::DOUBLE + 0.5) AS BIGINT)
             AS diff_micro,
           CAST(floor(((p1 - p2)
                       - sqrt((p1 - l1) * (p1 - l1) + (u2 - p2) * (u2 - p2)))
                      * 1000000.0::DOUBLE + 0.5) AS BIGINT) AS ci_lo_micro,
           CAST(floor(((p1 - p2)
                       + sqrt((u1 - p1) * (u1 - p1) + (p2 - l2) * (p2 - l2)))
                      * 1000000.0::DOUBLE + 0.5) AS BIGINT) AS ci_hi_micro
    FROM j
    """


@register("stats_newcombe_diff_ci", oracle=_newcombe_oracle())
def stats_newcombe_diff_ci(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Newcombe hybrid score 95% CI (Newcombe 1998, method 10) for the
    urgent-order-rate DIFFERENCE between the EUROPE and ASIA regions
    — the recommended small-sample interval for p1 - p2: take each
    proportion's Wilson score bounds (the ``stats_wilson_ci_by_nation``
    construction) and combine the one-sided distances in quadrature,
    d -+ sqrt((p1-l1)^2 + (u2-p2)^2) / + sqrt((u1-p1)^2 + (p2-l2)^2).
    The Wald interval ``stats_proportions_ztest`` implies collapses at
    extreme rates; Newcombe's inherits Wilson's boundary-respecting
    behavior on both ends.

    Exactness: counts are exact integers off one partial-aggregated
    fan; the Wilson bounds and the quadrature combination are
    +-*/sqrt-only IEEE expressions mirrored operation-for-operation
    (::DOUBLE-cast literals — the DECIMAL-literal trap), quantized
    once at micro.

    Scale shape: one fact scan to a 2-key aggregate; the region join
    fan is broadcast-sized; constant-size algebra after. 1 row out.
    """
    from .roundsix import WILSON_Z

    t = Tables(spark, sf_dir)
    base = (
        t.orders.join(
            t.customer.select("c_custkey", "c_nationkey"),
            t.orders.o_custkey == F.col("c_custkey"),
        )
        .join(
            F.broadcast(t.nation.select("n_nationkey", "n_regionkey")),
            F.col("c_nationkey") == F.col("n_nationkey"),
        )
        .join(
            F.broadcast(t.region.select("r_regionkey", "r_name")),
            F.col("n_regionkey") == F.col("r_regionkey"),
        )
        .where(F.col("r_name").isin(NEWCOMBE_R1, NEWCOMBE_R2))
        .groupBy("r_name")
        .agg(
            F.count(F.lit(1)).cast("long").alias("n"),
            F.sum(
                F.when(F.col("o_orderpriority") == "1-URGENT", 1).otherwise(0)
            )
            .cast("long")
            .alias("k"),
        )
    )
    nd = F.col("n").cast("double")
    p = F.col("k").cast("double") / nd
    zn = F.lit(WILSON_Z * WILSON_Z) / nd
    center = (p + zn * F.lit(0.5)) / (F.lit(1.0) + zn)
    halfwidth = (
        F.lit(WILSON_Z)
        * F.sqrt(p * (F.lit(1.0) - p) / nd + zn * F.lit(0.25) / nd)
    ) / (F.lit(1.0) + zn)
    b = base.select(
        "r_name", "n", "k", p.alias("p"),
        (center - halfwidth).alias("lo"), (center + halfwidth).alias("hi"),
    )
    a1 = b.where(F.col("r_name") == NEWCOMBE_R1).select(
        F.col("n").alias("n1"), F.col("k").alias("k1"),
        F.col("p").alias("p1"), F.col("lo").alias("l1"), F.col("hi").alias("u1"),
    )
    a2 = b.where(F.col("r_name") == NEWCOMBE_R2).select(
        F.col("n").alias("n2"), F.col("k").alias("k2"),
        F.col("p").alias("p2"), F.col("lo").alias("l2"), F.col("hi").alias("u2"),
    )
    j = a1.crossJoin(F.broadcast(a2))
    d = F.col("p1") - F.col("p2")
    dl = F.sqrt(
        (F.col("p1") - F.col("l1")) * (F.col("p1") - F.col("l1"))
        + (F.col("u2") - F.col("p2")) * (F.col("u2") - F.col("p2"))
    )
    dh = F.sqrt(
        (F.col("u1") - F.col("p1")) * (F.col("u1") - F.col("p1"))
        + (F.col("p2") - F.col("l2")) * (F.col("p2") - F.col("l2"))
    )
    q6 = lambda c: F.floor(c * F.lit(1e6) + F.lit(0.5)).cast("long")  # noqa: E731
    return j.select(
        "n1", "k1", "n2", "k2",
        q6(d).alias("diff_micro"),
        q6(d - dl).alias("ci_lo_micro"),
        q6(d + dh).alias("ci_hi_micro"),
    )

# ---------------------------------------------------------------------------
# 5. Yuen's trimmed-mean t (urgent vs other order prices) per nation
# ---------------------------------------------------------------------------

YUEN_TRIM_DEN = 5  # 20% trim per tail


def _yuen_oracle() -> str:
    from ..functions.exact import sql_round_big_int_ratio

    return f"""
    WITH c AS (
      SELECT n.n_name, o.o_orderkey,
             CAST(floor(o.o_totalprice * 100.0 + 0.5) AS BIGINT) AS cents,
             CASE WHEN o.o_orderpriority = '1-URGENT' THEN 1 ELSE 0 END AS g
      FROM orders o
      JOIN customer cu ON cu.c_custkey = o.o_custkey
      JOIN nation n ON n.n_nationkey = cu.c_nationkey
      WHERE o.o_totalprice IS NOT NULL
    ), r AS (
      SELECT n_name, g, cents,
             row_number() OVER (PARTITION BY n_name, g
                                ORDER BY cents, o_orderkey) AS rn,
             count(*) OVER (PARTITION BY n_name, g) AS cnt
      FROM c
    ), a AS (
      SELECT n_name, g,
             CAST(max(cnt) AS BIGINT) AS n,
             CAST(max(cnt) // {YUEN_TRIM_DEN} AS BIGINT) AS k,
             sum(CASE WHEN rn > cnt // {YUEN_TRIM_DEN}
                       AND rn <= cnt - cnt // {YUEN_TRIM_DEN}
                      THEN cents::HUGEINT ELSE 0::HUGEINT END) AS st,
             sum(CASE WHEN rn > cnt // {YUEN_TRIM_DEN}
                       AND rn <= cnt - cnt // {YUEN_TRIM_DEN}
                      THEN cents::HUGEINT * cents ELSE 0::HUGEINT END) AS stt,
             max(CASE WHEN rn = cnt // {YUEN_TRIM_DEN} + 1 THEN cents END) AS lo,
             max(CASE WHEN rn = cnt - cnt // {YUEN_TRIM_DEN} THEN cents END) AS hi
      FROM r GROUP BY n_name, g
    ), w AS (
      SELECT n_name, g, n, k, st, lo, hi,
             n - 2 * k AS h,
             st + k::HUGEINT * lo + k::HUGEINT * hi AS sw,
             stt + k::HUGEINT * lo * lo + k::HUGEINT * hi * hi AS sww
      FROM a
    ), d AS (
      SELECT n_name, g, n, k, h, st,
             (CAST(sww AS DOUBLE)
              - CAST(sw AS DOUBLE) * CAST(sw AS DOUBLE) / CAST(n AS DOUBLE))
             / CAST(n - 1 AS DOUBLE) AS s2w
      FROM w
    ), p AS (
      SELECT u.n_name,
             u.n AS n_urgent, o.n AS n_other,
             u.h AS h_urgent, o.h AS h_other,
             u.st AS st1, o.st AS st2,
             CAST(u.st AS DOUBLE) / CAST(u.h AS DOUBLE) AS xt1,
             CAST(o.st AS DOUBLE) / CAST(o.h AS DOUBLE) AS xt2,
             u.s2w * CAST(u.n - 1 AS DOUBLE)
               / (CAST(u.h AS DOUBLE) * CAST(u.h - 1 AS DOUBLE)) AS d1,
             o.s2w * CAST(o.n - 1 AS DOUBLE)
               / (CAST(o.h AS DOUBLE) * CAST(o.h - 1 AS DOUBLE)) AS d2
      FROM d u JOIN d o ON o.n_name = u.n_name AND u.g = 1 AND o.g = 0
    )
    SELECT n_name AS nation, n_urgent, n_other,
           {sql_round_big_int_ratio('st1', '100 * h_urgent', 4)}
             AS trimmed_mean_urgent,
           {sql_round_big_int_ratio('st2', '100 * h_other', 4)}
             AS trimmed_mean_other,
           CASE WHEN h_urgent >= 2 AND h_other >= 2 AND d1 + d2 > 0 THEN
             CAST(floor((xt1 - xt2) / sqrt(d1 + d2)
                        * 1000000.0::DOUBLE + 0.5) AS BIGINT)
           END AS yuen_t_micro
    FROM p ORDER BY nation
    """


@register("stats_yuen_trimmed_ttest", oracle=_yuen_oracle())
def stats_yuen_trimmed_ttest(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Yuen's trimmed-mean t statistic (Yuen 1974) for urgent vs
    other order prices within each nation: 20%-trimmed means compared
    with winsorized-variance standard errors — the robust location
    contrast that survives the heavy right tail where Student/Welch t
    (``stats_ttest_ab``) loses power and Cohen's d misstates effect
    size. The trimmed/winsorized machinery is
    ``stats_trimmed_winsorized_price``'s exact rank-window
    construction, extended with the winsorized sum of squares.

    Exactness: trim boundaries come from exact row_number ranks
    (deterministic cents + orderkey tiebreak); trimmed and winsorized
    sums (and squares) are exact HUGEINT/decimal(38,0); the Yuen
    assembly (means, winsorized variances, t) is one mirrored IEEE
    double expression off the exact integers, quantized once at
    micro. Degenerate groups (h < 2 or zero pooled variance) NULL the
    statistic.

    Scale shape: ranks partition by (nation, priority-group) — the
    accepted bounded-key partitioned-window class of the trimmed op
    (never a global sort); one grouped aggregate per partition
    follows; |nations| rows out.
    """
    from pyspark.sql.window import Window

    from ..functions.exact import round_big_int_ratio

    t = Tables(spark, sf_dir)
    cents = F.floor(F.col("o_totalprice") * F.lit(100.0) + F.lit(0.5)).cast("long")
    c = (
        t.orders.where(F.col("o_totalprice").isNotNull())
        .join(
            t.customer.select("c_custkey", "c_nationkey"),
            t.orders.o_custkey == F.col("c_custkey"),
        )
        .join(
            F.broadcast(t.nation.select("n_nationkey", "n_name")),
            F.col("c_nationkey") == F.col("n_nationkey"),
        )
        .select(
            "n_name",
            "o_orderkey",
            cents.alias("cents"),
            F.when(F.col("o_orderpriority") == "1-URGENT", 1).otherwise(0).alias("g"),
        )
    )
    wspec = Window.partitionBy("n_name", "g").orderBy("cents", "o_orderkey")
    wcnt = Window.partitionBy("n_name", "g")
    r = c.select(
        "n_name", "g", "cents",
        F.row_number().over(wspec).alias("rn"),
        F.count(F.lit(1)).over(wcnt).alias("cnt"),
    )
    k_ = F.floor(F.col("cnt") / YUEN_TRIM_DEN).cast("long")
    in_trim = (F.col("rn") > k_) & (F.col("rn") <= F.col("cnt") - k_)
    zero = F.lit(0).cast("decimal(38,0)")
    a = r.groupBy("n_name", "g").agg(
        F.max("cnt").cast("long").alias("n"),
        F.max(k_).cast("long").alias("k"),
        F.sum(F.when(in_trim, dec38(F.col("cents"))).otherwise(zero)).alias("st"),
        F.sum(
            F.when(in_trim, dec38(F.col("cents")) * F.col("cents")).otherwise(zero)
        ).alias("stt"),
        F.max(F.when(F.col("rn") == k_ + 1, F.col("cents"))).alias("lo"),
        F.max(F.when(F.col("rn") == F.col("cnt") - k_, F.col("cents"))).alias("hi"),
    )
    h = F.col("n") - 2 * F.col("k")
    sw = F.col("st") + dec38(F.col("k")) * F.col("lo") + dec38(F.col("k")) * F.col("hi")
    sww = (
        F.col("stt")
        + dec38(F.col("k")) * F.col("lo") * F.col("lo")
        + dec38(F.col("k")) * F.col("hi") * F.col("hi")
    )
    nd = F.col("n").cast("double")
    s2w = (
        sww.cast("double") - sw.cast("double") * sw.cast("double") / nd
    ) / (F.col("n") - 1).cast("double")
    d = a.select(
        "n_name", "g", "n", "k", h.alias("h"), "st", s2w.alias("s2w")
    )
    u = d.where(F.col("g") == 1).select(
        "n_name",
        F.col("n").alias("n_urgent"), F.col("h").alias("h_urgent"),
        F.col("st").alias("st1"), F.col("s2w").alias("s2w1"),
    )
    o = d.where(F.col("g") == 0).select(
        "n_name",
        F.col("n").alias("n_other"), F.col("h").alias("h_other"),
        F.col("st").alias("st2"), F.col("s2w").alias("s2w2"),
    )
    j = u.join(o, "n_name")
    xt1 = F.col("st1").cast("double") / F.col("h_urgent").cast("double")
    xt2 = F.col("st2").cast("double") / F.col("h_other").cast("double")
    d1 = (
        F.col("s2w1")
        * (F.col("n_urgent") - 1).cast("double")
        / (F.col("h_urgent").cast("double") * (F.col("h_urgent") - 1).cast("double"))
    )
    d2 = (
        F.col("s2w2")
        * (F.col("n_other") - 1).cast("double")
        / (F.col("h_other").cast("double") * (F.col("h_other") - 1).cast("double"))
    )
    return j.select(
        F.col("n_name").alias("nation"),
        "n_urgent",
        "n_other",
        round_big_int_ratio(F.col("st1"), F.lit(100) * F.col("h_urgent"), 4).alias(
            "trimmed_mean_urgent"
        ),
        round_big_int_ratio(F.col("st2"), F.lit(100) * F.col("h_other"), 4).alias(
            "trimmed_mean_other"
        ),
        F.when(
            (F.col("h_urgent") >= 2) & (F.col("h_other") >= 2) & (d1 + d2 > 0),
            F.floor((xt1 - xt2) / F.sqrt(d1 + d2) * F.lit(1e6) + F.lit(0.5)).cast(
                "long"
            ),
        ).alias("yuen_t_micro"),
    ).orderBy("nation")
