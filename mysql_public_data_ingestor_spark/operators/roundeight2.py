"""Round-8 batch-3 operators: nonparametric tests, information theory,
weighted link prediction, and recall auditing for the dedup family.

Kruskal-Wallis and Mood's median fill out the nonparametric testing
family (complementing Mann-Whitney / Welch ANOVA / Levene); mutual
information extends the det-ln information-theory surface from text to
warehouse columns; Adamic-Adar is the degree-weighted companion of the
common-neighbors link predictor; and the MinHash recall audit closes
the loop VERDICT r7 opened for IVF-PQ — measure the approximate
operator against its exact ground truth *as a registered query*.

House discipline throughout: declarative DataFrame plans, partial
aggregation to a bounded domain before any window/join that could
otherwise scale with rows, exact integer/decimal arithmetic on every
value that crosses the engine boundary, det-ln (functions/detmath)
wherever the semantics are logarithmic, and a DuckDB oracle twin per
query.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql.window import Window

from ..functions.exact import dec38
from ..registry import register
from ..tables import Tables


# ---------------------------------------------------------------------------
# 1. Kruskal-Wallis H across return flags (quantity ranks, tie-corrected)
# ---------------------------------------------------------------------------


def _kw_oracle() -> str:
    return """
    WITH q AS (
      SELECT l_returnflag AS g, CAST(l_quantity AS BIGINT) AS v
      FROM lineitem WHERE l_quantity IS NOT NULL
    ), dv AS (
      SELECT v, CAST(count(*) AS BIGINT) AS cnt
      FROM q GROUP BY v
    ), r AS (
      SELECT v, cnt,
             coalesce(sum(cnt) OVER (ORDER BY v
               ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0) AS cum
      FROM dv
    ), gv AS (
      SELECT g, v, CAST(count(*) AS BIGINT) AS cnt_g
      FROM q GROUP BY g, v
    ), rg AS (
      SELECT gv.g,
             CAST(sum(gv.cnt_g) AS BIGINT) AS n_g,
             CAST(sum(gv.cnt_g::HUGEINT * (2 * r.cum + r.cnt + 1)) AS HUGEINT)
               AS r2_g
      FROM gv JOIN r ON gv.v = r.v
      GROUP BY gv.g
    ), nt AS (
      SELECT CAST(sum(n_g) AS BIGINT) AS n FROM rg
    ), terms AS (
      SELECT rg.g, rg.n_g,
             CAST(floor(CAST(rg.n_g AS DOUBLE)
                        * ((CAST(rg.r2_g AS DOUBLE) / (2.0 * rg.n_g)
                            - (CAST(nt.n AS DOUBLE) + 1.0) / 2.0)
                           * (CAST(rg.r2_g AS DOUBLE) / (2.0 * rg.n_g)
                              - (CAST(nt.n AS DOUBLE) + 1.0) / 2.0))
                        / (CAST(nt.n AS DOUBLE) * (CAST(nt.n AS DOUBLE) + 1.0))
                        * 12000000.0 + 0.5) AS BIGINT) AS term_u
      FROM rg, nt
    ), s AS (
      SELECT CAST(count(*) AS BIGINT) AS k,
             CAST(sum(term_u) AS BIGINT) AS sum_u
      FROM terms
    ), t AS (
      SELECT CAST(sum(cnt::HUGEINT * cnt * cnt - cnt) AS HUGEINT) AS tie3
      FROM dv
    )
    SELECT s.k, nt.n,
           CAST(floor((CAST(s.sum_u AS DOUBLE) / 1000000.0)
                      / (1.0 - CAST(t.tie3 AS DOUBLE)
                               / (CAST(nt.n AS DOUBLE) * nt.n * nt.n - nt.n))
                      * 1000000.0 + 0.5) AS BIGINT) / 1000000.0 AS h_tie
    FROM s, t, nt
    """


@register("stats_kruskal_wallis_quantity", oracle=_kw_oracle())
def stats_kruskal_wallis_quantity(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Kruskal-Wallis H (rank one-way ANOVA, tie-corrected) of lineitem
    quantity across return flags — the k-group generalization of
    ``stats_mann_whitney_ab`` and the nonparametric complement of
    ``stats_welch_anova``.

    Ranks never materialize per row: quantity is an INTEGER domain
    (1..50), so rank arithmetic runs on the |domain|-bounded distinct
    table. ``2*cum + cnt + 1`` is twice a tie group's midrank (exact
    integer, as in Mann-Whitney); per-group doubled rank sums ``2*R_g``
    and the tie-cube correction are exact integer sums. H uses the
    mean-deviation identity H = 12/(N(N+1)) sum n_g (rbar_g-(N+1)/2)^2
    so no integer ever needs squaring (the Cramer's-V decimal(38,0)
    overflow lesson): each group's contribution is evaluated in double
    from exact integers through a fixed expression chain mirrored
    token-for-token in the oracle, quantized half-up to micro units,
    and summed as integers — order-independent and cross-engine
    identical by construction.

    The cumulative over the 50-value domain is a broadcast non-equi
    self-join of the post-aggregation value table (<=50 rows) — no
    global window, no SinglePartition stage; the only row-scaled work
    is the two partial-aggregated groupBys. Scales: shuffles carry
    |domain| and |modes x domain| rows regardless of corpus size.
    """
    t = Tables(spark, sf_dir)
    q = t.lineitem.filter(F.col("l_quantity").isNotNull()).select(
        F.col("l_returnflag").alias("g"), F.col("l_quantity").cast("long").alias("v")
    )
    dv = q.groupBy("v").agg(F.count(F.lit(1)).alias("cnt"))
    lo = dv.select(F.col("v").alias("v_lo"), F.col("cnt").alias("cnt_lo"))
    r = (
        dv.join(F.broadcast(lo), F.col("v_lo") < F.col("v"), "left")
        .groupBy("v", "cnt")
        .agg(F.coalesce(F.sum("cnt_lo"), F.lit(0)).alias("cum"))
    )
    gv = q.groupBy("g", "v").agg(F.count(F.lit(1)).alias("cnt_g"))
    rg = (
        gv.join(F.broadcast(r), "v")
        .groupBy("g")
        .agg(
            F.sum("cnt_g").alias("n_g"),
            F.sum(dec38(F.col("cnt_g")) * (2 * F.col("cum") + F.col("cnt") + 1)).alias(
                "r2_g"
            ),
        )
    )
    nt = rg.agg(F.sum("n_g").alias("n"))
    n_d = F.col("n").cast("double")
    dev = F.col("r2_g").cast("double") / (F.lit(2.0) * F.col("n_g")) - (
        n_d + F.lit(1.0)
    ) / F.lit(2.0)
    term_u = F.floor(
        F.col("n_g").cast("double")
        * (dev * dev)
        / (n_d * (n_d + F.lit(1.0)))
        * F.lit(12000000.0)
        + F.lit(0.5)
    ).cast("long")
    terms = rg.join(F.broadcast(nt)).select("g", "n_g", term_u.alias("term_u"))
    s = terms.agg(F.count(F.lit(1)).alias("k"), F.sum("term_u").alias("sum_u"))
    tie = dv.agg(
        F.sum(dec38(F.col("cnt")) * F.col("cnt") * F.col("cnt") - F.col("cnt")).alias(
            "tie3"
        )
    )
    j = s.join(F.broadcast(tie)).join(F.broadcast(nt))
    corr = F.lit(1.0) - F.col("tie3").cast("double") / (
        n_d * F.col("n") * F.col("n") - F.col("n")
    )
    return j.select(
        "k",
        "n",
        (
            F.floor(
                (F.col("sum_u").cast("double") / F.lit(1e6)) / corr * F.lit(1e6)
                + F.lit(0.5)
            ).cast("long")
            / F.lit(1e6)
        ).alias("h_tie"),
    )


# ---------------------------------------------------------------------------
# 2. Mood's median test (discount above/below grand median per return flag)
# ---------------------------------------------------------------------------


def _mood_oracle() -> str:
    return """
    WITH q AS (
      SELECT l_returnflag AS g,
             CAST(floor(l_discount * 100.0 + 0.5) AS BIGINT) AS v
      FROM lineitem WHERE l_discount IS NOT NULL
    ), dv AS (
      SELECT v, CAST(count(*) AS BIGINT) AS cnt FROM q GROUP BY v
    ), med AS (
      SELECT min(v) AS median_v FROM (
        SELECT v, sum(cnt) OVER (ORDER BY v) AS cum,
               sum(cnt) OVER () AS n FROM dv
      ) WHERE 2 * cum >= n + 1
    ), cells AS (
      SELECT q.g,
             CAST(sum(CASE WHEN q.v > m.median_v THEN 1 ELSE 0 END) AS BIGINT)
               AS n_above,
             CAST(sum(CASE WHEN q.v <= m.median_v THEN 1 ELSE 0 END) AS BIGINT)
               AS n_le
      FROM q, med m GROUP BY q.g
    ), tot AS (
      SELECT CAST(sum(n_above) AS BIGINT) AS ta,
             CAST(sum(n_le) AS BIGINT) AS tl,
             CAST(count(*) AS BIGINT) AS k
      FROM cells
    ), ex AS (
      SELECT c.g, c.n_above, c.n_le,
             CAST(c.n_above + c.n_le AS DOUBLE) * t.ta
               / (CAST(t.ta AS DOUBLE) + t.tl) AS ea,
             CAST(c.n_above + c.n_le AS DOUBLE) * t.tl
               / (CAST(t.ta AS DOUBLE) + t.tl) AS el
      FROM cells c, tot t
    ), dv2 AS (
      SELECT g, n_above, n_le, ea, el,
             CAST(n_above AS DOUBLE) - ea AS da,
             CAST(n_le AS DOUBLE) - el AS dl
      FROM ex
    )
    SELECT g AS returnflag, n_above, n_le,
           CAST(floor((da * da / ea + dl * dl / el) * 1000000.0 + 0.5)
                AS BIGINT) / 1000000.0 AS chi2_contrib
    FROM dv2
    """


@register("stats_mood_median_discount", oracle=_mood_oracle())
def stats_mood_median_discount(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Mood's median test cells for lineitem discount across return
    flags: per-flag counts above / at-or-below the grand median, plus
    each flag's chi-square contribution (the statistic is their sum) —
    the robust "do these groups share a center" screen that, unlike
    Kruskal-Wallis, is insensitive to tail shape.

    The grand median comes from the discount value domain (11 distinct
    cents values) — cumulative counts via a broadcast non-equi join on
    the <=11-row aggregate, never a row-scaled sort. The 2xk
    contingency cells are one partial-aggregated scan joined to the
    broadcast 1-row median; expected counts and contributions are
    evaluated in double from exact integer cells, quantized half-up
    6dp. ``power(x,2)`` in the oracle is the correctly-rounded IEEE
    multiply both engines share (x*x on the Spark side).
    """
    t = Tables(spark, sf_dir)
    q = t.lineitem.filter(F.col("l_discount").isNotNull()).select(
        F.col("l_returnflag").alias("g"),
        F.floor(F.col("l_discount") * F.lit(100.0) + F.lit(0.5)).cast("long").alias("v"),
    )
    dv = q.groupBy("v").agg(F.count(F.lit(1)).alias("cnt"))
    lo = dv.select(F.col("v").alias("v_lo"), F.col("cnt").alias("cnt_lo"))
    cum = (
        dv.join(F.broadcast(lo), F.col("v_lo") <= F.col("v"), "left")
        .groupBy("v")
        .agg(F.sum("cnt_lo").alias("cum"))
    )
    n_tot = dv.agg(F.sum("cnt").alias("n"))
    med = (
        cum.join(F.broadcast(n_tot))
        .filter(2 * F.col("cum") >= F.col("n") + 1)
        .agg(F.min("v").alias("median_v"))
    )
    cells = (
        q.join(F.broadcast(med))
        .groupBy("g")
        .agg(
            F.sum(F.when(F.col("v") > F.col("median_v"), 1).otherwise(0)).alias(
                "n_above"
            ),
            F.sum(F.when(F.col("v") <= F.col("median_v"), 1).otherwise(0)).alias("n_le"),
        )
    )
    tot = cells.agg(
        F.sum("n_above").alias("ta"), F.sum("n_le").alias("tl"), F.count(F.lit(1)).alias("k")
    )
    j = cells.join(F.broadcast(tot))
    n_g = (F.col("n_above") + F.col("n_le")).cast("double")
    tt = F.col("ta").cast("double") + F.col("tl")
    ea = n_g * F.col("ta") / tt
    el = n_g * F.col("tl") / tt
    da = F.col("n_above").cast("double") - ea
    dl = F.col("n_le").cast("double") - el
    contrib = da * da / ea + dl * dl / el
    return j.select(
        F.col("g").alias("returnflag"),
        "n_above",
        "n_le",
        (F.floor(contrib * F.lit(1e6) + F.lit(0.5)).cast("long") / F.lit(1e6)).alias(
            "chi2_contrib"
        ),
    )


# ---------------------------------------------------------------------------
# 3. Mutual information: order priority x customer market segment (det-ln)
# ---------------------------------------------------------------------------


def _mi_oracle() -> str:
    from ..functions.detmath import sql_det_ln_steps
    from ..functions.exact import sql_round_big_int_ratio

    return f"""
    WITH j AS (
      SELECT o.o_orderpriority AS x, c.c_mktsegment AS y
      FROM orders o JOIN customer c ON o.o_custkey = c.c_custkey
    ), xy AS (
      SELECT x, y, CAST(count(*) AS BIGINT) AS n_xy FROM j GROUP BY x, y
    ), {sql_det_ln_steps('xy', 'n_xy', 'ln_xy', 9)},
    xs AS (
      SELECT x, CAST(sum(n_xy) AS BIGINT) AS n_x FROM xy GROUP BY x
    ), {sql_det_ln_steps('xs', 'n_x', 'ln_x', 9)},
    ys AS (
      SELECT y, CAST(sum(n_xy) AS BIGINT) AS n_y FROM xy GROUP BY y
    ), {sql_det_ln_steps('ys', 'n_y', 'ln_y', 9)},
    ns AS (
      SELECT CAST(sum(n_xy) AS BIGINT) AS n FROM xy
    ), {sql_det_ln_steps('ns', 'n', 'ln_n', 9)},
    mi AS (
      SELECT CAST(sum(c.n_xy::HUGEINT
                      * (n.ln_n + c.ln_xy - a.ln_x - b.ln_y)) AS HUGEINT)
               AS mi_num,
             CAST(max(n.n) AS BIGINT) AS n
      FROM ln_xy_rel c
      JOIN ln_x_rel a USING (x) JOIN ln_y_rel b USING (y)
      CROSS JOIN ln_n_rel n
    ), hx AS (
      SELECT CAST(sum(a.n_x::HUGEINT * a.ln_x) AS HUGEINT) AS s_x FROM ln_x_rel a
    ), hy AS (
      SELECT CAST(sum(b.n_y::HUGEINT * b.ln_y) AS HUGEINT) AS s_y FROM ln_y_rel b
    )
    SELECT m.n,
           {sql_round_big_int_ratio('m.mi_num', 'm.n::HUGEINT * 1000000000', 6)}
             AS mi_nats,
           {sql_round_big_int_ratio(
               '(SELECT max(ln_n) FROM ln_n_rel)::HUGEINT * m.n - hx.s_x',
               'm.n::HUGEINT * 1000000000', 6)} AS h_priority,
           {sql_round_big_int_ratio(
               '(SELECT max(ln_n) FROM ln_n_rel)::HUGEINT * m.n - hy.s_y',
               'm.n::HUGEINT * 1000000000', 6)} AS h_segment,
           {sql_round_big_int_ratio(
               'm.mi_num',
               '(SELECT max(ln_n) FROM ln_n_rel)::HUGEINT * m.n - hx.s_x', 6)}
             AS uncertainty_coeff
    FROM mi m, hx, hy
    """


@register("stats_mutual_info_priority_segment", oracle=_mi_oracle())
def stats_mutual_info_priority_segment(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Mutual information I(priority; segment) between order priority
    and the ordering customer's market segment, with both marginal
    entropies and the uncertainty coefficient U = I/H(priority) — the
    information-theoretic effect-size companion to
    ``stats_cramers_v_priority_status`` (chi-square measures departure
    from independence; MI measures it in nats).

    I = (1/N) sum_xy n_xy (ln N + ln n_xy - ln n_x - ln n_y): every ln
    is the deterministic fixed-point det-ln (dp=9) evaluated on the
    BOUNDED 5x5 joint table (never per row), so the summand is an exact
    integer and the sums are order-independent; the three outputs are
    exact half-up integer ratios. The only row-scaled work is the
    orders-customer equi-join (one shuffle each side; at 100 TB this is
    the standard co-partitioned fact join) feeding a partial-aggregated
    25-cell groupBy.
    """
    from ..functions.detmath import det_ln_q
    from ..functions.exact import round_big_int_ratio

    t = Tables(spark, sf_dir)
    j = t.orders.select("o_custkey", F.col("o_orderpriority").alias("x")).join(
        t.customer.select(F.col("c_custkey").alias("o_custkey"), F.col("c_mktsegment").alias("y")),
        "o_custkey",
    )
    xy = j.groupBy("x", "y").agg(F.count(F.lit(1)).alias("n_xy"))
    xy = xy.withColumn("ln_xy", det_ln_q(F.col("n_xy"), 9)).localCheckpoint(eager=False)
    xs = xy.groupBy("x").agg(F.sum("n_xy").alias("n_x"))
    xs = xs.withColumn("ln_x", det_ln_q(F.col("n_x"), 9))
    ys = xy.groupBy("y").agg(F.sum("n_xy").alias("n_y"))
    ys = ys.withColumn("ln_y", det_ln_q(F.col("n_y"), 9))
    ns = xy.agg(F.sum("n_xy").alias("n"))
    ns = ns.withColumn("ln_n", det_ln_q(F.col("n"), 9))
    mi = (
        xy.join(F.broadcast(xs), "x")
        .join(F.broadcast(ys), "y")
        .join(F.broadcast(ns))
        .agg(
            F.sum(
                dec38(F.col("n_xy"))
                * (F.col("ln_n") + F.col("ln_xy") - F.col("ln_x") - F.col("ln_y"))
            ).alias("mi_num"),
            F.max("n").alias("n"),
            F.max("ln_n").alias("ln_n"),
        )
    )
    hx = xs.agg(F.sum(dec38(F.col("n_x")) * F.col("ln_x")).alias("s_x"))
    hy = ys.agg(F.sum(dec38(F.col("n_y")) * F.col("ln_y")).alias("s_y"))
    out = mi.join(F.broadcast(hx)).join(F.broadcast(hy))
    n_dec = dec38(F.col("n"))
    nano = n_dec * F.lit(1_000_000_000)
    hx_num = dec38(F.col("ln_n")) * F.col("n") - F.col("s_x")
    hy_num = dec38(F.col("ln_n")) * F.col("n") - F.col("s_y")
    return out.select(
        "n",
        round_big_int_ratio(F.col("mi_num"), nano, 6).alias("mi_nats"),
        round_big_int_ratio(hx_num, nano, 6).alias("h_priority"),
        round_big_int_ratio(hy_num, nano, 6).alias("h_segment"),
        round_big_int_ratio(F.col("mi_num"), hx_num, 6).alias("uncertainty_coeff"),
    )


# ---------------------------------------------------------------------------
# 4. Adamic-Adar link prediction (degree-weighted common neighbors)
# ---------------------------------------------------------------------------

AA_SEEDS = 40   # seed parts: graph nodes with partkey < AA_SEEDS
AA_TOPK = 5     # recommendations per seed
AA_MIN_CN = 2   # candidate floor: at least 2 common neighbors


def _aa_oracle() -> str:
    from .graph import _SQL_EDGES
    from ..functions.detmath import sql_det_ln_steps

    return (
        _SQL_EDGES
        + f"""
    , adj AS (
      SELECT u, v FROM edges UNION ALL SELECT v AS u, u AS v FROM edges
    ), deg AS (
      SELECT u AS node, CAST(count(*) AS BIGINT) AS degree FROM adj GROUP BY u
    ), {sql_det_ln_steps('deg', 'degree', 'ln_deg', 9)},
    dterm AS (
      SELECT node,
             (2000000000000000::BIGINT + ln_deg) // (2 * ln_deg) AS term_u
      FROM ln_deg_rel WHERE degree >= 2
    ), wedge AS (
      SELECT e1.u AS seed, e2.v AS cand, e1.v AS mid
      FROM adj e1 JOIN adj e2 ON e1.v = e2.u
      WHERE e1.u < {AA_SEEDS} AND e2.v <> e1.u
    ), cn AS (
      SELECT w.seed, w.cand,
             CAST(count(*) AS BIGINT) AS common_neighbors,
             CAST(sum(d.term_u) AS BIGINT) AS sum_u
      FROM wedge w JOIN dterm d ON w.mid = d.node
      GROUP BY w.seed, w.cand
    ), cand AS (
      SELECT c.seed, c.cand, c.common_neighbors, c.sum_u
      FROM cn c LEFT JOIN edges e
        ON least(c.seed, c.cand) = e.u AND greatest(c.seed, c.cand) = e.v
      WHERE e.u IS NULL AND c.common_neighbors >= {AA_MIN_CN}
    )
    SELECT seed AS seed_part, cand AS recommended_part, common_neighbors,
           sum_u / 1000000.0 AS adamic_adar, rnk
    FROM (
      SELECT *, CAST(row_number() OVER (PARTITION BY seed
                     ORDER BY sum_u DESC, common_neighbors DESC, cand) AS BIGINT)
               AS rnk
      FROM cand
    ) WHERE rnk <= {AA_TOPK}
    """
    )


@register("graph_adamic_adar_linkpred", oracle=_aa_oracle())
def graph_adamic_adar_linkpred(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Adamic-Adar link prediction over the co-purchase graph, per
    seed: common neighbors weighted by 1/ln(degree), so a rare part
    co-bought with both endpoints is stronger evidence than a hub that
    everything is bought with — the degree-aware upgrade of
    ``graph_common_neighbors_linkpred`` (same seed-bounded shape, same
    anti-join against existing edges, different score).

    1/ln(deg) is evaluated ONCE per node on the |nodes|-bounded degree
    table (det-ln dp=9, then a half-up integer reciprocal in micro
    units), never per wedge row; per-pair scores are exact integer
    sums of those micro terms, so the top-k ordering is cross-engine
    identical with no float accumulation anywhere. A common neighbor
    always has degree >= 2, so ln is never 0. Cost is the same two
    bounded hops from the seeds as the common-neighbors op; at 100 TB
    both hop joins shuffle on node keys with no cartesian anywhere.
    """
    from .graph import _degrees, edge_table
    from ..functions.detmath import det_ln_q

    t = Tables(spark, sf_dir)
    edges = edge_table(spark, t, sf_dir)
    adj = edges.unionAll(edges.select(F.col("v").alias("u"), F.col("u").alias("v")))
    hop1 = adj.filter(F.col("u") < AA_SEEDS).select(
        F.col("u").alias("seed"), F.col("v").alias("mid")
    )
    hop2 = adj.select(F.col("u").alias("mid"), F.col("v").alias("cand"))
    wedge = hop1.join(hop2, "mid").filter(F.col("cand") != F.col("seed"))
    # det-ln only on degrees of nodes that ARE wedge midpoints (the
    # seeds' hop-1 neighborhood) — the full degree table grows with
    # the corpus, the mid set is seed-bounded; measured at ×10 the
    # unrestricted det-ln dominated the runtime (SCALE.md §5g.4).
    mids = hop1.select(F.col("mid").alias("node")).distinct()
    deg = _degrees(edges).join(F.broadcast(mids), "node").filter(F.col("degree") >= 2)
    ln = det_ln_q(F.col("degree"), 9)
    a = F.lit(2_000_000_000_000_000).cast("long") + ln
    b = F.lit(2).cast("long") * ln
    dterm = deg.select("node", ((a - a % b) / b).cast("long").alias("term_u"))
    cn = (
        wedge.join(dterm.withColumnRenamed("node", "mid"), "mid")
        .groupBy("seed", "cand")
        .agg(
            F.count(F.lit(1)).alias("common_neighbors"),
            F.sum("term_u").alias("sum_u"),
        )
        .filter(F.col("common_neighbors") >= AA_MIN_CN)
    )
    pair_u = F.least(F.col("seed"), F.col("cand"))
    pair_v = F.greatest(F.col("seed"), F.col("cand"))
    cand = cn.join(edges, (pair_u == edges.u) & (pair_v == edges.v), "left_anti")
    w = Window.partitionBy("seed").orderBy(
        F.col("sum_u").desc(), F.col("common_neighbors").desc(), F.col("cand")
    )
    return (
        cand.withColumn("rnk", F.row_number().over(w).cast("long"))
        .filter(F.col("rnk") <= AA_TOPK)
        .select(
            F.col("seed").alias("seed_part"),
            F.col("cand").alias("recommended_part"),
            "common_neighbors",
            (F.col("sum_u") / F.lit(1000000.0)).alias("adamic_adar"),
            "rnk",
        )
    )


# ---------------------------------------------------------------------------
# 5. MinHash-LSH recall audit vs exact blocked Jaccard ground truth
# ---------------------------------------------------------------------------


# Deterministic per-block cap on the recall audit's exact-truth side
# (VERDICT r8 item 4): at most this many hash-selected docs per
# (lang, len_bucket) block enter the exact-Jaccard pair enumeration,
# so truth pair volume is <= n_blocks * C(cap, 2) BY MECHANISM — one
# hot block at 100 TB can no longer make the audit quadratic. 64 docs
# per block keeps every sf0.01/sf0.1 block intact in practice while
# the x10 duplicate-amplified fixture caps out.
RECALL_AUDIT_BLOCK_CAP = 64


def _minhash_recall_oracle() -> str:
    from .dedup import (
        N_BANDS,
        N_MINHASH,
        ROWS_PER_BAND,
        _SQL_SHINGLES,
        _sql_minhash,
    )
    from ..functions.exact import sql_round_int_ratio

    hcols = ",\n             ".join(_sql_minhash(i) for i in range(N_MINHASH))
    bcols = ", ".join(
        "concat("
        + ", ',', ".join(f"h{b * ROWS_PER_BAND + r}" for r in range(ROWS_PER_BAND))
        + f") AS b{b}"
        for b in range(N_BANDS)
    )
    bmatch = " OR ".join(f"a.b{b} = b.b{b}" for b in range(N_BANDS))
    return f"""
    WITH norm AS (
{_SQL_SHINGLES}
    ), sigs AS (
      SELECT doc_id,
             list_distinct(list_transform(shingles,
               s -> ('0x' || substr(sha256(s), 1, 15))::BIGINT)) AS bases,
             {hcols}
      FROM norm WHERE len(shingles) > 0
    ), banded AS (
      SELECT doc_id, {bcols} FROM sigs
    ), lsh AS (
      SELECT DISTINCT a.doc_id AS doc_a, b.doc_id AS doc_b
      FROM banded a JOIN banded b
        ON a.doc_id < b.doc_id AND ({bmatch})
    ), keyed AS (
      SELECT s.doc_id, d.lang, d.n_chars // 100 AS len_bucket, s.bases AS hs,
             (('0x' || substr(sha256('ra|' || CAST(s.doc_id AS VARCHAR)),
                              1, 15)))::BIGINT AS smp_h
      FROM sigs s JOIN documents d USING (doc_id)
    ), capped AS (
      SELECT doc_id, lang, len_bucket, hs
      FROM (SELECT *, row_number() OVER (PARTITION BY lang, len_bucket
                                         ORDER BY smp_h, doc_id) AS rk
            FROM keyed)
      WHERE rk <= {RECALL_AUDIT_BLOCK_CAP}
    ), truth AS (
      SELECT a.doc_id AS doc_a, b.doc_id AS doc_b,
             len(list_intersect(a.hs, b.hs)) AS inter,
             len(a.hs) + len(b.hs) - len(list_intersect(a.hs, b.hs)) AS uni
      FROM capped a JOIN capped b
        ON a.lang = b.lang AND a.len_bucket = b.len_bucket
           AND a.doc_id < b.doc_id
      WHERE 2 * len(list_intersect(a.hs, b.hs))
            >= len(a.hs) + len(b.hs) - len(list_intersect(a.hs, b.hs))
    ), marked AS (
      SELECT least((10 * t.inter) // t.uni, 9) AS decile,
             CASE WHEN l.doc_a IS NOT NULL THEN 1 ELSE 0 END AS hit
      FROM truth t LEFT JOIN lsh l
        ON t.doc_a = l.doc_a AND t.doc_b = l.doc_b
    )
    SELECT CAST(decile AS BIGINT) AS decile,
           CAST(count(*) AS BIGINT) AS n_truth,
           CAST(sum(hit) AS BIGINT) AS n_hit,
           {sql_round_int_ratio('sum(hit)', 'count(*)')} AS recall
    FROM marked GROUP BY decile
    """


@register("dedup_minhash_recall_audit", oracle=_minhash_recall_oracle())
def dedup_minhash_recall_audit(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Measured recall of the MinHash-LSH candidate generator against
    exact blocked-Jaccard ground truth, per Jaccard decile — the
    registered self-audit VERDICT r7 asked the approximate family to
    carry (the dedup twin of ``similarity_ivfpq_recall_audit``): the
    (bands, rows) = (4, 2) scheme's S-curve is visible directly as
    recall rising with similarity, and a threshold/band change shows up
    as a hash-checked diff, not an argument.

    Ground truth is the exact shingle-set Jaccard >= 0.5 over the same
    (lang, length-bucket) blocking ``dedup_ngram_jaccard`` uses — the
    bounded exact pair set available without an O(n^2) scan (the audit
    measures recall over blocked truth; LSH candidates are global so
    this only overstates recall if a near-dup pair crosses a length
    block, which verbatim and near-verbatim duplicates do not).
    Within each block at most ``RECALL_AUDIT_BLOCK_CAP`` docs —
    selected by a deterministic salted hash rank, identical in both
    engines — enter the pair enumeration (VERDICT r8 item 4): block
    density no longer drives pair volume, so one hot (lang, bucket)
    block at 100 TB costs C(cap, 2) pairs instead of C(block, 2),
    while the hash-random sample preserves the per-decile S-curve.
    Decile assignment is pure integer arithmetic ((10*inter)//union,
    capped at 9) — no float boundary can flip a bucket cross-engine.
    One shingle+hash pass is shared by both sides via localCheckpoint;
    the band join shuffles on narrow band keys and the truth join on
    block keys — no cartesian anywhere at any scale.
    """
    from .dedup import (
        MERSENNE_P,
        N_BANDS,
        ROWS_PER_BAND,
        SHINGLE_K,
        _minhash_cols,
    )
    from ..functions.exact import round_int_ratio
    from ..functions.partitioning import cpu_repartition
    from ..functions.textnorm import sha256_prefix_i64, shingle_base_hash_udf

    t = Tables(spark, sf_dir)
    bases_udf = shingle_base_hash_udf(SHINGLE_K)
    norm = (
        cpu_repartition(t.documents, "doc_id")
        .select(
            "doc_id",
            "lang",
            (F.col("n_chars") / 100).cast("long").alias("len_bucket"),
            bases_udf(F.col("text")).alias("bases"),
        )
        .filter(F.size("bases") > 0)
        .localCheckpoint(eager=False)
    )
    sigs = norm.select(
        "doc_id",
        *_minhash_cols(F.transform(F.col("bases"), lambda x: x % MERSENNE_P)),
    )
    band_cols = [
        F.concat_ws(
            ",", *[F.col(f"h{b * ROWS_PER_BAND + r}") for r in range(ROWS_PER_BAND)]
        ).alias(f"b{b}")
        for b in range(N_BANDS)
    ]
    banded = sigs.select(
        "doc_id", F.posexplode(F.array(*band_cols)).alias("band_id", "band_key")
    )
    lsh = (
        banded.select(F.col("doc_id").alias("doc_a"), "band_id", "band_key")
        .join(
            banded.select(F.col("doc_id").alias("doc_b"), "band_id", "band_key"),
            ["band_id", "band_key"],
        )
        .filter(F.col("doc_a") < F.col("doc_b"))
        .select("doc_a", "doc_b")
        .distinct()
    )
    w_blk = Window.partitionBy("lang", "len_bucket").orderBy("smp_h", "doc_id")
    capped = (
        norm.withColumn(
            "smp_h",
            sha256_prefix_i64(
                F.concat(F.lit("ra|"), F.col("doc_id").cast("string"))
            ),
        )
        .withColumn("rk", F.row_number().over(w_blk))
        .filter(F.col("rk") <= RECALL_AUDIT_BLOCK_CAP)
        .drop("smp_h", "rk")
    )
    a = capped.select(
        F.col("doc_id").alias("doc_a"), "lang", "len_bucket", F.col("bases").alias("ha")
    )
    b_ = capped.select(
        F.col("doc_id").alias("doc_b"),
        F.col("lang").alias("lang_b"),
        F.col("len_bucket").alias("len_bucket_b"),
        F.col("bases").alias("hb"),
    )
    inter = F.size(F.array_intersect(F.col("ha"), F.col("hb")))
    union = F.size("ha") + F.size("hb") - inter
    truth = (
        a.join(
            b_,
            (F.col("lang") == F.col("lang_b"))
            & (F.col("len_bucket") == F.col("len_bucket_b"))
            & (F.col("doc_a") < F.col("doc_b")),
        )
        .select("doc_a", "doc_b", inter.alias("inter"), union.alias("uni"))
        .filter(2 * F.col("inter") >= F.col("uni"))
    )
    marked = truth.join(
        lsh.withColumn("hit", F.lit(1)), ["doc_a", "doc_b"], "left"
    ).select(
        F.least(
            F.floor((10 * F.col("inter")) / F.col("uni")).cast("long"), F.lit(9)
        ).alias("decile"),
        F.coalesce(F.col("hit"), F.lit(0)).alias("hit"),
    )
    return marked.groupBy("decile").agg(
        F.count(F.lit(1)).alias("n_truth"),
        F.sum("hit").alias("n_hit"),
        round_int_ratio(F.sum("hit"), F.count(F.lit(1))).alias("recall"),
    )


# ---------------------------------------------------------------------------
# 6. Weibull fit of shipment latency (median-rank regression, det-ln)
# ---------------------------------------------------------------------------


def _weibull_oracle() -> str:
    from ..functions.detmath import sql_det_ln_steps

    return f"""
    WITH lat AS (
      SELECT CAST(date_diff('day', o.o_orderdate, l.l_shipdate) AS BIGINT) AS v
      FROM lineitem l JOIN orders o ON o.o_orderkey = l.l_orderkey
      WHERE date_diff('day', o.o_orderdate, l.l_shipdate) >= 1
    ), dv AS (
      SELECT v, CAST(count(*) AS BIGINT) AS cnt FROM lat GROUP BY v
    ), nt AS (
      SELECT CAST(sum(cnt) AS BIGINT) AS n FROM dv
    ), cm AS (
      SELECT d.v, d.cnt, nt.n,
             CAST(sum(d2.cnt) AS BIGINT) AS cum,
             CAST(nt.n AS DOUBLE) + 0.4::DOUBLE AS na
      FROM dv d JOIN dv d2 ON d2.v <= d.v CROSS JOIN nt
      GROUP BY d.v, d.cnt, nt.n
    ), cw AS (
      SELECT v, cnt, n, cum, na,
             CAST(n AS DOUBLE) + 0.7::DOUBLE - cum AS nb
      FROM cm
    ), {sql_det_ln_steps('cw', 'v', 'ln_v', 9)},
    {sql_det_ln_steps('ln_v_rel', 'na', 'la', as_double=True)},
    {sql_det_ln_steps('la_rel', 'nb', 'lb', as_double=True)},
    ww AS (
      SELECT v, cnt, n, cum, ln_v, la - lb AS w FROM lb_rel
    ), {sql_det_ln_steps('ww', 'w', 'y_n', 9)},
    sums AS (
      SELECT CAST(max(n) AS BIGINT) AS n,
             CAST(count(*) AS BIGINT) AS n_pts,
             CAST(sum(ln_v::HUGEINT) AS HUGEINT) AS sx,
             CAST(sum(y_n::HUGEINT) AS HUGEINT) AS sy,
             CAST(sum(ln_v::HUGEINT * y_n) AS HUGEINT) AS sxy,
             CAST(sum(ln_v::HUGEINT * ln_v) AS HUGEINT) AS sxx
      FROM y_n_rel
    ), fit AS (
      SELECT n, n_pts,
             CAST(n_pts::HUGEINT * sxy - sx * sy AS DOUBLE)
               / CAST(n_pts::HUGEINT * sxx - sx * sx AS DOUBLE) AS shape
      FROM sums
    )
    SELECT f.n, f.n_pts,
           CAST(floor(f.shape * 1000000.0 + 0.5) AS BIGINT) / 1000000.0
             AS shape,
           CAST(floor(-(((CAST(s.sy AS DOUBLE) - f.shape * CAST(s.sx AS DOUBLE))
                         / f.n_pts) / f.shape) / 1000000000.0
                      * 1000000.0 + 0.5) AS BIGINT) / 1000000.0 AS ln_scale
    FROM fit f, sums s
    """


@register("stats_weibull_latency_fit", oracle=_weibull_oracle())
def stats_weibull_latency_fit(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Weibull (shape, ln-scale) fit of order-to-ship latency by
    median-rank regression — the reliability-engineering read of the
    logistics pipeline (`shape > 1` = wear-in delays dominate, ~1 =
    memoryless): regress ln(-ln(1-F_hat)) on ln(days) where F_hat is
    the grouped median-rank estimate (cum - 0.3)/(n + 0.4), and report
    the slope (shape k) and -intercept/k (= ln of the scale parameter;
    reported in ln-domain so no exp() ever runs — the r5 discipline).

    Latency is an integer-day domain (~120 distinct), so every
    regression point lives on the post-aggregation distinct table:
    x = det-ln(v), y = det-ln(ln(n+0.4) - ln(n+0.7-cum)) with all four
    ln evaluations the deterministic fixed-point det-ln — x and y
    quantize to exact nano-nat integers, the OLS sufficient statistics
    are exact integer sums (order-independent), and only the final
    slope/intercept are floating point through an oracle-mirrored
    chain. Cumulatives run via a <=|domain|^2 self-join of the distinct
    table, never a row-scaled window; the only row-scaled work is the
    fact-fact equi-join and one partial-aggregated groupBy.
    """
    from ..functions.detmath import det_ln_dbl, det_ln_q

    t = Tables(spark, sf_dir)
    lat = (
        t.lineitem.select("l_orderkey", "l_shipdate")
        .join(t.orders.select("o_orderkey", "o_orderdate"),
              F.col("o_orderkey") == F.col("l_orderkey"))
        .select(F.datediff(F.col("l_shipdate"), F.col("o_orderdate")).cast("long").alias("v"))
        .filter(F.col("v") >= 1)
    )
    dv = lat.groupBy("v").agg(F.count(F.lit(1)).alias("cnt"))
    nt = dv.agg(F.sum("cnt").alias("n"))
    d2 = dv.select(F.col("v").alias("v2"), F.col("cnt").alias("cnt2"))
    cm = (
        dv.join(F.broadcast(d2), F.col("v2") <= F.col("v"))
        .join(F.broadcast(nt))
        .groupBy("v", "cnt", "n")
        .agg(F.sum("cnt2").alias("cum"))
        .withColumn("na", F.col("n").cast("double") + F.lit(0.4))
        .withColumn("nb", F.col("n").cast("double") + F.lit(0.7) - F.col("cum"))
    )
    ww = cm.select(
        "v",
        "cnt",
        "n",
        "cum",
        det_ln_q(F.col("v"), 9).alias("ln_v"),
        (det_ln_dbl(F.col("na")) - det_ln_dbl(F.col("nb"))).alias("w"),
    )
    pts = ww.select("n", "ln_v", det_ln_q(F.col("w"), 9).alias("y_n"))
    sums = pts.agg(
        F.max("n").alias("n"),
        F.count(F.lit(1)).alias("n_pts"),
        F.sum(dec38(F.col("ln_v"))).alias("sx"),
        F.sum(dec38(F.col("y_n"))).alias("sy"),
        F.sum(dec38(F.col("ln_v")) * F.col("y_n")).alias("sxy"),
        F.sum(dec38(F.col("ln_v")) * F.col("ln_v")).alias("sxx"),
    )
    np_dec = dec38(F.col("n_pts"))
    shape = (np_dec * F.col("sxy") - F.col("sx") * F.col("sy")).cast("double") / (
        np_dec * F.col("sxx") - F.col("sx") * F.col("sx")
    ).cast("double")
    out = sums.withColumn("shape_d", shape)
    intercept = (
        F.col("sy").cast("double") - F.col("shape_d") * F.col("sx").cast("double")
    ) / F.col("n_pts")
    return out.select(
        "n",
        "n_pts",
        (F.floor(F.col("shape_d") * F.lit(1e6) + F.lit(0.5)).cast("long") / F.lit(1e6)).alias(
            "shape"
        ),
        (
            F.floor(
                -((intercept / F.col("shape_d")) / F.lit(1e9)) * F.lit(1e6) + F.lit(0.5)
            ).cast("long")
            / F.lit(1e6)
        ).alias("ln_scale"),
    )


# ---------------------------------------------------------------------------
# 7. Seasonal strength of hourly traffic per event type (hour-of-day eta^2)
# ---------------------------------------------------------------------------


def _seasonal_strength_oracle() -> str:
    return """
    WITH cells AS (
      SELECT event_type, CAST(ts AS DATE) AS d, extract(hour FROM ts) AS h,
             CAST(count(*) AS BIGINT) AS n_dh
      FROM events GROUP BY 1, 2, 3
    ), per_hour AS (
      SELECT event_type, h,
             CAST(count(*) AS BIGINT) AS c_h,
             CAST(sum(n_dh) AS BIGINT) AS s_h
      FROM cells GROUP BY 1, 2
    ), hterms AS (
      SELECT event_type,
             CAST(floor(CAST(s_h AS DOUBLE) * s_h / c_h * 1000000.0 + 0.5)
                  AS BIGINT) AS t_u
      FROM per_hour
    ), hsum AS (
      SELECT event_type, CAST(sum(t_u) AS BIGINT) AS sb_u
      FROM hterms GROUP BY event_type
    ), tot AS (
      SELECT event_type,
             CAST(count(*) AS BIGINT) AS c,
             CAST(sum(n_dh) AS BIGINT) AS t1,
             CAST(sum(n_dh::HUGEINT * n_dh) AS HUGEINT) AS t2
      FROM cells GROUP BY event_type
    )
    SELECT t.event_type, t.t1 AS n_events, t.c AS n_cells,
           CASE WHEN CAST(t.t2 AS DOUBLE)
                     - CAST(t.t1 AS DOUBLE) * t.t1 / t.c > 0.0 THEN
             CAST(floor((CAST(h.sb_u AS DOUBLE) / 1000000.0
                         - CAST(t.t1 AS DOUBLE) * t.t1 / t.c)
                        / (CAST(t.t2 AS DOUBLE)
                           - CAST(t.t1 AS DOUBLE) * t.t1 / t.c)
                        * 1000000.0 + 0.5) AS BIGINT) / 1000000.0
           END AS seasonal_strength
    FROM tot t JOIN hsum h USING (event_type)
    """


@register("events_seasonal_strength", oracle=_seasonal_strength_oracle())
def events_seasonal_strength(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Strength of the hour-of-day seasonality per event type: the
    share of hourly-cell count variance explained by the hour-of-day
    profile (one-way eta^2 of hour on (date, hour) cell counts; 0 =
    flat feed, ->1 = traffic fully determined by time of day) — the
    scalar companion of ``events_seasonal_hourly_baseline`` a monitor
    can threshold to decide whether the seasonal baseline is even
    worth subtracting.

    Identity used: SS_between/SS_total with SS_between = sum_h S_h^2 /
    C_h - T1^2/C and SS_total = T2 - T1^2/C, all from exact integer
    cell aggregates (observed cells only; absent hours are structural
    zeros a gap-fill would add — documented choice shared with the
    burstiness op). Per-hour quotients quantize half-up to micro units
    and sum as integers, so both engines add identical values in any
    order. Bounded domains end-to-end after one partial-aggregated
    scan: |types| x dates x 24 cells, then |types| x 24.
    """
    t = Tables(spark, sf_dir)
    cells = (
        t.events.select(
            "event_type", F.to_date("ts").alias("d"), F.hour("ts").alias("h")
        )
        .groupBy("event_type", "d", "h")
        .agg(F.count(F.lit(1)).alias("n_dh"))
    )
    per_hour = cells.groupBy("event_type", "h").agg(
        F.count(F.lit(1)).alias("c_h"), F.sum("n_dh").alias("s_h")
    )
    t_u = F.floor(
        F.col("s_h").cast("double") * F.col("s_h") / F.col("c_h") * F.lit(1e6)
        + F.lit(0.5)
    ).cast("long")
    hsum = per_hour.select("event_type", t_u.alias("t_u")).groupBy("event_type").agg(
        F.sum("t_u").alias("sb_u")
    )
    tot = cells.groupBy("event_type").agg(
        F.count(F.lit(1)).alias("c"),
        F.sum("n_dh").alias("t1"),
        F.sum(dec38(F.col("n_dh")) * F.col("n_dh")).alias("t2"),
    )
    j = tot.join(hsum, "event_type")
    t1d = F.col("t1").cast("double")
    grand = t1d * F.col("t1") / F.col("c")
    den = F.col("t2").cast("double") - grand
    num = F.col("sb_u").cast("double") / F.lit(1e6) - grand
    return j.select(
        "event_type",
        F.col("t1").alias("n_events"),
        F.col("c").alias("n_cells"),
        F.when(
            den > F.lit(0.0),
            F.floor(num / den * F.lit(1e6) + F.lit(0.5)).cast("long") / F.lit(1e6),
        ).alias("seasonal_strength"),
    )


# ---------------------------------------------------------------------------
# 8. Grubbs' extreme-outlier statistic per nation (supplier balances)
# ---------------------------------------------------------------------------

GRUBBS_MIN_N = 3


def _grubbs_oracle() -> str:
    return f"""
    WITH sup AS (
      SELECT c_nationkey AS s_nationkey,
             CAST(floor(c_acctbal * 100.0 + 0.5) AS BIGINT) AS cents
      FROM customer WHERE c_acctbal IS NOT NULL
    ), g1 AS (
      SELECT s_nationkey,
             CAST(count(*) AS BIGINT) AS n,
             CAST(sum(cents::HUGEINT) AS HUGEINT) AS s,
             CAST(sum(cents::HUGEINT * cents) AS HUGEINT) AS ss
      FROM sup GROUP BY s_nationkey
    ), devs AS (
      SELECT p.s_nationkey, g.n, g.s, g.ss,
             abs(p.cents::HUGEINT * g.n - g.s) AS dev
      FROM sup p JOIN g1 g USING (s_nationkey)
      WHERE g.n >= {GRUBBS_MIN_N}
    ), mx AS (
      SELECT s_nationkey,
             CAST(max(n) AS BIGINT) AS n,
             CAST(max(s) AS HUGEINT) AS s,
             CAST(max(ss) AS HUGEINT) AS ss,
             CAST(max(dev) AS HUGEINT) AS maxdev
      FROM devs GROUP BY s_nationkey
    )
    SELECT nn.n_name, m.n AS n_customers,
           CAST(floor(CAST(m.maxdev AS DOUBLE) / m.n / 100.0 * 1000000.0 + 0.5)
                AS BIGINT) / 1000000.0 AS max_abs_dev,
           CAST(floor((CAST(m.maxdev AS DOUBLE) / m.n)
                      / sqrt(CAST(m.n::HUGEINT * m.ss - m.s * m.s AS DOUBLE)
                             / (CAST(m.n AS DOUBLE) * m.n * (m.n - 1)))
                      * 1000000.0 + 0.5) AS BIGINT) / 1000000.0 AS grubbs_g
    FROM mx m JOIN nation nn ON m.s_nationkey = nn.n_nationkey
    """


@register("stats_grubbs_acctbal_nation", oracle=_grubbs_oracle())
def stats_grubbs_acctbal_nation(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Grubbs' extreme-outlier statistic G = max|x - mean|/sd per
    nation over customer account balances — the single-most-extreme-
    value screen that complements the fence-counting
    ``dq_iqr_outlier_fences`` (IQR counts how many points sit outside
    robust fences; Grubbs asks whether the WORST point is extreme
    relative to a normal-theory spread).

    max|x - mean| is found in exact integer space as max|x*n - s| (no
    float mean subtraction per row, so the argmax cannot flip on
    rounding); variance comes from the exact (n, sum, sum-of-squares)
    triple; only the final G divides/sqrts in double through an
    oracle-mirrored chain. Two scans of customer (one for moments, one
    for deviations vs the broadcast per-nation triple), both partial-
    aggregated on nationkey — bounded output, no windows, no
    cartesian.
    """
    t = Tables(spark, sf_dir)
    sup = t.customer.filter(F.col("c_acctbal").isNotNull()).select(
        F.col("c_nationkey").alias("s_nationkey"),
        F.floor(F.col("c_acctbal") * F.lit(100.0) + F.lit(0.5)).cast("long").alias("cents"),
    )
    g1 = sup.groupBy("s_nationkey").agg(
        F.count(F.lit(1)).alias("n"),
        F.sum(dec38(F.col("cents"))).alias("s"),
        F.sum(dec38(F.col("cents")) * F.col("cents")).alias("ss"),
    )
    devs = sup.join(F.broadcast(g1), "s_nationkey").filter(
        F.col("n") >= GRUBBS_MIN_N
    ).select(
        "s_nationkey",
        "n",
        "s",
        "ss",
        F.abs(dec38(F.col("cents")) * F.col("n") - F.col("s")).alias("dev"),
    )
    mx = devs.groupBy("s_nationkey").agg(
        F.max("n").alias("n"),
        F.max("s").alias("s"),
        F.max("ss").alias("ss"),
        F.max("dev").alias("maxdev"),
    )
    n_d = F.col("n").cast("double")
    mdev = F.col("maxdev").cast("double") / F.col("n")
    var = (dec38(F.col("n")) * F.col("ss") - F.col("s") * F.col("s")).cast("double") / (
        n_d * F.col("n") * (F.col("n") - 1)
    )
    out = mx.join(
        F.broadcast(Tables(spark, sf_dir).nation.select("n_nationkey", "n_name")),
        F.col("s_nationkey") == F.col("n_nationkey"),
    )
    return out.select(
        "n_name",
        F.col("n").alias("n_customers"),
        (
            F.floor(mdev / F.lit(100.0) * F.lit(1e6) + F.lit(0.5)).cast("long")
            / F.lit(1e6)
        ).alias("max_abs_dev"),
        (
            F.floor(mdev / F.sqrt(var) * F.lit(1e6) + F.lit(0.5)).cast("long")
            / F.lit(1e6)
        ).alias("grubbs_g"),
    )


# ---------------------------------------------------------------------------
# 9. Negative-binomial fit of hourly event counts (method of moments)
# ---------------------------------------------------------------------------


def _negbin_oracle() -> str:
    return """
    WITH cells AS (
      SELECT event_type, CAST(ts AS DATE) AS d, extract(hour FROM ts) AS h,
             CAST(count(*) AS BIGINT) AS n_dh
      FROM events GROUP BY 1, 2, 3
    ), m AS (
      SELECT event_type,
             CAST(count(*) AS BIGINT) AS c,
             CAST(sum(n_dh) AS BIGINT) AS t1,
             CAST(sum(n_dh::HUGEINT * n_dh) AS HUGEINT) AS t2
      FROM cells GROUP BY event_type
    ), mv AS (
      SELECT event_type, c, t1,
             CAST(t1 AS DOUBLE) / c AS mean_c,
             (CAST(t2 AS DOUBLE) - CAST(t1 AS DOUBLE) * t1 / c) / (c - 1)
               AS var_c
      FROM m WHERE c >= 2
    )
    SELECT event_type, c AS n_cells,
           CAST(floor(mean_c * 1000000.0 + 0.5) AS BIGINT) / 1000000.0
             AS mean_per_cell,
           CAST(floor(var_c * 1000000.0 + 0.5) AS BIGINT) / 1000000.0
             AS var_per_cell,
           CASE WHEN var_c > mean_c THEN
             CAST(floor(mean_c * mean_c / (var_c - mean_c) * 1000000.0 + 0.5)
                  AS BIGINT) / 1000000.0
           END AS r_hat,
           CASE WHEN var_c > mean_c THEN
             CAST(floor(mean_c / var_c * 1000000.0 + 0.5) AS BIGINT) / 1000000.0
           END AS p_hat
    FROM mv
    """


@register("stats_negbin_hourly_fit", oracle=_negbin_oracle())
def stats_negbin_hourly_fit(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Negative-binomial method-of-moments fit (r, p) of per-(date,
    hour) event counts per type — the parametric step past
    ``stats_overdispersion_vmr``: once VMR > 1 says "not Poisson",
    NB(r, p) with r = m^2/(v - m), p = m/v is the standard arrival
    model a capacity planner actually simulates from; r_hat/p_hat are
    NULL when the feed is NOT overdispersed (v <= m) and the fit is
    undefined — a meaningful output, not an error.

    All moments come from one partial-aggregated cell scan as exact
    integers (count, sum, sum-of-squares); mean/variance/r/p evaluate
    in double through an oracle-mirrored chain, each quantized half-up
    to 6dp. Bounded |types| output; observed cells only (structural
    zeros documented as in events_seasonal_strength).
    """
    t = Tables(spark, sf_dir)
    cells = (
        t.events.select(
            "event_type", F.to_date("ts").alias("d"), F.hour("ts").alias("h")
        )
        .groupBy("event_type", "d", "h")
        .agg(F.count(F.lit(1)).alias("n_dh"))
    )
    m = cells.groupBy("event_type").agg(
        F.count(F.lit(1)).alias("c"),
        F.sum("n_dh").alias("t1"),
        F.sum(dec38(F.col("n_dh")) * F.col("n_dh")).alias("t2"),
    ).filter(F.col("c") >= 2)
    mean_c = F.col("t1").cast("double") / F.col("c")
    var_c = (
        F.col("t2").cast("double") - F.col("t1").cast("double") * F.col("t1") / F.col("c")
    ) / (F.col("c") - 1)
    mv = m.select("event_type", "c", mean_c.alias("mean_c"), var_c.alias("var_c"))

    def q6(c):
        return F.floor(c * F.lit(1e6) + F.lit(0.5)).cast("long") / F.lit(1e6)

    over = F.col("var_c") > F.col("mean_c")
    return mv.select(
        "event_type",
        F.col("c").alias("n_cells"),
        q6(F.col("mean_c")).alias("mean_per_cell"),
        q6(F.col("var_c")).alias("var_per_cell"),
        F.when(over, q6(F.col("mean_c") * F.col("mean_c") / (F.col("var_c") - F.col("mean_c")))).alias(
            "r_hat"
        ),
        F.when(over, q6(F.col("mean_c") / F.col("var_c"))).alias("p_hat"),
    )


# ---------------------------------------------------------------------------
# 10. Vocabulary coverage curve (top-k token share, count-of-counts route)
# ---------------------------------------------------------------------------

COVERAGE_KS = (10, 100, 1000)


def _coverage_oracle() -> str:
    from .corpus import _SQL_TOKENS
    from ..functions.exact import sql_round_big_int_ratio

    ks = ", ".join(str(k) for k in COVERAGE_KS)
    return f"""
    WITH toks AS (
      SELECT unnest({_SQL_TOKENS}) AS token FROM documents
    ), vocab AS (
      SELECT token, CAST(count(*) AS BIGINT) AS tf FROM toks
      WHERE token <> '' GROUP BY token
    ), coc AS (
      SELECT tf, CAST(count(*) AS BIGINT) AS n_toks FROM vocab GROUP BY tf
    ), cum AS (
      SELECT c.tf,
             CAST(coalesce(sum(hi.n_toks), 0) AS BIGINT) AS n_above,
             CAST(coalesce(sum(hi.n_toks * hi.tf), 0) AS HUGEINT) AS mass_above
      FROM coc c LEFT JOIN coc hi ON hi.tf > c.tf
      GROUP BY c.tf
    ), tot AS (
      SELECT CAST(sum(n_toks::HUGEINT * tf) AS HUGEINT) AS total_mass,
             CAST(sum(n_toks) AS BIGINT) AS vocab_size
      FROM coc
    ), ks AS (
      SELECT unnest([{ks}]) AS k
    ), pick AS (
      SELECT k.k, min(c.tf) AS f_k
      FROM ks k JOIN cum c
        ON c.n_above < k.k
      GROUP BY k.k
    ), cov AS (
      SELECT p.k, c.n_above, c.mass_above, p.f_k,
             c.mass_above
               + least(p.k - c.n_above,
                       (SELECT n_toks FROM coc WHERE tf = p.f_k))::HUGEINT
                 * p.f_k AS covered
      FROM pick p JOIN cum c ON c.tf = p.f_k
    )
    SELECT CAST(v.k AS BIGINT) AS k, t.vocab_size,
           CAST(v.covered AS BIGINT) AS tokens_covered,
           {sql_round_big_int_ratio('v.covered', 't.total_mass')} AS coverage
    FROM cov v, tot t
    """


@register("text_vocab_coverage_curve", oracle=_coverage_oracle())
def text_vocab_coverage_curve(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Token-mass coverage of the top-k vocabulary at k = 10 / 100 /
    1000 — the curve a tokenizer-budget decision reads ("how much of
    the corpus do the k most frequent types cover"), and the
    Zipf-practical companion of ``text_zipf_fit``.

    No global sort of the vocabulary: coverage comes from the
    count-of-counts table (distinct frequency -> #types), where
    "top-k" resolves to a frequency threshold f_k (the highest f with
    fewer than k strictly-more-frequent types) plus an exact partial
    take of the f_k tie class — so ranking work is bounded by the
    number of DISTINCT frequencies (~sqrt(N) under Zipf), not vocab
    size, and ties contribute identically on both engines (any k types
    of equal frequency cover the same mass). Cumulatives run via a
    non-equi self-join of the bounded count-of-counts aggregate, never
    a SinglePartition window; everything downstream of the one
    vocab-building shuffle is exact integer arithmetic.
    """
    from ..functions.exact import round_big_int_ratio
    from ..functions.textnorm import whitespace_tokens

    t = Tables(spark, sf_dir)
    vocab = (
        t.documents.select(F.explode(whitespace_tokens(F.col("text"))).alias("token"))
        .filter(F.col("token") != "")
        .groupBy("token")
        .agg(F.count(F.lit(1)).alias("tf"))
    )
    coc = vocab.groupBy("tf").agg(F.count(F.lit(1)).alias("n_toks"))
    hi = coc.select(F.col("tf").alias("tf_hi"), F.col("n_toks").alias("n_hi"))
    cum = (
        coc.join(F.broadcast(hi), F.col("tf_hi") > F.col("tf"), "left")
        .groupBy("tf", "n_toks")
        .agg(
            F.coalesce(F.sum("n_hi"), F.lit(0)).alias("n_above"),
            F.coalesce(F.sum(dec38(F.col("n_hi")) * F.col("tf_hi")), dec38(F.lit(0))).alias(
                "mass_above"
            ),
        )
    )
    tot = coc.agg(
        F.sum(dec38(F.col("n_toks")) * F.col("tf")).alias("total_mass"),
        F.sum("n_toks").alias("vocab_size"),
    )
    ks = spark.range(len(COVERAGE_KS)).select(
        F.element_at(
            F.array(*[F.lit(k) for k in COVERAGE_KS]), (F.col("id") + 1).cast("int")
        ).alias("k")
    )
    pick = (
        ks.join(F.broadcast(cum), F.col("n_above") < F.col("k"))
        .groupBy("k")
        .agg(F.min("tf").alias("f_k"))
    )
    cov = pick.join(
        F.broadcast(cum.select("tf", "n_toks", "n_above", "mass_above")),
        F.col("tf") == F.col("f_k"),
    ).select(
        "k",
        (
            F.col("mass_above")
            + dec38(F.least(F.col("k") - F.col("n_above"), F.col("n_toks"))) * F.col("f_k")
        ).alias("covered"),
    )
    out = cov.join(F.broadcast(tot))
    return out.select(
        F.col("k").cast("long").alias("k"),
        "vocab_size",
        F.col("covered").cast("long").alias("tokens_covered"),
        round_big_int_ratio(F.col("covered"), F.col("total_mass")).alias("coverage"),
    )


# ---------------------------------------------------------------------------
# 11. Friedman test: order priority effect with nation blocks
# ---------------------------------------------------------------------------


def _friedman_oracle() -> str:
    return """
    WITH cells AS (
      SELECT c.c_nationkey AS blk, o.o_orderpriority AS trt,
             CAST(count(*) AS BIGINT) AS n_cell,
             CAST(sum(CAST(floor(o.o_totalprice * 100.0 + 0.5) AS BIGINT)::HUGEINT)
                  AS HUGEINT) AS s_cell
      FROM orders o JOIN customer c ON o.o_custkey = c.c_custkey
      GROUP BY 1, 2
    ), kk AS (
      SELECT CAST(count(DISTINCT trt) AS BIGINT) AS k FROM cells
    ), complete AS (
      SELECT blk FROM cells, kk GROUP BY blk, kk.k
      HAVING count(*) = max(kk.k)
    ), ranked AS (
      SELECT c.blk, c.trt,
             CAST(row_number() OVER (PARTITION BY c.blk
                  ORDER BY CAST(c.s_cell AS DOUBLE) / c.n_cell, c.trt)
                  AS BIGINT) AS rnk
      FROM cells c JOIN complete b USING (blk)
    ), rj AS (
      SELECT trt, CAST(sum(rnk) AS BIGINT) AS r_j FROM ranked GROUP BY trt
    ), s AS (
      SELECT CAST(count(*) AS BIGINT) AS k,
             CAST(sum(r_j::HUGEINT * r_j) AS HUGEINT) AS sr2
      FROM rj
    ), c AS (
      SELECT CAST(count(*) AS BIGINT) AS n_blocks FROM complete
    )
    SELECT s.k, c.n_blocks,
           CAST(floor((12.0 * CAST(s.sr2 AS DOUBLE)
                       / (CAST(c.n_blocks AS DOUBLE) * s.k * (s.k + 1))
                       - 3.0 * CAST(c.n_blocks AS DOUBLE) * (s.k + 1))
                      * 1000000.0 + 0.5) AS BIGINT) / 1000000.0 AS friedman_q
    FROM s, c
    """


@register("stats_friedman_nation_priority", oracle=_friedman_oracle())
def stats_friedman_nation_priority(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Friedman test statistic Q for an order-priority effect on mean
    order value, blocked by customer nation — the repeated-measures
    companion of ``stats_kruskal_wallis_quantity``: each nation is a
    block, the five priorities are ranked WITHIN it, so a
    nation-wealth effect (which would drown a pooled rank test)
    cancels by construction.

    The ranked table is |nations| x |priorities| (125 rows) built from
    one partial-aggregated fact join — the window partitions by block,
    so no SinglePartition stage exists. Cell ordering uses the exact
    integer (cents-sum, count) pair through a deterministic double
    division with the priority label as total-order tie-break —
    cross-engine identical ranks by construction; only complete blocks
    (all k treatments present) enter, per the classical test. Rank
    sums and their squares are exact integers; only the final Q is
    floating point, quantized half-up 6dp.
    """
    t = Tables(spark, sf_dir)
    cents = F.floor(F.col("o_totalprice") * F.lit(100.0) + F.lit(0.5)).cast("long")
    cells = (
        t.orders.select("o_custkey", F.col("o_orderpriority").alias("trt"), cents.alias("cents"))
        .join(
            t.customer.select(
                F.col("c_custkey").alias("o_custkey"), F.col("c_nationkey").alias("blk")
            ),
            "o_custkey",
        )
        .groupBy("blk", "trt")
        .agg(F.count(F.lit(1)).alias("n_cell"), F.sum(dec38(F.col("cents"))).alias("s_cell"))
    )
    kk = cells.agg(F.countDistinct("trt").alias("k"))
    complete = (
        cells.join(F.broadcast(kk))
        .groupBy("blk")
        .agg(F.count(F.lit(1)).alias("n_trt"), F.max("k").alias("k"))
        .filter(F.col("n_trt") == F.col("k"))
        .select("blk")
    )
    w = Window.partitionBy("blk").orderBy(
        F.col("s_cell").cast("double") / F.col("n_cell"), F.col("trt")
    )
    ranked = cells.join(F.broadcast(complete), "blk").withColumn(
        "rnk", F.row_number().over(w).cast("long")
    )
    rj = ranked.groupBy("trt").agg(F.sum("rnk").alias("r_j"))
    s = rj.agg(
        F.count(F.lit(1)).alias("k"), F.sum(dec38(F.col("r_j")) * F.col("r_j")).alias("sr2")
    )
    c = complete.agg(F.count(F.lit(1)).alias("n_blocks"))
    j = s.join(F.broadcast(c))
    nb_d = F.col("n_blocks").cast("double")
    q = (
        F.lit(12.0) * F.col("sr2").cast("double") / (nb_d * F.col("k") * (F.col("k") + 1))
        - F.lit(3.0) * nb_d * (F.col("k") + 1)
    )
    return j.select(
        "k",
        "n_blocks",
        (F.floor(q * F.lit(1e6) + F.lit(0.5)).cast("long") / F.lit(1e6)).alias(
            "friedman_q"
        ),
    )


# ---------------------------------------------------------------------------
# 12. Markov stationary distribution of user event-type transitions
# ---------------------------------------------------------------------------

MARKOV_ITERS = 15
MARKOV_SCALE = 1_000_000  # probability micro-units


def _markov_oracle() -> str:
    parts = [
        f"""
    WITH seq AS (
      SELECT user_id, event_type,
             lead(event_type) OVER (PARTITION BY user_id
                                    ORDER BY ts, event_id) AS nxt
      FROM events
    ), trans AS (
      SELECT event_type AS src, nxt AS dst, CAST(count(*) AS BIGINT) AS c
      FROM seq WHERE nxt IS NOT NULL GROUP BY 1, 2
    ), rows_t AS (
      SELECT src, CAST(sum(c) AS BIGINT) AS r FROM trans GROUP BY src
    ), pm AS (
      SELECT t.src, t.dst, ({MARKOV_SCALE}::BIGINT * t.c) // rt.r AS p_u
      FROM trans t JOIN rows_t rt USING (src)
    ), states AS (
      SELECT src AS state FROM rows_t
    ), ns AS (
      SELECT CAST(count(*) AS BIGINT) AS n_states FROM states
    ), pi0 AS MATERIALIZED (
      SELECT state, {MARKOV_SCALE}::BIGINT // ns.n_states AS pi_u
      FROM states, ns
    )"""
    ]
    prev = "pi0"
    for i in range(1, MARKOV_ITERS + 1):
        parts.append(
            f"""
    , pi{i} AS MATERIALIZED (
      SELECT p.dst AS state,
             CAST(sum(q.pi_u * p.p_u) // {MARKOV_SCALE} AS BIGINT) AS pi_u
      FROM pm p JOIN {prev} q ON q.state = p.src
      GROUP BY p.dst
    )"""
        )
        prev = f"pi{i}"
    parts.append(
        f"""
    SELECT state AS event_type, pi_u AS stationary_micro,
           CAST(pi_u AS DOUBLE) / {MARKOV_SCALE}.0 AS stationary
    FROM {prev}
    """
    )
    return "".join(parts)


@register("events_markov_stationary", oracle=_markov_oracle())
def events_markov_stationary(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Stationary distribution of the per-user event-type transition
    chain (15 power iterations from uniform) — where
    ``events_user_path_transitions`` reports one-step probabilities,
    this answers the product question "which state does a user
    session spend its long-run time in".

    Arithmetic is INTEGER end to end (the pagerank discipline,
    hardened): transition probabilities quantize once to micro units
    (1e6 c_ij // r_i), and each iteration is pi'_j = sum_i pi_i *
    p_ij // 1e6 — exact int64 products (<= 1e12), exact integer sums,
    no floating point anywhere until the final display division, so
    both engines run bit-identical chains with NO trunc-of-double
    step at all. The chain runs on the |types|^2 aggregated matrix
    (bounded, broadcast-joined); the only row-scaled work is the
    per-user lead() window (partitioned by user — the sessionization
    shuffle every sequence op in the family already pays) and one
    partial-aggregated count.
    """
    t = Tables(spark, sf_dir)
    w = Window.partitionBy("user_id").orderBy("ts", "event_id")
    seq = t.events.select(
        "user_id", "event_type", F.lead("event_type").over(w).alias("nxt")
    )
    trans = (
        seq.filter(F.col("nxt").isNotNull())
        .groupBy(F.col("event_type").alias("src"), F.col("nxt").alias("dst"))
        .agg(F.count(F.lit(1)).alias("c"))
    )
    rows_t = trans.groupBy("src").agg(F.sum("c").alias("r"))
    pm = (
        trans.join(F.broadcast(rows_t), "src")
        .select(
            "src",
            "dst",
            ((F.lit(MARKOV_SCALE) * F.col("c")) - (F.lit(MARKOV_SCALE) * F.col("c")) % F.col("r"))
            .cast("long")
            .alias("num"),
            "r",
        )
        .select("src", "dst", (F.col("num") / F.col("r")).cast("long").alias("p_u"))
        .localCheckpoint(eager=False)
    )
    ns = rows_t.agg(F.count(F.lit(1)).alias("n_states"))
    pi = rows_t.join(F.broadcast(ns)).select(
        F.col("src").alias("state"),
        (
            (F.lit(MARKOV_SCALE) - F.lit(MARKOV_SCALE) % F.col("n_states"))
            / F.col("n_states")
        )
        .cast("long")
        .alias("pi_u"),
    )
    for _ in range(MARKOV_ITERS):
        acc = (
            pm.join(F.broadcast(pi), F.col("state") == F.col("src"))
            .groupBy("dst")
            .agg(F.sum(F.col("pi_u") * F.col("p_u")).alias("s"))
        )
        pi = acc.select(
            F.col("dst").alias("state"),
            ((F.col("s") - F.col("s") % F.lit(MARKOV_SCALE)) / F.lit(MARKOV_SCALE))
            .cast("long")
            .alias("pi_u"),
        )
    return pi.select(
        F.col("state").alias("event_type"),
        F.col("pi_u").alias("stationary_micro"),
        (F.col("pi_u").cast("double") / F.lit(float(MARKOV_SCALE))).alias("stationary"),
    )


# ---------------------------------------------------------------------------
# 13. Dense-key gap audit over order keys
# ---------------------------------------------------------------------------

GAP_BUCKET = 1 << 13  # 8192-key buckets


def _gap_oracle() -> str:
    return f"""
    WITH b AS (
      SELECT o_orderkey // {GAP_BUCKET} AS bucket,
             CAST(count(*) AS BIGINT) AS n_keys,
             CAST(min(o_orderkey) AS BIGINT) AS k_min,
             CAST(max(o_orderkey) AS BIGINT) AS k_max
      FROM orders GROUP BY 1
    )
    SELECT CAST(count(*) AS BIGINT) AS n_buckets,
           CAST(sum(n_keys) AS BIGINT) AS n_keys,
           CAST(sum(k_max - k_min + 1 - n_keys) AS BIGINT) AS missing_in_span,
           CAST(max(k_max - k_min + 1 - n_keys) AS BIGINT) AS worst_bucket_gap
    FROM b
    """


@register("dq_orderkey_gap_audit", oracle=_gap_oracle())
def dq_orderkey_gap_audit(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Dense-surrogate-key gap audit: how many keys are missing inside
    each observed 8192-key bucket's [min, max] span (TPC-H orderkeys
    are deliberately sparse — 8 of every 32 — so the expected result
    is large and stable; on a warehouse's AUTO_INCREMENT key the same
    query surfaces deleted/failed-insert ranges). Complements
    ``dq_uniqueness_violations`` (duplicates) with the opposite
    failure mode (holes).

    One partial-aggregated scan: per-bucket (count, min, max) are the
    only state, span-minus-count needs no per-key materialization, and
    the bucket modulus keeps every group's span arithmetic in int64.
    The global rollup is a second constant-size aggregate — no windows,
    no joins, scales as a pure scan at any corpus size.
    """
    t = Tables(spark, sf_dir)
    b = (
        t.orders.select(
            (F.col("o_orderkey") - F.col("o_orderkey") % GAP_BUCKET).alias("bucket"),
            "o_orderkey",
        )
        .groupBy("bucket")
        .agg(
            F.count(F.lit(1)).alias("n_keys"),
            F.min("o_orderkey").alias("k_min"),
            F.max("o_orderkey").alias("k_max"),
        )
    )
    gap = F.col("k_max") - F.col("k_min") + 1 - F.col("n_keys")
    return b.agg(
        F.count(F.lit(1)).alias("n_buckets"),
        F.sum("n_keys").alias("n_keys"),
        F.sum(gap).alias("missing_in_span"),
        F.max(gap).alias("worst_bucket_gap"),
    )


# ---------------------------------------------------------------------------
# 14. Theil T inequality index of customer balances per nation (det-ln)
# ---------------------------------------------------------------------------


def _theil_oracle() -> str:
    from ..functions.detmath import sql_det_ln_steps
    from ..functions.exact import sql_round_big_int_ratio

    return f"""
    WITH c AS (
      SELECT c_nationkey,
             CAST(floor(c_acctbal * 100.0 + 0.5) AS BIGINT) AS cents
      FROM customer WHERE c_acctbal > 0
    ), cv AS (
      SELECT c_nationkey, cents, CAST(count(*) AS BIGINT) AS cnt
      FROM c GROUP BY 1, 2
    ), dv AS (
      SELECT cents, CAST(sum(cnt) AS BIGINT) AS cnt_all FROM cv GROUP BY cents
    ), {sql_det_ln_steps('dv', 'cents', 'ln_x', 9)},
    pn AS (
      SELECT cv.c_nationkey,
             CAST(sum(cv.cnt) AS BIGINT) AS n_cust,
             CAST(sum(cv.cnt::HUGEINT * cv.cents) AS HUGEINT) AS s,
             CAST(sum(cv.cnt::HUGEINT * cv.cents * lx.ln_x) AS HUGEINT) AS xlnx
      FROM cv JOIN ln_x_rel lx USING (cents)
      GROUP BY cv.c_nationkey
    ), {sql_det_ln_steps('pn', 's', 'ln_s', 9)},
    {sql_det_ln_steps('ln_s_rel', 'n_cust', 'ln_n', 9)}
    SELECT nn.n_name, p.n_cust,
           {sql_round_big_int_ratio(
               'p.xlnx - p.s * p.ln_s + p.s * p.ln_n',
               'p.s * 1000000000::HUGEINT', 6)} AS theil_t
    FROM ln_n_rel p JOIN nation nn ON p.c_nationkey = nn.n_nationkey
    """


@register("stats_theil_index_nation", oracle=_theil_oracle())
def stats_theil_index_nation(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Theil T inequality index of positive customer balances per
    nation — the decomposable entropy-based inequality measure that
    complements ``stats_gini_by_nation`` (Gini weights transfers near
    the mode; Theil weights the top tail, and unlike Gini it sums
    across subgroups).

    Identity used: T = (sum x ln x)/S - ln S + ln N, so the only
    per-value ln runs ONCE per distinct cents value (a bounded domain:
    balances live in a fixed [0.01, 9999.99] range, so the distinct
    table is <= ~1e6 rows at ANY corpus size) with det-ln dp=9;
    ln S / ln N evaluate on the 25-row per-nation aggregate. The
    numerator combines exact decimal integers, and the final index is
    one exact half-up ratio — no float accumulation anywhere.
    Balances <= 0 are excluded (ln undefined), documented semantics.
    """
    from ..functions.detmath import det_ln_q
    from ..functions.exact import round_big_int_ratio

    t = Tables(spark, sf_dir)
    c = t.customer.filter(F.col("c_acctbal") > 0).select(
        "c_nationkey",
        F.floor(F.col("c_acctbal") * F.lit(100.0) + F.lit(0.5)).cast("long").alias("cents"),
    )
    cv = c.groupBy("c_nationkey", "cents").agg(F.count(F.lit(1)).alias("cnt"))
    dv = cv.groupBy("cents").agg(F.sum("cnt").alias("cnt_all"))
    lnx = dv.select("cents", det_ln_q(F.col("cents"), 9).alias("ln_x"))
    pn = (
        cv.join(lnx, "cents")
        .groupBy("c_nationkey")
        .agg(
            F.sum("cnt").alias("n_cust"),
            F.sum(dec38(F.col("cnt")) * F.col("cents")).alias("s"),
            F.sum(dec38(F.col("cnt")) * F.col("cents") * F.col("ln_x")).alias("xlnx"),
        )
    )
    pn = pn.withColumn("ln_s", det_ln_q(F.col("s"), 9)).withColumn(
        "ln_n", det_ln_q(F.col("n_cust"), 9)
    )
    num = F.col("xlnx") - F.col("s") * F.col("ln_s") + F.col("s") * F.col("ln_n")
    out = pn.join(
        F.broadcast(t.nation.select("n_nationkey", "n_name")),
        F.col("c_nationkey") == F.col("n_nationkey"),
    )
    return out.select(
        "n_name",
        "n_cust",
        round_big_int_ratio(num, F.col("s") * F.lit(1_000_000_000), 6).alias("theil_t"),
    )


# ---------------------------------------------------------------------------
# 15. Pettitt change-point test on daily event counts
# ---------------------------------------------------------------------------


def _pettitt_oracle() -> str:
    return """
    WITH daily AS (
      SELECT event_type, CAST(ts AS DATE) AS d,
             CAST(count(*) AS BIGINT) AS v
      FROM events GROUP BY 1, 2
    ), vals AS (
      SELECT event_type, v, CAST(count(*) AS BIGINT) AS cnt
      FROM daily GROUP BY 1, 2
    ), rv AS (
      SELECT event_type, v, cnt,
             coalesce(sum(cnt) OVER (PARTITION BY event_type ORDER BY v
               ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0) AS cum_lt
      FROM vals
    ), ranked AS (
      SELECT d.event_type, d.d,
             2 * r.cum_lt + r.cnt + 1 AS r2
      FROM daily d JOIN rv r ON d.event_type = r.event_type AND d.v = r.v
    ), nn AS (
      SELECT event_type, CAST(count(*) AS BIGINT) AS n_days
      FROM ranked GROUP BY event_type
    ), u AS (
      SELECT r.event_type, r.d,
             sum(r.r2) OVER (PARTITION BY r.event_type ORDER BY r.d)
               - CAST(row_number() OVER (PARTITION BY r.event_type ORDER BY r.d)
                      AS BIGINT) * (n.n_days + 1) AS u2
      FROM ranked r JOIN nn n USING (event_type)
    ), mx AS (
      SELECT event_type, CAST(max(abs(u2)) AS BIGINT) AS k2
      FROM u GROUP BY event_type
    )
    SELECT m.event_type, n.n_days,
           CAST(m.k2 AS DOUBLE) / 2.0 AS k_stat,
           strftime(min(u.d), '%Y-%m-%d') AS change_date
    FROM mx m JOIN nn n USING (event_type)
    JOIN u ON u.event_type = m.event_type AND abs(u.u2) = m.k2
    GROUP BY m.event_type, n.n_days, m.k2
    """


@register("events_changepoint_pettitt", oracle=_pettitt_oracle())
def events_changepoint_pettitt(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Pettitt rank change-point test per event type: K = max_t |U_t|
    over the daily count series, with the earliest date attaining the
    maximum as the estimated change point — the nonparametric
    complement of ``events_cusum_changepoint`` (CUSUM assumes a mean
    scale; Pettitt is rank-based, so a level shift is detected
    identically under any monotone transform of volume).

    Identity used: with midranks, U_t = sum_{i<=t} R_i * 2/2 -
    t(n+1)/2 — doubled throughout (2R via the 2*cum+cnt+1 tie trick,
    as in Mann-Whitney/Kruskal-Wallis) so every intermediate is an
    exact integer and K halves only at display time. Both windows
    partition by event type over the CALENDAR-bounded daily table
    (never raw events): the rank window runs over distinct daily
    values, the cumulative over dates; the argmax date resolves by an
    exact integer equality join, min-date tie-break. Row-scaled work
    is one partial-aggregated scan.
    """
    t = Tables(spark, sf_dir)
    daily = (
        t.events.select("event_type", F.to_date("ts").alias("d"))
        .groupBy("event_type", "d")
        .agg(F.count(F.lit(1)).alias("v"))
    )
    vals = daily.groupBy("event_type", "v").agg(F.count(F.lit(1)).alias("cnt"))
    wv = (
        Window.partitionBy("event_type")
        .orderBy("v")
        .rowsBetween(Window.unboundedPreceding, -1)
    )
    rv = vals.select(
        "event_type",
        "v",
        "cnt",
        F.coalesce(F.sum("cnt").over(wv), F.lit(0)).alias("cum_lt"),
    )
    ranked = daily.join(rv, ["event_type", "v"]).select(
        "event_type", "d", (2 * F.col("cum_lt") + F.col("cnt") + 1).alias("r2")
    )
    nn = ranked.groupBy("event_type").agg(F.count(F.lit(1)).alias("n_days"))
    wd = Window.partitionBy("event_type").orderBy("d")
    u = ranked.join(nn, "event_type").select(
        "event_type",
        "d",
        (
            F.sum("r2").over(wd.rowsBetween(Window.unboundedPreceding, 0))
            - F.row_number().over(wd).cast("long") * (F.col("n_days") + 1)
        ).alias("u2"),
    )
    mx = u.groupBy("event_type").agg(F.max(F.abs(F.col("u2"))).alias("k2"))
    out = (
        mx.join(nn, "event_type")
        .join(u, "event_type")
        .filter(F.abs(F.col("u2")) == F.col("k2"))
        .groupBy("event_type", "n_days", "k2")
        .agg(F.min("d").alias("change_d"))
    )
    return out.select(
        "event_type",
        "n_days",
        (F.col("k2").cast("double") / F.lit(2.0)).alias("k_stat"),
        F.date_format(F.col("change_d"), "yyyy-MM-dd").alias("change_date"),
    )


# ---------------------------------------------------------------------------
# 16. Mode (most frequent value) per group with deterministic tie-break
# ---------------------------------------------------------------------------


def _mode_oracle() -> str:
    from ..functions.exact import sql_round_int_ratio

    return f"""
    WITH cnts AS (
      SELECT p_brand, p_type, CAST(count(*) AS BIGINT) AS n
      FROM part GROUP BY 1, 2
    ), tot AS (
      SELECT p_brand, CAST(sum(n) AS BIGINT) AS n_total FROM cnts GROUP BY 1
    ), r AS (
      SELECT c.p_brand, c.p_type, c.n, t.n_total,
             row_number() OVER (PARTITION BY c.p_brand
                                ORDER BY c.n DESC, c.p_type) AS rnk
      FROM cnts c JOIN tot t USING (p_brand)
    )
    SELECT p_brand, p_type AS mode_type, n AS n_mode, n_total,
           {sql_round_int_ratio('n', 'n_total')} AS mode_share
    FROM r WHERE rnk = 1
    """


@register("agg_mode_per_group", oracle=_mode_oracle())
def agg_mode_per_group(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Mode (most frequent part type) per brand with its support share
    — the categorical central-tendency aggregate SQL lacks natively
    (``mode()`` where available is tie-nondeterministic; this one
    total-orders ties by (count DESC, value ASC) so the answer is
    reproducible by construction).

    Two partial-aggregated groupBys to the |brand| x |type| bounded
    table, a per-brand window for the argmax, and an exact half-up
    integer share. The same shape is the building block for
    per-group most-common-value imputation in a feature pipeline.
    """
    from ..functions.exact import round_int_ratio

    t = Tables(spark, sf_dir)
    cnts = t.part.groupBy("p_brand", "p_type").agg(F.count(F.lit(1)).alias("n"))
    tot = cnts.groupBy("p_brand").agg(F.sum("n").alias("n_total"))
    w = Window.partitionBy("p_brand").orderBy(F.col("n").desc(), F.col("p_type"))
    r = cnts.join(tot, "p_brand").withColumn("rnk", F.row_number().over(w))
    return r.filter(F.col("rnk") == 1).select(
        "p_brand",
        F.col("p_type").alias("mode_type"),
        F.col("n").alias("n_mode"),
        "n_total",
        round_int_ratio(F.col("n"), F.col("n_total")).alias("mode_share"),
    )


# ---------------------------------------------------------------------------
# 17. OLS influence diagnostics over the daily revenue trend (Cook's D)
# ---------------------------------------------------------------------------

INFLUENCE_TOPK = 5


def _ols_influence_oracle() -> str:
    return f"""
    WITH daily AS (
      SELECT CAST(o_orderdate AS DATE) AS d,
             CAST(count(*) AS BIGINT) AS n_orders,
             CAST(sum(CAST(floor(o_totalprice * 100.0 + 0.5) AS BIGINT)::HUGEINT)
                  AS HUGEINT) AS y
      FROM orders GROUP BY 1
    ), dx AS (
      SELECT d, n_orders, y,
             CAST(date_diff('day', DATE '1992-01-01', d) AS BIGINT) AS x
      FROM daily
    ), s AS (
      SELECT CAST(count(*) AS BIGINT) AS n,
             CAST(sum(x::HUGEINT) AS HUGEINT) AS sx,
             CAST(sum(y) AS HUGEINT) AS sy,
             CAST(sum(x::HUGEINT * y) AS HUGEINT) AS sxy,
             CAST(sum(x::HUGEINT * x) AS HUGEINT) AS sxx
      FROM dx
    ), fit AS (
      SELECT n, sx, sy, sxx,
             CAST(n::HUGEINT * sxy - sx * sy AS DOUBLE)
               / CAST(n::HUGEINT * sxx - sx * sx AS DOUBLE) AS b,
             CAST(n::HUGEINT * sxx - sx * sx AS DOUBLE) AS sxx_c
      FROM s
    ), fit2 AS (
      SELECT n, sx, sxx_c, b,
             (CAST(sy AS DOUBLE) - b * CAST(sx AS DOUBLE)) / n AS a
      FROM fit
    ), res AS (
      SELECT dx.d, dx.n_orders, dx.x, f.n, f.sx, f.sxx_c, f.b, f.a,
             CAST(floor(CAST(dx.y AS DOUBLE) - (f.a + f.b * dx.x) + 0.5)
                  AS BIGINT) AS r_q
      FROM dx, fit2 f
    ), sse AS (
      SELECT CAST(sum(r_q::HUGEINT * r_q) AS HUGEINT) AS sse2 FROM res
    ), diag AS (
      SELECT r.d, r.n_orders, r.r_q,
             1.0 / r.n + (CAST(r.x AS DOUBLE) - CAST(r.sx AS DOUBLE) / r.n)
                         * (CAST(r.x AS DOUBLE) - CAST(r.sx AS DOUBLE) / r.n)
                         * r.n / r.sxx_c AS h,
             CAST(e.sse2 AS DOUBLE) / (r.n - 2) AS s2
      FROM res r, sse e
    )
    SELECT strftime(d, '%Y-%m-%d') AS day, n_orders, r_q AS resid_cents,
           CAST(floor(h * 1000000.0 + 0.5) AS BIGINT) / 1000000.0 AS leverage,
           CAST(floor(CAST(r_q AS DOUBLE) * r_q * h
                      / (2.0 * s2 * ((1.0 - h) * (1.0 - h)))
                      * 1000000.0 + 0.5) AS BIGINT) / 1000000.0 AS cooks_d
    FROM diag
    ORDER BY CAST(r_q AS DOUBLE) * r_q * h
             / (2.0 * s2 * ((1.0 - h) * (1.0 - h))) DESC, d
    LIMIT {INFLUENCE_TOPK}
    """


@register("stats_ols_influence_daily", oracle=_ols_influence_oracle())
def stats_ols_influence_daily(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Cook's-distance influence diagnostics for the daily-revenue
    OLS trend: the top-5 most influential days with residual, leverage
    and Cook's D — the "which day is dragging the trend line" answer
    that turns ``stats_linear_regression`` from a fit into a DQ tool
    (a single ETL-duplicated day shows up here first).

    The regression runs on the CALENDAR-bounded daily aggregate (one
    partial-aggregated scan of orders), sufficient statistics are
    exact decimal integers, and residuals quantize to integer cents
    BEFORE the SSE sum — so s^2, leverage and D evaluate in double
    from exact integers through an oracle-mirrored chain, and the
    top-k ordering (D desc, date) cannot flip cross-engine. The top-k
    itself is a TakeOrdered over the bounded day table, not a global
    sort of anything row-scaled.
    """
    t = Tables(spark, sf_dir)
    cents = F.floor(F.col("o_totalprice") * F.lit(100.0) + F.lit(0.5)).cast("long")
    daily = (
        t.orders.select(F.to_date("o_orderdate").alias("d"), cents.alias("cents"))
        .groupBy("d")
        .agg(F.count(F.lit(1)).alias("n_orders"), F.sum(dec38(F.col("cents"))).alias("y"))
    )
    dx = daily.withColumn(
        "x", F.datediff(F.col("d"), F.to_date(F.lit("1992-01-01"))).cast("long")
    )
    s = dx.agg(
        F.count(F.lit(1)).alias("n"),
        F.sum(dec38(F.col("x"))).alias("sx"),
        F.sum("y").alias("sy"),
        F.sum(dec38(F.col("x")) * F.col("y")).alias("sxy"),
        F.sum(dec38(F.col("x")) * F.col("x")).alias("sxx"),
    )
    n_dec = dec38(F.col("n"))
    b = (n_dec * F.col("sxy") - F.col("sx") * F.col("sy")).cast("double") / (
        n_dec * F.col("sxx") - F.col("sx") * F.col("sx")
    ).cast("double")
    fit = s.select(
        "n",
        "sx",
        b.alias("b"),
        (n_dec * F.col("sxx") - F.col("sx") * F.col("sx")).cast("double").alias("sxx_c"),
        ((F.col("sy").cast("double") - b * F.col("sx").cast("double")) / F.col("n")).alias(
            "a"
        ),
    )
    res = dx.join(F.broadcast(fit)).select(
        "d",
        "n_orders",
        "x",
        "n",
        "sx",
        "sxx_c",
        (
            F.floor(
                F.col("y").cast("double") - (F.col("a") + F.col("b") * F.col("x")) + F.lit(0.5)
            ).cast("long")
        ).alias("r_q"),
    )
    sse = res.agg(F.sum(dec38(F.col("r_q")) * F.col("r_q")).alias("sse2"))
    xdev = F.col("x").cast("double") - F.col("sx").cast("double") / F.col("n")
    diag = res.join(F.broadcast(sse)).select(
        "d",
        "n_orders",
        "r_q",
        (F.lit(1.0) / F.col("n") + xdev * xdev * F.col("n") / F.col("sxx_c")).alias("h"),
        (F.col("sse2").cast("double") / (F.col("n") - 2)).alias("s2"),
    )
    dcook = (
        F.col("r_q").cast("double")
        * F.col("r_q")
        * F.col("h")
        / (F.lit(2.0) * F.col("s2") * ((F.lit(1.0) - F.col("h")) * (F.lit(1.0) - F.col("h"))))
    )
    return (
        diag.orderBy(dcook.desc(), F.col("d"))
        .limit(INFLUENCE_TOPK)
        .select(
            F.date_format(F.col("d"), "yyyy-MM-dd").alias("day"),
            "n_orders",
            F.col("r_q").alias("resid_cents"),
            (F.floor(F.col("h") * F.lit(1e6) + F.lit(0.5)).cast("long") / F.lit(1e6)).alias(
                "leverage"
            ),
            (F.floor(dcook * F.lit(1e6) + F.lit(0.5)).cast("long") / F.lit(1e6)).alias(
                "cooks_d"
            ),
        )
    )


# ---------------------------------------------------------------------------
# 18. Bowley quartile skewness per order priority
# ---------------------------------------------------------------------------


def _bowley_oracle() -> str:
    from ..functions.exact import sql_round_int_ratio

    return f"""
    WITH c AS (
      SELECT o_orderpriority AS g,
             CAST(floor(o_totalprice * 100.0 + 0.5) AS BIGINT) AS cents
      FROM orders WHERE o_totalprice IS NOT NULL
    ), dv AS (
      SELECT g, cents, CAST(count(*) AS BIGINT) AS cnt FROM c GROUP BY 1, 2
    ), r AS (
      SELECT g, cents,
             sum(cnt) OVER (PARTITION BY g ORDER BY cents) AS cum,
             sum(cnt) OVER (PARTITION BY g) AS n
      FROM dv
    ), q AS (
      SELECT g,
             CAST(max(n) AS BIGINT) AS n,
             min(CASE WHEN cum >= (n + 3) // 4 THEN cents END) AS q1,
             min(CASE WHEN cum >= (n + 1) // 2 THEN cents END) AS q2,
             min(CASE WHEN cum >= (3 * n + 3) // 4 THEN cents END) AS q3
      FROM r GROUP BY g
    )
    SELECT g AS priority, n,
           CAST(q2 AS DOUBLE) / 100.0 AS median_price,
           {sql_round_int_ratio('q1 + q3 - 2 * q2', 'q3 - q1')} AS bowley_skew
    FROM q WHERE q3 > q1
    """


@register("stats_bowley_skew_priority", oracle=_bowley_oracle())
def stats_bowley_skew_priority(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Bowley (quartile) skewness of order values per priority:
    (Q1 + Q3 - 2*Q2)/(Q3 - Q1) on exact nearest-rank quartiles — the
    outlier-immune skewness to pair with the moment version
    (``stats_moments_skew_kurtosis``): a disagreement between the two
    is itself a tail-anomaly signal.

    Quartiles resolve on the per-priority DISTINCT cents domain
    (range-bounded at any corpus size) via an inclusive cumulative,
    so no row-scaled rank window exists; the statistic is an exact
    half-up integer ratio of integer cents — no floating point at all
    except the display median.
    """
    from ..functions.exact import round_int_ratio

    t = Tables(spark, sf_dir)
    c = t.orders.filter(F.col("o_totalprice").isNotNull()).select(
        F.col("o_orderpriority").alias("g"),
        F.floor(F.col("o_totalprice") * F.lit(100.0) + F.lit(0.5)).cast("long").alias("cents"),
    )
    dv = c.groupBy("g", "cents").agg(F.count(F.lit(1)).alias("cnt"))
    wg = Window.partitionBy("g")
    r = dv.select(
        "g",
        "cents",
        F.sum("cnt").over(wg.orderBy("cents").rowsBetween(Window.unboundedPreceding, 0)).alias("cum"),
        F.sum("cnt").over(wg).alias("n"),
    )
    qrank1 = (F.col("n") + 3) - (F.col("n") + 3) % 4
    q = r.groupBy("g").agg(
        F.max("n").alias("n"),
        F.min(F.when(F.col("cum") >= (qrank1 / 4).cast("long"), F.col("cents"))).alias("q1"),
        F.min(
            F.when(
                F.col("cum") >= (((F.col("n") + 1) - (F.col("n") + 1) % 2) / 2).cast("long"),
                F.col("cents"),
            )
        ).alias("q2"),
        F.min(
            F.when(
                F.col("cum")
                >= (((3 * F.col("n") + 3) - (3 * F.col("n") + 3) % 4) / 4).cast("long"),
                F.col("cents"),
            )
        ).alias("q3"),
    )
    return q.filter(F.col("q3") > F.col("q1")).select(
        F.col("g").alias("priority"),
        "n",
        (F.col("q2").cast("double") / F.lit(100.0)).alias("median_price"),
        round_int_ratio(
            F.col("q1") + F.col("q3") - 2 * F.col("q2"), F.col("q3") - F.col("q1")
        ).alias("bowley_skew"),
    )


# ---------------------------------------------------------------------------
# 19. Moment skewness / excess kurtosis per order priority
# ---------------------------------------------------------------------------


def _moments_oracle() -> str:
    return """
    WITH c AS (
      SELECT o_orderpriority AS g,
             CAST(floor(o_totalprice) AS BIGINT) AS x
      FROM orders WHERE o_totalprice IS NOT NULL
    ), s AS (
      SELECT g,
             CAST(count(*) AS BIGINT) AS n,
             CAST(sum(x::HUGEINT) AS HUGEINT) AS s1,
             CAST(sum(x::HUGEINT * x) AS HUGEINT) AS s2,
             CAST(sum(x::HUGEINT * x * x) AS HUGEINT) AS s3,
             CAST(sum(x::HUGEINT * x * x * x) AS HUGEINT) AS s4
      FROM c GROUP BY g
    ), m AS (
      SELECT g, n,
             CAST(s1 AS DOUBLE) / n AS mu,
             CAST(s2 AS DOUBLE) / n AS m2r,
             CAST(s3 AS DOUBLE) / n AS m3r,
             CAST(s4 AS DOUBLE) / n AS m4r
      FROM s WHERE n >= 4
    ), cm AS (
      SELECT g, n, mu,
             m2r - mu * mu AS v,
             m3r - 3.0 * mu * m2r + 2.0 * (mu * mu) * mu AS m3,
             m4r - 4.0 * mu * m3r + 6.0 * (mu * mu) * m2r
                 - 3.0 * ((mu * mu) * (mu * mu)) AS m4
      FROM m
    )
    SELECT g AS priority, n,
           CAST(floor(m3 / (sqrt(v) * v) * 1000000.0 + 0.5) AS BIGINT)
             / 1000000.0 AS skewness,
           CAST(floor((m4 / (v * v) - 3.0) * 1000000.0 + 0.5) AS BIGINT)
             / 1000000.0 AS ex_kurtosis
    FROM cm WHERE v > 0.0
    """


@register("stats_moments_skew_kurtosis", oracle=_moments_oracle())
def stats_moments_skew_kurtosis(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Moment skewness g1 = m3/sd^3 and excess kurtosis g2 = m4/v^2-3
    of order values per priority — the classical shape moments that
    complete the distribution-profile family (mean/var exist, robust
    quartile shape exists; these are the tail-sensitive versions whose
    disagreement with ``stats_bowley_skew_priority`` flags heavy
    tails).

    Raw power sums S1..S4 are exact decimal integers over
    dollar-quantized values (4th power of a 6-digit value times 1e12
    rows stays far inside decimal(38)); central moments evaluate in
    double via the standard raw-to-central identities through an
    oracle-mirrored chain (no per-row float, one partial-aggregated
    scan), quantized half-up 6dp.
    """
    t = Tables(spark, sf_dir)
    c = t.orders.filter(F.col("o_totalprice").isNotNull()).select(
        F.col("o_orderpriority").alias("g"),
        F.floor(F.col("o_totalprice")).cast("long").alias("x"),
    )
    xd = dec38(F.col("x"))
    s = c.groupBy("g").agg(
        F.count(F.lit(1)).alias("n"),
        F.sum(xd).alias("s1"),
        F.sum(xd * F.col("x")).alias("s2"),
        F.sum(xd * F.col("x") * F.col("x")).alias("s3"),
        F.sum(xd * F.col("x") * F.col("x") * F.col("x")).alias("s4"),
    ).filter(F.col("n") >= 4)
    mu = F.col("s1").cast("double") / F.col("n")
    m2r = F.col("s2").cast("double") / F.col("n")
    m3r = F.col("s3").cast("double") / F.col("n")
    m4r = F.col("s4").cast("double") / F.col("n")
    m = s.select("g", "n", mu.alias("mu"), m2r.alias("m2r"), m3r.alias("m3r"), m4r.alias("m4r"))
    v = F.col("m2r") - F.col("mu") * F.col("mu")
    m3 = (
        F.col("m3r")
        - F.lit(3.0) * F.col("mu") * F.col("m2r")
        + F.lit(2.0) * (F.col("mu") * F.col("mu")) * F.col("mu")
    )
    m4 = (
        F.col("m4r")
        - F.lit(4.0) * F.col("mu") * F.col("m3r")
        + F.lit(6.0) * (F.col("mu") * F.col("mu")) * F.col("m2r")
        - F.lit(3.0) * ((F.col("mu") * F.col("mu")) * (F.col("mu") * F.col("mu")))
    )
    cm = m.select("g", "n", v.alias("v"), m3.alias("m3"), m4.alias("m4"))
    return cm.filter(F.col("v") > 0.0).select(
        F.col("g").alias("priority"),
        "n",
        (
            F.floor(F.col("m3") / (F.sqrt(F.col("v")) * F.col("v")) * F.lit(1e6) + F.lit(0.5))
            .cast("long")
            / F.lit(1e6)
        ).alias("skewness"),
        (
            F.floor((F.col("m4") / (F.col("v") * F.col("v")) - F.lit(3.0)) * F.lit(1e6) + F.lit(0.5))
            .cast("long")
            / F.lit(1e6)
        ).alias("ex_kurtosis"),
    )


# ---------------------------------------------------------------------------
# 20. KMV (k-minimum-values) distinct-count sketch with exact audit
# ---------------------------------------------------------------------------

KMV_K = 256
KMV_DOMAIN = 1 << 60  # sha256 15-hex-char prefix domain


def _kmv_oracle() -> str:
    from ..functions.exact import sql_round_int_ratio

    return f"""
    WITH h AS (
      SELECT DISTINCT (('0x' || substr(sha256(CAST(user_id AS VARCHAR)), 1, 15)))::BIGINT AS hv,
             user_id
      FROM events
    ), hd AS (
      SELECT DISTINCT hv FROM h
    ), topk AS (
      SELECT hv FROM hd ORDER BY hv LIMIT {KMV_K}
    ), kth AS (
      SELECT CAST(max(hv) AS BIGINT) AS h_k,
             CAST(count(*) AS BIGINT) AS k_eff
      FROM topk
    ), tru AS (
      SELECT CAST(count(DISTINCT user_id) AS BIGINT) AS d_true FROM h
    )
    SELECT k.k_eff, k.h_k,
           CAST(CASE WHEN k.k_eff = {KMV_K}
                THEN ({KMV_K - 1}::BIGINT * {KMV_DOMAIN}::HUGEINT) // k.h_k
                ELSE k.k_eff END AS BIGINT) AS d_est,
           t.d_true,
           {sql_round_int_ratio(
               f'''abs(CAST(CASE WHEN k.k_eff = {KMV_K}
                    THEN ({KMV_K - 1}::BIGINT * {KMV_DOMAIN}::HUGEINT) // k.h_k
                    ELSE k.k_eff END AS BIGINT) - t.d_true)''',
               't.d_true')} AS rel_error
    FROM kth k, tru t
    """


@register("sketch_kmv_distinct_users", oracle=_kmv_oracle())
def sketch_kmv_distinct_users(spark: SparkSession, sf_dir: str) -> DataFrame:
    """KMV (k-minimum-values) distinct-user estimator with its exact
    audit: keep the k = 256 smallest 60-bit portable hashes of
    user_id, estimate D = (k-1) * 2^60 / h_(k), and report the exact
    distinct count + relative error alongside — the third member of
    the mergeable-sketch family (bitmap = exact, HLL = register-based
    approximate, KMV = order-statistics approximate with a tunable-k
    error bound ~1/sqrt(k)), and like the others fully deterministic
    (sha-derived hashes, integer estimate) so it hash-verifies
    cross-engine rather than "approximately matches".

    Scale: the hash + distinct is one shuffle on the hash key (partial
    aggregation collapses duplicates map-side); the k smallest resolve
    via TakeOrdered (no global sort materializes); the estimate is
    one integer division. The exact-side audit shares the distinct
    pass. At 100 TB the sketch state is k values — merging shards =
    unioning their k-sets and re-taking the k minimum.
    """
    from ..functions.exact import round_int_ratio
    from ..functions.textnorm import sha256_prefix_i64

    t = Tables(spark, sf_dir)
    h = t.events.select(
        sha256_prefix_i64(F.col("user_id").cast("string")).alias("hv")
    ).distinct()
    topk = h.orderBy("hv").limit(KMV_K)
    kth = topk.agg(F.max("hv").alias("h_k"), F.count(F.lit(1)).alias("k_eff"))
    tru = t.events.agg(F.countDistinct("user_id").alias("d_true"))
    est_num = dec38(F.lit(KMV_K - 1)) * F.lit(KMV_DOMAIN)
    est = F.when(
        F.col("k_eff") == KMV_K,
        ((est_num - est_num % dec38(F.col("h_k"))) / dec38(F.col("h_k"))).cast("long"),
    ).otherwise(F.col("k_eff"))
    out = kth.join(F.broadcast(tru))
    return out.select(
        "k_eff",
        "h_k",
        est.alias("d_est"),
        "d_true",
        round_int_ratio(F.abs(est - F.col("d_true")), F.col("d_true")).alias("rel_error"),
    )


# ---------------------------------------------------------------------------
# 21. Interval-overlap audit over per-customer order activity windows
# ---------------------------------------------------------------------------

OVERLAP_WINDOW_DAYS = 30


def _overlap_oracle() -> str:
    return f"""
    WITH iv AS (
      SELECT o_custkey, o_orderkey,
             CAST(o_orderdate AS DATE) AS s,
             CAST(o_orderdate AS DATE) + INTERVAL {OVERLAP_WINDOW_DAYS} DAY AS e
      FROM orders
    ), pairs AS (
      SELECT a.o_custkey,
             CAST(count(*) AS BIGINT) AS n_pairs
      FROM iv a JOIN iv b
        ON a.o_custkey = b.o_custkey AND a.o_orderkey < b.o_orderkey
           AND a.s < b.e AND b.s < a.e
      GROUP BY a.o_custkey
    )
    SELECT CAST(count(*) AS BIGINT) AS n_customers_overlapping,
           CAST(sum(n_pairs) AS BIGINT) AS n_overlap_pairs,
           CAST(max(n_pairs) AS BIGINT) AS max_pairs_per_customer
    FROM pairs
    """


@register("dq_interval_overlap_orders", oracle=_overlap_oracle())
def dq_interval_overlap_orders(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Interval-overlap audit: treating each order as a 30-day
    activity window, count per-customer overlapping window pairs —
    the validity-interval DQ primitive (SCD2 ranges, subscription
    periods, session windows) where ANY overlap is a modeling bug;
    here the TPC-H order cadence makes the expected overlap volume a
    stable fixture-verified value.

    The pair join is an equi-join ON THE KEY (customer) with the
    overlap predicate as a residual filter — per-key interval counts
    are bounded (orders per customer), so the join output is
    sum-of-C(k,2)-per-key, never a cartesian; one shuffle on custkey,
    then a two-level constant-size aggregate.
    """
    t = Tables(spark, sf_dir)
    iv = t.orders.select(
        "o_custkey",
        "o_orderkey",
        F.to_date("o_orderdate").alias("s"),
        F.date_add(F.to_date("o_orderdate"), OVERLAP_WINDOW_DAYS).alias("e"),
    )
    b = iv.select(
        F.col("o_custkey").alias("ck"),
        F.col("o_orderkey").alias("ok_b"),
        F.col("s").alias("s_b"),
        F.col("e").alias("e_b"),
    )
    pairs = (
        iv.join(
            b,
            (F.col("o_custkey") == F.col("ck"))
            & (F.col("o_orderkey") < F.col("ok_b"))
            & (F.col("s") < F.col("e_b"))
            & (F.col("s_b") < F.col("e")),
        )
        .groupBy("o_custkey")
        .agg(F.count(F.lit(1)).alias("n_pairs"))
    )
    return pairs.agg(
        F.count(F.lit(1)).alias("n_customers_overlapping"),
        F.sum("n_pairs").alias("n_overlap_pairs"),
        F.max("n_pairs").alias("max_pairs_per_customer"),
    )
