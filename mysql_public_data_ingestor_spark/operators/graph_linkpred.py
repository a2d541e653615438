"""Link prediction over the co-purchase graph: per-seed top-k
recommendations by common neighbours, neighbourhood Jaccard and
Adamic–Adar, plus the market-basket association rules (support,
confidence, lift) that act as their pair-count prior.

The three predictors share one shape: two bounded hops out of the
seed parts over ``graph.adjacency`` (seed -> neighbour -> candidate),
an anti-join that drops already-connected pairs, and a per-seed
ranking window; only the score differs.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql.window import Window

from ..registry import register
from ..tables import Tables
from .graph import _SQL_EDGES, _basket_pairs, _degrees, adjacency, edge_table


# ---------------------------------------------------------------------------
# Common-neighbor link prediction
# ---------------------------------------------------------------------------

LINKPRED_SEEDS = 50   # seed parts: l_partkey < LINKPRED_SEEDS
LINKPRED_TOPK = 5     # recommendations per seed
LINKPRED_MIN_CN = 2   # candidate floor: at least 2 common neighbors


def _linkpred_oracle() -> str:
    from ..functions.exact import sql_round_int_ratio

    return (
        _SQL_EDGES
        + f"""
    , adj AS (
      SELECT u, v FROM edges UNION ALL SELECT v AS u, u AS v FROM edges
    ), deg AS (
      SELECT u AS node, CAST(count(*) AS BIGINT) AS degree FROM adj GROUP BY u
    ), cn AS (
      SELECT e1.u AS seed, e2.v AS cand, CAST(count(*) AS BIGINT) AS common_neighbors
      FROM adj e1 JOIN adj e2 ON e1.v = e2.u
      WHERE e1.u < {LINKPRED_SEEDS} AND e2.v <> e1.u
      GROUP BY 1, 2
    ), cand AS (
      SELECT c.seed, c.cand, c.common_neighbors
      FROM cn c LEFT JOIN edges e
        ON least(c.seed, c.cand) = e.u AND greatest(c.seed, c.cand) = e.v
      WHERE e.u IS NULL AND c.common_neighbors >= {LINKPRED_MIN_CN}
    ), scored AS (
      SELECT c.seed, c.cand, c.common_neighbors,
             {sql_round_int_ratio('c.common_neighbors',
                                  'da.degree + db.degree - c.common_neighbors')}
               AS jaccard
      FROM cand c JOIN deg da ON c.seed = da.node JOIN deg db ON c.cand = db.node
    )
    SELECT seed AS seed_part, cand AS recommended_part, common_neighbors, jaccard, rnk
    FROM (
      SELECT *, CAST(row_number() OVER (PARTITION BY seed
                     ORDER BY common_neighbors DESC, jaccard DESC, cand) AS BIGINT)
               AS rnk
      FROM scored
    ) WHERE rnk <= {LINKPRED_TOPK}
    """
    )


@register("graph_common_neighbors_linkpred", oracle=_linkpred_oracle())
def graph_common_neighbors_linkpred(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Link prediction over the co-purchase graph, PER SEED: for each
    seed part, the top non-adjacent parts ranked by common-neighbor
    count (neighborhood Jaccard as the normalized tie-break) — the
    "customers who bought this also bought" recommender primitive, and
    the fourth member of the graph family (degree -> histogram,
    closure -> triangles, influence -> PageRank, prediction -> this).

    Deliberately seed-bounded, NOT all-pairs: global all-pairs
    common-neighbor counting is Sum C(deg,2) wedges — 1.5e8 at sf0.1
    and growing linearly with the corpus — whereas a recommender
    answers for a query set. Cost here is two bounded hops from the
    seeds: |N(seed)| rows, then Sum deg(n) over those neighbors, both
    broadcast-joinable fractions of the edge set at any scale. The
    anti-join against the edge list removes already-connected pairs,
    and the per-seed top-k is a partitioned window. Jaccard is an
    exact half-up integer ratio.
    """
    from ..functions.exact import round_int_ratio

    t = Tables(spark, sf_dir)
    edges = edge_table(spark, t, sf_dir)
    adj = adjacency(edges)
    hop1 = adj.filter(F.col("u") < LINKPRED_SEEDS).select(
        F.col("u").alias("seed"), F.col("v").alias("n")
    )
    hop2 = adj.select(F.col("u").alias("n"), F.col("v").alias("cand"))
    cn = (
        hop1.join(hop2, "n")
        .filter(F.col("cand") != F.col("seed"))
        .groupBy("seed", "cand")
        .agg(F.count(F.lit(1)).alias("common_neighbors"))
        .filter(F.col("common_neighbors") >= LINKPRED_MIN_CN)
    )
    pair_u = F.least(F.col("seed"), F.col("cand"))
    pair_v = F.greatest(F.col("seed"), F.col("cand"))
    cand = cn.join(
        edges,
        (pair_u == edges.u) & (pair_v == edges.v),
        "left_anti",
    )
    deg = _degrees(edges)
    da = deg.select(F.col("node").alias("seed"), F.col("degree").alias("deg_a"))
    db = deg.select(F.col("node").alias("cand"), F.col("degree").alias("deg_b"))
    scored = (
        cand.join(da, "seed")
        .join(db, "cand")
        .select(
            "seed",
            "cand",
            "common_neighbors",
            round_int_ratio(
                F.col("common_neighbors"),
                F.col("deg_a") + F.col("deg_b") - F.col("common_neighbors"),
            ).alias("jaccard"),
        )
    )
    w = Window.partitionBy("seed").orderBy(
        F.col("common_neighbors").desc(), F.col("jaccard").desc(), F.col("cand")
    )
    return (
        scored.withColumn("rnk", F.row_number().over(w).cast("long"))
        .filter(F.col("rnk") <= LINKPRED_TOPK)
        .select(
            F.col("seed").alias("seed_part"),
            F.col("cand").alias("recommended_part"),
            "common_neighbors",
            "jaccard",
            "rnk",
        )
    )


# ---------------------------------------------------------------------------
# Jaccard-coefficient link prediction over the co-purchase graph
# ---------------------------------------------------------------------------

JC_SEEDS = 40   # seed parts: graph nodes with partkey < JC_SEEDS
JC_TOPK = 5     # recommendations per seed
JC_MIN_CN = 2   # candidate floor: at least 2 common neighbors


def _jaccard_oracle() -> str:
    from ..functions.exact import sql_round_int_ratio

    return (
        _SQL_EDGES
        + f"""
    , adj AS (
      SELECT u, v FROM edges UNION ALL SELECT v AS u, u AS v FROM edges
    ), deg AS (
      SELECT u AS node, CAST(count(*) AS BIGINT) AS degree FROM adj GROUP BY u
    ), wedge AS (
      SELECT e1.u AS seed, e2.v AS cand
      FROM adj e1 JOIN adj e2 ON e1.v = e2.u
      WHERE e1.u < {JC_SEEDS} AND e2.v <> e1.u
    ), cn AS (
      SELECT seed, cand, CAST(count(*) AS BIGINT) AS common_neighbors
      FROM wedge GROUP BY seed, cand
    ), scored AS (
      SELECT c.seed, c.cand, c.common_neighbors,
             {sql_round_int_ratio(
                 'c.common_neighbors',
                 'ds.degree + dc.degree - c.common_neighbors')} AS jaccard
      FROM cn c
      JOIN deg ds ON ds.node = c.seed
      JOIN deg dc ON dc.node = c.cand
      WHERE c.common_neighbors >= {JC_MIN_CN}
    ), cand AS (
      SELECT s.* FROM scored s LEFT JOIN edges e
        ON least(s.seed, s.cand) = e.u AND greatest(s.seed, s.cand) = e.v
      WHERE e.u IS NULL
    )
    SELECT seed AS seed_part, cand AS recommended_part, common_neighbors,
           jaccard, rnk
    FROM (
      SELECT *, CAST(row_number() OVER (PARTITION BY seed
                     ORDER BY jaccard DESC, common_neighbors DESC, cand)
                AS BIGINT) AS rnk
      FROM cand
    ) WHERE rnk <= {JC_TOPK}
    """
    )


@register("graph_jaccard_linkpred", oracle=_jaccard_oracle())
def graph_jaccard_linkpred(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Jaccard-coefficient link prediction per seed part:
    |N(u) ∩ N(v)| / |N(u) ∪ N(v)| — the normalized member of the
    link-prediction family (common-neighbors = raw overlap,
    Adamic-Adar = rarity-weighted, Jaccard = size-normalized, so a
    small part with 3/4 shared neighborhood outranks a hub sharing 3
    of 400).

    The score is an exact half-up 6dp integer ratio of the wedge
    count over deg(u)+deg(v)-cn (inclusion-exclusion on the degree
    table — no union is ever materialized), so ranking is
    cross-engine identical. Same seed-bounded two-hop shape as the
    sibling predictors: both hop joins shuffle on node keys, the
    degree joins are |nodes|-bounded, no cartesian anywhere.
    """
    from ..functions.exact import round_int_ratio

    t = Tables(spark, sf_dir)
    edges = edge_table(spark, t, sf_dir)
    adj = adjacency(edges)
    hop1 = adj.filter(F.col("u") < JC_SEEDS).select(
        F.col("u").alias("seed"), F.col("v").alias("mid")
    )
    hop2 = adj.select(F.col("u").alias("mid"), F.col("v").alias("cand"))
    wedge = hop1.join(hop2, "mid").filter(F.col("cand") != F.col("seed"))
    cn = (
        wedge.groupBy("seed", "cand")
        .agg(F.count(F.lit(1)).alias("common_neighbors"))
        .filter(F.col("common_neighbors") >= JC_MIN_CN)
    )
    deg = _degrees(edges)
    scored = (
        cn.join(deg.select(F.col("node").alias("seed"), F.col("degree").alias("deg_s")), "seed")
        .join(deg.select(F.col("node").alias("cand"), F.col("degree").alias("deg_c")), "cand")
        .select(
            "seed",
            "cand",
            "common_neighbors",
            round_int_ratio(
                F.col("common_neighbors"),
                F.col("deg_s") + F.col("deg_c") - F.col("common_neighbors"),
            ).alias("jaccard"),
        )
    )
    pair_u = F.least(F.col("seed"), F.col("cand"))
    pair_v = F.greatest(F.col("seed"), F.col("cand"))
    cand = scored.join(edges, (pair_u == edges.u) & (pair_v == edges.v), "left_anti")
    w = Window.partitionBy("seed").orderBy(
        F.col("jaccard").desc(), F.col("common_neighbors").desc(), F.col("cand")
    )
    return (
        cand.withColumn("rnk", F.row_number().over(w).cast("long"))
        .filter(F.col("rnk") <= JC_TOPK)
        .select(
            F.col("seed").alias("seed_part"),
            F.col("cand").alias("recommended_part"),
            "common_neighbors",
            "jaccard",
            "rnk",
        )
    )


# ---------------------------------------------------------------------------
# Adamic-Adar link prediction (degree-weighted common neighbors)
# ---------------------------------------------------------------------------

AA_SEEDS = 40   # seed parts: graph nodes with partkey < AA_SEEDS
AA_TOPK = 5     # recommendations per seed
AA_MIN_CN = 2   # candidate floor: at least 2 common neighbors


def _aa_oracle() -> str:
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
    from ..functions.detmath import det_ln_q

    t = Tables(spark, sf_dir)
    edges = edge_table(spark, t, sf_dir)
    adj = adjacency(edges)
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


MIN_PAIR_ORDERS = 2    # support floor for association rules


@register(
    "graph_market_basket_lift",
    oracle=f"""
    WITH li AS (
      SELECT DISTINCT l_orderkey, l_partkey FROM lineitem
    ), n AS (
      SELECT CAST(count(DISTINCT l_orderkey) AS BIGINT) AS n_orders FROM li
    ), item AS (
      SELECT l_partkey AS p, CAST(count(*) AS BIGINT) AS c FROM li GROUP BY 1
    ), pair AS (
      SELECT a.l_partkey AS u, b.l_partkey AS v, CAST(count(*) AS BIGINT) AS c_uv
      FROM li a JOIN li b
        ON a.l_orderkey = b.l_orderkey AND a.l_partkey < b.l_partkey
      GROUP BY 1, 2
    )
    SELECT u, v, c_uv,
           round(CAST(c_uv AS DOUBLE) / n_orders, 6) AS support,
           round(CAST(c_uv AS DOUBLE) / cu.c, 6) AS confidence_u_v,
           round(CAST(n_orders AS DOUBLE) * c_uv / (cu.c * cv.c), 6) AS lift
    FROM pair
    JOIN item cu ON cu.p = u
    JOIN item cv ON cv.p = v
    CROSS JOIN n
    WHERE c_uv >= {MIN_PAIR_ORDERS}
    """,
)
def graph_market_basket_lift(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Association rules over co-purchases: support, confidence and
    lift for every part pair bought together in >= MIN_PAIR_ORDERS
    orders (the A-priori first pass / recommender prior).

    Reuses the basket build: pair counts explode map-side from
    per-order part arrays (one groupBy l_orderkey), then aggregate on
    the pair key; item supports and the order total are dimension-
    sized and broadcast, so the pair table never reshuffles for the
    ratio join. The support floor prunes the long tail BEFORE the
    join — at 100 TB that floor is what keeps the rule table
    dimension-sized. All ratios are single divisions of exact counts.
    """
    t = Tables(spark, sf_dir)
    li = t.lineitem.select("l_orderkey", "l_partkey").distinct()
    pair = (
        _basket_pairs(li)
        .groupBy("u", "v")
        .agg(F.count(F.lit(1)).alias("c_uv"))
        .where(F.col("c_uv") >= MIN_PAIR_ORDERS)
    )
    item = li.groupBy(F.col("l_partkey")).agg(F.count(F.lit(1)).alias("c"))
    n = li.agg(F.count_distinct("l_orderkey").alias("n_orders"))
    cu = item.select(F.col("l_partkey").alias("u"), F.col("c").alias("c_u"))
    cv = item.select(F.col("l_partkey").alias("v"), F.col("c").alias("c_v"))
    nd = F.col("n_orders").cast("double")
    return (
        pair.join(F.broadcast(cu), "u")
        .join(F.broadcast(cv), "v")
        .crossJoin(F.broadcast(n))
        .select(
            "u",
            "v",
            "c_uv",
            F.round(F.col("c_uv").cast("double") / nd, 6).alias("support"),
            F.round(F.col("c_uv").cast("double") / F.col("c_u"), 6).alias(
                "confidence_u_v"
            ),
            F.round(nd * F.col("c_uv") / (F.col("c_u") * F.col("c_v")), 6).alias("lift"),
        )
    )
