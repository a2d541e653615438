"""Structure queries over the co-purchase graph.

- Degrees: the degree histogram, degree Gini, the friendship-paradox
  audit, and the coverage / bipartite-projection audits of how the
  graph is derived from orders.
- Triangles: the global count, transitivity, local clustering (top-k
  and the C(k) curve), per-edge support, weighted triangles and Barrat
  weighted clustering.
- Cycles, cores and bridges: the 4-cycle census, 2-peel k-truss,
  k-core peeling, local bridges.
- Mixing: degree, strength and brand assortativity, the average
  neighbour-degree curve, the rich-club coefficient.

Everything derives from the shared warehouse tables in ``graph``
(edges, triangles, weighted edges) and its ``_degrees``; the triangle
consumers share this module's ``_triangle_edges`` (each triangle's
three edges) and ``_node_triangles`` (triangles per node).
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from ..functions.exact import dec38, halfup_div, sql_halfup_div
from ..functions.partitioning import iter_checkpoint
from ..registry import register
from ..tables import Tables
from .graph import (
    _SQL_EDGES,
    _SQL_TRI_CTES,
    _SQL_WEDGES,
    _degrees,
    _wedges,
    adjacency,
    edge_table,
    triangle_table,
)


def _triangle_edges(tris: DataFrame) -> DataFrame:
    """The three edges of every (a, b, c) triangle as canonical
    (u < v) pairs, one row per (triangle, edge): a 3-way unpivot, no
    join (b < c already; the apex a may sit on either side)."""
    return (
        tris.select(F.least("a", "b").alias("u"), F.greatest("a", "b").alias("v"))
        .unionAll(
            tris.select(F.least("a", "c").alias("u"), F.greatest("a", "c").alias("v"))
        )
        .unionAll(tris.select(F.col("b").alias("u"), F.col("c").alias("v")))
    )


def _node_triangles(tris: DataFrame) -> DataFrame:
    """(node, n_tri): how many triangles each node closes, from a
    3-way corner unpivot of the triangle list."""
    return (
        tris.select(F.col("a").alias("node"))
        .unionAll(tris.select(F.col("b").alias("node")))
        .unionAll(tris.select(F.col("c").alias("node")))
        .groupBy("node")
        .agg(F.count(F.lit(1)).alias("n_tri"))
    )


# ---------------------------------------------------------------------------
# Degree distribution
# ---------------------------------------------------------------------------


@register(
    "graph_degree_histogram",
    oracle=_SQL_EDGES
    + """
    , deg AS (
      SELECT node, count(*) AS degree
      FROM (SELECT u AS node FROM edges UNION ALL SELECT v FROM edges)
      GROUP BY node
    )
    SELECT degree, count(*) AS n_nodes
    FROM deg GROUP BY degree
    """,
)
def graph_degree_histogram(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Degree distribution of the co-purchase graph: for each degree,
    how many parts have it.

    The first question asked of any large graph (power-law check, hub
    detection). Two aggregations after the edge build; the histogram is
    at most max-degree rows, so the result is tiny regardless of input
    scale.
    """
    t = Tables(spark, sf_dir)
    return (
        _degrees(edge_table(spark, t, sf_dir))
        .groupBy("degree")
        .agg(F.count(F.lit(1)).alias("n_nodes"))
    )


def _degree_gini_oracle() -> str:
    from ..functions.exact import sql_round_big_int_ratio, sql_round_int_ratio

    return (
        _SQL_EDGES
        + f"""
    , deg AS (
      SELECT node, CAST(count(*) AS BIGINT) AS degree
      FROM (SELECT u AS node FROM edges UNION ALL SELECT v FROM edges)
      GROUP BY node
    ), coc AS (
      SELECT degree AS d, CAST(count(*) AS BIGINT) AS m
      FROM deg GROUP BY degree
    ), cum AS (
      SELECT a.d, a.m, CAST(coalesce(sum(b.m), 0) AS HUGEINT) AS r
      FROM coc a LEFT JOIN coc b ON b.d < a.d
      GROUP BY a.d, a.m
    ), agg AS (
      SELECT CAST(sum(m) AS HUGEINT) AS n,
             CAST(sum(d::HUGEINT * m) AS HUGEINT) AS sx,
             CAST(sum(d::HUGEINT * (2 * m * r + m * (m + 1))) AS HUGEINT)
               AS two_ri
      FROM cum
    )
    SELECT CAST(n AS BIGINT) AS n_nodes, CAST(sx AS BIGINT) AS sum_degree,
           {sql_round_int_ratio('sx', 'n')} AS mean_degree,
           CASE WHEN n > 0 AND sx > 0 THEN
             {sql_round_big_int_ratio('two_ri - (n + 1) * sx', 'n * sx')}
           END AS gini
    FROM agg
    """
    )


@register("graph_degree_gini", _degree_gini_oracle())
def graph_degree_gini(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Gini coefficient of the co-purchase degree distribution — the
    hub-concentration scalar beside the degree histogram and the
    rich-club coefficient (the histogram shows the shape; Gini prices
    the inequality in one number, the classic "is this graph scale-
    free-ish or egalitarian" screen).

    Exact via the count-of-counts identity: nodes with equal degree d
    occupy a contiguous rank run (prior-count r, length m), so
    2*Sum(rank_i*x_i) = Sum_d d*(2*m*r + m*(m+1)) and G =
    (2*Sum(rank*x) - (n+1)*Sum(x)) / (n*Sum(x)) — one
    round_big_int_ratio over exact 128-bit integers. The rank
    cumulative is a broadcast non-equi self-join over the BOUNDED
    distinct-degree domain (count-of-counts rows, never node rows) —
    the same shape as diag_key_skew_profile's Lorenz machinery. Edge
    list comes from the session warehouse (shared with the whole
    graph family).
    """
    from ..functions.exact import round_big_int_ratio, round_int_ratio

    t = Tables(spark, sf_dir)
    deg = _degrees(edge_table(spark, t, sf_dir))
    coc = deg.groupBy(F.col("degree").alias("d")).agg(
        F.count(F.lit(1)).alias("m")
    )
    cb = coc.select(F.col("d").alias("d_b"), F.col("m").alias("m_b"))
    cum = (
        coc.join(F.broadcast(cb), F.col("d_b") < F.col("d"), "left")
        .groupBy("d", "m")
        .agg(F.coalesce(F.sum("m_b"), F.lit(0)).alias("r"))
    )
    agg = cum.agg(
        dec38(F.sum("m")).alias("n"),
        F.sum(dec38(F.col("d")) * dec38(F.col("m"))).alias("sx"),
        F.sum(
            dec38(F.col("d"))
            * (
                F.lit(2).cast("decimal(38,0)") * dec38(F.col("m")) * dec38(F.col("r"))
                + dec38(F.col("m")) * (dec38(F.col("m")) + F.lit(1).cast("decimal(38,0)"))
            )
        ).alias("two_ri"),
    )
    one = F.lit(1).cast("decimal(38,0)")
    return agg.select(
        F.col("n").cast("long").alias("n_nodes"),
        F.col("sx").cast("long").alias("sum_degree"),
        round_int_ratio(F.col("sx").cast("long"), F.col("n").cast("long")).alias(
            "mean_degree"
        ),
        F.when(
            (F.col("n") > 0) & (F.col("sx") > 0),
            round_big_int_ratio(
                F.col("two_ri") - (F.col("n") + one) * F.col("sx"),
                F.col("n") * F.col("sx"),
            ),
        ).alias("gini"),
    )


def _paradox_oracle() -> str:
    hd = sql_halfup_div
    return (
        _SQL_EDGES
        + f"""
    , deg AS (
      SELECT node, CAST(count(*) AS BIGINT) AS k
      FROM (SELECT u AS node FROM edges UNION ALL SELECT v FROM edges)
      GROUP BY node
    ), agg AS (
      SELECT CAST(count(*) AS HUGEINT) AS n,
             CAST(sum(k) AS HUGEINT) AS sk,
             CAST(sum(k * k) AS HUGEINT) AS sk2
      FROM deg
    )
    SELECT CAST(n AS BIGINT) AS n_nodes,
           CAST(sk / 2 AS BIGINT) AS n_edges,
           CAST({hd('1000000::HUGEINT * sk', 'n')} AS BIGINT) AS mean_deg_micro,
           CAST({hd('1000000::HUGEINT * sk2', 'sk')} AS BIGINT) AS kappa_micro,
           CAST({hd('1000000::HUGEINT * n * sk2', 'sk * sk')} AS BIGINT)
             AS paradox_ratio_micro,
           CASE WHEN sk2 > 2 * sk THEN 1 ELSE 0 END AS molloy_reed_supercritical
    FROM agg
    """
    )


@register("graph_friendship_paradox_audit", oracle=_paradox_oracle())
def graph_friendship_paradox_audit(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Degree-sequence criticality of the co-purchase graph:
    kappa = <k^2>/<k> (the Molloy-Reed 1995 branching factor — a
    giant component exists iff kappa > 2), the friendship-paradox
    ratio <k^2>/<k>^2 = (your neighbors' mean degree)/(your mean
    degree) (Feld 1991 — how much MORE connected the average
    neighbor is than the average node), and the supercriticality
    flag. These two moments decide whether degree-targeted
    interventions (seed the hubs / recommend from neighbors) beat
    uniform ones, and kappa - 1 is the expected co-purchase fan-out a
    traversal engine should provision for.

    Exactness: degrees, sum k and sum k^2 are exact
    HUGEINT/decimal(38,0) off the session edge table; every output
    is ONE half-up micro division of exact integers, and the
    criticality flag is the exact integer comparison sum k^2 > 2
    sum k.

    Scale shape: one node-sized degree aggregate off the shared edge
    list; constant-size algebra after. 1 row out.
    """
    t = Tables(spark, sf_dir)
    deg = _degrees(edge_table(spark, t, sf_dir))
    agg = deg.agg(
        dec38(F.count(F.lit(1))).alias("n"),
        F.sum(dec38(F.col("degree"))).alias("sk"),
        F.sum(dec38(F.col("degree")) * F.col("degree")).alias("sk2"),
    )
    m6 = F.lit(1_000_000).cast("decimal(38,0)")
    two = F.lit(2).cast("decimal(38,0)")
    return agg.select(
        F.col("n").cast("long").alias("n_nodes"),
        ((F.col("sk") - F.col("sk") % two) / two).cast("long").alias("n_edges"),
        halfup_div(m6 * F.col("sk"), F.col("n")).cast("long").alias("mean_deg_micro"),
        halfup_div(m6 * F.col("sk2"), F.col("sk")).cast("long").alias("kappa_micro"),
        halfup_div(m6 * F.col("n") * F.col("sk2"), F.col("sk") * F.col("sk"))
        .cast("long")
        .alias("paradox_ratio_micro"),
        F.when(F.col("sk2") > two * F.col("sk"), 1).otherwise(0).cast("int").alias(
            "molloy_reed_supercritical"
        ),
    )


def _coverage_oracle() -> str:
    hd = sql_halfup_div
    return _SQL_EDGES + f"""
    , nodes AS (
      SELECT DISTINCT node FROM (
        SELECT u AS node FROM edges UNION ALL SELECT v FROM edges
      )
    ), pt AS (
      SELECT CAST(count(*) AS BIGINT) AS n_parts FROM part
    ), sold AS (
      SELECT CAST(count(DISTINCT l_partkey) AS BIGINT) AS n_sold FROM lineitem
    ), ng AS (SELECT CAST(count(*) AS BIGINT) AS n_in_graph FROM nodes)
    SELECT pt.n_parts, sold.n_sold, ng.n_in_graph,
           (pt.n_parts - sold.n_sold) AS n_never_sold,
           (sold.n_sold - ng.n_in_graph) AS n_sold_isolated,
           CAST({hd('1000000::HUGEINT * ng.n_in_graph', 'pt.n_parts')} AS BIGINT)
             AS graph_coverage_micro,
           CAST({hd('1000000::HUGEINT * ng.n_in_graph', 'sold.n_sold')} AS BIGINT)
             AS sold_coverage_micro
    FROM pt, sold, ng
    """


@register("graph_copurchase_coverage_audit", _coverage_oracle())
def graph_copurchase_coverage_audit(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Coverage audit of the co-purchase graph against the part
    dimension: how many parts exist, how many were ever sold, how
    many appear in at least one co-purchase edge, and the two
    shortfalls — never-sold parts and sold-but-isolated parts (only
    ever purchased alone). Every graph-family statistic implicitly
    conditions on "node is in the graph"; this op prices that
    selection (a 60% coverage means PageRank/link-prediction scores
    exist for 60% of the catalog — the first number a recommender
    integration asks). The dimension-reconciliation member of the
    graph shelf, off the SHARED ``graph.edge_table``.

    Exactness: pure exact distinct counts and two half-up micro
    shares.

    Scale shape: edge list from the session warehouse; one lineitem
    distinct aggregate; one part count; scalar algebra.
    """
    t = Tables(spark, sf_dir)
    edges = edge_table(spark, t, sf_dir)
    nodes = (
        edges.select(F.col("u").alias("node"))
        .unionAll(edges.select(F.col("v").alias("node")))
        .distinct()
    )
    pt = t.part.agg(F.count(F.lit(1)).cast("long").alias("n_parts"))
    sold = t.lineitem.agg(
        F.countDistinct("l_partkey").cast("long").alias("n_sold")
    )
    ng = nodes.agg(F.count(F.lit(1)).cast("long").alias("n_in_graph"))
    m6 = F.lit(1_000_000).cast("decimal(38,0)")
    return (
        pt.crossJoin(F.broadcast(sold))
        .crossJoin(F.broadcast(ng))
        .select(
            "n_parts",
            "n_sold",
            "n_in_graph",
            (F.col("n_parts") - F.col("n_sold")).alias("n_never_sold"),
            (F.col("n_sold") - F.col("n_in_graph")).alias("n_sold_isolated"),
            halfup_div(m6 * dec38(F.col("n_in_graph")), dec38(F.col("n_parts")))
            .cast("long")
            .alias("graph_coverage_micro"),
            halfup_div(m6 * dec38(F.col("n_in_graph")), dec38(F.col("n_sold")))
            .cast("long")
            .alias("sold_coverage_micro"),
        )
    )


def _bipartite_oracle() -> str:
    hd = sql_halfup_div
    return f"""
    WITH li AS (
      SELECT DISTINCT l_orderkey, l_partkey FROM lineitem
    ), odeg AS (
      SELECT l_orderkey, CAST(count(*) AS HUGEINT) AS d FROM li GROUP BY 1
    ), pdeg AS (
      SELECT l_partkey, CAST(count(*) AS HUGEINT) AS d FROM li GROUP BY 1
    ), edges AS (
      SELECT DISTINCT a.l_partkey AS u, b.l_partkey AS v
      FROM li a JOIN li b
        ON a.l_orderkey = b.l_orderkey AND a.l_partkey < b.l_partkey
    ), osum AS (
      SELECT CAST(count(*) AS BIGINT) AS n_orders,
             CAST(max(d) AS BIGINT) AS max_order_deg,
             CAST(sum(d * (d - 1) // 2) AS HUGEINT) AS pair_gen
      FROM odeg
    ), psum AS (
      SELECT CAST(count(*) AS BIGINT) AS n_parts,
             CAST(max(d) AS BIGINT) AS max_part_deg
      FROM pdeg
    ), esum AS (SELECT CAST(count(*) AS HUGEINT) AS n_edges FROM edges)
    SELECT o.n_orders, p.n_parts, o.max_order_deg, p.max_part_deg,
           CAST(o.pair_gen AS BIGINT) AS pairs_generated,
           CAST(e.n_edges AS BIGINT) AS distinct_edges,
           CASE WHEN e.n_edges > 0 THEN
             CAST({hd('1000000::HUGEINT * o.pair_gen', 'e.n_edges')} AS BIGINT)
           END AS inflation_micro
    FROM osum o, psum p, esum e
    """


@register("graph_bipartite_projection_audit", _bipartite_oracle())
def graph_bipartite_projection_audit(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Cost audit of the order x part bipartite projection that builds
    the co-purchase graph: both side degree profiles, the pair volume
    the projection GENERATES (sum over orders of C(d,2) — the shuffle
    output every downstream graph query pays for once) and the
    distinct edges that SURVIVE dedup, with the inflation ratio
    between them. The ratio is the capacity-planning number for the
    projection stage itself: inflation near 1 means co-purchase pairs
    are mostly unique (dedup is cheap, the generator dominates); high
    inflation means a few popular pairs repeat across orders and the
    pre-aggregation/distinct step is what saves the shuffle. The
    max order degree bounds the worst single-key blowup (C(d_max, 2)
    pairs from one order — the skew cell a salting decision reads).

    Exactness: all counts exact integers (d(d-1)/2 is exact — one of
    d, d-1 is even); the inflation ratio is ONE half-up 1e-6 division.

    Scale shape: two groupBy-count passes over the distinct
    (order, part) incidence list + the edge count off the session-
    cached edge table (built once, reused by the whole graph family);
    never materializes the pair multiset — the generated-pair volume
    comes from the degree SUM, not from generating pairs.
    """
    t = Tables(spark, sf_dir)
    li = t.lineitem.select("l_orderkey", "l_partkey").distinct()
    odeg = li.groupBy("l_orderkey").agg(dec38(F.count(F.lit(1))).alias("d"))
    pdeg = li.groupBy("l_partkey").agg(dec38(F.count(F.lit(1))).alias("d"))
    two = F.lit(2).cast("decimal(38,0)")
    osum = odeg.agg(
        F.count(F.lit(1)).cast("long").alias("n_orders"),
        F.max("d").cast("long").alias("max_order_deg"),
        F.sum((F.col("d") * (F.col("d") - 1)) / two).cast("decimal(38,0)").alias("pair_gen"),
    )
    psum = pdeg.agg(
        F.count(F.lit(1)).cast("long").alias("n_parts"),
        F.max("d").cast("long").alias("max_part_deg"),
    )
    esum = edge_table(spark, t, sf_dir).agg(
        dec38(F.count(F.lit(1))).alias("n_edges")
    )
    m6 = F.lit(1_000_000).cast("decimal(38,0)")
    return (
        osum.crossJoin(F.broadcast(psum))
        .crossJoin(F.broadcast(esum))
        .select(
            "n_orders",
            "n_parts",
            "max_order_deg",
            "max_part_deg",
            F.col("pair_gen").cast("long").alias("pairs_generated"),
            F.col("n_edges").cast("long").alias("distinct_edges"),
            F.when(
                F.col("n_edges") > 0,
                halfup_div(m6 * F.col("pair_gen"), F.col("n_edges")),
            )
            .cast("long")
            .alias("inflation_micro"),
        )
    )


@register(
    "graph_triangle_count",
    oracle=_SQL_EDGES
    + """
    , deg AS (
      SELECT node, count(*) AS degree
      FROM (SELECT u AS node FROM edges UNION ALL SELECT v FROM edges)
      GROUP BY node
    ), orient AS (
      -- each edge directed from its lower-(degree, id) endpoint
      SELECT CASE WHEN (du.degree, e.u) < (dv.degree, e.v) THEN e.u ELSE e.v END AS s,
             CASE WHEN (du.degree, e.u) < (dv.degree, e.v) THEN e.v ELSE e.u END AS t
      FROM edges e
      JOIN deg du ON du.node = e.u
      JOIN deg dv ON dv.node = e.v
    ), wedges AS (
      SELECT e1.s AS apex,
             least(e1.t, e2.t)    AS lo,
             greatest(e1.t, e2.t) AS hi
      FROM orient e1 JOIN orient e2
        ON e1.s = e2.s AND e1.t < e2.t
    ), tri AS (
      SELECT count(*) AS n_triangles
      FROM wedges w JOIN edges e ON w.lo = e.u AND w.hi = e.v
    ), base AS (
      SELECT (SELECT count(*) FROM deg)   AS n_nodes,
             (SELECT count(*) FROM edges) AS n_edges,
             (SELECT CAST(sum(CAST(degree AS HUGEINT) * (degree - 1)) // 2 AS BIGINT)
              FROM deg) AS n_wedges
    )
    SELECT n_nodes, n_edges, n_wedges, n_triangles,
           3.0 * n_triangles / n_wedges AS global_clustering
    FROM base, tri
    """,
)
def graph_triangle_count(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact triangle count and global clustering coefficient of the
    co-purchase graph, via degree-ordered wedge closure.

    Each edge is oriented from its lower-(degree, id) endpoint, so
    every triangle has exactly one apex with two out-edges — counted
    once, and the wedge join's per-node fanout is bounded by the
    orientation (out-degree <= O(sqrt(m))). Wedge closure is an
    equi-join against the canonical (u < v) edge set — no OR-join, no
    cartesian (see ``_triangles``; the enumeration itself is the
    session-shared ``triangle_table``, so this query and the local
    clustering ranking pay for it once between them).
    ``global_clustering = 3 * triangles / wedges``.
    """
    t = Tables(spark, sf_dir)
    edges = edge_table(spark, t, sf_dir)
    deg = _degrees(edges)
    tri = triangle_table(spark, t, sf_dir).agg(
        F.count(F.lit(1)).alias("n_triangles")
    )

    base = deg.agg(
        F.count(F.lit(1)).alias("n_nodes"),
        # exact-integer wedge count: sum d*(d-1) in decimal(38,0) (a
        # double sum loses exactness past 2^53 wedges; the sum is even,
        # so the halving is exact), matching the oracle's HUGEINT // 2
        (F.sum((F.col("degree").cast("decimal(38,0)")) * (F.col("degree") - 1)) / 2)
        .cast("long")
        .alias("n_wedges"),
    ).crossJoin(F.broadcast(edges.agg(F.count(F.lit(1)).alias("n_edges"))))

    return base.crossJoin(F.broadcast(tri)).select(
        "n_nodes",
        "n_edges",
        "n_wedges",
        "n_triangles",
        (F.lit(3.0) * F.col("n_triangles") / F.col("n_wedges")).alias("global_clustering"),
    )


def _transitivity_oracle() -> str:
    from ..functions.exact import sql_round_big_int_ratio

    return (
        _SQL_TRI_CTES
        + f"""
    , tcnt AS (SELECT CAST(count(*) AS HUGEINT) AS n_tri FROM tris),
    wcnt AS (
      SELECT CAST(sum(degree * (degree - 1) / 2) AS HUGEINT) AS n_wedges
      FROM deg
    )
    SELECT CAST(n_tri AS BIGINT) AS n_triangles,
           CAST(n_wedges AS BIGINT) AS n_wedges,
           CASE WHEN n_wedges > 0 THEN
             {sql_round_big_int_ratio('3::HUGEINT * n_tri', 'n_wedges')}
           END AS transitivity
    FROM tcnt, wcnt
    """
    )


@register("graph_transitivity_global", oracle=_transitivity_oracle())
def graph_transitivity_global(spark: SparkSession, sf_dir: str) -> DataFrame:
    """GLOBAL transitivity 3*triangles / wedges — the whole-graph
    closure ratio complementing ``graph_local_clustering_topk`` (the
    per-node coefficient): local answers "are THIS node's neighbors
    connected", global answers "what fraction of ALL open wedges
    close", and the two diverge badly on hub-heavy co-purchase graphs
    (hubs dominate the wedge count but close few of them).

    Both operands come from the shared session-cached warehouses
    (``triangle_table`` — degree-oriented enumeration, each triangle
    counted once at its lowest-degree apex; ``_degrees``), so the op
    itself is two tiny aggregates and one broadcast cross of 1-row
    frames; at 100 TB the cost lives in the warehouse build, amortized
    across the whole graph family.
    """
    from ..functions.exact import round_big_int_ratio

    t = Tables(spark, sf_dir)
    tri = triangle_table(spark, t, sf_dir)
    deg = _degrees(edge_table(spark, t, sf_dir))
    tcnt = tri.agg(dec38(F.count(F.lit(1))).alias("n_tri"))
    wcnt = deg.agg(
        F.sum(
            dec38(F.col("degree")) * (F.col("degree") - 1) / F.lit(2)
        )
        .cast("decimal(38,0)")
        .alias("n_wedges")
    )
    return tcnt.crossJoin(F.broadcast(wcnt)).select(
        F.col("n_tri").cast("long").alias("n_triangles"),
        F.col("n_wedges").cast("long").alias("n_wedges"),
        F.when(
            F.col("n_wedges") > 0,
            round_big_int_ratio(F.lit(3).cast("decimal(38,0)") * F.col("n_tri"), F.col("n_wedges")),
        ).alias("transitivity"),
    )


# ---------------------------------------------------------------------------
# Per-node local clustering coefficient, top-k
# ---------------------------------------------------------------------------

LCC_MIN_DEGREE = 5
LCC_TOPK = 20


def _lcc_oracle() -> str:
    return _SQL_TRI_CTES + f"""
    , node_tri AS (
      SELECT node, CAST(count(*) AS BIGINT) AS n_tri
      FROM (
        SELECT a AS node FROM tris
        UNION ALL SELECT b FROM tris
        UNION ALL SELECT c FROM tris
      ) GROUP BY node
    ), cc AS (
      SELECT d.node, d.degree, coalesce(t.n_tri, 0) AS n_tri,
             ((2000000::HUGEINT * 2 * coalesce(t.n_tri, 0)
               + d.degree::HUGEINT * (d.degree - 1))
              // (2::HUGEINT * d.degree * (d.degree - 1))) / 1000000.0
               AS local_cc
      FROM deg d LEFT JOIN node_tri t ON t.node = d.node
      WHERE d.degree >= {LCC_MIN_DEGREE}
    )
    SELECT CAST(node AS BIGINT) AS node, degree, n_tri, local_cc
    FROM cc
    ORDER BY local_cc DESC, n_tri DESC, node
    LIMIT {LCC_TOPK}
    """


@register("graph_local_clustering_topk", oracle=_lcc_oracle())
def graph_local_clustering_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Top-{LCC_TOPK} nodes by LOCAL clustering coefficient (degree >=
    {LCC_MIN_DEGREE}): per-node triangle membership over the
    co-purchase graph, cc_v = 2T_v / (d_v (d_v - 1)) — the "how
    clique-like is this product's neighborhood" ranking
    (``graph_triangle_count`` reports the single global coefficient;
    this attributes triangles to nodes).

    Triangles come from the session-shared ``graph.triangle_table``
    (the same degree-ordered wedge closure the global count uses —
    each triangle found once at its unique low-degree apex; VERDICT r7
    item 3: the two queries used to run the enumeration twice, and a
    per-construction localCheckpoint here defeated warm runs), then
    credit all three corners through a 3-way unpivot — never a
    per-node neighborhood self-join. The ranking ties on
    (coefficient, triangles, node id), a total order, and the
    coefficient itself is an exact integer half-up ratio, so the
    top-k cut is deterministic; the global sort resolves as a
    TakeOrderedAndProject (per-partition heaps + driver merge of
    {LCC_TOPK}-row tops), not a full sort.
    """
    from ..functions.exact import round_int_ratio

    t = Tables(spark, sf_dir)
    edges = edge_table(spark, t, sf_dir)
    deg = _degrees(edges)
    tris = triangle_table(spark, t, sf_dir)
    node_tri = _node_triangles(tris)
    cc = (
        deg.where(F.col("degree") >= LCC_MIN_DEGREE)
        .join(node_tri, "node", "left")
        .select(
            "node",
            "degree",
            F.coalesce(F.col("n_tri"), F.lit(0)).alias("n_tri"),
        )
        .select(
            "node",
            "degree",
            "n_tri",
            round_int_ratio(
                F.lit(2) * F.col("n_tri"),
                F.col("degree") * (F.col("degree") - 1),
            ).alias("local_cc"),
        )
    )
    return cc.orderBy(
        F.col("local_cc").desc(), F.col("n_tri").desc(), F.col("node")
    ).limit(LCC_TOPK)


def _ck_oracle() -> str:
    hd = sql_halfup_div
    return (
        _SQL_TRI_CTES
        + f"""
    , node_tri AS (
      SELECT node, CAST(count(*) AS BIGINT) AS n_tri
      FROM (SELECT a AS node FROM tris UNION ALL
            SELECT b FROM tris UNION ALL SELECT c FROM tris)
      GROUP BY node
    ), cc AS (
      SELECT d.node, d.degree,
             -- floor(log2(d)) via binary length: exact integer, never a
             -- float log at a power-of-2 boundary (cross-engine ulp trap)
             CAST(length(bin(d.degree)) - 1 AS BIGINT) AS db,
             {hd('2000000::HUGEINT * coalesce(nt.n_tri, 0)',
                 'd.degree::HUGEINT * (d.degree - 1)')} AS c_micro
      FROM deg d LEFT JOIN node_tri nt ON nt.node = d.node
      WHERE d.degree >= 2
    )
    SELECT db AS degree_bucket,
           CAST(min(degree) AS BIGINT) AS min_degree,
           CAST(max(degree) AS BIGINT) AS max_degree,
           CAST(count(*) AS BIGINT) AS n_nodes,
           CAST({hd('CAST(sum(c_micro) AS HUGEINT)', 'CAST(count(*) AS HUGEINT)')}
                AS BIGINT) AS mean_clustering_micro
    FROM cc GROUP BY db ORDER BY db
    """
    )


@register("graph_clustering_by_degree_curve", _ck_oracle())
def graph_clustering_by_degree_curve(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Mean local clustering coefficient per log2 degree bucket, C(k)
    — the hierarchical-structure curve: a falling C(k) (clustering
    concentrated in low-degree nodes) is the signature of hierarchical
    / modular networks, a flat one of degree-independent mixing.
    ``graph_local_clustering_topk`` ranks individual nodes and
    ``graph_transitivity_global`` ships one number; this is the curve
    between them, and the structural input to sampling decisions (can
    hub neighborhoods be subsampled without losing triangle mass?).

    Exactness: per-node c_v = 2 T_v / (d_v (d_v - 1)) quantizes ONCE
    at 1e-6 (exact integer ratio off the shared triangle warehouse);
    the bucket mean is one further half-up division of exact sums (the
    per-node-quantize-then-average convention of the recall audits).

    Scale shape: node triangle counts are a 3-way unpivot of the
    session-cached triangle table (each triangle found once at its
    low-degree apex — never a neighborhood self-join); degrees off the
    cached edge table; everything after is bounded (log2-bucket)
    algebra.
    """
    t = Tables(spark, sf_dir)
    edges = edge_table(spark, t, sf_dir)
    deg = _degrees(edges)
    tris = triangle_table(spark, t, sf_dir)
    node_tri = _node_triangles(tris)
    m2 = F.lit(2_000_000).cast("decimal(38,0)")
    cc = (
        deg.filter(F.col("degree") >= 2)
        .join(node_tri, "node", "left")
        .select(
            # floor(log2(d)) as binary-string length: exact on both
            # engines (float log2 flips at power-of-2 boundaries)
            (F.length(F.conv(F.col("degree").cast("string"), 10, 2)) - 1)
            .cast("long")
            .alias("db"),
            "degree",
            halfup_div(
                m2 * dec38(F.coalesce(F.col("n_tri"), F.lit(0))),
                dec38(F.col("degree")) * (F.col("degree") - 1),
            ).alias("c_micro"),
        )
    )
    return (
        cc.groupBy(F.col("db").alias("degree_bucket"))
        .agg(
            F.min("degree").cast("long").alias("min_degree"),
            F.max("degree").cast("long").alias("max_degree"),
            F.count(F.lit(1)).cast("long").alias("n_nodes"),
            halfup_div(F.sum("c_micro"), dec38(F.count(F.lit(1))))
            .cast("long")
            .alias("mean_clustering_micro"),
        )
        .orderBy("degree_bucket")
    )


# ---------------------------------------------------------------------------
# Per-edge triangle support (top-k) off the shared triangle table
# ---------------------------------------------------------------------------

EDGE_SUPPORT_TOPK = 20


def _edge_support_oracle() -> str:
    return _SQL_TRI_CTES + f"""
    , es AS (
      SELECT least(a, b) AS u, greatest(a, b) AS v FROM tris
      UNION ALL SELECT least(a, c), greatest(a, c) FROM tris
      UNION ALL SELECT b, c FROM tris
    )
    SELECT u, v, CAST(count(*) AS BIGINT) AS support
    FROM es GROUP BY u, v
    ORDER BY support DESC, u, v
    LIMIT {EDGE_SUPPORT_TOPK}
    """


@register("graph_edge_triangle_support", oracle=_edge_support_oracle())
def graph_edge_triangle_support(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Top-{EDGE_SUPPORT_TOPK} edges by triangle SUPPORT (number of
    triangles the edge participates in) — the truss-decomposition /
    strong-tie primitive: high-support edges sit inside dense
    communities, support-0 edges are bridges.

    Consumes the session-shared ``graph.triangle_table`` (VERDICT r7
    item 3: one enumeration feeds the global count, the local
    clustering ranking, and this) — the marginal cost here is a 3-way
    corner unpivot, a (u, v) aggregate, and a TakeOrderedAndProject
    top-k on the total order (support desc, u, v). No new wedge join.
    """
    t = Tables(spark, sf_dir)
    tris = triangle_table(spark, t, sf_dir)
    return (
        _triangle_edges(tris)
        .groupBy("u", "v")
        .agg(F.count(F.lit(1)).alias("support"))
        .orderBy(F.col("support").desc(), "u", "v")
        .limit(EDGE_SUPPORT_TOPK)
    )


def _wtri_oracle() -> str:
    hd = sql_halfup_div
    return _SQL_TRI_CTES + f"""
    , {_SQL_WEDGES.strip().rstrip()}
    , tw AS (
      SELECT least(t.a, t.b) AS ab_u, w1.w AS w_ab, w2.w AS w_ac, w3.w AS w_bc
      FROM tris t
      JOIN wedges w1 ON w1.u = least(t.a, t.b) AND w1.v = greatest(t.a, t.b)
      JOIN wedges w2 ON w2.u = least(t.a, t.c) AND w2.v = greatest(t.a, t.c)
      JOIN wedges w3 ON w3.u = t.b AND w3.v = t.c
    ), agg AS (
      SELECT CAST(count(*) AS BIGINT) AS n_triangles,
             CAST(sum(least(w_ab, w_ac, w_bc)) AS HUGEINT) AS sum_min_w,
             CAST(sum(greatest(w_ab, w_ac, w_bc)) AS HUGEINT) AS sum_max_w
      FROM tw
    )
    SELECT n_triangles,
           CAST(sum_min_w AS BIGINT) AS sum_min_w,
           CAST(sum_max_w AS BIGINT) AS sum_max_w,
           CASE WHEN n_triangles > 0 THEN
             CAST({hd('1000000::HUGEINT * sum_min_w', 'n_triangles')} AS BIGINT)
           END AS mean_min_w_micro
    FROM agg
    """


@register("graph_weighted_triangles", oracle=_wtri_oracle())
def graph_weighted_triangles(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Strength-weighted triangle aggregate over the co-purchase graph
    (VERDICT r11's suggestion): each edge's weight is its CO-ORDER
    count, each triangle is priced by its weakest edge (the bottleneck
    convention of weighted-motif analysis — a triangle is only as
    strong as its rarest co-purchase), reporting triangle count, total
    min-edge strength, total max-edge strength, and the mean bottleneck
    strength. ``graph_triangle_count`` counts topology;
    ``graph_edge_triangle_support`` ranks edges by closure; this says
    whether closed triples are built from STRONG ties (dense repeat
    co-purchase communities) or weak one-off baskets.

    Derivation sharing: triangles come from the session-shared
    ``graph.triangle_table`` (one enumeration feeds the whole closure
    family); weights come from the same basket pair generation as the
    edge list, kept at multiplicity.

    Exactness: weights and triangle corners are exact integers; ONE
    half-up micro division for the mean.

    Scale shape: the three weight joins are equi-joins on canonical
    (u < v) corner keys against the (u, v)-grouped weighted edge
    table; no wedge re-enumeration, no cartesian.
    """
    t = Tables(spark, sf_dir)
    tris = triangle_table(spark, t, sf_dir)
    # weighted edges: shared derivation (_wedges; SQL twin _SQL_WEDGES)
    wedges = _wedges(t)
    w1 = wedges.select(
        F.col("u").alias("u1"), F.col("v").alias("v1"), F.col("w").alias("w_ab")
    )
    w2 = wedges.select(
        F.col("u").alias("u2"), F.col("v").alias("v2"), F.col("w").alias("w_ac")
    )
    w3 = wedges.select(
        F.col("u").alias("u3"), F.col("v").alias("v3"), F.col("w").alias("w_bc")
    )
    tw = (
        tris.join(
            w1,
            (F.col("u1") == F.least("a", "b")) & (F.col("v1") == F.greatest("a", "b")),
        )
        .join(
            w2,
            (F.col("u2") == F.least("a", "c")) & (F.col("v2") == F.greatest("a", "c")),
        )
        .join(w3, (F.col("u3") == F.col("b")) & (F.col("v3") == F.col("c")))
    )
    agg = tw.agg(
        F.count(F.lit(1)).cast("long").alias("n_triangles"),
        F.sum(F.least("w_ab", "w_ac", "w_bc")).cast("long").alias("sum_min_w"),
        F.sum(F.greatest("w_ab", "w_ac", "w_bc")).cast("long").alias("sum_max_w"),
    )
    m6 = F.lit(1_000_000).cast("decimal(38,0)")
    return agg.select(
        "n_triangles",
        "sum_min_w",
        "sum_max_w",
        F.when(
            F.col("n_triangles") > 0,
            halfup_div(m6 * dec38(F.col("sum_min_w")), dec38(F.col("n_triangles")))
            .cast("long"),
        ).alias("mean_min_w_micro"),
    )


# ---------------------------------------------------------------------------
# Barrat weighted local clustering for the top co-purchase hubs
# ---------------------------------------------------------------------------

BARRAT_TOPK = 10


def _barrat_oracle() -> str:
    hd = sql_halfup_div
    return _SQL_TRI_CTES + f"""
    , {_SQL_WEDGES.strip().rstrip()}
    , tw AS (
      SELECT t.a, t.b, t.c, w1.w AS w_ab, w2.w AS w_ac, w3.w AS w_bc
      FROM tris t
      JOIN wedges w1 ON w1.u = least(t.a, t.b) AND w1.v = greatest(t.a, t.b)
      JOIN wedges w2 ON w2.u = least(t.a, t.c) AND w2.v = greatest(t.a, t.c)
      JOIN wedges w3 ON w3.u = t.b AND w3.v = t.c
    ), corners AS (
      SELECT a AS node, (w_ab + w_ac) AS wp FROM tw
      UNION ALL SELECT b, (w_ab + w_bc) FROM tw
      UNION ALL SELECT c, (w_ac + w_bc) FROM tw
    ), csum AS (
      SELECT node, CAST(count(*) AS BIGINT) AS n_tri,
             CAST(sum(wp) AS HUGEINT) AS wsum
      FROM corners GROUP BY node
    ), strength AS (
      SELECT node, CAST(sum(w) AS HUGEINT) AS s
      FROM (SELECT u AS node, w FROM wedges
            UNION ALL SELECT v, w FROM wedges)
      GROUP BY node
    )
    SELECT d.node, d.degree, CAST(st.s AS BIGINT) AS strength,
           coalesce(c.n_tri, 0) AS n_tri,
           CASE WHEN d.degree >= 2 AND c.n_tri IS NOT NULL THEN
             CAST({hd('1000000::HUGEINT * c.wsum',
                      '2::HUGEINT * st.s * (d.degree - 1)')} AS BIGINT)
           ELSE 0 END AS barrat_micro,
           CAST({hd('1000000::HUGEINT * 2 * coalesce(c.n_tri, 0)',
                    'CAST(d.degree AS HUGEINT) * (d.degree - 1)')} AS BIGINT)
             AS clustering_micro
    FROM deg d
    JOIN strength st ON st.node = d.node
    LEFT JOIN csum c ON c.node = d.node
    WHERE d.degree >= 2
    ORDER BY strength DESC, d.node
    LIMIT {BARRAT_TOPK}
    """


@register("graph_weighted_clustering_barrat", oracle=_barrat_oracle())
def graph_weighted_clustering_barrat(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Barrat weighted local clustering coefficient (Barrat, Barthélemy,
    Pastor-Satorras & Vespignani, PNAS 2004) for the top-10 strongest
    co-purchase hubs: C_w(i) = (1 / (s_i (k_i - 1))) * sum over
    triangles at i of (w_ij + w_ih)/2, where s_i is the node strength
    (sum of incident co-order weights). ``graph_local_clustering_topk``
    says how CLOSED a hub's neighborhood is; this says whether the
    closure happens through the hub's STRONG ties (repeat co-purchase
    communities) or its weak ones — C_w > C means triangles concentrate
    on strong edges. The unweighted coefficient rides along for the
    comparison.

    Derivation sharing: triangles come from the session-shared
    ``graph.triangle_table`` (one enumeration for the whole closure
    family); weights come from ``graph._wedges`` — the SAME
    derivation ``graph_weighted_triangles`` consumes, extracted (not
    rewritten) in round 13.

    Exactness: corner weight sums, strengths and degrees are exact
    integers; the /2 of the Barrat pair-average folds into the
    denominator (2 s_i (k_i - 1)); ONE half-up micro division per
    output cell.

    Scale shape: three equi-joins of the triangle warehouse against the
    (u, v)-grouped weighted edge table (the graph_weighted_triangles
    plan), a 3-corner unpivot feeding a node-keyed aggregate, and
    node-sized strength/degree joins; top-k via TakeOrderedAndProject.
    No wedge re-enumeration, no cartesian.
    """
    t = Tables(spark, sf_dir)
    tris = triangle_table(spark, t, sf_dir)
    # the three corner-weight joins and the strength aggregate are four
    # plan branches over the SAME weighted-edge table; since round 14
    # _wedges is warehouse-materialized (one parquet table per session),
    # all four branches scan it directly — the former per-query
    # localCheckpoint (7.3 s -> ~4 s when the aggregate was rebuilt
    # per branch) is redundant over a materialized table.
    wedges = _wedges(t)
    w1 = wedges.select(
        F.col("u").alias("u1"), F.col("v").alias("v1"), F.col("w").alias("w_ab")
    )
    w2 = wedges.select(
        F.col("u").alias("u2"), F.col("v").alias("v2"), F.col("w").alias("w_ac")
    )
    w3 = wedges.select(
        F.col("u").alias("u3"), F.col("v").alias("v3"), F.col("w").alias("w_bc")
    )
    tw = (
        tris.join(
            w1,
            (F.col("u1") == F.least("a", "b")) & (F.col("v1") == F.greatest("a", "b")),
        )
        .join(
            w2,
            (F.col("u2") == F.least("a", "c")) & (F.col("v2") == F.greatest("a", "c")),
        )
        .join(w3, (F.col("u3") == F.col("b")) & (F.col("v3") == F.col("c")))
        .select("a", "b", "c", "w_ab", "w_ac", "w_bc")
    )
    corners = (
        tw.select(F.col("a").alias("node"), (F.col("w_ab") + F.col("w_ac")).alias("wp"))
        .unionAll(
            tw.select(
                F.col("b").alias("node"), (F.col("w_ab") + F.col("w_bc")).alias("wp")
            )
        )
        .unionAll(
            tw.select(
                F.col("c").alias("node"), (F.col("w_ac") + F.col("w_bc")).alias("wp")
            )
        )
    )
    csum = corners.groupBy("node").agg(
        F.count(F.lit(1)).cast("long").alias("n_tri"),
        F.sum(dec38(F.col("wp"))).alias("wsum"),
    )
    strength = (
        wedges.select(F.col("u").alias("node"), "w")
        .unionAll(wedges.select(F.col("v").alias("node"), "w"))
        .groupBy("node")
        .agg(F.sum(dec38(F.col("w"))).alias("s"))
    )
    deg = _degrees(edge_table(spark, t, sf_dir))
    m6 = F.lit(1_000_000).cast("decimal(38,0)")
    out = (
        deg.join(strength, "node")
        .join(csum, "node", "left")
        .where(F.col("degree") >= 2)
        .select(
            "node",
            "degree",
            F.col("s").cast("long").alias("strength"),
            F.coalesce(F.col("n_tri"), F.lit(0).cast("long")).alias("n_tri"),
            F.when(
                F.col("n_tri").isNotNull(),
                halfup_div(
                    m6 * F.col("wsum"),
                    F.lit(2).cast("decimal(38,0)")
                    * F.col("s")
                    * dec38(F.col("degree") - 1),
                ).cast("long"),
            )
            .otherwise(F.lit(0).cast("long"))
            .alias("barrat_micro"),
            halfup_div(
                m6 * F.lit(2).cast("decimal(38,0)")
                * dec38(F.coalesce(F.col("n_tri"), F.lit(0).cast("long"))),
                dec38(F.col("degree")) * dec38(F.col("degree") - 1),
            )
            .cast("long")
            .alias("clustering_micro"),
        )
    )
    return out.orderBy(F.col("strength").desc(), "node").limit(BARRAT_TOPK)


def _c4_oracle() -> str:
    return (
        _SQL_EDGES
        + """
    , both_e AS (
      SELECT u, v FROM edges UNION ALL SELECT v AS u, u AS v FROM edges
    ), cn AS (
      SELECT a.v AS x, b.v AS y, CAST(count(*) AS BIGINT) AS c
      FROM both_e a JOIN both_e b ON a.u = b.u AND a.v < b.v
      GROUP BY a.v, b.v
    ), agg AS (
      SELECT CAST(count(*) AS BIGINT) AS n_diag_pairs,
             CAST(sum(CASE WHEN c >= 2 THEN 1 ELSE 0 END) AS BIGINT)
               AS n_pairs_cn2,
             CAST(sum(c * (c - 1) / 2) AS HUGEINT) AS sum_c2,
             CAST(max(c) AS BIGINT) AS max_cn
      FROM cn
    )
    SELECT n_diag_pairs, n_pairs_cn2,
           CAST(sum_c2 // 2 AS BIGINT) AS n_c4, max_cn
    FROM agg
    """
    )


@register("graph_square_count_c4", oracle=_c4_oracle())
def graph_square_count_c4(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact 4-cycle (square) census of the co-purchase graph. The
    triangle census (``graph_triangle_count``) prices 3-cliques; C4 is
    the canonical BIPARTITE-like motif — two parts co-ordered with the
    same two other parts without being co-ordered themselves — and the
    square/triangle balance separates clustered from bipartite-ish
    regions of the graph. Identity: every C4 has exactly two diagonals
    {u,v}, and choosing 2 of the cn(u,v) common neighbors of a
    diagonal pair closes a square, so n_C4 = (1/2) * sum over pairs of
    C(cn, 2) — exact, no sampling (Wang et al. 2014 rectangle
    counting).

    Exactness: pure integer counting end to end — the diagonal-pair
    table comes off one equi-self-join of the directed edge list on
    the shared apex, C(c,2) = c(c-1)/2 is exact (c*(c-1) always even),
    and the final halving is an exact integer division because the sum
    double-counts every square by construction.

    Scale shape: the wedge generation is the standard sum-of-deg^2
    equi-join every triangle count pays (hash-partitioned on the apex,
    never all-pairs); the census aggregate is a constant-size final
    row. 1 row out.
    """
    t = Tables(spark, sf_dir)
    edges = edge_table(spark, t, sf_dir)
    both = adjacency(edges)
    # Round-14 optimization (guide §2.3/§4.2); the measured ladder at
    # sf0.1 over the 148M-wedge / 101M-distinct-pair stream:
    #   56 s  two-column diagonal-pair key (round-14 build, rejected)
    #   36 s  pair packed into ONE int64 key (round-14 build shape)
    #   ~32 s of that was the 101M-distinct-key JVM hash aggregate
    #         (partial agg only removes the 1.46x duplicate factor and
    #         churns a multi-million-entry hash map per task)
    #   12 s  this shape: (1) wedges generated map-side from sorted
    #         adjacency arrays (one groupBy(u) instead of the apex
    #         self-join — each unordered pair emitted ONCE, halving
    #         the generated stream and removing one exchange), then
    #         (2) hash-repartition by the packed pair key and count
    #         per partition in ONE vectorized pass
    #         (pyarrow.compute.value_counts inside mapInArrow), then
    #         (3) collapse each partition's counts to a count-of-counts
    #         histogram (at most max_cn rows per partition), so the
    #         JVM-side final aggregate sees a few hundred rows.
    # Exactness is unchanged: hash partitioning sends every distinct
    # pair wholly to one partition, value_counts is exact int64
    # counting, and the final sums run in decimal(38,0) over exact
    # per-histogram-cell products. A degree-ordered out-out pruning
    # pass was measured and rejected in the build round (only 3.6x
    # wedge-volume reduction on this near-uniform graph, below its
    # extra semi-join cost). At 100 TB this runs as a periodic derived
    # table beside the triangle warehouse, not an interactive query.
    adj = both.groupBy("u").agg(F.sort_array(F.collect_list("v")).alias("ns"))
    pairs = F.flatten(
        F.transform(
            F.col("ns"),
            lambda x, i: F.transform(
                F.slice(F.col("ns"), i + 2, F.size(F.col("ns"))),
                lambda y: F.shiftleft(x, 32) + y,
            ),
        )
    )
    wedge_p = adj.select(F.explode(pairs).alias("p"))
    hist = wedge_p.repartition("p").mapInArrow(_cn_count_hist, "c long, m long")
    two = F.lit(2).cast("decimal(38,0)")
    agg = hist.agg(
        # coalesce matches the oracle's count(*) = 0 on an empty edge
        # set (ADVICE r14: a bare sum over the empty histogram is NULL;
        # the oracle's other aggregates are sums/max and stay NULL)
        F.coalesce(F.sum("m"), F.lit(0)).cast("long").alias("n_diag_pairs"),
        F.sum(F.when(F.col("c") >= 2, F.col("m")).otherwise(0))
        .cast("long")
        .alias("n_pairs_cn2"),
        F.sum(dec38(F.col("m")) * dec38(F.col("c") * (F.col("c") - 1) / 2)).alias(
            "sum_c2"
        ),
        F.max("c").alias("max_cn"),
    )
    return agg.select(
        "n_diag_pairs",
        "n_pairs_cn2",
        ((F.col("sum_c2") - F.col("sum_c2") % two) / two)
        .cast("long")
        .alias("n_c4"),
        "max_cn",
    )


def _cn_count_hist(batches):
    """Per-partition common-neighbor count histogram: value-count the
    packed diagonal-pair keys of this partition (every distinct pair
    is wholly here — upstream hash repartition on the key), then
    value-count the counts. Emits (c, m): m pairs in this partition
    have exactly c common neighbors — at most max_cn rows, so the
    downstream JVM aggregate is trivially small. Exact int64 counting
    end to end (pyarrow.compute.value_counts); one vectorized pass
    instead of a 101M-distinct-key JVM hash aggregate (guide §4.2)."""
    import pyarrow as pa
    import pyarrow.compute as pc

    chunks = [batch.column(0) for batch in batches]
    if not chunks:
        return
    vc = pc.value_counts(pa.chunked_array(chunks))
    hist = pc.value_counts(vc.field("counts"))
    yield pa.record_batch(
        [hist.field("values"), hist.field("counts")], names=["c", "m"]
    )


# ---------------------------------------------------------------------------
# 2-peel k-truss edge filtration (k = 4)
# ---------------------------------------------------------------------------

TRUSS_K = 4  # edges must sit in >= k-2 = 2 triangles to survive a peel


def _ktruss_oracle() -> str:
    s = TRUSS_K - 2
    return (
        _SQL_TRI_CTES
        + f"""
    , trism AS MATERIALIZED (
      -- materialized: every downstream reference would otherwise
      -- re-run the wedge-closure join (measured: unbounded DuckDB
      -- spill at sf0.1 — >70 GB temp before the host ran out)
      SELECT a, b, c FROM tris
    ), es0 AS (
      SELECT least(a, b) AS u, greatest(a, b) AS v FROM trism
      UNION ALL SELECT least(a, c), greatest(a, c) FROM trism
      UNION ALL SELECT b, c FROM trism
    ), sup0 AS (
      SELECT u, v, CAST(count(*) AS BIGINT) AS support FROM es0 GROUP BY u, v
    ), keep1 AS MATERIALIZED (
      SELECT u, v FROM sup0 WHERE support >= {s}
    ), tri1 AS MATERIALIZED (
      SELECT t.a, t.b, t.c FROM trism t
      WHERE EXISTS (SELECT 1 FROM keep1 k WHERE k.u = least(t.a, t.b) AND k.v = greatest(t.a, t.b))
        AND EXISTS (SELECT 1 FROM keep1 k WHERE k.u = least(t.a, t.c) AND k.v = greatest(t.a, t.c))
        AND EXISTS (SELECT 1 FROM keep1 k WHERE k.u = t.b AND k.v = t.c)
    ), es1 AS (
      SELECT least(a, b) AS u, greatest(a, b) AS v FROM tri1
      UNION ALL SELECT least(a, c), greatest(a, c) FROM tri1
      UNION ALL SELECT b, c FROM tri1
    ), sup1 AS (
      SELECT u, v, CAST(count(*) AS BIGINT) AS support FROM es1 GROUP BY u, v
    ), keep2 AS (
      SELECT u, v FROM sup1 WHERE support >= {s}
    ), base AS (SELECT CAST(count(*) AS BIGINT) AS n FROM edges),
    r0 AS (SELECT 0::BIGINT AS peel, n AS n_edges,
                  (SELECT CAST(count(DISTINCT node) AS BIGINT)
                   FROM (SELECT u AS node FROM edges UNION SELECT v FROM edges))
                    AS n_nodes
           FROM base),
    r1 AS (SELECT 1::BIGINT, CAST(count(*) AS BIGINT),
                  (SELECT CAST(count(DISTINCT node) AS BIGINT)
                   FROM (SELECT u AS node FROM keep1 UNION SELECT v FROM keep1))
           FROM keep1),
    r2 AS (SELECT 2::BIGINT, CAST(count(*) AS BIGINT),
                  (SELECT CAST(count(DISTINCT node) AS BIGINT)
                   FROM (SELECT u AS node FROM keep2 UNION SELECT v FROM keep2))
           FROM keep2)
    SELECT * FROM r0 UNION ALL SELECT * FROM r1 UNION ALL SELECT * FROM r2
    ORDER BY peel
    """
    )


@register("graph_ktruss_2peel_edges", _ktruss_oracle())
def graph_ktruss_2peel_edges(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Two peeling rounds toward the {TRUSS_K}-truss of the
    co-purchase graph: round 1 keeps edges in >= {TRUSS_K}-2 triangles
    (the support floor), round 2 recounts support INSIDE the surviving
    subgraph and peels again — the cohesion filtration between
    triangle support (one static count,
    ``graph_edge_triangle_support``) and the full fixpoint truss;
    depth-capped iteration is the house convention for peeling/BFS
    families (``graph_kcore_membership``'s documented pattern), and
    the edge-count trajectory (peel 0/1/2) is the signal a community
    detector needs to pick k.

    Exactness: pure set algebra and integer counts. Scale shape:
    triangles come from the session-shared warehouse; each peel is a
    3-way corner unpivot, an edge-keyed aggregate, and semi-joins of
    the triangle list against surviving edges — all edge/triangle
    keyed equi-joins.
    """
    t = Tables(spark, sf_dir)
    tris = triangle_table(spark, t, sf_dir)
    edges = edge_table(spark, t, sf_dir)
    s = TRUSS_K - 2

    def nodes_of(e):
        return (
            e.select(F.col("u").alias("node"))
            .union(e.select(F.col("v").alias("node")))
            .agg(F.countDistinct("node").cast("long").alias("n_nodes"))
        )

    sup0 = _triangle_edges(tris).groupBy("u", "v").agg(
        F.count(F.lit(1)).alias("support")
    )
    keep1 = sup0.filter(F.col("support") >= s).select("u", "v")
    tri1 = (
        tris.join(
            keep1.select(F.col("u").alias("e1u"), F.col("v").alias("e1v")),
            (F.least("a", "b") == F.col("e1u")) & (F.greatest("a", "b") == F.col("e1v")),
            "left_semi",
        )
        .join(
            keep1.select(F.col("u").alias("e2u"), F.col("v").alias("e2v")),
            (F.least("a", "c") == F.col("e2u")) & (F.greatest("a", "c") == F.col("e2v")),
            "left_semi",
        )
        .join(
            keep1.select(F.col("u").alias("e3u"), F.col("v").alias("e3v")),
            (F.col("b") == F.col("e3u")) & (F.col("c") == F.col("e3v")),
            "left_semi",
        )
    )
    sup1 = _triangle_edges(tri1).groupBy("u", "v").agg(
        F.count(F.lit(1)).alias("support")
    )
    keep2 = sup1.filter(F.col("support") >= s).select("u", "v")
    r0 = edges.agg(F.count(F.lit(1)).cast("long").alias("n_edges")).crossJoin(
        F.broadcast(nodes_of(edges))
    ).select(F.lit(0).cast("long").alias("peel"), "n_edges", "n_nodes")
    r1 = keep1.agg(F.count(F.lit(1)).cast("long").alias("n_edges")).crossJoin(
        F.broadcast(nodes_of(keep1))
    ).select(F.lit(1).cast("long").alias("peel"), "n_edges", "n_nodes")
    r2 = keep2.agg(F.count(F.lit(1)).cast("long").alias("n_edges")).crossJoin(
        F.broadcast(nodes_of(keep2))
    ).select(F.lit(2).cast("long").alias("peel"), "n_edges", "n_nodes")
    return r0.unionByName(r1).unionByName(r2).orderBy("peel")


# ---------------------------------------------------------------------------
# k-core peeling (graph family: degree -> triangles -> PR -> LPA -> this)
# ---------------------------------------------------------------------------

KCORE_K = 3
KCORE_ROUNDS = 3


def _kcore_oracle() -> str:
    # MATERIALIZED is load-bearing: without it DuckDB re-derives each
    # round's CTE per reference and the unrolled chain recomputes
    # multiplicatively (measured 14.9s -> sub-second at sf0.01)
    sql = _SQL_EDGES + """
    , e0 AS MATERIALIZED (SELECT u, v FROM edges)"""
    prev = "e0"
    for r in range(1, KCORE_ROUNDS + 1):
        sql += f"""
    , d{r} AS MATERIALIZED (
      SELECT node FROM (
        SELECT node, count(*) AS deg
        FROM (SELECT u AS node FROM {prev} UNION ALL SELECT v FROM {prev})
        GROUP BY node) WHERE deg >= {KCORE_K}
    ), e{r} AS MATERIALIZED (
      SELECT e.u, e.v FROM {prev} e
      JOIN d{r} a ON a.node = e.u
      JOIN d{r} b ON b.node = e.v
    )"""
        prev = f"e{r}"
    parts = []
    for r in range(1, KCORE_ROUNDS + 1):
        parts.append(
            f"""
      SELECT CAST({r} AS BIGINT) AS round,
             (SELECT CAST(count(*) AS BIGINT)
              FROM (SELECT u AS node FROM e{r} UNION SELECT v FROM e{r}))
               AS n_nodes,
             (SELECT CAST(count(*) AS BIGINT) FROM e{r}) AS n_edges"""
        )
    sql += """
    SELECT * FROM ("""
    sql += " UNION ALL ".join(parts)
    sql += """
    )
    """
    return sql


@register("graph_kcore_membership", oracle=_kcore_oracle())
def graph_kcore_membership(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Iterative k-core peeling (k=3, 3 synchronous rounds) over the
    co-purchase graph: repeatedly remove nodes of degree < k and the
    edges they carry, reporting surviving node/edge counts per round —
    the standard dense-subgraph extractor (spam rings, core
    communities), and the graph family's fourth iterative member after
    PageRank / connected components / label propagation.

    Each round is one degree aggregation over the current edge set plus
    two semi-joins against the surviving-node table — the same
    bounded-iteration declarative shape as LPA, localCheckpointed per
    round so round R is one join, not an R-deep recompute. The fixed
    round count makes the operator's semantics (and its unrolled-CTE
    oracle) exact rather than run-to-convergence. Reads the
    session-cached edge table — no per-query edge rebuild.
    """
    t = Tables(spark, sf_dir)
    edges = edge_table(spark, t, sf_dir)
    cur = edges.select("u", "v")
    stats = []
    for r in range(1, KCORE_ROUNDS + 1):
        surv = _degrees(cur).where(F.col("degree") >= KCORE_K).select("node")
        # lazy localCheckpoint, not eager: the three rounds' stats
        # evaluate in ONE action over the unioned plan, with each
        # round's edge set materialized the first time the chain
        # reaches it — eager per-round materialization + per-round
        # counts was 9 jobs and 3.9s warm at sf0.1. Non-eager
        # localCheckpoint (not .persist()) so the blocks are dropped by
        # the ContextCleaner once the Python refs go away — a persist()
        # here pinned 3 cached edge sets in executor storage for the
        # rest of the session (ADVICE r6). iter_checkpoint gates the
        # executor-loss caveat (ADVICE r7): SPARK_GRAFT_ITER_PERSIST=1
        # restores the recomputable persist path for clusters with
        # dynamic allocation.
        cur = iter_checkpoint(
            cur.join(surv.select(F.col("node").alias("u")), "u")
            .join(surv.select(F.col("node").alias("v")), "v")
            .select("u", "v")
        )
        ends_r = cur.select(F.col("u").alias("node")).unionAll(
            cur.select(F.col("v").alias("node"))
        )
        stats.append(
            ends_r.agg(
                F.lit(r).cast("long").alias("round"),
                F.countDistinct("node").alias("n_nodes"),
                (F.count(F.lit(1)) / 2).cast("long").alias("n_edges"),
            )
        )
    out = stats[0]
    for s in stats[1:]:
        out = out.unionByName(s)
    return out


def _bridges_oracle() -> str:
    hd = sql_halfup_div
    return (
        _SQL_TRI_CTES
        + f"""
    , tri_edges AS (
      SELECT DISTINCT least(a, b) AS u, greatest(a, b) AS v FROM tris
      UNION SELECT DISTINCT least(a, c), greatest(a, c) FROM tris
      UNION SELECT DISTINCT b, c FROM tris
    ), flagged AS (
      SELECT e.u, e.v,
             CASE WHEN te.u IS NULL THEN 1 ELSE 0 END AS is_bridge,
             du.degree AS deg_u, dv.degree AS deg_v
      FROM edges e
      LEFT JOIN tri_edges te ON te.u = e.u AND te.v = e.v
      JOIN deg du ON du.node = e.u
      JOIN deg dv ON dv.node = e.v
    )
    SELECT is_bridge,
           CAST(count(*) AS BIGINT) AS n_edges,
           CAST({hd('1000000::HUGEINT * sum(least(deg_u, deg_v))', 'count(*)')}
                AS BIGINT) AS mean_min_deg_micro,
           CAST({hd('1000000::HUGEINT * sum(greatest(deg_u, deg_v))', 'count(*)')}
                AS BIGINT) AS mean_max_deg_micro
    FROM flagged GROUP BY is_bridge ORDER BY is_bridge
    """
    )


@register("graph_local_bridges_audit", oracle=_bridges_oracle())
def graph_local_bridges_audit(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Local-bridge audit: an edge whose endpoints share NO common
    neighbor (zero triangle support) is a local bridge — removing it
    raises its endpoints' distance above 2, so these are the weak-tie
    shortcuts of Granovetter's strength-of-weak-ties argument, and in
    a co-purchase graph they mark cross-category purchases that no
    third product mediates. Reported: edge counts and endpoint-degree
    profiles (mean min / mean max endpoint degree) for bridges vs
    embedded edges — bridges systematically attach to lower-degree
    endpoints if the periphery is where categories meet.

    Derivation sharing: the session triangle warehouse
    (``graph.triangle_table``) supplies the embedded-edge set; the
    edge and degree tables are the session-shared ``edge_table`` /
    ``_degrees`` (unchanged derivations — no evidence invalidation).

    Exactness: pure integer counting; the two mean-degree profiles are
    single half-up micro divisions of exact integer sums.

    Scale shape: one distinct-corner unpivot of the triangle list, one
    edge-keyed left anti-ish join (LEFT JOIN + null flag so both
    classes aggregate in one pass), two node-sized degree joins; the
    final aggregate is 2-key bounded. 2 rows out.
    """
    t = Tables(spark, sf_dir)
    edges = edge_table(spark, t, sf_dir)
    tris = triangle_table(spark, t, sf_dir)
    tri_edges = (
        _triangle_edges(tris)
        .distinct()
        .withColumn("in_tri", F.lit(1))
    )
    deg = _degrees(edges)
    flagged = (
        edges.join(tri_edges, ["u", "v"], "left")
        .join(deg.select(F.col("node").alias("u"), F.col("degree").alias("deg_u")), "u")
        .join(deg.select(F.col("node").alias("v"), F.col("degree").alias("deg_v")), "v")
        .select(
            F.when(F.col("in_tri").isNull(), 1).otherwise(0).alias("is_bridge"),
            F.least("deg_u", "deg_v").alias("mn"),
            F.greatest("deg_u", "deg_v").alias("mx"),
        )
    )
    m6 = F.lit(1_000_000).cast("decimal(38,0)")
    return (
        flagged.groupBy("is_bridge")
        .agg(
            F.count(F.lit(1)).cast("long").alias("n_edges"),
            halfup_div(m6 * F.sum(dec38(F.col("mn"))), dec38(F.count(F.lit(1))))
            .cast("long")
            .alias("mean_min_deg_micro"),
            halfup_div(m6 * F.sum(dec38(F.col("mx"))), dec38(F.count(F.lit(1))))
            .cast("long")
            .alias("mean_max_deg_micro"),
        )
        .orderBy("is_bridge")
    )


def _assortativity_oracle() -> str:
    return (
        _SQL_EDGES
        + """
    , deg AS (
      SELECT node, CAST(count(*) AS BIGINT) AS d
      FROM (SELECT u AS node FROM edges UNION ALL SELECT v FROM edges)
      GROUP BY node
    ), dir AS (
      SELECT du.d AS x, dv.d AS y
      FROM edges e JOIN deg du ON du.node = e.u JOIN deg dv ON dv.node = e.v
      UNION ALL
      SELECT dv.d AS x, du.d AS y
      FROM edges e JOIN deg du ON du.node = e.u JOIN deg dv ON dv.node = e.v
    ), s AS (
      SELECT CAST(count(*) AS HUGEINT) AS m,
             CAST(sum(x) AS HUGEINT) AS sx,
             sum(x::HUGEINT * x) AS sxx,
             sum(x::HUGEINT * y) AS sxy
      FROM dir
    )
    SELECT CAST(m AS BIGINT) AS n_directed_edges,
           CAST(floor(CAST(m * sxy - sx * sx AS DOUBLE)
                      / CAST(m * sxx - sx * sx AS DOUBLE)
                      * 1000000.0 + 0.5) AS BIGINT) / 1000000.0
             AS assortativity
    FROM s
    """
    )


@register("graph_degree_assortativity", oracle=_assortativity_oracle())
def graph_degree_assortativity(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Degree assortativity coefficient of the co-purchase graph — the
    Pearson correlation of endpoint degrees over the directed edge
    list (both orientations): do hubs link to hubs (assortative, r>0)
    or to leaves (disassortative, r<0)? The one-number structural
    summary complementing the degree histogram.

    By x/y symmetry over both orientations the sufficient statistics
    collapse to m, sum(d), sum(d^2), sum(du*dv) — exact int128/decimal
    sums off the session-cached edge table with the (broadcastable)
    degree table joined in; one final double ratio from identical
    integers. Scale: degree join + one partial-aggregated sum, no
    shuffle beyond the degree aggregation.
    """
    from ..functions.partitioning import gated_broadcast

    t = Tables(spark, sf_dir)
    edges = edge_table(spark, t, sf_dir)
    deg = _degrees(edges)
    du = deg.select(F.col("node").alias("u"), F.col("degree").alias("xd"))
    dv = deg.select(F.col("node").alias("v"), F.col("degree").alias("yd"))
    j = edges.join(gated_broadcast(du), "u").join(gated_broadcast(dv), "v")
    dirs = j.select(F.col("xd").alias("x"), F.col("yd").alias("y")).unionAll(
        j.select(F.col("yd").alias("x"), F.col("xd").alias("y"))
    )
    s = dirs.agg(
        F.count(F.lit(1)).alias("m"),
        F.sum("x").alias("sx"),
        F.sum(dec38(F.col("x")) * dec38(F.col("x"))).alias("sxx"),
        F.sum(dec38(F.col("x")) * dec38(F.col("y"))).alias("sxy"),
    )
    m = dec38(F.col("m"))
    sx = dec38(F.col("sx"))
    r = (
        F.floor(
            (m * F.col("sxy") - sx * sx).cast("double")
            / (m * F.col("sxx") - sx * sx).cast("double")
            * F.lit(1e6)
            + F.lit(0.5)
        ).cast("long")
        / F.lit(1e6)
    )
    return s.select(F.col("m").alias("n_directed_edges"), r.alias("assortativity"))


def _strength_assort_oracle() -> str:
    return _SQL_EDGES + f"""
    , {_SQL_WEDGES.strip().rstrip()}
    , strength AS (
      SELECT node, CAST(sum(w) AS HUGEINT) AS s
      FROM (SELECT u AS node, w FROM wedges
            UNION ALL SELECT v, w FROM wedges)
      GROUP BY node
    ), ends AS (
      SELECT su.s AS sx, sv.s AS sy
      FROM edges e JOIN strength su ON su.node = e.u
      JOIN strength sv ON sv.node = e.v
      UNION ALL
      SELECT sv.s, su.s
      FROM edges e JOIN strength su ON su.node = e.u
      JOIN strength sv ON sv.node = e.v
    ), agg AS (
      SELECT CAST(count(*) AS HUGEINT) AS m,
             CAST(sum(sx) AS HUGEINT) AS sxs,
             CAST(sum(sx * sy) AS HUGEINT) AS sxy,
             CAST(sum(sx * sx) AS HUGEINT) AS sxx
      FROM ends
    )
    SELECT CAST(m AS BIGINT) AS n_edge_ends,
           CASE WHEN m * sxx - sxs * sxs > 0 THEN
             CAST(floor(abs(CAST(m * sxy - sxs * sxs AS DOUBLE)) * 1000000.0
                  / CAST(m * sxx - sxs * sxs AS DOUBLE) + 0.5) AS BIGINT)
             * (CASE WHEN m * sxy - sxs * sxs < 0 THEN -1 ELSE 1 END)
           END AS assortativity_micro
    FROM agg
    """


@register("graph_strength_assortativity", _strength_assort_oracle())
def graph_strength_assortativity(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Strength (weighted-degree) assortativity of the co-purchase
    graph: the Pearson correlation of endpoint STRENGTHS over the
    symmetrized edge-end list (Newman 2002's degree assortativity with
    s_i = sum of co-order weights in place of k_i, cf. Barrat et al.
    2004). ``graph_degree_assortativity`` asks whether hubs link to
    hubs by CONTACT COUNT; this asks whether heavy repeat-co-purchase
    products wire to each other by VOLUME — the two diverge exactly
    when weak-tie hubs (broad but shallow baskets) dominate the
    topology.

    Derivation sharing: weights via ``graph._wedges`` /
    ``_SQL_WEDGES`` and the canonical edge list via
    ``graph.edge_table`` (one derivation each, multiple consumers).
    On the symmetrized list the x- and y-marginals coincide, so the
    correlation needs only m, sum sx, sum sx^2, sum sx*sy.

    Exactness: strengths and the four sufficient statistics are exact
    integers; the correlation is ONE shape-matched IEEE double
    sequence (|num| * 1e6 / den, sign carried separately — since the
    marginals coincide, den = m*sxx - sxs^2 is a positive integer and
    no sqrt is needed), NULL-guarded for the degenerate graph.

    Scale shape: strengths are a node-sized aggregate of the weighted
    edge table; the two endpoint joins are node-keyed equi-joins
    (strength table broadcast under the gate); one global aggregate.
    1 row out.
    """
    from ..functions.partitioning import gated_broadcast

    t = Tables(spark, sf_dir)
    edges = edge_table(spark, t, sf_dir)
    wedges = _wedges(t)
    strength = (
        wedges.select(F.col("u").alias("node"), "w")
        .unionAll(wedges.select(F.col("v").alias("node"), "w"))
        .groupBy("node")
        .agg(F.sum(dec38(F.col("w"))).alias("s"))
    )
    su = strength.select(F.col("node").alias("u"), F.col("s").alias("s_u"))
    sv = strength.select(F.col("node").alias("v"), F.col("s").alias("s_v"))
    both = edges.join(gated_broadcast(su), "u").join(gated_broadcast(sv), "v")
    ends = both.select(
        F.col("s_u").alias("sx"), F.col("s_v").alias("sy")
    ).unionAll(both.select(F.col("s_v").alias("sx"), F.col("s_u").alias("sy")))
    agg = ends.agg(
        dec38(F.count(F.lit(1))).alias("m"),
        F.sum("sx").alias("sxs"),
        F.sum(F.col("sx") * F.col("sy")).alias("sxy"),
        F.sum(F.col("sx") * F.col("sx")).alias("sxx"),
    )
    num = F.col("m") * F.col("sxy") - F.col("sxs") * F.col("sxs")
    den = F.col("m") * F.col("sxx") - F.col("sxs") * F.col("sxs")
    r = F.floor(
        F.abs(num.cast("double")) * F.lit(1000000.0) / den.cast("double")
        + F.lit(0.5)
    ).cast("long") * F.when(num < 0, F.lit(-1)).otherwise(F.lit(1))
    return agg.select(
        F.col("m").cast("long").alias("n_edge_ends"),
        F.when(den > 0, r).alias("assortativity_micro"),
    )


def _brand_assort_oracle() -> str:
    hd = sql_halfup_div
    return _SQL_EDGES + f"""
    , ends AS (
      SELECT e.u AS node, e.v AS other FROM edges e
      UNION ALL SELECT e.v, e.u FROM edges e
    ), lab AS (
      SELECT en.node, en.other, p.p_brand AS bx
      FROM ends en JOIN part p ON p.p_partkey = en.node
    ), mix AS (
      SELECT l.bx, p2.p_brand AS by_, CAST(count(*) AS HUGEINT) AS e_xy
      FROM lab l JOIN part p2 ON p2.p_partkey = l.other
      GROUP BY l.bx, p2.p_brand
    ), sums AS (
      SELECT CAST(sum(e_xy) AS HUGEINT) AS m,
             CAST(sum(CASE WHEN bx = by_ THEN e_xy ELSE 0 END) AS HUGEINT) AS tr
      FROM mix
    ), rows_ AS (
      SELECT bx, CAST(sum(e_xy) AS HUGEINT) AS a_x FROM mix GROUP BY bx
    ), sq AS (
      SELECT CAST(sum(a_x * a_x) AS HUGEINT) AS sa2,
             CAST(count(*) AS BIGINT) AS n_brands
      FROM rows_
    )
    SELECT sq.n_brands, CAST(s.m AS BIGINT) AS n_edge_ends,
           CAST(s.tr AS BIGINT) AS n_same_brand_ends,
           CASE WHEN s.m * s.m > sq.sa2 THEN
             CAST({hd('1000000::HUGEINT * (s.m * s.tr - sq.sa2)',
                      's.m * s.m - sq.sa2')} AS BIGINT)
           END AS assortativity_micro
    FROM sums s, sq
    """


@register("graph_attribute_assortativity_brand", oracle=_brand_assort_oracle())
def graph_attribute_assortativity_brand(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Newman's categorical (attribute) assortativity of the
    co-purchase graph by part BRAND: r = (Tr e - sum a_x b_x) /
    (1 - sum a_x b_x) over the edge-end brand mixing matrix — do
    co-purchased parts share a brand more than chance?
    ``graph_degree_assortativity`` asks the same question about
    DEGREE; the attribute form is the homophily measure (r=1 perfect
    brand homophily, r=0 random mixing, r<0 cross-brand baskets) that
    prices whether brand is a usable blocking/partition key for this
    graph.

    Exactness: the mixing matrix counts each undirected edge as two
    ordered ends (exact integers, symmetric by construction); with
    M = 2|E|, r = (M*Tr - sum a_x^2) / (M^2 - sum a_x^2) is ONE
    half-up micro division of exact products, NULL-guarded for the
    single-brand degenerate.

    Scale shape: edges from the session-shared ``graph.edge_table``;
    two dimension equi-joins to part (brand lookup); the mixing matrix
    is brand^2-bounded (~25x25); scalar algebra out.
    """
    t = Tables(spark, sf_dir)
    edges = edge_table(spark, t, sf_dir)
    ends = edges.select(F.col("u").alias("node"), F.col("v").alias("other")).unionAll(
        edges.select(F.col("v").alias("node"), F.col("u").alias("other"))
    )
    brand = t.part.select(F.col("p_partkey").alias("node"), F.col("p_brand").alias("bx"))
    brand2 = t.part.select(
        F.col("p_partkey").alias("other"), F.col("p_brand").alias("by_")
    )
    mix = (
        ends.join(brand, "node")
        .join(brand2, "other")
        .groupBy("bx", "by_")
        .agg(dec38(F.count(F.lit(1))).alias("e_xy"))
    )
    sums = mix.agg(
        F.sum("e_xy").alias("m"),
        F.sum(F.when(F.col("bx") == F.col("by_"), F.col("e_xy")).otherwise(
            F.lit(0).cast("decimal(38,0)")
        )).alias("tr"),
    )
    rows_ = mix.groupBy("bx").agg(F.sum("e_xy").alias("a_x"))
    sq = rows_.agg(
        F.sum(F.col("a_x") * F.col("a_x")).alias("sa2"),
        F.count(F.lit(1)).cast("long").alias("n_brands"),
    )
    m6 = F.lit(1_000_000).cast("decimal(38,0)")
    den = F.col("m") * F.col("m") - F.col("sa2")
    return sq.crossJoin(F.broadcast(sums)).select(
        "n_brands",
        F.col("m").cast("long").alias("n_edge_ends"),
        F.col("tr").cast("long").alias("n_same_brand_ends"),
        F.when(
            den > 0,
            halfup_div(m6 * (F.col("m") * F.col("tr") - F.col("sa2")), den).cast(
                "long"
            ),
        ).alias("assortativity_micro"),
    )


# ---------------------------------------------------------------------------
# Average-neighbor-degree curve knn(k)
# ---------------------------------------------------------------------------


def _knn_curve_oracle() -> str:
    hd = sql_halfup_div
    return _SQL_EDGES + f"""
    , ends AS (
      SELECT u AS node, v AS other FROM edges
      UNION ALL SELECT v, u FROM edges
    ), deg AS (
      SELECT node, CAST(count(*) AS BIGINT) AS degree FROM ends GROUP BY node
    ), nsum AS (
      SELECT e.node, CAST(sum(d2.degree) AS HUGEINT) AS snd
      FROM ends e JOIN deg d2 ON d2.node = e.other
      GROUP BY e.node
    ), curve AS (
      SELECT d.degree, CAST(count(*) AS BIGINT) AS n_nodes,
             CAST(sum(ns.snd) AS HUGEINT) AS ssnd
      FROM deg d JOIN nsum ns ON ns.node = d.node
      GROUP BY d.degree
    )
    SELECT degree, n_nodes,
           CAST({hd('1000000::HUGEINT * ssnd', 'degree * n_nodes')} AS BIGINT)
             AS avg_neighbor_degree_micro
    FROM curve ORDER BY degree
    """


@register("graph_avg_neighbor_degree_curve", oracle=_knn_curve_oracle())
def graph_avg_neighbor_degree_curve(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Average-neighbor-degree curve knn(k) (Pastor-Satorras, Vazquez
    & Vespignani 2001): for each degree class k, the mean degree of
    the neighbors of degree-k nodes. THE full-curve read of degree
    correlation — ``graph_degree_assortativity`` compresses this to
    one scalar; the curve's SHAPE (rising = assortative core-periphery,
    falling = disassortative hub-and-spoke) decides whether hub
    partitioning or peripheral blocking wins for this graph, and
    ``graph_clustering_by_degree_curve`` reads it beside the closure
    hierarchy.

    Exactness: within a degree class every node divides its neighbor
    degree sum by the SAME k, so knn(k) = sum(snd)/(k * n_nodes_k) is
    ONE half-up micro division of exact integers per class — no
    per-node rational ever materializes.

    Scale shape: edges from the session-shared ``graph.edge_table``;
    degree and neighbor-sum are two hash aggregations over the
    2|E|-row end list; the curve is distinct-degree-bounded (~sqrt
    scaling under heavy tails).
    """
    t = Tables(spark, sf_dir)
    edges = edge_table(spark, t, sf_dir)
    ends = edges.select(F.col("u").alias("node"), F.col("v").alias("other")).unionAll(
        edges.select(F.col("v").alias("node"), F.col("u").alias("other"))
    )
    deg = ends.groupBy("node").agg(F.count(F.lit(1)).cast("long").alias("degree"))
    d2 = deg.select(F.col("node").alias("other"), F.col("degree").alias("odeg"))
    nsum = (
        ends.join(d2, "other")
        .groupBy("node")
        .agg(dec38(F.sum("odeg")).alias("snd"))
    )
    curve = (
        deg.join(nsum, "node")
        .groupBy("degree")
        .agg(
            F.count(F.lit(1)).cast("long").alias("n_nodes"),
            F.sum("snd").alias("ssnd"),
        )
    )
    m6 = F.lit(1_000_000).cast("decimal(38,0)")
    return curve.select(
        "degree",
        "n_nodes",
        halfup_div(
            m6 * F.col("ssnd"), dec38(F.col("degree")) * F.col("n_nodes")
        )
        .cast("long")
        .alias("avg_neighbor_degree_micro"),
    ).orderBy("degree")


# ---------------------------------------------------------------------------
# Rich-club coefficient of the co-purchase graph
# ---------------------------------------------------------------------------

RICH_CLUB_KS = [2, 4, 8, 16, 32]


def _rich_club_oracle() -> str:
    from ..functions.exact import sql_round_big_int_ratio

    per_k = " UNION ALL ".join(
        f"""
    SELECT CAST({k} AS BIGINT) AS k,
           (SELECT CAST(count(*) AS BIGINT) FROM deg WHERE degree > {k}) AS n_k,
           (SELECT CAST(count(*) AS BIGINT) FROM ej
            WHERE deg_u > {k} AND deg_v > {k}) AS e_k"""
        for k in RICH_CLUB_KS
    )
    return (
        _SQL_EDGES
        + f"""
    , adj AS (
      SELECT u, v FROM edges UNION ALL SELECT v AS u, u AS v FROM edges
    ), deg AS (
      SELECT u AS node, CAST(count(*) AS BIGINT) AS degree FROM adj GROUP BY u
    ), ej AS (
      SELECT e.u, e.v, du.degree AS deg_u, dv.degree AS deg_v
      FROM edges e
      JOIN deg du ON du.node = e.u
      JOIN deg dv ON dv.node = e.v
    ), levels AS ({per_k})
    SELECT k, n_k, e_k,
           CASE WHEN n_k >= 2 THEN
             {sql_round_big_int_ratio('2 * e_k', 'n_k::HUGEINT * (n_k - 1)')}
           END AS rich_club_phi
    FROM levels ORDER BY k
    """
    )


@register("graph_rich_club_coefficient", oracle=_rich_club_oracle())
def graph_rich_club_coefficient(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Rich-club coefficient phi(k) = 2*E_k / (n_k*(n_k-1)) of the
    co-purchase graph at degree thresholds k in {2,4,8,16,32}: the
    edge density among nodes of degree > k — a rising phi(k) means
    hub products preferentially co-occur with other hubs (the
    "rich club"), the global-topology diagnostic beside the local
    ones (clustering, assortativity: assortativity asks if ENDPOINT
    degrees correlate per edge, rich-club asks if the hub SUBGRAPH is
    dense).

    One degree aggregate + one edge-to-degree join evaluated ONCE,
    then 5 conditional aggregates over the annotated edge table (the
    thresholds are literals, not 5 scans); phi is an exact half-up
    decimal ratio per level. Everything is node/edge-keyed equi-joins
    on the session-cached edge table.
    """
    from ..functions.exact import round_big_int_ratio

    t = Tables(spark, sf_dir)
    edges = edge_table(spark, t, sf_dir)
    deg = _degrees(edges)
    ej = edges.join(
        deg.select(F.col("node").alias("u"), F.col("degree").alias("deg_u")), "u"
    ).join(deg.select(F.col("node").alias("v"), F.col("degree").alias("deg_v")), "v")
    e_aggs = ej.agg(
        *[
            F.sum(
                F.when((F.col("deg_u") > k) & (F.col("deg_v") > k), 1).otherwise(0)
            ).alias(f"e_{k}")
            for k in RICH_CLUB_KS
        ]
    )
    n_aggs = deg.agg(
        *[
            F.sum(F.when(F.col("degree") > k, 1).otherwise(0)).alias(f"n_{k}")
            for k in RICH_CLUB_KS
        ]
    )
    both = e_aggs.crossJoin(F.broadcast(n_aggs))
    stacked = both.select(
        F.expr(
            "stack({}, {}) AS (k, e_k, n_k)".format(
                len(RICH_CLUB_KS),
                ", ".join(f"{k}, e_{k}, n_{k}" for k in RICH_CLUB_KS),
            )
        )
    )
    return stacked.select(
        F.col("k").cast("long").alias("k"),
        F.col("n_k").cast("long").alias("n_k"),
        F.col("e_k").cast("long").alias("e_k"),
        F.when(
            F.col("n_k") >= 2,
            round_big_int_ratio(
                2 * F.col("e_k"), dec38(F.col("n_k")) * (F.col("n_k") - 1)
            ),
        ).alias("rich_club_phi"),
    ).orderBy("k")
