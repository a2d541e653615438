"""Community queries over the co-purchase graph: synchronous label
propagation and the Newman modularity of the communities it finds.

Both read the same label loop, ``lpa_labels`` (DuckDB twin:
``lpa_label_sql``): 2 fixed rounds in which every node adopts its
neighbours' plurality label, ties to the smallest label, so the
result is a deterministic function of the graph.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from ..functions.exact import dec38
from ..registry import register
from ..tables import Tables
from .graph import _SQL_EDGES, _degrees, adjacency, edge_table


# ---------------------------------------------------------------------------
# Label propagation (synchronous, fixed rounds) — community detection
# ---------------------------------------------------------------------------

LPA_ROUNDS = 2


def lpa_label_sql() -> tuple[str, str]:
    """DuckDB CTE chain computing the 2-round LPA labels; returns
    (sql_prefix, final_label_rel). Shared by the LPA community-size
    query and the modularity audit."""
    sql = _SQL_EDGES + """
    , dir AS (
      SELECT u AS src, v AS dst FROM edges
      UNION ALL SELECT v, u FROM edges
    ), l0 AS (
      SELECT DISTINCT src AS node, src AS label FROM dir
    )"""
    prev = "l0"
    for k in range(1, LPA_ROUNDS + 1):
        sql += f"""
    , v{k} AS (
      SELECT d.src AS node, l.label, count(*) AS cnt
      FROM dir d JOIN {prev} l ON l.node = d.dst
      GROUP BY 1, 2
    ), l{k} AS (
      SELECT node, label FROM (
        SELECT node, label,
               row_number() OVER (PARTITION BY node
                                  ORDER BY cnt DESC, label) AS rn
        FROM v{k}
      ) WHERE rn = 1
    )"""
        prev = f"l{k}"
    return sql, prev


def _lpa_oracle() -> str:
    sql, prev = lpa_label_sql()
    return sql + f"""
    SELECT label AS community, CAST(count(*) AS BIGINT) AS n_nodes,
           CAST(min(node) AS BIGINT) AS min_node
    FROM {prev} GROUP BY label
    """


def lpa_labels(spark: SparkSession, t: Tables, sf_dir: str) -> DataFrame:
    """Final (node, label) table of the 2-round synchronous LPA over
    the co-purchase graph — the label loop shared by
    ``graph_label_propagation`` and the modularity audit."""
    directed = (
        adjacency(edge_table(spark, t, sf_dir))
        .select(F.col("u").alias("src"), F.col("v").alias("dst"))
        .localCheckpoint()
    )
    labels = directed.select(F.col("src").alias("node")).distinct().select(
        "node", F.col("node").alias("label")
    )
    for _ in range(LPA_ROUNDS):
        votes = (
            directed.join(
                labels.select(F.col("node").alias("dst"), "label"), "dst"
            )
            .groupBy(F.col("src").alias("node"), "label")
            .agg(F.count(F.lit(1)).alias("cnt"))
        )
        # plurality with min-label tie-break as a single min(struct):
        # (-cnt, label) orders exactly like (cnt DESC, label ASC)
        labels = (
            votes.groupBy("node")
            .agg(F.min(F.struct((-F.col("cnt")).alias("neg"), F.col("label").alias("label"))).alias("b"))
            .select("node", F.col("b.label").alias("label"))
            .localCheckpoint()
        )
    return labels


@register("graph_label_propagation", oracle=_lpa_oracle())
def graph_label_propagation(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Synchronous label propagation (2 fixed rounds) over the part
    co-purchase graph: every node starts as its own community, then
    repeatedly adopts its neighbors' plurality label (ties -> smallest
    label, making each round a deterministic function of the graph) —
    the classic near-linear community-detection primitive, here fully
    declarative like the PageRank/k-means/GD siblings: no driver-side
    labels, no RNG.

    Scale: each round is one equi-join of the directed edge list
    against the |V|-row label table (labels re-shuffle on node id;
    edges reuse their partitioning) plus a per-(node, label) count and
    an argmax-by-min(struct)-shaped rank — identical cost profile to
    one PageRank iteration. The label table localCheckpoints between
    rounds so round K is one join, not a K-deep recompute. Output is
    per-community size, |V|-bounded.
    """
    t = Tables(spark, sf_dir)
    labels = lpa_labels(spark, t, sf_dir)
    return labels.groupBy(F.col("label").alias("community")).agg(
        F.count(F.lit(1)).cast("long").alias("n_nodes"),
        F.min("node").cast("long").alias("min_node"),
    )


def _modularity_oracle() -> str:
    sql, lab = lpa_label_sql()
    return sql + f"""
    , deg AS (
      SELECT node, CAST(count(*) AS BIGINT) AS degree
      FROM (SELECT u AS node FROM edges UNION ALL SELECT v FROM edges)
      GROUP BY node
    ), m AS (
      SELECT CAST(count(*) AS HUGEINT) AS m_edges FROM edges
    ), intra AS (
      SELECT CAST(count(*) AS HUGEINT) AS l_in
      FROM edges e
      JOIN {lab} lu ON lu.node = e.u
      JOIN {lab} lv ON lv.node = e.v
      WHERE lu.label = lv.label
    ), dsq AS (
      SELECT CAST(sum(dc * dc) AS HUGEINT) AS sum_d2
      FROM (
        SELECT l.label, CAST(sum(d.degree) AS HUGEINT) AS dc
        FROM {lab} l JOIN deg d ON d.node = l.node
        GROUP BY l.label
      )
    ), com AS (
      SELECT CAST(count(DISTINCT label) AS BIGINT) AS n_communities
      FROM {lab}
    )
    SELECT n_communities,
           CAST(m.m_edges AS BIGINT) AS n_edges,
           CAST(l_in AS BIGINT) AS intra_edges,
           CAST(CASE WHEN (4::HUGEINT * m.m_edges * l_in - sum_d2) < 0
             THEN -((2000000::HUGEINT
                     * abs(4::HUGEINT * m.m_edges * l_in - sum_d2)
                     + 4::HUGEINT * m.m_edges * m.m_edges)
                    // (2::HUGEINT * 4 * m.m_edges * m.m_edges))
             ELSE ((2000000::HUGEINT
                     * (4::HUGEINT * m.m_edges * l_in - sum_d2)
                     + 4::HUGEINT * m.m_edges * m.m_edges)
                    // (2::HUGEINT * 4 * m.m_edges * m.m_edges))
           END AS BIGINT) / 1000000.0 AS modularity
    FROM com, m, intra, dsq
    """


@register("graph_modularity_lpa", oracle=_modularity_oracle())
def graph_modularity_lpa(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Newman modularity Q of the 2-round LPA communities over the
    co-purchase graph — the community-QUALITY audit the detection
    query itself doesn't give you (``graph_label_propagation`` reports
    sizes; Q says whether the partition beats the degree-preserving
    random baseline).

    Exactness: Q = (4m * L_in - sum_c D_c^2) / (4m^2) — intra-edge
    count, per-community degree sums and m are exact integers, so Q is
    ONE signed decimal-domain half-up ratio; no floats anywhere.

    Scale: reuses the session-materialized edge table and the same
    LPA label passes (localCheckpointed, one join deep); the quality
    audit adds two label equi-joins (edge endpoints) and a
    |communities|-row degree reduce — same cost class as one LPA
    round.
    """
    from ..functions.exact import round_big_int_ratio

    t = Tables(spark, sf_dir)
    edges = edge_table(spark, t, sf_dir)
    labels = lpa_labels(spark, t, sf_dir)
    deg = _degrees(edges)
    m = edges.agg(F.count(F.lit(1)).alias("m_edges"))
    lu = labels.select(F.col("node").alias("u"), F.col("label").alias("lab_u"))
    lv = labels.select(F.col("node").alias("v"), F.col("label").alias("lab_v"))
    intra = (
        edges.join(lu, "u")
        .join(lv, "v")
        .where(F.col("lab_u") == F.col("lab_v"))
        .agg(F.count(F.lit(1)).alias("l_in"))
    )
    dsq = (
        labels.join(deg, "node")
        .groupBy("label")
        .agg(F.sum("degree").alias("dc"))
        .agg(F.sum(dec38(F.col("dc")) * dec38(F.col("dc"))).alias("sum_d2"))
    )
    com = labels.agg(F.countDistinct("label").alias("n_communities"))
    j = (
        com.crossJoin(F.broadcast(m))
        .crossJoin(F.broadcast(intra))
        .crossJoin(F.broadcast(dsq))
    )
    me = dec38(F.col("m_edges"))
    num = F.lit(4).cast("decimal(38,0)") * me * dec38(F.col("l_in")) - F.col(
        "sum_d2"
    )
    den = F.lit(4).cast("decimal(38,0)") * me * me
    return j.select(
        "n_communities",
        F.col("m_edges").alias("n_edges"),
        F.col("l_in").alias("intra_edges"),
        round_big_int_ratio(num, den).alias("modularity"),
    )
