"""graph_pagerank_copurchase: the distributed integer PageRank must
equal an independent single-machine replica EXACTLY (bit-for-bit),
because every step is order-independent int64 arithmetic.
"""

from __future__ import annotations

import duckdb

from mysql_public_data_ingestor_spark.operators.graph_centrality import (
    PR_DAMP_DEN,
    PR_DAMP_NUM,
    PR_ITERS,
    PR_SCALE,
)
from mysql_public_data_ingestor_spark.registry import all_queries


def _reference_pagerank(sf_dir: str) -> dict[int, int]:
    con = duckdb.connect()
    edges = con.execute(
        f"""
        WITH li AS (SELECT DISTINCT l_orderkey, l_partkey
                    FROM read_parquet('{sf_dir}/lineitem.parquet'))
        SELECT DISTINCT a.l_partkey, b.l_partkey
        FROM li a JOIN li b
          ON a.l_orderkey = b.l_orderkey AND a.l_partkey < b.l_partkey
        """
    ).fetchall()
    adj: dict[int, list[int]] = {}
    for u, v in edges:
        adj.setdefault(u, []).append(v)
        adj.setdefault(v, []).append(u)
    n = len(adj)
    base = (PR_DAMP_DEN - PR_DAMP_NUM) * PR_SCALE // (PR_DAMP_DEN * n)
    rank = {node: PR_SCALE // n for node in adj}
    for _ in range(PR_ITERS):
        in_sum: dict[int, int] = {node: 0 for node in adj}
        for node, nbrs in adj.items():
            share = rank[node] // len(nbrs)
            for nb in nbrs:
                in_sum[nb] += share
        rank = {node: base + (in_sum[node] * PR_DAMP_NUM) // PR_DAMP_DEN for node in adj}
    return rank


def test_pagerank_matches_integer_replica(spark, sf_dir):
    got = {
        r.node: r.rank_micro
        for r in all_queries()["graph_pagerank_copurchase"].fn(spark, sf_dir).collect()
    }
    exp = _reference_pagerank(sf_dir)
    assert got == exp
