"""The graph family lives in one place and shares one copy of each step.

- Layout: every ``graph_*`` query is defined in an ``operators/graph*.py``
  module, those modules register nothing else, and no other operator
  module imports them.
- The two traversal loops in ``operators/graph.py`` (``frontier_bfs`` and
  ``seed_layers``) agree with a pure-Python BFS on a hand-built graph.
"""

from __future__ import annotations

import ast
import os
from collections import deque

import pytest

from mysql_public_data_ingestor_spark.operators.graph import (
    adjacency,
    frontier_bfs,
    seed_layers,
)
from mysql_public_data_ingestor_spark.registry import all_queries

OPS_DIR = os.path.join(
    os.path.dirname(os.path.dirname(os.path.abspath(__file__))),
    "mysql_public_data_ingestor_spark",
    "operators",
)
PKG = "mysql_public_data_ingestor_spark.operators."


def _is_graph_module(module: str) -> bool:
    return module.split(".")[-1].startswith("graph")


def test_graph_queries_live_in_graph_modules():
    home = {n: _is_graph_module(s.fn.__module__) for n, s in all_queries().items()}
    outside = sorted(n for n, g in home.items() if n.startswith("graph_") and not g)
    assert not outside, f"graph queries outside operators/graph*.py: {outside}"
    foreign = sorted(n for n, g in home.items() if g and not n.startswith("graph_"))
    assert not foreign, f"non-graph queries in operators/graph*.py: {foreign}"
    assert sum(n.startswith("graph_") for n in home) == 41


def _imported_modules(tree: ast.AST) -> set[str]:
    """Operator-module names a module imports (relative or absolute)."""
    out = set()
    for node in ast.walk(tree):
        if isinstance(node, ast.ImportFrom):
            mod = node.module or ""
            if node.level == 1 and mod:  # ``from .graph import x``
                out.add(mod)
            elif node.level == 1:  # ``from . import graph_paths``
                out.update(a.name for a in node.names)
            elif mod.startswith(PKG):
                out.add(mod[len(PKG):])
            elif mod == PKG.rstrip("."):
                out.update(a.name for a in node.names)
        elif isinstance(node, ast.Import):
            out.update(a.name[len(PKG):] for a in node.names if a.name.startswith(PKG))
    return {m.split(".")[0] for m in out}


def test_no_other_operator_module_imports_the_graph():
    offenders = {}
    for fname in sorted(os.listdir(OPS_DIR)):
        if not fname.endswith(".py") or fname.startswith("graph"):
            continue
        with open(os.path.join(OPS_DIR, fname)) as f:
            tree = ast.parse(f.read())
        hits = sorted(m for m in _imported_modules(tree) if m.startswith("graph"))
        if hits:
            offenders[fname] = hits
    assert not offenders, f"operator modules importing a graph module: {offenders}"


def test_adjacency_is_built_in_one_place():
    """The reversed-edge projection of the symmetric adjacency list is
    written once, in ``graph.adjacency``."""
    needle = 'F.col("v").alias("u"), F.col("u").alias("v")'
    hits = []
    for fname in sorted(os.listdir(OPS_DIR)):
        if fname.endswith(".py"):
            with open(os.path.join(OPS_DIR, fname)) as f:
                hits += [fname] * f.read().count(needle)
    assert hits == ["graph.py"], hits


# A path 0-1-2-3 whose end closes the triangle 3-4-5, plus the isolated
# edge 6-7: 8 nodes, undirected, u < v.
EDGES = [(0, 1), (1, 2), (2, 3), (3, 4), (3, 5), (4, 5), (6, 7)]


def _py_distances(src: int) -> dict[int, int]:
    nbrs: dict[int, set[int]] = {}
    for u, v in EDGES:
        nbrs.setdefault(u, set()).add(v)
        nbrs.setdefault(v, set()).add(u)
    dist = {src: 0}
    todo = deque([src])
    while todo:
        n = todo.popleft()
        for m in nbrs[n]:
            if m not in dist:
                dist[m] = dist[n] + 1
                todo.append(m)
    return dist


@pytest.fixture(scope="module")
def adj(spark):
    edges = spark.createDataFrame(EDGES, "u long, v long")
    return adjacency(edges)


@pytest.mark.parametrize("seeds,hops", [([0], 4), ([0, 6], 3), ([4], 2), ([2, 7], 5)])
def test_frontier_bfs_matches_python_bfs(spark, adj, seeds, hops):
    dist: dict[int, int] = {}
    for s in seeds:
        for n, d in _py_distances(s).items():
            dist[n] = min(d, dist.get(n, d))
    want = [
        (
            sum(1 for d in dist.values() if d == k),
            sum(1 for d in dist.values() if d <= k),
        )
        for k in range(hops + 1)
    ]
    seed_df = spark.createDataFrame([(s,) for s in seeds], "node long")
    steps = frontier_bfs(adj, seed_df, hops)
    assert len(steps) == hops + 1
    got = [(frontier.count(), visited.count()) for frontier, visited in steps]
    assert got == want
    reached = {r.node for r in steps[-1][1].collect()}
    assert reached == {n for n, d in dist.items() if d <= hops}


@pytest.mark.parametrize("seeds,depth", [([0, 4, 6], 4), ([1, 5], 3), ([7], 2)])
def test_seed_layers_are_exact_distance_sets(spark, adj, seeds, depth):
    seed_df = spark.createDataFrame([(s,) for s in seeds], "seed long")
    layers = seed_layers(adj, seed_df, depth)
    assert len(layers) == depth
    for d, layer in enumerate(layers, start=1):
        got = {(r.seed, r.node) for r in layer.collect()}
        want = {(s, n) for s in seeds for n, dn in _py_distances(s).items() if dn == d}
        assert got == want, f"layer {d}"
