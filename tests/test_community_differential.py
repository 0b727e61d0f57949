"""Differential check of the community and centrality loops against plain
Python on one seeded random graph with self-loops, parallel edges and
isolated nodes. 150 nodes with 100 of them sending edges: MS-BFS runs
every node as a source, so its masks span three 64-bit batches."""

from __future__ import annotations

import random
from collections import deque

import pytest

from neo4j_graph_data_science_spark import from_edge_list
from neo4j_graph_data_science_spark.operators.centrality import (
    closeness_centrality,
)
from neo4j_graph_data_science_spark.operators.community import (
    k1_coloring, k_core,
)
from neo4j_graph_data_science_spark.operators.msbfs import all_shortest_paths

N = 150


def _edges() -> list[tuple[int, int]]:
    """Directed edges over nodes 0..139 (140..149 stay isolated), sources
    0..99, plus self-loops and repeated edges."""
    rng = random.Random(20)
    edges = [(rng.randrange(100), rng.randrange(140)) for _ in range(260)]
    edges += [(v, v) for v in rng.sample(range(140), 6)]
    edges += rng.sample(edges, 20)
    return edges


EDGES = _edges()


def _neighbors() -> dict[int, set[int]]:
    """The undirected simple view: no self-loops, no parallel edges."""
    nb: dict[int, set[int]] = {v: set() for v in range(N)}
    for a, b in EDGES:
        if a != b:
            nb[a].add(b)
            nb[b].add(a)
    return nb


def _py_cores() -> dict[int, int]:
    nb = _neighbors()
    deg = {v: len(u) for v, u in nb.items()}
    left, core, k = set(nb), {}, 0
    while left:
        v = min(left, key=lambda x: (deg[x], x))
        k = max(k, deg[v])
        core[v] = k
        left.remove(v)
        for u in nb[v] & left:
            deg[u] -= 1
    return core


def _py_coloring(max_rounds: int = 100) -> dict[int, int]:
    """Synchronous rounds: a node with a lower-id neighbor of its color
    moves to the smallest color none of its neighbors has."""
    nb = _neighbors()
    color = {v: 0 for v in nb}
    for _ in range(max_rounds):
        moving = [v for v in nb if any(u < v and color[u] == color[v]
                                       for u in nb[v])]
        if not moving:
            break
        new = {}
        for v in moving:
            taken = {color[u] for u in nb[v]}
            new[v] = next(c for c in range(len(taken) + 1) if c not in taken)
        color.update(new)
    return color


def _py_hops() -> dict[tuple[int, int], int]:
    out: dict[int, set[int]] = {v: set() for v in range(N)}
    for a, b in EDGES:
        out[a].add(b)
    hops = {}
    for s in range(N):
        seen = {s: 0}
        dq = deque([s])
        while dq:
            u = dq.popleft()
            for v in out[u]:
                if v not in seen:
                    seen[v] = seen[u] + 1
                    dq.append(v)
        hops.update({(s, t): d for t, d in seen.items()})
    return hops


@pytest.fixture(scope="module")
def graph(spark):
    return from_edge_list(spark, EDGES, n_nodes=N)


def test_graph_is_hostile():
    srcs = {a for a, _ in EDGES}
    assert len(srcs) >= 70
    assert any(a == b for a, b in EDGES)
    assert len(set(EDGES)) < len(EDGES)
    assert set(range(N)) - srcs - {b for _, b in EDGES}


def test_k_core_matches_peeling(graph):
    got = {r["id"]: r["core"] for r in k_core(graph).collect()}
    assert got == _py_cores()


def test_k1_coloring_matches_synchronous_replay(graph):
    got = {r["id"]: r["color"] for r in k1_coloring(graph).collect()}
    assert got == _py_coloring()
    nb = _neighbors()
    assert all(got[a] != got[b] for a in nb for b in nb[a])


def test_all_shortest_paths_matches_bfs(graph):
    got = {(r["source"], r["target"]): r["dist"]
           for r in all_shortest_paths(graph).collect()}
    assert got == _py_hops()


def test_closeness_matches_bfs(graph):
    reach: dict[int, list[int]] = {v: [] for v in range(N)}
    for (s, t), d in _py_hops().items():
        if s != t:
            reach[t].append(d)
    want = {v: (len(ds) / sum(ds) if ds else 0.0) for v, ds in reach.items()}
    got = {r["id"]: r["centrality"]
           for r in closeness_centrality(graph).collect()}
    assert got.keys() == want.keys()
    assert all(abs(got[v] - want[v]) <= 1e-9 for v in want)
