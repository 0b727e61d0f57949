"""DAG longest path + DFS preorder."""

from __future__ import annotations

from neo4j_graph_data_science_spark.catalog import from_edge_list
from neo4j_graph_data_science_spark.operators.paths import dag_longest_path, dfs


def test_dag_longest_path_unweighted(spark):
    # 0->1->2->3, shortcut 0->2, side 0->4
    g = from_edge_list(spark, [(0, 1), (1, 2), (2, 3), (0, 2), (0, 4)],
                       n_nodes=5)
    rows = {r["target"]: r for r in dag_longest_path(g).collect()}
    assert rows[3]["total_cost"] == 3.0
    assert list(rows[3]["node_ids"]) == [0, 1, 2, 3]
    assert rows[2]["total_cost"] == 2.0
    assert rows[4]["total_cost"] == 1.0
    assert rows[0]["total_cost"] == 0.0 and list(rows[0]["node_ids"]) == [0]


def test_dag_longest_path_weighted(spark):
    g = from_edge_list(spark, [(0, 1, 1.0), (1, 3, 1.0), (0, 2, 5.0),
                               (2, 3, 1.0)], n_nodes=4)
    rows = {r["target"]: r for r in dag_longest_path(g, weighted=True).collect()}
    assert rows[3]["total_cost"] == 6.0
    assert list(rows[3]["node_ids"]) == [0, 2, 3]


def test_dag_longest_path_matches_python_dp(spark):
    """A seeded random DAG (every edge climbs in id, so ids are a
    topological order) against a plain Python DP with the same min-id
    tie-break among optimal predecessors."""
    import random

    rng = random.Random(11)
    n = 30
    pairs = sorted({(u, v) for u, v in ((rng.randrange(n), rng.randrange(n))
                                        for _ in range(70)) if u < v})
    edges = [(u, v, float(rng.randint(1, 5))) for u, v in pairs]
    dist = [0.0] * n
    for u, v, w in edges:     # sorted by u: dist[u] is final when read
        dist[v] = max(dist[v], dist[u] + w)
    pred = {}
    for u, v, w in edges:
        if dist[u] + w == dist[v]:
            pred[v] = min(pred.get(v, u), u)

    def path(v):
        p = [v]
        while p[0] in pred:
            p.insert(0, pred[p[0]])
        return p

    g = from_edge_list(spark, edges, n_nodes=n)
    got = {r["target"]: (r["total_cost"], list(r["node_ids"]))
           for r in dag_longest_path(g, weighted=True).collect()}
    assert got == {v: (dist[v], path(v)) for v in range(n)}


def test_dfs_preorder(spark):
    # binary tree 0 -> (1,2), 1 -> (3,4): preorder with ascending-neighbor
    # order = 0,1,3,4,2
    g = from_edge_list(spark, [(0, 1), (0, 2), (1, 3), (1, 4)], n_nodes=5)
    order = {r["id"]: r["visit_order"] for r in dfs(g, 0).collect()}
    assert order == {0: 0, 1: 1, 3: 2, 4: 3, 2: 4}


def test_dfs_max_depth(spark):
    g = from_edge_list(spark, [(0, 1), (1, 2), (2, 3)], n_nodes=4)
    got = {r["id"] for r in dfs(g, 0, max_depth=1).collect()}
    assert got == {0, 1}
