"""Spark job budget per operator call.

Timings on a small graph are noisy; the number of Spark jobs a call runs
is not. Each case runs one operator call plus the collect of its result
under its own job group and counts that group's jobs with the status
tracker (which works with the Spark UI disabled). The ceiling is the
count measured when the case was added, so a fixed-cost regression -- an
extra action, a lost cache, a re-planned loop -- fails here as a count.
A change that raises a ceiling says why.

Engines are pinned: ``small_graph_edges=10**9`` forces the subcritical
driver kernel, ``0`` the distributed path, on the same graph.
"""

from __future__ import annotations

import pytest
from pyspark.sql import functions as F

from neo4j_graph_data_science_spark import from_edge_list
from neo4j_graph_data_science_spark.operators.centrality import (
    HitsConfig, closeness_centrality, hits,
)
from neo4j_graph_data_science_spark.operators.community import (
    k1_coloring, k_core,
)
from neo4j_graph_data_science_spark.operators.labelprop import (
    LabelPropagationConfig, label_propagation,
)
from neo4j_graph_data_science_spark.operators.leiden import (
    LeidenConfig, leiden, modularity_optimization,
)
from neo4j_graph_data_science_spark.operators.louvain import (
    LouvainConfig, louvain,
)
from neo4j_graph_data_science_spark.operators.msbfs import all_shortest_paths
from neo4j_graph_data_science_spark.operators.pagerank import (
    PageRankConfig, page_rank,
)
from neo4j_graph_data_science_spark.operators.paths import (
    PathConfig, astar, bellman_ford, dag_longest_path, delta_stepping,
    dijkstra, yens,
)
from neo4j_graph_data_science_spark.operators.scc import SccConfig, scc
from neo4j_graph_data_science_spark.operators.triangle import (
    TriangleCountConfig, triangle_count,
)
from neo4j_graph_data_science_spark.operators.wcc import WccConfig, wcc

LOCAL, DIST = 10**9, 0

# two triangles sharing an edge, a 4-cycle with a chord, a 3-cycle, a tail
# and a self-loop: every operator has work on both engines
EDGES = [
    (0, 1), (1, 2), (2, 0), (1, 3), (3, 2), (4, 5), (5, 6), (6, 7), (7, 4),
    (4, 6), (8, 9), (9, 10), (10, 8), (10, 11), (3, 4), (11, 11),
]

CALLS = {
    "pagerank": lambda g, lim: page_rank(g, PageRankConfig(
        max_iterations=10, small_graph_edges=lim)).state,
    "wcc": lambda g, lim: wcc(g, WccConfig(small_graph_edges=lim)).state,
    "lpa": lambda g, lim: label_propagation(g, LabelPropagationConfig(
        max_iterations=3, small_graph_edges=lim)).state,
    "scc": lambda g, lim: scc(g, SccConfig(small_graph_edges=lim)),
    "triangles": lambda g, lim: triangle_count(
        g, TriangleCountConfig(small_graph_edges=lim)),
}

# a weighted ladder: rails 0,2,..,10 and 1,3,..,11, rungs 2k -> 2k+1 and
# crossings 2k+1 -> 2k+2. Every edge climbs in id (a DAG for
# dag_longest_path), and 0 -> 11 has tied and near-tied routes for Yen's.
LADDER = [e for k in range(6) for e in
          [(2 * k, 2 * k + 1, 1.0 + (k * 3) % 4)]
          + ([(2 * k, 2 * k + 2, 2.0 + (k * 5) % 3),
              (2 * k + 1, 2 * k + 3, 1.0 + (k * 7) % 3),
              (2 * k + 1, 2 * k + 2, 3.0 + k % 2)] if k < 5 else [])]

_DIST_PATHS = PathConfig(small_graph_edges=DIST)

# the path family on the distributed engine: (graph, id offset) -> result,
# from node 0 (to node 11 where there is a target)
PATH_CALLS = {
    "bellman_ford": lambda g, o: bellman_ford(g, o, _DIST_PATHS),
    "dijkstra_target": lambda g, o: dijkstra(g, o, o + 11, _DIST_PATHS),
    "astar": lambda g, o: astar(
        g, o, o + 11, g.nodes.select("id", F.lit(0.0).alias("h")),
        _DIST_PATHS),
    "dag_longest_path": lambda g, o: dag_longest_path(g, True, _DIST_PATHS),
    "delta_stepping": lambda g, o: delta_stepping(g, o, 2.0, _DIST_PATHS),
    "yens_k3": lambda g, o: yens(g, o, o + 11, 3, _DIST_PATHS),
}

# (operator, engine) -> jobs of one call plus its collect. The distributed
# triangle path counts its edges for the dispatch rule and then reads the
# key-packing id bounds in a second aggregate. The Pregel-loop ceilings
# were lowered (pagerank 44 -> 31, wcc 23 -> 18, lpa 20 -> 17, scc
# 139 -> 116) when every loop boundary became one observed cut with no
# separate stats action, and SCC's post-trim emptiness probe became
# arithmetic on the trim counts. The path family ceilings were set when
# every relaxation loop and pred-chain walk in operators/paths.py moved
# onto run_pregel, whose boundary cut carries the stop test; the hand
# loops before paid an emptiness action and a separate cut per round:
# bellman_ford 55, dijkstra_target 109, astar 135, dag_longest_path 201,
# delta_stepping 96, yens_k3 324 jobs on LADDER.
CEILING = {
    ("pagerank", "local"): 8, ("pagerank", "dist"): 31,
    ("wcc", "local"): 6, ("wcc", "dist"): 18,
    ("lpa", "local"): 5, ("lpa", "dist"): 17,
    ("scc", "local"): 6, ("scc", "dist"): 116,
    ("triangles", "local"): 6, ("triangles", "dist"): 25,
}
PATH_CEILING = {
    "bellman_ford": 26, "dijkstra_target": 52, "astar": 41,
    "dag_longest_path": 52, "delta_stepping": 71, "yens_k3": 169,
}

# the community and centrality loops on run_pregel, on EDGES; HITS pinned
# to the distributed engine
COMMUNITY_CALLS = {
    "k_core": k_core,
    "k1_coloring": k1_coloring,
    "louvain": lambda g: louvain(g, LouvainConfig(
        max_levels=2, max_local_moves=8))[0],
    "leiden": lambda g: leiden(g, LeidenConfig(
        max_levels=2, max_local_moves=8, max_refine_moves=4))[0],
    "modularity_optimization": lambda g: modularity_optimization(
        g, max_rounds=8)[0],
    "closeness": closeness_centrality,
    "all_shortest_paths": all_shortest_paths,
    "hits": lambda g: hits(g, HitsConfig(hits_iterations=5,
                                         small_graph_edges=DIST)),
}

# Set when k-core, K1-coloring, the Louvain/Leiden local-move kernel,
# MS-BFS and HITS moved onto run_pregel, whose boundary cut carries the
# stop test; the hand loops before paid a separate cut per phase and a
# stats or emptiness action per round: k_core 28, k1_coloring 117,
# louvain 193, leiden 222, modularity_optimization 121, closeness 90,
# all_shortest_paths 87, hits 127 jobs on these cases' graphs. Louvain and
# Leiden draw their move parity from the ids, so their counts hold for
# these offsets only.
COMMUNITY_CEILING = {
    "k_core": 19, "k1_coloring": 24, "louvain": 116, "leiden": 107,
    "modularity_optimization": 46, "closeness": 37,
    "all_shortest_paths": 34, "hits": 51,
}


def count_jobs(spark, group: str, fn) -> int:
    """Jobs run by ``fn()`` under the job group ``group``."""
    sc = spark.sparkContext
    sc.setJobGroup(group, group)
    try:
        fn()
    finally:
        sc.setLocalProperty("spark.jobGroup.id", None)
    # job events reach the status store through the async listener bus
    sc._jsc.sc().listenerBus().waitUntilEmpty()
    return len(sc.statusTracker().getJobIdsForGroup(group))


@pytest.mark.parametrize("op,engine", sorted(CEILING),
                         ids=[f"{o}-{e}" for o, e in sorted(CEILING)])
def test_job_budget(spark, op, engine):
    # ids unique to the case: Spark's cache manager would otherwise serve
    # an earlier case's still-cached frames over the same data
    off = 100 * sorted(CEILING).index((op, engine))
    g = from_edge_list(spark, [(a + off, b + off) for a, b in EDGES],
                       node_ids=range(off, off + 13))   # node 12 isolated
    limit = LOCAL if engine == "local" else DIST
    jobs = count_jobs(spark, f"budget-{op}-{engine}",
                      lambda: CALLS[op](g, limit).collect())
    assert 0 < jobs <= CEILING[op, engine], jobs


@pytest.mark.parametrize("op", sorted(PATH_CEILING))
def test_path_job_budget(spark, op):
    off = 1000 + 100 * sorted(PATH_CEILING).index(op)
    g = from_edge_list(spark, [(a + off, b + off, w) for a, b, w in LADDER],
                       node_ids=range(off, off + 12))
    jobs = count_jobs(spark, f"budget-path-{op}",
                      lambda: PATH_CALLS[op](g, off).collect())
    assert 0 < jobs <= PATH_CEILING[op], jobs


@pytest.mark.parametrize("op", sorted(COMMUNITY_CEILING))
def test_community_job_budget(spark, op):
    off = 2000 + 100 * sorted(COMMUNITY_CEILING).index(op)
    g = from_edge_list(spark, [(a + off, b + off) for a, b in EDGES],
                       node_ids=range(off, off + 13))   # node 12 isolated
    jobs = count_jobs(spark, f"budget-community-{op}",
                      lambda: COMMUNITY_CALLS[op](g).collect())
    assert 0 < jobs <= COMMUNITY_CEILING[op], jobs
