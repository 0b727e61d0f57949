"""Parity pins for the subcritical driver-side kernels
(plans/local_kernel.py): the local numpy loop must reproduce the
distributed Pregel loop's results — same init semantics, same tie-breaks,
same iteration accounting — because operators silently dispatch on edge
and node count. Forcing: small_graph_edges=huge forces the local path,
small_graph_edges=0 forces the distributed path, on the SAME graph."""

from __future__ import annotations

import pytest
from pyspark.sql import functions as F

from neo4j_graph_data_science_spark import from_edge_list
from neo4j_graph_data_science_spark.operators.labelprop import (
    LabelPropagationConfig, label_propagation,
)
from neo4j_graph_data_science_spark.operators.pagerank import (
    PageRankConfig, page_rank,
)
from neo4j_graph_data_science_spark.operators.wcc import WccConfig, wcc

FORCE_LOCAL = 10**9
FORCE_DIST = 0

EDGES = [
    (0, 1), (1, 2), (2, 0), (0, 2), (2, 3), (3, 4), (4, 3),
    (5, 6), (6, 5), (1, 3), (4, 0), (7, 7),
]
WEIGHTED = [(a, b, float(1 + (a * 7 + b * 13) % 5)) for a, b in EDGES]


def _ranks(res):
    return {r["id"]: r["score"] for r in res.state.collect()}


@pytest.mark.parametrize("kwargs", [
    {},
    {"weighted": True},
    {"source_nodes": [0, 5]},
    {"tolerance": 1e-3},
    {"scaler": "minmax"},
])
def test_pagerank_local_matches_distributed(spark, kwargs):
    g = from_edge_list(spark, WEIGHTED, n_nodes=9)
    loc = page_rank(g, PageRankConfig(small_graph_edges=FORCE_LOCAL, **kwargs))
    dist = page_rank(g, PageRankConfig(small_graph_edges=FORCE_DIST, **kwargs))
    rl, rd = _ranks(loc), _ranks(dist)
    assert rl.keys() == rd.keys()
    for k in rl:
        assert rl[k] == pytest.approx(rd[k], abs=1e-9)
    assert loc.iterations == dist.iterations
    assert loc.converged == dist.converged
    assert loc.metrics and loc.metrics[0].get("kernel") == "local-task"
    assert not (dist.metrics and dist.metrics[0].get("kernel") == "local-task")


def test_pagerank_local_convergence_accounting(spark):
    # star graph converges fast; iteration counts must match the
    # distributed per-superstep check (GDS accounting incl. initial send)
    g = from_edge_list(spark, [(i, 0) for i in range(1, 6)], n_nodes=6)
    loc = page_rank(g, PageRankConfig(max_iterations=50, tolerance=1e-7,
                                      small_graph_edges=FORCE_LOCAL))
    dist = page_rank(g, PageRankConfig(max_iterations=50, tolerance=1e-7,
                                       small_graph_edges=FORCE_DIST))
    assert loc.converged and dist.converged
    assert loc.iterations == dist.iterations
    for k, v in _ranks(loc).items():
        assert v == pytest.approx(_ranks(dist)[k], abs=1e-12)


@pytest.mark.parametrize("kwargs", [
    {},
    {"consecutive_ids": True},
    {"threshold": 2.0},
])
def test_wcc_local_matches_distributed(spark, kwargs):
    g = from_edge_list(spark, WEIGHTED, n_nodes=10)  # node 9 isolated
    loc = wcc(g, WccConfig(small_graph_edges=FORCE_LOCAL, **kwargs))
    dist = wcc(g, WccConfig(small_graph_edges=FORCE_DIST, **kwargs))
    cl = {r["id"]: r["component"] for r in loc.state.collect()}
    cd = {r["id"]: r["component"] for r in dist.state.collect()}
    assert cl == cd


def test_wcc_local_seeded(spark):
    g = from_edge_list(spark, [(0, 1), (2, 3)], n_nodes=5)
    nodes = g.nodes.withColumn("seed", F.col("id") + 100)
    from neo4j_graph_data_science_spark.catalog import SparkGraph

    gs = SparkGraph(nodes=nodes, edges=g.edges)
    loc = wcc(gs, WccConfig(seed_property="seed",
                            small_graph_edges=FORCE_LOCAL))
    dist = wcc(gs, WccConfig(seed_property="seed",
                             small_graph_edges=FORCE_DIST))
    cl = {r["id"]: r["component"] for r in loc.state.collect()}
    cd = {r["id"]: r["component"] for r in dist.state.collect()}
    assert cl == cd
    assert cl[0] == cl[1] == 100 and cl[2] == cl[3] == 102 and cl[4] == 104


def test_lpa_local_matches_distributed(spark):
    g = from_edge_list(spark, EDGES, n_nodes=8)
    loc = label_propagation(
        g, LabelPropagationConfig(max_iterations=7,
                                  small_graph_edges=FORCE_LOCAL))
    dist = label_propagation(
        g, LabelPropagationConfig(max_iterations=7,
                                  small_graph_edges=FORCE_DIST))
    ll = {r["id"]: r["label"] for r in loc.state.collect()}
    ld = {r["id"]: r["label"] for r in dist.state.collect()}
    assert ll == ld
    assert loc.iterations == dist.iterations
    assert loc.converged == dist.converged


def test_lpa_local_directed_and_seeded(spark):
    g = from_edge_list(spark, [(0, 1), (1, 2), (3, 2)], n_nodes=4)
    from neo4j_graph_data_science_spark.catalog import SparkGraph

    nodes = g.nodes.withColumn("seed", F.lit(7) + F.col("id") % 2)
    gs = SparkGraph(nodes=nodes, edges=g.edges)
    for kwargs in ({"undirected": False}, {"seed_property": "seed"}):
        loc = label_propagation(
            gs, LabelPropagationConfig(max_iterations=5,
                                       small_graph_edges=FORCE_LOCAL,
                                       **kwargs))
        dist = label_propagation(
            gs, LabelPropagationConfig(max_iterations=5,
                                       small_graph_edges=FORCE_DIST,
                                       **kwargs))
        ll = {r["id"]: r["label"] for r in loc.state.collect()}
        ld = {r["id"]: r["label"] for r in dist.state.collect()}
        assert ll == ld, kwargs


def test_hits_local_matches_distributed(spark):
    from neo4j_graph_data_science_spark.operators.centrality import (
        HitsConfig, hits,
    )

    # parallel edge (0,1) twice: multigraph sums must be preserved
    g = from_edge_list(spark, EDGES + [(0, 1)], n_nodes=8)
    loc = hits(g, HitsConfig(hits_iterations=6,
                             small_graph_edges=FORCE_LOCAL))
    dist = hits(g, HitsConfig(hits_iterations=6,
                              small_graph_edges=FORCE_DIST))
    dl = {r["id"]: (r["auth"], r["hub"]) for r in loc.collect()}
    dd = {r["id"]: (r["auth"], r["hub"]) for r in dist.collect()}
    assert dl.keys() == dd.keys()
    for k in dl:
        assert dl[k][0] == pytest.approx(dd[k][0], abs=1e-9)
        assert dl[k][1] == pytest.approx(dd[k][1], abs=1e-9)


PATH_EDGES = [
    (0, 1, 1.0), (0, 2, 1.0), (1, 3, 1.0), (2, 3, 1.0),  # two 0->3 ties
    (3, 4, 1.0), (4, 5, 2.5), (0, 8, 7.0), (8, 5, 0.5),
    (6, 7, 1.0),                                          # unreachable pair
]


def _path_rows(df):
    return sorted(
        (r["target"], r["total_cost"], tuple(r["node_ids"]),
         tuple(r["costs"]) if "costs" in df.columns else ())
        for r in df.collect())


def test_dijkstra_paths_local_matches_distributed(spark):
    from neo4j_graph_data_science_spark.operators.paths import (
        PathConfig, dijkstra,
    )

    g = from_edge_list(spark, PATH_EDGES, n_nodes=9)
    loc = dijkstra(g, 0, config=PathConfig(small_graph_edges=FORCE_LOCAL))
    dist = dijkstra(g, 0, config=PathConfig(small_graph_edges=FORCE_DIST))
    assert _path_rows(loc) == _path_rows(dist)
    # single target (exercises the pruned distributed path too)
    lt = dijkstra(g, 0, target=5,
                  config=PathConfig(small_graph_edges=FORCE_LOCAL))
    dt = dijkstra(g, 0, target=5,
                  config=PathConfig(small_graph_edges=FORCE_DIST))
    assert _path_rows(lt) == _path_rows(dt)
    assert _path_rows(lt)[0][2] == (0, 1, 3, 4, 5)
    # unreachable target
    assert dijkstra(g, 0, target=7,
                    config=PathConfig(small_graph_edges=FORCE_LOCAL)) \
        .collect() == []


def test_bfs_and_sssp_local_match_distributed(spark):
    from neo4j_graph_data_science_spark.operators.paths import (
        PathConfig, bfs, shortest_paths,
    )

    g = from_edge_list(spark, PATH_EDGES, n_nodes=9)
    for fn in (bfs, shortest_paths):
        loc = fn(g, [0, 6], PathConfig(small_graph_edges=FORCE_LOCAL))
        dist = fn(g, [0, 6], PathConfig(small_graph_edges=FORCE_DIST))
        dl = {r["id"]: r["dist"] for r in loc.collect()}
        dd = {r["id"]: r["dist"] for r in dist.collect()}
        assert dl == dd, fn.__name__
    # DataFrame-typed source set (the Steiner call shape)
    src_df = spark.createDataFrame([(0,), (6,)], "id long")
    loc = shortest_paths(g, src_df, PathConfig(small_graph_edges=FORCE_LOCAL))
    dd = {r["id"]: r["dist"] for r in shortest_paths(
        g, src_df, PathConfig(small_graph_edges=FORCE_DIST)).collect()}
    assert {r["id"]: r["dist"] for r in loc.collect()} == dd


def test_astar_local_matches_distributed(spark):
    from pyspark.sql import functions as SF

    from neo4j_graph_data_science_spark.operators.paths import (
        PathConfig, astar,
    )

    g = from_edge_list(spark, PATH_EDGES, n_nodes=9)
    h = g.nodes.select("id", SF.lit(0.0).alias("h"))
    loc = astar(g, 0, 5, h, PathConfig(small_graph_edges=FORCE_LOCAL))
    dist = astar(g, 0, 5, h, PathConfig(small_graph_edges=FORCE_DIST))
    lr, dr = loc.collect(), dist.collect()
    assert len(lr) == len(dr) == 1
    assert lr[0]["total_cost"] == dr[0]["total_cost"]
    assert list(lr[0]["node_ids"]) == list(dr[0]["node_ids"])


# hostile little weighted graphs for the path family: (edges, nodes,
# target), every search from node 0
PATH_GRAPHS = {
    # a zero-weight edge on the shortest 0 -> 3 path: the pruned search and
    # the batched Yen's need positive weights, so they fall back
    "zero-weight": ([(0, 1, 0.0), (1, 2, 1.0), (0, 2, 2.0), (2, 3, 1.0),
                     (1, 3, 3.0)], 4, 3),
    # parallel edges: the lightest of each pair is the edge
    "parallel": ([(0, 1, 5.0), (0, 1, 2.0), (1, 2, 1.0), (1, 2, 4.0),
                  (0, 2, 4.0), (2, 3, 1.0), (2, 3, 0.5)], 4, 3),
    # self-loops never shorten a path
    "self-loop": ([(0, 0, 1.0), (0, 1, 1.0), (1, 1, 0.5), (1, 2, 2.0),
                   (0, 2, 4.0), (2, 3, 1.0), (3, 3, 2.0)], 4, 3),
    # the target sits in a component the source cannot reach
    "unreachable": ([(0, 1, 1.0), (1, 2, 1.0), (0, 2, 3.0), (3, 4, 1.0)],
                    5, 4),
    # three two-hop chains out of the source, merging at node 7
    "dag-chains": ([(0, 1, 1.0), (1, 2, 2.0), (0, 3, 2.0), (3, 4, 1.0),
                    (0, 5, 1.5), (5, 6, 1.5), (2, 7, 1.0), (4, 7, 1.0),
                    (6, 7, 1.0)], 8, 7),
}


def _dists(df):
    return {r["id"]: r["dist"] for r in df.collect()
            if r["dist"] != float("inf")}


@pytest.mark.parametrize("name", sorted(PATH_GRAPHS))
def test_path_family_engines_agree(spark, name):
    """Every path operator with a driver kernel returns the same rows on
    both engines, and the distributed-only SSSP variants (delta-stepping,
    Bellman-Ford) equal the driver's SSSP on these non-negative weights."""
    from neo4j_graph_data_science_spark.operators.paths import (
        PathConfig, astar, bellman_ford, bfs, delta_stepping, dijkstra,
        shortest_paths, yens,
    )

    edges, n_nodes, t = PATH_GRAPHS[name]
    g = from_edge_list(spark, edges, n_nodes=n_nodes)
    loc = PathConfig(small_graph_edges=FORCE_LOCAL)
    dst = PathConfig(small_graph_edges=FORCE_DIST)
    assert _path_rows(dijkstra(g, 0, config=loc)) \
        == _path_rows(dijkstra(g, 0, config=dst))
    assert _path_rows(dijkstra(g, 0, target=t, config=loc)) \
        == _path_rows(dijkstra(g, 0, target=t, config=dst))
    h = g.nodes.select("id", F.lit(0.0).alias("h"))
    assert _path_rows(astar(g, 0, t, h, loc)) \
        == _path_rows(astar(g, 0, t, h, dst))
    for fn in (bfs, shortest_paths):
        assert _dists(fn(g, [0], loc)) == _dists(fn(g, [0], dst)), \
            fn.__name__
    sssp = _dists(shortest_paths(g, [0], loc))
    assert _dists(delta_stepping(g, 0, 2.0, dst)) == sssp
    bf = bellman_ford(g, 0, dst)
    assert _dists(bf) == sssp
    assert not any(r["in_negative_cycle"] for r in bf.collect())

    def k_paths(cfg):
        return [(r["total_cost"], list(r["node_ids"]))
                for r in yens(g, 0, t, 3, cfg).collect()]

    assert k_paths(loc) == k_paths(dst)


# two cycles bridged one-way, a chain, a self-loop, an isolate
SCC_MIXED = [
    (0, 1), (1, 2), (2, 0),          # SCC {0,1,2}
    (2, 3), (3, 4), (4, 3),          # SCC {3,4}
    (5, 6),                          # singletons
    (7, 7),                          # self-loop singleton
]
# 0<->1 -> 2<->3 -> 4<->5: nothing trims, and each outer round peels only
# the pair holding the minimum remaining id, so it takes three rounds
SCC_PAIR_CHAIN = [(0, 1), (1, 0), (1, 2), (2, 3), (3, 2), (3, 4), (4, 5),
                  (5, 4)]


def _random_edges(n, m, seed):
    import random

    rng = random.Random(seed)
    return [(rng.randrange(n), rng.randrange(n)) for _ in range(m)]


PAIRS = {0: 0, 1: 0, 2: 2, 3: 2, 4: 4, 5: 4}


@pytest.mark.parametrize("edges,n_nodes,want", [
    (SCC_MIXED, 9, {0: 0, 1: 0, 2: 0, 3: 3, 4: 3, 5: 5, 6: 6, 7: 7, 8: 8}),
    (SCC_PAIR_CHAIN, 6, PAIRS),
    ([(5 - a, 5 - b) for a, b in SCC_PAIR_CHAIN], 6, PAIRS),  # ids reversed
    ([(i, (i + 1) % 12) for i in range(12)], 12, dict.fromkeys(range(12), 0)),
    ([(6 * k + j, 6 * k + j + 1) for k in range(200) for j in range(5)],
     1200, {i: i for i in range(1200)}),                 # DAG of 6-chains
    (_random_edges(60, 120, seed=7), 60, None),
], ids=["mixed", "pair-chain", "pair-chain-reversed", "cycle12",
        "dag-chains", "random60"])
def test_scc_local_matches_distributed(spark, edges, n_nodes, want):
    from neo4j_graph_data_science_spark.operators.scc import SccConfig, scc

    g = from_edge_list(spark, edges, n_nodes=n_nodes)
    loc = scc(g, SccConfig(small_graph_edges=FORCE_LOCAL))
    dist = scc(g, SccConfig(small_graph_edges=FORCE_DIST))
    cl = {r["id"]: r["component"] for r in loc.collect()}
    cd = {r["id"]: r["component"] for r in dist.collect()}
    assert len(cd) == n_nodes
    assert cl == cd
    if want is not None:
        assert cd == want


# self-loops (3,3) and (6,6), a parallel (0,1) and reciprocal (1,0)/(2,1)
# pairs, two triangles sharing edge 1-2, a 4-cycle with one chord, nodes
# 9..11 isolated; degree 3: nodes 0, 1, 2, 4, 6
TRI_EDGES = [
    (0, 1), (0, 1), (1, 0), (1, 2), (2, 1), (2, 0), (3, 3), (1, 3), (3, 2),
    (4, 5), (5, 6), (6, 7), (7, 4), (4, 6), (6, 6), (8, 0),
]
# K4 on 0..3 plus node 4 joined to all of them and to pendant 5
K4_HUB = [(a, b) for a in range(4) for b in range(a + 1, 5)] + [(4, 5)]


def _triangles(g, limit, **kwargs):
    from neo4j_graph_data_science_spark.operators.triangle import (
        TriangleCountConfig, triangle_count,
    )

    cfg = TriangleCountConfig(small_graph_edges=limit, **kwargs)
    return {r["id"]: r["triangles"] for r in triangle_count(g, cfg).collect()}


@pytest.mark.parametrize("edges,kwargs", [
    (TRI_EDGES, {}),
    (TRI_EDGES, {"max_degree": 2}),     # the degree-3 nodes get -1
    (TRI_EDGES, {"max_degree": 0}),     # every non-isolated node excluded
    ([], {}),                           # empty edge set, isolated nodes only
])
def test_triangles_local_matches_distributed(spark, edges, kwargs):
    g = from_edge_list(spark, edges, n_nodes=12)
    loc = _triangles(g, FORCE_LOCAL, **kwargs)
    assert loc == _triangles(g, FORCE_DIST, **kwargs)
    assert len(loc) == 12 and loc[9] == loc[10] == loc[11] == 0


def test_triangles_local_max_degree_exclusion(spark):
    # node 4 (degree 5) is excluded, so only the K4's own triangles count
    g = from_edge_list(spark, K4_HUB, n_nodes=6)
    loc = _triangles(g, FORCE_LOCAL, max_degree=4)
    assert loc == _triangles(g, FORCE_DIST, max_degree=4)
    assert loc == {0: 3, 1: 3, 2: 3, 3: 3, 4: -1, 5: 0}


def test_triangles_local_hub_spans_wedge_chunks(spark, monkeypatch):
    from neo4j_graph_data_science_spark.plans import local_kernel

    # K8 on 0..7: equal degrees, so node 0 is the apex of all 21 of its
    # wedges, and its first edge alone has 6 -- more than one chunk. Hub
    # 10 joined to the ring 11..22 (plus chords) closes 15 triangles.
    k8 = [(a, b) for a in range(8) for b in range(a + 1, 8)]
    ring = [(11 + i, 11 + (i + 1) % 12) for i in range(12)]
    chords = [(11, 14), (12, 17), (15, 19)]
    hub = [(10, i) for i in range(11, 23)]
    g = from_edge_list(spark, k8 + ring + chords + hub, n_nodes=24)
    monkeypatch.setattr(local_kernel, "WEDGE_CHUNK", 5)
    loc = _triangles(g, FORCE_LOCAL)
    assert loc == _triangles(g, FORCE_DIST)
    assert [loc[i] for i in range(8)] == [21] * 8
    assert loc[10] == 15 and loc[8] == loc[9] == loc[23] == 0


def test_triangles_wedge_cap_falls_back_to_joins(spark, monkeypatch):
    from neo4j_graph_data_science_spark.plans import local_kernel

    # K8 has 56 degree-oriented wedges: over a cap of 55 the driver kernel
    # declines and the distributed joins give the same counts
    k8 = [(a, b) for a in range(8) for b in range(a + 1, 8)]
    g = from_edge_list(spark, k8, n_nodes=9)
    canon = g.edges.select("src", "dst")
    nodes = g.nodes.select("id")
    monkeypatch.setattr(local_kernel, "LOCAL_TRIANGLES_MAX_WEDGES", 56)
    assert local_kernel.local_triangles(canon, nodes, None) is not None
    monkeypatch.setattr(local_kernel, "LOCAL_TRIANGLES_MAX_WEDGES", 55)
    assert local_kernel.local_triangles(canon, nodes, None) is None
    loc = _triangles(g, FORCE_LOCAL)
    assert loc == _triangles(g, FORCE_DIST)
    assert loc == {**{i: 21 for i in range(8)}, 8: 0}


def test_triangle_aggregates_match_across_engines(spark):
    from neo4j_graph_data_science_spark.operators.triangle import (
        TriangleCountConfig, global_triangle_count,
        local_clustering_coefficient,
    )

    g = from_edge_list(spark, TRI_EDGES, n_nodes=12)
    for kwargs in ({}, {"max_degree": 2}):
        loc = TriangleCountConfig(small_graph_edges=FORCE_LOCAL, **kwargs)
        dist = TriangleCountConfig(small_graph_edges=FORCE_DIST, **kwargs)
        assert global_triangle_count(g, loc) == global_triangle_count(g, dist)
        ll = {r["id"]: r["lcc"] for r in
              local_clustering_coefficient(g, loc).collect()}
        ld = {r["id"]: r["lcc"] for r in
              local_clustering_coefficient(g, dist).collect()}
        assert ll.keys() == ld.keys()
        for k in ll:   # excluded nodes are NaN on both engines
            assert ll[k] == ld[k] or (ll[k] != ll[k] and ld[k] != ld[k]), k
    assert global_triangle_count(
        g, TriangleCountConfig(small_graph_edges=FORCE_LOCAL)) == 4


def test_dispatch_bounds_node_rows(spark):
    from neo4j_graph_data_science_spark.plans.local_kernel import (
        should_run_local,
    )

    # 3 edges but 150 mostly isolated nodes: the driver kernel would read
    # 150 state rows, so a 100-row limit keeps the distributed engine
    g = from_edge_list(spark, [(0, 1), (1, 2), (2, 0)], n_nodes=150)
    assert should_run_local(g.edges, g.nodes, 100, None) == (False, 3)
    assert should_run_local(g.edges, g.nodes, 150, None) == (True, 3)
    assert should_run_local(g.edges, g.nodes, 0, None) == (False, 3)
    assert should_run_local(g.edges, g.nodes, 150, "ckpt") == (False, 3)
    empty = from_edge_list(spark, [], n_nodes=5)
    assert should_run_local(empty.edges, empty.nodes, 5, None) == (True, 0)

    def kernel(limit):
        res = page_rank(g, PageRankConfig(small_graph_edges=limit))
        return res.metrics[0].get("kernel")

    assert kernel(150) == "local-task"
    assert kernel(100) is None
