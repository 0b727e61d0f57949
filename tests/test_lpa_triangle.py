"""Label propagation + triangle counting vs GDS fixtures.

LPA: /root/reference/algo/src/test/java/org/neo4j/gds/labelpropagation/
LabelPropagationTest.java:68-110. GDS runs batch-async, so raw labels are
concurrency-dependent; we run synchronous BSP and assert (a) hand-computed
sync labels, (b) community partitions on graphs where both agree.
Triangles: /root/reference/algo/src/test/java/org/neo4j/gds/triangle/
IntersectingTriangleCountTest.java:49-109 (K5 = 10 global / 6 per node, etc.)
"""

from __future__ import annotations

from itertools import combinations

import pytest
from pyspark.sql import functions as F

from neo4j_graph_data_science_spark import from_edge_list
from neo4j_graph_data_science_spark.operators.labelprop import (
    LabelPropagationConfig,
    label_propagation,
)
from neo4j_graph_data_science_spark.operators.triangle import (
    TriangleCountConfig,
    global_triangle_count,
    local_clustering_coefficient,
    triangle_count,
    triangle_stream,
)

# Alice=0 Bridget=1 Charles=2 Doug=3 Mark=4 Michael=5 (FOLLOW edges)
LPA_EDGES = [
    (0, 1), (0, 2), (4, 3), (1, 5), (3, 4), (5, 0), (0, 5), (1, 0), (5, 1), (2, 3),
]


def test_lpa_sync_one_iteration_directed(spark):
    """Synchronous semantics, NATURAL orientation: each node takes the
    argmax (tie -> smaller) over out-neighbor labels; node ids are labels."""
    g = from_edge_list(spark, LPA_EDGES, n_nodes=6)
    res = label_propagation(
        g, LabelPropagationConfig(max_iterations=1, undirected=False)
    )
    got = {r["id"]: r["label"] for r in res.state.collect()}
    # hand-computed sync pass: A->{1,2,5}min=1, B->{5,0}min=0, C->{3},
    # D->{4}, M->{3}, Mi->{0,1}min=0
    assert got == {0: 1, 1: 0, 2: 3, 3: 4, 4: 3, 5: 0}


def test_lpa_converges_to_communities(spark):
    """Two disjoint mutual cliques converge to one label each (partition
    assertion, mirroring CommunityHelper.assertCommunities)."""
    tri1 = [(a, b) for a, b in combinations([0, 1, 2], 2)]
    tri2 = [(a, b) for a, b in combinations([3, 4, 5], 2)]
    g = from_edge_list(spark, tri1 + tri2, n_nodes=6)
    res = label_propagation(g, LabelPropagationConfig(max_iterations=10))
    rows = res.state.collect()
    labels = {r["id"]: r["label"] for r in rows}
    assert len({labels[0], labels[1], labels[2]}) == 1
    assert len({labels[3], labels[4], labels[5]}) == 1
    assert labels[0] != labels[3]


def test_lpa_seeded(spark):
    g = from_edge_list(spark, [(0, 1), (1, 0)], n_nodes=2)
    g.nodes = g.nodes.select("id", (F.col("id") * 10 + 7).alias("seed"))
    res = label_propagation(
        g, LabelPropagationConfig(max_iterations=1, seed_property="seed")
    )
    got = {r["id"]: r["label"] for r in res.state.collect()}
    assert got == {0: 17, 1: 7}


K5 = [(a, b) for a, b in combinations(range(5), 2)]


def test_triangles_k5(spark):
    g = from_edge_list(spark, K5, n_nodes=5)
    assert global_triangle_count(g) == 10
    per = {r["id"]: r["triangles"] for r in triangle_count(g).collect()}
    assert per == {i: 6 for i in range(5)}
    lcc = {r["id"]: r["lcc"] for r in local_clustering_coefficient(g).collect()}
    assert lcc == {i: pytest.approx(1.0) for i in range(5)}


@pytest.mark.parametrize("degree_ordered", [True, False])
def test_triangles_orderings_agree(spark, degree_ordered):
    edges = K5 + [(4, 5), (5, 6), (6, 4), (6, 7)]
    g = from_edge_list(spark, edges, n_nodes=8)
    cfg = TriangleCountConfig(degree_ordered=degree_ordered)
    assert global_triangle_count(g, cfg) == 11
    per = {r["id"]: r["triangles"] for r in triangle_count(g, cfg).collect()}
    assert per[7] == 0 and per[5] == 1 and per[0] == 6


def test_triangles_degenerate(spark):
    """Path, single edge, mutual pair: zero triangles
    (IntersectingTriangleCountTest.java:87-109)."""
    for edges, n in ([[(0, 1), (1, 2)], 3], [[(0, 1)], 2], [[(0, 1), (1, 0)], 2]):
        g = from_edge_list(spark, edges, n_nodes=n)
        assert global_triangle_count(g) == 0


def test_triangles_max_degree_exclusion(spark):
    """Nodes above maxDegree get -1 (IntersectingTriangleCount.java:160-167)."""
    g = from_edge_list(spark, K5, n_nodes=5)
    per = {
        r["id"]: r["triangles"]
        for r in triangle_count(g, TriangleCountConfig(max_degree=3)).collect()
    }
    assert per == {i: -1 for i in range(5)}


def test_triangle_stream(spark):
    g = from_edge_list(spark, [(0, 1), (1, 2), (0, 2), (2, 3)], n_nodes=4)
    rows = {(r["node_a"], r["node_b"], r["node_c"]) for r in triangle_stream(g).collect()}
    assert rows == {(0, 1, 2)}


def test_triangles_int32_ids(spark):
    """Packed-key probe must cast to long before shiftleft: IntegerType
    src/dst follow Java int-shift semantics (shift mod 32 == 0), which
    would degenerate the 64-bit key to b + c (ADVICE round 3). Build the
    K5+tail graph with int32 id columns and assert exact parity."""
    from neo4j_graph_data_science_spark.catalog import SparkGraph

    edges = K5 + [(4, 5), (5, 6), (6, 4), (6, 7)]
    g64 = from_edge_list(spark, edges, n_nodes=8)
    g32 = SparkGraph(
        g64.nodes.select(F.col("id").cast("int").alias("id")),
        g64.edges.select(
            F.col("src").cast("int").alias("src"),
            F.col("dst").cast("int").alias("dst"),
            "rel_type", "weight"),
    )
    for limit in (0, None):     # distributed join plan, driver-side kernel
        cfg = TriangleCountConfig(small_graph_edges=limit)
        assert global_triangle_count(g32, cfg) == 11
        per = {r["id"]: r["triangles"]
               for r in triangle_count(g32, cfg).collect()}
        assert per[0] == 6 and per[5] == 1 and per[7] == 0
