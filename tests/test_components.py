"""WCC + SCC vs GDS golden fixtures.

WCC graph: /root/reference/algo/src/test/java/org/neo4j/gds/wcc/
WccTest.java:215-241,292-299 -- components compared as partitions
(CommunityHelper.assertCommunities); with union-by-min semantics the
component id equals the min internal member id.
SCC graph: /root/reference/algo/src/test/java/org/neo4j/gds/scc/
SccTest.java:46-101 -- three 3-cycles plus a bridge.
"""

from __future__ import annotations

import pytest
from pyspark.sql import functions as F

from neo4j_graph_data_science_spark import from_edge_list
from neo4j_graph_data_science_spark.operators.scc import scc
from neo4j_graph_data_science_spark.operators.wcc import WccConfig, consecutive_ids, wcc


def partitions(rows, key="component"):
    out = {}
    for r in rows:
        out.setdefault(r[key], set()).add(r["id"])
    return sorted(out.values(), key=lambda s: min(s))


# WCC fixture: a..j = 0..9; cycles a-b-c-d, e-f-g, h-i mutual, j isolated
WCC_EDGES = [(0, 1), (1, 2), (2, 3), (3, 0), (4, 5), (5, 6), (6, 4), (8, 7), (7, 8)]
WCC_EXPECTED = [{0, 1, 2, 3}, {4, 5, 6}, {7, 8}, {9}]


@pytest.mark.parametrize("orientation", ["NATURAL", "REVERSE", "UNDIRECTED"])
def test_wcc_fixture_all_orientations(spark, orientation):
    g = from_edge_list(spark, WCC_EDGES, n_nodes=10, orientation=orientation)
    res = wcc(g)
    rows = res.state.collect()
    assert partitions(rows) == WCC_EXPECTED
    # union-by-min: component id == min member id
    for r in rows:
        comp_members = {x["id"] for x in rows if x["component"] == r["component"]}
        assert r["component"] == min(comp_members)


def test_wcc_consecutive_ids(spark):
    g = from_edge_list(spark, WCC_EDGES, n_nodes=10)
    res = wcc(g, WccConfig(consecutive_ids=True))
    comps = sorted({r["component"] for r in res.state.collect()})
    assert comps == [0, 1, 2, 3]


def test_wcc_threshold(spark):
    """Union only edges with weight > threshold (UnsampledStrategy.java:139-168)."""
    edges = [(0, 1, 5.0), (1, 2, 0.1), (2, 3, 5.0)]
    g = from_edge_list(spark, edges, n_nodes=4)
    res = wcc(g, WccConfig(threshold=1.0))
    assert partitions(res.state.collect()) == [{0, 1}, {2, 3}]


def test_wcc_seeded(spark):
    """Seeded components merge to the min seed (Wcc.java:101-106)."""
    g = from_edge_list(spark, [(0, 1), (2, 3)], n_nodes=4)
    seeded = g.nodes.select("id", (F.col("id") + 100).alias("seed"))
    g.nodes = seeded
    res = wcc(g, WccConfig(seed_property="seed"))
    got = {r["id"]: r["component"] for r in res.state.collect()}
    assert got == {0: 100, 1: 100, 2: 102, 3: 102}


# SCC fixture: a..i = 0..8; three 3-cycles, bridge a->d
SCC_EDGES = [(0, 1), (1, 2), (2, 0), (3, 4), (4, 5), (5, 3), (0, 3), (6, 7), (7, 8), (8, 6)]
SCC_EXPECTED = [{0, 1, 2}, {3, 4, 5}, {6, 7, 8}]


def test_scc_fixture(spark):
    g = from_edge_list(spark, SCC_EDGES, n_nodes=9)
    res = scc(g)
    rows = res.collect()
    assert partitions(rows) == SCC_EXPECTED
    for r in rows:
        members = {x["id"] for x in rows if x["component"] == r["component"]}
        assert r["component"] == min(members)


def test_scc_dag_all_singletons(spark):
    g = from_edge_list(spark, [(0, 1), (1, 2), (2, 3), (0, 3)], n_nodes=4)
    rows = scc(g).collect()
    assert partitions(rows) == [{0}, {1}, {2}, {3}]


def test_scc_chain_into_cycle(spark):
    """Trim phase peels the acyclic tail; cycle survives as one SCC."""
    g = from_edge_list(spark, [(0, 1), (1, 2), (2, 3), (3, 4), (4, 2)], n_nodes=5)
    rows = scc(g).collect()
    assert partitions(rows) == [{0}, {1}, {2, 3, 4}]


def test_wcc_two_phase_equivalence(spark):
    from neo4j_graph_data_science_spark.operators.wcc import wcc_two_phase

    # long chain (adversarial for plain propagation), a clique, an isolate,
    # and a hash-y random component
    edges = [(i, i + 1) for i in range(0, 30)]
    edges += [(40 + a, 40 + b) for a in range(5) for b in range(a + 1, 5)]
    edges += [(50 + (i * 7) % 11, 50 + (i * 5) % 11) for i in range(11)]
    g = from_edge_list(spark, edges, n_nodes=70)  # 62..69 isolated
    base = {r["id"]: r["component"]
            for r in wcc(g, WccConfig()).state.collect()}
    two = wcc_two_phase(g, WccConfig())
    got = {r["id"]: r["component"] for r in two.state.collect()}
    assert got == base
    assert two.converged and two.iterations < 12


def test_wcc_two_phase_options(spark):
    from neo4j_graph_data_science_spark.catalog import SparkGraph
    from neo4j_graph_data_science_spark.operators.wcc import wcc_two_phase

    g = from_edge_list(spark, [(0, 1, 5.0), (1, 2, 0.5), (3, 4, 2.0)],
                       n_nodes=6)
    # threshold: the 0.5 edge is dropped at threshold 1.0
    got = {r["id"]: r["component"] for r in wcc_two_phase(
        g, WccConfig(threshold=1.0)).state.collect()}
    want = {r["id"]: r["component"] for r in wcc(
        g, WccConfig(threshold=1.0)).state.collect()}
    assert got == want and got[2] == 2
    # seeds map components to min seed
    nodes = g.nodes.withColumn("seed", F.col("id") * 10 + 100)
    gs = SparkGraph(nodes=nodes, edges=g.edges)
    got = {r["id"]: r["component"] for r in wcc_two_phase(
        gs, WccConfig(seed_property="seed")).state.collect()}
    want = {r["id"]: r["component"] for r in wcc(
        gs, WccConfig(seed_property="seed")).state.collect()}
    assert got == want
    # consecutive ids
    got = {r["id"]: r["component"] for r in wcc_two_phase(
        g, WccConfig(consecutive_ids=True)).state.collect()}
    want = {r["id"]: r["component"] for r in wcc(
        g, WccConfig(consecutive_ids=True)).state.collect()}
    assert got == want


def test_wcc_warm_start_same_result_fewer_supersteps(spark):
    """Round-4 verdict #9: warm-starting WCC from a previous run's
    components (engine extension mirroring PageRank initial_ranks) is
    fixpoint-identical on the grown graph and needs fewer supersteps;
    duplicate ids in the warm frame are deduped; a 1-column frame raises."""
    import pytest

    from neo4j_graph_data_science_spark.catalog import from_edge_list
    from neo4j_graph_data_science_spark.operators.wcc import WccConfig, wcc

    n = 64
    chain1 = [(i, i + 1) for i in range(n - 1)]
    chain2 = [(100 + i, 100 + i + 1) for i in range(n - 1)]
    g1 = from_edge_list(spark, chain1 + chain2,
                        node_ids=list(range(n)) + [100 + i for i in range(n)])
    cold1 = wcc(g1, WccConfig(small_graph_edges=0))
    prev = cold1.state  # (id, component)

    g2 = from_edge_list(spark, chain1 + chain2 + [(n - 1, 100)],
                        node_ids=list(range(n)) + [100 + i for i in range(n)])
    cold2 = wcc(g2, WccConfig(small_graph_edges=0))
    warm = wcc(g2, WccConfig(small_graph_edges=0, initial_components=prev))
    c = {r.id: r.component for r in cold2.state.collect()}
    w = {r.id: r.component for r in warm.state.collect()}
    assert c == w
    assert all(v == 0 for v in w.values())  # merged into one component
    assert warm.iterations < cold2.iterations

    # duplicate warm ids: one state row per node, same fixpoint
    warm_dup = wcc(g2, WccConfig(small_graph_edges=0,
                                 initial_components=prev.union(prev)))
    rows = warm_dup.state.collect()
    assert len(rows) == 2 * n
    assert {r.id: r.component for r in rows} == c

    with pytest.raises(ValueError, match="initial_components"):
        wcc(g2, WccConfig(initial_components=prev.select("id")))


@pytest.mark.parametrize("small_graph_edges", [None, 0])
def test_wcc_warm_start_drops_stale_labels(spark, small_graph_edges):
    """A warm-start label that is no live node id (-7 here) must not win
    the min: those nodes cold-start, so both engines give the cold answer.
    A live label from the same component (4 -> 3) is still accepted."""
    g = from_edge_list(spark, [(1, 2), (3, 4)], node_ids=[0, 1, 2, 3, 4])
    warm_frame = spark.createDataFrame([(2, -7), (4, 3)],
                                       "id long, component long")
    cold = wcc(g, WccConfig(small_graph_edges=small_graph_edges))
    warm = wcc(g, WccConfig(small_graph_edges=small_graph_edges,
                            initial_components=warm_frame))
    want = {0: 0, 1: 1, 2: 1, 3: 3, 4: 3}
    assert {r.id: r.component for r in cold.state.collect()} == want
    assert {r.id: r.component for r in warm.state.collect()} == want


def test_lpa_warm_start_stable_labels_reconverge_immediately(spark):
    """A converged LPA labeling re-fed as initial_labels on the unchanged
    graph is already stable: one superstep confirms convergence and the
    labels are identical."""
    from neo4j_graph_data_science_spark.catalog import from_edge_list
    from neo4j_graph_data_science_spark.operators.labelprop import (
        LabelPropagationConfig, label_propagation,
    )

    size = 8
    edges = []
    for i in range(size):
        for j in range(i + 1, size):
            edges.append((i, j))
            edges.append((size + i, size + j))
    edges.append((0, size))
    g = from_edge_list(spark, edges, n_nodes=2 * size)
    cold = label_propagation(
        g, LabelPropagationConfig(max_iterations=30, small_graph_edges=0))
    assert cold.converged
    warm = label_propagation(
        g, LabelPropagationConfig(max_iterations=30, small_graph_edges=0,
                                  initial_labels=cold.state))
    assert warm.converged
    assert warm.iterations == 1
    assert ({r.id: r.label for r in warm.state.collect()}
            == {r.id: r.label for r in cold.state.collect()})
