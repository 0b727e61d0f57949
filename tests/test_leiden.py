"""Leiden: community structure on planted partitions (the reference's own
tests assert structure, not labels) + resolution-parameter behavior."""

from __future__ import annotations

from neo4j_graph_data_science_spark.catalog import from_edge_list
from neo4j_graph_data_science_spark.operators.leiden import LeidenConfig, leiden
from neo4j_graph_data_science_spark.operators.community import modularity


def test_leiden_two_triangles(spark):
    tri1 = [(0, 1), (1, 2), (0, 2)]
    tri2 = [(3, 4), (4, 5), (3, 5)]
    g = from_edge_list(spark, tri1 + tri2 + [(2, 3)], n_nodes=6)
    labels, levels, mods = leiden(g, LeidenConfig())
    got = {r["id"]: r["community"] for r in labels.collect()}
    assert got[0] == got[1] == got[2]
    assert got[3] == got[4] == got[5]
    assert got[0] != got[3]
    assert levels >= 1 and mods[-1] > 0.3


def test_leiden_planted_cliques_beat_singletons(spark):
    edges = []
    for c in range(3):
        base = c * 5
        for a in range(5):
            for b in range(a + 1, 5):
                edges.append((base + a, base + b))
    edges += [(0, 5), (5, 10), (10, 0)]
    g = from_edge_list(spark, edges, n_nodes=15)
    labels, levels, mods = leiden(g, LeidenConfig())
    comm = {r["id"]: r["community"] for r in labels.collect()}
    for c in range(3):
        assert len({comm[c * 5 + i] for i in range(5)}) == 1
    singleton_q = modularity(
        g, g.nodes.selectExpr("id", "id as community"), "community"
    ).collect()[0]["modularity"]
    assert mods[-1] > singleton_q


def test_leiden_high_gamma_splits(spark):
    # higher resolution favors smaller communities: with a large gamma the
    # two loosely-linked triangles must NOT merge into one community
    tri1 = [(0, 1), (1, 2), (0, 2)]
    tri2 = [(3, 4), (4, 5), (3, 5)]
    g = from_edge_list(spark, tri1 + tri2 + [(2, 3)], n_nodes=6)
    labels, _, _ = leiden(g, LeidenConfig(gamma=2.0))
    got = {r["id"]: r["community"] for r in labels.collect()}
    assert got[0] != got[3]


def test_modularity_optimization_standalone(spark):
    from neo4j_graph_data_science_spark.operators.leiden import (
        modularity_optimization,
    )
    tri1 = [(0, 1), (1, 2), (0, 2)]
    tri2 = [(3, 4), (4, 5), (3, 5)]
    g = from_edge_list(spark, tri1 + tri2 + [(2, 3)], n_nodes=6)
    labels, q = modularity_optimization(g)
    got = {r["id"]: r["community"] for r in labels.collect()}
    assert got[0] == got[1] == got[2]
    assert got[3] == got[4] == got[5]
    assert q > 0.3
    # seed warm-start: planted perfect partition stays put
    seed = spark.createDataFrame(
        [(i, 0 if i < 3 else 1) for i in range(6)], "id long, community long")
    labels2, q2 = modularity_optimization(g, seed=seed)
    got2 = {r["id"]: r["community"] for r in labels2.collect()}
    assert got2[0] == got2[1] == got2[2] and got2[3] == got2[4] == got2[5]
    assert q2 >= q - 1e-9


def test_leiden_md5_parity_mode_same_structure(spark):
    """md5 parity_mode (DuckDB-replayable draws) preserves the planted
    two-clique structure and is deterministic across runs."""
    from neo4j_graph_data_science_spark.operators.leiden import (
        LeidenConfig, leiden,
    )
    from neo4j_graph_data_science_spark.catalog import from_edge_list

    tri1 = [(0, 1), (1, 2), (0, 2)]
    tri2 = [(3, 4), (4, 5), (3, 5)]
    g = from_edge_list(spark, tri1 + tri2 + [(2, 3)], n_nodes=6)
    cfg = LeidenConfig(max_levels=2, max_local_moves=8,
                       max_refine_moves=8, min_gain=-1.0)
    labels, _, _ = leiden(g, cfg, parity_mode="md5")
    # collect BEFORE the second run, so the comparison is over plain rows
    # rather than the first run's in-memory lineage cuts
    first = sorted(tuple(r) for r in labels.collect())
    got = {i: c for i, c in first}
    assert got[0] == got[1] == got[2]
    assert got[3] == got[4] == got[5]
    assert got[0] != got[3]
    labels2, _, _ = leiden(g, cfg, parity_mode="md5")
    assert sorted(tuple(r) for r in labels2.collect()) == first
