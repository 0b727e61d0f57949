"""Louvain: community structure + modularity improvement on planted
partitions (asserting structure like the reference's own tests)."""

from __future__ import annotations

from neo4j_graph_data_science_spark.catalog import from_edge_list
from neo4j_graph_data_science_spark.operators.louvain import LouvainConfig, louvain
from neo4j_graph_data_science_spark.operators.community import modularity


def test_louvain_two_cliques(spark):
    tri1 = [(0, 1), (1, 2), (0, 2)]
    tri2 = [(3, 4), (4, 5), (3, 5)]
    g = from_edge_list(spark, tri1 + tri2 + [(2, 3)], n_nodes=6)
    labels, levels, mods = louvain(g, LouvainConfig())
    got = {r["id"]: r["community"] for r in labels.collect()}
    assert got[0] == got[1] == got[2]
    assert got[3] == got[4] == got[5]
    assert got[0] != got[3]
    assert levels >= 1 and mods[-1] > 0.3


def test_louvain_planted_partition_beats_singletons(spark):
    # 3 planted cliques of 5 nodes, sparse cross links
    edges = []
    for c in range(3):
        base = c * 5
        for a in range(5):
            for b in range(a + 1, 5):
                edges.append((base + a, base + b))
    edges += [(0, 5), (5, 10), (10, 0)]
    g = from_edge_list(spark, edges, n_nodes=15)
    labels, levels, mods = louvain(g, LouvainConfig())
    comm = {r["id"]: r["community"] for r in labels.collect()}
    # each planted clique ends up in one community
    for c in range(3):
        vals = {comm[c * 5 + i] for i in range(5)}
        assert len(vals) == 1, (c, vals)
    singleton_q = modularity(
        g, g.nodes.selectExpr("id", "id as community"), "community"
    ).collect()[0]["modularity"]
    assert mods[-1] > singleton_q


def test_louvain_md5_parity_mode_same_structure_and_deterministic(spark):
    """md5 parity_mode changes only WHICH improving nodes move each round;
    on two cliques the fixpoint structure is identical to xxhash64 mode,
    and repeat runs are bit-identical (the property the DuckDB oracle
    louvain_md5_events_sub relies on)."""
    tri1 = [(0, 1), (1, 2), (0, 2)]
    tri2 = [(3, 4), (4, 5), (3, 5)]
    g = from_edge_list(spark, tri1 + tri2 + [(2, 3)], n_nodes=6)
    labels, _, _ = louvain(g, LouvainConfig(max_levels=2, min_gain=-1.0),
                           parity_mode="md5")
    # collect BEFORE the second run, so the comparison is over plain rows
    # rather than the first run's in-memory lineage cuts
    first = sorted(tuple(r) for r in labels.collect())
    got = {i: c for i, c in first}
    assert got[0] == got[1] == got[2]
    assert got[3] == got[4] == got[5]
    assert got[0] != got[3]
    labels2, _, _ = louvain(g, LouvainConfig(max_levels=2, min_gain=-1.0),
                            parity_mode="md5")
    assert sorted(tuple(r) for r in labels2.collect()) == first
