"""Graph/model catalog parity ops: streamNodeProperties, nodeProperties
.drop, relationships delete, model catalog (gds.model.list/exists/drop)."""

from __future__ import annotations

import pytest

from pyspark.sql import functions as F

from neo4j_graph_data_science_spark.catalog import from_edge_list
from neo4j_graph_data_science_spark.pipelines import ModelCatalog


@pytest.fixture()
def graph(spark):
    g = from_edge_list(spark, [(0, 1), (1, 2), (2, 0)])
    g.edges = g.edges.withColumn(
        "rel_type", F.when(F.col("src") == 0, "A").otherwise("B"))
    g.nodes = g.nodes.withColumn("score", F.col("id") * 2.0).withColumn(
        "rank", F.col("id") + 10.0)
    return g


def test_stream_node_properties(graph):
    rows = graph.stream_node_properties("score", "rank").collect()
    got = {(r.id, r.node_property): r.property_value for r in rows}
    assert len(rows) == 6
    assert got[(1, "score")] == 2.0 and got[(2, "rank")] == 12.0


def test_drop_node_property(graph):
    g2 = graph.drop_node_property("score")
    assert "score" not in g2.nodes.columns
    assert "score" in graph.nodes.columns  # original untouched
    with pytest.raises(KeyError):
        graph.drop_node_property("missing")
    with pytest.raises(KeyError):
        graph.drop_node_property("id")


def test_delete_relationships(graph):
    g2 = graph.delete_relationships("A")
    assert g2.relationship_count() == 2
    assert g2.rel_types() == ["B"]


def test_model_catalog():
    cat = ModelCatalog()
    assert not cat.exists("m")
    cat.store("m", {"weights": [1.0]}, modelType="test", trainMillis=5)
    assert cat.exists("m") and cat.get("m") == {"weights": [1.0]}
    assert cat.list() == [{"modelName": "m", "modelType": "test",
                           "trainMillis": 5}]
    cat.drop("m")
    assert not cat.exists("m") and cat.list() == []
    cat.drop("m")  # idempotent


def test_graph_properties(graph):
    g2 = graph.set_graph_property("totalTriangles", 1)
    assert g2.graph_property("totalTriangles") == 1
    assert "totalTriangles" not in graph.graph_props  # original untouched
    g3 = g2.drop_graph_property("totalTriangles")
    assert "totalTriangles" not in g3.graph_props
    # property survives other catalog transforms
    assert g2.delete_relationships("A").graph_props == g2.graph_props


def test_stream_node_properties_guards(graph):
    with pytest.raises(ValueError):
        graph.stream_node_properties()
    with pytest.raises(KeyError):
        graph.stream_node_properties("score", "missing")


def test_graph_props_survive_drop_node_property(graph):
    g2 = graph.set_graph_property("m", 7).drop_node_property("score")
    assert g2.graph_property("m") == 7


def test_graph_memo_returns_isolated_copies(spark):
    """Mutating a memoized graph's fields must not poison later calls --
    the documented mutate-mode pattern assigns g.nodes in place."""
    from neo4j_graph_data_science_spark.sources.tables import events_graph

    sf = "/root/testdata/sf0.001"
    g1 = events_graph(spark, sf)
    n_nodes = g1.nodes.count()
    g1.nodes = g1.nodes.limit(1)          # caller-side mutate
    g1.graph_props["poison"] = True
    g2 = events_graph(spark, sf)
    assert g2.nodes.count() == n_nodes
    assert "poison" not in g2.graph_props


def test_bind_node_filter_ignores_string_literals(spark):
    """The pseudo-column binding is structural: the word 'node' inside a
    string literal must NOT be rewritten (ADVICE round 3)."""
    from neo4j_graph_data_science_spark.catalog import bind_node_filter

    df = spark.createDataFrame(
        [(1, "node"), (2, "edge")], "source_id long, label string")
    out = bind_node_filter(df, "label != 'node' AND node > 0", "source_id")
    assert [r.source_id for r in out.collect()] == [2]
    assert out.columns == ["source_id", "label"]


def test_bind_node_filter_rejects_node_column(spark):
    import pytest
    from neo4j_graph_data_science_spark.catalog import bind_node_filter

    df = spark.createDataFrame([(1, 2)], "node long, x long")
    with pytest.raises(ValueError, match="node"):
        bind_node_filter(df, "node > 0", "x")


def test_clear_caches_releases_operator_persists(spark):
    """Round-3 verdict #9: operator-internal persists are deliberate
    within a run but must be releasable for long-lived sessions. Every
    such persist registers itself; clear_caches() unpersists them all
    (graph-memo projections are intentionally NOT registered)."""
    from neo4j_graph_data_science_spark.catalog import clear_caches
    from neo4j_graph_data_science_spark.operators.similarity import (
        NodeSimilarityConfig, node_similarity,
    )
    from neo4j_graph_data_science_spark.operators.triangle import (
        TriangleCountConfig, triangle_count,
    )

    from neo4j_graph_data_science_spark import catalog as catmod

    clear_caches()  # drop registrations left by earlier tests
    # Assert on the registry delta and the registered frames themselves,
    # NOT on the JVM-global getPersistentRDDs() census: Spark's async
    # ContextCleaner concurrently GCs stale RDDs from earlier tests in the
    # shared session, so the global count can DROP across this test's body
    # (round-4 verdict #2: observed 57 -> 52 mid-test, 1/258 flake).
    assert len(catmod._OPERATOR_CACHES) == 0

    g = from_edge_list(spark, [(0, 1), (1, 2), (2, 0), (2, 3), (3, 4)])
    # the distributed plan: the driver-side kernel persists only canon
    triangle_count(g, TriangleCountConfig(small_graph_edges=0)).count()
    adj = g.edges.select("src", "dst")
    node_similarity(adj, "src", "dst", NodeSimilarityConfig(top_k=3)).count()
    registered = list(catmod._OPERATOR_CACHES)
    assert len(registered) >= 4  # canon + deg (triangle), adj + deg (sim)
    assert any(df.storageLevel.useMemory or df.storageLevel.useDisk
               for df in registered)

    released = clear_caches()
    assert released == len(registered)
    for df in registered:   # every registered frame actually unpersisted
        assert not (df.storageLevel.useMemory or df.storageLevel.useDisk)
    assert clear_caches() == 0   # registry drained


def test_project_bucketed_keeps_graph_props(spark):
    from neo4j_graph_data_science_spark.catalog import GraphCatalog

    g = from_edge_list(spark, [(0, 1), (1, 2)]).set_graph_property("tw", 5.0)
    cat = GraphCatalog()
    gb = cat.project_bucketed("bkprops", g, buckets=2)
    assert gb.graph_property("tw") == 5.0
    spark.sql("DROP TABLE IF EXISTS bkprops_edges_bucketed")


def test_bind_node_filter_rejects_node_column_any_case(spark):
    import pytest
    from neo4j_graph_data_science_spark.catalog import bind_node_filter

    df = spark.createDataFrame([(1, 2)], "NODE long, x long")
    with pytest.raises(ValueError, match="node"):
        bind_node_filter(df, "node > 0", "x")
