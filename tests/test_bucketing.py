"""Bucketed edge tables: the self-join and the messenger-style join on the
bucket key must run WITHOUT an Exchange on the bucketed side."""

from __future__ import annotations

import contextlib
import io
import tempfile

import pytest
from pyspark.sql import functions as F

from neo4j_graph_data_science_spark.sources.bucketing import (
    write_bucketed_edges,
)


def _plan(df) -> str:
    buf = io.StringIO()
    with contextlib.redirect_stdout(buf):
        df.explain(mode="formatted")
    return buf.getvalue()


def test_bucketed_self_join_has_no_exchange(spark):
    edges = spark.createDataFrame(
        [(i % 7, (i * 3) % 11) for i in range(100)], "src long, dst long")
    with tempfile.TemporaryDirectory() as d:
        t = write_bucketed_edges(edges, "e_bkt", buckets=4, path=d)
        a = t.alias("a")
        b = t.alias("b")
        j = a.join(b, F.col("a.dst").isNotNull() & (F.col("a.src") == F.col("b.src")))
        # both sides read the same bucketed layout: a co-located SMJ with
        # zero shuffles
        plan = _plan(j)
        assert "Exchange hashpartitioning" not in plan, plan
        assert j.count() > 0
        # aggregation on the bucket key: no exchange before the final agg
        agg_plan = _plan(t.groupBy("src").count())
        assert "Exchange hashpartitioning" not in agg_plan, agg_plan
        spark.sql("DROP TABLE IF EXISTS e_bkt")


def test_bucketed_by_dst_inverse_layout(spark):
    edges = spark.createDataFrame(
        [(i % 5, i % 3) for i in range(60)], "src long, dst long")
    with tempfile.TemporaryDirectory() as d:
        t = write_bucketed_edges(edges, "e_bkt_rev", buckets=4, path=d,
                                 by_dst=True)
        agg_plan = _plan(t.groupBy("dst").count())
        assert "Exchange hashpartitioning" not in agg_plan, agg_plan
        assert t.count() == 60
        spark.sql("DROP TABLE IF EXISTS e_bkt_rev")


def test_catalog_project_bucketed_roundtrip(spark):
    """GraphCatalog.project_bucketed writes the durable bucketBy+sortBy
    edge table, registers a graph reading it, and preserves the edge set;
    with_inverse adds the dst-bucketed twin."""
    from neo4j_graph_data_science_spark.catalog import (
        GraphCatalog, from_edge_list,
    )

    g = from_edge_list(spark, [(0, 1), (1, 2), (2, 0), (2, 3)])
    cat = GraphCatalog()
    gb = cat.project_bucketed("bktest", g, buckets=4, with_inverse=True)
    assert cat.exists("bktest")
    got = sorted((r.src, r.dst) for r in gb.edges.collect())
    assert got == [(0, 1), (1, 2), (2, 0), (2, 3)]
    inv = spark.table("bktest_edges_bucketed_inv")
    assert sorted((r.src, r.dst) for r in inv.collect()) == got
    spark.sql("DROP TABLE IF EXISTS bktest_edges_bucketed")
    spark.sql("DROP TABLE IF EXISTS bktest_edges_bucketed_inv")


@pytest.mark.parametrize("op", ["page_rank", "article_rank", "eigenvector"])
def test_pagerank_over_bucketed_projection_parity(spark, op):
    """A project_bucketed(aggregation=COUNT) graph runs the DISTRIBUTED
    pregel loop over the bucketed scan as prepare_edges reads it from the
    plan (no projection repartition/sort) and converges to the same scores
    as the plain graph, including parallel-edge multiplicity."""
    import math

    from neo4j_graph_data_science_spark.catalog import (
        GraphCatalog, from_edge_list,
    )
    from neo4j_graph_data_science_spark.operators import pagerank
    from neo4j_graph_data_science_spark.operators.pagerank import (
        PageRankConfig,
    )

    edges = [(i, (i * 3 + 1) % 30) for i in range(30)] + \
            [(i, (i + 1) % 30) for i in range(30)] + \
            [(0, 1), (0, 1)]  # parallel edges: multiplicity must survive
    g = from_edge_list(spark, edges, n_nodes=30)
    cat = GraphCatalog()
    gb = cat.project_bucketed("bkpr", g, buckets=4, aggregation="COUNT")
    run = getattr(pagerank, op)
    try:
        cfg = dict(max_iterations=60, tolerance=1e-8, small_graph_edges=0,
                   partitions=None)
        plain = run(g, PageRankConfig(**cfg))
        bucketed = run(gb, PageRankConfig(**cfg))
        p = {r.id: r.score for r in plain.state.collect()}
        b = {r.id: r.score for r in bucketed.state.collect()}
        assert set(p) == set(b)
        assert all(math.isclose(p[i], b[i], rel_tol=1e-9, abs_tol=1e-9)
                   for i in p)
    finally:
        spark.sql("DROP TABLE IF EXISTS bkpr_edges_bucketed")


def test_project_bucketed_aggregated_applies_orientation_once(spark):
    """Code-review r5: aggregated_edges APPLIES the source orientation at
    write time, so the projected graph must be NATURAL -- an UNDIRECTED
    graph's projection stores the mirrored rows exactly once (no
    double-mirroring on later use) and pagerank over it matches the
    plain UNDIRECTED graph."""
    import math

    from neo4j_graph_data_science_spark.catalog import (
        GraphCatalog, Orientation, from_edge_list,
    )
    from neo4j_graph_data_science_spark.operators.pagerank import (
        PageRankConfig, page_rank,
    )

    edges = [(i, (i + 1) % 12) for i in range(12)] + [(0, 6)]
    g = from_edge_list(spark, edges, n_nodes=12, orientation="UNDIRECTED")
    cat = GraphCatalog()
    gb = cat.project_bucketed("bkund", g, buckets=2, aggregation="COUNT")
    try:
        assert gb.orientation == Orientation.NATURAL
        # stored rows are the mirrored multiset: 2 rows per undirected edge
        assert gb.edges.count() == 2 * len(edges)
        # weight carries true multiplicity (1.0 each), not a doubled count
        assert all(r.weight == 1.0
                   for r in gb.aggregated_edges("COUNT").collect())
        p = {r.id: r.score for r in page_rank(
            g, PageRankConfig(max_iterations=40, tolerance=1e-8)
        ).state.collect()}
        b = {r.id: r.score for r in page_rank(
            gb, PageRankConfig(max_iterations=40, tolerance=1e-8)
        ).state.collect()}
        assert all(math.isclose(p[i], b[i], rel_tol=1e-9, abs_tol=1e-9)
                   for i in p)
    finally:
        spark.sql("DROP TABLE IF EXISTS bkund_edges_bucketed")
