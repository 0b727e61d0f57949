"""Physical-plan audits: the properties that make the engine survive 100x.

Each test pins a plan invariant that a regression would silently break
long before a benchmark notices at test scale:

  * no single-partition exchange (serial stage) in the event-graph
    derivation — the round-1 dense-id bug was exactly this
    (`WindowExec: No Partition Defined` → `Exchange SinglePartition`);
  * predicate pushdown + column pruning reach the parquet scan;
  * the Pregel message reduce does map-side partial aggregation
    (the distributed ReducingMessenger combine) before the shuffle;
  * the similarity/ANN broadcast side actually broadcasts.
"""

from __future__ import annotations

import contextlib
import io
import re

from pyspark.sql import functions as F

from neo4j_graph_data_science_spark import from_edge_list
from neo4j_graph_data_science_spark.plans.pregel import reduced_messages
from neo4j_graph_data_science_spark.sources.tables import (
    event_edges, event_vertices, load,
)

SF_DIR = "/root/testdata/sf0.001"


def _plan(df, mode: str = "formatted") -> str:
    buf = io.StringIO()
    with contextlib.redirect_stdout(buf):
        df.explain(mode=mode)
    return buf.getvalue()


def test_event_graph_has_no_serial_stage(spark):
    """Dense-id assignment and every edge rule must stay partition-parallel:
    a single-partition exchange is a serial stage that caps any cluster at
    one core (round-1 regression)."""
    events = load(spark, SF_DIR, "events")
    for df in (event_vertices(events), event_edges(events)):
        plan = _plan(df)
        assert "Exchange SinglePartition" not in plan, plan


def test_parquet_scan_pushdown_and_pruning(spark):
    part = load(spark, SF_DIR, "part")
    q = part.filter(F.col("p_size") > 40).select("p_partkey", "p_size")
    plan = _plan(q)
    assert "PushedFilters: [IsNotNull(p_size), GreaterThan(p_size,40)" in plan, plan
    # column pruning: the scan schema carries only the two referenced columns
    read_schema = [l for l in plan.splitlines() if "ReadSchema" in l][0]
    assert "p_partkey" in read_schema and "p_size" in read_schema
    assert "p_name" not in read_schema and "p_type" not in read_schema


def test_pregel_reduce_is_map_side_combined(spark):
    """ReducingMessenger semantics: messages to one dst collapse per map
    partition (partial_sum) before the exchange, then merge after — a hub
    vertex receives at most one pre-combined row per upstream partition."""
    g = from_edge_list(spark, [(0, 1), (1, 2), (2, 0), (0, 2)], n_nodes=3)
    state = g.nodes.withColumn("score", F.lit(1.0))
    msgs = reduced_messages(g.edges, state, F.col("score"))
    plan = _plan(msgs, mode="simple")
    assert "partial_sum" in plan, plan
    # the partial aggregate must sit BELOW the exchange, the final above
    below, _, above = plan.partition("Exchange hashpartitioning(id")
    assert "partial_sum" in above, plan     # map side (printed deeper)
    assert "sum(" in below, plan            # reduce side


def test_text_ops_stay_jvm_side(spark):
    """textstats hot path is all-JVM Catalyst expressions over a columnar
    batched parquet scan — no Python eval operator anywhere in the plan.
    (The Project itself uses higher-order `aggregate` lambdas, which Spark
    evaluates JVM-side but outside whole-stage codegen; the invariant that
    matters at 100 TB is zero Python in the row loop.)"""
    docs = load(spark, SF_DIR, "documents")
    from neo4j_graph_data_science_spark.operators.textstats import token_stats

    plan = _plan(token_stats(docs), mode="simple")
    assert "BatchEvalPython" not in plan and "ArrowEvalPython" not in plan
    assert "Batched: true" in plan, plan


def test_triangle_subcritical_plan_broadcasts_and_caches(spark):
    """Late-round-3 plan shape: on a subcritical graph the wedge join AND
    the closure join are broadcast hash joins (the quadratic wedge stream
    pipelines inside one stage, never shuffled), the canonical edge set is
    cached (one evaluation for its four references), and corner counting
    is an explode over ONE triangle scan, not a 3-branch union that would
    re-evaluate the join subtree per corner."""
    from neo4j_graph_data_science_spark.operators.triangle import (
        TriangleCountConfig, triangle_count,
    )

    g = from_edge_list(spark, [(0, 1), (1, 2), (2, 0), (2, 3)])
    df = triangle_count(g, TriangleCountConfig(small_graph_edges=0))
    plan = _plan(df)
    assert plan.count("BroadcastHashJoin") >= 2, plan
    assert "InMemoryTableScan" in plan, plan
    assert "explode(array" in plan, plan

    # at-scale path (gate=0): the OPTIMIZED logical plan must carry no
    # explicit broadcast hints -- join strategy is left to the planner/AQE,
    # which at real scale resolves to shuffle joins
    df_big = triangle_count(
        g, TriangleCountConfig(broadcast_closure_max_edges=0,
                               small_graph_edges=0))
    logical = _plan(df_big, mode="extended")
    optimized = logical.split("== Optimized Logical Plan ==")[1]
    assert "ResolvedHint" not in optimized and "hints=[broadcast]" not in optimized, optimized


def test_node_similarity_subcritical_plan_broadcasts_and_caches(spark):
    """Same invariants for node similarity: the shared-neighbor pair join
    broadcasts one side below the gate, and the adjacency feeding five
    references is cached."""
    from neo4j_graph_data_science_spark.operators.similarity import (
        NodeSimilarityConfig, node_similarity,
    )

    adj = spark.createDataFrame(
        [(0, 10), (0, 11), (1, 10), (1, 11), (2, 11)], "n long, nb long")
    df = node_similarity(adj, "n", "nb", NodeSimilarityConfig(top_k=3))
    plan = _plan(df)
    assert "BroadcastHashJoin" in plan, plan
    assert "InMemoryTableScan" in plan, plan


def test_pregel_edge_side_needs_no_exchange_and_no_sort(spark):
    """The 'project once, iterate many' invariant, completed in round 4:
    prepare_edges repartitions AND sorts within partitions by src before
    persisting, so at scale (state too big to broadcast -> SortMergeJoin)
    the per-superstep message join needs NEITHER an Exchange NOR a Sort on
    the edge side -- the only per-superstep sort left inside the cached
    projection itself, paid once. This is the in-memory analogue of a
    bucketBy+sortBy edge table (sources/bucketing.py)."""
    from neo4j_graph_data_science_spark.plans.pregel import prepare_edges

    prev = spark.conf.get("spark.sql.autoBroadcastJoinThreshold")
    prev_aqe = spark.conf.get("spark.sql.adaptive.enabled")
    try:
        spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
        spark.conf.set("spark.sql.adaptive.enabled", "false")
        g = from_edge_list(spark, [(i, (i * 7 + 1) % 50) for i in range(50)],
                           n_nodes=50)
        edges = prepare_edges(g.edges, 4)
        state = (g.nodes.select("id", F.lit(1.0).alias("rank"))
                 .repartition(4, "id").persist())
        state.count()
        msgs = reduced_messages(edges, state, F.col("rank"), "sum")
        plan = msgs._jdf.queryExecution().executedPlan().toString()
        assert "SortMergeJoin" in plan, plan
        # the edge side is the streamed (first) child: between the SMJ line
        # and its InMemoryTableScan there must be no Exchange and no Sort
        smj = plan.index("SortMergeJoin")
        scan = plan.index("InMemoryTableScan", smj)
        edge_side = plan[smj:scan]
        assert "Exchange" not in edge_side, plan
        assert "Sort [" not in edge_side, plan
        edges.unpersist()
        state.unpersist()
    finally:
        spark.conf.set("spark.sql.autoBroadcastJoinThreshold", prev)
        spark.conf.set("spark.sql.adaptive.enabled", prev_aqe)


def test_bucketed_projection_feeds_pregel_without_reshuffle(spark):
    """Round-4 verdict #4: a graph projected via project_bucketed(
    aggregation=...) must NOT pay the projection shuffle twice. The
    projection phase (aggregated_edges + prepare_edges, which reads the
    bucketed layout from the plan) is a pure column-pruned bucketed scan
    -- no Exchange, no Sort, no re-aggregation -- and the per-superstep
    SortMergeJoin still needs neither an Exchange nor a Sort on the edge
    side, exactly as with the in-memory sorted cache."""
    from neo4j_graph_data_science_spark.catalog import GraphCatalog
    from neo4j_graph_data_science_spark.plans.pregel import prepare_edges

    def cached_plan(df):
        return df._jdf.queryExecution().executedPlan().toString()

    prev = spark.conf.get("spark.sql.autoBroadcastJoinThreshold")
    prev_aqe = spark.conf.get("spark.sql.adaptive.enabled")
    try:
        spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
        spark.conf.set("spark.sql.adaptive.enabled", "false")
        g = from_edge_list(spark, [(i, (i * 7 + 1) % 50) for i in range(50)]
                           + [(i, (i * 7 + 1) % 50) for i in range(50)],
                           n_nodes=50)
        cat = GraphCatalog()
        gb = cat.project_bucketed("bkplan", g, buckets=4, aggregation="COUNT")
        # no flag: the bucketed layout is read from the scan's plan, and
        # the cache holds the scan as-is at the bucket width
        edges = prepare_edges(gb.aggregated_edges("COUNT"))
        plan = cached_plan(edges)
        assert "Exchange" not in plan, plan
        assert "Sort [" not in plan, plan
        assert edges.rdd.getNumPartitions() == 4
        # an explicit width other than the bucket count repartitions
        p3 = prepare_edges(gb.aggregated_edges("COUNT"), 3)
        assert re.search(r"Exchange hashpartitioning\(src#\d+L, 3\), "
                         "REPARTITION_BY_NUM", cached_plan(p3))
        assert p3.rdd.getNumPartitions() == 3
        p3.unpersist()
        # mode mismatch (SUM re-aggregates the scan) and an unbucketed
        # graph carry no src layout: both are repartitioned
        for other in (gb.aggregated_edges("SUM"), g.aggregated_edges("COUNT")):
            prepared = prepare_edges(other)
            assert re.search(r"Exchange hashpartitioning\(src#\d+L, \d+\), "
                             "REPARTITION_BY_NUM", cached_plan(prepared))
            prepared.unpersist()

        # projection-time plan: pure scan, already collapsed -- no
        # re-aggregation, no Exchange, no Sort
        agg = gb.aggregated_edges("COUNT")
        proj = agg._jdf.queryExecution().executedPlan().toString()
        assert "Exchange" not in proj, proj
        assert "Sort [" not in proj, proj
        assert "HashAggregate" not in proj, proj
        # parallel-edge collapse happened at write time: weight carries
        # multiplicity 2, one row per (src, dst)
        rows = agg.collect()
        assert len(rows) == 50 and all(r.weight == 2.0 for r in rows)

        state = (gb.nodes.select("id", F.lit(1.0).alias("rank"))
                 .repartition(4, "id").persist())
        state.count()
        msgs = reduced_messages(edges, state, F.col("rank"), "sum")
        plan = msgs._jdf.queryExecution().executedPlan().toString()
        assert "SortMergeJoin" in plan, plan
        smj = plan.index("SortMergeJoin")
        scan = plan.index("InMemoryTableScan", smj)
        edge_side = plan[smj:scan]
        assert "Exchange" not in edge_side, plan
        assert "Sort [" not in edge_side, plan
        edges.unpersist()
        state.unpersist()
    finally:
        spark.conf.set("spark.sql.autoBroadcastJoinThreshold", prev)
        spark.conf.set("spark.sql.adaptive.enabled", prev_aqe)
        spark.sql("DROP TABLE IF EXISTS bkplan_edges_bucketed")
