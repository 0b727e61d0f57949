"""Checkpoint/resume: a run killed after superstep k resumes and produces
identical output (north-rule resumability requirement; BASELINE.md). Also
pins the lineage cut (truncate_mem) every iterative loop goes through, and
the release of the cuts a loop supersedes."""

from __future__ import annotations

import math
import random

from pyspark.sql import functions as F

from neo4j_graph_data_science_spark import from_edge_list
from neo4j_graph_data_science_spark.operators.pagerank import PageRankConfig, page_rank
from neo4j_graph_data_science_spark.plans.checkpoint import (
    CheckpointManager, release, truncate_mem,
)
from neo4j_graph_data_science_spark.plans.pregel import LOOP_CONFS, pinned_confs

EDGES = [(0, 1), (1, 2), (2, 0), (2, 3), (3, 4), (4, 2), (5, 2), (1, 5)]


def _scores(res):
    return {r["id"]: r["score"] for r in res.state.collect()}


def test_resume_mid_iteration_identical(spark, tmp_path):
    g = from_edge_list(spark, EDGES, n_nodes=6)
    full = _scores(page_rank(g, PageRankConfig(max_iterations=12, tolerance=0.0)))

    ckpt = str(tmp_path / "ck")
    # simulate a kill after superstep 5: run with max_iterations=5
    partial = page_rank(
        g, PageRankConfig(max_iterations=5, tolerance=0.0,
                          checkpoint_dir=ckpt, run_id="r1"),
    )
    assert partial.iterations == 5
    cm = CheckpointManager(ckpt, "r1")
    # 5 GDS supersteps = 4 rank updates (superstep 0 is send-only)
    assert cm.committed_iterations() == [1, 2, 3, 4]
    assert len(cm.metrics()) == 4

    # resume: same run_id continues from iteration 5 to 12
    resumed = page_rank(
        g, PageRankConfig(max_iterations=12, tolerance=0.0,
                          checkpoint_dir=ckpt, run_id="r1"),
    )
    got = _scores(resumed)
    assert resumed.iterations == 12
    for v, exp in full.items():
        assert math.isclose(got[v], exp, rel_tol=0, abs_tol=1e-12), (v, got[v], exp)


def test_checkpoint_metrics_lineage(spark, tmp_path):
    g = from_edge_list(spark, EDGES, n_nodes=6)
    ckpt = str(tmp_path / "ck2")
    page_rank(g, PageRankConfig(max_iterations=3, tolerance=0.0,
                                checkpoint_dir=ckpt, run_id="m1"))
    cm = CheckpointManager(ckpt, "m1")
    ms = cm.metrics()
    assert [m["iteration"] for m in ms] == [1, 2]
    assert all("wall_s" in m and "vertices" in m for m in ms)
    # per-partition lineage: every committed snapshot records which
    # partition held how many vertex rows, and they sum to the graph
    for it in cm.committed_iterations():
        lin = cm.lineage(it)
        assert lin is not None and lin["iteration"] == it
        assert sum(lin["partition_rows"].values()) == 6
        assert lin["partitions"] == len(lin["partition_rows"])
    assert all(m["partitions"] >= 1 for m in ms)


def test_truncate_mem_keeps_partitioning_and_ordering(spark):
    """The cut keeps the executed plan's hash partitioning (and sort order),
    so the next superstep's join on the same key plans no Exchange. Pinned
    under the loop confs (AQE off), as in run_pregel."""
    df = spark.range(100).select("id", (F.col("id") % 7).alias("v"))
    with pinned_confs(spark, LOOP_CONFS):
        cut = truncate_mem(df.repartition(8, "id").sortWithinPartitions("id"))
        plan = cut._jdf.queryExecution().executedPlan()
        assert plan.outputPartitioning().toString().startswith(
            "hashpartitioning(id")
        assert plan.outputPartitioning().numPartitions() == 8
        assert plan.outputOrdering().size() == 1
        assert sorted(cut.collect()) == sorted(df.collect())


def test_truncate_mem_clamps_compounding_size_estimate(spark):
    """A state joined three times per round multiplies its carried
    sizeInBytes estimate every round; through the cut it stays at most
    Long.MaxValue and the rows equal the uncut computation."""
    n, rounds = 50, 12
    state = spark.range(n).select("id", (F.col("id") % 5).alias("v"))
    want = {i: i % 5 for i in range(n)}
    for _ in range(rounds):
        a, b, c = state.alias("a"), state.alias("b"), state.alias("c")
        state = truncate_mem(
            a.join(b, "id").join(c, "id").select(
                "id", ((F.col("a.v") + 2 * F.col("b.v") + 3 * F.col("c.v")
                        + F.col("id")) % 11).alias("v")))
        size = state._jdf.logicalPlan().stats().sizeInBytes()
        assert size <= 2 ** 63 - 1
        want = {i: (6 * v + i) % 11 for i, v in want.items()}
    assert size == 2 ** 63 - 1  # the clamp engaged
    assert {r.id: r.v for r in state.collect()} == want


def _cached_rdds(spark) -> set[int]:
    return {i.id() for i in spark.sparkContext._jsc.sc().getRDDStorageInfo()}


def test_release_drops_a_cut_and_skips_other_plans(spark, tmp_path):
    cut = truncate_mem(spark.range(50).repartition(4))
    assert cut.rdd.getNumPartitions() == 4
    before = _cached_rdds(spark)
    release(cut)
    assert len(before - _cached_rdds(spark)) == 1
    path = str(tmp_path / "p")
    spark.range(5).write.parquet(path)
    read = spark.read.parquet(path)
    release(read)      # not a cut: nothing to drop, still readable
    release(spark.range(3))
    assert read.count() == 5


def test_distributed_pagerank_keeps_only_the_result_cut(spark):
    """Every boundary releases the cut it superseded, so a distributed run
    leaves one cached RDD behind: the cut holding the result."""
    rng = random.Random(3)
    g = from_edge_list(
        spark, [(rng.randrange(300), rng.randrange(300)) for _ in range(2000)],
        n_nodes=300)
    before = _cached_rdds(spark)
    res = page_rank(g, PageRankConfig(max_iterations=20, tolerance=0.0,
                                      small_graph_edges=0))
    assert len(res.state.collect()) == 300
    assert len(_cached_rdds(spark) - before) == 1


def test_distributed_scc_releases_superseded_cuts(spark):
    """The trim/peel loop releases every cut nothing reads again; only the
    cuts that hold assigned components stay. The loop that kept every cut
    left 34 new cached RDDs on this graph."""
    from neo4j_graph_data_science_spark.operators.scc import SccConfig, scc

    rng = random.Random(5)
    edges = [(rng.randrange(200), rng.randrange(200)) for _ in range(400)]
    g = from_edge_list(spark, edges, n_nodes=200)
    before = _cached_rdds(spark)
    comp = scc(g, SccConfig(small_graph_edges=0)).collect()
    assert len(comp) == 200
    assert len(_cached_rdds(spark) - before) < 34 / 2


def test_distributed_bellman_ford_keeps_only_the_result_cut(spark):
    from neo4j_graph_data_science_spark.operators.paths import (
        PathConfig, bellman_ford,
    )

    g = from_edge_list(spark, [(a, b, 1.0 + (a * 3 + b) % 4)
                               for a, b in EDGES], n_nodes=6)
    before = _cached_rdds(spark)
    rows = bellman_ford(g, 0, PathConfig(small_graph_edges=0)).collect()
    assert len(rows) == 6
    assert len(_cached_rdds(spark) - before) <= 1


def test_community_loops_keep_only_the_result_cut(spark):
    """k-core and modularity optimization run on run_pregel, drop their
    prepared edges, and the modularity metric drops its caches: each call
    leaves at most the cut holding its result. The hand loops before left
    a cut per round and the metric's two caches behind."""
    from neo4j_graph_data_science_spark.operators.community import k_core
    from neo4j_graph_data_science_spark.operators.leiden import (
        modularity_optimization,
    )

    rng = random.Random(9)
    g = from_edge_list(
        spark, [(rng.randrange(200), rng.randrange(200)) for _ in range(400)],
        n_nodes=200)
    before = _cached_rdds(spark)
    assert len(k_core(g).collect()) == 200
    assert len(_cached_rdds(spark) - before) <= 1
    before = _cached_rdds(spark)
    labels, _ = modularity_optimization(g, max_rounds=8)
    assert len(labels.collect()) == 200
    assert len(_cached_rdds(spark) - before) <= 1


def test_pregel_loop_leaves_session_serializable(spark):
    """The boundary stats are read from the cut's executed plan, not via an
    Observation, whose ObservationManager would make the session (and so
    every closure capturing it, such as MLlib training summaries)
    unserializable."""
    g = from_edge_list(spark, EDGES, n_nodes=6)
    page_rank(g, PageRankConfig(max_iterations=4, small_graph_edges=0))
    jvm = spark._jvm
    jvm.java.io.ObjectOutputStream(
        jvm.java.io.ByteArrayOutputStream()).writeObject(spark._jsparkSession)
