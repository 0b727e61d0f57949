"""Strongly connected components.

Reference: algo/src/main/java/org/neo4j/gds/scc/Scc.java:36 -- a SEQUENTIAL
iterative Tarjan variant whose component ids are traversal-order-dependent;
GDS's own tests therefore assert component *structure*, not ids
(SccTest.java:77-101). We normalize component id = MIN member id, which is a
stable canonical labeling of the same partition.

Distributed formulation (shared-memory Tarjan does not port): iterative
trim + forward/backward min-label peeling, the standard Pregel-style SCC
(cf. Hong et al. "On fast parallel detection of strongly connected
components"):

  1. TRIM: repeatedly peel vertices with zero in- or out-degree in the
     remaining subgraph -- each is a singleton SCC. (Kills all acyclic
     structure cheaply; chains/trees never reach the expensive phase.)
  2. For the remainder: f(v) = min id that can REACH v (forward min
     propagation to fixpoint); b(v) = min id v can reach (backward).
     Vertices with f(v) == b(v) == c are exactly SCC(c) for each root c
     that is the minimum of both reachability sets; assign component=f(v),
     remove them, repeat until no vertex remains. Each round removes at
     least the SCC of the minimum remaining id.

All phases are edge joins + min-reduced shuffles on the Pregel kernel.
"""

from __future__ import annotations

from dataclasses import dataclass

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from ..catalog import DST, SRC, SparkGraph
from ..plans.checkpoint import release, truncate_mem
from ..plans.local_kernel import local_scc, should_run_local
from ..plans.pregel import PregelConfig, prepare_edges, run_pregel


@dataclass
class SccConfig:
    partitions: int | None = None
    # subcritical fast path: driver-side iterative Tarjan (the reference's own
    # execution shape) below 2M edges; 0 disables.
    small_graph_edges: int | None = None


def _min_propagate(edges: DataFrame, nodes: DataFrame, reverse: bool,
                   max_iters: int) -> DataFrame:
    """Fixpoint of label(v) = min(label(v), min over in-neighbors' labels):
    the loop's final (id, comp, changed) cut.

    reverse=False propagates along src->dst (f = min id reaching v);
    reverse=True along dst->src (b = min id v reaches).
    """
    a, b = (DST, SRC) if reverse else (SRC, DST)
    state0 = nodes.select("id", F.col("id").alias("comp"),
                          F.lit(True).alias("changed"))

    def superstep(state: DataFrame, it: int) -> DataFrame:
        active = state.filter(F.col("changed"))
        msgs = (
            edges.join(active.select(F.col("id").alias(a), "comp"), a)
            .groupBy(F.col(b).alias("id"))
            .agg(F.min("comp").alias("msg"))
        )
        return state.join(msgs, "id", "left").select(
            "id",
            F.least(F.col("comp"), F.coalesce("msg", F.col("comp"))).alias("comp"),
            (F.coalesce("msg", F.col("comp")) < F.col("comp")).alias("changed"),
        )

    return run_pregel(edges, state0, superstep,
                      PregelConfig(max_iterations=max_iters),
                      stats=[F.max(F.col("changed").cast("int"))],
                      converged_stats=lambda row, it: not row[1]).state


def scc(graph: SparkGraph, config: SccConfig | None = None) -> DataFrame:
    """Returns (id, component) with component = min member id (exact)."""
    cfg = config or SccConfig()
    # lineage cut (not persist) everywhere: each round's plan references
    # the previous round's DFs multiple times, so only a true cut keeps
    # Catalyst analysis O(1) per round.
    all_edges = graph.edges.select(SRC, DST).distinct().transform(truncate_mem)
    local, _ = should_run_local(all_edges, graph.nodes, cfg.small_graph_edges,
                                None)
    if local:
        return local_scc(all_edges, graph.nodes.select("id"))
    remaining = graph.nodes.select("id").transform(truncate_mem)
    # every cut is released once nothing reads it again, except the ones
    # assigned_parts holds: those are the result
    assigned_parts: list[DataFrame] = []

    while (n := remaining.count()) > 0:
        e = (
            all_edges.join(remaining.withColumnRenamed("id", SRC), SRC, "left_semi")
            .join(remaining.withColumnRenamed("id", DST), DST, "left_semi")
            .filter(F.col(SRC) != F.col(DST))
            .transform(truncate_mem)
        )
        # ---- TRIM: peel zero in/out degree vertices (singleton SCCs) ----
        while True:
            with_out = e.select(F.col(SRC).alias("id")).distinct()
            with_in = e.select(F.col(DST).alias("id")).distinct()
            on_cycle = with_out.join(with_in, "id", "inner") \
                .transform(truncate_mem)
            trimmed = remaining.join(on_cycle, "id", "left_anti") \
                .transform(truncate_mem)
            peeled = trimmed.count()
            if peeled == 0:
                release(trimmed)
                release(on_cycle)
                break
            n -= peeled
            assigned_parts.append(
                trimmed.select("id", F.col("id").alias("component"))
            )
            rest = remaining.join(on_cycle, "id", "inner") \
                .transform(truncate_mem)
            release(remaining)
            release(on_cycle)
            remaining = rest
            rest = (
                e.join(remaining.withColumnRenamed("id", SRC), SRC, "left_semi")
                .join(remaining.withColumnRenamed("id", DST), DST, "left_semi")
                .transform(truncate_mem)
            )
            release(e)
            e = rest
        if n == 0:
            release(e)
            break
        # ---- peel: forward/backward min labels over remaining subgraph;
        # a label travels along a shortest path, at most n-1 edges, so n
        # supersteps always reach the fixpoint ----
        ep = prepare_edges(e, cfg.partitions)
        fwd = _min_propagate(ep, remaining, False, n)
        bwd = _min_propagate(ep, remaining, True, n)
        both = fwd.select("id", F.col("comp").alias("f")).join(
            bwd.select("id", F.col("comp").alias("b")), "id"
        )
        done = both.filter(F.col("f") == F.col("b")).select(
            "id", F.col("f").alias("component")
        ).transform(truncate_mem)
        release(fwd)
        release(bwd)
        assigned_parts.append(done)
        rest = remaining.join(done, "id", "left_anti") \
            .transform(truncate_mem)
        release(remaining)
        remaining = rest
        ep.unpersist()
        release(e)
    release(remaining)
    release(all_edges)

    out = assigned_parts[0] if assigned_parts else graph.nodes.select(
        "id", F.col("id").alias("component")
    ).limit(0)
    for p in assigned_parts[1:]:
        out = out.unionByName(p)
    return out
