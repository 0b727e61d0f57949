"""Centrality algorithms beyond degree/PageRank: HITS, harmonic, closeness.

HITS (reference algo/src/main/java/org/neo4j/gds/hits/HitsComputation.java):
phases INIT (auth = in-degree, L2-normalize) then per iteration
CALCULATE_AUTHS -> NORMALIZE_AUTHS -> CALCULATE_HUBS -> NORMALIZE_HUBS:
  auth(v) = sum over in-neighbors of hub(u), then auth /= ||auth||_2
  hub(v)  = sum over out-neighbors of auth(w), then hub /= ||hub||_2
Each phase is one groupBy-sum shuffle + one scalar norm (a broadcast
1-row crossJoin, no driver collect). The distributed engine runs one
plans/pregel.run_pregel superstep per iteration: both phases share one
boundary cut.

Harmonic / closeness (reference closeness/ClosenessCentrality.java:44,
harmonic/HarmonicCentrality.java:37): exact values need all-source BFS.
Like GDS, the traversal is bit-parallel MS-BFS (operators/msbfs.py, 64
sources per long mask), consuming per-depth newly-visited COUNTS -- state
is O(V * S/64) rows, never the (source, node) pair space. ``sources``
additionally bounds S (sampled-source approximation, same as GDS's
sampling option).

  harmonic(v) = sum_{u != v, d(u,v) < inf} 1/d(u,v) / (n - 1)
  closeness(v) (Wasserman-Faust) = (r(v)-1)/(n-1) * (r(v)-1)/sum_dist
"""

from __future__ import annotations

from dataclasses import dataclass
from typing import Sequence

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from ..catalog import DST, SRC, SparkGraph, W, register_cache
from ..plans.local_kernel import local_hits, should_run_local
from ..plans.pregel import (
    PregelConfig, prepare_edges, reduced_messages, run_pregel,
)


@dataclass
class HitsConfig:
    hits_iterations: int = 20
    partitions: int | None = None
    # subcritical fast path (plans/local_kernel.py); None -> 2M-edge
    # default, 0 disables. 2 shuffles + 2 norm phases per iteration become
    # zero jobs on small graphs.
    small_graph_edges: int | None = None


def hits(graph: SparkGraph, config: HitsConfig | None = None) -> DataFrame:
    """(id, auth, hub): L2-normalized per phase, GDS phase order."""
    cfg = config or HitsConfig()
    eset = register_cache(graph.edges.select(SRC, DST).persist())
    local, _ = should_run_local(eset, graph.nodes, cfg.small_graph_edges,
                                None)
    if local:
        out = local_hits(eset, graph.nodes.select("id"),
                         cfg.hits_iterations)
        eset.unpersist()
        return out
    edges = prepare_edges(eset, cfg.partitions)
    nodes = graph.nodes.select("id")

    def _l2_normalized(df: DataFrame, col: str) -> DataFrame:
        # the norm rides along as a broadcast 1-row crossJoin instead of a
        # driver collect: one Spark action per phase (the lineage cut itself)
        # rather than collect + checkpoint (round-1 finding: 3 extra jobs
        # per HITS iteration, pure fixed-cost latency at scale)
        norm = df.agg(
            F.sqrt(F.sum(F.col(col) * F.col(col))).alias("_nrm"))
        return (
            df.crossJoin(F.broadcast(norm))
            .withColumn(col, F.col(col) / F.when(F.col("_nrm") > 0,
                                                 F.col("_nrm")).otherwise(1.0))
            .drop("_nrm")
        )

    # INIT: auth = in-degree, normalized; hub = 1
    indeg = edges.groupBy(F.col(DST).alias("id")).agg(
        F.count(F.lit(1)).cast("double").alias("auth")
    )
    state = _l2_normalized(
        nodes.join(indeg, "id", "left")
        .select("id", F.coalesce("auth", F.lit(0.0)).alias("auth"),
                F.lit(1.0).alias("hub")), "auth")

    def superstep(state: DataFrame, it: int) -> DataFrame:
        # auth(v) = sum of hub over in-neighbors
        auths = reduced_messages(edges, state.select("id", "hub"),
                                 F.col("hub"))
        state = _l2_normalized(state.join(auths, "id", "left").select(
            "id", F.coalesce("msg", F.lit(0.0)).alias("auth"), "hub"), "auth")
        # hub(v) = sum of auth over out-neighbors
        hubs = (
            edges.join(state.select(F.col("id").alias(DST),
                                    F.col("auth").alias("_na")), DST)
            .groupBy(F.col(SRC).alias("id"))
            .agg(F.sum("_na").alias("_h"))
        )
        return _l2_normalized(state.join(hubs, "id", "left").select(
            "id", "auth", F.coalesce("_h", F.lit(0.0)).alias("hub")), "hub")

    # fixed iteration count: both phases of an iteration share one boundary
    res = run_pregel(edges, state, superstep,
                     PregelConfig(max_iterations=cfg.hits_iterations),
                     stats=[], converged_stats=lambda row, it: False)
    edges.unpersist()
    eset.unpersist()
    return res.state.select("id", "auth", "hub")


@dataclass
class ClosenessConfig:
    sources: Sequence[int] | None = None   # None = all nodes (exact)
    max_depth: int = 100
    wasserman_faust: bool = False
    partitions: int | None = None


def harmonic_centrality(graph: SparkGraph, config: ClosenessConfig | None = None) -> DataFrame:
    """(id, centrality): harmonic = sum(1/d(u,v)) / (n-1) over in-paths
    from the source set (HarmonicCentrality.java semantics; undirected
    graphs should be projected UNDIRECTED first)."""
    cfg = config or ClosenessConfig()
    edges = prepare_edges(graph.edges.select(SRC, DST).distinct(), cfg.partitions)
    nodes = graph.nodes.select("id")
    n = nodes.count()
    src_df = nodes if cfg.sources is None else nodes.filter(
        F.col("id").isin([int(s) for s in cfg.sources])
    )
    from .msbfs import msbfs_depth_counts

    counts = msbfs_depth_counts(edges, src_df, cfg.max_depth)
    inv = (
        counts.groupBy("id")
        .agg(F.sum(F.col("cnt") / F.col("dist")).alias("_s"))
    )
    out = nodes.join(inv, "id", "left").select(
        "id",
        (F.coalesce("_s", F.lit(0.0)) / F.lit(max(n - 1, 1))).alias("centrality"),
    )
    edges.unpersist()
    return out


def closeness_centrality(graph: SparkGraph, config: ClosenessConfig | None = None) -> DataFrame:
    """(id, centrality): closeness = (r-1)/sum_dist, or Wasserman-Faust
    ((r-1)/(n-1)) * ((r-1)/sum_dist) (ClosenessCentrality.java:44)."""
    cfg = config or ClosenessConfig()
    edges = prepare_edges(graph.edges.select(SRC, DST).distinct(), cfg.partitions)
    nodes = graph.nodes.select("id")
    n = nodes.count()
    src_df = nodes if cfg.sources is None else nodes.filter(
        F.col("id").isin([int(s) for s in cfg.sources])
    )
    from .msbfs import msbfs_depth_counts

    counts = msbfs_depth_counts(edges, src_df, cfg.max_depth)
    agg = (
        counts.groupBy("id")
        .agg(F.sum("cnt").alias("_r"),
             F.sum(F.col("cnt") * F.col("dist")).alias("_sd"))
    )
    base = F.col("_r") / F.col("_sd")
    if cfg.wasserman_faust:
        base = base * (F.col("_r") / F.lit(max(n - 1, 1)))
    out = nodes.join(agg, "id", "left").select(
        "id",
        F.when(F.col("_sd").isNull() | (F.col("_sd") == 0), F.lit(0.0))
        .otherwise(base).alias("centrality"),
    )
    edges.unpersist()
    return out
