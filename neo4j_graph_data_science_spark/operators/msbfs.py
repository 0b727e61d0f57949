"""Bit-parallel multi-source BFS (MS-BFS / ANP).

Reference: msbfs/ANPStrategy.java (+ msbfs/MultiSourceBFSAccessMethods.java)
-- GDS packs 64 BFS sources into one long bitmask so a single traversal
serves 64 searches, and harmonic/closeness/betweenness consume per-depth
"how many sources newly reached node v" counts without ever materializing
per-(source, node) rows.

DataFrame formulation: the state is the result itself, rows
(batch, id, mask, dist) with the bits first reached at hop `dist`; the
visited mask of (batch, id) is the bit_or of its rows. One superstep of
plans/pregel.run_pregel per depth, for ALL batches at once:

  1. rows at the current depth ⋈ edges on src     (co-partitioned join)
  2. groupBy(batch, dst).agg(bit_or(mask))        (ONE combined shuffle,
                                                   map-side partial bit_or)
  3. mask &~ visited, drop zero rows, append      (row-local)

The loop stops when max(dist), observed on the boundary cut, stops
advancing.

Newly-set bits are counted with `bit_count`, all inside whole-stage
codegen. State is O(V * ceil(S/64)) rows instead of the O(V * S) pair
frontier the round-1 implementation carried -- the 64x batching is exactly
GDS's ANP trick, re-expressed relationally.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from ..catalog import DST, SRC, SparkGraph, bucketed_dense_ids
from ..plans.checkpoint import truncate_mem
from ..plans.pregel import PregelConfig, prepare_edges, run_pregel

# decode a 64-bit mask into its set bit positions, JVM-side
_BITS_EXPR = "filter(sequence(0, 63), b -> (shiftright(mask, b) & 1) = 1)"


def _msbfs_frontiers(
    edges: DataFrame, sources: DataFrame, max_depth: int
) -> tuple[DataFrame, DataFrame]:
    """Run the batched BFS on run_pregel over the prepared ``edges``;
    returns (frontiers, source_map).

    frontiers: (batch, id, mask, dist) -- bit b of mask set iff the batch's
    source with bit b first reaches `id` at hop distance `dist`.
    source_map: (_sid, batch, bit) -- which source owns which bit.
    """
    src = sources.select(F.col("id").alias("_sid")).distinct()
    # (batch, bit) assignment via partition-parallel dense ranks (the
    # bucket expr is coarse-monotonic in _sid, see bucketed_dense_ids)
    idx = bucketed_dense_ids(src, ["_sid"], F.floor(F.col("_sid") / F.lit(65536)))
    smap = truncate_mem(
        idx.select(
            "_sid",
            F.shiftright("id", 6).alias("batch"),
            F.pmod("id", F.lit(64)).cast("int").alias("bit"),
        ))
    init = smap.select(
        "batch",
        F.col("_sid").alias("id"),
        F.expr("shiftleft(cast(1 as bigint), bit)").alias("mask"),
        F.lit(0).alias("dist"),
    )

    def superstep(state: DataFrame, depth: int) -> DataFrame:
        # expand the rows first reached at `depth`; keep only the bits no
        # earlier row of (batch, id) holds
        cand = (
            edges.join(
                state.filter(F.col("dist") == depth)
                .select(F.col("id").alias(SRC), "batch", "mask"), SRC
            )
            .groupBy(F.col(DST).alias("id"), "batch")
            .agg(F.bit_or("mask").alias("_m"))
        )
        visited = state.groupBy("batch", "id").agg(F.bit_or("mask").alias("_v"))
        new = (
            cand.join(visited, ["batch", "id"], "left")
            .select(
                "batch",
                "id",
                F.col("_m").bitwiseAND(
                    F.bitwise_not(F.coalesce("_v", F.lit(0).cast("long")))
                ).alias("mask"),
                F.lit(depth + 1).alias("dist"),
            )
            .filter(F.col("mask") != 0)
        )
        return state.unionByName(new)

    res = run_pregel(edges, init, superstep,
                     PregelConfig(max_iterations=max_depth),
                     stats=[F.max("dist")],
                     converged_stats=lambda row, it: (row[1] or 0) <= it)
    return res.state, smap


def msbfs_depth_counts(
    edges: DataFrame, sources: DataFrame, max_depth: int
) -> DataFrame:
    """(id, dist, cnt): how many of `sources` are at hop distance `dist`
    from node `id` (dist >= 1). The aggregation input is the bit-packed
    frontier -- O(V * S/64) rows -- never the (source, node) pair space."""
    out, _ = _msbfs_frontiers(edges, sources, max_depth)
    return (
        out.filter(F.col("dist") > 0)
        .groupBy("id", "dist")
        .agg(F.sum(F.bit_count("mask")).alias("cnt"))
    )


def all_shortest_paths(
    graph: SparkGraph,
    sources: list[int] | None = None,
    max_depth: int = 100,
    partitions: int | None = None,
) -> DataFrame:
    """(source, target, dist): unweighted all-shortest-paths stream
    (gds.allShortestPaths semantics for hop distances). The traversal is
    bit-packed; only this final stream decodes masks back into
    per-(source, target) rows -- callers that need aggregates should use
    msbfs_depth_counts instead and never pay the decode."""
    edges = prepare_edges(graph.edges.select(SRC, DST).distinct(), partitions)
    nodes = graph.nodes.select("id")
    src_df = (
        nodes
        if sources is None
        else nodes.filter(F.col("id").isin([int(s) for s in sources]))
    )
    out, smap = _msbfs_frontiers(edges, src_df, max_depth)
    bits = out.select(
        "batch", "id", "dist", F.explode(F.expr(_BITS_EXPR)).alias("bit")
    )
    res = bits.join(smap, ["batch", "bit"]).select(
        F.col("_sid").alias("source"), F.col("id").alias("target"), "dist"
    )
    edges.unpersist()
    return res
