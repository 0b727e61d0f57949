"""Leiden community detection.

Reference: leiden/Leiden.java:44 -- per level: (1) modularity local moves
with resolution gamma, (2) REFINEMENT: each coarse community is
re-partitioned from singletons with merges constrained to stay inside the
community (this is Leiden's fix for Louvain's badly-connected communities),
(3) graph aggregation by the REFINED partition, with the next level's local
moves seeded by the coarse community of each aggregated node.

GDS's refinement merges randomly with temperature theta
(leiden/RefinementPhase.java); here the merge choice is the deterministic
argmax (the theta -> 0 limit) so results are reproducible under any
cluster size / partitioning, which the north rule requires. GDS's own
tests assert community structure rather than exact labels, and so do ours.

One local-move kernel (``_moves``) serves the coarse and refinement
phases here, Louvain's levels and modularity optimization. It runs on
plans/pregel.run_pregel over each level's prepared edges: one superstep per
move round, the parity round is the superstep index, and the loop stops
once the boundary cut observes no pending node. The level loops cut their
per-level frames via plans/checkpoint.truncate_mem, whose size-estimate
clamp stops the join-product sizeInBytes from growing doubly-exponentially
over rounds (the round-1 Louvain hang).
"""

from __future__ import annotations

from dataclasses import dataclass

from pyspark.sql import DataFrame
from pyspark.sql import functions as F
from pyspark.sql.window import Window

from ..catalog import DST, SRC, W, SparkGraph
from ..plans.checkpoint import truncate_mem
from ..plans.pregel import PregelConfig, prepare_edges, run_pregel
from .community import modularity as modularity_metric


@dataclass
class LeidenConfig:
    gamma: float = 1.0           # resolution parameter
    max_levels: int = 10
    max_local_moves: int = 20
    max_refine_moves: int = 10
    min_gain: float = 1e-6


def _seeded_labels(edges: DataFrame, nodes: DataFrame,
                   seed: DataFrame | None = None) -> tuple[DataFrame, float]:
    """One level's local-move input: labels (id, comm, k) with k the
    weighted degree over ``edges`` and comm the ``seed`` (id, comm)
    community of the node, or the node itself; plus 2m, the degree total
    (at least 1)."""
    deg = edges.groupBy(F.col(SRC).alias("id")).agg(F.sum(W).alias("k"))
    nodes_k = nodes.join(deg, "id", "left").fillna(0.0, ["k"])
    two_m = nodes_k.agg(F.sum("k")).collect()[0][0] or 1.0
    if seed is None:
        return nodes_k.select("id", F.col("id").alias("comm"), "k"), two_m
    return nodes_k.join(seed.select("id", "comm"), "id", "left").select(
        "id", F.coalesce("comm", F.col("id")).alias("comm"), "k"), two_m


def _moves(edges: DataFrame, labels: DataFrame, two_m: float, gamma: float,
           max_rounds: int, constrained: bool,
           parity_mode: str = "xxhash64") -> DataFrame:
    """The local-move kernel of Louvain, Leiden and modularity
    optimization, on run_pregel over the prepared symmetric ``edges``.
    labels: (id, comm, k [, grp]).
    If constrained, a node may only join communities whose nodes share its
    `grp` (the refinement constraint); comm -> grp is then well-defined.
    Gain (argmax-equivalent delta-Q with resolution):
        k_{i,c} - gamma * k_i * (sum_tot(c) - [c == own] k_i) / 2m
    Moves apply on alternating hash parity (oscillation guard), seeded by
    the superstep index; ``_pending`` marks the improving nodes of EITHER
    parity and the loop stops when none is left.

    parity_mode: "xxhash64" (default, JVM hash) or "md5" (60-bit md5-prefix
    parity, byte-identical in any engine with a standard md5 -- makes the
    whole local-move sequence DuckDB-verifiable; everything else in the
    round is exact integer-valued float arithmetic, so the rounds replay
    bit-for-bit)."""
    cols = ["id", "comm", "k"] + (["grp"] if constrained else [])

    def superstep(state: DataFrame, rnd: int) -> DataFrame:
        labels = state.select(*cols)
        sum_tot = labels.groupBy("comm").agg(F.sum("k").alias("_tot"))
        # k_{i,c} over the symmetric edges: each edge (j, i) adds its
        # weight to i's score for comm(j), joined on the src layout
        nbr = labels.select(F.col("id").alias(SRC), F.col("comm").alias("_nc"),
                            *([F.col("grp").alias("_ng")] if constrained else []))
        k_ic = (
            edges.join(nbr, SRC)
            .groupBy(F.col(DST).alias("id"), F.col("_nc").alias("cand"),
                     *([F.col("_ng").alias("_cg")] if constrained else []))
            .agg(F.sum(W).alias("_kic"))
        )
        scored = (
            k_ic.join(sum_tot.withColumnRenamed("comm", "cand"), "cand")
            .join(labels, "id")
        )
        if constrained:
            scored = scored.filter(F.col("_cg") == F.col("grp"))
        scored = scored.withColumn(
            "_gain",
            F.col("_kic")
            - F.lit(gamma) * F.col("k") * (
                F.col("_tot")
                - F.when(F.col("cand") == F.col("comm"), F.col("k")).otherwise(0.0)
            ) / F.lit(two_m),
        )
        win = Window.partitionBy("id").orderBy(F.col("_gain").desc(),
                                               F.col("cand").asc())
        best = (
            scored.withColumn("_rn", F.row_number().over(win))
            .filter(F.col("_rn") == 1)
            .select("id", F.col("cand").alias("_best"), "_gain")
        )
        # round-seeded parity: a FIXED per-node class lets two adjacent
        # same-class nodes swap communities forever (period-2/4 cycles);
        # re-drawing the moving subset each round breaks every such cycle
        # almost surely while keeping rounds deterministic
        if parity_mode == "md5":
            parity = F.pmod(
                F.conv(
                    F.substring(
                        F.md5(F.concat_ws(":", F.col("id").cast("string"),
                                          F.lit(str(rnd)))),
                        1, 15),
                    16, 10).cast("long"),
                F.lit(2)) == 0
        else:
            parity = F.pmod(F.xxhash64("id", F.lit(rnd)), F.lit(2)) == 0
        improving = F.col("_best").isNotNull() & (F.col("_best") != F.col("comm")) \
            & (F.col("_gain") > 0)
        return labels.join(best, "id", "left").select(
            *[c for c in cols if c != "comm"],
            F.when(improving & parity, F.col("_best")).otherwise(F.col("comm"))
            .alias("comm"),
            improving.alias("_pending"),
        )

    res = run_pregel(edges, labels.withColumn("_pending", F.lit(True)),
                     superstep, PregelConfig(max_iterations=max_rounds),
                     stats=[F.max(F.col("_pending").cast("int"))],
                     converged_stats=lambda row, it: not row[1])
    return res.state.select(*cols)


def _undirected_weighted(graph: SparkGraph) -> DataFrame:
    """The prepared undirected weighted edge view, parallel edges summed
    and self-loops dropped: both directions of every edge are present."""
    return prepare_edges(
        graph.aggregated_edges("SUM", "UNDIRECTED")
        .filter(F.col(SRC) != F.col(DST)))


def _contract(edges: DataFrame, labels: DataFrame) -> DataFrame:
    """The next level's prepared multigraph over ``labels`` (id, comm):
    weights summed per community pair; self-loops carry the intra-community
    weight. The superseded ``edges`` are dropped."""
    lab_s = labels.select(F.col("id").alias(SRC), F.col("comm").alias("_cs"))
    lab_d = labels.select(F.col("id").alias(DST), F.col("comm").alias("_cd"))
    contracted = prepare_edges(
        edges.join(lab_s, SRC).join(lab_d, DST)
        .groupBy(F.col("_cs").alias(SRC), F.col("_cd").alias(DST))
        .agg(F.sum(W).alias(W)))
    edges.unpersist()
    return contracted


def leiden(graph: SparkGraph, config: LeidenConfig | None = None,
           parity_mode: str = "xxhash64"):
    """Returns (labels_df(id, community), levels, modularities) -- same
    result shape as louvain(); community ids live in the original id space."""
    cfg = config or LeidenConfig()
    edges = _undirected_weighted(graph)
    nodes = truncate_mem(graph.nodes.select("id"))
    # original id -> current aggregated node
    agg_map = nodes.select("id", F.col("id").alias("agg"))
    init: DataFrame | None = None  # (id=agg node, comm) seed for local moves
    out = nodes.select("id", F.col("id").alias("community"))
    modularities: list[float] = []
    prev_q = None

    for level in range(cfg.max_levels):
        labels0, two_m = _seeded_labels(edges, nodes, init)
        coarse = _moves(edges, labels0, two_m, cfg.gamma,
                        cfg.max_local_moves, False, parity_mode=parity_mode)

        # ---- output + termination check on the ORIGINAL graph ----------
        new_out = truncate_mem(
            agg_map.join(coarse.select(F.col("id").alias("agg"),
                                       F.col("comm").alias("community")), "agg")
            .select("id", "community"))
        q = modularity_metric(graph, new_out, "community") \
            .collect()[0]["modularity"]
        if prev_q is not None and q - prev_q < cfg.min_gain:
            break
        out, prev_q = new_out, q
        modularities.append(q)

        # ---- refinement: singletons, merges constrained to coarse comm --
        ref0 = coarse.select(
            "id", F.col("id").alias("comm"), "k", F.col("comm").alias("grp"))
        refined = _moves(edges, ref0, two_m, cfg.gamma,
                         cfg.max_refine_moves, True,
                         parity_mode=parity_mode)

        # ---- aggregate by REFINED partition -----------------------------
        edges = _contract(edges, refined)
        nodes = truncate_mem(
            refined.select(F.col("comm").alias("id")).distinct())
        # next level's seed: each refined community starts in its COARSE comm
        init = truncate_mem(
            refined.select(F.col("comm").alias("id"), F.col("grp").alias("comm"))
            .distinct())
        agg_map = truncate_mem(
            agg_map.join(
                refined.select(F.col("id").alias("agg"), F.col("comm").alias("_r")),
                "agg",
            ).select("id", F.col("_r").alias("agg")))
        if edges.filter(F.col(SRC) != F.col(DST)).isEmpty():
            break
    edges.unpersist()
    return out, len(modularities), modularities


def modularity_optimization(graph: SparkGraph, seed: DataFrame | None = None,
                            gamma: float = 1.0, max_rounds: int = 20,
                            parity_mode: str = "xxhash64"):
    """Standalone modularity optimization (modularityoptimization/
    ModularityOptimization.java:61): the local-move phase alone -- no
    contraction levels -- optionally warm-started from a seed partition
    (id, community). Returns (labels_df(id, community), modularity)."""
    edges = _undirected_weighted(graph)
    labels0, two_m = _seeded_labels(
        edges, graph.nodes.select("id"),
        None if seed is None
        else seed.select("id", F.col("community").alias("comm")))
    labels = _moves(edges, labels0, two_m, gamma, max_rounds, False,
                    parity_mode=parity_mode)
    edges.unpersist()
    out = labels.select("id", F.col("comm").alias("community"))
    q = modularity_metric(graph, out, "community").collect()[0]["modularity"]
    return out, q
