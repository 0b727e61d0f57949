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

Every round is a pure BSP step (joins + groupBys); state is cut via
plans/checkpoint.truncate_mem, whose size-estimate clamp stops the
join-product sizeInBytes from growing doubly-exponentially over rounds
(the round-1 Louvain hang).
"""

from __future__ import annotations

from dataclasses import dataclass

from pyspark.sql import DataFrame
from pyspark.sql import functions as F
from pyspark.sql.window import Window

from ..catalog import DST, SRC, W, SparkGraph
from ..plans.checkpoint import truncate_mem
from .community import modularity as modularity_metric


@dataclass
class LeidenConfig:
    gamma: float = 1.0           # resolution parameter
    max_levels: int = 10
    max_local_moves: int = 20
    max_refine_moves: int = 10
    min_gain: float = 1e-6


def _moves(edges: DataFrame, labels: DataFrame, two_m: float, gamma: float,
           max_rounds: int, constrained: bool,
           parity_mode: str = "xxhash64") -> DataFrame:
    """Shared local-move kernel. labels: (id, comm, k [, grp]).
    If constrained, a node may only join communities whose nodes share its
    `grp` (the refinement constraint); comm -> grp is then well-defined.
    Gain (argmax-equivalent delta-Q with resolution):
        k_{i,c} - gamma * k_i * (sum_tot(c) - [c == own] k_i) / 2m
    Moves apply on alternating hash parity (oscillation guard).

    parity_mode: "xxhash64" (default, JVM hash) or "md5" (60-bit md5-prefix
    parity, byte-identical in any engine with a standard md5 -- makes the
    whole local-move sequence DuckDB-verifiable; everything else in the
    round is exact integer-valued float arithmetic, so the rounds replay
    bit-for-bit)."""
    cols = ["id", "comm", "k"] + (["grp"] if constrained else [])
    for rnd in range(max_rounds):
        sum_tot = labels.groupBy("comm").agg(F.sum("k").alias("_tot"))
        nbr = labels.select(F.col("id").alias(DST), F.col("comm").alias("_nc"),
                            *([F.col("grp").alias("_ng")] if constrained else []))
        k_ic = (
            edges.join(nbr, DST)
            .groupBy(F.col(SRC).alias("id"), F.col("_nc").alias("cand"),
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
        labels_new = truncate_mem(
            labels.join(best, "id", "left").select(
                *[c for c in cols if c != "comm"],
                F.when(improving & parity, F.col("_best")).otherwise(F.col("comm"))
                .alias("comm"),
                improving.alias("_pending"),
            ))
        pending = labels_new.agg(
            F.max(F.col("_pending").cast("int"))).collect()[0][0]
        labels = labels_new.select(*cols)
        if not pending:
            break
    return labels


def leiden(graph: SparkGraph, config: LeidenConfig | None = None,
           parity_mode: str = "xxhash64"):
    """Returns (labels_df(id, community), levels, modularities) -- same
    result shape as louvain(); community ids live in the original id space."""
    cfg = config or LeidenConfig()
    edges = truncate_mem(
        graph.aggregated_edges("SUM", "UNDIRECTED")
        .filter(F.col(SRC) != F.col(DST)))
    nodes = truncate_mem(graph.nodes.select("id"))
    # original id -> current aggregated node
    agg_map = nodes.select("id", F.col("id").alias("agg"))
    init: DataFrame | None = None  # (id=agg node, comm) seed for local moves
    out = nodes.select("id", F.col("id").alias("community"))
    modularities: list[float] = []
    prev_q = None

    for level in range(cfg.max_levels):
        deg = edges.groupBy(F.col(SRC).alias("id")).agg(F.sum(W).alias("k"))
        nodes_k = truncate_mem(
            nodes.join(deg, "id", "left").fillna(0.0, ["k"]))
        two_m = nodes_k.agg(F.sum("k")).collect()[0][0] or 1.0
        seed = (init if init is not None
                else nodes_k.select("id", F.col("id").alias("comm")))
        labels0 = truncate_mem(nodes_k.join(seed.select("id", "comm"), "id"))
        coarse = _moves(edges, labels0.select("id", "comm", "k"), two_m,
                        cfg.gamma, cfg.max_local_moves, False,
                        parity_mode=parity_mode)

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
        r_s = refined.select(F.col("id").alias(SRC), F.col("comm").alias("_rs"))
        r_d = refined.select(F.col("id").alias(DST), F.col("comm").alias("_rd"))
        edges = truncate_mem(
            edges.join(r_s, SRC).join(r_d, DST)
            .groupBy(F.col("_rs").alias(SRC), F.col("_rd").alias(DST))
            .agg(F.sum(W).alias(W)))
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
    return out, len(modularities), modularities


def modularity_optimization(graph: SparkGraph, seed: DataFrame | None = None,
                            gamma: float = 1.0, max_rounds: int = 20,
                            parity_mode: str = "xxhash64"):
    """Standalone modularity optimization (modularityoptimization/
    ModularityOptimization.java:61): the local-move phase alone -- no
    contraction levels -- optionally warm-started from a seed partition
    (id, community). Returns (labels_df(id, community), modularity)."""
    edges = truncate_mem(
        graph.aggregated_edges("SUM", "UNDIRECTED")
        .filter(F.col(SRC) != F.col(DST)))
    deg = edges.groupBy(F.col(SRC).alias("id")).agg(F.sum(W).alias("k"))
    nodes_k = truncate_mem(
        graph.nodes.select("id").join(deg, "id", "left").fillna(0.0, ["k"]))
    two_m = nodes_k.agg(F.sum("k")).collect()[0][0] or 1.0
    if seed is not None:
        labels0 = nodes_k.join(
            seed.select("id", F.col("community").alias("comm")), "id", "left"
        ).select("id", F.coalesce("comm", F.col("id")).alias("comm"), "k")
    else:
        labels0 = nodes_k.select("id", F.col("id").alias("comm"), "k")
    labels = _moves(edges, truncate_mem(labels0), two_m, gamma,
                    max_rounds, False, parity_mode=parity_mode)
    out = labels.select("id", F.col("comm").alias("community"))
    q = modularity_metric(graph, out, "community").collect()[0]["modularity"]
    return out, q
