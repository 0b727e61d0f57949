"""Approximate maximum k-cut.

Reference: approxmaxkcut/ApproxMaxKCut.java:58 -- GRASP-style: random
k-partition + local search rounds moving nodes to the community that
maximizes the cut (equivalently minimizes the node's intra-partition edge
weight), best of `iterations` restarts. The VNS perturbation is a
randomized escape heuristic; here each restart uses a different hash seed,
which plays the same diversification role deterministically.

Spark shape per local-search round: one edges-join to sum each node's
weight toward every partition (groupBy (node, partition)), one window
argmin, moves gated on round-seeded hash parity (same oscillation guard as
Louvain/Leiden local moves).
"""

from __future__ import annotations

from dataclasses import dataclass

from pyspark.sql import DataFrame
from pyspark.sql import functions as F
from pyspark.sql.window import Window

from ..catalog import DST, SRC, W, SparkGraph
from ..plans.checkpoint import truncate_mem


@dataclass
class MaxKCutConfig:
    k: int = 2
    iterations: int = 4          # GRASP restarts
    local_rounds: int = 12
    seed: int = 42
    # "xxhash64" (default) or "md5": pins BOTH random draws (initial
    # k-partition and round-seeded move parity) to 60-bit md5 prefixes so
    # the whole GRASP run replays bit-for-bit in any engine with a standard
    # md5 -- all weights/cut values are integer-valued, so gains and the
    # best-restart argmax are exact
    hash_mode: str = "xxhash64"


def _cut_weight(edges: DataFrame, part: DataFrame) -> float:
    p1 = part.select(F.col("id").alias(SRC), F.col("part").alias("_p1"))
    p2 = part.select(F.col("id").alias(DST), F.col("part").alias("_p2"))
    row = (
        edges.join(p1, SRC).join(p2, DST)
        .filter(F.col("_p1") != F.col("_p2"))
        .agg((F.sum(W) / 2).alias("cut"))
        .collect()[0]
    )
    return float(row["cut"] or 0.0)


def approx_max_k_cut(graph: SparkGraph, config: MaxKCutConfig | None = None):
    """Returns (assignment_df(id, community), cut_cost) -- the best of
    `iterations` restarts; cut_cost = total weight of cross-partition edges."""
    cfg = config or MaxKCutConfig()
    edges = truncate_mem(
        graph.aggregated_edges("SUM", "UNDIRECTED")
        .filter(F.col(SRC) != F.col(DST)))
    nodes = truncate_mem(graph.nodes.select("id"))
    def _md5_long(*cols):
        return F.conv(
            F.substring(F.md5(F.concat_ws(":", *cols)), 1, 15), 16, 10
        ).cast("long")

    best_df, best_cut = None, -1.0
    for restart in range(cfg.iterations):
        if cfg.hash_mode == "md5":
            init_hash = _md5_long(F.col("id").cast("string"),
                                  F.lit(str(cfg.seed + restart)))
        else:
            init_hash = F.xxhash64("id", F.lit(cfg.seed + restart))
        part = truncate_mem(
            nodes.select(
                "id",
                F.pmod(init_hash, F.lit(cfg.k)).cast("int").alias("part")))
        for rnd in range(cfg.local_rounds):
            nbr = part.select(F.col("id").alias(DST), F.col("part").alias("_np"))
            # weight of node toward each EXISTING neighbor partition; a
            # partition with no neighbors has weight 0 (covered by trying
            # all k via a small sequence explode)
            toward = (
                edges.join(nbr, DST)
                .groupBy(F.col(SRC).alias("id"), F.col("_np").alias("cand"))
                .agg(F.sum(W).alias("_w"))
            )
            allc = nodes.select(
                "id", F.explode(F.sequence(F.lit(0), F.lit(cfg.k - 1)))
                .alias("cand"))
            scored = (
                allc.join(toward, ["id", "cand"], "left")
                .fillna(0.0, ["_w"])
            )
            win = Window.partitionBy("id").orderBy(F.col("_w").asc(),
                                                   F.col("cand").asc())
            bestp = (
                scored.withColumn("_rn", F.row_number().over(win))
                .filter(F.col("_rn") == 1)
                .select("id", F.col("cand").alias("_best"), F.col("_w").alias("_bw"))
            )
            if cfg.hash_mode == "md5":
                parity = F.pmod(
                    _md5_long(F.col("id").cast("string"), F.lit(str(rnd)),
                              F.lit(str(restart))),
                    F.lit(2)) == 0
            else:
                parity = F.pmod(F.xxhash64("id", F.lit(rnd), F.lit(restart)),
                                F.lit(2)) == 0
            cur_w = (
                scored.join(part, "id")
                .filter(F.col("cand") == F.col("part"))
                .select("id", F.col("_w").alias("_cw"))
            )
            moved = (
                part.join(bestp, "id").join(cur_w, "id")
                .select(
                    "id",
                    F.when((F.col("_bw") < F.col("_cw")) & parity,
                           F.col("_best")).otherwise(F.col("part"))
                    .alias("part"),
                    ((F.col("_bw") < F.col("_cw"))).alias("_pending"),
                )
            )
            moved = truncate_mem(moved)
            pending = moved.agg(
                F.max(F.col("_pending").cast("int"))).collect()[0][0]
            part = moved.select("id", "part")
            if not pending:
                break
        cut = _cut_weight(edges, part)
        if cut > best_cut:
            best_cut, best_df = cut, part
    return best_df.select("id", F.col("part").cast("long").alias("community")), best_cut
