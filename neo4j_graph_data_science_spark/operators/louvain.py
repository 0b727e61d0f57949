"""Louvain community detection.

Reference: algo/src/main/java/org/neo4j/gds/louvain/Louvain.java:51 --
levels of (modularity-optimizing local moves, then graph contraction by
community), until no level improves modularity; final labels are the
composition of per-level assignments.

Spark formulation (synchronous, deterministic):
  * Local-move rounds: for node i with degree k_i, the gain of joining
    community c is  k_{i,c} - k_i * sum_tot(c) / 2m   (constant factors
    dropped -- argmax-equivalent to the standard Louvain delta-Q).
    k_{i,c} = edge weight from i into c, computed with one edges x labels
    join + groupBy(node, community); sum_tot from one groupBy(community).
    Nodes move to the argmax community (ties -> smaller community id) only
    on alternating hash-parity rounds -- the standard distributed-Louvain
    trick that prevents the A<->B simultaneous-swap oscillation while
    keeping every round a pure BSP step.
  * Contraction: edges.groupBy(comm(src), comm(dst)).sum(w) builds the
    next level's multigraph; self-loops carry intra-community weight,
    exactly like GDS's aggregated projection of the community graph.

Every structure is a DataFrame; rounds and levels are bounded by config.
GDS's batch-async execution makes its raw labels concurrency-dependent
(like LPA); its own tests assert community structure, which is what our
tests do too.
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
class LouvainConfig:
    max_levels: int = 10
    max_local_moves: int = 20
    min_gain: float = 1e-6
    partitions: int | None = None


def _local_moves(edges: DataFrame, nodes: DataFrame, max_rounds: int,
                 parity_mode: str = "xxhash64") -> DataFrame:
    """One Louvain level's local-move phase over an undirected weighted
    edge DF (both directions present). Returns (id, comm).

    parity_mode "md5" pins the round-seeded move-parity draw to a 60-bit
    md5 prefix (same construct as leiden._moves) so the move sequence --
    the only nondeterministic choice; every weight stays integer-valued
    through contraction, making gains deterministic IEEE doubles -- replays
    bit-for-bit in any engine with a standard md5."""
    deg = edges.groupBy(F.col(SRC).alias("id")).agg(F.sum(W).alias("k"))
    nodes_k = truncate_mem(nodes.join(deg, "id", "left").fillna(0.0, ["k"]))
    two_m = nodes_k.agg(F.sum("k")).collect()[0][0] or 1.0
    labels = nodes_k.select("id", F.col("id").alias("comm"), "k")

    for rnd in range(max_rounds):
        sum_tot = labels.groupBy("comm").agg(F.sum("k").alias("_tot"))
        k_ic = (
            edges.join(labels.select(F.col("id").alias(DST),
                                     F.col("comm").alias("_nc")), DST)
            .groupBy(F.col(SRC).alias("id"), F.col("_nc").alias("cand"))
            .agg(F.sum(W).alias("_kic"))
        )
        scored = (
            k_ic.join(sum_tot.withColumnRenamed("comm", "cand"), "cand")
            .join(labels, "id")
            .withColumn(
                "_gain",
                F.col("_kic")
                - F.col("k") * (
                    F.col("_tot")
                    - F.when(F.col("cand") == F.col("comm"), F.col("k")).otherwise(0.0)
                ) / F.lit(two_m),
            )
        )
        win = Window.partitionBy("id").orderBy(F.col("_gain").desc(), F.col("cand").asc())
        best = (
            scored.withColumn("_rn", F.row_number().over(win))
            .filter(F.col("_rn") == 1)
            .select("id", F.col("cand").alias("_best"), "_gain")
        )
        # move only improving nodes on alternating hash parity (oscillation
        # guard); _pending tracks improving nodes of EITHER parity so the
        # fixpoint check needs no extra pass. One materialization + one
        # cache-read agg per round.
        # round-seeded parity (see leiden._moves): fixed classes oscillate
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
        labels_new = (
            labels.join(best, "id", "left")
            .select(
                "id",
                F.when(improving & parity, F.col("_best")).otherwise(F.col("comm"))
                .alias("comm"),
                "k",
                improving.alias("_pending"),
            )
        )
        labels_new = truncate_mem(labels_new)
        pending = labels_new.agg(
            F.max(F.col("_pending").cast("int"))
        ).collect()[0][0]
        labels = labels_new.select("id", "comm", "k")
        if not pending:
            break
    return labels.select("id", "comm")


def louvain(graph: SparkGraph, config: LouvainConfig | None = None,
            parity_mode: str = "xxhash64"):
    """Returns (labels_df, levels, modularities): labels (id, community)
    on the ORIGINAL ids; modularities per level (GDS result shape)."""
    cfg = config or LouvainConfig()
    # undirected symmetric weighted edge view, parallel edges summed
    base = graph.aggregated_edges("SUM", "UNDIRECTED") \
        .filter(F.col(SRC) != F.col(DST))
    edges = truncate_mem(base)
    nodes = truncate_mem(graph.nodes.select("id"))
    # mapping original id -> current community (starts as identity)
    assignment = nodes.select("id", F.col("id").alias("community"))
    modularities: list[float] = []
    prev_q = None

    for level in range(cfg.max_levels):
        labels = _local_moves(edges, nodes, cfg.max_local_moves,
                              parity_mode=parity_mode)
        new_assignment = (
            assignment.join(
                labels.select(F.col("id").alias("community"), F.col("comm")),
                "community",
            )
            .select("id", F.col("comm").alias("community"))
        )
        new_assignment = truncate_mem(new_assignment)
        q = modularity_metric(graph, new_assignment, "community") \
            .collect()[0]["modularity"]
        if prev_q is not None and q - prev_q < cfg.min_gain:
            break
        assignment = new_assignment
        modularities.append(q)
        prev_q = q
        # contract: community graph for the next level
        lab_s = labels.select(F.col("id").alias(SRC), F.col("comm").alias("_cs"))
        lab_d = labels.select(F.col("id").alias(DST), F.col("comm").alias("_cd"))
        edges = (
            edges.join(lab_s, SRC).join(lab_d, DST)
            .groupBy(F.col("_cs").alias(SRC), F.col("_cd").alias(DST))
            .agg(F.sum(W).alias(W))
        )
        edges = truncate_mem(edges)
        # self-loops (intra-community weight) stay: they feed k_i and
        # k_{i,own} at the next level, as in textbook Louvain contraction
        nodes = truncate_mem(labels.select(F.col("comm").alias("id")).distinct())
        if edges.count() == 0:
            break
    return assignment, len(modularities), modularities
