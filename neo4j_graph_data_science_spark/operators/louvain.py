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

The local-move phase is leiden._moves at gamma = 1 (the same kernel
Leiden and modularity optimization run) on plans/pregel.run_pregel; only
the level loop -- contraction and assignment composition -- is Louvain's.
Every structure is a DataFrame; rounds and levels are bounded by config.
GDS's batch-async execution makes its raw labels concurrency-dependent
(like LPA); its own tests assert community structure, which is what our
tests do too.
"""

from __future__ import annotations

from dataclasses import dataclass

from pyspark.sql import functions as F

from ..catalog import SparkGraph
from ..plans.checkpoint import truncate_mem
from .community import modularity as modularity_metric
from .leiden import _contract, _moves, _seeded_labels, _undirected_weighted


@dataclass
class LouvainConfig:
    max_levels: int = 10
    max_local_moves: int = 20
    min_gain: float = 1e-6


def louvain(graph: SparkGraph, config: LouvainConfig | None = None,
            parity_mode: str = "xxhash64"):
    """Returns (labels_df, levels, modularities): labels (id, community)
    on the ORIGINAL ids; modularities per level (GDS result shape).

    parity_mode "md5" pins the round-seeded move-parity draw to a 60-bit
    md5 prefix (see leiden._moves) so the move sequence -- the only
    nondeterministic choice; every weight stays integer-valued through
    contraction, making gains deterministic IEEE doubles -- replays
    bit-for-bit in any engine with a standard md5."""
    cfg = config or LouvainConfig()
    edges = _undirected_weighted(graph)
    nodes = truncate_mem(graph.nodes.select("id"))
    # mapping original id -> current community (starts as identity)
    assignment = nodes.select("id", F.col("id").alias("community"))
    modularities: list[float] = []
    prev_q = None

    for level in range(cfg.max_levels):
        labels0, two_m = _seeded_labels(edges, nodes)
        labels = _moves(edges, labels0, two_m, 1.0, cfg.max_local_moves,
                        False, parity_mode=parity_mode)
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
        # contract: community graph for the next level; self-loops
        # (intra-community weight) stay: they feed k_i and k_{i,own} at the
        # next level, as in textbook Louvain contraction
        edges = _contract(edges, labels)
        nodes = truncate_mem(labels.select(F.col("comm").alias("id")).distinct())
        if edges.count() == 0:
            break
    edges.unpersist()
    return assignment, len(modularities), modularities
