"""Betweenness centrality (Brandes), multi-source BSP.

Reference: algo/src/main/java/org/neo4j/gds/betweenness/
BetweennessCentrality.java:42 -- per-source forward BFS accumulating
shortest-path counts (sigma), then backward dependency accumulation
``delta(v) += sigma_v / sigma_w * (1 + delta_w)`` over successors w, with
contributions divided by 2 on undirected graphs
(BetweennessCentrality.java:98: ``divisor = isUndirected ? 2 : 1``).
Source sampling mirrors RandomDegreeSelectionStrategy.java:42 (pick K
sources with probability proportional to degree) via deterministic
exponential-keys weighted sampling (hash-seeded, no driver randomness).

Spark formulation: ALL sources advance together in one (s, node) pair
frontier -- each BFS level is one edges-join + one (s, node) groupBy, so
the Spark job count is O(diameter), independent of the source count. The
backward sweep walks levels deepest-first with the same join shape.
State is O(sources x reachable) rows hash-sharded by (s, node); sampling
caps it. (The reference's MS-BFS packs 64 sources per long word; here the
pair rows shard across the cluster instead of bits across a word -- same
batching idea, DataFrame-native.)

Parallel edges count as distinct shortest paths, matching the reference's
per-relationship relaxation: the edge multiplicity multiplies sigma and
the backward contribution.
"""

from __future__ import annotations

from dataclasses import dataclass

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from ..catalog import DST, SRC, SparkGraph
from ..plans.checkpoint import truncate_mem

_MULT = "_mult"


@dataclass
class BetweennessConfig:
    sampling_size: int | None = None   # None = all nodes (FullSelectionStrategy)
    sampling_seed: int = 42
    undirected: bool = False           # divisor=2, traverse both directions
    max_depth: int = 64                # safety bound on BFS levels
    # Scale guard (round-2 verdict #8): exact Brandes carries an
    # O(sources x reachable) pair frontier -- quadratic state on a large
    # connected graph. With sampling_size=None and more than this many
    # nodes, the run auto-downgrades to degree-weighted sampling of this
    # many sources (a warning is logged); set force_exact=True to accept
    # the quadratic frontier anyway (exact mode is for subgraph scale).
    exact_node_limit: int = 4096
    force_exact: bool = False


def _select_sources(graph: SparkGraph, cfg: BetweennessConfig) -> DataFrame:
    nodes = graph.nodes.select("id")
    if cfg.sampling_size is None:
        return nodes.select(F.col("id").alias("s"))
    # degree-weighted sampling without replacement (Efraimidis-Spirakis
    # exponential keys): key = -ln(u)/degree, keep K smallest. u derives
    # from xxhash64(id, seed) so the sample is deterministic and fully
    # parallel; TakeOrderedAndProject keeps only K rows per partition.
    deg = graph.degrees("UNDIRECTED" if cfg.undirected else "NATURAL")
    u = (F.pmod(F.xxhash64("id", F.lit(cfg.sampling_seed)), F.lit(1_000_000_007))
         .cast("double") + F.lit(0.5)) / F.lit(1_000_000_007.0)
    key = -F.log(u) / (F.col("degree") + F.lit(1e-9))
    return (
        deg.filter(F.col("degree") > 0)
        .withColumn("_key", key)
        .orderBy("_key")
        .limit(cfg.sampling_size)
        .select(F.col("id").alias("s"))
    )


def betweenness(graph: SparkGraph, config: BetweennessConfig | None = None) -> DataFrame:
    """Returns (id, score). Exact Brandes when sampling_size is None."""
    cfg = config or BetweennessConfig()
    if cfg.sampling_size is None and not cfg.force_exact:
        n_nodes = graph.nodes.count()
        if n_nodes > cfg.exact_node_limit:
            import warnings

            warnings.warn(
                f"betweenness: exact Brandes over {n_nodes} nodes would carry "
                f"an O(V^2) pair frontier; auto-sampling "
                f"{cfg.exact_node_limit} degree-weighted sources "
                "(set force_exact=True or sampling_size to override)",
                stacklevel=2,
            )
            cfg = BetweennessConfig(
                sampling_size=cfg.exact_node_limit,
                sampling_seed=cfg.sampling_seed, undirected=cfg.undirected,
                max_depth=cfg.max_depth, exact_node_limit=cfg.exact_node_limit,
            )
    orient = "UNDIRECTED" if cfg.undirected else "NATURAL"
    divisor = 2.0 if cfg.undirected else 1.0
    edges = (
        graph.oriented_edges(orient)
        .groupBy(SRC, DST)
        .agg(F.count(F.lit(1)).cast("double").alias(_MULT))
        .transform(truncate_mem)
    )

    sources = _select_sources(graph, cfg)
    frontier = sources.select(
        "s", F.col("s").alias("node"), F.lit(1.0).alias("sigma")
    ).transform(truncate_mem)
    visited = frontier.withColumn("dist", F.lit(0)).transform(truncate_mem)

    # ---- forward: layered multi-source BFS with sigma accumulation ------
    depth = 0
    while depth < cfg.max_depth:
        msgs = (
            frontier.join(edges, frontier.node == edges[SRC])
            .select("s", F.col(DST).alias("node"),
                    (F.col("sigma") * F.col(_MULT)).alias("_sig"))
        )
        new = (
            msgs.join(visited.select("s", "node"), ["s", "node"], "left_anti")
            .groupBy("s", "node").agg(F.sum("_sig").alias("sigma"))
            .transform(truncate_mem)
        )
        if new.isEmpty():
            break
        depth += 1
        visited = visited.unionByName(
            new.withColumn("dist", F.lit(depth))
        ).transform(truncate_mem)
        frontier = new

    # ---- backward: dependency accumulation level by level ---------------
    # delta at the deepest level is 0; walking up, each node's delta is the
    # sum over successor levels' (1+delta) scaled by sigma ratios.
    spark = graph.nodes.sparkSession
    delta_next = None  # (s, node, sigma, delta) at level d+1
    acc: DataFrame | None = None  # accumulated (node, contrib)
    for d in range(depth - 1, -1, -1):
        level = visited.filter(F.col("dist") == d)
        nxt = (delta_next if delta_next is not None
               else visited.filter(F.col("dist") == depth)
               .withColumn("delta", F.lit(0.0)))
        contrib = (
            level.join(edges, level.node == edges[SRC])
            .join(
                nxt.select("s", F.col("node").alias(DST),
                           F.col("sigma").alias("_sw"), "delta"),
                ["s", DST],
            )
            .groupBy("s", "node", "sigma")
            .agg(F.sum(
                F.col(_MULT) * F.col("sigma") / F.col("_sw")
                * (F.lit(1.0) + F.col("delta"))
            ).alias("delta"))
        )
        delta_next = (
            level.select("s", "node", "sigma")
            .join(contrib.select("s", "node", "delta"), ["s", "node"], "left")
            .fillna(0.0, ["delta"])
            .transform(truncate_mem)
        )
        part = delta_next.filter(F.col("node") != F.col("s")) \
            .select("node", "delta")
        acc = part if acc is None else acc.unionByName(part)

    if acc is None:
        return graph.nodes.select("id", F.lit(0.0).alias("score"))
    scores = acc.groupBy(F.col("node").alias("id")).agg(
        (F.sum("delta") / F.lit(divisor)).alias("score")
    )
    return (
        graph.nodes.select("id")
        .join(scores, "id", "left")
        .select("id", F.coalesce("score", F.lit(0.0)).alias("score"))
    )
