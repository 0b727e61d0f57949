"""Label propagation.

Reference: algo/src/main/java/org/neo4j/gds/labelpropagation/
LabelPropagation.java:45. Semantics reproduced:

  * init label = seed property if present else node id (GDS uses
    maxSeedId + originalNodeId + 1, InitStep.java:61-77 -- an id-shift that
    only relabels; we use the id directly and compare partitions)
  * vote weight = relationshipWeight * nodeWeight(neighbor)
    (ComputeStepConsumer.java:49-58)
  * new label = argmax of summed vote weights, ties -> smaller label id
    (ComputeStepConsumer.java:70-73)
  * converged when no node changed label in a full pass; maxIterations=10
    default (LabelPropagation.java:117-132, LabelPropagationBaseConfig.java:40-43)

DELIBERATE DIVERGENCE: GDS runs batch-ASYNChronously (labels array shared
across in-flight batches, ComputeStep.java:80-90), so its raw labels are
concurrency-dependent; its own tests assert community partitions. This
implementation is SYNCHRONOUS (one BSP superstep per pass) and therefore
deterministic and reproducible across cluster sizes -- tests compare
partitions vs GDS, plus exact labels vs the sync semantics.

Spark plan per superstep: edges join labels on src -> groupBy(dst, label)
sum(vote) -> window argmax (weight desc, label asc). Two shuffles, both
map-side combined; the argmax window partitions by dst so it rides the
groupBy's partitioning.
"""

from __future__ import annotations

from dataclasses import dataclass

from pyspark.sql import DataFrame
from pyspark.sql import functions as F
from pyspark.sql.window import Window

from ..catalog import DST, SRC, SparkGraph, W, register_cache
from ..plans.local_kernel import local_label_propagation, should_run_local
from ..plans.pregel import (
    PregelConfig, PregelResult, prepare_edges, run_pregel,
)


@dataclass
class LabelPropagationConfig:
    max_iterations: int = 10
    seed_property: str | None = None
    node_weight_property: str | None = None
    weighted: bool = False
    undirected: bool = True
    checkpoint_dir: str | None = None
    run_id: str = "lpa"
    partitions: int | None = None
    check_every: int = 1
    # subcritical fast path (plans/local_kernel.py); None -> 2M-edge default,
    # 0 disables. Synchronous semantics are identical.
    small_graph_edges: int | None = None
    # ENGINE EXTENSION (no GDS counterpart; mirrors PageRankConfig.
    # initial_ranks): warm-start labels from a previous run's (id, label)
    # frame for incremental re-runs over growing graphs. LPA has no
    # unique fixpoint, so unlike WCC this changes WHICH stable labeling
    # is reached -- the invariant is that a converged labeling re-fed on
    # an unchanged graph is already stable (re-converges immediately),
    # and on a grown graph only the delta region re-votes. Nodes missing
    # from the frame cold-start at their own id.
    initial_labels: "DataFrame | None" = None


def label_propagation(
    graph: SparkGraph, config: LabelPropagationConfig | None = None
) -> PregelResult:
    """Returns PregelResult with state (id, label)."""
    cfg = config or LabelPropagationConfig()
    e = graph.oriented_edges("UNDIRECTED" if cfg.undirected else "NATURAL")
    # GDS gathers votes from each node's OUT-neighbors (ComputeStep iterates
    # forEachRelationship(node) reading the *target's* label,
    # ComputeStepConsumer.java:49-58). Scatter-style message passing
    # delivers the SRC label to DST, so we reverse the edges first: the
    # label-carrying side becomes src, the receiving node dst. For the
    # (default) undirected projection the edge set is symmetric and this is
    # a no-op semantically.
    edges = e.select(
        F.col(DST).alias(SRC), F.col(SRC).alias(DST), F.col(W)
    )
    if cfg.node_weight_property:
        # vote weight = relationshipWeight * nodeWeight(voting neighbor);
        # post-reversal the voting neighbor is the src side
        nw = graph.nodes.select(
            F.col("id").alias(SRC), F.col(cfg.node_weight_property).alias("_nw")
        )
        edges = edges.join(nw, SRC).withColumn(W, F.col(W) * F.col("_nw")).drop("_nw")
    if not cfg.weighted and not cfg.node_weight_property:
        edges = edges.withColumn(W, F.lit(1.0))
    eset = register_cache(edges.persist())
    local, _ = should_run_local(eset, graph.nodes, cfg.small_graph_edges,
                                cfg.checkpoint_dir)

    if cfg.seed_property:
        state0 = graph.nodes.select(
            "id", F.col(cfg.seed_property).cast("long").alias("label")
        )
    else:
        state0 = graph.nodes.select("id", F.col("id").alias("label"))
    if cfg.initial_labels is not None:
        if len(cfg.initial_labels.columns) < 2:
            raise ValueError(
                "initial_labels must have (id, label) columns; got "
                f"{cfg.initial_labels.columns}")
        prev = cfg.initial_labels
        lcol = "label" if "label" in prev.columns else prev.columns[1]
        # dedup per id (min is arbitrary-but-deterministic) so duplicate
        # ids can't duplicate state rows
        init = (prev.select(F.col(prev.columns[0]).alias("id"),
                            F.col(lcol).cast("long").alias("_l0"))
                .groupBy("id").agg(F.min("_l0").alias("_l0")))
        state0 = (state0.join(init, "id", "left")
                  .select("id", F.coalesce("_l0", F.col("label"))
                          .alias("label")))

    if local:
        state, iters, conv, wall = local_label_propagation(
            eset, state0, cfg.max_iterations)
        eset.unpersist()
        return PregelResult(
            state=state.select("id", "label"), iterations=iters,
            converged=conv,
            metrics=[{"kernel": "local-task", "supersteps": iters,
                      "wall_s": round(wall, 4)}],
        )

    edges = prepare_edges(eset, cfg.partitions)
    state0 = state0.withColumn("changed", F.lit(True))

    def superstep(state: DataFrame, it: int) -> DataFrame:
        votes = (
            edges.join(state.select(F.col("id").alias(SRC), "label"), SRC)
            .groupBy(F.col(DST).alias("id"), "label")
            .agg(F.sum(W).alias("_w"))
        )
        win = Window.partitionBy("id").orderBy(F.col("_w").desc(), F.col("label").asc())
        best = (
            votes.withColumn("_rn", F.row_number().over(win))
            .filter(F.col("_rn") == 1)
            .select("id", F.col("label").alias("_new"))
        )
        return (
            state.select("id", F.col("label").alias("_old"))
            .join(best, "id", "left")
            .select(
                "id",
                F.coalesce("_new", F.col("_old")).alias("label"),
                (F.coalesce("_new", F.col("_old")) != F.col("_old")).alias("changed"),
            )
        )

    res = run_pregel(
        edges, state0, superstep,
        PregelConfig(max_iterations=cfg.max_iterations,
                     checkpoint_dir=cfg.checkpoint_dir, run_id=cfg.run_id,
                     check_every=cfg.check_every),
        stats=[F.max(F.col("changed").cast("int"))],
        converged_stats=lambda row, it: not row[1],
    )
    res.state = res.state.select("id", "label")
    edges.unpersist()
    eset.unpersist()
    return res
