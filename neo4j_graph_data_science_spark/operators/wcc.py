"""Weakly connected components.

Reference: algo/src/main/java/org/neo4j/gds/wcc/Wcc.java:54 -- parallel
union-find with Union-by-Min ("the smaller community ID wins",
HugeAtomicDisjointSetStruct.java:51,164-185), so the component id of an
unseeded run is the MINIMUM internal node id of the component. The sampled
Afforest strategy (SampledStrategy.java) is a shared-memory performance
trick with identical output; it does not port to shuffles.

Spark formulation: iterative min-label propagation over the UNDIRECTED
edge view -- state comp(v) starts at v; each superstep
comp(v) <- min(comp(v), min over neighbors comp(u)); fixpoint when no comp
changed. Converges to min-member id == union-by-min output, exactly.
Supports GDS options: ``threshold`` (only union edges with weight >
threshold, UnsampledStrategy.java:139-168) and ``seed_property``
(incremental seeding: comp starts from the seed column; components merge to
the min seed).

Scale: the min-reducer makes every superstep a map-side-combined shuffle of
at most V rows; pointer jumping keeps iteration count ~O(log diameter).
For adversarial topologies (very long chains at 10^9+ edges) the
large-star/small-star variant (Kiveris et al., "Connected Components in
MapReduce and Beyond") is provided as ``wcc_two_phase`` — it contracts the
EDGE set itself (O(log^2 n) rounds with shrinking data per round) instead
of propagating labels over a static edge set, which also makes each round
cheaper as components collapse. Output is identical (min member id).
"""

from __future__ import annotations

from dataclasses import dataclass

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from ..catalog import DST, SRC, SparkGraph, W, register_cache
from ..plans.checkpoint import truncate_mem
from ..plans.local_kernel import local_wcc, should_run_local
from ..plans.pregel import (
    PregelConfig, PregelResult, prepare_edges, run_pregel,
)


@dataclass
class WccConfig:
    max_iterations: int = 100
    threshold: float | None = None      # union only if weight > threshold
    seed_property: str | None = None    # nodes column carrying seed comp ids
    checkpoint_dir: str | None = None
    run_id: str = "wcc"
    partitions: int | None = None
    consecutive_ids: bool = False
    check_every: int = 1
    # subcritical fast path (plans/local_kernel.py); None -> 2M-edge default,
    # 0 disables. Output identical (min-member component ids).
    small_graph_edges: int | None = None
    # ENGINE EXTENSION (no GDS counterpart; mirrors PageRankConfig.
    # initial_ranks): warm-start components from a previous run's
    # (id, component) frame for incremental pipelines over growing edge
    # sets. Min-propagation's fixpoint is the minimum initial value per
    # connected component, and a previous run's component id IS the min
    # member id of a (now-merged-or-equal) component, so the result is
    # IDENTICAL to a cold start -- labels just arrive pre-propagated, so
    # only the delta (components merged by new edges) needs supersteps.
    # Nodes missing from the frame cold-start at their own id.
    initial_components: "DataFrame | None" = None


def wcc(graph: SparkGraph, config: WccConfig | None = None) -> PregelResult:
    """Returns PregelResult with state (id, component)."""
    cfg = config or WccConfig()
    e = graph.oriented_edges("UNDIRECTED")
    if cfg.threshold is not None:
        e = e.filter(F.col(W) > cfg.threshold)
    eset = register_cache(e.select(SRC, DST).distinct().persist())
    local, _ = should_run_local(eset, graph.nodes, cfg.small_graph_edges,
                                cfg.checkpoint_dir)

    if cfg.seed_property:
        state0 = graph.nodes.select(
            "id", F.col(cfg.seed_property).cast("long").alias("comp")
        )
    else:
        state0 = graph.nodes.select("id", F.col("id").alias("comp"))
    if cfg.initial_components is not None:
        if len(cfg.initial_components.columns) < 2:
            raise ValueError(
                "initial_components must have (id, component) columns; "
                f"got {cfg.initial_components.columns}")
        prev = cfg.initial_components
        ccol = ("component" if "component" in prev.columns
                else prev.columns[1])
        # dedup per id (min matches the fixpoint semantics) so duplicate
        # ids can't duplicate state rows; a label that is no live node id
        # (a removed member, a foreign id space) is stale and would win
        # every min, so those nodes cold-start at their own id instead
        init = (prev.select(F.col(prev.columns[0]).alias("id"),
                            F.col(ccol).cast("long").alias("_c0"))
                .join(graph.nodes.select(F.col("id").alias("_c0")), "_c0",
                      "left_semi")
                .groupBy("id").agg(F.min("_c0").alias("_c0")))
        state0 = (state0.join(init, "id", "left")
                  .select("id", F.coalesce("_c0", F.col("comp"))
                          .alias("comp")))

    if local:
        state, iters, wall = local_wcc(eset, state0)
        eset.unpersist()
        comp = state.select("id", F.col("comp").alias("component"))
        if cfg.consecutive_ids:
            comp = consecutive_ids(comp, "component")
        return PregelResult(
            state=comp, iterations=iters, converged=True,
            metrics=[{"kernel": "local-task", "supersteps": iters,
                      "wall_s": round(wall, 4)}],
        )

    edges = prepare_edges(eset, cfg.partitions)
    state0 = state0.withColumn("changed", F.lit(True))

    def superstep(state: DataFrame, it: int) -> DataFrame:
        # only vertices whose comp changed last round need to re-broadcast it
        active = state.filter(F.col("changed"))
        msgs = (
            edges.join(active.select(F.col("id").alias(SRC), "comp"), SRC)
            .groupBy(F.col(DST).alias("id"))
            .agg(F.min("comp").alias("msg"))
        )
        new = state.join(msgs, "id", "left").select(
            "id",
            F.least(F.col("comp"), F.coalesce("msg", F.col("comp"))).alias("comp"),
            (F.coalesce("msg", F.col("comp")) < F.col("comp")).alias("changed"),
        )
        # pointer jumping, comp <- comp(comp): one extra self-join turns
        # O(diameter) rounds into ~O(log diameter) (transcript NEXT-chains
        # have diameter ~ conversation length: ~10 vs ~hundreds of
        # shuffles at scale). Labels stay member ids of the same component,
        # so the fixpoint (= min member) is unchanged.
        parent = new.select(F.col("id").alias("comp"), F.col("comp").alias("_pc"))
        return (
            new.join(parent, "comp", "left")
            .select(
                "id",
                F.least(F.col("comp"), F.coalesce("_pc", F.col("comp"))).alias("comp"),
                (
                    F.col("changed")
                    | (F.coalesce("_pc", F.col("comp")) < F.col("comp"))
                ).alias("changed"),
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
    comp = res.state.select("id", F.col("comp").alias("component"))
    if cfg.consecutive_ids:
        comp = consecutive_ids(comp, "component")
    res.state = comp
    edges.unpersist()
    eset.unpersist()
    return res


def wcc_two_phase(graph: SparkGraph, config: WccConfig | None = None,
                  max_rounds: int = 60) -> PregelResult:
    """Large-star/small-star connected components (Kiveris et al. 2014).

    Works on a mutating parent-pointer edge set instead of label
    propagation over static edges:

      * large-star: every node u attaches its STRICTLY-LARGER neighbors to
        m(u) = min(neighborhood(u) ∪ {u});
      * small-star: every node u attaches its ≤-neighbors (parents
        included) to m(u).

    Alternating the two converges to star graphs rooted at each
    component's minimum id in O(log² n) rounds, with the edge set
    SHRINKING as components collapse — the property that matters on
    10^9-edge long-chain graphs where label propagation's per-round cost
    stays O(E). Output identical to ``wcc`` (component = min member id);
    equivalence pinned by tests/test_components.py. Convergence is
    detected by the edge set reaching a fixpoint (star edges only), via
    the same single-action stats trick as the Pregel loop (one count per
    round).

    The seeded/threshold/consecutive options of ``wcc`` apply: threshold
    filters edges first; seeds map min-member components to min seed at
    the end (equal semantics, see local_wcc's argument)."""
    cfg = config or WccConfig()
    e = graph.oriented_edges("UNDIRECTED")
    if cfg.threshold is not None:
        e = e.filter(F.col(W) > cfg.threshold)
    # canonical undirected pairs u<v, as (big, small) parent pointers
    pairs = (
        e.select(F.least(SRC, DST).alias("a"), F.greatest(SRC, DST).alias("b"))
        .filter(F.col("a") != F.col("b")).distinct()
        .select(F.col("b").alias("child"), F.col("a").alias("parent"))
        .transform(truncate_mem)
    )
    rounds = 0
    prev_n = pairs.count()
    for rounds in range(1, max_rounds + 1):
        # ---- large-star ----
        nbrs = pairs.unionByName(
            pairs.select(F.col("parent").alias("child"),
                         F.col("child").alias("parent")))
        mins = nbrs.groupBy(F.col("child").alias("u")).agg(
            F.min("parent").alias("_mn"))
        mins = mins.select("u", F.least(F.col("_mn"), F.col("u")).alias("m"))
        pairs = (
            nbrs.withColumnRenamed("child", "u")
            .filter(F.col("parent") > F.col("u"))
            .join(mins, "u")
            .select(F.col("parent").alias("child"), F.col("m").alias("parent"))
            .filter(F.col("child") != F.col("parent")).distinct()
            .transform(truncate_mem)
        )
        # ---- small-star ----
        # every node's ≤-neighbors (its parents) re-attach to the min parent
        mins2 = pairs.groupBy(F.col("child").alias("u")).agg(
            F.min("parent").alias("m"))
        pairs = (
            pairs.withColumnRenamed("child", "u")
            .join(mins2, "u")
            .select(F.col("u"), F.col("parent"), F.col("m"))
        )
        pairs = (
            pairs.select(F.col("u").alias("child"), F.col("m").alias("parent"))
            .unionByName(
                pairs.filter(F.col("parent") != F.col("m"))
                .select(F.col("parent").alias("child"),
                        F.col("m").alias("parent")))
            .filter(F.col("child") != F.col("parent")).distinct()
            .transform(truncate_mem)
        )
        n = pairs.count()
        # fixpoint: star graphs only — every child's parent is a root
        # (appears in no child column); cheap check: edge set stable
        if n == prev_n:
            roots = pairs.select(F.col("parent").alias("child")).distinct()
            if pairs.join(roots, "child", "left_semi").isEmpty():
                break
        prev_n = n
    comp_map = pairs.select(F.col("child").alias("id"),
                            F.col("parent").alias("component"))
    if cfg.seed_property:
        base = graph.nodes.select(
            "id", F.col(cfg.seed_property).cast("long").alias("_seed"))
        comp = (
            base.join(comp_map, "id", "left")
            .select("id", "_seed",
                    F.coalesce("component", F.col("id")).alias("component"))
        )
        seed_min = comp.groupBy("component").agg(F.min("_seed").alias("_sm"))
        comp = comp.join(seed_min, "component") \
            .select("id", F.col("_sm").alias("component"))
    else:
        comp = (
            graph.nodes.select("id")
            .join(comp_map, "id", "left")
            .select("id", F.coalesce("component", F.col("id")).alias("component"))
        )
    if cfg.consecutive_ids:
        comp = consecutive_ids(comp, "component")
    return PregelResult(state=comp, iterations=rounds, converged=True,
                        metrics=[{"algorithm": "two_phase", "rounds": rounds}])


def consecutive_ids(df: DataFrame, col: str) -> DataFrame:
    """GDS consecutiveIds post-processing (CommunityCompanion.java:44-110):
    dense re-numbering of community ids in ascending id order.

    The rank over the distinct community ids is computed with the
    partition-parallel bucketed ranking (catalog.bucketed_dense_ids), not
    a global window: an all-singletons community column has V distinct
    values, so a ``dense_rank() over (order by col)`` would be a
    single-partition sort of the full vertex set at 100x. The bucket is
    value-range based (max/4096), coarse-monotonic as required."""
    from ..catalog import bucketed_dense_ids

    # persisted: feeds the max-probe, the distinct-rank derivation and the
    # re-number join; df is typically a full community result
    df = register_cache(df.persist())
    distinct = df.select(col).distinct()
    hi = distinct.agg(F.max(col)).collect()[0][0]
    width = max(1, (int(hi) if hi is not None else 0) // 4096 + 1)
    ranks = bucketed_dense_ids(
        distinct, [col], F.floor(F.col(col) / F.lit(width))
    ).select(col, F.col("id").alias("_new"))
    return df.join(ranks, col).select("id", F.col("_new").alias(col))
