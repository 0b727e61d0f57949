"""Path / traversal algorithms: BFS, single-source shortest paths.

Reference semantics:
  * BFS: algo/src/main/java/org/neo4j/gds/paths/traverse/BFS.java --
    level-synchronous frontier expansion; result = hop distance.
  * SSSP: GDS ships Dijkstra (paths/dijkstra/Dijkstra.java:43) and
    Delta-stepping (paths/delta/DeltaStepping.java:51) and Bellman-Ford
    (paths/bellmanford/BellmanFord.java:49). A driver-side priority queue
    does not distribute; the DataFrame-native formulation is Bellman-Ford
    frontier relaxation -- exactly delta-stepping with a single unbounded
    bucket. For non-negative weights the fixpoint equals Dijkstra's output.

Spark plan per round: frontier (vertices whose dist improved) joins the
src-partitioned edges, candidate dists combine per dst with a min-reducer
(one map-side-combined shuffle -- the ReducingMessenger), then fold into
state with least(). Rounds = graph diameter for BFS / #relaxation waves for
SSSP. Scale: frontier is a filtered state DF, so message volume tracks the
active set, not V; hubs are handled by the min-combiner + AQE.
"""

from __future__ import annotations

from dataclasses import dataclass
from typing import Sequence

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from ..catalog import DST, SRC, SparkGraph, W, register_cache
from ..plans.checkpoint import truncate_mem
from ..plans.local_kernel import (
    LOCAL_PATHS_MAX_EDGES, local_dijkstra_paths, local_relax_dist,
    should_run_local,
)
from ..plans.pregel import PregelConfig, prepare_edges, run_pregel

INF = float("inf")


@dataclass
class PathConfig:
    max_iterations: int = 200
    weighted: bool = False
    partitions: int | None = None
    # subcritical fast path (plans/local_kernel.py): dist-only ops (bfs /
    # shortest_paths) default to the 2M-edge kernel threshold; the
    # with-paths ops (dijkstra/astar) default to the tighter
    # LOCAL_PATHS_MAX_EDGES. 0 disables.
    small_graph_edges: int | None = None


def _relax_loop(edges: DataFrame, state0: DataFrame, cost, max_iters: int) -> DataFrame:
    """Generic relaxation: state (id, dist, changed); cost = Column over the
    joined (edge, src-state) row giving the candidate dist at dst."""

    def superstep(state: DataFrame, it: int) -> DataFrame:
        frontier = state.filter(F.col("changed") & (F.col("dist") != INF))
        cands = (
            edges.join(
                frontier.select(F.col("id").alias(SRC), F.col("dist").alias("_sd")), SRC
            )
            .select(F.col(DST).alias("id"), cost.alias("_cand"))
            .groupBy("id")
            .agg(F.min("_cand").alias("cand"))
        )
        return (
            state.join(cands, "id", "left")
            .select(
                "id",
                F.least(F.col("dist"), F.coalesce("cand", F.col("dist"))).alias("dist"),
                (F.coalesce("cand", F.lit(INF)) < F.col("dist")).alias("changed"),
            )
        )

    res = run_pregel(edges, state0, superstep,
                     PregelConfig(max_iterations=max_iters),
                     stats=[F.max(F.col("changed").cast("int"))],
                     converged_stats=lambda row, it: not row[1])
    return res.state.select("id", "dist")


def bfs(graph: SparkGraph, sources: Sequence[int],
        config: PathConfig | None = None) -> DataFrame:
    """(id, dist): minimum hop count from any source; unreachable omitted."""
    cfg = config or PathConfig()
    eset = register_cache(graph.edges.select(SRC, DST).distinct().persist())
    local, _ = should_run_local(eset, graph.nodes, cfg.small_graph_edges,
                                None)
    src_list = [int(s) for s in sources]
    state0 = graph.nodes.select(
        "id",
        F.when(F.col("id").isin(src_list), F.lit(0.0)).otherwise(F.lit(INF)).alias("dist"),
        F.col("id").isin(src_list).alias("changed"),
    )
    if local:
        out = local_relax_dist(eset, state0.select("id", "dist"),
                               cfg.max_iterations, hop_cost=True)
        eset.unpersist()
        return out.select("id", F.col("dist").cast("long").alias("dist"))
    edges = prepare_edges(eset, cfg.partitions)
    out = _relax_loop(edges, state0, F.col("_sd") + F.lit(1.0), cfg.max_iterations)
    edges.unpersist()
    eset.unpersist()
    return out.filter(F.col("dist") != INF).select(
        "id", F.col("dist").cast("long").alias("dist")
    )


def shortest_paths(graph: SparkGraph, sources: Sequence[int] | DataFrame,
                   config: PathConfig | None = None) -> DataFrame:
    """(id, dist): single/multi-source shortest path cost over edge weights
    (Bellman-Ford relaxation; = Dijkstra's result for non-negative weights).
    Parallel edges collapse to their min weight first. `sources` may be a
    one-column DataFrame of ids, so callers with a distributed source set
    (e.g. the Steiner tree's growing node set) never collect it."""
    cfg = config or PathConfig()
    e = graph.aggregated_edges("MIN").persist()
    local, _ = should_run_local(e, graph.nodes, cfg.small_graph_edges, None)
    if isinstance(sources, DataFrame):
        src_df = sources.select(
            F.col(sources.columns[0]).cast("long").alias("id"),
            F.lit(True).alias("_is_src"),
        ).distinct()
        state0 = graph.nodes.select("id").join(src_df, "id", "left").select(
            "id",
            F.when(F.col("_is_src"), F.lit(0.0)).otherwise(F.lit(INF)).alias("dist"),
            F.coalesce("_is_src", F.lit(False)).alias("changed"),
        )
    else:
        src_list = [int(s) for s in sources]
        state0 = graph.nodes.select(
            "id",
            F.when(F.col("id").isin(src_list), F.lit(0.0)).otherwise(F.lit(INF)).alias("dist"),
            F.col("id").isin(src_list).alias("changed"),
        )
    if local:
        out = local_relax_dist(e, state0.select("id", "dist"),
                               cfg.max_iterations)
        e.unpersist()
        return out
    edges = prepare_edges(e, cfg.partitions)
    out = _relax_loop(edges, state0, F.col("_sd") + F.col(W), cfg.max_iterations)
    edges.unpersist()
    e.unpersist()
    return out.filter(F.col("dist") != INF)


def collapse_path(graph: SparkGraph, rel_types: Sequence[str],
                  new_type: str = "COLLAPSED") -> DataFrame:
    """gds.collapsePath (algo/.../walking/CollapsePath.java:46): compose a
    chain of relationship hops into one relationship. Output
    (src, dst, rel_type) distinct endpoint pairs of the multi-hop path."""
    hops = [
        graph.edges.filter(F.col("rel_type") == t).select(SRC, DST) for t in rel_types
    ]
    cur = hops[0]
    for i, nxt in enumerate(hops[1:]):
        step = nxt.select(
            F.col(SRC).alias(f"_mid{i}"), F.col(DST).alias(f"_nd{i}")
        )
        cur = (
            cur.join(step, cur[DST] == step[f"_mid{i}"])
            .select(F.col(SRC), F.col(f"_nd{i}").alias(DST))
        )
    return cur.distinct().select(SRC, DST, F.lit(new_type).alias("rel_type"))


def topological_sort(graph: SparkGraph, max_iterations: int = 10000) -> DataFrame:
    """(id, level): Kahn peeling by levels (dag/topologicalsort/
    TopologicalSort.java:54). level k = vertices whose in-edges all come from
    levels < k. Vertices on or downstream of a cycle are omitted, matching
    GDS (it streams only sortable nodes).

    Each round removes the zero-in-degree layer: one left_anti join to find
    the layer + one semi-join to shrink the edge set. Rounds = DAG depth.
    """
    # lineage cut (not persist): each round's plan references the
    # previous round's DataFrames multiple times, so without a true cut
    # the logical plan tree doubles every round and Catalyst
    # analysis time grows exponentially (the classic iterative-DF pitfall).
    edges = graph.edges.select(SRC, DST).filter(F.col(SRC) != F.col(DST)) \
        .distinct().transform(truncate_mem)
    remaining = graph.nodes.select("id").transform(truncate_mem)
    levels: list[DataFrame] = []
    for level in range(max_iterations):
        has_in = edges.select(F.col(DST).alias("id")).distinct()
        layer = remaining.join(has_in, "id", "left_anti").transform(truncate_mem)
        if layer.count() == 0:
            break
        levels.append(layer.select("id", F.lit(level).cast("long").alias("level")))
        remaining = remaining.join(layer, "id", "left_anti") \
            .transform(truncate_mem)
        edges = edges.join(layer.withColumnRenamed("id", SRC), SRC, "left_anti") \
            .transform(truncate_mem)
    if not levels:
        return graph.nodes.select("id", F.lit(0).cast("long").alias("level")).limit(0)
    out = levels[0]
    for df in levels[1:]:
        out = out.unionByName(df)
    return out


# ---------------------------------------------------------------------------
# shortest paths WITH path objects (Dijkstra / A* / Yens / Bellman-Ford)
# ---------------------------------------------------------------------------

def _deterministic_predecessors(edges: DataFrame, dist: DataFrame) -> DataFrame:
    """(id, pred): pred(v) = min u among in-neighbors with
    dist(u) + w(u,v) == dist(v). Computed AFTER the distance fixpoint so the
    choice is a pure function of the converged distances (round-timing
    independent, mirrorable in SQL by the oracle)."""
    du = dist.select(F.col("id").alias(SRC), F.col("dist").alias("_du"))
    dv = dist.select(F.col("id").alias(DST), F.col("dist").alias("_dv"))
    return (
        edges.join(du, SRC).join(dv, DST)
        .filter(F.abs(F.col("_du") + F.col(W) - F.col("_dv")) < 1e-9)
        .groupBy(F.col(DST).alias("id"))
        .agg(F.min(SRC).alias("pred"))
    )


def _reconstruct_paths(dist: DataFrame, preds: DataFrame, source: int,
                       max_len: int = 200) -> DataFrame:
    """(target, total_cost, node_ids): backtrack pred pointers from every
    reachable target to the source; O(max path length) joins."""
    walk = (
        dist.filter((F.col("dist") != INF) & (F.col("id") != source))
        .select(F.col("id").alias("target"), F.col("dist").alias("total_cost"),
                F.col("id").alias("_cur"), F.array("id").alias("node_ids"))
        .transform(truncate_mem)
    )
    done = []
    pmap = preds.select(F.col("id").alias("_cur"), "pred").transform(truncate_mem)
    for _ in range(max_len):
        if walk.isEmpty():
            break
        walk = (
            walk.join(pmap, "_cur")
            .select("target", "total_cost", F.col("pred").alias("_cur"),
                    F.concat(F.array("pred"), "node_ids").alias("node_ids"))
            .transform(truncate_mem)
        )
        arrived = walk.filter(F.col("_cur") == source)
        done.append(arrived.select("target", "total_cost", "node_ids"))
        walk = walk.filter(F.col("_cur") != source)
    if not done:
        schema_df = dist.sparkSession.createDataFrame(
            [], "target long, total_cost double, node_ids array<bigint>")
        return schema_df
    out = done[0]
    for d in done[1:]:
        out = out.unionByName(d)
    return out


def _target_pruned_dist(nodes: DataFrame, edges: DataFrame, source: int,
                        target: int, max_iterations: int,
                        heuristic: DataFrame | None = None) -> DataFrame:
    """Branch-and-bound pruned relaxation toward one target: a frontier row
    is expanded only while dist(v) + h(v) < best known target distance,
    with best_t kept IN the plan (1-row broadcast cross join) so each
    superstep costs exactly one action (the emptiness check). Exact for the
    target, and — for h=0 and strictly positive weights — exact for EVERY
    node with true distance < dist(target) (the only nodes a target
    pred-chain backtrack can touch). Returns the raw pruned (id, dist)
    state: distances of nodes at/beyond the target's distance may be
    overestimates and must be filtered by the caller before pred
    derivation."""
    state = nodes.select(
        "id",
        F.when(F.col("id") == source, F.lit(0.0)).otherwise(F.lit(INF)).alias("dist"),
        (F.col("id") == source).alias("changed"),
    ).transform(truncate_mem)
    h = (heuristic.select("id", F.col("h").cast("double"))
         if heuristic is not None else None)
    for _ in range(max_iterations):
        best_t = (state.filter(F.col("id") == target)
                  .select(F.col("dist").alias("_best_t")))
        frontier = state.filter(F.col("changed") & (F.col("dist") != INF))
        if h is not None:
            frontier = frontier.join(h, "id", "left").fillna(0.0, ["h"])
        else:
            frontier = frontier.withColumn("h", F.lit(0.0))
        frontier = (
            frontier.crossJoin(F.broadcast(best_t))
            .filter(F.col("dist") + F.col("h") < F.col("_best_t"))
            .drop("_best_t", "h")
        )
        if frontier.isEmpty():
            break
        cands = (
            edges.join(frontier.select(F.col("id").alias(SRC),
                                       F.col("dist").alias("_sd")), SRC)
            .select(F.col(DST).alias("id"), (F.col("_sd") + F.col(W)).alias("_cand"))
            .groupBy("id").agg(F.min("_cand").alias("cand"))
        )
        state = (
            state.join(cands, "id", "left")
            .select(
                "id",
                F.least(F.col("dist"), F.coalesce("cand", F.col("dist"))).alias("dist"),
                (F.coalesce("cand", F.lit(INF)) < F.col("dist")).alias("changed"),
            )
            .transform(truncate_mem)
        )
    return state.select("id", "dist").filter(F.col("dist") != INF)


def dijkstra(graph: SparkGraph, source: int, target: int | None = None,
             config: PathConfig | None = None) -> DataFrame:
    """Single-source (or source-target) shortest paths WITH path objects:
    (source, target, total_cost, node_ids, costs).

    Reference shape: paths/dijkstra/Dijkstra.java:43 producing PathResult
    {sourceNode, targetNode, totalCost, nodeIds, costs}. The distance
    fixpoint is the Bellman-Ford relaxation (equal to Dijkstra's output for
    non-negative weights); predecessors are then derived deterministically
    from converged distances, and paths by pred-chain backtracking.

    With a single `target` and strictly positive weights, the relaxation is
    target-pruned (_target_pruned_dist, h=0): supersteps stop once no
    frontier node can beat the best known target distance, instead of
    running to the global fixpoint — Yen's inner loop runs one Dijkstra per
    spur candidate, so this is its dominant cost. Pruned distances are
    exact for every node strictly closer than the target (positive
    weights), which is exactly the set the deterministic pred chain can
    visit, so results — including tie-breaks — are identical to the full
    fixpoint (pinned by test_paths_family parity test)."""
    cfg = config or PathConfig()
    e = graph.aggregated_edges("MIN").transform(truncate_mem)
    local, _ = should_run_local(
        e, graph.nodes, (LOCAL_PATHS_MAX_EDGES if cfg.small_graph_edges is None
                         else cfg.small_graph_edges), None)
    if local:
        # whole dist/pred/backtrack pipeline in the driver: Yen's runs one
        # dijkstra per spur candidate, each of which was ~10 Spark jobs of
        # pure fixed cost on subcritical spur graphs
        out = local_dijkstra_paths(e, graph.nodes.select("id"), source,
                                   target, cfg.max_iterations)
        return out.select(F.lit(source).cast("long").alias("source"),
                          "target", "total_cost", "node_ids", "costs")
    pruned_ok = False
    if target is not None:
        wmin = e.agg(F.min(W).alias("_w")).collect()[0]["_w"]
        pruned_ok = wmin is not None and wmin > 0
    if pruned_ok:
        edges = prepare_edges(e, cfg.partitions)
        raw = _target_pruned_dist(graph.nodes.select("id"), edges, source,
                                  int(target), cfg.max_iterations)
        edges.unpersist()
        best = raw.filter(F.col("id") == target) \
                  .select(F.col("dist").alias("_bt"))
        # keep only FINAL distances: strictly closer than the target, plus
        # the target row itself (positive weights => pred chains never need
        # an equal-distance non-target node)
        dist = (raw.crossJoin(F.broadcast(best))
                .filter((F.col("dist") < F.col("_bt")) | (F.col("id") == target))
                .select("id", "dist").transform(truncate_mem))
    else:
        dist = shortest_paths(graph, [source], cfg)
    preds = _deterministic_predecessors(e, dist)
    # with a single target, backtrack ONLY its pred chain (a 1-row walk per
    # hop) instead of every reachable node's -- Yen's runs one dijkstra per
    # spur candidate, so this is its inner-loop cost
    seed = dist if target is None else dist.filter(F.col("id") == target)
    paths = _reconstruct_paths(seed, preds, source, cfg.max_iterations)
    dmap = dist.select(F.col("id").alias("_n"), F.col("dist").alias("_nd"))
    costs = (
        paths.select("target", F.posexplode("node_ids").alias("pos", "_n"))
        .join(dmap, "_n")
        .groupBy("target")
        .agg(F.array_sort(F.collect_list(F.struct("pos", "_nd"))).alias("_pc"))
        .select("target", F.col("_pc._nd").alias("costs"))
    )
    return (
        paths.join(costs, "target")
        .select(F.lit(source).cast("long").alias("source"), "target",
                "total_cost", "node_ids", "costs")
    )


def astar(graph: SparkGraph, source: int, target: int,
          heuristic: DataFrame, config: PathConfig | None = None) -> DataFrame:
    """A* source-target shortest path (paths/astar/AStar.java:36).

    `heuristic` is (id, h) with h an admissible lower bound on the remaining
    cost to `target` (GDS uses haversine over lat/lon properties). The
    distributed formulation is branch-and-bound pruned relaxation: a frontier
    row is expanded only while dist(v) + h(v) < best known target distance --
    the same node-skipping A*'s priority queue achieves, expressed as a
    filter, still exact for admissible h.
    """
    cfg = config or PathConfig()
    e = graph.aggregated_edges("MIN").persist()
    local, _ = should_run_local(
        e, graph.nodes, (LOCAL_PATHS_MAX_EDGES if cfg.small_graph_edges is None
                         else cfg.small_graph_edges), None)
    if local:
        # admissible h only prunes the search order, never the answer, so
        # the subcritical path reuses the exact dijkstra kernel
        out = local_dijkstra_paths(e, graph.nodes.select("id"), source,
                                   target, cfg.max_iterations)
        e.unpersist()
        return out.select(F.lit(source).cast("long").alias("source"),
                          "target", "total_cost", "node_ids")
    edges = prepare_edges(e, cfg.partitions)
    dist = _target_pruned_dist(graph.nodes.select("id"), edges, source,
                               target, cfg.max_iterations, heuristic=heuristic)
    edges.unpersist()
    e2 = graph.aggregated_edges("MIN")
    preds = _deterministic_predecessors(e2, dist)
    out = (
        _reconstruct_paths(dist, preds, source, cfg.max_iterations)
        .filter(F.col("target") == target)
        .select(F.lit(source).cast("long").alias("source"), "target",
                "total_cost", "node_ids")
    )
    e.unpersist()
    return out


def _multi_spur_dijkstra(edges: DataFrame, walkers: list[dict], target: int,
                         cfg: PathConfig) -> dict[int, tuple]:
    """ALL spur candidates of one Yen's k-iteration as ONE multi-source,
    per-walker-masked Dijkstra (round-4 verdict #5). Walker w starts at
    its spur node carrying its own excluded-node/edge masks (a broadcast
    walker table); every walker relaxes in the SAME per-superstep job and
    is target-pruned independently, and a single collect at the end
    returns every spur path -- replacing the per-spur dijkstra().collect()
    loop, where each spur paid full Spark job latency per superstep AND
    per spur. Requires strictly positive weights (caller checks; GDS Yens
    is Dijkstra-backed with the same requirement, paths/yens/Yens.java).

    ``walkers``: [{"wid", "spur", "exn": [node...], "exe": [(u, v)...]}].
    Returns {wid: (total_cost, node_ids, costs)} for walkers that reached
    the target."""
    spark = edges.sparkSession
    masks = F.broadcast(spark.createDataFrame(
        [(w["wid"], w["spur"], [int(x) for x in w["exn"]],
          [(int(u), int(v)) for (u, v) in w["exe"]]) for w in walkers],
        "wid long, spur long, exn array<long>, "
        "exe array<struct<u:long,v:long>>"))
    edge_key = F.struct(F.col(SRC).alias("u"), F.col(DST).alias("v"))
    # sparse per-walker state: only discovered (wid, id) rows exist
    state = spark.createDataFrame(
        [(w["wid"], int(w["spur"]), 0.0, True) for w in walkers],
        "wid long, id long, dist double, changed boolean",
    ).transform(truncate_mem)
    for _ in range(cfg.max_iterations):
        best_t = (state.filter(F.col("id") == target)
                  .select("wid", F.col("dist").alias("_bt")))
        frontier = (state.filter("changed")
                    .join(F.broadcast(best_t), "wid", "left")
                    .filter(F.col("dist") < F.coalesce("_bt", F.lit(INF)))
                    .select("wid", "id", "dist"))
        if frontier.isEmpty():
            break
        cands = (
            edges.join(frontier.select("wid", F.col("id").alias(SRC),
                                       F.col("dist").alias("_sd")), SRC)
            .join(masks, "wid")
            .filter(~F.array_contains("exn", F.col(DST))
                    & ~F.array_contains(F.col("exe"), edge_key))
            .select("wid", F.col(DST).alias("id"),
                    (F.col("_sd") + F.col(W)).alias("_cand"))
            .groupBy("wid", "id").agg(F.min("_cand").alias("cand"))
        )
        state = (
            state.join(cands, ["wid", "id"], "full")
            .select("wid", "id",
                    F.least(F.coalesce("dist", F.lit(INF)),
                            F.coalesce("cand", F.lit(INF))).alias("dist"),
                    (F.coalesce("cand", F.lit(INF))
                     < F.coalesce("dist", F.lit(INF))).alias("changed"))
            .transform(truncate_mem)
        )
    # exact-set filter (positive weights): per walker keep nodes strictly
    # closer than its target plus the target row; walkers that never
    # reached the target drop out here
    bt = (state.filter(F.col("id") == target)
          .select("wid", F.col("dist").alias("_bt")))
    dist = (state.join(F.broadcast(bt), "wid")
            .filter((F.col("dist") < F.col("_bt")) | (F.col("id") == target))
            .select("wid", "id", "dist").transform(truncate_mem))
    du = dist.select("wid", F.col("id").alias(SRC), F.col("dist").alias("_du"))
    dv = dist.select("wid", F.col("id").alias(DST), F.col("dist").alias("_dv"))
    preds = (
        edges.join(du, SRC).join(dv, ["wid", DST])
        .join(masks, "wid")
        .filter(~F.array_contains(F.col("exe"), edge_key))
        .filter(F.abs(F.col("_du") + F.col(W) - F.col("_dv")) < 1e-9)
        .groupBy("wid", F.col(DST).alias("id"))
        .agg(F.min(SRC).alias("pred"))
    )
    pmap = preds.select("wid", F.col("id").alias("_cur"),
                        "pred").transform(truncate_mem)
    spur_map = masks.select("wid", F.col("spur").alias("_spur"))
    walk = (dist.filter(F.col("id") == target)
            .select("wid", F.col("dist").alias("total_cost"),
                    F.col("id").alias("_cur"), F.array("id").alias("node_ids"))
            .transform(truncate_mem))
    done = []
    for _ in range(cfg.max_iterations):
        if walk.isEmpty():
            break
        walk = (
            walk.join(pmap, ["wid", "_cur"])
            .select("wid", "total_cost", F.col("pred").alias("_cur"),
                    F.concat(F.array("pred"), "node_ids").alias("node_ids"))
            .join(spur_map, "wid")
            .transform(truncate_mem)
        )
        done.append(walk.filter(F.col("_cur") == F.col("_spur"))
                    .select("wid", "total_cost", "node_ids"))
        walk = walk.filter(F.col("_cur") != F.col("_spur")).drop("_spur")
    if not done:
        return {}
    arrived = done[0]
    for d in done[1:]:
        arrived = arrived.unionByName(d)
    costs = (
        arrived.select("wid", F.posexplode("node_ids").alias("pos", "_n"))
        .join(dist.select("wid", F.col("id").alias("_n"),
                          F.col("dist").alias("_nd")), ["wid", "_n"])
        .groupBy("wid")
        .agg(F.array_sort(F.collect_list(F.struct("pos", "_nd"))).alias("_pc"))
        .select("wid", F.col("_pc._nd").alias("costs"))
    )
    rows = arrived.join(costs, "wid").collect()  # ONE collect per k-iteration
    return {int(r["wid"]): (float(r["total_cost"]), list(r["node_ids"]),
                            [float(c) for c in r["costs"]]) for r in rows}


def yens(graph: SparkGraph, source: int, target: int, k: int = 3,
         config: PathConfig | None = None) -> DataFrame:
    """Yen's K shortest loopless paths (paths/yens/Yens.java:39).

    Spur/root decomposition with the classic candidate queue; the spur
    Dijkstras of each k-iteration run BATCHED as one multi-source,
    per-walker-masked job (_multi_spur_dijkstra) in the distributed
    regime, or through the driver-side subcritical kernel below the
    LOCAL_PATHS_MAX_EDGES gate (where per-spur calls run no loop jobs and
    batching would buy nothing). Returns (index, source, target,
    total_cost, node_ids) for up to k paths, ordered by cost.
    """
    cfg = config or PathConfig()
    first = dijkstra(graph, source, target, cfg).collect()
    if not first:
        return graph.nodes.sparkSession.createDataFrame(
            [], "index long, source long, target long, total_cost double, "
                "node_ids array<bigint>")
    # each found path carries its CUMULATIVE cost array (dijkstra's `costs`),
    # so a spur's root cost is a list lookup (prev_costs[i]) instead of a
    # per-spur edge-weight collect against the full edge table
    paths = [(first[0]["total_cost"], list(first[0]["node_ids"]),
              list(first[0]["costs"]))]
    candidates: list[tuple[float, list[int], list[float]]] = []
    edges_base = graph.aggregated_edges("MIN").transform(truncate_mem)
    subcritical, _ = should_run_local(
        edges_base, graph.nodes,
        (LOCAL_PATHS_MAX_EDGES if cfg.small_graph_edges is None
         else cfg.small_graph_edges), None)
    batched = not subcritical
    if batched:
        wmin = edges_base.agg(F.min(W)).collect()[0][0]
        batched = wmin is not None and wmin > 0

    def merge_candidate(i, root, costs_prev, spur_result):
        total_cost_sp, nids, costs_sp = spur_result
        root_cost = float(costs_prev[i])
        total = root_cost + total_cost_sp
        full = root[:-1] + list(nids)
        full_costs = ([float(c) for c in costs_prev[:i]]
                      + [root_cost + float(c) for c in costs_sp])
        if (full not in [c[1] for c in candidates]
                and full not in [p for _, p, _ in paths]):
            candidates.append((total, full, full_costs))

    for _ in range(1, k):
        cost_prev, p_prev, costs_prev = paths[-1]
        walkers = []
        for i in range(len(p_prev) - 1):
            spur, root = p_prev[i], p_prev[:i + 1]
            root_set = set(root[:-1])
            # remove edges used by any found path sharing this root, and
            # all root nodes except the spur (loopless constraint)
            removed = {(p[i], p[i + 1]) for c, p, _ in paths
                       if len(p) > i + 1 and p[:i + 1] == root}
            walkers.append({"wid": i, "spur": spur, "exn": sorted(root_set),
                            "exe": sorted(removed), "root": root})
        if batched:
            res = _multi_spur_dijkstra(edges_base, walkers, target, cfg)
            for w in walkers:
                if w["wid"] in res:
                    merge_candidate(w["wid"], w["root"], costs_prev,
                                    res[w["wid"]])
        else:
            for w in walkers:
                cond = F.lit(False)
                for (u, v) in w["exe"]:
                    cond = cond | ((F.col(SRC) == u) & (F.col(DST) == v))
                e = edges_base.filter(~cond)
                if w["exn"]:
                    e = e.filter(~F.col(SRC).isin(list(w["exn"]))
                                 & ~F.col(DST).isin(list(w["exn"])))
                sub = SparkGraph(nodes=graph.nodes, edges=e)
                spur_rows = dijkstra(sub, w["spur"], target, cfg).collect()
                if not spur_rows:
                    continue
                merge_candidate(
                    w["wid"], w["root"], costs_prev,
                    (float(spur_rows[0]["total_cost"]),
                     list(spur_rows[0]["node_ids"]),
                     [float(c) for c in spur_rows[0]["costs"]]))
        if not candidates:
            break
        candidates.sort(key=lambda t: (t[0], t[1]))
        paths.append(candidates.pop(0))
    edges_base.unpersist()
    rows = [(i, source, p[-1], c, p) for i, (c, p, _) in enumerate(paths)]
    return graph.nodes.sparkSession.createDataFrame(
        rows, "index long, source long, target long, total_cost double, "
              "node_ids array<bigint>")


def bellman_ford(graph: SparkGraph, source: int,
                 config: PathConfig | None = None) -> DataFrame:
    """(id, dist, in_negative_cycle): Bellman-Ford with negative-cycle
    detection (paths/bellmanford/BellmanFord.java:49). Nodes still relaxing
    after V rounds are on / downstream of a negative cycle; their dist is
    reported as -inf, like the reference marks negative-cycle results."""
    cfg = config or PathConfig()
    n = graph.nodes.count()
    e = graph.aggregated_edges("MIN")
    edges = prepare_edges(e, cfg.partitions)
    state = graph.nodes.select(
        "id",
        F.when(F.col("id") == source, F.lit(0.0)).otherwise(F.lit(INF)).alias("dist"),
        (F.col("id") == source).alias("changed"),
    ).transform(truncate_mem)
    changed_after_v = False
    for rnd in range(n + 1):
        frontier = state.filter(F.col("changed") & (F.col("dist") != INF))
        if frontier.isEmpty():
            break
        cands = (
            edges.join(frontier.select(F.col("id").alias(SRC),
                                       F.col("dist").alias("_sd")), SRC)
            .select(F.col(DST).alias("id"), (F.col("_sd") + F.col(W)).alias("_cand"))
            .groupBy("id").agg(F.min("_cand").alias("cand"))
        )
        state = (
            state.join(cands, "id", "left")
            .select(
                "id",
                F.least(F.col("dist"), F.coalesce("cand", F.col("dist"))).alias("dist"),
                (F.coalesce("cand", F.lit(INF)) < F.col("dist")).alias("changed"),
            )
            .transform(truncate_mem)
        )
        changed_after_v = rnd >= n - 1
    edges.unpersist()
    if changed_after_v and not state.filter(F.col("changed")).isEmpty():
        # propagate the negative-cycle taint to everything reachable from
        # still-changing nodes (their true distance is unbounded below):
        # a BFS closure over the same edge set
        seeds = state.filter(F.col("changed")).select("id")
        tainted = bfs(graph, [r["id"] for r in seeds.collect()],
                      PathConfig(max_iterations=cfg.max_iterations)).select("id")
        return (
            state.join(tainted.withColumn("_t", F.lit(True)), "id", "left")
            .select(
                "id",
                F.when(F.col("_t"), F.lit(float("-inf"))).otherwise(F.col("dist"))
                .alias("dist"),
                F.coalesce("_t", F.lit(False)).alias("in_negative_cycle"),
            )
        )
    return state.select("id", "dist", F.lit(False).alias("in_negative_cycle"))


def _bf_pred_state(graph: SparkGraph, source: int,
                   cfg: PathConfig) -> "tuple[DataFrame, int] | None":
    """Shared Bellman-Ford relaxation with predecessor tracking: V+1
    rounds of argmin-by-(candidate, src) relaxation; returns the final
    ((id, dist, changed, pred) state, node count), or None when
    relaxation converged (no negative cycle reachable from ``source``)."""
    n = graph.nodes.count()
    e = graph.aggregated_edges("MIN")
    edges = prepare_edges(e, cfg.partitions)
    state = graph.nodes.select(
        "id",
        F.when(F.col("id") == source, F.lit(0.0)).otherwise(F.lit(INF)).alias("dist"),
        (F.col("id") == source).alias("changed"),
        F.lit(None).cast("long").alias("pred"),
    ).transform(truncate_mem)
    for _ in range(n + 1):
        frontier = state.filter(F.col("changed") & (F.col("dist") != INF))
        if frontier.isEmpty():
            edges.unpersist()
            return None
        cands = (
            edges.join(frontier.select(F.col("id").alias(SRC),
                                       F.col("dist").alias("_sd")), SRC)
            .select(F.col(DST).alias("id"),
                    F.struct((F.col("_sd") + F.col(W)).alias("c"),
                             F.col(SRC).alias("p")).alias("_cp"))
            .groupBy("id").agg(F.min("_cp").alias("_cp"))
            .select("id", F.col("_cp.c").alias("cand"), F.col("_cp.p").alias("_np"))
        )
        state = (
            state.join(cands, "id", "left")
            .select(
                "id",
                F.least(F.col("dist"), F.coalesce("cand", F.col("dist"))).alias("dist"),
                (F.coalesce("cand", F.lit(INF)) < F.col("dist")).alias("changed"),
                F.when(F.coalesce("cand", F.lit(INF)) < F.col("dist"),
                       F.col("_np")).otherwise(F.col("pred")).alias("pred"),
            )
            .transform(truncate_mem)
        )
    edges.unpersist()
    return state, n


def bellman_ford_negative_cycles(graph: SparkGraph, source: int,
                                 config: PathConfig | None = None,
                                 max_walk: int = 400) -> DataFrame:
    """(index, node_ids, total_cost): an actual negative CYCLE as a node
    sequence (first == last), like the reference's NegativeCycle results
    (paths/bellmanford/BellmanFord.java:49 streams cycles, not just a
    flag). Returns the cycle found from the deterministic (min-id) seed
    among nodes still relaxing after V rounds; empty DataFrame when the
    graph has no negative cycle reachable from `source`.

    The relaxation tracks a predecessor per improvement (argmin by
    (candidate, src)); the cycle is recovered by walking the pred chain
    from the seed with a 1-row distributed lookup per hop (the reference's
    walk is sequential too) until a node repeats, then normalized to start
    at its minimum member so the result is rotation-stable."""
    cfg = config or PathConfig()
    spark = graph.nodes.sparkSession
    empty = spark.createDataFrame(
        [], "index long, node_ids array<bigint>, total_cost double")
    res = _bf_pred_state(graph, source, cfg)
    if res is None:
        return empty
    state, n = res
    seed_rows = (state.filter(F.col("changed") & (F.col("dist") != INF))
                 .orderBy("id").limit(1).collect())
    if not seed_rows:
        return empty
    pmap = state.select("id", "pred").transform(truncate_mem)
    visited = [int(seed_rows[0]["id"])]
    seen = {visited[0]: 0}
    cycle: list[int] | None = None
    for _ in range(min(max_walk, 2 * n + 2)):
        row = pmap.filter(F.col("id") == visited[-1]).collect()
        if not row or row[0]["pred"] is None:
            break
        p = int(row[0]["pred"])
        if p in seen:
            j = seen[p]
            # pred(v) = u means edge u->v: forward cycle = p -> visited[-1]
            # -> ... -> visited[j] (== p)
            cycle = [p] + visited[j:][::-1]
            break
        seen[p] = len(visited)
        visited.append(p)
    if not cycle:
        return empty
    # rotation-normalize to start (and end) at the minimum member
    body = cycle[:-1]
    k = body.index(min(body))
    body = body[k:] + body[:k]
    cycle = body + [body[0]]
    pairs = spark.createDataFrame(
        list(zip(cycle, cycle[1:])), f"{SRC} long, {DST} long")
    cost = (pairs.join(graph.aggregated_edges("MIN"), [SRC, DST])
            .agg(F.sum(W)).collect()[0][0])
    return spark.createDataFrame(
        [(0, [int(x) for x in cycle], float(cost))],
        "index long, node_ids array<bigint>, total_cost double")


def bellman_ford_all_negative_cycles(graph: SparkGraph, source: int,
                                     config: PathConfig | None = None,
                                     max_walk: int = 400) -> DataFrame:
    """(index, node_ids, total_cost): EVERY negative cycle in the final
    predecessor graph, matching the reference's result type which carries
    all discovered cycles (paths/bellmanford/BellmanFord.java:49,
    NegativeCycle results), not just one.

    After V+1 relaxation rounds each vertex has at most one predecessor,
    so the pred edges form a functional forest whose only cycles are
    negative cycles. Cycles are found distributed: SCC over the pred
    subgraph (every non-trivial SCC of a functional graph IS a simple
    cycle), then all cycles' node orders are reconstructed TOGETHER --
    one pred-map join per hop advances every cycle's walker at once, so
    the driver loop length is the longest cycle, not the cycle count.
    Cycles are rotation-normalized to start/end at their minimum member;
    ``index`` orders cycles by that minimum."""
    from pyspark.sql.window import Window

    from .scc import scc

    cfg = config or PathConfig()
    spark = graph.nodes.sparkSession
    empty = spark.createDataFrame(
        [], "index long, node_ids array<bigint>, total_cost double")
    res = _bf_pred_state(graph, source, cfg)
    if res is None:
        return empty
    state, _n = res
    pred_edges = (state.filter(F.col("pred").isNotNull())
                  .select(F.col("pred").alias(SRC), F.col("id").alias(DST)))
    pg = SparkGraph(
        nodes=state.select("id"),
        edges=pred_edges.select(SRC, DST, F.lit("PRED").alias("rel_type"),
                                F.lit(1.0).alias("weight")),
    )
    comp = scc(pg)
    csize = comp.groupBy("component").agg(F.count(F.lit(1)).alias("_n"))
    cyc_nodes = (comp.join(csize.filter(F.col("_n") > 1), "component")
                 .select("id", F.col("component").alias("comp")))
    # self-loop cycles (pred(v) == v): singleton SCC but still a cycle
    selfloops = (state.filter(F.col("pred") == F.col("id"))
                 .select("id", F.col("id").alias("comp")))
    cyc_nodes = cyc_nodes.unionByName(selfloops).transform(truncate_mem)
    if cyc_nodes.isEmpty():
        return empty
    # next(x) = the in-cycle y with pred(y) = x (unique: pred is a
    # function, so the reversed map restricted to one simple cycle is too)
    nxt_map = (state.join(cyc_nodes, "id")
               .select("comp", F.col("pred").alias("cur"),
                       F.col("id").alias("nxt"))
               .transform(truncate_mem))
    starts = cyc_nodes.groupBy("comp").agg(F.min("id").alias("start"))
    walk = starts.select("comp", F.lit(0).alias("pos"),
                         F.col("start").alias("node"))
    active = starts.select("comp", "start", F.lit(0).alias("pos"),
                           F.col("start").alias("cur")).transform(truncate_mem)
    for _ in range(max_walk):
        if active.isEmpty():
            break
        step = active.join(nxt_map, ["comp", "cur"])
        walk = walk.unionByName(
            step.select("comp", (F.col("pos") + 1).alias("pos"),
                        F.col("nxt").alias("node")))
        active = (step.filter(F.col("nxt") != F.col("start"))
                  .select("comp", "start", (F.col("pos") + 1).alias("pos"),
                          F.col("nxt").alias("cur"))
                  .transform(truncate_mem))
    # a walker still active after max_walk hops never closed its cycle --
    # drop that component entirely rather than emitting a non-closed node
    # sequence with a partial cost (the single-cycle variant returns
    # empty in the analogous case)
    if not active.isEmpty():
        unfinished = active.select("comp").distinct()
        walk = walk.join(unfinished, "comp", "left_anti")
    walk = walk.transform(truncate_mem)
    if walk.isEmpty():
        return empty
    # per-hop costs: consecutive (node, next-node) pairs join the edge set
    wlead = Window.partitionBy("comp").orderBy("pos")
    hops = (walk.withColumn("_to", F.lead("node").over(wlead))
            .filter(F.col("_to").isNotNull())
            .select("comp", F.col("node").alias(SRC), F.col("_to").alias(DST)))
    costs = (hops.join(graph.aggregated_edges("MIN"), [SRC, DST])
             .groupBy("comp").agg(F.round(F.sum(W), 9).alias("total_cost")))
    seqs = (walk.groupBy("comp")
            .agg(F.array_sort(F.collect_list(F.struct("pos", "node")))
                 .alias("_pn"))
            .select("comp", F.col("_pn.node").alias("node_ids")))
    widx = Window.orderBy("comp")
    return (seqs.join(costs, "comp")
            .withColumn("index", F.row_number().over(widx) - 1)
            .select("index", F.col("node_ids").cast("array<bigint>"),
                    "total_cost"))


def delta_stepping(graph: SparkGraph, source: int, delta: float = 2.0,
                   config: PathConfig | None = None) -> DataFrame:
    """(id, dist): delta-stepping SSSP with real bucket scheduling
    (paths/delta/DeltaStepping.java:51): settle bucket b = [b*delta,
    (b+1)*delta) by repeated LIGHT-edge (w <= delta) relaxation inside the
    bucket, then one HEAVY-edge pass, then advance to the next non-empty
    bucket. Non-negative weights only."""
    cfg = config or PathConfig()
    e = graph.aggregated_edges("MIN")
    light = prepare_edges(e.filter(F.col(W) <= delta), cfg.partitions)
    heavy = e.filter(F.col(W) > delta).transform(truncate_mem)
    state = graph.nodes.select(
        "id",
        F.when(F.col("id") == source, F.lit(0.0)).otherwise(F.lit(INF)).alias("dist"),
        (F.col("id") == source).alias("changed"),
    ).transform(truncate_mem)

    def relax(st: DataFrame, edge_df: DataFrame, in_bucket,
              pending_only: bool = True) -> DataFrame:
        # `changed` is the PENDING (unsettled) set, not a per-round flag:
        # nodes outside the processed bucket keep their pending mark, nodes
        # inside it stay pending only if this relaxation improved them again.
        # The HEAVY pass sets pending_only=False: by the time the light loop
        # has emptied bucket b every settled member is un-pending, but their
        # heavy edges still must relax exactly once (DeltaStepping.java's
        # relaxHeavyEdges over the emptied bucket); heavy targets land in
        # buckets > b (w > delta), so this cannot re-open bucket b.
        cond = (F.col("dist") != INF) & in_bucket
        if pending_only:
            cond = F.col("changed") & cond
        frontier = st.filter(cond)
        cands = (
            edge_df.join(frontier.select(F.col("id").alias(SRC),
                                         F.col("dist").alias("_sd")), SRC)
            .select(F.col(DST).alias("id"), (F.col("_sd") + F.col(W)).alias("_cand"))
            .groupBy("id").agg(F.min("_cand").alias("cand"))
        )
        return (
            st.join(cands, "id", "left")
            .select(
                "id",
                F.least(F.col("dist"), F.coalesce("cand", F.col("dist"))).alias("dist"),
                (
                    (F.coalesce("cand", F.lit(INF)) < F.col("dist"))
                    | (F.col("changed") & ~in_bucket)
                ).alias("changed"),
            )
            .transform(truncate_mem)
        )

    for _ in range(cfg.max_iterations):
        nxt = state.filter(F.col("changed") & (F.col("dist") != INF)) \
            .agg(F.min(F.floor(F.col("dist") / delta))).collect()[0][0]
        if nxt is None:
            break
        b = int(nxt)
        in_b = F.floor(F.col("dist") / delta) == b
        for _ in range(cfg.max_iterations):
            new_state = relax(state, light, in_b)
            still = new_state.filter(
                F.col("changed") & (F.floor(F.col("dist") / delta) == b)
            ).isEmpty()
            state = new_state
            if still:
                break
        state = relax(state, heavy, F.floor(F.col("dist") / delta) == b,
                      pending_only=False)
    light.unpersist()
    return state.select("id", "dist").filter(F.col("dist") != INF)


def dag_longest_path(graph: SparkGraph, weighted: bool = False,
                     config: PathConfig | None = None) -> DataFrame:
    """Longest path to every node of a DAG (dag/longestPath/
    DagLongestPath.java:57 -- 'implemented using topological sort').

    Spark formulation: max-relaxation fixpoint (Bellman-Ford with max);
    on a DAG it converges in depth rounds, the same wavefront the
    reference's in-degree peeling follows. Returns (target, total_cost,
    node_ids) with the path reconstructed from deterministic argmax
    predecessors -- the result shape of the reference's PathFindingResult.
    """
    cfg = config or PathConfig()
    e = graph.aggregated_edges("MAX" if weighted else "COUNT")
    if not weighted:
        e = e.withColumn(W, F.lit(1.0))
    edges = prepare_edges(e, cfg.partitions)
    state = graph.nodes.select(
        "id", F.lit(0.0).alias("dist"), F.lit(True).alias("changed"))
    state = state.transform(truncate_mem)
    for _ in range(cfg.max_iterations):
        frontier = state.filter(F.col("changed"))
        if frontier.isEmpty():
            break
        cands = (
            edges.join(frontier.select(F.col("id").alias(SRC),
                                       F.col("dist").alias("_sd")), SRC)
            .select(F.col(DST).alias("id"), (F.col("_sd") + F.col(W)).alias("_cand"))
            .groupBy("id").agg(F.max("_cand").alias("cand"))
        )
        state = (
            state.join(cands, "id", "left")
            .select(
                "id",
                F.greatest(F.col("dist"), F.coalesce("cand", F.col("dist")))
                .alias("dist"),
                (F.coalesce("cand", F.lit(float("-inf"))) > F.col("dist"))
                .alias("changed"),
            )
            .transform(truncate_mem)
        )
    edges.unpersist()
    dist = state.select("id", "dist")
    # deterministic predecessor on an optimal in-edge, then backtrack;
    # sources (dist 0 with no optimal in-edge) terminate the walk
    du = dist.select(F.col("id").alias(SRC), F.col("dist").alias("_du"))
    dv = dist.select(F.col("id").alias(DST), F.col("dist").alias("_dv"))
    preds = (
        e.join(du, SRC).join(dv, DST)
        .filter(F.abs(F.col("_du") + F.col(W) - F.col("_dv")) < 1e-9)
        .groupBy(F.col(DST).alias("id"))
        .agg(F.min(SRC).alias("pred"))
    )
    walk = (
        dist.select(F.col("id").alias("target"), F.col("dist").alias("total_cost"),
                    F.col("id").alias("_cur"), F.array("id").alias("node_ids"))
        .transform(truncate_mem)
    )
    pmap = preds.select(F.col("id").alias("_cur"), "pred").transform(truncate_mem)
    done = [walk.join(pmap, "_cur", "left_anti")
            .select("target", "total_cost", "node_ids")]
    for _ in range(cfg.max_iterations):
        walk = walk.join(pmap, "_cur")
        if walk.isEmpty():
            break
        walk = walk.select(
            "target", "total_cost", F.col("pred").alias("_cur"),
            F.concat(F.array("pred"), "node_ids").alias("node_ids"),
        ).transform(truncate_mem)
        done.append(walk.join(pmap, "_cur", "left_anti")
                    .select("target", "total_cost", "node_ids"))
        walk = walk.join(pmap.select("_cur"), "_cur", "left_semi")
    out = done[0]
    for d in done[1:]:
        out = out.unionByName(d)
    return out


def dfs(graph: SparkGraph, source: int, max_depth: int | None = None,
        max_collected_edges: int = 5_000_000) -> DataFrame:
    """(id, visit_order): depth-first preorder from `source`
    (paths/traverse/DFS.java:32 -- a single-threaded BitSet walker in the
    reference too; DFS order is inherently sequential). The adjacency of
    the reachable region is collected to the driver (guarded by
    max_collected_edges) and walked with neighbors in ascending id order,
    matching the reference's adjacency-order iteration over the sorted
    CSR. For unbounded-scale traversal use bfs() instead."""
    rows = graph.edges.select(SRC, DST).distinct().limit(max_collected_edges + 1) \
        .collect()
    if len(rows) > max_collected_edges:
        raise ValueError(
            f"dfs collects adjacency to the driver; graph exceeds "
            f"{max_collected_edges} edges -- use bfs() or raise the guard")
    adj: dict[int, list[int]] = {}
    for r in rows:
        adj.setdefault(r[SRC], []).append(r[DST])
    for v in adj:
        adj[v].sort()
    visited: set[int] = set()
    order: list[tuple[int, int]] = []
    stack: list[tuple[int, int]] = [(int(source), 0)]
    while stack:
        node, depth = stack.pop()
        if node in visited:
            continue
        if max_depth is not None and depth > max_depth:
            continue
        visited.add(node)
        order.append((node, len(order)))
        for nb in reversed(adj.get(node, [])):
            if nb not in visited:
                stack.append((nb, depth + 1))
    spark = graph.nodes.sparkSession
    return spark.createDataFrame(order, "id long, visit_order long")
