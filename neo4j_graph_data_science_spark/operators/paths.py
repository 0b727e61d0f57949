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

One relaxation step (``_relax``): the frontier (the state rows allowed to
send) joins the src-partitioned edges, candidate dists combine per dst with
a min-reducer (plans/pregel.reduced_messages: one map-side-combined shuffle
-- the ReducingMessenger), then fold into state with least(). BFS, SSSP,
Bellman-Ford with and without predecessors, the target-pruned search behind
Dijkstra/A* and delta-stepping's light and heavy passes all run it; they
differ only in which rows send and which columns ride along (the A* bound
``h``, ``pred``, delta's pending set). DAG longest path (max-plus) and Yen's
(walker, id)-keyed spur search keep their own message blocks.

Every fixpoint loop and the pred-chain walk (``_walk_preds``) run on
plans/pregel.run_pregel: one observed lineage cut per boundary, superseded
cuts released, AQE off and the shuffle width pinned to the edges'. Each
loop's stop test is a stat observed on the boundary's cut, so a round
costs no separate emptiness action. Rounds = graph diameter for BFS /
#relaxation waves for SSSP. Scale: frontier is a filtered state DF, so
message volume tracks the active set, not V; hubs are handled by the
min-combiner.
"""

from __future__ import annotations

from dataclasses import dataclass
from typing import Sequence

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

from ..catalog import DST, SRC, SparkGraph, W, register_cache
from ..plans.checkpoint import release, truncate_mem
from ..plans.local_kernel import (
    LOCAL_PATHS_MAX_EDGES, local_dijkstra_paths, local_relax_dist,
    should_run_local,
)
from ..plans.pregel import (
    PregelConfig, PregelResult, prepare_edges, reduced_messages, run_pregel,
)

INF = float("inf")


@dataclass
class PathConfig:
    max_iterations: int = 200
    # subcritical fast path (plans/local_kernel.py): dist-only ops (bfs /
    # shortest_paths) default to the 2M-edge kernel threshold; the
    # with-paths ops (dijkstra/astar) default to the tighter
    # LOCAL_PATHS_MAX_EDGES. 0 disables.
    small_graph_edges: int | None = None


def _seeded(nodes: DataFrame, is_source: Column) -> DataFrame:
    """(id, dist, changed): dist 0 and changed at the sources, +inf and
    unchanged elsewhere."""
    return nodes.select(
        "id",
        F.when(is_source, F.lit(0.0)).otherwise(F.lit(INF)).alias("dist"),
        is_source.alias("changed"),
    )


def _relax(edges: DataFrame, state: DataFrame, frontier: DataFrame,
           cost: Column | None = None, pending: Column | None = None
           ) -> DataFrame:
    """One min-plus relaxation superstep over an (id, dist, changed, ...)
    ``state``: every ``frontier`` row (a filter of ``state``) sends
    dist + ``cost`` (default: the edge weight) along its out-edges, the
    candidates combine per dst with min, and fold in with least(). With a
    ``pred`` column the reducer is the least (candidate, src), so pred
    follows the argmin. ``changed`` marks the rows this step improved, or
    that stay ``pending`` (a Column over the old row). Every other column
    rides along unchanged."""
    has_pred = "pred" in state.columns
    cand = F.col("_sd") + (F.col(W) if cost is None else cost)
    msgs = reduced_messages(
        edges, frontier.select("id", F.col("dist").alias("_sd")),
        F.struct(cand.alias("c"), F.col(SRC).alias("p")) if has_pred else cand,
        "min")
    c = F.col("msg.c") if has_pred else F.col("msg")
    better = F.coalesce(c, F.lit(INF)) < F.col("dist")
    ride = [F.when(better, F.col("msg.p")).otherwise(F.col("pred")).alias("pred")
            if col == "pred" else col
            for col in state.columns if col not in ("id", "dist", "changed")]
    return state.join(msgs, "id", "left").select(
        "id",
        F.least(F.col("dist"), F.coalesce(c, F.col("dist"))).alias("dist"),
        (better if pending is None else better | pending).alias("changed"),
        *ride,
    )


def _any_changed() -> list[Column]:
    return [F.max(F.col("changed").cast("int"))]


def _none_changed(row: tuple, it: int) -> bool:
    return not row[1]


def _relax_fixpoint(edges: DataFrame, state0: DataFrame, max_iterations: int,
                    cost: Column | None = None) -> PregelResult:
    """``_relax`` from the changed rows on run_pregel until no row changes
    or ``max_iterations`` supersteps ran (``converged`` tells which)."""

    def superstep(state: DataFrame, it: int) -> DataFrame:
        frontier = state.filter(F.col("changed") & (F.col("dist") != INF))
        return _relax(edges, state, frontier, cost)

    return run_pregel(edges, state0, superstep,
                      PregelConfig(max_iterations=max_iterations),
                      stats=_any_changed(), converged_stats=_none_changed)


def bfs(graph: SparkGraph, sources: Sequence[int],
        config: PathConfig | None = None) -> DataFrame:
    """(id, dist): minimum hop count from any source; unreachable omitted."""
    cfg = config or PathConfig()
    eset = register_cache(graph.edges.select(SRC, DST).distinct().persist())
    local, _ = should_run_local(eset, graph.nodes, cfg.small_graph_edges,
                                None)
    state0 = _seeded(graph.nodes, F.col("id").isin([int(s) for s in sources]))
    if local:
        out = local_relax_dist(eset, state0.select("id", "dist"),
                               cfg.max_iterations, hop_cost=True)
        eset.unpersist()
        return out.select("id", F.col("dist").cast("long").alias("dist"))
    edges = prepare_edges(eset)
    out = _relax_fixpoint(edges, state0, cfg.max_iterations, F.lit(1.0)).state
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
        state0 = _seeded(graph.nodes.select("id").join(src_df, "id", "left"),
                         F.coalesce("_is_src", F.lit(False)))
    else:
        state0 = _seeded(graph.nodes,
                         F.col("id").isin([int(s) for s in sources]))
    if local:
        out = local_relax_dist(e, state0.select("id", "dist"),
                               cfg.max_iterations)
        e.unpersist()
        return out
    edges = prepare_edges(e)
    out = _relax_fixpoint(edges, state0, cfg.max_iterations).state
    edges.unpersist()
    e.unpersist()
    return out.filter(F.col("dist") != INF).select("id", "dist")


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
    # The layers are the result; every other cut is released once the next
    # round's replaces it.
    edges = graph.edges.select(SRC, DST).filter(F.col(SRC) != F.col(DST)) \
        .distinct().transform(truncate_mem)
    remaining = graph.nodes.select("id").transform(truncate_mem)
    levels: list[DataFrame] = []
    for level in range(max_iterations):
        has_in = edges.select(F.col(DST).alias("id")).distinct()
        layer = remaining.join(has_in, "id", "left_anti").transform(truncate_mem)
        if layer.count() == 0:
            release(layer)
            break
        levels.append(layer.select("id", F.lit(level).cast("long").alias("level")))
        rest = remaining.join(layer, "id", "left_anti").transform(truncate_mem)
        release(remaining)
        remaining = rest
        rest = edges.join(layer.withColumnRenamed("id", SRC), SRC, "left_anti") \
            .transform(truncate_mem)
        release(edges)
        edges = rest
    release(remaining)
    release(edges)
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


def _walk_preds(seeds: DataFrame, pmap: DataFrame, max_len: int,
                keys: Sequence[str] = ()) -> DataFrame:
    """The pred-chain walk of dijkstra, astar, Yen's spur search and DAG
    longest path, one hop per run_pregel superstep. Every seed row
    (*keys, target, total_cost, arrived) starts the path [target] and
    prepends pred(_cur) from ``pmap`` (*keys, _cur, pred, _stop) until it
    lands on a pred whose ``_stop`` is set. A row whose chain dead-ends,
    or that is still walking after ``max_len`` hops, is dropped. Returns
    (*keys, target, total_cost, node_ids) of the arrived rows."""
    keys = list(keys)
    pmap = pmap.transform(truncate_mem)
    walk0 = seeds.select(*keys, "target", "total_cost",
                         F.col("target").alias("_cur"),
                         F.array("target").alias("node_ids"), "arrived")

    def hop(walk: DataFrame, it: int) -> DataFrame:
        moved = (
            walk.filter(~F.col("arrived")).join(pmap, keys + ["_cur"])
            .select(*keys, "target", "total_cost", F.col("pred").alias("_cur"),
                    F.concat(F.array("pred"), "node_ids").alias("node_ids"),
                    F.col("_stop").alias("arrived"))
        )
        return walk.filter("arrived").unionByName(moved)

    res = run_pregel(pmap, walk0, hop, PregelConfig(max_iterations=max_len),
                     stats=[F.min(F.col("arrived").cast("int"))],
                     converged_stats=lambda row, it: row[1] != 0)
    release(pmap)
    return res.state.filter("arrived").select(*keys, "target", "total_cost",
                                              "node_ids")


def _source_walk(dist: DataFrame, preds: DataFrame, source: int,
                 max_len: int) -> DataFrame:
    """(target, total_cost, node_ids): the path from ``source`` to every
    other ``dist`` row, backtracked along ``preds`` (id, pred)."""
    seeds = dist.filter(F.col("id") != source).select(
        F.col("id").alias("target"), F.col("dist").alias("total_cost"),
        F.lit(False).alias("arrived"))
    pmap = preds.select(F.col("id").alias("_cur"), "pred",
                        (F.col("pred") == source).alias("_stop"))
    return _walk_preds(seeds, pmap, max_len)


def _with_costs(paths: DataFrame, dist: DataFrame,
                keys: Sequence[str] = ()) -> DataFrame:
    """``paths`` (*keys, target, ..., node_ids) plus ``costs``: the dist of
    each path node, in path order."""
    keys = list(keys)
    dmap = dist.select(*keys, F.col("id").alias("_n"), F.col("dist").alias("_nd"))
    costs = (
        paths.select(*keys, "target", F.posexplode("node_ids").alias("pos", "_n"))
        .join(dmap, keys + ["_n"])
        .groupBy(*keys, "target")
        .agg(F.array_sort(F.collect_list(F.struct("pos", "_nd"))).alias("_pc"))
        .select(*keys, "target", F.col("_pc._nd").alias("costs"))
    )
    return paths.join(costs, keys + ["target"])


def _target_pruned_dist(nodes: DataFrame, edges: DataFrame, source: int,
                        target: int, max_iterations: int,
                        heuristic: DataFrame | None = None) -> DataFrame:
    """Branch-and-bound pruned relaxation toward one target on run_pregel:
    a changed row sends only while dist(v) + h(v) < dist(target), the
    target's current distance read in the plan (a 1-row broadcast), and
    the loop stops at the first boundary where no changed row passes that
    test -- min(dist + h) over the changed rows and dist(target) are
    observed on the boundary's cut. h (0 without a heuristic) rides along
    in the state. Exact for the target, and — for h=0 and strictly positive
    weights — exact for EVERY node with true distance < dist(target) (the
    only nodes a target pred-chain backtrack can touch). Returns the raw
    pruned (id, dist) state: distances of nodes at/beyond the target's
    distance may be overestimates and must be filtered by the caller before
    pred derivation."""
    state0 = _seeded(nodes, F.col("id") == source)
    if heuristic is not None:
        state0 = state0.join(heuristic.select("id", F.col("h").cast("double")),
                             "id", "left").fillna(0.0, ["h"])
    else:
        state0 = state0.withColumn("h", F.lit(0.0))
    is_target = F.col("id") == target

    def superstep(state: DataFrame, it: int) -> DataFrame:
        best = state.filter(is_target).select(F.col("dist").alias("_bt"))
        frontier = (state.filter(F.col("changed") & (F.col("dist") != INF))
                    .crossJoin(F.broadcast(best))
                    .filter(F.col("dist") + F.col("h") < F.col("_bt")))
        return _relax(edges, state, frontier)

    def pruned_out(row: tuple, it: int) -> bool:
        lowest, best = row[1], row[2]
        return lowest is None or best is None or lowest >= best

    res = run_pregel(
        edges, state0, superstep, PregelConfig(max_iterations=max_iterations),
        stats=[F.min(F.when(F.col("changed") & (F.col("dist") != INF),
                            F.col("dist") + F.col("h"))),
               F.min(F.when(is_target, F.col("dist")))],
        converged_stats=pruned_out)
    return res.state.select("id", "dist").filter(F.col("dist") != INF)


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
        release(e)
        return out.select(F.lit(source).cast("long").alias("source"),
                          "target", "total_cost", "node_ids", "costs")
    pruned_ok = False
    if target is not None:
        wmin = e.agg(F.min(W).alias("_w")).collect()[0]["_w"]
        pruned_ok = wmin is not None and wmin > 0
    if pruned_ok:
        edges = prepare_edges(e)
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
    # with a single target, backtrack ONLY its pred chain (a 1-row walk per
    # hop) instead of every reachable node's -- Yen's runs one dijkstra per
    # spur candidate, so this is its inner-loop cost
    seed = dist if target is None else dist.filter(F.col("id") == target)
    paths = _source_walk(seed, _deterministic_predecessors(e, dist), source,
                         cfg.max_iterations)
    release(e)
    return _with_costs(paths, dist).select(
        F.lit(source).cast("long").alias("source"), "target", "total_cost",
        "node_ids", "costs")


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
    edges = prepare_edges(e)
    dist = _target_pruned_dist(graph.nodes.select("id"), edges, source,
                               target, cfg.max_iterations, heuristic=heuristic)
    edges.unpersist()
    out = _source_walk(dist.filter(F.col("id") == target),
                       _deterministic_predecessors(e, dist), source,
                       cfg.max_iterations)
    e.unpersist()
    return out.select(F.lit(source).cast("long").alias("source"), "target",
                      "total_cost", "node_ids")


def _multi_spur_dijkstra(edges: DataFrame, walkers: list[dict], target: int,
                         cfg: PathConfig) -> dict[int, tuple]:
    """ALL spur candidates of one Yen's k-iteration as ONE multi-source,
    per-walker-masked Dijkstra on run_pregel. Walker w starts at its spur
    node carrying its own excluded-node/edge masks (a broadcast walker
    table); every walker relaxes in the SAME superstep and is
    target-pruned independently (a changed row sends only while its dist is
    below its walker's target distance; the loop stops at the first
    superstep that changes no row), and a single collect at the end
    returns every spur path -- replacing the per-spur
    dijkstra().collect() loop, where each spur paid full Spark job latency
    per superstep AND per spur. ``edges`` are the prepared (src-partitioned)
    edges. Requires strictly positive weights (caller checks; GDS Yens is
    Dijkstra-backed with the same requirement, paths/yens/Yens.java).

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
    state0 = spark.createDataFrame(
        [(w["wid"], int(w["spur"]), 0.0, True) for w in walkers],
        "wid long, id long, dist double, changed boolean",
    )

    def superstep(state: DataFrame, it: int) -> DataFrame:
        best = (state.filter(F.col("id") == target)
                .select("wid", F.col("dist").alias("_bt")))
        frontier = (state.filter("changed")
                    .join(F.broadcast(best), "wid", "left")
                    .filter(F.col("dist") < F.coalesce("_bt", F.lit(INF))))
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
        return (
            state.join(cands, ["wid", "id"], "full")
            .select("wid", "id",
                    F.least(F.coalesce("dist", F.lit(INF)),
                            F.coalesce("cand", F.lit(INF))).alias("dist"),
                    (F.coalesce("cand", F.lit(INF))
                     < F.coalesce("dist", F.lit(INF))).alias("changed"))
        )

    state = run_pregel(edges, state0, superstep,
                       PregelConfig(max_iterations=cfg.max_iterations),
                       stats=_any_changed(),
                       converged_stats=_none_changed).state
    # exact-set filter (positive weights): per walker keep nodes strictly
    # closer than its target plus the target row; walkers that never
    # reached the target drop out here
    bt = (state.filter(F.col("id") == target)
          .select("wid", F.col("dist").alias("_bt")))
    dist = (state.join(F.broadcast(bt), "wid")
            .filter((F.col("dist") < F.col("_bt")) | (F.col("id") == target))
            .select("wid", "id", "dist").transform(truncate_mem))
    release(state)
    du = dist.select("wid", F.col("id").alias(SRC), F.col("dist").alias("_du"))
    dv = dist.select("wid", F.col("id").alias(DST), F.col("dist").alias("_dv"))
    pmap = (
        edges.join(du, SRC).join(dv, ["wid", DST])
        .join(masks, "wid")
        .filter(~F.array_contains(F.col("exe"), edge_key))
        .filter(F.abs(F.col("_du") + F.col(W) - F.col("_dv")) < 1e-9)
        .groupBy("wid", F.col(DST).alias("_cur"))
        .agg(F.min(SRC).alias("pred"))
        .join(masks.select("wid", "spur"), "wid")
        .select("wid", "_cur", "pred", (F.col("pred") == F.col("spur")).alias("_stop"))
    )
    seeds = dist.filter(F.col("id") == target).select(
        "wid", F.col("id").alias("target"), F.col("dist").alias("total_cost"),
        F.lit(False).alias("arrived"))
    arrived = _walk_preds(seeds, pmap, cfg.max_iterations, keys=["wid"])
    rows = _with_costs(arrived, dist, keys=["wid"]).collect()  # ONE collect
    release(dist)
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
    edges = None
    if not subcritical:
        wmin = edges_base.agg(F.min(W)).collect()[0][0]
        if wmin is not None and wmin > 0:
            edges = prepare_edges(edges_base)

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
        if edges is not None:
            res = _multi_spur_dijkstra(edges, walkers, target, cfg)
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
    if edges is not None:
        edges.unpersist()
    release(edges_base)
    rows = [(i, source, p[-1], c, p) for i, (c, p, _) in enumerate(paths)]
    return graph.nodes.sparkSession.createDataFrame(
        rows, "index long, source long, target long, total_cost double, "
              "node_ids array<bigint>")


def bellman_ford(graph: SparkGraph, source: int,
                 config: PathConfig | None = None) -> DataFrame:
    """(id, dist, in_negative_cycle): Bellman-Ford with negative-cycle
    detection (paths/bellmanford/BellmanFord.java:49). A negative cycle is
    reachable exactly when the relaxation has not converged after V+1
    rounds; the nodes still relaxing then, and everything reachable from
    them, are reported with dist -inf, like the reference marks
    negative-cycle results."""
    cfg = config or PathConfig()
    n = graph.nodes.count()
    edges = prepare_edges(graph.aggregated_edges("MIN"))
    res = _relax_fixpoint(edges, _seeded(graph.nodes, F.col("id") == source),
                          n + 1)
    state = res.state
    if res.converged:
        edges.unpersist()
        return state.select("id", "dist",
                            F.lit(False).alias("in_negative_cycle"))
    # the taint closure: hop-cost relaxation over the same edges from the
    # still-changing rows (their true distance is unbounded below)
    tainted = _relax_fixpoint(
        edges, _seeded(state, F.col("changed")), cfg.max_iterations,
        F.lit(1.0)).state
    edges.unpersist()
    return (
        state.join(tainted.select("id", (F.col("dist") != INF).alias("_t")),
                   "id")
        .select(
            "id",
            F.when(F.col("_t"), F.lit(float("-inf"))).otherwise(F.col("dist"))
            .alias("dist"),
            F.col("_t").alias("in_negative_cycle"),
        )
    )


def _bf_pred_state(graph: SparkGraph,
                   source: int) -> "tuple[DataFrame, int] | None":
    """Bellman-Ford relaxation with predecessor tracking (argmin by
    (candidate, src)): the (id, dist, changed, pred) state after V+1
    rounds and the node count V, or None when relaxation converged (no
    negative cycle reachable from ``source``)."""
    n = graph.nodes.count()
    edges = prepare_edges(graph.aggregated_edges("MIN"))
    state0 = _seeded(graph.nodes, F.col("id") == source) \
        .withColumn("pred", F.lit(None).cast("long"))
    res = _relax_fixpoint(edges, state0, n + 1)
    edges.unpersist()
    return None if res.converged else (res.state, n)


def bellman_ford_negative_cycles(graph: SparkGraph, source: int,
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
    spark = graph.nodes.sparkSession
    empty = spark.createDataFrame(
        [], "index long, node_ids array<bigint>, total_cost double")
    res = _bf_pred_state(graph, source)
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
    release(pmap)
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

    spark = graph.nodes.sparkSession
    empty = spark.createDataFrame(
        [], "index long, node_ids array<bigint>, total_cost double")
    res = _bf_pred_state(graph, source)
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
    # every hop's cut feeds `walk` until walk is cut below
    hops_cut = [active]
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
        hops_cut.append(active)
    # a walker still active after max_walk hops never closed its cycle --
    # drop that component entirely rather than emitting a non-closed node
    # sequence with a partial cost (the single-cycle variant returns
    # empty in the analogous case)
    if not active.isEmpty():
        unfinished = active.select("comp").distinct()
        walk = walk.join(unfinished, "comp", "left_anti")
    walk = walk.transform(truncate_mem)
    for df in hops_cut + [nxt_map, cyc_nodes, state]:
        release(df)
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
    bucket (a run_pregel loop that stops once no member of b is pending),
    then one HEAVY-edge pass, then advance to the next non-empty bucket.
    Non-negative weights only.

    ``changed`` is the PENDING (unsettled) set, not a per-round flag: nodes
    outside the processed bucket keep their pending mark, nodes inside it
    stay pending only if a relaxation improved them again. The HEAVY pass
    sends from every settled member of b, pending or not: by the time the
    light loop has emptied bucket b every member is un-pending, but their
    heavy edges still must relax exactly once (DeltaStepping.java's
    relaxHeavyEdges over the emptied bucket); heavy targets land in
    buckets > b (w > delta), so this cannot re-open bucket b."""
    cfg = config or PathConfig()
    e = graph.aggregated_edges("MIN")
    light = prepare_edges(e.filter(F.col(W) <= delta))
    heavy = e.filter(F.col(W) > delta).transform(truncate_mem)
    state = _seeded(graph.nodes, F.col("id") == source)
    finite = F.col("dist") != INF
    bucket = F.floor(F.col("dist") / delta)
    settled = None
    for _ in range(cfg.max_iterations):
        nxt = state.filter(F.col("changed") & finite) \
            .agg(F.min(bucket)).collect()[0][0]
        if nxt is None:
            break
        in_b = bucket == int(nxt)
        pending = F.col("changed") & ~in_b
        # the light loop's first cut is `state`, the previous bucket's
        # heavy pass: nothing reads the previous settled cut after it
        done = run_pregel(
            light, state,
            lambda st, it: _relax(light, st,
                                  st.filter(F.col("changed") & finite & in_b),
                                  pending=pending),
            PregelConfig(max_iterations=cfg.max_iterations),
            stats=[F.max((F.col("changed") & in_b).cast("int"))],
            converged_stats=_none_changed).state
        if settled is not None:
            release(settled)
        settled = done
        state = _relax(heavy, settled, settled.filter(finite & in_b),
                       pending=pending)
    light.unpersist()
    return state.select("id", "dist").filter(F.col("dist") != INF)


def dag_longest_path(graph: SparkGraph, weighted: bool = False,
                     config: PathConfig | None = None) -> DataFrame:
    """Longest path to every node of a DAG (dag/longestPath/
    DagLongestPath.java:57 -- 'implemented using topological sort').

    Spark formulation: max-relaxation fixpoint (Bellman-Ford with max) on
    run_pregel; on a DAG it converges in depth rounds, the same wavefront
    the reference's in-degree peeling follows. Returns (target, total_cost,
    node_ids) with the path reconstructed from deterministic argmax
    predecessors -- the result shape of the reference's PathFindingResult.
    """
    cfg = config or PathConfig()
    e = graph.aggregated_edges("MAX" if weighted else "COUNT")
    if not weighted:
        e = e.withColumn(W, F.lit(1.0))
    edges = prepare_edges(e)

    def superstep(state: DataFrame, it: int) -> DataFrame:
        cands = reduced_messages(edges, state.select("id", "dist"),
                                 F.col("dist") + F.col(W), "max",
                                 active=F.col("changed"))
        return state.join(cands, "id", "left").select(
            "id",
            F.greatest(F.col("dist"), F.coalesce("msg", F.col("dist")))
            .alias("dist"),
            (F.coalesce("msg", F.lit(float("-inf"))) > F.col("dist"))
            .alias("changed"),
        )

    state0 = graph.nodes.select("id", F.lit(0.0).alias("dist"),
                                F.lit(True).alias("changed"))
    dist = run_pregel(edges, state0, superstep,
                      PregelConfig(max_iterations=cfg.max_iterations),
                      stats=_any_changed(),
                      converged_stats=_none_changed).state
    # deterministic predecessor on an optimal in-edge, then backtrack;
    # sources (no optimal in-edge) end the walk
    preds = _deterministic_predecessors(edges, dist)
    roots = preds.select(F.col("id").alias("pred"), F.lit(False).alias("_stop"))
    pmap = preds.join(roots, "pred", "left").select(
        F.col("id").alias("_cur"), "pred",
        F.coalesce("_stop", F.lit(True)).alias("_stop"))
    seeds = dist.join(preds.select("id", F.lit(False).alias("arrived")),
                      "id", "left").select(
        F.col("id").alias("target"), F.col("dist").alias("total_cost"),
        F.coalesce("arrived", F.lit(True)).alias("arrived"))
    out = _walk_preds(seeds, pmap, cfg.max_iterations)
    edges.unpersist()
    release(dist)
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
