"""Minimum spanning tree / forest.

Reference: spanningtree/Prim.java:43 (sequential Prim from a start node)
and kspanningtree/KSpanningTree.java. A driver-side heap does not
distribute; the Spark-native formulation is BORUVKA: every component picks
its minimum outgoing edge (one groupBy), picked edges merge components
(one WCC round over the component graph, itself a handful of joins), and
the component count at least halves per round -- O(log V) rounds total.

With the total-order tie-break (weight, src, dst) the MST is unique, so
the result equals Prim's tree on each connected component; `start_node`
restricts the forest to that node's component, which is exactly the
reference's Prim result shape (tree edges + total weight).
"""

from __future__ import annotations

from dataclasses import dataclass

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from ..catalog import DST, SRC, W, SparkGraph
from ..plans.checkpoint import truncate_mem
from .wcc import WccConfig, wcc


@dataclass
class SpanningTreeConfig:
    max_rounds: int = 64
    objective: str = "minimum"   # or "maximum" (GDS supports both)


def spanning_tree(graph: SparkGraph, start_node: int | None = None,
                  config: SpanningTreeConfig | None = None) -> DataFrame:
    """(src, dst, weight) tree edges of the minimum (or maximum) spanning
    forest; restricted to start_node's component when given."""
    cfg = config or SpanningTreeConfig()
    sign = 1.0 if cfg.objective == "minimum" else -1.0
    und = (
        graph.aggregated_edges("MIN" if sign > 0 else "MAX", "UNDIRECTED")
        .filter(F.col(SRC) != F.col(DST))
    )
    # canonical undirected edge once, keyed for the deterministic total order
    edges = truncate_mem(
        und.select(
            F.least(SRC, DST).alias(SRC), F.greatest(SRC, DST).alias(DST), W)
        .groupBy(SRC, DST).agg((F.min(W) if sign > 0 else F.max(W)).alias(W)))
    comp = truncate_mem(graph.nodes.select("id", F.col("id").alias("comp")))
    # running tree union, cut every round so its plan stays one union deep
    tree: DataFrame | None = None

    for _ in range(cfg.max_rounds):
        ec = (
            edges.join(comp.select(F.col("id").alias(SRC),
                                   F.col("comp").alias("_cs")), SRC)
            .join(comp.select(F.col("id").alias(DST),
                              F.col("comp").alias("_cd")), DST)
            .filter(F.col("_cs") != F.col("_cd"))
        )
        if ec.isEmpty():
            break
        # each component's minimum outgoing edge under (w, src, dst) order
        key = F.struct((F.col(W) * sign).alias("w"), F.col(SRC).alias("s"),
                       F.col(DST).alias("d"))
        pick = (
            ec.select(F.explode(F.array("_cs", "_cd")).alias("_c"), key.alias("_k"))
            .groupBy("_c").agg(F.min("_k").alias("_k"))
            .select(F.col("_k.s").alias(SRC), F.col("_k.d").alias(DST),
                    (F.col("_k.w") * sign).alias(W))
            .distinct()
        )
        pick = truncate_mem(pick)
        tree = pick if tree is None else truncate_mem(
            tree.unionByName(pick).distinct())
        # merge components connected by picked edges: WCC on the comp graph
        cg_edges = (
            pick.join(comp.select(F.col("id").alias(SRC),
                                  F.col("comp").alias("_cs")), SRC)
            .join(comp.select(F.col("id").alias(DST),
                              F.col("comp").alias("_cd")), DST)
            .select(F.col("_cs").alias(SRC), F.col("_cd").alias(DST),
                    F.lit("M").alias("rel_type"), F.lit(1.0).alias(W))
        )
        cg_nodes = comp.select(F.col("comp").alias("id")).distinct()
        merged = wcc(SparkGraph(nodes=cg_nodes, edges=cg_edges),
                     WccConfig()).state
        comp = truncate_mem(
            comp.join(merged.select(F.col("id").alias("comp"),
                                    F.col("component").alias("_new")), "comp")
            .select("id", F.col("_new").alias("comp")))

    if tree is None:
        return graph.nodes.sparkSession.createDataFrame(
            [], f"{SRC} long, {DST} long, {W} double")
    tree = tree.distinct()
    if start_node is not None:
        in_comp = comp.filter(F.col("id") == start_node).select("comp")
        members = comp.join(in_comp, "comp", "left_semi").select("id")
        tree = (
            tree.join(members.withColumnRenamed("id", SRC), SRC, "left_semi")
        )
    return tree


def k_spanning_tree(graph: SparkGraph, k: int,
                    config: SpanningTreeConfig | None = None) -> DataFrame:
    """(id, community): partition into k trees by deleting the k-1 heaviest
    (minimum objective; lightest for maximum) edges of the spanning tree --
    the classic MST property behind kspanningtree/KSpanningTree.java:46.
    Community id = min member id of each resulting tree (via WCC)."""
    cfg = config or SpanningTreeConfig()
    tree = spanning_tree(graph, config=cfg)
    # minimum objective: drop the k-1 heaviest tree edges = keep the
    # LIGHTEST |tree|-(k-1) (ascending); maximum: the mirror image
    sign = 1.0 if cfg.objective == "minimum" else -1.0
    keep = (
        tree.withColumn(
            "_key", F.struct((F.col(W) * sign).alias("w"),
                             F.col(SRC).alias("s"), F.col(DST).alias("d")))
        .orderBy("_key")
        .limit(max(tree.count() - (k - 1), 0))
        .drop("_key")
    )
    cut_graph = SparkGraph(
        nodes=graph.nodes.select("id"),
        edges=keep.select(SRC, DST, F.lit("TREE").alias("rel_type"), W),
    )
    return wcc(cut_graph, WccConfig()).state \
        .select("id", F.col("component").alias("community"))


@dataclass
class PrizeSteinerConfig:
    max_rounds: int = 200


def prize_steiner_tree(graph: SparkGraph, prizes: DataFrame,
                       config: PrizeSteinerConfig | None = None) -> DataFrame:
    """Prize-collecting Steiner tree: (id, parent, cost) rows of the best
    net-worth subtree (node prizes minus edge costs). `prizes` is
    (id, prize>=0); nodes absent from it get prize 0.

    Reference: pricesteiner/PCSTFast.java:40 (Goemans-Williamson growth +
    StrongPruning.java:63 leaf-peeling DP). The GW moat-growth phase is a
    sequential event queue that does not distribute; the Spark-first
    substitution is the Boruvka minimum spanning forest as the candidate
    tree, followed by the REFERENCE'S OWN strong-pruning DP re-expressed as
    synchronized leaf-peeling rounds:

      peel every degree-1 node l with remaining neighbor p and edge cost w:
        dp[l] = prize[l] + accumulated child gains
        if w < dp[l]: parent[l]=p, dp[p] += dp[l]-w   (profitable subtree)
        else:         parent[l]=ROOT                   (severed)
      best solution = subtree rooted at argmax dp at peel time.

    Each round peels ALL current leaves (one groupBy + one anti-join), so
    rounds = O(tree radius) — logarithmic on bushy link graphs; `max_rounds`
    caps pathological path-shaped trees. Severing and dp bookkeeping match
    StrongPruning.java exactly; only the candidate tree differs (MST vs GW),
    which keeps the 'drop terminals whose connection costs more than their
    prize' semantics while staying shuffle-parallel.
    """
    cfg = config or PrizeSteinerConfig()
    ROOT = F.lit(-1).cast("long")
    pz = prizes.select("id", F.col("prize").cast("double"))
    state = truncate_mem(
        graph.nodes.select("id").join(pz, "id", "left")
        .select("id", F.coalesce("prize", F.lit(0.0)).alias("dp")))
    edges = truncate_mem(spanning_tree(graph)) \
        .select(SRC, DST, W)
    peeled: DataFrame | None = None
    spark = graph.nodes.sparkSession

    for _ in range(cfg.max_rounds):
        if state.isEmpty():
            break
        # adjacency of the REMAINING tree (both directions), with degree
        adj = edges.select(F.col(SRC).alias("id"), F.col(DST).alias("nbr"), W) \
            .unionByName(edges.select(F.col(DST).alias("id"),
                                      F.col(SRC).alias("nbr"), W))
        deg = adj.groupBy("id").agg(F.count("*").alias("_deg"))
        leaves = (
            state.join(deg, "id", "left")
            .withColumn("_deg", F.coalesce("_deg", F.lit(0)))
        )
        # degree-0 survivors (component's last node / isolated) become roots
        iso = leaves.filter(F.col("_deg") == 0) \
            .select("id", ROOT.alias("parent"),
                    F.lit(None).cast("double").alias("cost"), "dp")
        # degree-1 peel set; a leaf-leaf edge peels only its lesser endpoint
        # (the reference's sequential queue processes one first)
        l1 = leaves.filter(F.col("_deg") == 1) \
            .join(adj, "id").select("id", "nbr", W, "dp")
        both = l1.alias("a").join(
            l1.select(F.col("id").alias("nbr"), F.col("nbr").alias("id")).alias("b"),
            ["id", "nbr"], "left_semi")  # leaf whose nbr is also a leaf
        l1 = l1.join(both.filter(F.col("id") > F.col("nbr")).select("id"),
                     "id", "left_anti")
        if l1.isEmpty() and iso.isEmpty():
            break
        attach = F.col(W) < F.col("dp")
        rows = l1.select(
            "id",
            F.when(attach, F.col("nbr")).otherwise(ROOT).alias("parent"),
            F.when(attach, F.col(W)).otherwise(F.lit(None).cast("double"))
            .alias("cost"),
            "dp",
        ).unionByName(iso)
        rows = truncate_mem(rows)
        peeled = rows if peeled is None else truncate_mem(
            peeled.unionByName(rows))
        gains = rows.filter(F.col("parent") >= 0) \
            .groupBy(F.col("parent").alias("id")) \
            .agg(F.sum(F.col("dp") - F.col("cost")).alias("_gain"))
        state = truncate_mem(
            state.join(rows.select("id"), "id", "left_anti")
            .join(gains, "id", "left")
            .select("id", (F.col("dp") + F.coalesce("_gain", F.lit(0.0)))
                    .alias("dp")))
        edges = truncate_mem(
            edges.join(rows.select(F.col("id").alias(SRC)), SRC, "left_anti")
            .join(rows.select(F.col("id").alias(DST)), DST, "left_anti"))

    if peeled is None:
        return spark.createDataFrame([], "id long, parent long, cost double")
    peeled = truncate_mem(peeled)
    # best subtree = argmax dp at peel time (tie: min id, deterministic)
    best = peeled.orderBy(F.desc("dp"), F.asc("id")).limit(1) \
        .select(F.col("id").alias("_root")).collect()
    if not best or peeled.filter(F.col("dp") > 0).isEmpty():
        return spark.createDataFrame([], "id long, parent long, cost double")
    root_id = best[0]["_root"]
    links = peeled.filter(F.col("parent") >= 0).select("id", "parent", "cost")
    kept = spark.createDataFrame([(int(root_id),)], "id long")
    for _ in range(cfg.max_rounds):
        grown = truncate_mem(
            kept.unionByName(
                links.join(kept.withColumnRenamed("id", "parent"), "parent")
                .select("id")).distinct())
        if grown.count() == kept.count():
            kept = grown
            break
        kept = grown
    return (
        peeled.join(kept, "id", "left_semi")
        .select("id",
                F.when(F.col("id") == root_id, ROOT).otherwise(F.col("parent"))
                .alias("parent"),
                F.when(F.col("id") == root_id,
                       F.lit(None).cast("double")).otherwise(F.col("cost"))
                .alias("cost"))
    )


def steiner_tree(graph: SparkGraph, source: int, targets: list[int],
                 config: SpanningTreeConfig | None = None,
                 max_path_len: int = 200) -> DataFrame:
    """(src, dst, weight): approximate Steiner tree connecting `source` to
    every reachable target (steiner/ShortestPathsSteinerAlgorithm.java:40 --
    the classic shortest-path 2-approximation: repeatedly attach the
    closest unconnected terminal via its shortest path to the CURRENT
    tree). Each round is one multi-source SSSP (all tree nodes at dist 0)
    plus a pred-chain backtrack; rounds = number of terminals.

    Fully distributed state (round-2 verdict #3): tree membership and tree
    edges live in DataFrames, the multi-source SSSP takes the tree-node
    DataFrame directly, and the backtrack walks the predecessor map with
    one broadcast-join per hop on a SINGLE-row frontier — the driver only
    ever sees the chosen terminal id and loop-control scalars, never an
    O(V) predecessor map."""
    from .paths import PathConfig, _deterministic_predecessors, shortest_paths

    e = truncate_mem(graph.aggregated_edges("MIN"))
    spark = graph.nodes.sparkSession
    tree_nodes = truncate_mem(
        spark.createDataFrame([(int(source),)], "id long"))
    rem = truncate_mem(
        spark.createDataFrame(
            [(int(t),) for t in dict.fromkeys(targets) if int(t) != int(source)],
            "id long"))
    tree_edges: DataFrame | None = None
    while not rem.isEmpty():
        dist = shortest_paths(graph, tree_nodes, PathConfig())
        # closest unconnected terminal (tie: min id); ONE row to the driver
        pick = (dist.join(rem, "id")
                .orderBy(F.asc("dist"), F.asc("id")).limit(1).collect())
        if not pick:
            break  # no remaining terminal is reachable from the tree
        nxt = int(pick[0]["id"])
        preds = _deterministic_predecessors(e, dist)
        pmap = preds.select(F.col("id").alias("_cur"), "pred") \
            .transform(truncate_mem)
        at_tree = dist.filter(F.col("dist") <= 0.0) \
            .select(F.col("id").alias("pred")).transform(truncate_mem)
        # single-row pred-chain walk: frontier is 1 row, pmap join broadcasts
        # the frontier side; stops when pred lands on a dist-0 (tree) node
        walk = spark.createDataFrame([(nxt,)], "_cur long")
        path_edges: DataFrame | None = None
        for _ in range(max_path_len):
            step = walk.join(pmap, "_cur").select(
                F.col("pred").alias(SRC), F.col("_cur").alias(DST)
            ).transform(truncate_mem)
            if step.isEmpty():
                break
            path_edges = step if path_edges is None else \
                path_edges.unionByName(step)
            if not step.join(at_tree, step[SRC] == at_tree["pred"],
                             "left_semi").isEmpty():
                break
            walk = step.select(F.col(SRC).alias("_cur"))
        if path_edges is not None:
            path_edges = truncate_mem(path_edges)
            tree_edges = path_edges if tree_edges is None else truncate_mem(
                tree_edges.unionByName(path_edges).distinct())
            tree_nodes = truncate_mem(
                tree_nodes.unionByName(
                    path_edges.select(F.col(SRC).alias("id")))
                .unionByName(path_edges.select(F.col(DST).alias("id")))
                .distinct())
        rem = truncate_mem(rem.filter(F.col("id") != nxt))
    if tree_edges is None:
        return spark.createDataFrame([], f"{SRC} long, {DST} long, {W} double")
    te = tree_edges.distinct()
    return te.join(e.select(SRC, DST, W), [SRC, DST], "left").fillna(1.0, [W])
