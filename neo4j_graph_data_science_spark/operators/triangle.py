"""Triangle counting + local clustering coefficient.

Reference: algo/src/main/java/org/neo4j/gds/triangle/
IntersectingTriangleCount.java:54 -- sorted-adjacency intersection over an
UNDIRECTED projection, each triangle enumerated once as c < b < a
(GraphIntersect.java:81-141); per-node counts +1 per corner, global +1 per
triangle; nodes above ``maxDegree`` are excluded with count -1
(EXCLUDED_NODE_TRIANGLE_COUNT, IntersectingTriangleCount.java:56,160-167).
LCC = 2*T(v) / (deg(v)*(deg(v)-1)) (LocalClusteringCoefficient.java).

Spark formulation: canonicalize to a simple undirected edge set
E = {(u,v): u < v}, then count via two hash joins:

    wedges  = E1(a,b) JOIN E2(b,c)  on e1.dst = e2.src   (a<b<c)
    closure = wedges JOIN E3(a,c)

Each triangle a<b<c is produced exactly once -- the DataFrame analogue of
GDS's c<b<a enumeration. Skew note (10^9-edge scale): id-ordering makes
hub fan-out quadratic in hub degree; the standard fix is DEGREE ordering
(orient each edge from lower-degree to higher-degree endpoint), which bounds
wedge fan-out by graph arboricity. Implemented as ``degree_ordered=True``
(default) -- identical counts, different join cardinality. AQE skew-join
splits any residual hot partitions.

At or below ``small_graph_edges`` canonical edges and nodes (2M by
default) the joins are skipped: plans/local_kernel.local_triangles closes
the same degree-oriented wedges with numpy in the driver, unless there
are more than LOCAL_TRIANGLES_MAX_WEDGES of them.
"""

from __future__ import annotations

from dataclasses import dataclass

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from ..catalog import DST, SRC, SparkGraph, register_cache
from ..plans.local_kernel import local_triangles, should_run_local


@dataclass
class TriangleCountConfig:
    max_degree: int | None = None
    degree_ordered: bool = True
    # Below this edge count the CLOSING edge set rides as a broadcast hash
    # table, so the 41M-row wedge stream (sf0.1 parts graph) is generated,
    # probed, and reduced inside ONE stage -- never shuffled or
    # materialized. Above it (the 100-TB regime) the closure is a regular
    # shuffle join, exactly the previous plan. ~20M canonical edges is
    # ~300 MB broadcast -- the conventional executor-memory ceiling.
    broadcast_closure_max_edges: int = 20_000_000
    # subcritical fast path (plans/local_kernel.py): at or below this many
    # canonical edges and nodes, and at most LOCAL_TRIANGLES_MAX_WEDGES
    # wedges, the counts come from one numpy pass in the driver.
    # None -> module default (2M); 0 disables. Identical counts.
    small_graph_edges: int | None = None


def _canonical_edges(graph: SparkGraph) -> DataFrame:
    """Simple undirected edge set with src < dst (dedup both directions,
    drop self-loops)."""
    e = graph.edges.select(SRC, DST).filter(F.col(SRC) != F.col(DST))
    canon = e.select(
        F.least(SRC, DST).alias(SRC), F.greatest(SRC, DST).alias(DST)
    ).distinct()
    return canon


def triangle_count(
    graph: SparkGraph, config: TriangleCountConfig | None = None
) -> DataFrame:
    """Per-node triangle counts: (id, triangles). Excluded hubs get -1."""
    cfg = config or TriangleCountConfig()
    # canon feeds degree, orientation, the wedge self-join AND the closure:
    # persist so the (possibly expensive) edge derivation upstream runs
    # once, not four times. The dispatch count materializes the cache and
    # yields the broadcast-decision count.
    canon = register_cache(_canonical_edges(graph).persist())
    local, n_canon = should_run_local(canon, graph.nodes,
                                      cfg.small_graph_edges, None)
    # the driver kernel declines graphs with too many wedges (None)
    out = (local_triangles(canon, graph.nodes.select("id"), cfg.max_degree)
           if local else None)
    if out is not None:
        canon.unpersist()
        return out
    # the key-packing id bounds
    stats = canon.agg(F.max(F.greatest(SRC, DST)).alias("m"),
                      F.min(F.least(SRC, DST)).alias("lo")).collect()[0]

    # persisted: referenced by both orientation joins (d1/d2) -- without
    # the cache each reference re-runs the union+aggregate pipeline
    deg = register_cache((
        canon.select(F.col(SRC).alias("id"))
        .unionAll(canon.select(F.col(DST).alias("id")))
        .groupBy("id")
        .agg(F.count(F.lit(1)).alias("deg"))
    ).persist())
    nodes = graph.nodes.select("id").join(deg, "id", "left").fillna(0, ["deg"])

    excluded = None
    if cfg.max_degree is not None:
        excluded = register_cache(
            nodes.filter(F.col("deg") > cfg.max_degree).select("id").persist())
        canon = (
            canon.join(excluded.withColumnRenamed("id", SRC), SRC, "left_anti")
            .join(excluded.withColumnRenamed("id", DST), DST, "left_anti")
        )

    if cfg.degree_ordered:
        # orient lower-degree -> higher-degree (ties by id): bounds join fan-out
        d1 = deg.withColumnRenamed("id", SRC).withColumnRenamed("deg", "_ds")
        d2 = deg.withColumnRenamed("id", DST).withColumnRenamed("deg", "_dd")
        ed = canon.join(d1, SRC).join(d2, DST)
        fwd = F.col("_ds") < F.col("_dd")
        tie = (F.col("_ds") == F.col("_dd")) & (F.col(SRC) < F.col(DST))
        oriented = ed.select(
            F.when(fwd | tie, F.col(SRC)).otherwise(F.col(DST)).alias(SRC),
            F.when(fwd | tie, F.col(DST)).otherwise(F.col(SRC)).alias(DST),
        )
    else:
        oriented = canon

    e1 = oriented.select(F.col(SRC).alias("a"), F.col(DST).alias("b"))
    e2 = oriented.select(F.col(SRC).alias("a"), F.col(DST).alias("c"))
    # out-wedges at a (b != c), closed by an oriented edge between b and c.
    # Small graphs: broadcast one side so wedge generation, the closure
    # probe, and the corner partial-aggregate all pipeline inside ONE
    # stage -- the 41M-row wedge stream (sf0.1 parts graph) is never
    # shuffled or sorted. Big graphs: plain shuffle joins, as before.
    small = n_canon <= cfg.broadcast_closure_max_edges
    wedges = e1.join(F.broadcast(e2) if small else e2, "a").filter(
        F.col("b") < F.col("c"))
    # Closure probe key: when every id fits in 32 bits, pack (b, c) into
    # one long -- a primitive-key broadcast hash probe measures ~3x faster
    # than the two-column (struct-key) join at 41M wedges. Ids above 2^31
    # (possible at full scale) keep the two-column key for correctness.
    packable = (stats["m"] is not None and stats["m"] < (1 << 31)
                and stats["lo"] >= 0)
    if packable:
        # cast to long BEFORE the shift: on IntegerType ids Spark follows
        # Java int-shift semantics (shift amount mod 32 == 0), which would
        # degenerate the key to b + c and admit spurious closures.
        closing = oriented.select(
            (F.shiftleft(F.least(SRC, DST).cast("long"), 32)
             + F.greatest(SRC, DST).cast("long")).alias("_k"))
        wedges = wedges.withColumn(
            "_k",
            F.shiftleft(F.col("b").cast("long"), 32) + F.col("c").cast("long"))
        tri = wedges.join(
            F.broadcast(closing) if small else closing, "_k")
    else:
        closing = oriented.select(
            F.least(SRC, DST).alias("b"), F.greatest(SRC, DST).alias("c")
        )
        if small:
            closing = F.broadcast(closing)
        tri = wedges.join(closing, ["b", "c"])  # one row per triangle

    # ONE pass over the triangle rows: a 3-branch union would re-evaluate
    # the whole wedge+closure join subtree per branch (Spark unions do not
    # share subplans) -- explode emits the 3 corners from a single scan
    corners = (
        tri.select(F.explode(F.array("a", "b", "c")).alias("id"))
        .groupBy("id")
        .agg(F.count(F.lit(1)).alias("triangles"))
    )
    out = (
        graph.nodes.select("id")
        .join(corners, "id", "left")
        .select("id", F.coalesce("triangles", F.lit(0)).cast("long").alias("triangles"))
    )
    if excluded is not None:
        out = out.join(
            excluded.withColumn("_ex", F.lit(True)), "id", "left"
        ).select(
            "id",
            F.when(F.col("_ex"), F.lit(-1)).otherwise(F.col("triangles"))
            .cast("long").alias("triangles"),
        )
    return out


def global_triangle_count(
    graph: SparkGraph, config: TriangleCountConfig | None = None
) -> int:
    per_node = triangle_count(graph, config)
    s = per_node.filter(F.col("triangles") >= 0).agg(
        F.sum("triangles")
    ).collect()[0][0]
    return int((s or 0) // 3)


def triangle_stream(graph: SparkGraph) -> DataFrame:
    """(node_a, node_b, node_c) one row per triangle, a<b<c
    (TriangleStream.java analogue)."""
    canon = _canonical_edges(graph)
    e1 = canon.select(F.col(SRC).alias("node_a"), F.col(DST).alias("node_b"))
    e2 = canon.select(F.col(SRC).alias("node_b"), F.col(DST).alias("node_c"))
    e3 = canon.select(F.col(SRC).alias("node_a"), F.col(DST).alias("node_c"))
    return e1.join(e2, "node_b").join(e3, ["node_a", "node_c"]).select(
        "node_a", "node_b", "node_c"
    )


def local_clustering_coefficient(
    graph: SparkGraph, config: TriangleCountConfig | None = None
) -> DataFrame:
    """(id, lcc): 2*T(v)/(deg*(deg-1)); 0 when deg < 2; excluded hubs NaN
    (LocalClusteringCoefficient.java semantics)."""
    tri = triangle_count(graph, config)
    canon = _canonical_edges(graph)
    deg = (
        canon.select(F.col(SRC).alias("id"))
        .unionAll(canon.select(F.col(DST).alias("id")))
        .groupBy("id")
        .agg(F.count(F.lit(1)).alias("deg"))
    )
    return (
        tri.join(deg, "id", "left")
        .fillna(0, ["deg"])
        .select(
            "id",
            F.when(F.col("triangles") < 0, F.lit(float("nan")))
            .when(F.col("deg") < 2, F.lit(0.0))
            .otherwise(
                2.0 * F.col("triangles") / (F.col("deg") * (F.col("deg") - 1))
            )
            .alias("lcc"),
        )
    )
