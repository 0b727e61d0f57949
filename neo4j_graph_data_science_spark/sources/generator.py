"""Random graph generation + graph sampling.

gds.graph.generate (reference core/src/main/java/org/neo4j/gds/beta/
generator/RandomGraphGenerator.java:63-111): n nodes, average degree d,
seeded degree/target distributions. Here all randomness is hash-derived
(xxhash64) so generation is deterministic, parallel (spark.range), and
identical at any cluster size -- the property the reference gets from a
seeded RNG, re-expressed for distributed execution.

gds.graph.sample.rwr (reference graph-sampling/.../rwr): random walk with
restart sampling -- iterative frontier expansion where each visited node
keeps a hash-chosen subset of its neighbors until the target node fraction
is reached.
"""

from __future__ import annotations

from dataclasses import dataclass

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from ..catalog import DST, REL, SRC, W, SparkGraph
from ..plans.checkpoint import truncate_mem


@dataclass
class RandomGraphConfig:
    node_count: int = 1000
    average_degree: int = 4
    seed: int = 42
    rel_type: str = "REL"
    # RelationshipDistribution.java: UNIFORM = fixed out-degree + uniform
    # targets; RANDOM = gaussian out-degree (std = avg/2) + uniform targets;
    # POWER_LAW = gaussian degree slots whose edges are SWAPPED onto
    # power-law-sampled sources (RandomGraphGenerator.java:213-218 -- the
    # swap is what makes the OUT-degree follow the power law).
    relationship_distribution: str = "uniform"
    allow_self_loops: bool = False          # AllowSelfLoops.NO default
    keep_parallel_edges: bool = False       # Aggregation.NONE analogue
    force_dag: bool = False                 # orient along a seeded permutation
    # PropertyProducer analogues (PropertyProducer.java): relationship
    # property {"name","type":"fixed","value"} or {"name","type":"random",
    # "min","max"}; node properties a tuple of the same dicts, plus
    # {"type":"embedding","dim"} for RandomEmbeddingProducer.
    relationship_property: dict | None = None
    node_properties: tuple = ()


def _hash_uniform(*cols) -> F.Column:
    """Deterministic U(0,1) from a hash of the given columns/literals."""
    M = 1_000_000_007
    return (F.pmod(F.xxhash64(*cols), F.lit(M)).cast("double") + F.lit(0.5)) / F.lit(
        float(M)
    )


def _producer_col(prod: dict, *hash_cols) -> F.Column:
    """PropertyProducer.java analogue as a pure column expression."""
    kind = prod.get("type", "random")
    if kind == "fixed":
        return F.lit(float(prod["value"]))
    lo, hi = float(prod.get("min", 0.0)), float(prod.get("max", 1.0))
    if kind == "random":
        return F.lit(lo) + _hash_uniform(*hash_cols) * F.lit(hi - lo)
    if kind == "embedding":
        dim = int(prod.get("dim", 8))
        return F.transform(
            F.sequence(F.lit(0), F.lit(dim - 1)),
            lambda i: F.lit(lo) + _hash_uniform(*hash_cols, i) * F.lit(hi - lo),
        )
    raise ValueError(f"unknown property producer type {kind!r}")


def generate_random_graph(spark: SparkSession,
                          config: RandomGraphConfig | None = None) -> SparkGraph:
    """gds.graph.generate parity (RandomGraphGenerator.java:63-235 +
    RelationshipDistribution.java + DistributionHelper.java), hash-derived
    so the same config yields the same graph at any parallelism:

    - degree per node: fixed (UNIFORM) or gaussian via Box-Muller over two
      hash-uniforms (gaussianSample: mean = averageDegree, std = avg/2);
    - target per edge slot: uniform pmod sample, or the power-law
      inverse-CDF of DistributionHelper.powerLawSample (min=1, max=n-1,
      gamma = 1 + 1/averageDegree), with the POWER_LAW src/dst swap;
    - force_dag orients every edge along a seeded hash permutation of the
      ids (the reference's randomDagMapping is a seeded Fisher-Yates; a
      hash rank is the distributed analogue with the same guarantee: the
      orientation relation is a strict total order, hence acyclic);
    - relationship/node PropertyProducers become column expressions.
    """
    cfg = config or RandomGraphConfig()
    n = cfg.node_count
    dist = cfg.relationship_distribution.lower()
    nodes = spark.range(n).select(F.col("id").cast("long"))
    for i, prod in enumerate(cfg.node_properties):
        nodes = nodes.withColumn(
            prod["name"],
            _producer_col(prod, F.col("id"), F.lit(cfg.seed + 1000 + i)),
        )

    if dist == "uniform":
        deg = F.lit(cfg.average_degree)
    elif dist in ("random", "power_law"):
        # gaussianSample(upper, mean=avg, std=avg/2) via Box-Muller
        u1 = _hash_uniform(F.col("id"), F.lit("deg_u1"), F.lit(cfg.seed))
        u2 = _hash_uniform(F.col("id"), F.lit("deg_u2"), F.lit(cfg.seed))
        z = F.sqrt(-2.0 * F.log(u1)) * F.cos(2.0 * 3.141592653589793 * u2)
        deg = F.greatest(
            F.lit(0),
            F.round(z * F.lit(cfg.average_degree / 2.0)
                    + F.lit(float(cfg.average_degree))).cast("int"),
        )
    else:
        raise ValueError(
            f"RelationshipDistribution `{cfg.relationship_distribution}` is "
            "not supported. Must be one of: uniform, random, power_law."
        )

    slots = (
        nodes.select("id", deg.alias("_deg"))
        .filter(F.col("_deg") > 0)
        .select(
            F.col("id").alias(SRC),
            F.explode(F.sequence(F.lit(0), F.col("_deg") - 1)).alias("_k"),
        )
    )
    if dist == "power_law":
        # powerLawSample(min=1, max=n-1, gamma=1+1/avg): inverse-CDF over a
        # hash-uniform, then SWAP so the sampled end is the SOURCE
        gamma = 1.0 + 1.0 / cfg.average_degree
        lo_g, hi_g = 1.0, float(max(n - 1, 1)) ** (1.0 - gamma)
        u = _hash_uniform(F.col(SRC), F.col("_k"), F.lit(cfg.seed))
        tgt = F.round(
            F.pow(F.lit(hi_g - lo_g) * u + F.lit(lo_g), F.lit(1.0 / (1.0 - gamma)))
        ).cast("long")
        pairs = slots.select(
            tgt.alias(SRC), F.col(SRC).alias(DST), "_k",
            F.col(SRC).alias("_slot_owner"),
        )
    else:
        tgt = F.pmod(F.xxhash64(F.col(SRC), F.col("_k"), F.lit(cfg.seed)), F.lit(n))
        pairs = slots.select(
            SRC, tgt.alias(DST), "_k", F.col(SRC).alias("_slot_owner"))
    if not cfg.allow_self_loops:
        pairs = pairs.filter(F.col(SRC) != F.col(DST))
    if cfg.force_dag:
        # orient along the hash rank: rank(a) < rank(b) => edge a->b
        ra = F.xxhash64(F.col(SRC), F.lit("dag"), F.lit(cfg.seed))
        rb = F.xxhash64(F.col(DST), F.lit("dag"), F.lit(cfg.seed))
        flip = (ra > rb) | ((ra == rb) & (F.col(SRC) > F.col(DST)))
        pairs = pairs.select(
            F.when(flip, F.col(DST)).otherwise(F.col(SRC)).alias(SRC),
            F.when(flip, F.col(SRC)).otherwise(F.col(DST)).alias(DST),
            "_k", "_slot_owner",
        )
    if cfg.relationship_property is not None:
        wcol = _producer_col(cfg.relationship_property,
                             F.col("_slot_owner"), F.col("_k"),
                             F.lit(cfg.seed + 7))
    else:
        wcol = F.lit(1.0)
    edges = pairs.select(SRC, DST, F.lit(cfg.rel_type).alias(REL), wcol.alias(W))
    if not cfg.keep_parallel_edges:
        edges = edges.groupBy(SRC, DST, REL).agg(F.min(W).alias(W))
    return SparkGraph(nodes=nodes, edges=edges, name="random")


@dataclass
class RwrSampleConfig:
    sampling_ratio: float = 0.15
    start_nodes: tuple[int, ...] = (0,)
    fanout: int = 3              # hash-kept neighbors per expansion
    max_rounds: int = 50
    seed: int = 42


def rwr_sample(graph: SparkGraph, config: RwrSampleConfig | None = None) -> SparkGraph:
    """Random-walk-with-restart flavored subgraph sample: BFS-like frontier
    where each node keeps its ``fanout`` smallest-hash neighbors, until
    >= sampling_ratio of nodes are visited. Returns the induced subgraph."""
    cfg = config or RwrSampleConfig()
    n_total = graph.nodes.count()
    target = max(int(n_total * cfg.sampling_ratio), len(cfg.start_nodes))
    edges = graph.edges.select(SRC, DST).distinct().transform(truncate_mem)

    visited = graph.nodes.filter(
        F.col("id").isin([int(s) for s in cfg.start_nodes])
    ).select("id").transform(truncate_mem)
    frontier = visited
    for _ in range(cfg.max_rounds):
        if visited.count() >= target or frontier.count() == 0:
            break
        ranked = (
            edges.join(frontier.withColumnRenamed("id", SRC), SRC)
            .withColumn("_rk", F.xxhash64(SRC, DST, F.lit(cfg.seed)))
        )
        from pyspark.sql.window import Window

        w = Window.partitionBy(SRC).orderBy("_rk")
        kept = (
            ranked.withColumn("_rn", F.row_number().over(w))
            .filter(F.col("_rn") <= cfg.fanout)
            .select(F.col(DST).alias("id"))
            .distinct()
        )
        frontier = kept.join(visited, "id", "left_anti").transform(truncate_mem)
        visited = visited.unionByName(frontier).transform(truncate_mem)

    sub_nodes = visited
    sub_edges = (
        graph.edges.join(sub_nodes.withColumnRenamed("id", SRC), SRC, "left_semi")
        .join(sub_nodes.withColumnRenamed("id", DST), DST, "left_semi")
    )
    nodes_out = graph.nodes.join(sub_nodes, "id", "left_semi")
    return SparkGraph(nodes=nodes_out, edges=sub_edges, id_map=graph.id_map,
                      name=f"{graph.name}_rwr")


@dataclass
class CnarwSampleConfig:
    sampling_ratio: float = 0.15
    start_nodes: tuple[int, ...] = (0,)
    fanout: int = 3
    max_rounds: int = 50
    seed: int = 42
    # "xxhash64" (default JVM hash) or "md5" (60-bit md5-prefix int,
    # byte-identical in DuckDB, so the whole sampling walk is replayable)
    hash_mode: str = "xxhash64"


def cnarw_sample(graph: SparkGraph, config: CnarwSampleConfig | None = None) -> SparkGraph:
    """Common-neighbour-aware random-walk sampling (reference
    graph-sampling/.../samplers/rw/cnarw/CommonNeighbourAwareNextNodeStrategy.java:51:
    a uniform candidate neighbor v of u is accepted with probability
    1 - overlap(u, v), overlap = |CN(u,v)| / min(deg u, deg v)) -- walks
    prefer neighbors whose neighborhoods DIFFER, expanding coverage faster
    than plain RWR.

    Distributed deterministic formulation: per-edge overlap is precomputed
    once (a wedge join, the triangle-counting plan restricted to edges),
    and each frontier node keeps the `fanout` neighbors with the smallest
    exponential key  hash_u(v) / (1 - overlap + eps)  -- a weighted sample
    whose acceptance distribution matches the reference's rejection loop.
    """
    cfg = config or CnarwSampleConfig()
    n_total = graph.nodes.count()
    target = max(int(n_total * cfg.sampling_ratio), len(cfg.start_nodes))
    und = (
        graph.edges.select(F.least(SRC, DST).alias("a"),
                           F.greatest(SRC, DST).alias("b"))
        .filter(F.col("a") != F.col("b")).distinct()
    )
    both = und.select(F.col("a").alias(SRC), F.col("b").alias(DST)) \
        .unionByName(und.select(F.col("b").alias(SRC), F.col("a").alias(DST))) \
        .transform(truncate_mem)
    deg = both.groupBy(F.col(SRC).alias("id")).agg(F.count(F.lit(1)).alias("d"))
    # common neighbors per undirected edge: wedges (a-w-b) with a<b edge
    wa = both.select(F.col(DST).alias("w"), F.col(SRC).alias("a"))
    wb = both.select(F.col(DST).alias("w"), F.col(SRC).alias("b"))
    cn = (
        wa.join(wb, "w").filter(F.col("a") < F.col("b"))
        .join(und, ["a", "b"], "left_semi")
        .groupBy("a", "b").agg(F.count(F.lit(1)).alias("cn"))
    )
    weighted = (
        und.join(cn, ["a", "b"], "left").fillna(0, ["cn"])
        .join(deg.select(F.col("id").alias("a"), F.col("d").alias("_da")), "a")
        .join(deg.select(F.col("id").alias("b"), F.col("d").alias("_db")), "b")
        .withColumn("_ov", F.col("cn") / F.least("_da", "_db"))
        .withColumn("_w", F.lit(1.0) - F.col("_ov") + F.lit(1e-6))
    )
    edges_w = weighted.select(F.col("a").alias(SRC), F.col("b").alias(DST), "_w") \
        .unionByName(weighted.select(F.col("b").alias(SRC),
                                     F.col("a").alias(DST), "_w")) \
        .transform(truncate_mem)

    visited = graph.nodes.filter(
        F.col("id").isin([int(s) for s in cfg.start_nodes])
    ).select("id").transform(truncate_mem)
    frontier = visited
    from pyspark.sql.window import Window

    for _ in range(cfg.max_rounds):
        if visited.count() >= target or frontier.count() == 0:
            break
        if cfg.hash_mode == "md5":
            h = F.conv(
                F.substring(
                    F.md5(F.concat_ws(":", F.col(SRC).cast("string"),
                                      F.col(DST).cast("string"),
                                      F.lit(str(cfg.seed)))),
                    1, 15),
                16, 10).cast("long")
        else:
            h = F.xxhash64(SRC, DST, F.lit(cfg.seed))
        u = (F.pmod(h, F.lit(1_000_000_007))
             .cast("double") + 0.5) / 1_000_000_007.0
        ranked = (
            edges_w.join(frontier.withColumnRenamed("id", SRC), SRC)
            .withColumn("_key", -F.log(u) / F.col("_w"))
        )
        # Efraimidis-Spirakis: keep the SMALLEST -ln(u)/w keys (dst as a
        # deterministic secondary tie-break -- keys are hash-derived doubles
        # so ties are measure-zero, but the replay oracle must never depend
        # on engine-internal ordering)
        w = Window.partitionBy(SRC).orderBy(F.col("_key").asc(),
                                            F.col(DST).asc())
        kept = (
            ranked.withColumn("_rn", F.row_number().over(w))
            .filter(F.col("_rn") <= cfg.fanout)
            .select(F.col(DST).alias("id"))
            .distinct()
        )
        frontier = kept.join(visited, "id", "left_anti").transform(truncate_mem)
        visited = visited.unionByName(frontier).transform(truncate_mem)

    sub_nodes = visited
    sub_edges = (
        graph.edges.join(sub_nodes.withColumnRenamed("id", SRC), SRC, "left_semi")
        .join(sub_nodes.withColumnRenamed("id", DST), DST, "left_semi")
    )
    nodes_out = graph.nodes.join(sub_nodes, "id", "left_semi")
    return SparkGraph(nodes=nodes_out, edges=sub_edges, id_map=graph.id_map,
                      name=f"{graph.name}_cnarw")
