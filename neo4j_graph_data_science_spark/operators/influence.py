"""CELF influence maximization (independent cascade).

Reference: influenceMaximization/CELF.java:43 -- greedy seed selection
under the independent-cascade model, estimated by Monte-Carlo simulation
(ICLazyForwardMC / IndependentCascade.java simulate DIRECTED cascades);
CELF's lazy priority queue is an evaluation-order optimization whose
output equals plain greedy, which is what we compute.

Spark formulation: the classic live-edge view of IC -- flipping each
edge's coin up front yields a "live" subgraph per simulation, and a seed
set's spread in that simulation is the number of nodes REACHABLE from a
seed along live DIRECTED edges. All R simulations advance together: the
reachability closure is one BFS over (sim, root, node) triples (composite
frontier, one join + one anti-join per level), after which every greedy
round is a pair of joins over the closure table -- no per-candidate
re-simulation. Coin flips are hash-derived per (directed edge, simulation),
so the whole run is deterministic.

mode="undirected_components" keeps the cheaper round-2 approximation
(WCC components of the coin-flipped undirected subgraph): exact only when
cascades are symmetric (one coin per undirected edge), but it avoids the
closure table, whose size is sum over (sim, node) of |reach(node)| --
fine at the default p=0.1 (live subgraphs shatter), quadratic if p is
pushed toward 1 on a well-connected graph.
"""

from __future__ import annotations

from dataclasses import dataclass

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from ..catalog import DST, SRC, SparkGraph
from ..plans.checkpoint import truncate_mem
from .wcc import WccConfig, wcc


@dataclass
class CelfConfig:
    seed_set_size: int = 3
    propagation_probability: float = 0.1
    monte_carlo_simulations: int = 20
    seed: int = 42
    mode: str = "directed"   # "directed" (reference IC) | "undirected_components"
    max_levels: int = 64     # BFS depth bound for the directed closure
    # "xxhash64" (default) | "md5": pins the per-(edge, sim) coin flips to
    # 60-bit md5 prefixes so DuckDB can replay live edges + reachability +
    # greedy argmax bit-for-bit (the max-kcut oracle pattern)
    hash_mode: str = "xxhash64"
    # Size guard for the directed closure: the (sim, root, node) reach
    # table is sum over (sim, node) of |reach(node)| -- quadratic in V when
    # propagation_probability is pushed high on a well-connected graph
    # (round-3 verdict #3). When the table exceeds this many rows the run
    # auto-falls back to mode="undirected_components" with a warning
    # (exact only for symmetric cascades, but it never builds the closure).
    # 100M rows ~= 2.4 GB of triples, comfortable cluster-side; the checks
    # count the per-level in-memory cuts, no extra scan.
    max_reach_rows: int = 100_000_000


class CelfReachOverflow(RuntimeError):
    """Directed-IC reach closure exceeded CelfConfig.max_reach_rows."""


def _coin(cfg: CelfConfig, *cols):
    """Per-(edge, sim) coin in [0, 1e6): hash-derived so the whole Monte
    Carlo run is deterministic; md5 mode is DuckDB-replayable."""
    if cfg.hash_mode == "md5":
        return F.pmod(
            F.conv(F.substring(
                F.md5(F.concat_ws(":", *[F.col(c).cast("string")
                                         if isinstance(c, str) else c
                                         for c in cols],
                                  F.lit(str(cfg.seed)))), 1, 15),
                   16, 10).cast("long"),
            F.lit(1_000_000))
    if cfg.hash_mode != "xxhash64":
        raise ValueError(f"unknown hash_mode {cfg.hash_mode!r}")
    return F.pmod(F.xxhash64(*cols, F.lit(cfg.seed)), F.lit(1_000_000))


def _directed_reach(graph: SparkGraph, cfg: CelfConfig) -> DataFrame:
    """(sim, root, node): node is reachable from root over live directed
    edges in simulation sim (root reaches itself)."""
    R = cfg.monte_carlo_simulations
    de = (
        graph.edges.select(SRC, DST)
        .filter(F.col(SRC) != F.col(DST)).distinct()
    )
    sims = de.select(
        SRC, DST, F.explode(F.sequence(F.lit(0), F.lit(R - 1))).alias("sim"))
    live = truncate_mem(
        sims.filter(
            _coin(cfg, SRC, DST, "sim")
            < int(cfg.propagation_probability * 1_000_000)
        ))
    reach = truncate_mem(
        graph.nodes.select("id")
        .select(F.col("id").alias("root"),
                F.explode(F.sequence(F.lit(0), F.lit(R - 1))).alias("sim"))
        .select("sim", "root", F.col("root").alias("node")))
    frontier = reach
    total_rows = reach.count()
    for _ in range(cfg.max_levels):
        nxt = (
            frontier.join(live.select(F.col(SRC).alias("node"),
                                      F.col(DST).alias("_n"), "sim"),
                          ["sim", "node"])
            .select("sim", "root", F.col("_n").alias("node"))
            .distinct()
        )
        nxt = truncate_mem(nxt.join(reach, ["sim", "root", "node"], "left_anti"))
        n_new = nxt.count()   # counts the cached cut, no recompute
        if n_new == 0:
            break
        total_rows += n_new
        if total_rows > cfg.max_reach_rows:
            raise CelfReachOverflow(
                f"directed-IC reach closure passed {total_rows:,} rows "
                f"(> max_reach_rows={cfg.max_reach_rows:,}) -- "
                f"propagation_probability={cfg.propagation_probability} is "
                "too high for the exact directed closure on this graph")
        reach = truncate_mem(reach.unionByName(nxt))
        frontier = nxt
    return reach


def celf(graph: SparkGraph, config: CelfConfig | None = None) -> DataFrame:
    """(node_id, spread): the greedy seed set in pick order; `spread` is the
    cumulative expected influence after adding that seed (GDS result shape)."""
    cfg = config or CelfConfig()
    R = cfg.monte_carlo_simulations
    spark = graph.nodes.sparkSession

    if cfg.mode == "directed":
        try:
            reach = _directed_reach(graph, cfg)
        except CelfReachOverflow as ex:
            # auto-downgrade, like the betweenness/HDBSCAN scale guards:
            # the component approximation never materializes the closure
            import warnings

            warnings.warn(
                f"{ex}; falling back to mode='undirected_components' "
                "(exact only for symmetric cascades)", RuntimeWarning,
                stacklevel=2)
            return _undirected_celf(graph, cfg, spark)
        covered = spark.createDataFrame([], "sim int, node bigint")
        picks: list[tuple[int, float]] = []
        total = 0.0
        for _ in range(cfg.seed_set_size):
            gains = (
                reach.join(covered, ["sim", "node"], "left_anti")
                .groupBy("root").agg((F.count(F.lit(1)) / F.lit(R)).alias("gain"))
                .orderBy(F.col("gain").desc(), F.col("root").asc())
                .limit(1)
                .collect()
            )
            if not gains:
                break
            node, gain = int(gains[0]["root"]), float(gains[0]["gain"])
            total += gain
            picks.append((node, round(total, 6)))
            covered = covered.unionByName(
                reach.filter(F.col("root") == node).select("sim", "node")
            ).distinct().transform(truncate_mem)
        return spark.createDataFrame(picks, "node_id long, spread double")

    if cfg.mode != "undirected_components":
        raise ValueError(f"unknown celf mode {cfg.mode!r}")
    return _undirected_celf(graph, cfg, spark)


def _undirected_celf(graph: SparkGraph, cfg: CelfConfig, spark) -> DataFrame:
    R = cfg.monte_carlo_simulations
    canon = (
        graph.edges.select(F.least(SRC, DST).alias("a"),
                           F.greatest(SRC, DST).alias("b"))
        .filter(F.col("a") != F.col("b")).distinct()
    )
    sims = canon.select(
        "a", "b", F.explode(F.sequence(F.lit(0), F.lit(R - 1))).alias("sim"))
    live = sims.filter(
        _coin(cfg, "a", "b", "sim")
        < int(cfg.propagation_probability * 1_000_000)
    )
    # R disjoint copies via composite ids; WCC once over the union
    comp_edges = live.select(
        (F.col("a") * R + F.col("sim")).alias(SRC),
        (F.col("b") * R + F.col("sim")).alias(DST),
        F.lit("SIM").alias("rel_type"), F.lit(1.0).alias("weight"),
    )
    comp_nodes = (
        graph.nodes.select("id")
        .select("id", F.explode(F.sequence(F.lit(0), F.lit(R - 1))).alias("sim"))
        .select((F.col("id") * R + F.col("sim")).alias("id"))
    )
    membership = truncate_mem(
        wcc(SparkGraph(nodes=comp_nodes, edges=comp_edges), WccConfig()).state
        .select((F.col("id") % R).alias("sim"),
                F.floor(F.col("id") / R).alias("node"),
                F.col("component").alias("comp")))
    sizes = membership.groupBy("sim", "comp").agg(
        F.count(F.lit(1)).alias("size"))
    gains_base = truncate_mem(membership.join(sizes, ["sim", "comp"]))

    covered = spark.createDataFrame([], "sim int, comp bigint")
    picks = []
    total = 0.0
    for _ in range(cfg.seed_set_size):
        gains = (
            gains_base.join(covered, ["sim", "comp"], "left_anti")
            .groupBy("node").agg((F.sum("size") / F.lit(R)).alias("gain"))
            .orderBy(F.col("gain").desc(), F.col("node").asc())
            .limit(1)
            .collect()
        )
        if not gains:
            break
        node, gain = int(gains[0]["node"]), float(gains[0]["gain"])
        total += gain
        picks.append((node, round(total, 6)))
        covered = covered.unionByName(
            membership.filter(F.col("node") == node).select("sim", "comp")
        ).distinct().transform(truncate_mem)
    return spark.createDataFrame(picks, "node_id long, spread double")
