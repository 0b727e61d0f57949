"""Community algorithms beyond WCC/SCC/LPA: k-core decomposition,
K1-coloring, modularity metric, conductance metric.

k-core (reference kcore/KCoreDecomposition.java:40 -- atomic-counter
peeling): distributed formulation is the h-index fixpoint (Montresor,
De Pellegrini, Miorandi, "Distributed k-core decomposition"): start
c(v) = deg(v); repeatedly set c(v) = H(c(u) : u in N(v)) where H is the
h-index (largest h with >= h neighbors of value >= h). Monotonically
non-increasing, converges to coreness exactly. Each round = one
collect-neighbor-values shuffle + a vectorized h-index over the sorted
value array (all Catalyst exprs, no Python).

K1-coloring (reference k1coloring/K1Coloring.java:65): greedy color +
conflict resolution loop: all nodes start color 0; on conflict (neighbor
with same color) the higher id recolors to the smallest color absent from
its neighborhood. Terminates when conflict-free; deterministic given ids.

Both fixpoints run on plans/pregel.run_pregel over the prepared symmetric
edges, one superstep per round: the state carries a flag (``_ch``, the
core dropped; ``_moved``, the node recolored) and the loop stops once the
boundary cut observes none set, so the last superstep is a no-op round.

Modularity (reference modularity/ModularityCalculator.java:39):
  Q = sum_c [ e_c / m - (d_c / 2m)^2 ]
over undirected simple edges: m = |E|, e_c = intra-community edges,
d_c = sum of degrees in c. Two joins + one agg.

Conductance (reference conductance/Conductance.java:214-225): per
community, phi(c) = external / (external + internal) counting each
node's outgoing relationship weights from community c.
"""

from __future__ import annotations

from dataclasses import dataclass

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from ..catalog import DST, SRC, SparkGraph, W, register_cache
from ..plans.pregel import (
    PregelConfig, prepare_edges, reduced_messages, run_pregel,
)


def _undirected_simple(graph: SparkGraph) -> DataFrame:
    e = graph.edges.select(SRC, DST).filter(F.col(SRC) != F.col(DST))
    return e.select(
        F.least(SRC, DST).alias(SRC), F.greatest(SRC, DST).alias(DST)
    ).distinct()


@dataclass
class KCoreConfig:
    max_iterations: int = 100


def _symmetric_edges(graph: SparkGraph) -> DataFrame:
    """The undirected simple edges in both directions, prepared as the
    loop's (src, dst) edge frame."""
    canon = _undirected_simple(graph)
    return prepare_edges(canon.unionAll(
        canon.select(F.col(DST).alias(SRC), F.col(SRC).alias(DST))))


def _flag_loop(edges: DataFrame, state: DataFrame, superstep, flag: str,
               max_iterations: int) -> DataFrame:
    """``superstep`` on run_pregel until no row sets ``flag``; returns the
    last state (the loop's result cut) and drops the prepared edges."""
    res = run_pregel(edges, state, superstep,
                     PregelConfig(max_iterations=max_iterations),
                     stats=[F.max(F.col(flag).cast("int"))],
                     converged_stats=lambda row, it: not row[1])
    edges.unpersist()
    return res.state


def k_core(graph: SparkGraph, config: KCoreConfig | None = None) -> DataFrame:
    """(id, core): exact coreness via the h-index fixpoint."""
    cfg = config or KCoreConfig()
    edges = _symmetric_edges(graph)
    state = edges.groupBy(F.col(SRC).alias("id")).agg(
        F.count(F.lit(1)).cast("long").alias("core")) \
        .withColumn("_ch", F.lit(True))

    # h-index of a DESC-sorted value array a: max over i of min(a[i], i+1)
    def h_index(arr):
        return F.aggregate(
            F.zip_with(
                F.array_sort(arr, lambda x, y: F.when(x > y, -1).when(x < y, 1).otherwise(0)),
                F.sequence(F.lit(1), F.size(arr)),
                lambda v, i: F.least(v, i.cast("long")),
            ),
            F.lit(0).cast("long"),
            lambda acc, x: F.greatest(acc, x),
        )

    def superstep(state: DataFrame, it: int) -> DataFrame:
        # queue-messenger path (SyncQueueMessenger.java): the h-index needs
        # the full neighbor multiset, so the reducer is "collect"
        nb_vals = reduced_messages(
            edges, state.select("id", F.col("core").alias("_c")),
            F.col("_c"), reducer="collect")
        h = F.coalesce(h_index(F.col("msg")), F.col("core"))
        return state.join(nb_vals, "id", "left").select(
            "id", F.least(F.col("core"), h).alias("core"),
            (h < F.col("core")).alias("_ch"))

    state = _flag_loop(edges, state, superstep, "_ch", cfg.max_iterations)
    return graph.nodes.select("id").join(state, "id", "left") \
        .select("id", F.coalesce("core", F.lit(0)).cast("long").alias("core"))


@dataclass
class K1ColoringConfig:
    max_iterations: int = 100


def k1_coloring(graph: SparkGraph, config: K1ColoringConfig | None = None) -> DataFrame:
    """(id, color): greedy conflict-resolution coloring; adjacent nodes get
    distinct colors, colors are small non-negative longs. Deterministic:
    on conflict the higher id moves to the mex of its neighbor colors."""
    cfg = config or K1ColoringConfig()
    edges = _symmetric_edges(graph)
    state = graph.nodes.select("id", F.lit(0).cast("long").alias("color"),
                               F.lit(True).alias("_moved"))

    # mex of a color array: smallest k >= 0 absent from it. mex <= size(arr),
    # so the candidate range 0..size(arr) always contains it.
    def mex(arr):
        candidates = F.sequence(F.lit(0).cast("long"), F.size(arr).cast("long"))
        return F.array_min(F.array_except(candidates, arr)).cast("long")

    def superstep(state: DataFrame, it: int) -> DataFrame:
        # every node hears (color, id) from each neighbor; it is in conflict
        # when a lower-id neighbor shares its color, and then moves to the
        # mex of all its neighbors' colors -- one plan per round
        heard = reduced_messages(
            edges, state.select("id", F.col("color").alias("_c")),
            F.struct(F.col("_c").alias("c"), F.col(SRC).alias("p")),
            reducer="collect")
        conflict = F.coalesce(F.exists(
            "msg", lambda m: (m["c"] == F.col("color"))
            & (m["p"] < F.col("id"))), F.lit(False))
        # flag first: a later select item's lambda would resolve "color"
        # to the new alias (lateral column alias), not the input column
        return state.join(heard, "id", "left").withColumn("_moved", conflict) \
            .select("id", F.when(F.col("_moved"), mex(F.transform(
                "msg", lambda m: m["c"]))).otherwise(F.col("color"))
                .alias("color"), "_moved")

    state = _flag_loop(edges, state, superstep, "_moved", cfg.max_iterations)
    return state.select("id", "color")


def modularity(graph: SparkGraph, communities: DataFrame,
               community_col: str = "community") -> DataFrame:
    """One row (modularity, community_count): Q over the undirected simple
    edge view given a (id, community) assignment, computed eagerly so the
    two caches it needs are dropped before it returns."""
    # persisted: canon feeds the edge-count action, the endpoint joins and
    # the degree union (4 references); lab feeds both endpoint joins and
    # the degree-sum -- each reference would re-run the upstream community
    # computation otherwise
    canon = register_cache(_undirected_simple(graph).persist())
    lab = communities.select("id", F.col(community_col).alias("_c")).persist()
    m = canon.count()
    if m == 0:
        canon.unpersist()
        lab.unpersist()
        return communities.sparkSession.createDataFrame(
            [(0.0, 0)], "modularity double, community_count long"
        )
    e = (
        canon.join(lab.withColumnRenamed("id", SRC).withColumnRenamed("_c", "_cs"), SRC)
        .join(lab.withColumnRenamed("id", DST).withColumnRenamed("_c", "_cd"), DST)
    )
    intra = e.filter(F.col("_cs") == F.col("_cd")).groupBy(
        F.col("_cs").alias("_c")
    ).agg(F.count(F.lit(1)).alias("_ec"))
    deg = (
        canon.select(F.col(SRC).alias("id"))
        .unionAll(canon.select(F.col(DST).alias("id")))
        .groupBy("id").agg(F.count(F.lit(1)).alias("_d"))
    )
    dc = lab.join(deg, "id", "left").groupBy("_c").agg(
        F.sum(F.coalesce("_d", F.lit(0))).alias("_dc")
    )
    per_comm = dc.join(intra, "_c", "left").select(
        "_c",
        (
            F.coalesce("_ec", F.lit(0)) / F.lit(float(m))
            - (F.col("_dc") / F.lit(2.0 * m)) * (F.col("_dc") / F.lit(2.0 * m))
        ).alias("_q"),
    )
    row = per_comm.agg(
        F.sum("_q").alias("modularity"),
        F.count(F.lit(1)).alias("community_count"),
    ).collect()[0]
    canon.unpersist()
    lab.unpersist()
    return communities.sparkSession.createDataFrame(
        [tuple(row)], "modularity double, community_count long")


def conductance(graph: SparkGraph, communities: DataFrame,
                community_col: str = "community") -> DataFrame:
    """(community, conductance): external / (external + internal) over each
    node's outgoing relationship weights (Conductance.java:214-225).
    Communities with zero outgoing weight are omitted (NaN in GDS)."""
    # persisted: both endpoint joins reference the labels -- without the
    # cache the UPSTREAM community computation (often a full WCC/LPA run)
    # would execute once per reference
    lab = communities.select("id", F.col(community_col).alias("_c")).persist()
    e = (
        graph.edges.select(SRC, DST, W)
        .join(lab.withColumnRenamed("id", SRC).withColumnRenamed("_c", "_cs"), SRC)
        .join(lab.withColumnRenamed("id", DST).withColumnRenamed("_c", "_cd"), DST)
    )
    counts = e.groupBy(F.col("_cs").alias("community")).agg(
        F.sum(F.when(F.col("_cs") == F.col("_cd"), F.col(W)).otherwise(0.0)).alias("_int"),
        F.sum(F.when(F.col("_cs") != F.col("_cd"), F.col(W)).otherwise(0.0)).alias("_ext"),
    )
    return counts.filter((F.col("_int") + F.col("_ext")) > 0).select(
        "community",
        (F.col("_ext") / (F.col("_ext") + F.col("_int"))).alias("conductance"),
    )
