"""PageRank / ArticleRank / Eigenvector on the Pregel kernel.

Reference semantics (algo/src/main/java/org/neo4j/gds/pagerank/
PageRankComputation.java:70-101 + CentralityAlgorithms.java:254):

  * init rank = alpha where alpha = 1 - dampingFactor (personalized: alpha
    only on sourceNodes, InitialProbabilityFactory.java:33-56)
  * per superstep: rank(v) <- alpha(v) + d * sum_{u->v} rank(u)/outdeg(u)
    (weighted: message * w(u,v), degree = weighted out-degree,
    DegreeFunctions.java:39-56)
  * UNNORMALIZED formulation: converged ranks satisfy
    r(v) = (1-d) + d*sum r(u)/deg(u); ranks sum to ~n, sink-only nodes sit
    at exactly 1-d = 0.15 (PageRankTest.java:75-105).
  * defaults dampingFactor=0.85, tolerance=1e-7, maxIterations=20
    (PageRankConfig.java:27-29, RankConfig.java:39-47)
  * convergence: all per-vertex deltas <= tolerance (vote-to-halt with a
    Sum reducer, PageRankComputation.java:83-96). We run the SYNCHRONOUS
    power iteration, which is the tolerance=0 limit of GDS's delta-push and
    matches its fixture values to 1e-6 at convergence.
  * iteration accounting: GDS's initial superstep only SENDS rank/degree
    (compute() skips the update when isInitialSuperstep,
    PageRankComputation.java:75-81), so ``maxIterations = N`` performs N-1
    rank updates. We mirror that: the kernel runs max_iterations - 1
    synchronous updates and reports GDS-style superstep counts.

Spark plan per superstep: one join of the (V-row) rank state to the
src-partitioned edge table + one combined groupBy(dst) shuffle -- the
ReducingMessenger (see plans/pregel.py). Contributions rank/outdeg are
precomputed into the state so the joined row emits a single multiply.

ArticleRank (ArticleRankComputation.java): contribution divides by
(outdeg + avgOutDeg) instead of outdeg.
Eigenvector (EigenvectorComputation.java): power iteration with global L2
normalization per superstep, init 1/sqrt(n), no damping.
"""

from __future__ import annotations

from dataclasses import dataclass
from typing import Optional, Sequence

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from ..catalog import DST, SRC, SparkGraph, W, register_cache
from ..plans.local_kernel import local_page_rank, should_run_local
from ..plans.pregel import (
    PregelConfig, PregelResult, prepare_edges, run_pregel,
)


@dataclass
class PageRankConfig:
    damping_factor: float = 0.85
    max_iterations: int = 20
    tolerance: float = 1e-7
    weighted: bool = False
    source_nodes: Optional[Sequence[int]] = None  # personalized
    checkpoint_dir: str | None = None
    run_id: str = "pagerank"
    partitions: int | None = None
    # supersteps per materialization/convergence check (plans/pregel.py
    # PregelConfig.check_every): >1 batches supersteps into one Spark job
    check_every: int = 1
    # post-processing scaler applied to the final scores, as the reference's
    # `scaler` config (PageRankAlgorithm.java:107-133 scales the result
    # vector after convergence): one of operators/scaling.SCALERS or None
    scaler: str | None = None
    # subcritical fast path (plans/local_kernel.py): graphs at or below this
    # many aggregated edges run the whole loop in the driver instead of
    # one Spark job per check_every supersteps. None -> module default
    # (2M edges); 0 disables. Identical results (parity-pinned).
    small_graph_edges: int | None = None
    # ENGINE EXTENSION (no GDS counterpart): warm-start ranks for
    # incremental pipelines -- a (id, rank|score) DataFrame, e.g. the
    # previous run's output before new transcript edges were merged. The
    # PageRank fixpoint is init-independent, so the result is identical;
    # a near-converged start just needs far fewer supersteps. Nodes
    # missing from the frame fall back to the cold-start init.
    initial_ranks: "DataFrame | None" = None


def _out_degrees(edges: DataFrame) -> DataFrame:
    """Weighted out-degree = sum of the aggregated edge weight column.

    Unweighted graphs are projected with COUNT aggregation, so the weight
    column carries parallel-edge multiplicity and sum(W) is the true
    multigraph out-degree, exactly matching GDS's unweighted degree over a
    multigraph (DegreeFunctions.java:39-56)."""
    return edges.groupBy(F.col(SRC).alias("id")).agg(F.sum(W).alias("out_deg"))


def _apply_scaler(state: DataFrame, scaler: str | None) -> DataFrame:
    """PageRank-family post-scaler (PageRankAlgorithm.java:107-133): scale
    the converged score column in place; GDS spells these MinMax/L2Norm/...,
    normalized here to the scaling.SCALERS lowercase names."""
    if scaler is None or str(scaler).lower() == "none":
        return state
    from .scaling import scale_property

    return scale_property(state, "score", str(scaler).lower(), out_col="score")


def _delta_converged(tolerance: float):
    """The PageRank family's vote-to-halt: every per-vertex delta <=
    tolerance, read from the loop's ``(count, max(delta))`` stats row.
    tolerance <= 0 runs the full max_iterations."""
    def converged(row: tuple, it: int) -> bool:
        return tolerance > 0 and row[1] is not None and row[1] <= tolerance
    return converged


def page_rank(graph: SparkGraph, config: PageRankConfig | None = None) -> PregelResult:
    """Returns PregelResult whose state is (id, rank, delta)."""
    cfg = config or PageRankConfig()
    d = cfg.damping_factor
    agg_mode = "SUM" if cfg.weighted else "COUNT"
    agg = register_cache(graph.aggregated_edges(agg_mode).persist())
    local, _ = should_run_local(agg, graph.nodes, cfg.small_graph_edges,
                                cfg.checkpoint_dir)
    deg = _out_degrees(agg)
    nodes = graph.nodes.select("id")

    if cfg.source_nodes is not None:
        srcs = set(int(s) for s in cfg.source_nodes)
        alpha = F.when(F.col("id").isin(list(srcs)), F.lit(1.0 - d)).otherwise(F.lit(0.0))
    else:
        alpha = F.lit(1.0 - d)

    base = nodes.join(deg, "id", "left").select(
        "id",
        alpha.alias("rank"),
        alpha.alias("alpha"),
        F.coalesce("out_deg", F.lit(0.0)).alias("out_deg"),
    )
    if cfg.initial_ranks is not None:
        if len(cfg.initial_ranks.columns) < 2:
            raise ValueError(
                "initial_ranks must have (id, rank) columns; got "
                f"{cfg.initial_ranks.columns}")
        rcol = ("rank" if "rank" in cfg.initial_ranks.columns else
                cfg.initial_ranks.columns[1])
        # dedup per id BEFORE the join: a duplicate id in the warm frame
        # would otherwise duplicate the state row itself (each copy sends
        # and receives contributions -- silently corrupt ranks AND
        # duplicate output rows). max() is an arbitrary-but-deterministic
        # pick; the fixpoint is init-independent either way.
        init = (cfg.initial_ranks
                .select(F.col(cfg.initial_ranks.columns[0]).alias("id"),
                        F.col(rcol).cast("double").alias("_r0"))
                .groupBy("id").agg(F.max("_r0").alias("_r0")))
        base = (base.join(init, "id", "left")
                .select("id", F.coalesce("_r0", F.col("rank")).alias("rank"),
                        "alpha", "out_deg"))

    if local:
        state, iters, conv, wall = local_page_rank(
            agg, base, d, max(cfg.max_iterations - 1, 0), cfg.tolerance)
        agg.unpersist()
        return PregelResult(
            state=_apply_scaler(
                state.select("id", F.col("rank").alias("score")), cfg.scaler),
            iterations=iters + 1,  # GDS initial send-only superstep
            converged=conv,
            metrics=[{"kernel": "local-task", "supersteps": iters,
                      "wall_s": round(wall, 4)}],
        )

    # a durable bucketed projection (project_bucketed(aggregation=...))
    # comes back as ``agg`` itself: already collapsed, hash-by-src and
    # sorted, so no re-repartition and no re-sort
    edges = prepare_edges(agg, cfg.partitions)

    # state: (id, rank, alpha, out_deg, contrib = rank/out_deg)
    state0 = (
        base
        .withColumn("delta", F.col("rank"))
        .withColumn(
            "contrib",
            F.when(F.col("out_deg") > 0, F.col("rank") / F.col("out_deg")).otherwise(F.lit(0.0)),
        )
    )

    # weight = multiplicity (COUNT agg) or summed weight (SUM agg)
    msg_weight = F.col(W)

    def superstep(state: DataFrame, it: int) -> DataFrame:
        msgs = (
            edges.join(state.select(F.col("id").alias(SRC), "contrib"), SRC)
            .select(F.col(DST).alias("id"), (F.col("contrib") * msg_weight).alias("_m"))
            .groupBy("id")
            .agg(F.sum("_m").alias("msg"))
        )
        nxt = state.join(msgs, "id", "left").select(
            "id", "alpha", "out_deg", F.col("rank").alias("_old"),
            (F.col("alpha") + F.lit(d) * F.coalesce("msg", F.lit(0.0))).alias("_new"),
        )
        return nxt.select(
            "id",
            F.col("_new").alias("rank"),
            "alpha",
            "out_deg",
            F.abs(F.col("_new") - F.col("_old")).alias("delta"),
            F.when(F.col("out_deg") > 0, F.col("_new") / F.col("out_deg"))
            .otherwise(F.lit(0.0)).alias("contrib"),
        )

    res = run_pregel(
        edges,
        state0,
        superstep,
        PregelConfig(
            max_iterations=max(cfg.max_iterations - 1, 0),  # GDS superstep 0 is send-only
            checkpoint_dir=cfg.checkpoint_dir,
            run_id=cfg.run_id,
            check_every=cfg.check_every,
        ),
        stats=[F.max("delta")],
        converged_stats=_delta_converged(cfg.tolerance),
    )
    res.iterations += 1  # report GDS-style superstep count incl. initial send
    res.state = _apply_scaler(
        res.state.select("id", F.col("rank").alias("score")), cfg.scaler)
    edges.unpersist()
    agg.unpersist()
    return res


def article_rank(graph: SparkGraph, config: PageRankConfig | None = None) -> PregelResult:
    """ArticleRank: message = rank(u) / (outdeg(u) + avgOutDeg)
    (reference ArticleRankComputation.java)."""
    cfg = config or PageRankConfig()
    d = cfg.damping_factor
    edges = prepare_edges(graph.aggregated_edges("COUNT"), cfg.partitions)
    deg = _out_degrees(edges)
    nodes = graph.nodes.select("id")
    n = nodes.count()
    total_deg = edges.agg(F.sum(W)).collect()[0][0] or 0.0
    avg_deg = total_deg / n if n else 0.0

    state0 = (
        nodes.join(deg, "id", "left")
        .select("id", F.lit(1.0 - d).alias("rank"),
                F.coalesce("out_deg", F.lit(0.0)).alias("out_deg"))
        .withColumn("contrib", F.col("rank") / (F.col("out_deg") + F.lit(avg_deg)))
        .withColumn("delta", F.col("rank"))
    )

    def superstep(state: DataFrame, it: int) -> DataFrame:
        msgs = (
            edges.join(state.select(F.col("id").alias(SRC), "contrib"), SRC)
            .select(F.col(DST).alias("id"), (F.col("contrib") * F.col(W)).alias("_m"))
            .groupBy("id")
            .agg(F.sum("_m").alias("msg"))
        )
        nxt = state.join(msgs, "id", "left").select(
            "id", "out_deg", F.col("rank").alias("_old"),
            (F.lit(1.0 - d) + F.lit(d) * F.coalesce("msg", F.lit(0.0))).alias("_new"),
        )
        return nxt.select(
            "id",
            F.col("_new").alias("rank"),
            "out_deg",
            F.abs(F.col("_new") - F.col("_old")).alias("delta"),
            (F.col("_new") / (F.col("out_deg") + F.lit(avg_deg))).alias("contrib"),
        )

    res = run_pregel(edges, state0, superstep,
                     PregelConfig(max_iterations=cfg.max_iterations,
                                  checkpoint_dir=cfg.checkpoint_dir,
                                  run_id=cfg.run_id),
                     stats=[F.max("delta")],
                     converged_stats=_delta_converged(cfg.tolerance))
    res.state = _apply_scaler(
        res.state.select("id", F.col("rank").alias("score")), cfg.scaler)
    edges.unpersist()
    return res


def eigenvector(graph: SparkGraph, config: PageRankConfig | None = None) -> PregelResult:
    """Eigenvector centrality: power iteration over (A + I) with
    per-superstep L2 normalization (reference EigenvectorComputation.java:
    "Instead of just using the adjacency matrix A, we add the centrality
    score from the previous iteration (A + I)" -- this separates dominant
    eigenvalues so b<->c-style 2-cycles don't oscillate). Weighted graphs
    send rank / weightedOutDegree(u) * w(u,v), matching the reference's
    weightDenominator + applyRelationshipWeight pair. init = 1/|V|."""
    cfg = config or PageRankConfig()
    edges = prepare_edges(
        graph.aggregated_edges("SUM" if cfg.weighted else "COUNT"), cfg.partitions
    )
    nodes = graph.nodes.select("id")
    n = nodes.count()
    init = 1.0 / n if n else 0.0
    # GDS subtlety (verified to 1e-5 vs its fixture): RANK stores the
    # NORMALIZED value, but messages carry the UN-normalized nextRank of
    # the sending superstep -- so the recurrence is
    #   y_{t+1} = normalize(y_t) + A^T y_t,   output = normalize(y_T).
    # state carries both: rank (normalized) and y (message source).
    # Superstep 0 is send-only, so maxIterations=T means T-1 receive steps;
    # state0 below IS superstep 0's outcome (y=1/n, rank=1/sqrt(n)).
    init_rank = 1.0 / (n ** 0.5) if n else 0.0
    state0 = nodes.select("id", F.lit(init_rank).alias("rank"),
                          F.lit(init).alias("y"), F.lit(1.0).alias("delta"))
    if cfg.weighted:
        wdeg = edges.groupBy(F.col(SRC).alias("id")).agg(F.sum(W).alias("_wd"))
    else:
        wdeg = None

    def superstep(state: DataFrame, it: int) -> DataFrame:
        sender = state.select(F.col("id").alias(SRC), "y")
        if wdeg is not None:
            sender = (
                sender.join(wdeg.withColumnRenamed("id", SRC), SRC, "left")
                .select(SRC, (F.col("y")
                              / F.when(F.col("_wd") > 0, F.col("_wd"))
                              .otherwise(1.0)).alias("y"))
            )
        msgs = (
            edges.join(sender, SRC)
            .select(F.col(DST).alias("id"),
                    (F.col("y") * (F.col(W) if cfg.weighted else F.lit(1.0)))
                    .alias("_m"))
            .groupBy("id").agg(F.sum("_m").alias("msg"))
        )
        raw = (
            nodes.join(msgs, "id", "left")
            .join(state.select("id", "rank"), "id")
            .select("id", F.col("rank").alias("_old"),
                    (F.col("rank") + F.coalesce("msg", F.lit(0.0))).alias("y"))
        )
        # norm rides along as a broadcast 1-row crossJoin -- no driver
        # collect inside the superstep (fixed-cost job per iteration saved)
        norm = raw.agg(F.sqrt(F.sum(F.col("y") * F.col("y"))).alias("_nrm"))
        scale = F.when(F.col("_nrm") > 0, F.col("_nrm")).otherwise(1.0)
        return (
            raw.crossJoin(F.broadcast(norm))
            .select(
                "id",
                (F.col("y") / scale).alias("rank"),
                "y",
                F.abs(F.col("y") / scale - F.col("_old")).alias("delta"),
            )
        )

    res = run_pregel(edges, state0, superstep,
                     PregelConfig(max_iterations=max(cfg.max_iterations - 1, 0),
                                  checkpoint_dir=cfg.checkpoint_dir,
                                  run_id=cfg.run_id),
                     stats=[F.max("delta")],
                     converged_stats=_delta_converged(cfg.tolerance))
    res.state = _apply_scaler(
        res.state.select("id", F.col("rank").alias("score")), cfg.scaler)
    edges.unpersist()
    return res
