"""Pregel superstep kernel: the engine's "query executor" for iterative algorithms.

Reference semantics (pregel/src/main/java/org/neo4j/gds/beta/pregel/):
  * BSP superstep loop, stop on maxIterations or convergence (Pregel.java:204-245)
  * ReducingMessenger: per-vertex combined message slot (ReducingMessenger.java:39-107)
    -> in Spark this is EXACTLY ``groupBy(dst).agg(sum/min/max/count)``: the
    map-side partial aggregation before the shuffle is the distributed
    combiner, the shuffle itself is message delivery.
  * Vote-to-halt: converged iff no messages sent and all vote bits set
    (PartitionedComputer.java:88-95) -> an ``active`` predicate filtering
    which vertices emit messages; converged when the active frontier is empty.
  * Degree/range partitioning for skew (Partitioning.java:33-36,
    PartitionUtils.java:126-159) -> map-side partial aggregation (Spark's
    built-in two-stage combine) + AQE skew join; see the NOTE at the bottom.

What GDS does NOT have and this kernel adds (north rule):
  * per-superstep checkpoint of vertex state + lineage/metrics, resumable
    mid-iteration (plans/checkpoint.py).

Scale notes (10^12 turns / 10^9+ edges):
  * One edge-layout rule: prepare_edges hash-partitions edges by src once
    and persists them, or only persists an input whose plan already
    reports that layout (a project_bucketed scan); run_pregel runs every
    loop shuffle at the prepared edges' partition count. Each superstep
    shuffles (a) the vertex state by src for the edge join and (b) the
    combined messages by dst -- both O(V) after map-side combine, never O(E).
  * Hot destination vertices (hubs) are handled by the map-side combiner
    (messages to one dst collapse per input partition) plus AQE skew split.
  * Every boundary is one Spark job: the lineage cut
    (plans/checkpoint.truncate_mem, the package's one cut) over the new
    state with the vertex count and convergence stats observed on the same
    pass. The superseded boundary's cut is released as soon as the new one
    exists, so a loop holds one state's blocks at a time.
"""

from __future__ import annotations

import threading
import time
from contextlib import contextmanager
from dataclasses import dataclass, field
from typing import Callable, Optional

from pyspark.serializers import CPickleSerializer
from pyspark.sql import Column, DataFrame, SparkSession
from pyspark.sql import functions as F

from ..catalog import DST, SRC, W, register_cache
from .checkpoint import CheckpointManager, release, truncate_mem

Reducers: dict[str, Callable[[Column], Column]] = {
    # Reducer.java:34-86 -- Sum (identity 0), Min, Max, Count
    "sum": F.sum,
    "min": F.min,
    "max": F.max,
    "count": lambda c: F.count(c).cast("double"),
    # queue messenger fallback (SyncQueueMessenger.java) for no-combiner algos
    "collect": F.collect_list,
}


@dataclass
class PregelConfig:
    max_iterations: int = 20
    checkpoint_dir: str | None = None      # durable resume, saved every boundary
    run_id: str = "run"
    # supersteps per boundary (one cut + convergence check). 1 = classic
    # BSP (one job per superstep). k>1 chains k supersteps LAZILY and runs
    # them as ONE Spark job per boundary -- on overhead-bound graphs (small
    # state, many iterations) the per-superstep fixed cost (job scheduling,
    # plan analysis) dominates wall time, and batching divides it by k.
    # Convergence detection is delayed by at most k-1 supersteps
    # (results are the same or MORE converged); fixed-iteration runs are
    # bit-identical. Every boundary is a lineage cut
    # (plans/checkpoint.truncate_mem), whose size-estimate clamp is what
    # keeps a k-deep chain that references the state twice per superstep
    # from compounding the estimate 2^k-fold per boundary. Keep k SMALL: the
    # unresolved plan itself also grows 2^k-fold (state is referenced twice
    # per superstep), so Catalyst analysis eats the win back. Measured on
    # the 192k-edge event graph, 55 supersteps, local[32]: k=1 70-120 s,
    # k=3 46 s, k=6 63 s, k=9 207 s -> 3 is the sweet spot.
    check_every: int = 1


@dataclass
class PregelResult:
    state: DataFrame
    iterations: int
    converged: bool
    metrics: list[dict] = field(default_factory=list)


# Probe-calibrated (26.8M-edge transcript graph):
#   8 cores:  16 parts 1.32M edges/s/superstep | 64 parts 2.40M  (1.8x)
#   32 cores: 32 parts 2.48M | 64 parts 4.17M | 128 parts 2.76M (1.7x)
# i.e. the superstep loop wants ~400k edge rows per partition -- small
# enough that the per-task sort of the state-to-edges SortMergeJoin stays
# in memory and stragglers average out over multiple waves, large enough
# that per-task fixed cost doesn't dominate. A shuffled-hash hint was
# probed too and LOST at the sweet spot (build-side hashing beats the sort
# only when partitions are oversized). Clamped to [cores, 8*cores] so tiny
# graphs keep one wave and huge graphs don't drown the scheduler.
EDGE_ROWS_PER_PARTITION = 400_000

# AQE is off inside the superstep loop. AQE re-plans EVERY shuffle stage of
# EVERY superstep job on the driver -- measured round 3 on the 31M-edge
# scaling graph at local[8]: loop throughput 1.36M edges/s/superstep with
# AQE on vs 3.41M with it off (2.5x), because the superstep's plan shape is
# static (pre-partitioned edges, hash-uniform ids) so runtime re-planning
# buys nothing and its per-stage driver barrier serializes the job.
# Map-side combine already bounds reduce-side hubs; the state join keys
# are near-uniform.
LOOP_CONFS = {"spark.sql.adaptive.enabled": "false"}

# Session confs are global mutable state: every pin holds this lock for its
# whole window, so overlapping operator calls on one session neither compile
# plans under another call's confs nor interleave save/restore and leave the
# session flipped. Re-entrant so a pinned section may call another.
_CONF_LOCK = threading.RLock()


@contextmanager
def pinned_confs(session: SparkSession, confs: dict[str, str]):
    """Set ``confs`` on ``session`` for the ``with`` body, then restore each
    prior value (or unset a key that had none). The lock is released in
    ``finally``, so a body cancelled mid-job (e.g. by a watchdog's
    cancelJobGroup) cannot leave it held."""
    with _CONF_LOCK:
        prev = {k: session.conf.get(k, None) for k in confs}
        try:
            for k, v in confs.items():
                session.conf.set(k, v)
            yield
        finally:
            for k, v in prev.items():
                if v is None:
                    session.conf.unset(k)
                else:
                    session.conf.set(k, v)


def auto_partitions(n_edges: int, spark: SparkSession) -> int:
    cores = spark.sparkContext.defaultParallelism
    by_data = -(-int(n_edges) // EDGE_ROWS_PER_PARTITION)  # ceil
    return max(cores, min(8 * cores, by_data))


def _src_layout(df: DataFrame) -> int | None:
    """Width n when ``df``'s physical plan already reports
    hashpartitioning(src, n) with ``src`` as its leading ascending sort
    order, else None. Holds for a project_bucketed scan under the
    bucketed-scan confs that session.get_spark sets, and for a cache of
    one; plain, AQE-planned, aggregated and distinct inputs report
    UnknownPartitioning or another key."""
    plan = df._jdf.queryExecution().executedPlan()
    part, order = plan.outputPartitioning(), plan.outputOrdering()
    if (part.getClass().getSimpleName() != "HashPartitioning"
            or part.expressions().size() != 1 or order.isEmpty()):
        return None
    key, lead = part.expressions().head(), order.head()
    if (key.getClass().getSimpleName() == "AttributeReference"
            and key.name() == SRC and lead.isAscending()
            and lead.child().semanticEquals(key)):
        return part.numPartitions()
    return None


def prepare_edges(edges: DataFrame, partitions: int | None = None) -> DataFrame:
    """Hash-partition edges by src once, persist for reuse across supersteps.

    This is the GDS 'project once, iterate many' shape: the per-superstep
    state join on src then co-locates with a single exchange of the (small)
    state side instead of re-shuffling the edge table every iteration.

    The layout is read from the input's plan. An input that already
    reports hashpartitioning(src, n) with a src sort order (a
    project_bucketed scan, or a cache of one) is only persisted when
    ``partitions`` is None or n, so a bucketed graph pays its projection
    shuffle exactly once, at write time. On a session not built by
    session.get_spark the bucketed scan does not report its layout and is
    simply repartitioned. An input that already has exactly the
    (src, dst[, weight]) columns is not re-selected, so a caller's cached
    frame comes back as the prepared one instead of a second cache.

    ``partitions=None`` sizes the width from the data (auto_partitions):
    one extra pre-repartition count() pass, paid once per projection,
    bought a measured 1.7-1.8x loop throughput on the 26.8M-edge probe.
    run_pregel reads the loop's shuffle width back from the result.
    """
    cols = [SRC, DST] + ([W] if W in edges.columns else [])
    e = edges if edges.columns == cols else edges.select(*cols)
    width = _src_layout(e)
    if width is None or partitions not in (None, width):
        if partitions is None:
            partitions = auto_partitions(e.count(), e.sparkSession)
        # repartition + SORT WITHIN PARTITIONS by src, then persist: the
        # cached blocks carry both the hash partitioning AND the ordering,
        # so the per-superstep SortMergeJoin against state needs neither an
        # Exchange nor a Sort on the edge side -- the O(E log E)-per-
        # superstep edge sort collapses into this one projection-time sort
        # (the in-memory analogue of a bucketBy+sortBy table,
        # sources/bucketing.py; GDS pays the same cost once in its CSR
        # import, ScanningRelationshipsImporter.java).
        # Probe (transcript graph, 7.7M edges, local[8], 9 supersteps, 5
        # interleaved reps on a noisy shared host, best-of kept as in
        # bench): 2.67M -> 3.40M edges/s/superstep (+27%).
        e = e.repartition(partitions, SRC).sortWithinPartitions(SRC)
    if not e.is_cached:
        e = register_cache(e.persist())
    e.count()  # materialize so every superstep reuses the same blocks
    return e


def run_pregel(
    edges: DataFrame,
    state: DataFrame,
    superstep: Callable[[DataFrame, int], DataFrame],
    config: PregelConfig,
    stats: list[Column],
    converged_stats: Callable[[tuple, int], bool],
) -> PregelResult:
    """Generic BSP loop (Pregel.java:204-245 analogue).

    ``superstep(state, i) -> new_state`` expresses one iteration as lazy
    DataFrame transformations; this loop owns materialization,
    checkpointing, metrics and the convergence check so algorithm code
    stays declarative. ``edges`` is the prepare_edges frame the superstep
    joins against; its partition count is the loop's shuffle width.

    ``stats`` are aggregate Columns over the new state (e.g.
    ``[F.max("delta")]``); ``converged_stats(row, it)`` sees
    ``(vertex_count, *stats)``. Every boundary is ONE Spark job: the
    truncate_mem cut of the new state, with the vertex count and the stats
    observed on the same pass (GDS likewise reads vote-to-halt from the
    compute pass itself). The input state is cut the same way before the
    first superstep, and each superseded cut is released once the next
    one exists. A checkpoint writes the snapshot from the cut and the loop
    keeps the cut.
    """
    sess = state.sparkSession
    ckpt: Optional[CheckpointManager] = None
    start_iter = 0
    if config.checkpoint_dir:
        ckpt = CheckpointManager(config.checkpoint_dir, config.run_id)
        resumed = ckpt.latest(sess)
        if resumed is not None:
            start_iter, state = resumed

    # loop-scoped session conf: LOOP_CONFS and the prepared edges' width
    # for every loop shuffle (message groupBy(dst), state exchanges) --
    # with AQE off the reduce width is spark.sql.shuffle.partitions, and a
    # width mismatched to the persisted edge blocks either re-exchanges the
    # edge side or runs the reduce at the wrong granularity (probe: 1.7x).
    # A cut of an empty frame has no partitions; the conf must be positive.
    width = max(1, edges.rdd.getNumPartitions())
    confs = dict(LOOP_CONFS, **{"spark.sql.shuffle.partitions": str(width)})
    with pinned_confs(sess, confs):
        return _pregel_loop(truncate_mem(state), superstep, config, ckpt,
                            start_iter, stats, converged_stats)


# Name of the metrics every boundary observes on its cut's own job.
_BOUNDARY = "pregel_boundary"


def _observed_row(df: DataFrame) -> tuple:
    """The ``_BOUNDARY`` metrics of ``df``'s last run, as agg().collect()
    would type them. Read from the executed plan rather than through an
    ``Observation``: registering one gives the session a non-serializable
    ObservationManager, and every later closure that captures the session
    (MLlib training summaries) then fails with "Task not serializable"."""
    jrow = df._jdf.queryExecution().observedMetrics().get(_BOUNDARY).get()
    utils = df.sparkSession._jvm.org.apache.spark.sql.api.python.PythonSQLUtils
    return tuple(CPickleSerializer().loads(utils.toPyRow(jrow)))


def _pregel_loop(state, superstep, config, ckpt, it, stats, converged_stats):
    metrics: list[dict] = []
    did_converge = False
    while it < config.max_iterations:
        t0 = time.time()
        batch = min(max(config.check_every, 1), config.max_iterations - it)
        new_state = state
        for b in range(batch):
            new_state = superstep(new_state, it + b)
        observed = new_state.observe(_BOUNDARY, F.count(F.lit(1)), *stats)
        new_state = truncate_mem(observed)
        row = _observed_row(observed)
        done = converged_stats(row, it + batch - 1)
        wall = time.time() - t0
        it += batch
        metrics.append(
            {"iteration": it, "vertices": row[0], "wall_s": round(wall, 4),
             "supersteps": batch, "converged": done}
        )
        if ckpt:
            ckpt.save(new_state, it, metrics[-1])
        release(state)
        state = new_state
        if done:
            did_converge = True
            break
    return PregelResult(state=state, iterations=it, converged=did_converge, metrics=metrics)


def reduced_messages(
    edges: DataFrame,
    state: DataFrame,
    message: Column,
    reducer: str = "sum",
    active: Column | None = None,
) -> DataFrame:
    """The ReducingMessenger as a Spark plan: join active vertex state to the
    src-partitioned edges, emit ``message`` along each edge, combine per dst.

    Returns (id, msg). The groupBy performs map-side partial aggregation --
    the exact semantics of ReducingMessenger.sendTo's CAS-reduce
    (ReducingMessenger.java:102-107) but distributed.
    """
    s = state.filter(active) if active is not None else state
    joined = edges.join(s.withColumnRenamed("id", SRC), SRC)
    return (
        joined.select(F.col(DST).alias("id"), message.alias("_m"))
        .groupBy("id")
        .agg(Reducers[reducer](F.col("_m")).alias("msg"))
    )


# NOTE on join strategy: a SHUFFLE_HASH hint on the state side of the
# message join was re-probed in round 4 after the edge side became
# pre-sorted (7.7M edges, local[8], 3 quiet-host pairs): 3.06/2.90/3.24M
# edges/s/superstep vs SMJ's 3.10/2.87/3.15M -- statistically identical,
# because the only sort SMJ still pays is the O(V) state side. SMJ is kept:
# same speed, and no build-side memory exposure when V grows.

# NOTE on hub-vertex skew: an explicit "salted" two-stage combine
# (reduce per (dst, salt) then per dst) was removed after round 1 flagged it
# as dead code. For algebraic reducers Spark's HashAggregate already runs a
# partial combine per MAP PARTITION before the shuffle -- which is exactly
# the salting trick with salt = input partition id -- so a hub destination
# receives at most one pre-combined row per upstream partition, not one per
# edge. The remaining skew surface is the JOIN side (one hub key's edge rows
# land in one task); that is covered by AQE skew-join splitting, enabled in
# session.py. `.explain` on the PageRank superstep shows the
# partial_sum/merge_sum HashAggregate pair around the exchange.
