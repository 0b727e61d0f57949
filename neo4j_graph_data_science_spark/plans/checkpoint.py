"""Lineage cuts and per-superstep durable checkpoints.

``truncate_mem`` is the package's ONE lineage cut: every iterative loop
(``run_pregel`` and every driver-side loop in ``operators/``) hands its
state from one round to the next through it. ``release`` drops the blocks
of a cut once nothing reads it again: ``run_pregel`` releases each
boundary it supersedes. The fixpoint loops of the path family, k-core,
K1-coloring, the Louvain/Leiden local moves, MS-BFS and HITS run on it.
Of the hand loops that remain, SCC's trim/peel, topological sort, the
negative-cycle walk and delta-stepping's buckets release their cuts; the
Louvain/Leiden level loops, betweenness, exposure, influence, spanning
tree, max-k-cut, SLLPA, embeddings, clustering, cliques and the two-phase
WCC still cut per round by hand. A cut that a result still reads lazily
(SCC's assigned components, topological layers) is kept.

``CheckpointManager`` is the durable, opt-in part (north-rule requirement
absent from GDS, which only *logs* progress, progress-tracking/ module):
every superstep snapshots vertex state so a killed run resumes
mid-iteration with identical output, and a `_metrics` table records
per-iteration lineage (iteration, vertices, wall time, convergence flag).

Backend: plain parquet directories, each snapshot committed by an atomic
`_COMMITTED` marker written last:

    {root}/{run_id}/state/iter=N/   (snapshot; _COMMITTED written last)
    {root}/{run_id}/metrics/        (append-only metric rows)
"""

from __future__ import annotations

import json
import os
from typing import Optional

from pyspark.sql import DataFrame, SparkSession

# Long.MaxValue: spark.sql.defaultSizeInBytes, and already past every
# broadcast/shuffled-hash threshold, so clamping to it changes no plan.
_MAX_SIZE_IN_BYTES = 2 ** 63 - 1


def truncate_mem(df: DataFrame) -> DataFrame:
    """Cut ``df``'s lineage: materialize it in memory and return a frame
    over the materialized blocks.

    ``localCheckpoint(eager=True)`` keeps the executed plan's partitioning
    and ordering (the next superstep's join on the same key plans no
    Exchange), and its blocks are released when the frame is GC'd. It also
    carries the origin plan's estimated ``sizeInBytes``
    (`LogicalRDD.fromDataset`), which in a loop that joins the state k>=2
    times per round is the PRODUCT of k copies of the previous estimate:
    the BigInt's digit count grows as k^round until the driver spends
    forever in `SizeInBytesOnlyStatsPlanVisitor.visitJoin` (the round-1
    Louvain hang, jstack evidence in VERDICT.md). An estimate above
    Long.MaxValue is therefore dropped: the LogicalRDD is rebuilt with no
    origin stats, so it reports spark.sql.defaultSizeInBytes (Long.MaxValue)
    -- the same join choices, without the growth. Smaller estimates are
    kept, so every broadcast decision below the threshold is unchanged."""
    cut = df.localCheckpoint(eager=True)
    plan = cut._jdf.logicalPlan()
    if plan.stats().sizeInBytes() <= _MAX_SIZE_IN_BYTES:
        return cut
    jvm = df.sparkSession._jvm
    jspark = df.sparkSession._jsparkSession
    none = jvm.scala.Option.empty()
    fresh = plan.copy(plan.output(), plan.rdd(), plan.outputPartitioning(),
                      plan.outputOrdering(), plan.isStreaming(),
                      plan.stream(), jspark, none, none)
    return DataFrame(jvm.org.apache.spark.sql.classic.Dataset.ofRows(
        jspark, fresh), df.sparkSession)


def release(df: DataFrame) -> None:
    """Unpersist the blocks of a ``truncate_mem`` cut now instead of when
    the JVM happens to collect the frame. A no-op on any other plan (e.g.
    a resumed parquet read). The cut is unreadable afterwards, so only
    call this on a frame nothing will evaluate again."""
    plan = df._jdf.logicalPlan()
    if plan.getClass().getSimpleName() == "LogicalRDD":
        plan.rdd().unpersist(False)


class CheckpointManager:
    def __init__(self, root: str, run_id: str) -> None:
        self.root = root.rstrip("/")
        self.run_id = run_id
        self.dir = f"{self.root}/{run_id}"
        os.makedirs(f"{self.dir}/state", exist_ok=True)

    def _iter_dir(self, iteration: int) -> str:
        return f"{self.dir}/state/iter={iteration:05d}"

    def save(self, state: DataFrame, iteration: int, metric: dict) -> None:
        """Write the snapshot of ``state``, commit-mark it and append the
        metric row + per-partition lineage. ``state`` is the boundary's
        in-memory cut: the write and the lineage job read its blocks, and
        the caller keeps that cut as the live state, so nothing is read
        back from the snapshot.

        Per-partition lineage (north rule; GDS has no equivalent — its
        progress-tracking/ module only logs task progress): for every
        physical partition of the snapshot we record (partition, rows),
        so an operator can audit exactly which partition produced what and
        a resumed run can verify the snapshot it starts from. One extra
        map-only job per checkpoint; checkpointing itself is opt-in.
        """
        from pyspark.sql import functions as F

        path = self._iter_dir(iteration)
        state.write.mode("overwrite").parquet(path)
        part_rows = sorted(
            (r["p"], r["rows"])
            for r in state.groupBy(F.spark_partition_id().alias("p"))
            .agg(F.count(F.lit(1)).alias("rows"))
            .collect()
        )
        lineage = {
            "iteration": iteration,
            "partitions": len(part_rows),
            "partition_rows": {str(p): n for p, n in part_rows},
        }
        with open(f"{path}/_LINEAGE", "w") as f:
            json.dump(lineage, f)
        with open(f"{path}/_COMMITTED", "w") as f:
            json.dump({"iteration": iteration, **metric}, f)
        with open(f"{self.dir}/metrics.jsonl", "a") as f:
            f.write(json.dumps({"iteration": iteration,
                                "partitions": lineage["partitions"],
                                **metric}) + "\n")

    def lineage(self, iteration: int) -> Optional[dict]:
        p = f"{self._iter_dir(iteration)}/_LINEAGE"
        if not os.path.exists(p):
            return None
        with open(p) as f:
            return json.load(f)

    def committed_iterations(self) -> list[int]:
        out = []
        sdir = f"{self.dir}/state"
        if not os.path.isdir(sdir):
            return out
        for d in os.listdir(sdir):
            if d.startswith("iter=") and os.path.exists(f"{sdir}/{d}/_COMMITTED"):
                out.append(int(d.split("=")[1]))
        return sorted(out)

    def latest(self, spark: SparkSession | None) -> Optional[tuple[int, DataFrame]]:
        its = self.committed_iterations()
        if not its:
            return None
        it = its[-1]
        sess = spark or SparkSession.getActiveSession()
        return it, sess.read.parquet(self._iter_dir(it))

    def metrics(self) -> list[dict]:
        p = f"{self.dir}/metrics.jsonl"
        if not os.path.exists(p):
            return []
        with open(p) as f:
            return [json.loads(line) for line in f if line.strip()]
