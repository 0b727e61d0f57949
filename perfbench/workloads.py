"""The workloads: graph shape, operator sequence and their checks.

Each workload is a closed loop with one client: one Python process drives
one SparkSession and calls the operators one after another, "project once,
run many", the order a GDS user follows.

Both workloads run the four iterative operators, PageRank, WCC, LPA and
SCC; their round's total is the end-to-end ``ops_s`` and each operator's
time is a per-layer metric. Triangles, the fifth north-star
algorithm, runs on ``transcripts_local`` only: it never takes the Pregel
loop, so the distributed workload would gain no coverage from it, and one
run must stay short.

* ``transcripts_dist`` -- the distributed engine and the durable write
  path. Setup builds the in-memory projection and a COUNT-aggregated
  bucketed parquet projection. The iterative operators are pinned to the
  distributed Pregel loop (``small_graph_edges=0``): a graph above the
  engine's 2M-edge local-kernel limit takes minutes per operator, far more
  than one run may last. PageRank checkpoints every superstep over the
  bucketed projection, is interrupted after PR_INTERRUPT supersteps, and a
  second call on the same ``run_id`` resumes it to PR_ITERS. WCC and LPA
  (fixed passes) run over the bucketed projection, SCC over the in-memory
  one.
* ``transcripts_local`` -- the control: the engine's own dispatch on the
  in-memory projection, which is far below the local-kernel limit, so
  PageRank (to 1e-6), WCC, LPA and SCC run as single-task kernels. A
  change to the Pregel loop should move nothing here.
"""

from __future__ import annotations

import os
import shutil
import time
from dataclasses import dataclass

import numpy as np

from gen import Shape
from reference import Reference, by_id, check_close, check_equal

ITERATIVE = ("pagerank", "wcc", "lpa", "scc")   # run by every workload
OPS = ITERATIVE + ("triangles",)
PR_ITERS = 4           # checkpointed PageRank: GDS supersteps incl. send-only 0
PR_INTERRUPT = 2       # the interrupted first call stops here
PR_LOCAL_ITERS = 100   # local: cap only, tolerance 1e-6 ends the run
PR_LOCAL_TOL = 1e-6
LPA_ITERS = 2
BUCKETS = 8


@dataclass(frozen=True)
class Workload:
    name: str
    shape: Shape
    distributed: bool   # pin the iterative ops to the Pregel loop and add
                        # the bucketed projection
    ops: tuple


WORKLOADS = {w.name: w for w in (
    Workload("transcripts_dist", Shape(convs=2500), True, ITERATIVE),
    Workload("transcripts_local", Shape(convs=6000), False, OPS),
)}


def build_reference(w: Workload, table) -> dict[str, np.ndarray]:
    """Everything the checks compare against, computed before Spark starts."""
    ref = Reference(table)
    out = {"n": ref.n, "edges": len(ref.edges), "agg_edges": len(ref.agg),
           "convs": ref.convs, "wcc": ref.wcc(),
           # the bucketed projection stores COUNT-aggregated rows, so LPA over
           # it sees each distinct pair once
           "lpa": ref.lpa(LPA_ITERS, ref.agg if w.distributed else ref.edges)}
    if "triangles" in w.ops:
        out["triangles"] = ref.triangles()
    if w.distributed:
        out["pr"], _ = ref.pagerank(PR_ITERS, 0.0)
        out["pr_interrupted"], _ = ref.pagerank(PR_INTERRUPT, 0.0)
    else:
        out["pr"], out["pr_supersteps"] = ref.pagerank(PR_LOCAL_ITERS, PR_LOCAL_TOL)
    return out


class Runner:
    """One operator call per method, returning the Spark result that the
    caller collects to pandas inside the timed region, and a ``check_<op>``
    for each against the reference.

    ``graphs`` holds ``"memory"`` (the in-memory projection) and, on the
    distributed workload, ``"bucketed"``.
    """

    def __init__(self, w: Workload, ref: dict, ckpt_root: str) -> None:
        self.w = w
        self.ref = ref
        self.ckpt_root = ckpt_root
        self.pin = {"small_graph_edges": 0} if w.distributed else {}

    def pagerank(self, graphs, rnd: int, info: dict):
        """Local: one call under the engine's dispatch, to tolerance 1e-6.
        Distributed: checkpoint every superstep, stop after PR_INTERRUPT,
        then resume the same run_id to PR_ITERS (checkpoints force the
        Pregel loop). The interrupted call is the op's time; ``resume_t0``
        splits off the resumed call."""
        from neo4j_graph_data_science_spark.operators.pagerank import (
            PageRankConfig, page_rank,
        )

        if not self.w.distributed:
            res = page_rank(graphs["memory"], PageRankConfig(
                max_iterations=PR_LOCAL_ITERS, tolerance=PR_LOCAL_TOL))
            info["supersteps"] = res.iterations
            return res.state
        ckdir = os.path.join(self.ckpt_root, f"round{rnd}")
        shutil.rmtree(ckdir, ignore_errors=True)
        g = graphs["bucketed"]
        res = page_rank(g, PageRankConfig(
            max_iterations=PR_INTERRUPT, tolerance=0.0, checkpoint_dir=ckdir,
            run_id="pr"))
        info["interrupted"] = res.state.toPandas()
        info["supersteps"] = res.iterations
        info["resume_t0"] = time.time()
        res = page_rank(g, PageRankConfig(
            max_iterations=PR_ITERS, tolerance=0.0, checkpoint_dir=ckdir,
            run_id="pr"))
        info["resumed_supersteps"] = res.iterations
        info["ckpt_dir"] = ckdir
        return res.state

    def check_pagerank(self, out, info: dict) -> None:
        n = self.ref["n"]
        if self.w.distributed:
            check_close(by_id(info["interrupted"], "score", n),
                        self.ref["pr_interrupted"], 1e-6)
            want = {"supersteps": PR_INTERRUPT, "resumed_supersteps": PR_ITERS}
        else:
            want = {"supersteps": int(self.ref["pr_supersteps"])}
        # the resumed run must equal the uninterrupted reference
        check_close(by_id(out, "score", n), self.ref["pr"], 1e-6)
        for key, steps in want.items():
            if info[key] != steps:
                raise AssertionError(f"{key} = {info[key]}, expected {steps}")

    def _iterative_graph(self, graphs):
        return graphs.get("bucketed", graphs["memory"])

    def wcc(self, graphs, rnd: int, info: dict):
        from neo4j_graph_data_science_spark.operators.wcc import WccConfig, wcc

        return wcc(self._iterative_graph(graphs), WccConfig(**self.pin)).state

    def check_wcc(self, out, info: dict) -> None:
        comp = by_id(out, "component", self.ref["n"])
        if len(np.unique(comp)) != self.ref["convs"]:
            raise AssertionError(f"{len(np.unique(comp))} components for "
                                 f"{self.ref['convs']} conversations")
        check_equal(comp, self.ref["wcc"])

    def lpa(self, graphs, rnd: int, info: dict):
        from neo4j_graph_data_science_spark.operators.labelprop import (
            LabelPropagationConfig, label_propagation,
        )

        return label_propagation(self._iterative_graph(graphs), LabelPropagationConfig(
            max_iterations=LPA_ITERS, **self.pin)).state

    def check_lpa(self, out, info: dict) -> None:
        check_equal(by_id(out, "label", self.ref["n"]), self.ref["lpa"])

    def scc(self, graphs, rnd: int, info: dict):
        from neo4j_graph_data_science_spark.operators.scc import SccConfig, scc

        return scc(graphs["memory"], SccConfig(**self.pin))

    def check_scc(self, out, info: dict) -> None:
        # every derived edge points forward in turn_idx: a DAG, all singletons
        n = self.ref["n"]
        check_equal(by_id(out, "component", n), np.arange(n))

    def triangles(self, graphs, rnd: int, info: dict):
        from neo4j_graph_data_science_spark.operators.triangle import (
            TriangleCountConfig, triangle_count,
        )

        return triangle_count(graphs["memory"], TriangleCountConfig())

    def check_triangles(self, out, info: dict) -> None:
        check_equal(by_id(out, "triangles", self.ref["n"]), self.ref["triangles"])
