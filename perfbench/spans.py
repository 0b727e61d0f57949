"""Layer spans recorded from outside the engine, plus Spark event-log reading.

``Tracer.install`` wraps the public entry points of the engine's layers --
``plans.pregel.prepare_edges`` / ``run_pregel``, the ``plans.local_kernel``
kernels, ``plans.checkpoint.CheckpointManager.save`` / ``truncate_mem`` and
``DataFrame.localCheckpoint`` -- with shims that record one span per call.
The shims replace every module-level binding of the same function object,
because operators import these functions by name. Spans are kept in memory
and written out when the run ends; their cost is a clock read per call.

``read_event_log`` folds Spark's own JSON event log (uncompressed,
non-rolling) into per-job-group job intervals and task totals, so every
operator's jobs, stages, task time, shuffle bytes, spill and GC are
attributed without touching engine code.
"""

from __future__ import annotations

import functools
import glob
import json
import os
import sys
import time
from collections import defaultdict
from contextlib import contextmanager
from dataclasses import dataclass, field

PKG = "neo4j_graph_data_science_spark"


@dataclass
class Span:
    name: str
    t0: float
    t1: float = 0.0
    op: str = ""                 # operator group active when the span opened
    info: dict = field(default_factory=dict)

    @property
    def dur(self) -> float:
        return self.t1 - self.t0


class Tracer:
    def __init__(self) -> None:
        self.spans: list[Span] = []
        self.op = ""
        self._restore: list[tuple[object, str, object]] = []

    @contextmanager
    def span(self, name: str, **info):
        s = Span(name, time.time(), op=self.op, info=dict(info))
        try:
            yield s
        finally:
            s.t1 = time.time()
            self.spans.append(s)

    def in_op(self, op: str) -> list[Span]:
        return [s for s in self.spans if s.op == op]

    # -- shims -------------------------------------------------------------
    def _wrap(self, orig, name: str, on_result=None):
        tracer = self

        @functools.wraps(orig)
        def shim(*args, **kwargs):
            with tracer.span(name) as s:
                out = orig(*args, **kwargs)
                if on_result is not None:
                    on_result(s, out)
                return out

        return shim

    def _replace_everywhere(self, orig, shim) -> None:
        """Rebind every ``from x import f`` copy of ``orig`` in the engine."""
        for mod in list(sys.modules.values()):
            if not getattr(mod, "__name__", "").startswith(PKG):
                continue
            for attr, val in list(vars(mod).items()):
                if val is orig:
                    setattr(mod, attr, shim)
                    self._restore.append((mod, attr, orig))

    def _patch_method(self, cls, attr: str, name: str) -> None:
        orig = getattr(cls, attr)
        setattr(cls, attr, self._wrap(orig, name))
        self._restore.append((cls, attr, orig))

    def install(self) -> None:
        import importlib

        from pyspark.sql.classic.dataframe import DataFrame as ClassicDF

        for mod in ("operators.pagerank", "operators.wcc", "operators.labelprop",
                    "operators.scc", "operators.triangle", "catalog"):
            importlib.import_module(f"{PKG}.{mod}")
        from neo4j_graph_data_science_spark.plans import (
            checkpoint, local_kernel, pregel,
        )

        def pregel_result(s: Span, res) -> None:
            walls = [m["wall_s"] for m in res.metrics if "wall_s" in m]
            steps = sum(m.get("supersteps", 1) for m in res.metrics)
            s.info.update(walls=walls, supersteps=steps or res.iterations)

        fns = [(pregel.prepare_edges, "pregel.prepare_edges", None),
               (pregel.run_pregel, "pregel.loop", pregel_result),
               (checkpoint.truncate_mem, "checkpoint.truncate_mem", None)]
        fns += [(getattr(local_kernel, f), "local_kernel", None)
                for f in dir(local_kernel) if f.startswith("local_")
                and f != "local_kernel_enabled"]
        for orig, name, cb in fns:
            self._replace_everywhere(orig, self._wrap(orig, name, cb))
        self._patch_method(checkpoint.CheckpointManager, "save", "checkpoint.save")
        self._patch_method(ClassicDF, "localCheckpoint", "checkpoint.local_checkpoint")

    def uninstall(self) -> None:
        for owner, attr, orig in reversed(self._restore):
            setattr(owner, attr, orig)
        self._restore.clear()


def engine_of(spans: list[Span]) -> str:
    """Which engine served an operator, from the spans it opened."""
    kinds = {s.name for s in spans}
    if "pregel.loop" in kinds:
        return "distributed-pregel"
    if "local_kernel" in kinds:
        return "local-task"
    return "distributed-dataframe"


def peak_rss_mb(pids) -> float:
    """Sum of VmHWM over ``pids`` (psutil is not available)."""
    total_kb = 0
    for pid in pids:
        with open(f"/proc/{pid}/status") as f:
            for line in f:
                if line.startswith("VmHWM:"):
                    total_kb += int(line.split()[1])
    return total_kb / 1024.0


def dir_mb(path: str) -> float:
    total = 0
    for root, _, files in os.walk(path):
        total += sum(os.path.getsize(os.path.join(root, f)) for f in files)
    return total / 2 ** 20


@dataclass
class GroupStats:
    jobs: list = field(default_factory=list)          # (start_s, end_s)
    stages: set = field(default_factory=set)
    task_s: float = 0.0
    gc_s: float = 0.0
    shuffle_write_b: int = 0
    shuffle_read_b: int = 0
    spill_b: int = 0


def read_event_log(log_dir: str) -> dict[str, GroupStats]:
    """Per job group: job intervals and task totals from the event log."""
    paths = [p for p in glob.glob(os.path.join(log_dir, "*")) if os.path.isfile(p)]
    if len(paths) != 1:
        raise RuntimeError(f"expected one event log in {log_dir}, found {paths}")
    groups: dict[str, GroupStats] = defaultdict(GroupStats)
    job_group: dict[int, str] = {}
    job_start: dict[int, float] = {}
    stage_group: dict[int, str] = {}
    with open(paths[0]) as f:
        for line in f:
            ev = json.loads(line)
            kind = ev.get("Event")
            if kind == "SparkListenerJobStart":
                props = ev.get("Properties") or {}
                g = props.get("spark.jobGroup.id") or ""
                jid = ev["Job ID"]
                job_group[jid] = g
                job_start[jid] = ev["Submission Time"] / 1000.0
                for sid in ev.get("Stage IDs", []):
                    stage_group.setdefault(sid, g)
            elif kind == "SparkListenerJobEnd":
                jid = ev["Job ID"]
                g = job_group.get(jid, "")
                groups[g].jobs.append((job_start.get(jid, 0.0),
                                       ev["Completion Time"] / 1000.0))
            elif kind == "SparkListenerStageCompleted":
                sid = ev["Stage Info"]["Stage ID"]
                groups[stage_group.get(sid, "")].stages.add(sid)
            elif kind == "SparkListenerTaskEnd":
                g = groups[stage_group.get(ev["Stage ID"], "")]
                ti = ev.get("Task Info") or {}
                g.task_s += (ti.get("Finish Time", 0) - ti.get("Launch Time", 0)) / 1000.0
                tm = ev.get("Task Metrics") or {}
                g.gc_s += tm.get("JVM GC Time", 0) / 1000.0
                g.spill_b += tm.get("Disk Bytes Spilled", 0)
                g.shuffle_write_b += (tm.get("Shuffle Write Metrics") or {}).get(
                    "Shuffle Bytes Written", 0)
                rd = tm.get("Shuffle Read Metrics") or {}
                g.shuffle_read_b += rd.get("Remote Bytes Read", 0) + rd.get(
                    "Local Bytes Read", 0)
    return groups


def uncovered_s(t0: float, t1: float, intervals) -> float:
    """Length of [t0, t1] covered by none of ``intervals``."""
    covered, cur_end = 0.0, t0
    for a, b in sorted(intervals):
        a, b = max(a, cur_end), min(b, t1)
        if b > a:
            covered += b - a
            cur_end = b
    return max(t1 - t0 - covered, 0.0)
