"""Per-layer metrics of a traced run, from the spans and Spark's event log.

Every value is per round of the workload's operator sequence, and the
median over rounds is reported; setup-layer values are the median over the
run's setup repetitions. A layer an operator did not use reports 0.
"""

from __future__ import annotations

import statistics
from collections import defaultdict

from spans import GroupStats, read_event_log, uncovered_s
from workloads import OPS

MB = 2 ** 20

SETUP_LAYER = ("session.start_s", "sources.derive_s", "sources.edge_rows",
               "sources.agg_edge_rows", "catalog.project_bucketed_s",
               "catalog.bucketed_mb")
ROUND_LAYER = ("pregel.prepare_edges_s", "pregel.prepare_edges_calls",
               "pregel.loop_s", "pregel.supersteps", "pregel.superstep_s",
               "pregel.superstep_sum_s", "pregel.driver_s",
               "local_kernel.s", "local_kernel.calls",
               "checkpoint.save_s", "checkpoint.saves", "checkpoint.mb",
               "checkpoint.truncate_mem_s", "checkpoint.local_checkpoints",
               "pagerank.resume_s", "pagerank.edges_per_s",
               "pagerank.accounted_share")
OP_LAYER = ("wall_s", "collect_s", "jobs", "stages", "task_s", "shuffle_write_mb",
            "shuffle_read_mb", "spill_mb", "gc_s", "driver_s", "busy_share",
            "pregel_loops", "local_calls")
NAMES = (SETUP_LAYER + ROUND_LAYER
         + tuple(f"{op}.{m}" for op in OPS for m in OP_LAYER) + ("trace.total_s",))


def unit(name: str) -> str:
    if name.endswith("edges_per_s"):
        return "edges/s"
    if name.endswith("_s") or name == "local_kernel.s":
        return "s"
    if name.endswith("_mb") or name == "checkpoint.mb":
        return "MB"
    if name.endswith("_share"):
        return "ratio"
    return "count"


def _round_values(tracer, groups, row: dict, cores: int, agg_edges: int) -> dict:
    v: dict[str, float] = defaultdict(float)
    walls: list[float] = []
    for op in OPS:
        if op not in row:
            continue    # not part of this workload: its metrics stay 0
        tag = row[op]["tag"]
        spans = tracer.in_op(tag)
        op_span = next(s for s in spans if s.name == "op")
        g = groups.get(tag, GroupStats())
        wall = op_span.dur
        v[f"{op}.wall_s"] = wall
        collect = sum(s.dur for s in spans if s.name == "collect")
        v[f"{op}.collect_s"] = collect
        v[f"{op}.jobs"] = len(g.jobs)
        v[f"{op}.stages"] = len(g.stages)
        v[f"{op}.task_s"] = g.task_s
        v[f"{op}.shuffle_write_mb"] = g.shuffle_write_b / MB
        v[f"{op}.shuffle_read_mb"] = g.shuffle_read_b / MB
        v[f"{op}.spill_mb"] = g.spill_b / MB
        v[f"{op}.gc_s"] = g.gc_s
        v[f"{op}.driver_s"] = uncovered_s(op_span.t0, op_span.t1, g.jobs)
        v[f"{op}.busy_share"] = g.task_s / (cores * wall)
        prepared = 0.0
        for s in spans:
            if s.name == "pregel.prepare_edges":
                v["pregel.prepare_edges_s"] += s.dur
                v["pregel.prepare_edges_calls"] += 1
                prepared += s.dur
            elif s.name == "pregel.loop":
                v["pregel.loop_s"] += s.dur
                v["pregel.supersteps"] += s.info.get("supersteps", 0)
                v["pregel.driver_s"] += uncovered_s(s.t0, s.t1, g.jobs)
                v[f"{op}.pregel_loops"] += 1
                walls += s.info.get("walls", [])
                prepared += s.dur
            elif s.name == "local_kernel":
                v["local_kernel.s"] += s.dur
                v["local_kernel.calls"] += 1
                v[f"{op}.local_calls"] += 1
            elif s.name == "checkpoint.save":
                v["checkpoint.save_s"] += s.dur
                v["checkpoint.saves"] += 1
            elif s.name == "checkpoint.truncate_mem":
                v["checkpoint.truncate_mem_s"] += s.dur
            elif s.name == "checkpoint.local_checkpoint":
                v["checkpoint.local_checkpoints"] += 1
        if op == "pagerank":
            # share of PageRank's wall inside prepare_edges, the Pregel loop
            # and the collection of its result
            v["pagerank.accounted_share"] = (prepared + collect) / wall
    v["pregel.superstep_s"] = statistics.median(walls) if walls else 0.0
    v["pregel.superstep_sum_s"] = sum(walls)
    pr = row["pagerank"]
    v["checkpoint.mb"] = pr.get("checkpoint_mb", 0.0)
    v["pagerank.resume_s"] = pr.get("resume_s", 0.0)
    if pr["ok"]:
        # the north-star unit: distinct edges x supersteps of the timed call
        v["pagerank.edges_per_s"] = agg_edges * pr["supersteps"] / pr["wall_s"]
    return v


def layer_metrics(tracer, event_log_dir: str, setups: list[dict],
                  rounds: list[dict], cores: int, session_start_s: float,
                  total_s: float) -> dict:
    groups = read_event_log(event_log_dir)
    med = statistics.median

    def span_median(name: str) -> float:
        d = [s.dur for s in tracer.spans if s.name == name]
        return med(d) if d else 0.0

    out = {
        "session.start_s": session_start_s,
        "sources.derive_s": span_median("sources.derive"),
        "sources.edge_rows": setups[-1]["edges"],
        "sources.agg_edge_rows": setups[-1]["agg_edges"],
        "catalog.project_bucketed_s": span_median("catalog.project_bucketed"),
        "catalog.bucketed_mb": setups[-1].get("bucketed_mb", 0.0),
        "trace.total_s": total_s,
    }
    per_round = [_round_values(tracer, groups, row, cores, setups[-1]["agg_edges"])
                 for row in rounds]
    for name in NAMES:
        if name not in out:
            out[name] = med(v.get(name, 0.0) for v in per_round)
    return {name: (out[name], unit(name)) for name in NAMES}
