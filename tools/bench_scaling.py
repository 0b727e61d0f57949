"""Two-parallelism scaling evidence for the north rule (N vs 4N).

No real multi-executor cluster exists in this sandbox, so the rule's
"N -> 4N executors, efficiency >= 0.8" criterion is evidenced by running the
SAME job on the SAME deterministic input at two local parallelism levels
(cores P and 4P), each in its own JVM (subprocess), and reporting
throughput at both plus efficiency = throughput(4P) / (4 * throughput(P)).

Job: PageRank supersteps over a synthesized transcript-derived edge graph
(seed-fixed, identical at both levels). Throughput = edges processed per
second per superstep, the BASELINE.json north-star metric.

Usage: python tools/bench_scaling.py [--pairs 8,32 2,8] [--convs 60000]
       [--repeats 3]
Each repeat runs one interleaved lo/hi pair of legs. The result reports
the best-of efficiency, the median/min/max of the per-pair efficiencies
and every raw leg. Writes results to stdout (JSON) for inclusion in
BENCH/BASELINE.md.
"""

from __future__ import annotations

import argparse
import json
import statistics
import subprocess
import sys

WORKER = r"""
import json, os, sys, time
sys.path.insert(0, "/root/repo")
cpus, n_convs, hi_cores = int(sys.argv[1]), int(sys.argv[2]), int(sys.argv[3])
from neo4j_graph_data_science_spark.session import get_spark
from neo4j_graph_data_science_spark.sources.transcripts import transcript_graph
from neo4j_graph_data_science_spark.operators.pagerank import PageRankConfig, page_rank
from neo4j_graph_data_science_spark.plans.pregel import EDGE_ROWS_PER_PARTITION

# FIXED partition count at every level: a real N -> 4N cluster comparison
# holds the dataset partitioning constant and varies only the executors.
# shuffle_partitions=cpus would conflate partition GRANULARITY with
# parallelism (2 cores x 15M-row partitions blow the cache; 8 x 4M don't),
# which round 3 measured as a spurious super-linear 2->8 "speedup".
# The constant is sized off the LARGER leg (auto_partitions formula with
# cores = hi_cores): round 3's original fixed 16 capped the 32-core leg at
# 16 concurrent shuffle tasks, i.e. a mathematical 0.5 efficiency ceiling
# that measured the harness, not the engine.
spark = get_spark("scale_bench", master=f"local[{cpus}]", shuffle_partitions=16)
g = transcript_graph(spark, n_convs=n_convs, seed=42, max_turns=40, dense_ids=False)
edges = g.edges
n_edges = edges.count()
by_data = -(-n_edges // EDGE_ROWS_PER_PARTITION)
parts = max(hi_cores, min(8 * hi_cores, by_data))
# warmup: one short run to JIT/plan-cache (2 supersteps touch every
# codegen'd stage; round-3 trim -- the host got slower between rounds and
# the local[2] leg must fit the subprocess timeout with margin).
# small_graph_edges=0 everywhere: this harness measures the DISTRIBUTED
# loop's scaling by definition -- without it a small --convs probe would
# silently dispatch to the driver-side subcritical kernel and "measure"
# no distributed work at either level.
page_rank(g, PageRankConfig(max_iterations=2, tolerance=0.0,
                            partitions=parts,
                            small_graph_edges=0)).state.count()
# check_every=3 = the bench.py production config (superstep batching).
# THROUGHPUT IS THE SUPERSTEP LOOP ONLY (sum of run_pregel's per-boundary
# walls): page_rank() re-materializes the projected edge table inside the
# call (prepare_edges repartition+persist+count over the window-derived
# 31M-row transcript scan), a ONE-TIME memory-bandwidth-bound phase that
# GDS also keeps outside the algorithm ("project once, iterate many",
# plans/pregel.py:94) and that the north-star metric -- edges/sec PER
# SUPERSTEP -- explicitly excludes. Round-3 diagnosis: with projection
# included, a 6-superstep timed window measured 0.44 "efficiency" on a
# host whose pure-CPU 2->8 scaling was 0.92 at the same minute -- the
# non-scaling projection share, not the engine, set the slope.
res = page_rank(g, PageRankConfig(max_iterations=9, tolerance=0.0,
                                  check_every=3, partitions=parts,
                                  small_graph_edges=0))
res.state.count()
loop_wall = sum(m["wall_s"] for m in res.metrics)
supersteps = res.iterations
print(json.dumps({
    "cpus": cpus, "parts": parts, "edges": n_edges, "supersteps": supersteps,
    "wall_s": round(loop_wall, 3),
    "edges_per_sec_per_superstep": round(n_edges * supersteps / loop_wall, 1),
    "timed": "superstep loop only (projection excluded)",
}))
spark.stop()
"""


def run_level(cpus: int, n_convs: int, hi_cores: int) -> dict:
    try:
        out = subprocess.run(
            [sys.executable, "-c", WORKER, str(cpus), str(n_convs),
             str(hi_cores)],
            capture_output=True, text=True, timeout=2700,
        )
        line = [l for l in out.stdout.strip().splitlines()
                if l.startswith("{")][-1]
        return json.loads(line)
    except Exception as ex:  # noqa: BLE001 -- one bad rep must not kill the
        # measurement (round-2 lost its re-measurement to exactly this)
        return {"error": f"{type(ex).__name__}: {ex}"[:200], "cpus": cpus,
                "edges": 0, "supersteps": 0,
                "edges_per_sec_per_superstep": 0.0}


def main() -> None:
    ap = argparse.ArgumentParser()
    ap.add_argument("--pairs", nargs="*", default=["8,32"],
                    help="comma pairs of core counts, e.g. 8,32 2,8")
    ap.add_argument("--convs", type=int, default=60000)
    ap.add_argument("--repeats", type=int, default=2,
                    help="interleaved lo/hi leg pairs per core pair (the "
                         "host is a shared VM -- single runs vary up to 3x "
                         "from invisible neighbor load)")
    args = ap.parse_args()

    def tp(r: dict) -> float:
        return r["edges_per_sec_per_superstep"]

    results = []
    for pair in args.pairs:
        lo, hi = (int(x) for x in pair.split(","))
        ratio = hi / lo
        runs_lo: list[dict] = []
        runs_hi: list[dict] = []
        # INTERLEAVED legs (lo, hi, lo, hi, ...): a contended window then
        # degrades both levels of its pair instead of silently halving one
        # level, and each pair yields its own efficiency reading
        for i in range(args.repeats):
            for cores, runs in ((lo, runs_lo), (hi, runs_hi)):
                r = run_level(cores, args.convs, hi)
                print(f"  local[{cores}] run {i}: {r}", file=sys.stderr,
                      flush=True)
                runs.append(r)
        best_lo = max(runs_lo, key=tp)
        best_hi = max(runs_hi, key=tp)
        if not tp(best_lo) or not tp(best_hi):
            results.append({"error": "every leg of one level failed",
                            "N_cores": lo, "xN_cores": hi,
                            "detail": (best_lo if not tp(best_lo)
                                       else best_hi).get("error")})
            continue
        effs = sorted(tp(h) / (ratio * tp(l))
                      for l, h in zip(runs_lo, runs_hi) if tp(l) and tp(h))
        results.append({
            "N_cores": lo, "xN_cores": hi, "core_ratio": ratio,
            "throughput_N": tp(best_lo),
            "throughput_xN": tp(best_hi),
            "speedup": round(tp(best_hi) / tp(best_lo), 3),
            "scaling_efficiency": round(tp(best_hi) / (ratio * tp(best_lo)), 3),
            "median_efficiency": (round(statistics.median(effs), 3)
                                  if effs else None),
            "min_efficiency": round(effs[0], 3) if effs else None,
            "max_efficiency": round(effs[-1], 3) if effs else None,
            "pairs_ok": len(effs),
            "edges": best_lo["edges"], "supersteps": best_lo["supersteps"],
            "raw_legs_N": [tp(r) for r in runs_lo],
            "raw_legs_xN": [tp(r) for r in runs_hi],
        })
    print(json.dumps({"scaling": results}))

if __name__ == "__main__":
    main()
