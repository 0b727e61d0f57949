"""Benchmark harness: headline queries at $SPARK_GRAFT_SF_DIR (default
sf0.1) on local[$SPARK_GRAFT_CPUS]. Prints one JSON line after the suite
and, when the scaling phase runs, a second, complete one after it (the
last line is the result):

  {"metric": "...", "value": <total sec>, "unit": "sec",
   "queries": {name: sec, ...}, "sf": ..., "extras": {...}}

Noise defence (round-2 verdict item #2: a single contended run recorded a
false regression): every query is timed best-of-$SPARK_GRAFT_BENCH_REPS
(default 3) runs, so the first run doubles as warm-up and a one-shot
scheduler hiccup cannot be recorded as the number. `value` is the sum of
the per-query BEST times.

Scaling evidence (BASELINE.json north rule: throughput scaling efficiency
>=0.8 from N to 4N executors; no real cluster in this sandbox): unless
SPARK_GRAFT_SCALING=0, the harness ends by delegating to
tools/bench_scaling.py — the SAME fixed-superstep PageRank job, one fresh
JVM per parallelism level (subprocess isolation, no shared JIT/page-cache
warmth between legs), over a deterministic synthesized transcript-derived
edge graph big enough that per-superstep fixed costs don't flatten the
curve (SPARK_GRAFT_SCALING_CONVS conversations, default 800k ~= 31M
edges — the size at which round 1 measured 0.917). The core pair defaults
to 2,8 (SPARK_GRAFT_SCALING_PAIR): on this single-VM box 8->32 "cores"
are SMT hyperthread pairs that add no FPU/memory bandwidth, so 2->8 is
the honest in-sandbox proxy for N->4N executors (BASELINE.md round-1
findings #3). Throughput at both levels + efficiency land in extras, so
every round's BENCH artifact carries the two-parallelism measurement.
"""

from __future__ import annotations

import json
import os
import sys
import time

sys.path.insert(0, os.path.dirname(os.path.abspath(__file__)))

from pyspark.sql import functions as F  # noqa: E402

from neo4j_graph_data_science_spark.session import get_spark  # noqa: E402
from neo4j_graph_data_science_spark.operators.pagerank import (  # noqa: E402
    PageRankConfig, page_rank,
)
from neo4j_graph_data_science_spark.operators.wcc import WccConfig, wcc  # noqa: E402
from neo4j_graph_data_science_spark.operators.labelprop import (  # noqa: E402
    LabelPropagationConfig, label_propagation,
)
from neo4j_graph_data_science_spark.operators.triangle import (  # noqa: E402
    TriangleCountConfig, triangle_count,
)
from neo4j_graph_data_science_spark.sources.tables import (  # noqa: E402
    events_graph, part_co_occurrence_graph,
)
import __spark_entry__ as entrymod  # noqa: E402

REPS = max(1, int(os.environ.get("SPARK_GRAFT_BENCH_REPS", "3")))


def _run_scaling() -> dict:
    """North-rule two-parallelism measurement via tools/bench_scaling.py
    (fresh JVM per level; fixed 9-superstep PageRank after an in-JVM
    warm-up; identical seed-fixed input at both levels). Returns the
    parsed scaling dict, or {"error": ...} if a leg failed/timed out so
    the bench artifact records WHY instead of silently omitting it."""
    import subprocess

    pair = os.environ.get("SPARK_GRAFT_SCALING_PAIR", "2,8")
    convs = os.environ.get("SPARK_GRAFT_SCALING_CONVS", "800000")
    # a fixed number of interleaved lo/hi pairs, no retries: the median
    # pair efficiency is reported with its min/max and every raw leg next
    # to the best-of reading. A retry that fires only on sub-0.8 readings
    # biases the result upwards, and its worst case (a full extra pair per
    # retry) overran the bench budget.
    reps = os.environ.get("SPARK_GRAFT_SCALING_REPS", "3")
    cmd = [sys.executable,
           os.path.join(os.path.dirname(os.path.abspath(__file__)),
                        "tools", "bench_scaling.py"),
           "--pairs", pair, "--convs", convs, "--repeats", reps]
    try:
        out = subprocess.run(cmd, capture_output=True, text=True,
                             timeout=float(os.environ.get(
                                 "SPARK_GRAFT_SCALING_TIMEOUT", "7200")))
        line = [l for l in out.stdout.strip().splitlines()
                if l.startswith("{")][-1]
        pairs = json.loads(line)["scaling"]
        res = pairs[0]
        if len(pairs) > 1:
            res["more_pairs"] = pairs[1:]
        res["protocol"] = (f"tools/bench_scaling.py --pairs {pair} "
                           f"--convs {convs} --repeats {reps}; subprocess "
                           "JVM per level; interleaved lo/hi pairs, median "
                           "pair efficiency with min/max beside best-of, no "
                           "retries; pair 2,8 because 8->32 on this "
                           "box is SMT-capped (BASELINE.md round-1 #3); "
                           "full idle-host 1/2/4/8 curve in BASELINE.md "
                           "round 3")
        return res
    except Exception as ex:  # noqa: BLE001 - recorded, not raised
        return {"error": f"{type(ex).__name__}: {ex}"[:400],
                "pair": pair, "convs": convs}


def main() -> None:
    sf_dir = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    cpus = int(os.environ.get("SPARK_GRAFT_CPUS", "32"))
    sf = float(sf_dir.rstrip("/").split("sf")[-1])
    spark = get_spark("gds_spark_bench", master=f"local[{cpus}]",
                      shuffle_partitions=cpus)

    timings: dict[str, float] = {}
    extras: dict[str, object] = {"cpus": cpus, "reps": REPS,
                                 "timing": f"best-of-{REPS}"}

    def timed(name, fn, reps=REPS):
        best, out = float("inf"), None
        for i in range(reps):
            t0 = time.time()
            out = fn()
            dt = time.time() - t0
            print(f"  bench {name} run {i + 1}/{reps}: {dt:.3f}s",
                  file=sys.stderr, flush=True)
            best = min(best, dt)
        timings[name] = round(best, 3)
        return out

    # --- north-star: PageRank to convergence over the event link graph ----
    g = events_graph(spark, sf_dir)
    n_edges = g.edges.count()
    pr_box: dict[str, object] = {}

    def run_pr():
        # run to actual 1e-6 convergence (north-star metric is convergence-
        # gated). check_every=3 batches 3 supersteps per Spark job
        # (plans/pregel.py): fixed per-job costs dominate at this scale.
        res = page_rank(g, PageRankConfig(max_iterations=100, tolerance=1e-6,
                                          check_every=3))
        res.state.count()
        pr_box["res"] = res

    timed("pagerank_events", run_pr)
    res = pr_box["res"]
    supersteps = max(res.iterations, 1)
    extras["edges"] = n_edges
    extras["pagerank_supersteps"] = supersteps
    extras["edges_per_sec_per_superstep"] = round(
        n_edges * supersteps / timings["pagerank_events"], 1)
    extras["pagerank_converged"] = res.converged
    # which engine the auto dispatch picked (plans/local_kernel.py engages
    # the driver-side numpy kernel below 2M edges — sf0.1 is subcritical)
    extras["pagerank_kernel"] = (
        "local-task" if res.metrics and res.metrics[0].get("kernel") == "local-task"
        else "distributed-pregel")
    if extras["pagerank_kernel"] == "local-task":
        # keep the distributed loop's number visible for round-over-round
        # comparison (r1/r2 benched it); NOT part of the suite total — the
        # suite times what a user gets (the dispatcher), this times the
        # at-scale engine on a subcritical input. The north-star throughput
        # evidence for the distributed loop is the 31M-edge scaling section.
        best = float("inf")
        for i in range(REPS):
            t0 = time.time()
            r2 = page_rank(g, PageRankConfig(max_iterations=100,
                                             tolerance=1e-6, check_every=3,
                                             small_graph_edges=0))
            r2.state.count()
            dt = time.time() - t0
            print(f"  bench pagerank_events_dist run {i + 1}/{REPS}: {dt:.3f}s",
                  file=sys.stderr, flush=True)
            best = min(best, dt)
        extras["pagerank_distributed_best_s"] = round(best, 3)
        extras["pagerank_distributed_supersteps"] = r2.iterations

    timed("wcc_events", lambda: wcc(g, WccConfig()).state.count())
    # NOTE: batching (check_every=5) measured SLOWER here (20 s vs 9 s):
    # LPA's superstep is two shuffles + a window, so a 5-deep lazy chain
    # trades 5 small jobs for one massive-plan job and loses
    timed("lpa_events", lambda: label_propagation(
        g, LabelPropagationConfig(max_iterations=5)).state.count())

    gp = part_co_occurrence_graph(spark, sf_dir)
    timed("triangles_parts", lambda: triangle_count(
        gp, TriangleCountConfig()).agg(F.sum("triangles")).collect())

    q = entrymod.queries()
    for name in ("degree_events", "minhash_lsh_fast", "ann_topk",
                 "node_similarity_customers", "token_stats_docs",
                 "betweenness_parts_mod"):
        timed(name, lambda n=name: q[n](spark, sf_dir).count())

    # near-dup at a REALISTIC threshold (0.9): the banded-LSH prefilter
    # keeps candidates sparse; the 0.45-threshold contract query is a
    # recall demo, not the production operating point
    from neo4j_graph_data_science_spark.operators.ann import (  # noqa: E402
        cosine_near_duplicates,
    )
    emb = spark.read.parquet(f"{sf_dir}/embeddings.parquet")
    timed("cosine_near_dup_lsh09",
          lambda: cosine_near_duplicates(emb, threshold=0.9, method="lsh").count())

    total = round(sum(timings.values()), 3)
    spark.stop()

    record = {
        "metric": "headline-suite wall time (pagerank/wcc/lpa/triangles/dedup/ann/text)",
        "value": total,
        "unit": "sec",
        "queries": timings,
        "sf": sf,
        "extras": extras,
    }
    # the suite-only line goes out first, so a scaling phase that overruns
    # the caller's budget cannot take the finished suite timings with it;
    # a completed scaling phase then prints the full line (the last line
    # is the result)
    print(json.dumps(record), flush=True)

    # --- north-rule two-parallelism scaling measurement -------------------
    if os.environ.get("SPARK_GRAFT_SCALING", "1") != "0":
        extras["scaling"] = _run_scaling()
        print(f"  scaling: {extras['scaling']}", file=sys.stderr, flush=True)
        print(json.dumps(record), flush=True)


if __name__ == "__main__":
    main()
