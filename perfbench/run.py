"""Transcript-graph benchmark: one workload per invocation.

    python3 perfbench/run.py --workload transcripts_dist --seed 1 --trace 0

The parent process generates the seeded transcript table and the reference
answers (outside every timed region), then runs the measurement in a child
process that it kills if the run overstays its deadline. The child appends
one JSON record per completed setup and operator call to
``.bench_work/records/`` as soon as it finishes, so a timeout or crash still
leaves every finished measurement behind. The last line printed on stdout is
the result: ``{"correct", "attempted", "failed", "metrics"}`` with the
end-to-end metrics (``--trace 0``) or the per-layer metrics (``--trace 1``,
which also writes Spark's event log and reads it back).
"""

from __future__ import annotations

import argparse
import json
import os
import signal
import statistics
import subprocess
import sys
import time
import traceback

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
sys.path.insert(0, HERE)

from workloads import WORKLOADS  # noqa: E402

PKG = "neo4j_graph_data_science_spark"
DEADLINE_S = 170          # the parent kills the child after this much wall
ROUND_MARGIN_S = 20       # no new round starts this close to the deadline
RUN_SECONDS = 10          # default measuring time of the operator rounds
SETUPS = 3                # setup repetitions per run; setup_s is their median
DRIVER_MEM = "2g"


def parse_args(argv=None):
    p = argparse.ArgumentParser(description=__doc__.split("\n")[0])
    p.add_argument("--workload", required=True, choices=sorted(WORKLOADS))
    p.add_argument("--seed", type=int, required=True)
    p.add_argument("--seconds", type=float, default=RUN_SECONDS,
                   help="start rounds of the operator sequence while the next "
                        "is expected to end within this many seconds of the "
                        "first (at least one round)")
    p.add_argument("--trace", type=int, choices=(0, 1), default=0)
    p.add_argument("--child", action="store_true", help=argparse.SUPPRESS)
    p.add_argument("--deadline", type=float, help=argparse.SUPPRESS)
    return p.parse_args(argv)


def paths(args) -> dict[str, str]:
    work = os.path.join(ROOT, ".bench_work")
    data = os.path.join(work, "data", f"{args.workload}-seed{args.seed}")
    run = os.path.join(work, "run")
    return {
        "work": work, "run": run,
        "table": os.path.join(data, "transcripts"),
        "ref": os.path.join(data, "reference.npz"),
        "record": os.path.join(work, "records",
                               f"{args.workload}-seed{args.seed}-trace{args.trace}.jsonl"),
        "warehouse": os.path.join(run, "warehouse"),
        "local": os.path.join(run, "spark-local"),
        "tmp": os.path.join(run, "tmp"),
        "eventlog": os.path.join(run, "eventlog"),
        "ckpt": os.path.join(run, "checkpoints"),
    }


def cpu_count() -> int:
    return len(os.sched_getaffinity(0))


# ---------------------------------------------------------------- parent --

def parent(args) -> int:
    import shutil

    import numpy as np

    from gen import ensure_table
    from workloads import build_reference

    p = paths(args)
    w = WORKLOADS[args.workload]
    t_start = time.time()
    table = ensure_table(w.shape, args.seed, p["table"])
    if not os.path.exists(p["ref"]):
        np.savez(p["ref"], **build_reference(w, table))
    del table
    shutil.rmtree(p["run"], ignore_errors=True)
    for d in ("warehouse", "local", "tmp", "ckpt"):
        os.makedirs(p[d], exist_ok=True)
    os.makedirs(os.path.dirname(p["record"]), exist_ok=True)
    if os.path.exists(p["record"]):
        os.remove(p["record"])

    env = dict(os.environ, SPARK_GRAFT_CPUS=str(cpu_count()),
               SPARK_GRAFT_DRIVER_MEM=DRIVER_MEM, SPARK_LOCAL_DIRS=p["local"],
               TMPDIR=p["tmp"], PYTHONDONTWRITEBYTECODE="1")
    cmd = [sys.executable, os.path.abspath(__file__), "--child",
           "--workload", args.workload, "--seed", str(args.seed),
           "--seconds", str(args.seconds), "--trace", str(args.trace),
           "--deadline", str(t_start + DEADLINE_S)]
    # own process group, so the JVM it launches is stopped along with it
    proc = subprocess.Popen(cmd, env=env, stdout=sys.stderr, cwd=ROOT,
                            start_new_session=True)
    timed_out = False
    try:
        proc.wait(timeout=max(DEADLINE_S - (time.time() - t_start), 1))
    except subprocess.TimeoutExpired:
        timed_out = True
    finally:
        stop_group(proc)
    records = read_records(p["record"])
    print(json.dumps(compose(records, timed_out, proc.returncode, args.trace)))
    shutil.rmtree(p["run"], ignore_errors=True)
    return 0


def stop_group(proc: subprocess.Popen) -> None:
    """Stop what is left of the child's process group and wait for all of it.
    After a normal exit that is the JVM, whose SparkContext is already
    stopped and whose records are already written."""
    pgid = proc.pid
    try:
        os.killpg(pgid, signal.SIGKILL)
    except ProcessLookupError:
        pass
    proc.wait()
    while group_alive(pgid):
        time.sleep(0.05)


def group_alive(pgid: int) -> bool:
    for entry in os.listdir("/proc"):
        if not entry.isdigit():
            continue
        try:
            with open(f"/proc/{entry}/stat") as f:
                fields = f.read().rsplit(")", 1)[1].split()
        except OSError:
            continue
        # fields[0] is the state, fields[2] the process group; zombies are gone
        if int(fields[2]) == pgid and fields[0] != "Z":
            return True
    return False


def read_records(path: str) -> list[dict]:
    if not os.path.exists(path):
        return []
    out = []
    with open(path) as f:
        for line in f:
            try:
                out.append(json.loads(line))
            except json.JSONDecodeError:
                break   # a line cut short by a kill
    return out


def compose(records: list[dict], timed_out: bool, rc: int, trace: int) -> dict:
    calls = [r for r in records if r["kind"] in ("setup", "op")]
    failed = sum(1 for r in calls if not r["ok"])
    summary = next((r for r in records if r["kind"] == "summary"), None)
    attempted = len(calls)
    if summary is None:
        # the call in flight when the child died counts as attempted and failed
        attempted += 1
        failed += 1
        why = "timed out" if timed_out else f"child exited with code {rc}"
        print(f"perfbench: run incomplete: {why}", file=sys.stderr)
    for r in calls:
        if not r["ok"]:
            print(f"perfbench: {r['tag']} failed: {r['error']}",
                  file=sys.stderr)
    metrics = {}
    if summary is not None:
        metrics = summary["layers" if trace else "end_to_end"]
    return {"correct": failed == 0, "attempted": attempted, "failed": failed,
            "metrics": {k: {"value": v, "unit": u} for k, (v, u) in metrics.items()}}


# ----------------------------------------------------------------- child --

class Recorder:
    def __init__(self, path: str) -> None:
        self.f = open(path, "a")

    def write(self, rec: dict) -> None:
        self.f.write(json.dumps(rec, default=float) + "\n")
        self.f.flush()

    def close(self) -> None:
        self.f.close()


def log(entry: dict) -> None:
    what = entry.get("tag", entry["kind"])
    state = "ok" if entry["ok"] else "FAILED"
    print(f"perfbench: {what} {state} {entry.get('wall_s', 0):.3f}s "
          f"{entry.get('engine', '')}", file=sys.stderr, flush=True)


def setup(spark, w, p: dict, ref: dict, tracer) -> tuple[dict, dict]:
    """Read the table, derive ids and edges (persisted, counted) and, on the
    distributed workload, write the bucketed projection. Returns the graphs
    and the setup record; the counts are checked after the clock stops."""
    from spans import dir_mb

    from neo4j_graph_data_science_spark.catalog import (
        DST, SRC, GraphCatalog, SparkGraph,
    )
    from neo4j_graph_data_science_spark.sources.transcripts import (
        derive_edges, transcript_id_map,
    )
    from workloads import BUCKETS

    t0 = time.time()
    table = spark.read.parquet(p["table"])
    with tracer.span("sources.derive"):
        idm = transcript_id_map(table).persist()
        edges = derive_edges(table, idm).persist()
        n_vertices, n_edges = idm.count(), edges.count()
    graphs = {"memory": SparkGraph(nodes=idm.select("id"), edges=edges,
                                   id_map=idm, name="transcripts")}
    if w.distributed:
        with tracer.span("catalog.project_bucketed"):
            graphs["bucketed"] = GraphCatalog().project_bucketed(
                "transcripts", graphs["memory"], buckets=BUCKETS,
                aggregation="COUNT")
    entry = {"wall_s": time.time() - t0, "vertices": n_vertices, "edges": n_edges}
    # the distinct (src, dst) pairs: the edge count the dispatcher compares
    entry["agg_edges"] = edges.select(SRC, DST).distinct().count()
    want = (int(ref["n"]), int(ref["edges"]), int(ref["agg_edges"]))
    got = (n_vertices, n_edges, entry["agg_edges"])
    if got != want:
        raise AssertionError("%d vertices / %d edges / %d distinct pairs, "
                             "reference has %d / %d / %d" % (got + want))
    if w.distributed:
        entry["bucketed_mb"] = dir_mb(os.path.join(
            p["warehouse"], "transcripts_edges_bucketed"))
        rows = graphs["bucketed"].edges.count()
        if rows != int(ref["agg_edges"]):
            raise AssertionError(f"{rows} bucketed rows, reference has "
                                 f"{int(ref['agg_edges'])}")
    return graphs, entry


def child(args) -> int:
    t_start = time.time()
    import numpy as np

    sys.path.insert(0, ROOT)
    from spans import Tracer, dir_mb, engine_of, peak_rss_mb

    from workloads import Runner

    p = paths(args)
    w = WORKLOADS[args.workload]
    ref = dict(np.load(p["ref"]))
    rec = Recorder(p["record"])
    cpus = cpu_count()

    from neo4j_graph_data_science_spark.session import get_spark

    tracer = Tracer()
    tracer.install()
    conf = {
        "spark.sql.warehouse.dir": p["warehouse"],
        "spark.local.dir": p["local"],
        "spark.ui.showConsoleProgress": "false",
        "spark.driver.extraJavaOptions":
            f"-Djava.io.tmpdir={p['tmp']} -XX:-UsePerfData -Xms{DRIVER_MEM}",
    }
    if args.trace:
        os.makedirs(p["eventlog"], exist_ok=True)
        conf.update({
            "spark.eventLog.enabled": "true",
            "spark.eventLog.dir": p["eventlog"],
            "spark.eventLog.compress": "false",
            "spark.eventLog.rolling.enabled": "false",
        })
    with tracer.span("session.start") as s_start:
        spark = get_spark("perfbench", master=f"local[{cpus}]",
                          shuffle_partitions=cpus, extra_conf=conf)
    sc = spark.sparkContext
    pids = [os.getpid(), int(sc._jvm.java.lang.ProcessHandle.current().pid())]
    rec.write(environment(args, cpus, sc))

    def attempt(kind: str, tag: str, fn) -> dict:
        """Run ``fn`` under job group ``tag``; record its outcome."""
        tracer.op = tag
        sc.setJobGroup(tag, tag)
        entry = {"kind": kind, "tag": tag, "ok": True}
        try:
            entry.update(fn())
        except Exception:  # noqa: BLE001 - recorded as a failed call
            entry.update(ok=False, error=traceback.format_exc(limit=3))
        tracer.op = ""
        entry["engine"] = engine_of(tracer.in_op(tag)) if kind == "op" else ""
        rec.write(entry)
        log(entry)
        return entry

    setups: list[dict] = []
    graphs = None
    for i in range(SETUPS):
        spark.catalog.clearCache()
        box: dict = {}

        def do_setup():
            box["graphs"], entry = setup(spark, w, p, ref, tracer)
            return entry

        setups.append(attempt("setup", f"setup#{i}", do_setup))
        graphs = box.get("graphs") if setups[-1]["ok"] else None

    # Every round is measured; the first one's end is total_s. The setups
    # before it have warmed the JVM up, but each operator's first call still
    # pays its own plan code generation, as it would in a user's session.
    # More rounds run while the next is expected to end within --seconds and
    # well before the parent's deadline.
    runner = Runner(w, ref, p["ckpt"])
    rounds: list[dict] = []
    total_s = None
    t_measure = time.time()
    while graphs is not None:
        t_round = time.time()
        r = len(rounds)
        row = {}
        for op in w.ops:
            def do_op(op=op):
                info: dict = {}
                with tracer.span("op") as s:
                    df = getattr(runner, op)(graphs, r, info)
                    with tracer.span("collect"):
                        out = df.toPandas()
                entry = {"wall_s": s.dur, "supersteps": info.get("supersteps")}
                if "resume_t0" in info:
                    entry["wall_s"] = info["resume_t0"] - s.t0
                    entry["resume_s"] = s.t1 - info["resume_t0"]
                    entry["checkpoint_mb"] = dir_mb(info["ckpt_dir"])
                getattr(runner, f"check_{op}")(out, info)
                return entry

            row[op] = attempt("op", f"{op}#{r}", do_op)
        rounds.append(row)
        now = time.time()
        if total_s is None:
            total_s = now - t_start
        if (now - t_measure + (now - t_round) > args.seconds
                or now + (now - t_round) > args.deadline - ROUND_MARGIN_S):
            break

    rss = peak_rss_mb(pids)
    spark.stop()
    tracer.uninstall()
    log({"kind": "stopped", "ok": True, "wall_s": time.time() - t_start})
    if not rounds:
        rec.close()
        return 1
    e2e = end_to_end(setups, rounds, total_s, rss)
    layers = {}
    if args.trace:
        from layers import layer_metrics

        layers = layer_metrics(tracer, p["eventlog"], setups, rounds, cpus,
                               s_start.dur, total_s)
    rec.write({"kind": "summary", "rounds": len(rounds),
               "engines": {op: rounds[0][op]["engine"] for op in w.ops},
               "end_to_end": e2e, "layers": layers})
    rec.close()
    return 0


def environment(args, cpus: int, sc) -> dict:
    import platform

    import pyspark

    return {"kind": "env", "workload": args.workload, "seed": args.seed,
            "trace": args.trace, "nproc": os.cpu_count(), "cpus": cpus,
            "SPARK_GRAFT_CPUS": os.environ.get("SPARK_GRAFT_CPUS"),
            "SPARK_GRAFT_DRIVER_MEM": os.environ.get("SPARK_GRAFT_DRIVER_MEM"),
            "SPARK_LOCAL_DIRS": os.environ.get("SPARK_LOCAL_DIRS"),
            "spark": pyspark.__version__, "python": platform.python_version(),
            "java": sc._jvm.java.lang.System.getProperty("java.version"),
            "commit": commit()}


def commit() -> str | None:
    """The checked-out commit, when the tree is a git work tree."""
    try:
        out = subprocess.run(["git", "rev-parse", "HEAD"], cwd=ROOT,
                             capture_output=True, text=True)
    except OSError:
        return None
    return out.stdout.strip() if out.returncode == 0 else None


def end_to_end(setups, rounds, total_s, rss) -> dict:
    """Medians over the run's setups and rounds; a failed call has no time.
    Single operators' times are per-layer metrics (``<op>.wall_s``): one
    cold call per run spreads too widely between runs to carry a bound."""
    def med(values):
        values = [v for v in values if v is not None]
        return statistics.median(values) if values else None

    out = {"setup_s": (med(s.get("wall_s") for s in setups), "s")}
    out["ops_s"] = (med(sum(e["wall_s"] + e.get("resume_s", 0.0) for e in r.values())
                        for r in rounds if all(e["ok"] for e in r.values())), "s")
    out["total_s"] = (total_s, "s")
    out["peak_rss_mb"] = (rss, "MB")
    return {k: v for k, v in out.items() if v[0] is not None}


def main(argv=None) -> int:
    args = parse_args(argv)
    if not os.path.isfile(os.path.join(ROOT, PKG, "__init__.py")):
        print(f"perfbench: the engine package {PKG}/ is not next to "
              f"{os.path.relpath(HERE, ROOT)}/; run from a full checkout",
              file=sys.stderr)
        return 2
    return child(args) if args.child else parent(args)


if __name__ == "__main__":
    sys.exit(main())
