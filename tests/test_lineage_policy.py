"""One lineage cut: every iterative loop in the package hands its state
from one round to the next through ``plans/checkpoint.truncate_mem``. A raw
``localCheckpoint`` elsewhere would bring back the compounding size
estimate (the round-1 Louvain hang); a second cut function would bring
back a second policy. The Pregel loop materializes every boundary one way,
the observed cut: no persist branch, no cut cadence constant and no
separate stats action. The path family's loops run on it: no emptiness
probe and no cut inside a hand loop."""

from __future__ import annotations

import ast
import re
from pathlib import Path

import neo4j_graph_data_science_spark

PKG = Path(neo4j_graph_data_science_spark.__file__).parent
CUT = PKG / "plans" / "checkpoint.py"
RAW_CUT = re.compile(r"localCheckpoint\(")
SECOND_CUT = re.compile(r"^\s*def truncate\(")
PREGEL = PKG / "plans" / "pregel.py"
LOOP_FNS = {"run_pregel", "_pregel_loop"}
SECOND_MATERIALIZATION = re.compile(r"\.persist\(|\.agg\(")


def test_one_lineage_cut():
    offenders = []
    for path in sorted(PKG.rglob("*.py")):
        for n, line in enumerate(path.read_text().splitlines(), 1):
            if (RAW_CUT.search(line) and path != CUT) \
                    or SECOND_CUT.match(line):
                offenders.append(f"{path.relative_to(PKG)}:{n}: {line.strip()}")
    assert not offenders, "\n".join(offenders)


def test_no_cut_cadence_constant():
    offenders = [f"{path.relative_to(PKG)}:{n}"
                 for path in sorted(PKG.rglob("*.py"))
                 for n, line in enumerate(path.read_text().splitlines(), 1)
                 if "TRUNCATE_EVERY" in line]
    assert not offenders, offenders


def test_pregel_loop_has_one_materialization():
    src = PREGEL.read_text()
    lines = src.splitlines()
    fns = [node for node in ast.walk(ast.parse(src))
           if isinstance(node, ast.FunctionDef) and node.name in LOOP_FNS]
    assert {f.name for f in fns} == LOOP_FNS
    offenders = [f"{f.name}:{n}: {lines[n - 1].strip()}" for f in fns
                 for n in range(f.lineno, f.end_lineno + 1)
                 if SECOND_MATERIALIZATION.search(lines[n - 1])]
    assert not offenders, "\n".join(offenders)


PATHS = PKG / "operators" / "paths.py"
# the path family's fixpoint loops and pred-chain walk, all on run_pregel
PATH_LOOP_FNS = {
    "_relax_fixpoint", "_target_pruned_dist", "bellman_ford",
    "_bf_pred_state", "dijkstra", "astar", "_multi_spur_dijkstra",
    "_walk_preds", "delta_stepping", "dag_longest_path",
}


def test_path_loops_run_on_pregel():
    """No emptiness probe in the path family's loops, and no cut inside a
    hand loop: run_pregel's boundary cut carries both the state and the
    stop test."""
    fns = [node for node in ast.walk(ast.parse(PATHS.read_text()))
           if isinstance(node, ast.FunctionDef) and node.name in PATH_LOOP_FNS]
    assert {f.name for f in fns} == PATH_LOOP_FNS
    offenders = []
    for f in fns:
        for node in ast.walk(f):
            if isinstance(node, ast.Attribute) and node.attr == "isEmpty":
                offenders.append(f"{f.name}:{node.lineno}: isEmpty")
            if isinstance(node, (ast.For, ast.While)):
                offenders += [f"{f.name}:{n.lineno}: truncate_mem in a loop"
                              for n in ast.walk(node)
                              if isinstance(n, ast.Name)
                              and n.id == "truncate_mem"]
    assert not offenders, "\n".join(offenders)
