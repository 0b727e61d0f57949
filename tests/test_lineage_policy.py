"""One lineage cut: every iterative loop in the package hands its state
from one round to the next through ``plans/checkpoint.truncate_mem``. A raw
``localCheckpoint`` elsewhere would bring back the compounding size
estimate (the round-1 Louvain hang); a second cut function would bring
back a second policy. The Pregel loop materializes every boundary one way,
the observed cut: no persist branch, no cut cadence constant and no
separate stats action. The fixpoint loops of the path, community and
centrality operators run on it: no emptiness probe, and no cut or collect
inside a hand loop."""

from __future__ import annotations

import ast
import re
from pathlib import Path

import pytest

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


OPS = PKG / "operators"
# module -> its fixpoint loops, all on run_pregel
PREGEL_LOOP_FNS = {
    "paths.py": {
        "_relax_fixpoint", "_target_pruned_dist", "bellman_ford",
        "_bf_pred_state", "dijkstra", "astar", "_multi_spur_dijkstra",
        "_walk_preds", "delta_stepping", "dag_longest_path",
    },
    "community.py": {"k_core", "k1_coloring"},
    "leiden.py": {"_moves"},
    "msbfs.py": {"_msbfs_frontiers"},
    "centrality.py": {"hits"},
}
# delta-stepping's bucket scheduler reads the next bucket index once per
# bucket; the light relaxation inside each bucket is a run_pregel loop
COLLECTING_SCHEDULERS = {"delta_stepping"}


def _in_loops(fn: ast.FunctionDef):
    for loop in ast.walk(fn):
        if isinstance(loop, (ast.For, ast.While)):
            yield from ast.walk(loop)


@pytest.mark.parametrize("module", sorted(PREGEL_LOOP_FNS))
def test_fixpoint_loops_run_on_pregel(module):
    """No emptiness probe in these loops, and no cut or collect inside a
    hand loop: run_pregel's boundary cut carries both the state and the
    stop test."""
    names = PREGEL_LOOP_FNS[module]
    fns = [node for node in ast.walk(ast.parse((OPS / module).read_text()))
           if isinstance(node, ast.FunctionDef) and node.name in names]
    assert {f.name for f in fns} == names
    offenders = []
    for f in fns:
        offenders += [f"{f.name}:{n.lineno}: isEmpty" for n in ast.walk(f)
                      if isinstance(n, ast.Attribute) and n.attr == "isEmpty"]
        for n in _in_loops(f):
            if isinstance(n, ast.Name) and n.id == "truncate_mem":
                offenders.append(f"{f.name}:{n.lineno}: truncate_mem in a loop")
            if (isinstance(n, ast.Attribute) and n.attr == "collect"
                    and f.name not in COLLECTING_SCHEDULERS):
                offenders.append(f"{f.name}:{n.lineno}: collect in a loop")
    assert not offenders, "\n".join(offenders)


def test_louvain_uses_the_leiden_move_kernel():
    """Louvain's only loop is its level loop; its local moves are
    leiden._moves at gamma=1."""
    tree = ast.parse((OPS / "louvain.py").read_text())
    loops = {f.name: sum(isinstance(n, (ast.For, ast.While))
                         for n in ast.walk(f))
             for f in ast.walk(tree) if isinstance(f, ast.FunctionDef)}
    assert loops.pop("louvain") == 1
    assert not any(loops.values()), loops
    imported = {a.name for n in ast.walk(tree)
                if isinstance(n, ast.ImportFrom) and n.module == "leiden"
                for a in n.names}
    assert "_moves" in imported
