"""One lineage cut: every iterative loop in the package hands its state
from one round to the next through ``plans/checkpoint.truncate_mem``. A raw
``localCheckpoint`` elsewhere would bring back the compounding size
estimate (the round-1 Louvain hang); a second cut function would bring
back a second policy."""

from __future__ import annotations

import re
from pathlib import Path

import neo4j_graph_data_science_spark

PKG = Path(neo4j_graph_data_science_spark.__file__).parent
CUT = PKG / "plans" / "checkpoint.py"
RAW_CUT = re.compile(r"localCheckpoint\(")
SECOND_CUT = re.compile(r"^\s*def truncate\(")


def test_one_lineage_cut():
    offenders = []
    for path in sorted(PKG.rglob("*.py")):
        for n, line in enumerate(path.read_text().splitlines(), 1):
            if (RAW_CUT.search(line) and path != CUT) \
                    or SECOND_CUT.match(line):
                offenders.append(f"{path.relative_to(PKG)}:{n}: {line.strip()}")
    assert not offenders, "\n".join(offenders)
