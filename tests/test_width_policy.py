"""One edge-layout rule: ``plans/pregel.prepare_edges`` decides the edge
partitioning (read from the input's plan, or auto-sized), and
``run_pregel`` runs its shuffles at the prepared edges' width. An operator
that sizes a width itself, reads one back off an RDD or pins the shuffle
conf would bring back a second rule; the bucketed-scan confs belong to
the session alone."""

from __future__ import annotations

import re
from pathlib import Path

import neo4j_graph_data_science_spark

PKG = Path(neo4j_graph_data_science_spark.__file__).parent
# the two removed names are spelled with an optional underscore so this
# file does not itself contain them
OPERATOR_WIDTH = re.compile(r"auto_partitions\(|getNumPartitions\(|"
                            r"spark\.sql\.shuffle\.partitions|"
                            r"pre_?partitioned|bucketed_?layout")
SCAN_CONF = re.compile(r"autoBucketedScan")


def test_one_width_rule():
    offenders = []
    for path in sorted(PKG.rglob("*.py")):
        operator = "operators" in path.relative_to(PKG).parts
        for n, line in enumerate(path.read_text().splitlines(), 1):
            if (operator and OPERATOR_WIDTH.search(line)) \
                    or (SCAN_CONF.search(line) and path != PKG / "session.py"):
                offenders.append(f"{path.relative_to(PKG)}:{n}: {line.strip()}")
    assert not offenders, "\n".join(offenders)
