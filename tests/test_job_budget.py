"""Spark job budget per operator call.

Timings on a small graph are noisy; the number of Spark jobs a call runs
is not. Each case runs one operator call plus the collect of its result
under its own job group and counts that group's jobs with the status
tracker (which works with the Spark UI disabled). The ceiling is the
count measured when the case was added, so a fixed-cost regression -- an
extra action, a lost cache, a re-planned loop -- fails here as a count.
A change that raises a ceiling says why.

Engines are pinned: ``small_graph_edges=10**9`` forces the subcritical
driver kernel, ``0`` the distributed path, on the same graph.
"""

from __future__ import annotations

import pytest

from neo4j_graph_data_science_spark import from_edge_list
from neo4j_graph_data_science_spark.operators.labelprop import (
    LabelPropagationConfig, label_propagation,
)
from neo4j_graph_data_science_spark.operators.pagerank import (
    PageRankConfig, page_rank,
)
from neo4j_graph_data_science_spark.operators.scc import SccConfig, scc
from neo4j_graph_data_science_spark.operators.triangle import (
    TriangleCountConfig, triangle_count,
)
from neo4j_graph_data_science_spark.operators.wcc import WccConfig, wcc

LOCAL, DIST = 10**9, 0

# two triangles sharing an edge, a 4-cycle with a chord, a 3-cycle, a tail
# and a self-loop: every operator has work on both engines
EDGES = [
    (0, 1), (1, 2), (2, 0), (1, 3), (3, 2), (4, 5), (5, 6), (6, 7), (7, 4),
    (4, 6), (8, 9), (9, 10), (10, 8), (10, 11), (3, 4), (11, 11),
]

CALLS = {
    "pagerank": lambda g, lim: page_rank(g, PageRankConfig(
        max_iterations=10, small_graph_edges=lim)).state,
    "wcc": lambda g, lim: wcc(g, WccConfig(small_graph_edges=lim)).state,
    "lpa": lambda g, lim: label_propagation(g, LabelPropagationConfig(
        max_iterations=3, small_graph_edges=lim)).state,
    "scc": lambda g, lim: scc(g, SccConfig(small_graph_edges=lim)),
    "triangles": lambda g, lim: triangle_count(
        g, TriangleCountConfig(small_graph_edges=lim)),
}

# (operator, engine) -> jobs of one call plus its collect. The distributed
# triangle path counts its edges for the dispatch rule and then reads the
# key-packing id bounds in a second aggregate. The Pregel-loop ceilings
# were lowered (pagerank 44 -> 31, wcc 23 -> 18, lpa 20 -> 17, scc
# 139 -> 116) when every loop boundary became one observed cut with no
# separate stats action, and SCC's post-trim emptiness probe became
# arithmetic on the trim counts.
CEILING = {
    ("pagerank", "local"): 8, ("pagerank", "dist"): 31,
    ("wcc", "local"): 6, ("wcc", "dist"): 18,
    ("lpa", "local"): 5, ("lpa", "dist"): 17,
    ("scc", "local"): 6, ("scc", "dist"): 116,
    ("triangles", "local"): 6, ("triangles", "dist"): 25,
}


def count_jobs(spark, group: str, fn) -> int:
    """Jobs run by ``fn()`` under the job group ``group``."""
    sc = spark.sparkContext
    sc.setJobGroup(group, group)
    try:
        fn()
    finally:
        sc.setLocalProperty("spark.jobGroup.id", None)
    # job events reach the status store through the async listener bus
    sc._jsc.sc().listenerBus().waitUntilEmpty()
    return len(sc.statusTracker().getJobIdsForGroup(group))


@pytest.mark.parametrize("op,engine", sorted(CEILING),
                         ids=[f"{o}-{e}" for o, e in sorted(CEILING)])
def test_job_budget(spark, op, engine):
    # ids unique to the case: Spark's cache manager would otherwise serve
    # an earlier case's still-cached frames over the same data
    off = 100 * sorted(CEILING).index((op, engine))
    g = from_edge_list(spark, [(a + off, b + off) for a, b in EDGES],
                       node_ids=range(off, off + 13))   # node 12 isolated
    limit = LOCAL if engine == "local" else DIST
    jobs = count_jobs(spark, f"budget-{op}-{engine}",
                      lambda: CALLS[op](g, limit).collect())
    assert 0 < jobs <= CEILING[op, engine], jobs
