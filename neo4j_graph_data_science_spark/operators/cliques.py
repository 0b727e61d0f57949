"""k-clique counting.

Reference: cliqueCounting/CliqueCounting.java:146 -- global counts per
clique size plus per-node counts (how many k-cliques contain the node);
the reference recurses over pivot subsets, which is thread-local and does
not shuffle. The Spark formulation extends the degree-ordered-orientation
triangle plan (triangle.py): orient edges lower->higher (degree, id), so
every k-clique is enumerated exactly once as an ordered tuple
m1 < m2 < ... < mk, and level k+1 is one join (candidate = out-neighbor of
m1) plus k-1 semi-joins verifying the remaining edges. Orientation bounds
the out-degree by O(sqrt(m)) (arboricity argument), which bounds every
join's fan-out -- the same reason the triangle plan survives scale.
"""

from __future__ import annotations

from dataclasses import dataclass

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from ..catalog import DST, SRC, SparkGraph
from ..plans.checkpoint import truncate_mem
from .triangle import _canonical_edges


@dataclass
class CliqueCountingConfig:
    max_k: int = 5
    partitions: int | None = None


def clique_counting(graph: SparkGraph, config: CliqueCountingConfig | None = None):
    """Returns (global_df, per_node_df):
    global_df: (k, count); per_node_df: (id, k, count) for k = 3..max_k."""
    cfg = config or CliqueCountingConfig()
    canon = _canonical_edges(graph)
    deg = (
        canon.select(F.col(SRC).alias("id")).unionAll(
            canon.select(F.col(DST).alias("id")))
        .groupBy("id").agg(F.count(F.lit(1)).alias("_d"))
    )
    ed = (
        canon.join(deg.select(F.col("id").alias(SRC), F.col("_d").alias("_ds")), SRC)
        .join(deg.select(F.col("id").alias(DST), F.col("_d").alias("_dd")), DST)
    )
    lower_first = (F.col("_ds") < F.col("_dd")) | (
        (F.col("_ds") == F.col("_dd")) & (F.col(SRC) < F.col(DST)))
    oriented = ed.select(
        F.when(lower_first, F.col(SRC)).otherwise(F.col(DST)).alias("u"),
        F.when(lower_first, F.col(DST)).otherwise(F.col(SRC)).alias("v"),
    ).transform(truncate_mem)

    spark = graph.nodes.sparkSession
    # level 2: ordered pairs (m1, m2)
    cliques = oriented.select(F.col("u").alias("m1"), F.col("v").alias("m2"))
    globals_rows = []
    per_node_parts = []
    for k in range(3, cfg.max_k + 1):
        members = [f"m{i}" for i in range(1, k)]
        # candidates: out-neighbors of m1, verified against every other member
        ext = cliques.join(
            oriented.select(F.col("u").alias("m1"), F.col("v").alias(f"m{k}")),
            "m1",
        )
        for m in members[1:]:
            ext = ext.join(
                oriented.select(F.col("u").alias(m), F.col("v").alias(f"m{k}")),
                [m, f"m{k}"], "left_semi",
            )
        cliques = ext.transform(truncate_mem)
        cnt = cliques.count()
        globals_rows.append((k, cnt))
        cols = members + [f"m{k}"]
        per_node_parts.append(
            cliques.select(F.explode(F.array(*cols)).alias("id"))
            .groupBy("id").agg(F.count(F.lit(1)).alias("count"))
            .withColumn("k", F.lit(k))
        )
        if cnt == 0:
            break
    global_df = spark.createDataFrame(globals_rows, "k int, count long")
    per_node = per_node_parts[0]
    for p in per_node_parts[1:]:
        per_node = per_node.unionByName(p)
    return global_df, per_node.select("id", "k", "count")
