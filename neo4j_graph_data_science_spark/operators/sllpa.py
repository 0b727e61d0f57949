"""SLLPA: speaker-listener label propagation (overlapping communities).

Reference: sllpa/SpeakerListenerLPA.java:33 -- every node keeps a label
MEMORY; per round each neighbor (speaker) utters a label from its memory,
the listener adopts the most frequent heard label; after maxIterations,
labels held with frequency >= minAssociationStrength are the node's
(possibly several) communities.

Deterministic variant: the speaker utters its CURRENT most-frequent label
(ties -> smallest), i.e. the mode of its memory -- the zero-temperature
limit of the reference's frequency-proportional sampling. Reproducible
under any partitioning, which the north rule requires; the reference's own
tests use a fixed seed and assert community structure.

Memory is a map<long,int> column; each round is one speaker projection,
one edges join + (listener, label) count, one window argmax and one
map merge -- all Catalyst expressions.
"""

from __future__ import annotations

from dataclasses import dataclass

from pyspark.sql import DataFrame
from pyspark.sql import functions as F
from pyspark.sql.window import Window

from ..catalog import DST, SRC, SparkGraph
from ..plans.checkpoint import truncate_mem


@dataclass
class SllpaConfig:
    max_iterations: int = 10
    min_association_strength: float = 0.2
    partitions: int | None = None


def _mode_of_memory(mem_col):
    """Most frequent key of a map<long,int>; ties -> smallest key."""
    entries = F.map_entries(mem_col)
    best = F.array_max(
        F.transform(entries, lambda e: F.struct(
            e["value"].alias("cnt"), (-e["key"]).alias("negkey")))
    )
    return -best["negkey"]


def sllpa(graph: SparkGraph, config: SllpaConfig | None = None) -> DataFrame:
    """(id, community_ids: array<long>) -- overlapping memberships."""
    cfg = config or SllpaConfig()
    edges = truncate_mem(
        graph.oriented_edges("UNDIRECTED").select(SRC, DST).distinct())
    mem = truncate_mem(
        graph.nodes.select(
            "id", F.create_map(F.col("id"), F.lit(1)).alias("mem")))
    for rnd in range(cfg.max_iterations):
        speaker = mem.select(F.col("id").alias(SRC),
                             _mode_of_memory(F.col("mem")).alias("_lbl"))
        heard = (
            edges.join(speaker, SRC)
            .groupBy(F.col(DST).alias("id"), "_lbl")
            .agg(F.count(F.lit(1)).alias("_c"))
        )
        win = Window.partitionBy("id").orderBy(F.col("_c").desc(),
                                               F.col("_lbl").asc())
        adopt = (
            heard.withColumn("_rn", F.row_number().over(win))
            .filter(F.col("_rn") == 1)
            .select("id", "_lbl")
        )
        mem = truncate_mem(
            mem.join(adopt, "id", "left").select(
                "id",
                F.when(F.col("_lbl").isNull(), F.col("mem"))
                .when(F.map_contains_key(F.col("mem"), F.col("_lbl")),
                      F.map_zip_with(
                          F.col("mem"),
                          F.create_map(F.col("_lbl"), F.lit(1)),
                          lambda k, v1, v2: F.coalesce(v1, F.lit(0))
                          + F.coalesce(v2, F.lit(0)),
                      ))
                .otherwise(F.map_concat(
                    F.col("mem"), F.create_map(F.col("_lbl"), F.lit(1))))
                .alias("mem"),
            ))
    total = F.aggregate(F.map_values("mem"), F.lit(0), lambda a, x: a + x)
    comms = F.array_sort(F.filter(
        F.transform(
            F.map_entries("mem"),
            lambda e: F.when(
                e["value"].cast("double") / total.cast("double")
                >= F.lit(cfg.min_association_strength), e["key"]),
        ),
        lambda x: x.isNotNull(),
    ))
    return mem.select("id", comms.alias("community_ids"))
