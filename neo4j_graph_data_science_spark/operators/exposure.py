"""Indirect exposure: BFS-layered exposure propagation from sanctioned
nodes over a (money-)transfer graph.

Reference: indirectExposure/IndirectExposureComputation.java:80 --
sanctioned nodes start with exposure 1; an unvisited node, on the first
superstep it receives messages, takes the MAX incoming
parentExposure * transferWeight, divides by its own total transfer volume,
records hop/parent/root, propagates once, and halts. Visit-once semantics
make this a BFS layering; the exposure is a pure function of the layer
frontier, so each round is one join + one max-combine.

Tie-break when several parents deliver the same max value: smallest parent
id (the reference keeps whichever message its reducer saw first -- its
tests use distinct values).
"""

from __future__ import annotations

from dataclasses import dataclass
from typing import Sequence

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from ..catalog import DST, SRC, W, SparkGraph
from ..plans.checkpoint import truncate_mem


@dataclass
class IndirectExposureConfig:
    max_iterations: int = 100
    partitions: int | None = None


def indirect_exposure(graph: SparkGraph, sanctioned: Sequence[int],
                      config: IndirectExposureConfig | None = None) -> DataFrame:
    """(id, exposure, hop, parent, root); unreached nodes have exposure 0
    and hop/parent/root = -1 (the reference's UNDEFINED)."""
    cfg = config or IndirectExposureConfig()
    edges = truncate_mem(graph.aggregated_edges("SUM", "UNDIRECTED"))
    wdeg = edges.groupBy(F.col(SRC).alias("id")).agg(F.sum(W).alias("_wd"))
    seeds = [int(s) for s in sanctioned]
    visited = truncate_mem(
        graph.nodes.filter(F.col("id").isin(seeds)).select(
            "id", F.lit(1.0).alias("exposure"), F.lit(0).cast("long").alias("hop"),
            F.col("id").alias("parent"), F.col("id").alias("root")))
    frontier = visited
    for hop in range(1, cfg.max_iterations + 1):
        if frontier.isEmpty():
            break
        msgs = (
            edges.join(frontier.select(F.col("id").alias(SRC), "exposure",
                                       F.col("root").alias("_rt")), SRC)
            .select(
                F.col(DST).alias("id"),
                F.struct(
                    (F.col("exposure") * F.col(W)).alias("val"),
                    (-F.col(SRC)).alias("negsender"),
                    F.col("_rt").alias("rt"),
                ).alias("_m"),
            )
            .groupBy("id").agg(F.max("_m").alias("m"))
        )
        frontier = truncate_mem(
            msgs.join(visited.select("id"), "id", "left_anti")
            .join(wdeg, "id", "left")
            .select(
                "id",
                (F.col("m.val") / F.when(F.col("_wd") > 0, F.col("_wd"))
                 .otherwise(1.0)).alias("exposure"),
                F.lit(hop).cast("long").alias("hop"),
                (-F.col("m.negsender")).alias("parent"),
                F.col("m.rt").alias("root"),
            ))
        visited = truncate_mem(visited.unionByName(frontier))
    return (
        graph.nodes.select("id")
        .join(visited, "id", "left")
        .select(
            "id",
            F.coalesce("exposure", F.lit(0.0)).alias("exposure"),
            F.coalesce("hop", F.lit(-1)).cast("long").alias("hop"),
            F.coalesce("parent", F.lit(-1)).cast("long").alias("parent"),
            F.coalesce("root", F.lit(-1)).cast("long").alias("root"),
        )
    )
