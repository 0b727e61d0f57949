"""Bucketed edge storage for co-located (shuffle-free) joins.

The heart of every iterative graph workload here is the repeated
``edges JOIN state ON src`` (the Pregel messenger). On a cluster that join
shuffles the edge table every superstep unless the storage layout already
co-locates rows by join key. Spark's answer is bucketing:
``bucketBy(n, src) + sortBy(src)`` at write time records the hash layout
in the catalog, and any later equi-join or aggregation on ``src`` between
tables with compatible bucketing runs with NO Exchange on the bucketed
side(s) -- the sort-merge join reads each bucket pair directly.

This module materializes a graph's edge list as a bucketed, sorted
parquet table (and optionally the reversed orientation, bucketed by dst,
for inverse-indexed algorithms -- the InverseRelationships analogue at
the storage layer). At 100 TB the bucket count should be sized so one
bucket ~= one task's worth of edges (e.g. 10^4 buckets for 10^12 edges).

GDS counterpart: the CSR projection itself -- GDS pays one projection to
make every later neighbor scan cheap; we pay one bucketed write to make
every later join co-located. Cite: native-projection
ScanningRelationshipsImporter.java (one-time import), Pregel.java:204
(the per-iteration neighbor interaction the layout serves).
"""

from __future__ import annotations

from pyspark.sql import DataFrame

from ..catalog import DST, SRC


def write_bucketed_edges(
    edges: DataFrame,
    table_name: str,
    buckets: int = 32,
    path: str | None = None,
    by_dst: bool = False,
) -> DataFrame:
    """Write ``edges`` as a bucketed+sorted parquet table and return the
    catalog-backed DataFrame reading it.

    ``by_dst=True`` buckets on dst instead (the inverse-index layout).
    ``path`` makes it an external table (default: session warehouse dir).
    Overwrites any existing table of the same name.
    """
    key = DST if by_dst else SRC
    spark = edges.sparkSession
    spark.sql(f"DROP TABLE IF EXISTS {table_name}")
    # ONE FILE PER BUCKET: repartition by the bucket key at the bucket
    # count first. repartition(n, key) and bucketBy(n, key) use the same
    # HashPartitioning (murmur3 pmod), so each write task holds exactly
    # one bucket's rows and emits exactly one sorted file. Without this,
    # every write task emits a file per bucket it touches, and a
    # multi-file bucket loses the scan's reported sort order -- later
    # sort-merge joins on the key would re-Sort (though never
    # re-Exchange) the bucketed side every superstep.
    w = (edges.repartition(buckets, key)
         .write.format("parquet").mode("overwrite")
         .bucketBy(buckets, key).sortBy(key))
    if path:
        w = w.option("path", path)
    w.saveAsTable(table_name)
    return spark.table(table_name)
