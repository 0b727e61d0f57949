"""SparkSession factory tuned for the link-graph engine.

Local-mode defaults mirror what we'd set on a real cluster: AQE on
(runtime re-plan + skew-join splitting), shuffle partitions sized to
cores (not the 200 default), Arrow enabled for the pandas-UDF kernels,
UTC session timezone so results compare bit-stable against the DuckDB
oracle, and bucketed scans that always report their hash-by-src layout and
sort order, so plans/pregel.prepare_edges reads a project_bucketed graph's
layout from the plan instead of re-shuffling it.
"""

from __future__ import annotations

import os

from pyspark.sql import SparkSession


def get_spark(
    app_name: str = "gds_spark",
    master: str | None = None,
    shuffle_partitions: int | None = None,
    extra_conf: dict[str, str] | None = None,
) -> SparkSession:
    cpus = int(os.environ.get("SPARK_GRAFT_CPUS", "32"))
    master = master or os.environ.get("SPARK_GRAFT_MASTER", f"local[{cpus}]")
    if shuffle_partitions is None:
        # parse local[N] to size shuffles ~ cores; on a real cluster this
        # would be executors*cores*2..3
        n = master[master.find("[") + 1 : master.find("]")] if "[" in master else "32"
        shuffle_partitions = cpus if n == "*" else int(n)
    builder = (
        SparkSession.builder.master(master)
        .appName(app_name)
        .config("spark.sql.shuffle.partitions", str(shuffle_partitions))
        .config("spark.default.parallelism", str(shuffle_partitions))
        .config("spark.sql.adaptive.enabled", "true")
        .config("spark.sql.adaptive.coalescePartitions.enabled", "true")
        .config("spark.sql.adaptive.skewJoin.enabled", "true")
        .config("spark.sql.session.timeZone", "UTC")
        .config("spark.sql.execution.arrow.pyspark.enabled", "true")
        .config("spark.driver.memory", os.environ.get("SPARK_GRAFT_DRIVER_MEM", "48g"))
        .config("spark.ui.enabled", "false")
        .config("spark.sql.autoBroadcastJoinThreshold", str(64 * 1024 * 1024))
        # a project_bucketed scan keeps its hash-by-src layout and sort
        # order through plans/pregel.prepare_edges' persist:
        #   * autoBucketedScan off -- DisableUnnecessaryBucketedScan would
        #     see a bare scan+persist (no join above it at cache-build
        #     time) and silently compile the cache WITHOUT the hash layout,
        #     re-introducing the per-superstep Exchange;
        #   * legacy bucketedTableScan.outputOrdering on -- since Spark 3.0
        #     the scan reports its sortBy order only behind this flag
        #     (multi-file buckets would need a merge-read);
        #     write_bucketed_edges guarantees ONE file per bucket
        #     (repartition-by-key before bucketBy), the regime where the
        #     reported order is exact, and Spark still verifies the
        #     single-file condition before reporting.
        # Set session-wide, no persist order can lose the layout.
        .config("spark.sql.sources.bucketing.autoBucketedScan.enabled", "false")
        .config("spark.sql.legacy.bucketedTableScan.outputOrdering", "true")
    )
    for k, v in (extra_conf or {}).items():
        builder = builder.config(k, v)
    spark = builder.getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    return spark
