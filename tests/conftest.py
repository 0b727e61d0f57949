from __future__ import annotations

import os

import pytest

from neo4j_graph_data_science_spark.session import get_spark


# the test JVM's heap cap must fit the host: under the 48g session default
# G1 may grow the heap past a 16 GB machine's memory, the kernel then kills
# the JVM mid-suite and every later test fails with ConnectionRefused
os.environ.setdefault("SPARK_GRAFT_DRIVER_MEM", "8g")


@pytest.fixture(scope="session")
def spark():
    s = get_spark("gds_spark_tests", master="local[8]", shuffle_partitions=8)
    yield s
    s.stop()
