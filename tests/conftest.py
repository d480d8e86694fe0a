import os
import sys

import pytest

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))


@pytest.fixture(scope="session")
def spark():
    """One shared local session for every Spark test (startup ~8s).

    The test fixtures are small, so the driver heap is capped at 4g
    (override with SPARK_GRAFT_DRIVER_MEM): under the library's 16g
    default the JVM grows lazily toward 16g over the ~25 min suite and
    is OOM-killed on a 16 GB box, failing every later Spark test."""
    from proj_spark.session import build_session

    os.environ.setdefault("SPARK_GRAFT_DRIVER_MEM", "4g")
    s = build_session("proj-spark-tests", cpus=8, shuffle_partitions=8)
    s.sparkContext.setLogLevel("ERROR")
    yield s
    s.stop()
