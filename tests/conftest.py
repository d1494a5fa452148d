import os
import sys

import pytest

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

from spark_indexedrdd_spark.session import get_spark  # noqa: E402

SF_DIR = os.environ.get("SPARK_GRAFT_TEST_SF_DIR", "/root/testdata/sf0.001")


@pytest.fixture(scope="session")
def spark():
    # local[8]: the suite is serial and job-latency-bound; 8 cores lets
    # every 8-task shuffle stage run in one wave instead of two. Results
    # are core-count independent by contract (the driver benches the
    # same code at 32 AND 8 cores); shuffle_partitions stays 8.
    s = get_spark(app_name="tests", master="local[8]", shuffle_partitions=8)
    yield s


@pytest.fixture(scope="session")
def sf_dir():
    return SF_DIR


@pytest.fixture()
def no_broadcast(spark):
    """Disable auto-broadcast so join-shape assertions exercise the
    co-partitioning contract rather than tiny-data broadcasting."""
    old = spark.conf.get("spark.sql.autoBroadcastJoinThreshold")
    spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
    yield
    spark.conf.set("spark.sql.autoBroadcastJoinThreshold", old)
