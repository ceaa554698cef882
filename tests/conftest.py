from __future__ import annotations

import os
import sys

import pytest

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

SF_DIR = os.environ.get("SPARK_GRAFT_TEST_SF", "/root/testdata/sf0.001")


def jobs_run(spark) -> int:
    """Spark jobs submitted so far in this session (job ids are dense)."""
    return spark.sparkContext._jsc.sc().dagScheduler().numTotalJobs()


def pytest_configure(config):
    config.addinivalue_line("markers", "slow: spawns a subprocess JVM")


@pytest.fixture(scope="session")
def spark():
    from platform_spark.session import get_spark

    s = get_spark("tests", master="local[4]", shuffle_partitions=8)
    yield s


@pytest.fixture(scope="session")
def catalog(spark):
    from platform_spark.topics import TopicCatalog

    return TopicCatalog(spark, SF_DIR)
