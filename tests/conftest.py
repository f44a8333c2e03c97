from __future__ import annotations

import os

import pytest

from dmp_crawler_spark.session import get_spark


@pytest.fixture(scope="session")
def spark():
    # get_spark's 16g driver-heap default is sized for a bench host; on a
    # 16 GB machine the test JVM grows until the kernel OOM killer takes
    # it part-way through the suite
    os.environ.setdefault("SPARK_DRIVER_MEM", "4g")
    s = get_spark(master="local[4]", app_name="dmp_crawler_spark_tests", shuffle_partitions=8)
    yield s
    s.stop()


@pytest.fixture(scope="session")
def sf_dir():
    """The sf0.01 tables vendored with the benchmark; tests only read them."""
    root = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
    return os.path.join(root, "benchmark", "data", "sf0.01")
