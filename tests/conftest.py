from __future__ import annotations

import os
import sys

import pytest

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

SF_DIR = os.environ.get("SPARK_GRAFT_TEST_SF_DIR", "/root/testdata/sf0.001")
SF_DIR_BIG = os.environ.get("SPARK_GRAFT_TEST_SF_DIR_BIG", "/root/testdata/sf0.01")


@pytest.fixture(scope="session")
def spark():
    from flink_1_19_source_spark.session import get_spark

    # One driver JVM runs the whole suite: thousands of distinct plans, each
    # with its own generated classes. Late in the run the JIT's profiled
    # code heap reaches ~116 MB, about the whole 120 MB that the default
    # 240 MB code cache gives it, and HotSpot starts flushing and
    # recompiling Spark's own hot code. 512 MB keeps it resident.
    s = get_spark(
        app_name="tests",
        shuffle_partitions=8,
        streaming=True,
        extra_conf={
            "spark.driver.extraJavaOptions": "-XX:ReservedCodeCacheSize=512m"
        },
    )
    yield s
    s.stop()


@pytest.fixture(scope="session")
def sf_dir() -> str:
    return SF_DIR


@pytest.fixture(scope="session")
def sf_dir_big() -> str:
    return SF_DIR_BIG
