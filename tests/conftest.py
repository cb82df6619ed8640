"""Shared pytest fixtures: one SparkSession per test session."""

from __future__ import annotations

import logging
import os

import pytest

from ecommerce_realtime_pipeline_spark.session import get_spark
from perfbench.run import stop_session

SF_SMOKE = "/root/testdata/sf0.001"
SF_ORACLE = os.environ.get("SPARK_GRAFT_TEST_SF_DIR", "/root/testdata/sf0.001")


@pytest.fixture(scope="session")
def spark():
    spark = get_spark(
        app_name="engine-tests",
        shuffle_partitions=8,
        extra_conf={"spark.driver.memory": "8g"},
    )
    yield spark
    # end the driver JVM and the py4j gateway with the test session,
    # not at interpreter exit, while pytest still owns the streams
    stop_session(spark)


@pytest.fixture
def reset_root_logging():
    """Undo a test's ``configure_logging``: its root handler writes to
    the test's captured stdout, which pytest closes after the test, so a
    handler left behind sends every later record (py4j logs each
    connection shutdown at INFO) to a closed stream."""
    level = logging.root.level
    yield
    for h in list(logging.root.handlers):
        logging.root.removeHandler(h)
        h.close()
    logging.root.setLevel(level)


@pytest.fixture(scope="session")
def sf_dir() -> str:
    return SF_ORACLE
