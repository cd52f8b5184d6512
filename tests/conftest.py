from __future__ import annotations

import os

import pytest

from rdfind_spark.session import spark_session


@pytest.fixture(scope="session")
def spark():
    spark = spark_session("rdfind-spark-tests", shuffle_partitions=8, driver_memory="8g")
    yield spark
    spark.stop()


@pytest.fixture(scope="session")
def sf_dir():
    return os.environ.get("SPARK_GRAFT_TEST_SF_DIR", "/root/testdata/sf0.001")
