from __future__ import annotations

import os
import sys

import pytest

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

SF_DIR = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.001")

# sf-dependent literal oracles (convex hull) must be built against the
# same sf dir the tests run at (the driver's gate uses its sf0.01
# default)
os.environ.setdefault("SPARK_GRAFT_ORACLE_SF", SF_DIR)


@pytest.fixture(scope="session")
def spark():
    from pyspark.sql import SparkSession

    from s2geometry_spark.plans.session import build_session

    spark = build_session(app_name="s2spark-tests", cores=4, shuffle_partitions=8)
    yield spark
    spark.stop()


@pytest.fixture
def no_auto_broadcast(spark):
    """Size-based broadcast off for one test, so a join without an
    explicit broadcast hint really shuffles both sides."""
    prev = spark.conf.get("spark.sql.autoBroadcastJoinThreshold")
    spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
    yield
    spark.conf.set("spark.sql.autoBroadcastJoinThreshold", prev)


@pytest.fixture(scope="session")
def sf_dir():
    return SF_DIR
