import os
import sys

import pytest

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

from pyspark.sql import SparkSession

SF_DIR = os.environ.get("SPARK_GRAFT_SF_DIR_TEST", "/root/testdata/sf0.001")


@pytest.fixture(scope="session")
def spark():
    session = (
        SparkSession.builder.master("local[4]")
        .appName("hermes-spark-tests")
        .config("spark.sql.shuffle.partitions", "8")
        .config("spark.sql.session.timeZone", "UTC")
        .config("spark.sql.adaptive.enabled", "true")
        .config("spark.ui.enabled", "false")
        .config("spark.driver.memory", "4g")
        .getOrCreate()
    )
    yield session
    session.stop()


@pytest.fixture(scope="session")
def sf_dir():
    return SF_DIR


@pytest.fixture(scope="session")
def lineitem(spark, sf_dir):
    return spark.read.parquet(f"{sf_dir}/lineitem.parquet")


@pytest.fixture(scope="session")
def documents(spark, sf_dir):
    return spark.read.parquet(f"{sf_dir}/documents.parquet")


@pytest.fixture(scope="session")
def embeddings(spark, sf_dir):
    return spark.read.parquet(f"{sf_dir}/embeddings.parquet")


@pytest.fixture
def distributed_cc(monkeypatch):
    """Connected components without the driver finish: every graph is
    contracted until no edge is left."""
    from hermes_spark.operators import dedup

    monkeypatch.setattr(dedup, "_DRIVER_CC_MAX_EDGES", 0)


@pytest.fixture
def contracted_cc(monkeypatch):
    """A driver limit of 20 edges: larger graphs run contraction rounds,
    then the driver labels what is left."""
    from hermes_spark.operators import dedup

    monkeypatch.setattr(dedup, "_DRIVER_CC_MAX_EDGES", 20)
