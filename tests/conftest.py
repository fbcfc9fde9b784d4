import os
import sys
from contextlib import contextmanager

import pytest

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

SF_DIR = os.environ.get("SPARK_GRAFT_TEST_SF_DIR", "/root/testdata/sf0.001")


@contextmanager
def pos_auto_threshold(value):
    """Override ``engine.pos_auto_threshold`` (0 disables ``from_df``'s
    collect, leaving the pivot's own plan in the frame)."""
    from flatbread_spark.config import CONFIG

    before = CONFIG.get("engine", "pos_auto_threshold", default=100_000)
    CONFIG.update_runtime({"engine": {"pos_auto_threshold": value}})
    try:
        yield
    finally:
        CONFIG.update_runtime({"engine": {"pos_auto_threshold": before}})


@pytest.fixture(scope="session")
def spark():
    from flatbread_spark.session import get_spark

    s = get_spark(app="flatbread-spark-tests", master="local[4]", shuffle_partitions=4)
    yield s


@pytest.fixture(scope="session")
def lineitem(spark):
    return spark.read.parquet(os.path.join(SF_DIR, "lineitem.parquet"))


@pytest.fixture(scope="session")
def orders(spark):
    return spark.read.parquet(os.path.join(SF_DIR, "orders.parquet"))


@pytest.fixture(scope="session")
def documents(spark):
    return spark.read.parquet(os.path.join(SF_DIR, "documents.parquet"))


@pytest.fixture(scope="session")
def embeddings(spark):
    return spark.read.parquet(os.path.join(SF_DIR, "embeddings.parquet"))


@pytest.fixture(scope="session")
def events(spark):
    return spark.read.parquet(os.path.join(SF_DIR, "events.parquet"))
