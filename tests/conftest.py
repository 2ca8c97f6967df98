from __future__ import annotations

import os

import pytest
from pyspark.sql import SparkSession

from polars_ruby_spark.session import configure

SF_DIR = os.environ.get("SPARK_GRAFT_TEST_SF", "/root/testdata/sf0.001")


def pytest_configure(config):
    # pytest-timeout is optional; register its marker so it is known
    config.addinivalue_line(
        "markers", "timeout(seconds): per-test time limit (pytest-timeout)")


@pytest.fixture(scope="session")
def spark():
    builder = configure(
        SparkSession.builder.appName("polars-ruby-spark-tests")
        .master("local[*]")
        .config("spark.sql.shuffle.partitions", "32")
        .config("spark.ui.enabled", "false")
        .config("spark.driver.memory", "8g")
    )
    s = builder.getOrCreate()
    yield s


@pytest.fixture(scope="session")
def sf_dir():
    return SF_DIR


def table_path(name: str) -> str:
    return f"{SF_DIR}/{name}.parquet"


@pytest.fixture(scope="session")
def lineitem(spark):
    import polars_ruby_spark as pl

    return pl.scan_parquet(table_path("lineitem"))


@pytest.fixture(scope="session")
def orders(spark):
    import polars_ruby_spark as pl

    return pl.scan_parquet(table_path("orders"))


@pytest.fixture(scope="session")
def customer(spark):
    import polars_ruby_spark as pl

    return pl.scan_parquet(table_path("customer"))


@pytest.fixture(scope="session")
def events(spark):
    import polars_ruby_spark as pl

    return pl.scan_parquet(table_path("events"))


@pytest.fixture(scope="session")
def documents(spark):
    import polars_ruby_spark as pl

    return pl.scan_parquet(table_path("documents"))


@pytest.fixture(scope="session")
def embeddings(spark):
    import polars_ruby_spark as pl

    return pl.scan_parquet(table_path("embeddings"))


@pytest.fixture
def force_cc_path(monkeypatch):
    """``force_cc_path("one_task" | "distributed")`` pins
    ``connected_components`` to one path by moving its size-estimate limit
    above every estimate (an unknown one is Long.MaxValue) or to 0."""
    from polars_ruby_spark.operators import dedup

    def force(path: str) -> None:
        limit = {"one_task": 1 << 64, "distributed": 0}[path]
        monkeypatch.setattr(dedup, "_CC_ONE_TASK_BYTES", limit)

    return force
