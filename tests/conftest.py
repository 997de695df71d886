"""Shared fixtures: one SparkSession per test session, testdata paths."""

from __future__ import annotations

import os

import pytest

SF_SMOKE = "/root/testdata/sf0.001"
SF_ORACLE = "/root/testdata/sf0.01"


@pytest.fixture(scope="session")
def spark():
    from component_duckdb_transformation_spark.session import build_spark_session

    spark = build_spark_session(
        app_name="cdts-tests",
        threads=int(os.environ.get("SPARK_GRAFT_CPUS", "8")),
        shuffle_partitions=8,
    )
    yield spark


@pytest.fixture()
def table_store(spark, tmp_path):
    from component_duckdb_transformation_spark.plans.executor import TableStore

    return TableStore(spark, str(tmp_path / "warehouse"))
