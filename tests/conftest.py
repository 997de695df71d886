"""Shared fixtures: one SparkSession for the suite, testdata paths."""

from __future__ import annotations

import os

import pytest

SF_SMOKE = "/root/testdata/sf0.001"
SF_ORACLE = "/root/testdata/sf0.01"


def _build_spark():
    from component_duckdb_transformation_spark.session import build_spark_session

    return build_spark_session(
        app_name="cdts-tests",
        threads=int(os.environ.get("SPARK_GRAFT_CPUS", "8")),
        shuffle_partitions=8,
    )


@pytest.fixture(scope="session")
def _spark_box():
    """The suite's one SparkSession, in a box ``spark`` refills."""
    return [_build_spark()]


@pytest.fixture(scope="module")
def spark(_spark_box):
    """The suite's SparkSession, rebuilt for the next module when a
    module stopped it (``test_vanilla_session.py`` stops the active
    session to build a conf-free one)."""
    if _spark_box[0].sparkContext._jsc is None:
        _spark_box[0] = _build_spark()
    yield _spark_box[0]


@pytest.fixture()
def table_store(spark, tmp_path):
    from component_duckdb_transformation_spark.plans.executor import TableStore

    return TableStore(spark, str(tmp_path / "warehouse"))
