"""Shared fixtures: one SparkSession per test session + oracle helpers."""

from __future__ import annotations

import os

import pytest

SF_SMOKE = os.environ.get("SPARK_GRAFT_TEST_SF_DIR", "/root/testdata/sf0.001")


@pytest.fixture(scope="session")
def spark():
    from receiptanalyzerpipeline_spark.session import get_spark

    spark = get_spark(app_name="receiptanalyzerpipeline-tests")
    yield spark


@pytest.fixture(scope="session")
def sf_dir() -> str:
    return SF_SMOKE


@pytest.fixture(scope="session")
def oracle_con(sf_dir):
    from receiptanalyzerpipeline_spark.oracle import duckdb_connect

    con = duckdb_connect(sf_dir)
    yield con
    con.close()
