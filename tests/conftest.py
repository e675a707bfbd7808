"""Shared fixtures: one SparkSession per test run, one DuckDB oracle
connection per scale factor with the fixture tables pre-registered —
mirroring the driver harness (__spark_entry__.py docstring)."""

from __future__ import annotations

import os

import duckdb
import pytest

from etl_intraday_bidask_spark.session import build_spark
from etl_intraday_bidask_spark.tables import TABLE_NAMES

# Parity tests default to the smallest fixtures for speed; set
# SPARK_GRAFT_TEST_SF=/root/testdata/sf0.01 to mirror the driver's t2.
SF_SMALL = os.environ.get("SPARK_GRAFT_TEST_SF", "/root/testdata/sf0.001")
SF_MEDIUM = "/root/testdata/sf0.01"


@pytest.fixture(scope="session")
def spark():
    spark = build_spark(app_name="etl-bidask-tests", shuffle_partitions=8)
    yield spark
    spark.stop()


def make_duckdb(sf_dir: str) -> duckdb.DuckDBPyConnection:
    con = duckdb.connect()
    for name in TABLE_NAMES:
        con.execute(
            f"CREATE VIEW {name} AS "
            f"SELECT * FROM read_parquet('{sf_dir}/{name}.parquet')"
        )
    return con


@pytest.fixture(scope="session")
def duck_small():
    con = make_duckdb(SF_SMALL)
    yield con
    con.close()


@pytest.fixture(scope="session")
def parity_verdicts() -> dict:
    """Registry key -> outcome of its first parity check this session;
    tests that check the same key again replay it
    (tests/test_parity.py:check_parity)."""
    return {}


@pytest.fixture(scope="session")
def duck_medium():
    con = make_duckdb(SF_MEDIUM)
    yield con
    con.close()
