"""Shared fixtures. One session-scoped SparkSession (local) + a DuckDB
connection with the driver tables registered as views — the same oracle
harness the driver uses (`/root/repo/__spark_entry__.py`)."""

from __future__ import annotations

import os

import duckdb
import pytest

from s1tiling_spark.sources.tables import TABLES

SF_DIR = os.environ.get("SPARK_GRAFT_TEST_SF_DIR", "/root/testdata/sf0.001")
SF_DIR_ORACLE = os.environ.get("SPARK_GRAFT_ORACLE_SF_DIR", "/root/testdata/sf0.01")


@pytest.fixture(scope="session")
def spark():
    from s1tiling_spark.session import build_session

    cpus = int(os.environ.get("SPARK_GRAFT_TEST_CPUS", "4"))
    s = build_session(master=f"local[{cpus}]", app_name="s1tiling-spark-tests",
                      shuffle_partitions=8)
    yield s
    s.stop()


def _duck(sf_dir: str) -> duckdb.DuckDBPyConnection:
    con = duckdb.connect()
    for t in TABLES:
        con.execute(f"CREATE VIEW {t} AS SELECT * FROM '{sf_dir}/{t}.parquet'")
    return con


@pytest.fixture(scope="session")
def duck():
    """Oracle connection on the smoke-scale data (same sf as `spark_sf`)."""
    return _duck(SF_DIR)


@pytest.fixture(scope="session")
def sf_dir():
    return SF_DIR
