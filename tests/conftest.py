"""Shared fixtures: one SparkSession per test session, DuckDB oracle conn."""

from __future__ import annotations

import os
import sys

import duckdb
import pytest

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

from cpt_database_sync_spark.session import get_spark  # noqa: E402
from cpt_database_sync_spark.sources.tables import ALL_TABLES  # noqa: E402

SF_DIR = os.environ.get("SPARK_GRAFT_TEST_SF_DIR", "/root/testdata/sf0.001")


@pytest.fixture(scope="session")
def spark():
    # master: local[SPARK_GRAFT_CPUS], get_spark's host-sized default
    spark = get_spark(app_name="cpt-sync-tests", shuffle_partitions=8)
    yield spark
    # End-of-session scratch sweep: shut the whole embedded Derby engine
    # down (releases every booted database), then clear the scratch tree.
    import shutil

    from cpt_database_sync_spark.sources.sync import scratch_dir

    try:
        spark._jvm.java.sql.DriverManager.getConnection("jdbc:derby:;shutdown=true")
    except Exception:
        pass  # Derby reports a clean engine shutdown via SQLException
    shutil.rmtree(scratch_dir(), ignore_errors=True)


@pytest.fixture(scope="session")
def sf_dir() -> str:
    return SF_DIR


@pytest.fixture(scope="session")
def oracle_con(sf_dir):
    """DuckDB connection with fixture tables registered as views — mirrors
    the driver's oracle environment."""
    con = duckdb.connect()
    for t in ALL_TABLES:
        con.execute(f"CREATE VIEW {t} AS SELECT * FROM '{sf_dir}/{t}.parquet'")
    yield con
    con.close()
