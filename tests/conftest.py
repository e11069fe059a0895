from __future__ import annotations

import os
import sys

import pytest

# the repo root on sys.path, so plain `pytest` imports sparkgraft and
# tools.oracle_check as `python -m pytest` does
REPO_ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
if REPO_ROOT not in sys.path:
    sys.path.insert(0, REPO_ROOT)

os.environ.setdefault("SPARK_GRAFT_CPUS", "4")
os.environ.setdefault("SPARK_GRAFT_DRIVER_MEM", "4g")

SF_DIR = os.environ.get("SPARK_GRAFT_TEST_SF_DIR", "/root/testdata/sf0.001")


@pytest.fixture(scope="session")
def spark():
    from sparkgraft.session import get_spark

    spark = get_spark("sparkgraft-tests")
    yield spark
    spark.stop()


@pytest.fixture(scope="session")
def sf_dir():
    return SF_DIR


@pytest.fixture(scope="session")
def duck():
    """DuckDB over the SF_DIR tables: the oracle side of every comparison."""
    from tools.oracle_check import duckdb_con

    con = duckdb_con(SF_DIR)
    yield con
    con.close()
