from __future__ import annotations

import os
import sys

import pytest

REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
sys.path.insert(0, REPO)

SF_DIR = os.environ.get("SPARK_GRAFT_TEST_SF_DIR", "/root/testdata/sf0.001")


@pytest.fixture(scope="session")
def spark():
    # small fixtures: slice parallelize() into 4 partitions instead of
    # one-per-core — every tiny action otherwise launches a 32-task
    # wave and the suite becomes scheduler-latency-bound
    os.environ.setdefault("SPARK_GRAFT_DEFAULT_PARALLELISM", "4")
    from tcrd_spark.session import get_spark

    s = get_spark("tests")
    yield s
    # release the session memo store: index tables and temp-dir
    # indexes/lakes would otherwise outlive the run
    from tcrd_spark.session import clear

    clear(s)


@pytest.fixture(scope="session")
def sf_dir():
    return SF_DIR


@pytest.fixture(scope="session")
def duck(sf_dir):
    import duckdb

    from tools.check import TABLES

    con = duckdb.connect()
    for t in TABLES:
        p = os.path.join(sf_dir, f"{t}.parquet")
        if os.path.exists(p):
            con.execute(f"CREATE VIEW {t} AS SELECT * FROM read_parquet('{p}')")
    yield con
    con.close()
