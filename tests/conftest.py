from __future__ import annotations

import os

import duckdb
import pytest

from neomarket_clickhouse_indexer_spark.session import get_spark
from neomarket_clickhouse_indexer_spark.sources.tables import TABLE_NAMES

# Small SF for fast unit tests; the differential suite uses the driver's
# sf0.01 (override with SPARK_GRAFT_TEST_SF_DIR).
SF_SMOKE = "/root/testdata/sf0.001"
SF_CORRECTNESS = os.environ.get("SPARK_GRAFT_TEST_SF_DIR", "/root/testdata/sf0.01")


@pytest.fixture(scope="session")
def spark():
    s = get_spark("tests", cores=8, shuffle_partitions=8)
    yield s


@pytest.fixture(scope="session")
def duck():
    con = duckdb.connect()
    yield con
    con.close()


def register_duck_views(con: duckdb.DuckDBPyConnection, sf_dir: str) -> None:
    for name in TABLE_NAMES:
        con.execute(
            f"CREATE OR REPLACE VIEW {name} AS "
            f"SELECT * FROM read_parquet('{sf_dir}/{name}.parquet')"
        )


@pytest.fixture(scope="session")
def duck_correctness(duck):
    register_duck_views(duck, SF_CORRECTNESS)
    return duck


def count_jobs(spark, fn):
    """``(fn(), number of Spark jobs fn started)``: the call runs under its
    own job group, counted from the status tracker once the listener bus
    has delivered every job-start event."""
    import uuid

    sc = spark.sparkContext
    group = f"count-jobs-{uuid.uuid4().hex}"
    sc.setJobGroup(group, group)
    try:
        out = fn()
    finally:
        sc._jsc.clearJobGroup()
    sc._jsc.sc().listenerBus().waitUntilEmpty()
    return out, len(sc.statusTracker().getJobIdsForGroup(group))
