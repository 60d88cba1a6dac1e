"""Seeded fuzz differential: random event frames (with deliberate
timestamp collisions to exercise the (ts, ord) tiebreak) through BOTH the
Spark mapInPandas engines and their DuckDB oracles."""

from __future__ import annotations

import datetime as dt

import duckdb
import numpy as np
import pandas as pd
import pytest
from pyspark.sql import functions as F

from neomarket_clickhouse_indexer_spark.operators.fifo import (
    avg_cost_positions,
    avg_cost_positions_sql,
    fifo_allocate,
    fifo_allocate_sql,
    fifo_realized_modes,
    fifo_realized_modes_sql,
    fifo_rollup_1d,
    fifo_rollup_1d_sql,
    fifo_unrealized_modes,
    fifo_unrealized_modes_sql,
)

from .compare import compare

T0 = dt.datetime(2024, 1, 1)
# cuts through the 20 colliding minutes of _random_events
PERIOD = ("2024-01-01 00:05:00", "2024-01-01 00:15:00")
COLS = ["key", "ts", "ord", "side", "qty", "price"]
SCHEMA = "key bigint, ts timestamp, ord bigint, side int, qty int, price double"


def _random_events(seed: int, n: int = 300, n_keys: int = 8):
    rng = np.random.RandomState(seed)
    rows = []
    for i in range(n):
        rows.append(
            (
                int(rng.randint(0, n_keys)),
                # coarse ts → many collisions; ord is the unique tiebreak
                T0 + dt.timedelta(minutes=int(rng.randint(0, 20))),
                i,
                1 if rng.rand() < 0.55 else -1,
                int(rng.randint(1, 6)),
                round(float(rng.rand() * 50 + 1), 2),
            )
        )
    return rows


@pytest.mark.parametrize("seed", [7, 42, 1337])
def test_fifo_allocate_fuzz(spark, seed):
    rows = _random_events(seed)
    df = spark.createDataFrame(rows, SCHEMA)
    con = duckdb.connect()
    import pandas as pd

    pdf = pd.DataFrame(
        rows, columns=["key", "ts", "ord", "side", "qty", "price"]
    )
    con.register("fuzz_events", pdf)
    compare(fifo_allocate(df), con, fifo_allocate_sql("fuzz_events"))
    con.close()


@pytest.mark.parametrize("seed", [7, 42, 1337])
def test_avgcost_fuzz(spark, seed):
    rows = _random_events(seed, n=200)
    df = spark.createDataFrame(rows, SCHEMA)
    con = duckdb.connect()
    import pandas as pd

    pdf = pd.DataFrame(
        rows, columns=["key", "ts", "ord", "side", "qty", "price"]
    )
    con.register("fuzz_events", pdf)
    # oracle expects qty as DOUBLE-compatible; the recursive CTE walks rows
    compare(
        avg_cost_positions(df),
        con,
        avg_cost_positions_sql("(SELECT key, ts, ord, side, CAST(qty AS DOUBLE) AS qty, price FROM fuzz_events)"),
    )
    con.close()


def _check(spark, rows, spark_fn, sql_fn):
    """``spark_fn(df)`` vs the oracle ``sql_fn(relation)`` over ``rows``."""
    con = duckdb.connect()
    con.register("fuzz_events", pd.DataFrame(rows, columns=COLS))
    compare(spark_fn(spark.createDataFrame(rows, SCHEMA)), con,
            sql_fn("fuzz_events"))
    con.close()


@pytest.mark.parametrize("seed", [7, 42, 1337])
def test_fifo_realized_modes_fuzz(spark, seed):
    _check(spark, _random_events(seed),
           lambda df: fifo_realized_modes(df, *PERIOD),
           lambda rel: fifo_realized_modes_sql(rel, *PERIOD))


@pytest.mark.parametrize("seed", [7, 42, 1337])
def test_fifo_unrealized_modes_fuzz(spark, seed):
    _check(spark, _random_events(seed),
           lambda df: fifo_unrealized_modes(df, *PERIOD),
           lambda rel: fifo_unrealized_modes_sql(rel, *PERIOD))


def _rollup(df):
    # DATE → midnight TIMESTAMP, as queries.events.fifo_daily_rollup does
    return fifo_rollup_1d(df).withColumn("day", F.col("day").cast("timestamp"))


@pytest.mark.parametrize("seed", [7, 42, 1337])
def test_fifo_rollup_1d_fuzz(spark, seed):
    _check(spark, _random_events(seed), _rollup, fifo_rollup_1d_sql)


def test_fifo_rollup_1d_fuzz_multi_day(spark):
    # stretch each colliding minute to 5 hours: the 20 slots span 4 days,
    # so one key's matched slices land on several exit days
    rows = [(k, T0 + (ts - T0) * 300, *rest)
            for k, ts, *rest in _random_events(2024)]
    assert len({r[1].date() for r in rows}) > 1
    _check(spark, rows, _rollup, fifo_rollup_1d_sql)
