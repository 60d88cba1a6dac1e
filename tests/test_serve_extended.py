"""Extended serving endpoints + generic additive streaming fold."""

from __future__ import annotations

import os

import pytest
from pyspark.sql import functions as F

from neomarket_clickhouse_indexer_spark.serve import ServeContext
from neomarket_clickhouse_indexer_spark.sources.tables import load_table
from neomarket_clickhouse_indexer_spark.streaming.incremental import (
    incremental_additive_stream,
)

from .conftest import SF_SMOKE


@pytest.fixture(scope="module")
def ctx(spark):
    return ServeContext(spark, SF_SMOKE)


def test_explain_user_invariants(ctx):
    out = ctx.explain_user(user_id=12)
    assert out["wallet"] == "0xw12"
    assert out["entries"], "wallet should have ledger entries"
    assert out["invariants"]["never_negative_inventory"] in (True, False)
    # entries are time-ordered
    times = [e["time"] for e in out["entries"]]
    assert times == sorted(times)


def test_holders_clamped_and_sorted(ctx):
    out = ctx.holders(limit=50)
    assert len(out["holders"]) <= 5
    qtys = [h["open_qty"] for h in out["holders"]]
    assert qtys == sorted(qtys, reverse=True)


def test_market_stats_fields(ctx):
    out = ctx.market_stats("purchase")
    assert out["key"] == "purchase"
    assert out["trades24h"] >= 0 and out["lastPrice"] is not None


def test_discover_sorted_by_volume(ctx):
    out = ctx.discover(limit=10)
    vols = [m["volume"] for m in out["markets"]]
    assert vols == sorted(vols, reverse=True)
    assert {"event_type", "volume", "events", "lastPrice", "uniqueUsers"} <= set(
        out["markets"][0]
    )


def test_incremental_additive_equals_batch(spark, tmp_path):
    """Streaming hourly volume state == one-shot batch aggregation — the
    SummingMergeTree MV contract (ST3) for additive aggregates."""
    ev = load_table(spark, SF_SMOKE, "events")
    src_dir = str(tmp_path / "src")
    for i in range(3):
        ev.filter(F.col("event_id") % 3 == i).write.mode(
            "append" if i else "overwrite"
        ).parquet(src_dir)

    def partials(batch):
        return batch.groupBy(
            F.date_trunc("hour", F.col("ts")).alias("hour"), "event_type"
        ).agg(
            F.sum(F.col("value").cast("decimal(30,10)")).alias("volume_dec"),
            F.count(F.lit(1)).alias("n_events"),
        ).withColumn("day", F.to_date("hour"))

    stream = (
        spark.readStream.schema(ev.schema)
        .option("maxFilesPerTrigger", 1)
        .parquet(src_dir)
    )
    state_dir = str(tmp_path / "state")
    q = incremental_additive_stream(
        stream,
        state_dir,
        str(tmp_path / "ckpt"),
        partials,
        keys=["hour", "event_type", "day"],
        sum_cols=["volume_dec", "n_events"],
        partition_col="day",
    ).trigger(availableNow=True).start()
    q.awaitTermination(300)

    got = (
        spark.read.parquet(state_dir)
        .select(
            "hour", "event_type",
            F.round(F.col("volume_dec").cast("double"), 4).alias("volume"),
            F.col("n_events").cast("long").alias("n_events"),
        )
        .orderBy("hour", "event_type")
        .toPandas()
    )
    want = (
        partials(ev)
        .select(
            "hour", "event_type",
            F.round(F.col("volume_dec").cast("double"), 4).alias("volume"),
            F.col("n_events").cast("long").alias("n_events"),
        )
        .orderBy("hour", "event_type")
        .toPandas()
    )
    assert got.equals(want)

