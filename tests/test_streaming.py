"""Streaming == batch: the incremental candle state after streaming all
events in microbatches must equal the one-shot batch aggregation (ST1-ST4;
idempotence under replay = ST2 reorg tolerance).
"""

from __future__ import annotations

import os
import shutil
import tempfile

import pytest
from pyspark.sql import functions as F

from neomarket_clickhouse_indexer_spark.operators.candles import (
    finalize,
    ohlcv,
    rebucket,
)
from neomarket_clickhouse_indexer_spark.sources.tables import load_table
from neomarket_clickhouse_indexer_spark.streaming.incremental import (
    incremental_candles_stream,
    read_candle_state,
)

from .conftest import SF_SMOKE


@pytest.fixture()
def tmpdir():
    d = tempfile.mkdtemp(prefix="stream_test_")
    yield d
    shutil.rmtree(d, ignore_errors=True)


def _final(df):
    return (
        finalize(df.drop("bucket_date"))
        .orderBy("key", "bucket")
        .toPandas()
    )


def test_streaming_candles_equal_batch(spark, tmpdir):
    ev = load_table(spark, SF_SMOKE, "events")

    # stage the events as 4 parquet chunks for the file stream source
    src_dir = os.path.join(tmpdir, "src")
    for i in range(4):
        ev.filter(F.col("event_id") % 4 == i).write.mode(
            "append" if i else "overwrite"
        ).parquet(src_dir)

    stream = (
        spark.readStream.schema(ev.schema)
        .option("maxFilesPerTrigger", 2)  # force multiple microbatches
        .parquet(src_dir)
    )
    state_dir = os.path.join(tmpdir, "state")
    q = incremental_candles_stream(
        stream, state_dir, os.path.join(tmpdir, "ckpt")
    ).trigger(availableNow=True).start()
    q.awaitTermination(300)

    got = _final(read_candle_state(spark, state_dir))
    want = _final(
        ohlcv(ev, key="event_type", ts="ts", price="value", ord_col="event_id")
    )
    assert got.equals(want), "incremental state diverges from batch aggregation"


def test_merge_is_idempotent_under_replay(spark, tmpdir):
    """Replaying the same batch (reorg / at-least-once delivery) must not
    change the merged state: min/max/min_by/max_by absorb duplicates of the
    same partials; volume/trades would double-count — which is exactly why
    the sink overwrites affected partitions instead of appending."""
    ev = load_table(spark, SF_SMOKE, "events")
    partials = ohlcv(ev, key="event_type", ts="ts", price="value", ord_col="event_id")
    # the fold merges partial states by re-bucketing at their own grain
    once = rebucket(partials, 60)
    # partition-overwrite semantics: re-folding the same delta over the
    # already-merged state replaces those buckets with identical content
    again = rebucket(once, 60)
    assert _final(once).equals(_final(again))


def test_drop_duplicates_within_watermark(spark, tmpdir):
    """Native streaming dedup (ST2/ST4): re-delivered event_ids inside the
    watermark horizon are dropped by Spark's own
    ``dropDuplicatesWithinWatermark`` state store, so the downstream count
    equals the distinct batch count — the engine-level alternative to the
    date-partition overwrite replay path (streaming/incremental.py), with
    state bounded by the watermark instead of growing forever (the property
    that matters at 100 TB/day: dedup state is O(events-per-horizon), not
    O(history)). Reference parity: ReplacingMergeTree dedup-by-id
    (clickhouse/init/001_create_tables.sql:406-425) under at-least-once
    delivery."""
    ev = load_table(spark, SF_SMOKE, "events").limit(500)

    src_dir = os.path.join(tmpdir, "dup_src")
    # deliver everything twice (at-least-once replay), split across files
    # so multiple microbatches carry the duplicates
    for i in range(2):
        ev.write.mode("append" if i else "overwrite").parquet(src_dir)

    stream = (
        spark.readStream.schema(ev.schema)
        .option("maxFilesPerTrigger", 1)
        .parquet(src_dir)
        # watermarks require TIMESTAMP (LTZ); the table ships TIMESTAMP_NTZ
        .withColumn("ts", F.col("ts").cast("timestamp"))
        .withWatermark("ts", "1 hour")
        .dropDuplicatesWithinWatermark(["event_id"])
    )
    out_dir = os.path.join(tmpdir, "dup_out")
    q = (
        stream.writeStream.format("parquet")
        .option("path", out_dir)
        .option("checkpointLocation", os.path.join(tmpdir, "dup_ckpt"))
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination(300)

    got = spark.read.parquet(out_dir)
    assert got.count() == ev.select("event_id").distinct().count()
    assert got.select("event_id").distinct().count() == got.count()
