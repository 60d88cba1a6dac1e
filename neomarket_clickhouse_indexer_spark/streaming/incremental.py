"""Structured Streaming incremental aggregation — the reference's
materialized-view layer re-expressed as microbatch partial-state merges.

Reference: 8 ClickHouse MVs fire per insert and maintain balances, 1m
candles, last price, hourly volume, buy aggregates and leaderboard stats
(SURVEY §1.1; clickhouse/init/001:389-430,559-622, 002:17-68). ClickHouse
gets incremental maintenance "for free" because AggregatingMergeTree stores
partial aggregate states that merge associatively at read/compact time.

Spark mapping: the candle partial state (open/close carrying their order
keys, min/max, exact-decimal volume, count) composes associatively —
``rebucket(old ∪ delta)`` at the state's own grain is exactly
ClickHouse's -State/-Merge contract. A ``foreachBatch`` sink folds each
microbatch into a parquet state table:

  microbatch → ohlcv() partials → union with affected state partitions →
  merge → dynamic partition overwrite (only the dates the batch touched).

Scale notes: state is hive-partitioned by bucket date, so a microbatch
rewrites only the partitions it touches (reorg-friendly: a late/replayed
block simply re-merges into its day — same idempotence ReplacingMergeTree
gives the reference, ST2). The streaming checkpoint directory provides
exactly-once bookkeeping (ST4; the reference's ``indexer_status`` row).
"""

from __future__ import annotations

import os

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from ..operators.candles import ohlcv, rebucket


def _fold(delta: DataFrame, state_dir: str, partition_col: str, merge,
          epoch: int | None = None) -> None:
    """Fold one microbatch's partial state into the parquet state table:
    union ``delta`` with the state partitions it touches, re-aggregate with
    ``merge(states)`` and overwrite only those partitions. The overwrite
    mode is a per-write option, never session conf, so concurrent folds and
    backfills cannot flip each other into a static (truncating) overwrite.

    foreachBatch side effects are at-least-once: after a failure the same
    epoch re-runs, and re-merging its delta would double-count volume. An
    epoch marker makes the fold idempotent (the reference leans on
    ReplacingMergeTree dedup for the same failure mode, ST2/ST4)."""
    marker = None
    if epoch is not None:
        marker = os.path.join(state_dir, f"_folded_epoch_{epoch}")
        if os.path.exists(marker):
            return
    delta = delta.localCheckpoint()  # cut lineage; delta is small
    touched = [r[partition_col] for r in
               delta.select(partition_col).distinct().collect()]
    if not touched:
        return
    states = delta
    if os.path.exists(state_dir):
        states = delta.sparkSession.read.parquet(state_dir).filter(
            F.col(partition_col).isin(touched)
        ).unionByName(delta)
    (
        merge(states)
        .repartition(partition_col)
        .write.mode("overwrite")
        .option("partitionOverwriteMode", "dynamic")
        .partitionBy(partition_col)
        .parquet(state_dir)
    )
    if marker is not None:
        open(marker, "w").close()


def _fold_batch(
    batch: DataFrame,
    state_dir: str,
    key: str,
    ts: str,
    price: str,
    ord_col: str,
    bucket_seconds: int,
    epoch: int | None = None,
) -> None:
    delta = ohlcv(batch, key=key, ts=ts, price=price, ord_col=ord_col,
                  bucket_seconds=bucket_seconds).withColumn(
        "bucket_date", F.to_date("bucket")
    )
    # a bucket that is already aligned re-buckets to itself, so merging
    # partial states is a rebucket at the same grain
    _fold(delta, state_dir, "bucket_date",
          lambda states: rebucket(states, bucket_seconds).withColumn(
              "bucket_date", F.to_date("bucket")),
          epoch)


def incremental_candles_stream(
    events_stream: DataFrame,
    state_dir: str,
    checkpoint_dir: str,
    key: str = "event_type",
    ts: str = "ts",
    price: str = "value",
    ord_col: str = "event_id",
    bucket_seconds: int = 60,
):
    """Attach the incremental candle sink to a streaming DataFrame.
    Returns the StreamingQuery (caller triggers/awaits)."""
    return (
        events_stream.writeStream.outputMode("update")
        .option("checkpointLocation", checkpoint_dir)
        .foreachBatch(
            lambda batch, epoch: _fold_batch(
                batch, state_dir, key, ts, price, ord_col, bucket_seconds,
                epoch=epoch,
            )
        )
    )


def read_candle_state(spark: SparkSession, state_dir: str) -> DataFrame:
    return spark.read.parquet(state_dir)


# --- generic additive incremental aggregation (SummingMergeTree analog:
#     user_balances, token_volume_1h, wallet_token_buys — reference
#     001:382-398,571-598). Counts and decimal sums merge by addition, so
#     the fold is: microbatch partials ∪ affected state → re-sum → dynamic
#     partition overwrite.


def merge_additive_states(states: DataFrame, keys: list[str],
                          sum_cols: list[str]) -> DataFrame:
    return states.groupBy(*keys).agg(
        *[F.sum(c).alias(c) for c in sum_cols]
    )


def incremental_additive_stream(
    events_stream: DataFrame,
    state_dir: str,
    checkpoint_dir: str,
    partial_fn,
    keys: list[str],
    sum_cols: list[str],
    partition_col: str,
):
    """foreachBatch additive folding. ``partial_fn(batch)`` computes the
    microbatch's partial aggregate at the state grain (must include
    ``partition_col``); partials merge additively into the state table,
    rewriting only touched partitions. Epoch markers make replay
    idempotent (same mechanics as the candle sink)."""

    def fold(batch: DataFrame, epoch: int) -> None:
        _fold(partial_fn(batch), state_dir, partition_col,
              lambda states: merge_additive_states(states, keys, sum_cols),
              epoch)

    return (
        events_stream.writeStream.outputMode("update")
        .option("checkpointLocation", checkpoint_dir)
        .foreachBatch(fold)
    )
