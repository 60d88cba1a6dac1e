"""The write path's partition overwrites are per-write, never session-wide.

Both streaming folds and ``sinks.replace_partitions`` overwrite only the
partitions they touch. That mode rides on each write as an option, so a
fold, a backfill and the session's own ``partitionOverwriteMode`` can never
change one another: a fold racing a backfill that restored ``static`` would
otherwise truncate every state partition the batch did not touch.
"""

from __future__ import annotations

import os

from pyspark.sql import functions as F

from neomarket_clickhouse_indexer_spark.sources.sinks import replace_partitions
from neomarket_clickhouse_indexer_spark.sources.tables import load_table
from neomarket_clickhouse_indexer_spark.streaming.incremental import (
    _fold_batch,
    incremental_additive_stream,
)

from .conftest import SF_SMOKE

MODE = "spark.sql.sources.partitionOverwriteMode"


def _day_partitions(path: str) -> set[str]:
    return {d for d in os.listdir(path) if "=" in d}


def test_folds_and_backfill_leave_session_mode_alone(spark, tmp_path):
    before = spark.conf.get(MODE)
    spark.conf.set(MODE, "static")  # the mode a truncating overwrite uses
    try:
        ev = load_table(spark, SF_SMOKE, "events")
        days = [r[0] for r in ev.select(F.to_date("ts")).distinct()
                .orderBy(1).limit(2).collect()]
        first, second = (ev.filter(F.to_date("ts") == d) for d in days)

        # candle fold: two epochs over disjoint days; the first day's state
        # partition must survive the second epoch's overwrite
        candles = str(tmp_path / "candles")
        for epoch, batch in enumerate((first, second)):
            _fold_batch(batch, candles, "event_type", "ts", "value",
                        "event_id", 60, epoch=epoch)
        assert len(_day_partitions(candles)) == 2
        assert spark.conf.get(MODE) == "static"

        # additive fold, driven through its foreachBatch stream
        src = str(tmp_path / "src")
        first.write.parquet(src)
        volume = str(tmp_path / "volume")
        q = incremental_additive_stream(
            spark.readStream.schema(ev.schema).parquet(src),
            volume,
            str(tmp_path / "ckpt"),
            lambda b: b.groupBy("event_type", F.to_date("ts").alias("day"))
            .agg(F.count(F.lit(1)).alias("n")),
            keys=["event_type", "day"],
            sum_cols=["n"],
            partition_col="day",
        ).trigger(availableNow=True).start()
        q.awaitTermination(300)
        assert q.exception() is None
        assert spark.read.parquet(volume).count() > 0
        assert spark.conf.get(MODE) == "static"

        # backfill sink: replacing one day keeps the other
        replace_partitions(
            spark.read.parquet(candles).filter(F.col("bucket_date") == days[1]),
            candles, ["bucket_date"],
        )
        assert len(_day_partitions(candles)) == 2
        assert spark.conf.get(MODE) == "static"
    finally:
        spark.conf.set(MODE, before)
