"""Operational batch jobs over the ledger — the reference's five CLI
commands (build-ledger / backfill-ledger / snapshot-scheduler /
calculate-pnl / build-rollup-1d, SURVEY §0 program 3) as Spark jobs.
``cli.py`` parses arguments and calls one function here per command.

Each job computes its frame once, in the pass that writes it: an
idempotent partition replace (S4) under ``out_path``, or with ``out_path``
None a dry run into a noop sink. The row count is observed during that
pass.

The reference's snapshot scheduler targets the top-N wallets by 30d volume
(snapshot-scheduler.ts:124-158,175: default top 2000) with a worker pool of
2; here wallet selection is one aggregation and the build is one
distributed pass."""

from __future__ import annotations

from pyspark.sql import DataFrame, Observation
from pyspark.sql import functions as F

from ..determinism import ranked_topk
from ..sources.sinks import replace_partitions
from .build import build_wallet_ledger, build_wallet_snapshots
from .pnl import pnl_by_mode, rollup_realized_1d


def select_top_wallets(events: DataFrame, n: int = 2000) -> DataFrame:
    """Top-N wallets by traded volume (reference wallet selection from the
    leaderboard aggregate, snapshot-scheduler.ts:124-158)."""
    vol = (
        events.filter(F.col("type") == "trade")
        .groupBy("wallet")
        .agg(F.sum(F.col("usdc").cast("decimal(30,10)")).alias("volume"))
    )
    return ranked_topk(
        vol, [F.desc("volume"), F.asc("wallet")], n
    ).select("wallet")


def _write(df: DataFrame, out_path: str | None,
           partition_by: list[str]) -> int:
    """Compute ``df`` once: replace its partitions under ``out_path``, or
    with ``out_path`` None write it to a noop sink. Returns its row
    count, observed in that pass."""
    rows = Observation("rows")
    df = df.observe(rows, F.count(F.lit(1)).alias("n"))
    if out_path is None:
        df.write.format("noop").mode("overwrite").save()
    else:
        replace_partitions(df, out_path, partition_by)
    return rows.get["n"]


def rebuild_wallet_ledgers(
    events: DataFrame, out_path: str | None,
    wallets: list[str] | None = None,
) -> int:
    """build-ledger / backfill-ledger: full or scoped idempotent rebuild
    via partition replace (reference ALTER TABLE DELETE + INSERT,
    build-ledger.ts:73-109). Returns the number of entries."""
    scoped = events
    if wallets:
        scoped = events.filter(F.col("wallet").isin(wallets))
    return _write(build_wallet_ledger(scoped), out_path, ["wallet"])


def snapshot_top_wallets(
    events: DataFrame,
    out_path: str | None,
    n: int = 2000,
    interval_s: int = 86400,
) -> int:
    """One scheduler round: pick the top-N wallets, rebuild their
    snapshots, replace only their partitions (wallet-partitioned parquet).
    Returns the number of wallets rebuilt."""
    top = [r["wallet"] for r in select_top_wallets(events, n).collect()]
    scoped = events.filter(F.col("wallet").isin(top))
    _write(build_wallet_snapshots(scoped, interval_s=interval_s), out_path,
           ["wallet"])
    return len(top)


def calculate_pnl(events: DataFrame, out_path: str | None, start, end,
                  mode) -> int:
    """calculate-pnl: one row per wallet under a PnL mode
    (calculate-pnl.ts:4-10). Returns the number of wallets."""
    return _write(pnl_by_mode(events, start, end, mode), out_path, ["wallet"])


def rollup_1d(events: DataFrame, out_path: str | None) -> int:
    """build-rollup-1d: the wallet × condition × day rollup of every
    wallet's ledger, day partitions replaced (build-rollup-1d.ts:56-87).
    Returns the number of rows."""
    return _write(rollup_realized_1d(build_wallet_ledger(events)), out_path,
                  ["day"])
