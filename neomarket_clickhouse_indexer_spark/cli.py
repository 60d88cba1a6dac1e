"""CLI job surface — the reference's five batch commands as one argparse
entry point, so a reference operator can run every job they run today:

    python -m neomarket_clickhouse_indexer_spark.cli build-ledger \\
        --sf-dir /root/testdata/sf0.01 --out /tmp/wallet_ledger [--wallet 0xw7]
    python -m neomarket_clickhouse_indexer_spark.cli backfill-ledger ...
    python -m neomarket_clickhouse_indexer_spark.cli snapshot-scheduler \\
        --wallet-limit 2000 --interval-s 86400 ...
    python -m neomarket_clickhouse_indexer_spark.cli calculate-pnl \\
        --start 2024-01-10 --end 2024-01-20 --mode with_history ...
    python -m neomarket_clickhouse_indexer_spark.cli build-rollup-1d ...

Reference CLIs: build-ledger.ts:32-61 (single wallet + --dry-run),
backfill-ledger.ts:60-87 (N wallets, concurrency 2), snapshot-scheduler.ts
:160-196 (--wallet-limit 2000), calculate-pnl.ts:4-10 (modes),
build-rollup-1d.ts:56-87 (idempotent day rollup). Wallet-parallelism that
the reference gets from a worker pool comes free from partitioning here —
backfill-ledger and build-ledger are the same distributed job with a
different wallet filter.

Every command supports --dry-run: compute and print row counts, write
nothing (reference build-ledger.ts:51,58-61).
"""

from __future__ import annotations

import argparse

from pyspark.sql import functions as F

from .domain import _domain_events


def _write_or_count(df, out: str | None, partition_by: list[str],
                    dry_run: bool) -> int:
    n = df.count()
    if not dry_run:
        if out is None:
            raise SystemExit("--out is required unless --dry-run")
        from .sources.sinks import replace_partitions

        replace_partitions(df, out, partition_by)
    return n


def main(argv: list[str] | None = None) -> int:
    p = argparse.ArgumentParser(prog="neomarket_clickhouse_indexer_spark")
    p.add_argument("--sf-dir", default="/root/testdata/sf0.01")
    p.add_argument("--out", default=None)
    p.add_argument("--dry-run", action="store_true")
    sub = p.add_subparsers(dest="cmd", required=True)

    bl = sub.add_parser("build-ledger", help="rebuild one wallet's ledger")
    bl.add_argument("--wallet", required=True)
    sub.add_parser("backfill-ledger", help="rebuild every wallet's ledger")
    ss = sub.add_parser("snapshot-scheduler", help="snapshot top-N wallets")
    ss.add_argument("--wallet-limit", type=int, default=2000)
    ss.add_argument("--interval-s", type=int, default=86400)
    cp = sub.add_parser("calculate-pnl", help="PnL by mode (1-4)")
    cp.add_argument("--start", required=True)
    cp.add_argument("--end", required=True)
    cp.add_argument("--mode", default="total",
                    choices=["period_only", "with_history",
                             "period_plus_unrealized", "total"])
    sub.add_parser("build-rollup-1d", help="wallet x condition x day rollup")

    args = p.parse_args(argv)

    from .session import get_spark

    spark = get_spark(f"cli-{args.cmd}")
    ev = _domain_events(spark, args.sf_dir)

    if args.cmd == "build-ledger":
        from .ledger.build import build_wallet_ledger

        entries = build_wallet_ledger(ev.filter(F.col("wallet") == args.wallet))
        n = _write_or_count(entries, args.out, ["wallet"], args.dry_run)
        print(f"build-ledger {args.wallet}: {n} entries"
              f"{' (dry run)' if args.dry_run else ''}")
    elif args.cmd == "backfill-ledger":
        from .ledger.build import build_wallet_ledger

        n = _write_or_count(build_wallet_ledger(ev), args.out, ["wallet"],
                            args.dry_run)
        print(f"backfill-ledger: {n} entries"
              f"{' (dry run)' if args.dry_run else ''}")
    elif args.cmd == "snapshot-scheduler":
        from .determinism import ranked_topk
        from .ledger.build import build_wallet_snapshots

        vol = ev.groupBy("wallet").agg(
            F.sum(F.abs(F.col("usdc")).cast("decimal(30,10)")).alias("v")
        )
        top = ranked_topk(
            vol, [F.desc("v"), F.asc("wallet")], args.wallet_limit
        ).select("wallet")
        snaps = build_wallet_snapshots(
            ev.join(F.broadcast(top), "wallet"), interval_s=args.interval_s
        )
        n = _write_or_count(snaps, args.out, ["wallet"], args.dry_run)
        print(f"snapshot-scheduler: {n} snapshots"
              f"{' (dry run)' if args.dry_run else ''}")
    elif args.cmd == "calculate-pnl":
        from .ledger.pnl import pnl_by_mode

        out_df = pnl_by_mode(ev, args.start, args.end, args.mode)
        n = _write_or_count(out_df, args.out, ["wallet"], args.dry_run)
        print(f"calculate-pnl [{args.mode}]: {n} wallets"
              f"{' (dry run)' if args.dry_run else ''}")
    elif args.cmd == "build-rollup-1d":
        from .ledger.build import build_wallet_ledger
        from .ledger.pnl import rollup_realized_1d

        roll = rollup_realized_1d(build_wallet_ledger(ev))
        n = _write_or_count(roll, args.out, ["day"], args.dry_run)
        print(f"build-rollup-1d: {n} rows"
              f"{' (dry run)' if args.dry_run else ''}")
    return 0


if __name__ == "__main__":
    raise SystemExit(main())
