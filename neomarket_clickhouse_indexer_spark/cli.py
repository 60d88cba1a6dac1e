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

Every command supports --dry-run: compute and print counts, write nothing
(reference build-ledger.ts:51,58-61). The job bodies live in
``ledger/jobs.py``; this module parses arguments, calls one job and prints
its count.
"""

from __future__ import annotations

import argparse

from .domain import _domain_events


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
    if args.out is None and not args.dry_run:
        raise SystemExit("--out is required unless --dry-run")

    from .ledger import jobs
    from .session import get_spark

    ev = _domain_events(get_spark(f"cli-{args.cmd}"), args.sf_dir)
    out = None if args.dry_run else args.out
    if args.cmd == "build-ledger":
        n = jobs.rebuild_wallet_ledgers(ev, out, wallets=[args.wallet])
        done = f"build-ledger {args.wallet}: {n} entries"
    elif args.cmd == "backfill-ledger":
        done = f"backfill-ledger: {jobs.rebuild_wallet_ledgers(ev, out)} entries"
    elif args.cmd == "snapshot-scheduler":
        n = jobs.snapshot_top_wallets(ev, out, n=args.wallet_limit,
                                      interval_s=args.interval_s)
        done = f"snapshot-scheduler: {n} wallets"
    elif args.cmd == "calculate-pnl":
        n = jobs.calculate_pnl(ev, out, args.start, args.end, args.mode)
        done = f"calculate-pnl [{args.mode}]: {n} wallets"
    else:
        done = f"build-rollup-1d: {jobs.rollup_1d(ev, out)} rows"
    print(done + (" (dry run)" if args.dry_run else ""))
    return 0


if __name__ == "__main__":
    raise SystemExit(main())
