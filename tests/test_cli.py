"""CLI job surface: each reference batch command runs end-to-end (dry-run
counts + a real partitioned write), through the job bodies in
``ledger/jobs.py``."""

from __future__ import annotations

import io
from contextlib import redirect_stdout

import pytest

from neomarket_clickhouse_indexer_spark import session
from neomarket_clickhouse_indexer_spark.cli import main
from neomarket_clickhouse_indexer_spark.domain import _domain_events
from neomarket_clickhouse_indexer_spark.ledger.build import (
    build_wallet_snapshots,
)
from neomarket_clickhouse_indexer_spark.ledger.jobs import select_top_wallets

from .conftest import SF_SMOKE, count_jobs


def _run(args):
    buf = io.StringIO()
    with redirect_stdout(buf):
        rc = main(args)
    return rc, buf.getvalue()


def test_dry_runs_print_counts(spark):
    for cmd in (
        ["--sf-dir", SF_SMOKE, "--dry-run", "build-ledger", "--wallet", "0xw7"],
        ["--sf-dir", SF_SMOKE, "--dry-run", "backfill-ledger"],
        ["--sf-dir", SF_SMOKE, "--dry-run", "snapshot-scheduler",
         "--wallet-limit", "5"],
        ["--sf-dir", SF_SMOKE, "--dry-run", "calculate-pnl",
         "--start", "2024-01-10", "--end", "2024-01-20"],
        ["--sf-dir", SF_SMOKE, "--dry-run", "build-rollup-1d"],
    ):
        rc, out = _run(cmd)
        assert rc == 0
        assert "(dry run)" in out, out


def test_build_ledger_writes_partitioned(spark, tmp_path):
    out = str(tmp_path / "ledger")
    rc, text = _run(["--sf-dir", SF_SMOKE, "--out", out,
                     "build-ledger", "--wallet", "0xw7"])
    assert rc == 0
    got = spark.read.parquet(out)
    assert got.count() > 0
    assert set(r["wallet"] for r in got.select("wallet").distinct().collect()) == {"0xw7"}
    # idempotent: a second run replaces, not duplicates
    n1 = got.count()
    _run(["--sf-dir", SF_SMOKE, "--out", out, "build-ledger", "--wallet", "0xw7"])
    assert spark.read.parquet(out).count() == n1


def test_snapshot_scheduler_ranks_with_select_top_wallets(spark, tmp_path):
    """The scheduler snapshots the wallets ``select_top_wallets`` ranks
    first (trade volume), as the job's library entry point does."""
    out = str(tmp_path / "snapshots")
    rc, text = _run(["--sf-dir", SF_SMOKE, "--out", out,
                     "snapshot-scheduler", "--wallet-limit", "5"])
    ev = _domain_events(spark, SF_SMOKE)
    top = [r["wallet"] for r in select_top_wallets(ev, 5).collect()]
    want = build_wallet_snapshots(ev.filter(ev.wallet.isin(top)))
    got = spark.read.parquet(out).select(*want.columns)
    assert sorted(got.collect()) == sorted(want.collect())
    assert rc == 0 and "5 wallets" in text, text


def test_missing_out_fails_before_spark(monkeypatch):
    def no_spark(*args, **kwargs):
        raise AssertionError("a session was started")

    monkeypatch.setattr(session, "get_spark", no_spark)
    with pytest.raises(SystemExit, match="--out is required"):
        main(["--sf-dir", SF_SMOKE, "backfill-ledger"])


def test_write_computes_the_frame_once(spark, tmp_path):
    """A real write runs the same Spark jobs as a dry run: the row count
    comes from the writing pass, not from a second build."""
    args = ["--sf-dir", SF_SMOKE, "backfill-ledger"]
    (_, dry), dry_jobs = count_jobs(spark, lambda: _run(["--dry-run", *args]))
    (_, wet), wet_jobs = count_jobs(
        spark, lambda: _run(["--out", str(tmp_path / "ledger"), *args]))
    assert dry.split(":")[1].split()[0] == wet.split(":")[1].split()[0]
    assert wet_jobs == dry_jobs
