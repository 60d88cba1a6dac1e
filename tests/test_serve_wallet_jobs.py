"""The per-wallet endpoints' Spark work: on a warm context each of
``/ledger``, ``/snapshots``, ``/positions``, ``/leaderboard/explain`` and
``/pnl`` runs exactly one Spark job, and the wallet's scan carries the
``user_id`` predicate down to parquet, so only that wallet's rows are read
and JSON-parsed."""

from __future__ import annotations

import pytest

from neomarket_clickhouse_indexer_spark.plans import explain_str
from neomarket_clickhouse_indexer_spark.serve import ServeContext

from .conftest import SF_SMOKE, count_jobs

USER = 12


@pytest.fixture(scope="module")
def warmed(spark):
    ctx = ServeContext(spark, SF_SMOKE)
    # first calls resolve the events table and start the Python workers
    ctx.ledger(USER)
    ctx.pnl(USER)
    return ctx


@pytest.mark.parametrize("name,call", [
    ("ledger", lambda c: c.ledger(USER)),
    ("snapshots", lambda c: c.snapshots(USER, interval_s=86400)),
    ("positions", lambda c: c.positions(USER)),
    ("explain_user", lambda c: c.explain_user(USER)),
    ("pnl", lambda c: c.pnl(USER, mode="total")),
])
def test_wallet_endpoint_runs_one_job(spark, warmed, name, call):
    out, jobs = count_jobs(spark, lambda: call(warmed))
    assert out, name
    assert jobs == 1, f"{name} started {jobs} Spark jobs"


def test_wallet_scan_pushes_user_id(warmed):
    plan = explain_str(warmed._wallet_events(USER))
    pushed = [line for line in plan.splitlines() if "PushedFilters" in line]
    assert pushed and any(f"EqualTo(user_id,{USER})" in line
                          for line in pushed), pushed
