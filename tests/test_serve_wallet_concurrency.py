"""The per-user endpoints under concurrent requests on one shared
``ServeContext``: each thread asks ``/ledger``, ``/snapshots``,
``/positions``, ``/leaderboard/explain`` and ``/pnl`` for its own wallet,
or ``/activity`` and ``/trades`` for its own user, and every answer must
equal the serial answer."""

from __future__ import annotations

import threading
from concurrent.futures import ThreadPoolExecutor

from neomarket_clickhouse_indexer_spark.serve import ServeContext

from .conftest import SF_SMOKE

USERS = (9, 10, 11, 13)


def _wallet_answers(ctx: ServeContext, user_id: int) -> tuple:
    return (ctx.ledger(user_id), ctx.snapshots(user_id, interval_s=3600),
            ctx.positions(user_id), ctx.explain_user(user_id),
            ctx.pnl(user_id))


def _raw_answers(ctx: ServeContext, user_id: int) -> tuple:
    return (ctx.activity(user_id, limit=20),
            ctx.activity(user_id, limit=20, offset=5),
            ctx.recent_trades(user_id))


def _concurrent_equals_serial(ctx: ServeContext, answers) -> dict:
    serial = {u: answers(ctx, u) for u in USERS}
    start = threading.Barrier(len(USERS))

    def run(user_id: int) -> tuple:
        start.wait()
        return answers(ctx, user_id)

    with ThreadPoolExecutor(len(USERS)) as pool:
        concurrent = dict(zip(USERS, pool.map(run, USERS)))
    for u in USERS:
        assert concurrent[u] == serial[u], u
    return serial


def test_wallet_endpoints_concurrent_equal_serial(spark):
    serial = _concurrent_equals_serial(ServeContext(spark, SF_SMOKE),
                                       _wallet_answers)
    assert all(s[0]["ledger"] and s[1]["snapshots"] and s[3]["entries"]
               for s in serial.values())


def test_activity_and_trades_concurrent_equal_serial(spark):
    serial = _concurrent_equals_serial(ServeContext(spark, SF_SMOKE),
                                       _raw_answers)
    assert all(s[0]["events"] and s[2]["trades"] for s in serial.values())
