"""The per-wallet endpoints under concurrent requests on one shared
``ServeContext``: each thread asks ``/ledger``, ``/positions`` and ``/pnl``
for its own wallet, and every answer must equal the serial answer."""

from __future__ import annotations

import threading
from concurrent.futures import ThreadPoolExecutor

from neomarket_clickhouse_indexer_spark.serve import ServeContext

from .conftest import SF_SMOKE

USERS = (9, 10, 11, 13)


def _answers(ctx: ServeContext, user_id: int) -> tuple:
    ledger = ctx.ledger(user_id)
    # ledger rows that share an order key (the legs of one split) have no
    # defined order, so the rows are compared as a sorted list
    ledger["ledger"].sort(key=lambda r: repr(sorted(r.items())))
    return ledger, ctx.positions(user_id), ctx.pnl(user_id)


def test_wallet_endpoints_concurrent_equal_serial(spark):
    ctx = ServeContext(spark, SF_SMOKE)
    serial = {u: _answers(ctx, u) for u in USERS}
    assert all(s[0]["ledger"] for s in serial.values())

    start = threading.Barrier(len(USERS))

    def run(user_id: int) -> tuple:
        start.wait()
        return _answers(ctx, user_id)

    with ThreadPoolExecutor(len(USERS)) as pool:
        concurrent = dict(zip(USERS, pool.map(run, USERS)))
    for u in USERS:
        assert concurrent[u] == serial[u], u
