"""``/activity`` and ``/trades`` served from the ``user_events`` answer
table, against the per-request Spark pipelines they replaced.

The table maps each user to their raw events in ``(ts desc, event_id
desc)`` order; ``activity`` slices it and ``recent_trades`` walks it. Both
must equal the per-request pipelines on the fixture and on a copy whose
``ts`` is int64 nanoseconds (read as a zoned TIMESTAMP) served under a
non-UTC local zone. An appended events source rebuilds the table, racing
first requests build it once, and callers get fresh rows.
"""

from __future__ import annotations

import shutil
import sys
import threading
from concurrent.futures import ThreadPoolExecutor

import pytest
from pyspark.sql import functions as F

from neomarket_clickhouse_indexer_spark import domain
from neomarket_clickhouse_indexer_spark.serve import ServeContext
from neomarket_clickhouse_indexer_spark.sources import tables
from neomarket_clickhouse_indexer_spark.sources.tables import load_table

from .conftest import SF_SMOKE
from .test_serve_answer_tables import _append_events, _two_query_trades
from .test_serve_wallet_differential import _local_zone, ns_copy  # noqa: F401

USERS = (12, 14, 10**9)
OFFSETS = (0, 5, 37, 10**6)  # user 12 has 73 events, user 14 has 88
LIMITS = (1, 50, 200, 10**9)
TRADE_CASES = [
    (14, "2024-02-10", 5), (14, "2024-02-25", 10),
    (12, domain.FIXED_NOW, 10), (12, domain.FIXED_NOW, 201),
    (14, "2024-02-10", 0), (14, "2024-02-25", 0), (12, domain.FIXED_NOW, 0),
]


def _per_request_activity(spark, sf_dir: str, user_id: int, limit: int,
                          offset: int) -> dict:
    """``/activity`` as one Spark pipeline per request."""
    limit = max(1, min(limit, 200))
    ev = (
        load_table(spark, sf_dir, "events")
        .filter(F.col("user_id") == user_id)
        .orderBy(F.desc("ts"), F.desc("event_id"))
        .select("event_id", F.unix_timestamp("ts").alias("time"),
                "event_type", "value")
    )
    page = ev.offset(offset) if offset else ev
    return {"userId": user_id,
            "events": [r.asDict() for r in page.limit(limit).collect()]}


@pytest.fixture(scope="module")
def contexts(spark, ns_copy):  # noqa: F811
    return {"fixture": ServeContext(spark, SF_SMOKE),
            "ns_new_york": ServeContext(spark, ns_copy)}


@pytest.fixture(params=["fixture", "ns_new_york"])
def ctx(request, contexts):
    """A served context: the fixture as is, or its int64-ns copy read
    while the Python process's local zone is New York."""
    if request.param == "fixture":
        yield contexts["fixture"]
        return
    with _local_zone("America/New_York"):
        yield contexts["ns_new_york"]


def test_ns_copy_reads_a_zoned_timestamp(contexts):
    ev = load_table(contexts["ns_new_york"].spark,
                    contexts["ns_new_york"].sf_dir, "events")
    assert ev.schema["ts"].dataType.simpleString() == "timestamp"


@pytest.mark.parametrize("user_id", USERS)
def test_activity_equals_per_request_pipeline(spark, ctx, user_id):
    for offset in OFFSETS:
        for limit in LIMITS:
            want = _per_request_activity(spark, ctx.sf_dir, user_id, limit,
                                         offset)
            assert ctx.activity(user_id, limit=limit, offset=offset) == want, \
                (offset, limit)
    if user_id != 10**9:
        assert len(ctx.activity(user_id, limit=200)["events"]) > 37
    # the ns copy holds the fixture's instants
    assert ctx.activity(user_id) == _per_request_activity(
        spark, SF_SMOKE, user_id, 200, 0)


@pytest.mark.parametrize("user_id,now,min_rows", TRADE_CASES)
def test_recent_trades_equal_two_queries(spark, ctx, user_id, now, min_rows):
    got = ctx.recent_trades(user_id, now=now, min_rows=min_rows)
    assert got == _two_query_trades(spark, user_id, now, min_rows,
                                    sf_dir=ctx.sf_dir)
    assert got == _two_query_trades(spark, user_id, now, min_rows)


def test_appended_events_rebuild_user_events(spark, tmp_path):
    shutil.copy(f"{SF_SMOKE}/events.parquet", tmp_path / "events.parquet")
    sf = str(tmp_path)
    ctx = ServeContext(spark, sf)
    before = ctx.activity(12), ctx.recent_trades(12)
    _append_events(str(tmp_path / "events.parquet"), user_id=12, n=7)
    after = ctx.activity(12), ctx.recent_trades(12)
    fresh = ServeContext(spark, sf)
    assert after == (fresh.activity(12), fresh.recent_trades(12))
    assert len(after[0]["events"]) == len(before[0]["events"]) + 7


def test_concurrent_first_activity_calls_build_the_table_once(spark,
                                                             monkeypatch):
    loads = []
    real = tables.load_table

    def counted(*args, **kwargs):
        loads.append(threading.get_ident())
        return real(*args, **kwargs)

    monkeypatch.setattr(tables, "load_table", counted)
    ctx = ServeContext(spark, SF_SMOKE)
    start = threading.Barrier(8)

    def first_call(_):
        start.wait(timeout=60)
        return ctx.activity(12)

    switch = sys.getswitchinterval()
    sys.setswitchinterval(1e-5)  # more interleavings in the check-then-build
    try:
        with ThreadPoolExecutor(8) as pool:
            outs = list(pool.map(first_call, range(8), timeout=300))
    finally:
        sys.setswitchinterval(switch)
    assert len(loads) == 1
    assert outs[0]["events"]
    assert all(o == outs[0] for o in outs)


def test_returned_rows_are_fresh_copies(contexts):
    ctx = contexts["fixture"]
    events = ctx.activity(12, limit=3)["events"]
    events[0]["value"] = -1.0
    events.clear()
    trades = ctx.recent_trades(12)["trades"]
    trades[0]["value"] = -1.0
    trades.clear()
    assert ctx.activity(12, limit=3)["events"][0]["value"] != -1.0
    assert ctx.recent_trades(12)["trades"][0]["value"] != -1.0
