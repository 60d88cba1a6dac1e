"""Dashboard answer tables: a warmed context answers the eight dashboard
endpoints by lookup, with no Spark job; a changed events source rebuilds
the tables; concurrent first requests build a table once. Also the
``/trades`` window widening against the two-query original."""

from __future__ import annotations

import shutil
import sys
import threading
from concurrent.futures import ThreadPoolExecutor

import pyarrow as pa
import pyarrow.compute as pc
import pyarrow.parquet as pq
import pytest
from pyspark.sql import functions as F

from neomarket_clickhouse_indexer_spark import domain
from neomarket_clickhouse_indexer_spark.operators.candles import ohlcv
from neomarket_clickhouse_indexer_spark.serve import ServeContext
from neomarket_clickhouse_indexer_spark.sources.tables import load_table

from .conftest import SF_SMOKE, count_jobs


@pytest.fixture(scope="module")
def warmed(spark):
    ev = load_table(spark, SF_SMOKE, "events")
    state = ohlcv(ev, key="event_type", ts="ts", price="value",
                  ord_col="event_id").localCheckpoint(eager=True)
    ctx = ServeContext(spark, SF_SMOKE, candle_state=state)
    ctx.user_stats(4)
    ctx.leaderboard(sort="volume", limit=3)
    ctx.candles("view", "5m")
    ctx.portfolio_history(4, "1d")
    ctx.market_stats("view")
    ctx.discover(limit=2)
    ctx.activity(4)
    ctx.recent_trades(4)
    return ctx


def test_warmed_dashboard_reads_start_no_spark_jobs(spark, warmed):
    # other keys and limits than the warm-up's: the tables answer any key
    calls = {
        "user_stats": lambda: warmed.user_stats(12),
        "leaderboard": lambda: warmed.leaderboard(sort="volume"),
        "candles": lambda: warmed.candles("purchase", "5m", limit=10),
        "portfolio_history": lambda: warmed.portfolio_history(12, "1d"),
        "market_stats": lambda: warmed.market_stats("purchase"),
        "discover": lambda: warmed.discover(limit=20),
        "activity": lambda: warmed.activity(12, limit=5, offset=3),
        "recent_trades": lambda: warmed.recent_trades(14),
    }
    for name, call in calls.items():
        out, jobs = count_jobs(spark, call)
        assert out, name
        assert jobs == 0, f"{name} started {jobs} Spark jobs"


def test_answers_are_fresh_copies(warmed):
    first = warmed.candles("purchase", "5m", limit=3)["candles"]
    first[0]["open"] = -1.0
    warmed.user_stats(12)["n_events"] = -1
    assert warmed.candles("purchase", "5m", limit=3)["candles"][0]["open"] != -1.0
    assert warmed.user_stats(12)["n_events"] != -1


def _append_events(path: str, user_id: int, n: int) -> None:
    """Rewrite the events file with ``n`` more purchases by ``user_id``."""
    t = pq.read_table(path)
    extra = t.slice(0, n)
    first_id = pc.max(t["event_id"]).as_py() + 1
    extra = extra.set_column(
        extra.schema.get_field_index("event_id"), "event_id",
        pa.array(range(first_id, first_id + n), type=t.schema.field("event_id").type))
    extra = extra.set_column(
        extra.schema.get_field_index("user_id"), "user_id",
        pa.array([user_id] * n, type=t.schema.field("user_id").type))
    extra = extra.set_column(
        extra.schema.get_field_index("event_type"), "event_type",
        pa.array(["purchase"] * n, type=t.schema.field("event_type").type))
    pq.write_table(pa.concat_tables([t, extra]), path)


def test_appended_events_rebuild_the_tables(spark, tmp_path):
    shutil.copy(f"{SF_SMOKE}/events.parquet", tmp_path / "events.parquet")
    sf = str(tmp_path)
    ctx = ServeContext(spark, sf)
    before = ctx.user_stats(12), ctx.discover(), ctx.portfolio_history(12)
    _append_events(str(tmp_path / "events.parquet"), user_id=12, n=7)
    after = ctx.user_stats(12), ctx.discover(), ctx.portfolio_history(12)
    fresh = ServeContext(spark, sf)
    assert after == (fresh.user_stats(12), fresh.discover(),
                     fresh.portfolio_history(12))
    assert after[0]["n_events"] == before[0]["n_events"] + 7
    assert after[1] != before[1]


def test_concurrent_first_calls_build_the_table_once(spark, monkeypatch):
    builds = []
    real = domain.user_stats

    def counted(*args, **kwargs):
        builds.append(threading.get_ident())
        return real(*args, **kwargs)

    monkeypatch.setattr(domain, "user_stats", counted)
    ctx = ServeContext(spark, SF_SMOKE)
    start = threading.Barrier(8)

    def first_call(_):
        start.wait(timeout=60)
        return ctx.user_stats(12)

    switch = sys.getswitchinterval()
    sys.setswitchinterval(1e-5)  # more interleavings in the check-then-build
    try:
        with ThreadPoolExecutor(8) as pool:
            outs = list(pool.map(first_call, range(8), timeout=300))
    finally:
        sys.setswitchinterval(switch)
    assert len(builds) == 1
    assert outs[0]["user_id"] == 12
    assert all(o == outs[0] for o in outs)


def _two_query_trades(spark, user_id: int, now: str, min_rows: int,
                      sf_dir: str = SF_SMOKE) -> dict:
    """``/trades`` as two windowed queries: 30 days, then 365 if short."""
    ev = load_table(spark, sf_dir, "events").filter(
        (F.col("user_id") == user_id) & (F.col("event_type") == "purchase"))
    t = F.lit(now).cast("timestamp")

    def window_rows(days: int) -> list[dict]:
        df = (ev.filter(F.col("ts") >= t - F.expr(f"INTERVAL {days} DAYS"))
              .orderBy(F.desc("ts"), F.desc("event_id"))
              .select("event_id", F.unix_timestamp("ts").alias("time"), "value")
              .limit(200))
        return [r.asDict() for r in df.collect()]

    rows = window_rows(30)
    if len(rows) >= min_rows:
        return {"userId": user_id, "trades": rows, "windowWidened": False}
    return {"userId": user_id, "trades": window_rows(365), "windowWidened": True}


@pytest.mark.parametrize("user_id,now,min_rows,widened", [
    (14, "2024-02-10", 5, False),   # enough purchases in the last 30 days
    (14, "2024-02-25", 10, True),   # the 30-day window is short: widen
    (12, domain.FIXED_NOW, 10, False),
    (12, domain.FIXED_NOW, 201, True),  # more than the 200-row clamp
])
def test_recent_trades_one_job_equals_two_queries(spark, user_id, now,
                                                  min_rows, widened):
    ctx = ServeContext(spark, SF_SMOKE)
    ctx.recent_trades(user_id)  # builds user_events and the default cut-offs
    got, jobs = count_jobs(
        spark, lambda: ctx.recent_trades(user_id, now=now, min_rows=min_rows))
    assert got == _two_query_trades(spark, user_id, now, min_rows)
    assert got["windowWidened"] is widened and got["trades"]
    # a now seen for the first time resolves its cut-offs
    assert jobs == 0 if now == domain.FIXED_NOW else jobs <= 1
