"""Served answers vs the registry's independent DuckDB oracles.

The endpoints below share their backing aggregations with registry gates,
so each served envelope must equal the gate's oracle SQL row for row:

- ``/leaderboard?category=cat1`` vs ``CATEGORY_LEADERBOARD_SQL``
- ``/leaderboard?sort=pnl`` and ``/market/holders`` vs ``FIFO_USER_PNL_SQL``
- ``/pnl/:wallet`` (mode 4 over the gate's period) vs
  ``FIFO_PNL_MODES_UNREALIZED_SQL``
- ``/discover/markets`` vs ``MARKET_OVERVIEW_SQL``
- ``/market/stats`` vs inline DuckDB SQL over the events from 24h before
  ``domain.FIXED_NOW`` on
- ``/snapshots/:wallet`` and ``/positions/:wallet`` vs an in-process
  ``LedgerEngine`` replay of the wallet's raw rows, mapped to domain events
  here in Python, independently of the Spark mapping in ``domain.py``

Values must match exactly (both sides ROUND(4) exact-decimal sums), as the
registry's differential gates demand.
"""

from __future__ import annotations

import json
from decimal import ROUND_HALF_UP, Decimal

import duckdb
import pandas as pd
import pytest

from neomarket_clickhouse_indexer_spark.determinism import EVENTS_SQL
from neomarket_clickhouse_indexer_spark.domain import FIXED_NOW
from neomarket_clickhouse_indexer_spark.ledger.engine import LedgerEngine
from neomarket_clickhouse_indexer_spark.queries.events import (
    CATEGORY_LEADERBOARD_SQL,
    FIFO_PNL_MODES_UNREALIZED_SQL,
    FIFO_USER_PNL_SQL,
    MARKET_OVERVIEW_SQL,
    PNL_PERIOD_END,
    PNL_PERIOD_START,
)
from neomarket_clickhouse_indexer_spark.serve import ServeContext

from .compare import _eq
from .conftest import SF_SMOKE, register_duck_views


@pytest.fixture(scope="module")
def ctx(spark):
    return ServeContext(spark, SF_SMOKE)


@pytest.fixture(scope="module")
def con():
    c = duckdb.connect()
    register_duck_views(c, SF_SMOKE)
    yield c
    c.close()


def _oracle(con, sql: str, order: list[str], limit: int | None = None,
            where: str = "") -> list[dict]:
    q = f"SELECT * FROM ({sql}) o {where} ORDER BY {', '.join(order)}"
    if limit is not None:
        q += f" LIMIT {limit}"
    df = con.execute(q).df()
    return [
        {c: (v.item() if hasattr(v, "item") else v) for c, v in row.items()}
        for row in df.to_dict("records")
    ]


def _assert_rows_equal(got: list[dict], want: list[dict]) -> None:
    assert len(got) == len(want), f"rows: served={len(got)} oracle={len(want)}"
    for i, (g, w) in enumerate(zip(got, want)):
        assert set(g) == set(w), (i, sorted(g), sorted(w))
        bad = {c: (g[c], w[c]) for c in w if not _eq(g[c], w[c], 0.0)}
        assert not bad, f"row {i}: (served, oracle) = {bad}"


def test_category_leaderboard_matches_oracle(ctx, con):
    out = ctx.leaderboard(category="cat1")
    want = _oracle(con, CATEGORY_LEADERBOARD_SQL, ["rank"])
    assert want, "fixture should have cat1 traders"
    _assert_rows_equal(out["entries"], want)


def test_pnl_leaderboard_matches_oracle(ctx, con):
    out = ctx.leaderboard(sort="pnl")
    want = _oracle(con, FIFO_USER_PNL_SQL, ["realized_pnl DESC", "key"], 100)
    for rank, row in enumerate(want, 1):
        row["rank"] = rank
    _assert_rows_equal(out["entries"], want)


def test_holders_match_oracle(ctx, con):
    out = ctx.holders()
    want = _oracle(con, FIFO_USER_PNL_SQL, ["open_qty DESC", "key"], 5,
                   where="WHERE open_qty > 0")
    want = [{"user_id": r["key"], "open_qty": r["open_qty"],
             "open_cost": r["open_cost"]} for r in want]
    _assert_rows_equal(out["holders"], want)


def test_total_pnl_matches_oracle(ctx, con):
    # the three wallets with the most open inventory: every mode-4 field
    # (realized, unrealized mark, open qty) is non-trivial for them
    rows = _oracle(con, FIFO_PNL_MODES_UNREALIZED_SQL,
                   ["open_qty DESC", "key"], 3)
    assert rows and rows[0]["open_qty"] > 0
    for r in rows:
        got = ctx.pnl(r["key"], mode="total", start=PNL_PERIOD_START,
                      end=PNL_PERIOD_END)
        want = {
            "userId": r["key"],
            "mode": "total",
            "realizedPnl": r["realized_with_history"],
            "unrealizedPnl": r["unrealized_all"],
            "totalPnl": r["pnl_total"],
            "openQty": r["open_qty"],
        }
        _assert_rows_equal([got], [want])


def test_discover_matches_oracle(ctx, con):
    out = ctx.discover(limit=100)
    want = _oracle(con, MARKET_OVERVIEW_SQL, ["volume DESC", "event_type"], 100)
    assert want, "fixture should have markets"
    want = [{"event_type": r["event_type"], "volume": r["volume"],
             "events": r["n_events"], "lastPrice": r["last_value"],
             "uniqueUsers": r["n_users"]} for r in want]
    _assert_rows_equal(out["markets"], want)


# the served window has a lower bound only, like the reference's
# ``ts >= now() - INTERVAL 24 HOUR``; the fixture runs past FIXED_NOW
MARKET_STATS_SQL = f"""
SELECT event_type AS key,
       COUNT(*) FILTER (WHERE day) AS trades24h,
       COALESCE(CAST(ROUND(SUM(CAST(value AS DECIMAL(30,10)))
                FILTER (WHERE day), 4) AS DOUBLE), 0.0) AS volume24h,
       COUNT(DISTINCT user_id) FILTER (WHERE day) AS uniqueUsers24h,
       arg_max(value, event_id) AS lastPrice
FROM (SELECT *, ts >= TIMESTAMP '{FIXED_NOW}' - INTERVAL 24 HOURS AS day
      FROM {EVENTS_SQL} e) w
GROUP BY event_type
"""


def test_market_stats_match_oracle(ctx, con):
    want = _oracle(con, MARKET_STATS_SQL, ["key"])
    assert want and any(r["trades24h"] for r in want)
    want.append({"key": "no-such-market", "trades24h": 0, "volume24h": 0.0,
                 "uniqueUsers24h": 0, "lastPrice": None})
    _assert_rows_equal([ctx.market_stats(r["key"]) for r in want], want)


# --- per-wallet endpoints vs an in-process replay ---------------------

# every one of these wallets has splits (signup rows) and transfers (view
# rows) in the fixture, which _replay asserts; all but user 0 end with an
# open position (user 13 with a fractional one)
WALLET_USERS = (0, 9, 10, 11, 13)


def _replay_input(con, user_id: int) -> list[dict]:
    """One user's raw rows -> the ledger engine's domain events (purchase /
    click -> trade, signup -> split, view -> transfer, anything else ->
    fee_refund; tokens and amounts derived from ``props.k``)."""
    raw = con.execute(
        f"SELECT * FROM {EVENTS_SQL} e WHERE user_id = {user_id}").df()
    out = []
    for r in raw.itertuples(index=False):
        k = json.loads(r.props).get("k")
        if k is None:
            continue
        u = int(r.user_id)
        yes, no = f"tok-yes-{u % 10}", f"tok-no-{u % 10}"
        typ = {"purchase": "trade", "click": "trade", "signup": "split",
               "view": "transfer"}.get(r.event_type, "fee_refund")
        qty = float(k % 5 + 1) if typ in ("trade", "transfer") else 0.0
        usdc = {"trade": r.value / 100.0, "split": r.value / 10.0,
                "fee_refund": r.value / 1000.0}.get(typ, 0.0)
        out.append({
            "ts": pd.Timestamp(r.ts), "block_number": int(r.event_id),
            "log_index": 0, "type": typ,
            "token_id": yes if typ in ("trade", "transfer") else "",
            "condition_id": f"c{u % 10}", "qty": qty, "usdc": usdc,
            "fee": 0.0, "is_buy": r.event_type == "purchase",
            "is_in": k % 2 == 0,
            "outcome_token_ids": [yes, no] if typ == "split" else [],
            "payout_ratios": [],
        })
    return out


def _replay(con, user_id: int, snapshot_interval_s: int | None = None
            ) -> LedgerEngine:
    events = _replay_input(con, user_id)
    types = {e["type"] for e in events}
    assert {"split", "transfer"} <= types, (user_id, types)
    eng = LedgerEngine(f"0xw{user_id}", snapshot_interval_s=snapshot_interval_s)
    eng.replay(events)
    return eng


@pytest.mark.parametrize("user_id", WALLET_USERS)
def test_snapshots_match_replay(ctx, con, user_id):
    eng = _replay(con, user_id, snapshot_interval_s=86400)
    want = [{"time": int(s["snapshot_epoch"]),
             **{c: s[c] for c in ("realized_pnl", "unrealized_pnl",
                                  "cashflow", "token_count")}}
            for s in eng.snapshots]
    assert want, "the wallet should span more than one snapshot interval"
    got = ctx.snapshots(user_id, interval_s=86400)
    assert got["wallet"] == f"0xw{user_id}"
    _assert_rows_equal(got["snapshots"], want)


def _dec(x: float, places: int) -> Decimal:
    """Spark's double -> DECIMAL cast: the shortest repr, rounded half up."""
    return Decimal(repr(x)).quantize(Decimal(1).scaleb(-places), ROUND_HALF_UP)


SIGN = {"trade_buy": 1, "transfer_in": 1, "trade_sell": -1,
        "transfer_out": -1, "resolution_loss": -1}


@pytest.mark.parametrize("user_id", WALLET_USERS)
def test_positions_match_replay(ctx, con, user_id):
    sums: dict[str, Decimal] = {}
    for e in _replay(con, user_id).entries:
        if e["token_id"] != "":
            sums[e["token_id"]] = (sums.get(e["token_id"], Decimal(0))
                                   + SIGN.get(e["event_type"], 0)
                                   * _dec(e["quantity"], 10))
    want = [{"token_id": t, "qty": float(q.quantize(Decimal("1e-6"),
                                                     ROUND_HALF_UP))}
            for t, q in sums.items()]
    want = sorted((w for w in want if w["qty"] > 1e-9),
                  key=lambda w: (-w["qty"], w["token_id"]))
    assert bool(want) == (user_id != 0)
    got = ctx.positions(user_id)
    assert got["wallet"] == f"0xw{user_id}"
    _assert_rows_equal(got["positions"], want)
