"""Golden tests for the FIFO ledger state machine (pure-Python engine) —
hand-computed scenarios per FIXTURES.md §4 and SURVEY §5.3.
"""

from __future__ import annotations

import datetime as dt

import pytest

from neomarket_clickhouse_indexer_spark.ledger.engine import LedgerEngine

T0 = dt.datetime(2024, 1, 1, 0, 0, 0)


def ev(i, type_, **kw):
    base = dict(
        ts=T0 + dt.timedelta(minutes=i),
        block_number=100 + i,
        log_index=i,
        type=type_,
        token_id=kw.pop("token_id", "tokA"),
        condition_id=kw.pop("condition_id", "cond1"),
        qty=0.0,
        usdc=0.0,
        fee=0.0,
        is_buy=False,
        is_in=False,
        outcome_token_ids=[],
        payout_ratios=[],
    )
    base.update(kw)
    return base


def test_fifo_partial_lot_spanning_sell():
    """Scenario 1: two buy lots at different prices, one sell spanning the
    lot boundary, then sell the remainder."""
    eng = LedgerEngine("w1")
    eng.replay([
        ev(0, "trade", is_buy=True, qty=10.0, usdc=4.0),   # 10 @ 0.40
        ev(1, "trade", is_buy=True, qty=10.0, usdc=6.0),   # 10 @ 0.60
        ev(2, "trade", is_buy=False, qty=15.0, usdc=10.5), # 15 @ 0.70
        ev(3, "trade", is_buy=False, qty=5.0, usdc=4.0),   # 5 @ 0.80
    ])
    # sell 1: 10@0.40 + 5@0.60 consumed → cost 7.0, proceeds 10.5 → +3.5
    # sell 2: 5@0.60 consumed → cost 3.0, proceeds 4.0 → +1.0
    assert eng.realized == pytest.approx(4.5)
    assert eng.book.open_tokens() == []
    sells = [e for e in eng.entries if e["event_type"] == "trade_sell"]
    assert sells[0]["realized_pnl"] == pytest.approx(3.5)
    assert sells[1]["realized_pnl"] == pytest.approx(1.0)


def test_sell_fee_netted_buy_fee_ignored():
    """Fee treatment parity (ledger-engine.ts:1198): sell proceeds net of
    fee; buy cost excludes fee."""
    eng = LedgerEngine("w1")
    eng.replay([
        ev(0, "trade", is_buy=True, qty=10.0, usdc=5.0, fee=1.0),
        ev(1, "trade", is_buy=False, qty=10.0, usdc=8.0, fee=0.5),
    ])
    # cost 5.0 (fee ignored), proceeds 7.5 → +2.5
    assert eng.realized == pytest.approx(2.5)


def test_split_merge_round_trip():
    """Scenario 2: split → merge round trip realizes ~0."""
    eng = LedgerEngine("w1")
    legs = ["yes", "no"]
    eng.replay([
        ev(0, "split", usdc=10.0, outcome_token_ids=legs),
        ev(1, "merge", usdc=10.0, outcome_token_ids=legs),
    ])
    assert eng.realized == pytest.approx(0.0)
    assert eng.book.open_tokens() == []
    assert eng.cashflow == pytest.approx(0.0)


def test_split_then_sell_leg():
    """Split 10 USDC → 10 yes + 10 no at 0.5 each; sell yes at 0.7."""
    eng = LedgerEngine("w1")
    eng.replay([
        ev(0, "split", usdc=10.0, outcome_token_ids=["yes", "no"]),
        ev(1, "trade", token_id="yes", is_buy=False, qty=10.0, usdc=7.0),
    ])
    assert eng.realized == pytest.approx(10.0 * (0.7 - 0.5))
    assert eng.book.qty("no") == pytest.approx(10.0)
    assert eng.book.avg_cost("no") == pytest.approx(0.5)


def test_redemption_with_payout_ratios():
    """Scenario 3a: winner redeems with payout [1, 0]."""
    eng = LedgerEngine("w1")
    eng.replay([
        ev(0, "trade", token_id="yes", is_buy=True, qty=10.0, usdc=6.0),
        ev(1, "redemption", outcome_token_ids=["yes", "no"], payout_ratios=[1.0, 0.0]),
    ])
    # payout 10·1.0 = 10, cost 6 → +4
    assert eng.realized == pytest.approx(4.0)
    assert eng.book.open_tokens() == []


def test_resolution_loss_for_held_loser():
    """Scenario 3b: loser holds through resolution → resolution_loss."""
    eng = LedgerEngine("w1")
    eng.replay([
        ev(0, "trade", token_id="no", is_buy=True, qty=10.0, usdc=4.0),
        ev(1, "resolution", outcome_token_ids=["yes", "no"], payout_ratios=[1.0, 0.0]),
    ])
    assert eng.realized == pytest.approx(-4.0)
    losses = [e for e in eng.entries if e["event_type"] == "resolution_loss"]
    assert len(losses) == 1 and losses[0]["cost_basis"] == pytest.approx(4.0)
    # winner legs held by others are NOT written off for this wallet
    assert eng.book.open_tokens() == []


def test_transfer_out_at_cost_no_pnl():
    """Scenario 5: outbound transfer moves inventory at cost, 0 realized."""
    eng = LedgerEngine("w1")
    eng.replay([
        ev(0, "trade", is_buy=True, qty=10.0, usdc=5.0),
        ev(1, "transfer", qty=4.0, is_in=False),
    ])
    assert eng.realized == pytest.approx(0.0)
    assert eng.book.qty("tokA") == pytest.approx(6.0)
    out = [e for e in eng.entries if e["event_type"] == "transfer_out"][0]
    assert out["cost_basis"] == pytest.approx(2.0)  # 4 @ 0.5


def test_transfer_in_at_existing_avg_cost_then_last_price():
    eng = LedgerEngine("w1")
    eng.replay([
        ev(0, "trade", is_buy=True, qty=10.0, usdc=5.0),  # avg 0.5
        ev(1, "transfer", qty=10.0, is_in=True),          # in at avg 0.5
    ])
    assert eng.book.qty("tokA") == pytest.approx(20.0)
    assert eng.book.avg_cost("tokA") == pytest.approx(0.5)

    eng2 = LedgerEngine("w2")
    eng2.replay([ev(0, "transfer", qty=5.0, is_in=True)])  # no history → cost 0
    assert eng2.book.avg_cost("tokA") == pytest.approx(0.0)
    assert eng2.realized == pytest.approx(0.0)


def test_fee_refund_pure_income():
    """Scenario 6: fee refund/withdrawal are pure realized income."""
    eng = LedgerEngine("w1")
    eng.replay([
        ev(0, "fee_refund", usdc=1.25),
        ev(1, "fee_withdrawal", usdc=0.75),
    ])
    assert eng.realized == pytest.approx(2.0)


def test_oversell_realizes_only_uncovered_income():
    """Sell with no inventory: uncovered proceeds are income, no cost."""
    eng = LedgerEngine("w1")
    eng.replay([ev(0, "trade", is_buy=False, qty=10.0, usdc=7.0)])
    assert eng.realized == pytest.approx(7.0)
    assert eng.book.open_tokens() == []


def test_duplicate_event_ids_are_deduped_upstream():
    """Dedup is prep's job (dropDuplicates on id); the engine is
    deterministic given its input — replaying the same list twice in two
    engines yields identical results (idempotence by construction)."""
    events = [
        ev(0, "trade", is_buy=True, qty=10.0, usdc=4.0),
        ev(1, "trade", is_buy=False, qty=10.0, usdc=6.0),
    ]
    a, b = LedgerEngine("w"), LedgerEngine("w")
    a.replay(list(events))
    b.replay(list(reversed(events)))  # order-key sort normalizes input order
    assert a.realized == b.realized == pytest.approx(2.0)
    assert a.entries == b.entries


def test_ordering_type_name_tiebreak():
    """Same (ts, block, log_index): type-name ordering decides
    (ledger-engine.ts:1113) — 'split' < 'trade' alphabetically."""
    e_split = ev(0, "split", usdc=10.0, outcome_token_ids=["yes", "no"])
    e_sell = ev(0, "trade", token_id="yes", is_buy=False, qty=10.0, usdc=7.0)
    eng = LedgerEngine("w")
    eng.replay([e_sell, e_split])  # submitted out of order
    # split (10 yes @0.5) processed first → sell realizes 2.0 against it
    assert eng.realized == pytest.approx(2.0)


def test_snapshots_cumulative_consistency():
    """O2: snapshot at interval boundaries; realized+unrealized track the
    book state."""
    eng = LedgerEngine("w1", snapshot_interval_s=60)
    eng.replay([
        ev(0, "trade", is_buy=True, qty=10.0, usdc=4.0),   # t=0
        ev(2, "trade", is_buy=False, qty=5.0, usdc=3.5),   # t=+2m sell @0.7
        ev(5, "trade", is_buy=False, qty=5.0, usdc=3.0),   # t=+5m sell @0.6
    ])
    assert eng.snapshots, "interval snapshots should have been emitted"
    s = eng.snapshots[-1]
    # before the final sell: realized = 5·(0.7−0.4) = 1.5, open 5 @0.4,
    # last price 0.7 → unrealized 5·0.3 = 1.5
    assert s["realized_pnl"] == pytest.approx(1.5)
    assert s["unrealized_pnl"] == pytest.approx(1.5)
    assert s["token_count"] == 1
    eng.take_snapshot(9e9)
    assert eng.snapshots[-1]["realized_pnl"] == pytest.approx(2.5)
    assert eng.snapshots[-1]["token_count"] == 0


@pytest.mark.parametrize("interval_s", [0, -60])
def test_non_positive_snapshot_interval_is_rejected(interval_s):
    # 0 divided by zero at the first event; a negative interval never
    # reached its next boundary and looped without end
    with pytest.raises(ValueError, match="snapshot_interval_s"):
        LedgerEngine("w1", snapshot_interval_s=interval_s)


def test_adapter_split_merge_labels():
    """Adapter variants share split/merge semantics but keep their own
    event-type labels (ledger-engine.ts:1463-1669)."""
    eng = LedgerEngine("w1")
    eng.replay([
        ev(0, "adapter_split", usdc=10.0, outcome_token_ids=["yes", "no"]),
        ev(1, "adapter_merge", usdc=10.0, outcome_token_ids=["yes", "no"]),
    ])
    assert eng.realized == pytest.approx(0.0)
    types = [e["event_type"] for e in eng.entries]
    assert types == ["adapter_split", "adapter_merge"]


def test_conversion_carries_cost_basis():
    """Scenario 4: conversion burns NO legs and mints YES legs carrying the
    burned basis; no PnL on a pure conversion."""
    eng = LedgerEngine("w1")
    eng.replay([
        # acquire 10 no-A @0.4 and 10 no-B @0.3
        ev(0, "trade", token_id="no-A", is_buy=True, qty=10.0, usdc=4.0),
        ev(1, "trade", token_id="no-B", is_buy=True, qty=10.0, usdc=3.0),
        ev(2, "adapter_conversion", qty=10.0,
           outcome_token_ids=["no-A", "no-B"],
           mint_token_ids=["yes-C"], usdc=0.0),
    ])
    assert eng.realized == pytest.approx(0.0)
    assert eng.book.qty("no-A") == 0.0 and eng.book.qty("no-B") == 0.0
    assert eng.book.qty("yes-C") == pytest.approx(10.0)
    # carried basis: (4.0 + 3.0) / 10 units = 0.7/unit
    assert eng.book.avg_cost("yes-C") == pytest.approx(0.7)


def test_conversion_cash_excess_realizes():
    eng = LedgerEngine("w1")
    eng.replay([
        ev(0, "trade", token_id="no-A", is_buy=True, qty=10.0, usdc=4.0),
        ev(1, "adapter_conversion", qty=10.0,
           outcome_token_ids=["no-A"], mint_token_ids=["yes-B"], usdc=6.0),
    ])
    # cash 6.0 > basis 4.0 → +2.0 realized, yes-B minted at 0 cost
    assert eng.realized == pytest.approx(2.0)
    assert eng.book.avg_cost("yes-B") == pytest.approx(0.0)


def test_conversion_no_mint_fallback_realizes_loss():
    """No-transfers fallback (ledger-engine.ts:1266-1272 analog): if the
    mint legs are unknown, the burned basis realizes as a loss rather than
    silently vanishing."""
    eng = LedgerEngine("w1")
    eng.replay([
        ev(0, "trade", token_id="no-A", is_buy=True, qty=10.0, usdc=4.0),
        ev(1, "adapter_conversion", qty=10.0,
           outcome_token_ids=["no-A"], mint_token_ids=[], usdc=0.0),
    ])
    assert eng.realized == pytest.approx(-4.0)
