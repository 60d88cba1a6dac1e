"""DIVERGENCES #4/#5 quantified (VERDICT r5 'what's missing' #4): the
reference's transfer-in/conversion basis heuristic differs from ours only
in that its lastPrices memory is ALSO written by heuristic applications
(ledger-engine.ts:1721-1726, 1791-1793), not just trades. The exact rule
now exists behind ``LedgerEngine(ref_basis_memory=True)``; these tests
(a) prove the two rules are IDENTICAL on every fixture wallet — zero
entries differ at sf0.001 (and sf0.01, measured r6: 0 of 964
transfer_ins) — and (b) pin a synthetic wallet where the rules genuinely
split, so the flag is known to change exactly the branch it claims."""

from __future__ import annotations

import pandas as pd

from neomarket_clickhouse_indexer_spark.ledger.build import (
    WALLET_ORDER,
    replay_wallet,
)
from neomarket_clickhouse_indexer_spark.ledger.engine import LedgerEngine
from neomarket_clickhouse_indexer_spark.queries.events import _domain_events

from .conftest import SF_SMOKE


def test_fixture_impact_is_zero(spark):
    pdf = (_domain_events(spark, SF_SMOKE, integer_splits=True)
           .orderBy("wallet", *WALLET_ORDER).toPandas())
    n_diff = n_ti = 0
    for wallet, g in pdf.groupby("wallet", sort=False):
        a = replay_wallet(wallet, g, None, ref_basis_memory=False)
        b = replay_wallet(wallet, g, None, ref_basis_memory=True)
        assert len(a.entries) == len(b.entries)
        for ea, eb in zip(a.entries, b.entries):
            n_ti += ea["event_type"] == "transfer_in"
            if (
                abs(ea["unit_price"] - eb["unit_price"]) > 1e-12
                or abs(ea["cost_basis"] - eb["cost_basis"]) > 1e-9
            ):
                n_diff += 1
        assert a.realized == b.realized
    assert n_ti > 0  # the branch is exercised, not vacuous
    assert n_diff == 0


def _ev(ts, n, typ, **kw):
    base = {
        "ts": pd.Timestamp("2024-01-01") + pd.Timedelta(seconds=ts),
        "block_number": n,
        "log_index": 0,
        "type": typ,
        "token_id": "T",
        "condition_id": "c",
        "qty": 0.0,
        "usdc": 0.0,
        "fee": 0.0,
        "is_buy": False,
        "is_in": False,
        "outcome_token_ids": [],
        "payout_ratios": [],
    }
    base.update(kw)
    return base


def test_rules_agree_when_no_heuristic_write_intervenes():
    """Zero-position transfer_in with only TRADE history: both memories
    hold the last trade price — the common case (100% of fixture rows)."""
    events = [
        _ev(1, 1, "trade", qty=10.0, usdc=20.0, is_buy=True),
        _ev(2, 2, "trade", qty=10.0, usdc=60.0, is_buy=True),
        _ev(3, 3, "transfer", qty=20.0, is_in=False),  # move out all @cost
        _ev(4, 4, "transfer", qty=5.0, is_in=True),  # zero position
    ]
    ours, ref = LedgerEngine("w"), LedgerEngine("w", ref_basis_memory=True)
    ours.replay(list(events))
    ref.replay(list(events))
    ti_ours = [e for e in ours.entries if e["event_type"] == "transfer_in"][-1]
    ti_ref = [e for e in ref.entries if e["event_type"] == "transfer_in"][-1]
    assert ti_ours["unit_price"] == ti_ref["unit_price"] == 6.0


def test_synthetic_wallet_splits_the_rules():
    """The genuinely divergent chain: a transfer_in APPLIES avg cost 4.0
    (a heuristic write the reference remembers), the position then fully
    leaves, and a second zero-position transfer_in arrives — trades-only
    memory prices it at the last buy (6.0), reference memory at the
    remembered heuristic application (4.0)."""
    events3 = [
        _ev(1, 1, "trade", qty=10.0, usdc=20.0, is_buy=True),
        _ev(2, 2, "trade", qty=10.0, usdc=60.0, is_buy=True),
        _ev(3, 3, "transfer", qty=5.0, is_in=True),  # applies avg 4.0
        _ev(4, 4, "transfer", qty=25.0, is_in=False),  # zero position
        _ev(5, 5, "transfer", qty=2.0, is_in=True),
    ]
    ours3, ref3 = LedgerEngine("w"), LedgerEngine("w", ref_basis_memory=True)
    ours3.replay(list(events3))
    ref3.replay(list(events3))
    ti3_ours = [e for e in ours3.entries if e["event_type"] == "transfer_in"][-1]
    ti3_ref = [e for e in ref3.entries if e["event_type"] == "transfer_in"][-1]
    assert ti3_ours["unit_price"] == 6.0  # trades-only memory: last buy
    assert ti3_ref["unit_price"] == 4.0  # ref memory: the heuristic write
