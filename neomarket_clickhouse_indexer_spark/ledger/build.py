"""Distributed ledger build: one FIFO replay per wallet, all wallets in
parallel.

The reference builds one wallet per CLI run (build-ledger.ts) or a worker
pool of 2 (backfill-ledger.ts:60); here wallet-parallelism is the cluster's
partition count. Every builder runs through the FIFO operators' driver,
``operators.fifo.by_key``: one shuffle (repartition on wallet) +
in-partition sort + a single mapInPandas pass, with the full domain state
machine inside (SURVEY §2.10 O1/O2).
"""

from __future__ import annotations

from operator import attrgetter

import pandas as pd
from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from ..operators.fifo import by_key
from .engine import LedgerEngine

# a wallet's replay order: the engine's canonical order key
# (ledger-engine.ts:1109-1114)
WALLET_ORDER = ("ts", "block_number", "log_index", "type")

LEDGER_SCHEMA = (
    "wallet string, event_type string, block_timestamp timestamp, "
    "block_number long, log_index long, token_id string, "
    "condition_id string, quantity double, usdc_delta double, "
    "unit_price double, cost_basis double, realized_pnl double"
)

SNAPSHOT_SCHEMA = (
    "wallet string, snapshot_epoch double, realized_pnl double, "
    "unrealized_pnl double, open_positions_cost double, "
    "open_positions_value double, cashflow double, token_count long"
)

REALIZED_SCHEMA = (
    "wallet string, event_type string, timestamp timestamp, "
    "entry_timestamp timestamp, token_id string, condition_id string, "
    "quantity double, realized_pnl double"
)


def replay_wallet(wallet: str, g: pd.DataFrame,
                  snapshot_interval_s: int | None,
                  ref_basis_memory: bool = False) -> LedgerEngine:
    """Replay one wallet's domain events ``g`` (ledger/prep.py columns,
    ``ts`` as pandas Timestamps) through a fresh :class:`LedgerEngine`.
    The builders below call it once per wallet inside ``mapInPandas``; the
    serving layer calls it on the driver for a one-wallet read."""
    eng = LedgerEngine(wallet, snapshot_interval_s=snapshot_interval_s,
                       ref_basis_memory=ref_basis_memory)
    events = []
    for row in g.itertuples(index=False):
        ev = {
            "ts": row.ts,
            "block_number": row.block_number,
            "log_index": row.log_index,
            "type": row.type,
            "token_id": row.token_id,
            "condition_id": row.condition_id,
            "qty": row.qty,
            "usdc": row.usdc,
            "fee": row.fee,
            "is_buy": row.is_buy,
            "is_in": row.is_in,
            "outcome_token_ids": list(row.outcome_token_ids)
            if row.outcome_token_ids is not None
            else [],
            "payout_ratios": list(row.payout_ratios)
            if row.payout_ratios is not None
            else [],
        }
        # optional column: negRisk conversions carry the minted legs
        # (ledger-engine.ts:1670-1751); absent for every other caller
        mint = getattr(row, "mint_token_ids", None)
        if mint is not None:
            ev["mint_token_ids"] = list(mint)
        events.append(ev)
    eng.replay(events)
    return eng


def _replay_by_wallet(events: DataFrame, emit, schema: str,
                      snapshot_interval_s: int | None = None) -> DataFrame:
    """The driver of every builder: replay each wallet of ``events`` and
    concatenate the records ``emit(engine)`` returns for it (dicts keyed by
    output columns). A record may leave columns out; every output frame
    still carries all of ``schema``'s, null where no record has a value,
    as mapInPandas matches the frame to the schema by column name."""
    columns = [field.split()[0] for field in schema.split(",")]

    def run(pdf: pd.DataFrame) -> pd.DataFrame | None:
        recs = [rec for wallet, g in pdf.groupby("wallet", sort=False)
                for rec in emit(replay_wallet(wallet, g, snapshot_interval_s))]
        if not recs:
            return None
        out = pd.DataFrame(recs)
        return out.assign(**{c: None for c in columns if c not in out})

    return by_key(events, "wallet", WALLET_ORDER, run, schema)


def build_wallet_ledger(events: DataFrame) -> DataFrame:
    """Normalized events (ledger/prep.py schema) → wallet_ledger entries
    (reference table 001:292-313)."""
    return _replay_by_wallet(events, attrgetter("entries"), LEDGER_SCHEMA)


def build_wallet_snapshots(events: DataFrame, interval_s: int = 86400) -> DataFrame:
    """Normalized events → periodic PnL snapshots (reference
    wallet_pnl_snapshots 001:318-332; snapshot emitter
    ledger-engine.ts:1116-1152)."""
    return _replay_by_wallet(events, attrgetter("snapshots"),
                             SNAPSHOT_SCHEMA, interval_s)


MARK_FIELDS = ("unrealized_pnl double, open_positions_cost double, "
               "open_positions_value double")
MARKS_SCHEMA = f"wallet string, {MARK_FIELDS}"


def _mark(entry_start: str | None, entry_end: str | None):
    """The wallet's open-position mark record at the end of its replay,
    optionally over lots entered inside [entry_start, entry_end] only."""
    e_start = pd.Timestamp(entry_start) if entry_start is not None else None
    e_end = pd.Timestamp(entry_end) if entry_end is not None else None

    def mark(eng: LedgerEngine) -> dict:
        unreal, cost, value = eng.open_positions_report(e_start, e_end)
        return {"wallet": eng.wallet, "unrealized_pnl": unreal,
                "open_positions_cost": cost, "open_positions_value": value}

    return mark


def _until(events: DataFrame, end: str) -> DataFrame:
    """buildLedger(wallet, endTs) truncation: the events with ts <= end."""
    return events.filter(F.col("ts") <= F.lit(end).cast("timestamp"))


def build_pnl_marks(
    events: DataFrame,
    end: str,
    entry_start: str | None = None,
    entry_end: str | None = None,
) -> DataFrame:
    """Per-wallet open-position mark at ``end`` (reference calculatePnl's
    unrealized leg, ledger-engine.ts:2018-2031): replay each wallet's
    events with ts <= end, then price the open lots, optionally restricted
    to lots entered inside [entry_start, entry_end] (PnL mode 3). One
    replay per wallet, same repartition-by-wallet shape as the other
    builders."""
    mark = _mark(entry_start, entry_end)
    return _replay_by_wallet(_until(events, end), lambda eng: [mark(eng)],
                             MARKS_SCHEMA)


def build_realized_and_marks(
    events: DataFrame,
    end: str,
    entry_start: str | None = None,
    entry_end: str | None = None,
) -> DataFrame:
    """:func:`build_realized_events` and :func:`build_pnl_marks` from one
    replay per wallet of its events with ts <= end: the wallet's realized
    events (mark columns null), then its mark (a row with no timestamp).
    A realized event carries its exit event's ts, so the realized events
    before ``end`` are the same as a full replay's."""
    mark = _mark(entry_start, entry_end)
    return _replay_by_wallet(_until(events, end),
                             lambda eng: [*eng.realized_events, mark(eng)],
                             f"{REALIZED_SCHEMA}, {MARK_FIELDS}")


def build_realized_events(events: DataFrame) -> DataFrame:
    """Normalized events → per-slice realized PnL events (feeds the O3 PnL
    modes, ledger-engine.ts:1955-2055)."""
    return _replay_by_wallet(events, attrgetter("realized_events"),
                             REALIZED_SCHEMA)
