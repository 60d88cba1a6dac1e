"""Per-wallet FIFO-lot ledger state machine — reference parity core.

Re-implements (from scratch, Spark-first architecture) the semantics of the
reference's ledger engine (reference src/ledger-engine.ts):

- PositionBook / FIFO lots: ledger-engine.ts:67-154 — per token_id, a FIFO
  queue of (qty, unit_cost) lots; buys append, consumption pops front,
  realized PnL = proceeds − consumed cost basis.
- Event replay order: (block_timestamp, block_number, log_index, type_name)
  — note the *type-name* tiebreak (ledger-engine.ts:1109-1114).
- trade buy/sell: ledger-engine.ts:1157-1251 — price = usdc/tokens; SELL
  proceeds are net of fee, BUY ignores fee (:1198).
- split: ledger-engine.ts:1252-1296 — amount X of collateral mints X units
  of each outcome leg; cost basis 1/n per unit per leg.
- merge: ledger-engine.ts:1297-1360 — burns X of every leg, returns X
  collateral; realized = X − consumed cost.
- redemption: ledger-engine.ts:1361-1462 — payout = Σ qty·numerator/denom
  per redeemed leg; realized = payout − consumed cost.
- resolution loss: ledger-engine.ts:1865-1910 — losing-leg inventory held
  through resolution is consumed at value 0.
- transfers: ledger-engine.ts:1752-1810 — transfer_out moves inventory at
  average cost with 0 realized; transfer_in adds a lot at the wallet's
  existing average cost for that token (0 if none).
- fee refunds / withdrawals: ledger-engine.ts:1811-1864 — pure realized
  income.
- snapshots: ledger-engine.ts:1116-1152,1916-1935 — at each interval
  boundary emit (realized cum, unrealized = Σ qty·(last_price − unit_cost),
  cashflow cum, token_count).

The engine is deliberately pure Python (no Spark, no pandas): a fold over a
time-ordered event list. Distribution happens one level up
(ledger/build.py) via repartition-by-wallet + mapInPandas — wallets are
independent, so the cluster runs one replay per wallet with no coordination,
the same shape the reference fakes with a worker pool of 2
(backfill-ledger.ts:148-188).

PnL is computed in float64 to match the reference's deliberate use of
JS numbers (constants.ts:35-37; SURVEY §7 risk notes).
"""

from __future__ import annotations

from dataclasses import dataclass, field
from typing import Any

EPS = 1e-9


@dataclass
class Lot:
    qty: float
    unit_cost: float
    entry_ts: Any = None  # entry timestamp for PnL-mode filtering (O3)


@dataclass
class PositionBook:
    """FIFO lot book for one wallet (reference PositionManager,
    ledger-engine.ts:67-154)."""

    lots: dict[str, list[Lot]] = field(default_factory=dict)

    def add(self, token_id: str, qty: float, unit_cost: float, entry_ts=None) -> None:
        if qty <= EPS:
            return
        self.lots.setdefault(token_id, []).append(Lot(qty, unit_cost, entry_ts))

    def qty(self, token_id: str) -> float:
        return sum(l.qty for l in self.lots.get(token_id, []))

    def avg_cost(self, token_id: str) -> float:
        lots = self.lots.get(token_id, [])
        q = sum(l.qty for l in lots)
        if q <= EPS:
            return 0.0
        return sum(l.qty * l.unit_cost for l in lots) / q

    def consume(self, token_id: str, qty: float) -> tuple[float, float, list[tuple[float, float, Any]]]:
        """Pop up to ``qty`` units FIFO. Returns (consumed_qty, cost_basis,
        [(qty, unit_cost, entry_ts) per consumed slice])."""
        lots = self.lots.get(token_id, [])
        consumed = 0.0
        cost = 0.0
        slices: list[tuple[float, float, Any]] = []
        while lots and consumed < qty - EPS:
            lot = lots[0]
            take = min(lot.qty, qty - consumed)
            consumed += take
            cost += take * lot.unit_cost
            slices.append((take, lot.unit_cost, lot.entry_ts))
            lot.qty -= take
            if lot.qty <= EPS:
                lots.pop(0)
        if not lots and token_id in self.lots:
            del self.lots[token_id]
        return consumed, cost, slices

    def open_tokens(self) -> list[str]:
        return [t for t, lots in self.lots.items() if sum(l.qty for l in lots) > EPS]


# Normalized event fields (engine input; prepared by ledger/build.py):
#   ts, block_number, log_index, type, token_id, condition_id, qty, usdc,
#   fee, price, outcome_token_ids (list, for split/merge/redemption),
#   payout_ratios (list aligned with outcome_token_ids), counterparty
LEDGER_ENTRY_FIELDS = [
    "wallet",
    "event_type",
    "block_timestamp",
    "block_number",
    "log_index",
    "token_id",
    "condition_id",
    "quantity",
    "usdc_delta",
    "unit_price",
    "cost_basis",
    "realized_pnl",
]


class LedgerEngine:
    """Replay one wallet's time-ordered events into ledger entries +
    realized events + snapshots."""

    def __init__(self, wallet: str, snapshot_interval_s: int | None = None,
                 ref_basis_memory: bool = False):
        if snapshot_interval_s is not None and snapshot_interval_s <= 0:
            # a non-positive cadence never reaches the next boundary
            raise ValueError(
                f"snapshot_interval_s must be > 0, got {snapshot_interval_s}")
        self.wallet = wallet
        self.book = PositionBook()
        self.realized = 0.0
        self.cashflow = 0.0
        # ref_basis_memory=True reproduces the reference's runtime-state
        # heuristic exactly (ledger-engine.ts:1721-1726, 1791-1793): the
        # lastPrices map is ALSO written by transfer-ins and conversion
        # mints (at the heuristically-applied cost), not just trades — so
        # a later zero-position transfer_in can inherit a price that
        # itself came from a heuristic. Default False = trades-only
        # memory (DIVERGENCES #4; fixture impact quantified in
        # tests/test_ledger_basis_parity.py).
        self.ref_basis_memory = ref_basis_memory
        self.last_price: dict[str, float] = {}
        self.entries: list[dict] = []
        self.realized_events: list[dict] = []
        self.snapshots: list[dict] = []
        self.snapshot_interval_s = snapshot_interval_s
        self._next_snapshot_epoch: float | None = None

    # -- helpers ---------------------------------------------------------

    def _emit(self, ev: dict, event_type: str, token_id: str, qty: float,
              usdc_delta: float, unit_price: float, cost_basis: float,
              realized: float) -> None:
        self.realized += realized
        self.cashflow += usdc_delta
        self.entries.append(
            {
                "wallet": self.wallet,
                "event_type": event_type,
                "block_timestamp": ev["ts"],
                "block_number": ev["block_number"],
                "log_index": ev["log_index"],
                "token_id": token_id,
                "condition_id": ev.get("condition_id", ""),
                "quantity": qty,
                "usdc_delta": usdc_delta,
                "unit_price": unit_price,
                "cost_basis": cost_basis,
                "realized_pnl": realized,
            }
        )

    def _realize(self, ev: dict, token_id: str, slices, proceeds_per_unit: float,
                 event_type: str) -> None:
        """Record per-slice realized events (feeds PnL modes, O3)."""
        for take, unit_cost, entry_ts in slices:
            self.realized_events.append(
                {
                    "wallet": self.wallet,
                    "event_type": event_type,
                    "timestamp": ev["ts"],
                    "entry_timestamp": entry_ts,
                    "token_id": token_id,
                    "condition_id": ev.get("condition_id", ""),
                    "quantity": take,
                    "realized_pnl": take * (proceeds_per_unit - unit_cost),
                }
            )

    # -- event handlers --------------------------------------------------

    def on_trade(self, ev: dict) -> None:
        qty, usdc, fee = ev["qty"], ev["usdc"], ev.get("fee", 0.0)
        if qty <= EPS:
            return
        price = usdc / qty
        token = ev["token_id"]
        self.last_price[token] = price
        if ev["is_buy"]:
            # buys ignore fee (ledger-engine.ts:1198 commentary)
            self.book.add(token, qty, price, ev["ts"])
            self._emit(ev, "trade_buy", token, qty, -usdc, price, qty * price, 0.0)
        else:
            net = usdc - fee  # sell proceeds net of fee
            net_per_unit = net / qty
            consumed, cost, slices = self.book.consume(token, qty)
            # oversell (inventory unknown to this wallet's history) realizes
            # only the covered part; uncovered proceeds are pure income.
            covered_real = consumed * net_per_unit - cost
            uncovered = (qty - consumed) * net_per_unit
            realized = covered_real + uncovered
            self._realize(ev, token, slices, net_per_unit, "trade_sell")
            self._emit(ev, "trade_sell", token, qty, net, net_per_unit, cost, realized)

    def on_split(self, ev: dict) -> None:
        amount = ev["usdc"]
        legs = ev["outcome_token_ids"]
        if amount <= EPS or not legs:
            return
        unit_cost = 1.0 / len(legs)
        for token in legs:
            self.book.add(token, amount, unit_cost, ev["ts"])
        self._emit(ev, ev["type"], legs[0], amount * len(legs), -amount,
                   unit_cost, amount, 0.0)

    def on_merge(self, ev: dict) -> None:
        amount = ev["usdc"]
        legs = ev["outcome_token_ids"]
        if amount <= EPS or not legs:
            return
        total_cost = 0.0
        per_unit = 1.0 / len(legs)
        for token in legs:
            consumed, cost, slices = self.book.consume(token, amount)
            total_cost += cost
            self._realize(ev, token, slices, per_unit, ev["type"])
        realized = amount - total_cost
        self._emit(ev, ev["type"], legs[0], amount * len(legs), amount,
                   per_unit, total_cost, realized)

    def on_redemption(self, ev: dict) -> None:
        legs = ev["outcome_token_ids"]
        ratios = ev["payout_ratios"]
        total_payout = 0.0
        total_cost = 0.0
        for token, ratio in zip(legs, ratios):
            qty = self.book.qty(token)
            if qty <= EPS:
                continue
            consumed, cost, slices = self.book.consume(token, qty)
            payout = consumed * ratio
            total_payout += payout
            total_cost += cost
            self._realize(ev, token, slices, ratio, ev["type"])
        realized = total_payout - total_cost
        self._emit(ev, ev["type"], legs[0] if legs else "", 0.0, total_payout,
                   0.0, total_cost, realized)

    def on_resolution(self, ev: dict) -> None:
        """Synthetic event injected per resolved condition: losing legs held
        through resolution are written off (ledger-engine.ts:1865-1910)."""
        legs = ev["outcome_token_ids"]
        ratios = ev["payout_ratios"]
        for token, ratio in zip(legs, ratios):
            if ratio > EPS:
                continue  # winners redeem explicitly
            qty = self.book.qty(token)
            if qty <= EPS:
                continue
            consumed, cost, slices = self.book.consume(token, qty)
            self._realize(ev, token, slices, 0.0, "resolution_loss")
            self._emit(ev, "resolution_loss", token, consumed, 0.0, 0.0, cost,
                       -cost)

    def on_transfer(self, ev: dict) -> None:
        token = ev["token_id"]
        qty = ev["qty"]
        if qty <= EPS:
            return
        if ev["is_in"]:
            unit_cost = self.book.avg_cost(token)
            if unit_cost <= EPS:
                unit_cost = self.last_price.get(token, 0.0)
            self.book.add(token, qty, unit_cost, ev["ts"])
            if self.ref_basis_memory and unit_cost > EPS:
                # ledger-engine.ts:1791-1793: the applied heuristic cost
                # becomes the token's remembered price
                self.last_price[token] = unit_cost
            self._emit(ev, "transfer_in", token, qty, 0.0, unit_cost,
                       qty * unit_cost, 0.0)
        else:
            consumed, cost, _ = self.book.consume(token, qty)
            # outbound moves inventory at cost; no PnL
            self._emit(ev, "transfer_out", token, consumed, 0.0,
                       (cost / consumed) if consumed > EPS else 0.0, cost, 0.0)

    def on_conversion(self, ev: dict) -> None:
        """NegRisk conversion (ledger-engine.ts:1670-1751): burn the
        selected NO legs, mint the complementary YES legs (plus any cash
        component), carrying cost basis — realized PnL only when the cash
        received exceeds the burned basis. Fields: outcome_token_ids =
        burn legs, mint_token_ids = mint legs, qty = per-leg amount,
        usdc = cash received (0 for pure conversions)."""
        qty = ev["qty"]
        burn = ev["outcome_token_ids"]
        mint = ev.get("mint_token_ids") or []
        cash = ev.get("usdc", 0.0)
        if qty <= EPS or not burn:
            return
        total_cost = 0.0
        for token in burn:
            consumed, cost, _slices = self.book.consume(token, qty)
            total_cost += cost
        carry = total_cost - cash
        realized = 0.0
        if carry < 0:  # cash exceeds burned basis → realize the excess
            realized = -carry
            carry = 0.0
        if mint:
            unit_cost = carry / (len(mint) * qty)
            for token in mint:
                applied = unit_cost
                if self.ref_basis_memory:
                    # ledger-engine.ts:1721-1726: zero carried basis falls
                    # back to the remembered per-token price, and the
                    # applied cost is remembered in turn
                    if applied <= EPS:
                        applied = self.last_price.get(token, 0.0)
                    if applied > EPS:
                        self.last_price[token] = applied
                self.book.add(token, qty, applied, ev["ts"])
        elif carry > EPS:
            # nothing minted (no-transfers fallback) → basis realizes as loss
            realized -= carry
        self._emit(ev, "adapter_conversion", burn[0], qty * len(burn), cash,
                   0.0, total_cost, realized)

    def on_fee(self, ev: dict) -> None:
        amount = ev["usdc"]
        self.realized_events.append(
            {
                "wallet": self.wallet,
                "event_type": ev["type"],
                "timestamp": ev["ts"],
                "entry_timestamp": ev["ts"],
                "token_id": ev.get("token_id", ""),
                "condition_id": "",
                "quantity": 0.0,
                "realized_pnl": amount,
            }
        )
        self._emit(ev, ev["type"], ev.get("token_id", ""), 0.0, amount, 0.0,
                   0.0, amount)

    # -- replay ----------------------------------------------------------

    HANDLERS = {
        "trade": "on_trade",
        "split": "on_split",
        "merge": "on_merge",
        "redemption": "on_redemption",
        "adapter_split": "on_split",
        "adapter_merge": "on_merge",
        "adapter_redemption": "on_redemption",
        "adapter_conversion": "on_conversion",
        "resolution": "on_resolution",
        "transfer": "on_transfer",
        "fee_refund": "on_fee",
        "fee_withdrawal": "on_fee",
    }

    def replay(self, events: list[dict]) -> None:
        """Events must carry the canonical order key; sorted here to enforce
        (ts, block_number, log_index, type) with the type-name tiebreak
        (ledger-engine.ts:1109-1114)."""
        ordered = sorted(
            events,
            key=lambda e: (e["ts"], e["block_number"], e["log_index"], e["type"]),
        )
        for ev in ordered:
            self._maybe_snapshot(ev["ts"])
            handler = self.HANDLERS.get(ev["type"])
            if handler is None:
                raise ValueError(f"unknown event type {ev['type']!r}")
            getattr(self, handler)(ev)

    # -- snapshots (O2) --------------------------------------------------

    def _unrealized(self) -> tuple[float, float, float]:
        cost = value = 0.0
        for token in self.book.open_tokens():
            q = self.book.qty(token)
            cost += q * self.book.avg_cost(token)
            value += q * self.last_price.get(token, 0.0)
        return value - cost, cost, value

    def _maybe_snapshot(self, ts) -> None:
        if self.snapshot_interval_s is None:
            return
        epoch = ts.timestamp() if hasattr(ts, "timestamp") else float(ts)
        interval = self.snapshot_interval_s
        if self._next_snapshot_epoch is None:
            self._next_snapshot_epoch = (epoch // interval + 1) * interval
            return
        while epoch >= self._next_snapshot_epoch:
            self.take_snapshot(self._next_snapshot_epoch)
            self._next_snapshot_epoch += interval

    def open_positions_report(
        self, entry_start=None, entry_end=None
    ) -> tuple[float, float, float]:
        """Open-position mark with the reference's lot-entry filter
        (getOpenPositionsCost/Value + isLotInRange,
        ledger-engine.ts:111-135,~1990): cost counts every open lot whose
        entry timestamp falls in [entry_start, entry_end] (None = open
        bound); value prices in-range lots at the wallet's last trade
        price, contributing 0 for tokens with no (or zero) last price.
        Returns (unrealized, cost, value)."""

        def _in_range(entry_ts) -> bool:
            if entry_ts is not None:
                if entry_start is not None and entry_ts < entry_start:
                    return False
                if entry_end is not None and entry_ts > entry_end:
                    return False
            return True

        cost = value = 0.0
        for token in self.book.open_tokens():
            price = self.last_price.get(token, 0.0)
            for lot in self.book.lots.get(token, []):
                if lot.qty <= EPS or not _in_range(lot.entry_ts):
                    continue
                cost += lot.qty * lot.unit_cost
                if price != 0.0:
                    value += lot.qty * price
        return value - cost, cost, value

    def take_snapshot(self, epoch: float) -> None:
        unreal, cost, value = self._unrealized()
        self.snapshots.append(
            {
                "wallet": self.wallet,
                "snapshot_epoch": epoch,
                "realized_pnl": self.realized,
                "unrealized_pnl": unreal,
                "open_positions_cost": cost,
                "open_positions_value": value,
                "cashflow": self.cashflow,
                "token_count": len(self.book.open_tokens()),
            }
        )
