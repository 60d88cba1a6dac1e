"""PnL modes (O3) and the daily realized rollup (O4) over the ledger
engine's realized-event output.

Reference semantics (src/ledger-engine.ts:16-21,1955-2055; docs
src/calculate-pnl.ts:4-10): four modes —

  period_only              (1) realized: entry AND exit inside the period
  with_history             (2) realized: exit inside the period
  period_plus_unrealized   (3) mode 1 + unrealized from lots ENTERED in
                               the period (isLotInRange filter)
  total                    (4) mode 2 + unrealized from ALL open lots

Per the reference's realizedForMode (ledger-engine.ts:1983-1990), a
realized event with NO entry timestamp (fee refunds, resolution credits)
counts as in-period under modes 1/3. The unrealized leg is the open-lot
mark at the period end from :func:`ledger.build.build_pnl_marks`
(getOpenPositionsCost/Value, ledger-engine.ts:111-135).

Rollup (src/build-rollup-1d.ts:56-87): wallet × condition × day →
sum(realized), sum(|usdc_delta|), trade counts — idempotently rebuilt per
partition (Spark: partition-overwrite instead of ALTER TABLE DELETE).
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

from ..determinism import dsum

# reference numeric mode -> name (calculate-pnl.ts:4-10; CLI default is 4)
MODE_NAMES = {
    1: "period_only",
    2: "with_history",
    3: "period_plus_unrealized",
    4: "total",
}
DEFAULT_MODE = "total"


def _canonical_mode(mode) -> str:
    if isinstance(mode, int):
        mode = MODE_NAMES.get(mode, mode)
    aliases = {
        "realized_period_only": "period_only",
        "realized_with_history": "with_history",
        "realized_period_plus_unrealized": "period_plus_unrealized",
        "total_pnl": "total",
    }
    mode = aliases.get(mode, mode)
    if mode not in MODE_NAMES.values():
        raise ValueError(f"unknown mode {mode!r}")
    return mode


MARK_COLUMNS = ("unrealized_pnl", "open_positions_cost", "open_positions_value")


def _mode_filter(mode: str, start, end) -> Column:
    """The realized events a mode counts: exit inside [start, end); modes
    1/3 also need the entry inside, or no entry timestamp."""
    in_period = (F.col("timestamp") >= F.lit(start)) & (F.col("timestamp") < F.lit(end))
    if mode in ("period_only", "period_plus_unrealized"):
        # null entry counts as in-period (realizedForMode,
        # ledger-engine.ts:1986: `if (!event.entryTimestamp) return true`)
        return in_period & (
            F.col("entry_timestamp").isNull()
            | (F.col("entry_timestamp") >= F.lit(start))
        )
    return in_period


def _realized_sums(keep: Column | None = None) -> list[Column]:
    """Per-wallet aggregates of realized events: the realized sum, the
    event count and the per-type components, over the rows where ``keep``
    holds (every row when None)."""
    # per-type realized components (formatResult's report buckets,
    # calculate-pnl.ts:36-42: sells / redemptions / merges / resolution
    # losses / fee refunds). NOTE: realized_pnl sums ALL realized events;
    # adapter-conversion realizations fall outside the five named buckets
    # (as in the reference's switch default), so the components need not
    # sum to the total when conversions realize.
    et = F.col("event_type")
    pnl = F.col("realized_pnl")

    def comp(cnd: Column, name: str) -> Column:
        if keep is not None:
            cnd = keep & cnd
        return dsum(F.when(cnd, pnl).otherwise(F.lit(0.0)), name)

    if keep is None:
        total, count = dsum(pnl, "realized_pnl"), F.count(F.lit(1))
    else:
        total = dsum(F.when(keep, pnl).otherwise(F.lit(0.0)), "realized_pnl")
        count = F.count(F.when(keep, F.lit(1)))
    return [
        total,
        count.alias("n_events"),
        comp(et == "trade_sell", "realized_from_sells"),
        comp(et.endswith("redemption"), "realized_from_redemptions"),
        comp(et.endswith("merge"), "realized_from_merges"),
        comp(et == "resolution", "realized_from_resolution_losses"),
        comp(et.startswith("fee_"), "realized_from_fees"),
    ]


def _with_marks(out: DataFrame) -> DataFrame:
    """Realized sums joined with marks: a missing value is 0, and
    ``total_pnl`` = realized + unrealized."""
    realized = [c for c in out.columns
                if c not in ("wallet", "n_events", *MARK_COLUMNS)]
    return out.select(
        "wallet",
        *[F.coalesce(c, F.lit(0.0)).alias(c) for c in realized],
        F.coalesce("n_events", F.lit(0)).alias("n_events"),
        *[F.coalesce(c, F.lit(0.0)).alias(c) for c in MARK_COLUMNS],
    ).withColumn("total_pnl", F.col("realized_pnl") + F.col("unrealized_pnl"))


def realized_pnl_by_mode(
    realized: DataFrame,
    start,
    end,
    mode: str = "with_history",
    marks: DataFrame | None = None,
) -> DataFrame:
    """Aggregate realized events per wallet under a PnL mode.

    Modes 3-4 additionally require ``marks`` — the per-wallet open-position
    mark from :func:`ledger.build.build_pnl_marks` (entry-filtered to the
    period for mode 3, unfiltered for mode 4) — and emit
    ``unrealized_pnl`` / ``total_pnl`` columns alongside the realized sum.
    """
    mode = _canonical_mode(mode)
    out = (realized.filter(_mode_filter(mode, start, end))
           .groupBy("wallet").agg(*_realized_sums()))
    if mode in ("period_plus_unrealized", "total"):
        if marks is None:
            raise ValueError(
                f"mode {mode!r} needs the open-position marks DataFrame "
                "(ledger.build.build_pnl_marks)"
            )
        out = _with_marks(out.join(marks, "wallet", "full"))
    return out


def pnl_by_mode(events: DataFrame, start, end, mode=DEFAULT_MODE) -> DataFrame:
    """End-to-end calculatePnl analog (ledger-engine.ts:1955-2055): the
    realized events and, for modes 3-4, the open-lot marks at ``end``, from
    one wallet-partitioned replay of the normalized event stream. Callers
    that already hold realized events can use :func:`realized_pnl_by_mode`
    directly."""
    from .build import build_realized_and_marks, build_realized_events

    mode = _canonical_mode(mode)
    if mode in ("period_only", "with_history"):
        return realized_pnl_by_mode(build_realized_events(events), start, end,
                                    mode)
    entry = (start, end) if mode == "period_plus_unrealized" else (None, None)
    # every replayed wallet has a mark row, so the wallet set is the full
    # join's; a mark row has no timestamp, so the mode filter skips it
    rows = build_realized_and_marks(events, end, *entry)
    return _with_marks(rows.groupBy("wallet").agg(
        *_realized_sums(_mode_filter(mode, start, end)),
        *[F.max(c).alias(c) for c in MARK_COLUMNS]))


def rollup_realized_1d(ledger_entries: DataFrame) -> DataFrame:
    """wallet × condition × day rollup of ledger entries (O4)."""
    return (
        ledger_entries.groupBy(
            "wallet",
            "condition_id",
            F.to_date("block_timestamp").alias("day"),
        )
        .agg(
            dsum(F.col("realized_pnl"), "realized_pnl"),
            dsum(F.abs(F.col("usdc_delta")), "gross_usdc"),
            F.count(F.when(F.col("realized_pnl") != 0, 1)).alias("n_realizing"),
            F.count(F.when(F.col("realized_pnl") > 0, 1)).alias("n_wins"),
            F.count(F.when(F.col("realized_pnl") < 0, 1)).alias("n_losses"),
        )
    )
