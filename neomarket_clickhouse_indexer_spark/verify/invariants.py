"""Verification harnesses — the reference's operational correctness checks
re-expressed as distributed assertions.

- O7 invariant checker: running inventory per (wallet, token) must never go
  negative during replay (reference /leaderboard/explain
  ``never_negative_inventory``, src/api.ts:1593-1636,1663-1667).
- O5 reconciliation: ledger-derived open positions vs an external balance
  snapshot (reference balanceOfBatch on-chain read,
  src/reconcile-balances.ts:39-74) — here the external frame is injected
  (any source: RPC dump, user_balances table), tolerance compare.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, Window
from pyspark.sql import functions as F


def check_non_negative_inventory(
    ledger_entries: DataFrame, eps: float = 1e-6
) -> DataFrame:
    """Returns violations: (wallet, token_id, min_running_qty) rows where
    the running signed quantity dips below -eps. Empty result == invariant
    holds. One window pass, partitioned on (wallet, token)."""
    signed = (
        F.when(F.col("event_type").isin(
            "trade_buy", "transfer_in"), F.col("quantity"))
        .when(F.col("event_type").isin(
            "trade_sell", "transfer_out", "resolution_loss"), -F.col("quantity"))
        .otherwise(F.lit(0.0))
    )
    w = (
        Window.partitionBy("wallet", "token_id")
        .orderBy("block_timestamp", "block_number", "log_index")
        .rowsBetween(Window.unboundedPreceding, 0)
    )
    running = ledger_entries.filter(F.col("token_id") != "").withColumn(
        "running_qty", F.sum(signed).over(w)
    )
    return (
        running.groupBy("wallet", "token_id")
        .agg(F.min("running_qty").alias("min_running_qty"))
        .filter(F.col("min_running_qty") < -eps)
    )


def signed_quantity(entry: dict) -> float:
    """A ledger entry's inventory change: the ``signed`` column of
    :func:`check_non_negative_inventory` for one ``LedgerEngine`` entry."""
    if entry["event_type"] in ("trade_buy", "transfer_in"):
        return entry["quantity"]
    if entry["event_type"] in ("trade_sell", "transfer_out", "resolution_loss"):
        return -entry["quantity"]
    return 0.0


def inventory_violations(entries: list[dict], eps: float = 1e-6
                         ) -> list[dict]:
    """:func:`check_non_negative_inventory` over one replay's ledger entries
    (``LedgerEngine.entries``) in process: the same running double sums in
    the same order, so the same ``(wallet, token_id, min_running_qty)``
    rows, without a Spark job."""
    order = sorted(entries, key=lambda e: (
        e["block_timestamp"], e["block_number"], e["log_index"]))
    running: dict[tuple, list[float]] = {}  # (wallet, token) -> [sum, min]
    for e in order:
        if e["token_id"] == "":
            continue
        acc = running.setdefault((e["wallet"], e["token_id"]),
                                 [0.0, float("inf")])
        acc[0] += signed_quantity(e)
        acc[1] = min(acc[1], acc[0])
    return [{"wallet": w, "token_id": t, "min_running_qty": m}
            for (w, t), (_, m) in running.items() if m < -eps]


def reconcile_balances(
    ledger_open: DataFrame, external: DataFrame, tolerance: float = 1e-4
) -> DataFrame:
    """Full-outer compare of (wallet, token_id, qty) frames; returns rows
    whose |ledger − external| exceeds tolerance (reference tolerance 1e-4,
    reconcile-balances.ts:26-75). Empty result == reconciled."""
    l = ledger_open.select("wallet", "token_id", F.col("qty").alias("ledger_qty"))
    e = external.select("wallet", "token_id", F.col("qty").alias("external_qty"))
    joined = l.join(e, ["wallet", "token_id"], "full_outer").select(
        "wallet",
        "token_id",
        F.coalesce("ledger_qty", F.lit(0.0)).alias("ledger_qty"),
        F.coalesce("external_qty", F.lit(0.0)).alias("external_qty"),
    )
    return joined.filter(
        F.abs(F.col("ledger_qty") - F.col("external_qty")) > tolerance
    )
