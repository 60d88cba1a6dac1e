"""Market-domain view of the generic ``events`` table, and the aggregations
the serving layer shares with the registry gates.

Mapping to the reference's domain:
  user_id ↔ wallet, event_type ↔ trade side / event kind, value ↔ usdc
  amount, (ts, event_id) ↔ (block_timestamp, (block_number, log_index))
  deterministic order key, props ↔ metadata JSON.

This is the one home of that mapping: ``serve/``, ``cli.py`` and the
registry (``queries/events.py``, which keeps the DuckDB oracles) all
import it from here, so the served core never loads the registry.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from .determinism import dsum, ranked_topk
from .operators.fifo import fifo_allocate
# load_table is looked up on its module per call, so wrappers installed on
# sources.tables see these reads too
from .sources import tables

# Fixed clock for every now()-relative window (reference src/api.ts:288-293;
# deterministic tests per SURVEY §7).
FIXED_NOW = "2024-01-30 00:00:00"

# Wallet snapshot cadence of the O2 snapshot tier.
SNAPSHOT_INTERVAL_S = 86400


# --- user_stats: A1/A3/A4 per-user profile (reference /user/stats,
#     src/api.ts:1034-1044; uniqExact :354; argMax :813-815).


def user_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = tables.load_table(spark, sf_dir, "events")
    return ev.groupBy("user_id").agg(
        F.count(F.lit(1)).alias("n_events"),
        F.countDistinct("event_type").alias("n_types"),
        dsum(
            F.when(F.col("event_type") == "purchase", F.col("value")).otherwise(
                F.lit(0.0)
            ),
            "purchase_value",
        ),
        F.max("value").alias("max_value"),
        F.max_by("event_type", "event_id").alias("last_type"),
        F.min("ts").alias("first_seen"),
    )


# --- top_users_by_volume: T1 top-k leaderboard (reference /leaderboard
#     sort=volume, src/api.ts:339-368) with deterministic rank.


def top_users_by_volume(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = tables.load_table(spark, sf_dir, "events").filter(
        F.col("event_type") == "purchase"
    )
    agg = ev.groupBy("user_id").agg(
        dsum(F.col("value"), "volume"), F.count(F.lit(1)).alias("n_trades")
    )
    return ranked_topk(
        agg, [F.desc("volume"), F.asc("user_id")], 10
    ).select("rank", "user_id", "volume", "n_trades")


# --- fifo_user_pnl: O1 FIFO-lot allocation (reference ledger engine,
#     src/ledger-engine.ts:67-154,914-1953) as a grouped-map pandas operator.


def _fifo_input(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = tables.load_table(spark, sf_dir, "events")
    # extract the JSON field once behind a projection boundary — the filter
    # and qty derivation both reuse the parsed column
    parsed = ev.filter(F.col("event_type").isin("purchase", "click")).select(
        "user_id",
        "ts",
        "event_id",
        "event_type",
        "value",
        F.get_json_object(F.col("props"), "$.k").cast("int").alias("k"),
    )
    return parsed.filter(F.col("k").isNotNull()).select(
        F.col("user_id").alias("key"),
        "ts",
        F.col("event_id").alias("ord"),
        F.when(F.col("event_type") == "purchase", 1).otherwise(-1).alias("side"),
        ((F.col("k") % 5) + 1).alias("qty"),
        F.col("value").alias("price"),
    )


def fifo_user_pnl(spark: SparkSession, sf_dir: str) -> DataFrame:
    return fifo_allocate(_fifo_input(spark, sf_dir))


# --- the full domain event mapping the FIFO ledger state machine (O1)
#     replays: wallets, conditions, yes/no tokens, and trade / split /
#     transfer / fee_refund kinds derived deterministically per row.


def _domain_events(
    spark: SparkSession, sf_dir: str, integer_splits: bool = False
) -> DataFrame:
    # rows with null props.k would yield null qty/usdc and silently poison
    # wallet books (ADVICE r1) — exclude them, mirroring _fifo_input
    #
    # integer_splits: split amounts become (k % 3) + 1 instead of value/10 —
    # the snapshot gate's integer-quantity domain, where every lot qty stays
    # an exactly-representable integer so clamped inventory replay is
    # bit-exact under ANY association order (see wallet_snapshot_positions).
    ev = tables.load_table(spark, sf_dir, "events").filter(
        F.get_json_object(F.col("props"), "$.k").isNotNull()
    )
    k = F.get_json_object(F.col("props"), "$.k").cast("int")
    wallet = F.concat(F.lit("0xw"), F.col("user_id").cast("string"))
    cond = F.concat(F.lit("c"), (F.col("user_id") % 10).cast("string"))
    yes = F.concat(F.lit("tok-yes-"), (F.col("user_id") % 10).cast("string"))
    no = F.concat(F.lit("tok-no-"), (F.col("user_id") % 10).cast("string"))
    legs = F.array(yes, no)
    qty = ((k % 5) + 1).cast("double")
    base = ev.select(
        wallet.alias("wallet"),
        F.col("ts"),
        F.col("event_id").alias("block_number"),
        F.lit(0).cast("long").alias("log_index"),
        F.col("event_type"),
        F.col("value"),
        k.alias("k"),
        qty.alias("qd"),
        cond.alias("condition_id"),
        yes.alias("yes"),
        no.alias("no"),
        legs.alias("legs"),
    )
    typ = (
        F.when(F.col("event_type") == "purchase", F.lit("trade"))
        .when(F.col("event_type") == "click", F.lit("trade"))
        .when(F.col("event_type") == "signup", F.lit("split"))
        .when(F.col("event_type") == "view", F.lit("transfer"))
        .otherwise(F.lit("fee_refund"))
    )
    return base.select(
        "wallet",
        "ts",
        "block_number",
        "log_index",
        typ.alias("type"),
        F.when(typ == "transfer", F.col("yes")).otherwise(
            F.when(typ == "trade", F.col("yes")).otherwise(F.lit(""))
        ).alias("token_id"),
        F.col("condition_id"),
        F.when(typ.isin("trade", "transfer"), F.col("qd")).otherwise(F.lit(0.0)).alias("qty"),
        F.when(typ == "trade", F.col("value") / 100.0)
        .when(
            typ == "split",
            ((F.col("k") % 3) + 1).cast("double")
            if integer_splits
            else F.col("value") / 10.0,
        )
        .when(typ == "fee_refund", F.col("value") / 1000.0)
        .otherwise(F.lit(0.0))
        .alias("usdc"),
        F.lit(0.0).alias("fee"),
        (F.col("event_type") == "purchase").alias("is_buy"),
        ((F.col("k") % 2) == 0).alias("is_in"),
        F.when(typ == "split", F.col("legs")).otherwise(
            F.lit(None).cast("array<string>")
        ).alias("outcome_token_ids"),
        F.lit(None).cast("array<double>").alias("payout_ratios"),
        F.lit(None).cast("array<string>").alias("mint_token_ids"),
    )


# --- category_leaderboard: the reference's category-filtered leaderboard
#     end-to-end (queryLeaderboardFromRawFiltered, src/api.ts:597-635):
#     trades -> token metadata -> SCD2 category view -> filter -> agg ->
#     HAVING -> top-k. The category dimension is derived from the signup
#     stream as a versioned history; the plan builds the SCD2 intervals
#     with F.lead (W1 — the reference's market_categories_history_scd2
#     view, 001:508-522) and joins trades by interval containment against
#     the BROADCAST dimension (no fact-table shuffle — the scale-correct
#     shape for a dimension-sized SCD2 table).


def category_leaderboard(
    spark: SparkSession, sf_dir: str, category: str = "cat1"
) -> DataFrame:
    ev = tables.load_table(spark, sf_dir, "events").withColumn(
        "k", F.get_json_object(F.col("props"), "$.k").cast("int")
    ).filter(F.col("k").isNotNull())
    cond = F.concat(F.lit("c"), (F.col("k") % 10).cast("string"))

    # versioned category history (market_categories_history analog)
    w = Window.partitionBy("condition_id").orderBy("valid_from", "event_id")
    intervals = (
        ev.filter(F.col("event_type") == "signup")
        .select(
            cond.alias("condition_id"),
            F.col("ts").alias("valid_from"),
            F.col("event_id"),
            F.concat(F.lit("cat"), (F.col("k") % 3).cast("string")).alias("category"),
        )
        .withColumn(
            "valid_to",
            F.coalesce(
                F.lead("valid_from", 1).over(w),
                F.lit("2100-01-01").cast("timestamp"),
            ),
        )
        # same-timestamp versions leave the earlier one an empty interval —
        # the max-event_id version wins, matching the oracle's arg_max
        .filter(F.col("valid_from") < F.col("valid_to"))
        .select("condition_id", "category", "valid_from", "valid_to")
    )

    trades = ev.filter(F.col("event_type").isin("purchase", "click")).select(
        F.concat(F.lit("0xw"), F.col("user_id").cast("string")).alias("wallet"),
        cond.alias("condition_id"),
        (F.col("value") / 100.0).alias("usdc"),
        (F.col("event_type") == "click").alias("is_sell"),
        F.col("ts"),
    )

    j = trades.join(
        F.broadcast(intervals),
        (trades.condition_id == intervals.condition_id)
        & (trades.ts >= intervals.valid_from)
        & (trades.ts < intervals.valid_to),
    ).select(trades.wallet, trades.condition_id, "usdc", "is_sell", "category")

    agg = (
        j.filter(F.col("category") == category)
        .groupBy("wallet")
        .agg(
            F.count(F.lit(1)).alias("total_trades"),
            dsum(F.col("usdc"), "total_volume"),
            dsum(
                F.when(F.col("is_sell"), F.col("usdc")).otherwise(-F.col("usdc")),
                "net_cashflow",
            ),
            F.countDistinct("condition_id").alias("markets_traded"),
        )
        .filter(F.col("total_trades") >= 5)  # reference HAVING totalTrades >= 5
    )
    return ranked_topk(
        agg, [F.desc("net_cashflow"), F.asc("wallet")], 100
    ).select(
        "rank", "wallet", "total_trades", "total_volume",
        "net_cashflow", "markets_traded",
    )
