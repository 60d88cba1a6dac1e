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
    # and qty derivation both reuse the parsed column. SQL projections, as
    # in _domain_events: a one-wallet /pnl read builds this plan per request
    parsed = ev.filter("event_type IN ('purchase', 'click')").selectExpr(
        "user_id",
        "ts",
        "event_id",
        "event_type",
        "value",
        "CAST(get_json_object(props, '$.k') AS INT) AS k",
    )
    return parsed.filter("k IS NOT NULL").selectExpr(
        "user_id AS key",
        "ts",
        "event_id AS ord",
        "CASE WHEN event_type = 'purchase' THEN 1 ELSE -1 END AS side",
        "(k % 5) + 1 AS qty",
        "value AS price",
    )


def fifo_user_pnl(spark: SparkSession, sf_dir: str) -> DataFrame:
    return fifo_allocate(_fifo_input(spark, sf_dir))


# --- the full domain event mapping the FIFO ledger state machine (O1)
#     replays: wallets, conditions, yes/no tokens, and trade / split /
#     transfer / fee_refund kinds derived deterministically per row.


def _domain_events(
    spark: SparkSession, sf_dir: str, integer_splits: bool = False,
    user_id: int | None = None,
) -> DataFrame:
    """The ledger's domain events (ledger/prep.py schema) of every wallet,
    or of ``user_id``'s wallet only.

    ``user_id`` filters the raw rows before the mapping, so the parquet
    scan pushes ``user_id = u`` down and only that wallet's props are
    JSON-parsed (a filter on the derived ``wallet`` cannot be pushed).

    Rows with a null ``props.k`` would yield null qty/usdc and silently
    poison wallet books (ADVICE r1); they are excluded, mirroring
    ``_fifo_input``.

    ``integer_splits``: split amounts become (k % 3) + 1 instead of
    value/10 — the snapshot gate's integer-quantity domain, where every lot
    qty stays an exactly-representable integer so clamped inventory replay
    is bit-exact under ANY association order (see
    wallet_snapshot_positions).

    The mapping is two SQL projections: one ``selectExpr`` costs a handful
    of py4j calls, where the same plan built from Column calls costs about
    1,200, which dominated a one-wallet read.
    """
    ev = tables.load_table(spark, sf_dir, "events")
    if user_id is not None:
        ev = ev.filter(F.col("user_id") == user_id)
    k = "CAST(get_json_object(props, '$.k') AS INT)"
    market = "CAST(user_id % 10 AS STRING)"
    base = ev.filter("get_json_object(props, '$.k') IS NOT NULL").selectExpr(
        "concat('0xw', CAST(user_id AS STRING)) AS wallet",
        "ts",
        "event_id AS block_number",
        "CAST(0 AS BIGINT) AS log_index",
        "event_type",
        "value",
        f"{k} AS k",
        f"CAST(({k} % 5) + 1 AS DOUBLE) AS qd",
        f"concat('c', {market}) AS condition_id",
        f"concat('tok-yes-', {market}) AS yes",
        f"array(concat('tok-yes-', {market}), concat('tok-no-', {market}))"
        " AS legs",
    )
    typ = (
        "CASE WHEN event_type = 'purchase' THEN 'trade'"
        " WHEN event_type = 'click' THEN 'trade'"
        " WHEN event_type = 'signup' THEN 'split'"
        " WHEN event_type = 'view' THEN 'transfer'"
        " ELSE 'fee_refund' END"
    )
    split_usdc = ("CAST((k % 3) + 1 AS DOUBLE)" if integer_splits
                  else "value / 10.0D")
    return base.selectExpr(
        "wallet",
        "ts",
        "block_number",
        "log_index",
        f"{typ} AS type",
        f"CASE WHEN {typ} = 'transfer' THEN yes"
        f" ELSE CASE WHEN {typ} = 'trade' THEN yes ELSE '' END END"
        " AS token_id",
        "condition_id",
        f"CASE WHEN {typ} IN ('trade', 'transfer') THEN qd ELSE 0.0D END"
        " AS qty",
        f"CASE WHEN {typ} = 'trade' THEN value / 100.0D"
        f" WHEN {typ} = 'split' THEN {split_usdc}"
        f" WHEN {typ} = 'fee_refund' THEN value / 1000.0D"
        " ELSE 0.0D END AS usdc",
        "0.0D AS fee",
        "event_type = 'purchase' AS is_buy",
        "(k % 2) = 0 AS is_in",
        f"CASE WHEN {typ} = 'split' THEN legs"
        " ELSE CAST(NULL AS ARRAY<STRING>) END AS outcome_token_ids",
        "CAST(NULL AS ARRAY<DOUBLE>) AS payout_ratios",
        "CAST(NULL AS ARRAY<STRING>) AS mint_token_ids",
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
