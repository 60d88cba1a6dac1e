"""Event-stream query surface — the reference's analytics shapes re-expressed
over the generic ``events`` table (event_id, ts, user_id, event_type, value,
props JSON).

The domain mapping and the aggregations serving shares with these gates
live in ``domain.py``; this module keeps their DuckDB oracles next to the
registry-only gates.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from ..domain import (  # noqa: F401 — re-exported for the registry
    FIXED_NOW, SNAPSHOT_INTERVAL_S, _domain_events, _fifo_input,
    category_leaderboard, fifo_user_pnl, top_users_by_volume, user_stats,
)
from ..operators.asof import asof_join
from ..operators.candles import finalize, ohlcv, rebucket
from ..operators.dedup import latest_by_key
# fifo_allocate stays a module attribute for tracers that patch it here
from ..operators.fifo import fifo_allocate, fifo_allocate_sql  # noqa: F401
from ..sources.tables import load_table
from .util import DEC, EVENTS_SQL, dsum, ranked_topk, sql_dsum

# --- latest_event_per_user: W3 latest-by-key dedup view (ReplacingMergeTree
#     FINAL / LIMIT 1 BY; reference src/api.ts:74, CLICKHOUSE_INDEXER_PLAN.md:26).


def latest_event_per_user(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = load_table(spark, sf_dir, "events")
    return latest_by_key(ev, ["user_id"], ["ts", "event_id"]).select(
        "user_id", "event_id", "event_type", "value"
    )


LATEST_EVENT_PER_USER_SQL = f"""
SELECT user_id, event_id, event_type, value
FROM (
  SELECT user_id, event_id, event_type, value,
         ROW_NUMBER() OVER (PARTITION BY user_id ORDER BY ts DESC, event_id DESC) AS rn
  FROM {EVENTS_SQL} e
)
WHERE rn = 1
"""


# --- user_running_value: W2 running cumulative sum (reference running PnL /
#     inventory, src/api.ts:1592-1636). Exact decimal accumulation.


def user_running_value(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = load_table(spark, sf_dir, "events")
    w = (
        Window.partitionBy("user_id")
        .orderBy("ts", "event_id")
        .rowsBetween(Window.unboundedPreceding, 0)
    )
    return ev.select(
        "event_id",
        "user_id",
        F.round(F.sum(F.col("value").cast(DEC)).over(w), 4)
        .cast("double")
        .alias("running_value"),
    )


USER_RUNNING_VALUE_SQL = f"""
SELECT event_id, user_id,
       CAST(ROUND(SUM(CAST(value AS DECIMAL(30,10)))
             OVER (PARTITION BY user_id ORDER BY ts, event_id
                   ROWS UNBOUNDED PRECEDING), 4) AS DOUBLE) AS running_value
FROM {EVENTS_SQL} e
"""


# --- candles_1m / candles_5m: A7/A8 OHLCV pre-aggregation + re-bucketing
#     (reference candles_1m MV 001:403-430; re-bucket reads api.ts:1821-1879).
#     The 5m query composes rebucket() over the 1m partials — the oracle
#     computes 5m directly from raw events, so the partial-merge path is
#     genuinely differentially tested.


def candles_1m(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = load_table(spark, sf_dir, "events")
    c = ohlcv(ev, key="event_type", ts="ts", price="value", ord_col="event_id", bucket_seconds=60)
    return finalize(c).withColumnRenamed("key", "event_type")


def candles_5m_rebucketed(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = load_table(spark, sf_dir, "events")
    c1 = ohlcv(ev, key="event_type", ts="ts", price="value", ord_col="event_id", bucket_seconds=60)
    return finalize(rebucket(c1, 300)).withColumnRenamed("key", "event_type")


def _candles_sql(seconds: int) -> str:
    return f"""
SELECT event_type,
       CAST(to_timestamp(CAST(floor(epoch(ts)) AS BIGINT) - (CAST(floor(epoch(ts)) AS BIGINT) % {seconds})) AS TIMESTAMP) AS bucket,
       arg_min(value, event_id) AS open,
       MAX(value) AS high,
       MIN(value) AS low,
       arg_max(value, event_id) AS close,
       {sql_dsum("value", "volume")},
       COUNT(*) AS trades
FROM {EVENTS_SQL} e
GROUP BY 1, 2
"""


CANDLES_1M_SQL = _candles_sql(60)
CANDLES_5M_SQL = _candles_sql(300)


# --- hourly_type_volume: A1 + toStartOfHour bucketing (reference
#     token_volume_1h MV, 001:571-589).


def hourly_type_volume(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = load_table(spark, sf_dir, "events")
    return ev.groupBy(
        F.date_trunc("hour", F.col("ts")).alias("hour"), "event_type"
    ).agg(F.count(F.lit(1)).alias("n_events"), dsum(F.col("value"), "volume"))


HOURLY_TYPE_VOLUME_SQL = f"""
SELECT date_trunc('hour', ts) AS hour, event_type,
       COUNT(*) AS n_events, {sql_dsum("value", "volume")}
FROM {EVENTS_SQL} e
GROUP BY 1, 2
"""


# --- user_stats: A1/A3/A4 per-user profile (reference /user/stats,
#     src/api.ts:1034-1044; uniqExact :354; argMax :813-815). Spark plan in
#     domain.py.

USER_STATS_SQL = f"""
SELECT user_id,
       COUNT(*) AS n_events,
       COUNT(DISTINCT event_type) AS n_types,
       {sql_dsum("CASE WHEN event_type = 'purchase' THEN value ELSE 0.0 END", "purchase_value")},
       MAX(value) AS max_value,
       arg_max(event_type, event_id) AS last_type,
       MIN(ts) AS first_seen
FROM {EVENTS_SQL} e
GROUP BY user_id
"""


# --- top_users_by_volume: T1 top-k leaderboard (reference /leaderboard
#     sort=volume, src/api.ts:339-368) with deterministic rank. Spark plan in
#     domain.py.

TOP_USERS_BY_VOLUME_SQL = f"""
WITH agg AS (
  SELECT user_id, {sql_dsum("value", "volume")}, COUNT(*) AS n_trades
  FROM {EVENTS_SQL} e WHERE event_type = 'purchase' GROUP BY user_id
)
SELECT rank, user_id, volume, n_trades
FROM (
  SELECT user_id, volume, n_trades,
         ROW_NUMBER() OVER (ORDER BY volume DESC, user_id) AS rank
  FROM agg
)
WHERE rank <= 10
"""


# --- last_view_before_purchase: J6 as-of join (reference snapshot as-of reads,
#     src/api.ts:639-661). Spark uses the single-pass union+carry-forward
#     operator; the oracle uses DuckDB's native ASOF JOIN — independent
#     algorithms, same semantics.


def last_view_before_purchase(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = load_table(spark, sf_dir, "events")
    purchases = ev.filter(F.col("event_type") == "purchase").select(
        "event_id", "user_id", "ts"
    )
    views = ev.filter(F.col("event_type") == "view").select(
        "event_id", "user_id", "ts", "value"
    )
    out = asof_join(
        probes=purchases,
        anchors=views,
        on=["user_id"],
        ts="ts",
        payload=["value"],
        tiebreak="event_id",
    )
    return out.select(
        F.col("event_id").alias("purchase_id"),
        "user_id",
        F.col("asof_value").alias("last_view_value"),
    )


LAST_VIEW_BEFORE_PURCHASE_SQL = f"""
WITH e AS (SELECT * FROM {EVENTS_SQL}),
p AS (SELECT event_id, user_id, ts FROM e WHERE event_type = 'purchase'),
-- tie-proof anchors: when two views share (user_id, ts) the Spark operator
-- deterministically keeps the max-event_id one; ASOF JOIN alone would pick
-- an arbitrary same-ts row, so pre-collapse with arg_max (ADVICE r1)
v AS (
  SELECT user_id, ts, arg_max(value, event_id) AS value
  FROM e WHERE event_type = 'view' GROUP BY user_id, ts
)
SELECT p.event_id AS purchase_id, p.user_id, v.value AS last_view_value
FROM p ASOF LEFT JOIN v ON p.user_id = v.user_id AND v.ts <= p.ts
"""


# --- signup_intervals: W1 SCD2 lead-window valid_to derivation (reference
#     market_categories_history_scd2 view, 001:508-522).


def signup_intervals(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = load_table(spark, sf_dir, "events").filter(
        F.col("event_type") == "signup"
    )
    w = Window.partitionBy("user_id").orderBy("ts", "event_id")
    return ev.select(
        "user_id",
        F.col("ts").alias("valid_from"),
        F.coalesce(
            F.lead("ts", 1).over(w), F.lit("2100-01-01").cast("timestamp")
        ).alias("valid_to"),
    )


SIGNUP_INTERVALS_SQL = f"""
SELECT user_id, ts AS valid_from,
       COALESCE(LEAD(ts) OVER (PARTITION BY user_id ORDER BY ts, event_id),
                TIMESTAMP '2100-01-01') AS valid_to
FROM {EVENTS_SQL} e
WHERE event_type = 'signup'
"""


# --- hour_bucket_last: W5 last-value-per-bucket (reference portfolio history
#     argMax(value, snapshot_time) per interval, src/api.ts:993-1009).


def hour_bucket_last(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = load_table(spark, sf_dir, "events")
    return ev.groupBy(
        "user_id", F.date_trunc("hour", F.col("ts")).alias("hour")
    ).agg(F.max_by("value", "event_id").alias("last_value"))


HOUR_BUCKET_LAST_SQL = f"""
SELECT user_id, date_trunc('hour', ts) AS hour,
       arg_max(value, event_id) AS last_value
FROM {EVENTS_SQL} e
GROUP BY 1, 2
"""


# --- props_bucket_agg: JSON extraction (reference metadata JSON strings,
#     src/ledger-engine.ts:861) + A1.


def props_bucket_agg(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = load_table(spark, sf_dir, "events")
    k = F.get_json_object(F.col("props"), "$.k").cast("long")
    return (
        ev.select((k % 10).alias("k_bucket"), "value")
        .groupBy("k_bucket")
        .agg(F.count(F.lit(1)).alias("n"), dsum(F.col("value"), "total_value"))
    )


PROPS_BUCKET_AGG_SQL = f"""
SELECT CAST(json_extract_string(props, '$.k') AS BIGINT) % 10 AS k_bucket,
       COUNT(*) AS n, {sql_dsum("value", "total_value")}
FROM {EVENTS_SQL} e
GROUP BY 1
"""


# --- recent_window_activity: P7 time-window predicate with injectable "now"
#     (reference now()-relative windows, src/api.ts:288-293; fixed clock for
#     deterministic tests per SURVEY §7; FIXED_NOW lives in domain.py).


def recent_window_activity(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = load_table(spark, sf_dir, "events")
    now = F.lit(FIXED_NOW).cast("timestamp")
    return (
        ev.filter(
            (F.col("ts") >= now - F.expr("INTERVAL 24 HOURS")) & (F.col("ts") < now)
        )
        .groupBy("event_type")
        .agg(F.count(F.lit(1)).alias("n_events"), dsum(F.col("value"), "volume"))
    )


RECENT_WINDOW_ACTIVITY_SQL = f"""
SELECT event_type, COUNT(*) AS n_events, {sql_dsum("value", "volume")}
FROM {EVENTS_SQL} e
WHERE ts >= TIMESTAMP '{FIXED_NOW}' - INTERVAL 24 HOUR
  AND ts < TIMESTAMP '{FIXED_NOW}'
GROUP BY event_type
"""


# --- fifo_user_pnl: O1 FIFO-lot allocation (reference ledger engine,
#     src/ledger-engine.ts:67-154,914-1953) as a grouped-map pandas operator
#     (domain.py); oracle is the independent cumulative-interval SQL
#     formulation.

FIFO_USER_PNL_SQL = fifo_allocate_sql(
    f"""(
  SELECT user_id AS key, ts, event_id AS ord,
         CASE WHEN event_type = 'purchase' THEN 1 ELSE -1 END AS side,
         (CAST(json_extract_string(props, '$.k') AS INT) % 5) + 1 AS qty,
         value AS price
  FROM {EVENTS_SQL} e
  WHERE event_type IN ('purchase', 'click')
    AND json_extract_string(props, '$.k') IS NOT NULL
)"""
)


# --- domain_ledger_summary: the full domain FIFO ledger state machine (O1)
#     driven by a deterministic mapping of the generic events table onto
#     domain event types (domain.py::_domain_events). No SQL oracle
#     (stateful replay is not SQL-expressible) — the gate records a
#     rows-only check; correctness
#     is covered by tests/test_ledger_engine.py golden scenarios and the
#     distributed-vs-local differential in tests/test_ledger_spark.py.


def _injected_conversion_events(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Deterministic negRisk conversion + resolution events, one of each per
    wallet (the validation_quarantine injection doctrine): the driver
    fixtures ship no adapter_conversion events (DIVERGENCES.md #5), so these
    drive the engine's conversion handler (ledger-engine.ts:1670-1751) and
    resolution write-off (ledger-engine.ts:1865-1910) under external gates.

    Exactness design (no cross-row float folds reach the oracle):

    - the burned leg (``tok-no-N``) is minted ONLY by integer splits at
      unit cost 1/2, so its consumed FIFO cost is ``0.5 * Σ int`` — a dyadic
      rational identical under ANY association order;
    - conversion qty = 2^40 (consumes the whole position; larger than any
      fixture inventory) so the minted leg's unit cost ``carry / 2^40`` and
      the resolution's consumed cost ``2^40 * (carry / 2^40)`` are exact
      power-of-two exponent shifts — the resolution loss is exactly
      ``-carry``;
    - cash received = ``user_id % 7`` (exact small integer).
    """
    ev = load_table(spark, sf_dir, "events").filter(
        F.get_json_object(F.col("props"), "$.k").isNotNull()
    )
    users = ev.select("user_id").distinct()
    wallet = F.concat(F.lit("0xw"), F.col("user_id").cast("string"))
    cond = F.concat(F.lit("c"), (F.col("user_id") % 10).cast("string"))
    no = F.concat(F.lit("tok-no-"), (F.col("user_id") % 10).cast("string"))
    conv_tok = F.concat(
        F.lit("tok-conv-"), (F.col("user_id") % 10).cast("string")
    )

    def _shared(typ: str, ts: str):
        return [
            wallet.alias("wallet"),
            F.lit(ts).cast("timestamp").alias("ts"),
            F.lit(0).cast("long").alias("block_number"),
            F.lit(0).cast("long").alias("log_index"),
            F.lit(typ).alias("type"),
            F.lit("").alias("token_id"),
            cond.alias("condition_id"),
        ]

    conv = users.select(
        *_shared("adapter_conversion", "2030-01-01 00:00:00"),
        F.lit(float(2**40)).alias("qty"),
        (F.col("user_id") % 7).cast("double").alias("usdc"),
        F.lit(0.0).alias("fee"),
        F.lit(False).alias("is_buy"),
        F.lit(False).alias("is_in"),
        F.array(no).alias("outcome_token_ids"),
        F.lit(None).cast("array<double>").alias("payout_ratios"),
        F.array(conv_tok).alias("mint_token_ids"),
    )
    reso = users.select(
        *_shared("resolution", "2030-01-02 00:00:00"),
        F.lit(0.0).alias("qty"),
        F.lit(0.0).alias("usdc"),
        F.lit(0.0).alias("fee"),
        F.lit(False).alias("is_buy"),
        F.lit(False).alias("is_in"),
        F.array(conv_tok).alias("outcome_token_ids"),
        F.array(F.lit(0.0)).alias("payout_ratios"),
        F.lit(None).cast("array<string>").alias("mint_token_ids"),
    )
    return conv.unionByName(reso)


def domain_ledger_summary(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Run the FULL domain FIFO ledger replay (O1), then project per-wallet
    summaries that an independent SQL oracle can verify exactly:

    - by-type cashflow sums and entry/token counts are *pure* functions of
      the input events (the engine's usdc_delta for every domain event type
      is input-determined), so the oracle recomputes them from the raw
      events table by mirroring the _domain_events mapping + the engine's
      emission guards — verifying event routing, normalization and entry
      emission through the whole replay;
    - ``conservation_residual`` is the engine's accounting identity
      Δopen_cost + Δcashflow − Δrealized = 0 per entry (transfers move
      inventory with no cash/PnL, so their cost terms are excluded). The
      replay guarantees ≈0 up to float ulps; each per-entry term is
      quantized via DECIMAL(30,10) so the exact sum is 0 when the state
      machine is consistent. The oracle asserts the literal identity.

    Replaces the round-1 rows-only check (VERDICT.md 'What's missing' #2);
    the state-machine internals stay covered by tests/test_ledger_engine.py
    goldens and the order-sensitive differentials.

    r11: the replay now ALSO executes the engine's hardest branches — the
    negRisk conversion handler (ledger-engine.ts:1670-1751) and the
    resolution write-off (ledger-engine.ts:1865-1910) — via one injected
    adapter_conversion + resolution pair per wallet
    (:func:`_injected_conversion_events`). The integer-split domain
    (``integer_splits=True``) keeps the burned leg's FIFO cost an exact
    dyadic rational, so the conversion's cash/cost/realized and the
    resolution loss are pure functions of the input the oracle recomputes
    exactly; ``n_conversions``/``n_resolution_losses`` assert the injected
    branches actually emitted (= 1 per wallet).
    """
    from ..ledger.build import build_wallet_ledger

    events = _domain_events(spark, sf_dir, integer_splits=True).unionByName(
        _injected_conversion_events(spark, sf_dir)
    )
    entries = build_wallet_ledger(events)
    t = F.col("event_type")
    cash = F.col("usdc_delta")
    oc_delta = (
        F.when(t.isin("trade_buy", "split", "adapter_split"), F.col("cost_basis"))
        .when(
            t.isin(
                "trade_sell", "merge", "adapter_merge", "redemption",
                "adapter_redemption", "resolution_loss",
            ),
            -F.col("cost_basis"),
        )
        .when(
            # conversion: burn total_cost, mint carry = max(cost - cash, 0)
            t == "adapter_conversion",
            F.greatest(F.col("cost_basis") - cash, F.lit(0.0))
            - F.col("cost_basis"),
        )
        .otherwise(F.lit(0.0))
    )
    contrib = oc_delta + cash - F.col("realized_pnl")

    def _cash(types: list[str], alias: str):
        return dsum(F.when(t.isin(*types), cash).otherwise(F.lit(0.0)), alias)

    def _realized(types: list[str], alias: str):
        return dsum(
            F.when(t.isin(*types), F.col("realized_pnl")).otherwise(F.lit(0.0)),
            alias,
        )

    return entries.groupBy("wallet").agg(
        F.count(F.lit(1)).alias("n_entries"),
        F.countDistinct("token_id").alias("n_tokens"),
        _cash(["trade_buy"], "buy_cash"),
        _cash(["trade_sell"], "sell_cash"),
        _cash(["split"], "split_cash"),
        _cash(["fee_refund", "fee_withdrawal"], "fee_cash"),
        dsum(cash, "net_cashflow"),
        F.count(F.when(t == "adapter_conversion", 1)).alias("n_conversions"),
        _cash(["adapter_conversion"], "conv_cash"),
        dsum(
            F.when(t == "adapter_conversion", F.col("cost_basis")).otherwise(
                F.lit(0.0)
            ),
            "conv_cost",
        ),
        _realized(["adapter_conversion"], "conv_realized"),
        F.count(F.when(t == "resolution_loss", 1)).alias(
            "n_resolution_losses"
        ),
        _realized(["resolution_loss"], "res_loss_realized"),
        F.round(F.abs(F.sum(contrib.cast(DEC))), 4)
        .cast("double")
        .alias("conservation_residual"),
    )


# Oracle: recompute the pure projections straight from the events table by
# mirroring _domain_events (integer splits always emit) and the injected
# conversion/resolution pair's closed-form outcome: the burned leg's FIFO
# cost is exactly 0.5 * Σ split ints (dyadic, association-free), conversion
# realized = max(cash - cost, 0), resolution loss = -max(cost - cash, 0)
# (written 0.0 - GREATEST so a zero loss is +0.0 in both engines); the
# conservation identity is asserted as literal 0.
DOMAIN_LEDGER_SUMMARY_SQL = f"""
WITH src AS (
  SELECT '0xw' || CAST(user_id AS VARCHAR) AS wallet,
         user_id, event_type, value,
         CAST(json_extract_string(props, '$.k') AS INT) AS k,
         'tok-yes-' || CAST(user_id % 10 AS VARCHAR) AS yes_token
  FROM {EVENTS_SQL} e
  WHERE json_extract_string(props, '$.k') IS NOT NULL
),
cw AS (
  SELECT wallet,
         CAST(ANY_VALUE(user_id) % 7 AS DOUBLE) AS cash,
         0.5 * CAST(COALESCE(SUM(CASE WHEN event_type = 'signup'
                                      THEN (k % 3) + 1 END), 0) AS DOUBLE)
           AS burn_cost
  FROM src GROUP BY wallet
),
mrows AS (
  SELECT wallet,
         CASE WHEN event_type IN ('purchase', 'click', 'view', 'signup')
              THEN yes_token ELSE '' END AS token,
         CASE WHEN event_type = 'purchase' THEN -value / 100.0 ELSE 0.0 END AS buy_c,
         CASE WHEN event_type = 'click' THEN value / 100.0 ELSE 0.0 END AS sell_c,
         CASE WHEN event_type = 'signup' THEN -CAST((k % 3) + 1 AS DOUBLE)
              ELSE 0.0 END AS split_c,
         CASE WHEN event_type NOT IN ('purchase', 'click', 'signup', 'view')
              THEN value / 1000.0 ELSE 0.0 END AS fee_c,
         0.0 AS conv_c
  FROM src
  UNION ALL
  -- the injected conversion entry's cashflow (the resolution-loss entry
  -- and transfers carry usdc_delta = 0 and quantize to nothing)
  SELECT wallet, NULL AS token, 0.0, 0.0, 0.0, 0.0, cash AS conv_c FROM cw
),
agg AS (
  SELECT wallet,
         CAST(COUNT(*) + 1 AS BIGINT) AS n_entries,
         CAST(COUNT(DISTINCT token) + 2 AS BIGINT) AS n_tokens,
         {sql_dsum("buy_c", "buy_cash")},
         {sql_dsum("sell_c", "sell_cash")},
         {sql_dsum("split_c", "split_cash")},
         {sql_dsum("fee_c", "fee_cash")},
         {sql_dsum("conv_c", "conv_cash")},
         {sql_dsum("buy_c + sell_c + split_c + fee_c + conv_c", "net_cashflow")}
  FROM mrows
  GROUP BY wallet
)
SELECT a.wallet,
       a.n_entries, a.n_tokens, a.buy_cash, a.sell_cash, a.split_cash,
       a.fee_cash, a.net_cashflow,
       CAST(1 AS BIGINT) AS n_conversions,
       a.conv_cash,
       c.burn_cost AS conv_cost,
       GREATEST(c.cash - c.burn_cost, 0.0) AS conv_realized,
       CAST(1 AS BIGINT) AS n_resolution_losses,
       0.0 - GREATEST(c.burn_cost - c.cash, 0.0) AS res_loss_realized,
       CAST(0.0 AS DOUBLE) AS conservation_residual
FROM agg a JOIN cw c USING (wallet)
"""


# --- user_type_winloss: A13 two-level fold (reference win/loss/best/worst
#     per condition from grouped PnL, src/api.ts:1071-1116): level 1 = net
#     value per (user, event_type); level 2 = per-user fold with
#     deterministic best/worst selection.


def user_type_winloss(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = load_table(spark, sf_dir, "events")
    signed = F.when(F.col("event_type") == "purchase", F.col("value")).otherwise(
        -F.col("value")
    )
    per_type = ev.groupBy("user_id", "event_type").agg(dsum(signed, "net"))
    w_best = Window.partitionBy("user_id").orderBy(
        F.desc("net"), F.asc("event_type")
    )
    w_worst = Window.partitionBy("user_id").orderBy(
        F.asc("net"), F.asc("event_type")
    )
    ranked = per_type.withColumn("rb", F.row_number().over(w_best)).withColumn(
        "rw", F.row_number().over(w_worst)
    )
    return ranked.groupBy("user_id").agg(
        F.count(F.when(F.col("net") > 0, 1)).alias("n_winning_types"),
        F.count(F.when(F.col("net") < 0, 1)).alias("n_losing_types"),
        F.max(F.when(F.col("rb") == 1, F.col("event_type"))).alias("best_type"),
        F.max(F.when(F.col("rb") == 1, F.col("net"))).alias("best_net"),
        F.max(F.when(F.col("rw") == 1, F.col("event_type"))).alias("worst_type"),
        F.max(F.when(F.col("rw") == 1, F.col("net"))).alias("worst_net"),
    )


USER_TYPE_WINLOSS_SQL = f"""
WITH per_type AS (
  SELECT user_id, event_type,
         {sql_dsum("CASE WHEN event_type = 'purchase' THEN value ELSE -value END", "net")}
  FROM {EVENTS_SQL} e
  GROUP BY user_id, event_type
),
ranked AS (
  SELECT *,
         ROW_NUMBER() OVER (PARTITION BY user_id ORDER BY net DESC, event_type) AS rb,
         ROW_NUMBER() OVER (PARTITION BY user_id ORDER BY net ASC, event_type) AS rw
  FROM per_type
)
SELECT user_id,
       COUNT(*) FILTER (WHERE net > 0) AS n_winning_types,
       COUNT(*) FILTER (WHERE net < 0) AS n_losing_types,
       MAX(CASE WHEN rb = 1 THEN event_type END) AS best_type,
       MAX(CASE WHEN rb = 1 THEN net END) AS best_net,
       MAX(CASE WHEN rw = 1 THEN event_type END) AS worst_type,
       MAX(CASE WHEN rw = 1 THEN net END) AS worst_net
FROM ranked
GROUP BY user_id
"""


# --- avgcost_user_positions: sequential average-cost position state per
#     user (the stateful-streaming semantics as a batch gate query). The
#     oracle is a recursive CTE threading state through the same row order
#     — a sequential algorithm evaluated by two unrelated engines.


def avgcost_user_positions(spark: SparkSession, sf_dir: str) -> DataFrame:
    from ..operators.fifo import avg_cost_positions

    return avg_cost_positions(_fifo_input(spark, sf_dir))


def _avgcost_sql() -> str:
    from ..operators.fifo import avg_cost_positions_sql

    return avg_cost_positions_sql(
        f"""(
  SELECT user_id AS key, ts, event_id AS ord,
         CASE WHEN event_type = 'purchase' THEN 1 ELSE -1 END AS side,
         CAST((CAST(json_extract_string(props, '$.k') AS INT) % 5) + 1 AS DOUBLE) AS qty,
         value AS price
  FROM {EVENTS_SQL} e
  WHERE event_type IN ('purchase', 'click')
    AND json_extract_string(props, '$.k') IS NOT NULL
)"""
    )


AVGCOST_USER_POSITIONS_SQL = _avgcost_sql()


# --- market_overview: J2 3-way left join (reference /discover/markets,
#     src/api.ts:1940-1988: metadata × last price × windowed volume).


def market_overview(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = load_table(spark, sf_dir, "events")
    vol = ev.groupBy("event_type").agg(
        dsum(F.col("value"), "volume"), F.count(F.lit(1)).alias("n_events")
    )
    last = ev.groupBy("event_type").agg(
        F.max_by("value", "event_id").alias("last_value")
    )
    users = ev.groupBy("event_type").agg(
        F.countDistinct("user_id").alias("n_users")
    )
    return vol.join(last, "event_type", "left").join(users, "event_type", "left")


MARKET_OVERVIEW_SQL = f"""
WITH vol AS (
  SELECT event_type, {sql_dsum("value", "volume")}, COUNT(*) AS n_events
  FROM {EVENTS_SQL} e GROUP BY event_type
),
last AS (
  SELECT event_type, arg_max(value, event_id) AS last_value
  FROM {EVENTS_SQL} e GROUP BY event_type
),
users AS (
  SELECT event_type, COUNT(DISTINCT user_id) AS n_users
  FROM {EVENTS_SQL} e GROUP BY event_type
)
SELECT vol.event_type, volume, n_events, last_value, n_users
FROM vol
LEFT JOIN last USING (event_type)
LEFT JOIN users USING (event_type)
"""


# --- category_leaderboard: the reference's category-filtered leaderboard
#     end-to-end (queryLeaderboardFromRawFiltered, src/api.ts:597-635):
#     trades -> token metadata -> SCD2 category view -> filter -> agg ->
#     HAVING -> top-k. The Spark plan (domain.py) builds the SCD2
#     intervals with F.lead and joins trades by interval containment.
#     The oracle resolves the same as-of semantics with DuckDB's native
#     ASOF JOIN over tie-collapsed versions — a genuinely different
#     algorithm.

CATEGORY_LEADERBOARD_SQL = f"""
WITH e AS (
  SELECT event_id, ts, user_id, event_type, value,
         CAST(json_extract_string(props, '$.k') AS INTEGER) AS k
  FROM {EVENTS_SQL} ev
  WHERE json_extract_string(props, '$.k') IS NOT NULL
),
hist AS (
  -- tie-collapsed versions: max-event_id category per (condition, ts)
  SELECT 'c' || CAST(k % 10 AS VARCHAR) AS condition_id, ts,
         arg_max('cat' || CAST(k % 3 AS VARCHAR), event_id) AS category
  FROM e WHERE event_type = 'signup' GROUP BY 1, 2
),
trades AS (
  SELECT '0xw' || CAST(user_id AS VARCHAR) AS wallet,
         'c' || CAST(k % 10 AS VARCHAR) AS condition_id,
         value / 100.0 AS usdc,
         event_type = 'click' AS is_sell, ts
  FROM e WHERE event_type IN ('purchase', 'click')
),
j AS (
  SELECT t.wallet, t.condition_id, t.usdc, t.is_sell, h.category
  FROM trades t ASOF JOIN hist h
    ON t.condition_id = h.condition_id AND h.ts <= t.ts
),
agg AS (
  -- category filter via conditional aggregates, NOT a WHERE: DuckDB pushes
  -- a WHERE on the asof right side INTO the ASOF JOIN, which changes the
  -- winning version ("latest cat1 version" instead of "latest version,
  -- then filter") — observed at sf0.001: 366 vs 144 matched trades
  SELECT wallet,
         COUNT(*) FILTER (WHERE category = 'cat1') AS total_trades,
         {sql_dsum("CASE WHEN category = 'cat1' THEN usdc ELSE 0.0 END", "total_volume")},
         {sql_dsum("CASE WHEN category = 'cat1' THEN (CASE WHEN is_sell THEN usdc ELSE -usdc END) ELSE 0.0 END", "net_cashflow")},
         COUNT(DISTINCT CASE WHEN category = 'cat1' THEN condition_id END) AS markets_traded
  FROM j
  GROUP BY wallet
  HAVING COUNT(*) FILTER (WHERE category = 'cat1') >= 5
)
SELECT rank, wallet, total_trades, total_volume, net_cashflow, markets_traded
FROM (
  SELECT ROW_NUMBER() OVER (ORDER BY net_cashflow DESC, wallet) AS rank, *
  FROM agg
)
WHERE rank <= 100
"""


# --- streaming_candles_1m: ST1/ST3 driver-gated. The foreachBatch candle
#     fold (streaming/incremental.py — the reference's candles_1m MV,
#     001:418-430) runs over a 4-way interleaved split of the events table:
#     each fold merges partial states into the parquet state table via
#     dynamic partition overwrite, and because the splits interleave in
#     time every fold re-merges already-written days (the late-data path,
#     ST2). The oracle aggregates the same candles directly from raw events
#     — streaming-state == batch, checked by the driver's own harness.


def streaming_candles_1m(spark: SparkSession, sf_dir: str) -> DataFrame:
    import hashlib
    import os
    import shutil

    from ..sources.sinks import prune_stale_staging
    from ..streaming.incremental import _fold_batch

    ev = load_table(spark, sf_dir, "events")
    # pid-scoped state dir: concurrent runs over the same fixture (pytest +
    # driver_sim) must not race on the shared fold state (r8 verdict #1)
    tag = hashlib.md5(sf_dir.encode()).hexdigest()[:12] + f"_{os.getpid()}"
    prune_stale_staging("nmci_stream_state_")
    state_dir = f"/tmp/nmci_stream_state_{tag}"
    shutil.rmtree(state_dir, ignore_errors=True)
    # Scope shuffle parallelism to the microbatch loop: a plain driver
    # session's 200 partitions mean every per-batch fold (groupBy + merge +
    # partitioned rewrite) runs 200 near-empty tasks, ×4 batches — pure
    # scheduler overhead at gate scale. Restored right after (same
    # conf-scoping doctrine as streaming_positions_state).
    prev_parts = spark.conf.get("spark.sql.shuffle.partitions")
    spark.conf.set("spark.sql.shuffle.partitions", "8")
    try:
        for i in range(4):
            _fold_batch(
                ev.filter(F.col("event_id") % 4 == i),
                state_dir,
                key="event_type", ts="ts", price="value", ord_col="event_id",
                bucket_seconds=60,
            )
    finally:
        spark.conf.set("spark.sql.shuffle.partitions", prev_parts)
    state = spark.read.parquet(state_dir)
    return (
        finalize(state)
        .withColumnRenamed("key", "event_type")
        .select(
            "event_type", "bucket", "open", "high", "low", "close",
            "volume", "trades",
        )
    )


STREAMING_CANDLES_1M_SQL = CANDLES_1M_SQL


# --- fifo_pnl_modes: O3 PnL modes as a gate query (reference
#     src/calculate-pnl.ts:4-10, ledger-engine.ts:1955-2055). Each matched
#     FIFO slice carries entry/exit timestamps; modes 1-2 are time filters
#     over the slices. Period fixed to [Jan 10, Jan 20) inside the
#     fixture's Jan 1-30 range so all three mode columns differ.

PNL_PERIOD_START = "2024-01-10 00:00:00"
PNL_PERIOD_END = "2024-01-20 00:00:00"


def fifo_pnl_modes(spark: SparkSession, sf_dir: str) -> DataFrame:
    from ..operators.fifo import fifo_realized_modes

    return fifo_realized_modes(
        _fifo_input(spark, sf_dir), PNL_PERIOD_START, PNL_PERIOD_END
    )


FIFO_PNL_MODES_SQL = None  # built below from the shared input relation


def _build_fifo_modes_sql() -> str:
    from ..operators.fifo import fifo_realized_modes_sql

    return fifo_realized_modes_sql(
        f"""(
  SELECT user_id AS key, ts, event_id AS ord,
         CASE WHEN event_type = 'purchase' THEN 1 ELSE -1 END AS side,
         (CAST(json_extract_string(props, '$.k') AS INT) % 5) + 1 AS qty,
         value AS price
  FROM {EVENTS_SQL} e
  WHERE event_type IN ('purchase', 'click')
    AND json_extract_string(props, '$.k') IS NOT NULL
)""",
        PNL_PERIOD_START,
        PNL_PERIOD_END,
    )


FIFO_PNL_MODES_SQL = _build_fifo_modes_sql()


# --- fifo_pnl_modes_unrealized: O3 modes 3-4 (reference
#     src/calculate-pnl.ts:7-8, ledger-engine.ts:2018-2031) — mode-1/2
#     realized filters plus the unrealized mark over open lots at period
#     end (mode 3 restricts the mark to lots entered in-period; mode 4
#     marks all open lots). Same fixed period as fifo_pnl_modes.


def fifo_pnl_modes_unrealized(spark: SparkSession, sf_dir: str) -> DataFrame:
    from ..operators.fifo import fifo_unrealized_modes

    return fifo_unrealized_modes(
        _fifo_input(spark, sf_dir), PNL_PERIOD_START, PNL_PERIOD_END
    )


# The shared FIFO input relation (DuckDB side), used by every FIFO-family
# oracle above; factored here for the daily rollup gate.
_FIFO_INPUT_SQL = f"""(
  SELECT user_id AS key, ts, event_id AS ord,
         CASE WHEN event_type = 'purchase' THEN 1 ELSE -1 END AS side,
         (CAST(json_extract_string(props, '$.k') AS INT) % 5) + 1 AS qty,
         value AS price
  FROM {EVENTS_SQL} e
  WHERE event_type IN ('purchase', 'click')
    AND json_extract_string(props, '$.k') IS NOT NULL
)"""


def _build_fifo_unrealized_sql() -> str:
    from ..operators.fifo import fifo_unrealized_modes_sql

    return fifo_unrealized_modes_sql(
        _FIFO_INPUT_SQL, PNL_PERIOD_START, PNL_PERIOD_END
    )


FIFO_PNL_MODES_UNREALIZED_SQL = _build_fifo_unrealized_sql()


# --- fifo_daily_rollup: O4 daily realized rollup (reference
#     src/build-rollup-1d.ts:56-87 — wallet × day buckets rebuilt
#     idempotently; here the rollup is computed directly from the FIFO pair
#     decomposition, attributed to each matched slice's EXIT day).


def fifo_daily_rollup(spark: SparkSession, sf_dir: str) -> DataFrame:
    from ..operators.fifo import fifo_rollup_1d

    out = fifo_rollup_1d(_fifo_input(spark, sf_dir))
    # DATE → midnight TIMESTAMP for the cross-engine compare (DuckDB DATE
    # round-trips to pandas as midnight timestamps; orders_monthly convention)
    return out.withColumn("day", F.col("day").cast("timestamp"))


def _build_fifo_rollup_sql() -> str:
    from ..operators.fifo import fifo_rollup_1d_sql

    return fifo_rollup_1d_sql(_FIFO_INPUT_SQL)


FIFO_DAILY_ROLLUP_SQL = _build_fifo_rollup_sql()


# --- user_signed_balances: A10 summing accumulation over a heterogeneous
#     signed union (U1/U2), dedup-first (A11) — the engine's user_balances
#     builder shape (agg/derived.py; reference SummingMergeTree balances,
#     clickhouse/init/001_create_tables.sql:173-189: signed transfer legs
#     summed per wallet) as a driver-gated query.


def user_signed_balances(spark: SparkSession, sf_dir: str) -> DataFrame:
    from ..operators.dedup import dedupe_by_id

    ev = load_table(spark, sf_dir, "events")
    credits = ev.filter(F.col("event_type").isin("purchase", "signup")).select(
        "event_id",
        "user_id", F.col("value").alias("amount"), F.lit("credit").alias("leg")
    )
    debits = ev.filter(F.col("event_type").isin("click", "view")).select(
        "event_id",
        "user_id", (-F.col("value")).alias("amount"), F.lit("debit").alias("leg")
    )
    # Dedup AFTER the union: the branches' type filters are disjoint so the
    # result is identical, but the plan pays ONE event_id shuffle instead of
    # duplicating the dedup subtree into both branches (Spark does not share
    # a referenced DataFrame between union arms).
    merged = dedupe_by_id(credits.unionByName(debits), "event_id")
    return merged.groupBy("user_id").agg(
        dsum(F.col("amount"), "balance"),
        F.count(F.when(F.col("leg") == "credit", 1)).alias("n_credits"),
        F.count(F.when(F.col("leg") == "debit", 1)).alias("n_debits"),
    )


USER_SIGNED_BALANCES_SQL = f"""
WITH legs AS (
  SELECT user_id, value AS amount, 'credit' AS leg
  FROM {EVENTS_SQL} e WHERE event_type IN ('purchase', 'signup')
  UNION ALL
  SELECT user_id, -value AS amount, 'debit' AS leg
  FROM {EVENTS_SQL} e WHERE event_type IN ('click', 'view')
)
SELECT user_id,
       {sql_dsum("amount", "balance")},
       COUNT(*) FILTER (WHERE leg = 'credit') AS n_credits,
       COUNT(*) FILTER (WHERE leg = 'debit') AS n_debits
FROM legs GROUP BY user_id
"""


# --- orders_latest_activity: J3 join against a dedup (latest-by-key)
#     subquery — the reference's "join current state" pattern (latest
#     metadata row per token via ReplacingMergeTree FINAL, e.g.
#     src/api.ts:403-425 joining trades to current token_metadata).
#     orders(fact) ⋈ latest-event-per-user; NOT broadcast-hinted — the
#     dedup side is user-cardinality and must shuffle-join at scale.


def orders_latest_activity(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = load_table(spark, sf_dir, "events")
    orders = load_table(spark, sf_dir, "orders")
    latest = latest_by_key(ev, ["user_id"], ["ts", "event_id"]).select(
        "user_id", F.col("event_type").alias("latest_type")
    )
    return (
        orders.join(latest, orders.o_custkey == latest.user_id)
        .groupBy("user_id", "latest_type")
        .agg(
            F.count(F.lit(1)).alias("n_orders"),
            dsum(F.col("o_totalprice"), "total_spend"),
        )
    )


ORDERS_LATEST_ACTIVITY_SQL = f"""
WITH latest AS (
  SELECT user_id, event_type AS latest_type
  FROM (
    SELECT user_id, event_type,
           ROW_NUMBER() OVER (PARTITION BY user_id
                              ORDER BY ts DESC, event_id DESC) AS rn
    FROM {EVENTS_SQL} e
  ) WHERE rn = 1
)
SELECT l.user_id, l.latest_type,
       COUNT(*) AS n_orders,
       {sql_dsum("o.o_totalprice", "total_spend")}
FROM orders o JOIN latest l ON o.o_custkey = l.user_id
GROUP BY l.user_id, l.latest_type
"""


# --- merged_timeline_page: T4 n-way merge of heterogeneous streams (U2)
#     into one canonical total order, paginated (T2/T3) — the reference's
#     unified activity feed (src/api.ts trade+transfer+redemption merge)
#     over the orders and events tables. Pagination is the same
#     TakeOrderedAndProject shape as lineitem_page — no global window.


def merged_timeline_page(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = load_table(spark, sf_dir, "events")
    orders = load_table(spark, sf_dir, "orders")
    o_part = orders.select(
        F.lit("order").alias("src"),
        F.col("o_orderkey").alias("item_id"),
        F.col("o_custkey").alias("actor"),
        F.col("o_orderdate").alias("ts"),
        F.col("o_totalprice").alias("val"),
    )
    e_part = ev.select(
        F.lit("event").alias("src"),
        F.col("event_id").alias("item_id"),
        F.col("user_id").alias("actor"),
        "ts",
        F.col("value").alias("val"),
    )
    merged = o_part.unionByName(e_part)
    # (ts, src, item_id) is unique across the union: ids are unique within
    # each source and src disambiguates between them.
    return ranked_topk(
        merged, ["ts", "src", "item_id"], 100, rank_alias="rn", rank_offset=50
    ).select("rn", "src", "item_id", "actor", "ts", "val")


MERGED_TIMELINE_PAGE_SQL = f"""
SELECT rn, src, item_id, actor, ts, val
FROM (
  SELECT ROW_NUMBER() OVER (ORDER BY ts, src, item_id) AS rn, *
  FROM (
    SELECT 'order' AS src, o_orderkey AS item_id, o_custkey AS actor,
           o_orderdate AS ts, o_totalprice AS val
    FROM orders
    UNION ALL
    SELECT 'event' AS src, event_id AS item_id, user_id AS actor, ts, value AS val
    FROM {EVENTS_SQL} e
  )
)
WHERE rn > 50 AND rn <= 150
"""


# --- wallet_snapshot_positions: O2 snapshot emitter as a gate query
#     (reference snapshot emitter, src/ledger-engine.ts:1116-1152,1916-1935:
#     at each crossed interval boundary, emit wallet state BEFORE applying
#     the boundary-crossing event). The gate projects (wallet,
#     snapshot_epoch, token_count) — the two outputs that are pure
#     functions of the emission clock and the clamped inventory state.
#
#     Why this is oracle-expressible: the gate runs the engine over an
#     INTEGER-quantity domain (integer_splits=True), so every lot quantity
#     the FIFO book ever holds is an exactly-representable integer and
#     consume()'s per-lot float arithmetic is exact. Under exact
#     arithmetic, aggregate inventory follows the Lindley recursion
#     q_t = max(0, q_{t-1} + delta_t), whose closed form is
#     q_t = cum_t - min(0, running_min(cum_t)) — plain windowed SQL, no
#     recursion, association-free. The oracle replays that, rebuilds the
#     boundary grid from the event-time span, and ASOF-joins state to
#     boundaries (strictly-before semantics matching the engine's
#     snapshot-before-apply rule).


def wallet_snapshot_positions(spark: SparkSession, sf_dir: str) -> DataFrame:
    from ..ledger.build import build_wallet_snapshots

    snaps = build_wallet_snapshots(
        _domain_events(spark, sf_dir, integer_splits=True),
        interval_s=SNAPSHOT_INTERVAL_S,
    )
    return snaps.select("wallet", "snapshot_epoch", "token_count")


WALLET_SNAPSHOT_POSITIONS_SQL = f"""
WITH base AS (
  SELECT '0xw' || CAST(user_id AS VARCHAR) AS wallet,
         ts, event_id, event_type,
         (CAST(json_extract_string(props, '$.k') AS INT) % 5) + 1 AS qd,
         (CAST(json_extract_string(props, '$.k') AS INT) % 3) + 1 AS amt,
         (CAST(json_extract_string(props, '$.k') AS INT) % 2) = 0 AS is_in,
         'tok-yes-' || CAST(user_id % 10 AS VARCHAR) AS yes_tok,
         'tok-no-' || CAST(user_id % 10 AS VARCHAR) AS no_tok
  FROM {EVENTS_SQL} e
  WHERE json_extract_string(props, '$.k') IS NOT NULL
),
-- every event (incl. fee/error rows) advances the snapshot clock
we AS (
  SELECT wallet,
         (CAST(FLOOR(epoch(MIN(ts)) / {SNAPSHOT_INTERVAL_S}) AS BIGINT) + 1)
           * {SNAPSHOT_INTERVAL_S} AS b0,
         CAST(FLOOR(epoch(MAX(ts))) AS BIGINT) AS emax
  FROM base GROUP BY wallet
),
bounds AS (
  SELECT wallet, unnest(generate_series(b0, emax, {SNAPSHOT_INTERVAL_S})) AS b
  FROM we
),
deltas AS (
  SELECT wallet, ts, event_id, yes_tok AS token, CAST(qd AS BIGINT) AS dq
  FROM base WHERE event_type = 'purchase'
  UNION ALL
  SELECT wallet, ts, event_id, yes_tok, -CAST(qd AS BIGINT)
  FROM base WHERE event_type = 'click'
  UNION ALL
  SELECT wallet, ts, event_id, yes_tok,
         CASE WHEN is_in THEN CAST(qd AS BIGINT) ELSE -CAST(qd AS BIGINT) END
  FROM base WHERE event_type = 'view'
  UNION ALL
  SELECT wallet, ts, event_id, yes_tok, CAST(amt AS BIGINT)
  FROM base WHERE event_type = 'signup'
  UNION ALL
  SELECT wallet, ts, event_id, no_tok, CAST(amt AS BIGINT)
  FROM base WHERE event_type = 'signup'
),
c1 AS (
  SELECT wallet, token, ts, event_id, epoch(ts) AS e,
         SUM(dq) OVER (PARTITION BY wallet, token ORDER BY ts, event_id
                       ROWS UNBOUNDED PRECEDING) AS c
  FROM deltas
),
c2 AS (
  SELECT wallet, token, e, event_id,
         c - LEAST(0, MIN(c) OVER (PARTITION BY wallet, token
                                   ORDER BY ts, event_id
                                   ROWS UNBOUNDED PRECEDING)) AS q
  FROM c1
),
state AS (
  SELECT wallet, token, e, q FROM (
    SELECT *, ROW_NUMBER() OVER (PARTITION BY wallet, token, e
                                 ORDER BY event_id DESC) AS rn
    FROM c2
  ) WHERE rn = 1
),
grid AS (
  SELECT bo.wallet, bo.b, t.token
  FROM bounds bo
  JOIN (SELECT DISTINCT wallet, token FROM deltas) t USING (wallet)
),
asf AS (
  SELECT g.wallet, g.b, g.token, s.q
  FROM grid g ASOF LEFT JOIN state s
    ON g.wallet = s.wallet AND g.token = s.token
   AND s.e < CAST(g.b AS DOUBLE)
),
cnt AS (
  SELECT wallet, b, COUNT(*) FILTER (WHERE q > 0) AS token_count
  FROM asf GROUP BY wallet, b
)
SELECT bo.wallet,
       CAST(bo.b AS DOUBLE) AS snapshot_epoch,
       CAST(COALESCE(cnt.token_count, 0) AS BIGINT) AS token_count
FROM bounds bo
LEFT JOIN cnt ON bo.wallet = cnt.wallet AND bo.b = cnt.b
"""


# --- streaming_positions_state: ST6 driver-gated. The stateful streaming
#     operator (streaming/stateful.py applyInPandasWithState — the
#     streaming-native upgrade of the reference's batch-rebuilt ledger,
#     SURVEY ST6) runs a REAL Structured Streaming query over a 3-chunk
#     file source (maxFilesPerTrigger=1, availableNow): per-key avg-cost
#     state accumulates across microbatches in the state store. The final
#     emitted state must equal the batch recursive-CTE oracle — the same
#     oracle avgcost_user_positions uses, because the streaming fold
#     replays the exact IEEE operation sequence of the batch core
#     (operators/fifo.py::_avgcost_core) one microbatch at a time.


def streaming_positions_state(spark: SparkSession, sf_dir: str) -> DataFrame:
    import hashlib
    import os
    import shutil

    from ..sources.sinks import prune_stale_staging
    from ..streaming.stateful import running_positions_stream

    inp = _fifo_input(spark, sf_dir).select(
        "key", "ts", "ord", "side", "qty", "price"
    )
    # pid-scoped dirs: concurrent runs must not race on source/checkpoint
    tag = hashlib.md5(sf_dir.encode()).hexdigest()[:12] + f"_{os.getpid()}"
    prune_stale_staging("nmci_stream_pos_")
    src = f"/tmp/nmci_stream_pos_src_{tag}"
    ckpt = f"/tmp/nmci_stream_pos_ckpt_{tag}"
    shutil.rmtree(src, ignore_errors=True)
    shutil.rmtree(ckpt, ignore_errors=True)
    # ord-range chunks preserve cross-batch event-time order (ord follows
    # ts in the fixture); within a batch the operator re-sorts by (ts, ord)
    bounds = inp.approxQuantile("ord", [0.33, 0.66], 0.0)
    chunks = [
        inp.filter(F.col("ord") <= bounds[0]),
        inp.filter((F.col("ord") > bounds[0]) & (F.col("ord") <= bounds[1])),
        inp.filter(F.col("ord") > bounds[1]),
    ]
    for i, c in enumerate(chunks):
        c.coalesce(1).write.mode("append" if i else "overwrite").parquet(src)

    stream = (
        spark.readStream.schema(inp.schema)
        .option("maxFilesPerTrigger", 1)
        .parquet(src)
    )
    name = f"positions_state_{tag}"
    # Scope the state-store partition count to this stream: a plain driver
    # session carries shuffle.partitions=200, and the stateful operator
    # spawns that many state-store tasks EVERY microbatch (600 tiny tasks
    # for 3 batches of 150 keys — pure overhead). The conf is pinned into
    # the NEW checkpoint at stream start and restored right after, so no
    # other query sees it (CLAUDE.md loader-scoped-conf doctrine; at real
    # scale the job would set this to match the key cardinality anyway).
    prev_parts = spark.conf.get("spark.sql.shuffle.partitions")
    spark.conf.set("spark.sql.shuffle.partitions", "8")
    try:
        q = (
            running_positions_stream(stream, ckpt)
            .format("memory")
            .queryName(name)
            .trigger(availableNow=True)
            .start()
        )
        if not q.awaitTermination(300):
            # a timeout would otherwise read a partially-folded
            # state and surface as a confusing hash mismatch
            raise RuntimeError(
                f"stream {name} did not terminate within 300s"
            )
    finally:
        spark.conf.set("spark.sql.shuffle.partitions", prev_parts)
    # update-mode memory sink appends every per-batch emission; the row
    # with the highest n per key is the final state
    final = (
        spark.table(name)
        .groupBy("key")
        .agg(
            F.max_by("position", "n").alias("pos"),
            F.max_by("avg_cost", "n").alias("avg"),
            F.max_by("realized", "n").alias("real"),
            F.max("n").alias("n"),
        )
    )
    # identical final rounding to the batch core / recursive-CTE oracle
    # (values are non-ties at these scales — CLAUDE.md rounding rule)
    return final.select(
        "key",
        F.round("pos", 6).alias("position"),
        F.round("avg", 6).alias("avg_cost"),
        F.round("real", 4).alias("realized"),
        "n",
    )


STREAMING_POSITIONS_STATE_SQL = AVGCOST_USER_POSITIONS_SQL


# --- streaming_state_suite: ST6 fused gate (r6 rotation) — EXECUTES both
#     real applyInPandasWithState streaming queries (the r5 verdict asked
#     for the sequence-automaton streaming form, not just positions, to
#     carry a driver check): streaming_positions_state (per-key avg-cost
#     fold) and streaming_sequence_pairs (greedy view→purchase pair
#     automaton), each across 3 genuine microbatches, unpivoted into one
#     (path, k, metric, value) long frame. Values go through DOUBLE —
#     exact for the integer metrics (< 2^53) and already-rounded for the
#     position metrics, so the union is hash-stable.


# deterministic at-least-once delivery model for the streaming-dedup
# path: an md5-drawn ~19% of events is delivered TWICE, the duplicate
# copy arriving one microbatch later than the original (cross-batch —
# the case that requires dedup STATE to survive batch boundaries, which
# a per-batch distinct would miss). Mirrored verbatim in the oracle.
_DEDUP_DUP_PRED = (
    "substr(md5('dupdraw:' || CAST(event_id AS STRING)), 1, 1)"
    " IN ('0','1','2')"
)


def _dedup_stream_frame(spark: SparkSession, sf_dir: str) -> DataFrame:
    """ST4's streaming face: exactly-once semantics on an
    at-least-once delivery via dropDuplicatesWithinWatermark — Spark's
    native watermarked stream dedup (state keyed on event_id, evicted
    past the watermark; the 365-day delay here outlives the fixture's
    single-month span, so no eviction can race a duplicate and the
    accepted set is exactly one row per event_id). Three real
    microbatches; duplicates planted cross-batch. Returns per-type
    (n_input, n_accepted, n_dropped) with the input counts computed
    batch-side from the same staged frames."""
    import hashlib
    import os
    import shutil

    from ..sources.sinks import prune_stale_staging

    ev = load_table(spark, sf_dir, "events").select(
        "event_id",
        F.col("ts").cast("timestamp").alias("ts"),
        "event_type",
    )
    dup = ev.filter(F.expr(_DEDUP_DUP_PRED))
    tag = hashlib.md5(sf_dir.encode()).hexdigest()[:12] + f"_{os.getpid()}"
    prune_stale_staging("nmci_stream_dedup_")
    src = f"/tmp/nmci_stream_dedup_src_{tag}"
    ckpt = f"/tmp/nmci_stream_dedup_ckpt_{tag}"
    for d in (src, ckpt):
        shutil.rmtree(d, ignore_errors=True)
    r = ev.agg(F.min("event_id"), F.max("event_id")).first()
    lo, hi = r[0], r[1]
    b1, b2 = lo + (hi - lo) // 3, lo + 2 * (hi - lo) // 3
    parts = [
        ev.filter(F.col("event_id") <= b1),
        ev.filter((F.col("event_id") > b1) & (F.col("event_id") <= b2))
        .unionByName(dup.filter(F.col("event_id") <= b1)),
        ev.filter(F.col("event_id") > b2)
        .unionByName(dup.filter(F.col("event_id") > b1)),
    ]
    parts[0].coalesce(1).write.mode("overwrite").parquet(src)
    for p in parts[1:]:
        p.coalesce(1).write.mode("append").parquet(src)

    accepted = (
        spark.readStream.schema(ev.schema)
        .option("maxFilesPerTrigger", 1)
        .parquet(src)
        .withWatermark("ts", "365 days")
        .dropDuplicatesWithinWatermark(["event_id"])
    )
    name = f"stream_dedup_{tag}"
    q = (
        accepted.writeStream.format("memory")
        .queryName(name)
        .outputMode("append")
        .option("checkpointLocation", ckpt)
        .trigger(availableNow=True)
        .start()
    )
    if not q.awaitTermination(300):
        raise RuntimeError(f"stream {name} did not terminate within 300s")
    acc = spark.table(name).groupBy("event_type").agg(
        F.count(F.lit(1)).alias("n_accepted")
    )
    inp = ev.groupBy("event_type").agg(
        F.count(F.lit(1)).alias("n_orig"),
        F.sum(F.when(F.expr(_DEDUP_DUP_PRED), 1).otherwise(0))
        .alias("n_dup"),
    )
    # n_dropped derives from the MEASURED stream output (not from the
    # planted dup count): a dedup-state failure would surface as an
    # oracle mismatch on both n_accepted and n_dropped
    return inp.join(acc, "event_type").select(
        "event_type",
        F.expr("n_orig + n_dup").cast("long").alias("n_input"),
        F.col("n_accepted").cast("long").alias("n_accepted"),
        F.expr("n_orig + n_dup - n_accepted").cast("long")
        .alias("n_dropped"),
    )


def streaming_state_suite(spark: SparkSession, sf_dir: str) -> DataFrame:
    from concurrent.futures import ThreadPoolExecutor

    from .timeseries_q import (  # local: avoid cycle
        streaming_qdigest_state,
        streaming_sequence_pairs,
    )

    # r8 (verdict task 6): the three real streams used to run
    # SEQUENTIALLY — each paying its own chunk-staging writes plus 3
    # awaitTermination'd microbatches (~12.6s of gate wall). Spark
    # schedules jobs from concurrent driver threads onto the same
    # executor pool, so running the three stream builders in a thread
    # pool overlaps staging, microbatch scheduling and state-store work
    # (wall ≈ max, not sum). The shuffle-partition pin is hoisted around
    # the WHOLE pool: each inner set/restore then reads prev=8, so the
    # per-stream restore can never race a sibling's stream start back up
    # to the plain session's 200 state-store tasks.
    prev_parts = spark.conf.get("spark.sql.shuffle.partitions")
    spark.conf.set("spark.sql.shuffle.partitions", "8")
    try:
        with ThreadPoolExecutor(max_workers=7) as pool:
            f_pos = pool.submit(streaming_positions_state, spark, sf_dir)
            f_pairs = pool.submit(streaming_sequence_pairs, spark, sf_dir)
            f_qd = pool.submit(streaming_qdigest_state, spark, sf_dir)
            # r9 growth (r8 verdict task 6): the wallet-leaderboard
            # additive -State stream, overlapped as the 4th real stream
            f_lb = pool.submit(_leaderboard_stream_state, spark, sf_dir)
            # r9 growth 2: the session-window stream (ST5's REAL
            # streaming form) and the stream-stream interval join as the
            # 5th and 6th overlapped streams
            f_sess = pool.submit(_sessions_stream_frame, spark, sf_dir)
            f_ssj = pool.submit(_stream_join_frame, spark, sf_dir)
            # r15 growth: watermarked stream dedup over planted
            # cross-batch at-least-once deliveries, the 7th real stream
            f_dd = pool.submit(_dedup_stream_frame, spark, sf_dir)
            pos_df, pairs_df, qd_df, lb_state, sess_df, ssj_df, dd_df = (
                f_pos.result(),
                f_pairs.result(),
                f_qd.result(),
                f_lb.result(),
                f_sess.result(),
                f_ssj.result(),
                f_dd.result(),
            )
    finally:
        spark.conf.set("spark.sql.shuffle.partitions", prev_parts)

    pos = pos_df.selectExpr(
        "'positions' AS path",
        "CAST(key AS STRING) AS k",
        "stack(4, 'position', CAST(position AS DOUBLE),"
        " 'avg_cost', CAST(avg_cost AS DOUBLE),"
        " 'realized', CAST(realized AS DOUBLE),"
        " 'n', CAST(n AS DOUBLE)) AS (metric, value)",
    )
    pairs = pairs_df.selectExpr(
        "'pairs' AS path",
        "CAST(user_id AS STRING) AS k",
        "stack(3, 'pending', CAST(pending AS DOUBLE),"
        " 'n_pairs', CAST(n_pairs AS DOUBLE),"
        " 'n_events', CAST(n_events AS DOUBLE)) AS (metric, value)",
    )
    # grown late-r7: the q-digest-as-streaming-state query (third real
    # applyInPandasWithState automaton — sketch state across
    # microbatches); all metrics are exact integers < 2^53, so the
    # suite's DOUBLE value column carries them losslessly
    qd = qd_df.selectExpr(
        "'qdigest' AS path",
        "event_type || '/' || CAST(q_pct AS STRING) AS k",
        "stack(5, 'n', CAST(n AS DOUBLE),"
        " 't', CAST(t AS DOUBLE),"
        " 'sketch_nodes', CAST(sketch_nodes AS DOUBLE),"
        " 'est_cents', CAST(est_cents AS DOUBLE),"
        " 'target', CAST(target AS DOUBLE)) AS (metric, value)",
    )
    # all-time -Merge re-agg (A8) of the streamed hourly leaderboard
    # states; every metric is an exact integer < 2^53 (DOUBLE-lossless)
    lb = _leaderboard_merge(lb_state, ["wallet"]).selectExpr(
        "'leaderboard' AS path",
        "CAST(wallet AS STRING) AS k",
        "stack(4, 'trades', CAST(trades AS DOUBLE),"
        " 'volume_cents', CAST(volume_cents AS DOUBLE),"
        " 'pnl_cents', CAST(pnl_cents AS DOUBLE),"
        " 'markets', CAST(markets AS DOUBLE)) AS (metric, value)",
    )
    # session bounds ride as epoch-microsecond integers (exact < 2^53;
    # derived from the NTZ round-trip values, not raw NTZ epoch — both
    # engines integerize the SAME wall-clock value, so the CLAUDE.md
    # NTZ-epoch hazard does not apply: the k column carries the identity)
    # duration in MICROSECONDS (exact at fixture precision and < 2^53 —
    # the CLAUDE.md second-granularity timestampdiff hazard avoided)
    sess = sess_df.selectExpr(
        "'sessions' AS path",
        "CAST(user_id AS STRING) || '/' ||"
        " date_format(session_start, 'yyyy-MM-dd HH:mm:ss.SSSSSS') AS k",
        "stack(2, 'n_events', CAST(n_events AS DOUBLE),"
        " 'sess_us', CAST(timestampdiff(MICROSECOND, session_start,"
        " session_end) AS DOUBLE)) AS (metric, value)",
    )
    ssj = ssj_df.selectExpr(
        "'ssjoin' AS path",
        "CAST(v_id AS STRING) AS k",
        "stack(1, 'p_id', CAST(p_id AS DOUBLE)) AS (metric, value)",
    )
    dd = dd_df.selectExpr(
        "'dedup' AS path",
        "event_type AS k",
        "stack(3, 'n_input', CAST(n_input AS DOUBLE),"
        " 'n_accepted', CAST(n_accepted AS DOUBLE),"
        " 'n_dropped', CAST(n_dropped AS DOUBLE)) AS (metric, value)",
    )
    return (
        pos.unionByName(pairs)
        .unionByName(qd)
        .unionByName(lb)
        .unionByName(sess)
        .unionByName(ssj)
        .unionByName(dd)
    )


def _streaming_state_suite_sql() -> str:
    from .timeseries_q import (
        STREAMING_QDIGEST_STATE_SQL,
        STREAMING_SEQUENCE_PAIRS_SQL,
    )

    return f"""
WITH pos AS ({AVGCOST_USER_POSITIONS_SQL}),
pairs AS ({STREAMING_SEQUENCE_PAIRS_SQL}),
qd AS ({STREAMING_QDIGEST_STATE_SQL}),
lb AS ({STREAMING_LEADERBOARD_ALL_SQL}),
sess AS ({STREAMING_SESSIONS_WINDOWED_SQL}),
ssj AS ({STREAMING_STREAM_JOIN_1H_SQL}),
pos_long AS (
  SELECT 'positions' AS path, CAST(key AS VARCHAR) AS k, m.metric,
         CASE m.metric WHEN 'position' THEN CAST(position AS DOUBLE)
                       WHEN 'avg_cost' THEN CAST(avg_cost AS DOUBLE)
                       WHEN 'realized' THEN CAST(realized AS DOUBLE)
                       ELSE CAST(n AS DOUBLE) END AS value
  FROM pos, (SELECT unnest(['position','avg_cost','realized','n']) AS metric) m
),
pairs_long AS (
  SELECT 'pairs' AS path, CAST(user_id AS VARCHAR) AS k, m.metric,
         CASE m.metric WHEN 'pending' THEN CAST(pending AS DOUBLE)
                       WHEN 'n_pairs' THEN CAST(n_pairs AS DOUBLE)
                       ELSE CAST(n_events AS DOUBLE) END AS value
  FROM pairs, (SELECT unnest(['pending','n_pairs','n_events']) AS metric) m
),
qd_long AS (
  SELECT 'qdigest' AS path,
         event_type || '/' || CAST(q_pct AS VARCHAR) AS k, m.metric,
         CASE m.metric WHEN 'n' THEN CAST(n AS DOUBLE)
                       WHEN 't' THEN CAST(t AS DOUBLE)
                       WHEN 'sketch_nodes' THEN CAST(sketch_nodes AS DOUBLE)
                       WHEN 'est_cents' THEN CAST(est_cents AS DOUBLE)
                       ELSE CAST(target AS DOUBLE) END AS value
  FROM qd, (SELECT unnest(['n','t','sketch_nodes','est_cents','target'])
              AS metric) m
),
lb_long AS (
  SELECT 'leaderboard' AS path, CAST(wallet AS VARCHAR) AS k, m.metric,
         CASE m.metric WHEN 'trades' THEN CAST(trades AS DOUBLE)
                       WHEN 'volume_cents' THEN CAST(volume_cents AS DOUBLE)
                       WHEN 'pnl_cents' THEN CAST(pnl_cents AS DOUBLE)
                       ELSE CAST(markets AS DOUBLE) END AS value
  FROM lb, (SELECT unnest(['trades','volume_cents','pnl_cents','markets'])
              AS metric) m
),
sess_long AS (
  SELECT 'sessions' AS path,
         CAST(user_id AS VARCHAR) || '/' ||
         strftime(session_start, '%Y-%m-%d %H:%M:%S.%f') AS k,
         m.metric,
         CASE m.metric WHEN 'n_events' THEN CAST(n_events AS DOUBLE)
              ELSE CAST(date_diff('microsecond', session_start,
                                  session_end) AS DOUBLE) END AS value
  FROM sess, (SELECT unnest(['n_events','sess_us']) AS metric) m
),
ssj_long AS (
  SELECT 'ssjoin' AS path, CAST(v_id AS VARCHAR) AS k,
         'p_id' AS metric, CAST(p_id AS DOUBLE) AS value
  FROM ssj
),
dd AS (
  SELECT event_type,
         COUNT(*) + SUM(CASE WHEN {_DEDUP_DUP_PRED} THEN 1 ELSE 0
                        END) AS n_input,
         COUNT(*) AS n_accepted,
         SUM(CASE WHEN {_DEDUP_DUP_PRED} THEN 1 ELSE 0 END)
           AS n_dropped
  FROM events GROUP BY 1
),
dd_long AS (
  SELECT 'dedup' AS path, event_type AS k, m.metric,
         CASE m.metric WHEN 'n_input' THEN CAST(n_input AS DOUBLE)
                       WHEN 'n_accepted' THEN CAST(n_accepted AS DOUBLE)
                       ELSE CAST(n_dropped AS DOUBLE) END AS value
  FROM dd, (SELECT unnest(['n_input','n_accepted','n_dropped'])
              AS metric) m
)
SELECT * FROM pos_long UNION ALL SELECT * FROM pairs_long
UNION ALL SELECT * FROM qd_long UNION ALL SELECT * FROM lb_long
UNION ALL SELECT * FROM sess_long UNION ALL SELECT * FROM ssj_long
UNION ALL SELECT * FROM dd_long
"""


# --- user_sessions: inactivity-gap sessionization of the event stream via
#     Spark's NATIVE session_window (merge-on-overlap session assignment
#     inside the aggregation operator — the Structured-Streaming-ready
#     shape: the same expression works under readStream with a watermark).
#     The oracle is the classic gaps-and-islands rewrite (lag → gap flag →
#     running flag-sum as session id → group), a genuinely different
#     algorithm. Boundary semantics: a session covers [first_event,
#     last_event + gap), so an event exactly GAP after its predecessor
#     starts a NEW session — the oracle's flag is therefore `>=`, matching
#     session_window's exclusive end.

# gap calibrated to the synthetic stream's inter-arrival distribution
# (median per-user gap ~7.3h): 12h merges ~2/3 of successive events
SESSION_GAP_MIN = 720


def user_sessions(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = load_table(spark, sf_dir, "events")
    sess = ev.groupBy(
        "user_id",
        F.session_window("ts", f"{SESSION_GAP_MIN} minutes").alias("sw"),
    ).agg(
        F.count(F.lit(1)).alias("n_events"),
        dsum(F.col("value"), "volume"),
        F.max("ts").alias("last_ts"),
    )
    return sess.select(
        "user_id",
        F.col("sw.start").alias("session_start"),
        "last_ts",
        "n_events",
        "volume",
    )


USER_SESSIONS_SQL = f"""
WITH ordered AS (
  SELECT user_id, ts, value,
         CASE WHEN ts - LAG(ts) OVER (PARTITION BY user_id ORDER BY ts)
                   >= INTERVAL {SESSION_GAP_MIN} MINUTE
              OR LAG(ts) OVER (PARTITION BY user_id ORDER BY ts) IS NULL
              THEN 1 ELSE 0 END AS new_sess
  FROM {EVENTS_SQL} e
),
flagged AS (
  SELECT user_id, ts, value,
         SUM(new_sess) OVER (PARTITION BY user_id ORDER BY ts
                             ROWS UNBOUNDED PRECEDING) AS sess_id
  FROM ordered
)
SELECT user_id,
       MIN(ts) AS session_start,
       MAX(ts) AS last_ts,
       COUNT(*) AS n_events,
       {sql_dsum("value", "volume")}
FROM flagged
GROUP BY user_id, sess_id
"""


# --- type_value_percentiles: exact linear-interpolated quantiles (type-7,
#     the definition both Spark `percentile` and DuckDB `quantile_cont`
#     implement — verified on shared fixtures) of trade value per event
#     type. Exact percentile is a full-sort-per-group aggregate; at 100 TB
#     the approximate sketch (percentile_approx / t-digest) replaces it,
#     but approx algorithms differ across engines so the EXACT form is the
#     oracle-checkable gate (the sketch path is pytest-gated in
#     tests/test_sketches.py like HLL).

#     Determinism (ADVICE r4): interpolated-then-ROUND(6) output was
#     data-fragile (the two engines' interpolation expressions can differ
#     by an ulp, and F.round vs DuckDB ROUND disagree on exact .xxxxx5).
#     The gate therefore emits the EXACT type-7 components instead: the
#     two bracketing order statistics (raw data doubles, bit-identical on
#     both engines) and the interpolation fraction as an integer in
#     hundredths — quantile = lo + (hi - lo) * frac / 100, reconstructable
#     by any consumer without cross-engine float drift.

_PCTS_100 = (50, 90, 99)


def type_value_percentiles(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = load_table(spark, sf_dir, "events").select("event_type", "value")
    order_w = Window.partitionBy("event_type").orderBy("value")
    type_w = Window.partitionBy("event_type")
    ranked = ev.withColumn("rn", F.row_number().over(order_w)).withColumn(
        "n", F.count(F.lit(1)).over(type_w)
    )
    h = {p: (F.col("n") - 1) * p for p in _PCTS_100}  # type-7 rank*100
    k_lo = {p: F.floor(h[p] / 100) + 1 for p in _PCTS_100}
    k_hi = {
        p: k_lo[p] + F.when(h[p] % 100 > 0, 1).otherwise(0)
        for p in _PCTS_100
    }
    keep = None
    for p in _PCTS_100:
        cond = (F.col("rn") == k_lo[p]) | (F.col("rn") == k_hi[p])
        keep = cond if keep is None else (keep | cond)
    picked = ranked.filter(keep)
    aggs = [F.max("n").alias("n")]
    for p in _PCTS_100:
        aggs += [
            F.max(F.when(F.col("rn") == k_lo[p], F.col("value")))
            .alias(f"p{p}_lo"),
            F.max(F.when(F.col("rn") == k_hi[p], F.col("value")))
            .alias(f"p{p}_hi"),
        ]
    out = picked.groupBy("event_type").agg(*aggs)
    for p in _PCTS_100:
        out = out.withColumn(
            f"p{p}_frac", ((F.col("n") - 1) * p % 100).cast("long")
        )
    return out


def _pct_components_sql() -> str:
    cols = []
    for p in _PCTS_100:
        cols.append(f"vs[CAST((n-1)*{p}//100 + 1 AS INT)] AS p{p}_lo")
        cols.append(
            f"vs[CAST((n-1)*{p}//100 + 1 + "
            f"CASE WHEN (n-1)*{p} % 100 > 0 THEN 1 ELSE 0 END AS INT)] "
            f"AS p{p}_hi"
        )
        cols.append(f"CAST((n-1)*{p} % 100 AS BIGINT) AS p{p}_frac")
    return ",\n       ".join(cols)


TYPE_VALUE_PERCENTILES_SQL = f"""
WITH per AS (
  SELECT event_type, list_sort(list(value)) AS vs, COUNT(*) AS n
  FROM {EVENTS_SQL} e
  GROUP BY event_type
)
SELECT event_type, n,
       {_pct_components_sql()}
FROM per
"""


# --- events_window_funnel: ClickHouse windowFunnel() analog — per user,
#     the deepest stage of the signup → view → purchase sequence reached
#     IN ORDER, each step within FUNNEL_WINDOW of the FIRST step (the
#     windowFunnel contract: the chain anchors at the earliest possible
#     first step, strict event-time ordering between steps). Spark: a
#     chain of conditional-min aggregations (t1 = earliest signup; t2 =
#     earliest later view inside the window; t3 = earliest later purchase
#     inside the window) — three hash aggs + joins on the user dimension,
#     no per-user sort. Oracle: the same semantics via CTE joins over the
#     raw table. All comparisons stay on naive (NTZ) timestamps with
#     INTERVAL arithmetic — no epoch conversion, so the result cannot
#     depend on the driver session's timezone.

FUNNEL_WINDOW_DAYS = 7


def events_window_funnel(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = load_table(spark, sf_dir, "events").select("user_id", "event_type", "ts")
    limit = F.col("t1") + F.expr(f"INTERVAL {FUNNEL_WINDOW_DAYS} DAYS")
    s1 = (
        ev.filter(F.col("event_type") == "signup")
        .groupBy("user_id")
        .agg(F.min("ts").alias("t1"))
    )
    s2 = (
        ev.filter(F.col("event_type") == "view")
        .join(s1, "user_id")
        .filter((F.col("ts") > F.col("t1")) & (F.col("ts") <= limit))
        .groupBy("user_id")
        .agg(F.min("ts").alias("t2"))
    )
    s3 = (
        ev.filter(F.col("event_type") == "purchase")
        .join(s2.join(s1, "user_id"), "user_id")
        .filter((F.col("ts") > F.col("t2")) & (F.col("ts") <= limit))
        .groupBy("user_id")
        .agg(F.min("ts").alias("t3"))
    )
    return (
        s1.join(s2, "user_id", "left")
        .join(s3, "user_id", "left")
        .select(
            "user_id",
            (
                F.lit(1)
                + F.col("t2").isNotNull().cast("int")
                + F.col("t3").isNotNull().cast("int")
            ).cast("long").alias("stage"),
            "t1",
            "t2",
            "t3",
        )
    )


EVENTS_WINDOW_FUNNEL_SQL = f"""
WITH base AS (
  SELECT user_id, event_type, CAST(ts AS TIMESTAMP) AS ts FROM events
),
s1 AS (
  SELECT user_id, MIN(ts) AS t1 FROM base
  WHERE event_type = 'signup' GROUP BY 1
),
s2 AS (
  SELECT b.user_id, MIN(b.ts) AS t2
  FROM base b JOIN s1 USING (user_id)
  WHERE b.event_type = 'view'
    AND b.ts > s1.t1 AND b.ts <= s1.t1 + INTERVAL {FUNNEL_WINDOW_DAYS} DAYS
  GROUP BY 1
),
s3 AS (
  SELECT b.user_id, MIN(b.ts) AS t3
  FROM base b JOIN s2 USING (user_id) JOIN s1 USING (user_id)
  WHERE b.event_type = 'purchase'
    AND b.ts > s2.t2 AND b.ts <= s1.t1 + INTERVAL {FUNNEL_WINDOW_DAYS} DAYS
  GROUP BY 1
)
SELECT s1.user_id,
       CAST(1 + (s2.user_id IS NOT NULL)::INT + (s3.user_id IS NOT NULL)::INT
            AS BIGINT) AS stage,
       s1.t1, s2.t2, s3.t3
FROM s1
LEFT JOIN s2 ON s1.user_id = s2.user_id
LEFT JOIN s3 ON s1.user_id = s3.user_id
"""


# --- events_retention_cohorts: weekly cohort retention matrix — the
#     second classic sequential-analytics shape next to windowFunnel
#     (ClickHouse ships retention() for the same job). Cohort = ISO week
#     of the user's first signup event; for every later activity event
#     the week offset is exact integer floor(datediff / 7); cell value =
#     distinct active users. Spark: one min-agg for cohorts (broadcast-
#     sized user dim), one join, one countDistinct — no per-user sort.
#     Oracle: identical semantics as CTEs; both engines truncate weeks to
#     ISO Monday and the datediff is calendar-day integer arithmetic on
#     naive timestamps (timezone-proof).


def events_retention_cohorts(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = load_table(spark, sf_dir, "events")
    cohorts = (
        ev.filter(F.col("event_type") == "signup")
        .groupBy("user_id")
        .agg(
            F.date_format(F.date_trunc("week", F.min("ts")), "yyyy-MM-dd")
            .alias("cohort_week")
        )
    )
    activity = ev.select("user_id", F.col("ts").cast("date").alias("d"))
    return (
        activity.join(cohorts, "user_id")
        .filter(F.col("d") >= F.to_date("cohort_week"))
        .withColumn(
            "week_n",
            (F.datediff(F.col("d"), F.to_date("cohort_week")) / 7).cast("long"),
        )
        .groupBy("cohort_week", "week_n")
        .agg(
            F.countDistinct("user_id").alias("n_active"),
            F.count(F.lit(1)).alias("n_events"),
        )
    )


EVENTS_RETENTION_COHORTS_SQL = """
WITH cohorts AS (
  SELECT user_id,
         strftime(date_trunc('week', MIN(CAST(ts AS TIMESTAMP))), '%Y-%m-%d')
           AS cohort_week
  FROM events WHERE event_type = 'signup' GROUP BY 1
),
activity AS (
  SELECT user_id, CAST(CAST(ts AS TIMESTAMP) AS DATE) AS d FROM events
)
SELECT c.cohort_week,
       CAST((a.d - CAST(c.cohort_week AS DATE)) // 7 AS BIGINT) AS week_n,
       CAST(COUNT(DISTINCT a.user_id) AS BIGINT) AS n_active,
       CAST(COUNT(*) AS BIGINT) AS n_events
FROM activity a JOIN cohorts c USING (user_id)
WHERE a.d >= CAST(c.cohort_week AS DATE)
GROUP BY 1, 2
"""


# --- streaming_leaderboard_1h: the wallet-leaderboard -State/-Merge tier
#     as a REAL stream (r9, r8 verdict task 6) — the one reference MV
#     family whose CONTINUOUS form was still batch-incremental only
#     (clickhouse/init/002_leaderboard_aggregates.sql:6-68: per-hour
#     per-wallet countState / sumState volume / signed sumState pnl /
#     uniqExactState markets). State grain (bucket, wallet, market) is
#     the relational encoding of those partial states: count/sum states
#     are additive BIGINTs, and the uniqExact state IS the market-grain
#     key set (ClickHouse serializes the same set; the -Merge read
#     re-counts it). Three event_id-range chunks staged as parquet files
#     feed a genuine file-source stream (maxFilesPerTrigger=1 ⇒ 3 real
#     microbatches); incremental_additive_stream folds each microbatch
#     into a date-partitioned state table, rewriting only touched dates
#     (additive merge is order-free, so no mtime ordering is needed —
#     unlike the sequence automaton). Domain mapping per the ledger
#     convention: wallet = user_id, market = props.k, sell = +cents /
#     buy('purchase') = -cents (002_leaderboard_aggregates.sql:25).
#     At 100 TB: microbatches are time-localized, so the dynamic
#     partition overwrite touches only the hot dates; state is
#     (date, wallet, market)-grain — bounded by active pairs, never raw
#     events. The all-time tier is a re-agg of these states (A8), gated
#     via the streaming_state_suite growth.


def _leaderboard_stream_state(spark: SparkSession, sf_dir: str) -> DataFrame:
    import hashlib
    import os
    import shutil

    from ..sources.sinks import prune_stale_staging
    from ..streaming.incremental import incremental_additive_stream

    inp = load_table(spark, sf_dir, "events").select(
        F.col("user_id").alias("wallet"),
        "ts",
        "event_id",
        "event_type",
        F.expr("CAST(FLOOR(value * 100 + 0.5) AS BIGINT)").alias("cents"),
        F.get_json_object(F.col("props"), "$.k").cast("long").alias("market"),
    )
    tag = hashlib.md5(sf_dir.encode()).hexdigest()[:12] + f"_{os.getpid()}"
    prune_stale_staging("nmci_stream_lb_")
    src = f"/tmp/nmci_stream_lb_src_{tag}"
    ckpt = f"/tmp/nmci_stream_lb_ckpt_{tag}"
    state = f"/tmp/nmci_stream_lb_state_{tag}"
    for d in (src, ckpt, state):
        shutil.rmtree(d, ignore_errors=True)
    # ONE staging job writes all three event_id-range chunks (event_id
    # follows ts in the fixture, so each chunk is time-localized like a
    # real ingest tail): partitionBy splits the dirs, then the part files
    # move into src as the stream's input files. Thirds of the id range
    # replace an approxQuantile pre-scan — additive folding is
    # order-free, so exact chunk balance is irrelevant.
    import glob as _glob

    r = inp.agg(F.min("event_id"), F.max("event_id")).first()
    lo, hi = r[0], r[1]
    b1, b2 = lo + (hi - lo) // 3, lo + 2 * (hi - lo) // 3
    stage = f"{src}.stage"
    (
        inp.withColumn(
            "chunk",
            F.when(F.col("event_id") <= b1, 0)
            .when(F.col("event_id") <= b2, 1)
            .otherwise(2),
        )
        .repartition(3, "chunk")
        .write.partitionBy("chunk")
        .mode("overwrite")
        .parquet(stage)
    )
    os.makedirs(src, exist_ok=True)
    for i in range(3):
        for j, part in enumerate(
            sorted(_glob.glob(os.path.join(stage, f"chunk={i}", "part-*")))
        ):
            shutil.move(part, os.path.join(src, f"chunk-{i:03d}-{j}.parquet"))
    shutil.rmtree(stage, ignore_errors=True)

    def partials(batch: DataFrame) -> DataFrame:
        return (
            batch.groupBy(
                F.date_trunc("hour", F.col("ts")).alias("bucket"),
                "wallet",
                "market",
            )
            .agg(
                F.count(F.lit(1)).alias("n_trades"),
                F.sum("cents").alias("volume_cents"),
                F.sum(
                    F.when(
                        F.col("event_type") == "purchase", -F.col("cents")
                    ).otherwise(F.col("cents"))
                ).alias("pnl_cents"),
            )
            .withColumn("bucket_date", F.to_date("bucket"))
        )

    stream = (
        spark.readStream.schema(inp.schema)
        .option("maxFilesPerTrigger", 1)
        .parquet(src)
    )
    prev_parts = spark.conf.get("spark.sql.shuffle.partitions")
    spark.conf.set("spark.sql.shuffle.partitions", "8")
    try:
        q = (
            incremental_additive_stream(
                stream,
                state,
                ckpt,
                partials,
                keys=["bucket", "wallet", "market", "bucket_date"],
                sum_cols=["n_trades", "volume_cents", "pnl_cents"],
                partition_col="bucket_date",
            )
            .trigger(availableNow=True)
            .start()
        )
        if not q.awaitTermination(300):
            # a timeout would otherwise read a partially-folded
            # state and surface as a confusing hash mismatch
            raise RuntimeError(
                f"stream for {state} did not terminate within 300s"
            )
    finally:
        spark.conf.set("spark.sql.shuffle.partitions", prev_parts)
    return spark.read.parquet(state)


def _leaderboard_merge(state: DataFrame, keys: list[str]) -> DataFrame:
    """-Merge read of the streamed states at any coarser grain (A8)."""
    return state.groupBy(*keys).agg(
        F.sum("n_trades").cast("long").alias("trades"),
        F.sum("volume_cents").cast("long").alias("volume_cents"),
        F.sum("pnl_cents").cast("long").alias("pnl_cents"),
        F.countDistinct("market").cast("long").alias("markets"),
    )


def streaming_leaderboard_1h(spark: SparkSession, sf_dir: str) -> DataFrame:
    state = _leaderboard_stream_state(spark, sf_dir)
    return _leaderboard_merge(state, ["bucket", "wallet"]).select(
        "bucket", "wallet", "trades", "volume_cents", "pnl_cents", "markets"
    )


STREAMING_LEADERBOARD_1H_SQL = f"""
WITH t AS (
  SELECT date_trunc('hour', ts) AS bucket, user_id AS wallet,
         CAST(FLOOR(value * 100 + 0.5) AS BIGINT) AS cents,
         CASE WHEN event_type = 'purchase' THEN -1 ELSE 1 END AS sgn,
         CAST(json_extract_string(props, '$.k') AS BIGINT) AS market
  FROM {EVENTS_SQL} e
)
SELECT bucket, wallet,
       CAST(COUNT(*) AS BIGINT) AS trades,
       CAST(SUM(cents) AS BIGINT) AS volume_cents,
       CAST(SUM(sgn * cents) AS BIGINT) AS pnl_cents,
       CAST(COUNT(DISTINCT market) AS BIGINT) AS markets
FROM t
GROUP BY 1, 2
"""

# the all-time tier (002_leaderboard_aggregates.sql:41-68) — the
# streaming_state_suite's 'leaderboard' path reads it as a -Merge
# re-agg (A8) of the SAME streamed hourly states
STREAMING_LEADERBOARD_ALL_SQL = f"""
WITH t AS (
  SELECT user_id AS wallet,
         CAST(FLOOR(value * 100 + 0.5) AS BIGINT) AS cents,
         CASE WHEN event_type = 'purchase' THEN -1 ELSE 1 END AS sgn,
         CAST(json_extract_string(props, '$.k') AS BIGINT) AS market
  FROM {EVENTS_SQL} e
)
SELECT wallet,
       CAST(COUNT(*) AS BIGINT) AS trades,
       CAST(SUM(cents) AS BIGINT) AS volume_cents,
       CAST(SUM(sgn * cents) AS BIGINT) AS pnl_cents,
       CAST(COUNT(DISTINCT market) AS BIGINT) AS markets
FROM t
GROUP BY 1
"""


# --- events_cube_volume / events_daily_type_pivot: the two relational
#     reshaping surfaces the engine had not yet gated (r9).
#
#     CUBE: all four grouping sets of (event_type, day_part) with
#     grouping ids — the OLAP companion of regional_rollup's ROLLUP
#     (ClickHouse GROUP BY ... WITH CUBE). Exact integer cents.
#
#     PIVOT: the day × type volume matrix with an EXPLICIT pivot value
#     list — the scale-correct form: passing the values avoids Spark's
#     otherwise-mandatory collect-distinct pre-scan of the pivot column
#     (a full extra corpus pass at 100 TB), and makes the output schema
#     static, which any downstream contract (and the driver comparator)
#     needs anyway. Absent cells coalesce to 0. The oracle is the
#     classic conditional-aggregation rewrite with identical aliases.

EVENT_TYPES = ("click", "error", "purchase", "signup", "view")


def events_cube_volume(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = load_table(spark, sf_dir, "events").select(
        "event_type",
        F.expr("hour(ts) DIV 6").cast("long").alias("day_part"),
        F.expr("CAST(FLOOR(value * 100 + 0.5) AS BIGINT)").alias("cents"),
    )
    return ev.cube("event_type", "day_part").agg(
        F.sum("cents").cast("long").alias("volume_cents"),
        F.count(F.lit(1)).alias("n"),
        F.grouping_id().cast("long").alias("level"),
    )


EVENTS_CUBE_VOLUME_SQL = f"""
SELECT event_type, day_part,
       CAST(SUM(cents) AS BIGINT) AS volume_cents,
       CAST(COUNT(*) AS BIGINT) AS n,
       CAST(GROUPING(event_type) * 2 + GROUPING(day_part) AS BIGINT)
         AS level
FROM (
  SELECT event_type, CAST(hour(ts) // 6 AS BIGINT) AS day_part,
         CAST(FLOOR(value * 100 + 0.5) AS BIGINT) AS cents
  FROM {EVENTS_SQL} e
)
GROUP BY CUBE (event_type, day_part)
"""


def events_daily_type_pivot(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = load_table(spark, sf_dir, "events").select(
        # midnight timestamp, not DATE: Spark DateType toPandas()-es to
        # object datetime.date while DuckDB DATE arrives as datetime64 —
        # the comparator's value equality needs the same representation
        # (the fifo_daily_rollup precedent)
        F.to_date("ts").cast("timestamp").alias("day"),
        "event_type",
        F.expr("CAST(FLOOR(value * 100 + 0.5) AS BIGINT)").alias("cents"),
    )
    piv = (
        ev.groupBy("day")
        .pivot("event_type", list(EVENT_TYPES))
        .agg(F.sum("cents"))
    )
    return piv.select(
        "day",
        *[
            F.coalesce(F.col(t), F.lit(0)).cast("long").alias(f"c_{t}")
            for t in EVENT_TYPES
        ],
    )


EVENTS_DAILY_TYPE_PIVOT_SQL = f"""
SELECT CAST(CAST(ts AS TIMESTAMP) AS DATE) AS day,
       {", ".join(
           "CAST(COALESCE(SUM(CASE WHEN event_type = '" + t + "' THEN "
           "CAST(FLOOR(value * 100 + 0.5) AS BIGINT) END), 0) AS BIGINT) "
           "AS c_" + t
           for t in EVENT_TYPES
       )}
FROM events
GROUP BY 1
"""


# --- events_growth_accounting: the DAU growth-accounting decomposition
#     (r9) — the standard MAU/DAU framework: every active (user, day) is
#     classified NEW (first-ever active day), RETAINED (also active the
#     previous day) or RESURRECTED (returning after a gap >= 2 days);
#     CHURNED counts users whose previous active day was exactly the
#     previous day but who are not active today (charged to today).
#     Identity per day: dau = new + retained + resurrected, and
#     yesterday's dau = today's retained + today's churned — both
#     asserted by the oracle differential because each engine derives
#     the classes independently. Spark: one distinct (user, day) frame,
#     per-user LAG + MIN windows, then a day regroup; churn is the same
#     frame re-keyed to day+1 via an anti-join of the next-day actives.
#     The oracle derives every class by EXISTS/NOT-EXISTS self-joins on
#     (user, day±1) — no windows at all. At 100 TB: the distinct
#     (user, day) frame is the bounded activity grid; windows partition
#     per user; the day regroup is map-side combinable.
#     Reference analog: none (beyond-ref growth analytics).


def events_growth_accounting(spark: SparkSession, sf_dir: str) -> DataFrame:
    return growth_accounting_frame(load_table(spark, sf_dir, "events"))


def growth_accounting_frame(
    ev: DataFrame, _cache_out: list | None = None
) -> DataFrame:
    """Frame core over (user_id, ts) — the series suite executes this
    verbatim off its persisted scan.

    ``act`` (the distinct user-day frame) feeds THREE consumers — the LAG
    classification window, the churn day-shift, and the churn anti-join's
    right side — so it is persisted here (the semdedup double-execution
    lesson; r9 verdict finding #2). Eager callers collect it via
    ``_cache_out`` and release it after materializing."""
    act = (
        ev.select("user_id", F.to_date("ts").alias("d")).distinct().persist()
    )
    if _cache_out is not None:
        _cache_out.append(act)
    w = Window.partitionBy("user_id").orderBy("d")
    cls = act.select(
        "user_id",
        "d",
        # first-ever day <=> no LAG predecessor, so one window serves
        # both the new-user and the gap classification
        F.lag("d").over(w).alias("prev_d"),
    ).select(
        "d",
        F.when(F.col("prev_d").isNull(), F.lit("new"))
        .when(F.datediff("d", "prev_d") == 1, F.lit("retained"))
        .otherwise(F.lit("resurrected"))
        .alias("cls"),
    )
    per_day = (
        cls.groupBy("d")
        .pivot("cls", ["new", "retained", "resurrected"])
        .agg(F.count(F.lit(1)))
    )
    # churned on day X: active on X-1, not active on X — the same
    # activity frame shifted, minus next-day actives (left anti join)
    churn = (
        act.select("user_id", F.date_add("d", 1).alias("d"))
        .join(act, ["user_id", "d"], "left_anti")
        .groupBy("d")
        .agg(F.count(F.lit(1)).alias("n_churned"))
    )
    return (
        per_day.join(churn, ["d"], "full")
        .select(
            F.col("d").cast("timestamp").alias("day"),
            F.coalesce("new", F.lit(0)).cast("long").alias("n_new"),
            F.coalesce("retained", F.lit(0)).cast("long").alias(
                "n_retained"
            ),
            F.coalesce("resurrected", F.lit(0)).cast("long").alias(
                "n_resurrected"
            ),
            F.coalesce("n_churned", F.lit(0)).cast("long").alias(
                "n_churned"
            ),
        )
    )


EVENTS_GROWTH_ACCOUNTING_SQL = """
WITH act AS MATERIALIZED (
  SELECT DISTINCT user_id, CAST(CAST(ts AS TIMESTAMP) AS DATE) AS d
  FROM events
),
days AS (
  SELECT d FROM act
  UNION
  SELECT d + 1 FROM act
),
cls AS (
  -- windowless derivation: every class via EXISTS on (user, d-1) and
  -- NOT EXISTS on any earlier activity
  SELECT a.d,
         CASE WHEN NOT EXISTS (SELECT 1 FROM act p
                               WHERE p.user_id = a.user_id AND p.d < a.d)
                THEN 'new'
              WHEN EXISTS (SELECT 1 FROM act p
                           WHERE p.user_id = a.user_id AND p.d = a.d - 1)
                THEN 'retained'
              ELSE 'resurrected' END AS cls
  FROM act a
),
per_day AS (
  SELECT d,
         CAST(COALESCE(SUM(CASE WHEN cls = 'new' THEN 1 END), 0)
              AS BIGINT) AS n_new,
         CAST(COALESCE(SUM(CASE WHEN cls = 'retained' THEN 1 END), 0)
              AS BIGINT) AS n_retained,
         CAST(COALESCE(SUM(CASE WHEN cls = 'resurrected' THEN 1 END), 0)
              AS BIGINT) AS n_resurrected
  FROM cls GROUP BY d
),
churn AS (
  SELECT y.d + 1 AS d, CAST(COUNT(*) AS BIGINT) AS n_churned
  FROM act y
  WHERE NOT EXISTS (SELECT 1 FROM act t
                    WHERE t.user_id = y.user_id AND t.d = y.d + 1)
  GROUP BY y.d + 1
)
SELECT CAST(dd.d AS TIMESTAMP) AS day,
       COALESCE(p.n_new, 0) AS n_new,
       COALESCE(p.n_retained, 0) AS n_retained,
       COALESCE(p.n_resurrected, 0) AS n_resurrected,
       COALESCE(c.n_churned, 0) AS n_churned
FROM (SELECT DISTINCT d FROM days) dd
LEFT JOIN per_day p ON p.d = dd.d
LEFT JOIN churn c ON c.d = dd.d
WHERE COALESCE(p.n_new, 0) + COALESCE(p.n_retained, 0)
      + COALESCE(p.n_resurrected, 0) + COALESCE(c.n_churned, 0) > 0
"""


# --- events_bag_setops: EXCEPT ALL / INTERSECT ALL bag semantics (r9) —
#     the multiset set-operations surface (U3's DISTINCT covers only set
#     semantics): over the per-type multiset of user_ids (one element
#     per event), purchase EXCEPT ALL click keeps each user max(p−c, 0)
#     times and purchase INTERSECT ALL click keeps min(p, c) — the bag
#     algebra every SQL engine defines and naive DISTINCT rewrites get
#     wrong. Spark executes the NATIVE exceptAll/intersectAll operators
#     (hash-based replication counting under the hood); the result is
#     re-aggregated to (user_id, multiplicity) so the gate output is
#     deterministic. The oracle uses DuckDB's native EXCEPT ALL /
#     INTERSECT ALL — engine-native on both sides, closed-form
#     max/min(p,c) checked in pytest. At 100 TB: both operators are one
#     hash shuffle on the element key, same cost class as the groupBy
#     that would compute the closed form.
#     Reference analog: none (beyond-ref SQL-surface parity).


def events_bag_setops(spark: SparkSession, sf_dir: str) -> DataFrame:
    return bag_setops_frame(load_table(spark, sf_dir, "events"))


def bag_setops_frame(ev: DataFrame) -> DataFrame:
    """Frame core over (event_type, user_id) — the series suite executes
    this verbatim off its persisted scan."""
    p = ev.filter(F.col("event_type") == "purchase").select("user_id")
    c = ev.filter(F.col("event_type") == "click").select("user_id")
    exc = (
        p.exceptAll(c)
        .groupBy("user_id")
        .agg(F.count(F.lit(1)).alias("multiplicity"))
        .select(
            F.lit("except_all").alias("op"),
            "user_id",
            F.col("multiplicity").cast("long").alias("multiplicity"),
        )
    )
    inter = (
        p.intersectAll(c)
        .groupBy("user_id")
        .agg(F.count(F.lit(1)).alias("multiplicity"))
        .select(
            F.lit("intersect_all").alias("op"),
            "user_id",
            F.col("multiplicity").cast("long").alias("multiplicity"),
        )
    )
    return exc.unionByName(inter)


EVENTS_BAG_SETOPS_SQL = """
WITH p AS MATERIALIZED (
  SELECT user_id FROM events WHERE event_type = 'purchase'
),
c AS MATERIALIZED (
  SELECT user_id FROM events WHERE event_type = 'click'
)
SELECT 'except_all' AS op, user_id,
       CAST(COUNT(*) AS BIGINT) AS multiplicity
FROM (SELECT user_id FROM p EXCEPT ALL SELECT user_id FROM c)
GROUP BY user_id
UNION ALL
SELECT 'intersect_all' AS op, user_id,
       CAST(COUNT(*) AS BIGINT) AS multiplicity
FROM (SELECT user_id FROM p INTERSECT ALL SELECT user_id FROM c)
GROUP BY user_id
"""


# --- streaming_sessions_windowed / streaming_stream_join_1h: the two
#     Structured-Streaming surfaces that were pytest-proven but not yet
#     ORACLE-gated (r9) — both now real chunked file-source streams whose
#     final answer is checked against a genuinely different batch SQL.
#
#     SESSIONS (ST5): the SAME native session_window expression
#     user_sessions runs in batch, driven through a real watermarked
#     stream in complete mode (state merges across 3 microbatches; a
#     bridging event in a later chunk must merge two earlier islands).
#     Oracle = the gaps-and-islands rewrite. Timestamps round-trip
#     NTZ -> LTZ (session_window needs LTZ) -> NTZ, an identity in any
#     fixed session timezone, so the gate is tz-safe (CLAUDE.md NTZ
#     doctrine; the fixture is January — no DST boundary).
#
#     STREAM-STREAM JOIN: views ⋈ purchases within 1 hour event-time,
#     both sides independent watermarked streams consumed
#     chunk-by-chunk — the cross-stream enrichment shape whose state the
#     watermark horizon bounds at scale. Oracle = the batch interval
#     join. Reference analog: the MV insert cascade (SURVEY §1.1); a
#     JOIN across two live streams is beyond the reference's engine.


def _sessions_stream_frame(spark: SparkSession, sf_dir: str) -> DataFrame:
    import hashlib
    import os
    import shutil

    from ..sources.sinks import prune_stale_staging

    ev = load_table(spark, sf_dir, "events").select(
        "user_id",
        F.col("ts").cast("timestamp").alias("ts"),
        "event_id",
    )
    tag = hashlib.md5(sf_dir.encode()).hexdigest()[:12] + f"_{os.getpid()}"
    prune_stale_staging("nmci_stream_sess_")
    src = f"/tmp/nmci_stream_sess_src_{tag}"
    ckpt = f"/tmp/nmci_stream_sess_ckpt_{tag}"
    for d in (src, ckpt):
        shutil.rmtree(d, ignore_errors=True)
    r = ev.agg(F.min("event_id"), F.max("event_id")).first()
    lo, hi = r[0], r[1]
    b1, b2 = lo + (hi - lo) // 3, lo + 2 * (hi - lo) // 3
    parts = [
        ev.filter(F.col("event_id") <= b1),
        ev.filter((F.col("event_id") > b1) & (F.col("event_id") <= b2)),
        ev.filter(F.col("event_id") > b2),
    ]
    parts[0].coalesce(1).write.mode("overwrite").parquet(src)
    for p in parts[1:]:
        p.coalesce(1).write.mode("append").parquet(src)

    stream = (
        spark.readStream.schema(ev.schema)
        .option("maxFilesPerTrigger", 1)
        .parquet(src)
        # NOTE: complete output mode IGNORES this watermark — no late-data
        # dropping is in effect. Complete mode is required here because a
        # session island can span microbatches (a later file's events can
        # merge two earlier sessions), so every batch must re-emit the
        # full merged state; the watermark is kept only because Spark
        # requires an event-time column declaration for session_window
        # aggregations on streams.
        .withWatermark("ts", "0 seconds")
    )
    sess = stream.groupBy(
        "user_id",
        F.session_window("ts", f"{SESSION_GAP_MIN} minutes").alias("sw"),
    ).agg(F.count(F.lit(1)).alias("n_events"))
    name = f"stream_sessions_{tag}"
    prev_parts = spark.conf.get("spark.sql.shuffle.partitions")
    spark.conf.set("spark.sql.shuffle.partitions", "8")
    try:
        q = (
            sess.writeStream.format("memory")
            .queryName(name)
            .outputMode("complete")
            .option("checkpointLocation", ckpt)
            .trigger(availableNow=True)
            .start()
        )
        if not q.awaitTermination(300):
            # a timeout would otherwise read a partially-folded
            # state and surface as a confusing hash mismatch
            raise RuntimeError(
                f"stream {name} did not terminate within 300s"
            )
    finally:
        spark.conf.set("spark.sql.shuffle.partitions", prev_parts)
    return spark.table(name).select(
        "user_id",
        F.col("sw.start").cast("timestamp_ntz").alias("session_start"),
        F.col("sw.end").cast("timestamp_ntz").alias("session_end"),
        F.col("n_events").cast("long").alias("n_events"),
    )


def streaming_sessions_windowed(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    return _sessions_stream_frame(spark, sf_dir)


STREAMING_SESSIONS_WINDOWED_SQL = f"""
WITH sordered AS (
  SELECT user_id, ts,
         CASE WHEN ts - LAG(ts) OVER (PARTITION BY user_id ORDER BY ts)
                   >= INTERVAL {SESSION_GAP_MIN} MINUTE
              OR LAG(ts) OVER (PARTITION BY user_id ORDER BY ts) IS NULL
              THEN 1 ELSE 0 END AS new_sess
  FROM {EVENTS_SQL} e
),
sflagged AS (
  SELECT user_id, ts,
         SUM(new_sess) OVER (PARTITION BY user_id ORDER BY ts
                             ROWS UNBOUNDED PRECEDING) AS sess_id
  FROM sordered
)
SELECT user_id,
       MIN(ts) AS session_start,
       MAX(ts) + INTERVAL {SESSION_GAP_MIN} MINUTE AS session_end,
       CAST(COUNT(*) AS BIGINT) AS n_events
FROM sflagged
GROUP BY user_id, sess_id
"""


def _stream_join_frame(spark: SparkSession, sf_dir: str) -> DataFrame:
    import hashlib
    import os
    import shutil

    from ..sources.sinks import prune_stale_staging

    ev = load_table(spark, sf_dir, "events").select(
        "user_id", "ts", "event_id", "event_type"
    )
    views = ev.filter(F.col("event_type") == "view").select(
        F.col("user_id").alias("v_user"),
        F.col("ts").cast("timestamp").alias("vts"),
        F.col("event_id").alias("v_id"),
    )
    purchases = ev.filter(F.col("event_type") == "purchase").select(
        F.col("user_id").alias("p_user"),
        F.col("ts").cast("timestamp").alias("pts"),
        F.col("event_id").alias("p_id"),
    )
    tag = hashlib.md5(sf_dir.encode()).hexdigest()[:12] + f"_{os.getpid()}"
    prune_stale_staging("nmci_stream_ssj_")
    vdir = f"/tmp/nmci_stream_ssj_v_{tag}"
    pdir = f"/tmp/nmci_stream_ssj_p_{tag}"
    ckpt = f"/tmp/nmci_stream_ssj_ckpt_{tag}"
    for d in (vdir, pdir, ckpt):
        shutil.rmtree(d, ignore_errors=True)
    for frame, out, idc in ((views, vdir, "v_id"), (purchases, pdir, "p_id")):
        r = frame.agg(F.min(idc), F.max(idc)).first()
        mid = r[0] + (r[1] - r[0]) // 2
        frame.filter(F.col(idc) <= mid).coalesce(1).write.mode(
            "overwrite"
        ).parquet(out)
        frame.filter(F.col(idc) > mid).coalesce(1).write.mode(
            "append"
        ).parquet(out)

    cond = "v_user = p_user AND pts > vts AND pts <= vts + INTERVAL 1 HOUR"
    vs = (
        spark.readStream.schema(views.schema)
        .option("maxFilesPerTrigger", 1)
        .parquet(vdir)
        .withWatermark("vts", "1 hour")
    )
    ps = (
        spark.readStream.schema(purchases.schema)
        .option("maxFilesPerTrigger", 1)
        .parquet(pdir)
        .withWatermark("pts", "1 hour")
    )
    joined = vs.join(ps, F.expr(cond)).select("v_id", "p_id")
    name = f"stream_ssj_{tag}"
    prev_parts = spark.conf.get("spark.sql.shuffle.partitions")
    spark.conf.set("spark.sql.shuffle.partitions", "8")
    try:
        q = (
            joined.writeStream.format("memory")
            .queryName(name)
            .outputMode("append")
            .option("checkpointLocation", ckpt)
            .trigger(availableNow=True)
            .start()
        )
        if not q.awaitTermination(300):
            # a timeout would otherwise read a partially-folded
            # state and surface as a confusing hash mismatch
            raise RuntimeError(
                f"stream {name} did not terminate within 300s"
            )
    finally:
        spark.conf.set("spark.sql.shuffle.partitions", prev_parts)
    return spark.table(name).select(
        F.col("v_id").cast("long").alias("v_id"),
        F.col("p_id").cast("long").alias("p_id"),
    )


def streaming_stream_join_1h(spark: SparkSession, sf_dir: str) -> DataFrame:
    return _stream_join_frame(spark, sf_dir)


STREAMING_STREAM_JOIN_1H_SQL = f"""
WITH sv AS MATERIALIZED (
  SELECT user_id, ts, event_id FROM {EVENTS_SQL} e
  WHERE event_type = 'view'
),
sp AS MATERIALIZED (
  SELECT user_id, ts, event_id FROM {EVENTS_SQL} e
  WHERE event_type = 'purchase'
)
SELECT CAST(sv.event_id AS BIGINT) AS v_id,
       CAST(sp.event_id AS BIGINT) AS p_id
FROM sv JOIN sp
  ON sv.user_id = sp.user_id
 AND sp.ts > sv.ts AND sp.ts <= sv.ts + INTERVAL 1 HOUR
"""
