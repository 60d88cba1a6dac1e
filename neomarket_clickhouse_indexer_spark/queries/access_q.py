"""Access-path gate queries — the last round-1 operator ids with no
driver-gated entry (VERDICT r1 table: S9, P3, P6, P8, P9, T6).

- S9 per-wallet event scans: the reference loops wallets and issues one
  keyset scan each (src/ledger-engine.ts:519-572 per-user fetch); inverted
  here into ONE pass partitioned by wallet (`wallet_event_scans`).
- P6 optional-filter composition: the reference's handlers build WHERE
  clauses from present-only params (src/api.ts:876-918 type/conditionId/
  from/to); `optional_filter_trades` drives the same builder with two
  different present/absent parameter sets in one result.
- P9 validation guards: parameter/row validation with quarantine counts
  (src/api.ts:869-877 clamps; src/main.ts decode guards) —
  `validation_quarantine` injects deterministic corruption and counts per
  rule, the injected-discrepancy pattern of reconcile_chain_balances.
- P8/P3 data skipping + pushdown: MergeTree PARTITION BY/ORDER BY
  (clickhouse/init/001_create_tables.sql:43-44) → hive-partitioned,
  sorted-within-file parquet; `clustered_scan_skipping` writes the layout,
  reads back through the pruned path, and must match the raw-table oracle.
- T6 adaptive widening scan: retry with a wider window when the narrow one
  returns too few rows (src/api.ts:1188-1192); `adaptive_window_trades`
  computes the widening decision for every user in one distributed pass.

All window functions are partitioned by user (no global windows); layout
writes go through `plans.layout` (the 100 TB story: pruning = directory
listing, skipping = row-group min/max).
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from ..domain import FIXED_NOW
from ..sources.tables import load_table
from .util import dsum, sql_dsum

# --- wallet_event_scans (S9): last 3 events per sampled wallet.
#     Reference: per-wallet keyset scans in a loop; here one window pass
#     partitioned by user_id — per-key parallel, no global shuffle hotspot.

_WALLET_MOD = 17
_WALLET_RESIDUE = 3
_SCAN_K = 3


def wallet_event_scans(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = load_table(spark, sf_dir, "events").filter(
        F.col("user_id") % _WALLET_MOD == _WALLET_RESIDUE
    )
    w = Window.partitionBy("user_id").orderBy(
        F.desc("ts"), F.desc("event_id")
    )
    return (
        ev.withColumn("rn", F.row_number().over(w))
        .filter(F.col("rn") <= _SCAN_K)
        .select("user_id", "rn", "event_id", "event_type", "value")
    )


WALLET_EVENT_SCANS_SQL = f"""
SELECT user_id, rn, event_id, event_type, value
FROM (
  SELECT user_id, event_id, event_type, value,
         ROW_NUMBER() OVER (PARTITION BY user_id
                            ORDER BY ts DESC, event_id DESC) AS rn
  FROM events
  WHERE user_id % {_WALLET_MOD} = {_WALLET_RESIDUE}
)
WHERE rn <= {_SCAN_K}
"""


# --- optional_filter_trades (P6): WHERE built only from present params.

def _optional_filters(
    df: DataFrame,
    event_type: str | None = None,
    ts_from: str | None = None,
    ts_to: str | None = None,
    min_value: float | None = None,
) -> DataFrame:
    """Compose only the filters whose parameter is present — the
    reference's handler pattern (absent param ⇒ no predicate at all, so
    Catalyst sees exactly the given conjuncts and pushes them down)."""
    if event_type is not None:
        df = df.filter(F.col("event_type") == event_type)
    if ts_from is not None:
        df = df.filter(F.col("ts") >= F.lit(ts_from).cast("timestamp"))
    if ts_to is not None:
        df = df.filter(F.col("ts") < F.lit(ts_to).cast("timestamp"))
    if min_value is not None:
        df = df.filter(F.col("value") >= min_value)
    return df


_OPT_PAGE = 50


def optional_filter_trades(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = load_table(spark, sf_dir, "events")

    def page(label: str, **params) -> DataFrame:
        return (
            _optional_filters(ev, **params)
            .orderBy(F.desc("ts"), F.desc("event_id"))
            .limit(_OPT_PAGE)
            .select(
                F.lit(label).alias("param_set"),
                "event_id",
                F.unix_timestamp("ts").alias("time"),
                "event_type",
                "value",
            )
        )

    # Two parameter sets: one with type+min_value present (time bounds
    # absent), one with only a time range present.
    a = page("typed", event_type="purchase", min_value=100.0)
    b = page("ranged", ts_from="2024-01-10 00:00:00",
             ts_to="2024-01-20 00:00:00")
    return a.unionByName(b)


OPTIONAL_FILTER_TRADES_SQL = f"""
WITH a AS (
  SELECT 'typed' AS param_set, event_id, CAST(FLOOR(epoch(ts)) AS BIGINT) AS time,
         event_type, value
  FROM events
  WHERE event_type = 'purchase' AND value >= 100.0
  ORDER BY ts DESC, event_id DESC LIMIT {_OPT_PAGE}
), b AS (
  SELECT 'ranged' AS param_set, event_id, CAST(FLOOR(epoch(ts)) AS BIGINT) AS time,
         event_type, value
  FROM events
  WHERE ts >= TIMESTAMP '2024-01-10 00:00:00'
    AND ts < TIMESTAMP '2024-01-20 00:00:00'
  ORDER BY ts DESC, event_id DESC LIMIT {_OPT_PAGE}
)
SELECT * FROM a UNION ALL SELECT * FROM b
"""


# --- validation_quarantine (P9): deterministic corruption → per-rule counts.
#     Corruption keys off md5(event_id) so Spark and DuckDB derive the same
#     victims; rules mirror the reference's decode/param guards (null key,
#     negative amount, unknown type, out-of-range timestamp).

def _corrupt(ev: DataFrame) -> DataFrame:
    h = F.conv(F.substring(F.md5(F.col("event_id").cast("string")), 1, 6),
               16, 10).cast("long")
    return ev.select(
        "event_id",
        F.when(h % 11 == 0, F.lit(None).cast("double"))
        .when(h % 11 == 1, -F.col("value"))
        .otherwise(F.col("value")).alias("value"),
        F.when(h % 13 == 2, F.lit("???")).otherwise(
            F.col("event_type")).alias("event_type"),
        F.when(h % 17 == 3,
               F.lit("1969-12-31 23:59:59").cast("timestamp"))
        .otherwise(F.col("ts")).alias("ts"),
    )


_ALLOWED_TYPES = ("click", "signup", "error", "view", "purchase")


def validation_quarantine(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = _corrupt(load_table(spark, sf_dir, "events"))
    null_v = F.col("value").isNull()
    neg_v = F.col("value") < 0
    bad_t = ~F.col("event_type").isin(*_ALLOWED_TYPES)
    old_ts = F.col("ts") < F.lit("2020-01-01").cast("timestamp")
    rejected = null_v | neg_v | bad_t | old_ts

    def cnt(cond: Column, alias: str) -> Column:
        return F.sum(F.when(cond, 1).otherwise(0)).cast("long").alias(alias)

    return ev.agg(
        cnt(null_v, "n_null_value"),
        cnt(neg_v, "n_negative_value"),
        cnt(bad_t, "n_bad_type"),
        cnt(old_ts, "n_stale_ts"),
        cnt(~rejected, "n_accepted"),
        dsum(F.when(~rejected, F.col("value")).otherwise(F.lit(0.0)),
             "accepted_value"),
    )


VALIDATION_QUARANTINE_SQL = f"""
WITH c AS (
  SELECT event_id,
         CASE WHEN h % 11 = 0 THEN NULL
              WHEN h % 11 = 1 THEN -value ELSE value END AS value,
         CASE WHEN h % 13 = 2 THEN '???' ELSE event_type END AS event_type,
         CASE WHEN h % 17 = 3 THEN TIMESTAMP '1969-12-31 23:59:59'
              ELSE ts END AS ts
  FROM (SELECT *,
               CAST('0x' || substr(md5(CAST(event_id AS VARCHAR)), 1, 6)
                    AS BIGINT) AS h
        FROM events)
)
SELECT
  CAST(SUM(CASE WHEN value IS NULL THEN 1 ELSE 0 END) AS BIGINT)
    AS n_null_value,
  CAST(SUM(CASE WHEN value < 0 THEN 1 ELSE 0 END) AS BIGINT)
    AS n_negative_value,
  CAST(SUM(CASE WHEN event_type NOT IN {tuple(_ALLOWED_TYPES)!r}
               THEN 1 ELSE 0 END) AS BIGINT)
    AS n_bad_type,
  CAST(SUM(CASE WHEN ts < TIMESTAMP '2020-01-01' THEN 1 ELSE 0 END) AS BIGINT)
    AS n_stale_ts,
  CAST(SUM(CASE WHEN NOT (value IS NULL OR value < 0
                          OR event_type NOT IN {tuple(_ALLOWED_TYPES)!r}
                          OR ts < TIMESTAMP '2020-01-01')
                THEN 1 ELSE 0 END) AS BIGINT) AS n_accepted,
  {sql_dsum("CASE WHEN NOT (value IS NULL OR value < 0 "
            f"OR event_type NOT IN {tuple(_ALLOWED_TYPES)!r} "
            "OR ts < TIMESTAMP '2020-01-01') THEN value ELSE 0.0 END",
            "accepted_value")}
FROM c
"""


# --- clustered_scan_skipping (P8/P3): write the MergeTree-analog layout
#     (hive partition by day, rows sorted by (event_type, ts) within files),
#     then answer a day+type-scoped aggregate THROUGH the layout. The gate's
#     oracle computes from the raw table: pruning/skipping must be purely a
#     physical optimization with identical results.

def clustered_scan_skipping(spark: SparkSession, sf_dir: str) -> DataFrame:
    from ..plans.layout import clustered_events_layout

    out_dir = clustered_events_layout(spark, sf_dir)
    return (
        spark.read.parquet(out_dir)
        # partition-pruning predicate (directory level) + clustered-key
        # predicate (row-group min/max skipping)
        .filter(F.col("event_date").between("2024-01-10", "2024-01-16"))
        .filter(F.col("event_type") == "purchase")
        # partition-column type inference may read event_date back as a
        # DATE; pin the output to the oracle's string dtype
        .groupBy(F.col("event_date").cast("string").alias("event_date"))
        .agg(
            F.count(F.lit(1)).alias("n_events"),
            dsum(F.col("value"), "day_value"),
        )
    )


CLUSTERED_SCAN_SKIPPING_SQL = f"""
SELECT strftime(ts, '%Y-%m-%d') AS event_date,
       COUNT(*) AS n_events,
       {sql_dsum("value", "day_value")}
FROM events
WHERE strftime(ts, '%Y-%m-%d') BETWEEN '2024-01-10' AND '2024-01-16'
  AND event_type = 'purchase'
GROUP BY 1
"""


# --- adaptive_window_trades (T6): the widening decision for every user in
#     one pass — both candidate windows aggregated conditionally, then the
#     narrow one kept iff it has enough rows.

_NARROW_D = 3
_WIDE_D = 21
_MIN_ROWS = 10


def adaptive_window_trades(spark: SparkSession, sf_dir: str) -> DataFrame:
    now = F.lit(FIXED_NOW).cast("timestamp")
    ev = load_table(spark, sf_dir, "events").filter(
        F.col("event_type") == "purchase"
    )
    in_narrow = F.col("ts") >= now - F.expr(f"INTERVAL {_NARROW_D} DAYS")
    in_wide = F.col("ts") >= now - F.expr(f"INTERVAL {_WIDE_D} DAYS")
    per_user = ev.groupBy("user_id").agg(
        F.sum(F.when(in_narrow, 1).otherwise(0)).cast("long").alias("n_narrow"),
        F.sum(F.when(in_wide, 1).otherwise(0)).cast("long").alias("n_wide"),
        dsum(F.when(in_narrow, F.col("value")).otherwise(F.lit(0.0)),
             "v_narrow"),
        dsum(F.when(in_wide, F.col("value")).otherwise(F.lit(0.0)), "v_wide"),
    )
    widened = F.col("n_narrow") < _MIN_ROWS
    return per_user.select(
        "user_id",
        widened.alias("window_widened"),
        F.when(widened, _WIDE_D).otherwise(_NARROW_D)
        .cast("int").alias("window_days"),
        F.when(widened, F.col("n_wide")).otherwise(F.col("n_narrow"))
        .alias("n_trades"),
        F.when(widened, F.col("v_wide")).otherwise(F.col("v_narrow"))
        .alias("trade_value"),
    )


ADAPTIVE_WINDOW_TRADES_SQL = f"""
WITH per_user AS (
  SELECT user_id,
         SUM(CASE WHEN ts >= TIMESTAMP '{FIXED_NOW}' - INTERVAL {_NARROW_D} DAY
                  THEN 1 ELSE 0 END) AS n_narrow,
         SUM(CASE WHEN ts >= TIMESTAMP '{FIXED_NOW}' - INTERVAL {_WIDE_D} DAY
                  THEN 1 ELSE 0 END) AS n_wide,
         {sql_dsum(f"CASE WHEN ts >= TIMESTAMP '{FIXED_NOW}' - INTERVAL {_NARROW_D} DAY "
                   "THEN value ELSE 0.0 END", "v_narrow")},
         {sql_dsum(f"CASE WHEN ts >= TIMESTAMP '{FIXED_NOW}' - INTERVAL {_WIDE_D} DAY "
                   "THEN value ELSE 0.0 END", "v_wide")}
  FROM events
  WHERE event_type = 'purchase'
  GROUP BY user_id
)
SELECT user_id,
       n_narrow < {_MIN_ROWS} AS window_widened,
       CAST(CASE WHEN n_narrow < {_MIN_ROWS} THEN {_WIDE_D}
                 ELSE {_NARROW_D} END AS INTEGER) AS window_days,
       CAST(CASE WHEN n_narrow < {_MIN_ROWS} THEN n_wide ELSE n_narrow END
            AS BIGINT) AS n_trades,
       CASE WHEN n_narrow < {_MIN_ROWS} THEN v_wide ELSE v_narrow END
         AS trade_value
FROM per_user
"""


# --- skewed_type_volume (A1 + skew mitigation): salted two-phase
#     aggregation driven through the gate. event_type has cardinality 5 over
#     the whole table — the textbook hot-key shape where a plain groupBy
#     funnels each key's entire mass through one reducer. `salted_agg`
#     spreads each key over 32 deterministic subkeys, partially aggregates
#     at (key, salt), then merges at (key). Exactness: both phases sum in
#     DECIMAL(30,10) (associative and exact), final half-away ROUND(4) in
#     decimal space — the dsum_dec discipline, so the salting is invisible
#     to the oracle.

def skewed_type_volume(spark: SparkSession, sf_dir: str) -> DataFrame:
    from ..operators.skew import salted_agg
    from .util import DEC

    ev = load_table(spark, sf_dir, "events")
    return salted_agg(
        ev,
        keys=["event_type"],
        partial_aggs=lambda: [
            F.sum(F.col("value").cast(DEC)).alias("__sum"),
            F.count(F.lit(1)).alias("__n"),
        ],
        final_aggs=lambda: [
            F.round(F.sum("__sum"), 4).cast("double").alias("sum_value"),
            F.sum("__n").cast("long").alias("n_rows"),
        ],
        salt_col="event_id",
    )


SKEWED_TYPE_VOLUME_SQL = """
SELECT event_type,
       CAST(ROUND(SUM(CAST(value AS DECIMAL(30,10))), 4) AS DOUBLE)
         AS sum_value,
       COUNT(*) AS n_rows
FROM events
GROUP BY event_type
"""


# --- zorder_scan_skipping (P8 depth): two-dimension data skipping. The
#     clustered layout (above) sorts on (event_type, ts) — selective for
#     the LEADING key only. The Z-ordered layout interleaves (user_id,
#     event_type) bits (plans/layout.py::zorder_events_layout), so a
#     conjunctive predicate on BOTH dims maps to a small number of zv
#     ranges and parquet row-group min/max stats skip everything else —
#     the multi-dim analog of ClickHouse's MergeTree ORDER BY tuple
#     (clickhouse/init/001_create_tables.sql:43-44) that a single sort key
#     cannot provide. The differential checks the rewritten layout serves
#     EXACTLY the raw table's answer; test_layout asserts both predicates
#     reach the scan as PushedFilters.


def zorder_scan_skipping(spark: SparkSession, sf_dir: str) -> DataFrame:
    from ..plans.layout import zorder_events_layout

    out_dir = zorder_events_layout(spark, sf_dir)
    return (
        spark.read.parquet(out_dir)
        .filter(
            (F.col("event_type") == "purchase")
            & F.col("user_id").between(16, 47)
        )
        .groupBy("user_id")
        .agg(
            F.count(F.lit(1)).alias("n_events"),
            F.min("event_id").alias("first_event"),
            F.max("event_id").alias("last_event"),
            dsum(F.col("value"), "user_value"),
        )
    )


ZORDER_SCAN_SKIPPING_SQL = f"""
SELECT user_id,
       COUNT(*) AS n_events,
       MIN(event_id) AS first_event,
       MAX(event_id) AS last_event,
       {sql_dsum("value", "user_value")}
FROM events
WHERE event_type = 'purchase' AND user_id BETWEEN 16 AND 47
GROUP BY user_id
"""
