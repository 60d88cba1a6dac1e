"""Serving layer — the reference's 14 HTTP GET endpoints re-expressed as
DataFrame pipelines returning JSON-ready envelopes.

Reference router: src/api.ts:1995-2041; per-endpoint handlers cited on each
method. The serving discipline carried over:

- result-size clamps (leaderboard ≤100, activity/trades ≤200, candles
  ≤5000, ledger/snapshots ≤10000 — src/api.ts:1324,876,1143,1784,701,728),
- the pre-aggregated-first / raw-fallback ladder (src/api.ts:1340-1360,
  1421-1429): serve from the derived table when it exists, recompute from
  raw otherwise,
- camelCase + unix-seconds response conventions (README.md:57-67).

Dashboard reads are served from answer tables, as the reference serves
them from pre-aggregated and pre-sorted ClickHouse tables: ``user_stats``,
``leaderboard(sort="volume")``, ``candles``, ``portfolio_history``,
``market_stats``, ``discover``, ``activity`` and ``recent_trades`` each
read a driver-resident table that Spark computes once per context and per
version of the events source (its ``(mtime_ns, size)``), then answer by
key lookup and slice — no Spark job per request. ``activity`` and
``recent_trades`` share one table: each user's raw events, newest first.

The per-wallet endpoints — ``ledger``, ``snapshots``, ``positions``,
``explain_user`` and ``pnl`` — recompute one wallet from raw events on
every request, as the reference reads one wallet's ledger with a query
filtered on its key: one Spark job scans the events with ``user_id = u``
pushed down to parquet and collects that wallet's rows, then the ledger
engine (or the FIFO fold, for ``pnl``) replays them on the driver. No
shuffle, no Python worker, and nothing kept between requests.
``holders`` and ``leaderboard(sort="pnl")`` run the whole-table FIFO
allocation per request.

The context takes the *generic* event-stream tables (driver testdata) or
domain-normalized frames; endpoints are thin — all heavy lifting lives in
domain.py, operators/ and ledger/, so a real HTTP front (any WSGI wrapper)
is a 30-line adapter. Nothing here imports the ``queries`` gate registry.
"""

from __future__ import annotations

import threading
from decimal import ROUND_HALF_UP, Decimal
from typing import Any, Callable

import numpy as np
import pandas as pd
from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from .. import domain
from ..operators.candles import finalize, ohlcv, rebucket
# load_table is looked up on its module per call, so wrappers installed on
# sources.tables see these reads too
from ..sources import tables

INTERVALS = {"1m": 60, "5m": 300, "1h": 3600, "1d": 86400, "1w": 604800}
CANDLE_LAG_S = 3600  # how far the candle tier may lag the raw events


def _rows(df: DataFrame, limit: int | None = None) -> list[dict[str, Any]]:
    if limit is not None:
        df = df.limit(limit)
    return [r.asDict(recursive=True) for r in df.collect()]


def _keyed(df: DataFrame, key: str) -> dict[Any, list[dict[str, Any]]]:
    """Collect ``df`` whole into an answer table: its rows grouped by
    column ``key`` (dropped from the rows), in collect order."""
    out: dict[Any, list[dict[str, Any]]] = {}
    for r in _rows(df):
        out.setdefault(r.pop(key), []).append(r)
    return out


def _copies(rows: list[dict[str, Any]], limit: int) -> list[dict[str, Any]]:
    """The first ``limit`` rows of a shared answer table, as fresh dicts."""
    return [r.copy() for r in rows[:limit]]


def _collect(df: DataFrame) -> pd.DataFrame:
    """``df`` collected into pandas in one job, with ``ts`` as naive
    Timestamps of its session-zone wall time — what ``mapInPandas`` hands
    the ledger and FIFO code. ``ts`` is cast to TIMESTAMP_NTZ first: a
    collected TIMESTAMP comes back in the Python process's local zone."""
    df = df.withColumn("ts", F.col("ts").cast("timestamp_ntz"))
    out = pd.DataFrame(_rows(df), columns=df.columns)
    out["ts"] = pd.to_datetime(out["ts"])
    return out


def _entry_rows(entries: list[dict], fields: tuple[str, ...],
                limit: int) -> list[dict[str, Any]]:
    """The first ``limit`` ledger entries in (block_timestamp,
    block_number, log_index) order, as ``event_type``, ``time`` (epoch
    seconds) and ``fields``."""
    entries = sorted(entries, key=lambda e: (
        e["block_timestamp"], e["block_number"], e["log_index"]))
    return [{"event_type": e["event_type"],
             "time": e["block_timestamp"].value // 1_000_000_000,
             **{f: e[f] for f in fields}} for e in entries[:limit]]


def _dec10(x: float) -> Decimal:
    """Spark's double -> DECIMAL(30,10) cast: the double's shortest
    decimal form, rounded half up to 10 places."""
    return Decimal(repr(x)).quantize(Decimal("1e-10"), ROUND_HALF_UP)


class ServeContext:
    """Bind a SparkSession + sf_dir once; each method is one endpoint."""

    def __init__(self, spark: SparkSession, sf_dir: str,
                 candle_state: DataFrame | None = None,
                 snapshot_state: DataFrame | None = None):
        self.spark = spark
        self.sf_dir = sf_dir
        # pre-aggregated candle tier (ladder step 1); None → recompute raw
        self.candle_state = candle_state
        # O2 snapshot tier (wallet_pnl_snapshots analog); None → built
        # lazily per events-source version (``_snapshots``)
        self.snapshot_state = snapshot_state
        # answer tables: (table, argument) → (events source token, table)
        self._tables: dict[tuple, tuple] = {}
        self._build_locks: dict[tuple, threading.Lock] = {}
        self._build_locks_guard = threading.Lock()

    def _table(self, name: str, arg: Any, build: Callable[[], Any]) -> Any:
        """The answer table ``(name, arg)`` for the events source as it is
        now. It is built on first use and again after the source is
        rewritten or appended to; each version is built once, even when
        first requests race (one lock per table, so different tables build
        side by side). A finished table is published with one assignment,
        so a reader never sees a half-built one."""
        token = tables.source_token(tables.table_path(self.sf_dir, "events"))
        slot = (name, arg)
        hit = self._tables.get(slot)
        if hit is None or hit[0] != token:
            with self._build_locks_guard:
                lock = self._build_locks.setdefault(slot, threading.Lock())
            with lock:
                hit = self._tables.get(slot)
                if hit is None or hit[0] != token:
                    hit = (token, build())
                    self._tables[slot] = hit
        return hit[1]

    def _snapshots(self) -> DataFrame:
        """The snapshot tier: the injected one, else one built from the
        domain ledger per events-source version, like an answer table."""
        if self.snapshot_state is not None:
            return self.snapshot_state
        from ..ledger.build import build_wallet_snapshots

        return self._table("snapshot_tier", None, lambda: (
            build_wallet_snapshots(
                domain._domain_events(self.spark, self.sf_dir,
                                      integer_splits=True),
                interval_s=domain.SNAPSHOT_INTERVAL_S,
            ).localCheckpoint(eager=True)))

    def _candle_state_fresh(self) -> bool:
        """The tier is fresh if its max bucket is within ``CANDLE_LAG_S`` of
        the raw data's max event time (checked once per events version)."""
        def check() -> bool:
            state_max = self.candle_state.agg(F.max("bucket")).collect()[0][0]
            raw_max = (
                tables.load_table(self.spark, self.sf_dir, "events")
                .agg(F.max("ts"))
                .collect()[0][0]
            )
            return (
                state_max is not None
                and raw_max is not None
                and (raw_max - state_max).total_seconds() <= CANDLE_LAG_S
            )

        return self._table("candle_state_fresh", None, check)

    def _wallet_events(self, user_id: int) -> DataFrame:
        """The domain events of one user's wallet, the input of every
        per-wallet endpoint; the scan reads that user's rows only."""
        return domain._domain_events(self.spark, self.sf_dir, user_id=user_id)

    def _replay(self, user_id: int, snapshot_interval_s: int | None = None):
        """One user's wallet replayed on the driver: one Spark job collects
        its domain events, then the ledger engine runs in process (a wallet
        is tens of events, a few ms). Nothing is kept between requests."""
        from ..ledger.build import replay_wallet

        return replay_wallet(f"0xw{user_id}",
                             _collect(self._wallet_events(user_id)),
                             snapshot_interval_s)

    # /leaderboard (src/api.ts:1322-1473); category= routes to the filtered
    # raw-join plan (queryLeaderboardFromRawFiltered, src/api.ts:597-635)
    def leaderboard(self, sort: str = "volume", limit: int = 100,
                    category: str | None = None) -> dict:
        from ..determinism import ranked_topk

        limit = max(1, min(limit, 100))
        if category is not None:
            df = domain.category_leaderboard(self.spark, self.sf_dir, category)
            return {"sort": sort, "category": category,
                    "entries": _rows(df, limit)}
        if sort == "volume":
            top = self._table("top_volume", None, lambda: _rows(
                domain.top_users_by_volume(self.spark, self.sf_dir)
                .orderBy("rank")))
            return {"sort": sort, "entries": _copies(top, limit)}
        if sort != "pnl":
            raise ValueError(f"unsupported sort {sort!r}")
        # TakeOrdered top-k then rank the ≤100-row frame;
        # monotonically_increasing_id is NOT a rank — it encodes the
        # partition id in the high bits (ADVICE r1)
        df = ranked_topk(
            domain.fifo_user_pnl(self.spark, self.sf_dir),
            [F.desc("realized_pnl"), F.asc("key")],
            limit,
        )
        return {"sort": sort, "entries": _rows(df, limit)}

    # /market/candles (src/api.ts:1784-1879). The ladder is freshness-aware
    # (reference materialized→raw fallback, src/api.ts:1340-1360,1421-1429):
    # a stale pre-agg tier (max bucket older than the raw data it should
    # cover) silently falls back to the raw scan instead of serving holes.
    def candles(self, key: str, interval: str = "1m", limit: int = 5000) -> dict:
        limit = max(1, min(limit, 5000))
        if interval not in INTERVALS:
            raise ValueError(
                f"interval must be one of {sorted(INTERVALS)}, got {interval!r}"
            )
        seconds = INTERVALS[interval]
        table = self._table("candles", seconds,
                            lambda: self._build_candles(seconds))
        return {"key": key, "interval": interval,
                "candles": _copies(table.get(key, []), limit)}

    def _build_candles(self, seconds: int) -> dict:
        if self.candle_state is not None and self._candle_state_fresh():
            base = self.candle_state
            tier = rebucket(base, seconds) if seconds > 60 else base
        else:
            ev = tables.load_table(self.spark, self.sf_dir, "events")
            tier = ohlcv(ev, key="event_type", ts="ts", price="value",
                         ord_col="event_id", bucket_seconds=seconds)
        out = (
            finalize(tier)
            .orderBy("key", "bucket")
            .select(
                "key",
                F.unix_timestamp("bucket").alias("time"),
                "open", "high", "low", "close", "volume", "trades",
            )
        )
        return _keyed(out, "key")

    # /user/stats (src/api.ts:1034-1116)
    def user_stats(self, user_id: int) -> dict:
        table = self._table("user_stats", None, lambda: {
            r["user_id"]: r
            for r in _rows(domain.user_stats(self.spark, self.sf_dir))})
        row = table.get(user_id)
        return row.copy() if row else {}

    # /activity (src/api.ts:876-918) — keyset-deterministic pagination
    def activity(self, user_id: int, limit: int = 200, offset: int = 0) -> dict:
        if offset < 0:
            raise ValueError(f"offset must be >= 0, got {offset}")
        limit = max(1, min(limit, 200))
        rows = self._user_events().get(user_id, ())
        return {"userId": user_id, "events": [
            {k: r[k] for k in ("event_id", "time", "event_type", "value")}
            for r in rows[offset:offset + limit]]}

    def _user_events(self) -> dict[int, list[dict[str, Any]]]:
        """The answer table of ``activity`` and ``recent_trades``: user_id
        → that user's raw events (``event_id``, ``time``, ``event_type``,
        ``value``, ``ts_us``) in ``(ts desc, event_id desc)`` order, nulls
        last. ``ts_us`` is the epoch micros of ``CAST(ts AS TIMESTAMP)``,
        the type an NTZ ``ts`` is promoted to when compared with the
        ``/trades`` cut-offs. One Spark job, no shuffle: collect the
        projected rows, then sort on the driver."""
        def build() -> dict[int, list[dict[str, Any]]]:
            events = tables.load_table(self.spark, self.sf_dir, "events")
            out = _keyed(events.select(
                "user_id", "event_id", F.unix_timestamp("ts").alias("time"),
                "event_type", "value",
                F.unix_micros(F.col("ts").cast("timestamp")).alias("ts_us")),
                "user_id")
            for rows in out.values():
                rows.sort(key=lambda r: (
                    r["ts_us"] is None, -(r["ts_us"] or 0),
                    r["event_id"] is None, -(r["event_id"] or 0)))
            return out

        return self._table("user_events", None, build)

    # /portfolio/history (src/api.ts:993-1009): snapshot-FIRST — the
    # interval marks come from the O2 snapshot tier (wallet_pnl_snapshots
    # analog: argMax(open_positions_value / token_count / realized +
    # unrealized, snapshot_time) per requested bucket), never recomputed
    # from raw events. Mirrors the reference's prebuilt-table read; the
    # tier is injected (snapshot_state) or built once per events version.
    def portfolio_history(self, user_id: int, interval: str = "1d") -> dict:
        secs = INTERVALS[interval]
        table = self._table("portfolio_history", secs,
                            lambda: self._build_portfolio(secs))
        return {
            "userId": user_id,
            "interval": interval,
            "snapshots": _copies(table.get(f"0xw{user_id}", []), 10000),
        }

    def _build_portfolio(self, secs: int) -> dict:
        bucket = (F.floor(F.col("snapshot_epoch") / secs) * secs).cast("long")
        df = (
            self._snapshots()
            .groupBy("wallet", bucket.alias("timestamp"))
            .agg(
                F.max_by("open_positions_value", "snapshot_epoch")
                .alias("totalValue"),
                F.max_by("token_count", "snapshot_epoch").alias("positions"),
                F.max_by(
                    F.col("realized_pnl") + F.col("unrealized_pnl"),
                    "snapshot_epoch",
                ).alias("pnl"),
            )
            .orderBy("wallet", "timestamp")
        )
        return _keyed(df, "wallet")

    # /trades recent window with adaptive widening (T6: retry with a 365d
    # window when the 30d window returns <10 rows, src/api.ts:1188-1192).
    # In (ts desc, event_id desc) order the 30d window's rows are a prefix
    # of the 365d window's, so one walk of the user's rows answers both.
    def recent_trades(self, user_id: int, now=None, min_rows: int = 10) -> dict:
        cut30, cut365 = self._cutoffs(now or domain.FIXED_NOW)
        rows, n30 = [], 0
        for r in self._user_events().get(user_id, ()):
            ts_us = r["ts_us"]
            if len(rows) == 200 or ts_us is None or cut365 is None \
                    or ts_us < cut365:
                break
            if r["event_type"] == "purchase":
                rows.append({k: r[k] for k in ("event_id", "time", "value")})
                if cut30 is not None and ts_us >= cut30:
                    n30 += 1
        if n30 >= min_rows:
            return {"userId": user_id, "trades": rows[:n30],
                    "windowWidened": False}
        return {"userId": user_id, "trades": rows, "windowWidened": True}

    def _cutoffs(self, now) -> tuple[int | None, int | None]:
        """Epoch micros of ``CAST(now AS TIMESTAMP) - INTERVAL d DAYS`` for
        the 30- and 365-day ``/trades`` windows, as Spark resolves them
        (once per ``now``)."""
        return self._table("trades_cutoffs", now, lambda: tuple(self.spark.sql(
            "SELECT unix_micros(CAST(:now AS TIMESTAMP) - INTERVAL 30 DAYS),"
            " unix_micros(CAST(:now AS TIMESTAMP) - INTERVAL 365 DAYS)",
            args={"now": now}).collect()[0]))

    # /pnl (src/api.ts: ledger-backed; modes in src/calculate-pnl.ts:4-10)
    def pnl(self, user_id: int, mode: str = "total",
            start: str | None = None, end: str | None = None) -> dict:
        """All four reference PnL modes (src/calculate-pnl.ts:4-10; CLI
        default mode 4 = total). Modes 1-2 are realized-only filters;
        modes 3-4 add the open-lot unrealized mark at the period end."""
        from ..ledger.pnl import _canonical_mode
        from ..operators.fifo import PNL_UNREALIZED_SCHEMA, _per_key, _unreal_fold

        mode = _canonical_mode(mode)
        start = start or "1970-01-01 00:00:00"
        end = end or domain.FIXED_NOW
        # fifo_unrealized_modes' input and fold for one key, run on the
        # driver over the key's rows in (ts, ord) order
        rows = _collect(domain._fifo_input(self.spark, self.sf_dir).filter(
            (F.col("key") == user_id)
            & (F.col("ts") < F.lit(end).cast("timestamp"))
        )).sort_values(["ts", "ord"], kind="stable")
        if rows.empty:
            return {"userId": user_id, "mode": mode, "realizedPnl": 0.0,
                    "unrealizedPnl": 0.0, "totalPnl": 0.0}
        start64, end64 = np.datetime64(start), np.datetime64(end)
        fold = _per_key(lambda *c: _unreal_fold(*c, start64, end64),
                        PNL_UNREALIZED_SCHEMA)
        r = fold(rows).to_dict("records")[0]
        realized = (r["realized_period_only"]
                    if mode in ("period_only", "period_plus_unrealized")
                    else r["realized_with_history"])
        unrealized = {"period_plus_unrealized": r["unrealized_period"],
                      "total": r["unrealized_all"]}.get(mode, 0.0)
        total = {"period_plus_unrealized": r["pnl_period"],
                 "total": r["pnl_total"]}.get(mode, realized)
        return {
            "userId": user_id,
            "mode": mode,
            "realizedPnl": realized,
            "unrealizedPnl": unrealized,
            "totalPnl": total,
            "openQty": r["open_qty"],
        }

    # /leaderboard/explain (src/api.ts:1560-1667): per-wallet ledger entries
    # + the never-negative-inventory invariant verdict (O7)
    def explain_user(self, user_id: int, limit: int = 10000) -> dict:
        from ..verify.invariants import inventory_violations

        entries = self._replay(user_id).entries
        violations = len(inventory_violations(entries))
        return {
            "wallet": f"0xw{user_id}",
            "entries": _entry_rows(
                entries, ("token_id", "quantity", "usdc_delta", "realized_pnl"),
                max(1, min(limit, 10000))),
            "invariants": {
                "never_negative_inventory": violations == 0,
                "violations": violations,
            },
        }

    # /market/holders (src/api.ts top-5 holders shape): largest open
    # positions per market proxy
    def holders(self, limit: int = 5) -> dict:
        df = (
            domain.fifo_user_pnl(self.spark, self.sf_dir)
            .filter(F.col("open_qty") > 0)
            .orderBy(F.desc("open_qty"), F.asc("key"))
            .select(
                F.col("key").alias("user_id"), "open_qty", "open_cost"
            )
        )
        return {"holders": _rows(df, max(1, min(limit, 5)))}

    # /market/stats (src/api.ts:1240-1256 shape): 24h window aggregates +
    # deterministic last price per key
    def market_stats(self, key: str) -> dict:
        table = self._table("market_stats", None, self._build_market_stats)
        row = table.get(key, {})
        return {
            "key": key,
            "trades24h": row.get("trades24h", 0),
            "volume24h": row.get("volume24h") or 0.0,
            "uniqueUsers24h": row.get("uniqueUsers24h", 0),
            "lastPrice": row.get("lastPrice"),
        }

    def _build_market_stats(self) -> dict:
        now = F.lit(domain.FIXED_NOW).cast("timestamp")
        day = F.col("ts") >= now - F.expr("INTERVAL 24 HOURS")
        df = (
            tables.load_table(self.spark, self.sf_dir, "events")
            .groupBy("event_type")
            .agg(
                F.count(F.when(day, F.lit(1))).alias("trades24h"),
                F.round(F.sum(F.when(day, F.col("value").cast("decimal(30,10)"))),
                        4).cast("double").alias("volume24h"),
                F.countDistinct(F.when(day, F.col("user_id")))
                .alias("uniqueUsers24h"),
                F.max_by("value", "event_id").alias("lastPrice"),
            )
        )
        return {r.pop("event_type"): r for r in _rows(df)}

    # /discover/markets (src/api.ts:1940-1988): 3-way left join of metadata
    # proxy × last price × windowed volume, sorted by volume
    def discover(self, limit: int = 20) -> dict:
        markets = self._table("discover", None, self._build_discover)
        return {"markets": _copies(markets, max(1, min(limit, 100)))}

    def _build_discover(self) -> list[dict[str, Any]]:
        ev = tables.load_table(self.spark, self.sf_dir, "events")
        vol = ev.groupBy("event_type").agg(
            F.round(F.sum(F.col("value").cast("decimal(30,10)")), 4).cast("double")
            .alias("volume"),
            F.count(F.lit(1)).alias("events"),
        )
        last = ev.groupBy("event_type").agg(
            F.max_by("value", "event_id").alias("lastPrice")
        )
        users = ev.groupBy("event_type").agg(
            F.countDistinct("user_id").alias("uniqueUsers")
        )
        out = (
            vol.join(last, "event_type", "left")
            .join(users, "event_type", "left")
            .orderBy(F.desc("volume"), F.asc("event_type"))
        )
        return _rows(out, 100)

    # /ledger (src/api.ts ledger rows, clamp ≤10000, keyset order)
    def ledger(self, user_id: int, limit: int = 10000) -> dict:
        rows = _entry_rows(
            self._replay(user_id).entries,
            ("token_id", "quantity", "usdc_delta", "unit_price", "cost_basis",
             "realized_pnl"),
            max(1, min(limit, 10000)))
        return {"wallet": f"0xw{user_id}", "ledger": rows}

    # /snapshots (src/api.ts snapshots, clamp ≤10000)
    def snapshots(self, user_id: int, interval_s: int = 86400,
                  limit: int = 10000) -> dict:
        if interval_s <= 0:
            raise ValueError(f"interval_s must be > 0, got {interval_s}")
        snaps = sorted(self._replay(user_id, interval_s).snapshots,
                       key=lambda s: s["snapshot_epoch"])
        rows = [{"time": int(s["snapshot_epoch"]),
                 **{f: s[f] for f in ("realized_pnl", "unrealized_pnl",
                                      "cashflow", "token_count")}}
                for s in snaps[:max(1, min(limit, 10000))]]
        return {"wallet": f"0xw{user_id}", "snapshots": rows}

    # /positions (src/api.ts positions from balances + enrichment)
    def positions(self, user_id: int) -> dict:
        from ..verify.invariants import signed_quantity

        # the signed quantity per token as an exact decimal sum (dsum
        # pattern): each quantity cast to DECIMAL(30,10), the sum rounded
        # half up to 6 places — a bare double sum is order-dependent and
        # can flip the qty > 1e-9 filter at the 6th decimal (ADVICE r1)
        sums: dict[str, Decimal] = {}
        for e in self._replay(user_id).entries:
            if e["token_id"] != "":
                sums[e["token_id"]] = (sums.get(e["token_id"], 0)
                                       + _dec10(signed_quantity(e)))
        pos = [{"token_id": t,
                "qty": float(q.quantize(Decimal("1e-6"), ROUND_HALF_UP))}
               for t, q in sums.items()]
        pos = sorted((p for p in pos if p["qty"] > 1e-9),
                     key=lambda p: (-p["qty"], p["token_id"]))
        return {"wallet": f"0xw{user_id}", "positions": pos[:1000]}
