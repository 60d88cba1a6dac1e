"""Answer checks for the benchmark, run in the load generator after the load.

- Dashboard reads are compared with the repo's DuckDB oracle SQL
  (``USER_STATS_SQL``, ``TOP_USERS_BY_VOLUME_SQL``, ``CANDLES_1M_SQL``,
  ``CANDLES_5M_SQL``) over the generated parquet.
- ``/ledger/:w`` rows are compared with an in-process ``LedgerEngine``
  replay of that wallet's events. The generic-to-domain event mapping is
  re-implemented here in pandas, independently of the Spark one.
- Folded state (candles, hourly volume) is compared with the same oracle
  SQL over every event the indexer was given.

Each check returns the number of wrong answers it found.
"""

from __future__ import annotations

import math

import duckdb
import pandas as pd

from neomarket_clickhouse_indexer_spark.ledger.engine import LedgerEngine
from neomarket_clickhouse_indexer_spark.queries import events as EQ

TOL = 1e-9


def close(a, b) -> bool:
    if isinstance(a, float) or isinstance(b, float):
        if a is None or b is None:
            return a is b
        return math.isclose(a, b, rel_tol=TOL, abs_tol=TOL)
    return a == b


def _epoch_s(ts) -> int:
    return int(pd.Timestamp(ts).value // 1_000_000_000)


class Oracle:
    """DuckDB over one parquet glob of the ``events`` schema."""

    def __init__(self, events_glob: str):
        self.con = duckdb.connect()
        self.con.execute(
            f"CREATE VIEW events AS SELECT * FROM read_parquet('{events_glob}')")
        self._cache: dict[str, pd.DataFrame] = {}

    def table(self, name: str, sql: str) -> pd.DataFrame:
        if name not in self._cache:
            self._cache[name] = self.con.execute(sql).df()
        return self._cache[name]

    def close(self) -> None:
        self.con.close()

    # -- dashboard reads ------------------------------------------------

    def check_user_stats(self, user_id: int, got: dict) -> int:
        want = self.table("user_stats", EQ.USER_STATS_SQL).set_index("user_id")
        if user_id not in want.index:
            return int(got != {})
        w = want.loc[user_id]
        ok = (
            got.get("user_id") == user_id
            and got["n_events"] == w["n_events"]
            and got["n_types"] == w["n_types"]
            and close(got["purchase_value"], float(w["purchase_value"]))
            and close(got["max_value"], float(w["max_value"]))
            and got["last_type"] == w["last_type"]
            and pd.Timestamp(got["first_seen"]) == pd.Timestamp(w["first_seen"])
        )
        return int(not ok)

    def check_top_volume(self, got: dict) -> int:
        want = self.table("top_volume", EQ.TOP_USERS_BY_VOLUME_SQL).sort_values("rank")
        rows = got["entries"]
        if len(rows) != len(want):
            return 1
        for r, (_, w) in zip(rows, want.iterrows()):
            if not (r["rank"] == w["rank"] and r["user_id"] == w["user_id"]
                    and close(r["volume"], float(w["volume"]))
                    and r["n_trades"] == w["n_trades"]):
                return 1
        return 0

    def check_candles(self, key: str, interval: str, limit: int, got: dict) -> int:
        sql = {"1m": EQ.CANDLES_1M_SQL, "5m": EQ.CANDLES_5M_SQL}[interval]
        want = self.table(f"candles_{interval}", sql)
        want = want[want["event_type"] == key].sort_values("bucket").head(limit)
        rows = got["candles"]
        if len(rows) != len(want):
            return 1
        for r, (_, w) in zip(rows, want.iterrows()):
            if not (r["time"] == _epoch_s(w["bucket"])
                    and all(close(r[c], float(w[c]))
                            for c in ("open", "high", "low", "close", "volume"))
                    and r["trades"] == w["trades"]):
                return 1
        return 0

    # -- folded state -----------------------------------------------------

    def check_candle_state(self, state_dir: str) -> int:
        """Rows of the folded 1m candle state that differ from a one-shot
        aggregation of every indexed event (missing or extra rows count)."""
        got = self.con.execute(f"""
            SELECT key AS event_type, bucket, open, high, low, close,
                   CAST(ROUND(volume_dec, 4) AS DOUBLE) AS volume,
                   CAST(trades AS BIGINT) AS trades
            FROM read_parquet('{state_dir}/*/*.parquet', hive_partitioning = 1)
        """).df()
        want = self.con.execute(EQ.CANDLES_1M_SQL).df()
        return _frame_diff(got, want, ["event_type", "bucket"],
                           ["open", "high", "low", "close", "volume", "trades"])

    def check_hourly_state(self, state_dir: str) -> int:
        got = self.con.execute(f"""
            SELECT hour, event_type, CAST(n_events AS BIGINT) AS n_events,
                   CAST(ROUND(volume_dec, 4) AS DOUBLE) AS volume
            FROM read_parquet('{state_dir}/*/*.parquet', hive_partitioning = 1)
        """).df()
        want = self.con.execute(EQ.HOURLY_TYPE_VOLUME_SQL).df()
        return _frame_diff(got, want, ["hour", "event_type"], ["n_events", "volume"])


def _frame_diff(got: pd.DataFrame, want: pd.DataFrame, keys: list[str],
                cols: list[str]) -> int:
    m = got.merge(want, on=keys, how="outer", suffixes=("_g", "_w"), indicator=True)
    bad = int((m["_merge"] != "both").sum())
    both = m[m["_merge"] == "both"]
    for _, r in both.iterrows():
        if not all(close(float(r[f"{c}_g"]), float(r[f"{c}_w"])) for c in cols):
            bad += 1
    return bad


# -- per-wallet ledger --------------------------------------------------


def domain_events(ev: pd.DataFrame) -> list[dict]:
    """Generic events of one user -> the ledger engine's domain events
    (event_type purchase/click -> trade, signup -> split, view -> transfer,
    error -> fee refund; tokens and amounts derived from ``props.k``)."""
    out = []
    for r in ev.itertuples(index=False):
        k = int(r.props.split(":")[1].rstrip("}"))
        u = int(r.user_id)
        yes, no = f"tok-yes-{u % 10}", f"tok-no-{u % 10}"
        typ = {"purchase": "trade", "click": "trade", "signup": "split",
               "view": "transfer"}.get(r.event_type, "fee_refund")
        qty = float(k % 5 + 1) if typ in ("trade", "transfer") else 0.0
        usdc = {"trade": r.value / 100.0, "split": r.value / 10.0,
                "fee_refund": r.value / 1000.0}.get(typ, 0.0)
        out.append({
            "ts": pd.Timestamp(r.ts), "block_number": int(r.event_id),
            "log_index": 0, "type": typ,
            "token_id": yes if typ in ("trade", "transfer") else "",
            "condition_id": f"c{u % 10}", "qty": qty, "usdc": usdc,
            "fee": 0.0, "is_buy": r.event_type == "purchase",
            "is_in": k % 2 == 0,
            "outcome_token_ids": [yes, no] if typ == "split" else [],
            "payout_ratios": [],
        })
    return out


def replay(user_id: int, ev: pd.DataFrame) -> LedgerEngine:
    eng = LedgerEngine(f"0xw{user_id}")
    eng.replay(domain_events(ev))
    return eng


LEDGER_COLS = ("event_type", "time", "token_id", "quantity", "usdc_delta",
               "unit_price", "cost_basis", "realized_pnl")


def check_ledger(user_id: int, ev: pd.DataFrame, got: dict, limit: int) -> int:
    """``/ledger/:w`` rows against an in-process replay. Rows that share an
    order key have no defined order, so both sides are compared sorted."""
    eng = replay(user_id, ev)
    want = [
        (e["event_type"], _epoch_s(e["block_timestamp"]), e["token_id"],
         e["quantity"], e["usdc_delta"], e["unit_price"], e["cost_basis"],
         e["realized_pnl"])
        for e in eng.entries
    ]
    rows = [tuple(r[c] for c in LEDGER_COLS) for r in got["ledger"]]
    if got.get("wallet") != f"0xw{user_id}":
        return 1
    if len(want) > limit:
        # the page ends inside the replay: compare the whole seconds both
        # sides hold in full
        cut = want[limit - 1][1]
        want = [w for w in want if w[1] < cut]
        rows = [r for r in rows if r[1] < cut]
    if len(rows) != len(want):
        return 1
    key = lambda t: (t[1], t[0], t[2], t[3], t[4])  # noqa: E731
    for a, b in zip(sorted(rows, key=key), sorted(want, key=key)):
        if not all(close(x, y) for x, y in zip(a, b)):
            return 1
    return 0
