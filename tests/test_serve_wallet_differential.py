"""The per-wallet endpoints, which replay one wallet on the driver, vs the
Spark builders they replaced on the serving path.

Each wallet's ``/ledger``, ``/snapshots`` (86400 s and 3600 s),
``/positions``, ``/leaderboard/explain`` and ``/pnl`` (all four modes over
the registry's PnL period) must equal, value for value, what
``build_wallet_ledger``, ``build_wallet_snapshots``,
``check_non_negative_inventory`` and ``fifo_unrealized_modes`` give over the
same domain events, shaped as the endpoints shaped them when they ran those
builders per request. The Spark side runs once over every wallet; the
served side once per wallet. Every ``SF_SMOKE`` user is covered (most
oversell, one does not), plus absent users and a sample of
``SF_CORRECTNESS`` wallets.

Also here: the one-wallet ``_domain_events`` plan equals the whole-table
mapping filtered to the wallet, its schema is pinned, and ``/snapshots``,
``/ledger`` and ``/pnl`` do not depend on the Python process's time zone,
whether the source's ``ts`` is TIMESTAMP_NTZ or TIMESTAMP.
"""

from __future__ import annotations

import contextlib
import os
import time

import pyarrow as pa
import pyarrow.parquet as pq
import pytest
from pyspark.sql import functions as F

from neomarket_clickhouse_indexer_spark import domain
from neomarket_clickhouse_indexer_spark.ledger.build import (
    build_wallet_ledger,
    build_wallet_snapshots,
)
from neomarket_clickhouse_indexer_spark.operators.fifo import (
    fifo_unrealized_modes,
)
from neomarket_clickhouse_indexer_spark.queries.events import (
    PNL_PERIOD_END,
    PNL_PERIOD_START,
)
from neomarket_clickhouse_indexer_spark.serve import ServeContext
from neomarket_clickhouse_indexer_spark.verify.invariants import (
    check_non_negative_inventory,
)

from .conftest import SF_CORRECTNESS, SF_SMOKE

ABSENT = (15, 999)
CASES = [(SF_SMOKE, u) for u in (*range(15), *ABSENT)] + [
    (SF_CORRECTNESS, u) for u in (3, 27, 58, 91, 120, 149)]
MODES = ("with_history", "period_only", "period_plus_unrealized", "total")
LEDGER_ORDER = ("block_timestamp", "block_number", "log_index")


def _grouped(df, key: str) -> dict:
    """``df`` collected in order, rows grouped by ``key`` (dropped)."""
    out: dict = {}
    for r in df.collect():
        d = r.asDict(recursive=True)
        out.setdefault(d.pop(key), []).append(d)
    return out


def _spark_answers(spark, sf_dir: str) -> dict:
    """Every wallet's answers from the Spark builders, in one pass each."""
    ev = domain._domain_events(spark, sf_dir)
    entries = build_wallet_ledger(ev).localCheckpoint(eager=True)
    time_col = F.unix_timestamp("block_timestamp").alias("time")
    ledger = _grouped(entries.orderBy("wallet", *LEDGER_ORDER).select(
        "wallet", "event_type", time_col, "token_id", "quantity",
        "usdc_delta", "unit_price", "cost_basis", "realized_pnl"), "wallet")
    explain = _grouped(entries.orderBy("wallet", *LEDGER_ORDER).select(
        "wallet", "event_type", time_col, "token_id", "quantity",
        "usdc_delta", "realized_pnl"), "wallet")
    violations = {r["wallet"]: r["count"] for r in
                  check_non_negative_inventory(entries)
                  .groupBy("wallet").count().collect()}
    snapshots = {
        secs: _grouped(
            build_wallet_snapshots(ev, interval_s=secs)
            .orderBy("wallet", "snapshot_epoch").select(
                "wallet", F.col("snapshot_epoch").cast("long").alias("time"),
                "realized_pnl", "unrealized_pnl", "cashflow", "token_count"),
            "wallet")
        for secs in (86400, 3600)}
    signed = (
        F.when(F.col("event_type").isin("trade_buy", "transfer_in"),
               F.col("quantity"))
        .when(F.col("event_type").isin(
            "trade_sell", "transfer_out", "resolution_loss"),
            -F.col("quantity"))
        .otherwise(F.lit(0.0)))
    positions = _grouped(
        entries.filter(F.col("token_id") != "")
        .groupBy("wallet", "token_id")
        .agg(F.round(F.sum(signed.cast("decimal(30,10)")), 6)
             .cast("double").alias("qty"))
        .filter(F.col("qty") > 1e-9)
        .orderBy("wallet", F.desc("qty"), F.asc("token_id")), "wallet")
    pnl = {r["key"]: r.asDict() for r in fifo_unrealized_modes(
        domain._fifo_input(spark, sf_dir), PNL_PERIOD_START,
        PNL_PERIOD_END).collect()}
    return dict(ledger=ledger, explain=explain, violations=violations,
                snapshots=snapshots, positions=positions, pnl=pnl)


@pytest.fixture(scope="module")
def spark_answers(spark):
    return {sf: _spark_answers(spark, sf) for sf in {sf for sf, _ in CASES}}


@pytest.fixture(scope="module")
def contexts(spark):
    return {sf: ServeContext(spark, sf) for sf in {sf for sf, _ in CASES}}


def _pnl_envelope(user_id: int, mode: str, r: dict | None) -> dict:
    """The ``/pnl`` envelope of one ``fifo_unrealized_modes`` row."""
    if r is None:
        return {"userId": user_id, "mode": mode, "realizedPnl": 0.0,
                "unrealizedPnl": 0.0, "totalPnl": 0.0}
    period = mode in ("period_only", "period_plus_unrealized")
    realized = r["realized_period_only" if period else "realized_with_history"]
    unrealized = {"period_plus_unrealized": r["unrealized_period"],
                  "total": r["unrealized_all"]}.get(mode, 0.0)
    total = {"period_plus_unrealized": r["pnl_period"],
             "total": r["pnl_total"]}.get(mode, realized)
    return {"userId": user_id, "mode": mode, "realizedPnl": realized,
            "unrealizedPnl": unrealized, "totalPnl": total,
            "openQty": r["open_qty"]}


@pytest.mark.parametrize("sf_dir,user_id", CASES)
def test_wallet_answers_match_spark_builders(spark_answers, contexts,
                                             sf_dir, user_id):
    want, ctx, wallet = spark_answers[sf_dir], contexts[sf_dir], f"0xw{user_id}"
    assert ctx.ledger(user_id) == {"wallet": wallet,
                                   "ledger": want["ledger"].get(wallet, [])}
    for secs, snaps in want["snapshots"].items():
        assert ctx.snapshots(user_id, interval_s=secs) == {
            "wallet": wallet, "snapshots": snaps.get(wallet, [])}, secs
    assert ctx.positions(user_id) == {
        "wallet": wallet, "positions": want["positions"].get(wallet, [])}
    n_bad = want["violations"].get(wallet, 0)
    assert ctx.explain_user(user_id) == {
        "wallet": wallet, "entries": want["explain"].get(wallet, []),
        "invariants": {"never_negative_inventory": n_bad == 0,
                       "violations": n_bad}}
    for mode in MODES:
        assert ctx.pnl(user_id, mode=mode, start=PNL_PERIOD_START,
                       end=PNL_PERIOD_END) == _pnl_envelope(
            user_id, mode, want["pnl"].get(user_id)), mode


def test_cases_cover_violations_and_absent_wallets(spark_answers):
    smoke = spark_answers[SF_SMOKE]
    present = [u for u in range(15) if f"0xw{u}" in smoke["ledger"]]
    assert len(present) == 15
    assert all(f"0xw{u}" not in smoke["ledger"] for u in ABSENT)
    bad = {u for u in present if smoke["violations"].get(f"0xw{u}")}
    assert bad and bad != set(present)


# --- the one-wallet domain plan -------------------------------------------

DOMAIN_SCHEMA = [
    ("wallet", "string", True), ("ts", "timestamp_ntz", True),
    ("block_number", "bigint", True), ("log_index", "bigint", False),
    ("type", "string", False), ("token_id", "string", True),
    ("condition_id", "string", True), ("qty", "double", True),
    ("usdc", "double", True), ("fee", "double", False),
    ("is_buy", "boolean", True), ("is_in", "boolean", True),
    ("outcome_token_ids", "array<string>", True),
    ("payout_ratios", "array<double>", True),
    ("mint_token_ids", "array<string>", True),
]


def _fields(df) -> list[tuple]:
    return [(f.name, f.dataType.simpleString(), f.nullable)
            for f in df.schema.fields]


@pytest.mark.parametrize("integer_splits", [False, True])
def test_one_wallet_domain_events_equal_filtered_mapping(spark,
                                                         integer_splits):
    whole = domain._domain_events(spark, SF_SMOKE,
                                  integer_splits=integer_splits)
    assert _fields(whole) == DOMAIN_SCHEMA
    for user_id in (9, 13, 999):
        one = domain._domain_events(spark, SF_SMOKE,
                                    integer_splits=integer_splits,
                                    user_id=user_id)
        assert _fields(one) == DOMAIN_SCHEMA
        want = whole.filter(F.col("wallet") == f"0xw{user_id}")
        assert sorted(one.collect()) == sorted(want.collect()), user_id


# --- time zones -------------------------------------------------------------


@contextlib.contextmanager
def _local_zone(name: str):
    old = os.environ.get("TZ")
    os.environ["TZ"] = name
    time.tzset()
    try:
        yield
    finally:
        if old is None:
            del os.environ["TZ"]
        else:
            os.environ["TZ"] = old
        time.tzset()


@pytest.fixture(scope="module")
def ns_copy(tmp_path_factory):
    """``SF_SMOKE``'s events with ``ts`` as int64 nanoseconds, the encoding
    ``load_table`` reads as a zoned TIMESTAMP (the fixture's is NTZ)."""
    t = pq.read_table(os.path.join(SF_SMOKE, "events.parquet"))
    i = t.schema.get_field_index("ts")
    t = t.set_column(i, "ts", t["ts"].cast(pa.timestamp("ns")))
    d = tmp_path_factory.mktemp("ns_events")
    pq.write_table(t, str(d / "events.parquet"), version="2.6")
    return str(d)


def _timed_answers(ctx: ServeContext, user_id: int) -> tuple:
    return (ctx.snapshots(user_id, interval_s=3600), ctx.ledger(user_id),
            ctx.pnl(user_id, mode="total", start=PNL_PERIOD_START,
                    end=PNL_PERIOD_END))


@pytest.mark.parametrize("user_id", [9, 12])
def test_wallet_times_do_not_depend_on_local_zone(spark, contexts, ns_copy,
                                                  user_id):
    smoke = contexts[SF_SMOKE]
    ns_ctx = ServeContext(spark, ns_copy)
    assert ns_ctx._wallet_events(user_id).schema["ts"].dataType \
        .simpleString() == "timestamp"
    want = _timed_answers(smoke, user_id)
    assert want[0]["snapshots"] and want[1]["ledger"]
    with _local_zone("America/New_York"):
        assert time.localtime(0).tm_hour != 0  # the zone did change
        assert _timed_answers(smoke, user_id) == want
        assert _timed_answers(ns_ctx, user_id) == want
