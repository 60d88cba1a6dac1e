"""Self-tests of the benchmark's generator and answer checks.

    python3 -m pytest perfbench/test_perfbench.py -q
"""

from __future__ import annotations

import copy
import hashlib
import os
import sys

HERE = os.path.dirname(os.path.abspath(__file__))
sys.path[:0] = [HERE, os.path.dirname(HERE)]

import pandas as pd  # noqa: E402
import pytest  # noqa: E402

import gen  # noqa: E402
import oracle  # noqa: E402


def _digest(path: str) -> str:
    with open(path, "rb") as f:
        return hashlib.sha256(f.read()).hexdigest()


@pytest.fixture(scope="module")
def events_dir(tmp_path_factory):
    d = tmp_path_factory.mktemp("sf")
    gen.write_events(5, str(d), 3_000, 60, 0.8)
    return str(d)


def test_same_seed_same_file_other_seed_other_file(tmp_path):
    paths = {}
    for name, seed in (("a", 1), ("b", 1), ("c", 2)):
        gen.write_events(seed, str(tmp_path / name), 2_000, 40, 0.8)
        paths[name] = _digest(str(tmp_path / name / "events.parquet"))
    assert paths["a"] == paths["b"]
    assert paths["a"] != paths["c"]


def test_schema_matches_testdata_events():
    t = gen.make_events(3, 1_000, 20, 0.8)
    assert t.schema.equals(gen.SCHEMA)
    assert str(t.schema.field("ts").type) == "timestamp[us]"
    df = t.to_pandas()
    assert set(df["event_type"]) == set(gen.EVENT_TYPES)
    assert df["props"].str.fullmatch(r'\{"k": \d{1,2}\}').all()
    assert df["ts"].is_monotonic_increasing
    assert set(df["user_id"]) == set(range(20))


def test_zipf_activity_is_skewed():
    df = gen.make_events(4, 20_000, 200, 1.1).to_pandas()
    counts = df["user_id"].value_counts()
    assert counts.iloc[0] > 10 * counts.median()


def test_no_wallet_sells_what_it_does_not_hold():
    df = gen.make_events(6, 5_000, 30, 0.8).to_pandas()
    k = df["props"].str.extract(r"(\d+)")[0].astype(int)
    q = k % 5 + 1
    inflow = (df["event_type"] == "purchase") | ((df["event_type"] == "view") & (k % 2 == 0))
    outflow = (df["event_type"] == "click") | ((df["event_type"] == "view") & (k % 2 == 1))
    signed = q.where(inflow, 0) - q.where(outflow, 0)
    assert (signed.groupby(df["user_id"]).cumsum() >= 0).all()


def test_load_table_accepts_the_output(events_dir):
    from pyspark.sql.types import TimestampNTZType

    from neomarket_clickhouse_indexer_spark.session import get_spark
    from neomarket_clickhouse_indexer_spark.sources.tables import load_table

    spark = get_spark("perfbench-test", cores=2)
    ev = load_table(spark, events_dir, "events")
    assert isinstance(ev.schema["ts"].dataType, TimestampNTZType)
    assert ev.count() == 3_000


# -- an injected wrong answer is counted ----------------------------------


@pytest.fixture(scope="module")
def orc(events_dir):
    o = oracle.Oracle(os.path.join(events_dir, "events.parquet"))
    yield o
    o.close()


def _user_stats_reply(orc, user_id: int) -> dict:
    w = orc.table("user_stats", oracle.EQ.USER_STATS_SQL).set_index("user_id").loc[user_id]
    return {"user_id": user_id, "n_events": int(w["n_events"]),
            "n_types": int(w["n_types"]), "purchase_value": float(w["purchase_value"]),
            "max_value": float(w["max_value"]), "last_type": w["last_type"],
            "first_seen": pd.Timestamp(w["first_seen"]).isoformat()}


def test_wrong_user_stats_is_counted(orc):
    good = _user_stats_reply(orc, 3)
    assert orc.check_user_stats(3, good) == 0
    bad = dict(good, purchase_value=good["purchase_value"] + 0.01)
    assert orc.check_user_stats(3, bad) == 1


def test_wrong_leaderboard_is_counted(orc):
    want = orc.table("top_volume", oracle.EQ.TOP_USERS_BY_VOLUME_SQL).sort_values("rank")
    good = {"entries": [{"rank": int(r["rank"]), "user_id": int(r["user_id"]),
                         "volume": float(r["volume"]), "n_trades": int(r["n_trades"])}
                        for _, r in want.iterrows()]}
    assert orc.check_top_volume(good) == 0
    bad = copy.deepcopy(good)
    bad["entries"][0], bad["entries"][1] = bad["entries"][1], bad["entries"][0]
    assert orc.check_top_volume(bad) == 1


def test_wrong_candles_are_counted(orc):
    want = orc.table("candles_1m", oracle.EQ.CANDLES_1M_SQL)
    want = want[want["event_type"] == "view"].sort_values("bucket").head(50)
    good = {"candles": [{"time": oracle._epoch_s(r["bucket"]), "open": r["open"],
                         "high": r["high"], "low": r["low"], "close": r["close"],
                         "volume": r["volume"], "trades": int(r["trades"])}
                        for _, r in want.iterrows()]}
    assert orc.check_candles("view", "1m", 50, good) == 0
    bad = copy.deepcopy(good)
    bad["candles"][7]["close"] += 1.0
    assert orc.check_candles("view", "1m", 50, bad) == 1


def test_wrong_ledger_row_is_counted(events_dir):
    ev = pd.read_parquet(os.path.join(events_dir, "events.parquet"))
    user = int(ev["user_id"].value_counts().index[0])
    mine = ev[ev["user_id"] == user]
    eng = oracle.replay(user, mine)
    good = {"wallet": f"0xw{user}", "ledger": [
        {"event_type": e["event_type"], "time": oracle._epoch_s(e["block_timestamp"]),
         "token_id": e["token_id"], "quantity": e["quantity"],
         "usdc_delta": e["usdc_delta"], "unit_price": e["unit_price"],
         "cost_basis": e["cost_basis"], "realized_pnl": e["realized_pnl"]}
        for e in eng.entries]}
    assert good["ledger"]
    assert oracle.check_ledger(user, mine, good, 10_000) == 0
    bad = copy.deepcopy(good)
    bad["ledger"][-1]["realized_pnl"] += 0.5
    assert oracle.check_ledger(user, mine, bad, 10_000) == 1
