"""``pnl_by_mode`` replays each wallet once, in every mode.

Modes 3-4 need the realized events and the wallet's open-lot mark at the
period end. They come from one replay of the wallet's ``ts <= end`` events,
where they once came from two (the realized events over every event, then
the marks over the truncated events). The rows must equal the two-replay
composition, kept here as the oracle, on both fixtures and for a period
that ends inside the data.
"""

from __future__ import annotations

import pytest

from pyspark.sql import functions as F

from neomarket_clickhouse_indexer_spark import domain
from neomarket_clickhouse_indexer_spark.ledger.build import (
    build_pnl_marks,
    build_realized_events,
)
from neomarket_clickhouse_indexer_spark.ledger.pnl import (
    _canonical_mode,
    pnl_by_mode,
    realized_pnl_by_mode,
)
from neomarket_clickhouse_indexer_spark.queries.events import (
    PNL_PERIOD_END,
    PNL_PERIOD_START,
)

from .conftest import SF_CORRECTNESS, SF_SMOKE

MODES = ("period_only", "with_history", "period_plus_unrealized", "total")
CASES = [
    (SF_SMOKE, PNL_PERIOD_START, PNL_PERIOD_END),
    (SF_SMOKE, "2024-01-03 12:00:00", "2024-01-27 06:30:00"),
    (SF_CORRECTNESS, PNL_PERIOD_START, PNL_PERIOD_END),
]


def _two_replay_pnl_by_mode(events, start, end, mode):
    """``pnl_by_mode`` as it was: realized events and marks replayed apart,
    then full-joined on wallet."""
    mode = _canonical_mode(mode)
    marks = None
    if mode == "period_plus_unrealized":
        marks = build_pnl_marks(events, end, entry_start=start, entry_end=end)
    elif mode == "total":
        marks = build_pnl_marks(events, end)
    return realized_pnl_by_mode(
        build_realized_events(events), start, end, mode, marks=marks
    )


def _map_in_pandas_nodes(df) -> int:
    return df._jdf.queryExecution().executedPlan().toString() \
        .count("MapInPandas")


@pytest.fixture(scope="module")
def events(spark):
    return {sf: domain._domain_events(spark, sf).localCheckpoint(eager=True)
            for sf in {sf for sf, _, _ in CASES}}


@pytest.mark.parametrize("sf_dir,start,end", CASES)
def test_rows_equal_the_two_replay_composition(events, sf_dir, start, end):
    ev = events[sf_dir]
    for mode in MODES:
        got = pnl_by_mode(ev, start, end, mode)
        want = _two_replay_pnl_by_mode(ev, start, end, mode)
        assert got.schema == want.schema, mode
        rows = sorted(got.collect())
        assert rows == sorted(want.collect()), mode
        assert rows, mode


@pytest.mark.parametrize("mode", MODES)
def test_plan_holds_one_replay(events, mode):
    ev = events[SF_SMOKE]
    got = pnl_by_mode(ev, PNL_PERIOD_START, PNL_PERIOD_END, mode)
    assert _map_in_pandas_nodes(got) == 1
    if mode in ("period_plus_unrealized", "total"):
        assert _map_in_pandas_nodes(_two_replay_pnl_by_mode(
            ev, PNL_PERIOD_START, PNL_PERIOD_END, mode)) == 2


@pytest.mark.parametrize("sf_dir", sorted({sf for sf, _, _ in CASES}))
def test_wallets_that_only_bought(events, sf_dir):
    """Buys alone realize nothing, so every partition's records are mark
    records only; the rows must still carry every column."""
    buys = events[sf_dir].filter(F.col("is_buy"))
    for mode in ("period_plus_unrealized", "total"):
        got = pnl_by_mode(buys, PNL_PERIOD_START, PNL_PERIOD_END, mode)
        want = _two_replay_pnl_by_mode(buys, PNL_PERIOD_START, PNL_PERIOD_END,
                                       mode)
        assert got.schema == want.schema, mode
        rows = sorted(got.collect())
        assert rows == sorted(want.collect()), mode
        assert rows, mode
