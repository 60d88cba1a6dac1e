"""FIFO lot allocation — the grouped-map core of the reference's ledger.

The reference's only custom dataflow operator is a per-wallet FIFO-lot PnL
state machine (reference src/ledger-engine.ts:67-154 PositionManager,
:914-1953 event loop): buys append lots at unit cost, sells consume lots
first-in-first-out, realized PnL = proceeds − consumed cost basis.

This module implements the *allocation* core as a Spark grouped-map operator:
per key, units sold (in time order) are matched against units bought (in time
order); unmatched buys remain open inventory at cost. It is deliberately
side-effect-free and oracle-checkable: the same semantics are expressible in
SQL as cumulative-interval overlap (each buy covers cumulative unit interval
[cum_before, cum_after); each sell likewise; matched qty = interval overlap),
which is what the DuckDB differential oracle uses — a genuinely independent
algorithm.

One walk, one driver: :func:`_match` is the only lot-matching loop, and the
FIFO operators are folds over its slices. :func:`by_key` runs every operator
here and the ledger builders (ledger/build.py): it repartitions on the key
(one shuffle), sorts within partitions and streams each partition through
pandas via Arrow with ``mapInPandas``. Keys (wallets/users) are numerous and
small → near-perfect parallelism; a single hot key degrades to one task but
stays bounded by that key's event count.
"""

from __future__ import annotations

import math

import numpy as np
import pandas as pd
from pyspark.sql import DataFrame
from pyspark.sql import functions as F

ALLOC_SCHEMA = (
    "key bigint, buy_qty bigint, sell_qty bigint, matched_qty bigint, "
    "realized_pnl double, open_qty bigint, open_cost double"
)


def _q10(x: float) -> int:
    """Quantize a double to integer 1e-10 units the way DuckDB casts
    double→DECIMAL(30,10): round half away from zero on x*1e10. Summing
    these integers exactly reproduces the oracle's decimal accumulator —
    sequential float += drifts from it at ulp level and can straddle the
    final ROUND(4) boundary (ADVICE r1)."""
    y = x * 1e10
    return math.floor(y + 0.5) if y >= 0 else math.ceil(y - 0.5)


def _units_round4(u: int) -> float:
    """Round an exact 1e-10-unit integer to 4 decimals half-away-from-zero
    — the decimal-space ROUND both engines apply to DECIMAL values — then
    one correctly-rounded float division. Mirrors the oracle's
    ``CAST(ROUND(SUM(...), 4) AS DOUBLE)`` bit-for-bit."""
    q, rem = divmod(abs(u), 1_000_000)  # 1e-10 → 1e-4 units
    if rem >= 500_000:
        q += 1
    return math.copysign(q, u) / 1e4


def by_key(df: DataFrame, key: str, order: tuple[str, ...], fn,
           schema: str) -> DataFrame:
    """Run ``fn`` once per partition over whole keys in ``(key, *order)``
    order: ``repartition(key)``, ``sortWithinPartitions``, then one
    ``mapInPandas`` pass. ``fn`` takes the partition's rows as one pandas
    frame and returns the output frame, or None for no rows; an empty
    partition is skipped.

    One Python call per *partition* instead of per *group* — the per-group
    Arrow batch + pandas construction overhead dominates grouped-map UDFs
    when groups are small (measured ~2× faster here), and the pattern holds
    at scale: a partition must fit in worker memory, which repartitioning
    on the key guarantees for any realistic key cardinality.
    """

    def run(batches):
        chunks = list(batches)
        if not chunks:
            return
        pdf = pd.concat(chunks, ignore_index=True)
        if pdf.empty:
            return
        out = fn(pdf)
        if out is not None:
            yield out

    return (
        df.repartition(key)
        .sortWithinPartitions(key, *order)
        .mapInPandas(run, schema=schema)
    )


def _match(side, qty) -> tuple[list, list]:
    """The FIFO walk over one key's rows in (ts, ord) order: each sell
    consumes the oldest buys' units first. Returns ``(slices, open_)``:
    ``slices`` lists the matched ``(buy index, sell index, units)`` in walk
    order, zero-unit slices (a zero-qty buy met by a sell) included;
    ``open_`` lists ``(buy index, units left)`` for every buy the walk did
    not use up. Units a sell asks for after the buys run out stay
    unmatched (oversold)."""
    left = qty.tolist()
    buys = np.flatnonzero(side == 1).tolist()
    slices = []
    k = 0  # buys[k] is the oldest buy with units left
    for s in np.flatnonzero(side != 1).tolist():
        need = left[s]
        while need > 0 and k < len(buys):
            b = buys[k]
            take = min(need, left[b])
            slices.append((b, s, take))
            need -= take
            left[b] -= take
            if left[b] == 0:
                k += 1
    return slices, [(b, left[b]) for b in buys[k:]]


def _per_key(fold, schema: str):
    """The partition function of a FIFO operator: ``fold(ts, side, qty,
    price)`` maps one key's numpy columns to its output rows (without the
    key)."""
    columns = [f.split()[0] for f in schema.split(",")]

    def frame(pdf: pd.DataFrame) -> pd.DataFrame:
        # slice per key by contiguous runs (rows arrive sorted by key) and
        # emit ONE output frame per partition — building a pandas DataFrame
        # per key dominated wall time ~40× at 30k keys
        keys = pdf["key"].to_numpy()
        cols = [pdf[c].to_numpy() for c in ("ts", "side", "qty", "price")]
        cuts = np.flatnonzero(np.r_[True, keys[1:] != keys[:-1], True])
        rows = [
            (keys[a], *row)
            for a, b in zip(cuts[:-1], cuts[1:])
            for row in fold(*(c[a:b] for c in cols))
        ]
        return pd.DataFrame(rows, columns=columns)

    return frame


def _fifo_by_key(df: DataFrame, fold, schema: str) -> DataFrame:
    return by_key(
        df.select("key", "ts", "ord", "side", "qty", "price"),
        "key", ("ts", "ord"), _per_key(fold, schema), schema,
    )


def _allocate_fold(ts, side, qty, price) -> list[tuple]:
    """Allocation totals of one key. Money totals are accumulated as exact
    1e-10-unit integers (``_q10`` per matched slice / open lot), matching
    ``fifo_allocate_sql``'s exact DECIMAL(30,10) sums independent of
    accumulation order."""
    slices, open_ = _match(side, qty)
    px = price.tolist()
    is_buy = side == 1
    return [(
        int(qty[is_buy].sum()),
        int(qty[~is_buy].sum()),
        sum(u for _, _, u in slices),
        _units_round4(sum(_q10(u * (px[s] - px[b])) for b, s, u in slices)),
        sum(u for _, u in open_),
        _units_round4(sum(_q10(u * px[b]) for b, u in open_)),
    )]


def _allocate_group(pdf: pd.DataFrame) -> pd.DataFrame:
    """Single-group wrapper (tests / small inputs)."""
    return _per_key(_allocate_fold, ALLOC_SCHEMA)(pdf)


def fifo_allocate(df: DataFrame) -> DataFrame:
    """Input columns: key bigint, ts, ord (unique tiebreak), side (1 buy /
    -1 sell), qty int, price double. Output: one row per key.

    Plan: one shuffle (repartition on key) + in-partition sort + a single
    mapInPandas pass. No driver-side iteration; wallet/user parallelism is
    the partition count.
    """
    return _fifo_by_key(df, _allocate_fold, ALLOC_SCHEMA)


def fifo_allocate_sql(events_rel: str) -> str:
    """DuckDB oracle for :func:`fifo_allocate` over a relation with the same
    input columns — independent interval-overlap formulation."""
    return f"""
WITH src AS (SELECT * FROM {events_rel}),
b AS (
  SELECT key, qty, price,
         SUM(qty) OVER (PARTITION BY key ORDER BY ts, ord
                        ROWS UNBOUNDED PRECEDING) AS cum_end
  FROM src WHERE side = 1
),
b2 AS (SELECT *, cum_end - qty AS cum_start FROM b),
s AS (
  SELECT key, qty, price,
         SUM(qty) OVER (PARTITION BY key ORDER BY ts, ord
                        ROWS UNBOUNDED PRECEDING) AS cum_end
  FROM src WHERE side = -1
),
s2 AS (SELECT *, cum_end - qty AS cum_start FROM s),
m AS (
  SELECT b2.key,
         LEAST(b2.cum_end, s2.cum_end) - GREATEST(b2.cum_start, s2.cum_start) AS mqty,
         s2.price - b2.price AS unit_pnl
  FROM b2 JOIN s2 ON b2.key = s2.key
   AND b2.cum_start < s2.cum_end AND s2.cum_start < b2.cum_end
),
bt AS (SELECT key, CAST(SUM(qty) AS BIGINT) AS buy_qty, CAST(MAX(cum_end) AS BIGINT) AS total_buy FROM b2 GROUP BY key),
st AS (SELECT key, CAST(SUM(qty) AS BIGINT) AS sell_qty, CAST(MAX(cum_end) AS BIGINT) AS total_sell FROM s2 GROUP BY key),
magg AS (
  SELECT key, CAST(SUM(mqty) AS BIGINT) AS matched_qty,
         CAST(ROUND(SUM(CAST(mqty * unit_pnl AS DECIMAL(30,10))), 4) AS DOUBLE) AS realized_pnl
  FROM m GROUP BY key
),
opens AS (
  SELECT b2.key,
         CAST(SUM(GREATEST(0, b2.cum_end - GREATEST(b2.cum_start, COALESCE(st.total_sell, 0)))) AS BIGINT) AS open_qty,
         CAST(ROUND(SUM(CAST(GREATEST(0, b2.cum_end - GREATEST(b2.cum_start, COALESCE(st.total_sell, 0))) * b2.price AS DECIMAL(30,10))), 4) AS DOUBLE) AS open_cost
  FROM b2 LEFT JOIN st ON b2.key = st.key GROUP BY b2.key
)
SELECT k.key,
       COALESCE(bt.buy_qty, 0) AS buy_qty,
       COALESCE(st.sell_qty, 0) AS sell_qty,
       COALESCE(magg.matched_qty, 0) AS matched_qty,
       COALESCE(magg.realized_pnl, 0.0) AS realized_pnl,
       COALESCE(opens.open_qty, 0) AS open_qty,
       COALESCE(opens.open_cost, 0.0) AS open_cost
FROM (SELECT DISTINCT key FROM src) k
LEFT JOIN bt ON k.key = bt.key
LEFT JOIN st ON k.key = st.key
LEFT JOIN magg ON k.key = magg.key
LEFT JOIN opens ON k.key = opens.key
"""


# --- avg-cost running positions (the sequential state the streaming
#     operator maintains; reference PositionManager's aggregate view of
#     ledger-engine.ts:67-154 under average-cost accounting). Inherently
#     sequential per key (oversell clamping couples every row to the state
#     before it) — NOT window-expressible; the DuckDB oracle walks the same
#     rows with a recursive CTE, a completely different evaluation engine.

AVGCOST_SCHEMA = (
    "key bigint, position double, avg_cost double, realized double, n long"
)


def _avgcost_core(side, qty, price) -> tuple:
    pos = cost = realized = 0.0
    for i in range(len(side)):
        q = float(qty[i])
        p = float(price[i])
        if side[i] == 1:
            pos += q
            cost += q * p
        else:
            avg = cost / pos if pos > 1e-12 else 0.0
            take = min(q, pos)
            # two separate additions: ((realized + a) + b) — the SQL
            # oracle's left-to-right chain. `realized += a + b` would
            # associate as realized + (a+b), an ulp-different double that
            # can straddle a rounding boundary (caught by fuzz seed 1337)
            realized += take * (p - avg)
            realized += (q - take) * p
            cost -= take * avg
            pos -= take
    avg_cost = cost / pos if pos > 1e-12 else 0.0
    return (round(pos, 6), round(avg_cost, 6), round(realized, 4), len(side))


def avg_cost_positions(df: DataFrame) -> DataFrame:
    """Input columns: key, ts, ord, side (1/-1), qty, price → final
    (position, avg_cost, realized, n) per key under sequential average-cost
    accounting with oversell-as-income."""
    return _fifo_by_key(
        df, lambda ts, side, qty, price: [_avgcost_core(side, qty, price)],
        AVGCOST_SCHEMA,
    )


def avg_cost_positions_sql(events_rel: str) -> str:
    """Recursive-CTE oracle: walk each key's rows in (ts, ord) order,
    threading (position, cost, realized) through the recursion — the exact
    IEEE operation sequence of the Python engine, evaluated by DuckDB."""
    return f"""
WITH RECURSIVE src AS (SELECT * FROM {events_rel}),
ordered AS MATERIALIZED (
  SELECT key, side, qty, price,
         ROW_NUMBER() OVER (PARTITION BY key ORDER BY ts, ord) AS rn
  FROM src
),
counts AS (SELECT key, COUNT(*) AS n FROM ordered GROUP BY key),
walk(key, rn, pos, cost, realized) AS (
  SELECT key, CAST(0 AS BIGINT), CAST(0.0 AS DOUBLE), CAST(0.0 AS DOUBLE), CAST(0.0 AS DOUBLE) FROM counts
  UNION ALL
  SELECT w.key, w.rn + 1,
         CASE WHEN o.side = 1 THEN w.pos + o.qty
              ELSE w.pos - LEAST(o.qty, w.pos) END,
         CASE WHEN o.side = 1 THEN w.cost + o.qty * o.price
              ELSE w.cost - LEAST(o.qty, w.pos) *
                   (CASE WHEN w.pos > 1e-12 THEN w.cost / w.pos ELSE 0.0 END)
         END,
         CASE WHEN o.side = 1 THEN w.realized
              ELSE w.realized
                   + LEAST(o.qty, w.pos) * (o.price -
                     (CASE WHEN w.pos > 1e-12 THEN w.cost / w.pos ELSE 0.0 END))
                   + (o.qty - LEAST(o.qty, w.pos)) * o.price
         END
  FROM walk w JOIN ordered o ON o.key = w.key AND o.rn = w.rn + 1
),
final AS (
  SELECT w.key, w.pos, w.cost, w.realized, c.n
  FROM walk w JOIN counts c ON w.key = c.key AND w.rn = c.n
)
SELECT key,
       ROUND(pos, 6) AS position,
       ROUND(CASE WHEN pos > 1e-12 THEN cost / pos ELSE 0.0 END, 6) AS avg_cost,
       ROUND(realized, 4) AS realized,
       n
FROM final
"""


# --- PnL modes (O3) over the FIFO allocation: each matched (buy, sell)
#     slice carries its entry (buy) and exit (sell) timestamps, and the
#     reference's modes are time filters over those slices
#     (src/ledger-engine.ts:16-21,1955-2055; src/calculate-pnl.ts:4-10):
#       with_history  — exit in [start, end)
#       period_only   — exit in [start, end) AND entry >= start
#     The oracle re-derives the same slices via the interval-overlap
#     formulation with the same time predicates — independent algorithms.

PNL_MODES_SCHEMA = (
    "key bigint, realized_total double, realized_with_history double, "
    "realized_period_only double, matched_qty bigint"
)


def _period_units(slices, ts, px, start, end) -> tuple[int, int, int]:
    """Realized 1e-10 units of ``slices``: all of them, those that exit in
    [start, end) (with_history), and those of them entered on or after
    start (period_only)."""
    exit_in = ((start <= ts) & (ts < end)).tolist()
    entered = (ts >= start).tolist()
    total_u = wh_u = po_u = 0
    for b, s, u in slices:
        x = _q10(u * (px[s] - px[b]))
        total_u += x
        if exit_in[s]:
            wh_u += x
            if entered[b]:
                po_u += x
    return total_u, wh_u, po_u


def _modes_fold(ts, side, qty, price, start, end) -> list[tuple]:
    slices, _ = _match(side, qty)
    units = _period_units(slices, ts, price.tolist(), start, end)
    return [(*map(_units_round4, units), sum(u for _, _, u in slices))]


def fifo_realized_modes(df: DataFrame, start: str, end: str) -> DataFrame:
    """Input columns as :func:`fifo_allocate`; output one row per key with
    realized PnL under each mode for the period [start, end)."""
    start64, end64 = np.datetime64(start), np.datetime64(end)
    return _fifo_by_key(
        df, lambda *cols: _modes_fold(*cols, start64, end64), PNL_MODES_SCHEMA
    )


def fifo_realized_modes_sql(events_rel: str, start: str, end: str) -> str:
    """Interval-overlap oracle for :func:`fifo_realized_modes` — pairs carry
    entry/exit timestamps, modes are FILTER predicates over the pairs."""
    return f"""
WITH src AS (SELECT * FROM {events_rel}),
b AS (
  SELECT key, ts, qty, price,
         SUM(qty) OVER (PARTITION BY key ORDER BY ts, ord
                        ROWS UNBOUNDED PRECEDING) AS cum_end
  FROM src WHERE side = 1
),
b2 AS (SELECT *, cum_end - qty AS cum_start FROM b),
s AS (
  SELECT key, ts, qty, price,
         SUM(qty) OVER (PARTITION BY key ORDER BY ts, ord
                        ROWS UNBOUNDED PRECEDING) AS cum_end
  FROM src WHERE side = -1
),
s2 AS (SELECT *, cum_end - qty AS cum_start FROM s),
m AS (
  SELECT b2.key,
         LEAST(b2.cum_end, s2.cum_end) - GREATEST(b2.cum_start, s2.cum_start) AS mqty,
         s2.price - b2.price AS unit_pnl,
         b2.ts AS entry_ts, s2.ts AS exit_ts
  FROM b2 JOIN s2 ON b2.key = s2.key
   AND b2.cum_start < s2.cum_end AND s2.cum_start < b2.cum_end
),
magg AS (
  SELECT key,
         CAST(ROUND(SUM(CAST(mqty * unit_pnl AS DECIMAL(30,10))), 4) AS DOUBLE) AS realized_total,
         CAST(ROUND(COALESCE(SUM(CAST(mqty * unit_pnl AS DECIMAL(30,10)))
             FILTER (WHERE exit_ts >= TIMESTAMP '{start}' AND exit_ts < TIMESTAMP '{end}'), 0), 4) AS DOUBLE) AS realized_with_history,
         CAST(ROUND(COALESCE(SUM(CAST(mqty * unit_pnl AS DECIMAL(30,10)))
             FILTER (WHERE exit_ts >= TIMESTAMP '{start}' AND exit_ts < TIMESTAMP '{end}'
                       AND entry_ts >= TIMESTAMP '{start}'), 0), 4) AS DOUBLE) AS realized_period_only,
         CAST(SUM(mqty) AS BIGINT) AS matched_qty
  FROM m GROUP BY key
)
SELECT k.key,
       COALESCE(magg.realized_total, 0.0) AS realized_total,
       COALESCE(magg.realized_with_history, 0.0) AS realized_with_history,
       COALESCE(magg.realized_period_only, 0.0) AS realized_period_only,
       COALESCE(magg.matched_qty, 0) AS matched_qty
FROM (SELECT DISTINCT key FROM src) k
LEFT JOIN magg ON k.key = magg.key
"""


# --- PnL modes 3-4 (O3, ± unrealized): reference src/calculate-pnl.ts:4-10,
#     src/ledger-engine.ts:2018-2031 — modes 3/4 add an unrealized mark over
#     the OPEN lots at period end: unrealized = Σ open_qty·(last_px −
#     lot_unit_cost), where mode 3 restricts to lots *entered* within the
#     period and mode 4 marks all open lots. Replay is truncated at the
#     period end (reference buildLedger(wallet, endTs):1965), so events
#     after ``end`` never enter the book. The oracle re-derives open lots
#     from the cumulative-interval formulation (consumed per buy =
#     clamp(total_sold − cum_start, 0, qty)) and the last price via a
#     ROW_NUMBER window — independent algorithms.

PNL_UNREALIZED_SCHEMA = (
    "key bigint, realized_with_history double, realized_period_only double, "
    "open_qty bigint, unrealized_all double, unrealized_period double, "
    "pnl_total double, pnl_period double"
)


def _unreal_fold(ts, side, qty, price, start, end) -> list[tuple]:
    """Realized units under modes 1-2 plus the open-lot unrealized mark at
    period end for one key's events (pre-filtered to ts < end). All sums in
    exact 1e-10 integer units (see _q10)."""
    slices, open_ = _match(side, qty)
    px = price.tolist()
    _, wh_u, po_u = _period_units(slices, ts, px, start, end)
    # mark every remaining unit at the key's last trade price (input sorted
    # by (ts, ord); replay ends < end)
    last_px = px[-1]
    open_q = un_all_u = un_per_u = 0
    for b, u in open_:
        if u <= 0:
            continue
        open_q += u
        x = _q10(u * (last_px - px[b]))
        un_all_u += x
        if ts[b] >= start:
            un_per_u += x
    return [(
        _units_round4(wh_u),
        _units_round4(po_u),
        open_q,
        _units_round4(un_all_u),
        _units_round4(un_per_u),
        _units_round4(wh_u + un_all_u),
        _units_round4(po_u + un_per_u),
    )]


def fifo_unrealized_modes(df: DataFrame, start: str, end: str) -> DataFrame:
    """PnL modes 3-4: realized (modes 1-2 filters) + unrealized mark of the
    open lots at period end. Input columns as :func:`fifo_allocate`."""
    start64, end64 = np.datetime64(start), np.datetime64(end)
    return _fifo_by_key(
        df.filter(F.col("ts") < F.lit(end).cast("timestamp")),
        lambda *cols: _unreal_fold(*cols, start64, end64),
        PNL_UNREALIZED_SCHEMA,
    )


def fifo_unrealized_modes_sql(events_rel: str, start: str, end: str) -> str:
    """Interval-overlap oracle for :func:`fifo_unrealized_modes` — open lot
    remainder per buy = qty − clamp(total_sold − cum_start, 0, qty)."""
    return f"""
WITH src AS (SELECT * FROM {events_rel} WHERE ts < TIMESTAMP '{end}'),
b AS (
  SELECT key, ts, ord, qty, price,
         SUM(qty) OVER (PARTITION BY key ORDER BY ts, ord
                        ROWS UNBOUNDED PRECEDING) AS cum_end
  FROM src WHERE side = 1
),
b2 AS (SELECT *, cum_end - qty AS cum_start FROM b),
s AS (
  SELECT key, ts, qty, price,
         SUM(qty) OVER (PARTITION BY key ORDER BY ts, ord
                        ROWS UNBOUNDED PRECEDING) AS cum_end
  FROM src WHERE side = -1
),
s2 AS (SELECT *, cum_end - qty AS cum_start FROM s),
m AS (
  SELECT b2.key,
         LEAST(b2.cum_end, s2.cum_end) - GREATEST(b2.cum_start, s2.cum_start) AS mqty,
         s2.price - b2.price AS unit_pnl,
         b2.ts AS entry_ts, s2.ts AS exit_ts
  FROM b2 JOIN s2 ON b2.key = s2.key
   AND b2.cum_start < s2.cum_end AND s2.cum_start < b2.cum_end
),
magg AS (
  SELECT key,
         COALESCE(SUM(CAST(mqty * unit_pnl AS DECIMAL(30,10)))
             FILTER (WHERE exit_ts >= TIMESTAMP '{start}'
                       AND exit_ts < TIMESTAMP '{end}'), 0) AS wh_d,
         COALESCE(SUM(CAST(mqty * unit_pnl AS DECIMAL(30,10)))
             FILTER (WHERE exit_ts >= TIMESTAMP '{start}'
                       AND exit_ts < TIMESTAMP '{end}'
                       AND entry_ts >= TIMESTAMP '{start}'), 0) AS po_d
  FROM m GROUP BY key
),
sold AS (
  SELECT key, SUM(qty) AS total_sold FROM src WHERE side = -1 GROUP BY key
),
lastpx AS (
  SELECT key, price AS last_px FROM (
    SELECT key, price,
           ROW_NUMBER() OVER (PARTITION BY key
                              ORDER BY ts DESC, ord DESC) AS rn
    FROM src
  ) WHERE rn = 1
),
open_lots AS (
  SELECT b2.key, b2.ts AS entry_ts, b2.price,
         b2.qty - LEAST(b2.qty,
                        GREATEST(0, COALESCE(sold.total_sold, 0)
                                    - b2.cum_start)) AS open_qty
  FROM b2 LEFT JOIN sold ON b2.key = sold.key
),
uagg AS (
  SELECT o.key,
         CAST(SUM(o.open_qty) AS BIGINT) AS open_qty,
         SUM(CAST(o.open_qty * (l.last_px - o.price)
                  AS DECIMAL(30,10))) AS un_all_d,
         COALESCE(SUM(CAST(o.open_qty * (l.last_px - o.price)
                           AS DECIMAL(30,10)))
             FILTER (WHERE o.entry_ts >= TIMESTAMP '{start}'), 0) AS un_per_d
  FROM open_lots o JOIN lastpx l ON o.key = l.key
  WHERE o.open_qty > 0
  GROUP BY o.key
)
SELECT k.key,
       CAST(ROUND(COALESCE(magg.wh_d, 0), 4) AS DOUBLE)
         AS realized_with_history,
       CAST(ROUND(COALESCE(magg.po_d, 0), 4) AS DOUBLE)
         AS realized_period_only,
       COALESCE(uagg.open_qty, 0) AS open_qty,
       CAST(ROUND(COALESCE(uagg.un_all_d, 0), 4) AS DOUBLE) AS unrealized_all,
       CAST(ROUND(COALESCE(uagg.un_per_d, 0), 4) AS DOUBLE)
         AS unrealized_period,
       CAST(ROUND(COALESCE(magg.wh_d, 0) + COALESCE(uagg.un_all_d, 0), 4)
            AS DOUBLE) AS pnl_total,
       CAST(ROUND(COALESCE(magg.po_d, 0) + COALESCE(uagg.un_per_d, 0), 4)
            AS DOUBLE) AS pnl_period
FROM (SELECT DISTINCT key FROM src) k
LEFT JOIN magg ON k.key = magg.key
LEFT JOIN uagg ON k.key = uagg.key
"""


# --- daily realized rollup (O4; reference src/build-rollup-1d.ts:56-87 —
#     wallet × day buckets of realized PnL, idempotently rebuilt). The FIFO
#     pair decomposition attributes each matched (buy, sell) portion to the
#     SELL's calendar day, so the rollup is a per-exit-day regrouping of the
#     same exact pair units the allocator already produces. The oracle
#     regroups the interval-overlap pair set by CAST(exit_ts AS DATE) —
#     identical pair decomposition, independent derivation.

ROLLUP_1D_SCHEMA = "key bigint, day date, realized_pnl double, matched_qty bigint"


def _rollup_fold(ts, side, qty, price) -> list[tuple]:
    """One key's matched slices regrouped by exit (sell) day, in exact
    1e-10 units: (day, realized, matched) rows in day order."""
    slices, _ = _match(side, qty)
    px = price.tolist()
    days = ts.astype("datetime64[D]").tolist()
    acc: dict = {}  # datetime.date -> [units, matched]
    for b, s, u in slices:
        slot = acc.setdefault(days[s], [0, 0])
        slot[0] += _q10(u * (px[s] - px[b]))
        slot[1] += u
    return [(day, _units_round4(x), m) for day, (x, m) in sorted(acc.items())]


def fifo_rollup_1d(df: DataFrame) -> DataFrame:
    """Input columns as :func:`fifo_allocate`; output one row per
    (key, exit day) with that day's realized PnL and matched quantity.
    Same single-shuffle partition-wise plan as the allocator."""
    return _fifo_by_key(df, _rollup_fold, ROLLUP_1D_SCHEMA)


def fifo_rollup_1d_sql(events_rel: str) -> str:
    """DuckDB oracle for :func:`fifo_rollup_1d` — the interval-overlap pair
    set regrouped by the sell side's calendar day."""
    return f"""
WITH src AS (SELECT * FROM {events_rel}),
b AS (
  SELECT key, ts, qty, price,
         SUM(qty) OVER (PARTITION BY key ORDER BY ts, ord
                        ROWS UNBOUNDED PRECEDING) AS cum_end
  FROM src WHERE side = 1
),
b2 AS (SELECT *, cum_end - qty AS cum_start FROM b),
s AS (
  SELECT key, ts, qty, price,
         SUM(qty) OVER (PARTITION BY key ORDER BY ts, ord
                        ROWS UNBOUNDED PRECEDING) AS cum_end
  FROM src WHERE side = -1
),
s2 AS (SELECT *, cum_end - qty AS cum_start FROM s),
m AS (
  SELECT b2.key,
         LEAST(b2.cum_end, s2.cum_end) - GREATEST(b2.cum_start, s2.cum_start) AS mqty,
         s2.price - b2.price AS unit_pnl,
         s2.ts AS exit_ts
  FROM b2 JOIN s2 ON b2.key = s2.key
   AND b2.cum_start < s2.cum_end AND s2.cum_start < b2.cum_end
)
SELECT key, CAST(exit_ts AS DATE) AS day,
       CAST(ROUND(SUM(CAST(mqty * unit_pnl AS DECIMAL(30,10))), 4) AS DOUBLE) AS realized_pnl,
       CAST(SUM(mqty) AS BIGINT) AS matched_qty
FROM m GROUP BY key, CAST(exit_ts AS DATE)
"""
