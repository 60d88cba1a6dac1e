"""Seeded generator for the benchmark's ``events`` table.

The output has the same schema as the testdata ``events`` table::

    event_id int64, ts timestamp[us], user_id int64, event_type string,
    value double, props string ('{"k": n}')

Events are spread over January 2024 in ``ts`` order (``event_id`` follows
``ts``). User activity follows a Zipf law with exponent ``zipf_s`` over a
seeded permutation of the user ids, so a few wallets are very active and
most are quiet. ``ts`` is written as microseconds: pandas' default
nanosecond INT64 fails Spark's streaming parquet read on ``ts``.
"""

from __future__ import annotations

import os

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

EVENT_TYPES = np.array(["click", "error", "purchase", "signup", "view"])
START_US = 1704067200 * 1_000_000  # 2024-01-01 00:00:00 UTC
SPAN_US = 30 * 86400 * 1_000_000   # the testdata covers Jan 1 - Jan 30

SCHEMA = pa.schema([
    ("event_id", pa.int64()),
    ("ts", pa.timestamp("us")),
    ("user_id", pa.int64()),
    ("event_type", pa.string()),
    ("value", pa.float64()),
    ("props", pa.string()),
])


def zipf_weights(n: int, s: float, rng: np.random.Generator) -> np.ndarray:
    """Probability of each of ``n`` ids under Zipf(s), ranks shuffled."""
    w = 1.0 / np.arange(1, n + 1, dtype=np.float64) ** s
    w /= w.sum()
    return w[rng.permutation(n)]


def no_oversells(users: np.ndarray, etype: np.ndarray, k: np.ndarray) -> None:
    """Relabel, in place, every outflow that would take a wallet's holdings
    below zero as a purchase.

    Under the ledger's event mapping a ``purchase`` buys ``k % 5 + 1`` units
    of the wallet's token, a ``click`` sells that many and a ``view`` moves
    them in (even ``k``) or out (odd ``k``). The never-negative-inventory
    invariant counts buys and inbound transfers only, so a sell or outbound
    transfer larger than those holdings would be a violation; real wallets
    cannot sell what they do not hold. Events must be in time order.
    """
    held = [0] * (int(users.max()) + 1)
    for i, (t, u, ki) in enumerate(zip(etype.tolist(), users.tolist(), k.tolist())):
        q = ki % 5 + 1
        if t == "purchase" or (t == "view" and ki % 2 == 0):
            held[u] += q
        elif t == "click" or t == "view":
            if q > held[u]:
                etype[i] = "purchase"
                held[u] += q
            else:
                held[u] -= q


def make_events(seed: int, n_events: int, n_users: int,
                zipf_s: float) -> pa.Table:
    rng = np.random.default_rng(seed)
    ts = START_US + np.sort(rng.integers(0, SPAN_US, n_events))
    users = rng.choice(n_users, size=n_events, p=zipf_weights(n_users, zipf_s, rng))
    # every user gets at least one event, so every id the load names exists
    users[rng.permutation(n_events)[:n_users]] = np.arange(n_users)
    etype = EVENT_TYPES[rng.integers(0, len(EVENT_TYPES), n_events)]
    value = np.round(rng.exponential(50.0, n_events), 2)
    k = rng.integers(0, 100, n_events)
    no_oversells(users, etype, k)
    props = np.char.add(np.char.add('{"k": ', k.astype(str)), "}")
    return pa.table(
        [
            pa.array(np.arange(n_events, dtype=np.int64)),
            pa.array(ts, type=pa.timestamp("us")),
            pa.array(users.astype(np.int64)),
            pa.array(etype.astype(object), type=pa.string()),
            pa.array(value),
            pa.array(props.astype(object), type=pa.string()),
        ],
        schema=SCHEMA,
    )


def write_table(table: pa.Table, path: str) -> None:
    """Write one parquet file with fixed settings, so equal tables give
    equal bytes."""
    os.makedirs(os.path.dirname(path) or ".", exist_ok=True)
    pq.write_table(table, path, compression="snappy", row_group_size=1 << 20,
                   coerce_timestamps="us", store_schema=False)


def write_events(seed: int, sf_dir: str, n_events: int, n_users: int,
                 zipf_s: float) -> pa.Table:
    """Generate the table and write it as ``<sf_dir>/events.parquet``, the
    layout ``sources.tables.load_table`` reads."""
    table = make_events(seed, n_events, n_users, zipf_s)
    write_table(table, os.path.join(sf_dir, "events.parquet"))
    return table
