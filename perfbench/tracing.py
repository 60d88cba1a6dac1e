"""Span tracing for the benchmark's traced run.

Nothing in the program is edited: :func:`install` replaces the public
functions of each layer with wrappers by patching module (and class)
attributes, in the server process of a traced run only. Each call records a
span ``(name, layer, start, end, parent, request id)`` in memory; the server
hands the aggregates to the load generator at the end of the run and writes
the raw spans out.
"""

from __future__ import annotations

import functools
import importlib
import json
import os
import threading
import time

from common import dir_usage

PKG = "neomarket_clickhouse_indexer_spark"

# (module, attribute path, layer). A dotted attribute is a class method.
# Modules that import a function by name hold their own binding, so each
# binding the served paths call through is patched where it is looked up.
TARGETS = [
    ("serve.api", "ServeContext.leaderboard", "serve"),
    ("serve.api", "ServeContext.candles", "serve"),
    ("serve.api", "ServeContext.user_stats", "serve"),
    ("serve.api", "ServeContext.activity", "serve"),
    ("serve.api", "ServeContext.portfolio_history", "serve"),
    ("serve.api", "ServeContext.recent_trades", "serve"),
    ("serve.api", "ServeContext.pnl", "serve"),
    ("serve.api", "ServeContext.explain_user", "serve"),
    ("serve.api", "ServeContext.holders", "serve"),
    ("serve.api", "ServeContext.market_stats", "serve"),
    ("serve.api", "ServeContext.discover", "serve"),
    ("serve.api", "ServeContext.ledger", "serve"),
    ("serve.api", "ServeContext.snapshots", "serve"),
    ("serve.api", "ServeContext.positions", "serve"),
    ("serve.api", "_rows", "serve.collect"),
    ("queries.events", "user_stats", "queries"),
    ("queries.events", "top_users_by_volume", "queries"),
    ("queries.events", "fifo_user_pnl", "queries"),
    ("queries.events", "category_leaderboard", "queries"),
    ("queries.events", "_fifo_input", "queries"),
    ("queries.events", "_domain_events", "queries"),
    ("serve.api", "ohlcv", "operators"),
    ("serve.api", "rebucket", "operators"),
    ("serve.api", "finalize", "operators"),
    ("queries.events", "fifo_allocate", "operators"),
    ("operators.fifo", "fifo_unrealized_modes", "operators"),
    ("ledger.build", "build_wallet_ledger", "ledger"),
    ("ledger.build", "build_wallet_snapshots", "ledger"),
    ("ledger.jobs", "build_wallet_ledger", "ledger"),
    ("ledger.jobs", "build_wallet_snapshots", "ledger"),
    ("ledger.jobs", "rebuild_wallet_ledgers", "ledger"),
    ("ledger.jobs", "snapshot_top_wallets", "ledger"),
    ("ledger.pnl", "rollup_realized_1d", "ledger"),
    ("verify.invariants", "check_non_negative_inventory", "ledger"),
    ("streaming.incremental", "_fold_batch", "streaming"),
    ("streaming.incremental", "incremental_candles_stream", "streaming"),
    ("streaming.incremental", "incremental_additive_stream", "streaming"),
    ("sources.tables", "load_table", "sources.load_table"),
    ("queries.events", "load_table", "sources.load_table"),
    ("sources.sinks", "replace_partitions", "sources.sinks"),
    ("ledger.jobs", "replace_partitions", "sources.sinks"),
]


class Tracer:
    """In-memory span store. One instance per server process."""

    def __init__(self) -> None:
        self.spans: list[tuple] = []
        self.lock = threading.Lock()
        self.local = threading.local()
        self.memo_seen: set[int] = set()
        self.memo_hits = 0
        self.sink_files = 0
        self.sink_bytes = 0
        self._next_id = 0

    # -- request scope --------------------------------------------------

    def begin_request(self, rid: str | None) -> None:
        self.local.rid = rid
        self.local.stack = []

    def end_request(self) -> None:
        self.local.rid = None

    # -- spans ----------------------------------------------------------

    def _new_id(self) -> int:
        with self.lock:
            self._next_id += 1
            return self._next_id

    def wrap(self, fn, name: str, layer: str):
        tracer = self

        @functools.wraps(fn)
        def traced(*args, **kwargs):
            stack = getattr(tracer.local, "stack", None)
            if stack is None:
                stack = tracer.local.stack = []
            sid = tracer._new_id()
            parent = stack[-1] if stack else None
            stack.append(sid)
            t0 = time.perf_counter()
            try:
                out = fn(*args, **kwargs)
            finally:
                t1 = time.perf_counter()
                stack.pop()
                rid = getattr(tracer.local, "rid", None)
                with tracer.lock:
                    tracer.spans.append((sid, parent, name, layer, t0, t1, rid))
            if layer == "sources.load_table":
                tracer._count_memo(out)
            elif layer == "sources.sinks":
                tracer._count_sink(args[1] if len(args) > 1 else kwargs["path"])
            return out

        return traced

    def _count_memo(self, df) -> None:
        # the table memo hands back the very same DataFrame on a hit
        with self.lock:
            if id(df) in self.memo_seen:
                self.memo_hits += 1
            else:
                self.memo_seen.add(id(df))

    def _count_sink(self, path: str) -> None:
        files, size = dir_usage(path)
        with self.lock:
            self.sink_files += files
            self.sink_bytes += size

    def install(self) -> None:
        for mod_name, attr, layer in TARGETS:
            mod = importlib.import_module(f"{PKG}.{mod_name}")
            owner, leaf = mod, attr
            if "." in attr:
                cls_name, leaf = attr.split(".")
                owner = getattr(mod, cls_name)
            fn = getattr(owner, leaf)
            setattr(owner, leaf, self.wrap(fn, f"{mod_name}.{attr}", layer))

    # -- aggregation ----------------------------------------------------

    def by_name(self, name_suffix: str) -> list[float]:
        """Durations in ms of every span whose name ends with the suffix."""
        return [(s[5] - s[4]) * 1e3 for s in self.spans if s[2].endswith(name_suffix)]

    def by_layer(self, layer: str) -> list[tuple]:
        return [s for s in self.spans if s[3] == layer]

    def self_ms_by_layer(self) -> dict[str, float]:
        """Per layer: span time minus the part its child spans cover."""
        children: dict[int, list[tuple[float, float]]] = {}
        for s in self.spans:
            if s[1] is not None:
                children.setdefault(s[1], []).append((s[4], s[5]))
        out: dict[str, float] = {}
        for sid, _parent, _name, layer, t0, t1, _rid in self.spans:
            covered = _union_length(children.get(sid, []), t0, t1)
            top = layer.split(".")[0]
            out[top] = out.get(top, 0.0) + (t1 - t0 - covered) * 1e3
        return out

    def request_spans(self) -> dict[str, tuple[float, float]]:
        """Request id -> (start, end) of its top-level endpoint span."""
        out = {}
        for _sid, parent, _name, layer, t0, t1, rid in self.spans:
            if layer == "serve" and parent is None and rid is not None:
                out[rid] = (t0, t1)
        return out

    def collect_ms(self) -> dict[str, float]:
        """Request id -> ms spent inside ``api._rows`` for that request."""
        out: dict[str, float] = {}
        for s in self.spans:
            if s[3] == "serve.collect" and s[6] is not None:
                out[s[6]] = out.get(s[6], 0.0) + (s[5] - s[4]) * 1e3
        return out

    def dump(self, path: str) -> None:
        os.makedirs(os.path.dirname(path), exist_ok=True)
        with open(path, "w") as f:
            for sid, parent, name, layer, t0, t1, rid in self.spans:
                f.write(json.dumps({
                    "id": sid, "parent": parent, "name": name, "layer": layer,
                    "start": t0, "end": t1, "request": rid,
                }) + "\n")


def _union_length(intervals: list[tuple[float, float]], lo: float,
                  hi: float) -> float:
    total, cur_s, cur_e = 0.0, None, None
    for s, e in sorted(intervals):
        s, e = max(s, lo), min(e, hi)
        if e <= s:
            continue
        if cur_e is None or s > cur_e:
            if cur_e is not None:
                total += cur_e - cur_s
            cur_s, cur_e = s, e
        else:
            cur_e = max(cur_e, e)
    if cur_e is not None:
        total += cur_e - cur_s
    return total


def wrapper_cost_ms(n: int = 20000) -> float:
    """Measured cost of one traced call around a no-op, in ms."""
    tracer = Tracer()
    noop = tracer.wrap(lambda: None, "noop", "noop")
    t0 = time.perf_counter()
    for _ in range(n):
        noop()
    return (time.perf_counter() - t0) * 1e3 / n
