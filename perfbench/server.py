"""Benchmark server process: one SparkSession serving the repo's HTTP API
over the generated inputs, plus the indexer's write path.

Started by ``run.py`` with the workload's configuration as JSON. It sets up
(Spark session, prebuilt tiers, warm-up of every path the run will time),
prints one ``PERFBENCH_READY {...}`` line with its set-up breakdown, then
serves until ``/_bench/shutdown``. In a traced run (``--trace 1``) the
layers' public functions are wrapped first (``tracing.py``), and each API
request runs in its own Spark job group, named by the ``X-Request-Id``
header, so its jobs, stages and tasks can be counted.

Besides the API routes of ``serve/http_server.py`` it answers a few control
routes the load generator drives:

- ``/_bench/fold?market=K``: one ``availableNow`` fold of the files appended
  to the watched directory, through ``incremental_candles_stream`` and
  ``incremental_additive_stream`` (hourly volume), then ``/market/candles``
  for market K served from the just-folded state.
- ``/_bench/backfill?wallets=N``: ``rebuild_wallet_ledgers`` +
  ``snapshot_top_wallets`` + ``rollup_realized_1d`` over the top-N wallets
  of the indexed events, written through ``sinks.replace_partitions``, then
  the never-negative-inventory check over the written ledger.
- ``/_bench/stats``: per-layer figures of a traced run and the host-band
  diagnostic (``bench.py``'s calibration job time, load average).

Run it only through ``run.py``.
"""

from __future__ import annotations

import argparse
import json
import os
import sys
import threading
import time
from concurrent.futures import ThreadPoolExecutor
from urllib.parse import parse_qs, urlparse

from common import dir_usage, pct
from tracing import Tracer, wrapper_cost_ms

EVENTS_DDL = ("event_id long, ts timestamp_ntz, user_id long, "
              "event_type string, value double, props string")


def hourly_partials(batch):
    """Hourly volume partial state of one microbatch (the reference's
    ``token_volume_1h`` SummingMergeTree view)."""
    from pyspark.sql import functions as F

    return batch.groupBy(
        F.date_trunc("hour", F.col("ts")).alias("hour"), "event_type"
    ).agg(
        F.sum(F.col("value").cast("decimal(30,10)")).alias("volume_dec"),
        F.count(F.lit(1)).alias("n_events"),
    ).withColumn("day", F.to_date("hour"))


class Indexer:
    """The write path over one watched directory ``<root>/live/events.parquet``
    that the load generator appends parquet files to."""

    def __init__(self, spark, root: str):
        self.spark = spark
        self.live_sf = os.path.join(root, "live")
        self.src = os.path.join(self.live_sf, "events.parquet")
        self.candles = os.path.join(root, "state", "candles_1m")
        self.hourly = os.path.join(root, "state", "volume_1h")
        self.ckpt = os.path.join(root, "checkpoints")
        self.out = os.path.join(root, "backfill")
        os.makedirs(self.src, exist_ok=True)

    def _run(self, start_query) -> None:
        from pyspark.sql.types import _parse_datatype_string

        stream = self.spark.readStream.schema(
            _parse_datatype_string(EVENTS_DDL)).parquet(self.src)
        q = start_query(stream).trigger(availableNow=True).start()
        q.awaitTermination()
        if q.exception() is not None:
            raise RuntimeError(str(q.exception()))

    def fold(self) -> dict:
        """One ``availableNow`` trigger of each materialized view over the
        files appended so far; the two views fold side by side, as the
        reference's views all fire on the same insert."""
        from neomarket_clickhouse_indexer_spark.streaming import incremental

        def timed(start_query):
            t0 = time.perf_counter()
            self._run(start_query)
            return (time.perf_counter() - t0) * 1e3

        before = _listing(self.candles)
        with ThreadPoolExecutor(2) as pool:
            candles = pool.submit(timed, lambda s: incremental.incremental_candles_stream(
                s, self.candles, os.path.join(self.ckpt, "candles_1m")))
            volume = pool.submit(timed, lambda s: incremental.incremental_additive_stream(
                s, self.hourly, os.path.join(self.ckpt, "volume_1h"),
                hourly_partials, keys=["hour", "event_type", "day"],
                sum_cols=["volume_dec", "n_events"], partition_col="day"))
            out = {"candles_ms": candles.result(), "volume_ms": volume.result()}
        after = _listing(self.candles)
        rewritten = [d for d, files in after.items() if before.get(d) != files]
        out["partitions_rewritten"] = len(rewritten)
        out["state_bytes_written"] = sum(size for d in rewritten for _n, size in after[d])
        return out

    def _top_wallets(self, n_wallets: int):
        """The indexed events in the ledger's domain form, and the
        ``n_wallets`` most active wallets among them.

        Layer functions are imported here, at call time, so a traced run
        calls them through the wrappers ``tracing`` patched in."""
        from neomarket_clickhouse_indexer_spark.ledger import jobs
        from neomarket_clickhouse_indexer_spark.queries.events import (
            _domain_events,
        )

        ev = _domain_events(self.spark, self.live_sf)
        return ev, [r["wallet"] for r in jobs.select_top_wallets(ev, n_wallets).collect()]

    def backfill(self, n_wallets: int, check: bool = True) -> dict:
        from pyspark.sql import functions as F

        from neomarket_clickhouse_indexer_spark.ledger import jobs
        from neomarket_clickhouse_indexer_spark.ledger.build import (
            build_wallet_ledger,
        )
        from neomarket_clickhouse_indexer_spark.ledger.pnl import (
            rollup_realized_1d,
        )
        from neomarket_clickhouse_indexer_spark.sources import sinks
        from neomarket_clickhouse_indexer_spark.verify.invariants import (
            check_non_negative_inventory,
        )

        ledger_out = os.path.join(self.out, "wallet_ledger")
        t0 = time.perf_counter()
        ev, top = self._top_wallets(n_wallets)
        jobs.rebuild_wallet_ledgers(ev, ledger_out, wallets=top)
        jobs.snapshot_top_wallets(
            ev, os.path.join(self.out, "wallet_snapshots"), n=n_wallets)
        sinks.replace_partitions(
            rollup_realized_1d(build_wallet_ledger(ev.filter(F.col("wallet").isin(top)))),
            os.path.join(self.out, "rollup_1d"), ["day"])
        out = {"backfill_ms": (time.perf_counter() - t0) * 1e3,
               "wallets": len(top)}
        if check:
            written = self.spark.read.parquet(ledger_out)
            out["ledger_rows"] = written.count()
            out["violations"] = check_non_negative_inventory(written).count()
        return out

    def backfill_compute_s(self, n_wallets: int) -> float:
        """The backfill's builders into a noop sink: compute without the
        parquet writes."""
        from pyspark.sql import functions as F

        from neomarket_clickhouse_indexer_spark.ledger.build import (
            build_wallet_ledger, build_wallet_snapshots,
        )
        from neomarket_clickhouse_indexer_spark.ledger.pnl import (
            rollup_realized_1d,
        )

        t0 = time.perf_counter()
        ev, top = self._top_wallets(n_wallets)
        scoped = ev.filter(F.col("wallet").isin(top))
        for df in (build_wallet_ledger(scoped),
                   build_wallet_snapshots(scoped),
                   rollup_realized_1d(build_wallet_ledger(scoped))):
            df.write.format("noop").mode("overwrite").save()
        return time.perf_counter() - t0

    def read_back(self, market: str) -> dict:
        """``/market/candles`` served from the just-folded state."""
        from neomarket_clickhouse_indexer_spark.serve.api import ServeContext
        from neomarket_clickhouse_indexer_spark.streaming.incremental import (
            read_candle_state,
        )

        ctx = ServeContext(self.spark, self.live_sf,
                           candle_state=read_candle_state(self.spark, self.candles))
        return ctx.candles(market, "1m", limit=500)

    def stored_bytes(self) -> int:
        return sum(dir_usage(d)[1] for d in (self.candles, self.hourly, self.out))


def _listing(path: str) -> dict[str, tuple]:
    """Partition directory -> its (name, size) data files."""
    out = {}
    if not os.path.isdir(path):
        return out
    for d in os.listdir(path):
        full = os.path.join(path, d)
        if os.path.isdir(full) and not d.startswith((".", "_")):
            out[d] = tuple(sorted(
                (n, os.path.getsize(os.path.join(full, n)))
                for n in os.listdir(full) if not n.startswith((".", "_"))))
    return out


class Server:
    def __init__(self, args, cfg: dict):
        self.cfg = cfg
        self.work = args.work
        self.tracer = Tracer() if args.trace else None
        self.setup: dict[str, float] = {}
        self.fold_stats: list[dict] = []
        self.requests: dict[str, dict] = {}
        self.layer: dict[str, float] = {}
        self.lock = threading.Lock()
        self.clock_offset = time.time() - time.perf_counter()

    # -- set-up ---------------------------------------------------------

    def start_spark(self):
        from neomarket_clickhouse_indexer_spark.session import get_spark

        t0 = time.perf_counter()
        self.spark = get_spark(
            "perfbench", cores=self.cfg["cores"],
            extra_conf={
                "spark.sql.warehouse.dir": os.path.join(self.work, "warehouse"),
                "spark.local.dir": os.path.join(self.work, "spark-local"),
                "spark.sql.streaming.ui.enabled": "false",
            },
        )
        self.setup["session_s"] = time.perf_counter() - t0

    def build(self):
        """Prebuild the tiers and warm up every path the run times, so JIT
        and Python-worker start-up land in set-up. Independent work runs
        side by side on the cores; routes that read a tier wait for it."""
        from neomarket_clickhouse_indexer_spark.operators.candles import ohlcv
        from neomarket_clickhouse_indexer_spark.serve.api import ServeContext
        from neomarket_clickhouse_indexer_spark.sources.tables import load_table

        spark, sf = self.spark, os.path.join(self.work, "sf")
        self.indexer = Indexer(spark, os.path.join(self.work, "index"))
        raw = ServeContext(spark, sf)

        def timed(name, fn):
            t0 = time.perf_counter()
            out = fn()
            self.setup[name] = time.perf_counter() - t0
            return out

        def candle_tier():
            ev = load_table(spark, sf, "events")
            return ohlcv(ev, key="event_type", ts="ts", price="value",
                         ord_col="event_id",
                         bucket_seconds=60).localCheckpoint(eager=True)

        t0 = time.perf_counter()
        with ThreadPoolExecutor(self.cfg["cores"]) as pool:
            tiers, warms = [], []
            if self.cfg["tiers"]:
                tiers = [pool.submit(timed, "candle_tier_build_s", candle_tier),
                         # the context's own lazily-built O2 tier
                         pool.submit(timed, "snapshot_tier_build_s",
                                     lambda: ServeContext(spark, sf)._snapshots())]
            if self.cfg["write"]:
                # a small fold, its read-back and a small backfill, into
                # throwaway directories; one after the other, because the
                # sinks set and restore a session-wide overwrite mode
                warm = Indexer(spark, os.path.join(self.work, "warm"))
                os.replace(os.path.join(self.work, "warm_batch.parquet"),
                           os.path.join(warm.src, "part-warm.parquet"))
                warms = [pool.submit(lambda: (warm.fold(), warm.read_back("view"),
                                              warm.backfill(2, check=False)))]
            warms += [pool.submit(call_route, raw, r) for r in self.cfg["warm_routes"]]
            if tiers:
                self.ctx = ServeContext(spark, sf, candle_state=tiers[0].result(),
                                        snapshot_state=tiers[1].result())
                warms += [pool.submit(call_route, self.ctx, r)
                          for r in self.cfg["tier_routes"]]
            else:
                self.ctx = raw
            for f in warms:
                f.result()
        self.setup["tiers_and_warm_up_s"] = time.perf_counter() - t0

    # -- control routes -------------------------------------------------

    def fold(self, market: str) -> dict:
        seen = len(self.tracer.spans) if self.tracer is not None else 0
        out = self.indexer.fold()
        t0 = time.perf_counter()
        self.indexer.read_back(market)
        out["read_back_ms"] = (time.perf_counter() - t0) * 1e3
        if self.tracer is not None:
            out["fold_fn_ms"] = sum(
                (s[5] - s[4]) * 1e3 for s in self.tracer.spans[seen:]
                if s[2].endswith("_fold_batch"))
        self.fold_stats.append(out)
        return out

    def backfill(self, n_wallets: int) -> dict:
        out = self.indexer.backfill(n_wallets)
        out["stored_bytes"] = self.indexer.stored_bytes()
        if self.tracer is not None:
            self.layer["ledger.backfill_compute_s"] = \
                self.indexer.backfill_compute_s(n_wallets)
        return out

    def stats(self) -> dict:
        out = {"setup": self.setup, "host": self.host_band()}
        if self.tracer is not None:
            out["layer"] = self.layer_metrics()
            out["requests"] = self.request_metrics()
            self.tracer.dump(self.cfg["spans_path"])
        return out

    def host_band(self) -> dict:
        """``bench.py``'s calibration job and the load average: recorded
        beside the run, never used to normalise a metric."""
        t0 = time.perf_counter()
        (
            self.spark.range(0, 200_000_000, 1, 32)
            .selectExpr("sum(id * 2 + 1) AS s", "sum(id % 7) AS m")
            .write.format("noop").mode("overwrite").save()
        )
        return {"calib_s": time.perf_counter() - t0,
                "loadavg_1m": os.getloadavg()[0]}

    # -- traced-run figures ----------------------------------------------

    def begin_request(self, rid: str | None, due: float | None,
                      path: str) -> None:
        if self.tracer is None or rid is None:
            return
        self.tracer.begin_request(rid)
        self.spark.sparkContext.setJobGroup(rid, rid)
        with self.lock:
            self.requests[rid] = {"due": due, "path": path}

    def end_request(self, rid: str | None) -> None:
        if self.tracer is None or rid is None:
            return
        self.tracer.end_request()
        sc = self.spark.sparkContext
        tracker = sc.statusTracker()
        jobs = stages = tasks = failed = 0
        for j in tracker.getJobIdsForGroup(rid):
            info = tracker.getJobInfo(j)
            if info is None:
                continue
            jobs += 1
            for s in info.stageIds:
                st = tracker.getStageInfo(s)
                if st is None:
                    continue
                stages += 1
                tasks += st.numTasks
                failed += st.numFailedTasks
        with self.lock:
            self.requests[rid].update(jobs=jobs, stages=stages, tasks=tasks,
                                      failed=failed)

    def request_metrics(self) -> dict:
        spans = self.tracer.request_spans()
        collect = self.tracer.collect_ms()
        out = {}
        for rid, r in self.requests.items():
            if rid not in spans:
                continue
            t0, t1 = spans[rid]
            method_ms = (t1 - t0) * 1e3
            out[rid] = dict(
                r, method_ms=method_ms, collect_ms=collect.get(rid, 0.0),
                start_wall=t0 + self.clock_offset,
            )
        return out

    def layer_metrics(self) -> dict:
        tr = self.tracer
        m = dict(self.layer)
        for name in ("leaderboard", "candles", "user_stats", "activity",
                     "portfolio_history", "recent_trades", "pnl",
                     "explain_user", "holders", "market_stats", "discover",
                     "ledger", "snapshots", "positions"):
            durs = tr.by_name(f"ServeContext.{name}")
            m[f"serve.{name}.calls"] = len(durs)
            m[f"serve.{name}.p50_ms"] = pct(durs, 50)
        loads = tr.by_layer("sources.load_table")
        m["sources.load_table.calls"] = len(loads)
        m["sources.load_table.busy_ms"] = sum((s[5] - s[4]) * 1e3 for s in loads)
        m["sources.table_memo.hit_ratio"] = tr.memo_hits / len(loads) if loads else 0.0
        sinks = tr.by_layer("sources.sinks")
        m["sources.sinks.busy_ms"] = sum((s[5] - s[4]) * 1e3 for s in sinks)
        m["sources.sinks.files_written"] = tr.sink_files
        m["sources.sinks.bytes_written"] = tr.sink_bytes
        m["ledger.snapshot_tier_build_s"] = self.setup.get("snapshot_tier_build_s", 0.0)
        m["operators.candle_tier_build_s"] = self.setup.get("candle_tier_build_s", 0.0)
        # the FIFO allocation is the work of /leaderboard?sort=pnl
        m["operators.fifo_allocate_s"] = pct(
            [r["method_ms"] / 1e3 for r in self.request_metrics().values()
             if "sort=pnl" in r["path"]], 50)
        folds = self.fold_stats
        m["streaming.fold_fn_ms_p50"] = pct([f["fold_fn_ms"] for f in folds], 50)
        m["streaming.trigger_overhead_ms_p50"] = pct(
            [f["candles_ms"] - f["fold_fn_ms"] for f in folds], 50)
        m["streaming.partitions_rewritten_per_batch"] = (
            sum(f["partitions_rewritten"] for f in folds) / len(folds) if folds else 0.0)
        m["streaming.state_bytes_written"] = sum(f["state_bytes_written"] for f in folds)
        for layer, ms in tr.self_ms_by_layer().items():
            m[f"{layer}.self_ms"] = ms
        m["trace.spans"] = len(tr.spans)
        m["trace.wrapper_overhead_ms"] = len(tr.spans) * wrapper_cost_ms()
        return m


def call_route(ctx, route: str):
    """Call one API route in-process through the HTTP routing table
    (``_route`` reads only the context, never the handler instance)."""
    from neomarket_clickhouse_indexer_spark.serve.http_server import make_handler

    url = urlparse(route)
    return make_handler(ctx)._route(None, url.path, parse_qs(url.query))


def make_bench_handler(server: Server):
    from neomarket_clickhouse_indexer_spark.serve.http_server import make_handler

    base = make_handler(server.ctx)

    class BenchHandler(base):
        def do_GET(self):
            url = urlparse(self.path)
            if url.path.startswith("/_bench/"):
                self._control(url.path, parse_qs(url.query))
                return
            rid = self.headers.get("X-Request-Id")
            due = self.headers.get("X-Due")
            server.begin_request(rid, float(due) if due else None, self.path)
            try:
                super().do_GET()
            finally:
                server.end_request(rid)

        def _control(self, path: str, qs: dict) -> None:
            try:
                if path == "/_bench/fold":
                    out = server.fold(qs["market"][0])
                elif path == "/_bench/backfill":
                    out = server.backfill(int(qs["wallets"][0]))
                elif path == "/_bench/stats":
                    out = server.stats()
                elif path == "/_bench/shutdown":
                    threading.Thread(target=self.server.shutdown).start()
                    out = {"ok": True}
                else:
                    out = None
            except Exception as e:  # reported to the load generator as a failure
                import traceback

                traceback.print_exc()
                self._json(500, {"error": f"{type(e).__name__}: {e}"})
                return
            if out is None:
                self._json(404, {"error": "Not found"})
            else:
                self._json(200, out)

    return BenchHandler


def main(argv=None) -> int:
    ap = argparse.ArgumentParser()
    ap.add_argument("--work", required=True)
    ap.add_argument("--trace", type=int, default=0)
    ap.add_argument("--config", required=True)
    args = ap.parse_args(argv)
    cfg = json.loads(args.config)

    srv = Server(args, cfg)
    if srv.tracer is not None:
        srv.tracer.install()
    srv.start_spark()
    srv.build()

    from http.server import ThreadingHTTPServer

    httpd = ThreadingHTTPServer(("127.0.0.1", 0), make_bench_handler(srv))
    httpd.daemon_threads = True
    print("PERFBENCH_READY " + json.dumps(
        {"port": httpd.server_address[1], "setup": srv.setup}), flush=True)
    try:
        httpd.serve_forever(poll_interval=0.1)
    finally:
        httpd.server_close()
        srv.spark.stop()
    return 0


if __name__ == "__main__":
    sys.exit(main())
