"""Benchmark entry point: one workload, one seed, one run.

    python3 perfbench/run.py --workload api_dashboard --seed 1 --seconds 10 --trace 0

Generates the workload's inputs from the seed, starts the server process
(``server.py``: one SparkSession, the repo's HTTP API and the indexer's
write path), drives the load from this process, checks the answers and
prints every metric by name and unit. The last line of standard output is
one JSON object, ``{"correct", "attempted", "failed", "metrics"}``, with the
end-to-end metrics (``--trace 0``) or the per-layer metrics (``--trace 1``).

Workloads:

- ``api_dashboard``: dashboard reads over the prebuilt candle and snapshot
  tiers. Users and markets are Zipf-popular, so requests repeat. An open
  loop (Poisson arrivals at ``OPEN_LOOP_RATE``, each request timed from its
  due time) for ``OPEN_SHARE`` of the seconds, then a closed loop with 2
  clients. Each phase starts its own copy of the mix cycle.
- ``api_wallet_ledger``: per-wallet raw recomputation (ledger replay, FIFO)
  on a dataset twice the size; every request names a wallet no earlier
  request used, so nothing can be reused. Closed loop with 2 clients.

Set-up ends with ``WARM_CYCLES`` whole cycles of the workload's mix sent
over HTTP by its clients, untimed and unchecked (``warm_up``), so the
JIT and the Python workers have settled when timing starts; ``setup_s``
counts them.

A traced run (``--trace 1``) then also runs the indexer's write phase:
late events appended to a watched directory in microbatches, each folded
by the two streaming views and read back, then a ledger backfill of the
most active wallets through the sinks. Its figures are per-layer metrics
(``write.*``, ``streaming.*``, ``sources.sinks.*``); the untimed checks
compare the folded state with the oracle and the backfilled ledger with
the never-negative-inventory invariant.
"""

from __future__ import annotations

import argparse
import http.client
import itertools
import json
import os
import queue
import shutil
import signal
import subprocess
import sys
import threading
import time

import numpy as np

from common import OUT_DIR, PKG_DIR, ROOT, WORK_ROOT, child_pids, pct, peak_rss_mb

CORES = 4
# req/s: about half the closed-loop capacity (3-5 req/s on a loaded 4-core
# VM), so a slower host does not tip the open loop into a growing queue
OPEN_LOOP_RATE = 1.5
OPEN_SHARE = 0.3  # of the run's seconds, the open loop's share
WARM_CYCLES = 1  # of the mix, sent over HTTP at the end of set-up
SETUP_TIMEOUT_S = 120

# 2 clients leave cores free for the JIT, the GC and the Python workers, so a
# run measures the program rather than the CPU scheduler of a shared host
WORKLOADS = {
    "api_dashboard": dict(
        n_events=30_000, n_users=1_000, zipf_s=0.8, tiers=True,
        read="dashboard", clients=2,
    ),
    "api_wallet_ledger": dict(
        n_events=60_000, n_users=2_000, zipf_s=0.8, tiers=False,
        read="wallet", clients=2,
    ),
}
KEY_ZIPF_S = 1.1  # popularity of the users and markets the dashboard reads
# the write phase a traced run ends with: late events in microbatches, each
# folded and read back, then a backfill of the most active wallets
FOLDS, BATCH, BACKFILL_WALLETS = 3, 2_000, 5

DASHBOARD_CYCLE = [  # one cycle of the dashboard mix, by weight
    "candles_1m", "user_stats", "portfolio", "candles_5m", "leaderboard",
    "activity", "candles_1m", "user_stats", "market_stats", "candles_1h",
    "trades", "discover",
]
# /leaderboard/explain, the slowest kind, is 2 of 9, so the 90th percentile
# falls inside its latencies rather than on the edge below them
WALLET_CYCLE = [
    "ledger", "snapshots", "explain", "pnl", "leaderboard_pnl", "ledger",
    "positions", "explain", "holders",
]
TIER_KINDS = {"candles_1m", "candles_5m", "candles_1h", "portfolio"}
MARKETS = ["click", "error", "purchase", "signup", "view"]
CANDLE_LIMIT = 500
LEDGER_LIMIT = 10_000


def route(kind: str, user: int = 0, market: str = "purchase") -> str:
    return {
        "candles_1m": f"/market/candles?key={market}&interval=1m&limit={CANDLE_LIMIT}",
        "candles_5m": f"/market/candles?key={market}&interval=5m&limit={CANDLE_LIMIT}",
        "candles_1h": f"/market/candles?key={market}&interval=1h&limit={CANDLE_LIMIT}",
        "portfolio": f"/portfolio/history?user_id={user}",
        "leaderboard": "/leaderboard?sort=volume",
        "user_stats": f"/user/stats?user_id={user}",
        "activity": f"/activity?user_id={user}&limit=50",
        "trades": f"/trades?user_id={user}",
        "market_stats": f"/market/stats?key={market}",
        "discover": "/discover/markets?limit=20",
        "ledger": f"/ledger/{user}?limit={LEDGER_LIMIT}",
        "snapshots": f"/snapshots/{user}",
        "pnl": f"/pnl/{user}?mode=total",
        "positions": f"/positions?user_id={user}",
        "explain": f"/leaderboard/explain?user_id={user}",
        "leaderboard_pnl": "/leaderboard?sort=pnl",
        "holders": "/market/holders",
    }[kind]


# -- request plans ------------------------------------------------------


class Plan:
    """Endless stream of (kind, user, market) requests: the mix cycle
    repeats in a fixed order, so the first n requests have the same mix on
    every seed; the seed picks the users and markets."""

    def __init__(self, cycle, users, markets):
        self.cycle, self.users, self.markets = cycle, users, markets
        self.lock = threading.Lock()
        self._it = self._gen()

    def _gen(self):
        users = iter(self.users)
        for seq, kind in enumerate(itertools.cycle(self.cycle)):
            yield seq, kind, int(next(users)), self.markets()

    def next(self):
        with self.lock:
            return next(self._it)


def zipf_sampler(n: int, s: float, rng):
    from gen import zipf_weights

    w = zipf_weights(n, s, rng)
    while True:
        yield from rng.choice(n, size=256, p=w)


# -- HTTP ---------------------------------------------------------------


class Recorder:
    def __init__(self, port: int, keep_bodies: set[str], prefix: str = "r"):
        self.port = port
        self.keep = keep_bodies
        self.prefix = prefix  # of the request ids, which a traced run joins on
        self.records: list[dict] = []
        self.lock = threading.Lock()
        self.ids = itertools.count()

    def get(self, kind: str, path: str, due: float | None = None,
            meta: dict | None = None, phase: str = "") -> dict:
        rid = f"{self.prefix}{next(self.ids)}"
        sent = time.perf_counter()
        due = sent if due is None else due
        rec = {"rid": rid, "kind": kind, "path": path, "due": due,
               "sent": sent, "phase": phase, "meta": meta or {}}
        try:
            status, body = http_get(self.port, path, headers={
                "X-Request-Id": rid,
                "X-Due": repr(time.time() - (time.perf_counter() - due)),
            })
            rec["status"] = status
            if status == 200 and kind in self.keep:
                rec["body"] = json.loads(body)
            elif status == 200:
                json.loads(body)  # a reply that does not parse is a failure
        except (OSError, http.client.HTTPException, ValueError) as e:
            rec["status"] = -1
            rec["error"] = repr(e)
        rec["done"] = time.perf_counter()
        with self.lock:
            self.records.append(rec)
        return rec


def http_get(port: int, path: str, headers=None, timeout: float = 60):
    conn = http.client.HTTPConnection("127.0.0.1", port, timeout=timeout)
    try:
        conn.request("GET", path, headers=headers or {})
        resp = conn.getresponse()
        return resp.status, resp.read()
    finally:
        conn.close()


def control(port: int, path: str) -> dict:
    status, body = http_get(port, path)
    out = json.loads(body)
    if status != 200:
        raise RuntimeError(f"{path}: {status} {out}")
    return out


def closed_loop(rec: Recorder, plan: Plan, clients: int, seconds: float) -> float:
    """``clients`` callers, each sending its next request when the last one
    returns. Returns the phase's wall time."""
    t0 = time.perf_counter()
    deadline = t0 + seconds

    def client():
        while time.perf_counter() < deadline:
            seq, kind, user, market = plan.next()
            rec.get(kind, route(kind, user, market),
                    meta={"seq": seq, "user": user, "market": market}, phase="closed")

    threads = [threading.Thread(target=client) for _ in range(clients)]
    for t in threads:
        t.start()
    for t in threads:
        t.join()
    return time.perf_counter() - t0


def warm_up(port: int, plan: Plan, clients: int, n: int) -> None:
    """The first ``n`` requests of ``plan`` from ``clients`` callers, neither
    timed nor checked: the HTTP path, the JIT and the Python workers settle
    under the run's own concurrency before timing starts."""
    rec = Recorder(port, set(), prefix="w")

    def client():
        while True:
            seq, kind, user, market = plan.next()
            if seq >= n:
                return
            rec.get(kind, route(kind, user, market))

    threads = [threading.Thread(target=client) for _ in range(clients)]
    for t in threads:
        t.start()
    for t in threads:
        t.join()


def open_loop(rec: Recorder, plan: Plan, rate: float, seconds: float,
              rng, workers: int) -> list[float]:
    """Poisson arrivals at ``rate`` over ``seconds``, sent by at most
    ``workers`` connections. Latency counts from each due time, so a stall
    also delays the requests queued behind it. Returns the generator's
    lateness (send time - due time) per request."""
    t0 = time.perf_counter()
    gaps = rng.exponential(1.0 / rate, size=int(rate * seconds * 3) + 10)
    dues = [t0 + g for g in np.cumsum(gaps) if g < seconds]
    q: queue.Queue = queue.Queue()
    late: list[float] = []

    def worker():
        while True:
            item = q.get()
            if item is None:
                return
            due, (seq, kind, user, market) = item
            late.append(time.perf_counter() - due)
            rec.get(kind, route(kind, user, market), due=due,
                    meta={"seq": seq, "user": user, "market": market}, phase="open")

    threads = [threading.Thread(target=worker) for _ in range(workers)]
    for t in threads:
        t.start()
    for due in dues:
        delay = due - time.perf_counter()
        if delay > 0:
            time.sleep(delay)
        q.put((due, plan.next()))
    for _ in threads:
        q.put(None)
    for t in threads:
        t.join()
    return late


# -- the run ------------------------------------------------------------


def prune_work_dirs() -> None:
    """Reclaim the scratch dirs of dead runs (``sources.sinks``' pid-scoped
    staging discipline; it globs under /tmp, so the prefix walks back up
    into this checkout)."""
    from neomarket_clickhouse_indexer_spark.sources.sinks import prune_stale_staging

    os.makedirs(WORK_ROOT, exist_ok=True)
    prune_stale_staging(os.path.relpath(os.path.join(WORK_ROOT, "run_"), "/tmp"))


def start_server(work: str, cfg: dict, trace: int):
    env = dict(os.environ)
    here = os.path.dirname(os.path.abspath(__file__))
    env["PYTHONPATH"] = os.pathsep.join(
        [ROOT, here] + ([env["PYTHONPATH"]] if env.get("PYTHONPATH") else []))
    env["PYSPARK_PYTHON"] = sys.executable
    env["PYSPARK_DRIVER_PYTHON"] = sys.executable
    # keep every scratch file of Python, Spark and the JVMs in the run dir
    env["TMPDIR"] = os.path.join(work, "tmp")
    env["SPARK_LOCAL_DIRS"] = os.path.join(work, "spark-local")
    env["JAVA_TOOL_OPTIONS"] = f"-Djava.io.tmpdir={env['TMPDIR']} -XX:-UsePerfData"
    env["SPARK_DRIVER_MEM"] = "2g"
    os.makedirs(env["TMPDIR"], exist_ok=True)
    log = open(os.path.join(work, "server.log"), "w")
    t0 = time.perf_counter()
    proc = subprocess.Popen(
        [sys.executable, os.path.join(here, "server.py"), "--work", work,
         "--trace", str(trace), "--config", json.dumps(cfg)],
        stdout=subprocess.PIPE, stderr=log, env=env, cwd=work, text=True)
    log.close()
    ready: dict = {}

    def read_ready():
        for line in proc.stdout:
            if line.startswith("PERFBENCH_READY "):
                ready.update(json.loads(line[len("PERFBENCH_READY "):]))
                return

    t = threading.Thread(target=read_ready, daemon=True)
    t.start()
    t.join(SETUP_TIMEOUT_S)
    setup_s = time.perf_counter() - t0
    if not ready:
        wait_stopped(proc, ask_stop(proc, None))
        raise RuntimeError("server did not become ready; see server.log")
    return proc, ready, setup_s


def ask_stop(proc, port: int | None) -> list[int]:
    """Ask the server to stop; return its process tree (JVM and Python
    workers included) so the caller can wait for every one of them."""
    tree, todo = [], [proc.pid]
    while todo:
        pid = todo.pop()
        tree.append(pid)
        todo += child_pids(pid)
    if proc.poll() is None:
        try:
            if port is None:
                raise OSError("no port to ask on")
            http_get(port, "/_bench/shutdown", timeout=10)
        except (OSError, http.client.HTTPException):
            proc.terminate()
    return tree


def wait_stopped(proc, tree: list[int], timeout: float = 30) -> None:
    """Wait for the server and its descendants to end; kill what lingers."""
    try:
        proc.wait(timeout=timeout)
    except subprocess.TimeoutExpired:
        proc.kill()
        proc.wait(timeout=timeout)
    deadline = time.monotonic() + timeout
    for pid in tree[1:]:
        while os.path.exists(f"/proc/{pid}") and time.monotonic() < deadline:
            time.sleep(0.05)
        if os.path.exists(f"/proc/{pid}"):
            try:
                os.kill(pid, signal.SIGKILL)
            except ProcessLookupError:
                pass


def cpu_steal() -> tuple[int, int]:
    """(steal, total) CPU ticks of the host so far, from /proc/stat: the
    share the hypervisor gave to other guests."""
    with open("/proc/stat") as f:
        ticks = [int(x) for x in f.readline().split()[1:]]
    return ticks[7], sum(ticks)


def server_peak_rss_mb(pid: int) -> float:
    """Peak RSS of the server's Python process plus its JVM."""
    total = peak_rss_mb(pid)
    for c in child_pids(pid):
        try:
            with open(f"/proc/{c}/comm") as f:
                if f.read().strip() == "java":
                    total += peak_rss_mb(c)
        except OSError:
            pass
    return total


def append_batch(table, src_dir: str, name: str) -> None:
    """Write one microbatch file and move it into the watched directory in
    one rename, so the stream never sees a partial file."""
    from gen import write_table

    tmp = os.path.join(os.path.dirname(src_dir), f".{name}")
    write_table(table, tmp)
    os.replace(tmp, os.path.join(src_dir, name))


def write_phase(port: int, work: str, batches, markets) -> dict:
    """Append each microbatch and fold it. A fold's latency runs from the
    append until ``/market/candles`` has been served from the folded state."""
    src = os.path.join(work, "index", "live", "events.parquet")
    folds = []
    for i, b in enumerate(batches):
        t0 = time.perf_counter()
        append_batch(b, src, f"part-{i:05d}.parquet")
        control(port, f"/_bench/fold?market={next(markets)}")
        folds.append((time.perf_counter() - t0) * 1e3)
    bf = control(port, f"/_bench/backfill?wallets={BACKFILL_WALLETS}")
    return {"folds_ms": folds, "events": sum(b.num_rows for b in batches),
            "backfill": bf}


def generate(cfg: dict, seed: int, work: str):
    """Write the served dataset and the warm-up batch; return the served
    table and the write phase's microbatches."""
    from gen import make_events, write_table

    table = make_events(seed, cfg["n_events"], cfg["n_users"], cfg["zipf_s"])
    write_table(table, os.path.join(work, "sf", "events.parquet"))
    warm = make_events(seed + 1_000_003, BATCH, 50, cfg["zipf_s"])
    write_table(warm, os.path.join(work, "warm_batch.parquet"))
    # late events: a table of their own, so the indexed wallets' histories
    # are complete and the backfill's inventory invariant can hold
    late = make_events(seed + 2_000_003, FOLDS * BATCH, cfg["n_users"],
                       cfg["zipf_s"])
    return table, [late.slice(i * BATCH, BATCH) for i in range(FOLDS)]


def main(argv=None) -> int:
    ap = argparse.ArgumentParser(description=__doc__.split("\n")[0])
    ap.add_argument("--workload", required=True, choices=sorted(WORKLOADS))
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    args = ap.parse_args(argv)
    if not os.path.isdir(PKG_DIR):
        print(f"perfbench: the program is missing ({PKG_DIR})", file=sys.stderr)
        return 2
    sys.path.insert(0, ROOT)

    prune_work_dirs()
    work = os.path.join(WORK_ROOT, f"run_{os.getpid()}")
    shutil.rmtree(work, ignore_errors=True)
    os.makedirs(work)
    try:
        result = run(args, work)
    finally:
        shutil.rmtree(work, ignore_errors=True)
    print(json.dumps(result))
    return 0


def run(args, work: str) -> dict:
    name, cfg = args.workload, WORKLOADS[args.workload]
    # one stream per random choice, so each is fixed by the seed alone
    rng_users, rng_markets, rng_arrivals = (
        np.random.default_rng([args.seed, i]) for i in range(3))
    served, batches = generate(cfg, args.seed, work)
    srv_cfg = {
        "cores": CORES, "tiers": cfg["tiers"], "write": bool(args.trace),
        "spans_path": os.path.join(
            OUT_DIR, f"spans-{name}-seed{args.seed}.jsonl") if args.trace else None,
    }
    markets = (MARKETS[i] for i in zipf_sampler(len(MARKETS), KEY_ZIPF_S, rng_markets))
    if cfg["read"] == "dashboard":
        users = zipf_sampler(cfg["n_users"], KEY_ZIPF_S, rng_users)
        cycle = DASHBOARD_CYCLE
        warm_plan, open_plan, plan = (
            Plan(cycle, users, lambda: next(markets)) for _ in range(3))
        # one warm-up call per kind; tier reads wait for their tier
        kinds = dict.fromkeys(DASHBOARD_CYCLE)
        warm_user = cfg["n_users"] - 1
        srv_cfg["tier_routes"] = [route(k, warm_user, "view") for k in kinds
                                  if k in TIER_KINDS]
        srv_cfg["warm_routes"] = [route(k, warm_user, "view") for k in kinds
                                  if k not in TIER_KINDS]
        keep = {"user_stats", "leaderboard", "candles_1m", "candles_5m"}
        sampled = None
    else:
        # wallets in random order, each used once; the first ones warm up
        # the paths and are never requested again
        order = rng_users.permutation(cfg["n_users"])
        warm = order[:len(WALLET_CYCLE)]
        cycle, wallets = WALLET_CYCLE, iter(order[len(warm):])
        warm_plan, plan = (Plan(cycle, wallets, lambda: "") for _ in range(2))
        srv_cfg["warm_routes"] = [route(k, int(u)) for k, u in zip(WALLET_CYCLE, warm)]
        keep = {"ledger"}
        sampled = order[:20]

    steal0 = cpu_steal()
    proc, ready, setup_s = start_server(work, srv_cfg, args.trace)
    port = ready["port"]
    rec = Recorder(port, keep)
    late: list[float] = []
    tree = [proc.pid]
    try:
        try:
            t0 = time.perf_counter()
            warm_up(port, warm_plan, cfg["clients"], WARM_CYCLES * len(cycle))
            ready["setup"]["http_warm_up_s"] = time.perf_counter() - t0
            setup_s += ready["setup"]["http_warm_up_s"]
            if cfg["read"] == "dashboard":
                late = open_loop(rec, open_plan, OPEN_LOOP_RATE,
                                 OPEN_SHARE * args.seconds, rng_arrivals,
                                 workers=cfg["clients"])
                closed_s = closed_loop(rec, plan, cfg["clients"],
                                       (1 - OPEN_SHARE) * args.seconds)
            else:
                closed_s = closed_loop(rec, plan, cfg["clients"], args.seconds)
            wr = write_phase(port, work, batches, markets) if args.trace else None
            peak = server_peak_rss_mb(proc.pid)
            stats = control(port, "/_bench/stats")
        finally:
            tree = ask_stop(proc, port)
        # the answers are checked while the server shuts down
        wrong, state_bad = check_answers(cfg, work, served, rec.records,
                                         wr is not None)
    finally:
        wait_stopped(proc, tree)
    steal = cpu_steal()
    stolen = (steal[0] - steal0[0]) / max(1, steal[1] - steal0[1])

    reqs = rec.records
    bad_http = sum(r["status"] != 200 for r in reqs)
    attempted, failed = len(reqs), bad_http + wrong
    lines = [f"workload {name} seed {args.seed}: {len(reqs)} requests "
             f"({sum(r['phase'] == 'closed' for r in reqs)} closed-loop)"]
    if wr is not None:
        violations = wr["backfill"]["violations"]
        attempted += len(wr["folds_ms"]) + 1
        failed += int(state_bad > 0) + int(violations > 0)
        lines.append(f"write phase: {len(wr['folds_ms'])} folds of {wr['events']} "
                     f"events, backfill of {wr['backfill']['wallets']} wallets; "
                     f"{state_bad} folded-state rows off, {violations} inventory "
                     "violations")

    # latency over whole cycles of the mix in each phase only, so every run
    # weighs the request kinds alike however many requests it completed
    lat = []
    for phase in ("open", "closed"):
        mine = [r for r in reqs if r["phase"] == phase]
        whole = len(mine) // len(cycle) * len(cycle) or len(mine)
        lat += [(r["done"] - r["due"]) * 1e3 for r in mine
                if r["status"] == 200 and r["meta"]["seq"] < whole]
    e2e = {
        "setup_s": (setup_s, "s"),
        "req_p50_ms": (pct(lat, 50), "ms"),
        "req_p90_ms": (pct(lat, 90), "ms"),
        "req_per_s": (sum(r["phase"] == "closed" for r in reqs) / closed_s, "1/s"),
        "peak_rss_mb": (peak, "MiB"),
    }
    host = stats["host"]
    lines += [
        "setup breakdown: " + ", ".join(f"{k}={v:.3f}" for k, v in ready["setup"].items()),
        f"error_rate {failed / attempted:.4f} ({failed}/{attempted}: {bad_http} "
        f"non-200, {wrong} wrong answers)",
        f"host band: calib_s={host['calib_s']:.3f} "
        f"loadavg_1m={host['loadavg_1m']:.2f} cpu_steal={stolen:.3f}",
    ]
    if late:
        lines.append(f"open loop: {len(late)} arrivals at {OPEN_LOOP_RATE}/s, "
                     f"generator lateness p50 {pct(late, 50) * 1e3:.1f} ms "
                     f"p90 {pct(late, 90) * 1e3:.1f} ms")
    if args.trace:
        metrics = layer_metrics(stats, reqs, served, sampled, wr, lat)
    else:
        metrics = {k: {"value": v, "unit": u} for k, (v, u) in e2e.items()}
    for k, m in metrics.items():
        lines.append(f"{k} {m['value']:.4f} {m['unit']}")
    for line in lines:
        print(line)
    return {"correct": failed == 0, "attempted": attempted, "failed": failed,
            "metrics": metrics}


def check_answers(cfg: dict, work: str, served, reqs,
                  wrote: bool) -> tuple[int, int]:
    """(wrong API answers, folded-state rows that differ from the oracle)."""
    import oracle

    wrong = 0
    orc = oracle.Oracle(os.path.join(work, "sf", "events.parquet"))
    try:
        if cfg["read"] == "dashboard":
            for r in reqs:
                body, m = r.get("body"), r["meta"]
                if body is None:
                    continue
                if r["kind"] == "user_stats":
                    wrong += orc.check_user_stats(m["user"], body)
                elif r["kind"] == "leaderboard":
                    wrong += orc.check_top_volume(body)
                else:
                    wrong += orc.check_candles(m["market"], r["kind"][-2:],
                                               CANDLE_LIMIT, body)
        else:
            by_user = dict(tuple(served.to_pandas().groupby("user_id")))
            for r in reqs:
                if r.get("body") is not None:
                    u = r["meta"]["user"]
                    wrong += oracle.check_ledger(u, by_user[u], r["body"], LEDGER_LIMIT)
    finally:
        orc.close()
    if not wrote:
        return wrong, 0
    live = oracle.Oracle(os.path.join(work, "index", "live", "events.parquet",
                                      "*.parquet"))
    try:
        state = os.path.join(work, "index", "state")
        state_bad = (live.check_candle_state(os.path.join(state, "candles_1m"))
                     + live.check_hourly_state(os.path.join(state, "volume_1h")))
    finally:
        live.close()
    return wrong, state_bad


# per-layer metrics of the traced run, with their units
LAYER_UNITS = {
    **{f"serve.{e}.{m}": u for e in (
        "leaderboard", "candles", "user_stats", "activity", "portfolio_history",
        "recent_trades", "pnl", "explain_user", "holders", "market_stats",
        "discover", "ledger", "snapshots", "positions")
       for m, u in (("calls", "count"), ("p50_ms", "ms"))},
    "serve.plan_ms_p50": "ms", "serve.collect_ms_p50": "ms",
    "serve.http_overhead_ms_p50": "ms", "serve.queue_wait_ms_p90": "ms",
    "spark.jobs_per_req": "count", "spark.stages_per_req": "count",
    "spark.tasks_per_req": "count", "spark.failed_tasks": "count",
    "sources.load_table.calls": "count", "sources.load_table.busy_ms": "ms",
    "sources.table_memo.hit_ratio": "ratio", "sources.sinks.busy_ms": "ms",
    "sources.sinks.files_written": "count", "sources.sinks.bytes_written": "B",
    "ledger.engine.replay_us_per_event": "us", "ledger.backfill_compute_s": "s",
    "ledger.snapshot_tier_build_s": "s", "operators.candle_tier_build_s": "s",
    "operators.fifo_allocate_s": "s", "streaming.fold_fn_ms_p50": "ms",
    "streaming.trigger_overhead_ms_p50": "ms",
    "streaming.partitions_rewritten_per_batch": "count",
    "streaming.state_bytes_written_per_event": "B",
    **{f"{layer}.self_ms": "ms" for layer in (
        "serve", "queries", "operators", "ledger", "streaming", "sources")},
    "trace.spans": "count", "trace.wrapper_overhead_ms": "ms",
    "trace.req_p50_ms": "ms", "host.calib_s": "s", "host.loadavg_1m": "count",
    "write.events_per_s": "1/s", "write.fold_p50_ms": "ms", "write.backfill_s": "s",
    "write.stored_bytes_per_event": "B",
}


def layer_metrics(stats, reqs, served, sampled, wr, lat) -> dict:
    """The traced run's per-layer figures. Server-side spans are joined
    with this process's request timings by request id."""
    import oracle

    m = dict(stats["layer"])
    per_req = stats["requests"]
    plan, collect, http_over, queue_wait = [], [], [], []
    jobs, stages, tasks, failed_tasks = [], [], [], 0
    for r in reqs:
        s = per_req.get(r["rid"])
        if s is None:
            continue
        plan.append(s["method_ms"] - s["collect_ms"])
        collect.append(s["collect_ms"])
        http_over.append((r["done"] - r["sent"]) * 1e3 - s["method_ms"])
        if s["due"] is not None:
            queue_wait.append((s["start_wall"] - s["due"]) * 1e3)
        jobs.append(s["jobs"])
        stages.append(s["stages"])
        tasks.append(s["tasks"])
        failed_tasks += s["failed"]
    n = max(1, len(jobs))
    m.update({
        "serve.plan_ms_p50": pct(plan, 50),
        "serve.collect_ms_p50": pct(collect, 50),
        "serve.http_overhead_ms_p50": pct(http_over, 50),
        "serve.queue_wait_ms_p90": pct(queue_wait, 90),
        "spark.jobs_per_req": sum(jobs) / n,
        "spark.stages_per_req": sum(stages) / n,
        "spark.tasks_per_req": sum(tasks) / n,
        "spark.failed_tasks": failed_tasks,
        "streaming.state_bytes_written_per_event":
            m.pop("streaming.state_bytes_written") / wr["events"],
        "trace.req_p50_ms": pct(lat, 50),
        "write.events_per_s": wr["events"] / (sum(wr["folds_ms"]) / 1e3),
        "write.fold_p50_ms": pct(wr["folds_ms"], 50),
        "write.backfill_s": wr["backfill"]["backfill_ms"] / 1e3,
        "write.stored_bytes_per_event": wr["backfill"]["stored_bytes"] / wr["events"],
        "host.calib_s": stats["host"]["calib_s"],
        "host.loadavg_1m": stats["host"]["loadavg_1m"],
    })
    # the engine alone, in this process: replay the wallets the run sampled
    # (or the most active ones) straight from the generated events
    ev = served.to_pandas()
    if sampled is None:
        sampled = ev["user_id"].value_counts().index[:20]
    sample = ev[ev["user_id"].isin(sampled)]
    t0 = time.perf_counter()
    for u, g in sample.groupby("user_id"):
        oracle.replay(int(u), g)
    m["ledger.engine.replay_us_per_event"] = (
        (time.perf_counter() - t0) * 1e6 / max(1, len(sample)))
    return {k: {"value": float(m.get(k, 0.0)), "unit": u}
            for k, u in LAYER_UNITS.items()}


if __name__ == "__main__":
    sys.exit(main())
