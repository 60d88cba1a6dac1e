"""Stdlib HTTP adapter over ``serve/api.py`` — the reference's router
surface (src/api.ts:1994-2041) as a ~100-line ``http.server`` shim.

The engine's serving layer stays a LIBRARY (ServeContext methods returning
JSON-ready dicts — DIVERGENCES #8); this module closes the transport gap:
the same simple routes, the same ``/:resource/:wallet`` path-param routes,
the ``/health`` envelope (src/api.ts:663-665: ``{ok: true}``), OPTIONS
CORS preflight (204), and the 404/500 error envelopes
(``{"error": ...}``). Wallets are integer user ids in this engine's data
model, so the path param parses as int where the reference validates a
0x-address.

Deployment note: one process = one SparkSession = one driver; a real
deployment puts this behind a thread pool sized to Spark's scheduler
(ThreadingHTTPServer here — Spark's scheduler is thread-safe and
FAIR-schedules concurrent jobs), with the heavy state (candle tier,
snapshot tier) prebuilt on the context exactly as the library callers do.
The dashboard routes' answer tables live on the context, built on first
request and again when the events source changes, so warm each one once
before taking traffic (the first request per table pays its Spark build)
and keep one context per process; the driver holds those tables in
memory.
"""

from __future__ import annotations

import json
from datetime import date, datetime
from decimal import Decimal
from http.server import BaseHTTPRequestHandler, ThreadingHTTPServer
from urllib.parse import parse_qs, urlparse

from .api import ServeContext


def _default(o):
    if isinstance(o, (datetime, date)):
        return o.isoformat()
    if isinstance(o, Decimal):
        return str(o)
    if isinstance(o, (bytes, bytearray)):
        return o.hex()
    raise TypeError(f"not JSON serializable: {type(o)}")


def _q(qs: dict, key: str, cast, default):
    if key not in qs:
        return default
    return cast(qs[key][0])


def make_handler(ctx: ServeContext):
    class Handler(BaseHTTPRequestHandler):
        def log_message(self, *a):  # tests stay quiet
            pass

        def _json(self, code: int, payload) -> None:
            body = json.dumps(payload, default=_default).encode()
            self.send_response(code)
            self.send_header("Content-Type", "application/json")
            self.send_header("Access-Control-Allow-Origin", "*")
            self.send_header("Content-Length", str(len(body)))
            self.end_headers()
            self.wfile.write(body)

        def do_OPTIONS(self):  # CORS preflight (src/api.ts:1996-2003)
            self.send_response(204)
            self.send_header("Access-Control-Allow-Origin", "*")
            self.send_header("Access-Control-Allow-Methods", "GET, OPTIONS")
            self.send_header("Access-Control-Allow-Headers", "Content-Type")
            self.end_headers()

        def do_GET(self):
            url = urlparse(self.path)
            qs = parse_qs(url.query)
            path = url.path
            try:
                out = self._route(path, qs)
            except (KeyError, ValueError, IndexError) as e:
                self._json(400, {"error": f"bad request: {e}"})
                return
            except Exception as e:  # 500 envelope (src/api.ts:2037-2040)
                self._json(500, {"error": str(e) or "Internal error"})
                return
            if out is None:
                self._json(404, {"error": "Not found"})
            else:
                self._json(200, out)

        def _route(self, path: str, qs: dict):
            # simple routes (src/api.ts:2014-2025)
            if path == "/health":
                return {"ok": True}
            if path == "/positions":
                return ctx.positions(_q(qs, "user_id", int, 0))
            if path == "/activity":
                return ctx.activity(
                    _q(qs, "user_id", int, 0),
                    limit=_q(qs, "limit", int, 200),
                    offset=_q(qs, "offset", int, 0),
                )
            if path == "/portfolio/history":
                return ctx.portfolio_history(
                    _q(qs, "user_id", int, 0),
                    interval=_q(qs, "interval", str, "1d"),
                )
            if path == "/user/stats":
                return ctx.user_stats(_q(qs, "user_id", int, 0))
            if path == "/trades":
                return ctx.recent_trades(
                    _q(qs, "user_id", int, 0),
                    min_rows=_q(qs, "min_rows", int, 10),
                )
            if path == "/market/stats":
                return ctx.market_stats(_q(qs, "key", str, ""))
            if path == "/market/candles":
                return ctx.candles(
                    _q(qs, "key", str, ""),
                    interval=_q(qs, "interval", str, "1m"),
                    limit=_q(qs, "limit", int, 5000),
                )
            if path == "/market/holders":
                return ctx.holders(limit=_q(qs, "limit", int, 5))
            if path == "/discover/markets":
                return ctx.discover(limit=_q(qs, "limit", int, 20))
            if path == "/leaderboard/explain":
                return ctx.explain_user(
                    _q(qs, "user_id", int, 0),
                    limit=_q(qs, "limit", int, 10000),
                )
            if path == "/leaderboard":
                return ctx.leaderboard(
                    sort=_q(qs, "sort", str, "volume"),
                    limit=_q(qs, "limit", int, 100),
                    category=_q(qs, "category", str, None),
                )
            # path-param routes: /:resource/:wallet (src/api.ts:2027-2034)
            parts = [p for p in path.split("/") if p]
            if len(parts) >= 2:
                resource, wallet = parts[0], int(parts[1])
                if resource == "pnl":
                    return ctx.pnl(
                        wallet,
                        mode=_q(qs, "mode", str, "total"),
                        start=_q(qs, "start", str, None),
                        end=_q(qs, "end", str, None),
                    )
                if resource == "snapshots":
                    return ctx.snapshots(
                        wallet,
                        interval_s=_q(qs, "interval_s", int, 86400),
                        limit=_q(qs, "limit", int, 10000),
                    )
                if resource == "ledger":
                    return ctx.ledger(wallet, limit=_q(qs, "limit", int, 10000))
            return None

    return Handler


def serve(ctx: ServeContext, port: int = 0) -> ThreadingHTTPServer:
    """Bind (port 0 = ephemeral) and return the server; callers drive
    ``serve_forever`` themselves (tests: a daemon thread)."""
    return ThreadingHTTPServer(("127.0.0.1", port), make_handler(ctx))
