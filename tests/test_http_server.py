"""HTTP transport over the serving library (reference router
src/api.ts:1994-2041): every reference endpoint answers over a real
socket with the right envelope — one request per route, plus the
/health contract (src/api.ts:663-665), CORS preflight, 404, and 400."""

from __future__ import annotations

import json
import threading
import urllib.request

import pytest

from neomarket_clickhouse_indexer_spark.serve import ServeContext
from neomarket_clickhouse_indexer_spark.serve.http_server import serve
from neomarket_clickhouse_indexer_spark.sources.tables import load_table

from .conftest import SF_SMOKE


@pytest.fixture(scope="module")
def base(spark):
    srv = serve(ServeContext(spark, SF_SMOKE))
    t = threading.Thread(target=srv.serve_forever, daemon=True)
    t.start()
    yield f"http://127.0.0.1:{srv.server_address[1]}"
    srv.shutdown()


def _get(base, path):
    with urllib.request.urlopen(base + path, timeout=300) as r:
        return r.status, json.loads(r.read())


def test_health(base):
    status, out = _get(base, "/health")
    assert (status, out) == (200, {"ok": True})


def test_every_reference_endpoint_answers(base):
    cases = {
        "/positions?user_id=1": "positions",
        "/activity?user_id=1&limit=5": "events",
        "/portfolio/history?user_id=1": "snapshots",
        "/user/stats?user_id=1": None,  # flat stats dict
        "/trades?user_id=1": "trades",
        "/market/stats?key=purchase": None,
        "/market/candles?key=purchase&interval=5m&limit=10": "candles",
        "/market/holders?limit=3": "holders",
        "/discover/markets?limit=5": "markets",
        "/leaderboard/explain?user_id=1&limit=10": "entries",
        "/leaderboard?sort=volume&limit=5": "entries",
        "/pnl/1?mode=total": None,
        "/snapshots/1?limit=10": "snapshots",
        "/ledger/1?limit=10": "ledger",
    }
    for path, key in cases.items():
        status, out = _get(base, path)
        assert status == 200, path
        assert isinstance(out, dict), path
        if key is not None:
            assert key in out, (path, sorted(out))


def test_unknown_route_is_404_envelope(base):
    with pytest.raises(urllib.error.HTTPError) as ei:
        _get(base, "/nope")
    assert ei.value.code == 404
    assert json.loads(ei.value.read()) == {"error": "Not found"}


def test_bad_param_is_400_envelope(base):
    with pytest.raises(urllib.error.HTTPError) as ei:
        _get(base, "/positions?user_id=xyz")
    assert ei.value.code == 400
    assert "error" in json.loads(ei.value.read())


def test_options_preflight(base):
    req = urllib.request.Request(base + "/leaderboard", method="OPTIONS")
    with urllib.request.urlopen(req, timeout=60) as r:
        assert r.status == 204
        assert r.headers["Access-Control-Allow-Origin"] == "*"


def test_negative_offset_is_400_envelope(base):
    with pytest.raises(urllib.error.HTTPError) as ei:
        _get(base, "/activity?user_id=12&offset=-5")
    assert ei.value.code == 400
    assert "offset" in json.loads(ei.value.read())["error"]


def test_activity_limit_is_clamped(base, spark):
    n = load_table(spark, SF_SMOKE, "events").filter("user_id = 12").count()
    _, out = _get(base, "/activity?user_id=12&limit=-1")
    assert len(out["events"]) == 1
    _, out = _get(base, f"/activity?user_id=12&limit={10**9}")
    assert len(out["events"]) == min(200, n)
    # /leaderboard/explain clamps to [1, 10000] like /ledger
    _, full = _get(base, f"/leaderboard/explain?user_id=12&limit={10**9}")
    assert len(full["entries"]) > 1
    for limit in (-1, 0):
        status, out = _get(base, f"/leaderboard/explain?user_id=12&limit={limit}")
        assert status == 200 and out["entries"] == full["entries"][:1]


@pytest.mark.parametrize("interval_s", [-86400, 0])
def test_non_positive_snapshot_interval_is_400(base, interval_s):
    # a negative interval used to loop forever in the snapshot emitter and
    # 0 divided by zero; the short client timeout catches a hang
    with pytest.raises(urllib.error.HTTPError) as ei:
        with urllib.request.urlopen(
                f"{base}/snapshots/12?interval_s={interval_s}", timeout=60):
            pass
    assert ei.value.code == 400
    assert "interval_s" in json.loads(ei.value.read())["error"]
