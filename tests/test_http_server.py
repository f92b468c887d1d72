"""HTTP façade e2e: a live server over a live engine, driven with real
POSTs (mirrors server/http_server.go:107-155 behavior)."""

from __future__ import annotations

import json
import urllib.request

import pytest

from nexusbase_spark.engine import NexusEngine
from nexusbase_spark.server import serve


@pytest.fixture(scope="module")
def http_engine(spark, tmp_path_factory):
    eng = NexusEngine(spark, str(tmp_path_factory.mktemp("http_wh")))
    srv = serve(eng, port=0)
    port = srv.server_address[1]
    yield f"http://127.0.0.1:{port}"
    srv.shutdown()


def _post(base, payload):
    req = urllib.request.Request(
        f"{base}/query", json.dumps(payload).encode(),
        {"Content-Type": "application/json"})
    try:
        with urllib.request.urlopen(req) as resp:
            return resp.status, json.loads(resp.read())
    except urllib.error.HTTPError as e:
        return e.code, json.loads(e.read())


@pytest.mark.nightly
def test_push_then_query_roundtrip(http_engine):
    code, _ = _post(http_engine, {
        "query": 'PUSH web.hits TAGGED (site="a") SET (n=1, ok=TRUE) AT 1000'})
    assert code == 200
    code, _ = _post(http_engine, {
        "query": "PUSH web.hits TAGGED (site=?) SET (n=2) AT 2000", "params": ["a"]})
    assert code == 200
    code, body = _post(http_engine, {"query": "QUERY web.hits FROM 0 TO 5000"})
    assert code == 200
    assert [r["fields"]["n"] for r in body["results"]] == ["1", "2"]
    assert body["results"][0]["fields"]["ok"] == "true"
    assert "next_cursor" in body

    code, body = _post(http_engine, {
        "query": "QUERY web.hits FROM 0 TO 5000 AGGREGATE (count(*), sum(n), avg(missing))"})
    assert code == 200
    agg = body["results"][0]
    assert agg["count_*"] == 2 and agg["sum_n"] == 3.0
    assert agg["avg_missing"] == "nan"  # NaN serialized as string (no JSON literal)


def test_error_paths(http_engine):
    code, body = _post(http_engine, {"query": "QUERY FROM nonsense"})
    assert code == 400 and "error" in body
    code, body = _post(http_engine, {})
    assert code == 400
    # payload-shape errors are 400s, not AttributeError/TypeError 500s
    for bad in ([1, 2], "just a string", 7):
        code, body = _post(http_engine, bad)
        assert code == 400 and "error" in body, bad
    code, body = _post(http_engine, {"query": 5})
    assert code == 400
    code, body = _post(http_engine, {"query": "SHOW METRICS", "params": 5})
    assert code == 400 and "params" in body["error"]
    req = urllib.request.Request(f"{http_engine}/nope", b"{}")
    try:
        urllib.request.urlopen(req)
        raise AssertionError("expected 404")
    except urllib.error.HTTPError as e:
        assert e.code == 404


def test_metrics_endpoint(http_engine):
    """GET /metrics returns the operational counters (the reference's
    expvar/monitor surface as one JSON doc)."""
    with urllib.request.urlopen(f"{http_engine}/metrics") as resp:
        assert resp.status == 200
        m = json.loads(resp.read())
    assert m["seq"] >= 0 and m["write_generation"] >= 0
    assert "result_cache" in m and set(m["result_cache"]) == {
        "capacity", "entries", "hits", "misses"}
    assert m["l0_trigger"] == 4
    assert isinstance(m["tombstone_files"], dict)
    # unknown GET path is a 404
    try:
        urllib.request.urlopen(f"{http_engine}/metricz")
        raise AssertionError("expected 404")
    except urllib.error.HTTPError as e:
        assert e.code == 404


def test_http_auth_roles(spark, tmp_path_factory):
    """Basic-auth façade: 401 without/with bad creds, 403 when a reader
    tries a write, 200 for allowed operations; user file round-trip."""
    import base64

    from nexusbase_spark.auth import read_user_file, write_user_file
    from nexusbase_spark.server import serve as serve_http

    eng = NexusEngine(spark, str(tmp_path_factory.mktemp("httpauth_wh")))
    ufile = str(tmp_path_factory.mktemp("users") / "users.json")
    write_user_file(ufile, {"admin": ("s3cret", "writer"),
                            "viewer": ("look", "reader")})
    srv = serve_http(eng, port=0, authenticator=read_user_file(ufile))
    base = f"http://127.0.0.1:{srv.server_address[1]}"

    def post_as(user_pass, payload):
        req = urllib.request.Request(
            f"{base}/query", json.dumps(payload).encode(),
            {"Content-Type": "application/json"})
        if user_pass:
            tok = base64.b64encode(user_pass.encode()).decode()
            req.add_header("Authorization", f"Basic {tok}")
        try:
            with urllib.request.urlopen(req) as resp:
                return resp.status, json.loads(resp.read())
        except urllib.error.HTTPError as e:
            return e.code, json.loads(e.read())

    try:
        push = {"query": 'PUSH ha.m SET (v=1) AT 100'}
        assert post_as(None, push)[0] == 401
        assert post_as("admin:wrong", push)[0] == 401
        assert post_as("viewer:look", push)[0] == 403
        assert post_as("admin:s3cret", push)[0] == 200
        code, body = post_as("viewer:look", {"query": "QUERY ha.m FROM 0 TO 1000"})
        assert code == 200 and len(body["results"]) == 1
        # read-only statements beyond QUERY/SHOW are reader operations
        code, body = post_as("viewer:look",
                             {"query": "EXPLAIN QUERY ha.m FROM 0 TO 1000"})
        assert code == 200 and body["results"]
        assert post_as("viewer:look",
                       {"query": 'REMOVE SERIES "ha.m"'})[0] == 403
        # params are substituted before the role check parses the string
        code, _ = post_as("viewer:look",
                          {"query": "QUERY ha.m FROM ? TO ?", "params": [0, 1000]})
        assert code == 200
        # /metrics requires reader auth too
        import base64 as b64
        req = urllib.request.Request(f"{base}/metrics")
        try:
            urllib.request.urlopen(req)
            raise AssertionError("expected 401")
        except urllib.error.HTTPError as e:
            assert e.code == 401
        req.add_header("Authorization",
                       "Basic " + b64.b64encode(b"viewer:look").decode())
        with urllib.request.urlopen(req) as resp:
            assert resp.status == 200
    finally:
        srv.shutdown()


def test_query_ui_page_served(http_engine):
    """GET / (and /ui) serves the minimal query page (the reference's
    ui/query.html surface at http_server.go:37): HTML with the textarea
    and a POST flow targeting this server's /query endpoint."""
    for path in ("/", "/ui"):
        with urllib.request.urlopen(f"{http_engine}{path}") as resp:
            assert resp.status == 200
            assert resp.headers["Content-Type"].startswith("text/html")
            body = resp.read().decode()
        assert "<textarea" in body and "fetch('/query'" in body
        assert "NBQL" in body
    # /monitor serves the metrics page (ui/monitor.html analog)
    with urllib.request.urlopen(f"{http_engine}/monitor") as resp:
        assert resp.status == 200
        body = resp.read().decode()
    assert "fetch('/metrics')" in body and "Engine monitor" in body
    # unknown paths still 404 as JSON
    try:
        urllib.request.urlopen(f"{http_engine}/nope")
        raise AssertionError("expected 404")
    except urllib.error.HTTPError as e:
        assert e.code == 404
