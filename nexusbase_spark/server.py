"""HTTP query façade: POST /query {"query": "...", "params": [...]} -> JSON.

Reference: ``server/http_server.go:107-155`` — parse the NBQL string,
execute, drain the iterator, return ``{"results": [...], "next_cursor"}``.
This is a thin service layer over the Spark session (SURVEY.md §2.1: "thin
TCP/HTTP façade over the Spark session — not Spark itself"); the gRPC and
framed-TCP entry points of the reference would wrap the same NexusEngine
calls and are deliberately out of scope for the engine library.

Result encoding mirrors the reference's JSON rows: raw queries yield
``{metric, tags, timestamp, fields}`` per point; aggregation queries yield
the aggregate columns plus window bounds when downsampling
(engine2/adapter.go:1579-1601).
"""

from __future__ import annotations

import base64
import binascii
import json
import math
import threading
from http.server import BaseHTTPRequestHandler, ThreadingHTTPServer

from nexusbase_spark.auth import (
    ROLE_READER, ROLE_WRITER, AuthError, NonAuthenticator,
)
from nexusbase_spark.engine import NexusEngine
from nexusbase_spark.nbql import ast as A
from nexusbase_spark.nbql.parser import NBQLError
from nexusbase_spark.operators.order import encode_cursor

_READ_ONLY = (A.QueryStatement, A.ShowStatement, A.ExplainStatement,
              A.QueryRollupStatement, A.VerifyRollupStatement)


def required_role(stmt) -> str:
    """Reader for the statements that only read (QUERY, SHOW, EXPLAIN,
    QUERY ROLLUP, VERIFY ROLLUP), writer for everything that mutates —
    the per-operation authorization matrix of
    server/grpc_server.go:316-318. The one definition of "read-only":
    both façades authorize with it, and ``execute_to_json`` picks the
    read guard with it."""
    return ROLE_READER if isinstance(stmt, _READ_ONLY) else ROLE_WRITER


def _json_cell(v):
    if isinstance(v, float) and (math.isnan(v) or math.isinf(v)):
        return str(v)  # JSON has no NaN/Inf literals; reference emits strings
    return v


def execute_to_json(engine: NexusEngine, query, params=()) -> dict:
    """Run one NBQL statement, return the HTTP response body dict.
    ``query`` is NBQL text or an already-parsed statement (the façades
    parse once, for the role check, and pass the statement on).

    Read-only statements run under ``engine.read_guard()`` spanning BOTH
    plan construction and the collect, so a concurrent
    FLUSH/COMPACT/RESTORE can't delete planned files mid-query (the
    reference pins an iterator's SSTables the same way). The file
    listing a plan starts from is the engine's base scan, listed once
    per write generation; a statement that builds it lists the files
    under this guard.
    Mutations must NOT take the read guard: a PUSH that trips the L0
    trigger flushes inside, and the flush's exclusive side would deadlock
    against its own thread's read side.

    Known liveness cliff (accepted, ADVICE r6): the guard is held across
    the FULL collect with writer preference, so one slow QUERY plus a
    pending FLUSH/COMPACT stalls all new reads until that drain finishes.
    Never incorrect — just head-of-line blocking under mixed load; the
    reference has the same property while compaction waits on an
    iterator's SSTable refcounts. Bound it operationally with LIMIT +
    cursor pagination (each page is a short guard hold)."""
    from nexusbase_spark.nbql.parser import parse, substitute_params
    stmt = query
    if isinstance(query, str):
        stmt = parse(substitute_params(query, params) if params else query)
    if required_role(stmt) == ROLE_WRITER:
        out = engine._dispatch(stmt)
        if out is None:
            return {"results": [], "status": "OK"}
        if isinstance(out, str):  # SNAPSHOT returns a path
            return {"results": [{"snapshot_path": out}], "status": "OK"}
        rows = out.collect()  # mutation that returned rows (none today)
    else:
        with engine.read_guard():  # pin files: construction AND drain
            out = engine._dispatch(stmt)
            rows = out.collect()
    results = [{k: _json_cell(v) for k, v in r.asDict(recursive=True).items()}
               for r in rows]
    body: dict = {"results": results, "status": "OK"}
    # keyset cursor for raw point pages (api/nbql/executor.go:347-351)
    if rows and {"ts", "series_key", "seq"} <= set(rows[0].asDict()):
        last = rows[-1]
        body["next_cursor"] = encode_cursor(last["ts"], last["series_key"], last["seq"])
    return body


_QUERY_PAGE = """<!doctype html>
<html>
<head>
<meta charset="utf-8">
<title>NBQL Query</title>
<style>
  body { font-family: system-ui, sans-serif; margin: 2rem auto; max-width: 60rem; }
  textarea { width: 100%; height: 6rem; font-family: monospace; }
  button { margin: .5rem 0; padding: .4rem 1.2rem; }
  table { border-collapse: collapse; margin-top: 1rem; width: 100%; }
  th, td { border: 1px solid #999; padding: .25rem .5rem; font-family: monospace;
           font-size: .85rem; overflow-wrap: anywhere; }
  #err { color: #b00; white-space: pre-wrap; }
</style>
</head>
<body>
<h1>NBQL Query</h1>
<textarea id="q" placeholder="QUERY cpu.usage FROM 0 TO 2000000000000000000 LIMIT 10"></textarea>
<br><button id="run">Run Query</button>
<div id="err"></div>
<div id="out"></div>
<script>
const run = document.getElementById('run');
run.addEventListener('click', async () => {
  const errEl = document.getElementById('err'), out = document.getElementById('out');
  errEl.textContent = ''; out.innerHTML = ''; run.disabled = true;
  try {
    const r = await fetch('/query', {
      method: 'POST',
      headers: {'Content-Type': 'application/json'},
      body: JSON.stringify({query: document.getElementById('q').value}),
    });
    const body = await r.json();
    if (!r.ok) { errEl.textContent = body.error || r.statusText; return; }
    const rows = body.results || [];
    if (!rows.length) { out.textContent = '(no rows)'; return; }
    const cols = Object.keys(rows[0]);
    const tbl = document.createElement('table');
    const head = tbl.createTHead().insertRow();
    for (const c of cols) {
      const th = document.createElement('th'); th.textContent = c; head.appendChild(th);
    }
    const tb = tbl.createTBody();
    for (const row of rows) {
      const tr = tb.insertRow();
      for (const c of cols) {
        tr.insertCell().textContent =
          typeof row[c] === 'object' ? JSON.stringify(row[c]) : String(row[c]);
      }
    }
    out.appendChild(tbl);
  } catch (e) { errEl.textContent = String(e); }
  finally { run.disabled = false; }
});
</script>
</body>
</html>
"""


_MONITOR_PAGE = """<!doctype html>
<html>
<head>
<meta charset="utf-8">
<title>NexusBase Monitor</title>
<style>
  body { font-family: system-ui, sans-serif; margin: 2rem auto; max-width: 44rem; }
  table { border-collapse: collapse; width: 100%; }
  th, td { border: 1px solid #999; padding: .25rem .6rem; font-family: monospace;
           font-size: .85rem; text-align: left; }
  #err { color: #b00; }
</style>
</head>
<body>
<h1>Engine monitor</h1>
<p>Operational counters from <code>/metrics</code>, refreshed every 2s.</p>
<div id="err"></div>
<table id="t"></table>
<script>
async function tick() {
  const errEl = document.getElementById('err'), t = document.getElementById('t');
  try {
    const r = await fetch('/metrics');
    const m = await r.json();
    if (!r.ok) { errEl.textContent = m.error || r.statusText; return; }
    errEl.textContent = '';
    t.innerHTML = '';
    for (const k of Object.keys(m).sort()) {
      const tr = t.insertRow();
      tr.insertCell().textContent = k;
      tr.insertCell().textContent =
        typeof m[k] === 'object' ? JSON.stringify(m[k]) : String(m[k]);
    }
  } catch (e) { errEl.textContent = String(e); }
}
tick(); setInterval(tick, 2000);
</script>
</body>
</html>
"""


class _Handler(BaseHTTPRequestHandler):
    engine: NexusEngine   # set by serve()
    authenticator = None  # set by serve()

    def _authenticated_role(self) -> str:
        """HTTP Basic credentials -> role; AuthError on missing/bad
        creds (401) — the gRPC path's Basic-auth extraction
        (auth/authenticator.go:105-141) over HTTP headers."""
        if isinstance(self.authenticator, NonAuthenticator):
            return ROLE_WRITER
        header = self.headers.get("Authorization", "")
        if not header.startswith("Basic "):
            raise AuthError("missing credentials")
        try:
            user, _, pw = base64.b64decode(header[6:]).decode().partition(":")
        except (binascii.Error, UnicodeDecodeError):
            raise AuthError("invalid authorization header format") from None
        return self.authenticator.authenticate_userpass(user, pw)

    def do_GET(self):  # noqa: N802 (http.server API)
        """GET /metrics — operational counters (seq, write generation, L0
        backlog, warehouse bytes/files, result-cache hit/miss, write
        amplification). The expvar/monitor surface of the reference
        (server/http_server.go:95-105, ui/memstats.html, ui/monitor.html)
        as one JSON document. Requires reader role when auth is on.

        GET / (or /ui) — a minimal NBQL query page mirroring the
        reference's ui/query.html flow (served at /query by
        server/http_server.go:37): textarea + run button POSTing to this
        server's /query endpoint, results rendered as a table.
        GET /monitor — the ui/monitor.html / memstats.html analog: the
        /metrics counters auto-refreshed into a table. Original markup;
        auth (when on) is enforced by the JSON endpoints, not the
        pages."""
        pages = {"/": _QUERY_PAGE, "/ui": _QUERY_PAGE,
                 "/monitor": _MONITOR_PAGE}
        if self.path in pages:
            data = pages[self.path].encode()
            self.send_response(200)
            self.send_header("Content-Type", "text/html; charset=utf-8")
            self.send_header("Content-Length", str(len(data)))
            self.end_headers()
            self.wfile.write(data)
            return
        if self.path != "/metrics":
            self._reply(404, {"error": "not found"})
            return
        try:
            role = self._authenticated_role()
            self.authenticator.authorize(role, ROLE_READER)
            self._reply(200, self.engine.metrics())
        except AuthError as exc:
            self._reply(403 if exc.denied else 401, {"error": str(exc)})
        except Exception as exc:  # noqa: BLE001
            self._reply(500, {"error": f"{type(exc).__name__}: {exc}"})

    def do_POST(self):  # noqa: N802 (http.server API)
        if self.path != "/query":
            self._reply(404, {"error": "not found"})
            return
        try:
            length = int(self.headers.get("Content-Length", 0))
            payload = json.loads(self.rfile.read(length) or b"{}")
            # shape errors are the client's fault: 400, not the generic
            # 500 an AttributeError/TypeError below would produce
            if not isinstance(payload, dict):
                self._reply(400, {"error": "payload must be a JSON object"})
                return
            query = payload.get("query")
            if not query or not isinstance(query, str):
                self._reply(400, {"error": "missing 'query'"})
                return
            if not isinstance(payload.get("params", []), (list, tuple)):
                self._reply(400, {"error": "'params' must be a list"})
                return
            role = self._authenticated_role()
            from nexusbase_spark.nbql.parser import parse, substitute_params
            params = tuple(payload.get("params", ()))
            stmt = parse(substitute_params(query, params) if params else query)
            self.authenticator.authorize(role, required_role(stmt))
            body = execute_to_json(self.engine, stmt)
            self._reply(200, body)
        except AuthError as exc:
            self._reply(403 if exc.denied else 401, {"error": str(exc)})
        except (NBQLError, ValueError) as exc:
            self._reply(400, {"error": str(exc)})
        except Exception as exc:  # noqa: BLE001 — surface engine errors as 500s
            self._reply(500, {"error": f"{type(exc).__name__}: {exc}"})

    def log_message(self, *args):  # silence per-request stderr noise
        pass

    def _reply(self, code: int, body: dict) -> None:
        data = json.dumps(body).encode()
        self.send_response(code)
        self.send_header("Content-Type", "application/json")
        self.send_header("Content-Length", str(len(data)))
        self.end_headers()
        self.wfile.write(data)


def serve(engine: NexusEngine, host: str = "127.0.0.1",
          port: int = 8088, authenticator=None) -> ThreadingHTTPServer:
    """Start the façade in a daemon thread; returns the server (call
    ``.shutdown()`` to stop). Default port matches the reference's
    http-query port (cmd/server/config.yaml:84). Pass an
    ``auth.Authenticator`` to require Basic auth + role checks."""
    handler = type("BoundHandler", (_Handler,),
                   {"engine": engine,
                    "authenticator": authenticator or NonAuthenticator()})
    srv = ThreadingHTTPServer((host, port), handler)
    threading.Thread(target=srv.serve_forever, daemon=True).start()
    return srv
