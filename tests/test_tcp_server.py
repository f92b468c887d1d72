"""Framed-TCP NBQL protocol e2e: live server, real sockets, CRC checks.
Mirrors the reference's primary query path (server/tcp2_server.go)."""

from __future__ import annotations

import json
import socket
import struct

import pytest

from nexusbase_spark.engine import NexusEngine
from nexusbase_spark.tcp_server import (
    CMD_MANIPULATE, CMD_QUERY, RESP_END, RESP_ERROR, NBQLClient, crc32c,
    read_frame, serve_tcp, write_frame,
)


def test_crc32c_vectors():
    # published Castagnoli check values
    assert crc32c(b"") == 0
    assert crc32c(b"123456789") == 0xE3069283
    assert crc32c(b"\x00" * 32) == 0x8A9136AA


@pytest.fixture(scope="module")
def tcp(spark, tmp_path_factory):
    eng = NexusEngine(spark, str(tmp_path_factory.mktemp("tcp_wh")))
    srv = serve_tcp(eng, port=0)
    port = srv.server_address[1]
    yield "127.0.0.1", port
    srv.shutdown()


@pytest.mark.nightly
def test_push_query_stream(tcp):
    host, port = tcp
    c = NBQLClient(host, port)
    try:
        c.push('PUSH net.rx TAGGED (if="eth0") SET (bytes=100) AT 1000')
        c.push('PUSH net.rx TAGGED (if="eth0") SET (bytes=250) AT 2000')
        rows, end = c.query("QUERY net.rx FROM 0 TO 5000")
        assert end["total_rows"] == 2 and len(rows) == 2
        assert rows[0]["fields"]["bytes"] == "100"
        assert "next_cursor" in end
        rows, end = c.query(
            "QUERY net.rx FROM 0 TO 5000 AGGREGATE (count(*), sum(bytes))")
        assert rows[0]["count_*"] == 2 and rows[0]["sum_bytes"] == 350.0
    finally:
        c.close()


def test_error_frame_and_corrupt_crc(tcp):
    host, port = tcp
    c = NBQLClient(host, port)
    try:
        # self-seeded: SHOW METRICS needs at least one ingested metric,
        # which used to arrive from the (now nightly-tier) stream test
        c.push('PUSH net.err TAGGED (if="eth1") SET (drops=1) AT 1000')
        with pytest.raises(RuntimeError, match="unknown statement"):
            c.query("EXPLODE EVERYTHING")
        # connection survives an NBQL error
        rows, end = c.query("SHOW METRICS")
        assert end["total_rows"] >= 1
    finally:
        c.close()

    # corrupt CRC: server answers an error frame, then drops the connection
    s = socket.create_connection((host, port))
    payload = b"SHOW METRICS"
    s.sendall(struct.pack(">BI", CMD_QUERY, len(payload)) + payload
              + struct.pack(">I", crc32c(payload) ^ 0xDEAD))
    cmd, body = read_frame(s)
    assert cmd == RESP_ERROR and "CRC" in json.loads(body)["error"]
    assert s.recv(1) == b""  # closed
    s.close()


def test_manipulate_remove_via_tcp(tcp):
    host, port = tcp
    c = NBQLClient(host, port)
    try:
        c.push('PUSH tmp.m TAGGED (h="x") SET (v=1) AT 10')
        write_frame(c.sock, 0x20, b'REMOVE SERIES "tmp.m" TAGGED (h="x")')
        cmd, _ = read_frame(c.sock)
        rows, end = c.query("QUERY tmp.m FROM 0 TO 100")
        assert end["total_rows"] == 0
    finally:
        c.close()


def test_manipulate_frame_read_statement_takes_read_guard(spark, tmp_path_factory):
    """Every frame runs through server.execute_to_json: a read-only
    statement in a MANIPULATE frame (VERIFY ROLLUP runs Spark jobs) holds
    the engine's read guard, which FLUSH, compact and restore wait on,
    and the frame still gets exactly one end frame."""
    eng = NexusEngine(spark, str(tmp_path_factory.mktemp("tcpguard_wh")))
    eng.put("guard.m", {"h": "a"}, {"v": 1.0}, 100)
    eng.execute("CREATE ROLLUP g ON guard.m AGGREGATE BY 1h (count(*))")
    guard, entered = eng.read_guard, []

    def counting_guard():
        entered.append(True)
        return guard()

    eng.read_guard = counting_guard
    srv = serve_tcp(eng, port=0)
    c = NBQLClient("127.0.0.1", srv.server_address[1])
    try:
        write_frame(c.sock, CMD_MANIPULATE, b"VERIFY ROLLUP g")
        cmd, body = read_frame(c.sock)
        assert (cmd, json.loads(body)) == (RESP_END, {"total_rows": 0})
        assert entered
        rows, end = c.query("QUERY guard.m FROM 0 TO 1000")
        assert end["total_rows"] == 1
    finally:
        c.close()
        srv.shutdown()


@pytest.mark.nightly
def test_tcp_auth_handshake_and_roles(spark, tmp_path_factory):
    """Authenticated server: handshake before frames (tcp_connection_
    handler.go:40-114), bad password rejected, reader role denied writes
    but allowed queries (grpc_server.go:316-318 authz matrix)."""
    from nexusbase_spark.auth import Authenticator, hash_password

    eng = NexusEngine(spark, str(tmp_path_factory.mktemp("tcpauth_wh")))
    authn = Authenticator({
        "admin": (hash_password("s3cret"), "writer"),
        "viewer": (hash_password("look"), "reader"),
    })
    srv = serve_tcp(eng, port=0, authenticator=authn)
    host, port = "127.0.0.1", srv.server_address[1]
    try:
        # bad password: handshake error + dropped connection
        with pytest.raises(RuntimeError, match="authentication failed"):
            NBQLClient(host, port, "admin", "wrong")
        # writer: full access
        c = NBQLClient(host, port, "admin", "s3cret")
        c.push('PUSH auth.m TAGGED (h="a") SET (v=7) AT 100')
        rows, end = c.query("QUERY auth.m FROM 0 TO 1000")
        assert end["total_rows"] == 1 and rows[0]["fields"]["v"] == "7"
        c.close()
        # reader: queries pass, writes get a denied error frame, and the
        # connection stays usable afterwards
        c = NBQLClient(host, port, "viewer", "look")
        rows, end = c.query("QUERY auth.m FROM 0 TO 1000")
        assert end["total_rows"] == 1
        with pytest.raises(RuntimeError, match="may not perform"):
            c.push('PUSH auth.m SET (v=9) AT 200')
        rows, end = c.query("QUERY auth.m FROM 0 TO 1000")
        assert end["total_rows"] == 1  # write was rejected
        c.close()
    finally:
        srv.shutdown()


def test_reader_query_frame_cannot_mutate(spark, tmp_path_factory):
    """The role is decided by the parsed statement, not the frame code:
    a reader's QUERY frame carrying REMOVE is denied and deletes nothing,
    while read-only statements (QUERY, EXPLAIN) pass."""
    from nexusbase_spark.auth import Authenticator, hash_password

    eng = NexusEngine(spark, str(tmp_path_factory.mktemp("tcpauthz_wh")))
    eng.put("authz.m", {"h": "a"}, {"v": 7}, 100)
    srv = serve_tcp(eng, port=0, authenticator=Authenticator(
        {"viewer": (hash_password("look"), "reader")}))
    c = NBQLClient("127.0.0.1", srv.server_address[1], "viewer", "look")
    try:
        with pytest.raises(RuntimeError, match="may not perform"):
            c.query('REMOVE SERIES "authz.m" TAGGED (h="a")')
        rows, end = c.query("QUERY authz.m FROM 0 TO 1000")
        assert end["total_rows"] == 1
        rows, end = c.query("EXPLAIN QUERY authz.m FROM 0 TO 1000")
        assert end["total_rows"] > 0
    finally:
        c.close()
        srv.shutdown()


@pytest.mark.nightly
def test_client_convenience_surface(tcp):
    """Reference-client parity: parameterized query, push_point,
    push_bulk with chunking, context manager
    (clients/nbql/python/nbql/client.py:88,162,186)."""
    host, port = tcp
    with NBQLClient(host, port) as c:
        c.push_point("cli.cpu", 0.5, timestamp=1_000, tags={"host": "a"})
        c.push_point("cli.cpu", 1.5, timestamp=2_000, tags={"host": "a"})
        n = c.push_bulk(
            [{"metric": "cli.cpu", "fields": {"value": 9.0, "mode": "sys"},
              "timestamp": 3_000, "tags": {"host": "b"}},
             {"metric": "cli.cpu", "fields": {"value": 4.0},
              "timestamp": 4_000, "tags": {"host": "b"}}],
            chunk_size=1)
        assert n == 2
        rows, end = c.query("QUERY cli.cpu FROM ? TO ? TAGGED (host=?)",
                            0, 5_000, "a")
        assert end["total_rows"] == 2
        assert rows[1]["fields"]["value"] == "1.5"
        rows, _ = c.query("QUERY cli.cpu FROM 0 TO 5000 "
                          "AGGREGATE (count(*), sum(value))")
        assert rows[0]["count_*"] == 4 and rows[0]["sum_value"] == 15.0
        # typed string field survived the wire
        rows, _ = c.query("QUERY cli.cpu FROM 3000 TO 3000")
        assert rows[0]["fields"]["mode"] == "sys"
        with pytest.raises(ValueError, match="metric"):
            c.push_bulk([{"fields": {"value": 1.0}}])
        # pipelined multi-point chunk: all frames of a chunk are written
        # before responses are read (ADVICE r3 — chunk_size was a no-op);
        # all points land and the wire stays in sync for the next query
        n = c.push_bulk(
            [{"metric": "cli.bulk", "fields": {"value": float(i)},
              "timestamp": 1_000 * (i + 1)} for i in range(5)],
            chunk_size=3)
        assert n == 5
        rows, end = c.query("QUERY cli.bulk FROM 0 TO 10000")
        assert end["total_rows"] == 5
        # a bad statement inside a chunk raises after the chunk drains,
        # and the connection remains usable
        with pytest.raises(RuntimeError):
            c.push_bulk(
                [{"metric": "cli.bulk", "fields": {"value": 1.0}},
                 {"metric": "", "fields": {"value": 2.0}}], chunk_size=2)
        rows, end = c.query("QUERY cli.bulk FROM 0 TO 10000")
        assert end["total_rows"] >= 5


def test_push_bulk_default_chunk_is_bounded(monkeypatch):
    """The default chunk must cap frames in flight at 512, not
    len(points): the server loop is strictly read-frame->respond, so an
    unbounded pipeline on a large bulk fills both TCP buffers and
    silently deadlocks (ADVICE r4). A monkeypatched frame layer counts
    writes outstanding before each drain."""
    import json as _json

    from nexusbase_spark import tcp_server as mod

    state = {"in_flight": 0, "max_in_flight": 0, "total": 0}

    def fake_write(sock, cmd, payload):
        state["in_flight"] += 1
        state["total"] += 1
        state["max_in_flight"] = max(state["max_in_flight"],
                                     state["in_flight"])

    def fake_read(sock):
        assert state["in_flight"] > 0, "read with nothing in flight"
        state["in_flight"] -= 1
        return mod.RESP_END, _json.dumps({"total_rows": 0}).encode()

    monkeypatch.setattr(mod, "write_frame", fake_write)
    monkeypatch.setattr(mod, "read_frame", fake_read)
    c = NBQLClient.__new__(NBQLClient)
    c.sock = object()
    pts = [{"metric": "bulkdflt", "fields": {"value": float(i)},
            "timestamp": i} for i in range(1030)]
    assert c.push_bulk(pts) == 1030
    assert state["total"] == 1030
    assert state["max_in_flight"] == 512  # 512/512/6, never unbounded
