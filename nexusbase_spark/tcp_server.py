"""Framed-TCP NBQL entry point.

Reference: the primary query path is a length+CRC framed binary protocol
(``api/nbql/nbql.go:20-62,752-833`` — frame = [1B cmdType][4B BE length]
[payload][4B CRC32-C]; command codes PUSH 0x01, PUSHS 0x02, QUERY 0x10,
MANIPULATE 0x20; server streams one QueryResultPart 0x11 per row then
QueryEnd 0x12 with the total — ``server/tcp2_server.go:20-135``,
``server/tcp_connection_handler.go:116-280``).

This is a re-expression of that wire shape over the Spark engine: the
frame layout and command/response codes match; payloads are UTF-8 NBQL
text (requests) and JSON rows (responses) rather than the reference's
binary point encoding — the framing, streaming, and CRC discipline are
the protocol surface being rebuilt, the payload codec is façade detail.
CRC32-C (Castagnoli) is implemented here since zlib only ships CRC32.
"""

from __future__ import annotations

import json
import socket
import socketserver
import struct
import threading

from nexusbase_spark.auth import (
    ROLE_READER, ROLE_WRITER, AuthError, NonAuthenticator,
)
from nexusbase_spark.engine import NexusEngine
from nexusbase_spark.nbql.parser import NBQLError
from nexusbase_spark.server import execute_to_json, required_role

CMD_PUSH = 0x01
CMD_PUSHS = 0x02
CMD_QUERY = 0x10
CMD_MANIPULATE = 0x20
RESP_PART = 0x11
RESP_END = 0x12
RESP_ERROR = 0x7F

# auth handshake ops (tcp_connection_handler.go:40-114; the packet codec
# lives in the missing nexuscore submodule, so the byte layout below —
# header [1B version][1B op][2B BE payloadLen], u16-len-prefixed
# username/password strings, response [1B status][u16-len message] — is
# reconstructed from the handler's header reads, op checks and
# status/message response fields)
AUTH_REQUEST_OP = 0x01
AUTH_RESPONSE_OP = 0x02
AUTH_OK = 0x00
AUTH_ERR = 0x01

# role needed per command frame (grpc_server.go:316-318 checks writer for
# Put/Delete and reader for Query before dispatch); a QUERY frame is then
# checked again on its parsed statement, so it cannot carry a mutation
_REQUIRED_ROLE = {
    CMD_PUSH: ROLE_WRITER,
    CMD_PUSHS: ROLE_WRITER,
    CMD_MANIPULATE: ROLE_WRITER,
    CMD_QUERY: ROLE_READER,
}

_MAX_FRAME = 16 * 1024 * 1024


def _crc32c_table() -> list[int]:
    poly = 0x82F63B78  # reflected Castagnoli
    table = []
    for i in range(256):
        crc = i
        for _ in range(8):
            crc = (crc >> 1) ^ poly if crc & 1 else crc >> 1
        table.append(crc)
    return table


_TABLE = _crc32c_table()


def crc32c(data: bytes) -> int:
    crc = 0xFFFFFFFF
    for b in data:
        crc = (crc >> 8) ^ _TABLE[(crc ^ b) & 0xFF]
    return crc ^ 0xFFFFFFFF


def write_frame(sock: socket.socket, cmd: int, payload: bytes) -> None:
    sock.sendall(struct.pack(">BI", cmd, len(payload)) + payload
                 + struct.pack(">I", crc32c(payload)))


def read_frame(sock: socket.socket) -> tuple[int, bytes]:
    header = _read_exact(sock, 5)
    cmd, length = struct.unpack(">BI", header)
    if length > _MAX_FRAME:
        raise ValueError(f"frame too large: {length}")
    payload = _read_exact(sock, length)
    (crc,) = struct.unpack(">I", _read_exact(sock, 4))
    if crc != crc32c(payload):
        raise ValueError("frame CRC mismatch")
    return cmd, payload


def _read_exact(sock: socket.socket, n: int) -> bytes:
    buf = b""
    while len(buf) < n:
        chunk = sock.recv(n - len(buf))
        if not chunk:
            raise ConnectionError("peer closed mid-frame")
        buf += chunk
    return buf


def _pack_str(s: str) -> bytes:
    b = s.encode("utf-8")
    return struct.pack(">H", len(b)) + b


def _unpack_str(buf: bytes, off: int) -> tuple[str, int]:
    (n,) = struct.unpack_from(">H", buf, off)
    return buf[off + 2:off + 2 + n].decode("utf-8"), off + 2 + n


def send_auth_request(sock: socket.socket, username: str, password: str) -> None:
    payload = _pack_str(username) + _pack_str(password)
    sock.sendall(struct.pack(">BBH", 1, AUTH_REQUEST_OP, len(payload)) + payload)


def read_auth_response(sock: socket.socket) -> tuple[int, str]:
    ver, op, plen = struct.unpack(">BBH", _read_exact(sock, 4))
    payload = _read_exact(sock, plen)
    status = payload[0]
    message, _ = _unpack_str(payload, 1)
    return status, message


class _Handler(socketserver.BaseRequestHandler):
    engine: NexusEngine       # bound by serve_tcp()
    authenticator = None      # bound by serve_tcp()

    def _handshake(self) -> str | None:
        """Authenticate the connection before any command frame
        (tcp_connection_handler.go:40-114). Returns the role, or None
        (connection dropped). Skipped entirely for NonAuthenticator —
        like the reference with auth disabled, clients connect direct."""
        if isinstance(self.authenticator, NonAuthenticator):
            return ROLE_WRITER

        def respond(status: int, message: str) -> None:
            payload = bytes([status]) + _pack_str(message)
            self.request.sendall(
                struct.pack(">BBH", 1, AUTH_RESPONSE_OP, len(payload)) + payload)

        try:
            ver, op, plen = struct.unpack(">BBH", _read_exact(self.request, 4))
            if op != AUTH_REQUEST_OP:
                respond(AUTH_ERR, "Invalid operation during authentication")
                return None
            payload = _read_exact(self.request, plen)
            username, off = _unpack_str(payload, 0)
            password, _ = _unpack_str(payload, off)
        except (ConnectionError, OSError, struct.error, UnicodeDecodeError):
            return None
        try:
            role = self.authenticator.authenticate_userpass(username, password)
        except AuthError:
            respond(AUTH_ERR, "Invalid username or password")
            return None
        respond(AUTH_OK, "Authentication successful")
        return role

    def handle(self) -> None:
        role = self._handshake()
        if role is None:
            return
        self._role = role
        while True:
            try:
                cmd, payload = read_frame(self.request)
            except (ConnectionError, OSError):
                return
            except ValueError as exc:  # bad length/CRC: report and drop conn
                try:
                    write_frame(self.request, RESP_ERROR,
                                json.dumps({"error": str(exc)}).encode())
                finally:
                    return
            try:
                required = _REQUIRED_ROLE.get(cmd)
                if required is not None:
                    self.authenticator.authorize(self._role, required)
                self._dispatch(cmd, payload)
            except AuthError as exc:
                write_frame(self.request, RESP_ERROR,
                            json.dumps({"error": str(exc), "denied": True}).encode())
            except (NBQLError, ValueError) as exc:
                write_frame(self.request, RESP_ERROR,
                            json.dumps({"error": str(exc)}).encode())
            except Exception as exc:  # noqa: BLE001
                write_frame(self.request, RESP_ERROR,
                            json.dumps({"error": f"{type(exc).__name__}: {exc}"}).encode())

    def _dispatch(self, cmd: int, payload: bytes) -> None:
        text = payload.decode("utf-8")
        if cmd in (CMD_PUSH, CMD_PUSHS, CMD_MANIPULATE):
            self.engine.execute(text)
            write_frame(self.request, RESP_END, json.dumps({"total_rows": 0}).encode())
            return
        if cmd == CMD_QUERY:
            from nexusbase_spark.nbql.parser import parse
            stmt = parse(text)
            self.authenticator.authorize(self._role, required_role(stmt))
            body = execute_to_json(self.engine, stmt)
            rows = body.get("results", [])
            # one framed part per row, then the end frame with the total
            # (server/tcp_connection_handler.go:196-280)
            for row in rows:
                write_frame(self.request, RESP_PART, json.dumps(row).encode())
            end: dict = {"total_rows": len(rows)}
            if "next_cursor" in body:
                end["next_cursor"] = body["next_cursor"]
            write_frame(self.request, RESP_END, json.dumps(end).encode())
            return
        raise ValueError(f"unknown command type 0x{cmd:02x}")


def serve_tcp(engine: NexusEngine, host: str = "127.0.0.1",
              port: int = 50052,
              authenticator=None) -> socketserver.ThreadingTCPServer:
    """Start the framed-TCP server in a daemon thread (default port =
    the reference's NBQL TCP port, cmd/server/config.yaml). Pass an
    ``auth.Authenticator`` to require the handshake + role checks."""
    handler = type("BoundTCPHandler", (_Handler,),
                   {"engine": engine,
                    "authenticator": authenticator or NonAuthenticator()})
    socketserver.ThreadingTCPServer.allow_reuse_address = True
    srv = socketserver.ThreadingTCPServer((host, port), handler)
    threading.Thread(target=srv.serve_forever, daemon=True).start()
    return srv


class NBQLClient:
    """Client for the framed protocol, mirroring the reference client's
    surface (clients/nbql/python/nbql/client.py: parameterized query,
    push / push_bulk conveniences, context manager) over the NBQL-text
    wire. Divergence: the reference's PUSHS frame carries N binary points
    atomically; here bulk pushes send one PUSHS statement per point
    (chunking bounds frames in flight, not atomicity — server-side atomic
    batches are ``engine.put_batch``)."""

    def __init__(self, host: str, port: int,
                 username: str | None = None, password: str | None = None):
        self.sock = socket.create_connection((host, port))
        if username is not None:
            self.authenticate(username, password or "")

    def __enter__(self) -> "NBQLClient":
        return self

    def __exit__(self, exc_type, exc_val, exc_tb) -> None:
        self.close()

    def authenticate(self, username: str, password: str) -> None:
        send_auth_request(self.sock, username, password)
        status, message = read_auth_response(self.sock)
        if status != AUTH_OK:
            raise RuntimeError(f"authentication failed: {message}")

    @staticmethod
    def _statement(nbql: str, params: tuple) -> str:
        if params:
            from nexusbase_spark.nbql.parser import substitute_params
            nbql = substitute_params(nbql, params)
        return nbql

    def query(self, nbql: str, *params) -> tuple[list[dict], dict]:
        write_frame(self.sock, CMD_QUERY,
                    self._statement(nbql, params).encode())
        rows: list[dict] = []
        while True:
            cmd, payload = read_frame(self.sock)
            if cmd == RESP_PART:
                rows.append(json.loads(payload))
            elif cmd == RESP_END:
                return rows, json.loads(payload)
            elif cmd == RESP_ERROR:
                raise RuntimeError(json.loads(payload)["error"])
            else:
                raise RuntimeError(f"unexpected frame 0x{cmd:02x}")

    def push(self, nbql: str, *params) -> None:
        write_frame(self.sock, CMD_PUSH,
                    self._statement(nbql, params).encode())
        cmd, payload = read_frame(self.sock)
        if cmd == RESP_ERROR:
            raise RuntimeError(json.loads(payload)["error"])

    @staticmethod
    def _push_statement(metric: str, fields: dict, timestamp=None,
                        tags: dict | None = None, batch: bool = False) -> tuple:
        head = "PUSHS" if batch else "PUSH"
        parts = [f'{head} "{metric}"']
        params: list = []
        if tags:
            parts.append("TAGGED (" + ", ".join(f"{k}=?" for k in tags) + ")")
            params.extend(str(v) for v in tags.values())
        parts.append("SET (" + ", ".join(f"{k}=?" for k in fields) + ")")
        params.extend(fields.values())
        if timestamp is not None:
            parts.append(f"AT {int(timestamp)}")
        return " ".join(parts), tuple(params)

    def push_point(self, metric: str, value, timestamp=None,
                   tags: dict | None = None) -> None:
        """Single-point convenience (the reference client's legacy
        ``push``: one ``value`` field)."""
        stmt, params = self._push_statement(metric, {"value": value},
                                            timestamp, tags)
        self.push(stmt, *params)

    def push_bulk(self, points: list, chunk_size: int | None = None) -> int:
        """Bulk push: each point is {'metric', 'fields', optional
        'timestamp'/'tags'} — the reference client's push_bulk shape.
        Sends are PIPELINED within a chunk: all ``chunk_size`` PUSHS
        frames are written before any response is read, so ``chunk_size``
        bounds the frames in flight (ADVICE r3: the previous version
        awaited each response before the next send, making the parameter
        a no-op). The default chunk is 512 — the server loop is strictly
        read-frame->respond, so an unbounded pipeline on a large bulk
        would fill both TCP buffers and deadlock sender and server
        (ADVICE r4). Returns the number of points pushed; raises on the
        first server error after draining that chunk's responses."""
        for p in points:
            if not isinstance(p, dict) or "metric" not in p or "fields" not in p:
                raise ValueError(f"point needs 'metric' and 'fields': {p!r}")
        n = 0
        size = max(min(chunk_size or 512, len(points)), 1)
        for i in range(0, len(points), size):
            chunk = points[i:i + size]
            for p in chunk:
                stmt, params = self._push_statement(
                    p["metric"], p["fields"], p.get("timestamp"),
                    p.get("tags"), batch=True)
                write_frame(self.sock, CMD_PUSH,
                            self._statement(stmt, params).encode())
            err = None
            for _ in chunk:  # drain the chunk's responses in order
                cmd, payload = read_frame(self.sock)
                if cmd == RESP_ERROR and err is None:
                    err = json.loads(payload)["error"]
            if err is not None:
                raise RuntimeError(err)
            n += len(chunk)
        return n

    def close(self) -> None:
        self.sock.close()
