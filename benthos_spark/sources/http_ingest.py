"""http_server input: POST-to-stream ingestion.

Reference: lib/input/http_server.go:41 — an HTTP endpoint whose POSTed
bodies become messages (the reference's most common dev-ingestion path
after file/stdin).  Here the server buffers bodies in bounded memory
and the pipeline drains the buffer into a DataFrame: the batch analogue
of the reference's always-on listener, matching this engine's
bounded-input model (same doctrine as the stdin input, stream.py).
Sync mode (`sync=True`) implements the reference's synchronous-response
guide (lib/processor/sync_response.go + roundtrip.Writer): each POST
holds its connection open until the pipeline publishes a reply for its
sync id via `respond()`, or times out with 504.  The websocket surface
remains documented out of scope (COVERAGE.md); an always-on deployment
should front a socket/file stream instead.
"""

from __future__ import annotations

import threading
from collections import deque
from http.server import BaseHTTPRequestHandler, ThreadingHTTPServer

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import types as T

INGEST_SCHEMA = T.StructType([
    T.StructField("content", T.StringType(), True),
    T.StructField("meta", T.MapType(T.StringType(), T.StringType()), True),
])


def ingest_frame(spark: SparkSession, rows: list) -> DataFrame:
    """(content, meta) rows as a JVM VALUES literal when small — the
    frame is re-read by every downstream execution, and a pickled-RDD
    scan would pay a Python round-trip each time (operators/literals)."""
    from benthos_spark.operators.literals import values_or_pickled
    return values_or_pickled(spark, rows, INGEST_SCHEMA)


class HttpIngestServer:
    """Buffer POST bodies (bounded deque — oldest parts drop once
    `max_buffer` is exceeded, the reference's backpressure analogue for
    a drain-based consumer) until the pipeline drains them."""

    def __init__(self, host: str = "127.0.0.1", port: int = 0,
                 path: str = "/post", max_buffer: int = 100_000,
                 sync: bool = False, sync_timeout_s: float = 10.0):
        self._host, self._port, self._path = host, port, path
        self._rows: deque = deque(maxlen=max_buffer)
        self._lock = threading.Lock()
        self._server: ThreadingHTTPServer | None = None
        self._thread: threading.Thread | None = None
        self._sync = bool(sync)
        self._sync_timeout = float(sync_timeout_s)
        # sync id → [event, reply-body|None, status] — the roundtrip
        # store (lib/message/roundtrip): respond() fills it, the held
        # handler thread sends it
        self._pending: dict[int, list] = {}
        self._next_id = 0

    def start(self) -> tuple[str, int]:
        srv = self

        class Handler(BaseHTTPRequestHandler):
            def log_message(self, *a):
                pass

            def do_POST(self):
                if self.path.split("?")[0] != srv._path:
                    self.send_response(404)
                    self.end_headers()
                    return
                n = int(self.headers.get("Content-Length") or 0)
                body = self.rfile.read(n).decode("utf-8", "replace")
                meta = {"http_server_user_agent":
                        self.headers.get("User-Agent") or "",
                        "http_server_request_path": self.path,
                        "http_content_type":
                        self.headers.get("Content-Type") or ""}
                if not srv._sync:
                    with srv._lock:
                        srv._rows.append((body, meta))
                    self.send_response(200)
                    self.send_header("Content-Length", "0")
                    self.end_headers()
                    return
                # sync mode: hold the connection until the pipeline
                # responds for this id (sync_responses guide) or the
                # timeout elapses (504, like the reference's deadline)
                with srv._lock:
                    sid = srv._next_id
                    srv._next_id += 1
                    ev = threading.Event()
                    srv._pending[sid] = [ev, None, 504]
                    meta["http_server_sync_id"] = str(sid)
                    srv._rows.append((body, meta))
                ev.wait(srv._sync_timeout)
                with srv._lock:
                    _, reply, status = srv._pending.pop(
                        sid, [None, None, 504])
                payload = (reply or "").encode()
                self.send_response(status if reply is not None else 504)
                self.send_header("Content-Length", str(len(payload)))
                self.end_headers()
                self.wfile.write(payload)

        self._server = ThreadingHTTPServer((self._host, self._port), Handler)
        self._thread = threading.Thread(target=self._server.serve_forever,
                                        daemon=True)
        self._thread.start()
        return self._server.server_address[:2]

    def drain(self, spark: SparkSession) -> DataFrame:
        """Move the buffered parts into a DataFrame (buffer clears)."""
        with self._lock:
            rows = list(self._rows)
            self._rows.clear()
        return ingest_frame(spark, rows)

    def respond(self, replies: dict[int, str], status: int = 200) -> None:
        """Publish sync replies by id — wakes the held handler threads
        (the reference's roundtrip.SetAsResponse consume side)."""
        with self._lock:
            for sid, body in replies.items():
                ent = self._pending.get(int(sid))
                if ent is not None:
                    ent[1] = body
                    ent[2] = int(status)
                    ent[0].set()

    def close_pending(self) -> None:
        """Wake any unanswered handlers so they 504 immediately instead
        of running out the full timeout."""
        with self._lock:
            for ent in self._pending.values():
                ent[0].set()

    def stop(self) -> None:
        if self._server is not None:
            self.close_pending()
            self._server.shutdown()
            self._server.server_close()
            self._server = None


def http_client_input(spark: SparkSession, url: str, count: int = 1,
                      method: str = "GET",
                      headers: dict[str, str] | None = None,
                      timeout_s: float = 10.0,
                      codec: str = "all-bytes") -> DataFrame:
    """http_client input (lib/input/http_client.go:48): poll a URL and
    turn responses into message rows.  Bounded-drain model: `count`
    driver-side requests at build time (dev ingestion — same doctrine
    as stdin/http_server); codec `lines` splits each response body
    like the reference's line codec.  The scale path for static-ish
    endpoints remains fetch_dimension → broadcast join."""
    import urllib.request
    rows = []
    for i in range(int(count)):
        req = urllib.request.Request(url, headers=dict(headers or {}),
                                     method=method)
        with urllib.request.urlopen(req, timeout=timeout_s) as r:
            body = r.read().decode("utf-8", "replace")
            meta = {"http_status": str(r.status), "http_poll": str(i)}
        if codec == "lines":
            rows += [(ln, meta) for ln in body.splitlines()]
        else:
            rows.append((body, meta))
    return ingest_frame(spark, rows)


def subprocess_input(spark: SparkSession, name: str,
                     args: list[str] | None = None,
                     codec: str = "lines") -> DataFrame:
    """subprocess input (lib/input/subprocess.go:24): run a command and
    consume its stdout as messages (codec lines).  Bounded: the
    process runs to completion at build time, driver-side — the
    reference's use case is exactly this kind of generator/dump
    command.  For per-record transformation by an external binary use
    the subprocess PROCESSOR (partition-parallel) instead."""
    import subprocess as sp
    proc = sp.run([str(name), *(str(a) for a in args or [])],
                  capture_output=True, text=True, check=True)
    meta = {"subprocess_name": str(name)}
    if codec == "lines":
        rows = [(ln, meta) for ln in proc.stdout.splitlines()]
    else:
        rows = [(proc.stdout, meta)]
    return ingest_frame(spark, rows)


class SocketIngestServer:
    """socket_server input (lib/input/socket_server.go:25): accept a
    stream of messages over tcp, udp, or unix sockets.  Bounded-drain
    model like HttpIngestServer: listen for the drain window, then the
    buffered parts ARE the input frame.  Codec `lines` splits tcp/unix
    streams on newlines; each udp datagram is split on newlines too
    (the reference wraps both in the same line codec)."""

    def __init__(self, network: str = "tcp", address: str = "127.0.0.1:0",
                 max_buffer: int = 100_000):
        if network not in ("tcp", "udp", "unix"):
            raise ValueError(
                f"socket_server network {network!r}: must be unix|tcp|udp "
                "(socket_server.go:29)")
        self._network = network
        self._address = address
        self._rows: deque = deque(maxlen=max_buffer)
        self._lock = threading.Lock()
        self._server = None
        self._thread: threading.Thread | None = None

    def start(self):
        import socketserver
        srv_ref = self

        class TCPHandler(socketserver.StreamRequestHandler):
            def handle(self):
                for raw in self.rfile:
                    line = raw.decode("utf-8", "replace").rstrip("\n")
                    if line:
                        with srv_ref._lock:
                            srv_ref._rows.append(
                                (line, {"socket_network":
                                        srv_ref._network}))

        class UDPHandler(socketserver.BaseRequestHandler):
            def handle(self):
                data = self.request[0].decode("utf-8", "replace")
                for line in data.split("\n"):
                    if line:
                        with srv_ref._lock:
                            srv_ref._rows.append(
                                (line, {"socket_network": "udp"}))

        if self._network == "udp":
            host, _, port = self._address.rpartition(":")
            self._server = socketserver.ThreadingUDPServer(
                (host or "127.0.0.1", int(port or 0)), UDPHandler)
            bound = self._server.server_address[:2]
        elif self._network == "tcp":
            host, _, port = self._address.rpartition(":")
            socketserver.ThreadingTCPServer.allow_reuse_address = True
            self._server = socketserver.ThreadingTCPServer(
                (host or "127.0.0.1", int(port or 0)), TCPHandler)
            bound = self._server.server_address[:2]
        else:  # unix
            class UnixServer(socketserver.ThreadingUnixStreamServer):
                pass
            self._server = UnixServer(self._address, TCPHandler)
            bound = (self._address, 0)
        self._thread = threading.Thread(
            target=self._server.serve_forever, daemon=True)
        self._thread.start()
        return bound

    def drain(self, spark: SparkSession) -> DataFrame:
        with self._lock:
            rows = list(self._rows)
            self._rows.clear()
        return ingest_frame(spark, rows)

    def stop(self) -> None:
        if self._server is not None:
            self._server.shutdown()
            self._server.server_close()
            self._server = None


class WebsocketIngestServer:
    """websocket input (lib/input/websocket.go:15): text messages over
    RFC 6455, bounded-drain like the other network inputs.  The
    protocol is implemented from the PUBLIC spec over the stdlib —
    the upgrade handshake (Sec-WebSocket-Accept = base64(sha1(key ||
    258EAFA5-E914-47DA-95CA-C5AB0DC85B11))) and the frame layer
    (FIN/opcode, 7/16/64-bit lengths, client-to-server masking) —
    since none of the engine's dependencies ships a websocket
    package."""

    _GUID = "258EAFA5-E914-47DA-95CA-C5AB0DC85B11"

    def __init__(self, host: str = "127.0.0.1", port: int = 0,
                 path: str = "/ws", max_buffer: int = 100_000):
        self._host, self._port, self._path = host, port, path
        self._rows: deque = deque(maxlen=max_buffer)
        self._lock = threading.Lock()
        self._server = None
        self._thread: threading.Thread | None = None

    def start(self) -> tuple[str, int]:
        import base64
        import hashlib
        import socketserver
        import struct
        srv = self

        class Handler(socketserver.StreamRequestHandler):
            def handle(self):
                # --- HTTP upgrade handshake
                request = self.rfile.readline().decode("latin-1")
                headers = {}
                while True:
                    line = self.rfile.readline().decode("latin-1")
                    if line in ("\r\n", "\n", ""):
                        break
                    k, _, v = line.partition(":")
                    headers[k.strip().lower()] = v.strip()
                path = request.split(" ")[1] if " " in request else "/"
                key = headers.get("sec-websocket-key")
                if (path.split("?")[0] != srv._path or key is None or
                        "websocket" not in
                        headers.get("upgrade", "").lower()):
                    self.wfile.write(
                        b"HTTP/1.1 400 Bad Request\r\n"
                        b"Content-Length: 0\r\n\r\n")
                    return
                accept = base64.b64encode(hashlib.sha1(
                    (key + srv._GUID).encode()).digest()).decode()
                self.wfile.write(
                    ("HTTP/1.1 101 Switching Protocols\r\n"
                     "Upgrade: websocket\r\n"
                     "Connection: Upgrade\r\n"
                     f"Sec-WebSocket-Accept: {accept}\r\n\r\n")
                    .encode())
                # --- frame loop (text frames buffered; close → reply)
                fragments: list[bytes] = []
                while True:
                    head = self.rfile.read(2)
                    if len(head) < 2:
                        return
                    fin = bool(head[0] & 0x80)
                    opcode = head[0] & 0x0F
                    masked = bool(head[1] & 0x80)
                    ln = head[1] & 0x7F
                    if ln == 126:
                        ln, = struct.unpack(">H", self.rfile.read(2))
                    elif ln == 127:
                        ln, = struct.unpack(">Q", self.rfile.read(8))
                    mask = self.rfile.read(4) if masked else b""
                    payload = self.rfile.read(ln)
                    if masked:
                        payload = bytes(
                            b ^ mask[i % 4]
                            for i, b in enumerate(payload))
                    if opcode == 0x8:  # close → echo close, stop
                        self.wfile.write(b"\x88\x00")
                        return
                    if opcode == 0x9:  # ping → pong
                        self.wfile.write(
                            bytes([0x8A, len(payload)]) + payload)
                        continue
                    if opcode in (0x1, 0x2, 0x0):
                        fragments.append(payload)
                        if fin:
                            text = b"".join(fragments).decode(
                                "utf-8", "replace")
                            fragments = []
                            if text:
                                with srv._lock:
                                    srv._rows.append(
                                        (text,
                                         {"websocket_path": path}))

        class Server(socketserver.ThreadingTCPServer):
            allow_reuse_address = True
            daemon_threads = True

        self._server = Server((self._host, self._port), Handler)
        self._thread = threading.Thread(
            target=self._server.serve_forever, daemon=True)
        self._thread.start()
        return self._server.server_address[:2]

    def drain(self, spark: SparkSession) -> DataFrame:
        with self._lock:
            rows = list(self._rows)
            self._rows.clear()
        return ingest_frame(spark, rows)

    def stop(self) -> None:
        if self._server is not None:
            self._server.shutdown()
            self._server.server_close()
            self._server = None


def websocket_send(url: str, messages: list[str],
                   timeout_s: float = 10.0) -> None:
    """Minimal RFC 6455 CLIENT (output side, lib/output/websocket.go):
    handshake, send each message as a masked text frame, close.  Used
    per partition by the websocket output — client-to-server frames
    are masked as the spec requires."""
    import base64
    import hashlib
    import os
    import socket
    import struct
    from urllib.parse import urlparse

    u = urlparse(url)
    host = u.hostname or "127.0.0.1"
    port = u.port or (443 if u.scheme == "wss" else 80)
    if u.scheme == "wss":
        raise ValueError("websocket output: wss:// needs TLS material; "
                         "terminate TLS in front or use ws://")
    path = u.path or "/"
    key = base64.b64encode(os.urandom(16)).decode()
    with socket.create_connection((host, port), timeout=timeout_s) as s:
        s.sendall((f"GET {path} HTTP/1.1\r\nHost: {host}\r\n"
                   "Upgrade: websocket\r\nConnection: Upgrade\r\n"
                   f"Sec-WebSocket-Key: {key}\r\n"
                   "Sec-WebSocket-Version: 13\r\n\r\n").encode())
        resp = s.recv(4096).decode("latin-1")
        if "101" not in resp.split("\r\n")[0]:
            raise ConnectionError(
                f"websocket handshake refused: {resp.splitlines()[0]!r}")
        want = base64.b64encode(hashlib.sha1(
            (key + WebsocketIngestServer._GUID).encode())
            .digest()).decode()
        if want not in resp:
            raise ConnectionError("websocket accept-key mismatch")
        for msg in messages:
            payload = msg.encode()
            mask = os.urandom(4)
            n = len(payload)
            if n < 126:
                head = bytes([0x81, 0x80 | n])
            elif n < (1 << 16):
                head = bytes([0x81, 0x80 | 126]) + struct.pack(">H", n)
            else:
                head = bytes([0x81, 0x80 | 127]) + struct.pack(">Q", n)
            s.sendall(head + mask + bytes(
                b ^ mask[i % 4] for i, b in enumerate(payload)))
        s.sendall(b"\x88\x80" + os.urandom(4))  # masked close


def serve_http_output(messages: list[str], host: str = "127.0.0.1",
                      port: int = 0, path: str = "/get",
                      timeout_s: float = 30.0) -> tuple[str, int, int]:
    """`http_server` OUTPUT (lib/output/http_server.go): clients GET
    the configured path and each request pops the next message; 204
    once drained.  Blocks until every message is consumed or
    `timeout_s` elapses, then stops — a bounded request/reply surface
    (the reference holds the same per-process queue), not a bulk path.
    Returns (host, port, n_unserved)."""
    import threading
    import time
    from collections import deque
    from http.server import BaseHTTPRequestHandler, ThreadingHTTPServer

    q: deque = deque(messages)
    done = threading.Event()

    class Handler(BaseHTTPRequestHandler):
        def log_message(self, *a):
            pass

        def do_GET(self):
            if self.path.split("?")[0] != path:
                self.send_response(404)
                self.end_headers()
                return
            try:
                msg = q.popleft()
            except IndexError:
                self.send_response(204)
                self.end_headers()
                done.set()
                return
            body = msg.encode()
            self.send_response(200)
            self.send_header("Content-Length", str(len(body)))
            self.end_headers()
            self.wfile.write(body)
            if not q:
                done.set()

    srv = ThreadingHTTPServer((host, port), Handler)
    bound = srv.server_address
    t = threading.Thread(target=srv.serve_forever, daemon=True)
    t.start()
    try:
        deadline = time.monotonic() + timeout_s
        while not done.is_set() and time.monotonic() < deadline:
            time.sleep(0.02)
    finally:
        srv.shutdown()
        srv.server_close()
    return bound[0], bound[1], len(q)
