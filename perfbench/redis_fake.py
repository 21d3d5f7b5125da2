"""A fake Redis Streams server for the ingest benchmark.

The engine's Redis sink runs on Spark executors (Python worker
processes), so the fake is a real TCP server on 127.0.0.1, served by a
thread of the benchmark process. It models the XADD rules the sink
depends on:

- an explicit ID ``<ms>-<seq>`` must be strictly greater than the key's
  top ID, so a duplicate or smaller ID is rejected (``0-0`` too);
- ``*`` assigns the next ID;
- a pipelined ``execute()`` is one round trip and returns one result
  per command: the new ID, or a ``ResponseError`` when
  ``raise_on_error=False`` (with ``True`` the first error is raised).

It accepts at most ``max_connections`` concurrent connections (further
clients wait) and counts attempted, accepted and rejected XADDs and
round trips. ``FakeRedisServer.client_factory`` is picklable and has the
``factory(host, port)`` shape ``run_ingest(redis_client_factory=...)``
expects; the host and port it is called with are ignored.

Wire format: a 4-byte big-endian length, then a JSON array of commands
``[key, id, {field: value}]``; the reply is a JSON array of
``{"id": ...}`` or ``{"err": ...}`` in the same framing.
"""

from __future__ import annotations

import json
import socket
import socketserver
import struct
import threading
import time


class ResponseError(Exception):
    pass


def _send(sock: socket.socket, obj) -> None:
    body = json.dumps(obj).encode()
    sock.sendall(struct.pack(">I", len(body)) + body)


def _recv_exact(sock: socket.socket, n: int) -> bytes | None:
    buf = bytearray()
    while len(buf) < n:
        chunk = sock.recv(n - len(buf))
        if not chunk:
            return None
        buf += chunk
    return bytes(buf)


def _recv(sock: socket.socket):
    head = _recv_exact(sock, 4)
    if head is None:
        return None
    body = _recv_exact(sock, struct.unpack(">I", head)[0])
    return None if body is None else json.loads(body)


def _parse_id(rid: str) -> tuple[int, int]:
    ms, _, seq = rid.partition("-")
    return int(ms), int(seq or 0)


class _Streams:
    def __init__(self) -> None:
        self.entries: dict[str, list[tuple[str, dict]]] = {}
        self.top: dict[str, tuple[int, int]] = {}
        self.attempted = self.accepted = self.rejected = self.round_trips = 0
        self.lock = threading.Lock()

    def xadd(self, key: str, rid: str, fields: dict) -> dict:
        self.attempted += 1
        top = self.top.get(key, (0, 0))
        if rid == "*":
            ms = max(int(time.time() * 1000), top[0])
            new = (ms, top[1] + 1 if ms == top[0] else 0)
        else:
            try:
                new = _parse_id(rid)
            except ValueError:
                self.rejected += 1
                return {"err": "ERR Invalid stream ID specified as stream command argument"}
            if new == (0, 0):
                self.rejected += 1
                return {"err": "ERR The ID specified in XADD must be greater than 0-0"}
            if new <= top:
                self.rejected += 1
                return {"err": "ERR The ID specified in XADD is equal or smaller "
                                "than the target stream top item"}
        self.top[key] = new
        sid = f"{new[0]}-{new[1]}"
        self.entries.setdefault(key, []).append((sid, fields))
        self.accepted += 1
        return {"id": sid}

    def batch(self, cmds: list) -> list[dict]:
        with self.lock:
            self.round_trips += 1
            return [self.xadd(k, rid, f) for k, rid, f in cmds]


class _Handler(socketserver.BaseRequestHandler):
    def handle(self) -> None:
        server: _TCPServer = self.server  # type: ignore[assignment]
        with server.slots:
            while True:
                cmds = _recv(self.request)
                if cmds is None:
                    return
                _send(self.request, server.streams.batch(cmds))


class _TCPServer(socketserver.ThreadingTCPServer):
    daemon_threads = True
    allow_reuse_address = True

    def __init__(self, max_connections: int) -> None:
        super().__init__(("127.0.0.1", 0), _Handler)
        self.slots = threading.BoundedSemaphore(max_connections)
        self.streams = _Streams()


class FakePipeline:
    def __init__(self, client: "FakeRedisClient") -> None:
        self._client = client
        self._cmds: list = []

    def xadd(self, key: str, fields: dict, id: str = "*") -> "FakePipeline":  # noqa: A002
        self._cmds.append([key, id, fields])
        return self

    def execute(self, raise_on_error: bool = True) -> list:
        cmds, self._cmds = self._cmds, []
        if not cmds:
            return []
        replies = self._client.call(cmds)
        out = [r["id"] if "id" in r else ResponseError(r["err"]) for r in replies]
        if raise_on_error:
            for r in out:
                if isinstance(r, ResponseError):
                    raise r
        return out


class FakeRedisClient:
    def __init__(self, host: str, port: int) -> None:
        self._addr = (host, port)
        self._sock: socket.socket | None = None

    def call(self, cmds: list) -> list:
        if self._sock is None:
            self._sock = socket.create_connection(self._addr)
        _send(self._sock, cmds)
        reply = _recv(self._sock)
        if reply is None:
            raise ConnectionError("fake redis closed the connection")
        return reply

    def pipeline(self, transaction: bool = False) -> FakePipeline:
        return FakePipeline(self)

    def close(self) -> None:
        if self._sock is not None:
            self._sock.close()
            self._sock = None

    def __del__(self) -> None:
        self.close()


class ClientFactory:
    """Picklable ``factory(host, port) -> client`` bound to one server."""

    def __init__(self, host: str, port: int) -> None:
        self.host, self.port = host, port

    def __call__(self, _host=None, _port=None) -> FakeRedisClient:
        return FakeRedisClient(self.host, self.port)


class FakeRedisServer:
    def __init__(self, max_connections: int) -> None:
        self._server = _TCPServer(max_connections)
        self._thread = threading.Thread(target=self._server.serve_forever, daemon=True)

    def __enter__(self) -> "FakeRedisServer":
        self._thread.start()
        return self

    def __exit__(self, *exc) -> None:
        self._server.shutdown()
        self._server.server_close()
        self._thread.join()

    @property
    def client_factory(self) -> ClientFactory:
        host, port = self._server.server_address[:2]
        return ClientFactory(host, port)

    def reset(self) -> None:
        self._server.streams = _Streams()

    @property
    def streams(self) -> _Streams:
        return self._server.streams
