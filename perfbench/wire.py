"""Lean PostgreSQL wire client for timing.

While a statement runs the client only frames messages: it splits the
byte stream into (tag, body) pairs, counts bytes received, notes the
time of the first DataRow and keeps DataRow bodies raw. Cells are decoded
after the timed pass (``decode_rows``), so the client never becomes the
bottleneck on row-heavy results.

Speaks simple Query, extended Parse/Bind/Describe/Execute/Sync with text
parameters, and COPY FROM STDIN.
"""

from __future__ import annotations

import socket
import struct
import time
from dataclasses import dataclass, field

HOST = "127.0.0.1"
TIMEOUT_S = 120.0  # per socket operation
COPY_CHUNK = 1 << 16  # bytes of COPY data per CopyData message
_HDR = struct.Struct("!cI")
_FIELD = struct.Struct("!IhIhih")


def _msg(tag: bytes, payload: bytes) -> bytes:
    return tag + struct.pack("!I", len(payload) + 4) + payload


@dataclass
class Result:
    """One statement's outcome, as framed bytes plus client-side timings."""

    sent: float = 0.0  # monotonic clock at send
    first_row: float | None = None  # monotonic clock at the first DataRow
    done: float = 0.0  # monotonic clock at ReadyForQuery
    oids: list[int] = field(default_factory=list)
    rows: list[bytes] = field(default_factory=list)  # raw DataRow bodies
    tag: str = ""
    error: str | None = None
    bytes_in: int = 0

    @property
    def wall(self) -> float:
        return self.done - self.sent

    @property
    def to_first_row(self) -> float | None:
        return None if self.first_row is None else self.first_row - self.sent


class WireClient:
    def __init__(self, port: int):
        self.sock = socket.create_connection((HOST, port), timeout=TIMEOUT_S)
        self.sock.setsockopt(socket.IPPROTO_TCP, socket.TCP_NODELAY, 1)
        self._buf = bytearray()
        self._pos = 0
        payload = struct.pack("!I", 196608)
        for k, v in (("user", "bench"), ("database", "main")):
            payload += k.encode() + b"\x00" + v.encode() + b"\x00"
        payload += b"\x00"
        self.sock.sendall(struct.pack("!I", len(payload) + 4) + payload)
        self._collect(Result())

    def close(self) -> None:
        try:
            self.sock.sendall(_msg(b"X", b""))
        except OSError:
            pass
        self.sock.close()

    # ------------------------------------------------------------ framing

    def _fill(self, res: Result) -> None:
        chunk = self.sock.recv(1 << 18)
        if not chunk:
            raise ConnectionError("server closed the connection")
        res.bytes_in += len(chunk)
        if self._pos:
            del self._buf[: self._pos]
            self._pos = 0
        self._buf += chunk

    def _next(self, res: Result) -> tuple[bytes, bytes]:
        while len(self._buf) - self._pos < 5:
            self._fill(res)
        tag, length = _HDR.unpack_from(self._buf, self._pos)
        while len(self._buf) - self._pos < 1 + length:
            self._fill(res)  # may move the unread bytes to the front
        start = self._pos
        self._pos = start + 1 + length
        return tag, bytes(self._buf[start + 5 : self._pos])

    def _collect(self, res: Result) -> Result:
        """Read messages up to and including ReadyForQuery."""
        rows = res.rows
        while True:
            tag, body = self._next(res)
            if tag == b"D":
                if res.first_row is None:
                    res.first_row = time.monotonic()
                rows.append(body)
            elif tag == b"T":
                (nf,) = struct.unpack_from("!H", body)
                off = 2
                for _ in range(nf):
                    off = body.index(b"\x00", off) + 1
                    res.oids.append(_FIELD.unpack_from(body, off)[2])
                    off += _FIELD.size
            elif tag == b"C":
                res.tag = body.rstrip(b"\x00").decode()
            elif tag == b"E":
                parts = dict(
                    (p[:1].decode(), p[1:].decode(errors="replace"))
                    for p in body.split(b"\x00")
                    if p
                )
                res.error = f"{parts.get('C', '?')}: {parts.get('M', '?')}"
            if tag == b"Z":
                res.done = time.monotonic()
                return res

    # ------------------------------------------------------------ statements

    def query(self, sql: str) -> Result:
        """Simple Query; timed from send to ReadyForQuery."""
        res = Result()
        data = sql.encode()
        res.sent = time.monotonic()
        self.sock.sendall(_msg(b"Q", data + b"\x00"))
        return self._collect(res)

    def prepared(self, sql: str, params: list[str]) -> Result:
        """Unnamed Parse/Bind/Describe(portal)/Execute/Sync with text
        parameters and no declared types, as JDBC and asyncpg send it."""
        res = Result()
        bind = b"\x00\x00" + struct.pack("!HH", 0, len(params))
        for p in params:
            b = p.encode()
            bind += struct.pack("!i", len(b)) + b
        bind += struct.pack("!H", 0)
        msg = (
            _msg(b"P", b"\x00" + sql.encode() + b"\x00" + struct.pack("!H", 0))
            + _msg(b"B", bind)
            + _msg(b"D", b"P\x00")
            + _msg(b"E", b"\x00" + struct.pack("!i", 0))
            + _msg(b"S", b"")
        )
        res.sent = time.monotonic()
        self.sock.sendall(msg)
        return self._collect(res)

    def copy_in(self, sql: str, data: bytes) -> Result:
        """COPY ... FROM STDIN: the statement, CopyData chunks, CopyDone."""
        res = Result()
        res.sent = time.monotonic()
        self.sock.sendall(_msg(b"Q", sql.encode() + b"\x00"))
        tag, body = self._next(res)
        if tag != b"G":  # no CopyInResponse: an error, then ReadyForQuery
            self._pos -= 5 + len(body)
            return self._collect(res)
        out = bytearray()
        for i in range(0, len(data), COPY_CHUNK):
            out += _msg(b"d", data[i : i + COPY_CHUNK])
        out += _msg(b"c", b"")
        self.sock.sendall(out)
        return self._collect(res)


def decode_rows(rows: list[bytes]) -> list[tuple[str | None, ...]]:
    """Raw DataRow bodies → tuples of text cells (None for NULL)."""
    out = []
    unpack = struct.unpack_from
    for body in rows:
        (nc,) = unpack("!H", body)
        off = 2
        cells = []
        for _ in range(nc):
            (ln,) = unpack("!i", body, off)
            off += 4
            if ln < 0:
                cells.append(None)
            else:
                cells.append(body[off : off + ln].decode())
                off += ln
        out.append(tuple(cells))
    return out
