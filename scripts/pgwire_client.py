#!/usr/bin/env python
"""Minimal blocking PG simple-query client for testing the wire server
(no psql/psycopg in this container). Usage:

    python scripts/pgwire_client.py 'SELECT 1' ['SELECT 2' ...]

Prints, per statement: column names, rows (text format), command tag.
Implements just enough of the public protocol: startup, Query,
RowDescription/DataRow/CommandComplete/ErrorResponse/ReadyForQuery.
"""

from __future__ import annotations

import socket
import struct
import sys


class PgClient:
    def __init__(self, host: str = "127.0.0.1", port: int = 15432, user: str = "spark"):
        self.host, self.port = host, port
        self.backend_key: tuple[int, int] | None = None  # (pid, secret)
        self.sock = socket.create_connection((host, port), timeout=60)
        payload = struct.pack("!I", 196608)
        for k, v in (("user", user), ("database", "main")):
            payload += k.encode() + b"\x00" + v.encode() + b"\x00"
        payload += b"\x00"
        self.sock.sendall(struct.pack("!I", len(payload) + 4) + payload)
        self._drain_until_ready()

    def _read_msg(self) -> tuple[bytes, bytes]:
        tag = self._recv(1)
        (length,) = struct.unpack("!I", self._recv(4))
        return tag, self._recv(length - 4)

    def _recv(self, n: int) -> bytes:
        buf = b""
        while len(buf) < n:
            chunk = self.sock.recv(n - len(buf))
            if not chunk:
                raise ConnectionError("server closed")
            buf += chunk
        return buf

    def _drain_until_ready(self) -> None:
        while True:
            tag, body = self._read_msg()
            if tag == b"K":  # BackendKeyData — needed for CancelRequest
                self.backend_key = struct.unpack("!II", body)
            if tag == b"Z":
                return

    def cancel(self) -> None:
        """Out-of-band CancelRequest on a fresh socket (PG wire shape:
        new connection, 16-byte packet, no response, socket closed)."""
        pid, key = self.backend_key or (0, 0)
        s = socket.create_connection((self.host, self.port), timeout=10)
        s.sendall(struct.pack("!IIII", 16, 80877102, pid, key))
        s.close()

    def query(self, sql: str) -> list[dict]:
        """Returns a list of result dicts: {columns, rows, tag} or {error}."""
        self.sock.sendall(
            b"Q" + struct.pack("!I", len(sql.encode()) + 5) + sql.encode() + b"\x00"
        )
        results: list[dict] = []
        cur: dict | None = None
        while True:
            tag, body = self._read_msg()
            if tag == b"T":
                (nf,) = struct.unpack("!H", body[:2])
                off, cols, oids = 2, [], []
                for _ in range(nf):
                    end = body.index(b"\x00", off)
                    cols.append(body[off:end].decode())
                    off = end + 1
                    _, _, oid, _, _, _ = struct.unpack("!IhIhih", body[off : off + 18])
                    oids.append(oid)
                    off += 18
                cur = {"columns": cols, "oids": oids, "rows": []}
            elif tag == b"D":
                (nc,) = struct.unpack("!H", body[:2])
                off, row = 2, []
                for _ in range(nc):
                    (ln,) = struct.unpack("!i", body[off : off + 4])
                    off += 4
                    if ln == -1:
                        row.append(None)
                    else:
                        row.append(body[off : off + ln].decode())
                        off += ln
                assert cur is not None
                cur["rows"].append(row)
            elif tag == b"C":
                if cur is None:
                    cur = {"columns": [], "oids": [], "rows": []}
                cur["tag"] = body.rstrip(b"\x00").decode()
                results.append(cur)
                cur = None
            elif tag == b"I":
                results.append({"columns": [], "oids": [], "rows": [], "tag": ""})
            elif tag == b"H":  # CopyOutResponse: collect CopyData chunks
                cur = {"columns": [], "oids": [], "rows": [], "copy_out": b""}
            elif tag == b"d":
                assert cur is not None
                cur["copy_out"] += body
            elif tag == b"c":  # CopyDone
                pass
            elif tag == b"G":  # CopyInResponse — caller uses copy_in()
                cur = {"columns": [], "oids": [], "rows": [], "copy_in": True}
            elif tag == b"E":
                fields = {}
                for part in body.split(b"\x00"):
                    if part:
                        fields[chr(part[0])] = part[1:].decode()
                results.append({"error": fields.get("M", "?"), "sqlstate": fields.get("C")})
            elif tag == b"Z":
                return results

    def copy_in(self, sql: str, data: bytes, chunk: int = 8192) -> list[dict]:
        """COPY <table> FROM STDIN: send the statement, stream `data` as
        CopyData chunks, CopyDone, return the results (like query())."""
        self.sock.sendall(
            b"Q" + struct.pack("!I", len(sql.encode()) + 5) + sql.encode() + b"\x00"
        )
        tag, body = self._read_msg()
        if tag == b"E":
            fields = {}
            for part in body.split(b"\x00"):
                if part:
                    fields[chr(part[0])] = part[1:].decode()
            self._drain_until_ready()
            return [{"error": fields.get("M", "?"), "sqlstate": fields.get("C")}]
        assert tag == b"G", f"expected CopyInResponse, got {tag!r}"
        for i in range(0, len(data), chunk):
            self._send_msg(b"d", data[i : i + chunk])
        self._send_msg(b"c", b"")
        results: list[dict] = []
        while True:
            tag, body = self._read_msg()
            if tag == b"C":
                results.append({"tag": body.rstrip(b"\x00").decode()})
            elif tag == b"E":
                fields = {}
                for part in body.split(b"\x00"):
                    if part:
                        fields[chr(part[0])] = part[1:].decode()
                results.append(
                    {"error": fields.get("M", "?"), "sqlstate": fields.get("C")}
                )
            elif tag == b"Z":
                return results

    # ------------------------------------------------ extended protocol

    def _send_msg(self, tag: bytes, payload: bytes) -> None:
        self.sock.sendall(tag + struct.pack("!I", len(payload) + 4) + payload)

    def extended_query(
        self,
        sql: str,
        params: list[str | bytes | None] | None = None,
        *,
        param_oids: list[int] | None = None,
        param_binary: bool = False,
        result_binary: bool = False,
        result_formats: list[int] | None = None,
        raw_rows: bool = False,
        maxrows: int = 0,
    ) -> dict:
        """One Parse/Bind/Describe/Execute/Sync cycle — the psycopg/JDBC
        default mode the simple-query path can't test. param_binary sends
        parameters in binary format (param_oids declared in Parse);
        result_binary requests binary result cells (raw_rows keeps them
        as bytes instead of utf-8 decoding); result_formats sends an
        EXPLICIT per-column format-code list instead of the broadcast
        single code (PG Bind allows one code per output column).
        maxrows > 0 sends Execute(maxrows)+Flush again after each
        PortalSuspended, and Sync once the portal completes or fails."""
        params = params or []
        oids = param_oids or []
        parse = b"\x00" + sql.encode() + b"\x00" + struct.pack("!H", len(oids))
        for o in oids:
            parse += struct.pack("!I", o)
        self._send_msg(b"P", parse)
        bind = b"\x00\x00"
        bind += struct.pack("!HH", 1, 1) if param_binary else struct.pack("!H", 0)
        bind += struct.pack("!H", len(params))
        for p in params:
            if p is None:
                bind += struct.pack("!i", -1)
            else:
                b = p if isinstance(p, bytes) else p.encode()
                bind += struct.pack("!i", len(b)) + b
        if result_formats is not None:
            bind += struct.pack("!H", len(result_formats))
            for f in result_formats:
                bind += struct.pack("!H", f)
        elif result_binary:
            bind += struct.pack("!HH", 1, 1)
        else:
            bind += struct.pack("!H", 0)
        self._send_msg(b"B", bind)
        self._send_msg(b"D", b"P\x00")
        execute = b"\x00" + struct.pack("!i", maxrows)
        self._send_msg(b"E", execute)
        self._send_msg(b"H" if maxrows > 0 else b"S", b"")
        out: dict = {"columns": [], "oids": [], "fmts": [], "rows": [], "events": []}
        while True:
            tag, body = self._read_msg()
            out["events"].append(tag.decode())
            if maxrows > 0 and tag == b"s":  # PortalSuspended: page on
                self._send_msg(b"E", execute)
                self._send_msg(b"H", b"")
            elif maxrows > 0 and tag in (b"C", b"E"):
                self._send_msg(b"S", b"")
            if tag == b"T":
                (nf,) = struct.unpack("!H", body[:2])
                off = 2
                for _ in range(nf):
                    end = body.index(b"\x00", off)
                    out["columns"].append(body[off:end].decode())
                    off = end + 1
                    _, _, oid, _, _, fmt = struct.unpack("!IhIhih", body[off : off + 18])
                    out["oids"].append(oid)
                    out["fmts"].append(fmt)
                    off += 18
            elif tag == b"D":
                (nc,) = struct.unpack("!H", body[:2])
                off, row = 2, []
                for _ in range(nc):
                    (ln,) = struct.unpack("!i", body[off : off + 4])
                    off += 4
                    if ln == -1:
                        row.append(None)
                    else:
                        cell = body[off : off + ln]
                        row.append(cell if raw_rows else cell.decode())
                        off += ln
                out["rows"].append(row)
            elif tag == b"C":
                out["tag"] = body.rstrip(b"\x00").decode()
            elif tag == b"E":
                fields = {}
                for part in body.split(b"\x00"):
                    if part:
                        fields[chr(part[0])] = part[1:].decode()
                out["error"] = fields.get("M", "?")
                out["sqlstate"] = fields.get("C")
            elif tag == b"Z":
                return out

    def extended_fetch(self, sql: str, maxrows: int) -> dict:
        """Parse/Bind once, then Execute(maxrows)+Flush repeatedly until
        CommandComplete — exercises portal suspension (JDBC
        setFetchSize / psycopg server-side-cursor style paging)."""
        self._send_msg(b"P", b"\x00" + sql.encode() + b"\x00" + struct.pack("!H", 0))
        self._send_msg(
            b"B",
            b"\x00\x00" + struct.pack("!H", 0) + struct.pack("!H", 0) + struct.pack("!H", 0),
        )
        out: dict = {"rows": [], "batches": [], "events": []}
        done = False
        while not done:
            self._send_msg(b"E", b"\x00" + struct.pack("!i", maxrows))
            self._send_msg(b"H", b"")
            batch = 0
            while True:
                tag, body = self._read_msg()
                out["events"].append(tag.decode())
                if tag == b"D":
                    (nc,) = struct.unpack("!H", body[:2])
                    off, row = 2, []
                    for _ in range(nc):
                        (ln,) = struct.unpack("!i", body[off : off + 4])
                        off += 4
                        if ln == -1:
                            row.append(None)
                        else:
                            row.append(body[off : off + ln].decode())
                            off += ln
                    out["rows"].append(row)
                    batch += 1
                elif tag == b"s":
                    break
                elif tag == b"C":
                    out["tag"] = body.rstrip(b"\x00").decode()
                    done = True
                    break
                elif tag == b"E":
                    fields = {}
                    for part in body.split(b"\x00"):
                        if part:
                            fields[chr(part[0])] = part[1:].decode()
                    out["error"] = fields.get("M", "?")
                    out["sqlstate"] = fields.get("C")
                    done = True
                    break
            out["batches"].append(batch)
        self._send_msg(b"S", b"")
        while True:
            tag, _body = self._read_msg()
            if tag == b"Z":
                return out

    def close(self) -> None:
        self.sock.sendall(b"X" + struct.pack("!I", 4))
        self.sock.close()


if __name__ == "__main__":
    import os

    c = PgClient(
        host=os.environ.get("PGWIRE_HOST", "127.0.0.1"),
        port=int(os.environ.get("PGWIRE_PORT", "15432")),
    )
    for sql in sys.argv[1:] or ["SELECT 1 AS one"]:
        for res in c.query(sql):
            if "error" in res:
                print(f"ERROR [{res['sqlstate']}]: {res['error']}")
            else:
                print("columns:", res["columns"])
                for r in res["rows"]:
                    print("  ", r)
                print("tag:", res.get("tag"))
    c.close()
