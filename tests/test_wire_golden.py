"""Byte-identity of driver-built and small results on the wire.

A fresh server process (own JVM, empty warehouse, the sf0.01 fixture
views) answers a fixed statement list; every backend message it sends
is compared with ``golden/wire_bytes.json``. The golden was captured
from the server as it was before driver-built relations became
Arrow-backed and row-bounded plans were fetched with one ``collect()``,
so the test pins that neither change moved a byte: RowDescription
names and OIDs, DataRow bytes (text and binary format), portal
suspension, COPY TO STDOUT framing and command tags. The extended
UNION BY NAME, LIMIT n%, WITH RECURSIVE and SHOW TABLES cases were
captured before both protocols shared one statement path; that change
moved only the tags of the two introspection portals (``DESCRIBE
NATION`` and ``SHOW TABLES`` became ``SELECT <n>``, the simple
protocol's tag).

``EXPLAIN ANALYZE`` prints wall-clock times, so only its row shape is
kept: the RowDescription, the column count of each DataRow and the tag.

Regenerate (only for an intended wire change) with
``python tests/test_wire_golden.py``.
"""

from __future__ import annotations

import hashlib
import json
import os
import signal
import socket
import struct
import subprocess
import sys
import time
from pathlib import Path

import pytest

REPO = Path(__file__).resolve().parents[1]
GOLDEN = Path(__file__).parent / "golden" / "wire_bytes.json"
SF_DIR = "/root/testdata/sf0.01"

_LIMIT5 = (
    "SELECT o_orderkey, o_totalprice, o_orderdate, o_orderpriority FROM orders "
    "ORDER BY o_orderkey LIMIT 5"
)
# spellings Spark's parser cannot take whole, built on the driver side
# of the statement path
_UNION_BY_NAME = (
    "SELECT r_regionkey, r_name FROM region UNION ALL BY NAME"
    " SELECT n_name AS r_name, n_nationkey AS k FROM nation WHERE n_nationkey < 3"
    " ORDER BY r_name, r_regionkey, k"
)
_LIMIT_PERCENT = "SELECT n_nationkey, n_name FROM nation ORDER BY n_nationkey LIMIT 40%"
_WITH_RECURSIVE = (
    "WITH RECURSIVE t(n) AS (SELECT 1 UNION ALL SELECT n + 1 FROM t WHERE n < 5)"
    " SELECT n, n * n AS sq FROM t ORDER BY n"
)

# (case name, kind, sql); kinds: simple Query, "shape" (simple Query
# keeping only the row shape), "maxrows2" (extended, Execute with
# maxrows=2 until done), "binary" (extended, binary result format)
CASES = [
    ("describe_table", "simple", "DESCRIBE nation"),
    (
        "describe_query",
        "simple",
        "DESCRIBE SELECT n_nationkey, n_name, n_regionkey * 1.5 AS x FROM nation",
    ),
    ("show_tables", "simple", "SHOW TABLES"),
    ("show_tables_maxrows2", "maxrows2", "SHOW TABLES"),
    ("show_databases", "simple", "SHOW DATABASES"),
    ("show_guc", "simple", "SHOW transaction_isolation"),
    ("pragma_version", "simple", "PRAGMA version"),
    ("pragma_database_list", "simple", "PRAGMA database_list"),
    ("pragma_show_tables", "simple", "PRAGMA show_tables"),
    ("pragma_table_info", "simple", "PRAGMA table_info('nation')"),
    ("summarize", "simple", "SUMMARIZE region"),
    ("explain_analyze", "shape", "EXPLAIN ANALYZE SELECT count(*) FROM nation"),
    (
        "psql_describe_join",
        "simple",
        "SELECT c.relname, n.nspname, a.attname, t.typname, a.attnum,"
        " a.attnotnull FROM pg_catalog.pg_class c"
        " JOIN pg_catalog.pg_namespace n ON n.oid = c.relnamespace"
        " JOIN pg_catalog.pg_attribute a ON a.attrelid = c.oid"
        " LEFT JOIN pg_catalog.pg_type t ON t.oid = a.atttypid"
        " WHERE c.relname = 'region' ORDER BY a.attnum",
    ),
    ("select_literal", "simple", "SELECT 1 + 1"),
    (
        "global_aggregate",
        "simple",
        "SELECT count(*) AS n, sum(n_regionkey) AS s, min(n_name) AS lo,"
        " avg(n_nationkey) AS a, max(CASE WHEN false THEN 1 END) AS none"
        " FROM nation",
    ),
    ("limit_5", "simple", _LIMIT5),
    (
        "limit_2000",
        "simple",
        "SELECT l_orderkey, l_linenumber, l_extendedprice, l_shipdate"
        " FROM lineitem ORDER BY l_orderkey, l_linenumber LIMIT 2000",
    ),
    ("limit_5_maxrows2", "maxrows2", _LIMIT5),
    ("limit_5_binary", "binary", _LIMIT5),
    ("describe_maxrows2", "maxrows2", "DESCRIBE nation"),
    ("limit_5_copy_text", "simple", f"COPY ({_LIMIT5}) TO STDOUT"),
    (
        "limit_5_copy_csv",
        "simple",
        f"COPY ({_LIMIT5}) TO STDOUT (FORMAT CSV, HEADER)",
    ),
    ("union_by_name_maxrows2", "maxrows2", _UNION_BY_NAME),
    ("union_by_name_binary", "binary", _UNION_BY_NAME),
    ("limit_percent_maxrows2", "maxrows2", _LIMIT_PERCENT),
    ("limit_percent_binary", "binary", _LIMIT_PERCENT),
    ("with_recursive_maxrows2", "maxrows2", _WITH_RECURSIVE),
]


class _Raw:
    """Blocking socket speaking just enough pg-wire to record every
    backend message (type byte, payload) up to ReadyForQuery."""

    def __init__(self, port: int) -> None:
        self.sock = socket.create_connection(("127.0.0.1", port), timeout=120)
        body = struct.pack("!I", 196608) + b"user\x00spark\x00database\x00main\x00\x00"
        self.sock.sendall(struct.pack("!I", len(body) + 4) + body)
        self.until_ready()

    def recv(self, n: int) -> bytes:
        buf = b""
        while len(buf) < n:
            chunk = self.sock.recv(n - len(buf))
            if not chunk:
                raise ConnectionError("server closed")
            buf += chunk
        return buf

    def msg(self) -> tuple[str, bytes]:
        tag = self.recv(1).decode()
        (length,) = struct.unpack("!I", self.recv(4))
        return tag, self.recv(length - 4)

    def send(self, tag: bytes, payload: bytes) -> None:
        self.sock.sendall(tag + struct.pack("!I", len(payload) + 4) + payload)

    def until(self, stop: str) -> list[tuple[str, bytes]]:
        out = []
        while True:
            tag, body = self.msg()
            out.append((tag, body))
            if tag in stop:
                return out

    def until_ready(self) -> list[tuple[str, bytes]]:
        return self.until("Z")

    def simple(self, sql: str) -> list[tuple[str, bytes]]:
        self.send(b"Q", sql.encode() + b"\x00")
        return self.until_ready()

    def extended(self, sql: str, *, maxrows: int, binary: bool) -> list[tuple[str, bytes]]:
        self.send(b"P", b"\x00" + sql.encode() + b"\x00" + struct.pack("!H", 0))
        fmts = struct.pack("!HH", 1, 1) if binary else struct.pack("!H", 0)
        self.send(b"B", b"\x00\x00" + struct.pack("!HH", 0, 0) + fmts)
        self.send(b"D", b"P\x00")
        out = []
        while True:
            self.send(b"E", b"\x00" + struct.pack("!i", maxrows))
            self.send(b"H", b"")
            got = self.until("sCE")
            out += got
            if got[-1][0] != "s":
                break
        self.send(b"S", b"")
        return out + self.until_ready()

    def close(self) -> None:
        self.send(b"X", b"")
        self.sock.close()


def _record(msgs: list[tuple[str, bytes]], shape_only: bool) -> dict:
    """Non-DataRow messages verbatim (hex); DataRows as a count, the
    sha256 of their concatenated bytes and the first three verbatim."""
    rows = [body for tag, body in msgs if tag == "D"]
    rec: dict = {
        "messages": [
            [tag, body.hex()] for tag, body in msgs if tag != "D" and tag != "Z"
        ],
        "data_rows": len(rows),
    }
    if shape_only:
        rec["columns_per_row"] = sorted({struct.unpack("!H", b[:2])[0] for b in rows})
    else:
        rec["data_sha256"] = hashlib.sha256(b"".join(rows)).hexdigest()
        rec["first_rows"] = [b.hex() for b in rows[:3]]
    return rec


def capture(port: int) -> dict:
    c = _Raw(port)
    try:
        out = {}
        for name, kind, sql in CASES:
            if kind in ("simple", "shape"):
                msgs = c.simple(sql)
            else:
                msgs = c.extended(
                    sql, maxrows=2 if kind == "maxrows2" else 0, binary=kind == "binary"
                )
            out[name] = _record(msgs, kind == "shape")
        return out
    finally:
        c.close()


def _free_port() -> int:
    with socket.socket() as s:
        s.bind(("127.0.0.1", 0))
        return s.getsockname()[1]


def run_server_and_capture(work: Path) -> dict:
    """Start ``python -m duckdb_pgwire_spark.server`` in ``work`` (its own
    warehouse and temp dirs), capture, and stop its process group."""
    port = _free_port()
    for d in ("cwd", "tmp", "local"):
        (work / d).mkdir(parents=True, exist_ok=True)
    env = dict(
        os.environ,
        PYTHONPATH=os.pathsep.join(filter(None, [str(REPO), os.environ.get("PYTHONPATH")])),
        PYSPARK_PYTHON=sys.executable,
        SPARK_GRAFT_CPUS="2",
        SPARK_GRAFT_DRIVER_MEM="1g",
        SPARK_LOCAL_DIRS=str(work / "local"),
        TMPDIR=str(work / "tmp"),
        JAVA_TOOL_OPTIONS=f"-Djava.io.tmpdir={work / 'tmp'}",
        TZ="UTC",
    )
    log = open(work / "server.log", "wb")
    proc = subprocess.Popen(
        [sys.executable, "-m", "duckdb_pgwire_spark.server", "--port", str(port),
         "--sf-dir", SF_DIR, "--catalog-dir", "none"],
        cwd=work / "cwd", env=env, stdout=log, stderr=subprocess.STDOUT,
        stdin=subprocess.DEVNULL, start_new_session=True,
    )
    try:
        deadline = time.monotonic() + 180
        while True:
            assert proc.poll() is None, (work / "server.log").read_text()[-2000:]
            assert time.monotonic() < deadline, "server not ready in 180 s"
            try:
                socket.create_connection(("127.0.0.1", port), timeout=5).close()
                break
            except OSError:
                time.sleep(0.1)
        return capture(port)
    finally:
        try:
            os.killpg(proc.pid, signal.SIGTERM)
            proc.wait(30)
        except (ProcessLookupError, subprocess.TimeoutExpired):
            os.killpg(proc.pid, signal.SIGKILL)
            proc.wait()
        log.close()


@pytest.mark.skipif(not Path(SF_DIR).exists(), reason="sf0.01 fixture data missing")
def test_wire_bytes_match_golden(tmp_path):
    want = json.loads(GOLDEN.read_text())
    got = run_server_and_capture(tmp_path)
    assert sorted(got) == sorted(want)
    for name in want:
        assert got[name] == want[name], name


if __name__ == "__main__":
    import tempfile

    with tempfile.TemporaryDirectory() as d:
        data = run_server_and_capture(Path(d))
    GOLDEN.parent.mkdir(exist_ok=True)
    GOLDEN.write_text(json.dumps(data, indent=1, sort_keys=True) + "\n")
    print(f"wrote {GOLDEN} ({len(data)} cases)")
