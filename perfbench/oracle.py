"""DuckDB check of wire results, run outside the timed region.

Each result is reduced to (row count, order-insensitive hash of canonical
rows). Canonical cells: NULL stays None; numbers become the shortest
repr of their float value, or the integer when it is whole (so an engine
that returns DOUBLE 23.0 where the other returns INTEGER 23 still
agrees); timestamps and dates use ISO text; booleans 't'/'f'.
"""

from __future__ import annotations

import datetime as dt
import decimal
import hashlib
import os
import struct

import duckdb

from wire import decode_rows

_NUMERIC_OIDS = {20, 21, 23, 26, 700, 701, 1700}
_TS_OIDS = {1114, 1184}


def _num(x: float) -> str:
    if x != x or x in (float("inf"), float("-inf")):
        return repr(x)
    if x.is_integer() and abs(x) < 2**53:
        return str(int(x))
    return repr(x)


def _wire_cell(text: str | None, oid: int):
    if text is None:
        return None
    if oid in _NUMERIC_OIDS:
        return _num(float(text))
    if oid in _TS_OIDS:
        return dt.datetime.fromisoformat(text).isoformat(" ")
    return text


def _duck_cell(v):
    if v is None:
        return None
    if isinstance(v, bool):
        return "t" if v else "f"
    if isinstance(v, int | float | decimal.Decimal):
        return _num(float(v))
    if isinstance(v, dt.datetime):
        return v.isoformat(" ")
    if isinstance(v, dt.date):
        return v.isoformat()
    return str(v)


def digest(rows: list[tuple]) -> tuple[int, str]:
    canon = sorted(repr(r) for r in rows)
    return len(canon), hashlib.sha1("\n".join(canon).encode()).hexdigest()


def wire_rows(raw: list[bytes], oids: list[int]) -> list[tuple]:
    return [
        tuple(_wire_cell(c, o) for c, o in zip(row, oids))
        for row in decode_rows(raw)
    ]


def raw_digest(raw: list[bytes]) -> str:
    """Order-insensitive hash of undecoded DataRows: equal raw digests
    mean equal results, so only one of them needs decoding."""
    h = hashlib.sha1()
    for row in sorted(raw):
        h.update(struct.pack("!I", len(row)) + row)
    return h.hexdigest()


class Mirror:
    """An in-memory DuckDB over the run's parquet tables."""

    def __init__(self, data_dir: str, tables: list[str]):
        self.con = duckdb.connect(":memory:", config={"threads": "1"})
        self.con.execute("SET TimeZone = 'UTC'")
        for t in tables:
            path = os.path.join(data_dir, f"{t}.parquet")
            self.con.execute(f"CREATE VIEW {t} AS SELECT * FROM read_parquet('{path}')")

    def rows(self, sql: str, params: list | None = None) -> list[tuple]:
        """Result rows as canonical tuples."""
        rows = self.con.execute(sql, params or []).fetchall()
        return [tuple(_duck_cell(v) for v in r) for r in rows]

    def execute_dml(self, sql: str) -> int:
        return self.con.execute(sql).fetchone()[0]

    def copy_from(self, table: str, data: bytes, scratch: str) -> int:
        path = os.path.join(scratch, "mirror_copy.tsv")
        with open(path, "wb") as f:
            f.write(data)
        try:
            return self.con.execute(
                f"COPY {table} FROM '{path}' (DELIMITER '\t', NULL '\\N', HEADER false)"
            ).fetchone()[0]
        finally:
            os.unlink(path)

    def close(self) -> None:
        self.con.close()
