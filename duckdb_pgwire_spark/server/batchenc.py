"""Column-at-a-time encoding of result rows into framed DataRow messages.

A result reaches the socket in bursts of up to 1024 rows. Each burst is
turned into the bytes of its DataRow messages in one call, column by
column:

- Arrow record batches (the streamed results, app._ServedRows): the text
  of BIGINT/INT/SMALLINT/TINYINT, VARCHAR and DOUBLE columns comes from
  vectorised pyarrow/numpy kernels;
  every other column, and every binary-format column, is converted to
  Python values (pyspark's ArrowTableToRowsConversion) and encoded cell
  by cell with typemap's encoders.
- Rows (the collected results): every cell through typemap's encoders.

typemap.py stays the one definition of each type's text; a kernel
covers only the values whose text it reproduces byte for byte and hands
the rest of its column to the per-cell encoder (tests/test_batchenc.py
checks the two against each other).

A column's cells are held as a NULL mask plus a list of *parts*: byte
buffers with a start offset and a length per row. A cell is the
concatenation of its parts, so a kernel can append a suffix (DOUBLE's
".0") or swap in a per-cell fallback without copying its column. The
framer then writes every message of the burst into one buffer with
numpy scatters.
"""

from __future__ import annotations

from collections.abc import Callable
from typing import Any, NamedTuple

import numpy as np
import pyarrow as pa
from pyspark.sql import types as T

from . import protocol as P
from .typemap import _enc_float, encode_binary, text_cell_encoder

# kernel-covered Spark types (text format only)
_INT_TYPES = (T.LongType, T.IntegerType, T.ShortType, T.ByteType)



class _Part(NamedTuple):
    data: np.ndarray  # uint8 buffer
    starts: np.ndarray  # int64 per row: offset of the row's bytes
    lens: np.ndarray  # int64 per row: length (0 for NULL)


class _Cells(NamedTuple):
    null: np.ndarray | None  # bool per row, None: no NULLs
    parts: list[_Part]


_EMPTY = np.zeros(0, np.uint8)
_LARGE_IDS = (pa.large_string().id, pa.large_binary().id)
# the kernels' casts allocate from malloc, not from pyarrow's default
# jemalloc pool, whose retained pages showed in the server's peak RSS
_POOL = pa.system_memory_pool()


def _u8(buf: Any) -> np.ndarray:
    return _EMPTY if buf is None else np.frombuffer(buf, np.uint8)


def _null_mask(arr) -> np.ndarray | None:
    if arr.null_count == 0:
        return None
    bits = np.unpackbits(_u8(arr.buffers()[0]), bitorder="little")
    return bits[arr.offset : arr.offset + len(arr)] == 0


def _string_part(arr) -> _Part:
    """The bytes of a string/binary Arrow array as one part (no copy)."""
    n = len(arr)
    wide = arr.type.id in _LARGE_IDS
    bufs = arr.buffers()
    offs = np.frombuffer(
        bufs[1], np.int64 if wide else np.int32, count=n + 1, offset=arr.offset * (8 if wide else 4)
    ).astype(np.int64)
    return _Part(_u8(bufs[2]), offs[:-1], np.diff(offs))


def _python_cells(values: list, enc: Callable[[Any], bytes | None]) -> _Cells:
    """Cells of Python values through a per-cell encoder."""
    cells = [enc(v) for v in values]
    null = np.fromiter((c is None for c in cells), bool, len(cells))
    lens = np.fromiter((0 if c is None else len(c) for c in cells), np.int64, len(cells))
    data = np.frombuffer(b"".join(c for c in cells if c is not None), np.uint8)
    starts = np.cumsum(lens) - lens
    return _Cells(null if null.any() else None, [_Part(data, starts, lens)])


def _patch(cells: _Cells, rows: np.ndarray, fallback: list[bytes]) -> _Cells:
    """``cells`` with the non-NULL ``rows`` replaced by ``fallback``
    (their per-cell encodings): the kernel's parts drop those rows and a
    last part carries them."""
    if not len(rows):
        return cells
    parts = []
    for p in cells.parts:
        lens = p.lens.copy()
        lens[rows] = 0
        parts.append(_Part(p.data, p.starts, lens))
    n = len(cells.parts[0].lens)
    lens = np.zeros(n, np.int64)
    lens[rows] = [len(b) for b in fallback]
    starts = np.zeros(n, np.int64)
    starts[rows] = np.cumsum(lens[rows]) - lens[rows]
    parts.append(_Part(np.frombuffer(b"".join(fallback), np.uint8), starts, lens))
    return _Cells(cells.null, parts)


# ------------------------------------------------------------- kernels


def _kernel_string(arr) -> _Cells:
    return _Cells(_null_mask(arr), [_string_part(arr)])


def _kernel_cast(arr) -> _Cells:
    """Integers: Arrow's decimal text is str(int)."""
    return _Cells(_null_mask(arr), [_string_part(arr.cast(pa.string(), memory_pool=_POOL))])


_DOT_ZERO = np.frombuffer(b".0", np.uint8)


def _kernel_double(arr) -> _Cells:
    """DOUBLE: Arrow's shortest round-trip text equals repr() where both
    print positional notation — finite values with 1e-4 ≤ |v| < 1e16,
    and zero — once ".0" is appended to the integral ones. Arrow also
    prints some of those in exponent form (1e+15); they, and every
    value outside that range, take _enc_float."""
    n = len(arr)
    null = _null_mask(arr)
    v = np.frombuffer(arr.buffers()[1], np.float64, count=n, offset=arr.offset * 8)
    text = _string_part(arr.cast(pa.string(), memory_pool=_POOL))
    a = np.abs(v)
    with np.errstate(invalid="ignore"):
        plain = ((a >= 1e-4) & (a < 1e16)) | (v == 0)
    # which rows' text holds an exponent or a decimal point
    row_of = np.repeat(np.arange(n), text.lens)
    body = text.data[text.starts[0] : text.starts[0] + text.lens.sum()] if n else _EMPTY
    has_e = np.zeros(n, bool)
    has_e[row_of[body == ord("e")]] = True
    has_dot = np.zeros(n, bool)
    has_dot[row_of[body == ord(".")]] = True
    plain &= ~has_e
    if null is not None:
        plain |= null  # a NULL cell has no text to fix
    suffix = np.where(plain & ~has_dot, 2, 0).astype(np.int64)
    if null is not None:
        suffix[null] = 0
    cells = _Cells(null, [text, _Part(_DOT_ZERO, np.zeros(n, np.int64), suffix)])
    rows = np.flatnonzero(~plain)
    return _patch(cells, rows, [_enc_float(float(v[r])).encode() for r in rows])


def _kernel_for(dt: T.DataType) -> Callable | None:
    if isinstance(dt, _INT_TYPES):
        return _kernel_cast
    if isinstance(dt, T.StringType | T.VarcharType | T.CharType):
        return _kernel_string
    if isinstance(dt, T.DoubleType):
        return _kernel_double
    return None


# ------------------------------------------------------------ per cell


def _cell_encoder(dt: T.DataType, fmt: int) -> Callable[[Any], bytes | None]:
    if fmt == 1:
        return lambda v: encode_binary(v, dt)
    return text_cell_encoder(dt)


def _per_cell(arr, dt: T.DataType, fmt: int) -> _Cells:
    from pyspark.sql.conversion import ArrowTableToRowsConversion

    values = arr.to_pylist()
    conv = ArrowTableToRowsConversion._create_converter(dt, none_on_identity=True)
    if conv is not None:
        values = [conv(v) for v in values]
    return _python_cells(values, _cell_encoder(dt, fmt))


# ------------------------------------------------------------- framing

_R4 = np.arange(4)


def _put(out: np.ndarray, pos: np.ndarray, vals: np.ndarray, fmt: str) -> None:
    """Big-endian ``vals`` (numpy ``fmt``) written at byte offsets ``pos``."""
    width = np.dtype(fmt).itemsize
    b = vals.astype(fmt).view(np.uint8).reshape(-1, width)
    out[pos[:, None] + _R4[:width]] = b


def _scatter(out: np.ndarray, pos: np.ndarray, part: _Part) -> None:
    """Each row's bytes of ``part`` copied to ``out`` at ``pos``."""
    lens = part.lens
    total = int(lens.sum())
    if not total:
        return
    step = np.arange(total) - np.repeat(np.cumsum(lens) - lens, lens)
    out[np.repeat(pos, lens) + step] = part.data[np.repeat(part.starts, lens) + step]


def frame(n: int, columns: list[_Cells]) -> bytes:
    """The DataRow messages of ``n`` rows whose columns are ``columns``:
    'D', int32 length, int16 column count, then per column an int32
    length (-1: NULL) and the cell's bytes."""
    if not n:
        return b""
    if any(c.null is not None for c in columns):
        # an Arrow NULL slot may still span bytes: a NULL cell has none
        columns = [
            c if c.null is None else _Cells(
                c.null, [_Part(p.data, p.starts, np.where(c.null, 0, p.lens)) for p in c.parts]
            )
            for c in columns
        ]
    lens = [sum(p.lens for p in c.parts) for c in columns]
    body = 6 + 4 * len(columns) + sum(lens, np.zeros(n, np.int64))
    size = body + 1
    start = np.cumsum(size) - size
    out = np.empty(int(size.sum()), np.uint8)
    out[start] = ord("D")
    _put(out, start + 1, body, ">i4")
    _put(out, start + 5, np.full(n, len(columns)), ">i2")
    pos = start + 7
    for c, ln in zip(columns, lens):
        _put(out, pos, ln if c.null is None else np.where(c.null, -1, ln), ">i4")
        pos = pos + 4
        for p in c.parts:
            _scatter(out, pos, p)
            pos = pos + p.lens
    return out.tobytes()


class ResultEncoder:
    """The encoder of one result: the kept columns (position in the
    result, Spark type) in the portal's result formats."""

    def __init__(self, kept: list[tuple[int, T.DataType]], result_fmts: list[int]) -> None:
        fmts = P.expand_formats(result_fmts, len(kept))
        self.columns = [(i, dt, fmt) for (i, dt), fmt in zip(kept, fmts)]
        # text cells for format 0; nested-array columns get the
        # rectangularity-checked encoder so the wire never carries a
        # literal inconsistent with the advertised array OID
        self.cells = [(i, _cell_encoder(dt, fmt)) for i, dt, fmt in self.columns]
        self.kernels = [
            _kernel_for(dt) if fmt == 0 else None for _, dt, fmt in self.columns
        ]

    def rows(self, rows: list) -> bytes:
        """Collected rows, cell by cell."""
        return b"".join(
            P.data_row([enc(row[i]) for i, enc in self.cells]) for row in rows
        )

    def batch(self, rb) -> bytes:
        """An Arrow record batch, column at a time."""
        cols = []
        for (i, dt, fmt), kernel in zip(self.columns, self.kernels):
            arr = rb.column(i)
            cols.append(kernel(arr) if kernel is not None else _per_cell(arr, dt, fmt))
        return frame(rb.num_rows, cols)
