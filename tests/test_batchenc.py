"""Column-at-a-time DataRow encoding (server/batchenc.py) against the
per-cell encoders of typemap.py, byte for byte.

The kernels cover BIGINT/INT/SMALLINT/TINYINT, VARCHAR and DOUBLE in
text format (every other type goes per cell); the reference is the same
Arrow batch converted to Python values (pyspark's
ArrowTableToRowsConversion) and encoded cell by cell (text_cell_encoder / encode_binary), framed by
protocol.data_row. The batches come from the server's own stream
(app._ServedRows) over a type matrix with NULLs, every registry oracle
statement that passes over the wire, and the compat battery.
"""

from __future__ import annotations

import json
import math
import struct
from pathlib import Path

import pyarrow as pa
from hypothesis import given, settings
from hypothesis import strategies as st
from pyspark.sql import types as T
from pyspark.sql.conversion import ArrowTableToRowsConversion

from duckdb_pgwire_spark.server import app
from duckdb_pgwire_spark.server.batchenc import ResultEncoder
from duckdb_pgwire_spark.server.typemap import _enc_float

from .conftest import SF_DIR

REPO = Path(__file__).resolve().parents[1]


def _messages(framed: bytes) -> list[bytes]:
    out, off = [], 0
    while off < len(framed):
        assert framed[off : off + 1] == b"D"
        (ln,) = struct.unpack_from("!I", framed, off + 1)
        out.append(framed[off : off + 1 + ln])
        off += 1 + ln
    return out


def _encode(enc: ResultEncoder, encode) -> bytes | type:
    try:
        return encode(enc)
    except ValueError:  # an unservable shape (ragged binary array) refuses
        return ValueError


def _check_batches(df, fmts_list=((), (1,))) -> int:
    """Stream ``df`` through _ServedRows and compare, per batch and per
    result format, the kernels' bytes with the per-cell reference.
    Returns the row count."""
    kept = [(i, f.dataType) for i, f in enumerate(df.schema.fields)]
    served = app._ServedRows(df)
    n = 0
    try:
        while pieces := served.take(4096):
            for rb in pieces:
                rows = ArrowTableToRowsConversion.convert(
                    pa.Table.from_batches([rb]), df.schema, return_as_tuples=True
                )
                for fmts in fmts_list:
                    enc = ResultEncoder(kept, list(fmts))
                    got = _encode(enc, lambda e: e.batch(rb))
                    want = _encode(enc, lambda e: e.rows(rows))
                    assert got == want, (fmts, rb.schema)
                n += rb.num_rows
    finally:
        served.close()
    return n


# ------------------------------------------------------------- DOUBLE

_DOUBLES = [
    0.0, -0.0, 1e-5, 1e-4, 0.1, 1e15, 1e16, 5e-324, 1.7976931348623157e308,
    -1.7976931348623157e308, math.nan, math.inf, -math.inf, 123.0, 1 / 3,
    2.5e-4, 9999999999999998.0, 1e10, 123456789.0, -0.5, 0.00012, 1e-4 - 1e-20,
]


def _double_cells(values: list[float | None]) -> tuple[bytes, bytes]:
    rb = pa.RecordBatch.from_arrays([pa.array(values, pa.float64())], ["d"])
    enc = ResultEncoder([(0, T.DoubleType())], [])
    return enc.batch(rb), enc.rows([(v,) for v in values])


def test_double_kernel_matches_repr():
    got, want = _double_cells(_DOUBLES + [None])
    assert got == want
    texts = [m[11:].decode() for m in _messages(got)[:-1]]
    assert texts == [_enc_float(v) for v in _DOUBLES]
    assert texts[:3] == ["0.0", "-0.0", "1e-05"]


@settings(max_examples=300, deadline=None)
@given(st.lists(st.integers(0, 2**64 - 1), min_size=1, max_size=40))
def test_double_kernel_random_bit_patterns(bits):
    values = [struct.unpack("<d", struct.pack("<Q", b))[0] for b in bits]
    got, want = _double_cells(values)
    assert got == want, [repr(v) for v in values]


def test_collected_and_streamed_rows_frame_alike():
    """Slices (a batch's offset ≠ 0), NULL slots and an empty burst."""
    rb = pa.RecordBatch.from_arrays(
        [
            pa.array([1, None, -(2**63), 2**63 - 1, 0], pa.int64()),
            pa.array(["é", "", None, "x\ty", "𝔘"], pa.string()),
            pa.array([None, 0.5, 2.0, None, -1e300], pa.float64()),
        ],
        ["a", "b", "c"],
    )
    schema = T.StructType(
        [T.StructField("a", T.LongType()), T.StructField("b", T.StringType()),
         T.StructField("c", T.DoubleType())]
    )
    kept = [(i, f.dataType) for i, f in enumerate(schema.fields)]
    for fmts in ([], [1], [0, 1, 0]):
        enc = ResultEncoder(kept, fmts)
        for lo, hi in ((0, 5), (1, 4), (3, 5), (2, 2)):
            piece = rb.slice(lo, hi - lo)
            rows = ArrowTableToRowsConversion.convert(
                pa.Table.from_batches([piece]), schema, return_as_tuples=True
            )
            assert enc.batch(piece) == enc.rows(rows), (fmts, lo, hi)


# ------------------------------------------------------ type matrix

_MATRIX = """
SELECT
  id,
  CASE WHEN id % 5 = 0 THEN NULL ELSE CAST(id * 7919 - 20000 AS BIGINT) END AS i64,
  CASE WHEN id % 5 = 1 THEN NULL WHEN id = 2 THEN 2147483647 WHEN id = 3 THEN -2147483648
       ELSE CAST(id AS INT) END AS i32,
  CASE WHEN id = 2 THEN CAST(32767 AS SMALLINT) WHEN id = 3 THEN CAST(-32768 AS SMALLINT)
       WHEN id % 5 = 2 THEN NULL ELSE CAST(id AS SMALLINT) END AS i16,
  CASE WHEN id = 2 THEN CAST(127 AS TINYINT) WHEN id = 3 THEN CAST(-128 AS TINYINT)
       WHEN id % 5 = 3 THEN NULL ELSE CAST(id % 100 AS TINYINT) END AS i8,
  CASE WHEN id = 2 THEN 9223372036854775807 WHEN id = 3 THEN -9223372036854775808
       ELSE id END AS i64x,
  CASE WHEN id % 4 = 0 THEN NULL WHEN id % 4 = 1 THEN '' WHEN id % 4 = 2 THEN 'Grüße, 𝔘ñí 한국'
       ELSE concat('v', id, '\\t"q\\\\') END AS s,
  CASE WHEN id % 6 = 0 THEN NULL WHEN id = 1 THEN DATE '0001-01-01' WHEN id = 2 THEN DATE '9999-12-31'
       ELSE date_add(DATE '1969-12-25', CAST(id * 37 AS INT)) END AS d,
  CASE WHEN id % 7 = 0 THEN NULL
       ELSE element_at(array(0.0, -0.0, 1e-5, 1e-4, 0.1, 1e15, 1e16, 5e-324,
                             1.7976931348623157e308, double('NaN'), double('Infinity'),
                             double('-Infinity'), 1.0 / 3, 12345.5, 100.0),
                       CAST(id % 15 + 1 AS INT)) END AS dbl,
  CASE WHEN id % 8 = 0 THEN NULL
       ELSE TIMESTAMP_NTZ '2020-02-29 12:34:56' + make_dt_interval(0, 0, 0, (id % 3) * 0.5 + (id % 2) * 0.000001) END AS tsn,
  CASE WHEN id = 1 THEN TIMESTAMP_NTZ '0001-01-01 00:00:00.5' WHEN id = 2 THEN TIMESTAMP_NTZ '9999-12-31 23:59:59.999999'
       ELSE TIMESTAMP_NTZ '1969-12-31 23:59:59.9' END AS tsn_edge,
  CASE WHEN id % 9 = 0 THEN NULL
       ELSE TIMESTAMP '2001-02-03 04:05:06' + make_dt_interval(0, 0, 0, (id % 4) * 0.1) END AS ts,
  CAST(id / 7.0 AS FLOAT) AS f32,
  CAST(id AS DECIMAL(10, 0)) AS dec0, CAST(id / 3 AS DECIMAL(12, 2)) AS dec2,
  CAST(id / 3 AS DECIMAL(20, 7)) AS dec7,
  CAST(id / 100000 AS DECIMAL(38, 38)) AS dec38,
  CASE WHEN id % 3 = 0 THEN NULL ELSE make_dt_interval(id % 4, 1, 2, 3.5) END AS ivl,
  CASE WHEN id % 5 = 4 THEN NULL ELSE array(array(id, NULL), array(1, 2)) END AS nested,
  CASE WHEN id % 5 = 4 THEN NULL ELSE array(CAST(id AS DOUBLE), NULL) END AS arr,
  map('k', id, 'z', NULL) AS m,
  named_struct('a', id, 'b', CASE WHEN id % 2 = 0 THEN NULL ELSE 'q' END) AS st,
  named_struct('__ecode', id % 3, '__elabel_mood', element_at(array('sad', 'ok', 'happy'), CAST(id % 3 + 1 AS INT))) AS enum_col,
  named_struct('__utag', 'num', 'num', id) AS union_col,
  CASE WHEN id % 2 = 0 THEN '0101' ELSE '1' END AS bit_col,
  CASE WHEN id % 4 = 0 THEN NULL ELSE X'00ff10' END AS bin,
  id % 3 = 0 AS flag
FROM range(0, 2500) AS t(id)
"""


def test_type_matrix_kernels_match_per_cell(spark):
    df = spark.sql(_MATRIX)
    assert _check_batches(df) == 2500
    # and the values Arrow carries are the values the row path read; a
    # map is left out: Arrow keeps its entries' order, a pickled Row's
    # dict has Java HashMap order
    df = df.drop("m")
    kept = [(i, f.dataType) for i, f in enumerate(df.schema.fields)]
    enc = ResultEncoder(kept, [])
    served = app._ServedRows(df)
    try:
        streamed = b"".join(enc.batch(rb) for rb in served.take(3000))
    finally:
        served.close()
    assert streamed == enc.rows(df.orderBy("id").collect())


def test_repeated_struct_field_names_stream(spark):
    df = spark.sql(
        "SELECT id, named_struct('a', id, 'a', 'x') AS s, id AS id FROM range(3) t(id)"
    )
    kept = [(i, f.dataType) for i, f in enumerate(df.schema.fields)]
    served = app._ServedRows(df)
    try:
        got = b"".join(ResultEncoder(kept, []).batch(rb) for rb in served.take(10))
    finally:
        served.close()
    assert got == ResultEncoder(kept, []).rows(df.collect())
    assert b'{"a":"x"}' in got  # json.dumps keeps the last of a repeated key


# ---------------------------------------- registry and compat battery


def _wire_oracles() -> dict[str, str]:
    from duckdb_pgwire_spark.registry import load_all

    excluded = json.loads((REPO / "perfbench" / "excluded.json").read_text())
    failing = {f["name"] for f in excluded["failed_over_wire"]}
    return {
        n: d.oracle
        for n, d in sorted(load_all().items())
        if d.oracle and n not in failing
    }


def test_registry_results_kernels_match_per_cell(spark):
    """Every registry oracle statement that passes over the wire,
    planned by the server's statement path."""
    from duckdb_pgwire_spark.functions.udfs import register_udfs
    from duckdb_pgwire_spark.session import register_views

    register_views(spark, SF_DIR)
    register_udfs(spark)
    server = app.PgWireServer(spark, host="127.0.0.1", port=0)
    state = app._ConnState()
    rows = {}
    for name, sql in _wire_oracles().items():
        stmt = app.split_statements(sql)[-1]
        _, df = server._plan(stmt, spark, state)
        assert isinstance(df, app.DataFrame), name
        rows[name] = _check_batches(df)
    assert len(rows) >= 140 and sum(rows.values()) > 10_000


def test_battery_results_kernels_match_per_cell(spark):
    from duckdb_pgwire_spark.functions.udfs import register_udfs
    from duckdb_pgwire_spark.server.compat import rewrite
    from duckdb_pgwire_spark.session import register_views

    from .test_compat_battery import BATTERY

    register_views(spark, SF_DIR)
    register_udfs(spark)
    checked = 0
    for sql in BATTERY:
        try:
            df = spark.sql(rewrite(sql))
        except Exception:  # noqa: BLE001 — the battery checks its own errors
            continue
        try:
            _check_batches(df)
        except AssertionError:
            raise
        except Exception:  # noqa: BLE001 — a statement that fails at run time
            continue
        checked += 1
    assert checked > len(BATTERY) // 2
