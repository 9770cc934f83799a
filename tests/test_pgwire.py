"""pg-wire front-end tests (SURVEY.md §5.2 items 2-4).

- byte-level protocol encoding units (the gap the reference's own README
  leaves unchecked: "PGWire unit tests", /root/reference/README.md:23);
- dialect-compat rewrites;
- E2E over a real socket replicating the reference's Go client
  statement-for-statement (client/go/cmd/simple/main.go:23-43);
- the reference's drop-unmapped-columns quirk, documented under
  reference_compat=True (SURVEY.md §1.2).
"""

from __future__ import annotations

import asyncio
import struct
import threading

import pytest

from duckdb_pgwire_spark.server import protocol as P
from duckdb_pgwire_spark.server.compat import rewrite, split_statements
from duckdb_pgwire_spark.server.typemap import encode_text

from .conftest import SF_DIR

# ------------------------------------------------------------- protocol units


def test_data_row_encoding():
    msg = P.data_row([b"abc", None, b""])
    assert msg[0:1] == b"D"
    (length,) = struct.unpack("!I", msg[1:5])
    assert length == len(msg) - 1
    body = msg[5:]
    assert struct.unpack("!H", body[:2]) == (3,)
    assert body[2:9] == struct.pack("!i", 3) + b"abc"
    assert body[9:13] == struct.pack("!i", -1)  # NULL cell
    assert body[13:17] == struct.pack("!i", 0)  # empty ≠ NULL


def test_row_description_encoding():
    msg = P.row_description([P.FieldDesc("n", 23)])
    body = msg[5:]
    assert struct.unpack("!H", body[:2]) == (1,)
    assert body[2:4] == b"n\x00"
    table_oid, attnum, oid, typlen, typmod, fmt = struct.unpack("!IhIhih", body[4:22])
    assert (table_oid, attnum, oid, typlen, typmod, fmt) == (0, 0, 23, -1, -1, 0)


def test_error_response_fields():
    msg = P.error_response("boom", "42601")
    assert msg[0:1] == b"E"
    parts = msg[5:].split(b"\x00")
    assert b"C42601" in parts and b"Mboom" in parts


def test_encode_text_values():
    import datetime as dt
    from decimal import Decimal

    assert encode_text(True) == "t" and encode_text(False) == "f"
    assert encode_text(1.5) == "1.5"
    assert encode_text(float("nan")) == "NaN"
    assert encode_text(Decimal("1.20")) == "1.20"
    assert encode_text(dt.date(2024, 1, 2)) == "2024-01-02"
    assert encode_text(dt.datetime(2024, 1, 2, 3, 4, 5)) == "2024-01-02 03:04:05"
    assert encode_text(b"\x01\xff") == "\\x01ff"
    assert encode_text([1, None, 2]) == "{1,NULL,2}"
    assert encode_text(["a b", "c"]) == '{"a b",c}'


# ------------------------------------------------------------- compat rewrites


def test_rewrite_generate_series_from():
    out = rewrite("select 'euiko' from generate_series(0, 10)")
    assert "explode(" in out and "sequence(0, 10" in out
    assert "generate_series(" not in out
    # empty-series guard: DuckDB generate_series(1, 0) is [] — Spark's
    # bare sequence(1, 0) would silently count DOWN
    assert "CASE WHEN" in rewrite("SELECT generate_series(1, 0)")


def test_rewrite_cast_colons():
    assert rewrite("SELECT x::int FROM t") == "SELECT CAST(x AS int) FROM t"
    # never inside string literals
    assert rewrite("SELECT 'a::b'") == "SELECT 'a::b'"


def test_interval_text_rendering_matches_duckdb():
    """encode_text of a day-time interval pins DuckDB's probed
    interval::VARCHAR forms EXACTLY (independent of the probe's
    comparator, which normalizes both sides through this function —
    code review r8: a self-certified encoder defect must be caught
    here, not by the census)."""
    import datetime as dt

    from duckdb_pgwire_spark.server.typemap import encode_text

    cases = [
        (dt.timedelta(seconds=90), "00:01:30"),
        (dt.timedelta(seconds=-2), "-00:00:02"),
        (dt.timedelta(days=3), "3 days"),
        (dt.timedelta(days=1), "1 day"),
        (dt.timedelta(days=3, seconds=5), "3 days 00:00:05"),
        (dt.timedelta(days=-3), "-3 days"),
        (dt.timedelta(days=-3, seconds=-2), "-3 days -00:00:02"),
        (dt.timedelta(seconds=1.5), "00:00:01.5"),
        (dt.timedelta(microseconds=1), "00:00:00.000001"),
        (dt.timedelta(0), "00:00:00"),
        # Spark's micros quantity is normalized: 26 h renders with the
        # day split out (DuckDB's un-normalized component would show
        # '26:00:00' — equal value, canonical componentization)
        (dt.timedelta(hours=26), "1 day 02:00:00"),
    ]
    # every expected string (except the documented 26h normalization)
    # IS DuckDB's own ::VARCHAR rendering of the same value
    import duckdb

    con = duckdb.connect()
    for td, want in cases[:-1]:
        total = td // dt.timedelta(microseconds=1)
        sgn = -1 if total < 0 else 1
        days, rem = divmod(abs(total), 86_400_000_000)
        got = con.execute(
            f"SELECT (to_days(CAST({sgn * days} AS INT)) + "
            f"to_microseconds({sgn * rem}))::VARCHAR"
        ).fetchone()[0]
        assert got == want, (td, got, want)
    con.close()
    for td, want in cases:
        assert encode_text(td) == want, (td, encode_text(td), want)


def test_rewrite_bare_varchar():
    assert rewrite("CREATE TABLE users(name varchar)") == "CREATE TABLE users(name STRING)"
    # r10 varchar-family rewrite: DuckDB IGNORES the (n) (probed:
    # 'abcd'::VARCHAR(2) = 'abcd'), Spark would silently truncate —
    # so VARCHAR(10) maps to length-less STRING too (this assertion
    # pinned the pre-r10 leave-it-alone behavior)
    assert rewrite("CREATE TABLE t(a varchar(10))") == "CREATE TABLE t(a STRING)"


def test_rewrite_distinct_on():
    out = rewrite(
        "SELECT DISTINCT ON (k) k, v FROM t ORDER BY k, v DESC"
    )
    assert (
        "row_number() OVER (PARTITION BY k ORDER BY k NULLS LAST, v DESC)" in out
    )
    assert out.startswith("SELECT k, v FROM (")


def test_rewrite_len_and_list_reverse_sort():
    assert rewrite("SELECT len(name) FROM t") == "SELECT length(name) FROM t"
    assert rewrite("SELECT list_reverse_sort([3,1,2]) AS s") == (
        "SELECT sort_array(array(3,1,2), false) AS s"  # bare [..] → array(..)
    )
    # nested call inside the argument; list_distinct drops NULLs like
    # DuckDB (late-r10 default-semantics closure)
    out = rewrite("SELECT list_reverse_sort(list_distinct(xs)) AS s FROM t")
    assert out == (
        "SELECT sort_array(array_compact(array_union(xs, slice(xs, 1, 0))),"
        " false) AS s FROM t"
    )
    # never inside string literals
    assert rewrite("SELECT 'len(x)'") == "SELECT 'len(x)'"


def test_rewrite_asof_join():
    out = rewrite("SELECT * FROM a ASOF JOIN b ON a.k = b.k AND a.ts >= b.ts")
    assert "JOIN LATERAL" in out and "ORDER BY b.ts DESC LIMIT 1" in out  # DESC: no NULLS append
    out = rewrite("SELECT * FROM a ASOF LEFT JOIN b x ON a.k = x.k AND a.ts < x.ts")
    assert "LEFT JOIN LATERAL" in out
    assert "ORDER BY x.ts ASC NULLS LAST LIMIT 1" in out
    # build side on the LEFT of the inequality: direction flips
    out = rewrite("SELECT * FROM a ASOF JOIN b ON a.k = b.k AND b.ts <= a.ts")
    assert "ORDER BY b.ts DESC LIMIT 1" in out
    # unparseable forms pass through untouched (fail loudly downstream)
    assert "ASOF" in rewrite("SELECT * FROM a ASOF JOIN b USING (k)")
    assert "ASOF" in rewrite(
        "SELECT * FROM a ASOF JOIN b ON a.ts >= b.ts AND a.t2 < b.t2"
    )
    # never inside string literals
    assert rewrite("SELECT 'ASOF JOIN'") == "SELECT 'ASOF JOIN'"


def test_split_statements():
    assert split_statements("a; b ; ;c") == ["a", "b", "c"]
    assert split_statements("SELECT ';'") == ["SELECT ';'"]


# ------------------------------------------------------------- E2E over socket


def _pgwire_client_module():
    import importlib.util
    from pathlib import Path

    spec = importlib.util.spec_from_file_location(
        "pgwire_client", Path(__file__).parent.parent / "scripts" / "pgwire_client.py"
    )
    mod = importlib.util.module_from_spec(spec)
    spec.loader.exec_module(mod)
    return mod


def _serve_in_thread(server):
    """Run ``server`` on an ephemeral port on its own event loop in a
    daemon thread. Returns (port, stop): stop() ends the server while
    its loop still runs, then stops, joins and closes the loop."""
    loop = asyncio.new_event_loop()
    started = threading.Event()
    holder: dict[str, int] = {}

    async def run():
        await server.start()
        holder["port"] = server._server.sockets[0].getsockname()[1]
        started.set()

    def thread_main():
        asyncio.set_event_loop(loop)
        loop.run_until_complete(run())
        loop.run_forever()  # connections served until loop.stop()

    t = threading.Thread(target=thread_main, daemon=True)
    t.start()
    assert started.wait(30)

    def stop():
        asyncio.run_coroutine_threadsafe(server.stop(), loop).result(10)
        loop.call_soon_threadsafe(loop.stop)
        t.join(10)
        loop.close()

    return holder["port"], stop


@pytest.fixture(scope="module")
def wire_server(spark, tmp_path_factory):
    """Run PgWireServer in-process (with a throwaway persistent-catalog
    dir, so every wire test also exercises the sidecar save path)."""
    from duckdb_pgwire_spark.functions.udfs import register_udfs
    from duckdb_pgwire_spark.server.app import PgWireServer
    from duckdb_pgwire_spark.session import register_views

    register_views(spark, SF_DIR)
    register_udfs(spark)
    server = PgWireServer(
        spark,
        host="127.0.0.1",
        port=0,
        catalog_dir=str(tmp_path_factory.mktemp("pgwire_catalog")),
    )
    port, stop = _serve_in_thread(server)
    yield port
    stop()


@pytest.fixture()
def client(wire_server):
    c = _pgwire_client_module().PgClient(port=wire_server)
    yield c
    c.close()


def test_wire_select_literal(client):
    (res,) = client.query("SELECT 1 AS one, 'x' AS s")
    assert res["columns"] == ["one", "s"]
    assert res["rows"] == [["1", "x"]]
    assert res["tag"] == "SELECT 1"
    assert res["oids"] == [23, 25]


def test_wire_reference_go_client_roundtrip(client, spark):
    """The reference's E2E, statement for statement
    (client/go/cmd/simple/main.go:23,27,31): CREATE TABLE users /
    INSERT ... FROM generate_series / SELECT * FROM users."""
    spark.sql("DROP TABLE IF EXISTS users")
    (r1,) = client.query("CREATE TABLE users(name varchar)")
    assert "error" not in r1, r1
    (r2,) = client.query(
        "INSERT INTO users(name) select 'euiko' from generate_series(0, 10)"
    )
    assert "error" not in r2, r2
    assert r2["tag"] == "INSERT 0 11", r2
    (r3,) = client.query("SELECT * FROM users")
    assert r3["columns"] == ["name"]
    assert r3["rows"] == [["euiko"]] * 11  # inclusive bounds: 11 rows
    assert r3["tag"] == "SELECT 11"
    spark.sql("DROP TABLE IF EXISTS users")


def test_wire_pg_compat_and_demo_udfs(client):
    """The reference's two registered functions over the wire
    (cpp:190-202) incl. the sqllogictest golden row
    (test/sql/duckdb_pgwire.test:16-18)."""
    (res,) = client.query("SELECT pg_is_in_recovery() AS r")
    assert res["rows"] == [["f"]]
    (res,) = client.query("SELECT duckdb_pgwire('Sam') AS g")
    assert res["rows"] == [["DuckdbPgwire Sam 🐥"]]


def test_wire_query_fixture_table(client):
    (res,) = client.query(
        "SELECT r_regionkey, r_name FROM region ORDER BY r_regionkey"
    )
    assert len(res["rows"]) == 5
    assert res["rows"][0][0] == "0"


def test_wire_error_then_recovers(client):
    (res,) = client.query("SELECT * FROM nonexistent_table_xyz")
    assert "error" in res
    (res,) = client.query("SELECT 2 AS two")
    assert res["rows"] == [["2"]]


def test_wire_multi_statement(client):
    r1, r2 = client.query("SELECT 1 AS a; SELECT 2 AS b")
    assert r1["rows"] == [["1"]] and r2["rows"] == [["2"]]


def test_wire_null_and_types(client):
    (res,) = client.query(
        "SELECT CAST(NULL AS int) AS n, true AS b, CAST(1.5 AS double) AS d, "
        "DATE '2024-01-02' AS dt"
    )
    assert res["rows"] == [[None, "t", "1.5", "2024-01-02"]]
    assert res["oids"] == [23, 16, 701, 1082]


def test_wire_bit_oid_and_float4_text(client):
    """r14: BIT-emulated outputs advertise PG's bit OID 1560 (scalar
    bit-function results stay TEXT/INT), and REAL columns render with
    the engine's Grisu3 float32 text — the value below is in the
    Grisu3-certification-failure class where the widened-double repr
    ('46977.562…') and plain shortest-float32 ('46977.562') both
    diverge from the engine's '46977.5625'."""
    (res,) = client.query(
        "SELECT '0101'::BIT AS b, '0101'::BIT & '0011'::BIT AS a,"
        " get_bit('0101'::BIT, 1) AS g"
    )
    assert res["rows"] == [["0101", "0001", "1"]]
    assert res["oids"][0] == 1560 and res["oids"][1] == 1560
    assert res["oids"][2] != 1560
    # r15 (ADVICE item 3): a ::BIT inside the item doesn't make the
    # RESULT a bit — comparisons are BOOLEAN, trailing casts win
    (res,) = client.query(
        "SELECT '0101'::BIT = '0101'::BIT AS eq,"
        " ('101'::BIT)::VARCHAR AS v, '101'::BIT AS b"
    )
    assert res["rows"] == [["t", "101", "101"]]
    assert res["oids"][0] == 16
    assert res["oids"][1] != 1560
    assert res["oids"][2] == 1560
    (res,) = client.query(
        "SELECT CAST(46977.5625 AS FLOAT) AS f, 0.1::FLOAT AS g"
    )
    assert res["oids"] == [700, 700]
    assert res["rows"] == [["46977.5625", "0.1"]]


def test_wire_ym_interval_renders(client):
    """r14: a YearMonthIntervalType result column previously CRASHED
    collection (PySpark fromInternal NOT_IMPLEMENTED); the _ym_safe
    transform renders duck text Spark-side."""
    (res,) = client.query(
        "SELECT INTERVAL 14 MONTH AS ym, INTERVAL 3 DAY AS dt"
    )
    assert res["rows"] == [["1 year 2 months", "3 days"]]
    # r15: literal-only day-time interval ITEMS fold to duck's
    # component-exact text on the wire — Spark's single-micros value
    # would re-componentize 25 HOUR + 0 DAY as '1 day 01:00:00'
    (res,) = client.query(
        "SELECT INTERVAL 25 HOUR AS a,"
        " INTERVAL 25 HOUR + INTERVAL 0 DAY AS b,"
        " INTERVAL '2 days' - INTERVAL '26 hours' AS c,"
        " INTERVAL 36 HOUR / 2 AS d"
    )
    assert res["rows"] == [
        ["25:00:00", "25:00:00", "2 days -26:00:00", "18:00:00"]
    ]


def test_reference_compat_drops_unmapped_columns(spark):
    """Documenting the reference quirk (SURVEY.md §1.2): with
    reference_compat=True, `SELECT true, 1` returns ONE column because
    BOOLEAN is absent from g_typemap (cpp:25-38, the `continue` at
    cpp:80-83/125-128). Our default keeps every column."""
    from duckdb_pgwire_spark.server.app import PgWireServer
    from duckdb_pgwire_spark.server.typemap import reference_visible

    from pyspark.sql import types as T

    assert not reference_visible(T.BooleanType())
    assert reference_visible(T.IntegerType())
    df = spark.sql("SELECT true AS b, 1 AS i")
    srv = PgWireServer(spark, reference_compat=True)
    kept = [f.name for f in df.schema.fields if reference_visible(f.dataType)]
    assert kept == ["i"]


def test_wire_copy_to_parquet(client, tmp_path):
    """COPY (query) TO 'path' (FORMAT PARQUET) — the reference reaches
    DuckDB's COPY via delegation (SURVEY.md §2.3); we map it to
    DataFrameWriter. Output is a part-file directory (distributed write)."""
    out = tmp_path / "copy_out.parquet"
    (res,) = client.query(
        f"COPY (SELECT r_regionkey, r_name FROM region) TO '{out}' (FORMAT PARQUET)"
    )
    assert res.get("tag") == "COPY 5", res
    (back,) = client.query(f"SELECT COUNT(*) AS n FROM parquet.`{out}`")
    assert back["rows"] == [["5"]]


def test_wire_copy_from_roundtrip(client, spark, tmp_path):
    """COPY TO then COPY FROM — bulk unload/load cycle over the wire
    (the reference reaches DuckDB's COPY FROM by the same delegation)."""
    out = tmp_path / "copy_cycle.parquet"
    (res,) = client.query(f"COPY (SELECT r_regionkey, r_name FROM region) TO '{out}'")
    assert res.get("tag") == "COPY 5", res
    spark.sql("DROP TABLE IF EXISTS copy_tgt")
    (res,) = client.query("CREATE TABLE copy_tgt(r_regionkey bigint, r_name string)")
    assert "error" not in res, res
    (res,) = client.query(f"COPY copy_tgt FROM '{out}' (FORMAT PARQUET)")
    assert res.get("tag") == "COPY 5", res
    # append semantics: a second load doubles the rows
    (res,) = client.query(f"COPY copy_tgt FROM '{out}'")
    assert res.get("tag") == "COPY 5", res
    (back,) = client.query("SELECT COUNT(*) AS n, COUNT(DISTINCT r_name) AS d FROM copy_tgt")
    assert back["rows"] == [["10", "5"]]
    spark.sql("DROP TABLE IF EXISTS copy_tgt")


def test_wire_copy_from_csv(client, spark, tmp_path):
    out = tmp_path / "copy_csv_dir"
    (res,) = client.query(
        f"COPY (SELECT n_nationkey, n_name FROM nation) TO '{out}' (FORMAT CSV)"
    )
    assert res.get("tag") == "COPY 25", res
    spark.sql("DROP TABLE IF EXISTS copy_csv_tgt")
    (res,) = client.query("CREATE TABLE copy_csv_tgt(n_nationkey bigint, n_name string)")
    assert "error" not in res, res
    (res,) = client.query(f"COPY copy_csv_tgt FROM '{out}' (FORMAT CSV)")
    assert res.get("tag") == "COPY 25", res
    (back,) = client.query("SELECT MIN(n_nationkey) AS lo, MAX(n_nationkey) AS hi FROM copy_csv_tgt")
    assert back["rows"] == [["0", "24"]]
    spark.sql("DROP TABLE IF EXISTS copy_csv_tgt")


def test_wire_copy_csv_header_option(client, spark, tmp_path):
    """COPY csv defaults HEADERLESS (PG semantics — ADVICE r2: hardcoded
    header=true silently dropped row 1 of standard CSVs); explicit
    HEADER [true] is honored on both TO and FROM."""
    from duckdb_pgwire_spark.server.compat import parse_copy, parse_copy_from

    assert parse_copy_from("COPY t FROM '/x.csv' (FORMAT CSV)") == (
        "t", "/x.csv", "csv", False, {})
    assert parse_copy_from("COPY t FROM '/x.csv' (FORMAT CSV, HEADER)") == (
        "t", "/x.csv", "csv", True, {})
    assert parse_copy_from("COPY t FROM '/x.csv' (FORMAT CSV, HEADER false)") == (
        "t", "/x.csv", "csv", False, {})
    assert parse_copy("COPY t TO '/x.csv' (HEADER true, FORMAT CSV)") == (
        "SELECT * FROM t", "/x.csv", "csv", True, None, [], {})
    assert parse_copy(
        "COPY t TO '/y' (FORMAT PARQUET, COMPRESSION zstd, PARTITION_BY (a, b))"
    ) == ("SELECT * FROM t", "/y", "parquet", False, "zstd", ["a", "b"], {})
    # r10: CSV reader/writer options parse into the extra dict; the
    # %-formats translate to Java patterns; unknown options refuse
    assert parse_copy(
        "COPY t TO '/x.csv' (FORMAT CSV, DELIMITER '|', NULL 'NA', "
        "QUOTE '`', DATEFORMAT '%d/%m/%Y')"
    ) == (
        "SELECT * FROM t", "/x.csv", "csv", False, None, [],
        {"sep": "|", "nullValue": "NA", "quote": "`",
         "dateFormat": "dd/MM/yyyy"},  # write-direction: zero-padded
    )
    import pytest as _pytest

    with _pytest.raises(ValueError, match="not supported"):
        parse_copy("COPY t TO '/x.csv' (FORMAT CSV, PER_THREAD_OUTPUT)")
    with _pytest.raises(ValueError, match="FORMAT parquet"):
        parse_copy("COPY t TO '/y.parquet' (FORMAT parquet, DELIMITER '|')")

    # headerless file loaded with default options keeps every row
    out = tmp_path / "hdr_cycle"
    (res,) = client.query(
        f"COPY (SELECT r_regionkey, r_name FROM region) TO '{out}' "
        "(FORMAT CSV, HEADER)"
    )
    assert res.get("tag") == "COPY 5", res
    spark.sql("DROP TABLE IF EXISTS copy_hdr_tgt")
    (res,) = client.query("CREATE TABLE copy_hdr_tgt(r_regionkey bigint, r_name string)")
    assert "error" not in res, res
    (res,) = client.query(f"COPY copy_hdr_tgt FROM '{out}' (FORMAT CSV, HEADER)")
    assert res.get("tag") == "COPY 5", res
    (back,) = client.query("SELECT COUNT(*) AS n FROM copy_hdr_tgt")
    assert back["rows"] == [["5"]]
    spark.sql("DROP TABLE IF EXISTS copy_hdr_tgt")
    # r10: DELIMITER/NULL round-trip — written content uses them, and
    # COPY FROM with the same options reads the NULL back as NULL
    import glob as _glob

    out2 = tmp_path / "opt_cycle"
    (res,) = client.query(
        "COPY (SELECT r_regionkey, CASE WHEN r_regionkey = 2 THEN NULL "
        f"ELSE r_name END AS r_name FROM region) TO '{out2}' "
        "(FORMAT CSV, DELIMITER '|', HEADER, NULL 'NA')"
    )
    assert res.get("tag") == "COPY 5", res
    content = "".join(
        open(p).read() for p in sorted(_glob.glob(f"{out2}/*.csv"))
    )
    assert "2|NA" in content, content
    spark.sql("DROP TABLE IF EXISTS copy_opt_tgt")
    (res,) = client.query(
        "CREATE TABLE copy_opt_tgt(r_regionkey bigint, r_name string)"
    )
    assert "error" not in res, res
    (res,) = client.query(
        f"COPY copy_opt_tgt FROM '{out2}' "
        "(FORMAT CSV, DELIMITER '|', HEADER, NULL 'NA')"
    )
    assert res.get("tag") == "COPY 5", res
    (back,) = client.query(
        "SELECT count(*) AS n, count(r_name) AS nn FROM copy_opt_tgt"
    )
    assert back["rows"] == [["5", "4"]], back
    spark.sql("DROP TABLE IF EXISTS copy_opt_tgt")


def test_rewrite_integer_sums_unit():
    from duckdb_pgwire_spark.server.compat import rewrite_integer_sums

    cols = {"v", "w"}
    assert rewrite_integer_sums("SELECT SUM(v) FROM t", cols) == (
        "SELECT SUM(CAST((v) AS DECIMAL(38,0))) FROM t"
    )
    assert rewrite_integer_sums("SELECT sum(v * 2 + w) FROM t", cols) == (
        "SELECT SUM(CAST((v * 2 + w) AS DECIMAL(38,0))) FROM t"
    )
    assert rewrite_integer_sums("SELECT SUM(DISTINCT v) FROM t", cols) == (
        "SELECT SUM(DISTINCT CAST((v) AS DECIMAL(38,0))) FROM t"
    )
    # non-integer column, functions, division, literals: untouched
    assert rewrite_integer_sums("SELECT SUM(price) FROM t", cols) == (
        "SELECT SUM(price) FROM t"
    )
    assert rewrite_integer_sums("SELECT SUM(abs(v)) FROM t", cols) == (
        "SELECT SUM(abs(v)) FROM t"
    )
    assert rewrite_integer_sums("SELECT SUM(v / 2) FROM t", cols) == (
        "SELECT SUM(v / 2) FROM t"
    )
    # inside a string literal: data, not a call
    assert rewrite_integer_sums("SELECT 'SUM(v)' FROM t", cols) == (
        "SELECT 'SUM(v)' FROM t"
    )


def test_wire_integer_sum_no_overflow(client, spark, tmp_path):
    """Wire SUM over an integer column accumulates in DECIMAL(38,0)
    (DuckDB returns HUGEINT — VERDICT r2 item 5): an overflow-provoking
    fixture must return the exact 128-bit answer, not a LONG error/wrap."""
    import duckdb

    spark.sql("DROP TABLE IF EXISTS big_sum_fx")
    spark.createDataFrame(
        [(9_000_000_000_000_000_000,)] * 4, "v long"
    ).write.option("path", str(tmp_path / "big_sum_fx")).saveAsTable("big_sum_fx")
    (res,) = client.query("SELECT SUM(v) AS s FROM big_sum_fx")
    assert "error" not in res, res
    expected = duckdb.sql(
        "SELECT SUM(v) FROM (SELECT 9000000000000000000 AS v FROM range(4))"
    ).fetchone()[0]
    assert res["rows"] == [[str(expected)]]  # 36e18 > LONG max (9.2e18)
    spark.sql("DROP TABLE IF EXISTS big_sum_fx")


def test_wire_analyze_and_vacuum(client, spark, tmp_path):
    """ANALYZE <t> computes real Spark table statistics; bare ANALYZE
    and VACUUM ack as no-ops (psql habits must not error)."""
    spark.sql("DROP TABLE IF EXISTS analyze_tgt")
    (res,) = client.query(
        f"CREATE TABLE analyze_tgt(v int) USING parquet "
        f"LOCATION '{tmp_path}/analyze_tgt'"
    )
    assert "error" not in res, res
    (res,) = client.query("INSERT INTO analyze_tgt VALUES (1), (2), (3)")
    assert "error" not in res, res
    (res,) = client.query("ANALYZE analyze_tgt")
    assert res.get("tag") == "ANALYZE", res
    stats = spark.sql("DESCRIBE TABLE EXTENDED analyze_tgt").collect()
    stats_row = [r for r in stats if r.col_name == "Statistics"]
    assert stats_row and "3 rows" in stats_row[0].data_type
    (res,) = client.query("ANALYZE")
    assert res.get("tag") == "ANALYZE", res
    (res,) = client.query("VACUUM")
    assert res.get("tag") == "VACUUM", res
    spark.sql("DROP TABLE IF EXISTS analyze_tgt")


def test_wire_copy_from_stdin_csv(client, spark, tmp_path):
    """COPY t FROM STDIN (FORMAT CSV) — the psql \\copy wire shape:
    CopyInResponse, CopyData chunks spooled to a temp file, one
    distributed load on CopyDone."""
    spark.sql("DROP TABLE IF EXISTS copy_stdin_tgt")
    (res,) = client.query(
        f"CREATE TABLE copy_stdin_tgt(a bigint, b string) "
        f"USING parquet LOCATION '{tmp_path}/copy_stdin_tgt'"
    )
    assert "error" not in res, res
    out = client.copy_in(
        "COPY copy_stdin_tgt FROM STDIN (FORMAT CSV)",
        b"1,one\n2,two\n3,three\n",
    )
    assert out[-1].get("tag") == "COPY 3", out
    # column list reorders; HEADER skips the first line
    out = client.copy_in(
        "COPY copy_stdin_tgt (b, a) FROM STDIN (FORMAT CSV, HEADER)",
        b"b,a\nfour,4\n",
    )
    assert out[-1].get("tag") == "COPY 1", out
    (back,) = client.query(
        "SELECT COUNT(*) AS n, SUM(a) AS s FROM copy_stdin_tgt"
    )
    assert back["rows"] == [["4", "10"]]
    spark.sql("DROP TABLE IF EXISTS copy_stdin_tgt")


def test_wire_copy_from_stdin_text_format(client, spark, tmp_path):
    """Default PG text format: tab-separated, \\N nulls."""
    spark.sql("DROP TABLE IF EXISTS copy_stdin_txt")
    (res,) = client.query(
        f"CREATE TABLE copy_stdin_txt(a bigint, b string) "
        f"USING parquet LOCATION '{tmp_path}/copy_stdin_txt'"
    )
    assert "error" not in res, res
    out = client.copy_in(
        "COPY copy_stdin_txt FROM STDIN", b"5\thello\n6\t\\N\n"
    )
    assert out[-1].get("tag") == "COPY 2", out
    (back,) = client.query(
        "SELECT COUNT(*) AS n, COUNT(b) AS nb FROM copy_stdin_txt"
    )
    assert back["rows"] == [["2", "1"]]  # one NULL b
    spark.sql("DROP TABLE IF EXISTS copy_stdin_txt")


def test_wire_copy_to_stdout(client):
    (res,) = client.query(
        "COPY (SELECT r_regionkey, r_name FROM region ORDER BY r_regionkey) "
        "TO STDOUT (FORMAT CSV, HEADER)"
    )
    assert res.get("tag") == "COPY 5", res
    lines = res["copy_out"].decode().splitlines()
    assert lines[0] == "r_regionkey,r_name"
    assert len(lines) == 6 and lines[1].startswith("0,")
    # PG text format default: tab-separated, no header
    (res,) = client.query("COPY region TO STDOUT")
    assert res.get("tag") == "COPY 5"
    rows = [ln.split("\t") for ln in res["copy_out"].decode().splitlines()]
    assert len(rows) == 5 and all(len(r) == 2 for r in rows)


def test_wire_describe_table(client):
    """DuckDB-style DESCRIBE — first-contact psql usability (VERDICT r2
    item 4; the reference delegates it to DuckDB verbatim, cpp:52)."""
    (res,) = client.query("DESCRIBE region")
    assert res["columns"] == [
        "column_name", "column_type", "null", "key", "default", "extra"
    ]
    got = {r[0]: r[1] for r in res["rows"]}
    assert got == {"r_regionkey": "INTEGER", "r_name": "VARCHAR"}
    # DESCRIBE <query> works too (DuckDB accepts both)
    (res,) = client.query("DESCRIBE SELECT 1 AS a, 'x' AS b")
    got = {r[0]: r[1] for r in res["rows"]}
    assert got == {"a": "INTEGER", "b": "VARCHAR"}


def test_wire_show_tables(client):
    (res,) = client.query("SHOW TABLES")
    assert res["columns"] == ["name"]
    names = [r[0] for r in res["rows"]]
    assert "region" in names and "nation" in names
    assert names == sorted(names)


def test_wire_client_handshake_compat(client):
    """The statements real clients (psql, psycopg, JDBC, DBeaver) issue
    on connect/introspection — every one must succeed (round-3 sweep)."""
    checks = [
        ("SELECT current_setting('server_version') AS v", "15.0 (duckdb_pgwire_spark)"),
        ("SELECT oid FROM pg_type WHERE typname = 'int4'", "23"),
        ("SELECT datname FROM pg_database", "main"),
        ("SELECT rolname FROM pg_roles", "spark"),
    ]
    for sql, expected in checks:
        (res,) = client.query(sql)
        assert "error" not in res, (sql, res)
        assert res["rows"][0][0] == expected, (sql, res["rows"])
    (res,) = client.query("SELECT pg_backend_pid() AS pid")
    assert "error" not in res and int(res["rows"][0][0]) > 0
    (res,) = client.query(
        "SELECT column_name, data_type FROM information_schema.columns "
        "WHERE table_name = 'region' ORDER BY ordinal_position"
    )
    assert "error" not in res, res
    assert [r[0] for r in res["rows"]] == ["r_regionkey", "r_name"]
    (res,) = client.query("SELECT relname FROM pg_catalog.pg_class WHERE relname = 'region'")
    assert res["rows"] == [["region"]]
    for sql in (
        "SELECT localtimestamp",
        "SELECT E'ab\\ncd' AS s",
        "SELECT CAST('1 day' AS INTERVAL) AS iv",
        "SELECT obj_description(1, 'pg_class') AS d",
        "COMMENT ON TABLE region IS 'x'",
    ):
        (res,) = client.query(sql)
        assert "error" not in res, (sql, res)
    (res,) = client.query("SELECT ARRAY[1,2,3] AS a, ARRAY['x','y]z'] AS b")
    assert res["rows"] == [["{1,2,3}", "{x,y]z}"]]


def test_wire_psql_describe_join_shape(client):
    """The oid-keyed joins psql's \\d issues: pg_class → pg_namespace on
    relnamespace = oid, pg_attribute → pg_class/pg_type on
    attrelid/atttypid."""
    (res,) = client.query(
        "SELECT c.relname, n.nspname FROM pg_class c "
        "JOIN pg_namespace n ON c.relnamespace = n.oid "
        "WHERE c.relname = 'region'"
    )
    assert "error" not in res, res
    assert res["rows"] and res["rows"][0][0] == "region"
    (res,) = client.query(
        "SELECT a.attname, t.typname FROM pg_attribute a "
        "JOIN pg_class c ON a.attrelid = c.oid "
        "JOIN pg_type t ON a.atttypid = t.oid "
        "WHERE c.relname = 'region' ORDER BY a.attnum"
    )
    assert "error" not in res, res
    assert [r[0] for r in res["rows"]] == ["r_regionkey", "r_name"]
    assert [r[1] for r in res["rows"]] == ["int4", "text"]


def test_wire_dynamic_pivot(client, spark):
    """DuckDB's PIVOT statement: the server resolves the distinct value
    list (Spark's PIVOT clause needs it explicit) and pivots."""
    (res,) = client.query(
        "PIVOT orders ON o_orderpriority USING count(*) GROUP BY o_orderstatus"
    )
    assert "error" not in res, res
    # columns: o_orderstatus + one per distinct priority, sorted
    prios = sorted(
        r.o_orderpriority
        for r in spark.table("orders").select("o_orderpriority").distinct().collect()
    )
    assert res["columns"] == ["o_orderstatus"] + prios
    # cross-check one cell against a plain group-by
    expected = {
        (r.o_orderstatus, r.o_orderpriority): r.n
        for r in spark.sql(
            "SELECT o_orderstatus, o_orderpriority, COUNT(*) AS n "
            "FROM orders GROUP BY 1, 2"
        ).collect()
    }
    for row in res["rows"]:
        status = row[0]
        for col, cell in zip(prios, row[1:]):
            want = expected.get((status, col))
            assert (cell is None and want is None) or int(cell) == want


def test_wire_regexp_split_to_table(client):
    (res,) = client.query(
        "SELECT regexp_split_to_table('a1b22c', '[0-9]+') AS part"
    )
    assert "error" not in res, res
    assert [r[0] for r in res["rows"]] == ["a", "b", "c"]


def test_wire_explain_analyze(client):
    # r5: ANALYZE now executes and profiles (see
    # test_wire_explain_analyze_has_runtime_metrics for the full check)
    (res,) = client.query("EXPLAIN ANALYZE SELECT COUNT(*) FROM region")
    assert "error" not in res, res
    assert any("executed in" in (r[0] or "") for r in res["rows"])


def test_wire_show_pg_gucs(client):
    """JDBC/psql read PG session GUCs on connect; Spark's SHOW only
    knows its own confs, so these answer PG-shaped one-row results."""
    (res,) = client.query("SHOW TRANSACTION ISOLATION LEVEL")
    assert res["columns"] == ["transaction_isolation"]
    assert res["rows"] == [["read committed"]]
    (res,) = client.query("SHOW TimeZone")
    assert res["rows"] == [["UTC"]]
    (res,) = client.query("SHOW server_version")
    assert res["rows"][0][0].startswith("15.0")
    # SHOW TABLES is not shadowed by the GUC path
    (res,) = client.query("SHOW TABLES")
    assert res["columns"] == ["name"]


def test_wire_summarize(client):
    (res,) = client.query("SUMMARIZE region")
    assert res["columns"][:5] == [
        "column_name", "column_type", "min", "max", "approx_unique"
    ]
    rows = {r[0]: r for r in res["rows"]}
    assert set(rows) == {"r_regionkey", "r_name"}
    key = rows["r_regionkey"]
    # min=0, max=4, count=5, null_percentage=0
    assert key[2] == "0" and key[3] == "4"
    assert key[10] == "5" and key[11] == "0.0"
    # string column: no avg/std/quartiles
    assert rows["r_name"][5] is None
    (res,) = client.query("SUMMARIZE SELECT n_nationkey FROM nation")
    assert len(res["rows"]) == 1 and res["rows"][0][0] == "n_nationkey"


def test_wire_read_parquet_and_sample(client):
    """DuckDB spellings: read_parquet('path') file relations and
    USING SAMPLE — both execute through the dialect shim."""
    (res,) = client.query(
        "SELECT count(*) AS n FROM read_parquet('/root/testdata/sf0.001/region.parquet')"
    )
    assert res["rows"] == [["5"]], res
    (res,) = client.query("SELECT r_name FROM region USING SAMPLE 3 ROWS")
    assert len(res["rows"]) == 3, res
    (res,) = client.query("SELECT count(*) AS n FROM lineitem USING SAMPLE 100 PERCENT")
    assert "error" not in res, res


def test_wire_version_and_pg_catalog(client, spark):
    """Connect-time introspection: clients parse version() for a
    'PostgreSQL' prefix and list relations via pg_catalog.pg_tables —
    DuckDB behind the reference answers both natively."""
    (res,) = client.query("SELECT version() AS v")
    assert res["rows"][0][0].startswith("PostgreSQL "), res
    spark.sql("DROP TABLE IF EXISTS pgcat_demo")
    (res,) = client.query("CREATE TABLE pgcat_demo(x int)")
    assert "error" not in res, res
    (res,) = client.query(
        "SELECT tablename FROM pg_catalog.pg_tables WHERE tablename = 'pgcat_demo'"
    )
    assert res["rows"] == [["pgcat_demo"]], res
    (res,) = client.query("SELECT nspname FROM pg_namespace ORDER BY nspname")
    assert ["pg_catalog"] in res["rows"], res
    spark.sql("DROP TABLE IF EXISTS pgcat_demo")


def test_wire_sqlstate_mapping(client):
    (res,) = client.query("SELECT * FROM table_that_is_not_there")
    assert res["sqlstate"] == "42P01", res  # undefined_table
    (res,) = client.query("SELEC broken syntax")
    assert res["sqlstate"] == "42601", res  # syntax_error


def test_protocol_roundtrip_property():
    """Property: any list of optional byte cells encodes to a DataRow the
    client-side decoder parses back verbatim."""
    from hypothesis import given, settings
    from hypothesis import strategies as st

    cell = st.one_of(st.none(), st.binary(max_size=64))

    @settings(max_examples=200, deadline=None)
    @given(st.lists(cell, max_size=12))
    def roundtrip(cells):
        msg = P.data_row(cells)
        assert msg[0:1] == b"D"
        body = msg[5:]
        (nc,) = struct.unpack("!H", body[:2])
        assert nc == len(cells)
        off, decoded = 2, []
        for _ in range(nc):
            (ln,) = struct.unpack("!i", body[off : off + 4])
            off += 4
            if ln == -1:
                decoded.append(None)
            else:
                decoded.append(body[off : off + ln])
                off += ln
        assert off == len(body)
        assert decoded == [bytes(c) if c is not None else None for c in cells]

    roundtrip()


def test_split_statements_property():
    """Property: splitting never loses non-whitespace content outside
    literals, and semicolons inside literals never split."""
    from hypothesis import given, settings
    from hypothesis import strategies as st

    frag = st.text(alphabet="abc;' ", max_size=20)

    @settings(max_examples=200, deadline=None)
    @given(frag)
    def check(sql):
        parts = split_statements(sql)
        # every returned part is non-empty and stripped
        assert all(p == p.strip() and p for p in parts)
        # unquoted semicolons are all consumed as separators: rejoining
        # with ';' preserves the original modulo whitespace/empties
        import re as _re

        def canon(s):
            return _re.sub(r"[\s;]+", "", s)

        # only compare when quotes are balanced (unterminated literals
        # swallow the rest of the string by design, like PG's lexer)
        if sql.count("'") % 2 == 0:
            assert canon(";".join(parts)) == canon(sql)

    check()


def test_rewrite_qualify_alias():
    out = rewrite(
        "SELECT k, row_number() OVER (ORDER BY k) AS rn FROM t QUALIFY rn <= 3"
    )
    assert out == (
        "SELECT * FROM (SELECT k, row_number() OVER (ORDER BY k NULLS LAST) "
        "AS rn FROM t) WHERE rn <= 3"
    )


def test_rewrite_qualify_inline_window():
    out = rewrite(
        "SELECT a FROM t QUALIFY row_number() OVER (PARTITION BY a ORDER BY b) = 1"
    )
    assert "__qw0" in out and out.startswith("SELECT * EXCEPT (__qw0) FROM (")
    # literal containing the keyword is untouched
    assert rewrite("SELECT 'QUALIFY x' AS s FROM t") == "SELECT 'QUALIFY x' AS s FROM t"


def test_wire_qualify_executes(client):
    """DuckDB-dialect QUALIFY over the wire (Spark has no QUALIFY;
    verified 4.1 parse error without the shim)."""
    (res,) = client.query(
        "SELECT n_nationkey, row_number() OVER (ORDER BY n_nationkey) AS rn "
        "FROM nation QUALIFY rn <= 3"
    )
    assert "error" not in res, res
    assert [r[0] for r in res["rows"]] == ["0", "1", "2"]
    (res,) = client.query(
        "SELECT n_regionkey, n_nationkey FROM nation "
        "QUALIFY row_number() OVER (PARTITION BY n_regionkey ORDER BY n_nationkey) = 1 "
        "ORDER BY n_regionkey"
    )
    assert "error" not in res, res
    assert res["columns"] == ["n_regionkey", "n_nationkey"]
    assert len(res["rows"]) == 5  # one keeper per region


def test_isolated_sessions_temp_views(spark):
    """With isolate_sessions=True each connection gets its own
    spark.newSession(): a temp view created on connection A must not
    resolve on connection B, while catalog tables stay shared — the
    reference's fresh-Connection-on-shared-instance model (cpp:42)."""
    from duckdb_pgwire_spark.server.app import PgWireServer
    from duckdb_pgwire_spark.session import register_views

    port, stop = _serve_in_thread(
        PgWireServer(
            spark,
            host="127.0.0.1",
            port=0,
            isolate_sessions=True,
            session_setup=lambda s: register_views(s, SF_DIR),
        )
    )
    mod = _pgwire_client_module()
    a = mod.PgClient(port=port)
    b = mod.PgClient(port=port)
    try:
        (r,) = a.query("CREATE TEMP VIEW conn_a_private AS SELECT 42 AS v")
        assert "error" not in r, r
        (r,) = a.query("SELECT v FROM conn_a_private")
        assert r["rows"] == [["42"]]
        (r,) = b.query("SELECT v FROM conn_a_private")
        assert "error" in r, "temp view leaked across isolated sessions"
        # fixture views still visible on both (re-registered per session)
        (r,) = b.query("SELECT COUNT(*) AS n FROM region")
        assert r["rows"] == [["5"]]
    finally:
        a.close()
        b.close()
        stop()


def test_isolated_sessions_share_resident_copies(spark):
    """Two --isolate-sessions connections read one resident copy of a
    fixture; a view one of them creates under a fixture's name answers
    that connection's lookups from the user's view, and the other
    connection still reads the fixture."""
    from duckdb_pgwire_spark import session as fixtures
    from duckdb_pgwire_spark.server.app import PgWireServer
    from duckdb_pgwire_spark.session import register_views

    port, stop = _serve_in_thread(
        PgWireServer(
            spark,
            host="127.0.0.1",
            port=0,
            isolate_sessions=True,
            session_setup=lambda s: register_views(s, SF_DIR),
        )
    )
    mod = _pgwire_client_module()
    a = mod.PgClient(port=port)
    b = mod.PgClient(port=port)
    lookup = "SELECT o_orderkey, o_orderstatus FROM orders WHERE o_orderkey = 4"
    try:
        (ra,) = a.query(lookup)
        copy = fixtures._RESIDENT[(SF_DIR, "orders")]
        (rb,) = b.query(lookup)
        assert ra["rows"] == rb["rows"] == [["4", "F"]], (ra, rb)
        assert fixtures._RESIDENT[(SF_DIR, "orders")] is copy
        jobs_b = _job_counter(b, spark)
        assert jobs_b(lookup) == 0
        (r,) = a.query(
            "CREATE OR REPLACE TEMP VIEW orders AS "
            "SELECT c_custkey AS o_orderkey, c_name AS o_orderstatus FROM customer"
        )
        assert "error" not in r, r
        (ra,) = a.query(lookup)
        assert ra["rows"] == [["4", "Customer#000000004"]], ra
        assert _job_counter(a, spark)(lookup) == 0
        (rb,) = b.query(lookup)
        assert rb["rows"] == [["4", "F"]], rb
        assert jobs_b(lookup) == 0
        assert [k for k in fixtures._RESIDENT if k[1] == "orders"] == [(SF_DIR, "orders")]
    finally:
        a.close()
        b.close()
        stop()


def test_server_stop_with_open_connection_leaves_no_unraisable(spark, monkeypatch):
    """stop() ends the connection tasks it started while the loop still
    runs, so closing the loop afterwards leaves no task to close its
    transport on a closed loop ("Event loop is closed")."""
    import gc
    import sys

    from duckdb_pgwire_spark.server.app import PgWireServer

    seen = []
    monkeypatch.setattr(sys, "unraisablehook", seen.append)
    port, stop = _serve_in_thread(PgWireServer(spark, host="127.0.0.1", port=0))
    c = _pgwire_client_module().PgClient(port=port)
    (r,) = c.query("SELECT 1 AS one")
    assert r["rows"] == [["1"]], r
    stop()  # the connection is still open
    gc.collect()
    c.close()
    gc.collect()
    assert [(u.exc_value, u.object) for u in seen] == []


def test_catalog_persists_across_server_restart(spark, tmp_path):
    """Wire-layer DDL (enum types, scalar type aliases, macros,
    sequences INCLUDING the counter) survives a server restart when the
    server runs with a catalog dir — DuckDB's file-backed-database
    semantics (NOTES.md r10 gap: enum member lists lived in process
    memory, so a type created in an earlier process lost DESCRIBE and
    cast support). The restart is simulated by clearing the process
    dicts between two servers sharing one catalog directory."""
    import copy

    from duckdb_pgwire_spark.server import compat
    from duckdb_pgwire_spark.server.app import PgWireServer

    mod = _pgwire_client_module()

    def run_server():
        return _serve_in_thread(
            PgWireServer(spark, host="127.0.0.1", port=0, catalog_dir=str(tmp_path))
        )

    dicts = (compat.ENUM_TYPES, compat.TYPE_ALIASES, compat.MACROS, compat.SEQUENCES)
    snapshot = [copy.deepcopy(d) for d in dicts]
    for d in dicts:
        d.clear()
    try:
        port, stop = run_server()
        c = mod.PgClient(port=port)
        try:
            for ddl in (
                "CREATE TYPE persist_mood AS ENUM ('sad', 'ok', 'happy')",
                "CREATE TYPE persist_short AS SMALLINT",
                "CREATE SEQUENCE persist_sq START 5 INCREMENT 2",
                "CREATE MACRO persist_addm(a, b := 10) AS a + b",
            ):
                (r,) = c.query(ddl)
                assert "error" not in r, (ddl, r)
            (r,) = c.query("SELECT nextval('persist_sq') AS v")
            assert r["rows"] == [["5"]], r
        finally:
            c.close()
            stop()

        # "process restart": the in-memory catalog is gone
        for d in dicts:
            d.clear()

        port, stop = run_server()
        c = mod.PgClient(port=port)
        try:
            (r,) = c.query(
                "SELECT ('sad'::persist_mood < 'ok'::persist_mood) AS lt, "
                "'happy'::persist_mood AS label"
            )
            assert r["rows"] == [["t", "happy"]], r
            # counter continues past the pre-restart reservation
            (r,) = c.query("SELECT nextval('persist_sq') AS v")
            assert r["rows"] == [["7"]], r
            (r,) = c.query("SELECT persist_addm(1) AS s")
            assert r["rows"] == [["11"]], r
            (r,) = c.query("SELECT CAST('7' AS persist_short) AS x")
            assert r["rows"] == [["7"]], r
            (r,) = c.query("DROP TYPE persist_mood")
            assert "error" not in r, r
        finally:
            c.close()
            stop()

        # the DROP persisted too: a third load must not resurrect it
        for d in dicts:
            d.clear()
        from duckdb_pgwire_spark.server import catalog_persist

        catalog_persist.load_into_memory(catalog_persist.catalog_file(str(tmp_path)))
        assert "persist_mood" not in compat.ENUM_TYPES
        assert compat.SEQUENCES["persist_sq"]["next"] == 9
    finally:
        for d, snap in zip(dicts, snapshot):
            d.clear()
            d.update(snap)


def test_wire_complex_types_render_as_text(client):
    (res,) = client.query(
        "SELECT array(1, 2, 3) AS arr, named_struct('a', 1, 'b', 'x') AS st, "
        "map(['k'], [1]) AS m"  # DuckDB map(): two LISTS
    )
    assert res["rows"] == [["{1,2,3}", '{"a":1,"b":"x"}', '{"k":1}']]
    # r7: base-type arrays advertise the real PG array OID (_int4);
    # structs/maps stay text
    assert res["oids"] == [1007, 25, 25]


def test_wire_explain_show_describe(client):
    """Introspection statements PG users type interactively — all flow
    through spark.sql and come back as ordinary result sets."""
    (res,) = client.query("EXPLAIN SELECT COUNT(*) FROM region")
    assert "error" not in res and res["rows"], res
    assert "Physical Plan" in res["rows"][0][0]
    (res,) = client.query("SHOW TABLES")
    assert "error" not in res, res
    (res,) = client.query("DESCRIBE region")
    assert "error" not in res
    assert res["rows"][0][0] == "r_regionkey"
    assert res["rows"][0][1] in ("INTEGER", "BIGINT")  # DuckDB-shaped output


def test_wire_concurrent_clients(wire_server):
    """4 clients hammering the server concurrently: every reply must
    belong to its own connection (no cross-talk through the shared
    session/thread pool)."""
    import importlib.util
    from concurrent.futures import ThreadPoolExecutor
    from pathlib import Path

    spec = importlib.util.spec_from_file_location(
        "pgwire_client3", Path(__file__).parent.parent / "scripts" / "pgwire_client.py"
    )
    mod = importlib.util.module_from_spec(spec)
    spec.loader.exec_module(mod)

    def worker(i: int) -> bool:
        c = mod.PgClient(port=wire_server)
        try:
            for _ in range(5):
                (res,) = c.query(f"SELECT {i} AS me, COUNT(*) AS n FROM nation")
                if res["rows"] != [[str(i), "25"]]:
                    return False
            return True
        finally:
            c.close()

    with ThreadPoolExecutor(4) as pool:
        assert all(pool.map(worker, range(4)))


def test_rewrite_function_renames():
    # string_split's separator is LITERAL text — the \Q..\E quoting
    # keeps Spark's regex-based split from treating '.' as a wildcard
    out = rewrite("SELECT string_split(a, ' ') FROM t")
    assert "split(a, concat(" in out and "\\\\Q" in out
    # r10: list_contains carries DuckDB's strict true/false semantics
    # (NULL elements don't poison a not-found probe) around the rename
    out = rewrite("SELECT list_contains(l, 1) FROM t")
    assert "coalesce(array_contains(l, 1), false)" in out
    # inside literals untouched
    assert rewrite("SELECT 'string_split(x)'") == "SELECT 'string_split(x)'"


def test_rewrite_strftime_strptime():
    assert (
        rewrite("SELECT strftime(ts, '%Y-%m-%d %H:%M:%S') FROM t")
        == "SELECT date_format(ts, 'yyyy-MM-dd HH:mm:ss') FROM t"
    )
    # parse direction uses 1-digit-tolerant single letters (r10:
    # '3:04 PM' must parse like DuckDB's %-directives do)
    assert (
        rewrite("SELECT strptime(s, '%d/%m/%Y') FROM t")
        == "SELECT to_timestamp(s, 'd/M/yyyy') FROM t"
    )


def test_rewrite_star_exclude():
    assert rewrite("SELECT * EXCLUDE (a, b) FROM t") == "SELECT * EXCEPT (a, b) FROM t"


def test_wire_duckdb_dialect_functions(client):
    """A reference-dialect query (DuckDB list/strftime spellings) must
    run unmodified over the wire."""
    (res,) = client.query(
        "SELECT strftime(TIMESTAMP '2024-03-04 05:06:07', '%Y/%m/%d') AS d, "
        "list_contains(string_split('a b c', ' '), 'b') AS has_b"
    )
    assert "error" not in res, res
    assert res["rows"] == [["2024/03/04", "t"]]


def test_wire_transaction_noops_and_set(client):
    """PG clients autosend BEGIN/COMMIT (implicit transactions) and
    SET k TO v on connect; the server must acknowledge rather than error
    (Spark is autocommit-only — documented delta vs DuckDB)."""
    (r,) = client.query("BEGIN")
    assert r.get("tag") == "BEGIN", r
    (r,) = client.query("SELECT 1 AS x")
    assert r["rows"] == [["1"]]
    (r,) = client.query("COMMIT")
    assert r.get("tag") == "COMMIT", r
    (r,) = client.query("ROLLBACK")
    assert r.get("tag") == "ROLLBACK", r
    (r,) = client.query("SET client_encoding TO 'UTF8'")
    assert r.get("tag") == "SET", r
    (r,) = client.query("SET spark.sql.shuffle.partitions=8")
    assert r.get("tag") == "SET", r


# ----------------------------------------------- round-2 ADVICE regression set


def test_split_statements_comments():
    # line comment hides its ';' and its quote; both statements survive
    out = split_statements("SELECT 1; -- comment with ; and quote '\nSELECT 2")
    assert len(out) == 2
    assert out[0] == "SELECT 1"
    assert out[1].endswith("SELECT 2")
    # block comments (nested, as in PG) are opaque too
    (s3,) = split_statements("/* a; /* nested ; */ b */ SELECT 3")
    assert s3.endswith("SELECT 3")
    # comment-only payloads produce no statements
    assert split_statements("-- nothing here\n") == []
    assert split_statements("/* just a comment */") == []


def test_rewrite_ignores_comments():
    # a function spelling inside a comment is NOT rewritten
    out = rewrite("SELECT 1 -- string_split(x, ' ')\n")
    assert "string_split(x, ' ')" in out  # untouched inside the comment


def test_rewrite_distinct_on_subquery_order_by():
    # ORDER BY inside the subquery must not be mistaken for the outer
    # clause (round-1 bug: greedy regex split on the LAST ORDER BY)
    out = rewrite(
        "SELECT DISTINCT ON (k) k, v FROM (SELECT k, v FROM t ORDER BY v LIMIT 5) s"
    )
    assert out.count("ORDER BY v NULLS LAST LIMIT 5) s") == 1
    assert "__don_rn = 1" in out
    assert not out.rstrip().endswith("LIMIT 5) s)")  # subquery stays intact


def test_rewrite_distinct_on_preserves_output_order():
    out = rewrite("SELECT DISTINCT ON (k) k, v FROM t ORDER BY k, v DESC LIMIT 7")
    # PG guarantees DISTINCT ON output ordering — ORDER BY re-appears on
    # the outer query, LIMIT stays outermost
    assert out.rstrip().endswith("LIMIT 7")
    assert "__don_rn = 1 ORDER BY k NULLS LAST, v DESC" in out


def test_rewrite_list_aggregate_forms():
    # r10: NULL elements are skipped and an empty/all-NULL list sums
    # to NULL, like the engine aggregate
    assert (
        "aggregate(filter(l, __x -> __x IS NOT NULL), CAST(0 AS DOUBLE)"
        in rewrite("SELECT list_aggregate(l, 'sum')")
    )
    assert rewrite("SELECT list_aggregate(l, 'min') FROM t") == "SELECT array_min(l) FROM t"
    assert rewrite("SELECT list_aggregate(l, 'max') FROM t") == "SELECT array_max(l) FROM t"
    # nested call in the list argument survives the balanced-paren scan
    out = rewrite("SELECT list_aggregate(transform(l, x -> x + 1), 'sum')")
    assert (
        "aggregate(filter(transform(l, x -> x + 1), __x -> __x IS NOT NULL),"
        " CAST(0 AS DOUBLE)" in out
    )
    # r10: median joined the known forms (interpolated, NULL-skipping)
    assert "array_sort(filter(l," in rewrite(
        "SELECT list_aggregate(l, 'median')"
    )
    # unknown aggregate names pass through (fail loudly downstream)
    assert "list_aggregate(l, 'bitstring_agg')" in rewrite(
        "SELECT list_aggregate(l, 'bitstring_agg')"
    )


def test_rewrite_epoch_ms_maps_to_unix_millis():
    # epoch_ms(TIMESTAMP) → unix_millis; the BIGINT→TIMESTAMP overload
    # fails LOUDLY at analysis (DATATYPE_MISMATCH) rather than silently
    # — the timestamp form is the one clients hit
    assert "unix_millis(" in rewrite("SELECT epoch_ms(TIMESTAMP '2024-01-01')")


def test_wire_duplicate_output_names(client):
    # Row name-lookup returns the FIRST match — encoding must be positional
    (res,) = client.query("SELECT 1 AS a, 2 AS a")
    assert res["columns"] == ["a", "a"]
    assert res["rows"] == [["1", "2"]]


def test_wire_timestamp_is_plain_timestamp_oid(client):
    (res,) = client.query("SELECT TIMESTAMP '2020-06-01 12:34:56' AS ts")
    assert res["oids"] == [1114]  # timestamp, not timestamptz (1184)
    assert res["rows"] == [["2020-06-01 12:34:56"]]


def test_wire_comment_bearing_query(client):
    (r1, r2) = client.query("SELECT 10 AS x; -- trailing note with ; inside\nSELECT 20 AS y")
    assert r1["rows"] == [["10"]]
    assert r2["rows"] == [["20"]]


def test_wire_list_aggregate_duckdb_spelling(client):
    (res,) = client.query(
        "SELECT list_aggregate(array(1.0, 2.0, 3.5), 'sum') AS s, "
        "list_aggregate(array(4, 1, 7), 'max') AS m"
    )
    assert res["rows"] == [["6.5", "7"]]


def test_wire_update_delete_roundtrip(client, spark):
    """CREATE → INSERT → UPDATE → DELETE → SELECT over the wire — the
    reference executes the same statements by delegation (cpp:52); here
    UPDATE/DELETE run the rewrite-on-write path (operators/dml.py)."""
    spark.sql("DROP TABLE IF EXISTS accounts")
    (r,) = client.query("CREATE TABLE accounts(id int, bal double)")
    assert "error" not in r, r
    (r,) = client.query(
        "INSERT INTO accounts VALUES (1, 10.0), (2, 20.0), (3, 30.0)"
    )
    assert "error" not in r, r
    (r,) = client.query("UPDATE accounts SET bal = bal + 5.0 WHERE id >= 2")
    assert r["tag"] == "UPDATE 2", r
    (r,) = client.query("DELETE FROM accounts WHERE bal > 30.0")
    assert r["tag"] == "DELETE 1", r  # only id=3 (35.0) crosses
    (r,) = client.query("SELECT id, bal FROM accounts ORDER BY id")
    assert r["rows"] == [["1", "10.0"], ["2", "25.0"]]
    spark.sql("DROP TABLE IF EXISTS accounts")


def test_parse_merge_grammar():
    from duckdb_pgwire_spark.operators.dml import parse_merge

    spec = parse_merge(
        "MERGE INTO tgt t USING (SELECT k, v FROM src WHERE v ON) s "
        "ON t.id = s.k "
        "WHEN MATCHED AND t.v < 0 THEN DELETE "
        "WHEN MATCHED THEN UPDATE SET v = t.v + s.v, w = 1 "
        "WHEN NOT MATCHED THEN INSERT (id, v) VALUES (s.k, s.v)"
    )
    assert spec is not None
    assert spec.target == "tgt" and spec.t_alias == "t"
    assert spec.s_alias == "s" and "WHERE v ON" in spec.source_sql
    assert [c.action for c in spec.clauses] == ["delete", "update", "insert"]
    assert spec.clauses[1].assignments == [("v", "t.v + s.v"), ("w", "1")]
    assert spec.clauses[2].insert_cols == ["id", "v"]
    # bare-table source, no aliases, INSERT without column list
    spec = parse_merge(
        "MERGE INTO tgt USING src ON tgt.id = src.id "
        "WHEN NOT MATCHED THEN INSERT VALUES (src.id, src.v)"
    )
    assert spec is not None
    assert spec.t_alias == "tgt" and spec.source_sql == "SELECT * FROM src"
    assert spec.clauses[0].insert_cols is None
    # rejects: UPDATE under NOT MATCHED, missing ON, INSERT under MATCHED
    assert parse_merge("MERGE INTO t USING s ON 1=1 WHEN NOT MATCHED THEN UPDATE SET a=1") is None
    assert parse_merge("MERGE INTO t USING s WHEN MATCHED THEN DELETE") is None
    assert parse_merge("MERGE INTO t USING s ON 1=1 WHEN MATCHED THEN INSERT VALUES (1)") is None


def test_wire_merge_roundtrip(client, spark):
    """MERGE over the wire — the reference reaches DuckDB's MERGE by
    delegation (cpp:52); here it runs the rewrite-on-write recipe."""
    spark.sql("DROP TABLE IF EXISTS minv")
    (r,) = client.query("CREATE TABLE minv(id int, qty double)")
    assert "error" not in r, r
    (r,) = client.query("INSERT INTO minv VALUES (1, 5.0), (2, 0.0), (3, 7.0)")
    assert "error" not in r, r
    out = client.query(
        "MERGE INTO minv t USING (SELECT * FROM VALUES (2, 4.0), (3, 1.0), (9, 9.0) "
        "AS src(id, qty)) s ON t.id = s.id "
        "WHEN MATCHED AND t.qty = 0.0 THEN UPDATE SET qty = s.qty "
        "WHEN MATCHED THEN DELETE "
        "WHEN NOT MATCHED THEN INSERT VALUES (s.id, s.qty)"
    )
    assert out[-1]["tag"] == "MERGE 3", out  # 1 update + 1 delete + 1 insert
    (r,) = client.query("SELECT id, qty FROM minv ORDER BY id")
    assert r["rows"] == [["1", "5.0"], ["2", "4.0"], ["9", "9.0"]]
    spark.sql("DROP TABLE IF EXISTS minv")


def test_wire_rollback_after_write_errors(client, spark):
    """A client must not be able to believe a write was rolled back."""
    spark.sql("DROP TABLE IF EXISTS txn_demo")
    (r,) = client.query("CREATE TABLE txn_demo(v int)")
    assert "error" not in r, r
    # read-only txn: ROLLBACK still acks (nothing to lose)
    r1, r2, r3 = client.query("BEGIN; SELECT 1 AS x; ROLLBACK")
    assert r3["tag"] == "ROLLBACK"
    # write inside txn: ROLLBACK must error, and the write persists
    out = client.query("BEGIN; INSERT INTO txn_demo VALUES (42); ROLLBACK")
    assert any("error" in r for r in out), out
    err = next(r for r in out if "error" in r)
    assert err["sqlstate"] == "0A000"
    (r,) = client.query("SELECT count(*) AS n FROM txn_demo")
    assert r["rows"] == [["1"]]  # the insert was applied, honestly
    spark.sql("DROP TABLE IF EXISTS txn_demo")


def test_wire_prepare_execute(client):
    (r,) = client.query("PREPARE plus_one AS SELECT $1 + 1 AS v")
    assert r["tag"] == "PREPARE", r
    (r,) = client.query("EXECUTE plus_one(41)")
    assert r["rows"] == [["42"]]
    # re-execute with a different argument (cached statement)
    (r,) = client.query("EXECUTE plus_one(99)")
    assert r["rows"] == [["100"]]
    (r,) = client.query("DEALLOCATE plus_one")
    assert r["tag"] == "DEALLOCATE"
    (r,) = client.query("EXECUTE plus_one(1)")
    assert "error" in r and r["sqlstate"] == "26000"


def test_wire_prepare_execute_question_params(client):
    (r,) = client.query("PREPARE q AS SELECT ? * ? AS p")
    assert r["tag"] == "PREPARE"
    (r,) = client.query("EXECUTE q(6, 7)")
    assert r["rows"] == [["42"]]


# ------------------------------------------------ extended query protocol


def test_extended_query_basic(client):
    out = client.extended_query("SELECT 1 AS one, 'x' AS s")
    assert out["columns"] == ["one", "s"]
    assert out["rows"] == [["1", "x"]]
    assert out["tag"] == "SELECT 1"
    # full message choreography: ParseComplete, BindComplete,
    # RowDescription (from Describe), DataRow, CommandComplete, Ready
    assert out["events"][:3] == ["1", "2", "T"]
    assert out["events"][-1] == "Z"


def test_extended_query_with_params(client):
    out = client.extended_query("SELECT $1 + $2 AS total, $3 AS who", ["40", "2", "bob"])
    assert out["rows"] == [["42", "bob"]]
    out = client.extended_query("SELECT $1 IS NULL AS is_null", [None])
    assert out["rows"] == [["t"]]


def test_extended_query_param_containing_placeholder_chars(client):
    """A bound string containing '?' or '$2' is DATA — one-pass
    substitution must not re-scan inserted text (ADVICE r2: psycopg text
    param 'any luck?' previously corrupted the statement)."""
    out = client.extended_query("SELECT $1 AS a, $2 AS b", ["any luck?", "x"])
    assert "error" not in out, out
    assert out["rows"] == [["any luck?", "x"]]
    out = client.extended_query("SELECT $1 AS a", ["costs $2 now?"])
    assert "error" not in out, out
    assert out["rows"] == [["costs $2 now?"]]


def test_extended_query_param_backslash_injection(client):
    """A bound value ending in a backslash (or containing \\') must not
    break out of the generated literal (ADVICE r2: Spark treats
    backslash as an escape inside string literals, unlike PG)."""
    out = client.extended_query("SELECT $1 AS v", ["trailing\\"])
    assert "error" not in out, out
    assert out["rows"] == [["trailing\\"]]
    out = client.extended_query("SELECT $1 AS v, 2 AS two", ["a\\', 1 AS two --"])
    assert "error" not in out, out
    assert out["rows"] == [["a\\', 1 AS two --", "2"]]
    out = client.extended_query("SELECT length($1) AS n", ["\\\\"])
    assert "error" not in out, out
    assert out["rows"] == [["2"]]


def test_extended_query_ten_plus_params(client):
    """$10+ placeholders: Describe sizes by the max $N index, not a
    hard-coded cap of 9 (ADVICE r2)."""
    sql = "SELECT " + " + ".join(f"${i}" for i in range(1, 12)) + " AS total"
    out = client.extended_query(sql, [str(i) for i in range(1, 12)])
    assert "error" not in out, out
    assert out["rows"] == [[str(sum(range(1, 12)))]]


def test_extended_query_dollar_in_literal_not_param(client):
    """A $1 inside a string literal is data, for both Describe's param
    count and substitution."""
    out = client.extended_query("SELECT '$1 each' AS price, $1 AS v", ["7"])
    assert "error" not in out, out
    assert out["rows"] == [["$1 each", "7"]]


def test_extended_query_fixture_join(client):
    out = client.extended_query(
        "SELECT n_name FROM nation JOIN region ON n_regionkey = r_regionkey "
        "WHERE r_name = $1 ORDER BY n_name LIMIT 2",
        ["ASIA"],
    )
    assert len(out["rows"]) == 2
    assert out["tag"] == "SELECT 2"


def test_extended_query_ddl_no_data(client, spark, tmp_path):
    spark.sql("DROP TABLE IF EXISTS ext_demo")
    # explicit LOCATION: the in-memory catalog forgets tables between
    # processes but their warehouse dirs persist and block re-CREATE
    out = client.extended_query(
        f"CREATE TABLE ext_demo(v int) USING parquet LOCATION '{tmp_path}/ext_demo'"
    )
    assert "error" not in out, out
    assert "n" in out["events"]  # Describe answered NoData for DDL
    out = client.extended_query("INSERT INTO ext_demo VALUES ($1)", ["7"])
    # the row count comes from the write command's numOutputRows metric
    assert out["tag"] == "INSERT 0 1", out
    out = client.extended_query("SELECT v FROM ext_demo")
    assert out["rows"] == [["7"]]
    spark.sql("DROP TABLE IF EXISTS ext_demo")


def test_extended_query_error_recovers(client):
    out = client.extended_query("SELECT * FROM no_such_table_ext")
    assert "error" in out
    # next cycle on the same connection works (skip-to-Sync recovery)
    out = client.extended_query("SELECT 5 AS v")
    assert out["rows"] == [["5"]]


def test_extended_binary_result_format(client):
    """Binary result format (JDBC binaryTransfer): the full fixed-layout
    type matrix round-trips in PG binary encodings. Over-reference — the
    reference is text-only (cpp:136-164)."""
    out = client.extended_query(
        "SELECT CAST(1 AS smallint) AS i2, CAST(2 AS int) AS i4, "
        "CAST(-9223372036854775808 AS bigint) AS i8, "
        "CAST(1.5 AS float) AS f4, CAST(2.5 AS double) AS f8, "
        "true AS b, 'héllo' AS s, CAST(NULL AS int) AS nul, "
        "DATE '2024-01-02' AS d, TIMESTAMP '2024-01-02 03:04:05.25' AS ts",
        result_binary=True,
        raw_rows=True,
    )
    assert "error" not in out, out
    assert all(f == 1 for f in out["fmts"]), out["fmts"]
    (row,) = out["rows"]
    assert row[0] == struct.pack("!h", 1)
    assert row[1] == struct.pack("!i", 2)
    assert row[2] == struct.pack("!q", -(2**63))
    assert row[3] == struct.pack("!f", 1.5)
    assert row[4] == struct.pack("!d", 2.5)
    assert row[5] == b"\x01"
    assert row[6] == "héllo".encode()
    assert row[7] is None
    assert row[8] == struct.pack("!i", 8767)  # days since 2000-01-01
    micros = (8767 * 86400 + 3 * 3600 + 4 * 60 + 5) * 1_000_000 + 250_000
    assert row[9] == struct.pack("!q", micros)


def test_extended_binary_params(client):
    """Binary-format Bind parameters decoded via the OIDs declared in
    Parse (int8, float8, text, bool)."""
    out = client.extended_query(
        "SELECT $1 + 1 AS a, $2 * 2 AS b, $3 AS c, $4 AS d",
        params=[
            struct.pack("!q", 41),
            struct.pack("!d", 1.25),
            b"bob",
            b"\x01",
        ],
        param_oids=[20, 701, 25, 16],
        param_binary=True,
    )
    assert "error" not in out, out
    assert out["rows"] == [["42", "2.5", "bob", "t"]]


def test_extended_binary_numeric(client):
    """PG binary NUMERIC (public int16 ndigits/weight/sign/dscale +
    base-10000 digits layout) — the r5 'last loud refusal' for JDBC
    binaryTransfer users, now encoded for results and decoded for
    Bind parameters."""
    out = client.extended_query(
        "SELECT CAST(1234.5678 AS decimal(10,4)) AS a, "
        "CAST(-0.001 AS decimal(10,3)) AS b, "
        "CAST(0 AS decimal(5,2)) AS c, "
        "CAST(100000000 AS decimal(12,0)) AS d",
        result_binary=True,
        raw_rows=True,
    )
    assert "error" not in out, out
    (row,) = out["rows"]
    assert row[0] == struct.pack("!hhhh2h", 2, 0, 0, 4, 1234, 5678)
    assert row[1] == struct.pack("!hhhh1h", 1, -1, 0x4000, 3, 10)
    assert row[2] == struct.pack("!hhhh", 0, 0, 0, 2)
    assert row[3] == struct.pack("!hhhh1h", 1, 2, 0, 0, 1)
    # binary numeric Bind parameter decodes through oid 1700
    out = client.extended_query(
        "SELECT $1 + 1 AS v",
        params=[struct.pack("!hhhh2h", 2, 0, 0, 2, 12, 5000)],
        param_oids=[1700],
        param_binary=True,
    )
    assert "error" not in out, out
    assert out["rows"] == [["13.50"]]


def test_extended_binary_total_coverage(client):
    """Every servable column type now satisfies a binary result
    request (r9: text-advertised types emit the text bytes of the
    advertised OID 25 — see test_extended_binary_text_advertised_types
    for the struct/map/interval cases); only a RECTANGULAR-OID array
    with ragged data still refuses, loudly, mid-stream — and the
    connection recovers for the next cycle."""
    out = client.extended_query(
        "SELECT named_struct('a', 1, 'b', 'x') AS s",
        result_binary=True,
        raw_rows=True,
    )
    assert "error" not in out, out
    assert out["rows"] == [[b'{"a":1,"b":"x"}']]
    out = client.extended_query(
        "SELECT array(array(1), array(2, 3)) AS ragged",
        result_binary=True,
        raw_rows=True,
    )
    assert "error" in out and "ragged" in out["error"], out
    # connection recovers for the next cycle
    out = client.extended_query("SELECT 7 AS v")
    assert out["rows"] == [["7"]]


def test_cancel_request_kills_running_query(client):
    """CancelRequest → cancelJobsWithTag: the running Spark jobs are
    actually killed (not just the socket dropped — VERDICT r2 item 2),
    the victim gets SQLSTATE 57014, and the connection stays usable."""
    import time

    assert client.backend_key is not None and client.backend_key[1] > 0

    # ~2e14 row combinations: minutes of JVM work if NOT cancelled — the
    # test passing quickly is itself evidence the jobs were killed.
    slow_sql = (
        "SELECT count(*) AS n FROM lineitem a CROSS JOIN lineitem b "
        "WHERE (a.l_orderkey * b.l_orderkey) % 7 = 3"
    )
    result: dict = {}

    def run():
        (res,) = client.query(slow_sql)
        result.update(res)

    t = threading.Thread(target=run, daemon=True)
    start = time.monotonic()
    t.start()
    # cancel repeatedly until the victim thread returns (covers the
    # window before the first job is submitted, which cancelJobsWithTag
    # alone would miss)
    while t.is_alive() and time.monotonic() - start < 90:
        time.sleep(1.5)
        client.cancel()
    t.join(timeout=30)
    assert not t.is_alive(), "query never returned after cancel"
    assert time.monotonic() - start < 120
    assert "error" in result, result
    assert result.get("sqlstate") == "57014", result
    # connection still usable after the cancelled query
    (res,) = client.query("SELECT 3 AS v")
    assert res["rows"] == [["3"]]


def test_extended_portal_suspension(client):
    """Execute with maxrows pages the result: DataRows + PortalSuspended
    until the iterator drains, then CommandComplete with the TOTAL count
    (JDBC setFetchSize / psycopg named-cursor paging)."""
    out = client.extended_fetch(
        "SELECT id FROM range(25) t(id) ORDER BY id", maxrows=10
    )
    assert "error" not in out, out
    assert out["batches"] == [10, 10, 5]
    assert out["events"].count("s") == 2
    assert out["tag"] == "SELECT 25"
    assert [r[0] for r in out["rows"]] == [str(i) for i in range(25)]


def test_extended_portal_suspension_exact_boundary(client):
    # maxrows divides the row count exactly: one extra suspend, then an
    # empty final Execute answers CommandComplete
    out = client.extended_fetch(
        "SELECT id FROM range(20) t(id) ORDER BY id", maxrows=10
    )
    assert "error" not in out, out
    assert out["tag"] == "SELECT 20"
    assert sum(out["batches"]) == 20


def test_extended_maxrows_zero_streams_all(client):
    out = client.extended_fetch(
        "SELECT id FROM range(7) t(id) ORDER BY id", maxrows=0
    )
    assert "error" not in out, out
    assert out["batches"] == [7]
    assert out["events"].count("s") == 0
    assert out["tag"] == "SELECT 7"


def test_wire_asof_join_matches_duckdb(client):
    """The reference-reachable ASOF JOIN syntax (DuckDB v1.1.1 parses it
    through src/duckdb_pgwire_extension.cpp:52) must work from any wire
    client; result checked against DuckDB running the identical SQL on
    the identical fixture."""
    import duckdb

    sql = (
        "SELECT e.event_id, p.event_id AS prev_purchase_id "
        "FROM events e ASOF LEFT JOIN "
        "(SELECT user_id, ts, MAX(event_id) AS event_id FROM events "
        " WHERE event_type = 'purchase' GROUP BY user_id, ts) p "
        "ON e.user_id = p.user_id AND e.ts > p.ts "
        "WHERE e.event_id < 200 ORDER BY e.event_id"
    )
    (res,) = client.query(sql)
    assert "error" not in res, res
    con = duckdb.connect()
    con.execute(
        "CREATE VIEW events AS SELECT * FROM "
        f"read_parquet('{SF_DIR}/events.parquet')"
    )
    expected = [
        [None if v is None else str(v) for v in row]
        for row in con.execute(sql).fetchall()
    ]
    assert res["columns"] == ["event_id", "prev_purchase_id"]
    assert res["rows"] == expected


def test_wire_list_function_tail_matches_duckdb(client):
    """VERDICT r4 item 6: DuckDB's array_length / list_sum / list_avg /
    list_unique / list_count spellings over the wire, golden-checked
    against DuckDB running the identical SQL."""
    import duckdb

    sql = (
        "SELECT array_length(ARRAY[1,2,3]) AS n, "
        "list_avg(ARRAY[1, 2, 3, 4]) AS a, "
        "list_unique(ARRAY[1, 2, 2, NULL, 3]) AS u, "
        "list_count(ARRAY[1, NULL, 3]) AS c, "
        "list_min(ARRAY[3,1,2]) AS lo, list_max(ARRAY[3,1,2]) AS hi"
    )
    (res,) = client.query(sql)
    assert "error" not in res, res
    expected = [
        [None if v is None else str(v) for v in row]
        for row in duckdb.connect().execute(sql).fetchall()
    ]
    assert res["rows"] == expected
    # list_sum widens to DOUBLE (same policy as list_aggregate(x,'sum'))
    (res,) = client.query("SELECT list_sum(ARRAY[1.5, 2.5]) AS s")
    assert res["rows"] == [["4.0"]]


def test_wire_explain_analyze_has_runtime_metrics(client):
    """EXPLAIN ANALYZE must EXECUTE the query and return per-operator
    runtime metrics (r4 verdict: the EXPLAIN EXTENDED mapping returned
    plans without metrics — DuckDB's profiler, reachable through the
    reference's cpp:52 delegation, shows rows and timings)."""
    (res,) = client.query(
        "EXPLAIN ANALYZE SELECT l_returnflag, COUNT(*) AS n "
        "FROM lineitem GROUP BY l_returnflag"
    )
    assert "error" not in res, res
    assert res["columns"] == ["explain_analyze"]
    text = "\n".join(r[0] for r in res["rows"])
    assert "executed in" in text  # wall time header
    assert "Scan parquet" in text
    assert "number of output rows" in text
    # plain EXPLAIN still returns an UN-executed plan
    (res2,) = client.query("EXPLAIN SELECT 1 AS one")
    assert "error" not in res2, res2


def test_wire_create_macro_matches_duckdb(client):
    """DuckDB scalar macros over the wire (reference-reachable via
    cpp:52): definition, expansion inside a real query, defaults with
    := named args, nested calls, OR REPLACE, DROP, and binder-style
    errors — golden-checked against DuckDB where results flow."""
    import duckdb

    con = duckdb.connect()
    for stmt in (
        "CREATE MACRO addit(a, b) AS a + b",
        "CREATE MACRO scaled(x, f := 10) AS x * f",
    ):
        (r,) = client.query(stmt)
        assert "error" not in r, r
        con.execute(stmt)
    sql = (
        "SELECT r_regionkey, addit(r_regionkey, 100) AS shifted, "
        "scaled(r_regionkey) AS s10, scaled(r_regionkey, f := 3) AS s3, "
        "addit(addit(r_regionkey, 1), 2) AS nested "
        "FROM region ORDER BY r_regionkey"
    )
    (res,) = client.query(sql)
    assert "error" not in res, res
    con.execute(
        "CREATE VIEW region AS SELECT * FROM "
        f"read_parquet('{SF_DIR}/region.parquet')"
    )
    expected = [[str(v) for v in row] for row in con.execute(sql).fetchall()]
    assert res["rows"] == expected
    # duplicate without OR REPLACE errors; OR REPLACE redefines
    (r,) = client.query("CREATE MACRO addit(a, b) AS a - b")
    assert "error" in r
    (r,) = client.query("CREATE OR REPLACE MACRO addit(a, b) AS a * b")
    assert "error" not in r, r
    (res,) = client.query("SELECT addit(2, 3) AS r")
    assert res["rows"] == [["6"]]
    # macro names never expand inside string literals
    (res,) = client.query("SELECT 'addit(1,2)' AS s")
    assert res["rows"] == [["addit(1,2)"]]
    (r,) = client.query("DROP MACRO addit")
    assert "error" not in r, r
    (r,) = client.query("SELECT addit(1, 2) AS r")
    assert "error" in r  # gone: fails loudly in Spark's analyzer
    (r,) = client.query("DROP MACRO IF EXISTS addit")
    assert "error" not in r, r
    client.query("DROP MACRO IF EXISTS scaled")


def test_wire_table_macro_matches_duckdb(client):
    """DuckDB TABLE macros: the parenthesized expansion is a derived
    table in FROM position."""
    import duckdb

    ddl = (
        "CREATE MACRO nations_of(rk) AS TABLE "
        "SELECT n_nationkey, n_name FROM nation WHERE n_regionkey = rk"
    )
    sql = "SELECT n_name FROM nations_of(2) ORDER BY n_nationkey"
    (r,) = client.query(ddl)
    assert "error" not in r, r
    con = duckdb.connect()
    con.execute(
        "CREATE VIEW nation AS SELECT * FROM "
        f"read_parquet('{SF_DIR}/nation.parquet')"
    )
    con.execute(ddl)
    (res,) = client.query(sql)
    assert "error" not in res, res
    assert res["rows"] == [[str(v) for v in row] for row in con.execute(sql).fetchall()]
    (r,) = client.query("DROP MACRO nations_of")
    assert "error" not in r, r


def test_wire_pragma_statements(client):
    """DuckDB PRAGMA spellings a psql user types: version,
    database_list, show_tables, table_info('t') — DuckDB-shaped
    columns; unknown pragmas fail loudly."""
    (res,) = client.query("PRAGMA version")
    assert res["columns"] == ["library_version", "source_id"]
    assert "duckdb_pgwire_spark" in res["rows"][0][0]
    (res,) = client.query("PRAGMA database_list")
    assert res["columns"] == ["seq", "name", "file"]
    assert res["rows"][0][1] == "main"
    (res,) = client.query("PRAGMA show_tables")
    assert res["columns"] == ["name"]
    names = [r[0] for r in res["rows"]]
    assert "region" in names and "lineitem" in names
    (res,) = client.query("PRAGMA table_info('region')")
    assert res["columns"] == ["cid", "name", "type", "notnull", "dflt_value", "pk"]
    byname = {r[1]: r for r in res["rows"]}
    assert byname["r_regionkey"][2] == "INTEGER"
    assert byname["r_name"][2] == "VARCHAR"
    (res,) = client.query("PRAGMA enable_profiling")
    assert "error" in res  # unknown pragma: loud, not silently ack'd


def test_extended_explain_analyze_profiles(client):
    """EXPLAIN ANALYZE through the extended protocol (the JDBC/psycopg
    default mode) must execute + profile like the simple-query path."""
    out = client.extended_fetch(
        "EXPLAIN ANALYZE SELECT COUNT(*) AS n FROM region", maxrows=100
    )
    assert "error" not in out, out
    text = "\n".join(r[0] for r in out["rows"])
    assert "executed in" in text and "Scan parquet" in text


def test_wire_copy_compression_and_partition_by(client, spark, tmp_path):
    """DuckDB COPY TO options COMPRESSION and PARTITION_BY map onto the
    DataFrameWriter codec / hive-style partition layout."""
    out = tmp_path / "part_copy"
    (res,) = client.query(
        f"COPY (SELECT n_nationkey, n_name, n_regionkey FROM nation) TO '{out}' "
        "(FORMAT PARQUET, COMPRESSION zstd, PARTITION_BY (n_regionkey))"
    )
    assert res.get("tag") == "COPY 25", res
    import os

    dirs = sorted(d for d in os.listdir(out) if d.startswith("n_regionkey="))
    assert len(dirs) == 5, dirs
    files = os.listdir(out / dirs[0])
    assert any(".zstd." in f or f.endswith(".parquet") for f in files)
    back = spark.read.parquet(str(out))
    assert back.count() == 25
    assert set(back.columns) == {"n_nationkey", "n_name", "n_regionkey"}


def test_wire_with_recursive_matches_duckdb(client):
    """WITH RECURSIVE is native in both engines (Spark 4.1 added it) —
    the wire passes it through untouched; golden-check vs DuckDB."""
    import duckdb

    sql = (
        "WITH RECURSIVE fib(a, b) AS ("
        " SELECT 0, 1 UNION ALL SELECT b, a + b FROM fib WHERE a < 1000)"
        " SELECT a FROM fib ORDER BY a"
    )
    (res,) = client.query(sql)
    assert "error" not in res, res
    expected = [[str(v) for v in row] for row in duckdb.connect().execute(sql).fetchall()]
    assert res["rows"] == expected


def test_wire_bracket_idioms_match_duckdb(client):
    """DuckDB bracket idioms: bare list literals, 1-BASED subscripts
    (Spark's native base[i] is 0-based — passthrough would be silently
    wrong), negative indexing, slices, and list comprehensions. Golden
    vs DuckDB running the identical SQL."""
    import duckdb

    sql = (
        "SELECT [1, 2, 3] AS lit, "
        "[10, 20, 30][1] AS first, "
        "[10, 20, 30][-1] AS last, "
        "[10, 20, 30, 40][2:3] AS sl, "
        "[x * 2 FOR x IN [1, 2, 3] IF x > 1] AS comp, "
        "string_split('a,b,c', ',')[2] AS second"
    )
    (res,) = client.query(sql)
    assert "error" not in res, res
    def pgtext(v):  # our wire renders arrays PG-style: {a,b}
        if isinstance(v, list):
            return "{" + ",".join(str(x) for x in v) + "}"
        return str(v)

    expected = [
        [pgtext(v) for v in row] for row in duckdb.connect().execute(sql).fetchall()
    ]
    assert res["rows"] == expected, (res["rows"], expected)


def test_wire_struct_literal_and_from_first(client):
    """DuckDB struct literals {'k': v} (→ named_struct) and FROM-first
    statements (FROM t / FROM t SELECT cols)."""
    (res,) = client.query("SELECT {'a': 1, 'b': 'x'}.a AS v")
    assert "error" not in res, res
    assert res["rows"] == [["1"]]
    (res,) = client.query("FROM region")
    assert "error" not in res, res
    assert len(res["rows"]) == 5 and res["columns"][0] == "r_regionkey"
    (res,) = client.query("FROM region SELECT r_name ORDER BY r_name LIMIT 2")
    assert "error" not in res, res
    assert res["columns"] == ["r_name"] and len(res["rows"]) == 2
    # braces inside string literals stay data
    (res,) = client.query("SELECT '{not: struct}' AS s")
    assert res["rows"] == [["{not: struct}"]]


def test_wire_concurrent_connections(wire_server):
    """8 clients hammering the server concurrently from their own
    sockets: results must be correct and isolated (no cross-connection
    state bleed, no pool deadlock). Exercises the per-connection
    asyncio tasks + shared thread-pool execution path under load."""
    import importlib.util
    from concurrent.futures import ThreadPoolExecutor
    from pathlib import Path

    spec = importlib.util.spec_from_file_location(
        "pgwire_client_cc", Path(__file__).parent.parent / "scripts" / "pgwire_client.py"
    )
    mod = importlib.util.module_from_spec(spec)
    spec.loader.exec_module(mod)

    def worker(i: int) -> list:
        c = mod.PgClient(port=wire_server)
        try:
            out = []
            for q, want in (
                (f"SELECT {i} + 1 AS v", str(i + 1)),
                ("SELECT COUNT(*) AS n FROM region", "5"),
                (f"SELECT r_name FROM region WHERE r_regionkey = {i % 5}", None),
                (f"SELECT SUM(x) AS s FROM (SELECT explode(sequence(1, {i + 3})) AS x)",
                 str((i + 3) * (i + 4) // 2)),
            ):
                (res,) = c.query(q)
                assert "error" not in res, (i, q, res)
                if want is not None:
                    assert res["rows"][0][0] == want, (i, q, res["rows"])
                out.append(res)
            return out
        finally:
            c.close()

    with ThreadPoolExecutor(max_workers=8) as pool:
        results = list(pool.map(worker, range(8)))
    assert len(results) == 8


def test_macro_substitution_is_simultaneous(client):
    """Code-review r5 fix: sequential parameter substitution captured an
    argument that referenced a column named like a later parameter
    (addit(b, 10) against body a + b expanded to ((10)) + (10) — a
    silently wrong constant). Substitution is now one simultaneous
    pass; also: a ':=' inside a string-literal argument must stay
    positional, not parse as a named argument."""
    import duckdb

    (r,) = client.query("CREATE OR REPLACE MACRO addit2(a, b) AS a + b")
    assert "error" not in r, r
    sql = (
        "SELECT r_regionkey, addit2(r_regionkey + 1, 10) AS v1, "
        "addit2(10, r_regionkey) AS v2 FROM region ORDER BY r_regionkey"
    )
    (res,) = client.query(sql)
    assert "error" not in res, res
    con = duckdb.connect()
    con.execute(
        "CREATE VIEW region AS SELECT * FROM "
        f"read_parquet('{SF_DIR}/region.parquet')"
    )
    con.execute("CREATE MACRO addit2(a, b) AS a + b")
    expected = [[str(v) for v in row] for row in con.execute(sql).fetchall()]
    assert res["rows"] == expected
    # the capture shape itself: argument named like the OTHER parameter
    (r,) = client.query("CREATE OR REPLACE MACRO swapped(a, b) AS a - b")
    assert "error" not in r, r
    (res,) = client.query(
        "SELECT swapped(r_regionkey, 1) AS d FROM region WHERE r_regionkey = 4"
    )
    assert res["rows"] == [["3"]]
    # ':=' inside a string literal is data, not a named argument
    (r,) = client.query("CREATE OR REPLACE MACRO tagit(s) AS upper(s)")
    assert "error" not in r, r
    (res,) = client.query("SELECT tagit('k:=v') AS t")
    assert res["rows"] == [["K:=V"]]
    for m in ("addit2", "swapped", "tagit"):
        client.query(f"DROP MACRO IF EXISTS {m}")


def test_extended_describe_then_explain_analyze_profiles(client):
    """Code-review r5 fix: the Describe-cached portal df shadowed the
    EXPLAIN ANALYZE execute branch, so the JDBC Parse/Bind/Describe/
    Execute cycle got the unexecuted plan with no metrics."""
    out = client.extended_query(
        "EXPLAIN ANALYZE SELECT COUNT(*) AS n FROM region"
    )
    assert "error" not in out, out
    text = "\n".join(r[0] for r in out["rows"])
    assert "executed in" in text and "Scan parquet" in text


def test_wire_unpivot_statement_matches_duckdb(client):
    """DuckDB's statement-level UNPIVOT (sibling of the dynamic PIVOT
    statement): UNPIVOT t ON cols INTO NAME n VALUE v."""
    import duckdb

    sql = (
        "UNPIVOT (SELECT 1 AS id, 10.5 AS a, 20.5 AS b) "
        "ON a, b INTO NAME metric VALUE val"
    )
    # our shim takes a table name; build a temp view through the wire
    (r,) = client.query(
        "CREATE OR REPLACE TEMPORARY VIEW unpiv_m AS SELECT 1 AS id, "
        "10.5 AS a, 20.5 AS b"
    )
    assert "error" not in r, r
    (res,) = client.query("UNPIVOT unpiv_m ON a, b INTO NAME metric VALUE val")
    assert "error" not in res, res
    assert res["columns"] == ["id", "metric", "val"]
    con = duckdb.connect()
    con.execute("CREATE TABLE unpiv_m AS SELECT 1 AS id, 10.5 AS a, 20.5 AS b")
    expected = [
        [str(v) for v in row]
        for row in con.execute(
            "UNPIVOT unpiv_m ON a, b INTO NAME metric VALUE val"
        ).fetchall()
    ]
    assert sorted(map(tuple, res["rows"])) == sorted(map(tuple, expected))


def test_wire_json_arrow_operators_match_duckdb(client):
    """PG/DuckDB JSON arrows -> / ->> compose into get_json_object
    paths; lambda arrows (x -> expr) must survive untouched. Golden on
    the events.props JSON column vs DuckDB."""
    import duckdb

    sql = (
        "SELECT event_id, props ->> 'device' AS device "
        "FROM events WHERE event_id < 50 ORDER BY event_id"
    )
    (res,) = client.query(sql)
    assert "error" not in res, res
    con = duckdb.connect()
    con.execute(
        "CREATE VIEW events AS SELECT * FROM "
        f"read_parquet('{SF_DIR}/events.parquet')"
    )
    expected = [
        [None if v is None else str(v) for v in row]
        for row in con.execute(sql).fetchall()
    ]
    assert res["rows"] == expected
    # chain + integer index on a literal
    (res,) = client.query(
        """SELECT '{"a": {"xs": [5, 7]}}' -> 'a' ->> 1 AS v"""
    )
    # path composes to $.a[1]; DuckDB -> 'a' then ->> 1 gives NULL on an
    # object (index into object) — mirror duckdb's answer
    dres = duckdb.connect().execute(
        """SELECT '{"a": {"xs": [5, 7]}}' -> 'a' ->> 1 AS v"""
    ).fetchall()[0][0]
    got = res["rows"][0][0]
    assert (got is None or got == "") == (dres is None) or str(dres) == got
    # lambdas in HOFs still work through the wire
    (res,) = client.query("SELECT transform(ARRAY[1,2], x -> x * 2) AS l")
    assert res["rows"] == [["{2,4}"]]


def test_wire_json_extract_spellings_match_duckdb(client):
    """DuckDB json_extract_string / json_extract map to
    get_json_object (text semantics; exact for $-paths)."""
    import duckdb

    sql = (
        "SELECT event_id, json_extract_string(props, '$.device') AS d "
        "FROM events WHERE event_id < 30 ORDER BY event_id"
    )
    (res,) = client.query(sql)
    assert "error" not in res, res
    con = duckdb.connect()
    con.execute(
        "CREATE VIEW events AS SELECT * FROM "
        f"read_parquet('{SF_DIR}/events.parquet')"
    )
    expected = [
        [None if v is None else str(v) for v in row]
        for row in con.execute(sql).fetchall()
    ]
    assert res["rows"] == expected


def _fresh_wire_table(spark, name):
    """Drop a test table AND its possibly-orphaned warehouse dir (a
    prior aborted run leaves the dir behind; the in-memory catalog
    forgets the table, and the leftover dir then blocks CREATE)."""
    import shutil

    spark.sql(f"DROP TABLE IF EXISTS {name}")
    shutil.rmtree(f"spark-warehouse/{name}", ignore_errors=True)


def test_wire_insert_returning(client, spark):
    """INSERT … RETURNING over the wire — the most-hit PG-client surface
    the reference delegates to DuckDB (cpp:52); every ORM emits it."""
    _fresh_wire_table(spark, "ret_users")
    client.query("CREATE TABLE ret_users(id int, name varchar)")
    (res,) = client.query(
        "INSERT INTO ret_users VALUES (1, 'ada'), (2, 'bob') RETURNING *"
    )
    assert "error" not in res, res
    assert res["tag"] == "INSERT 0 2"
    assert sorted(res["rows"]) == [["1", "ada"], ["2", "bob"]]
    # expression projection + column-list insert with NULL fill
    (res,) = client.query(
        "INSERT INTO ret_users (id) VALUES (3) RETURNING id * 10 AS ten, name"
    )
    assert res["tag"] == "INSERT 0 1"
    assert res["rows"] == [["30", None]]
    (res,) = client.query("SELECT count(*) AS n FROM ret_users")
    assert res["rows"] == [["3"]]
    spark.sql("DROP TABLE IF EXISTS ret_users")


def test_wire_plain_insert_tag_counts_rows(client, spark):
    """A plain INSERT (no RETURNING / ON CONFLICT) runs through Spark's
    own INSERT, whose result relation is empty; the tag carries the
    rows written, as PG and DuckDB report them."""
    _fresh_wire_table(spark, "tag_rows")
    client.query("CREATE TABLE tag_rows(id int, name varchar)")
    (res,) = client.query(
        "INSERT INTO tag_rows VALUES (1, 'a'), (2, 'b'), (3, NULL)"
    )
    assert res["tag"] == "INSERT 0 3", res
    (res,) = client.query(
        "INSERT INTO tag_rows SELECT n_nationkey, n_name FROM nation"
        " WHERE n_regionkey = 1"
    )
    assert res["tag"] == "INSERT 0 5", res
    (res,) = client.query("INSERT INTO tag_rows SELECT 9, 'x' WHERE false")
    assert res["tag"] == "INSERT 0 0", res
    (res,) = client.query("SELECT count(*) AS n FROM tag_rows")
    assert res["rows"] == [["8"]], res
    spark.sql("DROP TABLE IF EXISTS tag_rows")


def _job_counter(client, spark):
    """jobs(sql, extended=False) → the Spark jobs the statement started
    under the connection's job tag (it must not fail)."""
    tracker = spark.sparkContext._jsc.sc().statusTracker()
    tag = f"pgwire-conn-{client.backend_key[1]}"

    def jobs(sql, extended=False):
        before = set(tracker.getJobIdsForTag(tag))
        res = client.extended_query(sql) if extended else client.query(sql)[0]
        assert "error" not in res, (sql, res)
        return len(set(tracker.getJobIdsForTag(tag)) - before)

    return jobs


_FOLD_LOOKUPS = (
    "SELECT o_orderkey, o_custkey, o_totalprice, o_orderstatus FROM orders "
    "WHERE o_orderkey = 4",
    "SELECT c_custkey, c_name, c_acctbal FROM customer WHERE c_custkey = 7",
)


def test_wire_driver_built_results_start_no_spark_job(client, spark, monkeypatch):
    """DESCRIBE, SHOW and PRAGMA answers are built on the driver as
    Arrow-backed local relations and collected without a Spark job
    under the connection's job tag. A FROM-less SELECT and a point
    lookup on a fixture view fold to a driver-resident LocalRelation
    (app._folded) and start none either, in the simple and the
    extended protocol, once the table's copy is built. A scan starts
    jobs as usual (the positive control: one shuffle-map job and one
    result job, since AQE runs the aggregate's exchange as its own
    query stage), and so does a lookup on a table above the bound."""
    from duckdb_pgwire_spark import session as fixtures

    jobs = _job_counter(client, spark)
    for sql in _FOLD_LOOKUPS:
        jobs(sql)  # the first use builds the table's copy
    for sql in (
        "DESCRIBE SELECT n_nationkey, n_name FROM nation",
        "SHOW TABLES",
        "SHOW transaction_isolation",
        "PRAGMA version",
        "SELECT 1",
        "SELECT '2021-03-04'::DATE + 30 AS d, upper('x') || 'y' AS u",
        *_FOLD_LOOKUPS,
    ):
        assert jobs(sql) == 0, sql
    for sql in ("SELECT 1", *_FOLD_LOOKUPS):
        assert jobs(sql, extended=True) == 0, sql
    # folded at each execution: a fresh value every time
    fresh = "SELECT random() AS r, now() AS t"
    assert jobs(fresh) == 0
    assert client.query(fresh)[0]["rows"] != client.query(fresh)[0]["rows"]
    assert jobs("SELECT count(*) FROM nation") == 2
    monkeypatch.setattr(fixtures, "_RESIDENT_TABLE_ROWS", 1000)
    assert jobs(_FOLD_LOOKUPS[0]) >= 1
    assert jobs(_FOLD_LOOKUPS[0], extended=True) >= 1


# one fold-shaped statement per fixture (and FROM-less ones): NULLs,
# LIMIT, casts to text, printf, timestamps, arrays
_FOLD_STATEMENTS = (
    "SELECT 1 AS a, NULL AS b, 'x' || 'y' AS c, 2.5::DECIMAL(5,2) AS d",
    "SELECT '2020-02-28'::DATE + 2 AS d, strftime(TIMESTAMP '2020-02-28 10:11:00',"
    " '%Y/%m/%d %H') AS s, list_aggregate([3, 4, 5], 'sum') AS l",
    "SELECT * FROM region",
    "SELECT n_name, NULLIF(n_regionkey, 2) AS r FROM nation WHERE n_nationkey % 3 = 0",
    "SELECT printf('%s-%d', c_name, c_nationkey + 5) AS p, c_acctbal FROM customer"
    " WHERE c_custkey BETWEEN 10 AND 20",
    "SELECT s_name, s_acctbal * 2 AS a FROM supplier LIMIT 7",
    "SELECT p_partkey, p_brand || '/' || p_type AS u, p_retailprice FROM part"
    " WHERE p_size = 7 LIMIT 20",
    "SELECT o_orderkey, o_orderdate::VARCHAR || '/x' AS v, o_orderdate,"
    " CASE WHEN o_orderstatus = 'F' THEN NULL ELSE o_totalprice END AS t"
    " FROM orders WHERE o_orderkey < 200",
    "SELECT * FROM lineitem WHERE l_orderkey = 4",
    "SELECT event_id, ts, props, value FROM events WHERE user_id = 3 LIMIT 10",
    "SELECT doc_id, length(text) AS n, lang FROM documents WHERE doc_id < 5",
    "SELECT vec_id, embedding, label FROM embeddings WHERE vec_id < 3",
)


def test_wire_folded_results_match_file_scans(wire_server, spark, monkeypatch):
    """Fold-shaped statements over every fixture answer byte-identical
    messages (RowDescription, DataRows, CommandComplete), in text and
    in binary, from the resident copies (no Spark job; lineitem is over
    the bound and scanned) and with the bound forced to 0 (the parquet
    scans)."""
    from duckdb_pgwire_spark import session as fixtures

    from .test_wire_golden import _Raw

    raw = _Raw(wire_server)
    c = _pgwire_client_module().PgClient(port=wire_server)
    jobs = _job_counter(c, spark)

    def answers():
        return [
            (raw.simple(sql), raw.extended(sql, maxrows=0, binary=True))
            for sql in _FOLD_STATEMENTS
        ]

    try:
        for sql in _FOLD_STATEMENTS:
            jobs(sql)  # builds the copies
        # lineitem's 60,000 rows are over the per-table bound: scanned either way
        assert [jobs(sql) == 0 for sql in _FOLD_STATEMENTS] == [
            "lineitem" not in sql for sql in _FOLD_STATEMENTS
        ]
        resident = answers()
        monkeypatch.setattr(fixtures, "_RESIDENT_TABLE_ROWS", 0)
        scanned = answers()
        assert all(jobs(sql) >= 1 for sql in _FOLD_STATEMENTS[2:])
    finally:
        raw.close()
        c.close()
    for sql, got, want in zip(_FOLD_STATEMENTS, resident, scanned):
        assert got == want, sql
        assert not any(tag == "E" for part in got for tag, _ in part), (sql, got)


def test_wire_folding_errors_keep_their_answer(client, monkeypatch, oracle):
    """A fold evaluates expressions at optimization time, so a guard or
    cast failure is raised there instead of in a job; the statement
    then runs its own plan and answers the file scan's SQLSTATE (class
    22, data exception) and message. DuckDB rejects each statement."""
    import duckdb

    from duckdb_pgwire_spark import session as fixtures

    cases = [
        # (statement, message fragment, DuckDB's error)
        ("SELECT ln(c_acctbal - 100000) AS l FROM customer WHERE c_custkey = 7",
         "Out of Range Error", duckdb.OutOfRangeException),
        ("SELECT printf('%d', c_name) AS p FROM customer WHERE c_custkey = 7",
         'Invalid type specifier "d"', duckdb.InvalidInputException),
        ("SELECT CAST(o_totalprice * 1000 AS SMALLINT) AS s FROM orders"
         " WHERE o_orderkey = 4", "CAST_OVERFLOW", duckdb.ConversionException),
        ("SELECT CAST(40000 AS SMALLINT) AS s", "CAST_OVERFLOW",
         duckdb.ConversionException),
        ("SELECT 'cancelled'::fold_mood AS m", "Could not convert",
         duckdb.ConversionException),
        ("SELECT c_mktsegment::fold_mood AS m FROM customer WHERE c_custkey = 7",
         "Could not convert", duckdb.ConversionException),
    ]
    (r,) = client.query("CREATE TYPE fold_mood AS ENUM ('sad', 'ok')")
    assert "error" not in r, r
    oracle.execute("CREATE TYPE fold_mood AS ENUM ('sad', 'ok')")
    answers = {}
    try:
        for bound in (fixtures._RESIDENT_TABLE_ROWS, 0):
            monkeypatch.setattr(fixtures, "_RESIDENT_TABLE_ROWS", bound)
            for sql, frag, _ in cases:
                (r,) = client.query(sql)
                assert frag in r.get("error", ""), (bound, sql, r)
                answers.setdefault(sql, set()).add(r["sqlstate"])
    finally:
        client.query("DROP TYPE fold_mood")
    for sql, _, duck in cases:
        (state,) = answers[sql]  # the same with and without the copies
        assert state.startswith("22"), (sql, state)
        with pytest.raises(duck):
            oracle.execute(sql).fetchall()
    oracle.execute("DROP TYPE fold_mood")
    assert answers[cases[0][0]] == {"22003"}
    assert answers[cases[1][0]] == {"22023"}
    # CAST_OVERFLOW, streamed from a job or raised at folding time
    assert answers[cases[2][0]] == answers[cases[3][0]] == {"22003"}
    assert answers[cases[4][0]] == answers[cases[5][0]] == {"22P02"}


def test_wire_user_view_over_fixture_folds(client, spark, oracle):
    """A user's view over a fixture view folds through both views and
    answers DuckDB's rows without a Spark job."""
    jobs = _job_counter(client, spark)
    ddl = (
        "CREATE OR REPLACE TEMP VIEW fold_big_orders AS "
        "SELECT * FROM orders WHERE o_totalprice > 300000"
    )
    sql = "SELECT o_orderkey, o_totalprice FROM fold_big_orders WHERE o_orderkey < 400"
    (r,) = client.query(ddl)
    assert "error" not in r, r
    try:
        jobs(sql)
        assert jobs(sql) == 0
        (r,) = client.query(sql)
        oracle.execute(ddl.replace("TEMP ", ""))
        want = oracle.execute(sql).fetchall()
        assert sorted(r["rows"]) == sorted([[str(k), str(v)] for k, v in want])
        assert len(want) > 0
    finally:
        client.query("DROP VIEW fold_big_orders")
        oracle.execute("DROP VIEW IF EXISTS fold_big_orders")


def test_wire_fixture_glob_gets_no_resident_copy(client, monkeypatch, oracle):
    """A glob over two fixture files scans both, so it is no fixture
    scan: a fold-shaped read of the glob, then a lookup on one of its
    fixtures, answer the same rows with the copies on (no copy built
    yet) and with the bound forced to 0; the lookup answers DuckDB's
    rows."""
    from duckdb_pgwire_spark import session as fixtures

    glob = f"SELECT * FROM read_parquet('{SF_DIR}/{{nation,region}}.parquet') LIMIT 40"
    lookup = "SELECT n_nationkey, n_name FROM nation WHERE n_nationkey < 4"
    answers = []
    for bound in (fixtures._RESIDENT_TABLE_ROWS, 0):
        monkeypatch.setattr(fixtures, "_RESIDENT_TABLE_ROWS", bound)
        monkeypatch.setattr(fixtures, "_RESIDENT", {})
        monkeypatch.setattr(fixtures, "_LEAVES", {})
        rows = []
        for sql in (glob, lookup, glob):
            (r,) = client.query(sql)
            assert "error" not in r, (sql, r)
            rows.append(sorted(r["rows"], key=repr))
        answers.append(rows)
    assert answers[0] == answers[1]
    assert len(answers[1][0]) == 30  # 25 nations and 5 regions
    want = sorted([[str(k), n] for k, n in oracle.execute(lookup).fetchall()], key=repr)
    assert answers[1][1] == want and len(want) == 4


def test_resident_relation_under_concurrent_lookups(wire_server, spark, monkeypatch):
    """Eight threads look up fixture leaves (each read of a file brings
    new attribute ids, so every leaf is new) while the leaf memo evicts
    past a lowered _LEAVES_MAX: every lookup returns the table's copy
    over its own leaf's attributes."""
    from concurrent.futures import ThreadPoolExecutor

    from duckdb_pgwire_spark import session as fixtures
    from duckdb_pgwire_spark.session import resident_relation, table_path

    monkeypatch.setattr(fixtures, "_LEAVES_MAX", 3)
    leaves = [
        spark.read.parquet(table_path(SF_DIR, name))._jdf.queryExecution().analyzed()
        for name in ("nation", "region", "supplier") * 8
    ]

    def look(leaf):
        found = resident_relation(spark, leaf, None)
        return found is not None and found.output().toString() == leaf.output().toString()

    with ThreadPoolExecutor(8) as pool:
        assert all(pool.map(look, leaves * 4))
    assert len(fixtures._LEAVES) <= 3


def test_wire_statement_work_stays_off_the_event_loop(client, spark, monkeypatch):
    """Spark planning, catalog lookups and the dialect rewrite of a
    statement run on the worker pool: SparkSession.sql,
    SparkSession.table and app.rewrite are never called on a thread
    that runs an event loop, so the loop stays free for other
    connections and for CancelRequest."""
    from duckdb_pgwire_spark.server import app

    on_loop: list[str] = []

    def guard(name, fn):
        def wrapped(*a, **k):
            try:
                asyncio.get_running_loop()
            except RuntimeError:
                pass
            else:
                on_loop.append(name)
            return fn(*a, **k)

        return wrapped

    cls = type(spark)
    for t in ("loopchk", "loopsrc"):
        _fresh_wire_table(spark, t)
    monkeypatch.setattr(cls, "sql", guard("SparkSession.sql", cls.sql))
    monkeypatch.setattr(cls, "table", guard("SparkSession.table", cls.table))
    monkeypatch.setattr(app, "rewrite", guard("rewrite", app.rewrite))
    seen = {}

    def run(sql, copy_data=None):
        on_loop.clear()
        out = client.query(sql) if copy_data is None else client.copy_in(sql, copy_data)
        assert all("error" not in r for r in out), (sql, out)
        seen[sql] = sorted(set(on_loop))

    try:
        for sql in (
            "CREATE TABLE loopchk(id int, v string)",
            "CREATE TABLE loopsrc(id int, v string)",
            "INSERT INTO loopsrc VALUES (1, 'q'), (4, 'r')",
            "INSERT INTO loopchk VALUES (1, 'a'), (2, 'b'), (3, 'c')",
            "INSERT INTO loopchk VALUES (5, 'e') RETURNING id",
            "INSERT INTO loopchk VALUES (1, 'z') ON CONFLICT (id) DO NOTHING",
            "UPDATE loopchk SET v = 'x' WHERE id = 1",
            "UPDATE loopchk SET v = 'y' WHERE id = 2 RETURNING v",
            "DELETE FROM loopchk WHERE id = 3",
            "DELETE FROM loopchk WHERE id = 5 RETURNING id",
            "UPDATE loopchk SET v = loopsrc.v FROM loopsrc "
            "WHERE loopchk.id = loopsrc.id",
            "DELETE FROM loopchk USING loopsrc "
            "WHERE loopchk.id = loopsrc.id AND loopsrc.v = 'q'",
            "MERGE INTO loopchk t USING loopsrc s ON t.id = s.id "
            "WHEN MATCHED THEN UPDATE SET v = s.v "
            "WHEN NOT MATCHED THEN INSERT VALUES (s.id, s.v)",
            "COPY loopchk TO STDOUT",
            "CREATE TYPE loop_mood AS ENUM ('lo', 'hi')",
            "SET VARIABLE loop_var = 40 + 2",
            "SET search_path TO public",
            "ATTACH ':memory:' AS loop_mem",
            "SELECT count(*) AS n FROM loopchk",
        ):
            run(sql)
        run("COPY loopchk FROM STDIN (FORMAT CSV)", b"7,g\n8,h\n")
        assert {sql: names for sql, names in seen.items() if names} == {}
    finally:
        for sql in (
            "DETACH loop_mem", "RESET VARIABLE loop_var", "DROP TYPE loop_mood",
        ):
            client.query(sql)
        for t in ("loopchk", "loopsrc"):
            _fresh_wire_table(spark, t)


def test_wire_plain_insert_rewrites_once(client, spark, monkeypatch):
    """A plain INSERT takes one rewrite(): the text the INSERT branch
    rewrote for its parse is the text Spark runs, unchanged."""
    from duckdb_pgwire_spark.server import app

    calls: list[str] = []
    ran: list[str] = []
    orig, cls = app.rewrite, type(spark)
    orig_sql = cls.sql

    def counting(sql, *a, **k):
        calls.append(sql)
        return orig(sql, *a, **k)

    def recording(self, sql, *a, **k):
        ran.append(sql)
        return orig_sql(self, sql, *a, **k)

    _fresh_wire_table(spark, "rw_once")
    (res,) = client.query("CREATE TABLE rw_once(id int, v string)")
    assert "error" not in res, res
    stmts = (
        ("INSERT INTO rw_once VALUES (1, 'a'), (2, 'b')", "INSERT 0 2"),
        (
            "INSERT INTO rw_once SELECT n_nationkey, n_name FROM nation "
            "WHERE n_regionkey = 1",
            "INSERT 0 5",
        ),
    )
    expected = [app._hugeint_sums(spark, orig(sql)) for sql, _ in stmts]
    monkeypatch.setattr(app, "rewrite", counting)
    monkeypatch.setattr(cls, "sql", recording)
    for (sql, tag), spark_sql in zip(stmts, expected):
        calls.clear()
        ran.clear()
        (res,) = client.query(sql)
        assert res.get("tag") == tag, res
        assert calls == [sql], calls
        assert spark_sql in ran, ran
    monkeypatch.undo()
    (res,) = client.query("SELECT count(*) FROM rw_once")
    assert res["rows"] == [["7"]], res
    _fresh_wire_table(spark, "rw_once")


def test_wire_describe_statement_of_explain_analyze_runs_nothing(client, spark):
    """Describe('S') of an EXPLAIN ANALYZE answers its one text column
    without profiling the query: no Spark job under the connection's
    tag before Bind and Execute."""
    tracker = spark.sparkContext._jsc.sc().statusTracker()
    tag = f"pgwire-conn-{client.backend_key[1]}"
    before = set(tracker.getJobIdsForTag(tag))
    sql = "EXPLAIN ANALYZE SELECT count(*) FROM orders"
    client._send_msg(b"P", b"ea\x00" + sql.encode() + b"\x00" + struct.pack("!H", 0))
    client._send_msg(b"D", b"Sea\x00")
    client._send_msg(b"S", b"")
    events, columns, oids = [], [], []
    while True:
        mtag, body = client._read_msg()
        events.append(mtag)
        if mtag == b"T":
            (nf,) = struct.unpack("!H", body[:2])
            off = 2
            for _ in range(nf):
                end = body.index(b"\x00", off)
                columns.append(body[off:end].decode())
                oids.append(struct.unpack("!I", body[end + 7 : end + 11])[0])
                off = end + 19
        if mtag == b"Z":
            break
    assert events == [b"1", b"t", b"T", b"Z"], events
    assert (columns, oids) == (["explain_analyze"], [25])
    assert set(tracker.getJobIdsForTag(tag)) - before == set()


def test_wire_update_delete_returning(client, spark):
    """UPDATE RETURNING sees NEW values; DELETE RETURNING sees OLD rows."""
    _fresh_wire_table(spark, "ret_acct")
    client.query("CREATE TABLE ret_acct(id int, bal double)")
    client.query("INSERT INTO ret_acct VALUES (1, 10.0), (2, 20.0), (3, 30.0)")
    (res,) = client.query(
        "UPDATE ret_acct SET bal = bal + 5.0 WHERE id >= 2 RETURNING id, bal"
    )
    assert "error" not in res, res
    assert res["tag"] == "UPDATE 2"
    assert sorted(res["rows"]) == [["2", "25.0"], ["3", "35.0"]]
    (res,) = client.query("DELETE FROM ret_acct WHERE bal > 26.0 RETURNING *")
    assert res["tag"] == "DELETE 1"
    assert res["rows"] == [["3", "35.0"]]
    (res,) = client.query("SELECT id FROM ret_acct ORDER BY id")
    assert res["rows"] == [["1"], ["2"]]
    spark.sql("DROP TABLE IF EXISTS ret_acct")


def test_wire_on_conflict_golden_vs_duckdb(client, spark):
    """INSERT … ON CONFLICT DO NOTHING / DO UPDATE (incl. excluded.*,
    bare-target-column scope, WHERE arm) — statement-for-statement
    golden against DuckDB with a real PRIMARY KEY constraint."""
    import duckdb

    stmts = [
        "INSERT INTO upx VALUES (1, 10.0), (2, 20.0)",
        "INSERT INTO upx VALUES (2, 5.0), (3, 30.0) ON CONFLICT (k) DO NOTHING RETURNING k, v",
        "INSERT INTO upx VALUES (1, 100.0), (4, 40.0) "
        "ON CONFLICT (k) DO UPDATE SET v = v + excluded.v RETURNING k, v",
        "INSERT INTO upx VALUES (2, 1.0), (3, 2.0) "
        "ON CONFLICT (k) DO UPDATE SET v = excluded.v WHERE upx.v < 25.0 RETURNING k, v",
        "SELECT k, v FROM upx ORDER BY k",
    ]
    con = duckdb.connect()
    con.execute("CREATE TABLE upx(k INTEGER PRIMARY KEY, v DOUBLE)")
    golden = [con.execute(s).fetchall() for s in stmts]
    con.close()

    _fresh_wire_table(spark, "upx")
    client.query("CREATE TABLE upx(k int, v double)")
    for s, want in zip(stmts, golden):
        (res,) = client.query(s)
        assert "error" not in res, (s, res)
        if res.get("rows") is not None and "RETURNING" in s or s.startswith("SELECT"):
            got = sorted((int(r[0]), float(r[1])) for r in res["rows"])
            assert got == sorted((int(a), float(b)) for a, b in want), s
    spark.sql("DROP TABLE IF EXISTS upx")


def test_wire_on_conflict_do_nothing_counts(client, spark):
    """Command-tag counts PG-style: skipped conflicts aren't counted."""
    _fresh_wire_table(spark, "upn")
    client.query("CREATE TABLE upn(k int, v int)")
    (res,) = client.query("INSERT INTO upn VALUES (1, 1), (2, 2)")
    (res,) = client.query(
        "INSERT INTO upn VALUES (1, 9), (9, 9) ON CONFLICT (k) DO NOTHING"
    )
    assert res["tag"] == "INSERT 0 1"
    # batch-internal duplicate keys ERROR, like DuckDB's constraint check
    (res,) = client.query(
        "INSERT INTO upn VALUES (7, 70), (7, 71) ON CONFLICT (k) DO NOTHING"
    )
    assert "error" in res and "duplicate key" in res["error"].lower(), res
    (res,) = client.query("SELECT count(*) AS n FROM upn WHERE k = 7")
    assert res["rows"] == [["0"]]
    spark.sql("DROP TABLE IF EXISTS upn")


def test_wire_polymorphic_len_golden(client):
    """DuckDB's len/length is polymorphic (chars for strings, element
    count for lists). One statement mixing a string column, an array
    column, and an array-producing call — golden vs DuckDB."""
    import duckdb

    con = duckdb.connect()
    con.execute(
        "CREATE VIEW documents AS SELECT * FROM "
        f"read_parquet('{SF_DIR}/documents.parquet')"
    )
    con.execute(
        "CREATE VIEW embeddings AS SELECT * FROM "
        f"read_parquet('{SF_DIR}/embeddings.parquet')"
    )
    sql = (
        "SELECT doc_id, len(text) AS nc, len(string_split(text, ' ')) AS nw "
        "FROM documents WHERE doc_id < 5 ORDER BY doc_id"
    )
    (res,) = client.query(sql)
    assert "error" not in res, res
    want = [[str(v) for v in row] for row in con.execute(sql).fetchall()]
    assert res["rows"] == want
    sql = "SELECT vec_id, len(embedding) AS n FROM embeddings WHERE vec_id < 3 ORDER BY vec_id"
    (res,) = client.query(sql)
    assert "error" not in res, res
    want = [[str(v) for v in row] for row in con.execute(sql).fetchall()]
    assert res["rows"] == want
    # length() spelled out on an array column works the same way
    (res,) = client.query(
        "SELECT length(embedding) AS n FROM embeddings WHERE vec_id = 0"
    )
    assert "error" not in res, res
    con.close()


def test_wire_json_final_arrow_exact_vs_duckdb(client):
    """A chain ending in `->` keeps DuckDB's JSON rendering exactly
    (string values stay quoted) — the r5 approximation is closed via
    to_json(variant_get(...)). Also covers the parenthesized idiom
    `(j -> 'a')` and arrows in function-argument position, which the
    old blanket lambda guard refused to translate."""
    import duckdb

    con = duckdb.connect()
    cases = [
        """SELECT '{"a": "x"}' -> 'a' AS v""",
        """SELECT '{"a": 123}' -> 'a' AS v""",
        """SELECT '{"a": {"b": 1, "c": [1,2]}}' -> 'a' AS v""",
        """SELECT '{"a": true}' -> 'a' AS v""",
        """SELECT '{"a": 1.5}' -> 'a' AS v""",
        """SELECT '{"a": [5, 7]}' -> 'a' -> 1 AS v""",
        """SELECT '{"a": 1}' -> 'missing' AS v""",
        """SELECT ('{"a": "s"}' -> 'a') AS v""",
        """SELECT coalesce('{"a": "s"}' -> 'a', '-') AS v""",
        """SELECT json_extract('{"a": "x"}', '$.a') AS v""",
        """SELECT json_extract('{"a": {"b": [1]}}', '$.a.b') AS v""",
    ]
    for sql in cases:
        (res,) = client.query(sql)
        assert "error" not in res, (sql, res)
        want = con.execute(sql).fetchall()[0][0]
        got = res["rows"][0][0]
        assert got == (None if want is None else str(want)), (sql, got, want)
    # lambda HOFs still skip the arrow rewrite
    (res,) = client.query("SELECT filter(ARRAY['a','b'], x -> x = 'a') AS l")
    assert res["rows"] == [["{a}"]]
    con.close()


def test_macro_param_not_captured_by_qualified_column(client):
    """ADVICE r5: a macro body mixing a qualified column `t.a` with a
    parameter also named `a` must bind t.a to the COLUMN (DuckDB binder
    semantics) — the old \\b-bounded pattern rewrote both and produced
    a parse error."""
    import duckdb

    ddl = (
        "CREATE OR REPLACE MACRO addkey2(r_regionkey) AS TABLE "
        "SELECT r.r_regionkey + r_regionkey AS v FROM region r"
    )
    (r,) = client.query(ddl)
    assert "error" not in r, r
    sql = "SELECT * FROM addkey2(100) ORDER BY v"
    (res,) = client.query(sql)
    assert "error" not in res, res
    con = duckdb.connect()
    con.execute(
        "CREATE VIEW region AS SELECT * FROM "
        f"read_parquet('{SF_DIR}/region.parquet')"
    )
    con.execute(ddl.replace("OR REPLACE ", ""))
    expected = [[str(v) for v in row] for row in con.execute(sql).fetchall()]
    assert res["rows"] == expected


def test_wire_columns_star_expressions(client):
    """DuckDB COLUMNS(*) / COLUMNS('regex') projection shorthand —
    socket-golden vs DuckDB on column names AND values, including the
    fn(COLUMNS(...)) per-column expansion and the binder error."""
    import duckdb

    con = duckdb.connect()
    for t in ("lineitem", "region"):
        con.execute(
            f"CREATE VIEW {t} AS SELECT * FROM read_parquet('{SF_DIR}/{t}.parquet')"
        )
    sql = "SELECT COLUMNS('l_.*key') FROM lineitem ORDER BY 1, 2 LIMIT 3"
    (res,) = client.query(sql)
    assert "error" not in res, res
    cur = con.execute(sql)
    assert res["columns"] == [d[0] for d in cur.description]
    assert res["rows"] == [[str(v) for v in row] for row in cur.fetchall()]
    sql = "SELECT min(COLUMNS(*)) FROM region"
    (res,) = client.query(sql)
    assert "error" not in res, res
    cur = con.execute(sql)
    assert res["columns"] == [d[0] for d in cur.description]
    assert res["rows"] == [[str(v) for v in row] for row in cur.fetchall()]
    # non-matching regex errors like DuckDB's binder
    (res,) = client.query("SELECT COLUMNS('zz_.*') FROM region")
    assert "error" in res and "No matching columns" in res["error"], res
    con.close()


def test_wire_update_from_delete_using_golden(client, spark):
    """PG joined DML (UPDATE … FROM / DELETE … USING) —
    statement-for-statement golden vs DuckDB, incl. RETURNING and tag
    counts."""
    import duckdb

    setup = [
        "INSERT INTO updt VALUES (1, 10), (2, 20), (3, 30)",
        "INSERT INTO upds VALUES (1, 5), (3, 7)",
    ]
    stmts = [
        "UPDATE updt SET v = v + upds.d FROM upds WHERE updt.k = upds.k",
        "SELECT k, v FROM updt ORDER BY k",
        "DELETE FROM updt USING upds WHERE updt.k = upds.k AND upds.d > 5 RETURNING k, v",
        "SELECT k, v FROM updt ORDER BY k",
    ]
    con = duckdb.connect()
    con.execute("CREATE TABLE updt(k INT, v INT)")
    con.execute("CREATE TABLE upds(k INT, d INT)")
    for s in setup:
        con.execute(s)
    golden = [con.execute(s).fetchall() for s in stmts]
    con.close()

    for t in ("updt", "upds"):
        _fresh_wire_table(spark, t)
    client.query("CREATE TABLE updt(k int, v int)")
    client.query("CREATE TABLE upds(k int, d int)")
    for s in setup:
        client.query(s)
    for s, want in zip(stmts, golden):
        (res,) = client.query(s)
        assert "error" not in res, (s, res)
        if "RETURNING" in s or s.startswith("SELECT"):
            got = sorted(tuple(int(x) for x in r) for r in res["rows"])
            assert got == sorted(want), (s, got, want)
    # joined-update tag counts the affected rows: table is now
    # (1,15),(2,20); only k=1 matches the source
    (res,) = client.query(
        "UPDATE updt SET v = 0 FROM upds WHERE updt.k = upds.k"
    )
    assert res["tag"] == "UPDATE 1", res
    (res,) = client.query(
        "UPDATE updt SET v = upds.d FROM upds WHERE updt.k = upds.k RETURNING k, v"
    )
    assert res["tag"] == "UPDATE 1" and res["rows"] == [["1", "5"]], res
    for t in ("updt", "upds"):
        _fresh_wire_table(spark, t)


def test_wire_truncate_and_alter_columns(client, spark):
    """TRUNCATE and ALTER TABLE RENAME/DROP COLUMN over the wire —
    v1 parquet tables can't mutate in place, so these run through the
    recreate-on-write path; ADD COLUMNS runs natively."""
    _fresh_wire_table(spark, "alt_w")
    client.query("CREATE TABLE alt_w(a int, b varchar)")
    client.query("INSERT INTO alt_w VALUES (1, 'x'), (2, 'y')")
    (res,) = client.query("ALTER TABLE alt_w ADD COLUMNS (c double)")
    assert "error" not in res, res
    (res,) = client.query("ALTER TABLE alt_w RENAME COLUMN b TO bb")
    assert "error" not in res, res
    (res,) = client.query("SELECT * FROM alt_w ORDER BY a")
    assert res["columns"] == ["a", "bb", "c"]
    assert res["rows"] == [["1", "x", None], ["2", "y", None]]
    (res,) = client.query("ALTER TABLE alt_w DROP COLUMN c")
    assert "error" not in res, res
    (res,) = client.query("ALTER TABLE alt_w DROP COLUMN IF EXISTS zz")
    assert "error" not in res, res
    (res,) = client.query("ALTER TABLE alt_w DROP COLUMN zz")
    assert "error" in res and "does not exist" in res["error"], res
    (res,) = client.query("TRUNCATE alt_w")
    assert res["tag"] == "TRUNCATE TABLE", res
    (res,) = client.query("SELECT count(*) AS n FROM alt_w")
    assert res["rows"] == [["0"]]
    # schema survives the truncate
    (res,) = client.query("SELECT * FROM alt_w")
    assert res["columns"] == ["a", "bb"]
    _fresh_wire_table(spark, "alt_w")


def test_wire_alter_column_keeps_table_in_place(client, spark, tmp_path):
    """ALTER TABLE … RENAME/DROP COLUMN rewrite the rows inside the
    table's own location: a managed table stays managed in the
    warehouse and DROP removes its directory; a LOCATION table stays
    external at its location. Nothing is left in the temporary
    directory."""
    import glob
    import os
    import tempfile

    def where(name):
        rows = spark.sql(f"DESCRIBE TABLE EXTENDED {name}").collect()
        info = {r.col_name: r.data_type for r in rows}
        return info["Type"], info["Location"]

    left = os.path.join(tempfile.gettempdir(), "alter_new_*")
    before = set(glob.glob(left))
    ext = tmp_path / "alt_ext"
    for name, ddl in (
        ("alt_mg", "CREATE TABLE alt_mg(a int, b varchar, c double)"),
        ("alt_ex", f"CREATE TABLE alt_ex(a int, b varchar, c double) LOCATION '{ext}'"),
    ):
        _fresh_wire_table(spark, name)
        for sql in (
            ddl,
            f"INSERT INTO {name} VALUES (1, 'x', 1.5), (2, NULL, 2.5)",
            f"ALTER TABLE {name} RENAME COLUMN b TO bb",
            f"ALTER TABLE {name} DROP COLUMN c",
        ):
            if sql.startswith("ALTER"):
                kind, loc = where(name)
            (r,) = client.query(sql)
            assert "error" not in r, (sql, r)
            if sql.startswith("ALTER"):
                assert where(name) == (kind, loc), sql
        (r,) = client.query(f"SELECT * FROM {name} ORDER BY a")
        assert r["columns"] == ["a", "bb"] and r["rows"] == [["1", "x"], ["2", None]], r
        assert kind == ("MANAGED" if name == "alt_mg" else "EXTERNAL"), kind
        path = loc.removeprefix("file:")
        assert os.listdir(path) and not any(
            f.startswith("_dml_stage_") for f in os.listdir(path)
        )
        (r,) = client.query(f"DROP TABLE {name}")
        assert "error" not in r, r
        assert os.path.exists(path) == (name == "alt_ex"), path
    assert set(glob.glob(left)) == before


def test_wire_star_replace_and_argminmax_golden(client):
    """DuckDB * REPLACE star expression and arg_min/arg_max — golden vs
    DuckDB on the region fixture."""
    import duckdb

    con = duckdb.connect()
    con.execute(
        "CREATE VIEW region AS SELECT * FROM "
        f"read_parquet('{SF_DIR}/region.parquet')"
    )
    sql = "SELECT * REPLACE (r_regionkey * 10 AS r_regionkey) FROM region ORDER BY r_regionkey"
    (res,) = client.query(sql)
    assert "error" not in res, res
    cur = con.execute(sql)
    assert res["columns"] == [d[0] for d in cur.description]
    assert res["rows"] == [[str(v) for v in row] for row in cur.fetchall()]
    sql = (
        "SELECT arg_min(r_name, r_regionkey) AS lo, "
        "arg_max(r_name, r_regionkey) AS hi FROM region"
    )
    (res,) = client.query(sql)
    assert "error" not in res, res
    want = con.execute(sql).fetchall()[0]
    assert res["rows"] == [[want[0], want[1]]]
    # unknown column in REPLACE errors like the binder
    (res,) = client.query("SELECT * REPLACE (1 AS nope) FROM region")
    assert "error" in res and "does not exist" in res["error"], res
    con.close()


def test_wire_sequences_golden(client, spark):
    """CREATE SEQUENCE / nextval / currval — golden vs DuckDB for the
    literal idioms (per-occurrence in one row, per-VALUES-row inserts);
    the per-row-set form refuses loudly instead of silently allocating
    one value for all rows."""
    import duckdb

    con = duckdb.connect()
    stmts_setup = ["CREATE SEQUENCE sq START 5 INCREMENT 2"]
    stmts = [
        "SELECT nextval('sq') AS v, nextval('sq') AS w",
        "SELECT currval('sq') AS c",
    ]
    for s in stmts_setup:
        con.execute(s)
    golden = [con.execute(s).fetchall() for s in stmts]

    (res,) = client.query(stmts_setup[0])
    assert res["tag"] == "CREATE SEQUENCE", res
    for s, want in zip(stmts, golden):
        (res,) = client.query(s)
        assert "error" not in res, (s, res)
        assert res["rows"] == [[str(v) for v in want[0]]], (s, res)
    # per-VALUES-row allocation matches DuckDB
    con.execute("CREATE TABLE sq_t(a INT, b VARCHAR)")
    con.execute("INSERT INTO sq_t VALUES (nextval('sq'), 'x'), (nextval('sq'), 'y')")
    want = con.execute("SELECT a, b FROM sq_t ORDER BY a").fetchall()
    _fresh_wire_table(spark, "sq_t")
    client.query("CREATE TABLE sq_t(a int, b varchar)")
    (res,) = client.query(
        "INSERT INTO sq_t VALUES (nextval('sq'), 'x'), (nextval('sq'), 'y')"
    )
    assert "error" not in res, res
    (res,) = client.query("SELECT a, b FROM sq_t ORDER BY a")
    assert res["rows"] == [[str(a), b] for a, b in want]
    # row-set form (r7): block reservation — DuckDB allocates per row;
    # the VALUE SET matches (row order is scan order in both engines,
    # guaranteed by neither)
    want_set = sorted(
        v for (v,) in con.execute("SELECT nextval('sq') FROM range(5)").fetchall()
    )
    (res,) = client.query("SELECT nextval('sq') AS v FROM range(5)")
    assert "error" not in res, res
    assert sorted(int(r[0]) for r in res["rows"]) == want_set, res
    # currval reflects the end of the reserved block, like DuckDB
    want_cur = con.execute("SELECT currval('sq')").fetchall()[0][0]
    (res,) = client.query("SELECT currval('sq') AS c")
    assert res["rows"] == [[str(want_cur)]], res
    # INSERT ... SELECT bulk key assignment
    con.execute("INSERT INTO sq_t SELECT nextval('sq'), 'z' FROM range(3)")
    want_rows = sorted(
        (a, b) for a, b in con.execute("SELECT a, b FROM sq_t WHERE b = 'z'").fetchall()
    )
    (res,) = client.query("INSERT INTO sq_t SELECT nextval('sq'), 'z' FROM range(3)")
    assert "error" not in res, res
    (res,) = client.query("SELECT a, b FROM sq_t WHERE b = 'z' ORDER BY a")
    assert [(int(a), b) for a, b in res["rows"]] == want_rows, res
    # multi-occurrence per-row nextval (r8): per-occurrence disjoint
    # blocks reproduce DuckDB's vectorized single-chunk layout
    # (occurrence j over the whole chunk, then occurrence j+1)
    want_multi = con.execute(
        "SELECT nextval('sq') AS a, nextval('sq') AS b FROM range(2)"
    ).fetchall()
    (res,) = client.query(
        "SELECT nextval('sq') AS a, nextval('sq') AS b FROM range(2)"
    )
    assert "error" not in res, res
    assert [(int(a), int(b)) for a, b in res["rows"]] == want_multi, res
    # interleaved sequences each reserve their own dense blocks
    con.execute("CREATE SEQUENCE sq2 START 100 INCREMENT 3")
    want_two = con.execute(
        "SELECT nextval('sq') AS a, nextval('sq2') AS b, nextval('sq') AS c"
        " FROM range(3)"
    ).fetchall()
    client.query("CREATE SEQUENCE sq2 START 100 INCREMENT 3")
    (res,) = client.query(
        "SELECT nextval('sq') AS a, nextval('sq2') AS b, nextval('sq') AS c"
        " FROM range(3)"
    )
    assert "error" not in res, res
    assert [tuple(int(x) for x in r) for r in res["rows"]] == want_two, res
    client.query("DROP SEQUENCE sq2")
    # currval interleaved with per-row nextval still refuses loudly
    (res,) = client.query(
        "SELECT nextval('sq') AS a, currval('sq') AS b FROM range(2)"
    )
    assert "error" in res and "per-row" in res["error"], res
    # nextval in a single-table UPDATE (r9, r8 verdict item 6): the
    # post-image VALUE SET matches DuckDB — each qualifying row gets a
    # value from one reserved block (row↔value assignment follows scan
    # order in both engines, guaranteed by neither)
    # WHERE form: non-qualifying rows keep their exact values;
    # qualifying rows carry exactly DuckDB's allocated block (which
    # qualifying row carries which block value follows scan order —
    # guaranteed by neither engine, same caveat as the row-set SELECT)
    (res,) = client.query("SELECT a, b FROM sq_t WHERE b <> 'z' ORDER BY a")
    pre_keep = [(int(a), b) for a, b in res["rows"]]
    upd = "UPDATE sq_t SET a = nextval('sq') WHERE b = 'z'"
    con.execute(upd)
    (res,) = client.query(upd)
    assert "error" not in res, res
    want_z = sorted(
        a for (a,) in con.execute("SELECT a FROM sq_t WHERE b = 'z'").fetchall()
    )
    (res,) = client.query("SELECT a FROM sq_t WHERE b = 'z'")
    assert sorted(int(r[0]) for r in res["rows"]) == want_z, res
    (res,) = client.query("SELECT a, b FROM sq_t WHERE b <> 'z' ORDER BY a")
    assert [(int(a), b) for a, b in res["rows"]] == pre_keep, res
    # no-WHERE form: every row renumbered from one reserved block
    upd = "UPDATE sq_t SET a = nextval('sq')"
    con.execute(upd)
    (res,) = client.query(upd)
    assert "error" not in res, res
    want_all = sorted(
        a for (a,) in con.execute("SELECT a FROM sq_t").fetchall()
    )
    (res,) = client.query("SELECT a FROM sq_t")
    assert sorted(int(r[0]) for r in res["rows"]) == want_all, res
    # currval agrees after the UPDATE blocks
    want_cur = con.execute("SELECT currval('sq')").fetchall()[0][0]
    (res,) = client.query("SELECT currval('sq') AS c")
    assert res["rows"] == [[str(want_cur)]], res
    # UPDATE ... FROM and WHERE-clause occurrences keep the refusal
    (res,) = client.query(
        "UPDATE sq_t SET a = nextval('sq') FROM sq_t s2 WHERE sq_t.a = s2.a"
    )
    assert "error" in res and "nextval" in res["error"], res
    (res,) = client.query("UPDATE sq_t SET a = 0 WHERE a = nextval('sq')")
    assert "error" in res and "SET clause" in res["error"], res
    # QUALIFY applies after the SELECT list numbers rows — refuses
    # (ADVICE r7 item 1: silent block escape otherwise)
    (res,) = client.query(
        "SELECT nextval('sq') AS v FROM range(10) "
        "QUALIFY row_number() OVER (ORDER BY v) <= 3"
    )
    assert "error" in res and "QUALIFY" in res["error"], res
    # unknown sequence + duplicate creation error like DuckDB
    (res,) = client.query("SELECT nextval('nope')")
    assert "error" in res, res
    (res,) = client.query("CREATE SEQUENCE sq")
    assert "error" in res, res
    (res,) = client.query("CREATE SEQUENCE IF NOT EXISTS sq")
    assert res["tag"] == "CREATE SEQUENCE", res
    (res,) = client.query("DROP SEQUENCE sq")
    assert res["tag"] == "DROP SEQUENCE", res
    _fresh_wire_table(spark, "sq_t")
    con.close()


def test_wire_set_variable_and_getvariable(client):
    """DuckDB v1.1 SQL variables (the reference pins v1.1.1): SET
    VARIABLE evaluates the scalar at SET time; getvariable of an unset
    name is NULL; RESET VARIABLE unsets."""
    (res,) = client.query("SET VARIABLE vx = 40 + 2")
    assert res["tag"] == "SET", res
    (res,) = client.query("SELECT getvariable('vx') AS v")
    assert res["rows"] == [["42"]]
    (res,) = client.query("SET VARIABLE vs = 'he''llo'")
    (res,) = client.query("SELECT getvariable('vs') AS v")
    assert res["rows"] == [["he'llo"]]
    # variables compose into real queries
    (res,) = client.query(
        "SELECT r_name FROM region WHERE r_regionkey = getvariable('vx') - 42"
    )
    assert len(res["rows"]) == 1
    (res,) = client.query("SELECT getvariable('unset_name') AS v")
    assert res["rows"] == [[None]]
    (res,) = client.query("RESET VARIABLE vx")
    assert res["tag"] == "RESET", res
    (res,) = client.query("SELECT getvariable('vx') AS v")
    assert res["rows"] == [[None]]
    (res,) = client.query("CHECKPOINT")
    assert res["tag"] == "CHECKPOINT", res


def test_wire_export_import_database(client, spark, tmp_path):
    """EXPORT DATABASE 'dir' writes one data file per permanent table
    plus schema.sql/load.sql (DuckDB's layout); IMPORT DATABASE
    recreates the tables."""
    import os

    _fresh_wire_table(spark, "exp_t1")
    _fresh_wire_table(spark, "exp_t2")
    client.query("CREATE TABLE exp_t1(a int, b varchar)")
    client.query("INSERT INTO exp_t1 VALUES (1, 'x'), (2, 'y')")
    client.query("CREATE TABLE exp_t2(k double)")
    client.query("INSERT INTO exp_t2 VALUES (1.5)")
    d = str(tmp_path / "exp")
    (res,) = client.query(f"EXPORT DATABASE '{d}'")
    assert "error" not in res, res
    names = set(os.listdir(d))
    assert {"schema.sql", "load.sql"} <= names
    assert "exp_t1.parquet" in names and "exp_t2.parquet" in names
    schema_sql = open(f"{d}/schema.sql").read()
    assert "CREATE TABLE exp_t1" in schema_sql
    # wipe and re-import
    spark.sql("DROP TABLE exp_t1")
    spark.sql("DROP TABLE exp_t2")
    (res,) = client.query(f"IMPORT DATABASE '{d}'")
    assert "error" not in res, res
    (res,) = client.query("SELECT a, b FROM exp_t1 ORDER BY a")
    assert res["rows"] == [["1", "x"], ["2", "y"]]
    (res,) = client.query("SELECT k FROM exp_t2")
    assert res["rows"] == [["1.5"]]
    _fresh_wire_table(spark, "exp_t1")
    _fresh_wire_table(spark, "exp_t2")


def test_wire_insert_by_name_and_describe_select(client, spark):
    """DuckDB INSERT BY NAME and DESCRIBE SELECT run natively through
    Spark's parser — pinned here so a future fast-path change can't
    silently drop them."""
    _fresh_wire_table(spark, "bn_w")
    client.query("CREATE TABLE bn_w(a int, b varchar)")
    (res,) = client.query("INSERT INTO bn_w BY NAME SELECT 'x' AS b, 1 AS a")
    assert "error" not in res, res
    (res,) = client.query("SELECT a, b FROM bn_w")
    assert res["rows"] == [["1", "x"]]
    (res,) = client.query("DESCRIBE SELECT a, b FROM bn_w")
    assert "error" not in res, res
    assert [r[0] for r in res["rows"]] == ["a", "b"]
    _fresh_wire_table(spark, "bn_w")


def test_wire_psql_d_constraint_index_joins(client):
    """The pg_index/pg_constraint/pg_description joins psql's \\d <table>
    issues must run (empty results — parquet tables carry no indexes or
    constraints) instead of erroring the whole describe."""
    (res,) = client.query(
        "SELECT c2.relname, i.indisprimary, i.indisunique "
        "FROM pg_catalog.pg_class c, pg_catalog.pg_class c2, pg_catalog.pg_index i "
        "WHERE c.relname = 'region' AND c.oid = i.indrelid AND i.indexrelid = c2.oid"
    )
    assert "error" not in res, res
    assert res["rows"] == []
    (res,) = client.query(
        "SELECT conname, contype FROM pg_catalog.pg_constraint "
        "WHERE conrelid = 0"
    )
    assert "error" not in res, res
    (res,) = client.query(
        "SELECT obj_description FROM pg_description LIMIT 1"
        .replace("obj_description", "description")
    )
    assert "error" not in res, res
    (res,) = client.query(
        "SELECT name, setting FROM pg_settings WHERE name = 'server_encoding'"
    )
    assert res["rows"] == [["server_encoding", "UTF8"]]
    (res,) = client.query("SELECT indexname FROM pg_indexes WHERE tablename = 'region'")
    assert "error" not in res and res["rows"] == []


def test_wire_code_review_r6_regressions(client, spark):
    """Regression pins for the r6 code-review findings."""
    import duckdb

    # 1. (r9 superseded the original pin: nextval in a single-table
    #    UPDATE is now SUPPORTED — see test_wire_sequences_golden.)
    #    r10 pin: DML against a fixture-backed view refuses loudly
    #    instead of writing THROUGH the view into the read-only source
    #    parquet (a stale version of this very pin overwrote
    #    testdata/region.parquet in r9)
    client.query("CREATE SEQUENCE IF NOT EXISTS crseq")
    (res,) = client.query("UPDATE region SET r_regionkey = nextval('crseq')")
    assert "error" in res and "view" in res["error"], res
    client.query("DROP SEQUENCE crseq")
    (res,) = client.query("INSERT INTO region VALUES (9, 'ATLANTIS')")
    assert "error" in res and res.get("sqlstate") == "42809", res
    (res,) = client.query("DELETE FROM region WHERE r_regionkey = 0")
    assert "error" in res and "view" in res["error"], res
    # the fixture file itself must be untouched
    import duckdb as _dk

    rows = _dk.sql(
        "SELECT min(r_regionkey), max(r_regionkey), count(*) FROM "
        "read_parquet('/root/testdata/sf0.01/region.parquet')"
    ).fetchall()
    assert rows == [(0, 4, 5)], rows
    # 2. INSERT with an unknown column errors like PG, never drops data
    _fresh_wire_table(spark, "crt")
    client.query("CREATE TABLE crt(a int, b int)")
    (res,) = client.query("INSERT INTO crt (a, bogus) VALUES (1, 2) RETURNING *")
    assert "error" in res and "does not exist" in res["error"], res
    (res,) = client.query("SELECT count(*) AS n FROM crt")
    assert res["rows"] == [["0"]]
    # 3. DuckDB-spelled lambda HOFs keep their guard before the rename
    (res,) = client.query("SELECT list_transform([1, 2], x -> 'a') AS l")
    assert "error" not in res, res
    assert res["rows"] == [["{a,a}"]]
    # 4. nested json_extract rewrites inside-out
    sql = """SELECT json_extract(json_extract('{"a": {"b": "x"}}', '$.a'), '$.b') AS v"""
    (res,) = client.query(sql)
    assert "error" not in res, res
    want = duckdb.connect().execute(sql).fetchall()[0][0]
    assert res["rows"][0][0] == str(want), (res, want)
    # 5. NULL keys never conflict NOR trip the duplicate-key check
    (res,) = client.query(
        "INSERT INTO crt VALUES (NULL, 10), (NULL, 20) ON CONFLICT (a) DO NOTHING"
    )
    assert "error" not in res, res
    (res,) = client.query("SELECT count(*) AS n FROM crt")
    assert res["rows"] == [["2"]]
    _fresh_wire_table(spark, "crt")


def test_binary_numeric_wide_precision():
    """31-digit NUMERIC round-trips exactly (digit-string decode; the
    default 28-digit decimal context would silently round)."""
    import decimal

    from duckdb_pgwire_spark.server.typemap import (
        _decode_pg_numeric,
        _encode_pg_numeric,
    )

    for s in (
        "1234567890123456789012345678901",
        "-9999999999999999999999999999.9999",
        "0.00000000000000000000000000012345",
    ):
        d = decimal.Decimal(s)
        assert decimal.Decimal(_decode_pg_numeric(_encode_pg_numeric(d))) == d, s


def test_wire_datetime_diff_spellings_golden(client):
    """DuckDB date_diff/datediff (boundary crossings), date_sub
    (complete units), datetrunc, week, isodow, dayname, monthname,
    to_hex, regexp_extract default group — golden vs DuckDB."""
    import duckdb

    con = duckdb.connect()
    cases = [
        "SELECT date_diff('day', DATE '2024-01-01', DATE '2024-03-05') AS v",
        "SELECT date_diff('month', DATE '2024-01-15', DATE '2024-03-10') AS v",
        "SELECT date_diff('year', DATE '2023-12-31', DATE '2024-01-01') AS v",
        "SELECT date_diff('week', DATE '2024-05-12', DATE '2024-05-13') AS v",
        "SELECT date_diff('hour', TIMESTAMP '2024-01-01 10:59:00', TIMESTAMP '2024-01-01 12:01:00') AS v",
        "SELECT date_sub('month', DATE '2024-01-15', DATE '2024-03-10') AS v",
        "SELECT date_sub('month', DATE '2024-01-15', DATE '2024-03-20') AS v",
        "SELECT datediff('day', DATE '2024-01-01', DATE '2024-01-31') AS v",
        # CAST: DuckDB's datetrunc keeps DATE for date inputs, Spark's
        # date_trunc always returns TIMESTAMP (value identical)
        "SELECT CAST(datetrunc('month', DATE '2024-05-17') AS DATE) AS v",
        "SELECT week(DATE '2024-05-17') AS v",
        "SELECT isodow(DATE '2024-05-17') AS v",
        "SELECT isodow(DATE '2024-05-19') AS v",
        "SELECT dayname(DATE '2024-05-17') AS v",
        "SELECT monthname(DATE '2024-01-17') AS v",
        "SELECT to_hex(255) AS v",
        "SELECT regexp_extract('a1b22c', '[0-9]+') AS v",
        "SELECT regexp_extract_all('a1b22c', '[0-9]+') AS v",
        "SELECT regexp_extract('a1b22c', '([a-z])([0-9]+)', 2) AS v",
    ]
    for sql in cases:
        (res,) = client.query(sql)
        assert "error" not in res, (sql, res)
        want = con.execute(sql).fetchall()[0][0]
        got = res["rows"][0][0]
        if isinstance(want, list):
            want_txt = "{" + ",".join(str(x) for x in want) + "}"
            assert got == want_txt, (sql, got, want)
        else:
            assert got == str(want), (sql, got, want)
    con.close()


def test_wire_trim_args_and_more_spellings_golden(client):
    """2-arg [lr]trim have SWAPPED argument order between DuckDB and
    Spark (silently wrong values on passthrough — worst failure class);
    plus the r6 rename batch — golden vs DuckDB."""
    import duckdb

    con = duckdb.connect()
    cases = [
        "SELECT ltrim('xxabc', 'x') AS v",
        "SELECT rtrim('abcxx', 'x') AS v",
        "SELECT trim('xabcx', 'x') AS v",
        "SELECT ltrim('  abc') AS v",
        "SELECT xor(5, 3) AS v",
        "SELECT list_slice([1, 2, 3, 4], 2, 3) AS v",
        "SELECT list_concat([1], [2, 3]) AS v",
        "SELECT list_intersect([1, 2, 3], [2, 3, 4]) AS v",
        "SELECT array_to_string([1, 2, 3], '-') AS v",
        "SELECT string_to_array('a-b', '-') AS v",
        "SELECT starts_with('abc', 'ab') AS v",
        "SELECT ends_with('abc', 'bc') AS v",
        "SELECT isinf(CAST('inf' AS DOUBLE)) AS v",
        "SELECT isfinite(1.5) AS v",
    ]
    for sql in cases:
        (res,) = client.query(sql)
        assert "error" not in res, (sql, res)
        want = con.execute(sql).fetchall()[0][0]
        got = res["rows"][0][0]
        if isinstance(want, list):
            # set-semantics functions (list_intersect) leave element
            # order unspecified on both engines — compare as multisets
            got_elems = sorted(got.strip("{}").split(","))
            assert got_elems == sorted(str(x) for x in want), (sql, got, want)
            continue
        if isinstance(want, bool):
            want = "t" if want else "f"
        else:
            want = str(want)
        assert got == want, (sql, got, want)
    con.close()


def test_wire_aggregate_spellings_golden(client):
    """DuckDB aggregate spellings: FILTER without WHERE, favg/fsum,
    arbitrary, list(), geomean — golden vs DuckDB."""
    import duckdb

    con = duckdb.connect()
    rel = "(VALUES (1, 2.0), (2, 4.0), (3, 6.0)) t(a, b)"
    cases = [
        f"SELECT sum(a) FILTER (a > 1) AS v FROM {rel}",
        f"SELECT favg(b) AS v FROM {rel}",
        f"SELECT fsum(b) AS v FROM {rel}",
        f"SELECT list(a) AS v FROM {rel}",
        f"SELECT ROUND(geomean(b), 6) AS v FROM {rel}",
        f"SELECT arbitrary(a) AS v FROM (SELECT * FROM {rel} ORDER BY a) s",
    ]
    for sql in cases:
        (res,) = client.query(sql)
        assert "error" not in res, (sql, res)
        want = con.execute(sql).fetchall()[0][0]
        got = res["rows"][0][0]
        if isinstance(want, list):
            assert sorted(got.strip("{}").split(",")) == sorted(
                str(x) for x in want
            ), (sql, got, want)
        else:
            assert got == str(want), (sql, got, want)
    con.close()


def test_wire_create_or_replace_and_temp_table(client, spark):
    """DuckDB CREATE OR REPLACE TABLE (Spark's v1 catalog lacks RTAS —
    served as drop+create) and TEMP TABLE AS (session temp view)."""
    spark.sql("DROP TABLE IF EXISTS probe_cor")
    (r,) = client.query("CREATE OR REPLACE TABLE probe_cor AS SELECT 1 AS a")
    assert "error" not in r, r
    (r,) = client.query("CREATE OR REPLACE TABLE probe_cor AS SELECT 2 AS a")
    assert "error" not in r, r
    (r,) = client.query("SELECT a FROM probe_cor")
    assert r["rows"] == [["2"]]
    (r,) = client.query("DROP TABLE probe_cor")
    assert "error" not in r, r
    (r,) = client.query("CREATE TEMP TABLE probe_tmp AS SELECT 9 AS z")
    assert "error" not in r, r
    (r,) = client.query("SELECT z FROM probe_tmp")
    assert r["rows"] == [["9"]]
    spark.catalog.dropTempView("probe_tmp")


def test_wire_union_by_name(client):
    (r,) = client.query(
        "SELECT 1 AS a, 'x' AS b UNION ALL BY NAME SELECT 'y' AS b, 2 AS a "
        "UNION ALL BY NAME SELECT 3 AS a"
    )
    assert "error" not in r, r
    rows = sorted(r["rows"])
    assert rows == [["1", "x"], ["2", "y"], ["3", None]]


def test_wire_limit_percent(client):
    (r,) = client.query(
        "SELECT n_nationkey FROM nation ORDER BY n_nationkey LIMIT 10%"
    )
    assert "error" not in r, r
    # DuckDB TRUNCATES: int(25 * 0.10) = 2 (probed r7; was wrongly ceil)
    assert len(r["rows"]) == 2


def test_wire_positional_join_matches_duckdb(client):
    import duckdb

    sql = (
        "SELECT r_regionkey, x FROM region POSITIONAL JOIN "
        "(SELECT 10 AS x UNION ALL SELECT 20) t ORDER BY r_regionkey"
    )
    con = duckdb.connect()
    for name in ("region",):
        con.execute(
            f"CREATE VIEW {name} AS SELECT * FROM "
            f"read_parquet('{SF_DIR}/{name}.parquet')"
        )
    want = [
        [None if c is None else str(c) for c in row]
        for row in con.execute(sql).fetchall()
    ]
    con.close()
    (r,) = client.query(sql)
    assert "error" not in r, r
    assert r["rows"] == want


def test_wire_quantified_subqueries(client):
    (r,) = client.query(
        "SELECT r_name FROM region WHERE r_regionkey = ANY "
        "(SELECT n_regionkey FROM nation WHERE n_nationkey < 2) ORDER BY r_name"
    )
    assert "error" not in r, r
    assert len(r["rows"]) == 2
    (r,) = client.query(
        "SELECT r_name FROM region WHERE r_regionkey < ALL "
        "(SELECT n_regionkey + 3 FROM nation) ORDER BY r_name"
    )
    assert "error" not in r, r
    assert [x[0] for x in r["rows"]] == ["AFRICA", "AMERICA", "ASIA"]


def test_wire_json_cast_arrow_chain(client):
    (r,) = client.query(
        "SELECT '{\"a\": {\"b\": 7}}'::JSON -> 'a' ->> 'b' AS j"
    )
    assert "error" not in r, r
    assert r["rows"] == [["7"]]


def test_wire_columns_list_form(client):
    (r,) = client.query(
        "SELECT COLUMNS(['n_name', 'n_regionkey']) FROM nation "
        "ORDER BY n_nationkey LIMIT 1"
    )
    assert "error" not in r, r
    assert r["columns"] == ["n_name", "n_regionkey"]
    (r,) = client.query(
        "SELECT min(COLUMNS(['n_nationkey', 'n_regionkey'])) FROM nation"
    )
    assert "error" not in r, r
    assert r["rows"] == [["0", "0"]]


def test_wire_primary_key_ddl_and_or_replace(client, spark):
    """PG/DuckDB constraint DDL (PRIMARY KEY, UNIQUE, CHECK, REFERENCES)
    parses; the PK drives INSERT OR REPLACE / OR IGNORE and bare ON
    CONFLICT — statement-for-statement golden vs DuckDB."""
    import duckdb

    stmts = [
        "INSERT INTO pkt VALUES (1, 'x', 10), (2, 'y', 20)",
        "INSERT OR REPLACE INTO pkt VALUES (1, 'z', 30)",
        "INSERT OR IGNORE INTO pkt VALUES (2, 'q', 99), (3, 'n', 3)",
        "INSERT INTO pkt VALUES (9, 'a', 1) ON CONFLICT DO NOTHING",
        "INSERT INTO pkt VALUES (9, 'b', 2) ON CONFLICT DO NOTHING",
        "INSERT INTO pkt VALUES (9, 'c', 7) ON CONFLICT DO UPDATE SET c = excluded.c",
        "SELECT * FROM pkt ORDER BY a",
    ]
    con = duckdb.connect()
    con.execute("CREATE TABLE pkt(a INT PRIMARY KEY, b VARCHAR, c INT)")
    golden = [con.execute(s).fetchall() for s in stmts]
    con.close()

    _fresh_wire_table(spark, "pkt")
    (r,) = client.query(
        "CREATE TABLE pkt(a INT PRIMARY KEY, b VARCHAR UNIQUE, "
        "c INT CHECK (c >= 0))"
    )
    assert "error" not in r, r
    for s, want in zip(stmts, golden):
        (res,) = client.query(s)
        assert "error" not in res, (s, res)
        if s.startswith("SELECT"):
            got = sorted(res["rows"])
            assert got == sorted(
                [str(x) if x is not None else None for x in row] for row in want
            ), (s, got, want)
    spark.sql("DROP TABLE IF EXISTS pkt")


def test_wire_pk_survives_registry_restart(client, spark):
    """The PK persists in TBLPROPERTIES ('duckpg.pk') at CREATE time
    and reloads lazily (r7 verdict item 7): clearing the in-process
    registry — what a server restart does while a persistent catalog
    keeps the table — still resolves INSERT OR REPLACE."""
    from duckdb_pgwire_spark.operators.dml import PRIMARY_KEYS

    _fresh_wire_table(spark, "pkrestart")
    (r,) = client.query(
        "CREATE TABLE pkrestart(a INT PRIMARY KEY, v VARCHAR)"
    )
    assert "error" not in r, r
    props = {
        row["key"]: row["value"]
        for row in spark.sql("SHOW TBLPROPERTIES pkrestart").collect()
    }
    assert props.get("duckpg.pk") == "a", props
    client.query("INSERT INTO pkrestart VALUES (1, 'x')")
    PRIMARY_KEYS.clear()  # simulate restart; dict is only a cache
    (r,) = client.query("INSERT OR REPLACE INTO pkrestart VALUES (1, 'y')")
    assert "error" not in r, r
    (r,) = client.query("SELECT v FROM pkrestart")
    assert r["rows"] == [["y"]], r
    # composite PK round-trips through the property too
    _fresh_wire_table(spark, "pkrestart2")
    client.query(
        "CREATE TABLE pkrestart2(a INT, b INT, v VARCHAR, PRIMARY KEY (a, b))"
    )
    PRIMARY_KEYS.clear()
    client.query("INSERT INTO pkrestart2 VALUES (1, 2, 'x')")
    (r,) = client.query("INSERT OR REPLACE INTO pkrestart2 VALUES (1, 2, 'z')")
    assert "error" not in r, r
    (r,) = client.query("SELECT v FROM pkrestart2")
    assert r["rows"] == [["z"]], r
    spark.sql("DROP TABLE IF EXISTS pkrestart")
    spark.sql("DROP TABLE IF EXISTS pkrestart2")


def test_wire_or_replace_without_pk_errors_like_duckdb(client, spark):
    _fresh_wire_table(spark, "nopkt")
    client.query("CREATE TABLE nopkt(a INT)")
    (res,) = client.query("INSERT OR REPLACE INTO nopkt VALUES (1)")
    assert "error" in res and "no UNIQUE/PRIMARY KEY" in res["error"], res
    (res,) = client.query("INSERT INTO nopkt VALUES (1) ON CONFLICT DO NOTHING")
    assert "error" in res and "no UNIQUE/PRIMARY KEY" in res["error"], res
    spark.sql("DROP TABLE IF EXISTS nopkt")


def test_wire_composite_pk_table_constraint(client, spark):
    _fresh_wire_table(spark, "cpk")
    (r,) = client.query(
        "CREATE TABLE cpk(a INT, b INT, v VARCHAR, PRIMARY KEY (a, b))"
    )
    assert "error" not in r, r
    client.query("INSERT INTO cpk VALUES (1, 1, 'x')")
    (r,) = client.query("INSERT OR REPLACE INTO cpk VALUES (1, 1, 'y')")
    assert "error" not in r, r
    (r,) = client.query("SELECT v FROM cpk")
    assert r["rows"] == [["y"]]
    spark.sql("DROP TABLE IF EXISTS cpk")


def test_wire_create_drop_index_noop(client, spark):
    _fresh_wire_table(spark, "idxt")
    client.query("CREATE TABLE idxt(a INT)")
    (r,) = client.query("CREATE INDEX i1 ON idxt(a)")
    assert "error" not in r and r["tag"] == "CREATE INDEX", r
    (r,) = client.query("CREATE UNIQUE INDEX i2 ON idxt(a)")
    assert "error" not in r, r
    (r,) = client.query("DROP INDEX i1")
    assert "error" not in r and r["tag"] == "DROP INDEX", r
    spark.sql("DROP TABLE IF EXISTS idxt")


def test_wire_union_by_name_mixed_and_tail(client):
    """Left-assoc dedup: a later UNION ALL keeps its duplicates; a
    trailing LIMIT scopes to the WHOLE union (code-review r6)."""
    (r,) = client.query(
        "SELECT 1 AS a UNION BY NAME SELECT 2 AS a UNION ALL BY NAME SELECT 2 AS a"
    )
    assert "error" not in r, r
    assert sorted(x[0] for x in r["rows"]) == ["1", "2", "2"]
    (r,) = client.query(
        "SELECT n_nationkey AS k FROM nation UNION ALL BY NAME "
        "SELECT n_nationkey AS k FROM nation ORDER BY k LIMIT 3"
    )
    assert "error" not in r, r
    assert [x[0] for x in r["rows"]] == ["0", "0", "1"]


def test_wire_pk_registry_drop_clears(client, spark):
    """DROP TABLE clears the PK registry: a recreated PK-less table
    must raise DuckDB's binder error, not silently upsert."""
    _fresh_wire_table(spark, "pkre")
    client.query("CREATE TABLE pkre(a INT PRIMARY KEY)")
    client.query("DROP TABLE pkre")
    client.query("CREATE TABLE pkre(a INT)")
    (res,) = client.query("INSERT OR REPLACE INTO pkre VALUES (1)")
    assert "error" in res and "no UNIQUE/PRIMARY KEY" in res["error"], res
    spark.sql("DROP TABLE IF EXISTS pkre")


def test_wire_extended_protocol_dialect_spellings(client):
    """UNION BY NAME and LIMIT n% through the extended protocol (the
    portal path bypassed them before code-review r6)."""
    out = client.extended_query(
        "SELECT 1 AS a UNION ALL BY NAME SELECT 2 AS a"
    )
    assert "error" not in out, out
    assert sorted(x[0] for x in out["rows"]) == ["1", "2"]
    out = client.extended_query(
        "SELECT n_nationkey FROM nation ORDER BY n_nationkey LIMIT 10%"
    )
    assert "error" not in out, out
    assert len(out["rows"]) == 2  # DuckDB truncates int(25 * 0.10)


_UBN_SQL = (
    "SELECT r_regionkey, r_name FROM region UNION ALL BY NAME "
    "SELECT n_name AS r_name, n_nationkey AS k FROM nation WHERE n_nationkey < 3 "
    "ORDER BY r_name, r_regionkey, k"
)
_PCT_SQL = "SELECT n_nationkey, n_name FROM nation ORDER BY n_nationkey LIMIT 40%"
_COLUMNS_SQL = "SELECT COLUMNS('r_.*') FROM region WHERE r_regionkey < 3"

# one statement per spelling that a simple Query and the extended
# protocol must answer alike (each built by the server's one builder)
_PARITY_SQL = {
    "getvariable": "SELECT getvariable('parity_v') AS v",
    "pragma_version": "PRAGMA version",
    "pragma_show_tables": "PRAGMA show_tables",
    "from_first": "FROM region SELECT r_name ORDER BY r_name LIMIT 2",
    "unpivot": "UNPIVOT parity_wide ON a, b INTO NAME metric VALUE val",
    "sql_execute": "EXECUTE parity_q(1)",
    "union_by_name": _UBN_SQL,
    "limit_percent": _PCT_SQL,
    "with_recursive": (
        "WITH RECURSIVE t(n) AS (SELECT 1 UNION ALL SELECT n + 1 FROM t "
        "WHERE n < 5) SELECT n FROM t ORDER BY n"
    ),
    "describe": "DESCRIBE region",
    "show_tables": "SHOW TABLES",
}


@pytest.fixture()
def parity_setup(client):
    for sql in (
        "SET VARIABLE parity_v = 42",
        "CREATE OR REPLACE TEMPORARY VIEW parity_wide AS "
        "SELECT 1 AS id, 10.5 AS a, 20.5 AS b",
        "PREPARE parity_q AS SELECT r_name FROM region WHERE r_regionkey = $1",
    ):
        (res,) = client.query(sql)
        assert "error" not in res, res
    yield client
    client.query("DEALLOCATE parity_q")


def _answer(res: dict) -> tuple:
    return res["columns"], res["oids"], res["rows"], res["tag"]


def _row_desc_first(events: list[str]) -> bool:
    return "D" not in events or (
        "T" in events and events.index("T") < events.index("D")
    )


@pytest.mark.parametrize("name", sorted(_PARITY_SQL))
def test_wire_protocol_parity(parity_setup, name):
    """A simple Query, Parse/Bind/Describe/Execute/Sync and Execute
    with maxrows=2 answer the same columns, OIDs, rows and tag, and the
    extended protocol's RowDescription (from Describe) precedes every
    DataRow."""
    client = parity_setup
    sql = _PARITY_SQL[name]
    (simple,) = client.query(sql)
    assert "error" not in simple, simple
    for maxrows in (0, 2):
        ext = client.extended_query(sql, maxrows=maxrows)
        assert "error" not in ext, (maxrows, ext)
        assert _row_desc_first(ext["events"]), (maxrows, ext["events"])
        assert _answer(ext) == _answer(simple), maxrows


def test_wire_extended_nextval_allocates_once_per_bind(client):
    """Describe plans a portal once and Execute sends that plan, so one
    Bind allocates one value: extended runs answer consecutive values,
    continuing the simple protocol's."""
    (res,) = client.query("CREATE SEQUENCE parity_seq")
    assert "error" not in res, res
    try:
        (res,) = client.query("SELECT nextval('parity_seq') AS v")
        assert res["rows"] == [["1"]], res
        for want in ("2", "3"):
            ext = client.extended_query("SELECT nextval('parity_seq') AS v")
            assert "error" not in ext, ext
            assert ext["events"][:3] == ["1", "2", "T"], ext["events"]
            assert (ext["columns"], ext["rows"], ext["tag"]) == (
                ["v"], [[want]], "SELECT 1"
            )
        ext = client.extended_query("SELECT nextval('parity_seq') AS v", maxrows=2)
        assert ext["rows"] == [["4"]], ext
    finally:
        client.query("DROP SEQUENCE parity_seq")


@pytest.mark.parametrize("sql", [_UBN_SQL, _PCT_SQL, _COLUMNS_SQL])
def test_wire_copy_to_stdout_builds_like_select(client, sql):
    """COPY (<q>) TO STDOUT sends the rows <q> answers (the inner query
    is built like any SELECT)."""
    (res,) = client.query(sql)
    assert "error" not in res, res
    want = [["\\N" if v is None else v for v in row] for row in res["rows"]]
    (out,) = client.query(f"COPY ({sql}) TO STDOUT")
    assert "error" not in out, out
    got = [ln.split("\t") for ln in out["copy_out"].decode().splitlines()]
    assert got == want
    assert out["tag"] == f"COPY {len(want)}"


def test_wire_show_tables_skips_pg_catalog_views(client):
    """SHOW TABLES and PRAGMA show_tables list user tables only, before
    and after a pg_catalog query registers its emulation views."""
    before = [client.query(s)[0]["rows"] for s in ("SHOW TABLES", "PRAGMA show_tables")]
    (res,) = client.query(
        "SELECT count(*) FROM pg_catalog.pg_class c "
        "JOIN information_schema.columns i ON i.table_name = c.relname"
    )
    assert "error" not in res, res
    after = [client.query(s)[0]["rows"] for s in ("SHOW TABLES", "PRAGMA show_tables")]
    assert after == before
    names = {r[0] for r in after[0]}
    assert "region" in names and not names & {"pg_class", "info_schema_columns"}


# ------------------------------------------------------------- ATTACH/DETACH


def test_wire_attach_memory_golden(client, spark):
    """ATTACH ':memory:' / qualified DML+SELECT (db.t and db.main.t) /
    DETACH — value-compared against DuckDB running the identical
    statement sequence (r6 verdict missing item 1)."""
    import duckdb

    con = duckdb.connect()
    seq = [
        "ATTACH ':memory:' AS attx",
        "CREATE TABLE attx.t AS SELECT 1 AS a, 'p' AS b",
        "INSERT INTO attx.t VALUES (2, 'q')",
    ]
    for s in seq:
        (r,) = client.query(s)
        assert "error" not in r, (s, r)
        con.execute(s)
    for sel in (
        "SELECT a, b FROM attx.t ORDER BY a",
        "SELECT a, b FROM attx.main.t ORDER BY a",
        "SELECT count(*) AS n FROM attx.t",
    ):
        (r,) = client.query(sel)
        want = [[str(c) for c in row] for row in con.execute(sel).fetchall()]
        assert r["rows"] == want, (sel, r)
    # SHOW DATABASES includes the attachment (names beyond the default
    # db differ between engines, so assert membership not equality)
    (r,) = client.query("SHOW DATABASES")
    assert ["attx"] in r["rows"]
    assert "attx" in [row[0] for row in con.execute("SHOW DATABASES").fetchall()]
    # duplicate attach errors like DuckDB's binder; IF NOT EXISTS acks
    (r,) = client.query("ATTACH ':memory:' AS attx")
    assert "error" in r and "already exists" in r["error"]
    (r,) = client.query("ATTACH IF NOT EXISTS ':memory:' AS attx")
    assert "error" not in r
    # detach drops resolution; unknown detach errors; IF EXISTS acks
    for s in ("DETACH attx",):
        (r,) = client.query(s)
        assert "error" not in r, (s, r)
        con.execute(s)
    (r,) = client.query("SELECT * FROM attx.t")
    assert "error" in r
    (r,) = client.query("DETACH attx")
    assert "error" in r and "not found" in r["error"]
    (r,) = client.query("DETACH IF EXISTS attx")
    assert "error" not in r
    (r,) = client.query("SHOW DATABASES")
    assert ["attx"] not in r["rows"]
    con.close()


def test_wire_attach_file_readonly_and_refusals(client, tmp_path):
    """READ_ONLY attach of an existing DuckDB file imports its tables;
    writes into it refuse; writable file attach refuses loudly."""
    import duckdb

    dbfile = str(tmp_path / "att_ro.db")
    con = duckdb.connect(dbfile)
    con.execute("CREATE TABLE ft AS SELECT 9 AS c UNION ALL SELECT 10")
    con.execute(
        "CREATE TABLE fn AS SELECT 1 AS i UNION ALL SELECT NULL"
    )
    con.close()

    (r,) = client.query(f"ATTACH '{dbfile}' AS attro (READ_ONLY)")
    assert "error" not in r, r
    (r,) = client.query("SELECT c FROM attro.ft ORDER BY c")
    assert r["rows"] == [["9"], ["10"]]
    # nullable int column survives the Arrow import as an INT with a
    # real NULL (r7: to_pandas() coerced it to DOUBLE with NaN)
    (r,) = client.query("SELECT i FROM attro.fn ORDER BY i NULLS LAST")
    assert r["rows"] == [["1"], [None]], r
    assert r["oids"] == [23], r
    (r,) = client.query("INSERT INTO attro.ft VALUES (11)")
    assert "error" in r and "READ_ONLY" in r["error"]
    # READING the RO database from a write to a LOCAL table is legal
    # (r7: the old substring guard refused it), and the guard binds to
    # the write TARGET — including unqualified writes after USE
    (r,) = client.query("CREATE TABLE att_local AS SELECT c FROM attro.ft")
    assert "error" not in r, r
    (r,) = client.query("INSERT INTO att_local SELECT c FROM attro.ft")
    assert "error" not in r, r
    (r,) = client.query("SELECT count(*) AS n FROM att_local")
    assert r["rows"] == [["4"]]
    (r,) = client.query("DROP TABLE att_local")
    assert "error" not in r
    # COPY ... TO only READS the RO database — DuckDB allows it
    # (ADVICE r7 item 2: the old guard refused any COPY first-operand)
    out_csv = str(tmp_path / "ro_export.csv")
    (r,) = client.query(f"COPY attro.ft TO '{out_csv}' (HEADER)")
    assert "error" not in r, r
    (r,) = client.query(
        f"COPY (SELECT c FROM attro.ft) TO '{out_csv}' (HEADER)"
    )
    assert "error" not in r, r
    # ... but COPY ... FROM loads INTO the table — still refused
    (r,) = client.query(f"COPY attro.ft FROM '{out_csv}' (HEADER)")
    assert "error" in r and "READ_ONLY" in r["error"], r
    # CREATE MACRO reading the RO attach is a pure READ — legal
    # (ADVICE r8 item 5: the conservative qualifier-scan fallback used
    # to reject it because the 'attro.' qualifier appears in the text)
    (r,) = client.query(
        "CREATE MACRO ro_total() AS (SELECT sum(c) FROM attro.ft)"
    )
    assert "error" not in r, r
    (r,) = client.query("SELECT ro_total() AS t")
    assert r["rows"] == [["19"]], r
    (r,) = client.query("DROP MACRO ro_total")
    assert "error" not in r, r
    # write verbs the target regex can't bind still refuse when an RO
    # alias is the qualifier (ADVICE r7 item 4)
    (r,) = client.query("ALTER VIEW attro.ft RENAME TO ft2")
    assert "error" in r and "READ_ONLY" in r["error"], r
    (r,) = client.query("CREATE INDEX ro_idx ON attro.ft (c)")
    assert "error" in r and "READ_ONLY" in r["error"], r
    (r,) = client.query("USE attro")
    assert "error" not in r
    (r,) = client.query("INSERT INTO ft VALUES (11)")
    assert "error" in r and "READ_ONLY" in r["error"], r
    # unqualified COPY TO after USE ro is still a read — allowed
    (r,) = client.query(f"COPY ft TO '{out_csv}' (HEADER)")
    assert "error" not in r, r
    (r,) = client.query("USE main")  # database_list's name round-trips
    assert "error" not in r, r
    (r,) = client.query("DETACH attro")
    assert "error" not in r
    # writable file-backed attach: loud refusal (0A000), never silent
    (r,) = client.query(f"ATTACH '{dbfile}' AS attrw")
    assert "error" in r and "READ_ONLY" in r["error"]
    # missing file: loud
    (r,) = client.query("ATTACH '/nonexistent/x.db' AS attmiss (READ_ONLY)")
    assert "error" in r


def test_wire_attach_streamed_import_multibatch(client, tmp_path, monkeypatch):
    """The READ_ONLY-attach import streams Arrow record batches (r7
    verdict item 2: one fetch_arrow_table() of the whole file was the
    last unbounded driver-memory path). Forcing a tiny batch size
    exercises the multi-batch append path; NULL ints must survive every
    batch (the r7 NaN regression stays netted)."""
    import duckdb

    from duckdb_pgwire_spark.server import app as app_mod

    monkeypatch.setattr(app_mod, "_ATTACH_BATCH_ROWS", 7)
    dbfile = str(tmp_path / "att_stream.db")
    con = duckdb.connect(dbfile)
    con.execute(
        "CREATE TABLE big AS SELECT range AS i, "
        "CASE WHEN range % 5 = 0 THEN NULL ELSE range * 2 END AS j "
        "FROM range(40)"
    )
    con.execute("CREATE TABLE empty_t(a INT, b VARCHAR)")
    con.close()

    (r,) = client.query(f"ATTACH '{dbfile}' AS attst (READ_ONLY)")
    assert "error" not in r, r
    (r,) = client.query(
        "SELECT count(*) AS n, count(j) AS nj, sum(j) AS s FROM attst.big"
    )
    # 40 rows over 6 batches of 7; 8 NULLs; sum 2*(780-140) = 1280
    assert r["rows"] == [["40", "32", "1280"]], r
    (r,) = client.query("SELECT i, j FROM attst.big ORDER BY i LIMIT 6")
    assert r["rows"] == [
        ["0", None], ["1", "2"], ["2", "4"], ["3", "6"], ["4", "8"],
        ["5", None],
    ], r
    # nullable int stays BIGINT (oid 20) through every appended batch
    assert r["oids"] == [20, 20], r
    # zero-row table keeps its schema
    (r,) = client.query("SELECT * FROM attst.empty_t")
    assert "error" not in r, r
    assert r["rows"] == [] and r["columns"] == ["a", "b"], r
    (r,) = client.query("DETACH attst")
    assert "error" not in r, r


def test_wire_use_database(client):
    """USE switches the default database; DETACH of the current database
    refuses with DuckDB's wording."""
    (r,) = client.query("ATTACH ':memory:' AS attu")
    assert "error" not in r
    (r,) = client.query("USE attu")
    assert "error" not in r
    (r,) = client.query("CREATE TABLE uu AS SELECT 5 AS b")
    assert "error" not in r, r
    (r,) = client.query("SELECT b FROM uu")
    assert r["rows"] == [["5"]]
    (r,) = client.query("DETACH attu")
    assert "error" in r and "default database" in r["error"]
    (r,) = client.query("USE default")
    assert "error" not in r
    (r,) = client.query("DETACH attu")
    assert "error" not in r


def test_wire_window_exclude_golden(client):
    """sum() over every EXCLUDE variant through the socket, golden vs
    DuckDB on the same inline fixture (r6 verdict missing item 2)."""
    import duckdb

    fixture = (
        "(VALUES (1, 10), (2, 20), (2, 21), (3, NULL), (4, 40), (4, 41),"
        " (4, 42), (6, 60)) t(k, x)"
    )
    con = duckdb.connect()
    for spec in (
        "ROWS BETWEEN 2 PRECEDING AND CURRENT ROW EXCLUDE CURRENT ROW",
        "RANGE BETWEEN 1 PRECEDING AND 1 FOLLOWING EXCLUDE CURRENT ROW",
        "RANGE BETWEEN 1 PRECEDING AND 1 FOLLOWING EXCLUDE GROUP",
        "RANGE BETWEEN 1 PRECEDING AND 1 FOLLOWING EXCLUDE TIES",
        "ROWS BETWEEN 2 PRECEDING AND 1 FOLLOWING EXCLUDE NO OTHERS",
    ):
        sql = (
            f"SELECT k, x, sum(x) OVER (ORDER BY k {spec}) AS s "
            f"FROM {fixture} ORDER BY k, x NULLS FIRST"
        )
        (r,) = client.query(sql)
        assert "error" not in r, (spec, r)
        want = [
            [None if c is None else str(c) for c in row]
            for row in con.execute(sql).fetchall()
        ]
        assert r["rows"] == want, (spec, r["rows"], want)
    # GROUPS refuses with DuckDB's parser wording
    (r,) = client.query(
        "SELECT sum(x) OVER (ORDER BY k GROUPS BETWEEN 1 PRECEDING AND "
        f"CURRENT ROW) FROM {fixture}"
    )
    assert "error" in r and "GROUPS mode" in r["error"]
    con.close()


def test_extended_binary_arrays(client):
    """Binary result format for 1-D base-type arrays (public PG array
    layout: ndim/hasnull/elemoid header + dim + length-prefixed cells)
    — closes the r6 'binary arrays' loud refusal for JDBC
    binaryTransfer clients."""
    out = client.extended_query(
        "SELECT array(1, NULL, 3) AS a, CAST(array() AS array<int>) AS e, "
        "array(1.5D, 2.5D) AS f, array('x', 'a b') AS s",
        result_binary=True,
        raw_rows=True,
    )
    assert "error" not in out, out
    (row,) = out["rows"]
    want_a = struct.pack("!iiIii", 1, 1, 23, 3, 1)
    want_a += struct.pack("!ii", 4, 1) + struct.pack("!i", -1)
    want_a += struct.pack("!ii", 4, 3)
    assert row[0] == want_a
    assert row[1] == struct.pack("!iiI", 0, 0, 23)  # empty: ndim=0
    want_f = struct.pack("!iiIii", 1, 0, 701, 2, 1)
    want_f += struct.pack("!id", 8, 1.5) + struct.pack("!id", 8, 2.5)
    assert row[2] == want_f
    want_s = struct.pack("!iiIii", 1, 0, 25, 2, 1)
    want_s += struct.pack("!i", 1) + b"x" + struct.pack("!i", 3) + b"a b"
    assert row[3] == want_s
    # binary int8[] Bind parameter decodes through oid 1016
    arr = struct.pack("!iiIii", 1, 0, 20, 2, 1)
    arr += struct.pack("!iq", 8, 7) + struct.pack("!iq", 8, 9)
    out = client.extended_query(
        "SELECT $1 AS v",
        params=[arr],
        param_oids=[1016],
        param_binary=True,
    )
    assert "error" not in out, out
    assert out["rows"] == [["{7,9}"]]


def test_extended_binary_text_advertised_types(client):
    """Binary result format for TEXT-ADVERTISED columns (r8 verdict
    item 7): structs, maps, struct-element arrays and intervals are
    served under OID 25, whose PG binary send format IS the utf-8 text
    bytes — so a binaryTransfer client gets the exact text rendering
    instead of an error."""
    out = client.extended_query(
        "SELECT named_struct('a', 1, 'b', 'x') AS st,"
        " array(named_struct('a', 1), named_struct('a', 2)) AS sa,"
        " map(['k'], [7]) AS mp",
        result_binary=True,
        raw_rows=True,
    )
    assert "error" not in out, out
    assert out["oids"] == [25, 25, 25], out
    (row,) = out["rows"]
    assert row[0] == b'{"a":1,"b":"x"}'
    assert row[1] == b'{"{\\"a\\":1}","{\\"a\\":2}"}'
    assert row[2] == b'{"k":7}'
    # text-format rendering of the same cells is byte-identical
    (r,) = client.query(
        "SELECT named_struct('a', 1, 'b', 'x') AS st,"
        " array(named_struct('a', 1), named_struct('a', 2)) AS sa,"
        " map(['k'], [7]) AS mp"
    )
    assert r["rows"] == [[row[0].decode(), row[1].decode(), row[2].decode()]]


def test_extended_mixed_result_formats(client):
    """Explicit PER-COLUMN result format codes in Bind (r8 verdict
    item 7's negotiation route): a client can keep fixed-layout
    columns binary while taking composite columns as text in the SAME
    row — [1, 1, 0] yields a PG-binary int8, the struct[] column's
    utf-8 text bytes (its OID-25 binary send), and a text double."""
    import struct as _s

    out = client.extended_query(
        "SELECT 7::BIGINT AS a,"
        " array(named_struct('x', 1)) AS sa,"
        " 2.5::DOUBLE AS f",
        result_formats=[1, 1, 0],
        raw_rows=True,
    )
    assert "error" not in out, out
    assert out["fmts"] == [1, 1, 0], out
    (row,) = out["rows"]
    assert row[0] == _s.pack("!q", 7)
    assert row[1] == b'{"{\\"x\\":1}"}'
    assert row[2] == b"2.5"


def test_extended_binary_nested_arrays(client):
    """ndim=2 binary arrays (r7 verdict item 5): nested base-type
    arrays ship in the public multidimensional layout (dims row-major),
    advertise the SAME array OID PG uses for every dimensionality, and
    decode as Bind parameters back to the {{..}} literal."""
    out = client.extended_query(
        "SELECT array(array(1, 2), array(3, NULL)) AS m",
        result_binary=True,
        raw_rows=True,
    )
    assert "error" not in out, out
    assert out["oids"] == [1007], out
    (row,) = out["rows"]
    want = struct.pack("!iiI", 2, 1, 23)
    want += struct.pack("!ii", 2, 1) + struct.pack("!ii", 2, 1)
    want += struct.pack("!ii", 4, 1) + struct.pack("!ii", 4, 2)
    want += struct.pack("!ii", 4, 3) + struct.pack("!i", -1)
    assert row[0] == want, (row[0].hex(), want.hex())
    # text format of the same cell is the PG literal, sub-arrays unquoted
    (r,) = client.query("SELECT array(array(1, 2), array(3, NULL)) AS m")
    assert r["rows"] == [["{{1,2},{3,NULL}}"]], r
    # ndim=2 Bind parameter decodes row-major into the nested literal
    arr = struct.pack("!iiI", 2, 0, 20)
    arr += struct.pack("!ii", 2, 1) + struct.pack("!ii", 3, 1)
    for v in (1, 2, 3, 4, 5, 6):
        arr += struct.pack("!iq", 8, v)
    out = client.extended_query(
        "SELECT $1 AS v",
        params=[arr],
        param_oids=[1016],
        param_binary=True,
    )
    assert "error" not in out, out
    assert out["rows"] == [["{{1,2,3},{4,5,6}}"]]
    # a RAGGED nested array cannot use the binary format: loud error,
    # not a mis-shaped rectangle
    out = client.extended_query(
        "SELECT array(array(1, 2), array(3)) AS m",
        result_binary=True,
        raw_rows=True,
    )
    assert "error" in out and "ragged" in out["error"], out
    # ... and the TEXT path refuses identically: the advertised OID is
    # the rectangular PG array type, so {{1},{2,3}} would be a
    # malformed literal for OID-aware clients (ADVICE r8 item 1)
    (r,) = client.query("SELECT array(array(1, 2), array(3)) AS m")
    assert "error" in r and "ragged" in r["error"], r
    (r,) = client.query(
        "SELECT array(array(1, 2), CAST(NULL AS ARRAY<INT>)) AS m"
    )
    assert "error" in r and "NULL sub-array" in r["error"], r
    # struct-element nested arrays advertise TEXT — raggedness is legal
    (r,) = client.query(
        "SELECT array(array(named_struct('a', 1)),"
        " array(named_struct('a', 2), named_struct('a', 3))) AS m"
    )
    assert "error" not in r, r


def test_wire_union_type_emulation(client):
    """DuckDB UNION-type surface (union_value/union_tag/union_extract)
    over tagged structs — the wire renders a union as its active
    member's text, exactly like DuckDB renders `SELECT union_value(num
    := 2)` as `2` (closes the r6 probe refusal; compat.
    _rewrite_union_fns)."""
    (r,) = client.query(
        "SELECT union_value(num := 2) AS uv, union_value(s := 'hi') AS us"
    )
    assert "error" not in r, r
    assert r["rows"] == [["2", "hi"]]
    (r,) = client.query(
        "SELECT union_tag(union_value(num := 2)) AS t, "
        "union_extract(union_value(num := 2), 'num') AS v"
    )
    assert "error" not in r, r
    assert r["rows"] == [["num", "2"]]
    # null member renders as DuckDB's CAST(union AS VARCHAR) does
    (r,) = client.query("SELECT union_value(num := CAST(NULL AS INT)) AS u")
    assert "error" not in r, r
    assert r["rows"] == [["NULL"]]
    # over a row set, through a subquery column reference
    (r,) = client.query(
        "SELECT union_tag(u) AS t, union_extract(u, 'n') AS v FROM "
        "(SELECT union_value(n := range) u FROM range(3)) x ORDER BY v"
    )
    assert "error" not in r, r
    assert r["rows"] == [["n", "0"], ["n", "1"], ["n", "2"]]
    # a missing tag fails loudly in the resolver (DuckDB: binder error)
    (r,) = client.query(
        "SELECT union_extract(union_value(num := 2), 'nope') AS v"
    )
    assert "error" in r
    # a USER struct that merely contains a __utag field is NOT the
    # union sentinel — it renders as JSON like any other struct
    # (ADVICE r7 item 5: the old check keyed on the field name alone)
    (r,) = client.query(
        "SELECT named_struct('__utag', 'x', 'a', 1, 'b', 2) AS s"
    )
    assert "error" not in r, r
    assert r["rows"] == [['{"__utag":"x","a":1,"b":2}']], r
    (r,) = client.query(
        "SELECT named_struct('__utag', 7, 'x', 1) AS s"  # non-string tag
    )
    assert "error" not in r, r
    assert r["rows"] == [['{"__utag":7,"x":1}']], r


def test_wire_double_quoted_identifiers(client):
    """DuckDB/PG: double quotes are IDENTIFIERS, never strings. Spark's
    default parsed them as string literals, so SELECT \"r_name\" FROM
    region returned the literal text per row — silent wrong data for
    every quoting client (r10 find; spark.sql.ansi.
    doubleQuotedIdentifiers flips the parser to PG semantics)."""
    (r,) = client.query(
        'SELECT "r_name" FROM region ORDER BY "r_regionkey" LIMIT 2'
    )
    assert "error" not in r, r
    assert r["columns"] == ["r_name"], r
    assert r["rows"] == [["AFRICA"], ["AMERICA"]], r
    (r,) = client.query('SELECT 1 AS "Weird Col", 2 AS "with""quote"')
    assert "error" not in r, r
    assert r["columns"] == ["Weird Col", 'with"quote'], r
    # unknown quoted identifier errors like DuckDB's binder (42703)
    (r,) = client.query('SELECT "no_such_col" FROM region')
    assert "error" in r and r.get("sqlstate") in ("42703", "42000"), r


def test_wire_recursive_union_cte(client):
    """WITH RECURSIVE ... UNION (the deduplicating fixpoint form Spark
    4.1 rejects — UNION ALL recursion is native): server-side
    semi-naive evaluation, value-compared against DuckDB. The cyclic
    case terminates BECAUSE of dedup; transitive closure composes
    with joins and extra CTEs."""
    import duckdb

    con = duckdb.connect()
    cases = [
        # cyclic step: only the dedup fixpoint terminates
        "WITH RECURSIVE t(n) AS (SELECT 1 UNION SELECT (n % 3) + 1"
        " FROM t) SELECT * FROM t ORDER BY n",
        # transitive closure over a join, aliased recursive reference
        "WITH RECURSIVE reach(src, dst) AS ("
        " SELECT * FROM (VALUES (1, 2), (2, 3), (3, 4)) e(s, d)"
        " UNION SELECT r.src, e.d FROM reach r"
        " JOIN (VALUES (1, 2), (2, 3), (3, 4)) e(s, d) ON r.dst = e.s)"
        " SELECT * FROM reach ORDER BY src, dst",
        # a non-recursive sibling CTE feeding the step
        "WITH RECURSIVE edges(s, d) AS ("
        " SELECT * FROM (VALUES (1, 2), (2, 4)) v(a, b)),"
        " walk(n) AS (SELECT 1 UNION SELECT e.d FROM walk w"
        " JOIN edges e ON e.s = w.n)"
        " SELECT * FROM walk ORDER BY n",
        # UNION ALL recursion stays on Spark's native path
        "WITH RECURSIVE t(n) AS (SELECT 1 UNION ALL SELECT n + 1 FROM t"
        " WHERE n < 4) SELECT sum(n) AS s FROM t",
        # review r10: a native UNION ALL recursive SIBLING must keep
        # its RECURSIVE prefix when re-emitted onto base/step/final
        "WITH RECURSIVE a(n) AS (SELECT 1 UNION ALL SELECT n + 1 FROM a"
        " WHERE n < 3), t(m) AS (SELECT 1 UNION SELECT m + 1 FROM t"
        " WHERE m < 3) SELECT * FROM t, a ORDER BY m, n",
        # review r10: explicit UNION DISTINCT is the dedup boundary
        "WITH RECURSIVE t(n) AS (SELECT 1 UNION DISTINCT SELECT n + 1"
        " FROM t WHERE n < 3) SELECT * FROM t ORDER BY n",
        # review r10: UNION ALL with a comment between the words stays
        # on the native path
        "WITH RECURSIVE t(n) AS (SELECT 1 UNION /*c*/ ALL SELECT n + 1"
        " FROM t WHERE n < 3) SELECT * FROM t ORDER BY n",
        # review r10: a base-part column SPELLED like the CTE name is
        # not a recursive reference (table-position detection)
        "WITH RECURSIVE t(n) AS (SELECT t FROM (VALUES (1)) s(t)"
        " UNION SELECT n + 1 FROM t WHERE n < 3)"
        " SELECT * FROM t ORDER BY n",
        # review r10: percentage LIMIT in the final query
        "WITH RECURSIVE t(n) AS (SELECT 1 UNION SELECT n + 1 FROM t"
        " WHERE n < 10) SELECT * FROM t ORDER BY n LIMIT 50%",
    ]
    for q in cases:
        want = [
            ["NULL" if v is None else str(v) for v in row]
            for row in con.execute(q).fetchall()
        ]
        (r,) = client.query(q)
        assert "error" not in r, (q, r)
        got = r["rows"] if "ORDER BY" in q else sorted(r["rows"])
        want = want if "ORDER BY" in q else sorted(want)
        assert got == want, (q, got, want)
    con.close()
    # review r10: a pre-existing same-named temp view survives the
    # recursive statement (the CTE shadows during the query only)
    (r,) = client.query("CREATE TEMP TABLE rcshadow AS SELECT 42 AS x")
    assert "error" not in r, r
    (r,) = client.query(
        "WITH RECURSIVE rcshadow(n) AS (SELECT 1 UNION SELECT n + 1"
        " FROM rcshadow WHERE n < 3) SELECT max(n) AS m FROM rcshadow"
    )
    assert "error" not in r and r["rows"] == [["3"]], r
    (r,) = client.query("SELECT x FROM rcshadow")
    assert "error" not in r and r["rows"] == [["42"]], r


def test_wire_read_csv_options(client, tmp_path):
    """read_csv named options beyond header/delim (r10): quote,
    escape, nullstr, names (first-N rename), columns (schema
    replacement incl. DECIMAL), all_varchar, ignore_errors
    (DROPMALFORMED), dateformat (drives the sniff AND the scan) —
    each value-compared against DuckDB reading the SAME file."""
    import duckdb

    con = duckdb.connect()

    def both(fn: str, content: str, opts: str):
        p = str(tmp_path / fn)
        with open(p, "w") as f:
            f.write(content)
        q = f"SELECT * FROM read_csv('{p}', {opts})"
        res = con.execute(q)
        want_cols = [c[0] for c in res.description]
        want = sorted(
            [
                "NULL" if v is None else str(v)
                for v in row
            ]
            for row in res.fetchall()
        )
        (r,) = client.query(q)
        assert "error" not in r, (fn, opts, r)
        assert r["columns"] == want_cols, (fn, opts, r["columns"], want_cols)
        got = sorted(
            ["NULL" if v is None else v for v in row] for row in r["rows"]
        )
        assert got == want, (fn, opts, got, want)

    both("ns.csv", "a,b,c\n1,NA,x\n2,3,y\n", "nullstr='NA'")
    both("nm.csv", "a,b,c\n1,2,x\n", "names=['p', 'q']")
    both(
        "cols.csv",
        "a,b,c\n1,2.50,x\n2,3.25,y\n",
        "columns={'p': 'INT', 'q': 'DECIMAL(4,2)', 'r': 'VARCHAR'}",
    )
    both("qt.csv", "h1;h2\n'a;b';2\n'c';3\n", "quote='''', delim=';'")
    both("av.csv", "a,b\n1,2\n3,4\n", "all_varchar=true")
    both("ie.csv", "a,b\n1,2\nbad\n3,4\n", "ignore_errors=true")
    both(
        "df.csv",
        "d,v\n02/01/2024,1\n15/03/2024,2\n",
        "dateformat='%d/%m/%Y'",
    )
    # escape: DuckDB's escape char inside quoted fields
    both(
        "esc.csv",
        'a,b\n"x\\"y",1\n',
        "escape='\\'",
    )
    # refusals stay loud: multiple distinct nullstr values, columns
    # count mismatch, quote=''
    p = str(tmp_path / "ns.csv")
    (r,) = client.query(
        f"SELECT * FROM read_csv('{p}', nullstr=['NA', 'x'])"
    )
    assert "error" in r and "nullstr" in r["error"], r
    (r,) = client.query(
        f"SELECT * FROM read_csv('{p}', columns={{'p': 'INT'}})"
    )
    assert "error" in r and "columns" in r["error"], r
    (r,) = client.query(f"SELECT * FROM read_csv('{p}', quote='')")
    assert "error" in r and "quote" in r["error"], r
    con.close()


def test_wire_time_type(client, tmp_path):
    """r10 (r8 verdict stretch item 9): DuckDB's TIME maps to Spark
    4.1's flag-gated ANSI TimeType — real OID 1083 on the wire (the
    documented csv_sniff OID gap), DuckDB's trimmed fractional render,
    CAST/literal/comparison support, and the PG binary time encoding
    (int64 microseconds since midnight)."""
    import struct as _s

    # literal + cast (the cast spelling needs the r10 timeType flag)
    (r,) = client.query(
        "SELECT TIME '01:02:03.400' AS t, '11:30:00'::TIME AS c,"
        " TIME '12:00:00' < TIME '13:00:00' AS lt"
    )
    assert r["rows"] == [["01:02:03.4", "11:30:00", "t"]], r
    # OID 1083 advertised, not VARCHAR
    out = client.extended_query("SELECT TIME '09:30:00' AS t")
    assert out["oids"] == [1083], out
    # PG binary format: int64 micros since midnight
    out = client.extended_query(
        "SELECT TIME '01:00:00.000001' AS t",
        result_binary=True,
        raw_rows=True,
    )
    assert out["rows"] == [[_s.pack("!q", 3_600_000_001)]], out
    # a sniffed CSV TIME column arrives as the real type: OID 1083,
    # comparisons work, ORDER BY is temporal
    p = str(tmp_path / "tt.csv")
    with open(p, "w") as f:
        f.write("t,v\n23:00:00,1\n09:15:30.25,2\n12:00:00,3\n")
    out = client.extended_query(f"SELECT t, v FROM '{p}' ORDER BY t")
    assert out["oids"][0] == 1083, out
    assert out["rows"] == [
        ["09:15:30.25", "2"], ["12:00:00", "3"], ["23:00:00", "1"]
    ], out
    (r,) = client.query(f"SELECT v FROM '{p}' WHERE t < TIME '12:30:00' ORDER BY v")
    assert r["rows"] == [["2"], ["3"]], r
    # binary TIME params: PG-legal 24:00:00 must not wrap to midnight,
    # out-of-range must refuse (code review r10)
    import pytest as _pt

    from duckdb_pgwire_spark.server.typemap import decode_binary_param

    assert decode_binary_param(_s.pack("!q", 86_400_000_000), 1083) == b"24:00:00"
    assert decode_binary_param(_s.pack("!q", 3_600_000_001), 1083) == (
        b"01:00:00.000001"
    )
    with _pt.raises(ValueError, match="out of range"):
        decode_binary_param(_s.pack("!q", -1), 1083)
    with _pt.raises(ValueError, match="out of range"):
        decode_binary_param(_s.pack("!q", 86_400_000_001), 1083)


def test_wire_csv_bare_path_sniffing(client, tmp_path):
    """Bare-path CSV relations (r7 verdict item 4): FROM 'x.csv' sniffs
    delimiter/header/types with DuckDB's probed rules (csv_sniff.py) —
    value-compared against DuckDB reading the SAME files."""
    import duckdb

    cases = {
        "basic.csv": "a,b,c\n1,2,x\n3,4,y\n",
        "noheader.csv": "1,2,x\n3,4,y\n",
        "semicolon.csv": "a;b\n1;hello\n2;world\n",
        "pipe.csv": "x|y\n5|p\n6|q\n",
        "alltext.csv": "name,city\nalice,nyc\nbob,sf\n",
        "quoted.csv": 'a,b\n"x,1",2\n"y,3",4\n',
        "dates.csv": "d,v\n2020-01-02,1.5\n2021-03-04,2.25\n",
        "bools.csv": "f1\ntrue\nf\nt\nfalse\n",
        "crlf.csv": "a,b\r\n1,x\r\n2,y\r\n",
        "dup.csv": "a,a\n1,2\n",
        # single-line files (code review r8): numeric/mixed row is
        # DATA, all-text row is a header-only table
        "onerow_num.csv": "1,2,3\n",
        "onerow_mixed.csv": "a,1\n",
        "onerow_text.csv": "a,b\n",
        # '+5' is not a DuckDB BIGINT either → both sides VARCHAR
        "plusnum.csv": "x\n+5\n-3\n",
        "exp.csv": "x\n1e3\n2E-2\n.5\n",
        # tab separator survives the external-table OPTIONS literal
        "tabs.tsv": "a\tb\n1\tq\n2\tr\n",
        # r10: TIME columns scan through the CAST projection as a real
        # Spark TIME (whole seconds here; fraction render + OID are
        # pinned in test_wire_time_type)
        "times.csv": "t,v\n09:30:00,1\n23:59:59,2\n",
    }
    con = duckdb.connect()
    for fn, content in cases.items():
        p = str(tmp_path / fn)
        with open(p, "w") as f:
            f.write(content)
        res = con.execute(f"SELECT * FROM '{p}'")
        want_cols = [c[0] for c in res.description]
        want = [
            [None if v is None else str(v) for v in row]
            for row in res.fetchall()
        ]
        (r,) = client.query(f"SELECT * FROM '{p}'")
        assert "error" not in r, (fn, r)
        assert r["columns"] == want_cols, (fn, r["columns"], want_cols)
        def _norm(rows):
            return sorted(
                [
                    # booleans render t/f on the wire, True/False in
                    # the duckdb python API
                    [{"t": "True", "f": "False"}.get(v, v) for v in row]
                    for row in rows
                ]
            )
        assert _norm(r["rows"]) == _norm(want), (fn, r["rows"], want)
    con.close()
    # read_csv / read_csv_auto + overrides
    p = str(tmp_path / "basic.csv")
    (r,) = client.query(f"SELECT count(*) AS n FROM read_csv_auto('{p}')")
    assert r["rows"] == [["2"]], r
    (r,) = client.query(
        f"SELECT a FROM read_csv('{p}', header=true, delim=',') ORDER BY a"
    )
    assert r["rows"] == [["1"], ["3"]], r
    # unsupported read_csv option: loud refusal naming the option
    (r,) = client.query(f"SELECT * FROM read_csv('{p}', sample_size=10)")
    assert "error" in r and "sample_size" in r["error"], r
    # the two-char SQL spelling '\t' means a TAB separator (ADVICE r8
    # item 4: it used to reach csv.reader and crash with TypeError)
    pt = str(tmp_path / "tabs.tsv")
    (r,) = client.query(
        f"SELECT a FROM read_csv('{pt}', delim='\\t') ORDER BY a"
    )
    assert "error" not in r, r
    assert r["rows"] == [["1"], ["2"]], r
    # a genuinely multi-char separator refuses loudly as a mapped
    # error, not an internal server crash
    (r,) = client.query(f"SELECT * FROM read_csv('{p}', delim='||')")
    assert "error" in r and "delimiter" in r["error"], r
    # missing file: loud, DuckDB-style IO error
    (r,) = client.query("SELECT * FROM '/nonexistent/nope.csv'")
    assert "error" in r and "nope.csv" in r["error"], r
    # '_'-prefixed basenames: Spark's scanner treats them as hidden
    # metadata and silently skips them — the view bridges through a
    # safely-named symlink so DuckDB-parity reads still work
    ph = str(tmp_path / "_hidden.csv")
    with open(ph, "w") as f:
        f.write("a,b\n7,x\n8,y\n")
    (r,) = client.query(f"SELECT sum(a) AS s FROM '{ph}'")
    assert r["rows"] == [["15"]], r
    # Spark-unparseable-but-Python-parseable forms stay VARCHAR (data
    # preserved; Python int('1_0')=10 would have silently NULLed)
    pu = str(tmp_path / "underscores.csv")
    with open(pu, "w") as f:
        f.write("v\n1_0\n2_5\n")
    (r,) = client.query(f"SELECT v FROM '{pu}' ORDER BY v")
    assert r["rows"] == [["1_0"], ["2_5"]], r
    # CREATE VIEW over a bare-path CSV relation composes (the relation
    # is a permanent external table, not a temp view — code review r8)
    (r,) = client.query(f"CREATE VIEW csv_v AS SELECT a, b FROM '{p}'")
    assert "error" not in r, r
    (r,) = client.query("SELECT sum(a + b) AS s FROM csv_v")
    assert r["rows"] == [["10"]], r
    client.query("DROP VIEW csv_v")
    # a REWRITTEN file (new mtime) is re-sniffed — no stale cache
    pm = str(tmp_path / "mutate.csv")
    with open(pm, "w") as f:
        f.write("a,b\n1,2\n")
    (r,) = client.query(f"SELECT count(*) AS n FROM '{pm}'")
    assert r["rows"] == [["1"]], r
    import os as _os
    import time as _time

    with open(pm, "w") as f:
        f.write("a,b\n1,2\n3,4\n5,6\n")
    _os.utime(pm, (_time.time() + 2, _time.time() + 2))
    (r,) = client.query(f"SELECT count(*) AS n FROM '{pm}'")
    assert r["rows"] == [["3"]], r
    # COPY load operand keeps its raw path (the loader handles it)
    client.query("CREATE TABLE csv_load(a int, b int, c varchar)")
    (r,) = client.query(f"COPY csv_load FROM '{p}' (HEADER)")
    assert "error" not in r, r
    (r,) = client.query("SELECT count(*) AS n FROM csv_load")
    assert r["rows"] == [["2"]], r
    client.query("DROP TABLE csv_load")


def test_wire_create_type_enum(client, spark):
    """CREATE TYPE ... AS ENUM (r8 verdict item 3): declaration-order
    comparisons / ORDER BY / min-max via the ordered-struct emulation
    (compat.ENUM_TYPES), DuckDB varchar semantics for comparisons
    against literals, loud conversion errors, enum_* introspection
    functions, and bare-string INSERT coercion. Value expectations are
    DuckDB-probed (see compat.py docstring)."""
    (r,) = client.query("CREATE TYPE mood AS ENUM ('sad', 'ok', 'happy')")
    assert r["tag"] == "CREATE TYPE", r
    # renders as the label; declaration-order enum-enum comparison;
    # varchar (lexical) comparison against a plain literal — probed:
    # DuckDB 'ok'::mood < 'sad' IS true (lexical), < 'happy'::mood is
    # declaration order
    (r,) = client.query("SELECT 'ok'::mood AS m")
    assert r["rows"] == [["ok"]], r
    (r,) = client.query(
        "SELECT 'ok'::mood < 'happy'::mood AS c1, 'ok'::mood < 'sad' AS c2,"
        " 'ok'::mood = 'ok' AS e1,"
        " 'sad'::mood BETWEEN 'sad' AND 'happy' AS b"
    )
    assert r["rows"] == [["t", "t", "t", "f"]], r
    # a visible cast back to VARCHAR renders the LABEL, like DuckDB
    # (not the struct emulation's text)
    (r,) = client.query(
        "SELECT 'ok'::mood::VARCHAR AS v,"
        " CAST('sad'::mood AS VARCHAR) AS v2,"
        " upper('ok'::mood::VARCHAR) AS u"
    )
    assert r["rows"] == [["ok", "sad", "OK"]], r
    # invalid member: loud conversion error; TRY_CAST → NULL
    (r,) = client.query("SELECT 'nope'::mood AS m")
    assert "error" in r and "Could not convert" in r["error"], r
    (r,) = client.query("SELECT TRY_CAST('nope' AS mood) AS m")
    assert r["rows"] == [[None]], r
    # advice r9: the CAST(...) spelling gets the same varchar-context
    # semantics as :: — label out of a re-cast to VARCHAR, literal
    # comparison as validated label, TRY_CAST in varchar context
    (r,) = client.query(
        "SELECT CAST(CAST('ok' AS mood) AS VARCHAR) AS v,"
        " CAST('ok' AS mood) = 'ok' AS e,"
        " CAST('ok' AS mood) < 'happy' AS lx,"
        " TRY_CAST('nope' AS mood) = 'nope' AS t"
    )
    assert r["rows"] == [["ok", "t", "f", None]], r
    # advice r9: a failed enum cast of the literal 'cancelled' is an
    # invalid-text-representation (22P02), NOT query_canceled (57014)
    (r,) = client.query("SELECT 'cancelled'::mood AS m")
    assert "error" in r and r.get("sqlstate") == "22P02", r
    # the same SQLSTATEs when collect() runs the plan (a global
    # aggregate is row-bounded, so it is fetched with one collect()):
    # getSqlState() there reports raise_error's P0001, and the message
    # must still decide
    for sql, state, frag in [
        ("SELECT count(CAST(n_name AS mood)) AS n FROM nation", "22P02",
         "Could not convert string"),
        ("SELECT sum(ln(n_nationkey - 30)) AS s FROM nation", "22003",
         "Out of Range Error: cannot take logarithm"),
        ("SELECT max(printf('%d', n_name)) AS p FROM nation", "22023",
         'Invalid type specifier "d"'),
    ]:
        (r,) = client.query(sql)
        assert r.get("sqlstate") == state and frag in r["error"], (sql, r)
    # ORDER BY / min / max follow DECLARATION order, not lexical
    (r,) = client.query(
        "SELECT m FROM (SELECT 'happy'::mood AS m UNION ALL"
        " SELECT 'sad'::mood UNION ALL SELECT 'ok'::mood) t ORDER BY m"
    )
    assert r["rows"] == [["sad"], ["ok"], ["happy"]], r
    (r,) = client.query(
        "SELECT min(m) AS lo, max(m) AS hi FROM (SELECT 'happy'::mood AS m"
        " UNION ALL SELECT 'sad'::mood) t"
    )
    assert r["rows"] == [["sad", "happy"]], r
    # introspection functions (DuckDB-probed values)
    (r,) = client.query(
        "SELECT enum_range(NULL::mood) AS r, enum_first(NULL::mood) AS f,"
        " enum_last(NULL::mood) AS l, enum_code('ok'::mood) AS c,"
        " enum_range_boundary(NULL::mood, 'ok'::mood) AS rb"
    )
    assert r["rows"] == [["{sad,ok,happy}", "sad", "happy", "1", "{sad,ok}"]], r
    # enum-typed table column: DDL, bare-string INSERT (implicit cast
    # like DuckDB), declaration-order scan, GROUP BY, invalid refusal
    _fresh_wire_table(spark, "tmood")
    (r,) = client.query("CREATE TABLE tmood(m mood, v INT)")
    assert "error" not in r, r
    (r,) = client.query(
        "INSERT INTO tmood VALUES ('happy', 1), ('sad', 2), ('ok', 3)"
    )
    assert "error" not in r, r
    (r,) = client.query("SELECT m, v FROM tmood ORDER BY m")
    assert r["rows"] == [["sad", "2"], ["ok", "3"], ["happy", "1"]], r
    (r,) = client.query(
        "SELECT m, count(*) AS n FROM tmood GROUP BY m ORDER BY m"
    )
    assert r["rows"] == [["sad", "1"], ["ok", "1"], ["happy", "1"]], r
    (r,) = client.query("INSERT INTO tmood VALUES ('angry', 9)")
    assert "error" in r and "Could not convert" in r["error"], r
    (r,) = client.query("SELECT m FROM tmood WHERE m = 'sad'::mood")
    assert r["rows"] == [["sad"]], r
    # r10: enum TABLE-COLUMN contexts (schema-aware pass): a cast of
    # the bare column renders the LABEL, and comparisons against plain
    # varchar operands compare the label AS VARCHAR (DuckDB-probed) —
    # both previously hit the struct emulation (NOTES r9 gap list)
    (r,) = client.query("SELECT CAST(m AS VARCHAR) AS v FROM tmood ORDER BY v")
    assert r["rows"] == [["happy"], ["ok"], ["sad"]], r
    (r,) = client.query("SELECT m::VARCHAR AS v FROM tmood WHERE m = 'ok'")
    assert r["rows"] == [["ok"]], r
    (r,) = client.query("SELECT m, v FROM tmood WHERE m = 'sad'")
    assert r["rows"] == [["sad", "2"]], r
    (r,) = client.query(
        "SELECT m FROM tmood WHERE m IN ('sad', 'ok') ORDER BY m"
    )
    assert r["rows"] == [["sad"], ["ok"]], r
    # lexical varchar inequality ('happy' <= 'ok' and 'happy' <= 'sad')
    (r,) = client.query("SELECT count(*) AS n FROM tmood WHERE 'happy' <= m")
    assert r["rows"] == [["3"]], r
    (r,) = client.query("SELECT m FROM tmood WHERE m LIKE '%a%' ORDER BY m")
    assert r["rows"] == [["sad"], ["happy"]], r
    # enum-vs-enum stays DECLARATION order (not label order)
    (r,) = client.query("SELECT m FROM tmood WHERE m > 'ok'::mood")
    assert r["rows"] == [["happy"]], r
    # r10: SELECT-list ALIASES of enum columns resolve through
    # subqueries/CTEs (alias propagation — the pass previously read
    # statement-table schemas only, NOTES r10 gap)
    (r,) = client.query(
        "SELECT x FROM (SELECT m AS x FROM tmood) sub WHERE x = 'sad'"
    )
    assert r["rows"] == [["sad"]], r
    (r,) = client.query(
        "SELECT x FROM (SELECT m AS x, v AS n FROM tmood) sub "
        "WHERE x IN ('sad', 'ok') ORDER BY x"
    )
    assert r["rows"] == [["sad"], ["ok"]], r
    (r,) = client.query(
        "WITH s AS (SELECT m AS x FROM tmood) "
        "SELECT x FROM s WHERE x LIKE '%a%' ORDER BY x"
    )
    assert r["rows"] == [["sad"], ["happy"]], r
    # alias-of-alias chains close at fixpoint
    (r,) = client.query(
        "SELECT y FROM (SELECT x AS y FROM (SELECT m AS x FROM tmood) a) b "
        "WHERE y = 'ok'"
    )
    assert r["rows"] == [["ok"]], r
    # r10: DESCRIBE renders the enum type like DuckDB, not the
    # emulation struct
    (r,) = client.query("DESCRIBE tmood")
    assert r["rows"][0][:2] == ["m", "ENUM('sad', 'ok', 'happy')"], r
    client.query("DROP TABLE tmood")
    # r10: unnest(...)::enum hoists the cast inside the array
    (r,) = client.query(
        "SELECT unnest(['happy', 'sad'])::mood AS m ORDER BY m"
    )
    assert r["rows"] == [["sad"], ["happy"]], r
    # r10 code review: the whole VARCHAR alias family is a label
    # context for enum casts (NVARCHAR/NCHAR previously drifted from
    # the family list and rendered struct text)
    (r,) = client.query(
        "SELECT 'ok'::mood::NVARCHAR AS a, CAST('sad'::mood AS NCHAR) AS b,"
        " 'happy'::mood::CHARACTER VARYING AS c"
    )
    assert r["rows"] == [["ok", "sad", "happy"]], r
    # advice r9: a member list with list-punctuation errors (adjacent
    # literals, unquoted tokens) is a 42601 parser error like DuckDB,
    # not a silently-salvaged member set
    (r,) = client.query("CREATE TYPE badmood AS ENUM ('a' 'b', c)")
    assert "error" in r and r.get("sqlstate") == "42601", r
    (r,) = client.query("CREATE TYPE badmood2 AS ENUM (not_a_literal)")
    assert "error" in r and r.get("sqlstate") == "42601", r
    # duplicate / drop semantics shared with aliases
    (r,) = client.query("CREATE TYPE mood AS ENUM ('a')")
    assert "error" in r and "already exists" in r["error"], r
    (r,) = client.query("DROP TYPE mood")
    assert r["tag"] == "DROP TYPE", r
    (r,) = client.query("SELECT 'ok'::mood AS gone")
    assert "error" in r, r


def test_wire_create_type_aliases(client, spark):
    """CREATE TYPE name AS <type> (STRUCT/scalar aliases): usable in
    casts and CREATE TABLE column lists; DROP TYPE matches DuckDB's
    error shape."""
    (r,) = client.query("CREATE TYPE pt AS STRUCT(x INT, y INT)")
    assert r["tag"] == "CREATE TYPE", r
    (r,) = client.query("CREATE TYPE uid AS UBIGINT")
    assert r["tag"] == "CREATE TYPE", r
    (r,) = client.query("SELECT ({'x': 1, 'y': 2})::pt AS p")
    assert r["rows"] == [['{"x":1,"y":2}']], r
    (r,) = client.query("SELECT '7'::uid AS u")
    assert r["rows"] == [["7"]], r
    _fresh_wire_table(spark, "pts_t")
    (r,) = client.query("CREATE TABLE pts_t(p pt, u uid)")
    assert "error" not in r, r
    (r,) = client.query(
        "INSERT INTO pts_t VALUES (({'x': 1, 'y': 2})::pt, 5)"
    )
    assert "error" not in r, r
    (r,) = client.query("SELECT p.x + p.y AS s, u FROM pts_t")
    assert r["rows"] == [["3", "5"]], r
    client.query("DROP TABLE pts_t")
    # nested alias inside a STRUCT field + duplicate-name error
    (r,) = client.query("CREATE TYPE wrap AS STRUCT(inner pt, n uid)")
    assert r["tag"] == "CREATE TYPE", r
    (r,) = client.query(
        "SELECT ({'inner': {'x': 1, 'y': 2}, 'n': 9})::wrap IS NOT NULL AS ok"
    )
    assert r["rows"] == [["t"]], r
    client.query("DROP TYPE wrap")
    (r,) = client.query("CREATE TYPE pt AS UBIGINT")
    assert "error" in r and "already exists" in r["error"], r
    # drop semantics
    (r,) = client.query("DROP TYPE pt")
    assert r["tag"] == "DROP TYPE", r
    (r,) = client.query("SELECT CAST(NULL AS pt) AS gone")
    assert "error" in r, r
    (r,) = client.query("DROP TYPE nope")
    assert "error" in r and "does not exist" in r["error"], r
    (r,) = client.query("DROP TYPE IF EXISTS nope")
    assert r["tag"] == "DROP TYPE", r
    client.query("DROP TYPE IF EXISTS uid")


def test_wire_groups_identifier_not_refused(client):
    """`groups` is an unreserved word — only GROUPS *frame mode* inside
    a window spec refuses (r7: the refusal fired on any `groups
    BETWEEN` text in the statement)."""
    (r,) = client.query(
        "SELECT x AS groups FROM (VALUES (3), (12)) t(x) "
        "WHERE x BETWEEN 1 AND 10"
    )
    assert "error" not in r, r
    assert r["rows"] == [["3"]]
    (r,) = client.query(
        "SELECT groups FROM (SELECT 5 AS groups) t WHERE groups BETWEEN 1 AND 10"
    )
    assert "error" not in r, r
    # the real frame mode still refuses with DuckDB's wording
    (r,) = client.query(
        "SELECT sum(x) OVER (ORDER BY x GROUPS BETWEEN 1 PRECEDING AND "
        "CURRENT ROW) FROM (VALUES (1)) t(x)"
    )
    assert "error" in r and "GROUPS mode" in r["error"]


def test_wire_merge_nextval(client, spark):
    """nextval inside MERGE arm expressions (r10 — the last refusing
    DML row context): per-arm block reservation, so the allocated
    VALUE SET is exact while row↔value pairing follows scan order on
    both engines (the UPDATE precedent, BASELINE r9). One sequence per
    arm; arm-predicate occurrences and cross-arm sequences refuse."""
    _fresh_wire_table(spark, "mnx")
    (r,) = client.query("CREATE SEQUENCE mnx_seq START 100 INCREMENT 3")
    assert "error" not in r, r
    (r,) = client.query("CREATE TABLE mnx(k INT, v BIGINT)")
    assert "error" not in r, r
    (r,) = client.query("INSERT INTO mnx VALUES (1, 0), (2, 0), (3, 0)")
    assert "error" not in r, r
    # INSERT arm: exactly the two unmatched keys draw from block
    # [100, 106) step 3
    out = client.query(
        "MERGE INTO mnx t USING (SELECT * FROM VALUES (3), (4), (5) "
        "AS src(k)) s ON t.k = s.k "
        "WHEN NOT MATCHED THEN INSERT VALUES (s.k, nextval('mnx_seq'))"
    )
    assert out[-1]["tag"] == "MERGE 2", out
    (r,) = client.query("SELECT v FROM mnx WHERE k >= 4 ORDER BY v")
    assert r["rows"] == [["100"], ["103"]], r
    # UPDATE arm with a predicate: only qualifying matched rows draw
    # from the next block [106, 112)
    out = client.query(
        "MERGE INTO mnx t USING (SELECT * FROM VALUES (1), (2), (4) "
        "AS src(k)) s ON t.k = s.k "
        "WHEN MATCHED AND t.k < 3 THEN UPDATE SET v = nextval('mnx_seq')"
    )
    assert out[-1]["tag"] == "MERGE 2", out
    (r,) = client.query("SELECT v FROM mnx WHERE k IN (1, 2) ORDER BY v")
    assert r["rows"] == [["106"], ["109"]], r
    # refusals: nextval in a predicate;
    # interleaved currval — and none of them advance the sequence
    for bad, frag in (
        (
            "MERGE INTO mnx t USING (SELECT * FROM VALUES (1) AS src(k)) s"
            " ON t.k = s.k "
            "WHEN MATCHED AND nextval('mnx_seq') > 0 THEN UPDATE SET v = 1",
            "arm predicate",
        ),
        (
            "MERGE INTO mnx t USING (SELECT * FROM VALUES (1) AS src(k)) s"
            " ON t.k = s.k "
            "WHEN MATCHED THEN UPDATE SET v = nextval('mnx_seq') "
            "+ currval('mnx_seq')",
            "per-row context",
        ),
    ):
        (r,) = client.query(bad)
        assert "error" in r and frag in r["error"], (bad, r)
    (r,) = client.query("SELECT nextval('mnx_seq') AS v")
    assert r["rows"] == [["112"]], r
    # 'nextval (' with whitespace before the paren substitutes too (the
    # occurrence gate must match _SEQ_FN_RE's tolerance)
    out = client.query(
        "MERGE INTO mnx t USING (SELECT * FROM VALUES (7) AS src(k)) s "
        "ON t.k = s.k "
        "WHEN NOT MATCHED THEN INSERT VALUES (s.k, nextval ('mnx_seq'))"
    )
    assert out[-1]["tag"] == "MERGE 1", out
    # ONE sequence across BOTH arms (the classic upsert — r12, was a
    # refusal): blocks reserve in arm order from the live counter, so
    # the value set is the same contiguous range DuckDB allocates.
    # Counter stands at 118 (112 consumed by the SELECT above, 115 by
    # the whitespace-tolerance insert): update arm (k=1, 1 row) draws
    # [118,121), insert arm (k=8, 1 row) draws [121,124).
    out = client.query(
        "MERGE INTO mnx t USING (SELECT * FROM VALUES (1), (8) "
        "AS src(k)) s ON t.k = s.k "
        "WHEN MATCHED THEN UPDATE SET v = nextval('mnx_seq') "
        "WHEN NOT MATCHED THEN INSERT VALUES (s.k, nextval('mnx_seq'))"
    )
    assert out[-1]["tag"] == "MERGE 2", out
    (r,) = client.query("SELECT v FROM mnx WHERE k IN (1, 8) ORDER BY k")
    assert r["rows"] == [["118"], ["121"]], r
    (r,) = client.query("SELECT nextval('mnx_seq') AS v")
    assert r["rows"] == [["124"]], r
    (r,) = client.query("SELECT v FROM mnx WHERE k = 7")
    assert r["rows"] == [["115"]], r
    client.query("DROP TABLE mnx")
    client.query("DROP SEQUENCE mnx_seq")


def test_wire_nextval_rowset_refusals(client):
    """Block reservation numbers rows before LIMIT/DISTINCT/set-ops
    apply, so those shapes refuse instead of emitting values outside
    the reserved range (code review r7)."""
    (r,) = client.query("CREATE SEQUENCE sq_r7 START 100")
    assert "error" not in r, r
    for bad in (
        "SELECT nextval('sq_r7') AS id FROM range(10) LIMIT 3",
        "SELECT DISTINCT nextval('sq_r7') AS id FROM range(3)",
        "SELECT nextval('sq_r7') FROM range(2) UNION ALL SELECT 1",
    ):
        (r,) = client.query(bad)
        assert "error" in r and "reserved range" in r["error"], (bad, r)
    # the sequence was never advanced by the refused statements
    (r,) = client.query("SELECT nextval('sq_r7') AS v")
    assert r["rows"] == [["100"]], r
    (r,) = client.query("DROP SEQUENCE sq_r7")
    assert "error" not in r


def test_extended_binary_bytea_array_param(client):
    """bytea[] binary Bind parameter (oid 1001) decodes — the array
    gate accepted it but the per-cell decode lacked a bytea branch
    (code review r7)."""
    arr = struct.pack("!iiIii", 1, 0, 17, 2, 1)
    arr += struct.pack("!i", 2) + b"\x01\x02" + struct.pack("!i", 1) + b"\xff"
    out = client.extended_query(
        "SELECT $1 AS v",
        params=[arr],
        param_oids=[1001],
        param_binary=True,
    )
    assert "error" not in out, out
    assert out["rows"] == [['{"\\\\x0102","\\\\xff"}']], out


def test_wire_concurrent_clients_stress(wire_server):
    """8 clients issuing interleaved queries concurrently: every
    connection gets ITS OWN correct results (no cross-talk between
    per-connection states/portals), and the server survives a mid-run
    error on one connection while the others proceed."""
    import concurrent.futures
    import importlib.util
    from pathlib import Path

    spec = importlib.util.spec_from_file_location(
        "pgwire_client_cc",
        Path(__file__).parent.parent / "scripts" / "pgwire_client.py",
    )
    mod = importlib.util.module_from_spec(spec)
    spec.loader.exec_module(mod)

    def worker(i: int) -> list:
        c = mod.PgClient(port=wire_server)
        try:
            out = []
            for k in range(5):
                if i == 3 and k == 2:  # one connection errors mid-run
                    (r,) = c.query("SELECT nope_col FROM region")
                    assert "error" in r
                    continue
                (r,) = c.query(
                    f"SELECT {i} * 100 + {k} AS v, count(*) AS n FROM nation"
                )
                assert "error" not in r, (i, k, r)
                out.append((int(r["rows"][0][0]), int(r["rows"][0][1])))
            return out
        finally:
            c.close()

    with concurrent.futures.ThreadPoolExecutor(max_workers=8) as ex:
        results = list(ex.map(worker, range(8)))
    for i, out in enumerate(results):
        want = [
            (i * 100 + k, 25) for k in range(5) if not (i == 3 and k == 2)
        ]
        assert out == want, (i, out)


def test_wire_pipeline_table_function(client):
    """pipeline('<op>') exposes every registry operator as a relation
    to PG clients; pipeline_ops() lists the catalog. Over-reference —
    the reference's DuckDB has none of these operators."""
    (r,) = client.query(
        "SELECT count(*) AS n FROM pipeline('text_token_count')"
    )
    assert "error" not in r, r
    assert int(r["rows"][0][0]) == 500  # every fixture document
    # composes with arbitrary SQL: projection + filter + order + join
    (r,) = client.query(
        "SELECT d.doc_id, p.n_spans FROM pipeline('text_dup_span_fraction') p "
        "JOIN documents d ON d.doc_id = p.doc_id "
        "WHERE p.flagged ORDER BY d.doc_id LIMIT 3"
    )
    assert "error" not in r, r
    assert len(r["rows"]) == 3 and r["columns"] == ["doc_id", "n_spans"]
    # catalog function
    (r,) = client.query(
        "SELECT count(*) AS n FROM pipeline_ops() WHERE has_oracle"
    )
    assert "error" not in r, r
    assert int(r["rows"][0][0]) >= 170
    # unknown operator: loud with a pointer to the catalog
    (r,) = client.query("SELECT * FROM pipeline('nope_op')")
    assert "error" in r and "pipeline_ops" in r["error"], r


def test_wire_pipeline_composes_with_copy_and_extended(client, tmp_path):
    """pipeline() relations work through COPY TO and the extended
    protocol (Parse/Describe/Execute) — the substitution runs before
    dispatch on every path."""
    out = client.extended_query(
        "SELECT count(*) AS n FROM pipeline('text_token_count')"
    )
    assert "error" not in out, out
    assert out["rows"] == [["500"]]
    dest = str(tmp_path / "scores.parquet")
    (r,) = client.query(
        f"COPY (SELECT * FROM pipeline('text_quality_score')) TO '{dest}' "
        "(FORMAT PARQUET)"
    )
    assert "error" not in r, r
    assert r["tag"].startswith("COPY")
    # DuckDB's bare-path idiom (r7: FROM 'x.parquet' is the relation)
    (r,) = client.query(f"SELECT count(*) AS n FROM '{dest}'")
    assert "error" not in r, r
    assert int(r["rows"][0][0]) == 500
    # a path string anywhere else stays data
    (r,) = client.query("SELECT 'a.parquet' AS s")
    assert r["rows"] == [["a.parquet"]]
    # bare path inside a COPY source subquery still rewrites (ADVICE r7
    # item 3: the whole-statement COPY skip broke this legal shape) ...
    dest2 = str(tmp_path / "copied_again.parquet")
    (r,) = client.query(
        f"COPY (SELECT * FROM '{dest}') TO '{dest2}' (FORMAT PARQUET)"
    )
    assert "error" not in r, r
    (r,) = client.query(f"SELECT count(*) AS n FROM '{dest2}'")
    assert int(r["rows"][0][0]) == 500
    # ... while COPY <tbl> FROM 'x.parquet' keeps its raw path operand
    (r,) = client.query(
        f"CREATE TABLE cp_bare AS SELECT * FROM '{dest2}' LIMIT 0"
    )
    assert "error" not in r, r
    (r,) = client.query(f"COPY cp_bare FROM '{dest2}' (FORMAT PARQUET)")
    assert "error" not in r, r
    (r,) = client.query("SELECT count(*) AS n FROM cp_bare")
    assert int(r["rows"][0][0]) == 500
    client.query("DROP TABLE cp_bare")


def test_wire_nextval_update_randomized_vs_duckdb(client, spark):
    """Randomized net over the r9 nextval-in-UPDATE feature (the census
    probed 9 fixed shapes; this sweeps seeded random tables, sequence
    START/INCREMENT, and predicates — including the zero-qualifying-row
    edge). Contract per trial, matching the golden test's semantics:
    non-qualifying rows keep EXACT values, qualifying rows carry exactly
    DuckDB's allocated value multiset (row↔value order guaranteed by
    neither engine), and currval agrees afterwards."""
    import random

    import duckdb

    for trial in range(6):
        rng = random.Random(7100 + trial)
        n = rng.randint(4, 24)
        vals = [rng.randint(-50, 50) for _ in range(n)]
        start = rng.choice([1, 1, 5, 100])
        inc = rng.choice([1, 1, 2, 7])
        pred = rng.choice(
            [None, "v % 2 = 0", "v > 0", "k < 5", "v > 999"]  # last: 0 rows
        )
        con = duckdb.connect()
        con.execute("CREATE TABLE nvfz(k INT, v INT)")
        _fresh_wire_table(spark, "nvfz")
        rows_sql = ", ".join(f"({k}, {v})" for k, v in enumerate(vals))
        seq_sql = f"CREATE SEQUENCE nvfzs START {start} INCREMENT {inc}"
        upd = "UPDATE nvfz SET v = nextval('nvfzs')" + (
            f" WHERE {pred}" if pred else ""
        )
        try:
            con.execute(f"INSERT INTO nvfz VALUES {rows_sql}")
            con.execute(seq_sql)
            con.execute(upd)
            (r,) = client.query("CREATE TABLE nvfz(k INT, v INT)")
            assert "error" not in r, (trial, r)
            (r,) = client.query(f"INSERT INTO nvfz VALUES {rows_sql}")
            assert "error" not in r, (trial, r)
            (r,) = client.query(seq_sql)
            assert "error" not in r, (trial, r)
            (r,) = client.query(upd)
            assert "error" not in r, (trial, upd, r)
            want = con.execute("SELECT k, v FROM nvfz ORDER BY k").fetchall()
            (r,) = client.query("SELECT k, v FROM nvfz ORDER BY k")
            got = [(int(a), int(b)) for a, b in r["rows"]]
            if pred is None:
                qualify = set(range(n))
            else:
                qualify = {
                    k for k, (_, v0) in enumerate(zip(range(n), vals))
                    if eval(  # noqa: S307 — test-local predicate mirror
                        pred.replace("k", str(k)).replace("v", str(vals[k]))
                        .replace("=", "==").replace(">==", ">=")
                    )
                }
            for k in range(n):
                if k not in qualify:
                    assert got[k] == want[k], (trial, k, got[k], want[k])
            assert sorted(v for k, v in got if k in qualify) == sorted(
                v for k, v in want if k in qualify
            ), (trial, upd, got, want)
            # currval agrees (errors on both when the block was empty)
            try:
                want_cur = [[str(con.execute(
                    "SELECT currval('nvfzs')").fetchall()[0][0])]]
            except Exception:
                want_cur = None
            (r,) = client.query("SELECT currval('nvfzs') AS c")
            if want_cur is None:
                assert "error" in r, (trial, r)
            else:
                assert r.get("rows") == want_cur, (trial, r, want_cur)
        finally:
            con.close()
            client.query("DROP SEQUENCE nvfzs")
            client.query("DROP TABLE nvfz")
            _fresh_wire_table(spark, "nvfz")


def test_wire_view_write_guard_r10_review(client, spark, tmp_path):
    """Code-review r10 pins: every route that can physically write
    through a fixture-backed view refuses — INSERT OVERWRITE (Spark
    grammar the fall-through would accept), COPY FROM (file load),
    quoted-qualified INSERT targets — and a refused UPDATE-with-nextval
    reserves NO sequence block (currval stays an error)."""
    (r,) = client.query("INSERT OVERWRITE region SELECT * FROM region")
    assert "error" in r and r.get("sqlstate") == "42809", r
    (r,) = client.query("INSERT OVERWRITE TABLE region SELECT * FROM region")
    assert "error" in r and r.get("sqlstate") == "42809", r
    (r,) = client.query('INSERT INTO "region" VALUES (9, \'X\')')
    assert "error" in r and r.get("sqlstate") == "42809", r
    p = tmp_path / "r.csv"
    p.write_text("9,X\n")
    (r,) = client.query(f"COPY region FROM '{p}'")
    assert "error" in r and "view" in r["error"], r
    # refused-before-reservation: currval must still error afterwards
    # (both DML spellings — the second review pass caught INSERT)
    client.query("CREATE SEQUENCE r10gs")
    (r,) = client.query("UPDATE region SET r_regionkey = nextval('r10gs')")
    assert "error" in r and r.get("sqlstate") == "42809", r
    (r,) = client.query("INSERT INTO region VALUES (nextval('r10gs'), 'Y')")
    assert "error" in r and r.get("sqlstate") == "42809", r
    (r,) = client.query("SELECT currval('r10gs') AS c")
    assert "error" in r, r  # nextval never ran — no block reserved
    client.query("DROP SEQUENCE r10gs")
    # empty enum: CREATE succeeds like DuckDB; casts error; DuckDB's
    # probed enum_first/enum_last answer for the empty enum is ''
    (r,) = client.query("CREATE TYPE r10empty AS ENUM ()")
    assert r.get("tag") == "CREATE TYPE", r
    (r,) = client.query("SELECT 'x'::r10empty AS m")
    assert "error" in r, r
    (r,) = client.query(
        "SELECT enum_first(NULL::r10empty) AS f, enum_last(NULL::r10empty) AS l"
    )
    assert r.get("rows") == [["", ""]], r
    (r,) = client.query("DROP TYPE r10empty")
    assert r.get("tag") == "DROP TYPE", r
    # fixture untouched by all of the above
    import duckdb as _dk

    rows = _dk.sql(
        "SELECT min(r_regionkey), max(r_regionkey), count(*) FROM "
        "read_parquet('/root/testdata/sf0.01/region.parquet')"
    ).fetchall()
    assert rows == [(0, 4, 5)], rows


def test_wire_random_select_fuzz_vs_duckdb(client, oracle):
    """Seeded random-SELECT net: generated queries over the fixture
    tables (projections of int/string expressions, predicates, GROUP
    BY aggregates, total-order ORDER BY + LIMIT) run through the full
    wire path and must value-match DuckDB running the identical SQL.
    The idiom probes (probe_compat) sweep known syntax; this sweeps
    COMPOSITIONS of them the probes never wrote down. Grammar is
    restricted to engine-exact expressions: integer arithmetic (no
    '/'), string slicing/case, count/sum/min/max — nothing
    float-accumulated, and every ORDER BY totals-orders the output."""
    import random

    from duckdb_pgwire_spark.server.typemap import encode_text

    TBL = {
        "nation": (["n_nationkey", "n_regionkey"], ["n_name"]),
        "region": (["r_regionkey"], ["r_name"]),
        "customer": (["c_custkey", "c_nationkey"], ["c_name", "c_mktsegment"]),
    }

    def gen_int_expr(rng, ints):
        c = rng.choice(ints)
        return rng.choice([
            c,
            f"{c} + {rng.randint(1, 9)}",
            f"{c} * {rng.randint(2, 5)}",
            f"{c} % {rng.randint(2, 7)}",
            f"-{c}",
            f"abs({c} - {rng.randint(0, 20)})",
            f"greatest({c}, {rng.randint(0, 10)})",
        ])

    def gen_str_expr(rng, strs):
        c = rng.choice(strs)
        return rng.choice([
            c,
            f"upper({c})",
            f"lower({c})",
            f"substr({c}, 1, {rng.randint(1, 5)})",
            f"length({c})",
            f"concat({c}, '_x')",
            f"reverse({c})",
        ])

    def gen_pred(rng, ints, strs):
        kind = rng.randint(0, 4)
        if kind == 0:
            return f"{gen_int_expr(rng, ints)} {rng.choice(['<', '<=', '>', '>=', '=', '<>'])} {rng.randint(0, 24)}"
        if kind == 1:
            c = rng.choice(strs)
            return f"{c} LIKE '{rng.choice('ABCDEFIMR')}%'"
        if kind == 2:
            return f"{rng.choice(ints)} IN ({', '.join(str(rng.randint(0, 24)) for _ in range(3))})"
        if kind == 3:
            return f"({gen_pred(rng, ints, strs)}) {rng.choice(['AND', 'OR'])} ({gen_pred(rng, ints, strs)})"
        return f"{rng.choice(strs)} IS NOT NULL"

    n_checked = 0
    for trial in range(76):
        rng = random.Random(42_000 + trial)
        tbl = rng.choice(list(TBL))
        ints, strs = TBL[tbl]
        if 52 <= trial < 64:
            # window shape: every OVER ordering is made total by a
            # unique key (n_name/c_name) so both engines agree rowwise
            tw = rng.choice(["nation", "customer"])
            pk, part, ik = (
                ("n_name", "n_regionkey", "n_nationkey")
                if tw == "nation"
                else ("c_name", "c_nationkey", "c_custkey")
            )
            wfn = rng.choice([
                f"row_number() OVER (PARTITION BY {part} ORDER BY {pk})",
                f"rank() OVER (ORDER BY {part}, {pk})",
                f"dense_rank() OVER (ORDER BY {part})",
                f"lag({ik}, 1) OVER (ORDER BY {pk})",
                f"lead({ik}, {rng.randint(1, 2)}, -1) OVER (ORDER BY {pk})",
                f"sum({ik}) OVER (PARTITION BY {part} ORDER BY {pk}"
                " ROWS BETWEEN 1 PRECEDING AND CURRENT ROW)",
                f"count(*) OVER (PARTITION BY {part})",
                f"first_value({pk}) OVER (PARTITION BY {part} ORDER BY {pk})",
            ])
            hi = 900 if tw == "customer" else 12
            sql = (
                f"SELECT {pk} AS k, {wfn} AS w FROM {tw}"
                + (
                    f" WHERE {ik} {rng.choice(['<', '>='])} {rng.randint(3, hi)}"
                    if rng.random() < 0.5
                    else ""
                )
                + " ORDER BY k"
            )
        elif 64 <= trial < 76:
            # composition shapes: CTE over an aggregate, scalar/IN/
            # EXISTS subqueries, UNION ALL, HAVING, DISTINCT
            shape = trial % 6
            if shape == 0:
                sql = (
                    "WITH t AS (SELECT n_regionkey AS g, COUNT(*) AS c,"
                    f" MIN(n_name) AS m FROM nation GROUP BY n_regionkey)"
                    f" SELECT g, c, upper(m) AS m FROM t WHERE c >"
                    f" {rng.randint(0, 5)} ORDER BY g"
                )
            elif shape == 1:
                sql = (
                    "SELECT n_name FROM nation WHERE n_regionkey ="
                    f" (SELECT MIN(r_regionkey) + {rng.randint(0, 4)}"
                    " FROM region) ORDER BY n_name"
                )
            elif shape == 2:
                sql = (
                    "SELECT n_name FROM nation WHERE n_regionkey IN"
                    " (SELECT r_regionkey FROM region WHERE r_name LIKE"
                    f" '{rng.choice('AEAM')}%') ORDER BY n_name"
                )
            elif shape == 3:
                sql = (
                    "SELECT upper(n_name) AS v FROM nation WHERE"
                    f" n_nationkey % {rng.randint(2, 5)} = 0"
                    " UNION ALL SELECT r_name FROM region ORDER BY v"
                )
            elif shape == 4:
                sql = (
                    "SELECT c_nationkey, COUNT(*) AS c FROM customer"
                    f" GROUP BY c_nationkey HAVING COUNT(*) >"
                    f" {rng.randint(1, 8)} ORDER BY c_nationkey"
                )
            else:
                sql = (
                    "SELECT DISTINCT"
                    f" substr(c_mktsegment, 1, {rng.randint(1, 4)}) AS s,"
                    " c_nationkey % 3 AS b FROM customer WHERE EXISTS"
                    " (SELECT 1 FROM nation WHERE n_nationkey ="
                    " c_nationkey AND n_regionkey <"
                    f" {rng.randint(1, 5)}) ORDER BY s, b"
                )
        elif trial >= 40:
            # join shape: nation⋈region (FK), grouped or projected
            on = "n.n_regionkey = r.r_regionkey"
            if rng.random() < 0.5:
                sql = (
                    "SELECT r.r_name, COUNT(*) AS cnt,"
                    f" SUM({gen_int_expr(rng, ['n.n_nationkey'])}) AS s1"
                    f" FROM nation n JOIN region r ON {on}"
                    + (
                        f" WHERE {gen_pred(rng, ['n.n_nationkey'], ['n.n_name'])}"
                        if rng.random() < 0.6
                        else ""
                    )
                    + " GROUP BY r.r_name ORDER BY r.r_name"
                )
            else:
                jk = rng.choice(["JOIN", "LEFT JOIN"])
                sql = (
                    "SELECT n.n_name AS e0, upper(r.r_name) AS e1"
                    f" FROM nation n {jk} region r ON {on}"
                    f" AND r.r_regionkey {rng.choice(['<', '<>', '>='])} {rng.randint(0, 4)}"
                    " ORDER BY e0, e1"
                )
        elif rng.random() < 0.45:
            # aggregate shape
            gcol = rng.choice(ints + strs)
            aggs = [
                "COUNT(*) AS cnt",
                f"SUM({gen_int_expr(rng, ints)}) AS s1",
                f"MIN({gen_str_expr(rng, strs)}) AS m1",
                f"MAX({gen_int_expr(rng, ints)}) AS m2",
            ][: rng.randint(2, 4)]
            sql = (
                f"SELECT {gcol}, {', '.join(aggs)} FROM {tbl}"
                + (f" WHERE {gen_pred(rng, ints, strs)}" if rng.random() < 0.6 else "")
                + f" GROUP BY {gcol} ORDER BY {gcol}"
            )
        else:
            cols = [
                f"{gen_int_expr(rng, ints)} AS e{i}" if rng.random() < 0.5
                else f"{gen_str_expr(rng, strs)} AS e{i}"
                for i in range(rng.randint(1, 4))
            ]
            names = ", ".join(f"e{i}" for i in range(len(cols)))
            sql = (
                f"SELECT {', '.join(cols)} FROM {tbl}"
                + (f" WHERE {gen_pred(rng, ints, strs)}" if rng.random() < 0.7 else "")
                + f" ORDER BY {names}"
                + (f" LIMIT {rng.randint(1, 40)}" if rng.random() < 0.5 else "")
            )
        want = [
            tuple(None if v is None else encode_text(v) for v in row)
            for row in oracle.execute(sql).fetchall()
        ]
        (res,) = client.query(sql)
        assert "error" not in res, (trial, sql, res)
        got = [tuple(r) for r in res["rows"]]
        assert got == [tuple(w) for w in want], (trial, sql, got[:5], want[:5])
        n_checked += 1
    assert n_checked == 76


def test_wire_random_dml_sequence_fuzz_vs_duckdb(client, spark):
    """Seeded random DML-SEQUENCE net: each trial creates a scratch
    table on both engines, then applies the same random run of
    INSERT VALUES / self-referencing INSERT..SELECT / expression
    UPDATE / DELETE statements, comparing the FULL table state after
    every statement. The census probes fixed DML shapes; this sweeps
    state-dependent compositions (an UPDATE over rows a prior
    INSERT..SELECT minted, a DELETE emptying what an UPDATE touched).
    Grammar is engine-exact: integer arithmetic, string concat/case —
    nothing float, nothing order-dependent."""
    import random

    import duckdb

    def gen_pred(rng):
        return rng.choice([
            f"v % {rng.randint(2, 5)} = 0",
            f"v {rng.choice(['<', '>', '<=', '>='])} {rng.randint(-20, 40)}",
            f"k % {rng.randint(2, 4)} = {rng.randint(0, 1)}",
            f"s LIKE '{rng.choice('abc')}%'",
            "v > 9999",  # zero-row edge
        ])

    def gen_stmt(rng, next_k):
        kind = rng.randint(0, 3)
        if kind == 0:
            rows = ", ".join(
                f"({next_k + i}, {rng.randint(-30, 30)},"
                f" '{rng.choice('abc')}{rng.randint(0, 9)}')"
                for i in range(rng.randint(1, 4))
            )
            return f"INSERT INTO dmlfz VALUES {rows}", next_k + 4
        if kind == 1:
            return (
                f"INSERT INTO dmlfz SELECT k + {rng.randint(100, 400)},"
                f" v {rng.choice(['+ 7', '* 2', '- v - 1'])},"
                f" concat(s, '_i') FROM dmlfz WHERE {gen_pred(rng)}",
                next_k,
            )
        if kind == 2:
            sets = rng.choice([
                f"v = v {rng.choice(['+ 3', '* -1', '% 5'])}",
                f"v = abs(v) + {rng.randint(0, 9)}, s = upper(s)",
                "s = concat(s, '_u')",
                f"s = substr(s, 1, {rng.randint(1, 2)})",
            ])
            return f"UPDATE dmlfz SET {sets} WHERE {gen_pred(rng)}", next_k
        return f"DELETE FROM dmlfz WHERE {gen_pred(rng)}", next_k

    for trial in range(5):
        rng = random.Random(9300 + trial)
        con = duckdb.connect()
        _fresh_wire_table(spark, "dmlfz")
        ddl = "CREATE TABLE dmlfz(k INT, v INT, s VARCHAR)"
        con.execute(ddl)
        (r,) = client.query(ddl)
        assert "error" not in r, (trial, r)
        seed = ", ".join(
            f"({i}, {rng.randint(-30, 30)}, '{rng.choice('abc')}{i}')"
            for i in range(rng.randint(3, 8))
        )
        stmts, next_k = [f"INSERT INTO dmlfz VALUES {seed}"], 50
        for _ in range(rng.randint(5, 8)):
            s, next_k = gen_stmt(rng, next_k)
            stmts.append(s)
        try:
            for si, s in enumerate(stmts):
                con.execute(s)
                (r,) = client.query(s)
                assert "error" not in r, (trial, si, s, r)
                want = con.execute(
                    "SELECT k, v, s FROM dmlfz ORDER BY k, v, s"
                ).fetchall()
                (r,) = client.query(
                    "SELECT k, v, s FROM dmlfz ORDER BY k, v, s"
                )
                got = [
                    (int(a), int(b), c) for a, b, c in r.get("rows", [])
                ]
                assert got == want, (trial, si, s, got[:8], want[:8])
        finally:
            con.close()
            client.query("DROP TABLE dmlfz")
            _fresh_wire_table(spark, "dmlfz")


def test_wire_composite_alias_reach_vs_duckdb(client, spark):
    """r13 (r12 VERDICT missing-item 2 narrowing): schema-typed
    composite ordering reaches implicit (no-AS) select-list aliases
    and multi-level derived-table/CTE chains — col-vs-col operands
    with NO constructor side, so only the schema leg can type them."""
    import duckdb

    _fresh_wire_table(spark, "coalias")
    ddl = "CREATE TABLE coalias(k INT, a INT[], b INT[])"
    seed = (
        "INSERT INTO coalias VALUES (1, [1,NULL], [1,2]), (2, [2], [1]),"
        " (3, NULL, [1]), (4, [1], [1,5])"
    )
    con = duckdb.connect()
    con.execute(ddl)
    con.execute(seed)
    for setup in (ddl, seed):
        (r,) = client.query(setup)
        assert "error" not in r, (setup, r)
    try:
        for q in (
            # implicit aliases, value position
            "SELECT k, (x < y) AS v FROM (SELECT k, a x, b y FROM"
            " coalias) t ORDER BY k",
            # two-level implicit chain
            "SELECT k, (p <= q) AS v FROM (SELECT k, x p, y q FROM"
            " (SELECT k, a x, b y FROM coalias) t1) t2 ORDER BY k",
            # mixed AS + implicit, filter spine
            "SELECT k FROM (SELECT k, a AS x, b y FROM coalias) t"
            " WHERE x < y ORDER BY k",
            # three-level CTE chain (explicit AS)
            "WITH c1 AS (SELECT k, a AS x, b AS y FROM coalias),"
            " c2 AS (SELECT k, x AS p, y AS q FROM c1)"
            " SELECT k, (p > q) AS v FROM c2 ORDER BY k",
        ):
            want = [
                tuple(str(c) if c is not None else None for c in row)
                for row in con.execute(q).fetchall()
            ]
            (r,) = client.query(q)
            assert "error" not in r, (q, r)
            got = [
                tuple(
                    {"t": "True", "f": "False"}.get(c, c) for c in row
                )
                for row in r["rows"]
            ]
            assert got == want, (q, got, want)
    finally:
        con.close()
        client.query("DROP TABLE coalias")
        _fresh_wire_table(spark, "coalias")


def test_wire_opaque_composite_typer_vs_duckdb(client, spark):
    """r13 (r12 VERDICT missing-item 2): opaque complex-carrying
    operand EXPRESSIONS — coalesce/if heads, slices, CASE results,
    and split() results with no complex catalog column at all — now
    type through the analysis-time prober (app._make_expr_typer:
    operand hoisted into the SELECT list, schema read, nothing
    executed) and take the duck 3VL/2VL forms."""
    import duckdb

    _fresh_wire_table(spark, "cotyper")
    ddl = "CREATE TABLE cotyper(k INT, a INT[], b INT[], s VARCHAR," \
        " t VARCHAR)"
    seed = (
        "INSERT INTO cotyper VALUES (1, [1,NULL], [1,2], '1,2', '1,3'),"
        " (2, [2], [1], 'b', 'a'), (3, NULL, [1], 'x', 'x'),"
        " (4, [1], [1,5], '2', '10')"
    )
    con = duckdb.connect()
    con.execute(ddl)
    con.execute(seed)
    for setup in (ddl, seed):
        (r,) = client.query(setup)
        assert "error" not in r, (setup, r)
    try:
        for q in (
            "SELECT k, (coalesce(a, b) < b) AS v FROM cotyper ORDER BY k",
            "SELECT k, (if(k > 2, a, b) < b) AS v FROM cotyper ORDER BY k",
            "SELECT k, (a[1:1] < b) AS v FROM cotyper ORDER BY k",
            "SELECT k, (string_split(s, ',') < string_split(t, ','))"
            " AS v FROM cotyper ORDER BY k",
            "SELECT k, ((CASE WHEN k > 2 THEN a ELSE b END) < b) AS v"
            " FROM cotyper ORDER BY k",
            "SELECT k FROM cotyper WHERE coalesce(a, b) < b ORDER BY k",
            "SELECT k, (coalesce(a, b) = b) AS v FROM cotyper ORDER BY k",
            "SELECT k, CASE WHEN coalesce(a, b) < b THEN 1 ELSE 0 END"
            " AS c FROM cotyper ORDER BY k",
        ):
            want = [
                tuple(str(c) if c is not None else None for c in row)
                for row in con.execute(q).fetchall()
            ]
            (r,) = client.query(q)
            assert "error" not in r, (q, r)
            got = [
                tuple(
                    {"t": "True", "f": "False"}.get(c, c) for c in row
                )
                for row in r["rows"]
            ]
            assert got == want, (q, got, want)
    finally:
        con.close()
        client.query("DROP TABLE cotyper")
        _fresh_wire_table(spark, "cotyper")


def test_wire_composite_ordering_dml_vs_duckdb(client, spark):
    """r13 (r12 VERDICT missing-item 1): composite ORDERING in DML —
    SET expressions are duck VALUE positions (3VL: ``SET flag =
    (a < b)`` assigns NULL on a NULL element pair), UPDATE/DELETE
    WHERE col-vs-col ordering is the 2VL NULLs-greatest filter order
    (DML takes the same schema-typed pass as SELECT,
    app._hugeint_sums), CASE-WHEN cond slots inside SET stay
    2VL. Mirrors the duck probe statement-for-statement on arrays
    AND structs."""
    import duckdb

    for ddl, seed in [
        (
            "CREATE TABLE codml(k INT, a INT[], b INT[], flag BOOLEAN)",
            "INSERT INTO codml VALUES (1, [1,NULL], [1,2], NULL),"
            " (2, [2], [1], NULL), (3, NULL, [1], NULL),"
            " (4, [1], [1,5], NULL)",
        ),
        (
            "CREATE TABLE codml(k INT, a STRUCT(x INT, y INT),"
            " b STRUCT(x INT, y INT), flag BOOLEAN)",
            "INSERT INTO codml VALUES (1, (1,NULL), (1,2), NULL),"
            " (2, (2,1), (1,9), NULL), (3, NULL, (1,1), NULL),"
            " (4, (1,1), (1,5), NULL)",
        ),
    ]:
        con = duckdb.connect()
        _fresh_wire_table(spark, "codml")
        for setup in (ddl, seed):
            con.execute(setup)
            (r,) = client.query(setup)
            assert "error" not in r, (setup, r)
        try:
            def state(tag):
                want = con.execute(
                    "SELECT k, flag FROM codml ORDER BY k"
                ).fetchall()
                (r,) = client.query("SELECT k, flag FROM codml ORDER BY k")
                assert "error" not in r, (tag, r)
                got = [
                    (int(k), None if f is None else f == "t")
                    for k, f in r["rows"]
                ]
                assert got == want, (tag, got, want)

            for s in (
                # value position: 3VL (row 1 NULL pair → NULL flag)
                "UPDATE codml SET flag = (a < b)",
                # cond slot inside SET: 2VL NULLs-greatest
                "UPDATE codml SET flag ="
                " CASE WHEN a <= b THEN true ELSE false END",
                # eq family in SET value positions (r13: _comp_body_span
                # now spans UPDATE from SET): composite eq, IN-subquery,
                # quantified — all 3VL like the probe matrix
                "UPDATE codml SET flag = (a = b)",
                # the assignment '=' itself must NOT be treated as a
                # comparison (second review r13: composite-value
                # assignment was garbled into a CASE)
                "UPDATE codml SET b = a WHERE k = 2",
                "UPDATE codml SET a = b, flag = (a = b) WHERE k = 3",
                # a CASE in an earlier assignment must not make the
                # NEXT assignment's '=' read as a comparison (third
                # review r13: the detector needed the CASE/END stack)
                "UPDATE codml SET flag = CASE WHEN k = 1 THEN true"
                " ELSE false END, b = a WHERE k = 4",
                "UPDATE codml SET flag = (k IN (SELECT NULL::INT))",
                "UPDATE codml SET flag = (k = ANY(SELECT NULL::INT))",
                # filter spine col-vs-col: 2VL (the schema-typed leg)
                "UPDATE codml SET flag = (a > b) WHERE a >= b",
                "DELETE FROM codml WHERE a >= b",
            ):
                con.execute(s)
                (r,) = client.query(s)
                assert "error" not in r, (s, r)
                state(s)
        finally:
            con.close()
            client.query("DROP TABLE codml")
            _fresh_wire_table(spark, "codml")


def test_wire_time_bucket_date_column_type(client, spark):
    """r13 (r12 VERDICT missing-item 3): time_bucket over a DATE
    COLUMN returns DATE in duck at every width (probed) — the marker
    handoff from _tpl_time_bucket to rewrite_time_bucket_date_cols
    restores the wire type for schema-resolved columns; TIMESTAMP
    columns keep TIMESTAMP (oid 1114 vs 1082)."""
    import duckdb

    _fresh_wire_table(spark, "tbdates")
    for setup in (
        "CREATE TABLE tbdates(d DATE, t TIMESTAMP)",
        "INSERT INTO tbdates VALUES (DATE '2024-03-15',"
        " TIMESTAMP '2024-03-15 12:37:45')",
    ):
        (r,) = client.query(setup)
        assert "error" not in r, (setup, r)
    con = duckdb.connect()
    con.execute("CREATE TABLE tbdates(d DATE, t TIMESTAMP)")
    con.execute(
        "INSERT INTO tbdates VALUES (DATE '2024-03-15',"
        " TIMESTAMP '2024-03-15 12:37:45')"
    )
    try:
        for width in ("'15' MINUTE", "'1' DAY", "'7' DAY", "'3' MONTH"):
            q = (
                f"SELECT time_bucket(INTERVAL {width}, d) AS bd,"
                f" time_bucket(INTERVAL {width}, t) AS bt FROM tbdates"
            )
            want = [str(v) for v in con.execute(q).fetchone()]
            (r,) = client.query(q)
            assert "error" not in r, (q, r)
            assert r["oids"] == [1082, 1114], (q, r["oids"])
            assert r["rows"] == [want], (q, r["rows"], want)
    finally:
        con.close()
        client.query("DROP TABLE tbdates")
        _fresh_wire_table(spark, "tbdates")


def test_wire_composite_ordering_merge_arms(client, spark):
    """r13: composite ordering inside MERGE arms (duck 1.1 has no
    MERGE, so expected values derive from the probed UPDATE matrix:
    arm predicates are condition-class 2VL NULLs-greatest, THEN UPDATE
    SET expressions are value-class 3VL). Target rows: k1 a=[1,NULL],
    k2 a=[2], k3 a=NULL, k4 a=[1]; source b: k1 [1,2], k2 [1],
    k3 [2], k4 [1,5]."""
    _fresh_wire_table(spark, "comrg")
    for setup in (
        "CREATE TABLE comrg(k INT, a INT[], flag BOOLEAN)",
        "INSERT INTO comrg VALUES (1, [1,NULL], NULL), (2, [2], NULL),"
        " (3, NULL, NULL), (4, [1], NULL)",
    ):
        (r,) = client.query(setup)
        assert "error" not in r, (setup, r)
    src = (
        "(SELECT * FROM (VALUES (1, [1,2]), (2, [1]), (3, [2]),"
        " (4, [1,5])) v(k, b)) s"
    )
    try:
        # arm predicate 2VL: only k4 has a < b under NULLs-greatest
        # (k1's NULL elem is GREATEST → a > b; k3 whole-NULL → unknown);
        # SET expr 3VL: [1] <= [1,5] → exhaustion → true
        (r,) = client.query(
            f"MERGE INTO comrg t USING {src} ON t.k = s.k"
            " WHEN MATCHED AND t.a < s.b THEN UPDATE SET"
            " flag = (t.a <= s.b)"
        )
        assert "error" not in r, r
        (r,) = client.query("SELECT k, flag FROM comrg ORDER BY k")
        assert r["rows"] == [
            ["1", None], ["2", None], ["3", None], ["4", "t"],
        ], r["rows"]
        # unconditioned arm, 3VL SET expr: k1 NULL pair → NULL,
        # k2 false, k3 whole-NULL → NULL, k4 true
        (r,) = client.query(
            f"MERGE INTO comrg t USING {src} ON t.k = s.k"
            " WHEN MATCHED THEN UPDATE SET flag = (t.a < s.b)"
        )
        assert "error" not in r, r
        (r,) = client.query("SELECT k, flag FROM comrg ORDER BY k")
        assert r["rows"] == [
            ["1", None], ["2", "f"], ["3", None], ["4", "t"],
        ], r["rows"]
    finally:
        client.query("DROP TABLE comrg")
        _fresh_wire_table(spark, "comrg")


def test_wire_random_composite_dml_fuzz_vs_duckdb(client, spark):
    """Seeded random DML net over NULL-bearing COMPOSITE columns (r12
    VERDICT item 3's 'randomized DML net'): scratch table with INT[]
    keys (NULL elements and NULL lists seeded deliberately), the same
    random run of composite-predicate UPDATE / DELETE / composite-
    assignment statements applied to both engines, full state compared
    after every statement. Exercises the r13 closures end-to-end:
    SET-expression 3VL (ordering + eq), WHERE-spine 2VL NULLs-greatest
    col-vs-col, assignment-'=' protection."""
    import random

    import duckdb

    def lit(rng):
        # weighted: NULL list, list with NULL element, plain lists
        r = rng.random()
        if r < 0.15:
            return "NULL"
        n = rng.randint(1, 3)
        elems = [
            "NULL" if rng.random() < 0.25 else str(rng.randint(1, 4))
            for _ in range(n)
        ]
        return "[" + ", ".join(elems) + "]"

    def pred(rng):
        op = rng.choice(["<", "<=", ">", ">=", "="])
        rhs = rng.choice(["b", lit(rng)])
        base = f"a {op} {rhs}"
        return rng.choice([base, f"NOT ({base})", f"({base}) IS NULL"])

    def gen_stmt(rng):
        kind = rng.randint(0, 4)
        if kind == 0:
            return (
                f"UPDATE cofz SET flag = (a"
                f" {rng.choice(['<', '<=', '>', '>=', '='])}"
                f" {rng.choice(['b', lit(rng)])})"
            )
        if kind == 1:
            return f"UPDATE cofz SET flag = (a = b) WHERE {pred(rng)}"
        if kind == 2:
            # composite ASSIGNMENT under a composite predicate
            return (
                f"UPDATE cofz SET a = {rng.choice(['b', lit(rng)])}"
                f" WHERE {pred(rng)}"
            )
        if kind == 3:
            return f"DELETE FROM cofz WHERE {pred(rng)}"
        return (
            f"UPDATE cofz SET flag = CASE WHEN {pred(rng)}"
            f" THEN true ELSE false END"
        )

    for trial in range(4):
        rng = random.Random(13370 + trial)
        con = duckdb.connect()
        _fresh_wire_table(spark, "cofz")
        ddl = "CREATE TABLE cofz(k INT, a INT[], b INT[], flag BOOLEAN)"
        con.execute(ddl)
        (r,) = client.query(ddl)
        assert "error" not in r, (trial, r)
        seed = ", ".join(
            f"({i}, {lit(rng)}, {lit(rng)}, NULL)" for i in range(6)
        )
        stmts = [f"INSERT INTO cofz VALUES {seed}"]
        stmts += [gen_stmt(rng) for _ in range(rng.randint(5, 8))]
        try:
            for si, s in enumerate(stmts):
                con.execute(s)
                (r,) = client.query(s)
                assert "error" not in r, (trial, si, s, r)
                want = [
                    (k, None if a is None else tuple(a),
                     None if b is None else tuple(b), f)
                    for k, a, b, f in con.execute(
                        "SELECT k, a, b, flag FROM cofz ORDER BY k"
                    ).fetchall()
                ]
                (r,) = client.query(
                    "SELECT k, a, b, flag FROM cofz ORDER BY k"
                )
                def parse_list(c):
                    if c is None:
                        return None
                    inner = c.strip()[1:-1].strip()
                    if not inner:
                        return ()
                    return tuple(
                        None if e.strip() == "NULL" else int(e)
                        for e in inner.split(",")
                    )
                got = [
                    (int(k),
                     parse_list(a), parse_list(b),
                     None if f is None else f == "t")
                    for k, a, b, f in r.get("rows", [])
                ]
                assert got == want, (trial, si, s, got[:6], want[:6])
        finally:
            con.close()
            client.query("DROP TABLE cofz")
            _fresh_wire_table(spark, "cofz")


def test_wire_dml_bool_coercion_vs_duckdb(client, spark):
    """duck coerces numerics/strings to BOOLEAN in DML WHERE tails and
    IF cond slots exactly like the SELECT path (r13 continuation —
    DML takes _hugeint_sums' column legs with the target as the
    typer scope). Same statement run on both engines, full state
    compared after each."""
    import duckdb

    con = duckdb.connect()
    _fresh_wire_table(spark, "bdml")
    ddl = "CREATE TABLE bdml(k INT, sv VARCHAR, n INT)"
    con.execute(ddl)
    (r,) = client.query(ddl)
    assert "error" not in r, r
    seed = (
        "INSERT INTO bdml VALUES (1,'true',-1),(2,'f',0),(3,'0',1),"
        "(4,'T',2),(5,NULL,NULL)"
    )
    stmts = [
        seed,
        "UPDATE bdml SET k = k + 100 WHERE sv",
        "UPDATE bdml SET k = k + 1000 WHERE n + 1",
        "UPDATE bdml SET n = if(n, 7, 8) WHERE n IS NOT NULL",
        "DELETE FROM bdml WHERE n - 7",
    ]
    try:
        for si, s in enumerate(stmts):
            con.execute(s)
            (r,) = client.query(s)
            assert "error" not in r, (si, s, r)
            want = con.execute(
                "SELECT k, sv, n FROM bdml ORDER BY k, sv, n"
            ).fetchall()
            (r,) = client.query(
                "SELECT k, sv, n FROM bdml ORDER BY k, sv, n"
            )
            got = [
                (
                    None if k is None else int(k),
                    sv,
                    None if n is None else int(n),
                )
                for k, sv, n in r.get("rows", [])
            ]
            assert got == [tuple(w) for w in want], (si, s, got, want)
    finally:
        con.close()
        client.query("DROP TABLE bdml")
        _fresh_wire_table(spark, "bdml")


def test_wire_enum_varchar_mixing_contexts(client, spark):
    """Late-r10 enum contexts, all DuckDB-probed: t.*-expanded subquery
    columns, simple-CASE operands vs string literals (non-member
    literal is FALSE, not an error), COALESCE/NULLIF/GREATEST mixing
    enum with varchar (result is VARCHAR carrying the label), and
    THEN/ELSE branch mixes. The all-enum simple CASE keeps the native
    struct compare (declaration-order) — the rewrite must NOT fire."""
    client.query("DROP TABLE IF EXISTS zmood")
    (r,) = client.query("CREATE TYPE zmoodt AS ENUM ('sad', 'ok', 'happy')")
    assert "error" not in r, r
    (r,) = client.query(
        "CREATE TABLE zmood AS SELECT m FROM (SELECT 'happy'::zmoodt AS m"
        " UNION ALL SELECT 'sad'::zmoodt UNION ALL SELECT 'ok'::zmoodt) t")
    assert "error" not in r, r
    try:
        for sql, want in [
            ("SELECT m FROM (SELECT t.* FROM zmood t) s WHERE m = 'ok'",
             [["ok"]]),
            ("SELECT upper(m) AS u FROM (SELECT t.* FROM zmood t) s"
             " WHERE m <> 'ok' ORDER BY u", [["HAPPY"], ["SAD"]]),
            ("SELECT CASE m WHEN 'ok' THEN 1 ELSE 0 END AS c FROM zmood"
             " ORDER BY c", [["0"], ["0"], ["1"]]),
            # non-member literal: false branch, NOT an error (probed)
            ("SELECT CASE m WHEN 'zz' THEN 1 ELSE 0 END AS c FROM zmood"
             " ORDER BY c", [["0"], ["0"], ["0"]]),
            ("SELECT CASE m WHEN 'ok' THEN 1 WHEN 'sad' THEN 2 ELSE 0 END"
             " AS c FROM zmood ORDER BY c", [["0"], ["1"], ["2"]]),
            ("SELECT coalesce(m, 'none') AS c FROM zmood ORDER BY c",
             [["happy"], ["ok"], ["sad"]]),
            ("SELECT nullif(m, 'ok') AS c FROM zmood ORDER BY c",
             [["happy"], ["sad"], [None]]),
            ("SELECT greatest(m, 'sad') AS c FROM zmood ORDER BY c",
             [["sad"], ["sad"], ["sad"]]),
            ("SELECT least(m, 'pp') AS c FROM zmood ORDER BY c",
             [["happy"], ["ok"], ["pp"]]),
            ("SELECT CASE WHEN m = 'ok' THEN m ELSE 'X' END AS c"
             " FROM zmood ORDER BY c", [["X"], ["X"], ["ok"]]),
            # all-enum simple CASE: native declaration-order compare
            ("SELECT CASE m WHEN 'ok'::zmoodt THEN 1 ELSE 0 END AS c"
             " FROM zmood ORDER BY c", [["0"], ["0"], ["1"]]),
            # nested CASE: inner literal branches must not leak into
            # the outer all-enum operand scope
            ("SELECT CASE WHEN m = 'ok' THEN upper(m)"
             " ELSE CASE m WHEN 'sad' THEN 'S' ELSE 'H' END END AS c"
             " FROM zmood ORDER BY c", [["H"], ["OK"], ["S"]]),
        ]:
            (r,) = client.query(sql)
            assert "error" not in r, (sql, r)
            assert r["rows"] == want, (sql, r["rows"], want)
    finally:
        client.query("DROP TABLE zmood")
        client.query("DROP TYPE zmoodt")

def test_wire_default_null_sort_order(client, oracle):
    """DuckDB's default_null_order is nulls_last in BOTH directions;
    Spark's ASC default is NULLS FIRST (late-r10 find: the census
    never ordered by a nullable key). The rewrite appends NULLS LAST
    to ascending keys — top-level, subquery, window OVER, WITHIN
    GROUP — and must leave explicit NULLS FIRST/LAST and DESC alone.
    Every expectation is value-compared against DuckDB live."""
    for sql in [
        "SELECT c FROM (VALUES (1), (NULL), (2)) t(c) ORDER BY c",
        "SELECT c FROM (VALUES (1), (NULL), (2)) t(c) ORDER BY c DESC",
        "SELECT c FROM (VALUES (1), (NULL), (2)) t(c) ORDER BY c ASC",
        "SELECT c FROM (VALUES (1), (NULL), (2)) t(c)"
        " ORDER BY c NULLS FIRST",
        "SELECT c FROM (VALUES (1), (NULL), (2)) t(c)"
        " ORDER BY c DESC NULLS FIRST",
        "SELECT nullif(v, 1) AS c FROM (VALUES (1), (3)) t(v) ORDER BY c",
        # two keys, mixed directions, first key nullable
        "SELECT a, b FROM (VALUES (NULL, 1), (1, 2), (NULL, 3), (2, 4))"
        " t(a, b) ORDER BY a, b DESC",
        # window ORDER BY over a nullable key: rank assignment moves
        "SELECT b, row_number() OVER (ORDER BY a) AS rn FROM"
        " (VALUES (NULL, 1), (5, 2), (NULL, 3), (2, 4)) t(a, b)"
        " ORDER BY b",
        "SELECT b, rank() OVER (ORDER BY a DESC) AS rn FROM"
        " (VALUES (NULL, 1), (5, 2), (2, 4)) t(a, b) ORDER BY b",
        # ORDER BY inside an aggregate (WITHIN GROUP path)
        "SELECT string_agg(b, ',' ORDER BY a) AS s FROM"
        " (VALUES (NULL, 'x'), (2, 'y'), (1, 'z')) t(a, b)",
        # LIMIT after the sort spec still parses
        "SELECT c FROM (VALUES (1), (NULL), (2)) t(c) ORDER BY c LIMIT 2",
        # frame after a window sort spec still parses
        "SELECT b, sum(b) OVER (ORDER BY a ROWS BETWEEN 1 PRECEDING AND"
        " CURRENT ROW) AS s FROM (VALUES (NULL, 1), (2, 4), (1, 2))"
        " t(a, b) ORDER BY b",
    ]:
        want = [
            tuple(None if v is None else str(v) for v in row)
            for row in oracle.execute(sql).fetchall()
        ]
        (r,) = client.query(sql)
        assert "error" not in r, (sql, r)
        got = [tuple(x) for x in r["rows"]]
        assert got == want, (sql, got, want)


def test_wire_create_table_orphaned_warehouse_dir(client, spark):
    """r17 (VERDICT item 1): a stale managed `spark-warehouse/<table>`
    dir left by a killed process must not make wire CREATE TABLE raise
    LOCATION_ALREADY_EXISTS on a table the catalog doesn't know — the
    reference's Go client CREATEs unconditionally on a fresh catalog
    (client/go/cmd/simple/main.go:23) and never sees that failure."""
    import os
    from urllib.parse import urlparse

    spark.sql("DROP TABLE IF EXISTS orphan_tgt")
    wh = spark.conf.get("spark.sql.warehouse.dir")
    u = urlparse(wh)
    loc = os.path.join(u.path or wh, "orphan_tgt")
    os.makedirs(loc, exist_ok=True)
    with open(os.path.join(loc, "part-stale.parquet"), "wb") as fh:
        fh.write(b"stale")
    try:
        (res,) = client.query("CREATE TABLE orphan_tgt(a bigint)")
        assert "error" not in res, res
        (res,) = client.query("INSERT INTO orphan_tgt VALUES (1), (2)")
        assert "error" not in res, res
        (back,) = client.query("SELECT count(*) AS n FROM orphan_tgt")
        assert back["rows"] == [["2"]]
    finally:
        client.query("DROP TABLE IF EXISTS orphan_tgt")


def test_wire_update_f32_per_op_narrowing(client, oracle, spark):
    """r17 (VERDICT item 2 residue): duck evaluates UPDATE SET chains
    PER-OP in FLOAT (probed: the stored value is f32(f32(f*2)+f32(g*3)),
    which differs from narrow-once-at-store in the last ulp) and
    UPDATE/DELETE predicates with FLOAT comparison promotion (duck's
    `WHERE f * 3 = 0.3` matches f=0.1). Predicates narrow in
    _hugeint_sums, SET chains in f32_fix_assignments."""
    _fresh_wire_table(spark, "f32dml")
    stmts = [
        "CREATE TABLE f32dml(id int, x float, f float, g float)",
        "INSERT INTO f32dml VALUES"
        " (1, 0, CAST(0.1 AS FLOAT), CAST(0.3 AS FLOAT)),"
        " (2, 0, CAST(-7.31271505355835 AS FLOAT),"
        "  CAST(6.94867467880249 AS FLOAT)),"
        " (3, 0, CAST(16777215 AS FLOAT), CAST(0.15 AS FLOAT))",
        # multi-op SET chain: per-op f32, separating values on row 2
        "UPDATE f32dml SET x = f * 2 + g * 3",
        # boundary predicate: matches ONLY under f32 promotion
        "UPDATE f32dml SET x = x + 100 WHERE f * 3 = 0.3",
        "DELETE FROM f32dml WHERE g * 2 = 0.3",
    ]
    try:
        for s in stmts:
            oracle.execute(s)
            (r,) = client.query(s)
            assert "error" not in r, (s, r)
        want = [
            (row[0], float(row[1]))
            for row in oracle.execute(
                "SELECT id, CAST(x AS DOUBLE) AS x FROM f32dml ORDER BY id"
            ).fetchall()
        ]
        (res,) = client.query(
            "SELECT id, CAST(x AS DOUBLE) AS x FROM f32dml ORDER BY id"
        )
        assert "error" not in res, res
        got = [(int(r[0]), float(r[1])) for r in res["rows"]]
        assert got == want, (got, want)
    finally:
        client.query("DROP TABLE IF EXISTS f32dml")


def test_wire_merge_f32_per_op_narrowing(client, oracle, spark):
    """r17: MERGE UPDATE/INSERT arm expressions compute per-op in
    FLOAT in duck, and the ON condition promotes f32 arithmetic like
    any comparison — same legs as plain UPDATE (merge_kinds from the
    target schema + analyzed source schema)."""
    _fresh_wire_table(spark, "f32mt")
    _fresh_wire_table(spark, "f32ms")
    stmts = [
        "CREATE TABLE f32mt(id int, x float, f float)",
        "CREATE TABLE f32ms(id int, g float)",
        "INSERT INTO f32mt VALUES"
        " (1, 0, CAST(0.1 AS FLOAT)),"
        " (2, 0, CAST(-7.31271505355835 AS FLOAT))",
        "INSERT INTO f32ms VALUES"
        " (1, CAST(0.3 AS FLOAT)), (2, CAST(6.94867467880249 AS FLOAT)),"
        " (3, CAST(0.15 AS FLOAT))",
    ]
    # duckdb 1.0 has no MERGE; the oracle runs the semantic equivalent
    merge = (
        "MERGE INTO f32mt t USING f32ms s ON t.id = s.id"
        " WHEN MATCHED THEN UPDATE SET x = t.f * 2 + s.g * 3"
        " WHEN NOT MATCHED THEN INSERT (id, x, f)"
        " VALUES (s.id, s.g * 2 + 1, s.g)"
    )
    oracle_equiv = [
        "UPDATE f32mt SET x = f32mt.f * 2 + s.g * 3"
        " FROM f32ms s WHERE f32mt.id = s.id",
        "INSERT INTO f32mt SELECT s.id, s.g * 2 + 1, s.g FROM f32ms s"
        " WHERE s.id NOT IN (SELECT id FROM f32mt)",
    ]
    try:
        for st in stmts:
            oracle.execute(st)
            (r,) = client.query(st)
            assert "error" not in r, (st, r)
        for st in oracle_equiv:
            oracle.execute(st)
        (r,) = client.query(merge)
        assert "error" not in r, (merge, r)
        q = "SELECT id, CAST(x AS DOUBLE) AS x FROM f32mt ORDER BY id"
        want = [(row[0], float(row[1])) for row in oracle.execute(q).fetchall()]
        (res,) = client.query(q)
        assert "error" not in res, res
        got = [(int(r[0]), float(r[1])) for r in res["rows"]]
        assert got == want, (got, want)
    finally:
        client.query("DROP TABLE IF EXISTS f32mt")
        client.query("DROP TABLE IF EXISTS f32ms")


def test_wire_insert_select_f32_narrowing(client, oracle, spark):
    """r17: INSERT … SELECT sources compute f32 select items per-op in
    duck — both the plain fall-through and the staged RETURNING / ON
    CONFLICT path (one _hugeint_sums pass each) must narrow them."""
    _fresh_wire_table(spark, "f32src")
    _fresh_wire_table(spark, "f32dst")
    stmts = [
        "CREATE TABLE f32src(id int, f float)",
        "CREATE TABLE f32dst(id int, v float)",
        "INSERT INTO f32src VALUES (1, CAST(0.1 AS FLOAT)),"
        " (2, CAST(-7.31271505355835 AS FLOAT))",
        # plain fall-through
        "INSERT INTO f32dst SELECT id, f * 3 FROM f32src",
    ]
    try:
        for s in stmts:
            oracle.execute(s)
            (r,) = client.query(s)
            assert "error" not in r, (s, r)
        # staged path (RETURNING)
        s = ("INSERT INTO f32dst SELECT id + 10, f * 7 FROM f32src"
             " RETURNING id")
        oracle.execute(s.replace(" RETURNING id", ""))
        (r,) = client.query(s)
        assert "error" not in r, (s, r)
        # staged path with NO comparison token and a MULTI-OP chain —
        # an f32 leg gated behind the comparison check stored
        # narrow-once instead of duck's per-op value
        s = ("INSERT INTO f32dst SELECT id + 20, f * 2 + f * 3"
             " FROM f32src RETURNING id")
        oracle.execute(s.replace(" RETURNING id", ""))
        (r,) = client.query(s)
        assert "error" not in r, (s, r)
        q = "SELECT id, CAST(v AS DOUBLE) AS v FROM f32dst ORDER BY id"
        want = [(row[0], float(row[1])) for row in oracle.execute(q).fetchall()]
        (res,) = client.query(q)
        got = [(int(r[0]), float(r[1])) for r in res["rows"]]
        assert got == want, (got, want)
    finally:
        client.query("DROP TABLE IF EXISTS f32src")
        client.query("DROP TABLE IF EXISTS f32dst")


def test_clean_orphan_location_guards(spark, tmp_path):
    """r17 review: the orphan-warehouse pre-clean must never touch (a)
    catalog-qualified targets (the derived path points into
    spark_catalog's warehouse while tableExists checked ANOTHER
    catalog) or (b) a db-qualified name the LOCAL catalog knows."""
    import os
    from urllib.parse import urlparse

    from duckdb_pgwire_spark.server.app import _clean_orphan_location

    wh = spark.conf.get("spark.sql.warehouse.dir")
    u = urlparse(wh)
    base = u.path or wh
    # (a) catalog-qualified: a same-named dir in the default warehouse
    # must survive
    loc = os.path.join(base, "guard_t")
    os.makedirs(loc, exist_ok=True)
    marker = os.path.join(loc, "live.parquet")
    with open(marker, "wb") as fh:
        fh.write(b"live")
    try:
        _clean_orphan_location(spark, "othercat.default.guard_t")
        assert os.path.exists(marker), "catalog-qualified clean touched spark_catalog data"
        # (b) unqualified orphan IS cleaned (the designed behavior)
        spark.sql("DROP TABLE IF EXISTS guard_t")
        _clean_orphan_location(spark, "guard_t")
        assert not os.path.exists(loc)
    finally:
        import shutil

        shutil.rmtree(loc, ignore_errors=True)


# ------------------------------------- one-write rewrite-on-write, streaming


def _table_dir(spark, name):
    """The local directory of a catalog table's location."""
    from urllib.parse import urlparse

    state = spark._jsparkSession.sessionState()
    meta = state.catalog().getTableMetadata(
        state.sqlParser().parseTableIdentifier(name)
    )
    return urlparse(meta.location().toString()).path


def _data_files(path):
    """name → size of the files Spark reads in a table directory."""
    import os

    return {
        n: os.path.getsize(os.path.join(path, n))
        for n in os.listdir(path)
        if not n.startswith(("_", "."))
    }


def _stage_leftovers(spark, path):
    import os

    return [n for n in os.listdir(path) if n.startswith("_dml_stage")] + [
        t.name for t in spark.catalog.listTables() if t.name.startswith("__dml_stage")
    ]


def test_wire_update_counts_pre_image_matches(client, spark):
    """The WHERE of an UPDATE is evaluated on the old row: a SET that
    moves every matched row out of the predicate still reports them."""
    _fresh_wire_table(spark, "pre_img")
    client.query("CREATE TABLE pre_img(x int)")
    client.query("INSERT INTO pre_img VALUES (1), (2), (3), (4), (5), (6), (NULL)")
    (r,) = client.query("UPDATE pre_img SET x = x + 10 WHERE x < 5")
    assert r["tag"] == "UPDATE 4", r
    (r,) = client.query("SELECT x FROM pre_img ORDER BY x NULLS LAST")
    assert r["rows"] == [["5"], ["6"], ["11"], ["12"], ["13"], ["14"], [None]]
    _fresh_wire_table(spark, "pre_img")


@pytest.mark.parametrize(
    "set_expr",
    ["raise_error('no update')", "CAST(x AS BIGINT) * 10000000000"],
    ids=["raise_error", "cast_overflow"],
)
def test_wire_failed_update_leaves_table_untouched(client, spark, set_expr):
    """An UPDATE whose SET fails at runtime leaves the table's rows and
    data files as they were, and no staging directory or table."""
    _fresh_wire_table(spark, "upd_fail")
    client.query("CREATE TABLE upd_fail(x int)")
    client.query("INSERT INTO upd_fail VALUES (1), (2), (3)")
    loc = _table_dir(spark, "upd_fail")
    before = _data_files(loc)
    (r,) = client.query(f"UPDATE upd_fail SET x = {set_expr} WHERE x = 2")
    assert "error" in r, r
    assert _data_files(loc) == before
    assert _stage_leftovers(spark, loc) == []
    (r,) = client.query("SELECT x FROM upd_fail ORDER BY x")
    assert r["rows"] == [["1"], ["2"], ["3"]], r
    _fresh_wire_table(spark, "upd_fail")


def test_wire_external_table_keeps_location_after_update_delete(
    client, spark, tmp_path
):
    """UPDATE and DELETE on an external table replace its data files in
    the LOCATION the user declared; the table stays external there."""
    import os

    loc = os.path.realpath(tmp_path / "ext_loc")
    _fresh_wire_table(spark, "ext_upd")
    (r,) = client.query(
        f"CREATE TABLE ext_upd(k int, v varchar) USING parquet LOCATION '{loc}'"
    )
    assert "error" not in r, r
    client.query("INSERT INTO ext_upd VALUES (1, 'a'), (2, 'b'), (3, 'c')")
    seen = set(_data_files(loc))
    for sql, tag in (
        ("UPDATE ext_upd SET v = upper(v) WHERE k >= 2", "UPDATE 2"),
        ("DELETE FROM ext_upd WHERE k = 1", "DELETE 1"),
    ):
        (r,) = client.query(sql)
        assert r.get("tag") == tag, r
        assert os.path.realpath(_table_dir(spark, "ext_upd")) == loc
        files = set(_data_files(loc))
        assert files and not files & seen, (files, seen)
        seen |= files
    assert spark.catalog.getTable("ext_upd").tableType == "EXTERNAL"
    assert _stage_leftovers(spark, loc) == []
    (r,) = client.query("SELECT k, v FROM ext_upd ORDER BY k")
    assert r["rows"] == [["2", "B"], ["3", "C"]], r
    client.query("DROP TABLE ext_upd")


def test_wire_drop_recreate_managed_table_after_update(client, spark):
    """A managed table keeps its warehouse directory through an UPDATE;
    DROP removes that directory whole and the name can be created
    again."""
    import os

    _fresh_wire_table(spark, "mgd_cycle")
    client.query("CREATE TABLE mgd_cycle(k int)")
    client.query("INSERT INTO mgd_cycle VALUES (1), (2)")
    loc = _table_dir(spark, "mgd_cycle")
    (r,) = client.query("UPDATE mgd_cycle SET k = k * 10 WHERE k = 2")
    assert r["tag"] == "UPDATE 1", r
    assert _table_dir(spark, "mgd_cycle") == loc
    assert spark.catalog.getTable("mgd_cycle").tableType == "MANAGED"
    (r,) = client.query("DROP TABLE mgd_cycle")
    assert "error" not in r, r
    assert not os.path.exists(loc)
    (r,) = client.query("CREATE TABLE mgd_cycle(k int)")
    assert "error" not in r, r
    (r,) = client.query("SELECT count(*) FROM mgd_cycle")
    assert r["rows"] == [["0"]], r
    client.query("DROP TABLE mgd_cycle")


def test_wire_writes_start_one_spark_job(client, spark):
    """Under the connection's job tag, UPDATE … WHERE and DELETE … WHERE
    each start exactly one Spark job (the write, which also counts the
    matched rows), and COPY FROM STDIN counts its rows in its write."""
    tracker = spark.sparkContext._jsc.sc().statusTracker()
    tag = f"pgwire-conn-{client.backend_key[1]}"

    def jobs(run):
        before = set(tracker.getJobIdsForTag(tag))
        results = run()
        assert not any("error" in r for r in results), results
        return len(set(tracker.getJobIdsForTag(tag)) - before)

    _fresh_wire_table(spark, "one_job")
    client.query("CREATE TABLE one_job AS SELECT o_orderkey, o_totalprice FROM orders")
    assert jobs(lambda: client.query(
        "UPDATE one_job SET o_totalprice = o_totalprice + 1 WHERE o_orderkey < 100"
    )) == 1
    assert jobs(lambda: client.query("DELETE FROM one_job WHERE o_orderkey < 50")) == 1
    rows = "".join(f"{90_000_000 + i}\t{i}.5\n" for i in range(200)).encode()
    assert jobs(lambda: client.copy_in("COPY one_job FROM STDIN", rows)) <= 2
    (r,) = client.query("SELECT count(*) FROM one_job WHERE o_orderkey >= 90000000")
    assert r["rows"] == [["200"]], r
    _fresh_wire_table(spark, "one_job")


def test_wire_dml_leaves_no_staging_dirs(client, spark):
    """UPDATE, DELETE, MERGE and INSERT … RETURNING add no entry under
    the temporary directory that the snapshot janitor does not bound,
    and leave no staging directory in the table's location."""
    import os
    import tempfile

    from duckdb_pgwire_spark.operators import dml

    _fresh_wire_table(spark, "leak_t")
    client.query("CREATE TABLE leak_t(id int, v int)")
    client.query("INSERT INTO leak_t VALUES (1, 1), (2, 2)")
    tmp = tempfile.gettempdir()
    before = set(os.listdir(tmp))
    for sql in (
        "UPDATE leak_t SET v = v + 1 WHERE id = 1",
        "DELETE FROM leak_t WHERE id = 2",
        "MERGE INTO leak_t t USING (SELECT 3 AS id, 3 AS v) s ON t.id = s.id "
        "WHEN NOT MATCHED THEN INSERT VALUES (s.id, s.v)",
        "INSERT INTO leak_t VALUES (4, 4) RETURNING id",
    ):
        (r,) = client.query(sql)
        assert "error" not in r, (sql, r)
    new = {os.path.join(tmp, n) for n in set(os.listdir(tmp)) - before}
    assert new <= set(dml._SNAPSHOT_DIRS), new - set(dml._SNAPSHOT_DIRS)
    assert len(dml._SNAPSHOT_DIRS) <= dml._JANITOR_KEEP
    assert _stage_leftovers(spark, _table_dir(spark, "leak_t")) == []
    (r,) = client.query("SELECT id, v FROM leak_t ORDER BY id")
    assert r["rows"] == [["1", "2"], ["3", "3"], ["4", "4"]], r
    _fresh_wire_table(spark, "leak_t")


def _simple_query_messages(client, sql):
    client._send_msg(b"Q", sql.encode() + b"\x00")
    out = []
    while True:
        mtag, body = client._read_msg()
        out.append((mtag, body))
        if mtag == b"Z":
            return out


def test_wire_spark_commands_answer_only_command_complete(client, spark):
    """A command Spark runs itself answers CommandComplete, then
    ReadyForQuery, with no RowDescription before it (PostgreSQL)."""
    _fresh_wire_table(spark, "cc_only")
    for sql, tag in (
        ("CREATE TABLE cc_only(k int)", b"CREATE TABLE"),
        ("INSERT INTO cc_only VALUES (1), (2)", b"INSERT 0 2"),
        ("DROP TABLE cc_only", b"DROP TABLE"),
    ):
        msgs = _simple_query_messages(client, sql)
        assert [t for t, _ in msgs] == [b"C", b"Z"], (sql, msgs)
        assert msgs[0][1] == tag + b"\x00", msgs


def test_wire_command_tag_skips_modifiers(client):
    """OR REPLACE, TEMP/TEMPORARY and GLOBAL/LOCAL are not part of the
    tag: CREATE OR REPLACE TEMP VIEW answers CREATE VIEW on both
    protocols."""
    from duckdb_pgwire_spark.server.app import _command_tag

    (r,) = client.query("CREATE OR REPLACE TEMP VIEW tag_v AS SELECT 1 AS one")
    assert r.get("tag") == "CREATE VIEW", r
    r = client.extended_query(
        "CREATE OR REPLACE TEMPORARY VIEW tag_v AS SELECT 2 AS two"
    )
    assert r.get("tag") == "CREATE VIEW", r
    (r,) = client.query("SELECT * FROM tag_v")
    assert r["rows"] == [["2"]], r
    assert _command_tag("CREATE GLOBAL TEMPORARY VIEW g AS SELECT 1", 0) == "CREATE VIEW"
    assert _command_tag("CREATE TABLE t AS SELECT true OR false", 0) == "CREATE TABLE"
    client.query("DROP VIEW tag_v")


def test_wire_streamed_result_error_is_not_a_short_result(client):
    """A result too large to collect streams from a served socket; a
    partition that fails mid-stream ends the statement with its error,
    not with a shorter result."""
    (r,) = client.query(
        "SELECT CASE WHEN o_orderkey = (SELECT max(o_orderkey) FROM orders) "
        "THEN raise_error('late row') ELSE o_orderkey END AS k FROM orders"
    )
    assert "late row" in r.get("error", ""), r


def test_wire_dropped_portal_closes_its_stream(wire_server, monkeypatch):
    """Closing a suspended portal, or dropping its connection, closes the
    socket its rows stream from."""
    import time

    from duckdb_pgwire_spark.server import app

    closed = []
    orig = app._ServedRows.close

    def close(self):
        closed.append(self)
        orig(self)

    monkeypatch.setattr(app._ServedRows, "close", close)
    sql = b"SELECT o_orderkey FROM orders"
    for drop in ("close", "disconnect"):
        c = _pgwire_client_module().PgClient(port=wire_server)
        closed.clear()
        c._send_msg(b"P", b"\x00" + sql + b"\x00" + struct.pack("!H", 0))
        c._send_msg(b"B", b"\x00\x00" + struct.pack("!HHH", 0, 0, 0))
        c._send_msg(b"E", b"\x00" + struct.pack("!i", 10))
        c._send_msg(b"H", b"")
        events = []
        while not events or events[-1] != b"s":
            events.append(c._read_msg()[0])
        assert events == [b"1", b"2"] + [b"D"] * 10 + [b"s"], events
        if drop == "close":
            c._send_msg(b"C", b"P\x00")
            c._send_msg(b"S", b"")
            msgs = []
            while not msgs or msgs[-1] != b"Z":
                msgs.append(c._read_msg()[0])
            assert msgs == [b"3", b"Z"], msgs
            assert len(closed) == 1
            c.close()
        else:
            c.close()
            deadline = time.monotonic() + 10
            while not closed and time.monotonic() < deadline:
                time.sleep(0.05)
            assert len(closed) == 1


def test_wire_update_partitioned_table_moves_rows_between_partitions(client, spark):
    """An UPDATE of a partition column moves rows into partitions the
    table did not have: the catalog's partition list follows the swap."""
    _fresh_wire_table(spark, "part_upd")
    (r,) = client.query(
        "CREATE TABLE part_upd(id int, p int) USING parquet PARTITIONED BY (p)"
    )
    assert "error" not in r, r
    client.query("INSERT INTO part_upd VALUES (1, 1), (2, 2), (3, 2)")
    (r,) = client.query("UPDATE part_upd SET p = p + 10 WHERE id >= 2")
    assert r["tag"] == "UPDATE 2", r
    (r,) = client.query("SELECT id, p FROM part_upd ORDER BY id")
    assert r["rows"] == [["1", "1"], ["2", "12"], ["3", "12"]], r
    parts = sorted(x.partition for x in spark.sql("SHOW PARTITIONS part_upd").collect())
    assert parts == ["p=1", "p=12"], parts
    _fresh_wire_table(spark, "part_upd")


def _dml_state_vs_duckdb(client, con, stmts, select):
    """Run each statement on DuckDB and over the wire; after each,
    compare ``select`` (one text-rendered row list) on both sides."""
    for s in stmts:
        con.execute(s)
        (r,) = client.query(s)
        assert "error" not in r, (s, r)
        want = [
            [None if v is None else str(v) for v in row]
            for row in con.execute(select).fetchall()
        ]
        (r,) = client.query(select)
        assert r.get("rows") == want, (s, r, want)


def test_wire_dml_array_length_vs_duckdb(client, spark):
    """DML takes the same schema-typed pass as SELECT: ``len(arr)`` on
    an INT[] column becomes ``size(arr)`` in UPDATE SET values and
    DELETE predicates too (Spark's length() rejects arrays)."""
    import duckdb

    con = duckdb.connect()
    _fresh_wire_table(spark, "dml_len")
    try:
        _dml_state_vs_duckdb(
            client,
            con,
            [
                "CREATE TABLE dml_len(k INT, arr INT[])",
                "INSERT INTO dml_len VALUES (1, [1,2,3]), (2, [1]),"
                " (3, NULL), (4, [4,5,6,7])",
                "UPDATE dml_len SET k = len(arr) WHERE k > 1",
                "DELETE FROM dml_len WHERE len(arr) > 2",
            ],
            "SELECT k, len(arr) AS n FROM dml_len ORDER BY k NULLS LAST, n",
        )
    finally:
        con.close()
        client.query("DROP TABLE IF EXISTS dml_len")


def test_wire_enum_column_dml_vs_duckdb(client, spark):
    """UPDATE/DELETE on an enum column: the SET target stays a column
    (the enum leg skips the assignment '='), the predicate compares
    labels, a bare literal assigned to the column is validated — an
    invalid member refuses with 22P02 like DuckDB's conversion error."""
    import duckdb

    con = duckdb.connect()
    _fresh_wire_table(spark, "dml_em")
    ddl = "CREATE TYPE dml_mood AS ENUM ('sad', 'ok', 'happy')"
    con.execute(ddl)
    (r,) = client.query(ddl)
    assert "error" not in r, r
    try:
        _dml_state_vs_duckdb(
            client,
            con,
            [
                "CREATE TABLE dml_em(k INT, m dml_mood)",
                "INSERT INTO dml_em VALUES (1, 'happy'), (2, 'ok'),"
                " (3, 'sad'), (4, 'happy')",
                "UPDATE dml_em SET m = 'sad' WHERE m = 'happy'",
                "DELETE FROM dml_em WHERE m = 'ok'",
            ],
            "SELECT k, CAST(m AS VARCHAR) AS m FROM dml_em ORDER BY k",
        )
        (r,) = client.query("UPDATE dml_em SET m = 'x' WHERE k = 1")
        assert r.get("sqlstate") == "22P02", r
        (r,) = client.query("SELECT CAST(m AS VARCHAR) AS m FROM dml_em WHERE k = 1")
        assert r["rows"] == [["sad"]], r
    finally:
        con.close()
        client.query("DROP TABLE IF EXISTS dml_em")
        client.query("DROP TYPE IF EXISTS dml_mood")


def test_wire_update_date_interval_vs_duckdb(client, spark):
    """``date_col + INTERVAL`` in an UPDATE SET is a TIMESTAMP in DuckDB,
    so a VARCHAR target stores the timestamp text."""
    import duckdb

    con = duckdb.connect()
    _fresh_wire_table(spark, "dml_di")
    try:
        _dml_state_vs_duckdb(
            client,
            con,
            [
                "CREATE TABLE dml_di(k INT, d DATE, s VARCHAR, ts TIMESTAMP)",
                "INSERT INTO dml_di VALUES (1, DATE '2024-01-31', NULL, NULL)",
                "UPDATE dml_di SET s = d + INTERVAL 1 DAY,"
                " ts = d + INTERVAL 36 HOUR",
            ],
            "SELECT k, s, ts FROM dml_di ORDER BY k",
        )
    finally:
        con.close()
        client.query("DROP TABLE IF EXISTS dml_di")


def test_wire_insert_select_types_in_source_scope_vs_duckdb(client, spark):
    """An INSERT … SELECT types its body in its source relations' scope,
    not the target's: a source DATE column that shares its name with a
    VARCHAR target column keeps DuckDB's DATE ± INTERVAL → TIMESTAMP
    promotion, and ``* REPLACE`` / ``COLUMNS(*)`` expand the source's
    columns only. RETURNING is typed over the inserted rows."""
    import duckdb

    con = duckdb.connect()
    for t in ("ins_src", "ins_dst", "ins_ret"):
        _fresh_wire_table(spark, t)
    try:
        for s in (
            "CREATE TABLE ins_src(a INT, b INT, d DATE)",
            "CREATE TABLE ins_dst(x INT, y INT, d VARCHAR)",
            "INSERT INTO ins_src VALUES (1, 10, DATE '2024-01-31'),"
            " (2, 20, NULL)",
        ):
            con.execute(s)
            (r,) = client.query(s)
            assert "error" not in r, (s, r)
        _dml_state_vs_duckdb(
            client,
            con,
            [
                "INSERT INTO ins_dst SELECT a, b, d + INTERVAL 1 DAY"
                " FROM ins_src",
                "INSERT INTO ins_dst SELECT * REPLACE (a + 100 AS a)"
                " FROM ins_src",
                "INSERT INTO ins_dst SELECT COLUMNS(*) FROM ins_src"
                " WHERE a = 1",
            ],
            "SELECT x, y, d FROM ins_dst ORDER BY x, d",
        )
        for s in (
            "INSERT INTO ins_dst SELECT a + 10, b, d - INTERVAL 1 DAY"
            " FROM ins_src RETURNING x, d",
            "CREATE TABLE ins_ret(k INT, d DATE)",
            "INSERT INTO ins_ret VALUES (1, DATE '2024-01-31')"
            " RETURNING k, d + INTERVAL 1 DAY AS e",
        ):
            want = [
                [None if v is None else str(v) for v in row]
                for row in con.execute(s).fetchall()
            ]
            (r,) = client.query(s)
            assert "error" not in r, (s, r)
            assert sorted(r.get("rows") or [], key=str) == sorted(
                want, key=str
            ), (s, r, want)
    finally:
        con.close()
        for t in ("ins_src", "ins_dst", "ins_ret"):
            client.query(f"DROP TABLE IF EXISTS {t}")


def test_wire_update_returning_matches_stored_rows(client, spark):
    """UPDATE … RETURNING projects the rows the UPDATE stores: ``SET v =
    DEFAULT`` resolves the declared default, and a DECIMAL(10,2) target
    returns the stored 0.33, not the unrounded quotient (DuckDB-probed
    values)."""
    import duckdb

    con = duckdb.connect()
    _fresh_wire_table(spark, "dml_rt")
    try:
        for s in (
            "CREATE TABLE dml_rt(k INT, v INT DEFAULT 7, x DECIMAL(10,2))",
            "INSERT INTO dml_rt VALUES (1, 1, 1.00), (2, 2, 2.00)",
        ):
            con.execute(s)
            (r,) = client.query(s)
            assert "error" not in r, (s, r)
        for s in (
            "UPDATE dml_rt SET v = DEFAULT WHERE k = 2 RETURNING *",
            "UPDATE dml_rt SET x = x / 3 WHERE k = 1 RETURNING x",
        ):
            want = [[str(v) for v in row] for row in con.execute(s).fetchall()]
            (r,) = client.query(s)
            assert r.get("rows") == want, (s, r, want)
        q = "SELECT k, v, x FROM dml_rt ORDER BY k"
        (r,) = client.query(q)
        assert r["rows"] == [
            [str(v) for v in row] for row in con.execute(q).fetchall()
        ], r
    finally:
        con.close()
        client.query("DROP TABLE IF EXISTS dml_rt")


def test_guarded_statement_sqlstate(client, spark):
    """A statement that fails analysis answers the analysis error's
    SQLSTATE even when it carries a guarded raise_error(): the
    AnalysisException quotes the plan, raise_error call included, so
    the error class — not the message text — must decide."""
    from pyspark.errors import AnalysisException

    from duckdb_pgwire_spark.server.app import _sqlstate

    with pytest.raises(AnalysisException) as exc:
        spark.sql(
            "SELECT CASE WHEN 1 < 0 THEN raise_error('Out of Range Error: x')"
            " ELSE length(array(1,2)) END"
        )
    assert "USER_RAISED_EXCEPTION" in str(exc.value)
    assert _sqlstate(exc.value) == "42K09"
    # over the wire: ln() carries its DuckDB-parity guard
    (r,) = client.query("SELECT ln(n_nationkey) + [1, 2] AS v FROM nation")
    assert r.get("sqlstate") == "42K09", r
    (r,) = client.query("SELECT raise_error('boom')")
    assert r.get("sqlstate") == "P0001", r


# ------------------------------------------- Arrow-native result stream


def test_wire_casefold_matches_duckdb(client, oracle):
    """upper()/lower() over column operands answer DuckDB's simple
    (1:1) case mapping, also for strings holding the private-use
    characters the translate sandwich borrows (U+E000–U+E12C), which
    take the per-codepoint branch."""
    texts = [
        "straße", "ﬀ ﬁ ﬂ", "ΟΔΟΣ ΣΟΦΟΣ", "οδος", "İstanbul", "ǅungla",
        "𐐀𐐨 𞤀𞤢", "ŉ ǰ ΐ",
        "a\ue000ß\ue090z", "\ue100İ\ue12cΣ", "\ue000\ue05f\ue12c", "x\ue0a0ﬁ\ue101y", "",
    ]
    values = ", ".join(f"({i}, '{t}')" for i, t in enumerate(texts))
    sql = (
        f"SELECT k, upper(s) AS u, lower(s) AS l, upper(lower(s)) AS ul"
        f" FROM (VALUES {values}) t(k, s) ORDER BY k"
    )
    (res,) = client.query(sql)
    assert "error" not in res, res
    want = [[str(k), u, lo, ul] for k, u, lo, ul in oracle.execute(sql).fetchall()]
    assert res["rows"] == want


def test_fn_string_basic_has_no_python_udf(client, spark):
    """The bulk string statement plans no Python UDF, and a column
    upper() over a resident fixture copy folds without a Spark job."""
    import sys
    from pathlib import Path

    sys.path.insert(0, str(Path(__file__).resolve().parents[1] / "perfbench"))
    from workloads import BULK

    from duckdb_pgwire_spark.server.app import _hugeint_sums

    sql = _hugeint_sums(spark, rewrite(BULK["fn_string_basic"]))
    plan = spark.sql(sql)._jdf.queryExecution().analyzed()
    pattern = spark._jvm.org.apache.spark.sql.catalyst.trees.TreePattern.PYTHON_UDF()
    assert not plan.containsPattern(pattern)
    jobs = _job_counter(client, spark)
    lookup = "SELECT p_partkey, upper(p_name) FROM part WHERE p_size = 7 LIMIT 20"
    jobs(lookup)  # builds part's resident copy
    assert jobs(lookup) == 0


def test_typer_looks_up_only_real_tables(spark, monkeypatch):
    """The schema-typed pass looks up the statement's catalog tables
    only: not a FROM inside substring()/trim() and not its CTE names."""
    import sys
    from pathlib import Path

    sys.path.insert(0, str(Path(__file__).resolve().parents[1] / "perfbench"))
    from workloads import BULK

    from duckdb_pgwire_spark.server import app

    looked: list[str] = []
    orig = type(spark).table

    def table(self, name):
        looked.append(name)
        return orig(self, name)

    monkeypatch.setattr(type(spark), "table", table)
    for name, want in (("fn_string_basic", {"part"}), ("stream_session_window", {"events"})):
        app._note_statement_head("CREATE")  # clears the schema and typer memos
        looked.clear()
        app._hugeint_sums(spark, rewrite(BULK[name]))
        assert set(looked) == want, (name, looked)


def test_wire_self_shadowing_cte_sum_matches_duckdb(client, spark, oracle, tmp_path):
    """A CTE named after the table its body reads: the inner FROM is the
    catalog table (Spark's reading), so the typed pass still widens SUM
    over its integer column to DECIMAL(38,0), as DuckDB's HUGEINT.
    DuckDB refuses the unqualified form as a circular CTE reference;
    its answer is checked on the form with the inner table qualified
    (``main.…``), which means what Spark reads."""
    import duckdb

    from duckdb_pgwire_spark.server.compat import statement_tables

    sql = (
        "WITH orders AS (SELECT * FROM orders WHERE o_orderkey < 100)"
        " SELECT sum(o_custkey) AS s FROM orders"
    )
    assert statement_tables(sql) == ["orders"]
    (res,) = client.query(sql)
    assert "error" not in res, res
    (plain,) = client.query("SELECT sum(o_custkey) AS s FROM orders WHERE o_orderkey < 100")
    assert res["oids"] == plain["oids"]
    duck = sql.replace("FROM orders WHERE", "FROM main.orders WHERE")
    assert res["rows"] == [[str(v) for v in oracle.execute(duck).fetchone()]]
    # past LONG: only the widened sum gives the exact answer
    spark.sql("DROP TABLE IF EXISTS shadow_sum_fx")
    spark.createDataFrame([(9_000_000_000_000_000_000,)] * 4, "v long").write.option(
        "path", str(tmp_path / "shadow_sum_fx")
    ).saveAsTable("shadow_sum_fx")
    sql = (
        "WITH shadow_sum_fx AS (SELECT * FROM shadow_sum_fx WHERE v > 0)"
        " SELECT SUM(v) AS s FROM shadow_sum_fx"
    )
    (res,) = client.query(sql)
    assert "error" not in res, res
    con = duckdb.connect()
    con.execute("CREATE TABLE shadow_sum_fx AS SELECT 9000000000000000000 AS v FROM range(4)")
    duck = sql.replace("FROM shadow_sum_fx WHERE", "FROM main.shadow_sum_fx WHERE")
    assert res["rows"] == [[str(con.execute(duck).fetchone()[0])]]
    spark.sql("DROP TABLE IF EXISTS shadow_sum_fx")


def test_wire_copy_to_stdout_escapes_text(client):
    """COPY TO STDOUT's text format escapes backslash, tab, newline and
    carriage return as PostgreSQL does; \\N is NULL."""
    (res,) = client.query(
        "COPY (SELECT E'a\\tb' AS a, E'x\\ny' AS b, 'c:\\d' AS c, NULL AS d,"
        " E'r\\re' AS e) TO STDOUT"
    )
    assert res.get("tag") == "COPY 1", res
    line = res["copy_out"].decode()
    assert line == "a\\tb\tx\\ny\tc:\\\\d\t\\N\tr\\re\n"

    def decode(field):  # PostgreSQL's COPY text rules
        if field == "\\N":
            return None
        out, i = [], 0
        while i < len(field):
            if field[i] == "\\":
                out.append({"t": "\t", "n": "\n", "r": "\r"}.get(field[i + 1], field[i + 1]))
                i += 2
            else:
                out.append(field[i])
                i += 1
        return "".join(out)

    assert [decode(f) for f in line[:-1].split("\t")] == ["a\tb", "x\ny", "c:\\d", None, "r\re"]


def test_wire_copy_text_round_trip(client, spark, tmp_path):
    """COPY TO STDOUT's text format loads back through COPY FROM STDIN
    unchanged: backslash, tab, newline and carriage return survive, and
    a backslash before another character stands for that character."""
    spark.sql("DROP TABLE IF EXISTS copy_rt_txt")
    (res,) = client.query(
        f"CREATE TABLE copy_rt_txt(k int, s string) "
        f"USING parquet LOCATION '{tmp_path}/copy_rt_txt'"
    )
    assert "error" not in res, res
    values = ["a\tb", "x\ny", "c:\\d", "\\\\srv\\x", "r\re", "plain", "é\\𝔘"]
    rows = ", ".join(f"({i}, '{v}')" for i, v in enumerate(values))
    (res,) = client.query(f"INSERT INTO copy_rt_txt VALUES {rows}, (99, NULL)")
    assert "error" not in res, res
    (out,) = client.query("COPY (SELECT * FROM copy_rt_txt ORDER BY k) TO STDOUT")
    (res,) = client.query("DELETE FROM copy_rt_txt")
    assert "error" not in res, res
    res = client.copy_in("COPY copy_rt_txt FROM STDIN", out["copy_out"])
    assert res[-1].get("tag") == "COPY 8", res
    (back,) = client.query("SELECT k, s FROM copy_rt_txt ORDER BY k")
    assert back["rows"] == [[str(i), v] for i, v in enumerate(values)] + [["99", None]]
    res = client.copy_in("COPY copy_rt_txt FROM STDIN", b"100\t\\q\\\\\\b\n")
    assert res[-1].get("tag") == "COPY 1", res
    (back,) = client.query("SELECT s FROM copy_rt_txt WHERE k = 100")
    assert back["rows"] == [["q\\\b"]]
    spark.sql("DROP TABLE IF EXISTS copy_rt_txt")


def test_wire_streamed_copy_to_stdout_matches_query(client):
    """A streamed (unbounded) result copies the same rows it answers."""
    sql = "SELECT o_orderkey, o_orderpriority, o_orderdate, o_totalprice FROM orders"
    (res,) = client.query(f"COPY ({sql}) TO STDOUT")
    (rows,) = client.query(sql)
    assert res["tag"] == f"COPY {len(rows['rows'])}" and len(rows["rows"]) > 10_000
    lines = res["copy_out"].decode().split("\n")[:-1]
    assert sorted(lines) == sorted("\t".join(r) for r in rows["rows"])


def test_wire_portal_pages_across_stream_boundaries(client):
    """Execute with maxrows=2 and maxrows=1500 over a streamed result
    that crosses 1024-row bursts and a 10,000-row Arrow batch answers
    the rows of one Execute."""
    sql = "SELECT o_orderkey, o_custkey, o_orderdate FROM orders WHERE o_orderkey < 11000"
    whole = client.extended_fetch(sql, maxrows=0)
    assert "error" not in whole and 10_000 < len(whole["rows"]) < 12_000, whole.get("tag")
    for maxrows in (1500, 2):
        paged = client.extended_fetch(sql, maxrows=maxrows)
        assert "error" not in paged, paged
        assert paged["rows"] == whole["rows"], maxrows
        assert paged["tag"] == whole["tag"]
        assert set(paged["batches"][:-1]) == {maxrows}


def _serving_threads(spark) -> list[str]:
    threads = spark._jvm.java.lang.Thread.getAllStackTraces().keySet().toArray()
    return [t.getName() for t in threads if t.getName().startswith("serve-Arrow")]


def _open_streams() -> list:
    import gc

    from duckdb_pgwire_spark.server.app import _ServedRows

    return [
        o for o in gc.get_objects()
        if isinstance(o, _ServedRows) and o._sock.fileno() != -1
    ]


def test_wire_cancel_mid_stream(wire_server, spark):
    """A CancelRequest after the first bursts of a streamed result
    answers 57014, the connection stays usable, and no served socket or
    serving thread is left after it."""
    import socket
    import time

    from .test_wire_golden import _Raw

    class Keyed(_Raw):
        def until_ready(self):
            msgs = super().until_ready()
            for tag, body in msgs:
                if tag == "K":
                    self.key = struct.unpack("!II", body)
            return msgs

    raw = Keyed(wire_server)
    try:
        # partition 0 streams 2048 rows; partition 1 stalls on its first row
        raw.send(
            b"Q",
            b"SELECT id, reflect('java.lang.Thread', 'sleep', CAST(CASE WHEN id = 2048"
            b" THEN 15000 ELSE 0 END AS BIGINT)) AS z FROM range(0, 4096, 1, 2) t(id)\x00",
        )
        assert raw.msg()[0] == "T"
        rows = 0
        while rows < 2048:
            tag, _ = raw.msg()
            assert tag == "D"
            rows += 1
        cancel = socket.create_connection(("127.0.0.1", wire_server))
        cancel.sendall(struct.pack("!IIII", 16, 80877102, *raw.key))
        cancel.close()
        msgs = raw.until_ready()
        assert [t for t, _ in msgs if t != "D"] == ["E", "Z"], msgs[-2:]
        fields = dict((p[:1].decode(), p[1:]) for p in msgs[-2][1].split(b"\x00") if p)
        assert fields["C"] == b"57014", fields
        assert raw.simple("SELECT 3 AS v")[1] == ("D", b"\x00\x01\x00\x00\x00\x013")
    finally:
        raw.close()
    deadline = time.monotonic() + 10
    while (_serving_threads(spark) or _open_streams()) and time.monotonic() < deadline:
        time.sleep(0.2)
    assert _serving_threads(spark) == [] and _open_streams() == []


def test_wire_streams_leave_no_served_socket(client, spark):
    """After a streamed result — read to its end, failed in its job, or
    suspended and then closed — no served socket or serving thread is
    left."""
    import time

    sql = "SELECT o_orderkey, o_orderpriority FROM orders"
    (res,) = client.query(sql)
    assert len(res["rows"]) > 10_000
    (res,) = client.query(
        "SELECT CAST(o_totalprice * 1000 AS SMALLINT) AS s FROM orders WHERE o_orderkey = 4"
    )
    assert res["sqlstate"] == "22003", res
    out = client.extended_fetch(sql, maxrows=0)
    assert len(out["rows"]) > 10_000
    deadline = time.monotonic() + 10
    while (_serving_threads(spark) or _open_streams()) and time.monotonic() < deadline:
        time.sleep(0.2)
    assert _serving_threads(spark) == [] and _open_streams() == []
