"""Property tests for the ON CONFLICT upsert path: randomized initial
tables, batches, and arms, golden against DuckDB with a real PRIMARY
KEY constraint. Catches scope bugs in excluded./bare/qualified column
resolution and first-arm WHERE handling that fixed-case tests miss."""

from __future__ import annotations

import tempfile

import duckdb
import pytest
from hypothesis import given, settings
from hypothesis import strategies as st

from duckdb_pgwire_spark.operators.dml import (
    parse_insert,
    stage_insert_rows,
    upsert_into,
)


@st.composite
def _upsert_case(draw):
    init_ks = draw(
        st.lists(st.integers(0, 9), min_size=0, max_size=6, unique=True)
    )
    init = [(k, draw(st.integers(-50, 50))) for k in sorted(init_ks)]
    batch_ks = draw(
        st.lists(st.integers(0, 9), min_size=1, max_size=6, unique=True)
    )
    batch = [(k, draw(st.integers(-50, 50))) for k in sorted(batch_ks)]
    arm = draw(
        st.sampled_from(
            [
                "DO NOTHING",
                "DO UPDATE SET v = excluded.v",
                "DO UPDATE SET v = v + excluded.v",
                "DO UPDATE SET v = ut.v * 2",
                "DO UPDATE SET v = excluded.v WHERE ut.v < 0",
                "DO UPDATE SET v = v - excluded.v WHERE v >= excluded.v",
            ]
        )
    )
    return init, batch, arm


@pytest.mark.usefixtures("spark")
@given(case=_upsert_case())
@settings(max_examples=25, deadline=None)
def test_upsert_matches_duckdb_pk_semantics(spark, case):
    init, batch, arm = case
    values = ", ".join(f"({k}, {v})" for k, v in batch)
    stmt = f"INSERT INTO ut VALUES {values} ON CONFLICT (k) {arm}"

    con = duckdb.connect()
    con.execute("CREATE TABLE ut(k INTEGER PRIMARY KEY, v INTEGER)")
    if init:
        con.execute(
            "INSERT INTO ut VALUES "
            + ", ".join(f"({k}, {v})" for k, v in init)
        )
    con.execute(stmt)
    want = sorted(con.execute("SELECT k, v FROM ut").fetchall())
    con.close()

    spark.sql("DROP TABLE IF EXISTS ut")
    with tempfile.TemporaryDirectory(prefix="ut_") as loc:
        spark.createDataFrame(init or [(None, None)], "k int, v int").filter(
            "k IS NOT NULL" if not init else "true"
        ).write.option("path", loc).mode("overwrite").saveAsTable("ut")
        try:
            spec = parse_insert(stmt)
            assert spec is not None and spec.conflict is not None, stmt
            staged = stage_insert_rows(spark, "ut", spec.cols, spec.source_sql)
            upsert_into(spark, "ut", staged, spec.conflict)
            got = sorted(tuple(r) for r in spark.table("ut").collect())
        finally:
            spark.sql("DROP TABLE IF EXISTS ut")
    assert got == want, (stmt, init, got, want)
