#!/usr/bin/env python
"""Combined randomized parity net (r14, VERDICT item 9): mixes the three
newest dialect passes AGAINST EACH OTHER in one statement shape —
set-op mixed-type widening × boolean-coercion slots × composite 3VL ×
DML (incl. multi-relation UPDATE…FROM with the r14 joint-scope typer)
× typed printf args — and diffs every trial against DuckDB.

Usage:  python scripts/fuzz_combined.py [N_TRIALS] [SEED]
Exit 0 = every trial matched (value-match for results, loud-loud for
errors). Each failure prints the statement and both sides' outcomes.

The per-round pytest wrapper (tests/test_compat_battery.py::
test_combined_fuzz_small) runs a reduced trial count; this script is
the full net the round evidence cites.
"""

from __future__ import annotations

import random
import sys
import tempfile
from pathlib import Path

import duckdb

REPO = Path(__file__).resolve().parents[1]
sys.path.insert(0, str(REPO))

from duckdb_pgwire_spark.functions.udfs import register_udfs  # noqa: E402
from duckdb_pgwire_spark.server.compat import rewrite  # noqa: E402


def canon(rows):
    out = []
    for r in rows:
        vals = []
        for v in r:
            if isinstance(v, float):
                vals.append(round(v, 6))
            elif isinstance(v, (list, tuple)):
                vals.append(tuple(str(x) for x in v))
            elif isinstance(v, dict):
                vals.append(tuple(sorted((k, str(x)) for k, x in v.items())))
            else:
                vals.append(v)
        out.append(tuple(str(v) for v in vals))
    return sorted(out)


ROWS = [
    # (a INT, b DOUBLE, s VARCHAR-boolish, arr INT[], stx INT,
    #  sty VARCHAR, f FLOAT-as-text) — the big-double and f32 values
    # stress the duck text kernels through ||/CAST/set-ops (r15)
    (1, 0.5, "true", [1, None], 1, "a", "0.25"),
    (0, -1.5, "false", [1, 1], 2, "b", "46977.5625"),
    (None, 2.5, "1", [9], None, "c", "0.1"),
    (2, None, "0", None, 1, None, None),
    (3, 0.0, None, [1, 2], 3, "d", "-1e20"),
    (-1, 3.5, "true", [2, None, 1], 1, "a", "3.0"),
    (4, 2.5e19, "0", [3], 2, "e", "1.5"),
]


def row_sql(r) -> str:
    a, b, s, arr, stx, sty, f = r
    lit = lambda v: "NULL" if v is None else repr(v)  # noqa: E731
    if arr is None:
        arr_t = "NULL"
    else:
        arr_t = "[" + ", ".join("NULL" if x is None else str(x) for x in arr) + "]"
    st = f"{{'x': {lit(stx)}, 'y': {lit(sty)}}}"
    fv = "NULL" if f is None else f"CAST({f} AS FLOAT)"
    return f"({lit(a)}, {lit(b)}, {lit(s)}, {arr_t}, {st}, {fv})"


def setup(spark, con):
    for t in ("fz", "fzt", "fzs"):
        spark.sql(f"DROP TABLE IF EXISTS {t}")
        con.execute(f"DROP TABLE IF EXISTS {t}")
    loc = tempfile.mkdtemp(prefix="fuzz_fz_")
    con.execute(
        "CREATE TABLE fz(a INT, b DOUBLE, s VARCHAR, arr INT[],"
        " st STRUCT(x INT, y VARCHAR), f FLOAT)"
    )
    spark.sql(
        "CREATE TABLE fz(a INT, b DOUBLE, s STRING, arr ARRAY<INT>,"
        " st STRUCT<x: INT, y: STRING>, f FLOAT)"
        f" USING parquet LOCATION '{loc}/fz'"
    )
    vals = ", ".join(row_sql(r) for r in ROWS)
    stmt = f"INSERT INTO fz VALUES {vals}"
    con.execute(stmt)
    spark.sql(rewrite(stmt))


def reset_dml(spark, con):
    for t, cols_d, cols_s in (
        ("fzt", "(id INT, k INT, arr INT[])", "(id INT, k INT, arr ARRAY<INT>)"),
        ("fzs", "(id INT, v INT, arr INT[])", "(id INT, v INT, arr ARRAY<INT>)"),
    ):
        con.execute(f"DROP TABLE IF EXISTS {t}")
        spark.sql(f"DROP TABLE IF EXISTS {t}")
        con.execute(f"CREATE TABLE {t}{cols_d}")
        loc = tempfile.mkdtemp(prefix=f"fuzz_{t}_")
        spark.sql(
            f"CREATE TABLE {t}{cols_s} USING parquet LOCATION '{loc}/{t}'"
        )
    rows = "(1, 0, [1,NULL]), (2, 0, [1,1]), (3, 0, [9]), (4, 0, NULL)"
    srows = "(1, 10, [1,2]), (2, 20, [1,NULL]), (3, 30, [0]), (5, 50, [9])"
    for stmt in (f"INSERT INTO fzt VALUES {rows}", f"INSERT INTO fzs VALUES {srows}"):
        con.execute(stmt)
        spark.sql(rewrite(stmt))


BOOL_ATOMS = ["a", "b", "s", "a + 1", "b * 2", "(a)", "NOT a", "a AND a",
              "CASE WHEN a THEN 0 ELSE 1 END"]
COMP_PREDS = ["arr < [1,2]", "arr >= [1,2]", "arr = [1,NULL]",
              "arr IS NULL", "arr IS NOT NULL",
              "st = {'x': 1, 'y': 'a'}", "st > {'x': 1, 'y': 'a'}",
              "st IS NOT NULL"]
MIX_LITS = [("1", "int"), ("2.5", "num"), ("'7'", "str"), ("'x'", "strx"),
            ("true", "bool"), ("NULL", "null")]


# special-typed operands for the cast-render arm (r15, VERDICT item
# 4): each renders duck text through ||, CAST/::VARCHAR, format {},
# or a widened set-op branch
RENDER_OPS = [
    "b", "b * 2", "- b", "b * 2 + 1", "f", "f * 2", "- f",
    "f / 2", "f % 3", "f * 2 - 1",
    "a + 1", "arr", "st", "b::VARCHAR", "1e19 * 3",
    "INTERVAL 25 HOUR", "INTERVAL '2 days' - INTERVAL '26 hours'",
    "INTERVAL 14 MONTH", "INTERVAL '1.5 days'",
    "INTERVAL 7 HOUR + INTERVAL 0 DAY",
    "INTERVAL '1.5' HOUR", "INTERVAL '1.99' SECOND",
]


def gen_render(rng) -> str:
    op = rng.choice(RENDER_OPS)
    shape = rng.randrange(4)
    if shape == 0:  # || adjacency, either side, optional chain —
        # the adjacent side may be a string LITERAL, the string COLUMN
        # s, or a NON-string operand (duck stringifies both sides
        # unless both are lists — r15)
        adj = rng.choice(["'v='", "s", "b", "a", "arr", "st", "2"])
        if rng.random() < 0.5:
            e = f"{adj} || {op}"
        else:
            e = f"{op} || {adj}"
        if rng.random() < 0.3:
            e += " || 'z'"
        return f"SELECT {e} AS t FROM fz WHERE ({rng.choice(BOOL_ATOMS)})"
    if shape == 1:  # explicit VARCHAR casts (both spellings)
        cast = (
            f"CAST({op} AS VARCHAR)"
            if rng.random() < 0.5
            else f"({op})::VARCHAR"
        )
        return f"SELECT {cast} AS t FROM fz"
    if shape == 2:  # format generic {} / concat_ws over the operand
        if rng.random() < 0.4:
            return (
                f"SELECT concat_ws('-', 'h', {op}) AS t FROM fz"
            )
        return f"SELECT format('<{{}}>', {op}) AS t FROM fz"
    # widened set-op branch: special-typed branch vs a string branch
    op2 = rng.choice(RENDER_OPS)
    w = f" WHERE ({rng.choice(BOOL_ATOMS)})" if rng.random() < 0.4 else ""
    return (
        f"SELECT {op} AS c FROM fz{w}"
        f" {rng.choice(['UNION', 'UNION ALL'])}"
        f" SELECT s AS c FROM fz"
    )


def gen_select(rng) -> str:
    kind = rng.randrange(6)
    if kind == 5:  # cast-render compositions (r15)
        return gen_render(rng)
    if kind == 4:  # TIME ± INTERVAL wraparound + interval text renders
        pick = rng.randrange(4)
        h, mi = rng.randrange(24), rng.randrange(60)
        n = rng.randrange(1, 80)
        if pick == 0:
            return (
                f"SELECT TIME '{h:02d}:{mi:02d}:00'"
                f" {rng.choice(['+', '-'])} INTERVAL {n} HOUR AS t"
            )
        if pick == 1:
            return (
                f"SELECT TIME '{h:02d}:{mi:02d}:00'"
                f" {rng.choice(['+', '-'])} INTERVAL {n} MINUTE AS t"
            )
        if pick == 2:
            return (
                f"SELECT (INTERVAL {n} HOUR)::VARCHAR AS t,"
                f" (INTERVAL {n % 40} MONTH)::VARCHAR AS m"
            )
        return (
            f"SELECT (INTERVAL '{n % 6} days {h} hours"
            f" {mi} minutes')::VARCHAR AS t"
        )
    if kind == 0:  # bool-context × composite in one WHERE
        parts = rng.sample(BOOL_ATOMS, 2) + [rng.choice(COMP_PREDS)]
        rng.shuffle(parts)
        return (
            "SELECT count(*) AS n FROM fz WHERE "
            + f" {rng.choice(['AND', 'OR'])} ".join(f"({p})" for p in parts)
        )
    if kind == 1:  # mixed-type set-op, optionally over bool-context filters
        nb = rng.randrange(2, 4)
        branches = []
        for _ in range(nb):
            lit = rng.choice(MIX_LITS)[0]
            if lit == "'x'":
                lit = "'9'"  # keep branches castable both ways
            w = f" WHERE ({rng.choice(BOOL_ATOMS)})" if rng.random() < 0.5 else ""
            branches.append(f"SELECT {lit} AS c FROM fz{w}")
        op = rng.choice(["UNION", "UNION ALL"])
        return f" {op} ".join(branches)
    if kind == 2:  # composite value positions + IS NULL operand rule
        p = rng.choice(COMP_PREDS)
        return (
            f"SELECT a, ({p}) AS p FROM fz"
            f" WHERE ({rng.choice(BOOL_ATOMS)}) IS NOT NULL OR ({p})"
        )
    # printf/format over typed columns in a coercion context
    if rng.random() < 0.4:  # format generic {} renders duck SQL text
        col = rng.choice(["a", "b", "s", "arr", "st", "a + 1", "b * 2"])
        return (
            f"SELECT format('{{}} x', {col}) AS t FROM fz"
            f" WHERE ({rng.choice(BOOL_ATOMS)})"
        )
    conv, col = rng.choice(
        [("%d", "a"), ("%f", "b"), ("%s", "s"), ("%d", "a + 1"), ("%f", "b * 2")]
    )
    return (
        f"SELECT printf('{conv}', {col}) AS t FROM fz"
        f" WHERE ({rng.choice(BOOL_ATOMS)})"
    )


def gen_dml(rng) -> str:
    comp = rng.choice(
        ["fzs.arr >= [1,2]", "fzs.arr < [1,NULL]", "fzs.arr IS NOT NULL",
         "fzs.v", "fzs.v - 10",
         # r15 cast-render × DML: duck stringifies || operands with
         # its own composite/interval text inside DML predicates too
         "('x' || fzs.arr) = 'x[1, 2]'",
         "(fzs.arr || '!') LIKE '[1,%'",
         "('i' || INTERVAL 25 HOUR) = 'i25:00:00'",
         "('n=' || fzs.v * 2) = 'n=20'",
         "fzs.arr < [1, NULL] OR ('d' || INTERVAL '1.5 days')"
         " = 'd1 day 12:00:00'"]
    )
    if rng.random() < 0.5:
        return (
            f"UPDATE fzt SET k = fzs.v FROM fzs"
            f" WHERE fzt.id = fzs.id AND ({comp})"
        )
    return f"DELETE FROM fzt USING fzs WHERE fzt.id = fzs.id AND ({comp})"


def run_spark_select(spark, sql):
    from duckdb_pgwire_spark.server.app import _hugeint_sums

    return spark.sql(_hugeint_sums(spark, rewrite(sql))).collect()


def run_spark_dml(spark, sql):
    from duckdb_pgwire_spark.operators.dml import (
        delete_using,
        parse_delete,
        parse_update,
        update_from,
    )
    from duckdb_pgwire_spark.server.app import _hugeint_sums

    typed = _hugeint_sums(spark, rewrite(sql))
    if typed.lstrip().upper().startswith("UPDATE"):
        table, assignments, pred, from_rel = parse_update(typed)
        update_from(spark, table, assignments, pred, from_rel)
    else:
        tbl, pred, using = parse_delete(typed)
        delete_using(spark, tbl, pred, using)


def main() -> int:
    n = int(sys.argv[1]) if len(sys.argv) > 1 else 240
    seed = int(sys.argv[2]) if len(sys.argv) > 2 else 14
    rng = random.Random(seed)
    from duckdb_pgwire_spark.session import build_session

    spark = build_session(app_name="fuzz-combined", cpus=4)
    spark.sparkContext.setLogLevel("ERROR")
    register_udfs(spark)
    con = duckdb.connect()
    setup(spark, con)
    fails = []
    n_sel = n_dml = 0
    for t in range(n):
        if rng.random() < 0.75:
            n_sel += 1
            sql = gen_select(rng)
            try:
                want = canon(con.execute(sql).fetchall())
                derr = None
            except Exception as e:  # noqa: BLE001
                want, derr = None, str(e)[:200]
            try:
                have = canon([tuple(r) for r in run_spark_select(spark, sql)])
                serr = None
            except Exception as e:  # noqa: BLE001
                have, serr = None, str(e)[:200]
            if (derr is None) != (serr is None) or (
                derr is None and want != have
            ):
                fails.append((sql, derr or want, serr or have))
        else:
            n_dml += 1
            sql = gen_dml(rng)
            reset_dml(spark, con)
            try:
                con.execute(sql)
                derr = None
            except Exception as e:  # noqa: BLE001
                derr = str(e)[:200]
            try:
                run_spark_dml(spark, sql)
                serr = None
            except Exception as e:  # noqa: BLE001
                serr = str(e)[:200]
            if (derr is None) != (serr is None):
                fails.append((sql, derr or "ok", serr or "ok"))
            elif derr is None:
                want = canon(con.execute("SELECT * FROM fzt").fetchall())
                have = canon(
                    [tuple(r) for r in spark.sql("SELECT * FROM fzt").collect()]
                )
                if want != have:
                    fails.append((sql, want, have))
        if (t + 1) % 40 == 0:
            print(f"[{t + 1}/{n}] {len(fails)} failures", flush=True)
    for t in ("fz", "fzt", "fzs"):
        spark.sql(f"DROP TABLE IF EXISTS {t}")
    print(f"trials: {n} ({n_sel} select, {n_dml} dml); failures: {len(fails)}")
    for sql, want, have in fails[:20]:
        print("FAIL:", sql)
        print("  duck :", str(want)[:300])
        print("  spark:", str(have)[:300])
    spark.stop()
    return 1 if fails else 0


if __name__ == "__main__":
    raise SystemExit(main())
