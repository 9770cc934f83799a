"""Drive the repo's __spark_entry__.py the way the driver does.

Runs from any directory: ``python scripts/drive_contract.py [name ...]``.
"""
import json, os, sys, hashlib
REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
sys.path.insert(0, REPO)
# Spark's Python workers are processes of their own: they find the
# package through PYTHONPATH, which must be set before the session starts
os.environ["PYTHONPATH"] = os.pathsep.join(
    p for p in (REPO, os.environ.get("PYTHONPATH")) if p
)
import duckdb
import __spark_entry__ as e
from pyspark.sql import SparkSession

spark = (SparkSession.builder.master("local[8]")
         .config("spark.sql.shuffle.partitions", "8")
         .config("spark.sql.session.timeZone", "UTC")
         .config("spark.ui.enabled", "false")
         .appName("driver-sim").getOrCreate())
spark.sparkContext.setLogLevel("ERROR")

# fixture-integrity preflight FIRST — before any fixture read: the r9
# gate died SILENTLY when a test overwrote region.parquet (empty
# CORRECTNESS_r09 — NOTES.md r10 incident). Fail loudly with a clear
# message instead of an opaque Spark/parquet stack from the smoke test.
for sf in ("0.001", "0.01", "0.1"):
    for t in ["region","nation","customer","supplier","part","orders",
              "lineitem","events","documents","embeddings"]:
        p = f"/root/testdata/sf{sf}/{t}.parquet"
        import os as _os
        if not _os.path.isfile(p):
            sys.exit(f"FIXTURE DAMAGED: {p} is not a regular file "
                     "(overwritten by a write-through? see NOTES.md r10)")
try:
    n = duckdb.sql("SELECT count(*), min(r_regionkey), max(r_regionkey) "
                   "FROM read_parquet('/root/testdata/sf0.01/region.parquet')").fetchone()
    assert n == (5, 0, 4), n
except Exception as exc:  # noqa: BLE001
    sys.exit(f"FIXTURE DAMAGED: sf0.01 region.parquet unreadable/wrong: {exc}")

# t1 smoke: entry() at sf0.001
df = e.entry(spark)
rows = df.collect()
print("entry() rows:", len(rows), "schema:", [f.name for f in df.schema])
print("first row:", rows[0])

# t2: every queries() entry at sf0.01 vs oracle
con = duckdb.connect()
for t in ["region","nation","customer","supplier","part","orders","lineitem","events","documents","embeddings"]:
    con.execute(f"CREATE VIEW {t} AS SELECT * FROM read_parquet('/root/testdata/sf0.01/{t}.parquet')")

qs, osql = e.queries(), e.oracle_sql()
if len(sys.argv) > 1:  # optional: subset by name
    qs = {k: v for k, v in qs.items() if k in sys.argv[1:]}
print(f"{len(qs)} queries, {len(osql)} with oracle")
def canon(v):
    if isinstance(v, float): return repr(v)
    return str(v)
ok = fail = 0
for name, fn in sorted(qs.items()):
    sdf = fn(spark, "/root/testdata/sf0.01")
    srows = sdf.collect()
    if name not in osql:
        print(f"  {name}: rows-only, {len(srows)} rows"); ok += 1; continue
    # ONE oracle execution: rows, schema, and column names all derive
    # from a single arrow table (the old fetchall/.arrow()/.description
    # triple ran every oracle three times).
    tbl = con.execute(osql[name]).arrow()
    # positional extraction (NOT to_pylist dicts — those collapse
    # duplicate-named columns and misalign against schema.names)
    _cols = [c.to_pylist() for c in tbl.columns]
    orows = list(zip(*_cols)) if _cols else [()] * tbl.num_rows
    # r3 lesson: DuckDB HUGEINT (SUM(int)/count_if) degrades to float64 when
    # the driver fetches via pandas/arrow -> '150.0' vs Spark's '150' hash
    # mismatch even though fetchall() ints compare clean. Fail loud here so
    # oracles get an explicit CAST(... AS BIGINT). Structural check
    # (scale-0 decimal of precision >= 38, walked recursively so a
    # HUGEINT nested in a struct/list is caught too); a genuine
    # DECIMAL(38,0) output also needs an explicit cast.
    import pyarrow.types as pt
    def _hug(t):
        if pt.is_decimal(t) and t.scale == 0 and t.precision >= 38:
            return True
        if pt.is_struct(t):
            return any(_hug(t.field(i).type) for i in range(t.num_fields))
        if pt.is_list(t) or pt.is_large_list(t):
            return _hug(t.value_type)
        if pt.is_map(t):
            return _hug(t.key_type) or _hug(t.item_type)
        return False
    hug = [f.name for f in tbl.schema if _hug(f.type)]
    if hug:
        fail += 1
        print(f"  {name}: HUGEINT-OUTPUT {hug} — cast the oracle to BIGINT")
        continue
    scols = sorted(sdf.columns)
    sidx = [sdf.columns.index(c) for c in scols]
    ocols_all = list(tbl.schema.names)
    oidx = [ocols_all.index(c) for c in sorted(ocols_all)]
    sset = sorted(tuple(canon(r[i]) for i in sidx) for r in srows)
    oset = sorted(tuple(canon(r[i]) for i in oidx) for r in orows)
    h1 = hashlib.md5(json.dumps(sset).encode()).hexdigest()
    h2 = hashlib.md5(json.dumps(oset).encode()).hexdigest()
    status = "MATCH" if h1 == h2 and sorted(scols) == sorted(ocols_all) else "MISMATCH"
    if status == "MATCH": ok += 1
    else:
        fail += 1
        print(f"  {name}: {status} spark={len(srows)} oracle={len(orows)}")
        for a, b in list(zip(sset, oset))[:3]:
            if a != b: print("    s:", a, "\n    o:", b)
    print(f"  {name}: {status}")
print(f"RESULT: {ok} ok, {fail} fail")
sys.exit(1 if fail else 0)
