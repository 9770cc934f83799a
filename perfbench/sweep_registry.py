"""List the registry statements that fail over the wire.

    python3 perfbench/sweep_registry.py --sf-dir DIR

DIR holds the ten fixture tables (region … embeddings) as parquet. Every
registry oracle statement (the DuckDB SQL a wire client would send) goes
through one server connection; its row count is compared with DuckDB
running the same SQL on the same files. Errors, row-count mismatches,
timeouts and statements skipped for length are written to
``perfbench/excluded.json`` together with the workload shapes the benchmark left out for the same
reason and the known command-tag defects the benchmark tolerates, so the
wire defects stay visible next to the benchmark that avoids them.
"""

from __future__ import annotations

import argparse
import json
import os
import shutil
import socket
import sys
import time
from pathlib import Path

import duckdb

from run import ROOT, Server

OUT = Path(__file__).with_name("excluded.json")
MAX_CHARS = 10_000  # longer statements spend >10 s in the dialect rewrite alone
TIMEOUT_S = 120.0
FIXTURE_TABLES = ("region", "nation", "customer", "supplier", "part", "orders",
                  "lineitem", "events", "documents", "embeddings")

# statement shapes written for the workloads and dropped because the
# server's answer differs from DuckDB's
LEFT_OUT = [
    {
        "workload": "short_stmts",
        "sql": "SELECT s_nationkey, count(*) AS n, round(avg(s_acctbal), 2) AS a "
               "FROM supplier WHERE s_acctbal > 1879.25 GROUP BY s_nationkey",
        "error": "round(avg(DOUBLE), 2) on a tie: the server sends 4600.11 where "
                 "DuckDB rounds the double 4600.105 to 4600.1 (seed 2); replaced "
                 "by round(sum(...), 2)",
    },
]

# write command tags that disagree with DuckDB's affected-row count and
# are not counted as failed operations: (statement class, tag) pairs
KNOWN_TAG_DEFECTS = [
    {
        "class": "insert",
        "tag": "INSERT 0 0",
        "error": "a plain multi-row INSERT ... VALUES answers INSERT 0 0 instead of "
                 "INSERT 0 <rows>; the rows are inserted (the read-back after it "
                 "matches DuckDB)",
    },
]


def _oracles() -> dict[str, str]:
    sys.path.insert(0, str(ROOT))
    from duckdb_pgwire_spark.registry import load_all

    return {n: d.oracle for n, d in sorted(load_all().items()) if d.oracle}


def main() -> int:
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--sf-dir", required=True)
    args = ap.parse_args()
    sf = Path(args.sf_dir).resolve()
    con = duckdb.connect()
    for t in FIXTURE_TABLES:
        con.execute(f"CREATE VIEW {t} AS SELECT * FROM read_parquet('{sf / t}.parquet')")
    work = ROOT / ".perfbench" / f"sweep-{os.getpid()}"
    work.mkdir(parents=True)
    failures, passed = [], 0
    server = client = None
    try:
        for name, sql in _oracles().items():
            if len(sql) > MAX_CHARS:
                failures.append({"name": name, "error": f"skipped: {len(sql)} chars, "
                                 "the dialect rewrite alone runs for more than 10 s"})
                continue
            if server is None:
                server = Server(work, sf, traced=False)
                client, _ = server.connect()
                client.sock.settimeout(TIMEOUT_S)
            t0 = time.monotonic()
            try:
                res = client.query(sql)
            except (socket.timeout, ConnectionError) as exc:
                failures.append({"name": name, "error": f"{type(exc).__name__} after "
                                 f"{time.monotonic() - t0:.0f} s"})
                server.stop()
                server = None
                continue
            if res.error:  # first line of the message; the SQL echo is dropped
                msg = " ".join(res.error.split("== SQL ==")[0].split())
                failures.append({"name": name, "error": msg[:300]})
                continue
            want = con.execute(f"SELECT count(*) FROM ({sql})").fetchone()[0]
            if want != len(res.rows):
                failures.append({"name": name, "error": f"{len(res.rows)} rows over the "
                                 f"wire, DuckDB {want}"})
                continue
            passed += 1
            print(f"ok {name} {time.monotonic() - t0:.2f}s", flush=True)
    finally:
        if server is not None:
            server.stop()
        shutil.rmtree(work, ignore_errors=True)
    out = {
        "sf_dir": sf.name,
        "registry_statements": passed + len(failures),
        "matched_row_counts": passed,
        "failed_over_wire": failures,
        "workload_shapes_left_out": LEFT_OUT,
        "known_tag_defects": KNOWN_TAG_DEFECTS,
    }
    OUT.write_text(json.dumps(out, indent=1) + "\n")
    print(f"{len(failures)} of {passed + len(failures)} registry statements fail over the wire")
    return 0


if __name__ == "__main__":
    sys.exit(main())
