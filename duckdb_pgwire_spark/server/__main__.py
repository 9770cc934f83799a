"""CLI: ``python -m duckdb_pgwire_spark.server [--port 15432] [--sf-dir DIR]``.

The analogue of loading the extension into a DuckDB process
(duckdb_pgwire_init, src/duckdb_pgwire_extension.cpp:204-232): build the
engine session, register the fixture views + the reference's UDFs, start
the listener, and serve until interrupted.
"""

from __future__ import annotations

import argparse
import asyncio
import logging
import os


def main() -> None:
    ap = argparse.ArgumentParser(description="pg-wire front-end for the Spark engine")
    ap.add_argument("--host", default="127.0.0.1")
    ap.add_argument("--port", type=int, default=15432)
    ap.add_argument(
        "--sf-dir",
        default=os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.01"),
        help="fixture dir whose parquet tables are pre-registered as views",
    )
    ap.add_argument(
        "--reference-compat",
        action="store_true",
        help="reproduce the reference's drop-unmapped-columns quirk",
    )
    ap.add_argument(
        "--isolate-sessions",
        action="store_true",
        help="spark.newSession() per client: isolated temp views/confs "
        "over the shared catalog (the reference's connection model)",
    )
    ap.add_argument(
        "--catalog-dir",
        default=None,
        help="directory for the persistent wire-layer catalog sidecar "
        "(enum types, aliases, macros, sequence counters — DuckDB's "
        "file-backed-database semantics). Default: the Spark warehouse "
        "directory. Pass 'none' for process-scope-only (DuckDB :memory:)",
    )
    args = ap.parse_args()

    # Pin the PROCESS timezone, not just the Spark session one: rows
    # fetched as pickled Rows (collect() and the served-socket stream)
    # convert timestamps through the host's local zone, which on a non-UTC host would shift the
    # wall-clock text sent to clients.
    os.environ["TZ"] = "UTC"
    try:
        import time as _time

        _time.tzset()
    except AttributeError:  # tzset is POSIX-only
        pass

    logging.basicConfig(level=logging.INFO)
    from ..functions.udfs import register_udfs
    from ..session import build_session, register_views
    from .app import PgWireServer, set_pipeline_sf_dir

    # pipeline('<op>') operators must read the SAME data the registered
    # views serve (code review r7: env-only default could diverge)
    set_pipeline_sf_dir(args.sf_dir)

    spark = build_session(app_name="duckdb_pgwire_spark_server")

    def setup(sess):
        register_views(sess, args.sf_dir)
        register_udfs(sess)

    setup(spark)
    if args.catalog_dir and args.catalog_dir.lower() == "none":
        catalog_dir = None
    elif args.catalog_dir:
        catalog_dir = args.catalog_dir
    else:
        # warehouse dir is a URI (file:/...); the sidecar wants a path
        wh = spark.conf.get("spark.sql.warehouse.dir")
        catalog_dir = wh.removeprefix("file:")

    server = PgWireServer(
        spark,
        host=args.host,
        port=args.port,
        reference_compat=args.reference_compat,
        isolate_sessions=args.isolate_sessions,
        session_setup=setup,
        catalog_dir=catalog_dir,
    )
    print(f"READY port={args.port}", flush=True)  # sentinel for test harnesses
    asyncio.run(server.serve_forever())


if __name__ == "__main__":
    main()
