"""asyncio PostgreSQL wire-protocol server over a shared SparkSession.

Architecture = the reference's, re-expressed for Spark (SURVEY.md §3.1):

reference (src/duckdb_pgwire_extension.cpp)      this server
---------------------------------------------    ----------------------------
detached server thread on port 15432 (:180,214)  asyncio event loop, same port
handler factory per session (:184-186)           _handle() task per connection
fresh Connection per query, shared DB (:42)      shared SparkSession per query
conn.Prepare(q) → names/types (:52,62-64)        df = spark.sql(q); df.schema
   → RowDescription (:75-88)                        → RowDescription
p->Execute(); chunk iteration (:97,119)          _fetch_iter(df) → 1024-row batches
per-value text encode / NULL (:120-165)          typemap.encode_cell
errors → SqlException(DataException) (:65-73)    ErrorResponse, SQLSTATE kept
pg_is_in_recovery / duckdb_pgwire UDFs (:206-12) registered in Spark catalog

Simple and extended query protocols; text and binary result formats;
COPY TO/FROM STDOUT/STDIN. Both protocols share one statement path,
_run_statement: the text pre-pass, then _rows_df — the one builder of
every row result — or _run_command, which returns a command tag, a
DataFrame to send, or a COPY … STDIN/STDOUT descriptor; then one
sender, _stream_df, for rows. Describe of a portal runs the pre-pass
and _rows_df once and caches the DataFrame on the portal; Execute sends
that DataFrame without planning the statement again. COPY … TO builds
its inner query with _rows_df like any SELECT. Known gap: INSERT/
UPDATE/DELETE … RETURNING answers NoData on Describe (its row shape
needs the write planned), then sends its rows at Execute.

Thread rule: Spark calls block, and so do the catalog lookups and the
dialect rewrite. All Spark, catalog and rewrite work of a statement
runs as one call on the worker pool, under the connection's Spark job
tag (so a CancelRequest reaches it); the event loop does only protocol
framing and COPY data transfer (fetching each batch of result rows,
and the load at the end of COPY FROM STDIN, are further tagged pool
calls). Fetch rule (_fetch_iter): rows built on the driver (DESCRIBE,
SHOW, PRAGMA, pg_catalog) are Arrow-backed local relations and run no
Spark job. A fold-shaped statement — Project/Filter/Limit over a
FROM-less SELECT's one row or over a fixture view's driver-resident
copy (session.resident_relation) — is planned again over that
LocalRelation, and when Catalyst folds it to ≤1024 rows it is fetched
with one collect() and no Spark job; the reference answers from an
in-process engine the same way (cpp:52,97). Otherwise a result whose
optimized plan bounds its rows at ≤1024 is fetched with one collect();
every other result streams through one served socket, partition by
partition, written ahead of the reader (_ServedRows). Either way rows
reach the socket in bounded batches (the analogue of
DataChunk-at-a-time). A command Spark runs itself (CREATE, DROP, a
plain INSERT) answers only its CommandComplete.

Write rule: UPDATE, DELETE, TRUNCATE, MERGE, UPDATE … FROM, DELETE …
USING, INSERT … ON CONFLICT and ALTER TABLE … RENAME/DROP COLUMN
rewrite the table inside its own location in one Spark job that writes
it once and counts the affected rows in the same job (operators/dml.py
_rewrite_table); COPY FROM and INSERT take their counts from their one
write.
"""

from __future__ import annotations

import asyncio
import concurrent.futures
import functools
import itertools
import logging
import os
import struct
import threading
from collections.abc import Iterator
from typing import NamedTuple

from py4j.protocol import Py4JError, Py4JJavaError
from pyspark.errors import PySparkException
from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql.types import StructType

import re

from . import protocol as P
from .compat import (
    MACRO_DDL_RE,
    MACRO_DROP_RE,
    RESET_VAR_RE,
    SEQ_DDL_RE,
    SEQ_DROP_RE,
    SET_VAR_RE,
    VARIABLES,
    _COPY_FORMAT_OPT,
    _lex,
    define_macro,
    define_sequence,
    drop_macro,
    drop_sequence,
    substitute_sequence_fns,
    substitute_variables,
    parse_copy,
    parse_copy_from,
    parse_copy_stdin,
    parse_copy_stdout,
    rewrite,
    rewrite_array_length,
    rewrite_columns_star,
    rewrite_integer_sums,
    rewrite_star_replace,
    split_statements,
    split_top_level,
    statement_tables,
    strip_table_constraints,
)
from ..session import resident_relation
from .typemap import (
    decode_binary_param,
    encode_binary,
    encode_text,
    pg_oid,
    reference_visible,
    text_cell_encoder,
)

log = logging.getLogger("duckdb_pgwire_spark.server")

_BATCH_ROWS = 1024  # rows per write burst (the reference's chunks are ~2048)


@functools.lru_cache(maxsize=None)
def _ddl_schemas(ddl: str) -> tuple[StructType, "pa.Schema"]:
    from pyspark.sql.pandas.types import to_arrow_schema

    struct = StructType.fromDDL(ddl)
    return struct, to_arrow_schema(struct)


def _local_df(session: SparkSession, rows: list, ddl: str) -> DataFrame:
    """A result built on the driver as an Arrow-backed LocalRelation.
    A list handed to createDataFrame is unpickled by a Python worker in
    a Spark job on every execution; an Arrow table becomes a
    LocalRelation whose maxRows is its row count, so _fetch_iter
    collects it without any job and SQL over it (the pg_catalog views)
    plans as a local scan."""
    import pyarrow as pa

    struct, schema = _ddl_schemas(ddl)
    cols = list(zip(*rows)) if rows else [()] * len(schema)
    table = pa.Table.from_arrays(
        [pa.array(c, type=f.type) for c, f in zip(cols, schema)], schema=schema
    )
    return session.createDataFrame(table, struct)


def _fetch_iter(df: DataFrame) -> Iterator:
    """The row iterator of a result. A fold-shaped plan (see _folded)
    is answered from its folded copy with one collect() and no Spark
    job. Otherwise: one collect() when the optimized plan bounds its
    rows at ≤ _BATCH_ROWS (a LocalRelation, a global aggregate, a small
    LIMIT) — no more than one write burst reaches the driver, and a
    driver-built relation runs no Spark job — else the rows stream
    through one served socket (_ServedRows)."""
    folded = _folded(df)
    if folded is not None:
        return iter(folded.collect())
    bound = df._jdf.queryExecution().optimizedPlan().maxRows()
    if bound.isDefined() and bound.get() <= _BATCH_ROWS:
        return iter(df.collect())
    return _ServedRows(df)


# analyzed-plan nodes a fold-shaped statement may stack over its leaf
_FOLD_CHAIN = frozenset(
    ("Project", "Filter", "GlobalLimit", "LocalLimit", "SubqueryAlias", "View")
)


class _FoldJvm:
    """The JVM handles _folded calls, looked up once per process (each
    lookup of a class through py4j is a round trip per package name).
    _folded keeps its own py4j calls few: every JVM object handed to
    Python costs a further round trip when its proxy is collected, and
    py4j sends those from a background thread that competes with the
    statements that follow."""

    def __init__(self, session: SparkSession) -> None:
        jvm = session._jvm
        self.of_rows = jvm.org.apache.spark.sql.classic.Dataset.ofRows
        patterns = jvm.org.apache.spark.sql.catalyst.trees.TreePattern
        self.python_udf = patterns.PYTHON_UDF()
        # one row, no columns: what a FROM-less SELECT reads
        row = jvm.org.apache.spark.sql.RowFactory.create(
            session.sparkContext._gateway.new_array(jvm.java.lang.Object, 0)
        )
        rows = jvm.java.util.ArrayList()
        rows.add(row)
        self.one_row = (
            session._jsparkSession.createDataFrame(
                rows, jvm.org.apache.spark.sql.types.StructType()
            )
            .queryExecution()
            .analyzed()
        )
        # Nil's `::`: a plan's one-child Seq in one call
        self.one_child = getattr(self.one_row.children(), "$colon$colon")
        self.limit = jvm.org.apache.spark.sql.catalyst.plans.logical.Limit.apply
        self.past_batch = jvm.org.apache.spark.sql.catalyst.expressions.Literal.create(
            _BATCH_ROWS + 1, jvm.org.apache.spark.sql.types.DataTypes.IntegerType
        )


_FOLD_JVM: _FoldJvm | None = None


def _folded(df: DataFrame) -> DataFrame | None:
    """``df`` with its leaf swapped for a driver-resident LocalRelation,
    when its analyzed plan is a chain of Project, Filter, Limit,
    SubqueryAlias and View nodes over one leaf (rebuilt without the last
    two, which the optimizer drops first anyway), and the swapped plan's
    optimized plan is a LocalRelation of ≤ _BATCH_ROWS rows: Catalyst's
    ConvertToLocalRelation then evaluated the chain at optimization
    time, so collect() runs no Spark job. The leaf is a OneRowRelation
    (a FROM-less SELECT; it becomes one row of no columns) or the scan
    of a fixture view (it becomes the table's resident copy,
    session.resident_relation). Otherwise None, and ``df`` runs as it
    is. A Python UDF is evaluated by a worker, never folded, so a plan
    that calls one is not tried. A fold that raises (a guard, a cast
    overflow) is dropped too: ``df`` then raises the same error from
    its own job; so is a copy that fails to build (``df``'s own scan
    then meets the same fault)."""
    global _FOLD_JVM
    if _FOLD_JVM is None:
        _FOLD_JVM = _FoldJvm(df.sparkSession)
    j = _FOLD_JVM
    root = df._jdf.queryExecution().analyzed()
    if root.containsPattern(j.python_udf):
        return None
    chain, node, filters = [], root, False
    while (name := node.nodeName()) in _FOLD_CHAIN:
        if name not in ("SubqueryAlias", "View"):
            chain.append(node)
        filters = filters or name == "Filter"
        node = node.child()
    if name == "OneRowRelation":
        leaf = j.one_row
    elif name == "LogicalRelation":
        limited = filters
        if not limited:
            bound = root.maxRows()
            limited = bound.isDefined() and bound.get() <= _BATCH_ROWS
        try:
            leaf = resident_relation(
                df.sparkSession, node, None if limited else _BATCH_ROWS
            )
        except (PySparkException, Py4JError, OSError):  # df's scan reports it
            return None
        if leaf is None:
            return None
    else:
        return None
    for parent in reversed(chain):
        leaf = parent.withNewChildren(j.one_child(leaf))
    if filters:
        # past _BATCH_ROWS survivors the fold is thrown away: folding this
        # limit right after the chain keeps the optimizer's later rules
        # from walking every survivor of an unselective filter
        leaf = j.limit(j.past_batch, leaf)
    session = df.sparkSession
    try:
        folded = DataFrame(j.of_rows(session._jsparkSession, leaf), session)
        plan = folded._jdf.queryExecution().optimizedPlan()
    except (PySparkException, Py4JJavaError):  # df raises it from its job
        return None
    if plan.nodeName() != "LocalRelation" or plan.maxRows().get() > _BATCH_ROWS:
        return None
    return folded


class _ServedRows:
    """A result's rows streamed from the JVM through one served socket.
    A serving thread (it inherits the connection's job tag) runs one job
    per partition and writes the pickled rows ahead of the reader;
    socket backpressure stalls it, so driver memory stays bounded to
    about one partition, without toLocalIterator()'s request/response
    round trip per partition. The socket is connected here, at once.
    When the stream ends or breaks, the serving thread's result is
    taken, so a failed partition raises instead of ending the rows
    early."""

    def __init__(self, df: DataFrame) -> None:
        from pyspark.serializers import BatchedSerializer, CPickleSerializer
        from pyspark.util import local_connect_and_auth

        jrows = df._jdf.javaToPython().rdd().toLocalIterator()
        port, secret, self._server = df.sparkSession._jvm.PythonRDD.serveIterator(
            jrows, "serve-DataFrame"
        )
        self._file, self._sock = local_connect_and_auth(port, secret)
        self._sock.settimeout(None)  # a partition takes as long as it takes
        self._rows = BatchedSerializer(CPickleSerializer()).load_stream(self._file)

    def __iter__(self) -> "_ServedRows":
        return self

    def __next__(self):
        try:
            return next(self._rows)
        except Exception:  # StopIteration too: the stream ended
            self.close()
            self._server.getResult()  # the serving thread's error wins
            raise

    def close(self) -> None:
        """Drop the stream: the serving thread's next write fails and it
        ends; nothing waits for it."""
        self._file.close()
        self._sock.close()


class _WireError(Exception):
    """Server-originated error with an explicit SQLSTATE."""

    def __init__(self, message: str, sqlstate: str) -> None:
        super().__init__(message)
        self._sqlstate = sqlstate

    def getSqlState(self) -> str:  # noqa: N802 — matches PySpark's accessor
        return self._sqlstate


class _Portal:
    """A bound (statement × parameters) pair awaiting Execute."""

    def __init__(self, sql: str, result_fmts: list[int] | None = None) -> None:
        self.sql = sql
        # planned once — at Describe, or by the first Execute — and sent
        # by every Execute after it
        self.df = None
        # result format codes from Bind (0 text / 1 binary, PG broadcast
        # rules applied against the output column count at Execute time)
        self.result_fmts = result_fmts or []
        # portal-suspension state (Execute with maxrows > 0): a live row
        # iterator survives across Execute messages until exhausted
        self.it: Iterator | None = None
        self.cells: list | None = None  # (row index, encoder) per column
        self.sent = 0

    def close(self) -> None:
        """Drop a suspended cursor, closing its row stream."""
        close = getattr(self.it, "close", None)
        if close is not None:
            close()
        self.it = None


class _CopyIn(NamedTuple):
    """COPY <table> FROM STDIN as the pool resolved it: the target, the
    columns the rows carry (empty: all), and the table's schema."""

    table: str
    cols: list[str]
    schema: StructType
    fmt: str
    header: bool


class _CopyOut(NamedTuple):
    """COPY <query> TO STDOUT: the query's DataFrame, built on the pool."""

    df: DataFrame
    fmt: str
    header: bool


class _ConnState:
    """Per-connection protocol state (the reference's per-session
    Connection object, cpp:42): explicit-transaction flags for rollback
    honesty, SQL-level prepared statements, and extended-protocol
    statements/portals."""

    def __init__(self) -> None:
        self.in_txn = False
        self.wrote_in_txn = False
        self.prepared: dict[str, str] = {}
        # Parse'd statements: name → (raw SQL, declared parameter OIDs)
        self.ext_stmts: dict[str, tuple[str, list[int]]] = {}
        self.portals: dict[str, _Portal] = {}
        self.skip_to_sync = False  # extended-protocol error recovery
        self.job_tag = ""  # Spark job tag for CancelRequest targeting


_PREPARE_RE = re.compile(r"^\s*PREPARE\s+(\w+)\s+AS\s+(.+)$", re.IGNORECASE | re.DOTALL)
_EXECUTE_RE = re.compile(
    r"^\s*EXECUTE\s+(\w+)\s*(?:\((.*)\))?\s*$", re.IGNORECASE | re.DOTALL
)
_DEALLOC_RE = re.compile(
    r"^\s*DEALLOCATE\s+(?:PREPARE\s+)?(\w+|ALL)\s*$", re.IGNORECASE
)


_NUMERIC_RE = re.compile(r"^-?\d+(\.\d+)?([eE][+-]?\d+)?$")

_CREATE_TABLE_RE = re.compile(
    r"^\s*CREATE\s+(OR\s+REPLACE\s+)?(TEMP(?:ORARY)?\s+)?TABLE\s+"
    r"(IF\s+NOT\s+EXISTS\s+)?([\w.]+)\s*(.*)$",
    re.IGNORECASE | re.DOTALL,
)
_UNION_BY_NAME_RE = re.compile(r"\bUNION\s+(ALL\s+)?BY\s+NAME\b", re.IGNORECASE)
_LIMIT_PCT_RE = re.compile(
    r"\bLIMIT\s+(\d+(?:\.\d+)?)\s*(?:%|PERCENT\b)\s*;?\s*$", re.IGNORECASE
)


def _clean_orphan_location(session: SparkSession, name: str) -> None:
    """Remove a MANAGED warehouse directory for ``name`` when the
    catalog has no such table (r17, VERDICT item 1): a killed process
    can leave `spark-warehouse/<table>` files behind after the catalog
    entry is gone, and the next managed CREATE TABLE then raises
    LOCATION_ALREADY_EXISTS — a failure DuckDB-backed servers never
    surface. Only local-filesystem warehouses are touched; anything
    else (hdfs/s3 warehouse, table known to the catalog, explicit
    LOCATION tables — which are external, not managed) is left alone."""
    try:
        if session.catalog.tableExists(name):
            return
        parts = [p.strip("`") for p in name.split(".")]
        if len(parts) > 2:
            # catalog-qualified target: the path below is derived
            # against spark_catalog's warehouse, so a missing
            # othercat.db.t must NOT delete spark_catalog.db.t's live
            # data (r17 review find) — skip, the CREATE surfaces its
            # own error if the location clashes
            return
        tbl = parts[-1].lower()
        db = (
            parts[-2].lower()
            if len(parts) > 1
            else session.catalog.currentDatabase()
        )
        if len(parts) > 1 and session.catalog.tableExists(f"{db}.{tbl}"):
            return  # the LOCAL catalog knows this table: never touch it
        wh = session.conf.get("spark.sql.warehouse.dir")
        from urllib.parse import urlparse

        u = urlparse(wh)
        if u.scheme not in ("", "file"):
            return
        base = u.path or wh
        if db != "default":
            base = os.path.join(base, f"{db}.db")
        loc = os.path.join(base, tbl)
        if os.path.isdir(loc):
            import shutil

            shutil.rmtree(loc, ignore_errors=True)
    except Exception:  # noqa: BLE001 — best-effort hygiene, never fatal
        pass


def _limit_pct_match(stmt: str):
    """End-anchored ``LIMIT n%`` match, but only when the matched span
    is CODE. The bare regex also fired on a percent-limit spelling
    inside a trailing line comment or string literal (`SELECT * FROM r
    -- LIMIT 5%`), silently truncating real SQL at mp.start() and
    applying a bogus row-count limit (ADVICE r10 hardening)."""
    m = _LIMIT_PCT_RE.search(stmt)
    if m is None:
        return None
    from .compat import _code_mask

    mask = _code_mask(stmt)
    span = mask[m.start() : m.end()]
    # the optional trailing `;` / whitespace after a comment-closing
    # newline is code even when the LIMIT itself is commented out —
    # require the LIMIT keyword head to be code
    return m if span and span[0] else None


# pipeline('<registry op>') table function: exposes every queries()
# operator (dedup/similarity/text/multimodal pipelines) to PG clients
# as a relation — `SELECT * FROM pipeline('dedup_exact') WHERE ...`
# composes with arbitrary SQL around it. Over-reference: the reference
# delegates to DuckDB, which has none of these operators. Data comes
# from the same sf_dir whose tables the server registers as views.
_PIPELINE_FN_RE = re.compile(
    r"(?<![\w.])pipeline\s*\(\s*'(\w+)'\s*\)", re.IGNORECASE
)
_PIPELINE_OPS_RE = re.compile(
    r"(?<![\w.])pipeline_ops\s*\(\s*\)", re.IGNORECASE
)
# Data directory for pipeline() operators — MUST match the sf_dir whose
# tables the server registers as views. `python -m ...server --sf-dir X`
# sets it via set_pipeline_sf_dir (server/__main__.py); the env var
# covers embedded use.
PIPELINE_SF_DIR = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.01")

# (name, sf_dir) pairs whose temp view exists. Lazy operators re-execute
# their plan on every query through the view (fixture tables stay the
# source of truth); operators that run eagerly inside their fn
# (streaming replays, driver-side index builds) materialize ONCE per
# server process — the per-epoch shape. A restart refreshes.
_PIPELINE_VIEWS: set[tuple[str, str]] = set()


def set_pipeline_sf_dir(sf_dir: str) -> None:
    global PIPELINE_SF_DIR
    PIPELINE_SF_DIR = sf_dir
    _PIPELINE_VIEWS.clear()


def _substitute_pipeline_fns(session: SparkSession, stmt: str) -> str:
    """Replace each code-level ``pipeline('name')`` / ``pipeline_ops()``
    with a temp view over that registry operator's DataFrame."""
    from .compat import _code_mask

    from .. import registry as _registry

    mask = _code_mask(stmt)
    ops_hits = [
        m for m in _PIPELINE_OPS_RE.finditer(stmt)
        if all(mask[m.start() : m.end()])
    ]
    if ops_hits:
        defs0 = _registry.load_all()
        rows = [
            (n, ", ".join(d.tags or ()), d.oracle is not None)
            for n, d in sorted(defs0.items())
        ]
        _local_df(
            session, rows, "name string, tags string, has_oracle boolean"
        ).createOrReplaceTempView("__pipeline_ops")
        out0: list[str] = []
        pos0 = 0
        for m in ops_hits:
            out0.append(stmt[pos0 : m.start()])
            out0.append("__pipeline_ops")
            pos0 = m.end()
        out0.append(stmt[pos0:])
        stmt = "".join(out0)
        mask = _code_mask(stmt)
    out: list[str] = []
    pos = 0
    defs = None
    for m in _PIPELINE_FN_RE.finditer(stmt):
        if not all(mask[m.start() : m.start() + len("pipeline")]):
            continue
        if defs is None:
            defs = _registry.load_all()
        name = m.group(1).lower()
        if name not in defs:
            raise ValueError(
                f"pipeline: unknown operator {name!r} (run SELECT * FROM "
                "pipeline_ops() for the catalog)"
            )
        view = f"__pipeline_{name}"
        if (name, PIPELINE_SF_DIR) not in _PIPELINE_VIEWS:
            defs[name].fn(session, PIPELINE_SF_DIR).createOrReplaceTempView(view)
            _PIPELINE_VIEWS.add((name, PIPELINE_SF_DIR))
        out.append(stmt[pos : m.start()])
        out.append(view)
        pos = m.end()
    out.append(stmt[pos:])
    return "".join(out)


# CSV relations: DuckDB's sniffing auto-detection (bare ``FROM
# 'x.csv'`` and ``read_csv[_auto]('x.csv')``) maps to a hidden temp
# view over an explicit-schema spark.read.csv — the sniff reads one
# bounded driver-side sample (csv_sniff.py mirrors DuckDB's probed
# rules); the scan itself is distributed and never uses inferSchema's
# full extra pass. Views cache per (path, mtime, overrides).
_CSV_REL_RE = re.compile(
    r"(\b(?:FROM|JOIN)\s+)'([^']+\.(?:csv|tsv))'", re.IGNORECASE
)
_READ_CSV_RE = re.compile(
    r"\bread_csv(?:_auto)?\s*\(\s*'([^']+)'\s*"
    r"((?:,(?:[^()]|\([^()]*\))*)?)\)",  # one paren level: DECIMAL(4,1)
    re.IGNORECASE,
)
# (path, overrides) → mtime of the file(s) the catalog objects were
# built from; a newer mtime drops and recreates them. The lock
# serializes create/drop so two concurrent clients referencing the
# same new file don't race CREATE TABLE on the shared name.
_CSV_VIEWS: dict[tuple, float] = {}
_CSV_VIEWS_LOCK = threading.Lock()


_QUOTED_RE = re.compile(r"'((?:[^']|'')*)'")
_COL_PAIR_RE = re.compile(
    r"'((?:[^']|'')*)'\s*:\s*'((?:[^']|'')*)'"
)


def _consume_list_literal(raw: str, pat: re.Pattern, opt: str) -> list:
    """findall-with-residue-check for a bracketed/braced option literal.

    The plain ``findall`` silently returned an EMPTY (or partial) result
    when an element was unquoted — ``names=[a, b]`` parsed to zero names
    and the explicit option was dropped, contradicting the module's
    refuse-loudly policy (ADVICE r10). Matches must tile the interior
    with only commas/whitespace between them, and at least one element
    must parse."""
    interior = raw.strip()[1:-1]
    groups: list = []
    pos = 0
    for m in pat.finditer(interior):
        if interior[pos : m.start()].strip(" \t\r\n,"):
            raise ValueError(
                f"read_csv: {opt}= could not parse element near "
                f"{interior[pos:m.start()].strip()!r} — elements must be "
                "single-quoted SQL string literals"
            )
        groups.append(m.group(1) if pat.groups == 1 else m.groups())
        pos = m.end()
    if interior[pos:].strip(" \t\r\n,"):
        raise ValueError(
            f"read_csv: {opt}= could not parse element near "
            f"{interior[pos:].strip()!r} — elements must be "
            "single-quoted SQL string literals"
        )
    if not groups:
        raise ValueError(f"read_csv: {opt}= list literal has no elements")
    return groups


def _parse_read_csv_args(argtext: str) -> dict:
    """Named-arg tail of read_csv. Supported (all probed vs DuckDB):
    header, delim/sep, quote, escape, nullstr (single value), names
    (first-N rename), columns ({'name': 'TYPE'} — replaces the sniffed
    schema), all_varchar, ignore_errors (→ DROPMALFORMED),
    dateformat/timestampformat (%-directives → Java pattern), and
    auto_detect=true. Anything else refuses loudly (a silently-ignored
    explicit option would contradict the user)."""
    overrides: dict = {}
    argtext = (argtext or "").strip().lstrip(",").strip()
    if not argtext:
        return overrides
    # split on commas OUTSIDE quotes and outside [] {} () nesting
    # (delim=',' carries one inside quotes; names/columns nest commas)
    parts, buf, inq, depth = [], [], False, 0
    for ch in argtext:
        if ch == "'":
            inq = not inq
            buf.append(ch)
        elif not inq and ch in "[{(":
            depth += 1
            buf.append(ch)
        elif not inq and ch in "]})":
            depth -= 1
            buf.append(ch)
        elif ch == "," and not inq and depth == 0:
            parts.append("".join(buf))
            buf = []
        else:
            buf.append(ch)
    parts.append("".join(buf))

    def _bool(v: str) -> bool:
        return v.strip().strip("'").lower() in ("true", "1")

    for part in parts:
        part = part.strip()
        if not part:
            continue
        m = re.match(r"(\w+)\s*(?::=|=)\s*(.+)$", part, re.DOTALL)
        if not m:
            raise ValueError(
                f"read_csv: unsupported argument {part!r} — positional "
                "options are not supported; use named options or a "
                "CREATE VIEW over the sniffed relation"
            )
        k, raw = m.group(1).lower(), m.group(2).strip()
        qm = _QUOTED_RE.fullmatch(raw)
        # SQL-literal unquote ('' → '); bare words pass through
        v = qm.group(1).replace("''", "'") if qm else raw
        if k in ("delim", "sep"):
            overrides["sep"] = v
        elif k == "header":
            overrides["header"] = _bool(raw)
        elif k == "quote":
            if v == "":
                raise ValueError(
                    "read_csv: quote='' (disabled quoting) is not "
                    "supported — pick an unused quote character"
                )
            overrides["quote"] = v
        elif k == "escape":
            if v == "":
                raise ValueError(
                    "read_csv: escape='' (disabled escaping) is not "
                    "supported — pick an unused escape character"
                )
            overrides["escape"] = v
        elif k == "nullstr":
            if raw.startswith("["):
                vals = [
                    s.replace("''", "'")
                    for s in _consume_list_literal(raw, _QUOTED_RE, "nullstr")
                ]
                if len(set(vals)) > 1:
                    raise ValueError(
                        "read_csv: multiple nullstr values are not "
                        "supported (Spark's scan takes one nullValue)"
                    )
                overrides["nullstr"] = vals[0] if vals else ""
            else:
                overrides["nullstr"] = v
        elif k == "names" or k == "column_names":
            if not raw.startswith("["):
                raise ValueError("read_csv: names= takes a list literal")
            overrides["names"] = tuple(
                s.replace("''", "'")
                for s in _consume_list_literal(raw, _QUOTED_RE, k)
            )
        elif k in ("columns", "types"):
            if not raw.startswith("{"):
                raise ValueError(
                    f"read_csv: {k}= takes a struct literal "
                    "{'name': 'TYPE', ...} (positional type lists are "
                    "not supported)"
                )
            pairs = tuple(
                (n.replace("''", "'"), t.replace("''", "'"))
                for n, t in _consume_list_literal(raw, _COL_PAIR_RE, k)
            )
            overrides["columns"] = pairs
        elif k == "all_varchar":
            overrides["all_varchar"] = _bool(raw)
        elif k == "ignore_errors":
            overrides["ignore_errors"] = _bool(raw)
        elif k in ("dateformat", "date_format"):
            overrides["dateformat"] = v
        elif k in ("timestampformat", "timestamp_format"):
            overrides["timestampformat"] = v
        elif k == "auto_detect":
            # validated AFTER the loop — DuckDB accepts auto_detect
            # before or after columns= (code review r10)
            overrides["_auto_detect"] = _bool(raw)
        else:
            raise ValueError(
                f"read_csv: option {k!r} is not supported — supported "
                "named options: header, delim/sep, quote, escape, "
                "nullstr, names, columns, all_varchar, ignore_errors, "
                "dateformat, timestampformat (the sniffer auto-detects "
                "the rest)"
            )
    if overrides.pop("_auto_detect", True) is False and (
        "columns" not in overrides
    ):
        raise ValueError("read_csv: auto_detect=false requires columns=")
    return overrides


def _csv_view(session: SparkSession, path: str, overrides: dict) -> str:
    """Catalog name for a sniffed CSV relation: a PERMANENT external
    table (``USING csv OPTIONS (path ...)``, no data copy) so user DDL
    like CREATE VIEW ... AS SELECT FROM 'x.csv' composes (a temp view
    would trip Spark's no-persistent-over-temporary rule, code review
    r8), plus a projection view on top when boolean columns need the
    t/f CASE. Qualified into `default` so it resolves regardless of the
    session's current database. Cache keyed (path, overrides) → mtime;
    a changed file drops and recreates the objects (no unbounded
    view leak)."""
    import glob as _glob
    import hashlib

    matches = sorted(_glob.glob(path)) or [path]
    if not os.path.isfile(matches[0]):
        raise ValueError(f'could not open CSV file "{path}"')
    mtime = max(os.path.getmtime(m) for m in matches)
    key = (path, tuple(sorted(overrides.items())))
    name = "__csvrel_" + hashlib.md5(repr(key).encode()).hexdigest()[:12]
    qual = f"default.`{name}`"
    # the whole check-create runs under the lock: an unlocked fast
    # path could hand out the name mid-DROP/recreate of another
    # thread's refresh of the same changed file (code review r8)
    with _CSV_VIEWS_LOCK:
        if _CSV_VIEWS.get(key) == mtime:
            return qual
        return _csv_view_create(session, path, matches, overrides,
                                key, mtime, name, qual)


def _csv_view_create(
    session: SparkSession, path: str, matches: list, overrides: dict,
    key: tuple, mtime: float, name: str, qual: str,
) -> str:
    import hashlib

    from .csv_sniff import sniff_file

    sn = sniff_file(
        path,
        sep=overrides.get("sep"),
        header=overrides.get("header"),
        quote=overrides.get("quote"),
        nullstr=overrides.get("nullstr"),
        names=overrides.get("names"),
        columns=overrides.get("columns"),
        all_varchar=overrides.get("all_varchar", False),
        datefmt=overrides.get("dateformat"),
        tsfmt=overrides.get("timestampformat"),
        escape=overrides.get("escape"),
    )
    # Spark's file index treats '_'/'.'-prefixed basenames as hidden
    # metadata (the parquet _SUCCESS convention) and SILENTLY skips
    # them; DuckDB reads them. For a single file, bridge through a
    # safely-named symlink; for a glob mixing hidden names, refuse
    # loudly rather than silently dropping part of the input.
    hidden = [m for m in matches if os.path.basename(m)[:1] in ("_", ".")]
    if hidden and len(matches) == 1:
        import tempfile

        safe = os.path.join(
            tempfile.gettempdir(),
            "csvrel_"
            + hashlib.md5(os.path.abspath(matches[0]).encode()).hexdigest()[:12]
            + "_"
            + os.path.basename(matches[0]).lstrip("_."),
        )
        if not os.path.islink(safe) and not os.path.exists(safe):
            os.symlink(os.path.abspath(matches[0]), safe)
        path = safe
    elif hidden:
        raise ValueError(
            f'CSV glob "{path}" matches hidden-named files '
            f"({os.path.basename(hidden[0])!r}): Spark's scanner skips "
            "'_'/'.'-prefixed files — rename them or list them "
            "individually"
        )
    needs_proj = sn["needs_projection"]
    raw = f"default.`{name}__raw`" if needs_proj else qual
    for drop in (
        f"DROP VIEW IF EXISTS {qual}",
        f"DROP TABLE IF EXISTS {qual}",
        f"DROP TABLE IF EXISTS default.`{name}__raw`",
    ):
        try:
            session.sql(drop)
        except Exception:  # noqa: BLE001 — name bound to the other kind
            pass
    def _opt(v: str) -> str:
        return v.replace("\\", "\\\\").replace("'", "\\'")

    opts = [
        f"path '{path}'",
        f"sep '{_opt(sn['sep'])}'",
        f"header '{str(sn['header']).lower()}'",
    ]
    if overrides.get("quote"):
        opts.append(f"quote '{_opt(overrides['quote'])}'")
    if overrides.get("escape"):
        opts.append(f"escape '{_opt(overrides['escape'])}'")
    if overrides.get("nullstr"):
        opts.append(f"nullValue '{_opt(overrides['nullstr'])}'")
    if overrides.get("ignore_errors"):
        opts.append("mode 'DROPMALFORMED'")
    # DuckDB %-directive formats → Java patterns (the parse direction:
    # single letters accept 1-2 digits like DuckDB)
    if overrides.get("dateformat"):
        from .compat import _translate_strf

        opts.append(
            f"dateFormat '{_opt(_translate_strf(overrides['dateformat'], parse=True))}'"
        )
    if overrides.get("timestampformat"):
        from .compat import _translate_strf

        opts.append(
            "timestampFormat "
            f"'{_opt(_translate_strf(overrides['timestampformat'], parse=True))}'"
        )
    session.sql(
        f"CREATE TABLE {raw} ({sn['schema_ddl']}) USING csv OPTIONS ("
        + ", ".join(opts)
        + ")"
    )
    if needs_proj:
        session.sql(
            f"CREATE VIEW {qual} AS SELECT "
            + ", ".join(sn["select_exprs"])
            + f" FROM {raw}"
        )
    _CSV_VIEWS[key] = mtime
    return qual


def _substitute_csv_relations(session: SparkSession, stmt: str) -> str:
    """Bare-path CSV relations + read_csv[_auto]() → sniffed temp
    views. The COPY <tbl> FROM 'x.csv' operand keeps its raw path for
    the COPY loader (which applies the same sniff on its own path)."""
    from .compat import _code_mask

    from .compat import copy_from_operand_span

    low = stmt.lower()
    if ".csv" not in low and ".tsv" not in low and "read_csv" not in low:
        return stmt
    mask = _code_mask(stmt)
    out: list[str] = []
    pos = 0
    for m in _READ_CSV_RE.finditer(stmt):
        if not all(mask[m.start() : m.start() + 8]):
            continue
        view = _csv_view(session, m.group(1), _parse_read_csv_args(m.group(2)))
        out.append(stmt[pos : m.start()])
        out.append(view)
        pos = m.end()
    out.append(stmt[pos:])
    stmt = "".join(out)
    mask = _code_mask(stmt)
    skip = copy_from_operand_span(stmt)

    def sub_bare(m: re.Match) -> str:
        if not all(mask[m.start(1) : m.end(1)]):
            return m.group(0)
        if skip and m.start(1) == skip[0]:
            return m.group(0)
        return m.group(1) + _csv_view(session, m.group(2), {})

    return _CSV_REL_RE.sub(sub_bare, stmt)


_WITH_RECURSIVE_RE = re.compile(r"^\s*WITH\s+RECURSIVE\s+", re.IGNORECASE)
_REC_MAX_ITER = 10_000


def _split_top_union(body: str) -> list[str]:
    """Split a query body at top-level deduplicating UNION boundaries
    (code regions only, single depth-tracking pass). ``UNION ALL`` —
    even with comments between the words — is NOT a boundary; an
    explicit ``UNION DISTINCT`` is (the keyword is consumed). Returns
    the parts; len 1 = no dedup UNION."""
    from .compat import _code_mask

    mask = _code_mask(body)
    parts: list[str] = []
    depth, last, i, n = 0, 0, 0, len(body)
    while i < n:
        if not mask[i]:
            i += 1
            continue
        c = body[i]
        if c in "([":
            depth += 1
        elif c in ")]":
            depth -= 1
        elif (
            depth == 0
            and c in "Uu"
            and re.match(r"UNION\b", body[i:], re.IGNORECASE)
            and not (i > 0 and (body[i - 1].isalnum() or body[i - 1] == "_"))
        ):
            j = i + 5
            # skip whitespace and comment spans to the next code token
            while j < n and (body[j].isspace() or not mask[j]):
                j += 1
            wm = re.match(r"(ALL|DISTINCT)\b", body[j:], re.IGNORECASE)
            if wm and wm.group(1).upper() == "ALL":
                i = j + 3
                continue
            parts.append(body[last:i])
            last = j + (len(wm.group(1)) if wm else 0)
            i = last
            continue
        i += 1
    parts.append(body[last:])
    return parts


# words that can follow a table reference WITHOUT being its alias
_TABLE_TAIL_KEYWORDS = frozenset(
    """on where group order having limit union intersect except join
    inner left right full cross natural using values select offset
    fetch window qualify anti semi asof lateral positional when then
    else end and or not set returning""".split()
)


def _table_refs(text: str, name: str) -> list[re.Match]:
    """Matches of ``name`` as a TABLE reference: FROM/JOIN position,
    code regions only. Columns or aliases merely SPELLED like the CTE
    name don't count (review r10) — a recursive reference must appear
    in table position. (Comma-separated table lists after the first
    entry are not matched; those statements fall through to Spark's
    loud unsupported-recursion error.)"""
    from .compat import _code_mask

    mask = _code_mask(text)
    pat = re.compile(
        rf"\b(FROM|JOIN)\s+({re.escape(name)})(?![\w.(`])", re.IGNORECASE
    )
    return [
        m for m in pat.finditer(text) if all(mask[m.start() : m.end()])
    ]


def _sub_table_refs(text: str, name: str, view: str) -> str:
    """Rewrite table references to CTE ``name`` to read ``view``
    instead. Unaliased references keep the name reachable as a
    qualifier (``FROM t`` → ``FROM view AS t`` so ``t.col`` still
    resolves); aliased ones (``FROM t r``) take the view bare — the
    alias replaces the name as the only legal qualifier."""
    out, pos = [], 0
    for m in _table_refs(text, name):
        out.append(text[pos : m.start(2)])
        am = re.match(
            r"\s+(AS\s+)?([A-Za-z_]\w*)", text[m.end(2) :], re.IGNORECASE
        )
        aliased = am is not None and (
            am.group(1) is not None
            or am.group(2).lower() not in _TABLE_TAIL_KEYWORDS
        )
        out.append(view if aliased else f"{view} AS {name}")
        pos = m.end(2)
    out.append(text[pos:])
    return "".join(out)


_CTE_HEAD_RE = re.compile(
    r"\s*([A-Za-z_]\w*)\s*(\(([^)]*)\))?\s+AS\s*\(", re.IGNORECASE
)
_REC_SEQ = itertools.count()


def _recursive_union_df(session: SparkSession, stmt: str):
    """DuckDB ``WITH RECURSIVE t AS (base UNION step)`` — the
    deduplicating fixpoint form Spark 4.1 rejects loudly (UNION ALL
    recursion is native and passes through). Semi-naive evaluation:
    the recursive reference sees only the PREVIOUS iteration's NEW
    rows (the SQL-standard working table, same as DuckDB/PG), new
    rows are deduped against everything seen, and iteration stops at
    an empty frontier — so cyclic step queries terminate, which a
    textual UNION ALL + DISTINCT rewrite would not. One distributed
    job per iteration (the dedup_cluster_components precedent).

    Lineage discipline (all review/r10-probed): every per-iteration
    frame is localCheckpoint'ed so the logical plan NEVER nests —
    nested EXCEPT/UNION plans send Catalyst's constraint analysis
    super-linear (a 10-deep chain hangs); the dedup itself is a
    NULL-safe left-anti join, not subtract, because checkpointing an
    EXCEPT plan trips Spark's ExpressionSet 'key not found' bug.
    Checkpoint RDD blocks free on GC via the ContextCleaner — no
    cache bookkeeping. The recursive reference binds to a UNIQUE temp
    view (concurrency-safe on the shared session, user temp views
    untouched); Spark inlines temp-view plans at ANALYSIS time, so
    dropping the views afterwards cannot unbind the analyzed result.
    Returns None when the statement is not this shape."""
    from .compat import _code_mask, rewrite, split_top_level

    m = _WITH_RECURSIVE_RE.match(stmt)
    if m is None:
        return None
    # parse the CTE list: name[(cols)] AS ( body ) [, ...] final
    mask = _code_mask(stmt)
    pos = m.end()
    ctes: list[dict] = []
    while True:
        hm = _CTE_HEAD_RE.match(stmt, pos)
        if hm is None:
            return None  # unparseable head: let Spark error natively
        depth, j = 1, hm.end()
        while j < len(stmt) and depth:
            if mask[j]:
                if stmt[j] == "(":
                    depth += 1
                elif stmt[j] == ")":
                    depth -= 1
            j += 1
        if depth:
            return None
        body = stmt[hm.end() : j - 1]
        ctes.append(
            {
                "name": hm.group(1),
                "cols": [
                    c.strip() for c in split_top_level(hm.group(3))
                ]
                if hm.group(3)
                else None,
                "body": body,
                "parts": _split_top_union(body),
            }
        )
        cm = re.compile(r"\s*,").match(stmt, j)
        if cm is None:
            final = stmt[j:]
            break
        pos = cm.end()

    def refs(text: str, name: str) -> bool:
        return bool(_table_refs(text, name))

    # the recursive-UNION CTE: self-referencing body with a top-level
    # dedup UNION. UNION ALL recursion (incl. sibling CTEs) stays
    # native under the re-emitted WITH RECURSIVE prefix.
    rec = [
        c
        for c in ctes
        if refs(c["body"], c["name"]) and len(c["parts"]) > 1
    ]
    if len(rec) != 1:
        return None  # none → native; several → Spark's loud error
    cte = rec[0]
    name = cte["name"]
    base_parts = [p for p in cte["parts"] if not refs(p, name)]
    step_parts = [p for p in cte["parts"] if refs(p, name)]
    if not base_parts or len(step_parts) != 1:
        return None
    others = [c for c in ctes if c is not cte]
    if any(refs(c["body"], name) for c in others):
        return None  # cross-CTE recursion: keep Spark's loud error

    def with_prefix(q: str) -> str:
        if not others:
            return q
        heads = ", ".join(
            f"{c['name']}{'(' + ', '.join(c['cols']) + ')' if c['cols'] else ''}"
            f" AS ({c['body']})"
            for c in others
        )
        # RECURSIVE: a sibling may itself be a (native) UNION ALL
        # recursive CTE (review r10)
        return f"WITH RECURSIVE {heads} {q}"

    uid = next(_REC_SEQ)
    fv = f"__rec_frontier_{uid}"
    av = f"__rec_acc_{uid}"
    base_sql = " UNION ".join(f"SELECT * FROM ({p}) __rb" for p in base_parts)
    acc = session.sql(_hugeint_sums(session, rewrite(with_prefix(base_sql))))
    if cte["cols"]:
        acc = acc.toDF(*cte["cols"])
    acc = acc.distinct().localCheckpoint()
    cols = acc.columns
    frontier = acc
    step_sql = _hugeint_sums(
        session, rewrite(_sub_table_refs(with_prefix(step_parts[0]), name, fv))
    )
    try:
        for _ in range(_REC_MAX_ITER):
            frontier.createOrReplaceTempView(fv)
            cand = (
                session.sql(step_sql).toDF(*cols).distinct().localCheckpoint()
            )
            cond = None
            for c in cols:
                e = F.col(f"__rc.`{c}`").eqNullSafe(F.col(f"__rp.`{c}`"))
                cond = e if cond is None else cond & e
            new = (
                cand.alias("__rc")
                .join(acc.alias("__rp"), cond, "left_anti")
                .localCheckpoint()
            )
            if new.isEmpty():
                break
            acc = acc.union(new)  # flat union of checkpointed leaves
            frontier = new
        else:
            raise ValueError(
                f"recursive CTE {name!r} exceeded {_REC_MAX_ITER} "
                "iterations"
            )
        acc.createOrReplaceTempView(av)
        final_sql = _sub_table_refs(with_prefix(final), name, av)
        # DuckDB's percentage LIMIT in the final query (the generic
        # paths translate it; this handler claims the statement first)
        mp = _limit_pct_match(final_sql)
        if mp:
            d0 = session.sql(
                _hugeint_sums(session, rewrite(final_sql[: mp.start()]))
            )
            return d0.limit(int(d0.count() * float(mp.group(1)) / 100.0))
        return session.sql(_hugeint_sums(session, rewrite(final_sql)))
    finally:
        for v in (fv, av):
            try:
                session.catalog.dropTempView(v)
            except Exception:  # noqa: BLE001 — not created on early exit
                pass


_QUERY_HEADS = frozenset({"SELECT", "WITH", "VALUES", "TABLE", "FROM"})
_ROW_HEADS = _QUERY_HEADS | {
    "SHOW", "DESCRIBE", "DESC", "SUMMARIZE", "PRAGMA", "EXPLAIN", "PIVOT",
    "UNPIVOT",
}


def _rows_df(session: SparkSession, stmt: str) -> DataFrame | None:
    """The one builder of row results: the DataFrame a row-returning
    statement answers, in its wire shape, or None for a command. A
    simple Query, a portal's Describe and the inner query of COPY … TO
    all build here, so the spellings Spark's parser can't take whole
    (UNION BY NAME, WITH RECURSIVE, LIMIT n%, DuckDB's PIVOT/UNPIVOT
    statements) and the driver-built answers (DESCRIBE/SHOW/SUMMARIZE,
    PRAGMA, EXPLAIN ANALYZE) answer the same on every path."""
    first = stmt.lstrip().split(None, 1)[0].upper() if stmt.strip() else ""
    if first not in _ROW_HEADS:
        return None
    df = None
    if _is_introspection(stmt):
        df = _introspection_df(session, stmt)
    elif first == "PRAGMA":
        df = _pragma_df(session, stmt)
        if df is None:  # unknown pragma: Spark's parser reports it
            return None
    elif first == "EXPLAIN" and (m := _EXPLAIN_ANALYZE_RE.match(stmt)):
        # before rewrite(), which maps the plain form to EXPLAIN
        # EXTENDED: ANALYZE must actually run the query
        df = _explain_analyze_df(session, m.group(1))
    elif first == "UNPIVOT" and (u := _match_unpivot_stmt(stmt)):
        tbl, cols, name_col, val_col = u
        if tbl.startswith("("):
            # rewrite the inner query through the full dialect
            # pipeline; alias for Spark's derived-table rule
            tbl = f"({rewrite(tbl[1:-1])}) __unpivot_src"
        df = session.sql(
            f"SELECT * FROM {tbl} UNPIVOT ({val_col} FOR {name_col} IN ({cols}))"
        )
    elif first == "PIVOT" and (pivot_sql := _dynamic_pivot_sql(session, stmt)):
        df = session.sql(pivot_sql)
    elif first in _QUERY_HEADS:
        if _UNION_BY_NAME_RE.search(stmt):
            df = _union_by_name_df(session, stmt)
        if df is None and first == "WITH" and _WITH_RECURSIVE_RE.match(stmt):
            df = _recursive_union_df(session, stmt)
        if df is None and (mp := _limit_pct_match(stmt)):
            d0 = _planned(session, stmt[: mp.start()])
            # DuckDB TRUNCATES the percentage row count (probed: LIMIT
            # 10% of 5 rows returns 0 rows, 90% returns 4)
            df = d0.limit(int(d0.count() * float(mp.group(1)) / 100.0))
    if df is None:
        df = _planned(session, stmt)
    return _ym_safe(_interval_lit_fold(df, stmt))


def _planned(session: SparkSession, stmt: str) -> DataFrame:
    """session.sql of the rewritten statement — the "prepare" step: the
    schema is known before execution, like conn.Prepare → GetNames/
    GetTypes (cpp:52,62-64)."""
    return _prepared(session, _hugeint_sums(session, rewrite(stmt)))


def _prepared(session: SparkSession, typed: str) -> DataFrame:
    """session.sql of statement text that has been through rewrite()
    and the schema-typed pass; the pg_catalog emulation views are
    rebuilt first when the statement reads them."""
    if _PG_CATALOG_RE.search(typed):
        _refresh_pg_catalog(session)
    return session.sql(typed)


def _union_by_name_df(session: SparkSession, stmt: str):
    """DuckDB ``q1 UNION [ALL] BY NAME q2`` → DataFrame unionByName
    with allowMissingColumns (DuckDB NULL-fills absent columns). Parts
    are split at paren depth 0; plain UNION dedupes the ACCUMULATED
    result at its own step (left-associative — a later UNION ALL keeps
    duplicates it introduces, probed vs DuckDB). A trailing top-level
    ORDER BY / LIMIT / OFFSET on the last part scopes to the WHOLE
    union, as in SQL. Returns None when the spelling is only inside
    parens — the generic path then reports Spark's own error."""
    from .compat import _code_mask, _find_keyword

    mask = _code_mask(stmt)
    parts: list[tuple[str, bool]] = []  # (sql, all_flag of the JOINING op)
    depth = 0
    last = 0
    i = 0
    found = False
    while i < len(stmt):
        if mask[i]:
            c = stmt[i]
            if c == "(":
                depth += 1
            elif c == ")":
                depth -= 1
            elif depth == 0 and c in "Uu":
                m = _UNION_BY_NAME_RE.match(stmt, i)
                if m and all(mask[i : m.end()]):
                    parts.append((stmt[last:i], bool(m.group(1))))
                    last = m.end()
                    i = m.end()
                    found = True
                    continue
        i += 1
    if not found:
        return None
    final = stmt[last:].rstrip().rstrip(";")
    # the union's tail: first top-level ORDER BY/LIMIT/OFFSET of the
    # last part belongs to the whole statement
    cut = len(final)
    for kw in ("ORDER BY", "LIMIT", "OFFSET"):
        p = _find_keyword(final, kw)
        if p != -1:
            cut = min(cut, p)
    tail = final[cut:].strip()
    parts.append((final[:cut], False))
    df = session.sql(rewrite(parts[0][0]))
    for k in range(1, len(parts)):
        nxt = session.sql(rewrite(parts[k][0]))
        df = df.unionByName(nxt, allowMissingColumns=True)
        if not parts[k - 1][1]:  # plain UNION dedupes what's accumulated
            df = df.distinct()
    if tail:
        import uuid

        v = f"__ubn_{uuid.uuid4().hex[:12]}"
        df.createOrReplaceTempView(v)
        df = session.sql(rewrite(f"SELECT * FROM {v} {tail}"))
    return df


def _param_literal(p: bytes | None) -> str:
    """Text-format parameter value → SQL literal (PG infers parameter
    types; without a type-inference pass the portable approximation is:
    numerics and booleans inline bare, everything else as an escaped
    string literal — Spark's implicit casts cover the common cases)."""
    if p is None:
        return "NULL"
    s = p.decode()
    if _NUMERIC_RE.match(s) or s.lower() in ("true", "false"):
        return s
    # PG-style literal: quote doubling only. The substituted statement
    # always passes through compat.rewrite(), whose _pg_escape_literals
    # pass doubles backslashes for Spark's escape-processing parser —
    # escaping here too would quadruple them.
    return "'" + s.replace("'", "''") + "'"


_PLACEHOLDER_RE = re.compile(r"\$(\d+)|\?")


def _count_params(sql: str) -> int:
    """Parameter count for Describe('S'): scan only code segments (a
    ``$1`` inside a string literal is data), and size by the MAX ``$N``
    index — PG numbers parameters, so ``$1, $3`` means three slots — plus
    any ``?`` placeholders, which are positional."""
    max_dollar = 0
    n_qmark = 0
    for kind, seg in _lex(sql):
        if kind != "code":
            continue
        for m in _PLACEHOLDER_RE.finditer(seg):
            if m.group(1) is not None:
                max_dollar = max(max_dollar, int(m.group(1)))
            else:
                n_qmark += 1
    return max_dollar + n_qmark


def _substitute_params(sql: str, args: list[str]) -> str:
    """Inline EXECUTE arguments into ``$N`` / ``?`` placeholders (code
    segments only — a ``$1`` inside a string literal is data). One
    left-to-right pass over the original text: inserted replacement text
    is never re-scanned, so a bound value containing ``?`` or ``$2``
    cannot be mistaken for a placeholder."""
    out: list[str] = []
    qmark_idx = 0
    for kind, seg in _lex(sql):
        if kind != "code":
            out.append(seg)
            continue
        pos = 0
        for m in _PLACEHOLDER_RE.finditer(seg):
            out.append(seg[pos : m.start()])
            if m.group(1) is not None:
                i = int(m.group(1))
                if not 1 <= i <= len(args):
                    raise _WireError(
                        f"no parameter ${i} (got {len(args)} args)", "42P02"
                    )
                out.append(args[i - 1])
            else:
                if qmark_idx >= len(args):
                    raise _WireError("not enough EXECUTE arguments for ?", "42P02")
                out.append(args[qmark_idx])
                qmark_idx += 1
            pos = m.end()
        out.append(seg[pos:])
    return "".join(out)


# words between a command's verb and its object that PostgreSQL's tag
# leaves out: CREATE OR REPLACE TEMP VIEW answers CREATE VIEW
_TAG_MODIFIERS = {"OR", "REPLACE", "TEMP", "TEMPORARY", "GLOBAL", "LOCAL"}


def _command_tag(sql: str, nrows: int) -> str:
    head = sql.lstrip().split(None, 1)
    word = head[0].upper() if head else "SELECT"
    if (word in _ROW_HEADS and word not in ("SHOW", "EXPLAIN")) or (
        word == "SHOW" and _is_introspection(sql)
    ):
        # DuckDB tags every query and driver-built answer SELECT <n>
        return f"SELECT {nrows}"
    if word == "EXPLAIN" and _EXPLAIN_ANALYZE_RE.match(sql):
        return "EXPLAIN"
    if word == "INSERT":
        return f"INSERT 0 {nrows}"
    if word in ("UPDATE", "DELETE"):
        return f"{word} {nrows}"
    rest = head[1].split(None, len(_TAG_MODIFIERS)) if len(head) > 1 else []
    obj = next((w.upper() for w in rest if w.upper() not in _TAG_MODIFIERS), None)
    return word if obj is None else f"{word} {obj}"


class PgWireServer:
    """One shared SparkSession serving any number of PG clients."""

    def __init__(
        self,
        spark: SparkSession,
        host: str = "0.0.0.0",
        port: int = 15432,
        reference_compat: bool = False,
        max_workers: int = 8,
        isolate_sessions: bool = False,
        session_setup=None,
        catalog_dir: str | None = None,
    ) -> None:
        self.spark = spark
        self.host = host
        self.port = port
        # reference_compat=True reproduces the reference's drop-unmapped-
        # columns quirk (SURVEY.md §1.2) for bug-for-bug testing.
        self.reference_compat = reference_compat
        # isolate_sessions=True gives each client its own
        # spark.newSession(): shared catalog/executors, isolated temp
        # views + confs — the Spark analogue of the reference's
        # fresh-Connection-per-query on a shared DatabaseInstance
        # (cpp:42,184-186). session_setup(session) re-registers
        # per-session state (fixture views, UDFs) for each client.
        self.isolate_sessions = isolate_sessions
        self.session_setup = session_setup
        # catalog_dir: persist wire-layer DDL (enum types, aliases,
        # macros, sequence counters) to a JSON sidecar there — DuckDB's
        # file-backed-database semantics. None = process-scope only
        # (DuckDB :memory:).
        self.catalog_dir = catalog_dir
        self._pool = concurrent.futures.ThreadPoolExecutor(max_workers=max_workers)
        self._server: asyncio.AbstractServer | None = None
        self._tasks: set[asyncio.Task] = set()  # one _handle task per client
        # CancelRequest routing: secret key (sent in BackendKeyData) →
        # Spark job tag of that connection's in-flight queries.
        self._cancel_tags: dict[int, str] = {}
        self._key_counter = itertools.count(1)

    # ------------------------------------------------------------ execution

    def _exec(self, session: SparkSession, tag: str, fn, *args):
        """Run fn in the worker pool with this connection's Spark job tag
        set on the worker thread (thread-local in Spark) so a concurrent
        CancelRequest can kill exactly this connection's running jobs via
        cancelJobsWithTag — true cancellation, not just a dropped socket."""
        loop = asyncio.get_running_loop()

        def call():
            sc = session.sparkContext
            sc.clearJobTags()
            if tag:
                sc.addJobTag(tag)
                sc.setInterruptOnCancel(True)
            try:
                return fn(*args)
            finally:
                sc.clearJobTags()

        return loop.run_in_executor(self._pool, call)

    # ------------------------------------------------------------ lifecycle

    async def start(self) -> None:
        if self.catalog_dir is not None:
            from . import catalog_persist

            catalog_persist.enable(self.catalog_dir)
        self._server = await asyncio.start_server(self._handle, self.host, self.port)
        log.info("pgwire listening on %s:%d", self.host, self.port)

    async def serve_forever(self) -> None:
        if self._server is None:
            await self.start()
        assert self._server is not None
        async with self._server:
            await self._server.serve_forever()

    async def stop(self) -> None:
        if self.catalog_dir is not None:
            from . import catalog_persist

            catalog_persist.disable()
        if self._server is not None:
            self._server.close()
        # End the connection tasks while the loop is still alive: each
        # closes its own transport, which a task left pending past the
        # loop's end would do on a closed loop ("Event loop is closed").
        for task in self._tasks:
            task.cancel()
        await asyncio.gather(*self._tasks, return_exceptions=True)
        if self._server is not None:
            await self._server.wait_closed()
        self._pool.shutdown(wait=False, cancel_futures=True)

    # ------------------------------------------------------------ handshake

    async def _handle(
        self, reader: asyncio.StreamReader, writer: asyncio.StreamWriter
    ) -> None:
        task = asyncio.current_task()
        self._tasks.add(task)
        cancel_key: int | None = None
        state = _ConnState()
        try:
            cancel_key = await self._startup(reader, writer)
            if cancel_key is None:
                return
            if self.isolate_sessions:
                loop = asyncio.get_running_loop()

                def make_session():
                    sess = self.spark.newSession()
                    if self.session_setup is not None:
                        self.session_setup(sess)
                    return sess

                session = await loop.run_in_executor(self._pool, make_session)
            else:
                session = self.spark
            state.job_tag = self._cancel_tags[cancel_key]
            await self._query_loop(reader, writer, session, state)
        except (asyncio.IncompleteReadError, ConnectionResetError):
            pass
        except Exception:  # noqa: BLE001
            log.exception("session crashed")
        finally:
            for portal in state.portals.values():
                portal.close()
            if cancel_key is not None:
                self._cancel_tags.pop(cancel_key, None)
            self._tasks.discard(task)
            writer.close()
            try:
                await writer.wait_closed()
            except Exception:  # noqa: BLE001
                pass

    async def _startup(
        self, reader: asyncio.StreamReader, writer: asyncio.StreamWriter
    ) -> int | None:
        """Handshake; returns the connection's cancel key (registered in
        _cancel_tags) or None when no query loop should start."""
        while True:
            raw = await reader.readexactly(4)
            (length,) = struct.unpack("!I", raw)
            payload = await reader.readexactly(length - 4)
            (code,) = struct.unpack("!I", payload[:4])
            if code == P.SSL_REQUEST or code == P.GSSENC_REQUEST:
                writer.write(b"N")  # no TLS — reference runs ssl-disabled too
                await writer.drain()
                continue
            if code == P.CANCEL_REQUEST:
                # Out-of-band cancel: kill the target connection's Spark
                # jobs (not merely this throwaway socket). PG never
                # answers a CancelRequest.
                if len(payload) >= 12:
                    _pid, key = struct.unpack("!II", payload[4:12])
                    tag = self._cancel_tags.get(key)
                    if tag:
                        loop = asyncio.get_running_loop()
                        await loop.run_in_executor(
                            self._pool,
                            self.spark.sparkContext.cancelJobsWithTag,
                            tag,
                        )
                return None
            if code != P.PROTOCOL_V3:
                writer.write(P.error_response(f"unsupported protocol {code}", "08P01"))
                await writer.drain()
                return None
            params = P.parse_startup_payload(payload[4:])
            log.info("startup: %s", params)
            break
        # trust auth (the reference does no auth at all)
        writer.write(P.auth_ok())
        for k, v in (
            ("server_version", "15.0 (duckdb_pgwire_spark)"),
            ("server_encoding", "UTF8"),
            ("client_encoding", "UTF8"),
            ("DateStyle", "ISO, MDY"),
            ("integer_datetimes", "on"),
            ("standard_conforming_strings", "on"),
        ):
            writer.write(P.parameter_status(k, v))
        key = next(self._key_counter) & 0x7FFFFFFF
        self._cancel_tags[key] = f"pgwire-conn-{key}"
        writer.write(P.backend_key_data(os.getpid() & 0x7FFFFFFF, key))
        writer.write(P.ready_for_query())
        await writer.drain()
        return key

    # ------------------------------------------------------------ queries

    async def _query_loop(
        self,
        reader: asyncio.StreamReader,
        writer: asyncio.StreamWriter,
        session: SparkSession,
        state: _ConnState,
    ) -> None:
        while True:
            tag = await reader.readexactly(1)
            (length,) = struct.unpack("!I", await reader.readexactly(4))
            payload = await reader.readexactly(length - 4)
            if tag == b"X":  # Terminate
                return
            if tag in (b"P", b"B", b"D", b"E", b"C", b"H", b"S"):
                await self._handle_extended(tag, payload, writer, session, state)
                continue
            if tag != b"Q":
                writer.write(
                    P.error_response(
                        f"unsupported message {tag!r}",
                        "0A000",
                    )
                )
                writer.write(P.ready_for_query())
                await writer.drain()
                continue
            sql_text = payload.rstrip(b"\x00").decode()
            stmts = split_statements(sql_text)
            if not stmts:
                writer.write(P.empty_query_response())
            for stmt in stmts:
                try:
                    await self._run_statement(
                        stmt, writer, session, state, reader=reader
                    )
                except Exception as exc:  # noqa: BLE001 — any engine error → wire error
                    writer.write(P.error_response(_exc_message(exc), _sqlstate(exc)))
                    await writer.drain()
                    break  # PG aborts the rest of the message on error
            writer.write(P.ready_for_query())
            await writer.drain()

    async def _handle_extended(
        self,
        tag: bytes,
        payload: bytes,
        writer: asyncio.StreamWriter,
        session: SparkSession,
        state: _ConnState,
    ) -> None:
        """Extended query protocol (Parse/Bind/Describe/Execute/Close/
        Flush/Sync, text format). The reference never implemented this
        ("Extended Query" unchecked, /root/reference/README.md:28) —
        psycopg and JDBC default modes require it. After an error,
        messages are discarded until Sync, per the PG spec."""
        if tag == b"S":  # Sync — always answered, clears error state
            state.skip_to_sync = False
            writer.write(P.ready_for_query())
            await writer.drain()
            return
        if state.skip_to_sync:
            return
        try:
            if tag == b"P":
                name, query, oids = P.parse_parse(payload)
                stmts = split_statements(query)
                if len(stmts) > 1:
                    raise _WireError(
                        "cannot insert multiple commands into a prepared statement",
                        "42601",
                    )
                state.ext_stmts[name] = (stmts[0] if stmts else "", oids)
                writer.write(P.parse_complete())
            elif tag == b"B":
                portal, stmt_name, params, param_fmts, result_fmts = P.parse_bind(
                    payload
                )
                if stmt_name not in state.ext_stmts:
                    raise _WireError(
                        f"prepared statement {stmt_name!r} does not exist", "26000"
                    )
                stmt_sql, declared_oids = state.ext_stmts[stmt_name]
                decoded: list[bytes | None] = []
                for i, p in enumerate(params):
                    if p is not None and i < len(param_fmts) and param_fmts[i] == 1:
                        oid = declared_oids[i] if i < len(declared_oids) else 0
                        try:
                            p = decode_binary_param(p, oid)
                        except (ValueError, struct.error) as exc:
                            raise _WireError(str(exc), "0A000") from None
                    decoded.append(p)
                sql = _substitute_params(
                    stmt_sql, [_param_literal(p) for p in decoded]
                )
                if (old := state.portals.get(portal)) is not None:
                    old.close()
                state.portals[portal] = _Portal(sql, result_fmts)
                writer.write(P.bind_complete())
            elif tag == b"D":
                kind, name = P.parse_describe(payload)
                if kind == "S":
                    if name not in state.ext_stmts:
                        raise _WireError(
                            f"prepared statement {name!r} does not exist", "26000"
                        )
                    sql, _ = state.ext_stmts[name]
                    n_params = _count_params(sql)
                    writer.write(P.parameter_description([25] * n_params))
                    # schema preview: plan with NULL-substituted params
                    await self._describe(
                        _substitute_params(sql, ["NULL"] * n_params),
                        writer,
                        session,
                        state,
                    )
                else:
                    p = state.portals.get(name)
                    if p is None:
                        raise _WireError(f"portal {name!r} does not exist", "34000")
                    await self._describe(p.sql, writer, session, state, portal=p)
            elif tag == b"E":
                name, maxrows = P.parse_execute(payload)
                p = state.portals.get(name)
                if p is None:
                    raise _WireError(f"portal {name!r} does not exist", "34000")
                if not p.sql:
                    writer.write(P.empty_query_response())
                else:
                    await self._run_statement(
                        p.sql, writer, session, state, portal=p, maxrows=maxrows
                    )
            elif tag == b"C":
                kind, name = P.parse_close(payload)
                if kind == "S":
                    state.ext_stmts.pop(name, None)
                elif (p := state.portals.pop(name, None)) is not None:
                    p.close()
                writer.write(P.close_complete())
            # b"H" (Flush) falls through to the drain below
            await writer.drain()
        except Exception as exc:  # noqa: BLE001 — protocol error recovery
            writer.write(P.error_response(_exc_message(exc), _sqlstate(exc)))
            await writer.drain()
            state.skip_to_sync = True

    async def _describe(
        self,
        sql: str,
        writer: asyncio.StreamWriter,
        session: SparkSession,
        state: _ConnState,
        portal: _Portal | None = None,
    ) -> None:
        """RowDescription, or NoData for a command. A portal's statement
        takes the pre-pass and is planned by _rows_df here, in one pool
        call: the DataFrame is cached on the portal and Execute sends it.
        Describe of a statement plans a preview of its text with NULL
        parameters, so it allocates no sequence values, and answers an
        EXPLAIN ANALYZE with its one text column without profiling it."""

        def plan():
            s = self._prepass(sql, session, state, allocate=portal is not None)
            if portal is None and _EXPLAIN_ANALYZE_RE.match(s):
                return s, _local_df(session, [], "explain_analyze string")
            return s, _rows_df(session, s)

        sql, df = await self._exec(session, state.job_tag, plan)
        if portal is not None:
            portal.sql, portal.df = sql, df
        if df is None:
            writer.write(P.no_data())
        else:
            fmts = portal.result_fmts if portal is not None else []
            writer.write(self._row_description(df, sql, fmts))

    def _prepass(
        self,
        stmt: str,
        session: SparkSession,
        state: _ConnState,
        *,
        allocate: bool = True,
    ) -> str:
        """The text pre-pass every statement takes before it is
        classified, on both protocols: a SQL-level EXECUTE resolves to
        its PREPAREd text; pipeline() and CSV relations become temp
        views; nextval/currval become allocated literals (or, for the
        per-row SELECT shape, a pre-reserved row_number block) and
        getvariable() its value. A PREPARE keeps its body as written.
        ``allocate=False`` leaves nextval/currval alone."""
        first = stmt.lstrip().split(None, 1)[0].upper() if stmt.strip() else ""
        if first == "EXECUTE":
            m = _EXECUTE_RE.match(stmt)
            if m is None:
                raise _WireError("syntax error in EXECUTE", "42601")
            name = m.group(1).lower()
            if name not in state.prepared:
                raise _WireError(f"prepared statement {name!r} does not exist", "26000")
            args = (
                [a.strip() for a in split_top_level(m.group(2))] if m.group(2) else []
            )
            inner = _substitute_params(state.prepared[name], args)
            return self._prepass(inner, session, state, allocate=allocate)
        if first == "PREPARE":
            return stmt
        if "pipeline" in stmt.lower():
            # pipeline('op') / pipeline_ops(): materialize registry
            # operators as temp views BEFORE dispatch
            try:
                stmt = _substitute_pipeline_fns(session, stmt)
            except ValueError as exc:
                raise _WireError(str(exc), "42883") from exc
        low0 = stmt.lower()
        if ".csv" in low0 or ".tsv" in low0 or "read_csv" in low0:
            # CSV relations sniff + substitute BEFORE dispatch so DDL
            # (CREATE VIEW/TABLE AS), COPY subqueries, and queries all
            # see the resolved view
            try:
                stmt = _substitute_csv_relations(session, stmt)
            except ValueError as exc:
                # DuckDB reports sniff/open failures as IO Error
                raise _WireError(str(exc), "58030") from exc
        if allocate and "val(" in stmt.lower():
            # nextval('s') / currval('s'): allocate BEFORE dispatch so
            # every downstream path (INSERT fast path, queries) sees
            # plain integer literals (or, for the per-row SELECT shape,
            # a pre-reserved row_number block).
            # DML-on-view: refuse BEFORE any block is reserved — a
            # reservation followed by the write-guard refusal would
            # leave currval advanced by a statement that never ran
            # (code review r10; second pass caught INSERT too).
            um = None
            if first == "UPDATE":
                um = re.match(
                    r"^\s*UPDATE\s+(?:ONLY\s+)?([\w.\"]+)", stmt,
                    re.IGNORECASE,
                )
            elif first == "INSERT":
                um = _INSERT_TARGET_RE.match(stmt)
            if um is not None:
                _writable(session, _unquote_ident(um.group(1)))

            def _count(q: str) -> int:
                return session.sql(rewrite(q)).first()[0]

            try:
                stmt = substitute_sequence_fns(stmt, _count)
            except ValueError as exc:
                raise _WireError(str(exc), "55000") from exc
        if "getvariable" in stmt.lower():
            stmt = substitute_variables(stmt)
        return stmt

    _TXN_TAGS = {
        "BEGIN": "BEGIN",
        "START": "BEGIN",
        "COMMIT": "COMMIT",
        "END": "COMMIT",
        "ROLLBACK": "ROLLBACK",
        "ABORT": "ROLLBACK",
    }

    async def _run_statement(
        self,
        stmt: str,
        writer: asyncio.StreamWriter,
        session: SparkSession,
        state: _ConnState | None = None,
        *,
        portal: _Portal | None = None,
        maxrows: int = 0,
        reader: asyncio.StreamReader | None = None,
    ) -> None:
        """The one statement path of both protocols, the reference's
        conn.Prepare → Execute (cpp:52,97): one pool call under the
        connection's job tag runs the text pre-pass, then _rows_df for a
        row-returning statement or _run_command for a command; back on
        the loop, one send — a command's CommandComplete (written here
        and nowhere else), the socket side of COPY … FROM STDIN / TO
        STDOUT, or the rows. A simple Query passes no portal; an
        extended Execute passes its portal, whose DataFrame — planned
        at Describe, or by an earlier Execute that stopped at
        ``maxrows`` — is sent without planning the statement again."""
        state = state or _ConnState()
        result = portal.df if portal is not None else None
        if result is None:
            stmt, result = await self._exec(
                session, state.job_tag, self._plan, stmt, session, state
            )
            if isinstance(result, _CopyIn):
                if reader is None:
                    raise _WireError(
                        "COPY FROM STDIN is only supported in the simple protocol",
                        "0A000",
                    )
                n = await self._copy_from_stdin(
                    result, reader, writer, session, state.job_tag
                )
                result = f"COPY {n}"
            elif isinstance(result, _CopyOut):
                n = await self._copy_to_stdout(result, writer, session, state.job_tag)
                result = f"COPY {n}"
            if isinstance(result, str):
                writer.write(P.command_complete(result))
                await writer.drain()
                return
            if portal is not None:
                portal.df = result
        await self._stream_df(
            result, stmt, writer, session, state.job_tag, portal=portal, maxrows=maxrows
        )

    def _plan(
        self, stmt: str, session: SparkSession, state: _ConnState
    ) -> tuple[str, str | DataFrame | _CopyIn | _CopyOut]:
        """A statement's work on the worker pool: the pre-pass, then the
        row result _rows_df builds or the result of _run_command."""
        stmt = self._prepass(stmt, session, state)
        first = stmt.lstrip().split(None, 1)[0].upper() if stmt.strip() else ""
        _note_statement_head(first)
        result = _rows_df(session, stmt)
        if result is None:
            result = self._run_command(stmt, first, session, state)
            if isinstance(result, DataFrame):
                if not result.schema.fields:
                    # a command Spark ran itself answers only its tag
                    return stmt, _command_tag(stmt, _command_rows(result))
                result = _ym_safe(_interval_lit_fold(result, stmt))
        return stmt, result

    def _run_command(
        self,
        stmt: str,
        first: str,
        session: SparkSession,
        state: _ConnState,
    ) -> str | DataFrame | _CopyIn | _CopyOut:
        """Run a statement that is not row-returning, on the worker
        pool, and return its result: a command tag; a DataFrame — a
        RETURNING projection for _run_statement to send, or a command
        Spark ran itself, which _plan answers with its tag (counting
        the rows it wrote); or the descriptor of a COPY … FROM STDIN /
        TO STDOUT, whose data transfer runs on the loop."""
        if first in self._TXN_TAGS:
            # PG clients autosend BEGIN/COMMIT (implicit transactions).
            # Spark has no transactions — every statement is autocommit —
            # so BEGIN/COMMIT ack as no-ops, like any autocommit-only
            # PG-compatible store. ROLLBACK is the honesty boundary:
            # after a write inside an explicit transaction it ERRORS
            # instead of ack'ing, because the write cannot be undone —
            # a silent ack would let a client believe data it inserted
            # was discarded (DuckDB behind the reference has real
            # transactions; VERDICT.md r1 item 6).
            tag = self._TXN_TAGS[first]
            if tag == "ROLLBACK" and state.wrote_in_txn:
                state.in_txn = False
                state.wrote_in_txn = False
                raise _WireError(
                    "cannot ROLLBACK: writes in this transaction were already "
                    "applied (engine is autocommit-only)",
                    "0A000",
                )
            state.in_txn = tag == "BEGIN"
            state.wrote_in_txn = False
            return tag
        if state.in_txn and first in _WRITE_WORDS:
            state.wrote_in_txn = True
        if first == "PREPARE":
            m = _PREPARE_RE.match(stmt)
            if m is None:
                raise _WireError("syntax error in PREPARE", "42601")
            state.prepared[m.group(1).lower()] = m.group(2).strip()
            return "PREPARE"
        if first == "DEALLOCATE":
            m = _DEALLOC_RE.match(stmt)
            if m is None:
                raise _WireError("syntax error in DEALLOCATE", "42601")
            name = m.group(1).lower()
            if name == "all":
                state.prepared.clear()
            else:
                state.prepared.pop(name, None)
            return "DEALLOCATE"
        if first == "CREATE" and (m := SEQ_DDL_RE.match(stmt)):
            try:
                define_sequence(m.group(2), m.group(3) or "", bool(m.group(1)))
            except ValueError as exc:
                raise _WireError(str(exc), "42P07") from exc
            return "CREATE SEQUENCE"
        if first == "DROP" and (m := SEQ_DROP_RE.match(stmt)):
            try:
                drop_sequence(m.group(2), bool(m.group(1)))
            except ValueError as exc:
                raise _WireError(str(exc), "42704") from exc
            return "DROP SEQUENCE"
        if first == "CREATE" and (m := _CREATE_TYPE_RE.match(stmt)):
            from .compat import TYPE_ALIASES, resolve_type_text

            name, body = m.group(1), m.group(2).strip().rstrip(";").strip()
            if name.lower() in TYPE_ALIASES:
                # DuckDB: Catalog Error on duplicate type creation
                raise _WireError(
                    f'Type with name "{name}" already exists!', "42710"
                )
            if em := re.match(
                r"^ENUM\s*\((.*)\)\s*$", body, re.IGNORECASE | re.DOTALL
            ):
                # r9 (r8 verdict item 3): enum values travel as ordered
                # structs — declaration-order comparisons are native
                # (see compat.ENUM_TYPES)
                from .compat import define_enum_type

                # each comma-separated element must be exactly one quoted
                # literal — ENUM ('a' 'b', tok) is a parser error in
                # DuckDB, not two silently-salvaged members (advice r9)
                members = []
                parts = (
                    split_top_level(em.group(1))
                    if em.group(1).strip()
                    else []  # ENUM () — DuckDB allows the empty enum
                )
                for part in parts:
                    pm = re.fullmatch(
                        r"\s*'((?:[^']|'')*)'\s*", part, re.DOTALL
                    )
                    if pm is None:
                        raise _WireError(
                            "CREATE TYPE ... AS ENUM members must be "
                            f"single quoted literals, got: {part.strip()!r}",
                            "42601",
                        )
                    members.append(pm.group(1).replace("''", "'"))
                try:
                    define_enum_type(name, members)
                except ValueError as exc:
                    raise _WireError(str(exc), "42710") from exc
                return "CREATE TYPE"
            if re.match(r"^ENUM\b", body, re.IGNORECASE):
                raise _WireError(
                    "CREATE TYPE ... AS ENUM requires a literal member "
                    "list: CREATE TYPE t AS ENUM ('a', 'b', ...)",
                    "42601",
                )
            TYPE_ALIASES[name.lower()] = resolve_type_text(body)
            from .compat import catalog_changed

            catalog_changed()
            return "CREATE TYPE"
        if first == "DROP" and (m := _DROP_TYPE_RE.match(stmt)):
            from .compat import ENUM_TYPES, TYPE_ALIASES, catalog_changed

            ENUM_TYPES.pop(m.group(2).lower(), None)
            if (
                TYPE_ALIASES.pop(m.group(2).lower(), None) is None
                and not m.group(1)
            ):
                raise _WireError(
                    f'Type with name "{m.group(2)}" does not exist!',
                    "42704",
                )
            catalog_changed()
            return "DROP TYPE"
        if first == "SET" and (m := SET_VAR_RE.match(stmt)):
            # DuckDB v1.1 SQL variables: value is a scalar evaluated NOW
            row = session.sql(f"SELECT ({rewrite(m.group(2))}) AS v").first()
            VARIABLES[m.group(1).lower()] = row["v"]
            return "SET"
        if first == "RESET" and (m := RESET_VAR_RE.match(stmt)):
            VARIABLES.pop(m.group(1).lower(), None)
            return "RESET"
        if first == "CHECKPOINT":
            # DuckDB CHECKPOINT flushes the WAL; parquet tables have no
            # WAL — ack as a maintenance no-op (same policy as VACUUM)
            return "CHECKPOINT"
        if first == "EXPORT" and (m := _EXPORT_DB_RE.match(stmt)):
            n = _export_database(session, m.group(1), m.group(2) or "")
            return f"EXPORT DATABASE {n}"
        if first == "IMPORT" and (m := _IMPORT_DB_RE.match(stmt)):
            return f"IMPORT DATABASE {_import_database(session, m.group(1))}"
        if first == "ATTACH":
            m = _ATTACH_RE.match(stmt)
            if m is None:
                raise _WireError(
                    "unsupported ATTACH form (supported: ATTACH "
                    "[IF NOT EXISTS] '<path|:memory:>' [AS name] "
                    "[(READ_ONLY)])",
                    "0A000",
                )
            try:
                _attach_database(
                    session, m.group(2), m.group(3), m.group(4) or "",
                    bool(m.group(1)),
                )
            except NotImplementedError as exc:
                raise _WireError(str(exc), "0A000") from exc
            except ValueError as exc:
                raise _WireError(str(exc), "42000") from exc
            return "ATTACH"
        if first == "DETACH":
            m = _DETACH_RE.match(stmt)
            if m is None:
                raise _WireError("syntax error in DETACH", "42601")
            try:
                _detach_database(session, m.group(2), bool(m.group(1)))
            except ValueError as exc:
                raise _WireError(str(exc), "42000") from exc
            return "DETACH"
        if first == "USE" and (m := _USE_RE.match(stmt)):
            # DuckDB USE db / USE db.schema (schema must be main — the
            # Spark namespace has no intermediate schema level)
            db, schema = m.group(1), m.group(2)
            if schema is not None and schema.lower() != "main":
                raise _WireError(
                    f"USE {db}.{schema}: only the main schema exists in "
                    "an attached database",
                    "3D000",
                )
            # DuckDB names for the starting database (main / memory)
            # resolve to Spark's `default` — PRAGMA database_list
            # advertises 'main', so USE main must round-trip (r7)
            db_l = db.lower()
            if db_l in _DEFAULT_DB_ALIASES and db_l not in ATTACHED:
                db = "default"
            session.sql(f"USE `{db}`")
            CURRENT_DB[0] = db.lower()
            return "USE"
        if first in ("CREATE", "DROP") and "MACRO" in stmt.upper():
            # DuckDB scalar macros (catalog-scope): calls are textually
            # inlined by compat.expand_macros at rewrite() time.
            # Dispatched BEFORE the RO write guard: a macro definition
            # is session-catalog metadata, and CREATE MACRO f() AS
            # (SELECT ... FROM ro.t) is a legal pure READ of a
            # READ_ONLY attach that the guard's conservative
            # qualifier-scan fallback would otherwise reject
            # (ADVICE r8 item 5).
            if mm := MACRO_DDL_RE.match(stmt):
                try:
                    define_macro(mm.group(2), mm.group(3), mm.group(5), bool(mm.group(1)))
                except ValueError as exc:
                    raise _WireError(str(exc), "42723") from exc
                return "CREATE MACRO"
            if md := MACRO_DROP_RE.match(stmt):
                try:
                    drop_macro(md.group(2), bool(md.group(1)))
                except ValueError as exc:
                    raise _WireError(str(exc), "42883") from exc
                return "DROP MACRO"
        if first in _WRITE_WORDS and ATTACHED:
            ro_target = _readonly_write_target(stmt)
            if ro_target is not None:
                raise _WireError(
                    f'database "{ro_target}" is attached READ_ONLY: '
                    "writes are not allowed",
                    "25006",
                )
        if first in ("UPDATE", "DELETE"):
            # Rewrite-on-write DML (no in-place mutation on v1 parquet
            # tables; the reference reaches DuckDB's DML via cpp:52).
            from ..operators.dml import (
                delete_from,
                delete_returning,
                delete_using,
                parse_delete,
                parse_update,
                project_returning,
                split_returning,
                update_from,
                update_returning,
                update_table,
            )

            sql, returning = split_returning(
                _hugeint_sums(session, rewrite(stmt))
            )
            if first == "UPDATE":
                parsed = parse_update(sql)
                if parsed is None:
                    raise _WireError("syntax error in UPDATE", "42601")
                table, assignments, pred, from_rel = parsed
                if from_rel is not None:
                    # PG joined UPDATE: the snapshot serves both the
                    # count and RETURNING
                    aff = update_from(session, table, assignments, pred, from_rel)
                    n = aff.count() if returning is None else None
                elif returning is not None:
                    aff = update_returning(session, table, assignments, pred)
                else:
                    n = update_table(session, table, assignments, pred)
            else:
                parsed = parse_delete(sql)
                if parsed is None:
                    raise _WireError("syntax error in DELETE", "42601")
                table, pred, using_rel = parsed
                if using_rel is not None:
                    aff = delete_using(session, table, pred, using_rel)
                    n = aff.count() if returning is None else None
                elif returning is not None:
                    aff = delete_returning(session, table, pred)
                else:
                    n = delete_from(session, table, pred)
            if returning is not None:
                return project_returning(session, aff, returning)
            return f"{first} {n}"
        if first == "INSERT":
            # INSERT … RETURNING / ON CONFLICT fast path (PG ORMs emit
            # RETURNING on every insert; the reference reaches DuckDB's
            # via cpp:52). Plain INSERT is Spark's own.
            from ..operators.dml import (
                insert_rows,
                parse_insert,
                project_returning,
                split_returning,
                stage_insert_rows,
                upsert_into,
            )

            # the body reads its source relations and RETURNING the
            # inserted rows: each is typed in its own scope
            sql, returning = split_returning(rewrite(stmt))
            sql = _hugeint_sums(session, sql)
            spec = parse_insert(sql)
            # never write THROUGH a view: the plain INSERT runs
            # spark.sql directly, and Spark appends into the files
            # behind a parquet-backed temp view (the read-only fixture
            # tables) — refuse up front like DuckDB does (r10)
            tgt = (
                spec.table
                if spec is not None
                else (
                    m.group(1)
                    if (m := _INSERT_TARGET_RE.match(sql))
                    else None
                )
            )
            if tgt is not None:
                _writable(session, _unquote_ident(tgt))
            if (
                returning is None
                and spec is not None
                and not spec.conflict
                and _insert_needs_enum_coercion(session, spec.table)
            ):
                # bare-string VALUES into an enum-emulation column:
                # Spark's own INSERT can't implicit-cast STRING →
                # STRUCT, so route through the staged path where
                # _coerce_enum_value applies (DuckDB implicit-casts
                # VARCHAR → enum)
                staged = stage_insert_rows(
                    session, spec.table, spec.cols, spec.source_sql
                )
                return f"INSERT 0 {insert_rows(session, staged, spec.table)}"
            if returning is None and (spec is None or not spec.conflict):
                return _prepared(session, sql)
            if spec is None:
                raise _WireError("unsupported INSERT form with RETURNING", "0A000")
            staged = stage_insert_rows(session, spec.table, spec.cols, spec.source_sql)
            if spec.conflict is not None:
                aff = upsert_into(session, spec.table, staged, spec.conflict)
            else:
                insert_rows(session, staged, spec.table)
                aff = staged.drop("__ins_ord")
            if returning is not None:
                # DuckDB quirk (golden-probed): ON CONFLICT … RETURNING
                # yields the PROPOSED rows, not the affected post-image
                # — match the delegated engine.
                ret_src = (
                    staged.drop("__ins_ord") if spec.conflict is not None else aff
                )
                return project_returning(
                    session, ret_src, returning,
                    typed=lambda q: _hugeint_sums(session, q),
                )
            return f"INSERT 0 {aff.count()}"
        if first == "MERGE":
            from ..operators.dml import merge_into, parse_merge

            spec = parse_merge(_hugeint_sums(session, rewrite(stmt)))
            if spec is None:
                raise _WireError("syntax error in MERGE", "42601")
            return f"MERGE {merge_into(session, spec)}"
        if first == "TRUNCATE":
            m = re.match(
                r"^\s*TRUNCATE\s+(?:TABLE\s+)?([\w.]+)\s*;?\s*$", stmt, re.IGNORECASE
            )
            if m is not None:
                from ..operators.dml import truncate_table

                truncate_table(session, m.group(1))
                return "TRUNCATE TABLE"
        if first == "ALTER":
            # RENAME/DROP COLUMN need recreate-on-write (v1 parquet
            # tables can't mutate schema in place); ADD COLUMNS and
            # RENAME TO run natively via the generic path below.
            if m := re.match(
                r"^\s*ALTER\s+TABLE\s+([\w.]+)\s+RENAME\s+(?:COLUMN\s+)?"
                r"(\w+)\s+TO\s+(\w+)\s*;?\s*$",
                stmt,
                re.IGNORECASE,
            ):
                from ..operators.dml import rename_column

                rename_column(session, m.group(1), m.group(2), m.group(3))
                return "ALTER TABLE"
            if m := re.match(
                r"^\s*ALTER\s+TABLE\s+([\w.]+)\s+DROP\s+(?:COLUMN\s+)?"
                r"(IF\s+EXISTS\s+)?(\w+)\s*;?\s*$",
                stmt,
                re.IGNORECASE,
            ):
                from ..operators.dml import drop_column

                drop_column(session, m.group(1), m.group(3), bool(m.group(2)))
                return "ALTER TABLE"
        if (first == "CREATE" and re.match(
            r"^\s*CREATE\s+(?:UNIQUE\s+)?INDEX\b", stmt, re.IGNORECASE
        )) or (first == "DROP" and re.match(
            r"^\s*DROP\s+INDEX\b", stmt, re.IGNORECASE
        )):
            # ORMs/migrations emit index DDL on every deploy; parquet
            # tables have no secondary indexes (DuckDB's ART is an
            # engine detail, not a visible result) — ack as a no-op.
            # NOTE: a UNIQUE index's constraint is NOT enforced (the
            # PRIMARY KEY path is; documented delta).
            return f"{first} INDEX"
        if first == "COMMENT":
            # COMMENT ON <obj> IS '...': Spark's only works on real
            # tables (fixtures are views) — ack as a metadata no-op.
            return "COMMENT"
        if first in ("ANALYZE", "VACUUM"):
            # PG/DuckDB maintenance statements. ANALYZE <t> maps to real
            # Spark table statistics (CBO input); bare ANALYZE and VACUUM
            # ack as no-ops — parquet-v1 tables have nothing to vacuum,
            # and erroring would break psql habits and cron scripts.
            m = re.match(r"^\s*ANALYZE\s+([\w.]+)\s*;?\s*$", stmt, re.IGNORECASE)
            if m:
                session.sql(f"ANALYZE TABLE {m.group(1)} COMPUTE STATISTICS")
            return first
        if first == "CREATE" and "TABLE" in stmt.upper():
            # strip PG/DuckDB constraint syntax Spark's parser rejects;
            # the PRIMARY KEY moves into the dml registry so bare ON
            # CONFLICT / INSERT OR REPLACE / OR IGNORE resolve it. ANY
            # create of the name (including CTAS, which has no column
            # list) resets the entry — a stale PK would let INSERT OR
            # REPLACE silently delete rows of a recreated PK-less table.
            from ..operators.dml import PRIMARY_KEYS

            stripped, tname, pks = strip_table_constraints(stmt)
            if tname is not None:
                stmt = stripped
            else:
                cm = _CREATE_TABLE_RE.match(stmt)
                tname = cm.group(4) if cm else None
            if tname is not None:
                key = tname.lower().split(".")[-1]
                if pks:
                    PRIMARY_KEYS[key] = pks
                    # ALSO persist into table properties so the PK
                    # survives a server restart against a persistent
                    # catalog — _table_pk reloads it lazily on a dict
                    # miss (r7 verdict item 7)
                    stmt = (
                        stmt.rstrip().rstrip(";")
                        + " TBLPROPERTIES ('duckpg.pk'='"
                        + ",".join(pks)
                        + "')"
                    )
                else:
                    PRIMARY_KEYS.pop(key, None)
        if first == "DROP" and (
            dm := re.match(
                r"^\s*DROP\s+TABLE\s+(?:IF\s+EXISTS\s+)?([\w.]+)", stmt,
                re.IGNORECASE,
            )
        ):
            from ..operators.dml import PRIMARY_KEYS

            PRIMARY_KEYS.pop(dm.group(1).lower().split(".")[-1], None)
        if first == "CREATE" and (m := _CREATE_TABLE_RE.match(stmt)):
            or_replace, temp, name, rest = (
                bool(m.group(1)), bool(m.group(2)), m.group(4), m.group(5)
            )
            # a stale managed `spark-warehouse/<table>` dir can survive
            # a killed process whose catalog entry is gone, making
            # CREATE TABLE raise LOCATION_ALREADY_EXISTS on a table the
            # catalog doesn't know — a failure mode no DuckDB client
            # ever sees (reference client/go/cmd/simple/main.go:23
            # CREATEs on a fresh catalog unconditionally). Pre-clean
            # the orphan (r17, VERDICT item 1).
            _clean_orphan_location(session, name)
            if temp and re.match(r"(?i)^\s*AS\b", rest):
                # DuckDB TEMP TABLE AS: session-scoped — a Spark temp
                # view is the session-scoped analogue (lazy; DML into
                # it fails loudly, matching the view-ness honestly)
                session.sql(
                    f"CREATE OR REPLACE TEMPORARY VIEW {name} " + rewrite(rest)
                )
                return "CREATE TABLE"
            if or_replace or temp:
                # Spark's v1 catalog has no REPLACE TABLE AS SELECT —
                # drop-then-create is the same visible state. A TEMP
                # TABLE with a column list is approximated by a real
                # table (documented session-scope delta).
                if or_replace:
                    session.sql(f"DROP TABLE IF EXISTS {name}")
                session.sql(rewrite(f"CREATE TABLE {name} {rest}"))
                return "CREATE TABLE"
        stdout_copy = parse_copy_stdout(stmt)
        if stdout_copy is not None:
            inner, fmt, header = stdout_copy
            df = _rows_df(session, inner)
            if df is None:
                raise _WireError("COPY … TO STDOUT needs a query", "42601")
            return _CopyOut(df, fmt, header)
        stdin_copy = parse_copy_stdin(stmt)
        if stdin_copy is not None:
            table, cols, fmt, header = stdin_copy
            # refuse BEFORE CopyInResponse — never accept data bound for
            # a view's source files (r10 write-through guard)
            _writable(session, table)
            return _CopyIn(table, cols, session.table(table).schema, fmt, header)
        if (copy := parse_copy(stmt)) is not None:
            return f"COPY {_copy_to_file(session, *copy)}"
        if (copy_from := parse_copy_from(stmt)) is not None:
            return f"COPY {_copy_from_file(session, *copy_from)}"
        if first == "SET":
            # tolerate PG-style `SET k TO v` (session GUCs) that Spark's
            # SET parser rejects: ack as a no-op instead of erroring —
            # clients send these on connect. Spark-style SET k=v still
            # executes for real here.
            try:
                session.sql(rewrite(stmt))
            except Exception:  # noqa: BLE001
                pass
            return "SET"
        return _planned(session, stmt)

    def _fields(self, df: DataFrame) -> list:
        """(position, field) of each column sent; in reference_compat
        mode only the types the reference maps (SURVEY.md §1.2). Cells
        are addressed by POSITION throughout: PySpark Row name lookup
        returns the first matching field, so duplicate output names
        (SELECT 1 AS a, 2 AS a) would silently repeat the first
        column's value — and a by-name select is ambiguous the same
        way."""
        return [
            (i, f)
            for i, f in enumerate(df.schema.fields)
            if not self.reference_compat or reference_visible(f.dataType)
        ]

    def _row_description(self, df: DataFrame, stmt: str, result_fmts: list[int]) -> bytes:
        """RowDescription of a result, echoing the format codes of the
        portal's Bind. BIT-emulated outputs advertise PG's bit OID 1560
        (r14); positions come from the statement's select list and are
        dropped on any count disagreement."""
        fields = self._fields(df)
        fmts = P.expand_formats(result_fmts, len(fields))
        bit_oids = _bit_oids_for(stmt, len(df.schema.fields))
        return P.row_description(
            [
                P.FieldDesc(f.name, bit_oids.get(i, pg_oid(f.dataType)), fmt=fmt)
                for (i, f), fmt in zip(fields, fmts)
            ]
        )

    async def _stream_df(
        self,
        df: DataFrame,
        stmt: str,
        writer: asyncio.StreamWriter,
        session: SparkSession,
        tag: str = "",
        *,
        portal: _Portal | None = None,
        maxrows: int = 0,
    ) -> None:
        """The one row sender of both protocols. A simple Query (no
        portal) gets RowDescription + DataRows + CommandComplete; the
        extended protocol sends RowDescription from Describe, and each
        Execute sends up to ``maxrows`` rows (0: all) in the portal's
        result formats, then PortalSuspended while rows remain, else
        CommandComplete. The cursor — row iterator, cell encoders, rows
        sent — lives on the portal across Execute messages, as in PG
        (the JDBC setFetchSize path)."""
        cur = portal or _Portal(stmt)
        if cur.it is None:
            fields = self._fields(df)
            if portal is None:
                writer.write(self._row_description(df, stmt, []))
            if not fields:
                # reference_compat dropped every column (commands never
                # get here, _plan answers them): run for effect, no rows
                await self._exec(session, tag, _command_rows, df)
                writer.write(P.command_complete(_command_tag(stmt, 0)))
                await writer.drain()
                return
            # text cells for format 0; nested-array columns get the
            # rectangularity-checked encoder so the wire never carries a
            # literal inconsistent with the advertised array OID (ADVICE
            # r8 item 1)
            cur.cells = _make_cells(
                [(i, f.dataType) for i, f in fields], cur.result_fmts
            )
            # "execute": fetch per _fetch_iter, write DataRows in bounded
            # batches — chunk-at-a-time like cpp:119-165.
            cur.it = await self._exec(session, tag, _fetch_iter, df)
            cur.sent = 0
        n = 0
        while True:
            want = _BATCH_ROWS if maxrows <= 0 else min(_BATCH_ROWS, maxrows - n)
            if want == 0:
                cur.sent += n
                writer.write(P.portal_suspended())
                await writer.drain()
                return
            batch = await self._exec(
                session, tag, _next_batch, cur.it, want, cur.cells
            )
            for encoded in batch:
                writer.write(P.data_row(encoded))
            n += len(batch)
            await writer.drain()
            if len(batch) < want:  # iterator exhausted
                cur.it = None
                writer.write(P.command_complete(_command_tag(stmt, cur.sent + n)))
                await writer.drain()
                return

    async def _copy_to_stdout(
        self,
        copy: _CopyOut,
        writer: asyncio.StreamWriter,
        session: SparkSession,
        tag: str,
    ) -> int:
        """COPY ... TO STDOUT: CopyOutResponse + CopyData rows of the
        query the pool built, fetched per _fetch_iter in _BATCH_ROWS
        chunks — bounded memory at any result size. Returns the row
        count for the command tag."""
        import csv
        import io

        fields = copy.df.schema.fields
        writer.write(P.copy_out_response(len(fields)))
        await writer.drain()
        is_csv = copy.fmt == "csv"
        if is_csv and copy.header:
            buf = io.StringIO()
            csv.writer(buf).writerow([f.name for f in fields])
            writer.write(P.copy_data(buf.getvalue().encode()))
        it = None

        def next_chunk():
            nonlocal it
            if it is None:
                it = _fetch_iter(copy.df)
            rows = list(itertools.islice(it, _BATCH_ROWS))
            buf = io.StringIO()
            if is_csv:
                w = csv.writer(buf, lineterminator="\n")
                for row in rows:
                    w.writerow(
                        ["" if v is None else encode_text(v) for v in row]
                    )
            else:  # PG text format: tab-separated, \N nulls
                for row in rows:
                    buf.write(
                        "\t".join(
                            "\\N" if v is None else encode_text(v) for v in row
                        )
                        + "\n"
                    )
            return buf.getvalue().encode(), len(rows)

        nrows = 0
        try:
            while True:
                chunk, n = await self._exec(session, tag, next_chunk)
                if not n:
                    break
                writer.write(P.copy_data(chunk))
                nrows += n
                await writer.drain()
        finally:
            if (close := getattr(it, "close", None)) is not None:
                close()
        writer.write(P.copy_done())
        return nrows

    async def _copy_from_stdin(
        self,
        copy: _CopyIn,
        reader: asyncio.StreamReader,
        writer: asyncio.StreamWriter,
        session: SparkSession,
        tag: str,
    ) -> int:
        """COPY <table> FROM STDIN (psql \\copy): CopyInResponse, spool
        CopyData chunks to a temp file (no full in-memory buffering),
        then one distributed Spark load + insertInto on CopyDone.
        Returns the row count for the command tag."""
        import tempfile

        from pyspark.sql import types as T

        from ..operators.dml import counted_write

        target_cols = copy.cols or copy.schema.names
        writer.write(P.copy_in_response(len(target_cols)))
        await writer.drain()
        tmp = tempfile.NamedTemporaryFile(
            mode="wb", suffix=".copyin", delete=False
        )
        try:
            while True:
                mtag = await reader.readexactly(1)
                (length,) = struct.unpack("!I", await reader.readexactly(4))
                payload = await reader.readexactly(length - 4)
                if mtag == b"d":
                    tmp.write(payload)
                elif mtag == b"c":  # CopyDone
                    break
                elif mtag == b"f":  # CopyFail
                    msg = payload.rstrip(b"\x00").decode(errors="replace")
                    raise _WireError(f"COPY from stdin failed: {msg}", "57014")
                elif mtag in (b"H", b"S"):  # Flush/Sync mid-copy: ignore
                    continue
                else:
                    raise _WireError(
                        f"unexpected message {mtag!r} during COPY", "08P01"
                    )
            tmp.close()

            def load() -> int:
                schema = copy.schema
                r = session.read.schema(T.StructType([schema[c] for c in target_cols]))
                if copy.fmt == "csv":
                    r = r.option("header", str(copy.header).lower())
                else:  # PG text format: tab-separated, \N nulls, no quoting
                    r = r.option("sep", "\t").option("nullValue", "\\N").option(
                        "quote", "\u0000"
                    )
                df = r.csv(tmp.name)
                for c in schema.names:
                    if c not in target_cols:
                        df = df.withColumn(c, F.lit(None).cast(schema[c].dataType))
                return counted_write(
                    df.select(*schema.names),
                    lambda d: d.write.mode("append").insertInto(copy.table),
                )

            return await self._exec(session, tag, load)
        finally:
            tmp.close()
            try:
                os.unlink(tmp.name)
            except OSError:
                pass


def _copy_from_file(
    session: SparkSession,
    table: str,
    path: str,
    fmt: str,
    header: bool,
    extra: dict,
) -> int:
    """COPY <table> FROM: distributed read with the target table's
    declared schema (no inference — PG loads into a known table),
    appended via insertInto. Reading is as parallel as the source
    file layout; no driver-side row handling. CSV is headerless
    unless the statement's HEADER option says otherwise (PG default);
    DELIMITER/QUOTE/ESCAPE/NULL/*FORMAT options (r10) arrive as
    Spark reader options in ``extra``."""
    from ..operators.dml import _assert_writable, counted_write

    _assert_writable(session, table)  # COPY FROM appends THROUGH views (r10)
    tgt = session.table(table)
    if fmt == "csv":
        rd = session.read.schema(tgt.schema).option("header", str(header).lower())
        for k, v in extra.items():
            rd = rd.option(k, v)
        df = rd.csv(path)
    elif fmt == "json":
        df = session.read.schema(tgt.schema).json(path)
    else:
        df = session.read.parquet(path)
    return counted_write(
        df.select(*tgt.columns), lambda d: d.write.mode("append").insertInto(table)
    )


def _copy_to_file(
    session: SparkSession,
    inner_sql: str,
    path: str,
    fmt: str,
    header: bool,
    compression: str | None,
    partition_by: list[str] | None,
    extra: dict,
) -> int:
    """COPY ... TO: DataFrameWriter is the Spark-native file sink
    (distributed write — the path gets a directory of part files,
    which is the scale-correct shape; single-file output would force
    all data through one task). COMPRESSION maps to the writer's
    codec option; PARTITION_BY to partitionBy (hive-style layout,
    the same directory scheme DuckDB emits); DELIMITER/QUOTE/
    ESCAPE/NULL/*FORMAT/FORCE_QUOTE * (r10) arrive as Spark writer
    options in ``extra``."""
    from ..operators.dml import counted_write

    df = _rows_df(session, inner_sql)
    if df is None:
        raise _WireError("COPY … TO needs a query", "42601")

    def write(counted: DataFrame) -> None:
        writer = counted.write.mode("overwrite")
        if compression:
            writer = writer.option("compression", compression)
        if partition_by:
            writer = writer.partitionBy(*partition_by)
        for k, v in extra.items():
            writer = writer.option(k, v)
        if fmt == "csv":
            writer.option("header", str(header).lower()).csv(path)
        elif fmt == "json":
            writer.json(path)
        else:
            writer.parquet(path)

    return counted_write(df, write)


def _sqlstate(exc: Exception) -> str:
    """Real SQLSTATEs where Spark provides them (error-class framework);
    the reference collapses everything to one DataException class
    (cpp:68-73) — we keep the more useful codes."""
    msg = str(exc)
    get = getattr(exc, "getCondition", None)
    cond = get() if get is not None else None
    get = getattr(exc, "getSqlState", None)
    state = get() if get is not None else None
    # the error class decides, not the message: an AnalysisException
    # quotes the plan, so a guarded raise_error() in it is no user raise
    if state and cond != "USER_RAISED_EXCEPTION":
        return state
    # a raise_error() reports USER_RAISED_EXCEPTION (P0001) when
    # collect() raised it and arrives as wrapped text (no class, no
    # state) from a streamed result; the message refinements below
    # decide for both, so the SQLSTATE does not depend on which fetch
    # ran the plan
    user_raised = cond == "USER_RAISED_EXCEPTION" or (
        cond is None and "USER_RAISED_EXCEPTION" in msg
    )
    # Cancel detection anchored on what our CancelRequest path actually
    # produces — the cancelJobsWithTag tag and Spark's job-cancelled
    # phrasing — NOT a bare 'cancelled' substring, which user data (a
    # failed cast of the value 'cancelled', a column named canceled_at)
    # can contain (advice r9 + code review r10). USER_RAISED still
    # wins: raise_error payloads embed user strings verbatim.
    if not user_raised and (
        "pgwire-conn-" in msg  # our cancelJobsWithTag tag
        or re.search(
            r"\bJob \d+ (?:in group [\w.-]+ )?(?:was )?cancell?ed", msg
        )
        or "SPARK_JOB_CANCELLED" in msg
        or re.search(r"cancell?ed (?:as )?part of cancell?ed job", msg)
    ):
        return "57014"  # query_canceled — CancelRequest killed the jobs
    if user_raised:
        if "Could not convert string" in msg:
            # the enum conversion check rides raise_error(); clients
            # branching on the SQLSTATE class should see PG/DuckDB's
            # invalid-text-representation, not a user RAISE
            return "22P02"
        if "Out of Range Error:" in msg:
            # DuckDB-parity guards (ln(0), sqrt(-1), …) ride
            # raise_error() — class 22 like PG's out-of-range
            return "22003"
        if "Invalid Input Error:" in msg:
            return "22023"  # invalid_parameter_value (ACOS range, LPAD)
        if "Invalid type specifier" in msg:
            # printf/format typed-mismatch guards (r14) ride
            # raise_error(); duck raises Invalid Input Error for these
            return "22023"
        return "P0001"  # raise_error() — PG's RAISE exception code
    name = type(exc).__name__
    if "Parse" in name:
        return "42601"
    if "Analysis" in name:
        return "42000"
    return "22000"


# DuckDB dynamic PIVOT: `PIVOT <tbl> ON <col> USING <fn>(<arg>)
# [GROUP BY cols]` — DuckDB auto-detects the value list; Spark's PIVOT
# clause needs it explicit, so the server resolves the distinct values
# first (schema-aware shim, like the integer-sum rewrite).
# DuckDB statement-level UNPIVOT: `UNPIVOT <tbl> ON <cols> INTO NAME <n>
# VALUE <v>` → Spark's table-expression UNPIVOT clause (same output
# columns and rows; Spark drops NULL cells like DuckDB does).
# ON-list + optional INTO NAME/VALUE tail — DuckDB defaults the output
# columns to name/value (probed)
_UNPIVOT_TAIL_RE = re.compile(
    r"^\s*ON\s+(.+?)(?:\s+INTO\s+NAME\s+(\w+)\s+VALUE\s+(\w+))?\s*;?\s*$",
    re.IGNORECASE | re.DOTALL,
)


def _match_unpivot_stmt(stmt: str) -> tuple[str, str, str, str] | None:
    """(source, on_cols, name_col, val_col) of a DuckDB UNPIVOT
    statement, or None. The parenthesized-source form scans BALANCED
    code-level parens — a lazy regex would cut the source at the first
    ') ON ' inside the inner query (code review r8)."""
    from .compat import _code_mask

    m = re.match(r"^\s*UNPIVOT\s+", stmt, re.IGNORECASE)
    if m is None:
        return None
    rest = stmt[m.end() :]
    if rest.startswith("("):
        mask = _code_mask(rest)
        depth = 0
        end = -1
        for i, ch in enumerate(rest):
            if mask[i]:
                if ch == "(":
                    depth += 1
                elif ch == ")":
                    depth -= 1
                    if depth == 0:
                        end = i
                        break
        if end < 0:
            return None
        src, tail = rest[: end + 1], rest[end + 1 :]
    else:
        tm = re.match(r"([\w.]+)(.*)$", rest, re.DOTALL)
        if tm is None:
            return None
        src, tail = tm.group(1), tm.group(2)
    t = _UNPIVOT_TAIL_RE.match(tail)
    if t is None:
        return None
    return src, t.group(1), t.group(2) or "name", t.group(3) or "value"

_PIVOT_STMT_RE = re.compile(
    r"^\s*PIVOT\s+([\w.]+)\s+ON\s+([\w.]+)\s+USING\s+(\w+)\s*\(\s*([\w.*]+)\s*\)"
    r"(?:\s+GROUP\s+BY\s+([\w.,\s]+?))?\s*;?\s*$",
    re.IGNORECASE,
)
_PIVOT_MAX_VALUES = 100


def _dynamic_pivot_sql(session: SparkSession, stmt: str) -> str | None:
    """DuckDB PIVOT statement → Spark PIVOT clause with the IN-list
    resolved from the data (bounded — beyond _PIVOT_MAX_VALUES distinct
    values a pivot is a mistake and errors loudly)."""
    m = _PIVOT_STMT_RE.match(stmt)
    if m is None:
        return None
    tbl, on_col, fn, arg, group = m.groups()
    rows = (
        session.sql(f"SELECT DISTINCT {on_col} FROM {tbl} ORDER BY 1")
        .limit(_PIVOT_MAX_VALUES + 1)
        .collect()
    )
    if len(rows) > _PIVOT_MAX_VALUES:
        raise _WireError(
            f"PIVOT ON {on_col}: more than {_PIVOT_MAX_VALUES} distinct "
            "values — specify the value list explicitly",
            "54000",
        )
    vals = []
    for r in rows:
        v = r[0]
        if v is None:
            continue
        if isinstance(v, str):
            esc = v.replace("\\", "\\\\").replace("'", "''")
            vals.append(f"'{esc}' AS `{v}`")
        else:
            vals.append(f"{v} AS `{v}`")
    if not vals:
        raise _WireError(f"PIVOT ON {on_col}: no values to pivot", "22000")
    agg_arg = "1" if arg == "*" else arg
    proj_cols = [c.strip() for c in group.split(",")] if group else []
    src = (
        f"(SELECT {', '.join([*proj_cols, on_col, agg_arg])} FROM {tbl})"
        if proj_cols and agg_arg != "1"
        else (f"(SELECT {', '.join([*proj_cols, on_col])}, 1 AS __one FROM {tbl})"
              if proj_cols else tbl)
    )
    if proj_cols and agg_arg == "1":
        agg_arg = "__one"
    return (
        f"SELECT * FROM {src} "
        f"PIVOT ({fn}({agg_arg}) FOR {on_col} IN ({', '.join(vals)}))"
    )


_HAS_SUM_RE = re.compile(r"(?<![\w.])SUM\s*\(", re.IGNORECASE)
_HAS_LEN_RE = re.compile(r"(?<![\w.])length\s*\(", re.IGNORECASE)
_HAS_DATE_IVL_RE = re.compile(
    r"[+-]\s*(?:INTERVAL\b|make_interval\s*\(|make_dt_interval\s*\()",
    re.IGNORECASE,
)
_HAS_COLUMNS_RE = re.compile(r"(?<![\w.])COLUMNS\s*\(", re.IGNORECASE)
_HAS_FLOORCEIL_RE = re.compile(r"\b(?:floor|ceil|ceiling)\s*\(", re.IGNORECASE)
_HAS_LISTAGG_RE = re.compile(r"(?i)\blistagg\s*\(")
_HAS_CMP_RE = re.compile(
    # equality + IN, plus bare ordering ops and BETWEEN (composite
    # ordering leg, r12) — excludes <> <= => <=> :: lambda-> and shifts
    r"<>|!=|==|(?<![<>!=:])=(?![=>])|\bIN\s*\(|\bBETWEEN\b"
    r"|(?<![<>=!:\-|^&])(?:<=|>=|<|>)(?![<>=])",
    re.IGNORECASE,
)
_HAS_VARCHAR_CAST_RE = re.compile(
    r"::\s*(?:VARCHAR|STRING|TEXT|BPCHAR|CHAR)\b"
    r"|\bAS\s+(?:VARCHAR|STRING|TEXT|BPCHAR|CHAR)\s*(?:\(\s*\d+\s*\))?\s*\)",
    re.IGNORECASE,
)
_HAS_STAR_REPLACE_RE = re.compile(r"(?<![\w.])\*\s+REPLACE\s*\(", re.IGNORECASE)
_HAS_DIV_RE = re.compile(r"(?<!/)/(?!/)")
_HAS_AVG_RE = re.compile(r"\b(?:avg|mean)\s*\(", re.IGNORECASE)


# Resolved-schema memo (_schema_fields) for _hugeint_sums: the has_cmp gate
# (r11) made nearly every table statement pay a session.table() Py4J
# round trip (~7 ms measured); table schemas only change on non-read
# statements, which clear the memo at the dispatch chokepoints.
_SCHEMA_FIELDS_CACHE: dict[str, list] = {}
_SCHEMA_READ_HEADS = {
    "SELECT", "WITH", "VALUES", "TABLE", "FROM", "SHOW", "DESCRIBE",
    "DESC", "EXPLAIN", "PREPARE", "BEGIN", "COMMIT", "ROLLBACK",
    "SET", "RESET", "CLOSE", "FETCH", "DECLARE", "ABORT", "START",
}


def _note_statement_head(first: str) -> None:
    """Clear the schema memo when a statement can change table shapes
    (DDL/DML/ATTACH/EXECUTE-of-anything — everything outside the
    read-only head set)."""
    if first and first not in _SCHEMA_READ_HEADS:
        _SCHEMA_FIELDS_CACHE.clear()
        _TYPER_CACHE.clear()
        _BRANCH_SCHEMA_CACHE.clear()


# (statement, operand expression) → type tree from the analysis probe
_TYPER_CACHE: dict[tuple[str, str, str], object] = {}
# branch text → ([(name, kind, typestr)], trusted) for the set-op
# widening pass: the branch analyses ran on EVERY statement execution
# otherwise (~23 ms each — r13 latency check); same invalidation
# discipline as the schema memo
_BRANCH_SCHEMA_CACHE: dict[str, object] = {}


def _select_probe_statements(sql: str, expr: str) -> list[str]:
    """Analysis-probe statements for one operand expression: the
    ORIGINAL statement with ``(expr) AS __ty_probe`` injected into
    each SELECT list — the top-level one first, then SUBQUERY/CTE
    selects (r13 follow-up: operands scoped inside a derived table
    only resolve when the probe rides THEIR select list). Probes are
    appended at the end of each list (before that scope's FROM) so
    positional GROUP BY / ORDER BY ordinals keep their targets
    (second review r13); FROM-less selects get a prepend after
    DISTINCT/ALL. Capped at 8 injection points. The CALLER requires
    every succeeding probe to agree on the resolved type — a probe
    that succeeds in the wrong scope alone cannot silently win unless
    no other scope resolves (same-name same-type is the common case;
    disagreement returns None)."""
    from .compat import _code_mask

    mask = _code_mask(sql)
    # one depth array for the whole statement (second review r13: the
    # per-SELECT prefix rescan was O(n * #SELECTs))
    depths = []
    d = 0
    for i, ch in enumerate(sql):
        if mask[i] and ch == ")":
            d -= 1
        depths.append(d)
        if mask[i] and ch == "(":
            d += 1
    points = [
        m
        for m in re.finditer(r"\bSELECT\b", sql, re.IGNORECASE)
        if all(mask[m.start() : m.end()])
    ]
    points.sort(key=lambda m: depths[m.start()])  # top level first
    out: list[str] = []
    for m in points[:8]:
        sd = depths[m.start()]
        fm = next(
            (
                f
                for f in re.finditer(r"\bFROM\b", sql, re.IGNORECASE)
                if f.start() > m.end()
                and all(mask[f.start() : f.end()])
                and depths[f.start()] == sd
                # the FROM must belong to THIS select, not a later
                # sibling at the same depth: no depth drop between
                and min(depths[m.end() : f.start()], default=sd) >= sd
            ),
            None,
        )
        if fm is not None:
            out.append(
                f"{sql[:fm.start()]}, ({expr}) AS __ty_probe"
                f" {sql[fm.start():]}"
            )
            continue
        at = m.end()
        dm = re.match(r"\s+(?:DISTINCT|ALL)\b", sql[at:], re.IGNORECASE)
        if dm:
            at += dm.end()
        out.append(f"{sql[:at]} ({expr}) AS __ty_probe, {sql[at:]}")
    return out


def _read_only_head(sql: str) -> bool:
    """True when ``session.sql(sql)`` can only ANALYZE, never execute a
    side effect: SELECT/VALUES/TABLE/FROM heads, paren-headed set-op
    queries (test the first CHARACTER — they tokenize as "(SELECT"),
    and WITH-headed statements whose depth-0 body carries no DML verb
    (third review r13: ``WITH c AS (…) INSERT INTO …`` is DML behind a
    read-only head — a probe would have written data)."""
    stripped = sql.lstrip()
    head = stripped.split(None, 1)[0].upper() if stripped else ""
    if head in ("SELECT", "VALUES", "TABLE", "FROM") or stripped.startswith(
        "("
    ):
        return True
    if head != "WITH":
        return False
    from .compat import _code_mask

    wmask = _code_mask(sql)
    d = 0
    for i, ch in enumerate(sql):
        if not wmask[i]:
            continue
        if ch == "(":
            d += 1
        elif ch == ")":
            d -= 1
        elif d == 0 and ch in "IUDMRiudmr":
            if re.match(
                r"(?i)(?:INSERT|UPDATE|DELETE|MERGE|REPLACE)\b",
                sql[i:],
            ) and (i == 0 or not (sql[i - 1].isalnum() or sql[i - 1] == "_")):
                return False
    return True


def _make_expr_typer(session: SparkSession, sql: str, from_table=None, leaf=None):
    """Analysis-time operand typer (r13, VERDICT item 8): returns a
    callable ``expr -> type-tree | None`` backed by Spark's ANALYSIS
    phase only — ``session.sql(probe).schema`` resolves the full
    statement scope without running a job. Probes: the statement with
    the operand hoisted into EACH select list (top level first, then
    subquery/CTE scopes — capped at 8 points, and every succeeding
    point must AGREE on the resolved type); each point retries wrapped
    in first() (grouped statements reject a bare non-aggregate). With
    a ``from_table`` scope (the statement's ``_statement_scope``: the
    target of a single-relation UPDATE/DELETE, or the joint
    target+source clause of UPDATE … FROM / DELETE … USING / MERGE),
    ``SELECT (expr) FROM <scope>`` is probed as well. Any analysis
    failure (set-op arity, out-of-scope columns…) just drops that
    point; zero successes or disagreeing scopes return None and the
    regex legs' conservative skip stands."""

    # hoist probes ONLY into read-only statements: session.sql() of a
    # DML statement EXECUTES it eagerly — probing an INSERT whose
    # injected arity happened to line up would write data (second
    # review r13). DML callers use the from_table SELECT probe instead.
    hoistable = _read_only_head(sql)

    lf = leaf if leaf is not None else _type_tree

    def _probe_one(probe: str):
        try:
            fields = session.sql(probe).schema.fields
        except Exception:  # noqa: BLE001 — analysis failed
            return None
        for f in fields:
            if f.name == "__ty_probe":
                return lf(f.dataType)
        return None

    def typer(expr: str):
        key = (sql, expr, getattr(lf, "__name__", "leaf"))
        if key in _TYPER_CACHE:
            return _TYPER_CACHE[key]
        trees: list = []
        if from_table is not None:
            t = _probe_one(
                f"SELECT ({expr}) AS __ty_probe FROM {from_table}"
            )
            if t is not None:
                trees.append(t)
        if hoistable:
            # one result per injection POINT (bare, then the first()
            # retry for grouped scopes); every succeeding point must
            # AGREE or the operand stays untyped — a same-named column
            # of a different type in another scope must not win
            pairs = zip(
                _select_probe_statements(sql, expr),
                _select_probe_statements(sql, f"first({expr})"),
            )
            for bare, wrapped in pairs:
                t = _probe_one(bare)
                if t is None:
                    t = _probe_one(wrapped)
                if t is not None:
                    trees.append(t)
        if not trees and hoistable and from_table is None:
            # statement-hoist probes can ALL fail when the statement
            # itself doesn't analyze yet (the pipe legs may need THIS
            # type to fix the very expression that breaks analysis —
            # r15 fuzz find: arr || f * 2 deadlocked). Fall back to a
            # bare probe against the FROM table, but only for the
            # SIMPLE single-bare-table shape where scope confusion is
            # impossible (no joins, derived tables, CTEs or aliases).
            ft = _simple_from_table(sql)
            if ft is not None:
                t = _probe_one(
                    f"SELECT ({expr}) AS __ty_probe FROM {ft}"
                )
                if t is not None:
                    trees.append(t)
        tree = trees[0] if trees else None
        if any(t != tree for t in trees):
            tree = None  # scopes disagree: conservative
        if len(_TYPER_CACHE) >= 512:
            _TYPER_CACHE.clear()
        _TYPER_CACHE[key] = tree
        return tree

    return typer


_SIMPLE_FROM_RE = re.compile(
    r"(?is)\bFROM\s+((?:[A-Za-z_]\w*\.)*[A-Za-z_]\w*)\s*"
    r"(?:WHERE|GROUP|ORDER|LIMIT|HAVING|QUALIFY|OFFSET|;|$)"
)


def _simple_from_table(sql: str) -> str | None:
    """The statement's single bare FROM table, or None when the shape
    has any join/derived-table/CTE/alias scope that a bare-table probe
    could mis-resolve (r15)."""
    if re.search(r"(?i)\bJOIN\b|\bWITH\b|\bUNION\b|\bINTERSECT\b"
                 r"|\bEXCEPT\b", sql):
        return None
    froms = [
        m for m in re.finditer(r"(?i)\bFROM\b", sql)
    ]
    if len(froms) != 1:
        return None
    m = _SIMPLE_FROM_RE.search(sql)
    return m.group(1) if m is not None else None


def _type_tree(dt):
    """Spark DataType → the compat passes' hashable type-tree form."""
    from pyspark.sql import types as T

    if isinstance(dt, T.ArrayType):
        return ("array", _type_tree(dt.elementType))
    if isinstance(dt, T.StructType):
        return (
            "struct",
            [(sf.name, _type_tree(sf.dataType)) for sf in dt.fields],
        )
    if isinstance(dt, T.MapType):
        return ("map", _type_tree(dt.keyType), _type_tree(dt.valueType))
    return "atom"


_SETOP_GATE_RE = re.compile(r"\b(UNION|INTERSECT|EXCEPT)\b", re.IGNORECASE)


def _code_pipe_present(sql: str) -> bool:
    """True when a ``||`` exists OUTSIDE string literals/comments —
    the has_pipe gate must not fire on `WHERE s = 'a||b'` (r15,
    ADVICE item 4)."""
    from .compat import _code_mask

    mask = _code_mask(sql)
    return any(
        all(mask[m.start() : m.end()]) for m in re.finditer(r"\|\|", sql)
    )


def _setop_kind(dt) -> str:
    """DataType → the set-op widening pass's kind label (r13)."""
    from pyspark.sql import types as T

    if isinstance(dt, T.StringType):
        return "string"
    if isinstance(dt, T.ByteType | T.ShortType | T.IntegerType | T.LongType):
        return "int"
    if isinstance(dt, T.FloatType):
        return "float32"  # REAL renders single-precision (review r13)
    if isinstance(dt, T.DoubleType):
        return "float64"
    if isinstance(dt, T.DecimalType):
        return "decimal"
    if isinstance(dt, T.BooleanType):
        return "bool"
    if isinstance(dt, T.DateType):
        return "date"
    if isinstance(dt, T.TimestampType | T.TimestampNTZType):
        return "timestamp"
    if isinstance(dt, T.NullType):
        return "null"
    if isinstance(
        dt, T.DayTimeIntervalType | T.YearMonthIntervalType
    ):
        return "interval"
    return "other"


def _printf_kind(dt) -> str:
    """DataType → duck's printf type-dispatch kind (probed matrix
    r14): signed int family 'int'; bool its own kind (formats under
    d-specs, refuses under f-specs as 'int'); FLOAT/DOUBLE/DECIMAL
    'float' (duck's HUGEINT prints as 'string' kind, but the DECIMAL
    emulation cannot tell them apart — documented residue); string,
    date/time/timestamp, intervals, binary and composites all format
    under %s and refuse under numerics as 'string'."""
    from pyspark.sql import types as T

    if isinstance(dt, T.ByteType | T.ShortType | T.IntegerType | T.LongType):
        return "int"
    if isinstance(dt, T.BooleanType):
        return "bool"
    if isinstance(dt, T.FloatType):
        return "f32"  # float family, single-precision render (r14)
    if isinstance(dt, T.DoubleType):
        return "f64"
    if isinstance(dt, T.DecimalType):
        return "dec"
    if isinstance(dt, T.NullType):
        return "null"
    if isinstance(
        dt,
        T.StringType
        | T.VarcharType
        | T.CharType
        | T.DateType
        | T.TimestampType
        | T.TimestampNTZType
        | T.DayTimeIntervalType
        | T.YearMonthIntervalType
        | T.BinaryType
        | T.ArrayType
        | T.MapType
        | T.StructType,
    ) or type(dt).__name__ == "TimeType":
        return "string"
    return "other"


def _float_kinds(dt, acc: set) -> set:
    """Collect the float LEAF widths ('f32'/'f64') of a possibly
    nested DataType — shared by the _hugeint_sums gate loop and the
    ::VARCHAR typer leaf (third review r13: two copies drifted)."""
    from pyspark.sql import types as T

    if isinstance(dt, T.FloatType):
        acc.add("f32")
    elif isinstance(dt, T.DoubleType):
        acc.add("f64")
    elif isinstance(dt, T.ArrayType):
        _float_kinds(dt.elementType, acc)
    elif isinstance(dt, T.MapType):
        _float_kinds(dt.keyType, acc)
        _float_kinds(dt.valueType, acc)
    elif isinstance(dt, T.StructType):
        for sf in dt.fields:
            _float_kinds(sf.dataType, acc)
    return acc


def _vc_leaf(dt):
    """Typer leaf for the composite-::VARCHAR expression leg (r13):
    'cf32' for a complex type whose every float leaf is FLOAT32 (the
    f32 single-precision renderer), 'complex' for other array/struct/
    map types, 'atomic' otherwise (and for enum emulations, which
    render through their own pass)."""
    from pyspark.sql import types as T

    if isinstance(dt, T.ArrayType | T.MapType | T.StructType):
        if _enum_emulation_type(dt) is not None:
            return "atomic"
        return "cf32" if _float_kinds(dt, set()) == {"f32"} else "complex"
    # scalar special kinds (r14): expression operands of a VARCHAR
    # cast render through the duck kernels (the bare-catalog-column
    # fast path is rewrite_scalar_varchar_cols; this leg reaches
    # derived aliases and computed expressions)
    if isinstance(dt, T.DoubleType):
        return "f64"
    if isinstance(dt, T.FloatType):
        return "f32"
    if isinstance(dt, T.DayTimeIntervalType):
        return "dtivl"
    if isinstance(dt, T.YearMonthIntervalType):
        return "ym"
    return "atomic"


def _vc_arr_leaf(dt):
    """Typer leaf for element-wise VARCHAR[] casts (r15): the ARRAY's
    ELEMENT kind decides the duck text kernel."""
    from pyspark.sql import types as T

    if isinstance(dt, T.ArrayType):
        return ("arr", _vc_leaf(dt.elementType))
    return "other"


def _date_leaf(dt):
    """Typer leaf for the time_bucket expression-operand leg (r13):
    'date' for DateType, 'other' for everything else."""
    from pyspark.sql import types as T

    return "date" if isinstance(dt, T.DateType) else "other"


def _bool_leaf(dt):
    """Typer leaf for the boolean-coercion expression leg (r13):
    collapse a resolved DataType to the coercion kind duck applies in
    boolean contexts — num (→ ``<> 0``), str (→ the VARCHAR→BOOLEAN
    CASE), bool (leave native), other (leave loud)."""
    from pyspark.sql import types as T

    if isinstance(
        dt,
        T.ByteType | T.ShortType | T.IntegerType | T.LongType
        | T.FloatType | T.DoubleType | T.DecimalType,
    ):
        return "num"
    if isinstance(dt, T.StringType):
        return "str"
    if isinstance(dt, T.BooleanType):
        return "bool"
    return "other"


def _schema_fields(session: SparkSession, name: str):
    """Resolved schema fields for one table via the schema memo, or None
    when the name does not resolve to a table."""
    fields = _SCHEMA_FIELDS_CACHE.get(name)
    if fields is None:
        try:
            fields = session.table(name).schema.fields
        except Exception:  # noqa: BLE001 — file relations, typos: skip
            return None
        # '__'-prefixed names are one-shot generated temp views
        # (recursive-CTE frames) dropped right after use — caching
        # them grows the memo unboundedly (ADVICE r11); the size
        # bound is a backstop against out-of-band catalog churn
        if not name.split(".")[-1].strip("`").startswith("__"):
            if len(_SCHEMA_FIELDS_CACHE) >= 1024:
                _SCHEMA_FIELDS_CACHE.clear()
            _SCHEMA_FIELDS_CACHE[name] = fields
    return fields


# INSERT … ON CONFLICT … DO UPDATE: its SET arms read the target row
_UPSERT_UPDATE_RE = re.compile(r"(?is)\bON\s+CONFLICT\b.*\bDO\s+UPDATE\b")
_DML_TARGET_RE = re.compile(
    r"^\s*(?:UPDATE|MERGE\s+INTO|DELETE\s+FROM|INSERT\s+INTO)\s+"
    r"((?:[\w$]+|\"[^\"]+\"|`[^`]+`)(?:\.(?:[\w$]+|\"[^\"]+\"|`[^`]+`))*)",
    re.IGNORECASE,
)


def _top_level_kw(sql: str, start: int, kws: tuple[str, ...]):
    """(position, keyword) of the first paren-depth-0 code occurrence
    of any keyword at/after ``start``, or (None, None)."""
    from .compat import _code_mask

    mask = _code_mask(sql)
    depth = 0
    pat = re.compile(r"(?i)\b(" + "|".join(kws) + r")\b|[()]")
    for m in pat.finditer(sql, start):
        if not mask[m.start()]:
            continue
        tok = m.group(0)
        if tok == "(":
            depth += 1
        elif tok == ")":
            depth -= 1
        elif depth == 0:
            return m.start(), m.group(1).upper()
    return None, None


def _dml_joint_scope(sql: str) -> str | None:
    """FROM-clause text for a MULTI-relation DML typer probe (r14,
    VERDICT item 6): UPDATE…FROM / DELETE…USING / MERGE statements get
    ``target_rel, source_rels`` (verbatim clause text — aliases and
    subquery sources ride along) spliced into the analysis probe's
    FROM. An unqualified operand that is ambiguous across the joint
    scope fails ANALYSIS → the typer returns None → conservative skip;
    a qualified or single-scope name resolves exactly as the engine
    resolves it. This erases the r13 gate that refused these forms a
    typer wholesale. None = not a joint-scope form."""
    head = re.match(r"(?is)^\s*(UPDATE|DELETE\s+FROM|MERGE\s+INTO)\s+", sql)
    if head is None:
        return None
    kind = re.sub(r"\s+", " ", head.group(1).upper())
    if kind == "UPDATE":
        set_pos, _ = _top_level_kw(sql, head.end(), ("SET",))
        if set_pos is None:
            return None
        target = sql[head.end() : set_pos].strip()
        from_pos, _ = _top_level_kw(sql, set_pos + 3, ("FROM",))
        if from_pos is None:
            return None
        end, _ = _top_level_kw(
            sql, from_pos + 4, ("WHERE", "RETURNING")
        )
        src = sql[from_pos + 4 : end if end is not None else len(sql)]
        return f"{target}, {src.strip().rstrip(';').strip()}"
    if kind == "DELETE FROM":
        using_pos, _ = _top_level_kw(sql, head.end(), ("USING", "WHERE"))
        if using_pos is None or sql[using_pos : using_pos + 5].upper() != "USING":
            return None
        target = sql[head.end() : using_pos].strip()
        end, _ = _top_level_kw(
            sql, using_pos + 5, ("WHERE", "RETURNING")
        )
        src = sql[using_pos + 5 : end if end is not None else len(sql)]
        return f"{target}, {src.strip().rstrip(';').strip()}"
    # MERGE INTO target USING source ON …
    using_pos, _ = _top_level_kw(sql, head.end(), ("USING",))
    if using_pos is None:
        return None
    target = sql[head.end() : using_pos].strip()
    on_pos, _ = _top_level_kw(sql, using_pos + 5, ("ON",))
    if on_pos is None:
        return None
    src = sql[using_pos + 5 : on_pos].strip()
    return f"{target}, {src}"


def _statement_scope(sql: str) -> tuple[list[str], str | None, str | None]:
    """The statement's relations and its typer scope, resolved once per
    statement, as ``(sources, target, scope)``. ``sources`` are the
    FROM/JOIN relations (``statement_tables``). ``target`` is the DML
    target where its columns are in expression scope and FROM does not
    already name it: UPDATE and MERGE, and INSERT only with ON CONFLICT
    … DO UPDATE (a plain INSERT's expressions read its source relations
    alone); otherwise None. ``scope`` (``from_table`` of every typer
    built for the statement): None for read-only heads, whose typers
    hoist into the statement's own select lists, and for INSERT
    (unprobed); the target for a single-relation UPDATE/DELETE; the
    joint target+source clause for UPDATE … FROM, DELETE … USING and
    MERGE (``_dml_joint_scope``). A pure function of the text, as the
    typer memo's key requires."""
    sources = list(statement_tables(sql))
    tm = _DML_TARGET_RE.match(sql)
    if tm is None:
        return sources, None, None
    head = sql.lstrip().split(None, 1)[0].upper()
    target = tm.group(1)
    if target in sources or (
        head == "INSERT" and _UPSERT_UPDATE_RE.search(sql) is None
    ):
        target = None
    if head == "INSERT":
        return sources, target, None
    single = (
        head in ("UPDATE", "DELETE")
        and len({t.lower() for t in sources + [tm.group(1)]}) <= 1
        # DELETE … USING's relation is invisible to statement_tables
        # (FROM/JOIN only)
        and re.search(r"(?i)\bUSING\b", sql) is None
    )
    return sources, target, tm.group(1) if single else _dml_joint_scope(sql)


def _f32_narrow(typer, f32_names):
    """Wrap a _vc_leaf/_printf_kind typer so an 'f64' verdict narrows
    to 'f32' when DUCK's promotion keeps the expression FLOAT (r15
    fuzz find): Spark widens FLOAT×INT arithmetic to DOUBLE, so the
    analyzed type alone picks the wrong render kernel for f * 2."""
    from .compat import duck_f32_arith

    def t2(expr: str):
        k = typer(expr)
        if k == "f64" and duck_f32_arith(expr, f32_names):
            return "f32"
        return k

    return t2


def _hugeint_sums(session: SparkSession, sql: str) -> str:
    """The schema-typed pass: every statement, read or write, gets the
    rewrites that need its resolved column types here, once (catalog
    lookups — runs in the worker pool). Among them:
    - SUM(int) → DECIMAL(38,0) accumulation (DuckDB HUGEINT semantics;
      cannot overflow at 100 TB row counts);
    - length(array_col) → size(array_col) (DuckDB's polymorphic
      len/length; Spark's length rejects arrays);
    - COLUMNS(*) / COLUMNS('regex') star expressions → explicit
      schema-resolved column lists;
    - enum, date/time ± INTERVAL, DECIMAL division/avg, FLOAT
      narrowing, composite comparison, VARCHAR rendering, ``||``,
      printf, set-op widening and boolean-context coercion legs.
    Column kinds come from ``_statement_scope``'s relations (the DML
    target where its columns are in expression scope; star expressions
    expand the FROM relations only); every expression typer gets its
    scope as ``from_table`` — None for read-only heads (hoist probes)
    and INSERT, the target or the joint target+source clause for
    UPDATE/DELETE/MERGE.
    The printf leg keeps the read-only hoist only, and the set-op leg
    runs on read-only heads only."""
    from .compat import (
        ENUM_TYPES,
        rewrite_date_interval_cols,
        rewrite_enum_table_columns,
    )

    has_sum = _HAS_SUM_RE.search(sql) is not None
    has_len = _HAS_LEN_RE.search(sql) is not None
    has_columns = _HAS_COLUMNS_RE.search(sql) is not None
    has_replace = _HAS_STAR_REPLACE_RE.search(sql) is not None
    # the enum-column pass needs the same schema resolution; zero cost
    # until a CREATE TYPE ... AS ENUM has happened in this process
    has_enum = bool(ENUM_TYPES)
    # date COLUMN ± INTERVAL promotes to TIMESTAMP in DuckDB (the
    # literal form is handled inside compat.rewrite)
    has_date_ivl = _HAS_DATE_IVL_RE.search(sql) is not None
    has_vc_cast = _HAS_VARCHAR_CAST_RE.search(sql) is not None
    # comparison ops gate the schema-typed composite-equality leg; the
    # complex-column scan below decides whether anything rewrites
    has_cmp = _HAS_CMP_RE.search(sql) is not None
    has_floorceil = _HAS_FLOORCEIL_RE.search(sql) is not None
    has_div = _HAS_DIV_RE.search(sql) is not None
    has_avg = _HAS_AVG_RE.search(sql) is not None
    # time_bucket column-operand marker (r13): the rewrite() template
    # tags bare-identifier operands for the DATE-return-type leg
    has_tb = "/*__duck_tb" in sql
    # printf/format argument markers (r14): typed mismatch checking
    has_pf = "/*__duck_pf:" in sql
    # || concat with special-typed columns (r14): duck stringifies.
    # Literal-masked (r15, ADVICE item 4): a '||' inside a string
    # literal must not pull the statement through the schema scan
    has_pipe = "||" in sql and _code_pipe_present(sql)
    # numeric COLUMN in a boolean context (duck coerces via <> 0, r13).
    # This gate is BROAD (nearly every statement has a WHERE/AND) —
    # a deliberate trade: `WHERE v` vs `WHERE flag` cannot be told
    # apart without the schema, the schema fields are memoized, and
    # most statements already pass has_cmp; the extra class is
    # WHERE-only no-comparison statements paying ~the memo lookup.
    from .compat import _BOOL_CTX_L_RE

    has_boolctx = _BOOL_CTX_L_RE.search(sql) is not None
    has_setop = _SETOP_GATE_RE.search(sql) is not None
    # select items with arithmetic (r16): `SELECT f * 2 [AS v]` has no
    # comparison op but still needs the f32 narrowing leg. r17: the
    # gate masks literals and projection stars so date strings and
    # `SELECT *` no longer pull every statement through schema analysis
    from .compat import f32_item_gate

    has_f32item = f32_item_gate(sql)
    # duck string_agg stringifies float args with ITS float text and
    # computes f32 chains per-op (r17) — the listagg leg rides the f32
    # block, so a bare `string_agg(f, ',')` with no arithmetic must
    # still open it
    has_listagg = _HAS_LISTAGG_RE.search(sql) is not None
    if not (
        has_sum or has_len or has_columns or has_replace or has_enum
        or has_date_ivl or has_vc_cast or has_cmp or has_floorceil
        or has_div or has_avg or has_tb or has_boolctx or has_setop
        or has_pf or has_pipe or has_f32item or has_listagg
    ):
        return sql
    from pyspark.sql import types as T

    int_types = (T.ByteType, T.ShortType, T.IntegerType, T.LongType)
    int_cols: set[str] = set()
    array_cols: set[str] = set()
    complex_cols: set[str] = set()
    f32_cols: set[str] = set()
    double_cols: set[str] = set()
    dec_cols: set[str] = set()
    date_cols: set[str] = set()
    time_cols: set[str] = set()
    vc_kind_seen: dict[str, set] = {}
    pipe_str_seen: dict[str, set] = {}
    str_cols: set[str] = set()
    bool_cols: set[str] = set()
    ordered_cols: list[str] = []
    enum_cols: dict[str, str] = {}
    non_enum_cols: set[str] = set()
    varchar_cols: set[str] = set()
    tbl_fields: dict[str, list] = {}
    sources, target, scope = _statement_scope(sql)

    def scoped_typer(text: str, leaf=None):
        return _make_expr_typer(session, text, from_table=scope, leaf=leaf)

    for name in sources + ([target] if target is not None else []):
        fields = _schema_fields(session, name)
        if fields is None:
            continue
        tbl_fields[name] = fields
        int_cols.update(
            f.name.lower() for f in fields if isinstance(f.dataType, int_types)
        )
        array_cols.update(
            f.name.lower() for f in fields if isinstance(f.dataType, T.ArrayType)
        )
        for f in fields:
            if not isinstance(
                f.dataType, T.ArrayType | T.MapType | T.StructType
            ) or _enum_emulation_type(f.dataType) is not None:
                continue
            complex_cols.add(f.name.lower())
            # f32 render ONLY when every float leaf is FLOAT32 — a
            # mixed float/double composite would otherwise narrow
            # its genuine doubles (review r11); mixed columns keep
            # the plain renderer (float32 leaves show widened
            # digits — documented residue)
            if _float_kinds(f.dataType, set()) == {"f32"}:
                f32_cols.add(f.name.lower())
        date_cols.update(
            f.name.lower() for f in fields if isinstance(f.dataType, T.DateType)
        )
        time_cols.update(
            f.name.lower()
            for f in fields
            if type(f.dataType).__name__ == "TimeType"
        )
        for f in fields:  # scalar VARCHAR-cast kinds (r14): a name
            # seen with two different kinds (or any other type) drops
            if isinstance(f.dataType, T.DoubleType):
                k = "f64"
            elif isinstance(f.dataType, T.FloatType):
                k = "f32"
            elif isinstance(f.dataType, T.DayTimeIntervalType):
                k = "dtivl"
            elif isinstance(f.dataType, T.YearMonthIntervalType):
                k = "ym"
            else:
                k = "other"
            vc_kind_seen.setdefault(f.name.lower(), set()).add(k)
        double_cols.update(
            f.name.lower()
            for f in fields
            if isinstance(f.dataType, T.DoubleType | T.FloatType)
        )
        dec_cols.update(
            f.name.lower()
            for f in fields
            if isinstance(f.dataType, T.DecimalType)
        )
        str_cols.update(
            f.name.lower()
            for f in fields
            if isinstance(f.dataType, T.StringType)
        )
        for f in fields:
            # exact-kind string tracking for the || adjacency leg
            # (r15): a name that is STRING in one scope but another
            # type elsewhere must not count as string-adjacent
            pipe_str_seen.setdefault(f.name.lower(), set()).add(
                isinstance(f.dataType, T.StringType)
            )
        bool_cols.update(
            f.name.lower()
            for f in fields
            if isinstance(f.dataType, T.BooleanType)
        )
        for f in fields:
            # star expressions expand the FROM relations, never the
            # DML target
            if name != target and f.name not in ordered_cols:
                ordered_cols.append(f.name)
            if has_enum:
                low = f.name.lower()
                tn = _enum_emulation_type(f.dataType)
                if tn is None:
                    non_enum_cols.add(low)
                    if isinstance(f.dataType, T.StringType):
                        varchar_cols.add(low)
                elif enum_cols.get(low, tn) != tn:
                    non_enum_cols.add(low)  # two different enum types
                else:
                    enum_cols[low] = tn
    # Cross-table type-conflict guard: the sets above are unions of
    # unqualified lowercase names, so a joined table's same-named
    # column of a DIFFERENT kind would inherit the other table's
    # rewrite (e.g. t1.v ARRAY<FLOAT> + t2.v DOUBLE → duck_varchar_f32
    # narrowing t2's doubles — review r11 second pass). A clashing
    # name drops out of every kind-gated set; within-kind width
    # differences (INT vs BIGINT, FLOAT vs DOUBLE) stay eligible.
    if tbl_fields:
        def _kind(dt) -> str:
            if isinstance(dt, int_types):
                return "int"
            if isinstance(dt, T.DoubleType | T.FloatType):
                return "float"
            if isinstance(dt, T.DecimalType):
                return "decimal"
            if isinstance(dt, T.DateType):
                return "date"
            if isinstance(dt, T.ArrayType | T.MapType | T.StructType):
                return "complex"
            if isinstance(dt, T.StringType):
                return "string"
            if isinstance(dt, T.BooleanType):
                return "boolean"
            return "other"

        kinds: dict[str, set] = {}
        f32_marks: dict[str, set] = {}
        for fields2 in tbl_fields.values():
            for f in fields2:
                lowname = f.name.lower()
                k = _kind(f.dataType)
                kinds.setdefault(lowname, set()).add(k)
                if k == "complex" and _enum_emulation_type(f.dataType) is None:
                    f32_marks.setdefault(lowname, set()).add(
                        _float_kinds(f.dataType, set()) == {"f32"}
                    )
        for lowname, ks in kinds.items():
            if len(ks) > 1:
                for colset in (
                    complex_cols, f32_cols, double_cols,
                    int_cols, array_cols, date_cols, dec_cols,
                    str_cols, bool_cols,
                ):
                    colset.discard(lowname)
            elif len(f32_marks.get(lowname, ())) > 1:
                # all-complex but only SOME tables' version is all-f32:
                # keep the generic render, drop the f32 narrowing
                f32_cols.discard(lowname)
    if has_enum and enum_cols:
        # a name that is enum in one statement table and plain in
        # another is ambiguous — leave it to the loud analyzer error
        for low in non_enum_cols:
            enum_cols.pop(low, None)
        from .compat import propagate_enum_aliases

        enum_cols = propagate_enum_aliases(
            sql, enum_cols, non_enum_cols | varchar_cols
        )
        sql = rewrite_enum_table_columns(sql, enum_cols, varchar_cols)
    if has_date_ivl and date_cols:
        sql = rewrite_date_interval_cols(sql, date_cols)
    if has_date_ivl and time_cols:
        # TIME column ± INTERVAL wraps mod-24h like the engine (r14)
        from .compat import rewrite_time_interval_cols

        sql = rewrite_time_interval_cols(sql, time_cols)
    if has_columns and ordered_cols:
        sql = rewrite_columns_star(sql, ordered_cols)
    if has_replace and ordered_cols:
        sql = rewrite_star_replace(sql, ordered_cols)
    if has_div and dec_cols:
        from .compat import rewrite_decimal_col_div

        sql = rewrite_decimal_col_div(sql, dec_cols)
    if has_avg and dec_cols:
        from .compat import rewrite_decimal_avg

        sql = rewrite_decimal_avg(sql, dec_cols)
    if has_cmp or has_f32item or has_listagg:
        # FLOAT COLUMN arithmetic/comparison and aliased-select-item
        # positions (r16, VERDICT item 1): duck keeps FLOAT through
        # + - * / % and compares a FLOAT side against int/decimal/
        # string-literal sides in FLOAT; Spark widens to DOUBLE, so
        # `WHERE f * 2 > 0.3` can disagree on boundary rows and
        # `SELECT f * 2 AS v` reaches the wire as FLOAT8. Schema leg
        # of compat.rewrite_f32_* (cast units ran type-blind inside
        # rewrite()).
        f32_scalar = {
            n for n, ks in vc_kind_seen.items() if ks == {"f32"}
        }
        # listagg over a bare DOUBLE column also needs the kernel
        # render (duck '1e+20' vs Java '1.0E20') — f64 names open the
        # block when a listagg call is present
        fl_scalar = f32_scalar | (
            {n for n, ks in vc_kind_seen.items() if ks == {"f64"}}
            if has_listagg
            else set()
        )
        low_sql = sql.lower()
        if fl_scalar and any(n in low_sql for n in fl_scalar):
            from .compat import rewrite_f32_positions

            f32_kinds: dict[str, object] = {}
            for n2, ks in vc_kind_seen.items():
                if ks == {"f32"}:
                    f32_kinds[n2] = "f32"
                elif ks == {"f64"}:
                    f32_kinds[n2] = "f64"
            for n2 in int_cols:
                f32_kinds.setdefault(n2, "int")
            for fields5 in tbl_fields.values():
                for f5 in fields5:
                    low5 = f5.name.lower()
                    if low5 in dec_cols and low5 not in f32_kinds:
                        f32_kinds[low5] = ("dec", f5.dataType.scale)
            # an explicit alias can rebind a name to another type:
            # drop rebound names (the vc_typer shadow precedent);
            # f32_alias_kinds re-adds them with the EXPRESSION's kind
            for n2 in [k for k in f32_kinds if k in low_sql]:
                if re.search(
                    rf"(?i)\bAS\s+`?{re.escape(n2)}`?\b", sql
                ):
                    f32_kinds.pop(n2)
            sql = rewrite_f32_positions(sql, f32_kinds)
    if has_floorceil and double_cols:
        # AFTER the f32 legs (r17): a FLOAT column is in double_cols,
        # and wrapping `ceil(f)` into the DOUBLE guard first would
        # hide the call from the f32 typer's floor/ceil narrowing —
        # f32 emissions dodge this leg via double-parens arguments
        from .compat import rewrite_double_floor_ceil

        sql = rewrite_double_floor_ceil(sql, double_cols)
    from .compat import _COMPLEX_EXPR_HINT_RE

    if has_cmp and (
        complex_cols or _COMPLEX_EXPR_HINT_RE.search(sql) is not None
    ):
        # composite COLUMN =/<> comparisons: schema-typed 3VL
        # (constructor-literal sides were handled in rewrite());
        # complex-carrying EXPRESSIONS with no complex catalog column
        # (split(s,',') < split(t,',')) reach via the typer (r13)
        from .compat import rewrite_composite_col_eq

        _tree = _type_tree
        ctypes: dict[str, object] = {}
        ambiguous: set[str] = set()
        # reuse the schemas the gate loop above already fetched —
        # a second session.table() round per table doubled the
        # catalog cost on the wire path (review r11)
        for name, fields2 in tbl_fields.items():
            for f in fields2:
                lowname = f.name.lower()
                if lowname not in complex_cols:
                    continue
                tr = _tree(f.dataType)
                if ctypes.get(lowname, tr) != tr:
                    ambiguous.add(lowname)
                ctypes[lowname] = tr
        for lowname in ambiguous:
            # r15 (VERDICT item 7): keep an "ambig" marker instead of
            # dropping the name — qualified references resolve through
            # the analysis typer, bare ones stay conservative
            ctypes[lowname] = "ambig"
        if ctypes or _COMPLEX_EXPR_HINT_RE.search(sql):
            from .compat import (
                propagate_complex_aliases,
                rewrite_composite_col_ord,
            )

            # reach derived-table/CTE output names: `SELECT a AS x …`
            # gives x the same type tree (r12, enum-alias precedent)
            blocked = {
                f.name.lower()
                for fields3 in tbl_fields.values()
                for f in fields3
                if f.name.lower() not in ctypes
            }
            ctypes = propagate_complex_aliases(sql, ctypes, blocked)
            # analysis-time fallback for opaque operands (r13): type
            # by hoisting into the SELECT list, analysis only — over
            # the bool-slot-NEUTRALIZED text, or a statement that also
            # carries duck-style coercion slots (`WHERE n + 1`) would
            # fail analysis and starve the probe (review r13)
            from .compat import neutralize_bool_slots

            typer = scoped_typer(neutralize_bool_slots(sql))
            sql = rewrite_composite_col_eq(sql, ctypes, typer)
            sql = rewrite_composite_col_ord(sql, ctypes, typer)
    if has_vc_cast:
        # composite column ::VARCHAR → DuckDB's text rendering (the
        # type-blind rewrite() pass covers constructor literals; this
        # schema-aware leg covers plain column operands, and the typer
        # fallback covers opaque complex EXPRESSIONS — slices,
        # coalesce heads, derived-table aliases — r13 continuation)
        from .compat import neutralize_bool_slots, rewrite_composite_varchar

        catalog_lower = {
            f.name.lower()
            for fields4 in tbl_fields.values()
            for f in fields4
        }
        vc_base = _f32_narrow(
            scoped_typer(neutralize_bool_slots(sql), _vc_leaf),
            {n for n, ks in vc_kind_seen.items() if ks == {"f32"}},
        )

        def vc_typer(expr: str):
            # known-atomic catalog columns never pay a probe — UNLESS
            # the statement rebinds the name with an explicit alias
            # (`SELECT a AS k … k::VARCHAR` — the alias could shadow
            # the atomic catalog column with a complex value; third
            # review r13). Implicit (no-AS) alias shadowing of a
            # same-named atomic column stays a documented corner.
            if re.fullmatch(r"[A-Za-z_][\w.]*", expr) is not None:
                b = expr.split(".")[-1].lower()
                if (
                    b in catalog_lower
                    and b not in complex_cols
                    and re.search(
                        rf"(?i)\bAS\s+`?{re.escape(b)}`?\b", sql
                    )
                    is None
                ):
                    return "atomic"
            return vc_base(expr)

        sql = rewrite_composite_varchar(sql, complex_cols, f32_cols, vc_typer)
    # scalar special-typed column casts to VARCHAR + literal-adjacent
    # || concat operands render duck text (r14): doubles gave Java
    # '1.0E20', intervals Spark's own spelling, composite || errored
    vc_kinds = {
        n: next(iter(ks))
        for n, ks in vc_kind_seen.items()
        if len(ks) == 1 and "other" not in ks
    }
    if has_vc_cast and vc_kinds:
        from .compat import rewrite_scalar_varchar_cols

        sql = rewrite_scalar_varchar_cols(sql, vc_kinds)
    if re.search(r"(?i)ARRAY<\s*STRING\s*>", sql) is not None:
        # element-wise VARCHAR[] casts of special-element arrays
        # render duck text per element (r15)
        from .compat import (
            neutralize_bool_slots,
            rewrite_array_string_casts,
        )

        sql = rewrite_array_string_casts(
            sql,
            scoped_typer(neutralize_bool_slots(sql), _vc_arr_leaf),
        )
    if has_pipe:
        from .compat import (
            neutralize_bool_slots,
            rewrite_pipe_concat_special_cols,
        )

        # the typer is built LAZILY on the first paren-group candidate
        # (r15, ADVICE item 4): most ||-bearing statements have no
        # special-typed operand and skip the probe-session setup
        # the factory takes the CURRENT statement text: the pipe pass
        # may need earlier replacements applied before a probe can
        # ANALYZE (r15 fuzz find)
        sql = rewrite_pipe_concat_special_cols(
            sql, vc_kinds, complex_cols, f32_cols,
            typer_factory=lambda cur: _f32_narrow(
                scoped_typer(neutralize_bool_slots(cur), _vc_leaf),
                {n for n, k in vc_kinds.items() if k == "f32"},
            ),
            str_cols={
                n for n, ks in pipe_str_seen.items() if ks == {True}
            },
            array_cols=array_cols,
        )
    if has_pf:
        # printf/format typed-argument check (r14, VERDICT item 3):
        # duck refuses a mismatched COLUMN argument per non-null row
        # where Java coerces — the typer resolves each marked arg and
        # a mismatch becomes a NULL-guarded raise_error. Read-only
        # heads only (the typer's hoist gate, no statement scope);
        # DML-embedded printf keeps the documented coercion fallback.
        from .compat import (
            neutralize_bool_slots,
            neutralize_pf_casts,
            rewrite_printf_typed,
        )

        # probes run on a copy with the marked casts NULLed out — the
        # Java-coercion fallback itself may not analyze (CAST(date AS
        # BIGINT)), which would starve every probe point
        pf_typer = _f32_narrow(
            _make_expr_typer(
                session,
                neutralize_bool_slots(neutralize_pf_casts(sql)),
                leaf=_printf_kind,
            ),
            {n for n, ks in vc_kind_seen.items() if ks == {"f32"}},
        )
        sql = rewrite_printf_typed(sql, pf_typer)
    if has_len:  # array_cols may be empty — the always-array function
        sql = rewrite_array_length(sql, array_cols)  # heads still rewrite
    if has_sum:
        sql = rewrite_integer_sums(sql, int_cols)
    if has_setop and _read_only_head(sql):
        # duck widens mixed-type set-op branches (string+numeric →
        # VARCHAR, bool+numeric → numeric) where Spark coerces the
        # other way or refuses; branch schemas via ANALYSIS only — the
        # read-only gate keeps session.sql() from EXECUTING a DDL/DML
        # head passed as a "branch" (the r13 third-review trap). Runs
        # BEFORE the bool-coercion pass so its probes see consistent
        # branch types (review r13: the passes starved each other);
        # a branch whose own bool slots break analysis retries with
        # the slot-neutralized copy.
        from .compat import neutralize_bool_slots, rewrite_setop_mixed_types

        def _branch_schema(branch_sql: str):
            if branch_sql in _BRANCH_SCHEMA_CACHE:
                return _BRANCH_SCHEMA_CACHE[branch_sql]
            trusted = True
            fixed = None  # coerced branch text that ANALYZED, if any
            try:
                fields = session.sql(branch_sql).schema.fields
            except Exception:  # noqa: BLE001
                # retry with the REAL bool coercion first (cheap legs
                # + the expression typer over the branch slice) — it
                # preserves the branch's output names, so the result
                # stays TRUSTED (`SELECT true AS c … WHERE b` and
                # `… WHERE (a + 1)` widened bool∪numeric only once
                # this retry existed — r14 combined-fuzz finds), and
                # the coerced text is RETURNED so the widening wrapper
                # embeds it (a derived-table wrapper would otherwise
                # hide the branch's columns from the later bool pass's
                # probes); the name-mangling neutralized retry is the
                # last resort
                from .compat import rewrite_int_bool_contexts

                try:
                    coerced = rewrite_int_bool_contexts(
                        branch_sql,
                        int_cols | double_cols | dec_cols,
                        str_cols,
                        lambda neutral: scoped_typer(neutral, _bool_leaf),
                        bool_cols,
                    )
                    fields = session.sql(coerced).schema.fields
                    fixed = coerced
                    # names stay trusted only while the SELECT LIST is
                    # byte-identical — a coerced UNALIASED select item
                    # (`SELECT a AND b` → `(a <> 0) AND …`) changes its
                    # auto-generated name (review r14)
                    trusted = _select_head(coerced) == _select_head(
                        branch_sql
                    )
                except Exception:  # noqa: BLE001 — retry neutralized
                    trusted = False  # auto-generated names may differ
                    try:
                        fields = session.sql(
                            neutralize_bool_slots(branch_sql)
                        ).schema.fields
                    except Exception:  # noqa: BLE001 — conservative
                        fields = None
            # r15 fuzz find: Spark widens FLOAT×INT select items to
            # DOUBLE where duck keeps FLOAT — narrow the branch kind
            # so a widened set-op renders the float32 text ('0.2',
            # not the f64 digits of the widened value)
            items = None
            if fields is not None:
                from .compat import duck_f32_arith, split_top_level

                f32n = {
                    n for n, ks in vc_kind_seen.items() if ks == {"f32"}
                }
                hm = re.match(
                    r"(?is)^\s*SELECT\s+(?:DISTINCT\s+|ALL\s+)?",
                    fixed or branch_sql,
                )
                if hm is not None and f32n:
                    raw = split_top_level(
                        _select_head(fixed or branch_sql)[hm.end() :]
                    )
                    if len(raw) == len(fields):
                        items = [
                            re.sub(
                                r"(?is)\s+AS\s+(`[^`]*`|\w+)\s*$", "", it
                            ).strip()
                            for it in raw
                        ]

            def _kind_for(ci: int, f) -> str:
                k = _setop_kind(f.dataType)
                if (
                    k == "float64"
                    and items is not None
                    and duck_f32_arith(items[ci], f32n)
                ):
                    return "float32"
                return k

            result = (
                None
                if fields is None
                else (
                    [
                        (
                            f.name,
                            _kind_for(ci, f),
                            f.dataType.simpleString(),
                        )
                        for ci, f in enumerate(fields)
                    ],
                    trusted,
                    fixed,
                )
            )
            if result is not None:
                # never cache a FAILED analysis — a transient probe
                # failure would otherwise disable widening for this
                # branch text until the next non-read statement
                # (review r13)
                if len(_BRANCH_SCHEMA_CACHE) >= 512:
                    _BRANCH_SCHEMA_CACHE.clear()
                _BRANCH_SCHEMA_CACHE[branch_sql] = result
            return result

        sql = rewrite_setop_mixed_types(sql, _branch_schema)
    if has_boolctx:
        from .compat import rewrite_int_bool_contexts

        # the expression leg types non-atom slots (`WHERE v + 1`,
        # `HAVING count(*)`) through the analysis prober; probes only
        # fire for slots the cheap legs can't classify, against the
        # pass's slot-neutralized statement text; known BOOLEAN
        # columns skip entirely (no probe — review r13)
        sql = rewrite_int_bool_contexts(
            sql,
            int_cols | double_cols | dec_cols,
            str_cols,
            lambda neutral: scoped_typer(neutral, _bool_leaf),
            bool_cols,
        )
    if has_tb:
        # AFTER the bool pass: the operand typer analyzes the statement
        # text, which only resolves once coercion slots are rewritten
        # (review r13 — the tb typer was starved by bool slots)
        from .compat import neutralize_bool_slots, rewrite_time_bucket_date_cols

        sql = rewrite_time_bucket_date_cols(
            sql,
            date_cols,
            scoped_typer(neutralize_bool_slots(sql), _date_leaf),
        )
    return sql


_EXPORT_DB_RE = re.compile(
    r"^\s*EXPORT\s+DATABASE\s+'([^']+)'\s*(?:\((.*)\))?\s*;?\s*$",
    re.IGNORECASE | re.DOTALL,
)
_IMPORT_DB_RE = re.compile(
    r"^\s*IMPORT\s+DATABASE\s+'([^']+)'\s*;?\s*$", re.IGNORECASE
)

# --------------------------------------------------------- ATTACH / DETACH

_ATTACH_RE = re.compile(
    r"^\s*ATTACH\s+(?:DATABASE\s+)?(IF\s+NOT\s+EXISTS\s+)?'([^']*)'"
    r"(?:\s+AS\s+(\w+))?\s*(?:\(([^)]*)\))?\s*;?\s*$",
    re.IGNORECASE,
)
_DETACH_RE = re.compile(
    r"^\s*DETACH\s+(?:DATABASE\s+)?(IF\s+EXISTS\s+)?(\w+)\s*;?\s*$",
    re.IGNORECASE,
)
_USE_RE = re.compile(r"^\s*USE\s+(\w+)(?:\.(\w+))?\s*;?\s*$", re.IGNORECASE)

_CREATE_TYPE_RE = re.compile(
    r"^\s*CREATE\s+TYPE\s+(\w+)\s+AS\s+(.+)$", re.IGNORECASE | re.DOTALL
)
_DROP_TYPE_RE = re.compile(
    r"^\s*DROP\s+TYPE\s+(IF\s+EXISTS\s+)?(\w+)(?:\s+CASCADE)?\s*;?\s*$",
    re.IGNORECASE,
)

# alias → {"kind": "memory" | "file_ro", "path": str | None}
ATTACHED: dict[str, dict] = {}

# rows per Arrow batch for the streamed READ_ONLY-attach import —
# bounds peak driver memory to one batch (tests shrink it to force
# multi-batch paths)
_ATTACH_BATCH_ROWS = 1 << 20

# current database, tracked by the USE handler (one shared SparkSession
# → one shared current database, like the reference's single DuckDB
# instance). Spark's default database answers to DuckDB's names for it.
CURRENT_DB = ["default"]
_DEFAULT_DB_ALIASES = {"default", "main", "memory"}

# INSERT target for the view-write guard. Covers the DuckDB/PG
# spellings AND Spark's own (INSERT OVERWRITE [TABLE], INSERT INTO
# TABLE) — the plain-INSERT fall-through runs spark.sql directly, so a
# Spark-savvy client could reach the grammar parse_insert doesn't
# model (code review r10: INSERT OVERWRITE slipped past the guard).
_INSERT_TARGET_RE = re.compile(
    r"^\s*INSERT\s+(?:OR\s+\w+\s+)?(?:INTO|OVERWRITE)\s+(?:TABLE\s+)?"
    r"([\w.\"]+)",
    re.IGNORECASE,
)


def _unquote_ident(name: str) -> str:
    """``"a"."b"`` → ``a.b`` — per-part quote strip so quoted qualified
    targets still resolve in the catalog (code review r10: a bare
    str.strip('\"') mangled them and silently skipped the guard)."""
    return ".".join(p.strip('"') for p in name.split("."))


_WRITE_TARGET_RE = re.compile(
    r"^\s*(?:"
    r"INSERT\s+(?:OR\s+\w+\s+)?INTO"
    r"|UPDATE"
    r"|DELETE\s+FROM"
    r"|MERGE\s+INTO"
    r"|TRUNCATE(?:\s+TABLE)?"
    r"|CREATE\s+(?:OR\s+REPLACE\s+)?(?:TEMP(?:ORARY)?\s+)?"
    r"(?:TABLE|VIEW)(?:\s+IF\s+NOT\s+EXISTS)?"
    r"|DROP\s+(?:TABLE|VIEW)(?:\s+IF\s+EXISTS)?"
    r"|ALTER\s+TABLE(?:\s+IF\s+EXISTS)?"
    r")\s+([\w.\"]+)",
    re.IGNORECASE,
)

# COPY <tbl> FROM 'file' LOADS INTO the table (a write); COPY <tbl> TO
# 'file' / COPY (SELECT ...) TO 'file' only READ it — DuckDB allows the
# latter from a READ_ONLY attach (ADVICE r7 item 2).
_COPY_LOAD_RE = re.compile(
    r"^\s*COPY\s+([\w.\"]+)\s*(?:\([^()]*\))?\s+FROM\b", re.IGNORECASE
)
# Write verbs _WRITE_TARGET_RE doesn't bind a target for (ADVICE r7
# item 4: ALTER VIEW ro.v RENAME, CREATE INDEX ... ON ro.t fell through)
_CREATE_INDEX_RE = re.compile(
    r"^\s*CREATE\s+(?:UNIQUE\s+)?INDEX\s+(?:IF\s+NOT\s+EXISTS\s+)?"
    r"[\w.\"]+\s+ON\s+([\w.\"]+)",
    re.IGNORECASE,
)
_ALTER_ANY_RE = re.compile(
    r"^\s*ALTER\s+\w+\s+(?:IF\s+EXISTS\s+)?([\w.\"]+)", re.IGNORECASE
)
_WRITE_WORDS = frozenset(
    ("INSERT", "UPDATE", "DELETE", "MERGE", "TRUNCATE", "CREATE", "DROP",
     "ALTER", "COPY")  # COPY gates dispatch; only COPY ... FROM is a write
)


def _readonly_write_target(stmt: str) -> str | None:
    """Alias of a READ_ONLY-attached database this statement WRITES to,
    else None. The check binds to the statement's write TARGET (the
    table after INTO/UPDATE/FROM/...), not a substring scan — an
    ``INSERT INTO local_t SELECT * FROM ro.t`` READ of the RO database
    is legal, and an unqualified write after ``USE ro`` must still be
    caught (code review r7). COPY only counts when the direction is
    FROM (a load); COPY ... TO is an export and stays legal on RO.
    When the verb is a write word but no pattern binds a target, any
    RO-alias qualifier in the statement refuses conservatively rather
    than silently diverging from DuckDB's RO refusal (ADVICE r7)."""
    ro = {a for a, meta in ATTACHED.items() if meta["kind"] == "file_ro"}
    if not ro:
        return None
    first = stmt.split(None, 1)[0].upper() if stmt.split() else ""
    if first == "COPY":
        m = _COPY_LOAD_RE.match(stmt)
        if m is None:
            return None
    else:
        m = (
            _WRITE_TARGET_RE.match(stmt)
            or _CREATE_INDEX_RE.match(stmt)
            or _ALTER_ANY_RE.match(stmt)
        )
    if m is None:
        if first in _WRITE_WORDS:
            for a in sorted(ro):
                if re.search(
                    rf'\b{re.escape(a)}\s*\.', stmt, re.IGNORECASE
                ):
                    return a
            if CURRENT_DB[0] in ro and first in ("INSERT", "UPDATE",
                                                 "DELETE", "MERGE",
                                                 "TRUNCATE"):
                return CURRENT_DB[0]
        return None
    target = m.group(1).replace('"', "").lower()
    if "." in target:
        db = target.split(".")[0]
        return db if db in ro else None
    return CURRENT_DB[0] if CURRENT_DB[0] in ro else None


def _attach_database(
    session: SparkSession, path: str, alias: str | None, opts: str,
    if_not_exists: bool,
) -> str:
    """DuckDB ``ATTACH`` → Spark database (namespace) in the session
    catalog; qualified names (``db.t`` and DuckDB's explicit
    ``db.main.t``) then resolve through Spark's own resolver.

    Supported forms (the reference delegates the full grammar to
    DuckDB via cpp:52; this covers the common client uses):
    - ``ATTACH ':memory:' AS x`` — fresh database, tables live in the
      session catalog exactly like DuckDB's in-memory db.
    - ``ATTACH 'file.db' AS x (READ_ONLY)`` with an EXISTING DuckDB
      file — the file's tables are imported (DuckDB → Arrow → Spark)
      into database x; the file itself is never written.
    Writable file-backed attach refuses loudly: Spark tables cannot
    transparently persist into a DuckDB-format file, and accepting the
    statement while dropping the persistence contract would lose user
    data silently (0A000).
    """
    from .compat import ATTACHED_DBS

    name = alias or (path.rsplit("/", 1)[-1].split(".")[0] or "db")
    name_l = name.lower()
    # the session catalog, not catalog.listDatabases() (a Spark job;
    # see _list_user_tables)
    if session._jsparkSession.sessionState().catalog().databaseExists(name_l):
        if if_not_exists:
            return name
        # DuckDB: Binder Error: ... database with name "x" already exists
        raise ValueError(
            f'Failed to attach database: database with name "{name}" '
            "already exists"
        )
    read_only = bool(
        re.search(r"\bREAD_ONLY\b", opts or "", re.IGNORECASE)
    )
    if path == ":memory:" or path == "":
        session.sql(f"CREATE DATABASE `{name}`")
        ATTACHED[name_l] = {"kind": "memory", "path": None}
    elif read_only:
        import os

        if not os.path.exists(path):
            raise ValueError(f'Failed to attach database "{path}": file not found')
        import duckdb as _duck

        con = _duck.connect(path, read_only=True)
        try:
            tables = [r[0] for r in con.execute("SHOW TABLES").fetchall()]
            session.sql(f"CREATE DATABASE `{name}`")
            _import_ro_tables(session, con, name, tables)
        except Exception:
            # a half-imported database would make a RETRY of the same
            # ATTACH fail on the leftover managed-table locations —
            # drop what was created before re-raising
            try:
                session.sql(f"DROP DATABASE IF EXISTS `{name}` CASCADE")
            except Exception:
                pass
            raise
        finally:
            con.close()
        ATTACHED[name_l] = {"kind": "file_ro", "path": path}
    else:
        raise NotImplementedError(
            "writable file-backed ATTACH is not supported (tables could "
            "not persist back into a DuckDB-format file); use "
            "ATTACH ':memory:' AS name, or (READ_ONLY) for an existing file"
        )
    ATTACHED_DBS.add(name_l)
    return name


def _import_ro_tables(session, con, name: str, tables: list[str]) -> None:
    """Import DuckDB tables into Spark database `name`, streaming Arrow
    record batches (bounded driver memory; see _attach_database)."""
    import pyarrow as _pa

    for t in tables:
        # STREAM the import batch-wise (r7 verdict item 2): a
        # fetch_arrow_table() of the whole file was the last unbounded
        # driver-memory path — a 100 GB attached table would OOM the
        # driver. Arrow batches are handed to Spark directly
        # (to_pandas() would coerce nullable int columns to float64
        # with NaN-for-NULL, code review r7) and appended to the
        # managed table, so peak driver memory is one batch regardless
        # of table size.
        reader = con.execute(f'SELECT * FROM "{t}"') \
            .fetch_record_batch(_ATTACH_BATCH_ROWS)
        qual = f"`{name}`.`{t}`"
        wrote = False
        for batch in reader:
            df = session.createDataFrame(_pa.Table.from_batches([batch]))
            if wrote:
                df.write.mode("append").saveAsTable(qual)
            else:
                df.write.saveAsTable(qual)
                wrote = True
        if not wrote:  # zero-row table: keep its schema
            session.createDataFrame(
                _pa.Table.from_batches([], schema=reader.schema)
            ).write.saveAsTable(qual)


def _detach_database(
    session: SparkSession, name: str, if_exists: bool
) -> None:
    from .compat import ATTACHED_DBS

    name_l = name.lower()
    if name_l not in ATTACHED:
        if if_exists:
            return
        raise ValueError(
            f'Failed to detach database with name "{name}": database not found'
        )
    if session.catalog.currentDatabase().lower() == name_l:
        raise ValueError(
            f'Cannot detach database "{name}" because it is the default '
            "database. Select a different database using `USE`"
        )
    session.sql(f"DROP DATABASE IF EXISTS `{name}` CASCADE")
    ATTACHED.pop(name_l, None)
    ATTACHED_DBS.discard(name_l)


def _export_database(session: SparkSession, path: str, opts: str) -> int:
    """DuckDB ``EXPORT DATABASE 'dir'``: one data file per permanent
    table plus schema.sql/load.sql, same layout DuckDB writes (probed:
    ``<table>.parquet|csv`` + the two SQL files). Distributed writes;
    only the DDL text goes through the driver. Returns table count."""
    import os

    fmt = "parquet"
    fm = _COPY_FORMAT_OPT.search(opts or "")
    if fm:
        fmt = fm.group(1).lower()
    if fmt not in ("parquet", "csv"):
        raise ValueError(f"EXPORT DATABASE format {fmt!r} not supported")
    os.makedirs(path, exist_ok=True)
    schema_lines: list[str] = []
    load_lines: list[str] = []
    n = 0
    for t in _list_user_tables(session):
        if (t.tableType or "").upper() not in ("EXTERNAL", "MANAGED"):
            continue  # views/temp fixtures are not export units
        df = session.table(t.name)
        target = f"{path}/{t.name}.{fmt}"
        writer = df.coalesce(1).write.mode("overwrite")
        if fmt == "csv":
            writer.option("header", "true").csv(target)
        else:
            writer.parquet(target)
        cols = ", ".join(
            f"{f.name} {f.dataType.simpleString().upper()}" for f in df.schema.fields
        )
        schema_lines.append(f"CREATE TABLE {t.name} ({cols});")
        load_lines.append(f"COPY {t.name} FROM '{target}';")
        n += 1
    with open(f"{path}/schema.sql", "w") as fh:
        fh.write("\n".join(schema_lines) + "\n")
    with open(f"{path}/load.sql", "w") as fh:
        fh.write("\n".join(load_lines) + "\n")
    return n


def _import_database(session: SparkSession, path: str) -> int:
    """DuckDB ``IMPORT DATABASE 'dir'``: recreate every table exported
    by ``EXPORT DATABASE`` (reads the data files directly — the
    schema.sql dialect is Spark's own, from _export_database)."""
    import os
    import tempfile as _tf

    n = 0
    for entry in sorted(os.listdir(path)):
        base, dot, ext = entry.rpartition(".")
        if ext not in ("parquet", "csv") or not base:
            continue
        src = f"{path}/{entry}"
        df = (
            session.read.option("header", "true").option("inferSchema", "true").csv(src)
            if ext == "csv"
            else session.read.parquet(src)
        )
        session.sql(f"DROP TABLE IF EXISTS {base}")
        loc = _tf.mkdtemp(prefix=f"import_{base}_")
        df.write.option("path", loc).mode("overwrite").saveAsTable(base)
        n += 1
    return n


def _list_user_tables(session: SparkSession):
    """catalog.listTables() minus internal staging views (RETURNING
    snapshots, UNION-BY-NAME tails, ...) and the pg_catalog emulation
    views of _refresh_pg_catalog — dunder-prefixed names are engine
    plumbing, and neither must surface in SHOW TABLES / pg_catalog /
    information_schema, where DuckDB shows only user objects.

    Read from the session catalog directly: catalog.listTables() runs
    a SHOW TABLES plan through a Spark job on every call. Same entries
    and order; ``description`` is left None (no caller reads it)."""
    from pyspark.sql.catalog import Table

    cat = session._jsparkSession.sessionState().catalog()
    idents = cat.listTables(cat.getCurrentDatabase())
    out = []
    for i in range(idents.size()):
        ident = idents.apply(i)
        name = ident.table()
        if name.startswith("__"):
            continue
        if cat.isTempView(ident):
            if _PG_VIEW_RE.fullmatch(name):
                continue
            out.append(Table(name, None, [], None, "TEMPORARY", True))
        else:
            db = ident.database().get()
            ttype = cat.getTableMetadata(ident).tableType().name()
            out.append(Table(name, "spark_catalog", [db], None, ttype, False))
    return out


def _refresh_pg_catalog(session: SparkSession) -> None:
    """pg_catalog + information_schema emulation: the reference's DuckDB
    ships real catalog views (pg_tables, pg_class, pg_type,
    information_schema.tables/columns, ...) that psql and BI tools query
    on connect; here they are rebuilt on demand from the Spark catalog
    as temp views (the shim strips the pg_catalog. qualifier and maps
    information_schema. → info_schema_)."""
    cat = session.catalog
    db = cat.currentDatabase()
    # namespace oids: psql's \d joins pg_class.relnamespace =
    # pg_namespace.oid, so the links must be oid-keyed
    ns_oids = {db: 2200, "pg_catalog": 11}
    tables, views, classes, attrs, is_tables, is_columns = [], [], [], [], [], []
    for oid, t in enumerate(_list_user_tables(session), start=100001):
        is_view = (t.tableType or "").upper() in ("VIEW", "TEMPORARY", "TEMP")
        schema = t.namespace[0] if t.namespace else db
        ns_oids.setdefault(schema, 2200 + len(ns_oids))
        (views if is_view else tables).append((schema, t.name, "spark"))
        classes.append((oid, t.name, ns_oids[schema], "v" if is_view else "r"))
        is_tables.append(
            ("spark_catalog", schema, t.name, "VIEW" if is_view else "BASE TABLE")
        )
        try:
            for pos, f in enumerate(session.table(t.name).schema.fields, start=1):
                is_columns.append(
                    (
                        "spark_catalog", schema, t.name, f.name, pos,
                        f.dataType.simpleString(),
                        "YES" if f.nullable else "NO",
                    )
                )
                attrs.append(
                    (oid, f.name, pg_oid(f.dataType), pos, not f.nullable)
                )
        except Exception:  # noqa: BLE001 — unreadable table: skip columns
            pass
    pg_types = [
        (16, "bool"), (17, "bytea"), (20, "int8"), (21, "int2"), (23, "int4"),
        (25, "text"), (114, "json"), (700, "float4"), (701, "float8"),
        (1043, "varchar"), (1082, "date"), (1083, "time"), (1114, "timestamp"),
        (1184, "timestamptz"), (1700, "numeric"),
    ]
    # pg_index … pg_description are empty-but-typed: psql's \d and BI
    # introspection join against them (no indexes/constraints/comments
    # exist on parquet tables; an EMPTY result keeps those multi-join
    # queries running where a missing relation errors the whole \d)
    for view, ddl, rows in (
        ("pg_tables", "schemaname string, tablename string, tableowner string", tables),
        ("pg_views", "schemaname string, viewname string, viewowner string", views),
        ("pg_namespace", "oid long, nspname string",
         [(o, n) for n, o in ns_oids.items()]),
        ("pg_class", "oid long, relname string, relnamespace long, relkind string",
         classes),
        ("pg_attribute", "attrelid long, attname string, atttypid long, "
         "attnum int, attnotnull boolean", attrs),
        ("pg_type", "oid long, typname string", pg_types),
        ("pg_database", "oid long, datname string", [(1, "main")]),
        ("pg_roles", "rolname string", [("spark",)]),
        ("pg_index", "indexrelid long, indrelid long, indisprimary boolean, "
         "indisunique boolean, indkey string", []),
        ("pg_constraint", "oid long, conname string, connamespace long, "
         "contype string, conrelid long, conkey array<int>, "
         "condeferrable boolean, condeferred boolean, convalidated boolean", []),
        ("pg_indexes", "schemaname string, tablename string, indexname string, "
         "tablespace string, indexdef string", []),
        ("pg_description", "objoid long, classoid long, objsubid int, "
         "description string", []),
        ("pg_am", "oid long, amname string", [(403, "btree")]),
        ("pg_settings", "name string, setting string",
         sorted({(g[0], g[1]) for g in _PG_GUCS.values()})),
        ("info_schema_tables", "table_catalog string, table_schema string, "
         "table_name string, table_type string", is_tables),
        ("info_schema_columns", "table_catalog string, table_schema string, "
         "table_name string, column_name string, ordinal_position int, "
         "data_type string, is_nullable string", is_columns),
    ):
        _local_df(session, rows, ddl).createOrReplaceTempView(view)


# the emulation views _refresh_pg_catalog registers (temp views)
_PG_VIEWS = (
    r"pg_(?:tables|views|namespace|class|type|database|roles|attribute"
    r"|index|indexes|constraint|description|am|settings)"
    r"|info_schema_(?:tables|columns)"
)
_PG_VIEW_RE = re.compile(_PG_VIEWS, re.IGNORECASE)
_PG_CATALOG_RE = re.compile(
    rf"\b(?:{_PG_VIEWS})\b|\binformation_schema\s*\.", re.IGNORECASE
)


# --------------------------------------------------- DuckDB introspection
# DESCRIBE / SHOW TABLES / SUMMARIZE — the first statements a human at a
# psql prompt types after connecting. The reference delegates them to
# DuckDB verbatim (cpp:52); Spark's native forms have different output
# shapes, so these handlers produce DuckDB-shaped results (VERDICT r2
# item 4).

_INTROSPECT_RE = re.compile(
    r"^\s*(DESCRIBE|DESC|SUMMARIZE)\s+(.+?)\s*;?\s*$", re.IGNORECASE | re.DOTALL
)
_SHOW_TABLES_RE = re.compile(r"^\s*SHOW\s+(ALL\s+)?TABLES\s*;?\s*$", re.IGNORECASE)
_SHOW_DATABASES_RE = re.compile(r"^\s*SHOW\s+DATABASES\s*;?\s*$", re.IGNORECASE)

# PG session GUCs that clients read on connect (JDBC reads transaction
# isolation; psql tab-completion reads several). Spark's SHOW only knows
# its own confs, so these answer PG-shaped one-row results directly;
# the same table backs current_setting('x') in the shim.
from .compat import PG_GUCS as _PG_GUCS  # noqa: E402

_SHOW_GUC_RE = re.compile(r"^\s*SHOW\s+([\w ]+?)\s*;?\s*$", re.IGNORECASE)


def _show_guc(stmt: str) -> tuple[str, str] | None:
    m = _SHOW_GUC_RE.match(stmt)
    if m is None:
        return None
    return _PG_GUCS.get(m.group(1).strip().lower())

_DUCK_TYPE_MAP = {
    "string": "VARCHAR",
    "int": "INTEGER",
    "bigint": "BIGINT",
    "smallint": "SMALLINT",
    "tinyint": "TINYINT",
    "double": "DOUBLE",
    "float": "FLOAT",
    "boolean": "BOOLEAN",
    "date": "DATE",
    "timestamp": "TIMESTAMP",
    "timestamp_ntz": "TIMESTAMP",
    "binary": "BLOB",
}


def _duck_type(dt) -> str:
    # enum-emulation struct → DuckDB's DESCRIBE rendering of an enum
    # column: ENUM('m1', 'm2', ...) (probed r10); unknown member lists
    # (type created in an earlier process) fall back to the struct text
    tn = _enum_emulation_type(dt)
    if tn is not None:
        from .compat import ENUM_TYPES

        members = ENUM_TYPES.get(tn)
        if members is not None:
            # display text, not pipeline SQL: plain '' quote doubling
            return "ENUM(" + ", ".join(
                "'" + m.replace("'", "''") + "'" for m in members
            ) + ")"
    s = dt.simpleString()
    return _DUCK_TYPE_MAP.get(s, s.upper())


def _is_introspection(stmt: str) -> bool:
    return bool(
        _INTROSPECT_RE.match(stmt)
        or _SHOW_TABLES_RE.match(stmt)
        or _SHOW_DATABASES_RE.match(stmt)
        or _show_guc(stmt) is not None
    )


_EXPLAIN_ANALYZE_RE = re.compile(
    r"^\s*EXPLAIN\s+ANALYZE\s+(.+?)\s*;?\s*$", re.IGNORECASE | re.DOTALL
)

_PRAGMA_RE = re.compile(
    r"^\s*PRAGMA\s+(\w+)\s*(?:\(\s*'?([^')]*)'?\s*\))?\s*;?\s*$", re.IGNORECASE
)


def _pragma_df(session: SparkSession, stmt: str) -> DataFrame | None:
    """DuckDB PRAGMA statements a psql user types (reference-reachable
    via cpp:52), answered DuckDB-shaped: version, database_list,
    show_tables, table_info('t'). Unknown pragmas return None and fall
    through to Spark's parser (loud error, per shim policy)."""
    m = _PRAGMA_RE.match(stmt)
    if m is None:
        return None
    name, arg = m.group(1).lower(), m.group(2)
    if name == "version":
        return _local_df(
            session,
            [("v1.1.1 (duckdb_pgwire_spark)", f"spark-{session.version}")],
            "library_version string, source_id string",
        )
    if name == "database_list":
        rows = [(0, "main", None)] + [
            (i + 1, a, ATTACHED[a]["path"])
            for i, a in enumerate(sorted(ATTACHED))
        ]
        return _local_df(session, rows, "seq int, name string, file string")
    if name == "show_tables":
        names = sorted(t.name for t in _list_user_tables(session))
        return _local_df(session, [(n,) for n in names], "name string")
    if name == "table_info" and arg:
        fields = session.table(arg).schema.fields
        rows = [
            (i, f.name, _duck_type(f.dataType), not f.nullable, None, False)
            for i, f in enumerate(fields)
        ]
        return _local_df(
            session,
            rows,
            "cid int, name string, type string, notnull boolean, "
            "dflt_value string, pk boolean",
        )
    return None

# Per-operator metrics worth surfacing (the status store tracks dozens;
# these are the ones a DuckDB EXPLAIN ANALYZE reader looks for).
_EA_METRICS = (
    "number of output rows",
    "scan time",
    "duration",
    "time in aggregation build",
    "peak memory",
    "spill size",
    "number of files read",
    "size of files read",
    "shuffle records written",
    "shuffle bytes written",
    "data size",
    "sort time",
)


def _explain_analyze_df(session: SparkSession, body: str) -> DataFrame:
    """DuckDB-style EXPLAIN ANALYZE: EXECUTE the query, then return the
    profiled plan (the reference reaches DuckDB's profiler through
    ``cpp:52``; round-4 verdict flagged the EXPLAIN EXTENDED mapping as
    plans-without-metrics). Execution uses the noop sink — the full
    plan runs on the executors, nothing is collected — and per-operator
    runtime metrics (rows, scan/sort/agg time, peak memory, spills,
    shuffle bytes) come from the SQL status store's plan graph for that
    execution. The final adaptive plan is what is profiled.

    Concurrency note: the execution is located by id (> the max id
    observed before the run, same session) — concurrent queries on
    OTHER connections may interleave ids, so the max matching id is
    used; per-connection statements are serialized so this is exact in
    the single-client case."""
    import time as _time

    store = session._jsparkSession.sharedState().statusStore()
    prev = store.executionsList()
    prev_max = prev.apply(prev.size() - 1).executionId() if prev.size() else -1
    df = session.sql(rewrite(body))
    t0 = _time.perf_counter()
    df.write.format("noop").mode("overwrite").save()
    wall_ms = (_time.perf_counter() - t0) * 1000.0
    execs = store.executionsList()
    eid = None
    for i in range(execs.size()):
        e = execs.apply(i)
        if e.executionId() > prev_max:
            eid = e.executionId() if eid is None else max(eid, e.executionId())
    lines = [f"EXPLAIN ANALYZE — executed in {wall_ms:.1f} ms (wall, noop sink)"]
    if eid is not None:
        metrics = store.executionMetrics(eid)
        nodes = store.planGraph(eid).allNodes()
        for i in range(nodes.size()):
            node = nodes.apply(i)
            try:
                name = node.name()
                ms = node.metrics()
            except Exception:  # noqa: BLE001 — cluster/edge nodes vary by version
                continue
            vals = []
            for j in range(ms.size()):
                m = ms.apply(j)
                if m.name() in _EA_METRICS and metrics.contains(m.accumulatorId()):
                    v = metrics.apply(m.accumulatorId())
                    if v not in ("0", "0 ms", "0.0 B"):
                        vals.append(f"{m.name()}: {v}")
            lines.append(f"{name}" + (f"  [{'; '.join(vals[:6])}]" if vals else ""))
    return _local_df(session, [(ln,) for ln in lines], "explain_analyze string")


def _relation_df(session: SparkSession, target: str) -> DataFrame:
    """DESCRIBE/SUMMARIZE accept a table name or a query (DuckDB does)."""
    head = target.lstrip().split(None, 1)[0].upper() if target.strip() else ""
    if head in ("SELECT", "WITH", "VALUES", "TABLE") or target.lstrip().startswith("("):
        return session.sql(rewrite(target.strip().strip("()")))
    return session.table(target.strip())


def _introspection_df(session: SparkSession, stmt: str) -> DataFrame:
    guc = _show_guc(stmt)
    if guc is not None:
        name, value = guc
        return _local_df(session, [(value,)], f"`{name}` string")
    if _SHOW_TABLES_RE.match(stmt):
        names = sorted(t.name for t in _list_user_tables(session))
        return _local_df(session, [(n,) for n in names], "name string")
    if _SHOW_DATABASES_RE.match(stmt):
        # DuckDB: one database_name row per attached database
        # the session catalog, not catalog.listDatabases() (a Spark job;
        # see _list_user_tables)
        dbs = session._jsparkSession.sessionState().catalog().listDatabases()
        names = sorted(dbs.apply(i) for i in range(dbs.size()))
        return _local_df(session, [(n,) for n in names], "database_name string")
    m = _INTROSPECT_RE.match(stmt)
    assert m is not None
    word, target = m.group(1).upper(), m.group(2)
    df = _relation_df(session, target)
    if word in ("DESCRIBE", "DESC"):
        # DuckDB reports null=NO only for a base TABLE's NOT NULL
        # columns; a described QUERY is always YES (probed r7 — Spark's
        # literal non-nullability leaked through as NO)
        head = target.lstrip().split(None, 1)[0].upper() if target.strip() else ""
        is_query = head in ("SELECT", "WITH", "VALUES", "TABLE") or (
            target.lstrip().startswith("(")
        )
        rows = [
            (
                f.name,
                _duck_type(f.dataType),
                "YES" if (is_query or f.nullable) else "NO",
                None, None, None,
            )
            for f in df.schema.fields
        ]
        return _local_df(
            session,
            rows,
            "column_name string, column_type string, null string, "
            "key string, default string, extra string",
        )
    return _summarize_df(session, df)


def _summarize_df(session: SparkSession, df: DataFrame) -> DataFrame:
    """DuckDB SUMMARIZE: per-column min/max/approx_unique/avg/std/
    quartiles/count/null_percentage. ONE aggregation pass over the data
    (all columns' stats in a single job — partial aggs map-side, one
    row reaches the driver), then a metadata-scale pivot to rows."""
    from pyspark.sql import types as T

    atomic = (T.NumericType, T.StringType, T.DateType, T.TimestampType,
              T.TimestampNTZType, T.BooleanType)
    aggs = [F.count(F.lit(1)).alias("__total")]
    for f in df.schema.fields:
        c, n = F.col(f.name), f.name
        is_num = isinstance(f.dataType, T.NumericType)
        if isinstance(f.dataType, atomic):
            aggs += [F.min(c).cast("string").alias(f"{n}__min"),
                     F.max(c).cast("string").alias(f"{n}__max"),
                     F.approx_count_distinct(c).alias(f"{n}__uniq")]
        aggs.append(F.count(c).alias(f"{n}__count"))
        if is_num:
            aggs += [F.avg(c).cast("double").alias(f"{n}__avg"),
                     F.stddev(c).cast("double").alias(f"{n}__std"),
                     F.percentile_approx(c, F.lit([0.25, 0.5, 0.75]))
                      .cast("array<double>").alias(f"{n}__q")]
    stats = df.agg(*aggs).first().asDict()
    total = stats["__total"]
    rows = []
    for f in df.schema.fields:
        n = f.name
        q = stats.get(f"{n}__q") or [None, None, None]
        cnt = stats.get(f"{n}__count", 0)
        rows.append((
            n, _duck_type(f.dataType),
            stats.get(f"{n}__min"), stats.get(f"{n}__max"),
            stats.get(f"{n}__uniq"),
            stats.get(f"{n}__avg"), stats.get(f"{n}__std"),
            q[0], q[1], q[2], cnt,
            round(100.0 * (total - cnt) / total, 2) if total else None,
        ))
    return _local_df(
        session,
        rows,
        "column_name string, column_type string, min string, max string, "
        "approx_unique bigint, avg double, std double, "
        "q25 double, q50 double, q75 double, count bigint, "
        "null_percentage double",
    )


def _interval_lit_fold(df: DataFrame, stmt: str) -> DataFrame:
    """Literal-only day-time interval SELECT items render duck's
    component-exact text on the wire (r15): Spark's single-micros
    value re-componentizes '25 HOUR + 0 DAY' as '1 day 01:00:00'
    where duck keeps '25:00:00'. Intervals are ADVERTISED as TEXT on
    the wire, so replacing the constant column with its folded text
    never changes the advertised type. Item-count mismatches (stars,
    set-ops) and non-literal items keep the canonical
    componentization (the documented provenance known)."""
    from pyspark.sql import functions as F
    from pyspark.sql import types as T

    from .compat import _fold_interval_expr, _select_items_of

    fields = df.schema.fields
    if not any(
        isinstance(f.dataType, T.DayTimeIntervalType) for f in fields
    ):
        return df
    names = [f.name for f in fields]
    if len({n.lower() for n in names}) != len(names):
        return df
    items = _select_items_of(stmt)
    if items is None or len(items) != len(fields):
        return df
    cols = []
    changed = False
    for f, it in zip(fields, items):
        if isinstance(f.dataType, T.DayTimeIntervalType):
            folded = _fold_interval_expr(it)
            if folded is not None:
                cols.append(F.lit(folded).alias(f.name))
                changed = True
                continue
        cols.append(F.col("`" + f.name.replace("`", "``") + "`"))
    return df.select(*cols) if changed else df


def _ym_safe(df: DataFrame) -> DataFrame:
    """YearMonthIntervalType result columns cannot cross into Python
    (PySpark's fromInternal raises NOT_IMPLEMENTED — collecting such a
    df crashes any protocol path), so render them DUCK-STYLE text
    Spark-side before collection ('1 year 2 months', via the
    duck_ym_text kernel over Spark's canonical interval string — r14).
    Duplicate output names skip the transform (column selection is
    name-based): such a df keeps its loud PySpark failure."""
    from pyspark.sql import functions as F
    from pyspark.sql import types as T

    ym = [
        f.name
        for f in df.schema.fields
        if isinstance(f.dataType, T.YearMonthIntervalType)
    ]
    if not ym:
        return df
    names = [f.name for f in df.schema.fields]
    if len({n.lower() for n in names}) != len(names):
        return df
    cols = []
    for f in df.schema.fields:
        qn = f.name.replace("`", "``")
        if isinstance(f.dataType, T.YearMonthIntervalType):
            cols.append(
                F.expr(f"duck_ym_text(CAST(`{qn}` AS STRING))").alias(f.name)
            )
        else:
            cols.append(F.col(f"`{qn}`"))
    return df.select(*cols)


def _select_head(sql: str) -> str:
    """Text up to the first paren-depth-0 FROM (the select list) —
    used to detect whether a rewrite touched output names (r14)."""
    from .compat import _code_mask

    mask = _code_mask(sql)
    d = 0
    for m in re.finditer(r"(?i)\bFROM\b|[()]", sql):
        if not mask[m.start()]:
            continue
        tok = m.group(0)
        if tok == "(":
            d += 1
        elif tok == ")":
            d -= 1
        elif d == 0:
            return sql[: m.start()]
    return sql


def _bit_oids_for(stmt: str, ncols: int) -> dict[int, int]:
    """Positions of BIT-emulated output columns → OID 1560 (r14).
    Heuristic over the ORIGINAL statement text (compat.bit_select_oids);
    overrides are dropped whenever the parsed select-item count differs
    from the result schema (star expansion, set-ops, non-SELECT heads),
    so a mismatch can only fall back to the TEXT OID, never mislabel."""
    if "::" not in stmt and "bit" not in stmt.lower():
        return {}
    from .compat import bit_select_oids

    oids, nitems = bit_select_oids(stmt)
    if not oids or ncols != nitems:
        return {}
    return oids


def _make_cells(kept: list, result_fmts: list[int]) -> list:
    """Per-output-column (row index, encoder) pairs honoring the
    portal's result format codes (PG broadcast rules)."""
    fmts = P.expand_formats(result_fmts, len(kept))
    cells = []
    for (i, dt), fmt in zip(kept, fmts):
        if fmt == 1:
            cells.append((i, (lambda d: lambda v: encode_binary(v, d))(dt)))
        else:
            cells.append((i, text_cell_encoder(dt)))
    return cells


def _command_rows(df: DataFrame) -> int:
    """Row count for the command tag of a result without columns. A
    command that session.sql already ran eagerly holds its result rows
    on the driver, so they are counted without a job; a write command
    (a plain INSERT) reports the rows it wrote through its
    numOutputRows metric, its own result relation being empty."""
    plan = df._jdf.queryExecution().executedPlan()
    if plan.nodeName() != "CommandResult":
        return df.count()
    written = plan.commandPhysicalPlan().metrics().get("numOutputRows")
    return written.get().value() if written.isDefined() else len(df.collect())


def _next_batch(it: Iterator, n: int, cells: list) -> list[list[bytes | None]]:
    out = []
    for _ in range(n):
        try:
            row = next(it)
        except StopIteration:
            break
        out.append([enc(row[i]) for i, enc in cells])
    return out


from .compat import enum_emulation_type as _enum_emulation_type  # noqa: E402


def _writable(session: SparkSession, table: str) -> None:
    """Refuse a write through a view (42809), as DuckDB does."""
    from ..operators.dml import _assert_writable

    try:
        _assert_writable(session, table)
    except ValueError as exc:
        raise _WireError(str(exc), "42809") from exc


def _insert_needs_enum_coercion(session: SparkSession, table: str) -> bool:
    """True when the INSERT target has an enum-emulation column (so the
    staged path's string→struct coercion must run). Zero cost until a
    CREATE TYPE ... AS ENUM has happened in this server process."""
    from .compat import ENUM_TYPES

    if not ENUM_TYPES:
        return False
    try:
        fields = session.table(table).schema.fields
    except Exception:  # noqa: BLE001 — let the normal path report it
        return False
    return any(_enum_emulation_type(f.dataType) is not None for f in fields)


def _exc_message(exc: Exception) -> str:
    msg = str(exc)
    # runtime errors raised mid-stream (_ServedRows) arrive wrapped
    # in Py4J/SparkException text with the real cause in a Caused-by
    # frame — surface the user-raised payload (raise_error(), used by
    # e.g. the enum conversion check) instead of the wrapper noise
    m = re.search(r"\[USER_RAISED_EXCEPTION\]\s*(.+?)\s*SQLSTATE", msg)
    if m:
        return m.group(1)
    return msg.split("\n\nJVM stacktrace:")[0][:2000]
