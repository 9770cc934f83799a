"""Start ``python -m duckdb_pgwire_spark.server`` with layer spans.

Usage: python perfbench/traced_server.py <server arguments>
       (environment: PERFBENCH_TRACE_OUT=<file for the spans>)

Before the server's ``main()`` runs, the public functions of each layer
are wrapped under the names their callers look up at call time
(``app.py`` imports ``rewrite`` and ``split_statements`` by name, so both
the ``compat`` and the ``app`` bindings are replaced). Each span records
name, start, end, parent and attributes; statements are assigned to spans
afterwards by the client's send/ReadyForQuery window on the same
``CLOCK_MONOTONIC`` clock. Per-row work (fetching a row, framing a
DataRow, writing to the transport) is timed per row and summed into one
synthetic child span of the enclosing span, so no span is made per row
or per cell.

The server's write of ReadyForQuery is not a layer span but a
``protocol.ready`` marker, and the drain after it and the Sync message
that only sends it are not spanned: that write overlaps the client's
receipt of it, so it belongs to no statement's server side. Every other
span of a statement must end before the marker (checked by ``layers``).

SIGUSR1 turns tracing on (the wrappers are installed), SIGUSR2 turns it
off (the original functions are put back), so one server process can
alternate untraced and traced passes. Spans stay in memory; every
SIGUSR2 writes all spans so far as JSON, so the server can then be
stopped abruptly.

The span stack is shared by the event-loop thread and the worker pool:
with one client connection a statement's work is strictly nested, which
is the only case the benchmark runs.
"""

from __future__ import annotations

import asyncio
import json
import os
import signal
import sys
import tempfile
import threading
import time

clock = time.monotonic  # CLOCK_MONOTONIC: comparable across processes


class Tracer:
    def __init__(self) -> None:
        self.spans: list[dict] = []
        self.stack: list[dict] = []
        self.lock = threading.Lock()
        self.next_id = 0
        self.patches: list[tuple[object, str, object, object]] = []
        self.missing: list[str] = []
        self.after_ready = False  # the last transport write was ReadyForQuery

    # ------------------------------------------------------------ spans

    def begin(self, name: str, **attrs) -> dict:
        with self.lock:
            self.next_id += 1
            frame = {
                "id": self.next_id,
                "name": name,
                "start": clock(),
                "parent": self.stack[-1]["id"] if self.stack else None,
                "attrs": attrs,
                "acc": {},
            }
            self.stack.append(frame)
        return frame

    def end(self, frame: dict) -> None:
        end = clock()
        with self.lock:
            if frame in self.stack:
                self.stack.remove(frame)
            for name, (total, calls, nbytes) in frame["acc"].items():
                self.next_id += 1
                self.spans.append({
                    "id": self.next_id, "name": name, "start": frame["start"],
                    "end": frame["start"] + total, "parent": frame["id"],
                    "attrs": {"calls": calls, "bytes": nbytes, "synthetic": True},
                })
            self.spans.append({
                "id": frame["id"], "name": frame["name"], "start": frame["start"],
                "end": end, "parent": frame["parent"], "attrs": frame["attrs"],
            })

    def add(self, name: str, seconds: float, calls: int = 1, nbytes: int = 0) -> None:
        """Sum per-row time (and calls, bytes) into the innermost open span."""
        with self.lock:
            if self.stack:
                acc = self.stack[-1]["acc"]
                total, n, b = acc.get(name, (0.0, 0, 0))
                acc[name] = (total + seconds, n + calls, b + nbytes)
                return
            now = clock()
            self.next_id += 1  # outside any span: a span of its own
            self.spans.append({
                "id": self.next_id, "name": name, "start": now - seconds,
                "end": now, "parent": None,
                "attrs": {"calls": calls, "bytes": nbytes, "synthetic": True},
            })

    def mark(self, name: str, start: float) -> None:
        """A span of its own, outside the stack (no parent, no layer)."""
        with self.lock:
            self.next_id += 1
            self.spans.append({"id": self.next_id, "name": name, "start": start,
                               "end": clock(), "parent": None, "attrs": {}})

    def count(self, key: str, n: int = 1) -> None:
        with self.lock:
            if self.stack:
                attrs = self.stack[-1]["attrs"]
                attrs[key] = attrs.get(key, 0) + n

    def inside(self, prefix: str) -> bool:
        with self.lock:
            return any(f["name"].startswith(prefix) for f in self.stack)

    def innermost(self, name: str) -> dict | None:
        with self.lock:
            for frame in reversed(self.stack):
                if frame["name"] == name:
                    return frame
        return None

    # ------------------------------------------------------------ patching

    def patch(self, owner, attr: str, make) -> None:
        orig = getattr(owner, attr, None)
        if orig is None:
            self.missing.append(f"{getattr(owner, '__name__', owner)}.{attr}")
            return
        self.patches.append((owner, attr, orig, make(orig)))

    def span_fn(self, owner, attr: str, name: str) -> None:
        def make(orig):
            def traced(*a, **k):
                frame = self.begin(name)
                try:
                    return orig(*a, **k)
                finally:
                    self.end(frame)
            return traced
        self.patch(owner, attr, make)

    def enable(self, on: bool) -> None:
        for owner, attr, orig, traced in self.patches:
            setattr(owner, attr, traced if on else orig)

    def dump(self, path: str) -> None:
        with self.lock:
            out = {"spans": self.spans, "missing": self.missing}
        with open(path, "w") as f:
            json.dump(out, f)


T = Tracer()


def _warehouse_files(roots: list[str]) -> dict[str, tuple[int, int]]:
    """path → (mtime_ns, size) of the data files under ``roots``."""
    files = {}
    for root in roots:
        for d, _, names in os.walk(root):
            for n in names:
                if n.startswith((".", "_")):
                    continue
                p = os.path.join(d, n)
                try:
                    st = os.stat(p)
                except OSError:
                    continue
                files[p] = (st.st_mtime_ns, st.st_size)
    return files


def install() -> None:
    from pyspark.sql import SparkSession

    try:  # Spark 4 sessions hand out the classic subclass, which overrides
        from pyspark.sql.classic.dataframe import DataFrame
    except ImportError:
        from pyspark.sql import DataFrame

    import duckdb_pgwire_spark.operators.dml as dml
    import duckdb_pgwire_spark.server.app as app
    import duckdb_pgwire_spark.server.compat as compat
    import duckdb_pgwire_spark.server.protocol as protocol
    import duckdb_pgwire_spark.session as session

    # session (set-up)
    T.span_fn(session, "build_session", "session.build")
    T.span_fn(session, "register_views", "session.register_views")

    # server.compat: split and rewrite, at both bindings
    for owner in (compat, app):
        T.span_fn(owner, "split_statements", "compat.split")
        T.span_fn(owner, "rewrite", "compat.rewrite")

    # server.app: statement dispatch, extended protocol, introspection
    def make_statement(orig):
        async def traced(self, stmt, writer, sess, state=None, *a, **k):
            head = stmt.lstrip().split(None, 1)[0].upper() if stmt.strip() else ""
            outer = T.innermost("app.statement") is None
            frame = T.begin("app.statement", head=head)
            try:
                return await orig(self, stmt, writer, sess, state, *a, **k)
            finally:
                T.end(frame)
                if outer and state is not None:
                    _count_jobs(sess, state.job_tag, frame)
        return traced

    T.patch(app.PgWireServer, "_run_statement", make_statement)

    def make_extended(orig):
        async def traced(self, tag, *a, **k):
            if tag == b"S":  # Sync only sends ReadyForQuery
                return await orig(self, tag, *a, **k)
            frame = T.begin("app.extended")
            try:
                return await orig(self, tag, *a, **k)
            finally:
                T.end(frame)
        return traced

    T.patch(app.PgWireServer, "_handle_extended", make_extended)
    T.span_fn(app, "_introspection_df", "app.introspection")
    T.span_fn(app, "_refresh_pg_catalog", "app.introspection")

    def make_typer_factory(orig):
        def factory(*a, **k):
            typer = orig(*a, **k)

            def traced(expr):
                cache = getattr(app, "_TYPER_CACHE", None)
                before = len(cache) if cache is not None else -1
                frame = T.begin("app.typer")
                try:
                    return typer(expr)
                finally:
                    after = len(cache) if cache is not None else -2
                    frame["attrs"]["hit"] = before == after
                    T.end(frame)
            return traced
        return factory

    T.patch(app, "_make_expr_typer", make_typer_factory)

    caches = [getattr(app, n, None) for n in
              ("_SCHEMA_FIELDS_CACHE", "_TYPER_CACHE", "_BRANCH_SCHEMA_CACHE")]

    def make_note(orig):
        def traced(first):
            before = sum(len(c) for c in caches if c is not None)
            orig(first)
            after = sum(len(c) for c in caches if c is not None)
            if before and not after:
                T.count("cache_clears")
        return traced

    T.patch(app, "_note_statement_head", make_note)

    # Spark: analysis (session.sql), first row and fetch
    def make_sql(orig):
        def traced(self, *a, **k):
            if T.innermost("app.typer") is not None:
                name = "app.typer.probe"
            elif T.inside("dml."):
                return orig(self, *a, **k)  # part of the enclosing write
            else:
                st = T.innermost("app.statement")
                if st is not None and st["attrs"].get("head") == "INSERT":
                    # a plain INSERT runs inside Spark's own sql()
                    with _Written("dml.insert"):
                        return orig(self, *a, **k)
                name = "spark.analyze"
            frame = T.begin(name)
            try:
                return orig(self, *a, **k)
            finally:
                T.end(frame)
        return traced

    T.patch(SparkSession, "sql", make_sql)

    class TimedIter:
        def __init__(self, it):
            self.it = iter(it)
            self.first = True

        def __iter__(self):
            return self

        def __next__(self):
            if self.first:
                self.first = False
                frame = T.begin("spark.first_row")
                try:
                    return next(self.it)
                finally:
                    T.end(frame)
            t0 = clock()
            try:
                return next(self.it)
            finally:
                T.add("app.fetch", clock() - t0)

    def make_tli(orig):
        def traced(self, *a, **k):
            frame = T.begin("spark.first_row")
            try:
                it = orig(self, *a, **k)
            finally:
                T.end(frame)
            return TimedIter(it)
        return traced

    T.patch(DataFrame, "toLocalIterator", make_tli)

    # server.typemap: encoding is _next_batch minus the fetch inside it
    T.span_fn(app, "_next_batch", "typemap.encode")

    # server.protocol and the socket
    def make_data_row(orig):
        def traced(values):
            t0 = clock()
            out = orig(values)
            T.add("protocol.frame_write", clock() - t0)  # one call per row
            return out
        return traced

    T.patch(protocol, "data_row", make_data_row)

    def make_write(orig):
        def traced(self, data):
            t0 = clock()
            out = orig(self, data)
            T.after_ready = len(data) == 6 and data[:1] == b"Z"  # ReadyForQuery
            if T.after_ready:
                T.mark("protocol.ready", t0)
            else:
                T.add("protocol.frame_write", clock() - t0, 0, len(data))
            return out
        return traced

    T.patch(asyncio.StreamWriter, "write", make_write)

    def make_drain(orig):
        async def traced(self):
            if T.after_ready:  # the statement is over
                return await orig(self)
            frame = T.begin("socket.drain_wait")
            try:
                return await orig(self)
            finally:
                T.end(frame)
        return traced

    T.patch(asyncio.StreamWriter, "drain", make_drain)

    # operators.dml, with the files each write leaves behind
    T.patch(app.PgWireServer, "_copy_from_stdin", lambda orig: _written_coro(orig, "dml.copy_in"))
    for attr in ("update_table", "update_returning", "update_from"):
        T.patch(dml, attr, lambda orig: _written_fn(orig, "dml.update"))
    for attr in ("delete_from", "delete_returning", "delete_using"):
        T.patch(dml, attr, lambda orig: _written_fn(orig, "dml.delete"))
    for attr in ("insert_rows", "stage_insert_rows", "upsert_into"):
        T.patch(dml, attr, lambda orig: _written_fn(orig, "dml.insert"))


# the server's working directory holds its warehouse; rewrite-on-write
# stages its post-image under the temporary directory
WRITE_ROOTS = [os.path.abspath("spark-warehouse"), tempfile.gettempdir()]


class _Written:
    """A write span that also records the data files it created or
    changed: count, bytes, and the size of every warehouse table after."""

    def __init__(self, name: str) -> None:
        self.name = name
        self.frame: dict | None = None

    def __enter__(self) -> None:
        if T.innermost(self.name) is not None:
            return  # nested call of the same write: the outer span counts
        self.before = _warehouse_files(WRITE_ROOTS)
        self.frame = T.begin(self.name)

    def __exit__(self, *exc) -> None:
        if self.frame is None:
            return
        T.end(self.frame)
        after = _warehouse_files(WRITE_ROOTS)
        new = [p for p, v in after.items() if self.before.get(p) != v]
        self.frame["attrs"].update(
            files_written=len(new),
            bytes_written=sum(after[p][1] for p in new),
            dir_bytes=_dir_bytes(WRITE_ROOTS[0], after),
        )


def _written_fn(orig, name: str):
    def traced(*a, **k):
        with _Written(name):
            return orig(*a, **k)
    return traced


def _written_coro(orig, name: str):
    async def traced(*a, **k):
        with _Written(name):
            return await orig(*a, **k)
    return traced


def _dir_bytes(warehouse: str, files: dict[str, tuple[int, int]]) -> dict[str, int]:
    out: dict[str, int] = {}
    for p, (_, size) in files.items():
        rel = os.path.relpath(p, warehouse)
        if not rel.startswith(".."):
            top = rel.split(os.sep, 1)[0]
            out[top] = out.get(top, 0) + size
    return out


def _count_jobs(sess, tag: str, frame: dict) -> None:
    """Spark jobs and stages that ran under the connection's job tag
    since the previous statement (SparkStatusTracker)."""
    if not tag:
        return
    try:
        tracker = sess.sparkContext._jsc.sc().statusTracker()
        ids = set(tracker.getJobIdsForTag(tag))
    except Exception:  # noqa: BLE001 — tracker unavailable: no counts
        return
    seen = _SEEN_JOBS.setdefault(tag, set())
    new = ids - seen
    seen |= new
    stages = 0
    for jid in new:
        info = tracker.getJobInfo(jid)
        if info.isDefined():
            stages += len(info.get().stageIds())
    frame["attrs"]["jobs"] = len(new)
    frame["attrs"]["stages"] = stages


_SEEN_JOBS: dict[str, set[int]] = {}


def main() -> None:
    out = os.environ["PERFBENCH_TRACE_OUT"]

    def off(*_):
        T.enable(False)
        T.dump(out)

    install()
    T.enable(True)
    signal.signal(signal.SIGUSR1, lambda *_: T.enable(True))
    signal.signal(signal.SIGUSR2, off)
    from duckdb_pgwire_spark.server.__main__ import main as server_main

    sys.argv = ["duckdb_pgwire_spark.server", *sys.argv[1:]]
    server_main()


if __name__ == "__main__":
    main()
