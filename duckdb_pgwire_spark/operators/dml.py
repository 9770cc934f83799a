"""UPDATE / DELETE via rewrite-on-write, plus the oracle-checked entry.

The reference executes UPDATE/DELETE by delegation — any DML string a PG
client sends reaches DuckDB's executor through ``conn.Prepare(query)``
(``/root/reference/src/duckdb_pgwire_extension.cpp:52``). Spark's v1
parquet catalog tables have no in-place mutation, so where DuckDB runs
one plan per statement the engine rewrites the table, in one Spark job:

    1. build the post-image as a DataFrame over the pre-image scan
       (CASE WHEN for UPDATE, an inverted filter for DELETE), with the
       affected-row count observed on that scan (``DataFrame.observe``);
    2. write it once, through Spark's insert path, into a ``_``-prefixed
       staging directory inside the table's own location (Spark's file
       listing skips such directories);
    3. swap: delete the old data files, rename the staged files into the
       location, ``REFRESH TABLE``.

The catalog entry and the location never change, for managed and
external tables alike. A transactional table format (Delta/Iceberg)
would make step 3 a metadata commit, not change this API.

Affected-row counts match PG semantics: rows whose pre-image matches
WHERE (UPDATE) / rows removed (DELETE).
"""

from __future__ import annotations

import atexit
import json
import re
import shutil
import tempfile
import uuid
from collections import deque
from collections.abc import Callable
from dataclasses import dataclass, field

from pyspark.sql import DataFrame, Observation, SparkSession
from pyspark.sql import functions as F

from ..registry import query
from ..session import load_table

_UPDATE = re.compile(
    r"^\s*UPDATE\s+([\w.]+)(?:\s+(?:AS\s+)?(?!SET\b)([A-Za-z_]\w*))?"
    r"\s+SET\s+(.*)$",
    re.IGNORECASE | re.DOTALL,
)
_DELETE = re.compile(
    r"^\s*DELETE\s+FROM\s+([\w.]+)"
    r"(?:\s+(?:AS\s+)?(?!WHERE\b|USING\b|RETURNING\b)([A-Za-z_]\w*))?"
    r"\s*(.*)$",
    re.IGNORECASE | re.DOTALL,
)
_MERGE = re.compile(r"^\s*MERGE\s+INTO\s+(.*)$", re.IGNORECASE | re.DOTALL)


def _split_where(tail: str) -> tuple[str, str | None]:
    """(head, where-predicate) split at the top-level WHERE keyword."""
    from ..server.compat import _find_keyword

    w = _find_keyword(tail, "WHERE")
    if w == -1:
        return tail, None
    return tail[:w], tail[w + len("WHERE") :].strip()


def _dealias(text: str, alias: str, table: str) -> str:
    """Replace ``alias.`` qualifiers with ``table.`` outside string
    literals (the target alias does not exist in the rewrite-on-write
    ``FROM table`` context)."""
    from ..server.compat import _code_mask

    mask = _code_mask(text)
    pat = re.compile(rf"(?<![\w.]){re.escape(alias)}\s*\.", re.IGNORECASE)
    out, pos = [], 0
    for m in pat.finditer(text):
        if not all(mask[m.start() : m.end()]):
            continue
        out.append(text[pos : m.start()])
        out.append(table + ".")
        pos = m.end()
    out.append(text[pos:])
    return "".join(out)


def parse_update(
    stmt: str,
) -> tuple[str, list[tuple[str, str]], str | None, tuple[str, str] | None] | None:
    """``UPDATE t SET a = e1, b = e2 [FROM rel [alias]] [WHERE p]`` →
    (table, [(col, expr)], predicate, from_rel) — expressions stay SQL
    text; from_rel is (sql-or-name, alias) for the PG joined-UPDATE
    extension (DuckDB supports it; reachable via cpp:52)."""
    from ..server.compat import _find_keyword, split_top_level

    m = _UPDATE.match(stmt)
    if m is None:
        return None
    table, alias, tail = m.group(1), m.group(2), m.group(3)
    if alias:
        # PG/DuckDB target alias (UPDATE t AS x ... WHERE x.k = ...):
        # the rewrite-on-write machinery runs over `FROM t`, so
        # alias-qualified references dealias to the table name
        tail = _dealias(tail, alias, table)
    set_part, pred = _split_where(tail)
    from_rel = None
    f = _find_keyword(set_part, "FROM")
    if f != -1:
        from_rel = _parse_rel(set_part[f + len("FROM") :].strip().rstrip(";"))
        if from_rel is None:
            return None
        set_part = set_part[:f]
    assignments = []
    for piece in split_top_level(set_part):
        if "=" not in piece:
            return None
        col, expr = piece.split("=", 1)
        assignments.append((col.strip(), expr.strip()))
    return table, assignments, pred, from_rel


def parse_delete(
    stmt: str,
) -> tuple[str, str | None, tuple[str, str] | None] | None:
    """``DELETE FROM t [USING rel [alias]] [WHERE p]`` →
    (table, predicate, using_rel)."""
    from ..server.compat import _find_keyword

    m = _DELETE.match(stmt)
    if m is None:
        return None
    table, alias, tail = m.group(1), m.group(2), m.group(3)
    if alias:
        tail = _dealias(tail, alias, table)
    head, pred = _split_where(" " + tail)
    using_rel = None
    u = _find_keyword(head, "USING")
    if u != -1:
        using_rel = _parse_rel(head[u + len("USING") :].strip().rstrip(";"))
        if using_rel is None:
            return None
    return table, pred, using_rel


def _assert_writable(session: SparkSession, table: str) -> None:
    """Refuse DML against views (temp or permanent).

    Spark happily writes THROUGH a file-backed temp view — INSERT
    OVERWRITE on a view over ``spark.read.parquet(path)`` rewrites the
    source files in place. The fixture tables the server registers are
    read-only parquet, so a write-through would destroy shared input
    data (r10: a stale test pin did exactly that to
    ``region.parquet``). DuckDB refuses the same way: "Can only update
    base table!" on a view target."""
    try:
        kind = session.catalog.getTable(table).tableType
    except Exception:  # noqa: BLE001 — missing table: normal path reports it
        return
    if kind in ("TEMPORARY", "VIEW"):
        raise ValueError(
            f'Can only modify base tables — "{table}" is a view over '
            "read-only data"
        )


def _rewrite_table(
    session: SparkSession,
    table: str,
    post_image: str | DataFrame,
    counts: Observation | None = None,
    data_schema=None,
) -> dict:
    """Replace the rows of ``table`` with ``post_image`` (SQL text or a
    DataFrame over the table itself) in one Spark job that writes once.
    With ``data_schema`` (a JVM StructType of the non-partition
    columns), the post-image has that schema instead of the table's,
    and the catalog entry takes it after the swap (ALTER TABLE … RENAME/
    DROP COLUMN, _recreate_table).

    The post-image goes through Spark's insert path (store-assignment
    casts, the table's provider and storage options) into a staging
    table created ``LIKE`` the target, whose location is a ``_``-prefixed
    directory inside the target's location. After the write, the old
    data files are deleted and the staged ones renamed into the location
    with the Hadoop FileSystem API (local and non-local warehouses
    alike), and the table is refreshed (a partitioned table's catalog
    partitions synced first). The catalog entry and the location never
    change. A failed write leaves the table untouched; the staging
    table is removed either way, and the staging directory unless the
    swap broke off half done (it then holds the only copy of the new
    rows). Returns the metrics of
    ``counts``, an Observation attached to the post-image, read before
    the swap."""
    _assert_writable(session, table)
    state = session._jsparkSession.sessionState()
    meta = state.catalog().getTableMetadata(
        state.sqlParser().parseTableIdentifier(table)
    )
    ident = meta.identifier()
    db = ident.database().get()
    target = f"`{db}`.`{ident.table()}`"
    Path = session._jvm.org.apache.hadoop.fs.Path
    root = Path(meta.location())
    fs = root.getFileSystem(state.newHadoopConf())
    tag = uuid.uuid4().hex[:12]
    stage_dir = Path(root, f"_dml_stage_{tag}")
    stage = f"`{db}`.__dml_stage_{tag}"
    stage_ident = state.sqlParser().parseTableIdentifier(stage)
    loc = stage_dir.toString().replace("\\", "\\\\").replace("'", "\\'")
    external = state.catalog().externalCatalog()
    swap = "not started"
    try:
        session.sql(f"CREATE TABLE {stage} LIKE {target} LOCATION '{loc}'")
        if data_schema is not None:
            external.alterTableDataSchema(db, stage_ident.table(), data_schema)
        df = session.sql(post_image) if isinstance(post_image, str) else post_image
        df.write.insertInto(stage)
        metrics = _observed(counts) if counts is not None else {}
        swap = "started"
        for st in fs.listStatus(root):
            if not st.getPath().getName().startswith(("_", ".")):
                fs.delete(st.getPath(), True)
        for st in fs.listStatus(stage_dir):
            name = st.getPath().getName()
            if not name.startswith(("_", ".")) and not fs.rename(
                st.getPath(), Path(root, name)
            ):
                raise OSError(f"could not move {name} into {root.toString()}")
        swap = "done"
        if data_schema is not None:
            external.alterTableDataSchema(db, ident.table(), data_schema)
        if meta.partitionColumnNames().nonEmpty() and meta.tracksPartitionsInCatalog():
            session.sql(f"MSCK REPAIR TABLE {target} SYNC PARTITIONS")
    finally:
        # the stage is external and was never cached: drop only its entry
        state.catalog().dropTable(stage_ident, True, False)
        state.catalog().invalidateCachedTable(stage_ident)
        if swap != "started":  # a broken swap keeps the staged rows
            fs.delete(stage_dir, True)
        session.sql(f"REFRESH TABLE {target}")
    return metrics


def _observed(obs: Observation) -> dict:
    """The metrics of an Observation whose action has returned. They are
    reported when the action ends, so a missing row means the optimizer
    dropped the observed node — an error, never a wait."""
    if not obs._jo.getRowOrEmpty().isDefined():
        raise RuntimeError("the write did not report its row count")
    return obs.get


def counted_write(df: DataFrame, write) -> int:
    """Run ``write`` on ``df`` with its rows counted in the same job
    (``DataFrame.observe``); return the count."""
    obs = Observation()
    write(df.observe(obs, F.count(F.lit(1)).alias("n")))
    return int(_observed(obs)["n"])


def _flagged(session: SparkSession, table: str, pred: str | None) -> DataFrame:
    """The pre-image scan of ``table`` plus ``__dml_hit``, the predicate
    evaluated on each old row (NULL counts as no match); the table's
    qualifiers stay valid on top of it."""
    hit = "true" if pred is None else f"coalesce(({pred}), false)"
    return session.sql(f"SELECT *, {hit} AS __dml_hit FROM {table}")


def _rewrite_matched(
    session: SparkSession, table: str, pred: str | None, post
) -> int:
    """Rewrite ``table`` to ``post(flagged)`` (see ``_flagged``) and
    return the number of rows the predicate matched, counted in the
    write's own job."""
    obs = Observation()
    flagged = _flagged(session, table, pred).observe(
        obs, F.count_if(F.col("__dml_hit")).alias("n")
    )
    return int(_rewrite_table(session, table, post(flagged), obs)["n"])


def _prepare_assignments(
    session: SparkSession,
    table: str,
    assignments: list[tuple[str, str]],
    tables: tuple[str, ...] | None = None,
) -> list[tuple[str, str]]:
    """The one preparation of rewrite-on-write UPDATE assignments:
    ``DEFAULT`` → the declared default, SET chains narrowed per-op over
    the schemas of ``tables`` (the target by default), and a bare
    string literal assigned to an enum column → the validating
    constructor (DuckDB's implicit VARCHAR→enum cast). Enum columns in
    the expressions themselves were typed with the statement text."""
    from ..server.compat import ENUM_TYPES, _enum_struct_sql, enum_columns_of

    assignments = _resolve_default_exprs(session, table, assignments)
    assignments = f32_fix_assignments(session, assignments, tables or (table,))
    if not ENUM_TYPES:
        return assignments
    enum_cols, _ = enum_columns_of(session.table(table).schema.fields)
    return [
        (
            c,
            _enum_struct_sql(e.strip(), tn, strict=True)
            if (tn := enum_cols.get(c.lower())) is not None
            and re.fullmatch(r"\s*'(?:[^']|'')*'\s*", e)
            else e,
        )
        for c, e in assignments
    ]


def _resolve_default_exprs(
    session: SparkSession, table: str, assignments: list[tuple[str, str]]
) -> list[tuple[str, str]]:
    """``SET col = DEFAULT`` in the rewrite-on-write UPDATE paths:
    Spark's native default-column support covers CREATE/INSERT, but
    UPDATE is re-expressed as a table rewrite here, so the keyword must
    resolve to the declared default (StructField metadata
    CURRENT_DEFAULT) — or NULL when the column has none, like DuckDB."""
    if not any(e.strip().upper() == "DEFAULT" for _, e in assignments):
        return assignments
    defaults = {
        f.name.lower(): f.metadata.get("CURRENT_DEFAULT")
        for f in session.table(table).schema.fields
    }
    return [
        (
            c,
            (defaults.get(c.split(".")[-1].lower()) or "NULL")
            if e.strip().upper() == "DEFAULT"
            else e,
        )
        for c, e in assignments
    ]


def f32_fix_assignments(
    session: SparkSession,
    assignments: list[tuple[str, str]],
    tables: tuple[str, ...],
) -> list[tuple[str, str]]:
    """Narrow UPDATE SET chains PER-OP like duck (r17, closes the
    NOTES r16 residue): ``SET x = f * 2 + g * 3`` stores duck's
    float32-per-operation value (probed — the stored value matches
    f32(f32(f*2)+f32(g*3)), NOT the narrow-once f32(f64 chain); they
    differ in the last ulp). Each RHS types through the f32 grammar
    with the schema kinds of ``tables``; unparseable expressions stay
    native (the store-time cast then narrows once — the old behavior,
    exact for single-op chains). Part of ``_prepare_assignments``: the
    statement's schema-typed pass (app._hugeint_sums) narrows
    comparisons but leaves SET assignments to this step; MERGE arms
    narrow through ``_f32_fix_pairs`` with the source schema."""
    from ..server.app import _schema_fields  # memoized catalog probe

    field_lists = [_schema_fields(session, t) or [] for t in tables]
    return _f32_fix_pairs(assignments, _f32_kinds_of_fields(field_lists))


def _f32_kinds_of_fields(field_lists) -> dict:
    """bare lowercase column name → f32/f64/int/('dec', scale) over
    the given schema field lists; names seen with conflicting or
    non-numeric types drop (the typer then bails conservatively)."""
    from pyspark.sql import types as T

    kind_map: dict[str, set] = {}
    for fields in field_lists:
        for f in fields:
            dt = f.dataType
            if isinstance(dt, T.FloatType):
                k = "f32"
            elif isinstance(dt, T.DoubleType):
                k = "f64"
            elif isinstance(
                dt, (T.IntegerType, T.LongType, T.ShortType, T.ByteType)
            ):
                k = "int"
            elif isinstance(dt, T.DecimalType):
                k = ("dec", dt.scale)
            else:
                k = "other"
            kind_map.setdefault(f.name.lower(), set()).add(k)
    kinds = {
        n: next(iter(ks)) for n, ks in kind_map.items() if len(ks) == 1
    }
    return {n: k for n, k in kinds.items() if k != "other"}


def _f32_fix_pairs(
    pairs: list[tuple[str, str]], kinds: dict
) -> list[tuple[str, str]]:
    from ..server.compat import _f32_side

    if not any(k == "f32" for k in kinds.values()):
        return pairs
    out = []
    for col, expr in pairs:
        res = _f32_side(expr, kinds)
        if res is not None and res[0] in ("f32", "f64") and res[2]:
            expr = res[1]
        out.append((col, expr))
    return out


def _update_post(
    session: SparkSession, table: str, assignments: list[tuple[str, str]]
):
    """The post-image of a rewrite-on-write UPDATE as a function of the
    flagged pre-image (``_flagged``): each assigned column takes its
    prepared expression on hit rows."""
    set_map = {
        c.lower(): e
        for c, e in _prepare_assignments(session, table, assignments)
    }

    def post(flagged: DataFrame) -> DataFrame:
        return flagged.selectExpr(
            *(
                f"CASE WHEN __dml_hit THEN ({set_map[c.lower()]}) ELSE {c} END AS {c}"
                if c.lower() in set_map
                else c
                for c in flagged.columns[:-1]  # the table's, then __dml_hit
            )
        )

    return post


def update_table(
    session: SparkSession,
    table: str,
    assignments: list[tuple[str, str]],
    pred: str | None,
) -> int:
    """Rewrite-on-write UPDATE; returns the matched-row count."""
    post = _update_post(session, table, assignments)
    return _rewrite_matched(session, table, pred, post)


def delete_from(session: SparkSession, table: str, pred: str | None) -> int:
    """Rewrite-on-write DELETE; returns the removed-row count. Rows where
    the predicate is false or NULL stay (PG deletes only rows where it
    is true)."""
    return _rewrite_matched(
        session,
        table,
        pred,
        lambda flagged: flagged.filter(~F.col("__dml_hit")).drop("__dml_hit"),
    )


@dataclass
class MergeClause:
    """One ``WHEN [NOT] MATCHED [AND pred] THEN action`` arm."""

    matched: bool
    pred: str | None  # extra AND-predicate, SQL text (may reference both aliases)
    action: str  # 'update' | 'delete' | 'insert'
    assignments: list[tuple[str, str]] = field(default_factory=list)  # update
    insert_cols: list[str] | None = None  # insert; None = all target columns
    insert_exprs: list[str] = field(default_factory=list)  # insert


@dataclass
class MergeSpec:
    target: str
    t_alias: str
    source_sql: str  # always a SELECT (bare table names are wrapped)
    s_alias: str
    cond: str
    clauses: list[MergeClause]


def _parse_rel(text: str) -> tuple[str, str] | None:
    """``name [AS] [alias]`` or ``(subquery) [AS] alias`` →
    (sql-or-name, alias). The subquery form returns the inner SELECT."""
    text = text.strip()
    if text.startswith("("):
        depth = 0
        end = -1
        for i, c in enumerate(text):  # source subqueries carry no quoted ')'
            if c == "(":
                depth += 1
            elif c == ")":
                depth -= 1
                if depth == 0:
                    end = i
                    break
        if end == -1:
            return None
        rel, rest = text[1:end].strip(), text[end + 1 :].split()
    else:
        parts = text.split()
        if not parts:
            return None
        rel, rest = parts[0], parts[1:]
    if rest and rest[0].upper() == "AS":
        rest = rest[1:]
    if len(rest) > 1 or (rest and not re.fullmatch(r"\w+", rest[0])):
        return None
    return rel, (rest[0] if rest else rel)


def parse_merge(stmt: str) -> MergeSpec | None:
    """Parse the standard ``MERGE INTO … USING … ON … WHEN …`` grammar
    (PG 15 subset: multiple WHEN arms, first-match-wins; no DO NOTHING —
    an arm-less row falls through to "keep" naturally)."""
    from ..server.compat import _find_keyword, split_top_level

    m = _MERGE.match(stmt)
    if m is None:
        return None
    tail = m.group(1).rstrip().rstrip(";")
    iu = _find_keyword(tail, "USING")
    if iu == -1:
        return None
    target = _parse_rel(tail[:iu])
    rest = tail[iu + len("USING") :]
    io = _find_keyword(rest, "ON")
    if io == -1:
        return None
    source = _parse_rel(rest[:io])
    if target is None or source is None or "(" in target[0]:
        return None
    rest = rest[io + len("ON") :]
    iw = _find_keyword(rest, "WHEN")
    if iw == -1:
        return None
    cond = rest[:iw].strip()

    # split the WHEN arms at top level
    arms: list[str] = []
    pos = iw
    while pos != -1:
        nxt = _find_keyword(rest, "WHEN", pos + 4)
        arms.append(rest[pos + 4 : nxt if nxt != -1 else len(rest)].strip())
        pos = nxt

    clauses: list[MergeClause] = []
    for arm in arms:
        am = re.match(r"^(NOT\s+)?MATCHED\b(.*)$", arm, re.IGNORECASE | re.DOTALL)
        if am is None:
            return None
        matched = am.group(1) is None
        body = am.group(2)
        it = _find_keyword(body, "THEN")
        if it == -1:
            return None
        guard, action = body[:it].strip(), body[it + len("THEN") :].strip()
        pred = None
        if guard:
            gm = re.match(r"^AND\b(.*)$", guard, re.IGNORECASE | re.DOTALL)
            if gm is None:
                return None
            pred = gm.group(1).strip()
        up = re.match(r"^UPDATE\s+SET\s+(.*)$", action, re.IGNORECASE | re.DOTALL)
        ins = re.match(
            r"^INSERT\s*(\([^)]*\))?\s*VALUES\s*\((.*)\)\s*$",
            action,
            re.IGNORECASE | re.DOTALL,
        )
        if matched and up is not None:
            assignments = []
            for piece in split_top_level(up.group(1)):
                if "=" not in piece:
                    return None
                col, expr = piece.split("=", 1)
                assignments.append((col.strip(), expr.strip()))
            clauses.append(MergeClause(True, pred, "update", assignments))
        elif matched and re.fullmatch(r"DELETE", action, re.IGNORECASE):
            clauses.append(MergeClause(True, pred, "delete"))
        elif not matched and ins is not None:
            cols = (
                [c.strip() for c in ins.group(1)[1:-1].split(",")]
                if ins.group(1)
                else None
            )
            exprs = [e.strip() for e in split_top_level(ins.group(2))]
            clauses.append(
                MergeClause(False, pred, "insert", insert_cols=cols, insert_exprs=exprs)
            )
        else:
            return None
    tgt_rel, t_alias = target
    src_rel, s_alias = source
    src_sql = src_rel if " " in src_rel else f"SELECT * FROM {src_rel}"
    return MergeSpec(tgt_rel, t_alias, src_sql, s_alias, cond, clauses)


def _merge_substitute_nextval(
    session: SparkSession,
    clauses: list,
    arm_fms: list[str],
    arm_counts: list,
) -> None:
    """nextval inside MERGE arm expressions (the last refusing DML row
    context, r10): DuckDB advances the sequence once per row processed
    by the arm, so the UPDATE-statement block-reservation recipe
    (compat._substitute_update_nextval) applies PER ARM — reserve one
    block sized by the arm's affected-row count, number the arm's rows
    with the arm-appropriate index expression, and substitute. A
    sequence SHARED by several arms (the classic two-arm upsert, r12 —
    was a refusal) reserves its blocks in arm order from the live
    counter, so the allocated VALUE SET stays exactly DuckDB's
    contiguous range; which arm's rows get which sub-block is arm-major
    here where duck interleaves by scan order — row↔value pairing is
    guaranteed by neither engine (the UPDATE precedent, BASELINE r9).
    Occurrences in arm PREDICATES still refuse (row-dependent in a way
    no rewrite reproduces)."""
    from ..server.compat import (
        _SEQ_FN_RE,
        _code_mask,
        _reserve_seq_blocks,
        SEQUENCES,
    )

    def occs_of(text: str) -> list:
        # gate must match _SEQ_FN_RE's tolerance: 'nextval (' with
        # whitespace before the paren is a valid call
        if text is None or "val" not in text.lower():
            return []
        mask = _code_mask(text)
        return [
            m
            for m in _SEQ_FN_RE.finditer(text)
            if all(mask[m.start(1) : m.end(1)])
        ]

    arm_occs: list[list[tuple[int, object]]] = []
    any_occ = False
    for ai, cl in enumerate(clauses):
        if occs_of(cl.pred):
            raise ValueError(
                "nextval in a MERGE arm predicate is row-dependent in "
                "a way the block-reservation rewrite can't reproduce"
            )
        exprs = (
            [v for _, v in cl.assignments]
            if cl.action == "update"
            else (cl.insert_exprs or [])
        )
        found: list[tuple[int, object]] = []
        for ei, e in enumerate(exprs):
            for m in occs_of(e):
                name = m.group(2).lower()
                if SEQUENCES.get(name) is None:
                    raise ValueError(f"sequence {m.group(2)!r} does not exist")
                found.append((ei, m))
                any_occ = True
        arm_occs.append(found)
    if not any_occ:
        return
    for ai, (cl, found) in enumerate(zip(clauses, arm_occs)):
        if not found:
            continue
        n = int(arm_counts[ai]())
        fm = arm_fms[ai]
        if cl.action == "update":
            idx = (
                f"(sum(CASE WHEN {fm} THEN 1 ELSE 0 END) OVER (ORDER BY"
                f" monotonically_increasing_id() ROWS BETWEEN UNBOUNDED"
                f" PRECEDING AND CURRENT ROW) - 1)"
            )
        else:  # the insert-arm query contains ONLY the arm's rows
            idx = (
                "(row_number() OVER (ORDER BY"
                " monotonically_increasing_id()) - 1)"
            )
        repls = [
            f"({idx} * {inc} + {base})"
            for base, inc in _reserve_seq_blocks([m for _, m in found], n)
        ]
        exprs = (
            [v for _, v in cl.assignments]
            if cl.action == "update"
            else list(cl.insert_exprs)
        )
        # substitute right-to-left per expression so spans stay valid
        for (ei, m), repl in sorted(
            zip(found, repls), key=lambda t: (t[0][0], t[0][1].start()),
            reverse=True,
        ):
            e = exprs[ei]
            exprs[ei] = e[: m.start()] + repl + e[m.end() :]
        if cl.action == "update":
            cl.assignments = [
                (c, exprs[i]) for i, (c, _) in enumerate(cl.assignments)
            ]
        else:
            cl.insert_exprs = exprs


def merge_into(session: SparkSession, spec: MergeSpec) -> int:
    """Rewrite-on-write MERGE; returns updated+deleted+inserted count.

    Post-image = (target LEFT JOIN flagged-source, per-column CASE over
    the matched arms in order, delete arms filtered out) UNION ALL (one
    anti-join SELECT per NOT MATCHED arm). First-match-wins is encoded
    by AND-ing the negation of every earlier arm's predicate — the same
    null-safe ``coalesce(p, false)`` form on both engines. Like PG, a
    target row matching >1 source row is a spec violation; this engine
    processes duplicates instead of erroring (documented delta).
    """
    cols = session.table(spec.target).columns
    t, s = spec.t_alias, spec.s_alias
    src = f"(SELECT __merge_src.*, true AS __merge_m FROM ({spec.source_sql}) __merge_src) {s}"
    guard = f"coalesce({s}.__merge_m, false)"

    def first_match(arms: list[MergeClause], implicit_guard: bool) -> list[str]:
        fms, prior = [], []
        for cl in arms:
            p = "true" if cl.pred is None else f"coalesce(({cl.pred}), false)"
            parts = ([] if implicit_guard else [guard]) + [f"NOT {q}" for q in prior] + [p]
            fms.append("(" + " AND ".join(parts) + ")")
            prior.append(p)
        return fms

    matched = [c for c in spec.clauses if c.matched]
    fms = first_match(matched, implicit_guard=False)
    not_matched = [c for c in spec.clauses if not c.matched]
    nm_fms = first_match(not_matched, implicit_guard=True)
    joined = f"FROM {spec.target} {t} LEFT JOIN {src} ON ({spec.cond})"
    anti = f"FROM ({spec.source_sql}) {s} LEFT ANTI JOIN {spec.target} {t} ON ({spec.cond})"

    def _upd_count(fm):
        return lambda: (
            session.sql(
                f"SELECT sum(CASE WHEN {fm} THEN 1 ELSE 0 END) AS n {joined}"
            ).first()["n"]
            or 0
        )

    def _ins_count(fm):
        return lambda: session.sql(
            f"SELECT count(*) AS n {anti} WHERE {fm}"
        ).first()["n"]

    _merge_substitute_nextval(
        session,
        matched + not_matched,
        fms + nm_fms,
        [_upd_count(fm) for fm in fms] + [_ins_count(fm) for fm in nm_fms],
    )

    # MERGE UPDATE/INSERT arms narrow SET chains per-op like plain
    # UPDATE (r17): kinds from the target schema + the analyzed source
    # schema (analysis only, no execution); unknown names bail the
    # typer. The schema probes only run when some arm expression
    # carries arithmetic at all (r17 review: every MERGE paid the
    # source analysis otherwise; bare-identifier/literal arms cannot
    # narrow)
    from ..server.compat import f32_item_gate

    arm_exprs = [
        e
        for cl in matched
        if cl.action == "update"
        for _c, e in cl.assignments
    ] + [e for cl in not_matched for e in cl.insert_exprs]
    if any(f32_item_gate("SELECT " + e) for e in arm_exprs):
        try:
            src_fields = session.sql(
                f"SELECT * FROM ({spec.source_sql}) __merge_f32_probe"
            ).schema.fields
        except Exception:  # noqa: BLE001 — unanalyzable: target only
            src_fields = []
        merge_kinds = _f32_kinds_of_fields(
            [session.table(spec.target).schema.fields, src_fields]
        )
        for cl in matched:
            if cl.action == "update":
                cl.assignments = _f32_fix_pairs(
                    cl.assignments, merge_kinds
                )
        for cl in not_matched:
            cl.insert_exprs = [
                e
                for _c, e in _f32_fix_pairs(
                    [("__v", e) for e in cl.insert_exprs], merge_kinds
                )
            ]

    sel_parts = []
    for c in cols:
        whens = []
        for cl, fm in zip(matched, fms):
            if cl.action != "update":
                continue
            expr = dict((k.lower(), v) for k, v in cl.assignments).get(c.lower())
            if expr is not None:
                whens.append(f"WHEN {fm} THEN ({expr})")
        sel_parts.append(
            f"CASE {' '.join(whens)} ELSE {t}.{c} END AS {c}" if whens else f"{t}.{c} AS {c}"
        )
    # __dml_kind: 0 kept, 1 updated, 2 deleted, 3 inserted; arms are
    # first-match exclusive, so one count over it is PG's MERGE tag
    # (inserted + updated + deleted), taken in the write's own job
    kind = " ".join(
        f"WHEN {fm} THEN {2 if cl.action == 'delete' else 1}"
        for cl, fm in zip(matched, fms)
    )
    kind = f"CASE {kind} ELSE 0 END" if kind else "0"
    parts = [f"SELECT {', '.join(sel_parts)}, {kind} AS __dml_kind {joined}"]
    for cl, fm in zip(not_matched, nm_fms):
        ins_cols = cl.insert_cols if cl.insert_cols is not None else cols
        if len(ins_cols) != len(cl.insert_exprs):
            raise ValueError("INSERT column/VALUES arity mismatch in MERGE")
        by_col = {c.lower(): e for c, e in zip(ins_cols, cl.insert_exprs)}
        proj = ", ".join(f"({by_col.get(c.lower(), 'NULL')}) AS {c}" for c in cols)
        parts.append(f"SELECT {proj}, 3 AS __dml_kind {anti} WHERE {fm}")

    obs = Observation()
    post = (
        session.sql(" UNION ALL ".join(parts))
        .observe(obs, F.count_if(F.col("__dml_kind") > 0).alias("n"))
        .filter("__dml_kind <> 2")
        .drop("__dml_kind")
    )
    return int(_rewrite_table(session, spec.target, post, obs)["n"])


# --------------------------------------------------------------- RETURNING

def split_returning(stmt: str) -> tuple[str, str | None]:
    """Split a DML statement at its top-level ``RETURNING`` clause.

    PG clients (every ORM: SQLAlchemy, ActiveRecord, asyncpg users) emit
    ``INSERT … RETURNING`` on every insert; the reference reaches
    DuckDB's RETURNING through delegation
    (``/root/reference/src/duckdb_pgwire_extension.cpp:52``).
    Returns ``(body, projection-or-None)``.
    """
    from ..server.compat import _find_keyword

    i = _find_keyword(stmt, "RETURNING")
    if i == -1:
        return stmt, None
    return stmt[:i].rstrip(), stmt[i + len("RETURNING") :].strip().rstrip(";").strip()


# Bounded janitor (code-review r6): every RETURNING/upsert/joined-DML
# statement materializes a snapshot dir, every staged INSERT a stage
# dir, and both register uuid temp views; on a long-lived server that's
# unbounded /tmp + catalog growth. Rows are always consumed within
# their own statement, so anything 64 statements old is garbage — drop
# the oldest past that window, and the rest when the process exits.
_SNAPSHOT_DIRS: "deque[str]" = deque()
_TEMP_VIEWS: "deque[str]" = deque()
_JANITOR_KEEP = 64


def _track_snapshot_dir(loc: str) -> None:
    _SNAPSHOT_DIRS.append(loc)
    while len(_SNAPSHOT_DIRS) > _JANITOR_KEEP:
        shutil.rmtree(_SNAPSHOT_DIRS.popleft(), ignore_errors=True)


@atexit.register
def _remove_snapshot_dirs() -> None:
    while _SNAPSHOT_DIRS:
        shutil.rmtree(_SNAPSHOT_DIRS.popleft(), ignore_errors=True)


def _track_temp_view(session: SparkSession, name: str) -> None:
    _TEMP_VIEWS.append(name)
    while len(_TEMP_VIEWS) > _JANITOR_KEEP:
        old = _TEMP_VIEWS.popleft()
        try:
            session.catalog.dropTempView(old)
        except Exception:  # noqa: BLE001 — already gone / other session
            pass


def _materialize(rows: DataFrame) -> DataFrame:
    """Snapshot rows to a temp parquet dir and read them back —
    decouples the result from the source table so the subsequent
    rewrite-on-write of that table cannot invalidate it. Distributed
    write, never through the driver; dirs are janitor-bounded."""
    loc = tempfile.mkdtemp(prefix="dml_ret_")
    _track_snapshot_dir(loc)
    rows.write.mode("overwrite").parquet(loc)
    return rows.sparkSession.read.parquet(loc)


def project_returning(
    session: SparkSession,
    df: DataFrame,
    proj: str,
    typed: Callable[[str], str] = lambda q: q,
) -> DataFrame:
    """Evaluate a RETURNING projection over the affected-rows snapshot.
    The snapshot carries the target table's columns, so ``*`` and any
    column expression behave exactly as PG's RETURNING scope. ``typed``
    rewrites the projection's SELECT text in that scope (the server's
    schema-typed pass, for an INSERT whose body was typed in its
    source's scope)."""
    view = f"__returning_{uuid.uuid4().hex[:12]}"
    df.createOrReplaceTempView(view)
    _track_temp_view(session, view)
    out = session.sql(typed(f"SELECT {proj} FROM {view}"))
    out.schema  # force analysis now so a bad projection errors here  # noqa: B018
    # the uuid-fresh view stays registered for the lazy execution that
    # streams the rows; no name collision across statements/sessions
    return out


def update_returning(
    session: SparkSession,
    table: str,
    assignments: list[tuple[str, str]],
    pred: str | None,
) -> DataFrame:
    """UPDATE that also snapshots the post-image of the affected rows
    (PG: RETURNING sees the NEW values, as stored). The snapshot is the
    hit rows of the same post-image the table is rewritten to, cast to
    the column types the store applies. Returns the snapshot; the
    affected count is its row count."""
    post = _update_post(session, table, assignments)
    stored = [
        F.col(f.name).cast(f.dataType).alias(f.name)
        for f in session.table(table).schema.fields
    ]
    hits = _flagged(session, table, pred).filter("__dml_hit")
    affected = _materialize(post(hits).select(*stored))
    _rewrite_matched(session, table, pred, post)
    return affected


def delete_returning(
    session: SparkSession, table: str, pred: str | None
) -> DataFrame:
    """DELETE that snapshots the removed rows (PG: RETURNING sees the
    OLD values)."""
    where = f" WHERE coalesce(({pred}), false)" if pred is not None else ""
    affected = _materialize(session.sql(f"SELECT * FROM {table}{where}"))
    delete_from(session, table, pred)
    return affected


# ------------------------------------------------- schema-changing DDL

def truncate_table(session: SparkSession, table: str) -> int:
    """``TRUNCATE [TABLE] t``: Spark's native TRUNCATE refuses external
    tables (every table this server creates is external — the in-memory
    catalog forgets managed dirs across processes), so reuse the
    rewrite-on-write DELETE with no predicate. Returns removed count."""
    return delete_from(session, table, None)


def _recreate_table(
    session: SparkSession, table: str, select_sql: str, renamed: Callable
) -> None:
    """Schema-CHANGING rewrite (rename/drop column): ``select_sql``
    gives the new rows and ``renamed(column)`` each old column's new
    name, or None for a dropped one. SQL cannot give a v1 table's
    catalog entry a new schema in place, so _rewrite_table writes the
    rows into its in-location stage and swaps them in, and the catalog
    entry then takes the new data schema: the table keeps its location
    and its managed or external kind. A partition column names a
    directory level, so it is refused."""
    from pyspark.sql.types import StructType

    _assert_writable(session, table)
    jss = session._jsparkSession
    state = jss.sessionState()
    meta = state.catalog().getTableMetadata(
        state.sqlParser().parseTableIdentifier(table)
    )
    for i in range(meta.partitionColumnNames().size()):
        col = meta.partitionColumnNames().apply(i)
        if renamed(col) != col:
            raise ValueError(f'cannot rename or drop partition column "{col}"')
    fields = [
        f.jsonValue() | {"name": name}
        for f in StructType.fromJson(json.loads(meta.dataSchema().json())).fields
        if (name := renamed(f.name)) is not None
    ]
    schema = jss.parseDataType(json.dumps({"type": "struct", "fields": fields}))
    _rewrite_table(session, table, select_sql, data_schema=schema)


def rename_column(session: SparkSession, table: str, old: str, new: str) -> None:
    """ALTER TABLE … RENAME COLUMN (v1 parquet tables can't in-place;
    PG/DuckDB support it via delegation, cpp:52)."""
    cols = session.table(table).columns
    if old.lower() not in {c.lower() for c in cols}:
        raise ValueError(f'column "{old}" does not exist')
    sel = ", ".join(
        f"{c} AS {new}" if c.lower() == old.lower() else c for c in cols
    )
    _recreate_table(
        session,
        table,
        f"SELECT {sel} FROM {table}",
        lambda c: new if c.lower() == old.lower() else c,
    )


def drop_column(
    session: SparkSession, table: str, col: str, if_exists: bool = False
) -> None:
    """ALTER TABLE … DROP COLUMN via recreate."""
    cols = session.table(table).columns
    if col.lower() not in {c.lower() for c in cols}:
        if if_exists:
            return
        raise ValueError(f'column "{col}" does not exist')
    keep = [c for c in cols if c.lower() != col.lower()]
    if not keep:
        raise ValueError("cannot drop the only column of a table")
    _recreate_table(
        session,
        table,
        f"SELECT {', '.join(keep)} FROM {table}",
        lambda c: None if c.lower() == col.lower() else c,
    )


# ----------------------------------------------------- joined UPDATE/DELETE

def update_from(
    session: SparkSession,
    table: str,
    assignments: list[tuple[str, str]],
    pred: str | None,
    from_rel: tuple[str, str],
) -> DataFrame:
    """PG joined UPDATE (``UPDATE t SET … FROM src WHERE cond``; DuckDB
    supports it through the reference's cpp:52 delegation). Returns the
    affected-rows post-image snapshot (count = PG's command tag;
    RETURNING projects over it).

    Shape: snapshot the target with a synthetic ``__rid`` (parquet rows
    have no rowid), join against the source on the WHERE condition,
    keep ONE match per target row (PG updates each target row once;
    multi-match choice is arbitrary in PG too), then stitch the
    post-image with a left join on __rid and swap. Two joins + the
    usual one-write rewrite — all key-partitioned, no driver loop."""
    cols = session.table(table).columns
    leaf = table.split(".")[-1]
    src_rel, src_alias = from_rel
    assignments = _prepare_assignments(
        session,
        table,
        assignments,
        (table,) if " " in src_rel else (table, src_rel),
    )
    src_sql = src_rel if " " in src_rel else f"SELECT * FROM {src_rel}"
    set_map = {c.lower(): e for c, e in assignments}
    collist = ", ".join(cols)
    rid = _materialize(
        session.sql(
            f"SELECT *, monotonically_increasing_id() AS __rid FROM {table}"
        )
    )
    sv = f"__updfrom_{uuid.uuid4().hex[:12]}"
    rid.createOrReplaceTempView(sv)
    _track_temp_view(session, sv)
    on = f"({pred})" if pred is not None else "true"
    proj = ", ".join(
        f"({set_map[c.lower()]}) AS {c}" if c.lower() in set_map else f"{leaf}.{c} AS {c}"
        for c in cols
    )
    matched = _materialize(
        session.sql(
            f"SELECT __rid, {collist} FROM ("
            f"SELECT {leaf}.__rid AS __rid, {proj}, "
            f"row_number() OVER (PARTITION BY {leaf}.__rid ORDER BY {leaf}.__rid) AS __rn "
            f"FROM {sv} {leaf} JOIN ({src_sql}) {src_alias} ON {on}"
            f") WHERE __rn = 1"
        )
    )
    mv = f"__updmatch_{uuid.uuid4().hex[:12]}"
    matched.createOrReplaceTempView(mv)
    _track_temp_view(session, mv)
    post_cols = ", ".join(
        f"CASE WHEN m.__rid IS NOT NULL THEN m.{c} ELSE s0.{c} END AS {c}"
        if c.lower() in set_map
        else f"s0.{c} AS {c}"
        for c in cols
    )
    _rewrite_table(
        session,
        table,
        f"SELECT {post_cols} FROM {sv} s0 LEFT JOIN {mv} m ON s0.__rid = m.__rid",
    )
    return session.sql(f"SELECT {collist} FROM {mv}")


def delete_using(
    session: SparkSession,
    table: str,
    pred: str | None,
    using_rel: tuple[str, str],
) -> DataFrame:
    """PG joined DELETE (``DELETE FROM t USING src WHERE cond``).
    Returns the removed-rows snapshot. Semi join finds the victims,
    anti join builds the post-image — both on the same key expression,
    no rowid needed."""
    leaf = table.split(".")[-1]
    src_rel, src_alias = using_rel
    src_sql = src_rel if " " in src_rel else f"SELECT * FROM {src_rel}"
    on = f"({pred})" if pred is not None else "true"
    affected = _materialize(
        session.sql(
            f"SELECT {leaf}.* FROM {table} {leaf} "
            f"LEFT SEMI JOIN ({src_sql}) {src_alias} ON {on}"
        )
    )
    _rewrite_table(
        session,
        table,
        f"SELECT {leaf}.* FROM {table} {leaf} "
        f"LEFT ANTI JOIN ({src_sql}) {src_alias} ON {on}",
    )
    return affected


# ------------------------------------------------------- INSERT / UPSERT

_INSERT = re.compile(
    r"^\s*INSERT\s+(?:OR\s+(REPLACE|IGNORE)\s+)?INTO\s+([\w.]+)\s*"
    r"(\([^()]*\))?\s*(.*)$",
    re.IGNORECASE | re.DOTALL,
)

# table → declared PRIMARY KEY columns, recorded by the server when a
# CREATE TABLE carries PK constraints (compat.strip_table_constraints
# removes the syntax Spark's DDL parser rejects; the key lives here so
# bare ON CONFLICT / INSERT OR REPLACE / OR IGNORE can resolve it like
# DuckDB's binder does).
#
# Lifetime: the dict is the process-local cache; the durable copy lives
# in table properties (TBLPROPERTIES 'duckpg.pk', written by the CREATE
# handler) and reloads lazily on a dict miss — so against a persistent
# catalog, PK-dependent upserts keep working after a server restart
# (r7 verdict item 7).
PRIMARY_KEYS: dict[str, list[str]] = {}

PK_PROPERTY = "duckpg.pk"

_NO_PK_ERROR = (
    "There are no UNIQUE/PRIMARY KEY Indexes that refer to this table, "
    "ON CONFLICT is a no-op"
)


def _table_pk(session: SparkSession, table: str) -> list[str] | None:
    key = table.lower().split(".")[-1]
    pk = PRIMARY_KEYS.get(key)
    if pk is not None:
        return pk
    try:
        rows = session.sql(f"SHOW TBLPROPERTIES {table}").collect()
    except Exception:  # noqa: BLE001 — temp view / missing table: no PK
        return None
    for r in rows:
        if r["key"] == PK_PROPERTY:
            pks = [c.strip() for c in r["value"].split(",") if c.strip()]
            if pks:
                PRIMARY_KEYS[key] = pks
                return pks
    return None


@dataclass
class ConflictSpec:
    """``ON CONFLICT [(cols)] DO NOTHING | DO UPDATE SET … [WHERE p]``."""

    key_cols: list[str] | None
    action: str  # 'nothing' | 'update'
    assignments: list[tuple[str, str]] = field(default_factory=list)
    pred: str | None = None


@dataclass
class InsertSpec:
    table: str
    cols: list[str] | None  # explicit column list; None = positional all
    source_sql: str  # VALUES … or SELECT … (already dialect-rewritten)
    conflict: ConflictSpec | None


def parse_insert(stmt: str) -> InsertSpec | None:
    """``INSERT INTO t [(cols)] <VALUES…|SELECT…> [ON CONFLICT …]`` →
    spec, or None for grammar this fast path doesn't cover (BY NAME,
    INSERT OVERWRITE, DEFAULT VALUES — those fall through to Spark's
    own INSERT when no RETURNING/ON CONFLICT tail forces this path)."""
    from ..server.compat import _find_keyword, split_top_level

    m = _INSERT.match(stmt)
    if m is None:
        return None
    or_kind = (m.group(1) or "").lower()
    table = m.group(2)
    cols = (
        [c.strip() for c in m.group(3)[1:-1].split(",")] if m.group(3) else None
    )
    tail = m.group(4).rstrip().rstrip(";")

    conflict: ConflictSpec | None = None
    if or_kind:
        # DuckDB sugar: OR REPLACE ≡ ON CONFLICT (pk) DO UPDATE SET
        # <every column> = excluded.<column>; OR IGNORE ≡ DO NOTHING.
        # The PK resolves at execution (upsert_into), like the binder.
        conflict = ConflictSpec(
            None, "replace" if or_kind == "replace" else "nothing"
        )
        src = tail.strip()
        if not re.match(r"^(VALUES|SELECT|WITH|TABLE|FROM)\b", src, re.IGNORECASE):
            return None
        return InsertSpec(table, cols, src, conflict)
    ic = _find_keyword(tail, "CONFLICT")
    if ic != -1:
        on = re.search(r"\bON\s*$", tail[:ic], re.IGNORECASE)
        if on is None:
            return None
        clause = tail[ic + len("CONFLICT") :].strip()
        tail = tail[: on.start()].rstrip()
        key_cols = None
        if clause.startswith("("):
            depth, end = 0, -1
            for i, ch in enumerate(clause):
                if ch == "(":
                    depth += 1
                elif ch == ")":
                    depth -= 1
                    if depth == 0:
                        end = i
                        break
            if end == -1:
                return None
            key_cols = [c.strip() for c in split_top_level(clause[1:end])]
            clause = clause[end + 1 :].strip()
        if re.fullmatch(r"DO\s+NOTHING", clause, re.IGNORECASE):
            conflict = ConflictSpec(key_cols, "nothing")
        else:
            dm = re.match(r"^DO\s+UPDATE\s+SET\s+(.*)$", clause, re.IGNORECASE | re.DOTALL)
            if dm is None:
                return None
            set_part, pred = _split_where(dm.group(1))
            assignments = []
            for piece in split_top_level(set_part):
                if "=" not in piece:
                    return None
                col, expr = piece.split("=", 1)
                assignments.append((col.strip(), expr.strip()))
            conflict = ConflictSpec(key_cols, "update", assignments, pred)

    src = tail.strip()
    if not re.match(r"^(VALUES|SELECT|WITH|TABLE|FROM)\b", src, re.IGNORECASE):
        return None
    return InsertSpec(table, cols, src, conflict)


def _coerce_enum_value(col, tgt_dt, src_dt):
    """A bare string inserted into an ENUM-emulation column (DuckDB
    implicit-casts VARCHAR → enum) → the ordered struct, validated
    against the member list recovered from the self-describing label
    field name (compat.ENUM_TYPES). Returns None when the target is
    not an enum struct or the source is already struct-shaped."""
    from pyspark.sql import types as T

    if not (
        isinstance(tgt_dt, T.StructType)
        and len(tgt_dt.fields) == 2
        and tgt_dt.fields[0].name == "__ecode"
        and tgt_dt.fields[1].name.startswith("__elabel_")
    ) or isinstance(src_dt, T.StructType):
        return None
    from ..server.compat import ENUM_TYPES

    tn = tgt_dt.fields[1].name[len("__elabel_"):]
    members = ENUM_TYPES.get(tn)
    if not members:
        return None
    s = col.cast("string")
    pos = F.array_position(F.array(*[F.lit(m) for m in members]), s)
    msg = F.concat(
        F.lit("Could not convert string '"), s, F.lit(f"' to enum {tn}")
    )
    code = (
        F.when(pos == 0, F.raise_error(msg).cast("int"))
        .otherwise(pos.cast("int"))
        .alias("__ecode")
    )
    return F.when(s.isNull(), F.lit(None).cast(tgt_dt)).otherwise(
        F.struct(code, s.alias(tgt_dt.fields[1].name))
    )


def stage_insert_rows(
    session: SparkSession, table: str, cols: list[str] | None, source_sql: str
) -> DataFrame:
    """Materialize the exact rows an INSERT would add, aligned to the
    target schema: explicit column list maps positionally, missing
    columns fill with typed NULLs (no DEFAULT metadata on parquet-v1
    tables), every cell cast to the target column type. A
    ``__ins_ord`` column preserves within-statement row order for
    VALUES sources (RETURNING streams in insert order)."""
    tgt_fields = session.table(table).schema.fields
    src = session.sql(source_sql)
    names = cols if cols is not None else [f.name for f in tgt_fields]
    if len(src.columns) != len(names):
        raise ValueError(
            f"INSERT has {len(src.columns)} expressions but {len(names)} target columns"
        )
    tgt_names = {f.name.lower() for f in tgt_fields}
    for c in names:
        if c.lower() not in tgt_names:
            # PG errors here; silently dropping the value would lose
            # data on a typo'd column list (code-review r6)
            raise ValueError(f'column "{c}" of relation "{table}" does not exist')
    src = src.toDF(*names)
    by_lower = {c.lower(): c for c in names}
    src_types = {f.name.lower(): f.dataType for f in src.schema.fields}

    def _cell(f):
        c = F.col(by_lower[f.name.lower()])
        src_dt = src_types[f.name.lower()]
        coerced = _coerce_enum_value(c, f.dataType, src_dt)
        return (coerced if coerced is not None else c.cast(f.dataType)).alias(
            f.name
        )

    aligned = [
        _cell(f)
        if f.name.lower() in by_lower
        else F.lit(None).cast(f.dataType).alias(f.name)
        for f in tgt_fields
    ]
    staged = src.select(*aligned).withColumn(
        "__ins_ord", F.monotonically_increasing_id()
    )
    loc = tempfile.mkdtemp(prefix="ins_stage_")
    _track_snapshot_dir(loc)
    staged.write.mode("overwrite").parquet(loc)
    return session.read.parquet(loc)


def insert_rows(session: SparkSession, staged: DataFrame, table: str) -> int:
    """Append the staged rows (already schema-aligned) to the target.
    Returns the inserted-row count, counted by the append itself."""
    _assert_writable(session, table)
    return counted_write(
        staged.drop("__ins_ord"), lambda df: df.write.insertInto(table, overwrite=False)
    )


_EXCLUDED_RE = re.compile(r"(?<![\w.])excluded\s*\.\s*", re.IGNORECASE)
_IDENT_RE = re.compile(r"(?<![\w.'\"])([A-Za-z_]\w*)\b(?!\s*\(|\s*\.)")
_SQL_KEYWORDS = {
    "and", "or", "not", "case", "when", "then", "else", "end", "null",
    "true", "false", "is", "in", "like", "ilike", "between", "distinct",
    "from", "cast", "as", "interval",
}


def _qualify_conflict_expr(expr: str, target_cols: set[str], table: str) -> str:
    """PG scope rules inside DO UPDATE SET / WHERE: ``excluded.c`` is
    the proposed row, an unqualified (or table-name-qualified)
    identifier is the target table's current row. The rewrite runs over
    a joined (t, s) context where both sides carry every column, so
    bare target columns must be t-qualified to avoid ambiguity.
    Literal-safe: splits on quotes."""
    from ..server.compat import _split_quoted

    tbl_leaf = table.split(".")[-1]
    tbl_re = re.compile(
        rf"(?<![\w.])(?:{re.escape(table)}|{re.escape(tbl_leaf)})\s*\.\s*",
        re.IGNORECASE,
    )
    out = []
    for is_lit, seg in _split_quoted(expr):
        if is_lit:
            out.append(seg)
            continue
        seg = _EXCLUDED_RE.sub("s.", seg)
        seg = tbl_re.sub("t.", seg)
        seg = _IDENT_RE.sub(
            lambda m: f"t.{m.group(1)}"
            if m.group(1).lower() in target_cols
            and m.group(1).lower() not in _SQL_KEYWORDS
            else m.group(1),
            seg,
        )
        out.append(seg)
    return "".join(out)


def upsert_into(
    session: SparkSession, table: str, staged: DataFrame, conflict: ConflictSpec
) -> DataFrame:
    """INSERT … ON CONFLICT via the rewrite-on-write recipe. Returns
    the affected-rows snapshot (inserted + updated post-image rows) —
    its count is PG's command-tag count and it feeds RETURNING.

    Scale shape: one broadcast-or-shuffle join of the batch against the
    target per arm, then the same one-write rewrite every DML statement
    uses. Within-batch duplicate keys ERROR, exactly like
    DuckDB's constraint check (golden-probed: both arms raise
    "duplicate key" on an intra-batch repeat). NULL key cells never
    match (plain equality, PG unique-constraint semantics)."""
    cols = session.table(table).columns
    keys = conflict.key_cols
    if keys is None:
        # bare ON CONFLICT / INSERT OR REPLACE / OR IGNORE: resolve the
        # declared PRIMARY KEY like DuckDB's binder; a PK-less table is
        # the binder error DuckDB raises (probed, both arms)
        keys = _table_pk(session, table)
        if keys is None:
            raise ValueError(_NO_PK_ERROR)
    src = staged.drop("__ins_ord")
    nn = src
    for k in keys:
        # NULL key cells never conflict (unique-constraint
        # semantics; the join arms below honor the same rule) —
        # exclude them from the duplicate check too
        nn = nn.filter(F.col(k).isNotNull())
    dup = (
        nn.groupBy(*keys).count().where(F.col("count") > 1).limit(1).collect()
    )  # bounded: one row max, batch-sized input
    if dup:
        key_txt = ", ".join(str(dup[0][k]) for k in keys)
        raise ValueError(
            f"PRIMARY KEY or UNIQUE constraint violated: duplicate key \"{key_txt}\""
        )
    sview = f"__upsert_src_{uuid.uuid4().hex[:12]}"
    src.createOrReplaceTempView(sview)
    _track_temp_view(session, sview)
    collist = ", ".join(cols)

    cond = " AND ".join(f"t.{k} = s.{k}" for k in keys)
    inserted = (
        f"SELECT {', '.join(f's.{c} AS {c}' for c in cols)} "
        f"FROM {sview} s LEFT ANTI JOIN {table} t ON ({cond})"
    )
    if conflict.action == "nothing":
        affected = _materialize(session.sql(inserted))
        aview = f"__upsert_aff_{uuid.uuid4().hex[:12]}"
        affected.createOrReplaceTempView(aview)
        _track_temp_view(session, aview)
        post = f"SELECT {collist} FROM {table} UNION ALL SELECT {collist} FROM {aview}"
        _rewrite_table(session, table, post)
        return affected

    if conflict.action == "replace":
        # INSERT OR REPLACE: the staged row wholesale replaces the
        # conflicting target row (probed: DuckDB keeps no old columns)
        replaced = (
            f"SELECT {', '.join(f's.{c} AS {c}' for c in cols)} "
            f"FROM {table} t JOIN {sview} s ON ({cond})"
        )
        affected = _materialize(session.sql(f"{replaced} UNION ALL {inserted}"))
        aview = f"__upsert_aff_{uuid.uuid4().hex[:12]}"
        affected.createOrReplaceTempView(aview)
        _track_temp_view(session, aview)
        kept = (
            f"SELECT {', '.join(f't.{c} AS {c}' for c in cols)} "
            f"FROM {table} t LEFT ANTI JOIN {sview} s ON ({cond})"
        )
        post = f"{kept} UNION ALL SELECT {collist} FROM {aview}"
        _rewrite_table(session, table, post)
        return affected

    target_cols = {c.lower() for c in cols}
    set_map = {
        c.lower(): _qualify_conflict_expr(e, target_cols, table)
        for c, e in conflict.assignments
    }
    predq = (
        f"coalesce(({_qualify_conflict_expr(conflict.pred, target_cols, table)}), false)"
        if conflict.pred is not None
        else "true"
    )
    upd_proj = ", ".join(
        f"({set_map[c.lower()]}) AS {c}" if c.lower() in set_map else f"t.{c} AS {c}"
        for c in cols
    )
    updated = (
        f"SELECT {upd_proj} FROM {table} t JOIN {sview} s ON ({cond}) WHERE {predq}"
    )
    affected = _materialize(session.sql(f"{updated} UNION ALL {inserted}"))
    aview = f"__upsert_aff_{uuid.uuid4().hex[:12]}"
    affected.createOrReplaceTempView(aview)
    _track_temp_view(session, aview)
    kept = (
        f"SELECT {', '.join(f't.{c} AS {c}' for c in cols)} "
        f"FROM {table} t LEFT JOIN (SELECT *, true AS __m FROM {sview}) s "
        f"ON ({cond}) WHERE NOT (coalesce(s.__m, false) AND {predq})"
    )
    post = f"{kept} UNION ALL SELECT {collist} FROM {aview}"
    _rewrite_table(session, table, post)
    return affected


# The registry entries' tables stay in the catalog after an entry
# returns (its DataFrame reads them lazily), so their directories are
# not snapshots: an entry removes its previous directory when it runs
# again, after dropping the table, and the last ones go at exit.
_REGISTRY_TABLE_DIRS: dict[str, str] = {}


def _fresh_registry_table(spark: SparkSession, tbl: str, prefix: str) -> str:
    """Drop a registry entry's table and its previous directory; return
    a new external location for it (a stale managed dir would block
    saveAsTable)."""
    spark.sql(f"DROP TABLE IF EXISTS {tbl}")
    old = _REGISTRY_TABLE_DIRS.pop(tbl, None)
    if old is not None:
        shutil.rmtree(old, ignore_errors=True)
    loc = _REGISTRY_TABLE_DIRS[tbl] = tempfile.mkdtemp(prefix=prefix)
    return loc


@atexit.register
def _remove_registry_table_dirs() -> None:
    for loc in _REGISTRY_TABLE_DIRS.values():
        shutil.rmtree(loc, ignore_errors=True)


@query(
    "dml_update_delete",
    oracle="""
    SELECT c_custkey, ROUND(bal, 2) AS bal
    FROM (
        SELECT c_custkey,
               CASE WHEN c_mktsegment = 'BUILDING'
                    THEN c_acctbal + 100.0 ELSE c_acctbal END AS bal
        FROM customer
    )
    WHERE NOT coalesce((bal < 500.0), false)
    """,
    tags=("dml",),
)
def dml_update_delete(spark: SparkSession, sf_dir: str) -> DataFrame:
    """UPDATE + DELETE round-trip on a real catalog table.

    Copies ``customer`` into a managed table, applies
    ``UPDATE ... SET c_acctbal = c_acctbal + 100 WHERE segment =
    'BUILDING'`` then ``DELETE ... WHERE c_acctbal < 500`` through the
    same rewrite-on-write path the wire server uses, and returns the
    surviving (key, balance) rows. The oracle computes the identical
    post-image as a pure SELECT — the DuckDB-side semantic spec of the
    two statements.
    """
    tbl = "dml_demo_customer"
    loc = _fresh_registry_table(spark, tbl, "dml_demo_")
    load_table(spark, sf_dir, "customer").select(
        "c_custkey", "c_mktsegment", "c_acctbal"
    ).write.option("path", loc).mode("overwrite").saveAsTable(tbl)
    update_table(
        spark,
        tbl,
        [("c_acctbal", "c_acctbal + 100.0")],
        "c_mktsegment = 'BUILDING'",
    )
    delete_from(spark, tbl, "c_acctbal < 500.0")
    return spark.table(tbl).select(
        "c_custkey", F.round("c_acctbal", 2).alias("bal")
    )


@query(
    "dml_merge",
    oracle="""
    WITH s AS (SELECT c_custkey * 2 AS k FROM customer),
    kept AS (
        SELECT t.c_custkey,
               CASE WHEN s.k IS NOT NULL
                         AND NOT coalesce((t.c_acctbal < 0.0), false)
                    THEN t.c_acctbal + 10.0 ELSE t.c_acctbal END AS bal
        FROM customer t LEFT JOIN s ON t.c_custkey = s.k
        WHERE NOT (s.k IS NOT NULL AND coalesce((t.c_acctbal < 0.0), false))
    ),
    ins AS (
        SELECT s.k AS c_custkey, 0.0 AS bal
        FROM s
        WHERE NOT EXISTS (SELECT 1 FROM customer t WHERE t.c_custkey = s.k)
          AND s.k % 3 = 0
    )
    SELECT c_custkey, ROUND(bal, 2) AS bal
    FROM (SELECT * FROM kept UNION ALL SELECT * FROM ins)
    """,
    tags=("dml",),
)
def dml_merge(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Three-arm MERGE on a real catalog table through the full
    parse → rewrite-on-write path the wire server uses.

    Source = every even custkey (half match, half don't at any SF):
    matched negative balances are DELETEd, other matches get +10, and
    unmatched source keys divisible by 3 are INSERTed at balance 0.
    The oracle is the pure-SELECT post-image of the same three arms
    (the reference reaches DuckDB's MERGE via delegation,
    ``/root/reference/src/duckdb_pgwire_extension.cpp:52``).
    """
    tbl = "dml_merge_customer"
    loc = _fresh_registry_table(spark, tbl, "dml_merge_")
    load_table(spark, sf_dir, "customer").select("c_custkey", "c_acctbal").write.option(
        "path", loc
    ).mode("overwrite").saveAsTable(tbl)
    spec = parse_merge(
        f"""
        MERGE INTO {tbl} t
        USING (SELECT c_custkey * 2 AS k FROM {tbl}) s
        ON t.c_custkey = s.k
        WHEN MATCHED AND t.c_acctbal < 0.0 THEN DELETE
        WHEN MATCHED THEN UPDATE SET c_acctbal = t.c_acctbal + 10.0
        WHEN NOT MATCHED AND s.k % 3 = 0
             THEN INSERT (c_custkey, c_acctbal) VALUES (s.k, 0.0)
        """
    )
    assert spec is not None
    merge_into(spark, spec)
    return spark.table(tbl).select("c_custkey", F.round("c_acctbal", 2).alias("bal"))


@query(
    "dml_insert_returning",
    oracle="""
    SELECT c_custkey + 100000 AS id, upper(c_name) AS name,
           CAST(NULL AS VARCHAR) AS note
    FROM customer WHERE c_custkey <= 50
    """,
    tags=("dml",),
)
def dml_insert_returning(spark: SparkSession, sf_dir: str) -> DataFrame:
    """INSERT … (column list) … RETURNING through the full wire-path
    machinery: align-and-stage (missing column → typed NULL), append,
    project RETURNING over the staged snapshot. The oracle recomputes
    the rows PG/DuckDB's RETURNING would yield (the reference reaches
    DuckDB's RETURNING via delegation,
    ``/root/reference/src/duckdb_pgwire_extension.cpp:52``)."""
    tbl = "dml_ret_demo"
    loc = _fresh_registry_table(spark, tbl, "dml_ret_demo_")
    spark.sql(
        "SELECT CAST(NULL AS BIGINT) AS id, CAST(NULL AS STRING) AS name, "
        "CAST(NULL AS STRING) AS note WHERE 1 = 0"
    ).write.option("path", loc).mode("overwrite").saveAsTable(tbl)
    load_table(spark, sf_dir, "customer").createOrReplaceTempView("__ret_src_customer")
    staged = stage_insert_rows(
        spark, tbl, ["id", "name"],
        "SELECT c_custkey + 100000, upper(c_name) FROM __ret_src_customer "
        "WHERE c_custkey <= 50",
    )
    insert_rows(spark, staged, tbl)
    return project_returning(spark, staged.drop("__ins_ord"), "id, name, note")


@query(
    "dml_upsert",
    oracle="""
    WITH src AS (SELECT c_custkey * 2 AS k, 50.0 AS delta
                 FROM customer WHERE c_custkey <= 400),
    tgt AS (SELECT c_custkey AS k, c_acctbal AS bal FROM customer),
    kept AS (
        SELECT t.k, t.bal FROM tgt t LEFT JOIN src s ON t.k = s.k
        WHERE NOT (s.k IS NOT NULL AND coalesce((t.bal < 5000.0), false))
    ),
    upd AS (
        SELECT t.k, t.bal + s.delta AS bal
        FROM tgt t JOIN src s ON t.k = s.k
        WHERE coalesce((t.bal < 5000.0), false)
    ),
    ins AS (
        SELECT s.k, s.delta AS bal FROM src s
        WHERE NOT EXISTS (SELECT 1 FROM tgt t WHERE t.k = s.k)
    )
    SELECT k, ROUND(bal, 2) AS bal
    FROM (SELECT * FROM kept UNION ALL SELECT * FROM upd UNION ALL SELECT * FROM ins)
    """,
    tags=("dml",),
)
def dml_upsert(spark: SparkSession, sf_dir: str) -> DataFrame:
    """INSERT … ON CONFLICT (k) DO UPDATE SET … WHERE … on a real
    catalog table, through the same parse → stage → upsert path the
    wire server uses (statement text exercises ``excluded.``, a bare
    target column, and a table-qualified column in the WHERE arm). The
    oracle is the pure-SELECT post-image of PG upsert semantics."""
    tbl = "dml_upsert_customer"
    loc = _fresh_registry_table(spark, tbl, "dml_upsert_")
    load_table(spark, sf_dir, "customer").selectExpr(
        "c_custkey AS k", "c_acctbal AS bal"
    ).write.option("path", loc).mode("overwrite").saveAsTable(tbl)
    spark.table(tbl).createOrReplaceTempView("__upsert_tgt_view")
    spec = parse_insert(
        f"INSERT INTO {tbl} "
        "SELECT k * 2 AS k, 50.0 AS bal FROM __upsert_tgt_view WHERE k <= 400 "
        f"ON CONFLICT (k) DO UPDATE SET bal = bal + excluded.bal "
        f"WHERE {tbl}.bal < 5000.0"
    )
    assert spec is not None and spec.conflict is not None
    staged = stage_insert_rows(spark, tbl, spec.cols, spec.source_sql)
    upsert_into(spark, tbl, staged, spec.conflict)
    return spark.table(tbl).select("k", F.round("bal", 2).alias("bal"))


@query(
    "dml_update_from",
    oracle="""
    WITH src AS (
        SELECT c_custkey AS k, c_acctbal AS delta FROM customer
        WHERE c_mktsegment = 'BUILDING'
    )
    SELECT t.c_custkey,
           ROUND(CASE WHEN s.k IS NOT NULL THEN t.c_acctbal + s.delta
                      ELSE t.c_acctbal END, 2) AS bal
    FROM customer t LEFT JOIN src s ON t.c_custkey = s.k
    """,
    tags=("dml",),
)
def dml_update_from(spark: SparkSession, sf_dir: str) -> DataFrame:
    """PG joined UPDATE (``UPDATE t SET … FROM src WHERE cond``) on a
    real catalog table through the full parse → rid-snapshot → stitch
    path the wire server uses. Source keys are unique (customer PK), so
    the one-match-per-target-row rule is deterministic and the oracle
    is a pure LEFT-JOIN post-image."""
    tbl = "dml_updfrom_customer"
    loc = _fresh_registry_table(spark, tbl, "dml_updfrom_")
    load_table(spark, sf_dir, "customer").select(
        "c_custkey", "c_acctbal"
    ).write.option("path", loc).mode("overwrite").saveAsTable(tbl)
    load_table(spark, sf_dir, "customer").select(
        "c_custkey", "c_mktsegment", "c_acctbal"
    ).createOrReplaceTempView("__updfrom_src_customer")
    parsed = parse_update(
        f"UPDATE {tbl} SET c_acctbal = c_acctbal + s.delta "
        "FROM (SELECT c_custkey AS k, c_acctbal AS delta "
        "FROM __updfrom_src_customer WHERE c_mktsegment = 'BUILDING') s "
        f"WHERE {tbl}.c_custkey = s.k"
    )
    assert parsed is not None and parsed[3] is not None
    table, assignments, pred, from_rel = parsed
    update_from(spark, table, assignments, pred, from_rel)
    return spark.table(tbl).select(
        "c_custkey", F.round("c_acctbal", 2).alias("bal")
    )
