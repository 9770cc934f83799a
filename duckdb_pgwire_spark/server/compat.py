"""PG/DuckDB-dialect → Spark SQL compatibility pre-pass.

The reference forwards SQL text verbatim to DuckDB
(src/duckdb_pgwire_extension.cpp:52), so its dialect IS DuckDB v1.1.1's.
Spark SQL covers almost all of it; this shim rewrites the known deltas
(SURVEY.md §4.2 last row) on the incoming wire SQL:

- ``generate_series(a, b [, s])`` in FROM position → inclusive-end
  ``explode(sequence(...))`` subquery (DuckDB inclusive vs Spark
  ``range`` exclusive; ``sequence`` is inclusive).
- ``SELECT DISTINCT ON (keys) ... ORDER BY ...`` → row_number window
  (no native DISTINCT ON in Spark).
- ``expr::type`` casts → ``CAST(expr AS type)``.
- bare ``varchar``/``bpchar`` column types in DDL → ``STRING`` (Spark
  requires a length argument on VARCHAR).
- ``QUALIFY pred`` (DuckDB window filter; Spark has no QUALIFY —
  verified against Spark 4.1) → wrap in a subquery: window expressions
  referenced inline in the predicate are hoisted into hidden
  ``__qwN`` select columns, the outer query filters on them and
  projects ``* EXCEPT (__qwN...)``.
- DuckDB function spellings → Spark twins where the rename is exact
  (``string_split``→``split``, ``list_*``→``array_*``/HOF names,
  ``epoch_ms``→``unix_millis``, ...); ``strftime``/``strptime`` →
  ``date_format``/``to_timestamp`` with %-directive translation;
  ``* EXCLUDE (...)`` → ``* EXCEPT (...)``.
- ``COPY <table|(query)> TO 'path' (FORMAT fmt)`` → parsed by
  ``parse_copy`` and executed as a DataFrameWriter by the server.

String-level regex rewrites, applied outside of quoted literals —
deliberately minimal: every construct Spark already parses passes
through untouched.
"""

from __future__ import annotations

import re
from decimal import Decimal, ROUND_HALF_EVEN, ROUND_HALF_UP


_DOLLAR_TAG = re.compile(r"\$([A-Za-z_]\w*)?\$")


def _lex(sql: str) -> list[tuple[str, str]]:
    """Lex into (kind, segment) runs, kind ∈ {code, lit, comment}:
    '...' / "..." / $[tag]$...$[tag]$ literals and ``--``-to-EOL /
    ``/* */`` (nested, as in PG) comments are opaque — rewrites and
    statement splitting only ever look at ``code`` runs."""
    out: list[tuple[str, str]] = []
    i, n = 0, len(sql)
    buf: list[str] = []

    def flush() -> None:
        if buf:
            out.append(("code", "".join(buf)))
            buf.clear()

    while i < n:
        c = sql[i]
        if c in ("'", '"'):
            flush()
            q = c
            j = i + 1
            while j < n:
                if sql[j] == q:
                    if j + 1 < n and sql[j + 1] == q:  # doubled quote
                        j += 2
                        continue
                    break
                j += 1
            out.append(("lit", sql[i : j + 1]))
            i = j + 1
        elif c == "-" and sql[i : i + 2] == "--":
            flush()
            j = sql.find("\n", i)
            j = n if j == -1 else j + 1  # keep the newline with the comment
            out.append(("comment", sql[i:j]))
            i = j
        elif c == "/" and sql[i : i + 2] == "/*":
            flush()
            depth = 1
            j = i + 2
            while j < n and depth:
                if sql[j : j + 2] == "/*":
                    depth += 1
                    j += 2
                elif sql[j : j + 2] == "*/":
                    depth -= 1
                    j += 2
                else:
                    j += 1
            out.append(("comment", sql[i:j]))
            i = j
        elif c == "$" and (m := _DOLLAR_TAG.match(sql, i)):
            flush()
            tag = m.group(0)
            j = sql.find(tag, m.end())
            j = n if j == -1 else j + len(tag)
            out.append(("lit", sql[i:j]))
            i = j
        else:
            buf.append(c)
            i += 1
    flush()
    if not out:
        out.append(("code", ""))
    return out


def _split_quoted(sql: str) -> list[tuple[bool, str]]:
    """(is_protected, segment) runs; protected = literal or comment."""
    return [(kind != "code", seg) for kind, seg in _lex(sql)]


# DuckDB function spellings whose Spark twin is a pure rename (same
# argument order and semantics). Applied word-boundary + call-paren only.
_FN_RENAMES = {
    # string_split/str_split/string_to_array are NARY rewrites (the
    # separator is literal text; Spark's split takes a regex)
    "list_contains": "array_contains",
    "list_has": "array_contains",
    "list_sort": "array_sort",
    "list_transform": "transform",
    "list_filter": "filter",
    "list_append": "array_append",
    # list_prepend is a NARY rewrite: DuckDB's argument order is
    # (elem, list), Spark's array_prepend is (array, elem)
    "array_push_back": "array_append",
    "array_push_front": "array_prepend",  # both take (list, elem)
    "list_position": "array_position",
    # len: DuckDB accepts strings AND lists; Spark's length covers
    # strings/binary (the overwhelmingly common usage) and still fails
    # loudly on arrays — strictly better than rejecting everything.
    "len": "length",
    # NOT mapped on purpose (arg/semantic mismatch — better to fail loudly
    # than rewrite wrong): array_cosine_similarity (no Spark builtin;
    # use ext/similarity), epoch_ms (overloaded: BIGINT→TIMESTAMP as well
    # as TIMESTAMP→BIGINT — a blanket rename to unix_millis breaks the
    # integer form). list_aggregate IS handled by the dedicated
    # _rewrite_list_aggregate scanner below; list_reverse_sort by
    # _rewrite_unary_fns (needs Spark's explicit direction argument).
    # DuckDB array_length(list) ≡ Spark size(list); list_min/max/reverse
    # are element-order/semantics-exact renames
    "array_length": "size",
    "list_min": "array_min",
    "list_max": "array_max",
    "list_reverse": "reverse",
    # json_extract_string(j, '$.p') ≡ get_json_object (text result);
    # json_extract (JSON result, keeps quoting) is handled by the
    # dedicated _rewrite_json_extract scanner (variant form)
    "json_extract_string": "get_json_object",
    # DuckDB arg_min/arg_max(val, key) ≡ Spark min_by/max_by (same
    # argument order: value expression first, ordering key second)
    "argmin": "min_by",
    "argmax": "max_by",
    # datetime spellings (DuckDB → Spark twins, same arg order)
    "datetrunc": "date_trunc",
    "week": "weekofyear",
    "to_hex": "hex",
    "gen_random_uuid": "uuid",
    "list_zip": "arrays_zip",
    "list_concat": "concat",
    "array_concat": "concat",
    "list_intersect": "array_intersect",
    "array_to_string": "array_join",
    # same literal-separator caveat as string_split→split (regex arg)
    "string_to_array": "split",
    "starts_with": "startswith",
    "ends_with": "endswith",
    "arbitrary": "any_value",
    "list": "collect_list",
    "to_base64": "base64",
    "from_base64": "unbase64",
    "regexp_matches": "rlike",
    "strpos": "instr",
    "prefix": "startswith",
    "suffix": "endswith",
    # ---- aggregate statistics: DuckDB's kurtosis/skewness are SAMPLE
    # (Excel-style) estimators, Spark's are population — a passthrough
    # is silently wrong. kurtosis_pop ≡ Spark's kurtosis exactly
    # (probed: -0.674…). Order matters: the kurtosis rule must run
    # before kurtosis_pop emits a plain kurtosis( of its own.
    "kurtosis": "__duck_kurtosis",
    "skewness": "__duck_skewness",
    "kurtosis_pop": "kurtosis",
    "skewness_pop": "skewness",
    # ---- round-6 probe batch (semantics-exact renames, DuckDB-probed)
    "strlen": "length",
    "editdist3": "levenshtein",
    "str_split_regex": "split",
    "string_split_regex": "split",
    "regexp_split_to_array": "split",
    "list_value": "array",
    "list_pack": "array",
    "array_value": "array",
    "list_indexof": "array_position",
    "apply": "transform",
    "list_apply": "transform",
    "today": "current_date",
    "get_current_timestamp": "current_timestamp",
    "transaction_timestamp": "current_timestamp",
    "row": "struct",
    "from_hex": "unhex",
    "approx_quantile": "approx_percentile",
    "quantile_cont": "percentile",  # same linear interpolation, list or scalar
    "mean": "avg",
    # list reversal spellings → Spark's reverse (arrays AND strings)
    "array_reverse": "reverse",
    "list_reverse": "reverse",
    # unnest in expression position ≡ explode (FROM-position unnest is
    # handled structurally by _rewrite_table_fns before this runs)
    "unnest": "explode",
}

# strftime % directives → Spark/Java datetime pattern letters.
_STRF = {
    "%Y": "yyyy", "%y": "yy", "%m": "MM", "%d": "dd", "%H": "HH",
    "%I": "hh", "%M": "mm", "%S": "ss", "%f": "SSSSSS", "%g": "SSS",
    "%j": "DDD", "%a": "EEE", "%A": "EEEE", "%b": "MMM", "%B": "MMMM",
    "%p": "a", "%Z": "zzz", "%%": "%",
}


# parse direction: single pattern letters accept 1-2 digits like
# DuckDB's %-directives ('3:04 PM' parses with h:m, not hh:mm — Java's
# doubled letters are strict-width on input, r10 sweep)
_STRF_PARSE = {
    "%H": "H", "%I": "h", "%M": "m", "%S": "s", "%m": "M", "%d": "d",
    "%j": "D",
}


def _translate_strf(fmt: str, parse: bool = False) -> str:
    """%-directives → Java pattern letters. Literal ASCII letters in
    the format ('T', 'Week ') must be JAVA-QUOTED ('...') — strftime
    treats them as text while Java treats every letter as a pattern
    char (r10 sweep: '%G-W%V' broke on the literal W). The returned
    pattern may therefore contain single quotes: callers embedding it
    in a SQL literal must escape them."""
    out = []
    lit: list[str] = []
    i = 0

    def flush_lit() -> None:
        if lit:
            out.append("'" + "".join(lit).replace("'", "''") + "'")
            lit.clear()

    while i < len(fmt):
        if fmt[i] == "%" and i + 1 < len(fmt):
            flush_lit()
            tok = fmt[i : i + 2]
            if parse and tok in _STRF_PARSE:
                out.append(_STRF_PARSE[tok])
            else:
                out.append(_STRF.get(tok, tok))
            i += 2
        elif fmt[i].isalpha() and fmt[i].isascii():
            lit.append(fmt[i])
            i += 1
        elif fmt[i] == "'":
            lit.append(fmt[i])
            i += 1
        else:
            flush_lit()
            out.append(fmt[i])
            i += 1
    flush_lit()
    return "".join(out)


# week/weekday directives Spark 3+'s formatter REMOVED as pattern
# letters — rendered through functions instead (format direction
# only; all zero-padding and week-numbering rules probed vs DuckDB:
# %U/%W are the C start-of-week counts where days before the first
# Sunday/Monday are week 00, %V/%G the ISO week/year, %w Sunday=0,
# %u ISO 1-7)
_STRF_SPECIAL = {
    "%V": "lpad(CAST(weekofyear({x}) AS STRING), 2, '0')",
    "%G": "lpad(CAST(__date_part__('YEAROFWEEK', {x}) AS STRING), 4, '0')",
    "%u": "CAST(__native_weekday__({x}) + 1 AS STRING)",
    "%w": "CAST((__native_weekday__({x}) + 1) % 7 AS STRING)",
    "%U": (
        "lpad(CAST(((dayofyear({x}) - 1) + 7 -"
        " ((__native_weekday__({x}) + 1) % 7)) div 7 AS STRING), 2, '0')"
    ),
    "%W": (
        "lpad(CAST(((dayofyear({x}) - 1) + 7 -"
        " __native_weekday__({x})) div 7 AS STRING), 2, '0')"
    ),
}
_STRF_SPECIAL_RE = re.compile("(" + "|".join(_STRF_SPECIAL) + ")")


def _rewrite_strftime(sql: str) -> str:
    """DuckDB ``strftime(ts, '%Y-%m-%d')`` → ``date_format(ts, 'yyyy-MM-dd')``
    and ``[try_]strptime(s, fmt)`` → ``[try_]to_timestamp(s, fmt)``,
    translating the %-directives. Week/weekday directives render as a
    concat of function segments (Spark has no pattern letters for
    them). Works on whole statements (needs the quoted format
    argument, so it runs BEFORE literal splitting)."""

    def fix(m: re.Match) -> str:
        name = m.group(1).lower()
        fn = {
            "strftime": "date_format",
            "strptime": "to_timestamp",
            "try_strptime": "try_to_timestamp",
        }[name]
        parse = name != "strftime"
        arg, fmt = m.group(2), m.group(3)
        if _STRF_SPECIAL_RE.search(fmt):
            if parse:
                # Java's formatter has no parse fields for these; the
                # unguarded pattern threw an opaque runtime error
                # (review r10) — refuse loudly instead
                raise ValueError(
                    "strptime: week/weekday directives (%V %G %U %W "
                    f"%w %u) are not supported for parsing ({fmt!r})"
                )
            # tokenize %-directives in ONE pass so '%%V' is an escaped
            # percent followed by a literal V, not a week directive
            # (review r10)
            exprs: list[str] = []
            run: list[str] = []

            def flush_run() -> None:
                if run:
                    jp = _translate_strf("".join(run), False)
                    exprs.append(
                        f"date_format({arg}, '" + jp.replace("'", "''") + "')"
                    )
                    run.clear()

            k = 0
            while k < len(fmt):
                if fmt[k] == "%" and k + 1 < len(fmt):
                    tok = fmt[k : k + 2]
                    if tok in _STRF_SPECIAL:
                        flush_run()
                        exprs.append(_STRF_SPECIAL[tok].format(x=arg))
                    else:
                        run.append(tok)
                    k += 2
                else:
                    run.append(fmt[k])
                    k += 1
            flush_run()
            if len(exprs) == 1:
                return exprs[0]
            return "concat(" + ", ".join(exprs) + ")"
        jp = _translate_strf(fmt, parse).replace("'", "''")
        if not parse:
            return f"{fn}({m.group(2)}, '{jp}')"
        # year defaults/pivot (r10 sweep residue, closed r11; both
        # probed): a format with NO year directive defaults the year
        # to 1900 in DuckDB (C strptime) but 1970 in Spark — pin it
        # by prepending a literal year to value and pattern. A
        # two-digit %y year uses the C pivot (69-99 → 19xx) where
        # Java's 'yy' is base-2000 — shift parses landing ≥ 2069
        # back a century. %% is an escaped percent, not a directive.
        has_year_full = has_year_2 = False
        k = 0
        while k < len(fmt):
            if fmt[k] == "%" and k + 1 < len(fmt):
                if fmt[k + 1] == "Y":
                    has_year_full = True
                elif fmt[k + 1] == "y":
                    has_year_2 = True
                k += 2
            else:
                k += 1
        if not has_year_full and not has_year_2:
            return f"{fn}(concat('1900 ', {arg}), 'yyyy {jp}')"
        expr = f"{fn}({arg}, '{jp}')"
        if has_year_2 and not has_year_full:
            return (
                f"(CASE WHEN year({expr}) >= 2069"
                f" THEN {expr} - make_interval(100) ELSE {expr} END)"
            )
        return expr

    return re.sub(
        r"\b(strftime|strptime|try_strptime)\s*\(\s*([^,()]+(?:\([^()]*\))?[^,()]*)\s*,\s*'([^']*)'\s*\)",
        fix,
        sql,
        flags=re.IGNORECASE,
    )


def _rewrite_code(seg: str) -> str:
    # DuckDB → Spark function renames (call position only)
    for old, new in _FN_RENAMES.items():
        seg = re.sub(rf"\b{old}\s*\(", f"{new}(", seg, flags=re.IGNORECASE)
    # SELECT * EXCLUDE (cols) [DuckDB] → * EXCEPT (cols) [Spark]
    seg = re.sub(r"\*\s+EXCLUDE\s*\(", "* EXCEPT (", seg, flags=re.IGNORECASE)
    # agg(x) FILTER (pred) [DuckDB shorthand] → FILTER (WHERE pred).
    # Anchored to a preceding ')' — the aggregate FILTER clause always
    # follows the aggregate call's close paren, while the HOF
    # filter(l, x -> ...) in expression position never does.
    seg = re.sub(
        r"(\)\s*)FILTER\s*\(\s*(?!WHERE\b)", r"\1FILTER (WHERE ", seg,
        flags=re.IGNORECASE,
    )
    # expr::type → CAST(expr AS type) — simple identifier/number/paren-free
    # exprs. Guards (sweep r10): a match whose "operand" is itself the type
    # of a preceding :: (x::DOUBLE::INTEGER) is left alone — Spark parses
    # chained :: natively, and mangling the middle word into CAST(DOUBLE AS
    # INTEGER) broke every chained cast; an operand that is the mantissa of
    # an exponent literal (1e-7::DOUBLE) is left whole; a type followed by
    # '<' (ARRAY<INT> from the T[] suffix pass) keeps its generic args.
    def _colon_cast_sub(m: re.Match) -> str:
        if m.group(1):
            return m.group(0)
        return f"CAST({m.group(2)} AS {m.group(3)})"

    # the extra (?<!\d) keeps multi-digit exponent mantissas whole:
    # in 1e-45::FLOAT the [eE][-+] guard rejects the match at '4', and
    # without the digit guard the engine would retry (and win) at '5',
    # mangling the literal into 1e-4CAST(5 AS FLOAT) (r14)
    seg = re.sub(
        r"(::\s*)?(?<![eE][-+])(?<!\d)(\w+(?:\.\w+)*)\s*::\s*"
        r"(\w+(?:\(\d+(?:,\s*\d+)?\))?)(?!\w)(?!\s*<)",
        _colon_cast_sub,
        seg,
    )
    # bare varchar/bpchar (no length) in DDL → STRING
    seg = re.sub(r"\bvarchar\b(?!\s*\()", "STRING", seg, flags=re.IGNORECASE)
    seg = re.sub(r"\bbpchar\b(?!\s*\()", "STRING", seg, flags=re.IGNORECASE)
    # DuckDB/PG binary types → Spark BINARY
    seg = re.sub(r"\bBLOB\b", "BINARY", seg, flags=re.IGNORECASE)
    seg = re.sub(r"\bBYTEA\b", "BINARY", seg, flags=re.IGNORECASE)
    # DuckDB TABLESAMPLE RESERVOIR(n ROWS/%) → Spark TABLESAMPLE forms
    # (both are approximate samplers; reservoir exactness is not
    # preserved — Spark's row sampler is the nearest physical plan)
    seg = re.sub(
        r"\bTABLESAMPLE\s+(?:RESERVOIR|BERNOULLI|SYSTEM)\s*\(",
        "TABLESAMPLE (",
        seg,
        flags=re.IGNORECASE,
    )
    # DuckDB puts IGNORE/RESPECT NULLS INSIDE the window-function call
    # parens; Spark wants it after the close paren
    seg = re.sub(
        r"\s+(IGNORE|RESPECT)\s+NULLS\s*\)", r") \1 NULLS", seg,
        flags=re.IGNORECASE,
    )
    # PG CTE materialization hints: Spark's optimizer decides itself
    seg = re.sub(
        r"\bAS\s+(?:NOT\s+)?MATERIALIZED\s*\(", "AS (", seg,
        flags=re.IGNORECASE,
    )
    # markers emitted by the nary pass (dodge its rescan loop)
    seg = re.sub(r"\b__typeof__\s*\(", "typeof(", seg, flags=re.IGNORECASE)
    seg = re.sub(
        r"\b__regexp_replace_all__\s*\(", "regexp_replace(", seg,
        flags=re.IGNORECASE,
    )
    seg = re.sub(
        r"\b__element_at__\s*\(", "element_at(", seg, flags=re.IGNORECASE
    )
    seg = re.sub(
        r"\b__date_trunc__\s*\(", "date_trunc(", seg, flags=re.IGNORECASE
    )
    seg = re.sub(
        r"\b__date_part__\s*\(", "date_part(", seg, flags=re.IGNORECASE
    )
    seg = re.sub(r"\b__flatten__\s*\(", "flatten(", seg, flags=re.IGNORECASE)
    seg = re.sub(r"\b__map__\s*\(", "map(", seg, flags=re.IGNORECASE)
    # generic passthrough marker: __native_fn__( → fn( — lets any shim
    # emit a call that its own (or another) scanner must not re-claim
    seg = re.sub(r"\b__native_(\w+?)__\s*\(", r"\1(", seg)
    seg = re.sub(
        r"\b__json_array_length__\s*\(", "json_array_length(", seg,
        flags=re.IGNORECASE,
    )
    seg = re.sub(
        r"\b__split_part__\s*\(", "split_part(", seg, flags=re.IGNORECASE
    )
    # txid_current(): monotone-enough constant (no MVCC underneath)
    seg = re.sub(
        r"\btxid_current\s*\(\s*\)", "CAST(1000 AS BIGINT)", seg,
        flags=re.IGNORECASE,
    )
    # alias(expr): DuckDB's binder answers the expression's OUTPUT name
    # — the outer AS when present, else the identifier itself
    seg = re.sub(
        r"\balias\s*\(\s*([A-Za-z_][\w.]*)\s*\)(\s+AS\s+([A-Za-z_]\w*))?",
        lambda m: (
            f"'{m.group(3)}' AS {m.group(3)}"
            if m.group(3)
            else "'" + m.group(1).split(".")[-1] + "'"
        ),
        seg,
        flags=re.IGNORECASE,
    )
    # PG handshake introspection: clients parse version() expecting a
    # 'PostgreSQL X.Y' prefix (Spark's version() returns its own string);
    # pg_catalog-qualified relations resolve to the server-maintained
    # temp views of the same names (app._refresh_pg_catalog).
    seg = re.sub(
        r"\bversion\s*\(\s*\)",
        "'PostgreSQL 15.0 (duckdb_pgwire_spark, Apache Spark engine)'",
        seg,
        flags=re.IGNORECASE,
    )
    seg = re.sub(r"\bpg_catalog\s*\.\s*", "", seg, flags=re.IGNORECASE)
    # information_schema.<t> → the server-maintained info_schema_<t>
    # temp views (BI tools introspect through these)
    seg = re.sub(
        r"\binformation_schema\s*\.\s*", "info_schema_", seg, flags=re.IGNORECASE
    )
    # PG client-handshake functions with no Spark twin
    import os as _os

    seg = re.sub(
        r"\bpg_backend_pid\s*\(\s*\)", str(_os.getpid() & 0x7FFFFFFF), seg,
        flags=re.IGNORECASE,
    )
    # DuckDB/PG EXPLAIN ANALYZE → Spark's nearest (EXTENDED shows the
    # full plan stack; Spark has no in-band runtime metrics output)
    seg = re.sub(
        r"\bEXPLAIN\s+ANALYZE\b", "EXPLAIN EXTENDED", seg, flags=re.IGNORECASE
    )
    # bare SQL-standard niladic localtimestamp (PG allows no parens)
    seg = re.sub(
        r"\blocaltimestamp\b(?!\s*\()", "localtimestamp()", seg, flags=re.IGNORECASE
    )
    # DuckDB USING SAMPLE → Spark TABLESAMPLE (approximate on both
    # engines; row/percent forms only — reservoir options unmapped)
    seg = re.sub(
        r"\bUSING\s+SAMPLE\s+(\d+(?:\.\d+)?)\s*(?:%|PERCENT\b)",
        r"TABLESAMPLE (\1 PERCENT)",
        seg,
        flags=re.IGNORECASE,
    )
    seg = re.sub(
        r"\bUSING\s+SAMPLE\s+(\d+)\s+ROWS\b",
        r"TABLESAMPLE (\1 ROWS)",
        seg,
        flags=re.IGNORECASE,
    )
    return seg


# DuckDB list_aggregate(list, 'name') → Spark equivalent. sum/avg fold in
# DOUBLE (DuckDB widens integer sums to HUGEINT — value-equal for doubles
# and for any integer sum below 2^53; documented shim delta). Like the
# engine aggregates, NULL elements are SKIPPED and an empty/all-NULL
# list sums to NULL (r10 sweep: list_sum([1,NULL,2])=3, list_sum([])
# IS NULL — the old unfiltered fold returned NULL and 0 respectively).
_LSUM_FORM = (
    "(CASE WHEN size(filter({e}, __x -> __x IS NOT NULL)) = 0"
    " THEN CAST(NULL AS DOUBLE)"
    " ELSE aggregate(filter({e}, __x -> __x IS NOT NULL),"
    " CAST(0 AS DOUBLE), (__a, __x) -> __a + CAST(__x AS DOUBLE)) END)"
)
_LAVG_FORM = (
    "(CASE WHEN size(filter({e}, __x -> __x IS NOT NULL)) = 0"
    " THEN CAST(NULL AS DOUBLE)"
    " ELSE aggregate(filter({e}, __x -> __x IS NOT NULL),"
    " CAST(0 AS DOUBLE), (__a, __x) -> __a + CAST(__x AS DOUBLE))"
    " / size(filter({e}, __x -> __x IS NOT NULL)) END)"
)
# FNN = the NULL-skipping view of the list (duck list aggregates skip
# NULL elements like their row-aggregate twins; all probed r10).
# Forms that use the filtered list MORE THAN ONCE bind it to a lambda
# variable via the singleton-transform trick (element_at(transform(
# array(x), __l -> body), 1)) — inlining FNN into a fold's lambda
# re-evaluates the filter (and for variance the whole MEAN fold) PER
# ELEMENT, turning the form O(n²) (review r10).
_LFNN = "filter({e}, __x -> __x IS NOT NULL)"


def _lbind(body: str, bind: str = "FNN") -> str:
    """Bind `bind` (an expression template) once as __l inside body."""
    return (
        "element_at(transform(array(" + bind + "), __l -> "
        + body
        + "), 1)"
    )


_LMEAN_B = (
    "try_divide(aggregate(__l, CAST(0 AS DOUBLE),"
    " (__a, __b) -> __a + CAST(__b AS DOUBLE)), size(__l))"
)
_LVAR_SAMP = _lbind(
    "element_at(transform(array(" + _LMEAN_B + "), __m ->"
    " CASE WHEN size(__l) < 2 THEN NULL ELSE"
    " aggregate(__l, CAST(0 AS DOUBLE), (__s, __v) ->"
    " __s + pow(CAST(__v AS DOUBLE) - __m, 2))"
    " / (size(__l) - 1) END), 1)"
)
_LVAR_POP = _lbind(
    "element_at(transform(array(" + _LMEAN_B + "), __m ->"
    " CASE WHEN size(__l) = 0 THEN NULL ELSE"
    " aggregate(__l, CAST(0 AS DOUBLE), (__s, __v) ->"
    " __s + pow(CAST(__v AS DOUBLE) - __m, 2))"
    " / size(__l) END), 1)"
)


def _lform(body: str) -> str:
    return body.replace("FNN", _LFNN)


_LIST_AGG_FORMS = {
    "sum": _LSUM_FORM,
    "avg": _LAVG_FORM,
    "mean": _LAVG_FORM,
    "min": "array_min({e})",
    "max": "array_max({e})",
    "count": "size(filter({e}, __x -> __x IS NOT NULL))",
    "string_agg": "array_join(transform({e}, __x -> CAST(__x AS STRING)), {sep})",
    # r10 unary-spelling batch (semantics probed: NULLs skipped,
    # empty/all-NULL → NULL except entropy's 0.0 on empty-but-non-NULL,
    # median interpolates, mode ties to the FIRST OCCURRENCE,
    # histogram keys sorted)
    "median": _lform(
        _lbind(
            "(CASE WHEN size(__l) = 0 THEN NULL ELSE"
            " (CAST(try_element_at(__l,"
            " CAST((size(__l) + 1) div 2 AS INT)) AS DOUBLE)"
            " + CAST(try_element_at(__l,"
            " CAST(size(__l) div 2 + 1 AS INT)) AS DOUBLE)) / 2.0 END)",
            bind="array_sort(FNN)",  # ONE sort, bound once
        )
    ),
    "mode": _lform(
        _lbind(
            "(CASE WHEN size(__l) = 0 THEN NULL ELSE"
            " array_min(transform(array_distinct(__l), __v -> struct("
            " -size(filter(__l, __y -> __y = __v)) AS __negc,"
            " array_position(__l, __v) AS __fi, __v AS __v))).__v END)"
        )
    ),
    "entropy": _lform(
        "(CASE WHEN ({e}) IS NULL THEN CAST(NULL AS DOUBLE) ELSE "
        + _lbind(
            "(CASE WHEN size(__l) = 0 THEN CAST(0 AS DOUBLE) ELSE"
            " aggregate(transform(array_distinct(__l), __v ->"
            " CAST(size(filter(__l, __y -> __y = __v)) AS DOUBLE)"
            " / size(__l)), CAST(0 AS DOUBLE),"
            " (__s, __p) -> __s - __p * log2(__p)) END)"
        )
        + " END)"
    ),
    "product": _lform(
        _lbind(
            "(CASE WHEN size(__l) = 0 THEN NULL ELSE"
            " aggregate(__l, CAST(1 AS DOUBLE),"
            " (__s, __v) -> __s * CAST(__v AS DOUBLE)) END)"
        )
    ),
    "bool_and": _lform(
        "(CASE WHEN size(FNN) = 0 THEN NULL"
        " ELSE forall(FNN, __x -> __x) END)"
    ),
    "bool_or": _lform(
        "(CASE WHEN size(FNN) = 0 THEN NULL"
        " ELSE exists(FNN, __x -> __x) END)"
    ),
    "first": "try_element_at({e}, 1)",
    "last": "try_element_at({e}, -1)",
    "any_value": _lform("try_element_at(FNN, 1)"),
    "var_samp": _lform(_LVAR_SAMP),
    "var": _lform(_LVAR_SAMP),
    "variance": _lform(_LVAR_SAMP),
    "var_pop": _lform(_LVAR_POP),
    "stddev": _lform(f"sqrt({_LVAR_SAMP})"),
    "stddev_samp": _lform(f"sqrt({_LVAR_SAMP})"),
    "stddev_pop": _lform(f"sqrt({_LVAR_POP})"),
    "histogram": _lform(
        _lbind(
            "(CASE WHEN size(__l) = 0 THEN NULL ELSE"
            " map_from_entries(transform(array_sort(array_distinct(__l)),"
            " __v -> struct(__v, size(filter(__l, __y -> __y = __v)))))"
            " END)"
        )
    ),
    # moment statistics with DuckDB's sample corrections ride an
    # Arrow UDF (functions/compat_udfs.py) — the two-pass central
    # moments would repeat the list expression ~8 times as SQL text
    "skewness": "duck_list_skewness({e})",
    "kurtosis": "duck_list_kurtosis({e})",
}

_LIST_AGG_CALL = re.compile(
    r"(?<![\w.])(list_aggregate|array_aggregate|list_aggr|aggr)\s*\(",
    re.IGNORECASE,
)


def _rewrite_list_aggregate(sql: str) -> str:
    """Rewrite ``list_aggregate(expr, 'fn')`` for the common aggregate
    names (balanced-paren scan — the list expr may nest calls). Unknown
    names pass through untouched and fail loudly in Spark, per the
    file's fail-loudly policy."""
    pos = 0
    while True:
        m = _LIST_AGG_CALL.search(sql, pos)
        if m is None:
            return sql
        depth = 1
        i = m.end()
        args: list[str] = []
        last = i
        while i < len(sql) and depth:
            c = sql[i]
            if c in "([":
                depth += 1
            elif c in ")]":
                depth -= 1
                if depth == 0:
                    args.append(sql[last:i])
                    break
            elif c == "'":  # skip literal
                j = sql.find("'", i + 1)
                i = len(sql) if j == -1 else j
            elif c == "," and depth == 1:
                args.append(sql[last:i])
                last = i + 1
            i += 1
        if depth != 0:
            return sql  # unbalanced: leave for Spark to report
        fn = args[1].strip().strip("'").lower() if len(args) >= 2 else None
        form = _LIST_AGG_FORMS.get(fn) if fn else None
        # only string_agg takes a 3rd argument (its separator)
        if form is None or (len(args) == 3 and fn != "string_agg") or len(args) > 3:
            pos = m.end()  # unknown/malformed: skip, keep scanning
            continue
        e = args[0].strip()
        sep = args[2].strip() if len(args) == 3 else "','"
        sql = sql[: m.start()] + form.format(e=e, sep=sep) + sql[i + 1 :]
        pos = m.start()  # re-scan from here: e may itself contain calls


# PG session GUCs clients read on connect (also answered by SHOW in the
# server; current_setting('x') inlines the same values as literals).
PG_GUCS = {
    "transaction isolation level": ("transaction_isolation", "read committed"),
    "transaction_isolation": ("transaction_isolation", "read committed"),
    "server_version": ("server_version", "15.0 (duckdb_pgwire_spark)"),
    "server_encoding": ("server_encoding", "UTF8"),
    "client_encoding": ("client_encoding", "UTF8"),
    "standard_conforming_strings": ("standard_conforming_strings", "on"),
    "timezone": ("TimeZone", "UTC"),
    "datestyle": ("DateStyle", "ISO, MDY"),
    "search_path": ("search_path", "default"),
    "max_identifier_length": ("max_identifier_length", "63"),
}


def _rewrite_pg_client_fns(sql: str) -> str:
    """PG client-handshake spellings (run BEFORE literal splitting —
    current_setting/CAST-INTERVAL need the quoted argument):
    current_setting('x') → its value, CAST('lit' AS INTERVAL) →
    INTERVAL 'lit' (Spark parses the literal form, not the cast)."""

    def setting(m: re.Match) -> str:
        guc = PG_GUCS.get(m.group(1).strip().lower())
        val = guc[1] if guc else ""
        return "'" + val.replace("'", "''") + "'"

    sql = re.sub(
        r"\bcurrent_setting\s*\(\s*'([^']*)'\s*\)", setting, sql, flags=re.IGNORECASE
    )
    def iv(m: re.Match) -> str:
        spec = m.group(1)
        if re.fullmatch(r"\s*-?\d+:\d+:\d+(?:\.\d+)?\s*", spec):
            # DuckDB 'H:MM:SS' shorthand needs Spark's unit qualifier
            return f"INTERVAL '{spec}' HOUR TO SECOND"
        return f"INTERVAL '{spec}'"

    sql = re.sub(
        r"\bCAST\s*\(\s*'([^']*)'\s*AS\s+INTERVAL\s*\)",
        iv,
        sql,
        flags=re.IGNORECASE,
    )
    # the :: spelling of the same cast (r10 sweep)
    sql = re.sub(r"'([^']*)'\s*::\s*INTERVAL\b", iv, sql, flags=re.IGNORECASE)
    # DuckDB accepts '/'-separated date literals ('2024/01/02'::DATE)
    sql = re.sub(
        r"'(\d{4})/(\d{1,2})/(\d{1,2})'(\s*::\s*(?:DATE|TIMESTAMP)\b"
        r"|\s+AS\s+(?:DATE|TIMESTAMP)\s*\))",
        r"'\1-\2-\3'\4",
        sql,
        flags=re.IGNORECASE,
    )
    # comment-lookup helpers: no comments catalog → NULL (args commonly
    # contain string literals, hence the pre-split placement)
    sql = re.sub(
        r"\b(?:obj|col|shobj)_description\s*\([^()]*\)",
        "CAST(NULL AS STRING)",
        sql,
        flags=re.IGNORECASE,
    )
    # PG regexp_split_to_table(s, re) → explode(split(s, re)) — both
    # treat the pattern as a regex (pre-split: the pattern is a literal)
    sql = re.sub(
        r"\bregexp_split_to_table\s*\(([^()]*)\)",
        r"explode(split(\1))",
        sql,
        flags=re.IGNORECASE,
    )
    return sql


_ARRAY_CTOR = re.compile(r"\bARRAY\s*\[", re.IGNORECASE)


def _rewrite_array_constructor(sql: str) -> str:
    """PG ``ARRAY[a, b, ...]`` → Spark ``array(a, b, ...)``. Lex-aware
    bracket matching (elements may be string literals containing ']');
    innermost-first so nesting works."""
    while True:
        mask = []
        for kind, seg in _lex(sql):
            mask.extend([kind == "code"] * len(seg))
        m = None
        for cand in _ARRAY_CTOR.finditer(sql):
            if all(mask[cand.start() : cand.end()]):
                m = cand  # take the LAST (innermost-ish) match each pass
        if m is None:
            return sql
        depth, j = 1, m.end()
        while j < len(sql) and depth:
            if mask[j]:
                if sql[j] == "[":
                    depth += 1
                elif sql[j] == "]":
                    depth -= 1
            j += 1
        if depth:
            return sql  # unbalanced: leave for Spark to report
        inner = sql[m.end() : j - 1]
        sql = sql[: m.start()] + "array(" + inner + ")" + sql[j:]


def _code_mask(sql: str) -> list[bool]:
    mask: list[bool] = []
    for kind, seg in _lex(sql):
        mask.extend([kind == "code"] * len(seg))
    return mask


def _split_code_level(s: str, mask_off: int, mask: list[bool], sep: str) -> list[int]:
    """Positions of `sep` at paren/bracket depth 0 in code regions of s
    (mask indexed with mask_off + i)."""
    depth = 0
    out = []
    for i, c in enumerate(s):
        if not mask[mask_off + i]:
            continue
        if c in "([":
            depth += 1
        elif c in ")]":
            depth -= 1
        elif depth == 0 and c == sep:
            out.append(i)
    return out


# ------------------------------------------------- PG literal + operator syntax


def _pg_escape_literals(sql: str) -> str:
    """PG/DuckDB string literals are standard-conforming — a backslash is
    a plain character — while Spark's parser processes backslash escapes
    inside ``'...'``. Double every backslash in non-E-prefixed
    single-quoted literals so the value Spark sees equals the value the
    client sent (``'\\d'`` regex patterns, values ending in ``\\``).
    ``E'...'`` literals pass through: PG escape-string semantics match
    Spark's own escape handling for the common ``\\n \\t \\\\ \\'`` set."""
    parts = _lex(sql)
    out: list[str] = []
    for idx, (kind, seg) in enumerate(parts):
        if kind == "lit" and seg.startswith("'") and "\\" in seg:
            prev = parts[idx - 1][1] if idx and parts[idx - 1][0] == "code" else ""
            if re.search(r"(?<![\w.])[Ee]$", prev):
                out.append(seg)
            else:
                out.append(seg.replace("\\", "\\\\"))
        else:
            out.append(seg)
    return "".join(out)


def _strip_numeric_underscores(sql: str) -> str:
    """DuckDB numeric literals allow ``1_000_000`` separators."""
    if "_" not in sql:
        return sql
    mask = _code_mask(sql)
    chars = list(sql)
    for m in re.finditer(r"(?<![\w.])\d[\d_]*\d", sql):
        if not all(mask[m.start() : m.end()]):
            continue
        # reject identifier-ish tails (e.g. 1_a is a parse error anyway)
        if m.end() < len(sql) and (sql[m.end()].isalpha() or sql[m.end()] == "_"):
            continue
        for i in range(m.start(), m.end()):
            if chars[i] == "_":
                chars[i] = ""
    return "".join(chars)


def _abs_segments(sql: str) -> list[tuple[str, int, int]]:
    segs: list[tuple[str, int, int]] = []
    pos = 0
    for kind, seg in _lex(sql):
        segs.append((kind, pos, pos + len(seg)))
        pos += len(seg)
    return segs


def _seg_at(segs: list[tuple[str, int, int]], i: int) -> tuple[str, int, int]:
    for kind, a, b in segs:
        if a <= i < b:
            return kind, a, b
    return "code", i, i


_TYPED_LITERAL_KEYWORDS = {"INTERVAL", "DATE", "TIMESTAMP", "TIME"}


def _walk_brackets_back(sql: str, segs, i: int, close: str, open_: str) -> int:
    """Index of the ``open_`` matching the ``close`` at ``i-1``, skipping
    literal/comment segments (a ``)`` inside a string must not count).
    Returns -1 when unbalanced."""
    si = len(segs) - 1
    while si >= 0 and segs[si][1] > i - 1:
        si -= 1
    depth = 0
    j = i
    while si >= 0:
        kind, a, b = segs[si]
        if kind == "code":
            for k in range(min(b, j) - 1, a - 1, -1):
                ch = sql[k]
                if ch == close:
                    depth += 1
                elif ch == open_:
                    depth -= 1
                    if depth == 0:
                        return k
        si -= 1
        j = a
    return -1


def _walk_brackets_fwd(sql: str, segs, i: int) -> int:
    """End index (exclusive) just past the ``)`` matching the ``(`` at or
    after ``i``, skipping literal/comment segments. Returns -1 when
    unbalanced."""
    si = 0
    n = len(segs)
    while si < n and segs[si][2] <= i:
        si += 1
    depth = 0
    j = i
    while si < n:
        kind, a, b = segs[si]
        if kind == "code":
            for k in range(max(a, j), b):
                ch = sql[k]
                if ch == "(":
                    depth += 1
                elif ch == ")":
                    depth -= 1
                    if depth == 0:
                        return k + 1
        si += 1
        j = b
    return -1


def _strip_left_casts(sql: str, segs, i: int) -> int:
    """Mirror of ``_extend_postfix_cast`` for the LEFT operand scan:
    given an end position ``i`` (exclusive), consume any trailing
    ``::type`` suffix chain backwards — generic ``<…>`` (only when it
    touches an ARRAY/MAP/STRUCT word), ``[]``, ``(args)``, the dotted
    type word, then ``::`` — and return the position where the BASE
    operand ends. Returns ``i`` unchanged when no cast suffix ends
    there. (review r12: ``[1,NULL]::INT[] < [1,2]`` silently escaped
    the composite passes because only the right scan knew ``::``.)"""
    while True:
        j = i
        while j > 0 and sql[j - 1].isspace():
            j -= 1
        # optional type-argument / array / generic suffixes
        for _hop in range(8):
            if j > 0 and sql[j - 1] == ">" and _seg_at(segs, j - 1)[0] == "code":
                dpt, w = 0, j - 1
                while w >= 0:
                    if _seg_at(segs, w)[0] == "code":
                        if sql[w] == ">":
                            dpt += 1
                        elif sql[w] == "<":
                            dpt -= 1
                            if dpt == 0:
                                break
                    w -= 1
                if w < 0 or dpt:
                    return i
                m = re.search(r"[\w.]+$", sql[:w])
                if m is None or m.group(0).upper() not in (
                    "ARRAY", "MAP", "STRUCT"
                ):
                    return i
                j = w
                continue
            if j >= 2 and sql[j - 2 : j] == "[]":
                j -= 2
                continue
            if j > 0 and sql[j - 1] == ")" and _seg_at(segs, j - 1)[0] == "code":
                w = _walk_brackets_back(sql, segs, j, ")", "(")
                if w < 0:
                    return i
                j = w
                continue
            break
        m = re.search(r"[\w.]+$", sql[:j])
        if m is None:
            return i
        j = m.start()
        while j > 0 and sql[j - 1].isspace():
            j -= 1
        if j < 2 or sql[j - 2 : j] != "::" or _seg_at(segs, j - 1)[0] != "code":
            return i
        i = j - 2  # consume this cast; loop for chained ::casts


def _scan_left_operand(sql: str, segs, end: int) -> int:
    """Start index of the tightest value expression ending at ``end``
    (exclusive): literal (incl. typed literals ``DATE '…'``) / paren
    group (with optional call head) / ``CASE…END`` block / qualified
    identifier or number — any of them followed by ``::type`` postfix
    casts. Returns ``end`` when nothing operand-like precedes (caller
    decides skip-vs-refuse)."""
    i = end
    while i > 0 and sql[i - 1].isspace():
        i -= 1
    if i == 0:
        return end
    base = _strip_left_casts(sql, segs, i)
    if base < i:
        j = _scan_left_operand(sql, segs, base)
        return j if j < base else end
    kind, a, _b = _seg_at(segs, i - 1)
    if kind == "lit":
        # typed literal: the keyword is part of the operand — without
        # it, INTERVAL '1 day' ^ 2 would garble to INTERVAL POWER(...)
        m = re.search(r"[A-Za-z_]\w*\s*$", sql[:a])
        if m and m.group(0).strip().upper() in _TYPED_LITERAL_KEYWORDS:
            return m.start()
        return a
    c = sql[i - 1]
    if c == ")" or c == "]":
        close, open_ = (")", "(") if c == ")" else ("]", "[")
        j = _walk_brackets_back(sql, segs, i, close, open_)
        if j < 0:
            return end
        m = re.search(r"[A-Za-z_][\w.]*\s*$", sql[:j])
        head = m.group(0).strip().upper() if m else ""
        if m and (
            head not in _BRACKET_KEYWORDS
            # IF/COALESCE are REAL calls when followed by '(' — the
            # keyword listing serves the '['-subscript walks; leaving
            # them here orphaned the head and fed '(a, b)' to the
            # composite passes as a bare tuple (r13, the ROW lesson)
            or (c == ")" and head in ("IF", "COALESCE"))
        ):
            return m.start()
        return j
    m = re.search(r"[\w.$]+$", sql[:i])
    if m and m.group(0).upper() == "END":
        # CASE … END block: scan back to the matching CASE (nesting-
        # aware, literal-masked)
        depth = 0
        for w in reversed(
            list(re.finditer(r"\b(CASE|END)\b", sql[:i], re.IGNORECASE))
        ):
            if _seg_at(segs, w.start())[0] != "code":
                continue
            if w.group(0).upper() == "END":
                depth += 1
            else:
                depth -= 1
                if depth == 0:
                    return w.start()
        return end
    if m and m.group(0).upper() in _BRACKET_KEYWORDS:
        return end
    return m.start() if m else end


def _extend_postfix_cast(sql: str, segs, e: int) -> int:
    """Extend an operand end index over any ``::type`` postfix casts
    (``::`` binds tighter than every binary operator): dotted type
    name, optional ``(args)``, repeated duck array suffix ``[]`` —
    themselves repeatable (``x::INT::VARCHAR``). Without this the
    right-operand scan stopped at ``NULL`` in ``a = NULL::INT[]`` and
    rewrites spliced mid-cast (r12 find, hit by the ordering pass)."""
    n = len(sql)
    while True:
        k = e
        while k < n and sql[k].isspace():
            k += 1
        if not sql.startswith("::", k) or _seg_at(segs, k)[0] != "code":
            return e
        k += 2
        while k < n and sql[k].isspace():
            k += 1
        m = re.match(r"[\w.]+", sql[k:])
        if not m:
            return e
        generic = m.group(0).upper() in ("ARRAY", "MAP", "STRUCT")
        k += m.end()
        while True:
            j = k
            while j < n and sql[j].isspace():
                j += 1
            if j < n and sql[j] == "(":
                w = _walk_brackets_fwd(sql, segs, j)
                if w <= 0:
                    break
                k = w
                continue
            if sql.startswith("[]", j):
                k = j + 2
                continue
            if generic and j == k and j < n and sql[j] == "<":
                # Spark-style generic suffix (ARRAY<INT>, emitted by the
                # earlier duck-[]-type translation): only ARRAY/MAP/
                # STRUCT, and only when the '<' touches the word — a
                # spaced '<' after a scalar cast is a comparison
                dpt, w = 0, j
                while w < n:
                    if _seg_at(segs, w)[0] == "code":
                        if sql[w] == "<":
                            dpt += 1
                        elif sql[w] == ">":
                            dpt -= 1
                            if dpt == 0:
                                break
                    w += 1
                if w >= n or dpt:
                    break
                k = w + 1
                continue
            break
        e = k


def _scan_right_operand(sql: str, segs, start: int) -> int:
    """End index (exclusive) of the tightest value expression starting
    at/after ``start``: optional sign, then literal / paren group /
    call / qualified identifier or number (with optional trailing
    ``(...)`` for calls and ``::type`` casts)."""
    n = len(sql)
    i = start
    while i < n and sql[i].isspace():
        i += 1
    if i < n and sql[i] in "+-":
        i += 1
        while i < n and sql[i].isspace():
            i += 1
    if i >= n:
        return start
    kind, _a, b = _seg_at(segs, i)
    if kind == "lit":
        return _extend_postfix_cast(sql, segs, b)
    if sql[i] == "(":
        j = _walk_brackets_fwd(sql, segs, i)
        return _extend_postfix_cast(sql, segs, j) if j > 0 else start
    m = re.match(r"[\w.$]+", sql[i:])
    if not m:
        return start
    word = m.group(0).upper()
    if word == "CASE":
        # CASE … END block: scan forward to the matching END
        depth = 0
        for w in re.finditer(r"\b(CASE|END)\b", sql[i:], re.IGNORECASE):
            if _seg_at(segs, i + w.start())[0] != "code":
                continue
            if w.group(0).upper() == "CASE":
                depth += 1
            else:
                depth -= 1
                if depth == 0:
                    return _extend_postfix_cast(sql, segs, i + w.end())
        return start
    j = i + m.end()
    if word in _TYPED_LITERAL_KEYWORDS:
        # typed literal: extend over the following string literal
        k = j
        while k < n and sql[k].isspace():
            k += 1
        kind, _a, b = _seg_at(segs, k)
        if k < n and kind == "lit":
            return _extend_postfix_cast(sql, segs, b)
        return start if word == "INTERVAL" else j
    k = j
    while k < n and sql[k].isspace():
        k += 1
    if k < n and sql[k] == "(":  # call form
        e = _walk_brackets_fwd(sql, segs, k)
        if e > 0:
            return _extend_postfix_cast(sql, segs, e)
    return _extend_postfix_cast(sql, segs, j)


def _glob_to_regex(pat: str) -> str:
    out = ["^"]
    for ch in pat:
        if ch == "*":
            out.append(".*")
        elif ch == "?":
            out.append(".")
        elif ch in r"\.^$+{}()|":
            out.append("\\" + ch)
        else:
            out.append(ch)
    out.append("$")
    return "".join(out)


_DATE_LIT_DIFF = re.compile(
    r"(DATE\s*'[^']+')\s*-\s*(DATE\s*'[^']+')", re.IGNORECASE
)


# interval-producing constructors whose year-month results keep a
# Spark DATE un-promoted (they become make_interval); sub-day to_*
# forms emit make_dt_interval, which already promotes
_IVL_YM_FNS = (
    r"(?:to_years|to_months|to_quarters|to_decades|to_centuries|"
    r"to_millennia)"
)
_DATE_PLUS_IVL_RE = re.compile(
    rf"\b(DATE\s*'[^']*')(?=\s*[+-]\s*(?:INTERVAL\b|{_IVL_YM_FNS}\s*\())",
    re.IGNORECASE,
)
# reversed operand order: to_months(2) + DATE '…' (one nested paren
# level for to_months(abs(-2)) forms)
_IVL_PLUS_DATE_RE = re.compile(
    rf"\b{_IVL_YM_FNS}\s*\((?:[^()]|\([^()]*\))*\)\s*\+\s*(DATE\s*'[^']*')",
    re.IGNORECASE,
)


_BLOB_CAST_RE = re.compile(
    r"'((?:[^']|'')*)'\s*::\s*(?:BLOB|BYTEA|VARBINARY|BINARY)\b"
    r"|\bCAST\s*\(\s*'((?:[^']|'')*)'\s+AS\s+"
    r"(?:BLOB|BYTEA|VARBINARY|BINARY)\s*\)",
    re.IGNORECASE,
)
_HEXPAIR = frozenset("0123456789abcdefABCDEF")


_HAS_BIT_RE = re.compile(
    r"::\s*BIT\b|\bAS\s+BIT\s*\)|\bbitstring\s*\(", re.IGNORECASE
)
_BIT_FN_RE = re.compile(
    r"(?<![\w.])(get_bit|set_bit|bit_count|octet_length|bit_length"
    r"|bitstring)\s*\(",
    re.IGNORECASE,
)
_BIT_LIT_RE = re.compile(
    r"'([^']*)'\s*::\s*BIT\b|\bCAST\s*\(\s*'([^']*)'\s+AS\s+BIT\s*\)",
    re.IGNORECASE,
)
# binary bitwise operators (|| concat and the ~~/!~ regex families
# must not match); prefix ~ is scanned separately
_BIT_BINOP_RE = re.compile(r"<<|>>|&|(?<![|])\|(?![|])")
_BIT_XOR_RE = re.compile(r"(?<![\w.])xor\s*\(", re.IGNORECASE)
_BIT_NOT_RE = re.compile(r"(?<![~!\w])~(?![~*])")
_BIT_OPERAND_HEAD_RE = re.compile(
    r"\(*\s*(bitstring|set_bit|__duck_bit_binop|__duck_bit_shift"
    r"|__duck_bit_not)\s*\(",
    re.IGNORECASE,
)


def _bit_operand(expr: str) -> bool:
    """True when the scanned operand is BIT-typed by OUTERMOST shape:
    a ``::BIT`` / ``CAST(… AS BIT)`` cast tail, or a bitstring /
    set_bit / __duck_bit_* call head (possibly paren-wrapped). A BIT
    cast buried INSIDE another call (``length('01'::BIT) & 3``) is an
    INT operand and must not match."""
    e = expr.strip()
    while e.startswith("(") and e.endswith(")"):
        # strip only BALANCED outer parens — `(a) & (b)` operands are
        # scanned tight so a naive strip can only hit true wrappers,
        # but guard anyway
        d = 0
        for i2, c2 in enumerate(e):
            if c2 == "(":
                d += 1
            elif c2 == ")":
                d -= 1
                if d == 0 and i2 < len(e) - 1:
                    d = -1
                    break
        if d != 0:
            break
        e = e[1:-1].strip()
    if re.search(r"::\s*BIT\s*$", e, re.IGNORECASE) is not None:
        return True
    if re.fullmatch(
        r"\(*\s*CAST\s*\(.*\bAS\s+BIT\s*\)\s*\)*", e,
        re.IGNORECASE | re.DOTALL,
    ):
        return True
    return _BIT_OPERAND_HEAD_RE.match(e) is not None


def _rewrite_bit_strings(sql: str) -> str:
    """DuckDB BIT strings (r13 sweep): Spark has no BIT type, but BIT
    only enters expressions through literal ``'0101'::BIT`` casts (no
    BIT storage exists in our surface), so a 0/1-character STRING
    emulates it exactly — lexicographic compare, ``||`` concat,
    ``length``/``::VARCHAR`` all coincide (probed). This pass rewrites
    the BIT function heads whose argument involves a BIT form
    (outermost-first, so nested calls keep their gate text), then
    drops validated literal casts:

    - ``get_bit(b, i)``  → guarded 0-based-from-left substring (duck
      ERRORS out of range — raise_error keeps it loud)
    - ``set_bit(b, i, v)`` → guarded splice
    - ``bit_count(b)``   → count of '1' chars (declared width only)
    - ``bit_length(b)``  → length(b);  ``octet_length(b)`` → ceil(/8)
    - ``bitstring(s, n)`` → guarded lpad('0') (duck errors when n <
      length)
    - ``'0101'::BIT``    → the validated literal ('012'::BIT refuses
      like duck's Conversion Error)

    Bitwise ``& | ~ xor << >>`` over BIT operands (r13 continuation)
    route to the ``__duck_bit_*`` Arrow kernels — duck's equal-width
    errors, zero-fill shifts, and NULL passthrough verbatim — detected
    by the operand's OUTERMOST shape while the ``::BIT`` casts are
    still visible (this pass runs before _rewrite_operators turns
    ``xor()`` into ``^``)."""
    if _HAS_BIT_RE.search(sql) is None:
        return sql

    def has_bit(frag: str) -> bool:
        return (
            _HAS_BIT_RE.search(frag) is not None
            or _BIT_FN_RE.search(frag) is not None
        )

    # ---- phase 0: bitwise operators over BIT operands ----
    guard = 0
    while guard < 100:
        guard += 1
        mask = _code_mask(sql)
        segs = _abs_segments(sql)
        edit: tuple[int, int, str] | None = None
        for m in _BIT_BINOP_RE.finditer(sql):
            if not all(mask[m.start() : m.end()]):
                continue
            op = m.group(0)
            ls = _scan_left_operand(sql, segs, m.start())
            if ls >= m.start():
                # the operand walk treats a bare NULL keyword as a
                # non-operand — but NULL::BIT is a valid BIT operand
                # (duck: NULL passthrough, review r13)
                nm = re.search(
                    r"(NULL\s*::\s*BIT)\s*$", sql[: m.start()],
                    re.IGNORECASE,
                )
                if nm is not None and all(
                    mask[nm.start(1) : m.start()]
                ):
                    ls = nm.start(1)
            rend = _scan_right_operand(sql, segs, m.end())
            if ls >= m.start() or rend <= m.end():
                continue
            lo = sql[ls : m.start()].strip()
            ro = sql[m.end() : rend].strip()
            if op in ("<<", ">>"):
                if not _bit_operand(lo):
                    continue
                d = "'L'" if op == "<<" else "'R'"
                repl = f"__duck_bit_shift({lo}, {ro}, {d})"
            else:
                if not (_bit_operand(lo) or _bit_operand(ro)):
                    continue
                o = "'AND'" if op == "&" else "'OR'"
                repl = f"__duck_bit_binop({lo}, {ro}, {o})"
            edit = (ls, rend, repl)
            break
        if edit is None:
            for m in _BIT_NOT_RE.finditer(sql):
                if not mask[m.start()]:
                    continue
                # prefix-only: a value expression directly before the
                # ~ means PG's binary regex-match operator — skip
                if _scan_left_operand(sql, segs, m.start()) < m.start():
                    continue
                rend = _scan_right_operand(sql, segs, m.end())
                if rend <= m.end():
                    continue
                ro = sql[m.end() : rend].strip()
                if not _bit_operand(ro):
                    continue
                edit = (m.start(), rend, f"__duck_bit_not({ro})")
                break
        if edit is None:
            for m in _BIT_XOR_RE.finditer(sql):
                if not all(mask[m.start() : m.end()]):
                    continue
                close = _match_paren(sql, mask, m.end() - 1)
                if close is None:
                    continue
                args = split_top_level(sql[m.end() : close])
                if len(args) != 2:
                    continue
                a0, a1 = args[0].strip(), args[1].strip()
                if not (_bit_operand(a0) or _bit_operand(a1)):
                    continue
                edit = (
                    m.start(),
                    close + 1,
                    f"__duck_bit_binop({a0}, {a1}, 'XOR')",
                )
                break
        if edit is None:
            break
        s0, e0, repl = edit
        sql = sql[:s0] + repl + sql[e0:]
    # NULL::BIT is a typed NULL, not a literal cast — AFTER the
    # operator scan (which recognizes the spelled form), substitute
    # the typed NULL string so duck's NULL passthrough survives.
    # MASKED: a ' NULL::BIT ' inside a string literal or comment must
    # stay text (review r13: the unmasked sub corrupted literal data)
    guard = 0
    while guard < 100:
        guard += 1
        mask = _code_mask(sql)
        hit2 = None
        for nm in re.finditer(
            r"(?<![\w'])NULL\s*::\s*BIT\b", sql, re.IGNORECASE
        ):
            if all(mask[nm.start() : nm.end()]):
                hit2 = nm
                break
        if hit2 is None:
            break
        sql = (
            sql[: hit2.start()]
            + "CAST(NULL AS STRING)"
            + sql[hit2.end() :]
        )
    guard = 0
    skipped: set[int] = set()
    while guard < 200:
        guard += 1
        mask = _code_mask(sql)
        m = next(
            (
                c
                for c in _BIT_FN_RE.finditer(sql)
                if all(mask[c.start() : c.end()])
                and c.start() not in skipped
            ),
            None,
        )
        if m is None:
            break
        close = _match_paren(sql, mask, m.end() - 1)
        if close is None:
            break
        args = split_top_level(sql[m.end() : close])
        fn = m.group(1).lower()
        inner = sql[m.end() : close]
        if not has_bit(inner) and fn != "bitstring":
            skipped.add(m.start())
            continue
        repl: str | None = None
        if fn == "get_bit" and len(args) == 2:
            b, i = args[0].strip(), args[1].strip()
            repl = (
                f"(CASE WHEN ({i}) >= 0 AND ({i}) < length({b})"
                f" THEN CAST(substring({b}, ({i}) + 1, 1) AS INT)"
                f" ELSE CAST(raise_error(concat('bit index ',"
                f" CAST(({i}) AS STRING), ' out of valid range'))"
                f" AS INT) END)"
            )
        elif fn == "set_bit" and len(args) == 3:
            b, i, v = (a.strip() for a in args)
            repl = (
                f"(CASE WHEN ({v}) NOT IN (0, 1)"
                # duck's message verbatim (review r13: splicing an
                # unvalidated value produced silently corrupt strings)
                f" THEN raise_error('The new bit must be 1 or 0')"
                f" WHEN ({i}) >= 0 AND ({i}) < length({b})"
                f" THEN concat(substring({b}, 1, ({i})),"
                f" CAST(({v}) AS STRING), substring({b}, ({i}) + 2))"
                f" ELSE raise_error(concat('bit index ',"
                f" CAST(({i}) AS STRING), ' out of valid range')) END)"
            )
        elif fn == "bit_count" and len(args) == 1:
            b = args[0].strip()
            repl = (
                f"(length({b}) - length(replace({b}, '1', '')))"
            )
        elif fn == "bit_length" and len(args) == 1:
            repl = f"length({args[0].strip()})"
        elif fn == "octet_length" and len(args) == 1:
            repl = (
                f"CAST(ceil(length({args[0].strip()}) / 8.0) AS BIGINT)"
            )
        elif fn == "bitstring" and len(args) == 2:
            s, n = args[0].strip(), args[1].strip()
            repl = (
                f"(CASE WHEN ({n}) >= length(CAST({s} AS STRING))"
                f" THEN lpad(CAST({s} AS STRING), ({n}), '0')"
                f" ELSE raise_error('Cannot truncate bit string') END)"
            )
        if repl is None:
            skipped.add(m.start())
            continue
        sql = sql[: m.start()] + repl + sql[close + 1 :]
        skipped = {s for s in skipped if s < m.start()}
    # remaining literal BIT casts → the validated 0/1 string itself;
    # non-literal ::BIT stays for Spark's loud UNSUPPORTED_DATATYPE
    guard = 0
    while guard < 100:
        guard += 1
        mask = _code_mask(sql)
        hit = None
        for m in _BIT_LIT_RE.finditer(sql):
            # the cast tail (::BIT / AS BIT)) must be CODE — a match
            # whose quoted body is really inside a larger literal has
            # a literal-classified tail
            if not mask[m.end() - 1]:
                continue
            hit = m
            break
        if hit is None:
            return sql
        body = hit.group(1) if hit.group(1) is not None else hit.group(2)
        if body == "" or not re.fullmatch(r"[01]+", body):
            raise ValueError(
                "Invalid character encountered in string -> bit"
                f" conversion: '{body}'"
            )
        sql = sql[: hit.start()] + f"'{body}'" + sql[hit.end() :]
    return sql


def _rewrite_blob_literals(sql: str) -> str:
    r"""DuckDB blob literals spell raw bytes with \xHH escapes
    ('\x41B'::BLOB is the two bytes 0x41 0x42, probed); Spark's
    CAST(str AS BINARY) takes the characters literally. Decode the
    escape form to unhex('...') — runs before literal processing so
    the backslashes are still DuckDB-raw. Literals without \x keep
    the plain utf-8 cast (already byte-identical)."""
    if "\\x" not in sql and "\\X" not in sql:
        return sql

    def conv(m: re.Match) -> str:
        body = m.group(1) if m.group(1) is not None else m.group(2)
        if "\\x" not in body and "\\X" not in body:
            return m.group(0)
        raw = body.replace("''", "'")
        out = bytearray()
        i = 0
        while i < len(raw):
            if (
                raw[i] == "\\"
                and i + 3 < len(raw)
                and raw[i + 1] in "xX"
                and raw[i + 2] in _HEXPAIR
                and raw[i + 3] in _HEXPAIR
            ):
                out.append(int(raw[i + 2 : i + 4], 16))
                i += 4
            else:
                out.extend(raw[i].encode("utf-8"))
                i += 1
        return f"unhex('{out.hex().upper()}')"

    return _BLOB_CAST_RE.sub(conv, sql)


_CONCAT_CALL_RE = re.compile(r"\bconcat\s*\(", re.IGNORECASE)
_EXP_OPERAND_RE = re.compile(
    r"(?<![\w.])[+-]?(?:\d+\.?\d*|\.\d+)[eE][+-]?\d+"
)
# operators binding TIGHTER than || (PG precedence): a literal touching
# one is a sub-expression operand, not the || operand itself
_TIGHTER_THAN_CONCAT = set("+-*/%^&@~!.:[")


def _exp_lit_text(lit: str) -> str | None:
    """DuckDB text render of a bare eE DOUBLE literal — shortest
    round-trip, which Python's repr also produces ('1e-07',
    '1000000000000000.0', '1.5')."""
    try:
        return repr(float(lit))
    except ValueError:
        return None


_PIPE_UNIT_WORDS = frozenset({
    "day", "days", "hour", "hours", "minute", "minutes", "second",
    "seconds", "millisecond", "milliseconds", "microsecond",
    "microseconds", "week", "weeks", "month", "months", "year",
    "years", "to",
})
_PIPE_BOUND_KW = frozenset({
    "from", "where", "group", "having", "order", "limit", "offset",
    "union", "intersect", "except", "as", "and", "or", "not", "in",
    "is", "like", "ilike", "similar", "between", "when", "then",
    "else", "end", "case", "join", "on", "using", "asc", "desc",
    "nulls", "over", "filter", "qualify", "window", "returning",
    "collate", "escape", "for", "cross", "inner", "left", "right",
    "full", "semi", "anti", "natural", "set", "values", "select",
    "by", "distinct", "all", "exclude", "replace",
})
_PRIMARY_END_CHARS = ")]'`\""


def _pipe_operand_span(
    sql: str, mask: list[bool], i: int
) -> tuple[int, int]:
    """(end, ops) of the right-hand ``||`` operand starting at ``i``
    under DUCK precedence — arithmetic, ``::`` casts and subscripts
    bind tighter than ``||`` there, so the operand extends over them
    up to the next depth-0 ``||``, comparison, comma, closing paren,
    clause keyword, or implicit alias. ``ops`` counts the top-level
    operator tokens that make the span an EXPRESSION rather than a
    single primary (r15)."""
    n = len(sql)
    depth = 0
    ops = 0
    j = i
    while j < n:
        c = sql[j]
        if not mask[j]:
            j += 1
            continue
        if c == "(":
            depth += 1
            j += 1
            continue
        if c == "[":
            if depth == 0:
                k = j - 1
                while k > i and sql[k - 1 : k].isspace():
                    k -= 1
                if k > i and sql[k - 1] in _PRIMARY_END_CHARS + "_." or (
                    k > i and sql[k - 1].isalnum()
                ):
                    ops += 1  # subscript of a primary
            depth += 1
            j += 1
            continue
        if c in ")]":
            if depth == 0:
                return j, ops
            depth -= 1
            j += 1
            continue
        if depth:
            j += 1
            continue
        if c in ",;":
            return j, ops
        if c == "|":
            return j, ops  # next || (or a PG custom op — stop either way)
        if c in "&^=<>!":
            return j, ops
        if c == ":" and sql[j + 1 : j + 2] == ":":
            ops += 1  # cast binds tighter than || in duck
            j += 2
            continue
        if c == "-" and sql[j + 1 : j + 2] == ">":
            j += 3 if sql[j + 2 : j + 3] == ">" else 2
            continue
        if c in "+-":
            if (
                j > 0
                and sql[j - 1] in "eE"
                and j + 1 < n
                and sql[j + 1].isdigit()
                and re.search(
                    r"(?<![\w.])(?:\d+\.?\d*|\.\d+)[eE]$", sql[:j]
                )
            ):
                j += 1  # exponent sign inside a numeric literal
                continue
            ops += 1
            j += 1
            continue
        if c in "*/%":
            ops += 1
            j += 1
            continue
        if c.isdigit() or (c == "." and sql[j + 1 : j + 2].isdigit()):
            nm = re.match(
                r"(?:\d+\.?\d*|\.\d+)(?:[eE][+-]?\d+)?", sql[j:]
            )
            j += nm.end()
            continue
        if c.isalpha() or c == "_":
            wm = re.match(r"[A-Za-z_]\w*", sql[j:])
            w = wm.group(0).lower()
            if w in _PIPE_BOUND_KW:
                return j, ops
            if w not in _PIPE_UNIT_WORDS:
                k = j - 1
                while k >= i and sql[k].isspace():
                    k -= 1
                if k >= i and (
                    sql[k].isalnum() or sql[k] in _PRIMARY_END_CHARS
                ):
                    return j, ops  # implicit alias after a primary
            j += wm.end()
            continue
        if c in "`\"":
            k = j - 1
            while k >= i and sql[k].isspace():
                k -= 1
            if k >= i and (
                sql[k].isalnum() or sql[k] in _PRIMARY_END_CHARS
            ):
                return j, ops  # quoted implicit alias
            j += 1
            continue
        j += 1
    return n, ops


def _pipe_left_operand_span(
    sql: str, mask: list[bool], i: int
) -> tuple[int, int]:
    """(start, ops) of the LEFT ``||`` operand ending at ``i``
    (exclusive), scanning backwards under the same duck precedence —
    symmetric to _pipe_operand_span, without the alias case (r15)."""
    depth = 0
    ops = 0
    j = i - 1
    while j >= 0:
        c = sql[j]
        if not mask[j]:
            j -= 1
            continue
        if c in ")]":
            depth += 1
            j -= 1
            continue
        if c in "([":
            if depth == 0:
                return j + 1, ops
            depth -= 1
            j -= 1
            continue
        if depth:
            j -= 1
            continue
        if c in ",;":
            return j + 1, ops
        if c == "|":
            return j + 1, ops
        if c in "&^=<>!":
            return j + 1, ops
        if c == ":" and j > 0 and sql[j - 1] == ":":
            ops += 1
            j -= 2
            continue
        if c in "+-":
            if (
                j > 0
                and sql[j - 1] in "eE"
                and j + 1 < len(sql)
                and sql[j + 1].isdigit()
                and re.search(
                    r"(?<![\w.])(?:\d+\.?\d*|\.\d+)[eE]$", sql[:j]
                )
            ):
                j -= 1
                continue
            # binary only when something precedes it; a leading unary
            # sign stays part of the span without counting
            k = j - 1
            while k >= 0 and sql[k].isspace():
                k -= 1
            if k >= 0 and (
                sql[k].isalnum() or sql[k] in _PRIMARY_END_CHARS
            ):
                ops += 1
                j -= 1
                continue
            return j, ops  # unary sign starts the operand
        if c in "*/%":
            ops += 1
            j -= 1
            continue
        if c.isalnum() or c == "_":
            ws = j
            while ws > 0 and (sql[ws - 1].isalnum() or sql[ws - 1] == "_"):
                ws -= 1
            w = sql[ws : j + 1].lower()
            if not w[0].isdigit() and w in _PIPE_BOUND_KW:
                return j + 1, ops
            j = ws - 1
            continue
        j -= 1
    return 0, ops


_NUMERIC_EXPR_RE = re.compile(r"^[\d\s.eE+\-*/()]+$")


def _fold_double_lit_expr(expr: str) -> str | None:
    """duck's DOUBLE text for a literal-only numeric arithmetic
    expression, or None. Folds only when duck's result type is DOUBLE
    (an eE literal, or '/' — duck's '/' is always double); int and
    decimal arithmetic renders identically on Spark natively. IEEE
    double + - * / match Python's float exactly (r15)."""
    expr = expr.strip()
    if (
        not _NUMERIC_EXPR_RE.fullmatch(expr)
        or "**" in expr
        or "//" in expr
    ):
        return None
    if not (_EXP_LIT_RE.search(expr) or "/" in expr):
        return None
    import ast

    def ev(n) -> float:
        if isinstance(n, ast.Expression):
            return ev(n.body)
        if isinstance(n, ast.Constant) and isinstance(
            n.value, (int, float)
        ):
            return float(n.value)
        if isinstance(n, ast.BinOp) and isinstance(
            n.op, (ast.Add, ast.Sub, ast.Mult, ast.Div)
        ):
            lv, rv = ev(n.left), ev(n.right)
            if isinstance(n.op, ast.Add):
                return lv + rv
            if isinstance(n.op, ast.Sub):
                return lv - rv
            if isinstance(n.op, ast.Mult):
                return lv * rv
            return lv / rv  # ZeroDivisionError → no fold: the
            # div-zero pass owns duck's NULL-on-zero semantics
        if isinstance(n, ast.UnaryOp) and isinstance(
            n.op, (ast.USub, ast.UAdd)
        ):
            v = ev(n.operand)
            return -v if isinstance(n.op, ast.USub) else v
        raise ValueError("unsupported node")

    try:
        v = ev(ast.parse(expr, mode="eval"))
    except (SyntaxError, ValueError, ZeroDivisionError):
        return None
    return repr(v)


_FRAC_IVL_LIT_RE = re.compile(
    r"(?i)\bINTERVAL\s+'((?:[^']|'')*\.(?:[^']|'')*)'"
    r"(?:\s*([a-zA-Z]+)\b)?"
)


def _rewrite_fractional_interval_lits(sql: str) -> str:
    """duck INTERVAL literals with FRACTIONAL quantities are refused
    outright by Spark's parser (INVALID_TYPED_LITERAL: '1.5 days') —
    re-express the literal's exact duck value in a Spark-parseable
    canonical (DAY TO SECOND for day-time, YEAR TO MONTH for
    year-month), so arithmetic/comparison positions work (r15; render
    positions fold to duck TEXT earlier in the chain). Fraction spill
    producing MIXED ym+dt ('1.5 months' = 1 month 15 days) stays
    native — Spark has no mixed interval value."""
    if "." not in sql or re.search(r"(?i)\bINTERVAL\s*'", sql) is None:
        return sql
    mask = _code_mask(sql)
    out: list[str] = []
    pos = 0
    for m in _FRAC_IVL_LIT_RE.finditer(sql):
        if m.start() < pos or not mask[m.start()]:
            continue
        unit = m.group(2)
        end = m.end()
        if unit is not None and unit.lower() not in _IVL_UNIT_FACTORS:
            # the trailing word is an alias/keyword, not a unit
            unit = None
            end = m.end(1) + 1
        text = sql[m.start() : end]
        triple = _duck_interval_lit_triple(text)
        if triple is None:
            continue
        months, days, micros = triple
        if months and (days or micros):
            continue  # mixed ym+dt: unrepresentable in Spark
        if months:
            sgn = "-" if months < 0 else ""
            y, mo = divmod(abs(months), 12)
            repl = f"INTERVAL '{sgn}{y}-{mo}' YEAR TO MONTH"
        else:
            total = days * 86_400_000_000 + micros
            sgn = "-" if total < 0 else ""
            a = abs(total)
            d, rem = divmod(a, 86_400_000_000)
            h, rem = divmod(rem, 3_600_000_000)
            mi, rem = divmod(rem, 60_000_000)
            s, us = divmod(rem, 1_000_000)
            repl = (
                f"INTERVAL '{sgn}{d} {h:02d}:{mi:02d}:{s:02d}"
                f".{us:06d}' DAY TO SECOND"
            )
        out.append(sql[pos : m.start()])
        out.append(repl)
        pos = end
    if not out:
        return sql
    out.append(sql[pos:])
    return "".join(out)


def _rewrite_pipe_precedence(sql: str) -> str:
    """duck/PG bind arithmetic, ``::`` casts and subscripts TIGHTER
    than ``||``; Spark parses ``||`` in the SAME tier as ``+``/``-``
    (left-assoc), so ``'x' || 2 + 1`` is ``'x' || 3`` in duck but
    ``('x' || 2) + 1`` — a cast error — in Spark (probed r15).
    Parenthesize every ``||`` operand span that is an unparenthesized
    EXPRESSION, so Spark parses duck's tree AND the operand becomes a
    paren group the schema-typed render legs already handle (VERDICT
    r14 item 2 + the parse-divergence class found while closing it).
    Bare eE literals are left for the shortest-text fold."""
    if "||" not in sql:
        return sql
    guard = 0
    while guard < 100:
        guard += 1
        mask = _code_mask(sql)
        hit = None
        for m in re.finditer(r"\|\|", sql):
            if not all(mask[m.start() : m.start() + 2]):
                continue
            if sql[m.start() - 1 : m.start()] == "|" or (
                sql[m.end() : m.end() + 1] == "|"
            ):
                continue  # |||: not a concat we understand
            i = m.end()
            end, ops = _pipe_operand_span(sql, mask, i)
            span = sql[i:end].strip()
            ls, lops = _pipe_left_operand_span(sql, mask, m.start())
            lspan = sql[ls : m.start()].strip()
            # INTERVAL operand adjacent to a string literal: duck
            # stringifies with its interval text ('25:00:00'); Spark's
            # implicit cast gives "INTERVAL '25' HOUR" (r15). Literal-
            # only arithmetic folds with duck's component semantics.
            if re.match(
                r"(?i)^[-+( ]*INTERVAL\b", span
            ) and re.search(r"'(?:[^']|'')*'\s*$", sql[: m.start()]):
                folded = _fold_interval_expr(span)
                repl = (
                    "'" + folded.replace("'", "''") + "'"
                    if folded is not None
                    else (_vc_kernel_repl(span) if ops == 0 else None)
                )
                if repl is not None:
                    hit = (i, end, f" {repl} ")
                    break
            if re.match(
                r"(?i)^[-+( ]*INTERVAL\b", lspan
            ) and re.match(r"\s*'", sql[m.end() :]):
                folded = _fold_interval_expr(lspan)
                repl = (
                    "'" + folded.replace("'", "''") + "'"
                    if folded is not None
                    else (_vc_kernel_repl(lspan) if lops == 0 else None)
                )
                if repl is not None:
                    hit = (ls, m.start(), f" {repl} ")
                    break
            # literal-only DOUBLE arithmetic operand adjacent to a
            # string literal folds to duck's shortest-round-trip text
            # at rewrite time ('x' || 1e19 * 2 → 'x2e+19'; Java would
            # print 2.0E19). Only shapes duck computes as DOUBLE fold
            # (an eE literal or a '/' present) — int/decimal
            # arithmetic matches Spark natively (r15).
            if ops and re.search(r"'(?:[^']|'')*'\s*$", sql[: m.start()]):
                t = _fold_double_lit_expr(span)
                if t is not None:
                    hit = (i, end, f" '{t}' ")
                    break
            if lops and re.match(r"\s*'", sql[m.end() :]):
                t = _fold_double_lit_expr(lspan)
                if t is not None:
                    hit = (ls, m.start(), f" '{t}' ")
                    break
            if ops and span and not _EXP_OPERAND_RE.fullmatch(span):
                hit = (i, end, f" ({span}) ")
                break
            if lops and lspan and not _EXP_OPERAND_RE.fullmatch(lspan):
                hit = (ls, m.start(), f" ({lspan}) ")
                break
        if hit is None:
            return sql
        s, e, repl = hit
        sql = sql[:s] + repl + sql[e:]
    return sql


def _rewrite_concat_double_lits(sql: str) -> str:
    """Bare eE numeric literals are DOUBLE in DuckDB, and concat / ||
    stringify them shortest-round-trip ('x' || 1e-7 = 'x1e-07');
    Spark's implicit cast renders Java style ('x1.0E-7'). Replace a
    literal that is an ENTIRE concat()/|| operand with its DuckDB
    text. Typed sub-expressions ((x + 1e0) || 'y') are left alone —
    the literal is not the operand there (r10 sweep)."""
    if "||" not in sql and _CONCAT_CALL_RE.search(sql) is None:
        return sql
    # concat(...) top-level args that are exactly an eE literal
    guard = 0
    while guard < 50:
        guard += 1
        mask = _code_mask(sql)
        hit = None
        for m in _CONCAT_CALL_RE.finditer(sql):
            if not all(mask[m.start() : m.end()]):
                continue
            depth, i = 1, m.end()
            while i < len(sql) and depth:
                if mask[i]:
                    if sql[i] == "(":
                        depth += 1
                    elif sql[i] == ")":
                        depth -= 1
                i += 1
            if depth:
                break
            args = [a.strip() for a in split_top_level(sql[m.end() : i - 1])]
            new_args = []
            changed = False
            for a in args:
                t = (
                    _exp_lit_text(a)
                    if _EXP_OPERAND_RE.fullmatch(a)
                    else None
                )
                if t is not None:
                    new_args.append(f"'{t}'")
                    changed = True
                else:
                    new_args.append(a)
            if changed:
                hit = (m.end(), i - 1, ", ".join(new_args))
                break
        if hit is None:
            break
        s, e, repl = hit
        sql = sql[:s] + repl + sql[e:]
    # || operands that are exactly an eE literal
    if "||" in sql:
        mask = _code_mask(sql)
        out, pos = [], 0
        for m in _EXP_OPERAND_RE.finditer(sql):
            if m.start() < pos or not all(mask[m.start() : m.end()]):
                continue
            before = sql[: m.start()].rstrip()
            after = sql[m.end() :].lstrip()
            if sql[m.start()] in "+-":
                # the sign is only the literal's when nothing binds it
                # (before excludes the sign — the match starts on it);
                # ']' (subscript) and '`' (quoted identifier) end
                # operands too (code review r10)
                if before and (
                    before[-1].isalnum() or before[-1] in "._)]`'\""
                ):
                    continue  # binary +/-: typed sub-expression
            clean_before = not before or before.endswith("||") or (
                before[-1] not in _TIGHTER_THAN_CONCAT
            )
            clean_after = not after or after.startswith("||") or (
                after[0] not in _TIGHTER_THAN_CONCAT
            )
            is_left = after.startswith("||") and clean_before
            is_right = before.endswith("||") and clean_after
            if not (is_left or is_right):
                continue
            t = _exp_lit_text(m.group(0))
            if t is None:
                continue
            out.append(sql[pos : m.start()])
            out.append(f"'{t}'")
            pos = m.end()
        out.append(sql[pos:])
        sql = "".join(out)
    return sql


def _rewrite_date_plus_interval(sql: str) -> str:
    """DuckDB promotes DATE ± INTERVAL to TIMESTAMP for EVERY interval
    unit (probed: + INTERVAL 1 DAY renders '2024-03-06 00:00:00');
    Spark keeps DATE for year-month intervals. Cast the literal side —
    date COLUMNS are handled by the schema-aware pass, which knows
    column types."""
    if (
        _DATE_PLUS_IVL_RE.search(sql) is None
        and _IVL_PLUS_DATE_RE.search(sql) is None
    ):
        return sql
    mask = _code_mask(sql)
    out = []
    pos = 0
    for m in _DATE_PLUS_IVL_RE.finditer(sql):
        if not mask[m.start()]:
            continue
        out.append(sql[pos : m.start()])
        out.append(f"CAST({m.group(1)} AS TIMESTAMP)")
        pos = m.end()
    out.append(sql[pos:])
    sql = "".join(out)
    # to_months(2) + DATE '…': cast the DATE operand on the right
    mask = _code_mask(sql)
    out, pos = [], 0
    for m in _IVL_PLUS_DATE_RE.finditer(sql):
        if not mask[m.start()]:
            continue
        out.append(sql[pos : m.start(1)])
        out.append(f"CAST({m.group(1)} AS TIMESTAMP)")
        pos = m.end(1)
    out.append(sql[pos:])
    return "".join(out)


_TIME_IVL_GATE_RE = re.compile(
    r"(?i)(?:\bTIME\s*'|::\s*TIME\b|AS\s+TIME\s*\))"
)
_TIMEISH_TAIL_RE = re.compile(
    r"(?i)(?:\bTIME\s*'[^']*'|::\s*TIME|AS\s+TIME\s*\))\s*\)*\s*$"
)
_IVL_UNIT = (
    r"(?:YEAR|QUARTER|MONTH|WEEK|DAY|HOUR|MINUTE|SECOND|MILLISECOND"
    r"|MICROSECOND|CENTURY|CENTURIES|DECADE|MILLENNIUM|MILLENNIA)S?"
)
_IVL_RIGHT_RE = re.compile(
    r"(INTERVAL\s+(?:'[^']*'(?:\s+" + _IVL_UNIT + r"(?:\s+TO\s+"
    + _IVL_UNIT + r")?)?"
    r"|\d+(?:\.\d+)?\s+" + _IVL_UNIT + r"))"
    r"|(to_(?:years|quarters|months|weeks|days|hours|minutes|seconds"
    r"|milliseconds|microseconds|centuries|decades|millennia)"
    r"|make_interval|make_dt_interval)\s*\(",
    re.IGNORECASE,
)


_IVL_COLON_RE = re.compile(
    r"(?i)(INTERVAL\s+)'(-?)(\d+):(\d{1,2}):(\d{1,2}(?:\.\d+)?)'"
    r"(?!\s*" + _IVL_UNIT + r")"
)  # h:m:s required — duck REFUSES the 2-field '1:30' form (probed)


def _rewrite_interval_colon_literal(sql: str) -> str:
    """DuckDB's bare colon interval shorthand — ``INTERVAL '2:45:00'``
    is 2h45m (probed r14) — needs Spark's qualified day-time literal
    spelling. Unqualified only: a trailing unit word means the literal
    already parses (or another pass owns it)."""
    if _IVL_COLON_RE.search(sql) is None:
        return sql
    mask = _code_mask(sql)
    out, pos = [], 0
    for m in _IVL_COLON_RE.finditer(sql):
        if not mask[m.start()]:
            continue
        kw, sgn, h, mi, se = m.groups()
        out.append(sql[pos : m.start()])
        out.append(
            f"{kw}'{sgn}{h}:{mi}:{se or '00'}' HOUR TO SECOND"
        )
        pos = m.end()
    out.append(sql[pos:])
    return "".join(out)


def _time_wrap_pass(sql: str, left_ok) -> str:
    """One wrap loop of the TIME ± INTERVAL mod-24h rewrite: find a
    ``[+-]`` whose LEFT operand satisfies ``left_ok`` and whose right
    side is an interval form, wrap the whole span in the anchored
    TIMESTAMP round-trip. Shared by the literal pass and the
    schema-aware TIME-column leg (rewrite_time_interval_cols)."""
    guard = 0
    while guard < 50:
        guard += 1
        mask = _code_mask(sql)
        segs = _abs_segments(sql)
        hit = None
        for m in re.finditer(r"[+-]", sql):
            if not mask[m.start()]:
                continue
            ls = _scan_left_operand(sql, segs, m.start())
            if ls >= m.start():
                continue
            left = sql[ls : m.start()].strip()
            if not left_ok(left):
                continue
            im = _IVL_RIGHT_RE.match(sql, _skip_ws(sql, m.end()))
            if im is None:
                continue
            if im.group(2) is not None:  # call form: balanced close
                close = _match_paren(sql, mask, im.end() - 1)
                if close is None:
                    continue
                rend = close + 1
            else:
                rend = im.end()
            iv = sql[im.start() : rend]
            repl = (
                f"CAST(date_format(CAST(CONCAT("
                f"'2000-06-15 ', CAST({left} AS STRING)) AS TIMESTAMP)"
                f" {sql[m.start()]} {iv}, 'HH:mm:ss.SSSSSS') AS TIME)"
            )
            hit = (ls, rend, repl)
            break
        if hit is None:
            break
        s, e, repl = hit
        sql = sql[:s] + repl + sql[e:]
    return sql


def rewrite_time_interval_cols(sql: str, time_cols: set) -> str:
    """Schema-aware half of the TIME ± INTERVAL wrap: a known TIME
    COLUMN followed by ± INTERVAL gets the same anchored mod-24h
    round-trip (literal operands are handled inside rewrite()). The
    commuted ``interval + time_col`` form stays unhandled (documented;
    TIME columns only exist via user DDL in this surface)."""
    if not time_cols:
        return sql

    def left_ok(left: str) -> bool:
        if _TIMEISH_TAIL_RE.search(left) is not None:
            return True  # chained wrap output
        m = re.fullmatch(r"(?:[A-Za-z_]\w*\.)*([A-Za-z_]\w*)", left)
        return m is not None and m.group(1).lower() in time_cols

    return _time_wrap_pass(sql, left_ok)


def _rewrite_time_plus_interval(sql: str) -> str:
    """DuckDB TIME ± INTERVAL wraps modulo 24h using only the
    interval's time-of-day component (probed r14: 23:30 + 1h → 00:30,
    12:00 − 36h → 00:00, + INTERVAL '1 day 2 hours' adds 2h, ± MONTH
    is a no-op); Spark raises DATETIME_OVERFLOW past midnight. Anchor
    the TIME on a fixed date, do TIMESTAMP arithmetic, format back:
    under mod-24h the engine's ignore-days/months and Spark's
    24h-exact days coincide, so the full interval can be added as-is.
    Closes the one documented deliberate skip with silent client
    impact (NOTES; VERDICT r13 item 8)."""
    if _TIME_IVL_GATE_RE.search(sql) is None:
        return sql
    sql = _time_wrap_pass(
        sql, lambda left: _TIMEISH_TAIL_RE.search(left) is not None
    )
    # interval + TIME (duck allows the commuted +)
    guard = 0
    while guard < 50:
        guard += 1
        mask = _code_mask(sql)
        hit = None
        for im in _IVL_RIGHT_RE.finditer(sql):
            if not mask[im.start()]:
                continue
            if im.group(2) is not None:
                close = _match_paren(sql, mask, im.end() - 1)
                if close is None:
                    continue
                iend = close + 1
            else:
                iend = im.end()
            pm = re.match(r"\s*\+\s*", sql[iend:])
            if pm is None:
                continue
            tstart = iend + pm.end()
            tm2 = re.match(r"(?i)TIME\s*'[^']*'", sql[tstart:])
            if tm2 is None:
                continue
            iv = sql[im.start() : iend]
            t = sql[tstart : tstart + tm2.end()]
            repl = (
                f"CAST(date_format(CAST(CONCAT("
                f"'2000-06-15 ', CAST({t} AS STRING)) AS TIMESTAMP)"
                f" + {iv}, 'HH:mm:ss.SSSSSS') AS TIME)"
            )
            hit = (im.start(), tstart + tm2.end(), repl)
            break
        if hit is None:
            break
        s, e, repl = hit
        sql = sql[:s] + repl + sql[e:]
    return sql


def _skip_ws(sql: str, i: int) -> int:
    while i < len(sql) and sql[i].isspace():
        i += 1
    return i


def rewrite_date_interval_cols(sql: str, date_cols: set) -> str:
    """Schema-aware half of the DATE ± INTERVAL promotion: a known
    date COLUMN followed by ± INTERVAL (or the already-rewritten
    make_interval/make_dt_interval forms — this runs post-rewrite)
    casts to TIMESTAMP like DuckDB."""
    if not date_cols:
        return sql
    pat = re.compile(
        r"(?<![\w.'])((?:[A-Za-z_]\w*\.)?("
        + "|".join(re.escape(c) for c in sorted(date_cols))
        + r"))(?=\s*[+-]\s*(?:INTERVAL\b|make_interval\s*\(|"
        r"make_dt_interval\s*\())",
        re.IGNORECASE,
    )
    mask = _code_mask(sql)
    out = []
    pos = 0
    for m in pat.finditer(sql):
        if not all(mask[m.start() : m.end()]):
            continue
        out.append(sql[pos : m.start()])
        out.append(f"CAST({m.group(1)} AS TIMESTAMP)")
        pos = m.end()
    out.append(sql[pos:])
    return "".join(out)


# DuckDB collation names → Spark 4 collation names (all probed:
# NOCASE is case-insensitive binary-accent, NOACCENT accent-insensitive
# case-SENSITIVE, the dotted combination is both). Unknown names pass
# through to Spark's loud COLLATION_INVALID_NAME. Caveat (probed):
# DuckDB IGNORES collations on LIKE patterns while Spark honors them —
# LIKE + COLLATE stays a documented divergence.
_COLLATE_MAP = {
    "nocase.noaccent": "UNICODE_CI_AI",
    "noaccent.nocase": "UNICODE_CI_AI",
    "nocase": "UTF8_LCASE",
    "noaccent": "UNICODE_AI",
}
_COLLATE_RE = re.compile(
    r"\bCOLLATE\s+([A-Za-z_]+(?:\.[A-Za-z_]+)?)", re.IGNORECASE
)


def _rewrite_collate_names(sql: str) -> str:
    if re.search(r"\bCOLLATE\b", sql, re.IGNORECASE) is None:
        return sql
    mask = _code_mask(sql)
    out = []
    pos = 0
    for m in _COLLATE_RE.finditer(sql):
        if not all(mask[m.start() : m.end()]):
            continue
        mapped = _COLLATE_MAP.get(m.group(1).lower())
        if mapped is None:
            continue
        out.append(sql[pos : m.start()])
        out.append(f"COLLATE {mapped}")
        pos = m.end()
    out.append(sql[pos:])
    return "".join(out)


def _rewrite_date_literal_diff(sql: str) -> str:
    """``DATE 'a' - DATE 'b'`` → day count (DuckDB: BIGINT days; Spark:
    an INTERVAL). Literal form only — column-typed differences need the
    schema and stay loud."""
    guard = 0
    while guard < 20:
        guard += 1
        mask = _code_mask(sql)
        m = next(
            (c for c in _DATE_LIT_DIFF.finditer(sql) if mask[c.start()]),
            None,
        )
        if m is None:
            return sql
        sql = (
            sql[: m.start()]
            + f"datediff({m.group(1)}, {m.group(2)})"
            + sql[m.end() :]
        )
    return sql


_INTERVAL_EPOCH_SECS = {
    "microsecond": 1e-6, "microseconds": 1e-6, "us": 1e-6,
    "millisecond": 1e-3, "milliseconds": 1e-3, "ms": 1e-3,
    "second": 1.0, "seconds": 1.0, "s": 1.0,
    "minute": 60.0, "minutes": 60.0, "min": 60.0,
    "hour": 3600.0, "hours": 3600.0, "h": 3600.0,
    "day": 86400.0, "days": 86400.0, "d": 86400.0,
    "week": 604800.0, "weeks": 604800.0,
    # DuckDB's calendar-free conversions (probed): month = 30 days,
    # year = 365.25 days
    "month": 2592000.0, "months": 2592000.0,
    "year": 31557600.0, "years": 31557600.0,
    "decade": 315576000.0, "decades": 315576000.0,
    "century": 3155760000.0, "centuries": 3155760000.0,
    "millennium": 31557600000.0, "millennia": 31557600000.0,
}

_INTERVAL_EPOCH_RE = re.compile(
    r"(?:EXTRACT\s*\(\s*epoch\s+FROM\s+|epoch\s*\(\s*)"
    r"INTERVAL\s+(?:'(\d+)'\s+(\w+)|'([^']+)'|(\d+)\s+(\w+))\s*\)",
    re.IGNORECASE,
)


def _interval_literal_seconds(spec: str) -> float | None:
    total = 0.0
    parts = re.findall(r"(-?\d+(?:\.\d+)?)\s*([A-Za-z]+)", spec)
    if not parts:
        return None
    for n, unit in parts:
        secs = _INTERVAL_EPOCH_SECS.get(unit.lower())
        if secs is None:
            return None
        total += float(n) * secs
    return total


_AT_TIME_ZONE_RE = re.compile(r"\bAT\s+TIME\s+ZONE\b", re.IGNORECASE)

_TSTZ_MULTIWORD_RE = re.compile(
    r"\bTIMESTAMP\s+WITH\s+TIME\s+ZONE\b", re.IGNORECASE
)


def _normalize_tstz_spelling(sql: str) -> str:
    """``TIMESTAMP WITH TIME ZONE`` → ``TIMESTAMPTZ`` in code segments
    (second review r13): the operand scanners only consume single-token
    ``::`` cast types, so the multi-word spelling garbled mid-cast in
    AT TIME ZONE rewrites; the one-token form flows through the cast
    tail check and the _DUCK_ONLY_TYPES mapping."""
    if _TSTZ_MULTIWORD_RE.search(sql) is None:
        return sql
    mask = _code_mask(sql)
    return _TSTZ_MULTIWORD_RE.sub(
        lambda m: "TIMESTAMPTZ" if all(mask[m.start() : m.end()])
        else m.group(0),
        sql,
    )

# function heads known (duck-probed) to return NAIVE timestamp/date —
# safe for the forward AT TIME ZONE direction; any OTHER function-call
# head is refused loudly rather than converted the wrong way
_ATZ_NAIVE_FNS = frozenset(
    """cast try_cast make_timestamp make_date date_trunc datetrunc
    strptime try_strptime to_date from_utc_timestamp date_add dateadd
    date_sub datesub today current_date greatest least coalesce if
    ifnull nullif nvl last_day time_bucket current_localtimestamp
    localtimestamp""".split()
)


def _rewrite_at_time_zone(sql: str) -> str:
    """PG/duck ``x AT TIME ZONE 'z'`` — Spark has no such syntax. For a
    naive TIMESTAMP input (our storage type; the session runs UTC) duck
    produces the TIMESTAMPTZ of that local time in zone z, which the
    UTC session renders as ``to_utc_timestamp(x, z)`` (probed r12: UTC
    zone is the identity; America/New_York shifts +4/+5). DATE operands
    promote through the timestamp cast like duck."""
    if _AT_TIME_ZONE_RE.search(sql) is None:
        return sql
    guard = 0
    skipped: set[int] = set()
    while guard < 50:
        guard += 1
        mask = _code_mask(sql)
        segs = _abs_segments(sql)
        m = next(
            (
                c
                for c in _AT_TIME_ZONE_RE.finditer(sql)
                if all(mask[c.start() : c.end()])
                and c.start() not in skipped
            ),
            None,
        )
        if m is None:
            return sql
        ls = _scan_left_operand(sql, segs, m.start())
        re_ = _scan_right_operand(sql, segs, m.end())
        if ls >= m.start() or re_ <= m.end():
            return sql  # malformed: leave for the loud analyzer
        lhs = sql[ls : m.start()].strip()
        tz = sql[m.end() : re_].strip()
        # a TIMESTAMPTZ-typed side needs the INVERSE direction (duck:
        # tstz AT TIME ZONE z = the instant rendered as z-local naive;
        # third review r12): to_timestamp() returns tstz, as does a
        # chained AT TIME ZONE (our own emitted to_utc_timestamp), a
        # TIMESTAMPTZ literal, and (r13 ADVICE) every current-instant
        # head — now()/current_timestamp/transaction_timestamp/
        # get_current_timestamp — plus 2-arg timezone(z, naive) which
        # duck types TIMESTAMPTZ (this pass runs BEFORE the rename map
        # turns these into Spark spellings)
        if re.match(
            r"(?i)^[\s(]*(?:to_timestamp\s*\(|to_utc_timestamp\s*\("
            r"|TIMESTAMPTZ\s*'|now\s*\(|current_timestamp\b"
            r"|transaction_timestamp\s*\(|get_current_timestamp\s*\("
            r"|statement_timestamp\s*\(|timezone\s*\()",
            lhs,
        ) or re.search(
            # a TIMESTAMPTZ-targeted CAST TAIL types the whole operand
            # tstz regardless of its head (review r13: '…'::TIMESTAMPTZ
            # and CAST(x AS TIMESTAMPTZ) took the forward branch, 18h
            # silently wrong; the multi-word spelling was normalized
            # to this one token just before this pass)
            r"(?i)(?:::\s*TIMESTAMPTZ|AS\s+TIMESTAMPTZ\s*\))[\s)]*$",
            lhs,
        ):
            repl = f"from_utc_timestamp(CAST({lhs} AS TIMESTAMP), {tz})"
        else:
            fn_head = re.match(r"(?i)^[\s(]*([A-Za-z_]\w*)\s*\(", lhs)
            if fn_head and fn_head.group(1).lower() not in _ATZ_NAIVE_FNS:
                # unknown function-call head: its duck return type
                # (naive vs tstz) decides the conversion DIRECTION —
                # converting blind risks a silent wrong-way offset
                # (r13 ADVICE: now() was 8h off). Leave the AT TIME
                # ZONE text for the loud analyzer instead.
                skipped.add(m.start())
                continue
            # literals (TIMESTAMP '…'/DATE '…'/strings), bare column
            # references, ::-casts, and known-naive builtins take the
            # forward direction (our storage type is naive TIMESTAMP)
            repl = f"to_utc_timestamp(CAST({lhs} AS TIMESTAMP), {tz})"
        sql = sql[:ls] + repl + sql[re_:]
        skipped = {s for s in skipped if s < ls}
    return sql


def _rewrite_interval_epoch(sql: str) -> str:
    """``EXTRACT(epoch FROM INTERVAL '…')`` / ``epoch(INTERVAL …)`` for
    LITERAL intervals — evaluated at rewrite time (Spark can't extract
    epoch from an interval). Non-literal interval operands stay loud."""
    def sub(m: re.Match) -> str:
        if m.group(1):  # SQL-standard INTERVAL 'N' UNIT (r12 sweep)
            spec = f"{m.group(1)} {m.group(2)}"
        elif m.group(3):
            spec = m.group(3)
        else:
            spec = f"{m.group(4)} {m.group(5)}"
        secs = _interval_literal_seconds(spec)
        if secs is None:
            return m.group(0)
        return repr(secs)

    return _INTERVAL_EPOCH_RE.sub(sub, sql)


_EXTRACT_RE = re.compile(r"\bEXTRACT\s*\(\s*(\w+)\s+FROM\b", re.IGNORECASE)
# EXTRACT fields where Spark disagrees with (or lacks) DuckDB's field —
# routed through the date_part templates; everything else stays native
_EXTRACT_DUCK_FIELDS = frozenset(
    """dow dayofweek weekday isodow epoch microseconds microsecond
    milliseconds millisecond second seconds isoyear yearweek decade
    century millennium era julian timezone timezone_hour
    timezone_minute""".split()
)


def _rewrite_extract(sql: str) -> str:
    """``EXTRACT(field FROM x)`` → ``date_part('field', x)`` for the
    fields whose semantics differ from Spark's EXTRACT (isodow, epoch,
    sub-second carriers, truncating 'second', isoyear, decade …, r10
    sweep) so the date_part shims decide once for both spellings."""
    guard = 0
    while guard < 100:
        guard += 1
        mask = _code_mask(sql)
        hit = None
        for m in _EXTRACT_RE.finditer(sql):
            if not mask[m.start()]:
                continue
            if m.group(1).lower() not in _EXTRACT_DUCK_FIELDS:
                continue
            open_i = sql.index("(", m.start())
            close = _match_paren(sql, mask, open_i)
            if close is None:
                continue
            inner = sql[m.end() : close].strip()
            hit = (m.start(), close + 1, f"date_part('{m.group(1)}', {inner})")
            break
        if hit is None:
            return sql
        s, e, repl = hit
        sql = sql[:s] + repl + sql[e:]
    return sql


def _rewrite_operators(sql: str) -> str:
    """DuckDB operator spellings Spark's parser rejects or mis-reads:

    - ``a ** b`` and ``a ^ b``  → ``POWER(a, b)``  (Spark ``^`` is XOR —
      passthrough would be silently wrong, the worst failure class)
    - ``a // b``                → ``FLOOR(a / b)`` (floor division)
    - ``n!``                    → ``factorial(n)``
    - ``@x``                    → ``abs(x)``
    - ``s ~ p`` / ``s !~ p``    → anchored RLIKE (DuckDB ``~`` is a
      FULL regex match, probed — unlike PG's partial match)
    - ``s ~* p`` / ``s !~* p``  → loud refusal (no such operator in
      DuckDB v1.1, probed: Catalog Error)
    - ``~~`` family             → LIKE / ILIKE spellings
    - ``s SIMILAR TO p``        → anchored RLIKE (both engines treat the
      pattern as a regex matched against the WHOLE string)
    - ``s GLOB 'pat'``          → anchored RLIKE on the translated glob
      (literal patterns only; expression patterns pass through loudly)

    An occurrence whose operands can't be scanned is SKIPPED, so every
    later operator in the statement still rewrites — one odd spelling
    no longer disables the whole pass. Exception: ``^`` — Spark parses
    ``^`` as XOR, so an unrewritable power occurrence raises instead
    of passing through silently wrong."""
    guard = 0
    while guard < 400:
        guard += 1
        segs = _abs_segments(sql)
        mask = _code_mask(sql)
        new_sql = None
        for cand in re.finditer(
            r"\*\*|//|\^|!~~\*|~~\*|!~~|~~|!~\*|~\*|!~(?!~)|~|!|@"
            r"|\bSIMILAR\s+TO\b|\bGLOB\b",
            sql,
            re.IGNORECASE,
        ):
            if not all(mask[cand.start() : cand.end()]):
                continue
            op = cand.group(0)
            if op == "!" and cand.end() < len(sql) and sql[cand.end()] in "=~":
                continue
            if op == "~" and not _infix_context(sql, segs, cand.start()):
                continue  # prefix bitwise NOT: Spark-native
            if op == "!" and not _infix_context(sql, segs, cand.start()):
                continue  # ``!`` with no left operand: leave for parser
            if op == "@" and _infix_context(sql, segs, cand.start()):
                continue  # infix @ (no DuckDB meaning): leave loud
            new_sql = _attempt_operator_rewrite(sql, segs, cand)
            if new_sql is None:
                if op == "^":
                    raise ValueError(
                        "cannot rewrite '^' (DuckDB power) near "
                        f"{sql[max(0, cand.start() - 20) : cand.end() + 20]!r}"
                        " — refusing to pass through (Spark '^' is XOR)"
                    )
                continue  # unrewritable occurrence: skip, keep scanning
            break
        if new_sql is None:
            return sql
        sql = new_sql
    return sql


_LIKE_LIT_RE = re.compile(
    r"(\bI?LIKE\b\s*)('(?:[^']|'')*')(\s*ESCAPE\b)?", re.IGNORECASE
)


def _rewrite_like_backslash(sql: str) -> str:
    """DuckDB LIKE has NO default escape character — a backslash in the
    pattern is a literal char ('a_c' LIKE 'a\\_c' is FALSE, probed);
    Spark treats backslash as the escape. For literal patterns without
    an explicit ESCAPE clause, double the backslashes so they stay
    literal (r10 sweep). Runs after the operator pass so ~~/~~* forms
    are covered too."""

    def sub(m: re.Match) -> str:
        if m.group(3):  # explicit ESCAPE: user controls semantics
            return m.group(0)
        lit = m.group(2)
        if "\\" not in lit:
            return m.group(0)
        return m.group(1) + lit.replace("\\", "\\\\") + (m.group(3) or "")

    # operate on full text: the pattern literal is its own segment, so
    # rebuild via regex over the whole statement with a code-mask check
    mask = _code_mask(sql)
    pieces, last = [], 0
    for m in _LIKE_LIT_RE.finditer(sql):
        if not mask[m.start()]:
            continue
        pieces.append(sql[last : m.start()])
        pieces.append(sub(m))
        last = m.end()
    pieces.append(sql[last:])
    return "".join(pieces)


_CONCAT_NULL_OP = re.compile(r"\|\|")


def _rewrite_concat_op_null(sql: str) -> str:
    """DuckDB ``x || NULL`` / ``NULL || x`` is NULL (of x's type); Spark
    analysis rejects ``concat(array, untyped NULL)`` outright (string
    operands happen to work). Replace the occurrence with a typed NULL
    via ``if(false, x, NULL)`` — correct for strings, lists and blobs
    alike (r10 sweep: ``[1,2] || NULL``)."""
    guard = 0
    while guard < 100:
        guard += 1
        segs = _abs_segments(sql)
        mask = _code_mask(sql)
        done = True
        for m in _CONCAT_NULL_OP.finditer(sql):
            if not all(mask[m.start() : m.end()]):
                continue
            right_null = re.match(
                r"\s*NULL\b", sql[m.end() :], re.IGNORECASE
            )
            ls = _scan_left_operand(sql, segs, m.start())
            left = sql[ls : m.start()].strip()
            if right_null:
                if ls == m.start() or not left:
                    continue
                rend = m.end() + right_null.end()
                sql = sql[:ls] + f"if(false, {left}, NULL)" + sql[rend:]
                done = False
                break
            # NULL is a keyword to the operand scanner — match it as raw
            # text before the operator instead
            left_null = re.search(r"\bNULL\s*$", sql[: m.start()], re.IGNORECASE)
            if left_null:
                re_ = _scan_right_operand(sql, segs, m.end())
                if re_ == m.end():
                    continue
                right = sql[m.end() : re_].strip()
                sql = (
                    sql[: left_null.start()]
                    + f"if(false, {right}, NULL)"
                    + sql[re_:]
                )
                done = False
                break
        if done:
            return sql
    return sql


def _attempt_operator_rewrite(sql: str, segs, m: re.Match) -> str | None:
    """Rewrite ONE operator occurrence; None when its operands can't be
    scanned (caller decides skip-vs-refuse)."""
    opu = re.sub(r"\s+", " ", m.group(0).upper())
    if opu in ("**", "^", "//"):
        ls = _scan_left_operand(sql, segs, m.start())
        re_ = _scan_right_operand(sql, segs, m.end())
        if ls == m.start() or re_ == m.end():
            return None
        # DuckDB binds unary minus TIGHTER than these operators
        # (probed: -2 ^ 2 = 4, -7 // 2 = -3) — grab it
        k = ls
        while k > 0 and sql[k - 1].isspace():
            k -= 1
        if k > 0 and sql[k - 1] == "-" and not _infix_context(
            sql, segs, k - 1
        ):
            ls = k - 1
        left, right = sql[ls : m.start()].strip(), sql[m.end() : re_].strip()
        if opu == "//":
            # DuckDB // (probed): truncating division on integer
            # types, PLAIN division on fractional types. Fractional
            # literals keep /; everything else gets Spark's DIV
            # (exact for int columns; doubles error loudly there).
            frac = re.compile(r"^-?\d*\.\d|^-?\d+[eE]|DOUBLE|FLOAT|REAL")
            if frac.search(left) or frac.search(right):
                fn = "(({0}) / ({1}))"
            else:
                fn = "(({0}) DIV ({1}))"
        else:
            fn = "POWER({0}, {1})"
        return sql[:ls] + fn.format(left, right) + sql[re_:]
    if opu == "!":
        ls = _scan_left_operand(sql, segs, m.start())
        if ls == m.start():
            return None
        left = sql[ls : m.start()].strip()
        return sql[:ls] + f"factorial({left})" + sql[m.end() :]
    if opu == "@":
        re_ = _scan_right_operand(sql, segs, m.end())
        if re_ == m.end():
            return None
        right = sql[m.end() : re_].strip()
        return sql[: m.start()] + f"abs({right})" + sql[re_:]
    if opu in ("~*", "!~*"):
        # DuckDB v1.1 has NO ~* / !~* (probed: Catalog Error, unlike
        # PG's case-insensitive match) — the reference server forwards
        # to DuckDB and errors, so a silent PG-semantics answer here
        # would diverge. Refuse loudly instead.
        raise ValueError(
            f"Scalar Function with name {opu!r} does not exist in the "
            "DuckDB v1.1 dialect (use regexp_matches(s, '(?i)pat'))"
        )
    if opu in ("~", "!~"):
        # DuckDB ~ is a FULL match (probed: 'abc' ~ 'a' = false;
        # regexp_full_match semantics) — PG's partial-match RLIKE
        # would be silently wrong on unanchored patterns.
        re_ = _scan_right_operand(sql, segs, m.end())
        if re_ == m.end():
            return None
        right = sql[m.end() : re_].strip()
        neg = "NOT " if opu.startswith("!") else ""
        return (
            sql[: m.start()]
            + f" {neg}RLIKE concat('^(?:', {right}, ')$')"
            + sql[re_:]
        )
    if opu in ("~~", "!~~", "~~*", "!~~*"):
        kw = {
            "~~": " LIKE ",
            "!~~": " NOT LIKE ",
            "~~*": " ILIKE ",
            "!~~*": " NOT ILIKE ",
        }[opu]
        return sql[: m.start()] + kw + sql[m.end() :]
    if opu == "SIMILAR TO":
        re_ = _scan_right_operand(sql, segs, m.end())
        if re_ == m.end():
            return None
        right = sql[m.end() : re_].strip()
        return (
            sql[: m.start()]
            + f" RLIKE concat('^(?:', {right}, ')$')"
            + sql[re_:]
        )
    if opu == "GLOB":
        re_ = _scan_right_operand(sql, segs, m.end())
        pat = sql[m.end() : re_].strip()
        if not (pat.startswith("'") and pat.endswith("'")):
            return None  # non-literal glob: loud passthrough
        rx = _glob_to_regex(pat[1:-1]).replace("\\", "\\\\").replace("'", "''")
        return sql[: m.start()] + f" RLIKE '{rx}'" + sql[re_:]
    return None


def _infix_context(sql: str, segs, i: int) -> bool:
    """True when position i follows a value operand (word char, literal,
    or close paren/bracket) — i.e. the operator at i is infix/postfix."""
    j = i
    while j > 0 and sql[j - 1].isspace():
        j -= 1
    if j == 0:
        return False
    kind, _a, _b = _seg_at(segs, j - 1)
    if kind == "lit":
        return True
    if not re.match(r"[\w)\]]", sql[j - 1]):
        return False
    m = re.search(r"[A-Za-z_][\w]*$", sql[:j])
    if m and m.group(0).upper() == "END":
        return True  # CASE…END closes a value expression
    if m and m.group(0).upper() in _BRACKET_KEYWORDS:
        return False  # keyword, not an operand: expression start
    return True


# keywords that can directly precede a bracket LITERAL in expression
# position — an identifier-looking token from this set is never a
# subscript base
_BRACKET_KEYWORDS = {
    "SELECT", "FROM", "WHERE", "AND", "OR", "NOT", "THEN", "ELSE", "WHEN",
    "CASE", "END", "IN", "ON", "AS", "BY", "GROUP", "ORDER", "HAVING",
    # ROW deliberately absent (r13): ROW(...) is a real constructor
    # (PG/duck row constructor, _COMPOSITE_HEAD_RE) — listing it here
    # orphaned the head during operand scans, so `row(1,'a') =
    # row(1,'a')` decomposed the bare tuple and left `row(` wrapping
    # the emitted CASE (a silent wrong struct-typed result)
    "LIMIT", "OFFSET", "UNION", "ALL", "DISTINCT", "VALUES", "SET",
    "RETURNING", "JOIN", "WITH", "RECURSIVE", "IF", "INTERVAL",
    "BETWEEN", "LIKE", "ILIKE", "IS", "NULL", "TRUE", "FALSE", "EXCEPT",
    "INTERSECT", "LATERAL", "USING", "OVER", "PARTITION", "RETURN",
    "COALESCE", "ELSEIF",
}

_COMPREHENSION_RE = re.compile(
    r"^(?P<expr>.+?)\s+FOR\s+(?P<var>\w+)\s+IN\s+(?P<src>.+?)(?:\s+IF\s+(?P<cond>.+))?$",
    re.IGNORECASE | re.DOTALL,
)


def _rewrite_dot_calls(sql: str) -> str:
    """DuckDB method-call chaining: ``(expr).fn(args)`` /
    ``call(...).fn(args)`` → ``fn(expr, args)`` (Spark has no method
    syntax). Only receivers ending in ')' rewrite — a bare identifier
    receiver is indistinguishable from a qualified function name
    (``db.fn(x)``) without a catalog, and DuckDB v1.0 itself rejects
    string-literal receivers (probed). Innermost-first loop handles
    chains like ``(x).trim().len()``."""
    if ").len(" not in sql and not re.search(
        r"\)\s*\.\s*\w+\s*\(", sql
    ):
        return sql
    changed = True
    while changed:
        changed = False
        mask = _code_mask(sql)
        for m in re.finditer(r"\)\s*\.\s*(\w+)\s*\(", sql):
            if not all(mask[m.start() : m.end()]):
                continue
            close = m.start()
            depth, i = 0, close
            while i >= 0:  # matching '(' of the receiver
                if mask[i]:
                    if sql[i] == ")":
                        depth += 1
                    elif sql[i] == "(":
                        depth -= 1
                        if depth == 0:
                            break
                i -= 1
            if i < 0:
                continue
            j = i - 1
            while j >= 0 and sql[j].isspace():
                j -= 1
            if j >= 0 and (sql[j].isalnum() or sql[j] == "_"):
                # call(...).fn() — the receiver is the WHOLE call,
                # identifier included (possibly dotted: db.f(x).fn()).
                # After a KEYWORD the paren group alone is the receiver.
                k = j
                while k >= 0 and (sql[k].isalnum() or sql[k] in "_."):
                    k -= 1
                head = sql[k + 1 : j + 1]
                if (
                    head
                    and head[0] not in ".0123456789"
                    and head.upper() not in (
                        "AND", "OR", "NOT", "THEN", "ELSE", "WHEN", "IN",
                        "SELECT", "WHERE", "FROM", "ON", "BY", "AS",
                        "OVER", "FILTER", "EXISTS", "BETWEEN", "LIKE",
                        "ILIKE", "ALL", "ANY", "SOME", "VALUES", "JOIN",
                        "USING", "HAVING", "RETURNING", "DISTINCT",
                        "UNION", "INTERSECT", "EXCEPT", "LIMIT", "OFFSET",
                        "SET", "CASE", "END", "ESCAPE", "INTERVAL",
                    )
                ):
                    i = k + 1
            recv = sql[i : close + 1]
            a_open = m.end() - 1
            depth, a = 0, a_open
            while a < len(sql):  # matching ')' of the args
                if mask[a]:
                    if sql[a] == "(":
                        depth += 1
                    elif sql[a] == ")":
                        depth -= 1
                        if depth == 0:
                            break
                a += 1
            if a >= len(sql):
                continue
            args = sql[a_open + 1 : a].strip()
            repl = f"{m.group(1)}({recv}, {args})" if args else (
                f"{m.group(1)}({recv})"
            )
            sql = sql[:i] + repl + sql[a + 1 :]
            changed = True
            break
    return sql


# DuckDB/PG array-type suffix in cast/DDL positions: INT[] → ARRAY<INT>
# (Spark has no T[] type syntax). Only a TYPE NAME directly followed by
# EMPTY brackets matches — subscripts carry content and the bare
# empty-list literal [] has no identifier before it.
_ARRAY_TYPE_SUFFIX = re.compile(
    r"(?<![\w.'\"])(\w+(?:\s*\([^()]*\))?)((?:\s*\[\s*\])+)"
)
# ONE spelling list for DuckDB's VARCHAR alias family (code review
# r10: five independent copies drifted — the enum varchar-context
# regex missed NVARCHAR/NCHAR and silently rendered struct text).
# Every site that needs "is this a text type?" derives from this.
_TEXT_FAMILY_RE_SRC = (
    "CHARACTER\\s+VARYING|CHARACTER|TEXT|NVARCHAR|NCHAR|VARCHAR"
    "|BPCHAR|CHAR|STRING"
)

_ARRAY_ELEM_TYPES = {
    "int": "INT", "integer": "INT", "int4": "INT", "signed": "INT",
    "bigint": "BIGINT", "int8": "BIGINT", "long": "BIGINT",
    "hugeint": "DECIMAL(38,0)",
    "smallint": "SMALLINT", "int2": "SMALLINT",
    "tinyint": "TINYINT", "int1": "TINYINT",
    "double": "DOUBLE", "float8": "DOUBLE",
    "real": "FLOAT", "float4": "FLOAT", "float": "FLOAT",
    "varchar": "STRING", "text": "STRING", "bpchar": "STRING",
    "string": "STRING", "char": "STRING",
    "nvarchar": "STRING", "nchar": "STRING", "character": "STRING",
    "boolean": "BOOLEAN", "bool": "BOOLEAN",
    "date": "DATE", "timestamp": "TIMESTAMP", "datetime": "TIMESTAMP",
    "blob": "BINARY", "bytea": "BINARY",
    "decimal": None, "numeric": None,  # keep their (p,s) args verbatim
}


# user-defined type aliases (CREATE TYPE name AS <type>; server-process
# scope like MACROS/SEQUENCES — DuckDB types are catalog-scope). Values
# are RESOLVED Spark type text.
TYPE_ALIASES: dict[str, str] = {}

# ---------------------------------------------------------------- ENUM
# CREATE TYPE ... AS ENUM (r8 verdict item 3). An enum VALUE travels as
# ``STRUCT<__ecode: INT, __elabel_<type>: STRING>``: Spark orders
# structs field-by-field, so declaration-order comparisons, ORDER BY,
# min/max, GROUP BY and joins are NATIVE — the ordering is embedded in
# the value, surviving tables/CTAS with no column registry. The label
# field name is self-describing: the wire encoder renders it and the
# INSERT coercion recovers the member list from it. DuckDB-probed
# (v1.x): enum-enum compares by declaration order; enum-vs-varchar
# compares AS VARCHAR (lexically — probed `'ok'::mood < 'sad'` = true);
# invalid casts raise a conversion error; TRY_CAST yields NULL; values
# render as the label; enum_code() is the 0-based declaration index.
ENUM_TYPES: dict[str, list[str]] = {}

# Called after any mutation of the persistent-catalog dicts
# (ENUM_TYPES / TYPE_ALIASES / MACROS / SEQUENCES — incl. a sequence
# counter advancing). server.catalog_persist registers its save()
# here when the server runs with a catalog directory.
CATALOG_LISTENERS: list = []

# One re-entrant lock serializes STRUCTURAL mutation of those dicts
# against catalog_persist.save()'s snapshot — statements run on a
# thread pool, and dict iteration during a concurrent insert raises
# RuntimeError mid-query. Counter advances reuse it too (RLock: the
# sequence paths already hold it when they fire catalog_changed).
import threading as _threading  # noqa: E402

CATALOG_LOCK = _threading.RLock()


def catalog_changed() -> None:
    for fn in list(CATALOG_LISTENERS):
        fn()


def enum_struct_type(name: str) -> str:
    return f"STRUCT<__ecode: INT, __elabel_{name.lower()}: STRING>"


def define_enum_type(name: str, members: list[str]) -> None:
    key = name.lower()
    with CATALOG_LOCK:
        if key in TYPE_ALIASES:
            raise ValueError(f'Type with name "{name}" already exists!')
        if len(set(members)) != len(members):
            raise ValueError(f"enum {name} has duplicate members")
        ENUM_TYPES[key] = list(members)
        TYPE_ALIASES[key] = enum_struct_type(key)
    catalog_changed()


def _esc_lit(s: str) -> str:
    """String literal in the PIPELINE's post-escape convention
    (_pg_escape_literals output): backslashes doubled for Spark,
    quotes PG-doubled — a backslash-quote spelling would desync
    _code_mask, whose literal lexing is PG-style (found by the r9
    enum fuzzer on a quote-only member)."""
    return "'" + s.replace("\\", "\\\\").replace("'", "''") + "'"


def _enum_arr_sql(tn: str) -> str:
    if not ENUM_TYPES[tn]:
        # empty enum (DuckDB accepts CREATE TYPE e AS ENUM (); any use
        # then errors there too) — typed so array_position still binds
        return "CAST(array() AS ARRAY<STRING>)"
    return "array(" + ", ".join(_esc_lit(m) for m in ENUM_TYPES[tn]) + ")"


def _enum_struct_sql(x: str, tn: str, strict: bool = True) -> str:
    """Enum-cast constructor: ``x::tn`` → the ordered struct. strict
    raises like DuckDB's conversion error; non-strict (TRY_CAST)
    yields a NULL struct for a non-member."""
    arr = _enum_arr_sql(tn)
    s = f"CAST({x} AS STRING)"
    pos = f"array_position({arr}, {s})"
    if strict:
        code = (
            f"CAST(CASE WHEN {pos} = 0 THEN raise_error(concat("
            f"'Could not convert string ''', {s}, ''' to enum {tn}'))"
            f" ELSE {pos} END AS INT)"
        )
        return (
            f"CASE WHEN {s} IS NULL THEN NULL ELSE named_struct("
            f"'__ecode', {code}, '__elabel_{tn}', {s}) END"
        )
    return (
        f"CASE WHEN {s} IS NULL OR {pos} = 0 THEN NULL"
        f" ELSE named_struct('__ecode', CAST({pos} AS INT),"
        f" '__elabel_{tn}', {s}) END"
    )


def _enum_vstr_sql(x: str, tn: str, strict: bool = True) -> str:
    """Enum cast in a varchar-comparison context: the VALIDATED label
    string (DuckDB compares enum-vs-varchar as VARCHAR, but still
    refuses a non-member cast; TRY_CAST yields NULL instead)."""
    arr = _enum_arr_sql(tn)
    s = f"CAST({x} AS STRING)"
    if not strict:
        return (
            f"CASE WHEN array_position({arr}, {s}) = 0 THEN NULL"
            f" ELSE {s} END"
        )
    return (
        f"CASE WHEN array_position({arr}, {s}) = 0 THEN raise_error("
        f"concat('Could not convert string ''', {s},"
        f" ''' to enum {tn}')) ELSE {s} END"
    )


def _match_paren(sql: str, mask: list[bool], open_i: int) -> int | None:
    """Index of the ')' closing the '(' at open_i (mask-aware)."""
    depth, i = 0, open_i
    while i < len(sql):
        if mask[i]:
            if sql[i] == "(":
                depth += 1
            elif sql[i] == ")":
                depth -= 1
                if depth == 0:
                    return i
        i += 1
    return None


def _operand_start(sql: str, mask: list[bool], pos: int) -> int | None:
    """Start index of the cast operand ending just before ``pos``
    (the ``::`` of a cast): a string literal, a parenthesized group
    (with an optional call head), or an identifier/number chain."""
    j = pos - 1
    while j >= 0 and sql[j].isspace():
        j -= 1
    if j < 0:
        return None
    if not mask[j]:  # string literal (mask covers the quotes)
        while j >= 0 and not mask[j]:
            j -= 1
        return j + 1
    if sql[j] == ")":
        depth, i = 0, j
        while i >= 0:
            if mask[i]:
                if sql[i] == ")":
                    depth += 1
                elif sql[i] == "(":
                    depth -= 1
                    if depth == 0:
                        break
            i -= 1
        if i < 0:
            return None
        k = i - 1
        while k >= 0 and sql[k].isspace():
            k -= 1
        if k >= 0 and (sql[k].isalnum() or sql[k] == "_"):
            h = k
            while h >= 0 and (sql[h].isalnum() or sql[h] in "_."):
                h -= 1
            head = sql[h + 1 : k + 1]
            if head and head[0] not in ".0123456789" and head.upper() not in (
                "AND", "OR", "NOT", "THEN", "ELSE", "WHEN", "IN", "SELECT",
                "WHERE", "FROM", "ON", "BY", "AS", "OVER", "VALUES", "CASE",
                "END", "JOIN", "USING", "HAVING", "BETWEEN", "LIKE", "SET",
            ):
                return h + 1
        return i
    if sql[j] == "]":
        # subscript/slice or bare list literal: balanced bracket walk,
        # then include the base expression before '[' if any
        depth, i = 0, j
        while i >= 0:
            if mask[i]:
                if sql[i] == "]":
                    depth += 1
                elif sql[i] == "[":
                    depth -= 1
                    if depth == 0:
                        break
            i -= 1
        if i < 0:
            return None
        base = _operand_start(sql, mask, i)
        return base if base is not None else i
    if sql[j].isalnum() or sql[j] in "_.$":
        h = j
        while h >= 0 and (sql[h].isalnum() or sql[h] in "_.$"):
            h -= 1
        word = sql[h + 1 : j + 1].upper()
        if word == "END":
            # CASE ... END expression: walk back to the matching CASE,
            # nesting- and mask-aware (code review r9: the bare-chain
            # walk used to take the keyword END as the operand)
            depth = 1
            for m in reversed(
                list(re.finditer(r"\b(CASE|END)\b", sql[: h + 1], re.IGNORECASE))
            ):
                if not all(mask[m.start() : m.end()]):
                    continue
                if m.group(1).upper() == "END":
                    depth += 1
                else:
                    depth -= 1
                    if depth == 0:
                        return m.start()
            return None
        if word in (
            "THEN", "ELSE", "WHEN", "AND", "OR", "NOT", "IN", "LIKE",
            "BETWEEN", "SELECT", "WHERE", "FROM", "BY", "ON", "AS",
            "VALUES", "SET", "RETURNING", "UNION", "ALL", "DISTINCT",
        ):
            return None  # not an operand — leave for the alias pass
        return h + 1
    return None


def _enum_varchar_context(
    sql: str, mask: list[bool], start: int, end: int
) -> bool:
    """True when the enum cast at [start, end) is directly compared
    against a textually-certain NON-enum operand (a string/number
    literal, or IN/BETWEEN lists) — DuckDB gives those comparisons
    VARCHAR semantics. An adjacent literal that is ITSELF enum-cast
    (``'a'::t < 'b'::t``) keeps struct (declaration-order) semantics."""
    names = "|".join(ENUM_TYPES)

    def _is_literal_then_not_enum(k: int) -> bool:
        # k at a candidate RHS operand: literal / number, NOT ::enum-cast
        if k >= len(sql):
            return False
        if not mask[k]:  # string literal: find its end
            while k < len(sql) and not mask[k]:
                k += 1
        elif sql[k].isdigit():
            while k < len(sql) and (sql[k].isalnum() or sql[k] == "."):
                k += 1
        else:
            return False
        while k < len(sql) and sql[k].isspace():
            k += 1
        return not re.match(rf"::\s*(?:{names})\b", sql[k:], re.IGNORECASE)

    # a FOLLOWING cast back to a text type: DuckDB renders the label
    # ('ok'::mood::VARCHAR = 'ok'); the validated string satisfies the
    # outer cast verbatim
    k = end
    while k < len(sql) and sql[k].isspace():
        k += 1
    if re.match(
        rf"::\s*(?:{_TEXT_FAMILY_RE_SRC})\b"
        rf"|AS\s+(?:{_TEXT_FAMILY_RE_SRC})\s*(?:\(\s*\d+\s*\))?\s*\)",
        sql[k:],
        re.IGNORECASE,
    ):
        # (the AS form is anchored on the CAST's closing paren so a
        # column alias merely NAMED varchar/text doesn't match)
        return True
    if re.match(r"(?:<=|>=|<>|!=|=|<|>)", sql[k:]):
        k += len(re.match(r"(?:<=|>=|<>|!=|=|<|>)", sql[k:]).group(0))
        while k < len(sql) and sql[k].isspace():
            k += 1
        if _is_literal_then_not_enum(k):
            return True
    elif m_kw := re.match(
        r"(?:NOT\s+)?(?:IN|BETWEEN)\b", sql[k:], re.IGNORECASE
    ):
        # varchar semantics only when the list/bounds are themselves
        # plain literals; 'x'::t BETWEEN 'a'::t AND 'b'::t keeps
        # declaration-order struct semantics (code review r9)
        k2 = k + m_kw.end()
        while k2 < len(sql) and (sql[k2].isspace() or sql[k2] == "("):
            k2 += 1
        return _is_literal_then_not_enum(k2)
    # comparison op BEFORE the operand, with a literal on its far side
    j = start - 1
    while j >= 0 and sql[j].isspace():
        j -= 1
    if j >= 0 and sql[j] in "<>=!":
        while j >= 0 and sql[j] in "<>=!":
            j -= 1
        while j >= 0 and sql[j].isspace():
            j -= 1
        if j >= 0 and (not mask[j] or sql[j].isdigit()):
            # far side is a literal — but an enum-cast literal keeps
            # struct semantics, and it would have been REWRITTEN
            # already (left-to-right), leaving ')' here, not a literal
            return True
    return False


def _enum_unnest_hoist(x: str, tn: str, strict: bool, vstr: bool) -> str | None:
    """``unnest(arr)::enum`` — a generator cannot sit inside the enum
    constructor's CASE wrapper (Spark refuses generators in CASE), so
    hoist the cast INSIDE the array: unnest(transform(arr, e -> ...)).
    Only the exact single-argument ``unnest(...)`` operand qualifies."""
    m = re.match(r"^unnest\s*\(", x, re.IGNORECASE)
    if m is None:
        return None
    mask = _code_mask(x)
    close_i = _match_paren(x, mask, m.end() - 1)
    if close_i is None or x[close_i + 1 :].strip():
        return None
    inner = x[m.end() : close_i]
    depth = 0  # top-level comma check; [..] list literals add depth
    imask = _code_mask(inner)  # (split_top_level is ()-only)
    for i, c in enumerate(inner):
        if not imask[i]:
            continue
        if c in "([":
            depth += 1
        elif c in ")]":
            depth -= 1
        elif c == "," and depth == 0:
            return None  # unnest(a, recursive := ...) forms: leave
    elem = (
        _enum_vstr_sql("__ee", tn, strict=strict)
        if vstr
        else _enum_struct_sql("__ee", tn, strict=strict)
    )
    return f"unnest(transform({inner}, __ee -> {elem}))"


def _rewrite_enum_casts(sql: str) -> str:
    """``x::enumtype`` / ``[TRY_]CAST(x AS enumtype)`` → the ordered
    enum struct (or the validated label string in varchar-comparison
    contexts — see _enum_varchar_context)."""
    if not ENUM_TYPES:
        return sql
    low = sql.lower()
    if not any(n in low for n in ENUM_TYPES):
        return sql
    changed = True
    while changed:  # [TRY_]CAST(expr AS type)
        changed = False
        mask = _code_mask(sql)
        for m in re.finditer(r"\b(TRY_)?CAST\s*\(", sql, re.IGNORECASE):
            if not all(mask[m.start() : m.end()]):
                continue
            close_i = _match_paren(sql, mask, m.end() - 1)
            if close_i is None:
                continue
            inner = sql[m.end() : close_i]
            mm = re.search(r"\bAS\s+(\w+)\s*$", inner, re.IGNORECASE)
            if mm is None or mm.group(1).lower() not in ENUM_TYPES:
                continue
            x = inner[: mm.start()].strip()
            # varchar-comparison / re-cast-to-text contexts get the
            # validated label, same as the :: pass (advice r9)
            vstr = _enum_varchar_context(sql, mask, m.start(), close_i + 1)
            hoisted = _enum_unnest_hoist(
                x, mm.group(1).lower(), not m.group(1), vstr
            )
            if hoisted is not None:
                body = hoisted
            elif vstr:
                body = _enum_vstr_sql(x, mm.group(1).lower(), strict=not m.group(1))
            else:
                body = _enum_struct_sql(x, mm.group(1).lower(), strict=not m.group(1))
            sql = sql[: m.start()] + "(" + body + ")" + sql[close_i + 1 :]
            changed = True
            break
    names = "|".join(ENUM_TYPES)
    changed = True
    while changed:  # operand::type
        changed = False
        mask = _code_mask(sql)
        for m in re.finditer(rf"::\s*({names})\b", sql, re.IGNORECASE):
            if not all(mask[m.start() + 2 : m.end()]):
                continue
            tn = m.group(1).lower()
            start = _operand_start(sql, mask, m.start())
            if start is None:
                continue
            x = sql[start : m.start()].strip()
            if not x:
                continue
            end = m.end()
            sufm = re.match(r"\s*\[\s*\]", sql[end:])
            if sufm:
                # expr::enum[] — element-wise constructor (code review
                # r9: the scalar rewrite orphaned the [] suffix)
                body = (
                    f"transform({x}, __ee -> "
                    + _enum_struct_sql("__ee", tn, strict=True)
                    + ")"
                )
                end += sufm.end()
            elif (
                hoisted := _enum_unnest_hoist(
                    x, tn, True, _enum_varchar_context(sql, mask, start, end)
                )
            ) is not None:
                body = hoisted
            elif _enum_varchar_context(sql, mask, start, end):
                body = _enum_vstr_sql(x, tn)
            else:
                body = _enum_struct_sql(x, tn, strict=True)
            sql = sql[:start] + "(" + body + ")" + sql[end:]
            changed = True
            break
    return sql


def _enum_type_of(argtext: str) -> str | None:
    m = re.search(r"::\s*(\w+)", argtext) or re.search(
        r"\bAS\s+(\w+)\s*\)?\s*$", argtext, re.IGNORECASE
    )
    if m and m.group(1).lower() in ENUM_TYPES:
        return m.group(1).lower()
    return None


def _rewrite_enum_fns(sql: str) -> str:
    """DuckDB enum introspection functions → literals / field access.
    Runs BEFORE the cast pass (the type name must still be visible in
    the argument text)."""
    if not ENUM_TYPES or "enum_" not in sql.lower():
        return sql
    changed = True
    while changed:
        changed = False
        mask = _code_mask(sql)
        for m in re.finditer(
            r"\b(enum_range_boundary|enum_range|enum_first|enum_last|"
            r"enum_code)\s*\(",
            sql,
            re.IGNORECASE,
        ):
            if not all(mask[m.start() : m.end()]):
                continue
            close_i = _match_paren(sql, mask, m.end() - 1)
            if close_i is None:
                continue
            argtext = sql[m.end() : close_i]
            fn = m.group(1).lower()
            if fn == "enum_code":
                repl = f"(({argtext.strip()}).__ecode - 1)"
            elif fn == "enum_range_boundary":
                parts = split_top_level(argtext)
                if len(parts) != 2:
                    continue
                a, b = parts[0].strip(), parts[1].strip()
                tn = _enum_type_of(a) or _enum_type_of(b)
                if tn is None:
                    continue
                arr, n = _enum_arr_sql(tn), len(ENUM_TYPES[tn])
                lo = f"coalesce(({a}).__ecode, 1)"
                hi = f"coalesce(({b}).__ecode, {n})"
                repl = f"slice({arr}, {lo}, {hi} - {lo} + 1)"
            else:
                tn = _enum_type_of(argtext)
                if tn is None:
                    continue
                members = ENUM_TYPES[tn]
                # empty enum: DuckDB's enum_first/enum_last return ''
                # (probed, code review r10) — don't IndexError
                repl = {
                    "enum_range": _enum_arr_sql(tn),
                    "enum_first": _esc_lit(members[0]) if members else "''",
                    "enum_last": _esc_lit(members[-1]) if members else "''",
                }[fn]
            sql = sql[: m.start()] + repl + sql[close_i + 1 :]
            changed = True
            break
    return sql


# ---- enum TABLE-COLUMN contexts (r10). Column enum-ness is not
# textually knowable, but the emulation struct is self-describing in
# the catalog schema (__ecode + __elabel_<type>), so the app layer
# resolves the statement's tables and hands a name→type map to this
# schema-aware pass (the rewrite_integer_sums precedent). Covered:
# CAST(col AS VARCHAR/TEXT/...) renders the label (DuckDB probed), and
# col-vs-varchar comparisons (=/<>/</<=/>/>=/IN/LIKE against a string
# literal, a string-ending expression, or a known varchar column)
# compare the LABEL as varchar — DuckDB's probed enum-vs-varchar
# semantics. Enum-vs-enum stays the native ordered-struct compare.
# Unqualified names that are ambiguous across the statement's tables
# (two enum types, or enum in one table and plain in another) are
# left alone — the loud analyzer error beats a silent wrong guess.

_ENUM_QIDENT_RE = re.compile(
    r"(?<![\w.'\"])((?:[A-Za-z_]\w*\.)?([A-Za-z_]\w*))(?![\w.(])"
)
_ENUM_CMP_RE = re.compile(r"^\s*(<=|>=|!=|<>|=|<|>)\s*")
_ENUM_IN_RE = re.compile(r"^\s+(?:NOT\s+)?IN\s*\(", re.IGNORECASE)
_ENUM_LIKE_RE = re.compile(
    r"^\s+(?:NOT\s+)?(?:I?LIKE|RLIKE)\s+", re.IGNORECASE
)
_ENUM_LEFT_CMP_RE = re.compile(r"(<=|>=|!=|<>|=|<|>)\s*$")

# varchar-taking function heads: DuckDB implicitly treats an enum
# argument as its VARCHAR label in ALL of these (probed lower/upper/
# length; the rest share the varchar overload path). Curated — a
# function NOT listed keeps the loud struct analyzer error.
_ENUM_TEXT_FNS = frozenset(
    """lower upper length len strlen char_length character_length trim
    ltrim rtrim btrim substr substring concat concat_ws replace reverse
    left right lpad rpad repeat contains starts_with ends_with prefix
    suffix strpos instr position split_part string_split str_split
    string_to_array regexp_matches regexp_replace regexp_extract
    regexp_extract_all regexp_split_to_array like_escape ilike_escape
    md5 sha256 hash ascii ord initcap strip_accents nfc_normalize
    translate levenshtein editdist3 hamming mismatches jaccard
    jaro_similarity jaro_winkler_similarity damerau_levenshtein
    string_agg listagg group_concat format printf
    rlike""".split()
)


def _enum_operand_kind(
    sql: str,
    mask: list[bool],
    pos: int,
    enum_cols: dict[str, str],
    varchar_cols: set[str],
) -> str:
    """Classify the operand STARTING at pos: 'lit' (string literal —
    any comparison operand that starts with one is varchar-typed),
    'varchar' (known string column), 'enum' (enum column — leave the
    native struct compare), or 'other'."""
    if pos < len(sql) and not mask[pos]:
        return "lit"
    m = _ENUM_QIDENT_RE.match(sql, pos)
    if m is not None:
        base = m.group(2).lower()
        if base in enum_cols:
            return "enum"
        if base in varchar_cols:
            return "varchar"
    return "other"


def _enum_left_kind(
    sql: str,
    mask: list[bool],
    end: int,
    enum_cols: dict[str, str],
    varchar_cols: set[str],
) -> str:
    """Classify the operand ENDING just before end (mirror of
    _enum_operand_kind): an expression that ends with a string
    literal is varchar-typed; a bare known column classifies by its
    type."""
    j = end - 1
    while j >= 0 and sql[j].isspace():
        j -= 1
    if j < 0:
        return "other"
    if not mask[j]:
        return "lit"
    k = j
    while k >= 0 and (sql[k].isalnum() or sql[k] in "_."):
        k -= 1
    word = sql[k + 1 : j + 1]
    base = word.split(".")[-1].lower()
    if base and re.match(r"^[A-Za-z_]", base):
        if base in enum_cols:
            return "enum"
        if base in varchar_cols:
            return "varchar"
    return "other"


def enum_emulation_type(dt) -> str | None:
    """Enum type name when dt is the self-describing enum-emulation
    struct (``__ecode`` + ``__elabel_<type>``), else None. Lives here
    (lazy pyspark import) so both the server and the DML layer can
    resolve column enum-ness without a circular import."""
    from pyspark.sql import types as T

    if (
        isinstance(dt, T.StructType)
        and len(dt.fields) == 2
        and dt.fields[0].name == "__ecode"
        and dt.fields[1].name.startswith("__elabel_")
    ):
        return dt.fields[1].name[len("__elabel_") :]
    return None


def enum_columns_of(fields) -> tuple[dict[str, str], set[str]]:
    """(enum columns, varchar columns) of one table's schema fields —
    the resolution rewrite_enum_table_columns needs."""
    from pyspark.sql import types as T

    enum_cols: dict[str, str] = {}
    varchar_cols: set[str] = set()
    for f in fields:
        tn = enum_emulation_type(f.dataType)
        if tn is not None:
            enum_cols[f.name.lower()] = tn
        elif isinstance(f.dataType, T.StringType):
            varchar_cols.add(f.name.lower())
    return enum_cols, varchar_cols


def _enum_call_head(sql: str, mask: list[bool], pos: int) -> str:
    """Lowercased name of the function call whose argument list
    directly encloses position pos ('' when not inside a call):
    scan back for the nearest unmatched '(' and read the word
    before it."""
    depth = 0
    i = pos - 1
    while i >= 0:
        if mask[i]:
            c = sql[i]
            if c == ")":
                depth += 1
            elif c == "(":
                if depth == 0:
                    j = i - 1
                    while j >= 0 and sql[j].isspace():
                        j -= 1
                    k = j
                    while k >= 0 and (sql[k].isalnum() or sql[k] == "_"):
                        k -= 1
                    return sql[k + 1 : j + 1].lower()
                depth -= 1
        i -= 1
    return ""


_CONCAT_CALL = re.compile(r"(?<![\w.])concat\s*\(", re.IGNORECASE)


def _rewrite_concat_null_skip(sql: str) -> str:
    """DuckDB ``concat()`` skips NULL arguments and stringifies every
    argument (probed: concat('a', NULL, 'b') = 'ab', concat([1], [2])
    = '[1][2]'); Spark's concat is NULL-propagating and type-preserving.
    Rewrite user concat calls to ``concat_ws('', CAST(a AS STRING), …)``
    — concat_ws skips NULLs and the casts reproduce DuckDB's implicit
    VARCHAR coercion. Runs EARLY in the chain, before any pass emits a
    Spark-native concat of its own (the ~ operator's RLIKE anchor, the
    split templates) — those rely on NULL propagation and must keep it."""
    guard = 0
    while guard < 100:
        guard += 1
        mask = _code_mask(sql)
        m = next(
            (
                c
                for c in _CONCAT_CALL.finditer(sql)
                if all(mask[c.start() : c.end()])
            ),
            None,
        )
        if m is None:
            return sql
        depth, i = 1, m.end()
        while i < len(sql) and depth:
            if mask[i]:
                if sql[i] == "(":
                    depth += 1
                elif sql[i] == ")":
                    depth -= 1
            i += 1
        if depth:
            return sql
        args = [a.strip() for a in split_top_level(sql[m.end() : i - 1])]
        if not args or not all(args):
            return sql
        casted = ", ".join(f"CAST({a} AS STRING)" for a in args)
        sql = sql[: m.start()] + f"concat_ws('', {casted})" + sql[i:]
    return sql


_CONCAT_WS_CALL = re.compile(r"(?<![\w.])concat_ws\s*\(", re.IGNORECASE)


def _rewrite_concat_ws_casts(sql: str) -> str:
    """USER ``concat_ws`` stringifies every value argument with duck's
    own text ('x-2.5e+19' — r15 probe); cast them AS STRING like
    concat's args so the later kernel passes render special types.
    Single pass over user text — the engine's own emitted
    concat_ws('') calls arrive pre-cast."""
    if re.search(r"(?i)\bconcat_ws\s*\(", sql) is None:
        return sql
    mask = _code_mask(sql)
    out: list[str] = []
    pos = 0
    for m in _CONCAT_WS_CALL.finditer(sql):
        if m.start() < pos or not all(mask[m.start() : m.end()]):
            continue
        depth, i = 1, m.end()
        while i < len(sql) and depth:
            if mask[i]:
                if sql[i] == "(":
                    depth += 1
                elif sql[i] == ")":
                    depth -= 1
            i += 1
        if depth:
            break
        args = [a.strip() for a in split_top_level(sql[m.end() : i - 1])]
        if len(args) < 2 or not all(args):
            continue
        casted = ", ".join(
            [args[0]] + [f"CAST({a} AS STRING)" for a in args[1:]]
        )
        out.append(sql[pos : m.start()])
        out.append(f"concat_ws({casted})")
        pos = i
    if not out:
        return sql
    out.append(sql[pos:])
    return "".join(out)


_QUOTED_LIT_RE = re.compile(r"'(?:[^']|'')*'")
_ENUM_NARY_FNS = frozenset(
    "coalesce nullif greatest least ifnull nvl nvl2 if".split()
)


def _enclosing_open_paren(sql: str, mask: list[bool], pos: int) -> int:
    """Index of the nearest unmatched '(' before pos (-1 when none) —
    the argument-list scan _enum_call_head performs, exposed so
    callers can read the sibling arguments too."""
    depth = 0
    i = pos - 1
    while i >= 0:
        if mask[i]:
            c = sql[i]
            if c == ")":
                depth += 1
            elif c == "(":
                if depth == 0:
                    return i
                depth -= 1
        i -= 1
    return -1


def _enum_mixed_nary(
    sql: str,
    mask: list[bool],
    pos: int,
    varchar_cols: set[str],
) -> bool:
    """True when the enum column at pos is a direct argument of an
    N-ary value function (COALESCE/NULLIF/GREATEST/...) that also
    takes a string literal or a known varchar column — DuckDB resolves
    the mix to VARCHAR, so the enum participates as its label
    (probed: typeof(coalesce(m,'x')) = VARCHAR; greatest(m,'sad')
    compares lexically)."""
    if _enum_call_head(sql, mask, pos) not in _ENUM_NARY_FNS:
        return False
    op = _enclosing_open_paren(sql, mask, pos)
    close = _match_paren(sql, mask, op) if op >= 0 else None
    if close is None:
        return False
    for a in split_top_level(sql[op + 1 : close]):
        a = a.strip()
        if _QUOTED_LIT_RE.fullmatch(a):
            return True
        if (
            re.fullmatch(r"(?:[A-Za-z_]\w*\.)?[A-Za-z_]\w*", a)
            and a.split(".")[-1].lower() in varchar_cols
        ):
            return True
    return False


def _case_blocks(sql: str, mask: list[bool]) -> list[tuple[int, int]]:
    """(start, end) spans of every CASE..END block (code text only)."""
    stack: list[int] = []
    out: list[tuple[int, int]] = []
    for km in re.finditer(r"\b(CASE|END)\b", sql, re.IGNORECASE):
        if not all(mask[km.start() : km.end()]):
            continue
        if km.group(1).upper() == "CASE":
            stack.append(km.start())
        elif stack:
            out.append((stack.pop(), km.end()))
    return out


def _innermost_case(blocks, pos: int) -> tuple[int, int] | None:
    inner = None
    for s, e in blocks:
        if s <= pos < e and (inner is None or e - s < inner[1] - inner[0]):
            inner = (s, e)
    return inner


def _enum_simple_case_operand(sql, mask, start: int, end: int) -> bool:
    """True for ``CASE <enum col> WHEN 'lit' ... END`` where EVERY
    WHEN operand of that CASE is a quoted string literal — DuckDB
    compares the label (probed: a non-member literal is false, not an
    error). Anything else keeps the loud analyzer error."""
    head = re.search(r"\bCASE\s*\Z", sql[:start], re.IGNORECASE)
    if head is None or not all(mask[head.start() : start]):
        return False
    blocks = _case_blocks(sql, mask)
    blk = _innermost_case(blocks, start)
    if blk is None or blk[0] != head.start():
        return False
    for wm in re.finditer(r"\bWHEN\b", sql[blk[0] : blk[1]], re.IGNORECASE):
        wpos = blk[0] + wm.start()
        if not all(mask[wpos : wpos + 4]):
            continue
        if _innermost_case(blocks, wpos) != blk:
            continue  # a nested CASE's WHEN
        tm = re.compile(r"\bTHEN\b", re.IGNORECASE).search(sql, wpos, blk[1])
        while tm is not None and (
            not all(mask[tm.start() : tm.end()])
            or _innermost_case(blocks, tm.start()) != blk
        ):
            tm = re.compile(r"\bTHEN\b", re.IGNORECASE).search(
                sql, tm.end(), blk[1]
            )
        if tm is None:
            return False
        if not _QUOTED_LIT_RE.fullmatch(sql[wpos + 4 : tm.start()].strip()):
            return False
    return True


def _enum_case_branch_mixed(sql, mask, start: int) -> bool:
    """True when the enum column at start is itself a THEN/ELSE result
    branch and a SIBLING branch of the same CASE is a string literal —
    DuckDB resolves the branch mix to VARCHAR (probed:
    CASE WHEN p THEN m ELSE 'X' END renders labels)."""
    pre = re.search(r"\b(THEN|ELSE)\s*\Z", sql[:start], re.IGNORECASE)
    if pre is None or not all(mask[pre.start() : start]):
        return False
    blocks = _case_blocks(sql, mask)
    blk = _innermost_case(blocks, start)
    if blk is None:
        return False
    for bm in re.finditer(
        r"\b(?:THEN|ELSE)\s*('(?:[^']|'')*')", sql[blk[0] : blk[1]],
        re.IGNORECASE,
    ):
        kpos = blk[0] + bm.start()
        if all(mask[kpos : kpos + 4]) and _innermost_case(
            blocks, kpos
        ) == blk:
            return True
    return False


_AS_ALIAS_RE = re.compile(
    r"\b((?:[A-Za-z_]\w*\.)?([A-Za-z_]\w*))\s+AS\s+([A-Za-z_]\w*)",
    re.IGNORECASE,
)
# implicit (no-AS) select-list alias: `col x` directly before a list
# separator / closing paren / FROM. Clause words on either side are
# excluded below; a stray FROM-clause `tbl alias` binding is harmless
# unless a column shares the TABLE's name (resolution requires the
# source to be a known complex/enum column).
_IMPLICIT_ALIAS_RE = re.compile(
    r"\b((?:[A-Za-z_]\w*\.)?([A-Za-z_]\w*))\s+([A-Za-z_]\w*)"
    r"\s*(?=,|\)|\bFROM\b|$)",
    re.IGNORECASE,
)
_IMPLICIT_ALIAS_STOP = frozenset(
    """select from where group order by having qualify limit offset
    union intersect except join on using as and or not asc desc nulls
    first last when then else end case between in like ilike similar
    glob is null true false distinct all any some exists values window
    over partition row rows range groups current unbounded preceding
    following filter lateral cross inner left right full natural anti
    semi exclude replace interval set returning into update delete
    insert merge with recursive sample tablesample""".split()
)


def _alias_bindings(sql: str, mask: list) -> dict[str, list[str]]:
    """alias → [source column names] for both AS and implicit forms
    (shared by the enum and complex propagators; r13 closes the no-AS
    gap — ``SELECT a x, b y FROM t`` previously kept Spark semantics
    on x/y). A name bound more than once stays unresolvable."""
    bindings: dict[str, list[str]] = {}
    spans: list[tuple[int, int]] = []
    for m in _AS_ALIAS_RE.finditer(sql):
        if not all(mask[m.start() : m.end()]):
            continue
        alias = m.group(3).lower()
        if alias in _KEYWORDS_NOT_ALIASES:
            continue
        bindings.setdefault(alias, []).append(m.group(2).lower())
        spans.append((m.start(), m.end()))
    for m in _IMPLICIT_ALIAS_RE.finditer(sql):
        if not all(mask[m.start() : m.end()]):
            continue
        if any(s < m.end() and m.start() < e for s, e in spans):
            continue  # overlaps an explicit AS binding
        src = m.group(2).lower()
        alias = m.group(3).lower()
        if (
            src in _IMPLICIT_ALIAS_STOP
            or alias in _IMPLICIT_ALIAS_STOP
            or alias in _KEYWORDS_NOT_ALIASES
        ):
            continue
        bindings.setdefault(alias, []).append(src)
    return bindings


def propagate_enum_aliases(
    sql: str, enum_cols: dict[str, str], blocked: set[str]
) -> dict[str, str]:
    """Extend ``enum_cols`` with SELECT-list aliases of enum columns so
    the table-column pass also resolves subquery output names
    (``SELECT m AS x FROM t ... WHERE x = 'ok'`` — NOTES r10 gap: the
    pass previously read statement TABLE schemas only). Conservative:
    an alias qualifies only when it is bound exactly ONCE in the whole
    statement (a name rebound in another scope could be anything), the
    bound expression is itself a bare/qualified enum column (or an
    earlier-resolved alias — chains close at fixpoint), and the name
    doesn't collide with a real non-enum column. Everything else keeps
    the loud analyzer error."""
    mask = _code_mask(sql)
    bindings = {
        alias: exprs
        for alias, exprs in _alias_bindings(sql, mask).items()
        # user type names can follow AS too (CAST forms are normally
        # rewritten away before this pass runs, but stay defensive)
        if alias not in ENUM_TYPES and alias not in TYPE_ALIASES
    }
    out = dict(enum_cols)
    changed = True
    while changed:
        changed = False
        for alias, exprs in bindings.items():
            if alias in out or alias in blocked or len(exprs) != 1:
                continue
            tn = out.get(exprs[0])
            if tn is not None:
                out[alias] = tn
                changed = True
    return out


def propagate_complex_aliases(
    sql: str, ctypes: dict, blocked: set[str]
) -> dict:
    """Extend the composite closure's column→type-tree map with
    SELECT-list aliases of complex columns, so the schema-typed legs
    also reach derived-table / CTE output names (``SELECT a AS x FROM
    oc ... x < [1,NULL]`` — r12, the enum-alias precedent). Same
    conservative rules as ``propagate_enum_aliases``: the alias must be
    bound exactly once in the statement, to a bare/qualified complex
    column (chains close at fixpoint), and must not collide with a real
    non-complex column."""
    if not ctypes:
        return ctypes
    mask = _code_mask(sql)
    bindings = _alias_bindings(sql, mask)
    out = dict(ctypes)
    changed = True
    while changed:
        changed = False
        for alias, exprs in bindings.items():
            if alias in out or alias in blocked or len(exprs) != 1:
                continue
            t = out.get(exprs[0].split(".")[-1])
            if t is not None:
                out[alias] = t
                changed = True
    return out


# words that follow "AS" without being column aliases (type names in
# CASTs are caught by position too, but cheap to exclude outright)
_KEYWORDS_NOT_ALIASES = frozenset(
    w.lower()
    for w in (
        "SELECT", "STRING", "INT", "INTEGER", "BIGINT", "SMALLINT",
        "TINYINT", "DOUBLE", "FLOAT", "REAL", "BOOLEAN", "DATE",
        "TIMESTAMP", "TIME", "DECIMAL", "NUMERIC", "VARCHAR", "TEXT",
        "BINARY", "ENUM", "STRUCT", "MAP", "ARRAY",
    )
)


def rewrite_enum_table_columns(
    sql: str, enum_cols: dict[str, str], varchar_cols: set[str]
) -> str:
    if not enum_cols:
        return sql
    mask = _code_mask(sql)
    edits: list[tuple[int, int, str]] = []
    # CAST(col AS STRING): every VARCHAR-family spelling is already
    # normalized to STRING by the time this schema-aware pass runs
    for m in re.finditer(
        r"\b(?:TRY_)?CAST\s*\(\s*((?:[A-Za-z_]\w*\.)?([A-Za-z_]\w*))"
        r"\s+AS\s+STRING\s*\)",
        sql,
        re.IGNORECASE,
    ):
        if not all(mask[m.start() : m.end()]):
            continue
        tn = enum_cols.get(m.group(2).lower())
        if tn is not None:
            edits.append(
                (m.start(), m.end(), f"({m.group(1)}.__elabel_{tn})")
            )
    taken = [False] * len(sql)
    for s, e, _ in edits:
        for i in range(s, e):
            taken[i] = True
    # UPDATE / MERGE-arm / DO UPDATE SET '=' assigns, never compares:
    # neither its target nor its value is a comparison operand
    assign_eqs = _set_assignment_eqs(sql, mask)
    for m in _ENUM_QIDENT_RE.finditer(sql):
        if not all(mask[m.start() : m.end()]) or taken[m.start()]:
            continue
        tn = enum_cols.get(m.group(2).lower())
        if tn is None:
            continue
        label = f"{m.group(1)}.__elabel_{tn}"
        rest = sql[m.end() :]
        rm = _ENUM_CMP_RE.match(rest)
        if rm is not None and m.end() + rm.start(1) in assign_eqs:
            continue  # a SET target
        hit = False
        if rm is not None:
            kind = _enum_operand_kind(
                sql, mask, m.end() + rm.end(), enum_cols, varchar_cols
            )
            hit = kind in ("lit", "varchar")
        elif _ENUM_LIKE_RE.match(rest) is not None:
            hit = True  # pattern operand is varchar by construction
        elif (im := _ENUM_IN_RE.match(rest)) is not None:
            open_i = m.end() + im.end() - 1
            close_i = _match_paren(sql, mask, open_i)
            if close_i is not None:
                elems = split_top_level(sql[open_i + 1 : close_i])
                hit = bool(elems) and all(
                    re.fullmatch(r"'(?:[^']|'')*'", e.strip())
                    for e in elems
                )
        if not hit:
            lm = _ENUM_LEFT_CMP_RE.search(sql[: m.start()])
            if (
                lm is not None
                and all(mask[lm.start() : lm.end()])
                and (lm.start() == 0 or sql[lm.start() - 1] not in "<>=!-:")
                and lm.start() not in assign_eqs
            ):
                kind = _enum_left_kind(
                    sql, mask, lm.start(), enum_cols, varchar_cols
                )
                hit = kind in ("lit", "varchar")
        if not hit:
            # direct argument of a varchar-taking function: DuckDB
            # treats the enum as its label there (lower(m) = 'ok')
            hit = _enum_call_head(sql, mask, m.start()) in _ENUM_TEXT_FNS
        if not hit:
            # varchar-mixing contexts DuckDB resolves to the label
            # (late r10): CASE <m> WHEN 'lit', COALESCE(m, 'lit') and
            # friends, and THEN m ELSE 'lit' branch mixes
            hit = (
                _enum_simple_case_operand(sql, mask, m.start(), m.end())
                or _enum_mixed_nary(sql, mask, m.start(), varchar_cols)
                or _enum_case_branch_mixed(sql, mask, m.start())
            )
        if hit:
            edits.append((m.start(), m.end(), label))
    for s, e, rep in sorted(edits, reverse=True):
        sql = sql[:s] + rep + sql[e:]
    return sql


def resolve_type_text(t: str) -> str:
    """A DuckDB type fragment → Spark type text (arrays, STRUCT/MAP
    spellings, duck-only scalars, nested aliases)."""
    out = _rewrite_duck_types(_rewrite_array_type_suffix(t)).strip()
    base = out.split("(")[0].split("<")[0].strip().lower()
    if base == out.lower():  # bare scalar word: map it directly
        if base in TYPE_ALIASES:
            return TYPE_ALIASES[base]
        if base in _DUCK_ONLY_TYPES:
            return _DUCK_ONLY_TYPES[base]
        mapped = _ARRAY_ELEM_TYPES.get(base)
        return out if mapped is None else mapped
    return out


# DuckDB-only scalar type names in CAST positions → value-preserving
# Spark types (the unsigned family widens one size; 128-bit maps to
# Spark's widest decimal)
_DUCK_ONLY_TYPES = {
    "hugeint": "DECIMAL(38,0)", "uhugeint": "DECIMAL(38,0)",
    "utinyint": "SMALLINT", "usmallint": "INT",
    "uinteger": "BIGINT", "ubigint": "DECIMAL(20,0)",
    # float32/float64 spellings Spark's parser rejects (r10 sweep)
    "float4": "FLOAT", "float8": "DOUBLE", "real": "FLOAT",
    # duck TIMESTAMPTZ → naive TIMESTAMP under the pinned-UTC session
    # (offset-suffixed strings parse to the same instant both sides;
    # the AT TIME ZONE direction check reads the ORIGINAL spelling,
    # which runs before this pass — r13 review)
    "timestamptz": "TIMESTAMP",
}

_STRUCT_TYPE_RE = re.compile(
    r"\bSTRUCT\s*\(((?:[^()]|\([^()]*\))*)\)", re.IGNORECASE
)
_MAP_TYPE_CAST_RE = re.compile(
    r"(::\s*|\bAS\s+)MAP\s*\(((?:[^()]|\([^()]*\))*)\)", re.IGNORECASE
)
_COLON_TYPE_RE = re.compile(
    r"(::\s*)(" + "|".join(_DUCK_ONLY_TYPES) + r")\b", re.IGNORECASE
)
_CAST_AS_TYPE_RE = re.compile(
    r"(\bAS\s+)(" + "|".join(_DUCK_ONLY_TYPES) + r")(\s*\))",
    re.IGNORECASE,
)


def _map_type_word(t: str) -> str:
    word = t.strip()
    base = word.split("(")[0].split("<")[0].strip().lower()
    if base == word.lower() and base in TYPE_ALIASES:
        return TYPE_ALIASES[base]  # alias as a STRUCT/MAP field type
    if base in _DUCK_ONLY_TYPES:
        return _DUCK_ONLY_TYPES[base]
    mapped = _ARRAY_ELEM_TYPES.get(base)
    return word if mapped is None else mapped


def _rewrite_duck_types(sql: str) -> str:
    """DuckDB type spellings Spark's parser rejects, in TYPE positions:
    ``STRUCT(a INT, b VARCHAR)`` → ``STRUCT<a: INT, b: STRING>``
    (unambiguous anywhere — a struct-VALUE call with ``name type``
    fields is not valid SQL, and single-token fields leave the text
    untouched), ``::MAP(K, V)`` / ``CAST(x AS MAP(K, V))`` →
    ``MAP<K, V>``, and the unsigned/128-bit scalar family after ``::``
    or as a CAST tail (the closing-paren anchor keeps column aliases
    named like types out of reach)."""
    up = sql.upper()
    if (
        "STRUCT" not in up
        and "MAP" not in up
        and not any(t.upper() in up for t in _DUCK_ONLY_TYPES)
        and not any(n.upper() in up for n in TYPE_ALIASES)
    ):
        return sql
    mask = _code_mask(sql)

    def sub_struct(m: re.Match) -> str:
        if not all(mask[m.start() : m.end()]):
            return m.group(0)
        fields = split_top_level(m.group(1))
        out = []
        for f in fields:
            fm = re.match(r"^\s*(\w+)\s+(\S.*?)\s*$", f)
            if fm is None:
                return m.group(0)  # not type syntax: leave verbatim
            out.append(f"{fm.group(1)}: {_map_type_word(fm.group(2))}")
        return "STRUCT<" + ", ".join(out) + ">"

    def sub_map(m: re.Match) -> str:
        if not all(mask[m.start() : m.end()]):
            return m.group(0)
        parts = split_top_level(m.group(2))
        if len(parts) != 2:
            return m.group(0)
        return (
            m.group(1)
            + "MAP<"
            + ", ".join(_map_type_word(p) for p in parts)
            + ">"
        )

    def sub_scalar(m: re.Match) -> str:
        if not all(mask[m.start() : m.end()]):
            return m.group(0)
        tail = m.group(3) if m.lastindex == 3 else ""
        return m.group(1) + _DUCK_ONLY_TYPES[m.group(2).lower()] + tail

    prev = None
    while prev != sql:  # nested STRUCT types resolve innermost-first
        prev = sql
        sql = _STRUCT_TYPE_RE.sub(sub_struct, sql)
        mask = _code_mask(sql)
    sql = _MAP_TYPE_CAST_RE.sub(sub_map, sql)
    mask = _code_mask(sql)
    sql = _COLON_TYPE_RE.sub(sub_scalar, sql)
    mask = _code_mask(sql)
    sql = _CAST_AS_TYPE_RE.sub(sub_scalar, sql)
    sql = _substitute_type_aliases(sql)
    return sql


# DuckDB treats the whole VARCHAR alias family as ONE length-less text
# type: TEXT / STRING / [N]VARCHAR / [BP]CHAR / CHARACTER [VARYING],
# with or without a length modifier, all mean plain VARCHAR and any
# ``(n)`` is parsed then IGNORED (probed: ``'abcd'::VARCHAR(2)`` =
# 'abcd'). Spark rejects TEXT/NVARCHAR/bare-CHAR outright and ENFORCES
# VARCHAR(n)/CHAR(n) — truncation/padding, a silent value divergence.
# Rewrite every family spelling in TYPE positions to STRING. Positions
# only: ``text`` is also a COLUMN of the documents fixture and a
# plausible alias name, so no bare-word sweep — after ``::``, as the
# AS-type tail of a MATCHED [TRY_]CAST span (span-anchored, unlike the
# duck-only scalar tail sub, because ``AS text)`` is a realistic
# column-alias spelling), and in a CREATE TABLE column-list paren.
_VF_TYPE = rf"(?:{_TEXT_FAMILY_RE_SRC})"
_VF_LEN = r"(?:\s*\(\s*\d+\s*\))?"
_VF_HINT_RE = re.compile(
    r"::|\b(?:TRY_)?CAST\s*\(|^\s*CREATE\b.*?\bTABLE\b",
    re.IGNORECASE | re.DOTALL,
)
_VF_COLON_RE = re.compile(rf"(::\s*){_VF_TYPE}\b{_VF_LEN}", re.IGNORECASE)
_VF_TAIL_RE = re.compile(rf"\bAS\s+{_VF_TYPE}\b{_VF_LEN}\s*$", re.IGNORECASE)
_VF_DDL_RE = re.compile(rf"(\w+\s+){_VF_TYPE}\b{_VF_LEN}", re.IGNORECASE)
_VF_CREATE_RE = re.compile(
    r"^\s*CREATE\s+(?:OR\s+REPLACE\s+)?(?:TEMP(?:ORARY)?\s+)?TABLE\s+"
    r"(?:IF\s+NOT\s+EXISTS\s+)?[\w.\"]+\s*(\()",
    re.IGNORECASE,
)


def _rewrite_varchar_family(sql: str) -> str:
    if _VF_HINT_RE.search(sql) is None:
        return sql
    mask = _code_mask(sql)

    def colon_sub(m: re.Match) -> str:
        if not all(mask[m.start() : m.end()]):
            return m.group(0)
        return m.group(1) + "STRING"

    sql = _VF_COLON_RE.sub(colon_sub, sql)
    changed = True
    while changed:  # innermost-last: the $-anchored tail resolves one
        changed = False  # CAST per scan, nested CASTs over iterations
        mask = _code_mask(sql)
        for m in re.finditer(r"\b(?:TRY_)?CAST\s*\(", sql, re.IGNORECASE):
            if not all(mask[m.start() : m.end()]):
                continue
            close_i = _match_paren(sql, mask, m.end() - 1)
            if close_i is None:
                continue
            inner = sql[m.end() : close_i]
            tm = _VF_TAIL_RE.search(inner)
            if tm is None or tm.group(0).upper().endswith("STRING"):
                continue
            sql = (
                sql[: m.end()]
                + inner[: tm.start()]
                + "AS STRING"
                + sql[close_i:]
            )
            changed = True
            break
    cm = _VF_CREATE_RE.match(sql)
    if cm is not None:
        mask = _code_mask(sql)
        open_i = cm.end(1) - 1
        close_i = _match_paren(sql, mask, open_i)
        if close_i is not None:

            def ddl_sub(m: re.Match) -> str:
                if not all(mask[open_i + 1 + m.start() : open_i + 1 + m.end()]):
                    return m.group(0)
                return m.group(1) + "STRING"

            body = _VF_DDL_RE.sub(ddl_sub, sql[open_i + 1 : close_i])
            sql = sql[: open_i + 1] + body + sql[close_i:]
    return sql


def _substitute_type_aliases(sql: str) -> str:
    """CREATE TYPE aliases in TYPE positions: after ``::``, as a
    paren-anchored CAST tail, and — in CREATE TABLE column lists —
    as the word FOLLOWING a column name."""
    if not TYPE_ALIASES:
        return sql
    mask = _code_mask(sql)
    names = "|".join(re.escape(n) for n in TYPE_ALIASES)

    def sub(m: re.Match) -> str:
        if not all(mask[m.start() : m.end()]):
            return m.group(0)
        if m.group(1).strip().upper() in (
            "TABLE", "EXISTS", "IF", "REPLACE", "TEMP", "TEMPORARY",
            "CREATE", "OR", "NOT",
        ):
            return m.group(0)  # a TABLE named like the alias, etc.
        tail = m.group(3) if (m.lastindex or 0) >= 3 else ""
        return m.group(1) + TYPE_ALIASES[m.group(2).lower()] + tail

    sql = re.sub(rf"(::\s*)({names})\b", sub, sql, flags=re.IGNORECASE)
    mask = _code_mask(sql)
    sql = re.sub(
        rf"(\bAS\s+)({names})(\s*\))", sub, sql, flags=re.IGNORECASE
    )
    if re.match(
        r"\s*CREATE\s+(?:OR\s+REPLACE\s+)?(?:TEMP(?:ORARY)?\s+)?TABLE\b",
        sql,
        re.IGNORECASE,
    ):
        mask = _code_mask(sql)
        sql = re.sub(
            rf"(\w+\s+)({names})\b", sub, sql, flags=re.IGNORECASE
        )
    return sql


def _rewrite_array_type_suffix(sql: str) -> str:
    if "[" not in sql:
        return sql
    mask = _code_mask(sql)

    def sub(m: re.Match) -> str:
        if not all(mask[m.start() : m.end()]):
            return m.group(0)
        base = m.group(1)
        name = base.split("(")[0].strip().lower()
        if name not in _ARRAY_ELEM_TYPES:
            return m.group(0)
        mapped = _ARRAY_ELEM_TYPES[name]
        out = base if mapped is None else mapped
        for _ in range(m.group(2).count("[")):
            out = f"ARRAY<{out}>"
        return out

    return _ARRAY_TYPE_SUFFIX.sub(sub, sql)


def _duck_str_slice(s: str, lo: int, hi: int) -> str:
    """DuckDB VARCHAR slice semantics: 1-based inclusive bounds, negatives
    count from the end, out-of-range clamps, inverted range → ''."""
    n = len(s)
    lo = n + lo + 1 if lo < 0 else max(lo, 1)
    hi = n + hi + 1 if hi < 0 else min(hi, n)
    return s[lo - 1 : hi] if hi >= lo else ""


def _sql_str(s: str) -> str:
    return "'" + s.replace("'", "''") + "'"


_INT_LIT_RE = re.compile(r"-?\d+")


def _subscript_repl(base: str, str_lit: str | None, idx: str) -> str:
    """``base[i]`` → Spark, DuckDB semantics: 1-based, negative from end,
    out-of-range → NULL (list) / '' (varchar), index 0 → NULL / ''."""
    ilit = _INT_LIT_RE.fullmatch(idx)
    if str_lit is not None:
        if ilit:
            return _sql_str(_duck_str_slice(str_lit, int(idx), int(idx)))
        expr = (
            f"substring({base}, CASE WHEN ({idx}) < 0 THEN"
            f" length({base}) + ({idx}) + 1 ELSE ({idx}) END, 1)"
        )
        return f"CASE WHEN ({idx}) = 0 THEN '' ELSE {expr} END"
    bl = base.lstrip("(").lstrip().lower()
    if bl.startswith("map(") or bl.startswith("map_from_arrays("):
        # map-constructor base: keep the element_at spelling so the
        # nary _tpl_element_at applies DuckDB's map[k] → LIST wrapping
        return f"element_at({base}, {idx})"
    if ilit and int(idx) == 0:
        # duck ([..])[0] → NULL; Spark's element_at(_, 0) raises. An
        # always-NULL index keeps the element type without evaluating.
        return f"try_element_at({base}, CAST(NULL AS INT))"
    # try_element_at: out-of-range → NULL like DuckDB (ANSI element_at
    # raises). A non-literal index evaluating to 0 still raises — typed
    # guard would break string map keys, so that edge stays loud.
    return f"try_element_at({base}, {idx})"


def _slice_repl(
    base: str, str_lit: str | None, a: str, b: str, step: str | None, uid: int
) -> str | None:
    """``base[a:b(:step)]`` → Spark with DuckDB bound normalization:
    missing bounds default to the ends, negatives count from the end,
    0 acts as 1, out-of-range clamps, inverted range → empty."""
    alit = a == "" or _INT_LIT_RE.fullmatch(a)
    blit = b == "" or _INT_LIT_RE.fullmatch(b)
    if str_lit is not None:
        if step is not None:
            return None
        if alit and blit:
            lo = int(a) if a else 1
            hi = int(b) if b else len(str_lit)
            return _sql_str(_duck_str_slice(str_lit, lo, hi))
        lo = (
            f"CASE WHEN ({a}) < 0 THEN length({base}) + ({a}) + 1"
            f" WHEN ({a}) < 1 THEN 1 ELSE ({a}) END"
            if a
            else "1"
        )
        hi = (
            f"CASE WHEN ({b}) < 0 THEN length({base}) + ({b}) + 1"
            f" ELSE least(({b}), length({base})) END"
            if b
            else f"length({base})"
        )
        return f"substring({base}, {lo}, greatest(0, ({hi}) - ({lo}) + 1))"
    if alit and blit and a and b and int(a) > 0 and int(b) > 0:
        # positive-literal fast path: no size() needed, base evaluated
        # once (Spark clamps an over-long slice length itself)
        core = f"slice({base}, {int(a)}, {max(0, int(b) - int(a) + 1)})"
    else:
        # bounds needing size(): evaluate base ONCE via a singleton
        # transform (repeated-subexpression re-eval is the r10 perf
        # gotcha), normalize inside the lambda
        lam = f"__b{uid}"
        if not a:
            lo = "1"
        elif alit:
            ia = int(a)
            lo = (
                str(ia)
                if ia > 0
                else ("1" if ia == 0 else f"greatest(1, size({lam}) + {ia} + 1)")
            )
        else:
            lo = (
                f"CASE WHEN ({a}) < 0 THEN greatest(1, size({lam}) + ({a}) + 1)"
                f" WHEN ({a}) < 1 THEN 1 ELSE ({a}) END"
            )
        if not b:
            hi = f"size({lam})"
        elif blit:
            ib = int(b)
            hi = f"least({ib}, size({lam}))" if ib >= 0 else f"size({lam}) + {ib} + 1"
        else:
            hi = (
                f"CASE WHEN ({b}) < 0 THEN size({lam}) + ({b}) + 1"
                f" ELSE least(({b}), size({lam})) END"
            )
        core = (
            f"element_at(transform(array({base}), {lam} ->"
            f" slice({lam}, {lo}, greatest(0, ({hi}) - ({lo}) + 1))), 1)"
        )
    if step is not None:
        core = f"filter({core}, (__x{uid}, __i{uid}) -> __i{uid} % {step} = 0)"
    return core


_INT_TYPE_NAMES = (
    r"(?:INTEGER|INT1|INT2|INT4|INT8|INT|BIGINT|SMALLINT|TINYINT|HUGEINT|"
    r"SIGNED|UBIGINT|UINTEGER|USMALLINT|UTINYINT|UHUGEINT)"
)
_FLOAT_TAIL_RE = re.compile(
    r"(?:::\s*(?:DOUBLE|FLOAT8|FLOAT4|FLOAT|REAL)"
    r"|AS\s+(?:DOUBLE|FLOAT8|FLOAT4|FLOAT|REAL)\s*\))\s*$",
    re.IGNORECASE,
)
# single-precision subset of the float tails: duck's FLOAT/FLOAT4/REAL
# are one 4-byte type whose ::VARCHAR goes through the Grisu3 float32
# kernel, not the double renderer (r14; FLOAT8 must not match)
_F32_TAIL_RE = re.compile(
    r"(?:::\s*(?:FLOAT4|FLOAT|REAL)(?!\s*8)(?!\w)"
    r"|AS\s+(?:FLOAT4|FLOAT|REAL)\s*\))\s*$",
    re.IGNORECASE,
)
# any double-precision cast ANYWHERE in an operand (not just the
# tail): with a trailing f32 cast on a mere sub-operand, duck's
# REAL+DOUBLE promotion makes the whole expression DOUBLE (r15)
_F64_CAST_ANY_RE = re.compile(
    r"(?:::\s*(?:DOUBLE|FLOAT8)(?!\w)|\bAS\s+(?:DOUBLE|FLOAT8)\s*\))",
    re.IGNORECASE,
)
_DEC_TAIL_RE = re.compile(
    r"(?:::\s*(?:DECIMAL|NUMERIC)(?:\s*\(\s*\d+(?:\s*,\s*\d+)?\s*\))?"
    r"|AS\s+(?:DECIMAL|NUMERIC)(?:\s*\(\s*\d+(?:\s*,\s*\d+)?\s*\))?\s*\))\s*$",
    re.IGNORECASE,
)
_COLON_INT_CAST_RE = re.compile(rf"::\s*{_INT_TYPE_NAMES}(?![\w(])", re.IGNORECASE)
_VARCHAR_TYPE_NAMES = r"(?:VARCHAR|TEXT|STRING|NVARCHAR|BPCHAR)"
_COLON_VC_CAST_RE = re.compile(
    rf"::\s*{_VARCHAR_TYPE_NAMES}(?![\w(])", re.IGNORECASE
)
_EXP_LIT_RE = re.compile(r"[+-]?(?:\d+\.?\d*|\.\d+)[eE][+-]?\d+")
_CAST_LIT_INT_RE = re.compile(
    rf"\b(TRY_CAST|CAST)\s*\(\s*('(?:[^']|'')*'|[+-]?\d+\.\d+(?:[eE][+-]?\d+)?"
    rf"|[+-]?\d+[eE][+-]?\d+)\s+AS\s+({_INT_TYPE_NAMES})\s*\)",
    re.IGNORECASE,
)
_STR_LIT_TAIL_RE = re.compile(r"'(?:[^']|'')*'\s*$")
_NUM_LIT_TAIL_RE = re.compile(
    r"(?<![\w.])[+-]?(?:\d+\.\d+(?:[eE][+-]?\d+)?|\d+[eE][+-]?\d+)\s*$"
)


def _duck_round_to_int(text: str, *, half_even: bool = False) -> int | None:
    """DuckDB VARCHAR/DECIMAL → integer cast semantics: trims spaces,
    accepts UNSIGNED 0x hex and exponents, ROUNDS half away from zero
    (probed: '2.5'::INT = 3, '2.5e0'::INT = 3, 1.5::DECIMAL(4,1)::INT
    = 2). Signed hex ('-0x10') is a DuckDB Conversion Error — return
    None so CAST errors / TRY_CAST NULLs in the engine. half_even=True
    for bare DOUBLE-typed exponent literals (probed: 2.5e0::INT = 2,
    3.5e0::INT = 4). None = not parseable here (leave for the engine
    to accept or reject loudly)."""
    t = text.strip()
    try:
        if re.fullmatch(r"0[xX][0-9a-fA-F]+", t):
            return int(t, 16)
        if re.fullmatch(r"[+-]0[xX][0-9a-fA-F]+", t):
            return None  # DuckDB rejects signed hex
        if re.fullmatch(r"[+-]?\d+", t):
            return int(t)
        d = Decimal(t)
    except Exception:  # noqa: BLE001
        return None
    if not d.is_finite():
        return None
    rounding = ROUND_HALF_EVEN if half_even else ROUND_HALF_UP
    return int(d.quantize(Decimal(1), rounding=rounding))


_BOOL_CAST_LIT_RE = re.compile(
    r"\b(TRY_CAST|CAST)\s*\(\s*'((?:[^']|'')*)'\s+AS\s+"
    r"(?:BOOLEAN|BOOL|LOGICAL)\s*\)"
    r"|'((?:[^']|'')*)'\s*::\s*(?:BOOLEAN|BOOL|LOGICAL)(?![\w(])",
    re.IGNORECASE,
)


_IDX_LAMBDA_CALL = re.compile(
    r"\b(?:list_transform|array_transform|list_apply|apply|"
    r"list_filter|array_filter|filter)\s*\(",
    re.IGNORECASE,
)
_LAMBDA2_RE = re.compile(
    r"\(\s*([A-Za-z_]\w*)\s*,\s*([A-Za-z_]\w*)\s*\)\s*->"
)


def _rewrite_lambda_index_base(sql: str) -> str:
    """DuckDB's two-parameter list lambdas pass a 1-BASED element
    index; Spark's higher-order functions pass 0-based (probed:
    list_transform([10,20], (x, i) -> i) = [1, 2] in DuckDB, [0, 1]
    in Spark — silent wrong values). Substitute the index parameter's
    body occurrences with (i + 1). Runs EARLY, before any pass emits
    Spark-semantics filter/transform lambdas of its own."""
    if _IDX_LAMBDA_CALL.search(sql) is None:
        return sql
    guard = 0
    cursor = 0  # forward-only: edits land after it, so no position
    # in the already-scanned prefix can go stale (a done-SET of match
    # starts breaks — an earlier call's edit shifts later heads)
    while guard < 200:
        guard += 1
        mask = _code_mask(sql)
        m = next(
            (
                c
                for c in _IDX_LAMBDA_CALL.finditer(sql, cursor)
                if all(mask[c.start() : c.end()])
            ),
            None,
        )
        if m is None:
            return sql
        cursor = m.end()  # past the head only: nested calls still seen
        depth, i = 1, m.end()
        while i < len(sql) and depth:
            if mask[i]:
                if sql[i] == "(":
                    depth += 1
                elif sql[i] == ")":
                    depth -= 1
            i += 1
        if depth:
            return sql
        seg = sql[m.end() : i - 1]
        # the call's OWN lambda is a TOP-LEVEL argument that STARTS
        # with the 2-param header — a lambda nested inside another
        # argument belongs to the inner call, which the cursor scan
        # reaches on its own (review r10: matching the first lambda
        # anywhere shifted inner reduce accumulators and missed the
        # outer lambda entirely)
        smask = mask[m.end() : i - 1]
        d2 = 0
        starts = [0]
        for k, ch in enumerate(seg):
            if not smask[k]:
                continue
            if ch in "([":
                d2 += 1
            elif ch in ")]":
                d2 -= 1
            elif ch == "," and d2 == 0:
                starts.append(k + 1)
        starts.append(len(seg) + 1)
        pieces: list[str] = []
        prev = 0
        changed = False
        for a0, a1 in zip(starts, starts[1:]):
            arg = seg[a0 : a1 - 1]
            lm = _LAMBDA2_RE.match(arg, len(arg) - len(arg.lstrip()))
            if lm is None:
                continue
            body = arg[lm.end() :]
            idx = lm.group(2)
            bmask = _code_mask(body)
            # A NESTED lambda header that re-declares the same name —
            # (y, i) ->, (i, z) ->, or i -> — shadows the outer index
            # for its whole body: substituting there corrupts the
            # header ((i + 1) in a parameter list is a parse error) and
            # would double-shift the inner call's own occurrences when
            # the cursor scan reaches it (review r11 / ADVICE). Exclude
            # those spans: header start → the comma/close-paren ending
            # the nested lambda's argument slot.
            shadow: list[tuple[int, int]] = []
            rebind_re = re.compile(
                rf"\(\s*(?:[A-Za-z_]\w*\s*,\s*)?{re.escape(idx)}"
                rf"\s*(?:,\s*[A-Za-z_]\w*\s*)?\)\s*->"
                rf"|(?<![\w.`]){re.escape(idx)}\s*->"
            )
            for hm in rebind_re.finditer(body):
                if not all(bmask[hm.start() : hm.end()]):
                    continue
                d2n, j = 0, hm.end()
                while j < len(body):
                    if bmask[j]:
                        ch2 = body[j]
                        if ch2 in "([":
                            d2n += 1
                        elif ch2 in ")]":
                            if d2n == 0:
                                break
                            d2n -= 1
                        elif ch2 == "," and d2n == 0:
                            break
                    j += 1
                shadow.append((hm.start(), j))
            out, pos = [], 0
            for om in re.finditer(
                rf"(?<![\w.`]){re.escape(idx)}(?![\w.(])", body
            ):
                if not all(bmask[om.start() : om.end()]):
                    continue
                if any(a <= om.start() < b for a, b in shadow):
                    continue
                out.append(body[pos : om.start()])
                out.append(f"({idx} + 1)")
                pos = om.end()
            out.append(body[pos:])
            new_body = "".join(out)
            if new_body != body:
                changed = True
                pieces.append(seg[prev : a0 + lm.end()])
                pieces.append(new_body)
                prev = a1 - 1
        if changed:
            pieces.append(seg[prev:])
            sql = sql[: m.end()] + "".join(pieces) + sql[i - 1 :]
    return sql


def _rewrite_bool_cast_lits(sql: str) -> str:
    """DuckDB VARCHAR→BOOLEAN accepts EXACTLY true/false/t/f/1/0
    (case-insensitive, NO whitespace trim — ' true ' is a Conversion
    Error); Spark also takes y/n/yes/no and trims. Literal forms:
    accepted values fold to TRUE/FALSE; rejected ones raise (CAST) or
    NULL (TRY_CAST) like DuckDB (probed r10)."""
    if _BOOL_CAST_LIT_RE.search(sql) is None:
        return sql
    mask = _code_mask(sql)
    out: list[str] = []
    pos = 0
    for m in _BOOL_CAST_LIT_RE.finditer(sql):
        if m.start() < pos or not mask[m.end() - 1]:
            continue  # e.g. the whole match sits inside a literal
        is_cast_form = m.group(2) is not None
        if is_cast_form and not mask[m.start()]:
            continue
        lit = m.group(2) if is_cast_form else m.group(3)
        val = lit.replace("''", "'")
        lv = val.lower()
        if lv in ("true", "t", "1"):
            repl = "TRUE"
        elif lv in ("false", "f", "0"):
            repl = "FALSE"
        elif is_cast_form and (m.group(1) or "").upper() == "TRY_CAST":
            repl = "CAST(NULL AS BOOLEAN)"
        else:
            raise ValueError(f"Could not convert string '{val}' to BOOL")
        out.append(sql[pos : m.start()])
        out.append(repl)
        pos = m.end()
    out.append(sql[pos:])
    return "".join(out)


_GRTLST_RE = re.compile(r"(?<![\w.])(greatest|least)\s*\(", re.IGNORECASE)


def _rewrite_greatest_least_mixed(sql: str) -> str:
    """duck coerces STRING literals in greatest/least to the other
    arguments' type (probed r13: greatest('5', 10) = 10; '5.5' in an
    all-INT context parses half-away → 6; a decimal/double sibling
    keeps the fraction; DATE-literal siblings pull strings to DATE;
    unparseable strings are duck's per-value Conversion Error). Spark
    refuses the mix at analysis (DATA_DIFF_TYPES) — convert the
    string LITERALS at rewrite time when every other argument is a
    numeric/DATE literal or NULL; column/expression arguments leave
    the call native (loud parity residue; coalesce/CASE/if mixes
    already coincide natively, probed)."""
    if _GRTLST_RE.search(sql) is None:
        return sql
    guard = 0
    skipped: set[int] = set()
    while guard < 100:
        guard += 1
        mask = _code_mask(sql)
        m = next(
            (
                c
                for c in _GRTLST_RE.finditer(sql)
                if all(mask[c.start() : c.end()])
                and c.start() not in skipped
            ),
            None,
        )
        if m is None:
            return sql
        close = _match_paren(sql, mask, m.end() - 1)
        if close is None:
            return sql
        args = [a.strip() for a in split_top_level(sql[m.end() : close])]
        str_idx = [
            i for i, a in enumerate(args)
            if _BOOL_STR_LIT_RE.fullmatch(a) is not None
        ]

        def num_kind(a: str) -> str | None:
            if re.fullmatch(r"[-+]?\d+", a):
                return "int"
            if re.fullmatch(
                r"[-+]?(?:\d+\.\d*|\.\d+)(?:[eE][-+]?\d+)?"
                r"|[-+]?\d+[eE][-+]?\d+",
                a,
            ):
                return "frac"
            if re.match(r"(?i)DATE\s*'", a):
                return "date"
            if a.upper() == "NULL":
                return "null"
            return None

        others = [a for i, a in enumerate(args) if i not in str_idx]
        kinds = [num_kind(a) for a in others]
        if not str_idx or not others or any(k is None for k in kinds):
            skipped.add(m.start())
            continue
        ks = set(kinds) - {"null"}
        new_args = list(args)
        ok = bool(ks)
        if ks == {"int"}:
            for i in str_idx:
                v = _duck_round_to_int(args[i][1:-1].replace("''", "'"))
                if v is None or not (-(2**63) <= v <= 2**63 - 1):
                    # out-of-INT64 strings are duck's loud Conversion
                    # Error — the unrewritten mix is Spark's loud
                    # DATA_DIFF_TYPES (review r13: a silent wrong
                    # value otherwise)
                    ok = False
                    break
                new_args[i] = str(v)
        elif ks and ks <= {"int", "frac"}:
            # a fractional sibling makes duck's context DOUBLE (typeof
            # probed), so emit a string→DOUBLE cast: '5.50' renders
            # 5.5 (not DECIMAL '5.50'), '1e400' overflows to Infinity
            # like duck instead of a literal-range parse error, and
            # nan/inf special strings pass through (review r13)
            for i in str_idx:
                body = args[i][1:-1].replace("''", "'").strip()
                if re.fullmatch(
                    r"[-+]?(?:\d+(?:\.\d*)?|\.\d+)(?:[eE][-+]?\d+)?"
                    r"|(?i:[-+]?(?:nan|inf|infinity))",
                    body,
                ):
                    esc = body.replace("'", "''")
                    new_args[i] = f"CAST('{esc}' AS DOUBLE)"
                else:
                    ok = False
                    break
        elif ks == {"date"}:
            for i in str_idx:
                new_args[i] = f"DATE {args[i]}"
        else:
            ok = False
        if not ok:
            skipped.add(m.start())
            continue
        sql = (
            sql[: m.start()]
            + f"{m.group(1)}({', '.join(new_args)})"
            + sql[close + 1 :]
        )
        skipped = {s for s in skipped if s < m.start()}
    return sql


def _rewrite_int_cast_rounding(sql: str) -> str:
    """DuckDB ROUNDS casts to integer types where Spark TRUNCATES (r10
    sweep; NOTES.md continuity rule). Handled shapes, by operand:

    - string literal → value computed here with DuckDB parse rules
      (half away from zero, 0x hex, exponents); unparseable literals are
      left for the engine so CAST still errors and TRY_CAST still NULLs
    - decimal/exponent literal → computed here (half away from zero)
    - expression ending in a ::DOUBLE/::FLOAT cast → bround() (DuckDB
      rounds DOUBLE→int half to EVEN, probed: 2.5→2, 3.5→4)

    A bare double/decimal COLUMN cast is left truncating — no type
    information at rewrite time (documented delta; the schema-aware app
    passes cover typed columns where it matters)."""
    # CAST('lit' AS INT) / TRY_CAST('lit' AS INT) and numeric literals
    def cast_sub(m: re.Match) -> str:
        fn, lit, ty = m.group(1).upper(), m.group(2), m.group(3)
        if lit.startswith("'"):
            v = _duck_round_to_int(lit[1:-1].replace("''", "'"))
        else:
            # bare eE-literals are DOUBLE in DuckDB → half-to-even;
            # plain decimals are DECIMAL → half-away (both probed)
            v = _duck_round_to_int(lit, half_even="e" in lit.lower())
        if v is None:
            return m.group(0)
        return f"{fn}({v} AS {ty})"

    # run over the FULL text (the literal operand spans a quoted
    # segment), mask-checking the CAST keyword itself
    mask0 = _code_mask(sql)
    pieces: list[str] = []
    last = 0
    for m in _CAST_LIT_INT_RE.finditer(sql):
        if not mask0[m.start()]:
            continue
        pieces.append(sql[last : m.start()])
        pieces.append(cast_sub(m))
        last = m.end()
    pieces.append(sql[last:])
    sql = "".join(pieces)
    # CAST(expr AS INT) where expr itself ends in a ::DOUBLE/::DECIMAL
    # cast (the nested-CAST spelling of the chains below)
    guard = 0
    while guard < 100:
        guard += 1
        mask = _code_mask(sql)
        hit = None
        for m in re.finditer(r"\b(?:TRY_CAST|CAST)\s*\(", sql, re.IGNORECASE):
            if not mask[m.start()]:
                continue
            close = _match_paren(sql, mask, m.end() - 1)
            if close is None:
                continue
            inner = sql[m.end() : close]
            as_span = None
            for am in re.finditer(r"\bAS\b", inner, re.IGNORECASE):
                p = m.end() + am.start()
                if not mask[p]:
                    continue
                depth = 0
                for k in range(m.end(), p):
                    if mask[k]:
                        if sql[k] in "([":
                            depth += 1
                        elif sql[k] in ")]":
                            depth -= 1
                if depth == 0:
                    as_span = am.span()
            if as_span is None:
                continue
            ty = inner[as_span[1] :].strip()
            op = inner[: as_span[0]].strip()
            if not re.fullmatch(_INT_TYPE_NAMES, ty, re.IGNORECASE):
                continue
            if _FLOAT_TAIL_RE.search(op):
                fn = "bround"
            elif _DEC_TAIL_RE.search(op):
                fn = "round"
            else:
                continue
            hit = (m.end(), close, f"{fn}({op}) AS {ty}")
            break
        if hit is None:
            break
        s, e, repl = hit
        sql = sql[:s] + repl + sql[e:]
    # x::INT forms
    guard = 0
    while guard < 100:
        guard += 1
        mask = _code_mask(sql)
        hit = None
        for m in _COLON_INT_CAST_RE.finditer(sql):
            if not all(mask[m.start() : m.end()]):
                continue
            ty = m.group(0)[2:].strip()
            start = _cast_chain_operand_start(sql, mask, m.start())
            if start is None:
                continue
            op = sql[start : m.start()].strip()
            if _STR_LIT_TAIL_RE.fullmatch(op):
                v = _duck_round_to_int(op[1:-1].replace("''", "'"))
                if v is None:
                    continue
                hit = (start, m.end(), f"CAST({v} AS {ty})")
                break
            if _NUM_LIT_TAIL_RE.fullmatch(op):
                v = _duck_round_to_int(op, half_even="e" in op.lower())
                if v is None:
                    continue
                hit = (start, m.end(), f"CAST({v} AS {ty})")
                break
            if _FLOAT_TAIL_RE.search(op):
                hit = (start, m.end(), f"CAST(bround({op}) AS {ty})")
                break
            if _DEC_TAIL_RE.search(op):
                # DECIMAL→int rounds half AWAY from zero (Spark round's
                # HALF_UP), unlike DOUBLE's half-even
                hit = (start, m.end(), f"CAST(round({op}) AS {ty})")
                break
        if hit is None:
            break
        s, e, repl = hit
        sql = sql[:s] + repl + sql[e:]
    # x::VARCHAR where x is detectably DOUBLE / FLOAT / ym-interval:
    # DuckDB's float text is shortest-round-trip ('1e+20', '1.0',
    # 'inf' — r10 sweep) where Spark's is Java's ('1.0E20'); REAL goes
    # through the Grisu3 float32 kernel and year-month intervals
    # through the ym kernel (r14). Exponent literals compute here.
    # Both the ``::`` and the ``CAST(x AS VARCHAR)`` spellings route
    # through the same classifier.
    guard = 0
    while guard < 100:
        guard += 1
        mask = _code_mask(sql)
        hit = None
        for m in _COLON_VC_CAST_RE.finditer(sql):
            if not all(mask[m.start() : m.end()]):
                continue
            start = _cast_chain_operand_start(sql, mask, m.start())
            if start is None:
                continue
            op = sql[start : m.start()].strip()
            # a bare-string operand whose left context is the INTERVAL
            # keyword is a typed literal: pull the keyword in so the
            # ym classifier sees it (r14)
            if _BOOL_STR_LIT_RE.fullmatch(op):
                km = re.search(r"(?i)INTERVAL\s*$", sql[:start])
                if km is not None and all(mask[km.start() : start]):
                    start = km.start()
                    op = sql[start : m.start()].strip()
            repl = _vc_kernel_repl(op)
            if repl is not None:
                hit = (start, m.end(), repl)
                break
        if hit is None:
            break
        s, e, repl = hit
        sql = sql[:s] + repl + sql[e:]
    # CAST(x AS VARCHAR) function spelling — same classification over
    # the inner operand (r14: this form previously kept Spark-native
    # float text)
    guard = 0
    while guard < 100:
        guard += 1
        mask = _code_mask(sql)
        hit = None
        for m in re.finditer(r"(?i)\bCAST\s*\(", sql):
            if not all(mask[m.start() : m.end()]):
                continue
            if re.search(
                r"duck_(?:ym|dtivl)_text(?:_prov)?\(\s*$", sql[: m.start()]
            ):
                continue  # our own emitted inner cast — terminal
            close = _match_paren(sql, mask, m.end() - 1)
            if close is None:
                continue
            inner = sql[m.end() : close]
            am = re.search(
                r"(?i)\s+AS\s+" + _VARCHAR_TYPE_NAMES + r"\s*$", inner
            )
            if am is None or not _paren_balanced(inner[: am.start()]):
                continue
            op = inner[: am.start()].strip()
            repl = _vc_kernel_repl(op)
            if repl is not None:
                hit = (m.start(), close + 1, repl)
                break
        if hit is None:
            return sql
        s, e, repl = hit
        sql = sql[:s] + repl + sql[e:]
    return sql


def _vc_kernel_repl(op: str) -> str | None:
    """DuckDB-text replacement for a VARCHAR cast of ``op``, or None
    to keep the native cast: exponent literals fold at rewrite time;
    float64/float32 cast tails route to the duck_double_text /
    duck_float32_text kernels (parenthesized operands test their
    stripped core); ym-interval literals to duck_ym_text (r14)."""
    if _EXP_LIT_RE.fullmatch(op):
        try:
            return "'" + repr(float(op)) + "'"
        except ValueError:
            return None
    core = op
    while (
        core.startswith("(")
        and core.endswith(")")
        and _paren_balanced(core[1:-1])
    ):
        core = core[1:-1].strip()
    if re.match(r"(?i)^\s*[-+(]*\s*INTERVAL\b", core):
        # literal-only interval arithmetic: duck's component-wise fold
        # (r15, VERDICT item 3 — 25 HOUR + 0 DAY stays '25:00:00')
        folded = _fold_interval_expr(core)
        if folded is not None:
            return "'" + folded.replace("'", "''") + "'"
    prov = _ivl_prov_split(core)
    if prov is not None:
        # timestamp-subtraction provenance ± interval literals (r16,
        # VERDICT item 3): duck's components never renormalize —
        # ts1 - ts2 + INTERVAL 25 HOUR is '3 days 27:00:00'
        return (
            f"duck_dtivl_text_prov(CAST({op} AS STRING),"
            f" {prov[0]}, {prov[1]})"
        )
    if re.match(r"(?i)^\s*INTERVAL\b", core):
        if _ym_only_interval(core):
            # year-month interval ::VARCHAR renders duck-style
            # ('1 year 2 months'); Spark's text is "INTERVAL '14' MONTH"
            return f"duck_ym_text(CAST({op} AS STRING))"
        if _dt_only_interval(core):
            # day-time interval ::VARCHAR: '3 days', '25:00:00'
            # (hours unbounded), '1 day 02:00:00' — via the canonical-
            # string parser kernel (r14); mixed ym+dt stays native
            return f"duck_dtivl_text(CAST({op} AS STRING))"
    folded_d = _fold_double_lit_expr(core)
    if folded_d is not None:
        # literal-only DOUBLE arithmetic (CAST(1e19 * 2 AS STRING) in
        # concat/concat_ws arg positions — r15)
        return "'" + folded_d + "'"
    if _F32_CAST_UNIT_RE.search(core) and duck_f32_arith(
        core, frozenset()
    ):
        # f32-cast units composed with integer arithmetic stay FLOAT
        # in duck (0.1::FLOAT * 2 — r15 census probe); Spark widens
        # to DOUBLE, so the expression narrows back to FLOAT for the
        # f32 kernel (the CAST is a no-op when Spark kept FLOAT)
        return (
            f"(CASE WHEN ({op}) IS NULL THEN CAST(NULL AS STRING)"
            f" ELSE duck_float32_text(CAST(({op}) AS FLOAT)) END)"
        )
    if _F32_TAIL_RE.search(core) or _F32_TAIL_RE.search(op):
        # r15 (ADVICE): a trailing FLOAT/REAL cast on a SUB-operand of
        # a mixed-width expression does not make the result float32 —
        # duck promotes REAL+DOUBLE to DOUBLE (probed: typeof(0.1::
        # DOUBLE + 0.2::REAL) = DOUBLE). Classify f32 only when the
        # f32 cast spans the whole core, or no DOUBLE/FLOAT8 cast
        # appears anywhere in the operand.
        if _f32_cast_spans_core(core) or not _F64_CAST_ANY_RE.search(op):
            return (
                f"(CASE WHEN ({op}) IS NULL THEN CAST(NULL AS STRING)"
                f" ELSE duck_float32_text({op}) END)"
            )
        return (
            f"(CASE WHEN ({op}) IS NULL THEN CAST(NULL AS STRING)"
            f" ELSE duck_double_text({op}) END)"
        )
    if _FLOAT_TAIL_RE.search(core) or _FLOAT_TAIL_RE.search(op):
        return (
            f"(CASE WHEN ({op}) IS NULL THEN CAST(NULL AS STRING)"
            f" ELSE duck_double_text({op}) END)"
        )
    return None


_F32_ARITH_TOK_RE = re.compile(
    r"[A-Za-z_][\w.]*|\d+\.?\d*(?:[eE][+-]?\d+)?|\S"
)
# a self-contained float32 cast unit: CAST(anything-one-level AS
# FLOAT/FLOAT4/REAL) or <ident|number|'str'>::FLOAT — an f32 LEAF for
# the duck-promotion heuristic no matter what its body holds (r15)
_F32_CAST_UNIT_RE = re.compile(
    r"(?i)(?:TRY_)?CAST\s*\((?:[^()']|\([^()']*\)|'(?:[^']|'')*')*"
    r"\s+AS\s+(?:FLOAT4|FLOAT|REAL)\s*\)"
    r"|(?:[A-Za-z_][\w.]*|\d+\.?\d*(?:[eE][+-]?\d+)?|\.\d+"
    r"|'(?:[^']|'')*')\s*::\s*(?:FLOAT4|FLOAT|REAL)(?!\s*8)(?!\w)"
)


def duck_f32_arith(expr: str, f32_names) -> bool:
    """True when DuckDB types this arithmetic expression FLOAT where
    Spark widens it to DOUBLE (r15 fuzz find): every identifier leaf
    is a known float32 column, every literal is an integer, and the
    operators are + - * / % (probed: duck keeps FLOAT through all of
    them when a FLOAT operand is present — only int/int '/' is
    DOUBLE; Spark widens FLOAT×INT to DOUBLE). The render legs narrow
    their f64 kernel pick to f32 for this class — float32(double
    result) equals duck's float32 arithmetic for these shapes (one
    rounding step either way)."""
    if "'" in expr and _F32_CAST_UNIT_RE.search(expr) is None:
        return False
    if '"' in expr or "//" in expr:
        return False
    # a float32 CAST anywhere is an f32 LEAF regardless of its body
    # (CAST(0.1 AS FLOAT) * 2 — the r15 census probe shape)
    expr2, nsub = _F32_CAST_UNIT_RE.subn(" __f32cast ", expr)
    if "'" in expr2:
        return False
    if not f32_names and not nsub:
        return False
    seen = False
    for t in _F32_ARITH_TOK_RE.findall(expr2):
        if t == "__f32cast":
            seen = True
        elif re.match(r"[A-Za-z_]", t):
            if t.split(".")[-1].lower() not in f32_names:
                return False
            seen = True
        elif re.match(r"\d", t):
            if "." in t or "e" in t.lower():
                return False
        elif t in "+-*/%()":
            continue
        else:
            return False
    return seen


def _f32_cast_spans_core(core: str) -> bool:
    """True when a trailing FLOAT/FLOAT4/REAL cast covers the WHOLE
    ``core`` expression — i.e. the result type really is float32 no
    matter what widths appear inside (r15, ADVICE item 1).

    Two spellings: ``CAST(anything AS REAL)`` whose open paren closes
    at the end of core, and ``<operand>::REAL`` whose ``::`` operand
    starts at position 0 of core (chain-aware)."""
    m = re.match(r"(?i)^\s*(?:TRY_)?CAST\s*\(", core)
    if m and _F32_TAIL_RE.search(core):
        mask = _code_mask(core)
        close = _match_paren(core, mask, m.end() - 1)
        if close is not None and core[close + 1 :].strip() == "":
            return True
    tm = None
    for tm_cand in re.finditer(
        r"(?i)::\s*(?:FLOAT4|FLOAT|REAL)(?!\s*8)(?!\w)\s*$", core
    ):
        tm = tm_cand
    if tm is not None:
        mask = _code_mask(core)
        start = _cast_chain_operand_start(core, mask, tm.start())
        if start is not None and core[:start].strip() == "":
            return True
    return False


# ---------------------------------------------------------------------------
# FLOAT×INT value/comparison positions (r16, VERDICT item 1).
#
# DuckDB keeps FLOAT through + - * / % whenever a FLOAT operand is
# present (probed: FLOAT op {INT, BIGINT, HUGEINT, DECIMAL} are all
# FLOAT, including '/'; only an all-integer or decimal-only '/'
# escapes to DOUBLE), and COMPARES a FLOAT side against INTEGER /
# DECIMAL / VARCHAR-literal sides in FLOAT (probed: 0.3::FLOAT = 0.3
# is TRUE, 16777217 = 16777216::FLOAT is TRUE, 0.3::FLOAT = '0.3' is
# TRUE); FLOAT vs DOUBLE compares in DOUBLE. Spark widens FLOAT×INT
# arithmetic to DOUBLE and compares FLOAT vs DECIMAL in DOUBLE, so
# `WHERE f * 2 > 0.3` can disagree on boundary-value rows — a ROW
# MEMBERSHIP divergence, not just render text. Reference semantics
# via src/duckdb_pgwire_extension.cpp:52 delegation to DuckDB.
#
# Emulation: narrow PER OP — every f32-result binary op is wrapped in
# CAST(… AS FLOAT) and every int/dec subtree meeting an f32 op is
# cast to FLOAT at that boundary (duck evaluates the integer subtree
# in integer arithmetic first, then promotes the RESULT). The
# float64→float32 double rounding is INNOCUOUS for + - * / (binary64
# carries 53 ≥ 2·24+2 significand bits — Figueroa's theorem), so
# Spark's widened op + narrowing cast equals duck's single-rounded
# float32 op bit-for-bit; % is exact in either width. Comparison
# sides then promote like duck: int/dec/string-literal opposite
# sides cast to FLOAT when the other side is f32-typed, a DOUBLE
# side leaves the comparison in f64 (native Spark already matches —
# the narrowed f32 value widens back exactly).
# ---------------------------------------------------------------------------


class _F32Bail(Exception):
    """Operand outside the emulable f32-arithmetic grammar."""


_F32_KIND_OF_TYPE = {
    "float": "f32", "float4": "f32", "real": "f32",
    "double": "f64", "float8": "f64",
    "tinyint": "int", "smallint": "int", "int": "int",
    "integer": "int", "bigint": "int", "long": "int",
    "int1": "int", "int2": "int", "int4": "int", "int8": "int",
    "byte": "int", "short": "int", "hugeint": "int",
    "decimal": "dec", "numeric": "dec",
}

_F32_NUM_TOK_RE = re.compile(r"(?:\d+\.?\d*|\.\d+)(?:[eE][+-]?\d+)?")
_F32_IDENT_TOK_RE = re.compile(r"[A-Za-z_]\w*(?:\.[A-Za-z_]\w*)*")
_F32_CAST_AS_RE = re.compile(
    r"(?i)\bAS\s+([A-Za-z_][\w]*)\s*"
    r"(?:\(\s*\d+\s*(?:,\s*(\d+)\s*)?\))?\s*$"
)
_F32_DEC_LIT_RE = re.compile(r"(\d*)\.(\d*)|(\d+)")


def _f32_of_dec(text: str, scale) -> str:
    """Spark SQL reproducing duck's DECIMAL→FLOAT conversion of the
    decimal-typed ``text``: float32(unscaled) / float32(10^scale) with
    an f32 division (probed model, 8/8 against DuckDB — NOT the
    correctly-rounded cast: 33554434.0000::FLOAT is 33554436 in duck,
    33554432 correctly rounded)."""
    t = text.strip()
    while (
        len(t) >= 2
        and t[0] == "("
        and t[-1] == ")"
        and _paren_balanced(t[1:-1])
    ):
        t = t[1:-1].strip()
    if "/*__duck_ddiv*/" in t:
        # a decimal_div-synthesized double cast: the body is the
        # original decimal-typed operand
        m = re.match(r"(?is)^(?:TRY_)?CAST\s*\((.*)\s+AS\s+DOUBLE\s*\)$", t)
        if m is not None:
            t = m.group(1).replace("/*__duck_ddiv*/", "").strip()
    sign = ""
    sm = re.match(r"\s*-\s*", t)
    while sm is not None:
        # negation is exact in every width: fold the sign around the
        # converted magnitude (a signed literal otherwise missed the
        # literal fast path and scale>18 bailed — r16 fuzz find)
        sign = "" if sign else "-"
        t = t[sm.end() :]
        while (
            len(t) >= 2 and t[0] == "(" and t[-1] == ")"
            and _paren_balanced(t[1:-1])
        ):
            t = t[1:-1].strip()
        sm = re.match(r"\s*-\s*", t)
    if sign:
        return f"({sign}{_f32_of_dec(t, scale)})"
    lm = _F32_DEC_LIT_RE.fullmatch(t)
    if lm is not None:
        if lm.group(3) is not None:
            unscaled, s = lm.group(3), 0
        else:
            unscaled = (lm.group(1) + lm.group(2)) or "0"
            s = len(lm.group(2))
        unscaled = unscaled.lstrip("0") or "0"
        # literals fold to the exact resulting f32 value in Python
        # (f64→f32 double rounding is innocuous, so dividing the two
        # f32-rounded values in f64 and narrowing IS duck's f32
        # division) — a plain foldable constant keeps VALUES inline
        # tables and filter pushdown intact
        import math
        import struct

        def _f32v(x: float) -> float:
            return struct.unpack("<f", struct.pack("<f", x))[0]

        try:
            val = _f32v(_f32v(float(unscaled)) / _f32v(10.0**s))
        except (OverflowError, struct.error):
            raise _F32Bail from None
        if not math.isfinite(val):
            return "CAST('Infinity' AS FLOAT)"
        return f"CAST({val!r} AS FLOAT)"
    if not isinstance(scale, int) or scale < 0 or scale > 38:
        raise _F32Bail
    if scale == 0:
        return f"CAST(({t}) AS FLOAT)"
    # unscaled value via the decimal's STRING render (r17, ADVICE
    # item 2): a DECIMAL(p,s) always prints sign + digits + exactly s
    # fraction digits, so stripping the '.' yields the exact unscaled
    # integer for ANY p ≤ 38 — the old `(expr) * 10^scale` DECIMAL
    # multiply overflowed Spark's 38-digit ceiling on high-precision
    # columns and returned NULL (non-ANSI) where duck has a finite
    # float. parseFloat of the digit string is the correctly-rounded
    # float32(unscaled) duck computes from the int128.
    return (
        f"CAST((CAST(replace(CAST(({t}) AS STRING), '.', '') AS FLOAT)"
        f" / CAST(1E{scale} AS FLOAT)) AS FLOAT)"
    )


def _f32_of(res, orig: str) -> str:
    """The FLOAT-typed Spark text for one operand node, following
    duck's promotion: f32 keeps its (narrowed) text, DECIMAL goes
    through the unscaled/power model, INT and string literals take the
    correctly-rounded cast (probed: duck's int→float and strtof are
    correctly rounded)."""
    k = res[0]
    if k == "f32":
        return res[1] if res[2] else orig
    if k == "dec":
        return _f32_of_dec(orig, res[3])
    return f"CAST(({orig}) AS FLOAT)"


def _f32_floor_guard(fn: str, b: str) -> str:
    """Spark floor/ceil return BIGINT (NaN→0, ±inf/huge overflow);
    duck's keep FLOAT. NaN/±inf/≥2^63 magnitudes pass through (every
    f32 ≥ 2^24 is already integral), zero results with a negative
    input keep duck's -0.0 (the rewrite_double_floor_ceil shape)."""
    # the double-parens around the argument keep _FLOOR_CEIL_RE (the
    # later bare-column DOUBLE leg) from re-wrapping this emission
    return (
        f"(CASE WHEN isnan({b}) OR abs({b}) >= 9.2e18"
        f" THEN CAST(({b}) AS FLOAT)"
        f" WHEN {fn}(({b})) = 0"
        f" AND startswith(CAST(({b}) AS STRING), '-')"
        f" THEN CAST('-0.0' AS FLOAT)"
        f" ELSE CAST({fn}(({b})) AS FLOAT) END)"
    )


def _f32_trunc_text(b: str) -> str:
    return (
        f"(CASE WHEN ({b}) < 0 THEN {_f32_floor_guard('ceil', b)}"
        f" ELSE {_f32_floor_guard('floor', b)} END)"
    )


_F32_TRUNC_WHEN_RE = re.compile(r"(?i)\s*WHEN\s*\(")
_F32_TRUNC_CEIL_RE = re.compile(r"(?i)\s*<\s*0\s+THEN\s+ceil\s*\(")
_F32_TRUNC_FLOOR_RE = re.compile(r"(?i)\s*ELSE\s+floor\s*\(")
_F32_TRUNC_END_RE = re.compile(r"(?i)\s*END\b")
_F32_TRUNC_CASE_RE = re.compile(r"(?i)\bCASE(?=\s+WHEN\s*\()")


def _walk_trunc_template(s: str, segs, after_case: int):
    """Structural match of the dialect pass's numeric-trunc template
    starting right AFTER its ``CASE`` keyword: ``WHEN (b) < 0 THEN
    ceil(b) ELSE floor(b) END`` with the IDENTICAL b in all three
    spots. Returns (b, end_index) or None."""
    mm = _F32_TRUNC_WHEN_RE.match(s, after_case)
    if mm is None:
        return None
    p1 = mm.end() - 1
    c1 = _walk_brackets_fwd(s, segs, p1)
    if c1 <= 0:
        return None
    b1 = s[p1 + 1 : c1 - 1]
    mm = _F32_TRUNC_CEIL_RE.match(s, c1)
    if mm is None:
        return None
    p2 = mm.end() - 1
    c2 = _walk_brackets_fwd(s, segs, p2)
    if c2 <= 0 or s[p2 + 1 : c2 - 1] != b1:
        return None
    mm = _F32_TRUNC_FLOOR_RE.match(s, c2)
    if mm is None:
        return None
    p3 = mm.end() - 1
    c3 = _walk_brackets_fwd(s, segs, p3)
    if c3 <= 0 or s[p3 + 1 : c3 - 1] != b1:
        return None
    mm = _F32_TRUNC_END_RE.match(s, c3)
    if mm is None:
        return None
    return b1, mm.end()


def _f32_trunc_spans(sql: str, segs, mask) -> list[tuple[int, int]]:
    """Spans of trunc-template CASEs in ``sql`` — the comparison leg
    must not narrow the template's INTERNAL ``< 0`` site (that would
    break the three-identical-copies shape the typer's _trunc_case
    recognizer needs, leaving the ceil/floor branches un-narrowed)."""
    spans: list[tuple[int, int]] = []
    for m in _F32_TRUNC_CASE_RE.finditer(sql):
        if not mask[m.start()]:
            continue
        hit = _walk_trunc_template(sql, segs, m.end())
        if hit is not None:
            spans.append((m.start(), hit[1]))
    return spans


class _F32Expr:
    """Recursive-descent typer/narrower for one comparison side: an
    arithmetic chain over typed columns (``kinds``: lowercase bare
    name → 'f32'/'f64'/'int'/'dec'), f32/f64/int/decimal CAST and
    ``::`` cast units, integer and decimal literals, parens, unary
    sign, and the div-zero pass's ``nullif(x, 0)`` wrapper. parse()
    returns (kind, narrowed, changed, scale) with kind ∈ {'f32','int',
    'dec','f64','str','null'} and scale the duck decimal scale for
    'dec' nodes (the DECIMAL→FLOAT model needs it); ``narrowed``
    computes duck-f32 semantics. Anything else raises _F32Bail
    (conservative skip)."""

    def __init__(self, s: str, kinds):
        self.s = s
        self.n = len(s)
        self.kinds = kinds
        self.segs = _abs_segments(s)
        self.mask = _code_mask(s)
        self.i = 0

    def parse(self):
        node = self._expr()
        self._ws()
        if self.i < self.n:
            raise _F32Bail
        return node

    def _ws(self):
        while self.i < self.n:
            if self.s[self.i].isspace():
                self.i += 1
                continue
            kind, _a, b = _seg_at(self.segs, self.i)
            if kind not in ("code", "lit"):  # comment segment
                self.i = b
                continue
            break

    def _expr(self):
        left = self._term()
        while True:
            self._ws()
            if self.i >= self.n:
                return left
            ch = self.s[self.i]
            if ch not in "+-" or not self.mask[self.i]:
                return left
            nxt = self.s[self.i + 1] if self.i + 1 < self.n else ""
            if ch == "-" and nxt in ">-":
                return left  # -> arrow / -- comment
            self.i += 1
            left = self._bin(left, ch, self._term())

    def _term(self):
        left = self._factor()
        while True:
            self._ws()
            if self.i >= self.n:
                return left
            ch = self.s[self.i]
            if ch not in "*/%" or not self.mask[self.i]:
                return left
            nxt = self.s[self.i + 1] if self.i + 1 < self.n else ""
            if (ch == "*" and nxt == "*") or (ch == "/" and nxt == "/"):
                return left  # power / floor-div: leftovers bail upstream
            self.i += 1
            left = self._bin(left, ch, self._factor())

    def _factor(self):
        self._ws()
        signs = 0
        while self.i < self.n and self.s[self.i] in "+-":
            nxt = self.s[self.i + 1] if self.i + 1 < self.n else ""
            if self.s[self.i] == "-" and nxt in ">-":
                raise _F32Bail
            if self.s[self.i] == "-":
                signs += 1
            self.i += 1
            self._ws()
        node = self._postfix(self._primary())
        if signs:
            kind, txt, changed, scale = node
            if kind in ("str", "null", "opq"):
                raise _F32Bail
            # negation is exact in every width — sign count preserved
            node = (kind, ("- " * signs) + f"({txt})", changed, scale)
        return node

    def _primary(self):
        self._ws()
        if self.i >= self.n:
            raise _F32Bail
        ch = self.s[self.i]
        kind0, _a0, b0 = _seg_at(self.segs, self.i)
        if kind0 == "lit":
            txt = self.s[self.i : b0]
            self.i = b0
            return ("str", txt, False, None)
        if ch == "(":
            close = _walk_brackets_fwd(self.s, self.segs, self.i)
            if close <= 0:
                raise _F32Bail
            inner = _F32Expr(
                self.s[self.i + 1 : close - 1], self.kinds
            ).parse()
            self.i = close
            k, txt, changed, scale = inner
            return (k, f"({txt})", changed, scale)
        m = _F32_NUM_TOK_RE.match(self.s, self.i)
        if m is not None and (ch.isdigit() or ch == "."):
            txt = m.group(0)
            self.i = m.end()
            low = txt.lower()
            if "e" in low:
                return ("f64", txt, False, None)  # sci literals: DOUBLE
            if "." in txt:
                return ("dec", txt, False, len(txt.split(".", 1)[1]))
            return ("int", txt, False, 0)
        m = _F32_IDENT_TOK_RE.match(self.s, self.i)
        if m is None:
            raise _F32Bail
        word = m.group(0)
        up = word.upper()
        j = m.end()
        while j < self.n and self.s[j].isspace():
            j += 1
        if j < self.n and self.s[j] == "(":
            if up in ("CAST", "TRY_CAST"):
                close = _walk_brackets_fwd(self.s, self.segs, j)
                if close <= 0:
                    raise _F32Bail
                body = self.s[j + 1 : close - 1]
                am = _F32_CAST_AS_RE.search(body)
                k = (
                    _F32_KIND_OF_TYPE.get(am.group(1).lower())
                    if am is not None
                    and _seg_at(_abs_segments(body), am.start())[0]
                    == "code"
                    else None
                )
                if k is None:
                    raise _F32Bail
                scale = 0
                if k == "dec":
                    if am.group(2) is None and "(" not in am.group(0):
                        # bare DECIMAL: duck defaults to (18,3),
                        # Spark to (10,0) — not emulable here
                        raise _F32Bail
                    scale = int(am.group(2) or 0)
                txt = self.s[self.i : close]
                self.i = close
                if k == "f64" and "/*__duck_ddiv*/" in body:
                    # a double-cast SYNTHESIZED by _rewrite_decimal_div
                    # around a then-untyped operand: re-type from the
                    # operand itself — duck typed the ORIGINAL operand,
                    # so an f32 body keeps duck's FLOAT division (cast
                    # dropped; the narrowing re-derives the value) and
                    # an int/dec body keeps its duck kind for the
                    # promotion walk (cast text preserved)
                    inner = _f32_side(
                        body[: am.start()].replace("/*__duck_ddiv*/", ""),
                        self.kinds,
                    )
                    if inner is not None and inner[0] == "f32":
                        return inner
                    if inner is not None and inner[0] in ("int", "dec"):
                        return (inner[0], txt, False, inner[3])
                # narrow the cast BODY (r17 census find): duck computes
                # `CAST(round(f32×2, 1) AS DOUBLE)` per-op in FLOAT and
                # widens the RESULT; keeping the text unchanged made
                # Spark compute the body in DOUBLE. The `::` postfix
                # form already narrowed its operand — this closes the
                # functional form the same way.
                inner = _f32_side(body[: am.start()], self.kinds)
                if (
                    inner is not None
                    and inner[0] in ("f32", "f64")
                    and inner[2]
                ):
                    # txt spans [start, close); the 'CAST (' prefix is
                    # its first (j + 1 - start) chars — self.i already
                    # moved to close above
                    pre = txt[: j + 1 - (close - len(txt))]
                    txt = (
                        pre + inner[1] + " " + body[am.start() :] + ")"
                    )
                    return (k, txt, True, scale)
                return (k, txt, False, scale)
            if up == "NULLIF":
                # the div-zero pass wraps denominators in nullif(x, 0)
                # — type-transparent; recurse into the first argument
                close = _walk_brackets_fwd(self.s, self.segs, j)
                if close <= 0:
                    raise _F32Bail
                args = split_top_level(self.s[j + 1 : close - 1])
                if len(args) != 2 or args[1].strip() != "0":
                    raise _F32Bail
                k, txt, changed, scale = _F32Expr(
                    args[0], self.kinds
                ).parse()
                self.i = close
                return (k, f"nullif({txt}, 0)", changed, scale)
            if up in ("MIN", "MAX", "FIRST", "LAST", "ANY_VALUE", "ABS",
                      "FIRST_VALUE", "LAST_VALUE"):
                # type-preserving over FLOAT in duck (probed r16:
                # min/max/first/any_value/abs(FLOAT) are FLOAT; r17
                # adds first_value/last_value — window value functions
                # keep the argument type, probed); the value is an
                # existing f32 (or exact |f32|), so the node passes its
                # argument's kind through
                node = self._passthru_call(word, j, same_kind=True)
                if node is not None:
                    return node
                raise _F32Bail
            if up in ("SUM", "AVG", "STDDEV", "STDDEV_SAMP",
                      "STDDEV_POP", "VARIANCE", "VAR_SAMP", "VAR_POP"):
                # duck aggregates FLOAT args in DOUBLE — same as Spark
                # over float inputs; the f32 ARGUMENT still narrows so
                # the per-row values match (r17 adds the stat family,
                # probed DOUBLE over FLOAT; Spark-native names only —
                # corr/skewness/kurtosis arrive pre-decomposed by the
                # dialect pass and bail conservative). DISTINCT
                # sum/avg narrow too (r17): the distinct SET itself is
                # formed over the f32 values — two f64-distinct
                # products can be ONE f32 value, changing the result
                node = self._passthru_call(
                    word, j, same_kind=False,
                    allow_distinct=up in ("SUM", "AVG"),
                )
                if node is not None and node[0] == "f32":
                    return ("f64", node[1], node[2], None)
                raise _F32Bail
            if up in ("ARRAY_AGG", "LIST", "HISTOGRAM"):
                # collection aggregates carry the ARGUMENT's f32
                # values into the result (probed r17: array_agg(f*3)
                # is FLOAT[] holding f32 products, histogram keys
                # likewise) — narrow the argument, leave the result
                # OPAQUE ('opq'): it substitutes in select items but
                # never participates in arithmetic/comparisons
                node = self._passthru_call(
                    word, j, same_kind=True, allow_distinct=True
                )
                if node is not None:
                    return ("opq", node[1], node[2], None)
                raise _F32Bail
            if up in ("COVAR_SAMP", "COVAR_POP"):
                # 2-arg stat aggregates: DOUBLE result, each f32 arg
                # narrows (probed r17)
                node = self._two_arg_f64_agg(word, j)
                if node is not None:
                    return node
                raise _F32Bail
            if up == "COUNT":
                # count(DISTINCT f32expr): the distinct-set SIZE is
                # formed over f32 values in duck (r17 probe:
                # count(DISTINCT f * 3) counts f32 products); plain
                # count(expr) is nullness-only (narrowing preserves
                # NULL) — both type BIGINT
                node = self._passthru_call(
                    word, j, same_kind=False, allow_distinct=True
                )
                if node is not None and node[0] in (
                    "f32", "f64", "int", "dec"
                ):
                    return ("int", node[1], node[2], 0)
                raise _F32Bail
            if up == "COALESCE":
                # all-f32 coalesce stays FLOAT in duck (probed r16)
                close = _walk_brackets_fwd(self.s, self.segs, j)
                if close <= 0:
                    raise _F32Bail
                args = split_top_level(self.s[j + 1 : close - 1])
                if not args:
                    raise _F32Bail
                parsed = [_F32Expr(a, self.kinds).parse() for a in args]
                if any(pn[0] != "f32" for pn in parsed):
                    raise _F32Bail
                changed = any(pn[2] for pn in parsed)
                texts = [
                    pn[1] if pn[2] else a.strip()
                    for pn, a in zip(parsed, args)
                ]
                self.i = close
                return ("f32", f"{word}(" + ", ".join(texts) + ")",
                        changed, 0)
            if up == "ROUND":
                # duck round(FLOAT[, n]) returns FLOAT, rounding the
                # f32 value half-away-from-zero (r17 probe: Spark's
                # round over a FLOAT-typed operand matches value-for-
                # value on the boundary grid — incl. n=-2 and n=7 —
                # EXCEPT signed zero: duck keeps -0.0 for negative
                # inputs rounding to zero, Spark bleaches the sign)
                node = self._round_call(word, j)
                if node is not None:
                    return node
                raise _F32Bail
            if up in ("TRUNC", "CEIL", "CEILING", "FLOOR"):
                # duck floor/ceil/trunc(FLOAT) return FLOAT (the
                # integral value is exactly representable: below 2^24
                # it fits, at/above 2^24 every f32 IS integral); Spark
                # floor/ceil return BIGINT — NaN/±inf/≥2^63 magnitudes
                # pass through, zero results keep duck's signed zero
                # (same shape as rewrite_double_floor_ceil, r11)
                node = self._floorlike_call(up, j)
                if node is not None:
                    return node
                raise _F32Bail
            if up in ("LAG", "LEAD", "NTH_VALUE"):
                # window value functions keep the argument type in duck
                # (probed r17: lag/lead/nth_value(FLOAT) are FLOAT,
                # lag(f, 1, dflt) casts the DEFAULT to the value's
                # FLOAT — so the default narrows to f32 too)
                node = self._offset_window_call(word, up, j)
                if node is not None:
                    return node
                raise _F32Bail
            if up in ("GREATEST", "LEAST"):
                # duck greatest/least WIDEN to DOUBLE whenever any
                # operand is FLOAT (probed r17: greatest(f, g),
                # greatest(f, 0.5), greatest(f, i) are all DOUBLE) —
                # f32 ARITHMETIC inside an operand still computes in
                # f32 first, then widens exactly. Spark's own type
                # resolution would pick FLOAT for float×int (lossy for
                # ints ≥2^24), so every operand is forced to DOUBLE.
                node = self._extremum_call(word, j)
                if node is not None:
                    return node
                raise _F32Bail
            raise _F32Bail  # other function call: not emulable here
        if up == "CASE":
            node = self._trunc_case(m.end())
            if node is not None:
                return node
            raise _F32Bail
        if up == "NULL":
            self.i = m.end()
            return ("null", word, False, None)
        k = self.kinds.get(word.split(".")[-1].lower())
        if k is None:
            raise _F32Bail
        self.i = m.end()
        if isinstance(k, tuple):  # ('dec', scale) column
            return (k[0], word, False, k[1])
        return (k, word, False, 0)

    def _postfix(self, node):
        while True:
            save = self.i
            self._ws()
            if not self.s.startswith("::", self.i) or (
                self.i < self.n and not self.mask[self.i]
            ):
                self.i = save
                return node
            j = self.i + 2
            while j < self.n and self.s[j].isspace():
                j += 1
            m = re.match(r"[A-Za-z_]\w*", self.s[j:])
            if m is None:
                raise _F32Bail
            k = _F32_KIND_OF_TYPE.get(m.group(0).lower())
            if k is None:
                raise _F32Bail
            j += m.end()
            pm = re.match(
                r"\s*\(\s*\d+\s*(?:,\s*(\d+)\s*)?\)", self.s[j:]
            )
            if pm is not None:
                j += pm.end()
            if re.match(r"\s*\[", self.s[j:]):
                raise _F32Bail  # array suffix
            scale = 0
            if k == "dec":
                if pm is None:
                    raise _F32Bail  # bare ::DECIMAL: duck (18,3)
                scale = int(pm.group(1) or 0)
            _k0, txt, changed, _s0 = node
            node = (k, f"{txt}{self.s[self.i:j]}", changed, scale)
            self.i = j

    def _passthru_call(
        self, word: str, j: int, same_kind: bool,
        allow_distinct: bool = False,
    ):
        """Parse ``word([DISTINCT ]single-arg)`` where the argument is
        an emulable numeric expression; None when the shape is off
        (DISTINCT outside sum/avg, multiple args, trailing OVER/FILTER
        bail via the caller's leftover check)."""
        close = _walk_brackets_fwd(self.s, self.segs, j)
        if close <= 0:
            return None
        args = split_top_level(self.s[j + 1 : close - 1])
        if len(args) != 1:
            return None
        prefix = ""
        dm = re.match(r"(?is)\s*(DISTINCT|ALL)\b", args[0])
        if dm is not None:
            if not allow_distinct:
                return None
            prefix = dm.group(1).upper() + " "
            args = [args[0][dm.end() :]]
        try:
            k, txt, changed, scale = _F32Expr(
                args[0], self.kinds
            ).parse()
        except _F32Bail:
            return None
        if k in ("str", "null", "opq"):
            return None
        body = prefix + (txt if changed else args[0].strip())
        self.i = close
        # an OVER clause makes this a window call — same typing (duck
        # min/max/first/any_value/abs windows keep FLOAT, sum/avg go
        # DOUBLE; probed r16), so consume it into the node text
        over = self._consume_over()
        if over is None:
            return None
        return (k, f"{word}({body}){over}", changed, scale)

    def _consume_over(self) -> str | None:
        """Consume a trailing ``OVER (...)`` / ``OVER w`` clause into
        the node text. Returns '' when no OVER follows, None on a
        malformed clause (caller bails)."""
        save = self.i
        self._ws()
        om = re.match(r"(?is)OVER\s*", self.s[self.i :])
        if om is None:
            self.i = save
            return ""
        j2 = self.i + om.end()
        if j2 < self.n and self.s[j2] == "(":
            close2 = _walk_brackets_fwd(self.s, self.segs, j2)
            if close2 <= 0:
                return None
            over = " " + self.s[self.i : close2].strip()
            self.i = close2
            return over
        wm2 = re.match(r"[A-Za-z_]\w*", self.s[j2:])
        if wm2 is None:
            return None
        over = " " + self.s[self.i : j2 + wm2.end()].strip()
        self.i = j2 + wm2.end()
        return over

    def _round_call(self, word: str, j: int):
        """``round(f32expr[, int-literal])`` → f32. Spark's round over
        a FLOAT operand matches duck value-for-value (probed r17 grid:
        scales -2, 0, 1, 2, 7; the 2^24 edge; 3e38); only the signed
        zero of negative inputs rounding to 0 needs the guard."""
        close = _walk_brackets_fwd(self.s, self.segs, j)
        if close <= 0:
            return None
        args = split_top_level(self.s[j + 1 : close - 1])
        if len(args) not in (1, 2):
            return None
        if len(args) == 2 and re.fullmatch(
            r"\s*-?\d+\s*", args[1]
        ) is None:
            return None
        try:
            res = _F32Expr(args[0], self.kinds).parse()
        except _F32Bail:
            return None
        if res[0] == "f64" and res[2]:
            # round over a CHANGED f64 body (e.g. round(stddev(f*2),
            # 6)): duck round(DOUBLE, n) = Spark's — only the body's
            # inner f32 arithmetic substitutes (r17)
            b = res[1]
            self.i = close
            rb = (
                f"round({b}, {args[1].strip()})"
                if len(args) == 2
                else f"round({b})"
            )
            return ("f64", rb, True, None)
        if res[0] != "f32":
            return None
        b = res[1] if res[2] else args[0].strip()
        rb = (
            f"round({b}, {args[1].strip()})"
            if len(args) == 2
            else f"round({b})"
        )
        self.i = close
        txt = (
            f"(CASE WHEN {rb} = 0"
            f" AND startswith(CAST(({b}) AS STRING), '-')"
            f" THEN CAST('-0.0' AS FLOAT)"
            f" ELSE CAST({rb} AS FLOAT) END)"
        )
        return ("f32", txt, True, 0)

    def _floorlike_call(self, up: str, j: int):
        """``floor/ceil/ceiling/trunc(f32expr)`` → f32 via Spark's
        BIGINT floor/ceil with the NaN/±inf/≥2^63 passthrough and
        signed-zero guards (the rewrite_double_floor_ceil shape)."""
        close = _walk_brackets_fwd(self.s, self.segs, j)
        if close <= 0:
            return None
        args = split_top_level(self.s[j + 1 : close - 1])
        if len(args) != 1:
            return None
        try:
            res = _F32Expr(args[0], self.kinds).parse()
        except _F32Bail:
            return None
        if res[0] != "f32":
            return None
        b = res[1] if res[2] else args[0].strip()
        self.i = close
        if up == "TRUNC":
            txt = _f32_trunc_text(b)
        else:
            txt = _f32_floor_guard(
                "ceil" if up in ("CEIL", "CEILING") else "floor", b
            )
        return ("f32", txt, True, 0)

    def _trunc_case(self, start: int):
        """Recognize the dialect pass's numeric-trunc template —
        ``CASE WHEN (b) < 0 THEN ceil(b) ELSE floor(b) END`` with the
        IDENTICAL b in all three spots — as trunc(b): rewrite() runs
        before the schema-aware f32 legs, so the typer only ever sees
        the already-rewritten shape (r17)."""
        hit = _walk_trunc_template(self.s, self.segs, start)
        if hit is None:
            return None
        b1, end = hit
        try:
            res = _F32Expr(b1, self.kinds).parse()
        except _F32Bail:
            return None
        if res[0] != "f32":
            return None
        b = res[1] if res[2] else b1.strip()
        self.i = end
        return ("f32", _f32_trunc_text(b), True, 0)

    def _offset_window_call(self, word: str, up: str, j: int):
        """``lag/lead(expr[, n[, default]]) OVER …`` and
        ``nth_value(expr, n) OVER …`` — value-preserving window calls:
        the node keeps the argument's kind/scale. The 3-arg default
        narrows to f32 (duck casts it to the value's FLOAT type,
        probed r17); non-f32 3-arg forms bail (mixed-type default
        coercion not modeled)."""
        close = _walk_brackets_fwd(self.s, self.segs, j)
        if close <= 0:
            return None
        args = split_top_level(self.s[j + 1 : close - 1])
        if up == "NTH_VALUE":
            if len(args) != 2 or re.fullmatch(
                r"\s*\d+\s*", args[1]
            ) is None:
                return None
        elif len(args) not in (1, 2, 3) or (
            len(args) >= 2
            and re.fullmatch(r"\s*-?\d+\s*", args[1]) is None
        ):
            return None
        try:
            res = _F32Expr(args[0], self.kinds).parse()
        except _F32Bail:
            return None
        if res[0] in ("str", "null", "opq"):
            return None
        parts = [res[1] if res[2] else args[0].strip()]
        changed = res[2]
        if len(args) >= 2:
            parts.append(args[1].strip())
        if up != "NTH_VALUE" and len(args) == 3:
            try:
                dres = _F32Expr(args[2], self.kinds).parse()
            except _F32Bail:
                return None
            if dres[0] in ("str", "null", "opq"):
                return None
            if res[0] == "f32":
                # duck casts the default to the value's FLOAT
                dflt = _f32_of(dres, args[2].strip())
            elif res[0] == "f64":
                # f64 value (e.g. a greatest/least node): duck casts
                # the default to DOUBLE — Spark's native cast agrees
                # for int/dec/f32 defaults; only an f32-CHANGED
                # default substitutes its narrowed text (r17 seed-19
                # fuzz find: the old f32-only arm bailed the WHOLE
                # call, losing the value argument's inner narrowing)
                dflt = dres[1] if dres[2] else args[2].strip()
            else:
                return None  # int/dec value: coercion not modeled
            changed = changed or dflt != args[2].strip()
            parts.append(dflt)
        self.i = close
        over = self._consume_over()
        if not over:  # malformed OR absent: lag/lead need a window
            return None
        return (res[0], f"{word}({', '.join(parts)}){over}",
                changed, res[3])

    def _two_arg_f64_agg(self, word: str, j: int):
        """``covar_samp/covar_pop(a, b)`` with ≥1 f32 operand → f64;
        both operands narrow their inner f32 arithmetic (Spark's
        covariance casts inputs to DOUBLE internally — exact widening
        of the narrowed f32 values)."""
        close = _walk_brackets_fwd(self.s, self.segs, j)
        if close <= 0:
            return None
        args = split_top_level(self.s[j + 1 : close - 1])
        if len(args) != 2:
            return None
        parsed = []
        for a in args:
            try:
                r = _F32Expr(a, self.kinds).parse()
            except _F32Bail:
                return None
            if r[0] in ("str", "null", "opq"):
                return None
            parsed.append(r)
        if not any(r[0] == "f32" for r in parsed):
            return None
        texts = [
            r[1] if r[2] else a.strip() for r, a in zip(parsed, args)
        ]
        changed = any(r[2] for r in parsed)
        self.i = close
        over = self._consume_over()
        if over is None:
            return None
        return (
            "f64",
            f"{word}(" + ", ".join(texts) + f"){over}",
            changed,
            None,
        )

    def _extremum_call(self, word: str, j: int):
        """``greatest/least(a, b, …)`` with ≥1 f32 operand → f64: duck
        widens every operand to DOUBLE (probed r17), so each operand —
        f32 arithmetic narrowed first — is forced to DOUBLE; Spark's
        own float×int resolution would compute in FLOAT and lose int
        precision at 2^24."""
        close = _walk_brackets_fwd(self.s, self.segs, j)
        if close <= 0:
            return None
        args = split_top_level(self.s[j + 1 : close - 1])
        if len(args) < 2:
            return None
        parsed = []
        for a in args:
            try:
                r = _F32Expr(a, self.kinds).parse()
            except _F32Bail:
                return None
            if r[0] in ("str", "null", "opq"):
                return None
            parsed.append(r)
        if not any(r[0] == "f32" for r in parsed):
            return None
        texts = [
            "CAST(("
            + (r[1] if r[2] else a.strip())
            + ") AS DOUBLE)"
            for r, a in zip(parsed, args)
        ]
        self.i = close
        return ("f64", f"{word}(" + ", ".join(texts) + ")", True, None)

    def _bin(self, left, op, right):
        lk, lt, lc, ls = left
        rk, rt, rc, rs = right
        if lk in ("str", "null", "opq") or rk in ("str", "null", "opq"):
            raise _F32Bail
        if "f32" in (lk, rk) and "f64" not in (lk, rk):
            kind = "f32"
        elif op == "/":
            kind = "f64"  # duck '/' without a FLOAT operand is DOUBLE
        elif "f64" in (lk, rk):
            kind = "f64"
        elif "dec" in (lk, rk):
            kind = "dec"
        else:
            kind = "int"
        if kind == "f32":
            la = _f32_of(left, lt)
            ra = _f32_of(right, rt)
            return ("f32", f"CAST(({la} {op} {ra}) AS FLOAT)", True, 0)
        scale = 0
        if kind == "dec":
            # duck decimal result scales: +,-,% take max, * adds
            scale = (
                (ls or 0) + (rs or 0)
                if op == "*"
                else max(ls or 0, rs or 0)
            )
        return (kind, f"{lt} {op} {rt}", lc or rc, scale)


def _f32_autoname(expr: str, kinds) -> str | None:
    """The auto-generated column name BOTH Spark and duck would give
    the unaliased expression (probed r16: both print nested binary
    arithmetic as '({l} {op} {r})' over leaf texts), or None when the
    shapes differ (unary minus: Spark '(- f)' vs duck '-(f)'; casts;
    qualified names). Restricted to bare unqualified identifiers and
    numeric literals joined by binary + - * / %."""

    def walk(s: str):
        s = s.strip()
        while (
            len(s) >= 2 and s[0] == "(" and s[-1] == ")"
            and _paren_balanced(s[1:-1])
        ):
            # parens change the TEXT but not Spark's pretty name
            s = s[1:-1].strip()
        mask = _code_mask(s)
        d = 0
        # lowest-precedence operator, rightmost (left-assoc)
        best = None
        for i2, ch in enumerate(s):
            if not mask[i2]:
                continue
            if ch == "(":
                d += 1
            elif ch == ")":
                d -= 1
            elif d == 0 and ch in "+-*/%" and i2 > 0:
                prev = s[i2 - 1]
                nxt = s[i2 + 1] if i2 + 1 < len(s) else ""
                if ch == "-" and (nxt in ">-" or prev in "<-"):
                    continue
                if prev in "+-*/%(" or prev.isspace() and (
                    s[: i2].rstrip()[-1:] in "+-*/%("
                ):
                    return None  # unary sign present: names diverge
                prec = 0 if ch in "+-" else 1
                if best is None or prec <= best[0]:
                    best = (prec, i2, ch)
        if best is None:
            if re.fullmatch(r"[A-Za-z_]\w*", s):
                return s
            if re.fullmatch(r"\d+", s) or re.fullmatch(r"\d*\.\d+", s):
                return s
            return None
        _prec, i2, ch = best
        ln = walk(s[:i2])
        rn = walk(s[i2 + 1 :])
        if ln is None or rn is None:
            return None
        return f"({ln} {ch} {rn})"

    return walk(expr)


def _f32_side(expr: str, kinds) -> tuple | None:
    """(kind, narrowed, changed) for one comparison side, or None when
    the side is outside the emulable grammar."""
    if not expr or not expr.strip():
        return None
    try:
        return _F32Expr(expr, kinds).parse()
    except _F32Bail:
        return None
    except RecursionError:  # pathological nesting: conservative
        return None


# characters that mean "this chain is a sub-expression of a larger
# operator expression we cannot see" — skip the site (e.g. `@f > 1`,
# `x ^ 2 > f`, `a || b = f`); '!' is duck postfix factorial
_F32_ADJ_STOP = frozenset("+-*/%^!|&~@[")


def _scan_left_operand_win(sql: str, segs, end: int) -> int:
    """_scan_left_operand extended over window suffixes: ``fn(...)
    OVER (spec)`` / ``fn(...) OVER name`` is ONE value operand — the
    tight scan alone would stop at the spec or the name and hand the
    parsers a fragment."""
    s = _scan_left_operand(sql, segs, end)
    if s >= end:
        return s
    if re.match(r"(?is)OVER\b", sql[s:end]):
        # the tight operand was "(spec)" with head word OVER
        s2 = _scan_left_operand(sql, segs, s)
        return s2 if s2 < s else end
    om = re.search(r"(?is)\bOVER\s*$", sql[:s])
    if om is not None:
        # "fn(...) OVER (spec)" / "fn(...) OVER name": the tight scan
        # stopped at the spec or the name (OVER is a bracket keyword)
        s2 = _scan_left_operand(sql, segs, om.start())
        return s2 if s2 < om.start() else end
    return s


def _scan_left_arith(sql: str, segs, end: int) -> int:
    """Start of the arithmetic chain ending at ``end``: the tight left
    operand extended leftward over binary + - * / % joins and leading
    unary signs (a sign whose own left side is not an operand)."""
    s = _scan_left_operand_win(sql, segs, end)
    if s >= end:
        return s
    while True:
        j = s
        while j > 0 and sql[j - 1].isspace():
            j -= 1
        if j == 0:
            break
        ch = sql[j - 1]
        if ch not in "+-*/%" or _seg_at(segs, j - 1)[0] != "code":
            break
        if j >= 2 and sql[j - 2] in "*/%<>=!^|&~@" and ch in "*/":
            break  # the second char of // ** or a shift/arrow tail
        s2 = _scan_left_operand_win(sql, segs, j - 1)
        if s2 < j - 1:
            s = s2
            continue
        if ch in "+-":
            # no operand to the left: a unary sign — absorb it into
            # the chain (the parser's factor handles leading signs)
            s = j - 1
            continue
        break
    return s


def _scan_right_win_suffix(sql: str, segs, e: int) -> int:
    """Extend a right-operand end over a window suffix: ``OVER (spec)``
    or ``OVER name`` belongs to the call operand just scanned."""
    n = len(sql)
    k = e
    while k < n and sql[k].isspace():
        k += 1
    m = re.match(r"(?is)OVER\b", sql[k:])
    if m is None:
        return e
    j = k + m.end()
    while j < n and sql[j].isspace():
        j += 1
    if j < n and sql[j] == "(":
        close = _walk_brackets_fwd(sql, segs, j)
        return close if close > 0 else e
    wm = re.match(r"[A-Za-z_]\w*", sql[j:])
    return j + wm.end() if wm is not None else e


def _scan_right_arith(sql: str, segs, start: int) -> int:
    """End of the arithmetic chain starting at ``start``: the tight
    right operand extended rightward over binary + - * / % joins."""
    e = _scan_right_operand(sql, segs, start)
    if e <= start:
        return e
    e = _scan_right_win_suffix(sql, segs, e)
    n = len(sql)
    while True:
        k = e
        while k < n and sql[k].isspace():
            k += 1
        if k >= n:
            break
        ch = sql[k]
        if ch not in "+-*/%" or _seg_at(segs, k)[0] != "code":
            break
        nxt = sql[k + 1] if k + 1 < n else ""
        if (ch == "/" and nxt == "/") or (ch == "*" and nxt == "*"):
            break
        if ch == "-" and nxt in ">-":
            break
        e2 = _scan_right_operand(sql, segs, k + 1)
        if e2 <= k + 1:
            break
        e = _scan_right_win_suffix(sql, segs, e2)
    return e


def _f32_chain_adjacent_op(sql: str, ls: int, rend: int) -> bool:
    """True when the span [ls, rend) sits inside a larger operator
    expression (an arithmetic/pipe/power char touches either end) —
    the parsers above would then see only a fragment."""
    j = ls
    while j > 0 and sql[j - 1].isspace():
        j -= 1
    if j > 0 and sql[j - 1] in _F32_ADJ_STOP:
        return True
    k = rend
    n = len(sql)
    while k < n and sql[k].isspace():
        k += 1
    return k < n and sql[k] in _F32_ADJ_STOP


def _f32_new_sides(lres, rres, lhs: str, rhs: str):
    """(new_l, new_r) after duck's f32 comparison promotion, or None
    when nothing changes. A DOUBLE or unknown opposite side leaves the
    comparison in f64 (Spark-native, already duck-exact)."""
    lk = lres[0] if lres is not None else None
    rk = rres[0] if rres is not None else None
    if "opq" in (lk, rk):
        return None  # collection nodes never rewrite comparisons
    l_chg = lres is not None and lres[2]
    r_chg = rres is not None and rres[2]
    if lk != "f32" and rk != "f32":
        # r17: a CHANGED non-f32 side (greatest/least widening,
        # sum/avg/count over narrowed f32 arguments) still substitutes
        # its narrowed text — the comparison itself keeps its native
        # type on both sides, only the side's inner f32 arithmetic
        # (or distinct set) differs
        if not (l_chg or r_chg):
            return None

    def narrowed(res, orig):
        if res is None:
            return orig
        _k, txt, changed, _s = res
        return txt if changed else orig

    nl, nr = lhs, rhs
    try:
        nl = narrowed(lres, lhs)
        nr = narrowed(rres, rhs)
        if lk == "f32" and rk in ("int", "dec", "str"):
            nr = _f32_of(rres, rhs)
        elif rk == "f32" and lk in ("int", "dec", "str"):
            nl = _f32_of(lres, lhs)
    except _F32Bail:
        return None
    if nl == lhs and nr == rhs:
        return None
    return nl, nr


_F32_DECLIT_CAST_RE = re.compile(
    # the functional CAST form includes an optional SIGN (r17 wire-DML
    # test find: `CAST(-7.3… AS FLOAT)` missed the model and stored the
    # correctly-rounded value); the :: form does NOT — duck parses
    # `-7.3::FLOAT` as -(7.3::FLOAT), cast binds tighter than negation
    r"(?i)(?:TRY_)?CAST\s*\(\s*(-?\s*\d*\.\d+|-?\s*\d+\.)\s+AS\s+"
    r"(?:FLOAT4|FLOAT|REAL)(?!\s*8)\s*\)"
    r"|(?<![\w.])(\d*\.\d+|\d+\.)\s*::\s*(?:FLOAT4|FLOAT|REAL)"
    r"(?!\s*8)(?!\w)"
)


def rewrite_f32_declit_casts(sql: str) -> str:
    """Explicit DECIMAL-literal → FLOAT casts take duck's conversion
    model (r16): float32(unscaled) / float32(10^scale) — probed, duck
    does NOT round the decimal value directly (0.333333333333333::
    FLOAT differs from the correctly-rounded float in the last ulp).
    Sites where both the unscaled value (≤ 2^24) and the power (scale
    ≤ 10) are f32-exact convert identically either way and stay
    native — most literals in practice."""
    out: list[str] = []
    pos = 0
    mask = None
    for m in _F32_DECLIT_CAST_RE.finditer(sql):
        lit = m.group(1) or m.group(2)
        core = lit.lstrip("- \t")  # sign folds exactly (_f32_of_dec)
        frac = core.split(".", 1)[1]
        unscaled = int(core.replace(".", "") or "0")
        s = len(frac)
        if unscaled <= (1 << 24) and s <= 10:
            continue  # exactly-representable both ways: keep native
        if mask is None:
            mask = _code_mask(sql)
        if not all(mask[m.start() : m.end()]):
            continue
        if m.start() < pos:
            continue
        try:
            repl = _f32_of_dec(lit, s)
        except _F32Bail:
            continue
        out.append(sql[pos : m.start()])
        out.append(repl)
        pos = m.end()
    if not out:
        return sql
    out.append(sql[pos:])
    return "".join(out)


_F32_CMP_GATE_RE = re.compile(
    r"(?i)[<>=]|!=|\bBETWEEN\b|\bIN\s*\("
)
_F32_BETWEEN_RE = re.compile(r"(?i)\b(?:NOT\s+)?BETWEEN\b")
_F32_IN_RE = re.compile(r"(?i)\b(?:NOT\s+)?IN\s*\(")


# -------------------------------------------------------------------
# Multi-row scalar subqueries (r16, VERDICT item 7): duck returns the
# FIRST row where Spark raises SCALAR_SUBQUERY_TOO_MANY_ROWS. With a
# top-level ORDER BY the first row is deterministic, so LIMIT 1
# injection reproduces duck exactly; without one duck's pick is
# scan-order-dependent and the loud Spark error stays (NOTES.md).
# -------------------------------------------------------------------

_SCALAR_SUBQ_RE = re.compile(r"\(\s*SELECT\b", re.IGNORECASE)
_SUBQ_SKIP_WORDS = frozenset((
    "FROM", "JOIN", "IN", "EXISTS", "ANY", "ALL", "SOME", "AS",
    "UNION", "INTERSECT", "EXCEPT", "LATERAL", "TABLE", "VALUES",
    "USING",
))
_SUBQ_VALUE_KWS = frozenset((
    "SELECT", "WHERE", "HAVING", "QUALIFY", "WHEN", "THEN", "ELSE",
    "AND", "OR", "NOT", "ON", "BY", "RETURNING", "SET", "BETWEEN",
))
_SUBQ_TAIL_KW_RE = re.compile(
    r"(?i)\b(ORDER\s+BY|LIMIT|OFFSET|FETCH)\b"
)


def _rewrite_scalar_subq_order_limit(sql: str) -> str:
    """Inject ``LIMIT 1`` into VALUE-position scalar subqueries that
    carry a deterministic top-level ORDER BY and no LIMIT/OFFSET/FETCH
    of their own.

    Tie caveat (r17, ADVICE item 3 — documented known): when the sort
    key has TIES, duck's "first row" and Spark's LIMIT 1 pick are both
    implementation-defined and may differ — a silently different (but
    equally valid under the query's own ordering) value. Detecting a
    provably-total ORDER BY requires schema/uniqueness knowledge a
    text rewrite doesn't have; ORDER-BY-with-ties is self-inflicted
    nondeterminism on duck too (its row depends on scan order), so the
    injection stays. Subqueries with NO order at all keep the loud
    SCALAR_SUBQUERY_TOO_MANY_ROWS (decision of record, r16)."""
    if _SCALAR_SUBQ_RE.search(sql) is None:
        return sql
    segs = _abs_segments(sql)
    mask = _code_mask(sql)
    depth: list[int] = []
    d = 0
    for i, ch in enumerate(sql):
        if mask[i] and ch == ")":
            d -= 1
        depth.append(d)
        if mask[i] and ch == "(":
            d += 1
    clause_kws = [
        k for k in _CLAUSE_KW_RE.finditer(sql) if all(mask[k.start() : k.end()])
    ]
    inserts: list[int] = []
    for m in _SCALAR_SUBQ_RE.finditer(sql):
        if not all(mask[m.start() : m.end()]):
            continue
        # position class: operator operand / value keyword / paren-or-
        # comma with a non-FROM enclosing clause
        j = m.start()
        while j > 0 and sql[j - 1].isspace():
            j -= 1
        if j == 0:
            continue
        prevc = sql[j - 1]
        wm = re.search(r"[A-Za-z_]\w*$", sql[:j])
        if wm is not None and j == wm.end():
            w = wm.group(0).upper()
            if w in _SUBQ_SKIP_WORDS:
                continue
            if w not in _SUBQ_VALUE_KWS:
                continue  # function call head / unknown keyword
        elif prevc in "=<>!+-*/%|":
            pass
        elif prevc in "(,":
            sd = depth[m.start()]
            last = None
            for k in clause_kws:
                if k.start() >= m.start():
                    break
                if depth[k.start()] == sd:
                    last = k.group(1).upper()
            if last in ("FROM", "JOIN", "VALUES", "UNION",
                        "INTERSECT", "EXCEPT"):
                continue
        else:
            continue
        close = _walk_brackets_fwd(sql, segs, m.start())
        if close <= 0:
            continue
        body = sql[m.start() + 1 : close - 1]
        bmask = _code_mask(body)
        bdepths = []
        dpt = 0
        for bi, bch in enumerate(body):
            if bmask[bi] and bch == ")":
                dpt -= 1
            bdepths.append(dpt)
            if bmask[bi] and bch == "(":
                dpt += 1
        has_order = has_stop = False
        for bm in _SUBQ_TAIL_KW_RE.finditer(body):
            if not all(bmask[bm.start() : bm.end()]):
                continue
            if bdepths[bm.start()] != 0:
                continue
            if bm.group(1).upper().startswith("ORDER"):
                has_order = True
            else:
                has_stop = True
        if has_order and not has_stop:
            inserts.append(close - 1)
    if not inserts:
        return sql
    out: list[str] = []
    pos = 0
    for at in sorted(inserts):
        out.append(sql[pos:at])
        out.append(" LIMIT 1")
        pos = at
    out.append(sql[pos:])
    return "".join(out)


_F32_ITEM_ALIAS_RE = re.compile(
    r"(?is)\sAS\s+(`[^`]+`|[A-Za-z_]\w*)\s*$"
)
_F32_SELECT_RE = re.compile(r"(?i)\bSELECT\b")
_F32_LIST_END_RE = re.compile(
    r"(?i)\b(FROM|WHERE|GROUP|HAVING|QUALIFY|WINDOW|ORDER|LIMIT"
    r"|OFFSET|UNION|INTERSECT|EXCEPT|INTO)\b"
)


def _f32_aliased_items(sql: str):
    """Yield (abs_expr_start, abs_expr_end, expr_text, alias) for every
    explicitly-AS-aliased select item in every SELECT scope."""
    if _F32_SELECT_RE.search(sql) is None:
        return
    mask = _code_mask(sql)
    depth: list[int] = []
    d = 0
    for i, ch in enumerate(sql):
        if mask[i] and ch == ")":
            d -= 1
        depth.append(d)
        if mask[i] and ch == "(":
            d += 1
    for sm in _F32_SELECT_RE.finditer(sql):
        if not all(mask[sm.start() : sm.end()]):
            continue
        sd = depth[sm.start()]
        start = sm.end()
        dm = re.match(r"\s+(?:DISTINCT|ALL)\b", sql[start:], re.IGNORECASE)
        if dm:
            start += dm.end()
        end = len(sql)
        for km in _F32_LIST_END_RE.finditer(sql, start):
            if all(mask[km.start() : km.end()]) and depth[km.start()] == sd:
                end = km.start()
                break
        # the scope may close before any clause keyword: first point
        # where depth drops below the SELECT's own depth
        k2 = start
        while k2 < end:
            if mask[k2] and sql[k2] == ")" and depth[k2] <= sd - 1:
                end = k2
                break
            k2 += 1
        pos2 = start
        for item in split_top_level(sql[start:end]):
            ist = pos2
            pos2 += len(item) + 1
            am = _F32_ITEM_ALIAS_RE.search(item)
            if am is None:
                # unaliased item: yield the full span with alias None
                lead = len(item) - len(item.lstrip())
                yield (
                    ist + lead,
                    ist + len(item.rstrip()),
                    item.strip(),
                    None,
                )
                continue
            imask = _code_mask(item)
            if not all(imask[am.start() : am.start() + 3]):
                continue
            expr = item[: am.start()]
            if not _paren_balanced(expr):
                continue  # the AS sits inside parens (CAST tail)
            alias = am.group(1).strip("`").lower()
            lead = len(expr) - len(expr.lstrip())
            yield ist + lead, ist + am.start(), expr.strip(), alias


_F32_COLLECT_RE = re.compile(
    r"(?i)\bcollect_(?:list|set)\s*\(\s*(?:DISTINCT\s+)?struct\s*\("
)


def _rewrite_f32_collect_struct(sql: str, kinds) -> str:
    """Narrow f32 arithmetic inside the dialect pass's array_agg/list
    template — ``transform(collect_list(struct(<expr> AS v)), …)``
    (r17): the template is emitted by rewrite() BEFORE the
    schema-aware legs run, hiding the aggregate's argument from the
    typer's ARRAY_AGG branch; duck's FLOAT[] carries the f32 element
    values, so every struct arg that types f32-changed substitutes."""
    out: list[str] = []
    pos = 0
    segs = mask = None
    for m in _F32_COLLECT_RE.finditer(sql):
        if m.start() < pos:
            continue
        if segs is None:
            segs = _abs_segments(sql)
            mask = _code_mask(sql)
        if not all(mask[m.start() : m.end()]):
            continue
        p = m.end() - 1
        close = _walk_brackets_fwd(sql, segs, p)
        if close <= 0:
            continue
        parts = split_top_level(sql[p + 1 : close - 1])
        np: list[str] = []
        changed = False
        for a in parts:
            am = re.search(r"(?is)\s+AS\s+\w+\s*$", a)
            core = a[: am.start()] if am else a
            suffix = a[am.start() :] if am else ""
            res = _f32_side(core, kinds)
            if (
                res is not None
                and res[0] not in ("str", "null", "opq")
                and res[2]
            ):
                np.append(res[1] + suffix)
                changed = True
            else:
                np.append(a)
        if not changed:
            continue
        out.append(sql[pos : p + 1])
        out.append(", ".join(np))
        pos = close - 1
    if not out:
        return sql
    out.append(sql[pos:])
    return "".join(out)


_F32_LISTAGG_RE = re.compile(r"(?i)\blistagg\s*\(\s*(?:DISTINCT\s+)?")


def _rewrite_f32_listagg(sql: str, kinds) -> str:
    """duck string_agg stringifies its argument with duck's OWN float
    text (f32 shortest-round-trip, f64 shortest — '16777216.0', not
    Java's '1.6777216E7') and computes f32 arithmetic per-op BEFORE
    aggregating (r17 probe). Float-typed first args of the dialect
    pass's listagg route through the duck_float32_text /
    duck_double_text kernels over the narrowed expression; non-float
    kinds render identically in both engines and stay native."""
    out: list[str] = []
    pos = 0
    segs = mask = None
    for m in _F32_LISTAGG_RE.finditer(sql):
        if m.start() < pos:
            continue
        if segs is None:
            segs = _abs_segments(sql)
            mask = _code_mask(sql)
        if not all(mask[m.start() : m.end()]):
            continue
        open_ = sql.index("(", m.start(), m.end())
        close = _walk_brackets_fwd(sql, segs, open_)
        if close <= 0:
            continue
        args = split_top_level(sql[m.end() : close - 1])
        if not args or not args[0].strip():
            continue
        res = _f32_side(args[0], kinds)
        if res is None or res[0] not in ("f32", "f64"):
            continue
        body = res[1] if res[2] else args[0].strip()
        repl = _scalar_vc_repl(f"({body})", res[0])
        out.append(sql[pos : m.end()])
        out.append(", ".join([repl] + [a.strip() for a in args[1:]]))
        pos = close - 1
    if not out:
        return sql
    out.append(sql[pos:])
    return "".join(out)


def f32_alias_kinds(sql: str, kinds) -> dict:
    """alias → numeric kind for SELECT-list aliases whose expression
    types through the f32 grammar (r16): a derived table's
    ``f * 2 AS v`` makes outer ``v > 0.6`` an f32 comparison in duck.
    Conflicting same-name aliases drop out."""
    found: dict = {}
    dropped: set = set()
    for _a, _b, expr, alias in _f32_aliased_items(sql):
        if alias is None:
            continue
        res = _f32_side(expr, kinds)
        if res is None or res[0] in ("str", "null", "opq"):
            dropped.add(alias)
            continue
        k = (res[0], res[3]) if res[0] == "dec" else res[0]
        if found.get(alias, k) != k:
            dropped.add(alias)
        found[alias] = k
    return {a: k for a, k in found.items() if a not in dropped}


def rewrite_f32_select_items(sql: str, kinds) -> str:
    """ALIASED select items that are f32 arithmetic narrow per-op
    (r16): duck sends `SELECT f * 2 AS x` as FLOAT4 with the f32
    value; Spark's widened DOUBLE reaches the wire as FLOAT8 with
    extra digits. Only items carrying an explicit ``AS alias`` are
    touched — wrapping an unaliased item would change its
    auto-generated column name. Applies to every SELECT scope (a
    derived table's narrowed item also fixes outer references)."""
    repls: list[tuple[int, int, str]] = []
    # an UNALIASED item can only narrow when (a) both engines would
    # auto-name the original identically (restricted grammar — probed
    # r16: Spark and duck both print '(f * 2)') so an explicit alias
    # preserves the wire name, and (b) no DISTINCT/ORDER BY could
    # rebind against the original expression text (conservative
    # statement-level gate)
    can_unaliased = (
        re.search(r"(?i)\b(DISTINCT|ORDER)\b", sql) is None
    )
    for a, b, expr, alias in _f32_aliased_items(sql):
        res = _f32_side(expr, kinds)
        # r17: f64 items whose text CHANGED (greatest/least widening,
        # sum/avg over narrowed f32 args) substitute too — the item
        # stays DOUBLE on the wire (duck's type), only the inner f32
        # arithmetic narrows
        if res is None or res[0] in ("str", "null") or not res[2]:
            continue
        if alias is None:
            if not can_unaliased:
                continue
            name = _f32_autoname(expr, kinds)
            if name is None:
                continue
            bt = name.replace("`", "``")
            repls.append((a, b, f"{res[1]} AS `{bt}`"))
            continue
        repls.append((a, b, res[1]))
    if not repls:
        return sql
    out2: list[str] = []
    pos3 = 0
    for a, b, txt in sorted(repls):
        if a < pos3:
            continue
        out2.append(sql[pos3:a])
        out2.append(txt)
        pos3 = b
    out2.append(sql[pos3:])
    return "".join(out2)


def rewrite_f32_comparisons(sql: str, kinds) -> str:
    """Comparison/value-position leg of the FLOAT×INT closure (r16):
    rewrite ``=``/``<>``/ordering/BETWEEN/IN sites where one side is
    f32-typed per ``_F32Expr`` so Spark evaluates duck's FLOAT
    arithmetic and FLOAT comparison promotion. ``kinds`` maps bare
    lowercase column names to 'f32'/'f64'/'int'/'dec' (empty for the
    type-blind pass over explicit f32 cast units)."""
    if _F32_CMP_GATE_RE.search(sql) is None:
        return sql
    segs = _abs_segments(sql)
    mask = _code_mask(sql)
    depth: list[int] = []
    d = 0
    for i, ch in enumerate(sql):
        if mask[i] and ch == ")":
            d -= 1
        depth.append(d)
        if mask[i] and ch == "(":
            d += 1
    clause_kws = [
        k for k in _CLAUSE_KW_RE.finditer(sql) if all(mask[k.start() : k.end()])
    ]
    sites = sorted(
        list(_CMP_OP_RE.finditer(sql)) + list(_ORD_OP_RE.finditer(sql)),
        key=lambda m: m.start(),
    )
    trunc_spans = _f32_trunc_spans(sql, segs, mask)
    out: list[str] = []
    pos = 0
    changed_any = False
    for m in sites:
        if m.start() < pos or not all(mask[m.start() : m.end()]):
            continue
        if any(a2 <= m.start() < b2 for a2, b2 in trunc_spans):
            continue  # inside a trunc template: the typer owns it
        if m.group(0) == "=" and _is_set_assignment_eq(
            sql, mask, clause_kws, depth, m.start()
        ):
            continue
        ls = _scan_left_arith(sql, segs, m.start())
        rend = _scan_right_arith(sql, segs, m.end())
        if ls >= m.start() or rend <= m.end():
            continue
        if _f32_chain_adjacent_op(sql, ls, rend):
            continue
        lhs = sql[ls : m.start()].strip()
        rhs = sql[m.end() : rend].strip()
        lres = _f32_side(lhs, kinds)
        rres = _f32_side(rhs, kinds)
        new = _f32_new_sides(lres, rres, lhs, rhs)
        if new is None:
            continue
        out.append(sql[pos:ls])
        out.append(f"{new[0]} {m.group(0)} {new[1]}")
        pos = rend
        changed_any = True
    out.append(sql[pos:])
    sql = "".join(out)
    sql = _rewrite_f32_between(sql, kinds)
    sql = _rewrite_f32_in(sql, kinds)
    return sql


def _rewrite_f32_between(sql: str, kinds) -> str:
    """``x BETWEEN lo AND hi`` with an f32-typed needle: narrow the
    needle and cast int/dec/str bounds to FLOAT (duck desugars to two
    comparisons with per-pair promotion)."""
    if _F32_BETWEEN_RE.search(sql) is None:
        return sql
    segs = _abs_segments(sql)
    mask = _code_mask(sql)
    out: list[str] = []
    pos = 0
    for m in _F32_BETWEEN_RE.finditer(sql):
        if m.start() < pos or not all(mask[m.start() : m.end()]):
            continue
        ls = _scan_left_arith(sql, segs, m.start())
        if ls >= m.start():
            continue
        lo_end = _scan_right_arith(sql, segs, m.end())
        if lo_end <= m.end():
            continue
        am = re.match(r"\s*AND\b", sql[lo_end:], re.IGNORECASE)
        if am is None:
            continue
        hi_start = lo_end + am.end()
        hi_end = _scan_right_arith(sql, segs, hi_start)
        if hi_end <= hi_start:
            continue
        if _f32_chain_adjacent_op(sql, ls, hi_end):
            continue
        needle = sql[ls : m.start()].strip()
        lo = sql[m.end() : lo_end].strip()
        hi = sql[hi_start:hi_end].strip()
        nres = _f32_side(needle, kinds)
        if nres is None or nres[0] not in ("f32", "f64"):
            continue
        lres = _f32_side(lo, kinds)
        rres = _f32_side(hi, kinds)
        if nres[0] == "f64":
            # r17: a CHANGED f64 needle (greatest/least widening) —
            # the common type is DOUBLE, native for the bounds; only
            # narrowed texts substitute, no FLOAT casts
            if not nres[2]:
                continue
            lo2 = lres[1] if lres is not None and lres[2] else lo
            hi2 = rres[1] if rres is not None and rres[2] else hi
            kw = sql[m.start() : m.end()]
            out.append(sql[pos:ls])
            out.append(f"{nres[1]} {kw} {lo2} AND {hi2}")
            pos = hi_end
            continue
        # duck types BETWEEN with ONE common type over all three
        # operands (probed: 0.3::FLOAT BETWEEN 0.3::DOUBLE AND 0.3 is
        # FALSE — the DECIMAL bound went to DOUBLE with the rest), so
        # any f64/unknown operand leaves the whole site native
        ok = ("f32", "int", "dec", "str", "null")
        if lres is None or rres is None or lres[0] not in ok or rres[0] not in ok:
            continue

        def _bound(res, orig):
            if res[0] in ("f32", "null"):
                return res[1] if res[2] else orig
            return _f32_of(res, orig)

        try:
            lo2, hi2 = _bound(lres, lo), _bound(rres, hi)
        except _F32Bail:
            continue
        new_needle = nres[1] if nres[2] else needle
        if new_needle == needle and lo2 == lo and hi2 == hi:
            continue
        kw = sql[m.start() : m.end()]
        out.append(sql[pos:ls])
        out.append(f"{new_needle} {kw} {lo2} AND {hi2}")
        pos = hi_end
    out.append(sql[pos:])
    return "".join(out)


def _rewrite_f32_in(sql: str, kinds) -> str:
    """``x IN (items)`` with an f32-typed needle: narrow the needle
    and cast int/dec/str items to FLOAT. Subquery items and any item
    outside the grammar leave the site native (duck then compares in
    the wider type, which Spark already matches)."""
    if _F32_IN_RE.search(sql) is None:
        return sql
    segs = _abs_segments(sql)
    mask = _code_mask(sql)
    out: list[str] = []
    pos = 0
    for m in _F32_IN_RE.finditer(sql):
        if m.start() < pos or not all(mask[m.start() : m.end()]):
            continue
        ls = _scan_left_arith(sql, segs, m.start())
        if ls >= m.start():
            continue
        needle = sql[ls : m.start()].strip()
        nres = _f32_side(needle, kinds)
        if nres is None or nres[0] not in ("f32", "f64"):
            continue
        if nres[0] == "f64" and not nres[2]:
            continue  # unchanged f64 needle: native already duck-exact
        open_ = sql.index("(", m.start(), m.end())
        close = _walk_brackets_fwd(sql, segs, open_)
        if close <= 0:
            continue
        if _f32_chain_adjacent_op(sql, ls, close):
            continue
        items = split_top_level(sql[open_ + 1 : close - 1])
        if not items or any(not a.strip() for a in items):
            continue
        if re.match(
            r"\s*(SELECT|WITH|VALUES|TABLE|FROM)\b", items[0], re.IGNORECASE
        ):
            continue
        ires = [_f32_side(a.strip(), kinds) for a in items]
        if nres[0] == "f64":
            # r17: a CHANGED f64 needle (greatest/least widening) —
            # duck compares the list in DOUBLE, which native Spark
            # already does for the ITEMS; only narrowed texts
            # substitute, no FLOAT casts
            new_items = [
                (r[1] if r is not None and r[2] else a.strip())
                for a, r in zip(items, ires)
            ]
            kw = sql[m.start() : open_ + 1]
            out.append(sql[pos:ls])
            out.append(f"{nres[1]} {kw}" + ", ".join(new_items) + ")")
            pos = close
            continue
        if any(
            r is None or r[0] not in ("f32", "int", "dec", "str", "null")
            for r in ires
        ):
            # an unknown/f64 item promotes the whole IN to f64 — the
            # native double comparison already matches duck
            continue
        new_items = []
        changed = nres[2]
        try:
            for a, r in zip(items, ires):
                a = a.strip()
                if r[0] == "f32":
                    new_items.append(r[1] if r[2] else a)
                    changed = changed or r[2]
                elif r[0] == "null":
                    new_items.append(a)
                else:
                    new_items.append(_f32_of(r, a))
                    changed = True
        except _F32Bail:
            continue
        if not changed:
            continue
        new_needle = nres[1] if nres[2] else needle
        kw = sql[m.start() : open_ + 1]
        out.append(sql[pos:ls])
        out.append(f"{new_needle} {kw}" + ", ".join(new_items) + ")")
        pos = close
    out.append(sql[pos:])
    return "".join(out)


_F32_GATE_STRIP_RE = re.compile(
    r"(?i)\b(?:select|returning|distinct)\s+\*|\.\s*\*|\(\s*\*\s*\)|,\s*\*"
)
_F32_GATE_OP_RE = re.compile(
    # the right operand may start with unary sign(s): `f * -2.5`,
    # `f - -g` (r17 review find — the first cut required a bare
    # operand char and silently dropped the narrowing the old
    # any-arithmetic-char gate applied)
    r"[+/%]|[\w`\")\]]\s*[*-]\s*(?:[-+]\s*)*[\w`\"(]"
)


def f32_item_gate(sql: str) -> bool:
    """Cheap pre-gate for the schema-aware f32 select-item leg (r17,
    ADVICE item 4): the old ``[+*/%-]`` scan over the RAW text matched
    nearly every statement (date literals '2024-01-01', ``SELECT *``,
    negative numbers in strings), pulling no-arithmetic queries through
    schema analysis. Now: literals are masked out, projection stars
    (`SELECT *`, `t.*`, `count(*)`) are stripped, and ``*``/``-`` must
    sit BETWEEN operand-looking tokens."""
    for is_lit, seg in _split_quoted(sql):
        if is_lit:
            continue
        seg = _F32_GATE_STRIP_RE.sub(" ", seg)
        if _F32_GATE_OP_RE.search(seg) is not None:
            return True
    return False


_F32_GROUPBY_RE = re.compile(r"(?i)\bGROUP\s+BY\b")
_F32_ORDERBY_RE = re.compile(r"(?i)\bORDER\s+BY\b")
_F32_GB_END_RE = re.compile(
    r"(?i)\b(HAVING|QUALIFY|WINDOW|ORDER|LIMIT|OFFSET|UNION"
    r"|INTERSECT|EXCEPT|GROUP)\b"
)
_F32_GB_SET_HEAD_RE = re.compile(r"(?is)^(GROUPING\s+SETS|CUBE|ROLLUP)\s*\(")
_F32_ORD_TAIL_RE = re.compile(
    r"(?is)(\s+(?:ASC|DESC))?(\s+NULLS\s+(?:FIRST|LAST))?\s*$"
)


def _f32_clause_items(sql: str, kw_re, end_re):
    """Yield (abs_start, abs_end, text) for each top-level item of
    every ``kw_re`` clause (GROUP BY / ORDER BY list scanner for the
    f32 mirror pass). The list ends at the first same-depth clause
    keyword from ``end_re`` or when the enclosing scope closes."""
    if kw_re.search(sql) is None:
        return
    mask = _code_mask(sql)
    depth: list[int] = []
    d = 0
    for i, ch in enumerate(sql):
        if mask[i] and ch == ")":
            d -= 1
        depth.append(d)
        if mask[i] and ch == "(":
            d += 1
    for km in kw_re.finditer(sql):
        if not all(mask[km.start() : km.end()]):
            continue
        sd = depth[km.start()]
        start = km.end()
        end = len(sql)
        for em in end_re.finditer(sql, start):
            if all(mask[em.start() : em.end()]) and depth[em.start()] == sd:
                end = em.start()
                break
        k2 = start
        while k2 < end:
            if mask[k2] and sql[k2] == ")" and depth[k2] <= sd - 1:
                end = k2
                break
            k2 += 1
        pos = start
        for item in split_top_level(sql[start:end]):
            ist = pos
            pos += len(item) + 1
            lead = len(item) - len(item.lstrip())
            txt = item.strip()
            if txt:
                yield ist + lead, ist + lead + len(txt), txt


def _f32_norm(expr: str) -> str:
    # whitespace is insignificant between SQL tokens: `f*2` and
    # `f * 2` must mirror to the same key (quoted identifiers with
    # internal spaces can't type through the f32 arith grammar anyway)
    return "".join(expr.lower().split())


def _f32_group_narrowings(sql: str, kinds):
    """(replacements, mirror) for grouping expressions that type as
    f32 arithmetic: every such expression narrows with the IDENTICAL
    ``_f32_side`` text used by the select-item and comparison legs, so
    Spark's semantic grouping match still succeeds after narrowing
    (r17, ADVICE item 1 — half-narrowing raised MISSING_AGGREGATION /
    UNRESOLVED_COLUMN on previously-valid grouped FLOAT queries).
    Narrowing the grouping key is also duck-correct in itself: duck
    groups on the FLOAT-rounded value. CUBE/ROLLUP/GROUPING SETS
    narrow their leaf expressions in place; ``ALL`` and positional
    ordinals pass through."""
    reps: list[tuple[int, int, str]] = []
    mirror: dict[str, str] = {}

    def _one(a: int, b: int, expr: str) -> None:
        if re.fullmatch(r"(?is)ALL|\d+", expr):
            return
        res = _f32_side(expr, kinds)
        # f64-changed keys narrow too (r17) — the select-item leg
        # substitutes them, so the grouping text must stay identical
        if res is None or res[0] in ("str", "null") or not res[2]:
            return
        reps.append((a, b, res[1]))
        mirror[_f32_norm(expr)] = res[1]

    for a, b, item in _f32_clause_items(sql, _F32_GROUPBY_RE, _F32_GB_END_RE):
        hm = _F32_GB_SET_HEAD_RE.match(item)
        if hm is None:
            _one(a, b, item)
            continue
        if not item.endswith(")"):
            continue
        inner = item[hm.end() : -1]
        off = a + hm.end()
        is_sets = hm.group(1).upper().startswith("GROUPING")
        pos = 0
        for part in split_top_level(inner):
            pst = pos
            pos += len(part) + 1
            lead = len(part) - len(part.lstrip())
            p = part.strip()
            if is_sets and p.startswith("(") and p.endswith(")"):
                ip = 0
                for leaf in split_top_level(p[1:-1]):
                    llead = len(leaf) - len(leaf.lstrip())
                    lt = leaf.strip()
                    if lt:
                        la = pst + lead + 1 + ip + llead
                        _one(off + la, off + la + len(lt), lt)
                    ip += len(leaf) + 1
            elif p:
                _one(off + pst + lead, off + pst + lead + len(p), p)
    return reps, mirror


def rewrite_f32_group_order(sql: str, kinds) -> str:
    """Apply the grouping-expression narrowings and mirror them onto
    ORDER BY and window PARTITION BY items whose text matches a
    narrowed grouping expression (both re-resolve against grouping
    expressions in aggregated scopes; an un-mirrored text would no
    longer match — the PARTITION BY leg closes the r17 review find:
    ``sum(count(*)) OVER (PARTITION BY f * 2) … GROUP BY f * 2``
    raised MISSING_AGGREGATION half-narrowed). In UNGROUPED
    statements PARTITION BY keys narrow directly — duck partitions on
    the f32-rounded key, so two f64-distinct values can share a duck
    partition."""
    reps, mirror = _f32_group_narrowings(sql, kinds)
    grouped = bool(reps) or (
        _F32_GROUPBY_RE.search(sql) is not None
    )
    for a, b, item in _f32_clause_items(
        sql, _F32_PARTBY_RE, _F32_PB_END_RE
    ):
        nt = mirror.get(_f32_norm(item))
        if nt is None and not grouped:
            res = _f32_side(item, kinds)
            if res is not None and res[0] in ("f32", "f64") and res[2]:
                nt = res[1]
        if nt is not None:
            reps.append((a, b, nt))
    if not reps:
        return sql
    for a, b, item in _f32_clause_items(sql, _F32_ORDERBY_RE, _F32_GB_END_RE):
        tm = _F32_ORD_TAIL_RE.search(item)
        core = item[: tm.start()] if tm else item
        nt = mirror.get(_f32_norm(core))
        if nt is not None:
            tail = item[tm.start() :] if tm else ""
            reps.append((a, b, nt + tail))
    out: list[str] = []
    pos = 0
    for a, b, txt in sorted(reps):
        if a < pos:
            continue
        out.append(sql[pos:a])
        out.append(txt)
        pos = b
    out.append(sql[pos:])
    return "".join(out)


_F32_PARTBY_RE = re.compile(r"(?i)\bPARTITION\s+BY\b")
_F32_PB_END_RE = re.compile(r"(?i)\b(ORDER|ROWS|RANGE|GROUPS)\b")


def f32_grouped_bail(sql: str, kinds) -> bool:
    """True when a grouped statement cannot narrow consistently: a
    grouping expression would narrow, but an UNALIASED select item
    with the same text is skipped by the select-item gate
    (DISTINCT/ORDER rebind guard or un-autonamable expression) — the
    half state breaks grouping resolution, so the whole statement
    keeps native typing (pre-r16 behavior, documented residue)."""
    if _F32_GROUPBY_RE.search(sql) is None:
        return False
    can_unaliased = re.search(r"(?i)\b(DISTINCT|ORDER)\b", sql) is None
    skipped: set[str] = set()
    for _a, _b, expr, alias in _f32_aliased_items(sql):
        if alias is not None:
            continue
        res = _f32_side(expr, kinds)
        if res is None or res[0] in ("str", "null") or not res[2]:
            continue
        if not can_unaliased or _f32_autoname(expr, kinds) is None:
            skipped.add(_f32_norm(expr))
    if not skipped:
        return False
    _reps, mirror = _f32_group_narrowings(sql, kinds)
    return bool(skipped & set(mirror))


def rewrite_f32_positions(sql: str, base_kinds) -> str:
    """Single orchestrator for the f32 narrowing legs (r17): ONE kind
    map (schema/cast-unit kinds + select-alias kinds) drives the
    select-item, comparison, and GROUP BY/ORDER BY mirror passes, so
    every position sharing an expression text narrows identically and
    Spark's semantic grouping match holds. Bails whole-statement on
    the one inconsistent corner (``f32_grouped_bail``)."""
    merged = dict(base_kinds)
    for a, k in f32_alias_kinds(sql, base_kinds).items():
        merged.setdefault(a, k)
    if f32_grouped_bail(sql, merged):
        return sql
    # comparisons BEFORE select items (r17): the round/floor/ceil
    # guards the r17 function tier emits contain internal ``= 0``
    # comparisons — scanning items first would make the comparison
    # leg re-narrow inside its own sibling's emission (harmless but
    # quadratic); on the original text the two legs touch disjoint
    # spans, so the order only matters for emitted text
    sql = _rewrite_f32_collect_struct(sql, merged)
    sql = _rewrite_f32_listagg(sql, merged)
    sql = rewrite_f32_comparisons(sql, merged)
    sql = rewrite_f32_select_items(sql, merged)
    return rewrite_f32_group_order(sql, merged)


_YM_WORD_RE = re.compile(r"(?i)[a-z_]+")

_IVL_UNIT_FACTORS = {
    # unit → (months, days, micros) per 1 of the unit (duck: months,
    # days and micros are SEPARATE components, no normalization)
    "year": (12, 0, 0), "years": (12, 0, 0),
    "decade": (120, 0, 0), "decades": (120, 0, 0),
    "century": (1200, 0, 0), "centuries": (1200, 0, 0),
    "millennium": (12000, 0, 0), "millennia": (12000, 0, 0),
    "quarter": (3, 0, 0), "quarters": (3, 0, 0),
    "month": (1, 0, 0), "months": (1, 0, 0),
    "week": (0, 7, 0), "weeks": (0, 7, 0),
    "day": (0, 1, 0), "days": (0, 1, 0),
    "hour": (0, 0, 3_600_000_000), "hours": (0, 0, 3_600_000_000),
    "minute": (0, 0, 60_000_000), "minutes": (0, 0, 60_000_000),
    "second": (0, 0, 1_000_000), "seconds": (0, 0, 1_000_000),
    "millisecond": (0, 0, 1_000), "milliseconds": (0, 0, 1_000),
    "microsecond": (0, 0, 1), "microseconds": (0, 0, 1),
}
_IVL_SEG_RE = re.compile(
    r"\s*([+-]?\d+(?:\.\d+)?)\s*([a-zA-Z]+)"
    r"|\s*([+-]?\d+:\d+:\d+(?:\.\d+)?)"
)


def _ivl_add(
    acc: tuple[int, int, int], qs: str, unit: str
) -> tuple[int, int, int] | None:
    """Accumulate ``qs`` (possibly fractional) of ``unit`` onto a
    (months, days, micros) triple with duck's fraction CASCADE
    (probed r15): '1.5 months' → 1 month 15 days (frac × 30 days),
    '1.999 days' → 1 day + frac × 86400 s; integers stay exact."""
    u = unit.lower()
    fac = _IVL_UNIT_FACTORS.get(u)
    if fac is None:
        return None
    months, days, micros = acc
    if "." not in qs:
        q = int(qs)
        return (months + fac[0] * q, days + fac[1] * q, micros + fac[2] * q)
    q = float(qs)
    if fac[0]:
        tm = q * fac[0]
        im = int(tm)
        months += im
        if u in _IVL_YEAR_UNITS:
            # year-family fractions TRUNCATE at months (probed:
            # '1.04 years' is just '1 year')
            return (months, days, micros)
        # month/quarter fractions cascade ONE level, to whole days
        # ('0.035 months' is '1 day', no time part)
        days += int((tm - im) * 30)
        return (months, days, micros)
    if fac[1]:
        td = q * fac[1]
        idd = int(td)
        days += idd
        micros += round((td - idd) * 86_400_000_000)
        return (months, days, micros)
    return (months, days, micros + round(q * fac[2]))


_IVL_YEAR_UNITS = frozenset({
    "year", "years", "decade", "decades", "century", "centuries",
    "millennium", "millennia",
})


def _duck_interval_lit_triple(text: str) -> tuple[int, int, int] | None:
    """(months, days, micros) of a duck INTERVAL literal, or None when
    the shape isn't understood (fractional quantities, 2-field colon
    times — those keep the existing native/refusal paths). Covers
    ``INTERVAL 25 HOUR``, ``INTERVAL '1 day 2 hours'``,
    ``INTERVAL '-1 month 32 days -25 hours'``,
    ``INTERVAL '36:30:05.123456'`` (r15)."""
    m = re.match(r"(?i)^\s*INTERVAL\s+", text)
    if m is None:
        return None
    body = text[m.end() :].strip()
    qm = re.match(
        r"'((?:[^']|'')*)'\s*([a-zA-Z]+(?:\s+[a-zA-Z]+)*)?\s*$", body
    )
    if qm:
        inner, unit = qm.group(1), qm.group(2)
        if unit is not None and re.search(r"\s", unit):
            # X TO Y field forms — including the Spark canonicals the
            # fractional-literal conversion itself emits (r15):
            # 'd hh:mm:ss.ffffff' DAY TO SECOND / 'y-m' YEAR TO MONTH
            uw = re.fullmatch(
                r"(?is)(day|hour|minute|year)\s+to\s+"
                r"(hour|minute|second|month)",
                unit.strip(),
            )
            if uw is None:
                return None
            hi = uw.group(1).lower()
            t = inner.strip()
            sgn = -1 if t.startswith("-") else 1
            t = t.lstrip("+-")
            if hi == "year":
                ym = re.fullmatch(r"(\d+)-(\d+)", t)
                if ym is None:
                    return None
                return (sgn * (int(ym.group(1)) * 12 + int(ym.group(2))), 0, 0)
            days = 0
            if hi == "day":
                dm = re.match(r"(\d+)\s*", t)
                if dm is None:
                    return None
                days = int(dm.group(1))
                t = t[dm.end() :]
            micros = 0
            if t:
                fields = t.split(":")
                if len(fields) > 3:
                    return None
                facs = [3_600_000_000, 60_000_000, 1_000_000]
                if hi == "minute":
                    facs = facs[1:]
                try:
                    for k, fld in enumerate(fields):
                        micros += round(float(fld) * facs[k])
                except (ValueError, IndexError):
                    return None
            return (0, sgn * days, sgn * micros)
        if unit is not None:
            # INTERVAL 'n' UNIT (single quoted quantity): fractions
            # TRUNCATE at the unit itself — '1.5' DAY is '1 day',
            # '1.5' HOUR is '01:00:00' — except second/millisecond,
            # which convert exactly ('1.99' SECOND = 00:00:01.99);
            # microsecond truncates (probed r15)
            qs = inner.strip()
            if not re.fullmatch(r"[+-]?\d+(?:\.\d+)?", qs):
                return None
            u = unit.lower()
            fac = _IVL_UNIT_FACTORS.get(u)
            if fac is None:
                return None
            if "." not in qs:
                q = int(qs)
            elif u in (
                "second", "seconds", "millisecond", "milliseconds",
            ):
                return (0, 0, round(float(qs) * fac[2]))
            else:
                q = int(float(qs))
            return (fac[0] * q, fac[1] * q, fac[2] * q)
        acc: tuple[int, int, int] | None = (0, 0, 0)
        pos = 0
        inner = inner.strip()
        while pos < len(inner):
            sm = _IVL_SEG_RE.match(inner, pos)
            if sm is None or sm.end() == pos or acc is None:
                return None
            if sm.group(3) is not None:
                t = sm.group(3)
                sgn = -1 if t.startswith("-") else 1
                t = t.lstrip("+-")
                hh, mi, ss = t.split(":")
                acc = (
                    acc[0],
                    acc[1],
                    acc[2]
                    + sgn
                    * (
                        int(hh) * 3_600_000_000
                        + int(mi) * 60_000_000
                        + round(float(ss) * 1_000_000)
                    ),
                )
            else:
                acc = _ivl_add(acc, sm.group(1), sm.group(2))
            pos = sm.end()
        return acc
    um = re.match(r"([+-]?\d+)\s+([a-zA-Z]+)\s*$", body)
    if um:
        # unquoted quantities are integer-only (duck's parser refuses
        # INTERVAL 1.5 DAY — probed r15)
        return _ivl_add((0, 0, 0), um.group(1), um.group(2))
    return None


def _duck_interval_render(months: int, days: int, micros: int) -> str:
    """DuckDB's interval text from its component triple (probed r14/
    r15): sign per component, hours UNBOUNDED from micros, the time
    part omitted when zero unless everything is zero."""
    parts: list[str] = []
    if months:
        y, mo = divmod(abs(months), 12)
        sgn = "-" if months < 0 else ""
        if y:
            parts.append(f"{sgn}{y} year" + ("s" if y != 1 else ""))
        if mo:
            parts.append(f"{sgn}{mo} month" + ("s" if mo != 1 else ""))
    if days:
        parts.append(f"{days} day" + ("s" if abs(days) != 1 else ""))
    if micros or not parts:
        sgn = "-" if micros < 0 else ""
        a = abs(micros)
        h, rem = divmod(a, 3_600_000_000)
        mi, rem = divmod(rem, 60_000_000)
        s2, us = divmod(rem, 1_000_000)
        t = f"{sgn}{h:02d}:{mi:02d}:{s2:02d}"
        if us:
            t += f".{us:06d}".rstrip("0")
        parts.append(t)
    return " ".join(parts)


def _fold_interval_expr(expr: str) -> str | None:
    """duck's EXACT text for a literal-only interval EXPRESSION —
    +, -, unary -, * int, / int over INTERVAL literals, evaluated
    with duck's component-wise arithmetic (probed r15: '/' is
    per-component integer division — INTERVAL '3 days' / 2 is
    '1 day', not '1 day 12:00:00'; '*' multiplies each component;
    '+'/'-' never renormalize, so 25 HOUR + 0 DAY stays '25:00:00'
    where Spark's DAY TO HOUR type would print '1 day 01:00:00').
    None when any token isn't a literal — column-valued computed
    intervals carry no component provenance in Spark's single-micros
    value and stay a documented known (r15, VERDICT item 3)."""
    toks = _ivl_tokenize(expr)
    if toks is None:
        return None
    val, pos = _ivl_parse_sum(toks, 0)
    if val is None or pos != len(toks):
        return None
    return _duck_interval_render(*val)


_IVL_TOK_RE = re.compile(
    r"(?i)\s*(INTERVAL\s+(?:'(?:[^']|'')*'"
    r"(?:\s*[a-zA-Z]+(?:\s+TO\s+[a-zA-Z]+)?)?"
    r"|[+-]?\d+\s+[a-zA-Z]+)|\d+|[()*/+-])"
)


def _ivl_tokenize(expr: str) -> list[str] | None:
    toks: list[str] = []
    pos = 0
    while pos < len(expr):
        m = _IVL_TOK_RE.match(expr, pos)
        if m is None:
            return None if expr[pos:].strip() else toks
        toks.append(m.group(1))
        pos = m.end()
    return toks


def _ivl_parse_sum(toks, i):
    val, i = _ivl_parse_term(toks, i)
    if val is None:
        return None, i
    while i < len(toks) and toks[i] in "+-":
        op = toks[i]
        rhs, i = _ivl_parse_term(toks, i + 1)
        if rhs is None:
            return None, i
        s = 1 if op == "+" else -1
        val = tuple(a + s * b for a, b in zip(val, rhs))
    return val, i


def _ivl_parse_term(toks, i):
    val, i = _ivl_parse_atom(toks, i)
    if val is None:
        return None, i
    while i < len(toks) and toks[i] in "*/":
        op = toks[i]
        if i + 1 >= len(toks) or not toks[i + 1].isdigit():
            return None, i
        k = int(toks[i + 1])
        if op == "*":
            val = tuple(c * k for c in val)
        else:
            if k == 0:
                return None, i
            # duck's interval division truncates toward zero per
            # component (probed: -3 days / 2 = -1 day)
            val = tuple(int(c / k) for c in val)
        i += 2
    return val, i


def _ivl_parse_atom(toks, i):
    if i >= len(toks):
        return None, i
    t = toks[i]
    if t == "-":
        val, j = _ivl_parse_atom(toks, i + 1)
        if val is None:
            return None, j
        return tuple(-c for c in val), j
    if t == "+":
        return _ivl_parse_atom(toks, i + 1)
    if t == "(":
        val, j = _ivl_parse_sum(toks, i + 1)
        if val is None or j >= len(toks) or toks[j] != ")":
            return None, j
        return val, j + 1
    if re.match(r"(?i)^INTERVAL\b", t):
        return _duck_interval_lit_triple(t), i + 1
    return None, i


def _ym_only_interval(op: str) -> bool:
    """True when an ``INTERVAL …`` operand's unit words are all
    year/month family — the ym ::VARCHAR fold applies (r14). Mixed or
    day-time units keep the native/day-time paths."""
    words = {
        w.lower()
        for w in _YM_WORD_RE.findall(op)
        if w.lower() != "interval"
    }
    return bool(words) and words <= {"year", "years", "month", "months"}


def _dt_only_interval(op: str) -> bool:
    """True when an ``INTERVAL …`` operand's unit words are all
    day-time family (r14; the weeks spelling folds to days upstream)."""
    words = {
        w.lower()
        for w in _YM_WORD_RE.findall(op)
        if w.lower() != "interval"
    }
    return bool(words) and words <= {
        "day", "days", "hour", "hours", "minute", "minutes",
        "second", "seconds", "millisecond", "milliseconds",
        "microsecond", "microseconds", "week", "weeks", "to",
    }


def _paren_balanced(s: str) -> bool:
    """True when parens in ``s`` balance without going negative — i.e.
    stripping one outer pair of ``(s)`` leaves a self-contained
    expression (quote-masked callers only pass code text)."""
    depth = 0
    for c in s:
        if c == "(":
            depth += 1
        elif c == ")":
            depth -= 1
            if depth < 0:
                return False
    return depth == 0


def _cast_chain_operand_start(sql: str, mask: list[bool], pos: int) -> int | None:
    """Start of the operand of a ``::`` at ``pos``, extending LEFT
    through earlier ``::type`` links so ``1.9::DOUBLE::INT`` scans the
    whole chain, not just the ``DOUBLE`` word — and over exponent-
    literal mantissas (``1e-7``: the generic scanner stops at the
    ``7``)."""
    start = _operand_start(sql, mask, pos)
    if start is None:
        return None
    guard = 0
    while guard < 20:
        guard += 1
        if start > 0 and re.match(r"\d", sql[start:]):
            m = re.search(r"(?:\d+\.?\d*|\.\d+)[eE][+-]?$", sql[:start])
            if m:
                start = m.start()
                continue
        head = sql[:start].rstrip()
        if not head.endswith("::"):
            return start
        prev = _operand_start(sql, mask, len(head) - 2)
        if prev is None or prev >= start:
            return start
        start = prev
    return start


_STR_LIST_CAST_RE = re.compile(
    r"('(?:[^']|'')*')\s*::\s*(ARRAY<[\w<>,()]*>)", re.IGNORECASE
)
_STR_LIST_CAST_FN_RE = re.compile(
    r"\b(?:TRY_)?CAST\s*\(\s*('(?:[^']|'')*')\s+AS\s+(ARRAY<[\w<>,()]*>)\s*\)",
    re.IGNORECASE,
)


def _rewrite_str_to_list_cast(sql: str) -> str:
    """DuckDB casts a VARCHAR literal to a LIST by parsing its text
    ('[1, 2]'::INTEGER[] = [1, 2]); Spark has no string→array cast.
    from_json covers the literal form (runs after the T[] suffix pass,
    so the type is already ARRAY<...> DDL). Malformed text NULLs
    (matching TRY_CAST; plain CAST loses DuckDB's conversion error —
    documented delta)."""

    def sub(m: re.Match) -> str:
        return f"from_json({m.group(1)}, '{m.group(2)}')"

    sql = _STR_LIST_CAST_RE.sub(sub, sql)
    return _STR_LIST_CAST_FN_RE.sub(sub, sql)


def _rewrite_brackets(sql: str) -> str:
    """DuckDB bracket idioms → Spark (v1.1.1 dialect, reachable through
    the reference's ``cpp:52`` delegation):

    - bare list literal   ``[a, b]``              → ``array(a, b)``
    - list comprehension  ``[e FOR x IN l IF c]`` → ``transform(filter(l, x -> c), x -> e)``
    - subscript           ``base[i]``             → ``try_element_at(base, i)``
    - slice               ``base[a:b(:step)]``    → ``slice`` with DuckDB
      bound normalization (missing/negative/zero bounds, literal step)
    - varchar base        ``'lit'[a:b]``          → substring semantics

    The subscript rewrite is a CORRECTNESS shim, not sugar: Spark parses
    ``base[i]`` natively but 0-BASED — passing a DuckDB client's 1-based
    subscript through would return the silently-wrong neighbor element.
    ``try_element_at`` is 1-based (negatives count from the end) and
    NULL out-of-range, matching DuckDB exactly. A ``[`` preceded by an
    identifier char, ``)``, ``]`` or a string literal is a subscript;
    anything else starts a literal. Innermost brackets rewrite first;
    empty subscripts (``int[]`` casts) pass through to fail loudly."""
    # each pass consumes one bracket pair, so the guard only trips on a
    # pathological/adversarial statement — and then it must FAIL, not
    # fall through: an unrewritten 1-based subscript would parse 0-based
    # in Spark and return the silently-wrong neighbor element.
    guard = 0
    while True:
        guard += 1
        if guard > 500:
            raise ValueError(
                "bracket-rewrite limit exceeded (over 500 bracket "
                "constructs in one statement)"
            )
        mask = _code_mask(sql)
        # innermost '[': one whose span contains no further code-level '['
        target = None
        for m in re.finditer(r"\[", sql):
            if not mask[m.start()]:
                continue
            depth, j = 1, m.start() + 1
            inner = False
            while j < len(sql) and depth:
                if mask[j]:
                    if sql[j] == "[":
                        inner = True
                        break
                    if sql[j] == "]":
                        depth -= 1
                        if depth == 0:
                            break
                j += 1
            if inner:
                continue
            if depth != 0:
                return sql  # unbalanced: leave for the parser
            target = (m.start(), j)
            break
        if target is None:
            return sql
        lb, rb = target
        content = sql[lb + 1 : rb]
        # classify by the previous non-space code char
        k = lb - 1
        while k >= 0 and sql[k].isspace():
            k -= 1
        is_subscript = k >= 0 and mask[k] and (sql[k].isalnum() or sql[k] in "_)]")
        is_str_base = k >= 0 and not mask[k] and sql[k] == "'"
        if is_subscript and sql[k] not in ")]":
            # a KEYWORD before '[' means a literal in expression position
            # (SELECT [1,2], THEN [..], IN [..]...), not a subscript base
            w_end = k + 1
            w_start = k
            while w_start >= 0 and (sql[w_start].isalnum() or sql[w_start] == "_"):
                w_start -= 1
            if sql[w_start + 1 : w_end].upper() in _BRACKET_KEYWORDS:
                is_subscript = False
        if is_subscript or is_str_base:
            if not content.strip():
                return sql  # type spelling like int[] — not ours to touch
            str_lit = None
            if is_str_base:
                # quoted-literal base: walk back over the masked literal
                # run ('' doubling included) to its opening quote
                start = k
                while start >= 0 and not mask[start]:
                    start -= 1
                start += 1
                if sql[start] != "'":
                    return sql  # adjacent comment — leave for the parser
                base = sql[start : k + 1]
                str_lit = base[1:-1].replace("''", "'")
            else:
                # base: balanced group (call/subscript result) + identifier chain
                end = k
                start = k
                if sql[k] in ")]":
                    close, open_ = sql[k], "(" if sql[k] == ")" else "["
                    depth = 0
                    while start >= 0:
                        if mask[start]:
                            if sql[start] == close:
                                depth += 1
                            elif sql[start] == open_:
                                depth -= 1
                                if depth == 0:
                                    break
                        start -= 1
                    start -= 1
                while start >= 0 and (sql[start].isalnum() or sql[start] in "._"):
                    start -= 1
                start += 1
                base = sql[start : end + 1]
                if not base.strip():
                    return sql
            colons = _split_code_level(content, lb + 1, mask, ":")
            if len(colons) > 2:
                return sql
            if colons:
                parts, prev = [], 0
                for ci in colons:
                    parts.append(content[prev:ci].strip())
                    prev = ci + 1
                parts.append(content[prev:].strip())
                step = parts[2] if len(parts) == 3 else None
                if step is not None and not re.fullmatch(r"\d+", step):
                    return sql  # non-literal/negative step: fail loudly
                if step is not None and int(step) == 0:
                    # DuckDB: Invalid Input Error (probed); without this
                    # the % 0 predicate gets div-zero-guarded into NULL
                    # and silently returns []
                    raise ValueError("Slice step cannot be zero")
                repl = _slice_repl(base, str_lit, parts[0], parts[1], step, guard)
                if repl is None:
                    return sql
            else:
                repl = _subscript_repl(base, str_lit, content.strip())
            sql = sql[:start] + repl + sql[rb + 1 :]
            continue
        # literal or comprehension
        cm = None
        # only treat FOR as a comprehension when it sits at depth 0
        for fm in re.finditer(r"\bFOR\b", content, re.IGNORECASE):
            depth = 0
            ok = True
            for i2, c2 in enumerate(content[: fm.start()]):
                if not mask[lb + 1 + i2]:
                    continue
                if c2 in "([":
                    depth += 1
                elif c2 in ")]":
                    depth -= 1
            if depth == 0 and mask[lb + 1 + fm.start()]:
                cm = _COMPREHENSION_RE.match(content)
            break
        if cm:
            var, expr, src = cm.group("var"), cm.group("expr"), cm.group("src")
            cond = cm.group("cond")
            inner_src = f"filter({src}, {var} -> {cond})" if cond else src
            repl = f"transform({inner_src}, {var} -> {expr})"
        else:
            repl = f"array({content})"
        sql = sql[:lb] + repl + sql[rb + 1 :]
    return sql


_STRUCT_KEY = re.compile(r"^\s*'([^']*)'\s*:\s*(.+)$", re.DOTALL)


def _rewrite_struct_literals(sql: str) -> str:
    """DuckDB struct literal ``{'a': 1, 'b': x}`` → Spark
    ``named_struct('a', 1, 'b', x)``. Bare braces never appear in Spark
    SQL, so any code-level ``{`` whose body parses as quoted-key pairs
    is a struct; anything else passes through to fail loudly.
    Innermost-first so nesting works."""
    guard = 0
    while guard < 25:
        guard += 1
        mask = _code_mask(sql)
        target = None
        for m in re.finditer(r"\{", sql):
            if not mask[m.start()]:
                continue
            depth, j = 1, m.start() + 1
            inner = False
            while j < len(sql) and depth:
                if mask[j]:
                    if sql[j] == "{":
                        inner = True
                        break
                    if sql[j] == "}":
                        depth -= 1
                        if depth == 0:
                            break
                j += 1
            if inner:
                continue
            if depth != 0:
                return sql
            target = (m.start(), j)
            break
        if target is None:
            return sql
        lb, rb = target
        body = sql[lb + 1 : rb]
        pairs = []
        ok = bool(body.strip())
        for part in split_top_level(body):
            km = _STRUCT_KEY.match(part)
            if km is None:
                ok = False
                break
            pairs.append((km.group(1), km.group(2).strip()))
        if not ok:
            return sql  # not a struct literal — leave for the parser
        args = ", ".join(f"'{k}', {v}" for k, v in pairs)
        sql = sql[:lb] + f"named_struct({args})" + sql[rb + 1 :]
    return sql


def _rewrite_from_first(sql: str) -> str:
    """DuckDB FROM-first syntax: ``FROM t`` → ``SELECT * FROM t`` and
    ``FROM t SELECT cols [ORDER BY ...]`` → ``SELECT cols FROM t
    [ORDER BY ...]`` (statement-level only — subqueries keep normal
    order in DuckDB too). The FROM part splices in after the select
    list, BEFORE any trailing clause keywords."""
    if not re.match(r"^\s*FROM\b", sql, re.IGNORECASE):
        return sql
    sel = _find_keyword(sql, "SELECT")
    if sel == -1:
        return "SELECT * " + sql.lstrip()
    head = sql[:sel].strip()
    tail = sql[sel:].rstrip().rstrip(";")
    cut = len(tail)
    for kw in ("WHERE", "GROUP", "HAVING", "WINDOW", "QUALIFY", "ORDER",
               "LIMIT", "OFFSET", "UNION", "INTERSECT", "EXCEPT"):
        k = _find_keyword(tail, kw)
        if k != -1:
            cut = min(cut, k)
    return tail[:cut].rstrip() + " " + head + " " + tail[cut:]


# one arrow step: -> or ->> followed by a quoted key or an integer index
_ARROW_STEP = re.compile(r"\s*(->>?)\s*(?:'([^']*)'|(\d+))")


_LAMBDA_HOFS = {
    "transform", "filter", "exists", "forall", "aggregate", "reduce",
    "zip_with", "map_filter", "map_zip_with", "transform_keys",
    "transform_values", "array_sort",
    # DuckDB spellings: the arrow rewrite runs BEFORE the rename pass,
    # so the pre-rename heads need lambda protection too (code-review
    # r6: `list_transform(l, x -> 'a')` lost its guard otherwise)
    "list_transform", "list_filter", "list_sort", "list_aggregate",
    "list_reduce",
}


def _enclosing_call_head(sql: str, mask, pos: int) -> str | None:
    """Lowercased name of the function call whose argument list contains
    ``pos``, or None when the enclosing '(' is a bare paren / absent."""
    depth = 0
    i = pos - 1
    while i >= 0:
        if mask[i]:
            c = sql[i]
            if c == ")":
                depth += 1
            elif c == "(":
                if depth == 0:
                    j = i - 1
                    while j >= 0 and sql[j].isspace():
                        j -= 1
                    e = j
                    while j >= 0 and (sql[j].isalnum() or sql[j] == "_"):
                        j -= 1
                    return sql[j + 1 : e + 1].lower() if e > j else None
                depth -= 1
        i -= 1
    return None


def _rewrite_json_arrows(sql: str) -> str:
    """PG/DuckDB JSON arrow operators → a composed path expression:
    ``j -> 'a' ->> 'b'`` → ``get_json_object(j, '$.a.b')`` and integer
    steps → ``$[i]`` (0-based in both engines).

    A chain ENDING in ``->>`` (text extraction) maps to
    ``get_json_object`` — exact. A chain ending in ``->`` must keep
    JSON rendering (DuckDB preserves quotes on string values), so it
    maps to the conditional ``_json_value_expr`` form — golden-tested
    and hypothesis-fuzzed byte-for-byte against DuckDB
    (test_pgwire.py / test_compat_properties.py)."""
    guard = 0
    scan_from = 0
    while guard < 100:
        guard += 1
        mask = _code_mask(sql)
        first = None
        for m in _ARROW_STEP.finditer(sql, scan_from):
            # the arrow token itself must be code-level
            a = m.start() + (len(m.group(0)) - len(m.group(0).lstrip()))
            if all(mask[a : a + len(m.group(1))]):
                first = m
                break
        if first is None:
            return sql
        # walk the full chain of consecutive steps
        steps = []
        pos = first.start()
        end = first.start()
        last_op = first.group(1)
        while True:
            m = _ARROW_STEP.match(sql, end)
            if m is None:
                break
            key = m.group(2)
            steps.append(f".{key}" if key is not None else f"[{m.group(3)}]")
            last_op = m.group(1)
            end = m.end()
        # operand before the chain: string literal, paren group, or
        # identifier chain (fail open — leave untouched — otherwise)
        k = pos - 1
        while k >= 0 and sql[k].isspace():
            k -= 1
        if k < 0:
            return sql
        if sql[k] == "'":
            # find the literal segment that ENDS at k (lexer offsets)
            off = 0
            start = None
            for kind, seg in _lex(sql):
                if kind == "lit" and off + len(seg) - 1 == k:
                    start = off
                    break
                off += len(seg)
            if start is None:
                return sql
        elif sql[k] == ")":
            depth, start = 0, k
            while start >= 0:
                if mask[start]:
                    if sql[start] == ")":
                        depth += 1
                    elif sql[start] == "(":
                        depth -= 1
                        if depth == 0:
                            break
                start -= 1
            start -= 1
            while start >= 0 and (sql[start].isalnum() or sql[start] in "._"):
                start -= 1
            start += 1
        elif sql[k].isalnum() or sql[k] == "_":
            start = k
            while start >= 0 and (sql[start].isalnum() or sql[start] in "._"):
                start -= 1
            start += 1
        else:
            scan_from = end
            continue
        # LAMBDA GUARD: `x -> 'k'` is also DuckDB lambda syntax (body a
        # string constant). A lambda parameter (bare identifier or a
        # `(x, y)` list) always directly follows '(' or ',' INSIDE a
        # higher-order function's argument list — so only skip when the
        # enclosing call head is a known lambda HOF. The parenthesized
        # PG idiom `(j -> 'a')` and arrows in other functions' argument
        # position now translate (r5 ADVICE item: the blanket '('/','
        # guard rejected those). An unrewritten `->` in a skipped HOF
        # still fails LOUDLY in Spark's parser — never silently wrong.
        if first.group(1) == "->":
            p = start - 1
            while p >= 0 and sql[p].isspace():
                p -= 1
            if (
                p >= 0
                and sql[p] in "(,"
                and _enclosing_call_head(sql, mask, start) in _LAMBDA_HOFS
            ):
                scan_from = end
                continue
        # extend over a ::JSON cast so `'…'::JSON -> 'a'` binds the
        # whole cast expression, not the bare type word
        while True:
            q = start - 1
            while q >= 0 and sql[q].isspace():
                q -= 1
            if q < 1 or sql[q - 1 : q + 1] != "::":
                break
            q -= 2
            while q >= 0 and sql[q].isspace():
                q -= 1
            if q >= 0 and sql[q] == "'":
                off = 0
                st2 = None
                for kind, seg in _lex(sql):
                    if kind == "lit" and off + len(seg) - 1 == q:
                        st2 = off
                        break
                    off += len(seg)
                if st2 is None:
                    break
                start = st2
            elif q >= 0 and (sql[q].isalnum() or sql[q] == "_"):
                st2 = q
                while st2 >= 0 and (sql[st2].isalnum() or sql[st2] in "._"):
                    st2 -= 1
                start = st2 + 1
            else:
                break
        operand = sql[start : k + 1]
        # a JSON cast is an identity for the string input the Spark
        # JSON functions take (Spark has no JSON type to cast to)
        operand = re.sub(r"\s*::\s*JSON\b", "", operand, flags=re.IGNORECASE)
        path = "$" + "".join(steps)
        if last_op == "->":
            repl = _json_value_expr(operand, f"'{path}'")
        else:
            repl = f"get_json_object({operand}, '{path}')"
        sql = sql[:start] + repl + sql[end:]
        scan_from = 0
    return sql


def _json_value_expr(operand: str, path: str) -> str:
    """JSON-typed extraction (final ``->`` / ``json_extract``) matching
    DuckDB byte-for-byte (fuzz-verified): strings/objects/arrays need
    the variant form (quotes kept, compact object rendering) while
    numbers/booleans/JSON-null need ``get_json_object``'s raw handling
    (DuckDB renders 1.50→'1.5', 0.0→'0.0', 1e2→'100.0' — exactly GJO's
    double formatting — and a JSON null is SQL NULL, where to_json
    gives the string 'null'). The first character of the variant
    rendering picks the branch."""
    tj = f"to_json(variant_get(try_parse_json({operand}), {path}, 'variant'))"
    gjo = f"get_json_object({operand}, {path})"
    return (
        f"(CASE WHEN left({tj}, 1) IN ('\"', '{{', '[') THEN {tj} "
        f"ELSE {gjo} END)"
    )


def _norm_json_path(path_text: str) -> tuple[str, bool] | None:
    """Normalize DuckDB's json path argument forms (r10 sweep) to one
    JSONPath literal: bare key 'a' → '$.a', JSON pointer '/a/0' →
    '$.a[0]', integer n → '$[n]'. Returns (normalized_literal,
    needs_udf); needs_udf=True for shapes JSONPath-in-Spark can't do
    (negative / #- indexes, non-identifier bare keys) — those route to
    the Python duck_json_extract twin. None = not a literal path (leave
    the argument untouched for the variant form)."""
    t = path_text.strip()
    if re.fullmatch(r"-?\d+", t):
        p = f"$[{t}]"
    elif _QUOTED_LIT_RE.fullmatch(t):
        p = t[1:-1].replace("''", "'")
        if p.startswith("$"):
            pass
        elif p.startswith("/"):
            out = "$"
            for s in p.split("/")[1:]:
                if re.fullmatch(r"\d+", s):
                    out += f"[{s}]"
                elif re.fullmatch(r"[A-Za-z_]\w*", s):
                    out += f".{s}"
                else:
                    return ("", True)
            p = out
        elif re.fullmatch(r"[A-Za-z_]\w*", p):
            p = "$." + p
        else:
            return ("", True)  # bare key with dots/specials: ONE key in
            # DuckDB, a nested path to JSONPath — only the UDF is safe
    else:
        return None
    if "[-" in p or "[#" in p:
        return ("", True)  # end-relative indexes wrap at runtime
    return ("'" + p.replace("'", "''") + "'", False)


_JSON_EXTRACT_CALL = re.compile(r"(?<![\w.])json_extract\s*\(", re.IGNORECASE)


def _rewrite_json_extract(sql: str) -> str:
    """DuckDB ``json_extract(j, path)`` returns JSON (string values keep
    their quotes), so it maps to the same conditional form as a final
    ``->`` chain; ``json_extract_string`` (text result) stays a plain
    ``get_json_object`` rename. INNERMOST-first: the LAST regex match
    in the string can't contain another call, so nested
    ``json_extract(json_extract(...))`` rewrites inside-out
    (code-review r6: scanning forward past the replacement skipped the
    operand's embedded inner call)."""
    guard = 0
    skipped: set[int] = set()
    while guard < 200:
        guard += 1
        mask = _code_mask(sql)
        matches = [
            m
            for m in _JSON_EXTRACT_CALL.finditer(sql)
            if all(mask[m.start() : m.end()]) and m.start() not in skipped
        ]
        if not matches:
            return sql
        m = matches[-1]
        depth, i = 1, m.end()
        while i < len(sql) and depth:
            if mask[i]:
                if sql[i] == "(":
                    depth += 1
                elif sql[i] == ")":
                    depth -= 1
            i += 1
        if depth:
            return sql  # unbalanced — leave for the parser to reject
        args = split_top_level(sql[m.end() : i - 1])
        if len(args) != 2:
            skipped.add(m.start())  # wrong arity: leave, loud downstream
            continue
        j, path = args[0].strip(), args[1].strip()
        norm = _norm_json_path(path)
        if norm is None:
            repl = _json_value_expr(j, path)
        elif norm[1]:
            repl = f"duck_json_extract({j}, {path})"
        else:
            repl = _json_value_expr(j, norm[0])
        sql = sql[: m.start()] + repl + sql[i:]
        skipped = {s for s in skipped if s < m.start()}
    return sql


_DT_DIFF_CALL = re.compile(
    r"(?<![\w.])(date_diff|datediff|date_sub|datesub)\s*\(", re.IGNORECASE
)
_DT_UNITS = {
    "year", "quarter", "month", "week", "day", "hour", "minute", "second",
    "millisecond", "microsecond",
}


_BOOL_CTX_L_RE = re.compile(
    r"\b(WHERE|WHEN|AND|OR|NOT|HAVING|ON)\b|\bIF\s*\(", re.IGNORECASE
)
_BOOL_CTX_R_KWS = frozenset(
    """AND OR THEN ELSE END GROUP ORDER HAVING LIMIT OFFSET UNION
    INTERSECT EXCEPT WINDOW QUALIFY RETURNING FROM WHERE AS JOIN
    WHEN CASE""".split()
)
# keywords that END the scan but mean the atom is NOT the whole
# operand (the expression CONTINUES: `k BETWEEN …`, `v IN (…)`,
# `x IS NULL` — wrapping the needle would garble it)
_BOOL_CTX_CONT_KWS = frozenset(
    """BETWEEN IN LIKE ILIKE GLOB SIMILAR IS NOT COLLATE""".split()
)
# backward-slot boundaries for the LEFT operand of AND/OR
_BOOL_CTX_BACK_RE = re.compile(
    r"\b(WHERE|WHEN|AND|OR|NOT|HAVING|ON|THEN|ELSE|SELECT|BY)\s*$"
    r"|[(,;]\s*$",
    re.IGNORECASE,
)
# backward EXPRESSION leg (r13): keywords that end the scan with an
# accepted boundary (span starts after them) vs words that abort it —
# slot-opener keywords (the forward machinery owns that span), range/
# membership tails, and CASE structure at the operand's own depth
_BOOL_BACK_OK_KWS = frozenset("SELECT THEN ELSE BY".split())
_BOOL_BACK_BAIL_KWS = frozenset(
    """WHERE WHEN AND OR NOT HAVING ON CASE END IS IN LIKE ILIKE GLOB
    SIMILAR BETWEEN EXISTS COLLATE JOIN FROM SET VALUES DISTINCT ALL
    UNION INTERSECT EXCEPT LIMIT OFFSET AS ASC DESC RETURNING
    QUALIFY""".split()
)
_NUM_LIT_RE = re.compile(r"[-+]?\d+(?:\.\d+)?")
_BOOL_STR_LIT_RE = re.compile(r"'(?:[^']|'')*'")
# VARCHAR→BOOLEAN accepted spellings (probed r13: case-insensitive
# exactly these six, no whitespace trimming, everything else is a
# Conversion Error — 'yes'/'on'/' true'/'01' all refuse)
_BOOL_STR_TRUE = frozenset(("true", "t", "1"))
_BOOL_STR_FALSE = frozenset(("false", "f", "0"))
# known-boolean function heads: skip the analysis probe (the typer
# would only confirm "bool → leave native"); purely a probe-count
# optimization, an unlisted boolean head still types correctly
_BOOL_FN_HEADS = frozenset(
    """exists starts_with startswith ends_with endswith contains prefix
    suffix like ilike regexp_matches regexp_full_match list_contains
    array_contains list_has list_has_any list_has_all map_contains
    json_valid json_contains isnan isfinite isinf signbit
    pg_is_in_recovery""".split()
)


def _bool_lit_fold(atom: str) -> str | None:
    """Fold a string LITERAL in a boolean slot to TRUE/FALSE per duck's
    VARCHAR→BOOLEAN cast, or None (not a string literal, or a spelling
    duck refuses — Spark's DATATYPE_MISMATCH is the matching loud
    refusal, so invalid spellings stay native)."""
    if _BOOL_STR_LIT_RE.fullmatch(atom) is None:
        return None
    val = atom[1:-1].replace("''", "'").lower()
    if val in _BOOL_STR_TRUE:
        return "TRUE"
    if val in _BOOL_STR_FALSE:
        return "FALSE"
    return None


def _bool_str_wrap(expr: str) -> str:
    """duck's VARCHAR→BOOLEAN coercion over a runtime string: the six
    accepted spellings case-folded, NULL passthrough, duck's exact
    Conversion Error otherwise (raise_error → wire SQLSTATE, the
    lpad/rpad precedent). ``expr`` is embedded four times — fine for
    columns, and expression operands only reach here via the typer leg
    (documented duplication, the wrap_case_call precedent)."""
    return (
        f"(CASE WHEN {expr} IS NULL THEN CAST(NULL AS BOOLEAN)"
        f" WHEN lower({expr}) IN ('true', 't', '1') THEN TRUE"
        f" WHEN lower({expr}) IN ('false', 'f', '0') THEN FALSE"
        f" ELSE CAST(raise_error(concat('Conversion Error: Could not"
        f" convert string ''', {expr}, ''' to BOOL')) AS BOOLEAN) END)"
    )


def neutralize_bool_slots(sql: str) -> str:
    """Schema-safe copy of ``sql`` with every boolean-context slot
    replaced by TRUE. Analysis probes (expression typers, set-op
    branch schemas) need a statement that ANALYZES, but a raw
    statement with duck-style coercion slots (``WHERE n + 1``) fails
    FILTER_NOT_BOOLEAN until the coercion pass has run — and that
    pass itself needs the probes (review r13: the passes starved each
    other). Slot content never affects the statement's output schema,
    so TRUE substitution is analysis-exact."""
    return rewrite_int_bool_contexts(
        sql, set(), frozenset(), None, neutralize=True
    )


def rewrite_int_bool_contexts(
    sql: str,
    num_cols: set[str],
    str_cols: frozenset[str] | set[str] = frozenset(),
    typer_factory=None,
    skip_cols: frozenset[str] | set[str] = frozenset(),
    neutralize: bool = False,
) -> str:
    """DuckDB coerces NUMERICS and STRINGS to BOOLEAN in boolean
    contexts — ``NOT 1`` is false, ``WHERE v`` keeps nonzero rows,
    ``NOT 'true'`` is false, ``CASE WHEN 1 THEN`` takes the branch,
    NULL stays NULL (probed r13; Spark raises DATATYPE_MISMATCH). For
    each boolean-context slot (after WHERE / HAVING / WHEN / AND / OR
    / NOT / ON, or IF's first argument):

    - a numeric literal or known numeric COLUMN (``num_cols``,
      lowercase unqualified — empty for the schema-free literal leg
      inside rewrite()) wraps in ``(x <> 0)`` — duck's exact truth
      rule including NULL passthrough;
    - a string LITERAL folds to TRUE/FALSE at rewrite time when it is
      one of duck's six accepted spellings (true/t/1/false/f/0,
      case-insensitive, untrimmed); refused spellings stay native —
      Spark's analyzer error is the matching loud refusal;
    - a known string COLUMN (``str_cols``) wraps in the runtime
      VARCHAR→BOOLEAN CASE (accepted spellings + NULL passthrough +
      duck's Conversion Error via raise_error);
    - any other single EXPRESSION in the slot (no top-level comparison
      chars, not a known-boolean head) resolves through the
      analysis-time typer (r13: kind ∈ num/str/bool/other) and takes
      the matching wrap — ``WHERE v + 1``, ``HAVING count(*)``,
      ``NOT (SELECT 1)``, ``IF(length(s), …)`` all coerce like duck.
      ``typer_factory`` takes the NEUTRALIZED statement text (every
      candidate slot replaced by TRUE — the original text cannot
      analyze while the invalid slots are still in it) and returns the
      ``expr -> kind`` callable.

    Anything the legs can't classify is left alone (a comparison
    already yields boolean; unknown shapes stay loud)."""
    if _BOOL_CTX_L_RE.search(sql) is None:
        return sql
    kinds: list[str] = []
    for k_, seg_ in _lex(sql):
        kinds.extend([k_] * len(seg_))
    mask = [k_ == "code" for k_ in kinds]

    def _atom_repl(atom: str) -> str | None:
        """Replacement for a whole-slot atom, or None (leave native)."""
        if atom.upper() == "MATCHED":
            # MERGE's WHEN [NOT] MATCHED arm keyword — a target column
            # literally named 'matched' in num/str_cols must not turn
            # the arm into `WHEN (MATCHED <> 0)` (third review r13);
            # the narrow corner of a genuine bool-context column named
            # matched stays native-loud
            return None
        if neutralize:
            return "TRUE"
        if _NUM_LIT_RE.fullmatch(atom) is not None:
            return f"({atom} <> 0)"
        lit = _bool_lit_fold(atom)
        if lit is not None:
            return lit
        if re.fullmatch(r"[A-Za-z_][\w.]*", atom) is not None:
            base = atom.split(".")[-1].lower()
            if base in num_cols:
                return f"({atom} <> 0)"
            if base in str_cols:
                return _bool_str_wrap(atom)
        return None
    depth: list[int] = []
    d = 0
    for i, ch in enumerate(sql):
        if mask[i] and ch == ")":
            d -= 1
        depth.append(d)
        if mask[i] and ch == "(":
            d += 1
    # a WHEN belonging to a SIMPLE case (``CASE x WHEN 0 THEN …``)
    # introduces a comparand, not a boolean slot — wrapping its arm
    # garbled the projection-IN pass's own emitted simple CASE
    simple_whens: set[int] = set()
    case_stack: list[bool] = []
    for tok in re.finditer(r"\b(CASE|WHEN|END)\b", sql, re.IGNORECASE):
        if not all(mask[tok.start() : tok.end()]):
            continue
        w = tok.group(1).upper()
        if w == "CASE":
            # find the next CODE token (comments between CASE and its
            # first WHEN must not flip the classification — review r13)
            j2 = tok.end()
            while j2 < len(sql) and (not mask[j2] or sql[j2].isspace()):
                j2 += 1
            case_stack.append(
                re.match(r"WHEN\b", sql[j2:], re.IGNORECASE) is None
            )  # True = simple case
        elif w == "WHEN":
            if case_stack and case_stack[-1]:
                simple_whens.add(tok.start())
        elif w == "END" and case_stack:
            case_stack.pop()
    # an AND that closes a BETWEEN is a range separator, not a boolean
    # context (``x BETWEEN 1 AND 2`` must keep its 2): mark the first
    # same-depth AND after each BETWEEN as consumed
    consumed_ands: set[int] = set()
    for bm in re.finditer(r"\bBETWEEN\b", sql, re.IGNORECASE):
        if not all(mask[bm.start() : bm.end()]):
            continue
        bd = depth[bm.start()]
        for am in re.finditer(r"\bAND\b", sql[bm.end() :], re.IGNORECASE):
            p = bm.end() + am.start()
            if (
                all(mask[p : p + 3])
                and depth[p] == bd
                and p not in consumed_ands
            ):
                consumed_ands.add(p)
                break
    edits: list[tuple[int, int, str]] = []
    pending: list[tuple[int, int, str]] = []  # deferred typer slots
    for m in _BOOL_CTX_L_RE.finditer(sql):
        if not all(mask[m.start() : m.end()]):
            continue
        if m.group(0).upper() == "AND" and m.start() in consumed_ands:
            continue
        if m.group(0).upper() == "WHEN" and m.start() in simple_whens:
            continue
        if m.group(0).upper() in ("AND", "OR"):
            # LEFT operand leg: a bare numeric atom directly before
            # the AND/OR — possibly paren-wrapped (`(v) OR x`, r13
            # fuzz) — itself preceded by a boundary (`(1 AND true)`,
            # `SELECT v AND b` — r13 probe)
            n_edits_before = len(edits)
            left = sql[: m.start()]
            stripped_left = left.rstrip()
            paren_span = None
            if stripped_left.endswith(")"):
                ci = len(stripped_left) - 1
                pd = 0
                oi = -1
                for j2 in range(ci, -1, -1):
                    if not mask[j2]:
                        continue
                    if sql[j2] == ")":
                        pd += 1
                    elif sql[j2] == "(":
                        pd -= 1
                        if pd == 0:
                            oi = j2
                            break
                if oi >= 0:
                    inner2 = sql[oi + 1 : ci].strip()
                    while inner2.startswith("(") and inner2.endswith(")"):
                        inner2 = inner2[1:-1].strip()
                    if re.fullmatch(
                        r"[-+]?\d+(?:\.\d+)?|[A-Za-z_][\w.]*"
                        r"|'(?:[^']|'')*'",
                        inner2,
                    ):
                        paren_span = (oi, ci + 1, inner2)
            if paren_span is not None:
                oi, ce, atom = paren_span
                repl0 = _atom_repl(atom)
                if repl0 is not None and (
                    oi == 0
                    or _BOOL_CTX_BACK_RE.search(sql[:oi])
                    or sql[:oi].rstrip() == ""
                ):
                    edits.append((oi, ce, repl0))
                bm = None  # paren form handled; skip the bare leg
            else:
                bm = re.search(
                    r"([-+]?\d+(?:\.\d+)?|[A-Za-z_][\w.]*"
                    r"|'(?:[^']|'')*')\s*$",
                    left,
                )
            if bm:
                atom = bm.group(1)
                if atom.startswith("'"):
                    # the matched span must be ONE whole lit segment
                    # (not the tail of a longer literal) with only
                    # code whitespace between it and the AND/OR
                    span_ok = (
                        all(
                            kinds[i] == "lit"
                            for i in range(bm.start(1), bm.end(1))
                        )
                        and (
                            bm.start(1) == 0
                            or kinds[bm.start(1) - 1] != "lit"
                        )
                        and all(mask[bm.end(1) : m.start()])
                    )
                else:
                    span_ok = all(mask[bm.start(1) : m.start()])
            else:
                span_ok = False
            if bm and span_ok:
                atom = bm.group(1)
                repl0 = _atom_repl(atom)
                boundary = (
                    _BOOL_CTX_BACK_RE.search(sql[: bm.start(1)])
                    if bm.start(1) > 0
                    else None
                )
                if repl0 is not None and bm.start(1) > 0 and boundary is None:
                    repl0 = None
                if (
                    repl0 is not None
                    and boundary is not None
                    and boundary.group(1) is not None
                    and boundary.group(1).upper() == "AND"
                    and boundary.start(1) in consumed_ands
                ):
                    # the atom is a BETWEEN upper bound (`price
                    # BETWEEN 10 AND 20 AND qty > 0` — review r13):
                    # its left boundary is the range separator
                    repl0 = None
                if repl0 is not None:
                    edits.append((bm.start(1), bm.end(1), repl0))
            if len(edits) == n_edits_before and (
                typer_factory is not None or neutralize
            ):
                # EXPRESSION left operand (r13 fuzz find: `SELECT
                # (abs(n) AND sv)` — no forward slot opens before the
                # first conjunct in SELECT-list/paren/THEN contexts).
                # Walk back to a boundary at the AND's own depth;
                # slot-opener keywords bail (the forward machinery
                # owns that span), comparison chars and range/
                # membership/CASE words bail (already boolean or
                # incomplete).
                td_m = depth[m.start()]
                j2 = m.start() - 1
                bail = False
                bstart = 0
                while j2 >= 0:
                    if not mask[j2] or depth[j2] > td_m:
                        j2 -= 1
                        continue
                    if depth[j2] < td_m:
                        bstart = j2 + 1
                        break
                    ch2 = sql[j2]
                    if ch2 in ",;":
                        bstart = j2 + 1
                        break
                    if ch2 in "=<>!":
                        bail = True
                        break
                    if ch2.isalpha() or ch2 == "_":
                        ws = j2
                        while (
                            ws > 0
                            and mask[ws - 1]
                            and (sql[ws - 1].isalnum() or sql[ws - 1] == "_")
                        ):
                            ws -= 1
                        w = sql[ws : j2 + 1].upper()
                        if w in _BOOL_BACK_OK_KWS:
                            bstart = j2 + 1
                            break
                        if w in _BOOL_BACK_BAIL_KWS:
                            bail = True
                            break
                        j2 = ws - 1
                        continue
                    j2 -= 1
                span = sql[bstart : m.start()]
                frag2 = span.strip()
                hm2 = re.match(r"[A-Za-z_]\w*", frag2)
                if (
                    not bail
                    and frag2
                    and _BOOL_STR_LIT_RE.fullmatch(frag2) is None
                    and frag2.upper() not in (
                        "TRUE", "FALSE", "NULL", "MATCHED",
                    )
                    and (
                        hm2 is None
                        or hm2.group(0).lower() not in _BOOL_FN_HEADS
                    )
                    and not (
                        re.fullmatch(r"[A-Za-z_][\w.]*", frag2) is not None
                        and frag2.split(".")[-1].lower() in skip_cols
                    )
                ):
                    f2s = bstart + (len(span) - len(span.lstrip()))
                    if neutralize:
                        edits.append((f2s, f2s + len(frag2), "TRUE"))
                    else:
                        pending.append((f2s, f2s + len(frag2), frag2))
        start = m.end()
        if m.group(0).upper().startswith("IF"):
            # just past '(' — first argument slot, one level deeper
            td = depth[m.end() - 1] + 1
        else:
            td = depth[m.start()]
        j = start
        end = len(sql)
        continues = False  # ended at BETWEEN/IN/IS/…: atom incomplete
        while j < len(sql):
            if not mask[j]:
                j += 1
                continue
            ch = sql[j]
            if depth[j] < td:
                end = j  # closing paren leaves the slot's scope
                break
            if depth[j] == td:
                if ch in ";,":  # a comma ends any slot (IF's first
                    end = j  # arg, or a fn-arg boolean context)
                    break
                if ch.isalpha() or ch == "_":
                    wm = re.match(r"[A-Za-z_]\w*", sql[j:])
                    kw = wm.group(0).upper() if wm else ""
                    if kw == "CASE":
                        # a CASE expression IS a slot value: jump over
                        # its matching END so `WHERE CASE WHEN a THEN 0
                        # ELSE 1 END` yields the whole block as the
                        # fragment for the typer leg (r14 combined-fuzz
                        # find: duck coerces the CASE's numeric RESULT)
                        cd = 0
                        j3 = j
                        while j3 < len(sql):
                            if mask[j3] and (
                                j3 == 0 or not (
                                    sql[j3 - 1].isalnum()
                                    or sql[j3 - 1] == "_"
                                )
                            ):
                                wm3 = re.match(
                                    r"(?i)(CASE|END)\b", sql[j3:]
                                )
                                if wm3 is not None:
                                    cd += 1 if wm3.group(1).upper() == "CASE" else -1
                                    j3 += wm3.end()
                                    if cd == 0:
                                        break
                                    continue
                            j3 += 1
                        if cd != 0:
                            end = j  # unbalanced: treat as before
                            break
                        j = j3
                        continue
                    if kw in _BOOL_CTX_R_KWS:
                        end = j
                        break
                    if kw in _BOOL_CTX_CONT_KWS:
                        end = j
                        continues = True
                        break
                    j += len(wm.group(0)) if wm else 1
                    continue
            j += 1
        if continues:
            continue
        # trim trailing comments and whitespace from the slot — but
        # never string-literal chars (`WHERE 'true'` must keep its
        # atom; `WHERE 1 -- note` must still coerce, and the wrap must
        # not swallow a line comment into its parens — review r13)
        while end > start and (
            kinds[end - 1] == "comment" or sql[end - 1].isspace()
        ):
            end -= 1
        frag = sql[start:end].strip()
        if not frag:
            continue
        inner = frag
        while inner.startswith("(") and inner.endswith(")"):
            inner = inner[1:-1].strip()
        if (
            not neutralize
            and re.fullmatch(r"[A-Za-z_][\w.]*", inner) is not None
            and inner.split(".")[-1].lower() in skip_cols
        ):
            continue  # known BOOLEAN column: already a boolean slot —
            # skip before _atom_repl so no analysis probe fires
        repl = _atom_repl(inner)
        fs = start + (len(sql[start:end]) - len(sql[start:end].lstrip()))
        fe = fs + len(frag)
        if repl is None and typer_factory is not None and frag:
            # EXPRESSION leg (r13): a slot holding one non-atom
            # expression — `v + 1`, `length(s)`, `count(*)`,
            # `(SELECT 1)`, `a || 'x'` — resolves through the
            # analysis-time typer, DEFERRED: the probe statement must
            # first neutralize every candidate slot to TRUE or its own
            # analysis dies on the very FILTER_NOT_BOOLEAN the rewrite
            # exists to fix. Skip shapes that already yield boolean:
            # top-level comparison chars (the slot scan only breaks on
            # keywords), known-boolean fn heads, bare TRUE/FALSE/NULL;
            # skip string literals duck would refuse (native analyzer
            # error = matching loud refusal).
            hm = re.match(r"[A-Za-z_]\w*", inner)
            headu = hm.group(0).upper() if hm else ""
            has_cmp_char = any(
                mask[j2] and depth[j2] == td and sql[j2] in "=<>!"
                for j2 in range(start, end)
            )
            if (
                not has_cmp_char
                and headu not in ("TRUE", "FALSE", "NULL", "EXISTS", "MATCHED")
                and headu.lower() not in _BOOL_FN_HEADS
                and _BOOL_STR_LIT_RE.fullmatch(inner) is None
            ):
                pending.append((fs, fe, frag))
            continue
        if repl is None:
            continue
        edits.append((fs, fe, repl))
    if pending and typer_factory is not None:
        # neutralize every candidate slot (cheap-leg edits AND typer
        # candidates) so the probe statement analyzes, then type each
        # deferred fragment against that neutral text. A slot inside a
        # top-level SET-OP branch probes against its enclosing BRANCH
        # slice only — injecting the probe column into one branch of
        # the full statement breaks set-op arity and starves the typer
        # (review r13)
        all_spans = sorted(
            {(s, e) for s, e, _ in edits} | {(s, e) for s, e, _ in pending}
        )

        def _neutral_slice(a: int, b: int) -> str:
            out2: list[str] = []
            pos2 = a
            for s, e in all_spans:
                if s < pos2 or s >= b:
                    continue
                out2.append(sql[pos2:s])
                out2.append("TRUE")
                pos2 = min(e, b)
            out2.append(sql[pos2:b])
            return "".join(out2)

        # top-level set-op branch boundaries; the statement TAIL
        # (ORDER BY/LIMIT after the last branch) is dropped from probe
        # slices — it may name a first-branch-only alias that no other
        # branch resolves (second review r13). The CTE prefix is
        # itself NEUTRALIZED (a coercion slot inside a CTE body would
        # fail every branch probe otherwise).
        cuts: list[tuple[int, int]] = []
        wr = _with_cte_spans(sql, mask)
        body_start = wr[0] if wr is not None else 0
        cte_spans = wr[1] if wr is not None else []
        for sm in _SETOP_SPLIT_RE.finditer(sql):
            if (
                all(mask[sm.start() : sm.end()])
                and depth[sm.start()] == 0
                and sm.start() >= body_start
            ):
                cuts.append((sm.start(), sm.end()))
        tail_start = len(sql)
        if cuts:
            for tm in _SETOP_TAIL_RE.finditer(sql, cuts[-1][1]):
                if all(mask[tm.start() : tm.end()]) and depth[tm.start()] == 0:
                    tail_start = tm.start()
                    break
        prefix = _neutral_slice(0, body_start)

        def _probe_text(fs: int) -> str:
            if fs < body_start:
                # slot inside a CTE body: the probe column can never
                # surface in the STATEMENT's output schema (the outer
                # select hides it — second review r13), so probe the
                # CTE body slice itself, prefixed by the PRECEDING
                # CTEs' definitions
                for k, (ds, po, pc) in enumerate(cte_spans):
                    if po < fs < pc:
                        body = _neutral_slice(po + 1, pc)
                        if k == 0:
                            return body
                        head = _neutral_slice(0, ds).rstrip()
                        head = head[:-1] if head.endswith(",") else head
                        return head + " " + body
                return _neutral_slice(0, len(sql))
            if not cuts:
                return _neutral_slice(0, len(sql))
            bs, be = body_start, tail_start
            for cs, ce in cuts:
                if cs <= fs:
                    bs = ce
                else:
                    be = cs
                    break
            return prefix + _neutral_slice(bs, be)

        typers: dict[str, object] = {}
        for fs, fe, frag in pending:
            text = _probe_text(fs)
            typer = typers.get(text)
            if typer is None:
                typer = typer_factory(text)
                typers[text] = typer
            # a fragment with its OWN inner boolean slots (a CASE
            # expression's WHEN arms — r14 combined-fuzz find) must be
            # coerced inside-out first: the probe can't analyze
            # `CASE WHEN a THEN …` while `a` is still an INT, and the
            # final wrap must carry the inner rewrite too (cheap legs
            # only — no nested probes)
            frag_rw = rewrite_int_bool_contexts(
                frag, num_cols, str_cols, None, skip_cols
            )
            tk = typer(frag_rw)
            if tk == "num":
                edits.append((fs, fe, f"(({frag_rw}) <> 0)"))
            elif tk == "str":
                edits.append((fs, fe, _bool_str_wrap(f"({frag_rw})")))
    if not edits:
        return sql
    out: list[str] = []
    pos = 0
    for s, e, repl in sorted(edits):
        if s < pos:
            continue
        out.append(sql[pos:s])
        out.append(repl)
        pos = e
    out.append(sql[pos:])
    return "".join(out)


_SETOP_SPLIT_RE = re.compile(
    r"\b(UNION|INTERSECT|EXCEPT)\b(\s+ALL|\s+DISTINCT)?(\s+BY\s+NAME)?",
    re.IGNORECASE,
)
_SETOP_TAIL_RE = re.compile(
    r"\b(ORDER\s+BY|LIMIT|OFFSET|FETCH)\b", re.IGNORECASE
)


def _with_cte_spans(
    sql: str, mask: list[bool]
) -> tuple[int, list[tuple[int, int, int]]] | None:
    """For a WITH-headed statement: (main-body start index, CTE spans)
    where each span is (definition start, body-paren open, body-paren
    close). None when the head isn't WITH / parsing fails."""
    m = re.match(r"\s*WITH\s+(RECURSIVE\s+)?", sql, re.IGNORECASE)
    if m is None:
        return None
    i = m.end()
    n = len(sql)
    spans: list[tuple[int, int, int]] = []
    while True:
        # name [ (cols) ] AS ( body )
        im = re.compile(
            r'\s*(?:"[^"]+"|[A-Za-z_]\w*)\s*(\([^)]*\))?\s*AS\s*\(',
            re.IGNORECASE,
        ).match(sql, i)
        if im is None:
            return None
        close = _match_paren(sql, mask, im.end() - 1)
        if close is None:
            return None
        spans.append((i, im.end() - 1, close))
        i = close + 1
        while i < n and (sql[i].isspace() or not mask[i]):
            i += 1
        if i < n and sql[i] == ",":
            i += 1
            continue
        return i, spans


def _with_body_start(sql: str, mask: list[bool]) -> int | None:
    """Index where a WITH-headed statement's main body begins (after
    the CTE list), or None when the head isn't WITH / parsing fails."""
    r = _with_cte_spans(sql, mask)
    return r[0] if r is not None else None


def _merge_with_prefix(ctx_prefix: str, t: str) -> str:
    """ctx_prefix (a complete ``WITH … AS (…)`` clause or empty) +
    statement t, MERGING a leading WITH in t into one clause —
    ``WITH a AS (X) WITH c AS (Y) SELECT`` is a syntax error (third
    review r13). A RECURSIVE inner WITH is left unmerged (the probe
    fails and the caller skips conservatively)."""
    if not ctx_prefix:
        return t
    m = re.match(r"\s*WITH\s+(?!RECURSIVE\b)", t, re.IGNORECASE)
    if m is not None:
        return ctx_prefix.rstrip() + ", " + t[m.end() :]
    return ctx_prefix + t


def _select_items_of(sql_text: str) -> list[str] | None:
    """Alias-stripped top-level select items of a SELECT-headed text,
    or None (r15: the set-op widening folds literal-only interval
    items by their TEXT — Spark's value lost the component split)."""
    m = re.match(r"(?is)^\s*SELECT\s+(?:DISTINCT\s+|ALL\s+)?", sql_text)
    if m is None:
        return None
    body = sql_text[m.end() :]
    mask = _code_mask(body)
    end = len(body)
    depth = 0
    for mm in re.finditer(r"(?i)\bFROM\b|[()]", body):
        if not mask[mm.start()]:
            continue
        tok = mm.group(0)
        if tok == "(":
            depth += 1
        elif tok == ")":
            depth -= 1
        elif depth == 0:
            end = mm.start()
            break
    return [
        re.sub(r"(?is)\s+AS\s+(`[^`]*`|\w+)\s*$", "", it).strip()
        for it in split_top_level(body[:end])
    ]


def rewrite_setop_mixed_types(
    sql: str, branch_schema, ctx_prefix: str = "", _depth: int = 0
) -> str:
    """Entry point: RECURSE into SELECT/VALUES-headed paren groups —
    derived tables, CTE bodies, scalar subqueries — POST-ORDER and
    LEFT-TO-RIGHT (a chained CTE's widening changes the types its
    consumers see, so inner/earlier scopes must rewrite before outer/
    later probes analyze them — third review r13), then run the
    top-level mixed-type set-op widening (_setop_rewrite_toplevel) on
    the updated text. A set op nested deeper than three paren scopes
    or inside a function argument list keeps native coercion
    (documented residue). ``ctx_prefix`` carries the OUTER scopes' CTE
    definitions so inner branch probes resolve their relations."""
    out = sql
    if _depth < 3:
        cursor = 0
        guard = 0
        while guard < 50:
            guard += 1
            mask = _code_mask(out)
            depths: list[int] = []
            d = 0
            for i, ch in enumerate(out):
                if mask[i] and ch == ")":
                    d -= 1
                depths.append(d)
                if mask[i] and ch == "(":
                    d += 1
            wr = _with_cte_spans(out, mask)
            body_start = wr[0] if wr is not None else 0
            cte_spans = wr[1] if wr is not None else []
            hit = None
            for i in range(cursor, len(out)):
                if out[i] != "(" or not mask[i] or depths[i] != 0:
                    continue
                j = i + 1
                while j < len(out) and (out[j].isspace() or not mask[j]):
                    j += 1
                if re.match(
                    r"(SELECT|VALUES|WITH|TABLE|FROM)\b",
                    out[j:],
                    re.IGNORECASE,
                ) is None:
                    continue
                close = _match_paren(out, mask, i)
                if close is None:
                    continue
                if _SETOP_SPLIT_RE.search(out[i + 1 : close]) is None:
                    cursor = i + 1  # no set op inside: skip the head,
                    hit = "skip"  # still scan its interior groups
                    break
                hit = (i, close)
                break
            if hit is None:
                break
            if hit == "skip":
                continue
            gs, ge = hit
            cte_k = next(
                (
                    k
                    for k, (_ds, po, _pc) in enumerate(cte_spans)
                    if po == gs
                ),
                None,
            )
            if cte_k is not None:
                if cte_k == 0:
                    ctx2 = ctx_prefix
                else:
                    head = out[: cte_spans[cte_k][0]].rstrip()
                    head = head[:-1] if head.endswith(",") else head
                    ctx2 = _merge_with_prefix(ctx_prefix, head + " ")
            else:
                ctx2 = (
                    _merge_with_prefix(ctx_prefix, out[:body_start])
                    if wr is not None
                    else ctx_prefix
                )
            new_inner = rewrite_setop_mixed_types(
                out[gs + 1 : ge], branch_schema, ctx2, _depth + 1
            )
            if new_inner != out[gs + 1 : ge]:
                out = out[: gs + 1] + new_inner + out[ge:]
            cursor = gs + 1 + len(new_inner) + 1
    def _drop_fixed(sc):
        # a ctx-merged probe's coerced text embeds the OUTER CTE defs:
        # not substitutable as a branch body (r14)
        return None if sc is None else (sc[0], sc[1], None)

    bs = (
        branch_schema
        if not ctx_prefix
        else (
            lambda t: _drop_fixed(
                branch_schema(_merge_with_prefix(ctx_prefix, t))
            )
        )
    )
    return _setop_rewrite_toplevel(out, bs)


def _setop_rewrite_toplevel(sql: str, branch_schema) -> str:
    """DuckDB widens mixed-type set-operation branches where Spark
    coerces differently or refuses (probed r13):

    - a STRING branch column + any atomic other (numeric / bool /
      date / timestamp) → the whole column is VARCHAR carrying duck's
      text rendering (``SELECT 1 UNION ALL SELECT 'a'`` → '1', 'a';
      Spark casts the string side to INT and dies on 'a' at runtime);
    - BOOLEAN + numeric → the numeric type (true → 1; Spark refuses
      int∪bool at analysis).

    Each affected branch wraps in a projection applying the casts —
    DOUBLE/FLOAT render through duck_double_text (shortest-round-trip,
    '1e+20'), everything else through CAST(... AS STRING), booleans
    joining numerics through CAST(... AS INT). ``branch_schema`` maps
    one branch's text (CTE prefix included) to [(name, kind,
    typestring)] via Spark ANALYSIS only, or None — any analysis
    failure, column-count
    mismatch, or BY NAME form leaves the statement untouched (both
    engines are loud on the genuinely incompatible combos, e.g.
    int∪date). Top-level set ops only; set ops nested in derived
    tables keep native semantics (documented residue). INTERVAL
    columns never widen (duck's interval text has no in-query twin —
    loud residue)."""
    mask = _code_mask(sql)
    seps: list[tuple[int, int]] = []
    by_name = False
    depths: list[int] = []
    d = 0
    for i, ch in enumerate(sql):
        if mask[i] and ch == ")":
            d -= 1
        depths.append(d)
        if mask[i] and ch == "(":
            d += 1
    for m in _SETOP_SPLIT_RE.finditer(sql):
        if not all(mask[m.start() : m.end()]):
            continue
        if depths[m.start()] != 0:
            continue
        if m.group(3):
            by_name = True
        seps.append((m.start(), m.end()))
    if not seps or by_name:
        return sql
    body_start = _with_body_start(sql, mask)
    prefix = ""
    if body_start is None:
        body_start = 0
    else:
        if any(s < body_start for s, _ in seps):
            return sql  # set op inside the CTE list: out of scope
        prefix = sql[:body_start]
    # split the statement tail (ORDER BY/LIMIT after the LAST branch
    # belongs to the whole set operation)
    last_sep_end = seps[-1][1]
    tail_start = len(sql)
    for tm in _SETOP_TAIL_RE.finditer(sql, last_sep_end):
        if all(mask[tm.start() : tm.end()]) and depths[tm.start()] == 0:
            tail_start = tm.start()
            break
    bounds = [body_start] + [s for s, _ in seps] + [tail_start]
    branches: list[str] = []
    for bi in range(len(seps) + 1):
        bs = bounds[bi] if bi == 0 else seps[bi - 1][1]
        be = bounds[bi + 1]
        branches.append(sql[bs:be])
    schemas = []
    trusted: list[bool] = []
    fixed_texts: list[str | None] = []
    for b in branches:
        sc = branch_schema(prefix + b)
        if sc is None:
            return sql
        cols, tr, *rest = sc
        schemas.append(cols)
        trusted.append(tr)
        # the coerced branch text (3rd element, r14) substitutes for
        # the ORIGINAL body when this branch gets a wrapper — only
        # prefix-free probes (the text IS the branch verbatim)
        fixed_texts.append(rest[0] if rest and not prefix else None)
    ncols = len(schemas[0])
    if any(len(sc) != ncols for sc in schemas):
        return sql
    # duck folds set-op types PAIRWISE and LEFT-ASSOCIATIVELY with
    # INTERSECT binding tighter (probed r13 review: 1 UNION ALL 1.0
    # UNION ALL 'a' renders '1.0','1.0','a' — the 1 widened to DECIMAL
    # before the string stage). Emulate the fold tree exactly: each
    # leaf's rendering type is the accumulated type of its subtree at
    # the node where it first meets a string (numeric folds are
    # value-preserving, so only that string transition is lossy).
    _INT_DIGITS = {"tinyint": 3, "smallint": 5, "int": 10, "bigint": 19}

    def _ktype(kind: str, typestr: str):
        """(kind, scale, integer-digits) — digits feed duck's 38-wide
        clamp: DECIMAL(38,10) ∪ DECIMAL(38,2) folds to scale 2 because
        36 integer digits + 10 scale would overflow (probed, second
        review r13)."""
        if kind == "decimal":
            m2 = re.search(r"\(\s*(\d+)\s*,\s*(\d+)\s*\)", typestr)
            p2, s2 = (
                (int(m2.group(1)), int(m2.group(2))) if m2 else (38, 0)
            )
            return ("decimal", s2, p2 - s2)
        if kind == "int":
            return ("int", 0, _INT_DIGITS.get(typestr, 19))
        if kind == "bool":
            return ("bool", 0, 1)
        if kind == "interval":
            # carry the flavor so the string render picks the right
            # duck text kernel (r15 fuzz find: interval∪varchar widens
            # to VARCHAR with duck's interval text)
            low = typestr.lower()
            return (
                "interval",
                "ym" if ("year" in low or "month" in low) else "dtivl",
                0,
            )
        return (kind, 0, 0)

    _NUM_LADDER = {"bool": 0, "int": 1, "decimal": 2, "float32": 3,
                   "float64": 4}

    def _fold(a, b):
        """duck's pairwise set-op type combine (probed r13): string
        absorbs atomics, date∪timestamp → timestamp, bool/int/decimal/
        float32/float64 ladder with decimal scale = max of sides
        clamped to 38 total digits (non-decimal numerics contribute
        their integer width), REAL∪DECIMAL → REAL and REAL∪DOUBLE →
        DOUBLE. None = non-emulable (int∪date is a loud error on both
        engines; interval/other renderings have no in-query twin)."""
        ka, kb = a[0], b[0]
        if ka == "null":
            return b
        if kb == "null":
            return a
        atomics = {
            "string", "int", "decimal", "float32", "float64", "bool",
            "date", "timestamp",
        }
        if ka not in atomics or kb not in atomics:
            if "string" in (ka, kb) and "interval" in (ka, kb):
                # duck widens interval∪varchar to VARCHAR with its
                # interval text (probed r15)
                return ("string", 0, 0)
            return None
        if "string" in (ka, kb):
            return ("string", 0, 0)
        if ka in ("date", "timestamp") or kb in ("date", "timestamp"):
            if {ka, kb} <= {"date", "timestamp"}:
                return ("timestamp", 0, 0) if ka != kb else (ka, 0, 0)
            return None
        hi = a if _NUM_LADDER[ka] >= _NUM_LADDER[kb] else b
        if hi[0] == "decimal":
            digits = max(a[2], b[2])
            scale = max(a[1], b[1])
            if digits + scale > 38:
                scale = max(38 - digits, 0)
            return ("decimal", scale, digits)
        if hi[0] == "int":
            return ("int", 0, max(a[2], b[2]))
        return hi

    # fold tree: left-assoc shunting, INTERSECT[ALL] precedence 2
    op_prec = [
        2 if sql[ss:se].upper().lstrip().startswith("INTERSECT") else 1
        for ss, se in seps
    ]
    out_stack: list = [0]
    op_stack: list[int] = []
    for i, p in enumerate(op_prec, start=1):
        while op_stack and op_stack[-1] >= p:
            op_stack.pop()
            r0 = out_stack.pop()
            l0 = out_stack.pop()
            out_stack.append((l0, r0))
        op_stack.append(p)
        out_stack.append(i)
    while op_stack:
        op_stack.pop()
        r0 = out_stack.pop()
        l0 = out_stack.pop()
        out_stack.append((l0, r0))
    tree = out_stack[0]

    casts: list[dict[int, tuple]] = [dict() for _ in branches]
    any_cast = False
    for ci in range(ncols):
        kts = [_ktype(sc[ci][1], sc[ci][2]) for sc in schemas]
        if len({kt[0] for kt in kts} - {"null"}) <= 1:
            continue
        trans: dict[int, tuple] = {}

        def _fold_node(node):
            if isinstance(node, int):
                return kts[node], [node]
            lt, ll = _fold_node(node[0])
            if lt is None:
                return None, []
            rt, lr = _fold_node(node[1])
            if rt is None:
                return None, []
            t = _fold(lt, rt)
            if t is None:
                return None, []
            if t[0] == "string":
                if lt[0] not in ("string", "null"):
                    for i2 in ll:
                        trans.setdefault(i2, lt)
                if rt[0] not in ("string", "null"):
                    for i2 in lr:
                        trans.setdefault(i2, rt)
            return t, ll + lr

        root, _ = _fold_node(tree)
        if root is None:
            continue  # non-emulable column: leave native
        if root[0] == "string":
            for bi in range(len(branches)):
                if kts[bi][0] in ("string", "null"):
                    continue
                tt = trans.get(bi)
                if tt is None:
                    continue
                casts[bi][ci] = ("string", tt, kts[bi][0])
                any_cast = True
        elif root[0] == "float32":
            # duck folds REAL∪DECIMAL/INT/BOOL to REAL; Spark widens
            # FLOAT+DECIMAL to DOUBLE — pin every branch to FLOAT so
            # the wire renders single precision (second review r13)
            for bi in range(len(branches)):
                if kts[bi][0] in ("int", "decimal", "bool"):
                    casts[bi][ci] = ("f32", None, kts[bi][0])
                    any_cast = True
        elif root[0] in ("int", "decimal", "float64"):
            for bi in range(len(branches)):
                if kts[bi][0] == "bool":
                    casts[bi][ci] = ("num", None, "bool")
                    any_cast = True
    if not any_cast:
        return sql
    if casts[0] and not trusted[0]:
        # branch 0's analyzed names came from the slot-neutralized
        # retry — auto-generated names can differ from the raw text's
        # (SELECT a AND b → "(true AND true)"), and branch 0's names
        # ARE the statement's result names. Conservative skip (second
        # review r13).
        return sql

    def q(name: str) -> str:
        return "`" + name.replace("`", "``") + "`"

    def _string_cast(col: str, tt, leafk: str) -> str:
        base = col
        if leafk == "bool" and tt[0] in (
            "int", "decimal", "float32", "float64",
        ):
            base = f"CAST({col} AS INT)"
        if tt[0] == "float64":
            return (
                f"(CASE WHEN {col} IS NULL THEN CAST(NULL AS STRING)"
                f" ELSE duck_double_text(CAST({base} AS DOUBLE)) END)"
            )
        if tt[0] == "float32":
            return (
                f"(CASE WHEN {col} IS NULL THEN CAST(NULL AS STRING)"
                f" ELSE duck_float32_text(CAST({base} AS FLOAT)) END)"
            )
        if tt[0] == "decimal":
            return f"CAST(CAST({base} AS DECIMAL(38, {tt[1]})) AS STRING)"
        if tt[0] == "timestamp":
            return f"CAST(CAST({base} AS TIMESTAMP) AS STRING)"
        if tt[0] == "interval":
            fn = "duck_ym_text" if tt[1] == "ym" else "duck_dtivl_text"
            return f"{fn}(CAST({base} AS STRING))"
        return f"CAST({base} AS STRING)"

    wrapped: list[str] = []
    for bi, b in enumerate(branches):
        if not casts[bi]:
            wrapped.append(b)
            continue
        # reference columns through a derived-table ALIAS LIST so the
        # wrapper never depends on the branch's auto-generated names
        # (a neutralized-retry analysis can report different names —
        # second review r13); only branch 0's OUTPUT aliases matter
        # (set-op result names come from the first branch) and those
        # are trusted by the gate above
        alias_list = ", ".join(f"__sc{ci}" for ci in range(ncols))
        bsel = (
            _select_items_of(b)
            if any(
                s is not None and s[0] == "string" and s[1][0] == "interval"
                for s in casts[bi].values()
            )
            else None
        )
        if bsel is not None and len(bsel) != ncols:
            bsel = None  # star expansion / arity surprise: kernel path
        items: list[str] = []
        for ci in range(ncols):
            col = f"__sc{ci}"
            out_name = q(schemas[bi][ci][0]) if bi == 0 else col
            spec = casts[bi].get(ci)
            if spec is None:
                items.append(f"{col} AS {out_name}")
            elif spec[0] == "string":
                const = None
                if spec[1][0] == "interval" and bsel is not None:
                    # a literal-only interval item folds with duck's
                    # component semantics — the kernel would otherwise
                    # re-componentize '2 days' - '26 hours' from
                    # Spark's single-micros value (r15 fuzz find)
                    folded = _fold_interval_expr(bsel[ci])
                    if folded is not None:
                        const = "'" + folded.replace("'", "''") + "'"
                items.append(
                    f"{const or _string_cast(col, spec[1], spec[2])}"
                    f" AS {out_name}"
                )
            elif spec[0] == "f32":
                items.append(f"CAST({col} AS FLOAT) AS {out_name}")
            else:
                items.append(f"CAST({col} AS INT) AS {out_name}")
        # embed the COERCED branch text when the schema probe needed
        # it (r14): the wrapper's alias list hides the inner columns
        # from the later bool pass's probes, so its slots must already
        # be rewritten here
        body = (fixed_texts[bi] or b).strip()
        wrapped.append(
            f"SELECT {', '.join(items)} FROM ({body})"
            f" __setw{bi}({alias_list}) "
        )
    out = [sql[:body_start]]
    out.append(wrapped[0])
    for bi, (ss, se) in enumerate(seps):
        out.append(sql[ss:se] + " ")
        out.append(wrapped[bi + 1])
    out.append(sql[tail_start:])
    return "".join(out)


def _rewrite_datetime_diffs(sql: str) -> str:
    """DuckDB's quoted-unit datetime differences → Spark (probed):

    - ``date_sub('u', a, b)`` counts COMPLETE units — exactly Spark's
      ``timestampdiff(U, a, b)``.
    - ``date_diff('u', a, b)`` counts unit-BOUNDARY crossings —
      ``timestampdiff(U, date_trunc('U', a), date_trunc('U', b))``
      (complete units between the truncated endpoints ≡ crossings).

    Only the 3-arg quoted-unit form rewrites; Spark's own 2-arg
    datediff/date_sub pass through untouched."""
    guard = 0
    skipped: set[int] = set()
    while guard < 100:
        guard += 1
        mask = _code_mask(sql)
        matches = [
            m
            for m in _DT_DIFF_CALL.finditer(sql)
            if all(mask[m.start() : m.end()]) and m.start() not in skipped
        ]
        if not matches:
            return sql
        m = matches[-1]  # innermost-first (same scheme as json_extract)
        depth, i = 1, m.end()
        while i < len(sql) and depth:
            if mask[i]:
                if sql[i] == "(":
                    depth += 1
                elif sql[i] == ")":
                    depth -= 1
            i += 1
        if depth:
            return sql
        args = split_top_level(sql[m.end() : i - 1])
        unit = args[0].strip().strip("'").lower() if args else ""
        if len(args) != 3 or unit not in _DT_UNITS or not re.fullmatch(
            r"'[A-Za-z]+'", args[0].strip()
        ):
            skipped.add(m.start())
            continue
        fn = m.group(1).lower()
        a, b = args[1].strip(), args[2].strip()
        u = unit.upper()
        if fn in ("date_sub", "datesub"):
            if unit in ("month", "quarter", "year"):
                # duck counts COMPLETE months with END-OF-MONTH
                # clamping (Jan 31 → Feb 29 is 1 complete month);
                # Spark's timestampdiff does not clamp (r12 sweep) —
                # months_between's both-last-day rule does. But
                # months_between IGNORES time-of-day when the days
                # align (third review r12), overcounting by one for
                # TIMESTAMP operands — correct by stepping back when
                # a + m0 months overshoots b (month-interval addition
                # clamps like add_months and keeps the time)
                # negatives mirror the FORWARD clamped walk from b
                # (duck: date_sub(a,b) = -date_sub(b,a); Feb 29 → Jan
                # 31 is -1 because Jan 31 + 1mo clamps to Feb 29)
                per = {"month": 1, "quarter": 3, "year": 12}[unit]
                ta, tb = f"CAST({a} AS TIMESTAMP)", f"CAST({b} AS TIMESTAMP)"
                # UNDERSHOOT arm (r13, ADVICE): when the later operand
                # is end-of-month-clamped (Jan 30 → Feb 29),
                # months_between ≈ 0.968 truncates to 0 but the
                # clamped walk completes the month (ta + (m0+1) months
                # clamps to <= tb) — step FORWARD one. Mirrored for
                # the negative walk from b. Overshoot/undershoot are
                # mutually exclusive (ta+m0 > tb vs ta+m0+1 <= tb).
                m0 = f"CAST(months_between({tb}, {ta}) AS BIGINT)"
                cm = (
                    f"({m0} - (CASE WHEN {m0} > 0 AND {ta} +"
                    f" make_interval(0, {m0}) > {tb} THEN 1"
                    f" WHEN {m0} >= 0 AND {ta} +"
                    f" make_interval(0, {m0} + 1) <= {tb} THEN -1"
                    f" WHEN {m0} < 0 AND {tb} +"
                    f" make_interval(0, -({m0})) > {ta} THEN -1"
                    f" WHEN {m0} <= 0 AND {tb} +"
                    f" make_interval(0, -({m0}) + 1) <= {ta} THEN 1"
                    f" ELSE 0 END))"
                )
                repl = f"CAST({cm} / {per} AS BIGINT)"
            else:
                repl = f"timestampdiff({u}, {a}, {b})"
        else:
            repl = (
                f"timestampdiff({u}, date_trunc('{u}', {a}), "
                f"date_trunc('{u}', {b}))"
            )
        sql = sql[: m.start()] + repl + sql[i:]
        skipped = {s for s in skipped if s < m.start()}
    return sql


_REGEXP_EXTRACT_CALL = re.compile(
    r"(?<![\w.])(regexp_extract(?:_all)?)\s*\(", re.IGNORECASE
)


def _rewrite_regexp_default_group(sql: str) -> str:
    """DuckDB's regexp_extract/_all default to group 0 (whole match);
    Spark defaults to group 1 (errors when the pattern has no group).
    Append ``, 0`` to 2-arg calls; explicit-group calls pass through."""
    guard = 0
    skipped: set[int] = set()
    while guard < 100:
        guard += 1
        mask = _code_mask(sql)
        matches = [
            m
            for m in _REGEXP_EXTRACT_CALL.finditer(sql)
            if all(mask[m.start() : m.end()]) and m.start() not in skipped
        ]
        if not matches:
            return sql
        m = matches[-1]
        depth, i = 1, m.end()
        while i < len(sql) and depth:
            if mask[i]:
                if sql[i] == "(":
                    depth += 1
                elif sql[i] == ")":
                    depth -= 1
            i += 1
        if depth:
            return sql
        args = split_top_level(sql[m.end() : i - 1])
        if len(args) == 2:
            sql = sql[: i - 1] + ", 0" + sql[i - 1 :]
            skipped = {s for s in skipped if s < m.start()}
            continue
        if len(args) == 3:
            # r10 sweep: a literal group index BEYOND the pattern's
            # groups returns '' in DuckDB (Spark raises); a NAME LIST
            # returns a struct of the groups in order
            pat = args[1].strip()
            third = args[2].strip()
            pm = re.fullmatch(r"'((?:[^']|'')*)'", pat)
            im = re.fullmatch(r"\d+", third)
            nm = re.fullmatch(
                r"array\(\s*('[^']*'(?:\s*,\s*'[^']*')*)\s*\)",
                third,
                re.IGNORECASE,
            )
            if pm and (im or nm):
                ngroups = len(re.findall(r"(?<!\\)\((?!\?)", pm.group(1)))
                if im and int(third) > ngroups:
                    sql = sql[: m.start()] + "''" + sql[i:]
                    skipped = {s for s in skipped if s < m.start()}
                    continue
                if nm:
                    names = [
                        n.strip()[1:-1]
                        for n in split_top_level(nm.group(1))
                    ]
                    parts = ", ".join(
                        f"'{n}', regexp_extract({args[0].strip()},"
                        f" {pat}, {k + 1})"
                        for k, n in enumerate(names)
                    )
                    sql = (
                        sql[: m.start()]
                        + f"named_struct({parts})"
                        + sql[i:]
                    )
                    skipped = {s for s in skipped if s < m.start()}
                    continue
            skipped.add(m.start())
            continue
        skipped.add(m.start())
    return sql


def _tpl_range_list(args: list[str], *, inclusive: bool) -> str | None:
    """DuckDB range()/generate_series() in scalar position → a guarded
    Spark sequence(). range is end-EXCLUSIVE, generate_series INCLUSIVE;
    both return [] when the bounds run against the step (Spark's
    sequence ERRORS there, and sequence(1, 0) with the default step
    would silently count DOWN — the guard is correctness, not polish).
    Timestamp series (INTERVAL step) skip the sign() guard: the grid is
    aligned to the start, so the exclusive end just steps back 1µs."""
    if len(args) == 1:
        a, b, s = "0", args[0], "1"
    elif len(args) == 2:
        (a, b), s = args, "1"
    elif len(args) == 3:
        a, b, s = args
    else:
        return None
    if re.search(r"\bINTERVAL\b", s, re.IGNORECASE) or re.search(
        r"\bTIMESTAMP\b|\bDATE\b", a, re.IGNORECASE
    ):
        if re.search(r"\bDATE\b", f"{a} {b}", re.IGNORECASE):
            # duck date-bounded series yield TIMESTAMPs (probed)
            a = f"CAST({a} AS TIMESTAMP)"
            b = f"CAST({b} AS TIMESTAMP)"
        end = b if inclusive else f"({b}) - INTERVAL 1 MICROSECOND"
        return f"sequence({a}, {end}, {s})"
    cmp = "<=" if not inclusive else "<"
    end = b if inclusive else f"({b}) - CAST(sign({s}) AS BIGINT)"
    return (
        f"(CASE WHEN (({b}) - ({a})) * sign({s}) {cmp} 0 "
        f"THEN slice(sequence({a}, {a}), 1, 0) "
        f"ELSE sequence({a}, {end}, {s}) END)"
    )


def _tpl_regexp_replace(args: list[str]) -> str | None:
    """DuckDB regexp_replace replaces the FIRST match by default ('g'
    flag for all); Spark's replaces ALL. Passthrough is silently wrong."""
    if len(args) == 3:
        return "__regexp_replace_one({0}, {1}, {2})".format(*args)
    if len(args) != 4:
        return None
    m = re.match(r"^'([a-z]*)'$", args[3].strip())
    if not m:
        return None  # non-literal flags: loud passthrough
    flags = set(m.group(1))
    if not flags <= {"g", "i", "s", "m", "c", "n", "x"}:
        return None  # unknown flag: loud passthrough
    # i/s/m/x have Java inline twins; 'c' (case-sensitive) and 'n'
    # (RE2 newline-sensitive ≈ default) are the defaults already
    inline = "".join(c for c in "ismx" if c in flags)
    pat = f"concat('(?{inline})', {args[1]})" if inline else args[1]
    if "g" in flags:
        # Spark's builtin replacement syntax is Java's $N, not RE2's
        # \N — only a literal replacement WITHOUT backrefs/dollars can
        # use it; anything else routes through the Python UDF
        rm = re.match(r"^'([^\\$]*)'$", args[2])
        if rm is not None:
            # marker dodges the rescan (a bare 3-arg regexp_replace
            # would re-match as the replace-FIRST form)
            return f"__regexp_replace_all__({args[0]}, {pat}, {args[2]})"
        return f"__regexp_replace_g({args[0]}, {pat}, {args[2]})"
    return f"__regexp_replace_one({args[0]}, {pat}, {args[2]})"


def _tpl_regexp_matches(args: list[str]) -> str | None:
    """3-arg regexp_matches(s, p, flags) → RLIKE with Java inline
    flags; the 2-arg form stays the rlike rename (partial match on
    both engines)."""
    if len(args) != 3:
        return None
    s, p, fl = args
    flm = re.fullmatch(r"'([a-z]*)'", fl.strip())
    if not flm:
        return None
    flags = set(flm.group(1))
    if not flags <= {"g", "i", "s", "m", "c", "n", "x"}:
        return None
    inline = "".join(c for c in "ismx" if c in flags)
    if not inline:
        return f"({s} RLIKE {p})"
    return f"({s} RLIKE concat('(?{inline})', {p}))"


def _date_part_expr(field: str, src: str) -> str | None:
    """One DuckDB date_part field → Spark expression, or None for
    fields Spark's native date_part already agrees on."""
    if field in ("dow", "dayofweek", "weekday"):
        return f"((__native_weekday__({src}) + 1) % 7)"
    if field == "isodow":
        return f"(__native_weekday__({src}) + 1)"
    if field == "epoch":
        return f"(unix_micros(CAST({src} AS TIMESTAMP)) / 1e6)"
    # sub-minute fields carry the fractional second in DuckDB
    # (microseconds(…00:00:01.5) = 1500000); 'second' TRUNCATES to
    # BIGINT where Spark keeps the fraction (r10 sweep)
    if field in ("microseconds", "microsecond"):
        return f"CAST(__date_part__('SECOND', {src}) * 1000000 AS BIGINT)"
    if field in ("milliseconds", "millisecond"):
        return f"CAST(__date_part__('SECOND', {src}) * 1000 AS BIGINT)"
    if field in ("second", "seconds"):
        return f"CAST(floor(__date_part__('SECOND', {src})) AS BIGINT)"
    if field in ("isoyear",):
        return f"CAST(__date_part__('YEAROFWEEK', {src}) AS BIGINT)"
    if field == "yearweek":
        return (
            f"(CAST(__date_part__('YEAROFWEEK', {src}) AS BIGINT) * 100"
            f" + weekofyear({src}))"
        )
    if field == "decade":
        return f"CAST(floor(year({src}) / 10) AS BIGINT)"
    if field == "century":
        return f"CAST(floor((year({src}) - 1) / 100) + 1 AS BIGINT)"
    if field == "millennium":
        return f"CAST(floor((year({src}) - 1) / 1000) + 1 AS BIGINT)"
    if field == "era":
        return f"(CASE WHEN year({src}) > 0 THEN 1 ELSE 0 END)"
    if field in ("timezone", "timezone_hour", "timezone_minute"):
        return "CAST(0 AS BIGINT)"  # session pinned UTC
    if field == "julian":
        return (
            f"(CAST(datediff(CAST({src} AS DATE), DATE '-4713-11-24')"
            f" AS DOUBLE) + (unix_micros(CAST({src} AS TIMESTAMP))"
            f" % 86400000000) / 86400000000.0)"
        )
    return None


def _tpl_date_part(args: list[str]) -> str | None:
    """DuckDB date_part fields whose Spark twin disagrees: 'dow' is
    Sunday=0 (Spark's DAYOFWEEK is Sunday=1), 'epoch'/'julian'/
    'yearweek'/sub-second fields have no Spark twin, 'second'
    truncates. A LIST first argument returns a struct of parts
    (date_part(['year','month'], d), r10 sweep). Everything else
    passes through to Spark's native date_part."""
    if len(args) != 2:
        return None
    src = args[1]
    head = args[0].strip()
    lm = re.fullmatch(r"array\(\s*((?:'[a-z_]+'\s*,\s*)*'[a-z_]+')\s*\)", head, re.IGNORECASE)
    if lm:
        fields = [f.strip().strip("'") for f in lm.group(1).split(",")]
        parts = []
        for f in fields:
            e = _date_part_expr(f.lower(), src) or f"__date_part__('{f}', {src})"
            parts.append(f"'{f}', {e}")
        return f"named_struct({', '.join(parts)})"
    field = head.strip("'").lower()
    return _date_part_expr(field, src)


_JT_TYPE_DDL = {
    "UBIGINT": "BIGINT", "BIGINT": "BIGINT", "HUGEINT": "BIGINT",
    "INTEGER": "INT", "INT": "INT", "UINTEGER": "INT",
    "SMALLINT": "SMALLINT", "USMALLINT": "SMALLINT",
    "TINYINT": "TINYINT", "UTINYINT": "TINYINT",
    "DOUBLE": "DOUBLE", "FLOAT8": "DOUBLE",
    "FLOAT": "FLOAT", "REAL": "FLOAT", "FLOAT4": "FLOAT",
    "VARCHAR": "STRING", "TEXT": "STRING", "STRING": "STRING",
    "CHAR": "STRING", "BPCHAR": "STRING",
    "BOOLEAN": "BOOLEAN", "BOOL": "BOOLEAN", "LOGICAL": "BOOLEAN",
    "DATE": "DATE", "TIMESTAMP": "TIMESTAMP", "DATETIME": "TIMESTAMP",
    "TIME": "STRING",  # from_json has no TimeType path; text matches on the wire
    "TIMESTAMPTZ": "TIMESTAMP",
    "JSON": "STRING", "NULL": "STRING",
}


def _jt_spec_ddl(spec) -> str:
    """DuckDB json_transform structure node → Spark DDL type string."""
    if isinstance(spec, dict):
        inner = ", ".join(
            f"`{k}`: {_jt_spec_ddl(v)}" for k, v in spec.items()
        )
        return f"STRUCT<{inner}>"
    if isinstance(spec, list):
        return f"ARRAY<{_jt_spec_ddl(spec[0])}>"
    t = str(spec).upper().strip()
    base = t.split("(")[0].strip()
    if base in ("DECIMAL", "NUMERIC"):
        return t if "(" in t else "DECIMAL(18,3)"
    ddl = _JT_TYPE_DDL.get(base)
    if ddl is None:
        # DuckDB wording: Catalog Error: Type with name X does not exist
        raise ValueError(f"Type with name {base} does not exist!")
    return ddl


def _tpl_json_transform(args: list[str]) -> str | None:
    """``json_transform(j, 'structure')`` (and its ``from_json`` alias
    spelling when the 2nd argument is a JSON structure literal) →
    DuckDB-coerced shredding: a pandas UDF normalizes the document
    against the structure (lenient casts, probed — see compat_udfs),
    then Spark's from_json types the result, so the value IS a struct/
    array with the DuckDB-equivalent Spark type. The structure must be
    a constant (DuckDB binder: "JSON structure must be a constant!")."""
    import json as _json

    if len(args) != 2:
        return None
    spec = args[1].strip()
    m = re.match(r"^'(.*)'$", spec, re.DOTALL)
    if not m:
        raise ValueError("JSON structure must be a constant!")
    try:
        parsed = _json.loads(m.group(1).replace("''", "'"))
    except Exception as exc:  # noqa: BLE001
        raise ValueError(
            f"Malformed JSON structure: {m.group(1)!r}"
        ) from exc
    ddl = _jt_spec_ddl(parsed)
    return (
        f"from_json(__json_transform__({args[0]}, {spec}), 'v {ddl}').v"
    )


def _log_guard(x: str, fn: str | None) -> str:
    """DuckDB raises Out of Range on log of zero/negative (Spark:
    NULL). fn=None returns just the guarded argument (for the 2-arg
    log(base, x) form, where Spark's own log applies)."""
    body = f"__native_{fn}__({x})" if fn else f"({x})"
    return (
        f"(CASE WHEN ({x}) = 0 THEN raise_error('Out of Range Error:"
        f" cannot take logarithm of zero')"
        f" WHEN ({x}) < 0 THEN raise_error('Out of Range Error:"
        f" cannot take logarithm of a negative number')"
        f" ELSE {body} END)"
    )


def _trig_guard(x: str, fn: str) -> str:
    return (
        f"(CASE WHEN ({x}) < -1 OR ({x}) > 1 THEN raise_error("
        f"'Invalid Input Error: {fn.upper()} is undefined outside"
        f" [-1,1]') ELSE __native_{fn}__({x}) END)"
    )


def _pad_guard(args: list[str], fn: str) -> str:
    s, n, p = args
    return (
        f"(CASE WHEN ({p}) = '' AND ({n}) > length({s}) THEN"
        f" raise_error('Invalid Input Error: Insufficient padding"
        f" in {fn.upper()}.') ELSE __native_{fn}__({s}, {n}, {p}) END)"
    )


def _tpl_substr3(args: list[str]) -> str:
    """3-arg substr with DuckDB's 0-start and negative-length rules
    (verified against probes: (3,-2)='ab', (-2,-3)='bcd', (2,-9)='a',
    (9,-3)='f', (0,-1)='', (0,3)='ab'). For a non-negative literal
    length the simple 0-start form is emitted unchanged."""
    s, st, ln = args
    simple = (
        f"substring({s} FROM CASE WHEN ({st}) = 0 THEN 1 ELSE ({st}) END"
        f" FOR CASE WHEN ({st}) = 0 THEN ({ln}) - 1 ELSE ({ln}) END)"
    )
    if re.fullmatch(r"\+?\d+", ln.strip()):
        return simple
    nstart = (
        f"CASE WHEN ({st}) < 0 THEN length({s}) + ({st}) + 1"
        f" WHEN ({st}) = 0 THEN 1 ELSE ({st}) END"
    )
    begin = f"greatest(1, ({nstart}) + ({ln}))"
    neg = f"substring({s} FROM {begin} FOR ({nstart}) - ({begin}))"
    return f"(CASE WHEN ({ln}) < 0 THEN {neg} ELSE {simple} END)"


def _tpl_from_json(args: list[str]) -> str | None:
    try:
        return _tpl_json_transform(args)
    except ValueError:
        return None  # not a DuckDB JSON structure: native from_json


def _tpl_quantile_disc(args: list[str]) -> str | None:
    """``quantile_disc(x, p)`` → ``percentile_disc(p) WITHIN GROUP``.
    A LIST second argument (valid DuckDB, returns a list) expands to an
    array of per-percentile aggregates — Spark's percentile_disc takes
    only a scalar literal. Non-literal lists raise (loud refusal: the
    naive translation would be rejected by Spark anyway, but with an
    opaque analyzer error)."""
    if len(args) != 2:
        return None
    col, q = args[0].strip(), args[1].strip()
    inner = None
    m = re.match(r"^array\s*\((.*)\)$", q, re.IGNORECASE | re.DOTALL)
    if m:
        inner = m.group(1)
    elif q.startswith("[") and q.endswith("]"):
        inner = q[1:-1]
    if inner is None:
        return f"percentile_disc({q}) WITHIN GROUP (ORDER BY {col})"
    parts = [p.strip() for p in split_top_level(inner) if p.strip()]
    if not all(re.match(r"^-?\d+(\.\d+)?$", p) for p in parts):
        raise ValueError(
            "quantile_disc with a non-literal list argument is not "
            f"supported (got {q!r})"
        )
    calls = ", ".join(
        f"percentile_disc({p}) WITHIN GROUP (ORDER BY {col})" for p in parts
    )
    return f"array({calls})"


_DATE_TRUNC_DATE_UNITS = {"day", "week", "month", "quarter", "year"}


def _tpl_date_trunc(args: list[str]) -> str | None:
    if len(args) != 2:
        return None
    unit = args[0].strip().strip("'").lower()
    ts = args[1]
    # units Spark's date_trunc does NOT know (it returns NULL for them
    # — silently wrong): express via year arithmetic, or refuse loudly
    if unit == "decade":
        return f"make_date(CAST(floor(year({ts}) / 10) * 10 AS INT), 1, 1)"
    if unit == "century":
        # DuckDB rounds down to the multiple (2024 → 2000), unlike
        # PG's year-1-based centuries (probed)
        return f"make_date(CAST(floor(year({ts}) / 100) * 100 AS INT), 1, 1)"
    if unit == "millennium":
        return f"make_date(CAST(floor(year({ts}) / 1000) * 1000 AS INT), 1, 1)"
    if unit == "isoyear":
        return "CAST(raise_error('date_trunc: isoyear is not supported') AS DATE)"
    if unit not in _DATE_TRUNC_DATE_UNITS:
        return None  # sub-day units keep TIMESTAMP on both engines
    return f"CAST(__date_trunc__({args[0]}, {args[1]}) AS DATE)"


_TIME_BUCKET_SECS = {
    "microsecond": 0.000001, "microseconds": 0.000001,
    "millisecond": 0.001, "milliseconds": 0.001,
    "second": 1, "seconds": 1, "minute": 60, "minutes": 60,
    "hour": 3600, "hours": 3600, "day": 86400, "days": 86400,
}


_BIT_COUNT_WIDTH = {
    "tinyint": 255, "int1": 255, "utinyint": 255,
    "smallint": 65535, "int2": 65535, "short": 65535, "usmallint": 65535,
    "integer": 4294967295, "int4": 4294967295, "int": 4294967295,
    "signed": 4294967295, "uinteger": 4294967295,
}


def _tpl_repeat_blob(args: list[str]) -> str | None:
    """repeat over a BINARY-typed operand keeps BLOB in duck; Spark's
    repeat coerces BINARY to STRING (mangling non-UTF-8 bytes). For a
    LITERAL repeat count, unroll to concat of the operand — concat
    over BINARY stays BINARY and byte-exact. Bounded at 64 copies
    (beyond that, duck-parity on a blob repeat is not worth the SQL
    text); non-literal counts and string operands stay native."""
    if len(args) != 2:
        return None
    a, n = args[0].strip(), args[1].strip()
    if not re.search(
        r"(?i)(?:::\s*(?:BLOB|BINARY|BYTEA|VARBINARY)"
        r"|\bAS\s+(?:BLOB|BINARY|BYTEA|VARBINARY)\s*\))\s*$"
        r"|^unhex\s*\(",
        a,
    ):
        return None
    if not re.fullmatch(r"-?\d+", n) or int(n) > 64:
        return None
    k = int(n)
    if k <= 0:
        return "CAST('' AS BINARY)"
    if k == 1:
        return f"({a})"
    return "concat(" + ", ".join([f"({a})"] * k) + ")"


def _tpl_bit_count(args: list[str]) -> str | None:
    """bit_count over sub-64-bit integers: mask to the declared width
    so negatives count like duck's two's-complement at that width
    (probed r13: duck bit_count(-1::TINYINT)=8, Spark=64). Unknown
    operand forms (columns, arithmetic) stay native — our parquet
    integer columns are BIGINT, where the engines already agree."""
    if len(args) != 1:
        return None
    a = args[0].strip()
    m = re.search(r"(?i)(?:::\s*(\w+)|\bAS\s+(\w+)\s*\))\s*$", a)
    if m:
        width = _BIT_COUNT_WIDTH.get((m.group(1) or m.group(2)).lower())
        if width is None:
            return None  # BIGINT/HUGEINT/unknown: native
        return f"bit_count(({a}) & {width})"
    if re.fullmatch(r"[-+\s(]*\d+[\s)]*", a):
        # bare integer literal: duck types it INTEGER (32-bit)
        return f"bit_count(({a}) & 4294967295)"
    return None


def _tpl_time_bucket(args: list[str]) -> str | None:
    """time_bucket(INTERVAL, ts) for literal intervals: day-dividing
    second widths bucket on the epoch-aligned grid (duck's 2000-01-03
    origin lies ON every such grid); whole-day multiples (7 DAY =
    Monday weeks) anchor explicitly on the 2000-01-03 origin; 1 month
    / 1 year map to date_trunc and n-month/quarter buckets anchor on
    the 2000-01-01 month origin (all probed r12). Fractional-second
    and zero widths pass through loudly; DATE-literal operands keep
    duck's DATE return type where the width is day-or-coarser."""
    if len(args) != 2:
        return None
    m = re.match(
        r"(?i)^\s*INTERVAL\s+(?:'(\d+)\s+(\w+)'|(\d+)\s+(\w+)"
        r"|'(\d+)'\s+(\w+))\s*$",
        args[0],
    )
    if not m:
        return None
    n = int(m.group(1) or m.group(3) or m.group(5))
    unit = (m.group(2) or m.group(4) or m.group(6)).lower()
    ts = args[1]
    # bare-identifier operands are schema-blind here: tag them with a
    # comment marker so the schema-aware leg
    # (rewrite_time_bucket_date_cols, reached via app._hugeint_sums)
    # can restore duck's DATE return type for DATE columns (probed
    # r13: DATE operands return DATE at EVERY width). The marker is a
    # plain SQL comment — harmless on paths without schema plumbing.
    mark = ""
    idm = re.fullmatch(
        r"\s*((?:\w+|`[^`]+`)(?:\.(?:\w+|`[^`]+`))*)\s*", ts
    )
    if idm:
        low = idm.group(1).split(".")[-1].strip("`").lower()
        mark = f"/*__duck_tb:{low}*/"
    elif len(ts) <= 400:
        # non-identifier operand EXPRESSIONS (r13 continuation):
        # carry the original operand hex-encoded so the schema leg
        # can resolve its type through the analysis typer (a plain
        # comment embedding could contain '*/')
        mark = f"/*__duck_tbx:{ts.strip().encode().hex()}*/"
    if unit in ("month", "months", "year", "years"):
        months = n * (12 if unit.startswith("year") else 1)
        if months == 0:
            return None  # zero width: leave for the loud analyzer
        if months == 1:
            return f"CAST(date_trunc('month', {ts}) AS DATE)"
        if months == 12:
            return f"CAST(date_trunc('year', {ts}) AS DATE)"
        # n-month buckets anchor on duck's month origin 2000-01-01
        # (probed); months_between fractions floor to complete months.
        # DATE-literal operands keep duck's DATE return type; other
        # operands (timestamp columns) widen back to TIMESTAMP
        bucket = (
            f"add_months(DATE '2000-01-01', CAST(floor(months_between("
            f"{ts}, DATE '2000-01-01') / {months}) AS INT) * {months})"
        )
        if re.match(r"(?i)^\s*DATE\s*'", ts):
            return bucket
        return f"{mark}CAST({bucket} AS TIMESTAMP)"
    if unit not in _TIME_BUCKET_SECS:
        return None
    secs = _TIME_BUCKET_SECS[unit] * n
    if secs != int(secs) or int(secs) == 0:
        return None
    secs = int(secs)
    # a DATE literal operand keeps duck's DATE return type for whole-
    # day widths (r12 sweep); schema-blind column operands keep the
    # timestamp form
    as_date = (
        secs % 86400 == 0
        and re.match(r"(?i)^\s*DATE\s*'", ts) is not None
    )
    def _wrap(expr: str) -> str:
        return f"CAST({expr} AS DATE)" if as_date else f"{mark}{expr}"
    if 86400 % secs == 0:
        # day-dividing widths: epoch alignment equals duck's
        # 2000-01-03 origin (it lies on every such grid)
        return _wrap(
            f"timestamp_seconds(CAST(floor(unix_micros(CAST({ts} AS"
            f" TIMESTAMP)) / 1e6 / {secs}) AS BIGINT) * {secs})"
        )
    if secs % 86400 == 0:
        # whole-day multiples (e.g. 7 DAY → Monday weeks): anchor on
        # duck's 2000-01-03 00:00 UTC origin (probed, r12)
        org = 946857600
        return _wrap(
            f"timestamp_seconds({org} + CAST(floor((unix_micros("
            f"CAST({ts} AS TIMESTAMP)) / 1e6 - {org}) / {secs})"
            f" AS BIGINT) * {secs})"
        )
    return None


_TB_MARK_RE = re.compile(r"/\*__duck_tb(x?):(\w+)\*/")


def rewrite_time_bucket_date_cols(
    sql: str, date_cols: set[str], typer=None
) -> str:
    """Schema-aware leg of the time_bucket return type (r13, VERDICT
    item 4): duck returns DATE whenever the operand is DATE-typed —
    at EVERY bucket width (probed; a midnight-aligned input always
    buckets to a midnight-aligned instant, so the cast never changes
    the value). ``_tpl_time_bucket`` tags bare-identifier operands
    with ``/*__duck_tb:name*/`` and operand EXPRESSIONS with the
    hex-payload ``/*__duck_tbx:...*/`` (r13 continuation); this pass
    CASTs the tagged bucket expression to DATE when the name resolves
    to a DATE column — or, for expression markers, when the analysis
    ``typer`` resolves the original operand to DATE — and strips the
    marker either way."""
    guard = 0
    while guard < 100:
        guard += 1
        m = _TB_MARK_RE.search(sql)
        if m is None:
            return sql
        mask = _code_mask(sql)
        open_i = sql.find("(", m.end())
        if open_i == -1:
            return sql
        close = _match_paren(sql, mask, open_i)
        if close is None:
            return sql
        expr = sql[m.end() : close + 1]
        is_date = False
        if m.group(1):  # expression marker: hex payload → typer
            if typer is not None:
                try:
                    operand = bytes.fromhex(m.group(2)).decode()
                except ValueError:
                    operand = None
                is_date = operand is not None and typer(operand) == "date"
        else:
            is_date = m.group(2) in date_cols
        repl = f"CAST({expr} AS DATE)" if is_date else expr
        sql = sql[: m.start()] + repl + sql[close + 1 :]
    return sql


def _tpl_date_add(args: list[str]) -> str | None:
    if len(args) == 2 and re.match(r"(?i)^\s*INTERVAL\b", args[1]):
        # DuckDB date_add(DATE, INTERVAL) returns TIMESTAMP
        return f"CAST(({args[0]}) + ({args[1]}) AS TIMESTAMP)"
    return None  # integer second arg: Spark-native date_add


def _tpl_element_at(args: list[str]) -> str | None:
    """DuckDB 1.x element_at/subscript on a MAP returns a LIST ([] when
    the key is absent). Detectable for map-constructor bases — the
    fixture tables have no MAP columns, so the literal-constructor form
    is the reachable surface; array bases keep Spark's native scalar."""
    if len(args) != 2:
        return None
    base = args[0].lower()
    if not (base.startswith("map(") or base.startswith("map_from_arrays(")):
        return None
    return (
        f"(CASE WHEN map_contains_key({args[0]}, {args[1]}) "
        f"THEN array(__element_at__({args[0]}, {args[1]})) "
        f"ELSE array() END)"
    )


_GRADE_UP = (
    "transform(array_sort(zip_with({0}, sequence(1, size({0})), "
    "(__v, __i) -> struct(__v AS v, __i AS i))), __s -> __s.i)"
)

# arity-keyed call rewrites: (nargs, template). nargs None = any arity,
# template may be a callable(args) -> str | None (None: leave alone,
# loud downstream). Templates must not re-produce a matching call of
# the same name+arity (the TRIM keyword forms below parse as ONE
# argument on rescan, so the scanner skips them).
def _tpl_string_agg(args):
    if len(args) not in (1, 2):
        return None
    v = args[0].strip()
    sep = args[1] if len(args) == 2 else "','"
    dk = ""
    if re.match(r"DISTINCT\s", v, re.IGNORECASE):
        dk, v = "DISTINCT ", v[8:].strip()
    return f"listagg({dk}CAST({v} AS STRING), {sep})"


def _tpl_list_sort(args):
    """list_sort(x, 'ASC'|'DESC'[, 'NULLS FIRST'|'NULLS LAST']) — the
    DuckDB-probed matrix. Non-literal direction args skip (loud)."""
    if len(args) not in (2, 3):
        return None
    d = args[1].strip().strip("'").upper()
    no = args[2].strip().strip("'").upper() if len(args) == 3 else "NULLS LAST"
    if d not in ("ASC", "DESC") or no not in ("NULLS FIRST", "NULLS LAST"):
        return None
    if d == "ASC":
        return (
            f"sort_array({args[0]}, true)"
            if no == "NULLS FIRST"
            else f"array_sort({args[0]})"
        )
    if no == "NULLS LAST":
        return f"sort_array({args[0]}, false)"
    return f"reverse(array_sort({args[0]}))"


def _is_null_lit(a: str) -> bool:
    return a.strip().upper() == "NULL"


_SLICE_UID = [500]  # unique lambda-var suffixes for stepped slices


def _tpl_list_slice(args: list[str]) -> str | None:
    if len(args) not in (3, 4):
        return None
    s, lo, hi = args[0], args[1], args[2]
    step = args[3].strip() if len(args) == 4 else None
    if step is not None:
        if not re.fullmatch(r"\d+", step):
            return None  # non-literal/negative step: fail loudly
        if int(step) == 0:
            raise ValueError("Slice step cannot be zero")
    sl = s.strip()
    if _QUOTED_LIT_RE.fullmatch(sl):
        lit = sl[1:-1].replace("''", "'")
        if (
            step is None
            and re.fullmatch(r"-?\d+", lo.strip())
            and re.fullmatch(r"-?\d+", hi.strip())
        ):
            return _sql_str(_duck_str_slice(lit, int(lo), int(hi)))
        return _slice_repl(sl, lit, lo.strip(), hi.strip(), step, 0)
    if step is not None:
        _SLICE_UID[0] += 1
        return _slice_repl(
            f"({s})", None, lo.strip(), hi.strip(), step, _SLICE_UID[0]
        )
    return f"slice({s}, {lo}, ({hi}) - ({lo}) + 1)"


def _tpl_list_extract(args: list[str]) -> str | None:
    """list_element/list_extract/array_extract — the FUNCTION spelling
    of the bracket subscript (1-based, negative from end, OOB → NULL /
    '' for strings; probed r10)."""
    if len(args) != 2:
        return None
    base, idx = args[0].strip(), args[1].strip()
    if _QUOTED_LIT_RE.fullmatch(base):
        return _subscript_repl(
            base, base[1:-1].replace("''", "'"), idx
        )
    return _subscript_repl(f"({base})", None, idx)


def _tpl_list_concat(args: list[str]) -> str | None:
    """DuckDB list_concat/array_cat treat a NULL argument as ABSENT
    (list_concat([1], NULL) = [1]); Spark's concat propagates NULL and
    its analyzer rejects an untyped NULL literal outright (r10 sweep).
    Literal NULLs drop at rewrite time; a nullable 2-arg form coalesces
    each side with an empty slice of the other. Arity is EXACTLY 2:
    DuckDB 1.x's list_concat/array_cat/array_concat are binary (probed:
    3+ args is a Binder Error; variadic arrived post-1.1) — falling
    through to Spark's variadic concat() would silently accept SQL the
    oracle rejects AND NULL-propagate (ADVICE r10)."""
    if len(args) != 2:
        raise ValueError(
            "No function matches the given name and argument types "
            f"'list_concat({', '.join('...' for _ in args)})'. "
            "list_concat takes exactly two list arguments"
        )
    live = [a for a in args if not _is_null_lit(a)]
    if not live:
        return "NULL"
    if len(live) == 1:
        return f"({live[0]})"
    x, y = live
    return (
        f"concat(coalesce({x}, slice({y}, 1, 0)),"
        f" coalesce({y}, slice({x}, 1, 0)))"
    )


def _tpl_list_contains(args: list[str]) -> str | None:
    """DuckDB list_contains: NULL needle → NULL, otherwise strictly
    true/false even when the list holds NULLs (probed: list_contains(
    [1,NULL], 9) = false where Spark's array_contains returns NULL)."""
    if len(args) != 2:
        return None
    lst, x = args
    if _is_null_lit(x):
        return "CAST(NULL AS BOOLEAN)"
    # NULL list or NULL needle → NULL (probed); list-contains-NULL with
    # needle absent → false where Spark's array_contains gives NULL
    return (
        f"(CASE WHEN ({x}) IS NULL OR ({lst}) IS NULL"
        f" THEN CAST(NULL AS BOOLEAN)"
        f" ELSE coalesce(array_contains({lst}, {x}), false) END)"
    )


def _tpl_list_position(args: list[str]) -> str | None:
    """Only the literal-NULL needle needs help (Spark's analyzer rejects
    it; DuckDB returns NULL) — other shapes fall through to the
    array_position rename (not-found → 0 on both engines, probed)."""
    if len(args) == 2 and _is_null_lit(args[1]):
        return "CAST(NULL AS BIGINT)"
    return None


def _tpl_string_split(args: list[str]) -> str | None:
    """DuckDB string_split with an EMPTY separator splits per character
    WITHOUT Spark's trailing '' element, and splits '' to [''] (r10
    sweep probes)."""
    if len(args) != 2:
        return None
    s, d = args
    empty = (
        f"CASE WHEN length({s}) = 0 THEN array('')"
        f" ELSE slice(split({s}, ''), 1, length({s})) END"
    )
    norm = f"split({s}, concat('\\\\Q', {d}, '\\\\E'))"
    dl = d.strip()
    if dl == "''":
        return f"({empty})"
    if _QUOTED_LIT_RE.fullmatch(dl):
        return norm
    return f"(CASE WHEN ({d}) = '' THEN {empty} ELSE {norm} END)"


def _tpl_split_part(args: list[str]) -> str | None:
    """DuckDB split_part('abc', '', n) indexes CHARACTERS (split_part(
    'a,b,c', '', 2) = ','); Spark returns the whole string for an empty
    delimiter. The marker head dodges the nary rescan loop."""
    if len(args) != 3:
        return None
    s, d, n = args
    char = f"substring({s}, {n}, 1)"
    dl = d.strip()
    if dl == "''":
        return f"({char})"
    norm = f"__split_part__({s}, {d}, {n})"
    if _QUOTED_LIT_RE.fullmatch(dl):
        return None  # plain literal separator: native split_part matches
    return f"(CASE WHEN ({d}) = '' THEN {char} ELSE {norm} END)"


def _md5_half_sql(x: str, offsets: tuple[int, ...]) -> str:
    """Little-endian UBIGINT of one half of md5(x): the hex pairs
    reversed, conv'd base 16 → 10 (fits DECIMAL(20,0) = uint64 range).
    md5 is computed ONCE via a singleton transform."""
    pieces = ", ".join(f"substring(__m FROM {o} FOR 2)" for o in offsets)
    return (
        f"element_at(transform(array(md5(CAST({x} AS STRING))), __m ->"
        f" CAST(conv(concat({pieces}), 16, 10) AS DECIMAL(20,0))), 1)"
    )


_NARY_REWRITES: dict = {
    # DuckDB [lr]trim(string, chars) vs Spark [lr]trim(chars, string):
    # SWAPPED argument order — passthrough returns silently wrong
    # values, the worst failure class. The keyword TRIM form is
    # order-explicit on both engines.
    "ltrim": (2, "trim(LEADING {1} FROM {0})"),
    "rtrim": (2, "trim(TRAILING {1} FROM {0})"),
    "trim": (2, "trim(BOTH {1} FROM {0})"),
    # scalar xor (DuckDB function; Spark only has the ^ operator)
    "xor": (2, "(({0}) ^ ({1}))"),
    # DuckDB list_slice/array_slice(l, begin, end) is 1-based END-
    # INCLUSIVE; Spark slice takes (start, LENGTH). A string-literal
    # first argument slices VARCHAR (r10 sweep: array_slice('abcdef',
    # 2, 4) = 'bcd') with the bracket pass's substring semantics.
    "list_slice": (None, lambda a: _tpl_list_slice(a)),
    "array_slice": (None, lambda a: _tpl_list_slice(a)),
    "list_element": (2, lambda a: _tpl_list_extract(a)),
    "list_extract": (2, lambda a: _tpl_list_extract(a)),
    "array_extract": (2, lambda a: _tpl_list_extract(a)),
    # ---- literal-separator splits (Spark split takes a REGEX — the
    # \Q..\E quoting makes the separator literal, matching DuckDB; the
    # lambda adds DuckDB's empty-separator per-character semantics)
    "string_split": (None, _tpl_string_split),
    "str_split": (None, _tpl_string_split),
    "string_to_array": (None, _tpl_string_split),
    # ---- list functions
    "list_prepend": (2, "array_prepend({1}, {0})"),  # DuckDB: (elem, list)
    "list_reduce": (
        2,
        "aggregate(slice({0}, 2, greatest(size({0}) - 1, 0)), "
        "element_at({0}, 1), {1})",
    ),
    "list_has_any": (2, "arrays_overlap({0}, {1})"),
    "list_has_all": (2, "(size(array_except({1}, {0})) = 0)"),
    "list_grade_up": (1, _GRADE_UP),
    "list_string_agg": (
        1, "array_join(transform({0}, __x -> CAST(__x AS STRING)), ',')"
    ),
    "generate_subscripts": (2, "explode(sequence(1, size({0})))"),
    "range": (None, lambda a: _tpl_range_list(a, inclusive=False)),
    "generate_series": (None, lambda a: _tpl_range_list(a, inclusive=True)),
    # ---- r10 default-semantics sweep batch
    "list_concat": (None, _tpl_list_concat),
    "array_concat": (None, _tpl_list_concat),
    "array_cat": (None, _tpl_list_concat),
    "list_contains": (None, _tpl_list_contains),
    "list_has": (None, _tpl_list_contains),
    "list_position": (None, _tpl_list_position),
    "list_indexof": (None, _tpl_list_position),
    "list_intersect": (2, "array_compact(array_intersect({0}, {1}))"),
    "array_intersect": (2, "array_compact(array_intersect({0}, {1}))"),
    "split_part": (None, _tpl_split_part),
    # floored division/modulo, DOUBLE on both engines (probed:
    # fdiv(-7,2)=-4.0, fmod(-7,3)=2.0 — Spark's mod/% truncate)
    "fdiv": (
        2,
        "CAST(floor(CAST({0} AS DOUBLE) / CAST({1} AS DOUBLE)) AS DOUBLE)",
    ),
    "fmod": (
        2,
        "(CAST({0} AS DOUBLE) - CAST({1} AS DOUBLE)"
        " * floor(CAST({0} AS DOUBLE) / CAST({1} AS DOUBLE)))",
    ),
    # RE2-style QuoteMeta: every char outside [A-Za-z0-9_] gets a
    # backslash (probed — DuckDB escapes '-', '#', space too). The
    # marker head keeps this a NATIVE global regexp_replace — the plain
    # name would be claimed by the first-occurrence-only duck shim.
    "regexp_escape": (
        1,
        "__regexp_replace_all__({0}, '([^a-zA-Z0-9_])', '\\\\\\\\$1')",
    ),
    # little-endian uint64 halves of the md5 digest (probed against
    # DuckDB: lower = bytes 8..15 reversed, upper = bytes 0..7 reversed)
    "md5_number_lower": (
        1, lambda a: _md5_half_sql(a[0], (31, 29, 27, 25, 23, 21, 19, 17))
    ),
    "md5_number_upper": (
        1, lambda a: _md5_half_sql(a[0], (15, 13, 11, 9, 7, 5, 3, 1))
    ),
    # DuckDB chr() takes any Unicode codepoint; Spark's char() is
    # mod-256 (vectorized UDF — not a hot-path function)
    "chr": (1, "duck_chr(CAST({0} AS INT))"),
    "format_bytes": (1, "duck_format_bytes(CAST({0} AS BIGINT))"),
    "formatreadablesize": (1, "duck_format_bytes(CAST({0} AS BIGINT))"),
    "formatreadabledecimalsize": (
        1, "duck_format_decimal_size(CAST({0} AS BIGINT))"
    ),
    # len is polymorphic in DuckDB (VARCHAR/BLOB *and* LIST). No type
    # info at rewrite time: a detectably list-producing argument head →
    # size(); everything else falls through to the length() rename
    # (array COLUMNS are covered by the schema-aware
    # rewrite_array_length pass at the app layer).
    "len": (
        1,
        lambda a: (
            f"size({a[0]})"
            if re.match(
                r"(?:array|array_\w+|list_\w+|map|map_\w+|sequence|split|"
                r"collect_list|collect_set|slice|transform|filter|flatten|"
                r"sort_array|arrays_zip|string_split|str_split|"
                r"string_to_array|regexp_split_to_array)\s*\(",
                a[0].strip(),
                re.IGNORECASE,
            )
            else None
        ),
    ),
    # ---- maps / structs
    "map": (2, "map_from_arrays({0}, {1})"),  # DuckDB map takes two LISTs
    "map_extract": (
        2,
        "(CASE WHEN map_contains_key({0}, {1}) "
        "THEN array(__element_at__({0}, {1})) ELSE array() END)",
    ),
    "struct_extract": (2, "({0})[{1}]"),
    # ---- json shredding (r7: closes 2 of the 4 probe refusals)
    "json_transform": (2, lambda a: _tpl_json_transform(a)),
    # ---- strings
    "regexp_replace": (None, _tpl_regexp_replace),
    "to_base": (2, "conv(CAST({0} AS STRING), 10, {1})"),
    "unicode": (1, "(CASE WHEN length({0}) = 0 THEN -1 ELSE ascii({0}) END)"),
    "ord": (1, "(CASE WHEN length({0}) = 0 THEN -1 ELSE ascii({0}) END)"),
    "encode": (1, "encode({0}, 'UTF-8')"),  # DuckDB: VARCHAR → UTF-8 BLOB
    "decode": (1, "decode({0}, 'UTF-8')"),
    # duck repeat(BLOB, n) returns BLOB; Spark coerces BINARY→STRING
    # (r13 sweep). Literal repeat counts unroll to an exact-bytes
    # concat; other forms stay native (strings agree already).
    "repeat": (None, lambda a: _tpl_repeat_blob(a)),
    # duck bit_count counts within the operand's DECLARED integer
    # width (TINYINT 8 … BIGINT 64; bare literals are INTEGER 32);
    # Spark always sign-extends to 64 bits, diverging on negatives
    # (r13 sweep). Mask cast-suffixed and bare-literal operands; a
    # BIGINT (our parquet int columns) matches natively. BIT-string
    # operands were consumed by _rewrite_bit_strings earlier.
    "bit_count": (None, lambda a: _tpl_bit_count(a)),
    # ---- datetime
    "epoch": (1, "(unix_micros(CAST({0} AS TIMESTAMP)) / 1e6)"),
    "dayofweek": (1, "((__native_weekday__({0}) + 1) % 7)"),  # DuckDB: Sunday=0
    "date_part": (None, _tpl_date_part),
    "datepart": (None, _tpl_date_part),
    # ---- r10 datetime sweep batch (all probed)
    "yearweek": (
        1,
        "(CAST(__date_part__('YEAROFWEEK', {0}) AS BIGINT) * 100"
        " + weekofyear({0}))",
    ),
    "isoyear": (1, "CAST(__date_part__('YEAROFWEEK', {0}) AS BIGINT)"),
    # duck weekday is Sunday=0 (= its dayofweek); Spark's is Monday=0
    "weekday": (1, "((__native_weekday__({0}) + 1) % 7)"),
    "julian": (
        1,
        "(CAST(datediff(CAST({0} AS DATE), DATE '-4713-11-24') AS DOUBLE)"
        " + (unix_micros(CAST({0} AS TIMESTAMP)) % 86400000000)"
        " / 86400000000.0)",
    ),
    "epoch_us": (1, "unix_micros(CAST({0} AS TIMESTAMP))"),
    "epoch_ns": (1, "(unix_micros(CAST({0} AS TIMESTAMP)) * 1000)"),
    # timezone(tz, naive-ts): interpret in tz, return the instant
    # (session is pinned UTC, so to_utc_timestamp renders identically);
    # 1-arg timezone(ts) is the UTC-session offset, 0
    "timezone": (
        None,
        lambda a: (
            "CAST(0 AS BIGINT)"
            if len(a) == 1
            else (f"to_utc_timestamp({a[1]}, {a[0]})" if len(a) == 2 else None)
        ),
    ),
    # ---- r10 regex sweep batch
    "regexp_full_match": (
        2, "({0} RLIKE concat('^(?:', {1}, ')$'))"
    ),
    "regexp_matches": (None, lambda a: _tpl_regexp_matches(a)),
    # ---- r10 aggregate-edge sweep: DuckDB any_value skips NULLs
    # (arbitrary keeps them — Spark's any_value default); array_agg/
    # list KEEP NULL elements where collect_list drops them (struct
    # ride, the json_group_array recipe). Ordered forms are handled by
    # _rewrite_agg_order_by before this table sees them.
    "any_value": (1, "__native_any_value__({0}, true)"),
    # array_agg / list live in _rewrite_array_agg_plain (DISTINCT,
    # FILTER tail, and NULL-over-empty need call-site context)
    # DuckDB date_trunc returns DATE for day-or-coarser units (probed —
    # even for TIMESTAMP inputs); Spark always returns TIMESTAMP
    "date_trunc": (None, lambda a: _tpl_date_trunc(a)),
    "datetrunc": (None, lambda a: _tpl_date_trunc(a)),
    "time_bucket": (None, _tpl_time_bucket),
    # duck's 1-arg make_timestamp(BIGINT) = microseconds since epoch
    # (r12 sweep); the 6-arg calendar form stays native
    "make_timestamp": (
        None,
        lambda a: f"timestamp_micros({a[0]})" if len(a) == 1 else None,
    ),

    "date_add": (None, _tpl_date_add),
    # ---- numerics
    # DuckDB 1-arg log is BASE-10 (Spark: ln), and DuckDB RAISES on a
    # non-positive argument where Spark returns NULL (error-parity
    # family, r10 sweep). Same guard for ln/log2/log10/sqrt/acos/asin.
    "log": (
        None,
        lambda a: (
            _log_guard(a[0], "log10")
            if len(a) == 1
            else (
                f"__native_log__({a[0]}, {_log_guard(a[1], None)})"
                if len(a) == 2
                else None
            )
        ),
    ),
    "ln": (1, lambda a: _log_guard(a[0], "ln")),
    "log2": (1, lambda a: _log_guard(a[0], "log2")),
    "log10": (1, lambda a: _log_guard(a[0], "log10")),
    "sqrt": (
        1,
        lambda a: (
            f"(CASE WHEN ({a[0]}) < 0 THEN raise_error('Out of Range"
            f" Error: cannot take square root of a negative number')"
            f" ELSE __native_sqrt__({a[0]}) END)"
        ),
    ),
    "acos": (1, lambda a: _trig_guard(a[0], "acos")),
    "asin": (1, lambda a: _trig_guard(a[0], "asin")),
    # lpad/rpad with an EMPTY pad string raise when padding is actually
    # needed (probed: lpad('abc',2,'')='ab' but lpad('abc',5,'') errors)
    "lpad": (3, lambda a: _pad_guard(a, "lpad")),
    "rpad": (3, lambda a: _pad_guard(a, "rpad")),
    # quantile_disc/quantile: SQL-standard discrete percentile (smallest
    # value whose cume_dist ≥ p) — matches DuckDB's lower-rank pick;
    # list arguments expand per-percentile (Spark's percentile_disc is
    # scalar-literal only, unlike percentile which takes arrays)
    "quantile_disc": (2, lambda a: _tpl_quantile_disc(a)),
    "quantile": (2, lambda a: _tpl_quantile_disc(a)),
    "trunc": (1, "(CASE WHEN ({0}) < 0 THEN ceil({0}) ELSE floor({0}) END)"),
    # DuckDB sign returns TINYINT and maps NaN → 0 (probed r10; Spark's
    # is typed like the input and propagates NaN). Marker head: the
    # template must not re-feed the rescan loop.
    "sign": (
        1,
        "CAST(CASE WHEN isnan(CAST({0} AS DOUBLE)) THEN 0"
        " ELSE __native_sign__({0}) END AS TINYINT)",
    ),
    "even": (
        1,
        "CAST(2 * ceil(abs(CAST({0} AS DOUBLE)) / 2) * "
        "(CASE WHEN ({0}) < 0 THEN -1 ELSE 1 END) AS DOUBLE)",
    ),
    # DuckDB factorial returns HUGEINT for any n (n<=0 -> 1, n>33
    # errors); Spark's factorial is NULL outside 0..20. A 34-entry
    # DECIMAL(38,0) lookup (one SQL parse, no factorial() re-emission
    # for the rescan loop to self-match) reproduces duck exactly
    # (probed r11: factorial(-1)=1, factorial(33) fits HUGEINT,
    # factorial(34) is Out of Range).
    "factorial": (
        1,
        "(CASE WHEN ({0}) IS NULL THEN CAST(NULL AS DECIMAL(38,0))"
        " WHEN ({0}) > 33 THEN CAST(raise_error('Out of Range Error:"
        " Value out of range') AS DECIMAL(38,0))"
        " ELSE element_at(array(CAST(\'1\' AS DECIMAL(38,0)), CAST(\'1\' AS DECIMAL(38,0)), CAST(\'2\' AS DECIMAL(38,0)), CAST(\'6\' AS DECIMAL(38,0)), CAST(\'24\' AS DECIMAL(38,0)), CAST(\'120\' AS DECIMAL(38,0)), CAST(\'720\' AS DECIMAL(38,0)), CAST(\'5040\' AS DECIMAL(38,0)), CAST(\'40320\' AS DECIMAL(38,0)), CAST(\'362880\' AS DECIMAL(38,0)), CAST(\'3628800\' AS DECIMAL(38,0)), CAST(\'39916800\' AS DECIMAL(38,0)), CAST(\'479001600\' AS DECIMAL(38,0)), CAST(\'6227020800\' AS DECIMAL(38,0)), CAST(\'87178291200\' AS DECIMAL(38,0)), CAST(\'1307674368000\' AS DECIMAL(38,0)), CAST(\'20922789888000\' AS DECIMAL(38,0)), CAST(\'355687428096000\' AS DECIMAL(38,0)), CAST(\'6402373705728000\' AS DECIMAL(38,0)), CAST(\'121645100408832000\' AS DECIMAL(38,0)), CAST(\'2432902008176640000\' AS DECIMAL(38,0)), CAST(\'51090942171709440000\' AS DECIMAL(38,0)), CAST(\'1124000727777607680000\' AS DECIMAL(38,0)), CAST(\'25852016738884976640000\' AS DECIMAL(38,0)), CAST(\'620448401733239439360000\' AS DECIMAL(38,0)), CAST(\'15511210043330985984000000\' AS DECIMAL(38,0)), CAST(\'403291461126605635584000000\' AS DECIMAL(38,0)), CAST(\'10888869450418352160768000000\' AS DECIMAL(38,0)), CAST(\'304888344611713860501504000000\' AS DECIMAL(38,0)), CAST(\'8841761993739701954543616000000\' AS DECIMAL(38,0)), CAST(\'265252859812191058636308480000000\' AS DECIMAL(38,0)), CAST(\'8222838654177922817725562880000000\' AS DECIMAL(38,0)), CAST(\'263130836933693530167218012160000000\' AS DECIMAL(38,0)), CAST(\'8683317618811886495518194401280000000\' AS DECIMAL(38,0))),"
        " GREATEST(CAST({0} AS INT), 0) + 1) END)",
    ),
    "setseed": (1, "CAST(NULL AS DOUBLE)"),  # no statement-scoped RNG seed
    # list_sort with literal direction / null-order args (probed:
    # default null order is NULLS LAST both directions; 1-arg form is
    # handled by the array_sort rename). Emitted heads are not keys.
    "list_sort": (None, _tpl_list_sort),
    # arg_min/arg_max skip rows whose VALUE argument is NULL in DuckDB
    # (probed: arg_max(s, x) with s NULL at the max x returns the next
    # row); a NULL key makes min_by/max_by skip the row the same way.
    "arg_min": (
        2,
        "min_by({0}, CASE WHEN ({0}) IS NULL THEN NULL ELSE ({1}) END)",
    ),
    "arg_max": (
        2,
        "max_by({0}, CASE WHEN ({0}) IS NULL THEN NULL ELSE ({1}) END)",
    ),
    # string_agg/group_concat: DuckDB's default separator is ','
    # (probed) and arguments coerce to VARCHAR implicitly; listagg
    # spelling dodges the rescan. DISTINCT prefixes hoist out of the
    # cast.
    "string_agg": (None, _tpl_string_agg),
    "group_concat": (None, _tpl_string_agg),
    # epoch_ms is OVERLOADED in DuckDB: ts→ms AND ms→ts. An integer
    # literal argument is unambiguously the ms→TIMESTAMP direction;
    # everything else keeps the ts→ms reading.
    "epoch_ms": (
        None,
        lambda a: None
        if len(a) != 1
        else (
            f"timestamp_millis({a[0]})"
            if re.fullmatch(r"[+-]?\d+", a[0].strip())
            else f"unix_millis({a[0]})"
        ),
    ),
    # ---- late-r10 default-semantics closures (all DuckDB-probed).
    # substr start 0 consumes length (PG clamp: substr('abcdef',0,3) =
    # 'ab'); Spark treats 0 as 1. Negative starts count from the end on
    # BOTH engines. A NEGATIVE length takes |len| chars ENDING just
    # before start (substr('abcdef',3,-2)='ab', clipped at the string
    # start; r10 sweep) where Spark returns ''. Emitted FROM/FOR form
    # dodges the nary rescan (single-arg split → arity mismatch).
    "substr": (3, lambda a: _tpl_substr3(a)),
    "substring": (3, lambda a: _tpl_substr3(a)),
    # left/right with NEGATIVE n drop |n| chars from the other end in
    # DuckDB (left('abc',-1)='ab'); Spark returns ''. substring form
    # covers both signs and dodges the rescan.
    "left": (
        2,
        "substring({0} FROM 1 FOR CASE WHEN ({1}) < 0"
        " THEN GREATEST(length({0}) + ({1}), 0) ELSE ({1}) END)",
    ),
    "right": (
        2,
        "substring({0} FROM CASE WHEN ({1}) < 0 THEN 1 - ({1})"
        " ELSE GREATEST(length({0}) - ({1}) + 1, 1) END)",
    ),
    # bar() default width 80 (the emitted 4-arg call re-matches with
    # the wrong arity and is skipped — no rescan loop)
    "bar": (3, "bar({0}, {1}, {2}, 80)"),
    # ---- typeof: DuckDB type names (marker dodges the rescan loop;
    # _rewrite_code unmasks it after the nary pass)
    "typeof": (1, "__duck_typename(__typeof__({0}))"),
    # pg_typeof: PG spells the same names in lowercase (probed:
    # 'integer', 'decimal(2,1)', 'integer[]')
    "pg_typeof": (1, "lower(__duck_typename(__typeof__({0})))"),
    "element_at": (None, _tpl_element_at),
    # ---- vector list functions (sequential HOF folds; same operation
    # order as ext/vectorized's kernels)
    "list_dot_product": (
        2,
        "aggregate(zip_with({0}, {1}, (__x, __y) -> "
        "CAST(__x AS DOUBLE) * __y), CAST(0 AS DOUBLE), (__s, __v) -> __s + __v)",
    ),
    "list_inner_product": (
        2,
        "aggregate(zip_with({0}, {1}, (__x, __y) -> "
        "CAST(__x AS DOUBLE) * __y), CAST(0 AS DOUBLE), (__s, __v) -> __s + __v)",
    ),
    "list_cosine_similarity": (
        2,
        "(aggregate(zip_with({0}, {1}, (__x, __y) -> CAST(__x AS DOUBLE) * __y),"
        " CAST(0 AS DOUBLE), (__s, __v) -> __s + __v)"
        " / (__native_sqrt__(aggregate({0}, CAST(0 AS DOUBLE), (__s, __v) -> __s + CAST(__v AS DOUBLE) * __v))"
        " * __native_sqrt__(aggregate({1}, CAST(0 AS DOUBLE), (__s, __v) -> __s + CAST(__v AS DOUBLE) * __v))))",
    ),
    "list_distance": (
        2,
        "__native_sqrt__(aggregate(zip_with({0}, {1}, (__x, __y) -> "
        "(CAST(__x AS DOUBLE) - __y) * (CAST(__x AS DOUBLE) - __y)), "
        "CAST(0 AS DOUBLE), (__s, __v) -> __s + __v))",
    ),
    # ---- more list HOF spellings
    "list_select": (
        2, "transform({1}, __i -> element_at({0}, CAST(__i AS INT)))"
    ),
    "list_where": (
        2,
        "transform(filter(zip_with({0}, {1}, (__v, __m) -> "
        "struct(__v AS v, __m AS m)), __s -> __s.m), __s -> __s.v)",
    ),
    # ---- datetime field extras (probed: century(2024)=21, decade=202)
    "century": (1, "CAST(floor((year({0}) - 1) / 100) + 1 AS BIGINT)"),
    "decade": (1, "CAST(floor(year({0}) / 10) AS BIGINT)"),
    "era": (1, "(CASE WHEN year({0}) > 0 THEN 1 ELSE 0 END)"),
    # interval constructors (make_interval: y, m, w, d, h, min, s)
    "to_years": (1, "make_interval({0})"),
    "to_months": (1, "make_interval(0, {0})"),
    "to_quarters": (1, "make_interval(0, 3 * ({0}))"),
    "to_decades": (1, "make_interval(10 * ({0}))"),
    "to_centuries": (1, "make_interval(100 * ({0}))"),
    "to_millennia": (1, "make_interval(1000 * ({0}))"),
    "to_weeks": (1, "make_dt_interval(7 * ({0}))"),
    "to_days": (1, "make_dt_interval({0})"),
    # sub-day units use make_dt_interval: DayTimeIntervalType composes
    # in timestamp arithmetic like CalendarInterval AND collects to a
    # Python timedelta (CalendarIntervalType.fromInternal is
    # unimplemented — a bare SELECT to_seconds(..) could not ship)
    "to_hours": (1, "make_dt_interval(0, {0})"),
    "to_minutes": (1, "make_dt_interval(0, 0, {0})"),
    "to_seconds": (1, "make_dt_interval(0, 0, 0, {0})"),
    "to_milliseconds": (1, "make_dt_interval(0, 0, 0, {0} / 1000.0)"),
    "to_microseconds": (
        1, "make_dt_interval(0, 0, 0, {0} / 1000000.0)"
    ),
    # ---- r8 sweep gaps
    "sha256": (1, "sha2({0}, 256)"),
    # DuckDB signbit reads the IEEE sign bit: signbit(-0.0::DOUBLE) is
    # true even though -0.0 = 0 (the earlier probe used the decimal
    # literal -0.0 which is +0 — ADVICE r8 item 2). x < 0 covers every
    # nonzero case; the zero case recovers the sign from the string
    # render (Java Double.toString(-0.0) = '-0.0'; 1/x would be IEEE
    # -Infinity but ANSI-mode Spark refuses division by zero).
    "signbit": (
        1,
        "({0} < 0 OR ({0} = CAST(0 AS DOUBLE)"
        " AND CAST({0} AS STRING) LIKE '-%'))",
    ),
    "row_to_json": (1, "to_json({0})"),
    # LIKE-with-escape function spellings → the operator form
    "like_escape": (3, "({0} LIKE {1} ESCAPE {2})"),
    "not_like_escape": (3, "({0} NOT LIKE {1} ESCAPE {2})"),
    "ilike_escape": (3, "({0} ILIKE {1} ESCAPE {2})"),
    "not_ilike_escape": (3, "({0} NOT ILIKE {1} ESCAPE {2})"),
    # path helpers (probed: both / and \ separate; '' when the path
    # ends with a separator / has none)
    # (backslash depth: 4 in the SQL text → 2 after Spark literal
    # processing → an escaped backslash inside the regex class)
    "parse_filename": (
        None,
        lambda a: (
            f"regexp_extract({a[0]}, '([^/\\\\\\\\]*)$', 1)"
            if len(a) == 1
            or (len(a) == 2 and a[1].strip().lower() in ("false", "0"))
            else (
                f"regexp_replace(regexp_extract({a[0]}, "
                f"'([^/\\\\\\\\]*)$', 1), '\\\\.[^.]*$', '')"
                if len(a) == 2 and a[1].strip().lower() in ("true", "1")
                else None
            )
        ),
    ),
    "parse_dirpath": (
        1, "regexp_replace({0}, '[/\\\\\\\\]?[^/\\\\\\\\]*$', '')"
    ),
    # first non-NULL element; get() stays NULL-safe where ANSI
    # subscripts would raise on an empty/all-NULL list
    "list_any_value": (
        1, "get(filter({0}, __lav -> __lav IS NOT NULL), 0)"
    ),
    # truncate-or-pad to length n (2-arg pads NULL, 3-arg pads {2});
    # sequence(1, 0) would DESCEND in Spark, so n <= 0 short-circuits
    "list_resize": (
        None,
        lambda a: (
            None
            if len(a) not in (2, 3)
            else (
                f"(CASE WHEN ({a[1]}) <= 0 THEN slice({a[0]}, 1, 0) "
                f"ELSE transform(sequence(1, {a[1]}), __i -> "
                f"CASE WHEN __i <= size({a[0]}) THEN get({a[0]}, __i - 1)"
                + (f" ELSE {a[2]}" if len(a) == 3 else "")
                + " END) END)"
            )
        ),
    ),
    # session is pinned UTC: timezone offsets of any timestamp are 0
    # (2-arg timezone(tz, ts) lives in the r10 datetime batch above)
    "timezone_hour": (1, "CAST(0 AS BIGINT)"),
    "timezone_minute": (1, "CAST(0 AS BIGINT)"),
    # JSON aggregate constructors. collect_list drops NULLs, so values
    # ride inside a struct (structs are never NULL) and unwrap after —
    # DuckDB keeps nulls ('[1,null,2]', probed); map_from_entries keeps
    # key/value rows PAIRED (two independent collect_lists could
    # mis-align when one column has NULLs).
    "json_group_array": (
        1,
        "to_json(transform(collect_list(struct({0} AS v)), __s -> __s.v))",
    ),
    "json_group_object": (
        2,
        "to_json(map_from_entries(collect_list("
        "struct({0} AS key, {1} AS value))))",
    ),
    # ---- JSON constructors (named_struct keeps per-value types, which
    # array() would unify away). ignoreNullFields=false keeps NULL
    # values as JSON null like DuckDB (r10 sweep: json_object('a', 1,
    # 'b', NULL) = '{"a":1,"b":null}'); json_array serializes each
    # element separately so mixed types survive (Spark's array() would
    # coerce or reject them).
    "json_object": (
        None,
        lambda a: (
            "'{}'"
            if not a or a == [""]
            else (
                f"to_json(named_struct({', '.join(a)}),"
                " __map__('ignoreNullFields', 'false'))"
                if len(a) % 2 == 0
                else None
            )
        ),
    ),
    "json_array": (None, lambda a: _tpl_json_array(a)),
    # duck json_array_length: 0 for non-arrays (Spark: NULL), NULL in →
    # NULL out; marker head dodges the nary rescan loop
    "json_array_length": (
        1,
        "(CASE WHEN ({0}) IS NULL THEN NULL"
        " ELSE coalesce(__json_array_length__({0}), 0) END)",
    ),
    # duck from_json(j, spec) ≡ json_transform (same JSON type-spec).
    # A spec that is not a JSON structure literal (notably the Spark
    # DDL string this very template emits on its inner from_json) falls
    # through untouched — that also keeps the rescan loop terminating.
    "from_json": (2, lambda a: _tpl_from_json(a)),
    # text-result extraction with the same path normalization as
    # json_extract (bare keys, pointers, integer and negative indexes);
    # non-literal paths fall through to the get_json_object rename
    "json_extract_string": (
        2,
        lambda a: (
            None
            if (_n := _norm_json_path(a[1])) is None
            else (
                f"duck_json_extract_text({a[0]}, {a[1]})"
                if _n[1]
                else f"get_json_object({a[0]}, {_n[0]})"
            )
        ),
    ),
}


def _tpl_json_array(args: list[str]) -> str:
    if not args or args == [""]:
        return "'[]'"
    parts = []
    for x in args:
        if _is_null_lit(x):
            parts.append("'null'")
        else:
            j = (
                f"to_json(named_struct('v', {x}),"
                " __map__('ignoreNullFields', 'false'))"
            )
            # strip the {"v": ... } wrapper: 5 chars front, 1 back
            parts.append(f"substring({j}, 6, length({j}) - 6)")
    return "concat('[', concat_ws(',', " + ", ".join(parts) + "), ']')"

_NARY_CALL = re.compile(
    rf"(?<![\w.])({'|'.join(_NARY_REWRITES)})\s*\(", re.IGNORECASE
)


def _rewrite_nary_fns(sql: str) -> str:
    """Arity-matched call rewrites (innermost-first, same scheme as
    _rewrite_json_extract); other arities pass through untouched."""
    guard = 0
    skipped: set[int] = set()
    while guard < 200:
        guard += 1
        mask = _code_mask(sql)
        matches = [
            m
            for m in _NARY_CALL.finditer(sql)
            if all(mask[m.start() : m.end()]) and m.start() not in skipped
        ]
        if not matches:
            return sql
        m = matches[-1]
        depth, i = 1, m.end()
        while i < len(sql) and depth:
            if mask[i]:
                if sql[i] == "(":
                    depth += 1
                elif sql[i] == ")":
                    depth -= 1
            i += 1
        if depth:
            return sql
        nargs, template = _NARY_REWRITES[m.group(1).lower()]
        args = [a.strip() for a in split_top_level(sql[m.end() : i - 1])]
        if nargs is not None and len(args) != nargs:
            skipped.add(m.start())
            continue
        if callable(template):
            repl = template(args)
            if repl is None:
                skipped.add(m.start())
                continue
        else:
            repl = template.format(*args)
        sql = sql[: m.start()] + repl + sql[i:]
        skipped = {s for s in skipped if s < m.start()}
    return sql


_UNARY_REWRITES = {
    # list_reverse_sort(x) → sort_array(x, false): descending sort, the
    # only extra being Spark's explicit direction argument.
    "list_reverse_sort": "sort_array({e}, false)",
    # duck list_distinct/array_distinct REMOVE NULLs as well as dups
    # (probed; order is unspecified on both engines). array_union
    # dedups, array_compact drops NULLs; slice({e},1,0) is an empty
    # array of the right type. Emitted heads are not unary keys.
    "list_distinct": "array_compact(array_union({e}, slice({e}, 1, 0)))",
    "array_distinct": "array_compact(array_union({e}, slice({e}, 1, 0)))",
    # DuckDB list aggregates as unary spellings (same NULL-skipping
    # DOUBLE-widening forms as list_aggregate(x, 'fn'), so both agree)
    "list_sum": _LSUM_FORM,
    "list_avg": _LAVG_FORM,
    # r10: the full unary list-aggregate spelling family (each probed
    # to exist in DuckDB; semantics in _LIST_AGG_FORMS)
    "list_min": "array_min({e})",
    "list_max": "array_max({e})",
    "list_median": _LIST_AGG_FORMS["median"],
    "list_mode": _LIST_AGG_FORMS["mode"],
    "list_entropy": _LIST_AGG_FORMS["entropy"],
    "list_product": _LIST_AGG_FORMS["product"],
    "list_bool_and": _LIST_AGG_FORMS["bool_and"],
    "list_bool_or": _LIST_AGG_FORMS["bool_or"],
    "list_first": _LIST_AGG_FORMS["first"],
    "list_last": _LIST_AGG_FORMS["last"],
    "list_any_value": _LIST_AGG_FORMS["any_value"],
    "list_var_pop": _LIST_AGG_FORMS["var_pop"],
    "list_var_samp": _LIST_AGG_FORMS["var_samp"],
    "list_histogram": _LIST_AGG_FORMS["histogram"],
    "list_skewness": _LIST_AGG_FORMS["skewness"],
    "list_kurtosis": _LIST_AGG_FORMS["kurtosis"],
    "list_string_agg": (
        "array_join(transform(" + _LFNN + ", __x -> CAST(__x AS STRING)), ',')"
    ),
    # pops: empty/1-element lists give [] (probed); slice lengths clamp
    "array_pop_back": "slice({e}, 1, greatest(size({e}) - 1, 0))",
    "list_pop_back": "slice({e}, 1, greatest(size({e}) - 1, 0))",
    "array_pop_front": (
        "(CASE WHEN size({e}) <= 1 THEN slice({e}, 1, 0)"
        " ELSE slice({e}, 2, size({e}) - 1) END)"
    ),
    "list_pop_front": (
        "(CASE WHEN size({e}) <= 1 THEN slice({e}, 1, 0)"
        " ELSE slice({e}, 2, size({e}) - 1) END)"
    ),
    # list_unique: COUNT of distinct non-NULL elements (DuckDB semantics)
    "list_unique": "size(array_distinct(filter({e}, __x -> __x IS NOT NULL)))",
    "array_unique": "size(array_distinct(filter({e}, __x -> __x IS NOT NULL)))",
    "list_count": "size(filter({e}, __x -> __x IS NOT NULL))",
    # DuckDB flatten SKIPS NULL sublists (flatten([[1],NULL,[2]]) =
    # [1,2]); Spark's returns NULL. Marker head dodges the rescan loop.
    "flatten": "__flatten__(filter({e}, __fl -> __fl IS NOT NULL))",
    # DuckDB datetime spellings without a direct Spark twin
    "isodow": "(__native_weekday__({e}) + 1)",  # ISO Monday=1..Sunday=7
    "dayname": "date_format({e}, 'EEEE')",  # DuckDB returns FULL names
    "monthname": "date_format({e}, 'MMMM')",
    # float classification (no Spark builtins)
    "isinf": "(abs({e}) = double('Infinity'))",
    "isfinite": "(NOT isnan({e}) AND abs({e}) <> double('Infinity'))",
    # geometric mean: the log-space identity both engines compute
    "geomean": "exp(avg(ln({e})))",
    "geometric_mean": "exp(avg(ln({e})))",
    # favg/fsum: DuckDB's Kahan-compensated DOUBLE aggregates — the
    # cast matters (Spark's avg over a decimal literal keeps decimal
    # scale); compensation itself is an accumulator detail
    "favg": "avg(CAST({e} AS DOUBLE))",
    "fsum": "sum(CAST({e} AS DOUBLE))",
}

_UNARY_CALL = re.compile(
    rf"\b({'|'.join(_UNARY_REWRITES)})\s*\(", re.IGNORECASE
)


def _rewrite_unary_fns(sql: str) -> str:
    """DuckDB single-argument spellings whose Spark twin needs an extra
    argument (balanced-paren scan; nested calls fine)."""
    pos = 0
    while True:
        m = _UNARY_CALL.search(sql, pos)
        if m is None:
            return sql
        depth = 1
        i = m.end()
        while i < len(sql) and depth:
            c = sql[i]
            if c == "(":
                depth += 1
            elif c == ")":
                depth -= 1
                if depth == 0:
                    break
            elif c == "'":  # skip literal
                j = sql.find("'", i + 1)
                i = len(sql) if j == -1 else j
            i += 1
        if depth != 0:
            return sql  # unbalanced: leave for Spark to report
        e = sql[m.end() : i].strip()
        form = _UNARY_REWRITES[m.group(1).lower()]
        sql = sql[: m.start()] + form.format(e=e) + sql[i + 1 :]
        pos = m.start()  # re-scan: e may contain rewritable calls


_DISTINCT_ON = re.compile(
    r"^\s*SELECT\s+DISTINCT\s+ON\s*\(([^)]*)\)\s*(.*?)\s*FROM\s+(.*)$",
    re.IGNORECASE | re.DOTALL,
)


def _rewrite_distinct_on(sql: str) -> str:
    """SELECT DISTINCT ON (k) cols FROM rest [ORDER BY o] [LIMIT/OFFSET] →
    window row_number per k, ordered by o (or k), filtered to 1.
    Matches DuckDB/PG semantics: first row per key group, output ordered
    by o (PG guarantees the ORDER BY ordering of DISTINCT ON results —
    it is re-appended to the outer query, where it can still see every
    source column because the subquery projects ``*``). ORDER BY is
    located with the top-level keyword scanner, so ORDER BYs inside
    subqueries/parens are never mistaken for the outer clause."""
    m = _DISTINCT_ON.match(sql)
    if not m:
        return sql
    keys, cols, rest = m.group(1), m.group(2), m.group(3)
    k, kend = _find_keyword_span(rest, "ORDER BY")
    if k != -1:
        src, order_tail = rest[:k], rest[kend:]
        # LIMIT/OFFSET after ORDER BY belong to the outer query too
        t = len(order_tail)
        for kw in ("LIMIT", "OFFSET"):
            p = _find_keyword(order_tail, kw)
            if p != -1:
                t = min(t, p)
        order, tail = order_tail[:t].strip(), order_tail[t:].strip()
        outer_order = f" ORDER BY {order}"
    else:
        src, order, tail, outer_order = rest, keys, "", ""
        # LIMIT/OFFSET may appear with no ORDER BY at all
        t = len(src)
        for kw in ("LIMIT", "OFFSET"):
            p = _find_keyword(src, kw)
            if p != -1:
                t = min(t, p)
        src, tail = src[:t], src[t:].strip()
        order = keys
    out = (
        f"SELECT {cols} FROM ("
        f"SELECT *, row_number() OVER (PARTITION BY {keys} ORDER BY {order}) AS __don_rn "
        f"FROM {src}) WHERE __don_rn = 1{outer_order}"
    )
    return f"{out} {tail}" if tail else out


def _scan_top_level(sql: str):
    """Yield (index, char) for characters at paren AND bracket depth 0
    outside string literals — the positions where clause keywords and
    argument separators live (brackets count since r14: a comma inside
    a ``[1,2]`` list literal must not split printf/format args)."""
    depth = 0
    for is_lit, seg_start, seg in _segments_with_offsets(sql):
        if is_lit:
            continue
        for k, c in enumerate(seg):
            if c in "([":
                depth += 1
            elif c in ")]":
                depth -= 1
            elif depth == 0:
                yield seg_start + k, c


def _segments_with_offsets(sql: str):
    off = 0
    for is_lit, seg in _split_quoted(sql):
        yield is_lit, off, seg
        off += len(seg)


def _find_keyword_span(
    sql: str, word: str, start: int = 0
) -> tuple[int, int]:
    """(start, end) of a top-level, word-boundary keyword occurrence;
    (-1, -1) if none. Multi-word keywords match across any whitespace
    run (``ORDER  BY``, ``ORDER\\nBY``)."""
    pos_set = {i for i, _ in _scan_top_level(sql)}
    pat = re.compile(
        r"\b" + r"\s+".join(re.escape(w) for w in word.split()) + r"\b",
        re.IGNORECASE,
    )
    for m in pat.finditer(sql, start):
        if all(j in pos_set for j in range(m.start(), m.end())):
            return m.start(), m.end()
    return -1, -1


def _find_keyword(sql: str, word: str, start: int = 0) -> int:
    """Index of a top-level, word-boundary keyword occurrence; -1 if none."""
    return _find_keyword_span(sql, word, start)[0]


def _extract_window_exprs(pred: str) -> list[tuple[int, int]]:
    """(start, end) spans of `fn(args) OVER (spec)` expressions in pred,
    found with balanced-paren scanning (regex can't nest)."""
    spans = []
    upper = pred.upper()
    i = 0
    while True:
        o = upper.find("OVER", i)
        if o == -1:
            return spans
        # right: the OVER (...) parens
        j = o + 4
        while j < len(pred) and pred[j].isspace():
            j += 1
        if j >= len(pred) or pred[j] != "(":
            i = o + 4
            continue
        depth = 0
        end = j
        while end < len(pred):
            if pred[end] == "(":
                depth += 1
            elif pred[end] == ")":
                depth -= 1
                if depth == 0:
                    break
            end += 1
        # left: walk back over whitespace, then the call's balanced parens,
        # then the function name
        k = o - 1
        while k >= 0 and pred[k].isspace():
            k -= 1
        if k < 0 or pred[k] != ")":
            i = end + 1
            continue
        depth = 0
        start = k
        while start >= 0:
            if pred[start] == ")":
                depth += 1
            elif pred[start] == "(":
                depth -= 1
                if depth == 0:
                    break
            start -= 1
        while start - 1 >= 0 and (pred[start - 1].isalnum() or pred[start - 1] == "_"):
            start -= 1
        spans.append((start, end + 1))
        i = end + 1


# ------------------------------------------- window frame EXCLUDE / GROUPS

_EXCLUDE_CLAUSE = re.compile(
    r"\s*\bEXCLUDE\s+(CURRENT\s+ROW|GROUP|TIES|NO\s+OTHERS)\b", re.IGNORECASE
)
_GROUPS_FRAME = re.compile(
    r"\bGROUPS\s+(?:BETWEEN\b|UNBOUNDED\b|CURRENT\b|\d)", re.IGNORECASE
)
_FRAME_CLAUSE = re.compile(r"\b(ROWS|RANGE)\b", re.IGNORECASE)
_FRAME_BOUNDS = re.compile(
    r"^\s*(?:BETWEEN\s+(UNBOUNDED\s+PRECEDING|\S+\s+PRECEDING|CURRENT\s+ROW)"
    r"\s+AND\s+(CURRENT\s+ROW|\S+\s+FOLLOWING|UNBOUNDED\s+FOLLOWING)"
    r"|(UNBOUNDED\s+PRECEDING|\S+\s+PRECEDING|CURRENT\s+ROW))\s*$",
    re.IGNORECASE,
)


def _rewrite_window_exclude(sql: str) -> str:
    """DuckDB window frame ``EXCLUDE`` (supported there; Spark has no
    equivalent) and ``GROUPS`` frame mode (NOT supported by DuckDB
    v1.1 either — probed: "Parser Error: GROUPS mode for window
    functions is not implemented yet" — so parity is the same loud
    parser refusal, not an implementation).

    EXCLUDE rewrites to frame-aggregate subtraction for the
    DECOMPOSABLE aggregates sum/count/avg:

      S(frame) - S(excluded),  guarded by the excluded-adjusted count
      so an empty post-exclusion frame yields NULL like DuckDB.

    The excluded set is CURRENT ROW / the peer GROUP / TIES
    (peers minus the current row); peer totals come from a second
    window over the same partition+order with frame
    ``RANGE BETWEEN CURRENT ROW AND CURRENT ROW`` (exactly the peer
    group). Correct only when every excluded row is inside the frame,
    so: EXCLUDE CURRENT ROW requires a frame containing the current
    row (start ≤ CURRENT ROW ≤ end — validated); EXCLUDE GROUP/TIES
    additionally require RANGE mode (a RANGE frame containing the
    current row contains ALL its peers; a ROWS frame can cut the peer
    group, where subtraction would be silently wrong → loud refusal).
    Non-decomposable aggregates (min/max/...) refuse loudly.
    """
    if not re.search(r"\bEXCLUDE\b|\bGROUPS\b", sql, re.IGNORECASE):
        return sql
    mask = _code_mask(sql)
    # GROUPS is an unreserved word (a column named `groups` is legal) —
    # the refusal only applies INSIDE a window spec: an OVER (...) body
    # or a named WINDOW w AS (...) body (code review r7).
    win_spans = []
    for wm in re.finditer(
        r"\b(?:OVER|WINDOW\s+\w+\s+AS)\s*\(", sql, re.IGNORECASE
    ):
        if not all(mask[wm.start() : wm.end()]):
            continue
        depth, j = 1, wm.end()
        while j < len(sql) and depth:
            if mask[j]:
                if sql[j] == "(":
                    depth += 1
                elif sql[j] == ")":
                    depth -= 1
            j += 1
        win_spans.append((wm.end(), j))
    for g in _GROUPS_FRAME.finditer(sql):
        if all(mask[g.start() : g.end()]) and any(
            s <= g.start() < e for s, e in win_spans
        ):
            raise ValueError(
                "GROUPS mode for window functions is not implemented yet"
            )
    guard = 0
    while guard < 50:
        guard += 1
        mask = _code_mask(sql)
        target = None
        for start, end in _extract_window_exprs(sql):
            seg = sql[start:end]
            em = _EXCLUDE_CLAUSE.search(seg)
            if em and all(mask[start + em.start() : start + em.end()]):
                target = (start, end, em)
                break
        if target is None:
            return sql
        start, end, em = target
        seg = sql[start:end]
        kind = re.sub(r"\s+", " ", em.group(1).upper())
        # split `fn(args) OVER (spec)`
        fm = re.match(r"^(\w+)\s*\(", seg)
        if not fm:
            raise ValueError(f"cannot parse window call for EXCLUDE: {seg!r}")
        fn = fm.group(1)
        depth, i = 0, fm.end() - 1
        while i < len(seg):
            if seg[i] == "(":
                depth += 1
            elif seg[i] == ")":
                depth -= 1
                if depth == 0:
                    break
            i += 1
        args = seg[fm.end() : i]
        ospec = seg[i + 1 :]
        om = re.match(r"\s*OVER\s*\(", ospec, re.IGNORECASE)
        spec = ospec[om.end() : -1]
        spec_wo = _EXCLUDE_CLAUSE.sub(" ", spec).strip()
        if kind == "NO OTHERS":  # standard no-op spelling
            sql = sql[:start] + f"{fn}({args}) OVER ({spec_wo})" + sql[end:]
            continue
        fnl = fn.lower()
        if fnl not in ("sum", "count", "avg"):
            raise ValueError(
                f"window EXCLUDE with {fn}() is not supported (only the "
                "decomposable aggregates sum/count/avg can subtract the "
                "excluded rows)"
            )
        arg = args.strip()
        star = arg == "*"
        if star and fnl != "count":
            raise ValueError(f"{fn}(*) is not a valid window aggregate")
        frm = _FRAME_CLAUSE.search(spec_wo)
        if frm:
            fmode = frm.group(1).upper()
            bounds = spec_wo[frm.end() :].strip()
            spec_po = spec_wo[: frm.start()].strip()
            if not _FRAME_BOUNDS.match(bounds):
                raise ValueError(
                    f"window EXCLUDE: frame {bounds!r} may not contain "
                    "the current row — the subtraction rewrite would be "
                    "wrong; only frames spanning the current row are "
                    "supported"
                )
        else:
            # frame_exclusion is grammatically part of the frame clause
            # (DuckDB probe: OVER (ORDER BY k EXCLUDE GROUP) is a
            # Parser Error) — match, don't extend the grammar
            raise ValueError(
                'syntax error at or near "EXCLUDE" (a window frame '
                "clause is required before EXCLUDE)"
            )
        if kind in ("GROUP", "TIES") and fmode == "ROWS":
            raise ValueError(
                f"window EXCLUDE {kind} with a ROWS frame is not "
                "supported: a ROWS frame can cut the peer group, so the "
                "peer-subtraction rewrite would be silently wrong (use a "
                "RANGE frame)"
            )
        over_f = f"OVER ({spec_wo})"
        over_p = f"OVER ({spec_po} RANGE BETWEEN CURRENT ROW AND CURRENT ROW)"
        cnt_arg = "*" if star else arg
        S = f"sum({arg}) {over_f}" if not star else None
        Cn = f"count({cnt_arg}) {over_f}"
        if star:
            xnn = "1"
        else:
            xnn = f"(CASE WHEN ({arg}) IS NULL THEN 0 ELSE 1 END)"
        if kind == "CURRENT ROW":
            excl_sum = f"COALESCE({arg}, 0)" if not star else None
            excl_cnt = xnn
        else:
            PS = f"sum({arg}) {over_p}" if not star else None
            PC = f"count({cnt_arg}) {over_p}"
            if kind == "GROUP":
                excl_sum = f"COALESCE({PS}, 0)" if not star else None
                excl_cnt = PC
            else:  # TIES: peers minus the current row itself
                excl_sum = (
                    f"(COALESCE({PS}, 0) - COALESCE({arg}, 0))"
                    if not star
                    else None
                )
                excl_cnt = f"({PC} - {xnn})"
        rem = f"({Cn} - {excl_cnt})"
        if fnl == "count":
            repl = rem
        elif fnl == "sum":
            repl = (
                f"(CASE WHEN {rem} = 0 THEN NULL "
                f"ELSE ({S} - {excl_sum}) END)"
            )
        else:  # avg
            repl = (
                f"(CASE WHEN {rem} = 0 THEN NULL "
                f"ELSE ({S} - {excl_sum}) / {rem} END)"
            )
        sql = sql[:start] + repl + sql[end:]
    return sql


_ASOF_CLAUSE_END = (
    "WHERE",
    "GROUP",
    "HAVING",
    "WINDOW",
    "QUALIFY",
    "ORDER",
    "LIMIT",
    "OFFSET",
    "UNION",
    "INTERSECT",
    "EXCEPT",
    "JOIN",
    "LEFT",
    "RIGHT",
    "FULL",
    "INNER",
    "CROSS",
    "ASOF",
    "SEMI",
    "ANTI",
)

_ASOF_INEQ = re.compile(r"(<=|>=|<(?![=>])|>(?!=))")


def _rewrite_asof_join(sql: str) -> str:
    """DuckDB ``a ASOF [LEFT] JOIN b [AS] al ON eq-keys AND a.ts >= b.ts``
    → Spark correlated LATERAL subquery with ``ORDER BY b.ts <dir> LIMIT 1``
    (reference-reachable syntax: DuckDB v1.1.1 parses ASOF JOIN through
    ``src/duckdb_pgwire_extension.cpp:52``; Spark SQL has no ASOF).

    Catalyst decorrelates the limit-1 into a WindowGroupLimit — the
    pick-latest-match is computed per key group, not per probe row. The
    ASOF inequality (the single non-equality conjunct) gives the sort
    key and direction: probe >= build → latest earlier match (DESC),
    probe <= build → earliest later match (ASC). Conditions we can't
    confidently parse (zero or multiple inequalities, USING form, unaliased
    operands) pass through untouched and fail loudly in Spark's parser
    per the shim policy. The DataFrame recipe (operators/joins.py
    join_asof) remains the one-shuffle scale path; this shim is dialect
    parity for wire clients."""
    guard = 0
    while guard < 8:
        guard += 1
        a = _find_keyword(sql, "ASOF")
        if a == -1:
            return sql
        rest = sql[a + 4 :]
        m = re.match(r"\s+(LEFT\s+(OUTER\s+)?)?JOIN\b", rest, re.IGNORECASE)
        if not m:
            return sql
        is_left = bool(m.group(1))
        pos = a + 4 + m.end()
        # --- table ref: identifier chain or parenthesized subquery
        ref_m = re.match(r"\s*(\(|[A-Za-z_][\w.]*)", sql[pos:])
        if not ref_m:
            return sql
        if ref_m.group(1) == "(":
            depth, j = 0, pos + ref_m.start(1)
            while j < len(sql):
                if sql[j] == "(":
                    depth += 1
                elif sql[j] == ")":
                    depth -= 1
                    if depth == 0:
                        break
                j += 1
            ref = sql[pos + ref_m.start(1) : j + 1]
            pos = j + 1
        else:
            ref = ref_m.group(1)
            pos += ref_m.end(1)
        # --- optional [AS] alias (stop at ON)
        alias = ref.split(".")[-1] if not ref.startswith("(") else None
        al_m = re.match(r"\s+(?:AS\s+)?([A-Za-z_]\w*)", sql[pos:], re.IGNORECASE)
        if al_m and al_m.group(1).upper() != "ON":
            alias = al_m.group(1)
            pos += al_m.end()
        if alias is None:
            return sql  # subquery with no alias: un-referenceable, bail
        on_m = re.match(r"\s+ON\b", sql[pos:], re.IGNORECASE)
        if not on_m:
            return sql  # USING form not supported — fail loudly downstream
        cond_start = pos + on_m.end()
        # --- condition runs to the next top-level clause keyword
        tail = sql[cond_start:]
        end = len(tail)
        for kw in _ASOF_CLAUSE_END:
            k = _find_keyword(tail, kw)
            if k != -1:
                end = min(end, k)
        cond = tail[:end].strip()
        # --- the single inequality conjunct defines sort key + direction
        conjs = [c.strip() for c in re.split(r"\bAND\b", cond, flags=re.IGNORECASE)]
        ineqs = [c for c in conjs if _ASOF_INEQ.search(c)]
        if len(ineqs) != 1:
            return sql
        op_m = _ASOF_INEQ.search(ineqs[0])
        lhs, rhs = ineqs[0][: op_m.start()].strip(), ineqs[0][op_m.end() :].strip()
        op = op_m.group(1)
        pat = re.compile(rf"(?<![\w.]){re.escape(alias)}\.", re.IGNORECASE)
        in_lhs, in_rhs = bool(pat.search(lhs)), bool(pat.search(rhs))
        if in_lhs == in_rhs:
            return sql  # can't tell which operand is the build side
        sort_expr = lhs if in_lhs else rhs
        # probe-side-relative operator: probe >= build → look back (DESC)
        probe_op = {">": ">", ">=": ">=", "<": "<", "<=": "<="}[op]
        if in_lhs:  # build on the left: flip
            probe_op = {">": "<", ">=": "<=", "<": ">", "<=": ">="}[op]
        direction = "DESC" if probe_op in (">", ">=") else "ASC"
        from_clause = f"{ref} AS {alias}"
        join_kw = "LEFT JOIN LATERAL" if is_left else "JOIN LATERAL"
        lateral = (
            f"{join_kw} (SELECT * FROM {from_clause} WHERE {cond} "
            f"ORDER BY {sort_expr} {direction} LIMIT 1) AS {alias} ON TRUE"
        )
        sql = sql[:a] + lateral + " " + tail[end:]
    return sql


def _rewrite_qualify(sql: str) -> str:
    """DuckDB ``... QUALIFY pred [ORDER BY ...] [LIMIT ...]`` →
    subquery + WHERE (Spark has no QUALIFY). Window expressions inline
    in pred are hoisted into hidden select columns."""
    q = _find_keyword(sql, "QUALIFY")
    if q == -1:
        return sql
    head = sql[:q].rstrip()
    rest = sql[q + len("QUALIFY") :]
    # trailing clauses that must move to the OUTER query
    tail_idx = len(rest)
    for kw in ("ORDER BY", "LIMIT", "OFFSET"):
        k = _find_keyword(rest, kw)
        if k != -1:
            tail_idx = min(tail_idx, k)
    pred, tail = rest[:tail_idx].strip(), rest[tail_idx:].strip()
    spans = _extract_window_exprs(pred)
    hidden: list[str] = []
    if spans:
        new_pred = []
        last = 0
        for n, (s, e) in enumerate(spans):
            hidden.append(f"{pred[s:e]} AS __qw{n}")
            new_pred.append(pred[last:s])
            new_pred.append(f"__qw{n}")
            last = e
        new_pred.append(pred[last:])
        pred = "".join(new_pred)
        # inject hidden columns into the SELECT list (before top-level FROM)
        f = _find_keyword(head, "FROM")
        head = head[:f].rstrip() + ", " + ", ".join(hidden) + " " + head[f:]
        outer = "* EXCEPT (" + ", ".join(f"__qw{n}" for n in range(len(spans))) + ")"
    else:
        outer = "*"
    out = f"SELECT {outer} FROM ({head}) WHERE {pred}"
    return f"{out} {tail}" if tail else out


_COPY_FROM_OPERAND = re.compile(
    r"\s*COPY\s+[\w.\"]+\s*(?:\([^()]*\))?\s+(FROM)\s+'[^']+'",
    re.IGNORECASE,
)


def copy_from_operand_span(sql: str) -> tuple[int, int] | None:
    """Span of the FROM keyword of a ``COPY <tbl> FROM 'path'`` load —
    the one quoted-path operand bare-path rewrites must NOT touch
    (shared by the parquet/json rewrite here and the CSV substitution
    in app.py, so the skip rules cannot drift apart)."""
    m = _COPY_FROM_OPERAND.match(sql)
    return m.span(1) if m else None


_READ_FILE = re.compile(
    r"\bread_(parquet|json_auto|json)\s*\(\s*'([^']+)'\s*\)", re.IGNORECASE
)


def _rewrite_read_files(sql: str) -> str:
    """DuckDB ``read_parquet('p')`` / ``read_json[_auto]('p')`` →
    Spark's ``parquet.`p`` / ``json.`p`` direct-file relations (the
    reference's primary data-access idiom — DuckDB over files).
    ``read_csv[_auto]`` and bare '.csv' paths are handled UPSTREAM by
    the session-aware sniffing substitution (app._substitute_csv_
    relations + csv_sniff.py) — they need dialect detection, which a
    textual rewrite cannot do."""

    def sub(m: re.Match) -> str:
        fmt = "parquet" if m.group(1).lower() == "parquet" else "json"
        return f"{fmt}.`{m.group(2)}`"

    sql = _READ_FILE.sub(sub, sql)
    # DuckDB's bare-path idiom: FROM 'x.parquet' / JOIN 'y.json' (the
    # quoted file IS the relation). Only after a code-level FROM/JOIN —
    # a path string anywhere else is data. CSV stays unmapped (DuckDB
    # sniffs headers, Spark's csv.`p` does not — silent column shift).
    if ".parquet'" in sql or ".json'" in sql:
        mask = _code_mask(sql)
        # COPY t FROM 'path' keeps its raw path for the COPY parser —
        # but ONLY that operand: bare paths inside a parenthesized
        # source query (COPY (SELECT * FROM 'x.parquet') TO 'out') are
        # ordinary relations and still rewrite (ADVICE r7 item 3).
        skip = copy_from_operand_span(sql)

        def sub_bare(m: re.Match) -> str:
            if not all(mask[m.start(1) : m.end(1)]):
                return m.group(0)
            if skip and m.start(1) == skip[0]:
                return m.group(0)
            fmt = "parquet" if m.group(3).lower() == "parquet" else "json"
            return f"{m.group(1)}{fmt}.`{m.group(2)}`"

        sql = re.sub(
            r"(\b(?:FROM|JOIN)\s+)'([^']+\.(parquet|json))'",
            sub_bare,
            sql,
            flags=re.IGNORECASE,
        )
    return sql


# ---------------------------------------------------------------- macros
# DuckDB ``CREATE [OR REPLACE] MACRO f(a, b := 10) AS expr`` (scalar
# macros; reachable through the reference's cpp:52 delegation). Spark
# has no SQL macros, so calls are expanded TEXTUALLY before the dialect
# pre-pass — the same inlining DuckDB's binder performs. The registry is
# module-scope because DuckDB macros are catalog-scope (one embedded
# catalog per process; the server shares one SparkSession the same way).
# ------------------------------------------------------------- sequences
# DuckDB supports CREATE SEQUENCE / nextval / currval through the
# reference's cpp:52 delegation. State is server-process scope (like
# MACROS — the reference's DuckDB instance is per-process too). Golden
# semantics (probed): nextval advances PER OCCURRENCE within one row
# and PER ROW over a row set; the row-set form is refused loudly here
# (textual substitution can't allocate per executor row), the literal
# forms — every ORM idiom — are exact.

SEQUENCES: dict[str, dict] = {}  # name -> {"next": int, "inc": int, "cur": int|None}
_SEQ_LOCK = CATALOG_LOCK  # shared with catalog_persist's snapshot

SEQ_DDL_RE = re.compile(
    r"^\s*CREATE\s+SEQUENCE\s+(IF\s+NOT\s+EXISTS\s+)?([\w.]+)(.*)$",
    re.IGNORECASE | re.DOTALL,
)
SEQ_DROP_RE = re.compile(
    r"^\s*DROP\s+SEQUENCE\s+(IF\s+EXISTS\s+)?([\w.]+)\s*;?\s*$", re.IGNORECASE
)
_SEQ_START_RE = re.compile(r"\bSTART\s+(?:WITH\s+)?(-?\d+)", re.IGNORECASE)
_SEQ_INC_RE = re.compile(r"\bINCREMENT\s+(?:BY\s+)?(-?\d+)", re.IGNORECASE)
_SEQ_FN_RE = re.compile(
    r"(?<![\w.])(nextval|currval)\s*\(\s*'([\w.]+)'\s*\)", re.IGNORECASE
)


def define_sequence(name: str, options: str, if_not_exists: bool) -> None:
    key = name.lower()
    with _SEQ_LOCK:
        if key in SEQUENCES:
            if if_not_exists:
                return
            raise ValueError(f"sequence {name!r} already exists")
        sm = _SEQ_START_RE.search(options or "")
        im = _SEQ_INC_RE.search(options or "")
        SEQUENCES[key] = {
            "next": int(sm.group(1)) if sm else 1,
            "inc": int(im.group(1)) if im else 1,
            "cur": None,
        }
    catalog_changed()


def drop_sequence(name: str, if_exists: bool) -> None:
    with CATALOG_LOCK:
        if SEQUENCES.pop(name.lower(), None) is None and not if_exists:
            raise ValueError(f"sequence {name!r} does not exist")
    catalog_changed()


def _reserve_seq_blocks(occs: list, n: int) -> list[tuple[int, int]]:
    """One disjoint block of n values PER OCCURRENCE (verdict r7 item
    8): DuckDB's vectorized executor evaluates each nextval expression
    over the whole chunk in turn, so within a chunk occurrence j of
    sequence s yields s.base + (j*n + row)*inc — per-occurrence blocks
    reproduce that value layout exactly for a single chunk; across
    chunk boundaries neither engine guarantees row assignment. Returns
    (base, inc) per occurrence; the first occurrence of each sequence
    reserves ALL its blocks at once so interleaved sequences stay
    dense."""
    seq_occ_ord: dict[str, int] = {}
    blk_base: dict[str, int] = {}
    out: list[tuple[int, int]] = []
    for m in occs:
        name = m.group(2).lower()
        j = seq_occ_ord.get(name, 0)
        seq_occ_ord[name] = j + 1
        seq = SEQUENCES[name]
        with _SEQ_LOCK:
            if j == 0:
                total = sum(
                    1 for o in occs if o.group(2).lower() == name
                ) * n
                blk_base[name] = seq["next"]
                if total > 0:
                    seq["next"] = blk_base[name] + total * seq["inc"]
                    seq["cur"] = seq["next"] - seq["inc"]
            out.append((blk_base[name] + j * n * seq["inc"], seq["inc"]))
    if occs and n > 0:
        catalog_changed()
    return out


def _substitute_update_nextval(sql: str, occs: list, count_rows) -> str:
    """nextval in a single-table ``UPDATE t SET ... [WHERE p]`` (r8
    verdict item 6): reserve one block sized by the qualifying-row
    count, then number qualifying rows in scan order with a
    conditional running count (the SET expression is evaluated inside
    ``CASE WHEN p`` over the full table, so a plain row_number would
    number non-qualifying rows too). UPDATE ... FROM and occurrences
    outside the SET clause keep the loud refusal."""
    if _find_keyword(sql, "FROM") != -1:
        raise ValueError(
            "nextval in UPDATE ... FROM is not supported — the "
            "block-reservation rewrite needs the single-table shape"
        )
    um = re.match(
        r"^\s*UPDATE\s+(?:ONLY\s+)?([\w.\"]+)"
        r"(\s+(?:AS\s+)?(?!SET\b)[A-Za-z_]\w*)?\s+SET\b",
        sql,
        re.IGNORECASE,
    )
    if um is None:
        raise ValueError("nextval: unparseable UPDATE statement")
    # keep the alias in the probe so an aliased predicate resolves
    # (UPDATE t AS x SET ... WHERE x.b = ... — code review r9)
    table = um.group(1) + (um.group(2) or "")
    wstart, wend = _find_keyword_span(sql, "WHERE")
    rstart = _find_keyword(sql, "RETURNING")
    set_end = min(x for x in (wstart, rstart, len(sql)) if x != -1)
    if any(m.start() >= set_end for m in occs):
        raise ValueError(
            "nextval is only supported in the SET clause of UPDATE "
            "(a WHERE/RETURNING occurrence is row-dependent in a way "
            "the block-reservation rewrite can't reproduce)"
        )
    pred = None
    if wstart != -1:
        pred_end = rstart if rstart != -1 else len(sql)
        pred = sql[wend:pred_end].rstrip().rstrip(";").strip()
    probe = f"SELECT count(*) FROM {table}" + (
        f" WHERE {pred}" if pred else ""
    )
    n = int(count_rows(probe))
    if pred:
        idx = (
            f"(sum(CASE WHEN ({pred}) THEN 1 ELSE 0 END) OVER (ORDER BY"
            f" monotonically_increasing_id() ROWS BETWEEN UNBOUNDED"
            f" PRECEDING AND CURRENT ROW) - 1)"
        )
    else:
        idx = "(row_number() OVER (ORDER BY monotonically_increasing_id()) - 1)"
    repls = [
        f"({idx} * {inc} + {base})"
        for base, inc in _reserve_seq_blocks(occs, n)
    ]
    out_parts, opos = [], 0
    for m, repl in zip(occs, repls):
        out_parts.append(sql[opos : m.start()])
        out_parts.append(repl)
        opos = m.end()
    out_parts.append(sql[opos:])
    return "".join(out_parts)


def substitute_sequence_fns(sql: str, count_rows=None) -> str:
    """Replace each code-level nextval('s')/currval('s') occurrence with
    its allocated integer literal.

    Per-ROW contexts (a statement with a top-level FROM) advance the
    sequence once per row in DuckDB, so a single substituted literal
    would be silently wrong. There, the bulk-key-assignment shape —
    ONE nextval in a SELECT / INSERT…SELECT — is handled by block
    reservation: ``count_rows`` (server-provided; runs the source query
    wrapped in count(*)) sizes a block [base, base+n·inc), the sequence
    advances by n up front (sequences are non-transactional, like PG:
    a failed statement leaves a gap), and the occurrence rewrites to
    ``(row_number() OVER (ORDER BY monotonically_increasing_id()) - 1)
    * inc + base`` — the same VALUE SET DuckDB allocates; which row
    gets which value follows scan order in both engines, neither
    guarantees it. currval does not advance, so in per-row contexts it
    substitutes as a constant exactly. Everything else (multiple
    per-row nextvals, nextval+currval interleavings, UPDATE/DELETE/
    MERGE row contexts) refuses loudly."""
    if not _SEQ_FN_RE.search(sql):
        return sql
    # scan the FULL string: the quoted sequence name lives in a literal
    # lexer segment, so only the function-name token is mask-checked
    mask = _code_mask(sql)
    first = sql.lstrip().split(None, 1)[0].upper() if sql.strip() else ""
    # per-ROW contexts: any statement evaluating over existing rows
    # (UPDATE/DELETE/MERGE always; anything with a top-level FROM).
    per_row = first in ("UPDATE", "DELETE", "MERGE") or (
        _find_keyword(sql, "FROM") != -1
    )
    occs = [
        m for m in _SEQ_FN_RE.finditer(sql)
        if all(mask[m.start(1) : m.end(1)])
    ]
    for m in occs:
        if SEQUENCES.get(m.group(2).lower()) is None:
            raise ValueError(f"sequence {m.group(2)!r} does not exist")
    n_next = sum(1 for m in occs if m.group(1).lower() == "nextval")
    if per_row and n_next:
        if first == "MERGE" and n_next == len(occs):
            # r10: deferred to merge_into, which owns the arm
            # predicates and per-arm row counts the block reservation
            # needs (one sequence per arm; predicates refuse there)
            return sql
        if (
            first == "UPDATE"
            and count_rows is not None
            and n_next == len(occs)
        ):
            return _substitute_update_nextval(sql, occs, count_rows)
        if (
            count_rows is None
            or first not in ("SELECT", "WITH", "INSERT")
            or n_next != len(occs)
        ):
            raise ValueError(
                "nextval in a per-row context is only supported in "
                "SELECT / INSERT ... SELECT / single-table UPDATE "
                "without interleaved currval (DuckDB advances the "
                "sequence per row; the block-reservation rewrite can't "
                "track a row-dependent currval or DELETE/MERGE row "
                "contexts)"
            )
        src = sql
        if first == "INSERT":
            im = re.match(
                r"^\s*INSERT\s+(?:OR\s+\w+\s+)?INTO\s+[\w.]+\s*"
                r"(?:\([^()]*\))?\s*(.*)$",
                sql,
                re.IGNORECASE | re.DOTALL,
            )
            src = im.group(1) if im else ""
            if not re.match(r"^\s*(SELECT|WITH)\b", src, re.IGNORECASE):
                raise ValueError(
                    "nextval in a per-row context is only supported in "
                    "SELECT / INSERT ... SELECT"
                )
        # clauses applied AFTER the SELECT list evaluates break the
        # reservation: the row_number window runs over the pre-LIMIT/
        # pre-DISTINCT/pre-setop/pre-QUALIFY row set while the count
        # probe counts FINAL rows, so emitted values would fall outside
        # the reserved block and later allocations would collide (code
        # review r7; QUALIFY per ADVICE r7 — the QUALIFY rewrite filters
        # AFTER this substitution numbered every source row).
        # GROUP BY/HAVING are fine — window and probe both see
        # post-group rows.
        bad = [
            kw for kw in (
                "LIMIT", "OFFSET", "UNION", "INTERSECT", "EXCEPT", "QUALIFY",
            )
            if _find_keyword(src, kw) != -1
        ]
        if re.match(r"^\s*SELECT\s+DISTINCT\b", src, re.IGNORECASE):
            bad.append("DISTINCT")
        if bad:
            raise ValueError(
                "nextval in a per-row context with "
                + "/".join(bad)
                + " is not supported — the block-reservation rewrite "
                "numbers rows before that clause applies, so allocated "
                "values would escape the reserved range"
            )
        off = len(sql) - len(src)
        # probe with EVERY occurrence nulled so the count is occurrence-free
        parts, ppos = [], 0
        for m in occs:
            parts.append(src[ppos : m.start() - off])
            parts.append("NULL")
            ppos = m.end() - off
        parts.append(src[ppos:])
        probe = "".join(parts)
        n = int(
            count_rows(
                f"SELECT count(*) FROM ({probe.rstrip().rstrip(';')}) __seq_n"
            )
        )
        # One disjoint block of n values PER OCCURRENCE (verdict r7 item
        # 8): DuckDB's vectorized executor evaluates each nextval
        # expression over the whole chunk in turn, so within a chunk
        # occurrence j of sequence s yields s.base + (j*n + row)*inc —
        # per-occurrence blocks reproduce that value layout exactly for
        # a single chunk; across chunk boundaries neither engine
        # guarantees row assignment (same caveat as the 1-occurrence
        # shape above).
        repls = [
            f"((row_number() OVER (ORDER BY"
            f" monotonically_increasing_id()) - 1) * {inc} + {base})"
            for base, inc in _reserve_seq_blocks(occs, n)
        ]
        out_parts, opos = [], 0
        for m, repl in zip(occs, repls):
            out_parts.append(sql[opos : m.start()])
            out_parts.append(repl)
            opos = m.end()
        out_parts.append(sql[opos:])
        return "".join(out_parts)
    out: list[str] = []
    pos = 0
    for m in occs:
        fn, name = m.group(1).lower(), m.group(2).lower()
        seq = SEQUENCES[name]
        with _SEQ_LOCK:
            if fn == "nextval":
                v = seq["next"]
                seq["cur"] = v
                seq["next"] = v + seq["inc"]
            else:
                if seq["cur"] is None:
                    raise ValueError(
                        f"currval: sequence {name!r} has not been used yet"
                    )
                v = seq["cur"]
        out.append(sql[pos : m.start()])
        out.append(str(v))
        pos = m.end()
    out.append(sql[pos:])
    if any(m.group(1).lower() == "nextval" for m in occs):
        catalog_changed()  # sequence counters advanced — persist
    return "".join(out)


# ---------------------------------------------------------- SQL variables
# DuckDB v1.1 SET VARIABLE / getvariable() / RESET VARIABLE (the
# reference pins v1.1.1; the container's oracle duckdb is 1.0, so wire
# tests assert the DOCUMENTED semantics: getvariable of an unset name
# is NULL, values are scalars evaluated at SET time).

VARIABLES: dict[str, object] = {}

SET_VAR_RE = re.compile(
    r"^\s*SET\s+VARIABLE\s+(\w+)\s*=\s*(.+?)\s*;?\s*$", re.IGNORECASE | re.DOTALL
)
RESET_VAR_RE = re.compile(
    r"^\s*RESET\s+VARIABLE\s+(\w+)\s*;?\s*$", re.IGNORECASE
)
_GETVAR_RE = re.compile(
    r"(?<![\w.])getvariable\s*\(\s*'(\w+)'\s*\)", re.IGNORECASE
)


def _sql_literal(v: object) -> str:
    if v is None:
        return "NULL"
    if isinstance(v, bool):
        return "true" if v else "false"
    if isinstance(v, (int, float)):
        return repr(v)
    return "'" + str(v).replace("'", "''") + "'"


def substitute_variables(sql: str) -> str:
    """Replace code-level getvariable('name') occurrences with the
    stored scalar as a literal (NULL when unset — DuckDB semantics)."""
    if not _GETVAR_RE.search(sql):
        return sql
    mask = _code_mask(sql)
    out: list[str] = []
    pos = 0
    for m in _GETVAR_RE.finditer(sql):
        if not all(mask[m.start() : m.start() + len("getvariable")]):
            continue
        out.append(sql[pos : m.start()])
        out.append(_sql_literal(VARIABLES.get(m.group(1).lower())))
        pos = m.end()
    out.append(sql[pos:])
    return "".join(out)


MACROS: dict[str, tuple[list[tuple[str, str | None]], str]] = {}

# group 4 = optional TABLE keyword: a DuckDB TABLE macro's body is a
# SELECT; the parenthesized expansion is then a derived table in FROM
# position — the same textual inline covers both macro kinds.
MACRO_DDL_RE = re.compile(
    r"^\s*CREATE\s+(OR\s+REPLACE\s+)?MACRO\s+(\w+)\s*\(([^)]*)\)\s+AS\s+(TABLE\s+)?(.+?)\s*;?\s*$",
    re.IGNORECASE | re.DOTALL,
)
MACRO_DROP_RE = re.compile(
    r"^\s*DROP\s+MACRO\s+(IF\s+EXISTS\s+)?(\w+)\s*;?\s*$", re.IGNORECASE
)


def define_macro(name: str, params_src: str, body: str, replace: bool) -> None:
    key = name.lower()
    if not replace and key in MACROS:
        raise ValueError(f"macro {name!r} already exists (use CREATE OR REPLACE)")
    params: list[tuple[str, str | None]] = []
    if params_src.strip():
        for raw in split_top_level(params_src):
            if ":=" in raw:
                pname, default = raw.split(":=", 1)
                params.append((pname.strip().lower(), default.strip()))
            else:
                params.append((raw.strip().lower(), None))
    with CATALOG_LOCK:
        MACROS[key] = (params, body.strip())
    catalog_changed()


def drop_macro(name: str, if_exists: bool) -> None:
    with CATALOG_LOCK:
        if MACROS.pop(name.lower(), None) is None and not if_exists:
            raise ValueError(f"macro {name!r} does not exist")
    catalog_changed()


def _substitute_macro_params(body: str, binding: dict[str, str]) -> str:
    """SIMULTANEOUS substitution: one alternation pass over the body.
    Sequential per-parameter passes would re-scan earlier insertions —
    ``addit(b, 10)`` against ``a + b`` first inlined ``a → (b)`` and the
    ``b`` pass then captured that inserted ``b`` too, yielding
    ``((10)) + (10)`` (a silently wrong constant)."""
    if not binding:
        return body
    # (?<![\w.]) not \b: a qualified reference's column part (`t.a`)
    # must NOT match parameter `a` — DuckDB's binder resolves t.a to
    # the column (ASOF-alias pattern style, line ~1162). The `(`
    # lookahead refuses function-call heads sharing a param's name.
    # `a.x` heads DO substitute: struct-typed args dot their fields.
    pat = re.compile(
        r"(?<![\w.])("
        + "|".join(re.escape(p) for p in binding)
        + r")\b(?!\s*\()",
        re.IGNORECASE,
    )
    out: list[str] = []
    for is_lit, seg in _split_quoted(body):
        if is_lit:
            out.append(seg)
            continue
        out.append(pat.sub(lambda m: f"({binding[m.group(1).lower()]})", seg))
    return "".join(out)


def expand_macros(sql: str) -> str:
    """Inline every registered macro call (nested and recursive uses
    re-scan to a fixpoint, depth-capped). Arity/name mismatches raise —
    the server maps them to wire errors, like DuckDB's binder would."""
    if not MACROS:
        return sql
    for _ in range(10):
        mask = _code_mask(sql)
        call = None
        for m in re.finditer(r"\b(\w+)\s*\(", sql):
            if m.group(1).lower() in MACROS and all(mask[m.start() : m.end()]):
                call = m
                break
        if call is None:
            return sql
        params, body = MACROS[call.group(1).lower()]
        depth, j = 1, call.end()
        while j < len(sql) and depth:
            if mask[j]:
                if sql[j] == "(":
                    depth += 1
                elif sql[j] == ")":
                    depth -= 1
                    if depth == 0:
                        break
            j += 1
        if depth:
            return sql  # unbalanced — let Spark's parser report it
        raw_args = split_top_level(sql[call.end() : j])
        raw_args = [a for a in (x.strip() for x in raw_args) if a]
        binding: dict[str, str] = {p: d for p, d in params if d is not None}
        # named iff the arg LEADS with `ident :=` — a ':=' buried in a
        # string literal ('k:=v') or nested call must stay positional
        named_re = re.compile(r"^\s*[A-Za-z_]\w*\s*:=")
        positional = [a for a in raw_args if not named_re.match(a)]
        named = [a for a in raw_args if named_re.match(a)]
        if len(positional) > len(params):
            raise ValueError(
                f"macro {call.group(1)!r} takes at most {len(params)} arguments"
            )
        for (pname, _), arg in zip(params, positional):
            binding[pname] = arg
        for a in named:
            pname, arg = a.split(":=", 1)
            pname = pname.strip().lower()
            if pname not in {p for p, _ in params}:
                raise ValueError(f"macro {call.group(1)!r} has no parameter {pname!r}")
            binding[pname] = arg.strip()
        missing = [p for p, _ in params if p not in binding]
        if missing:
            raise ValueError(
                f"macro {call.group(1)!r} missing argument(s): {', '.join(missing)}"
            )
        expansion = "(" + _substitute_macro_params(body, binding) + ")"
        sql = sql[: call.start()] + expansion + sql[j + 1 :]
    return sql


_TABLE_FN_RE = re.compile(
    r"(,|\bFROM\b|\bJOIN\b)\s*(generate_series|range|unnest)\s*\(",
    re.IGNORECASE,
)
_TABLE_FN_ALIAS_RE = re.compile(
    r"\s*(?:AS\s+)?([A-Za-z_]\w*)\s*(?:\(\s*([A-Za-z_]\w*)\s*\))?",
    re.IGNORECASE,
)
_ALIAS_STOPWORDS = {
    "WHERE", "GROUP", "ORDER", "LIMIT", "OFFSET", "ON", "JOIN", "INNER",
    "LEFT", "RIGHT", "FULL", "CROSS", "UNION", "INTERSECT", "EXCEPT",
    "HAVING", "QUALIFY", "USING", "AS", "LATERAL", "SELECT", "WINDOW",
    "POSITIONAL", "ASOF", "NATURAL", "SEMI", "ANTI", "SAMPLE",
    "TABLESAMPLE", "RETURNING", "SET", "VALUES", "WITH",
}


def _rewrite_table_fns(sql: str) -> str:
    """FROM-position table functions → Spark structural forms:

    - ``FROM generate_series/range(...) [t [(c)]]``
        → ``FROM (SELECT explode(<series-expr>) AS c) t``
    - ``, unnest(E) [AS] t(c)`` (lateral, correlated to the left table)
        → `` LATERAL VIEW explode(E) t AS c``
      (same lateral form for comma-joined generate_series/range).

    DuckDB names the emitted column after the function when no column
    alias is given. Expression-position unnest/generate_series/range
    are handled by the rename/nary tables after this pass."""
    guard = 0
    skipped: set[int] = set()
    while guard < 50:
        guard += 1
        mask = _code_mask(sql)
        m = next(
            (
                c
                for c in _TABLE_FN_RE.finditer(sql)
                if all(mask[c.start() : c.end()]) and c.start() not in skipped
            ),
            None,
        )
        if m is None:
            return sql
        lead, fn = m.group(1), m.group(2).lower()
        if lead == "," and not _in_from_clause(sql, mask, m.start()):
            # a comma in a SELECT/GROUP BY list, not a lateral join —
            # scalar-position handling (nary/rename tables) applies
            skipped.add(m.start())
            continue
        depth, i = 1, m.end()
        while i < len(sql) and depth:
            if mask[i]:
                if sql[i] == "(":
                    depth += 1
                elif sql[i] == ")":
                    depth -= 1
            i += 1
        if depth:
            return sql
        args = [a.strip() for a in split_top_level(sql[m.end() : i - 1])]
        if fn == "unnest":
            expr = args[0] if len(args) == 1 else None
        else:
            expr = _tpl_range_list(args, inclusive=(fn == "generate_series"))
        if expr is None:
            skipped.add(m.start())  # unsupported shape: loud downstream
            continue
        # optional "[AS] t[(c)]" alias tail
        t_alias, col_alias, tail_end = None, None, i
        am = _TABLE_FN_ALIAS_RE.match(sql, i)
        if am and am.group(1).upper() not in _ALIAS_STOPWORDS:
            t_alias, col_alias, tail_end = am.group(1), am.group(2), am.end()
        col = col_alias or fn
        tname = t_alias or f"__{fn}_t"
        if lead == ",":
            repl = f" LATERAL VIEW explode({expr}) {tname} AS {col}"
            sql = sql[: m.start()] + repl + sql[tail_end:]
        else:
            repl = f"{lead} (SELECT explode({expr}) AS {col}) {tname}"
            sql = sql[: m.start()] + repl + sql[tail_end:]
        skipped = {s for s in skipped if s < m.start()}
    return sql


def _in_from_clause(sql: str, mask: list[bool], pos: int) -> bool:
    """True when the nearest same-depth clause keyword scanning BACK
    from ``pos`` is FROM/JOIN (so a comma at ``pos`` continues a FROM
    list). SELECT/WHERE/GROUP/... at the same depth means the comma
    separates expressions instead."""
    depth = 0
    i = pos - 1
    while i >= 0:
        if mask[i]:
            c = sql[i]
            if c == ")":
                depth += 1
            elif c == "(":
                if depth == 0:
                    return False  # opened a subexpression/arg list
                depth -= 1
            elif depth == 0 and (c.isalpha() or c == "_"):
                j = i
                while j > 0 and (sql[j - 1].isalnum() or sql[j - 1] == "_"):
                    j -= 1
                word = sql[j : i + 1].upper()
                if word in ("FROM", "JOIN"):
                    return True
                if word in (
                    "SELECT", "WHERE", "HAVING", "QUALIFY", "SET",
                    "VALUES", "BY", "LIMIT", "OFFSET", "WINDOW", "ON",
                ):
                    return False
                i = j
        i -= 1
    return False


def _printf_spec(spec: str) -> str | None:
    m = re.match(r"^([<>]?)(0?)(\d*)(?:\.(\d+))?([dfsxXoe]?)$", spec)
    if not m:
        return None
    align, zero, width, prec, typ = m.groups()
    flag = "-" if align == "<" else ("0" if zero else "")
    typ = typ or ("f" if prec else "s")
    return f"{flag}{width or ''}{'.' + prec if prec else ''}{typ}"


def _fmtlib_to_printf(fmt: str) -> str | None:
    """fmtlib '{}' / '{:spec}' / '{N}' format (DuckDB's format()) → the
    printf form Spark's format_string speaks (positional via %N$)."""
    out: list[str] = []
    i, auto = 0, 0
    while i < len(fmt):
        c = fmt[i]
        if c == "{":
            if fmt[i : i + 2] == "{{":
                out.append("{")
                i += 2
                continue
            j = fmt.find("}", i)
            if j == -1:
                return None
            body = fmt[i + 1 : j]
            argno, spec = body.split(":", 1) if ":" in body else (body, "")
            if argno == "":
                auto += 1
                idx = auto
            elif argno.isdigit():
                idx = int(argno) + 1
            else:
                return None
            conv = _printf_spec(spec)
            if conv is None:
                return None
            out.append(f"%{idx}${conv}")
            i = j + 1
        elif c == "}":
            if fmt[i : i + 2] == "}}":
                out.append("}")
                i += 2
                continue
            return None
        elif c == "%":
            out.append("%%")
            i += 1
        else:
            out.append(c)
            i += 1
    return "".join(out)


_FORMAT_CALL = re.compile(r"(?<![\w.])format\s*\(\s*'", re.IGNORECASE)


_AGG_OB_CALL = re.compile(
    r"(?<![\w.])(string_agg|group_concat|array_agg|collect_list|list|"
    r"first|last|arbitrary|any_value|min|max|sum|avg|count)\s*\(",
    re.IGNORECASE,
)

_ORDER_INSENSITIVE = {"min", "max", "sum", "avg", "count"}

_ARRAY_AGG_SORTED = (
    "transform(array_sort(collect_list({s}), "
    "(__l, __r) -> CASE WHEN __l.__k IS NULL AND __r.__k IS NULL THEN 0 "
    "WHEN __l.__k IS NULL THEN {nl} WHEN __r.__k IS NULL THEN {nr} "
    "WHEN __l.__k < __r.__k THEN {lt} WHEN __l.__k > __r.__k THEN {gt} "
    "ELSE 0 END), __s -> __s.__v)"
)

_FILTER_TAIL_RE = re.compile(r"\s*FILTER\s*(\()", re.IGNORECASE)


def _peek_filter_tail(
    sql: str, mask: list[bool], pos: int
) -> tuple[str, int] | None:
    """If a ``FILTER (WHERE cond)`` clause — or DuckDB's WHERE-less
    ``FILTER (cond)`` shorthand (the WHERE normalizer runs later) —
    starts at code position ``pos``, return (cond_text,
    end_past_closing_paren). ``pos`` is always immediately after an
    aggregate call's close paren, so the HOF filter(l, x -> …) can
    never match here. Spark's parser only attaches FILTER to a direct
    aggregate call, so passes that wrap an aggregate in
    transform()/CASE must fold the clause into the aggregate argument
    instead of leaving the tail behind."""
    m = _FILTER_TAIL_RE.match(sql, pos)
    if m is None or not mask[m.start(1)]:
        return None
    depth, j = 1, m.start(1) + 1
    while j < len(sql) and depth:
        if mask[j]:
            if sql[j] == "(":
                depth += 1
            elif sql[j] == ")":
                depth -= 1
        j += 1
    if depth:
        return None
    cond = sql[m.start(1) + 1 : j - 1]
    cond = re.sub(r"^\s*WHERE\b", "", cond, count=1, flags=re.IGNORECASE)
    return cond.strip(), j


def _agg_null_on_empty(arr_expr: str) -> str:
    """DuckDB array_agg/list over zero qualifying rows is NULL where
    collect_list gives []. size() works on any element type (array
    equality wouldn't — maps); Spark's physical aggregation
    deduplicates the repeated aggregate expression."""
    return f"(CASE WHEN size({arr_expr}) > 0 THEN {arr_expr} END)"


_CORR_CALL_RE = re.compile(r"\bcorr\s*\(", re.IGNORECASE)
_AGG_TAIL_RE = re.compile(r"\s*(OVER|FILTER|WITHIN)\b", re.IGNORECASE)


def _rewrite_corr(sql: str) -> str:
    """DuckDB corr over a zero-variance group is NULL; Spark's native
    corr raises DIVIDE_BY_ZERO under ANSI (r10 sweep). Same estimator
    via the sample identity with try_divide. Calls with an OVER/FILTER
    tail stay native — the wrapper expression cannot carry those
    clauses (zero-variance frames keep the loud ANSI error there)."""
    if _CORR_CALL_RE.search(sql) is None:
        return sql
    guard = 0
    skipped: set[int] = set()
    while guard < 50:
        guard += 1
        mask = _code_mask(sql)
        m = next(
            (
                c
                for c in _CORR_CALL_RE.finditer(sql)
                if all(mask[c.start() : c.end()]) and c.start() not in skipped
            ),
            None,
        )
        if m is None:
            return sql
        depth, i = 1, m.end()
        while i < len(sql) and depth:
            if mask[i]:
                if sql[i] == "(":
                    depth += 1
                elif sql[i] == ")":
                    depth -= 1
            i += 1
        if depth:
            return sql
        args = [a.strip() for a in split_top_level(sql[m.end() : i - 1])]
        if (
            len(args) != 2
            or _AGG_TAIL_RE.match(sql, i)
            or re.match(r"DISTINCT\b", args[0], re.IGNORECASE)
        ):
            # DISTINCT dedups (x, y) PAIRS for the whole estimator —
            # the identity below can't express that; leave native
            skipped.add(m.start())
            continue
        x, y = args
        # pairwise-complete rows: each stddev factor must exclude rows
        # where the OTHER operand is NULL, like covar_samp does
        # (probed: corr over (1,NULL),(2,3),(3,5) is 1.0, not the
        # all-rows-stddev value)
        repl = (
            f"try_divide(covar_samp({x}, {y}),"
            f" stddev_samp(CASE WHEN ({y}) IS NOT NULL THEN ({x}) END)"
            f" * stddev_samp(CASE WHEN ({x}) IS NOT NULL THEN ({y}) END))"
        )
        sql = sql[: m.start()] + repl + sql[i:]
        skipped = {s for s in skipped if s < m.start()}
    return sql


_ARRAY_AGG_PLAIN_CALL = re.compile(r"\b(array_agg|list)\s*\(", re.IGNORECASE)


def _rewrite_array_agg_plain(sql: str) -> str:
    """Plain (no ORDER BY) ``array_agg(x)`` / ``list(x)``: DuckDB
    KEEPS NULL elements (collect_list drops them — struct ride), is
    NULL over zero rows, supports DISTINCT, and takes a FILTER tail
    that cannot attach to the transform(...) wrapper — fold it into
    the collected struct (a NULL struct is dropped, removing the
    row). Runs after _rewrite_agg_order_by, so ordered forms are
    already rewritten (probed r10)."""
    if _ARRAY_AGG_PLAIN_CALL.search(sql) is None:
        return sql
    guard = 0
    skipped: set[int] = set()
    while guard < 100:
        guard += 1
        mask = _code_mask(sql)
        m = next(
            (
                c
                for c in _ARRAY_AGG_PLAIN_CALL.finditer(sql)
                if all(mask[c.start() : c.end()]) and c.start() not in skipped
            ),
            None,
        )
        if m is None:
            return sql
        depth, i = 1, m.end()
        while i < len(sql) and depth:
            if mask[i]:
                if sql[i] == "(":
                    depth += 1
                elif sql[i] == ")":
                    depth -= 1
            i += 1
        if depth:
            return sql
        args = [a.strip() for a in split_top_level(sql[m.end() : i - 1])]
        if len(args) != 1 or not args[0]:
            skipped.add(m.start())
            continue
        arg = args[0]
        dk = ""
        dm = re.match(r"^DISTINCT\b\s*", arg, re.IGNORECASE)
        if dm:
            dk, arg = "DISTINCT ", arg[dm.end() :]
        end = i
        struct_expr = f"struct({arg} AS v)"
        tail = _peek_filter_tail(sql, mask, i)
        if tail is not None:
            cond, end = tail
            struct_expr = f"(CASE WHEN ({cond}) THEN {struct_expr} END)"
        arr = f"transform(collect_list({dk}{struct_expr}), __ag -> __ag.v)"
        sql = sql[: m.start()] + _agg_null_on_empty(arr) + sql[end:]
        skipped = {s for s in skipped if s < m.start()}
    return sql


def _rewrite_agg_order_by(sql: str) -> str:
    """DuckDB allows ``ORDER BY`` inside ANY aggregate's argument list.
    Spark equivalents (probed against DuckDB):

    - ``string_agg(x[, sep] ORDER BY spec)`` → ``listagg(x, sep)
      WITHIN GROUP (ORDER BY spec)`` (Spark 4 syntax; multi-key specs
      pass straight through)
    - ``array_agg/list/collect_list(x ORDER BY k [DESC])`` → sort a
      collected (key, value) struct array, then project the values
      (single sort key; DuckDB default NULLS LAST, DESC → NULLS FIRST
      matches Spark's array_sort comparator branches)
    - ``first(x ORDER BY k)`` → ``min_by(x, k)``; last → max_by (and
      mirrored for DESC)
    - order-insensitive aggregates just drop the clause."""
    guard = 0
    skipped: set[int] = set()
    while guard < 100:
        guard += 1
        mask = _code_mask(sql)
        m = next(
            (
                c
                for c in _AGG_OB_CALL.finditer(sql)
                if all(mask[c.start() : c.end()]) and c.start() not in skipped
            ),
            None,
        )
        if m is None:
            return sql
        name = m.group(1).lower()
        depth, i = 1, m.end()
        ob_pos = -1
        while i < len(sql) and depth:
            if mask[i]:
                c = sql[i]
                if c in "([":
                    depth += 1
                elif c in ")]":
                    depth -= 1
                elif (
                    depth == 1
                    and ob_pos == -1
                    and c in "Oo"
                    and re.match(r"ORDER\s+BY\b", sql[i:], re.IGNORECASE)
                    and not (i > 0 and (sql[i - 1].isalnum() or sql[i - 1] == "_"))
                ):
                    ob_pos = i
            i += 1
        if depth or ob_pos == -1:
            skipped.add(m.start())
            continue
        end = i  # replacement span end; the array branch may extend it
        head = sql[m.end() : ob_pos].strip()
        spec = sql[ob_pos : i - 1].strip()[len("ORDER BY") :].strip()
        args = [a.strip() for a in split_top_level(head)]
        repl = None
        if name in _ORDER_INSENSITIVE:
            repl = f"{name}({', '.join(args)})"
        elif name in ("string_agg", "group_concat"):
            sep = args[1] if len(args) > 1 else "','"
            repl = (
                f"listagg({args[0]}, {sep}) WITHIN GROUP (ORDER BY {spec})"
            )
        elif name in (
            "array_agg", "collect_list", "list", "first", "last",
            "any_value", "arbitrary",
        ):
            sm = re.match(
                r"^(.*?)(?:\s+(ASC|DESC))?(?:\s+NULLS\s+(FIRST|LAST))?$",
                spec,
                re.IGNORECASE | re.DOTALL,
            )
            key = sm.group(1).strip()
            desc = (sm.group(2) or "").upper() == "DESC"
            if "," in key or len(args) != 1:
                skipped.add(m.start())  # multi-key/multi-arg: loud
                continue
            lt, gt = (-1, 1) if not desc else (1, -1)
            # DuckDB default: NULL keys sort LAST in BOTH directions
            # (probed: array_agg(v ORDER BY k DESC) puts the NULL-key
            # row last); explicit NULLS FIRST/LAST overrides
            nl, nr = (1, -1)
            if sm.group(3) and sm.group(3).upper() == "FIRST":
                nl, nr = (-1, 1)
            # a FILTER tail cannot attach to the transform(...) wrapper
            # — fold the condition into the collected struct (NULL
            # struct = row dropped) and consume the clause
            struct_expr = f"struct({key} AS __k, {args[0]} AS __v)"
            tail = _peek_filter_tail(sql, mask, i)
            if tail is not None:
                cond, end = tail
                struct_expr = f"(CASE WHEN ({cond}) THEN {struct_expr} END)"
            sorted_arr = _ARRAY_AGG_SORTED.format(
                s=struct_expr, lt=lt, gt=gt, nl=nl, nr=nr
            )
            if name in ("first", "last", "arbitrary", "any_value"):
                # element of the DuckDB-sorted array — min_by/max_by
                # would SKIP null sort keys, which DuckDB includes.
                # arbitrary = first row; any_value = first NON-NULL
                # value in that order (both probed)
                idx = "-1" if name == "last" else "1"
                arr = sorted_arr
                if name == "any_value":
                    # all-NULL group → empty filtered array: try_ keeps
                    # the NULL DuckDB returns instead of an ANSI error
                    arr = f"filter({sorted_arr}, __anv -> __anv IS NOT NULL)"
                repl = f"try_element_at({arr}, {idx})"
            else:
                # DuckDB: NULL over zero qualifying rows
                repl = _agg_null_on_empty(sorted_arr)
        if repl is None:
            skipped.add(m.start())
            continue
        sql = sql[: m.start()] + repl + sql[end:]
        skipped = {s for s in skipped if s < m.start()}
    return sql


_CASE_FN_RE = re.compile(
    r"(?<![\w.])(upper|ucase|lower|lcase)\s*\(", re.IGNORECASE
)


def _rewrite_case_fns(sql: str) -> str:
    """DuckDB's upper()/lower() are the Unicode SIMPLE 1:1 mapping;
    Spark's compile to Java's FULL mapping with expansions (ß→SS,
    ﬁ→FI, Greek iota subscripts) and context-sensitive final sigma
    (probed r11, string-edges family). Sandwich the call between
    translate()s over the generated divergence tables
    (server/casefold.py) — stays JVM-side, no UDF. USER-ONLY pass
    (runs early): later passes that emit upper/lower were validated
    with Java semantics."""
    if _CASE_FN_RE.search(sql) is None:
        return sql
    from .casefold import wrap_case_call

    mask = _code_mask(sql)
    out: list[str] = []
    pos = 0
    for m in _CASE_FN_RE.finditer(sql):
        if m.start() < pos or not all(mask[m.start() : m.end()]):
            continue
        dpt, i = 1, m.end()
        while i < len(sql) and dpt:
            if mask[i]:
                if sql[i] == "(":
                    dpt += 1
                elif sql[i] == ")":
                    dpt -= 1
            i += 1
        if dpt:
            continue
        arg = sql[m.end() : i - 1].strip()
        if not arg or len(split_top_level(arg)) != 1:
            continue  # not the unary form — leave for the analyzer
        fn = "upper" if m.group(1).lower() in ("upper", "ucase") else "lower"
        out.append(sql[pos : m.start()])
        # recurse into the argument so NESTED upper/lower calls also get
        # the simple-mapping sandwich (ADVICE r11: pos jumped past the
        # whole span, leaving inner calls on Java full-mapping)
        out.append(wrap_case_call(fn, _rewrite_case_fns(arg)))
        pos = i
    out.append(sql[pos:])
    return "".join(out)


def _rewrite_format(sql: str) -> str:
    """DuckDB ``format('fmtlib...', args)`` → ``format_string('printf',
    args)`` for literal format strings covering the fmtlib subset
    ({}, {N}, fill/width/precision/d-f-s-x-o-e). Runs BEFORE literal
    splitting (needs the quoted format)."""
    guard = 0
    while guard < 50:
        guard += 1
        mask = _code_mask(sql)
        m = next(
            (
                c
                for c in _FORMAT_CALL.finditer(sql)
                if all(mask[c.start() : c.start() + 6])
            ),
            None,
        )
        if m is None:
            return sql
        depth, i = 1, m.end() - 1  # back up onto the quote
        # locate the end of the call with the mask-aware scan
        i = m.end() - 1
        depth = 1
        while i < len(sql) and depth:
            if mask[i]:
                if sql[i] == "(":
                    depth += 1
                elif sql[i] == ")":
                    depth -= 1
            i += 1
        if depth:
            return sql
        args = [a.strip() for a in split_top_level(sql[m.end() - 1 : i - 1])]
        fm = re.match(r"^'((?:[^']|'')*)'$", args[0])
        if not fm:
            return sql
        printf = _fmtlib_to_printf(fm.group(1))
        if printf is None:
            return sql  # unsupported spec: loud downstream
        # Java's formatter is strict about argument classes: route each
        # argument through the cast its conversions demand (%f rejects
        # DECIMAL literals, %d rejects INT-vs-BIGINT mismatches)
        casts: dict[int, str] = {}
        for cm in re.finditer(r"%(\d+)\$[-0]?\d*(?:\.\d+)?([dfsxXoe])", printf):
            idx, typ = int(cm.group(1)), cm.group(2)
            if typ in ("f", "e"):
                casts[idx] = "DOUBLE"
            elif typ in ("d", "x", "X", "o"):
                casts[idx] = "BIGINT"
        # typed-mismatch markers (r14) come from the ORIGINAL fmtlib
        # text: only an EXPLICIT type char checks ({:d}/{:.2f}/{:s});
        # generic {} / {N} / bare-width specs format any type in duck
        fmt_convs: dict[int, str] = {}
        fauto = 0
        for bm in re.finditer(r"\{(\d*)(?::([^}]*))?\}", fm.group(1)):
            fidx = int(bm.group(1)) + 1 if bm.group(1) else (fauto := fauto + 1)
            spec2 = bm.group(2) or ""
            if spec2 and spec2[-1] in "dfsxXoeEgG":
                fmt_convs[fidx] = spec2[-1]
        # positions actually consumed by a directive: generic args get
        # the '?'-marked CAST AS STRING (duck renders dates/composites
        # as their SQL text where Java prints raw internals — r14);
        # explicit {:s} args cast too; extra args beyond the
        # directives stay untouched (duck ignores them)
        used = {
            int(um.group(1))
            for um in re.finditer(r"%(\d+)\$", printf)
        }
        rest = []
        for n, a in enumerate(args[1:]):
            if (n + 1) in casts:
                rest.append(
                    f"CAST({_pf_mark(a, fmt_convs.get(n + 1, ''))}"
                    f" AS {casts[n + 1]})"
                )
            elif (n + 1) in fmt_convs:  # explicit {:s}
                rest.append(
                    f"CAST({_pf_mark(a, fmt_convs[n + 1])} AS STRING)"
                )
            elif (n + 1) in used:  # generic {}
                # literal/cast-tail args fold to duck text at rewrite
                # time (exponent literals, ::FLOAT chains, interval
                # literals) — the '?' marker covers typed COLUMNS via
                # the app leg
                k = _vc_kernel_repl(a)
                rest.append(
                    k if k is not None
                    else f"CAST({_pf_mark(a, '?')} AS STRING)"
                )
            else:
                rest.append(a)
        if rest and re.search(
            r"%\d+\$[-+ #0]*\d*(?:\.\d+)?[fFeEgG]", printf
        ):
            # float directives diverge in Java (binary-value rounding,
            # %g stripping, inf/nan) — same decomposition as printf()
            cc = _printf_concat(printf, args[1:], checked=set(fmt_convs))
            if cc is not None:
                nullc = " OR ".join(
                f"({_pf_null_term(a)}) IS NULL" for a in args[1:]
            )
                repl = (
                    f"(CASE WHEN {nullc} THEN CAST(NULL AS STRING)"
                    f" ELSE {cc} END)"
                )
                sql = sql[: m.start()] + repl + sql[i:]
                continue
        if rest:
            repl = (
                f"format_string('{printf.replace(chr(39), chr(39) * 2)}', "
                f"{', '.join(rest)})"
            )
            # duck format() is NULL on ANY NULL argument (probed r11);
            # Java's formatter renders the text 'null'
            nullc = " OR ".join(
                f"({_pf_null_term(a)}) IS NULL" for a in args[1:]
            )
            repl = (
                f"(CASE WHEN {nullc} THEN CAST(NULL AS STRING)"
                f" ELSE {repl} END)"
            )
        else:
            # no arguments: emit the formatted text directly — undo the
            # printf %% escaping first ('100%' stays '100%')
            plain = printf.replace("%%", "%").replace("'", "''")
            repl = f"'{plain}'"
        sql = sql[: m.start()] + repl + sql[i:]
    return sql


_PRINTF_DIR_RE = re.compile(
    r"%(?:(\d+)\$)?([-+ #0]*)(\d*)(?:\.(\d+))?([diufFeEgGxXos%])"
)


_PF_NULL_LIT_RE = re.compile(r"(?i)^\s*NULL\s*$")


def _pf_null_term(a: str) -> str:
    """Spark-parseable text for a printf/format argument's NULL guard
    (r15 fuzz find): an interval-literal argument folds to its duck
    text in the format BODY, but the guard embedded the ORIGINAL text
    — Spark's parser refuses fractional interval literals outright."""
    if re.match(r"(?i)^\s*[-+( ]*INTERVAL\b", a):
        folded = _fold_interval_expr(a)
        if folded is not None:
            return "'" + folded.replace("'", "''") + "'"
    return a


def _pf_mark(a: str, conv: str) -> str:
    """Tag a printf/format argument with its directive for the
    schema-typed mismatch leg (rewrite_printf_typed, r14): duck's
    printf dispatches on the ANALYZED type of each argument per
    non-NULL row, refusing mismatches ('Invalid type specifier "f"
    for formatting a value of type int' — probed matrix r14) where
    Java's formatter would coerce. The marker survives into the
    schema-aware app leg, which types the expression and swaps a
    mismatch for a NULL-guarded raise_error. NULL literals skip (duck
    returns NULL for any NULL argument before type dispatch)."""
    if conv not in "sdiuxXofFeEgG?" or _PF_NULL_LIT_RE.match(a):
        return a
    return f"/*__duck_pf:{conv}*/({a})"


def _printf_concat(
    fmt: str, args: list[str], checked: set[int] | None = None
) -> str | None:
    """Decompose a LITERAL printf format whose conversions include a
    float directive into a concat() of literal segments and per-
    directive pieces: float conversions route through the exact
    ``__duck_fmt1`` Python kernel (fmt/C binary-value rounding, %g
    zero-stripping, inf/nan spellings — r12 printf sweep; Java's
    Formatter differs on all three), everything else stays in JVM
    format_string. Accepts both plain and %N$ positional forms (the
    fmtlib translation emits positional). None = unsupported shape
    (star widths, missing args) — caller keeps the native path."""
    parts: list[str] = []
    pos = 0
    auto_idx = 0

    def lit(text: str) -> str:
        # text comes from INSIDE a SQL string literal, so quote escapes
        # are already doubled — only the printf %% escape is undone
        return "'" + text.replace("%%", "%") + "'"

    for m in _PRINTF_DIR_RE.finditer(fmt):
        conv = m.group(5)
        if m.start() > pos:
            parts.append(lit(fmt[pos : m.start()]))
        pos = m.end()
        if conv == "%":
            parts.append("'%'")
            continue
        if m.group(1) is not None:
            idx = int(m.group(1)) - 1
        else:
            idx = auto_idx
            auto_idx += 1
        if idx >= len(args):
            return None
        a = args[idx]
        # format()'s generic {} placeholders translate to %N$s but
        # accept any type in duck — only explicitly-typed directives
        # carry a mismatch marker (r14)
        mk = (
            _pf_mark(a, conv)
            if checked is None or (idx + 1) in checked
            else a
        )
        spec = f"%{m.group(2)}{m.group(3)}" + (
            f".{m.group(4)}" if m.group(4) is not None else ""
        )
        if conv in "fFeEgG":
            parts.append(f"__duck_fmt1('{spec}{conv}', CAST({mk} AS DOUBLE))")
        elif conv in "diuxXo":
            c = "d" if conv in "diu" else conv
            parts.append(f"format_string('{spec}{c}', CAST({mk} AS BIGINT))")
        else:  # s — CAST to STRING: Java renders DATE/TIMESTAMP args
            # as raw internal ints (r13 review — the non-float branch
            # got the cast, this leg had the same defect)
            parts.append(f"format_string('{spec}s', CAST({mk} AS STRING))")
    if pos < len(fmt):
        parts.append(lit(fmt[pos:]))
    if not parts:
        return "''"
    if len(parts) == 1:
        return parts[0]
    return "concat(" + ", ".join(parts) + ")"


_PRINTF_CALL = re.compile(r"(?<![\w.])printf\s*\(\s*'", re.IGNORECASE)
_PRINTF_SPEC_RE = re.compile(r"%[-+ #0]*\d*(?:\.\d+)?([diufFeEgGxXos%])")


def _rewrite_printf(sql: str) -> str:
    """DuckDB ``printf('%5.2f', x)`` with numeric-literal args: Java's
    formatter (Spark format_string/printf) rejects a DECIMAL for %f and
    an INT for %d, where DuckDB coerces (r10 sweep). Cast each argument
    per its conversion, in spec order; %i/%u map to %d. Literal format
    strings only — runs BEFORE literal splitting."""
    guard = 0
    while guard < 50:
        guard += 1
        mask = _code_mask(sql)
        m = next(
            (
                c
                for c in _PRINTF_CALL.finditer(sql)
                if mask[c.start()]
            ),
            None,
        )
        if m is None:
            return sql
        # scan args from the '(' for the balanced close
        open_i = sql.index("(", m.start())
        depth, i = 1, open_i + 1
        while i < len(sql) and depth:
            if mask[i]:
                if sql[i] == "(":
                    depth += 1
                elif sql[i] == ")":
                    depth -= 1
            i += 1
        if depth:
            return sql
        args = [a.strip() for a in split_top_level(sql[open_i + 1 : i - 1])]
        fm = re.match(r"^'((?:[^']|'')*)'$", args[0])
        if not fm:
            return sql
        fmt = fm.group(1)
        convs = [c for c in _PRINTF_SPEC_RE.findall(fmt) if c != "%"]
        fmt = re.sub(
            r"(%[-+ #0]*\d*(?:\.\d+)?)[iu]", r"\1d", fmt
        )
        # r13 (r12 NEW known, decided): duck ERRORS on a type-mismatched
        # directive where Java coerces — %s with a numeric arg, and
        # numeric directives with a string arg. Refuse the LITERAL-arg
        # forms loudly with duck's message; non-literal args stay
        # schema-blind coercion (documented known, NOTES).
        for n, a in enumerate(args[1:]):
            conv = convs[n] if n < len(convs) else None
            if conv is None:
                continue  # extra args beyond the directives: duck
                # ignores them (probed — printf('hi', 5) is 'hi')
            if conv == "s" and re.fullmatch(
                r"[-+(\s]*\d+(?:\.\d+)?(?:[eE][-+]?\d+)?[)\s]*", a
            ):
                kind = "float" if re.search(r"[.eE]", a) else "int"
                raise ValueError(
                    f'Invalid type specifier "s" for formatting a'
                    f" value of type {kind}"
                )
            if conv in "diuxXo" and re.fullmatch(r"'(?:[^']|'')*'", a):
                raise ValueError(
                    f'Invalid type specifier "{conv}" for formatting'
                    f" a value of type string"
                )
        repl = None
        if any(c in "fFeEgG" for c in convs):
            # float directives: Java's Formatter diverges from duck's
            # fmt/C on binary-value rounding, %g zero-stripping and
            # inf/nan — decompose into concat() with the exact Python
            # kernel per float directive (r12 printf sweep)
            repl = _printf_concat(fmt, args[1:])
        if repl is None:
            rest = []
            for n, a in enumerate(args[1:]):
                conv = convs[n] if n < len(convs) else "s"
                am = _pf_mark(a, conv) if n < len(convs) else a
                if conv in "fFeEgG":
                    rest.append(f"CAST({am} AS DOUBLE)")
                elif conv in "diuxXo":
                    rest.append(f"CAST({am} AS BIGINT)")
                elif conv == "s":
                    # Java renders DATE/TIMESTAMP args as their raw
                    # internal ints (a DATE prints as day-number —
                    # r13 battery catch); duck prints the SQL text
                    rest.append(f"CAST({am} AS STRING)")
                else:
                    rest.append(a)
            repl = f"format_string('{fmt}'" + (
                ", " + ", ".join(rest) + ")" if rest else ")"
            )
        if args[1:]:
            # duck printf() is NULL on ANY NULL argument (probed r11)
            nullc = " OR ".join(
                f"({_pf_null_term(a)}) IS NULL" for a in args[1:]
            )
            repl = (
                f"(CASE WHEN {nullc} THEN CAST(NULL AS STRING)"
                f" ELSE {repl} END)"
            )
        sql = sql[: m.start()] + repl + sql[i:]
    return sql


_PF_MARK_RE = re.compile(r"/\*__duck_pf:([sdiuxXofFeEgG?])\*/")


def _pf_mismatch(conv: str, kind: str | None) -> str | None:
    """duck's printf type-dispatch matrix (probed r14): the error
    label to refuse with, or None when the argument kind formats.
    int-family and bool format under d-specs; bool refuses under
    f-specs AS 'int'; date/timestamp/interval/blob/composites are all
    'string' kind (format under %s, refuse under numerics). The float
    family arrives fine-grained (f32/f64/dec — the generic-arg leg
    needs the width) and labels as 'float' here."""
    if kind in (None, "null", "other"):
        return None
    if kind in ("f32", "f64", "dec"):
        kind = "float"
    if conv == "s":
        return kind if kind in ("int", "float") else None
    if conv in "diuxXo":
        return kind if kind in ("float", "string") else None
    # fFeEgG
    if kind in ("int", "bool"):
        return "int"
    return "string" if kind == "string" else None


def neutralize_pf_casts(sql: str) -> str:
    """Analysis-neutral copy for the printf typer's probes (r14): every
    marked argument — including its enclosing coercion CAST — becomes
    NULL, so a statement whose Java-coercion fallback cannot ANALYZE
    (``CAST(date_col AS BIGINT)`` for ``printf('%d', d)``) still lets
    the typer hoist the bare operand and resolve its type."""
    if "/*__duck_pf:" not in sql:
        return sql
    mask = _code_mask(sql)
    out: list[str] = []
    last = 0
    for m in _PF_MARK_RE.finditer(sql):
        j = m.end()
        if j >= len(sql) or sql[j] != "(" or not mask[j]:
            continue
        k = _match_paren(sql, mask, j)
        if k is None or m.start() < last:
            continue
        start = m.start()
        end = k + 1
        cm = re.search(r"(?i)CAST\s*\(\s*$", sql[:start])
        if cm is not None and all(mask[cm.start() : start]):
            cend = _match_paren(sql, mask, sql.rindex("(", cm.start(), start))
            if cend is not None and cend >= k:
                start, end = cm.start(), cend + 1
        out.append(sql[last:start])
        out.append("NULL")
        last = end
    out.append(sql[last:])
    return "".join(out)


def rewrite_printf_typed(sql: str, typer) -> str:
    """Schema-typed printf/format argument checking (r14, VERDICT
    item 3): resolve each ``/*__duck_pf:X*/(arg)`` marker's type via
    the analysis typer; a mismatch per duck's matrix becomes a
    NULL-GUARDED raise_error with duck's exact message — duck
    dispatches per NON-NULL value at runtime (probed: all-NULL and
    zero-row inputs succeed where an analysis-time refusal would be
    loud), so the error must fire per row, not at rewrite. Untypeable
    arguments keep the documented Java-coercion fallback. Processed
    markers are stripped either way."""
    if "/*__duck_pf:" not in sql:
        return sql
    mask = _code_mask(sql)
    out: list[str] = []
    last = 0
    for m in _PF_MARK_RE.finditer(sql):
        j = m.end()
        # the marker itself lexes as a comment (non-code); a REAL
        # marker is followed by a code '(' — marker-shaped text inside
        # a string literal has a masked-off '(' and is skipped
        if j >= len(sql) or sql[j] != "(" or not mask[j]:
            continue
        k = _match_paren(sql, mask, j)
        if k is None or m.start() < last:
            continue
        p = sql[j : k + 1]  # parenthesized argument expression
        conv = m.group(1)
        kind = typer(p)
        if conv == "?":
            # format()'s GENERIC {} placeholder (r14): never refuses —
            # but duck renders floats with its own kernels where the
            # emitted CAST AS STRING would produce Java text
            out.append(sql[last : m.start()])
            if kind == "f64":
                out.append(
                    f"(CASE WHEN {p} IS NULL THEN CAST(NULL AS STRING)"
                    f" ELSE duck_double_text(CAST({p} AS DOUBLE)) END)"
                )
            elif kind == "f32":
                out.append(
                    f"(CASE WHEN {p} IS NULL THEN CAST(NULL AS STRING)"
                    f" ELSE duck_float32_text(CAST({p} AS FLOAT)) END)"
                )
            else:
                out.append(p)
            last = k + 1
            continue
        label = _pf_mismatch(conv, kind)
        if label is None:
            out.append(sql[last : m.start()])
            out.append(p)  # typed OK or untypeable: drop the marker
            last = k + 1
            continue
        # r15 (ADVICE): the marker sits INSIDE a Java-coercion CAST
        # (``CAST(marker(arg) AS BIGINT)``); leaving the argument-typed
        # THEN branch inside that cast fails Spark ANALYSIS ('cannot
        # cast DATE to BIGINT') — loud on zero-row/all-NULL inputs
        # where duck quietly returns NULL. Replace the WHOLE cast span
        # with a CASE that types to the cast target, keeping the
        # refusal per-row.
        start, end, ty = m.start(), k + 1, None
        cm = None
        for c in re.finditer(r"(?i)\bCAST\s*\(\s*$", sql[: m.start()]):
            cm = c
        if cm is not None and all(mask[cm.start() : m.start()]):
            open_i = sql.rindex("(", cm.start(), m.start())
            cend = _match_paren(sql, mask, open_i)
            if cend is not None and cend >= k:
                tm = re.match(
                    r"(?i)\s*AS\s+([A-Za-z_][\w ]*(?:\(\s*\d+"
                    r"(?:\s*,\s*\d+)?\s*\))?)\s*$",
                    sql[k + 1 : cend],
                )
                if tm is not None and cm.start() >= last:
                    start, end, ty = cm.start(), cend + 1, tm.group(1).strip()
        out.append(sql[last:start])
        null_branch = f"CAST(NULL AS {ty})" if ty is not None else p
        out.append(
            f"(CASE WHEN {p} IS NULL THEN {null_branch} ELSE raise_error("
            f"'Invalid type specifier \"{conv}\" for formatting"
            f" a value of type {label}') END)"
        )
        last = end
    out.append(sql[last:])
    return "".join(out)


_QUANTIFIED_RE = re.compile(
    r"(=|!=|<>|<=|>=|<|>)\s*(ANY|ALL|SOME)\s*\(", re.IGNORECASE
)


def _rewrite_quantified_subq(sql: str) -> str:
    """PG/DuckDB quantified comparisons against subqueries — Spark has
    no ANY/ALL/SOME comparison syntax:

    - ``x = ANY (sub)``   → ``x IN (sub)``
    - ``x <> ALL (sub)``  → ``x NOT IN (sub)``
    - other ops: the explicit three-way CASE over two correlated
      EXISTS probes (r12 sweep: duck returns the standard 3VL verdict
      — ``1 = ALL(SELECT 1 UNION ALL SELECT NULL)`` IS NULL): a
      definite violation/satisfaction decides, else an unknown-
      comparison row (or NULL needle against a non-empty subquery)
      yields NULL, else the empty/default verdict. The CASE is used in
      EVERY position — a cheaper single-EXISTS spine form is only
      sound at the TOP of the spine, and a NOT / IS NULL wrapper
      inverts its UNKNOWN→FALSE fold (third review r12); the extra
      probe scans the subquery twice, the price of exactness.
    - a bare NULL needle skips the IN shortcut too — Spark's
      projection-position IN folds its UNKNOWN to FALSE and the
      3VL-IN pass cannot scan keyword needles.
    """
    guard = 0
    skipped: set[int] = set()
    while guard < 50:
        guard += 1
        mask = _code_mask(sql)
        segs = _abs_segments(sql)
        m = next(
            (
                c
                for c in _QUANTIFIED_RE.finditer(sql)
                if all(mask[c.start() : c.end()]) and c.start() not in skipped
            ),
            None,
        )
        if m is None:
            return sql
        depth, i = 1, m.end()
        while i < len(sql) and depth:
            if mask[i]:
                if sql[i] == "(":
                    depth += 1
                elif sql[i] == ")":
                    depth -= 1
            i += 1
        if depth:
            return sql
        sub = sql[m.end() : i - 1].strip()
        if not re.match(r"(?i)^\s*(SELECT|WITH|VALUES|TABLE)\b", sub):
            skipped.add(m.start())  # list-valued ANY: loud passthrough
            continue
        ls = _scan_left_operand(sql, segs, m.start())
        if ls == m.start():
            # bare NULL/TRUE/FALSE needles: the generic left scan
            # refuses keyword operands, but they are legal here
            # (NULL = ALL(sub) IS NULL for non-empty sub — r12)
            km = re.search(
                r"(?i)\b(NULL|TRUE|FALSE)\s*$", sql[: m.start()]
            )
            if km is None or not all(
                mask[km.start(1) : km.end(1)]
            ):  # masked: a comment ending in NULL must not splice
                skipped.add(m.start())
                continue
            ls = km.start(1)
        lhs = sql[ls : m.start()].strip()
        op = m.group(1)
        quant = m.group(2).upper()
        null_needle = _is_null_lit(lhs)
        if op == "=" and quant in ("ANY", "SOME") and not null_needle:
            repl = f"{lhs} IN ({sub})"
        elif op in ("<>", "!=") and quant == "ALL" and not null_needle:
            repl = f"{lhs} NOT IN ({sub})"
        else:
            unk = (
                f"EXISTS (SELECT 1 FROM ({sub}) AS __qu(__v) "
                f"WHERE (({lhs}) {op} __v) IS NULL)"
            )
            if quant in ("ANY", "SOME"):
                hit = (
                    f"EXISTS (SELECT 1 FROM ({sub}) AS __q(__v) "
                    f"WHERE ({lhs}) {op} __v)"
                )
                repl = (
                    f"(CASE WHEN {hit} THEN TRUE WHEN {unk}"
                    f" THEN CAST(NULL AS BOOLEAN) ELSE FALSE END)"
                )
            else:
                miss = (
                    f"EXISTS (SELECT 1 FROM ({sub}) AS __q(__v) "
                    f"WHERE NOT (({lhs}) {op} __v))"
                )
                repl = (
                    f"(CASE WHEN {miss} THEN FALSE WHEN {unk}"
                    f" THEN CAST(NULL AS BOOLEAN) ELSE TRUE END)"
                )
        sql = sql[:ls] + repl + sql[i:]
        skipped = {s for s in skipped if s < ls}
    return sql


_POSITIONAL_RE = re.compile(r"\bPOSITIONAL\s+JOIN\b", re.IGNORECASE)
_TABLE_REF_RE = re.compile(
    r"[A-Za-z_][\w.]*(\s+(?:AS\s+)?[A-Za-z_]\w*)?", re.IGNORECASE
)


def _rewrite_positional_join(sql: str) -> str:
    """DuckDB ``A POSITIONAL JOIN B`` (row-by-row zip, padding the
    shorter side with NULLs) → FULL JOIN on per-side row_number.

    Scale note: positional semantics depend on row ORDER, so both sides
    are numbered through a single-partition window — inherently
    non-distributed, as on any engine. Fine for the wire-compat
    surface; large-scale zips should join on a key instead."""
    guard = 0
    while guard < 20:
        guard += 1
        mask = _code_mask(sql)
        segs = _abs_segments(sql)
        m = next(
            (
                c
                for c in _POSITIONAL_RE.finditer(sql)
                if all(mask[c.start() : c.end()])
            ),
            None,
        )
        if m is None:
            return sql
        ls = _scan_left_operand(sql, segs, m.start())
        if ls == m.start():
            return sql
        left = sql[ls : m.start()].strip()
        # right side: table name or parenthesized subquery, optional alias
        rs = _scan_right_operand(sql, segs, m.end())
        if rs == m.end():
            return sql
        right = sql[m.end() : rs].strip()
        am = _TABLE_FN_ALIAS_RE.match(sql, rs)
        if am and am.group(1).upper() not in _ALIAS_STOPWORDS and not am.group(2):
            rs = am.end()  # swallow the alias: both sides get renumbered
        num = "row_number() OVER (ORDER BY monotonically_increasing_id())"
        repl = (
            f"(SELECT * EXCEPT (__lpos, __rpos) FROM "
            f"(SELECT *, {num} AS __lpos FROM {left}) __pl "
            f"FULL JOIN (SELECT *, {num} AS __rpos FROM {right}) __pr "
            f"ON __pl.__lpos = __pr.__rpos) __pj"
        )
        sql = sql[:ls] + repl + " " + sql[rs:]
    return sql


_STRUCT_PACK_CALL = re.compile(r"(?<![\w.])struct_pack\s*\(", re.IGNORECASE)


def _rewrite_struct_pack(sql: str) -> str:
    """``struct_pack(a := 1, b := x)`` → ``named_struct('a', 1, 'b', x)``."""
    guard = 0
    while guard < 50:
        guard += 1
        mask = _code_mask(sql)
        m = next(
            (
                c
                for c in _STRUCT_PACK_CALL.finditer(sql)
                if all(mask[c.start() : c.end()])
            ),
            None,
        )
        if m is None:
            return sql
        depth, i = 1, m.end()
        while i < len(sql) and depth:
            if mask[i]:
                if sql[i] == "(":
                    depth += 1
                elif sql[i] == ")":
                    depth -= 1
            i += 1
        if depth:
            return sql
        pairs = []
        for a in split_top_level(sql[m.end() : i - 1]):
            pm = re.match(r"^\s*([A-Za-z_]\w*)\s*:=\s*(.+)$", a, re.DOTALL)
            if not pm:
                return sql  # not the := form: loud downstream
            pairs.append(f"'{pm.group(1)}', {pm.group(2).strip()}")
        sql = sql[: m.start()] + f"named_struct({', '.join(pairs)})" + sql[i:]
    return sql


_UNION_FN_CALL = re.compile(
    r"(?<![\w.])union_(value|tag|extract)\s*\(", re.IGNORECASE
)


def _rewrite_union_fns(sql: str) -> str:
    """DuckDB UNION-type surface over tagged structs:

    - ``union_value(tag := e)`` → ``named_struct('__utag','tag','tag',e)``
    - ``union_tag(u)``          → ``(u).__utag``
    - ``union_extract(u,'t')``  → ``(u).t``

    The wire renderer prints a ``__utag`` struct as its active member's
    text (typemap.encode_text), matching how DuckDB renders a union as
    the value itself. Member-set unification across branches (a CASE
    whose arms carry different tags, UNION of union columns) is NOT
    emulated — Spark's type checker rejects those loudly, and a missing
    tag in union_extract fails in Spark's resolver like DuckDB's
    binder. Probe case: ``SELECT union_value(num := 2)`` → ``2``."""
    guard = 0
    while guard < 100:
        guard += 1
        mask = _code_mask(sql)
        m = next(
            (
                c
                for c in _UNION_FN_CALL.finditer(sql)
                if all(mask[c.start() : c.end()])
            ),
            None,
        )
        if m is None:
            return sql
        kind = m.group(1).lower()
        depth, i = 1, m.end()
        while i < len(sql) and depth:
            if mask[i]:
                if sql[i] == "(":
                    depth += 1
                elif sql[i] == ")":
                    depth -= 1
            i += 1
        if depth:
            return sql
        args = split_top_level(sql[m.end() : i - 1])
        if kind == "value":
            pm = re.match(
                r"^\s*([A-Za-z_]\w*)\s*:=\s*(.+)$", args[0], re.DOTALL
            ) if len(args) == 1 else None
            if not pm:
                return sql  # not the tag := expr form: loud downstream
            tag, expr = pm.group(1), pm.group(2).strip()
            repl = f"named_struct('__utag', '{tag}', '{tag}', {expr})"
        elif kind == "tag":
            if len(args) != 1:
                return sql
            repl = f"({args[0].strip()}).__utag"
        else:  # extract
            tm = re.match(r"^\s*'(\w+)'\s*$", args[1]) if len(args) == 2 else None
            if not tm:
                return sql
            repl = f"({args[0].strip()}).{tm.group(1)}"
        sql = sql[: m.start()] + repl + sql[i:]
    return sql


# databases attached via ATTACH (server/app.py registers them); used to
# strip DuckDB's explicit-schema spelling db.main.t → db.t, since the
# Spark analogue of an attached DuckDB database is a database/namespace
# with no intermediate schema level
ATTACHED_DBS: set[str] = set()


def _rewrite_attached_main(sql: str) -> str:
    if not ATTACHED_DBS or ".main." not in sql.lower():
        return sql
    mask = _code_mask(sql)

    def sub(m: re.Match) -> str:
        if not all(mask[m.start() : m.end()]):
            return m.group(0)
        if m.group(1).lower() in ATTACHED_DBS:
            return f"{m.group(1)}.{m.group(2)}"
        return m.group(0)

    return re.sub(r"\b(\w+)\.main\.(\w+)", sub, sql)


# a denominator that is one of these bare words is not an operand at
# all (LIMIT 10% OFFSET 3 — the % is DuckDB's percent-limit, and the
# right-operand scanner would otherwise swallow the clause keyword)
_DIV_STOP_WORDS = frozenset(
    """offset order limit fetch from where group having window union
    intersect except qualify for settings as on using join inner left
    right full cross when then else end and or not between in is
    asc desc nulls""".split()
)

_NONZERO_NUM_RE = re.compile(r"^[+-]?\d+(?:\.\d+)?$")
_DIV_OP_RE = re.compile(r"/(?!/)|%|\bDIV\b", re.IGNORECASE)


_SINGLE_SLASH_RE = re.compile(r"(?<!/)/(?!/)")

# decimal-typed operand TEXT: a plain decimal literal (no exponent —
# eE forms are DOUBLE in DuckDB), a ::DECIMAL/::NUMERIC cast tail, or
# a CAST(… AS DECIMAL/NUMERIC…) head
_DECIMALISH_LIT_RE = re.compile(r"[+-]?(?:\d+\.\d*|\.\d+)")
_DECIMALISH_TAIL_RE = re.compile(
    r"::\s*(?:DECIMAL|NUMERIC)\s*(?:\(\s*\d+\s*(?:,\s*\d+\s*)?\))?\s*$",
    re.IGNORECASE,
)
_DECIMALISH_CAST_RE = re.compile(
    r"^(?:TRY_)?CAST\s*\(.*\bAS\s+(?:DECIMAL|NUMERIC)\b",
    re.IGNORECASE | re.DOTALL,
)


def _decimalish(s: str) -> bool:
    s = s.strip()
    # strip balanced outer parens: the operand scan hands back
    # "(7.5)" for paren groups
    while len(s) >= 2 and s[0] == "(" and s[-1] == ")":
        d = 0
        for i, c in enumerate(s):
            if c == "(":
                d += 1
            elif c == ")":
                d -= 1
                if d == 0 and i < len(s) - 1:
                    break
        else:
            s = s[1:-1].strip()
            continue
        break
    if (
        _DECIMALISH_LIT_RE.fullmatch(s)
        or _DECIMALISH_TAIL_RE.search(s)
        or _DECIMALISH_CAST_RE.match(s)
    ):
        return True
    # compound expressions: a bare decimal literal anywhere in CODE
    # (not inside a string) makes the tree decimal-typed in duck —
    # "(1.5 + 2.5)", "array(1.5)[1]" — EXCEPT interval arithmetic,
    # where a CAST(AS DOUBLE) would break a valid statement
    if "." in s and re.search(r"\bINTERVAL\b", s, re.IGNORECASE) is None:
        m2 = _code_mask(s)
        for lm in _DECIMALISH_LIT_RE.finditer(s):
            a, b = lm.start(), lm.end()
            if not all(m2[a:b]):
                continue
            if a > 0 and (s[a - 1].isalnum() or s[a - 1] in "_.$"):
                continue  # identifier tail / qualified name
            if b < len(s) and (s[b].isalnum() or s[b] in "_."):
                continue
            return True
    return False


def _rewrite_decimal_div(sql: str) -> str:
    """DuckDB's ``/`` ALWAYS divides as DOUBLE — ``1.0/3.0`` is
    0.3333333333333333 and DECIMAL(10,2)/DECIMAL(10,2) is a double —
    while Spark keeps DECIMAL division with its own scale rules
    ('0.333333'), a silent text divergence on the wire (decimal sweep,
    r11). Wrap the LEFT operand in CAST(… AS DOUBLE) when either side
    is decimal-typed TEXT (decimal literal without exponent, ::DECIMAL
    cast, CAST(… AS DECIMAL)); INT/INT needs nothing (Spark's ``/`` is
    already true division to DOUBLE). USER-ONLY pass: runs before any
    pass that emits verified ``/`` text of its own (`//`-fractional,
    epoch identities). DECIMAL COLUMNS are the schema-aware leg in the
    app pass (`rewrite_decimal_col_div`)."""
    if "/" not in sql:
        return sql
    segs = _abs_segments(sql)
    mask = _code_mask(sql)
    out: list[str] = []
    pos = 0
    for m in _SINGLE_SLASH_RE.finditer(sql):
        if m.start() < pos or not mask[m.start()]:
            continue
        ls = _scan_left_operand(sql, segs, m.start())
        re_ = _scan_right_operand(sql, segs, m.end())
        if ls >= m.start() or re_ <= m.end():
            continue
        # extend over :: cast chains: the tight scan stops at the
        # TYPE head of "1.5::DECIMAL(20,10)", losing the value part
        while True:
            k = ls
            while k > 0 and sql[k - 1].isspace():
                k -= 1
            if k >= 2 and sql[k - 2 : k] == "::":
                ls2 = _scan_left_operand(sql, segs, k - 2)
                if ls2 < k - 2:
                    ls = ls2
                    continue
            break
        lhs = sql[ls : m.start()].strip()
        rhs = sql[m.end() : re_].strip()
        if not (_decimalish(lhs) or _decimalish(rhs)):
            continue
        if _F32_CAST_UNIT_RE.fullmatch(lhs) or _F32_CAST_UNIT_RE.fullmatch(
            rhs
        ):
            # an f32 cast-unit operand makes duck's '/' FLOAT, not
            # DOUBLE (r16) — the comparison leg owns those sites
            continue
        out.append(sql[pos:ls])
        # the marker comment lets the f32 comparison leg (r16) see
        # through this SYNTHESIZED cast: a FLOAT column lhs keeps
        # duck's FLOAT division there, while user-written double
        # casts stay opaque f64
        out.append(f"CAST({lhs} /*__duck_ddiv*/ AS DOUBLE) / ")
        pos = m.end()
    out.append(sql[pos:])
    return "".join(out)


def _mentions_col(s: str, cols: set) -> bool:
    """Operand TEXT references one of the (lowercase) column names at
    word level, outside string literals."""
    low = s.lower()
    if not any(c in low for c in cols):
        return False
    m2 = _code_mask(s)
    for w in re.finditer(r"[A-Za-z_]\w*", s):
        if not all(m2[w.start() : w.end()]):
            continue
        if w.end() < len(s) and s[w.end()] == ".":
            continue  # qualifier (alias/table), not the column itself
        if w.group(0).lower() in cols:
            return True
    return False


def rewrite_decimal_col_div(sql: str, dec_cols: set) -> str:
    """Schema-aware leg of the duck-division rule: ``/`` over DECIMAL
    COLUMNS divides as DOUBLE in DuckDB while Spark keeps DECIMAL
    scale rules (decimal sweep, r11). Wraps the LEFT operand when
    either operand mentions a decimal column at word level (covers
    ``sum(dec)/n`` and ``(a*b)/c`` shapes); INTERVAL-bearing operands
    are left alone (a CAST would break them)."""
    if not dec_cols or "/" not in sql:
        return sql
    segs = _abs_segments(sql)
    mask = _code_mask(sql)
    out: list[str] = []
    pos = 0
    for m in _SINGLE_SLASH_RE.finditer(sql):
        if m.start() < pos or not mask[m.start()]:
            continue
        ls = _scan_left_operand(sql, segs, m.start())
        re_ = _scan_right_operand(sql, segs, m.end())
        if ls >= m.start() or re_ <= m.end():
            continue
        lhs = sql[ls : m.start()].strip()
        rhs = sql[m.end() : re_].strip()
        if re.search(r"\bINTERVAL\b", lhs, re.IGNORECASE):
            continue
        if lhs.lower().startswith("cast(") and lhs.rstrip().lower().endswith(
            "as double)"
        ):
            continue  # already wrapped (literal pass / earlier match)
        if not (_mentions_col(lhs, dec_cols) or _mentions_col(rhs, dec_cols)):
            continue
        out.append(sql[pos:ls])
        out.append(f"CAST({lhs} AS DOUBLE) / ")
        pos = m.end()
    out.append(sql[pos:])
    return "".join(out)


_AVG_HEAD_RE = re.compile(r"\b(?:avg|mean)\s*\(", re.IGNORECASE)


def rewrite_decimal_avg(sql: str, dec_cols: set) -> str:
    """DuckDB's avg/mean over DECIMAL is a DOUBLE ('1.875'); Spark's
    is DECIMAL(p+4, s+4) whose wire text carries trailing zeros
    ('1.875000') — silent text divergence (decimal sweep, r11). Wrap
    the aggregate ARGUMENT in CAST(… AS DOUBLE) when it mentions a
    decimal column (DISTINCT prefix preserved)."""
    if not dec_cols or _AVG_HEAD_RE.search(sql) is None:
        return sql
    mask = _code_mask(sql)
    out: list[str] = []
    pos = 0
    for m in _AVG_HEAD_RE.finditer(sql):
        if m.start() < pos or not all(mask[m.start() : m.end()]):
            continue
        dpt, i = 1, m.end()
        while i < len(sql) and dpt:
            if mask[i]:
                if sql[i] == "(":
                    dpt += 1
                elif sql[i] == ")":
                    dpt -= 1
            i += 1
        if dpt:
            continue
        arg = sql[m.end() : i - 1].strip()
        mdist = re.match(r"(?i)(DISTINCT|ALL)\s+(.*)$", arg, re.DOTALL)
        prefix, core = (
            (mdist.group(1) + " ", mdist.group(2)) if mdist else ("", arg)
        )
        if core == "*" or not _mentions_col(core, dec_cols):
            continue
        if core.lower().startswith("cast(") and core.rstrip().lower().endswith(
            "as double)"
        ):
            continue
        out.append(sql[pos : m.end()])
        out.append(f"{prefix}CAST({core} AS DOUBLE)")
        pos = i - 1
    out.append(sql[pos:])
    return "".join(out)


_ILIKE_OP_RE = re.compile(r"\b(NOT\s+)?ILIKE\b", re.IGNORECASE)


def _rewrite_ilike_fold(sql: str) -> str:
    """DuckDB's ILIKE folds with the Unicode SIMPLE mapping
    ('İ' ILIKE 'i' is true); Spark's ILIKE lowercases with Java's
    FULL mapping ('İ' → 'i̇', no match) — probed r11 string-edges.
    Rewrite ``a [NOT] ILIKE b [ESCAPE e]`` into duck-simple-lowered
    LIKE via the casefold translate sandwich on BOTH sides. LATE,
    all-inclusive pass: the operator pass (~~*) and ilike_escape
    template emit ILIKE of their own."""
    if re.search(r"\bILIKE\b", sql, re.IGNORECASE) is None:
        return sql
    from .casefold import wrap_case_call

    segs = _abs_segments(sql)
    mask = _code_mask(sql)
    out: list[str] = []
    pos = 0
    for m in _ILIKE_OP_RE.finditer(sql):
        if m.start() < pos or not all(mask[m.start() : m.end()]):
            continue
        ls = _scan_left_operand(sql, segs, m.start())
        re_ = _scan_right_operand(sql, segs, m.end())
        if ls >= m.start() or re_ <= m.end():
            continue
        lhs = sql[ls : m.start()].strip()
        rhs = sql[m.end() : re_].strip()
        tail = ""
        em = re.match(r"\s+ESCAPE\b", sql[re_:], re.IGNORECASE)
        end = re_
        if em:
            ee = _scan_right_operand(sql, segs, re_ + em.end())
            if ee > re_ + em.end():
                esc = sql[re_ + em.end() : ee].strip()
                # the fold lowercases the whole pattern but must copy
                # the ESCAPE literal verbatim — an alphabetic (or
                # non-literal) escape char would no longer pair with
                # its now-lowercased occurrences in the pattern body
                # (ADVICE r11). Leave native ILIKE in that case.
                lit = re.fullmatch(r"'((?:[^']|'')*)'", esc)
                if lit is None or any(c.isalpha() for c in lit.group(1)):
                    continue
                tail = f" ESCAPE {esc}"
                end = ee
        neg = "NOT " if m.group(1) else ""
        out.append(sql[pos:ls])
        out.append(
            f"({wrap_case_call('lower', lhs)} {neg}LIKE"
            f" {wrap_case_call('lower', rhs)}{tail})"
        )
        pos = end
    out.append(sql[pos:])
    return "".join(out)


def _rewrite_div_zero(sql: str) -> str:
    """DuckDB returns NULL for division/modulo by zero (probed: 1/0,
    1.0/0, 1%0, 1//0, fdiv/fmod(x,0) are all NULL); Spark's ANSI mode
    raises DIVIDE_BY_ZERO. Guard every /, % and emitted DIV by wrapping
    the DENOMINATOR in nullif(d, 0) — value-preserving for non-zero
    denominators, NULL like DuckDB at zero. Non-zero numeric-literal
    denominators are left untouched (no churn, nothing to guard), and
    an already-nullif'd denominator is not wrapped again (fixpoint)."""
    guard = 0
    while guard < 400:
        guard += 1
        segs = _abs_segments(sql)
        mask = list(_code_mask(sql))
        # backtick-quoted identifiers (file-path relations emitted by
        # the read_files pass) are NOT literals in _code_mask's eyes,
        # but their '/' characters are path separators, not division
        inb = False
        for bi, ch in enumerate(sql):
            if ch == "`":
                inb = not inb
                mask[bi] = False
            elif inb:
                mask[bi] = False
        new_sql = None
        for m in _DIV_OP_RE.finditer(sql):
            if not all(mask[m.start() : m.end()]):
                continue
            if m.group(0) == "/" and m.start() > 0 and sql[m.start() - 1] == "/":
                continue  # second char of a // the operators pass skipped
            re_ = _scan_right_operand(sql, segs, m.end())
            if re_ == m.end():
                continue
            right = sql[m.end() : re_].strip()
            if _NONZERO_NUM_RE.fullmatch(right) and float(right) != 0:
                continue
            if right.lower() in _DIV_STOP_WORDS:
                continue
            if re.match(r"nullif\s*\(", right, re.IGNORECASE) and re.search(
                r",\s*0\s*\)\s*$", right
            ):
                continue  # already guarded (ours or the user's own)
            new_sql = (
                sql[: m.end()] + " nullif(" + right + ", 0)" + sql[re_:]
            )
            break
        if new_sql is None:
            return sql
        sql = new_sql
    return sql


# clause words that terminate an ORDER BY sort-spec list at depth 0
_OB_STOP_WORDS = frozenset(
    """limit offset fetch rows range groups window union intersect
    except for settings""".split()
)


def _rewrite_order_by_nulls(sql: str) -> str:
    """DuckDB's default null sort order is NULLS LAST in BOTH
    directions (default_null_order = nulls_last; probed: ASC puts the
    NULL row last, DESC puts it last too); Spark's ASC default is
    NULLS FIRST. Append NULLS LAST to every ascending sort key without
    an explicit NULLS — top-level, subquery, window OVER, and WITHIN
    GROUP specs alike. DESC keys are left alone (both engines default
    nulls-last there). Runs late so emulation-generated ORDER BYs
    (DISTINCT ON / QUALIFY windows) pick DuckDB's row too."""
    if re.search(r"\bORDER\s+BY\b", sql, re.IGNORECASE) is None:
        return sql
    mask = _code_mask(sql)
    # per-position comment flag: a sort item may END with a trailing
    # '-- ...' / '/* */' comment; inserting after it would bury the
    # NULLS LAST inside the comment text
    cmask: list[bool] = []
    for kind, seg in _lex(sql):
        cmask.extend([kind == "comment"] * len(seg))
    edits: list[int] = []
    for m in re.finditer(r"\bORDER\s+BY\b", sql, re.IGNORECASE):
        if not all(mask[m.start() : m.end()]):
            continue
        depth, j, end = 0, m.end(), len(sql)
        commas: list[int] = []
        while j < len(sql):
            if mask[j]:
                c = sql[j]
                if c in "([":
                    depth += 1
                elif c in ")]":
                    if depth == 0:
                        end = j
                        break
                    depth -= 1
                elif c == ";" and depth == 0:
                    end = j
                    break
                elif c == "," and depth == 0:
                    commas.append(j)
                elif (
                    depth == 0
                    and (c.isalpha() or c == "_")
                    and not (
                        j > 0 and (sql[j - 1].isalnum() or sql[j - 1] == "_")
                    )
                ):
                    wm = re.match(r"[A-Za-z_]\w*", sql[j:])
                    if wm.group(0).lower() in _OB_STOP_WORDS:
                        end = j
                        break
                    j += len(wm.group(0)) - 1
            j += 1
        starts = [m.end()] + [c + 1 for c in commas]
        stops = commas + [end]
        for s0, s1 in zip(starts, stops):
            # trim trailing whitespace AND comments so the suffix
            # checks and the insertion point see only code
            ce = s1
            while ce > s0 and (sql[ce - 1].isspace() or cmask[ce - 1]):
                ce -= 1
            st = sql[s0:ce].strip()
            if not st or st.upper() == "ALL":
                continue
            if re.search(
                r"\bNULLS\s+(FIRST|LAST)\s*$", st, re.IGNORECASE
            ) or re.search(r"\bDESC\s*$", st, re.IGNORECASE):
                continue
            edits.append(ce)
    for pos in sorted(edits, reverse=True):
        sql = sql[:pos] + " NULLS LAST" + sql[pos:]
    return sql


# --------------------------------------------------------------------
# Composite (struct/list/map) equality is THREE-VALUED in DuckDB
# (probed, r10 sweep residue → closed r11): a NULL element at a
# position where the other side is non-NULL makes that element
# comparison NULL; the fold is a 3VL AND, so any definite element
# mismatch still wins as FALSE ((1,NULL)=(2,NULL) IS FALSE while
# (1,NULL)=(1,NULL) IS NULL). Lists compare FALSE on length mismatch
# first; maps compare their ENTRY LISTS positionally (probed:
# MAP([1,2],..)=MAP([2,1],..) IS FALSE); structs match fields by NAME
# ({'a':1,'b':2}={'b':2,'a':1} IS TRUE). Spark's =, by contrast, is
# structural 2VL (NULL elements compare equal) and rejects map =
# outright. These passes decompose composite =/<>/IN into the
# element-wise 3VL form.

_CMP_OP_RE = re.compile(r"<>|!=|==|(?<![<>!=:])=(?![=>])")
_COMPOSITE_HEAD_RE = re.compile(
    r"(named_struct|struct|row|array|list_value|list_pack|array_value|"
    r"map_from_arrays|map)\s*\(",
    re.IGNORECASE,
)
_COMP_STMT_HEAD_RE = re.compile(
    r"^\s*(?:SELECT|WITH|VALUES|TABLE|FROM|\()", re.IGNORECASE
)
# INSERT INTO … SELECT / CREATE TABLE|VIEW … AS SELECT carry a query
# body whose projection persists rows — without the composite 3VL
# passes, diverged values were written silently (ADVICE r11). UPDATE/
# MERGE stay excluded: their '=' spellings are assignments, not
# comparisons, and the SET/WHEN clause grammar would confuse the
# operand scanners.
_COMP_DML_HEAD_RE = re.compile(
    r"^\s*(?:INSERT\s+(?:OR\s+(?:REPLACE|IGNORE)\s+)?INTO"
    r"|CREATE\s+(?:OR\s+REPLACE\s+)?(?:GLOBAL\s+|LOCAL\s+)?"
    r"(?:TEMP(?:ORARY)?\s+)?(?:TABLE|VIEW)\b)",
    re.IGNORECASE,
)
_COMP_BODY_KW_RE = re.compile(r"\b(?:SELECT|WITH|VALUES|TABLE)\b", re.IGNORECASE)


def _comp_body_span(sql: str) -> tuple[int, int] | None:
    """(start, end) of the query body the composite/projection 3VL
    passes may rewrite, or None when the statement carries none they
    should touch. (0, len) for plain queries; for INSERT INTO … SELECT
    and CREATE … AS SELECT, the first depth-0 SELECT/WITH/VALUES/TABLE
    keyword after the head (the INSERT column list and any CTAS parens
    sit inside parens, so a depth-0 scan lands on the body). A body
    WRAPPED in parens — ``CREATE TABLE t AS (SELECT …)`` / ``INSERT
    INTO t (SELECT …)``, both duck-legal — unwraps to the inner span
    (review r12: the depth-0 scan alone skipped these, persisting
    Spark-2VL values one paren away from the fixed spelling)."""
    if _COMP_STMT_HEAD_RE.match(sql) is not None:
        return 0, len(sql)
    # UPDATE / MERGE expression surfaces (r13): duck SET expressions
    # are VALUE positions for the whole composite family — probed:
    # ``SET flag = (a = b)`` assigns 3VL NULL, ``SET flag = (1 IN
    # (SELECT NULL))`` assigns NULL, constructor-eq and IN-lists
    # likewise — and the WHERE tail inside the fragment classifies as
    # spine via the clause walk (eq stays native there, correctly).
    # The span INCLUDES the SET/USING keyword (the fragment's clause
    # walk needs to see it — the _ord_body_span lesson).
    first = sql.lstrip().split(None, 1)[0].upper() if sql.strip() else ""
    if first == "UPDATE":
        ss, _se = _find_keyword_span(sql, "SET")
        if ss != -1:
            return ss, len(sql)
        return None
    if first == "MERGE":
        us, _ue = _find_keyword_span(sql, "USING")
        if us != -1:
            return us, len(sql)
        return None
    if first in ("SET", "USING"):
        # a fragment this function itself carved from an UPDATE/MERGE
        # (the eq leg RECURSES into the fragment and re-derives the
        # span); a standalone `SET k = v` GUC statement is harmless
        # here — no constructor/complex operands ever match in one
        return 0, len(sql)
    hm = _COMP_DML_HEAD_RE.match(sql)
    if hm is None:
        return None
    mask = _code_mask(sql)
    depth = []
    d = 0
    for i, c in enumerate(sql):
        depth.append(d)
        if mask[i]:
            if c == "(":
                d += 1
            elif c == ")":
                d -= 1
    start = hm.end()
    if sql.lstrip()[:6].upper() == "CREATE":
        # CTAS/view body begins after the depth-0 AS (column lists and
        # OPTIONS sit inside parens)
        as_m = next(
            (
                a
                for a in re.finditer(r"\bAS\b", sql, re.IGNORECASE)
                if a.start() >= start
                and all(mask[a.start() : a.end()])
                and depth[a.start()] == 0
            ),
            None,
        )
        if as_m is None:
            return None
        start = as_m.end()
    for m in _COMP_BODY_KW_RE.finditer(sql, start):
        if all(mask[m.start() : m.end()]) and depth[m.start()] == 0:
            return m.start(), len(sql)
    # no bare depth-0 body keyword: look for a paren-WRAPPED body —
    # skip balanced groups (e.g. the INSERT column list); a group that
    # closes at the effective end of the statement is the wrapper
    n = len(sql)
    end = n
    while end > 0 and (sql[end - 1].isspace() or sql[end - 1] == ";"):
        end -= 1
    i = start
    # INSERT's head match ends before the target table name (CREATE's
    # start is already past AS) — step over the qualified name and an
    # optional BY NAME so the wrapper scan starts at the parens
    nm = re.match(
        r'\s*(?:"[^"]*"|`[^`]*`|[\w$]+)'
        r'(?:\.(?:"[^"]*"|`[^`]*`|[\w$]+))*'
        r"(\s+BY\s+NAME)?",
        sql[i:],
        re.IGNORECASE,
    )
    if nm is not None and sql.lstrip()[:6].upper() != "CREATE":
        i += nm.end()
    for _hop in range(8):  # nested wrappers: ((SELECT …))
        while end > i and (sql[end - 1].isspace() or sql[end - 1] == ";"):
            end -= 1  # inner spans may end in whitespace: '( (X) )'
        while i < end and sql[i].isspace():
            i += 1
        if i >= end or sql[i] != "(" or not mask[i]:
            return None
        # matching close of this group
        j, dd = i, 0
        while j < end:
            if mask[j]:
                if sql[j] == "(":
                    dd += 1
                elif sql[j] == ")":
                    dd -= 1
                    if dd == 0:
                        break
            j += 1
        if j >= end:
            return None
        if j == end - 1:
            # wrapper: body keyword must open the inner span
            inner = sql[i + 1 : j]
            km = _COMP_BODY_KW_RE.match(inner.lstrip())
            if km is not None:
                off = i + 1 + (len(inner) - len(inner.lstrip()))
                return off, j
            i += 1  # nested parens: descend
            end = j
            continue
        i = j + 1  # a mid-statement group (column list): skip it
    return None


def _paren_spans_balanced(s: str) -> bool:
    mask = _code_mask(s)
    d = 0
    for i, c in enumerate(s):
        if not mask[i]:
            continue
        if c in "([":
            d += 1
        elif c in ")]":
            d -= 1
            if d < 0:
                return False
    return d == 0


def _parse_composite(expr: str):
    """Structure tree of a composite CONSTRUCTOR expression, or None.

    Trees: ('struct', [(name|None, elem_sql, elem_tree), ...])
           ('array',  [(elem_sql, elem_tree), ...])
           ('map',    [(key_sql, key_tree, val_sql, val_tree), ...])
    Element trees are parsed recursively; an element that is not
    itself a constructor gets tree None (compared with plain =)."""
    e = expr.strip()
    m = _COMPOSITE_HEAD_RE.match(e)
    if m is not None and e.endswith(")"):
        inner = e[m.end() : -1]
        if not _paren_spans_balanced(inner):
            return None
        head = m.group(1).lower()
        args = [a.strip() for a in split_top_level(inner)]
        if args == [""]:
            args = []
        if head == "named_struct":
            if len(args) % 2 != 0 or not args:
                return None
            fields = []
            for k, v in zip(args[::2], args[1::2]):
                qm = re.fullmatch(r"'((?:[^']|'')*)'", k)
                if qm is None:
                    return None
                fields.append(
                    (qm.group(1).replace("''", "'"), v, _parse_composite(v))
                )
            return ("struct", fields)
        if head in ("struct", "row"):
            if not args:
                return None
            return ("struct", [(None, a, _parse_composite(a)) for a in args])
        if head in ("array", "list_value", "list_pack", "array_value"):
            return ("array", [(a, _parse_composite(a)) for a in args])
        if head == "map_from_arrays":
            if len(args) != 2:
                return None
            kt, vt = _parse_composite(args[0]), _parse_composite(args[1])
            if (
                kt is None or vt is None
                or kt[0] != "array" or vt[0] != "array"
                or len(kt[1]) != len(vt[1])
            ):
                return None
            return (
                "map",
                [
                    (ke, ktree, ve, vtree)
                    for (ke, ktree), (ve, vtree) in zip(kt[1], vt[1])
                ],
            )
        if head == "map":
            if len(args) % 2 != 0:
                return None
            return (
                "map",
                [
                    (k, _parse_composite(k), v, _parse_composite(v))
                    for k, v in zip(args[::2], args[1::2])
                ],
            )
        return None
    # duck ROW literal: a paren group with a top-level comma that is
    # not a subquery — Spark parses it natively as an (unnamed) struct
    if e.startswith("(") and e.endswith(")"):
        inner = e[1:-1]
        if not _paren_spans_balanced(inner):
            return None
        if re.match(r"\s*(SELECT|VALUES|WITH|TABLE|FROM)\b", inner, re.IGNORECASE):
            return None
        parts = [p.strip() for p in split_top_level(inner)]
        if len(parts) < 2 or any(p == "" for p in parts):
            return None
        return ("struct", [(None, p, _parse_composite(p)) for p in parts])
    return None


def _seq3(conds: list[str], base: str) -> str:
    """Sequential short-circuit 3VL fold (probed: DuckDB composite
    equality scans elements IN ORDER and the FIRST non-TRUE
    comparison decides — (NULL,2)=(1,3) IS NULL even though position
    2 definitely mismatches; [2,NULL]=[3,NULL] IS FALSE). A plain
    3VL AND would let a later FALSE override an earlier NULL."""
    expr = base
    for c in reversed(conds):
        expr = f"(CASE WHEN {c} THEN {expr} ELSE ({c}) END)"
    return expr


def _eq3_pairs(at, bt, d: int = 0) -> str | None:
    """3VL equality of two parsed constructor trees (both literal
    shapes known — no outer NULL guard: constructors are never NULL).
    Returns None when the pair is not decomposable (mismatched struct
    shapes that DuckDB would reject anyway — left for the loud
    analyzer). Lists/maps compare their common prefix sequentially;
    only a fully-TRUE prefix falls through to the length verdict
    (probed: [NULL,1]=[2] IS NULL, [1,NULL]=[1] IS FALSE)."""
    if at[0] != bt[0]:
        return None
    if at[0] == "struct":
        af, bf = at[1], bt[1]
        if len(af) != len(bf):
            return None
        if all(n is not None for n, _, _ in af) and all(
            n is not None for n, _, _ in bf
        ):
            bmap = {n.lower(): (e, t) for n, e, t in bf}
            if sorted(bmap) != sorted(n.lower() for n, _, _ in af):
                return None
            pairs = [(ae, atr, *bmap[n.lower()]) for n, ae, atr in af]
        else:
            pairs = [
                (ae, atr, be, btr)
                for (_, ae, atr), (_, be, btr) in zip(af, bf)
            ]
        subs = [_eq3_any(pa, pat, pb, pbt, d + 1) for pa, pat, pb, pbt in pairs]
        if any(s is None for s in subs):
            return None
        return _seq3(subs, "TRUE")
    if at[0] == "array":
        ae, be = at[1], bt[1]
        k = min(len(ae), len(be))
        subs = [
            _eq3_any(x, xt, y, yt, d + 1)
            for (x, xt), (y, yt) in zip(ae[:k], be[:k])
        ]
        if any(s is None for s in subs):
            return None
        return _seq3(subs, "TRUE" if len(ae) == len(be) else "FALSE")
    if at[0] == "map":
        ae, be = at[1], bt[1]
        k = min(len(ae), len(be))
        subs = []
        for (ak, aktr, av, avtr), (bk, bktr, bv, bvtr) in zip(ae[:k], be[:k]):
            ks = _eq3_any(ak, aktr, bk, bktr, d + 1)
            vs = _eq3_any(av, avtr, bv, bvtr, d + 1)
            if ks is None or vs is None:
                return None
            subs.extend([ks, vs])
        return _seq3(subs, "TRUE" if len(ae) == len(be) else "FALSE")
    return None


def _eq3_mixed(t, b: str, d: int = 0) -> str | None:
    """3VL equality of a parsed constructor tree vs an OPAQUE
    expression of the same (unresolved) type. Structs need field
    names; lists/maps go positional through element_at, with the
    bound check woven INTO the sequential scan (the length verdict
    only applies after a fully-TRUE prefix; element_at stays guarded
    so ANSI mode can't raise on the short side)."""
    if t[0] == "struct":
        if any(n is None for n, _, _ in t[1]):
            return None
        subs = [
            _eq3_any(ae, atr, f"({b}).`{n}`", None, d + 1)
            for n, ae, atr in t[1]
        ]
        if any(s is None for s in subs):
            return None
        return (
            f"(CASE WHEN ({b}) IS NULL THEN CAST(NULL AS BOOLEAN) "
            f"ELSE {_seq3(subs, 'TRUE')} END)"
        )
    if t[0] in ("array", "map"):
        n = len(t[1])
        if t[0] == "array":
            steps = [
                [(ee, et, f"element_at({b}, {i + 1})")]
                for i, (ee, et) in enumerate(t[1])
            ]
        else:
            steps = [
                [
                    (ke, ktr, f"element_at(map_keys({b}), {i + 1})"),
                    (ve, vtr, f"element_at(map_values({b}), {i + 1})"),
                ]
                for i, (ke, ktr, ve, vtr) in enumerate(t[1])
            ]
        expr = f"(size({b}) = {n})"
        for i in range(n - 1, -1, -1):
            conds = []
            for le, lt, acc in steps[i]:
                c = _eq3_any(le, lt, acc, None, d + 1)
                if c is None:
                    return None
                conds.append(c)
            inner = _seq3(conds, expr)
            expr = f"(CASE WHEN size({b}) < {i + 1} THEN FALSE ELSE {inner} END)"
        return (
            f"(CASE WHEN ({b}) IS NULL THEN CAST(NULL AS BOOLEAN) "
            f"ELSE {expr} END)"
        )
    return None


def _eq3_any(a: str, at, b: str, bt, d: int = 0) -> str | None:
    if d > 4:
        # each _seq3 level embeds its conditions twice, so generated
        # SQL grows ~2^depth — past this cap the comparison falls back
        # to Spark-native rather than risk a megabyte plan (review
        # r11; DuckDB users do not nest row literals 5 deep)
        return None
    if at is None and bt is None:
        return f"(({a}) = ({b}))"
    if at is not None and bt is not None:
        return _eq3_pairs(at, bt, d)
    # composite vs a bare NULL literal: the comparison is NULL, and
    # the mixed form would feed an untyped VOID into size/element_at
    # (analyzer error — fuzz-net find, r11)
    if at is not None:
        if _is_null_lit(b):
            return "CAST(NULL AS BOOLEAN)"
        return _eq3_mixed(at, b, d)
    if _is_null_lit(a):
        return "CAST(NULL AS BOOLEAN)"
    return _eq3_mixed(bt, a, d)


_VARCHAR_COLON_CAST_RE = re.compile(
    r"::\s*(?:VARCHAR|STRING|TEXT|BPCHAR|CHAR)(?:\s*\(\s*\d+\s*\))?(?![\w(])",
    re.IGNORECASE,
)
_CAST_HEAD_RE = re.compile(r"\b(?:TRY_)?CAST\s*\(", re.IGNORECASE)
_VARCHAR_TYPE_TAIL_RE = re.compile(
    r"^(?:VARCHAR|STRING|TEXT|BPCHAR|CHAR)(?:\s*\(\s*\d+\s*\))?$",
    re.IGNORECASE,
)


# Function heads that always return a composite (array/map/struct) —
# a cast of such a call to VARCHAR routes through the duck renderer
# even though the call is not a literal constructor.
_COMPOSITE_FN_HEAD_RE = re.compile(
    r"^(?:arrays_zip|zip_with|sequence|slice|flatten|split|sort_array|"
    r"transform|filter|collect_list|collect_set|array_agg|"
    r"array_append|array_prepend|array_compact|array_distinct|"
    r"array_except|array_insert|array_intersect|array_remove|"
    r"array_repeat|array_union|str_to_map|map_concat|map_entries|"
    r"map_filter|map_zip_with|transform_keys|transform_values|"
    r"map_keys|map_values|from_json|explode"
    # duck spellings still unrenamed at this point in the chain (the
    # _FN_RENAMES loop runs last)
    r"|list_zip|list_sort|list_reverse_sort|list_transform|list_filter|"
    r"list_append|list_prepend|list_concat|array_concat|array_cat|"
    r"list_distinct|list_slice|list_resize|map_from_entries|range|"
    r"generate_series|string_to_array|string_split|str_split|"
    r"regexp_split_to_array|list_reverse|array_reverse"
    r")\s*\(",
    re.IGNORECASE,
)


_TS_OPERAND_RE = re.compile(
    r"(?is)^\s*(?:"
    r"(?:TIMESTAMPTZ|TIMESTAMP|DATE|TIME)\s*'(?:[^']|'')*'"
    r"|(?:TRY_)?CAST\s*\(.*\s+AS\s+(?:TIMESTAMP\w*|DATE|TIME)\s*\)"
    r"|.*::\s*(?:TIMESTAMP\w*|DATE|TIME)"
    r"|(?:to_timestamp|make_timestamp|to_date|make_date|now|"
    r"current_timestamp|current_date)\s*\(.*\)"
    r"|(?:now|current_timestamp|current_date)"
    r")\s*$"
)


_DATE_ONLY_OPERAND_RE = re.compile(
    r"(?is)^\s*(?:DATE\s*'(?:[^']|'')*'"
    r"|(?:TRY_)?CAST\s*\(.*\s+AS\s+DATE\s*\)"
    r"|.*::\s*DATE"
    r"|(?:to_date|make_date|current_date)\s*\(.*\)"
    r"|current_date)\s*$"
)


def _tsdiff_head(head: str, typer=None) -> bool:
    """True when ``head`` is a temporal SUBTRACTION ``A - B`` — the
    one day-time-interval provenance whose duck components equal the
    canonical 24h-truncating split of the total (probed r16). A/B
    validate syntactically (temporal literal/cast/constructor) or via
    the analysis typer ('atomic' here can only be a temporal operand:
    the WHOLE expression already typed day-time interval, and an
    atomic-minus-atomic that yields one is temporal-temporal)."""
    s = head.strip()
    while (
        len(s) >= 2 and s[0] == "(" and s[-1] == ")"
        and _paren_balanced(s[1:-1])
    ):
        s = s[1:-1].strip()
    mask = _code_mask(s)
    d = 0
    for i, ch in enumerate(s):
        if not mask[i]:
            continue
        if ch == "(":
            d += 1
        elif ch == ")":
            d -= 1
        elif ch == "-" and d == 0 and i > 0:
            nxt = s[i + 1] if i + 1 < len(s) else ""
            if nxt in ">-" or s[i - 1] in "<-":
                continue
            a, b = s[:i], s[i + 1 :]
            if not a.strip() or not b.strip():
                continue
            ok = 0
            n_date = 0
            for side in (a, b):
                if _TS_OPERAND_RE.match(side):
                    ok += 1
                    if _DATE_ONLY_OPERAND_RE.match(side):
                        n_date += 1
                elif typer is not None and typer(f"({side})") == "atomic":
                    ok += 1
            if ok == 2 and n_date < 2:
                # DATE - DATE is a BIGINT day count in duck, not an
                # interval — never an interval-render head
                return True
    return False


def _ivl_prov_split(op: str, typer=None):
    """(ld_days, lus_micros) when ``op`` is ± sums of day-time
    INTERVAL literals around EXACTLY ONE canonical-provenance head (a
    temporal subtraction); None otherwise. Components add linearly,
    so the head's sign and the literals' positions don't matter — the
    render kernel subtracts the literal offsets from Spark's total,
    re-splits, and adds them back."""
    s = op.strip()
    while (
        len(s) >= 2 and s[0] == "(" and s[-1] == ")"
        and _paren_balanced(s[1:-1])
    ):
        s = s[1:-1].strip()
    mask = _code_mask(s)
    terms: list[tuple[int, str]] = []
    d = 0
    sign = 1
    start = 0
    i = 0
    while i < len(s):
        ch = s[i]
        if mask[i]:
            if ch == "(":
                d += 1
            elif ch == ")":
                d -= 1
            elif ch in "+-" and d == 0 and i > start:
                nxt = s[i + 1] if i + 1 < len(s) else ""
                prev = s[i - 1] if i > 0 else ""
                if not (ch == "-" and (nxt in ">-" or prev in "<-")):
                    seg = s[start:i].strip()
                    if seg:
                        terms.append((sign, seg))
                        sign = -1 if ch == "-" else 1
                        start = i + 1
        i += 1
    seg = s[start:].strip()
    if seg:
        terms.append((sign, seg))
    if len(terms) < 2:
        return None
    pre = [0, 0, 0]
    post = [0, 0, 0]
    n_post = 0
    run: list[tuple[int, str]] = []
    run_done = False
    for sg, term in terms:
        toks = _ivl_tokenize(term)
        if toks:
            val, pos2 = _ivl_parse_sum(toks, 0)
            if val is not None and pos2 == len(toks):
                acc = post if run else pre
                for ci in range(3):
                    acc[ci] += sg * val[ci]
                if run:
                    run_done = True
                    n_post += 1
                continue
        if run_done:
            return None  # non-contiguous opaque terms
        run.append((sg, term))
    if not run:
        return None
    # the opaque run must BE (±)(A - B): a single parenthesized term,
    # or exactly two terms of opposite sign (linearity makes the
    # overall sign irrelevant — components subtract cleanly).
    # Left-associativity decides what a PRE-head literal means: before
    # a bare `tsA - tsB` it folds INTO the timestamp (part of the
    # canonical total — zero offset); before a parenthesized interval
    # head it is an interval+interval component addition (offset).
    if len(run) == 1:
        head = run[0][1]
        lm = pre[0] + post[0]
        ld = pre[1] + post[1]
        lus = pre[2] + post[2]
        if not any(pre) and n_post == 0:
            return None  # no literal terms at all
    elif len(run) == 2 and run[0][0] != run[1][0]:
        head = f"{run[0][1]} - {run[1][1]}"
        if n_post == 0:
            return None  # pre-head literals only: already canonical
        lm, ld, lus = post
    else:
        return None
    if lm != 0:
        return None
    if not _tsdiff_head(head, typer):
        return None
    return ld, lus


_SCALAR_VC_COLON_RE = re.compile(
    r"((?:[A-Za-z_]\w*\.)*[A-Za-z_]\w*)\s*::\s*STRING\b"
)
_SCALAR_VC_CAST_RE = re.compile(
    r"(?i)\bCAST\s*\(\s*((?:[A-Za-z_]\w*\.)*[A-Za-z_]\w*)\s+AS\s+STRING\s*\)"
)


def _scalar_vc_repl(op: str, kind: str, typer=None) -> str:
    if kind == "f64":
        return (
            f"(CASE WHEN {op} IS NULL THEN CAST(NULL AS STRING)"
            f" ELSE duck_double_text(CAST({op} AS DOUBLE)) END)"
        )
    if kind == "f32":
        return (
            f"(CASE WHEN {op} IS NULL THEN CAST(NULL AS STRING)"
            f" ELSE duck_float32_text(CAST({op} AS FLOAT)) END)"
        )
    if kind in ("dtivl", "ym"):
        # literal-only interval ARITHMETIC folds with duck's component
        # semantics at rewrite time (r15, VERDICT item 3): Spark's
        # single-micros value would re-componentize 25 HOUR + 0 DAY as
        # '1 day 01:00:00' where duck keeps '25:00:00'
        folded = _fold_interval_expr(op)
        if folded is not None:
            return "'" + folded.replace("'", "''") + "'"
    if kind == "dtivl":
        prov = _ivl_prov_split(op, typer)
        if prov is not None:
            # temporal-subtraction provenance ± interval literals
            # (r16, VERDICT item 3): duck's components never
            # renormalize — ts1 - ts2 + INTERVAL 25 HOUR renders
            # '3 days 27:00:00', not '4 days 03:00:00'
            return (
                f"duck_dtivl_text_prov(CAST({op} AS STRING),"
                f" {prov[0]}, {prov[1]})"
            )
        return f"duck_dtivl_text(CAST({op} AS STRING))"
    return f"duck_ym_text(CAST({op} AS STRING))"  # ym


def rewrite_scalar_varchar_cols(sql: str, kinds: dict[str, str]) -> str:
    """Schema leg (r14): ``col::VARCHAR`` / ``CAST(col AS VARCHAR)``
    where col is a known DOUBLE / FLOAT / interval COLUMN renders duck
    text — Spark's cast gives Java float text ('1.0E20') and its own
    interval spelling ("INTERVAL '3' DAY"). Runs on the post-rename
    text (VARCHAR family is already STRING); user ``concat()`` args are
    covered for free (the null-skip lowering emits CAST(arg AS STRING)
    per argument). ``kinds``: lowercase base name → f64|f32|dtivl|ym.
    SINGLE-pass application — the emitted kernels embed identifier
    casts of their own and must not re-match."""
    if not kinds or "STRING" not in sql.upper():
        return sql
    mask = _code_mask(sql)
    edits: list[tuple[int, int, str]] = []
    for pat in (_SCALAR_VC_COLON_RE, _SCALAR_VC_CAST_RE):
        for m in pat.finditer(sql):
            if not all(mask[m.start() : m.end()]):
                continue
            base = m.group(1).split(".")[-1].lower()
            kind = kinds.get(base)
            if kind is None:
                continue
            edits.append((m.start(), m.end(), _scalar_vc_repl(m.group(1), kind)))
    if not edits:
        return sql
    out: list[str] = []
    pos = 0
    for s, e, repl in sorted(edits):
        if s < pos:
            continue
        out.append(sql[pos:s])
        out.append(repl)
        pos = e
    out.append(sql[pos:])
    return "".join(out)


_PIPE_LIST_CTOR_RE = re.compile(
    r"(?i)^\s*(?:array|array_repeat|sequence)\s*\("
)
_PIPE_NONLIST_CTOR_RE = re.compile(
    r"(?i)^\s*(?:named_struct|struct|map|map_from_arrays"
    r"|map_from_entries|str_to_map)\s*\("
)
_PIPE_CTOR_HEADS = frozenset({
    "array", "array_repeat", "sequence", "named_struct", "struct",
    "map", "map_from_arrays", "map_from_entries", "str_to_map",
})

_PIPE_LSTR_COL_RE = re.compile(
    r"(?:^|[(,;]|\|\||\b(?:SELECT|THEN|ELSE|WHEN|AND|OR|WHERE)\b)\s*"
    r"((?:[A-Za-z_]\w*\.)*[A-Za-z_]\w*)\s*$",
    re.IGNORECASE,
)
_PIPE_RSTR_COL_RE = re.compile(
    r"\s*((?:[A-Za-z_]\w*\.)*[A-Za-z_]\w*)(?![\w.(:])(?!\s*[*/%+\-\[])"
)


_ARR_STR_CAST_RE = re.compile(
    r"(?i)::\s*ARRAY<\s*STRING\s*>"
)


def rewrite_array_string_casts(sql: str, typer) -> str:
    """Element-wise VARCHAR[] casts of special-element arrays render
    duck text per element (r15 probe: ([1e20, 1.5])::VARCHAR[] is
    ['1e+20', '1.5'] in duck; Spark's ARRAY<STRING> cast gives Java
    '1.0E20'). ``typer`` resolves the operand to ("arr", elem-kind);
    f64/f32/interval element kinds rewrite to a transform() over the
    matching kernel. Atomic/complex elements keep the native cast."""
    if typer is None or re.search(
        r"(?i)ARRAY<\s*STRING\s*>", sql
    ) is None:
        return sql

    # Python UDFs cannot run INSIDE Spark lambda functions, so the
    # element mapping happens in dedicated ARRAY kernels fed Spark's
    # own ARRAY<STRING> cast (exact round-trip element texts, NULL
    # elements preserved)
    _ARR_KERNELS = {
        "f64": "duck_double_text_arr",
        "f32": "duck_float32_text_arr",
        "dtivl": "duck_dtivl_text_arr",
        "ym": "duck_ym_text_arr",
    }

    def kern(elem_kind: str) -> str | None:
        return _ARR_KERNELS.get(elem_kind)

    guard = 0
    while guard < 50:
        guard += 1
        mask = _code_mask(sql)
        hit = None
        for m in re.finditer(r"(?i)\b(?:TRY_)?CAST\s*\(", sql):
            if not all(mask[m.start() : m.end()]):
                continue
            close = _match_paren(sql, mask, m.end() - 1)
            if close is None:
                continue
            inner = sql[m.end() : close]
            am = None
            for c in re.finditer(
                r"(?i)\s+AS\s+ARRAY<\s*STRING\s*>\s*$", inner
            ):
                if _paren_balanced(inner[: c.start()]):
                    am = c
            if am is None:
                continue
            op = inner[: am.start()].strip()
            if "duck_" in op or "__vce" in op:
                continue
            if re.search(r"duck_\w+_arr\(\s*$", sql[: m.start()]):
                continue  # our own emitted inner cast — terminal
            tk = typer(op)
            if not (isinstance(tk, tuple) and tk[0] == "arr"):
                continue
            fn = kern(tk[1])
            if fn is None:
                continue
            hit = (
                m.start(),
                close + 1,
                f"{fn}(CAST({op} AS ARRAY<STRING>))",
            )
            break
        if hit is None:
            break
        s, e, repl = hit
        sql = sql[:s] + repl + sql[e:]
    guard = 0
    while guard < 50:
        guard += 1
        mask = _code_mask(sql)
        hit = None
        for m in _ARR_STR_CAST_RE.finditer(sql):
            if not all(mask[m.start() : m.start() + 2]):
                continue
            start = _cast_chain_operand_start(sql, mask, m.start())
            if start is None:
                continue
            op = sql[start : m.start()].strip()
            if not op or "duck_" in op or "__vce" in op:
                continue
            tk = typer(op)
            if not (isinstance(tk, tuple) and tk[0] == "arr"):
                continue
            fn = kern(tk[1])
            if fn is None:
                continue
            hit = (
                start,
                m.end(),
                f"{fn}(CAST({op} AS ARRAY<STRING>))",
            )
            break
        if hit is None:
            return sql
        s, e, repl = hit
        sql = sql[:s] + repl + sql[e:]
    return sql


def rewrite_pipe_concat_special_cols(
    sql: str, kinds: dict[str, str], complex_cols=frozenset(),
    cf32_cols=frozenset(), typer=None, typer_factory=None,
    str_cols=frozenset(), array_cols=frozenset(),
) -> str:
    """Schema leg (r14, generalized r15): duck's ``||`` stringifies
    BOTH operands with its own text unless both sides are LISTS
    (probed: 1e20 || 1.5 = '1e+201.5', [1,2] || 3 = '[1, 2]3',
    INTERVAL 1 DAY || INTERVAL 2 HOUR = '1 day02:00:00'; only
    list||list concatenates). So a special-typed SCALAR operand
    (f64/f32/day-time/ym — via a kinds column, a paren-group resolved
    by the analysis typer, or an INTERVAL literal) always renders with
    the duck kernels; a COMPLEX column operand renders only when the
    OTHER side is known non-list (string/number literal, string/kinds
    column, or an already-rendered kernel call) — array||array must
    stay native list concat. The typer is built LAZILY via
    ``typer_factory`` on the first candidate (ADVICE item 4), and
    groups pay a probe only when their text can plausibly be special
    (interval/cast/float tokens or a known column name)."""
    if "||" not in sql or not (kinds or complex_cols or typer_factory):
        return sql
    # the analysis typer is (re)built over the CURRENT text: earlier
    # replacements can be exactly what makes the statement ANALYZE
    # (st renders first in `(f*2-1) || st`, and only then does the
    # probe of the float group resolve — r15 fuzz find). The factory
    # takes the current text; rebuilds happen only when it changed.
    typer_state: dict = {"sql": None, "typer": typer}

    def get_typer():
        if typer is not None:
            return typer
        if typer_factory is None:
            return None
        if typer_state["sql"] != sql:
            typer_state["typer"] = typer_factory(sql)
            typer_state["sql"] = sql
        return typer_state["typer"]

    def scalarish(side_txt: str, at_tail: bool) -> bool:
        """Other-side classification for the COMPLEX-column legs:
        True when that operand is known NOT to be a list."""
        t = side_txt.rstrip() if at_tail else side_txt.lstrip()
        if at_tail:
            if re.search(r"'(?:[^']|'')*'\s*$", t):
                return True
            if re.search(r"(?<![\w.])\d+\.?\d*(?:[eE][+-]?\d+)?\s*$", t):
                return True
            if t.endswith(")") and "duck_" in t[-400:]:
                # an already-rendered kernel call (duck_varchar(...),
                # the CASE-guarded float/interval kernels) — match the
                # closing paren back to its group and check the head
                mask_t = _code_mask(t)
                open_i = _match_paren_back(t, mask_t, len(t) - 1)
                if open_i is not None:
                    head = t[:open_i].rstrip()
                    if re.search(r"duck_\w+$", head) or t[
                        open_i : open_i + 5
                    ].upper() == "(CASE":
                        return True
            m2 = _PIPE_LSTR_COL_RE.search(t)
            if m2 is not None:
                b = m2.group(1).split(".")[-1].lower()
                return (
                    b in str_cols
                    or b in kinds
                    or (b in complex_cols and b not in array_cols)
                )
            return False
        if re.match(r"'", t):
            return True
        if re.match(r"\d+\.?\d*(?:[eE][+-]?\d+)?(?![\w.])", t):
            return True
        if re.match(r"(?i)[-+( ]*INTERVAL\b", t) or re.match(
            r"(?i)(?:duck_\w+|\(CASE)\b", t
        ):
            return True
        m2 = _PIPE_RSTR_COL_RE.match(t)
        if m2 is not None:
            b = m2.group(1).split(".")[-1].lower()
            return (
                b in str_cols
                or b in kinds
                or (b in complex_cols and b not in array_cols)
            )
        return False

    def grp_candidate(grp: str) -> bool:
        """Textual gate before a typer probe on a paren group."""
        low = grp.lower()
        if re.search(
            r"(?i)\binterval\b|::|\bcast\s*\(|\d[eE][+-]?\d", low
        ):
            return True
        toks = set(re.findall(r"[a-z_]\w*", low))
        return bool(toks & set(kinds)) or bool(toks & set(complex_cols))

    guard = 0
    while guard < 50:
        guard += 1
        mask = _code_mask(sql)
        hit = None
        for m in re.finditer(r"\|\|", sql):
            if not all(mask[m.start() : m.start() + 2]):
                continue
            left = sql[: m.start()]
            right = sql[m.start() + 2 :]
            # the column must be the WHOLE operand: a tighter-binding
            # operator after it means the operand is larger; bail
            rm_ = re.match(
                r"\s*((?:[A-Za-z_]\w*\.)*[A-Za-z_]\w*)"
                r"(?![\w.(:])(?!\s*[*/%+\-\[])",
                right,
            )
            if rm_:
                col = rm_.group(1)
                base = col.split(".")[-1].lower()
                kind = kinds.get(base)
                repl = None
                if kind is not None:
                    # scalar special: duck stringifies it regardless
                    # of the other side (r15)
                    repl = _scalar_vc_repl(col, kind)
                elif base in complex_cols and (
                    base not in array_cols or scalarish(left, True)
                ):
                    # struct/map operands ALWAYS stringify (only
                    # list||list concatenates); an ARRAY operand needs
                    # a known non-list other side
                    fn = (
                        "duck_varchar_f32"
                        if base in cf32_cols
                        else "duck_varchar"
                    )
                    repl = f"{fn}({col})"
                if repl is not None:
                    s = m.start() + 2 + rm_.start(1)
                    e = m.start() + 2 + rm_.end(1)
                    hit = (s, e, repl)
                    break
            cm_r = _PIPE_LIST_CTOR_RE.match(right) or (
                _PIPE_NONLIST_CTOR_RE.match(right)
            )
            if cm_r is not None:
                # composite CONSTRUCTOR right operand (r15): structs/
                # maps always stringify; an array constructor needs a
                # known non-list other side (list||list concatenates)
                open_i = m.end() + cm_r.end() - 1
                close = _match_paren(sql, mask, open_i)
                if close is not None:
                    nxt = _skip_ws(sql, close + 1)
                    follows_op = (
                        nxt < len(sql)
                        and sql[nxt] in "*/%+-["
                        and sql[nxt : nxt + 2] != "||"
                    )
                    span = sql[m.end() : close + 1].strip()
                    is_list = _PIPE_LIST_CTOR_RE.match(span) is not None
                    if not follows_op and "duck_" not in span and (
                        not is_list or scalarish(left, True)
                    ):
                        hit = (
                            m.end(),
                            close + 1,
                            f" duck_varchar({span}) ",
                        )
                        break
            if re.match(r"(?i)\s*[-+(]*\s*INTERVAL\b", right):
                # INTERVAL literal right operand (scalar: always
                # stringifies — r15)
                end_r, ops_r = _pipe_operand_span(
                    sql, mask, m.start() + 2
                )
                span = sql[m.start() + 2 : end_r].strip()
                if (
                    re.match(r"(?i)^[-+( ]*INTERVAL\b", span)
                    and "duck_" not in span
                ):
                    folded = _fold_interval_expr(span)
                    repl = (
                        "'" + folded.replace("'", "''") + "'"
                        if folded is not None
                        else (
                            _vc_kernel_repl(span) if ops_r == 0 else None
                        )
                    )
                    if repl is not None:
                        hit = (m.start() + 2, end_r, f" {repl} ")
                        break
            pm = re.match(r"\s*\(", right)
            if pm is not None:
                # paren-group right operand: the analysis typer
                # resolves the expression's kind; scalar special kinds
                # render unconditionally (r15)
                open_i = m.start() + 2 + pm.end() - 1
                close = _match_paren(sql, mask, open_i)
                if close is not None:
                    grp = sql[open_i : close + 1]
                    nxt = _skip_ws(sql, close + 1)
                    follows_op = (
                        nxt < len(sql)
                        and sql[nxt] in "*/%+-["
                        and sql[nxt : nxt + 2] != "||"
                    )
                    if (
                        not follows_op
                        and "duck_" not in grp
                        and grp_candidate(grp)
                    ):
                        t_ = get_typer()
                        tk = t_(grp) if t_ is not None else None
                        if tk in ("f64", "f32", "dtivl", "ym"):
                            hit = (
                                open_i,
                                close + 1,
                                _scalar_vc_repl(grp, tk),
                            )
                            break
            chain = _collect_array_chain(
                sql, mask, m.start(), m.end(), array_cols
            )
            if chain is not None:
                # list||list CHAIN (r15 fuzz find, seed 14): duck's
                # LIST concat SKIPS NULL operands (NULL||[7] = [7];
                # all-NULL → NULL) where Spark's concat propagates —
                # and a chain adjacent to a further non-list || operand
                # stringifies as ONE combined list, so rendering any
                # single element would split it.
                c_start, c_stop, elems = chain
                text = sql[c_start:c_stop]
                if "duck_" not in text and "__lcx" not in text:
                    nullc = " AND ".join(
                        f"({e}) IS NULL" for e in elems
                    )
                    expr = (
                        f"CASE WHEN {nullc} THEN NULL ELSE"
                        f" flatten(filter(array({', '.join(elems)}),"
                        f" __lcx -> __lcx IS NOT NULL)) END"
                    )
                    before_c = sql[:c_start].rstrip()
                    nxt_c = _skip_ws(sql, c_stop)
                    adj = before_c.endswith("||") or (
                        sql[nxt_c : nxt_c + 2] == "||"
                    )
                    if adj:
                        # a non-list operand beyond the chain (it
                        # would be IN the chain otherwise): the
                        # combined list stringifies
                        expr = f"duck_varchar({expr})"
                    hit = (c_start, c_stop, f" ({expr}) ")
                    break
            lm2 = re.search(
                r"(?:^|[(,;]|\b(?:SELECT|THEN|ELSE|WHEN)\b)\s*"
                r"((?:[A-Za-z_]\w*\.)*[A-Za-z_]\w*)\s*$",
                left,
                re.IGNORECASE,
            )
            if lm2 and all(mask[lm2.start(1) : m.start()]):
                col = lm2.group(1)
                base = col.split(".")[-1].lower()
                kind = kinds.get(base)
                repl = None
                if kind is not None:
                    repl = _scalar_vc_repl(col, kind)
                elif base in complex_cols and (
                    base not in array_cols or scalarish(right, False)
                ):
                    fn = (
                        "duck_varchar_f32"
                        if base in cf32_cols
                        else "duck_varchar"
                    )
                    repl = f"{fn}({col})"
                if repl is not None:
                    hit = (lm2.start(1), lm2.end(1), repl)
                    break
            if left.rstrip().endswith(")"):
                # paren-group LEFT operand — same typer resolution;
                # the group must be the whole operand (a tighter-
                # binding operator before it means a sub-expression)
                close_i = len(left.rstrip()) - 1
                open_i = _match_paren_back(sql, mask, close_i)
                if open_i is not None:
                    prev_txt = sql[:open_i].rstrip()
                    if prev_txt and (
                        prev_txt[-1].isalnum() or prev_txt[-1] == "_"
                    ):
                        wm2 = re.search(r"[A-Za-z_]\w*$", prev_txt)
                        if wm2 is not None and wm2.group(0).lower() in (
                            _PIPE_CTOR_HEADS
                        ):
                            # composite CONSTRUCTOR left operand (r15)
                            span = sql[wm2.start() : close_i + 1]
                            is_list = (
                                _PIPE_LIST_CTOR_RE.match(span) is not None
                            )
                            if "duck_" not in span and (
                                not is_list or scalarish(right, False)
                            ):
                                hit = (
                                    wm2.start(),
                                    close_i + 1,
                                    f" duck_varchar({span}) ",
                                )
                                break
                        prev_ok = (
                            wm2 is not None
                            and wm2.group(0).lower() in _PIPE_PRE_GROUP_KW
                        )
                    else:
                        prev_ok = not prev_txt or prev_txt[
                            -1
                        ] not in "*/%+-[.)]`'\""
                    grp = sql[open_i : close_i + 1]
                    if (
                        prev_ok
                        and "duck_" not in grp
                        and grp_candidate(grp)
                    ):
                        t_ = get_typer()
                        tk = t_(grp) if t_ is not None else None
                        if tk in ("f64", "f32", "dtivl", "ym"):
                            hit = (
                                open_i,
                                close_i + 1,
                                _scalar_vc_repl(grp, tk),
                            )
                            break
            ls, lops = _pipe_left_operand_span(sql, mask, m.start())
            lspan = sql[ls : m.start()].strip()
            if (
                re.match(r"(?i)^[-+( ]*INTERVAL\b", lspan)
                and "duck_" not in lspan
            ):
                # INTERVAL literal LEFT operand (scalar: always
                # stringifies — r15)
                folded = _fold_interval_expr(lspan)
                repl = (
                    "'" + folded.replace("'", "''") + "'"
                    if folded is not None
                    else (_vc_kernel_repl(lspan) if lops == 0 else None)
                )
                if repl is not None:
                    hit = (ls, m.start(), f" {repl} ")
                    break
        if hit is None:
            return sql
        s, e, repl = hit
        sql = sql[:s] + repl + sql[e:]
    return sql


_PIPE_PRE_GROUP_KW = frozenset({
    "select", "distinct", "all", "when", "then", "else", "and", "or",
    "where", "having", "on", "by", "set", "union", "intersect",
    "except", "returning", "not", "in",
})


def _collect_array_chain(
    sql: str, mask: list[bool], m_start: int, m_end: int, array_cols
):
    """Maximal ``||``-chain around the operator at [m_start, m_end)
    whose EVERY element is array-ish (a known array column or a list
    constructor) — (start, stop, elems) or None (r15)."""
    if not array_cols and "array" not in sql.lower():
        return None

    def arrish(e: str) -> bool:
        if re.fullmatch(r"[A-Za-z_][\w.]*", e):
            return e.split(".")[-1].lower() in array_cols
        if _PIPE_LIST_CTOR_RE.match(e) is not None:
            return True
        core = e
        while (
            core.startswith("(")
            and core.endswith(")")
            and _paren_balanced(core[1:-1])
        ):
            core = core[1:-1].strip()
        if re.search(r"(?i)::\s*ARRAY<[^>]*>\s*$", core):
            return True
        return (
            re.match(r"(?i)^(?:TRY_)?CAST\s*\(", core) is not None
            and re.search(r"(?i)AS\s+ARRAY<[^>]*>\s*\)\s*$", core)
            is not None
        )

    # BOTH immediate operands must be array-ish for this || to be a
    # list concat at all; then extend outward while operands stay so
    ls, _ = _pipe_left_operand_span(sql, mask, m_start)
    lseg = sql[ls:m_start].strip()
    end, _ = _pipe_operand_span(sql, mask, m_end)
    rseg = sql[m_end:end].strip()
    if not lseg or not rseg or not arrish(lseg) or not arrish(rseg):
        return None
    elems = [lseg, rseg]
    start, stop = ls, end
    guard = 0
    while guard < 20:
        guard += 1
        before = sql[:start].rstrip()
        if not before.endswith("||"):
            break
        ls2, _ = _pipe_left_operand_span(sql, mask, len(before) - 2)
        seg = sql[ls2 : len(before) - 2].strip()
        if not seg or not arrish(seg):
            break
        elems.insert(0, seg)
        start = ls2
    guard = 0
    while guard < 20:
        guard += 1
        nxt = _skip_ws(sql, stop)
        if sql[nxt : nxt + 2] != "||":
            break
        end2, _ = _pipe_operand_span(sql, mask, nxt + 2)
        seg = sql[nxt + 2 : end2].strip()
        if not seg or not arrish(seg):
            break
        elems.append(seg)
        stop = end2
    return start, stop, elems


def _match_paren_back(
    sql: str, mask: list[bool], close_i: int
) -> int | None:
    """Index of the ``(`` matching the ``)`` at ``close_i`` (r15)."""
    depth = 0
    for j in range(close_i, -1, -1):
        if not mask[j]:
            continue
        if sql[j] == ")":
            depth += 1
        elif sql[j] == "(":
            depth -= 1
            if depth == 0:
                return j
    return None


def rewrite_composite_varchar(
    sql: str, complex_cols=frozenset(), f32_cols=frozenset(), typer=None
) -> str:
    """``expr::VARCHAR`` / ``CAST(expr AS VARCHAR)`` where expr is a
    composite → ``duck_varchar(expr)``, DuckDB's text rendering
    (probed: lists ``[1, x y, NULL]`` with BARE elements, structs
    ``{'a': 1}``, rows ``(1, x)``, maps ``{1=x}`` — Spark's CAST
    renders ``{1, x y}`` without keys and quotes nothing). Composite
    operands are detected syntactically (constructor heads, paren
    rows); ``complex_cols`` adds schema-resolved array/struct/map
    COLUMN names when the app layer calls this from its catalog-aware
    pass (empty on the type-blind rewrite() invocation)."""
    if (
        _VARCHAR_COLON_CAST_RE.search(sql) is None
        and _CAST_HEAD_RE.search(sql) is None
    ):
        return sql

    def render_fn(op: str) -> str | None:
        """duck_varchar spelling for a composite operand, or None."""
        op = op.strip()
        if _parse_composite(op) is not None or _COMPOSITE_FN_HEAD_RE.match(
            op
        ):
            return "duck_varchar"
        if re.fullmatch(r"[A-Za-z_][\w.]*", op):
            low = op.split(".")[-1].lower()
            if low in f32_cols:
                # float32 leaves render with single-precision
                # shortest-round-trip text (duck: [-0.15469436], not
                # the widened float64 digits)
                return "duck_varchar_f32"
            if low in complex_cols:
                return "duck_varchar"
        if typer is not None:
            # opaque complex-typed EXPRESSIONS (r13 continuation):
            # slices, coalesce/if heads, split() products, derived-
            # table aliases outside the catalog — the analysis typer
            # resolves composite-ness (the app call site short-
            # circuits known-atomic catalog columns so bare atomic
            # casts never pay a probe). Pure literals / typed
            # literals / params are atomic by shape — never probe
            # (third review r13: `'x'::VARCHAR` paid an analysis
            # round-trip per statement)
            if (
                _BOOL_STR_LIT_RE.fullmatch(op)
                or re.fullmatch(r"[Ee]'(?:[^']|'')*'", op)
                or _NUM_LIT_RE.fullmatch(op)
                or re.fullmatch(r"[-+]?\d+(?:\.\d+)?[eE][-+]?\d+", op)
                or op.upper() in ("NULL", "TRUE", "FALSE")
                or re.fullmatch(r"\$\d+|\?", op)
                or re.match(
                    r"(?i)(DATE|TIME|TIMESTAMP|INTERVAL)\s*'", op
                )
            ):
                return None
            tk = typer(op)
            if tk == "cf32":
                return "duck_varchar_f32"
            if tk == "complex":
                return "duck_varchar"
            if tk in ("f64", "f32", "dtivl", "ym"):
                # scalar special kinds (r14): typed EXPRESSIONS render
                # through the duck kernels; the replacement is a full
                # expression, not a function name
                return ("scalar", tk)
        return None

    segs = _abs_segments(sql)
    mask = _code_mask(sql)
    out: list[str] = []
    pos = 0
    edits: list[tuple[int, int, str]] = []
    for m in _VARCHAR_COLON_CAST_RE.finditer(sql):
        if not all(mask[m.start() : m.end()]):
            continue
        ls = _scan_left_operand(sql, segs, m.start())
        if ls >= m.start():
            continue
        op = sql[ls : m.start()].strip()
        fn = render_fn(op)
        if fn is None:
            continue
        edits.append((
            ls, m.end(),
            _scalar_vc_repl(f"({op})", fn[1], typer)
            if isinstance(fn, tuple) else f"{fn}({op})",
        ))
    for m in _CAST_HEAD_RE.finditer(sql):
        if not all(mask[m.start() : m.end()]):
            continue
        depth, i = 1, m.end()
        while i < len(sql) and depth:
            if mask[i]:
                if sql[i] == "(":
                    depth += 1
                elif sql[i] == ")":
                    depth -= 1
            i += 1
        if depth:
            continue
        inner = sql[m.end() : i - 1]
        imask = mask[m.end() : i - 1]
        d = 0
        last_as = None
        for am in re.finditer(r"\bAS\b", inner, re.IGNORECASE):
            if not all(imask[am.start() : am.end()]):
                continue
            seg = inner[: am.start()]
            d = 0
            for k, ch in enumerate(seg):
                if imask[k]:
                    if ch in "([":
                        d += 1
                    elif ch in ")]":
                        d -= 1
            if d == 0:
                last_as = am
        if last_as is None:
            continue
        if _VARCHAR_TYPE_TAIL_RE.match(inner[last_as.end() :].strip()) is None:
            continue
        op = inner[: last_as.start()].strip()
        fn = render_fn(op)
        if fn is None:
            continue
        edits.append((
            m.start(), i,
            _scalar_vc_repl(f"({op})", fn[1], typer)
            if isinstance(fn, tuple) else f"{fn}({op})",
        ))
    if not edits:
        return sql
    edits.sort()
    # drop edits nested inside an earlier edit's span (a constructor
    # argument that itself contains a cast is rebuilt by the outer
    # replacement text, which keeps the inner cast verbatim)
    flat: list[tuple[int, int, str]] = []
    for a, b, r in edits:
        if flat and a < flat[-1][1]:
            continue
        flat.append((a, b, r))
    for a, b, r in flat:
        out.append(sql[pos:a])
        out.append(r)
        pos = b
    out.append(sql[pos:])
    return "".join(out)


_IN_SUBQ_HEAD_RE = re.compile(r"\b(NOT\s+)?IN\s*\(", re.IGNORECASE)
_CLAUSE_KW_RE = re.compile(
    r"\b(SELECT|WHERE|HAVING|QUALIFY|JOIN|ON|CASE|WHEN|THEN|ELSE|END|"
    r"GROUP|ORDER|RETURNING|SET|FROM|LIMIT|OFFSET|UNION|INTERSECT|"
    r"EXCEPT|VALUES|BY)\b",
    re.IGNORECASE,
)


def _rewrite_projection_in_subq(sql: str) -> str:
    """IN-SUBQUERY membership in PROJECTION position is 3-valued in
    DuckDB but Spark folds UNKNOWN to FALSE there (`SELECT 1 IN
    (SELECT NULL)` → false vs DuckDB NULL; WHERE-position forms use
    null-aware joins on both engines and already match — probed r10).
    Rewrite a SELECT-list `x [NOT] IN (SELECT …)` into the explicit
    3VL CASE: definite match → TRUE; empty subquery → FALSE; NULL
    needle or NULL-containing subquery with no match → NULL; else
    FALSE. Scalar needles only; the nearest same-depth clause keyword
    decides position (SELECT = projection)."""
    if re.search(r"\bIN\s*\(\s*(SELECT|WITH)\b", sql, re.IGNORECASE) is None:
        return sql
    span = _comp_body_span(sql)
    if span is None:
        return sql
    bs, be = span
    if bs or be < len(sql):
        return sql[:bs] + _rewrite_projection_in_subq(sql[bs:be]) + sql[be:]
    segs = _abs_segments(sql)
    mask = _code_mask(sql)
    depth: list[int] = []
    d = 0
    for i, c in enumerate(sql):
        if mask[i] and c == ")":
            d -= 1
        depth.append(d)
        if mask[i] and c == "(":
            d += 1
    clause_kws = [
        k
        for k in _CLAUSE_KW_RE.finditer(sql)
        if all(mask[k.start() : k.end()])
    ]
    out: list[str] = []
    pos = 0
    n_sub = 0
    for m in _IN_SUBQ_HEAD_RE.finditer(sql):
        if m.start() < pos or not all(mask[m.start() : m.end()]):
            continue
        if (
            re.match(r"\s*(SELECT|WITH)\b", sql[m.end() :], re.IGNORECASE)
            is None
        ):
            continue
        # projection position: enclosing clause keyword at the SAME
        # paren depth is SELECT (WHEN/WHERE/ON/... positions keep
        # Spark's native — and already matching — handling; completed
        # CASE…END blocks restore the outer context via the stack)
        if not _value_position(sql, mask, clause_kws, depth, m.start()):
            continue
        ls = _scan_left_operand(sql, segs, m.start())
        if ls >= m.start():
            continue
        needle = sql[ls : m.start()].strip()
        if _parse_composite(needle) is not None:
            continue  # multi-column needle: alias plumbing differs
        dpt, i = 1, m.end()
        while i < len(sql) and dpt:
            if mask[i]:
                if sql[i] == "(":
                    dpt += 1
                elif sql[i] == ")":
                    dpt -= 1
            i += 1
        if dpt:
            continue
        sub = sql[m.end() : i - 1]
        n_sub += 1
        a = f"__in3vl_{n_sub}"
        # Two embeds of the subquery, not three (review r11 second
        # pass): the native IN keeps Spark's null-aware join, and ONE
        # uncorrelated scalar aggregate folds the emptiness + null-
        # scan verdicts into a single extra scan (0 = empty, 1 = has
        # NULL, 2 = non-empty without NULLs). The needle stays in the
        # OUTER scope — moving it into the aggregate would break
        # outer-aggregate needles and hit Spark's correlated-scalar
        # restrictions.
        verdict = (
            f"(SELECT CASE WHEN count(*) = 0 THEN 0"
            f" WHEN sum(CASE WHEN __v IS NULL THEN 1 ELSE 0 END) > 0"
            f" THEN 1 ELSE 2 END FROM ({sub}) {a}(__v))"
        )
        in3 = (
            f"(CASE WHEN ({needle}) IN ({sub}) THEN TRUE"
            f" ELSE CASE {verdict} WHEN 0 THEN FALSE"
            f" WHEN 1 THEN CAST(NULL AS BOOLEAN)"
            f" ELSE CASE WHEN ({needle}) IS NULL"
            f" THEN CAST(NULL AS BOOLEAN) ELSE FALSE END END END)"
        )
        repl = f"(NOT {in3})" if m.group(1) else in3
        out.append(sql[pos:ls])
        out.append(repl)
        pos = i
    out.append(sql[pos:])
    return "".join(out)


def _typed_eq3(a: str, b: str, tree, d: int = 0) -> str:
    """Sequential-short-circuit 3VL equality of two OPAQUE expressions
    whose TYPE tree is known (schema-resolved complex columns). Trees:
    'atom' | ('array', elem) | ('struct', [(name, sub), ...]) |
    ('map', ktree, vtree). Runtime-length arrays use the filter trick:
    per-prefix-element verdicts in order, the first non-TRUE one (kept
    by ``NOT (p <=> TRUE)``) decides; an all-TRUE prefix falls through
    to the length verdict — exactly the probed DuckDB scan order."""
    if tree == "atom":
        return f"(({a}) = ({b}))"
    if tree[0] == "struct":
        conds = [
            _typed_eq3(f"({a}).`{n}`", f"({b}).`{n}`", sub, d + 1)
            for n, sub in tree[1]
        ]
        return (
            f"(CASE WHEN ({a}) IS NULL OR ({b}) IS NULL"
            f" THEN CAST(NULL AS BOOLEAN) ELSE {_seq3(conds, 'TRUE')} END)"
        )
    if tree[0] == "array":
        x, y, p = f"__cx{d}", f"__cy{d}", f"__cp{d}"
        m = f"least(size({a}), size({b}))"
        inner = _typed_eq3(x, y, tree[1], d + 1)
        fails = (
            f"filter(zip_with(slice({a}, 1, {m}), slice({b}, 1, {m}),"
            f" ({x}, {y}) -> {inner}), {p} -> NOT ({p} <=> TRUE))"
        )
        return (
            f"(CASE WHEN ({a}) IS NULL OR ({b}) IS NULL"
            f" THEN CAST(NULL AS BOOLEAN)"
            f" WHEN size({fails}) = 0 THEN size({a}) = size({b})"
            f" ELSE element_at({fails}, 1) END)"
        )
    if tree[0] == "map":
        # DuckDB compares the ENTRY LISTS positionally (probed), key
        # before value within each entry
        x, y, p = f"__cx{d}", f"__cy{d}", f"__cp{d}"
        ea, eb = f"map_entries({a})", f"map_entries({b})"
        m = f"least(size({a}), size({b}))"
        keq = _typed_eq3(f"{x}.key", f"{y}.key", tree[1], d + 1)
        veq = _typed_eq3(f"{x}.value", f"{y}.value", tree[2], d + 1)
        inner = f"(CASE WHEN {keq} THEN {veq} ELSE {keq} END)"
        fails = (
            f"filter(zip_with(slice({ea}, 1, {m}), slice({eb}, 1, {m}),"
            f" ({x}, {y}) -> {inner}), {p} -> NOT ({p} <=> TRUE))"
        )
        return (
            f"(CASE WHEN ({a}) IS NULL OR ({b}) IS NULL"
            f" THEN CAST(NULL AS BOOLEAN)"
            f" WHEN size({fails}) = 0 THEN size({a}) = size({b})"
            f" ELSE element_at({fails}, 1) END)"
        )
    return f"(({a}) = ({b}))"


_FLOOR_CEIL_RE = re.compile(
    r"\b(floor|ceil|ceiling)\s*\(\s*([A-Za-z_][\w.]*)\s*\)", re.IGNORECASE
)


def rewrite_double_floor_ceil(sql: str, double_cols: set) -> str:
    """DuckDB's floor/ceil on DOUBLE/FLOAT return the SAME floating
    type — floor(2.7::DOUBLE) = 2.0, floor('NaN') = NaN, floor(inf) =
    inf — while Spark's return BIGINT (NaN→0, inf overflows). For a
    bare floating-COLUMN argument (schema-resolved), wrap: non-finite
    and ≥2^63 magnitudes pass through (doubles ≥2^53 are already
    integers), the rest round through Spark's floor/ceil and cast
    back to DOUBLE. Zero results with a NEGATIVE input sign keep
    duck's ``-0.0`` (ceil of (-1,0] and floor/ceil of -0.0; the
    BIGINT round-trip would bleach the sign — second review r11); the
    string-cast prefix detects -0.0 itself ('-0.0') where an ANSI-mode
    division probe would raise DIVIDE_BY_ZERO. (float-edge sweep,
    r11)"""
    if not double_cols or _FLOOR_CEIL_RE.search(sql) is None:
        return sql
    mask = _code_mask(sql)

    def sub(m: re.Match) -> str:
        if not all(mask[m.start() : m.end()]):
            return m.group(0)
        fn, col = m.group(1).lower(), m.group(2)
        if col.split(".")[-1].lower() not in double_cols:
            return m.group(0)
        if fn == "ceiling":
            fn = "ceil"
        return (
            f"(CASE WHEN isnan({col}) OR abs({col}) >= 9.2e18 THEN"
            f" CAST({col} AS DOUBLE)"
            f" WHEN {fn}({col}) = 0"
            f" AND startswith(CAST({col} AS STRING), '-')"
            f" THEN CAST('-0.0' AS DOUBLE)"
            f" ELSE CAST({fn}({col}) AS DOUBLE) END)"
        )

    return _FLOOR_CEIL_RE.sub(sub, sql)


def rewrite_composite_col_eq(
    sql: str, complex_types: dict, typer=None
) -> str:
    """Schema-aware leg of the composite-3VL closure: ``col = expr`` /
    ``col <> expr`` where ``col`` is a complex-typed COLUMN (the
    type-blind pass in rewrite() already covers constructor-literal
    operands before this runs). PROJECTION position ONLY — DuckDB's
    filter path evaluates composite equality with the 2VL total-order
    comparison that Spark's native ``=`` already reproduces (probed
    context split, r11), and leaving WHERE/ON native also keeps
    complex-keyed equi-joins hash-joinable at scale. ``typer`` (r13):
    analysis-time fallback for opaque operands — see ``_typer_tree``."""
    if not complex_types and typer is None:
        return sql
    has_eq = _CMP_OP_RE.search(sql) is not None
    has_in = re.search(r"\bIN\s*\(", sql, re.IGNORECASE) is not None
    if not has_eq and not has_in:
        return sql
    span = _comp_body_span(sql)
    if span is None:
        return sql
    bs, be = span
    if bs or be < len(sql):
        return (
            sql[:bs]
            + rewrite_composite_col_eq(sql[bs:be], complex_types, typer)
            + sql[be:]
        )
    low = sql.lower()
    if not any(c in low for c in complex_types) and not (
        typer is not None and _COMPLEX_EXPR_HINT_RE.search(sql)
    ):
        return sql
    segs = _abs_segments(sql)
    mask = _code_mask(sql)
    depth: list[int] = []
    d = 0
    for i, ch in enumerate(sql):
        if mask[i] and ch == ")":
            d -= 1
        depth.append(d)
        if mask[i] and ch == "(":
            d += 1
    clause_kws = [
        k for k in _CLAUSE_KW_RE.finditer(sql) if all(mask[k.start() : k.end()])
    ]

    def tree_for(op: str):
        op = op.strip()
        if re.fullmatch(r"[A-Za-z_][\w.`]*", op.replace("`", "")):
            t = complex_types.get(op.split(".")[-1].strip("`").lower())
            if t == "ambig":
                # same name, different complex types across scopes
                # (r15, VERDICT item 7): a QUALIFIED reference resolves
                # through the joint-scope analysis typer; a bare one
                # fails the probe like duck's own ambiguity refusal
                return _typer_tree(op, complex_types, typer)
            # _typed_eq3/_seq3 duplicate subexpressions per level —
            # skip pathologically deep types (native fallback) rather
            # than emit ~2^depth SQL (review r11)
            if t is not None and _tree_depth_of(t) > 4:
                return None
            return t
        return _typer_tree(op, complex_types, typer)

    out: list[str] = []
    pos = 0
    for m in _CMP_OP_RE.finditer(sql):
        if m.start() < pos or not all(mask[m.start() : m.end()]):
            continue
        if m.group(0) == "=" and _is_set_assignment_eq(
            sql, mask, clause_kws, depth, m.start()
        ):
            continue  # SET assignment operator, not a comparison
        if not _value_position(sql, mask, clause_kws, depth, m.start()):
            continue
        ls = _scan_left_operand(sql, segs, m.start())
        rend = _scan_right_operand(sql, segs, m.end())
        if ls >= m.start() or rend <= m.end():
            continue
        lhs, rhs = sql[ls : m.start()].strip(), sql[m.end() : rend].strip()
        tree = tree_for(lhs) or tree_for(rhs)
        if tree is None:
            continue
        if _is_null_lit(lhs) or _is_null_lit(rhs):
            continue  # native NULL comparison is already NULL
        if _parse_composite(lhs) is not None or _parse_composite(rhs) is not None:
            continue  # the literal pass already owns constructor sides
        eq = _typed_eq3(lhs, rhs, tree)
        repl = f"(NOT {eq})" if m.group(0) in ("<>", "!=") else eq
        out.append(sql[pos:ls])
        out.append(repl)
        pos = rend
    out.append(sql[pos:])
    sql = "".join(out)
    # projection-position `col IN (items)` with a complex-typed column
    # needle: same 3VL OR-fold (the literal pass only sees constructor
    # needles)
    if re.search(r"\bIN\s*\(", sql, re.IGNORECASE) is None:
        return sql
    segs = _abs_segments(sql)
    mask = _code_mask(sql)
    depth = []
    d = 0
    for i, ch in enumerate(sql):
        if mask[i] and ch == ")":
            d -= 1
        depth.append(d)
        if mask[i] and ch == "(":
            d += 1
    clause_kws = [
        k for k in _CLAUSE_KW_RE.finditer(sql) if all(mask[k.start() : k.end()])
    ]
    out = []
    pos = 0
    for m in re.finditer(r"\b(NOT\s+)?IN\s*\(", sql, re.IGNORECASE):
        if m.start() < pos or not all(mask[m.start() : m.end()]):
            continue
        ls = _scan_left_operand(sql, segs, m.start())
        if ls >= m.start():
            continue
        needle = sql[ls : m.start()].strip()
        tree = tree_for(needle)
        if tree is None:
            continue
        if not _value_position(sql, mask, clause_kws, depth, ls):
            continue
        dpt, i = 1, m.end()
        while i < len(sql) and dpt:
            if mask[i]:
                if sql[i] == "(":
                    dpt += 1
                elif sql[i] == ")":
                    dpt -= 1
            i += 1
        if dpt:
            continue
        items = [a.strip() for a in split_top_level(sql[m.end() : i - 1])]
        if not items or any(not a for a in items):
            continue
        if re.match(
            r"\s*(SELECT|WITH|VALUES|TABLE|FROM)\b", items[0], re.IGNORECASE
        ):
            continue
        fold = "(" + " OR ".join(
            _typed_eq3(needle, it, tree) for it in items
        ) + ")"
        if m.group(1):
            fold = f"(NOT {fold})"
        out.append(sql[pos:ls])
        out.append(fold)
        pos = i
    out.append(sql[pos:])
    return "".join(out)


_OFFSET_LIMIT_RE = re.compile(
    r"\bOFFSET\s+(\d+)(\s*(?:ROWS?)?)\s+LIMIT\s+(\d+)", re.IGNORECASE
)


def _typed_cmp(a: str, b: str, tree, two: bool, d: int = 0) -> str:
    """Three-way compare (-1/0/1) of two OPAQUE expressions whose TYPE
    tree is known (schema-resolved complex columns) — the ordering
    analog of ``_typed_eq3``. ``two=False``: the probed 3VL value form
    (a NULL element pair or whole-NULL side yields NULL; an all-equal
    common prefix falls to the length verdict). ``two=True``: the
    probed filter-spine 2VL TOTAL ORDER with NULLs GREATEST (Spark's
    native order is NULLs-smallest, so the filter path rewrites too —
    unlike equality). Runtime-length arrays use the same filter trick:
    per-element three-way verdicts in order, the first non-zero one
    (NULL kept by ``NOT (p <=> 0)``) decides; an all-zero prefix falls
    through to the length verdict."""
    if tree == "atom":
        return _atom_cmp(a, b, two)
    if two and d > 0:
        # NESTED whole-NULL sides are GREATEST in the filter order;
        # only a top-level NULL operand is UNKNOWN (probed r12:
        # WHERE a > b excludes a IS NULL rows, but [[1],NULL] > [[1],[2]]
        # keeps its row)
        guard = (
            f"(CASE WHEN ({a}) IS NULL AND ({b}) IS NULL THEN 0"
            f" WHEN ({a}) IS NULL THEN 1 WHEN ({b}) IS NULL THEN -1"
            f" ELSE {{body}} END)"
        )
    else:
        guard = (
            f"(CASE WHEN ({a}) IS NULL OR ({b}) IS NULL"
            f" THEN CAST(NULL AS INT) ELSE {{body}} END)"
        )
    if tree[0] == "struct":
        conds = [
            _typed_cmp(f"({a}).`{n}`", f"({b}).`{n}`", sub, two, d + 1)
            for n, sub in tree[1]
        ]
        return guard.format(body=_cmp_fold(conds, "0"))
    x, y, p = f"__ox{d}", f"__oy{d}", f"__op{d}"
    if tree[0] == "array":
        ea, eb = a, b
        inner = _typed_cmp(x, y, tree[1], two, d + 1)
    elif tree[0] == "map":
        # DuckDB compares the ENTRY LISTS positionally (same probed
        # shape as equality), key before value within each entry
        ea, eb = f"map_entries({a})", f"map_entries({b})"
        kc = _typed_cmp(f"{x}.key", f"{y}.key", tree[1], two, d + 1)
        vc = _typed_cmp(f"{x}.value", f"{y}.value", tree[2], two, d + 1)
        inner = f"(CASE WHEN {kc} <=> 0 THEN {vc} ELSE {kc} END)"
    else:
        return _atom_cmp(a, b, two)
    m = f"least(size({ea}), size({eb}))"
    nz = (
        f"filter(zip_with(slice({ea}, 1, {m}), slice({eb}, 1, {m}),"
        f" ({x}, {y}) -> {inner}), {p} -> NOT ({p} <=> 0))"
    )
    body = (
        f"(CASE WHEN size({nz}) = 0 THEN"
        f" (CASE WHEN size({ea}) < size({eb}) THEN -1"
        f" WHEN size({ea}) > size({eb}) THEN 1 ELSE 0 END)"
        f" ELSE element_at({nz}, 1) END)"
    )
    return guard.format(body=body)


def rewrite_composite_col_ord(
    sql: str, complex_types: dict, typer=None
) -> str:
    """Schema-aware leg of the composite ORDERING closure: ``col <
    expr`` (and <= > >=) where an operand is a complex-typed COLUMN.
    Unlike the equality leg, BOTH position classes rewrite — value
    positions to the 3VL lexicographic form, the filter spine AND
    cond slots to the NULLs-GREATEST 2VL total order (Spark's native
    composite order is NULLs-smallest, probed r12). Same operand
    scanning and type-tree resolution as ``rewrite_composite_col_eq``;
    constructor-literal sides were handled by the type-blind pass in
    rewrite(). ``typer`` (r13): analysis-time fallback for operands
    the name lookup can't type — see ``_typer_tree``."""
    if (not complex_types and typer is None) or (
        _ORD_OP_RE.search(sql) is None
        and _COMP_BETWEEN_RE.search(sql) is None
    ):
        return sql
    span = _ord_body_span(sql)
    if span is None:
        return sql
    bs, be = span
    if bs or be < len(sql):
        # ungated worker — a bare WHERE-tail fragment has no head
        return (
            sql[:bs]
            + _rewrite_composite_col_ord_body(
                sql[bs:be], complex_types, typer
            )
            + sql[be:]
        )
    return _rewrite_composite_col_ord_body(sql, complex_types, typer)


# fn heads that PRODUCE a complex type from atomic inputs — the
# textual pre-filter deciding when the analysis-time typer (r13) is
# worth a probe for expressions referencing NO complex column (review
# r13 narrowed this from every type-preserving head: those cases all
# reference a complex column by name and the token check below covers
# them; min(sal)-style atomic aggregates must never pay an analysis
# round trip)
_COMPLEX_EXPR_HINT_RE = re.compile(
    r"(?i)\b(?:split|string_split|string_to_array|str_split"
    r"|regexp_split_to_array|sequence|from_json|collect_list"
    r"|collect_set|array_agg|list|str_to_map|map_from_entries"
    r"|map_from_arrays|histogram|arrays_zip)\s*\(",
)


def _tree_depth_of(t) -> int:
    if t == "atom" or t is None:
        return 0
    if t[0] == "array":
        return 1 + _tree_depth_of(t[1])
    if t[0] == "struct":
        return 1 + max((_tree_depth_of(s) for _, s in t[1]), default=0)
    if t[0] == "map":
        return 1 + max(_tree_depth_of(t[1]), _tree_depth_of(t[2]))
    return 0


def _typer_tree(op: str, complex_types: dict, typer):
    """Analysis-time fallback for operands the name lookup can't type
    (r13, VERDICT item 8): when the wire path supplies a ``typer``
    (app._make_expr_typer — hoists the expression into the statement's
    SELECT list and reads the ANALYZED schema, no execution), opaque
    complex-carrying expressions like ``coalesce(NULL, a)`` /
    ``if(c, a, b)`` / ``slice(a, 1, 2)`` / CASE results resolve to
    their true type tree. Textual pre-filter keeps the probe off
    plainly-atomic operands; same depth cap as the name leg."""
    if typer is None:
        return None
    # TOKEN match on complex column names, not substring ('a' must
    # not match inside 'max(sal)' — review r13): the operand either
    # references a complex column or carries a complex-producing head
    if not (
        _COMPLEX_EXPR_HINT_RE.search(op)
        or (
            complex_types
            and set(re.findall(r"[a-z_]\w*", op.lower()))
            & set(complex_types)
        )
    ):
        return None
    t = typer(op)
    if t is None or t == "atom" or _tree_depth_of(t) > 4:
        return None
    return t


def _col_tree_for(op: str, complex_types: dict):
    """Resolve a bare/qualified identifier to its complex type tree
    (depth-capped like the eq leg). The "ambig" marker (same name,
    different complex types across scopes — r15) resolves to None
    here; callers with a typer fall through to the analysis probe,
    which types QUALIFIED references exactly."""
    op = op.strip()
    if re.fullmatch(r"[A-Za-z_][\w.`]*", op.replace("`", "")):
        t = complex_types.get(op.split(".")[-1].strip("`").lower())
        if t == "ambig":
            return None
        if t is not None and _tree_depth_of(t) > 4:
            return None
        return t
    return None


def _rewrite_composite_col_between(
    sql: str, complex_types: dict, typer=None
) -> str:
    """Column-operand composite BETWEEN (r12 review): duck evaluates
    the 3VL conjunction in VALUE positions and the 2VL total order in
    CASE-WHEN/IF cond slots; the FILTER-spine column form is an
    'Invalid Type for BETWEEN' error in duck itself and stays native
    (documented leniency inversion)."""
    if _COMP_BETWEEN_RE.search(sql) is None:
        return sql
    segs = _abs_segments(sql)
    mask = _code_mask(sql)
    depth: list[int] = []
    d = 0
    for i, ch in enumerate(sql):
        if mask[i] and ch == ")":
            d -= 1
        depth.append(d)
        if mask[i] and ch == "(":
            d += 1
    clause_kws = [
        k for k in _CLAUSE_KW_RE.finditer(sql) if all(mask[k.start() : k.end()])
    ]
    out: list[str] = []
    pos = 0
    for m in _COMP_BETWEEN_RE.finditer(sql):
        if m.start() < pos or not all(mask[m.start() : m.end()]):
            continue
        if re.match(r"\s*SYMMETRIC\b", sql[m.end() :], re.IGNORECASE):
            continue
        ls = _scan_left_operand(sql, segs, m.start())
        if ls >= m.start():
            continue
        lo_end = _scan_right_operand(sql, segs, m.end())
        if lo_end <= m.end():
            continue
        am = re.match(r"\s+AND\s+", sql[lo_end:], re.IGNORECASE)
        if am is None:
            continue
        hi_start = lo_end + am.end()
        hi_end = _scan_right_operand(sql, segs, hi_start)
        if hi_end <= hi_start:
            continue
        needle = sql[ls : m.start()].strip()
        lo = sql[m.end() : lo_end].strip()
        hi = sql[hi_start:hi_end].strip()
        tree = (
            _col_tree_for(needle, complex_types)
            or _col_tree_for(lo, complex_types)
            or _col_tree_for(hi, complex_types)
            or _typer_tree(needle, complex_types, typer)
            or _typer_tree(lo, complex_types, typer)
            or _typer_tree(hi, complex_types, typer)
        )
        if tree is None:
            continue
        kind = _position_kind(sql, mask, clause_kws, depth, m.start())
        if kind == "spine":
            continue  # duck errors here; native keeps the loud class
        two = kind == "cond"
        c_lo = _typed_cmp(needle, lo, tree, two)
        c_hi = _typed_cmp(needle, hi, tree, two)
        body = f"((({c_lo}) >= 0) AND (({c_hi}) <= 0))"
        repl = f"(NOT {body})" if m.group(1) else body
        out.append(sql[pos:ls])
        out.append(repl)
        pos = hi_end
    out.append(sql[pos:])
    return "".join(out)


def _rewrite_composite_col_ord_body(
    sql: str, complex_types: dict, typer=None
) -> str:
    sql = _rewrite_composite_col_between(sql, complex_types, typer)
    low = sql.lower()
    if not any(c in low for c in complex_types) and not (
        typer is not None and _COMPLEX_EXPR_HINT_RE.search(sql)
    ):
        return sql
    segs = _abs_segments(sql)
    mask = _code_mask(sql)
    depth: list[int] = []
    d = 0
    for i, ch in enumerate(sql):
        if mask[i] and ch == ")":
            d -= 1
        depth.append(d)
        if mask[i] and ch == "(":
            d += 1
    clause_kws = [
        k for k in _CLAUSE_KW_RE.finditer(sql) if all(mask[k.start() : k.end()])
    ]

    def tree_for(op: str):
        return _col_tree_for(op, complex_types) or _typer_tree(
            op, complex_types, typer
        )

    out: list[str] = []
    pos = 0
    for m in _ORD_OP_RE.finditer(sql):
        if m.start() < pos or not all(mask[m.start() : m.end()]):
            continue
        ls = _scan_left_operand(sql, segs, m.start())
        rend = _scan_right_operand(sql, segs, m.end())
        if ls >= m.start() or rend <= m.end():
            continue
        lhs, rhs = sql[ls : m.start()].strip(), sql[m.end() : rend].strip()
        tree = tree_for(lhs) or tree_for(rhs)
        if tree is None:
            continue
        if _is_null_lit(lhs) or _is_null_lit(rhs):
            continue  # literal pass owns whole-NULL sides
        if _parse_composite(lhs) is not None or _parse_composite(rhs) is not None:
            continue  # the literal pass already owns constructor sides
        kind = _position_kind(sql, mask, clause_kws, depth, m.start())
        cmp_ = _typed_cmp(lhs, rhs, tree, two=(kind != "value"))
        out.append(sql[pos:ls])
        out.append(f"(({cmp_}) {m.group(1)} 0)")
        pos = rend
    out.append(sql[pos:])
    return "".join(out)



def _rewrite_offset_limit(sql: str) -> str:
    """DuckDB accepts ``OFFSET n LIMIT m`` in either order; Spark's
    parser requires LIMIT first (r11 alias/limit sweep). Swap the
    token pair — the sequence OFFSET <int> LIMIT <int> is unambiguous
    wherever it appears (top level or subquery tail)."""
    if _OFFSET_LIMIT_RE.search(sql) is None:
        return sql
    mask = _code_mask(sql)
    return _OFFSET_LIMIT_RE.sub(
        lambda m: (
            f"LIMIT {m.group(3)} OFFSET {m.group(1)}"
            if all(mask[m.start() : m.end()])
            else m.group(0)
        ),
        sql,
    )


_CONST_ATOM_RE = re.compile(
    r"^(?:NULL|TRUE|FALSE|[+-]?\d+(?:\.\d+)?(?:[eE][+-]?\d+)?"
    r"|'(?:[^']|'')*'(?:\s*::\s*\w+)?)$",
    re.IGNORECASE,
)


def _tree_is_const(t) -> bool:
    """Every leaf of a parsed constructor tree is a plain literal —
    the shapes DuckDB constant-folds BEFORE planning, which keeps the
    3VL expression semantics even in filter position (probed:
    ``WHERE [1,NULL]=[1,NULL]`` filters the row, while the same
    comparison over COLUMNS keeps it)."""
    if t is None:
        return False

    def leaf(e, sub):
        if sub is not None:
            return _tree_is_const(sub)
        return bool(_CONST_ATOM_RE.match(e.strip()))

    if t[0] == "struct":
        return all(leaf(e, sub) for _, e, sub in t[1])
    if t[0] == "array":
        return all(leaf(e, sub) for e, sub in t[1])
    if t[0] == "map":
        return all(
            leaf(k, kt) and leaf(v, vt) for k, kt, v, vt in t[1]
        )
    return False


# Clause keywords whose expressions DuckDB evaluates as VALUES (3VL
# composite comparisons). WHERE/HAVING/QUALIFY/JOIN/ON/FROM and the
# CASE/IF condition slots are the 2VL boolean-condition path.
_VALUE_CLAUSE_KWS = frozenset(
    # SET: UPDATE / MERGE-arm / ON CONFLICT DO UPDATE assignment
    # expressions are duck VALUE positions (probed r13: UPDATE t SET
    # flag = (a < b) assigns 3VL NULL); SET never opens a clause in a
    # SELECT body, so the classification only fires in DML fragments
    {"SELECT", "GROUP", "ORDER", "BY", "VALUES", "RETURNING", "SET"}
)

# Heads that make a preceding-identifier + '(' NOT a function call
# (keyword-guarded paren groups are transparent to position walks).
# Deliberately excludes COALESCE/IF — real calls here.
_NONCALL_HEADS = frozenset(
    {
        "AND", "OR", "NOT", "IN", "ANY", "ALL", "SOME", "EXISTS",
        "BETWEEN", "IS", "LIKE", "ILIKE", "WHERE", "HAVING", "QUALIFY",
        "ON", "JOIN", "USING", "AS", "SELECT", "FROM", "BY", "GROUP",
        "ORDER", "THEN", "ELSE", "WHEN", "CASE", "END", "DISTINCT",
        "UNION", "INTERSECT", "EXCEPT", "LIMIT", "OFFSET", "SET",
        "VALUES", "RETURNING", "OVER", "FILTER", "LATERAL", "WITH",
        "RECURSIVE",
    }
)


_ASSIGN_TARGET_RE = re.compile(
    r"(?:[A-Za-z_]\w*|\"[^\"]+\"|`[^`]+`)"
    r"(?:\.(?:[A-Za-z_]\w*|\"[^\"]+\"|`[^`]+`))*"
)


def _set_assignment_eqs(sql: str, mask: list[bool]) -> set[int]:
    """Positions of the SET assignment ``=`` operators in ``sql`` (see
    ``_is_set_assignment_eq``); empty for statements without SET."""
    if re.search(r"(?i)\bSET\b", sql) is None:
        return set()
    depth: list[int] = []
    d = 0
    for i, ch in enumerate(sql):
        if mask[i] and ch == ")":
            d -= 1
        depth.append(d)
        if mask[i] and ch == "(":
            d += 1
    clause_kws = [
        k for k in _CLAUSE_KW_RE.finditer(sql) if all(mask[k.start() : k.end()])
    ]
    return {
        m.start()
        for m in re.finditer(r"(?<![<>!=:])=(?![=>])", sql)
        if mask[m.start()]
        and _is_set_assignment_eq(sql, mask, clause_kws, depth, m.start())
    }


def _is_set_assignment_eq(sql, mask, clause_kws, depth, at: int) -> bool:
    """True when the ``=`` at ``at`` is an UPDATE / MERGE-arm / DO
    UPDATE SET **assignment** operator, not a comparison (second
    review r13: extending the eq spans to DML let the passes rewrite
    the assignment itself, garbling ``SET a = array(1,2)``): the
    nearest same-depth clause keyword before it is SET, and everything
    between the last assignment boundary (the SET itself or a
    same-depth comma) and the ``=`` is one bare column reference."""
    td = depth[at]
    # same CASE..END stack walk as _position_kind (third review r13:
    # without it, a CASE expression in an EARLIER assignment left END
    # as the nearest keyword and the NEXT assignment's '=' classified
    # as a comparison — the exact garbling this guard exists to stop)
    last: tuple[str, int] | None = None
    stack: list[tuple[str, int] | None] = []
    for k in clause_kws:
        if k.start() >= at:
            break
        if depth[k.start()] != td:
            continue
        kw = k.group(1).upper()
        if kw == "CASE":
            stack.append(last)
            last = (kw, k.end())
        elif kw == "END":
            last = stack.pop() if stack else last
        else:
            last = (kw, k.end())
    if last is None or last[0] != "SET":
        return False
    start = last[1]
    for i in range(at - 1, start - 1, -1):
        if mask[i] and sql[i] == "," and depth[i] == td:
            start = i + 1
            break
    return _ASSIGN_TARGET_RE.fullmatch(sql[start:at].strip()) is not None


def _position_kind(sql, mask, clause_kws, depth, at: int) -> str:
    """Position class of a composite comparison / IN at ``at``:
    'value' — DuckDB evaluates 3VL VALUE semantics (rewrite);
    'cond'  — a CASE-WHEN / IF condition slot or simple-CASE subject:
              the 2VL total order applies EVEN FOR PURE CONSTANTS
              (probed r12: CASE WHEN [1,NULL]=[1,NULL] THEN.. is TRUE
              while WHERE [1,NULL]=[1,NULL] keeps nothing);
    'spine' — the WHERE/HAVING/ON/QUALIFY boolean spine: 2VL total
              order for non-constant operands, but PURE-CONSTANT
              comparisons constant-fold to the 3VL value form.

    Probed matrix (r11 second review): condition-ness flows from
    WHERE / HAVING / ON / QUALIFY and the CASE-WHEN / IF(cond,…)
    condition slots, through NOT / AND / OR / plain parens, and
    through CASE/IF branch RESULTS (``WHERE CASE WHEN TRUE THEN a=b
    END`` is 2VL). Any ordinary function-call argument, subquery
    select list, GROUP BY / ORDER BY / constructor element is a value
    position even under WHERE (``WHERE coalesce(a=b, FALSE)`` is 3VL).
    Simple-CASE subjects / WHEN operands stay unrewritten
    (conservative: Spark-native)."""
    pos = at
    for _hop in range(64):  # defensive cap on pathological nesting
        td = depth[pos]
        # Enclosing '(' of this paren group (-1 at statement top level).
        # Found FIRST so the clause scan below can exclude keywords from
        # sibling groups at the same depth (e.g. a derived table
        # ``FROM (SELECT 1 x) t`` must not make an IF-arg at depth 1
        # read as SELECT-list position — caught by the r11 battery).
        j = pos
        open_idx = -1
        while j > 0:
            j -= 1
            if depth[j] < td - 1:
                break
            if mask[j] and sql[j] == "(" and depth[j] == td - 1:
                open_idx = j
                break
        if open_idx >= 0:
            # a paren group that is the OPERAND of the IS family — IS
            # [NOT] NULL / TRUE / FALSE / UNKNOWN / DISTINCT FROM — is
            # a VALUE position even on the filter spine / in cond
            # slots (probed r13, found by the composite DML fuzz: duck
            # gives WHERE (a < b) IS NULL the 3VL comparison, and the
            # whole family behaves identically — IS inspects a VALUE;
            # condition-ness flows through NOT but NOT through IS)
            close = _match_paren(sql, mask, open_idx)
            if close is not None and re.match(
                r"\s*IS\s+(?:NOT\s+)?"
                r"(?:NULL|TRUE|FALSE|UNKNOWN|DISTINCT\s+FROM)\b",
                sql[close + 1 :],
                re.IGNORECASE,
            ):
                return "value"
        last: str | None = None
        stack: list[tuple[str | None, int]] = []
        for k in clause_kws:
            if k.start() >= pos:
                break
            if k.start() <= open_idx or depth[k.start()] != td:
                continue
            kw = k.group(1).upper()
            if kw == "CASE":
                stack.append((last, k.start()))
                last = "CASE"
            elif kw == "END":
                last = stack.pop()[0] if stack else last
            else:
                last = kw
        if last in ("THEN", "ELSE"):
            if not stack:
                return "spine"  # malformed: conservative, pre-r12 behavior
            pos = stack[-1][1]  # branch result: inherit the CASE's slot
            continue
        if last in ("WHEN", "CASE"):
            return "cond"  # condition slot / simple-CASE subject
        if last is not None:
            return "value" if last in _VALUE_CLAUSE_KWS else "spine"
        # No clause keyword in this paren group before pos.
        if open_idx <= 0:
            return "spine"  # statement head / malformed: conservative
        m = re.search(r"[A-Za-z_][\w.]*\s*$", sql[:open_idx])
        head = m.group(0).strip().upper() if m else ""
        if head == "IF":
            # IF mirrors CASE: arg 0 is the condition (always 2VL);
            # branch args inherit the IF call's own position.
            commas = sum(
                1
                for i in range(open_idx + 1, pos)
                if mask[i] and sql[i] == "," and depth[i] == td
            )
            if commas == 0:
                return "cond"
            pos = m.start()
            continue
        if head and head not in _NONCALL_HEADS:
            return "value"  # ordinary function argument
        pos = open_idx  # plain / keyword-guarded parens: look outward
    return "spine"



def _value_position(sql, mask, clause_kws, depth, at: int) -> bool:
    """Back-compat boolean view of ``_position_kind``."""
    return _position_kind(sql, mask, clause_kws, depth, at) == "value"


def _rewrite_composite_eq(sql: str) -> str:
    """Decompose ``=`` / ``<>`` / ``!=`` / ``==`` over composite
    constructors into the element-wise sequential 3VL form — but ONLY
    where DuckDB itself evaluates 3VL (probed, context-split in 1.x):
    VALUE positions per ``_value_position`` (SELECT list, CASE/IF
    branch results whose CASE sits in a value slot, any ordinary
    function argument even under WHERE, GROUP/ORDER BY) and
    PURE-CONSTANT comparisons anywhere (constant-folded before
    planning). On the boolean-condition spine (WHERE / HAVING / ON /
    QUALIFY bare or through NOT/AND/OR, CASE-WHEN / IF cond slots)
    DuckDB's filter path uses the total-order 2VL comparison with
    NULL elements comparing equal — exactly Spark's native composite
    ``=``, so those stay untouched. Known residue: DuckDB folds
    derived-table literal columns (``FROM (SELECT 1 x)``) into
    constants and goes 3VL even on the filter spine — optimizer-
    dependent, not reproducible statically (NOTES r11). SELECT-shaped
    statements only: in UPDATE / MERGE / OPTIONS ``=`` is
    assignment."""
    if _CMP_OP_RE.search(sql) is None:
        return sql
    span = _comp_body_span(sql)
    if span is None:
        return sql
    bs, be = span
    if bs or be < len(sql):
        return sql[:bs] + _rewrite_composite_eq(sql[bs:be]) + sql[be:]
    if (
        _COMPOSITE_HEAD_RE.search(sql) is None
        and re.search(r"\)\s*(?:<>|!=|==|=)", sql) is None
        and re.search(r"(?:<>|!=|==|=)\s*\(", sql) is None
    ):
        return sql
    segs = _abs_segments(sql)
    mask = _code_mask(sql)
    depth: list[int] = []
    d = 0
    for i, ch in enumerate(sql):
        if mask[i] and ch == ")":
            d -= 1
        depth.append(d)
        if mask[i] and ch == "(":
            d += 1
    clause_kws = [
        k for k in _CLAUSE_KW_RE.finditer(sql) if all(mask[k.start() : k.end()])
    ]
    out: list[str] = []
    pos = 0
    for m in _CMP_OP_RE.finditer(sql):
        if m.start() < pos or not all(mask[m.start() : m.end()]):
            continue
        if m.group(0) == "=" and _is_set_assignment_eq(
            sql, mask, clause_kws, depth, m.start()
        ):
            continue  # SET assignment operator, not a comparison
        ls = _scan_left_operand(sql, segs, m.start())
        rend = _scan_right_operand(sql, segs, m.end())
        if ls >= m.start() or rend <= m.end():
            continue
        lhs, rhs = sql[ls : m.start()], sql[m.end() : rend]
        lt, rt = _parse_composite(lhs), _parse_composite(rhs)
        if lt is None and rt is None:
            continue
        kind = _position_kind(sql, mask, clause_kws, depth, m.start())
        if kind != "value":
            if kind == "cond":
                continue  # WHEN/IF cond slot: 2VL even for constants
            lc = _tree_is_const(lt) or _is_null_lit(lhs.strip())
            rc = _tree_is_const(rt) or _is_null_lit(rhs.strip())
            if not (lc and rc):
                continue  # filter path: Spark native already matches
        eq = _eq3_any(lhs.strip(), lt, rhs.strip(), rt)
        if eq is None:
            continue
        repl = f"(NOT {eq})" if m.group(0) in ("<>", "!=") else eq
        out.append(sql[pos:ls])
        out.append(repl)
        pos = rend
    out.append(sql[pos:])
    return "".join(out)


# ---------------------------------------------------------------------------
# Composite ORDERING comparisons (< <= > >=) — r12 closure.
#
# Probed (DuckDB 1.x, same context split as equality but with a twist):
#   VALUE positions: lexicographic 3VL — walk elements in order, the
#   first non-EQUAL pair decides; a NULL-involving pair decides NULL
#   (even when a later length difference exists: [1,NULL] < [1,2,3]
#   IS NULL); an all-equal common prefix falls through to the length
#   verdict ([1] < [1,NULL] IS TRUE — exhaustion wins BEFORE the NULL
#   tail is looked at); a whole-NULL side is NULL.
#   FILTER spine (WHERE/HAVING/ON/QUALIFY, CASE-WHEN/IF cond slots):
#   2VL TOTAL ORDER with NULLs GREATEST — NULL elements compare above
#   every value, a whole-NULL side above every list ([NULL] >= [1]
#   keeps the row; a IS NULL side satisfies a > b). Spark's native
#   total order puts NULLs SMALLEST, so — unlike equality — the
#   filter path must ALSO be rewritten.
#   Pure-constant comparisons constant-fold to the 3VL value form
#   even on the filter spine (WHERE [1,2] < [1,NULL] keeps nothing).
#
# Both forms are generated as a three-way compare expression (-1/0/1,
# NULL-able in the 3VL form) and applied as ``(cmp OP 0)``.
# ---------------------------------------------------------------------------

_ORD_OP_RE = re.compile(r"(?<![<>=!:\-|^&])(<=|>=|<|>)(?![<>=])")


def _cmp_fold(conds: list, base: str) -> str:
    """Sequential three-way fold: the first condition that is not
    null-safe-equal to 0 decides (a NULL cmp3 verdict routes to ELSE
    and propagates)."""
    expr = base
    for c in reversed(conds):
        expr = f"(CASE WHEN {c} <=> 0 THEN {expr} ELSE {c} END)"
    return expr


def _atom_cmp(x: str, y: str, two: bool) -> str:
    if two:
        return (
            f"(CASE WHEN ({x}) IS NULL AND ({y}) IS NULL THEN 0"
            f" WHEN ({x}) IS NULL THEN 1 WHEN ({y}) IS NULL THEN -1"
            f" WHEN ({x}) < ({y}) THEN -1 WHEN ({x}) > ({y}) THEN 1"
            f" ELSE 0 END)"
        )
    return (
        f"(CASE WHEN ({x}) IS NULL OR ({y}) IS NULL THEN CAST(NULL AS INT)"
        f" WHEN ({x}) < ({y}) THEN -1 WHEN ({x}) > ({y}) THEN 1"
        f" ELSE 0 END)"
    )


def _len_cmp(la: int, lb: int) -> str:
    return str((la > lb) - (la < lb))


def _cmp_pairs(at, bt, two: bool, d: int = 0):
    """Three-way compare of two parsed constructor trees (shapes
    known; constructors are never NULL so no outer guard)."""
    if at[0] != bt[0]:
        return None
    if at[0] == "struct":
        af, bf = at[1], bt[1]
        if len(af) != len(bf):
            return None
        if all(n is not None for n, _, _ in af) and all(
            n is not None for n, _, _ in bf
        ):
            bmap = {n.lower(): (e, t) for n, e, t in bf}
            if sorted(bmap) != sorted(n.lower() for n, _, _ in af):
                return None
            pairs = [(ae, atr, *bmap[n.lower()]) for n, ae, atr in af]
        else:
            pairs = [
                (ae, atr, be, btr)
                for (_, ae, atr), (_, be, btr) in zip(af, bf)
            ]
        subs = [_cmp_any(pa, pat, pb, pbt, two, d + 1) for pa, pat, pb, pbt in pairs]
        if any(s is None for s in subs):
            return None
        return _cmp_fold(subs, "0")
    if at[0] == "array":
        ae, be = at[1], bt[1]
        k = min(len(ae), len(be))
        subs = [
            _cmp_any(x, xt, y, yt, two, d + 1)
            for (x, xt), (y, yt) in zip(ae[:k], be[:k])
        ]
        if any(s is None for s in subs):
            return None
        return _cmp_fold(subs, _len_cmp(len(ae), len(be)))
    if at[0] == "map":
        ae, be = at[1], bt[1]
        k = min(len(ae), len(be))
        subs = []
        for (ak, aktr, av, avtr), (bk, bktr, bv, bvtr) in zip(ae[:k], be[:k]):
            ks = _cmp_any(ak, aktr, bk, bktr, two, d + 1)
            vs = _cmp_any(av, avtr, bv, bvtr, two, d + 1)
            if ks is None or vs is None:
                return None
            subs.extend([ks, vs])
        return _cmp_fold(subs, _len_cmp(len(ae), len(be)))
    return None


def _cmp_mixed(t, b: str, two: bool, d: int = 0):
    """Three-way compare of a parsed constructor tree (LEFT) vs an
    OPAQUE expression of the same unresolved type — positional
    element_at with the bound checks woven into the scan (the side
    that exhausts first is smaller, checked BEFORE the element pair,
    matching the probed exhaustion-beats-NULL-tail order)."""
    if t[0] == "struct":
        if any(n is None for n, _, _ in t[1]):
            return None
        subs = [
            _cmp_any(ae, atr, f"({b}).`{n}`", None, two, d + 1)
            for n, ae, atr in t[1]
        ]
        if any(s is None for s in subs):
            return None
        body = _cmp_fold(subs, "0")
        if two and d > 0:
            return f"(CASE WHEN ({b}) IS NULL THEN -1 ELSE {body} END)"
        return (
            f"(CASE WHEN ({b}) IS NULL THEN CAST(NULL AS INT)"
            f" ELSE {body} END)"
        )
    if t[0] in ("array", "map"):
        n = len(t[1])
        if t[0] == "array":
            steps = [
                [(ee, et, f"element_at({b}, {i + 1})")]
                for i, (ee, et) in enumerate(t[1])
            ]
        else:
            steps = [
                [
                    (ke, ktr, f"element_at(map_keys({b}), {i + 1})"),
                    (ve, vtr, f"element_at(map_values({b}), {i + 1})"),
                ]
                for i, (ke, ktr, ve, vtr) in enumerate(t[1])
            ]
        # all n literal elements matched: longer opaque side wins
        expr = f"(CASE WHEN size({b}) > {n} THEN -1 ELSE 0 END)"
        for i in range(n - 1, -1, -1):
            conds = []
            for le, lt_, acc in steps[i]:
                c = _cmp_any(le, lt_, acc, None, two, d + 1)
                if c is None:
                    return None
                conds.append(c)
            inner = _cmp_fold(conds, expr)
            expr = f"(CASE WHEN size({b}) < {i + 1} THEN 1 ELSE {inner} END)"
        if two and d > 0:
            return f"(CASE WHEN ({b}) IS NULL THEN -1 ELSE {expr} END)"
        return (
            f"(CASE WHEN ({b}) IS NULL THEN CAST(NULL AS INT)"
            f" ELSE {expr} END)"
        )
    return None


def _cmp_any(a: str, at, b: str, bt, two: bool, d: int = 0):
    if d > 4:
        return None  # same 2^depth growth cap as the equality closure
    if at is None and bt is None:
        return _atom_cmp(a, b, two)
    if at is not None and bt is not None:
        return _cmp_pairs(at, bt, two, d)
    if at is not None:
        if _is_null_lit(b):
            # constructor vs whole-NULL side: NULL in the 3VL value
            # form AND at the top level of the filter order (probed:
            # a top-level NULL operand is excluded); only NESTED
            # NULL sides are GREATEST
            return "-1" if two and d > 0 else "CAST(NULL AS INT)"
        return _cmp_mixed(at, b, two, d)
    sub = _cmp_any(b, bt, a, at, two, d)
    if sub is None:
        return None
    return f"(-({sub}))"  # cmp is antisymmetric; -NULL stays NULL


_COMP_BETWEEN_RE = re.compile(r"\b(NOT\s+)?BETWEEN\b", re.IGNORECASE)


def _rewrite_composite_between(sql: str) -> str:
    """``x [NOT] BETWEEN lo AND hi`` over composite CONSTRUCTOR
    operands — BETWEEN desugars to the same ordering comparisons and
    diverges identically (review r12). Probed: value positions 3VL
    (conjunction of the two lexicographic compares — [1,NULL] BETWEEN
    [1,1] AND [1,3] IS NULL), CASE-WHEN/IF cond slots 2VL even for
    constants, the WHERE spine 3VL for pure constants. Column-operand
    BETWEEN on the FILTER spine is an 'Invalid Type for BETWEEN' error
    in duck itself — non-const spine forms stay native (residue).
    SYMMETRIC is skipped."""
    if _COMP_BETWEEN_RE.search(sql) is None:
        return sql
    segs = _abs_segments(sql)
    mask = _code_mask(sql)
    depth: list[int] = []
    d = 0
    for i, ch in enumerate(sql):
        if mask[i] and ch == ")":
            d -= 1
        depth.append(d)
        if mask[i] and ch == "(":
            d += 1
    clause_kws = [
        k for k in _CLAUSE_KW_RE.finditer(sql) if all(mask[k.start() : k.end()])
    ]
    out: list[str] = []
    pos = 0
    for m in _COMP_BETWEEN_RE.finditer(sql):
        if m.start() < pos or not all(mask[m.start() : m.end()]):
            continue
        if re.match(r"\s*SYMMETRIC\b", sql[m.end() :], re.IGNORECASE):
            continue
        ls = _scan_left_operand(sql, segs, m.start())
        if ls >= m.start():
            continue
        lo_end = _scan_right_operand(sql, segs, m.end())
        if lo_end <= m.end():
            continue
        am = re.match(r"\s+AND\s+", sql[lo_end:], re.IGNORECASE)
        if am is None:
            continue
        hi_start = lo_end + am.end()
        hi_end = _scan_right_operand(sql, segs, hi_start)
        if hi_end <= hi_start:
            continue
        needle = sql[ls : m.start()].strip()
        lo = sql[m.end() : lo_end].strip()
        hi = sql[hi_start:hi_end].strip()
        nt, lt, ht = (
            _parse_composite(needle),
            _parse_composite(lo),
            _parse_composite(hi),
        )
        if nt is None and lt is None and ht is None:
            continue
        # EVERY leg needs a constructor side, else the non-constructor
        # pair would fall into _atom_cmp's Spark-native compare AND
        # consume the BETWEEN away from the schema-typed pass (second
        # review r12: col BETWEEN col AND [..] must reach _typed_cmp)
        if nt is None and (lt is None or ht is None):
            continue
        kind = _position_kind(sql, mask, clause_kws, depth, m.start())
        if kind == "value":
            two = False
        elif kind == "cond":
            two = True
        else:
            consts = [
                _tree_is_const(t) or _is_null_lit(e)
                for t, e in ((nt, needle), (lt, lo), (ht, hi))
            ]
            if not all(consts):
                continue  # duck errors on non-const spine BETWEEN
            two = False
        c_lo = _cmp_any(needle, nt, lo, lt, two)
        c_hi = _cmp_any(needle, nt, hi, ht, two)
        if c_lo is None or c_hi is None:
            continue
        body = f"((({c_lo}) >= 0) AND (({c_hi}) <= 0))"
        repl = f"(NOT {body})" if m.group(1) else body
        out.append(sql[pos:ls])
        out.append(repl)
        pos = hi_end
    out.append(sql[pos:])
    return "".join(out)


def _ord_body_span(sql: str) -> tuple[int, int] | None:
    """Rewritable span for the composite ORDERING passes: the query
    body per ``_comp_body_span``, plus — unlike equality, whose filter
    path is Spark-native — the DML expression surface (review r12 +
    r13): for UPDATE, everything after the depth-0 SET keyword (the
    SET expressions are duck VALUE positions — probed r13: ``SET flag
    = (a < b)`` assigns 3VL NULL — and the WHERE tail is the 2VL
    NULLs-greatest spine; a skipped rewrite MUTATES the wrong rows);
    for DELETE, the WHERE tail; for MERGE, everything after the
    depth-0 USING (source subquery per SELECT rules, ON + arm
    predicates condition-class, THEN UPDATE SET / INSERT VALUES
    expressions value-class via the clause walk)."""
    span = _comp_body_span(sql)
    if span is not None:
        # UPDATE (from SET) and MERGE (from USING) spans now come from
        # _comp_body_span itself (r13 — the whole composite family
        # shares them; duck SET expressions are value positions for
        # eq/IN/quantified too, probed)
        return span
    first = sql.lstrip().split(None, 1)[0].upper() if sql.strip() else ""
    if first == "DELETE":
        # ordering-only extra: the DELETE WHERE tail (equality stays
        # native on the filter path, so the eq family has no span here)
        ws, we = _find_keyword_span(sql, "WHERE")
        if ws != -1:
            return we, len(sql)
    return None


def _rewrite_composite_ord(sql: str) -> str:
    """Decompose ``<`` / ``<=`` / ``>`` / ``>=`` over composite
    CONSTRUCTOR operands into the probed DuckDB forms (see block
    comment above): lexicographic 3VL in value positions and for
    pure-constant comparisons anywhere; NULLs-GREATEST 2VL total
    order on the filter spine (Spark's native order is NULLs-smallest
    there, so both positions rewrite — unlike equality). Same operand
    scanning, statement-head and value-position machinery as
    ``_rewrite_composite_eq``."""
    if (
        _ORD_OP_RE.search(sql) is None
        and _COMP_BETWEEN_RE.search(sql) is None
    ):
        return sql
    if (
        _COMPOSITE_HEAD_RE.search(sql) is None
        # bare tuple literals: (1,2) < (1,3) has no constructor head
        and re.search(
            r"\)\s*(?:(?:<=|>=|<|>)(?![<>=])|BETWEEN\b)", sql, re.IGNORECASE
        )
        is None
        and re.search(r"(?:<=|>=|<|>)\s*[+-]?\s*\(", sql) is None
        and re.search(r"\bBETWEEN\s*[+-]?\s*\(", sql, re.IGNORECASE) is None
    ):
        return sql
    span = _ord_body_span(sql)
    if span is None:
        return sql
    bs, be = span
    if bs or be < len(sql):
        # the extracted fragment (paren-wrapped body, UPDATE/DELETE
        # WHERE tail) runs through the UNGATED worker: a bare
        # predicate has no statement head to pass the gate with
        return sql[:bs] + _rewrite_composite_ord_body(sql[bs:be]) + sql[be:]
    return _rewrite_composite_ord_body(sql)


def _rewrite_composite_ord_body(sql: str) -> str:
    sql = _rewrite_composite_between(sql)
    segs = _abs_segments(sql)
    mask = _code_mask(sql)
    depth: list[int] = []
    d = 0
    for i, ch in enumerate(sql):
        if mask[i] and ch == ")":
            d -= 1
        depth.append(d)
        if mask[i] and ch == "(":
            d += 1
    clause_kws = [
        k for k in _CLAUSE_KW_RE.finditer(sql) if all(mask[k.start() : k.end()])
    ]
    out: list[str] = []
    pos = 0
    for m in _ORD_OP_RE.finditer(sql):
        if m.start() < pos or not all(mask[m.start() : m.end()]):
            continue
        ls = _scan_left_operand(sql, segs, m.start())
        rend = _scan_right_operand(sql, segs, m.end())
        if ls >= m.start() or rend <= m.end():
            continue
        lhs, rhs = sql[ls : m.start()], sql[m.end() : rend]
        lt, rt = _parse_composite(lhs), _parse_composite(rhs)
        if lt is None and rt is None:
            continue
        kind = _position_kind(sql, mask, clause_kws, depth, m.start())
        if kind == "value":
            two = False
        elif kind == "cond":
            two = True  # WHEN/IF cond slot: 2VL even for constants
        else:
            lc = _tree_is_const(lt) or _is_null_lit(lhs.strip())
            rc = _tree_is_const(rt) or _is_null_lit(rhs.strip())
            two = not (lc and rc)  # pure constants fold to 3VL on the spine
        cmp_ = _cmp_any(lhs.strip(), lt, rhs.strip(), rt, two)
        if cmp_ is None:
            continue
        out.append(sql[pos:ls])
        out.append(f"(({cmp_}) {m.group(1)} 0)")
        pos = rend
    out.append(sql[pos:])
    return "".join(out)



def _rewrite_composite_in(sql: str) -> str:
    """``x IN (a, b, …)`` / ``x NOT IN (…)`` with a composite needle →
    3VL OR-fold of element-wise equalities (probed: (1,2) IN
    ((1,NULL),(2,3)) IS NULL in DuckDB; Spark's native tuple IN is
    2VL). Literal IN-lists only — subquery forms keep their own
    passes. Context-split like ``=`` (probed): only VALUE positions
    and pure-constant needles+items rewrite; filter positions keep
    Spark's native 2VL, which matches DuckDB's filter path."""
    if re.search(r"\bIN\s*\(", sql, re.IGNORECASE) is None:
        return sql
    span = _comp_body_span(sql)
    if span is None:
        return sql
    bs, be = span
    if bs or be < len(sql):
        return sql[:bs] + _rewrite_composite_in(sql[bs:be]) + sql[be:]
    segs = _abs_segments(sql)
    mask = _code_mask(sql)
    depth: list[int] = []
    d = 0
    for i, ch in enumerate(sql):
        if mask[i] and ch == ")":
            d -= 1
        depth.append(d)
        if mask[i] and ch == "(":
            d += 1
    clause_kws = [
        k for k in _CLAUSE_KW_RE.finditer(sql) if all(mask[k.start() : k.end()])
    ]
    out: list[str] = []
    pos = 0
    for m in re.finditer(r"\b(NOT\s+)?IN\s*\(", sql, re.IGNORECASE):
        if m.start() < pos or not all(mask[m.start() : m.end()]):
            continue
        ls = _scan_left_operand(sql, segs, m.start())
        if ls >= m.start():
            continue
        needle = sql[ls : m.start()]
        nt = _parse_composite(needle)
        if nt is None:
            continue
        # NB: `depth` above is the statement-wide depth ARRAY — use a
        # separate counter for the paren walk (shadowing it broke the
        # second IN of a statement: 'int' is not subscriptable)
        dpt, i = 1, m.end()
        while i < len(sql) and dpt:
            if mask[i]:
                if sql[i] == "(":
                    dpt += 1
                elif sql[i] == ")":
                    dpt -= 1
            i += 1
        if dpt:
            continue
        body = sql[m.end() : i - 1]
        if re.match(r"\s*(SELECT|WITH)\b", body, re.IGNORECASE):
            # composite-constructor needle vs SUBQUERY: DuckDB compares
            # the constructor against the subquery's single (composite)
            # column with the 2VL total order in EVERY position (probed
            # r12 — never NULL, FALSE on empty, (1,NULL) IN (SELECT
            # (1,NULL)) is TRUE). Spark instead DESTRUCTURES a
            # constructor needle into its multi-column IN form and
            # raises IN_SUBQUERY_LENGTH_MISMATCH — express duck's
            # semantics as EXISTS + null-safe equality, which Spark
            # also plans as a hash semi-join.
            neg = "NOT " if m.group(1) else ""
            out.append(sql[pos:ls])
            out.append(
                f"({neg}EXISTS (SELECT 1 FROM ({body}) __cins(__c)"
                f" WHERE ({needle.strip()}) <=> __c))"
            )
            pos = i
            continue
        in_proj = (
            _value_position(sql, mask, clause_kws, depth, ls)
        )
        if not in_proj and not _tree_is_const(nt):
            continue
        items = [a.strip() for a in split_top_level(sql[m.end() : i - 1])]
        if not items or any(not a for a in items):
            continue
        if re.match(r"\s*(SELECT|WITH|VALUES|TABLE|FROM)\b",
                    items[0], re.IGNORECASE):
            continue
        eqs = []
        for it in items:
            it_tree = _parse_composite(it)
            if not in_proj and not _tree_is_const(it_tree):
                eqs = None  # filter path with non-constant item: native
                break
            e = _eq3_any(needle.strip(), nt, it, it_tree)
            if e is None:
                eqs = None
                break
            eqs.append(e)
        if eqs is None:
            continue
        fold = "(" + " OR ".join(eqs) + ")"
        if m.group(1):
            fold = f"(NOT {fold})"
        out.append(sql[pos:ls])
        out.append(fold)
        pos = i
    out.append(sql[pos:])
    return "".join(out)


def rewrite(sql: str) -> str:
    """Apply the full dialect pre-pass to one statement."""
    sql = expand_macros(sql)  # first: macro bodies go through every rewrite below
    sql = _rewrite_attached_main(sql)  # db.main.t → db.t for attached dbs
    sql = _rewrite_blob_literals(sql)  # \xHH blob escapes BEFORE literal
    # processing rewrites the backslashes
    sql = _pg_escape_literals(sql)  # PG literal semantics before anything
    # else EMITS Spark-escaped literals of its own
    sql = _strip_numeric_underscores(sql)
    sql = _rewrite_lambda_index_base(sql)  # 1-based duck index lambdas
    # BEFORE any pass emits Spark-semantics filter/transform lambdas
    sql = _rewrite_pipe_precedence(sql)  # duck binds arithmetic
    # tighter than ||, Spark same-tier: paren-group expression operands
    sql = _rewrite_concat_double_lits(sql)  # eE literals in concat/||
    # take DuckDB's shortest-round-trip text BEFORE concat rewrites
    sql = _rewrite_case_fns(sql)  # user upper/lower only — duck simple
    # case mapping; BEFORE any pass emits Java-semantics upper/lower
    sql = _rewrite_concat_ws_casts(sql)  # user concat_ws value args
    # stringify duck-style — BEFORE null_skip emits its own pre-cast
    # concat_ws('') calls
    sql = _rewrite_concat_null_skip(sql)  # user concat only — BEFORE any
    # pass emits Spark-native concat (RLIKE anchors, split templates)
    sql = _rewrite_bit_strings(sql)  # BIT emulation (after the concat
    # pass so its emitted concat/substring stay internal-safe)
    sql = _rewrite_date_literal_diff(sql)  # before '-' reaches Spark
    sql = _rewrite_interval_colon_literal(sql)  # '2:45:00' → qualified
    sql = _rewrite_date_plus_interval(sql)  # before INTERVAL rewrites
    sql = _rewrite_time_plus_interval(sql)  # TIME ± INTERVAL mod-24h wrap
    sql = _normalize_tstz_spelling(sql)  # multi-word tstz → one token
    sql = _rewrite_at_time_zone(sql)  # PG syntax Spark lacks
    sql = _rewrite_interval_epoch(sql)  # before the epoch() nary claims it
    sql = _rewrite_extract(sql)  # duck-divergent EXTRACT fields → date_part
    sql = _rewrite_operators(sql)  # before nary: xor() legitimately emits ^
    sql = _rewrite_like_backslash(sql)  # no-ESCAPE LIKE: \ stays literal
    sql = _rewrite_enum_fns(sql)  # while enum type names are visible
    sql = _rewrite_enum_casts(sql)  # before alias/type passes claim ::name
    sql = _rewrite_greatest_least_mixed(sql)  # duck's mixed string/
    # numeric literal coercion (Spark refuses at analysis)
    sql = _rewrite_int_cast_rounding(sql)  # literal/::DOUBLE-chain int
    # casts round like DuckDB (before type passes rename INT spellings)
    sql = _rewrite_bool_cast_lits(sql)  # strict BOOLEAN literal casts
    sql = _rewrite_read_files(sql)  # before literal split: needs the path string
    sql = _rewrite_strftime(sql)  # before literal split: needs the fmt string
    sql = _rewrite_list_aggregate(sql)  # ditto: needs the quoted agg name
    sql = _rewrite_pg_client_fns(sql)  # ditto: current_setting / CAST-INTERVAL
    sql = _rewrite_format(sql)  # ditto: needs the quoted fmtlib string
    sql = _rewrite_printf(sql)  # ditto: casts args per printf spec
    sql = _rewrite_array_constructor(sql)
    sql = _rewrite_array_type_suffix(sql)  # INT[] types BEFORE brackets
    sql = _rewrite_str_to_list_cast(sql)  # '[1,2]'::INT[] parses the text
    sql = _rewrite_duck_types(sql)  # STRUCT(...)/MAP(...)/unsigned casts
    sql = _rewrite_varchar_family(sql)  # TEXT/CHAR(n)/... → STRING in type pos
    sql = _rewrite_collate_names(sql)  # NOCASE/NOACCENT → Spark collations
    sql = _rewrite_brackets(sql)  # after ARRAY[..]: bare [..] / l[i] / slices
    sql = _rewrite_concat_op_null(sql)  # x || NULL → typed NULL (after
    # brackets: list operands are array(..) calls both scanners handle)
    sql = _rewrite_struct_literals(sql)
    sql = _rewrite_struct_pack(sql)
    sql = _rewrite_union_fns(sql)
    sql = _rewrite_json_arrows(sql)
    sql = _rewrite_json_extract(sql)
    # DuckDB's JSON type is VARCHAR-with-validation; Spark has no JSON
    # type. AFTER the arrow/extract passes (they key on ::JSON to bind
    # operands), a remaining JSON cast is an identity to STRING —
    # equality, len(), concat on JSON values then behave like DuckDB's
    # text semantics (r10 sweep).
    sql = "".join(
        seg
        if is_lit
        else re.sub(
            r"(\bAS\s+)JSON(\s*\))",
            r"\1STRING\2",
            re.sub(r"::\s*JSON\b", "::STRING", seg, flags=re.IGNORECASE),
            flags=re.IGNORECASE,
        )
        for is_lit, seg in _split_quoted(sql)
    )
    sql = _rewrite_datetime_diffs(sql)
    sql = _rewrite_regexp_default_group(sql)
    sql = _rewrite_agg_order_by(sql)  # before renames: needs DuckDB names
    sql = _rewrite_array_agg_plain(sql)  # after: plain forms only
    sql = _rewrite_corr(sql)  # NULL on zero variance, not ANSI div-zero
    sql = _rewrite_quantified_subq(sql)
    sql = _rewrite_projection_in_subq(sql)  # after: ANY/ALL → IN first
    sql = _rewrite_scalar_subq_order_limit(sql)  # duck first-row
    # semantics for ORDER-BY-deterministic multi-row scalar subqueries
    sql = _rewrite_positional_join(sql)
    sql = _rewrite_dot_calls(sql)  # (expr).fn() before nary sees fn
    sql = _rewrite_table_fns(sql)  # FROM-position fns BEFORE the nary
    # pass claims their scalar spellings
    sql = _rewrite_nary_fns(sql)
    sql = _rewrite_from_first(sql)
    sql = _rewrite_unary_fns(sql)
    sql = _rewrite_offset_limit(sql)  # duck allows either order
    sql = _rewrite_distinct_on(sql)
    sql = _rewrite_window_exclude(sql)  # frame EXCLUDE / GROUPS refusal
    sql = _rewrite_asof_join(sql)  # before QUALIFY: it wraps FROM in a subquery
    sql = _rewrite_qualify(sql)
    sql = _rewrite_ilike_fold(sql)  # duck ILIKE = simple-fold LIKE —
    # after the ~~*/ilike_escape emitters
    if _F32_CAST_UNIT_RE.search(sql) is not None:
        # explicit decimal-literal → FLOAT casts first (duck's
        # unscaled/power conversion model), then f32 cast units in
        # comparison positions: duck's FLOAT arithmetic + FLOAT
        # comparison promotion (r16; the column leg runs schema-aware
        # in app._hugeint_sums). BEFORE decimal_div/div_zero so
        # emitted '/' still gets their guards
        sql = rewrite_f32_declit_casts(sql)
        sql = rewrite_f32_positions(sql, {})
    sql = _rewrite_decimal_div(sql)  # duck '/' is ALWAYS double —
    # after '/'-emitting passes (// fractional), BEFORE div_zero hides
    # decimal denominators inside nullif()
    sql = _rewrite_div_zero(sql)  # after every '/'-emitting pass
    sql = rewrite_int_bool_contexts(sql, set())  # NOT 1 / WHERE 1 /
    # CASE WHEN 1 — duck's numeric→boolean coercion, literal leg
    # (column operands resolve in the schema pass)
    sql = _rewrite_composite_ord(sql)  # before eq: its scan must not
    sql = _rewrite_composite_eq(sql)  # see eq-emitted < on size();
    sql = _rewrite_composite_in(sql)  # pass (array/named_struct heads)
    sql = rewrite_composite_varchar(sql)  # composite ::VARCHAR render
    sql = _rewrite_order_by_nulls(sql)  # after every ORDER-BY-emitting pass
    sql = _rewrite_fractional_interval_lits(sql)  # LAST: leftover
    # fractional interval literals (arith/comparison positions — the
    # render folds above already consumed theirs) become Spark-
    # parseable canonicals with the exact duck value (r15)
    parts = _split_quoted(sql)
    out: list[str] = []
    for i, (is_lit, seg) in enumerate(parts):
        if is_lit:
            out.append(seg)
            continue
        seg = _rewrite_code(seg)
        # PG escape-string prefix: E'...' → '...' (Spark already treats
        # backslash as an escape inside literals, covering \n \t \\ \')
        nxt_is_lit = i + 1 < len(parts) and parts[i + 1][0]
        if nxt_is_lit and parts[i + 1][1].startswith("'"):
            seg = re.sub(r"(?<![\w.])[Ee]$", "", seg)
        out.append(seg)
    return "".join(out)


_BIT_OID_GATE_RE = re.compile(
    r"(?i)::\s*BIT(?:STRING)?\b|\b(?:bitstring|set_bit)\s*\(|~\s*'[01]"
)
_BIT_NONBIT_HEAD_RE = re.compile(
    r"(?i)^\s*(?:get_bit|bit_count|bit_length|octet_length|bit_position"
    r"|length|len)\s*\("
)
_BIT_SHAPE_RE = re.compile(r"(?i)::\s*BIT(?:STRING)?\b")
_BIT_HEAD_RE = re.compile(r"(?i)^\s*(?:bitstring|set_bit)\s*\(")


def bit_select_oids(sql: str) -> tuple[dict[int, int], int]:
    """(positions → PG ``bit`` OID 1560, select-item count) for
    BIT-valued output columns (r14, VERDICT item 4's wire half). BIT is
    emulated as 0/1-char strings (no BIT storage exists in this
    surface — it only enters through ``'0101'::BIT`` casts), so the
    Spark schema says STRING; the original statement text is the only
    place the BIT-ness is visible. Heuristic by design: an item whose
    text involves ``::BIT`` / ``bitstring()`` / ``set_bit()`` but whose
    OUTERMOST call is one of the scalar-returning bit functions
    (get_bit/bit_count/…/length) stays TEXT. SELECT heads only; callers
    drop the overrides when the item count disagrees with the result
    schema (star expansion, set-ops)."""
    if _BIT_OID_GATE_RE.search(sql) is None:
        return {}, 0
    m = re.match(
        r"(?is)^\s*SELECT\s+(?:DISTINCT\s+|ALL\s+)?", sql
    )
    if m is None:
        return {}, 0
    body = sql[m.end() :]
    mask = _code_mask(body)
    # select list ends at the first top-level FROM/WHERE/GROUP/… or EOS
    end = len(body)
    depth = 0
    for mm in re.finditer(
        r"(?i)\b(FROM|WHERE|GROUP|HAVING|ORDER|LIMIT|QUALIFY|WINDOW"
        r"|UNION|INTERSECT|EXCEPT)\b|[()]",
        body,
    ):
        if not mask[mm.start()]:
            continue
        tok = mm.group(0)
        if tok == "(":
            depth += 1
        elif tok == ")":
            depth -= 1
        elif depth == 0:
            end = mm.start()
            break
    out: dict[int, int] = {}
    items = split_top_level(body[:end])
    for i, item in enumerate(items):
        t = re.sub(r"(?is)\s+AS\s+(`[^`]*`|\w+)\s*$", "", item).strip()
        if _BIT_NONBIT_HEAD_RE.match(t):
            continue
        if not (_BIT_SHAPE_RE.search(t) or _BIT_HEAD_RE.match(t)):
            continue
        # r15 (ADVICE item 3): a ::BIT somewhere inside the item does
        # not make the RESULT a bit — a top-level comparison/boolean
        # operator yields BOOLEAN ('0101'::BIT = '0101'::BIT) and a
        # trailing cast to a non-BIT type yields that type
        # (('101'::BIT)::VARCHAR). Keep the native OID for both.
        top = _top_level_code(t)
        if _BIT_TOP_CMP_RE.search(top) or _BIT_TOP_KW_RE.search(top):
            continue
        cm = None
        for c in re.finditer(r"::\s*([A-Za-z_]\w*)\s*$", top):
            cm = c
        if cm is not None and cm.group(1).upper() not in (
            "BIT",
            "BITSTRING",
        ):
            continue
        ct = _whole_item_cast_type(t)
        if ct is not None and ct.upper() not in ("BIT", "BITSTRING"):
            continue
        out[i] = 1560
    return out, len(items)


def _top_level_code(t: str) -> str:
    """Copy of ``t`` with literals/comments and everything nested
    inside parens/brackets blanked to spaces — only depth-0 code
    survives, so operator/keyword scans see the item's OUTERMOST
    structure (r15)."""
    mask = _code_mask(t)
    buf: list[str] = []
    depth = 0
    for i, c in enumerate(t):
        if mask[i] and c in "([":
            depth += 1
            buf.append(" ")
        elif mask[i] and c in ")]":
            depth -= 1
            buf.append(" ")
        else:
            buf.append(c if depth == 0 and mask[i] else " ")
    return "".join(buf)


# depth-0 comparison operators (result BOOLEAN): excludes the bit
# shifts << >>, json arrows -> ->>, lambda =>, and cast ::
_BIT_TOP_CMP_RE = re.compile(
    r"(?<![<>=!|:^-])(?:!=|<>|<=|>=|==|=|<(?![<=>])|(?<![->=])>(?![>=]))"
)
_BIT_TOP_KW_RE = re.compile(
    r"(?i)\b(?:AND|OR|NOT|IS|IN|LIKE|ILIKE|BETWEEN|SIMILAR)\b"
)


def _whole_item_cast_type(t: str) -> str | None:
    """Target type name when the WHOLE item is ``CAST(... AS TYPE)`` /
    ``TRY_CAST(... AS TYPE)``, else None (r15)."""
    m = re.match(r"(?i)^\s*(?:TRY_)?CAST\s*\(", t)
    if m is None:
        return None
    mask = _code_mask(t)
    close = _match_paren(t, mask, m.end() - 1)
    if close is None or t[close + 1 :].strip() != "":
        return None
    inner = t[m.end() : close]
    am = None
    for c in re.finditer(r"(?i)\s+AS\s+([A-Za-z_]\w*)", inner):
        if _paren_balanced(inner[: c.start()]):
            am = c
    return am.group(1) if am is not None else None


def split_top_level(s: str, sep: str = ",") -> list[str]:
    """Split on a separator char at paren depth 0 outside literals and
    comments (for SET-clause assignments, EXECUTE argument lists)."""
    cut: list[int] = [i for i, c in _scan_top_level(s) if c == sep]
    parts = []
    prev = 0
    for i in cut:
        parts.append(s[prev:i])
        prev = i + 1
    parts.append(s[prev:])
    return parts


_SUM_CALL = re.compile(r"(?<![\w.])SUM\s*\(", re.IGNORECASE)
_SUM_IDENT = re.compile(r"[A-Za-z_][A-Za-z_0-9.]*")
# tokens allowed in an integer-only sum argument besides identifiers:
# integer literals, + - * %, parens, whitespace (no '/', no functions —
# anything else leaves the SUM untouched, which is always safe)
_SUM_SAFE = re.compile(r"^[\d\s()+\-*%]*$")


def rewrite_integer_sums(sql: str, int_cols: set[str]) -> str:
    """DuckDB ``SUM(int)`` returns HUGEINT (128-bit); Spark's returns
    LONG, which overflows on a 100 TB count-sum (ANSI mode errors, else
    wraps). Rewrite ``SUM(expr)`` to DECIMAL(38,0) accumulation when
    every identifier in expr is a known *integer* column and the rest is
    integer arithmetic — conservative: any literal, function, non-integer
    column, or '/' leaves the call unchanged. int_cols holds lowercase
    unqualified integer column names of the statement's tables."""
    # char-level mask of code (vs literal/comment) regions
    mask = []
    for kind, seg in _lex(sql):
        mask.extend([kind == "code"] * len(seg))
    out = []
    pos = 0
    while True:
        m = _SUM_CALL.search(sql, pos)
        if m is None:
            out.append(sql[pos:])
            break
        if not all(mask[m.start() : m.end()]):
            out.append(sql[pos : m.end()])
            pos = m.end()
            continue
        depth, j = 1, m.end()
        while j < len(sql) and depth:
            if mask[j]:
                if sql[j] == "(":
                    depth += 1
                elif sql[j] == ")":
                    depth -= 1
            j += 1
        if depth:  # unbalanced — bail on this call
            out.append(sql[pos : m.end()])
            pos = m.end()
            continue
        arg = sql[m.end() : j - 1]
        if not all(mask[m.end() : j - 1]):
            out.append(sql[pos:j])
            pos = j
            continue
        body = arg
        distinct = ""
        dm = re.match(r"^\s*DISTINCT\b", body, re.IGNORECASE)
        if dm:
            distinct, body = "DISTINCT ", body[dm.end() :]
        idents = _SUM_IDENT.findall(body)
        all_int = all(
            ident.rsplit(".", 1)[-1].lower() in int_cols for ident in idents
        )
        leftover = _SUM_IDENT.sub("", body)
        if all_int and _SUM_SAFE.match(leftover):
            out.append(sql[pos : m.start()])
            out.append(f"SUM({distinct}CAST(({body.strip()}) AS DECIMAL(38,0)))")
            pos = j
        else:
            out.append(sql[pos:j])
            pos = j
    return "".join(out)


_LENGTH_CALL = re.compile(r"(?<![\w.])length\s*\(", re.IGNORECASE)
# function heads that always produce an array in Spark — len/length on
# one of these is an element count (size), not a char count
_ARRAY_FN_HEAD = re.compile(
    r"^\s*(split|array|sequence|collect_list|collect_set|array_agg|transform"
    r"|filter|array_distinct|array_sort|sort_array|slice|flatten|array_repeat"
    r"|map_keys|map_values|array_union|array_intersect|array_except"
    r"|array_compact|array_remove|array_append|array_prepend)\s*\(",
    re.IGNORECASE,
)


def rewrite_array_length(sql: str, array_cols: set[str]) -> str:
    """DuckDB's ``len``/``length`` is polymorphic (chars for strings,
    element count for lists); Spark's ``length`` rejects arrays. After
    the textual ``len``→``length`` rename, retarget calls whose argument
    is a known ARRAY column (schema-resolved, like
    ``rewrite_integer_sums``) or an always-array function call to
    ``size``. Anything unrecognized keeps ``length`` and fails loudly on
    an array — never a silent wrong answer. array_cols holds lowercase
    unqualified array-typed column names of the statement's tables."""
    mask = []
    for kind, seg in _lex(sql):
        mask.extend([kind == "code"] * len(seg))
    out = []
    pos = 0
    while True:
        m = _LENGTH_CALL.search(sql, pos)
        if m is None:
            out.append(sql[pos:])
            break
        if not all(mask[m.start() : m.end()]):
            out.append(sql[pos : m.end()])
            pos = m.end()
            continue
        depth, j = 1, m.end()
        while j < len(sql) and depth:
            if mask[j]:
                if sql[j] == "(":
                    depth += 1
                elif sql[j] == ")":
                    depth -= 1
            j += 1
        if depth:  # unbalanced — bail on this call
            out.append(sql[pos : m.end()])
            pos = m.end()
            continue
        arg = sql[m.end() : j - 1]
        ident = re.fullmatch(r"\s*([A-Za-z_][\w.]*)\s*", arg)
        is_array = (
            ident is not None
            and ident.group(1).rsplit(".", 1)[-1].lower() in array_cols
        ) or (ident is None and _ARRAY_FN_HEAD.match(arg) is not None)
        out.append(sql[pos : m.start()])
        out.append("size(" if is_array else sql[m.start() : m.end()])
        # resume right after the head: nested length(...) inside the
        # argument still gets its own visit
        pos = m.end()
    return "".join(out)


_STAR_REPLACE = re.compile(r"(?<![\w.])\*\s+REPLACE\s*\(", re.IGNORECASE)


def rewrite_star_replace(sql: str, ordered_cols: list[str]) -> str:
    """DuckDB ``SELECT * REPLACE (expr AS col, …)``: expand ``*`` to the
    schema-resolved column list with the named positions replaced by
    their expressions (same exec-time schema pass as COLUMNS()). An
    unknown column name raises, mirroring DuckDB's binder."""
    guard = 0
    while guard < 100:
        guard += 1
        mask = _code_mask(sql)
        m = None
        for cand in _STAR_REPLACE.finditer(sql):
            if all(mask[cand.start() : cand.end()]):
                m = cand
                break
        if m is None:
            return sql
        open_idx = m.end() - 1
        close = _matching_paren(sql, mask, open_idx)
        if close == -1:
            return sql
        repls: dict[str, str] = {}
        for piece in split_top_level(sql[open_idx + 1 : close]):
            am = re.match(r"^(.*)\s+AS\s+(\w+)\s*$", piece.strip(),
                          re.IGNORECASE | re.DOTALL)
            if am is None:
                return sql  # unsupported shape: loud parser failure
            repls[am.group(2).lower()] = am.group(1).strip()
        lower = {c.lower() for c in ordered_cols}
        for name in repls:
            if name not in lower:
                raise ValueError(
                    f'column "{name}" in REPLACE list does not exist'
                )
        parts = [
            f"({repls[c.lower()]}) AS {c}" if c.lower() in repls else c
            for c in ordered_cols
        ]
        sql = sql[: m.start()] + ", ".join(parts) + sql[close + 1 :]
    return sql


_COLUMNS_CALL = re.compile(r"(?<![\w.])COLUMNS\s*\(", re.IGNORECASE)


def _matching_paren(sql: str, mask, open_idx: int) -> int:
    """Index of the ')' matching the '(' at open_idx, or -1."""
    depth = 0
    for i in range(open_idx, len(sql)):
        if mask[i]:
            if sql[i] == "(":
                depth += 1
            elif sql[i] == ")":
                depth -= 1
                if depth == 0:
                    return i
    return -1


def rewrite_columns_star(sql: str, ordered_cols: list[str]) -> str:
    """DuckDB ``COLUMNS(*)`` / ``COLUMNS('regex')`` star expressions
    (reachable through the reference's ``cpp:52`` delegation) → an
    explicit column list resolved against the statement's table schema.
    ``fn(COLUMNS(...))`` expands to one ``fn(c) AS c`` per column —
    DuckDB names the outputs by the bare column name (probed). The
    regex uses search (partial-match) semantics, like DuckDB's. A
    non-matching regex raises, mirroring DuckDB's binder error; forms
    beyond bare/single-fn-wrap are left alone to fail loudly."""
    guard = 0
    while guard < 100:
        guard += 1
        mask = _code_mask(sql)
        m = None
        for cand in _COLUMNS_CALL.finditer(sql):
            if all(mask[cand.start() : cand.end()]):
                m = cand
                break
        if m is None:
            return sql
        open_idx = m.end() - 1
        close = _matching_paren(sql, mask, open_idx)
        if close == -1:
            return sql
        arg = sql[open_idx + 1 : close].strip()
        if arg == "*":
            names = list(ordered_cols)
        elif (em := re.fullmatch(
            # EXCEPT too: the generic star-EXCLUDE→EXCEPT rewrite runs
            # before this schema pass sees the argument
            r"\*\s+(?:EXCLUDE|EXCEPT)\s*\(\s*(\w+(?:\s*,\s*\w+)*)\s*\)",
            arg,
            re.IGNORECASE,
        )):
            # COLUMNS(* EXCLUDE (a, b)) — drop the listed names; an
            # unknown name is DuckDB's binder error (probed)
            excl = {e.strip().lower() for e in em.group(1).split(",")}
            lowered = {c.lower() for c in ordered_cols}
            for e in excl:
                if e not in lowered:
                    raise ValueError(
                        f'Column "{e}" in EXCLUDE list not found'
                    )
            names = [c for c in ordered_cols if c.lower() not in excl]
        elif re.fullmatch(r"'[^']*'", arg):
            rex = re.compile(arg[1:-1], re.IGNORECASE)
            names = [c for c in ordered_cols if rex.search(c)]
            if not names:
                raise ValueError(
                    f'No matching columns found that match regex "{arg[1:-1]}"'
                )
        elif re.fullmatch(
            r"(?:\[\s*'[^']*'(\s*,\s*'[^']*')*\s*\]"
            r"|array\(\s*'[^']*'(\s*,\s*'[^']*')*\s*\))",
            arg,
            re.IGNORECASE,
        ):
            # COLUMNS(['a', 'b']) literal name-list form (the bracket
            # pass has usually already turned [..] into array(..))
            lowered = {c.lower(): c for c in ordered_cols}
            names = []
            for lit in re.findall(r"'([^']*)'", arg):
                if lit.lower() not in lowered:
                    raise ValueError(f'Column "{lit}" not found')
                names.append(lowered[lit.lower()])
        elif (lm := re.fullmatch(
            r"(\w+)\s*->\s*(?:(lower|upper)\s*\(\s*\1\s*\)|\1)\s+"
            r"(NOT\s+)?(LIKE|ILIKE|SIMILAR\s+TO)\s+'([^']*)'",
            arg,
            re.IGNORECASE,
        )):
            # COLUMNS(c -> c LIKE 'pat') lambda over column NAMES —
            # evaluated here against the schema (r8). LIKE wildcards:
            # % = any run, _ = any char; ILIKE folds case; SIMILAR TO
            # is a regex full match.
            fn, neg, op, pat = (
                (lm.group(2) or "").lower(),
                bool(lm.group(3)),
                lm.group(4).upper().split()[0],
                lm.group(5),
            )
            if op in ("LIKE", "ILIKE"):
                rx = re.compile(
                    "".join(
                        ".*" if ch == "%" else "." if ch == "_"
                        else re.escape(ch)
                        for ch in pat
                    )
                    + r"\Z",
                    re.IGNORECASE if op == "ILIKE" else 0,
                )
            else:
                rx = re.compile(pat + r"\Z")
            def _nm(c: str) -> str:
                return c.lower() if fn == "lower" else (
                    c.upper() if fn == "upper" else c
                )
            names = [
                c for c in ordered_cols
                if bool(rx.match(_nm(c))) != neg
            ]
            if not names:
                raise ValueError(
                    "No matching columns found that match the lambda"
                )
        else:
            return sql  # computed arg / EXCLUDE tail: loud parser failure
        if not names:
            raise ValueError("COLUMNS(*) found no columns to expand")
        # wrap form: COLUMNS is the sole argument of an enclosing call
        k = m.start() - 1
        while k >= 0 and sql[k].isspace():
            k -= 1
        fn_start = None
        if k >= 0 and sql[k] == "(" and mask[k]:
            j = k - 1
            while j >= 0 and sql[j].isspace():
                j -= 1
            e = j
            while j >= 0 and (sql[j].isalnum() or sql[j] == "_"):
                j -= 1
            p = close + 1
            while p < len(sql) and sql[p].isspace():
                p += 1
            if e > j and p < len(sql) and sql[p] == ")":
                fn_start, fn_name, fn_close = j + 1, sql[j + 1 : e + 1], p
        if fn_start is not None:
            repl = ", ".join(f"{fn_name}({c}) AS {c}" for c in names)
            sql = sql[:fn_start] + repl + sql[fn_close + 1 :]
        else:
            repl = ", ".join(names)
            sql = sql[: m.start()] + repl + sql[close + 1 :]
    return sql


_CREATE_TABLE_DDL_RE = re.compile(
    r"^(\s*CREATE\s+(?:OR\s+REPLACE\s+)?(?:TEMP(?:ORARY)?\s+)?TABLE\s+"
    r"(?:IF\s+NOT\s+EXISTS\s+)?([\w.]+)\s*)\(",
    re.IGNORECASE,
)


def strip_table_constraints(
    sql: str,
) -> tuple[str, str | None, list[str] | None]:
    """Remove constraint syntax Spark's DDL parser rejects from a
    ``CREATE TABLE (col-list)`` statement, returning (stripped_sql,
    table, primary_key_cols). Handled: inline/table-level PRIMARY KEY
    (recorded — the server keeps it so bare ON CONFLICT and INSERT OR
    REPLACE/IGNORE resolve the key like DuckDB's binder), UNIQUE,
    REFERENCES, FOREIGN KEY, CHECK (enforcement is dropped — parquet
    tables have no index; PK uniqueness IS enforced on the upsert
    paths). NOT NULL and DEFAULT stay: Spark accepts both."""
    m = _CREATE_TABLE_DDL_RE.match(sql)
    if m is None:
        return sql, None, None
    open_idx = m.end() - 1
    mask = _code_mask(sql)
    close = _matching_paren(sql, mask, open_idx)
    if close == -1:
        return sql, None, None
    inner = sql[open_idx + 1 : close]
    pks: list[str] = []
    kept: list[str] = []
    for el in split_top_level(inner):
        el_s = el.strip()
        if not el_s:
            continue
        body = re.sub(r"(?i)^CONSTRAINT\s+\w+\s+", "", el_s)
        tm = re.match(r"(?i)^PRIMARY\s+KEY\s*\(([^)]*)\)\s*$", body)
        if tm:
            pks.extend(c.strip().strip('"') for c in tm.group(1).split(","))
            continue
        if re.match(r"(?i)^(UNIQUE\s*\(|CHECK\s*\(|FOREIGN\s+KEY\b)", body):
            continue
        col = el_s
        im = re.search(r"(?i)\bPRIMARY\s+KEY\b", col)
        if im:
            name = re.match(r'\s*("[^"]+"|\w+)', col)
            if name:
                pks.append(name.group(1).strip('"'))
            col = re.sub(r"(?i)\s*\bPRIMARY\s+KEY\b", "", col)
        col = re.sub(
            r"(?i)\s*\bREFERENCES\s+[\w.]+\s*(\([^)]*\))?"
            r"(\s+ON\s+(DELETE|UPDATE)\s+(CASCADE|RESTRICT|SET\s+NULL|"
            r"SET\s+DEFAULT|NO\s+ACTION))*",
            "",
            col,
        )
        col = re.sub(r"(?i)\s*\bCHECK\s*\([^()]*\)", "", col)
        col = re.sub(r"(?i)\s*\bUNIQUE\b", "", col)
        kept.append(col.strip())
    if not kept:
        return sql, m.group(2), pks or None
    new_sql = sql[: open_idx + 1] + ", ".join(kept) + sql[close:]
    return new_sql, m.group(2), pks or None


# a CTE definition, `WITH [RECURSIVE] name [(cols)] AS [NOT] [MATERIALIZED] (`
# or `, name … AS (` after an earlier one, up to its body's open paren; an
# open or close paren; a name after FROM/JOIN
_TABLES_SCAN_RE = re.compile(
    r"(?P<cte>(?:\b(?P<with>WITH)(?P<rec>\s+RECURSIVE)?|,)\s*(?P<cte_name>[A-Za-z_]\w*)"
    r"\s*(?:\([^()]*\))?\s+AS\s+(?:NOT\s+)?(?:MATERIALIZED\s+)?\()"
    r"|(?P<open>\()|(?P<close>\))|\b(?:FROM|JOIN)\s+(?P<name>[A-Za-z_][\w.]*)",
    re.IGNORECASE,
)
# a word before `(` that opens a relation or a subquery, not a call
_NOT_CALL_WORDS = frozenset(
    "from join lateral as in exists using on any all some".split()
)
_QUERY_START_RE = re.compile(r"\s*(?:\(|(?:SELECT|WITH|FROM|VALUES|TABLE)\b)", re.IGNORECASE)


def statement_tables(sql: str) -> list[str]:
    """Table identifiers after FROM/JOIN in code segments (simple cases;
    subqueries contribute their own inner FROMs). A FROM inside a
    function call's parentheses (``substring(x FROM 2)``, ``trim(BOTH
    'z' FROM x)``, ``extract(year FROM d)``) names no table, nor does a
    name that reads a CTE in scope: one defined earlier in the same
    WITH (or in an enclosing one), after its own body has closed. In
    ``WITH orders AS (SELECT … FROM orders)`` the inner ``orders`` is
    the catalog table; under WITH RECURSIVE a CTE's body reads the CTE
    itself."""
    names: list[str] = []
    # per open paren: does it open a call's arguments; the CTE it is the body of
    parens: list[tuple[bool, str | None]] = []
    ctes: list[tuple[str, int]] = []  # CTE names in scope, and their WITH's depth
    recursive: dict[int, bool] = {}  # per depth: is the WITH there RECURSIVE
    for kind, seg in _lex(sql):
        if kind != "code":
            continue
        for m in _TABLES_SCAN_RE.finditer(seg):
            depth = len(parens)
            if m.group("cte"):
                cte = m.group("cte_name").lower()
                if m.group("with"):
                    recursive[depth] = m.group("rec") is not None
                if recursive.get(depth):
                    ctes.append((cte, depth))
                parens.append((False, cte))
            elif m.group("open"):
                word = re.search(r"(\w+)\s*$", seg[max(0, m.start() - 64) : m.start()])
                parens.append((
                    word is not None
                    and word.group(1).lower() not in _NOT_CALL_WORDS
                    and _QUERY_START_RE.match(seg, m.end()) is None,
                    None,
                ))
            elif m.group("close"):
                if not parens:
                    continue
                _, cte = parens.pop()
                recursive.pop(depth, None)  # the scope that paren held ends
                ctes = [(n, d) for n, d in ctes if d < depth]
                if cte is not None and not recursive.get(depth - 1):
                    ctes.append((cte, depth - 1))
            elif not (parens and parens[-1][0]):
                name = m.group("name")
                if all(name.lower() != n for n, _ in ctes):
                    names.append(name)
    return names


def _effectively_empty(stmt: str) -> bool:
    """True if the statement is only whitespace and/or comments."""
    return all(
        kind == "comment" or not seg.strip() for kind, seg in _lex(stmt)
    )


def split_statements(sql: str) -> list[str]:
    """Split a simple-Query payload on top-level semicolons (PG allows
    several statements per message; each gets its own result cycle).
    Semicolons inside literals or comments never split; comment-only
    fragments don't become statements."""
    stmts: list[str] = []
    cur: list[str] = []
    for kind, seg in _lex(sql):
        if kind != "code":
            cur.append(seg)
            continue
        while ";" in seg:
            head, seg = seg.split(";", 1)
            cur.append(head)
            stmts.append("".join(cur))
            cur = []
        cur.append(seg)
    stmts.append("".join(cur))
    return [s.strip() for s in stmts if s.strip() and not _effectively_empty(s)]


# option list allows ONE level of nested parens (PARTITION_BY (a, b))
_COPY = re.compile(
    r"^\s*COPY\s+(\(.*\)|[\w.]+)\s+TO\s+'([^']+)'\s*"
    r"(?:\(((?:[^()]|\([^()]*\))*)\))?\s*$",
    re.IGNORECASE | re.DOTALL,
)


_COPY_FROM = re.compile(
    r"^\s*COPY\s+([\w.]+)\s+FROM\s+'([^']+)'\s*(?:\(([^)]*)\))?\s*$",
    re.IGNORECASE | re.DOTALL,
)

_COPY_FORMAT_OPT = re.compile(r"\bFORMAT\s+(\w+)", re.IGNORECASE)
_COPY_HEADER_OPT = re.compile(r"\bHEADER(?:\s+(\w+))?", re.IGNORECASE)

# COPY option keys → handling. 'csvopt:<name>' maps the (unquoted)
# value onto the Spark reader/writer CSV option of that name;
# 'csvfmt:<name>' additionally translates %-directives to Java
# patterns. Everything else is structural.
_COPY_OPT_KEYS = {
    "format": "format",
    "header": "header",
    "compression": "compression",
    "partition_by": "partition_by",
    "delimiter": "csvopt:sep", "delim": "csvopt:sep", "sep": "csvopt:sep",
    "quote": "csvopt:quote",
    "escape": "csvopt:escape",
    "null": "csvopt:nullValue", "nullstr": "csvopt:nullValue",
    "dateformat": "csvfmt:dateFormat", "date_format": "csvfmt:dateFormat",
    "timestampformat": "csvfmt:timestampFormat",
    "timestamp_format": "csvfmt:timestampFormat",
    "force_quote": "force_quote",
}


def _copy_options(
    opts: str | None, path: str, reading: bool = False
) -> tuple[str, bool, str | None, list[str], dict]:
    """(format, header, compression, partition_by, extra) from a COPY
    option list. Format defaults from the file extension; HEADER
    defaults FALSE (PG/DuckDB semantics — COPY csv is headerless
    unless HEADER [true] is given); COMPRESSION / PARTITION_BY map
    onto DataFrameWriter's codec option / partitionBy; DELIMITER,
    QUOTE, ESCAPE, NULL, DATEFORMAT, TIMESTAMPFORMAT (r10) become
    Spark CSV reader/writer options in ``extra``. Unknown options
    refuse LOUDLY — a silently-ignored DELIMITER writes wrong data."""
    fmt = None
    header = False
    compression = None
    partition_by: list[str] = []
    extra: dict[str, str] = {}
    for part in split_top_level(opts) if opts else []:
        part = part.strip()
        if not part:
            continue
        km = re.match(r"(\w+)\s*(.*)$", part, re.DOTALL)
        if km is None:
            raise ValueError(f"COPY: cannot parse option {part!r}")
        key = km.group(1).lower()
        raw = km.group(2).strip()
        qm = re.fullmatch(r"'((?:[^']|'')*)'", raw)
        val = qm.group(1).replace("''", "'") if qm else raw
        kind = _COPY_OPT_KEYS.get(key)
        if kind is None:
            raise ValueError(
                f"COPY: option {key!r} is not supported — supported: "
                + ", ".join(sorted(_COPY_OPT_KEYS))
            )
        if kind == "format":
            fmt = val
        elif kind == "header":
            header = (val or "true").lower() in ("true", "on", "1")
        elif kind == "compression":
            compression = val.lower()
        elif kind == "partition_by":
            cols = val[1:-1] if val.startswith("(") else val
            partition_by = [c.strip() for c in cols.split(",") if c.strip()]
        elif kind == "force_quote":
            if val.strip() != "*":
                raise ValueError(
                    "COPY: FORCE_QUOTE supports only * (Spark's "
                    "quoteAll is all-or-nothing)"
                )
            extra["quoteAll"] = "true"
        elif kind.startswith("csvfmt:"):
            # write direction formats (zero-padded doubled letters);
            # read direction parses 1-2 digit fields like DuckDB
            extra[kind.split(":", 1)[1]] = _translate_strf(
                val, parse=reading
            )
        else:  # csvopt:<sparkname>
            extra[kind.split(":", 1)[1]] = val
    if not fmt:
        ext = path.rsplit(".", 1)[-1].lower()
        fmt = ext if ext in ("parquet", "csv", "json") else "parquet"
    if extra and fmt.lower() != "csv":
        raise ValueError(
            "COPY: CSV options (" + ", ".join(sorted(extra)) + ") with "
            f"FORMAT {fmt} — DuckDB rejects this too"
        )
    return fmt.lower(), header, compression, partition_by, extra


_COPY_STDIN = re.compile(
    r"^\s*COPY\s+([\w.]+)\s*(?:\(([^)]*)\))?\s+FROM\s+STDIN"
    r"\s*(?:WITH\s*)?(?:\(([^)]*)\)|((?:CSV|TEXT)(?:\s+HEADER)?))?\s*;?\s*$",
    re.IGNORECASE | re.DOTALL,
)

_COPY_STDOUT = re.compile(
    r"^\s*COPY\s+(\(.*\)|[\w.]+)\s+TO\s+STDOUT"
    r"\s*(?:WITH\s*)?(?:\(([^)]*)\)|((?:CSV|TEXT)(?:\s+HEADER)?))?\s*;?\s*$",
    re.IGNORECASE | re.DOTALL,
)


def _stdin_options(opts: str | None, legacy: str | None) -> tuple[str, bool]:
    """(format, header) for the STDIN/STDOUT forms: option list or the
    legacy bare `CSV [HEADER]` suffix; default PG text format."""
    if legacy:
        parts = legacy.split()
        return parts[0].lower(), len(parts) > 1
    fmt = "text"
    header = False
    if opts:
        fm = _COPY_FORMAT_OPT.search(opts)
        if fm:
            fmt = fm.group(1).lower()
        hm = _COPY_HEADER_OPT.search(opts)
        if hm:
            header = (hm.group(1) or "true").lower() in ("true", "on", "1")
    return fmt, header


def parse_copy_stdin(stmt: str) -> tuple[str, list[str], str, bool] | None:
    """``COPY <table> [(cols)] FROM STDIN [WITH] [(opts) | CSV [HEADER]]``
    → (table, column list, format, header). The psql \\copy wire shape."""
    m = _COPY_STDIN.match(stmt)
    if not m:
        return None
    table, cols, opts, legacy = m.groups()
    fmt, header = _stdin_options(opts, legacy)
    col_list = [c.strip() for c in cols.split(",")] if cols else []
    return table, col_list, fmt, header


def parse_copy_stdout(stmt: str) -> tuple[str, str, bool] | None:
    """``COPY <table|(query)> TO STDOUT [WITH] [(opts) | CSV [HEADER]]``
    → (inner select SQL, format, header)."""
    m = _COPY_STDOUT.match(stmt)
    if not m:
        return None
    src, opts, legacy = m.groups()
    inner = src[1:-1] if src.startswith("(") else f"SELECT * FROM {src}"
    fmt, header = _stdin_options(opts, legacy)
    return inner, fmt, header


def parse_copy_from(stmt: str) -> tuple[str, str, str, bool, dict] | None:
    """DuckDB/PG ``COPY <table> FROM 'path' (FORMAT fmt, HEADER)`` →
    (table, path, format, header). Bulk load into an existing table; the
    server reads with the TARGET table's schema (PG semantics: COPY FROM
    loads into a pre-declared table, no inference) and appends. Format
    defaults from the file extension like parse_copy; HEADER defaults
    false (PG default — a standard headerless CSV must not lose row 1)."""
    m = _COPY_FROM.match(stmt)
    if not m:
        return None
    table, path, opts = m.group(1), m.group(2), m.group(3)
    fmt, header, _compression, _partition, extra = _copy_options(
        opts, path, reading=True
    )
    return table, path, fmt, header, extra


def parse_copy(stmt: str) -> tuple | None:
    """DuckDB/PG ``COPY <table|(query)> TO 'path' (FORMAT fmt, HEADER,
    COMPRESSION codec, PARTITION_BY (cols))`` → (inner select SQL, path,
    format, header, compression, partition_by). Spark has no COPY
    statement; the server executes it as DataFrameWriter (the reference
    reaches DuckDB's COPY through the same delegated path, SURVEY.md
    §2.3). Format defaults from the file extension (parquet/csv/json);
    HEADER defaults false, matching PG COPY TO csv."""
    m = _COPY.match(stmt)
    if not m:
        return None
    src, path, opts = m.group(1), m.group(2), m.group(3)
    inner = src[1:-1] if src.startswith("(") else f"SELECT * FROM {src}"
    fmt, header, compression, partition_by, extra = _copy_options(opts, path)
    return inner, path, fmt, header, compression, partition_by, extra
