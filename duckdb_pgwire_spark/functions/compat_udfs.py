"""DuckDB scalar-function parity UDFs (wire-surface compat).

Functions DuckDB v1.x exposes through the reference's ``conn.Prepare``
delegation (``src/duckdb_pgwire_extension.cpp:52``) that have no Spark
builtin or expression-template equivalent. All are Arrow-vectorized
pandas UDFs (batch-at-a-time, the same execution shape as DuckDB's
vectorized scalar functions); none sit on analytical hot paths — they
are utility scalars, so the Python round-trip is acceptable and the
semantics are matched to DuckDB exactly (probed per docstring).

Registered by ``functions.udfs.register_udfs`` so every wire session
and test session sees them.
"""

from __future__ import annotations

import datetime
import decimal
import json
import math
import re
import unicodedata

import pandas as pd
from pyspark.sql import SparkSession
from pyspark.sql import functions as F
from pyspark.sql import types as T

# ---------------------------------------------------------------- strings


@F.pandas_udf(T.DoubleType())
def _jaccard(a: pd.Series, b: pd.Series) -> pd.Series:
    """Character-set Jaccard similarity (DuckDB jaccard: probed
    jaccard('duck','luck') = 0.6 — set intersection / union)."""

    def f(x, y):
        if x is None or y is None:
            return None
        sx, sy = set(x), set(y)
        if not sx and not sy:
            return 1.0
        return len(sx & sy) / len(sx | sy)

    return pd.Series([f(x, y) for x, y in zip(a, b)], dtype="float64")


@F.pandas_udf(T.LongType())
def _hamming(a: pd.Series, b: pd.Series) -> pd.Series:
    """Positional mismatch count; DuckDB ERRORS on unequal lengths —
    matched (the error text differs, the refusal does not)."""

    def f(x, y):
        if x is None or y is None:
            return None
        if len(x) != len(y):
            raise ValueError("Mismatch Function: Strings must be of equal length!")
        return sum(1 for p, q in zip(x, y) if p != q)

    return pd.Series([f(x, y) for x, y in zip(a, b)], dtype="object")


def _jaro(s1: str, s2: str) -> float:
    if s1 == s2:
        return 1.0
    n1, n2 = len(s1), len(s2)
    if n1 == 0 or n2 == 0:
        return 0.0
    match_dist = max(n1, n2) // 2 - 1
    f1 = [False] * n1
    f2 = [False] * n2
    matches = 0
    for i in range(n1):
        lo, hi = max(0, i - match_dist), min(n2, i + match_dist + 1)
        for j in range(lo, hi):
            if not f2[j] and s1[i] == s2[j]:
                f1[i] = f2[j] = True
                matches += 1
                break
    if matches == 0:
        return 0.0
    t = 0
    k = 0
    for i in range(n1):
        if f1[i]:
            while not f2[k]:
                k += 1
            if s1[i] != s2[k]:
                t += 1
            k += 1
    t //= 2
    return (matches / n1 + matches / n2 + (matches - t) / matches) / 3


@F.pandas_udf(T.DoubleType())
def _jaro_similarity(a: pd.Series, b: pd.Series) -> pd.Series:
    return pd.Series(
        [None if x is None or y is None else _jaro(x, y) for x, y in zip(a, b)],
        dtype="float64",
    )


@F.pandas_udf(T.DoubleType())
def _jaro_winkler(a: pd.Series, b: pd.Series) -> pd.Series:
    """Jaro-Winkler with the standard 0.1 prefix scale, boost threshold
    0.7 (probed: jaro_winkler_similarity('duck','duckdb') = 0.93333…)."""

    def f(x, y):
        if x is None or y is None:
            return None
        j = _jaro(x, y)
        if j <= 0.7:
            return j
        prefix = 0
        for p, q in zip(x[:4], y[:4]):
            if p != q:
                break
            prefix += 1
        return j + prefix * 0.1 * (1 - j)

    return pd.Series([f(x, y) for x, y in zip(a, b)], dtype="float64")


@F.pandas_udf(T.LongType())
def _damerau_levenshtein(a: pd.Series, b: pd.Series) -> pd.Series:
    """Unrestricted Damerau-Levenshtein (probed: ('abc','acb') = 1)."""

    def f(s1, s2):
        if s1 is None or s2 is None:
            return None
        n1, n2 = len(s1), len(s2)
        big = n1 + n2
        da: dict[str, int] = {}
        d = [[0] * (n2 + 2) for _ in range(n1 + 2)]
        d[0][0] = big
        for i in range(n1 + 1):
            d[i + 1][0] = big
            d[i + 1][1] = i
        for j in range(n2 + 1):
            d[0][j + 1] = big
            d[1][j + 1] = j
        for i in range(1, n1 + 1):
            db = 0
            for j in range(1, n2 + 1):
                k = da.get(s2[j - 1], 0)
                m = db
                if s1[i - 1] == s2[j - 1]:
                    cost = 0
                    db = j
                else:
                    cost = 1
                d[i + 1][j + 1] = min(
                    d[i][j] + cost,
                    d[i + 1][j] + 1,
                    d[i][j + 1] + 1,
                    d[k][m] + (i - k - 1) + 1 + (j - m - 1),
                )
            da[s1[i - 1]] = i
        return d[n1 + 1][n2 + 1]

    return pd.Series([f(x, y) for x, y in zip(a, b)], dtype="object")


@F.pandas_udf(T.StringType())
def _duck_fmt1(spec: pd.Series, val: pd.Series) -> pd.Series:
    """One C-style float directive applied to one DOUBLE — Python's
    %-formatting shares fmt/C semantics that Java's Formatter does not
    (r12 printf sweep): rounding of the true BINARY value (%.2f of
    1.005 → '1.00'), %g trailing-zero stripping ('1.2345e-05'), and
    'inf'/'nan' spellings. NULL args never reach here (the printf
    rewrite's NULL guard fires first), so every NaN in the column is a
    REAL NaN and formats as 'nan' like duck."""
    out = []
    for s, v in zip(spec, val):
        out.append(None if s is None or v is None else s % v)
    return pd.Series(out, dtype=object)


@F.pandas_udf(T.StringType())
def _nfc_normalize(s: pd.Series) -> pd.Series:
    return s.map(
        lambda x: unicodedata.normalize("NFC", x) if x is not None else None
    )


@F.pandas_udf(T.StringType())
def _duck_float32_text(v: pd.Series) -> pd.Series:
    """DuckDB's REAL→VARCHAR rendering — the exact Grisu3-with-
    fallback model in functions/floattext.py (0 mismatches over 621k
    probed bit patterns; closes the r13 0.6% shortest-digits residue).
    NOTE: the call site guards NULL with a CASE (a float-typed pandas
    UDF cannot tell NULL from NaN)."""
    from .floattext import duck_float_text

    return v.map(
        lambda x: None if x is None else duck_float_text(float(x)),
        na_action=None,
    )


@F.pandas_udf(T.StringType())
def _duck_bit_binop(a: pd.Series, b: pd.Series, op: pd.Series) -> pd.Series:
    """Bitwise AND/OR/XOR over the BIT emulation's 0/1 strings (r13
    continuation; duck probe: equal widths required — 'Cannot AND bit
    strings of different sizes' Invalid Input Error verbatim — NULL
    operands are NULL). ``op`` is a constant literal per call site;
    BIT is literal-cast-driven and never hot-path, so the Arrow kernel
    is the right cost."""
    import operator as _op

    ops = {"AND": _op.and_, "OR": _op.or_, "XOR": _op.xor}
    out = []
    for x, y, o in zip(a, b, op):
        if x is None or y is None:
            out.append(None)
            continue
        for s in (x, y):
            # duck coerces bare string literals into bitwise ops
            # ('01' & '01'::BIT works) but refuses non-binary chars
            if s.strip("01"):
                raise ValueError(
                    "Invalid character encountered in string -> bit"
                    f" conversion: '{s}'"
                )
        if len(x) != len(y):
            raise ValueError(
                f"Invalid Input Error: Cannot {o} bit strings of"
                " different sizes"
            )
        out.append(format(ops[o](int(x, 2), int(y, 2)), f"0{len(x)}b"))
    return pd.Series(out, dtype=object)


@F.pandas_udf(T.StringType())
def _duck_bit_shift(a: pd.Series, n: pd.Series, d: pd.Series) -> pd.Series:
    """BIT shifts: zero-fill within the declared width (probed r13:
    ``'0101'::BIT << 4`` = '0000', ``>>`` of any negative or
    overshooting count = all-zeros, ``<<`` of a negative count is
    duck's Out of Range Error verbatim, NULL count → NULL)."""
    out = []
    for x, k, dd in zip(a, n, d):
        if x is None or k is None or (isinstance(k, float) and k != k):
            out.append(None)
            continue
        k = int(k)
        w = len(x)
        if dd == "L":
            if k < 0:
                raise ValueError(
                    "Out of Range Error: Cannot left-shift by negative"
                    f" number {k}"
                )
            v = (int(x, 2) << k) & ((1 << w) - 1) if k < w else 0
        else:
            v = int(x, 2) >> k if 0 <= k < w else 0
        out.append(format(v, f"0{w}b"))
    return pd.Series(out, dtype=object)


@F.pandas_udf(T.StringType())
def _duck_bit_not(a: pd.Series) -> pd.Series:
    """Prefix ``~`` over the BIT emulation: flip every 0/1 char."""
    tbl = str.maketrans("01", "10")
    return a.map(lambda x: x.translate(tbl) if x is not None else None)


@F.pandas_udf(T.StringType())
def _duck_double_text(v: pd.Series) -> pd.Series:
    """DuckDB's DOUBLE→VARCHAR rendering = Python's shortest-round-trip
    repr ('1e+20', '1e-06', '1.0', '123456789.123', 'inf', 'nan' —
    probed r10). The pgwire text encoder uses the same rule."""

    # NOTE: a DoubleType pandas UDF receives SQL NULL as NaN — the
    # call site guards NULL with a CASE, so NaN here is a true NaN
    def f(x):
        x = float(x)
        return "nan" if x != x else repr(x)

    return v.map(f, na_action=None)


def _duck_varchar(v, _float_text=repr):
    """DuckDB's composite ``::VARCHAR`` rendering (probed, r11):
    lists ``[1, x y, NULL]`` (elements BARE, never quoted), named
    structs ``{'a': 1}`` (keys single-quoted), unnamed rows
    ``(1, x)``, maps ``{1=x, 2=y}``, bools ``true/false``, doubles
    shortest-round-trip, timestamps/intervals in the same text the
    wire encoder was probed to. Row-at-a-time by design — this backs
    an explicit cast in a dialect path, not a pipeline hot path.

    ``_float_text`` renders the FINITE float leaves (the f32 variant
    swaps in single-precision shortest-round-trip text; one walk
    serves both so the enum/union/tuple heuristics can't drift —
    review r11 second pass).

    Auto-generated field names (col1..colN from a parenthesized row,
    0..N-1 from arrays_zip/list_zip) render as an unnamed TUPLE —
    the heuristic that also closes the list_zip named-struct render
    residue (NOTES r10). A user struct genuinely named col1, col2
    renders as a tuple too: documented residue."""
    from ..server.typemap import _enc_interval, _enc_timestamp

    def render(x):
        if x is None:
            return "NULL"
        if isinstance(x, bool):
            return "true" if x else "false"
        if isinstance(x, float):
            if x != x:
                return "nan"
            if x == float("inf"):
                return "inf"
            if x == float("-inf"):
                return "-inf"
            return _float_text(x)
        if isinstance(x, int | decimal.Decimal):
            return str(x)
        if isinstance(x, str):
            return x
        if isinstance(x, bytes | bytearray):
            try:
                return bytes(x).decode("utf-8")
            except UnicodeDecodeError:
                return bytes(x).decode("latin-1")
        if isinstance(x, datetime.datetime):
            return _enc_timestamp(x)
        if isinstance(x, datetime.timedelta):
            return _enc_interval(x)
        if isinstance(x, datetime.date):
            return x.isoformat()
        if isinstance(x, datetime.time):
            s = x.strftime("%H:%M:%S")
            if x.microsecond:
                s += f".{x.microsecond:06d}".rstrip("0")
            return s
        if isinstance(x, list):
            return "[" + ", ".join(render(e) for e in x) + "]"
        if isinstance(x, dict):  # MapType (insertion = entry order)
            return (
                "{"
                + ", ".join(f"{render(k)}={render(w)}" for k, w in x.items())
                + "}"
            )
        if hasattr(x, "asDict"):  # Row (struct)
            d = x.asDict()  # non-recursive: nested Rows keep names
            keys = list(d)
            if (
                len(keys) == 2
                and keys[0] == "__ecode"
                and keys[1].startswith("__elabel_")
            ):
                return str(d[keys[1]])  # enum emulation → member label
            tag = d.get("__utag")
            if isinstance(tag, str) and len(d) == 2 and tag in d:
                return render(d[tag])  # union emulation → active member
            if keys == [f"col{i + 1}" for i in range(len(keys))] or keys == [
                str(i) for i in range(len(keys))
            ]:
                return "(" + ", ".join(render(d[k]) for k in keys) + ")"
            return (
                "{"
                + ", ".join(
                    "'" + k.replace("'", "''") + "': " + render(d[k])
                    for k in keys
                )
                + "}"
            )
        return str(x)

    return None if v is None else render(v)


def _duck_varchar_f32(v):
    """duck_varchar for composites whose LEAF floats are FLOAT32
    columns: DuckDB renders each leaf with its Grisu3 float kernel
    ('-0.15469436'), while the Python value arrives widened to float64
    whose repr shows the full 17 digits. functions/floattext.py is the
    exact engine model (0/621k probe mismatches); the schema-aware app
    pass picks this variant when the column type contains FloatType.
    Same walk as ``_duck_varchar`` — only the finite float leaf
    formatter differs (the walk owns nan/inf/NULL itself)."""
    from .floattext import duck_float_text_finite

    return _duck_varchar(v, _float_text=duck_float_text_finite)


def _duck_ym_render(months: int) -> str:
    """DuckDB's year-month interval text (probed r14): sign on every
    component ('-1 year -2 months'), per-component pluralization,
    zero → '00:00:00' (the all-zero interval renders day-time style)."""
    if months == 0:
        return "00:00:00"
    y, m = divmod(abs(months), 12)
    sgn = "-" if months < 0 else ""
    parts = []
    if y:
        parts.append(f"{sgn}{y} year" + ("s" if y != 1 else ""))
    if m:
        parts.append(f"{sgn}{m} month" + ("s" if m != 1 else ""))
    return " ".join(parts)


_SPARK_YM_RE = re.compile(
    r"INTERVAL '(-?)(\d+)(?:-(\d+))?' (YEAR TO MONTH|YEAR|MONTH)"
)


@F.pandas_udf(T.StringType())
def _duck_ym_text(v: pd.Series) -> pd.Series:
    """Spark's canonical YearMonthIntervalType string ("INTERVAL '1-2'
    YEAR TO MONTH" / "INTERVAL '14' MONTH" / "INTERVAL '2' YEAR") →
    DuckDB's render ('1 year 2 months'). Backs the wire-path ym
    transform (_ym_safe — PySpark cannot collect ym values at all) and
    the ::VARCHAR fold (r14). Unrecognized text passes through."""

    return v.map(_ym_one)


def _ym_one(s):
    """One Spark-canonical year-month interval string → duck text."""
    if s is None:
        return None
    m = _SPARK_YM_RE.match(s)
    if m is None:
        return s
    sgn, a, b, unit = m.groups()
    if b is not None:
        months = int(a) * 12 + int(b)
    else:
        months = int(a) * (12 if unit == "YEAR" else 1)
    return _duck_ym_render(-months if sgn else months)


_SPARK_DT_IVL_RE = re.compile(
    r"INTERVAL '(-?)([\d :.]+)' "
    r"(DAY|HOUR|MINUTE|SECOND)(?: TO (HOUR|MINUTE|SECOND))?$"
)


def _duck_dt_render(days: int, micros: int) -> str:
    """DuckDB's day-time interval text from separate components
    (probed r14): days component unnormalized from hours ('25:00:00'
    stays 25), sign on each component ('-1 day -02:00:00'), days-only
    drops the zero time part ('400 days'), zero → '00:00:00',
    fractional seconds trimmed."""
    parts: list[str] = []
    if days:
        parts.append(f"{days} day" + ("s" if abs(days) != 1 else ""))
    if micros or not days:
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


def _dtivl_parse(s):
    """Spark-canonical day-time interval string → (days, micros), or
    None when the text is not canonical."""
    m = _SPARK_DT_IVL_RE.match(s)
    if m is None:
        return None
    neg, body, u1, u2 = m.groups()
    days = h = mi = 0
    sec = 0.0
    if u1 == "DAY":
        if " " in body:
            dpart, tpart = body.split(" ", 1)
        else:
            dpart, tpart = body, ""
        days = int(dpart)
        fields = tpart.split(":") if tpart else []
        start = 0
    else:
        fields = body.split(":")
        start = ["HOUR", "MINUTE", "SECOND"].index(u1)
    order = ["HOUR", "MINUTE", "SECOND"]
    for k, fld in enumerate(fields):
        unit = order[start + k]
        if unit == "SECOND":
            sec = float(fld)
        elif unit == "MINUTE":
            mi = int(fld)
        else:
            h = int(fld)
    micros = (h * 60 + mi) * 60_000_000 + round(sec * 1_000_000)
    if neg:
        days, micros = -days, -micros
    return days, micros


def _dtivl_one(s):
    """One Spark-canonical day-time interval string → duck text."""
    if s is None:
        return None
    p = _dtivl_parse(s)
    if p is None:
        return s
    return _duck_dt_render(*p)


_DAY_US = 86_400_000_000


def _dtivl_prov_one(s, ld, lus):
    """duck text for a day-time interval whose PROVENANCE is a
    timestamp subtraction (canonical 24h-truncating component split)
    plus literal components (ld days, lus micros): recover the
    subtraction's total from Spark's single-micros value, re-split it
    canonically, then add the literal components back WITHOUT
    renormalizing — duck's '3 days 27:00:00' (r16, VERDICT item 3)."""
    if s is None:
        return None
    p = _dtivl_parse(s)
    if p is None:
        return s
    total = p[0] * _DAY_US + p[1]
    base = total - int(ld) * _DAY_US - int(lus)
    q, r = divmod(abs(base), _DAY_US)
    if base < 0:
        q, r = -q, -r
    return _duck_dt_render(q + int(ld), r + int(lus))


@F.pandas_udf(T.StringType())
def _duck_dtivl_text_prov(
    v: pd.Series, ld: pd.Series, lus: pd.Series
) -> pd.Series:
    return pd.Series(
        [
            None if s is None else _dtivl_prov_one(s, a, b)
            for s, a, b in zip(v, ld, lus)
        ]
    )


@F.pandas_udf(T.StringType())
def _duck_dtivl_text(v: pd.Series) -> pd.Series:
    """Spark's canonical DayTimeIntervalType string ("INTERVAL '3' DAY"
    / "INTERVAL '1 02:03:04.5' DAY TO SECOND" / "INTERVAL '90' MINUTE")
    → DuckDB's render ('3 days' / '1 day 02:03:04.5' / '01:30:00').
    Backs the ::VARCHAR fold for day-time interval literals (r14):
    Spark's in-SQL cast text is its own canonical form, and crucially
    the DAY field maps to duck's days component while HOUR-and-below
    fold into the time part with UNBOUNDED hours — exactly duck's
    component semantics for these literal shapes. Unrecognized text
    passes through."""
    return v.map(_dtivl_one)


def _arr_text_udf(one):
    """ARRAY<STRING> element-text mapper (r15): element-wise VARCHAR[]
    casts route through Spark's own ARRAY<STRING> cast first (exact
    round-trip element texts, NULL elements preserved — a float-typed
    array UDF could not tell NULL from NaN), then each element re-
    renders duck-style."""

    def g(v: pd.Series) -> pd.Series:
        def f(a):
            if a is None:
                return None
            return [None if s is None else one(s) for s in a]

        return v.map(f, na_action=None)

    return g


def _f64_text_one(s: str) -> str:
    x = float(s)
    return "nan" if x != x else repr(x)


def _f32_text_one(s: str) -> str:
    import struct

    from .floattext import duck_float_text

    # Java's shortest float text round-trips through FLOAT32, not
    # DOUBLE — snap before the Grisu3 kernel ('46977.562' parses to a
    # double ≠ the f32 value 46977.5625)
    v = struct.unpack("<f", struct.pack("<f", float(s)))[0]
    return duck_float_text(v)


_duck_double_text_arr = F.pandas_udf(T.ArrayType(T.StringType()))(
    _arr_text_udf(_f64_text_one)
)
_duck_float32_text_arr = F.pandas_udf(T.ArrayType(T.StringType()))(
    _arr_text_udf(_f32_text_one)
)
_duck_dtivl_text_arr = F.pandas_udf(T.ArrayType(T.StringType()))(
    _arr_text_udf(_dtivl_one)
)
_duck_ym_text_arr = F.pandas_udf(T.ArrayType(T.StringType()))(
    _arr_text_udf(_ym_one)
)


@F.pandas_udf(T.StringType())
def _duck_chr(cp: pd.Series) -> pd.Series:
    """Full-Unicode chr() — DuckDB chr(128512) = '😀'; Spark's char()
    wraps at 256 (r10 sweep)."""
    return cp.map(lambda x: chr(int(x)) if pd.notna(x) else None)


def _moments(lst):
    """The list's non-NULL elements as a float64 array (or None for a
    NULL list). Arrow hands NULL elements to pandas as NaN, so NaN is
    dropped too — a GENUINE NaN element therefore skips instead of
    reproducing DuckDB's 'out of range' error (documented
    over-acceptance; review r10). Size guards live in the callers."""
    import numpy as np

    if lst is None:
        return None
    a = np.asarray([x for x in lst if x is not None], dtype="float64")
    return a[~np.isnan(a)]


@F.pandas_udf(T.DoubleType())
def _duck_list_skewness(v: pd.Series) -> pd.Series:
    """DuckDB list_skewness: n/((n-1)(n-2)) · Σ(x-m)³ / s³ with the
    SAMPLE stddev (numerically fitted and probed r10); n < 3 or zero
    variance → NULL."""
    def f(lst):
        a = _moments(lst)
        if a is None or a.size < 3:
            return None
        n, m = a.size, a.mean()
        s = a.std(ddof=1)
        if s == 0.0:
            return None
        return float(n / ((n - 1) * (n - 2)) * ((a - m) ** 3).sum() / s**3)

    return v.map(f)


@F.pandas_udf(T.DoubleType())
def _duck_list_kurtosis(v: pd.Series) -> pd.Series:
    """DuckDB list_kurtosis: the sample-corrected excess kurtosis
    n(n+1)/((n-1)(n-2)(n-3)) · Σ(x-m)⁴/s⁴ − 3(n-1)²/((n-2)(n-3))
    (probed r10); n < 4 or zero variance → NULL."""
    def f(lst):
        a = _moments(lst)
        if a is None or a.size < 4:
            return None
        n, m = a.size, a.mean()
        s2 = a.var(ddof=1)
        if s2 == 0.0:
            return None
        g = ((a - m) ** 4).sum() / (s2 * s2)
        return float(
            n * (n + 1) / ((n - 1) * (n - 2) * (n - 3)) * g
            - 3 * (n - 1) ** 2 / ((n - 2) * (n - 3))
        )

    return v.map(f)


def _fmt_size(n: int | None, base: int, units: tuple[str, ...]) -> str | None:
    """DuckDB format_bytes/formatReadableDecimalSize: '<int> bytes'
    below one unit, else one TRUNCATED decimal place (probed:
    format_bytes(1000000) = '976.5 KiB', not the rounded 976.6)."""
    if n is None:
        return None
    sign, a = ("-", -n) if n < 0 else ("", n)
    if a < base:
        return f"{n} byte" if a == 1 else f"{n} bytes"
    p = base
    for u in units:
        if a < p * base or u == units[-1]:
            v = a * 10 // p
            return f"{sign}{v // 10}.{v % 10} {u}"
        p *= base
    return None  # unreachable


@F.pandas_udf(T.StringType())
def _format_bytes(n: pd.Series) -> pd.Series:
    units = ("KiB", "MiB", "GiB", "TiB", "PiB", "EiB")
    return n.map(
        lambda x: _fmt_size(int(x), 1024, units) if pd.notna(x) else None
    )


@F.pandas_udf(T.StringType())
def _format_decimal_size(n: pd.Series) -> pd.Series:
    units = ("kB", "MB", "GB", "TB", "PB", "EB")
    return n.map(
        lambda x: _fmt_size(int(x), 1000, units) if pd.notna(x) else None
    )


@F.pandas_udf(T.StringType())
def _strip_accents(s: pd.Series) -> pd.Series:
    def f(x):
        if x is None:
            return None
        return "".join(
            c
            for c in unicodedata.normalize("NFD", x)
            if unicodedata.category(c) != "Mn"
        )

    return s.map(f)


@F.pandas_udf(T.StringType())
def _regexp_replace_one(s: pd.Series, pat: pd.Series, rep: pd.Series) -> pd.Series:
    """DuckDB regexp_replace default: FIRST occurrence only (Spark's
    builtin replaces all — the shim routes 3-arg calls here). The
    replacement passes through verbatim: RE2 and Python both spell
    backreferences \\1..\\9 (code-review r6: escaping them broke
    '\\2\\1' swaps)."""
    import re as _re

    def f(x, p, r):
        if x is None or p is None or r is None:
            return None
        return _re.sub(p, r, x, count=1)

    return pd.Series([f(x, p, r) for x, p, r in zip(s, pat, rep)], dtype="object")


@F.pandas_udf(T.StringType())
def _regexp_replace_g(s: pd.Series, pat: pd.Series, rep: pd.Series) -> pd.Series:
    """'g'-flag regexp_replace with RE2 \\N backreference semantics —
    Spark's builtin uses Java's $N replacement syntax, so backref
    replacements route here instead."""
    import re as _re

    def f(x, p, r):
        if x is None or p is None or r is None:
            return None
        return _re.sub(p, r, x)

    return pd.Series([f(x, p, r) for x, p, r in zip(s, pat, rep)], dtype="object")


_BAR_EIGHTHS = " ▏▎▍▌▋▊▉"


@F.pandas_udf(T.StringType())
def _bar(x: pd.Series, mi: pd.Series, ma: pd.Series, width: pd.Series) -> pd.Series:
    """DuckDB bar(): full blocks + one eighth-block partial, then
    space-padded so the BYTE length reaches ``width`` (probed quirk —
    '███ ' is 10 UTF-8 bytes)."""

    def f(v, lo, hi, w):
        if v is None or lo is None or hi is None or w is None:
            return None
        w = int(w)
        frac = 0.0 if hi == lo else (float(v) - float(lo)) / (float(hi) - float(lo))
        frac = min(1.0, max(0.0, frac))
        units = frac * w
        full = int(units)
        eighths = int((units - full) * 8)
        out = "█" * full + (_BAR_EIGHTHS[eighths] if eighths > 0 else "")
        pad = w - len(out.encode("utf-8"))
        return out + " " * max(0, pad)

    return pd.Series([f(*t) for t in zip(x, mi, ma, width)], dtype="object")


# ---------------------------------------------------------------- numerics


@F.pandas_udf(T.DoubleType())
def _gamma(x: pd.Series) -> pd.Series:
    return x.map(lambda v: math.gamma(v) if v is not None else None).astype(
        "float64"
    )


@F.pandas_udf(T.DoubleType())
def _lgamma(x: pd.Series) -> pd.Series:
    return x.map(lambda v: math.lgamma(v) if v is not None else None).astype(
        "float64"
    )


@F.pandas_udf(T.DoubleType())
def _nextafter(a: pd.Series, b: pd.Series) -> pd.Series:
    """IEEE-754 next representable double from a toward b (DuckDB
    nextafter; math.nextafter is exact — no float round-trip drift)."""
    return pd.Series(
        [
            None if x is None or y is None
            else math.nextafter(float(x), float(y))
            for x, y in zip(a, b)
        ],
        dtype="float64",
    )


@F.pandas_udf(T.LongType())
def _gcd(a: pd.Series, b: pd.Series) -> pd.Series:
    return pd.Series(
        [
            None if x is None or y is None else math.gcd(int(x), int(y))
            for x, y in zip(a, b)
        ],
        dtype="object",
    )


@F.pandas_udf(T.LongType())
def _lcm(a: pd.Series, b: pd.Series) -> pd.Series:
    def f(x, y):
        if x is None or y is None:
            return None
        x, y = int(x), int(y)
        if x == 0 or y == 0:
            return 0
        return abs(x * y) // math.gcd(x, y)

    return pd.Series([f(x, y) for x, y in zip(a, b)], dtype="object")


# ---------------------------------------------------------------- datetime


@F.pandas_udf(T.StringType())
def _age_text(a: pd.Series, b: pd.Series) -> pd.Series:
    """PG/DuckDB age(a, b): calendar interval rendered as DuckDB text
    ('1 year 2 months 1 day 07:30:00', negatives per-component, zero →
    '00:00:00'). Returns VARCHAR — Spark intervals cannot mix
    year-month and day-time parts, and PG clients read text anyway
    (documented type delta)."""
    from dateutil.relativedelta import relativedelta

    def f(x, y):
        if x is None or y is None:
            return None
        rd = relativedelta(x, y)
        neg = "-" if (x < y) else ""
        parts = []
        for val, unit in ((rd.years, "year"), (rd.months, "month"), (rd.days, "day")):
            if val:
                parts.append(f"{val} {unit}" + ("s" if abs(val) != 1 else ""))
        micros = (
            (rd.hours * 3600 + rd.minutes * 60 + rd.seconds) * 1_000_000
            + rd.microseconds
        )
        if micros or not parts:
            am = abs(micros)
            hh, rem = divmod(am, 3_600_000_000)
            mm, rem = divmod(rem, 60_000_000)
            ss, us = divmod(rem, 1_000_000)
            t = f"{hh:02d}:{mm:02d}:{ss:02d}"
            if us:
                t += f".{us:06d}".rstrip("0")
            parts.append((neg if micros else "") + t)
        return " ".join(parts)

    return pd.Series([f(x, y) for x, y in zip(a, b)], dtype="object")


# ---------------------------------------------------------------- JSON


def _duck_json_path_steps(path) -> list | None:
    """Parse a DuckDB json path argument into access steps. Supports
    the forms the compat layer routes here (scripts/sweep_defaults r10):
    integer index, bare single key (dots and all — ONE key in DuckDB),
    JSON pointer /a/0, and JSONPath $.a."b c"[n] with negative and
    #-relative indexes. None = unsupported shape."""
    if path is None:
        return None
    if isinstance(path, (int, float)):
        return [int(path)]
    p = str(path)
    if p.startswith("$"):
        steps: list = []
        i = 1
        while i < len(p):
            c = p[i]
            if c == ".":
                i += 1
                if i < len(p) and p[i] == '"':
                    j = p.find('"', i + 1)
                    if j < 0:
                        return None
                    steps.append(p[i + 1 : j])
                    i = j + 1
                else:
                    j = i
                    while j < len(p) and (p[j].isalnum() or p[j] == "_"):
                        j += 1
                    if j == i:
                        return None
                    steps.append(p[i:j])
                    i = j
            elif c == "[":
                j = p.find("]", i)
                if j < 0:
                    return None
                tok = p[i + 1 : j].strip()
                if tok.startswith("#-"):
                    tok = "-" + tok[2:]
                elif tok == "#":
                    tok = "-1"
                try:
                    steps.append(int(tok))
                except ValueError:
                    return None
                i = j + 1
            else:
                return None
        return steps
    if p.startswith("/"):
        return [
            int(s) if s.lstrip("-").isdigit() else s for s in p.split("/")[1:]
        ]
    return [p]  # bare key: the WHOLE text is one key


def _duck_json_render(v, text: bool) -> str | None:
    """DuckDB rendering of an extracted JSON value: objects/arrays as
    compact JSON, strings quoted (json mode) or raw (text mode),
    numbers via Python repr (matches DuckDB's shortest-round-trip
    doubles: 1.50 → '1.5'), JSON null → SQL NULL."""
    if v is None:
        return None
    if isinstance(v, bool):
        return "true" if v else "false"
    if isinstance(v, str):
        return v if text else json.dumps(v, ensure_ascii=False)
    if isinstance(v, int):
        return str(v)
    if isinstance(v, float):
        return repr(v)
    return json.dumps(v, separators=(",", ":"), ensure_ascii=False)


def _duck_json_extract_impl(doc, path, text: bool):
    if doc is None or path is None:
        return None
    steps = _duck_json_path_steps(path)
    if steps is None:
        return None
    try:
        v = json.loads(doc)
    except (ValueError, TypeError):
        return None
    for s in steps:
        if isinstance(s, int):
            if not isinstance(v, list) or not -len(v) <= s < len(v):
                return None
            v = v[s]
        else:
            if not isinstance(v, dict) or s not in v:
                return None
            v = v[s]
    return _duck_json_render(v, text)


@F.pandas_udf(T.StringType())
def _duck_json_extract(doc: pd.Series, path: pd.Series) -> pd.Series:
    return pd.Series(
        [_duck_json_extract_impl(d, p, False) for d, p in zip(doc, path)]
    )


@F.pandas_udf(T.StringType())
def _duck_json_extract_text(doc: pd.Series, path: pd.Series) -> pd.Series:
    return pd.Series(
        [_duck_json_extract_impl(d, p, True) for d, p in zip(doc, path)]
    )


@F.pandas_udf(T.BooleanType())
def _json_valid(s: pd.Series) -> pd.Series:
    def f(x):
        if x is None:
            return None
        try:
            json.loads(x)
            return True
        except (ValueError, TypeError):
            return False

    return pd.Series([f(x) for x in s], dtype="object")


@F.pandas_udf(T.ArrayType(T.StringType()))
def _json_keys(s: pd.Series) -> pd.Series:
    def f(x):
        if x is None:
            return None
        try:
            v = json.loads(x)
        except (ValueError, TypeError):
            return None
        return list(v.keys()) if isinstance(v, dict) else None

    return pd.Series([f(x) for x in s], dtype="object")


def _dump(v) -> str:
    return json.dumps(v, separators=(",", ":"), ensure_ascii=False)


@F.pandas_udf(T.StringType())
def _json_merge_patch(a: pd.Series, b: pd.Series) -> pd.Series:
    """RFC 7386 merge patch (probed: null values delete keys, patch
    wins, key order = remaining-target-then-patch)."""

    def merge(t, p):
        if not isinstance(p, dict):
            return p
        out = dict(t) if isinstance(t, dict) else {}
        for k, v in p.items():
            if v is None:
                out.pop(k, None)
            else:
                out[k] = merge(out.get(k), v)
        return out

    def f(x, y):
        if x is None or y is None:
            return None
        try:
            return _dump(merge(json.loads(x), json.loads(y)))
        except (ValueError, TypeError):
            return None

    return pd.Series([f(x, y) for x, y in zip(a, b)], dtype="object")


def _duck_json_type(v) -> str:
    if v is None:
        return "NULL"
    if isinstance(v, bool):
        return "BOOLEAN"
    if isinstance(v, int):
        return "UBIGINT" if v >= 0 else "BIGINT"
    if isinstance(v, float):
        return "DOUBLE"
    if isinstance(v, str):
        return "VARCHAR"
    if isinstance(v, list):
        return "ARRAY"
    return "OBJECT"


@F.pandas_udf(T.StringType())
def _json_quote(s: pd.Series) -> pd.Series:
    """DuckDB json_quote: render any scalar as its JSON text."""

    def f(v):
        if v is None:
            return None
        if hasattr(v, "item"):
            v = v.item()
        return _dump(v)

    return pd.Series([f(x) for x in s], dtype="object")


@F.pandas_udf(T.StringType())
def _json_type(s: pd.Series) -> pd.Series:
    def f(x):
        if x is None:
            return None
        try:
            return _duck_json_type(json.loads(x))
        except (ValueError, TypeError):
            return None

    return pd.Series([f(x) for x in s], dtype="object")


@F.pandas_udf(T.BooleanType())
def _json_contains(a: pd.Series, b: pd.Series) -> pd.Series:
    """Structural containment (MySQL-style, which DuckDB follows):
    scalars by equality, objects by subset, arrays by element
    containment."""

    def contains(h, n):
        if isinstance(n, dict):
            if isinstance(h, dict):
                return all(k in h and contains(h[k], v) for k, v in n.items())
            if isinstance(h, list):
                return any(contains(e, n) for e in h)
            return False
        if isinstance(n, list):
            if isinstance(h, list):
                return all(any(contains(e, x) for e in h) for x in n)
            return False
        if isinstance(h, list):
            return any(contains(e, n) for e in h)
        if isinstance(h, dict):
            return any(contains(v, n) for v in h.values())
        return h == n

    def f(x, y):
        if x is None or y is None:
            return None
        try:
            return contains(json.loads(x), json.loads(y))
        except (ValueError, TypeError):
            return None

    return pd.Series([f(x, y) for x, y in zip(a, b)], dtype="object")


# ----------------------------------------------------------- aggregates
# Grouped-agg pandas UDFs (Arrow per-group batches). These are utility
# statistics, not fact-table hot paths; each ships one column of the
# group to Python. DuckDB semantics probed in tests/test_compat_battery.


@F.pandas_udf(T.DoubleType(), F.PandasUDFType.GROUPED_AGG)
def _product_agg(v: pd.Series) -> float:
    s = v.dropna()
    return float(s.prod()) if len(s) else None


@F.pandas_udf(T.DoubleType(), F.PandasUDFType.GROUPED_AGG)
def _mad_agg(v: pd.Series) -> float:
    """Median absolute deviation (probed: mad of [1,2,2,3] = 0.5 —
    interpolated median on the deviations, same as DuckDB)."""
    s = v.dropna().astype("float64")
    if not len(s):
        return None
    return float((s - s.median()).abs().median())


@F.pandas_udf(T.DoubleType(), F.PandasUDFType.GROUPED_AGG)
def _entropy_agg(v: pd.Series) -> float:
    """Shannon entropy in bits over value frequencies (probed: 1.5 for
    [1,2,2,3])."""
    import numpy as np

    s = v.dropna()
    if not len(s):
        return None
    p = s.value_counts(normalize=True).to_numpy()
    return float(-(p * np.log2(p)).sum())


@F.pandas_udf(T.MapType(T.StringType(), T.LongType()), F.PandasUDFType.GROUPED_AGG)
def _histogram_agg(v: pd.Series):
    """DuckDB histogram(x): value → count map, keys in value order.
    Keys are STRINGS here (one registration can't be polymorphic over
    the key type; DuckDB types them by input — documented delta, the
    wire's text rendering is the visible surface either way)."""
    s = v.dropna()
    if not len(s):
        return None
    c = s.value_counts().sort_index()
    return {str(k): int(n) for k, n in c.items()}


@F.pandas_udf(T.DoubleType(), F.PandasUDFType.GROUPED_AGG)
def _kurtosis_sample_agg(v: pd.Series) -> float:
    """DuckDB kurtosis = SAMPLE excess kurtosis (Excel KURT); pandas
    .kurt() implements the same estimator (values agree to float
    accumulation order, ~1e-13)."""
    s = v.dropna().astype("float64")
    out = s.kurt()
    return None if pd.isna(out) else float(out)


@F.pandas_udf(T.DoubleType(), F.PandasUDFType.GROUPED_AGG)
def _skewness_sample_agg(v: pd.Series) -> float:
    s = v.dropna().astype("float64")
    out = s.skew()
    return None if pd.isna(out) else float(out)


# ------------------------------------------------------------ type names


def _duck_typename_one(t: str) -> str:
    """Spark typeof() text → DuckDB type name (recursive for nested)."""
    t = t.strip()
    low = t.lower()
    simple = {
        "tinyint": "TINYINT", "smallint": "SMALLINT", "int": "INTEGER",
        "bigint": "BIGINT", "float": "FLOAT", "double": "DOUBLE",
        "string": "VARCHAR", "boolean": "BOOLEAN", "date": "DATE",
        "timestamp": "TIMESTAMP", "timestamp_ntz": "TIMESTAMP",
        "binary": "BLOB", "void": '"NULL"', "null": '"NULL"',
    }
    if low in simple:
        return simple[low]
    if low.startswith("decimal"):
        return t.upper()
    if low.startswith("interval"):
        return "INTERVAL"
    if low.startswith("array<") and low.endswith(">"):
        return _duck_typename_one(t[6:-1]) + "[]"
    if low.startswith("map<") and low.endswith(">"):
        inner = t[4:-1]
        depth = 0
        for i, c in enumerate(inner):
            if c in "<(":
                depth += 1
            elif c in ">)":
                depth -= 1
            elif c == "," and depth == 0:
                return (
                    "MAP("
                    + _duck_typename_one(inner[:i])
                    + ", "
                    + _duck_typename_one(inner[i + 1 :])
                    + ")"
                )
    if low.startswith("struct<") and low.endswith(">"):
        inner = t[7:-1]
        fields = []
        depth = 0
        last = 0
        for i, c in enumerate(inner + ","):
            if c in "<(":
                depth += 1
            elif c in ">)":
                depth -= 1
            elif c == "," and depth == 0:
                fld = inner[last:i] if i <= len(inner) else inner[last:]
                name, _, ftype = fld.partition(":")
                fields.append(f"{name.strip()} {_duck_typename_one(ftype)}")
                last = i + 1
        return "STRUCT(" + ", ".join(fields) + ")"
    return t.upper()


@F.pandas_udf(T.StringType())
def _duck_typename(s: pd.Series) -> pd.Series:
    return s.map(lambda x: _duck_typename_one(x) if x is not None else None)


# ------------------------------------------------- json_structure/transform

# DuckDB json_structure (probed): scalar leaves are UBIGINT (int ≥ 0) /
# BIGINT (int < 0) / DOUBLE / VARCHAR / BOOLEAN / NULL; arrays merge
# their elements' structures; objects union their keys recursively.
# Merge lattice: NULL is neutral; UBIGINT∪BIGINT→BIGINT; int∪DOUBLE→
# DOUBLE; any cross-category (num∪str, bool∪num, scalar∪object, …) →
# JSON. Rendering quirks (probed): an empty object renders "JSON",
# an empty array renders ["NULL"].

_NUM_ORDER = {"UBIGINT": 0, "BIGINT": 1, "DOUBLE": 2}


def _jstruct_node(v):
    if isinstance(v, bool):
        return "BOOLEAN"
    if isinstance(v, int):
        return "UBIGINT" if v >= 0 else "BIGINT"
    if isinstance(v, float):
        return "DOUBLE"
    if isinstance(v, str):
        return "VARCHAR"
    if v is None:
        return "NULL"
    if isinstance(v, list):
        node = "NULL"
        for e in v:
            node = _jstruct_merge(node, _jstruct_node(e))
        return [node]
    # object
    out: dict = {}
    for k, e in v.items():
        out[k] = _jstruct_node(e)
    return out


def _jstruct_merge(a, b):
    if a == "NULL":
        return b
    if b == "NULL":
        return a
    if isinstance(a, dict) and isinstance(b, dict):
        out = dict(a)
        for k, n in b.items():
            out[k] = _jstruct_merge(out[k], n) if k in out else n
        return out
    if isinstance(a, list) and isinstance(b, list):
        return [_jstruct_merge(a[0], b[0])]
    if isinstance(a, str) and isinstance(b, str):
        if a == b:
            return a
        if a in _NUM_ORDER and b in _NUM_ORDER:
            return a if _NUM_ORDER[a] >= _NUM_ORDER[b] else b
    return "JSON"


def _jstruct_render(node) -> str:
    if isinstance(node, str):
        return json.dumps(node)
    if isinstance(node, list):
        return f"[{_jstruct_render(node[0])}]"
    if not node:  # probed: {} renders as "JSON"
        return '"JSON"'
    # joined with bare ',' — a post-hoc replace(', ', ',') would corrupt
    # object keys containing ', ' (code review r7)
    parts = ",".join(
        f"{json.dumps(k)}:{_jstruct_render(v)}" for k, v in node.items()
    )
    return "{" + parts + "}"


@F.pandas_udf(T.StringType())
def _json_structure(s: pd.Series) -> pd.Series:
    def f(x):
        if x is None:
            return None
        try:
            v = json.loads(x)
        except Exception as exc:  # noqa: BLE001 — DuckDB wording
            raise ValueError(f"Malformed JSON: {exc}. Input: {x}") from exc
        return _jstruct_render(_jstruct_node(v))

    return s.map(f)


_JT_INTS = {
    "UBIGINT": None, "BIGINT": None, "HUGEINT": None, "INTEGER": None,
    "INT": None, "UINTEGER": None, "SMALLINT": None, "USMALLINT": None,
    "TINYINT": None, "UTINYINT": None,
}


def _jt_coerce(v, spec):
    """One value against one DuckDB json_transform spec node — DuckDB's
    lenient TRY-style coercions (probed: 1.9→INTEGER rounds half-even;
    'zz'→INTEGER is NULL; true→INTEGER is 1; 1→BOOLEAN is true;
    object→VARCHAR is its compact JSON text; missing keys are NULL)."""
    if isinstance(spec, dict):
        if not isinstance(v, dict):
            return None
        return {k: _jt_coerce(v.get(k), sub) for k, sub in spec.items()}
    if isinstance(spec, list):
        if not isinstance(v, list):
            return None
        return [_jt_coerce(e, spec[0]) for e in v]
    t = spec.upper()
    base = t.split("(")[0].strip()
    if v is None:
        return None
    if base in ("JSON", "NULL"):
        return v if isinstance(v, str) else json.dumps(
            v, separators=(",", ":")
        )
    if base in ("VARCHAR", "TEXT", "STRING", "CHAR", "BPCHAR"):
        if isinstance(v, str):
            return v
        if isinstance(v, bool):
            return "true" if v else "false"
        return json.dumps(v, separators=(",", ":"))
    if base in _JT_INTS:
        if isinstance(v, bool):
            return int(v)
        if isinstance(v, int):
            return v
        if isinstance(v, float):
            return round(v)  # half-even, like DuckDB's cast
        if isinstance(v, str):
            try:
                return int(v)
            except ValueError:
                try:
                    return round(float(v))
                except ValueError:
                    return None
        return None
    if base in ("DOUBLE", "FLOAT8", "FLOAT", "REAL", "FLOAT4", "DECIMAL",
                "NUMERIC"):
        if isinstance(v, bool):
            return float(v)
        if isinstance(v, (int, float)):
            return v
        if isinstance(v, str):
            try:
                return float(v)
            except ValueError:
                return None
        return None
    if base in ("BOOLEAN", "BOOL", "LOGICAL"):
        if isinstance(v, bool):
            return v
        if isinstance(v, (int, float)):
            return v != 0
        if isinstance(v, str):
            low = v.strip().lower()
            if low in ("true", "t", "1"):
                return True
            if low in ("false", "f", "0"):
                return False
            return None
        return None
    if base in ("DATE", "TIMESTAMP", "DATETIME", "TIME", "TIMESTAMPTZ"):
        # string forms pass through for from_json's parser; DuckDB
        # probes: numeric → NULL
        return v if isinstance(v, str) else None
    return None  # unknown names are rejected at rewrite time


@F.pandas_udf(T.StringType())
def _json_transform_norm(s: pd.Series, spec: pd.Series) -> pd.Series:
    """Normalize a JSON document against a (constant) json_transform
    spec, emitting ``{"v": <coerced>}`` for a downstream Spark
    ``from_json(..., 'v <type>')`` to shred — the UDF owns DuckDB's
    lenient coercions, from_json owns the typing."""
    import functools

    @functools.lru_cache(maxsize=64)
    def parsed(sp: str):
        return json.loads(sp)

    def f(x, sp):
        if x is None or sp is None:
            return None
        try:
            v = json.loads(x)
        except Exception as exc:  # noqa: BLE001
            raise ValueError(f"Malformed JSON: {exc}. Input: {x}") from exc
        return json.dumps(
            {"v": _jt_coerce(v, parsed(sp))}, separators=(",", ":")
        )

    return pd.Series([f(x, sp) for x, sp in zip(s, spec)])


# ------------------------------------------------------------ registration


def register_compat_udfs(spark: SparkSession) -> None:
    spark.udf.register("jaccard", _jaccard)
    spark.udf.register("hamming", _hamming)
    spark.udf.register("mismatches", _hamming)
    spark.udf.register("jaro_similarity", _jaro_similarity)
    spark.udf.register("jaro_winkler_similarity", _jaro_winkler)
    spark.udf.register("damerau_levenshtein", _damerau_levenshtein)
    spark.udf.register("nfc_normalize", _nfc_normalize)
    spark.udf.register("__duck_fmt1", _duck_fmt1)
    spark.udf.register("strip_accents", _strip_accents)
    spark.udf.register("duck_chr", _duck_chr)
    spark.udf.register("duck_varchar", _duck_varchar)
    spark.udf.register("duck_varchar_f32", _duck_varchar_f32)
    spark.udf.register("duck_list_skewness", _duck_list_skewness)
    spark.udf.register("duck_list_kurtosis", _duck_list_kurtosis)
    spark.udf.register("duck_double_text", _duck_double_text)
    spark.udf.register("duck_float32_text", _duck_float32_text)
    spark.udf.register("duck_ym_text", _duck_ym_text)
    spark.udf.register("duck_dtivl_text", _duck_dtivl_text)
    spark.udf.register("duck_dtivl_text_prov", _duck_dtivl_text_prov)
    spark.udf.register("duck_double_text_arr", _duck_double_text_arr)
    spark.udf.register("duck_float32_text_arr", _duck_float32_text_arr)
    spark.udf.register("duck_dtivl_text_arr", _duck_dtivl_text_arr)
    spark.udf.register("duck_ym_text_arr", _duck_ym_text_arr)
    spark.udf.register("__duck_bit_binop", _duck_bit_binop)
    spark.udf.register("__duck_bit_shift", _duck_bit_shift)
    spark.udf.register("__duck_bit_not", _duck_bit_not)
    spark.udf.register("duck_format_bytes", _format_bytes)
    spark.udf.register("duck_format_decimal_size", _format_decimal_size)
    spark.udf.register("__regexp_replace_one", _regexp_replace_one)
    spark.udf.register("__regexp_replace_g", _regexp_replace_g)
    spark.udf.register("bar", _bar)
    spark.udf.register("gamma", _gamma)
    spark.udf.register("lgamma", _lgamma)
    spark.udf.register("nextafter", _nextafter)
    spark.udf.register("gcd", _gcd)
    spark.udf.register("greatest_common_divisor", _gcd)
    spark.udf.register("lcm", _lcm)
    spark.udf.register("least_common_multiple", _lcm)
    spark.udf.register("age", _age_text)
    spark.udf.register("json_valid", _json_valid)
    spark.udf.register("duck_json_extract", _duck_json_extract)
    spark.udf.register("duck_json_extract_text", _duck_json_extract_text)
    spark.udf.register("json_keys", _json_keys)
    spark.udf.register("json_merge_patch", _json_merge_patch)
    spark.udf.register("json_type", _json_type)
    spark.udf.register("json_quote", _json_quote)
    spark.udf.register("json_contains", _json_contains)
    spark.udf.register("json_structure", _json_structure)
    spark.udf.register("__json_transform__", _json_transform_norm)
    spark.udf.register("__duck_typename", _duck_typename)
    spark.udf.register("product", _product_agg)
    spark.udf.register("mad", _mad_agg)
    spark.udf.register("entropy", _entropy_agg)
    spark.udf.register("histogram", _histogram_agg)
    spark.udf.register("__duck_kurtosis", _kurtosis_sample_agg)
    spark.udf.register("__duck_skewness", _skewness_sample_agg)
