"""Dialect-parity battery: DuckDB idiom statements executed through the
full rewrite pipeline on Spark AND natively on DuckDB, values compared.

This is the regression net for the round-6 probe findings (operators,
function spellings, table functions, JSON constructors, UDF batch).
Statements here are *value-deterministic* — sampling/random/statement
forms are covered by dedicated tests elsewhere.
"""

from __future__ import annotations

import datetime as dt
import math
from decimal import Decimal

import pytest

from duckdb_pgwire_spark.functions.udfs import register_udfs
from duckdb_pgwire_spark.server.compat import rewrite
from duckdb_pgwire_spark.session import register_views

from .conftest import SF_DIR

# Every entry runs on both engines and must value-match after
# canonicalization (floats to 9 significant digits, dates/timestamps to
# ISO text, rows sorted).
BATTERY = [
    # ---- VARCHAR alias family (r10): DuckDB parses TEXT/[N]VARCHAR/
    # [BP]CHAR/CHARACTER [VARYING] as ONE length-less type, IGNORING
    # any (n); Spark enforces VARCHAR(n)/CHAR(n) and rejects the rest
    "SELECT 'a'::TEXT AS v1, CAST(1 AS TEXT) AS v2,"
    " TRY_CAST(123 AS TEXT) AS v3",
    "SELECT 'a'::CHARACTER VARYING AS v1, 'ab'::CHARACTER AS v2,"
    " 'a'::NVARCHAR AS v3, 'ab'::BPCHAR AS v4",
    "SELECT 'abcd'::VARCHAR(2) AS v1, CAST('abcd' AS CHAR(2)) AS v2",
    # `text` survives as a column alias (no bare-word sweep)
    "SELECT 7 AS text",
    # ---- operators
    "SELECT 1_000_000 AS n",
    "SELECT 3 // 2 AS a, -7 // 2 AS b, 7.5 // 2 AS c",
    "SELECT 2 ** 10 AS p1, 2 ^ 10 AS p2, -2 ^ 2 AS p3, 2 - 2 ** 2 AS p4",
    "SELECT 4! AS f",
    "SELECT @(-4) AS a, @7 AS b",
    "SELECT 'abc' ~ 'a.c' AS r1, 'abc' !~ 'xyz' AS r2",
    # r7: DuckDB ~ is a FULL match (probed: 'abc' ~ 'a' = false) —
    # PG-style partial RLIKE would silently diverge on these
    "SELECT 'abc' ~ 'a' AS f1, 'abc' ~ '.*b.*' AS f2, 'abc' !~ 'b' AS f3",
    # one unrewritable occurrence must not disable later rewrites
    # (r7: CASE…END is now a scannable operand; 4 ^ 2 after it rewrites)
    "SELECT CASE WHEN 1 = 1 THEN 3 END ^ 2 AS c1, 4 ^ 2 AS c2, 'abc' ~ 'a' AS c3",
    "SELECT 2 ^ CASE WHEN 1 = 1 THEN 3 ELSE 2 END AS c",
    "SELECT CASE WHEN 1 = 1 THEN 4 ELSE 3 END! AS cf",
    "SELECT 'abc' ~~ 'a%' AS lk, 'ABC' ~~* 'a%' AS ilk, 'abc' !~~ 'b%' AS nlk",
    "SELECT 'abc' SIMILAR TO 'a.c' AS s1, 'abc' SIMILAR TO 'a' AS s2",
    "SELECT 'abc' GLOB 'a*' AS g1, 'abc' GLOB 'a?d' AS g2",
    "SELECT '\\d+' AS lit",  # PG literal semantics: backslash is a char
    "SELECT regexp_extract('abc123', '\\d+') AS e",
    "SELECT regexp_extract_all('a1b22', '\\d+') AS ea",
    # ---- strings
    "SELECT format('{} x {}', 1, 'a') AS f",
    "SELECT format('{:.2f}|{:d}|{:x}', 3.14159, 42, 255) AS f2",
    "SELECT format('{0} {1} {0}', 'a', 'b') AS f3",
    "SELECT format('{:>8}|{:05d}', 'ab', 42) AS f4",
    "SELECT jaccard('duck', 'luck') AS j",
    "SELECT jaro_winkler_similarity('duck', 'duckdb') AS jw",
    "SELECT jaro_similarity('duck', 'luck') AS js",
    "SELECT hamming('abc', 'abd') AS h",
    "SELECT damerau_levenshtein('abc', 'acb') AS dl, levenshtein('kitten', 'sitting') AS lv, editdist3('kitten', 'sitting') AS e3",
    "SELECT regexp_replace('aaa', 'a', 'b') AS r1",
    "SELECT regexp_replace('aaa', 'a', 'b', 'g') AS r2",
    "SELECT regexp_replace('AAA', 'a', 'b', 'i') AS r3",
    "SELECT regexp_replace('AaAa', 'a', 'b', 'gi') AS r4",
    "SELECT regexp_split_to_array('a,b;c', '[,;]') AS sp",
    "SELECT string_split('a.b.c', '.') AS s1, string_split('a||b', '||') AS s2",
    "SELECT str_split_regex('a1b2c', '\\d') AS sr",
    "SELECT string_to_array('a,b', ',') AS sta",
    "SELECT split_part('a|b|c', '|', 2) AS s2",
    "SELECT strlen('abc') AS n",
    "SELECT unicode('€') AS u1, unicode('abc') AS u2, unicode('') AS u3",
    "SELECT strip_accents('café') AS sa",
    "SELECT nfc_normalize('é') AS nfc",
    "SELECT to_base(255, 16) AS tb, to_base(10, 2) AS tb2",
    "SELECT to_hex(255) AS th",
    "SELECT bar(3, 0, 10, 10) AS b1, bar(3.3, 0, 10, 10) AS b2, bar(0, 0, 10, 10) AS b3, bar(5, 0, 10) AS b4",
    "SELECT translate('abc', 'ab', 'xy') AS tr",
    "SELECT position('b' IN 'abc') AS p, instr('hello', 'll') AS i2, strpos('hello', 'll') AS sp2",
    # ---- case mapping (r11 string-edges): duck upper/lower are the
    # Unicode SIMPLE 1:1 mapping; Java's full mapping expands ß→SS,
    # ligatures→FI, iota subscripts, and final sigma — the translate
    # sandwich (server/casefold.py) must reproduce duck exactly
    "SELECT upper('straße') AS a, lower('STRAẞE') AS b",
    "SELECT upper('ﬁle ﬀ ẚ') AS a,"
    " upper('ᾀᾳῃ') AS b",
    "SELECT lower('ΟΣ ΣΟΣ') AS a,"
    " lower('İstanbul') AS b",
    "SELECT ucase('groß') AS a, lcase('GROẞ') AS b,"
    " upper(concat('stra', 'ße')) AS c",
    # format/printf are NULL on ANY NULL argument (not the text 'null')
    "SELECT format('{} {}', 1, NULL) AS a, printf('%d-%s', NULL, 'x') AS b,"
    " format('{}', 'x') AS c",
    # ---- decimal arithmetic (r11 sweep): duck '/' is ALWAYS double,
    # Spark keeps DECIMAL scale rules; '//' on fractionals is plain
    # division; decimal +/-/*/% keep duck's scale text
    "SELECT 1.0/3.0 AS a, 1/3 AS b, 7/2 AS c",
    "SELECT CAST(1.23 AS DECIMAL(10,2)) / CAST(0.7 AS DECIMAL(10,2)) AS v",
    "SELECT 1.5::DECIMAL(20,10) / 7 AS v1, (1.5 + 2.5) / 2 AS v2",
    "SELECT 123.456 % 2.5 AS a, 10.0 % 3 AS b, 1.23 * 4.56789 AS c",
    # ---- numerics
    "SELECT log(100) AS l1, log(2, 8) AS l2, ln(100) AS l3, log2(8) AS l4, log10(1000) AS l5",
    "SELECT trunc(1.9) AS t1, trunc(-1.9) AS t2",
    "SELECT even(2.5) AS e1, even(-2.5) AS e2, even(2) AS e3, even(0) AS e4",
    "SELECT gamma(5) AS g, lgamma(5) AS lg",
    "SELECT gcd(12, 18) AS g2, lcm(4, 6) AS l6",
    "SELECT factorial(5) AS fa",
    # factorial is HUGEINT in duck: 21..33 exceed BIGINT (Spark's
    # native factorial NULLs there), n<=0 is 1 (r11 overflow family)
    "SELECT factorial(21) AS a, factorial(33) AS b,"
    " factorial(0) AS c, factorial(-1) AS d, 22! AS e",
    "SELECT isnan('nan'::DOUBLE) AS n1, isinf('inf'::DOUBLE) AS n2, isfinite(1.0) AS n3",
    "SELECT bit_count(7) AS bc",
    "SELECT 10 & 6 AS ba, 10 | 6 AS bo, xor(10, 6) AS bx, 1 << 4 AS sl, 256 >> 4 AS sr2, ~5 AS bn",
    # ---- datetime
    "SELECT epoch(TIMESTAMP '2024-01-01 00:00:30.5') AS ep",
    "SELECT epoch_ms(TIMESTAMP '2024-01-01 00:00:00.5') AS em",
    "SELECT dayofweek(DATE '2024-03-17') AS d1, date_part('dow', DATE '2024-03-17') AS d2, isodow(DATE '2024-03-17') AS d3",
    "SELECT date_part('epoch', TIMESTAMP '2024-01-01') AS ep2",
    "SELECT time_bucket(INTERVAL '15 minutes', TIMESTAMP '2024-03-05 01:17:00') AS tb",
    "SELECT time_bucket(INTERVAL '1 hour', TIMESTAMP '2024-03-05 01:17:00') AS tb2",
    "SELECT date_add(DATE '2024-01-31', INTERVAL 1 MONTH) AS da",
    # age() returns VARCHAR here (Spark can't mix year-month/day-time
    # intervals) — compare via DuckDB's own text rendering
    "SELECT CAST(age(TIMESTAMP '2024-03-05 10:00:00', TIMESTAMP '2023-01-04 02:30:00') AS VARCHAR) AS ag",
    "SELECT CAST(age(TIMESTAMP '2023-01-04', TIMESTAMP '2024-03-05') AS VARCHAR) AS ag2",
    "SELECT CAST(age(TIMESTAMP '2024-03-05', TIMESTAMP '2024-03-05') AS VARCHAR) AS ag3",
    "SELECT CAST(age(TIMESTAMP '2024-03-31', TIMESTAMP '2024-02-29') AS VARCHAR) AS ag4",
    "SELECT last_day(DATE '2024-02-05') AS ld, make_date(2024, 3, 5) AS md",
    # ---- lists
    "SELECT list_value(1, 2, 3) AS lv",
    "SELECT range(5) AS r1, range(2, 5) AS r2, range(0, 10, 3) AS r3, range(5, 0, -2) AS r4, range(5, 2) AS r5, range(0) AS r6",
    "SELECT generate_series(1, 5) AS g1, generate_series(1, 0) AS g2, generate_series(0, 10, 3) AS g3",
    "SELECT list_prepend(0, [1, 2]) AS lp, list_append([1], 2) AS la",
    "SELECT array_push_back([1], 2) AS pb, array_push_front([1], 0) AS pf",
    "SELECT list_reduce([1, 2, 3], (a, b) -> a + b) AS lr",
    "SELECT list_has_any([1, 2], [2, 9]) AS ha, list_has_all([1, 2, 3], [1, 2]) AS hall, list_has_all([1], [1, 9]) AS hnot",
    "SELECT list_grade_up([30, 10, 20]) AS gu",
    "SELECT list_string_agg([1, 2]) AS lsa, list_string_agg(['a', 'b']) AS lsb",
    "SELECT list_aggregate([1, 2, 3], 'sum') AS lag, list_aggr([1, 2, 3], 'max') AS lag2",
    "SELECT unnest([1, 2, 3]) AS u",
    "SELECT generate_subscripts([7, 8, 9], 1) AS gs",
    # r8 sweep closures
    "SELECT list_resize([1, 2], 4) AS r2a, list_resize([1, 2], 4, 0) AS r3a,"
    " list_resize([1, 2, 3], 2) AS trunc, list_resize([1], 0) AS zero",
    "SELECT list_any_value([NULL, 7, 8]) AS av,"
    " list_any_value(CAST([NULL] AS INT[])) AS avnull",
    # T[] array-type syntax (r8: Spark needs ARRAY<T>)
    "SELECT [NULL]::INT[] AS a, CAST([[1],[2]] AS BIGINT[][]) AS b,"
    " ['a','b']::VARCHAR[] AS c, [1.5]::DECIMAL(10,2)[] AS d",
    # LIKE-with-escape function spellings + path helpers (r8)
    "SELECT like_escape('a%c', 'a$%c', '$') AS le,"
    " not_like_escape('abc', 'a$%', '$') AS nl,"
    " ilike_escape('A%c', 'a$%C', '$') AS il",
    "SELECT parse_filename('/a/b/c.txt') AS f1, parse_filename('/a/b/') AS f2,"
    " parse_filename('c.txt') AS f3, parse_filename('a\\b\\c.txt') AS f4,"
    " parse_filename('/a/c.txt', true) AS f5,"
    " parse_filename('/a/c.txt', false) AS f6",
    "SELECT parse_dirpath('/a/b/c.txt') AS d1, parse_dirpath('/c.txt') AS d2,"
    " parse_dirpath('c.txt') AS d3, parse_dirpath('/a/b/') AS d4",
    # even / signbit / nextafter (r8; probed semantics)
    "SELECT even(2.5) AS e0, even(-2.5) AS e1, even(3.0) AS e2,"
    " even(-3.0) AS e3, even(2.0) AS e4, even(0.0) AS e5",
    "SELECT signbit(-0.0) AS s0, signbit(0.0) AS s1, signbit(-5) AS s2,"
    " signbit(3) AS s3",
    # r9: IEEE negative zero (the decimal literal -0.0 above is +0;
    # -0.0::DOUBLE carries a real sign bit — ADVICE r8 item 2)
    "SELECT signbit(-0.0::DOUBLE) AS z0, signbit(0.0::DOUBLE) AS z1,"
    " signbit((-1.0::DOUBLE) * 0.0) AS z2, signbit('nan'::DOUBLE) AS z3",
    "SELECT nextafter(1.0, 2.0) AS na, nextafter(1.0, 0.0) AS nb",
    # dot-call method chaining (paren / call receivers)
    "SELECT ('ab' || 'c').len() AS chain",
    "SELECT upper('a').len() AS l",
    # DuckDB type spellings in cast positions (r8)
    "SELECT {'a': 1, 'b': 'x'}::STRUCT(a INT, b VARCHAR) AS s",
    "SELECT CAST(NULL AS STRUCT(a INT)) IS NULL AS s2",
    "SELECT CAST(NULL AS STRUCT(a INT[], b STRUCT(c VARCHAR))) IS NULL"
    " AS nested",
    "SELECT '5'::UTINYINT AS u1, '50000'::USMALLINT AS u2,"
    " '3000000000'::UINTEGER AS u3, CAST('5' AS UBIGINT) AS u4",
    "SELECT row_to_json({'a': 1}) AS rj",
    "SELECT sha256('abc') AS h",
    "SELECT to_milliseconds(1500) AS ms, to_microseconds(2500000) AS us",
    "SELECT * FROM generate_series(0, 3)",
    "SELECT * FROM generate_series(0, 2) t(i)",
    "SELECT * FROM range(4)",
    "SELECT r_name, u FROM region, unnest([1, 2]) AS t(u) WHERE r_regionkey = 0 ORDER BY u",
    # ---- structs / maps
    "SELECT struct_pack(a := 1, b := 'x') AS sp",
    "SELECT struct_extract({'a': 1, 'b': 2}, 'b') AS se",
    "SELECT map([1, 2], ['a', 'b'])[2] AS mi",
    "SELECT cardinality(map([1, 2], ['a', 'b'])) AS ca",
    "SELECT map_keys(map([1, 2], ['a', 'b'])) AS mk, map_values(map([1, 2], ['a', 'b'])) AS mv",
    "SELECT map_extract(map([1, 2], ['a', 'b']), 2) AS me, map_extract(map([1], ['a']), 9) AS me2",
    "SELECT element_at(map([1], ['a']), 1) AS ea",
    # ---- JSON
    "SELECT json_valid('{\"a\": 1}') AS v1, json_valid('{\"a\"') AS v2, json_valid('null') AS v3",
    "SELECT json_keys('{\"b\": 1, \"a\": 2}') AS jk",
    "SELECT json_object('a', 1, 'b', 'x') AS jo",
    "SELECT json_array(1, 2) AS ja",
    "SELECT json_merge_patch('{\"a\": 1, \"c\": 3}', '{\"b\": 2, \"a\": null}') AS jm",
    # r7: json_structure (recursive structure merge) + json_transform
    # (constant-structure shredding with DuckDB's lenient coercions)
    'SELECT json_structure(\'{"a": 1, "b": "x", "c": [1.5, 2], "d": {"e": true}}\') AS s',
    # r7 fix: keys containing ', ' survive rendering verbatim
    "SELECT json_structure('{\"a, b\": 1, \"c\": \"x\"}') AS skey",
    "SELECT json_structure('[{\"a\":1},{\"a\":2,\"b\":\"y\"}]') AS s1,"
    " json_structure('[1, \"a\"]') AS s2, json_structure('[]') AS s3,"
    " json_structure('{}') AS s4, json_structure('[-1, 2]') AS s5",
    "SELECT (json_transform('{\"a\": 1.9, \"b\": \"x\"}', '{\"a\": \"INTEGER\", \"b\": \"VARCHAR\"}')).a AS a,"
    " (json_transform('{\"a\": 1.9, \"b\": \"x\"}', '{\"a\": \"INTEGER\", \"b\": \"VARCHAR\"}')).b AS b",
    "SELECT (json_transform('[{\"n\": 1}, {\"n\": 7}]', '[{\"n\": \"BIGINT\"}]'))[2].n AS n",
    "SELECT (json_transform('{\"a\": \"zz\"}', '{\"a\": \"INTEGER\"}')).a AS a",
    "SELECT (json_transform('{\"a\": \"2024-01-05\"}', '{\"a\": \"DATE\"}')).a AS d",
    "SELECT json_transform('5', '\"INTEGER\"') AS t, json_transform('{\"a\": 5}', '\"VARCHAR\"') AS t2",
    "SELECT json_type('{\"a\": 1}') AS t1, json_type('[1]') AS t2, json_type('\"x\"') AS t3, json_type('1') AS t4, json_type('-1') AS t5, json_type('1.5') AS t6",
    # r7: UNION-type surface over tagged structs (scalar-returning
    # forms; the bare union_value wire rendering is socket-tested)
    "SELECT union_tag(union_value(num := 2)) AS t",
    "SELECT union_extract(union_value(num := 2), 'num') AS v,"
    " union_extract(union_value(s := 'hi'), 's') AS s",
    "SELECT union_tag(u) AS t, union_extract(u, 'k') AS v FROM"
    " (SELECT union_value(k := n_nationkey) u FROM nation) x",
    "SELECT json_contains('{\"a\": 1}', '1') AS c1, json_contains('[1, 2]', '[2]') AS c2, json_contains('[1, 2]', '9') AS c3",
    # ---- aggregates (ORDER BY inside args, UDAF batch)
    "SELECT string_agg(n_name, '-' ORDER BY n_name DESC) AS sa FROM (SELECT n_name FROM nation ORDER BY n_nationkey LIMIT 3) t",
    "SELECT string_agg(n_name ORDER BY n_name) AS sa2 FROM (SELECT n_name FROM nation ORDER BY n_nationkey LIMIT 3) t",
    "SELECT group_concat(n_name ORDER BY n_name DESC) AS gc FROM (SELECT n_name FROM nation ORDER BY n_nationkey LIMIT 3) t",
    "SELECT array_agg(n_regionkey ORDER BY n_nationkey DESC) AS aa FROM (SELECT * FROM nation ORDER BY n_nationkey LIMIT 4) t",
    "SELECT first(n_name ORDER BY n_nationkey) AS f, last(n_name ORDER BY n_nationkey) AS la FROM nation",
    "SELECT first(n_name ORDER BY n_nationkey DESC) AS fd FROM nation",
    "SELECT min(n_nationkey ORDER BY n_name) AS mo, sum(n_regionkey ORDER BY n_name) AS so FROM nation",
    "SELECT product(r_regionkey + 1) AS pr FROM region",
    "SELECT mad(n_nationkey) AS m FROM nation",
    "SELECT entropy(n_regionkey) AS e FROM nation",
    "SELECT round(kurtosis(n_nationkey), 9) AS k, round(skewness(n_nationkey), 9) AS sk FROM nation",
    "SELECT round(kurtosis_pop(n_nationkey), 9) AS kp FROM nation",
    "SELECT quantile_disc(n_nationkey, 0.5) AS qd, quantile(n_nationkey, 0.25) AS q FROM nation",
    "SELECT histogram(n_regionkey) AS h FROM nation",
    "SELECT quantile_cont(n_nationkey, [0.25, 0.5, 0.75]) AS qc FROM nation",
    # r7: LIST-valued quantile_disc/quantile (per-percentile expansion —
    # Spark's percentile_disc takes only a scalar literal)
    "SELECT quantile_disc(n_nationkey, [0.25, 0.5, 0.75]) AS qdl FROM nation",
    "SELECT quantile(o_custkey, [0.1, 0.9]) AS ql FROM orders",
    "SELECT approx_quantile(n_nationkey, 0.5) BETWEEN 10 AND 14 AS aq FROM nation",
    # unique-mode input (all-tied inputs break ties engine-arbitrarily)
    "SELECT mode(x) AS mo2 FROM (VALUES (1), (2), (2)) t(x)",
    # ---- vector list functions + HOF spellings (battery 3)
    "SELECT list_cosine_similarity([1.0, 2.0], [2.0, 4.0]) AS c",
    "SELECT list_dot_product([1.0, 2.0], [3.0, 4.0]) AS d, list_inner_product([1, 2], [3, 4]) AS ip",
    "SELECT list_distance([1.0, 2.0], [4.0, 6.0]) AS di",
    "SELECT list_select([10, 20, 30], [1, 3]) AS ls, list_where([1, 2, 3], [true, false, true]) AS lw",
    "SELECT apply([1, 2], x -> x + 1) AS ap, list_apply([1, 2], x -> x * 2) AS la2",
    "SELECT array_unique([1, 1, 2]) AS au",
    # ---- json aggregates / quote
    "SELECT json_group_array(x) AS ja2 FROM (SELECT unnest([1, 2]) AS x ORDER BY x) t",
    "SELECT json_group_object(x, y) AS jo2 FROM (VALUES (1, 'a'), (2, 'b')) t(x, y)",
    "SELECT json_quote('a') AS jq",
    # ---- IGNORE NULLS placement, CTE hints, datetime fields, intervals
    "SELECT last_value(x IGNORE NULLS) OVER (ORDER BY y ROWS BETWEEN UNBOUNDED PRECEDING AND UNBOUNDED FOLLOWING) AS lv FROM (VALUES (1, 1), (NULL, 2), (3, 3)) t(x, y)",
    # r7: window frame EXCLUDE (subtraction rewrite) — every variant
    # value-compared on a peer-heavy fixture incl. a NULL measure
    "SELECT k, x, sum(x) OVER (ORDER BY k ROWS BETWEEN 2 PRECEDING AND CURRENT ROW EXCLUDE CURRENT ROW) AS s"
    " FROM (VALUES (1, 10), (2, 20), (2, 21), (3, NULL), (4, 40), (4, 41), (4, 42), (6, 60)) t(k, x)",
    "SELECT k, x, sum(x) OVER (ORDER BY k RANGE BETWEEN 1 PRECEDING AND 1 FOLLOWING EXCLUDE CURRENT ROW) AS s"
    " FROM (VALUES (1, 10), (2, 20), (2, 21), (3, NULL), (4, 40), (4, 41), (4, 42), (6, 60)) t(k, x)",
    "SELECT k, x, sum(x) OVER (ORDER BY k RANGE BETWEEN 1 PRECEDING AND 1 FOLLOWING EXCLUDE GROUP) AS s"
    " FROM (VALUES (1, 10), (2, 20), (2, 21), (3, NULL), (4, 40), (4, 41), (4, 42), (6, 60)) t(k, x)",
    "SELECT k, x, sum(x) OVER (ORDER BY k RANGE BETWEEN 1 PRECEDING AND 1 FOLLOWING EXCLUDE TIES) AS s"
    " FROM (VALUES (1, 10), (2, 20), (2, 21), (3, NULL), (4, 40), (4, 41), (4, 42), (6, 60)) t(k, x)",
    "SELECT k, x, sum(x) OVER (ORDER BY k ROWS BETWEEN 2 PRECEDING AND 1 FOLLOWING EXCLUDE NO OTHERS) AS s"
    " FROM (VALUES (1, 10), (2, 20), (2, 21), (3, NULL), (4, 40), (4, 41), (4, 42), (6, 60)) t(k, x)",
    "SELECT k, x, count(x) OVER (ORDER BY k RANGE BETWEEN 1 PRECEDING AND 1 FOLLOWING EXCLUDE GROUP) AS c,"
    " count(*) OVER (ORDER BY k RANGE BETWEEN 1 PRECEDING AND 1 FOLLOWING EXCLUDE TIES) AS cs"
    " FROM (VALUES (1, 10), (2, 20), (2, 21), (3, NULL), (4, 40), (4, 41), (4, 42), (6, 60)) t(k, x)",
    "SELECT k, x, avg(x) OVER (ORDER BY k RANGE BETWEEN 1 PRECEDING AND 1 FOLLOWING EXCLUDE CURRENT ROW) AS a"
    " FROM (VALUES (1, 10), (2, 20), (2, 21), (3, NULL), (4, 40), (4, 41), (4, 42), (6, 60)) t(k, x)",
    "SELECT k, x, sum(x) OVER (PARTITION BY k % 2 ORDER BY k RANGE BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW EXCLUDE TIES) AS s"
    " FROM (VALUES (1, 10), (2, 20), (2, 21), (3, NULL), (4, 40), (4, 41), (4, 42), (6, 60)) t(k, x)",
    "WITH t AS MATERIALIZED (SELECT 1 AS a) SELECT * FROM t",
    "WITH t AS NOT MATERIALIZED (SELECT 1 AS a) SELECT * FROM t",
    "SELECT century(DATE '2024-01-01') AS c2, decade(DATE '2024-01-01') AS d2, era(DATE '2024-01-01') AS e2",
    "SELECT timezone_hour(TIMESTAMP '2024-01-01') AS tz",
    "SELECT TIMESTAMP '2024-01-01 00:00:00' + to_hours(2) AS th",
    "SELECT TIMESTAMP '2024-01-01 00:00:00' + to_days(3) AS td",
    "SELECT today() = current_date AS tc",
    "SELECT EXTRACT(epoch FROM INTERVAL '90 minutes') AS ie1, EXTRACT(epoch FROM INTERVAL '1 day 2 hours') AS ie2",
    "SELECT epoch(INTERVAL '1 month') AS ie3, EXTRACT(epoch FROM INTERVAL 2 DAY) AS ie4",
    # ---- code-review r6 regressions: null sort keys, backrefs,
    # json_group nulls, format %%, date_trunc decade/century
    "SELECT array_agg(v ORDER BY k DESC) AS aa2 FROM (VALUES (1, 10), (2, NULL), (3, 20)) t(v, k)",
    "SELECT array_agg(v ORDER BY k) AS aa3 FROM (VALUES (1, 10), (2, NULL), (3, 20)) t(v, k)",
    "SELECT first(v ORDER BY k) AS f2, last(v ORDER BY k) AS l2 FROM (VALUES (1, 10), (2, NULL), (3, 20)) t(v, k)",
    "SELECT regexp_replace('duck', '(d)(u)', '\\2\\1') AS rr",
    "SELECT regexp_replace('duckduck', '(d)(u)', '\\2\\1', 'g') AS rrg",
    "SELECT json_group_array(v) AS jga FROM (VALUES (1), (NULL), (2)) t(v)",
    "SELECT json_group_object(k, v) AS jgo FROM (VALUES ('a', 1), ('b', NULL)) t(k, v)",
    "SELECT format('100%') AS pf",
    "SELECT date_trunc('decade', DATE '2024-05-05') AS dd2, date_trunc('century', DATE '2024-05-05') AS dc, date_trunc('millennium', DATE '2024-05-05') AS dm",
    # ---- typeof
    "SELECT typeof(1) AS t1, typeof('x') AS t2, typeof(1.5::DOUBLE) AS t3, typeof([1, 2]) AS t4, typeof(DATE '2024-01-01') AS t5, typeof(true) AS t6",
    "SELECT pg_typeof(1) AS pt",
    # ---- misc
    "SELECT setseed(0.5) IS NULL AS s",
    "SELECT alias(r_name) FROM region LIMIT 1",
    "SELECT alias(r_name) AS al FROM region LIMIT 1",
    "SELECT txid_current() >= 0 AS t",
    # ---- r10 default-semantics sweep: chained ::, bracket slices
    "SELECT 1.999::DOUBLE::BIGINT AS a, (-1.999)::DOUBLE::BIGINT AS b",
    "SELECT ''::VARCHAR::BLOB AS eb, 'ab'::BLOB::VARCHAR AS bs",
    "SELECT (DATE '2024-01-02')::TIMESTAMP::VARCHAR AS d2ts",
    "SELECT 1.5::DECIMAL(10,4)::VARCHAR AS dec4",
    "SELECT 1e-7::DOUBLE AS tiny",
    "SELECT ([1, 2, 3])[-1] AS neg, ([1, 2, 3])[0] AS zero, ([1, 2, 3])[9] AS oob",
    "SELECT ([1, 2, 3, 4])[2:3] AS s1, ([1, 2, 3, 4])[:2] AS s2, ([1, 2, 3, 4])[3:] AS s3",
    "SELECT ([1, 2, 3, 4])[-2:] AS s4, ([1, 2, 3, 4])[:-2] AS s5, ([1, 2, 3, 4])[5:9] AS s6, ([1, 2, 3, 4])[3:2] AS s7",
    "SELECT ([1, 2, 3, 4, 5])[1:5:2] AS st1, ([1, 2, 3, 4, 5])[2:5:2] AS st2",
    "SELECT 'abcdef'[2:4] AS a, 'abcdef'[:3] AS b, 'abcdef'[4:] AS c, 'abcdef'[-3:] AS d, 'abc'[2] AS e, 'abc'[0] AS f, 'abc'[9] AS g",
    "SELECT unnest(NULL::INTEGER[]) AS u",
    # ---- r10 sweep: list NULL semantics
    "SELECT list_concat([1], NULL) AS a, list_concat(NULL, [2]) AS b, list_concat([1], [NULL, 2]) AS c",
    "SELECT array_cat([1], NULL) AS a, array_cat([1], [2]) AS b",
    "SELECT [1, 2] || NULL AS a, NULL || [3] AS b, 'a' || NULL AS c",
    "SELECT list_contains([1, NULL, 2], NULL) AS a, list_contains([1, 2], 9) AS b, list_contains([1, NULL], 9) AS c, list_contains([1, NULL], 1) AS d",
    "SELECT list_position([1, NULL, 2], NULL) AS a, list_position([1, 2], 9) AS b, list_indexof([5, 6], 6) AS c",
    "SELECT list_intersect([1, 2, NULL], [2, NULL, 3]) AS li",
    "SELECT flatten([[1, 2], NULL, [3]]) AS a, flatten([[1], [NULL]]) AS b",
    "SELECT list_sum([1, NULL, 2]) AS a, list_avg([1, 2, NULL]) AS b, list_sum([]) AS c, list_avg([]) AS d",
    "SELECT list_aggregate([1, 2, NULL], 'sum') AS a, list_aggr([1, 2], 'string_agg', '-') AS c",
    "SELECT len([1, 2, 3]) AS a, len('abc') AS b, array_length([1, 2]) AS c, cardinality(MAP([1], ['a'])) AS d",
    "SELECT array_value(1, 2) AS av",
    "SELECT map_concat(MAP([1], ['a']), MAP([1], ['z'])) AS m",
    # ---- r10 sweep: strings / math extras
    "SELECT split_part('a,b,c', '', 2) AS a, split_part('xy', '', 9) AS b, split_part('a|b', '|', 2) AS c",
    "SELECT string_split('abc', '') AS a, string_split('', '') AS b, string_split('a,,b', ',') AS c, string_split('', ',') AS d",
    "SELECT fdiv(7.5, 2) AS a, fdiv(-7.5, 2) AS b, fdiv(-7, 2) AS c, fmod(7.5, 2) AS d, fmod(-7.5, 2) AS e, fmod(-7, 3) AS f",
    "SELECT regexp_escape('a.b[c]{d}(e)*+?|^$-g#h ') AS re",
    "SELECT md5_number_lower('abc') AS l, md5_number_upper('abc') AS u, md5_number_lower('') AS l2, md5_number_upper('') AS u2",
    "SELECT chr(97) AS a, chr(960) AS b, chr(128512) AS c",
    "SELECT format_bytes(999) AS a, format_bytes(1024) AS b, format_bytes(1000000) AS c, format_bytes(-2048) AS d, format_bytes(1234567890123) AS e",
    "SELECT formatReadableDecimalSize(999) AS a, formatReadableDecimalSize(1500) AS b, formatReadableDecimalSize(1000000000) AS c",
    "SELECT formatReadableSize(1000000) AS frs",
    # ---- r10 sweep: casts round like DuckDB; double→varchar text
    "SELECT '1.5'::INTEGER AS a, '1e3'::INTEGER AS b, '0x1A'::INTEGER AS c, ' 42 '::INTEGER AS d, '2.5'::INT AS e, '3.5'::INT AS f",
    "SELECT 2.5::DOUBLE::INT AS a, 3.5::DOUBLE::INT AS b, (-2.5)::DOUBLE::INT AS c, 1.999::DOUBLE::INTEGER AS d",
    "SELECT TRY_CAST('1.5' AS INTEGER) AS a, TRY_CAST('abc' AS INTEGER) AS b, TRY_CAST('' AS INTEGER) AS c",
    "SELECT CAST('2.5' AS BIGINT) AS a, CAST(2.5 AS INT) AS b, CAST(-2.5 AS INT) AS c",
    "SELECT 1.5::DECIMAL(4,1)::INTEGER AS a, 2.5::DECIMAL(4,1)::INTEGER AS b, CAST(CAST(2.5 AS DECIMAL(4,1)) AS INT) AS n",
    "SELECT 1e20::VARCHAR AS big, 1e-7::DOUBLE::VARCHAR AS small, 1.0::DOUBLE::VARCHAR AS one",
    "SELECT 'inf'::DOUBLE::VARCHAR AS i, 'nan'::DOUBLE::VARCHAR AS n, 0.000001::DOUBLE::VARCHAR AS sm, 123456789.123::DOUBLE::VARCHAR AS md",
    "SELECT 1.5::FLOAT::VARCHAR AS f32, (NULL::DOUBLE)::VARCHAR AS nv",
    # r14: the Grisu3-certification-failure class — duck prints the
    # longer exact expansion where plain shortest-float32 is shorter
    # (the r13 0.6% residue, closed by functions/floattext.py)
    "SELECT 46977.5625::FLOAT::VARCHAR AS a,"
    " 3948464128.0::FLOAT::VARCHAR AS b,"
    " 1.00390625::FLOAT::VARCHAR AS c,"
    " (-183375408.0)::FLOAT::VARCHAR AS d",
    # …and the classes where Grisu3 succeeds (shortest) / widens
    "SELECT 0.1::FLOAT::VARCHAR AS a, 1073741824::FLOAT::VARCHAR AS b,"
    " 1e-45::FLOAT::VARCHAR AS sub, 3.4028235e38::FLOAT::VARCHAR AS mx,"
    " 1e15::FLOAT::VARCHAR AS deci, 1e16::FLOAT::VARCHAR AS sci",
    # ---- r10 sweep: substr negative length, printf casts, LIKE escape
    "SELECT substr('abcdef', 3, -1) AS a, substr('abcdef', 3, -2) AS b, substr('abcdef', 1, -1) AS c, substr('abcdef', -2, -1) AS d",
    "SELECT substr('abcdef', 0, -1) AS e, substr('abcdef', -2, -3) AS f, substr('abcdef', 2, -9) AS g, substr('abcdef', 9, -3) AS h",
    "SELECT printf('%5.2f|%d|%s', 3.14159, 42, 'x') AS pf, printf('%x|%o', 255, 8) AS pf2",
    "SELECT 'a_c' LIKE 'a\\_c' AS esc, 'a\\c' LIKE 'a\\c' AS bs2, 'abc' LIKE 'a%' AS w",
    # ---- r10 sweep: json paths and constructors
    "SELECT json_extract('{\"a\": {\"b\": 7}}', 'a') AS bare, json_extract('{\"a\": {\"b\": 7}}', '/a/b') AS ptr, json_extract('{\"a.b\": 1}', 'a.b') AS dotkey",
    "SELECT json_extract('[1, 2, 3]', '$[1]') AS ja, json_extract('[1, 2, 3]', '$[-1]') AS jneg, json_extract('[1,2]', 1) AS ip, json_extract('[1]', '$[#-1]') AS hs",
    "SELECT json_extract('[1.50, \"x\"]', '$[-1]') AS s, json_extract('[1.50, \"x\"]', '$[-2]') AS n, json_extract('{\"a\": [1, {\"b\": 2}]}', '$.a[-1].b') AS deep",
    "SELECT json_extract('{\"a\": 1}', '$.missing') AS miss, json_extract('{\"a\": null}', 'a') AS jn",
    "SELECT json_extract_string('{\"a\": \"x\"}', 'a') AS es, json_extract_string('[1.50, \"x\"]', '$[-2]') AS es2",
    "SELECT json_array_length('[1, 2, 3]') AS a, json_array_length('{}') AS b, json_array_length('\"x\"') AS d",
    "SELECT json_array(1, 'a', NULL) AS ja, json_object('a', 1, 'b', NULL) AS jo",
    "SELECT '{\"a\": 1}'::JSON AS j, '{\"a\":1}'::JSON = '{\"a\": 1}'::JSON AS eq, len('[1, 2]'::JSON) AS l",
    "SELECT from_json('[1,2]', '[\"INTEGER\"]') AS fj",
    # ---- r10 error-parity guards: the VALUE paths must stay exact
    # (the raise paths are census both_err probes — both engines error)
    "SELECT ln(1.0) AS a, log(100.0) AS b, log(2, 8.0) AS c, log2(8.0) AS d, log10(100.0) AS e, sqrt(4.0) AS f, acos(1.0) AS g, asin(0.5) AS h",
    "SELECT ln(NULL) AS n1, sqrt(NULL) AS n2, lpad('abc', 2, '') AS t1, lpad('a', 5, 'xy') AS t2, rpad('abc', 5, '.') AS t3",
    # ---- r10 sweep: lenient literal casts, string slices via fn form
    "SELECT '2024/01/02'::DATE AS d2, CAST('2024/1/2' AS DATE) AS d3",
    "SELECT '[1, 2]'::INTEGER[] AS l, '[1.5, 2.5]'::DOUBLE[] AS dl",
    "SELECT array_slice('abcdef', 2, 4) AS s1, list_slice('abcdef', -3, -1) AS s2, array_slice([1, 2, 3, 4], 2, 3) AS l1, list_slice([1, 2, 3, 4], -2, -1) AS l2",
    "SELECT '1 day'::INTERVAL AS a, '1:02:03'::INTERVAL AS b, '2 hours 3 minutes'::INTERVAL AS c",
    # ---- r10 datetime sweep: extract fields, yearweek family, julian
    "SELECT extract(dow FROM DATE '2024-01-15') AS dow, extract(isodow FROM DATE '2024-01-15') AS idow, extract(doy FROM DATE '2024-03-01') AS doy, extract(dow FROM DATE '2024-01-14') AS dsun",
    "SELECT extract(epoch FROM TIMESTAMP '2024-01-01 00:00:01.5') AS ep, extract(second FROM TIMESTAMP '2024-01-01 00:00:01.75') AS s",
    "SELECT extract(microseconds FROM TIMESTAMP '2024-01-01 00:00:01.5') AS us, extract(milliseconds FROM TIMESTAMP '2024-01-01 00:00:01.5') AS ms",
    "SELECT date_part('second', TIMESTAMP '2024-01-01 00:00:01.75') AS dps, date_part('microseconds', TIME '00:00:01.5') AS tu",
    "SELECT yearweek(DATE '2024-12-30') AS yw, yearweek(DATE '2021-01-01') AS yw2, isoyear(DATE '2024-12-30') AS iy",
    "SELECT weekday(DATE '2024-01-14') AS sun, weekday(DATE '2024-01-15') AS mon, dayofweek(DATE '2024-01-15') AS dw",
    "SELECT julian(DATE '2024-01-01') AS j, julian(TIMESTAMP '2024-01-01 12:00:00') AS jt",
    "SELECT epoch_us(TIMESTAMP '2024-01-01 00:00:00.5') AS us, epoch_ns(TIMESTAMP '2024-01-01 00:00:00.000001') AS ns",
    "SELECT timezone('UTC', TIMESTAMP '2024-01-01 00:00:00') AS tz, timezone('America/New_York', TIMESTAMP '2024-06-01 00:00:00') AS tz2",
    "SELECT extract(decade FROM DATE '2024-05-05') AS de, extract(century FROM DATE '2000-12-31') AS ce, extract(millennium FROM DATE '2024-01-01') AS mi",
    "SELECT date_part(['year', 'month'], DATE '2024-05-02') AS multi",
    "SELECT strptime('02/01/2024 3:04 PM', '%d/%m/%Y %I:%M %p') AS sp2, try_strptime('bogus', '%Y-%m-%d') AS ts, strptime('2024-01-02', '%Y-%m-%d') AS sp",
    # ---- r10 regex sweep
    "SELECT regexp_full_match('abc', 'a.c') AS fm, regexp_full_match('abc', 'a') AS fm2",
    "SELECT regexp_extract('abc123', '([a-z]+)([0-9]+)', 9) AS e9, regexp_extract('abc123', '([a-z]+)([0-9]+)', 2) AS e2",
    "SELECT regexp_matches('AB', 'ab', 'i') AS ci, regexp_matches('AB', 'ab', 'c') AS cs",
    "SELECT regexp_replace('a.a', '.', 'x', 's') AS dotall, regexp_replace('aAa', 'A', 'x', 'is') AS multi",
    "SELECT regexp_extract('2024-01-02', '(\\d+)-(\\d+)-(\\d+)', ['y', 'm', 'd']) AS grp",
    # ---- r10 aggregate-edge sweep: NULL-skipping any_value,
    # NULL-keeping array_agg/list (plain AND ordered forms)
    "SELECT any_value(x) AS av FROM (VALUES (NULL), (2)) t(x)",
    "SELECT arbitrary(x) AS ar FROM (VALUES (NULL), (2)) t(x)",
    "SELECT array_agg(x) AS aa, list(x) AS l FROM (VALUES (1), (NULL), (2)) t(x)",
    "SELECT k, array_agg(v) AS aa FROM (VALUES (1, 'a'), (1, NULL)) t(k, v) GROUP BY k",
    "SELECT any_value(v ORDER BY k) AS av FROM (VALUES (NULL, 1), (2, 2)) t(v, k)",
    # ---- r10 code-review closures
    # bare eE literals are DOUBLE (half-to-even); string/decimal forms
    # round half away from zero
    "SELECT CAST(2.5e0 AS INT) AS he1, CAST(3.5e0 AS INT) AS he2,"
    " 2.5e0::INT AS he3, CAST('2.5e0' AS INT) AS ha1, CAST('2.5' AS INT) AS ha2",
    # signed hex is a DuckDB conversion error → TRY_CAST NULLs on both
    "SELECT TRY_CAST('-0x10' AS INT) AS sh1, TRY_CAST('+0x10' AS INT) AS sh2,"
    " '0x10'::INT AS uh",
    # ordered any_value over an all-NULL group returns NULL (not an
    # ANSI array-index error)
    "SELECT any_value(v ORDER BY k) AS av"
    " FROM (VALUES (CAST(NULL AS INT), 1), (CAST(NULL AS INT), 2)) t(v, k)",
    # list_contains: NULL list / NULL needle → NULL; contains-NULL with
    # needle absent → false
    "SELECT list_contains([1, NULL], 3) AS lc1, list_contains([1, NULL], 1) AS lc2,"
    " list_contains([1, 2], NULL) AS lc3",
    "SELECT list_contains(CAST(NULL AS INT[]), 1) AS lcn",
    "SELECT format_bytes(1) AS fb1, format_bytes(-1) AS fb2, format_bytes(0) AS fb3",
    # a trailing line comment on the sort key must not swallow the
    # NULLS LAST default-order fix
    "SELECT v FROM (VALUES (2), (NULL), (1)) t(v) ORDER BY v -- trailing\nLIMIT 2",
    # ---- r14 sweep: TIME ± INTERVAL wraps modulo 24h (duck ignores
    # the interval's day/month parts; under mod-24h Spark's 24h-exact
    # days coincide) and the bare colon interval shorthand
    "SELECT TIME '23:30:00' + INTERVAL 1 HOUR AS a,"
    " TIME '00:30:00' - INTERVAL 1 HOUR AS b,"
    " TIME '23:59:59.999999' + INTERVAL 1 MICROSECOND AS c",
    "SELECT TIME '12:00:00' + INTERVAL 36 HOUR AS a,"
    " TIME '12:00:00' - INTERVAL 36 HOUR AS b,"
    " TIME '12:00:00' + INTERVAL '1 day 2 hours' AS c,"
    " TIME '12:00:00' + INTERVAL 1 MONTH AS d",
    "SELECT INTERVAL 1 HOUR + TIME '23:30:00' AS a,"
    " TIME '10:00:00' + INTERVAL 1 HOUR - INTERVAL 2 HOUR AS b,"
    " to_hours(30) + TIME '23:30:00' AS c,"
    " TIME '23:30:00' + to_hours(30) AS d",
    "SELECT CAST('23:30:00' AS TIME) + INTERVAL '2:45:00' AS a,"
    " TIMESTAMP '2024-01-01 10:00:00' + INTERVAL '2:45:00' AS b,"
    " INTERVAL '2:45:00' + INTERVAL '0:15:00' AS c",
    # r14: interval ::VARCHAR renders duck text in BOTH cast spellings
    # (ym via duck_ym_text, day-time via duck_dtivl_text — hours stay
    # unbounded, days-only drops the zero time part)
    "SELECT CAST(INTERVAL 14 MONTH AS VARCHAR) AS a,"
    " INTERVAL '1 year 1 month'::VARCHAR AS b,"
    " (INTERVAL 24 MONTH)::VARCHAR AS c, INTERVAL '2 years'::VARCHAR AS d",
    "SELECT (INTERVAL 3 DAY)::VARCHAR AS a,"
    " INTERVAL '90 minutes'::VARCHAR AS b,"
    " (INTERVAL 25 HOUR)::VARCHAR AS c,"
    " (INTERVAL '3 days 4 hours')::VARCHAR AS d,"
    " CAST(INTERVAL '-1 day -2 hours' AS VARCHAR) AS e,"
    " (INTERVAL '0:00:00.5')::VARCHAR AS f, (INTERVAL 0 DAY)::VARCHAR AS g",
    # r14: CAST(x AS VARCHAR) function spelling reaches the float
    # kernels like the :: form
    "SELECT CAST(1e20 AS VARCHAR) AS a, CAST(1.5::FLOAT AS VARCHAR) AS b,"
    " CAST(46977.5625::FLOAT AS VARCHAR) AS c,"
    " CAST(0.1::FLOAT AS VARCHAR) AS d",
    # r15 (ADVICE item 1): a trailing REAL cast on a SUB-operand of a
    # mixed-width expression keeps the DOUBLE renderer — duck promotes
    # REAL+DOUBLE to DOUBLE; a WHOLE-core REAL cast stays float32
    "SELECT CAST(0.1::DOUBLE + 0.2::REAL AS VARCHAR) AS a,"
    " (0.1::DOUBLE + 0.2::REAL)::VARCHAR AS b,"
    " CAST((0.1::DOUBLE + 0.2)::REAL AS VARCHAR) AS c,"
    " CAST(CAST(0.1::DOUBLE + 0.2 AS REAL) AS VARCHAR) AS d,"
    " CAST(1.5 + 0.2::REAL AS VARCHAR) AS e",
    # r15 (VERDICT item 2 + parse divergence found with it): duck binds
    # arithmetic TIGHTER than || where Spark parses || in the +/- tier;
    # expression operands now parenthesize and render with the kernels
    "SELECT 'x' || 2 + 1 AS a, 'x' || 2 - 1 AS b,"
    " 'x' || 2.5 * 2 + 1 AS c, upper('a' || 3 + 4) AS d",
    "SELECT 'x' || 1e19 * 2 AS a, 1e19 * 2 || 'x' AS b,"
    " 'x' || - (1e19 * 2) AS c, 'x' || 1e19 * 2 || 'y' AS d",
    # r15: INTERVAL operands of || render duck interval text, and
    # literal-only interval ARITHMETIC folds with duck's component
    # semantics (25 HOUR + 0 DAY stays '25:00:00' — Spark's single-
    # micros DAY TO HOUR type would re-componentize '1 day 01:00:00')
    "SELECT 'x' || INTERVAL 25 HOUR AS a,"
    " INTERVAL '1' DAY || 'x' AS b,"
    " 'x' || INTERVAL 14 MONTH AS c,"
    " 'x' || INTERVAL '1 day 2 hours' AS d",
    "SELECT (INTERVAL 25 HOUR + INTERVAL 0 DAY)::VARCHAR AS a,"
    " 'x' || INTERVAL 25 HOUR + INTERVAL 0 DAY AS b,"
    " (INTERVAL '2 days' - INTERVAL '26 hours')::VARCHAR AS c,"
    " (INTERVAL 25 HOUR * 2)::VARCHAR AS d,"
    " (INTERVAL 36 HOUR / 2)::VARCHAR AS e,"
    " (INTERVAL '3 days' / 2)::VARCHAR AS f,"
    " CAST(- INTERVAL '1 day 2 hours' AS VARCHAR) AS g,"
    " (INTERVAL 1 MONTH + INTERVAL 25 HOUR)::VARCHAR AS h",
    # r15: fractional interval literal quantities fold with duck's
    # cascade (year-family truncates at months; month/quarter spill to
    # whole days; day/week spill to micros) — Spark's own parser
    # refuses INTERVAL '1.5 days' outright
    "SELECT (INTERVAL '1.5 days')::VARCHAR AS a,"
    " (INTERVAL '1.5 months')::VARCHAR AS b,"
    " (INTERVAL '1.04 years')::VARCHAR AS c,"
    " (INTERVAL '0.035 months')::VARCHAR AS d,"
    " (INTERVAL '1.5 quarters')::VARCHAR AS e,"
    " (INTERVAL '1.999 days')::VARCHAR AS f,"
    " 'x' || INTERVAL '1.5 days' AS g,"
    " (INTERVAL '1 decade')::VARCHAR AS h",
    # r15: the quoted 'n' UNIT form TRUNCATES fractions at the unit
    # (except second/millisecond, which convert exactly)
    "SELECT (INTERVAL '1.5' DAY)::VARCHAR AS a,"
    " (INTERVAL '1.5' HOUR)::VARCHAR AS b,"
    " (INTERVAL '1.99' SECOND)::VARCHAR AS c,"
    " (INTERVAL '1.5' MILLISECOND)::VARCHAR AS d,"
    " (INTERVAL '1.5' WEEK)::VARCHAR AS e,"
    " (INTERVAL '-1.5' DAY)::VARCHAR AS f",
    # r15: user concat_ws value args stringify duck-style like
    # concat's ('x-2e+19', not Java's 'x-2.0E19')
    "SELECT concat_ws('-', 'x', 1e19 * 2) AS a,"
    " concat_ws(',', 'a', INTERVAL 25 HOUR) AS b,"
    " concat_ws('', 'a', NULL, 'b') AS c,"
    " concat('q', concat_ws('-', 1e20, 0.25::FLOAT)) AS d",
    # r15: fractional interval literals in ARITHMETIC positions —
    # Spark's parser refuses them; they convert to value-exact
    # DAY TO SECOND / YEAR TO MONTH canonicals
    "SELECT TIMESTAMP '2024-01-01 00:00:00' + INTERVAL '1.5 days' AS a,"
    " DATE '2024-01-01' + INTERVAL '1.5 days' AS b,"
    " INTERVAL '1.5 days' > INTERVAL '1 day' AS c,"
    " TIMESTAMP '2024-01-01 00:00:00' + INTERVAL '-1.5 days' AS d,"
    " TIMESTAMP '2024-01-01 00:00:00' + INTERVAL '2.5 years' AS e,"
    " TIMESTAMP '2024-01-01 00:00:00' + INTERVAL '1.5' HOUR AS f",
    # r14: format()'s generic {} renders args as duck SQL text (Java
    # printed DATE/TIMESTAMP as raw internal ints, doubles as 1.0E20)
    "SELECT format('{}', DATE '2024-01-02') AS a,"
    " format('{}', TIMESTAMP '2024-01-02 03:04:05') AS b,"
    " format('{} {}', DATE '2024-01-02', true) AS c,"
    " format('{}', 1e20) AS d, format('{}', [1,2]) AS e,"
    " format('{:s}', DATE '2024-01-02') AS f",
    # ---- r10 sweep: windows/series/intervals/numeric-text/grouping
    # year-month interval constructors promote DATE to TIMESTAMP in
    # either operand order, like INTERVAL literals
    "SELECT to_quarters(2) + DATE '2024-01-01' AS q,"
    " to_months(2) + DATE '2024-01-01' AS tm,"
    " DATE '2024-01-01' + to_years(1) AS ty,"
    " to_decades(1) + DATE '2024-01-01' AS td",
    # concat/|| stringify eE DOUBLE literals shortest-round-trip
    "SELECT concat('x', 1e-7) AS tiny, 'x' || 1e15 AS big,"
    " 'x' || -1.5e0 AS neg, 1e0 || 2e0 AS both",
    "SELECT 0.1::FLOAT4 AS f1, CAST(1 AS REAL) AS f2, 2.5::FLOAT8 AS f3,"
    " (0.1::FLOAT4)::VARCHAR AS ft",
    # sign: TINYINT result, NaN → 0
    "SELECT sign(-2.5) AS s1, sign(0) AS s2, sign('nan'::DOUBLE) AS s3,"
    " sign(5) AS s4",
    # array_agg/list over zero qualifying rows are NULL; FILTER folds
    # into the collected struct (plain and ordered); DISTINCT rides
    "SELECT array_agg(v) AS aa, list(v) AS l FROM (VALUES (1)) t(v)"
    " WHERE false",
    "SELECT array_agg(v) FILTER (WHERE v > 1) AS af,"
    " array_agg(v ORDER BY v DESC) FILTER (WHERE v < 3) AS aof,"
    " array_agg(v) FILTER (WHERE v > 9) AS aempty"
    " FROM (VALUES (1), (2), (3)) t(v)",
    "SELECT list_sort(array_agg(DISTINCT v)) AS ad"
    " FROM (VALUES (1), (NULL), (1), (2)) t(v)",
    "SELECT k, array_agg(v ORDER BY v) FILTER (WHERE v <> 0) AS aof"
    " FROM (VALUES (1, 2), (1, 0), (1, 1), (2, 0)) t(k, v)"
    " GROUP BY k ORDER BY k",
    # DuckDB's WHERE-less FILTER shorthand folds the same way
    "SELECT list(v) FILTER (v IS NOT NULL) AS lf,"
    " array_agg(v ORDER BY v) FILTER (v > 1) AS af"
    " FROM (VALUES (1), (NULL), (2)) t(v)",
    # strict boolean literal casts: accepted set folds, TRY of a
    # rejected value is NULL
    "SELECT 'true'::BOOLEAN AS b1, 'T'::BOOLEAN AS b2, '0'::BOOLEAN AS b3,"
    " TRY_CAST('yes' AS BOOLEAN) AS b4, TRY_CAST(' true ' AS BOOLEAN) AS b5",
    # DuckDB's 2-param list lambdas pass a 1-BASED index (Spark's HOFs
    # are 0-based — silent wrong values without the shift)
    "SELECT list_transform([10, 20], (x, i) -> i) AS ti,"
    " list_filter([10, 20, 30], (x, i) -> i % 2 = 1) AS fi,"
    " filter([10, 20, 30], (x, i) -> i = 3) AS f3,"
    " apply([10, 20], (x, i) -> x + i) AS ap",
    "SELECT array_reverse([1, 2, 3]) AS ar, list_reverse([4, 5]) AS lrv,"
    " reverse('abc') AS rs",
    # unary list-aggregate spellings (NULLs skipped, empty → NULL,
    # median interpolates, mode ties to first occurrence, histogram
    # keys sorted; moment stats ride the probed-formula UDFs)
    "SELECT list_median([1, NULL, 3]) AS md, list_mode([2, 1]) AS mo,"
    " list_product([NULL, 2.0]) AS pr, list_first([NULL, 2]) AS lf,"
    " list_any_value([NULL, 7]) AS av",
    "SELECT round(list_entropy([NULL, 1, 1, 2]), 9) AS en,"
    " list_bool_and([true, NULL]) AS ba, list_bool_or([NULL]) AS bo,"
    " list_histogram([2, 1, 1]) AS lh",
    "SELECT round(list_kurtosis([NULL, 1.0, 2.0, 3.0, 9.0]), 9) AS ku,"
    " round(list_skewness([1.0, 2.0, 4.0]), 9) AS sk,"
    " round(list_var_pop([1.0, 2.0, 3.0]), 9) AS vp",
    "SELECT array_pop_back([1]) AS pb, array_pop_front([1, 2, 3]) AS pf,"
    " list_element([1, 2], -1) AS le, list_extract([1, 2], 9) AS lx,"
    " list_slice([1, 2, 3, 4, 5], 2, 4, 2) AS ls",
    # corr over a zero-variance or sub-2-row group is NULL (ANSI
    # Spark's native corr raises DIVIDE_BY_ZERO on zero variance)
    "SELECT corr(x, y) AS czero FROM (VALUES (1.0, 2.0), (1.0, 3.0)) t(x, y)",
    "SELECT corr(x, y) AS c1 FROM (VALUES (1.0, 2.0)) t(x, y),"
    " (VALUES (1)) u(z)",
    "SELECT round(corr(x, y), 9) AS cr FROM (VALUES (1.0, 2.0),"
    " (2.0, 3.0), (3.0, 5.0)) t(x, y)",
    # pairwise-complete rows: the identity's stddev factors must
    # exclude rows where the OTHER operand is NULL (review r10);
    # round(6): the decomposed estimator differs from the fused one
    # in the last ulp on exactly-collinear data
    "SELECT round(corr(x, y), 6) AS cn FROM (VALUES (1.0, NULL),"
    " (2.0, 3.0), (3.0, 5.0)) t(x, y)",
    # a binary minus after a subscript must not be swallowed into the
    # eE-literal concat rewrite
    "SELECT ([5, 6])[1] -1e2 || 'x' AS bm",
    "SELECT skewness(x) AS sk, kurtosis(x) AS ku"
    " FROM (VALUES (1.0), (2.0)) t(x)",
    # ---- FLOAT×INT comparison positions (r16, VERDICT item 1): duck
    # keeps FLOAT through arithmetic and compares FLOAT vs int/dec/
    # string sides in FLOAT; Spark widens to DOUBLE
    "SELECT 0.3::FLOAT = 0.3 AS a, 0.1::FLOAT * 3 > 0.3 AS b,"
    " 16777217 = 16777216::FLOAT AS c, 0.3::FLOAT = '0.3' AS d",
    "SELECT 0.1::FLOAT * 3 BETWEEN 0.3 AND 0.3 AS a,"
    " 0.3::FLOAT IN (0.3, 0.5) AS b, -(0.3::FLOAT) * 2 = -0.6 AS c",
    "SELECT 0.1::FLOAT / 3.0 > 0.0333333 AS a,"
    " 0.1::FLOAT * (1 / 2) > 0.04 AS b,"
    " CAST(0.1 AS FLOAT) * 2 <= 0.2 AS c",
    # decimal-literal → FLOAT cast takes duck's unscaled/power model
    # (NOT the correctly-rounded value: differs in the last ulp)
    "SELECT CAST(0.6000000238418579::FLOAT AS DOUBLE) AS a,"
    " CAST(33554434.0::FLOAT AS DOUBLE) AS b,"
    " CAST(0.333333333333333::FLOAT AS DOUBLE) AS c",
    # multi-row scalar subquery with deterministic ORDER BY: duck
    # returns the FIRST row — LIMIT 1 injection (r16, VERDICT item 7;
    # without ORDER BY the loud Spark error stays, NOTES.md)
    "SELECT (SELECT x FROM (VALUES (3), (1), (2)) t(x)"
    " ORDER BY x DESC) AS v",
    "SELECT (SELECT x + 1 FROM (VALUES (3), (1)) t(x) ORDER BY x) AS v,"
    " (SELECT x FROM (VALUES (5), (9)) t(x) ORDER BY x LIMIT 1) AS w",
    # timestamp-subtraction interval provenance (r16, VERDICT item 3):
    # duck's components never renormalize after ± INTERVAL literals —
    # '3 days 27:00:00', not '4 days 03:00:00'
    "SELECT (TIMESTAMP '2024-01-05 03:00:00'"
    " - TIMESTAMP '2024-01-02 01:00:00' + INTERVAL 25 HOUR)::VARCHAR"
    " AS a,"
    " (TIMESTAMP '2024-01-05 03:00:00'"
    " - TIMESTAMP '2024-01-02 01:00:00' - INTERVAL 5 HOUR)::VARCHAR"
    " AS b",
    "SELECT (INTERVAL 30 HOUR + (TIMESTAMP '2024-01-03 01:00:00'"
    " - TIMESTAMP '2024-01-02 01:00:00'))::VARCHAR AS a,"
    " (INTERVAL 2 HOUR + TIMESTAMP '2024-01-05 03:00:00'"
    " - TIMESTAMP '2024-01-02 01:00:00' + INTERVAL '1 day')::VARCHAR"
    " AS b",
]

# fixture-table statements need the views registered on both engines
_NEEDS_TABLES = ("region", "nation", "customer", "lineitem", "orders")


def _canon(v, depth=0):
    # dict keys canonize to str: histogram() returns MAP<STRING,LONG>
    # where DuckDB types keys by input (documented delta)
    if isinstance(v, bool):
        return v
    if isinstance(v, Decimal):
        if v == v.to_integral_value():
            return int(v)  # uint64-range values (md5_number_*) are
            # exact as DECIMAL(20,0) but lose precision as float
        v = float(v)
    if isinstance(v, float):
        if math.isnan(v):
            return "NaN"
        if math.isinf(v):
            return "Inf" if v > 0 else "-Inf"
        if v == int(v) and abs(v) < 2**52:
            return int(v)
        return float(f"{v:.9g}")
    if isinstance(v, dt.datetime):
        return v.replace(tzinfo=None).isoformat()
    if isinstance(v, dt.date):
        return v.isoformat()
    if hasattr(v, "asDict") and depth > 0:  # Spark Row (struct value) —
        # must precede the tuple branch (Row subclasses tuple)
        return tuple(sorted((k, _canon(x, depth + 1)) for k, x in v.asDict().items()))
    if isinstance(v, (list, tuple)):
        return tuple(_canon(x, depth + 1) for x in v)
    if isinstance(v, dict):
        if set(v.keys()) == {"key", "value"} and isinstance(v.get("key"), list):
            # duckdb 1.0's Python rendering of a MAP value
            return tuple(
                sorted(
                    (str(k), _canon(x, depth + 1))
                    for k, x in zip(v["key"], v["value"])
                )
            )
        return tuple(sorted((str(k), _canon(x, depth + 1)) for k, x in v.items()))
    if isinstance(v, bytes):
        return v.hex()
    return v


def test_battery_matches_duckdb(spark, oracle):
    register_views(spark, SF_DIR)
    register_udfs(spark)
    failures = []
    for sql in BATTERY:
        try:
            duck = oracle.execute(sql).fetchall()
        except Exception as exc:  # noqa: BLE001
            failures.append((sql, f"duckdb errored: {exc}"))
            continue
        try:
            got = [tuple(r) for r in spark.sql(rewrite(sql)).collect()]
        except Exception as exc:  # noqa: BLE001
            failures.append((sql, f"spark errored: {str(exc)[:300]}"))
            continue
        want = sorted(_canon(r) for r in duck)
        have = sorted(_canon(tuple(r)) for r in got)
        if want != have:
            failures.append((sql, f"want {want!r} got {have!r}"))
    assert not failures, "\n".join(f"{s}\n    {m}" for s, m in failures)


def test_hamming_unequal_lengths_errors(spark):
    register_udfs(spark)
    with pytest.raises(Exception, match="equal length"):
        spark.sql(rewrite("SELECT hamming('abc', 'abcd') AS h")).collect()


def test_float32_text_kernel_matches_duckdb(oracle):
    """functions/floattext.py vs the engine over a seeded corpus:
    3k random bit patterns + every exponent + the subnormal floor +
    the known Grisu3-failure patterns from the r13/r14 probes. The
    full 621k-pattern validation ran offline (module docstring); this
    is the fast regression pin."""
    import random
    import struct as st

    from duckdb_pgwire_spark.functions.floattext import duck_float_text

    rng = random.Random(0xF32)
    pats = [rng.getrandbits(32) for _ in range(3000)]
    pats += [(e << 23) | f for e in range(0, 255, 7)
             for f in (0, 1, 0x7FFFFF, 0x400000)]
    pats += list(range(1, 64))  # subnormal floor
    pats += [1194819984, 1332435144, 3360324392, 1288477634,
             3433026356, 0x7F7FFFFF]  # pinned failure-class patterns
    vals = []
    for p in pats:
        f = st.unpack("<f", st.pack("<I", p))[0]
        if f != f or f in (float("inf"), float("-inf")) or f == 0:
            continue
        vals.extend((f, -f))
    duck = oracle.execute(
        "SELECT CAST(CAST(UNNEST(?::DOUBLE[]) AS FLOAT) AS VARCHAR)", [vals]
    ).fetchall()
    bad = [
        (v, d, duck_float_text(v))
        for v, (d,) in zip(vals, duck)
        if duck_float_text(v) != d
    ]
    assert not bad, bad[:10]
    # specials render like the engine's varchar cast
    assert duck_float_text(float("nan")) == "nan"
    assert duck_float_text(float("inf")) == "inf"
    assert duck_float_text(float("-inf")) == "-inf"
    assert duck_float_text(0.0) == "0.0"
    assert duck_float_text(-0.0) == "-0.0"


def test_bool_cast_rejected_literal_errors():
    """DuckDB: Conversion Error for 'yes'::BOOLEAN (no y/n/yes/no,
    no whitespace trim); Spark would silently accept both."""
    with pytest.raises(ValueError, match="to BOOL"):
        rewrite("SELECT 'yes'::BOOLEAN AS b")
    with pytest.raises(ValueError, match="to BOOL"):
        rewrite("SELECT CAST(' true ' AS BOOLEAN) AS b")


def test_bool_coercion_column_conversion_error(spark, oracle):
    """A string COLUMN in a boolean context carrying a value outside
    duck's accepted set raises duck's Conversion Error at runtime on
    BOTH engines (the emitted CASE's raise_error arm)."""
    from duckdb_pgwire_spark.server.app import _hugeint_sums

    oracle.execute(
        "CREATE OR REPLACE TABLE sbool_bad AS SELECT 'maybe' AS sv"
    )
    spark.sql(
        "CREATE OR REPLACE TEMP VIEW sbool_bad AS SELECT 'maybe' AS sv"
    )
    stmt = "SELECT 1 AS x FROM sbool_bad WHERE sv"
    with pytest.raises(Exception, match="onvert string"):
        oracle.execute(stmt).fetchall()
    with pytest.raises(Exception, match="onvert string 'maybe' to BOOL"):
        spark.sql(_hugeint_sums(spark, rewrite(stmt))).collect()


def test_between_symmetric_refusal_is_parity(spark, oracle):
    """BETWEEN SYMMETRIC: DuckDB v1.x itself raises 'Not implemented
    Error: Expression type T_List' (probed r13) — the GROUPS-mode
    precedent: refusal IS parity, closing the last ordering residue."""
    stmt = "SELECT 5 BETWEEN SYMMETRIC 10 AND 1 AS a"
    with pytest.raises(Exception, match="Not implemented"):
        oracle.execute(stmt).fetchall()
    with pytest.raises(Exception):
        spark.sql(rewrite(stmt)).collect()


def test_bit_op_size_mismatch_errors(spark):
    """duck refuses bitwise ops over unequal BIT widths with Invalid
    Input Error, and a negative left-shift with Out of Range Error —
    the kernels raise the same messages."""
    register_udfs(spark)
    for q, frag in [
        ("SELECT '01'::BIT & '011'::BIT AS a", "Cannot AND bit strings"),
        ("SELECT xor('01'::BIT, '011'::BIT) AS a", "Cannot XOR bit"),
        ("SELECT '0101'::BIT << -1 AS a", "left-shift by negative"),
    ]:
        with pytest.raises(Exception, match=frag):
            spark.sql(rewrite(q)).collect()


def test_printf_type_mismatch_literal_errors():
    """DuckDB: Invalid Input Error for a type-mismatched printf
    directive (%s with numeric, %d/%x with string) where Java's
    formatter silently coerces — refused loudly for literal args
    (r13, the r12 leniency-inversion decision). Bool/date %s args
    stay accepted (duck formats them)."""
    for bad, frag in [
        ("SELECT printf('%s', 5) AS x", "type int"),
        ("SELECT printf('%s', 5.5) AS x", "type float"),
        ("SELECT printf('%d', '5') AS x", "type string"),
        ("SELECT printf('%x', 'ff') AS x", "type string"),
    ]:
        with pytest.raises(ValueError, match=frag):
            rewrite(bad)
    rewrite("SELECT printf('%s', true) AS x")  # accepted forms
    rewrite("SELECT printf('%s', DATE '2024-01-01') AS x")


def test_printf_typed_column_mismatch(spark, oracle):
    """r14 (VERDICT item 3): printf/format with a type-mismatched
    COLUMN argument refuses with duck's message — per NON-NULL row
    (duck dispatches at runtime: all-NULL and zero-row inputs succeed,
    probed). The /*__duck_pf:*/ markers route through the analysis
    typer in the _hugeint_sums leg."""
    from duckdb_pgwire_spark.server.app import _hugeint_sums

    register_views(spark, SF_DIR)
    register_udfs(spark)
    spark.sql(
        "CREATE OR REPLACE TEMP VIEW pfty AS SELECT 42 AS i, 2.5D AS f,"
        " 'abc' AS s, DATE'2024-01-02' AS d, true AS b,"
        " CAST(NULL AS INT) AS ni"
    )
    for bad, frag in [
        ("SELECT printf('%f', i) FROM pfty", '"f".*type int'),
        ("SELECT printf('%d', s) FROM pfty", '"d".*type string'),
        ("SELECT printf('%s', i) FROM pfty", '"s".*type int'),
        ("SELECT printf('%s', f) FROM pfty", '"s".*type float'),
        ("SELECT printf('%f', b) FROM pfty", '"f".*type int'),
        ("SELECT printf('%d', d) FROM pfty", '"d".*type string'),
        ("SELECT format('{:d}', f) FROM pfty", '"d".*type float'),
    ]:
        with pytest.raises(Exception, match=frag):
            spark.sql(_hugeint_sums(spark, rewrite(bad))).collect()
    ok = [
        ("SELECT printf('%s', d) AS x FROM pfty", "2024-01-02"),
        ("SELECT printf('%d', b) AS x FROM pfty", "1"),
        ("SELECT printf('%f', ni) AS x FROM pfty", None),
        ("SELECT format('{}', i) AS x FROM pfty", "42"),
        ("SELECT printf('%d %s', i+1, s) AS x FROM pfty", "43 abc"),
    ]
    for sql, want in ok:
        got = spark.sql(_hugeint_sums(spark, rewrite(sql))).collect()
        assert [r.x for r in got] == [want], sql
    # duck's runtime dispatch: a mismatched directive over ZERO rows
    # or an all-NULL column is quiet — so is the raise_error guard
    empty = spark.sql(
        _hugeint_sums(
            spark, rewrite("SELECT printf('%f', i) FROM pfty WHERE false")
        )
    ).collect()
    assert empty == []
    # r15 (ADVICE item 2): the mismatch CASE must replace the WHOLE
    # Java-coercion CAST — printf('%d', date_col) used to leave the
    # DATE-typed THEN inside CAST(... AS BIGINT), failing ANALYSIS even
    # on zero-row/all-NULL inputs where duck is quiet
    for quiet in [
        "SELECT printf('%d', d) FROM pfty WHERE false",
        "SELECT printf('%s', f) FROM pfty WHERE false",
        "SELECT printf('%d', CASE WHEN i < 0 THEN d END) AS x FROM pfty",
    ]:
        got = spark.sql(_hugeint_sums(spark, rewrite(quiet))).collect()
        assert all(r[0] is None for r in got), quiet


def test_zero_slice_step_errors():
    """DuckDB: 'Slice step cannot be zero' (Invalid Input Error); the
    div-zero guard must not turn the % 0 predicate into a silent []."""
    with pytest.raises(ValueError, match="step cannot be zero"):
        rewrite("SELECT ([1,2,3])[1:3:0] AS s")


DATETIME_EXTRAS = [
    # r10: week/weekday directives render via functions (Spark 3+
    # removed the pattern letters); literal ASCII letters in formats
    # are Java-quoted (strftime text vs Java pattern chars)
    "SELECT strftime(DATE '2024-01-07', '%V') AS v,"
    " strftime(DATE '2024-01-07', '%U') AS u,"
    " strftime(DATE '2024-01-07', '%w') AS w,"
    " strftime(DATE '2024-01-07', '%u') AS iu",
    "SELECT strftime(DATE '2024-12-31', '%G-W%V-%u') AS iso,"
    " strftime(DATE '2016-01-03', '%W') AS w00",
    "SELECT strftime(DATE '2024-01-01', '%U') AS u0,"
    " strftime(TIMESTAMP '2024-03-05 09:00:00', 'Week %V of %G') AS txt",
    "SELECT date_trunc('month', DATE '2024-03-15') AS dt",
    "SELECT date_trunc('month', TIMESTAMP '2024-03-15 10:00:00') AS dt2",
    "SELECT date_trunc('hour', TIMESTAMP '2024-03-15 10:42:00') AS dt3",
    "SELECT datetrunc('week', TIMESTAMP '2024-03-15 10:00:00') AS dt4",
    "SELECT DATE '2024-03-05' - DATE '2024-03-01' AS dd",
]


def test_datetime_extras_match_duckdb(spark, oracle):
    register_udfs(spark)
    failures = []
    for sql in DATETIME_EXTRAS:
        duck = oracle.execute(sql).fetchall()
        got = [tuple(r) for r in spark.sql(rewrite(sql)).collect()]
        want = sorted(_canon(r) for r in duck)
        have = sorted(_canon(tuple(r)) for r in got)
        if want != have:
            failures.append((sql, f"want {want!r} got {have!r}"))
    assert not failures, "\n".join(f"{s}\n    {m}" for s, m in failures)


COMPOSITE_CONTEXT_SPLIT = [
    # setup: complex-typed columns on both engines
    (
        "CREATE OR REPLACE TABLE probe_ctx AS SELECT * FROM (VALUES"
        " (1, [1,2], [1,2]), (2, [1,NULL], [1,NULL]),"
        " (3, [1,NULL], [1,2]), (4, [2,NULL], [1])) t(k, a, b)",
        "CREATE OR REPLACE TEMP VIEW probe_ctx AS SELECT * FROM VALUES"
        " (1, array(1,2), array(1,2)),"
        " (2, array(1,CAST(NULL AS INT)), array(1,CAST(NULL AS INT))),"
        " (3, array(1,CAST(NULL AS INT)), array(1,2)),"
        " (4, array(2,CAST(NULL AS INT)), array(1)) t(k, a, b)",
    ),
    # string/numeric columns for the r13 boolean-coercion legs (sv
    # holds only duck-accepted spellings or NULL — invalid values are
    # the separate error-parity test)
    (
        "CREATE OR REPLACE TABLE probe_sbool AS SELECT * FROM (VALUES"
        " (1, 'true', -1, DATE '2024-03-11'),"
        " (2, 'f', 0, DATE '2024-03-15'),"
        " (3, '0', 1, DATE '2024-04-02'), (4, 'T', 2, DATE '2024-05-20'),"
        " (5, NULL, NULL, NULL), (6, '1', 2, DATE '2024-06-30'))"
        " t(k, sv, n, dd)",
        "CREATE OR REPLACE TEMP VIEW probe_sbool AS SELECT * FROM VALUES"
        " (1, 'true', -1, DATE '2024-03-11'),"
        " (2, 'f', 0, DATE '2024-03-15'),"
        " (3, '0', 1, DATE '2024-04-02'), (4, 'T', 2, DATE '2024-05-20'),"
        " (5, CAST(NULL AS STRING), CAST(NULL AS INT),"
        " CAST(NULL AS DATE)), (6, '1', 2, DATE '2024-06-30')"
        " t(k, sv, n, dd)",
    ),
]

COMPOSITE_CONTEXT_QUERIES = [
    # projection: sequential short-circuit 3VL
    "SELECT k, a = b AS e, a <> b AS ne FROM probe_ctx ORDER BY k",
    "SELECT k, a = [1,NULL] AS e FROM probe_ctx ORDER BY k",
    "SELECT k, a IN ([1,NULL]) AS e, a NOT IN ([1,2]) AS ne"
    " FROM probe_ctx ORDER BY k",
    # filter: DuckDB's 2VL total-order path = Spark native
    "SELECT k FROM probe_ctx WHERE a = b ORDER BY k",
    "SELECT k FROM probe_ctx WHERE a = [1,NULL] ORDER BY k",
    "SELECT k, CASE WHEN a = b THEN 1 ELSE 0 END AS c"
    " FROM probe_ctx ORDER BY k",
    "SELECT k FROM probe_ctx WHERE a IN ([1,NULL]) ORDER BY k",
    # pure literals constant-fold to 3VL even in WHERE
    "SELECT 1 AS one WHERE [1,NULL] = [1,NULL]",
    "SELECT 1 AS one WHERE (1,NULL) = (1,NULL)",
    "SELECT 1 AS one WHERE [1,2] = [1,2]",
    # --- r11 second-review positional matrix (probed): condition-ness
    # flows through NOT/AND/OR/parens and CASE/IF BRANCH RESULTS;
    # ordinary function args are value positions even under WHERE ---
    "SELECT k, CASE WHEN TRUE THEN a = b END AS v FROM probe_ctx ORDER BY k",
    "SELECT k FROM probe_ctx WHERE CASE WHEN TRUE THEN a = b END ORDER BY k",
    "SELECT k, coalesce(a = b, FALSE) AS v FROM probe_ctx ORDER BY k",
    "SELECT k FROM probe_ctx WHERE coalesce(a = b, FALSE) ORDER BY k",
    "SELECT k FROM probe_ctx WHERE IF(a = b, 1, 0) = 1 ORDER BY k",
    "SELECT k, IF(a = b, 'y', 'n') AS v FROM probe_ctx ORDER BY k",
    "SELECT k FROM probe_ctx WHERE IF(TRUE, a = b, NULL) ORDER BY k",
    "SELECT k, NOT (a = b) AS v FROM probe_ctx ORDER BY k",
    "SELECT k FROM probe_ctx WHERE NOT (a = b) ORDER BY k",
    # r13 (composite DML fuzz find): IS [NOT] NULL inspects a VALUE —
    # its comparison operand is 3VL in EVERY position (condition-ness
    # flows through NOT but NOT through IS NULL, probed)
    "SELECT k FROM probe_ctx WHERE (a = b) IS NULL ORDER BY k",
    "SELECT k FROM probe_ctx WHERE (a < b) IS NULL ORDER BY k",
    "SELECT k FROM probe_ctx WHERE (a < b) IS NOT NULL ORDER BY k",
    "SELECT k, CASE WHEN (a < b) IS NULL THEN 1 ELSE 0 END AS c"
    " FROM probe_ctx ORDER BY k",
    "SELECT k, CASE WHEN (a = b) IS NULL THEN 1 ELSE 0 END AS c"
    " FROM probe_ctx ORDER BY k",
    "SELECT k, ((a < b) AND TRUE) IS NULL AS v FROM probe_ctx ORDER BY k",
    # whole IS family behaves like IS NULL (probed r13)
    "SELECT k FROM probe_ctx WHERE (a < b) IS TRUE ORDER BY k",
    "SELECT k FROM probe_ctx WHERE (a < b) IS NOT TRUE ORDER BY k",
    "SELECT k FROM probe_ctx WHERE (a = b) IS NOT FALSE ORDER BY k",
    "SELECT k FROM probe_ctx WHERE (a < b) IS NOT DISTINCT FROM NULL"
    " ORDER BY k",
    "SELECT k, CASE WHEN (a < b) IS NOT TRUE THEN 1 ELSE 0 END AS c"
    " FROM probe_ctx ORDER BY k",
    "SELECT k, (a = b) AND TRUE AS v FROM probe_ctx ORDER BY k",
    "SELECT k, [a = b] AS v FROM probe_ctx ORDER BY k",
    "SELECT coalesce((a = b)::VARCHAR, 'null') AS v, count(*) AS c"
    " FROM probe_ctx GROUP BY 1",
    "SELECT k, coalesce(CASE WHEN TRUE THEN a = b END, FALSE) AS v"
    " FROM probe_ctx ORDER BY k",
    # sibling derived-table SELECT at the same paren depth must not
    # leak into the position walk (the IF-cond stays 2VL)
    "SELECT count(*) AS c FROM (SELECT a, b FROM probe_ctx) s"
    " WHERE IF(a = b, 1, 0) = 1",
    # unbalanced paren inside a string literal near the comparison
    "SELECT k, 'a)' AS s, a = b AS v FROM probe_ctx ORDER BY k",
    # IN-subquery positional forms
    "SELECT k, CASE WHEN TRUE THEN k IN (SELECT NULL::INT) END AS v"
    " FROM probe_ctx ORDER BY k",
    "SELECT count(*) AS c FROM probe_ctx"
    " WHERE coalesce(k IN (SELECT NULL::INT), TRUE)",
    # --- r12 ordering closure: value position = lexicographic 3VL,
    # filter spine AND CASE-WHEN slots = NULLs-GREATEST 2VL total
    # order (Spark native is NULLs-smallest, so both rewrite) ---
    "SELECT k, a < b AS lt, a <= b AS le, a > b AS gt, a >= b AS ge"
    " FROM probe_ctx ORDER BY k",
    "SELECT k FROM probe_ctx WHERE a < b ORDER BY k",
    "SELECT k FROM probe_ctx WHERE a <= b ORDER BY k",
    "SELECT k FROM probe_ctx WHERE a > b ORDER BY k",
    "SELECT k FROM probe_ctx WHERE a >= b ORDER BY k",
    "SELECT k, CASE WHEN a < b THEN 1 ELSE 0 END AS c"
    " FROM probe_ctx ORDER BY k",
    "SELECT k, a < [1,NULL] AS v FROM probe_ctx ORDER BY k",
    "SELECT k FROM probe_ctx WHERE a < [1,NULL] ORDER BY k",
    "SELECT k FROM probe_ctx WHERE a > [1,NULL] ORDER BY k",
    # schema reach through derived-table / CTE aliases (r12,
    # propagate_complex_aliases)
    "SELECT k, x = y AS e, x < y AS lt FROM"
    " (SELECT k, a AS x, b AS y FROM probe_ctx) t ORDER BY k",
    "WITH c AS (SELECT k, a AS x, b AS y FROM probe_ctx)"
    " SELECT k FROM c WHERE x >= y ORDER BY k",
    "WITH c AS (SELECT k, a AS x FROM probe_ctx)"
    " SELECT k, x <= [1,NULL] AS v FROM c ORDER BY k",
    "SELECT k, a < b AS lt FROM (SELECT * FROM probe_ctx) t ORDER BY k",
    # literal forms: value 3VL / WHERE const-fold 3VL / WHEN 2VL
    "SELECT [1,NULL] < [1,2] AS a, [1,NULL] <= [1,NULL] AS b,"
    " [1] < [1,NULL] AS c, [1,NULL] < [1] AS d, [1,NULL] < [1,2,3] AS e",
    "SELECT (1,NULL) < (1,2) AS a, (NULL,1) < (1,1) AS b",
    "SELECT 1 AS one WHERE [1,2] < [1,NULL]",
    "SELECT CASE WHEN [1,2] < [1,NULL] THEN 1 ELSE 0 END AS c",
    "SELECT CASE WHEN [1,NULL] <= [1,NULL] THEN 1 ELSE 0 END AS c",
    "SELECT IF([1,2] < [1,NULL], 1, 0) AS c",
    # equality in the WHEN slot is 2VL even for pure constants
    # (r12 probe — the spine const-fold does NOT apply there)
    "SELECT CASE WHEN [1,NULL] = [1,NULL] THEN 1 ELSE 0 END AS c",
    "SELECT IF([1,NULL] = [1,NULL], 1, 0) AS c",
    "SELECT MAP([1],[2]) < MAP([1],[3]) AS a",
    # composite-constructor needle IN (SELECT …): duck 2VL total order
    # in every position (Spark destructures to multi-col IN — r12
    # EXISTS + null-safe-eq rewrite)
    "SELECT (1, NULL) IN (SELECT (1, 2)) AS a,"
    " (1, NULL) IN (SELECT (1, NULL)) AS c",
    "SELECT (1, NULL) NOT IN (SELECT (1, NULL)) AS a",
    "SELECT 1 AS one WHERE (1, NULL) IN (SELECT (1, NULL))",
    "SELECT [1, NULL] IN (SELECT [1, NULL]) AS l,"
    " [1, NULL] IN (SELECT [1, 2]) AS m",
    "SELECT (1, NULL) IN (SELECT (1, 2) WHERE FALSE) AS e",
    "SELECT CASE WHEN (1,NULL) IN (SELECT (1,NULL)) THEN 1 ELSE 0 END AS c",
    # CASE-branch-result projection IN-subquery (r11 residue probe)
    "SELECT CASE WHEN TRUE THEN 1 IN (SELECT NULL::INT) END AS v",
    "SELECT IF(TRUE, 1 IN (SELECT NULL::INT), FALSE) AS v",
    "SELECT NULL::INT[] < [1] AS a, [1] <= NULL::INT[] AS b",
    "SELECT [1] = NULL::INT[] AS b",
    # r12 review fixes: cast-suffixed LEFT operands, composite BETWEEN
    # (value 3VL / cond 2VL / const-spine 3VL), column BETWEEN
    "SELECT [1,NULL]::INT[] < [1,2] AS v, [1,NULL]::INT[] = [1,2] AS e",
    "SELECT [1,NULL] BETWEEN [1,1] AND [1,3] AS a,"
    " [2,NULL] BETWEEN [1] AND [3] AS b,"
    " [0] BETWEEN [1,NULL] AND [2] AS c",
    "SELECT 1 AS one WHERE [1,2] BETWEEN [1,1] AND [1,NULL]",
    "SELECT CASE WHEN [1,2] BETWEEN [1,1] AND [1,NULL] THEN 1 ELSE 0"
    " END AS c",
    "SELECT (1,NULL) BETWEEN (1,1) AND (1,3) AS s",
    "SELECT [1,2] NOT BETWEEN [1,1] AND [1,NULL] AS n",
    # r12: quantified subqueries in VALUE positions get the standard
    # 3VL verdict (spine/cond forms keep the UNKNOWN→FALSE EXISTS)
    "SELECT 1 = ALL(SELECT * FROM (VALUES (1),(NULL)) t(x)) AS a,"
    " 1 = ALL(SELECT * FROM (VALUES (2),(NULL)) t(x)) AS c,"
    " 1 = ALL(SELECT 1 WHERE FALSE) AS d",
    "SELECT NULL = ALL(SELECT 1) AS e, NULL = ALL(SELECT 1 WHERE FALSE) AS f",
    "SELECT 1 < ALL(SELECT * FROM (VALUES (2),(NULL)) t(x)) AS g,"
    " 1 < ANY(SELECT * FROM (VALUES (0),(NULL)) t(x)) AS i,"
    " 1 <> ANY(SELECT * FROM (VALUES (1),(NULL)) t(x)) AS k",
    "SELECT 1 AS one WHERE 2 > ANY(SELECT * FROM (VALUES (1),(NULL)) t(x))",
    # third-review r12: NULL needles, NOT/IS NULL wrappers on the
    # spine (the single-EXISTS fold was unsound there), tstz sides
    "SELECT 1 AS r WHERE NULL = ALL(SELECT 1)",
    "SELECT NULL = ANY(SELECT 1) AS x, NULL <> ALL(SELECT 1) AS y",
    "SELECT 1 AS r WHERE NOT (1 = ALL(SELECT * FROM (VALUES (1),(NULL))"
    " t(x)))",
    "SELECT 1 AS r WHERE (1 = ALL(SELECT * FROM (VALUES (1),(NULL))"
    " t(x))) IS NULL",
    "SELECT to_timestamp(0) AT TIME ZONE 'America/New_York' AS nyt",
    # r13 ADVICE: current-instant heads return TIMESTAMPTZ in duck —
    # AT TIME ZONE must take the INVERSE direction (now() was 8h off).
    # Deterministic forms: zone-pair difference + 2-arg timezone() head
    "SELECT date_diff('hour', now() AT TIME ZONE 'UTC',"
    " now() AT TIME ZONE 'Asia/Tokyo') AS tokyo_off,"
    " date_diff('hour', current_timestamp AT TIME ZONE 'UTC',"
    " current_timestamp AT TIME ZONE 'America/Los_Angeles') AS la_off",
    "SELECT timezone('America/New_York', TIMESTAMP '2024-03-15 12:00:00')"
    " AT TIME ZONE 'Asia/Tokyo' AS chain2",
    "SELECT (TIMESTAMP '2024-03-15 12:00:00' AT TIME ZONE"
    " 'America/New_York') AT TIME ZONE 'Asia/Tokyo' AS chain",
    "SELECT date_sub('month', TIMESTAMP '2024-01-15 12:00:00',"
    " TIMESTAMP '2024-02-15 11:00:00') AS t0,"
    " date_sub('month', TIMESTAMP '2024-02-15 11:00:00',"
    " TIMESTAMP '2024-01-15 12:00:00') AS tn",
    "SELECT time_bucket(INTERVAL '3' MONTH,"
    " TIMESTAMP '2024-05-15 07:08:09') AS tbq",
    "SELECT CASE WHEN 1 = ALL(SELECT * FROM (VALUES (1),(NULL)) t(x))"
    " THEN 1 ELSE 0 END AS m",
    # --- r12 tz/epoch sweep fixes ---
    "SELECT make_timestamp(1710505845123456) AS mtu",
    "SELECT TIMESTAMP '2024-03-15 12:30:45' AT TIME ZONE 'UTC' AS atz",
    "SELECT extract(epoch FROM INTERVAL '90' SECOND) AS ie,"
    " epoch(INTERVAL '2' HOUR) AS eh",
    "SELECT time_bucket(INTERVAL '15' MINUTE,"
    " TIMESTAMP '2024-03-15 12:37:45') AS tb,"
    " time_bucket(INTERVAL '7' DAY, TIMESTAMP '2024-03-15 12:37:45') AS tw",
    "SELECT time_bucket(INTERVAL '1' DAY, DATE '2024-03-15') AS tbd,"
    " time_bucket(INTERVAL '3' MONTH, DATE '2024-05-15') AS tbq",
    "SELECT date_sub('month', DATE '2024-01-31', DATE '2024-02-29') AS ds,"
    " date_sub('month', DATE '2024-01-15', DATE '2024-02-14') AS d0,"
    " date_sub('month', DATE '2024-02-29', DATE '2024-01-31') AS dn,"
    " date_sub('year', DATE '2020-02-29', DATE '2024-02-29') AS dy",
    # r13 ADVICE: UNDERSHOOT class — later operand end-of-month
    # clamped but NOT the same day-of-month (Jan 30 + 1mo clamps to
    # Feb 29 = 1 complete month; months_between ~0.968 truncates to 0)
    "SELECT date_sub('month', DATE '2024-01-30', DATE '2024-02-29') AS u1,"
    " date_sub('month', DATE '2024-02-29', DATE '2024-01-30') AS u2,"
    " date_sub('month', DATE '2023-03-31', DATE '2023-04-30') AS u3,"
    " date_sub('month', DATE '2023-04-30', DATE '2023-03-31') AS u4,"
    " date_sub('quarter', DATE '2023-11-30', DATE '2024-02-29') AS uq,"
    " date_sub('year', DATE '2023-02-28', DATE '2024-02-29') AS uy",
    "SELECT date_sub('month', TIMESTAMP '2024-01-30 23:00:00',"
    " TIMESTAMP '2024-02-29 01:00:00') AS ut1,"
    " date_sub('month', TIMESTAMP '2024-02-29 01:00:00',"
    " TIMESTAMP '2024-01-30 23:00:00') AS ut2",
    "SELECT k, a BETWEEN [1,1] AND [1,3] AS v FROM probe_ctx ORDER BY k",
    "SELECT k, CASE WHEN a BETWEEN [1,1] AND [1,3] THEN 1 ELSE 0 END"
    " AS c FROM probe_ctx ORDER BY k",
    # --- r12 printf sweep: fmt/C float semantics (binary-value
    # rounding, %g zero-stripping, inf/nan spellings) via the
    # __duck_fmt1 kernel; int/string directives stay JVM ---
    "SELECT printf('%.2f', 1.005) AS a, printf('%.0f', 0.5) AS b,"
    " printf('%.0f', 1.5) AS c, printf('%f', 1.5) AS d",
    "SELECT printf('%e', 12345.678) AS a, printf('%g', 12345.678) AS b,"
    " printf('%g', 0.000012345) AS c",
    "SELECT printf('%f', 'inf'::DOUBLE) AS a,"
    " printf('%f', 'nan'::DOUBLE) AS b, printf('%f', '-inf'::DOUBLE) AS c",
    "SELECT printf('%f', 0.1) AS a, printf('%.17g', 0.1) AS b",
    "SELECT printf('%10.3f|%-10.3f|%05d|%x', 3.14159, 3.14159, 42, 255)"
    " AS mixed",
    "SELECT printf('%s=%g%%', 'r', 2.5) AS pct",
    "SELECT printf('%g', NULL::DOUBLE) AS n",
    "SELECT printf('%s', true) AS b, printf('%s', DATE '2024-01-01') AS d",
    # r13 review: extra args beyond directives (duck ignores), and the
    # %s DATE cast in the FLOAT-directive concat path
    "SELECT printf('hi', 5) AS a, printf('%d', 1, 2) AS b",
    "SELECT printf('%.1f %s', 1.5, DATE '2024-01-01') AS m",
    # r13 review: TIMESTAMPTZ cast TAILS take the inverse AT TIME ZONE
    # direction; ::TIMESTAMPTZ maps to the pinned-UTC naive timestamp
    "SELECT '2024-01-01 00:00:00+00'::TIMESTAMPTZ"
    " AT TIME ZONE 'Asia/Tokyo' AS t1,"
    " CAST('2024-01-01 00:00:00+00' AS TIMESTAMPTZ)"
    " AT TIME ZONE 'Asia/Tokyo' AS t2",
    "SELECT format('{:.2f}', 1.005) AS a, format('{:>6}', 'ab') AS b",
    "SELECT format('{} {:.1f}', 'x', 2.25) AS f2",
    # --- r13 bit/blob sweep: BIT strings emulate as 0/1-char STRINGs
    # (no BIT storage exists in our surface — literal ::BIT casts are
    # the only entry); bit_count masks to the DECLARED integer width;
    # repeat(BLOB, n) unrolls to byte-exact concat ---
    "SELECT get_bit('0101'::BIT, 0) AS g0, get_bit('0101'::BIT, 1) AS g1,"
    " get_bit('0101'::BIT, 3) AS g3",
    "SELECT set_bit('0101'::BIT, 0, 1)::VARCHAR AS s1,"
    " set_bit('0101'::BIT, 1, 0)::VARCHAR AS s2",
    "SELECT bit_count('0101'::BIT) AS bc, bit_count('1111'::BIT) AS b4,"
    " bit_length('0101'::BIT) AS bl, length('0101'::BIT) AS l,"
    " octet_length('0101'::BIT) AS ol",
    "SELECT '0101'::BIT::VARCHAR AS v, ('01'::BIT || '10'::BIT)::VARCHAR"
    " AS cat, bitstring('0101', 8)::VARCHAR AS bs",
    "SELECT '0101'::BIT = '0101'::BIT AS eq, '0101'::BIT < '011'::BIT"
    " AS lt",
    "SELECT bit_count(set_bit('0101'::BIT, 0, 1)) AS nested",
    "SELECT bit_count(-1::TINYINT) AS w8, bit_count(-1::SMALLINT) AS w16,"
    " bit_count(-1::INT) AS w32, bit_count(-1::BIGINT) AS w64,"
    " bit_count(-1) AS wdef, bit_count(5) AS pos",
    "SELECT repeat('ab'::BLOB, 2) AS brep, repeat('ab'::BLOB, 0) AS b0",
    # r13 continuation: bitwise operators over BIT operands (the one
    # residue of the bit/blob sweep) — __duck_bit_* kernels
    "SELECT '0101'::BIT & '0011'::BIT AS a, '0101'::BIT | '0011'::BIT"
    " AS o, xor('0101'::BIT, '0011'::BIT) AS x",
    "SELECT ~('0101'::BIT) AS n, ~ '01'::BIT AS n2",
    "SELECT '0101'::BIT << 2 >> 1 AS s1, '0101'::BIT << 4 AS s2,"
    " '0101'::BIT >> -2 AS s3, '0101'::BIT << NULL AS s4",
    "SELECT NULL::BIT & '01'::BIT AS a",
    "SELECT set_bit('0101'::BIT, 1, 1) & '0011'::BIT AS a,"
    " bitstring('0101', 8) | '00000001'::BIT AS o",
    "SELECT bit_count('0110'::BIT & '0010'::BIT) AS c,"
    " ('01'::BIT & '01'::BIT) = '01'::BIT AS e",
    "SELECT 5 & 3 AS a, 5 | 2 AS b, 5 << 1 AS c, xor(5, 3) AS d,"
    " ~5 AS e",
    # row() constructor comparisons: ROW was wrongly a bracket keyword
    # (r13) — the orphaned head wrapped the emitted CASE in struct()
    "SELECT row(1,'a') = row(1,'a') AS eq, row(1,'a') = row(2,'a') AS ne,"
    " row(1,NULL) = row(1,'a') AS n3vl",
    "SELECT row(1,'a') < row(1,'b') AS lt, row(2,'a') < row(1,'b') AS ge",
    "SELECT 1 AS k WHERE row(1,NULL) = row(1,NULL)",
    # --- r13 numeric→boolean coercion (duck: nonzero true, 0 false,
    # NULL passthrough; Spark raises DATATYPE_MISMATCH) — literal leg
    # plus the column leg via the schema pass; BETWEEN's AND and
    # simple-CASE WHEN arms must stay untouched ---
    "SELECT NOT 1 AS a, NOT 0 AS b, NOT -3 AS c, NOT 1.5 AS d",
    "SELECT (1 AND true) AS a, (0 OR false) AS b, (2 AND 3) AS c",
    "SELECT CASE WHEN 1 THEN 'a' ELSE 'b' END AS x,"
    " CASE WHEN 0 THEN 'a' ELSE 'b' END AS y",
    "SELECT 1 AS x WHERE 1",
    "SELECT if(2, 'a', 'b') AS x, if(0, 'a', 'b') AS y",
    "SELECT k, (a IS NOT NULL AND 1) AS v FROM probe_ctx ORDER BY k",
    "SELECT k FROM probe_ctx WHERE k BETWEEN 1 AND 2 ORDER BY k",
    "SELECT CASE 1 WHEN 0 THEN 'z' WHEN 1 THEN 'o' END AS sc",
    # review r13: a BETWEEN bound before a FOLLOWING conjunct must not
    # wrap; comments inside slots neither block the coercion nor ride
    # into the wrap; commented CASE..WHEN stays searched
    "SELECT k FROM probe_ctx WHERE k BETWEEN 1 AND 2 AND k > 0"
    " ORDER BY k",
    "SELECT k FROM probe_ctx WHERE k NOT BETWEEN 2 AND 3 AND 1"
    " ORDER BY k",
    "SELECT 1 AS x WHERE 1 -- note",
    "SELECT CASE /* c */ WHEN 1 THEN 2 ELSE 3 END AS x",
    # --- r13 continuation: STRING→boolean coercion (duck accepts
    # case-insensitive true/false/t/f/1/0 exactly — no trimming, no
    # yes/no — NULL passthrough) and EXPRESSION operands via the
    # analysis typer (`WHERE n + 1`, `HAVING count(*)`, scalar
    # subqueries, string concat) ---
    "SELECT NOT 'true' AS a, NOT 'F' AS b, NOT 'tRuE' AS c,"
    " NOT '0' AS d",
    "SELECT ('1' AND 't') AS a, ('f' OR 'false') AS b",
    "SELECT 1 AS x WHERE 'true'",
    "SELECT 1 AS x WHERE 'true' -- tail comment",
    "SELECT if('0', 'a', 'b') AS x, if('T', 'a', 'b') AS y",
    "SELECT CASE WHEN 'f' THEN 'a' ELSE 'b' END AS x",
    "SELECT k, NOT sv AS nv FROM probe_sbool ORDER BY k",
    "SELECT k FROM probe_sbool WHERE sv ORDER BY k",
    "SELECT k FROM probe_sbool WHERE sv AND n >= 0 ORDER BY k",
    "SELECT k FROM probe_sbool WHERE n + 1 ORDER BY k",
    "SELECT k FROM probe_sbool WHERE abs(n) ORDER BY k",
    "SELECT k FROM probe_sbool WHERE NOT (n + 1) ORDER BY k",
    "SELECT n FROM probe_sbool GROUP BY n HAVING count(*) - 1"
    " ORDER BY n",
    "SELECT 1 AS one WHERE (SELECT 4)",
    "SELECT 1 AS one WHERE 'tr' || 'ue'",
    "SELECT k FROM probe_sbool WHERE substr(sv, 1, 1) ORDER BY k",
    # backward EXPRESSION leg: the LEFT operand of AND/OR in SELECT-
    # list/paren contexts where no forward slot opens (r13 fuzz find)
    "SELECT k, (abs(n) AND sv) AS x FROM probe_sbool ORDER BY k",
    "SELECT k, (n + 1 OR k > 5) AS x FROM probe_sbool ORDER BY k",
    "SELECT k, (sv AND n) AS x FROM probe_sbool ORDER BY k",
    # --- r13 continuation: mixed-type set-op widening (duck widens
    # string+atomic to VARCHAR with its text rendering, bool+numeric
    # to the numeric; Spark coerced string→numeric or refused) ---
    "SELECT 1 AS x UNION ALL SELECT 'a'",
    "SELECT 1 AS x UNION ALL SELECT '7'",
    "SELECT 1 AS x UNION ALL SELECT true",
    "SELECT true AS x UNION ALL SELECT 1.5",
    "SELECT 'a' AS x UNION ALL SELECT true",
    "SELECT DATE '2024-01-01' AS x UNION ALL SELECT 'a'",
    "SELECT 1e20 AS x UNION ALL SELECT 'a'",
    "SELECT 1 AS x UNION ALL SELECT 'a' UNION ALL SELECT 2.5",
    "SELECT 1 AS x EXCEPT SELECT '1'",
    "SELECT 1 AS x UNION SELECT 'a' ORDER BY 1",
    "SELECT 'x' AS a, 1 AS b UNION ALL SELECT 2, 'y'",
    "WITH cmx AS (SELECT 1 AS v) SELECT v FROM cmx UNION ALL"
    " SELECT 'a'",
    "SELECT 1 AS x UNION ALL SELECT 'a' ORDER BY 1 LIMIT 2",
    "SELECT k FROM probe_sbool WHERE n > 0 UNION ALL SELECT 'end'"
    " ORDER BY 1",
    # pairwise-fold exactness (review r13): duck folds types LEFT-
    # ASSOC with INTERSECT binding tighter, so values widen stage-wise
    # before the string rendering — the tree-fold model must reproduce
    # '1.0','1.0','a' / '1.50','1.25' / REAL single-precision / the
    # bool→decimal scale
    "SELECT 1 AS x UNION ALL SELECT 1.0 UNION ALL SELECT 'a'",
    "SELECT 1.5 AS x UNION ALL SELECT 1.25 UNION ALL SELECT 'a'",
    "SELECT 1 AS x UNION SELECT 1.0 UNION SELECT 'a'",
    "SELECT 'a' AS x UNION ALL SELECT 1 INTERSECT SELECT 1.0",
    "SELECT CAST(0.1 AS REAL) AS x UNION ALL SELECT 3 UNION ALL"
    " SELECT 'a'",
    "SELECT true AS x UNION ALL SELECT 1.25 UNION ALL SELECT 'a'",
    "SELECT 100000 AS x UNION ALL SELECT 1.23456 UNION ALL SELECT 'a'",
    "SELECT DATE '2024-01-02' AS x UNION ALL"
    " SELECT TIMESTAMP '2024-01-01 10:00:00' UNION ALL SELECT 'a'",
    "SELECT 1 AS x INTERSECT ALL SELECT 1.0 UNION ALL SELECT 'a'",
    "SELECT k FROM probe_sbool WHERE n + 1 UNION ALL SELECT 99"
    " ORDER BY 1",
    # second-review pins: REAL notation classes, the 38-wide decimal
    # scale clamp, REAL-root numeric folds (Spark would widen to
    # DOUBLE), CTE-interior slots, tail aliases over later branches
    "SELECT CAST(0.0001 AS REAL) AS x UNION ALL SELECT 'a'",
    "SELECT CAST(1.1 AS DECIMAL(38,10)) AS x UNION ALL"
    " SELECT CAST(2.5 AS DECIMAL(38,2)) UNION ALL SELECT 'a'",
    "SELECT CAST(1.1 AS DECIMAL(38,37)) AS x UNION ALL"
    " SELECT CAST(2 AS DECIMAL(38,0)) UNION ALL SELECT 'a'",
    "SELECT CAST(0.1 AS REAL) AS x UNION ALL"
    " SELECT CAST(1.5 AS DECIMAL(5,2))",
    "SELECT CAST(0.1 AS REAL) AS x UNION ALL SELECT 3",
    "WITH cbx AS (SELECT k, n FROM probe_sbool WHERE n + 1)"
    " SELECT k FROM cbx WHERE n + 1 UNION ALL SELECT k FROM cbx"
    " WHERE n + 2 ORDER BY 1",
    "SELECT coalesce(n, -9) AS x FROM probe_sbool UNION ALL SELECT k"
    " FROM probe_sbool WHERE n + 1 ORDER BY x",
    # opaque composite EXPRESSIONS casting to VARCHAR render through
    # duck_varchar via the analysis typer (r13 continuation): slices,
    # coalesce heads, derived-table aliases outside the catalog
    "SELECT k, a[1:2]::VARCHAR AS v FROM probe_ctx ORDER BY k",
    "SELECT k, coalesce(a, b)::VARCHAR AS v FROM probe_ctx ORDER BY k",
    "SELECT x::VARCHAR AS v FROM (SELECT a AS x FROM probe_ctx"
    " WHERE k = 1) t2",
    # set-op widening recurses into derived tables / CTE bodies /
    # scalar subqueries (r13 continuation)
    "SELECT * FROM (SELECT 1 AS x UNION ALL SELECT 'a') t ORDER BY 1",
    "WITH cns AS (SELECT 1 AS v UNION ALL SELECT 'a') SELECT v"
    " FROM cns ORDER BY 1",
    "SELECT count(*) AS n FROM (SELECT 1 AS x UNION ALL SELECT 'a'"
    " UNION ALL SELECT 2.5) t",
    "WITH c1 AS (SELECT 1 AS v), d1 AS (SELECT v FROM c1 UNION ALL"
    " SELECT 'a') SELECT * FROM d1 ORDER BY 1",
    "SELECT (SELECT 1 UNION ALL SELECT 'a' LIMIT 1) AS v",
    # third-review pins: post-order recursion (a chained CTE's
    # widening changes its consumers' input types), WITH-merge probes
    "WITH c2 AS (SELECT 1 AS v UNION ALL SELECT 'a'), d2 AS"
    " (SELECT v FROM c2 UNION ALL SELECT 2) SELECT * FROM d2"
    " ORDER BY 1",
    "SELECT x FROM (SELECT 1 AS x UNION ALL SELECT 'a') t UNION ALL"
    " SELECT 2 ORDER BY 1",
    "WITH a2 AS (SELECT 1 AS y) SELECT * FROM (WITH cw AS"
    " (SELECT 2 AS z) SELECT z FROM cw UNION ALL SELECT 'a') t"
    " ORDER BY 1",
    # greatest/least mixed string/numeric LITERAL coercion (the r10
    # coercion-sweep known, closed r13: duck converts the string with
    # int-context half-away rounding; DATE siblings pull to DATE)
    "SELECT greatest('5', 10) AS a, least('5', 10) AS b,"
    " greatest('5.5', 2) AS c, least('1e2', 50) AS d",
    "SELECT greatest('5', NULL, 10) AS a, greatest('0x10', 3) AS b",
    "SELECT greatest('2024-01-05', DATE '2024-01-01') AS a",
    "SELECT greatest('5', 10, 2.5) AS a",
    "SELECT greatest('b', 'a') AS a, greatest(3, 7) AS b",
    # fourth-review pins: DOUBLE context rendering ('5.50' → 5.5, not
    # DECIMAL '5.50'), overflow-to-Infinity, nan/inf specials
    "SELECT greatest('5.50', 2.5) AS a, greatest('1e400', 2.5) AS b",
    "SELECT greatest('nan', 2.5) AS a, greatest('inf', 2.5) AS b",
    # same-typed controls must stay native
    "SELECT 1 AS x UNION ALL SELECT 2.5",
    "SELECT 'a' AS x UNION SELECT 'b' ORDER BY 1",
    # time_bucket DATE-typed EXPRESSION operands keep duck's DATE
    # return type through the hex-marker + analysis-typer leg (r13)
    "SELECT k, time_bucket(INTERVAL '7 days',"
    " greatest(dd, DATE '2024-03-16')) AS b FROM probe_sbool"
    " ORDER BY k",
    "SELECT k, time_bucket(INTERVAL '1 month', coalesce(dd, dd)) AS b"
    " FROM probe_sbool ORDER BY k",
    # --- r12 collation sweep: duck default binary UTF-8 order matched
    # Spark natively (18/18 ok) — pin a few as the regression net ---
    "SELECT x FROM (VALUES ('a'), ('B'), ('b'), ('A'), ('Z'), ('z'))"
    " t(x) ORDER BY x",
    "SELECT string_agg(x, ',' ORDER BY x) AS s FROM (VALUES ('b'),"
    " ('A'), ('é'), ('Z')) t(x)",
    "SELECT 'a\u0301' = 'á' AS nfdeq, 'a' < 'B' AS c1",
]


def test_composite_context_split_matches_duckdb(spark, oracle):
    """DuckDB 1.x evaluates composite =/<>/IN as sequential 3VL in
    VALUE positions but 2VL total-order on the FILTER path (probed
    r11); the compat passes must reproduce BOTH, including the
    schema-typed column leg that runs in the app's catalog-aware
    pass."""
    from duckdb_pgwire_spark.server.app import _hugeint_sums

    register_udfs(spark)
    for duck_setup, spark_setup in COMPOSITE_CONTEXT_SPLIT:
        oracle.execute(duck_setup)
        spark.sql(spark_setup)
    failures = []
    for sql in COMPOSITE_CONTEXT_QUERIES:
        duck = oracle.execute(sql).fetchall()
        rw = _hugeint_sums(spark, rewrite(sql))
        got = [tuple(r) for r in spark.sql(rw).collect()]
        want = sorted(_canon(r) for r in duck)
        have = sorted(_canon(tuple(r)) for r in got)
        if want != have:
            failures.append((sql, f"want {want!r} got {have!r}"))
    assert not failures, "\n".join(f"{s}\n    {m}" for s, m in failures)


def test_schema_rewrites_cross_table_clash_guard(spark):
    """A joined table's same-named column of a DIFFERENT type kind
    must not inherit another table's schema-gated rewrite (t1.v
    ARRAY<FLOAT> + t2.v DOUBLE: v drops out of f32/complex/double
    sets — review r11 second pass), while single-table statements
    keep rewriting."""
    from duckdb_pgwire_spark.server.app import _hugeint_sums

    spark.sql(
        "CREATE OR REPLACE TEMP VIEW clash_t1 AS"
        " SELECT 1 AS k, array(CAST(1.5 AS FLOAT)) AS v"
    )
    spark.sql(
        "CREATE OR REPLACE TEMP VIEW clash_t2 AS"
        " SELECT 1 AS k, CAST(2.7 AS DOUBLE) AS v"
    )
    joined = _hugeint_sums(
        spark,
        rewrite(
            "SELECT CAST(clash_t2.v AS VARCHAR) AS s,"
            " floor(clash_t2.v) AS f FROM clash_t1"
            " JOIN clash_t2 ON clash_t1.k = clash_t2.k"
        ),
    )
    assert "duck_varchar_f32" not in joined, joined
    single = _hugeint_sums(
        spark, rewrite("SELECT CAST(v AS VARCHAR) AS s FROM clash_t1")
    )
    assert "duck_varchar_f32" in single, single


# ---- ADVICE r11 regressions: nested case-fn rewrite, alphabetic
# ILIKE ESCAPE guard (both value-compared vs DuckDB) ----
ADVICE_R11_QUERIES = [
    # nested upper/lower must BOTH get the simple-mapping sandwich
    "SELECT upper(lower('İ')) AS a, lower(upper('ß')) AS b,"
    " upper(lower(upper('ﬁ'))) AS c",
    "SELECT upper(concat(lower('İ'), 'x')) AS a",
    # alphabetic ESCAPE char: the lowercase fold must NOT run (the
    # pattern body's escape pairs would shift case away from the
    # verbatim ESCAPE literal) — native ILIKE matches duck on ASCII
    "SELECT 'A%B' ILIKE 'aX%Xb' ESCAPE 'X' AS a,"
    " 'aXb' ILIKE 'aX%' ESCAPE 'X' AS b",
    # non-alphabetic escape keeps the unicode-correct fold
    "SELECT 'a_b' ILIKE 'A!_%' ESCAPE '!' AS a,"
    " 'İx' ILIKE 'i%' AS b",
]


def test_advice_r11_fixes_match_duckdb(spark, oracle):
    register_udfs(spark)
    failures = []
    for sql in ADVICE_R11_QUERIES:
        duck = oracle.execute(sql).fetchall()
        got = [tuple(r) for r in spark.sql(rewrite(sql)).collect()]
        want = sorted(_canon(r) for r in duck)
        have = sorted(_canon(tuple(r)) for r in got)
        if want != have:
            failures.append((sql, f"want {want!r} got {have!r}"))
    assert not failures, "\n".join(f"{s}\n    {m}" for s, m in failures)


def test_composite_3vl_reaches_insert_and_ctas(spark, oracle):
    """INSERT INTO … SELECT and CREATE TABLE AS SELECT bodies must get
    the composite-equality / projection-IN 3VL passes (ADVICE r11: the
    statement-head gate skipped them, persisting Spark-2VL values)."""
    register_udfs(spark)
    for s in ("comp_ins", "comp_ctas"):
        spark.sql(f"DROP TABLE IF EXISTS {s}")
        oracle.execute(f"DROP TABLE IF EXISTS {s}")
    body = (
        "SELECT [1,NULL] = [1,2] AS e, (1,NULL) = (1,NULL) AS s,"
        " 1 IN (SELECT NULL) AS i"
    )
    oracle.execute(
        "CREATE TABLE comp_ins(e BOOLEAN, s BOOLEAN, i BOOLEAN)"
    )
    oracle.execute(f"INSERT INTO comp_ins {body}")
    oracle.execute(f"CREATE TABLE comp_ctas AS {body}")
    spark.sql(
        "CREATE TABLE comp_ins(e BOOLEAN, s BOOLEAN, i BOOLEAN)"
        " USING parquet"
    )
    spark.sql(rewrite(f"INSERT INTO comp_ins {body}"))
    spark.sql(rewrite(f"CREATE TABLE comp_ctas USING parquet AS {body}"))
    try:
        for t in ("comp_ins", "comp_ctas"):
            want = sorted(
                _canon(tuple(r))
                for r in oracle.execute(f"SELECT * FROM {t}").fetchall()
            )
            have = sorted(
                _canon(tuple(r))
                for r in spark.sql(f"SELECT * FROM {t}").collect()
            )
            assert want == have, (t, want, have)
    finally:
        for s in ("comp_ins", "comp_ctas"):
            spark.sql(f"DROP TABLE IF EXISTS {s}")


def test_special_col_varchar_and_concat(spark, oracle):
    """r14: scalar DOUBLE/FLOAT/interval COLUMN casts to VARCHAR and
    literal-adjacent || concat operands render duck text (Spark gave
    Java '1.0E20', its own interval spelling, and errored on composite
    ||); user concat() args ride the same kernels via the lowered
    CAST(arg AS STRING) shape."""
    import tempfile

    from duckdb_pgwire_spark.server.app import _hugeint_sums

    register_udfs(spark)
    spark.sql("DROP TABLE IF EXISTS vccc")
    oracle.execute("DROP TABLE IF EXISTS vccc")
    oracle.execute(
        "CREATE TABLE vccc AS SELECT 1e20::DOUBLE big,"
        " 46977.5625::FLOAT r, INTERVAL 3 DAY iv, INTERVAL 14 MONTH ym,"
        " {'a':1} st, [1,2] arr"
    )
    loc = tempfile.mkdtemp(prefix="vccc_")
    spark.sql(
        "CREATE TABLE vccc(big DOUBLE, r FLOAT, iv INTERVAL DAY,"
        " ym INTERVAL MONTH, st STRUCT<a:INT>, arr ARRAY<INT>)"
        f" USING parquet LOCATION '{loc}/vccc'"
    )
    spark.sql(
        "INSERT INTO vccc SELECT CAST(1e20 AS DOUBLE),"
        " CAST(46977.5625 AS FLOAT), INTERVAL 3 DAY, INTERVAL 14 MONTH,"
        " named_struct('a',1), array(1,2)"
    )
    try:
        for q in [
            "SELECT big::VARCHAR AS a, r::VARCHAR AS b, iv::VARCHAR AS c,"
            " ym::VARCHAR AS d FROM vccc",
            "SELECT 'x' || big AS a, big || 'x' AS b, 'x' || arr AS c,"
            " 'x' || st AS d, 'x' || iv AS e, 'x' || ym AS f,"
            " 'x' || r AS g FROM vccc",
            "SELECT concat('x', big) AS a, concat('x', iv) AS b,"
            " concat('x', ym) AS c FROM vccc",
            "SELECT 'x' || big || 'y' AS a, arr || arr AS b FROM vccc",
        ]:
            want = [tuple(r) for r in oracle.execute(q).fetchall()]
            got = [
                tuple(r)
                for r in spark.sql(_hugeint_sums(spark, rewrite(q))).collect()
            ]
            assert [
                tuple(_canon(v, 1) for v in r) for r in want
            ] == [tuple(_canon(v, 1) for v in r) for r in got], (q, want, got)
    finally:
        spark.sql("DROP TABLE IF EXISTS vccc")
        oracle.execute("DROP TABLE IF EXISTS vccc")


def test_combined_fuzz_small(spark):
    """Reduced-trial wrapper of scripts/fuzz_combined.py (r14, VERDICT
    item 9): set-op widening × bool-coercion × composite 3VL × DML ×
    typed printf mixed in one statement shape, diffed vs DuckDB. The
    full ≥240-trial net runs standalone; this keeps the generator
    itself green per round. Seed fixed — failures reproduce."""
    import sys
    from pathlib import Path

    sys.path.insert(0, str(Path(__file__).resolve().parents[1] / "scripts"))
    import duckdb as _duck

    import fuzz_combined as fc

    register_udfs(spark)
    con = _duck.connect()
    fc.setup(spark, con)
    rng = __import__("random").Random(14)
    fails = []
    for _ in range(40):
        sql = fc.gen_select(rng)
        try:
            want = fc.canon(con.execute(sql).fetchall())
            derr = None
        except Exception as e:  # noqa: BLE001
            want, derr = None, str(e)[:120]
        try:
            have = fc.canon(
                [tuple(r) for r in fc.run_spark_select(spark, sql)]
            )
            serr = None
        except Exception as e:  # noqa: BLE001
            have, serr = None, str(e)[:120]
        if (derr is None) != (serr is None) or (
            derr is None and want != have
        ):
            fails.append((sql, derr or want, serr or have))
    for t in ("fz",):
        spark.sql(f"DROP TABLE IF EXISTS {t}")
        con.execute(f"DROP TABLE IF EXISTS {t}")
    assert not fails, fails[:5]


def test_dml_joint_scope_types_source_columns(spark, oracle):
    """r14 (VERDICT item 6): UPDATE…FROM gets the JOINT target+source
    typer scope. Target and source carry same-named columns of
    DIFFERENT complex types (the ctypes name-map drops them as
    ambiguous), so only the analysis typer can type the qualified
    source operand — previously these forms were refused a typer
    wholesale and Spark's native NULL-element comparison mutated the
    wrong rows (duck orders NULL elements GREATEST: [1,NULL] >= [1,2]
    is TRUE)."""
    register_udfs(spark)
    from duckdb_pgwire_spark.server.app import _hugeint_sums
    from duckdb_pgwire_spark.operators.dml import parse_update, update_from

    for s in ("jt14", "js14"):
        spark.sql(f"DROP TABLE IF EXISTS {s}")
        oracle.execute(f"DROP TABLE IF EXISTS {s}")
    spark.sql("CREATE TABLE jt14(id INT, k INT, a ARRAY<ARRAY<INT>>) USING parquet")
    spark.sql("CREATE TABLE js14(id INT, a ARRAY<INT>) USING parquet")
    oracle.execute("CREATE TABLE jt14(id INT, k INT, a INT[][])")
    oracle.execute("CREATE TABLE js14(id INT, a INT[])")
    ins_t = "INSERT INTO jt14 VALUES (1, 0, [[1]]), (2, 0, [[2]]), (3, 0, [[3]])"
    ins_s = "INSERT INTO js14 VALUES (1, [1,NULL]), (2, [1,1]), (3, [9])"
    for ins in (ins_t, ins_s):
        oracle.execute(ins)
        spark.sql(rewrite(ins))
    try:
        stmt = (
            "UPDATE jt14 SET k = 100 FROM js14"
            " WHERE jt14.id = js14.id AND js14.a >= [1,2]"
        )
        oracle.execute(stmt)
        typed = _hugeint_sums(spark, rewrite(stmt))
        parsed = parse_update(typed)
        assert parsed is not None
        table, assignments, pred, from_rel = parsed
        assert from_rel is not None
        update_from(spark, table, assignments, pred, from_rel)
        want = sorted(
            _canon(tuple(r))
            for r in oracle.execute("SELECT id, k FROM jt14").fetchall()
        )
        have = sorted(
            _canon(tuple(r))
            for r in spark.sql("SELECT id, k FROM jt14").collect()
        )
        assert want == have, (want, have)
    finally:
        for s in ("jt14", "js14"):
            spark.sql(f"DROP TABLE IF EXISTS {s}")
            oracle.execute(f"DROP TABLE IF EXISTS {s}")


def test_pipe_concat_string_column_adjacency(spark, oracle):
    """r15: a known STRING COLUMN adjacent to || stringifies the other
    operand exactly like a string literal — special-typed columns,
    f32 arithmetic, composites and interval literals all render duck
    text (previously only literal-adjacent shapes rewrote; s || big
    printed Java '1.0E20', s || arr failed analysis)."""
    from duckdb_pgwire_spark.server.app import _hugeint_sums

    register_udfs(spark)
    spark.sql("DROP TABLE IF EXISTS tz15")
    oracle.execute("DROP TABLE IF EXISTS tz15")
    spark.sql(
        "CREATE TABLE tz15(s STRING, big DOUBLE, f FLOAT,"
        " arr ARRAY<INT>, n INT) USING parquet"
    )
    oracle.execute(
        "CREATE TABLE tz15(s VARCHAR, big DOUBLE, f FLOAT,"
        " arr INT[], n INT)"
    )
    ins = (
        "INSERT INTO tz15 VALUES ('k', 1e20, CAST(0.1 AS FLOAT),"
        " [1,2], 7), (NULL, NULL, NULL, NULL, NULL)"
    )
    oracle.execute(ins)
    spark.sql(rewrite(ins))
    try:
        for q in [
            "SELECT s || big AS a FROM tz15",
            "SELECT big || s AS a FROM tz15",
            "SELECT s || arr AS a FROM tz15",
            "SELECT arr || s AS a FROM tz15",
            "SELECT s || f * 2 AS a FROM tz15",
            "SELECT big * 2 || s AS a FROM tz15",
            "SELECT s || INTERVAL 25 HOUR AS a FROM tz15",
            "SELECT INTERVAL '1 day' + INTERVAL '1 hour' || s AS a"
            " FROM tz15",
            "SELECT 'x' || s || big AS a FROM tz15",
            "SELECT s FROM tz15 WHERE s || big = 'k1e+20'",
            # r15: interval∪varchar set-op widening renders duck
            # interval text; literal arithmetic keeps duck's component
            # provenance via the fold ('2 days -26:00:00')
            "SELECT INTERVAL '2 days' - INTERVAL '26 hours' AS c"
            " UNION ALL SELECT s AS c FROM tz15",
            "SELECT INTERVAL 7 HOUR + INTERVAL 0 DAY AS c"
            " UNION ALL SELECT 'y' AS c",
            # r15: duck stringifies BOTH || operands unless both are
            # lists — no string side needed
            "SELECT big || f * 2 AS a FROM tz15",
            "SELECT big || n AS a FROM tz15",
            "SELECT n || big AS a FROM tz15",
            "SELECT arr || big AS a FROM tz15",
            "SELECT big || arr AS a FROM tz15",
            "SELECT arr || 2 AS a FROM tz15",
            "SELECT INTERVAL 25 HOUR || big AS a FROM tz15",
            # r15 (seed-14 find): duck's LIST||LIST SKIPS NULL
            # operands (NULL||[7] = [7]; all-NULL → NULL) and a chain
            # adjacent to a non-list operand stringifies the COMBINED
            # list — the all-array chain folds through a NULL-skipping
            # flatten
            "SELECT arr || arr AS a FROM tz15",
            "SELECT arr || [7] AS a FROM tz15",
            "SELECT [7] || arr AS a FROM tz15",
            "SELECT arr || arr || 'z' AS a FROM tz15",
            "SELECT arr || [7] || 'z' AS a FROM tz15",
            # r15: element-wise VARCHAR[] casts render duck text per
            # element via the ARRAY<STRING>-fed array kernels (needs
            # the app typer leg, so it lives in this test)
            "SELECT ([1e20, 1.5])::VARCHAR[] AS a FROM tz15",
            "SELECT CAST([1e20, NULL] AS VARCHAR[]) AS a FROM tz15",
            "SELECT ([INTERVAL 25 HOUR])::VARCHAR[] AS a FROM tz15",
            "SELECT ([INTERVAL 14 MONTH])::VARCHAR[] AS a FROM tz15",
            "SELECT ([0.25::FLOAT, 46977.5625::FLOAT])::VARCHAR[]"
            " AS a FROM tz15",
            "SELECT arr::VARCHAR[] AS a FROM tz15",
        ]:
            want = sorted(
                (_canon(tuple(r)) for r in oracle.execute(q).fetchall()),
                key=repr,
            )
            have = sorted(
                (
                    _canon(tuple(r))
                    for r in spark.sql(
                        _hugeint_sums(spark, rewrite(q))
                    ).collect()
                ),
                key=repr,
            )
            assert want == have, (q, want, have)
    finally:
        spark.sql("DROP TABLE IF EXISTS tz15")
        oracle.execute("DROP TABLE IF EXISTS tz15")


def test_dml_ambig_complex_qualified_types_via_typer(spark, oracle):
    """r15 (VERDICT item 7): a column name that is complex with
    DIFFERENT types across the joint DML scope used to be dropped from
    the ctypes map entirely, so a predicate where NEITHER comparison
    side is a constructor literal (qualified ambig column vs a
    complex-producing expression) stayed native — Spark's
    NULLs-smallest array order skipped rows duck's NULLs-greatest
    updates. The "ambig" marker now routes qualified references
    through the joint-scope analysis typer."""
    register_udfs(spark)
    from duckdb_pgwire_spark.server.app import _hugeint_sums
    from duckdb_pgwire_spark.operators.dml import parse_update, update_from

    for s in ("jt15", "js15"):
        spark.sql(f"DROP TABLE IF EXISTS {s}")
        oracle.execute(f"DROP TABLE IF EXISTS {s}")
    spark.sql("CREATE TABLE jt15(id INT, k INT, a ARRAY<INT>) USING parquet")
    spark.sql("CREATE TABLE js15(id INT, a ARRAY<STRING>) USING parquet")
    oracle.execute("CREATE TABLE jt15(id INT, k INT, a INT[])")
    oracle.execute("CREATE TABLE js15(id INT, a VARCHAR[])")
    ins_t = (
        "INSERT INTO jt15 VALUES (1, 0, [1,NULL]), (2, 0, [1,1]),"
        " (3, 0, [9])"
    )
    ins_s = "INSERT INTO js15 VALUES (1, ['x']), (2, ['y']), (3, ['z'])"
    for ins in (ins_t, ins_s):
        oracle.execute(ins)
        spark.sql(rewrite(ins))
    try:
        stmt = (
            "UPDATE jt15 SET k = 100 FROM js15"
            " WHERE jt15.id = js15.id AND"
            " jt15.a >= array_append(array_slice(jt15.a, 1, 1), 2)"
        )
        oracle.execute(stmt)  # duck: [1,NULL] >= [1,2] — NULL greatest
        typed = _hugeint_sums(spark, rewrite(stmt))
        parsed = parse_update(typed)
        assert parsed is not None
        table, assignments, pred, from_rel = parsed
        assert from_rel is not None
        update_from(spark, table, assignments, pred, from_rel)
        want = sorted(
            _canon(tuple(r))
            for r in oracle.execute("SELECT id, k FROM jt15").fetchall()
        )
        have = sorted(
            _canon(tuple(r))
            for r in spark.sql("SELECT id, k FROM jt15").collect()
        )
        assert want == have, (want, have)
    finally:
        for s in ("jt15", "js15"):
            spark.sql(f"DROP TABLE IF EXISTS {s}")
            oracle.execute(f"DROP TABLE IF EXISTS {s}")


def test_casefold_pua_sentinel_guard(spark, oracle):
    """User text containing the casefold sandwich's private-use
    sentinel codepoints must survive upper/lower/ILIKE unchanged
    (r11 documented residue; r12 guard routes such rows to the exact
    per-codepoint Python fallback)."""
    register_udfs(spark)
    pua_u, pua_l = chr(0xE005), chr(0xE105)
    failures = []
    for sql in [
        f"SELECT upper('a{pua_u}z') AS u, lower('B{pua_l}Y') AS l",
        f"SELECT upper('{pua_u}ß{pua_u}') AS v",
        f"SELECT lower('{pua_l}İ') AS v",
        f"SELECT 'x{pua_u}' ILIKE 'X{pua_u}' AS i",
    ]:
        duck = oracle.execute(sql).fetchall()
        got = [tuple(r) for r in spark.sql(rewrite(sql)).collect()]
        want = sorted(_canon(r) for r in duck)
        have = sorted(_canon(tuple(r)) for r in got)
        if want != have:
            failures.append((ascii(sql), f"want {want!r} got {have!r}"))
    assert not failures, "\n".join(f"{s}\n    {m}" for s, m in failures)


def test_composite_ord_reaches_update_delete_where(spark, oracle):
    """UPDATE/DELETE WHERE with composite ordering predicates must use
    duck's NULLs-greatest filter order (review r12: the head gate
    skipped them and Spark's NULLs-smallest order MUTATED the wrong
    rows); paren-wrapped CTAS/INSERT bodies must get the 3VL passes."""
    register_udfs(spark)
    for s in ("ordw", "ordd", "comp_pw"):
        spark.sql(f"DROP TABLE IF EXISTS {s}")
        oracle.execute(f"DROP TABLE IF EXISTS {s}")
    for ddl in (
        "CREATE TABLE ordw(k INT, a ARRAY<INT>) USING parquet",
        "CREATE TABLE ordd(k INT, a ARRAY<INT>) USING parquet",
    ):
        spark.sql(ddl)
    oracle.execute("CREATE TABLE ordw(k INT, a INT[])")
    oracle.execute("CREATE TABLE ordd(k INT, a INT[])")
    ins = "INSERT INTO {t} VALUES (1, [1,NULL]), (2, [1,1]), (3, [9])"
    for t in ("ordw", "ordd"):
        oracle.execute(ins.format(t=t))
        spark.sql(rewrite(ins.format(t=t)))
    try:
        oracle.execute("UPDATE ordw SET k = 100 WHERE a < [1,2]")
        from duckdb_pgwire_spark.operators.dml import parse_update, update_table

        upd = rewrite("UPDATE ordw SET k = 100 WHERE a < [1,2]")
        table, assignments, pred, _ = parse_update(upd)
        update_table(spark, table, assignments, pred)
        want = sorted(_canon(tuple(r)) for r in oracle.execute(
            "SELECT k FROM ordw").fetchall())
        have = sorted(_canon(tuple(r)) for r in spark.sql(
            "SELECT k FROM ordw").collect())
        assert want == have, (want, have)

        oracle.execute("DELETE FROM ordd WHERE a >= [1,2]")
        from duckdb_pgwire_spark.operators.dml import delete_from, parse_delete

        dl = rewrite("DELETE FROM ordd WHERE a >= [1,2]")
        tbl, pred2, _using = parse_delete(dl)
        delete_from(spark, tbl, pred2)
        want = sorted(_canon(tuple(r)) for r in oracle.execute(
            "SELECT k FROM ordd").fetchall())
        have = sorted(_canon(tuple(r)) for r in spark.sql(
            "SELECT k FROM ordd").collect())
        assert want == have, (want, have)

        # paren-wrapped CTAS body gets the composite 3VL passes
        oracle.execute(
            "CREATE TABLE comp_pw AS (SELECT [1,NULL] = [1,2] AS e)"
        )
        spark.sql(rewrite(
            "CREATE TABLE comp_pw USING parquet AS (SELECT [1,NULL] = [1,2] AS e)"
        ))
        want = [tuple(r) for r in oracle.execute("SELECT * FROM comp_pw").fetchall()]
        have = [tuple(r) for r in spark.sql("SELECT * FROM comp_pw").collect()]
        assert want == have, (want, have)
    finally:
        for s in ("ordw", "ordd", "comp_pw"):
            spark.sql(f"DROP TABLE IF EXISTS {s}")


def test_f32_column_comparison_promotion(spark, oracle):
    """FLOAT COLUMN comparison positions (r16, VERDICT item 1): duck
    evaluates `f * 2 > 0.3` in float32 and promotes int/decimal/
    string comparison sides to FLOAT (0.3::FLOAT = 0.3 is TRUE there);
    Spark widens to DOUBLE, flipping row membership on boundary
    values. The schema-aware leg narrows per-op and converts decimal
    sides via duck's float32(unscaled)/float32(10^scale) model.
    The full census/fuzz net is scripts/fuzz_f32_cmp.py."""
    register_udfs(spark)
    from duckdb_pgwire_spark.server.app import _hugeint_sums

    import tempfile

    spark.sql("DROP TABLE IF EXISTS f32cmp")
    oracle.execute("DROP TABLE IF EXISTS f32cmp")
    loc = tempfile.mkdtemp(prefix="f32cmp_")
    spark.sql(
        "CREATE TABLE f32cmp(id INT, f FLOAT, i INT, n DECIMAL(18,4),"
        f" d DOUBLE) USING parquet LOCATION '{loc}/t'"
    )
    oracle.execute(
        "CREATE TABLE f32cmp(id INT, f FLOAT, i INT, n DECIMAL(18,4),"
        " d DOUBLE)"
    )
    ins = (
        "INSERT INTO f32cmp VALUES"
        " (1, CAST(0.3 AS FLOAT), 1, 0.3000, 0.3),"
        " (2, CAST(0.1 AS FLOAT), 16777217, 33554434.0000, 0.1),"
        " (3, CAST(16777216 AS FLOAT), 2, 0.6000, 16777216.0),"
        " (4, CAST(0.15 AS FLOAT), -5, 2.5000, 0.15),"
        " (5, NULL, 0, NULL, NULL)"
    )
    oracle.execute(ins)
    spark.sql(rewrite(ins))
    probes = [
        "SELECT id FROM f32cmp WHERE f = 0.3",
        "SELECT id FROM f32cmp WHERE f * 2 > 0.6",
        "SELECT id FROM f32cmp WHERE f * 2 <= 0.6",
        "SELECT id FROM f32cmp WHERE f = 16777217",
        "SELECT id FROM f32cmp WHERE f = i",
        "SELECT id FROM f32cmp WHERE f * 2 = n",
        "SELECT id FROM f32cmp WHERE f > d",
        "SELECT id FROM f32cmp WHERE f BETWEEN 0.1 AND 0.3",
        "SELECT id FROM f32cmp WHERE f IN (0.1, 0.3)",
        "SELECT id FROM f32cmp WHERE -f * 2 = -0.6",
    ]
    try:
        for q in probes:
            want = sorted(r[0] for r in oracle.execute(q).fetchall())
            have = sorted(
                r[0]
                for r in spark.sql(_hugeint_sums(spark, rewrite(q))).collect()
            )
            assert want == have, (q, want, have)
    finally:
        spark.sql("DROP TABLE IF EXISTS f32cmp")
        oracle.execute("DROP TABLE IF EXISTS f32cmp")


def test_tsdiff_interval_provenance_columns(spark, oracle):
    """Column-valued `ts1 - ts2 ± INTERVAL literal` renders duck's
    unnormalized components via the provenance kernel (r16, VERDICT
    item 3): the subtraction's canonical 24h split is recovered from
    Spark's single-micros value, the literal components re-added
    WITHOUT renormalizing. Interval COLUMN heads (no derivable
    provenance) stay the documented opaque remainder."""
    register_udfs(spark)
    from duckdb_pgwire_spark.server.app import _hugeint_sums

    import tempfile

    spark.sql("DROP TABLE IF EXISTS ivprov")
    oracle.execute("DROP TABLE IF EXISTS ivprov")
    loc = tempfile.mkdtemp(prefix="ivprov_")
    spark.sql(
        "CREATE TABLE ivprov(id INT, t1 TIMESTAMP, t2 TIMESTAMP)"
        f" USING parquet LOCATION '{loc}/t'"
    )
    oracle.execute("CREATE TABLE ivprov(id INT, t1 TIMESTAMP, t2 TIMESTAMP)")
    ins = (
        "INSERT INTO ivprov VALUES"
        " (1, TIMESTAMP '2024-01-05 03:00:00',"
        "  TIMESTAMP '2024-01-02 01:00:00'),"
        " (2, TIMESTAMP '2024-01-02 01:00:00',"
        "  TIMESTAMP '2024-01-05 03:00:00'),"
        " (3, TIMESTAMP '2024-01-02 23:00:00',"
        "  TIMESTAMP '2024-01-02 01:00:00'),"
        " (4, NULL, TIMESTAMP '2024-01-01 00:00:00')"
    )
    oracle.execute(ins)
    spark.sql(rewrite(ins))
    probes = [
        "SELECT id, (t1 - t2 + INTERVAL 25 HOUR)::VARCHAR AS v"
        " FROM ivprov ORDER BY id",
        "SELECT id, (t1 - t2 - INTERVAL 5 HOUR)::VARCHAR AS v"
        " FROM ivprov ORDER BY id",
        "SELECT id, (INTERVAL 30 HOUR + (t1 - t2))::VARCHAR AS v"
        " FROM ivprov ORDER BY id",
        "SELECT id, (t1 - t2 + INTERVAL 2 HOUR - INTERVAL '1 day')"
        "::VARCHAR AS v FROM ivprov ORDER BY id",
    ]
    try:
        for q in probes:
            want = [
                tuple(str(x) for x in r)
                for r in oracle.execute(q).fetchall()
            ]
            have = [
                tuple(str(x) for x in r)
                for r in spark.sql(_hugeint_sums(spark, rewrite(q))).collect()
            ]
            assert want == have, (q, want, have)
    finally:
        spark.sql("DROP TABLE IF EXISTS ivprov")
        oracle.execute("DROP TABLE IF EXISTS ivprov")


def test_f32_grouped_statements_match_duckdb(spark, oracle, tmp_path):
    """r17 (ADVICE item 1): f32 narrowing in select items / HAVING must
    mirror onto the GROUP BY (and grouped ORDER BY) expressions — the
    half-narrowed form raised MISSING_AGGREGATION / UNRESOLVED_COLUMN
    on previously-valid grouped FLOAT queries. Values must also match
    duck, which groups on the FLOAT-rounded key."""
    from duckdb_pgwire_spark.server.app import _hugeint_sums

    register_udfs(spark)
    spark.sql("DROP TABLE IF EXISTS f32g")
    oracle.execute("DROP TABLE IF EXISTS f32g")
    spark.sql(
        "CREATE TABLE f32g(f FLOAT, g INT) USING parquet"
        f" LOCATION '{tmp_path}/f32g'"
    )
    oracle.execute("CREATE TABLE f32g(f FLOAT, g INT)")
    ins = (
        "INSERT INTO f32g VALUES (CAST(0.1 AS FLOAT), 1),"
        " (CAST(0.1 AS FLOAT), 2), (CAST(0.3 AS FLOAT), 1),"
        " (CAST(16777216 AS FLOAT), 2), (NULL, 1)"
    )
    oracle.execute(ins)
    spark.sql(rewrite(ins))
    probes = [
        "SELECT f * 2 AS v FROM f32g GROUP BY f * 2 ORDER BY v",
        "SELECT f * 2 AS v, count(*) AS c FROM f32g"
        " GROUP BY f * 2 HAVING f * 2 > 0.15 ORDER BY v",
        "SELECT f * 2 AS v FROM f32g GROUP BY f*2 ORDER BY f * 2 DESC",
        "SELECT f + g AS v, count(*) AS c FROM f32g"
        " GROUP BY f + g ORDER BY v, c",
        "SELECT f * 2 AS v, g, count(*) AS c FROM f32g"
        " GROUP BY GROUPING SETS ((f * 2, g), (g)) ORDER BY v, g, c",
        "SELECT f * 3 AS v FROM f32g GROUP BY 1 ORDER BY v",
        "SELECT f * 3 AS v FROM f32g GROUP BY v ORDER BY v",
        # ungrouped narrowing unaffected
        "SELECT f * 2 AS v FROM f32g WHERE f * 2 > 0.15 ORDER BY v",
    ]
    try:
        for q in probes:
            want = sorted(
                (_canon(tuple(r)) for r in oracle.execute(q).fetchall()),
                key=repr,
            )
            have = sorted(
                (
                    _canon(tuple(r))
                    for r in spark.sql(
                        _hugeint_sums(spark, rewrite(q))
                    ).collect()
                ),
                key=repr,
            )
            assert want == have, (q, want, have)
    finally:
        spark.sql("DROP TABLE IF EXISTS f32g")
        oracle.execute("DROP TABLE IF EXISTS f32g")


def test_f32_high_precision_decimal_no_overflow(spark, oracle, tmp_path):
    """r17 (ADVICE item 2): the f32-of-DECIMAL emission used
    `(expr) * 10^scale`, which overflows Spark's DECIMAL(38) ceiling on
    high-precision columns and yields NULL (non-ANSI) where duck has a
    finite float — silent row-membership divergence. The unscaled value
    now routes through the decimal's exact STRING render."""
    from duckdb_pgwire_spark.server.app import _hugeint_sums

    register_udfs(spark)
    spark.sql("DROP TABLE IF EXISTS decf")
    oracle.execute("DROP TABLE IF EXISTS decf")
    spark.sql(
        "CREATE TABLE decf(d DECIMAL(38,10), e DECIMAL(20,4), f FLOAT)"
        f" USING parquet LOCATION '{tmp_path}/decf'"
    )
    oracle.execute("CREATE TABLE decf(d DECIMAL(38,10), e DECIMAL(20,4), f FLOAT)")
    ins = (
        "INSERT INTO decf VALUES"
        " (12345678901234567890123456.7890123456, 33554434.0000,"
        "  CAST(0.1 AS FLOAT)),"
        " (99999999999999999999999999.9999999999, 0.3000,"
        "  CAST(0.3 AS FLOAT)),"
        " (-0.0000000001, -123.4500, CAST(16777216 AS FLOAT)),"
        " (NULL, NULL, NULL)"
    )
    oracle.execute(ins)
    spark.sql(rewrite(ins))
    probes = [
        "SELECT f, d FROM decf WHERE f < d",
        "SELECT f, e FROM decf WHERE f = e OR f < e",
        "SELECT (f < d) AS a, (f = e) AS b, (e > f) AS c FROM decf",
        "SELECT f FROM decf WHERE f BETWEEN e AND d",
        "SELECT (e = 33554434.0000) AS x, (f*2 > e) AS y FROM decf",
    ]
    try:
        for q in probes:
            want = sorted(
                (_canon(tuple(r)) for r in oracle.execute(q).fetchall()),
                key=repr,
            )
            have = sorted(
                (
                    _canon(tuple(r))
                    for r in spark.sql(
                        _hugeint_sums(spark, rewrite(q))
                    ).collect()
                ),
                key=repr,
            )
            assert want == have, (q, want, have)
    finally:
        spark.sql("DROP TABLE IF EXISTS decf")
        oracle.execute("DROP TABLE IF EXISTS decf")


def test_f32_function_tier_matches_duckdb(spark, oracle, tmp_path):
    """r17 (VERDICT item 2): the probed f32 pass-through set extends
    beyond {min,max,first,last,any_value,abs,sum,avg,coalesce} —
    round/trunc/ceil/floor(FLOAT) keep FLOAT (trunc arrives as the
    dialect pass's CASE template and is recognized structurally),
    lag/lead/nth_value/first_value/last_value keep the argument type
    with the lag/lead DEFAULT cast to the value's FLOAT, and
    greatest/least widen every operand to DOUBLE (f32 arithmetic
    inside operands narrows first). The full census/fuzz net is
    scripts/fuzz_f32_cmp.py."""
    from duckdb_pgwire_spark.server.app import _hugeint_sums

    register_udfs(spark)
    spark.sql("DROP TABLE IF EXISTS f32fn")
    oracle.execute("DROP TABLE IF EXISTS f32fn")
    spark.sql(
        "CREATE TABLE f32fn(id INT, f FLOAT, g FLOAT, i INT)"
        f" USING parquet LOCATION '{tmp_path}/f32fn'"
    )
    oracle.execute("CREATE TABLE f32fn(id INT, f FLOAT, g FLOAT, i INT)")
    ins = (
        "INSERT INTO f32fn VALUES"
        " (1, CAST(0.15 AS FLOAT), CAST(0.3 AS FLOAT), 1),"
        " (2, CAST(-2.5 AS FLOAT), CAST(0.7 AS FLOAT), 16777217),"
        " (3, CAST(16777215 AS FLOAT), CAST(-0.2 AS FLOAT), 3),"
        " (4, CAST(123456.789 AS FLOAT), CAST(2.675 AS FLOAT), -5),"
        " (5, NULL, CAST(1.005 AS FLOAT), 0)"
    )
    oracle.execute(ins)
    spark.sql(rewrite(ins))
    probes = [
        # round keeps FLOAT; signed zero of negative→0 rounds kept
        "SELECT id, round(f, 1) AS v FROM f32fn",
        "SELECT id, round(f * 2, 2) AS v FROM f32fn",
        "SELECT id, round(g) AS v FROM f32fn",
        "SELECT id FROM f32fn WHERE round(f * 2, 1) > 0.3",
        # trunc/ceil/floor: FLOAT-typed, f32 math inside
        "SELECT id, trunc(f) AS v FROM f32fn",
        "SELECT id, trunc(f * 3) AS v FROM f32fn",
        "SELECT id, ceil(f) * 3 AS v FROM f32fn",
        "SELECT id, floor(f * 2) AS v FROM f32fn",
        "SELECT id FROM f32fn WHERE trunc(f * 3) = 50331644",
        # greatest/least widen to DOUBLE; operands narrow first
        "SELECT id, greatest(f * 3, g) AS v FROM f32fn",
        "SELECT id, least(f, g * 7) AS v FROM f32fn",
        "SELECT id, greatest(f, i) AS v FROM f32fn",
        "SELECT id FROM f32fn WHERE greatest(f * 3, g) > 0.45",
        # window value functions keep FLOAT; defaults narrow
        "SELECT id, lag(f * 2) OVER (ORDER BY id) AS v FROM f32fn",
        "SELECT id, lag(f, 1, 0.123) OVER (ORDER BY id) AS v"
        " FROM f32fn",
        "SELECT id, lead(f * 3, 1, g) OVER (ORDER BY id) AS v"
        " FROM f32fn",
        "SELECT id, nth_value(f * 2, 3) OVER (ORDER BY id ROWS"
        " BETWEEN UNBOUNDED PRECEDING AND UNBOUNDED FOLLOWING) AS v"
        " FROM f32fn",
        "SELECT id, first_value(f * 3) OVER (ORDER BY id) AS v"
        " FROM f32fn",
        "SELECT id, last_value(f * 2) OVER (ORDER BY id) AS v"
        " FROM f32fn",
        "SELECT id, lag(trunc(f * 3)) OVER (ORDER BY id) AS v"
        " FROM f32fn",
    ]
    try:
        for q in probes:
            want = sorted(
                (_canon(tuple(r)) for r in oracle.execute(q).fetchall()),
                key=repr,
            )
            have = sorted(
                (
                    _canon(tuple(r))
                    for r in spark.sql(
                        _hugeint_sums(spark, rewrite(q))
                    ).collect()
                ),
                key=repr,
            )
            assert want == have, (q, want, have)
    finally:
        spark.sql("DROP TABLE IF EXISTS f32fn")
        oracle.execute("DROP TABLE IF EXISTS f32fn")
