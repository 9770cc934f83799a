"""Duck-simple-case emulation tables (generated r11).

DuckDB's upper()/lower() use the Unicode SIMPLE (1:1) case mapping
(utf8proc); Java's String.toUpperCase — what Spark's upper() compiles
to — applies the FULL mapping with expansions (SpecialCasing.txt:
\u00df→SS, ligatures→FI/FL, Greek iota subscripts→…Ι) and the
context-sensitive final sigma. The tables below are every BMP+SMP
codepoint where the two disagree, generated by querying duckdb
1.0.0 directly; duck's answer is always a SINGLE char,
so a translate() sandwich reproduces it JVM-side with no UDF:

    translate(upper(translate(x, SRC, SENTINELS)), SENTINELS, DST)

The sentinels are BMP private-use chars (U+E000/U+E100 blocks) —
caseless, so upper/lower pass them through. Residue: user text that
itself contains those PUA codepoints would collide (documented,
NOTES r11)."""

import re

UPPER_SRC = "\u00df\u0149\u01f0\u0390\u03b0\u0587\u1e96\u1e97\u1e98\u1e99\u1e9a\u1f50\u1f52\u1f54\u1f56\u1f80\u1f81\u1f82\u1f83\u1f84\u1f85\u1f86\u1f87\u1f88\u1f89\u1f8a\u1f8b\u1f8c\u1f8d\u1f8e\u1f8f\u1f90\u1f91\u1f92\u1f93\u1f94\u1f95\u1f96\u1f97\u1f98\u1f99\u1f9a\u1f9b\u1f9c\u1f9d\u1f9e\u1f9f\u1fa0\u1fa1\u1fa2\u1fa3\u1fa4\u1fa5\u1fa6\u1fa7\u1fa8\u1fa9\u1faa\u1fab\u1fac\u1fad\u1fae\u1faf\u1fb2\u1fb3\u1fb4\u1fb6\u1fb7\u1fbc\u1fc2\u1fc3\u1fc4\u1fc6\u1fc7\u1fcc\u1fd2\u1fd3\u1fd6\u1fd7\u1fe2\u1fe3\u1fe4\u1fe6\u1fe7\u1ff2\u1ff3\u1ff4\u1ff6\u1ff7\u1ffc\u2c5f\ua7c1\ua7c8\ua7ca\ua7d1\ua7d7\ua7d9\ua7f6\ufb00\ufb01\ufb02\ufb03\ufb04\ufb05\ufb06\ufb13\ufb14\ufb15\ufb16\ufb17\U00010597\U00010598\U00010599\U0001059a\U0001059b\U0001059c\U0001059d\U0001059e\U0001059f\U000105a0\U000105a1\U000105a3\U000105a4\U000105a5\U000105a6\U000105a7\U000105a8\U000105a9\U000105aa\U000105ab\U000105ac\U000105ad\U000105ae\U000105af\U000105b0\U000105b1\U000105b3\U000105b4\U000105b5\U000105b6\U000105b7\U000105b8\U000105b9\U000105bb\U000105bc"
UPPER_SENT = "\ue000\ue001\ue002\ue003\ue004\ue005\ue006\ue007\ue008\ue009\ue00a\ue00b\ue00c\ue00d\ue00e\ue00f\ue010\ue011\ue012\ue013\ue014\ue015\ue016\ue017\ue018\ue019\ue01a\ue01b\ue01c\ue01d\ue01e\ue01f\ue020\ue021\ue022\ue023\ue024\ue025\ue026\ue027\ue028\ue029\ue02a\ue02b\ue02c\ue02d\ue02e\ue02f\ue030\ue031\ue032\ue033\ue034\ue035\ue036\ue037\ue038\ue039\ue03a\ue03b\ue03c\ue03d\ue03e\ue03f\ue040\ue041\ue042\ue043\ue044\ue045\ue046\ue047\ue048\ue049\ue04a\ue04b\ue04c\ue04d\ue04e\ue04f\ue050\ue051\ue052\ue053\ue054\ue055\ue056\ue057\ue058\ue059\ue05a\ue05b\ue05c\ue05d\ue05e\ue05f\ue060\ue061\ue062\ue063\ue064\ue065\ue066\ue067\ue068\ue069\ue06a\ue06b\ue06c\ue06d\ue06e\ue06f\ue070\ue071\ue072\ue073\ue074\ue075\ue076\ue077\ue078\ue079\ue07a\ue07b\ue07c\ue07d\ue07e\ue07f\ue080\ue081\ue082\ue083\ue084\ue085\ue086\ue087\ue088\ue089\ue08a\ue08b\ue08c\ue08d\ue08e\ue08f\ue090"
UPPER_DST = "\u1e9e\u0149\u01f0\u0390\u03b0\u0587\u1e96\u1e97\u1e98\u1e99\u1e9a\u1f50\u1f52\u1f54\u1f56\u1f88\u1f89\u1f8a\u1f8b\u1f8c\u1f8d\u1f8e\u1f8f\u1f88\u1f89\u1f8a\u1f8b\u1f8c\u1f8d\u1f8e\u1f8f\u1f98\u1f99\u1f9a\u1f9b\u1f9c\u1f9d\u1f9e\u1f9f\u1f98\u1f99\u1f9a\u1f9b\u1f9c\u1f9d\u1f9e\u1f9f\u1fa8\u1fa9\u1faa\u1fab\u1fac\u1fad\u1fae\u1faf\u1fa8\u1fa9\u1faa\u1fab\u1fac\u1fad\u1fae\u1faf\u1fb2\u1fbc\u1fb4\u1fb6\u1fb7\u1fbc\u1fc2\u1fcc\u1fc4\u1fc6\u1fc7\u1fcc\u1fd2\u1fd3\u1fd6\u1fd7\u1fe2\u1fe3\u1fe4\u1fe6\u1fe7\u1ff2\u1ffc\u1ff4\u1ff6\u1ff7\u1ffc\u2c5f\ua7c1\ua7c8\ua7ca\ua7d1\ua7d7\ua7d9\ua7f6\ufb00\ufb01\ufb02\ufb03\ufb04\ufb05\ufb06\ufb13\ufb14\ufb15\ufb16\ufb17\U00010597\U00010598\U00010599\U0001059a\U0001059b\U0001059c\U0001059d\U0001059e\U0001059f\U000105a0\U000105a1\U000105a3\U000105a4\U000105a5\U000105a6\U000105a7\U000105a8\U000105a9\U000105aa\U000105ab\U000105ac\U000105ad\U000105ae\U000105af\U000105b0\U000105b1\U000105b3\U000105b4\U000105b5\U000105b6\U000105b7\U000105b8\U000105b9\U000105bb\U000105bc"

LOWER_SRC = "\u0130\u2c2f\ua7c0\ua7c7\ua7c9\ua7d0\ua7d6\ua7d8\ua7f5\U00010570\U00010571\U00010572\U00010573\U00010574\U00010575\U00010576\U00010577\U00010578\U00010579\U0001057a\U0001057c\U0001057d\U0001057e\U0001057f\U00010580\U00010581\U00010582\U00010583\U00010584\U00010585\U00010586\U00010587\U00010588\U00010589\U0001058a\U0001058c\U0001058d\U0001058e\U0001058f\U00010590\U00010591\U00010592\U00010594\U00010595\u03a3"
LOWER_SENT = "\ue100\ue101\ue102\ue103\ue104\ue105\ue106\ue107\ue108\ue109\ue10a\ue10b\ue10c\ue10d\ue10e\ue10f\ue110\ue111\ue112\ue113\ue114\ue115\ue116\ue117\ue118\ue119\ue11a\ue11b\ue11c\ue11d\ue11e\ue11f\ue120\ue121\ue122\ue123\ue124\ue125\ue126\ue127\ue128\ue129\ue12a\ue12b\ue12c"
LOWER_DST = "\u0069\u2c2f\ua7c0\ua7c7\ua7c9\ua7d0\ua7d6\ua7d8\ua7f5\U00010570\U00010571\U00010572\U00010573\U00010574\U00010575\U00010576\U00010577\U00010578\U00010579\U0001057a\U0001057c\U0001057d\U0001057e\U0001057f\U00010580\U00010581\U00010582\U00010583\U00010584\U00010585\U00010586\U00010587\U00010588\U00010589\U0001058a\U0001058c\U0001058d\U0001058e\U0001058f\U00010590\U00010591\U00010592\U00010594\U00010595\u03c3"


def wrap_case_call(fn: str, arg: str) -> str:
    """upper/lower call with duck's simple-mapping semantics, all in
    JVM expressions (no Python UDF, so a plan over a resident copy
    still folds). Input that itself contains the sandwich's
    private-use sentinel chars would corrupt through the translate
    round trip (the r11 documented residue) — such rows take a
    per-codepoint branch instead: each code point goes through the
    sandwich on its own, sentinels pass unchanged (they are caseless).
    That is the simple mapping too, since every code point whose
    Java mapping is not its 1:1 simple one is in the tables. Known
    costs (review r12, accepted): the argument text is embedded twice
    (probe + chosen branch) — free for columns, 2x for expensive
    subexpressions, and a NONDETERMINISTIC argument could be probed on
    one value and folded on another; nested upper(lower(…)) grows the
    emitted SQL ~3x per level, fine for human-written nesting depths."""
    if fn == "upper":
        src, sent, dst = UPPER_SRC, UPPER_SENT, UPPER_DST
    else:
        src, sent, dst = LOWER_SRC, LOWER_SENT, LOWER_DST
    def q(s: str) -> str:
        return "'" + s.replace("'", "''") + "'"

    def sandwich(x: str) -> str:
        return f"translate({fn}(translate({x}, {q(src)}, {q(sent)})), {q(sent)}, {q(dst)})"

    lo, hi = min(sent), max(sent)
    lm = re.fullmatch(r"'((?:[^']|'')*)'", arg.strip())
    if lm is not None and not any(lo <= c <= hi for c in lm.group(1)):
        # literal argument, sentinel-free — decided at REWRITE time,
        # no per-row RLIKE probe needed (bench guard, r12)
        return sandwich(arg)
    per_codepoint = (
        f"array_join(transform(regexp_extract_all({arg}, '(?s)(.)', 1),"
        f" __cp -> CASE WHEN __cp BETWEEN {q(lo)} AND {q(hi)} THEN __cp"
        f" ELSE {sandwich('__cp')} END), '')"
    )
    # rlike() FUNCTION form, not the operator: the schema-aware enum
    # pass resolves enum columns to their label field inside listed
    # function heads (rlike/regexp_extract_all are in _ENUM_TEXT_FNS),
    # while `(m) RLIKE '…'` would keep the raw struct and fail analysis
    return (
        f"(CASE WHEN rlike({arg}, {q('[' + lo + '-' + hi + ']')})"
        f" THEN {per_codepoint} ELSE {sandwich(arg)} END)"
    )
