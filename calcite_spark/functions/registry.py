"""Function registry ≈ Calcite's operator tables:
sql/fun/SqlStdOperatorTable.java (333 operators) +
sql/fun/SqlLibraryOperators.java (270 operators, gated by
sql/fun/SqlLibrary.java:54-91 — STANDARD, BIG_QUERY, HIVE, MYSQL,
ORACLE, POSTGRESQL, SPARK, ...).

Each entry maps a Calcite operator name to a Spark SQL expression
template ("{0}", "{1}", ... are argument slots). Most are same-name
passthroughs — Spark's function library is itself one of Calcite's
dialect targets (SqlLibrary.SPARK:88) — so the interesting rows are the
renames and emulations. `translate("LEVENSHTEIN", "a", "b")` →
"levenshtein(a, b)" ready for selectExpr/F.expr: translation happens at
plan-build time, execution stays fully JVM-side.

UDF-backed gaps are explicitly marked kind="udf_todo" (none are needed
by the current inventory; they are the documented small fallback list).
"""

from __future__ import annotations

from dataclasses import dataclass, field

STANDARD = "STANDARD"
BIG_QUERY = "BIG_QUERY"
HIVE = "HIVE"
MYSQL = "MYSQL"
ORACLE = "ORACLE"
POSTGRESQL = "POSTGRESQL"
REDSHIFT = "REDSHIFT"
SPARK = "SPARK"
MSSQL = "MSSQL"
SNOWFLAKE = "SNOWFLAKE"
CLICKHOUSE = "CLICKHOUSE"
CALCITE = "CALCITE"  # Calcite-specific extensions (SqlLibrary.CALCITE:66)
ALL = "ALL"  # available without opting into a library


@dataclass(frozen=True)
class FnDef:
    name: str  # Calcite operator name (upper)
    # Spark SQL template with {0},{1},... slots; "" = same-name
    # passthrough; a dict maps arity -> template when the lowering
    # differs by argument count (FLOOR(x) vs FLOOR(dt TO unit))
    template: str | dict
    arity: tuple = ()  # allowed arg counts; () = variadic/any
    libraries: tuple = (STANDARD,)
    kind: str = "scalar"  # scalar | aggregate | window | predicate | udf | udf_todo
    # "udf" = implemented via a registered cs_* Pandas UDF (the documented
    # Python slow path — functions/json_path.py); "udf_todo" = not yet.
    note: str = ""
    defaults: tuple = ()  # tail defaults filling max(arity) when fewer args given
    defaults_prepend: bool = False  # fill missing args at the FRONT instead


FUNCTIONS: dict[str, FnDef] = {}


def _reg(
    name, template="", arity=(), libs=(STANDARD,), kind="scalar", note="", defaults=(),
    defaults_prepend=False, variant_of=None,
):
    """variant_of: register under '<variant_of>@<lib>' for each lib — a
    library-specific override consulted before the plain name (≈ Calcite
    keeping LOG and LOG_MYSQL as distinct operators in
    SqlLibraryOperators.java when the same SQL name differs per dialect)."""
    base = (variant_of or name).upper()
    fn = FnDef(
        base, template, tuple(arity), tuple(libs), kind, note, tuple(defaults),
        defaults_prepend,
    )
    if variant_of:
        for lib in libs:
            FUNCTIONS[f"{base}@{lib}"] = fn
    else:
        FUNCTIONS[name.upper()] = fn


def _passthrough(names, libs=(STANDARD,), kind="scalar"):
    for n in names.split():
        _reg(n, "", (), libs, kind)


# ---------------------------------------------------------------------
# Comparison / boolean / predicates (SqlStdOperatorTable AND:183
# EQUALS:389 GREATER_THAN:402 IS_DISTINCT_FROM:415 ...)
# ---------------------------------------------------------------------
_reg("IS DISTINCT FROM", "NOT ({0} <=> {1})", (2,), kind="predicate")
_reg("IS NOT DISTINCT FROM", "{0} <=> {1}", (2,), kind="predicate")
_reg("BETWEEN", "{0} BETWEEN {1} AND {2}", (3,), kind="predicate")
_reg("LIKE", "{0} LIKE {1}", (2,), kind="predicate")
_reg("ILIKE", "{0} ILIKE {1}", (2,), libs=(POSTGRESQL,), kind="predicate")
_reg("RLIKE", "{0} RLIKE {1}", (2,), libs=(SPARK, HIVE, MYSQL), kind="predicate")
_reg(
    "SIMILAR TO",
    "{0} RLIKE __similar_to_regex__({1})",
    (2,),
    kind="predicate",
    note="pattern translated SQL-regex→Java-regex by engine/sql macro pass",
)

# ---------------------------------------------------------------------
# Arithmetic & checked variants (DIVIDE_INTEGER:358, CHECKED_*:312 →
# Spark try_* family per ConvertToChecked)
# ---------------------------------------------------------------------
_reg("DIVIDE_INTEGER", "{0} DIV {1}", (2,))
_reg("PERCENT_REMAINDER", "{0} % {1}", (2,))
_reg("CHECKED_ADD", "try_add({0}, {1})", (2,))
_reg("CHECKED_SUBTRACT", "try_subtract({0}, {1})", (2,))
_reg("CHECKED_MULTIPLY", "try_multiply({0}, {1})", (2,))
_reg("CHECKED_DIVIDE", "try_divide({0}, {1})", (2,))
_reg("SAFE_CAST", "try_cast({0} AS {1})", (2,), libs=(BIG_QUERY,))
_reg(
    "TRY_CAST", "try_cast({0} AS {1})", (2,), libs=(MSSQL,),
    note="MSSQL-gated per SqlLibraryOperators.java:2729 (BQ spells it "
    "SAFE_CAST); library-less lookups still resolve",
)

# ---------------------------------------------------------------------
# Math (POWER SQRT MOD LN LOG10 ABS trig ... RAND:345 RAND_INTEGER:340)
# ---------------------------------------------------------------------
_passthrough(
    "POWER SQRT MOD LN LOG10 LOG2 ABS ACOS ACOSH ASIN ASINH ATAN ATANH ATAN2 "
    "CBRT COS COSH COT CSC DEGREES EXP FACTORIAL PI RADIANS ROUND SEC SIGN "
    "SIN SINH TAN TANH SIGNUM E"
)
# shared by TRUNCATE and the TRUNC alias — ONE copy of the tricky
# HALF_DOWN emulation
_TRUNCATE_TEMPLATE = "round({0} - 0.5 * sign({0}) * power(0.1, {1}), {1})"
_reg(
    "TRUNCATE",
    _TRUNCATE_TEMPLATE,
    (1, 2),
    note="truncate-toward-zero at scale (default 0) via HALF_DOWN emulation",
    defaults=("0",),
)
_reg("RAND", {0: "rand()", 1: "rand({0})"}, (0, 1))
_reg(
    "RAND_INTEGER",
    {1: "CAST(floor(rand() * {0}) AS INT)", 2: "CAST(floor(rand({0}) * {1}) AS INT)"},
    (1, 2),
    note="1-arg = bound, 2-arg = (seed, bound) — RAND_INTEGER:340",
)
_reg(
    "LOG",
    "log({1}, {0})",
    (1, 2),
    libs=(BIG_QUERY,),
    note="BigQuery LOG(x[, base]); Spark log(base, x) — arg order flips. 1-arg = ln",
    defaults=("2.718281828459045",),
)
_reg(
    "LOG",
    "log({0}, {1})",
    (1, 2),
    libs=(MYSQL, HIVE, SPARK),
    variant_of="LOG",
    note="Calcite LOG_MYSQL (SqlLibraryOperators.java:2658): base FIRST — "
    "LOG(b, x) = log_b(x), matching Spark's own log(base, expr); "
    "1-arg LOG(x) = ln via prepended base e",
    defaults=("2.718281828459045",),
    defaults_prepend=True,
)
_reg(
    "LOG",
    {1: "log10({0})", 2: "log({0}, {1})"},
    (1, 2),
    libs=(POSTGRESQL,),
    variant_of="LOG",
    note="Calcite LOG_POSTGRES (SqlLibraryOperators.java:2669): PG's "
    "1-arg LOG(x) is BASE-10 (not ln); LOG(b, x) = log_b(x)",
)
_reg("LOG1P", "log1p({0})", (1,), libs=(SPARK,))
_reg("POW", "pow({0}, {1})", (2,), libs=(BIG_QUERY, SPARK))

# Bitwise (SqlStdOperatorTable BITAND/BITOR/BITXOR/BITNOT/BITCOUNT)
_reg("BITAND", "({0} & {1})", (2,))
_reg("BITOR", "({0} | {1})", (2,))
_reg("BITXOR", "({0} ^ {1})", (2,))
_reg("BITNOT", "(~{0})", (1,))
_reg("BITCOUNT", "bit_count({0})", (1,))

# BigQuery SAFE_* checked arithmetic (SqlLibraryOperators SAFE_ADD..):
# NULL on overflow/invalid — Spark's try_* family is the exact analog
# DOUBLE overflow must also yield NULL (big-query.iq:701,762,846,963:
# SAFE_ADD(1.7e308, 1.7e308) is NULL, not Infinity — r13, found by the
# batch-25 corpus replay): a ±Infinity RESULT from finite inputs is the
# overflow; an Infinity INPUT passes through, and NaN passes through
# both guards (Spark orders NaN above Infinity, so NaN = Infinity is
# false and the CASE falls to the raw result).
def _safe_ovf(op: str) -> str:
    raw = f"{op}({{0}}, {{1}})"
    inf = "CAST('Infinity' AS DOUBLE)"
    return (
        f"CASE WHEN abs(CAST({raw} AS DOUBLE)) = {inf} "
        f"AND abs(CAST({{0}} AS DOUBLE)) <> {inf} "
        f"AND abs(CAST({{1}} AS DOUBLE)) <> {inf} "
        f"THEN NULL ELSE {raw} END"
    )


_reg("SAFE_ADD", _safe_ovf("try_add"), (2,), libs=(BIG_QUERY,))
_reg("SAFE_SUBTRACT", _safe_ovf("try_subtract"), (2,), libs=(BIG_QUERY,))
_reg("SAFE_MULTIPLY", _safe_ovf("try_multiply"), (2,), libs=(BIG_QUERY,))
_reg("SAFE_DIVIDE", _safe_ovf("try_divide"), (2,), libs=(BIG_QUERY,))
_reg("SAFE_NEGATE", "try_multiply({0}, -1)", (1,), libs=(BIG_QUERY,))

# ---------------------------------------------------------------------
# String (std: SUBSTRING REPLACE OVERLAY TRIM POSITION CHAR_LENGTH UPPER
# LOWER INITCAP ASCII; library: the long §2.6 list)
# ---------------------------------------------------------------------
_passthrough(
    "SUBSTRING REPLACE TRIM UPPER LOWER INITCAP ASCII CONCAT LPAD RPAD LTRIM "
    "RTRIM SPLIT REPEAT SPACE SOUNDEX LEVENSHTEIN REVERSE CHR "
    "CONCAT_WS FORMAT_NUMBER TRANSLATE LEFT RIGHT INSTR LOCATE"
)
_reg("CHAR_LENGTH", "length({0})", (1,))
_reg("CHARACTER_LENGTH", "length({0})", (1,))
_reg("POSITION", "instr({1}, {0})", (2,), note="POSITION(x IN y) arg order")
_reg("OVERLAY", "concat(substring({0}, 1, {2} - 1), {1}, substring({0}, {2} + {3}))", (4,))
_reg("STRPOS", "instr({0}, {1})", (2,), libs=(POSTGRESQL, BIG_QUERY, REDSHIFT))
# PG SPLIT_PART: the delimiter is a LITERAL string (Spark's split is a
# REGEX — the old passthrough returned '' for split_part('abc.def','.',1),
# a silent wrong value; babel postgresql.iq:69-104 sweep, r8). Runtime
# regex-quoting idiom shared with STRING_TO_ARRAY below; '' delimiter →
# whole string as field 1 (and -1), '' for others; negative index counts
# from the end (PG 14); out-of-range → '' (PG), NULL operands → NULL.
_reg(
    "SPLIT_PART",
    "CASE WHEN {0} IS NULL OR {1} IS NULL OR CAST({2} AS INT) IS NULL "
    "THEN CAST(NULL AS STRING) "
    "WHEN {1} = '' THEN IF(CAST({2} AS INT) IN (1, -1), {0}, '') "
    "ELSE COALESCE(try_element_at(split({0}, regexp_replace({1}, "
    "'([.^$|?*+()\\\\[\\\\]{}\\\\\\\\])', '\\\\\\\\$1'), -1), "
    "CAST({2} AS INT)), '') END",
    (3,),
    libs=(POSTGRESQL,),
)
_reg("ENDS_WITH", "endswith({0}, {1})", (2,), libs=(BIG_QUERY,))
_reg(
    "STARTS_WITH", "startswith({0}, {1})", (2,), libs=(BIG_QUERY, POSTGRESQL),
    note="SqlLibraryOperators.java:433 gates {BIG_QUERY, POSTGRESQL} "
    "exceptLibraries={REDSHIFT}; Snowflake/Spark/ClickHouse spell it "
    "STARTSWITH (separate entry)",
)
_reg("STRCMP", "CASE WHEN {0} = {1} THEN 0 WHEN {0} < {1} THEN -1 ELSE 1 END", (2,), libs=(MYSQL,))
_reg(
    "DIFFERENCE",
    "aggregate(sequence(1, 4), 0, (acc, i) -> acc + "
    "IF(substr(soundex({0}), i, 1) = substr(soundex({1}), i, 1), 1, 0))",
    (2,),
    libs=(POSTGRESQL, REDSHIFT),
    note="exact PG fuzzystrmatch semantics: count of agreeing positions "
    "(0-4) between the two 4-char soundex codes",
)
# SOUNDEX dialect variants (SqlLibraryOperators.java:1128-1138): the
# reference runtime is commons-codec Soundex (SqlFunctions.java:1520)
# — clean() strips non-letters (so 'TECH ON THE NET' → T253 and a
# digits-only string → ''), and an unmappable LETTER (CJK, accents)
# THROWS "The character is not mapped" — while SOUNDEX_SPARK
# (SqlFunctions.java:1525) catches and returns the input unchanged,
# which is exactly Spark's built-in soundex. The strict variant below
# replays commons: strip non-letters first (Spark's soundex already
# tolerates interior spaces but not leading ones), '' when nothing
# survives the clean, raise_error on non-ASCII letters. Fixtures from
# SqlOperatorTest.java:6266-6299 in tests/test_functions_parity.py.
_reg(
    "SOUNDEX",
    "CASE WHEN {0} IS NULL THEN NULL "
    "WHEN {0} RLIKE '[\\\\p{L}&&[^\\\\x00-\\\\x7F]]' THEN "
    "raise_error('The character is not mapped: SOUNDEX strict "
    "variant, use SOUNDEX@SPARK for passthrough') "
    "WHEN NOT upper({0}) RLIKE '[A-Z]' THEN '' "
    "ELSE soundex(regexp_replace(upper({0}), '[^A-Z]', '')) END",
    (1,),
    libs=(BIG_QUERY, MYSQL, POSTGRESQL, ORACLE, HIVE),
    variant_of="SOUNDEX",
    note="VARCHAR(4) strict contract: commons-codec semantics "
    "(clean + error-on-unmapped-letter); SOUNDEX@SPARK keeps the "
    "return-input-unchanged behavior",
)
# r9 audit: Hive spells these base64()/unbase64() (the BASE64 entry
# below); FROM_BASE64/TO_BASE64 are the MySQL (+BigQuery) names —
# SqlLibraryOperators gates FROM_BASE64 {BIG_QUERY, MYSQL}
_reg("FROM_BASE64", "unbase64({0})", (1,), libs=(BIG_QUERY, MYSQL))
_reg("TO_BASE64", "base64({0})", (1,), libs=(BIG_QUERY, MYSQL), note="BQ lib is an engine-true extension (reference gates MYSQL only)")
_reg("FROM_HEX", "unhex({0})", (1,), libs=(BIG_QUERY,))
_reg("TO_HEX", "hex({0})", (1,), libs=(BIG_QUERY,))
_reg("HEX", "hex({0})", (1,), libs=(MYSQL, HIVE, SPARK))
_reg("BIN", "bin({0})", (1,), libs=(MYSQL, HIVE, SPARK))
_reg("BIT_LENGTH", "bit_length({0})", (1,))
_reg("OCTET_LENGTH", "octet_length({0})", (1,))
# r9 lib-list audit vs @LibraryOperator: BQ has MD5/SHA1 but spells the
# others SHA256/FARM_FINGERPRINT — SHA2/CRC32 are not BQ names
_passthrough("MD5 SHA1", libs=(BIG_QUERY, HIVE, MYSQL, POSTGRESQL, REDSHIFT, SPARK))
_passthrough("SHA2 CRC32", libs=(HIVE, MYSQL, SPARK))
_reg("SHA256", "sha2({0}, 256)", (1,), libs=(BIG_QUERY, POSTGRESQL))
_reg("SHA512", "sha2({0}, 512)", (1,), libs=(BIG_QUERY, POSTGRESQL))
_reg(
    "TO_CHAR", "date_format({0}, {1})", (2,), libs=(POSTGRESQL, ORACLE, MYSQL, REDSHIFT),
    note="datetime form; the PG/Oracle TEMPLATE is converted to a Java "
    "pattern at plan time (functions/pg_format.py ≈ the reference's "
    "PostgresqlDateTimeFormatter) — passing it through verbatim is "
    "silently wrong ('HH24' would render as Java HH + literal 24 = "
    "'1224'); non-literal templates and tokens Java cannot reproduce "
    "raise (see translate())",
)
# PG string_to_array ≈ SqlLibraryOperators.STRING_TO_ARRAY (babel
# postgresql.iq replays it): delimiter is a LITERAL string (Spark's
# split takes a REGEX — quoted below); '' delimiter → whole string as
# one element; NULL delimiter → per-character split; '' input → empty
# array; 3-arg nullstr maps matching elements to NULL. All branches in
# ONE JVM expression — no Python.
_reg(
    "STRING_TO_ARRAY",
    "CASE WHEN {0} IS NULL THEN NULL "
    "WHEN {0} = '' THEN CAST(array() AS ARRAY<STRING>) "
    "ELSE transform("
    "CASE WHEN {1} IS NULL THEN split({0}, '') "
    "WHEN {1} = '' THEN array({0}) "
    "ELSE split({0}, regexp_replace({1}, "
    "'([.^$|?*+()\\\\[\\\\]{}\\\\\\\\])', '\\\\\\\\$1'), -1) END, "
    "__sta -> CASE WHEN ({2}) IS NOT NULL AND __sta = ({2}) "
    "THEN NULL ELSE __sta END) END",
    (2, 3), libs=(POSTGRESQL, REDSHIFT), defaults=("NULL",),
    note="PG semantics replayed exactly (reference babel "
    "postgresql.iq): literal delimiter, ''-delim keeps the whole "
    "string, NULL-delim splits per character, '' input yields [], "
    "nullstr elements become NULL",
)
_reg(
    "PARSE_URL",
    {
        2: "parse_url({0}, {1})",
        3: "parse_url({0}, {1}, "
           "regexp_replace({2}, '([.^$|?*+()\\\\[\\\\]{}\\\\\\\\])', "
           "'\\\\\\\\$1'))",
    },
    (2, 3), libs=(HIVE, SPARK),
    note="the reference Pattern.quote()s the 3-arg QUERY key "
    "(SqlFunctions.java:1895 keyToPattern) while Spark/Hive treat it "
    "as a REGEX ('k.' would match k1, '(' errors) — the wrapper "
    "regex-quotes the key expression so literal-key semantics hold for "
    "arbitrary key expressions: 'a.b' matches only a.b, '(' yields "
    "NULL; all 8 part modes (HOST PATH QUERY REF PROTOCOL FILE "
    "AUTHORITY USERINFO) agree with the reference URI parse, fixtures "
    "from SqlOperatorTest.java:5246 in tests/test_functions_parity.py",
)
# r9 audit: SPARK-gated per SqlLibraryOperators.java:735 (BQ has no
# URL_ENCODE/URL_DECODE — its equivalents live in the NET.* namespace)
_reg("URL_ENCODE", "url_encode({0})", (1,), libs=(SPARK,))
_reg("URL_DECODE", "url_decode({0})", (1,), libs=(SPARK,))
_reg("REGEXP_CONTAINS", "{0} RLIKE {1}", (2,), libs=(BIG_QUERY,), kind="predicate")
# REGEXP_EXTRACT: for HIVE/SPARK the 3rd argument is a GROUP INDEX
# (Spark's own builtin — passthrough). The BigQuery operator takes
# (value, regexp[, position[, occurrence]]) with NULL-on-no-match and
# an at-most-one-capturing-group rule (SqlLibraryOperators.java:588,
# runtime SqlFunctions.java:632-673) — a silent wrong-value trap if
# passed through (position lands in the group slot); dispatched in
# translate() to functions/bq_regex (r8 babel batch 3).
_reg(
    "REGEXP_EXTRACT", "", (2, 3), libs=(HIVE, SPARK),
    note="passthrough: 3-arg keeps Spark's group-index semantics",
)
_reg(
    "REGEXP_EXTRACT", "", (2, 3, 4), libs=(BIG_QUERY,),
    variant_of="REGEXP_EXTRACT",
    note="BigQuery (value, regexp[, position[, occurrence]]) — "
    "functions/bq_regex.bq_regexp_extract",
)
_reg(
    "REGEXP_SUBSTR", "", (2, 3, 4), libs=(BIG_QUERY,),
    variant_of="REGEXP_SUBSTR",
    note="BigQuery alias of REGEXP_EXTRACT (SqlLibraryOperators.java:705)",
)
_reg("REGEXP_EXTRACT_ALL", "", (2, 3), libs=(SPARK,))
_reg(
    "REGEXP_EXTRACT_ALL", "", (2,), libs=(BIG_QUERY,),
    variant_of="REGEXP_EXTRACT_ALL",
    note="reference semantics (SqlFunctions.regexpExtractAll): at most "
    "one capturing group, whole-match extraction for group-less "
    "patterns (Spark's default group index 1 ERRORS on those) — "
    "group index computed at plan time in translate()",
)
# REGEXP_INSTR (SqlLibraryOperators.java:605): (value, regexp
# [, position[, occurrence[, occurrence_position]]]) — returns the
# 1-based index of the occurrence-th match's GROUP (start, or end+1
# with occurrence_position=1), 0 on no match. Spark's builtin lacks
# position/occurrence AND reports whole-match position where the
# reference reports the GROUP's — dispatched to
# functions/std_regex.regexp_instr for literal patterns (r8 batch 3).
_reg("REGEXP_INSTR", "regexp_instr({0}, {1})", (2, 3, 4, 5), libs=(BIG_QUERY, ORACLE))
# REGEXP_REPLACE_3 (SqlLibraryOperators.java): occurrence=0 = replace
# ALL (runtime SqlFunctions.java:764-766) — Spark's builtin semantics.
# POSTGRESQL is deliberately NOT in this list: the reference's PG
# variant (REGEXP_REPLACE_PG_3/_PG_4, SqlFunctions.java:801-810)
# replaces only the FIRST match, uses \n group indexing, and adds a
# 4-arg flags form — a distinct operator, dispatched in translate() to
# functions/pg_regex.pg_regexp_replace (r8; r7 verdict "What's wrong" #1).
# arities 4-6 are the position/occurrence/matchType tier
# (REGEXP_REPLACE_4/_5/_6, SqlLibraryOperators.java:629-676) —
# dispatched in translate() to functions/std_regex (r8 batch 3)
_reg("REGEXP_REPLACE", "regexp_replace({0}, {1}, {2})", (3, 4, 5, 6), libs=(HIVE, MYSQL, ORACLE, SPARK, REDSHIFT))
_reg(
    "REGEXP_REPLACE",
    "",  # lowering is computed per-call in translate() (plan-time literal translation)
    (3, 4),
    libs=(POSTGRESQL,),
    variant_of="REGEXP_REPLACE",
    note="PG semantics: 3-arg = first occurrence only, \\n group "
    "indexing in the replacement; 4-arg flags g/i/c/n/m/s "
    "(SqlFunctions.regexpReplacePg) — see functions/pg_regex.py",
)
# BigQuery 3-arg: replace-ALL but with BACKSLASH group indexing
# (REGEXP_REPLACE_BIG_QUERY_3 → regexpReplaceNonDollarIndexed,
# BuiltInMethod.java:696) — r8 corpus-sweep find; see bq_regex.py
_reg(
    "REGEXP_REPLACE", "", (3,), libs=(BIG_QUERY,),
    variant_of="REGEXP_REPLACE",
    note="replace-all with \\n-indexed replacement — "
    "functions/bq_regex.bq_regexp_replace",
)
# Redshift 2-arg form deletes every match (REGEXP_REPLACE_2,
# SqlLibraryOperators.java:617)
_reg(
    "REGEXP_REPLACE", "regexp_replace({0}, {1}, {2})", (2, 3, 4, 5, 6),
    libs=(REDSHIFT,), variant_of="REGEXP_REPLACE",
    defaults=("''",),
    note="2-arg deletes matches; 3-arg replace-all ($-indexed Java "
    "replacement, the reference's shared runtime); 4-6-arg = the "
    "position/occurrence/matchType tier (std_regex dispatch)",
)
# REGEXP_SUBSTR is BIG_QUERY-gated in the reference
# (SqlLibraryOperators.java:702-705, "Returns NULL if there is no
# match") — the former MYSQL/ORACLE registration here both
# over-accepted vs the reference and fell through to Spark's
# regexp_extract, which returns '' on no match (r8 verdict finding).
# Library-less and BIG_QUERY calls route to the bq_regex NULL-envelope
# lowering in translate(); MYSQL/ORACLE now refuse at lookup.
_reg("REGEXP_SUBSTR", "", (2,), libs=(BIG_QUERY,))
# SqlLibraryOperators.java:713-718: {SPARK, MYSQL, POSTGRESQL, ORACLE},
# STRING_STRING_OPTIONAL_STRING — the 3-arg matchType form routes
# through std_regex.regexp_like (makeRegexpFlags → inline-flag prefix)
_reg("REGEXP_LIKE", "{0} RLIKE {1}", (2, 3), libs=(MYSQL, ORACLE, SPARK, POSTGRESQL, REDSHIFT), kind="predicate")
# CASE-INSENSITIVE containment (big-query.iq:2117: 'the blue house'
# CONTAINS_SUBSTR 'Blue house' is TRUE — r13, found by the batch-25
# corpus replay; the old case-sensitive contains() returned FALSE).
# BigQuery also NFKC-normalizes both sides ('Ⅸ' matches 'IX' —
# big-query.iq:2137). r14 (verdict item 5): fold the common-plane NFKC
# compatibility subset JVM-side — Roman numerals, Latin ligatures,
# number forms (U+2150–U+217F), fullwidth forms (U+FF01–U+FF5E) and
# the ideographic space — built at import from unicodedata.normalize
# so the mapping is NFKC-faithful for the covered ranges. lower()
# runs FIRST (it maps uppercase Roman numerals/fullwidth capitals to
# their lowercase forms), then 1:N expansions as a replace() chain,
# then the 1:1 fullwidth block as one translate(). Codepoints outside
# these ranges (e.g. squared units ㎞) remain a documented delta.
def _bq_nfkc_tables():
    import unicodedata

    multi, tr_src, tr_dst = [], [], []
    for cp in [*range(0x2150, 0x2180), *range(0xFB00, 0xFB07),
               *range(0xFF01, 0xFF5F), 0x3000]:
        ch = chr(cp)
        if ch != ch.lower():
            continue  # uppercase forms never survive the lower() fold
        out = unicodedata.normalize("NFKC", ch).lower()
        if out == ch:
            continue
        if len(out) == 1:
            tr_src.append(ch)
            tr_dst.append(out)
        else:
            multi.append((ch, out))
    return multi, "".join(tr_src), "".join(tr_dst)


def _sql_str(s: str) -> str:
    return "'" + s.replace("\\", "\\\\").replace("'", "\\'") + "'"


def _bq_nfkc_fold(operand: str) -> str:
    multi, tr_src, tr_dst = _BQ_NFKC_TABLES
    e = f"lower({operand})"
    for src, dst in multi:
        e = f"replace({e}, {_sql_str(src)}, {_sql_str(dst)})"
    return f"translate({e}, {_sql_str(tr_src)}, {_sql_str(tr_dst)})"


_BQ_NFKC_TABLES = _bq_nfkc_tables()
_reg(
    "CONTAINS_SUBSTR",
    f"contains({_bq_nfkc_fold('{0}')}, {_bq_nfkc_fold('{1}')})",
    (2,),
    libs=(BIG_QUERY,),
    note=(
        "case-insensitive + common-plane NFKC fold per BigQuery; "
        "codepoints outside U+2150-217F/FB00-FB06/FF01-FF5E/3000 "
        "are a documented delta"
    ),
)
_reg("TRANSLATE3", "translate({0}, {1}, {2})", (3,), libs=(ORACLE, POSTGRESQL, BIG_QUERY, REDSHIFT, SPARK))
# BQ CODE_POINTS_TO_BYTES (big-query.iq:2252-2287): ints 0-255 →
# BINARY via hex framing (lpad keeps the byte boundary); a NULL
# element is NULL, an out-of-byte-range value errors like BigQuery
_reg(
    "CODE_POINTS_TO_BYTES",
    "CASE WHEN {0} IS NULL OR exists({0}, x -> x IS NULL) THEN "
    "CAST(NULL AS BINARY) WHEN exists({0}, x -> x < 0 OR x > 255) "
    "THEN CAST(raise_error('CODE_POINTS_TO_BYTES: code point out of "
    "byte range') AS BINARY) ELSE "
    "unhex(array_join(transform({0}, x -> lpad(hex(x), 2, '0')), '')) "
    "END",
    (1,),
    libs=(BIG_QUERY,),
)

# ---------------------------------------------------------------------
# Date/time (std CURRENT_* EXTRACT FLOOR/CEIL TIMESTAMP_ADD/DIFF
# LAST_DAY; library DATE_* UNIX_* CONVERT_TIMEZONE ...)
# ---------------------------------------------------------------------
_passthrough(
    "CURRENT_DATE CURRENT_TIMESTAMP LOCALTIMESTAMP EXTRACT LAST_DAY "
    "TO_DATE TO_TIMESTAMP ADD_MONTHS NOW YEAR QUARTER MONTH DAY HOUR MINUTE "
    "SECOND DAYOFWEEK DAYOFYEAR WEEKOFYEAR DAYOFMONTH"
)
_reg("WEEK", "weekofyear({0})", (1,), libs=(MYSQL,))
# Oracle/Redshift ADD_MONTHS snaps month-END to month-END
# (redshift.iq:1014: add_months(date '2008-04-30', 1) is 2008-05-31;
# Spark's builtin clamps day-of-month and returns 2008-05-30 — r13,
# found by the batch-25 replay). Snap when the input's date part is
# its month's last day. Return type follows Spark (DATE); Redshift
# formats the same value as a midnight TIMESTAMP — documented delta.
_reg(
    "ADD_MONTHS",
    "CASE WHEN CAST({0} AS DATE) = last_day({0}) "
    "THEN last_day(add_months({0}, {1})) "
    "ELSE add_months({0}, {1}) END",
    (2,),
    libs=(ORACLE, REDSHIFT),
    variant_of="ADD_MONTHS",
)
_reg("LOCALTIME", "current_timestamp()", (0,), note="no TIME type (SURVEY §1.2)")
# FLOOR/CEIL(dt TO unit): 2-arg form takes the unit as a quoted string
# ('MONTH'). CEIL rounds UP to the next boundary unless already on one;
# month-family units go through add_months (variable length), day-time
# units through fixed intervals — a CASE can't mix the two interval
# families, hence the split.
_reg(
    "FLOOR",
    {1: "floor({0})", 2: "date_trunc({1}, {0})"},
    (1, 2),
    note="FLOOR(dt TO unit) → date_trunc(unit, dt); numeric → floor",
)
_reg(
    "CEIL",
    {
        1: "ceil({0})",
        2: (
            "CASE WHEN date_trunc({1}, {0}) = CAST({0} AS TIMESTAMP) "
            "THEN date_trunc({1}, {0}) "
            "WHEN upper({1}) IN ('YEAR', 'QUARTER', 'MONTH') "
            "THEN CAST(add_months(date_trunc({1}, {0}), "
            "CASE upper({1}) WHEN 'YEAR' THEN 12 WHEN 'QUARTER' THEN 3 ELSE 1 END) AS TIMESTAMP) "
            "ELSE date_trunc({1}, {0}) + "
            "CASE upper({1}) WHEN 'WEEK' THEN INTERVAL 7 DAY "
            "WHEN 'DAY' THEN INTERVAL 1 DAY WHEN 'HOUR' THEN INTERVAL 1 HOUR "
            "WHEN 'MINUTE' THEN INTERVAL 1 MINUTE ELSE INTERVAL 1 SECOND END END"
        ),
    },
    (1, 2),
    note="CEIL(dt TO unit) → next boundary (identity on a boundary)",
)
_reg("TIMESTAMPADD", "timestampadd({0}, {1}, {2})", (3,))
_reg("TIMESTAMPDIFF", "timestampdiff({0}, {1}, {2})", (3,))
_reg("DATE_ADD", "date_add({0}, {1})", (2,), libs=(SPARK, HIVE), note="Calcite DATE_ADD_SPARK models exactly this")
_reg("DATE_SUB", "date_sub({0}, {1})", (2,), libs=(SPARK, HIVE))
# (the BigQuery DATE_ADD/DATE_SUB interval variants are registered
# once, further down with the other BQ datetime arithmetic — ADVICE
# r13: a second registration here silently overwrote them)
_reg("DATEDIFF", "datediff({0}, {1})", (2,), libs=(SPARK, HIVE, MYSQL))
_reg(
    "DATE_DIFF",
    "timestampdiff({2}, {1}, {0})",
    (3,),
    libs=(BIG_QUERY,),
    note="BigQuery DATE_DIFF(a, b, part) = a - b in `part` units; "
    "timestampdiff counts full periods where BigQuery counts boundary "
    "crossings for YEAR/MONTH — documented delta",
)
_reg(
    "TIMESTAMP_DIFF",
    "timestampdiff({2}, {1}, {0})",
    (3,),
    libs=(BIG_QUERY,),
    note="BigQuery TIMESTAMP_DIFF(a, b, part) = a - b in `part` units "
    "(big-query.iq:3776-3799), same shape as DATE_DIFF",
)
# PG spells date_trunc('unit', expr); BigQuery spells
# DATE_TRUNC(expr, unit) with a bare-keyword unit and returns DATE for
# DATE input — a library-specific variant flips the args, quotes the
# unit, accepts WEEK(MONDAY) (Spark weeks start Monday; other anchors
# refuse in translate()), and casts back to DATE (r13, batch 25;
# big-query.iq:3887)
_reg("DATE_TRUNC", "date_trunc({0}, {1})", (2,), libs=(POSTGRESQL,))
_reg(
    "DATE_TRUNC", "", (2,), libs=(BIG_QUERY,), variant_of="DATE_TRUNC",
    note="BigQuery arg order; handled in translate()",
)
_reg("DATE_PART", "date_part({0}, {1})", (2,), libs=(POSTGRESQL,))
_reg("MONTHNAME", "date_format({0}, 'MMMM')", (1,), libs=(MYSQL,))
_reg("DAYNAME", "date_format({0}, 'EEEE')", (1,), libs=(MYSQL,))
# BQ FORMAT_*/PARSE_* take %-style format elements (FormatModels.java
# BIG_QUERY map; big-query.iq:4289-4490) — converted at plan time by
# functions/bq_format.py in the translate() dispatch (the old
# "date_format({1}, {0})" templates fed %-codes to Spark's JAVA
# pattern reader: '%m' formatted the MINUTE). FORMAT_TIMESTAMP's
# optional 3rd arg is a timezone; only literal UTC is accepted (the
# engine's session zone), anything else refuses loudly.
_reg("FORMAT_DATE", "", (2,), libs=(BIG_QUERY,))
_reg("FORMAT_DATETIME", "", (2,), libs=(BIG_QUERY,))
_reg("FORMAT_TIMESTAMP", "", (2, 3), libs=(BIG_QUERY,))
_reg("PARSE_DATE", "", (2,), libs=(BIG_QUERY,))
_reg("PARSE_DATETIME", "", (2,), libs=(BIG_QUERY,))
_reg("PARSE_TIMESTAMP", "", (2, 3), libs=(BIG_QUERY,))
_reg(
    "FORMAT_TIME", "", (2,), libs=(BIG_QUERY,),
    note="TIME type unsupported (SURVEY §1.2) — translate() refuses loudly",
)
_reg(
    "PARSE_TIME", "", (2,), libs=(BIG_QUERY,),
    note="TIME type unsupported (SURVEY §1.2) — translate() refuses loudly",
)
_reg("UNIX_SECONDS", "unix_seconds({0})", (1,), libs=(BIG_QUERY, SPARK))
_reg("UNIX_MILLIS", "unix_millis({0})", (1,), libs=(BIG_QUERY, SPARK))
_reg("UNIX_MICROS", "unix_micros({0})", (1,), libs=(BIG_QUERY, SPARK))
_reg("UNIX_DATE", "unix_date({0})", (1,), libs=(BIG_QUERY, SPARK))
_reg("TIMESTAMP_SECONDS", "timestamp_seconds({0})", (1,), libs=(BIG_QUERY, SPARK))
_reg("TIMESTAMP_MILLIS", "timestamp_millis({0})", (1,), libs=(BIG_QUERY, SPARK))
_reg("TIMESTAMP_MICROS", "timestamp_micros({0})", (1,), libs=(BIG_QUERY, SPARK))
_reg(
    "CONVERT_TIMEZONE", "", (2, 3), libs=(REDSHIFT,),
    note="REDSHIFT-gated per SqlLibraryOperators.java:110 (PG has no "
    "convert_timezone — it uses AT TIME ZONE); passthrough: Spark "
    "accepts both (tz, ts) and (src, dst, ts)",
)
_reg("SYSDATE", "current_timestamp()", (0,), libs=(ORACLE,))
def _age_template() -> str:
    """Exact PostgreSQL AGE(ts1, ts2) as one SQL expression (no UDF, no
    session registration): component-wise year/month/day/time differences
    with PG's borrow rules (timestamp.c timestamp_age) — seconds borrow a
    day; a negative day count borrows the LESSER timestamp's month length
    (day(last_day(l))), repeatedly if needed, which is why
    AGE('2001-04-10','1957-06-13') is 43y 9m 27d (June 1957 has 30 days)
    and not 28d; negative overall results mirror via -AGE(l, g).
    Validated in lock-step against DuckDB's age() in test_functions."""

    def pos(g: str, l: str) -> str:
        tod = lambda t: f"((unix_micros({t}) - unix_micros(date_trunc('DAY', {t}))) / 1e6)"
        sec_diff = f"({tod(g)} - {tod(l)})"
        bd = f"(CASE WHEN {sec_diff} < 0 THEN 1 ELSE 0 END)"
        sec_fin = f"({sec_diff} + {bd} * 86400.0)"
        d0 = f"(day({g}) - day({l}) - {bd})"
        dim = f"day(last_day({l}))"
        n = f"(CASE WHEN {d0} < 0 THEN CAST(ceil(-({d0}) / {dim}) AS INT) ELSE 0 END)"
        d_fin = f"({d0} + {n} * {dim})"
        mo0 = f"(month({g}) - month({l}) - {n})"
        n2 = f"(CASE WHEN {mo0} < 0 THEN CAST(ceil(-({mo0}) / 12.0) AS INT) ELSE 0 END)"
        mo_fin = f"({mo0} + {n2} * 12)"
        y = f"(year({g}) - year({l}) - {n2})"
        return (
            f"make_interval({y}, {mo_fin}, 0, {d_fin}, 0, 0, "
            f"CAST({sec_fin} AS DECIMAL(18, 6)))"
        )

    a, b = "CAST({0} AS TIMESTAMP)", "CAST({1} AS TIMESTAMP)"
    return f"CASE WHEN {a} >= {b} THEN {pos(a, b)} ELSE -{pos(b, a)} END"


_reg(
    "AGE",
    _age_template(),
    (2,),
    libs=(POSTGRESQL,),
    note="exact PG symbolic-interval decomposition; DuckDB-cross-checked",
)

# ---------------------------------------------------------------------
# Array / map / collection (§2.6 + MULTISET std :143-178)
# ---------------------------------------------------------------------
# r9 lib-list audit vs @LibraryOperator: the old blanket
# (BIG_QUERY, HIVE, SPARK) over-accepted — BigQuery has NONE of these
# names (its array surface is ARRAY_LENGTH/ARRAY_CONCAT/OFFSET, below)
# and Hive only a subset; lists now mirror the reference's annotations
_passthrough(
    "ARRAY ARRAY_DISTINCT ARRAY_EXCEPT ARRAY_INTERSECT ARRAY_JOIN "
    "ARRAY_MAX ARRAY_MIN ARRAY_REMOVE ARRAY_UNION",
    libs=(HIVE, SPARK),
)
_passthrough(
    "MAP ARRAY_APPEND ARRAY_COMPACT ARRAY_CONTAINS ARRAY_INSERT "
    "ARRAY_POSITION ARRAY_PREPEND ARRAY_REPEAT ARRAY_SIZE "
    "ARRAYS_OVERLAP ARRAYS_ZIP SORT_ARRAY MAP_CONCAT MAP_ENTRIES "
    "MAP_KEYS MAP_VALUES MAP_CONTAINS_KEY MAP_FROM_ARRAYS MAP_FROM_ENTRIES "
    "STR_TO_MAP ELEMENT_AT FLATTEN SLICE SEQUENCE SHUFFLE",
    libs=(SPARK,),
)
_reg("ARRAY_CONCAT", "concat({0}, {1})", (), libs=(BIG_QUERY,))
_reg("ARRAY_LENGTH", "size({0})", (1,), libs=(BIG_QUERY,))
_reg("ARRAY_REVERSE", "reverse({0})", (1,), libs=(BIG_QUERY,))
_reg(
    "ARRAY_SLICE", "slice({0}, {1}, {2})", (3,), libs=(HIVE,),
    note="HIVE-gated per SqlLibraryOperators.java:1696 (BQ has no "
    "ARRAY_SLICE); Spark slice semantics (1-based start, length)",
)
_reg(
    "ARRAY_TO_STRING",
    {2: "array_join({0}, {1})", 3: "array_join({0}, {1}, {2})"},
    (2, 3),
    libs=(BIG_QUERY,),
    note="3-arg null_text maps to array_join's nullReplacement (exact "
    "BigQuery semantics: 2-arg omits NULL elements)",
)
_reg("CARDINALITY", "size({0})", (1,))
_reg("ELEMENT", "CASE WHEN size({0}) = 1 THEN element_at({0}, 1) END", (1,), note="SINGLE-element multiset extract; null if not singleton (Calcite raises)")
_reg("MEMBER OF", "array_contains({1}, {0})", (2,), kind="predicate")
# MULTISET set-ops: ALL is the parse default (SqlStdOperatorTable.java:
# 140-175 — "MULTISET UNION [ALL]"); runtime semantics mirror
# SqlFunctions.java:7463-7556. The ALL variants preserve the first
# operand's element order and consume per-occurrence counts exactly as
# the reference's LinkedList remove() loops do; the occurrence-indexed
# filter ((x, i) -> count-in-prefix vs count-in-other) is the
# order-preserving bag algebra, JVM-side. DISTINCT variants use Spark's
# array_* builtins (first-occurrence order; the reference's HashSet
# iteration order is unspecified, so order there is not a contract).
_reg("MULTISET_UNION", "concat({0}, {1})", (2,), note="bag union ALL = concat (multisetUnionAll)")
_reg("MULTISET_UNION_DISTINCT", "array_distinct(concat({0}, {1}))", (2,))
_reg(
    "MULTISET_INTERSECT",
    "IF({0} IS NULL OR {1} IS NULL, NULL, "
    "filter({0}, (x, i) -> size(filter(slice({0}, 1, i + 1), y -> y <=> x))"
    " <= size(filter({1}, y -> y <=> x))))",
    (2,),
    note="bag intersect ALL: keep c1's first min(n1,n2) occurrences (multisetIntersectAll)",
)
_reg("MULTISET_INTERSECT_DISTINCT", "array_intersect({0}, {1})", (2,))
_reg(
    "MULTISET_EXCEPT",
    "IF({0} IS NULL OR {1} IS NULL, NULL, "
    "filter({0}, (x, i) -> size(filter(slice({0}, 1, i + 1), y -> y <=> x))"
    " > size(filter({1}, y -> y <=> x))))",
    (2,),
    note="bag except ALL: remove c2's count of earliest occurrences (multisetExceptAll)",
)
_reg("MULTISET_EXCEPT_DISTINCT", "array_except({0}, {1})", (2,))
# postfix IS predicates (SqlStdOperatorTable.java:851-884) — the babel
# spark.iq corpus pins IS A SET over a NULL multiset to FALSE, so the
# IS_* family is never-null (COALESCE false) and IS_NOT_* negates
_reg("IS_EMPTY", "COALESCE(size({0}) = 0, FALSE)", (1,), kind="predicate")
_reg("IS_NOT_EMPTY", "COALESCE(size({0}) <> 0, TRUE)", (1,), kind="predicate")
_reg("IS_A_SET", "COALESCE(size({0}) = size(array_distinct({0})), FALSE)", (1,), kind="predicate")
_reg("IS_NOT_A_SET", "COALESCE(size({0}) <> size(array_distinct({0})), TRUE)", (1,), kind="predicate")
# SUBMULTISET OF keeps STRICT null propagation (the corpus's NULL row
# prints blank). The explicit IF guard is load-bearing for the
# empty-first-operand corner: forall over an empty array returns TRUE
# without evaluating the lambda, so a NULL second operand would
# otherwise never propagate (review r8)
_reg(
    "SUBMULTISET_OF",
    "IF({0} IS NULL OR {1} IS NULL, CAST(NULL AS BOOLEAN), "
    "forall(array_distinct({0}), e -> size(filter({0}, x -> x <=> e))"
    " <= size(filter({1}, x -> x <=> e))))",
    (2,),
    kind="predicate",
)
_reg(
    "NOT_SUBMULTISET_OF",
    "IF({0} IS NULL OR {1} IS NULL, CAST(NULL AS BOOLEAN), "
    "NOT (forall(array_distinct({0}), e -> size(filter({0}, x -> x <=> e))"
    " <= size(filter({1}, x -> x <=> e)))))",
    (2,),
    kind="predicate",
)
_reg("ITEM", "element_at({0}, {1})", (2,))
_reg("OFFSET", "element_at({0}, {1} + 1)", (2,), libs=(BIG_QUERY,), note="0-based")
_reg("ORDINAL", "element_at({0}, {1})", (2,), libs=(BIG_QUERY,))
_reg("SAFE_OFFSET", "try_element_at({0}, {1} + 1)", (2,), libs=(BIG_QUERY,))
_reg("SAFE_ORDINAL", "try_element_at({0}, {1})", (2,), libs=(BIG_QUERY,))

# Higher-order lambdas (rex/RexLambda.java:35; lambda.iq)
_passthrough("TRANSFORM FILTER EXISTS AGGREGATE REDUCE ZIP_WITH", libs=(SPARK,))

# ---------------------------------------------------------------------
# VARIANT (SqlTypeName.VARIANT:144; TYPEOF SqlStdOperatorTable.java:2057,
# VARIANTNULL :2062; semantics spec core/src/test/resources/sql/variant.iq)
# Spark 4 VariantType is the native carrier: parse_json/variant_get/
# schema_of_variant are JVM-side, codegen-friendly.
# ---------------------------------------------------------------------
_reg(
    "TYPEOF",
    "schema_of_variant({0})",
    (1,),
    note="variant.iq expects TINYINT fidelity; Spark variants store one "
    "int64 class so small ints report BIGINT (disclosed divergence)",
)
_reg("VARIANTNULL", "parse_json('null')", (0,), note="variant null ≠ SQL NULL; test with is_variant_null")
_reg("IS_VARIANT_NULL", "is_variant_null({0})", (1,), kind="predicate")
_reg("PARSE_JSON", "parse_json({0})", (1,), libs=(SPARK,), note="VARIANT constructor (CAST(x AS VARIANT) macro lowers here for strings)")
_reg("TRY_PARSE_JSON", "try_parse_json({0})", (1,), libs=(SPARK,))
_reg("VARIANT_GET", "variant_get({0}, {1}, {2})", (2, 3), defaults=("'string'",), libs=(SPARK,), note="typed path extraction; ITEM on a VARIANT lowers here")
_reg("TRY_VARIANT_GET", "try_variant_get({0}, {1}, {2})", (2, 3), defaults=("'string'",), libs=(SPARK,))

# ---------------------------------------------------------------------
# JSON (std table JSON_EXISTS:1653 .. JSON_REPLACE:1694, IS JSON :887)
# ---------------------------------------------------------------------
_reg("JSON_VALUE", "get_json_object({0}, {1})", (2,), note="plain lax scalar path = JVM builtin; strict/wildcard paths dispatch to cs_json_value (functions/json_path.py)")
_reg("JSON_QUERY", "cs_json_query({0}, {1})", (2,), kind="udf", note="SQL/JSON fragment semantics (scalar result → NULL, WITHOUT ARRAY WRAPPER) need the path engine")
_reg("JSON_EXISTS", "get_json_object({0}, {1}) IS NOT NULL", (2,), kind="predicate", note="strict/wildcard paths dispatch to cs_json_exists")
_reg("JSON_OBJECT", "to_json(map({0}, {1}))", (), note="n-ary KEY VALUE pairs via macro")
_reg("JSON_ARRAY", "to_json(array({0}))", ())
_reg(
    "JSON_LENGTH",
    {1: "json_array_length({0})", 2: "json_array_length(get_json_object({0}, {1}))"},
    (1, 2),
    note="2-arg MySQL form counts elements at the path",
)
_reg(
    "JSON_KEYS",
    {1: "json_object_keys({0})", 2: "json_object_keys(get_json_object({0}, {1}))"},
    (1, 2),
)
_reg("JSON_TYPE", "cs_json_type({0})", (1,), kind="udf", note="MySQL-style names (OBJECT/ARRAY/BOOLEAN/NULL/INTEGER/DOUBLE/STRING)")
_reg("JSON_PRETTY", "cs_json_pretty({0})", (1,), kind="udf")
_reg("JSON_DEPTH", "cs_json_depth({0})", (1,), kind="udf")
_reg("JSON_REMOVE", "cs_json_remove({0}, {1})", (2,), kind="udf", note="single-path form; MySQL multi-path via nesting")
_reg("JSON_STORAGE_SIZE", "length({0})", (1,), note="byte-length proxy")
_reg("IS JSON VALUE", "get_json_object({0}, '$') IS NOT NULL OR from_json({0}, 'string') IS NOT NULL", (1,), kind="predicate", note="lax check")

# ---------------------------------------------------------------------
# Casts / special (CASE COALESCE NULLIF GREATEST LEAST DECODE NVL IF ...)
# ---------------------------------------------------------------------
_passthrough("COALESCE NULLIF GREATEST LEAST NVL NVL2 IF IFNULL ISNULL")
_reg("DECODE", "", (), libs=(ORACLE, SPARK, HIVE, REDSHIFT), note="variadic passthrough; Spark decode implements the Oracle chain incl. NULL==NULL")
_reg("CAST", "CAST({0} AS {1})", (2,))
_reg("FORMAT", "format_string({0}, {1})", (), libs=(MYSQL,))

# ---------------------------------------------------------------------
# r3 breadth batch — closes the remaining genuinely-new names from a
# mechanical diff against SqlLibraryOperators.java (variants/duplicates
# of already-registered canonical names excluded)
# ---------------------------------------------------------------------
# degree-argument trig (SIND COSD ... ≈ PG/Snowflake)
_reg("SIND", "sin(radians({0}))", (1,), libs=(POSTGRESQL,))
_reg("COSD", "cos(radians({0}))", (1,), libs=(POSTGRESQL,))
_reg("TAND", "tan(radians({0}))", (1,), libs=(POSTGRESQL,))
_reg("ASIND", "degrees(asin({0}))", (1,), libs=(POSTGRESQL,))
_reg("ACOSD", "degrees(acos({0}))", (1,), libs=(POSTGRESQL,))
_reg("ATAND", "degrees(atan({0}))", (1,), libs=(POSTGRESQL,))
# reciprocal hyperbolics + hypot
_reg("COTH", "(cosh({0}) / sinh({0}))", (1,))
_reg("SECH", "(1.0 / cosh({0}))", (1,))
_reg("CSCH", "(1.0 / sinh({0}))", (1,))
_reg(
    "HYPOT", "hypot({0}, {1})", (2,), libs=(SPARK, CLICKHOUSE),
    note="SqlLibraryOperators.java:2588 gates {SPARK, CLICKHOUSE}; "
    "Spark's native hypot honors the 'without intermediate overflow' "
    "contract the old sqrt(pow+pow) lowering violated at |x| > ~1e154",
)
_reg("IS_NAN", "isnan({0})", (1,), libs=(BIG_QUERY,), kind="predicate")
_reg(
    "IS_INF",
    "(abs({0}) = CAST('Infinity' AS DOUBLE))",
    (1,),
    libs=(BIG_QUERY,),
    kind="predicate",
)
_reg("RANDOM", "rand()", (0,), libs=(POSTGRESQL, REDSHIFT))
_reg("TRUNC", _TRUNCATE_TEMPLATE, (1, 2), libs=(POSTGRESQL, ORACLE, BIG_QUERY), defaults=("0",), note="numeric TRUNC alias of TRUNCATE (shared template)")
# string batch
_reg("LEN", "length({0})", (1,), libs=(REDSHIFT, SNOWFLAKE, SPARK))
_reg("LENGTH", "length({0})", (1,), libs=(BIG_QUERY, POSTGRESQL, HIVE, REDSHIFT, SNOWFLAKE, SPARK))
_reg("SUBSTR", "substr({0}, {1}, {2})", (2, 3), libs=(BIG_QUERY, POSTGRESQL, ORACLE, HIVE, MYSQL), defaults=("2147483647",))
_reg("CHAR", "char({0})", (1,), libs=(MYSQL, SPARK), note="code point → string")
_reg("FIND_IN_SET", "find_in_set({0}, {1})", (2,), libs=(MYSQL, HIVE, SPARK))
_reg("SUBSTRING_INDEX", "substring_index({0}, {1}, {2})", (3,), libs=(MYSQL, SPARK))
# (STRING_TO_ARRAY registered above with the full PG-semantics
# template — 3-arg nullstr, ''-delim, NULL-delim char split; the old
# plain \\Q..\\E split form it replaces lacked those branches)
_reg("STARTSWITH", "startswith({0}, {1})", (2,), libs=(SNOWFLAKE, SPARK, CLICKHOUSE), kind="predicate")
_reg("ENDSWITH", "endswith({0}, {1})", (2,), libs=(SNOWFLAKE, SPARK, CLICKHOUSE), kind="predicate")
# empty string → NULL, matching the reference fixture
# (big-query.iq:2433 — the bare split('','') produced [0]; r13 batch 25)
_reg(
    "TO_CODE_POINTS",
    "CASE WHEN length({0}) = 0 THEN NULL "
    "ELSE transform(split({0}, ''), c -> ascii(c)) END",
    (1,),
    libs=(BIG_QUERY,),
    note="BMP code points (ascii() per char)",
)
# NULL input and NULL elements → NULL (big-query.iq:2340,2350 — the
# bare concat_ws SKIPPED nulls, returning '' for a NULL array and 'A'
# for [65, NULL]; r13 batch 25). The CAST types a bare NULL literal so
# the lambda analyzes; >0xFF code points remain a documented delta
# (Spark chr() wraps at 256).
_reg(
    "CODE_POINTS_TO_STRING",
    "CASE WHEN CAST({0} AS ARRAY<INT>) IS NULL "
    "OR exists(CAST({0} AS ARRAY<INT>), c -> c IS NULL) THEN NULL "
    "ELSE concat_ws('', transform(CAST({0} AS ARRAY<INT>), "
    "c -> char(c))) END",
    (1,),
    libs=(BIG_QUERY,),
)
_reg("BASE64", "base64({0})", (1,), libs=(HIVE,), note="HIVE-gated per SqlLibraryOperators.java:1930 (MySQL spells it TO_BASE64)")
_reg("UN_BASE64", "unbase64({0})", (1,), libs=(MYSQL,))
# predicates / operators
# SqlLibraryOperators.java:707-711: REGEXP is {SPARK, HIVE} in the
# reference (babel spark.iq exercises it); MYSQL's infix REGEXP
# operator lowers to the same RLIKE
_reg("REGEXP", "{0} RLIKE {1}", (2,), libs=(SPARK, HIVE, MYSQL), kind="predicate")
_reg("NOT_RLIKE", "NOT ({0} RLIKE {1})", (2,), libs=(MYSQL,), kind="predicate")
_reg("NOT_ILIKE", "NOT ({0} ILIKE {1})", (2,), libs=(POSTGRESQL,), kind="predicate")
_reg("NULL_SAFE_EQUAL", "{0} <=> {1}", (2,), libs=(MYSQL,), kind="predicate")
_reg("GETBIT", "getbit({0}, {1})", (2,))
_reg("BIT_GET", "getbit({0}, {1})", (2,))
_reg("BIT_COUNT", "bit_count({0})", (1,), libs=(MYSQL, BIG_QUERY, SPARK))
# datetime batch (MSSQL/Redshift DATEADD/DATEPART; BigQuery *_ADD/_SUB/
# _DIFF/_TRUNC families over the unified timestamp type)
# r9 audit: neither MySQL nor Oracle has DATEADD — the reference gates
# it {MSSQL, REDSHIFT, SNOWFLAKE} (:132), whose library lookups all hit
# the canonical-unit variants; this base serves library-less calls
_reg("DATEADD", "timestampadd({0}, {1}, {2})", (3,), libs=(MSSQL, REDSHIFT, SNOWFLAKE))
_reg(
    "DATEPART", "date_part('{0}', {1})", (2,), libs=(MSSQL,),
    note="MSSQL-gated per SqlLibraryOperators.java:237 (was mis-gated "
    "MYSQL — MySQL has no DATEPART); unit as BARE identifier, template "
    "quotes it",
)
_reg("DATETIME_ADD", "{0} + {1}", (2,), libs=(BIG_QUERY,))
_reg("TIMESTAMP_ADD", "{0} + {1}", (2,), libs=(BIG_QUERY,),
     note="BigQuery TIMESTAMP_ADD(ts, INTERVAL n unit) — big-query.iq:3232")
_reg("DATETIME_SUB", "{0} - {1}", (2,), libs=(BIG_QUERY,))
# BigQuery DATE_ADD/DATE_SUB take (date, INTERVAL) and return DATE
# (big-query.iq:3137,3373) — a different operator from the Spark/Hive
# int-days base entry (SqlLibraryOperators DATE_ADD:320/DATE_SUB:260
# gate BIG_QUERY); variant keys win there. Sole registration (ADVICE
# r13: an earlier duplicate pair near DATEDIFF was deleted).
_reg("DATE_ADD", "CAST({0} + {1} AS DATE)", (2,), libs=(BIG_QUERY,), variant_of="DATE_ADD")
_reg("DATE_SUB", "CAST({0} - {1} AS DATE)", (2,), libs=(BIG_QUERY,), variant_of="DATE_SUB")
_reg("TIMESTAMP_SUB", "{0} - {1}", (2,), libs=(BIG_QUERY,))
_reg("DATETIME_DIFF", "timestampdiff({2}, {1}, {0})", (3,), libs=(BIG_QUERY,), note="BigQuery arg order: (a, b, part) = a - b")
# full BigQuery unit grammar shared with DATE_TRUNC via the
# translate() dispatch (r13: bare WEEK is SUNDAY-start, WEEK(<day>)
# anchors, ISOWEEK/ISOYEAR; unknown units refuse instead of Spark's
# silent NULL); these keep their TIMESTAMP return type and add the
# sub-day units BigQuery allows on timestamps
_reg("TIMESTAMP_TRUNC", "", (2,), libs=(BIG_QUERY,), note="dispatch")
_reg("DATETIME_TRUNC", "", (2,), libs=(BIG_QUERY,), note="dispatch")
_reg("CURRENT_DATETIME", "current_timestamp()", (0,), libs=(BIG_QUERY,))
_reg("SYSTIMESTAMP", "current_timestamp()", (0,), libs=(ORACLE,))
_reg("DATE_FROM_UNIX_DATE", "date_from_unix_date({0})", (1,), libs=(BIG_QUERY, SPARK))
_reg(
    "DATETIME",
    {
        # civil constructor / instant→civil conversions (BQ DATETIME
        # is Spark's TIMESTAMP_NTZ): 1-arg drops the zone, 2-arg reads
        # the instant's civil time in the named zone
        1: "CAST({0} AS TIMESTAMP_NTZ)",
        2: "CAST(convert_timezone({1}, {0}) AS TIMESTAMP_NTZ)",
        6: "make_timestamp({0}, {1}, {2}, {3}, {4}, {5})",
    },
    (1, 2, 6),
    libs=(BIG_QUERY,),
)
# XML (MySQL ExtractValue / Oracle EXISTSNODE → Spark xpath builtins)
_reg("EXTRACT_VALUE", "xpath_string({0}, {1})", (2,), libs=(MYSQL,))
_reg("EXISTS_NODE", "CASE WHEN xpath_boolean({0}, {1}) THEN 1 ELSE 0 END", (2,), libs=(ORACLE,))
# aggregate aliases: Snowflake's EVERY/SOME equivalents over Spark
# bool_and/bool_or. SqlLibraryOperators.java:785,791 gates BOTH to
# {SNOWFLAKE} only (was mis-gated POSTGRESQL — PG spells them
# BOOL_AND/BOOL_OR, which stay as standard passthroughs)
_reg("BOOLAND_AGG", "bool_and({0})", (1,), libs=(SNOWFLAKE,), kind="aggregate")
_reg("BOOLOR_AGG", "bool_or({0})", (1,), libs=(SNOWFLAKE,), kind="aggregate")

# ---------------------------------------------------------------------
# r8 babel batch 3a — BigQuery SPLIT semantics (big-query.iq:1666-1695;
# SqlLibraryOperators.SPLIT:369). THREE divergences from Spark's split:
# the delimiter is a LITERAL (Spark's is a regex — BQ SPLIT('abc.de.',
# '.') keeps the dots literal where Spark's '.'-regex shreds the whole
# string), the 1-arg form defaults to ',', and '' input yields []
# (Spark yields ['']). One JVM CASE, the same regex-quote trick as
# STRING_TO_ARRAY.
# ---------------------------------------------------------------------
_reg(
    "SPLIT",
    "CASE WHEN {0} IS NULL THEN NULL "
    "WHEN {0} = '' THEN CAST(array() AS ARRAY<STRING>) "
    "WHEN {1} = '' THEN array({0}) "
    "ELSE split({0}, regexp_replace({1}, "
    "'([.^$|?*+()\\\\[\\\\]{}\\\\\\\\])', '\\\\\\\\$1'), -1) END",
    (1, 2),
    libs=(BIG_QUERY,),
    variant_of="SPLIT",
    defaults=("','",),
    note="literal delimiter, ',' default, '' input → empty array, '' "
    "delimiter → [value] (SqlFunctions.split:1023 'prevent mischief'; "
    "r8 review) — exact BigQuery semantics (trailing empty elements "
    "KEPT via limit=-1)",
)

# ---------------------------------------------------------------------
# r8 babel batch 3b — REDSHIFT library tier (SqlLibrary.REDSHIFT;
# babel/src/test/resources/sql/redshift.iq). DATEADD/DATEDIFF/
# DATE_PART take a BARE unit identifier with Redshift's alias zoo
# (m/mon/mons, qtr, w, h/hr, min, s/sec...) and DATEDIFF counts
# BOUNDARY CROSSINGS (PG/DuckDB date_diff style), not full periods —
# both handled by a translate() dispatch (unit normalization + per-unit
# truncating lowering). The rest are direct JVM templates.
# ---------------------------------------------------------------------
_reg("GETDATE", "current_timestamp()", (0,), libs=(REDSHIFT,))
_reg("SYSDATE", "current_timestamp()", (0,), libs=(REDSHIFT,), variant_of="SYSDATE")
_reg("TIMEOFDAY", "date_format(current_timestamp(), 'EEE MMM dd HH:mm:ss.SSSSSS yyyy zzz')", (0,), libs=(REDSHIFT,))
_reg("DEXP", "exp({0})", (1,), libs=(REDSHIFT,))
_reg("DLOG1", "ln({0})", (1,), libs=(REDSHIFT,))
_reg("DLOG10", "log10({0})", (1,), libs=(REDSHIFT,))
_reg("DATE_PART_YEAR", "year(CAST({0} AS DATE))", (1,), libs=(REDSHIFT,))


def _cmp_template(cast: str) -> str:
    a, b = f"CAST({{0}} AS {cast})", f"CAST({{1}} AS {cast})"
    return (
        f"CASE WHEN {a} < {b} THEN -1 WHEN {a} > {b} THEN 1 "
        f"WHEN {a} = {b} THEN 0 END"
    )


_reg("DATE_CMP", _cmp_template("DATE"), (2,), libs=(REDSHIFT,))
_reg("DATE_CMP_TIMESTAMP", _cmp_template("TIMESTAMP"), (2,), libs=(REDSHIFT,))
_reg("TIMESTAMP_CMP", _cmp_template("TIMESTAMP"), (2,), libs=(REDSHIFT,))
_reg("TIMESTAMP_CMP_DATE", _cmp_template("TIMESTAMP"), (2,), libs=(REDSHIFT,))
_reg("MONTHS_BETWEEN", "months_between({0}, {1})", (2,), libs=(REDSHIFT, ORACLE))
_reg(
    "NEXT_DAY", "next_day({0}, {1})", (2,), libs=(REDSHIFT, ORACLE),
    note="Spark accepts 2+ letter day abbreviations ('Tu','Tue',"
    "'Tuesday'); Redshift's single-letter forms ('T') return NULL — "
    "documented divergence",
)
# PG/Redshift binary accessors, 0-based offsets; GET_BIT numbers bits
# LSB-first within each byte (PG bytea convention) — pure hex/conv
# arithmetic, no UDF
_reg(
    "GET_BYTE",
    "CAST(conv(substr(hex({0}), 2 * CAST({1} AS INT) + 1, 2), 16, 10) AS INT)",
    (2,), libs=(REDSHIFT, POSTGRESQL),
)
_reg(
    "GET_BIT",
    "(CAST(conv(substr(hex({0}), 2 * CAST(({1}) DIV 8 AS INT) + 1, 2), "
    "16, 10) AS INT) >> CAST(({1}) % 8 AS INT)) & 1",
    (2,), libs=(REDSHIFT, POSTGRESQL),
)
# DATEADD/DATEDIFF/DATE_PART are registered for lookup; lowering is the
# translate() dispatch (unit aliases + boundary-crossing DATEDIFF)
_reg("DATEADD", "", (3,), libs=(REDSHIFT,), variant_of="DATEADD")
_reg("DATEDIFF", "", (3,), libs=(REDSHIFT,), variant_of="DATEDIFF")
_reg("DATE_PART", "", (2,), libs=(REDSHIFT,), variant_of="DATE_PART")

# Redshift unit-alias zoo → Spark datetime field names
_RS_UNITS = {}
for _canon, _aliases in {
    "YEAR": "y yr yrs year years",
    "QUARTER": "qtr qtrs quarter quarters",
    "MONTH": "m mon mons month months",
    "WEEK": "w week weeks",
    "DAY": "d day days dayofmonth",
    "HOUR": "h hr hrs hour hours",
    "MINUTE": "min mins minute minutes",
    "SECOND": "s sec secs second seconds",
}.items():
    for _a in _aliases.split():
        _RS_UNITS[_a] = _canon


def _rs_unit(arg: str, fn: str) -> str:
    u = arg.strip().strip("'\"").lower()
    if u not in _RS_UNITS:
        raise ValueError(
            f"{fn} (REDSHIFT): unsupported datepart {arg!r} "
            f"(supported aliases: {sorted(_RS_UNITS)})"
        )
    return _RS_UNITS[u]


def _rs_datediff(unit: str, a: str, b: str) -> str:
    """Redshift DATEDIFF counts BOUNDARY CROSSINGS (docs: 'the
    difference between the date parts'), like PG/DuckDB date_diff and
    UNLIKE Spark's timestampdiff (full elapsed periods): datediff(day,
    23:00, next 01:00) = 1. Lowered per unit by truncating both sides
    to the boundary first — fully JVM-side."""
    A, B = f"CAST({a} AS TIMESTAMP)", f"CAST({b} AS TIMESTAMP)"
    if unit == "YEAR":
        return f"CAST(year({B}) - year({A}) AS BIGINT)"
    if unit == "QUARTER":
        return (
            f"CAST((year({B}) * 4 + quarter({B})) - "
            f"(year({A}) * 4 + quarter({A})) AS BIGINT)"
        )
    if unit == "MONTH":
        return (
            f"CAST((year({B}) * 12 + month({B})) - "
            f"(year({A}) * 12 + month({A})) AS BIGINT)"
        )
    if unit == "WEEK":
        return (
            f"CAST(datediff(CAST(date_trunc('WEEK', {B}) AS DATE), "
            f"CAST(date_trunc('WEEK', {A}) AS DATE)) / 7 AS BIGINT)"
        )
    if unit == "DAY":
        return f"CAST(datediff(CAST({B} AS DATE), CAST({A} AS DATE)) AS BIGINT)"
    micros = {"HOUR": 3_600_000_000, "MINUTE": 60_000_000, "SECOND": 1_000_000}[unit]
    return (
        f"CAST((unix_micros(date_trunc('{unit}', {B})) - "
        f"unix_micros(date_trunc('{unit}', {A}))) / {micros} AS BIGINT)"
    )

# ---------------------------------------------------------------------
# r9 library batch — MSSQL / SNOWFLAKE / CLICKHOUSE / CALCITE tiers
# (SqlLibrary.java:72,85,91,66 — the four enum members the registry did
# not yet cover). No babel .iq corpus exists for these dialects, so the
# evidence is unit parity + DuckDB twins (tests/test_library_tiers.py).
# ---------------------------------------------------------------------
# CONVERT(type, expr[, style]) ≡ CAST(expr AS type); the style operand
# is ignored, exactly as the reference's transformConvert delegation
# (SqlLibraryOperators.java:180-215). Registered as a variant so plain
# CONVERT (the standard charset-translation operator, unsupported)
# stays unknown rather than silently casting.
_reg(
    "CONVERT", "CAST({1} AS {0})", (2, 3), libs=(MSSQL,),
    variant_of="CONVERT",
    note="MSSQL_CONVERT: arg order (type, value[, style]); style ignored",
)
# DATEADD/DATEDIFF are shared {MSSQL, REDSHIFT, SNOWFLAKE}
# (SqlLibraryOperators.java:132,166): same boundary-crossing DATEDIFF
# lowering as the REDSHIFT tier above, but the unit vocabulary here is
# the canonical TimeFrameSet names only — the Redshift alias zoo is
# corpus-pinned to redshift.iq, and MSSQL's single-letter forms
# genuinely diverge (T-SQL 'w' = weekday, 'y' = dayofyear, and DATEADD
# treats both as DAY), so anything non-canonical refuses loudly rather
# than risking a silent remap.
_reg("DATEADD", "", (3,), libs=(MSSQL, SNOWFLAKE), variant_of="DATEADD")
_reg("DATEDIFF", "", (3,), libs=(MSSQL, SNOWFLAKE), variant_of="DATEDIFF")

_CANON_UNITS: dict[str, str] = {}
for _canon in ("YEAR", "QUARTER", "MONTH", "WEEK", "DAY", "HOUR", "MINUTE", "SECOND"):
    _CANON_UNITS[_canon.lower()] = _canon
    _CANON_UNITS[_canon.lower() + "s"] = _canon


def _canon_unit(arg: str, fn_name: str, lib_tag: str) -> str:
    u = arg.strip().strip("'\"").lower()
    if u not in _CANON_UNITS:
        raise ValueError(
            f"{fn_name} ({lib_tag}): unsupported datepart {arg!r} — only "
            "canonical unit names are accepted under this library "
            "(dialect abbreviations diverge: T-SQL 'w'=weekday, "
            f"'y'=dayofyear); use one of {sorted(set(_CANON_UNITS.values()))}"
        )
    return _CANON_UNITS[u]


# CONCAT_FUNCTION_WITH_NULL (SqlLibraryOperators.java:1219, {MSSQL,
# POSTGRESQL} exceptLibraries={REDSHIFT}): NULL args become empty
# string, the result is NEVER NULL — Spark's concat NULL-propagates, so
# the lowering coalesces each argument (variadic: translate() dispatch)
_reg(
    "CONCAT", "", (), libs=(MSSQL, POSTGRESQL), variant_of="CONCAT",
    note="null-ignoring CONCAT: CONCAT(NULL, NULL) = '' — see translate()",
)
# CONCAT2 (SqlLibraryOperators.java:1240, {ORACLE, REDSHIFT}): 2-arg,
# NULL treated as '', but ALL-NULL inputs return NULL (unlike the
# MSSQL/PG variant above)
_reg(
    "CONCAT",
    "CASE WHEN {0} IS NULL AND {1} IS NULL THEN NULL "
    "ELSE concat(coalesce(CAST({0} AS STRING), ''), "
    "coalesce(CAST({1} AS STRING), '')) END",
    (2,), libs=(ORACLE, REDSHIFT), variant_of="CONCAT",
    note="CONCAT2 semantics, keyed CONCAT@ORACLE/@REDSHIFT so library "
    "lookups of CONCAT take it over the standard passthrough",
)
# CONCAT_WS_MSSQL (SqlLibraryOperators.java:1304): 3..254 args, never
# returns NULL — a NULL separator is treated as '' (MySQL/PG/Spark
# return NULL there); NULL string args are skipped (Spark native)
_reg(
    "CONCAT_WS", "", (), libs=(MSSQL,), variant_of="CONCAT_WS",
    note="3..254 args; NULL separator → '' — see translate()",
)
# CONCAT_WS_POSTGRESQL (SqlLibraryOperators.java:1280): like MySQL's
# but args may be ANY type — each non-separator arg is cast to string
# (NULLs still skipped; NULL separator still returns NULL)
_reg(
    "CONCAT_WS", "", (), libs=(POSTGRESQL,), variant_of="CONCAT_WS",
    note="any-type args cast to string — see translate()",
)
# Snowflake aggregate aliases land above with their re-gated entries
# (BOOLAND_AGG/BOOLOR_AGG/BITAND_AGG/BITOR_AGG); LEN/LENGTH/STARTSWITH/
# ENDSWITH/HYPOT lib lists extended in place.
# TO_DATE/TO_TIMESTAMP with a PG/Oracle template (TO_DATE
# {ORACLE, REDSHIFT, HIVE} + TO_DATE_PG; TO_TIMESTAMP {ORACLE,
# REDSHIFT} + TO_TIMESTAMP_PG — SqlLibraryOperators.java:2015-2046):
# the base passthrough hands the template to Spark's JAVA-pattern
# parser, where 'YYYY' (week-based year) is banned and 'DD' means
# day-of-YEAR — loud breakage at best, silently wrong dates at worst.
# These variants convert the literal template at plan time with the
# same token map TO_CHAR uses (rendering and parsing share Java
# letters); library-less calls keep the Spark-native passthrough.
# Divergences (documented, tested): parse failure raises under Spark
# ANSI (matching PG) but yields NULL under non-ANSI sessions; month/
# day NAMES parse exact-case.
# arity (1, 2): the 1-arg forms keep their pre-r9 Spark-native
# passthrough (Hive's TO_DATE(ts), default-format TO_TIMESTAMP(s)) —
# the template conversion applies only to the 2-arg templated calls.
# PG's 1-arg TO_TIMESTAMP(epoch DOUBLE) is NOT modeled (the reference
# registers only the 2-arg STRING_STRING operator).
_reg("TO_DATE", "", (1, 2), libs=(POSTGRESQL, ORACLE, REDSHIFT, HIVE), variant_of="TO_DATE")
_reg("TO_TIMESTAMP", "", (1, 2), libs=(POSTGRESQL, ORACLE, REDSHIFT), variant_of="TO_TIMESTAMP")
# CALCITE library: AGGREGATE(m) — the measure-rollup function
# (SqlLibraryOperators.java:101). It has no scalar lowering: the
# measure layer (plans/builder.py, measure.iq tier) expands it at
# plan-build time; a direct translate() is a documented refusal.
_reg(
    "AGGREGATE", "", (1,), libs=(CALCITE,), variant_of="AGGREGATE",
    kind="aggregate",
    note="expanded by the measure layer (plans/builder.py); translate() refuses",
)

# ---------------------------------------------------------------------
# Aggregates (§2.4 table) — registered for name resolution + docs; the
# Aggregate IR node takes them as SQL strings directly
# ---------------------------------------------------------------------
_passthrough(
    "COUNT SUM MIN MAX AVG STDDEV_POP STDDEV_SAMP STDDEV VAR_POP VAR_SAMP "
    "VARIANCE COVAR_POP COVAR_SAMP CORR REGR_COUNT REGR_SXX REGR_SYY "
    "BIT_AND BIT_OR BIT_XOR ANY_VALUE FIRST_VALUE LAST_VALUE NTH_VALUE "
    "LEAD LAG NTILE MODE APPROX_COUNT_DISTINCT BOOL_AND BOOL_OR MAX_BY "
    "MIN_BY COUNT_IF HISTOGRAM PERCENTILE_APPROX MEDIAN GROUPING GROUPING_ID "
    "COLLECT_LIST COLLECT_SET KURTOSIS SKEWNESS",
    kind="aggregate",
)
_reg("SUM0", "coalesce(sum({0}), 0)", (1,), kind="aggregate")
_reg("ARG_MAX", "max_by({0}, {1})", (2,), kind="aggregate")
_reg("ARG_MIN", "min_by({0}, {1})", (2,), kind="aggregate")
_reg("EVERY", "bool_and({0})", (1,), kind="aggregate")
_reg("SOME", "bool_or({0})", (1,), kind="aggregate")
_reg("SINGLE_VALUE", "CASE WHEN count(*) = 1 THEN any_value({0}) END", (1,), kind="aggregate", note="runtime cardinality assert via macro")
_reg("COLLECT", "collect_list({0})", (1,), kind="aggregate")
_reg("FUSION", "flatten(collect_list({0}))", (1,), kind="aggregate")
_reg("INTERSECTION", "aggregate(collect_list({0}), NULL, (acc, x) -> CASE WHEN acc IS NULL THEN x ELSE array_intersect(acc, x) END)", (1,), kind="aggregate")
_reg("LISTAGG", "concat_ws({1}, array_sort(collect_list({0})))", (1, 2), kind="aggregate", defaults=("','",), note="WITHIN GROUP default = value order; 1-arg separator defaults to ','")
_reg("STRING_AGG", "concat_ws({1}, array_sort(collect_list({0})))", (2,), libs=(BIG_QUERY, POSTGRESQL), kind="aggregate")
_reg("GROUP_CONCAT", "concat_ws({1}, array_sort(collect_list({0})))", (1, 2), libs=(MYSQL,), kind="aggregate", defaults=("','",))
_reg("ARRAY_AGG", "collect_list({0})", (1,), libs=(BIG_QUERY, POSTGRESQL), kind="aggregate")
_reg("ARRAY_CONCAT_AGG", "flatten(collect_list({0}))", (1,), libs=(BIG_QUERY, POSTGRESQL), kind="aggregate")
_reg("COUNTIF", "count_if({0})", (1,), libs=(BIG_QUERY,), kind="aggregate")
_reg("LOGICAL_AND", "bool_and({0})", (1,), libs=(BIG_QUERY,), kind="aggregate")
_reg("LOGICAL_OR", "bool_or({0})", (1,), libs=(BIG_QUERY,), kind="aggregate")
_reg("PERCENTILE_CONT", "percentile({0}, {1})", (2,), kind="aggregate", note="WITHIN GROUP order encoded in arg")
_reg("PERCENTILE_DISC", "percentile_disc({1}) WITHIN GROUP (ORDER BY {0})", (2,), kind="aggregate")
# SqlLibraryOperators.java:2772,2778 gates both to {SNOWFLAKE} only
# (was mis-gated ORACLE — Oracle spells them BIT_AND_AGG/BIT_OR_AGG)
_reg("BITAND_AGG", "bit_and({0})", (1,), libs=(SNOWFLAKE,), kind="aggregate")
_reg("BITOR_AGG", "bit_or({0})", (1,), libs=(SNOWFLAKE,), kind="aggregate")
_reg(
    "JSON_OBJECTAGG",
    "to_json(map_from_entries(array_sort(collect_list(struct({0}, {1})))))",
    (2,),
    kind="aggregate",
    note="key-sorted: SQL leaves member order undefined; sorting makes the output a pure function of the input SET (partition-order independent)",
)
_reg(
    "JSON_ARRAYAGG",
    "to_json(array_sort(collect_list({0})))",
    (1,),
    kind="aggregate",
    note="element-sorted for partition-order independence (ORDER BY clause analog)",
)
_reg("GROUP_ID", "GROUP_ID()", (0,), kind="aggregate", note="expanded by ir.Aggregate._to_df_group_id: UNION ALL of per-duplicate-occurrence aggregates (CALCITE-1824); literal 0 when sets are unique")

# Ranking / window-only (§2.5)
_passthrough("RANK DENSE_RANK ROW_NUMBER PERCENT_RANK CUME_DIST", kind="window")


# ---------------------------------------------------------------------
# API
# ---------------------------------------------------------------------


def lookup(name: str, library: str | None = None) -> FnDef | None:
    if library and library != ALL:
        variant = FUNCTIONS.get(f"{name.upper()}@{library}")
        if variant is not None:
            return variant
    fn = FUNCTIONS.get(name.upper())
    if fn is None:
        return None
    if library and library != ALL and library not in fn.libraries and STANDARD not in fn.libraries:
        return None
    return fn


def libraries() -> set[str]:
    return {lib for fn in FUNCTIONS.values() for lib in fn.libraries}


# SQL/JSON calls whose PATH literal needs the real path engine (strict
# mode, wildcards, last): routed to the cs_json_* Pandas UDFs; plain lax
# member/index paths stay on the JVM builtin (the hot path).
_JSON_PATH_DISPATCH = {"JSON_VALUE": "cs_json_value", "JSON_EXISTS": "cs_json_exists"}


def _path_needs_engine(path_arg: str) -> bool:
    s = path_arg.strip()
    if not s or s[0] not in "'\"":
        return False  # non-literal path: stays on the lax JVM builtin
    body = s[1:-1].strip().lower()
    return body.startswith(("strict", "lax")) or "*" in body or "last]" in body


def translate(name: str, *args: str, library: str | None = None) -> str:
    """Calcite operator call → Spark SQL expression string."""
    fn = lookup(name, library)
    if fn is None:
        raise KeyError(f"unknown function {name!r}")
    if fn.name in _JSON_PATH_DISPATCH and len(args) == 2 and _path_needs_engine(args[1]):
        return f"{_JSON_PATH_DISPATCH[fn.name]}({args[0]}, {args[1]})"
    if fn.name == "CONTAINS_SUBSTR" and len(args) == 2:
        import re as _re

        sm = _re.match(
            r"(?is)^\s*(named_struct|struct)\s*\((.*)\)\s*$", args[0]
        ) or _re.match(r"(?is)^\s*(\()((?:.*,.*))\)\s*$", args[0])
        if sm:
            # BQ scans every STRUCT field (big-query.iq:2147-2182):
            # found in any field → TRUE; not found with a NULL field →
            # NULL; else FALSE. The tuple literal arrives as the ROW
            # constructor's named_struct lowering.
            from calcite_spark.sql import lexer

            els = lexer.split_top_level(sm.group(2))
            fields = (
                els[1::2] if sm.group(1).lower() == "named_struct" else els
            )
            if sm.group(1) == "(" and len(els) < 2:
                fields = None  # a parenthesized scalar, not a tuple
            if fields is not None:
                per = [
                    translate(
                        "CONTAINS_SUBSTR",
                        f"CAST({f} AS STRING)",
                        args[1],
                        library=BIG_QUERY,
                    )
                    for f in fields
                ]
                found = " OR ".join(f"({p})" for p in per)
                anynull = " OR ".join(f"({f}) IS NULL" for f in fields)
                return (
                    f"(CASE WHEN {found} THEN TRUE WHEN {anynull} "
                    "THEN CAST(NULL AS BOOLEAN) ELSE FALSE END)"
                )
    if fn.name == "REGEXP_REPLACE" and fn.libraries == (POSTGRESQL,):
        from calcite_spark.functions.pg_regex import pg_regexp_replace

        return pg_regexp_replace(args)
    if fn.name == "TO_CHAR" and len(args) == 2:
        # PG/Oracle template → Java pattern at plan time; only a
        # LITERAL template can be converted (a runtime template would
        # need per-row conversion — refuse rather than emit the
        # silently-wrong passthrough)
        import re as _re

        from calcite_spark.functions.pg_format import (
            pg_datetime_format_to_spark,
        )

        m = _re.match(r"^\s*'((?:[^']|'')*)'\s*$", args[1])
        if not m:
            raise ValueError(
                "TO_CHAR: the datetime template must be a string "
                "literal (PG templates are converted to Spark patterns "
                "at plan time; a column-valued template cannot be)"
            )
        template = m.group(1).replace("''", "'")
        try:
            java = pg_datetime_format_to_spark(template)
            return f"date_format({args[0]}, '{java.replace(chr(39), chr(39) * 2)}')"
        except ValueError:
            # tokens Java patterns cannot render (padded names, PG week
            # numbers, Julian day, ISO-year family, roman months, ...)
            # compile into a composed JVM expression instead; genuinely
            # unsupported tokens (TZ/OF, TH) re-raise from the compiler
            from calcite_spark.functions.pg_format import pg_to_char_expr

            return pg_to_char_expr(args[0], template)
    if fn.arity and len(args) not in fn.arity:
        raise ValueError(f"{name}: arity {len(args)} not in {fn.arity}")
    if fn.name in ("REGEXP_EXTRACT", "REGEXP_SUBSTR") and fn.libraries == (BIG_QUERY,):
        from calcite_spark.functions.bq_regex import bq_regexp_extract

        return bq_regexp_extract(args, fn.name)
    if fn.name == "REGEXP_REPLACE" and fn.libraries == (BIG_QUERY,):
        from calcite_spark.functions.bq_regex import bq_regexp_replace

        return bq_regexp_replace(args)
    if fn.name == "REGEXP_REPLACE" and len(args) > 3:
        from calcite_spark.functions.std_regex import std_regexp_replace

        return std_regexp_replace(args)
    if fn.name == "REGEXP_LIKE" and len(args) == 3:
        from calcite_spark.functions.std_regex import regexp_like

        return regexp_like(args)
    if fn.name == "REGEXP_INSTR":
        import re as _re

        from calcite_spark.functions.std_regex import regexp_instr

        if len(args) > 2 or _re.match(r"^\s*'", args[1]):
            # literal patterns (and every extended-arity call) take the
            # reference-semantics lowering; a non-literal 2-arg pattern
            # keeps the Spark builtin (whole-match position — the
            # group-position distinction needs the literal)
            return regexp_instr(args)
    if fn.name == "REGEXP_EXTRACT_ALL" and fn.libraries == (BIG_QUERY,):
        import re as _re

        if _re.match(r"^\s*'", args[1]):
            from calcite_spark.functions.bq_regex import (
                count_capturing_groups,
            )
            from calcite_spark.functions.pg_regex import (
                _parse_literal,
                _sql_str,
            )

            pat = _parse_literal(args[1], "pattern")
            groups = count_capturing_groups(pat)
            if groups > 1:
                raise ValueError(
                    f"Multiple capturing groups (count={groups}) not "
                    "allowed in regex input for REGEXP_EXTRACT_ALL"
                )
            return (
                f"regexp_extract_all({args[0]}, {_sql_str(pat)}, {groups})"
            )
        return f"regexp_extract_all({args[0]}, {args[1]})"
    if fn.name == "LAST_DAY" and len(args) == 2:
        # BigQuery's 2-arg LAST_DAY(x, date_part) (big-query.iq:4181):
        # the last day of the containing YEAR / QUARTER / MONTH /
        # WEEK[(anchor)] / ISOWEEK / ISOYEAR, always a DATE. The 1-arg
        # form stays Spark's builtin (last day of month).
        import re as _re

        d = args[0]
        unit = args[1].strip().strip("'\"`")
        m = _re.fullmatch(r"(?is)week\s*(?:\(\s*(\w+)\s*\))?", unit)
        if m:
            offs = {
                "MONDAY": 0, "TUESDAY": 1, "WEDNESDAY": 2,
                "THURSDAY": 3, "FRIDAY": 4, "SATURDAY": 5, "SUNDAY": 6,
            }
            day = (m.group(1) or "SUNDAY").upper()
            if day not in offs:
                raise ValueError(
                    f"LAST_DAY: WEEK({m.group(1)}) is not a weekday"
                )
            k = offs[day]
            if k == 0:
                floor = f"CAST(date_trunc('WEEK', {d}) AS DATE)"
            else:
                s = 7 - k
                floor = (
                    f"date_sub(CAST(date_trunc('WEEK', "
                    f"date_add(CAST({d} AS DATE), {s})) AS DATE), {s})"
                )
            return f"date_add({floor}, 6)"
        u = unit.upper()
        if u == "MONTH":
            return f"last_day({d})"
        if u == "YEAR":
            return f"make_date(year({d}), 12, 31)"
        if u == "QUARTER":
            # last day of the quarter's third month
            return (
                f"last_day(add_months(CAST(date_trunc('QUARTER', {d}) "
                f"AS DATE), 2))"
            )
        if u == "ISOWEEK":
            return f"date_add(CAST(date_trunc('WEEK', {d}) AS DATE), 6)"
        if u == "ISOYEAR":
            # the Sunday before the NEXT ISO year's start (the Monday
            # of the week containing Jan 4)
            return (
                f"date_sub(CAST(date_trunc('WEEK', make_date("
                f"extract(YEAROFWEEK FROM {d}) + 1, 1, 4)) AS DATE), 1)"
            )
        raise ValueError(
            f"LAST_DAY: unsupported date_part {args[1]!r} (YEAR, "
            "QUARTER, MONTH, WEEK[(<weekday>)], ISOWEEK, ISOYEAR)"
        )
    if fn.name in (
        "DATE_TRUNC", "DATETIME_TRUNC", "TIMESTAMP_TRUNC"
    ) and fn.libraries == (BIG_QUERY,):
        # BigQuery's full unit grammar, per the reference's EXECUTED
        # fixture (big-query.iq:3853-3871): bare WEEK ≡ WEEK(SUNDAY)
        # (r13 review fix — the first cut silently lowered it to
        # Spark's Monday week), WEEK(<weekday>) floors to that
        # weekday, ISOWEEK is the Monday week, ISOYEAR is the Monday
        # of the week containing Jan 4 (the ISO-8601 year start).
        # Anything else refuses loudly — an unknown unit reaching
        # Spark's date_trunc fmt evaluates to NULL silently.
        # DATE_TRUNC casts back to DATE; the DATETIME/TIMESTAMP
        # siblings keep TIMESTAMP and add BigQuery's sub-day units.
        import re as _re

        d = args[0]
        is_date = fn.name == "DATE_TRUNC"

        def _fin(expr, from_date=False):
            if is_date:
                return f"CAST({expr} AS DATE)"
            return f"CAST({expr} AS TIMESTAMP)" if from_date else expr

        unit = args[1].strip().strip("'\"`")
        m = _re.fullmatch(r"(?is)week\s*(?:\(\s*(\w+)\s*\))?", unit)
        if m:
            offs = {
                "MONDAY": 0, "TUESDAY": 1, "WEDNESDAY": 2,
                "THURSDAY": 3, "FRIDAY": 4, "SATURDAY": 5, "SUNDAY": 6,
            }
            day = (m.group(1) or "SUNDAY").upper()
            if day not in offs:
                raise ValueError(
                    f"{fn.name}: WEEK({m.group(1)}) is not a weekday"
                )
            k = offs[day]
            if k == 0:
                return _fin(f"date_trunc('WEEK', {d})")
            # floor to the previous <day>: shift forward so the Monday
            # floor lands on it, then shift back (pure date arithmetic;
            # the result is that day's midnight either way)
            s = 7 - k
            return _fin(
                f"date_sub(CAST(date_trunc('WEEK', "
                f"date_add(CAST({d} AS DATE), {s})) AS DATE), {s})",
                from_date=True,
            )
        u = unit.upper()
        if u == "ISOWEEK":
            return _fin(f"date_trunc('WEEK', {d})")
        if u == "ISOYEAR":
            return _fin(
                f"CAST(date_trunc('WEEK', make_date("
                f"extract(YEAROFWEEK FROM {d}), 1, 4)) AS DATE)",
                from_date=True,
            )
        day_units = ("YEAR", "QUARTER", "MONTH", "DAY")
        sub_day = ("HOUR", "MINUTE", "SECOND", "MILLISECOND",
                   "MICROSECOND")
        if u in day_units or (not is_date and u in sub_day):
            return _fin(f"date_trunc('{u}', {d})")
        raise ValueError(
            f"{fn.name}: unsupported unit {args[1]!r} (YEAR, QUARTER, "
            "MONTH, WEEK[(<weekday>)], ISOWEEK, ISOYEAR, DAY"
            + (")" if is_date else ", HOUR..MICROSECOND)")
        )
    if (
        fn.name in ("DATEADD", "DATEDIFF", "DATE_PART")
        and not fn.template
        and set(fn.libraries) & {REDSHIFT, MSSQL, SNOWFLAKE}
    ):
        # REDSHIFT keeps its corpus-pinned alias zoo; the MSSQL and
        # SNOWFLAKE variants accept canonical unit names only (their
        # single-letter abbreviations genuinely diverge — refuse loudly)
        if REDSHIFT in fn.libraries:
            unit = _rs_unit(args[0], fn.name)
        else:
            unit = _canon_unit(args[0], fn.name, "/".join(fn.libraries))
        if fn.name == "DATEADD":
            return f"timestampadd({unit}, {args[1]}, CAST({args[2]} AS TIMESTAMP))"
        if fn.name == "DATEDIFF":
            return _rs_datediff(unit, args[1], args[2])
        return f"date_part('{unit}', {args[1]})"
    if fn.name == "CONCAT" and not fn.template and MSSQL in fn.libraries:
        # null-ignoring CONCAT ({MSSQL, POSTGRESQL}): result never NULL
        if not args:
            raise ValueError("CONCAT requires at least 1 argument")
        parts = ", ".join(f"coalesce(CAST({a} AS STRING), '')" for a in args)
        return f"concat({parts})"
    if fn.name == "CONCAT_WS" and not fn.template and MSSQL in fn.libraries:
        # CONCAT_WS_MSSQL: 3..254 operands, NULL separator treated as ''
        if not 3 <= len(args) <= 254:
            raise ValueError(
                f"CONCAT_WS (MSSQL): between 3 and 254 arguments required, "
                f"got {len(args)}"
            )
        return f"concat_ws(coalesce({args[0]}, ''), {', '.join(args[1:])})"
    if fn.name == "CONCAT_WS" and not fn.template and fn.libraries == (POSTGRESQL,):
        # CONCAT_WS_POSTGRESQL: any-type args cast to string (NULLs
        # skipped by Spark's native concat_ws; NULL separator → NULL)
        if len(args) < 2:
            raise ValueError("CONCAT_WS requires a separator and at least 1 argument")
        parts = ", ".join(f"CAST({a} AS STRING)" for a in args[1:])
        return f"concat_ws({args[0]}, {parts})"
    if fn.name == "AGGREGATE" and CALCITE in fn.libraries:
        raise ValueError(
            "AGGREGATE(measure) is expanded at plan-build time by the "
            "measure layer (plans/builder.py); it has no scalar lowering"
        )
    if fn.name in ("FORMAT_TIME", "PARSE_TIME"):
        raise ValueError(
            f"{fn.name}: no TIME type in Spark (SURVEY §1.2) — "
            "FORMAT_DATETIME/PARSE_DATETIME cover the timestamp forms"
        )
    if fn.name in (
        "FORMAT_DATE", "FORMAT_DATETIME", "FORMAT_TIMESTAMP",
        "PARSE_DATE", "PARSE_DATETIME", "PARSE_TIMESTAMP",
    ) and not fn.template:
        import re as _re

        from calcite_spark.functions.bq_format import (
            bq_format_expr,
            bq_parse_pattern,
        )

        if len(args) == 3:
            tz = args[2].strip().strip("'\"")
            if tz.upper() != "UTC":
                raise ValueError(
                    f"{fn.name}: only the literal 'UTC' timezone operand "
                    "is supported (the engine session runs in UTC; other "
                    "zones would silently shift values)"
                )
        m = _re.match(r"^\s*'((?:[^']|'')*)'\s*$", args[0])
        if not m:
            raise ValueError(
                f"{fn.name}: the format string must be a literal "
                "(BQ %-elements are converted to Spark patterns at plan "
                "time; a column-valued format cannot be)"
            )
        fmt = m.group(1).replace("''", "'")
        if fn.name.startswith("FORMAT_"):
            return bq_format_expr(args[1], fmt)
        if "%c" in fmt and fmt.strip() == "%c":
            # %c = 'Dy Mon DD HH24:MI:SS YYYY' — Java parse patterns
            # reject weekday names (E is render-only in Spark), but
            # the pg_parse field-extraction compiler matches and
            # ignores them (big-query.iq:4756)
            from calcite_spark.functions.pg_parse import compile_pg_parse

            return compile_pg_parse(
                args[1], "Dy Mon DD HH24:MI:SS YYYY",
                to_date=fn.name == "PARSE_DATE",
            )
        java = bq_parse_pattern(fmt).replace("'", "''")
        spark_fn = "to_date" if fn.name == "PARSE_DATE" else "to_timestamp"
        return f"{spark_fn}({args[1]}, '{java}')"
    if (
        fn.name in ("TO_DATE", "TO_TIMESTAMP")
        and not fn.template
        and POSTGRESQL in fn.libraries
    ):
        spark_fn = "to_date" if fn.name == "TO_DATE" else "to_timestamp"
        if len(args) == 1:
            # 1-arg forms stay Spark-native (Hive TO_DATE(ts), default
            # ISO parse) — no template to convert
            return f"{spark_fn}({args[0]})"
        import re as _re

        from calcite_spark.functions.pg_parse import compile_pg_parse

        m = _re.match(r"^\s*'((?:[^']|'')*)'\s*$", args[1])
        if not m:
            raise ValueError(
                f"{fn.name}: the template must be a string literal "
                "(PG/Oracle templates are converted to Spark parse "
                "patterns at plan time; a column-valued template cannot be)"
            )
        # r14: compiled field-extraction parse (pg_parse.py) replaces
        # the Java-pattern conversion — the babel battery
        # (postgresql.iq:529-1250) pins PG semantics Java patterns
        # cannot express: 0001 defaults for missing fields, lenient
        # 1-digit numbers, short-year completion, ISO week dates,
        # Julian days, Roman months. Mismatched input still RAISES
        # (PG errors; NULL input stays NULL).
        return compile_pg_parse(
            args[0],
            m.group(1).replace("''", "'"),
            to_date=fn.name == "TO_DATE",
        )
    if not fn.template:
        return f"{name.lower()}({', '.join(args)})"
    if isinstance(fn.template, dict):
        out = fn.template[len(args)]  # per-arity lowering
    else:
        if fn.defaults and fn.arity:
            missing = max(fn.arity) - len(args)
            if 0 < missing <= len(fn.defaults):
                if fn.defaults_prepend:
                    args = fn.defaults[:missing] + tuple(args)
                else:
                    args = tuple(args) + fn.defaults[-missing:]
        out = fn.template
    for i, a in enumerate(args):
        out = out.replace("{" + str(i) + "}", a)
    return out
