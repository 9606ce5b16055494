"""IR → SQL emitter ≈ Calcite's rel2sql
(rel/rel2sql/RelToSqlConverter.java:135 + SqlImplementor.java) with
pluggable dialects (sql/dialect/ — 39 files; we ship all THIRTY-NINE,
one class per reference file — see the DIALECTS registry at the bottom).
Heavyweight dialects (Spark, DuckDB, PostgreSQL, MySQL, BigQuery,
Oracle, MSSQL, Trino, Hive, Snowflake, ClickHouse, Redshift, SQLite,
Presto, Vertica, ...) carry full rewrite/refusal surfaces; the ANSI
family mirrors the reference's thin tail (nine of its files are pure
product tags with zero behavior overrides).

Why this exists (same reason as Calcite's):
  * whole-query pushdown — the JDBC adapter's reusable half
    (adapter/jdbc/JdbcRules.java:381-787 pushes Join/Project/Filter/
    Aggregate/Sort by converting the subtree to the remote dialect's
    SQL). Emitting SQL needs no driver jar; execution does.
  * oracle generation — the DuckDB dialect can emit the correctness
    oracle FROM the same IR that produces the Spark DataFrame, removing
    hand-written-oracle drift (the q14 class of bug).
  * plan portability/debugging — a printable, runnable form of any IR.

Scalar expressions in our IR are Spark SQL strings (≈ RexNode in SQL
form), so the Spark dialect emits them verbatim; the DuckDB dialect
rewrites a registered set of function names and REFUSES (raises
UnsupportedDialectExpression) on calls outside the shared surface —
a wrong oracle is worse than no oracle.
"""

from __future__ import annotations

import re

from calcite_spark.plans import ir
from calcite_spark.sql import lexer


class UnsupportedDialectExpression(Exception):
    """An expression uses functions the target dialect cannot replay."""


# functions spelled identically in Spark SQL and DuckDB (shared surface)
_SHARED_FNS = {
    "sum", "count", "min", "max", "avg", "round", "abs", "coalesce",
    "cast", "try_cast", "extract", "year", "month", "day", "hour",
    "minute", "second", "floor", "ceil", "ceiling", "lower", "upper",
    "length", "trim", "ltrim", "rtrim", "concat", "concat_ws",
    "substring", "substr", "replace", "greatest", "least", "nullif",
    "stddev", "stddev_pop", "stddev_samp", "var_pop", "var_samp",
    "variance", "covar_pop", "covar_samp", "corr", "row_number", "rank",
    "dense_rank", "lag", "lead", "ntile", "first_value", "last_value",
    "nth_value", "percent_rank", "cume_dist", "md5", "regexp_replace",
    "date_trunc", "sign", "sqrt", "power", "exp", "ln", "log10", "mod",
    "grouping", "left", "right", "repeat", "reverse", "instr",
    "levenshtein", "pi", "date_part", "last_day", "nullif", "if",
}

# Spark name → DuckDB name (arg order/semantics must match 1:1)
_DUCKDB_FN_MAP = {
    "size": "len",
    "array_join": "array_to_string",
    "sort_array": "list_sort",
    "collect_list": "list",
    "array_contains": "list_contains",
    "array_distinct": "list_distinct",
    "array_max": "list_max",
    "array_min": "list_min",
    "element_at": "list_extract",
    "startswith": "starts_with",
    "endswith": "ends_with",
    "ceil": "ceiling",
    "count_if": "count_if",
    "bool_and": "bool_and",
    "bool_or": "bool_or",
    "percentile": "quantile_cont",
    "std": "stddev",
}

# tokens that look like calls but are SQL syntax, not functions
_KEYWORDS = {
    "in", "and", "or", "not", "when", "then", "else", "case", "end",
    "over", "partition", "by", "as", "on", "where", "group", "order",
    "between", "like", "rlike", "is", "null", "distinct", "filter",
    "interval", "values", "exists", "all", "any", "some", "asc", "desc",
    "rows", "range", "unbounded", "preceding", "following", "current",
    "row", "nulls", "first", "last", "select", "from", "join", "union",
    "grouping", "sets", "int", "bigint", "double", "string", "date",
    "timestamp", "decimal", "boolean",
    # parenthesized CAST target types (VARCHAR(MAX), NUMBER(10), ...)
    # produced by dialect type maps — type tokens, not function calls
    "varchar", "varchar2", "number", "varbinary", "char", "numeric",
}

_CALL_RE = re.compile(r"\b([A-Za-z_]\w*)\s*\(")


def _check_and_map_calls(text: str, shared: set, fn_map: dict, dialect: str) -> str:
    """Shared refuse-over-wrong core: every function call outside the
    dialect's known surface raises; known calls are renamed via fn_map."""
    unknown = []
    for m in lexer.finditer(_CALL_RE, text):
        fn = m.group(1).lower()
        if fn in _KEYWORDS or fn in shared or fn in fn_map:
            continue
        unknown.append(fn)
    if unknown:
        raise UnsupportedDialectExpression(
            f"{dialect} dialect cannot replay function(s) {sorted(set(unknown))} "
            f"in expression: {text!r}"
        )

    return lexer.sub(
        _CALL_RE,
        lambda m: f"{fn_map.get(m.group(1).lower(), m.group(1))}(",
        text,
    )


class Dialect:
    """≈ sql/SqlDialect.java — expression + clause rendering hooks."""

    name = "spark"
    semi_join_kw = "LEFT SEMI JOIN"
    anti_join_kw = "LEFT ANTI JOIN"
    # can a missing SEMI/ANTI keyword fall back to correlated
    # [NOT] EXISTS? False for engines that don't decorrelate (ClickHouse)
    supports_exists_subquery = True
    # native SQL:2003 MERGE statement (TableModify Operation.MERGE).
    # Default False = refuse-over-wrong; set True only on dialects whose
    # public docs ship MERGE INTO. Notable refusals: DuckDB 1.0, SQLite,
    # MySQL (ON DUPLICATE KEY is not MERGE), ClickHouse,
    # StarRocks/Doris, and the legacy product tags (Ingres, Interbase,
    # LucidDB, Neoview, Netezza, Paraccel, Access, Infobright,
    # JethroData, Phoenix (UPSERT), Firebolt).
    _merge = False

    def expr(self, text: str) -> str:
        return text

    def sort_key(self, text: str) -> str:
        return text

    def setop_kw(self, kind: str) -> str:
        return {
            "UNION": "UNION",
            "UNION_ALL": "UNION ALL",
            "INTERSECT": "INTERSECT",
            "INTERSECT_ALL": "INTERSECT ALL",
            "EXCEPT": "EXCEPT",
            "EXCEPT_ALL": "EXCEPT ALL",
        }[kind]

    def rollup_clause(self, keys: list[str]) -> str:
        return f" GROUP BY ROLLUP ({', '.join(keys)})"

    def cube_clause(self, keys: list[str]) -> str:
        return f" GROUP BY CUBE ({', '.join(keys)})"

    def grouping_sets_clause(self, sets_sql: str) -> str:
        return f" GROUP BY GROUPING SETS ({sets_sql})"

    def values(self, rows, names, alias: str = "t") -> str:
        body = ", ".join(self._row(r) for r in rows)
        return f"VALUES {body} AS {alias}({', '.join(names)})"

    def _row(self, row) -> str:
        return "(" + ", ".join(self.literal(v) for v in row) + ")"

    def literal(self, v) -> str:
        if v is None:
            return "NULL"
        if isinstance(v, bool):
            return "TRUE" if v else "FALSE"
        if isinstance(v, str):
            return "'" + v.replace("'", "''") + "'"
        return str(v)

    def fetch_clause(self, offset, fetch, has_order: bool):
        """Render OFFSET/LIMIT. Default: the LIMIT n OFFSET m form
        (Spark/DuckDB/PG/MySQL/BigQuery all accept it). Dialects return
        either a string clause or the tuple ("top", n) to request a
        SELECT TOP n wrap (MSSQL without ORDER BY)."""
        c = ""
        if fetch is not None:
            c += f" LIMIT {fetch}"
        if offset:
            c += f" OFFSET {offset}"
        return c

    def derived_table(self, body: str, alias: str) -> str:
        """Render a parenthesized sub-select with its alias. ANSI allows
        the AS keyword; Oracle rejects it before table aliases
        (ORA-00933) — OracleSqlDialect omits it for the same reason."""
        return f"{body} AS {alias}"

    def scan_item(self, table: str) -> str:
        """A bare table in FROM position. Db2 overrides: its reference
        context sets hasImplicitTableAlias()=false
        (Db2SqlDialect.java:38), so every scan carries an explicit
        alias."""
        return table

    def join_kw(self, jt: str) -> str:
        """Keyword for a join type the dialect supports natively.
        H2 overrides to refuse FULL (H2SqlDialect.supportsJoinType)."""
        return {
            "INNER": "JOIN",
            "LEFT": "LEFT JOIN",
            "RIGHT": "RIGHT JOIN",
            "FULL": "FULL JOIN",
            "SEMI": self.semi_join_kw,
            "ANTI": self.anti_join_kw,
        }[jt]

    def setop_part(self, sql: str, alias: str) -> str:
        """One operand of a compound SELECT. ANSI engines accept the
        parenthesized form; SQLite rejects it and overrides this to a
        derived-table wrap."""
        return f"({sql})"

    def _values_as_union(self, rows, names, from_suffix: str = "", alias: str = "t") -> str:
        """VALUES emulation for dialects without a FROM-position VALUES
        clause (BigQuery; MySQL pre-8.0.19 ROW syntax is awkward; Oracle
        needs a FROM DUAL suffix): the SELECT ... UNION ALL SELECT form
        Calcite's BigQuerySqlDialect unparses."""
        selects = []
        for i, row in enumerate(rows):
            cols = (
                ", ".join(
                    f"{self.literal(v)} AS {n}" for v, n in zip(row, names)
                )
                if i == 0
                else ", ".join(self.literal(v) for v in row)
            )
            selects.append(f"SELECT {cols}{from_suffix}")
        return self.derived_table(f"({' UNION ALL '.join(selects)})", alias)


class SparkDialect(Dialect):
    name = "spark"

    _merge = True  # native MERGE INTO (v2/Delta/Iceberg tables)


class DuckDBDialect(Dialect):
    """≈ sql/dialect/DuckDBSqlDialect.java. Expression strings are Spark
    SQL; rewrite the registered function names and refuse anything
    outside the shared surface."""

    name = "duckdb"
    semi_join_kw = "SEMI JOIN"
    anti_join_kw = "ANTI JOIN"

    def expr(self, text: str) -> str:
        return _check_and_map_calls(text, _SHARED_FNS, _DUCKDB_FN_MAP, "duckdb")

    def sort_key(self, text: str) -> str:
        # DuckDB's un-annotated default (default_null_order) is NULLS
        # LAST — the opposite of Spark on ASC keys — so the generated
        # oracle makes Spark's effective placement explicit
        return _sort_key_explicit_nulls(self.expr, text)

    def values(self, rows, names, alias: str = "t") -> str:
        body = ", ".join(self._row(r) for r in rows)
        return f"(VALUES {body}) AS {alias}({', '.join(names)})"


# Spark-SQL functions that are valid PostgreSQL verbatim
_PG_SHARED = {
    "sum", "count", "min", "max", "avg", "round", "abs", "coalesce",
    "cast", "extract", "floor", "ceil", "ceiling", "lower", "upper",
    "length", "trim", "ltrim", "rtrim", "concat", "concat_ws",
    "substring", "substr", "replace", "greatest", "least", "nullif",
    "stddev", "stddev_pop", "stddev_samp", "var_pop", "var_samp",
    "variance", "covar_pop", "covar_samp", "corr", "row_number", "rank",
    "dense_rank", "lag", "lead", "ntile", "first_value", "last_value",
    "nth_value", "percent_rank", "cume_dist", "md5", "regexp_replace",
    "date_trunc", "sign", "sqrt", "power", "exp", "ln", "log10", "mod",
    "left", "right", "repeat", "reverse", "pi", "date_part", "strpos",
    "grouping",
}

# Spark name → PostgreSQL name (arg order/semantics 1:1)
_PG_FN_MAP = {
    "instr": "strpos",
    "collect_list": "array_agg",
    "array_join": "array_to_string",
    "startswith": "starts_with",
    "size": "cardinality",
    "std": "stddev",
}

# Spark EXTRACT shorthands PostgreSQL lacks as functions
_PG_EXTRACT_UNITS = re.compile(
    r"\b(year|quarter|month|day|hour|minute|second)\s*\(", re.I
)

# Spark type name → PostgreSQL type name inside CAST targets
_PG_TYPE_MAP = {
    "string": "TEXT",
    "double": "DOUBLE PRECISION",
    "float": "REAL",
    "binary": "BYTEA",
    "tinyint": "SMALLINT",
    "long": "BIGINT",
}


_SORT_KEY_RE = re.compile(
    r"(?is)^(.*?)(\s+(?:ASC|DESC))?(?:\s+NULLS\s+(FIRST|LAST))?\s*$"
)


_DATE_TRUNC_RE = re.compile(r"(?i)\bdate_trunc\s*\(\s*'([^']*)'\s*,\s*")


def _rewrite_date_trunc_to_trunc(text: str, fmt_map: dict, dialect: str) -> str:
    """date_trunc('unit', x) → TRUNC(x, 'fmt') for engines whose
    datetime-floor spelling is Oracle-style TRUNC: Oracle
    (OracleSqlDialect's FLOOR unparse via SqlFloorFunction) and HSQLDB
    (HsqldbSqlDialect.convertTimeUnit + unparseDatetimeFunction
    "TRUNC"). Units outside the engine's format-element list refuse."""
    while True:
        m = lexer.search(_DATE_TRUNC_RE, text)
        if not m:
            return text
        unit = m.group(1).lower()
        if unit not in fmt_map:
            raise UnsupportedDialectExpression(
                f"{dialect} TRUNC has no format element for unit {unit!r}"
            )
        fmt = fmt_map[unit]
        arg, close = lexer.balanced_span(text, m.end())
        text = (
            text[: m.start()]
            + f"TRUNC({_rewrite_date_trunc_to_trunc(arg, fmt_map, dialect)}, '{fmt}')"
            + text[close + 1 :]
        )


def _sort_key_explicit_nulls(expr_fn, text: str) -> str:
    """Sort key with Spark's EFFECTIVE null placement made explicit —
    for engines whose un-annotated default differs from Spark's
    low-nulls rule (ASC ⇒ NULLS FIRST, DESC ⇒ NULLS LAST): the
    PostgreSQL family and Oracle/Derby sort nulls HIGH, Snowflake/
    Trino/ClickHouse/DuckDB default to NULLS LAST. A bare key pushed
    to those engines silently reorders (and under LIMIT, changes WHICH
    rows come back), so every emitted key carries NULLS FIRST/LAST —
    syntax all of these engines accept."""
    m = _SORT_KEY_RE.match(text.strip())
    expr = expr_fn(m.group(1))
    direction = (m.group(2) or "").strip().upper()
    nulls = (m.group(3) or "").upper()
    if not nulls:
        nulls = "LAST" if direction == "DESC" else "FIRST"
    d = f" {direction}" if direction else ""
    return f"{expr}{d} NULLS {nulls}"


def _rewrite_extract_units(text: str) -> str:
    """`year(x)`-style unit shorthands → `EXTRACT(YEAR FROM x)` for
    dialects that lack the shorthand functions (PostgreSQL, BigQuery,
    Oracle). Recurses into arguments; string literals are opaque."""
    m = lexer.search(_PG_EXTRACT_UNITS, text)
    while m:
        arg, close = lexer.balanced_span(text, m.end())
        unit = m.group(1).upper()
        head = (
            text[: m.start()]
            + f"EXTRACT({unit} FROM {_rewrite_extract_units(arg)})"
        )
        text = head + text[close + 1 :]
        m = lexer.search(_PG_EXTRACT_UNITS, text, len(head))
    return text


def _rewrite_cast_types(
    text: str,
    type_map: dict,
    refuse: frozenset = frozenset(),
    strip_args: frozenset = frozenset(),
) -> str:
    """Rewrite Spark type names inside CAST(... AS <type>) targets using
    type_map; nested CASTs recurse. String literals are opaque. Types in
    `refuse` raise — the dialect has no equivalent cast target (e.g.
    BOOLEAN on Oracle), and passing the Spark name through would emit
    SQL the remote engine rejects or silently mis-types. Types in
    `strip_args` drop a parenthesized precision suffix after mapping —
    mirrors SqlAlienSystemTypeNameSpec cast specs that carry no
    precision (e.g. Firebolt DECIMAL(p,s) → bare FLOAT,
    FireboltSqlDialect.java:150-152)."""
    out, i = [], 0
    while True:
        m = lexer.search(r"(?i)\bcast\s*\(", text, i)
        if not m:
            out.append(text[i:])
            break
        arg, close = lexer.balanced_span(text, m.end())
        # nested CASTs keep the refusal/strip lists
        arg = _rewrite_cast_types(arg, type_map, refuse, strip_args)
        # the cast type is the token after the LAST top-level " AS "
        last_as = max(lexer.iter_top_level(arg, "AS"), default=-1)
        if last_as >= 0:
            head, ty = arg[: last_as + 2], arg[last_as + 2 :].strip()
            base = re.match(r"[A-Za-z_]+", ty)
            if base and base.group(0).lower() in refuse:
                raise UnsupportedDialectExpression(
                    f"dialect has no CAST target for {base.group(0)!r} "
                    f"in expression: {text!r}"
                )
            if base and base.group(0).lower() in type_map:
                mapped = type_map[base.group(0).lower()]
                suffix = ty[base.end() :]
                if base.group(0).lower() in strip_args:
                    suffix = re.sub(r"^\s*\([^)]*\)", "", suffix)
                ty = mapped + suffix
            arg = f"{head} {ty}"
        out.append(text[i : m.start()] + "CAST(" + arg + ")")
        i = close + 1
    return "".join(out)


class PostgresDialect(Dialect):
    """≈ sql/dialect/PostgresqlSqlDialect.java. Same refuse-over-wrong
    contract as DuckDB; adds the structural rewrites PostgreSQL needs:
    `year(x)` → `EXTRACT(YEAR FROM x)` (PG has no unit shorthands),
    Spark type names inside CAST targets (STRING→TEXT, DOUBLE→DOUBLE
    PRECISION, ...), and SEMI/ANTI joins lowered to [NOT] EXISTS
    (PostgreSQL has no SEMI JOIN keyword — same lowering Calcite's
    converter performs for dialects without it)."""

    name = "postgres"
    _merge = True  # native MERGE INTO
    semi_join_kw = None
    anti_join_kw = None

    def _rewrite_extract(self, text: str) -> str:
        return _rewrite_extract_units(text)

    def _rewrite_cast_types(self, text: str) -> str:
        return _rewrite_cast_types(text, _PG_TYPE_MAP)

    def expr(self, text: str) -> str:
        text = self._rewrite_extract(text)
        text = self._rewrite_cast_types(text)
        return _check_and_map_calls(text, _PG_SHARED, _PG_FN_MAP, "postgres")

    def sort_key(self, text: str) -> str:
        return _sort_key_explicit_nulls(self.expr, text)

    def values(self, rows, names, alias: str = "t") -> str:
        body = ", ".join(self._row(r) for r in rows)
        return f"(VALUES {body}) AS {alias}({', '.join(names)})"


# Spark-SQL functions that are valid MySQL 8.0 verbatim. Deliberately
# excluded (refuse-over-wrong): date_trunc/date_part (MySQL has neither),
# covar_*/corr (no MySQL equivalents), array/list functions (no arrays).
_MYSQL_SHARED = {
    "sum", "count", "min", "max", "avg", "round", "abs", "coalesce",
    "cast", "extract", "year", "quarter", "month", "day", "hour",
    "minute", "second", "floor", "ceil", "ceiling", "lower", "upper",
    "length", "trim", "ltrim", "rtrim", "concat", "concat_ws",
    "substring", "substr", "replace", "greatest", "least", "nullif",
    "stddev", "stddev_pop", "stddev_samp", "var_pop", "var_samp",
    "variance", "row_number", "rank", "dense_rank", "lag", "lead",
    "ntile", "first_value", "last_value", "nth_value", "percent_rank",
    "cume_dist", "md5", "regexp_replace", "sign", "sqrt", "power",
    "exp", "ln", "log10", "mod", "left", "right", "repeat", "reverse",
    "instr", "pi", "last_day", "if", "isnull",
}

_MYSQL_FN_MAP = {
    "std": "stddev",
}

# MySQL CAST targets are a closed list (CHAR, SIGNED, UNSIGNED, DECIMAL,
# DATE, DATETIME, TIME, DOUBLE, FLOAT, JSON, BINARY) — MysqlSqlDialect
# castSpec(): BOOLEAN/TIMESTAMP have no cast form and refuse via the
# unknown-type passthrough staying as-is (MySQL errors at execution).
_MYSQL_TYPE_MAP = {
    "string": "CHAR",
    "int": "SIGNED",
    "integer": "SIGNED",
    "bigint": "SIGNED",
    "smallint": "SIGNED",
    "tinyint": "SIGNED",
    "long": "SIGNED",
    "timestamp": "DATETIME",
}


class MySQLDialect(Dialect):
    """≈ sql/dialect/MysqlSqlDialect.java. Refuse-over-wrong like the
    other remote dialects; the MySQL-specific structural forms:
      * SEMI/ANTI → [NOT] EXISTS (no SEMI JOIN keyword),
      * ROLLUP → `GROUP BY ... WITH ROLLUP` (supportsGroupByWithRollup);
        CUBE / GROUPING SETS refused (MySQL 8.0 has neither),
      * NULLS FIRST/LAST → ISNULL(x) prefix key
        (MysqlSqlDialect.emulateNullDirection — MySQL lacks the syntax),
      * VALUES in FROM → SELECT ... UNION ALL emulation,
      * CAST targets restricted to MySQL's closed type list."""

    name = "mysql"
    semi_join_kw = None
    anti_join_kw = None

    def expr(self, text: str) -> str:
        text = _rewrite_cast_types(text, _MYSQL_TYPE_MAP)
        return _check_and_map_calls(text, _MYSQL_SHARED, _MYSQL_FN_MAP, self.name)

    def sort_key(self, text: str) -> str:
        m = re.match(
            r"(?is)^(.*?)(\s+(?:ASC|DESC))?(?:\s+NULLS\s+(FIRST|LAST))?\s*$",
            text.strip(),
        )
        expr = self.expr(m.group(1))
        direction = (m.group(2) or "").strip()
        nulls = m.group(3)
        if not nulls:
            return f"{expr} {direction}".strip()
        # ISNULL(x) DESC sorts nulls first, ASC sorts them last
        isnull_dir = "DESC" if nulls.upper() == "FIRST" else "ASC"
        key = f"ISNULL({expr}) {isnull_dir}, {expr}"
        return f"{key} {direction}".strip()

    def rollup_clause(self, keys: list[str]) -> str:
        return f" GROUP BY {', '.join(keys)} WITH ROLLUP"

    def cube_clause(self, keys: list[str]) -> str:
        raise UnsupportedDialectExpression("MySQL has no GROUP BY CUBE")

    def grouping_sets_clause(self, sets_sql: str) -> str:
        raise UnsupportedDialectExpression("MySQL has no GROUPING SETS")

    def values(self, rows, names, alias: str = "t") -> str:
        return self._values_as_union(rows, names, alias=alias)


# Spark-SQL functions that are valid BigQuery (GoogleSQL) verbatim.
# Deliberately excluded: md5 (BQ returns BYTES, Spark hex STRING —
# silently different values), log10 (BQ spells it LOG(x, 10)),
# date_part (BQ EXTRACT only).
_BQ_SHARED = {
    "sum", "count", "min", "max", "avg", "round", "abs", "coalesce",
    "cast", "extract", "floor", "ceil", "ceiling", "lower", "upper",
    "length", "trim", "ltrim", "rtrim", "concat", "substring", "substr",
    "replace", "greatest", "least", "nullif", "stddev", "stddev_pop",
    "stddev_samp", "var_pop", "var_samp", "variance", "covar_pop",
    "covar_samp", "corr", "row_number", "rank", "dense_rank", "lag",
    "lead", "ntile", "first_value", "last_value", "nth_value",
    "percent_rank", "cume_dist", "regexp_replace", "sign", "sqrt",
    "exp", "ln", "mod", "left", "right", "repeat", "reverse",
    "last_day", "if", "grouping",
}

_BQ_FN_MAP = {
    "instr": "strpos",
    "power": "pow",
    "collect_list": "array_agg",
    "size": "array_length",
    "startswith": "starts_with",
    "endswith": "ends_with",
    "std": "stddev",
}

_BQ_TYPE_MAP = {
    "string": "STRING",
    "double": "FLOAT64",
    "float": "FLOAT64",
    "int": "INT64",
    "integer": "INT64",
    "bigint": "INT64",
    "smallint": "INT64",
    "tinyint": "INT64",
    "long": "INT64",
    "decimal": "NUMERIC",
    "boolean": "BOOL",
    "binary": "BYTES",
}

_BQ_TRUNC_UNITS = {
    "year", "quarter", "month", "week", "day", "hour", "minute", "second",
    # Spark date_trunc aliases
    "yyyy", "yy", "mon", "mm", "dd",
}
_BQ_UNIT_CANON = {
    "yyyy": "YEAR", "yy": "YEAR", "mon": "MONTH", "mm": "MONTH", "dd": "DAY",
    # Spark date_trunc('week') snaps to MONDAY (ISO); bare BigQuery
    # WEEK is WEEK(SUNDAY) — a silent one-day divergence. ISOWEEK is
    # the Monday-anchored unit.
    "week": "ISOWEEK",
}


class BigQueryDialect(Dialect):
    """≈ sql/dialect/BigQuerySqlDialect.java. BigQuery-specific forms:
      * bare UNION/INTERSECT/EXCEPT are invalid — GoogleSQL requires the
        DISTINCT keyword; INTERSECT ALL / EXCEPT ALL do not exist and
        refuse,
      * SEMI/ANTI → [NOT] EXISTS,
      * VALUES in FROM → SELECT ... UNION ALL emulation (BQ has no
        FROM-position VALUES),
      * Spark `date_trunc('unit', x)` → `TIMESTAMP_TRUNC(x, UNIT)`
        (argument order flips, unit becomes a bare keyword),
      * `year(x)`-style shorthands → EXTRACT (GoogleSQL has none),
      * Spark type names → GoogleSQL (STRING/FLOAT64/INT64/NUMERIC/...)."""

    name = "bigquery"
    _merge = True  # native MERGE INTO
    semi_join_kw = None
    anti_join_kw = None

    def _rewrite_extract(self, text: str) -> str:
        return _rewrite_extract_units(text)

    def _rewrite_date_trunc(self, text: str) -> str:
        while True:
            m = lexer.search(_DATE_TRUNC_RE, text)
            if not m:
                return text
            unit = m.group(1).lower()
            if unit not in _BQ_TRUNC_UNITS:
                raise UnsupportedDialectExpression(
                    f"bigquery TIMESTAMP_TRUNC has no unit {unit!r}"
                )
            canon = _BQ_UNIT_CANON.get(unit, unit.upper())
            arg, close = lexer.balanced_span(text, m.end())
            text = (
                text[: m.start()]
                + f"TIMESTAMP_TRUNC({self._rewrite_date_trunc(arg)}, {canon})"
                + text[close + 1 :]
            )

    def expr(self, text: str) -> str:
        text = self._rewrite_date_trunc(text)
        text = self._rewrite_extract(text)
        text = _rewrite_cast_types(text, _BQ_TYPE_MAP)
        return _check_and_map_calls(
            text, _BQ_SHARED | {"timestamp_trunc"}, _BQ_FN_MAP, self.name
        )

    def sort_key(self, text: str) -> str:
        m = re.match(
            r"(?is)^(.*?)((?:\s+(?:ASC|DESC))?(?:\s+NULLS\s+(?:FIRST|LAST))?)\s*$",
            text.strip(),
        )
        return self.expr(m.group(1)) + m.group(2)

    def setop_kw(self, kind: str) -> str:
        if kind in ("INTERSECT_ALL", "EXCEPT_ALL"):
            raise UnsupportedDialectExpression(
                f"bigquery has no {kind.replace('_', ' ')}"
            )
        return {
            "UNION": "UNION DISTINCT",
            "UNION_ALL": "UNION ALL",
            "INTERSECT": "INTERSECT DISTINCT",
            "EXCEPT": "EXCEPT DISTINCT",
        }[kind]

    def values(self, rows, names, alias: str = "t") -> str:
        return self._values_as_union(rows, names, alias=alias)


# Spark-SQL functions that are valid Oracle verbatim. Deliberately
# excluded (refuse-over-wrong): concat / concat_ws (Oracle CONCAT is
# strictly 2-arg and, like ||, treats NULL as '' where Spark concat
# returns NULL — silently different values), pi (no Oracle function),
# md5 (STANDARD_HASH returns RAW), left/right/repeat (no Oracle string
# functions), log10 (Oracle spells it LOG(10, x) — arg reorder),
# if / date_part (no Oracle forms).
_ORACLE_SHARED = {
    "sum", "count", "min", "max", "avg", "round", "abs", "coalesce",
    "cast", "extract", "floor", "ceil", "lower", "upper", "length",
    "trim", "ltrim", "rtrim", "substr", "replace", "greatest", "least",
    "nullif", "nvl", "stddev", "stddev_pop", "stddev_samp", "var_pop",
    "var_samp", "variance", "covar_pop", "covar_samp", "corr",
    "row_number", "rank", "dense_rank", "lag", "lead", "ntile",
    "first_value", "last_value", "nth_value", "percent_rank",
    "cume_dist", "regexp_replace", "sign", "sqrt", "power", "exp", "ln",
    "mod", "last_day", "instr", "grouping", "sin", "cos", "tan", "asin",
    "acos", "atan", "atan2", "sinh", "cosh", "tanh",
}

_ORACLE_FN_MAP = {
    "substring": "SUBSTR",
    "ceiling": "CEIL",
    "std": "STDDEV",
}

# Oracle CAST targets ≈ OracleSqlDialect castSpec: character data is
# VARCHAR2, integers are precision-bounded NUMBER, floating point is
# BINARY_DOUBLE/BINARY_FLOAT. BOOLEAN/BINARY refuse: Oracle SQL (pre-
# 23c) has no boolean type and RAW needs an explicit size.
_ORACLE_TYPE_MAP = {
    "string": "VARCHAR2(4000)",
    "double": "BINARY_DOUBLE",
    "float": "BINARY_FLOAT",
    "int": "NUMBER(10)",
    "integer": "NUMBER(10)",
    "bigint": "NUMBER(19)",
    "long": "NUMBER(19)",
    "smallint": "NUMBER(5)",
    "tinyint": "NUMBER(3)",
}
_ORACLE_TYPE_REFUSE = frozenset({"boolean", "binary"})

# Spark date_trunc unit → Oracle TRUNC(date, fmt) format element. WEEK
# maps to 'IW' (ISO week start, Monday) — the same day Spark's
# date_trunc('week') snaps to. Sub-minute truncation has no TRUNC
# format element and refuses.
_ORACLE_TRUNC_FMT = {
    "year": "YYYY", "yyyy": "YYYY", "yy": "YYYY",
    "quarter": "Q",
    "month": "MM", "mon": "MM", "mm": "MM",
    "week": "IW",
    "day": "DD", "dd": "DD",
    "hour": "HH",
    "minute": "MI",
}


class OracleDialect(Dialect):
    """≈ sql/dialect/OracleSqlDialect.java. Oracle-specific forms:
      * LIMIT/OFFSET → ANSI `OFFSET n ROWS FETCH NEXT m ROWS ONLY`
        (the 12c+ row-limiting clause OracleSqlDialect emits),
      * VALUES in FROM → `SELECT ... FROM DUAL UNION ALL ...` (Oracle
        has no FROM-position VALUES),
      * `year(x)` shorthands → EXTRACT,
      * `date_trunc('unit', x)` → `TRUNC(x, 'fmt')`,
      * SEMI/ANTI → [NOT] EXISTS,
      * CAST targets → VARCHAR2/NUMBER(p)/BINARY_DOUBLE; BOOLEAN and
        BINARY refuse (no Oracle SQL equivalent).
    NULLS FIRST/LAST and ROLLUP/CUBE/GROUPING SETS are native."""

    name = "oracle"
    _merge = True  # native MERGE INTO
    semi_join_kw = None
    anti_join_kw = None

    def derived_table(self, body: str, alias: str) -> str:
        # Oracle rejects AS before table aliases (ORA-00933);
        # OracleSqlDialect likewise unparses bare "(...) alias"
        return f"{body} {alias}"

    def _rewrite_date_trunc(self, text: str) -> str:
        return _rewrite_date_trunc_to_trunc(
            text, _ORACLE_TRUNC_FMT, self.name
        )

    def expr(self, text: str) -> str:
        text = self._rewrite_date_trunc(text)
        text = _rewrite_extract_units(text)
        text = _rewrite_cast_types(text, _ORACLE_TYPE_MAP, _ORACLE_TYPE_REFUSE)
        return _check_and_map_calls(
            text, _ORACLE_SHARED | {"trunc"}, _ORACLE_FN_MAP, self.name
        )

    def sort_key(self, text: str) -> str:
        return _sort_key_explicit_nulls(self.expr, text)

    def fetch_clause(self, offset, fetch, has_order):
        c = ""
        if offset:
            c += f" OFFSET {offset} ROWS"
        if fetch is not None:
            c += f" FETCH NEXT {fetch} ROWS ONLY"
        return c

    def values(self, rows, names, alias: str = "t") -> str:
        return self._values_as_union(rows, names, from_suffix=" FROM DUAL", alias=alias)


# Spark-SQL functions that are valid T-SQL verbatim. Deliberately
# excluded (refuse-over-wrong): concat (T-SQL CONCAT treats NULL as ''
# where Spark returns NULL), extract / date_part (T-SQL has DATEPART
# only; year/month/day exist and the hour/minute/second/quarter
# shorthands are rewritten to DATEPART), mod (operator % only), instr
# (CHARINDEX swaps the argument order), md5 (HASHBYTES returns
# VARBINARY), nth_value / covar_* / corr (no T-SQL forms), pi is fine.
_MSSQL_SHARED = {
    "sum", "count", "min", "max", "avg", "abs", "coalesce", "cast",
    "floor", "ceiling", "lower", "upper", "ltrim", "rtrim", "trim",
    "replace", "greatest", "least", "nullif", "row_number", "rank",
    "dense_rank", "lag", "lead", "ntile", "first_value", "last_value",
    "percent_rank", "cume_dist", "sign", "sqrt", "power", "exp",
    "log10", "year", "month", "day", "substring", "left", "right",
    "reverse", "concat_ws", "pi", "iif", "datepart", "round",
}

_MSSQL_FN_MAP = {
    "length": "LEN",
    "ceil": "CEILING",
    "ln": "LOG",
    "if": "IIF",
    "repeat": "REPLICATE",
    "stddev": "STDEV",
    "stddev_samp": "STDEV",
    "std": "STDEV",
    "stddev_pop": "STDEVP",
    "var_samp": "VAR",
    "variance": "VAR",
    "var_pop": "VARP",
}

_MSSQL_TYPE_MAP = {
    "string": "VARCHAR(MAX)",
    "double": "FLOAT",
    "float": "REAL",
    "boolean": "BIT",
    "timestamp": "DATETIME2",
    "binary": "VARBINARY(MAX)",
    "tinyint": "SMALLINT",  # T-SQL TINYINT is unsigned 0..255; Spark's is signed
    "long": "BIGINT",
}

# datetime shorthands T-SQL lacks as functions (it has YEAR/MONTH/DAY
# but not HOUR/MINUTE/SECOND/QUARTER) → DATEPART(unit, x)
_MSSQL_DATEPART_UNITS = re.compile(r"\b(hour|minute|second|quarter)\s*\(", re.I)


class MssqlDialect(Dialect):
    """≈ sql/dialect/MssqlSqlDialect.java. T-SQL-specific forms:
      * fetch with ORDER BY → `OFFSET n ROWS FETCH NEXT m ROWS ONLY`
        (T-SQL requires an OFFSET clause before FETCH, so a bare fetch
        emits OFFSET 0 ROWS); fetch WITHOUT ORDER BY → `SELECT TOP n`
        wrap (MssqlSqlDialect.unparseTopN); offset without ORDER BY
        refuses (T-SQL rejects it),
      * NULLS FIRST/LAST → `CASE WHEN x IS NULL THEN 1 ELSE 0 END`
        prefix key (MssqlSqlDialect.emulateNullDirectionWithIsNull);
        T-SQL's defaults (NULL sorts lowest) already match Spark's
        ASC NULLS FIRST / DESC NULLS LAST, so only the explicit
        non-default directions need the emulation key,
      * hour/minute/second/quarter → DATEPART(unit, x),
      * 1-arg ROUND → ROUND(x, 0) (T-SQL ROUND requires the length),
      * SEMI/ANTI → [NOT] EXISTS,
      * INTERSECT ALL / EXCEPT ALL refuse (no T-SQL form),
      * CAST → VARCHAR(MAX)/FLOAT/BIT/DATETIME2/...; Spark's signed
        TINYINT widens to SMALLINT (T-SQL TINYINT is unsigned)."""

    name = "mssql"
    _merge = True  # native MERGE INTO
    semi_join_kw = None
    anti_join_kw = None

    def _rewrite_datepart(self, text: str) -> str:
        m = lexer.search(_MSSQL_DATEPART_UNITS, text)
        while m:
            arg, close = lexer.balanced_span(text, m.end())
            unit = m.group(1).upper()
            head = (
                text[: m.start()]
                + f"DATEPART({unit}, {self._rewrite_datepart(arg)})"
            )
            text = head + text[close + 1 :]
            m = lexer.search(_MSSQL_DATEPART_UNITS, text, len(head))
        return text

    def _rewrite_round(self, text: str) -> str:
        """T-SQL ROUND(x) is an arity error — emit ROUND(x, 0)."""
        pat = re.compile(r"\bround\s*\(", re.I)
        m = lexer.search(pat, text)
        while m:
            arg, close = lexer.balanced_span(text, m.end())
            if len(lexer.split_top_level(arg)) < 2:
                text = text[:close] + ", 0" + text[close:]
            # resume INSIDE the call so nested round(round(x))
            # also gets padded (r5 review)
            m = lexer.search(pat, text, m.end())
        return text

    def expr(self, text: str) -> str:
        text = self._rewrite_datepart(text)
        text = self._rewrite_round(text)
        text = _rewrite_cast_types(text, _MSSQL_TYPE_MAP)
        return _check_and_map_calls(text, _MSSQL_SHARED, _MSSQL_FN_MAP, self.name)

    def sort_key(self, text: str) -> str:
        m = re.match(
            r"(?is)^(.*?)(\s+(?:ASC|DESC))?(?:\s+NULLS\s+(FIRST|LAST))?\s*$",
            text.strip(),
        )
        expr = self.expr(m.group(1))
        direction = (m.group(2) or "").strip()
        nulls = m.group(3)
        if not nulls:
            return f"{expr} {direction}".strip()
        null_flag_dir = "DESC" if nulls.upper() == "FIRST" else "ASC"
        key = f"CASE WHEN {expr} IS NULL THEN 1 ELSE 0 END {null_flag_dir}, {expr}"
        return f"{key} {direction}".strip()

    def fetch_clause(self, offset, fetch, has_order):
        if not has_order:
            if offset:
                raise UnsupportedDialectExpression(
                    "mssql OFFSET requires an ORDER BY clause"
                )
            if fetch is not None:
                return ("top", fetch)
            return ""
        c = ""
        if fetch is not None or offset:
            c += f" OFFSET {offset or 0} ROWS"
        if fetch is not None:
            c += f" FETCH NEXT {fetch} ROWS ONLY"
        return c

    def setop_kw(self, kind: str) -> str:
        if kind in ("INTERSECT_ALL", "EXCEPT_ALL"):
            raise UnsupportedDialectExpression(
                f"mssql has no {kind.replace('_', ' ')}"
            )
        return super().setop_kw(kind)

    def values(self, rows, names, alias: str = "t") -> str:
        body = ", ".join(self._row(r) for r in rows)
        return f"(VALUES {body}) AS {alias}({', '.join(names)})"


# Spark-SQL functions that are valid Trino verbatim — Trino's surface
# is near-ANSI and close to Spark's. Deliberately excluded
# (refuse-over-wrong): md5 (Trino takes/returns VARBINARY, Spark hex
# STRING), repeat (Trino's repeat(elem, n) builds an ARRAY — entirely
# different semantics), left/right (no Trino string functions),
# date_part (EXTRACT only), endswith (no Trino function).
_TRINO_SHARED = {
    "sum", "count", "min", "max", "avg", "round", "abs", "coalesce",
    "cast", "try_cast", "extract", "year", "quarter", "month", "day",
    "hour", "minute", "second", "floor", "ceil", "ceiling", "lower",
    "upper", "length", "trim", "ltrim", "rtrim", "concat", "concat_ws",
    "substring", "substr", "replace", "greatest", "least", "nullif",
    "stddev", "stddev_pop", "stddev_samp", "var_pop", "var_samp",
    "variance", "covar_pop", "covar_samp", "corr", "row_number",
    "rank", "dense_rank", "lag", "lead", "ntile", "first_value",
    "last_value", "nth_value", "percent_rank", "cume_dist",
    "regexp_replace", "date_trunc", "sign", "sqrt", "power", "exp",
    "ln", "log10", "mod", "pi", "if", "reverse", "element_at",
    "array_join", "grouping",
}

_TRINO_FN_MAP = {
    "instr": "strpos",
    "levenshtein": "levenshtein_distance",
    "sort_array": "array_sort",
    "collect_list": "array_agg",
    "size": "cardinality",
    "startswith": "starts_with",
    "last_day": "last_day_of_month",
    "std": "stddev",
}

_TRINO_TYPE_MAP = {
    "string": "VARCHAR",
    "long": "BIGINT",
    "int": "INTEGER",
    "float": "REAL",
    "binary": "VARBINARY",
}


class TrinoDialect(Dialect):
    """≈ sql/dialect/PrestoSqlDialect.java (Trino is the continuation;
    Calcite ships both Presto and Trino entries). Trino is near-ANSI so
    this is the thinnest remote dialect: [NOT] EXISTS for SEMI/ANTI,
    ANSI `OFFSET n ROWS FETCH NEXT m ROWS ONLY` row limiting, a small
    rename map (strpos/levenshtein_distance/array_sort/cardinality/
    array_agg/starts_with/last_day_of_month), and the VARCHAR/BIGINT/
    REAL/VARBINARY type spellings. INTERSECT ALL / EXCEPT ALL are kept
    (Trino ≥ 360 supports both); VALUES in FROM and NULLS FIRST/LAST
    are native."""

    name = "trino"
    _merge = True  # native MERGE INTO
    semi_join_kw = None
    anti_join_kw = None

    def expr(self, text: str) -> str:
        text = _rewrite_cast_types(text, _TRINO_TYPE_MAP)
        return _check_and_map_calls(text, _TRINO_SHARED, _TRINO_FN_MAP, self.name)

    def sort_key(self, text: str) -> str:
        return _sort_key_explicit_nulls(self.expr, text)

    def fetch_clause(self, offset, fetch, has_order):
        c = ""
        if offset:
            c += f" OFFSET {offset} ROWS"
        if fetch is not None:
            c += f" FETCH NEXT {fetch} ROWS ONLY"
        return c

    def values(self, rows, names, alias: str = "t") -> str:
        body = ", ".join(self._row(r) for r in rows)
        return f"(VALUES {body}) AS {alias}({', '.join(names)})"


# Spark-SQL functions valid HiveQL verbatim — Spark SQL descends from
# HiveQL, so this is the widest shared surface of any remote dialect.
# Deliberately excluded: date_trunc / date_part (Hive has TRUNC(x,'fmt')
# — rewritten — and no date_part), try_cast (Hive errors instead).
_HIVE_SHARED = {
    "sum", "count", "min", "max", "avg", "round", "abs", "coalesce",
    "cast", "extract", "year", "quarter", "month", "day", "hour",
    "minute", "second", "floor", "ceil", "ceiling", "lower", "upper",
    "length", "trim", "ltrim", "rtrim", "concat", "concat_ws",
    "substring", "substr", "replace", "greatest", "least", "nullif",
    "stddev", "stddev_pop", "stddev_samp", "var_pop", "var_samp",
    "variance", "covar_pop", "covar_samp", "corr", "row_number",
    "rank", "dense_rank", "lag", "lead", "ntile", "first_value",
    "last_value", "percent_rank", "cume_dist", "regexp_replace",
    "sign", "sqrt", "power", "exp", "ln", "log10", "mod", "pi", "if",
    "instr", "left", "right", "repeat", "reverse", "last_day",
    "levenshtein", "grouping", "md5", "size", "sort_array",
    "array_contains", "collect_list", "element_at",
}

_HIVE_FN_MAP = {
    "std": "stddev",
}

# Spark date_trunc unit → Hive TRUNC(date, fmt) format string. Hive's
# TRUNC supports year/quarter/month only — finer units refuse.
_HIVE_TRUNC_FMT = {
    "year": "YYYY", "yyyy": "YYYY", "yy": "YYYY",
    "quarter": "Q",
    "month": "MM", "mon": "MM", "mm": "MM",
}


class HiveDialect(Dialect):
    """≈ sql/dialect/HiveSqlDialect.java. HiveQL is Spark SQL's
    ancestor, so expressions pass through almost verbatim; the
    structural differences:
      * LEFT SEMI JOIN is native; ANTI → NOT EXISTS (no keyword),
      * OFFSET refuses (no portable HiveQL form across versions),
      * VALUES in FROM → SELECT ... UNION ALL emulation,
      * `date_trunc('unit', x)` → `TRUNC(x, 'fmt')`, year/quarter/month
        only.
    NULLS FIRST/LAST (Hive 2.1+) and ROLLUP/CUBE/GROUPING SETS are
    native; INTERSECT/EXCEPT [ALL] are native (Hive 2.3+)."""

    name = "hive"
    _merge = True  # native MERGE INTO
    semi_join_kw = "LEFT SEMI JOIN"
    anti_join_kw = None

    def _rewrite_date_trunc(self, text: str) -> str:
        while True:
            m = lexer.search(_DATE_TRUNC_RE, text)
            if not m:
                return text
            unit = m.group(1).lower()
            if unit not in _HIVE_TRUNC_FMT:
                raise UnsupportedDialectExpression(
                    f"hive TRUNC supports year/quarter/month, not {unit!r}"
                )
            fmt = _HIVE_TRUNC_FMT[unit]
            arg, close = lexer.balanced_span(text, m.end())
            text = (
                text[: m.start()]
                + f"TRUNC({self._rewrite_date_trunc(arg)}, '{fmt}')"
                + text[close + 1 :]
            )

    def expr(self, text: str) -> str:
        text = self._rewrite_date_trunc(text)
        return _check_and_map_calls(
            text, _HIVE_SHARED | {"trunc"}, _HIVE_FN_MAP, self.name
        )

    def sort_key(self, text: str) -> str:
        m = re.match(
            r"(?is)^(.*?)((?:\s+(?:ASC|DESC))?(?:\s+NULLS\s+(?:FIRST|LAST))?)\s*$",
            text.strip(),
        )
        return self.expr(m.group(1)) + m.group(2)

    def fetch_clause(self, offset, fetch, has_order):
        if offset:
            raise UnsupportedDialectExpression(
                "hive has no portable OFFSET clause"
            )
        return f" LIMIT {fetch}" if fetch is not None else ""

    def values(self, rows, names, alias: str = "t") -> str:
        return self._values_as_union(rows, names, alias=alias)


# Spark-SQL functions valid Snowflake verbatim. Deliberately excluded:
# concat_ws (Snowflake returns NULL when ANY argument is NULL where
# Spark skips nulls — silently different values), instr (Snowflake
# CHARINDEX/POSITION swap the argument order), log10 (Snowflake spells
# it LOG(10, x)), repeat (REPEAT exists but Snowflake errors on
# negative counts differently — kept out until value-verified).
_SNOWFLAKE_SHARED = {
    "sum", "count", "min", "max", "avg", "round", "abs", "coalesce",
    "cast", "try_cast", "extract", "year", "quarter", "month", "day",
    "hour", "minute", "second", "floor", "ceil", "lower", "upper",
    "length", "trim", "ltrim", "rtrim", "concat", "substring",
    "substr", "replace", "greatest", "least", "nullif", "stddev",
    "stddev_pop", "stddev_samp", "var_pop", "var_samp", "variance",
    "covar_pop", "covar_samp", "corr", "row_number", "rank",
    "dense_rank", "lag", "lead", "ntile", "first_value", "last_value",
    "nth_value", "percent_rank", "cume_dist", "regexp_replace",
    "date_trunc", "sign", "sqrt", "power", "exp", "ln", "mod", "pi",
    "left", "right", "reverse", "last_day", "md5", "grouping",
}

_SNOWFLAKE_FN_MAP = {
    "if": "IFF",
    "ceiling": "CEIL",
    "startswith": "STARTSWITH",
    "endswith": "ENDSWITH",
    "std": "STDDEV",
    "collect_list": "ARRAY_AGG",
    "size": "ARRAY_SIZE",
}


class SnowflakeDialect(Dialect):
    """≈ sql/dialect/SnowflakeSqlDialect.java. Near-ANSI: LIMIT/OFFSET,
    NULLS FIRST/LAST, FROM-position VALUES and date_trunc all pass
    through; SEMI/ANTI lower to [NOT] EXISTS; INTERSECT ALL/EXCEPT ALL
    refuse (Snowflake has only the DISTINCT set ops); a small rename
    map (IFF/STARTSWITH/ARRAY_AGG/ARRAY_SIZE); Spark type names are
    valid Snowflake aliases (STRING/DOUBLE/BIGINT), so no CAST map."""

    name = "snowflake"
    _merge = True  # native MERGE INTO
    semi_join_kw = None
    anti_join_kw = None

    def expr(self, text: str) -> str:
        return _check_and_map_calls(
            text, _SNOWFLAKE_SHARED, _SNOWFLAKE_FN_MAP, self.name
        )

    def sort_key(self, text: str) -> str:
        return _sort_key_explicit_nulls(self.expr, text)

    def setop_kw(self, kind: str) -> str:
        if kind in ("INTERSECT_ALL", "EXCEPT_ALL"):
            raise UnsupportedDialectExpression(
                f"snowflake has no {kind.replace('_', ' ')}"
            )
        return super().setop_kw(kind)

    def values(self, rows, names, alias: str = "t") -> str:
        body = ", ".join(self._row(r) for r in rows)
        return f"(VALUES {body}) AS {alias}({', '.join(names)})"


# Spark-SQL functions that are valid ClickHouse verbatim. ClickHouse
# function names are case-SENSITIVE camelCase for the statistical
# family — those go through the rename map, not the shared set.
# Deliberately excluded: window/ranking functions (the reference
# dialect declares supportsWindowFunctions() false — ClickHouse's
# window support postdates it and is behind settings on older LTS;
# refuse-over-wrong), md5 (ClickHouse MD5() returns FixedString(16)
# bytes, Spark a hex string).
_CLICKHOUSE_SHARED = {
    "sum", "count", "min", "max", "avg", "round", "abs", "coalesce",
    "cast", "floor", "ceil", "ceiling", "lower", "upper", "length",
    "trim", "ltrim", "rtrim", "concat", "substring", "substr",
    "replace", "greatest", "least", "nullif", "corr", "sign", "sqrt",
    "exp", "pi", "position", "reverse", "repeat", "date_trunc", "pow",
    "power", "extract", "if",
}

_CLICKHOUSE_FN_MAP = {
    # ≈ ClickHouseSqlDialect.unparseCall APPROX_COUNT_DISTINCT → UNIQ
    "approx_count_distinct": "uniq",
    "stddev": "stddevSamp",
    "stddev_samp": "stddevSamp",
    "stddev_pop": "stddevPop",
    "std": "stddevSamp",
    "var_samp": "varSamp",
    "var_pop": "varPop",
    "variance": "varSamp",
    "instr": "position",
    "ln": "log",
    "log10": "log10",
    "mod": "modulo",
    "collect_list": "groupArray",
    "size": "length",
    "startswith": "startsWith",
    "endswith": "endsWith",
    "lcase": "lower",
    "ucase": "upper",
}

# ≈ ClickHouseSqlDialect.getCastSpec (FixedString/Int8..Int64/
# Float32/Float64/Date/DateTime); MULTISET throws there, binary has no
# stable cast target → refuse
_CLICKHOUSE_TYPE_MAP = {
    "string": "String",
    "varchar": "String",
    "char": "String",
    "tinyint": "Int8",
    "smallint": "Int16",
    "int": "Int32",
    "integer": "Int32",
    "bigint": "Int64",
    "long": "Int64",
    "float": "Float32",
    "real": "Float32",
    "double": "Float64",
    "date": "Date",
    "timestamp": "DateTime",
    "boolean": "UInt8",
}

_DATE_LIT_RE = re.compile(r"\b(DATE|TIMESTAMP)\s*'([^']*)'", re.I)


class ClickHouseDialect(Dialect):
    """≈ sql/dialect/ClickHouseSqlDialect.java. Refuse-over-wrong; the
    ClickHouse-specific structural forms:
      * DATE/TIMESTAMP literals → toDate('..')/toDateTime('..')
        (unparseDateTimeLiteral — ClickHouse has no ANSI typed literal),
      * LIMIT offset, fetch (unparseOffsetFetch); OFFSET without a
        LIMIT refuses (the reference requires fetch non-null),
      * window functions refuse (supportsWindowFunctions() = false),
      * SEMI/ANTI refuse — the generic lowering is correlated
        [NOT] EXISTS, which ClickHouse's planner does not decorrelate,
      * set ops: ClickHouse INTERSECT/EXCEPT default to ALL (bag)
        semantics, the inverse of the SQL standard — DISTINCT is
        spelled explicitly on every set op so nothing silently drifts,
      * VALUES in FROM → SELECT ... UNION ALL emulation
        (supportsAliasedValues() = false),
      * CAST targets from getCastSpec's closed list (String, Int8..64,
        Float32/64, Date, DateTime); BINARY refuses,
      * statistical aggregates renamed to the camelCase family
        (stddevSamp/varPop/...), APPROX_COUNT_DISTINCT → uniq.
    Nullable(...) wrapping is NOT emitted: the IR does not track
    nullability, and ClickHouse implicitly widens on comparison."""

    name = "clickhouse"
    semi_join_kw = None
    anti_join_kw = None
    supports_exists_subquery = False

    def expr(self, text: str) -> str:
        if re.search(r"\bover\s*\(", text, re.I):
            raise UnsupportedDialectExpression(
                "clickhouse dialect refuses window functions "
                "(ClickHouseSqlDialect.supportsWindowFunctions = false)"
            )
        if re.search(r"\bexists\s*\(", text, re.I):
            raise UnsupportedDialectExpression(
                "clickhouse dialect refuses correlated EXISTS"
            )
        text = lexer.sub(
            _DATE_LIT_RE,
            lambda m: (
                ("toDate" if m.group(1).upper() == "DATE" else "toDateTime")
                + f"('{m.group(2)}')"
            ),
            text,
        )
        text = _rewrite_cast_types(
            text, _CLICKHOUSE_TYPE_MAP, refuse=frozenset({"binary"})
        )
        text = _rewrite_extract_units(text)
        return _check_and_map_calls(
            text,
            _CLICKHOUSE_SHARED | {"todate", "todatetime", "uniq"},
            _CLICKHOUSE_FN_MAP,
            self.name,
        )

    def sort_key(self, text: str) -> str:
        # NULLS FIRST/LAST is native ClickHouse ORDER BY syntax, and it
        # MUST be emitted: CH's un-annotated default is NULLS LAST,
        # diverging from Spark's low-nulls rule on ASC keys
        return _sort_key_explicit_nulls(self.expr, text)

    def setop_kw(self, kind: str) -> str:
        # explicit DISTINCT everywhere: CH INTERSECT/EXCEPT are bag ops
        # by default and UNION requires a mode when settings demand it
        return {
            "UNION": "UNION DISTINCT",
            "UNION_ALL": "UNION ALL",
            "INTERSECT": "INTERSECT DISTINCT",
            "INTERSECT_ALL": "INTERSECT",
            "EXCEPT": "EXCEPT DISTINCT",
            "EXCEPT_ALL": "EXCEPT",
        }[kind]

    def rollup_clause(self, keys: list[str]) -> str:
        return f" GROUP BY {', '.join(keys)} WITH ROLLUP"

    def cube_clause(self, keys: list[str]) -> str:
        return f" GROUP BY {', '.join(keys)} WITH CUBE"

    def fetch_clause(self, offset, fetch, has_order):
        # ≈ unparseOffsetFetch: LIMIT [offset,] fetch; requireNonNull(fetch)
        if fetch is None:
            if offset:
                raise UnsupportedDialectExpression(
                    "clickhouse LIMIT form requires a fetch count with OFFSET"
                )
            return ""
        return f" LIMIT {offset}, {fetch}" if offset else f" LIMIT {fetch}"

    def values(self, rows, names, alias: str = "t") -> str:
        return self._values_as_union(rows, names, alias=alias)

    def literal(self, v) -> str:
        if isinstance(v, bool):
            return "1" if v else "0"  # unparseBoolLiteralToCondition analog
        return super().literal(v)


# Redshift is PostgreSQL-descended: start from the PG shared surface,
# minus the array/list machinery (Redshift has no ARRAY type — SUPER
# paths differ semantically) and minus PG-only names Redshift dropped.
_REDSHIFT_SHARED = _PG_SHARED - {"corr", "covar_pop", "covar_samp"} | {
    "listagg", "charindex", "dateadd", "datediff", "date_part",
}

_REDSHIFT_FN_MAP = {
    "instr": "strpos",
    "startswith": "starts_with",
    "std": "stddev",
}

# ≈ RedshiftSqlDialect.getCastSpec: tinyint → int2 (no 1-byte int),
# double → float8 (quoted-identifier-safe spelling); the rest are the
# PG names Redshift inherits
_REDSHIFT_TYPE_MAP = {
    "string": "VARCHAR",
    "tinyint": "int2",
    "double": "float8",
    "float": "float4",
    "long": "BIGINT",
    "binary": "VARBYTE",
}


class RedshiftDialect(Dialect):
    """≈ sql/dialect/RedshiftSqlDialect.java. PostgreSQL-descended, so
    the structure mirrors our PG dialect (SEMI/ANTI → [NOT] EXISTS,
    EXTRACT shorthand rewrite, LIMIT/OFFSET row limiting per
    unparseOffsetFetch → unparseFetchUsingLimit); the divergences:
      * CAST targets tinyint → int2, double → float8 (getCastSpec —
        Redshift's quoted-safe spellings), binary → VARBYTE,
      * VALUES in FROM refuses to a UNION ALL emulation
        (supportsAliasedValues() = false — Redshift has no FROM-position
        VALUES at all),
      * INTERSECT ALL / EXCEPT ALL refuse (Redshift implements only the
        DISTINCT set ops),
      * no ARRAY type: collect_list/array_agg/size refuse rather than
        landing on SUPER with different semantics."""

    name = "redshift"
    _merge = True  # native MERGE INTO
    semi_join_kw = None
    anti_join_kw = None

    def expr(self, text: str) -> str:
        text = _rewrite_cast_types(text, _REDSHIFT_TYPE_MAP)
        text = _rewrite_extract_units(text)
        return _check_and_map_calls(
            text, _REDSHIFT_SHARED, _REDSHIFT_FN_MAP, self.name
        )

    def sort_key(self, text: str) -> str:
        return _sort_key_explicit_nulls(self.expr, text)

    def setop_kw(self, kind: str) -> str:
        if kind in ("INTERSECT_ALL", "EXCEPT_ALL"):
            raise UnsupportedDialectExpression(
                f"redshift has no {kind.replace('_', ' ')} (DISTINCT set ops only)"
            )
        return super().setop_kw(kind)

    def values(self, rows, names, alias: str = "t") -> str:
        return self._values_as_union(rows, names, alias=alias)


# Presto's supported aggregate set is RESTRICTED relative to Trino
# (PrestoSqlDialect.supportsAggregateFunction lists only AVG/COUNT/CUBE/
# ROLLUP/SUM/MIN/MAX) — the stddev/variance/covar family refuses.
_PRESTO_SHARED = {
    "sum", "count", "min", "max", "avg", "round", "abs", "coalesce",
    "cast", "try_cast", "extract", "floor", "ceil", "ceiling", "lower",
    "upper", "length", "trim", "ltrim", "rtrim", "concat", "concat_ws",
    "substring", "substr", "replace", "greatest", "least", "nullif",
    "row_number", "rank", "dense_rank", "lag", "lead", "ntile",
    "first_value", "last_value", "nth_value", "percent_rank",
    "cume_dist", "regexp_replace", "date_trunc", "sign", "sqrt",
    "power", "exp", "ln", "log10", "mod", "pi", "md5", "repeat",
    "reverse", "grouping", "approx_count_distinct",
}

_PRESTO_FN_MAP = {
    "instr": "strpos",
    "levenshtein": "levenshtein_distance",
    "sort_array": "array_sort",
    "size": "cardinality",
    "collect_list": "array_agg",
    "startswith": "starts_with",
    "approx_distinct": "approx_distinct",
}


class PrestoDialect(TrinoDialect):
    """≈ sql/dialect/PrestoSqlDialect.java (the ancestor entry; our
    Trino dialect mirrors the continuation project). Divergences the
    reference encodes, mirrored here:
      * row limiting is `OFFSET n LIMIT m` — unparseOffsetFetch →
        unparseUsingLimit writes OFFSET first, then LIMIT (not the
        ANSI OFFSET/FETCH the Trino entry emits);
      * NULL ordering: withNullCollation(LAST), with explicit
        directions emulated via IS-NULL prefix keys
        (emulateNullDirectionWithIsNull) — Spark's default is
        low-nulls (ASC ⇒ NULLS FIRST), so an un-annotated ASC key
        ALSO gets the prefix or Presto would silently sort nulls last;
      * supportsApproxCountDistinct() → approx_count_distinct allowed;
      * the aggregate set is restricted (no stddev/variance/covar —
        supportsAggregateFunction's closed list)."""

    name = "presto"

    def expr(self, text: str) -> str:
        text = _rewrite_cast_types(text, _TRINO_TYPE_MAP)
        return _check_and_map_calls(
            text, _PRESTO_SHARED, _PRESTO_FN_MAP, self.name
        )

    def sort_key(self, text: str) -> str:
        m = re.match(
            r"(?is)^(.*?)(\s+(?:ASC|DESC))?(?:\s+NULLS\s+(FIRST|LAST))?\s*$",
            text.strip(),
        )
        expr = self.expr(m.group(1))
        direction = (m.group(2) or "").strip()
        nulls = (m.group(3) or "").upper()
        # Spark semantics of the INPUT key: default ASC ⇒ nulls first,
        # DESC ⇒ nulls last. Presto default: nulls LAST always.
        nulls_first = nulls == "FIRST" or (not nulls and direction != "DESC")
        prefix = f"({expr} IS NULL) DESC, " if nulls_first else ""
        return f"{prefix}{expr} {direction}".strip()

    def fetch_clause(self, offset, fetch, has_order):
        c = ""
        if offset:
            c += f" OFFSET {offset}"
        if fetch is not None:
            c += f" LIMIT {fetch}"
        return c


# Vertica is PostgreSQL-descended: PG-flavored function surface, LIMIT/
# OFFSET row limiting (VerticaSqlDialect.unparseOffsetFetch →
# unparseFetchUsingLimit), EXISTS lowering for SEMI/ANTI.
_VERTICA_SHARED = frozenset(_PG_SHARED)

_VERTICA_FN_MAP = dict(_PG_FN_MAP)


class VerticaDialect(Dialect):
    """≈ sql/dialect/VerticaSqlDialect.java. PostgreSQL-descended, so
    the structure mirrors our PG dialect: [NOT] EXISTS lowering,
    EXTRACT shorthand rewrite, PG type spellings in CAST targets.
    Reference-encoded divergences: LIMIT/OFFSET row limiting
    (unparseFetchUsingLimit) and LIKE's ESCAPE clause unsupported
    (supportsFunction case LIKE — we never emit ESCAPE, so nothing to
    refuse at this surface)."""

    name = "vertica"
    _merge = True  # native MERGE INTO
    semi_join_kw = None
    anti_join_kw = None

    def expr(self, text: str) -> str:
        text = _rewrite_extract_units(text)
        text = _rewrite_cast_types(text, _PG_TYPE_MAP)
        return _check_and_map_calls(
            text, _VERTICA_SHARED, _VERTICA_FN_MAP, self.name
        )

    def sort_key(self, text: str) -> str:
        return _sort_key_explicit_nulls(self.expr, text)

    def values(self, rows, names, alias: str = "t") -> str:
        body = ", ".join(self._row(r) for r in rows)
        return f"(VALUES {body}) AS {alias}({', '.join(names)})"


# Teradata: the REFERENCE dialect is a product-tag stub (
# TeradataSqlDialect.java defines only DatabaseProduct.TERADATA + the
# quote string and inherits every ANSI default). We keep the inherited
# ANSI surface and add the two public-doc Teradata facts that would
# otherwise produce SQL the engine rejects: row limiting is TOP n (no
# LIMIT; OFFSET has no syntax at all → refuse), and the ANSI function
# surface is conservative.
_TERADATA_SHARED = {
    "sum", "count", "min", "max", "avg", "round", "abs", "coalesce",
    "cast", "extract", "floor", "ceil", "ceiling", "lower", "upper",
    "length", "trim", "ltrim", "rtrim", "substring", "substr",
    "replace", "greatest", "least", "nullif", "stddev_pop",
    "stddev_samp", "var_pop", "var_samp", "row_number", "rank",
    "dense_rank", "lag", "lead", "first_value", "last_value",
    "percent_rank", "cume_dist", "sign", "sqrt", "exp", "ln", "mod",
    "grouping", "concat",
}

_TERADATA_FN_MAP = {
    "stddev": "stddev_samp",
    "variance": "var_samp",
    "std": "stddev_samp",
}


class TeradataDialect(Dialect):
    """≈ sql/dialect/TeradataSqlDialect.java — which is deliberately a
    stub (product tag + identifier quote, all behavior inherited from
    SqlDialect's ANSI defaults), so most of this dialect IS the ANSI
    base class. Additions from public Teradata documentation where the
    inherited default would emit rejected SQL: SELECT TOP n replaces
    LIMIT (OFFSET refuses — Teradata has no OFFSET clause; pagination
    is QUALIFY ROW_NUMBER(), which our emitter does not synthesize),
    and SEMI/ANTI lower to [NOT] EXISTS."""

    name = "teradata"
    _merge = True  # native MERGE INTO
    semi_join_kw = None
    anti_join_kw = None

    def expr(self, text: str) -> str:
        text = _rewrite_extract_units(text)
        return _check_and_map_calls(
            text, _TERADATA_SHARED, _TERADATA_FN_MAP, self.name
        )

    def sort_key(self, text: str) -> str:
        m = re.match(
            r"(?is)^(.*?)((?:\s+(?:ASC|DESC))?(?:\s+NULLS\s+(?:FIRST|LAST))?)\s*$",
            text.strip(),
        )
        return self.expr(m.group(1)) + m.group(2)

    def fetch_clause(self, offset, fetch, has_order):
        if offset:
            raise UnsupportedDialectExpression(
                "teradata has no OFFSET clause (use QUALIFY ROW_NUMBER() "
                "pagination upstream)"
            )
        if fetch is not None and has_order:
            # ordered top-K is QUALIFY ROW_NUMBER() OVER (ORDER BY ...)
            # <= n in Teradata; the TOP wrap would DROP the ordering —
            # refuse rather than silently return arbitrary rows
            raise UnsupportedDialectExpression(
                "teradata ordered FETCH needs QUALIFY ROW_NUMBER() — "
                "TOP n does not compose with the subquery ORDER BY"
            )
        if fetch is not None:
            return ("top", fetch)
        return ""


# Derby: near-stub in the reference too (DerbySqlDialect.java's single
# override maps CHAR_LENGTH → LENGTH). Derby's engine surface is thin:
# ANSI OFFSET/FETCH row limiting, no SEMI keyword, ROW_NUMBER is the
# only window function, tiny function library.
_DERBY_SHARED = {
    "sum", "count", "min", "max", "avg", "abs", "coalesce", "cast",
    "floor", "ceil", "ceiling", "lower", "upper", "length", "trim",
    "ltrim", "rtrim", "substr", "nullif", "sqrt", "exp", "ln", "mod",
    "row_number",
}

_DERBY_FN_MAP = {
    "char_length": "length",  # DerbySqlDialect.java:40-46, its one rule
    "substring": "substr",
}

_DERBY_TYPE_MAP = {
    "string": "VARCHAR(32672)",  # Derby's max VARCHAR length
    "double": "DOUBLE",
    "float": "REAL",
    "long": "BIGINT",
    "binary": "VARCHAR (32672) FOR BIT DATA",
}


class DerbyDialect(Dialect):
    """≈ sql/dialect/DerbySqlDialect.java, whose single override is
    CHAR_LENGTH → LENGTH; everything else inherits ANSI defaults, which
    suits Derby's close-to-standard surface: OFFSET n ROWS FETCH NEXT m
    ROWS ONLY row limiting, FROM-position VALUES with alias, NULLS
    FIRST/LAST native. Refusals where Derby genuinely lacks the
    feature: SEMI/ANTI keywords (→ [NOT] EXISTS), every window function
    except ROW_NUMBER, regex/hash functions, grouping extensions."""

    name = "derby"
    _merge = True  # native MERGE INTO
    semi_join_kw = None
    anti_join_kw = None

    def expr(self, text: str) -> str:
        text = _rewrite_cast_types(text, _DERBY_TYPE_MAP)
        return _check_and_map_calls(
            text, _DERBY_SHARED, _DERBY_FN_MAP, self.name
        )

    def sort_key(self, text: str) -> str:
        return _sort_key_explicit_nulls(self.expr, text)

    def rollup_clause(self, keys):
        raise UnsupportedDialectExpression("derby has no ROLLUP")

    def cube_clause(self, keys):
        raise UnsupportedDialectExpression("derby has no CUBE")

    def grouping_sets_clause(self, sets_sql):
        raise UnsupportedDialectExpression("derby has no GROUPING SETS")

    def fetch_clause(self, offset, fetch, has_order):
        c = ""
        if offset:
            c += f" OFFSET {offset} ROWS"
        if fetch is not None:
            c += f" FETCH NEXT {fetch} ROWS ONLY"
        return c

    def values(self, rows, names, alias: str = "t") -> str:
        body = ", ".join(self._row(r) for r in rows)
        return f"(VALUES {body}) AS {alias}({', '.join(names)})"


class StarRocksDialect(MySQLDialect):
    """≈ sql/dialect/StarRocksSqlDialect.java, which extends
    MysqlSqlDialect — so does this class. Reference-encoded additions
    over MySQL: supportsApproxCountDistinct() and a native date_trunc
    (plus Spark-style ARRAY/MAP constructors and Hive TRIM unparsing,
    neither of which our expression surface emits for MySQL-family
    targets). NullCollation.LOW matches MySQL's, so the inherited
    ISNULL-prefix null-direction emulation stands."""

    name = "starrocks"

    _EXTRA = {"approx_count_distinct", "date_trunc"}

    def expr(self, text: str) -> str:
        text = _rewrite_cast_types(text, _MYSQL_TYPE_MAP)
        return _check_and_map_calls(
            text, _MYSQL_SHARED | self._EXTRA, _MYSQL_FN_MAP, self.name
        )


class DorisDialect(StarRocksDialect):
    """≈ sql/dialect/DorisSqlDialect.java (the StarRocks sibling —
    both descend from MySQL; Doris adds DATE_TRUNC-based FLOOR
    unparsing and Spark-style array/map constructors via
    unparseSparkArrayAndMap, neither reached by our MySQL-family
    expression surface). Emission differences from StarRocks are nil
    at this surface; the entry exists so federation targets can
    declare the correct product and pick up future divergences."""

    name = "doris"


# Spark-SQL functions valid SQLite 3.40 verbatim. The math tier
# (sqrt/exp/ln/...) requires SQLITE_ENABLE_MATH_FUNCTIONS, which
# CPython's bundled library enables; SQLiteEngine (sources/federation.py)
# probes it at connect. Deliberately excluded (refuse-over-wrong):
# stddev/variance family (no SQLite equivalents), md5 (none), greatest/
# least (SQLite's scalar max/min return NULL when ANY argument is NULL;
# Spark's greatest/least skip NULLs), concat_ws (3.44+ only),
# date_trunc/date_part (none).
_SQLITE_SHARED = {
    "sum", "count", "min", "max", "avg", "round", "abs", "coalesce",
    "cast", "floor", "ceil", "ceiling", "lower", "upper", "length",
    "trim", "ltrim", "rtrim", "replace", "substr", "instr", "nullif",
    "sign", "sqrt", "power", "exp", "ln", "log10", "mod", "pi",
    "row_number", "rank", "dense_rank", "lag", "lead", "ntile",
    "first_value", "last_value", "nth_value", "percent_rank",
    "cume_dist", "iif", "strftime", "julianday", "date", "datetime",
    "group_concat",
}

_SQLITE_FN_MAP = {
    # SqliteSqlDialect.java:51-56 creates plain INSTR/SUBSTR nodes for
    # the POSITION/SUBSTRING rewrites; our expression surface already
    # spells them as functions, so these are pure renames.
    "substring": "substr",
    "char_length": "length",
    "if": "iif",
    "listagg": "group_concat",
}

# Spark type → SQLite CAST target (storage-class affinities,
# https://sqlite.org/datatype3.html). DECIMAL refuses: SQLite's NUMERIC
# affinity silently degrades to float beyond 15 significant digits.
# BOOLEAN/DATE/TIMESTAMP refuse: no such storage classes — a cast would
# apply NUMERIC affinity and mangle the value.
_SQLITE_TYPE_MAP = {
    "string": "TEXT",
    "varchar": "TEXT",
    "char": "TEXT",
    "double": "REAL",
    "float": "REAL",
    "int": "INTEGER",
    "integer": "INTEGER",
    "bigint": "INTEGER",
    "smallint": "INTEGER",
    "tinyint": "INTEGER",
    "long": "INTEGER",
}
_SQLITE_TYPE_REFUSE = frozenset(
    {"decimal", "numeric", "boolean", "date", "timestamp", "binary"}
)

_SQLITE_STRFTIME = {
    "year": "%Y", "month": "%m", "day": "%d",
    "hour": "%H", "minute": "%M", "second": "%S",
}

_UNIT_SHORTHAND_RE = re.compile(
    r"\b(year|quarter|month|day|hour|minute|second)\s*\(", re.I
)
_EXTRACT_RE = re.compile(r"\bEXTRACT\s*\(", re.I)
_TYPED_LITERAL_RE = re.compile(r"\b(?:DATE|TIMESTAMP)\s*('[^']*')", re.I)
_FLOAT_LIT_RE = re.compile(r"\d\.\d|\.\d")


def _sqlite_units_to_strftime(text: str) -> str:
    """year(x) / EXTRACT(YEAR FROM x) → CAST(strftime('%Y', x) AS
    INTEGER): SQLite has neither EXTRACT nor unit shorthands; strftime
    over ISO-8601 TEXT is its native datetime access path
    (https://sqlite.org/lang_datefunc.html). QUARTER (no strftime code)
    expands to (month + 2) / 3 — intentional integer division, emitted
    after the division guard has run."""

    def unit_sql(unit: str, arg: str) -> str:
        if unit == "quarter":
            return f"((CAST(strftime('%m', {arg}) AS INTEGER) + 2) / 3)"
        return f"CAST(strftime('{_SQLITE_STRFTIME[unit]}', {arg}) AS INTEGER)"

    # EXTRACT(unit FROM x) first (its arg may hold shorthands; recurse)
    m = lexer.search(_EXTRACT_RE, text)
    while m:
        arg, close = lexer.balanced_span(text, m.end())
        um = re.match(r"\s*(\w+)\s+FROM\s+(.*)$", arg, re.I | re.S)
        if not um or um.group(1).lower() not in (
            *_SQLITE_STRFTIME, "quarter"
        ):
            raise UnsupportedDialectExpression(
                f"sqlite cannot extract {arg!r} (strftime units only)"
            )
        head = text[: m.start()] + unit_sql(
            um.group(1).lower(), _sqlite_units_to_strftime(um.group(2))
        )
        text = head + text[close + 1 :]
        m = lexer.search(_EXTRACT_RE, text, len(head))
    m = lexer.search(_UNIT_SHORTHAND_RE, text)
    while m:
        arg, close = lexer.balanced_span(text, m.end())
        head = text[: m.start()] + unit_sql(
            m.group(1).lower(), _sqlite_units_to_strftime(arg)
        )
        text = head + text[close + 1 :]
        m = lexer.search(_UNIT_SHORTHAND_RE, text, len(head))
    return text


def _sqlite_concat_to_pipes(text: str) -> str:
    """concat(a, b, ...) → (a || b || ...). NULL semantics MATCH: both
    Spark's concat and SQLite's || propagate NULL from any argument
    (unlike concat_ws, which skips NULLs and therefore refuses)."""
    while True:
        m = lexer.search(r"(?i)\bconcat\s*\(", text)
        if m is None:
            return text
        arg, close = lexer.balanced_span(text, m.end())
        joined = " || ".join(lexer.split_top_level(arg))
        text = text[: m.start()] + f"({joined})" + text[close + 1 :]


def _sqlite_division_guard(text: str) -> None:
    """SQLite `/` on two INTEGER operands is integer division (1/2 = 0);
    Spark `/` always yields DOUBLE. Refuse-over-wrong: every `/` must
    have a provably-REAL direct operand — a float literal, a CAST to
    DOUBLE/FLOAT/REAL, or a REAL-returning function — else raise and
    tell the caller to cast explicitly. (Checking the DIRECT operand is
    sound: one REAL operand makes SQLite divide in REAL.)"""
    real_fns = (
        "avg", "sqrt", "exp", "ln", "log10", "pi", "power",
        "julianday", "cume_dist", "percent_rank", "round",
    )
    for i, ch in enumerate(lexer.mask(text)):
        if ch != "/":
            continue
        # left operand: token ending at i-1
        j = i - 1
        while j >= 0 and text[j].isspace():
            j -= 1
        left_ok = False
        if j >= 0 and text[j] == ")":
            # reverse balanced scan to the matching open paren
            depth, k = 1, j - 1
            while k >= 0 and depth:
                depth += text[k] == ")"
                depth -= text[k] == "("
                if depth == 0:
                    break
                k -= 1
            inner = text[k + 1 : j]
            fnm = re.search(r"([A-Za-z_]\w*)\s*$", text[:k])
            fn = fnm.group(1).lower() if fnm else ""
            left_ok = (
                fn in real_fns
                or bool(re.search(r"(?i)\bAS\s+(REAL|DOUBLE|FLOAT)\b", inner))
                or bool(_FLOAT_LIT_RE.search(inner))
            )
        elif j >= 0 and (text[j].isdigit() or text[j] == "."):
            num = re.search(r"[\d.]+$", text[: j + 1])
            left_ok = num is not None and "." in num.group(0)
        # right operand
        k = i + 1
        while k < len(text) and text[k].isspace():
            k += 1
        right = text[k:]
        right_ok = bool(re.match(r"\d+\.\d", right)) or bool(
            re.match(r"(?i)CAST\s*\(.*?AS\s+(REAL|DOUBLE|FLOAT)\b", right)
        )
        if not (left_ok or right_ok):
            raise UnsupportedDialectExpression(
                "sqlite `/` on INTEGER operands is integer division "
                "(Spark yields DOUBLE) — cast one operand to DOUBLE "
                f"explicitly in expression: {text!r}"
            )


class SqliteDialect(Dialect):
    """≈ sql/dialect/SqliteSqlDialect.java. The one dialect this repo can
    verify against the REAL engine: Python's stdlib sqlite3 module
    (tests/test_sqlite_real_engine.py executes every emitted shape on
    SQLite 3.40 and compares values with the Spark lowering — no DuckDB
    proxy). Reference-mirrored behaviors:
      * LIMIT -1 OFFSET n when OFFSET has no FETCH — SQLite has no
        OFFSET-only syntax (SqliteSqlDialect.unparseOffsetFetch);
      * supportsAliasedValues() = false → VALUES lowers to the
        SELECT ... UNION ALL emulation;
      * SUBSTRING/POSITION land as SUBSTR/INSTR (SqliteSqlDialect.java:
        44-56);
      * NULLS sort LOW by default (withNullCollation(LOW)) — identical
        to Spark's default (ASC nulls first / DESC nulls last), so no
        emulation is needed and explicit NULLS FIRST/LAST (3.30+)
        passes through;
      * RIGHT/FULL JOIN require 3.39+ (supportsJoinType) — stdlib
        ships 3.40, so they pass through.
    Our refusals beyond the reference: integer `/` (see
    _sqlite_division_guard), DECIMAL/BOOLEAN/DATE casts (affinity would
    mangle values), parenthesized compound-SELECT operands are invalid
    SQLite, so set-op parts wrap as SELECT * FROM (...) — see
    setop_part. Emitted LIKE assumes the executing connection has
    PRAGMA case_sensitive_like=ON (SQLite's default LIKE is
    case-insensitive for ASCII; Spark's is case-sensitive) —
    SQLiteEngine sets it at connect."""

    name = "sqlite"
    semi_join_kw = None
    anti_join_kw = None

    def expr(self, text: str) -> str:
        # DATE '...'/TIMESTAMP '...' typed literals → plain TEXT
        # literals in the CANONICAL form 'YYYY-MM-DD HH:MM:SS': SQLite
        # compares ISO-8601 TEXT lexicographically (= chronologically),
        # but only when every temporal value uses ONE rendering —
        # '1998-09-01' vs '1998-09-01 00:00:00' breaks boundary
        # comparisons in either direction. SQLiteEngine stores all
        # temporal columns in the same 19-char form.
        def canon(m):
            lit = m.group(1)
            if re.fullmatch(r"'\d{4}-\d{2}-\d{2}'", lit):
                return lit[:-1] + " 00:00:00'"
            return lit

        text = _TYPED_LITERAL_RE.sub(canon, text)
        _sqlite_division_guard(text)
        text = _sqlite_units_to_strftime(text)
        text = _sqlite_concat_to_pipes(text)
        text = _rewrite_cast_types(text, _SQLITE_TYPE_MAP, _SQLITE_TYPE_REFUSE)
        return _check_and_map_calls(
            text, _SQLITE_SHARED, _SQLITE_FN_MAP, self.name
        )

    def sort_key(self, text: str) -> str:
        m = re.match(
            r"(?is)^(.*?)((?:\s+(?:ASC|DESC))?(?:\s+NULLS\s+(?:FIRST|LAST))?)\s*$",
            text.strip(),
        )
        return self.expr(m.group(1)) + m.group(2)

    def setop_kw(self, kind: str) -> str:
        if kind in ("INTERSECT_ALL", "EXCEPT_ALL"):
            raise UnsupportedDialectExpression(
                f"sqlite has no {kind.replace('_', ' ')} (DISTINCT set ops only)"
            )
        return super().setop_kw(kind)

    def setop_part(self, sql: str, alias: str) -> str:
        # `(SELECT ...) UNION (SELECT ...)` is a SQLite syntax error —
        # compound-SELECT operands cannot be parenthesized. Wrap each
        # part as a derived-table scan instead.
        return f"SELECT * FROM ({sql}) AS {alias}"

    def rollup_clause(self, keys):
        raise UnsupportedDialectExpression("sqlite has no ROLLUP")

    def cube_clause(self, keys):
        raise UnsupportedDialectExpression("sqlite has no CUBE")

    def grouping_sets_clause(self, sets_sql):
        raise UnsupportedDialectExpression("sqlite has no GROUPING SETS")

    def fetch_clause(self, offset, fetch, has_order):
        if offset and fetch is None:
            # SqliteSqlDialect.unparseOffsetFetch: LIMIT -1 = unbounded
            return f" LIMIT -1 OFFSET {offset}"
        return super().fetch_clause(offset, fetch, has_order)

    def values(self, rows, names, alias: str = "t") -> str:
        return self._values_as_union(rows, names, alias=alias)


# ---------------------------------------------------------------------------
# ANSI family (r5 batch 3) — the remaining twenty reference dialects,
# completing sql/dialect/ parity at 39/39. The reference's tail is
# mostly thin: nine files are pure product tags with zero behavior
# overrides (Ansi, Calcite, Firebird, Ingres, Interbase, LucidDb,
# Neoview, Netezza, Paraccel — each just sets DatabaseProduct and an
# identifier quote), and the rest carry one to five capability
# switches each. We mirror that structure: one AnsiDialect base with a
# conservative SQL:2011 surface (refuse-over-wrong, like every other
# dialect here), thin subclasses carrying exactly the reference's
# documented deltas.

# Functions spelled identically in Spark SQL and the ANSI standard
# (and in DuckDB, which value-verifies this family's emissions).
# `length` stays in the Spark spelling: ANSI says CHAR_LENGTH but every
# engine in this family accepts LENGTH (Derby's ONE reference rule is
# literally CHAR_LENGTH→LENGTH). octet_length deliberately absent —
# argument typing diverges across engines.
_ANSI_SHARED = {
    "sum", "count", "min", "max", "avg",
    "stddev_pop", "stddev_samp", "var_pop", "var_samp",
    "covar_pop", "covar_samp", "corr", "grouping",
    "abs", "mod", "sqrt", "exp", "ln", "power",
    "floor", "ceil", "ceiling", "round", "sign",
    "upper", "lower", "substring", "trim", "ltrim", "rtrim",
    "length", "replace", "coalesce", "nullif", "cast", "extract",
}

# SQL:2011 window functions — excluded wholesale by the dialects whose
# reference file sets supportsWindowFunctions()=false.
_ANSI_WINDOW = {
    "row_number", "rank", "dense_rank", "lag", "lead", "ntile",
    "first_value", "last_value", "nth_value", "percent_rank",
    "cume_dist",
}

_OVER_RE = re.compile(r"(?i)\bover\s*\(")
_AGG_FILTER_RE = re.compile(r"(?i)\bfilter\s*\(")


def _refuse_clause(text: str, pattern: re.Pattern, dialect: str, what: str) -> None:
    if lexer.search(pattern, text):
        raise UnsupportedDialectExpression(
            f"{dialect} does not support {what}: {text!r}"
        )


class AnsiDialect(Dialect):
    """≈ sql/dialect/AnsiSqlDialect.java — "a dialect useful for
    generating generic SQL". Emission surface: standard aggregates +
    scalar core + SQL:2011 window functions, `year(x)` shorthands →
    EXTRACT, ANSI `OFFSET n ROWS FETCH NEXT m ROWS ONLY` row limiting,
    parenthesized table-value constructor `(VALUES ...) AS t(...)`,
    SEMI/ANTI → [NOT] EXISTS (no ANSI keyword), every sort key with
    explicit NULLS FIRST/LAST (the generic dialect can't know the
    target's un-annotated default, so it never relies on one).
    ROLLUP/CUBE/GROUPING SETS are SQL:1999 — inherited native."""

    name = "ansi"
    _merge = True  # native MERGE INTO
    semi_join_kw = None
    anti_join_kw = None
    _windows = True       # supportsWindowFunctions()
    _agg_filter = True    # supportsAggregateFunctionFilter()
    _shared = _ANSI_SHARED | _ANSI_WINDOW
    _fn_map: dict = {}
    _type_map: dict = {}
    _type_refuse: frozenset = frozenset()
    _type_strip_args: frozenset = frozenset()

    def expr(self, text: str) -> str:
        if not self._windows:
            _refuse_clause(
                text, _OVER_RE, self.name, "window functions (OVER)"
            )
        if not self._agg_filter:
            _refuse_clause(
                text, _AGG_FILTER_RE, self.name, "aggregate FILTER"
            )
        text = _rewrite_extract_units(text)
        if self._type_map or self._type_refuse:
            text = _rewrite_cast_types(
                text, self._type_map, self._type_refuse, self._type_strip_args
            )
        return _check_and_map_calls(text, self._shared, self._fn_map, self.name)

    def sort_key(self, text: str) -> str:
        return _sort_key_explicit_nulls(self.expr, text)

    def fetch_clause(self, offset, fetch, has_order):
        c = ""
        if offset:
            c += f" OFFSET {offset} ROWS"
        if fetch is not None:
            c += f" FETCH NEXT {fetch} ROWS ONLY"
        return c

    def values(self, rows, names, alias: str = "t") -> str:
        body = ", ".join(self._row(r) for r in rows)
        return f"(VALUES {body}) AS {alias}({', '.join(names)})"


class CalciteDialect(AnsiDialect):
    """≈ sql/dialect/CalciteSqlDialect.java — DatabaseProduct.CALCITE,
    double-quote identifiers, zero behavior overrides: SQL the
    reference's own parser re-reads. Pure product tag over ANSI."""

    name = "calcite"


class FirebirdDialect(AnsiDialect):
    """≈ sql/dialect/FirebirdSqlDialect.java — pure product tag
    (DatabaseProduct.FIREBIRD), zero overrides."""

    name = "firebird"
    _merge = True  # native MERGE INTO


class IngresDialect(AnsiDialect):
    """≈ sql/dialect/IngresSqlDialect.java — pure product tag, zero
    overrides."""

    name = "ingres"
    _merge = False  # no MERGE statement


class InterbaseDialect(AnsiDialect):
    """≈ sql/dialect/InterbaseSqlDialect.java — pure product tag, zero
    overrides."""

    name = "interbase"
    _merge = False  # no MERGE statement


class LucidDbDialect(AnsiDialect):
    """≈ sql/dialect/LucidDbSqlDialect.java — product tag with
    double-quote identifiers, zero behavior overrides."""

    name = "luciddb"
    _merge = False  # no documented MERGE


class NeoviewDialect(AnsiDialect):
    """≈ sql/dialect/NeoviewSqlDialect.java — pure product tag, zero
    overrides."""

    name = "neoview"
    _merge = False  # no documented MERGE


class NetezzaDialect(AnsiDialect):
    """≈ sql/dialect/NetezzaSqlDialect.java — product tag with
    double-quote identifiers, zero behavior overrides."""

    name = "netezza"
    _merge = False  # no MERGE statement


class ParaccelDialect(AnsiDialect):
    """≈ sql/dialect/ParaccelSqlDialect.java — product tag with
    double-quote identifiers, zero behavior overrides."""

    name = "paraccel"
    _merge = False  # no MERGE statement


class AccessDialect(AnsiDialect):
    """≈ sql/dialect/AccessSqlDialect.java — one override:
    supportsWindowFunctions()=false. Window calls and OVER clauses
    refuse."""

    name = "access"
    _merge = False  # no MERGE statement
    _windows = False
    _shared = _ANSI_SHARED


class InfobrightDialect(AnsiDialect):
    """≈ sql/dialect/InfobrightSqlDialect.java — backtick identifiers
    (MySQL-descended product) and supportsWindowFunctions()=false; no
    other overrides."""

    name = "infobright"
    _merge = False  # MySQL-derived, no MERGE
    _windows = False
    _shared = _ANSI_SHARED


class Db2Dialect(AnsiDialect):
    """≈ sql/dialect/Db2SqlDialect.java. Reference switches:
    hasImplicitTableAlias()=false — every FROM-position table carries
    an explicit alias (`lineitem AS lineitem`); interval literals
    unparse as DB2 labeled durations (`INTERVAL '3' MONTH` → `3
    MONTH`, sign prefixed, single-unit qualifiers only — compound
    ranges like YEAR TO MONTH raise in the reference's
    unparseSqlIntervalQualifier and refuse here); supportsCharSet
    false (we never emit charsets)."""

    name = "db2"
    _merge = True  # native MERGE INTO

    _INTERVAL_RE = re.compile(
        r"(?i)\bINTERVAL\s+'([^']*)'\s+"
        r"(YEAR|MONTH|DAY|HOUR|MINUTE|SECOND|MICROSECOND)\b"
    )
    _ANY_INTERVAL_RE = re.compile(r"(?i)\bINTERVAL\b")

    def scan_item(self, table: str) -> str:
        return f"{table} AS {table}"

    def expr(self, text: str) -> str:
        def repl(m):
            if not re.fullmatch(r"-?\d+", m.group(1)):
                return m.group(0)
            return f"{m.group(1)} {m.group(2).upper()}"

        rewritten = lexer.sub(self._INTERVAL_RE, repl, text)
        if lexer.search(self._ANY_INTERVAL_RE, rewritten):
            raise UnsupportedDialectExpression(
                "db2 labeled durations support single-unit "
                f"qualifiers only: {text!r}"
            )
        return super().expr(rewritten)


class ExasolDialect(AnsiDialect):
    """≈ sql/dialect/ExasolSqlDialect.java. Reference switches:
    supportsAggregateFunction limited to AVG/COUNT/COVAR_POP/
    COVAR_SAMP/MAX/MIN/STDDEV_POP/STDDEV_SAMP/SUM/VAR_POP/VAR_SAMP
    (CORR refuses), supportsAggregateFunctionFilter()=false,
    supportsNestedAggregations()=false (our emitter never nests),
    unparseOffsetFetch → LIMIT form, unparseCall delegates to
    PostgreSQL (so date_trunc stays native, as in PG)."""

    name = "exasol"
    _merge = True  # native MERGE INTO
    _agg_filter = False
    _shared = (_ANSI_SHARED - {"corr"}) | _ANSI_WINDOW | {"date_trunc"}

    fetch_clause = Dialect.fetch_clause


class FireboltDialect(AnsiDialect):
    """≈ sql/dialect/FireboltSqlDialect.java. Reference switches:
    supportsAggregateFunction limited to ANY_VALUE/AVG/COUNT/MAX/MIN/
    STDDEV_SAMP/SUM, supportsAggregateFunctionFilter()=false
    (FireboltSqlDialect.java:167 — `agg(x) FILTER (WHERE ...)` refuses
    instead of shipping SQL Firebolt rejects), getCastSpec
    (FireboltSqlDialect.java:129-164): TINYINT/SMALLINT → INT,
    TIME/*_WITH_LOCAL_TIME_ZONE → TIMESTAMP, CHAR → VARCHAR,
    DECIMAL(p,s) → bare FLOAT (precision dropped), REAL → DOUBLE,
    unparseOffsetFetch → LIMIT form, NullCollation.LOW — which is
    exactly Spark's effective placement (ASC ⇒ NULLS FIRST, DESC ⇒
    NULLS LAST), so bare sort keys are emitted when the requested
    placement matches and refuse when a query explicitly asks for the
    opposite (Firebolt has no NULLS FIRST/LAST syntax to emulate
    with)."""

    name = "firebolt"
    _merge = False  # no MERGE statement
    _agg_filter = False
    _shared = (
        _ANSI_SHARED
        - {"stddev_pop", "var_pop", "var_samp", "covar_pop",
           "covar_samp", "corr"}
    ) | {"any_value"} | _ANSI_WINDOW
    _type_map = {
        "tinyint": "INT",
        "smallint": "INT",
        "char": "VARCHAR",
        "decimal": "FLOAT",
        "real": "DOUBLE",
        "float": "DOUBLE",  # Spark FLOAT is 4-byte REAL
        "timestamp_ltz": "TIMESTAMP",
    }
    _type_strip_args = frozenset({"decimal", "char"})

    fetch_clause = Dialect.fetch_clause

    def sort_key(self, text: str) -> str:
        m = _SORT_KEY_RE.match(text.strip())
        expr = self.expr(m.group(1))
        direction = (m.group(2) or "").strip().upper()
        nulls = (m.group(3) or "").upper()
        low = "LAST" if direction == "DESC" else "FIRST"
        if nulls and nulls != low:
            raise UnsupportedDialectExpression(
                f"firebolt sorts nulls LOW natively and cannot emulate "
                f"NULLS {nulls} here: {text!r}"
            )
        return f"{expr} {direction}".strip()


class H2Dialect(AnsiDialect):
    """≈ sql/dialect/H2SqlDialect.java. Reference switches:
    supportsWindowFunctions()=false, supportsJoinType excludes FULL,
    supportsCharSet()=false (never emitted)."""

    name = "h2"
    _merge = True  # native MERGE INTO
    _windows = False
    _shared = _ANSI_SHARED

    def join_kw(self, jt: str) -> str:
        if jt == "FULL":
            raise UnsupportedDialectExpression(
                "h2 does not support FULL JOIN "
                "(H2SqlDialect.supportsJoinType)"
            )
        return super().join_kw(jt)


_HSQLDB_TRUNC_FMT = {
    # HsqldbSqlDialect.convertTimeUnit — the exact element list; units
    # outside it (quarter, millennium, ...) refuse as the reference's
    # AssertionError does.
    "year": "YYYY", "month": "MM", "day": "DD", "week": "WW",
    "hour": "HH24", "minute": "MI", "second": "SS",
}


class HsqldbDialect(AnsiDialect):
    """≈ sql/dialect/HsqldbSqlDialect.java. Reference switches:
    supportsWindowFunctions()=false,
    supportsAggregateFunctionFilter()=false, FLOOR-to-unit →
    TRUNC(x, 'fmt') via convertTimeUnit (we rewrite the equivalent
    date_trunc spelling), unparseOffsetFetch → LIMIT form. The
    reference's rewriteSingleValueExpr CASE emulation guards a
    SINGLE_VALUE node our lowering never emits (scalar subqueries are
    executed Spark-side, not pushed)."""

    name = "hsqldb"
    _merge = True  # native MERGE INTO
    _windows = False
    _agg_filter = False
    _shared = _ANSI_SHARED | {"trunc"}

    fetch_clause = Dialect.fetch_clause

    def expr(self, text: str) -> str:
        text = _rewrite_date_trunc_to_trunc(
            text, _HSQLDB_TRUNC_FMT, self.name
        )
        return super().expr(text)


class InformixDialect(AnsiDialect):
    """≈ sql/dialect/InformixSqlDialect.java. Reference switches:
    supportsAliasedValues()=false → FROM-position VALUES emulated as
    SELECT ... UNION ALL, supportsGroupByLiteral()=false (our group
    keys are always column expressions, never ordinals/literals)."""

    name = "informix"
    _merge = True  # native MERGE INTO

    def values(self, rows, names, alias: str = "t") -> str:
        return self._values_as_union(rows, names, alias=alias)


class JethroDataDialect(AnsiDialect):
    """≈ sql/dialect/JethroDataSqlDialect.java. Reference switches:
    supportsAggregateFunction limited to COUNT/SUM/AVG/MIN/MAX/
    STDDEV_POP/STDDEV_SAMP/VAR_POP/VAR_SAMP, and
    emulateNullDirection returns the bare node — i.e. Jethro cannot
    express or emulate a null placement. The reference then emits the
    key anyway (silently wrong ordering under LIMIT); we diverge to
    refuse-over-wrong: keys whose requested placement differs from
    Jethro's un-annotated default (NullCollation.HIGH — ASC ⇒ NULLS
    LAST, DESC ⇒ NULLS FIRST) refuse instead. Spark's effective
    default is the opposite rule, so a bare ASC key refuses unless
    the query explicitly sorted NULLS LAST."""

    name = "jethrodata"
    _merge = False  # no MERGE statement
    _shared = (
        _ANSI_SHARED - {"covar_pop", "covar_samp", "corr"}
    ) | _ANSI_WINDOW

    def sort_key(self, text: str) -> str:
        m = _SORT_KEY_RE.match(text.strip())
        expr = self.expr(m.group(1))
        direction = (m.group(2) or "").strip().upper()
        requested = (m.group(3) or "").upper()
        if not requested:  # Spark's effective low-nulls placement
            requested = "LAST" if direction == "DESC" else "FIRST"
        native = "FIRST" if direction == "DESC" else "LAST"
        if requested != native:
            raise UnsupportedDialectExpression(
                f"jethrodata cannot emulate NULLS {requested} "
                f"(emulateNullDirection is a no-op): {text!r}"
            )
        return f"{expr} {direction}".strip()


class PhoenixDialect(AnsiDialect):
    """≈ sql/dialect/PhoenixSqlDialect.java. Reference switches:
    supportsApproxCountDistinct()=true, getCastSpec REAL → FLOAT
    (Phoenix's 4-byte float spelling), DECIMAL precision/scale cap 38
    (our emitted casts never exceed it), double-quote identifiers."""

    name = "phoenix"
    _merge = False  # UPSERT, not MERGE
    _shared = AnsiDialect._shared | {"approx_count_distinct"}
    _type_map = {"real": "FLOAT"}


class SybaseDialect(AnsiDialect):
    """≈ sql/dialect/SybaseSqlDialect.java. Reference switches: row
    limiting is `SELECT TOP (n) START AT s` spliced into the SELECT
    list (unparseTopN; unparseOffsetFetch is a no-op), parentheses for
    MSSQL consistency. Documented divergence: Sybase START AT is
    1-based while our IR offset is 0-based, so we emit offset+1 —
    the reference unparses the offset literal unchanged, which drops
    one row. START AT without TOP is not Sybase syntax → an
    offset-only Sort refuses."""

    name = "sybase"
    _merge = True  # native MERGE INTO

    def fetch_clause(self, offset, fetch, has_order):
        if fetch is None and not offset:
            return ""
        if fetch is None:
            raise UnsupportedDialectExpression(
                "sybase START AT requires TOP; offset without fetch "
                "has no Sybase form"
            )
        return ("top_start_at", fetch, offset or 0)


SPARK = SparkDialect()
DUCKDB = DuckDBDialect()
POSTGRES = PostgresDialect()
MYSQL = MySQLDialect()
BIGQUERY = BigQueryDialect()
ORACLE = OracleDialect()
MSSQL = MssqlDialect()
TRINO = TrinoDialect()
HIVE = HiveDialect()
SNOWFLAKE = SnowflakeDialect()
CLICKHOUSE = ClickHouseDialect()
REDSHIFT = RedshiftDialect()
SQLITE = SqliteDialect()
PRESTO = PrestoDialect()
VERTICA = VerticaDialect()
TERADATA = TeradataDialect()
DERBY = DerbyDialect()
STARROCKS = StarRocksDialect()
DORIS = DorisDialect()
ANSI = AnsiDialect()
CALCITE = CalciteDialect()
FIREBIRD = FirebirdDialect()
INGRES = IngresDialect()
INTERBASE = InterbaseDialect()
LUCIDDB = LucidDbDialect()
NEOVIEW = NeoviewDialect()
NETEZZA = NetezzaDialect()
PARACCEL = ParaccelDialect()
ACCESS = AccessDialect()
INFOBRIGHT = InfobrightDialect()
DB2 = Db2Dialect()
EXASOL = ExasolDialect()
FIREBOLT = FireboltDialect()
H2 = H2Dialect()
HSQLDB = HsqldbDialect()
INFORMIX = InformixDialect()
JETHRODATA = JethroDataDialect()
PHOENIX = PhoenixDialect()
SYBASE = SybaseDialect()

#: every shipped dialect by name ≈ SqlDialect.DatabaseProduct — 39,
#: one per reference sql/dialect/ file (DuckDB stands in for the
#: reference's Calcite-adjacent DuckDBSqlDialect).
DIALECTS = {
    d.name: d
    for d in (
        SPARK, DUCKDB, POSTGRES, MYSQL, BIGQUERY, ORACLE, MSSQL, TRINO,
        HIVE, SNOWFLAKE, CLICKHOUSE, REDSHIFT, SQLITE, PRESTO, VERTICA,
        TERADATA, DERBY, STARROCKS, DORIS, ANSI, CALCITE, FIREBIRD,
        INGRES, INTERBASE, LUCIDDB, NEOVIEW, NETEZZA, PARACCEL, ACCESS,
        INFOBRIGHT, DB2, EXASOL, FIREBOLT, H2, HSQLDB, INFORMIX,
        JETHRODATA, PHOENIX, SYBASE,
    )
}


def to_sql(node: ir.RelNode, dialect: "Dialect | str" = SPARK) -> str:
    """Emit a full SELECT statement for an IR tree ≈
    RelToSqlConverter.visitRoot. ``dialect`` is a Dialect instance or a
    registry name (``to_sql(plan, "mysql")`` — see DIALECTS). Raises
    NotImplementedError for nodes with no SQL form (RepeatUnion loop,
    Match NFA, ...) and UnsupportedDialectExpression when an expression
    cannot be replayed in the target dialect."""
    return _Emitter(_resolve_dialect(dialect)).select(node)


def _resolve_dialect(dialect: "Dialect | str") -> "Dialect":
    if isinstance(dialect, str):
        try:
            return DIALECTS[dialect.lower()]
        except KeyError:
            raise ValueError(
                f"unknown dialect {dialect!r}; known: {sorted(DIALECTS)}"
            ) from None
    return dialect


def insert_sql(
    table: str,
    node: ir.RelNode,
    dialect: "Dialect | str" = SPARK,
    columns: "list[str] | None" = None,
) -> str:
    """INSERT statement feeding `table` from an IR subtree ≈
    RelToSqlConverter.visit(TableModify) INSERT branch
    (RelToSqlConverter.java:1013) — the write half of whole-query
    pushdown (JdbcRules.JdbcTableModificationRule). The source is
    emitted with the ordinary SELECT emitter, so every dialect rewrite
    and refusal applies: an expression the remote cannot replay refuses
    here exactly as it does on the read path (a wrong INSERT is worse
    than a wrong SELECT — it persists)."""
    body = to_sql(node, dialect)
    cols = f" ({', '.join(columns)})" if columns else ""
    return f"INSERT INTO {table}{cols} {body}"


def delete_sql(table: str, condition: str, dialect: "Dialect | str" = SPARK) -> str:
    """DELETE statement ≈ the TableModify DELETE branch: the predicate
    goes through the dialect's expression pipeline (rewrites + refuse-
    over-wrong), never verbatim."""
    dialect = _resolve_dialect(dialect)
    return f"DELETE FROM {table} WHERE {dialect.expr(condition)}"


def update_sql(
    table: str,
    assignments: "dict[str, str]",
    condition: str,
    dialect: "Dialect | str" = SPARK,
) -> str:
    """UPDATE statement ≈ the TableModify UPDATE branch; both the SET
    expressions and the predicate are dialect-checked."""
    dialect = _resolve_dialect(dialect)
    sets = ", ".join(f"{c} = {dialect.expr(e)}" for c, e in assignments.items())
    return f"UPDATE {table} SET {sets} WHERE {dialect.expr(condition)}"


def merge_sql(
    target: str,
    source: "ir.RelNode | str",
    condition: str,
    update_set: "dict[str, str] | None" = None,
    insert_columns: "list[str] | None" = None,
    insert_values: "list[str] | None" = None,
    dialect: "Dialect | str" = SPARK,
    source_alias: str = "src",
    target_alias: str = "tgt",
) -> str:
    """SQL:2003 MERGE statement ≈ the TableModify MERGE branch
    (TableModify.java:74 Operation.MERGE; emission:
    RelToSqlConverter.java:1480 builds SqlMerge(target, condition,
    source, update, insert)). Same shape here: `source` is a table name
    or an IR subtree (emitted through the ordinary SELECT pipeline, so
    every dialect rewrite/refusal applies), `condition` joins source to
    target, and the WHEN clauses come from `update_set` /
    `insert_columns`+`insert_values`. Dialects without a native MERGE
    (DuckDB 1.0, SQLite, MySQL, ClickHouse, ...) REFUSE — a silently
    re-written upsert with different match semantics would be worse
    than no pushdown; the federation layer owns any engine-specific
    transactional lowering (sources/federation.py:push_merge)."""
    dialect = _resolve_dialect(dialect)
    if not getattr(dialect, "_merge", False):
        raise UnsupportedDialectExpression(
            f"dialect {dialect.name!r} has no MERGE statement; "
            "use federation.push_merge for a transactional lowering "
            "or target an engine with native MERGE"
        )
    if not update_set and not insert_columns:
        raise ValueError("MERGE requires at least one WHEN clause")
    if (insert_columns is None) != (insert_values is None):
        raise ValueError("insert_columns and insert_values go together")
    if insert_columns is not None:
        if not insert_columns:
            raise ValueError(
                "insert_columns is empty — pass None to omit the "
                "WHEN NOT MATCHED clause explicitly"
            )
        if len(insert_columns) != len(insert_values):
            raise ValueError(
                f"INSERT column/value arity mismatch: "
                f"{len(insert_columns)} columns, "
                f"{len(insert_values)} values"
            )
    src = (
        source
        if isinstance(source, str)
        else f"({to_sql(source, dialect)})"
    )
    parts = [
        f"MERGE INTO {target} AS {target_alias} "
        f"USING {src} AS {source_alias} ON {dialect.expr(condition)}"
    ]
    if update_set:
        sets = ", ".join(
            f"{c} = {dialect.expr(e)}" for c, e in update_set.items()
        )
        parts.append(f"WHEN MATCHED THEN UPDATE SET {sets}")
    if insert_columns:
        vals = ", ".join(dialect.expr(e) for e in insert_values)
        parts.append(
            f"WHEN NOT MATCHED THEN INSERT ({', '.join(insert_columns)}) "
            f"VALUES ({vals})"
        )
    return " ".join(parts)


class _Emitter:
    def __init__(self, dialect: Dialect):
        self.d = dialect
        self._n = 0

    def _alias(self) -> str:
        self._n += 1
        return f"t{self._n}"

    # a FROM-item: bare table name, or a parenthesized sub-select
    def from_item(self, node: ir.RelNode) -> str:
        if isinstance(node, ir.Scan):
            return self.d.scan_item(node.table)
        if isinstance(node, ir.Values):
            names = ir.schema_column_names(node.schema)
            # dialect-specific rendering (bare VALUES, parenthesized,
            # or UNION ALL emulation) happens inside d.values(); a
            # fresh alias avoids duplicate-alias errors when one FROM
            # scope holds two Values nodes (r5 review)
            return self.d.values(node.rows, names, self._alias())
        return self.d.derived_table(f"({self.select(node)})", self._alias())

    def select(self, node: ir.RelNode) -> str:
        d = self.d
        if isinstance(node, (ir.Scan, ir.Values)):
            return f"SELECT * FROM {self.from_item(node)}"
        if isinstance(node, ir.Project):
            exprs = ", ".join(d.expr(e) for e in node.exprs)
            return f"SELECT {exprs} FROM {self.from_item(node.inputs[0])}"
        if isinstance(node, ir.Filter):
            return (
                f"SELECT * FROM {self.from_item(node.inputs[0])} "
                f"WHERE {d.expr(node.condition)}"
            )
        if isinstance(node, ir.Aggregate):
            return self._aggregate(node)
        if isinstance(node, ir.Window):
            keep = [k for k in node.keep]
            cols = ", ".join(
                [d.expr(k) if k != "*" else "*" for k in keep]
                + [d.expr(e) for e in node.window_exprs]
            )
            return f"SELECT {cols} FROM {self.from_item(node.inputs[0])}"
        if isinstance(node, ir.Join):
            return self._join(node)
        if isinstance(node, ir.SetOp):
            return self._setop(node)
        if isinstance(node, ir.Sort):
            return self._sort(node)
        if isinstance(node, ir.Exchange):
            # distribution is physical-only; SQL has no Exchange —
            # identical to Calcite dropping Exchange in RelToSqlConverter
            return self.select(node.inputs[0])
        raise NotImplementedError(
            f"no SQL form for {type(node).__name__} "
            f"(NFA/loop/runtime nodes are not SQL-expressible)"
        )

    def _aggregate(self, node: ir.Aggregate) -> str:
        d = self.d
        keys = [d.expr(k) for k in node.group_keys]
        calls = [d.expr(c) for c in node.agg_calls]
        head = ", ".join(keys + calls) or "*"
        src = self.from_item(node.inputs[0])
        if node.group_type == "SIMPLE":
            tail = f" GROUP BY {', '.join(keys)}" if keys else ""
        elif node.group_type == "ROLLUP":
            tail = d.rollup_clause(keys)
        elif node.group_type == "CUBE":
            tail = d.cube_clause(keys)
        elif node.group_type == "GROUPING_SETS":
            if any("GROUP_ID" in c.upper() for c in node.agg_calls):
                raise NotImplementedError(
                    "GROUP_ID expansion happens at lowering, not rel2sql"
                )
            sets = ", ".join(
                "(" + ", ".join(d.expr(k) for k in s) + ")" for s in node.grouping_sets
            )
            tail = d.grouping_sets_clause(sets)
        else:
            raise ValueError(node.group_type)
        return f"SELECT {head} FROM {src}{tail}"

    def _join(self, node: ir.Join) -> str:
        d = self.d
        left = self.from_item(node.inputs[0])
        right = self.from_item(node.inputs[1])
        jt = node.join_type.upper()
        if node.condition is None or jt == "CROSS":
            return f"SELECT * FROM {left} CROSS JOIN {right}"
        kw_for = {"SEMI": d.semi_join_kw, "ANTI": d.anti_join_kw}
        if jt in kw_for and kw_for[jt] is None:
            if not d.supports_exists_subquery:
                raise UnsupportedDialectExpression(
                    f"{d.name} has no {jt} JOIN keyword and its planner "
                    "does not decorrelate the [NOT] EXISTS lowering"
                )
            # dialect without this join's keyword: lower to correlated
            # [NOT] EXISTS (what Calcite's converter does for e.g.
            # PostgresqlSqlDialect; Hive has LEFT SEMI JOIN but no ANTI
            # keyword, so each type is checked independently). Column
            # names in our IR conditions are globally unique, so the
            # correlation resolves.
            neg = "NOT " if jt == "ANTI" else ""
            return (
                f"SELECT * FROM {left} WHERE {neg}EXISTS "
                f"(SELECT 1 FROM {right} WHERE {d.expr(node.condition)})"
            )
        kw = d.join_kw(jt)
        return f"SELECT * FROM {left} {kw} {right} ON {d.expr(node.condition)}"

    def _setop(self, node: ir.SetOp) -> str:
        op = self.d.setop_kw(node.kind)
        parts = [
            self.d.setop_part(self.select(i), self._alias())
            for i in node.inputs
        ]
        return f" {op} ".join(parts)

    def _sort(self, node: ir.Sort) -> str:
        d = self.d
        child = node.inputs[0]
        # merge ORDER BY into the child SELECT when it is already a
        # plain SELECT (avoids a needless subquery level)
        inner = self.select(child)
        clauses = ""
        if node.keys:
            clauses += " ORDER BY " + ", ".join(d.sort_key(k) for k in node.keys)
        fc = d.fetch_clause(node.offset, node.fetch, bool(node.keys))
        if isinstance(fc, tuple) and fc[0] == "top":
            # ("top", n): SELECT TOP n wrap (MSSQL without ORDER BY —
            # fetch_clause only returns this form when there are no
            # sort keys, so dropping `clauses` loses nothing)
            return (
                f"SELECT TOP {fc[1]} * FROM "
                f"{d.derived_table(f'({inner})', self._alias())}"
            )
        if isinstance(fc, tuple) and fc[0] == "top_start_at":
            # ("top_start_at", fetch, offset): Sybase row limiting ≈
            # SybaseSqlDialect.unparseTopN — TOP lives in the SELECT
            # list of the SAME query block as its ORDER BY, so splice
            # it into the child SELECT instead of wrapping (a wrap
            # would orphan the ORDER BY).
            _, f_, off = fc
            top = f"TOP ({f_})" + (f" START AT {off + 1}" if off else "")
            # The splice assumes a bare 'SELECT <list>' child. A child
            # that already carries TOP (Sort under Sort) or any other
            # SELECT-prefix variant (DISTINCT, future forms) would
            # yield invalid 'SELECT TOP (m) TOP (n) ...' — wrap those
            # in a derived table instead (the inner TOP keeps its own
            # ORDER BY legal inside the derived table) (ADVICE r5).
            if not inner.upper().startswith("SELECT "):
                # refusal contract, and survives python -O (review r6)
                raise UnsupportedDialectExpression(
                    "sybase TOP splice requires a bare SELECT child, "
                    f"got: {inner[:40]!r}"
                )
            head = inner[len("SELECT "):].lstrip()
            if isinstance(child, ir.SetOp) or re.match(
                r"(?i)(TOP|DISTINCT)\b", head
            ):
                return (
                    f"SELECT {top} * FROM "
                    f"{d.derived_table(f'({inner})', self._alias())}{clauses}"
                )
            return f"SELECT {top} {inner[len('SELECT '):]}{clauses}"
        clauses += fc
        if isinstance(child, ir.SetOp):
            return (
                f"SELECT * FROM "
                f"{d.derived_table(f'({inner})', self._alias())}{clauses}"
            )
        return inner + clauses
