"""DDL executor ≈ server/src/main/java/org/apache/calcite/server/
ServerDdlExecutor.java:116 (grammar: server parserImpls.ftl):
CREATE/DROP TABLE (AS), VIEW, MATERIALIZED VIEW, FUNCTION — executed
against our Catalog. Spark SQL has native DDL for its own catalog;
this executor exists for the pieces Spark lacks (MATERIALIZED VIEW →
MaterializationRegistry; CTAS into plain parquet paths; FUNCTION from a
Python callable path).
"""

from __future__ import annotations

import os
import re

from calcite_spark.plans.materialize import MaterializationRegistry
from calcite_spark.sql import lexer

_CREATE_VIEW = re.compile(r"^\s*CREATE\s+(OR\s+REPLACE\s+)?VIEW\s+(\w+)\s+AS\s+(.*)$", re.I | re.S)
_CREATE_TABLE_AS = re.compile(
    r"^\s*CREATE\s+TABLE\s+(IF\s+NOT\s+EXISTS\s+)?(\w+(?:\.\w+)?)\s*"
    r"(?:\(([^()]*(?:\([^()]*\)[^()]*)*)\)\s*)?AS\s+(.*)$",
    re.I | re.S,
)
_CREATE_MV = re.compile(
    r"^\s*CREATE\s+MATERIALIZED\s+VIEW\s+(IF\s+NOT\s+EXISTS\s+)?(\w+)\s*"
    r"(?:\(\s*([\w\s,]+?)\s*\))?\s+AS\s+"
    r"SELECT\s+(.*?)\s+FROM\s+(\w+)"
    r"(?:\s+WHERE\s+(.*?))?"
    r"(?:\s+GROUP\s+BY\s+(.*?))?\s*$",
    re.I | re.S,
)
_CREATE_MV_ANY = re.compile(
    r"^\s*CREATE\s+MATERIALIZED\s+VIEW\s+(IF\s+NOT\s+EXISTS\s+)?(\w+(?:\.\w+)?)\s*"
    r"(?:\(\s*([\w\s,]+?)\s*\))?\s+AS\s+(.*)$",
    re.I | re.S,
)
_DROP = re.compile(
    r"^\s*DROP\s+(TABLE|VIEW|MATERIALIZED\s+VIEW)\s+(IF\s+EXISTS\s+)?"
    r"(\w+(?:\.\w+)?)\s*$",
    re.I,
)
_CREATE_SCHEMA = re.compile(
    r"^\s*CREATE\s+(OR\s+REPLACE\s+)?SCHEMA\s+(IF\s+NOT\s+EXISTS\s+)?(\w+)\s*$",
    re.I,
)
_DROP_SCHEMA = re.compile(
    r"^\s*DROP\s+SCHEMA\s+(IF\s+EXISTS\s+)?(\w+)\s*$", re.I
)
_CREATE_SEQUENCE = re.compile(
    r"^\s*CREATE\s+SEQUENCE\s+(IF\s+NOT\s+EXISTS\s+)?(\w+)"
    r"(?:\s+START\s+WITH\s+(-?\d+))?(?:\s+INCREMENT\s+BY\s+(-?\d+))?\s*$",
    re.I,
)
_DROP_SEQUENCE = re.compile(
    r"^\s*DROP\s+SEQUENCE\s+(IF\s+EXISTS\s+)?(\w+)\s*$", re.I
)
_CREATE_FUNCTION = re.compile(
    r"^\s*CREATE\s+FUNCTION\s+(\w+)\s+AS\s+'([^']+)'(?:\s+RETURNS\s+(\w+))?\s*$", re.I
)
_CREATE_TYPE = re.compile(r"^\s*CREATE\s+TYPE\s+(\w+)\s+AS\s+(.+)$", re.I | re.S)
_CREATE_TABLE_LIKE = re.compile(
    r"^\s*CREATE\s+TABLE\s+(IF\s+NOT\s+EXISTS\s+)?(\w+)\s+LIKE\s+(\w+)"
    r"\s*((?:(?:INCLUDING|EXCLUDING)\s+(?:GENERATED|DEFAULTS|ALL)\s*)*)$",
    re.I,
)
_CREATE_TABLE_COLS = re.compile(
    r"^\s*CREATE\s+TABLE\s+(IF\s+NOT\s+EXISTS\s+)?(\w+)\s*\((.+)\)\s*$",
    re.I | re.S,
)
_INSERT = re.compile(
    r"^\s*INSERT\s+INTO\s+(\w+(?:\.\w+)?)\s*(?:\(([^)]*)\)\s*)?"
    r"(VALUES\s*\(.+|SELECT\s+.+)$",
    re.I | re.S,
)
# the SET/WHERE boundary is found by a quote- and paren-aware scan in
# _update (review r8: a 'where' inside a string literal misparsed)
_UPDATE = re.compile(
    r"^\s*UPDATE\s+(\w+(?:\.\w+)?)\s+SET\s+(.+)$",
    re.I | re.S,
)
_DELETE = re.compile(
    r"^\s*DELETE\s+FROM\s+(\w+(?:\.\w+)?)(?:\s+WHERE\s+(.+))?\s*$",
    re.I | re.S,
)
_TRUNCATE = re.compile(
    r"^\s*TRUNCATE\s+TABLE\s+(\w+(?:\.\w+)?)"
    r"(?:\s+(CONTINUE|RESTART)\s+IDENTITY)?\s*$",
    re.I,
)
_MERGE = re.compile(
    r"(?is)^\s*MERGE\s+INTO\s+(\w+(?:\.\w+)?)"
    r"(?:\s+(?:AS\s+)?(?!USING\b)(\w+))?\s+"
    r"USING\s+(\((?:[^()]|\([^()]*\))*\)|\w+(?:\.\w+)?)"
    r"(?:\s+(?:AS\s+)?(?!ON\b)(\w+))?\s+"
    r"ON\s+(.+?)\s+(WHEN\s+.+)$"
)
# one column definition: name TYPE [AS (expr) VIRTUAL|STORED]
# [DEFAULT expr] [NOT NULL] ≈ server SqlColumnDeclaration
_COLDEF_GEN = re.compile(
    r"(?is)^(.*?)\s+AS\s*\((.*)\)\s*(VIRTUAL|STORED)$"
)
_COLDEF_DEFAULT = re.compile(r"(?is)^(.*?)\s+DEFAULT\s+(.+)$")
_CREATE_FOREIGN_SCHEMA = re.compile(
    r"^\s*CREATE\s+(?:OR\s+REPLACE\s+)?FOREIGN\s+SCHEMA\s+(\w+)\s+"
    r"TYPE\s+'(\w+)'\s+OPTIONS\s*\((.+)\)\s*$",
    re.I | re.S,
)
_OPTION = re.compile(r"(\w+)\s+'([^']*)'")
_ANALYZE = re.compile(
    r"^\s*ANALYZE\s+TABLE\s+(\w+)\s+COMPUTE\s+STATISTICS"
    r"(?:\s+FOR\s+COLUMNS\s+(.+?))?\s*$",
    re.I,
)

# SQL-standard attribute types → Spark DDL types (CREATE TYPE surface)
_SQL_TO_SPARK_TYPE = {
    "VARCHAR": "string",
    "CHAR": "string",
    "INTEGER": "int",
    "INT": "int",
    "BIGINT": "bigint",
    "SMALLINT": "smallint",
    "DOUBLE": "double",
    "FLOAT": "float",
    "REAL": "float",
    "BOOLEAN": "boolean",
    "DATE": "date",
    "TIMESTAMP": "timestamp",
    "DECIMAL": "decimal(10,0)",
}


def _spark_type(sql_type: str) -> str:
    t = sql_type.strip()
    # SQL-standard collection suffix: `int array` → array<int>,
    # `varchar array array` → array<array<string>> (r14 — the
    # postgresql.iq INSERT-coercion class declares columns this way;
    # Spark's parser only takes the ARRAY<...> spelling)
    am = re.match(r"(?is)^(.*\S)\s+(ARRAY|MULTISET)$", t)
    if am:
        # MULTISET values are arrays in this engine (bag algebra over
        # array columns — spark.iq's COMPLEX fixture declares
        # `INT MULTISET`)
        return f"array<{_spark_type(am.group(1))}>"
    mm = re.match(r"(?is)^MAP\s*<(.*)>$", t)
    if mm:
        depth, split = 0, -1
        for i, ch in enumerate(mm.group(1)):
            if ch == "<":
                depth += 1
            elif ch == ">":
                depth -= 1
            elif ch == "," and depth == 0:
                split = i
                break
        if split > 0:
            k = _spark_type(mm.group(1)[:split])
            v = _spark_type(mm.group(1)[split + 1 :])
            return f"map<{k},{v}>"
    m = re.match(r"(\w+)\s*\(([^)]*)\)", t)
    if m and m.group(1).upper() == "DECIMAL":
        return f"decimal({m.group(2)})"
    if m and m.group(1).upper() in ("VARCHAR", "CHAR"):
        return "string"
    return _SQL_TO_SPARK_TYPE.get(t.upper(), t.lower())


class DdlExecutor:
    """execute(sql) routes each statement kind ≈ ServerDdlExecutor's
    per-SqlNode execute() overloads (:60-66)."""

    def __init__(self, frontend, warehouse_dir: str):
        self.fe = frontend
        self.catalog = frontend.catalog
        self.warehouse = warehouse_dir
        os.makedirs(warehouse_dir, exist_ok=True)
        if not hasattr(self.catalog, "mv_registry"):
            self.catalog.mv_registry = MaterializationRegistry()
        # the frontend delegates INSERT statements back here so the
        # column-modifier semantics (DEFAULT / generated / NOT NULL)
        # can never be bypassed by Spark's native temp-view INSERT
        frontend._ddl = self

    def execute(self, sql: str):
        sql = sql.strip().rstrip(";")
        m = _ANALYZE.match(sql)
        if m:
            cols = [c.strip() for c in m.group(2).split(",")] if m.group(2) else None
            stats = self.catalog.analyze(m.group(1), cols)
            return {
                "analyzed": m.group(1),
                "rows": stats["rows"],
                "columns": sorted(stats["columns"]),
            }
        m = _CREATE_SCHEMA.match(sql)
        if m:
            # ≈ ServerDdlExecutor SqlCreateSchema (server schema.iq):
            # a LOCAL namespace — tables live under `<schema>.<name>`
            # catalog keys (Spark temp views mangle the dot to `__`;
            # the frontend rewrites qualified references). OR REPLACE
            # drops the schema's contents first.
            or_replace, if_not_exists, name = m.groups()
            schemas = self._schemas()
            if name in schemas:
                if or_replace:
                    for t in [
                        t for t in list(self.catalog.tables)
                        if t.startswith(name + ".")
                    ]:
                        self._drop_object(t)
                elif if_not_exists:
                    return {"schema": name, "existed": True}
                else:
                    raise ValueError(f"Schema '{name}' already exists")
            schemas.add(name)
            return {"schema": name}
        m = _DROP_SCHEMA.match(sql)
        if m:
            if_exists, name = m.groups()
            schemas = self._schemas()
            if name not in schemas:
                if if_exists:
                    return {"dropped_schema": name, "existed": False}
                raise ValueError(f"Schema '{name}' not found")
            for t in [
                t for t in list(self.catalog.tables)
                if t.startswith(name + ".")
            ]:
                self._drop_object(t)
            schemas.discard(name)
            return {"dropped_schema": name, "existed": True}
        m = _CREATE_MV.match(sql)
        if (
            m
            and sql.upper().count("SELECT") == 1
            and not re.search(
                r"\b(UNION|INTERSECT|EXCEPT|JOIN|VALUES|ORDER\s+BY|LIMIT|HAVING)\b",
                sql,
                re.I,
            )
        ):
            r = self._create_mv(*m.groups())
            if r is not None:
                return r
        m = _CREATE_MV_ANY.match(sql)
        if m:
            # arbitrary defining query (UNION ALL, VALUES, ORDER BY…):
            # materialize + register as a table, but do NOT enter the
            # substitution registry — the rewrite prover only
            # understands the SPF / single-table-aggregate /
            # join-aggregate forms (≈ the reference materializes these
            # too; substitution there likewise depends on the unifier
            # recognizing the shape)
            if_not_exists, name, aliases, query = m.groups()
            self._check_qualified(name)
            if name in self.catalog.tables:
                if if_not_exists:
                    return {"materialized_view": name, "existed": True}
                raise ValueError(f"Table '{name}' already exists")
            df = self.fe.sql(query)
            if aliases is not None:
                alias_list = [a.strip() for a in aliases.split(",")]
                if len(alias_list) != len(df.columns):
                    raise ValueError(
                        "List of column aliases must have same degree as "
                        f"table; table has {len(df.columns)} columns "
                        f"({', '.join(repr(c) for c in df.columns)}), "
                        f"whereas alias list has {len(alias_list)} columns"
                    )
                df = df.toDF(*alias_list)
            path = os.path.join(self.warehouse, name)
            df.write.mode("errorifexists").parquet(path)
            self.catalog.register(name, path)
            if not hasattr(self.catalog, "mv_names"):
                self.catalog.mv_names = set()
            self.catalog.mv_names.add(name)
            return {"materialized_view": name, "substitutable": False}
        m = _CREATE_VIEW.match(sql)
        if m:
            df = self.fe.sql(m.group(3))
            self.catalog.register_df(m.group(2), df)
            return {"view": m.group(2)}
        m = _CREATE_TABLE_AS.match(sql)
        if m:
            if_not_exists, name, collist, query = m.groups()
            self._check_qualified(name)
            if name in self.catalog.tables:
                if if_not_exists:
                    return {"table": name, "existed": True}
                raise ValueError(f"Table '{name}' already exists")
            df = self.fe.sql(query)
            if collist is not None:
                # CTAS column list ≈ server table_as.iq: bare names are
                # aliases (d6), `name type` pairs rename AND cast (d10);
                # mixing the two forms is the reference's parse error (d7)
                items = [i.strip() for i in _split_top_level(collist)]
                if len(items) != len(df.columns):
                    raise ValueError(
                        "List of column aliases must have same degree as "
                        f"table; table has {len(df.columns)} columns "
                        f"({', '.join(repr(c) for c in df.columns)}), "
                        f"whereas alias list has {len(items)} columns"
                    )
                bare = [re.fullmatch(r"[A-Za-z_]\w*", i) for i in items]
                if all(bare):
                    df = df.toDF(*items)
                elif any(bare):
                    raise ValueError(
                        "CTAS column list must be all aliases or all "
                        "`name type` declarations, not a mixture"
                    )
                else:
                    types = getattr(self.catalog, "types", {})
                    exprs = []
                    for src, item in zip(df.columns, items):
                        col, _, typ = item.partition(" ")
                        typ = types.get(typ.strip().lower(), _spark_type(typ))
                        exprs.append(f"CAST(`{src}` AS {typ}) AS {col}")
                    df = df.selectExpr(*exprs)
            path = os.path.join(self.warehouse, name)
            df.write.mode("errorifexists").parquet(path)
            self.catalog.register(name, path)
            return {"table": name, "path": path}
        m = _DROP.match(sql)
        if m:
            name = m.group(3)
            existed = name in self.catalog.tables
            if not existed and not m.group(2):
                raise ValueError(f"{name} does not exist")
            self._drop_object(name)
            return {"dropped": name, "existed": existed}
        m = _CREATE_TYPE.match(sql)
        if m:
            return self._create_type(m.group(1), m.group(2).strip())
        m = _CREATE_TABLE_LIKE.match(sql)
        if m:
            return self._create_table_like(
                m.group(2), m.group(3), bool(m.group(1)), m.group(4) or ""
            )
        m = _CREATE_FOREIGN_SCHEMA.match(sql)
        if m:
            return self._create_foreign_schema(m.group(1), m.group(2).lower(), m.group(3))
        m = _CREATE_TABLE_COLS.match(sql)
        if m and not re.match(r"^\s*CREATE\s+TABLE\s+\w+\s+AS\b", sql, re.I):
            return self._create_table_cols(
                m.group(2), m.group(3), bool(m.group(1))
            )
        # Calcite's parenthesized-query INSERT (`INSERT INTO t (VALUES
        # ...)`, spark.iq COMPLEX fixture): the standard allows parens
        # around the source query — strip them so _INSERT sees the
        # VALUES/SELECT head
        pm = re.match(
            r"(?is)^\s*(INSERT\s+INTO\s+\w+(?:\.\w+)?)\s*"
            r"\(\s*((?:VALUES|SELECT)\b.*)\)\s*$",
            sql,
        )
        if pm:
            sql = pm.group(1) + " " + pm.group(2)
        m = _INSERT.match(sql)
        if m:
            body = m.group(3)
            # Calcite constructor/infix spellings inside VALUES
            # (multiset[...], MAP[...], MULTISET UNION/EXCEPT... —
            # spark.iq's COMPLEX fixture seeds rows this way) expand
            # exactly as on the query surface before the cells parse
            if self.fe._MS_KW_RE.search(body):
                body = self.fe._expand_multiset_ctor(body)
            if self.fe._MAP_KW_RE.search(body):
                body = self.fe._expand_map_literal(body)
            if re.search(r"(?i)\bARRAY\s*\[", body):
                body = self.fe._expand_array_literal(body)
            if re.search(
                r"(?i)\bMULTISET\s+(UNION|INTERSECT|EXCEPT)\b"
                r"|\bSUBMULTISET\s+OF\b|\bIS\s+(NOT\s+)?A\s+SET\b",
                body,
            ):
                body = self.fe._expand_multiset_ops(body)
            return self._insert_into(m.group(1), m.group(2), body)
        m = _MERGE.match(sql)
        if m:
            return self._merge(*m.groups())
        m = _UPDATE.match(sql)
        if m:
            set_text, where = _split_where(m.group(2))
            return self._update(m.group(1), set_text, where)
        m = _DELETE.match(sql)
        if m:
            return self._delete(m.group(1), m.group(2))
        m = _TRUNCATE.match(sql)
        if m:
            # ≈ ServerDdlExecutor SqlTruncateTable (:378-396): erase all
            # rows, keep the schema; RESTART IDENTITY refuses exactly as
            # the reference does
            from calcite_spark.sources.modify import _rewrite

            name, identity = m.group(1), (m.group(2) or "CONTINUE").upper()
            # the reference resolves the table BEFORE the identity
            # check (ServerDdlExecutor:383-393) — a missing table
            # reports not-found, not the identity refusal (review r8)
            self._dml_target(name)
            if identity == "RESTART":
                raise NotImplementedError(
                    "RESTART IDENTIFY is not supported"
                )
            n = self.catalog.table(name).count()
            _rewrite(self.catalog, name, self.catalog.table(name).limit(0))
            return {"rows_modified": n}
        m = _CREATE_SEQUENCE.match(sql)
        if m:
            # ≈ server SqlCreateSequence over SqlSequenceValueOperator
            # (SqlStdOperatorTable.java:2554 NEXT_VALUE); the sequence
            # object lives on the catalog, values are allocated by the
            # frontend's NEXT VALUE FOR lowering
            name = m.group(2)
            seqs = self._sequences()
            if name in seqs:
                if m.group(1):
                    return {"sequence": name, "existed": True}
                raise ValueError(f"sequence {name} already exists")
            start = int(m.group(3) or 1)
            inc = int(m.group(4) or 1)
            if inc == 0:
                raise ValueError("INCREMENT BY 0 is not a sequence")
            seqs[name] = {"next": start, "inc": inc, "current": None}
            return {"sequence": name, "start": start, "increment": inc}
        m = _DROP_SEQUENCE.match(sql)
        if m:
            name = m.group(2)
            seqs = self._sequences()
            existed = name in seqs
            if not existed and not m.group(1):
                raise ValueError(f"sequence {name} does not exist")
            seqs.pop(name, None)
            return {"dropped": name, "existed": existed}
        m = _CREATE_FUNCTION.match(sql)
        if m:
            from calcite_spark.functions.udf import load_functions_from_model

            load_functions_from_model(
                self.catalog,
                [{"name": m.group(1), "callable": m.group(2),
                  "returnType": (m.group(3) or "string").lower()}],
            )
            return {"function": m.group(1)}
        raise ValueError(f"unsupported DDL: {sql[:80]}")

    def _sequences(self) -> dict:
        if not hasattr(self.catalog, "sequences"):
            self.catalog.sequences = {}
        return self.catalog.sequences

    def _create_type(self, name: str, body: str):
        """CREATE TYPE ≈ ServerDdlExecutor.execute(SqlCreateType, ...)
        (:649): either an alias of a data type or a structured type from
        attribute definitions. Registered in catalog.types as a Spark
        DDL type string; the frontend expands CAST(x AS <name>)."""
        types = getattr(self.catalog, "types", None)
        if types is None:
            types = self.catalog.types = {}
        if body.startswith("("):
            attrs = []
            for item in _split_top_level(body.strip()[1:-1]):
                col, _, typ = item.strip().partition(" ")
                attrs.append(f"{col}: {_spark_type(typ)}")
            spark_type = "struct<" + ", ".join(attrs) + ">"
        else:
            spark_type = _spark_type(body)
        types[name.lower()] = spark_type
        return {"type": name, "spark_type": spark_type}

    def _create_table_like(self, name: str, source: str, if_not_exists: bool, opts: str):
        """CREATE TABLE LIKE ≈ ServerDdlExecutor :590: new EMPTY table
        with the source's row type. INCLUDING/EXCLUDING GENERATED|
        DEFAULTS|ALL parse and validate; with no generated/default
        columns in parquet-backed tables they do not change the copy."""
        if name in self.catalog.tables:
            if if_not_exists:
                return {"table": name, "existed": True}
            raise ValueError(f"table {name} already exists")
        options = opts.upper().split()
        schema = self.catalog.table(source).schema
        path = os.path.join(self.warehouse, name)
        empty = self.catalog.spark.createDataFrame([], schema)
        empty.write.mode("errorifexists").parquet(path)
        self.catalog.register(name, path)
        src_meta = self._table_meta().get(source)
        if src_meta is not None:
            # INCLUDING GENERATED/DEFAULTS/ALL copies the column
            # modifiers (ServerDdlExecutor's LikeOption walk); the
            # default is EXCLUDING — a plain LIKE copies the row type
            # only (column order/types always carry, for INSERT)
            flags = set()
            mode = None
            for tok in options:
                if tok in ("INCLUDING", "EXCLUDING"):
                    mode = tok
                elif mode is not None:
                    if tok == "ALL":
                        for f in ("GENERATED", "DEFAULTS"):
                            flags.add((mode, f))
                    else:
                        flags.add((mode, tok))
            new_meta = {
                "order": list(src_meta["order"]),
                "types": dict(src_meta["types"]),
                "defaults": {}, "generated": {},
                "not_null": list(src_meta["not_null"]),
            }
            if ("INCLUDING", "GENERATED") in flags:
                new_meta["generated"] = dict(src_meta["generated"])
            if ("INCLUDING", "DEFAULTS") in flags:
                new_meta["defaults"] = dict(src_meta["defaults"])
            self._table_meta()[name] = new_meta
        return {"table": name, "like": source, "options": options}

    def _create_table_cols(self, name: str, cols: str, if_not_exists: bool = False):
        """CREATE TABLE with explicit columns ≈ the MutableArrayTable
        branch (:427 populate-less path): empty parquet-backed table.
        Registered custom types are usable as column types. Column
        modifiers ≈ server SqlColumnDeclaration (server table.iq):
        DEFAULT expr (may reference sibling columns), AS (expr)
        VIRTUAL|STORED generated columns (both stored physically here —
        observably identical for the deterministic expressions
        accepted), and NOT NULL (enforced at INSERT)."""
        if name in self.catalog.tables:
            if if_not_exists:
                return {"table": name, "existed": True}
            raise ValueError(f"Table '{name}' already exists")
        types = getattr(self.catalog, "types", {})
        fields, meta = [], {
            "order": [], "types": {}, "defaults": {},
            "generated": {}, "not_null": [],
        }
        for item in _split_top_level(cols):
            item = item.strip()
            col, _, rest = item.partition(" ")
            rest = rest.strip()
            if not rest:
                raise ValueError(
                    f"column declaration {item!r} needs a type "
                    "(a bare alias list is only valid with AS query)"
                )
            nn = re.search(r"(?is)\s+NOT\s+NULL\s*$", rest)
            if nn:
                meta["not_null"].append(col)
                rest = rest[: nn.start()].strip()
            gm = _COLDEF_GEN.match(rest)
            if gm:
                rest = gm.group(1).strip()
                meta["generated"][col] = gm.group(2).strip()
            else:
                dm = _COLDEF_DEFAULT.match(rest)
                if dm:
                    rest = dm.group(1).strip()
                    meta["defaults"][col] = dm.group(2).strip()
            typ = types.get(rest.lower(), _spark_type(rest))
            meta["order"].append(col)
            meta["types"][col] = typ
            fields.append(f"{col} {typ}")
        path = os.path.join(self.warehouse, name)
        empty = self.catalog.spark.createDataFrame([], ", ".join(fields))
        empty.write.mode("errorifexists").parquet(path)
        self.catalog.register(name, path)
        self._table_meta()[name] = meta
        return {"table": name, "schema": ", ".join(fields)}

    def _drop_object(self, name: str) -> None:
        """Remove a table/view/MV from every catalog surface AND delete
        its warehouse-owned storage — a dropped name must be
        re-creatable (review r8: errorifexists hit the stale dir).
        Only paths under OUR warehouse are deleted; user-registered
        parquet is never touched."""
        entry = self.catalog.tables.pop(name, None)
        self.catalog._dfs.pop(name, None)
        self._table_meta().pop(name, None)
        dropped_mv = None
        if hasattr(self.catalog, "mv_registry"):
            dropped_mv = self.catalog.mv_registry.mvs.pop(name, None)
        getattr(self.catalog, "mv_names", set()).discard(name)
        # decomposed MVs are two objects: dropping either side removes
        # both (the stats tile is useless without its view and vice
        # versa — an orphaned half would silently keep substituting)
        if dropped_mv is not None and dropped_mv.view_name:
            self.catalog._dfs.pop(dropped_mv.view_name, None)
            self.catalog.tables.pop(dropped_mv.view_name, None)
            getattr(self.catalog, "mv_names", set()).discard(dropped_mv.view_name)
            self.catalog.spark.catalog.dropTempView(dropped_mv.view_name)
        if hasattr(self.catalog, "mv_registry"):
            companions = [
                m.name
                for m in self.catalog.mv_registry.mvs.values()
                if m.view_name == name
            ]
            for c in companions:
                self._drop_object(c)
        self.catalog.spark.catalog.dropTempView(name.replace(".", "__"))
        if entry is not None and entry.path:
            real = os.path.realpath(entry.path)
            wh = os.path.realpath(self.warehouse)
            if real.startswith(wh + os.sep) and os.path.isdir(real):
                import shutil

                shutil.rmtree(real, ignore_errors=True)

    def _table_meta(self) -> dict:
        if not hasattr(self.catalog, "table_meta"):
            self.catalog.table_meta = {}
        return self.catalog.table_meta

    def _schemas(self) -> set:
        if not hasattr(self.catalog, "local_schemas"):
            self.catalog.local_schemas = set()
        return self.catalog.local_schemas

    def _check_qualified(self, name: str) -> None:
        if "." in name:
            schema = name.split(".", 1)[0]
            if schema not in self._schemas():
                raise ValueError(f"Schema '{schema}' not found")

    @staticmethod
    def _subst_cols(expr: str, values: dict, types: dict) -> str:
        """Substitute column references in a default/generator expr with
        the row's provided element text (parenthesized); columns the row
        did not provide become typed NULLs (a bare NULL is VOID-typed in
        Spark and breaks VALUES unification). String-literal CONTENTS
        are data, never column references (review r8: a default like
        'i is big' must not have its i rewritten)."""

        def repl(m):
            w = m.group(0)
            if w in values:
                return f"({values[w]})"
            if w in types:
                return f"CAST(NULL AS {types[w]})"
            return w

        return lexer.sub(r"[A-Za-z_]\w*", repl, expr)

    def _insert_into(self, name: str, cols_text, body: str):
        """INSERT INTO t [(cols)] VALUES ... | SELECT ... ≈ the server
        tier's TableModify INSERT with column-list resolution, DEFAULT
        filling (server table.iq): named subsets fill missing columns
        from their DEFAULT expressions (which may reference the row's
        provided columns), the DEFAULT keyword in VALUES does the same
        per element, generated columns compute from the row and REFUSE
        explicit values, and NOT NULL is enforced before the write."""
        if name not in self.catalog.tables:
            raise ValueError(f"Object '{name}' not found")
        entry = self.catalog.tables[name]
        reg = getattr(self.catalog, "mv_registry", None)
        # the MV check runs BEFORE the format check: a decomposed MV's
        # user-visible face is a view, and "not a base table" would
        # hide the actionable message (r9)
        if (reg is not None and name in reg.mvs) or name in getattr(
            self.catalog, "mv_names", set()
        ):
            # appending rows to a materialization desynchronizes it
            # from its defining query — substituted answers would
            # silently diverge from the base (review r8); the
            # reference likewise refuses TableModify on an MV
            raise ValueError(
                f"Cannot INSERT into materialized view '{name}' — "
                "modify the base table and refresh"
            )
        if entry.fmt != "parquet" or not entry.path:
            raise ValueError(f"INSERT target '{name}' is not a base table")
        meta = self._table_meta().get(name, {})
        phys = meta.get("order") or list(self.catalog.table(name).columns)
        types = meta.get("types") or {}
        generated = meta.get("generated", {})
        defaults = meta.get("defaults", {})
        not_null = meta.get("not_null", [])
        lower_map = {c.lower(): c for c in phys}
        if cols_text is not None:
            named = []
            for c in (x.strip() for x in cols_text.split(",")):
                rc = lower_map.get(c.lower())
                if rc is None:
                    raise ValueError(f"Unknown target column '{c}'")
                if rc in generated:
                    raise ValueError(
                        f"Cannot INSERT into generated column '{rc}'"
                    )
                named.append(rc)
        else:
            named = list(phys)  # full row type, generated checked per-row
        spark = self.catalog.spark
        # the frontend's statement-local macros must still apply to the
        # body — the old native path ran parse() first (review r8:
        # `VALUES (ARRAY[1,2])`, `VALUES (1::int)`)
        if re.search(r"(?i)\bARRAY\s*\[", body):
            body = self.fe._expand_array_literal(body)
        if "::" in body:
            body = self.fe._expand_pg_casts(body)
        if re.match(r"(?is)^VALUES\b", body):
            tuples = self._parse_values(body)
            out_rows = []
            for row in tuples:
                if len(row) != len(named):
                    raise ValueError(
                        f"Number of INSERT target columns ({len(named)}) "
                        f"does not equal number of source items ({len(row)})"
                    )
                provided = {}
                for c, el in zip(named, row):
                    if re.fullmatch(r"(?is)DEFAULT", el.strip()):
                        continue  # keyword → fall to the default expr
                    if c in generated:
                        raise ValueError(
                            f"Cannot INSERT into generated column '{c}'"
                        )
                    el = el.strip()
                    # PG coerces a '{...}' string literal to the array
                    # column's type (postgresql.iq:160 — r14): parse
                    # the text (recursing into nested braces) and CAST
                    # to the declared type; unparseable text stays a
                    # string and Spark refuses loudly at the write
                    ctype = types.get(c, "")
                    if (
                        ctype.lower().startswith("array<")
                        and el.startswith("'{")
                        and el.endswith("}'")
                    ):
                        arr = self.fe._pg_array_text_nested(el[1:-1])
                        if arr is not None:
                            el = f"CAST({arr} AS {ctype})"
                    provided[c] = el
                cells = []
                for c in phys:
                    if c in generated:
                        cells.append(
                            self._subst_cols(generated[c], provided, types)
                        )
                    elif c in provided:
                        cells.append(provided[c])
                    elif c in defaults:
                        cells.append(
                            self._subst_cols(defaults[c], provided, types)
                        )
                    else:
                        cells.append(f"CAST(NULL AS {types.get(c, 'string')})")
                out_rows.append(cells)
            values = ", ".join("(" + ", ".join(r) + ")" for r in out_rows)
            try:
                df = spark.sql(
                    f"SELECT * FROM (VALUES {values}) AS "
                    f"__ins({', '.join(phys)})"
                )
                df.schema  # force analysis inside the try
            except Exception:
                # Spark inline tables only take foldable expressions —
                # a lambda-bearing cell (the expanded MULTISET ops,
                # r14) refuses INVALID_INLINE_TABLE; the UNION ALL of
                # single-row SELECTs evaluates anything
                df = spark.sql(
                    " UNION ALL ".join(
                        "SELECT "
                        + ", ".join(
                            f"{c} AS {n}" for c, n in zip(r, phys)
                        )
                        for r in out_rows
                    )
                )
        else:
            src = self.fe.sql(body)
            if len(src.columns) != len(named):
                raise ValueError(
                    f"Number of INSERT target columns ({len(named)}) does "
                    f"not equal number of source items ({len(src.columns)})"
                )
            if cols_text is None and generated:
                raise ValueError(
                    "Cannot INSERT into generated column "
                    f"'{next(iter(generated))}'"
                )
            src = src.toDF(*named)
            src.createOrReplaceTempView("__ins_src")
            exprs = []
            for c in phys:
                if c in generated:
                    exprs.append(f"{generated[c]} AS {c}")
                elif c in named:
                    exprs.append(c)
                elif c in defaults:
                    exprs.append(f"{defaults[c]} AS {c}")
                else:
                    exprs.append(f"CAST(NULL AS {types.get(c, 'string')}) AS {c}")
            df = spark.sql(
                f"SELECT {', '.join(exprs)} FROM __ins_src"
            )
        # align to the stored schema (declared types beat VALUES
        # literal inference), then enforce NOT NULL before any write
        if types:
            df = df.selectExpr(
                *[f"CAST({c} AS {types[c]}) AS {c}" if c in types else c
                  for c in phys]
            )
        # pin the rows once (a non-deterministic SELECT source must not
        # re-execute between the NULL check and the write), then check
        # every NOT NULL column in ONE aggregate (review r8: the old
        # per-column head(1) ran the source k+2 times)
        df.persist()
        try:
            agg = df.selectExpr(
                "count(*) AS __n",
                *[f"count({c}) AS __c{i}" for i, c in enumerate(not_null)],
            ).head()
            n = agg["__n"]
            for i, c in enumerate(not_null):
                if agg[f"__c{i}"] < n:
                    raise ValueError(
                        f"Column '{c}' has no default value and does "
                        "not allow NULLs"
                    )
            df.write.mode("append").parquet(entry.path)
        finally:
            df.unpersist()
        self.catalog.register(name, entry.path)  # drop the cached scan
        return {"rows_modified": n}

    def _dml_target(self, name: str):
        """Shared DML target resolution: base parquet table, never an
        MV (a modified materialization silently desynchronizes every
        substituted answer from its defining query)."""
        if name not in self.catalog.tables:
            raise ValueError(f"Object '{name}' not found")
        entry = self.catalog.tables[name]
        if entry.fmt != "parquet" or not entry.path:
            raise ValueError(f"DML target '{name}' is not a base table")
        reg = getattr(self.catalog, "mv_registry", None)
        if (reg is not None and name in reg.mvs) or name in getattr(
            self.catalog, "mv_names", set()
        ):
            raise ValueError(
                f"Cannot modify materialized view '{name}' — modify "
                "the base table and refresh"
            )
        return entry

    def _update(self, name: str, set_text: str, where):
        """UPDATE t SET col = expr[, ...] [WHERE cond] ≈ TableModify
        Operation.UPDATE (rel/core/TableModify.java:74), lowered to the
        copy-on-write sources/modify.update_set. Column-modifier
        semantics carry over: generated columns refuse direct
        assignment and RECOMPUTE after the user assignments (they see
        the updated base columns); `SET c = DEFAULT` takes the
        default expression; assigned NOT NULL columns pre-check on the
        affected rows before any write."""
        from calcite_spark.sources.modify import update_set

        self._dml_target(name)
        meta = self._table_meta().get(name, {})
        generated = meta.get("generated", {})
        defaults = meta.get("defaults", {})
        types = meta.get("types", {})
        not_null = meta.get("not_null", [])
        df = self.catalog.table(name)
        lower_map = {c.lower(): c for c in df.columns}
        assignments = {}
        for item in _split_top_level(set_text):
            am = re.match(r"(?is)^\s*(\w+)\s*=\s*(.+?)\s*$", item)
            if am is None:
                raise ValueError(f"UPDATE: malformed assignment {item!r}")
            col, expr = am.group(1), am.group(2)
            # resolve against the schema — update_set silently ignores
            # keys that are not exact column names (review r8: unknown
            # or differently-cased assignments were silent no-ops)
            rc = lower_map.get(col.lower())
            if rc is None:
                raise ValueError(f"Unknown target column '{col}'")
            col = rc
            if col in generated:
                raise ValueError(
                    f"Cannot UPDATE generated column '{col}'"
                )
            if re.fullmatch(r"(?is)DEFAULT", expr):
                expr = defaults.get(
                    col, f"CAST(NULL AS {types.get(col, 'string')})"
                )
            assignments[col] = expr
        cond = where.strip() if where else "TRUE"
        # one aggregate over the affected rows for every assigned
        # NOT NULL column (review r8: per-column head(1) jobs) AND for
        # every NOT NULL GENERATED column whose generator references an
        # assigned column (ADVICE r8: `SET a = NULL` feeding generated
        # `a + b` recomputed NULL in the post pass and was written
        # without error, while INSERT checks all NOT NULL columns after
        # computing generated values). The generated expressions are
        # evaluated over the POST-update row: project the simultaneous
        # assignments first (RHS see original columns), then the
        # generators over the projected frame.
        checked = [c for c in not_null if c in assignments]
        gen_checked = [
            g
            for g in not_null
            if g in generated
            and {
                i.lower() for i in re.findall(r"[A-Za-z_]\w*", generated[g])
            }
            & {a.lower() for a in assignments}
        ]
        if checked or gen_checked:
            affected = df.filter(cond).selectExpr(
                *[
                    f"({assignments[c]}) AS {c}" if c in assignments else c
                    for c in df.columns
                ]
            )
            agg = affected.selectExpr(
                *[
                    f"count(CASE WHEN {c} IS NULL THEN 1 END) AS __v{i}"
                    for i, c in enumerate(checked)
                ],
                *[
                    f"count(CASE WHEN ({generated[g]}) IS NULL "
                    f"THEN 1 END) AS __g{i}"
                    for i, g in enumerate(gen_checked)
                ],
            ).head()
            for i, c in enumerate(checked):
                if agg[f"__v{i}"] > 0:
                    raise ValueError(
                        f"Column '{c}' has no default value and does "
                        "not allow NULLs"
                    )
            for i, g in enumerate(gen_checked):
                if agg[f"__g{i}"] > 0:
                    raise ValueError(
                        f"Column '{g}' has no default value and does "
                        "not allow NULLs"
                    )
        # generated columns recompute in update_set's POST pass, whose
        # expressions see the updated base values
        n = update_set(
            self.catalog, name, assignments, cond,
            post_assignments=generated or None,
        )
        return {"rows_modified": n}

    def _delete(self, name: str, where):
        """DELETE FROM t [WHERE cond] ≈ TableModify Operation.DELETE →
        sources/modify.delete_where (copy-on-write complement)."""
        from calcite_spark.sources.modify import delete_where

        self._dml_target(name)
        n = delete_where(
            self.catalog, name, where.strip() if where else "TRUE"
        )
        return {"rows_modified": n}

    def _merge(self, target, talias, using, salias, on, clauses):
        """MERGE INTO t [AS tgt] USING (src|query) [AS s] ON cond
        WHEN [NOT] MATCHED THEN UPDATE SET ... | DELETE | INSERT ... ≈
        TableModify Operation.MERGE → sources/modify.merge_into. The
        source's columns are renamed to `<alias>__<col>` so the join
        condition can never be ambiguous; qualified references rewrite
        accordingly (target-alias refs → bare, source-alias refs → the
        renamed form). Source references must be qualified when the
        statement declares a source alias."""
        from calcite_spark.sources.modify import merge_into

        self._dml_target(target)
        meta = self._table_meta().get(target, {})
        if meta.get("generated"):
            raise ValueError(
                "MERGE into a table with generated columns is not "
                "supported — use UPDATE/INSERT"
            )
        if using.startswith("("):
            src = self.fe.sql(using[1:-1].strip())
            salias = salias or "src"
        else:
            if using not in self.catalog.tables:
                raise ValueError(f"Object '{using}' not found")
            src = self.catalog.table(using)
            salias = salias or using.split(".")[-1]
        talias = talias or target.split(".")[-1]
        src = src.toDF(*[f"{salias}__{c}" for c in src.columns])

        def _requalify(text: str) -> str:
            # alias-qualified text inside a string literal is data —
            # rewriting it corrupts stored values (review r8; same
            # class as _subst_cols)
            text = lexer.sub(
                rf"\b{re.escape(salias)}\.(\w+)",
                lambda m: f"{salias}__{m.group(1)}",
                text,
            )
            return lexer.sub(
                rf"\b{re.escape(talias)}\.(\w+)", lambda m: m.group(1), text
            )

        on = _requalify(on.strip())
        update_map, insert_map = None, None
        do_delete, do_insert = False, False
        for clause in re.split(r"(?i)\bWHEN\s+", clauses)[1:]:
            clause = clause.strip().rstrip(";")
            um = re.match(
                r"(?is)^MATCHED\s+THEN\s+UPDATE\s+SET\s+(.+)$", clause
            )
            dm = re.match(r"(?is)^MATCHED\s+THEN\s+DELETE$", clause)
            im = re.match(
                r"(?is)^NOT\s+MATCHED\s+THEN\s+INSERT\s*"
                r"(?:\(([^)]*)\)\s*)?VALUES\s*\((.+)\)$",
                clause,
            )
            if um:
                update_map = {}
                for item in _split_top_level(um.group(1)):
                    am = re.match(
                        r"(?is)^\s*(?:\w+\.)?(\w+)\s*=\s*(.+?)\s*$", item
                    )
                    if am is None:
                        raise ValueError(
                            f"MERGE: malformed assignment {item!r}"
                        )
                    update_map[am.group(1)] = _requalify(am.group(2))
            elif dm:
                do_delete = True
            elif im:
                do_insert = True
                exprs = [
                    _requalify(e.strip())
                    for e in _split_top_level(im.group(2))
                ]
                tcols = list(self.catalog.table(target).columns)
                lower_map = {c.lower(): c for c in tcols}
                if im.group(1):
                    cols = []
                    for c in im.group(1).split(","):
                        rc = lower_map.get(c.strip().split(".")[-1].lower())
                        if rc is None:
                            # merge_into silently drops unknown mapping
                            # keys (review r8: a misspelled column lost
                            # its value and the real column got NULL)
                            raise ValueError(
                                f"Unknown target column {c.strip()!r}"
                            )
                        cols.append(rc)
                else:
                    cols = tcols
                if len(cols) != len(exprs):
                    raise ValueError(
                        "MERGE INSERT: column/value arity mismatch"
                    )
                insert_map = dict(zip(cols, exprs))
            else:
                raise ValueError(
                    f"MERGE: unsupported WHEN clause {clause[:60]!r}"
                )
        if do_delete and update_map:
            raise ValueError(
                "MERGE: combining WHEN MATCHED UPDATE and DELETE is "
                "not supported"
            )
        if not (update_map or do_delete or do_insert):
            raise ValueError("MERGE requires at least one WHEN clause")
        if do_insert:
            # the insert arm honors the same column modifiers as plain
            # INSERT (review r8: unmapped NOT NULL columns slipped
            # through as bare NULLs, and defaults never applied)
            from pyspark.sql import functions as F

            insert_map = insert_map or {}
            defaults = meta.get("defaults", {})
            types = meta.get("types", {})
            not_null = meta.get("not_null", [])
            for c in self.catalog.table(target).columns:
                if c not in insert_map and c in defaults:
                    insert_map[c] = self._subst_cols(
                        defaults[c], insert_map, types
                    )
            if not_null:
                probe = src.join(
                    self.catalog.table(target), F.expr(on), "left_anti"
                )
                missing = [c for c in not_null if c not in insert_map]
                checked = [c for c in not_null if c in insert_map]
                agg = probe.selectExpr(
                    "count(*) AS __n",
                    *[
                        f"count(CASE WHEN ({insert_map[c]}) IS NULL "
                        f"THEN 1 END) AS __v{i}"
                        for i, c in enumerate(checked)
                    ],
                ).head()
                if agg["__n"] > 0 and missing:
                    raise ValueError(
                        f"Column '{missing[0]}' has no default value "
                        "and does not allow NULLs"
                    )
                for i, c in enumerate(checked):
                    if agg[f"__v{i}"] > 0:
                        raise ValueError(
                            f"Column '{c}' has no default value and "
                            "does not allow NULLs"
                        )
        stats = merge_into(
            self.catalog,
            target,
            src,
            on=on,
            when_matched_update=update_map,
            when_not_matched_insert=do_insert,
            when_matched_delete=do_delete,
            insert_values=insert_map,
        )
        return stats

    @staticmethod
    def _parse_values(body: str) -> list:
        """VALUES (a, b), (c, d) → [["a","b"], ["c","d"]] — depth- and
        quote-aware so literals containing commas/parens survive."""
        text = re.sub(r"(?is)^VALUES\s*", "", body.strip())
        rows = []
        for row in lexer.split_top_level(text):
            if not (row.startswith("(") and row.endswith(")")):
                raise ValueError("malformed VALUES list")
            try:
                inner, close = lexer.balanced_span(row, 1)
            except ValueError:
                raise ValueError("malformed VALUES list") from None
            if close != len(row) - 1:
                raise ValueError("malformed VALUES list")
            rows.append(lexer.split_top_level(inner))
        return rows

    def _create_foreign_schema(self, name: str, engine_type: str, options: str):
        """CREATE FOREIGN SCHEMA ≈ ServerDdlExecutor :258 — mounts every
        table of an external engine under <schema>.<table>, backed by
        the federation layer (sources/federation.py). TYPE 'duckdb' is
        the warehouse stand-in available here; TYPE 'jdbc' is the real
        Calcite path, gated on a driver jar this container lacks."""
        if engine_type == "jdbc":
            raise NotImplementedError(
                "TYPE 'jdbc' needs a JDBC driver jar (absent here); "
                "use TYPE 'duckdb' with path/tables options"
            )
        if engine_type != "duckdb":
            raise ValueError(f"unknown foreign schema type {engine_type!r}")
        opts = dict(_OPTION.findall(options))
        tables = [t.strip() for t in opts.get("tables", "").split(",") if t.strip()]
        if not tables or "path" not in opts:
            raise ValueError("OPTIONS must provide path '...' and tables 'a,b'")
        from calcite_spark.sources.federation import DuckDBEngine, register_external

        engine = DuckDBEngine.from_parquet_dir(opts["path"], tables, schema=name)
        for t in tables:
            register_external(self.catalog, f"{name}.{t}", engine)
        schemas = getattr(self.catalog, "foreign_schemas", None)
        if schemas is None:
            schemas = self.catalog.foreign_schemas = {}
        schemas[name] = {"type": engine_type, "tables": tables, "engine": engine}
        return {"foreign_schema": name, "tables": tables}

    def _create_decomposed_mv(self, name, table, keys, calls, where):
        """CREATE MATERIALIZED VIEW whose SELECT contains derived
        aggregates (AVG/VAR/STDDEV): store the sufficient statistics in
        a SUBSTITUTABLE tile `<name>__stats` (≈ the reference applying
        AggregateReduceFunctionsRule to the view side before
        MaterializedViewAggregateRule unifies) and present the user's
        declared shape through a companion view `<name>` computed from
        the tile. Queries over the BASE table rewrite against the stats
        tile (including the declared AVG itself, via the r9 derived
        mapper); `SELECT * FROM <name>` shows exactly the declared
        columns. Refresh maintains the tile incrementally and
        re-registers the view. Returns None (→ generic, non-
        substitutable path) for shapes decomposition cannot serve."""
        from dataclasses import replace

        from calcite_spark.plans.materialize import (
            MaterializationRegistry,
        )

        deco = _find_decomposition(calls)
        if deco is None:
            return None
        stats_calls, outputs = deco
        reg = self.catalog.mv_registry
        stats_name = f"{name}__stats"
        if stats_name in self.catalog.tables:
            return None  # internal-name collision: the generic path
            # materializes the DDL fine; erroring about a name the
            # user never wrote is wrong (review r9)
        mv = reg.define(
            self.catalog, stats_name, table, keys, stats_calls,
            os.path.join(self.warehouse, stats_name),
            filter_condition=where,
        )
        exprs = list(keys)
        for alias, fn, arg in outputs:
            if fn is None:
                exprs.append(alias)
                continue
            if fn in ("APPROX_COUNT_DISTINCT", "APPROX_PERCENTILE"):
                # exact tier over the sketch column: estimate it (HLL)
                # or read the declared quantile (KLL, r11)
                body = MaterializationRegistry._map_simple(fn, arg, mv, True)
            else:
                body = MaterializationRegistry._map_derived(
                    fn, arg, mv, True, self.catalog
                )
            if body is None:
                # e.g. decimal stats columns: tear the tile down and
                # fall back to the generic path rather than serve a
                # type-changed view
                self._drop_object(stats_name)
                return None
            exprs.append(f"{body} AS {alias}")
        reg.mvs[stats_name] = replace(
            mv, view_name=name, view_exprs=tuple(exprs)
        )
        reg._rebuild_companion(self.catalog, reg.mvs[stats_name])
        if not hasattr(self.catalog, "mv_names"):
            self.catalog.mv_names = set()
        self.catalog.mv_names.add(name)
        self.catalog.mv_names.add(stats_name)
        return {
            "materialized_view": name,
            "keys": keys,
            "decomposed": True,
            "stats_tile": stats_name,
            "aggs": [a for a, _, _ in outputs],
        }

    def _create_mv(self, if_not_exists, name, aliases, select_list, table, where, group_by):
        """CREATE MATERIALIZED VIEW [IF NOT EXISTS] mv [(aliases)] AS
        SELECT ... FROM t [WHERE range] [GROUP BY keys] — the shapes
        MaterializationRegistry rewrites (ServerDdlExecutor
        materialized-view branch ≈ server materialized_view.iq):
        GROUP BY → an aggregate tile (optionally SLICED by the WHERE
        range); no GROUP BY → an SPF raw-row slice / projection index
        with IF-NOT-EXISTS and alias-list arity semantics mirroring the
        reference corpus."""
        from calcite_spark.plans.materialize import _parse_interval, parse_agg_call

        if name in self.catalog.tables:
            if if_not_exists:
                return {"materialized_view": name, "existed": True}
            raise ValueError(f"Table '{name}' already exists")
        where = where.strip() if where else None
        if where is not None and _parse_interval(where) is None:
            # a WHERE outside the containment prover's form is still a
            # valid defining query — fall through to the generic
            # (non-substitutable) materialization path
            return None
        path = os.path.join(self.warehouse, name)
        reg = self.catalog.mv_registry
        if group_by is not None:
            if aliases is not None:
                # the generic path materializes alias lists fine via
                # toDF(*aliases); it just isn't substitutable (review
                # r8: raising here refused a DDL the reference accepts)
                return None
            from calcite_spark.plans.materialize import _norm as _expr_norm

            sel_items = [i.strip() for i in _split_top_level(select_list)]
            keys = []
            for k in _split_top_level(group_by):
                k = k.strip()
                if re.fullmatch(r"[A-Za-z_]\w*", k):
                    keys.append(k)
                    continue
                # expression group key (r13, mirroring the frontend
                # lift): substitutable when the SELECT list carries the
                # SAME expression under an alias — the stored key
                # becomes 'expr AS alias', define()'s expression-key
                # form — so `CREATE MATERIALIZED VIEW ... GROUP BY
                # date_trunc('month', d)` feeds the whole tile stack
                # (rollup, grain hierarchy, grain edge, EXTRACT
                # derivation) instead of the generic path
                knorm = _expr_norm(k)
                hit = next(
                    (
                        s
                        for s in sel_items
                        if (am := re.match(
                            r"(?is)^(.*\S)\s+AS\s+([A-Za-z_]\w*)\s*$", s
                        ))
                        and _expr_norm(am.group(1)) == knorm
                    ),
                    None,
                )
                if hit is None:
                    return None  # unaliased expression key: generic
                keys.append(hit)
            calls = []
            for item in sel_items:
                if item in keys:
                    continue
                calls.append(item)
            if not calls:
                # pure-DISTINCT MV (GROUP BY, zero aggregate calls):
                # valid DDL, materialize via the generic path rather
                # than crash in define() (review r8)
                return None
            if where is not None and _parse_interval(where)[0] not in keys:
                return None  # slice column aggregated away: generic path
            def _is_approx(c):
                p = parse_agg_call(c)
                return p is not None and p[0] in (
                    "APPROX_COUNT_DISTINCT", "APPROX_PERCENTILE"
                )

            if any(parse_agg_call(c) is None for c in calls) or any(
                _is_approx(c) for c in calls
            ):
                # derived aggregates (AVG/VAR/STDDEV): decompose into a
                # substitutable stats tile + a user-shaped view (r9) —
                # anything else goes to the generic path.
                # APPROX_COUNT_DISTINCT also decomposes (ADVICE r10):
                # define() physically stores a binary HLL sketch, so a
                # direct SELECT * FROM the MV would return sketch bytes
                # where the defining query declares a BIGINT count — the
                # stats tile keeps the mergeable sketch, the companion
                # view projects hll_sketch_estimate(...) AS the alias
                return self._create_decomposed_mv(
                    name, table, keys, calls, where
                )
            mv = reg.define(
                self.catalog, name, table, keys, calls, path,
                filter_condition=where,
            )
            return {"materialized_view": name, "keys": keys, "aggs": list(mv.agg_calls)}
        select_list = select_list.strip()
        if select_list == "*":
            columns = None
        else:
            columns = [c.strip() for c in _split_top_level(select_list)]
            if any(not re.fullmatch(r"[A-Za-z_]\w*", c) for c in columns):
                return None  # expression projections: generic path
        renames = (
            [a.strip() for a in aliases.split(",")] if aliases is not None else None
        )
        mv = reg.define_spf(
            self.catalog, name, table, path,
            columns=columns,
            predicate=where,
            renames=renames,
        )
        return {
            "materialized_view": name,
            "spf": True,
            "columns": list(mv.spf_columns) if mv.spf_columns else "*",
            "predicate": mv.filter_condition,
        }


def _find_decomposition(calls):
    """Split a defining SELECT's aggregate calls into the stats calls a
    tile should STORE and the user-shaped output expressions, or None
    when any call is neither a plain SUM/COUNT/MIN/MAX nor a derived
    AVG/VAR/STDDEV (≈ AggregateReduceFunctionsRule applied to the VIEW
    side: the reference's MaterializedViewAggregateRule unifies derived
    calls in the view definition the same way as in the query).
    Returns (stats_calls, output_specs) where output_specs is a list of
    (alias, fn, arg) with fn None for plain calls."""
    from calcite_spark.plans.materialize import _DERIVED_RE, parse_agg_call

    stats_calls, have, outputs = [], {}, []

    def norm(a):
        return re.sub(r"\s+", "", a).lower()

    def ensure(fn, arg):
        if fn == "APPROX_PERCENTILE":
            # the physical tile column is a KLL sketch over the VALUE
            # expression alone — any percentile reads from it, and the
            # per-call p stays in the companion-view read (_map_simple)
            # — so key on the value expression (ADVICE r11: keying on
            # the full argument text stored one identical sketch per
            # distinct percentile literal)
            from calcite_spark.plans.materialize import _percentile_parts

            pp = _percentile_parts(arg)
            key = (fn, norm(pp[0]) if pp else norm(arg))
        else:
            key = (fn, norm(arg))
        if key not in have:
            alias = f"__{fn[:1].lower()}{len(have)}"
            have[key] = alias
            stats_calls.append(f"{fn}({arg}) AS {alias}")
        return have[key]

    derived = []
    for c in calls:
        p = parse_agg_call(c)
        if p is not None:
            fn, arg, alias = p
            if fn in ("APPROX_COUNT_DISTINCT", "APPROX_PERCENTILE"):
                # stored as a mergeable HLL/KLL sketch under an INTERNAL
                # alias; the companion view estimates it (ADVICE r10 —
                # the user column is the declared count/quantile, never
                # sketch bytes)
                derived.append((alias, fn, arg))
                outputs.append(derived[-1])
                continue
            have[(fn, norm(arg))] = alias
            stats_calls.append(c)
            outputs.append((alias, None, None))
            continue
        m = _DERIVED_RE.match(c)
        if m is None:
            return None
        derived.append((m.group(3), m.group(1).upper(), re.sub(r"\s+", " ", m.group(2))))
        outputs.append(derived[-1])
    if not derived:
        return None  # nothing to decompose: the plain path handles it
    from calcite_spark.plans.materialize import _paren_balanced, _square_arg

    for alias, fn, arg in derived:
        if arg.upper().startswith("DISTINCT"):
            return None  # AVG(DISTINCT ...) is not decomposable
        if not _paren_balanced(arg):
            return None  # lazy-regex mis-capture (AVG(a) + AVG(b)):
            # generic path, never a garbage stat
        if fn in ("APPROX_COUNT_DISTINCT", "APPROX_PERCENTILE"):
            ensure(fn, arg)
            continue
        ensure("SUM", arg)
        ensure("COUNT", arg)
        if fn != "AVG":
            # parenthesized square (review r9: the naked arg * arg
            # turned VAR(a + b) into SUM(a + b*a + b) — a silently
            # wrong sufficient statistic); shared helper keeps the
            # stored and looked-up forms identical
            ensure("SUM", _square_arg(arg))
    return stats_calls, outputs


def _split_where(text: str):
    """Split `<set list> WHERE <cond>` at the first TOP-LEVEL WHERE —
    quote- and paren-aware, so a 'where' inside a string literal or a
    parenthesized subquery never splits (review r8)."""
    w = lexer.find_top_level(text, "WHERE")
    if w < 0:
        return text.strip(), None
    return text[:w].rstrip(), text[w + 5 :].strip()


def _split_top_level(text: str) -> list[str]:
    """Split on top-level commas; parens nest, string-literal contents
    are opaque (review r8: `SET s = 'a,b'` must not split inside the
    literal), and angle brackets nest when they open a type-parameter
    list (`MAP<VARCHAR, INT>` — r14; `<` counts only right after a
    word character, so `x < 2` comparisons stay flat; an unmatched
    type-style `<` would suppress later splits — parenthesize
    comparison-bearing DEFAULT expressions). Depths are counted on the
    lexer mask."""
    out, depth, adepth, last, prev = [], 0, 0, 0, ""
    for i, ch in enumerate(lexer.mask(text)):
        if ch == "(":
            depth += 1
        elif ch == ")":
            depth -= 1
        elif ch == "<" and depth == 0 and re.match(r"\w", prev or " "):
            adepth += 1
        elif ch == ">" and adepth > 0:
            adepth -= 1  # also nets out a `<>` operator pair
        elif ch == "," and depth == 0 and adepth == 0:
            out.append(text[last:i])
            last = i + 1
        if not ch.isspace():
            prev = ch
    if last < len(text):
        out.append(text[last:])
    return out
