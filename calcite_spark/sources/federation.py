"""Federation / JDBC-adapter analog: whole- and partial-query pushdown
to an external SQL engine via the rel2sql emitter.

≈ Calcite's JDBC adapter split in two halves:
  * SQL generation — adapter/jdbc/JdbcRules.java:381-787 converts
    Filter/Project/Join/Aggregate/Sort subtrees to the remote dialect
    (our sql/rel2sql.py, no driver jar needed);
  * execution — JdbcToEnumerableConverter ships the generated SQL and
    enumerates the result. Here the stand-in external engine is DuckDB
    (the container has no JDBC jar); results return as Arrow and enter
    Spark via createDataFrame.

Scale contract (read this before pointing it at a real warehouse):
the materialized remote result lands on the DRIVER — identical to
Calcite's JDBC adapter, whose enumerator is also single-stream. Push
down subtrees that REDUCE (filtered dims, pre-aggregations), never a
fact-table scan. On a real cluster the same Catalog entry would be
backed by spark.read.jdbc(partitionColumn=..., numPartitions=...) for
parallel fetch; that path is gated on a driver jar being present.
"""

from __future__ import annotations

from pyspark.sql import DataFrame

from calcite_spark.plans import ir
from calcite_spark.sql import lexer
from calcite_spark.sql.rel2sql import DUCKDB, SQLITE, Dialect, to_sql


class DuckDBEngine:
    """External engine stand-in (≈ JdbcSchema over a warehouse).

    Exposes tables by name; executes dialect SQL; returns Arrow."""

    # DuckDB 1.0 has no MERGE statement but its UPDATE ... FROM +
    # INSERT ... SELECT pair is verified (test_federation.py) — enables
    # push_merge's transactional lowering
    supports_update_from = True

    def __init__(self, connection, dialect: Dialect = DUCKDB):
        self.con = connection
        self.dialect = dialect
        self.queries_executed: list[str] = []  # observability for tests

    @classmethod
    def from_parquet_dir(cls, sf_dir: str, tables, schema: str | None = None) -> "DuckDBEngine":
        """With `schema`, views are exposed as <schema>.<table> — the
        names a CREATE FOREIGN SCHEMA mount scans by (rel2sql emits scan
        names verbatim, so the remote must resolve the qualified form)."""
        import duckdb

        con = duckdb.connect()
        prefix = ""
        if schema:
            con.execute(f"CREATE SCHEMA {schema}")
            prefix = f"{schema}."
        for t in tables:
            con.execute(
                f"CREATE VIEW {prefix}{t} AS SELECT * FROM read_parquet('{sf_dir}/{t}.parquet')"
            )
        return cls(con)

    def execute_arrow(self, sql: str):
        self.queries_executed.append(sql)
        return self.con.execute(sql).arrow()

    def execute_modify(self, sql: str) -> int:
        """Run a write statement emitted by rel2sql.insert_sql /
        update_sql / delete_sql ≈ JdbcTableModify execution; returns
        the affected-row count (DuckDB reports it as a 1-row Count
        result)."""
        self.queries_executed.append(sql)
        rows = self.con.execute(sql).fetchall()
        return int(rows[0][0]) if rows else 0

    def schema_of(self, name: str) -> list[str]:
        """Column names via the catalog interface — a METADATA probe
        (≈ JDBC DatabaseMetaData.getColumns in Calcite's JdbcSchema),
        not a pushed query: it never scans data and is not recorded in
        queries_executed. Used by plan rules (transitive-predicate
        inference) that must resolve remote columns without lowering
        the remote subtree."""
        return [r[0] for r in self.con.execute(f"DESCRIBE {name}").fetchall()]


class SQLiteEngine:
    """A REAL second engine, not a stand-in: Python's stdlib sqlite3
    (SQLite 3.40 in this container — no driver jar needed, unlike JDBC).
    Implements the same engine protocol as DuckDBEngine
    (execute_arrow / schema_of / dialect / queries_executed), so
    federate() pushes maximal subtrees to it through the SQLITE rel2sql
    dialect and every pushed query executes on an engine with genuinely
    different SQL semantics (dynamic typing, integer division,
    case-insensitive LIKE) — the dialect's rewrites and refusals are
    what keep the answers identical.

    Connect-time contract:
      * PRAGMA case_sensitive_like=ON — the SQLITE dialect emits LIKE
        assuming Spark's case-sensitive semantics;
      * math-function probe — CPython's bundled SQLite enables
        SQLITE_ENABLE_MATH_FUNCTIONS; a build without it would make
        sqrt/ln/... fail at execution, so we fail fast at connect.

    Temporal columns land as ISO-8601 TEXT (SQLite's native datetime
    storage — https://sqlite.org/datatype3.html); lexicographic
    comparison on ISO text is chronological, which is what makes the
    dialect's DATE-literal → TEXT-literal rewrite sound."""

    def __init__(self, connection, dialect: Dialect = SQLITE):
        self.con = connection
        self.dialect = dialect
        self.queries_executed: list[str] = []
        self.con.execute("PRAGMA case_sensitive_like=ON")
        try:
            self.con.execute("SELECT sqrt(2), ln(2), pow(2, 3)")
        except Exception as e:  # pragma: no cover — stdlib builds have it
            raise RuntimeError(
                "this SQLite build lacks SQLITE_ENABLE_MATH_FUNCTIONS; "
                "the SQLITE dialect's math surface would fail at "
                f"execution: {e}"
            ) from e

    @classmethod
    def from_parquet_dir(cls, sf_dir: str, tables) -> "SQLiteEngine":
        import datetime
        import sqlite3

        import pandas as pd

        import pyarrow.parquet as pq

        con = sqlite3.connect(":memory:")
        eng = cls(con)
        for t in tables:
            # date_as_object keeps parquet date32 as datetime.date (the
            # default converts to midnight datetime64, whose rendered
            # ' 00:00:00' suffix breaks ISO-TEXT boundary comparisons)
            df = pq.read_table(f"{sf_dir}/{t}.parquet").to_pandas(
                date_as_object=True
            )
            # ONE canonical temporal rendering, 'YYYY-MM-DD HH:MM:SS' —
            # the same form the SQLITE dialect rewrites DATE/TIMESTAMP
            # literals into; mixing date-only and suffixed forms breaks
            # lexicographic(=chronological) boundary comparisons
            for c in df.columns:
                if pd.api.types.is_datetime64_any_dtype(df[c]):
                    df[c] = df[c].dt.strftime("%Y-%m-%d %H:%M:%S")
                elif df[c].dtype == object:
                    nn = df[c].dropna()
                    if len(nn) and isinstance(nn.iloc[0], datetime.datetime):
                        df[c] = df[c].map(
                            lambda v: None if v is None
                            else v.strftime("%Y-%m-%d %H:%M:%S")
                        )
                    elif len(nn) and isinstance(nn.iloc[0], datetime.date):
                        df[c] = df[c].map(
                            lambda v: None if v is None
                            else f"{v} 00:00:00"
                        )
            df.to_sql(t, con, index=False)
        return eng

    def execute_arrow(self, sql: str):
        import pyarrow as pa

        self.queries_executed.append(sql)
        cur = self.con.execute(sql)
        names = [d[0] for d in cur.description]
        rows = cur.fetchall()
        arrays = []
        for idx in range(len(names)):
            vals = [r[idx] for r in rows]
            try:
                arr = pa.array(vals)
            except (pa.ArrowInvalid, pa.ArrowTypeError) as e:
                # SQLite columns are dynamically typed; a column mixing
                # storage classes has no faithful Arrow type — refuse
                # rather than coerce (same posture as the type-fidelity
                # gate in _fetch).
                raise FederationTypeError(
                    f"sqlite column {names[idx]!r} mixes storage classes "
                    f"and cannot land in Arrow faithfully: {e}"
                ) from e
            if pa.types.is_null(arr.type):
                arr = arr.cast(pa.string())
            arrays.append(arr)
        return pa.Table.from_arrays(arrays, names=names)

    def execute_modify(self, sql: str) -> int:
        """Run a write statement emitted by rel2sql.insert_sql /
        update_sql / delete_sql ≈ JdbcTableModify execution on the
        REAL engine; commits and returns sqlite3's affected-row
        count."""
        self.queries_executed.append(sql)
        cur = self.con.execute(sql)
        self.con.commit()
        return cur.rowcount

    def schema_of(self, name: str) -> list[str]:
        """Column names via PRAGMA table_info — the metadata probe
        (≈ JDBC DatabaseMetaData.getColumns), never a data scan; not
        recorded in queries_executed."""
        rows = self.con.execute(f"PRAGMA table_info({name})").fetchall()
        if not rows:
            raise KeyError(f"sqlite table {name!r} not found")
        return [r[1] for r in rows]


def register_external(catalog, name: str, engine) -> None:
    """Mount an external table (≈ JdbcTable in the model). The remote
    table must be visible to the engine under the same name — rel2sql
    emits unqualified local names."""
    ext = getattr(catalog, "external_tables", None)
    if ext is None:
        ext = catalog.external_tables = {}
    ext[name] = engine


def _external_engine_of(node: ir.RelNode, catalog):
    """Engine if EVERY scan in this subtree is external to the same
    engine (the pushable condition), else None."""
    ext = getattr(catalog, "external_tables", {})
    engines = set()
    stack = [node]
    while stack:
        n = stack.pop()
        if isinstance(n, ir.Scan):
            if n.table not in ext:
                return None
            engines.add(id(ext[n.table]))
        stack.extend(n.inputs)
    if len(engines) != 1:
        return None
    # any scan's engine (all identical)
    for n in _scans(node):
        return ext[n.table]
    return None


def _scans(node):
    stack = [node]
    while stack:
        n = stack.pop()
        if isinstance(n, ir.Scan):
            yield n
        stack.extend(n.inputs)


class FederationTypeError(TypeError):
    """Remote result lost type fidelity crossing into Spark."""


def _arrow_to_spark_type(t) -> str:
    """Expected Spark simpleString for an Arrow field type — the
    remote's answer schema is authoritative (≈ JdbcSchema deriving row
    types from ResultSetMetaData)."""
    import pyarrow as pa

    if pa.types.is_int8(t):
        return "tinyint"
    if pa.types.is_int16(t):
        return "smallint"
    if pa.types.is_int32(t):
        return "int"
    if pa.types.is_int64(t):
        return "bigint"
    if pa.types.is_float32(t):
        return "float"
    if pa.types.is_float64(t):
        return "double"
    if pa.types.is_boolean(t):
        return "boolean"
    if pa.types.is_decimal(t):
        return f"decimal({t.precision},{t.scale})"
    if pa.types.is_date(t):
        return "date"
    if pa.types.is_timestamp(t):
        return "timestamp"
    if pa.types.is_binary(t) or pa.types.is_large_binary(t):
        return "binary"
    if pa.types.is_string(t) or pa.types.is_large_string(t):
        return "string"
    if pa.types.is_list(t) or pa.types.is_large_list(t):
        return f"array<{_arrow_to_spark_type(t.value_type)}>"
    return None  # unmapped — skip the fidelity check for this column


def _fetch(catalog, engine, sql: str) -> DataFrame:
    """Execute remotely, land as a Spark DataFrame WITH a schema-fidelity
    gate (r2 review): the Arrow→pandas→createDataFrame hop could silently
    turn decimals into float64 and nanosecond timestamps into objects.
    Spark 4 ingests pyarrow Tables directly (no pandas hop); either way
    the resulting schema is asserted against the Arrow result schema."""
    tbl = engine.execute_arrow(sql)
    try:
        df = catalog.spark.createDataFrame(tbl)  # Arrow-native path
    except Exception:
        df = catalog.spark.createDataFrame(tbl.to_pandas())
    got = {f.name.lower(): f.dataType.simpleString() for f in df.schema.fields}
    if sorted(got) != sorted(f.name.lower() for f in tbl.schema):
        raise FederationTypeError(
            f"remote column set {tbl.schema.names} != fetched {sorted(got)}"
        )
    for field in tbl.schema:
        want = _arrow_to_spark_type(field.type)
        if want is not None and got[field.name.lower()] != want:
            raise FederationTypeError(
                f"column {field.name!r}: remote type {field.type} should land "
                f"as {want}, got {got[field.name.lower()]} — fix the ingest "
                "path instead of silently computing on coerced values"
            )
    return df


def jdbc_parallel_scan(
    spark,
    url: str,
    table: str,
    partition_column: str,
    lower_bound,
    upper_bound,
    num_partitions: int,
    driver: str | None = None,
    fetchsize: int = 10_000,
    reader=None,
):
    """Parallel JDBC source — the cluster-scale half of the JDBC adapter
    (≈ JdbcSchema + a partitioned input): `num_partitions` executors each
    issue their own bounded range query over `partition_column`, so the
    remote table streams into the cluster in parallel instead of through
    the driver (the `_fetch` path is for REDUCING subtrees only).

    Gated on a JDBC driver jar being on the Spark classpath — absent in
    this container, so `reader` injection lets tests pin the exact
    option contract (names Spark's JDBC source requires) without a jar;
    production callers omit it."""
    if num_partitions < 1:
        raise ValueError("num_partitions must be >= 1")
    r = (reader if reader is not None else spark.read).format("jdbc")
    r = (
        r.option("url", url)
        .option("dbtable", table)
        .option("partitionColumn", partition_column)
        .option("lowerBound", str(lower_bound))
        .option("upperBound", str(upper_bound))
        .option("numPartitions", str(num_partitions))
        .option("fetchsize", str(fetchsize))
    )
    if driver:
        r = r.option("driver", driver)
    return r.load()


# node types whose column-flow the pruning analysis understands; any
# other node (SetOp's positional matching, Window's keep="*",
# Uncollect, ...) disables pruning for the whole plan — sound refusal
_PRUNE_SAFE_NODES = (
    ir.Scan,
    ir.Values,
    ir.Project,
    ir.Filter,
    ir.Join,
    ir.Aggregate,
    ir.Sort,
    ir.Exchange,
)

def _all_nodes_safe(root) -> bool:
    if not isinstance(root, _PRUNE_SAFE_NODES):
        return False
    return all(_all_nodes_safe(c) for c in root.inputs)


def _output_is_expression_defined(root) -> bool:
    """True when the plan's output columns are all named by expressions
    (a Project or Aggregate at the top, under column-preserving nodes)
    — the condition under which 'a column referenced nowhere is dead'
    holds. A bare Filter/Scan root outputs every column implicitly, so
    nothing may be pruned."""
    n = root
    while isinstance(n, (ir.Sort, ir.Exchange, ir.Filter)) and n.inputs:
        n = n.inputs[0]
    return isinstance(n, (ir.Project, ir.Aggregate))


def _plan_column_refs(root) -> set:
    """Lower-cased lexer.column_refs of every string attribute of every
    node (conditions, projections, agg calls, sort keys).
    Over-collection (table names, join types) is sound — it only KEEPS
    columns."""
    out: set = set()

    def walk(n):
        for k, v in vars(n).items():
            if k == "inputs":
                continue
            items = v if isinstance(v, (tuple, list)) else (v,)
            for item in items:
                for s in item if isinstance(item, (tuple, list)) else (item,):
                    if isinstance(s, str):
                        out.update(t.lower() for t in lexer.column_refs(s))
        for c in n.inputs:
            walk(c)

    walk(root)
    return out


def federate(node: ir.RelNode, catalog) -> ir.RelNode:
    """Replace every MAXIMAL all-external subtree with a scan of its
    remotely-executed result (≈ JdbcRules firing bottom-up until the
    convention boundary). A subtree the dialect cannot emit falls back
    to pushing its children instead — worst case each external scan is
    fetched whole (the JdbcTableScan floor).

    Column pruning (≈ JdbcProjectRule narrowing the remote SELECT): a
    pushed subtree that is a bare scan (or filter-chain over one) is
    wrapped in a Project of only the columns the REST of the plan
    references, so the remote engine ships 2 columns instead of all of
    them — at warehouse scale the dominant cost. Applied only when the
    whole plan's column flow is analyzable (safe node set) and the
    output is expression-defined; anything else keeps SELECT *."""
    counter = [0]
    prune_refs = None
    if _all_nodes_safe(node) and _output_is_expression_defined(node):
        prune_refs = _plan_column_refs(node)

    def maybe_prune(n: ir.RelNode, eng) -> ir.RelNode:
        if prune_refs is None or n is node:  # never re-shape the root
            return n
        base = n
        while isinstance(base, ir.Filter) and base.inputs:
            base = base.inputs[0]
        if not isinstance(base, ir.Scan):
            return n  # subtree already narrows itself (Project/Agg)
        schema_of = getattr(eng, "schema_of", None)
        if schema_of is None:
            return n
        cols = schema_of(base.table)
        need = [c for c in cols if c.lower() in prune_refs]
        if not need or len(need) == len(cols):
            return n
        return ir.Project(tuple(need), inputs=(n,))

    def rewrite(n: ir.RelNode) -> ir.RelNode:
        eng = _external_engine_of(n, catalog)
        if eng is not None:
            try:
                sql = to_sql(maybe_prune(n, eng), eng.dialect)
            except Exception:  # non-emittable node or off-surface function
                sql = None
            if sql is not None:
                name = f"__fed_{counter[0]}"
                counter[0] += 1
                catalog.register_df(name, _fetch(catalog, eng, sql))
                return ir.Scan(name)
        if not n.inputs:
            return n
        new_inputs = tuple(rewrite(c) for c in n.inputs)
        if all(a is b for a, b in zip(new_inputs, n.inputs)):
            return n
        import dataclasses

        return dataclasses.replace(n, inputs=new_inputs)

    return rewrite(node)


def execute_federated(node: ir.RelNode, catalog) -> DataFrame:
    """Federated lowering: push maximal external subtrees, run the rest
    in Spark."""
    return federate(node, catalog).to_df(catalog)


def push_merge(
    engine,
    target: str,
    source: "ir.RelNode | str",
    condition: str,
    update_set: "dict[str, str] | None" = None,
    insert_columns: "list[str] | None" = None,
    insert_values: "list[str] | None" = None,
    source_alias: str = "src",
    target_alias: str = "tgt",
) -> int:
    """MERGE write-back ≈ TableModify Operation.MERGE
    (rel/core/TableModify.java:74) pushed whole to the external engine,
    completing the INSERT/UPDATE/DELETE pushdown trio.

    Dialects with a native MERGE statement get ONE rel2sql.merge_sql
    statement (the reference's RelToSqlConverter.java:1480 SqlMerge
    emission). Engines whose dialect lacks MERGE but declare
    ``supports_update_from`` (DuckDB 1.0's stand-in engine) get the
    classic transactional two-statement lowering — UPDATE matched rows
    first, then INSERT the still-unmatched ones, inside BEGIN/COMMIT —
    which is semantically identical to a MERGE carrying only
    WHEN MATCHED UPDATE / WHEN NOT MATCHED INSERT clauses (there is no
    NOT-MATCHED-BY-SOURCE form here to diverge on; update-before-insert
    keeps fresh inserts out of the update's scope). Engines with
    neither capability REFUSE (UnsupportedDialectExpression) — the
    established posture; a silent emulation with different semantics on
    an engine we have not verified would persist wrong rows."""
    from calcite_spark.sql.rel2sql import (
        UnsupportedDialectExpression,
        merge_sql,
        to_sql,
    )

    d = engine.dialect
    if getattr(d, "_merge", False):
        return engine.execute_modify(
            merge_sql(
                target,
                source,
                condition,
                update_set=update_set,
                insert_columns=insert_columns,
                insert_values=insert_values,
                dialect=d,
                source_alias=source_alias,
                target_alias=target_alias,
            )
        )
    if not getattr(engine, "supports_update_from", False):
        raise UnsupportedDialectExpression(
            f"engine dialect {d.name!r} has no MERGE and the engine "
            "declares no UPDATE...FROM capability; refusing rather "
            "than emulating unverified upsert semantics"
        )
    if not update_set and not insert_columns:
        raise ValueError("MERGE requires at least one WHEN clause")
    if (insert_columns is None) != (insert_values is None):
        raise ValueError("insert_columns and insert_values go together")
    if insert_columns is not None and (
        not insert_columns or len(insert_columns) != len(insert_values)
    ):
        raise ValueError("INSERT column/value lists must be non-empty and equal length")
    if update_set:
        # updating a column the match condition references would make
        # updated rows fail the later NOT EXISTS probe and be inserted
        # AGAIN — native MERGE only updates them. Refuse the divergent
        # shape (review r6); multi-match sources remain a documented
        # divergence (native MERGE raises a cardinality error, the
        # two-statement lowering follows the engine's UPDATE..FROM
        # pick-one behavior).
        import re as _re

        # Only TARGET-side references matter (ADVICE r6): a condition
        # like `tgt.id = src.id AND src.flag` references `flag` solely
        # on the SOURCE side, so updating target.flag is safe — refuse
        # only columns the condition reads from the target (qualified
        # by target_alias, or unqualified, which the engine resolves
        # against either relation).
        tgt_ids = set()
        for qm in _re.finditer(r"(?:([A-Za-z_]\w*)\s*\.\s*)?([A-Za-z_]\w*)", condition):
            qual, col = qm.group(1), qm.group(2)
            if qual is None or qual == target_alias:
                tgt_ids.add(col)
        touched = set(update_set) & tgt_ids
        if touched:
            raise UnsupportedDialectExpression(
                f"two-statement MERGE lowering cannot update join-key "
                f"columns {sorted(touched)} — updated rows would "
                "re-match the NOT EXISTS probe; use an engine with "
                "native MERGE"
            )
    src = (
        source if isinstance(source, str) else f"({to_sql(source, d)})"
    )
    cond = d.expr(condition)
    n = 0
    engine.execute_modify("BEGIN")
    try:
        if update_set:
            sets = ", ".join(
                f"{c} = {d.expr(e)}" for c, e in update_set.items()
            )
            n += engine.execute_modify(
                f"UPDATE {target} AS {target_alias} SET {sets} "
                f"FROM {src} AS {source_alias} WHERE {cond}"
            )
        if insert_columns:
            vals = ", ".join(d.expr(e) for e in insert_values)
            n += engine.execute_modify(
                f"INSERT INTO {target} ({', '.join(insert_columns)}) "
                f"SELECT {vals} FROM {src} AS {source_alias} "
                f"WHERE NOT EXISTS (SELECT 1 FROM {target} AS "
                f"{target_alias} WHERE {cond})"
            )
    except Exception:
        engine.execute_modify("ROLLBACK")
        raise
    engine.execute_modify("COMMIT")
    return n
