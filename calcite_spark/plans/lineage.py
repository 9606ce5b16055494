"""Column-level lineage ≈ rel/metadata/RelMdColumnOrigins.java +
RelColumnOrigin.java: for an output column of an IR plan, the set of
base-table columns it came from, with a `derived` flag when the value
passed through an expression, aggregate, or the null-generating side
of an outer join (the reference's exact convention:
RelMdColumnOrigins.getColumnOrigins(Join ...) marks the null-side
derived; Aggregate/Project expressions call createDerivedColumnOrigins).

Used the way Calcite uses the handler — impact analysis ("which
queries read pii_column?"), pruning validation, and audit reports.
Purely structural: walks the IR, never executes the plan; the only
engine contact is a schema probe (`catalog.table(t).columns`) for
Scan membership and SetOp positional alignment, the same class of
metadata probe as the federation engine's `schema_of`.

Returns follow the reference's tri-state:
  * a frozenset of Origin — full provenance (may be empty: a literal
    or Values column has no base-table origin),
  * None — the plan contains a node whose column flow this handler
    does not model (RepeatUnion loop, Match NFA, raw-SQL Correlate);
    the reference returns null there too, and callers must treat it
    as "unknown", never "no origins".
"""

from __future__ import annotations

import re
from dataclasses import dataclass

from calcite_spark.plans import ir
from calcite_spark.sql import lexer

_IDENT_RE = re.compile(r"`[^`]*`|[A-Za-z_][A-Za-z0-9_]*")

# tokens that look like identifiers inside expressions but never name a
# column (mirrors rel2sql's keyword guard)
_NON_COLUMN_TOKENS = frozenset(
    """select from where group by order having distinct as and or not in
    is null true false case when then else end between like cast date
    timestamp interval over partition rows range unbounded preceding
    following current row filter asc desc nulls first last exists all
    any some union intersect except join on inner left right full cross
    semi anti second seconds minute minutes hour hours day days month
    months year years string int integer bigint smallint tinyint double
    float decimal boolean binary array map struct if end""".split()
)


@dataclass(frozen=True)
class Origin:
    """≈ RelColumnOrigin.java:27 — originTable + originColumnOrdinal
    (here: column name) + isDerived."""

    table: str
    column: str
    derived: bool = False

    def as_derived(self) -> "Origin":
        return Origin(self.table, self.column, True)


def _split_alias(expr: str) -> tuple[str, str | None]:
    """(body, alias) for 'body AS alias' at top level, else (expr, None).
    The alias is the token after the LAST top-level AS — same scan as
    rel2sql's cast-target detection."""
    last = max(lexer.iter_top_level(expr, "AS"), default=-1)
    if last < 0:
        return expr.strip(), None
    alias = expr[last + 2 :].strip().strip("`")
    if not re.fullmatch(r"[A-Za-z_][A-Za-z0-9_]*", alias):
        return expr.strip(), None  # "CAST(x AS int)" tail — not an alias
    return expr[:last].strip(), alias


def _referenced_columns(expr: str) -> list[str]:
    """Identifier tokens that can name columns: not function calls
    (followed by '('), not keywords, not inside string literals."""
    out = []
    for m in lexer.finditer(_IDENT_RE, expr):
        tail = expr[m.end() :].lstrip()
        if tail.startswith("("):
            continue  # function call
        name = m.group(0).strip("`")
        if name.lower() in _NON_COLUMN_TOKENS:
            continue
        out.append(name)
    return out


class _Unknown(Exception):
    """Internal: plan contains a node this handler does not model."""


def column_origins(node: ir.RelNode, column: str, catalog) -> frozenset | None:
    """Origins of `column` in `node`'s output ≈
    RelMetadataQuery.getColumnOrigins. None = unknown (unmodeled node
    on the column's flow path); empty set = provably no base-table
    origin (literal)."""
    try:
        return frozenset(_origins(node, column, catalog))
    except _Unknown:
        return None


def lineage_report(node: ir.RelNode, catalog) -> dict:
    """{output column -> frozenset[Origin] | None} for every output
    column of the plan. The column list is computed STRUCTURALLY
    (schema probes only — a federated scan must never be fetched just
    to read its column names); plans containing unmodeled nodes fall
    back to the analyzed DataFrame schema, which for an all-local plan
    is still analysis-only."""
    cols = _output_columns(node, catalog)
    if cols is None:
        cols = node.to_df(catalog).columns
    return {c: column_origins(node, c, catalog) for c in cols}


def _output_columns(node: ir.RelNode, catalog) -> list | None:
    """Structural output column list; None when a node's output shape
    isn't modeled (callers fall back or treat as unknown)."""
    if isinstance(node, ir.Scan):
        return _scan_columns(node.table, catalog)
    if isinstance(node, ir.Values):
        return ir.schema_column_names(node.schema)
    if isinstance(node, ir.Project):
        child = None
        out = []
        for e in node.exprs:
            body, alias = _split_alias(e)
            if (alias or body) == "*":
                if child is None:
                    child = _output_columns(node.inputs[0], catalog)
                    if child is None:
                        return None
                out.extend(child)
            else:
                out.append(alias or body)
        return out
    if isinstance(node, ir.Aggregate):
        out = []
        for k in node.group_keys:
            body, alias = _split_alias(k)
            out.append(alias or body)
        for c in node.agg_calls:
            body, alias = _split_alias(c)
            out.append(alias or body)
        return out
    if isinstance(node, ir.Window):
        out = []
        for k in node.keep:
            if k == "*":
                child = _output_columns(node.inputs[0], catalog)
                if child is None:
                    return None
                out.extend(child)
            else:
                body, alias = _split_alias(k)
                out.append(alias or body)
        for e in node.window_exprs:
            body, alias = _split_alias(e)
            out.append(alias or body)
        return out
    if isinstance(node, ir.Join):
        l = _output_columns(node.inputs[0], catalog)
        if node.join_type.upper() in ("SEMI", "ANTI"):
            return l
        r = _output_columns(node.inputs[1], catalog)
        return None if l is None or r is None else l + r
    if isinstance(node, ir.SetOp):
        return _output_columns(node.inputs[0], catalog)
    if isinstance(
        node,
        (ir.Filter, ir.Sort, ir.Sample, ir.Exchange, ir.Snapshot, ir.Spool),
    ):
        return _output_columns(node.inputs[0], catalog)
    return None


def _scan_columns(table: str, catalog) -> list[str]:
    ext = getattr(catalog, "external_tables", {})
    if table in ext and hasattr(ext[table], "schema_of"):
        return ext[table].schema_of(table)
    return catalog.table(table).columns


def _origins(node: ir.RelNode, column: str, catalog) -> set:
    if isinstance(node, ir.Scan):
        cols = {c.lower(): c for c in _scan_columns(node.table, catalog)}
        if column.lower() in cols:
            return {Origin(node.table, cols[column.lower()], False)}
        return set()

    if isinstance(node, ir.Values):
        return set()  # literals: provably no base-table origin

    if isinstance(node, ir.Project):
        for e in node.exprs:
            body, alias = _split_alias(e)
            name = alias or body
            if name == "*":
                continue
            if name.lower() == column.lower():
                if re.fullmatch(r"[A-Za-z_][A-Za-z0-9_]*", body):
                    return _origins(node.inputs[0], body, catalog)  # bare ref
                return _derive_from_expr(body, node.inputs[0], catalog)
        if any(isinstance(e, str) and e.strip() == "*" for e in node.exprs):
            # '*' passthrough: every child column survives
            return _origins(node.inputs[0], column, catalog)
        # an explicit projection list that does NOT produce this column:
        # the column is not part of this node's output — answering with
        # the child's origins would attribute provenance to a column
        # the Project dropped (r5 review)
        raise _Unknown(
            f"Project output has no column {column!r} (dropped by the "
            "projection list)"
        )

    if isinstance(node, ir.Aggregate):
        for k in node.group_keys:
            body, alias = _split_alias(k)
            if (alias or body).lower() == column.lower():
                if re.fullmatch(r"[A-Za-z_][A-Za-z0-9_]*", body):
                    return _origins(node.inputs[0], body, catalog)
                return _derive_from_expr(body, node.inputs[0], catalog)
        for c in node.agg_calls:
            body, alias = _split_alias(c)
            # unaliased calls surface under their expression text
            # ("sum(salary)") — still derived, never "no origin"
            name = alias or body
            if name.lower() == column.lower():
                # ≈ createDerivedColumnOrigins for aggregate calls
                return _derive_from_expr(body, node.inputs[0], catalog)
        # column isn't a key or a call output: unknown, NOT provably
        # origin-free (empty would falsely clear a PII audit)
        raise _Unknown(f"Aggregate output {column!r} unresolved")

    if isinstance(node, ir.Window):
        for e in node.window_exprs:
            body, alias = _split_alias(e)
            if (alias or body).lower() == column.lower():
                return _derive_from_expr(body, node.inputs[0], catalog)
        return _origins(node.inputs[0], column, catalog)

    if isinstance(node, ir.Join):
        jt = node.join_type.upper()
        left, right = node.inputs
        # ≈ RelMdColumnOrigins Join handler: the null-generating side's
        # columns are derived (their value may be a generated NULL)
        out: set = set()
        l = _try_origins(left, column, catalog)
        r = _try_origins(right, column, catalog)
        if l:
            out |= {o.as_derived() for o in l} if jt in ("RIGHT", "FULL") else l
        if r and jt not in ("SEMI", "ANTI"):
            out |= {o.as_derived() for o in r} if jt in ("LEFT", "FULL") else r
        return out

    if isinstance(node, ir.SetOp):
        # positional union ≈ getColumnOrigins(SetOp ...): resolve the
        # output ordinal, then that ordinal in EVERY input. Structural
        # column lists only — never to_df, which would fetch a
        # federated scan just to read names
        first_cols = _output_columns(node.inputs[0], catalog)
        if first_cols is None:
            raise _Unknown("SetOp input shape unresolved")
        lowered = [c.lower() for c in first_cols]
        if column.lower() not in lowered:
            return set()
        pos = lowered.index(column.lower())
        out: set = set()
        for inp in node.inputs:
            cols = _output_columns(inp, catalog)
            if cols is None:
                raise _Unknown("SetOp input shape unresolved")
            out |= _origins(inp, cols[pos], catalog)
        return out

    # pure passthrough nodes (≈ the Filter/Sort/Exchange/Sample/
    # Snapshot handlers, which all delegate to the child unchanged)
    if isinstance(
        node,
        (ir.Filter, ir.Sort, ir.Sample, ir.Exchange, ir.Snapshot, ir.Spool),
    ):
        return _origins(node.inputs[0], column, catalog)

    raise _Unknown(type(node).__name__)


def _try_origins(node, column, catalog) -> set:
    """Join sides: a column simply absent from one side is fine (empty),
    but an unmodeled node still poisons the result (reraises)."""
    return _origins(node, column, catalog)


def _derive_from_expr(body: str, child: ir.RelNode, catalog) -> set:
    out: set = set()
    for ref in _referenced_columns(body):
        for o in _origins(child, ref, catalog):
            out.add(o.as_derived())
    return out
