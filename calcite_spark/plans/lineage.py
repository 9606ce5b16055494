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

_IDENT_RE = re.compile(r"[A-Za-z_][A-Za-z0-9_]*")


@dataclass(frozen=True)
class Origin:
    """≈ RelColumnOrigin.java:27 — originTable + originColumnOrdinal
    (here: column name) + isDerived."""

    table: str
    column: str
    derived: bool = False

    def as_derived(self) -> "Origin":
        return Origin(self.table, self.column, True)


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
    cols = ir.output_names(node, catalog)
    if cols is None:
        cols = node.to_df(catalog).columns
    return {c: column_origins(node, c, catalog) for c in cols}


def _origins(node: ir.RelNode, column: str, catalog) -> set:
    if isinstance(node, ir.Scan):
        cols = {c.lower(): c for c in ir.output_names(node, catalog) or ()}
        if column.lower() in cols:
            return {Origin(node.table, cols[column.lower()], False)}
        return set()

    if isinstance(node, ir.Values):
        return set()  # literals: provably no base-table origin

    if isinstance(node, ir.Project):
        for e in node.exprs:
            body, alias = lexer.split_alias(e)
            name = alias or body
            if name == "*":
                continue
            if name.lower() == column.lower():
                if _IDENT_RE.fullmatch(body):
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
            body, alias = lexer.split_alias(k)
            if (alias or body).lower() == column.lower():
                if _IDENT_RE.fullmatch(body):
                    return _origins(node.inputs[0], body, catalog)
                return _derive_from_expr(body, node.inputs[0], catalog)
        for c in node.agg_calls:
            body, alias = lexer.split_alias(c)
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
            body, alias = lexer.split_alias(e)
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
        first_cols = ir.output_names(node.inputs[0], catalog)
        if first_cols is None:
            raise _Unknown("SetOp input shape unresolved")
        lowered = [c.lower() for c in first_cols]
        if column.lower() not in lowered:
            return set()
        pos = lowered.index(column.lower())
        out: set = set()
        for inp in node.inputs:
            cols = ir.output_names(inp, catalog)
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
    refs = lexer.column_refs(body)
    known = ir.output_names(child, catalog)
    if known is not None:
        known = {c.lower() for c in known}
        refs = [r for r in refs if r.lower() in known]
    out: set = set()
    for ref in refs:
        for o in _origins(child, ref, catalog):
            out.add(o.as_derived())
    return out
