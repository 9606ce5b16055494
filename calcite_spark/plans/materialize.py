"""Materialized views + lattice tiles ≈ Calcite's materialize/ package:
MaterializationService.java (registry), rel/rules/materialize/
MaterializedViewRules.java + plan/SubstitutionVisitor.java (rewrite),
Lattice.java / TileSuggester.java (star-schema pre-aggregation tiles).

Catalyst has NO materialized-view rewrite — this layer runs over our IR
before lowering (SURVEY §4.2 ❌ row). Two tiers, mirroring the reference
rules:

1. exact match (SubstitutionVisitor trivial unification): query
   signature == MV signature → scan the MV.
2. rollup compensation (MaterializedViewProjectAggregateRule / the
   AGGREGATE_STAR_TABLE tile path): the query groups by a SUBSET of the
   MV's keys and every aggregate re-aggregates (SUM→SUM, COUNT→SUM,
   MIN→MIN, MAX→MAX) → aggregate over the MV. A filter that references
   only MV group keys is compensated by filtering the MV.

100 TB: a tile is usually 3-6 orders of magnitude smaller than the fact
table; the rewrite turns a full-fact shuffle into a dimension-sized one.
"""

from __future__ import annotations

import re
from dataclasses import dataclass, field

from pyspark.sql import functions as _F

from calcite_spark.plans import ir
from calcite_spark.sql import lexer

_AGG_RE = re.compile(
    r"^\s*(SUM|COUNT|MIN|MAX|APPROX_COUNT_DISTINCT|APPROX_PERCENTILE)"
    r"\s*\(\s*(.*?)\s*\)\s+AS\s+(\w+)\s*$",
    re.I,
)

# re-aggregation function when rolling a tile up to coarser keys.
# APPROX_COUNT_DISTINCT tiles (r10) store a DataSketches HLL sketch
# (hll_sketch_agg) and merge by sketch union — distinct counts are the
# ONE non-additive measure a lattice can still roll up, exactly why
# Calcite gates it behind approximateDistinctCount
# (CalciteConnectionConfig) and Lattice's approximate measures.
# APPROX_PERCENTILE tiles (r11, verdict item 8) store a DataSketches
# KLL sketch (kll_sketch_agg_double) and merge by kll_merge_agg_double
# — Spark's native approx_percentile accumulator (QuantileSummaries)
# is not exposed as a mergeable column, but the KLL family is, which
# makes percentiles the SECOND non-additive measure a tile can roll up.
_REAGG = {
    "SUM": "SUM",
    "COUNT": "SUM",
    "MIN": "MIN",
    "MAX": "MAX",
    "APPROX_COUNT_DISTINCT": "hll_union_agg",
    "APPROX_PERCENTILE": "kll_merge_agg_double",
}


def _percentile_parts(arg: str):
    """APPROX_PERCENTILE argument list → (value_expr, percentile_text)
    or None. Exactly two arguments, the percentile a plain literal in
    [0, 1] OR an array(...) of such literals (r12 — one KLL sketch
    serves many quantiles; kll_sketch_get_quantile_double accepts the
    array form directly, matching Spark's approx_percentile) — the
    optional third (accuracy) argument refuses: the KLL tile has its
    own fixed accuracy and silently honoring a requested one would be
    a lie."""
    parts = lexer.split_top_level(arg)
    if len(parts) != 2 or parts[0].upper().startswith("DISTINCT"):
        return None
    m = re.fullmatch(r"(?is)array\s*\((.*)\)", parts[1])
    lits = lexer.split_top_level(m.group(1)) if m else [parts[1]]
    for lit in lits or [""]:
        try:
            p = float(lit)
        except ValueError:
            return None
        if not 0.0 <= p <= 1.0:
            return None
    return parts[0], parts[1]


def _tile_call_sql(fn: str, arg: str, alias: str) -> str:
    """The PHYSICAL tile column for a declared measure: identity for
    additive calls; APPROX_COUNT_DISTINCT stores the mergeable HLL
    sketch and APPROX_PERCENTILE the mergeable KLL sketch (declaring
    one on a tile is the opt-in to sketch-served estimates — the
    estimates are DataSketches, deterministic but not bit-equal to
    Spark's native HLL++/QuantileSummaries; both sides are approximate
    by contract, ≈ approximateDistinctCount / Lattice's approximate
    measures)."""
    if fn.upper() == "APPROX_COUNT_DISTINCT":
        return f"hll_sketch_agg({arg}) AS {alias}"
    if fn.upper() == "APPROX_PERCENTILE":
        pp = _percentile_parts(arg)
        if pp is None:
            raise ValueError(
                f"APPROX_PERCENTILE(value, percentile) expected; got ({arg})"
            )
        # the sketch is over the VALUE column only — any percentile is
        # servable from it, so the declared p is just the view default
        return f"kll_sketch_agg_double(CAST({pp[0]} AS DOUBLE)) AS {alias}"
    return f"{fn}({arg}) AS {alias}"

# Derived aggregates decomposable onto a SUM/COUNT(/SUM-of-squares)
# tile ≈ rel/rules/AggregateReduceFunctionsRule.java (the reference
# reduces AVG/STDDEV/VAR to SUM and COUNT combinations, which
# MaterializedViewAggregateRule then unifies against the view) — the
# same sufficient-statistics identities, emitted directly in terms of
# tile columns. VARIANCE/STDDEV are the sample variants, as in both
# Calcite and Spark.
_DERIVED_RE = re.compile(
    r"^\s*(AVG|VAR_POP|VAR_SAMP|VARIANCE|STDDEV_POP|STDDEV_SAMP|STDDEV)"
    r"\s*\(\s*(.*?)\s*\)\s+AS\s+(\w+)\s*$",
    re.I,
)

# an aggregate call inside a larger expression (one paren-nesting level
# — enough for FN((a+b)*c); deeper nesting refuses via no-match)
_AGG_IN_EXPR_RE = re.compile(
    r"(?is)\b(SUM|COUNT|MIN|MAX|AVG|VAR_POP|VAR_SAMP|VARIANCE|"
    r"STDDEV_POP|STDDEV_SAMP|STDDEV)\s*(\((?:[^()]|\([^()]*\))*\))"
)
_CALL_ALIAS_RE = re.compile(r"(?is)^(.+)\s+AS\s+(\w+)\s*$")


@dataclass
class Materialization:
    """≈ materialize/MaterializationService.defineMaterialization entry."""

    name: str
    table: str  # base table the MV aggregates (fact table for join MVs)
    group_keys: tuple
    agg_calls: dict  # alias -> (FN, arg_expr)
    path: str = ""
    filter_condition: str | None = None  # None = unfiltered MV
    # file snapshot of the base table at (re)build time — the change-
    # detection anchor for incremental_refresh (≈ a lake format's
    # snapshot id; a deployment on Delta/Iceberg would persist this)
    base_files: tuple = ()
    # join MVs (r8, ≈ rel/rules/materialize/MaterializedViewJoinRule /
    # MaterializedViewProjectJoinRule + plan/SubstitutionVisitor): the
    # defining plan aggregates over an INNER equi-join of these tables
    # on these edges (normalized sorted (colA, colB) pairs). Empty =
    # single-table MV (the r1-r6 tier).
    tables: tuple = ()
    join_edges: frozenset = frozenset()
    # SPF (select-project-filter) materializations (r8, ≈ server DDL's
    # CREATE MATERIALIZED VIEW ... AS SELECT ... WHERE ... without
    # GROUP BY + MaterializedViewFilterScanRule / OnlyFilter rules):
    # the tile stores RAW rows of a slice, so substitution serves ANY
    # query shape above (filters, projections, arbitrary aggregates
    # including DISTINCT) as long as the range-containment proof holds.
    spf: bool = False
    spf_columns: tuple | None = None  # None = all base columns
    # ((base_name, stored_name), ...) for DDL alias lists
    spf_renames: tuple = ()
    # join MVs (r9): per-table file snapshots — the refresh contract
    # needs to tell a FACT-side append (delta-joinable) from a DIM
    # change (refused: the whole tile is stale) — plus the defining
    # plan, so the delta refresh can re-run the same join with the
    # fact scan swapped for the delta files
    base_files_by_table: tuple = ()  # ((table, (files...)), ...)
    defining_plan: object = None
    # decomposed DDL MVs (r9): the user declared derived aggregates
    # (AVG/VAR/STDDEV); the tile stores the sufficient statistics and a
    # companion VIEW named view_name presents the declared shape
    # (view_exprs are selectExpr strings over the tile). Refresh paths
    # re-register the view so it never reads a swapped-out tile file.
    view_name: str = ""
    view_exprs: tuple = ()
    # FK declarations snapshotted AT BUILD TIME (r10 review): the
    # dim-append refresh proof needs "every old fact row matched at
    # build", which only a declaration that EXISTED at build supports —
    # a declaration added after the append could be made true BY the
    # append and proves nothing about the build-time join.
    build_fks: tuple = ()  # ((table, col, ref_table, ref_col), ...)


def _paren_balanced(text: str) -> bool:
    """Depth never negative and zero at the end — rejects the lazy
    _AGG_RE capture of a COMPOUND call (`MAX(a) - MIN(a) AS rng`
    "parses" as fn=MAX, arg="a) - MIN(a"): review r9 — the mis-parse
    let define() accept a compound call and the simple tier later
    emitted MAX(rng) over coarser keys, max-of-ranges instead of the
    range). Wrapped in one more pair, the text is balanced iff that
    pair closes at its end."""
    try:
        return lexer.balanced_span(f"({text})", 1)[1] == len(text) + 1
    except ValueError:
        return False


def _square_arg(arg: str) -> str:
    """The sum-of-squares argument for VAR/STDDEV decomposition —
    parenthesized unless a bare identifier (review r9: the naked
    f"{arg} * {arg}" turned VAR(a + b) into SUM(a + b*a + b), a wrong
    sufficient statistic). ONE definition shared by the DDL
    decomposer and the query-side mapper so the stored and looked-up
    forms can never diverge."""
    a = arg if re.fullmatch(r"[A-Za-z_]\w*", arg) else f"({arg})"
    return f"{a} * {a}"


def parse_agg_call(call: str):
    m = _AGG_RE.match(call)
    if not m or not _paren_balanced(m.group(2)):
        return None
    return m.group(1).upper(), re.sub(r"\s+", " ", m.group(2)), m.group(3)


def liftable_agg_call(call: str) -> bool:
    """Is this SELECT item a form the MV call mapper could serve —
    a plain SUM/COUNT/MIN/MAX, a derived AVG/VAR/STDDEV, or an
    arithmetic expression over such calls (SUM(a) + SUM(b) AS x)?
    Used by the frontend lift's gate; the lift itself stays verbatim
    (Spark executes the raw string whether or not substitution fires)."""
    if parse_agg_call(call) is not None or _DERIVED_RE.match(call):
        return True
    m = _CALL_ALIAS_RE.match(call)
    return m is not None and _AGG_IN_EXPR_RE.search(m.group(1)) is not None


# ---------------------------------------------------------------------
# Single-column interval algebra for the union-compensation tier
# (≈ the Sarg containment reasoning inside SubstitutionVisitor /
# MaterializedViewAggregateRule's generateUnionRewriting). A bound is
# (comparable_value, original_sql_literal); bounds produced by
# intersection/difference only ever reuse input endpoints, so the SQL
# text round-trips verbatim.
# ---------------------------------------------------------------------

_CMP_RE = re.compile(r"^\s*([A-Za-z_]\w*)\s*(>=|<=|=|<|>)\s*(.+?)\s*$")
# a literal as BETWEEN's operands may contain an AND-free form only —
# matched BEFORE conjunct splitting, which would otherwise consume
# BETWEEN's own AND (review r8: the post-split branch was unreachable)
_LIT_PAT = r"(?:(?:DATE|TIMESTAMP)\s*'[^']*'|'[^']*'|-?\d+(?:\.\d+)?)"
_BETWEEN_SUB_RE = re.compile(
    rf"\b([A-Za-z_]\w*)\s+BETWEEN\s+({_LIT_PAT})\s+AND\s+({_LIT_PAT})", re.I
)
_LIT_RES = (
    ("date", re.compile(r"^(?:DATE|TIMESTAMP)\s*'([^']*)'$", re.I)),
    ("str", re.compile(r"^'([^']*)'$")),
    ("num", re.compile(r"^-?\d+(?:\.\d+)?$")),
)
# lexical order == chronological order ONLY for zero-padded ISO text
# with a uniform separator; Spark accepts DATE '1997-9-01', whose
# lexical order is WRONG ('1997-9' > '1997-10') — a false containment
# proof silently drops rows, so non-canonical forms refuse (review r8)
_ISO_CANON_RE = re.compile(
    r"^\d{4}-\d{2}-\d{2}(?: \d{2}:\d{2}:\d{2}(?:\.\d+)?)?$"
)


_KEY_ALIAS_RE = re.compile(r"(?is)^(.*\S)\s+AS\s+([A-Za-z_]\w*)\s*$")


def _key_alias(key: str) -> str:
    """Output column name of a group key: ``expr AS alias`` → alias,
    plain column → itself. Greedy prefix so the TRAILING AS wins
    (``CAST(a AS INT) AS b`` → b)."""
    m = _KEY_ALIAS_RE.match(key)
    return m.group(2) if m else key


def _plain_key(key: str) -> bool:
    return re.fullmatch(r"[A-Za-z_]\w*", key.strip()) is not None


def _valid_group_key(key: str) -> bool:
    """A group key the tile layer can store AND substitute: a plain
    column, or ``expr AS alias`` (balanced expr, identifier alias) —
    the expression-key unification of plan/SubstitutionVisitor.java
    (it unifies expression group keys by matching the view's projected
    expression and re-referencing its output column; we match on
    normalized text and re-reference the tile's alias column)."""
    if _plain_key(key):
        return True
    m = _KEY_ALIAS_RE.match(key)
    return m is not None and _paren_balanced(m.group(1))


def _parse_lit(text: str):
    """→ (kind, comparable_value, sql_text) or None. ISO date/timestamp
    and plain ASCII strings compare lexically = their SQL order; numbers
    via Decimal (exact, no float round-trip). Date/timestamp text must
    be canonical zero-padded ISO or the lexical≡chronological premise
    breaks — anything else returns None (disqualifies the rewrite)."""
    text = text.strip()
    for kind, rx in _LIT_RES:
        m = rx.match(text)
        if m:
            if kind == "num":
                from decimal import Decimal

                return ("num", Decimal(text), text)
            if kind == "date" and not _ISO_CANON_RE.match(m.group(1)):
                return None
            return (kind, m.group(1), text)
    return None


@dataclass(frozen=True)
class _Interval:
    """Bounds are (value, sql_text) or None = unbounded."""

    lo: tuple | None = None
    lo_incl: bool = True
    hi: tuple | None = None
    hi_incl: bool = True

    def is_empty(self) -> bool:
        if self.lo is None or self.hi is None:
            return False
        if self.lo[0] != self.hi[0]:
            return self.lo[0] > self.hi[0]
        return not (self.lo_incl and self.hi_incl)


def _tighter_lo(a: _Interval, b: _Interval):
    """(bound, incl) of the GREATER lower bound."""
    if a.lo is None:
        return b.lo, b.lo_incl
    if b.lo is None:
        return a.lo, a.lo_incl
    if a.lo[0] != b.lo[0]:
        return (a.lo, a.lo_incl) if a.lo[0] > b.lo[0] else (b.lo, b.lo_incl)
    return a.lo, a.lo_incl and b.lo_incl


def _tighter_hi(a: _Interval, b: _Interval):
    if a.hi is None:
        return b.hi, b.hi_incl
    if b.hi is None:
        return a.hi, a.hi_incl
    if a.hi[0] != b.hi[0]:
        return (a.hi, a.hi_incl) if a.hi[0] < b.hi[0] else (b.hi, b.hi_incl)
    return a.hi, a.hi_incl and b.hi_incl


def _interval_intersect(a: _Interval, b: _Interval) -> _Interval:
    lo, lo_i = _tighter_lo(a, b)
    hi, hi_i = _tighter_hi(a, b)
    return _Interval(lo, lo_i, hi, hi_i)


def _interval_contains(outer: _Interval, inner: _Interval) -> bool:
    return _interval_intersect(outer, inner) == _Interval(
        inner.lo, inner.lo_incl, inner.hi, inner.hi_incl
    )


def _interval_diff(q: _Interval, m: _Interval) -> list[_Interval]:
    """q minus m as 0-2 nonempty intervals (each complement half of m,
    clipped to q)."""
    parts = []
    if m.lo is not None:
        left = _interval_intersect(q, _Interval(hi=m.lo, hi_incl=not m.lo_incl))
        if not left.is_empty():
            parts.append(left)
    if m.hi is not None:
        right = _interval_intersect(q, _Interval(lo=m.hi, lo_incl=not m.hi_incl))
        if not right.is_empty():
            parts.append(right)
    return parts


def _parse_interval(cond: str):
    """Conjunction of range/point predicates over EXACTLY ONE column →
    (col, kind, _Interval), else None — a thin wrapper over
    _parse_region (review r9: the two provers were 45 duplicated lines
    apart and would have drifted)."""
    region = _parse_region(cond)
    if region is None or len(region) != 1:
        return None
    col, (kind, iv) = next(iter(region.items()))
    return col, kind, iv


def _parse_region(cond: str):
    """Multi-column conjunctive region (r9): cond parsed as a
    conjunction of single-column range/point predicates over ONE OR
    MORE columns → {col: (kind, _Interval)}, else None. The
    multi-column containment tier proves region containment
    per-column; union compensation stays single-column (the residual
    of a box difference is not a box — refusal, never a wrong slice)."""
    from calcite_spark.plans.rewrite import _split_conjuncts

    # strip FULL-SPAN balanced outer parens (r13: DateRangeCanonicalize
    # emits `(col >= A AND col < B)` — the parens made this parser
    # refuse, so an EXTRACT(YEAR)=k filter sargified on pass 1 never
    # reached the tile tiers on pass 2; conservative refusal, but a
    # missed serve for THE canonical BI filter)
    cond = cond.strip()
    while (
        cond.startswith("(")
        and cond.endswith(")")
        and _paren_balanced(cond[1:-1])
    ):
        cond = cond[1:-1].strip()

    if re.search(r"(?i)\bNOT\s+BETWEEN\b", cond):
        return None
    cond = lexer.sub(
        _BETWEEN_SUB_RE,
        lambda m: f"{m.group(1)} >= {m.group(2)} AND {m.group(1)} <= {m.group(3)}",
        cond,
    )
    out: dict = {}
    for c in _split_conjuncts(cond):
        m = _CMP_RE.match(c)
        if not m:
            return None
        name, op, lit_text = m.groups()
        lit = _parse_lit(lit_text)
        if lit is None:
            return None
        this_kind, val, sql = lit
        b = (val, sql)
        if op == "=":
            this = _Interval(b, True, b, True)
        elif op == ">=":
            this = _Interval(lo=b, lo_incl=True)
        elif op == ">":
            this = _Interval(lo=b, lo_incl=False)
        elif op == "<=":
            this = _Interval(hi=b, hi_incl=True)
        else:
            this = _Interval(hi=b, hi_incl=False)
        kind, iv = out.get(name, (this_kind, _Interval()))
        if kind != this_kind:
            return None
        iv = _interval_intersect(iv, this)
        if iv.is_empty():
            return None
        out[name] = (this_kind, iv)
    return out or None


def _interval_sql(col: str, iv: _Interval) -> str:
    if (
        iv.lo is not None
        and iv.hi is not None
        and iv.lo[0] == iv.hi[0]
        and iv.lo_incl
        and iv.hi_incl
    ):
        return f"{col} = {iv.lo[1]}"
    parts = []
    if iv.lo is not None:
        parts.append(f"{col} {'>=' if iv.lo_incl else '>'} {iv.lo[1]}")
    if iv.hi is not None:
        parts.append(f"{col} {'<=' if iv.hi_incl else '<'} {iv.hi[1]}")
    return " AND ".join(parts) if parts else "TRUE"


_EDGE_RE = re.compile(r"^\s*(\w+)\s*=\s*(\w+)\s*$")


def extract_join_subtree(node):
    """IR subtree of INNER equi-joins over bare Scans → (frozenset of
    table names, frozenset of normalized (colA, colB) edges), or None
    when the subtree has any other shape (outer joins, non-equi or
    non-conjunctive conditions, operators between join and scan — all
    outside the unifiable form, ≈ SubstitutionVisitor's operand
    checks). Join ORDER never matters: an inner equi-join tree's result
    multiset is determined by its table set + edge set (our column
    namespace is table-prefixed, so names are globally unambiguous)."""
    from calcite_spark.plans.rewrite import _split_conjuncts

    if isinstance(node, ir.Scan):
        return frozenset([node.table]), frozenset()
    if (
        not isinstance(node, ir.Join)
        or node.join_type != "INNER"
        or node.condition is None
    ):
        return None
    left = extract_join_subtree(node.inputs[0])
    right = extract_join_subtree(node.inputs[1])
    if left is None or right is None or left[0] & right[0]:
        return None
    edges = set()
    for c in _split_conjuncts(node.condition):
        m = _EDGE_RE.match(c)
        if not m:
            return None
        edges.add(tuple(sorted(m.groups())))
    return left[0] | right[0], left[1] | right[1] | frozenset(edges)


class MaterializationRegistry:
    def __init__(self):
        self.mvs: dict[str, Materialization] = {}

    def define(
        self,
        catalog,
        name: str,
        table: str,
        group_keys,
        agg_calls,
        path: str,
        filter_condition: str | None = None,
    ):
        """Compute + persist + register a materialization. agg_calls are
        "FN(expr) AS alias" strings (the IR Aggregate form). Also attaches
        this registry to the catalog so the rewrite rule finds it.

        filter_condition (r8, ≈ MaterializedViewFilterScanRule + the
        filtered-view inputs of generateUnionRewriting) restricts the
        tile to a SLICE of the base table — a single-column range over a
        group-key column (the only form the containment prover accepts;
        anything else is refused at define time, not silently never
        matched). A filtered tile answers queries whose range is
        CONTAINED in the slice, and queries that OVERLAP it via the
        union-compensation rewrite. 100 TB: the hot slice (last quarter,
        one tenant) is the tile worth building — a fraction of the fact
        table, still answering the historical query via union with a
        base scan of only the COLD residual range."""
        catalog.mv_registry = self
        # group keys: plain columns or `expr AS alias` (r10, verdict
        # item 1 — define() used to accept ANY string and the
        # substitution then crashed every query the tile was built to
        # serve with UNRESOLVED_COLUMN; ≈ SubstitutionVisitor's
        # expression-group-key unification). Bare expressions WITHOUT
        # an alias refuse loudly: the tile column would carry Spark's
        # generated name and no query could ever match it.
        bad_keys = [k for k in group_keys if not _valid_group_key(k)]
        if bad_keys:
            raise ValueError(
                "define: group keys must be plain columns or "
                f"'expr AS alias'; got {bad_keys[0]!r}"
            )
        out_names = [_key_alias(k) for k in group_keys]
        if len(set(out_names)) != len(out_names):
            raise ValueError(
                f"define: duplicate group-key output names {out_names}"
            )
        if filter_condition is not None:
            region = _parse_region(filter_condition)
            if region is None:
                raise ValueError(
                    "define: filter_condition must be a conjunction of "
                    "range/point predicates, each over ONE column (the "
                    "containment prover's unifiable form); got: "
                    f"{filter_condition}"
                )
            bad = [
                c for c in region
                if c not in set(group_keys)
                and not _grain_slice_ok((c, region[c]), group_keys)
            ]
            if bad:
                raise ValueError(
                    f"define: filter_condition column {bad[0]} must "
                    "be a group key (or the grain-ALIGNED input of a "
                    "date_trunc key) — the tile cannot be sliced by a "
                    "column it aggregated away"
                )
        parsed = {}
        lowered = []
        for call in agg_calls:
            p = parse_agg_call(call)
            if p is None:
                raise ValueError(f"not a rewritable aggregate call: {call}")
            fn, arg, alias = p
            if alias in out_names:
                raise ValueError(
                    f"define: aggregate alias {alias!r} collides with a "
                    "group-key output name"
                )
            if fn == "APPROX_COUNT_DISTINCT" and arg.upper().startswith(
                "DISTINCT"
            ):
                raise ValueError(f"define: DISTINCT inside {call!r}")
            parsed[alias] = (fn, arg)
            lowered.append(_tile_call_sql(fn, arg, alias))
        base: ir.RelNode = ir.Scan(table)
        if filter_condition is not None:
            base = ir.Filter(filter_condition, inputs=(base,))
        df = (
            ir.Aggregate(tuple(group_keys), tuple(lowered), inputs=(base,))
        ).to_df(catalog)
        df.write.mode("overwrite").parquet(path)
        # register with the schema just written: re-inferring it from the
        # tile's footers costs a Spark job per read-back (r15, guide §1.2)
        catalog.register(name, path, schema=df.schema)
        try:
            snapshot = tuple(sorted(catalog.table(table).inputFiles()))
        except Exception:
            snapshot = ()  # non-file base: incremental_refresh will refuse
        mv = Materialization(
            name,
            table,
            tuple(group_keys),
            parsed,
            path,
            filter_condition,
            base_files=snapshot,
        )
        self.mvs[name] = mv
        return mv

    def define_spf(
        self,
        catalog,
        name: str,
        table: str,
        path: str,
        columns=None,
        predicate: str | None = None,
        renames=None,
    ):
        """Register a SELECT-PROJECT-FILTER materialization: raw rows
        of `table`, optionally restricted to a single-column range
        `predicate` and/or projected to `columns` (base names; `renames`
        maps them to stored names for DDL alias lists). ≈ the reference
        server's non-aggregate CREATE MATERIALIZED VIEW + the
        MaterializedViewOnlyFilter/ProjectFilter rules: because the
        tile holds raw rows, substitution is shape-agnostic — any
        filter, projection, or aggregate (DISTINCT included) over a
        contained range is answered from the slice, and an overlapping
        range unions the slice with the base residual.

        100 TB: this is the hot-partition replica — last-N-days rows
        rewritten small and sorted — serving every ad-hoc query over
        the recent window without touching cold storage."""
        catalog.mv_registry = self
        if predicate is not None and _parse_region(predicate) is None:
            raise ValueError(
                "define_spf: predicate must be a conjunction of "
                "range/point predicates, each over ONE column (the "
                f"containment prover's unifiable form); got: {predicate}"
            )
        base_cols = list(catalog.table(table).columns)
        if columns is not None:
            missing = [c for c in columns if c not in base_cols]
            if missing:
                raise ValueError(f"define_spf: unknown columns {missing}")
        stored_from = list(columns) if columns is not None else base_cols
        if renames is not None and len(renames) != len(stored_from):
            raise ValueError(
                "List of column aliases must have same degree as table; "
                f"table has {len(stored_from)} columns "
                f"({', '.join(repr(c) for c in stored_from)}), whereas "
                f"alias list has {len(renames)} columns"
            )
        rename_pairs = (
            tuple(zip(stored_from, renames)) if renames is not None else ()
        )
        node: ir.RelNode = ir.Scan(table)
        if predicate is not None:
            node = ir.Filter(predicate, inputs=(node,))
        if columns is not None or rename_pairs:
            exprs = [
                f"{b} AS {s}" if s != b else b
                for b, s in (rename_pairs or [(c, c) for c in stored_from])
            ]
            node = ir.Project(tuple(exprs), inputs=(node,))
        spf_df = node.to_df(catalog)
        spf_df.write.mode("overwrite").parquet(path)
        catalog.register(name, path, schema=spf_df.schema)
        try:
            snapshot = tuple(sorted(catalog.table(table).inputFiles()))
        except Exception:
            snapshot = ()  # non-file base: incremental_refresh will refuse
        mv = Materialization(
            name,
            table,
            (),
            {},
            path,
            predicate,
            base_files=snapshot,
            spf=True,
            spf_columns=None if columns is None else tuple(columns),
            spf_renames=rename_pairs,
        )
        self.mvs[name] = mv
        return mv

    def define_join(
        self, catalog, name: str, plan, path: str,
        filter_condition: str | None = None,
        fact: str | None = None,
    ):
        """Register a JOIN materialization from its defining IR plan —
        Aggregate(group_keys, agg_calls) over an INNER equi-join tree
        of base-table Scans (≈ MaterializationService holding a
        materialization whose RelNode contains joins, the input shape
        of MaterializedViewProjectJoinRule.java:30). The star-join tile
        is THE high-value MV of a warehouse: at 100 TB it collapses the
        fact⋈dims shuffle into a one-time build; every matching query
        then reads a tile 3-6 orders of magnitude smaller.

        filter_condition (r9, verdict item 3 — the composition of the
        r8 slice + join tiers) restricts the tile to a SLICE of the
        joined rows: a single-column range over a group-key column,
        exactly the form the containment prover accepts. The
        hot-quarter star tile — slice + join — answers contained
        queries from the tile and overlapping ones via union
        compensation over the residual range of the SAME join."""
        catalog.mv_registry = self
        if not isinstance(plan, ir.Aggregate) or plan.group_type != "SIMPLE":
            raise ValueError(
                "define_join: the defining plan must be a SIMPLE "
                "Aggregate over a join of base tables"
            )
        ext = extract_join_subtree(plan.inputs[0])
        if ext is None or not ext[1]:
            raise ValueError(
                "define_join: the aggregate's input must be an INNER "
                "equi-join tree of bare table scans (use define() for "
                "single-table MVs)"
            )
        # group keys: plain columns or `expr AS alias` (r10 — the
        # month-grain star tile, date_trunc(month) × dims, is THE
        # warehouse tile). An expression key's alias must not shadow a
        # real column of any joined table: the tile column would then
        # be AMBIGUOUS to the drill-across/compensation tiers (is
        # `o_orderdate` the raw column or the expression?) — refuse.
        bad_keys = [k for k in plan.group_keys if not _valid_group_key(k)]
        if bad_keys:
            raise ValueError(
                "define_join: group keys must be plain columns or "
                f"'expr AS alias'; got {bad_keys[0]!r}"
            )
        tables, edges = ext
        base_cols = {
            c for t in tables for c in catalog.table(t).columns
        }
        key_out = [_key_alias(k) for k in plan.group_keys]
        if len(set(key_out)) != len(key_out):
            raise ValueError(
                f"define_join: duplicate group-key output names {key_out}"
            )
        for k in plan.group_keys:
            if not _plain_key(k) and _key_alias(k) in base_cols:
                raise ValueError(
                    f"define_join: expression-key alias {_key_alias(k)!r} "
                    "shadows a base-table column — the tile column would "
                    "be ambiguous to the compensation tiers"
                )
        if filter_condition is not None:
            region = _parse_region(filter_condition)
            if region is None:
                raise ValueError(
                    "define_join: filter_condition must be a conjunction "
                    "of range/point predicates, each over ONE column "
                    "(the containment prover's unifiable form); got: "
                    f"{filter_condition}"
                )
            bad = [
                c for c in region
                if c not in set(plan.group_keys)
                and not _grain_slice_ok((c, region[c]), plan.group_keys)
            ]
            if bad:
                raise ValueError(
                    f"define_join: filter_condition column {bad[0]} "
                    "must be a group key (or the grain-ALIGNED input of "
                    "a date_trunc key) — the tile cannot be sliced by "
                    "a column it aggregated away"
                )
            plan = ir.Aggregate(
                plan.group_keys, plan.agg_calls,
                inputs=(ir.Filter(filter_condition, inputs=(plan.inputs[0],)),),
            )
        parsed = {}
        lowered = []
        for call in plan.agg_calls:
            p = parse_agg_call(call)
            if p is None:
                raise ValueError(f"not a rewritable aggregate call: {call}")
            fn, arg, alias = p
            if alias in key_out:
                raise ValueError(
                    f"define_join: aggregate alias {alias!r} collides "
                    "with a group-key output name"
                )
            parsed[alias] = (fn, arg)
            lowered.append(_tile_call_sql(fn, arg, alias))
        if tuple(lowered) != tuple(plan.agg_calls):
            # APPROX_COUNT_DISTINCT measures store their mergeable
            # sketch — the DEFINING plan is rewritten so the build AND
            # every refresh re-run produce sketch columns
            plan = ir.Aggregate(
                plan.group_keys, tuple(lowered),
                inputs=plan.inputs,
            )
        df = plan.to_df(catalog)
        df.write.mode("overwrite").parquet(path)
        catalog.register(name, path, schema=df.schema)
        # fact table = the table owning the most join edges (tie: name)
        def edge_count(t):
            cols = set(catalog.table(t).columns)
            return sum(1 for a, b in edges if a in cols or b in cols)

        # the fact table anchors the refresh contract (fact-side
        # appends delta-join static dims) — take the caller's word when
        # given, else the edge-count heuristic (a star's hub owns every
        # edge; for 2-table joins the tie is arbitrary, so refreshable
        # tiles should pass fact= explicitly)
        if fact is not None:
            if fact not in tables:
                raise ValueError(
                    f"define_join: fact {fact!r} is not one of the "
                    f"joined tables {sorted(tables)}"
                )
        else:
            fact = max(sorted(tables), key=edge_count)
        try:
            by_table = tuple(
                (t, tuple(sorted(catalog.table(t).inputFiles())))
                for t in sorted(tables)
            )
            snapshot = tuple(sorted({f for _, fs in by_table for f in fs}))
        except Exception:
            by_table, snapshot = (), ()  # non-file base: no anchor
        build_fks = tuple(
            (t, c, rt, rc)
            for t in sorted(tables)
            for (c, rt, rc) in catalog.tables[t].foreign_keys
            if rt in tables
        )
        mv = Materialization(
            name, fact, tuple(plan.group_keys), parsed, path,
            filter_condition,
            base_files=snapshot,
            tables=tuple(sorted(tables)), join_edges=frozenset(edges),
            base_files_by_table=by_table,
            defining_plan=plan,
            build_fks=build_fks,
        )
        self.mvs[name] = mv
        return mv

    def incremental_refresh(self, catalog, name: str) -> dict:
        """Refresh an MV over an APPEND-ONLY base table by aggregating
        only the files added since the last build and merging with the
        stored tile (≈ the incremental half of Calcite's
        MaterializationService: the reference rebuilds tiles; lake-era
        engines maintain them — SUM/COUNT merge by SUM, MIN/MIN,
        MAX/MAX).

        100 TB shape: the delta scan reads ONLY new files (file-list
        change detection, the Delta/Iceberg snapshot-diff analog) and
        the merge shuffles tile-sized data, not the fact table — a
        refresh costs O(new data + tile), not O(history).

        Refuses what cannot merge: DISTINCT aggregates (per-group
        distinct counts are not additive), non-identifier group keys
        (the merge re-groups by the tile's key COLUMNS), and non-file
        base tables (no change anchor). Row deletes/updates in the base
        are out of contract — append-only, like every log-structured
        ingest path.
        """
        mv = self.mvs[name]
        if mv.tables:
            return self._join_incremental_refresh(catalog, mv)
        if mv.spf:
            return self._spf_incremental_refresh(catalog, mv)
        for alias, (fn, arg) in mv.agg_calls.items():
            if arg.upper().startswith("DISTINCT"):
                raise ValueError(
                    f"MV {name}: {fn}(DISTINCT ...) is not incrementally "
                    "maintainable — redefine with define() to rebuild"
                )
        if not mv.base_files:
            raise ValueError(
                f"MV {name}: base table {mv.table} has no file listing — "
                "incremental refresh needs a file-backed base"
            )
        # the catalog memoizes DataFrames; a cached handle lists the
        # files as of ITS creation — drop it so the listing is current
        catalog._dfs.pop(mv.table, None)
        current = tuple(sorted(catalog.table(mv.table).inputFiles()))
        seen = set(mv.base_files)
        vanished = seen - set(current)
        if vanished:
            # base files were DELETED or REWRITTEN (the copy-on-write
            # DML swap replaces every file): the stored tile no longer
            # corresponds to any prefix of the base, so a delta merge
            # would re-aggregate the whole rewritten base ONTO the
            # stale tile — silent double counting (ADVICE r8). Full
            # rebuild from the current base instead.
            calls = tuple(
                _tile_call_sql(fn, arg, alias)
                for alias, (fn, arg) in mv.agg_calls.items()
            )
            base: ir.RelNode = ir.Scan(mv.table)
            if mv.filter_condition is not None:
                base = ir.Filter(mv.filter_condition, inputs=(base,))
            rebuilt_df = ir.Aggregate(
                mv.group_keys, calls, inputs=(base,)
            ).to_df(catalog)
            rebuilt_df.write.mode("overwrite").parquet(mv.path)
            catalog.register(mv.name, mv.path, schema=rebuilt_df.schema)
            from dataclasses import replace as _replace

            self.mvs[name] = _replace(mv, base_files=current)
            self._rebuild_companion(catalog, self.mvs[name])
            return {
                "refreshed": True,
                "rebuilt": True,
                "vanished_files": len(vanished),
                "delta_files": 0,
            }
        delta = [f for f in current if f not in seen]
        if not delta:
            return {"refreshed": False, "delta_files": 0}

        spark = catalog.spark
        delta_df = spark.read.parquet(*delta)
        calls = tuple(
            _tile_call_sql(fn, arg, alias)
            for alias, (fn, arg) in mv.agg_calls.items()
        )
        tmp = f"__mv_delta_{name}"
        catalog.register_df(tmp, delta_df)
        try:
            # same IR lowering as define() — identical naming/typing
            # (including the tile's slice filter, applied to the delta)
            delta_base: ir.RelNode = ir.Scan(tmp)
            if mv.filter_condition is not None:
                delta_base = ir.Filter(mv.filter_condition, inputs=(delta_base,))
            delta_agg = ir.Aggregate(
                mv.group_keys, calls, inputs=(delta_base,)
            ).to_df(catalog)
            merge_calls = [
                _F.expr(f"{_REAGG[fn]}({alias})").alias(alias)
                for alias, (fn, _) in mv.agg_calls.items()
            ]
            # the merge re-groups the tile∪delta by the tile's STORED
            # key columns — expression keys (r10) merge by their alias
            # (both sides already carry the computed column; the raw
            # expression's inputs no longer exist here)
            merged = (
                catalog.table(name)
                .unionByName(delta_agg)
                .groupBy(*[_key_alias(k) for k in mv.group_keys])
                .agg(*merge_calls)
            )
            # pin results BEFORE overwriting the parquet being read
            merged = merged.localCheckpoint(eager=True)
            merged.write.mode("overwrite").parquet(mv.path)
        finally:
            spark.catalog.dropTempView(tmp)
            catalog.tables.pop(tmp, None)
            catalog._dfs.pop(tmp, None)
        catalog.register(name, mv.path, schema=merged.schema)
        from dataclasses import replace as _replace

        self.mvs[name] = _replace(mv, base_files=current)
        self._rebuild_companion(catalog, self.mvs[name])
        return {"refreshed": True, "delta_files": len(delta)}

    def _join_incremental_refresh(self, catalog, mv: Materialization) -> dict:
        """Incremental maintenance of a JOIN tile for FACT-SIDE APPENDS
        (r9, verdict item 4 — replaces the loud refusal; ≈ the
        lake-engine half of materialize/MaterializationService): the
        delta fact files are joined against the CURRENT dim snapshots
        with the tile's own defining plan (fact scan swapped for the
        delta files — same join, same slice filter, same calls), and
        the partials merge onto the stored tile (SUM/$SUM0/MIN/MAX).

        Contract, enforced not assumed:
        - dim DELETES/REWRITES refuse loudly (old tile rows can
          silently disagree with the new dim; the reference rebuilds in
          this case, so must the caller via define_join). Dim APPENDS
          (r10, verdict item 4) refresh when provably safe — the dim
          join key is a unique key RE-VERIFIED over the current dim and
          the referencing side declares an FK to it, so appended keys
          are new keys no existing row can match; otherwise refuse
          loudly;
        - a REWRITTEN fact (vanished files — the copy-on-write DML
          swap) full-rebuilds from the stored defining plan, exactly
          like the single-table path;
        - DISTINCT aggregates refuse (not additive), same as the
          single-table tier; expression group keys merge by their
          stored ALIAS column (r10 — both the tile and the delta
          partials carry the computed column).

        100 TB: refresh reads ONLY the delta fact files plus the dims
        (broadcast-sized by the star contract) and shuffles tile-sized
        data — O(new data + tile), never O(fact history)."""
        name = mv.name
        if not mv.base_files_by_table or mv.defining_plan is None:
            raise ValueError(
                f"MV {name}: no per-table file snapshot — incremental "
                "join refresh needs file-backed bases (rebuild with "
                "define_join())"
            )
        for alias, (fn, arg) in mv.agg_calls.items():
            if arg.upper().startswith("DISTINCT"):
                raise ValueError(
                    f"MV {name}: {fn}(DISTINCT ...) is not incrementally "
                    "maintainable — redefine with define_join() to rebuild"
                )
        snaps = dict(mv.base_files_by_table)
        current_by_table = {}
        for t in mv.tables:
            catalog._dfs.pop(t, None)
            current_by_table[t] = tuple(sorted(catalog.table(t).inputFiles()))
        dim_appends = 0
        for t in mv.tables:
            if t == mv.table or current_by_table[t] == snaps.get(t):
                continue
            seen_t, cur_t = set(snaps.get(t, ())), set(current_by_table[t])
            if seen_t - cur_t:
                raise ValueError(
                    f"MV {name}: dimension table {t!r} had files deleted "
                    "or rewritten since the tile was built — old tile "
                    "rows can silently disagree with the new dim; "
                    "rebuild with define_join()"
                )
            # dim APPEND (r10, verdict item 4): provably safe when the
            # joining dim column is a unique key RE-VERIFIED over the
            # current (post-append) dim and the referencing side holds
            # a declared FK to it. Then (a) uniqueness across ALL
            # current rows means appended keys are NEW keys, so no
            # existing fact/dim row on the other side gains a match —
            # old tile rows are untouched; (b) the FK means every
            # non-null referencing value matched at build time, so no
            # dropped old row resurrects; (c) delta facts join the
            # CURRENT dims and see the new rows. NULL-keyed referencing
            # rows match nothing before AND after — consistently absent
            # from tile and delta alike, so no null-evidence gate is
            # needed here (unlike the FK peel, which changes row
            # counts). ≈ the refresh contract of
            # materialize/MaterializationService.java, extended with
            # the lake-engine append analysis.
            t_cols = set(catalog.table(t).columns)
            incident = [
                e for e in mv.join_edges if e[0] in t_cols or e[1] in t_cols
            ]
            for e in incident:
                t_col, o_col = (e[0], e[1]) if e[0] in t_cols else (e[1], e[0])
                o_tab = next(
                    (
                        tt
                        for tt in mv.tables
                        if tt != t and o_col in set(catalog.table(tt).columns)
                    ),
                    None,
                )
                if o_tab is None:
                    raise ValueError(
                        f"MV {name}: cannot resolve the owner of join "
                        f"column {o_col!r} — rebuild with define_join()"
                    )
                # the FK must have been declared AT BUILD TIME (review
                # r10): a declaration added after the fact could be
                # made true BY the very append being gated, proving
                # nothing about what the build-time INNER join dropped
                if not catalog.is_unique_key(t, t_col) or (
                    (o_tab, o_col, t, t_col) not in mv.build_fks
                ):
                    raise ValueError(
                        f"MV {name}: dimension table {t!r} grew new files "
                        f"but {t}.{t_col} is not a declared unique key "
                        f"with an FK from {o_tab}.{o_col} declared at "
                        "tile-build time — append safety cannot be "
                        "proven; rebuild with define_join()"
                    )
                dup = (
                    catalog.table(t)
                    .selectExpr(
                        f"count({t_col}) AS n",
                        f"count(DISTINCT {t_col}) AS d",
                    )
                    .collect()[0]
                )
                if dup["n"] != dup["d"]:
                    raise ValueError(
                        f"MV {name}: dimension append broke the "
                        f"uniqueness of {t}.{t_col} (an appended row "
                        "duplicates an existing key, so old fact rows "
                        "would now match twice) — rebuild with "
                        "define_join()"
                    )
            dim_appends += 1
        fact_seen = set(snaps.get(mv.table, ()))
        fact_current = current_by_table[mv.table]
        new_by_table = tuple(
            (t, current_by_table[t]) for t in sorted(mv.tables)
        )
        new_flat = tuple(
            sorted({f for _, fs in new_by_table for f in fs})
        )
        from dataclasses import replace

        vanished = fact_seen - set(fact_current)
        if vanished:
            # rewritten fact: full rebuild from the stored plan
            rebuilt_df = mv.defining_plan.to_df(catalog)
            rebuilt_df.write.mode("overwrite").parquet(mv.path)
            catalog.register(name, mv.path, schema=rebuilt_df.schema)
            self.mvs[name] = replace(
                mv, base_files=new_flat, base_files_by_table=new_by_table
            )
            return {
                "refreshed": True,
                "rebuilt": True,
                "vanished_files": len(vanished),
                "delta_files": 0,
            }
        delta = [f for f in fact_current if f not in fact_seen]
        if not delta:
            if dim_appends:
                # proven-safe dim appends with no fact delta: the tile
                # VALUES are unchanged (new dim keys match only future
                # facts), but the snapshot must advance or the
                # freshness gate would refuse to serve a correct tile
                self.mvs[name] = replace(
                    mv, base_files=new_flat, base_files_by_table=new_by_table
                )
                return {
                    "refreshed": True,
                    "delta_files": 0,
                    "dim_appends": dim_appends,
                }
            return {"refreshed": False, "delta_files": 0}
        # the fact must scan exactly once in the defining plan, or the
        # delta substitution would under-join the self-join sides
        n_fact_scans = 0
        stack = [mv.defining_plan]
        while stack:
            node = stack.pop()
            stack.extend(node.inputs)
            if isinstance(node, ir.Scan) and node.table == mv.table:
                n_fact_scans += 1
        if n_fact_scans != 1:
            raise ValueError(
                f"MV {name}: fact table {mv.table!r} appears "
                f"{n_fact_scans} times in the defining join — delta "
                "refresh needs exactly one fact scan"
            )
        spark = catalog.spark
        tmp = f"__mv_delta_{name}"
        catalog.register_df(tmp, spark.read.parquet(*delta))

        def swap_fact(node):
            if isinstance(node, ir.Scan) and node.table == mv.table:
                return ir.Scan(tmp)
            if not node.inputs:
                return node
            return node.with_inputs(
                tuple(swap_fact(i) for i in node.inputs)
            )

        try:
            delta_agg = swap_fact(mv.defining_plan).to_df(catalog)
            merge_calls = [
                _F.expr(f"{_REAGG[fn]}({alias})").alias(alias)
                for alias, (fn, _) in mv.agg_calls.items()
            ]
            merged = (
                catalog.table(name)
                .unionByName(delta_agg)
                .groupBy(*[_key_alias(k) for k in mv.group_keys])
                .agg(*merge_calls)
            )
            merged = merged.localCheckpoint(eager=True)
            merged.write.mode("overwrite").parquet(mv.path)
        finally:
            spark.catalog.dropTempView(tmp)
            catalog.tables.pop(tmp, None)
            catalog._dfs.pop(tmp, None)
        catalog.register(name, mv.path, schema=merged.schema)
        self.mvs[name] = replace(
            mv, base_files=new_flat, base_files_by_table=new_by_table
        )
        return {
            "refreshed": True,
            "delta_files": len(delta),
            "dim_appends": dim_appends,
        }

    def _spf_incremental_refresh(self, catalog, mv: Materialization) -> dict:
        """Raw-row slices maintain by APPEND: filter/project the files
        added since the last build and append them to the tile —
        O(new data), no merge shuffle at all (the cheapest refresh in
        the registry; ≈ a lake engine's incremental MV on an SPF
        definition)."""
        from dataclasses import replace

        if not mv.base_files:
            raise ValueError(
                f"MV {mv.name}: base table {mv.table} has no file listing "
                "— incremental refresh needs a file-backed base"
            )
        catalog._dfs.pop(mv.table, None)
        current = tuple(sorted(catalog.table(mv.table).inputFiles()))
        seen = set(mv.base_files)
        vanished = seen - set(current)
        if vanished:
            # rewritten/deleted base files: an APPEND of "delta" rows
            # would re-add every row of the rewritten base to the tile
            # (ADVICE r8) — full rebuild (overwrite) instead
            rebuilt_df = self._spf_plan(mv, mv.table).to_df(catalog)
            rebuilt_df.write.mode("overwrite").parquet(mv.path)
            catalog.register(mv.name, mv.path, schema=rebuilt_df.schema)
            self.mvs[mv.name] = replace(mv, base_files=current)
            return {
                "refreshed": True,
                "rebuilt": True,
                "vanished_files": len(vanished),
                "delta_files": 0,
            }
        delta = [f for f in current if f not in seen]
        if not delta:
            return {"refreshed": False, "delta_files": 0}
        spark = catalog.spark
        tmp = f"__mv_delta_{mv.name}"
        catalog.register_df(tmp, spark.read.parquet(*delta))
        try:
            appended_df = self._spf_plan(mv, tmp).to_df(catalog)
            appended_df.write.mode("append").parquet(mv.path)
        finally:
            spark.catalog.dropTempView(tmp)
            catalog.tables.pop(tmp, None)
            catalog._dfs.pop(tmp, None)
        catalog.register(mv.name, mv.path, schema=appended_df.schema)
        self.mvs[mv.name] = replace(mv, base_files=current)
        return {"refreshed": True, "delta_files": len(delta)}

    @staticmethod
    def _spf_plan(mv: Materialization, src: str):
        """The SPF defining plan over `src` (the base table for a full
        build/rebuild, the delta temp view for an append refresh) —
        ONE lowering so the two paths can never diverge in naming or
        typing."""
        node: ir.RelNode = ir.Scan(src)
        if mv.filter_condition is not None:
            node = ir.Filter(mv.filter_condition, inputs=(node,))
        if mv.spf_renames:
            node = ir.Project(
                tuple(
                    f"{b} AS {s}" if s != b else b for b, s in mv.spf_renames
                ),
                inputs=(node,),
            )
        elif mv.spf_columns is not None:
            node = ir.Project(tuple(mv.spf_columns), inputs=(node,))
        return node

    def _rebuild_companion(self, catalog, mv: Materialization) -> None:
        """Re-register a decomposed MV's user-shaped view after its
        stats tile was rewritten (the old view DataFrame would read the
        swapped-out parquet listing)."""
        if mv.view_name:
            catalog.register_df(
                mv.view_name,
                catalog.table(mv.name).selectExpr(*mv.view_exprs),
            )

    # -- the rewrite rule (plugged into plans/rewrite.py) --------------

    def _base_current(self, mv: Materialization, catalog) -> bool:
        """Freshness gate (ADVICE r8): after DML mutates a base table
        (copy-on-write swap, INSERT append, TRUNCATE), a tile built
        from the OLD files must not silently answer queries — compare
        the define/refresh-time file snapshot with the base's current
        listing and refuse substitution on ANY difference (the caller
        falls back to the base scan; incremental_refresh re-arms the
        tile). Tiles with no snapshot (non-file bases) keep the legacy
        always-fresh behavior — they have no change anchor, loudly
        documented at define time."""
        if not mv.base_files:
            return True
        try:
            if mv.tables:
                current = {
                    f for t in mv.tables for f in catalog.table(t).inputFiles()
                }
            else:
                current = set(catalog.table(mv.table).inputFiles())
        except Exception:
            return True  # listing unavailable: no evidence of staleness
        return current == set(mv.base_files)

    def substitute(self, node, catalog):
        """Aggregate[, Filter](Scan | Join-tree) → Aggregate[, Filter]
        (Scan(mv)). Single-table MVs unify against a Scan; join MVs
        (define_join) unify against an inner-equi-join subtree with the
        same table set + edge set — or a SUPERSET whose extra dimension
        tables peel away along declared FK → unique-key edges
        (MaterializedViewJoinRule's referential-constraint walk). The
        rollup / filter compensation tier is shared.

        The SPF tiers live in substitute_spf, a SEPARATE rule that runs
        in the bottom-up visit AFTER this rule's top-down pre-pass
        (review r8): a blind full-column slice rewrite at Filter(Scan)
        must not preempt a 3-6-orders-smaller aggregate tile serving
        the Aggregate above — aggregate tiers get first claim, SPF
        serves whatever shapes remain.

        ROLLUP/CUBE/GROUPING SETS queries (r10, ≈
        MaterializedViewAggregateRule rolling up a groupSets aggregate
        from the view): every grouping set is a coarsening of the
        tile's grain, so the SAME group_type re-aggregates the tile's
        partials — in the plain tier, under containment, above the
        union tiers (both branches emit finest-grain partials the merge
        aggregate then rolls up), and across the drill-across re-join
        (the join's duplication factor scales each set exactly as it
        scales the query's own joined base)."""
        if not isinstance(node, ir.Aggregate) or node.group_type not in (
            "SIMPLE", "ROLLUP", "CUBE", "GROUPING_SETS"
        ):
            return None
        child = node.inputs[0]
        filt = None
        if isinstance(child, ir.Filter) and isinstance(
            child.inputs[0], (ir.Scan, ir.Join)
        ):
            filt, base = child, child.inputs[0]
        elif isinstance(child, (ir.Scan, ir.Join)):
            base = child
        else:
            return None
        ext = extract_join_subtree(base)
        if ext is None:
            return None
        q_tables, q_edges = ext
        candidates = []  # (tile_bytes, insertion_order, rewritten)
        for order, mv in enumerate(self.mvs.values()):
            if mv.spf:
                continue  # handled at the Filter/Project nodes above
            if mv.filter_condition is not None:
                # filtered tiles go through the containment / union-
                # compensation prover — NEVER the plain tier (a sliced
                # tile silently answering an unsliced query is the
                # wrong-value class this layer must refuse)
                rewritten = self._filtered_substitute(
                    node, filt, mv, q_tables, q_edges, catalog
                )
            elif mv.tables:
                if self._join_match(mv, q_tables, q_edges, catalog):
                    rewritten = self._try_rewrite(node, filt, mv, catalog)
                else:
                    rewritten = self._join_compensate(
                        node, filt, mv, q_tables, q_edges, catalog
                    )
            else:
                rewritten = None
                if not q_edges and q_tables == frozenset([mv.table]):
                    rewritten = self._try_rewrite(node, filt, mv, catalog)
            if rewritten is None and filt is not None and not mv.spf:
                # grain-edge tier (r11): raw-column date range over a
                # date_trunc-keyed tile — whole periods from the tile,
                # edge slivers from the base
                rewritten = self._grain_edge_substitute(
                    node, filt, mv, q_tables, q_edges, catalog
                )
            if rewritten is not None:
                # freshness gate LAST (review r9: running it before the
                # shape match listed every registered MV's base files —
                # planning-time I/O over tables the query never touches)
                if not self._base_current(mv, catalog):
                    continue  # stale tile (base mutated): refuse
                candidates.append(
                    (
                        0 if _tile_only(rewritten, mv) else 1,
                        _tile_bytes(mv.path),
                        order,
                        rewritten,
                    )
                )
        if not candidates:
            return None
        # cost-based tile choice (r10, ≈ the reference planner costing
        # competing materializations in the Volcano search): when
        # several tiles serve the same query, read the SMALLEST — at
        # 100 TB the single-dimension tile is orders of magnitude
        # smaller than the finest lattice tile that also matches.
        # Pure tile-only rewrites rank ahead of union/join-compensated
        # ones BEFORE bytes compare (ADVICE r10: a compensated rewrite
        # also scans the base residual or re-joins dims — a smaller
        # sliced tile plus a full fact rescan must not outrank a
        # containment-only read of a marginally larger tile).
        # Ties (including unknown sizes) keep registration order.
        candidates.sort(key=lambda c: (c[0], c[1], c[2]))
        return candidates[0][3]

    def substitute_spf(self, node, catalog):
        """SPF tiers fire at the Filter/Project nodes themselves — a
        rewritten slice scan then serves ANY shape above (aggregate,
        window, join input). Full-column SPF MVs rewrite blind at the
        Filter; column-subset ones only where the needed columns are
        visible (a Project top). Runs as its own bottom-up rule AFTER
        the aggregate tiers' top-down pre-pass, so it never preempts a
        cheaper aggregate-tile rewrite (review r8)."""
        if isinstance(node, ir.Filter) and isinstance(node.inputs[0], ir.Scan):
            return self._spf_filter_substitute(node, catalog)
        if isinstance(node, ir.Project) and node.inputs:
            pchild = node.inputs[0]
            if isinstance(pchild, ir.Scan) or (
                isinstance(pchild, ir.Filter)
                and isinstance(pchild.inputs[0], ir.Scan)
            ):
                return self._spf_project_substitute(node, catalog)
        return None

    def _join_match(self, mv, q_tables, q_edges, catalog) -> bool:
        """Does the query's join subtree unify with mv's? Exact: same
        tables + same edges. FK tier: delegates to _peel_sequence."""
        return self._peel_sequence(mv, q_tables, q_edges, catalog) is not None

    def _peel_sequence(self, mv, q_tables, q_edges, catalog):
        """FK-peel proof as a SEQUENCE (r11 refactor of the r9 boolean):
        exact match → []; peelable subset → the ordered list of
        (table, edge) peels; no match → None. The query covers a
        SUBSET of the MV's tables, and every MV-only table peels — it
        hangs off ONE remaining-table edge whose MV-side column is a
        unique key of that table AND is the target of a declared
        foreign key from the remaining side AND the referencing column
        has ANALYZE-grounded zero NULLs (SQL FKs are vacuous for NULLs
        — without the null evidence the MV's INNER join may have
        dropped NULL-keyed fact rows), so the extra join neither
        dropped nor duplicated the rows the query aggregates. The
        sequence lets the union tier REPLAY the peels in reverse —
        re-joining the peeled dims onto the query's own subtree
        reconstructs the tile's exact join row-for-row, which is what
        the residual branch must aggregate."""
        mv_tables, mv_edges = set(mv.tables), set(mv.join_edges)
        if q_tables == mv_tables:
            return [] if q_edges == mv_edges else None
        if not q_tables < mv_tables:
            return None
        owner = {}
        for t in mv_tables:
            for c in catalog.table(t).columns:
                owner[c] = t
        peels = []
        remaining_t, remaining_e = mv_tables, mv_edges
        while remaining_t != set(q_tables):
            peeled = None
            for t in sorted(remaining_t - q_tables):
                incident = [
                    e for e in remaining_e
                    if owner.get(e[0]) == t or owner.get(e[1]) == t
                ]
                if not incident:
                    continue
                # every incident edge must link t to the SAME other
                # table — multiple edges to one table are a COMPOSITE
                # key (r12); edges to several tables are a snowflake
                # mid-node, which peels outward-in
                pairs, o_tabs = [], set()
                for a, b in incident:
                    t_col, o_col = (a, b) if owner.get(a) == t else (b, a)
                    o_tabs.add(owner.get(o_col))
                    pairs.append((t_col, o_col))
                if len(o_tabs) != 1:
                    continue
                o_tab = next(iter(o_tabs))
                if o_tab is None or o_tab not in remaining_t or o_tab == t:
                    continue
                t_cols = tuple(p[0] for p in pairs)
                o_cols = tuple(p[1] for p in pairs)
                if len(pairs) == 1:
                    if not catalog.is_unique_key(t, t_cols[0]):
                        continue
                    if not catalog.has_foreign_key(
                        o_tab, o_cols[0], t, t_cols[0]
                    ):
                        continue
                else:
                    # composite edge set: the column SET must be a
                    # verified composite unique key of t, and the
                    # composite FK (pairing-exact) must be declared —
                    # per-column FKs do NOT compose into this proof
                    if not catalog.is_composite_unique_key(t, t_cols):
                        continue
                    if not catalog.has_composite_foreign_key(
                        o_tab, o_cols, t, t_cols
                    ):
                        continue
                # SQL foreign keys are vacuous for NULL values, so a
                # declared FK alone does NOT prove the INNER join kept
                # every fact row — a NULL o_col row silently drops
                # (review r8; for a composite FK the MATCH SIMPLE
                # semantics make ANY NULL column vacuous, so EVERY
                # referencing column needs the evidence). Require
                # grounded ANALYZE zero-NULL counts; no stats → no
                # peel (the same refuse-over-guess posture as the
                # transpose NDV gates).
                if any(_column_nulls(catalog, o_tab, c) != 0 for c in o_cols):
                    continue
                peeled = (t, tuple(incident))
                break
            if peeled is None:
                return None
            peels.append(peeled)
            remaining_t = remaining_t - {peeled[0]}
            remaining_e = remaining_e - set(peeled[1])
        return peels if remaining_e == set(q_edges) else None

    @staticmethod
    def _rejoin_peeled(node, peels):
        """Re-attach peeled dimension tables onto the query's join
        subtree, REVERSE peel order (each peel's edge lands on a table
        still present at that point, so the reverse replay always has
        its other side placed). The FK-peel proof obligations
        (_peel_sequence) guarantee the re-join neither drops nor
        duplicates rows — it reconstructs exactly the tile's defining
        join. No forced broadcast: a peeled FK target can be another
        FACT-sized table (lineitem⋈orders peeling orders), so the
        physical strategy is left to Catalyst/AQE, which broadcasts
        genuinely small dims on its own — same posture as the
        drill-across re-join."""
        for t, edges in reversed(peels):
            cond = " AND ".join(f"{a} = {b}" for a, b in edges)
            node = ir.Join(cond, inputs=(node, ir.Scan(t)))
        return node

    @staticmethod
    def _filter_refs_ok(cond: str, allowed: set) -> bool:
        """Every identifier in cond (string literals stripped) is an
        allowed column, a SQL word, or a number."""
        cond_no_literals = re.sub(r"'[^']*'", "", cond)
        idents = set(re.findall(r"[A-Za-z_]\w*", cond_no_literals))
        sql_words = {
            "AND", "OR", "NOT", "IN", "BETWEEN", "LIKE", "IS", "NULL",
            "TRUE", "FALSE", "TIMESTAMP", "DATE", "INTERVAL", "CAST",
            "AS", "INT", "BIGINT", "DOUBLE", "STRING",
        }
        return all(
            i in allowed or i.upper() in sql_words or i.isdigit() for i in idents
        )

    @staticmethod
    def _tile_col(mv: Materialization, fn: str, arg: str):
        """The tile column computing FN(arg), by normalized-arg match."""
        return next(
            (
                a
                for a, (mfn, marg) in mv.agg_calls.items()
                if mfn == fn and _norm(marg) == _norm(arg)
            ),
            None,
        )

    @staticmethod
    def _map_simple(fn: str, arg: str, mv: Materialization, exact: bool):
        """SUM/COUNT/MIN/MAX call → bare tile expression (no alias), or
        None. Exact tier = the tile column itself; rollup tier =
        re-aggregate (SUM→SUM, COUNT→$SUM0 COALESCE, MIN/MAX
        idempotent). DISTINCT only survives the exact tier (SUM of
        per-group distinct counts overcounts)."""
        if arg.upper().startswith("DISTINCT") and not exact:
            return None
        if fn == "APPROX_PERCENTILE":
            # the tile column is a DataSketches KLL sketch over the
            # VALUE expression — ANY percentile is servable from it
            # (match on the value expression only, not the declared p):
            # read the quantile (exact tier) or merge-then-read (rollup
            # tier). Approximate-for-approximate by the same contract
            # as the HLL tier; a 3-argument call (explicit accuracy)
            # refused at parse.
            pp = _percentile_parts(arg)
            if pp is None:
                return None
            val, p = pp
            src = next(
                (
                    a
                    for a, (mfn, marg) in mv.agg_calls.items()
                    if mfn == "APPROX_PERCENTILE"
                    and (m2 := _percentile_parts(marg)) is not None
                    and _norm(m2[0]) == _norm(val)
                ),
                None,
            )
            if src is None:
                return None
            if exact:
                return f"kll_sketch_get_quantile_double({src}, {p})"
            return (
                "kll_sketch_get_quantile_double("
                f"kll_merge_agg_double({src}), {p})"
            )
        src = MaterializationRegistry._tile_col(mv, fn, arg)
        if src is None:
            return None
        if fn == "APPROX_COUNT_DISTINCT":
            # the tile column is a DataSketches HLL sketch: estimate it
            # (exact tier) or union-then-estimate (rollup tier) —
            # approximate-for-approximate, the approximateDistinctCount
            # contract (the estimate is deterministic but not bit-equal
            # to Spark's native HLL++ implementation)
            if exact:
                return f"hll_sketch_estimate({src})"
            return f"hll_sketch_estimate(hll_union_agg({src}))"
        if exact:
            return src
        if fn == "COUNT":
            # $SUM0: a GLOBAL COUNT whose compensating filter matches
            # no tile rows must yield 0, not SUM-over-nothing NULL
            # (review r8 — same CountSplitter reasoning as the
            # join/union transposes)
            return f"COALESCE(SUM({src}), 0)"
        return f"{_REAGG[fn]}({src})"

    @staticmethod
    def _map_derived(fn: str, arg: str, mv: Materialization, exact: bool, catalog):
        """AVG/VAR/STDDEV call → bare tile expression via the
        sufficient-statistics identities (≈ AggregateReduceFunctionsRule
        reducing them to SUM/COUNT, then unifying against the tile):

          AVG(x)        = SUM(x) / COUNT(x)
          VAR_POP(x)    = (SUM(x*x) - SUM(x)²/n) / n,      n = COUNT(x)
          VAR_SAMP(x)   = (SUM(x*x) - SUM(x)²/n) / (n-1),  NULL for n<2
          STDDEV_*      = SQRT(VAR_*)

        Gates (refuse, never approximate):
        - the tile must carry SUM(x) and COUNT(x) — COUNT(*) is accepted
          only for a plain single-table column with ANALYZE-grounded
          zero NULLs (the FK-peel evidence posture);
        - VAR/STDDEV additionally need SUM(x*x);
        - DECIMAL tile columns refuse: Spark types AVG/VAR of decimals
          as decimals, while this lowering is double math — a silent
          result-type change is the wrong-value class this layer must
          never emit. (catalog=None likewise refuses — no schema to
          check.)
        The variance expression clamps at 0: the identity is exact in
        real arithmetic but catastrophic cancellation can produce a
        small negative double, and SQRT of that would be NaN where
        Spark's Welford implementation yields 0."""
        fn = fn.upper()
        if arg.upper().startswith("DISTINCT") or catalog is None:
            return None
        tc = MaterializationRegistry._tile_col
        s = tc(mv, "SUM", arg)
        c = tc(mv, "COUNT", arg)
        if c is None and not mv.tables and re.fullmatch(r"[A-Za-z_]\w*", arg):
            star = tc(mv, "COUNT", "*") or tc(mv, "COUNT", "1")
            if star is not None and _column_nulls(catalog, mv.table, arg) == 0:
                c = star
        if s is None or c is None:
            return None
        needed = [s, c]
        q = None
        if fn != "AVG":
            q = tc(mv, "SUM", _square_arg(arg))
            if q is None:
                return None
            needed.append(q)
        try:
            dtypes = dict(catalog.table(mv.name).dtypes)
        except Exception:
            return None
        if any(str(dtypes.get(col, "")).startswith("decimal") for col in needed):
            return None
        S = s if exact else f"SUM({s})"
        C = c if exact else f"SUM({c})"
        SD = f"CAST({S} AS DOUBLE)"
        if fn == "AVG":
            return f"CASE WHEN {C} > 0 THEN {SD} / {C} END"
        Q = q if exact else f"SUM({q})"
        ss = f"(CAST({Q} AS DOUBLE) - {SD} * {SD} / {C})"
        if fn in ("VAR_POP", "STDDEV_POP"):
            var, guard = f"GREATEST(0.0D, {ss} / {C})", f"{C} > 0"
        else:  # VAR_SAMP / VARIANCE / STDDEV_SAMP / STDDEV (sample)
            var, guard = f"GREATEST(0.0D, {ss} / ({C} - 1))", f"{C} > 1"
        body = var if fn.startswith("VAR") else f"SQRT({var})"
        return f"CASE WHEN {guard} THEN {body} END"

    @staticmethod
    def _map_expression_call(
        call: str, mv: Materialization, exact: bool, catalog, query_keys
    ):
        """Expression compensation (≈ SubstitutionVisitor unifying
        derived expressions): an arithmetic expression over aggregate
        calls — SUM(a) + SUM(b) AS x, MAX(a) - MIN(a) AS rng,
        SUM(a) * 2 AS d — maps each embedded call through the
        simple/derived tiers and splices the results. Identifiers
        OUTSIDE the calls must be the query's group keys or SQL words
        (anything else could silently rebind against the tile)."""
        m = _CALL_ALIAS_RE.match(call)
        if m is None:
            return None
        body, alias = m.group(1).strip(), m.group(2)
        out, last, found = [], 0, 0
        # aggregate-SHAPED text inside a string literal is data, not
        # a call (review r9: splicing it rewrote the literal)
        for mt in lexer.finditer(_AGG_IN_EXPR_RE, body):
            fn = mt.group(1).upper()
            arg = re.sub(r"\s+", " ", mt.group(2)[1:-1].strip())
            if fn in _REAGG:
                sub = MaterializationRegistry._map_simple(fn, arg, mv, exact)
            else:
                sub = MaterializationRegistry._map_derived(
                    fn, arg, mv, exact, catalog
                )
            if sub is None:
                return None
            out.append(body[last : mt.start()])
            out.append(f"({sub})")
            last = mt.end()
            found += 1
        if not found:
            return None
        out.append(body[last:])
        residual = _AGG_IN_EXPR_RE.sub(" ", body)
        idents = set(
            re.findall(r"[A-Za-z_]\w*", re.sub(r"'[^']*'", "", residual))
        )
        sql_words = {
            "CASE", "WHEN", "THEN", "ELSE", "END", "AND", "OR", "NOT",
            "NULL", "TRUE", "FALSE", "CAST", "AS", "DOUBLE", "BIGINT",
            "INT", "COALESCE", "GREATEST", "LEAST", "SQRT", "ABS", "ROUND",
        }
        # expression group keys (r10): the key's ALIAS is a legal
        # identifier in a sibling aggregate expression — it names the
        # tile column the key maps to
        allowed = set(query_keys) | {_key_alias(k) for k in query_keys}
        if not all(
            i in allowed or i.upper() in sql_words or i.isdigit()
            for i in idents
        ):
            return None
        return f"{''.join(out)} AS {alias}"

    @staticmethod
    def _map_rollup_calls(
        agg_calls, mv: Materialization, exact: bool, catalog=None, query_keys=(),
        resolved_keys=(),
    ):
        """Map the query's aggregate calls onto the tile's columns:
        exact tier = identity; rollup tier = re-aggregate. Beyond the
        plain SUM/COUNT/MIN/MAX tier (r8), calls may be derived
        aggregates (AVG/VAR/STDDEV — decomposed onto the tile's
        SUM/COUNT/sum-of-squares columns) or arithmetic expressions
        over aggregate calls (r9, ≈ AggregateReduceFunctionsRule +
        SubstitutionVisitor expression unification). None when any
        call has no tile derivation."""
        new_calls = []
        for call in agg_calls:
            # the tiers FALL THROUGH on refusal rather than failing the
            # whole mapping: _AGG_RE's lazy arg can "match" a compound
            # expression (SUM(a) + SUM(b) AS x parses as SUM with a
            # garbage arg), which the expression tier then handles
            mapped = None
            p = parse_agg_call(call)
            if p is not None:
                fn, arg, alias = p
                sub = MaterializationRegistry._map_simple(fn, arg, mv, exact)
                if sub is not None:
                    mapped = sub if sub == alias else f"{sub} AS {alias}"
            if mapped is None:
                dm = _DERIVED_RE.match(call)
                if dm is not None:
                    sub = MaterializationRegistry._map_derived(
                        dm.group(1), re.sub(r"\s+", " ", dm.group(2)), mv,
                        exact, catalog,
                    )
                    if sub is not None:
                        mapped = f"{sub} AS {dm.group(3)}"
            if mapped is None and not exact:
                # GROUPING/GROUPING_ID over query keys (r10, the
                # groupSets tier): each argument must be a tile group
                # key — re-reference it by the tile's stored column so
                # the re-aggregate computes the indicator itself
                gm = re.match(
                    r"(?is)^\s*(GROUPING|GROUPING_ID)\s*\((.*)\)\s+AS\s+(\w+)\s*$",
                    call,
                )
                if gm is not None:
                    tile_by_norm = {_norm(k): k for k in mv.group_keys}
                    # derived query keys (r14, verdict Missing #2 —
                    # the yearly-rollup-with-subtotal-flags dashboard
                    # rescanned the fact): GROUPING(year(d)) remaps to
                    # GROUPING(year(m_key)), the SAME derivation the
                    # keys themselves take in _resolve_merge_keys —
                    # the caller passes its resolved keys positionally
                    derived_by_norm = {}
                    for qk, rk in zip(query_keys, resolved_keys):
                        am = _KEY_ALIAS_RE.match(rk)
                        tgt = am.group(1) if am is not None else _key_alias(rk)
                        derived_by_norm[_norm(qk)] = tgt
                        # the call's argument writes the bare expression
                        # (GROUPING(year(d)), no alias) — register the
                        # alias-stripped spelling of the query key too
                        qm = _KEY_ALIAS_RE.match(qk)
                        if qm is not None:
                            derived_by_norm[_norm(qm.group(1))] = tgt
                    args, ok = [], True
                    for a in re.split(r",(?![^()]*\))", gm.group(2)):
                        hit = tile_by_norm.get(_norm(a.strip()))
                        if hit is not None:
                            args.append(_key_alias(hit))
                            continue
                        der = derived_by_norm.get(_norm(a.strip()))
                        if der is None:
                            ok = False
                            break
                        args.append(der)
                    if ok and args:
                        mapped = (
                            f"{gm.group(1).upper()}({', '.join(args)}) "
                            f"AS {gm.group(3)}"
                        )
            if mapped is None:
                mapped = MaterializationRegistry._map_expression_call(
                    call, mv, exact, catalog, query_keys
                )
            if mapped is None:
                return None
            new_calls.append(mapped)
        return new_calls

    def _try_rewrite(self, agg: ir.Aggregate, filt, mv: Materialization, catalog=None):
        # group keys must be a subset of the tile's keys, matched by
        # normalized text — an expression key matches only when the
        # query writes the SAME expression AND the SAME alias (a
        # different alias would rename the output column; no match,
        # never a crash — ≈ SubstitutionVisitor expression-group-key
        # unification, r10 verdict item 1). Every matched key is then
        # re-referenced as the TILE'S stored column (its alias): the
        # raw expression's inputs were aggregated away at build time.
        # each query key resolves to the tile's stored alias, or (r12,
        # ≈ Lattice's time-unit rollup) to a COARSER nesting
        # re-truncation of it — date_trunc('month', day_key) ==
        # date_trunc('month', col) because every month boundary is a
        # day boundary: monthly reports served from the day tile, the
        # classic OLAP hierarchy walk (groupSets refuse the derived
        # form; the set machinery below re-references plain aliases)
        tile_by_norm = {_norm(k): k for k in mv.group_keys}
        q_out = self._resolve_merge_keys(agg, mv)
        if q_out is None:
            return None
        # filter may only reference PLAIN tile group keys (identifier
        # check; an expression key's alias does not exist below the
        # query's aggregate, and its base columns are gone from the tile)
        if filt is not None and not self._filter_refs_ok(
            filt.condition, {k for k in mv.group_keys if _plain_key(k)}
        ):
            return None
        exact = (
            agg.group_type == "SIMPLE"
            and tuple(_norm(k) for k in agg.group_keys)
            == tuple(_norm(k) for k in mv.group_keys)
            and filt is None
        )
        new_calls = self._map_rollup_calls(
            agg.agg_calls, mv, exact, catalog, agg.group_keys,
            resolved_keys=q_out,
        )
        if new_calls is None:
            return None
        scan = ir.Scan(mv.name)
        if exact:
            # identity projection over the tile (by stored column name)
            return ir.Project(tuple(q_out + new_calls), inputs=(scan,))
        base = ir.Filter(filt.condition, inputs=(scan,)) if filt is not None else scan
        if agg.group_type != "SIMPLE":
            # re-aggregate the tile partials with the SAME grouping
            # structure: each grouping set coarsens the tile grain —
            # plain keys ARE tile keys, and derived keys (r13: the
            # hierarchy/EXTRACT tiers — "ROLLUP over year(d)" from the
            # month tile) are functions of tile keys — so SUM/$SUM0/
            # MIN/MAX merge per set is exact (r10, extended r13). Set
            # mapping + the GROUPING-call refusal live in ONE helper
            # shared with _merge_aggregate (r13 review: the first cut
            # duplicated them — the drift the r12 note warns about).
            sets = self._map_grouping_sets(agg, q_out)
            if sets is None:
                return None
            return ir.Aggregate(
                tuple(q_out),
                tuple(new_calls),
                group_type=agg.group_type,
                grouping_sets=sets,
                inputs=(base,),
            )
        return ir.Aggregate(tuple(q_out), tuple(new_calls), inputs=(base,))

    @staticmethod
    def _map_grouping_sets(agg, resolved):
        """Map the query's grouping sets into resolved-key space —
        ONE implementation for the plain tile tier and the grain-edge
        _merge_aggregate (r13 review: two copies had already appeared).
        `resolved` pairs positionally with agg.group_keys (the
        _resolve_merge_keys contract): a bare name is the stored tile
        alias; an "expr AS alias" entry is a DERIVED key, whose sets
        reference the bare expression. Returns the mapped sets, or
        None to refuse — when a set references a non-key column, or
        when any key is derived and a GROUP_ID() call is present
        (GROUP_ID expands through the UNION-ALL branch lowering in
        ir.Aggregate, which this tier does not re-derive). GROUPING()/
        GROUPING_ID() over derived keys are ALLOWED since r14: their
        key arguments take the same textual remap as the keys in
        _map_rollup_calls (verdict r13 Missing #2)."""
        key_map, derived_any = {}, False
        for qk, mk in zip(agg.group_keys, resolved):
            am = _KEY_ALIAS_RE.match(mk)
            if am is not None:
                derived_any = True
                key_map[_norm(qk)] = am.group(1)
            else:
                key_map[_norm(qk)] = mk
            # sets may spell the key bare ("year(d)") or aliased
            # ("year(d) AS yr") — register both (r14)
            qm = _KEY_ALIAS_RE.match(qk)
            if qm is not None:
                key_map[_norm(qm.group(1))] = key_map[_norm(qk)]
        if derived_any and any(
            re.search(r"(?i)\bGROUP_ID\s*\(", c) for c in agg.agg_calls
        ):
            return None
        sets = tuple(
            tuple(key_map.get(_norm(c), c) for c in s)
            for s in agg.grouping_sets
        )
        allowed = set(key_map.values())
        for st in sets:
            if not set(st) <= allowed:
                return None  # a set references a non-key column
        return sets

    def _resolve_merge_keys(self, agg, mv: Materialization):
        """Map each query group key to the tile column serving it:
        exact normalized-text match → the stored alias; else a COARSER
        nesting truncation (grain hierarchy) or a derivable EXTRACT
        field (r13) → a re-derivation of the stored alias. None when
        any key resolves neither way. Shared by the plain rollup tier
        and the grain-edge union (r12 review: the two copies would
        have drifted); both map grouping sets through
        _map_grouping_sets, which refuses GROUPING-family calls over
        derived keys."""
        tile_by_norm = {_norm(k): k for k in mv.group_keys}
        out = []
        for k in agg.group_keys:
            hit = tile_by_norm.get(_norm(k))
            if hit is not None:
                out.append(_key_alias(hit))
                continue
            sub = self._grain_hierarchy_key(k, mv)
            if sub is None:
                return None
            out.append(sub)
        return out

    @staticmethod
    def _grain_hierarchy_key(query_key: str, mv: Materialization):
        """`date_trunc('G', col) AS a` served by a tile keying
        `date_trunc('g', col) AS b` when every G-boundary is a
        g-boundary (then trunc(G, trunc(g, x)) == trunc(G, x)) →
        `date_trunc('G', b) AS a`, or None. Week nests NOTHING above
        day (month starts are not week-aligned) — the partial order is
        hour < day < {week, month < quarter < year}."""
        qm = _TRUNC_KEY_RE.match(query_key)
        if qm is None:
            # EXTRACT-form time groupings (r13, verdict item 3 ≈
            # materialize/Lattice.java:751 DerivedColumn):
            # `YEAR(col)` / `EXTRACT(YEAR FROM col)` — the other
            # universal BI spelling — derives from any month-or-finer
            # tile key because f(date_trunc(g, x)) == f(x) whenever g
            # preserves the field f (year from month keys, month from
            # day keys, never WEEK from month keys). The query's OWN
            # spelling is re-applied to the stored alias, so indexing
            # conventions (dayofweek Sunday-vs-Monday base) carry over
            # verbatim.
            em = _EXTRACT_KEY_RE.match(query_key)
            if em is None:
                return None
            if em.group(1) is not None:  # EXTRACT(FIELD FROM col)
                field_txt, q_col = em.group(1), em.group(2)
                rebuild = "EXTRACT({f} FROM {a})".format
            else:  # field_fn(col)
                field_txt, q_col = em.group(3), em.group(4)
                rebuild = "{f}({a})".format
            canon = _EXTRACT_FIELD_CANON.get(field_txt.lower())
            if canon is None:
                return None  # not a date-field function: refuse
            q_col, alias = _norm(q_col), em.group(5)
            for k in mv.group_keys:
                tm = _TRUNC_KEY_RE.match(k)
                if tm is None or _norm(tm.group(2)) != q_col:
                    continue
                if tm.group(1).lower() in _EXTRACT_SAFE_GRAINS[canon]:
                    return (
                        rebuild(f=field_txt, a=_key_alias(k))
                        + f" AS {alias}"
                    )
            return None
        # column names compare case-insensitively like every other
        # key-matching path (r12 review: Spark resolves identifiers
        # case-insensitively, so a raw compare refused queries that
        # run fine directly)
        q_grain, q_col = qm.group(1).lower(), _norm(qm.group(2))
        for k in mv.group_keys:
            tm = _TRUNC_KEY_RE.match(k)
            if tm is None or _norm(tm.group(2)) != q_col:
                continue
            t_grain = tm.group(1).lower()
            # STRICTLY coarser only: the same grain under a different
            # alias stays refused — that is the pinned expression-key
            # contract (qx46/qx52 negatives: same expression, different
            # alias → no match), and this tier must not relitigate it
            if q_grain in _GRAIN_COARSER_OF.get(t_grain, ()):
                alias = _key_alias(query_key)
                return (
                    f"date_trunc('{q_grain}', {_key_alias(k)}) AS {alias}"
                )
        return None

    def _join_compensate(self, agg, filt, mv, q_tables, q_edges, catalog):
        """Query joins a SUPERSET of the MV's tables → scan the tile,
        re-join the extra (drill-across) tables on tile group-key
        columns, then re-aggregate. The other direction of
        MaterializedViewJoinRule's unification (≈ SubstitutionVisitor
        compensating the view WITH a join, where _join_match peels one
        AWAY).

        Correct for SUM/COUNT/MIN/MAX with no uniqueness evidence
        needed: a join value matching k extra-side rows duplicates each
        original fact row AND the tile row k times alike (SUM/COUNT
        scale linearly by k on both sides; MIN/MAX are duplication-
        invariant), and k=0 drops the same rows from both. DISTINCT
        aggregates are refused (the tier is never exact).

        100 TB: this is the drill-across query — tile ⋈ small dims —
        and the compensating joins are exactly the broadcast-able kind
        (BroadcastSmallDimensions runs after this rule)."""
        mv_tables = set(mv.tables)
        if not (mv_tables and mv_tables < q_tables):
            return None
        owner = {}
        for t in sorted(q_tables):
            for c in catalog.table(t).columns:
                if c in owner:
                    return None  # ambiguous namespace: cannot classify edges
                owner[c] = t
        mv_part, extra_edges = set(), []
        for e in q_edges:
            ta, tb = owner.get(e[0]), owner.get(e[1])
            if ta is None or tb is None:
                return None
            if ta in mv_tables and tb in mv_tables:
                mv_part.add(e)
                continue
            # an MV-side endpoint must have survived into the tile
            for col, tab in ((e[0], ta), (e[1], tb)):
                if tab in mv_tables and col not in mv.group_keys:
                    return None
            extra_edges.append(e)
        if mv_part != set(mv.join_edges):
            return None
        # left-deep attach: every extra table joins through columns
        # already available (tile keys or previously attached tables) —
        # a table that cannot attach would need a cross join, refuse.
        # avail holds real COLUMNS only; the tile's aggregate aliases
        # must never bind a join edge (and an extra table whose column
        # collides with an alias would make the join output ambiguous —
        # refuse).
        avail = {k for k in mv.group_keys if _plain_key(k)}
        expr_by_norm = {
            _norm(k): _key_alias(k)
            for k in mv.group_keys
            if not _plain_key(k)
        }
        node: ir.RelNode = ir.Scan(mv.name)
        pending_t = sorted(q_tables - mv_tables)
        pending_e = list(extra_edges)
        while pending_t:
            progress = False
            for t in list(pending_t):
                t_cols = set(catalog.table(t).columns)
                if t_cols & (set(mv.agg_calls) | set(expr_by_norm.values())):
                    return None
                usable = [
                    e
                    for e in pending_e
                    if (e[0] in t_cols and e[1] in avail)
                    or (e[1] in t_cols and e[0] in avail)
                ]
                if not usable:
                    continue
                cond = " AND ".join(f"{a} = {b}" for a, b in sorted(usable))
                node = ir.Join(cond, "INNER", inputs=(node, ir.Scan(t)))
                avail |= t_cols
                for e in usable:
                    pending_e.remove(e)
                pending_t.remove(t)
                progress = True
            if not progress:
                return None
        if pending_e:
            return None  # e.g. a same-table "edge" the extractor let through
        # query keys: a real column already available, or (r10) the
        # tile's expression key matched by normalized text and
        # re-referenced as its stored ALIAS column
        out_keys, key_map = [], {}
        for k in agg.group_keys:
            if k in avail:
                out_keys.append(k)
                key_map[_norm(k)] = k
            elif _norm(k) in expr_by_norm:
                out_keys.append(expr_by_norm[_norm(k)])
                key_map[_norm(k)] = expr_by_norm[_norm(k)]
            else:
                return None
        if filt is not None and not self._filter_refs_ok(filt.condition, avail):
            return None
        new_calls = self._map_rollup_calls(
            agg.agg_calls, mv, False, catalog, agg.group_keys
        )
        if new_calls is None:
            return None
        if filt is not None:
            node = ir.Filter(filt.condition, inputs=(node,))
        if agg.group_type != "SIMPLE":
            # groupSets drill-across (r10): the per-row duplication
            # factor of the compensating join scales each grouping
            # set's SUM/COUNT exactly as it scales the query's own
            # joined base, and MIN/MAX are duplication-invariant — the
            # SIMPLE-tier argument holds per set
            sets = tuple(
                tuple(key_map.get(_norm(c), c) for c in s)
                for s in agg.grouping_sets
            )
            for st in sets:
                if not set(st) <= set(out_keys):
                    return None
            return ir.Aggregate(
                tuple(out_keys),
                tuple(new_calls),
                group_type=agg.group_type,
                grouping_sets=sets,
                inputs=(node,),
            )
        return ir.Aggregate(tuple(out_keys), tuple(new_calls), inputs=(node,))

    def _filtered_substitute(self, agg, filt, mv, q_tables, q_edges, catalog=None):
        """Substitution against a SLICED tile (define(...,
        filter_condition=...) or define_join(..., filter_condition=)),
        ≈ MaterializedViewAggregateRule with generateUnionRewriting:
        prove the query's range CONTAINED in the slice (→ rollup/filter
        compensation on the tile) or OVERLAPPING it (→ tile partials
        for the covered range UNION ALL freshly-aggregated partials
        over the base's residual range, merged above — the reference's
        union rewriting, here over the same partial/merge decomposition
        as the r7/r8 transposes). For JOIN tiles the base of the
        residual branch is the query's own join subtree; FK-PEELED
        queries (r11) first re-join the peeled dims in reverse peel
        order — the peel proof (unique key + declared FK + zero-NULL
        referencing column) guarantees the re-join reconstructs the
        tile's defining join row-for-row, so peeled+overlapping
        queries now get union compensation instead of a fact rescan
        (≈ MaterializedViewAggregateRule.java:238-309 composing union
        rewriting with join unification). Disjoint or unprovable → no
        rewrite, never a wrong slice."""
        peels: list | None = []
        if mv.tables:
            peels = self._peel_sequence(mv, q_tables, q_edges, catalog)
            if peels is None:
                return None
        elif q_edges or q_tables != frozenset([mv.table]):
            return None
        if filt is None:
            return None  # query wants ALL rows; the tile holds a slice
        parsed_m = _parse_interval(mv.filter_condition)
        parsed_q = _parse_interval(filt.condition)
        if (
            parsed_m is None
            or parsed_q is None
            or parsed_q[0] != parsed_m[0]
            or parsed_q[1] != parsed_m[1]
        ):
            # multi-column conjunctive regions: containment first (r9),
            # then the general union tier (r10, verdict item 5 ≈
            # generateUnionRewriting's general residual) — the box
            # difference decomposes into ≤2 disjoint boxes per
            # constrained column
            rewritten = self._region_contained_substitute(agg, filt, mv, catalog)
            if rewritten is not None:
                return rewritten
            return self._region_union_substitute(
                agg, filt, mv, catalog, peels
            )
        (m_col, m_kind, m_iv), (q_col, q_kind, q_iv) = parsed_m, parsed_q
        if m_col not in mv.group_keys:
            return None
        if _interval_contains(m_iv, q_iv):
            # the slice covers the query → plain compensation on the tile
            return self._try_rewrite(agg, filt, mv, catalog)
        covered = _interval_intersect(q_iv, m_iv)
        if covered.is_empty():
            return None  # disjoint: the tile contributes nothing
        residual = _interval_diff(q_iv, m_iv)
        if not residual:
            return None
        tile_norms = {_norm(k) for k in mv.group_keys}
        if not {_norm(k) for k in agg.group_keys} <= tile_norms:
            return None
        merged_calls = self._map_rollup_calls(
            agg.agg_calls, mv, False, catalog, agg.group_keys
        )
        if merged_calls is None:
            return None
        # both branches project the tile's canonical column list so the
        # UNION ALL aligns positionally and by name; expression keys
        # (r10) are referenced by their STORED alias — the base branch
        # re-computes the expression (raw key over the base scan names
        # its output with the same alias), the tile branch reads it
        branch_cols = tuple(
            [_key_alias(k) for k in mv.group_keys] + list(mv.agg_calls)
        )
        tile_branch = ir.Project(
            branch_cols,
            inputs=(
                ir.Filter(_interval_sql(m_col, covered), inputs=(ir.Scan(mv.name),)),
            ),
        )
        residual_sql = " OR ".join(f"({_interval_sql(m_col, r)})" for r in residual)
        # residual partials must match the TILE's physical columns
        # (sketches for APPROX_COUNT_DISTINCT measures)
        base_calls = tuple(
            _tile_call_sql(fn, arg, alias)
            for alias, (fn, arg) in mv.agg_calls.items()
        )
        # residual base: the query's own subtree — for single-table
        # tiles this IS Scan(mv.table); for exact-join tiles it is the
        # same join the tile was defined over; for FK-PEELED queries
        # (r11, ≈ MaterializedViewAggregateRule.java:238-309 composing
        # union rewriting with join unification) the peeled dims are
        # re-joined first, reconstructing the tile's defining join
        # row-for-row under the peel proof's obligations
        base_input = self._rejoin_peeled(filt.inputs[0], peels or [])
        base_branch = ir.Project(
            branch_cols,
            inputs=(
                ir.Aggregate(
                    mv.group_keys,
                    base_calls,
                    inputs=(
                        ir.Filter(residual_sql, inputs=(base_input,)),
                    ),
                ),
            ),
        )
        union = ir.SetOp("UNION_ALL", inputs=(tile_branch, base_branch))
        return self._merge_aggregate(agg, merged_calls, union)

    @classmethod
    def _merge_aggregate(cls, agg, merged_calls, union, merge_keys=None):
        """The merge aggregate above a UNION of partials: re-group by
        the query keys' STORED aliases with the query's own grouping
        structure — or by the caller's merge_keys override (r12 grain
        hierarchy / r13 EXTRACT derivation: a re-derivation of a
        stored key). groupSets merges are exact (r10, derived keys
        r13): both branches emit partials at the tile's FINEST grain,
        which every grouping set coarsens whether its keys are stored
        or derived — the grand-total row sums tile partials for the
        covered range plus base partials for the residual, exactly the
        query's range. Set mapping + the GROUPING-call refusal are
        shared with the plain tier via _map_grouping_sets."""
        keys = (
            tuple(merge_keys)
            if merge_keys is not None
            else tuple(_key_alias(k) for k in agg.group_keys)
        )
        if agg.group_type == "SIMPLE":
            return ir.Aggregate(keys, tuple(merged_calls), inputs=(union,))
        sets = cls._map_grouping_sets(agg, keys)
        if sets is None:
            return None
        return ir.Aggregate(
            keys,
            tuple(merged_calls),
            group_type=agg.group_type,
            grouping_sets=sets,
            inputs=(union,),
        )

    def _region_contained_substitute(self, agg, filt, mv, catalog):
        """Multi-column containment (r9, ≈ SubstitutionVisitor's
        multi-conjunct Sarg reasoning): the tile's slice and the query's
        filter both parse as conjunctive single-column regions, and for
        EVERY tile-slice column the query's interval is contained —
        extra query conjuncts over tile group keys are compensated on
        the tile by _try_rewrite's filter. Overlap (any tile column
        whose query interval escapes the slice) refuses: never a wrong
        slice."""
        region_m = _parse_region(mv.filter_condition)
        region_q = _parse_region(filt.condition)
        if region_m is None or region_q is None:
            return None
        if not set(region_m) <= set(mv.group_keys):
            return None
        for col, (kind, m_iv) in region_m.items():
            q = region_q.get(col)
            if q is None or q[0] != kind or not _interval_contains(m_iv, q[1]):
                return None
        return self._try_rewrite(agg, filt, mv, catalog)

    def _region_union_substitute(self, agg, filt, mv, catalog, peels):
        """Multi-column UNION compensation (r10, verdict item 5; ≈
        MaterializedViewAggregateRule.generateUnionRewriting's general
        residual): the query's conjunctive box OVERLAPS the tile's
        multi-column slice — serve the intersection box from tile
        partials and the residual `Q − M` from the base, decomposed
        into DISJOINT boxes (for slice column i: columns j<i pinned to
        the intersection, column i in Q_i − M_i (≤2 intervals), columns
        j>i at the query's own range), then merge above.

        Refusal gates, each the wrong-value class this layer must never
        emit: every tile-slice column must be CONSTRAINED by the query
        (an unconstrained column's NULL rows belong to the query but to
        NEITHER branch — comparisons are NULL-false); kinds must match
        per column; all filter columns must be plain tile group keys;
        the residual branch is the query's own subtree with any PEELED
        dims re-joined (r11, ≈ MaterializedViewAggregateRule.java:
        238-309 composing union rewriting with join unification —
        before, join tiles required the exact join and a
        peeled+overlapping query rescanned the fact); disjoint boxes
        (empty intersection on any column) contribute nothing —
        refuse."""
        region_m = _parse_region(mv.filter_condition)
        region_q = _parse_region(filt.condition)
        if region_m is None or region_q is None:
            return None
        plain_keys = {k for k in mv.group_keys if _plain_key(k)}
        if not set(region_m) <= plain_keys or not set(region_q) <= plain_keys:
            return None
        tile_norms = {_norm(k) for k in mv.group_keys}
        if not {_norm(k) for k in agg.group_keys} <= tile_norms:
            return None
        merged_calls = self._map_rollup_calls(
            agg.agg_calls, mv, False, catalog, agg.group_keys
        )
        if merged_calls is None:
            return None
        mcols = sorted(region_m)
        covered: dict = {}
        for c in mcols:
            kind, m_iv = region_m[c]
            q = region_q.get(c)
            if q is None or q[0] != kind:
                return None
            cov = _interval_intersect(q[1], m_iv)
            if cov.is_empty():
                return None  # disjoint: the tile contributes nothing
            covered[c] = cov
        boxes = []
        for i, c in enumerate(mcols):
            _kind, m_iv = region_m[c]
            for part in _interval_diff(region_q[c][1], m_iv):
                box = {}
                for j, cj in enumerate(mcols):
                    if j < i:
                        box[cj] = covered[cj]
                    elif j == i:
                        box[cj] = part
                    else:
                        box[cj] = region_q[cj][1]
                boxes.append(box)
        if not boxes:
            return None  # fully contained: the containment tier owns it
        extra_sql = [
            _interval_sql(c, region_q[c][1])
            for c in sorted(region_q)
            if c not in region_m
        ]

        def _box_sql(box):
            parts = [
                _interval_sql(c, iv)
                for c, iv in box.items()
                if _interval_sql(c, iv) != "TRUE"
            ]
            return " AND ".join(parts) if parts else "TRUE"

        covered_parts = [
            _interval_sql(c, covered[c]) for c in mcols
        ] + extra_sql
        covered_sql = (
            " AND ".join(p for p in covered_parts if p != "TRUE") or "TRUE"
        )
        residual_sql = " OR ".join(f"({_box_sql(b)})" for b in boxes)
        residual_sql = f"({residual_sql})"
        if extra_sql:
            residual_sql += " AND " + " AND ".join(extra_sql)
        branch_cols = tuple(
            [_key_alias(k) for k in mv.group_keys] + list(mv.agg_calls)
        )
        tile_branch = ir.Project(
            branch_cols,
            inputs=(
                ir.Filter(covered_sql, inputs=(ir.Scan(mv.name),)),
            ),
        )
        # residual partials must match the TILE's physical columns
        # (sketches for APPROX_COUNT_DISTINCT measures)
        base_calls = tuple(
            _tile_call_sql(fn, arg, alias)
            for alias, (fn, arg) in mv.agg_calls.items()
        )
        base_input = self._rejoin_peeled(filt.inputs[0], peels or [])
        base_branch = ir.Project(
            branch_cols,
            inputs=(
                ir.Aggregate(
                    mv.group_keys,
                    base_calls,
                    inputs=(
                        ir.Filter(residual_sql, inputs=(base_input,)),
                    ),
                ),
            ),
        )
        union = ir.SetOp("UNION_ALL", inputs=(tile_branch, base_branch))
        return self._merge_aggregate(agg, merged_calls, union)

    @staticmethod
    def _canon_half_open(iv, col, mv, catalog):
        """Closed/exclusive bounds → half-open successor form, exact
        ONLY on a discrete domain (r12, ≈ rel/rules/DateRangeRules.java:91
        canonicalizing comparisons into Sargs): on a DATE column every
        value is a midnight point, so `col <= D ⟺ col < day_floor(D) +
        1 day` and `col > D ⟺ col >= day_floor(D) + 1 day` — this makes
        `BETWEEN '1995-03-15' AND '1995-11-20'`, THE most common
        dashboard spelling, grain-edge-servable. TIMESTAMP columns keep
        refusing: on a continuous domain a closed bound has no
        successor. Returns the (possibly unchanged) interval, or None
        to refuse."""
        need_lo = iv.lo is not None and not iv.lo_incl
        need_hi = iv.hi is not None and iv.hi_incl
        if not (need_lo or need_hi):
            return iv
        owners = mv.tables or (mv.table,)
        dtype = None
        for t in owners:
            dtype = dict(catalog.table(t).dtypes).get(col)
            if dtype is not None:
                break
        if dtype != "date":
            return None
        from datetime import timedelta

        def succ(bound):
            d = _parse_ts(bound[0])
            if d is None:
                return None
            s = _grain_floor("day", d) + timedelta(days=1)
            return (s.strftime("%Y-%m-%d %H:%M:%S"), _ts_sql(s))

        lo, lo_incl, hi, hi_incl = iv.lo, iv.lo_incl, iv.hi, iv.hi_incl
        if need_lo:
            lo = succ(lo)
            if lo is None:
                return None
            lo_incl = True
        if need_hi:
            hi = succ(hi)
            if hi is None:
                return None
            hi_incl = False
        return _Interval(lo, lo_incl, hi, hi_incl)

    def _grain_edge_substitute(self, agg, filt, mv, q_tables, q_edges, catalog):
        """Grain-aligned EDGE-PARTIAL rewrite (r11): an UNSLICED tile
        keyed on `date_trunc('<grain>', col) AS alias` answers a query
        that filters a RANGE over the RAW column — whole grain periods
        read from the tile (date_trunc(g, col) >= B ⟺ col >= B when B
        is g-aligned), and the ≤2 partial-period slivers at the range's
        edges aggregate fresh partials over the base, merged above with
        the same $SUM0 machinery as the union tiers. THE classic BI
        shape: "March 3 to November 20" costs a tile read plus two
        day-sliver scans instead of a fact rescan. Composes with the
        FK peel (the sliver branch re-joins peeled dims).

        Proof obligations, each refusing when unprovable:
        - the filter is a single-column 'date'-kind region over exactly
          the truncation's input column, with inclusive lower and
          exclusive upper bounds (>= / < — the half-open form where
          boundary alignment is exact). Closed/exclusive bounds
          (BETWEEN, <=, >) canonicalize to that form via day-successor
          arithmetic when the column is DATE-typed — a discrete domain,
          r12 — and refuse on TIMESTAMP columns (continuous: no
          successor to reason about);
        - NULL col rows belong to NEITHER branch AND NOT to the query
          (comparisons are NULL-false on both sides of the
          equivalence);
        - group keys / calls pass the same rollup mapping as every
          other tier."""
        sregion = None
        if mv.filter_condition is not None:
            # SLICED grain tiles (r11 second pass — the hot-months
            # tile): the slice was validated at define to be a
            # conjunctive region whose non-key columns are
            # grain-ALIGNED half-open ranges over the truncation
            # input; the aligned core below intersects with it, and
            # the slice-escaped (still aligned) ranges join the
            # slivers served from the base
            sregion = _parse_region(mv.filter_condition)
            if sregion is None:
                return None
        peels: list | None = []
        if mv.tables:
            peels = self._peel_sequence(mv, q_tables, q_edges, catalog)
            if peels is None:
                return None
        elif q_edges or q_tables != frozenset([mv.table]):
            return None
        region = _parse_region(filt.condition)
        if region is None:
            return None
        # the ONE grain-servable column: 'date' kind with a matching
        # truncation key in the tile
        grain = alias = col = None
        for c, (kind, _iv) in sorted(region.items()):
            if kind != "date":
                continue
            for k in mv.group_keys:
                m = _TRUNC_KEY_RE.match(k)
                # case-insensitive like Spark's identifier resolution
                # (ADVICE r12: the raw compare silently lost grain-edge
                # serving on mixed-case columns — mirror
                # _grain_hierarchy_key's _norm)
                if m and _norm(m.group(2)) == _norm(c):
                    grain, alias, col = m.group(1).lower(), _key_alias(k), c
                    break
            if grain is not None:
                break
        if grain is None or grain not in _GRAIN_SNAP:
            return None
        iv = region[col][1]
        # EXTRA conjuncts (r11 second pass — the real dashboard filter
        # is "date range AND segment"): every other region column must
        # be a PLAIN tile group key; its interval then compensates
        # identically on both branches (tile rows carry the key value
        # verbatim, so filtering groups equals filtering base rows)
        plain_keys = {k for k in mv.group_keys if _plain_key(k)}
        others = {c: v for c, v in region.items() if c != col}
        if not set(others) <= plain_keys:
            return None
        other_sql = [
            _interval_sql(c, v[1]) for c, v in sorted(others.items())
        ]
        other_sql = [s for s in other_sql if s != "TRUE"]
        # half-open form (unbounded sides allowed); closed/exclusive
        # bounds canonicalize to it on a discrete DATE column (r12)
        iv = self._canon_half_open(iv, col, mv, catalog)
        if iv is None:
            return None
        if iv.lo is None and iv.hi is None:
            return None
        # query keys must be tile keys (the raw column itself is FINER
        # than the tile and must not appear) OR a COARSER nesting
        # truncation of one (r12 grain hierarchy: the range dashboard's
        # "March 15 – Nov 20 monthly trend" groups by month over a day
        # tile — both branches emit day partials, the merge aggregate
        # re-truncates them; SIMPLE grouping only, like _try_rewrite)
        merge_keys = self._resolve_merge_keys(agg, mv)
        if merge_keys is None:
            return None
        merged_calls = self._map_rollup_calls(
            agg.agg_calls, mv, False, catalog, agg.group_keys,
            resolved_keys=merge_keys,
        )
        if merged_calls is None:
            return None
        lo = _parse_ts(iv.lo[0]) if iv.lo is not None else None
        hi = _parse_ts(iv.hi[0]) if iv.hi is not None else None
        if lo is None and iv.lo is not None:
            return None
        if hi is None and iv.hi is not None:
            return None
        c_lo = _grain_ceil(grain, lo) if lo is not None else None
        c_hi = _grain_floor(grain, hi) if hi is not None else None
        if c_lo is not None and c_hi is not None and c_lo >= c_hi:
            return None  # no whole period inside: tile contributes nothing
        # slice accounting (sliced grain tiles): intersect the aligned
        # core with the slice's range over the grain column; every
        # OTHER slice column must be constrained by the query WITHIN
        # the slice (else tile rows are missing for the query's range)
        t_lo, t_hi = c_lo, c_hi
        if sregion is not None:
            for sc, (skind, siv) in sregion.items():
                if sc == col:
                    s_lo = _parse_ts(siv.lo[0]) if siv.lo is not None else None
                    s_hi = _parse_ts(siv.hi[0]) if siv.hi is not None else None
                    if (siv.lo is not None and s_lo is None) or (
                        siv.hi is not None and s_hi is None
                    ):
                        return None
                    if s_lo is not None and (t_lo is None or s_lo > t_lo):
                        t_lo = s_lo
                    if s_hi is not None and (t_hi is None or s_hi < t_hi):
                        t_hi = s_hi
                    continue
                q = region.get(sc)
                if q is None or q[0] != skind or not _interval_contains(
                    siv, q[1]
                ):
                    return None
            if t_lo is not None and t_hi is not None and t_lo >= t_hi:
                return None  # aligned core entirely outside the slice
        tile_conds, slivers = list(other_sql), []
        if lo is not None:
            if lo < c_lo:
                slivers.append(
                    f"({col} >= {_ts_sql(lo)} AND {col} < {_ts_sql(c_lo)})"
                )
        if hi is not None:
            if c_hi < hi:
                slivers.append(
                    f"({col} >= {_ts_sql(c_hi)} AND {col} < {_ts_sql(hi)})"
                )
        # slice ESCAPES: aligned core ranges the slice does not hold —
        # still grain-aligned, so they translate verbatim to raw space
        if t_lo is not None:
            tile_conds.append(f"{alias} >= {_ts_sql(t_lo)}")
            if c_lo is not None and c_lo < t_lo:
                slivers.append(
                    f"({col} >= {_ts_sql(c_lo)} AND {col} < {_ts_sql(t_lo)})"
                )
            elif c_lo is None:
                slivers.append(f"({col} < {_ts_sql(t_lo)})")
        if t_hi is not None:
            tile_conds.append(f"{alias} < {_ts_sql(t_hi)}")
            if c_hi is not None and t_hi < c_hi:
                slivers.append(
                    f"({col} >= {_ts_sql(t_hi)} AND {col} < {_ts_sql(c_hi)})"
                )
            elif c_hi is None:
                slivers.append(f"({col} >= {_ts_sql(t_hi)})")
        branch_cols = tuple(
            [_key_alias(k) for k in mv.group_keys] + list(mv.agg_calls)
        )
        tile_branch = ir.Project(
            branch_cols,
            inputs=(
                ir.Filter(" AND ".join(tile_conds), inputs=(ir.Scan(mv.name),)),
            ),
        )
        if not slivers:
            # grain-ALIGNED range: the whole query is servable from the
            # tile — the filter translates verbatim into alias space
            return self._merge_aggregate(
                agg, merged_calls, tile_branch, merge_keys
            )
        base_calls = tuple(
            _tile_call_sql(fn, arg, a) for a, (fn, arg) in mv.agg_calls.items()
        )
        base_input = self._rejoin_peeled(filt.inputs[0], peels or [])
        sliver_sql = "(" + " OR ".join(slivers) + ")"
        if other_sql:
            sliver_sql += " AND " + " AND ".join(other_sql)
        base_branch = ir.Project(
            branch_cols,
            inputs=(
                ir.Aggregate(
                    mv.group_keys,
                    base_calls,
                    inputs=(
                        ir.Filter(sliver_sql, inputs=(base_input,)),
                    ),
                ),
            ),
        )
        union = ir.SetOp("UNION_ALL", inputs=(tile_branch, base_branch))
        return self._merge_aggregate(agg, merged_calls, union, merge_keys)

    # -- SPF (raw-row slice) tiers -------------------------------------

    def _spf_scan(self, mv: Materialization):
        """Scan the SPF tile, restoring BASE column names when the DDL
        alias list renamed them (the compensating filter and everything
        above speak base names)."""
        scan = ir.Scan(mv.name)
        if mv.spf_renames and any(s != b for b, s in mv.spf_renames):
            return ir.Project(
                tuple(
                    f"{s} AS {b}" if s != b else b for b, s in mv.spf_renames
                ),
                inputs=(scan,),
            )
        return scan

    def _spf_range_rewrite(self, cond: str, mv: Materialization, catalog):
        """Filter(cond)(Scan(mv.table)) rewritten against the slice:
        contained → compensate on the tile (exact range → bare tile
        scan); overlapping → tile rows for the covered range UNION ALL
        base rows for the residual (raw-row union: no merge aggregate
        needed). Returns a node with the same rows AND columns as the
        input Filter, or None."""
        if mv.filter_condition is None:
            return ir.Filter(cond, inputs=(self._spf_scan(mv),))
        parsed_m = _parse_interval(mv.filter_condition)
        parsed_q = _parse_interval(cond)
        if (
            parsed_m is None
            or parsed_q is None
            or parsed_q[0] != parsed_m[0]
            or parsed_q[1] != parsed_m[1]
        ):
            # multi-column conjunctive regions (r9): containment-only,
            # same refusal posture as the aggregate tier — the query's
            # region must pin EVERY slice column inside the slice, and
            # the compensating filter (which the tile must be able to
            # evaluate) re-applies the full condition
            region_m = _parse_region(mv.filter_condition)
            region_q = _parse_region(cond)
            if region_m is None or region_q is None:
                return None
            stored = (
                set(mv.spf_columns)
                if mv.spf_columns is not None
                else None
            )
            if stored is not None and not set(region_q) <= stored:
                return None
            for col, (kind, m_iv) in region_m.items():
                q = region_q.get(col)
                if q is None or q[0] != kind or not _interval_contains(
                    m_iv, q[1]
                ):
                    return None
            return ir.Filter(cond, inputs=(self._spf_scan(mv),))
        (m_col, m_kind, m_iv), (q_col, q_kind, q_iv) = parsed_m, parsed_q
        if q_col != m_col or q_kind != m_kind:
            return None
        if mv.spf_columns is not None and m_col not in mv.spf_columns:
            return None
        if _interval_contains(m_iv, q_iv):
            if q_iv == m_iv:
                return self._spf_scan(mv)
            return ir.Filter(cond, inputs=(self._spf_scan(mv),))
        covered = _interval_intersect(q_iv, m_iv)
        if covered.is_empty():
            return None
        residual = _interval_diff(q_iv, m_iv)
        if not residual:
            return None
        cols = tuple(
            mv.spf_columns
            if mv.spf_columns is not None
            else catalog.table(mv.table).columns
        )
        tile = ir.Project(
            cols,
            inputs=(
                ir.Filter(
                    _interval_sql(m_col, covered), inputs=(self._spf_scan(mv),)
                ),
            ),
        )
        residual_sql = " OR ".join(f"({_interval_sql(m_col, r)})" for r in residual)
        base = ir.Project(
            cols,
            inputs=(ir.Filter(residual_sql, inputs=(ir.Scan(mv.table),)),),
        )
        return ir.SetOp("UNION_ALL", inputs=(tile, base))

    def _spf_filter_substitute(self, node, catalog):
        """Blind Filter-node rewrite: FULL-column SPF tiles only (a
        column subset could drop columns an unseen parent needs)."""
        scan = node.inputs[0]
        for mv in self.mvs.values():
            if not mv.spf or mv.table != scan.table or mv.spf_columns is not None:
                continue
            repl = self._spf_range_rewrite(node.condition, mv, catalog)
            if repl is not None:
                if not self._base_current(mv, catalog):
                    continue  # stale slice: refuse, serve from base
                return repl
        return None

    def _spf_project_substitute(self, node, catalog):
        """Project[(Filter)](Scan) rewrite for COLUMN-SUBSET SPF tiles
        (projection indexes): every column the projection and filter
        reference must be stored in the tile."""
        if not all(isinstance(e, str) for e in node.exprs):
            return None  # structured/expression-object projections: bail
        child = node.inputs[0]
        filt = None
        if isinstance(child, ir.Filter):
            filt, scan = child, child.inputs[0]
        else:
            scan = child
        for mv in self.mvs.values():
            if not mv.spf or mv.table != scan.table or mv.spf_columns is None:
                continue  # full-column tiles already fired at the Filter node
            needed = set()
            for e in node.exprs:
                needed |= _expr_cols(e)
            if filt is not None:
                needed |= _expr_cols(filt.condition)
            if not needed <= set(mv.spf_columns):
                continue
            if filt is None:
                if mv.filter_condition is not None:
                    continue  # tile misses rows the query wants
                if not self._base_current(mv, catalog):
                    continue  # stale slice: refuse, serve from base
                return node.with_inputs((self._spf_scan(mv),))
            repl = self._spf_range_rewrite(filt.condition, mv, catalog)
            if repl is not None:
                if not self._base_current(mv, catalog):
                    continue  # stale slice: refuse, serve from base
                return node.with_inputs((repl,))
        return None


def _tile_bytes(path: str) -> int:
    """On-disk size of a tile's parquet directory — the cost signal for
    choosing among competing matching tiles. Unknown/missing paths cost
    MAX so a registration-order tie-break still wins over them."""
    import os

    try:
        total = 0
        for root, _dirs, files in os.walk(path):
            for f in files:
                if not f.startswith((".", "_")):
                    total += os.path.getsize(os.path.join(root, f))
        return total if total > 0 else 2**62
    except OSError:
        return 2**62


def _tile_only(rewritten, mv) -> bool:
    """True when every Scan in a rewritten subtree reads the tile
    itself — the containment/exact tiers. Union compensation scans the
    base fact residual and drill-across re-joins dim tables; both cost
    more than their tile bytes alone (ADVICE r10), so the candidate
    sort ranks them behind pure tile reads."""
    stack = [rewritten]
    while stack:
        n = stack.pop()
        stack.extend(n.inputs)
        if isinstance(n, ir.Scan) and n.table != mv.name:
            return False
    return True


# grain-edge tier (r11): a tile key of this shape makes raw-column
# ranges servable with edge partials. Input column must be PLAIN (a
# nested expression's alignment equivalence would need its own proof).
_TRUNC_KEY_RE = re.compile(
    r"(?is)^\s*date_trunc\s*\(\s*'(\w+)'\s*,\s*([A-Za-z_]\w*)\s*\)"
    r"\s+AS\s+[A-Za-z_]\w*\s*$"
)

# EXTRACT-form grouping keys (r13): `EXTRACT(YEAR FROM col) AS a` or
# `year(col) AS a` — groups 1/2 for the EXTRACT spelling, 3/4 for the
# function spelling, 5 the alias.
_EXTRACT_KEY_RE = re.compile(
    r"(?is)^\s*(?:EXTRACT\s*\(\s*(\w+)\s+FROM\s+([A-Za-z_]\w*)\s*\)"
    r"|(\w+)\s*\(\s*([A-Za-z_]\w*)\s*\))"
    r"\s+AS\s+([A-Za-z_]\w*)\s*$"
)

# Spellings → canonical field. Covers Spark's EXTRACT field names and
# the standalone function names; anything else refuses (the function
# whitelist IS the proof obligation — an unknown f(col) has no
# f(date_trunc(g, x)) == f(x) guarantee).
_EXTRACT_FIELD_CANON = {
    "year": "year", "years": "year", "yr": "year", "yrs": "year",
    "yearofweek": "yearofweek", "isoyear": "yearofweek",
    "quarter": "quarter", "qtr": "quarter",
    "month": "month", "months": "month", "mon": "month", "mons": "month",
    "week": "week", "weeks": "week", "weekofyear": "week", "w": "week",
    "day": "day", "days": "day", "d": "day", "dayofmonth": "day",
    "dayofweek": "dayofweek", "dayofweek_iso": "dayofweek",
    "dow": "dayofweek", "dow_iso": "dayofweek", "weekday": "dayofweek",
    "dayofyear": "dayofyear", "doy": "dayofyear",
    "hour": "hour", "hours": "hour",
}

# Field → tile grains that PRESERVE it: f(date_trunc(g, x)) == f(x).
# year/quarter/month exclude week tiles (a week straddles month and
# year boundaries); day-level fields need day-or-finer keys; week and
# yearofweek survive the week truncation (ISO weeks run Mon–Sun and
# Spark's date_trunc('week') is the Monday).
_EXTRACT_SAFE_GRAINS = {
    "year": {"year", "quarter", "month", "day", "hour"},
    "quarter": {"quarter", "month", "day", "hour"},
    "month": {"month", "day", "hour"},
    "week": {"week", "day", "hour"},
    "yearofweek": {"week", "day", "hour"},
    "day": {"day", "hour"},
    "dayofweek": {"day", "hour"},
    "dayofyear": {"day", "hour"},
    "hour": {"hour"},
}


def _parse_ts(iso: str):
    """Canonical ISO text (the _parse_lit 'date' kind) → datetime, or
    None. Fractional seconds refuse: the half-open boundary arithmetic
    below renders whole-second literals."""
    from datetime import datetime

    for fmt in ("%Y-%m-%d %H:%M:%S", "%Y-%m-%d"):
        try:
            return datetime.strptime(iso, fmt)
        except ValueError:
            continue
    return None


def _ts_sql(dt) -> str:
    return f"TIMESTAMP '{dt.strftime('%Y-%m-%d %H:%M:%S')}'"


def _grain_floor(grain: str, dt):
    """Largest grain boundary <= dt. Week = Monday start, matching
    Spark's date_trunc('week')."""
    from datetime import timedelta

    if grain == "year":
        return dt.replace(month=1, day=1, hour=0, minute=0, second=0, microsecond=0)
    if grain == "quarter":
        return dt.replace(
            month=dt.month - (dt.month - 1) % 3,
            day=1, hour=0, minute=0, second=0, microsecond=0,
        )
    if grain == "month":
        return dt.replace(day=1, hour=0, minute=0, second=0, microsecond=0)
    if grain == "week":
        return dt.replace(
            hour=0, minute=0, second=0, microsecond=0
        ) - timedelta(days=dt.weekday())
    if grain == "day":
        return dt.replace(hour=0, minute=0, second=0, microsecond=0)
    if grain == "hour":
        return dt.replace(minute=0, second=0, microsecond=0)
    raise ValueError(grain)


_GRAIN_SNAP = {"year", "quarter", "month", "week", "day", "hour"}

# grain-hierarchy nesting (r12): G is servable from g iff every
# G-boundary is a g-boundary — week nests nothing above day
_GRAIN_COARSER_OF = {
    "hour": {"day", "week", "month", "quarter", "year"},
    "day": {"week", "month", "quarter", "year"},
    "month": {"quarter", "year"},
    "quarter": {"year"},
    "week": set(),
}


def _grain_ceil(grain: str, dt):
    """Smallest grain boundary >= dt."""
    from datetime import timedelta

    f = _grain_floor(grain, dt)
    if f == dt:
        return dt
    if grain == "hour":
        return f + timedelta(hours=1)
    if grain == "day":
        return f + timedelta(days=1)
    if grain == "week":
        return f + timedelta(days=7)
    step = {"year": 12, "quarter": 3, "month": 1}[grain]
    m = f.month - 1 + step
    return f.replace(year=f.year + m // 12, month=m % 12 + 1)


def _grain_slice_ok(region_entry, group_keys) -> bool:
    """May this filter_condition column slice a tile even though it is
    NOT a group key? Yes iff it is the INPUT of a date_trunc group key
    and its interval bounds are GRAIN-ALIGNED and half-open — then the
    alignment equivalence (date_trunc(g, col) >= B ⟺ col >= B) makes
    the slice expressible in the tile's own key space, and the
    grain-edge tier can prove containment/escape against it (r11: the
    hot-months tile). Unaligned or closed bounds refuse — the tile
    would hold partial periods no prover could reason about."""
    col, (kind, iv) = region_entry
    if kind != "date":
        return False
    grain = None
    for k in group_keys:
        m = _TRUNC_KEY_RE.match(k)
        # case-insensitive column compare (ADVICE r12, same as above)
        if m and _norm(m.group(2)) == _norm(col):
            grain = m.group(1).lower()
            break
    if grain is None or grain not in _GRAIN_SNAP:
        return False
    if iv.lo is not None:
        lo = _parse_ts(iv.lo[0])
        if lo is None or not iv.lo_incl or _grain_floor(grain, lo) != lo:
            return False
    if iv.hi is not None:
        hi = _parse_ts(iv.hi[0])
        if hi is None or iv.hi_incl or _grain_floor(grain, hi) != hi:
            return False
    return iv.lo is not None or iv.hi is not None


def _norm(expr: str) -> str:
    """Whitespace/case-insensitive normalization OUTSIDE single-quoted
    string literals; literal content is DATA and compares verbatim
    (review r10: folding inside literals false-matched
    date_format(d, 'yyyyMM') with date_format(d, 'yyyymm') — two
    different grains — and the tile silently served the wrong one)."""
    parts = re.split(r"('(?:[^']|'')*')", expr)
    return "".join(
        p if i % 2 else re.sub(r"\s+", "", p).lower()
        for i, p in enumerate(parts)
    )


_SQL_WORDS = {
    "AND", "OR", "NOT", "IN", "BETWEEN", "LIKE", "IS", "NULL",
    "TRUE", "FALSE", "TIMESTAMP", "DATE", "INTERVAL", "CAST",
    "AS", "INT", "BIGINT", "DOUBLE", "STRING", "DECIMAL", "FLOAT",
    "CASE", "WHEN", "THEN", "ELSE", "END", "DISTINCT", "ASC", "DESC",
}


def _expr_cols(expr: str) -> set:
    """Column identifiers referenced by a SQL expression string:
    literals stripped, function-call names and a trailing output alias
    removed, keywords excluded. Conservative — an unrecognized keyword
    reads as a column and simply disqualifies a rewrite."""
    s = re.sub(r"\s+AS\s+[A-Za-z_]\w*\s*$", "", expr, flags=re.I)
    s = re.sub(r"'[^']*'", "", s)
    s = re.sub(r"\b[A-Za-z_]\w*\s*\(", "(", s)  # drop function names
    return {
        i
        for i in re.findall(r"[A-Za-z_]\w*", s)
        if i.upper() not in _SQL_WORDS and not i.isdigit()
    }


def _column_nulls(catalog, table: str, col: str):
    """ANALYZE-recorded NULL count for table.col, or None when no
    grounded stats exist (callers treat None as 'cannot prove')."""
    entry = catalog.tables.get(table)
    if entry is None or not entry.stats:
        return None
    c = entry.stats.get("columns", {}).get(col)
    return None if c is None else c.get("nulls")


# ---------------------------------------------------------------------
# Lattice-lite ≈ materialize/Lattice.java + TileSuggester: given a fact
# table and dimension columns, build the tiles worth materializing.
# ---------------------------------------------------------------------


@dataclass
class _ShapeStat:
    """One observed aggregate query shape: single-table (table, keys,
    calls) or star-join (tables, edges, keys, calls — r10, the
    hypergraph LatticeSuggester.java builds from observed query
    joins)."""

    table: str
    group_keys: tuple
    agg_calls: tuple
    count: int = 0
    tables: tuple = ()  # () = single-table shape
    join_edges: frozenset = frozenset()
    # raw date columns the observed queries RANGE-filter on (r11): the
    # suggester adds a month-truncation key for them so the auto-built
    # tile serves the filtered corpus through the grain-edge tier
    filter_cols: set = field(default_factory=set)
    # per-column slice evidence (r12, hot-months slices): col ->
    # [lowest observed lower bound (datetime) or None once any
    # observation ranged unbounded-below, count of observations that
    # DID bound the column]. suggest() proposes a slice only when the
    # bounded count equals the shape's TOTAL observation count — an
    # unfiltered (or unparseable-filter) observation of the same shape
    # must poison the slice exactly like an unbounded one, or the tile
    # could not serve part of its own corpus (r12 review)
    filter_lo: dict = field(default_factory=dict)
    # per-column NARROWEST observed fully-bounded range width (r12,
    # grain selection): a "last 7 days" dashboard can never be served
    # by a month tile (no whole period inside the range), so suggest()
    # drops to a day-grain key when the corpus's narrowest range is
    # under ~2 months — day grain serves every range month grain can
    # (month boundaries are day-aligned), at more tile rows, which the
    # benefit gate still bounds
    filter_span: dict = field(default_factory=dict)
    # per-column week-alignment evidence (r13, verdict item 6): True
    # while EVERY observed bound on the column is a Monday midnight —
    # a weekly-dashboard corpus (7–61-day week-aligned ranges) then
    # gets a WEEK tile, ~7× smaller than the day tile it got before.
    # One unaligned bound poisons the pick back to day (day serves
    # every week-aligned range too; the reverse does not hold).
    filter_wk: dict = field(default_factory=dict)


class LatticeSuggester:
    """Query-CORPUS lattice suggester ≈ materialize/LatticeSuggester.java
    + TileSuggester.java: instead of hand-declared lattices, record every
    substitutable aggregate shape that flows through the planner
    (BoundProgram.run observes when a suggester is attached to the
    catalog), then propose tiles from observation frequency — the union
    of observed group keys per table is the finest covering tile, so any
    recorded query (and any coarser rollup) is answerable from it via the
    rollup-compensation rewrite. auto_build() materializes proposals,
    making the MV layer self-tuning end-to-end.

    Scale note: the tile is aggregated once per build over the fact
    table; every subsequent matching query reads the tile (usually 3-6
    orders of magnitude smaller). Observation itself is plan-time only —
    zero executor cost."""

    def __init__(self):
        self.shapes: dict[tuple, _ShapeStat] = {}
        # benefit-gate audit trail (r11): one dict per auto_build
        # proposal — built or declined, with the row estimates that
        # decided it (≈ the Lattice.tiles the TileSuggester's
        # cost-based algorithm accepted vs declined)
        self.decisions: list[dict] = []

    def attach(self, catalog) -> "LatticeSuggester":
        catalog.lattice_suggester = self
        return self

    # -- recording -----------------------------------------------------

    @staticmethod
    def _record_calls(agg_calls) -> tuple:
        """Normalize observed aggregate calls for recording: liftable
        calls verbatim; derived aggregates (AVG/VAR/STDDEV) as their
        SUFFICIENT STATISTICS (r9) — a corpus full of AVG queries then
        suggests a SUM+COUNT tile the derived mapper can serve."""
        norm_calls = []
        for c in agg_calls:
            if parse_agg_call(c):
                norm_calls.append(c)
                continue
            dm = _DERIVED_RE.match(c)
            if dm is None:
                continue  # unrecordable call: skip it, keep the rest
            fn = dm.group(1).upper()
            arg = re.sub(r"\s+", " ", dm.group(2))
            if arg.upper().startswith("DISTINCT") or not _paren_balanced(arg):
                continue
            norm_calls.append(f"SUM({arg}) AS s")
            norm_calls.append(f"COUNT({arg}) AS c")
            if fn != "AVG":
                norm_calls.append(f"SUM({_square_arg(arg)}) AS q")
        return tuple(sorted(set(norm_calls)))

    def observe(self, plan: ir.RelNode) -> None:
        stack = [plan]
        while stack:
            n = stack.pop()
            stack.extend(n.inputs)
            if not (isinstance(n, ir.Aggregate) and n.group_type == "SIMPLE"):
                continue
            child = n.inputs[0]
            fcols: set = set()
            flos: dict = {}
            fspans: dict = {}
            fwks: dict = {}
            if isinstance(child, ir.Filter):
                # DATE columns in a conjunctive region are the
                # grain-edge-servable shape — record them so suggest()
                # can add their month key to the proposal (r11; extra
                # non-date conjuncts compensate as plain tile keys).
                # Their observed LOWER bounds feed the hot-months slice
                # proposal (r12): None = this query ranged
                # unbounded-below, poisoning the slice
                region = _parse_region(child.condition)
                if region is not None:
                    for c, (kind, iv) in region.items():
                        if kind != "date":
                            continue
                        fcols.add(c)
                        lo = _parse_ts(iv.lo[0]) if iv.lo is not None else None
                        hi = _parse_ts(iv.hi[0]) if iv.hi is not None else None
                        flos[c] = lo
                        if lo is not None and hi is not None:
                            fspans[c] = hi - lo
                        # week-alignment evidence (r13 verdict item 6:
                        # the vacuous all() marked every bound-free
                        # query "aligned"; the span gate masked it, but
                        # the two lived apart and could drift): a bound
                        # that exists and parses votes on alignment; a
                        # bound that exists but does NOT parse votes
                        # False (alignment unverifiable — never guess
                        # a 7x-coarser tile); a genuinely unbounded
                        # side contributes no vote.
                        votes = []
                        if iv.lo is not None:
                            votes.append(
                                lo is not None
                                and _grain_floor("week", lo) == lo
                            )
                        if iv.hi is not None:
                            votes.append(
                                hi is not None
                                and _grain_floor("week", hi) == hi
                            )
                        if votes:
                            fwks[c] = all(votes)
                child = child.inputs[0]
            keys = tuple(sorted(n.group_keys))
            calls = self._record_calls(n.agg_calls)
            if not keys or not calls:
                continue
            if isinstance(child, ir.Scan):
                # single-table shapes record plain-column AND
                # `expr AS alias` keys (r10 — the tile layer now stores
                # and substitutes expression keys, so a corpus of
                # date_trunc month rollups suggests the month tile);
                # anything else (bare expressions) bails
                if not all(_valid_group_key(k) for k in keys):
                    continue
                key = (child.table, keys, calls)
                st = self.shapes.setdefault(
                    key, _ShapeStat(child.table, keys, calls)
                )
                st.count += 1
                st.filter_cols |= fcols
                self._merge_filter_lo(st, flos)
                self._merge_filter_span(st, fspans)
                self._merge_filter_wk(st, fwks)
                continue
            # join shapes accept the same keys the single-table branch
            # does — plain columns or `expr AS alias` (r11, ≈ the
            # DerivedColumn members Lattice.java:751 registers so a
            # corpus of date_trunc star queries suggests the
            # month-grain star tile); define_join stores and serves
            # expression keys since r10, so the only remaining gate is
            # validity (alias-shadow refusal lives in _join_plan_for,
            # where the table set is known)
            if not all(_valid_group_key(k) for k in keys):
                continue
            # star-join shapes (r10, verdict item 3 ≈ the hypergraph
            # materialize/LatticeSuggester.java grows from observed
            # query JOIN graphs): an aggregate over an INNER equi-join
            # tree records (table set, edge set, keys, calls) so
            # auto_build can propose the join tiles the substitution
            # tier (qx36/qx44) already knows how to serve
            ext = extract_join_subtree(child)
            if ext is None or not ext[1]:
                continue
            tables, edges = ext
            key = (tuple(sorted(tables)), edges, keys, calls)
            st = self.shapes.setdefault(
                key,
                _ShapeStat(
                    "", keys, calls,
                    tables=tuple(sorted(tables)), join_edges=edges,
                ),
            )
            st.count += 1
            st.filter_cols |= fcols
            self._merge_filter_lo(st, flos)
            self._merge_filter_span(st, fspans)
            self._merge_filter_wk(st, fwks)

    @staticmethod
    def _merge_filter_span(st: _ShapeStat, fspans: dict) -> None:
        for c, span in fspans.items():
            cur = st.filter_span.get(c)
            st.filter_span[c] = span if cur is None else min(cur, span)

    @staticmethod
    def _merge_filter_wk(st: _ShapeStat, fwks: dict) -> None:
        for c, ok in fwks.items():
            st.filter_wk[c] = st.filter_wk.get(c, True) and ok

    @staticmethod
    def _merge_filter_lo(st: _ShapeStat, flos: dict) -> None:
        for c, lo in flos.items():
            cur = st.filter_lo.setdefault(c, [lo, 0])
            if lo is None or cur[0] is None:
                cur[0] = None
            else:
                cur[0] = min(cur[0], lo)
            if lo is not None:
                cur[1] += 1

    # -- proposing -----------------------------------------------------

    def suggest(self, min_count: int = 2, max_tiles: int = 3) -> list[dict]:
        """Proposals grouped per table (single-table shapes) or per
        (table set, edge set) star (join shapes, r10), most-observed
        first. group_keys = union of observed keys; agg_calls = union of
        observed aggregate (fn, arg) pairs with canonical aliases (the
        rewrite matches on (fn, normalized arg), not alias)."""
        grouped: dict[tuple, list[_ShapeStat]] = {}
        for st in self.shapes.values():
            g = (st.tables, st.join_edges) if st.tables else (st.table,)
            grouped.setdefault(g, []).append(st)
        proposals = []
        for g, stats in grouped.items():
            total = sum(s.count for s in stats)
            if total < min_count:
                continue
            # union keys by NORMALIZED text (expression keys differing
            # only in whitespace/case fuse); if two shapes bind the
            # same alias to DIFFERENT expressions the fused tile would
            # have duplicate output names — refuse the proposal, never
            # let auto_build crash in define()
            seen_keys: dict[str, str] = {}
            for s in stats:
                for k in s.group_keys:
                    seen_keys.setdefault(_norm(k), k)
            keys = sorted(seen_keys.values())
            # EXTRACT-form observed keys (r13): a corpus grouping by
            # YEAR(col) / EXTRACT(MONTH FROM col) proposes the
            # date_trunc key at the finest grain the observed fields
            # need (year/quarter/month → month; week → week;
            # day-level fields → day; hour → hour) — the tile then
            # serves the WHOLE field family through the r13
            # derivation tier (year(month_key) == year(col)), not just
            # the one observed spelling. The derived key replaces the
            # extract key (keeping both would store redundant columns:
            # the trunc key determines every coarser field). Non-date
            # expressions and unknown functions pass through unchanged.
            ex_grain = {
                "year": "month", "quarter": "month", "month": "month",
                "week": "week", "yearofweek": "week",
                "day": "day", "dayofweek": "day", "dayofyear": "day",
                "hour": "hour",
            }
            mapped = []
            for k in keys:
                em = _EXTRACT_KEY_RE.match(k)
                canon = (
                    _EXTRACT_FIELD_CANON.get(
                        (em.group(1) or em.group(3)).lower()
                    )
                    if em is not None
                    else None
                )
                if canon is None or canon not in ex_grain:
                    mapped.append(k)
                    continue
                col = (em.group(2) or em.group(4)).strip()
                exg = ex_grain[canon]
                derived = f"date_trunc('{exg}', {col}) AS {col}_{exg}"

                # dedup on the EXPRESSION, not the full key text (r13
                # review: an observed `date_trunc('month', d) AS mo`
                # norm-differs from the derived `... AS d_month` only
                # by alias — storing both would duplicate the column)
                def _expr_of(k):
                    m2 = _KEY_ALIAS_RE.match(k)
                    return _norm(m2.group(1) if m2 else k)

                if not any(
                    _expr_of(derived) == _expr_of(m2)
                    for m2 in mapped + keys
                ):
                    mapped.append(derived)
            # dedup after mapping (two extract fields of one column
            # collapse onto one trunc key)
            keys = sorted({_norm(k): k for k in mapped}.values())
            # month keys for observed DATE-range filter columns (r11):
            # the auto-built tile then serves the FILTERED corpus too,
            # through the grain-edge tier — whole months from the tile,
            # edge slivers from the base. Month is the canonical BI
            # grain; the benefit gate still measures the enlarged
            # grain's joint NDV and declines when it nears the fact's.
            # Skip a column any observed key already references (the
            # corpus's own truncation wins), and skip alias collisions.
            referenced = set()
            for k in keys:
                referenced |= {k} if _plain_key(k) else _expr_cols(k)
            trunc_cols = []  # (col, chosen grain) — slice candidates
            for c in sorted({c for s2 in stats for c in s2.filter_cols}):
                # grain selection (r12): the LARGEST grain whose whole
                # period fits inside the corpus's narrowest
                # fully-bounded range — a tile can only serve ranges
                # that contain at least one whole period, so month (the
                # canonical BI grain) drops to day for "last 7 days"
                # corpora and to hour for intraday ones. Finer grains
                # serve every range a coarser one can (period
                # boundaries nest), at more tile rows, still bounded
                # by the benefit gate.
                spans = [
                    s2.filter_span[c] for s2 in stats
                    if s2.filter_span.get(c) is not None
                ]
                narrowest = min(spans) if spans else None
                wk_ok = all(
                    s2.filter_wk.get(c, True) for s2 in stats
                )
                if narrowest is None or narrowest.days >= 62:
                    grain = "month"
                elif narrowest.days >= 7 and wk_ok:
                    # weekly-dashboard corpus (r13, verdict item 6):
                    # every observed bound is a Monday midnight and the
                    # narrowest range holds at least one whole week —
                    # the week tile is ~7× smaller than the day tile
                    # and the week grain-edge tier (r11) serves it.
                    # Any unaligned bound falls back to day, which
                    # serves week-aligned ranges too (the reverse does
                    # not hold: week tiles cannot split a week).
                    grain = "week"
                elif narrowest.total_seconds() >= 2 * 86400:
                    grain = "day"
                else:
                    grain = "hour"
                alias = f"{c}_{grain}"
                derived = f"date_trunc('{grain}', {c}) AS {alias}"
                if c in referenced or alias in {
                    _key_alias(k) for k in keys
                }:
                    continue
                keys.append(derived)
                trunc_cols.append((c, grain))
            keys = sorted(keys)
            # hot SLICE proposal (r12, verdict item 3 — the
            # "materialize one year, not the history" economics,
            # beyond-reference): when every observation of EVERY shape
            # in the group bounded the truncation column below, the
            # corpus's own evidence bounds the tile — slice at the
            # tile-grain floor of the lowest observed lo. Queries
            # below the slice still answer via the grain-edge
            # slice-escape path (base scan of the cold range). One
            # observation ranging unbounded-below, one shape never
            # filtering the column, or one filter that didn't parse
            # all keep the tile unsliced: a slice that cannot serve
            # the whole corpus is no self-tuning at all.
            slice_conds = []
            for c, grain in trunc_cols:
                los = []
                for s2 in stats:
                    e = s2.filter_lo.get(c)
                    if e is None or e[0] is None or e[1] < s2.count:
                        los = None
                        break
                    los.append(e[0])
                if los is None:
                    continue
                # floor at the TILE's grain (r12 review: a day tile
                # month-floored its slice, storing up to ~30 cold days
                # per dimension combination the corpus never asked for)
                slice_lo = _grain_floor(grain, min(los))
                slice_conds.append(f"{c} >= {_ts_sql(slice_lo)}")
            filter_condition = " AND ".join(slice_conds) or None
            aliases = [_key_alias(k) for k in keys]
            if len(set(aliases)) != len(aliases):
                continue
            seen_calls: dict[tuple, str] = {}
            for s in stats:
                for call in s.agg_calls:
                    fn, arg, _alias = parse_agg_call(call)
                    if fn == "APPROX_PERCENTILE":
                        # one KLL sketch serves every percentile of a
                        # value expression — key the union on the value
                        # alone (r12, same class as the ADVICE-r11 DDL
                        # dedup: a p50+p99 corpus used to propose two
                        # identical physical sketches)
                        pp = _percentile_parts(arg)
                        key = (fn, _norm(pp[0]) if pp else _norm(arg))
                    else:
                        key = (fn, _norm(arg))
                    seen_calls.setdefault(key, f"{fn}({arg})")
            calls = [
                f"{sql} AS m{i}" for i, sql in enumerate(sorted(seen_calls.values()))
            ]
            p = {
                "group_keys": keys,
                "agg_calls": calls,
                "observations": total,
                "filter_condition": filter_condition,
            }
            if len(g) == 2:
                p["tables"], p["join_edges"] = list(g[0]), sorted(g[1])
                p["table"] = None
            else:
                p["table"] = g[0]
            proposals.append(p)
        proposals.sort(key=lambda p: -p["observations"])
        return proposals[:max_tiles]

    # -- building ------------------------------------------------------

    @staticmethod
    def _join_plan_for(catalog, proposal):
        """Reconstruct a left-deep defining plan for a join proposal:
        anchor at the table owning the most edges (the star hub), then
        attach each remaining table through the edges whose other side
        is already placed (≈ Lattice.Builder walking the hypergraph's
        spanning tree). Returns (plan, fact) or None when a table
        cannot attach (disconnected edge set) or column ownership is
        ambiguous."""
        from calcite_spark.plans.builder import RelBuilder

        tables, edges = proposal["tables"], list(proposal["join_edges"])
        owner = {}
        for t in tables:
            for c in catalog.table(t).columns:
                if c in owner:
                    return None  # ambiguous namespace
                owner[c] = t
        for k in proposal["group_keys"]:
            # expression keys (r11): the alias must not shadow a base
            # column of any joined table — define_join refuses that
            # shape (ambiguous to the compensation tiers), so the
            # suggester skips the proposal instead of crashing
            # auto_build
            if not _plain_key(k) and _key_alias(k) in owner:
                return None

        def edge_count(t):
            return sum(1 for a, b in edges if owner.get(a) == t or owner.get(b) == t)

        def row_count(t):
            # grounded tie-break (review r10): the fact anchor decides
            # which side's appends the refresh can delta-join, so pick
            # the LARGER table — ANALYZE stats when present, else one
            # count() (an auto_build already scans every table to build
            # the tile, so this adds no asymptotic cost)
            entry = catalog.tables.get(t)
            if entry is not None and entry.row_count:
                return entry.row_count
            return catalog.table(t).count()

        fact = max(
            sorted(tables), key=lambda t: (edge_count(t), row_count(t))
        )
        placed, pending = {fact}, [t for t in sorted(tables) if t != fact]
        pending_e = list(edges)
        b = RelBuilder(catalog)
        b.scan(fact)
        while pending:
            progress = False
            for t in list(pending):
                usable = [
                    e for e in pending_e
                    if (owner.get(e[0]) == t and owner.get(e[1]) in placed)
                    or (owner.get(e[1]) == t and owner.get(e[0]) in placed)
                ]
                if not usable:
                    continue
                b.scan(t)
                b.join(" AND ".join(f"{a} = {c}" for a, c in usable))
                for e in usable:
                    pending_e.remove(e)
                placed.add(t)
                pending.remove(t)
                progress = True
            if not progress:
                return None  # disconnected: would need a cross join
        if pending_e:
            return None  # leftover edge between placed tables missed
        b.aggregate(list(proposal["group_keys"]), list(proposal["agg_calls"]))
        return b.build(), fact

    # -- benefit estimation (r11, ≈ materialize/TileSuggester.java's
    # cost-based algorithm over a StatisticsProvider: decline tiles
    # whose grain is nearly the fact's — all build cost, no read
    # benefit) ----------------------------------------------------------

    @staticmethod
    def _key_ndv(catalog, key: str, tables) -> int | None:
        """Grounded NDV estimate for one group key: ANALYZE stats for
        plain columns when present, else one approx_count_distinct over
        the OWNING table (expression keys evaluate the expression on
        the single table that owns every referenced column). None =
        cannot ground (multi-table expression) — the caller treats
        that as fact grain and declines, the same refuse-over-guess
        posture as the transpose NDV gates."""
        if _plain_key(key):
            expr, idents = key, {key}
        else:
            expr = _KEY_ALIAS_RE.match(key).group(1)
            idents = _expr_cols(expr)
            if not idents:
                return 1  # constant expression: one group
        owners = [
            t for t in tables if idents <= set(catalog.table(t).columns)
        ]
        if not owners:
            return None
        t = owners[0]
        if _plain_key(key):
            entry = catalog.tables.get(t)
            if entry is not None and entry.stats:
                c = entry.stats.get("columns", {}).get(key)
                if c is not None and c.get("ndv"):
                    return c["ndv"]
        return (
            catalog.table(t)
            .selectExpr(f"approx_count_distinct({expr}) AS n")
            .collect()[0]["n"]
        )

    def _estimate_benefit(self, catalog, proposal) -> tuple:
        """(estimated_tile_rows, fact_rows): when every group key lives
        on ONE table, tile rows = the JOINT key-tuple NDV measured with
        a single approx_count_distinct(struct(...)) scan — correlated
        keys (year + month of the same date) estimate correctly, the
        sampling-free analog of the reference's MonteCarloAlgorithm
        over a StatisticsProvider. Keys spread across tables fall back
        to the product of per-key NDVs capped at fact rows (an upper
        bound — overestimates correlated cross-table keys, declining a
        good tile at worst, never building a bad one). fact rows = the
        largest joined table (the star hub anchors the grain). None
        tile rows = a key could not be grounded.

        Probe batching (r14, guide §1.2 "don't compute things twice" /
        §2.4 fewer passes): all NDV probes that land on one table run
        as ONE approx_count_distinct scan of that table (HLL sketches
        are independent aggregates — batched values are identical to
        solo probes), and that scan also carries count(1) when the
        table's row count is not yet grounded, so the separate count()
        job disappears. Per auto_build proposal this folds up to
        (keys + tables) jobs into one job per owning table; at scale,
        one pass per table instead of one per key."""
        tables = (
            proposal["tables"]
            if proposal["table"] is None
            else [proposal["table"]]
        )

        def rows_known(t):
            entry = catalog.tables.get(t)
            return entry is not None and bool(
                entry.row_count
                or (entry.stats and entry.stats.get("rows"))
            )

        def rows(t):
            entry = catalog.tables.get(t)
            if entry is not None and entry.row_count:
                return entry.row_count
            if entry is not None and entry.stats and entry.stats.get("rows"):
                return entry.stats["rows"]
            return catalog.row_count(t)

        def probe(t, items):
            """One scan of t computing every pending NDV for it; piggy-
            backs count(1) when t's row count is ungrounded and caches
            it on the TableEntry (same in-run memo catalog.row_count
            keeps)."""
            exprs = [
                f"approx_count_distinct({expr}) AS n{i}" for i, expr in items
            ]
            carry_rows = not rows_known(t) and catalog.tables.get(t) is not None
            if carry_rows:
                exprs.append("count(1) AS __rows")
            row = catalog.table(t).selectExpr(*exprs).collect()[0]
            if carry_rows:
                catalog.tables[t].row_count = row["__rows"]
            return {i: row[f"n{i}"] for i, _ in items}

        key_exprs, key_idents = [], []
        for k in proposal["group_keys"]:
            if _plain_key(k):
                key_exprs.append(k)
                key_idents.append({k})
            else:
                expr = _KEY_ALIAS_RE.match(k).group(1)
                key_exprs.append(expr)
                key_idents.append(_expr_cols(expr))
        all_idents = set().union(*key_idents) if key_idents else set()
        joint_owner = [
            t for t in tables
            if all_idents and all_idents <= set(catalog.table(t).columns)
        ]
        if joint_owner:
            # ANALYZE-stats grounding (r15, VERDICT item 8): a single
            # plain-column key's joint NDV IS its column NDV — when the
            # owning table carries ANALYZE stats for it, the scan probe
            # is pure redundancy. Multi-key proposals still probe: the
            # joint struct NDV accounts for key correlation, which
            # per-column stats cannot (product would over-estimate and
            # wrongly decline correlated tiles).
            if len(key_exprs) == 1 and _plain_key(proposal["group_keys"][0]):
                entry = catalog.tables.get(joint_owner[0])
                if entry is not None and entry.stats:
                    c = entry.stats.get("columns", {}).get(key_exprs[0])
                    if c is not None and c.get("ndv"):
                        fact_rows = max(rows(t) for t in tables)
                        return min(max(c["ndv"], 1), fact_rows), fact_rows
            joint = probe(
                joint_owner[0],
                [(0, "struct(" + ", ".join(key_exprs) + ")")],
            )[0]
            fact_rows = max(rows(t) for t in tables)
            return min(max(joint, 1), fact_rows), fact_rows
        # fallback: per-key NDVs, probes batched per owning table.
        # Grounding rules are _key_ndv's verbatim: constant expression
        # -> 1; ANALYZE ndv for plain columns; no owning table -> None
        # (refuse-over-guess); owner = first owning table in proposal
        # order.
        ndvs: list = [None] * len(proposal["group_keys"])
        pending: dict = {}
        for i, k in enumerate(proposal["group_keys"]):
            idents = key_idents[i]
            if not _plain_key(k) and not idents:
                ndvs[i] = 1
                continue
            owners = [
                t for t in tables if idents <= set(catalog.table(t).columns)
            ]
            if not owners:
                return None, max(rows(t) for t in tables)
            t = owners[0]
            if _plain_key(k):
                entry = catalog.tables.get(t)
                if entry is not None and entry.stats:
                    c = entry.stats.get("columns", {}).get(k)
                    if c is not None and c.get("ndv"):
                        ndvs[i] = c["ndv"]
                        continue
            pending.setdefault(t, []).append((i, key_exprs[i]))
        for t, items in pending.items():
            for i, n in probe(t, items).items():
                ndvs[i] = n
        fact_rows = max(rows(t) for t in tables)
        est = 1
        for ndv in ndvs:
            est *= max(ndv, 1)
            if est >= fact_rows:
                return fact_rows, fact_rows
        return min(est, fact_rows), fact_rows

    def auto_build(
        self,
        catalog,
        registry: MaterializationRegistry,
        warehouse: str,
        min_count: int = 2,
        max_tiles: int = 3,
        benefit_threshold: float | None = 0.5,
    ) -> list[Materialization]:
        import os

        out = []
        for p in self.suggest(min_count=min_count, max_tiles=max_tiles):
            if benefit_threshold is not None:
                # benefit gate (r11, verdict item 3 ≈
                # TileSuggester.java:47-60 declining near-fact-grain
                # tiles): estimated tile rows must be a documented
                # fraction of the fact's or the proposal is declined —
                # a tile with NDV(keys) ≈ fact rows is all cost, no
                # benefit. Ungroundable keys read as fact grain.
                est, fact_rows = self._estimate_benefit(catalog, p)
                ratio = 1.0 if est is None else est / max(fact_rows, 1)
                decision = {
                    "proposal_keys": list(p["group_keys"]),
                    "tables": p["tables"] if p["table"] is None else [p["table"]],
                    "estimated_tile_rows": est,
                    "fact_rows": fact_rows,
                    "ratio": ratio,
                    "threshold": benefit_threshold,
                    "built": ratio <= benefit_threshold,
                    "filter_condition": p.get("filter_condition"),
                }
                self.decisions.append(decision)
                if not decision["built"]:
                    continue
            if p["table"] is None:
                # star-join proposal (r10): materialize via define_join
                # so the join matcher / FK peel / drill-across tiers
                # serve it. The name carries a stable content hash
                # (ADVICE r10: two-letter prefixes collide across
                # distinct stars or key sets over the same tables, and
                # the name-exists check then silently skipped the later
                # proposal)
                import hashlib

                fact_hint = "_".join(s[:2] for s in p["tables"])
                sig = hashlib.md5(
                    repr(
                        (
                            tuple(p["tables"]),
                            tuple(sorted(p["join_edges"])),
                            tuple(sorted(p["group_keys"])),
                            p.get("filter_condition"),
                        )
                    ).encode()
                ).hexdigest()[:8]
                name = f"lattice_join_{fact_hint}_{sig}"
                if name in registry.mvs:
                    continue
                built = self._join_plan_for(catalog, p)
                if built is None:
                    continue  # unbuildable shape: skip, never crash
                plan, fact = built
                out.append(
                    registry.define_join(
                        catalog, name, plan,
                        os.path.join(warehouse, name), fact=fact,
                        filter_condition=p.get("filter_condition"),
                    )
                )
                continue
            name = f"lattice_{p['table']}_{len(p['group_keys'])}d"
            if p.get("filter_condition"):
                name += "_hot"
            if name in registry.mvs:
                # same name, same KEY SET, same SLICE: the tile already
                # exists. Different key set (r12 review: a month→day
                # grain flip swaps one key for another WITHOUT changing
                # the count) or different slice filter (ADVICE r12: a
                # later corpus whose observed lows extend BELOW an
                # existing _hot slice must not be silently skipped —
                # queries stayed correct via the slice-escape base
                # scan, but the self-tuning benefit stalled) —
                # disambiguate with a content hash over keys AND slice
                # instead of skipping the build the new corpus needs
                ex = registry.mvs[name]
                if {_norm(k) for k in ex.group_keys} == {
                    _norm(k) for k in p["group_keys"]
                } and _norm(ex.filter_condition or "") == _norm(
                    p.get("filter_condition") or ""
                ):
                    continue
                import hashlib

                name += "_" + hashlib.md5(
                    repr(
                        (
                            tuple(sorted(p["group_keys"])),
                            p.get("filter_condition"),
                        )
                    ).encode()
                ).hexdigest()[:6]
                if name in registry.mvs:
                    continue
            base_cols = set(catalog.table(p["table"]).columns)
            if any(
                not _plain_key(k) and _key_alias(k) in base_cols
                for k in p["group_keys"]
            ):
                continue  # derived alias shadows a base column: skip
            out.append(
                registry.define(
                    catalog,
                    name,
                    p["table"],
                    p["group_keys"],
                    p["agg_calls"],
                    os.path.join(warehouse, name),
                    filter_condition=p.get("filter_condition"),
                )
            )
        return out


def suggest_tiles(catalog, table: str, dims: list[str], measures: list[str], max_tiles: int = 4):
    """TileSuggester-style heuristic: estimate each single-dim tile's
    cardinality with approx_count_distinct (≈ profile/ProfilerImpl), pick
    the lowest-cardinality dims first (biggest compression), plus the
    all-dims tile as the drill-down base."""
    df = catalog.table(table)
    cards = (
        df.selectExpr(*[f"approx_count_distinct({d}) AS {d}" for d in dims]).collect()[0].asDict()
    )
    ranked = sorted(dims, key=lambda d: cards[d])
    tiles = [tuple(ranked)]  # finest tile
    for d in ranked:
        if len(tiles) >= max_tiles:
            break
        if (d,) not in tiles:
            tiles.append((d,))
    return {"cardinalities": cards, "tiles": tiles, "measures": measures}


def build_star_lattice(
    catalog,
    registry: MaterializationRegistry,
    fact: str,
    joins: list[tuple],
    dims: list[str],
    measure_calls: list[str],
    warehouse: str,
    declare_fks: bool = True,
) -> Materialization:
    """≈ Lattice.java proper: a STAR-SCHEMA model — fact table joined to
    dimension tables on FK edges — whose tile is the denormalized
    pre-aggregation (Lattice.Builder walks JsonLattice's sql joins;
    TileSuggester picks the tiles). `joins` is [(dim_table, fact_col,
    dim_col), ...]; `dims` are the tile's group-by attributes (fact or
    dimension columns); `measure_calls` are "FN(expr) AS alias" over
    fact columns. Builds ONE finest tile as a join MV via define_join —
    queries grouping by any subset of `dims` over the same star (or,
    with the FK declarations this registers, over a sub-star that drops
    dimensions entirely) are answered from it by the substitution +
    rollup tier.

    100 TB: the tile build is the only pass over the fact table; the
    per-dimension FK edges make the tile answer single-table fact
    queries too (the peel tier), so one materialization serves the
    whole drill-down family."""
    import os

    from calcite_spark.plans.builder import RelBuilder

    b = RelBuilder(catalog)
    b.scan(fact)
    for dim_table, fact_col, dim_col in joins:
        b.scan(dim_table)
        b.join(f"{fact_col} = {dim_col}")
        if declare_fks:
            catalog.declare_foreign_key(fact, fact_col, dim_table, dim_col)
    b.aggregate(list(dims), list(measure_calls))
    plan = b.build()
    name = f"star_{fact}_{len(joins)}j{len(dims)}d"
    return registry.define_join(
        catalog, name, plan, os.path.join(warehouse, name)
    )


def build_lattice(
    catalog,
    registry: MaterializationRegistry,
    table: str,
    dims: list[str],
    measure_calls: list[str],
    warehouse: str,
    max_tiles: int = 3,
) -> list[Materialization]:
    """≈ Lattice.java + TileSuggester end-to-end: suggest tiles, then
    materialize each as an aggregate over the fact table. Queries
    grouping by any subset of a tile's dims are answered from the
    smallest matching tile via the rollup-compensation rewrite."""
    import os

    plan = suggest_tiles(catalog, table, dims, measure_calls, max_tiles=max_tiles)
    out = []
    for tile_dims in plan["tiles"]:
        name = f"tile_{table}_{'_'.join(c.split('_')[-1] for c in tile_dims)}"
        mv = registry.define(
            catalog,
            name,
            table,
            list(tile_dims),
            measure_calls,
            os.path.join(warehouse, name),
        )
        out.append(mv)
    return out
