"""HepPlanner-style rewrite engine ≈ plan/hep/HepPlanner.java +
HepProgramBuilder.java: fixed-point rule application over the IR.

Only rules Catalyst LACKS live here (SURVEY.md §4.2 ❌ rows):
materialized-view substitution (rel/rules/materialize/
MaterializedViewRules.java), broadcast hints from catalog statistics,
ASOF lowering (operators/asof.py registers its own node). Pushdown,
pruning, constant folding, subquery rewrites are intentionally absent —
Catalyst does them on the lowered DataFrame plan.
"""

from __future__ import annotations

import re

from dataclasses import dataclass
from typing import Callable, Optional

from calcite_spark.plans import ir
from calcite_spark.sql import lexer


@dataclass
class Rule:
    """≈ plan/RelOptRule: name + transform(node, catalog) -> node|None."""

    name: str
    transform: Callable
    # top_down rules run in a root-before-children pre-pass each
    # iteration, ahead of the bottom-up visit — for rules that must
    # claim a PARENT pattern before a child-level rule rewrites the
    # pattern's leaves out from under it (MV aggregate tiers vs the
    # SPF slice tier, review r8)
    top_down: bool = False


class HepProgram:
    """Apply rules bottom-up until fixpoint (bounded) ≈ HepPlanner with
    HepMatchOrder.BOTTOM_UP (plus a TOP_DOWN pre-pass for rules that
    request it, ≈ HepMatchOrder.TOP_DOWN)."""

    def __init__(self, rules: list[Rule], max_passes: int = 10):
        self.rules = [r for r in rules if not r.top_down]
        self.td_rules = [r for r in rules if r.top_down]
        self.max_passes = max_passes

    def run(self, plan: ir.RelNode, catalog=None) -> ir.RelNode:
        for _ in range(self.max_passes):
            changed = False

            def visit_td(node):
                nonlocal changed
                for rule in self.td_rules:
                    replaced = rule.transform(node, catalog)
                    if replaced is not None and replaced is not node:
                        changed = True
                        node = replaced
                new_inputs = [visit_td(c) for c in node.inputs]
                if list(new_inputs) != list(node.inputs):
                    node = node.with_inputs(new_inputs)
                return node

            def visit(node):
                nonlocal changed
                for rule in self.rules:
                    replaced = rule.transform(node, catalog)
                    if replaced is not None and replaced is not node:
                        changed = True
                        return replaced
                return None

            if self.td_rules:
                plan = visit_td(plan)
            plan = plan.accept(visit)
            if not changed:
                break
        return plan


# ---------------------------------------------------------------------
# Rules
# ---------------------------------------------------------------------


_BROADCAST_EST_ROWS = 100_000
_BROADCAST_EST_BYTES = 10 << 20  # Spark autoBroadcastJoinThreshold default


def _grounded_filter_estimate(n, mq):
    """Row estimate for a Filter chain over a Scan, or None unless EVERY
    factor is statistics-backed: the base count is exact (cached) and
    each filter's selectivity must come from a real NDV, never from a
    guessSelectivity constant — a guess must not force a broadcast that
    would OOM 1000 executors at 100 TB."""
    if isinstance(n, ir.Scan):
        return mq.row_count(n)
    if isinstance(n, ir.Filter):
        child = _grounded_filter_estimate(n.inputs[0], mq)
        if child is None:
            return None
        sel, grounded = mq._selectivity_detail(n.inputs[0], n.condition)
        return child * sel if grounded else None
    return None


def _broadcast_small_dims(node, catalog):
    """Statistics-driven broadcast hint ≈ Calcite's cost-based join choice
    (EnumerableJoinRule + VolcanoCost rowCount): if one join side scans a
    known-small dimension (region/nation at any SF), force broadcast so a
    1000-executor cluster never shuffles the fact table for it.

    r5 metadata tier (RelMdRowCount as consumer evidence): a FILTERED
    scan qualifies when either its base table is broadcastable anyway,
    or the MetadataQuery estimate of the filtered side is GROUNDED
    (ANALYZE-backed 1/NDV selectivity — see _grounded_filter_estimate)
    and lands under the broadcast threshold. A big table filtered to a
    provably-small slice broadcasts; the same filter without statistics
    does not."""
    if not isinstance(node, ir.Join) or catalog is None:
        return None
    if node.broadcast_left or node.broadcast_right:
        return None
    left, right = node.inputs

    def small_scan(n):
        base = n
        while isinstance(base, ir.Filter) and base.inputs:
            base = base.inputs[0]
        if not isinstance(base, ir.Scan):
            return False
        if catalog.is_broadcastable(base.table):
            return True
        if isinstance(n, ir.Filter):
            from calcite_spark.plans.metadata import MetadataQuery

            mq = MetadataQuery(catalog)
            est = _grounded_filter_estimate(n, mq)
            if est is None or est > _BROADCAST_EST_ROWS:
                return False
            # byte gate ≈ Spark's autoBroadcastJoinThreshold semantics
            # (the real threshold is BYTES): 100k rows of 2 KB documents
            # is a 200 MB broadcast — refuse when the RelMdSize-analog
            # width says the estimate exceeds the byte budget; unknown
            # width falls back to the row cap alone
            width = mq.average_row_size(n)
            return width is None or est * width <= _BROADCAST_EST_BYTES
        return False

    if small_scan(right):
        return ir.Join(
            node.condition, node.join_type, True, False,
            inputs=node.inputs, _hint_from_rule=True,
        )
    if small_scan(left) and node.join_type == "INNER":
        return ir.Join(
            node.condition, node.join_type, False, True,
            inputs=node.inputs, _hint_from_rule=True,
        )
    return None


def _materialized_view_substitute(node, catalog):
    """≈ rel/rules/materialize/MaterializedViewRules + SubstitutionVisitor:
    exact-match and rollup-compensation tiers, implemented by
    plans/materialize.MaterializationRegistry (attached to the catalog by
    define())."""
    registry = getattr(catalog, "mv_registry", None)
    if registry is None:
        return None
    return registry.substitute(node, catalog)


def _materialized_view_spf_substitute(node, catalog):
    """The SPF (raw-row slice / projection-index) tier, split from the
    aggregate tiers so it runs bottom-up AFTER their top-down pre-pass
    (≈ MaterializedViewFilterScanRule / OnlyFilter / OnlyProject)."""
    registry = getattr(catalog, "mv_registry", None)
    if registry is None:
        return None
    return registry.substitute_spf(node, catalog)


# -- transitive predicate inference ----------------------------------

_JOIN_EQ_RE = re.compile(r"^\s*(\w+)\s*=\s*(\w+)\s*$")
_SQL_LIT = r"(?:'(?:[^']|'')*'|-?\d+(?:\.\d+)?(?:[eE]-?\d+)?|DATE\s*'[^']*'|TIMESTAMP\s*'[^']*')"
_LIT_PRED_RE = re.compile(
    rf"^\s*(\w+)\s*(?:=|<=|>=|<|>|<>|!=)\s*{_SQL_LIT}\s*$", re.I
)
_IN_PRED_RE = re.compile(
    rf"^\s*(\w+)\s+IN\s*\(\s*{_SQL_LIT}(?:\s*,\s*{_SQL_LIT})*\s*\)\s*$", re.I
)


def _norm_pred(p: str) -> str:
    return re.sub(r"\s+", " ", p.strip()).lower()


def _subtree_predicates(node) -> list[str]:
    """Literal conjuncts guaranteed to hold on `node`'s output rows:
    Filter conditions met while descending through column-preserving
    nodes. Projects stop the walk (aliases could rename columns out
    from under a predicate); join descent follows null-extension rules
    (a LEFT join preserves its left input's predicates but NULL-extends
    the right, so only the left side is believed, etc.)."""
    out: list[str] = []

    def walk(n):
        if isinstance(n, ir.Filter):
            out.extend(_split_conjuncts(n.condition))
            walk(n.inputs[0])
        elif isinstance(n, (ir.Exchange, ir.Sort)):
            walk(n.inputs[0])
        elif isinstance(n, ir.Join):
            if n.join_type == "INNER":
                walk(n.inputs[0])
                walk(n.inputs[1])
            elif n.join_type in ("LEFT", "SEMI", "ANTI"):
                walk(n.inputs[0])
            elif n.join_type == "RIGHT":
                walk(n.inputs[1])

    walk(node)
    return out


def _has_external_scan(n, catalog) -> bool:
    ext = getattr(catalog, "external_tables", {})
    if isinstance(n, ir.Scan) and n.table in ext:
        return True
    return any(_has_external_scan(c, catalog) for c in n.inputs)


def _unwrap_column_preserving(n):
    """Descend through column-preserving wrappers to the underlying
    node — the front half of _output_dtypes."""
    base = n
    while isinstance(base, (ir.Filter, ir.Exchange, ir.Sort)) and base.inputs:
        base = base.inputs[0]
    return base


def _output_columns(n, catalog) -> set:
    """Output schema of a join input, WITHOUT executing anything
    remote: ir.output_names reads it structurally (external tables via
    the engine's schema_of metadata probe ≈ JDBC DatabaseMetaData — a
    full to_df here would fetch the whole remote table just to read
    .columns); where it cannot, a subtree still containing an external
    scan refuses (empty set = no inference onto that side) and a local
    one falls back to the lowered DataFrame's schema."""
    try:
        names = ir.output_names(n, catalog)
        if names is not None:
            return set(names)
        if _has_external_scan(n, catalog):
            return set()
        return set(n.to_df(catalog).columns)
    except Exception:
        return set()


def _join_push_transitive_predicates(node, catalog):
    """≈ RelMdPredicates.getPredicates + JoinPushTransitivePredicatesRule
    (rel/rules/JoinPushTransitivePredicatesRule.java): a literal
    predicate on one side of an equi-join implies the same predicate on
    the other side's join key — infer it and filter that input too.

    Catalyst has InferFiltersFromConstraints for plans it can see; this
    IR-level twin matters for the subtrees Catalyst can NOT see into:
    federation (sources/federation.federate converts the remote subtree
    to dialect SQL BEFORE Spark plans — the inferred filter lands in the
    remote WHERE clause and the remote engine scans less) and any rule
    that costs plans pre-lowering (DPhyp selectivity sees the narrowed
    input). Soundness rules:
      * only simple `col op literal` / `col IN (literals)` conjuncts
        move (no subqueries, no expressions — refuse-over-wrong);
      * inference direction follows null-extension: left→right for
        INNER/LEFT/SEMI/ANTI (a right row failing the predicate can
        only pair with left rows that were already filtered away),
        right→left for INNER/RIGHT;
      * the equivalence partner must resolve in the target input's
        output schema (probe via the lowered DataFrame's columns);
      * a target whose input is itself a Join is skipped so the
        inserted Filter never fragments an INNER chain mid-flattening
        (the reorderer treats join inputs as leaves);
      * already-present conjuncts (normalized text) are not re-added,
        which is also the HepProgram fixpoint guarantee."""
    if (
        not isinstance(node, ir.Join)
        or node.condition is None
        or catalog is None
        or node.join_type not in ("INNER", "LEFT", "RIGHT", "SEMI", "ANTI")
    ):
        return None
    eq_pairs = [
        m.groups()
        for c in _split_conjuncts(node.condition)
        if (m := _JOIN_EQ_RE.match(c))
    ]
    if not eq_pairs:
        return None

    # equivalence classes over join-key column names (union-find)
    parent: dict[str, str] = {}

    def find(x):
        parent.setdefault(x, x)
        while parent[x] != x:
            parent[x] = parent[parent[x]]
            x = parent[x]
        return x

    for a, b in eq_pairs:
        parent[find(a)] = find(b)
    classes: dict[str, set] = {}
    for col in list(parent):
        classes.setdefault(find(col), set()).add(col)

    directions = []  # (source input idx, target input idx)
    if node.join_type in ("INNER", "LEFT", "SEMI", "ANTI"):
        directions.append((0, 1))
    if node.join_type in ("INNER", "RIGHT"):
        directions.append((1, 0))

    cols_cache: dict[int, set] = {}

    def cols_of(idx):
        if idx not in cols_cache:
            cols_cache[idx] = _output_columns(node.inputs[idx], catalog)
        return cols_cache[idx]

    new_inputs = list(node.inputs)
    changed = False
    for src_idx, tgt_idx in directions:
        if isinstance(node.inputs[tgt_idx], ir.Join):
            continue  # never fragment a reorderable join chain
        tgt_have = {
            _norm_pred(p) for p in _subtree_predicates(node.inputs[tgt_idx])
        }
        add = []
        for p in _subtree_predicates(node.inputs[src_idx]):
            m = _LIT_PRED_RE.match(p) or _IN_PRED_RE.match(p)
            if not m:
                continue
            col = m.group(1)
            if col not in parent:
                continue
            tail = p[m.end(1):]
            for partner in classes[find(col)]:
                if partner == col or partner not in cols_of(tgt_idx):
                    continue
                cand = f"{partner}{tail}"
                if _norm_pred(cand) in tgt_have:
                    continue
                add.append(cand)
                tgt_have.add(_norm_pred(cand))
        if add:
            new_inputs[tgt_idx] = ir.Filter(
                " AND ".join(add), inputs=(new_inputs[tgt_idx],)
            )
            changed = True
    if not changed:
        return None
    return node.with_inputs(new_inputs)


_YEARFN = r"(?:EXTRACT\s*\(\s*YEAR\s+FROM\s+(\w+)\s*\)|year\s*\(\s*(\w+)\s*\))"


def _partfn(part: str) -> str:
    return rf"(?:EXTRACT\s*\(\s*{part}\s+FROM\s+(\w+)\s*\)|{part.lower()}\s*\(\s*(\w+)\s*\))"


def _date_range_canonicalize(node, catalog):
    """≈ rel/rules/DateRangeRules.java:91 + util/Sarg.java:69 (EXTRACT
    conditions → Sarg range sets): year()-wrapped predicates become
    sargable timestamp ranges so they reach the parquet scan (min/max
    row-group skipping, partition pruning) — Catalyst leaves wrapped
    columns unpushable, and at 100 TB the rewritten form prunes whole
    files.

    Handled shapes (each a pure predicate equivalence, safe under any
    boolean context):
      * YEAR = / < / <= / > / >= literal        → single range
      * YEAR IN (y1, y2, ...)                   → RangeSet union with
        adjacent-year merging (plans/sarg.py ≈ Sarg's Guava RangeSet)
      * YEAR BETWEEN y1 AND y2                  → [y1-01-01, y2+1-01-01)
      * YEAR = y AND MONTH = m (same column)    → one month range
      * YEAR = y AND QUARTER = q (same column)  → one quarter range
    Standalone MONTH/QUARTER comparisons are left alone — the value
    repeats every year, so no contiguous range exists (same boundary
    Calcite's DateRangeRules draws)."""
    import re as _re

    from calcite_spark.plans.sarg import (
        RangeSet,
        month_range,
        quarter_range,
        render_ts,
        year_range,
    )

    if not isinstance(node, ir.Filter):
        return None
    cond = node.condition
    changed = False

    def mark(text):
        nonlocal changed
        changed = True
        return text

    def boundary_ok(text: str, start: int, end: int, allow_not: bool) -> bool:
        """The match must be a WHOLE predicate: preceded (after stripping
        whitespace) by nothing, '(', AND, OR — or NOT when the rewrite is
        a single-predicate equivalence (allow_not) — and followed by
        nothing, ')', AND or OR. This blocks year() embedded in
        arithmetic on EITHER side ('x - year(d) = 1996',
        'year(d) = 1996 + 1' — the latter would strand '+ 1' after the
        generated range) and the conjunction shape grabbing across a NOT
        ('NOT year(d)=1996 AND month(d)=6' parses as
        (NOT year=1996) AND month=6)."""
        prefix = text[:start].rstrip()
        if prefix and not prefix.endswith("("):
            m = _re.search(r"([A-Za-z_]\w*)$", prefix)
            word = m.group(1).upper() if m else None
            if word == "NOT":
                if not allow_not:
                    return False
            elif word not in ("AND", "OR"):
                return False
        suffix = text[end:].lstrip()
        if suffix and not suffix.startswith(")"):
            m = _re.match(r"([A-Za-z_]\w*)", suffix)
            word = m.group(1).upper() if m else None
            if word not in ("AND", "OR"):
                return False
        return True

    # 1) YEAR = y AND MONTH|QUARTER = k on the SAME column → finer range
    #    NOT a predicate equivalence across a NOT/arithmetic context —
    #    boundary-guarded (ADVICE r2).
    for part, rng in (("MONTH", month_range), ("QUARTER", quarter_range)):
        pat = _re.compile(
            _YEARFN
            + r"\s*=\s*(\d{4})(?!\d)\s+AND\s+"
            + _partfn(part)
            + r"\s*=\s*(\d{1,2})(?!\d)",
            _re.I,
        )

        def sub_combined(m, rng=rng):
            if not boundary_ok(cond, m.start(), m.end(), allow_not=False):
                return m.group(0)
            ycol, y = m.group(1) or m.group(2), int(m.group(3))
            pcol, k = m.group(4) or m.group(5), int(m.group(6))
            if ycol != pcol:
                return m.group(0)
            return mark(RangeSet([rng(y, k)]).to_sql(ycol, render_ts))

        cond = pat.sub(sub_combined, cond)

    # 2) YEAR IN (y1, y2, ...) → merged range set
    pat_in = _re.compile(_YEARFN + r"\s+IN\s*\(\s*([\d\s,]+?)\s*\)", _re.I)

    def sub_in(m):
        if not boundary_ok(cond, m.start(), m.end(), allow_not=True):
            return m.group(0)
        col = m.group(1) or m.group(2)
        years = [int(t) for t in _re.findall(r"\d{4}", m.group(3))]
        if not years:
            return m.group(0)
        rs = RangeSet(year_range(y) for y in years)
        return mark(rs.to_sql(col, render_ts))

    cond = pat_in.sub(sub_in, cond)

    # 3) YEAR BETWEEN y1 AND y2 → one closed-open range
    pat_bt = _re.compile(_YEARFN + r"\s+BETWEEN\s+(\d{4})\s+AND\s+(\d{4})", _re.I)

    def sub_between(m):
        if not boundary_ok(cond, m.start(), m.end(), allow_not=True):
            return m.group(0)
        col = m.group(1) or m.group(2)
        y1, y2 = int(m.group(3)), int(m.group(4))
        rs = RangeSet(year_range(y) for y in range(y1, y2 + 1))
        return mark(rs.to_sql(col, render_ts))

    cond = pat_bt.sub(sub_between, cond)

    # 4) single YEAR comparisons
    def year_cmp(col, op, y):
        y = int(y)
        lo, hi = render_ts((y, 1)), render_ts((y + 1, 1))
        return {
            "=": f"({col} >= {lo} AND {col} < {hi})",
            "<": f"{col} < {lo}",
            "<=": f"{col} < {hi}",
            ">": f"{col} >= {hi}",
            ">=": f"{col} >= {lo}",
        }[op]

    pat_cmp = _re.compile(_YEARFN + r"\s*(=|<=|>=|<|>)\s*(\d{4})(?!\d)", _re.I)

    def sub_cmp(m):
        if not boundary_ok(cond, m.start(), m.end(), allow_not=True):
            return m.group(0)
        col = m.group(1) or m.group(2)
        return mark(year_cmp(col, m.group(3), m.group(4)))

    cond = pat_cmp.sub(sub_cmp, cond)

    if not changed:
        return None
    return ir.Filter(cond, inputs=node.inputs)


def _split_conjuncts(cond: str) -> list[str]:
    """Split on TOP-LEVEL AND only: depth-counted parens, and string
    literals are opaque (an AND or paren inside '...' neither splits nor
    changes depth — a split there corrupts the literal when conjuncts
    are re-joined).

    A top-level OR anywhere makes the WHOLE expression one disjunction
    (AND binds tighter: "x AND y OR z" is "(x AND y) OR z", so no
    AND-split piece is individually guaranteed) — return it unsplit.
    Every caller treats the returned pieces as independently-held
    conjuncts; splitting across a disjunction would let transitive
    predicate inference push a filter that drops valid rows."""

    if lexer.find_top_level(cond, "OR") >= 0:
        return [cond.strip()]
    parts, last = [], 0
    for i in lexer.iter_top_level(cond, "AND"):
        parts.append(cond[last:i].strip())
        last = i + 3
    parts.append(cond[last:].strip())
    return [p for p in parts if p]


def _resolve_multijoin(node, catalog):
    """Flatten an INNER equi-join chain into (leaf infos, cond_refs) —
    the shared front half of both reordering tiers (≈
    JoinToMultiJoinRule building the MultiJoin that LoptOptimizeJoinRule
    and DphypJoinReorderRule both consume).

    Returns None (don't reorder) unless every leaf is Scan or
    Filter(Scan) with resolvable, globally-unique columns and every
    conjunct maps to known leaves. Caller broadcast hints are flattening
    boundaries; rule-derived hints flatten through."""
    if not isinstance(node, ir.Join) or catalog is None:
        return None
    if node.join_type != "INNER" or node.condition is None:
        return None

    leaves: list = []
    conjuncts: list[str] = []

    def n_has_hint(n):
        return (n.broadcast_left or n.broadcast_right) and not n._hint_from_rule

    if n_has_hint(node):
        return None  # the root itself carries a caller hint — don't touch

    def flatten(n):
        caller_hint = (n_has_hint(n) if isinstance(n, ir.Join) else False)
        if (
            isinstance(n, ir.Join)
            and n.join_type == "INNER"
            and n.condition is not None
            and not caller_hint
        ):
            flatten(n.inputs[0])
            flatten(n.inputs[1])
            conjuncts.extend(_split_conjuncts(n.condition))
        else:
            leaves.append(n)

    flatten(node)
    if len(leaves) < 3:
        return None

    # resolve each leaf's column set + row estimate
    infos = []
    for leaf in leaves:
        base, selectivity = leaf, 1.0
        if isinstance(base, ir.Filter) and isinstance(base.inputs[0], ir.Scan):
            base, selectivity = base.inputs[0], 0.25
        if not isinstance(base, ir.Scan):
            return None
        try:
            cols = set(catalog.table(base.table).columns)
            base_rows = catalog.row_count(base.table)
        except Exception:
            return None
        infos.append(
            {
                "node": leaf,
                "table": base.table,
                "cols": cols,
                "rows": base_rows * selectivity,
                "base_rows": base_rows,
            }
        )

    # canonical leaf order: enumeration (and therefore cost-tie breaks)
    # must not depend on the flatten order of the incoming tree, or a
    # rewritten plan could re-rewrite differently every Hep pass
    infos.sort(key=lambda d: d["table"])

    # column names must be globally unique across leaves — otherwise
    # condition-to-leaf mapping is ambiguous (self-joins) and reordering
    # could silently rebind a predicate. Bail.
    seen: set = set()
    for info in infos:
        if info["cols"] & seen:
            return None
        seen |= info["cols"]

    # map each conjunct to the leaves it references
    all_cols = {c for i in infos for c in i["cols"]}
    cond_refs = []
    for c in conjuncts:
        idents = set(lexer.column_refs(c)) & all_cols
        touched = [i for i, info in enumerate(infos) if idents & info["cols"]]
        if not idents or not touched:
            return None  # unmappable condition — don't reorder
        cond_refs.append((c, idents, set(touched)))
    return infos, cond_refs


_EQUI_RE = re.compile(r"^\s*([A-Za-z_]\w*)\s*=\s*([A-Za-z_]\w*)\s*$")


def _conjunct_selectivity(conjunct, refs, infos, catalog):
    """Join selectivity for one conjunct (≈ RelMdSelectivity +
    RelMdDistinctRowCount). For a plain equi-join col_a = col_b where
    BOTH columns have ANALYZE stats (Catalog.analyze), use System-R
    1/max(NDV_a, NDV_b) — exact for FK joins and, unlike the fallback,
    correct for non-key joins (customer⋈supplier on nationkey: NDV 25,
    not min(base rows)). Fallback: 1/min(BASE rows of the referenced
    leaves), the FK-correct form when the key side is unique; BASE (not
    filtered) rows so a filtered dim doesn't annihilate the fact."""
    m = _EQUI_RE.match(conjunct)
    if m:
        ndvs = []
        for col in m.groups():
            info = next((i for i in infos if col in i["cols"]), None)
            ndv = catalog.column_ndv(info["table"], col) if info else None
            if ndv:
                ndvs.append(ndv)
        if len(ndvs) == 2:
            return 1.0 / max(max(ndvs), 1.0)
    return 1.0 / max(min(infos[i]["base_rows"] for i in refs), 1.0)


def _join_order_greedy(node, catalog, resolved=None):
    """≈ LoptOptimizeJoinRule.java:77 (greedy tier): rebuild the
    multi-join left-deep from catalog statistics — largest relation
    first (the fact side streams), each remaining relation added
    smallest-estimated-rows-first among those connected by a now-bound
    condition, with broadcast hints on catalog-known small dimensions.

    At 100 TB the win is structural: the fact table is never the build
    side, every dimension join is a broadcast (no fact shuffle), and
    intermediate sizes shrink monotonically. Estimates are
    Catalog.row_count × 0.25 per applied filter
    (≈ RelMdUtil.guessSelectivity:504's default)."""
    resolved = resolved if resolved is not None else _resolve_multijoin(node, catalog)
    if resolved is None:
        return None
    infos, cond_refs = resolved

    # greedy rebuild: largest leaf streams, smallest connected leaf next
    order = sorted(range(len(infos)), key=lambda i: -infos[i]["rows"])
    bound = {order[0]}
    acc = infos[order[0]]["node"]
    used = [False] * len(cond_refs)
    remaining = set(range(len(infos))) - bound
    while remaining:
        candidates = [
            i
            for i in remaining
            if any(refs <= bound | {i} and i in refs for _, _, refs in cond_refs)
        ]
        if not candidates:
            return None  # disconnected graph — no cartesian products
        nxt = min(candidates, key=lambda i: infos[i]["rows"])
        bound.add(nxt)
        join_conds = []
        for k, (c, _, refs) in enumerate(cond_refs):
            if not used[k] and refs <= bound:
                used[k] = True
                join_conds.append(c)
        info = infos[nxt]
        small = catalog.is_broadcastable(info["table"]) or info["rows"] <= 100_000
        acc = ir.Join(
            " AND ".join(join_conds) if join_conds else None,
            "INNER" if join_conds else "CROSS",
            broadcast_right=small,
            inputs=(acc, info["node"]),
            _hint_from_rule=True,
        )
        remaining.discard(nxt)

    # explain_str recurses into inputs (repr does not) — comparing reprs
    # reported structurally different trees as unchanged and vice versa
    if acc.explain_str() == node.explain_str():
        return None  # already in greedy order — fixpoint
    return acc


DPHYP_MAX_RELS = 10


def _join_order_dphyp(node, catalog, resolved=None):
    """Exact join enumeration over the multi-join hypergraph
    ≈ rel/rules/DphypJoinReorderRule.java:33 + DpHyp.java +
    HyperGraph.java: for ≤ DPHYP_MAX_RELS relations, dynamic programming
    over connected subgraph / complement pairs finds the cost-optimal
    BUSHY tree — the shape the greedy left-deep tier cannot reach on
    snowflake/cyclic graphs (e.g. TPC-H Q5's same-nation edge, where
    joining customer⋈nation and supplier⋈nation independently before
    crossing beats any left-deep order).

    Enumeration is subset-DP (DPsub) with hyperedge-aware connectivity —
    for n ≤ 10 it visits every csg-cmp pair DpHyp would (3^10 ≈ 59k
    splits, microseconds at plan time) and returns the identical optimal
    plan; DpHyp's neighborhood walk only prunes the enumeration ORDER,
    not the result, so the larger machinery is deferred until the rel
    cap grows. Cost model: C_out (sum of intermediate cardinalities),
    join selectivity 1/min(BASE rows of the referenced leaves) per
    applied conjunct — the FK-correct System-R form (the smaller side is
    the key side). Cross products are never enumerated (only connected
    subsets combine)."""
    resolved = resolved if resolved is not None else _resolve_multijoin(node, catalog)
    if resolved is None:
        return None
    infos, cond_refs = resolved
    n = len(infos)
    if n > DPHYP_MAX_RELS:
        return None

    masks_of = [1 << i for i in range(n)]
    # single-leaf conjuncts (a filter smuggled into a join condition)
    # never CROSS a split, so the DP would drop them — push each into a
    # Filter on its leaf first (valid for INNER joins; greedy's
    # refs<=bound check applies them implicitly)
    conds = []
    leaf_filters: dict[int, list] = {}
    for c, _, refs in cond_refs:
        if len(refs) == 1:
            leaf_filters.setdefault(next(iter(refs)), []).append(c)
            continue
        rmask = 0
        for i in refs:
            rmask |= masks_of[i]
        # NDV-aware when ANALYZE stats exist, else 1/min(BASE rows) —
        # see _conjunct_selectivity for why both forms are FK-correct
        sel = _conjunct_selectivity(c, refs, infos, catalog)
        conds.append((c, rmask, sel))
    for i, sqls in leaf_filters.items():
        infos[i]["node"] = ir.Filter(" AND ".join(sqls), inputs=(infos[i]["node"],))
        infos[i]["rows"] = max(infos[i]["rows"] * 0.25, 1.0)

    def connected(mask) -> bool:
        # BFS over leaves using conjuncts fully inside `mask`
        first = mask & -mask
        seen = first
        frontier = first
        while frontier:
            grow = 0
            for _, rmask, _ in conds:
                if rmask & seen and rmask | mask == mask:
                    grow |= rmask
            grow &= mask
            frontier = grow & ~seen
            seen |= grow
        return seen == mask

    # best[mask] = (cost, rows, plan) ; plan = ('leaf', i) | ('join', l, r, [sql])
    best: dict[int, tuple] = {
        masks_of[i]: (0.0, infos[i]["rows"], ("leaf", i)) for i in range(n)
    }
    full = (1 << n) - 1
    by_size = sorted(
        (m for m in range(3, full + 1) if bin(m).count("1") >= 2),
        key=lambda m: bin(m).count("1"),
    )
    for mask in by_size:
        if not connected(mask):
            continue
        # conjuncts applied at the top join of `mask`
        entry = None
        s1 = (mask - 1) & mask
        while s1:
            s2 = mask ^ s1
            if s1 < s2:  # each unordered split once
                b1, b2 = best.get(s1), best.get(s2)
                if b1 and b2:
                    applied = [
                        (c, sel)
                        for c, rmask, sel in conds
                        if rmask | mask == mask
                        and rmask & s1
                        and rmask & s2
                    ]
                    if applied:  # no cross products
                        rows = b1[1] * b2[1]
                        for _, sel in applied:
                            rows *= sel
                        rows = max(rows, 1.0)
                        cost = b1[0] + b2[0] + rows
                        if entry is None or cost < entry[0]:
                            entry = (cost, rows, ("join", s1, s2, [c for c, _ in applied]))
            s1 = (s1 - 1) & mask
        if entry is not None:
            prev = best.get(mask)
            if prev is None or entry[0] < prev[0]:
                best[mask] = entry

    if full not in best:
        return None  # disconnected graph

    def build(mask):
        cost, rows, plan = best[mask]
        if plan[0] == "leaf":
            return infos[plan[1]]["node"], rows, infos[plan[1]]["table"]
        _, s1, s2, sqls = plan
        left, lrows, ltab = build(s1)
        right, rrows, rtab = build(s2)
        # stream the larger side, build/broadcast the smaller
        if lrows < rrows:
            left, right = right, left
            lrows, rrows = rrows, lrows
            ltab, rtab = rtab, ltab
        small = rrows <= 100_000 or (
            rtab is not None and catalog.is_broadcastable(rtab)
        )
        joined = ir.Join(
            " AND ".join(sqls),
            "INNER",
            broadcast_right=small,
            inputs=(left, right),
            _hint_from_rule=True,
        )
        return joined, rows, None

    acc, _, _ = build(full)
    if acc.explain_str() == node.explain_str():
        return None  # already optimal — fixpoint
    return acc


def estimate_plan_cost(node, catalog) -> float:
    """C_out of an INNER-join tree under the same model the reorder
    rules use (leaf rows × 0.25/filter; per-conjunct selectivity
    1/min(base rows referenced)). Used by plan tests to compare rewrite
    tiers and exposed for EXPLAIN-style diagnostics."""
    # leaf column map
    leaf_info = {}
    stack = [node]
    while stack:
        n = stack.pop()
        if isinstance(n, ir.Scan):
            base_rows = catalog.row_count(n.table)
            leaf_info[n.table] = (set(catalog.table(n.table).columns), base_rows)
        stack.extend(n.inputs)

    def col_owner_rows(ident):
        for cols, base in leaf_info.values():
            if ident in cols:
                yield base

    def col_ndv(ident):
        for t, (cols, _) in leaf_info.items():
            if ident in cols:
                return catalog.column_ndv(t, ident)
        return None

    total = [0.0]

    def walk(n) -> float:
        if isinstance(n, ir.Scan):
            return float(leaf_info[n.table][1])
        if isinstance(n, ir.Filter):
            return max(walk(n.inputs[0]) * 0.25, 1.0)
        if isinstance(n, ir.Join):
            rows = walk(n.inputs[0]) * walk(n.inputs[1])
            for c in _split_conjuncts(n.condition or "TRUE"):
                m = _EQUI_RE.match(c)
                ndvs = (
                    [v for v in (col_ndv(g) for g in m.groups()) if v]
                    if m
                    else []
                )
                if len(ndvs) == 2:  # same NDV form as _conjunct_selectivity
                    rows /= max(max(ndvs), 1.0)
                    continue
                owners = [
                    r for t in lexer.column_refs(c) for r in col_owner_rows(t)
                ]
                if owners:
                    rows /= max(min(owners), 1.0)
            rows = max(rows, 1.0)
            total[0] += rows
            return rows
        return walk(n.inputs[0]) if n.inputs else 1.0

    walk(node)
    return total[0]


def _join_order_stats(node, catalog):
    """Stats-driven join reordering dispatcher: exact DP (DPhyp-class)
    for ≤ DPHYP_MAX_RELS relations, greedy left-deep above — mirroring
    Calcite's DphypJoinReorderRule / LoptOptimizeJoinRule split. The
    multi-join is resolved ONCE here and handed to whichever tier runs
    (it used to be re-resolved up to three times per node per pass)."""
    resolved = _resolve_multijoin(node, catalog)
    if resolved is None:
        return None
    if len(resolved[0]) > DPHYP_MAX_RELS:
        return _join_order_greedy(node, catalog, resolved=resolved)
    return _join_order_dphyp(node, catalog, resolved=resolved)


_NUM_LIT = r"-?\d+(?:\.\d+)?"
_COL_ID = r"[A-Za-z_]\w*"
# ST_DWITHIN(ST_MAKEPOINT(<litx>, <lity>), ST_MAKEPOINT(<colx>, <coly>), <d>)
_DWITHIN_LIT_COL = re.compile(
    rf"^\s*ST_DWITHIN\s*\(\s*ST_MAKEPOINT\s*\(\s*({_NUM_LIT})\s*,\s*({_NUM_LIT})\s*\)\s*,"
    rf"\s*ST_MAKEPOINT\s*\(\s*({_COL_ID})\s*,\s*({_COL_ID})\s*\)\s*,\s*({_NUM_LIT})\s*\)\s*$",
    re.I,
)
# mirrored operand order (column point first)
_DWITHIN_COL_LIT = re.compile(
    rf"^\s*ST_DWITHIN\s*\(\s*ST_MAKEPOINT\s*\(\s*({_COL_ID})\s*,\s*({_COL_ID})\s*\)\s*,"
    rf"\s*ST_MAKEPOINT\s*\(\s*({_NUM_LIT})\s*,\s*({_NUM_LIT})\s*\)\s*,\s*({_NUM_LIT})\s*\)\s*$",
    re.I,
)


def _filter_hilbert(node, catalog):
    """≈ rel/rules/SpatialRules.java FilterHilbertRule: a conjunct
    `ST_DWITHIN(ST_MAKEPOINT(cx, cy), ST_MAKEPOINT(x, y), d)` over a
    scan whose table declares the CHECK (h = Hilbert(order, x, y))
    constraint becomes

        (h BETWEEN a AND b OR ...) AND <exact predicate>

    — the range disjunction is plain SQL, so Catalyst pushes it into
    the parquet scan (PushedFilters) and prunes row groups when the
    table is laid out along the curve; the exact predicate stays (the
    ranges admit false positives, never false negatives; the reference
    keeps the original conjunct for the same reason). Negative
    distance folds to FALSE (reference case -1). In the same transform
    the matched conjunct is lowered from the compact macro to its
    executable struct-geometry form — one-shot, which is also what
    makes the rule idempotent under the Hep fixpoint loop."""
    if not isinstance(node, ir.Filter) or catalog is None:
        return None
    base = node.inputs[0]
    while isinstance(base, ir.Filter) and base.inputs:
        base = base.inputs[0]
    if not isinstance(base, ir.Scan):
        return None
    entry = getattr(catalog, "tables", {}).get(base.table)
    hc = getattr(entry, "hilbert", None)
    if hc is None:
        return None
    from calcite_spark.functions.hilbert import (
        covering_ranges,
        ranges_predicate,
    )
    from calcite_spark.functions.spatial import expand_spatial_sql

    changed = False
    out = []
    for conj in _split_conjuncts(node.condition):
        colx = coly = cx = cy = d = None
        m = _DWITHIN_LIT_COL.match(conj)
        if m:
            cx, cy, colx, coly, d = m.groups()
        else:
            m = _DWITHIN_COL_LIT.match(conj)
            if m:
                colx, coly, cx, cy, d = m.groups()
        # exact positional match — ST_MAKEPOINT(y, x) is a DIFFERENT
        # point; a set comparison would silently accept swapped axes
        if (
            colx is None
            or colx.lower() != hc["x"].lower()
            or coly.lower() != hc["y"].lower()
        ):
            out.append(conj)
            continue
        cx, cy, d = float(cx), float(cy), float(d)
        if d < 0:
            out = ["FALSE"]
            changed = True
            break
        ranges = covering_ranges(
            hc["order"], hc["bounds"], cx - d, cx + d, cy - d, cy + d
        )
        # range prefilter FIRST (cheaper, less selective — reference
        # inserts it before the original for the same reason), exact
        # predicate second, lowered to executable form
        out.append(ranges_predicate(hc["h"], ranges))
        out.append(expand_spatial_sql(conj))
        changed = True
    if not changed:
        return None
    new_cond = " AND ".join(f"({c})" for c in out)
    return ir.Filter(new_cond, inputs=node.inputs)


def _expand_spatial_macros(node, catalog):
    """Lower compact ST_*(...) macro calls left in Filter conditions or
    Project expressions to their registered struct-geometry SQL — the
    textual tier of the spatial surface (spatial.iq style), applied
    after FilterHilbert so the range rewrite sees the compact form."""
    import re as _re2

    if (
        isinstance(node, ir.Filter)
        and isinstance(node.condition, str)
        and _re2.search(r"\bST_[A-Za-z_]\w*\s*\(", node.condition, _re2.I)
    ):
        from calcite_spark.functions.spatial import expand_spatial_sql

        return ir.Filter(
            expand_spatial_sql(node.condition), inputs=node.inputs
        )
    if isinstance(node, ir.Project) and any(
        isinstance(e, str)
        and _re2.search(r"\bST_[A-Za-z_]\w*\s*\(", e, _re2.I)
        for e in node.exprs
    ):
        from calcite_spark.functions.spatial import expand_spatial_sql

        return ir.Project(
            tuple(
                expand_spatial_sql(e) if isinstance(e, str) else e
                for e in node.exprs
            ),
            inputs=node.inputs,
        )
    return None


def _eliminate_redundant_exchange(node, catalog):
    """≈ the distribution-trait side of ExchangeRemoveConstantKeysRule /
    Calcite's trait-satisfaction check (an Exchange whose required
    distribution the input ALREADY satisfies is a no-op): drop
    Exchange(kind, keys) when mq.distribution of its input reports the
    identical trait — the classic shape is a repartition(k) stacked
    over a repartition(k) left behind by composed pipeline stages, or
    over an Aggregate that already exchanged on exactly k (the metadata
    facade's documented Spark extension). Only hash/range exchanges
    with keys are considered: broadcast/singleton exchanges carry
    execution-strategy intent (hints, coalesce) beyond the trait.

    MEASURED SCOPE (r7 A/B, scripts/exchange_ab.py — honest downgrade
    of the r6 'full shuffle Catalyst keeps' claim): Spark 4.1's own
    EnsureRequirements (AQE on OR off) already elides the count-less
    shapes this rule removes — the executed plan shows ONE exchange and
    identical shuffle bytes with or without the rule; only an
    EXPLICIT-count repartition survives in Spark, and this rule keeps
    those on purpose (a sizing request is intent). The rule's value is
    therefore an IR-LEVEL GUARANTEE independent of the executing
    engine's version/planner (trait reasoning also feeds
    cumulative_cost and the plan serde), not a Spark runtime win."""
    if not isinstance(node, ir.Exchange):
        return None
    if node.distribution not in ("hash", "range") or not node.keys:
        return None
    if node.num_partitions is not None:
        # an explicit partition count is a sizing request, not just a
        # trait — keep it
        return None
    from calcite_spark.plans.metadata import MetadataQuery

    kind, keys = MetadataQuery(catalog).distribution(node.inputs[0])
    if kind == node.distribution and tuple(keys) == tuple(node.keys):
        return node.inputs[0]
    return None


_AJT_IDENT_RE = re.compile(r"^[A-Za-z_]\w*$")


def _output_dtypes(n, catalog) -> dict:
    """Column → Spark dtype string for a join input: a
    column-preserving chain over a Scan reads the catalog, anything else
    lowers (the IR knows names, not types); external tables answer {} —
    schema_of yields names only, and fetching remote dtypes would pull
    the table."""
    base = _unwrap_column_preserving(n)
    if isinstance(base, ir.Scan):
        if base.table in getattr(catalog, "external_tables", {}):
            return {}
        if base.table in getattr(catalog, "tables", {}) or base.table in getattr(
            catalog, "_dfs", {}
        ):
            return dict(catalog.table(base.table).dtypes)
    if _has_external_scan(n, catalog):
        return {}
    try:
        return dict(n.to_df(catalog).dtypes)
    except Exception:
        return {}


def _aggregate_join_transpose(node, catalog):
    """≈ rel/rules/AggregateJoinTransposeRule.java (CoreRules.
    AGGREGATE_JOIN_TRANSPOSE_EXTENDED, the allowFunctions tier):
    Aggregate(Join(L, R)) → Aggregate_merge(Join(Aggregate_partial(P), other))
    — pre-aggregate the side P that owns every aggregate argument, keyed
    by (P's group keys ∪ P's join keys), then merge above the join.

    Catalyst has no counterpart (this was the repo's one documented
    optimizer absence — join-agg-transpose.iq): a rewrite that changes a
    join input's cardinality belongs to the engine's CBO. At 100 TB this
    turns "shuffle every fact row through the join, then aggregate" into
    "collapse the fact side to one row per (group, join key) first" — the
    join and final aggregate then move partial rows only.

    Soundness, single-side push (other side RAW): in the original plan
    each P-row is replicated once per matching other-side row. After
    the push, each partial cell (which fixes the join key, so every row
    in it has the SAME match count m) is replicated m times by the
    join, so
      SUM:     sum over pairs of partial_sum  = Σ_cells m·Σx  = original;
      COUNT:   sum over pairs of partial_cnt  = Σ_cells m·cnt = original;
      MIN/MAX: duplication never changes them; cells with m=0 drop in
               the INNER join exactly as their rows dropped originally;
      AVG:     SUM/COUNT pair, merged as a division.
    Soundness, BOTH-side push (args split across the join — the m:n
    case where the raw join explodes to |L_k|·|R_k| pairs per key):
    both inputs partial-aggregate, each cell carries COUNT(*); the
    partial⋈partial join yields ONE row per (cellL, cellR), and the
    lost duplication is restored arithmetically —
      SUM(x_L):  SUM(partial_sum_L · cnt_R)   (each L-cell's sum counts
                 once per matching R-ROW = cnt_R per matching R-cell);
      COUNT(*):  SUM(cnt_L · cnt_R);
      COUNT(x):  SUM(partial_cnt · other cnt);
      MIN/MAX:   duplication-free, merge as themselves;
      AVG:       both SUM and COUNT partials scaled by the other cnt.
    Refusals (refuse-over-wrong): non-INNER joins, non-equi or
    non-conjunctive conditions, DISTINCT / FILTER / expression-argument
    aggregates, group keys that are not bare columns of one side,
    DECIMAL SUM/AVG arguments (re-summing a partial SUM widens the
    decimal precision again — the merged dtype would differ from the
    single-level aggregate's).

    Gate (≈ the rule's cost check through RelMetadataQuery): fires only
    when every partial group column has a GROUNDED NDV (ANALYZE-backed,
    RelMdDistinctRowCount) and the estimated partial-group count is at
    most half the push side's rows — a guessed reduction must not insert
    an extra aggregation that shuffles the same volume twice."""
    if (
        not isinstance(node, ir.Aggregate)
        or node.group_type != "SIMPLE"
        or node._no_transpose
        or not node.agg_calls
        or catalog is None
    ):
        return None
    child = node.inputs[0]
    if (
        not isinstance(child, ir.Join)
        or child.join_type != "INNER"
        or child.condition is None
    ):
        return None
    conjuncts = _split_conjuncts(child.condition)
    eq_pairs = []
    for c in conjuncts:
        m = _JOIN_EQ_RE.match(c)
        if not m:
            return None
        eq_pairs.append(m.groups())
    left_cols = _output_columns(child.inputs[0], catalog)
    right_cols = _output_columns(child.inputs[1], catalog)
    if not left_cols or not right_cols or left_cols & right_cols:
        return None

    def side_of(col):
        if col in left_cols:
            return 0
        if col in right_cols:
            return 1
        return None

    # join keys per side, in condition order
    join_keys = ([], [])
    for a, b in eq_pairs:
        sa, sb = side_of(a), side_of(b)
        if sa is None or sb is None or sa == sb:
            return None
        join_keys[sa].append(a)
        join_keys[sb].append(b)

    # group keys: bare columns, each resolvable to a side
    group_sides = []
    for k in node.group_keys:
        if not _AJT_IDENT_RE.match(k.strip()):
            return None
        s = side_of(k.strip())
        if s is None:
            return None
        group_sides.append((k.strip(), s))

    # aggregate calls: strictly FN(col|*) AS name, args all on ONE side
    calls = [ir.AggCall.parse(c) for c in node.agg_calls]
    if not all(c is not None and c.splittable for c in calls):
        return None
    arg_sides = set()
    for call in calls:
        if call.args[0] != "*":
            s = side_of(call.args[0])
            if s is None:
                return None
            arg_sides.add(s)
    from calcite_spark.plans.metadata import MetadataQuery

    mq = MetadataQuery(catalog)

    def partial_group(side):
        keys = []
        for k, s in group_sides:
            if s == side and k not in keys:
                keys.append(k)
        for k in join_keys[side]:
            if k not in keys:
                keys.append(k)
        return keys

    def gate(side):
        """Benefit gate for aggregating `side`: grounded NDVs only,
        estimated partial groups ≤ rows / 2."""
        inp = child.inputs[side]
        rows = mq.row_count(inp)
        if rows is None:
            return False
        groups = 1.0
        for k in partial_group(side):
            ndv = mq.distinct_row_count(inp, k)
            if ndv is None:
                return False
            groups *= ndv
        return min(groups, rows) <= rows / 2

    def decimal_refused(side):
        """DECIMAL SUM/AVG args on `side` refuse (re-summing a partial
        SUM widens decimal precision again — merged dtype would differ
        from the single-level aggregate's). Plan-time probe only."""
        args = [
            c.args[0] for c in calls
            if c.fn in ("SUM", "AVG") and c.args[0] != "*" and side_of(c.args[0]) == side
        ]
        if not args:
            return False
        dt = _output_dtypes(child.inputs[side], catalog)
        return any(dt.get(a, "").startswith("decimal") for a in args)

    fresh = [
        f"__ajt{i}{suf}" for i in range(len(calls)) for suf in ("", "s", "c")
    ] + ["__ajtcnt0", "__ajtcnt1"]
    if any(c in (left_cols | right_cols) for c in fresh):
        return None  # fresh-name collision with a real column

    if len(arg_sides) == 2:
        # BOTH-side push (the full EXTENDED shape): partial-aggregate
        # both inputs, each carrying COUNT(*); after the partial⋈partial
        # join every pair is one row per (cellL, cellR), so duplication
        # is restored arithmetically — SUM/COUNT merge as
        # SUM(partial * other side's cnt), COUNT(*) as SUM(cntL * cntR),
        # MIN/MAX are duplication-free. Fires only when BOTH sides pass
        # the grounded-NDV gate (one wasted partial aggregation would
        # shuffle the same volume twice).
        if not (gate(0) and gate(1)) or decimal_refused(0) or decimal_refused(1):
            return None
        side_calls = {0: [], 1: []}
        merge_calls = []
        for i, call in enumerate(calls):
            if call.args[0] == "*":
                # COALESCE: COUNT must be 0 (never NULL) when a GLOBAL
                # aggregate sees an empty join — SUM over zero rows is
                # NULL (Calcite splits COUNT with $SUM0 for the same
                # reason, SqlSplittableAggFunction.CountSplitter)
                merge_calls.append(
                    f"COALESCE(SUM(__ajtcnt0 * __ajtcnt1), 0) AS {call.alias}"
                )
                continue
            s = side_of(call.args[0])
            partials, merge = call.split(f"__ajt{i}", f"__ajtcnt{1 - s}")
            side_calls[s] += partials
            merge_calls.append(merge)
        new_inputs = [
            ir.Aggregate(
                tuple(partial_group(s)),
                tuple(side_calls[s] + [f"COUNT(*) AS __ajtcnt{s}"]),
                inputs=(child.inputs[s],),
            )
            for s in (0, 1)
        ]
        return ir.Aggregate(
            node.group_keys,
            tuple(merge_calls),
            inputs=(child.with_inputs(new_inputs),),
            _no_transpose=True,
        )

    # single-side push: the raw other side restores duplication by the
    # join itself (see docstring). COUNT(*)-only aggregates push to the
    # larger (fact) side.
    if arg_sides:
        p = next(iter(arg_sides))
    else:
        l_rows = mq.row_count(child.inputs[0])
        r_rows = mq.row_count(child.inputs[1])
        if l_rows is None or r_rows is None:
            return None
        p = 0 if l_rows >= r_rows else 1
    if not gate(p) or decimal_refused(p):
        return None

    splits = [c.split(f"__ajt{i}") for i, c in enumerate(calls)]
    partial = ir.Aggregate(
        tuple(partial_group(p)),
        tuple(pc for partials, _ in splits for pc in partials),
        inputs=(child.inputs[p],),
    )
    new_inputs = list(child.inputs)
    new_inputs[p] = partial
    new_join = child.with_inputs(new_inputs)
    return ir.Aggregate(
        node.group_keys,
        tuple(merge for _, merge in splits),
        inputs=(new_join,),
        _no_transpose=True,
    )


_SORT_KEY_RE = re.compile(
    r"(?is)^\s*([A-Za-z_]\w*)(?:\s+(?:ASC|DESC))?(?:\s+NULLS\s+(?:FIRST|LAST))?\s*$"
)


def _sort_join_transpose(node, catalog):
    """≈ rel/rules/SortJoinTransposeRule.java:76: a top-K Sort whose
    keys all come from the OUTER-preserved input of a LEFT (resp.
    RIGHT) join pushes a COPY of itself — fetch widened to
    offset+fetch, offset zeroed — into that input; the outer Sort
    stays. Sound because an outer join emits ≥1 output row per
    preserved-side row, so the top-(K+offset) preserved rows dominate
    the output's top-K under any prefix-of-keys ordering (ties resolve
    nondeterministically, exactly as SQL already allows for the
    unpushed plan — same contract as the reference rule). INNER joins
    never match: an unmatched row may fall out and K input rows could
    yield fewer than K outputs.

    Measured before building (r8, scripts/sortjoin_ab.py → SCALE.md):
    Spark's LimitPushDown pushes bare limits but NOT sort+fetch, so
    the unpushed plan runs TakeOrderedAndProject over the FULL join;
    pushing bounds the preserved side to K rows before its join
    exchange — wall −13% at sf0.1 growing to −23% at the 10× replica
    (the saving is the preserved side's sort/shuffle, which scales
    with that table; the other side's shuffle is untouched)."""
    if (
        not isinstance(node, ir.Sort)
        or node.fetch is None
        or not node.keys
        or catalog is None
    ):
        return None
    child = node.inputs[0]
    if not isinstance(child, ir.Join) or child.join_type not in ("LEFT", "RIGHT"):
        return None
    side = 0 if child.join_type == "LEFT" else 1
    inp = child.inputs[side]
    if isinstance(inp, ir.Sort):
        return None  # already pushed (loop guard) / caller's own limit
    cols = _output_columns(inp, catalog)
    if not cols:
        return None
    for k in node.keys:
        m = _SORT_KEY_RE.match(k)
        if not m or m.group(1) not in cols:
            return None  # expression keys / keys touching the other side
    pushed = ir.Sort(
        tuple(node.keys), 0, node.offset + node.fetch, inputs=(inp,)
    )
    new_inputs = list(child.inputs)
    new_inputs[side] = pushed
    return node.with_inputs([child.with_inputs(new_inputs)])


def _aggregate_union_transpose(node, catalog, gate=True):
    """≈ rel/rules/AggregateUnionTransposeRule.java:63 (CoreRules.
    AGGREGATE_UNION_TRANSPOSE): Aggregate(UnionAll(b1..bn)) →
    Aggregate_merge(UnionAll(Aggregate_partial(b1)..)) — each branch
    pre-aggregates on the group keys, the union moves one row per
    (branch, group), and the merge recombines: SUM/COUNT as
    SUM-of-partials (COUNT with the $SUM0 COALESCE so a GLOBAL
    aggregate over an all-empty union yields 0, not NULL — same
    CountSplitter reasoning as the join transpose), MIN/MAX as
    themselves, AVG as a SUM/COUNT pair.

    Honest Spark framing (measured, scripts/union_ab.py → SCALE.md):
    Catalyst already computes PARTIAL aggregates per partition of the
    union's output before the exchange, so for plain scans the shuffled
    volume is similar — the rule's real value in this engine is
    COMPOSITION: after the push, each branch is a standalone
    Aggregate(Scan/Filter/Join) that the OTHER rewrites can answer — a
    branch with a matching tile becomes an MV scan (r8 join-MV tier), a
    join branch can agg-join-transpose, and a pre-aggregated branch
    arrives at the union already collapsed. UNION (distinct) never
    matches: dedup before aggregation is not distributive.

    Refusals mirror the join transpose: non-bare-column group keys,
    non-splittable calls (DISTINCT / FILTER / expressions), DECIMAL
    SUM/AVG args (partial re-sum widens precision). Gate: every branch
    needs grounded NDVs showing the partial collapses (groups ≤
    rows/2); `gate=False` (tests/fuzz, the SQL hint keeps it on)
    bypasses the benefit check, never the soundness checks."""
    if (
        not isinstance(node, ir.Aggregate)
        or node.group_type != "SIMPLE"
        or node._no_transpose
        or not node.agg_calls
        or catalog is None
    ):
        return None
    child = node.inputs[0]
    if not isinstance(child, ir.SetOp) or child.kind != "UNION_ALL":
        return None
    for k in node.group_keys:
        if not _AJT_IDENT_RE.match(k.strip()):
            return None
    calls = [ir.AggCall.parse(c) for c in node.agg_calls]
    if not all(c is not None and c.splittable for c in calls):
        return None
    fresh = [f"__aut{i}{s}" for i in range(len(calls)) for s in ("", "s", "c")]
    sum_avg_args = {
        c.args[0] for c in calls if c.fn in ("SUM", "AVG") and c.args[0] != "*"
    }
    from calcite_spark.plans.metadata import MetadataQuery

    mq = MetadataQuery(catalog)
    for branch in child.inputs:
        dt = _output_dtypes(branch, catalog)
        if dt and any(c in dt for c in fresh):
            return None  # fresh-name collision
        if any(dt.get(a, "").startswith("decimal") for a in sum_avg_args):
            return None  # DECIMAL partial re-sum widens precision
        if gate:
            rows = mq.row_count(branch)
            if rows is None:
                return None
            groups = 1.0
            for k in node.group_keys:
                ndv = mq.distinct_row_count(branch, k.strip())
                if ndv is None:
                    return None
                groups *= ndv
            if min(groups, rows) > rows / 2:
                return None
    splits = [c.split(f"__aut{i}") for i, c in enumerate(calls)]
    partial_calls = tuple(pc for partials, _ in splits for pc in partials)
    new_branches = tuple(
        ir.Aggregate(tuple(node.group_keys), partial_calls, inputs=(b,))
        for b in child.inputs
    )
    return ir.Aggregate(
        tuple(node.group_keys),
        tuple(merge for _, merge in splits),
        inputs=(child.with_inputs(new_branches),),
        _no_transpose=True,
    )


DEFAULT_RULES = [
    Rule("EliminateRedundantExchange", _eliminate_redundant_exchange),
    # MV substitution runs BEFORE join reordering / agg-join transpose:
    # an Aggregate(Join) answered by a tile must become a tile scan, not
    # a (cheaper-but-still-live) transposed join — and the r8 join-MV
    # tier unifies against the ORIGINAL join subtree. TOP-DOWN so the
    # aggregate tiers claim their Aggregate before the SPF tier's
    # Filter-level rewrite dissolves the pattern underneath (review r8)
    Rule("MaterializedViewSubstitution", _materialized_view_substitute, top_down=True),
    Rule("MaterializedViewSPFSubstitution", _materialized_view_spf_substitute),
    Rule("JoinOrderStats", _join_order_stats),
    Rule("AggregateJoinTranspose", _aggregate_join_transpose),
    # after MV substitution (an Aggregate(Union) a tile could answer
    # whole is not split first) — its pushed per-branch aggregates then
    # become MV/transpose candidates on the NEXT fixpoint pass
    Rule("AggregateUnionTranspose", _aggregate_union_transpose),
    Rule("SortJoinTranspose", _sort_join_transpose),
    Rule("BroadcastSmallDimensions", _broadcast_small_dims),
    Rule("DateRangeCanonicalize", _date_range_canonicalize),
    # after DateRange so sargified ranges propagate across joins too
    Rule("JoinPushTransitivePredicates", _join_push_transitive_predicates),
    # FilterHilbert must see the COMPACT spatial form — keep it before
    # the macro-expansion rule
    Rule("FilterHilbert", _filter_hilbert),
    Rule("ExpandSpatialMacros", _expand_spatial_macros),
]


def default_program(catalog=None) -> "BoundProgram":
    return BoundProgram(HepProgram(DEFAULT_RULES), catalog)


class BoundProgram:
    def __init__(self, program: HepProgram, catalog):
        self.program = program
        self.catalog = catalog

    def run(self, plan: ir.RelNode) -> ir.RelNode:
        # corpus recording for the lattice suggester (≈ LatticeSuggester
        # hooking the planner): plan-time only, no executor cost
        suggester = getattr(self.catalog, "lattice_suggester", None)
        if suggester is not None:
            suggester.observe(plan)
        return self.program.run(plan, self.catalog)
