"""Relational metadata facade over IR plans ≈ Calcite's
rel/metadata/RelMetadataQuery.java:82 — ONE query surface unifying the
per-node derivation handlers the optimizer consumes:

  row_count            ≈ RelMdRowCount.java:52
  max/min_row_count    ≈ RelMdMaxRowCount.java / RelMdMinRowCount.java
  selectivity          ≈ RelMdSelectivity + RelMdUtil.guessSelectivity:504
  distinct_row_count   ≈ RelMdDistinctRowCount (via expression lineage)
  unique_keys          ≈ RelMdUniqueKeys / RelMdColumnUniqueness
  column_origins       ≈ RelMdColumnOrigins (delegates plans/lineage.py)
  pulled_up_predicates ≈ RelMdPredicates
  collation            ≈ RelMdCollation

Design contract, different from Calcite in one deliberate way: every
handler is METADATA-ONLY — derivations read catalog statistics
(ANALYZE / profiler-discovered keys, cached row counts) and the plan
shape; no handler runs a query. Where Calcite returns a guess, we
return the guess under the same constants (guessSelectivity: 0.15 for
equality, 0.5 for comparisons, 0.9 for IS NOT NULL, 0.25 otherwise)
and additionally report whether an estimate is GROUNDED (every factor
backed by a real statistic) so consumers like the broadcast rule can
act only on evidence — a guess must never force a 100 TB broadcast.

Unknown is an answer: handlers return None for nodes they cannot
reason about (NFA/loop/runtime nodes), never a fabricated number —
the same posture as Calcite handlers returning null to fall through.
"""

from __future__ import annotations

import re

from calcite_spark.plans import ir
from calcite_spark.sql import lexer

_EQUI = re.compile(r"^\s*([A-Za-z_]\w*)\s*=\s*([A-Za-z_]\w*)\s*$")
_EQ_LITERAL = re.compile(
    r"^\s*([A-Za-z_]\w*)\s*=\s*('[^']*'|-?\d+(?:\.\d+)?)\s*$"
)
_CMP_LITERAL = re.compile(
    r"^\s*([A-Za-z_]\w*)\s*(<=|>=|<|>|<>|!=)\s*('[^']*'|-?\d+(?:\.\d+)?)\s*$"
)
_IS_NOT_NULL = re.compile(r"^\s*[A-Za-z_]\w*\s+IS\s+NOT\s+NULL\s*$", re.I)
_BARE_COL = re.compile(r"^\s*[A-Za-z_]\w*\s*$")


class MetadataQuery:
    """≈ RelMetadataQuery: construct once per catalog, ask per node.
    Results are cached per (handler, node id) — IR nodes are immutable
    dataclasses, so identity caching is sound within a planning pass."""

    def __init__(self, catalog):
        self.catalog = catalog
        self._cache: dict = {}
        # id()-keyed caching requires the keyed nodes to stay alive —
        # a collected node's id can be reused by a NEW node and hit a
        # stale entry. Pinning is the standard fix (Calcite's cache is
        # keyed on live RelNode references for the same reason).
        self._pinned: list = []

    def _cached(self, key, fn, node):
        if key not in self._cache:
            self._pinned.append(node)
            self._cache[key] = fn()
        return self._cache[key]

    # -- row counts --------------------------------------------------

    def row_count(self, node: ir.RelNode) -> float | None:
        """Estimated output rows; None = cannot reason about this node."""
        return self._cached(("rc", id(node)), lambda: self._row_count(node), node)

    def _base_rows(self, table: str) -> float | None:
        entry = self.catalog.tables.get(table)
        if entry is not None and entry.row_count is not None:
            return float(entry.row_count)
        # cached-count fallback: one count() per table per session, the
        # same probe the join-order rules already rely on
        try:
            return float(self.catalog.row_count(table))
        except Exception:
            return None

    def _row_count(self, node) -> float | None:
        if isinstance(node, ir.Scan):
            return self._base_rows(node.table)
        if isinstance(node, ir.Values):
            return float(len(node.rows))
        if isinstance(node, ir.Filter):
            child = self.row_count(node.inputs[0])
            if child is None:
                return None
            sel, _ = self._selectivity_detail(node.inputs[0], node.condition)
            return max(child * sel, 1.0)
        if isinstance(node, ir.Sample):
            child = self.row_count(node.inputs[0])
            return None if child is None else child * node.fraction
        if isinstance(node, ir.Sort):
            child = self.row_count(node.inputs[0])
            if child is None:
                return None
            child = max(child - node.offset, 0.0)
            return min(child, node.fetch) if node.fetch is not None else child
        if isinstance(node, ir.Aggregate):
            return self._agg_row_count(node)
        if isinstance(node, ir.Join):
            return self._join_row_count(node)
        if isinstance(node, ir.SetOp):
            counts = [self.row_count(i) for i in node.inputs]
            if any(c is None for c in counts):
                return None
            if node.kind in ("UNION", "UNION_ALL"):
                return float(sum(counts))  # UNION dedups; sum is the bound
            if node.kind.startswith("INTERSECT"):
                return min(counts) / 2.0
            return counts[0] / 2.0  # EXCEPT[_ALL]
        if isinstance(node, (ir.Project, ir.Window, ir.Exchange, ir.Spool)):
            return self.row_count(node.inputs[0])
        if isinstance(node, ir.Snapshot):
            # latest-version-per-key: distinct keys of the input
            ndv = self.distinct_row_count(node.inputs[0], node.key)
            return ndv if ndv is not None else self.row_count(node.inputs[0])
        return None  # Match/RepeatUnion/Correlate/Uncollect: unknown

    def _agg_row_count(self, node: ir.Aggregate) -> float | None:
        child = self.row_count(node.inputs[0])
        if not node.group_keys:
            return 1.0
        if child is None:
            return None
        groups = 1.0
        for k in node.group_keys:
            base, _ = lexer.split_alias(k)
            ndv = (
                self.distinct_row_count(node.inputs[0], base)
                if _BARE_COL.match(base)
                else None
            )
            # unknown-NDV key: Calcite's default Aggregate estimate is a
            # fixed child fraction; we fold the same 10% per unknown key
            groups *= ndv if ndv is not None else max(child * 0.1, 1.0)
        if node.group_type == "GROUPING_SETS":
            groups *= max(len(node.grouping_sets), 1)
        elif node.group_type == "CUBE":
            groups *= 2 ** len(node.group_keys)
        elif node.group_type == "ROLLUP":
            groups *= len(node.group_keys) + 1
        return min(groups, child) if node.group_type == "SIMPLE" else groups

    def _join_row_count(self, node: ir.Join) -> float | None:
        l = self.row_count(node.inputs[0])
        r = self.row_count(node.inputs[1])
        if l is None or r is None:
            return None
        jt = node.join_type.upper()
        if jt in ("SEMI", "ANTI"):
            return max(l * 0.5, 1.0)
        if node.condition is None or jt == "CROSS":
            return l * r
        rows = l * r
        for c in _conjuncts(node.condition):
            m = _EQUI.match(c)
            if m:
                ndvs = [
                    v
                    for v in (
                        self.distinct_row_count(node.inputs[0], m.group(1))
                        or self.distinct_row_count(node.inputs[1], m.group(1)),
                        self.distinct_row_count(node.inputs[0], m.group(2))
                        or self.distinct_row_count(node.inputs[1], m.group(2)),
                    )
                    if v
                ]
                rows /= max(max(ndvs), 1.0) if ndvs else max(min(l, r), 1.0)
            else:
                rows *= 0.25
        rows = max(rows, 1.0)
        if jt == "LEFT":
            rows = max(rows, l)
        elif jt == "RIGHT":
            rows = max(rows, r)
        elif jt == "FULL":
            rows = max(rows, l + r)
        return rows

    def max_row_count(self, node: ir.RelNode) -> float | None:
        """HARD upper bound on output rows; None = unbounded/unknown.
        Unlike row_count this never uses statistics — only plan shape —
        so it is safe for correctness-bearing rewrites (Calcite uses it
        to e.g. drop sorts under a known-single-row input)."""
        return self._cached(("maxrc", id(node)), lambda: self._max_row_count(node), node)

    def _max_row_count(self, node) -> float | None:
        if isinstance(node, ir.Values):
            return float(len(node.rows))
        if isinstance(node, (ir.Filter, ir.Sample)):
            return self.max_row_count(node.inputs[0])
        if isinstance(node, ir.Sort):
            child = self.max_row_count(node.inputs[0])
            if node.fetch is not None:
                return (
                    float(node.fetch)
                    if child is None
                    else min(child, float(node.fetch))
                )
            return child
        if isinstance(node, ir.Aggregate):
            if not node.group_keys:
                return 1.0
            child = self.max_row_count(node.inputs[0])
            if child is None:
                return None
            if node.group_type == "GROUPING_SETS":
                return child * max(len(node.grouping_sets), 1)
            if node.group_type == "CUBE":
                return child * 2 ** len(node.group_keys)
            if node.group_type == "ROLLUP":
                return child * (len(node.group_keys) + 1)
            return child
        if isinstance(node, ir.Join):
            l = self.max_row_count(node.inputs[0])
            r = self.max_row_count(node.inputs[1])
            jt = node.join_type.upper()
            if jt in ("SEMI", "ANTI"):
                return l
            if l is None or r is None:
                return None
            # outer joins emit null-extended rows even when the other
            # side matches nothing — l*r alone UNDERSTATES the bound
            # when a side can be empty (l*0 = 0 but LEFT still emits l)
            if jt == "LEFT":
                return l * max(r, 1.0)
            if jt == "RIGHT":
                return max(l, 1.0) * r
            if jt == "FULL":
                return l * r + l + r
            return l * r
        if isinstance(node, ir.SetOp):
            bounds = [self.max_row_count(i) for i in node.inputs]
            if node.kind in ("UNION", "UNION_ALL"):
                return None if any(b is None for b in bounds) else float(sum(bounds))
            known = [b for b in bounds if b is not None]
            if node.kind.startswith("INTERSECT"):
                return min(known) if known else None
            return bounds[0]  # EXCEPT[_ALL]
        if isinstance(node, (ir.Project, ir.Window, ir.Exchange, ir.Spool)):
            return self.max_row_count(node.inputs[0])
        return None  # Scan (stats are estimates, not bounds), others

    def min_row_count(self, node: ir.RelNode) -> float:
        """Guaranteed minimum output rows (0 unless provable)."""
        if isinstance(node, ir.Values):
            return float(len(node.rows))
        if isinstance(node, ir.Aggregate) and not node.group_keys:
            return 1.0  # global aggregate yields one row even on empty input
        if isinstance(node, ir.Sort):
            inner = self.min_row_count(node.inputs[0])
            inner = max(inner - node.offset, 0.0)
            return min(inner, node.fetch) if node.fetch is not None else inner
        if isinstance(node, (ir.Project, ir.Window, ir.Exchange, ir.Spool)):
            return self.min_row_count(node.inputs[0])
        if isinstance(node, ir.SetOp) and node.kind in ("UNION", "UNION_ALL"):
            mins = [self.min_row_count(i) for i in node.inputs]
            if node.kind == "UNION_ALL":
                return float(sum(mins))
            # UNION dedups: a 3-row input can collapse to 1 — the only
            # provable minimum is "non-empty" when any input is
            return 1.0 if any(m >= 1 for m in mins) else 0.0
        if isinstance(node, ir.Join) and node.join_type.upper() == "FULL":
            return max(
                self.min_row_count(node.inputs[0]),
                self.min_row_count(node.inputs[1]),
            )
        return 0.0

    # -- selectivity --------------------------------------------------

    def selectivity(self, node: ir.RelNode | None, condition: str) -> float:
        """Fraction of `node`'s rows satisfying `condition`
        ≈ RelMdSelectivity with RelMdUtil.guessSelectivity's constants,
        upgraded to 1/NDV for equality on a statistics-backed column."""
        return self._selectivity_detail(node, condition)[0]

    def _selectivity_detail(
        self, node: ir.RelNode | None, condition: str
    ) -> tuple[float, bool]:
        """(selectivity, grounded): grounded only when EVERY conjunct's
        factor came from a real statistic rather than a guess constant."""
        sel, grounded = 1.0, True
        for c in _conjuncts(condition):
            m = _EQ_LITERAL.match(c)
            if m:
                ndv = (
                    self.distinct_row_count(node, m.group(1))
                    if node is not None
                    else None
                )
                if ndv:
                    sel *= 1.0 / ndv
                    continue
                sel *= 0.15  # guessSelectivity: equality
                grounded = False
                continue
            if _CMP_LITERAL.match(c):
                sel *= 0.5  # guessSelectivity: comparison
                grounded = False
                continue
            if _IS_NOT_NULL.match(c):
                sel *= 0.9  # guessSelectivity: IS NOT NULL
                grounded = False
                continue
            sel *= 0.25  # guessSelectivity: default
            grounded = False
        return sel, grounded

    # -- distinct values ----------------------------------------------

    def distinct_row_count(self, node: ir.RelNode, column: str) -> float | None:
        """NDV of `column` at `node` ≈ RelMdDistinctRowCount: resolve
        the column to its base-table origin through expression lineage
        (RelMdExpressionLineage's role), read the ANALYZE/profiler NDV
        there, cap by this node's estimated row count. Derived columns
        and multi-origin columns answer None."""
        return self._cached(
            ("ndv", id(node), column),
            lambda: self._distinct_row_count(node, column),
            node,
        )

    def _distinct_row_count(self, node, column) -> float | None:
        from calcite_spark.plans.lineage import column_origins

        try:
            origins = column_origins(node, column, self.catalog)
        except Exception:
            return None
        if origins is None or len(origins) != 1:
            return None
        (o,) = origins
        if o.derived:
            return None
        ndv = self.catalog.column_ndv(o.table, o.column)
        if ndv is None:
            return None
        rc = self.row_count(node)
        return float(min(ndv, rc)) if rc is not None else float(ndv)

    # -- unique keys --------------------------------------------------

    def unique_keys(self, node: ir.RelNode) -> set[tuple[str, ...]]:
        """Column sets guaranteed unique on node's output
        ≈ RelMdUniqueKeys. Sources: declared/discovered table keys
        (profiler lattice walk), Aggregate group keys, Snapshot's
        latest-per-key contract, and FK-join preservation (joining on
        the OTHER side's unique key keeps this side's keys unique)."""
        return self._cached(("uk", id(node)), lambda: self._unique_keys(node), node)

    def _unique_keys(self, node) -> set:
        if isinstance(node, ir.Scan):
            entry = self.catalog.tables.get(node.table)
            return {tuple(k) for k in entry.unique_keys} if entry else set()
        if isinstance(node, (ir.Filter, ir.Sort, ir.Exchange, ir.Sample, ir.Spool)):
            return self.unique_keys(node.inputs[0])
        if isinstance(node, ir.Snapshot):
            return self.unique_keys(node.inputs[0]) | {(node.key,)}
        if isinstance(node, ir.Project):
            renames, passed = {}, set()
            for e in node.exprs:
                if e == "*":
                    return self.unique_keys(node.inputs[0])
                body, alias = lexer.split_alias(e)
                if _BARE_COL.match(body):
                    out_name = alias or body
                    renames[body] = out_name
                    passed.add(body)
            out = set()
            for key in self.unique_keys(node.inputs[0]):
                if all(c in passed for c in key):
                    out.add(tuple(renames[c] for c in key))
            return out
        if isinstance(node, ir.Aggregate):
            if node.group_type != "SIMPLE" or not node.group_keys:
                return set()
            names = tuple(
                alias or body for body, alias in map(lexer.split_alias, node.group_keys)
            )
            return {names}
        if isinstance(node, ir.Join):
            jt = node.join_type.upper()
            lk = self.unique_keys(node.inputs[0])
            rk = self.unique_keys(node.inputs[1])
            if jt in ("SEMI", "ANTI"):
                return lk
            if node.condition is None or jt not in ("INNER", "LEFT", "RIGHT"):
                return set()
            eq_cols = set()
            for c in _conjuncts(node.condition):
                m = _EQUI.match(c)
                if m:
                    eq_cols.update(m.groups())
            out = set()
            # right side joined on one of ITS unique keys → ≤1 match per
            # left row → left keys stay unique (and vice versa)
            if any(set(k) <= eq_cols for k in rk) and jt in ("INNER", "LEFT"):
                out |= lk
            if any(set(k) <= eq_cols for k in lk) and jt in ("INNER", "RIGHT"):
                out |= rk
            return out
        return set()

    # -- column origins (delegates the lineage walker) ----------------

    def column_origins(self, node: ir.RelNode, column: str):
        from calcite_spark.plans.lineage import column_origins

        return column_origins(node, column, self.catalog)

    # -- pulled-up predicates -----------------------------------------

    def pulled_up_predicates(self, node: ir.RelNode) -> list[str]:
        """Conjuncts guaranteed true on every output row
        ≈ RelMdPredicates. Null-extension gates the join cases exactly
        as the transitive-inference rule does: only the non-null-
        extended side's predicates survive an outer join."""
        return self._cached(("preds", id(node)), lambda: self._preds(node), node)

    def _preds(self, node) -> list:
        def uniq(seq):
            seen, out = set(), []
            for p in seq:
                k = lexer.squeeze(p.strip())
                if k not in seen:
                    seen.add(k)
                    out.append(p.strip())
            return out

        if isinstance(node, ir.Filter):
            return uniq(
                _conjuncts(node.condition) + self._preds(node.inputs[0])
            )
        if isinstance(node, (ir.Sort, ir.Exchange, ir.Sample, ir.Spool, ir.Window)):
            return self._preds(node.inputs[0])
        if isinstance(node, ir.Project):
            out_names = set()
            for e in node.exprs:
                if e == "*":
                    return self._preds(node.inputs[0])
                body, alias = lexer.split_alias(e)
                if _BARE_COL.match(body) and alias is None:
                    out_names.add(body)
            return uniq(
                p
                for p in self._preds(node.inputs[0])
                if {r.lower() for r in lexer.column_refs(p)} <= {c.lower() for c in out_names}
            )
        if isinstance(node, ir.Join):
            jt = node.join_type.upper()
            if jt == "INNER":
                return uniq(
                    self._preds(node.inputs[0])
                    + self._preds(node.inputs[1])
                    + (_conjuncts(node.condition) if node.condition else [])
                )
            if jt in ("LEFT", "SEMI", "ANTI"):
                return self._preds(node.inputs[0])
            if jt == "RIGHT":
                return self._preds(node.inputs[1])
            return []
        if isinstance(node, ir.Aggregate):
            keys = {
                alias or body for body, alias in map(lexer.split_alias, node.group_keys)
            }
            return uniq(
                p
                for p in self._preds(node.inputs[0])
                if {r.lower() for r in lexer.column_refs(p)} <= {c.lower() for c in keys}
            )
        return []

    # -- collation ----------------------------------------------------

    def collation(self, node: ir.RelNode) -> tuple[str, ...]:
        """Output ordering as a trait ≈ RelMdCollation: established by
        Sort, preserved by order-preserving unary nodes. A TRAIT, not a
        physical guarantee across exchanges — Spark re-establishes
        ordering at the root Sort; consumers use this for sort-removal
        style reasoning only."""
        if isinstance(node, ir.Sort):
            return tuple(node.keys)
        if isinstance(node, (ir.Filter, ir.Project, ir.Sample, ir.Spool)):
            return self.collation(node.inputs[0])
        if isinstance(node, ir.Exchange):
            return tuple(node.keys) if node.distribution == "range" else ()
        return ()

    # -- distribution -------------------------------------------------

    def distribution(self, node: ir.RelNode) -> tuple[str, tuple]:
        """Partitioning trait ≈ RelMdDistribution: ``(kind, keys)``
        with kind ∈ hash | range | broadcast | singleton | any.
        Reference rules mirrored exactly (RelMdDistribution.java):
        Exchange reports its own distribution (:112), Values is
        BROADCAST_DISTRIBUTED (:175), Filter/Sort/limit/Snapshot/
        TableModify pass the input through (:126-146), Project applies
        the column mapping — a distribution key the projection drops
        degrades the trait to ANY (:164-171), BiRel/SetOp default to
        ANY (:83-89). One documented Spark-side EXTENSION: Aggregate
        reports hash(group keys) — Spark's physical hash aggregate has
        exchanged on exactly those keys, and downstream same-key
        operators (z70's pattern) reuse that exchange; the reference's
        SingleRel fallthrough would claim the input's distribution,
        which is physically wrong after a shuffle."""
        return self._cached(("dist", id(node)), lambda: self._distribution(node), node)

    def _distribution(self, node) -> tuple[str, tuple]:
        if isinstance(node, ir.Exchange):
            return (node.distribution, tuple(node.keys))
        if isinstance(node, ir.Values):
            return ("broadcast", ())
        if isinstance(node, ir.Aggregate):
            if node.group_type != "SIMPLE":
                # ROLLUP/CUBE/GROUPING SETS physically shuffle on
                # (keys, grouping_id) and emit subtotal rows with NULL
                # keys — claiming hash(keys) here would let the
                # redundant-exchange rule delete a NEEDED repartition
                # (review r6)
                return ("any", ())
            keys = tuple(getattr(node, "group_keys", ()) or ())
            return ("hash", keys) if keys else ("singleton", ())
        if isinstance(node, ir.Project):
            kind, keys = self.distribution(node.inputs[0])
            if not keys:
                return (kind, keys)
            # survive the projection under identity or aliasing
            out = {}
            for e in node.exprs:
                expr, alias = lexer.split_alias(e)
                out[expr.strip()] = (alias or expr).strip()
            mapped = tuple(out.get(k) for k in keys)
            if all(m is not None for m in mapped):
                return (kind, mapped)
            return ("any", ())
        if isinstance(node, (ir.Filter, ir.Sort, ir.Sample, ir.Spool,
                             ir.Snapshot)):
            return self.distribution(node.inputs[0])
        return ("any", ())

    # -- cumulative cost -----------------------------------------------

    def cumulative_cost(self, node: ir.RelNode) -> float | None:
        """≈ RelMdCumulativeCost: the cost of computing this node AND
        its whole input subtree. Non-cumulative per-node cost is the
        node's estimated output row count (row-oriented C_out — the
        same model the join-reorder rules optimize, rewrite.py's
        estimate_plan_cost); the cumulative figure sums it over the
        tree. None propagates when any subtree's rows are unknown
        (never fabricate — the facade convention)."""
        return self._cached(
            ("cumcost", id(node)), lambda: self._cumulative_cost(node), node
        )

    def _cumulative_cost(self, node) -> float | None:
        own = self.non_cumulative_cost(node)
        if own is None:
            return None
        total = own
        for child in node.inputs:
            c = self.cumulative_cost(child)
            if c is None:
                return None
            total += c
        return total

    def non_cumulative_cost(self, node: ir.RelNode) -> float | None:
        """≈ RelMdNonCumulativeCost: this node's own cost only — its
        estimated output cardinality under the C_out model."""
        return self.row_count(node)

    # -- population / original-row fraction ---------------------------

    def population_size(self, node: ir.RelNode, columns) -> float | None:
        """Distinct combinations of ``columns`` in the node's output ≈
        RelMdPopulationSize: the product of the per-column NDVs capped
        by the row count (RelMdUtil.numDistinctVals-style cap — the
        product over-counts correlated columns, the row count is the
        hard bound). None when any column's NDV is unknown."""
        rows = self.row_count(node)
        prod = 1.0
        for c in columns:
            ndv = self.distinct_row_count(node, c)
            if ndv is None:
                return None
            prod *= max(ndv, 1.0)
        return min(prod, rows) if rows is not None else prod

    def percentage_original_rows(self, node: ir.RelNode) -> float | None:
        """Fraction of the original base-table rows still represented ≈
        RelMdPercentageOriginalRows: 1.0 at a Scan, multiplied down by
        Filter selectivity, joins compose multiplicatively (each side's
        surviving fraction), Aggregate and other row-collapsing nodes
        pass their input's fraction through (they re-shape rows, they
        do not discard source rows)."""
        if isinstance(node, (ir.Scan, ir.Values)):
            return 1.0
        if isinstance(node, ir.Filter):
            child = self.percentage_original_rows(node.inputs[0])
            if child is None:
                return None
            sel, _ = self._selectivity_detail(node.inputs[0], node.condition)
            return child * sel
        if isinstance(node, ir.Sample):
            child = self.percentage_original_rows(node.inputs[0])
            return None if child is None else child * node.fraction
        if isinstance(node, ir.Sort) and (node.fetch is not None or node.offset):
            # LIMIT/OFFSET discard rows exactly as Filter does; scale by
            # the surviving fraction when the child count is known
            child = self.percentage_original_rows(node.inputs[0])
            rows = self.row_count(node.inputs[0])
            if child is None or rows is None or rows <= 0:
                return None
            kept = max(rows - node.offset, 0.0)
            if node.fetch is not None:
                kept = min(kept, node.fetch)
            return child * min(kept / rows, 1.0)
        if isinstance(node, ir.Join):
            l = self.percentage_original_rows(node.inputs[0])
            r = self.percentage_original_rows(node.inputs[1])
            if l is None or r is None:
                return None
            return l * r
        if isinstance(node, ir.SetOp):
            fracs = [self.percentage_original_rows(i) for i in node.inputs]
            rows = [self.row_count(i) for i in node.inputs]
            if any(f is None for f in fracs):
                return None
            if any(x is None for x in rows) or not sum(rows):
                return sum(fracs) / len(fracs)
            return sum(f * w for f, w in zip(fracs, rows)) / sum(rows)
        if node.inputs:
            return self.percentage_original_rows(node.inputs[0])
        return None

    # -- sizes ≈ RelMdSize.java ---------------------------------------

    # averageTypeValueSize (RelMdSize.java:330) widths, keyed by Spark
    # dtype strings. Strings/binary have no fixed width: the handler
    # uses the ANALYZEd mean byte length when one exists and the
    # reference's 100-byte cap otherwise ("even in large columns most
    # strings are small").
    _TYPE_BYTES = {
        "boolean": 1.0, "tinyint": 1.0, "byte": 1.0,
        "smallint": 2.0, "short": 2.0,
        "int": 4.0, "float": 4.0, "date": 4.0,
        "bigint": 8.0, "long": 8.0, "double": 8.0,
        "timestamp": 8.0, "timestamp_ntz": 8.0,
    }
    _STRING_DEFAULT = 100.0  # RelMdSize VARCHAR cap
    _EXPR_DEFAULT = 32.0     # RelMdSize.typeValueSize default arm

    def average_column_sizes(self, node: ir.RelNode) -> dict | None:
        """Per-output-column mean width in bytes ≈
        RelMdSize.averageColumnSizes. Metadata-only up to a schema
        probe on base tables (the same engine contact the lineage
        walk allows — never a data scan); a column the handler cannot
        size maps to None. Returns None for nodes with unmodeled
        output shapes (Uncollect, Match, ...)."""
        return self._cached(
            ("colsz", id(node)), lambda: self._col_sizes(node), node
        )

    def _col_sizes(self, node) -> dict | None:
        if isinstance(node, ir.Scan):
            entry = self.catalog.tables.get(node.table)
            try:
                dtypes = self.catalog.table(node.table).dtypes
            except Exception:
                return None
            stats = (entry.stats or {}).get("columns", {}) if entry else {}
            out = {}
            for c, t in dtypes:
                if t in self._TYPE_BYTES:
                    out[c] = self._TYPE_BYTES[t]
                elif t.startswith("decimal"):
                    out[c] = 4.0  # RelMdSize DECIMAL arm
                elif t in ("string", "binary"):
                    measured = stats.get(c, {}).get("avg_len")
                    out[c] = (
                        float(measured)
                        if measured is not None
                        else self._STRING_DEFAULT
                    )
                else:
                    out[c] = None  # array/map/struct: unknown
            return out
        if isinstance(
            node, (ir.Filter, ir.Sort, ir.Exchange, ir.Sample, ir.Spool,
                   ir.Snapshot)
        ):
            return self.average_column_sizes(node.inputs[0])
        if isinstance(node, ir.Project):
            child = self.average_column_sizes(node.inputs[0]) or {}
            out = {}
            for e in node.exprs:
                if e == "*":
                    out.update(child)
                    continue
                body, alias = lexer.split_alias(e)
                if _BARE_COL.match(body):
                    out[alias or body] = child.get(body)
                else:
                    out[alias or body] = self._EXPR_DEFAULT
            return out
        if isinstance(node, ir.Window):
            child = self.average_column_sizes(node.inputs[0]) or {}
            out = {}
            for k in node.keep:
                if k == "*":
                    out.update(child)
                else:
                    out[k] = child.get(k)
            for e in node.window_exprs:
                _, alias = lexer.split_alias(e)
                if alias:
                    out[alias] = 8.0  # ranking/offset results are longs
            return out
        if isinstance(node, ir.Join):
            left = self.average_column_sizes(node.inputs[0])
            if node.join_type.upper() in ("SEMI", "ANTI"):
                return left
            right = self.average_column_sizes(node.inputs[1])
            if left is None or right is None:
                return None
            return {**left, **right}
        if isinstance(node, ir.Aggregate):
            child = self.average_column_sizes(node.inputs[0]) or {}
            out = {}
            for k in node.group_keys:
                body, alias = lexer.split_alias(k)
                out[alias or body] = (
                    child.get(body) if _BARE_COL.match(body) else self._EXPR_DEFAULT
                )
            for c in node.agg_calls:
                _, alias = lexer.split_alias(c)
                if alias:
                    # averageTypeValueSize(aggregateCall.type): the
                    # standard aggregates are numeric → 8 bytes
                    out[alias] = 8.0
            return out
        if isinstance(node, ir.Values):
            names = ir.schema_column_names(node.schema)
            # defense in depth: if the schema string is malformed and
            # the name count disagrees with the row width, answer
            # unknown rather than mis-index the rows
            if node.rows and len(names) != len(node.rows[0]):
                return None
            out = {}
            for i, n in enumerate(names):
                vals = [r[i] for r in node.rows if r[i] is not None]
                if not vals:
                    out[n] = 1.0
                    continue
                out[n] = sum(
                    len(v.encode()) if isinstance(v, str)
                    else 1.0 if isinstance(v, bool)
                    else 8.0
                    for v in vals
                ) / len(vals)
            return out
        if isinstance(node, ir.SetOp):
            # positional merge; first input names the output (the
            # reference averages across inputs — first-input widths are
            # the same columns at our surface)
            return self.average_column_sizes(node.inputs[0])
        return None

    def average_row_size(self, node: ir.RelNode) -> float | None:
        """Mean output-row width in bytes ≈ RelMdSize.averageRowSize:
        the sum of the known column widths (unknown columns contribute
        nothing, as the reference's null-skipping sum does)."""
        sizes = self.average_column_sizes(node)
        if not sizes:
            return None
        known = [v for v in sizes.values() if v is not None]
        return sum(known) if known else None


def _conjuncts(condition: str) -> list[str]:
    from calcite_spark.plans.rewrite import _split_conjuncts

    return _split_conjuncts(condition)
