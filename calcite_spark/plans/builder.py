"""RelBuilder ≈ tools/RelBuilder.java (reference: 5,520 LoC fluent algebra
builder — scan:1789 filter:1905 project:1973 aggregate:2475 join:3291
semiJoin:3455 antiJoin:3492 asofJoin:3258 union:3100 sort:3745 ...).

Stack-based: each call pushes/pops IR nodes; `.build()` returns the tree,
`.to_df(catalog)` runs the rewrite program then lowers to a DataFrame.
"""

from __future__ import annotations

from typing import Optional

from pyspark.sql import DataFrame

from calcite_spark.plans import ir


class RelBuilder:
    def __init__(self, catalog=None):
        self.catalog = catalog
        self._stack: list[ir.RelNode] = []
        # SQL measures ≈ SqlTypeName.MEASURE:138 + MeasureRules.java +
        # the library AGGREGATE() function (measure.iq): named aggregate
        # expressions expanded in whatever grouping context uses them.
        self._measures: dict[str, str] = dict(getattr(catalog, "measures", {}) or {})

    def define_measure(self, name: str, agg_expr: str) -> "RelBuilder":
        """col AS MEASURE — register a context-sensitive aggregate
        expression; reference it in aggregate() calls as AGGREGATE(name)."""
        self._measures[name] = agg_expr
        if self.catalog is not None:
            if not hasattr(self.catalog, "measures"):
                self.catalog.measures = {}
            self.catalog.measures[name] = agg_expr
        return self

    def _expand_measures(self, calls):
        import re

        out = []
        for call in calls:
            def sub(m):
                name = m.group(1)
                if name not in self._measures:
                    raise KeyError(f"unknown measure {name!r}")
                return f"({self._measures[name]})"

            out.append(re.sub(r"AGGREGATE\s*\(\s*(\w+)\s*\)", sub, call))
        return out

    # -- stack plumbing ----------------------------------------------
    def _push(self, node: ir.RelNode) -> "RelBuilder":
        self._stack.append(node)
        return self

    def _pop(self, n: int = 1) -> list[ir.RelNode]:
        nodes = self._stack[-n:]
        del self._stack[-n:]
        return nodes

    def peek(self) -> ir.RelNode:
        return self._stack[-1]

    def build(self) -> ir.RelNode:
        return self._pop()[0]

    # -- leaves -------------------------------------------------------
    def scan(self, table: str) -> "RelBuilder":
        return self._push(ir.Scan(table))

    def values(self, rows, schema: str) -> "RelBuilder":
        return self._push(ir.Values(rows, schema))

    # -- unary --------------------------------------------------------
    def filter(self, condition: str) -> "RelBuilder":
        (child,) = self._pop()
        return self._push(ir.Filter(condition, inputs=(child,)))

    def project(self, *exprs: str) -> "RelBuilder":
        (child,) = self._pop()
        return self._push(ir.Project(tuple(exprs), inputs=(child,)))

    def aggregate(self, group_keys, agg_calls, group_type="SIMPLE", grouping_sets=()) -> "RelBuilder":
        (child,) = self._pop()
        agg_calls = self._expand_measures(agg_calls)
        return self._push(
            ir.Aggregate(
                tuple(group_keys),
                tuple(agg_calls),
                group_type,
                tuple(tuple(s) for s in grouping_sets),
                inputs=(child,),
            )
        )

    def window(self, window_exprs, keep=("*",)) -> "RelBuilder":
        (child,) = self._pop()
        return self._push(ir.Window(tuple(window_exprs), tuple(keep), inputs=(child,)))

    def sort(self, *keys: str) -> "RelBuilder":
        (child,) = self._pop()
        return self._push(ir.Sort(tuple(keys), inputs=(child,)))

    def sort_limit(self, keys, offset: int = 0, fetch: Optional[int] = None) -> "RelBuilder":
        (child,) = self._pop()
        return self._push(ir.Sort(tuple(keys), offset, fetch, inputs=(child,)))

    def limit(self, fetch: int, offset: int = 0) -> "RelBuilder":
        (child,) = self._pop()
        return self._push(ir.Sort((), offset, fetch, inputs=(child,)))

    def sample(self, fraction: float, seed=None) -> "RelBuilder":
        (child,) = self._pop()
        return self._push(ir.Sample(fraction, seed, inputs=(child,)))

    def uncollect(self, array_expr: str, alias="col", with_ordinality=False, keep=()) -> "RelBuilder":
        (child,) = self._pop()
        return self._push(
            ir.Uncollect(array_expr, alias, with_ordinality, tuple(keep), inputs=(child,))
        )

    def collect(self, group_keys, collect_expr: str, alias="collected") -> "RelBuilder":
        (child,) = self._pop()
        return self._push(ir.Collect(tuple(group_keys), collect_expr, alias, inputs=(child,)))

    def exchange(self, distribution="hash", keys=(), num_partitions=None) -> "RelBuilder":
        (child,) = self._pop()
        return self._push(ir.Exchange(distribution, tuple(keys), num_partitions, inputs=(child,)))

    def snapshot(self, as_of: str, key: str, version_col: str, tiebreaker: str = "") -> "RelBuilder":
        (child,) = self._pop()
        return self._push(ir.Snapshot(as_of, key, version_col, tiebreaker, inputs=(child,)))

    # -- binary / n-ary ----------------------------------------------
    def join(self, condition, join_type="INNER", broadcast_right=False, broadcast_left=False) -> "RelBuilder":
        right, = self._pop()
        left, = self._pop()
        return self._push(
            ir.Join(condition, join_type, broadcast_right, broadcast_left, inputs=(left, right))
        )

    def semi_join(self, condition, **kw) -> "RelBuilder":
        return self.join(condition, "SEMI", **kw)

    def anti_join(self, condition, **kw) -> "RelBuilder":
        return self.join(condition, "ANTI", **kw)

    def asof_join(self, equi_keys, match_condition, join_type="ASOF") -> "RelBuilder":
        from calcite_spark.operators.asof import AsofJoin

        right, = self._pop()
        left, = self._pop()
        return self._push(
            AsofJoin(tuple(equi_keys), match_condition, join_type, inputs=(left, right))
        )

    def union(self, all: bool = False, n: int = 2) -> "RelBuilder":
        return self._setop("UNION_ALL" if all else "UNION", n)

    def intersect(self, all: bool = False, n: int = 2) -> "RelBuilder":
        return self._setop("INTERSECT_ALL" if all else "INTERSECT", n)

    def minus(self, all: bool = False, n: int = 2) -> "RelBuilder":
        return self._setop("EXCEPT_ALL" if all else "EXCEPT", n)

    def _setop(self, kind: str, n: int) -> "RelBuilder":
        nodes = self._pop(n)
        return self._push(ir.SetOp(kind, inputs=tuple(nodes)))

    def repeat_union(self, step, all=True, max_iterations=100) -> "RelBuilder":
        (seed,) = self._pop()
        return self._push(ir.RepeatUnion(seed, step, all, max_iterations))

    # -- execution ----------------------------------------------------
    def to_df(self, catalog=None) -> DataFrame:
        from calcite_spark.plans.rewrite import default_program

        catalog = catalog or self.catalog
        plan = self.build()
        plan = default_program(catalog).run(plan)
        return plan.to_df(catalog)
