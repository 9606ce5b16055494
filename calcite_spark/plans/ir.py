"""Logical plan IR ≈ Calcite's RelNode algebra (reference:
core/src/main/java/org/apache/calcite/rel/core/*.java — one class per
operator; see SURVEY.md §2.1).

The IR exists so that rewrites Catalyst cannot do (materialized-view
substitution, ASOF lowering, recursive union, measure expansion) run
*before* Spark sees the plan. Lowering (`to_df`) emits idiomatic
DataFrame calls — Catalyst then does pushdown/pruning/join-selection,
i.e. we intentionally do NOT rebuild VolcanoPlanner
(plan/volcano/VolcanoPlanner.java); Spark is our physical planner.

Scalar expressions are Spark SQL strings (≈ RexNode in SQL form): they
stay JVM-side and inside whole-stage codegen.
"""

from __future__ import annotations

import re

from dataclasses import dataclass, field
from typing import Optional, Sequence

from pyspark.sql import Column, DataFrame, functions as F


class RelNode:
    """Base relational operator ≈ rel/RelNode.java."""

    inputs: tuple["RelNode", ...] = ()

    def to_df(self, ctx) -> DataFrame:  # ctx: calcite_spark.catalog.Catalog
        raise NotImplementedError

    # -- structural helpers for the rewrite layer ---------------------
    def with_inputs(self, inputs: Sequence["RelNode"]) -> "RelNode":
        import copy

        node = copy.copy(self)
        node.inputs = tuple(inputs)
        return node

    def accept(self, visitor):
        """Bottom-up transform ≈ RelShuttle: visitor(node) -> node|None."""
        new_inputs = [child.accept(visitor) for child in self.inputs]
        node = self if list(new_inputs) == list(self.inputs) else self.with_inputs(new_inputs)
        replaced = visitor(node)
        return node if replaced is None else replaced

    def explain_str(self, indent: int = 0) -> str:
        head = " " * indent + repr(self)
        return "\n".join([head] + [c.explain_str(indent + 2) for c in self.inputs])

    def __repr__(self):
        name = type(self).__name__
        attrs = {
            k: v
            for k, v in vars(self).items()
            if k != "inputs" and v not in (None, (), [], {}) and not k.startswith("_")
        }
        return f"{name}({', '.join(f'{k}={v!r}' for k, v in attrs.items())})"


# ---------------------------------------------------------------------
# Leaves
# ---------------------------------------------------------------------


@dataclass(repr=False)
class Scan(RelNode):
    """≈ rel/core/TableScan.java:54 → spark.read / catalog lookup."""

    table: str
    inputs: tuple = ()

    def to_df(self, ctx) -> DataFrame:
        return ctx.table(self.table)


def _split_schema_fields(schema: str) -> list:
    """Split a DDL schema on top-level commas only (decimal(10,2),
    array<...>, struct<...> carry nested commas)."""
    fields, depth, start = [], 0, 0
    for i, ch in enumerate(schema):
        if ch in "(<":
            depth += 1
        elif ch in ")>":
            depth -= 1
        elif ch == "," and depth == 0:
            fields.append(schema[start:i].strip())
            start = i + 1
    fields.append(schema[start:].strip())
    return [f for f in fields if f]


@dataclass(repr=False)
class Values(RelNode):
    """≈ rel/core/Values.java:51 → an inline VALUES table (LocalRelation).

    r14: lowered via spark.sql("SELECT * FROM VALUES ...") instead of
    spark.createDataFrame — the latter ships a pickled RDD that plans as
    `Scan ExistingRDD` (an extra job per broadcast build, rows pickled
    per run, no codegen'd LocalTableScan); an inline table folds to a
    LocalTableScan whose rows live in the plan itself. Every cell is
    CAST('literal' AS declared-type) so values are bit-identical to the
    createDataFrame path (string→double parse is correctly rounded).
    Non-scalar cells (arrays/maps/rows) fall back to createDataFrame.
    """

    rows: list
    schema: str  # e.g. "a int, b string"
    inputs: tuple = ()

    def to_df(self, ctx) -> DataFrame:
        fields = [f.split(None, 1) for f in _split_schema_fields(self.schema)]
        if self.rows and all(len(f) == 2 for f in fields):
            try:
                rows_sql = ", ".join(
                    "(" + ", ".join(self._cell(v, t) for v, (_, t) in zip(r, fields, strict=True)) + ")"
                    for r in self.rows
                )
                # column names backquoted (ADVICE r14): a name needing
                # quoting must not fail a path createDataFrame accepted
                names = ", ".join(f"`{n}`" for n, _ in fields)
                return ctx.spark.sql(
                    f"SELECT * FROM (VALUES {rows_sql}) AS __values__({names})"
                )
            except TypeError:
                pass  # non-scalar cell → createDataFrame fallback below
            except Exception:
                # ADVICE r14: a schema whose type text is not CAST-able
                # (e.g. "a int not null") or any other parse/analysis
                # error must fall back, not break a shape that worked
                # before the inline-VALUES lowering
                pass
        return ctx.spark.createDataFrame(self.rows, schema=self.schema)

    @staticmethod
    def _cell(v, typ: str) -> str:
        import datetime

        if v is None:
            return f"CAST(NULL AS {typ})"
        if isinstance(v, bool):
            return f"CAST({'true' if v else 'false'} AS {typ})"
        if isinstance(v, (int, float, datetime.date, datetime.datetime)):
            return f"CAST('{v!r}' AS {typ})" if isinstance(v, (int, float)) else f"CAST('{v}' AS {typ})"
        if isinstance(v, str):
            esc = v.replace("\\", "\\\\").replace("'", "\\'")
            return f"CAST('{esc}' AS {typ})"
        raise TypeError(f"non-scalar VALUES cell: {type(v)}")


# ---------------------------------------------------------------------
# Single-input operators
# ---------------------------------------------------------------------


@dataclass(repr=False)
class Project(RelNode):
    """≈ rel/core/Project.java:69 → df.selectExpr(exprs)."""

    exprs: tuple  # SQL expression strings, each may carry "expr AS name"
    inputs: tuple = ()

    def to_df(self, ctx) -> DataFrame:
        return self.inputs[0].to_df(ctx).selectExpr(*self.exprs)


@dataclass(repr=False)
class Filter(RelNode):
    """≈ rel/core/Filter.java:62 → df.filter(cond)."""

    condition: str
    inputs: tuple = ()

    def to_df(self, ctx) -> DataFrame:
        return self.inputs[0].to_df(ctx).filter(self.condition)


@dataclass(repr=False)
class Aggregate(RelNode):
    """≈ rel/core/Aggregate.java:80.

    group_type mirrors Aggregate.Group (Aggregate.java:489): SIMPLE |
    ROLLUP | CUBE | GROUPING_SETS. Aggregate calls are SQL strings
    ("sum(x) AS s", supports FILTER (WHERE ...) / DISTINCT — both are
    valid Spark SQL aggregate syntax).
    """

    group_keys: tuple
    agg_calls: tuple
    group_type: str = "SIMPLE"
    grouping_sets: tuple = ()  # only for GROUPING_SETS
    inputs: tuple = ()
    # Set by AggregateJoinTranspose on the merge aggregate it emits so
    # the rule never re-fires on its own output (underscore-prefixed:
    # excluded from repr/explain_str and plan-fixpoint comparisons).
    _no_transpose: bool = False

    def to_df(self, ctx) -> DataFrame:
        df = self.inputs[0].to_df(ctx)
        aggs = [F.expr(a) for a in self.agg_calls]
        if self.group_type == "SIMPLE":
            if not self.group_keys:
                return df.agg(*aggs)
            return df.groupBy(*[F.expr(k) for k in self.group_keys]).agg(*aggs)
        if self.group_type in ("ROLLUP", "CUBE"):
            # GROUPING()/GROUPING_ID() over an ALIASED expression key
            # ("year(m_key) AS yr" — the tile-derived form, r14): the
            # DataFrame rollup/cube API fails GROUPING_COLUMN_MISMATCH
            # because the alias wraps the grouping expression; the SQL
            # form matches by expression and is exact
            has_alias = any(
                re.search(r"(?is)\s+AS\s+\w+\s*$", k) for k in self.group_keys
            )
            has_grouping = any(
                re.search(r"(?i)\bGROUPING(_ID)?\s*\(", c) for c in self.agg_calls
            )
            if has_alias and has_grouping:
                df.createOrReplaceTempView("__gs_input__")
                bare = [
                    re.sub(r"(?is)\s+AS\s+\w+\s*$", "", k) for k in self.group_keys
                ]
                keys = ", ".join(self.group_keys)
                calls = ", ".join(self.agg_calls)
                return ctx.spark.sql(
                    f"SELECT {keys}{', ' if keys else ''}{calls} "
                    f"FROM __gs_input__ "
                    f"GROUP BY {self.group_type}({', '.join(bare)})"
                )
            if self.group_type == "ROLLUP":
                return df.rollup(*[F.expr(k) for k in self.group_keys]).agg(*aggs)
            return df.cube(*[F.expr(k) for k in self.group_keys]).agg(*aggs)
        if self.group_type == "GROUPING_SETS":
            if any("GROUP_ID" in c.upper() for c in self.agg_calls):
                return self._to_df_group_id(ctx, df)
            # Lower through SQL: Spark's DataFrame API has no groupingSets
            # until groupingSets() (4.0); SQL form is stable.
            df.createOrReplaceTempView("__gs_input__")
            sets = ", ".join("(" + ", ".join(s) + ")" for s in self.grouping_sets)
            keys = ", ".join(self.group_keys)
            calls = ", ".join(self.agg_calls)
            return ctx.spark.sql(
                f"SELECT {keys}{', ' if keys else ''}{calls} FROM __gs_input__ "
                f"GROUP BY GROUPING SETS ({sets})"
            )
        raise ValueError(f"unknown group_type {self.group_type}")

    def _to_df_group_id(self, ctx, df: DataFrame) -> DataFrame:
        """GROUP_ID() over (possibly duplicate) grouping sets — Calcite
        expands it into a UNION ALL of one aggregate per duplicate
        occurrence (CALCITE-1824; SqlStdOperatorTable.GROUP_ID:248): the
        i-th copy (0-based) aggregates the distinct sets occurring more
        than i times and emits literal i. With no duplicates this is a
        single branch with GROUP_ID() = 0."""
        from calcite_spark.sql import lexer

        counts: dict[tuple, int] = {}
        for s in self.grouping_sets:
            counts[tuple(s)] = counts.get(tuple(s), 0) + 1
        df.createOrReplaceTempView("__gs_input__")
        keys = ", ".join(self.group_keys)

        branches = []
        for i in range(max(counts.values())):
            sets_i = [s for s, n in counts.items() if n > i]
            sets_sql = ", ".join("(" + ", ".join(s) + ")" for s in sets_i)
            # a GROUP_ID() inside a string literal is data
            calls = ", ".join(
                lexer.sub(r"(?i)GROUP_ID\s*\(\s*\)", lambda m: str(i), c)
                for c in self.agg_calls
            )
            branches.append(
                f"SELECT {keys}{', ' if keys else ''}{calls} FROM __gs_input__ "
                f"GROUP BY GROUPING SETS ({sets_sql})"
            )
        return ctx.spark.sql(" UNION ALL ".join(branches))


@dataclass(repr=False)
class Window(RelNode):
    """≈ rel/core/Window.java:79 → F.x().over(Window.partitionBy...).

    Window calls are SQL strings with OVER clauses ("rank() OVER
    (PARTITION BY a ORDER BY b) AS r") — Spark SQL supports the full
    frame syntax (ROWS/RANGE BETWEEN); projected alongside pass-through
    columns.
    """

    window_exprs: tuple  # each "fn(...) OVER (...) AS name"
    keep: tuple = ("*",)
    inputs: tuple = ()

    def to_df(self, ctx) -> DataFrame:
        return self.inputs[0].to_df(ctx).selectExpr(*self.keep, *self.window_exprs)


def parse_sort_key(key: str) -> Column:
    """Parse "expr [ASC|DESC] [NULLS FIRST|LAST]" into a sort Column
    ≈ RelFieldCollation(direction, nullDirection). F.expr() alone
    silently IGNORES trailing ASC/DESC — never feed it sort syntax."""
    import re

    m = re.match(r"(?is)^(.*?)(?:\s+(ASC|DESC))?(?:\s+NULLS\s+(FIRST|LAST))?\s*$", key.strip())
    expr, direction, nulls = m.group(1), (m.group(2) or "ASC").upper(), m.group(3)
    col = F.expr(expr)
    nulls = nulls.upper() if nulls else None
    if direction == "DESC":
        if nulls == "FIRST":
            return col.desc_nulls_first()
        if nulls == "LAST":
            return col.desc_nulls_last()
        return col.desc()
    if nulls == "FIRST":
        return col.asc_nulls_first()
    if nulls == "LAST":
        return col.asc_nulls_last()
    return col.asc()


@dataclass(repr=False)
class Sort(RelNode):
    """≈ rel/core/Sort.java:52 (collation + offset/fetch).

    orderBy().limit() lets Spark plan TakeOrderedAndProject (top-K, no
    full sort) ≈ EnumerableLimitSort.java:43.
    """

    keys: tuple = ()  # SQL order expressions, e.g. "revenue DESC", "name"
    offset: int = 0
    fetch: Optional[int] = None
    inputs: tuple = ()

    def to_df(self, ctx) -> DataFrame:
        df = self.inputs[0].to_df(ctx)
        if self.keys:
            df = df.orderBy(*[parse_sort_key(k) for k in self.keys])
        if self.offset:
            df = df.offset(self.offset)
        if self.fetch is not None:
            df = df.limit(self.fetch)
        return df


@dataclass(repr=False)
class Sample(RelNode):
    """≈ rel/core/Sample.java:38 (TABLESAMPLE BERNOULLI, repeatable seed)
    → df.sample. SYSTEM (block) sampling ≈ Bernoulli here: Spark samples
    per-row within partitions; documented difference."""

    fraction: float
    seed: Optional[int] = None
    inputs: tuple = ()

    def to_df(self, ctx) -> DataFrame:
        return self.inputs[0].to_df(ctx).sample(fraction=self.fraction, seed=self.seed)


@dataclass(repr=False)
class Uncollect(RelNode):
    """≈ rel/core/Uncollect.java:60 (UNNEST [WITH ORDINALITY]) →
    explode/posexplode."""

    array_expr: str
    alias: str = "col"
    with_ordinality: bool = False
    keep: tuple = ()
    inputs: tuple = ()

    def to_df(self, ctx) -> DataFrame:
        df = self.inputs[0].to_df(ctx)
        if self.with_ordinality:
            # SQL-standard / Calcite UNNEST WITH ORDINALITY is 1-based
            # (Uncollect.java:60); posexplode is 0-based, so shift.
            ex = f"posexplode({self.array_expr}) AS (__pos0, {self.alias})"
            return df.selectExpr(*self.keep, ex).selectExpr(
                *self.keep, "__pos0 + 1 AS ordinality", self.alias
            )
        ex = f"explode({self.array_expr}) AS {self.alias}"
        return df.selectExpr(*self.keep, ex)


@dataclass(repr=False)
class Collect(RelNode):
    """≈ rel/core/Collect.java:52 (nest rows into ARRAY/MULTISET) →
    collect_list inside groupBy."""

    group_keys: tuple
    collect_expr: str
    alias: str = "collected"
    inputs: tuple = ()

    def to_df(self, ctx) -> DataFrame:
        df = self.inputs[0].to_df(ctx)
        return df.groupBy(*self.group_keys).agg(
            F.expr(f"collect_list({self.collect_expr})").alias(self.alias)
        )


@dataclass(repr=False)
class Exchange(RelNode):
    """≈ rel/core/Exchange.java:45 / SortExchange.java:45 — explicit
    redistribution. RelDistribution hash/range/broadcast/singleton →
    repartition / repartitionByRange / broadcast-hint / coalesce(1)."""

    distribution: str = "hash"  # hash | range | broadcast | singleton
    keys: tuple = ()
    num_partitions: Optional[int] = None
    inputs: tuple = ()

    def to_df(self, ctx) -> DataFrame:
        df = self.inputs[0].to_df(ctx)
        if self.distribution == "hash":
            args = ([self.num_partitions] if self.num_partitions else []) + [
                F.expr(k) for k in self.keys
            ]
            return df.repartition(*args)
        if self.distribution == "range":
            args = ([self.num_partitions] if self.num_partitions else []) + [
                F.expr(k) for k in self.keys
            ]
            return df.repartitionByRange(*args)
        if self.distribution == "broadcast":
            return F.broadcast(df)
        if self.distribution == "singleton":
            return df.coalesce(1)
        if self.distribution == "roundrobin":
            # ≈ RelDistribution.Type.ROUND_ROBIN_DISTRIBUTED. With no
            # explicit partition count this is parallelism INSURANCE for
            # a following CPU-heavy narrow stage: it only shuffles when
            # the input reads fewer files than cores (single-file local
            # scans serialize the map otherwise; a 100 TB scan has
            # natural parallelism and this no-ops) — same guard the LLM
            # dedup operators use (exec.parallelize_input).
            if self.num_partitions:
                return df.repartition(self.num_partitions)
            from calcite_spark.exec import parallelize_input

            return parallelize_input(df)
        raise ValueError(self.distribution)


# ---------------------------------------------------------------------
# Binary / n-ary operators
# ---------------------------------------------------------------------

_JOIN_HOW = {
    # JoinRelType (rel/core/JoinRelType.java:26) → Spark how=
    "INNER": "inner",
    "LEFT": "left",
    "RIGHT": "right",
    "FULL": "full",
    "SEMI": "left_semi",
    "ANTI": "left_anti",
    "CROSS": "cross",
}


@dataclass(repr=False)
class Join(RelNode):
    """≈ rel/core/Join.java:63 (theta join, any JoinRelType).

    condition is a SQL string over both inputs' columns; equi conditions
    get hash/merge joins from Spark, non-equi get BNLJ — the same
    physical menu as EnumerableHashJoin/MergeJoin/NestedLoopJoin
    (adapter/enumerable/), chosen by Catalyst+AQE instead of Volcano.
    broadcast_right hints F.broadcast for small dimensions (100 TB: the
    build side must fit in executor memory).
    """

    condition: Optional[str]
    join_type: str = "INNER"
    broadcast_right: bool = False
    broadcast_left: bool = False
    inputs: tuple = ()
    # True when a rewrite rule (not the caller) set the broadcast flags —
    # rule-derived hints may be re-flattened by join reordering, caller
    # hints are a flattening boundary (ADVICE r2). Underscore-prefixed so
    # repr/explain_str (and plan fixpoint checks) ignore it.
    _hint_from_rule: bool = False

    def to_df(self, ctx) -> DataFrame:
        left = self.inputs[0].to_df(ctx)
        right = self.inputs[1].to_df(ctx)
        if self.broadcast_right:
            right = F.broadcast(right)
        if self.broadcast_left:
            left = F.broadcast(left)
        how = _JOIN_HOW[self.join_type]
        if self.condition is None:
            return left.crossJoin(right)
        return left.join(right, on=F.expr(self.condition), how=how)


@dataclass(repr=False)
class SetOp(RelNode):
    """≈ rel/core/Union.java:37 / Intersect.java:40 / Minus.java:43."""

    kind: str  # UNION | UNION_ALL | INTERSECT | INTERSECT_ALL | EXCEPT | EXCEPT_ALL
    inputs: tuple = ()

    def to_df(self, ctx) -> DataFrame:
        dfs = [i.to_df(ctx) for i in self.inputs]
        out = dfs[0]
        for df in dfs[1:]:
            if self.kind == "UNION_ALL":
                out = out.unionAll(df)
            elif self.kind == "UNION":
                out = out.unionAll(df)
            elif self.kind == "INTERSECT":
                out = out.intersect(df)
            elif self.kind == "INTERSECT_ALL":
                out = out.intersectAll(df)
            elif self.kind == "EXCEPT":
                out = out.subtract(df)
            elif self.kind == "EXCEPT_ALL":
                out = out.exceptAll(df)
            else:
                raise ValueError(self.kind)
        if self.kind == "UNION":
            out = out.distinct()
        return out


@dataclass(repr=False)
class Correlate(RelNode):
    """≈ rel/core/Correlate.java:74 (LATERAL). Lowered through Spark SQL
    lateral views/subqueries; for the common explode-correlation the
    Uncollect node suffices. SQL-level LATERAL is handled by SqlFrontend.
    """

    sql: str  # full SELECT with LATERAL referencing registered views
    inputs: tuple = ()

    def to_df(self, ctx) -> DataFrame:
        ctx.register_all_views()
        return ctx.spark.sql(self.sql)


@dataclass(repr=False)
class RepeatUnion(RelNode):
    """≈ rel/core/RepeatUnion.java:57 (WITH RECURSIVE): seed ∪ iterate
    until fixpoint. Driver-side loop ≈ EnumerableRepeatUnion.java:49 with
    TransientTable ≈ the `current` DataFrame; each iteration localCheckpoints
    to cut lineage (100 TB: lineage growth is the killer, and the delta
    usually shrinks — caps bound runaway recursion).
    """

    seed: RelNode = None
    step: "callable" = None  # fn(DataFrame, ctx) -> DataFrame (next delta)
    all: bool = True
    max_iterations: int = 100
    inputs: tuple = ()

    def to_df(self, ctx) -> DataFrame:
        current = self.seed.to_df(ctx)
        result = current
        for _ in range(self.max_iterations):
            delta = self.step(current, ctx)
            if not self.all:
                delta = delta.subtract(result)
            # lazy checkpoint: the isEmpty probe materializes it in the
            # same job — one action per iteration instead of two (r14)
            delta = delta.localCheckpoint(eager=False)
            if delta.isEmpty():
                break
            result = result.unionAll(delta)
            current = delta
        else:
            raise RuntimeError("RepeatUnion: max_iterations exceeded")
        return result


@dataclass(repr=False)
class Snapshot(RelNode):
    """≈ rel/core/Snapshot.java:53 (FOR SYSTEM_TIME AS OF t over a
    TemporalTable): keep the latest version of each key visible at t.
    Emulated with an event-time filter + last-version-wins window
    (row_number over version DESC) — the standard Spark pattern since
    there is no native temporal table.
    """

    as_of: str  # SQL timestamp/expr string
    key: str
    version_col: str
    tiebreaker: str = ""  # extra ORDER BY suffix for deterministic ties
    inputs: tuple = ()

    def to_df(self, ctx) -> DataFrame:
        df = self.inputs[0].to_df(ctx).filter(f"{self.version_col} <= {self.as_of}")
        order = f"{self.version_col} DESC" + (f", {self.tiebreaker}" if self.tiebreaker else "")
        return (
            df.selectExpr(
                "*",
                f"row_number() OVER (PARTITION BY {self.key} ORDER BY {order}) AS __ver_rn__",
            )
            .filter("__ver_rn__ = 1")
            .drop("__ver_rn__")
        )


@dataclass(repr=False)
class Spool(RelNode):
    """≈ rel/core/Spool.java:38 / TableSpool.java:36 — buffer the input
    for reuse → df.cache() (Spark also reuses exchanges automatically)."""

    inputs: tuple = ()

    def to_df(self, ctx) -> DataFrame:
        return self.inputs[0].to_df(ctx).cache()


def schema_column_names(schema: str) -> list[str]:
    """Column names from a `"name type, name type"` schema string,
    splitting on TOP-LEVEL commas only — `"a decimal(10,2), b string"`
    is two columns; the comma inside the parameterized type is not a
    separator. The shared helper for every consumer of Values.schema
    (rel2sql VALUES aliases, lineage, size metadata)."""
    out, depth, buf = [], 0, []
    for ch in schema:
        if ch in "(<":  # decimal(10,2) parens, struct<...>/map<...> brackets
            depth += 1
        elif ch in ")>":
            depth -= 1
        if ch == "," and depth == 0:
            out.append("".join(buf))
            buf = []
        else:
            buf.append(ch)
    out.append("".join(buf))
    return [c.split()[0] for c in out if c.strip()]
