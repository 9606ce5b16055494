"""Execution utilities ≈ Calcite's observability surface:

* explain / plan dump ≈ rel/externalize/RelJson.java:114 + EXPLAIN
  formats (RelWriter): our IR explain plus Spark's formatted physical
  plan, and a parsed `plan_report` used by plan-quality tests (is the
  filter pushed? did the dimension broadcast? how many shuffles?).
* profiler ≈ profile/Profiler.java / ProfilerImpl.java: per-column
  cardinality/null/min-max statistics in ONE aggregation pass —
  feeds tile suggestion and broadcast decisions.
* cancellation ≈ DataContext cancel flag → cancelJobGroup.
"""

from __future__ import annotations

import re

from pyspark.sql import DataFrame


def explain_str(df: DataFrame, mode: str = "formatted") -> str:
    return df._sc._jvm.PythonSQLUtils.explainString(df._jdf.queryExecution(), mode)


def parallelize_input(df: DataFrame) -> DataFrame:
    """Round-robin repartition to the cluster's parallelism before a
    CPU-heavy narrow stage — ONLY when the input would otherwise run on
    fewer tasks than cores. Small inputs often arrive as ONE file → ONE
    scan partition, serializing the expensive map (r14 measured qx03's
    four JSON-path UDF calls over single-file lineitem at 12 s wall ≈
    the single-threaded cost; at 100 TB the scan gives natural
    parallelism and this is a no-op). The guard is a driver-side
    metadata probe (df.inputFiles), not a getNumPartitions RDD
    conversion; non-file sources pay the RDD probe once rather than an
    unconditional shuffle."""
    target = df.sparkSession.sparkContext.defaultParallelism
    try:
        n_files = len(df.inputFiles())
    except Exception:
        n_files = 0
    if n_files == 0:
        if df.rdd.getNumPartitions() >= target:
            return df
        return df.repartition(target)
    if n_files < target:
        return df.repartition(target)
    return df


def parallelize_grouped_input(df: DataFrame, keys: list) -> DataFrame:
    """Keyed sibling of parallelize_input for Python-heavy GROUPED stages
    (window + applyInPandas): hash-repartition on the grouping keys to the
    cluster's parallelism — ONLY when the input reads fewer files than
    cores.

    Why not round-robin: a window/groupBy downstream requires
    ClusteredDistribution(keys); an explicit hash repartition on the same
    keys SATISFIES it, so this replaces the stage's own exchange instead
    of adding one — and, being user-specified, AQE will not coalesce it.
    Without it, AQE sizes the shuffle by BYTES (advisory 64m), and a
    kilobyte-sized but Python-expensive grouped stage collapses to one
    task (r14 measured z45's NFA: every post-shuffle stage ran 0+1/1).
    At 100 TB the scan reads many files and this is a no-op, so the
    byte-based coalescing keeps working where it is right."""
    target = df.sparkSession.sparkContext.defaultParallelism
    try:
        n_files = len(df.inputFiles())
    except Exception:
        n_files = 0
    if 0 < n_files < target:
        return df.repartition(target, *keys)
    return df


def plan_report(df: DataFrame) -> dict:
    """Parse the formatted physical plan into the facts that matter for
    scale: pushed filters, read schema, join strategies, shuffle count."""
    text = explain_str(df, "formatted")
    return {
        "pushed_filters": re.findall(r"PushedFilters: \[([^\]]*)\]", text),
        "read_schemas": re.findall(r"ReadSchema: ([^\n]+)", text),
        "broadcast_joins": len(re.findall(r"BroadcastHashJoin", text)),
        "sort_merge_joins": len(re.findall(r"SortMergeJoin", text)),
        "shuffled_hash_joins": len(re.findall(r"ShuffledHashJoin", text)),
        "nested_loop_joins": len(re.findall(r"BroadcastNestedLoopJoin|CartesianProduct", text)),
        "exchanges": len(re.findall(r"\bExchange\b|\(\d+\) Exchange", text)),
        "top_k": bool(re.search(r"TakeOrderedAndProject", text)),
        "whole_stage_codegen": len(re.findall(r"WholeStageCodegen", text)),
        "text": text,
    }


def profile_relation(catalog, table: str, columns=None, exact: bool = False) -> DataFrame:
    """Lazy single-aggregation profile relation: one wide row with
    __rows plus __ndv_/__nulls_/__min_/__max_ per column. One full scan,
    map-side-combinable (HLL sketches unless exact)."""
    df = catalog.table(table)
    columns = columns or df.columns
    exprs = ["COUNT(*) AS __rows"]
    numeric = {
        c: t
        for c, t in df.dtypes
        if t in ("int", "bigint", "double", "float", "smallint", "date") or t.startswith("decimal")
    }
    strings = {c for c, t in df.dtypes if t == "string"}
    for c in columns:
        exprs.append(f"{_ndv_expr((c,), exact)} AS __ndv_{c}")
        exprs.append(f"COUNT(*) - COUNT({c}) AS __nulls_{c}")
        if c in numeric:
            exprs.append(f"MIN({c}) AS __min_{c}")
            exprs.append(f"MAX({c}) AS __max_{c}")
        if c in strings:
            # mean UTF-8 byte width — feeds the RelMdSize analog
            # (plans/metadata.average_column_sizes): a MEASURED width
            # replaces the reference's min(precision*2, 100) guess
            exprs.append(f"AVG(octet_length({c})) AS __avglen_{c}")
    return df.selectExpr(*exprs)


def profile(catalog, table: str, columns=None, exact: bool = False) -> dict:
    """One-pass column profile ≈ ProfilerImpl: count, ndv (approx by
    default; exact for oracle-tier checks at small SF), nulls, min/max
    per column. Single aggregation → single scan."""
    df = catalog.table(table)
    columns = columns or df.columns
    numeric = {
        c: t
        for c, t in df.dtypes
        if t in ("int", "bigint", "double", "float", "smallint", "date") or t.startswith("decimal")
    }
    row = profile_relation(catalog, table, columns, exact=exact).collect()[0].asDict()
    out = {"table": table, "rows": row["__rows"], "columns": {}}
    for c in columns:
        col = {
            "ndv": row[f"__ndv_{c}"],
            "nulls": row[f"__nulls_{c}"],
        }
        if c in numeric:
            col["min"] = row[f"__min_{c}"]
            col["max"] = row[f"__max_{c}"]
        if f"__avglen_{c}" in row:
            col["avg_len"] = row[f"__avglen_{c}"]
        # functional-dependency hint à la Profiler: unique key candidate
        col["unique_candidate"] = (
            row[f"__ndv_{c}"] >= _unique_threshold(exact) * max(row["__rows"], 1)
        )
        out["columns"][c] = col
    return out


def _ndv_expr(cols: tuple[str, ...], exact: bool) -> str:
    """Cardinality expression for a column tuple. struct() keeps the
    count row-wise (a struct with null fields is still non-null), which
    matches DuckDB's COUNT(DISTINCT (a, b)) row semantics — unlike
    Spark's multi-arg COUNT(DISTINCT a, b), which drops any-null rows."""
    inner = cols[0] if len(cols) == 1 else f"struct({', '.join(cols)})"
    # sketch rsd pinned to 1% (default 5% is too loose for the 0.95
    # uniqueness threshold below); still a map-side-combinable HLL
    fn = "count(DISTINCT {0})" if exact else "approx_count_distinct({0}, 0.01)"
    return fn.format(inner)


def _unique_threshold(exact: bool) -> float:
    """ndv/rows cutoff above which a column (set) counts as a unique
    key: 0.98 for exact counts; 0.95 in sketch mode (rsd=0.01 → ±5σ
    margin) so HLL noise doesn't hide a genuinely-unique key."""
    return 0.98 if exact else 0.95


def profile_deep(
    catalog,
    table: str,
    columns=None,
    exact: bool = False,
    max_pairs: int = 64,
    fd_tolerance: float = 0.02,
) -> dict:
    """Depth-2 profile ≈ profile/ProfilerImpl.java: explore the lattice
    of column subsets (here: singletons + pairs, bounded by a sketch
    budget like ProfilerImpl's `budget`) and derive what Statistic.java
    exposes — unique keys and functional dependencies.

    Scale shape: TWO aggregation jobs total, each a single full scan.
    In sketch mode (the 100 TB path) both passes are map-side-combinable
    HLL sketches. exact=True switches to count(DISTINCT ...) for
    oracle-tier verification at small SF — N distinct-count expressions
    make Spark plan an Expand with N-fold row multiplication, so exact
    mode is NOT single-scan-cheap and is only for small-SF checks. No
    per-column jobs, no collects beyond the two 1-row aggregate results.

    FD rule: x → y holds iff ndv(x, y) <= ndv(x) * (1 + tolerance) —
    each determinant value maps to (approximately) one dependent value.
    Composite key rule: ndv(x, y) >= ~98% of row count (0.95 in sketch
    mode — see _unique_threshold).

    NULL convention: singleton ndv (count/approx_count_distinct on the
    bare column) EXCLUDES rows where the column is NULL, while the pair
    ndv uses struct(x, y), which still counts rows where either field is
    NULL. For a determinant column containing NULLs, ndv(pair) can
    therefore exceed ndv(det) purely from NULL fan-out and reject a real
    FD — i.e. the rule treats NULL as a distinct determinant value that
    must also map uniquely (the strict reading of x → y). The qx16
    oracle shares this convention.
    """
    base = profile(catalog, table, columns, exact=exact)  # pass 1 (singles)
    df = catalog.table(table)
    columns = list(columns or df.columns)
    rows = max(base["rows"], 1)

    pairs = [
        (x, y) for i, x in enumerate(columns) for y in columns[i + 1 :]
    ][:max_pairs]
    out = {**base, "pair_ndv": {}, "functional_dependencies": [], "unique_keys": []}
    for c, st in base["columns"].items():
        if st["unique_candidate"]:
            out["unique_keys"].append((c,))
    if pairs:
        exprs = [
            f"{_ndv_expr((x, y), exact)} AS `__pair_{i}`" for i, (x, y) in enumerate(pairs)
        ]
        row = df.selectExpr(*exprs).collect()[0]  # pass 2 (pairs)
        for i, (x, y) in enumerate(pairs):
            ndv_xy = row[i]
            out["pair_ndv"][(x, y)] = ndv_xy
            for det, dep in ((x, y), (y, x)):
                ndv_det = base["columns"][det]["ndv"]
                if ndv_det and ndv_xy <= ndv_det * (1 + fd_tolerance):
                    out["functional_dependencies"].append(
                        {"determinant": det, "dependent": dep, "ndv_det": ndv_det, "ndv_pair": ndv_xy}
                    )
            if ndv_xy >= _unique_threshold(exact) * rows and not any(
                set(k) <= {x, y} for k in out["unique_keys"]
            ):
                out["unique_keys"].append((x, y))
    return out
