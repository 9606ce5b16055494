"""PLAN fuzzing — the relational-tree complement to the expression
fuzzer (≈ fuzzer/RexProgramFuzzyTest.java fuzzes expressions; Quidem
scripts pin plan shapes). Hypothesis generates random small IR trees
over the sf0.001 tables — scan → [filter] → [join] → [aggregate |
project] → [sort/limit] — and every tree must agree with DuckDB running
the rel2sql-emitted oracle of the SAME tree, and with Spark re-running
the Spark-dialect emission. One generator exercises the IR lowering,
both dialect emitters, and the oracle comparison protocol at once.
"""

from __future__ import annotations

import pytest
from hypothesis import HealthCheck, given, settings, strategies as st

from calcite_spark.plans.builder import RelBuilder
from calcite_spark.queries.inventory import catalog_for
from calcite_spark.sql.rel2sql import DUCKDB, SPARK, to_sql
from tests.conftest import SF_DIR, assert_matches_oracle

# (table, int cols, numeric col, string col, primary key)
TABLES = {
    "region": (["r_regionkey"], "r_regionkey", "r_name", "r_regionkey"),
    "nation": (["n_nationkey", "n_regionkey"], "n_nationkey", "n_name", "n_nationkey"),
    "customer": (["c_custkey", "c_nationkey"], "c_acctbal", "c_mktsegment", "c_custkey"),
    "supplier": (["s_suppkey", "s_nationkey"], "s_acctbal", "s_name", "s_suppkey"),
}

# FK edges usable as join conditions
JOINS = [
    ("customer", "nation", "c_nationkey = n_nationkey"),
    ("supplier", "nation", "s_nationkey = n_nationkey"),
    ("nation", "region", "n_regionkey = r_regionkey"),
]

CMP = ["<", "<=", ">", ">=", "=", "<>"]


@st.composite
def plan_spec(draw):
    joined = draw(st.booleans())
    if joined:
        left, right, cond = draw(st.sampled_from(JOINS))
        jt = draw(st.sampled_from(["INNER", "LEFT", "SEMI", "ANTI"]))
        tables = (left, right, cond, jt)
        # columns from the LEFT table keep post-join references simple
        int_cols, num_col, str_col, pk = TABLES[left]
    else:
        t = draw(st.sampled_from(sorted(TABLES)))
        tables = (t,)
        int_cols, num_col, str_col, pk = TABLES[t]

    filt = None
    if draw(st.booleans()):
        col = draw(st.sampled_from(int_cols))
        op = draw(st.sampled_from(CMP))
        lit = draw(st.integers(min_value=-2, max_value=30))
        filt = f"{col} {op} {lit}"
        if draw(st.booleans()):
            col2 = draw(st.sampled_from(int_cols))
            lit2 = draw(st.integers(min_value=-2, max_value=30))
            filt += f" AND {col2} {draw(st.sampled_from(CMP))} {lit2}"

    shape = draw(st.sampled_from(["agg", "project", "bare"]))
    if shape == "agg":
        fn = draw(st.sampled_from(["SUM", "MIN", "MAX", "COUNT"]))
        arg = "*" if fn == "COUNT" else num_col
        gk = draw(st.sampled_from(int_cols + [str_col]))
        head = ("agg", gk, f"{fn}({arg}) AS agg_val")
    elif shape == "project":
        head = ("project", int_cols[0], str_col)
    else:
        head = ("bare",)

    limit = draw(st.one_of(st.none(), st.integers(min_value=1, max_value=20)))
    return (tables, filt, head, limit, pk)


def _build(cat, spec):
    tables, filt, head, limit, pk = spec
    b = RelBuilder(cat)
    if len(tables) == 4:
        left, right, cond, jt = tables
        b = b.scan(left).scan(right)
        if jt == "SEMI":
            b = b.semi_join(cond)
        elif jt == "ANTI":
            b = b.anti_join(cond)
        else:
            b = b.join(cond, join_type=jt)
    else:
        b = b.scan(tables[0])
    if filt:
        b = b.filter(filt)
    sort_key = pk
    if head[0] == "agg":
        _, gk, call = head
        b = b.aggregate([gk], [call])
        sort_key = gk
    elif head[0] == "project":
        b = b.project(*head[1:])
        sort_key = head[1]
    if limit is not None:
        # LIMIT needs a deterministic total order for cross-engine
        # comparison: sort by every output column
        b = b.sort_limit([sort_key, *(["agg_val"] if head[0] == "agg" else [])], fetch=limit)
    return b.build()


@pytest.fixture(scope="module")
def fuzz_cat(spark):
    return catalog_for(spark, SF_DIR)


@settings(
    max_examples=25,
    deadline=None,
    suppress_health_check=[HealthCheck.function_scoped_fixture, HealthCheck.too_slow],
)
@given(spec=plan_spec())
def test_random_plan_agrees_with_duckdb_and_spark_sql(fuzz_cat, duck, spark, spec):
    plan = _build(fuzz_cat, spec)
    df = plan.to_df(fuzz_cat)
    # differential 1: DuckDB runs the DuckDB-dialect emission of the tree
    assert_matches_oracle(df, duck, to_sql(plan, DUCKDB))
    # differential 2: Spark runs the Spark-dialect emission of the tree
    df2 = spark.sql(to_sql(plan, SPARK))
    assert sorted(map(str, df.collect())) == sorted(map(str, df2.collect()))


@pytest.fixture(scope="module")
def sqlite_eng():
    from calcite_spark.sources.federation import SQLiteEngine

    return SQLiteEngine.from_parquet_dir(SF_DIR, sorted(TABLES))


@settings(
    max_examples=20,
    deadline=None,
    suppress_health_check=[HealthCheck.function_scoped_fixture, HealthCheck.too_slow],
)
@given(spec=plan_spec())
def test_random_plan_agrees_with_real_sqlite(fuzz_cat, sqlite_eng, spec):
    """Differential 3 (r6): the SQLITE-dialect emission of the same
    random tree executes on the REAL stdlib sqlite3 engine and must
    produce the same multiset of rows (floats to 6dp — sqlite's REAL
    affinity). Exercises a 3rd, independently-implemented SQL engine
    against the IR lowering."""
    from calcite_spark.sql.rel2sql import SQLITE, UnsupportedDialectExpression

    plan = _build(fuzz_cat, spec)
    try:
        sql = to_sql(plan, SQLITE)
    except UnsupportedDialectExpression:
        return  # documented refusal (e.g. FULL join) — not a mismatch
    got = [
        tuple(
            round(v, 6) if isinstance(v, float) else v
            for v in row
        )
        for row in plan.to_df(fuzz_cat).collect()
    ]
    tab = sqlite_eng.execute_arrow(sql)
    want = [
        tuple(
            round(v, 6) if isinstance(v, float) else v
            for v in row
        )
        for row in zip(*(c.to_pylist() for c in tab.columns))
    ] if tab.num_rows else []
    assert sorted(map(str, got)) == sorted(map(str, want)), sql


@settings(
    max_examples=15,
    deadline=None,
    suppress_health_check=[HealthCheck.function_scoped_fixture, HealthCheck.too_slow],
)
@given(spec=plan_spec())
def test_every_dialect_emits_or_refuses_cleanly(fuzz_cat, spec):
    """Emitter robustness net (r6): for a random tree, every one of the
    39 registered dialects must either produce SQL text or raise the
    documented UnsupportedDialectExpression — an IndexError/KeyError/
    AttributeError out of an emitter is a bug, not a refusal."""
    from calcite_spark.sql.rel2sql import (
        DIALECTS,
        UnsupportedDialectExpression,
        to_sql,
    )

    plan = _build(fuzz_cat, spec)
    for name, d in sorted(DIALECTS.items()):
        try:
            sql = to_sql(plan, d)
            assert isinstance(sql, str) and sql.upper().startswith("SELECT"), name
        except UnsupportedDialectExpression:
            pass  # the refusal contract


# -- r8: AggregateUnionTranspose property fuzz ------------------------

@st.composite
def union_spec(draw):
    """Random UNION ALL branches as inline VALUES — empty branches,
    overlapping rows across branches, NULL group keys, NULL measures —
    plus a random splittable aggregate set."""
    n_branches = draw(st.integers(2, 4))
    key = st.one_of(st.none(), st.integers(0, 3))
    val = st.one_of(st.none(), st.integers(-5, 100))
    branches = [
        draw(st.lists(st.tuples(key, val), min_size=0, max_size=6))
        for _ in range(n_branches)
    ]
    global_agg = draw(st.booleans())
    calls = draw(
        st.lists(
            st.sampled_from([
                "COUNT(*) AS cnt_all", "COUNT(v) AS cnt_v",
                "SUM(v) AS sum_v", "MIN(v) AS min_v", "MAX(v) AS max_v",
                "AVG(v) AS avg_v",
            ]),
            min_size=1, max_size=3, unique=True,
        )
    )
    return branches, ([] if global_agg else ["g"]), calls


@settings(max_examples=25, deadline=None,
          suppress_health_check=[HealthCheck.function_scoped_fixture])
@given(union_spec())
def test_union_transpose_value_invariant(fuzz_cat, spec):
    """The transposed plan must agree with the untransposed plan on
    rows, values, AND dtypes for every branch/NULL/overlap combination
    (gate bypassed: Values branches carry no ANALYZE stats; soundness
    must not depend on the benefit gate)."""
    from calcite_spark.plans import ir
    from calcite_spark.plans.rewrite import _aggregate_union_transpose

    branches, keys, calls = spec
    union = ir.SetOp(
        "UNION_ALL",
        inputs=tuple(
            ir.Values([tuple(r) for r in rows], "g int, v int")
            if rows
            else ir.Values([], "g int, v int")
            for rows in branches
        ),
    )
    plain = ir.Aggregate(tuple(keys), tuple(calls), inputs=(union,))
    out = _aggregate_union_transpose(plain, fuzz_cat, gate=False)
    assert out is not None and out._no_transpose
    df_a, df_b = plain.to_df(fuzz_cat), out.to_df(fuzz_cat)
    assert df_a.dtypes == df_b.dtypes
    nones_last = lambda t: tuple((x is None, x) for x in t)  # noqa: E731
    ra = sorted((tuple(r) for r in df_a.collect()), key=nones_last)
    rb = sorted((tuple(r) for r in df_b.collect()), key=nones_last)
    assert ra == rb, (spec, ra, rb)


# -- structural output names -------------------------------------------


@settings(
    max_examples=25,
    deadline=None,
    suppress_health_check=[HealthCheck.function_scoped_fixture],
)
@given(spec=plan_spec())
def test_output_names_match_lowered_columns(fuzz_cat, spec):
    """ir.output_names reads a plan's column names without lowering it;
    where it answers, the answer is the lowered DataFrame's columns."""
    from calcite_spark.plans import ir

    plan = _build(fuzz_cat, spec)
    names = ir.output_names(plan, fuzz_cat)
    if names is not None:
        assert names == plan.to_df(fuzz_cat).columns


def test_output_names_per_node_kind(fuzz_cat):
    from calcite_spark.plans import ir

    vals = ir.Values([(1, "a")], "k int, `v` string")
    scan = ir.Scan("nation")
    plans = [
        vals,
        ir.SetOp("UNION_ALL", inputs=(vals, vals)),
        ir.Window(("rank() OVER (ORDER BY k) AS r",), inputs=(vals,)),
        ir.Snapshot("1", "k", "k", inputs=(vals,)),
        ir.Exchange("hash", ("k",), inputs=(vals,)),
        ir.Join("n_regionkey = r_regionkey", "SEMI", inputs=(scan, ir.Scan("region"))),
        ir.Aggregate(
            ("n_regionkey % 2 AS parity",),
            ("count(*) AS n", "max(n_name) AS m"),
            "ROLLUP",
            inputs=(scan,),
        ),
        ir.Project(("*", "`n_name` AS `c c`", "N_REGIONKEY"), inputs=(scan,)),
    ]
    for plan in plans:
        assert ir.output_names(plan, fuzz_cat) == plan.to_df(fuzz_cat).columns
    # Spark derives these names itself (count(1), (k + 1)): no answer
    assert ir.output_names(ir.Aggregate((), ("count(*)",), inputs=(vals,)), fuzz_cat) is None
    assert ir.output_names(ir.Project(("k + 1",), inputs=(vals,)), fuzz_cat) is None
    assert ir.output_names(ir.Correlate("SELECT 1 AS x"), fuzz_cat) is None
