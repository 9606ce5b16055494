"""Column lineage (`plans/lineage.py` ≈ RelMdColumnOrigins.java):
pass-through vs derived flags, outer-join null-side derivation, set-op
positional union, literals, and the unknown-node tri-state."""

from __future__ import annotations

import pytest

from calcite_spark.plans import ir
from calcite_spark.plans.builder import RelBuilder
from calcite_spark.plans.lineage import Origin, column_origins, lineage_report
from calcite_spark.queries.inventory import catalog_for

SF_DIR = "/root/testdata/sf0.001"


@pytest.fixture(scope="module")
def cat(spark):
    return catalog_for(spark, SF_DIR)


def _b(cat):
    return RelBuilder(cat)


def test_scan_passthrough(cat):
    plan = _b(cat).scan("customer").build()
    assert column_origins(plan, "c_name", cat) == frozenset(
        {Origin("customer", "c_name", False)}
    )
    # not a column of the scan
    assert column_origins(plan, "nope", cat) == frozenset()


def test_project_bare_ref_vs_expression(cat):
    plan = (
        _b(cat)
        .scan("lineitem")
        .project(
            "l_orderkey",
            "l_quantity AS qty",
            "l_extendedprice * (1 - l_discount) AS net",
        )
        .build()
    )
    # bare ref and aliased bare ref: NOT derived
    assert column_origins(plan, "l_orderkey", cat) == frozenset(
        {Origin("lineitem", "l_orderkey", False)}
    )
    assert column_origins(plan, "qty", cat) == frozenset(
        {Origin("lineitem", "l_quantity", False)}
    )
    # expression: every referenced column, derived=True
    assert column_origins(plan, "net", cat) == frozenset(
        {
            Origin("lineitem", "l_extendedprice", True),
            Origin("lineitem", "l_discount", True),
        }
    )


def test_aggregate_keys_pass_calls_derive(cat):
    plan = (
        _b(cat)
        .scan("orders")
        .aggregate(["o_orderstatus"], ["SUM(o_totalprice) AS total", "COUNT(*) AS n"])
        .build()
    )
    assert column_origins(plan, "o_orderstatus", cat) == frozenset(
        {Origin("orders", "o_orderstatus", False)}
    )
    assert column_origins(plan, "total", cat) == frozenset(
        {Origin("orders", "o_totalprice", True)}
    )
    # COUNT(*): no column referenced — provably no base origin
    assert column_origins(plan, "n", cat) == frozenset()


def test_join_inner_not_derived_outer_null_side_derived(cat):
    inner = (
        _b(cat)
        .scan("customer")
        .scan("orders")
        .join("c_custkey = o_custkey")
        .build()
    )
    assert column_origins(inner, "o_totalprice", cat) == frozenset(
        {Origin("orders", "o_totalprice", False)}
    )
    left = (
        _b(cat)
        .scan("customer")
        .scan("orders")
        .join("c_custkey = o_custkey", join_type="LEFT")
        .build()
    )
    # ≈ RelMdColumnOrigins Join: null-generating (right) side is derived
    assert column_origins(left, "o_totalprice", cat) == frozenset(
        {Origin("orders", "o_totalprice", True)}
    )
    # probe side stays non-derived
    assert column_origins(left, "c_name", cat) == frozenset(
        {Origin("customer", "c_name", False)}
    )


def test_setop_positional_union(cat):
    plan = (
        _b(cat)
        .scan("customer")
        .project("c_name AS name")
        .scan("supplier")
        .project("s_name AS name")
        .union(all=True)
        .build()
    )
    assert column_origins(plan, "name", cat) == frozenset(
        {
            Origin("customer", "c_name", False),
            Origin("supplier", "s_name", False),
        }
    )


def test_values_has_no_origin(cat):
    plan = (
        _b(cat)
        .scan("region")
        .values([(0, "amer"), (1, "emea")], "rk int, zone string")
        .join("r_regionkey = rk")
        .build()
    )
    assert column_origins(plan, "zone", cat) == frozenset()
    assert column_origins(plan, "r_name", cat) == frozenset(
        {Origin("region", "r_name", False)}
    )


def test_window_and_filter_flow(cat):
    plan = (
        _b(cat)
        .scan("supplier")
        .window(
            ["row_number() OVER (PARTITION BY s_nationkey ORDER BY s_acctbal DESC) AS rk"],
            keep=("s_suppkey", "s_nationkey"),
        )
        .filter("rk <= 2")
        .build()
    )
    assert column_origins(plan, "s_suppkey", cat) == frozenset(
        {Origin("supplier", "s_suppkey", False)}
    )
    assert column_origins(plan, "rk", cat) == frozenset(
        {
            Origin("supplier", "s_nationkey", True),
            Origin("supplier", "s_acctbal", True),
        }
    )


def test_unknown_node_returns_none(cat):
    plan = ir.Correlate(sql="SELECT 1 AS x")
    assert column_origins(plan, "x", cat) is None


def test_lineage_report_covers_all_output_columns(cat):
    plan = (
        _b(cat)
        .scan("customer")
        .scan("orders")
        .join("c_custkey = o_custkey")
        .aggregate(["c_mktsegment"], ["SUM(o_totalprice) AS total"])
        .build()
    )
    rep = lineage_report(plan, cat)
    assert set(rep) == {"c_mktsegment", "total"}
    assert rep["c_mktsegment"] == frozenset(
        {Origin("customer", "c_mktsegment", False)}
    )
    assert rep["total"] == frozenset({Origin("orders", "o_totalprice", True)})


def test_keyword_named_columns_keep_their_origins(spark, cat):
    # columns named like SQL words are columns: an empty origin set
    # would read "provably no base-table origin" and clear a PII audit
    cat.register_df(
        "kw_cols",
        spark.createDataFrame(
            [(2020, 1, "a", "b", "2020-01-01", "s")],
            "year int, month int, first string, last string, date string, "
            "string string",
        ),
    )
    plan = (
        _b(cat)
        .scan("kw_cols")
        .project(
            "year + 1 AS y",
            "concat(first, last) AS n",
            "CASE WHEN month > 6 THEN date ELSE string END AS c",
        )
        .build()
    )
    derived = lambda *cols: frozenset(Origin("kw_cols", c, True) for c in cols)  # noqa: E731
    assert lineage_report(plan, cat) == {
        "y": derived("year"),
        "n": derived("first", "last"),
        "c": derived("month", "date", "string"),
    }
