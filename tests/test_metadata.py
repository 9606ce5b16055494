"""MetadataQuery facade tests ≈ Calcite's RelMetadataTest.java: per-node
derivation of row counts, bounds, selectivity, NDV, unique keys,
predicates, and collation over IR plans — metadata-only (no handler may
run a query), with the broadcast rule as a live consumer."""

from __future__ import annotations

import pytest

from calcite_spark.catalog import Catalog
from calcite_spark.plans import ir
from calcite_spark.plans.builder import RelBuilder
from calcite_spark.plans.metadata import MetadataQuery
from calcite_spark.plans.rewrite import default_program
from tests.conftest import SF_DIR


@pytest.fixture(scope="module")
def cat(spark):
    c = Catalog(spark).register_parquet_dir(SF_DIR)
    # ANALYZE gives the facade real NDVs for orders/customer
    c.analyze("orders", columns=["o_orderstatus", "o_custkey", "o_orderkey"], exact=True)
    c.analyze("customer", columns=["c_mktsegment", "c_custkey"], exact=True)
    return c


@pytest.fixture(scope="module")
def mq(cat):
    return MetadataQuery(cat)


def _b(cat):
    return RelBuilder(cat)


def test_row_count_scan_values_sample_sort(cat, mq):
    scan = _b(cat).scan("orders").build()
    exact = cat.row_count("orders")
    assert mq.row_count(scan) == exact

    vals = ir.Values([(1, "a"), (2, "b"), (3, "c")], "k int, v string")
    assert mq.row_count(vals) == 3.0
    assert mq.max_row_count(vals) == 3.0
    assert mq.min_row_count(vals) == 3.0

    samp = ir.Sample(0.1, seed=7, inputs=(scan,))
    assert mq.row_count(samp) == pytest.approx(exact * 0.1)

    top = ir.Sort(keys=("o_orderkey",), fetch=10, inputs=(scan,))
    assert mq.row_count(top) == 10.0
    assert mq.max_row_count(top) == 10.0


def test_filter_selectivity_ndv_backed_vs_guess(cat, mq):
    scan = _b(cat).scan("orders").build()
    # o_orderstatus is ANALYZEd: equality uses 1/NDV, and the combined
    # estimate is exact-count * exact-fraction class, not 0.15
    ndv = cat.column_ndv("orders", "o_orderstatus")
    sel = mq.selectivity(scan, "o_orderstatus = 'F'")
    assert sel == pytest.approx(1.0 / ndv)
    # un-ANALYZEd column on an un-ANALYZEd table: guess constants
    lscan = _b(cat).scan("lineitem").build()
    assert mq.selectivity(lscan, "l_shipmode = 'AIR'") == pytest.approx(0.15)
    assert mq.selectivity(lscan, "l_quantity < 10") == pytest.approx(0.5)
    assert mq.selectivity(lscan, "l_comment IS NOT NULL") == pytest.approx(0.9)
    assert mq.selectivity(lscan, "l_quantity + 1 > l_tax") == pytest.approx(0.25)
    # conjunction multiplies
    assert mq.selectivity(
        lscan, "l_shipmode = 'AIR' AND l_quantity < 10"
    ) == pytest.approx(0.15 * 0.5)


def test_aggregate_row_counts_and_bounds(cat, mq):
    plan = (
        _b(cat)
        .scan("orders")
        .aggregate(["o_orderstatus"], ["COUNT(*) AS n"])
        .build()
    )
    # group-key NDV is known → the estimate IS the NDV
    assert mq.row_count(plan) == float(cat.column_ndv("orders", "o_orderstatus"))

    global_agg = _b(cat).scan("orders").aggregate([], ["COUNT(*) AS n"]).build()
    assert mq.row_count(global_agg) == 1.0
    assert mq.max_row_count(global_agg) == 1.0
    assert mq.min_row_count(global_agg) == 1.0  # one row even on empty input

    rollup = (
        _b(cat)
        .scan("orders")
        .aggregate(
            ["o_orderstatus", "o_orderpriority"],
            ["COUNT(*) AS n"],
            group_type="ROLLUP",
        )
        .build()
    )
    assert mq.min_row_count(rollup) == 0.0
    assert mq.max_row_count(rollup) is None  # scan has no hard bound


def test_join_row_count_uses_ndv(cat, mq):
    plan = (
        _b(cat)
        .scan("customer")
        .scan("orders")
        .join("c_custkey = o_custkey")
        .build()
    )
    l = cat.row_count("customer")
    r = cat.row_count("orders")
    ndv = max(
        cat.column_ndv("customer", "c_custkey"),
        cat.column_ndv("orders", "o_custkey"),
    )
    assert mq.row_count(plan) == pytest.approx(l * r / ndv)
    # hard bound: product (no stats involved)
    assert mq.max_row_count(plan) is None  # scans are unbounded statically

    semi = (
        _b(cat).scan("customer").scan("orders").semi_join("c_custkey = o_custkey").build()
    )
    assert mq.row_count(semi) == pytest.approx(l * 0.5)


def test_setop_counts(cat, mq):
    a = ir.Values([(1,), (2,)], "x int")
    b = ir.Values([(2,), (3,), (4,)], "x int")
    assert mq.row_count(ir.SetOp("UNION_ALL", inputs=(a, b))) == 5.0
    assert mq.max_row_count(ir.SetOp("UNION", inputs=(a, b))) == 5.0
    assert mq.max_row_count(ir.SetOp("INTERSECT", inputs=(a, b))) == 2.0
    assert mq.max_row_count(ir.SetOp("EXCEPT", inputs=(a, b))) == 2.0
    assert mq.min_row_count(ir.SetOp("UNION_ALL", inputs=(a, b))) == 5.0
    # UNION dedups — a non-empty input only proves "at least one row"
    assert mq.min_row_count(ir.SetOp("UNION", inputs=(a, b))) == 1.0
    # LEFT join with a possibly-empty right side still emits every left
    # row null-extended: the hard bound cannot be l*r = 0
    empty = ir.Values([], "x int")
    lj = ir.Join("x = x", "LEFT", inputs=(a, empty))
    assert mq.max_row_count(lj) == 2.0


def test_distinct_row_count_through_lineage(cat, mq):
    # projection renames the column; lineage resolves it to the base NDV
    plan = (
        _b(cat)
        .scan("orders")
        .project("o_orderstatus AS status", "o_totalprice")
        .build()
    )
    assert mq.distinct_row_count(plan, "status") == float(
        cat.column_ndv("orders", "o_orderstatus")
    )
    # derived column: no NDV claim
    derived = (
        _b(cat).scan("orders").project("o_totalprice * 2 AS dbl").build()
    )
    assert mq.distinct_row_count(derived, "dbl") is None
    # NDV capped by the node's own row estimate
    top = ir.Sort(keys=("o_orderkey",), fetch=3, inputs=(_b(cat).scan("orders").build(),))
    assert mq.distinct_row_count(top, "o_orderstatus") <= 3.0


def test_unique_keys_scan_project_agg_join(cat, mq):
    cat.analyze_deep("region", exact=True)
    scan = _b(cat).scan("region").build()
    assert ("r_regionkey",) in mq.unique_keys(scan)

    # rename survives; dropping a key column kills the key
    proj = _b(cat).scan("region").project("r_regionkey AS rk", "r_name").build()
    assert ("rk",) in mq.unique_keys(proj)
    dropped = _b(cat).scan("region").project("r_name").build()
    assert ("r_regionkey",) not in {
        k for k in mq.unique_keys(dropped)
    } and ("rk",) not in mq.unique_keys(dropped)

    agg = (
        _b(cat)
        .scan("orders")
        .aggregate(["o_orderstatus"], ["COUNT(*) AS n"])
        .build()
    )
    assert ("o_orderstatus",) in mq.unique_keys(agg)

    # FK join on region's unique key preserves nothing for nation (it
    # has no discovered keys yet) but preserves region's key when the
    # OTHER side (nation) is joined on ITS unique key
    cat.analyze_deep("nation", exact=True)
    j = (
        _b(cat)
        .scan("nation")
        .scan("region")
        .join("n_regionkey = r_regionkey")
        .build()
    )
    # region joined on r_regionkey (its unique key) → nation keys survive
    assert ("n_nationkey",) in mq.unique_keys(j)


def test_snapshot_key_is_unique(cat, mq):
    snap = ir.Snapshot(
        as_of="TIMESTAMP '2020-01-01'",
        key="o_orderkey",
        version_col="o_orderdate",
        inputs=(_b(cat).scan("orders").build(),),
    )
    assert ("o_orderkey",) in mq.unique_keys(snap)


def test_pulled_up_predicates(cat, mq):
    plan = (
        _b(cat)
        .scan("orders")
        .filter("o_orderstatus = 'F'")
        .filter("o_totalprice > 1000")
        .build()
    )
    preds = mq.pulled_up_predicates(plan)
    assert "o_orderstatus = 'F'" in preds and "o_totalprice > 1000" in preds

    # inner join pulls both sides + the condition
    j = (
        _b(cat)
        .scan("customer")
        .scan("orders")
        .filter("o_orderstatus = 'F'")
        .join("c_custkey = o_custkey")
        .build()
    )
    jp = mq.pulled_up_predicates(j)
    assert "o_orderstatus = 'F'" in jp and "c_custkey = o_custkey" in jp

    # LEFT join: null-extended right side's predicate must NOT survive
    lj = (
        _b(cat)
        .scan("customer")
        .scan("orders")
        .filter("o_orderstatus = 'F'")
        .join("c_custkey = o_custkey", join_type="LEFT")
        .build()
    )
    assert "o_orderstatus = 'F'" not in mq.pulled_up_predicates(lj)

    # projection keeps predicates only for surviving columns
    pj = (
        _b(cat)
        .scan("orders")
        .filter("o_orderstatus = 'F'")
        .project("o_orderstatus", "o_custkey")
        .build()
    )
    assert "o_orderstatus = 'F'" in mq.pulled_up_predicates(pj)
    pj2 = (
        _b(cat)
        .scan("orders")
        .filter("o_orderstatus = 'F'")
        .project("o_custkey")
        .build()
    )
    assert mq.pulled_up_predicates(pj2) == []

    # aggregate keeps group-key predicates
    ag = (
        _b(cat)
        .scan("orders")
        .filter("o_orderstatus = 'F'")
        .aggregate(["o_orderstatus"], ["COUNT(*) AS n"])
        .build()
    )
    assert "o_orderstatus = 'F'" in mq.pulled_up_predicates(ag)


def test_pulled_up_predicates_keep_literal_whitespace(cat, mq):
    """Two predicates that differ only inside a string literal are two
    predicates; whitespace outside literals still dedups."""
    plan = (
        _b(cat)
        .scan("orders")
        .filter("o_comment = 'a b' AND o_comment = 'a  b' AND o_comment  =  'a b'")
        .build()
    )
    assert mq.pulled_up_predicates(plan) == ["o_comment = 'a b'", "o_comment = 'a  b'"]


def test_collation(cat, mq):
    plan = (
        _b(cat)
        .scan("orders")
        .sort("o_totalprice DESC", "o_orderkey")
        .build()
    )
    assert mq.collation(plan) == ("o_totalprice DESC", "o_orderkey")
    filt = ir.Filter("o_totalprice > 0", inputs=(plan,))
    assert mq.collation(filt) == ("o_totalprice DESC", "o_orderkey")
    ex = ir.Exchange("hash", ("o_custkey",), inputs=(plan,))
    assert mq.collation(ex) == ()


def test_broadcast_rule_consumes_grounded_estimate(spark):
    """The live consumer: a FILTERED big-side join broadcasts only when
    the metadata estimate is statistics-grounded and small."""
    cat = Catalog(spark).register_parquet_dir(SF_DIR)
    # make orders look big so the base table is NOT broadcastable
    cat.tables["orders"].row_count = 10_000_000
    plan = (
        RelBuilder(cat)
        .scan("lineitem")
        .scan("orders")
        .filter("o_orderkey = 42")
        .join("l_orderkey = o_orderkey")
        .build()
    )
    # no statistics → guess-only estimate → NO broadcast hint
    out = default_program(cat).run(plan)

    def find_join(n):
        if isinstance(n, ir.Join):
            return n
        for c in n.inputs:
            j = find_join(c)
            if j is not None:
                return j
        return None

    j = find_join(out)
    assert not (j.broadcast_left or j.broadcast_right)

    # ANALYZE pins o_orderkey NDV == rows → grounded est ~1 row → hint
    cat.analyze("orders", columns=["o_orderkey"], exact=True)
    cat.tables["orders"].row_count = 10_000_000
    cat.tables["orders"].stats["columns"]["o_orderkey"]["ndv"] = 10_000_000
    out2 = default_program(cat).run(plan)
    j2 = find_join(out2)
    assert j2.broadcast_right and j2._hint_from_rule


# -- sizes ≈ RelMdSize (r5 session-3 tier) ----------------------------


def test_average_column_sizes_scan_types(spark):
    cat = Catalog(spark).register_parquet_dir(SF_DIR)
    mq = MetadataQuery(cat)
    sizes = mq.average_column_sizes(RelBuilder(cat).scan("lineitem").build())
    assert sizes["l_orderkey"] == 8.0          # bigint
    assert sizes["l_quantity"] == 8.0          # double
    # un-ANALYZEd string: the reference's 100-byte VARCHAR cap
    assert sizes["l_returnflag"] == 100.0
    assert sizes["l_shipdate"] == 8.0          # timestamp


def test_average_column_sizes_measured_strings(spark):
    """ANALYZE upgrades string widths from the 100-byte guess to the
    measured mean byte length."""
    cat = Catalog(spark).register_parquet_dir(SF_DIR)
    cat.analyze("nation", columns=["n_name", "n_nationkey"], exact=True)
    mq = MetadataQuery(cat)
    sizes = mq.average_column_sizes(RelBuilder(cat).scan("nation").build())
    assert sizes["n_name"] != 100.0 and 3.0 < sizes["n_name"] < 30.0
    # and the measured value matches a direct computation
    expect = (
        cat.table("nation").selectExpr("AVG(octet_length(n_name)) a").collect()[0].a
    )
    assert abs(sizes["n_name"] - expect) < 1e-6


def test_average_row_size_propagation(spark):
    cat = Catalog(spark).register_parquet_dir(SF_DIR)
    mq = MetadataQuery(cat)
    b = RelBuilder(cat)
    scan = b.scan("customer").build()
    full = mq.average_row_size(scan)
    narrow = (
        RelBuilder(cat).scan("customer").project("c_custkey", "c_nationkey").build()
    )
    assert mq.average_row_size(narrow) == 12.0  # bigint + int
    assert full > mq.average_row_size(narrow)
    # join concatenates; SEMI keeps the left width only
    join = (
        RelBuilder(cat).scan("customer").scan("nation")
        .join("c_nationkey = n_nationkey").build()
    )
    semi = (
        RelBuilder(cat).scan("customer").scan("nation")
        .join("c_nationkey = n_nationkey", "SEMI").build()
    )
    nat = mq.average_row_size(RelBuilder(cat).scan("nation").build())
    assert abs(mq.average_row_size(join) - (full + nat)) < 1e-6
    assert mq.average_row_size(semi) == full
    # aggregate: key inherits, calls are 8-byte numerics
    agg = (
        RelBuilder(cat).scan("customer")
        .aggregate(["c_mktsegment"], ["SUM(c_acctbal) AS total"]).build()
    )
    seg = mq.average_column_sizes(agg)
    assert seg["total"] == 8.0 and seg["c_mktsegment"] == 100.0


def test_broadcast_byte_gate(spark):
    """A grounded row estimate under the row cap but over the BYTE
    budget must not broadcast: 50k rows x 2 KB documents is a 100 MB
    broadcast (Spark's threshold semantics are bytes, not rows)."""
    cat = Catalog(spark).register_parquet_dir(SF_DIR)
    cat.tables["documents"].row_count = 10_000_000
    cat.analyze("documents", columns=["source", "text"], exact=True)
    cat.tables["documents"].row_count = 10_000_000
    st = cat.tables["documents"].stats["columns"]
    st["source"]["ndv"] = 200  # grounded est = 10M / 200 = 50k rows
    plan = (
        RelBuilder(cat)
        .scan("lineitem")
        .scan("documents")
        .filter("source = 'web'")
        .join("l_orderkey = doc_id")
        .build()
    )

    def find_join(n):
        if isinstance(n, ir.Join):
            return n
        for c in n.inputs:
            j = find_join(c)
            if j is not None:
                return j
        return None

    # wide rows: 50k x 2KB > 10 MB -> refuse
    st["text"]["avg_len"] = 2000.0
    j = find_join(default_program(cat).run(plan))
    assert not (j.broadcast_left or j.broadcast_right)
    # narrow rows: 50k x ~60B < 10 MB -> broadcast fires
    st["text"]["avg_len"] = 10.0
    j2 = find_join(default_program(cat).run(plan))
    assert j2.broadcast_right and j2._hint_from_rule


def test_population_size_caps_at_row_count(cat, mq):
    scan = _b(cat).scan("orders").build()
    rows = mq.row_count(scan)
    # two analyzed columns whose NDV product exceeds the row count
    pop = mq.population_size(scan, ["o_custkey", "o_orderkey"])
    assert pop == rows
    single = mq.population_size(scan, ["o_orderstatus"])
    assert single is not None and single <= 3.5
    # unknown NDV -> None (never fabricated)
    assert mq.population_size(scan, ["o_comment_nope"]) is None


def test_percentage_original_rows(cat, mq):
    scan = _b(cat).scan("orders").build()
    assert mq.percentage_original_rows(scan) == 1.0
    filt = _b(cat).scan("orders").filter("o_orderstatus = 'F'").build()
    frac = mq.percentage_original_rows(filt)
    assert frac is not None and 0.0 < frac < 1.0
    # aggregates pass the fraction through; joins compose
    agg = (
        _b(cat).scan("orders").filter("o_orderstatus = 'F'")
        .aggregate(["o_custkey"], ["COUNT(*) AS n"]).build()
    )
    assert mq.percentage_original_rows(agg) == pytest.approx(frac)
    join = (
        _b(cat).scan("customer").scan("orders")
        .filter("o_orderstatus = 'F'").join("c_custkey = o_custkey").build()
    )
    assert mq.percentage_original_rows(join) == pytest.approx(frac)


def test_distribution(cat, mq):
    """≈ RelMdDistribution.java rules + the documented Spark extension
    for Aggregate (hash on group keys after its exchange)."""
    scan = _b(cat).scan("orders").build()
    assert mq.distribution(scan) == ("any", ())
    ex = ir.Exchange("hash", ("o_custkey",), inputs=(scan,))
    assert mq.distribution(ex) == ("hash", ("o_custkey",))
    # Filter / Sort pass through (:126-146)
    filt = ir.Filter("o_totalprice > 0", inputs=(ex,))
    assert mq.distribution(filt) == ("hash", ("o_custkey",))
    srt = ir.Sort(("o_custkey",), inputs=(filt,))
    assert mq.distribution(srt) == ("hash", ("o_custkey",))
    # Values is broadcast-distributed (:175)
    vals = ir.Values([(1,)], "a int")
    assert mq.distribution(vals) == ("broadcast", ())
    # Project keeps the trait when the key survives (aliased or not),
    # degrades to ANY when it is dropped (:164-171)
    keep = ir.Project(("o_custkey", "o_totalprice"), inputs=(ex,))
    assert mq.distribution(keep) == ("hash", ("o_custkey",))
    ren = ir.Project(("o_custkey AS ck",), inputs=(ex,))
    assert mq.distribution(ren) == ("hash", ("ck",))
    drop = ir.Project(("o_totalprice",), inputs=(ex,))
    assert mq.distribution(drop) == ("any", ())
    # Aggregate: hash on its group keys (Spark extension, documented);
    # global aggregate collapses to a singleton
    agg = ir.Aggregate(("o_orderstatus",), ("COUNT(*) AS n",), inputs=(scan,))
    assert mq.distribution(agg) == ("hash", ("o_orderstatus",))
    glob = ir.Aggregate((), ("COUNT(*) AS n",), inputs=(scan,))
    assert mq.distribution(glob) == ("singleton", ())
    # joins default to ANY (BiRel :83)
    j = _b(cat).scan("orders").scan("customer").join("o_custkey = c_custkey").build()
    assert mq.distribution(j) == ("any", ())


def test_cumulative_cost(cat, mq):
    """≈ RelMdCumulativeCost/NonCumulativeCost: per-node cost = C_out
    (output rows), cumulative = summed over the subtree; None
    propagates instead of fabricating."""
    scan = _b(cat).scan("orders").build()
    rows = mq.row_count(scan)
    assert mq.non_cumulative_cost(scan) == rows
    assert mq.cumulative_cost(scan) == rows
    filt = ir.Filter("o_totalprice > 0", inputs=(scan,))
    cc = mq.cumulative_cost(filt)
    # filter cost adds its (smaller) output to the scan's cost
    assert cc is not None and rows < cc <= 2 * rows
    # a deeper tree strictly accumulates
    proj = ir.Project(("o_custkey",), inputs=(filt,))
    assert mq.cumulative_cost(proj) > cc
