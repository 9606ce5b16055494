"""Infrastructure-capability queries: materialized-view rewrite, UDTF
table functions, MERGE INTO — driver-checkable forms of the §2.2/2.9/
§4.2 capabilities that otherwise only live in tests.
"""

from __future__ import annotations

import os

from pyspark.sql import functions as F

from calcite_spark.queries.inventory import catalog_for, register, scratch_dir

_MV_CACHE: dict[tuple, object] = {}


@register(
    "q90_mv_rewrite",
    oracle="""
    SELECT o_orderpriority, COUNT(*) AS n_orders,
           ROUND(SUM(o_totalprice), 3) AS total
    FROM orders
    GROUP BY o_orderpriority
    ORDER BY o_orderpriority
    """,
    tags=("materialized_view", "rewrite"),
)
def q90_mv_rewrite(spark, sf_dir):
    """Materialized-view substitution end-to-end: a (priority, status)
    tile is defined once; this coarser group-by is answered FROM THE TILE
    via rollup compensation (plans/materialize.py) — the oracle computes
    from the base table, so a wrong rewrite fails the hash check."""
    from calcite_spark.catalog import Catalog
    from calcite_spark.plans.builder import RelBuilder
    from calcite_spark.plans.materialize import MaterializationRegistry

    key = (id(spark), sf_dir)
    if key not in _MV_CACHE:
        cat = Catalog(spark).register_parquet_dir(sf_dir)
        reg = MaterializationRegistry()
        path = os.path.join(scratch_dir("q90_mv_"), "q90_tile")
        reg.define(
            cat,
            "q90_tile",
            "orders",
            ["o_orderpriority", "o_orderstatus"],
            ["COUNT(*) AS n_orders", "SUM(o_totalprice) AS total_raw"],
            path,
        )
        _MV_CACHE[key] = cat
    cat = _MV_CACHE[key]
    df = (
        RelBuilder(cat)
        .scan("orders")
        .aggregate(
            ["o_orderpriority"],
            ["COUNT(*) AS n_orders", "SUM(o_totalprice) AS total_raw"],
        )
        .to_df()
    )
    assert all("q90_tile" in f for f in df.inputFiles()), "MV rewrite did not fire"
    return df.selectExpr(
        "o_orderpriority", "n_orders", "ROUND(total_raw, 3) AS total"
    ).orderBy("o_orderpriority")


@register(
    "q91_udtf",
    oracle="""
    SELECT p_partkey, unnest(string_split(p_name, ' ')) AS word
    FROM part WHERE p_partkey <= 20
    ORDER BY p_partkey, word
    """,
    tags=("udtf", "table_function"),
)
def q91_udtf(spark, sf_dir):
    """Python UDTF (TableFunctionScan ≈ rel/core/TableFunctionScan.java:57):
    a word-splitting table function applied per row via LATERAL."""
    from pyspark.sql.functions import udtf

    if "q91_words" not in getattr(spark, "_q91_registered", set()):
        @udtf(returnType="word string")
        class Words:
            def eval(self, text: str):
                for w in (text or "").split():
                    yield (w,)

        spark.udtf.register("q91_words", Words)
        spark._q91_registered = {"q91_words"}
    catalog_for(spark, sf_dir).register_all_views()
    return spark.sql(
        """
        SELECT p_partkey, w.word AS word
        FROM part, LATERAL q91_words(p_name) w
        WHERE p_partkey <= 20
        ORDER BY p_partkey, word
        """
    )


@register(
    "q92_merge_upsert",
    oracle="""
    WITH source AS (
      SELECT n_nationkey + 100 AS src_key, 'NEW_' || n_name AS src_name
      FROM nation WHERE n_nationkey < 5
      UNION ALL
      SELECT n_nationkey AS src_key, 'UPD_' || n_name AS src_name
      FROM nation WHERE n_nationkey >= 20
    )
    SELECT COALESCE(t.n_nationkey, s.src_key) AS n_nationkey,
           COALESCE(s.src_name, t.n_name) AS n_name
    FROM nation t FULL OUTER JOIN source s ON t.n_nationkey = s.src_key
    ORDER BY n_nationkey
    """,
    tags=("merge", "table_modify"),
)
def q92_merge_upsert(spark, sf_dir):
    """MERGE INTO (TableModify.java:74) on a scratch copy of nation:
    update rows >= 20, insert keys+100 — oracle reproduces the upsert
    with a FULL OUTER join."""
    import shutil

    from calcite_spark.catalog import Catalog
    from calcite_spark.sources.modify import merge_into

    cat = Catalog(spark)
    scratch = scratch_dir("q92_")
    nation = spark.read.parquet(os.path.join(sf_dir, "nation.parquet"))
    nation.write.mode("overwrite").parquet(os.path.join(scratch, "nation"))
    # write-site schema registration: skip re-inferring the schema of
    # the copy just written (same pattern as the MV tile registrations)
    cat.register("q92_nation", os.path.join(scratch, "nation"), schema=nation.schema)
    source = nation.filter("n_nationkey < 5").selectExpr(
        "n_nationkey + 100 AS src_key", "'NEW_' || n_name AS src_name"
    ).unionAll(
        nation.filter("n_nationkey >= 20").selectExpr(
            "n_nationkey AS src_key", "'UPD_' || n_name AS src_name"
        )
    )
    merge_into(
        cat,
        "q92_nation",
        source,
        on="n_nationkey = src_key",
        when_matched_update={"n_name": "src_name"},
        insert_values={"n_nationkey": "CAST(src_key AS INT)", "n_name": "src_name"},
    )
    merged = cat.table("q92_nation")
    return merged.selectExpr(
        "COALESCE(n_nationkey, CAST(NULL AS INT)) AS n_nationkey", "n_name"
    ).orderBy("n_nationkey")


@register(
    "qx04_federation",
    oracle="""
    SELECT r_name, COUNT(*) AS n_customers, ROUND(SUM(c_acctbal), 3) AS acctbal
    FROM customer
    JOIN nation ON c_nationkey = n_nationkey
    JOIN region ON n_regionkey = r_regionkey
    GROUP BY r_name
    ORDER BY r_name
    """,
    tags=("federation", "jdbc", "rel2sql"),
)
def qx04_federation(spark, sf_dir):
    """Federated execution ≈ the JDBC adapter (JdbcRules.java:381-787):
    nation+region live in an EXTERNAL DuckDB engine; their join is
    emitted via rel2sql's DuckDB dialect, executed remotely as ONE
    query, and joined in Spark against the local customer table. The
    oracle runs all-local — federation must not change the answer."""
    from calcite_spark.catalog import Catalog
    from calcite_spark.plans.builder import RelBuilder
    from calcite_spark.sources.federation import (
        DuckDBEngine,
        execute_federated,
        register_external,
    )

    cat = Catalog(spark).register_parquet_dir(sf_dir, tables=("customer",))
    engine = DuckDBEngine.from_parquet_dir(sf_dir, ("nation", "region"))
    register_external(cat, "nation", engine)
    register_external(cat, "region", engine)
    plan = (
        RelBuilder(cat)
        .scan("customer")
        .scan("nation")
        .scan("region")
        .join("n_regionkey = r_regionkey")  # external⋈external: one remote query
        .join("c_nationkey = n_nationkey")  # local fact join stays in Spark
        .aggregate(["r_name"], ["COUNT(*) AS n_customers", "ROUND(SUM(c_acctbal), 3) AS acctbal"])
        .sort("r_name")
        .build()
    )
    df = execute_federated(plan, cat)
    assert len(engine.queries_executed) == 1, engine.queries_executed
    return df


_LATTICE_CACHE: dict[tuple, object] = {}


# qx09_lattice_suggest retired from the registry in r14 (rotation
# arithmetic recomputed from CORRECTNESS_r11..r13: 50 r11-green +
# owed qx64..qx66 = 53 claims on 50 slots — three receipted
# retirements forced; see the r14 window plan at inventory.py).
# Receipts, re-verified before removal: the suggester's
# observe→propose→auto_build→serve loop is driver-exercised on a
# strictly wider shape by qx47_lattice_auto_join (JOIN-shape corpus,
# pass r13) and qx61_hot_slice_suggest (grain selection, pass r13);
# the single-table corpus path this row covered is pinned by
# tests/test_materialize.py::test_lattice_suggester_corpus_to_mv,
# ::test_lattice_suggester_below_threshold_silent and
# ::test_suggester_single_table_behavior_unchanged, which exercise the
# same LatticeSuggester observe/auto_build machinery directly.
def qx09_lattice_suggest(spark, sf_dir):
    """Query-corpus lattice suggester end-to-end (plans/materialize.py
    LatticeSuggester ≈ materialize/LatticeSuggester.java): a replayed
    3-query workload over orders is OBSERVED inside default_program, the
    suggester proposes the covering (priority, status) tile, auto_build
    materializes it, and this rollup is answered FROM the auto-built
    tile — the oracle computes from the base table, so a wrong tile or
    wrong compensation fails the hash check."""
    from calcite_spark.catalog import Catalog
    from calcite_spark.plans.builder import RelBuilder
    from calcite_spark.plans.materialize import LatticeSuggester, MaterializationRegistry

    key = (id(spark), sf_dir)
    if key not in _LATTICE_CACHE:
        cat = Catalog(spark).register_parquet_dir(sf_dir)
        sug = LatticeSuggester().attach(cat)
        workload = [
            (["o_orderstatus"], ["COUNT(*) AS n_orders"]),
            (["o_orderpriority"], ["SUM(o_totalprice) AS total_raw"]),
            (["o_orderpriority", "o_orderstatus"], ["COUNT(*) AS n_orders"]),
        ]
        for keys, calls in workload:
            RelBuilder(cat).scan("orders").aggregate(keys, calls).to_df()
        reg = MaterializationRegistry()
        warehouse = scratch_dir("qx09_lattice_")
        built = sug.auto_build(cat, reg, warehouse, min_count=3)
        assert built, "suggester proposed nothing from the workload"
        _LATTICE_CACHE[key] = cat
    cat = _LATTICE_CACHE[key]
    df = (
        RelBuilder(cat)
        .scan("orders")
        .aggregate(
            ["o_orderstatus"],
            ["COUNT(*) AS n_orders", "SUM(o_totalprice) AS total_raw"],
        )
        .to_df()
    )
    assert all("lattice_orders" in f for f in df.inputFiles()), "lattice tile not used"
    return df.selectExpr(
        "o_orderstatus", "n_orders", "ROUND(total_raw, 3) AS total"
    ).orderBy("o_orderstatus")


@register(
    "qx15_profile",
    oracle="""
    SELECT 'o_custkey' AS col_name, COUNT(o_custkey) AS n_nonnull,
           COUNT(DISTINCT o_custkey) AS ndv, COUNT(*) - COUNT(o_custkey) AS n_nulls
    FROM orders
    UNION ALL
    SELECT 'o_orderpriority', COUNT(o_orderpriority), COUNT(DISTINCT o_orderpriority),
           COUNT(*) - COUNT(o_orderpriority) FROM orders
    UNION ALL
    SELECT 'o_orderstatus', COUNT(o_orderstatus), COUNT(DISTINCT o_orderstatus),
           COUNT(*) - COUNT(o_orderstatus) FROM orders
    UNION ALL
    SELECT 'o_orderdate', COUNT(o_orderdate), COUNT(DISTINCT o_orderdate),
           COUNT(*) - COUNT(o_orderdate) FROM orders
    ORDER BY col_name
    """,
    tags=("profiler", "statistics"),
)
def qx15_profile(spark, sf_dir):
    """Data profiler (≈ profile/Profiler.java / ProfilerImpl.java): the
    single-pass profile relation (exec.profile_relation — one scan, one
    aggregate) unpivoted to a row per column. Exact ndv here so DuckDB
    can verify values; the 100 TB path is the same plan with HLL
    sketches (exact=False)."""
    from calcite_spark.exec import profile_relation

    cat = catalog_for(spark, sf_dir)
    cols = ["o_custkey", "o_orderdate", "o_orderpriority", "o_orderstatus"]
    wide = profile_relation(cat, "orders", cols, exact=True)
    stack = ", ".join(
        f"'{c}', __rows - __nulls_{c}, __ndv_{c}, __nulls_{c}" for c in cols
    )
    return wide.selectExpr(
        f"stack({len(cols)}, {stack}) AS (col_name, n_nonnull, ndv, n_nulls)"
    ).orderBy("col_name")


@register(
    "qx16_functional_deps",
    oracle="""
    WITH s AS (
      SELECT COUNT(DISTINCT n_nationkey) AS ndv_nk,
             COUNT(DISTINCT n_name) AS ndv_nm,
             COUNT(DISTINCT n_regionkey) AS ndv_rk,
             COUNT(DISTINCT (n_nationkey, n_name)) AS p_nk_nm,
             COUNT(DISTINCT (n_nationkey, n_regionkey)) AS p_nk_rk,
             COUNT(DISTINCT (n_name, n_regionkey)) AS p_nm_rk
      FROM nation
    )
    SELECT * FROM (
      SELECT 'n_nationkey' AS determinant, 'n_name' AS dependent,
             ndv_nk AS ndv_det, p_nk_nm AS ndv_pair, p_nk_nm <= ndv_nk AS holds FROM s
      UNION ALL
      SELECT 'n_name', 'n_nationkey', ndv_nm, p_nk_nm, p_nk_nm <= ndv_nm FROM s
      UNION ALL
      SELECT 'n_nationkey', 'n_regionkey', ndv_nk, p_nk_rk, p_nk_rk <= ndv_nk FROM s
      UNION ALL
      SELECT 'n_regionkey', 'n_nationkey', ndv_rk, p_nk_rk, p_nk_rk <= ndv_rk FROM s
      UNION ALL
      SELECT 'n_name', 'n_regionkey', ndv_nm, p_nm_rk, p_nm_rk <= ndv_nm FROM s
      UNION ALL
      SELECT 'n_regionkey', 'n_name', ndv_rk, p_nm_rk, p_nm_rk <= ndv_rk FROM s
    ) ORDER BY determinant, dependent
    """,
    tags=("profiler", "functional_dependency"),
)
def qx16_functional_deps(spark, sf_dir):
    """Functional-dependency discovery (≈ ProfilerImpl's depth-2 lattice
    walk deriving Statistic.java's keys/dependencies): exec.profile_deep
    computes singleton + pair cardinalities in two sketch passes (exact
    here for the oracle) and the FD rule ndv(pair) <= ndv(det) decides
    direction. n_regionkey determines nothing; n_nationkey determines
    everything — a wrong pair count or rule flips `holds`."""
    from calcite_spark.exec import profile_deep

    cat = catalog_for(spark, sf_dir)
    cols = ["n_nationkey", "n_name", "n_regionkey"]
    prof = profile_deep(cat, "nation", cols, exact=True, fd_tolerance=0.0)
    # NOTE: profile_deep hides bounded .collect()s (two 1-row aggregate
    # results), and this createDataFrame materializes the FD REPORT on
    # the driver — fine for a ≤ C(n,2)-row metadata result whose heavy
    # scans were distributed aggregates, but do NOT copy this pattern
    # for data-sized results.
    rows = []
    for (x, y), ndv_pair in prof["pair_ndv"].items():
        for det, dep in ((x, y), (y, x)):
            ndv_det = prof["columns"][det]["ndv"]
            rows.append((det, dep, ndv_det, ndv_pair, bool(ndv_pair <= ndv_det)))
    sdf = spark.createDataFrame(
        rows, "determinant string, dependent string, ndv_det bigint, ndv_pair bigint, holds boolean"
    )
    return sdf.orderBy("determinant", "dependent")
