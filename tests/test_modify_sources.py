"""TableModify (INSERT/UPDATE/DELETE/MERGE) and source-adapter tests on a
scratch copy of the testdata — ≈ JdbcAdapterTest's modify cases +
ScannableTableTest's pushdown contracts, without touching /root/testdata.
"""

from __future__ import annotations

import shutil
import tempfile

import pytest

from calcite_spark.catalog import Catalog
from calcite_spark.sources.modify import (
    clone_in_memory,
    delete_where,
    insert_into,
    merge_into,
    register_csv,
    register_json,
    update_set,
)
from tests.conftest import SF_DIR


@pytest.fixture()
def scratch(spark, tmp_path):
    cat = Catalog(spark)
    src = spark.read.parquet(f"{SF_DIR}/nation.parquet")
    path = str(tmp_path / "nation")
    src.write.parquet(path)
    cat.register("nation", path)
    return cat


def test_insert_into(spark, scratch):
    n0 = scratch.table("nation").count()
    new_rows = spark.createDataFrame(
        [(90, "ATLANTIS", 0)], "n_nationkey int, n_name string, n_regionkey int"
    )
    insert_into(scratch, "nation", new_rows)
    assert scratch.table("nation").count() == n0 + 1
    assert scratch.table("nation").filter("n_name = 'ATLANTIS'").count() == 1


def test_delete_where(spark, scratch):
    n0 = scratch.table("nation").count()
    deleted = delete_where(scratch, "nation", "n_regionkey = 0")
    assert deleted > 0
    assert scratch.table("nation").count() == n0 - deleted
    assert scratch.table("nation").filter("n_regionkey = 0").count() == 0


def test_update_set(spark, scratch):
    n = update_set(
        scratch, "nation", {"n_name": "lower(n_name)"}, "n_regionkey = 1"
    )
    assert n > 0
    got = scratch.table("nation").filter("n_regionkey = 1").select("n_name").collect()
    assert all(r.n_name == r.n_name.lower() for r in got)
    other = scratch.table("nation").filter("n_regionkey <> 1").select("n_name").collect()
    assert all(r.n_name == r.n_name.upper() for r in other)


def test_merge_into_upsert(spark, scratch):
    source = spark.createDataFrame(
        [(0, "RENAMED#0", 9), (91, "NEWLAND", 9)],
        "src_key int, src_name string, src_region int",
    )
    stats = merge_into(
        scratch,
        "nation",
        source,
        on="n_nationkey = src_key",
        when_matched_update={"n_name": "src_name", "n_regionkey": "src_region"},
    )
    assert stats == {"matched": 1, "inserted": 1, "rows_modified": 2}
    t = scratch.table("nation")
    assert t.filter("n_nationkey = 0 AND n_name = 'RENAMED#0' AND n_regionkey = 9").count() == 1
    # inserted row carries nulls for target-only columns not in source
    assert t.filter("n_name IS NULL AND n_nationkey IS NULL").count() == 1


def test_merge_duplicate_source_keys_raises(spark, scratch):
    """A target row matching two source rows raises — checked on the
    observed counts after the sibling write, before the swap — and the
    table keeps its path, rows and directory listing, with no `.cow-*`
    sibling left behind."""
    import os

    path = scratch.tables["nation"].path
    parent = os.path.dirname(path)
    before_ls = sorted(os.listdir(parent))
    before_rows = sorted(map(tuple, scratch.table("nation").collect()))
    dup = spark.createDataFrame(
        [(1, "A", 1), (1, "B", 1), (93, "C", 1)],
        "src_key int, src_name string, src_region int",
    )
    for kw in ({"when_matched_update": {"n_name": "src_name"}},
               {"when_matched_delete": True}):
        with pytest.raises(ValueError, match="multiple source rows"):
            merge_into(scratch, "nation", dup, on="n_nationkey = src_key", **kw)
        assert scratch.tables["nation"].path == path
        assert sorted(os.listdir(parent)) == before_ls
        assert not any(".cow-" in n for n in os.listdir(parent))
        assert sorted(map(tuple, scratch.table("nation").collect())) == before_rows


def test_merge_delete(spark, scratch):
    n0 = scratch.table("nation").count()
    source = spark.createDataFrame([(3,)], "src_key int")
    merge_into(
        scratch,
        "nation",
        source,
        on="n_nationkey = src_key",
        when_matched_delete=True,
        when_not_matched_insert=False,
    )
    assert scratch.table("nation").count() == n0 - 1
    assert scratch.table("nation").filter("n_nationkey = 3").count() == 0


def test_csv_json_adapters(spark, scratch, tmp_path):
    df = scratch.table("nation")
    df.write.option("header", "true").csv(str(tmp_path / "n_csv"))
    df.write.json(str(tmp_path / "n_json"))
    register_csv(scratch, "nation_csv", str(tmp_path / "n_csv"))
    register_json(scratch, "nation_json", str(tmp_path / "n_json"))
    assert scratch.table("nation_csv").count() == df.count()
    assert scratch.table("nation_json").count() == df.count()
    # CSV scan honors projection pushdown: only requested col in schema
    got = scratch.table("nation_csv").select("n_name").limit(1).collect()
    assert got[0].n_name


def test_clone_in_memory(spark, scratch):
    clone = clone_in_memory(scratch, "nation")
    assert clone.storageLevel.useMemory
    assert scratch.table("nation_clone").count() == scratch.table("nation").count()


def test_update_simultaneous_semantics(spark, scratch):
    """SQL UPDATE is simultaneous: every RHS evaluates against the
    ORIGINAL row — `SET a = b, b = a` swaps (review r8: the chained
    withColumn let later assignments see updated values); the condition
    is likewise pinned to the original row even when an assignment
    falsifies it."""
    t = scratch.table("nation")
    row = t.filter("n_nationkey = 1").collect()[0]
    update_set(
        scratch, "nation",
        {"n_nationkey": "n_regionkey", "n_regionkey": "n_nationkey"},
        "n_nationkey = 1",
    )
    got = scratch.table("nation").filter(
        f"n_nationkey = {row.n_regionkey} AND n_regionkey = 1"
    )
    assert got.count() >= 1
    # condition pinned: an assignment that falsifies the predicate
    # still applies to every originally-matching row
    n = update_set(
        scratch, "nation", {"n_regionkey": "n_regionkey + 100"},
        "n_regionkey = 1",
    )
    assert n == scratch.table("nation").filter("n_regionkey = 101").count()


def test_update_post_assignments_see_updated_row(spark, scratch):
    """post_assignments (the generated-column recompute hook) run in a
    second pass over the POST-update row."""
    update_set(
        scratch, "nation", {"n_regionkey": "n_regionkey + 1"},
        "n_nationkey = 2",
        post_assignments={"n_name": "concat('R', CAST(n_regionkey AS STRING))"},
    )
    t = scratch.table("nation")
    r = t.filter("n_nationkey = 2").collect()[0]
    assert r.n_name == f"R{r.n_regionkey}"


def test_merge_compound_and_reversed_on(spark, scratch):
    """The ON condition is handled condition-agnostically: compound
    conjunctions and reversed operand order both match correctly
    (review r8: the on.split('=') key extraction silently updated
    nothing while reporting matched>0)."""
    source = spark.createDataFrame(
        [(0, 0, "X")], "sk int, sr int, sname string"
    )
    stats = merge_into(
        scratch, "nation", source,
        on="n_nationkey = sk AND n_regionkey = sr",
        when_matched_update={"n_name": "sname"},
        when_not_matched_insert=False,
    )
    assert stats["matched"] == 1
    assert scratch.table("nation").filter(
        "n_nationkey = 0 AND n_name = 'X'"
    ).count() == 1
    # reversed operands
    source2 = spark.createDataFrame([(1, "Y")], "sk int, sname string")
    merge_into(
        scratch, "nation", source2, on="sk = n_nationkey",
        when_matched_update={"n_name": "sname"},
        when_not_matched_insert=False,
    )
    assert scratch.table("nation").filter(
        "n_nationkey = 1 AND n_name = 'Y'"
    ).count() == 1


def test_merge_insert_only_rows_modified(spark, scratch):
    """Matched-but-untouched rows are not modifications (review r8)."""
    source = spark.createDataFrame(
        [(0, "dup"), (90, "new")], "sk int, sname string"
    )
    stats = merge_into(
        scratch, "nation", source, on="n_nationkey = sk",
        when_matched_update=None, when_not_matched_insert=True,
        insert_values={"n_nationkey": "sk", "n_name": "sname"},
    )
    assert stats["rows_modified"] == 1 and stats["inserted"] == 1


def _count_actions(monkeypatch, df):
    """Count collect()/count() calls on the concrete DataFrame class
    (pyspark 4's pyspark.sql.DataFrame is an ABC whose subclass
    overrides them)."""
    DataFrame = type(df)
    calls = {"collect": 0, "count": 0}
    for name in calls:
        real = getattr(DataFrame, name)

        def wrapped(self, _real=real, _name=name):
            calls[_name] += 1
            return _real(self)

        monkeypatch.setattr(DataFrame, name, wrapped)
    return calls


def test_merge_probe_is_one_action(spark, scratch, monkeypatch):
    """merge_into's matched/inserted counts and its duplicate-match
    check are Observations on the write's own arms: no count() or
    collect() runs besides the write, and the stats are unchanged."""
    source = spark.createDataFrame(
        [(0, "RENAMED#0", 9), (91, "NEWLAND", 9)],
        "src_key int, src_name string, src_region int",
    )
    calls = _count_actions(monkeypatch, scratch.table("nation"))
    stats = merge_into(
        scratch,
        "nation",
        source,
        on="n_nationkey = src_key",
        when_matched_update={"n_name": "src_name", "n_regionkey": "src_region"},
    )
    assert calls == {"collect": 0, "count": 0}, calls
    assert stats == {"matched": 1, "inserted": 1, "rows_modified": 2}
    # the WHEN MATCHED DELETE arm observes the same marked left join
    source2 = spark.createDataFrame([(1,), (2,), (92,)], "src_key int")
    stats = merge_into(
        scratch, "nation", source2, on="n_nationkey = src_key",
        when_matched_delete=True,
        insert_values={"n_nationkey": "src_key"},
    )
    assert calls == {"collect": 0, "count": 0}, calls
    assert stats == {"matched": 2, "inserted": 1, "rows_modified": 3}
    monkeypatch.undo()
    keys = {r.n_nationkey for r in scratch.table("nation").collect()}
    assert {1, 2}.isdisjoint(keys) and {0, 92} <= keys


def test_delete_where_is_one_count(spark, scratch, monkeypatch):
    """DELETE's #deleted (rows where the condition IS TRUE, the exact
    complement of the kept set) is the footer row count before the
    rewrite minus the one after, and UPDATE's is observed on the
    rewrite's input: no count() or collect() besides the write."""
    calls = _count_actions(monkeypatch, scratch.table("nation"))
    deleted = delete_where(scratch, "nation", "n_regionkey = 0")
    assert calls == {"collect": 0, "count": 0}, calls
    assert deleted == 5
    updated = update_set(scratch, "nation", {"n_name": "'x'"}, "n_regionkey = 1")
    assert calls == {"collect": 0, "count": 0}, calls
    assert updated == 5
    assert scratch.table("nation").filter("n_regionkey = 0").count() == 0


@pytest.mark.parametrize("where", [None, "TRUE", "1=1", "n_nationkey IS NOT NULL OR TRUE"])
def test_delete_all_rows_counts_every_row(spark, scratch, tmp_path, where):
    """A DELETE whose condition folds to TRUE (no WHERE at all reaches
    delete_where as TRUE) makes the kept filter FALSE, and Spark prunes
    the whole input; the count must still be every row, as
    filter(cond).count() gives."""
    from calcite_spark.sql.ddl import DdlExecutor
    from calcite_spark.sql.frontend import SqlFrontend

    n0 = scratch.table("nation").count()
    ddl = DdlExecutor(SqlFrontend(scratch), str(tmp_path / "wh"))
    sql = "DELETE FROM nation" + (f" WHERE {where}" if where else "")
    assert ddl.execute(sql) == {"rows_modified": n0}
    assert scratch.table("nation").count() == 0
    assert delete_where(scratch, "nation", "TRUE") == 0


def test_delete_count_follows_appended_files(spark, scratch):
    """#deleted counts the rows of the files the rewrite reads, even
    when the entry's cached row count predates an append."""
    assert scratch.row_count("nation") == 25
    path = scratch.tables["nation"].path
    spark.read.parquet(f"{SF_DIR}/nation.parquet").write.mode("append").parquet(path)
    scratch._dfs.pop("nation", None)
    assert delete_where(scratch, "nation", "n_regionkey = 0") == 10
    assert scratch.table("nation").count() == 40


def test_repeated_dml_path_bounded(spark, scratch, tmp_path):
    """Copy-on-write siblings alternate between two fixed paths and the
    superseded one is deleted — repeated DML must not grow the path
    (`x.new.new.new…`, r8 verdict) or orphan a directory per statement."""
    import os

    orig = scratch.tables["nation"].path
    for i in range(5):
        update_set(
            scratch, "nation",
            {"n_name": f"'pass {i}'"}, "n_regionkey = 1",
        )
    p = scratch.tables["nation"].path
    assert p in (orig + ".cow-a", orig + ".cow-b")
    # the other sibling (and nothing else) may linger only as the
    # CURRENT one; the superseded sibling is gone
    other = orig + (".cow-b" if p.endswith(".cow-a") else ".cow-a")
    assert not os.path.exists(other)
    assert os.path.exists(p)
    # values survived all five rewrites
    got = scratch.table("nation").filter("n_regionkey = 1").select("n_name").collect()
    assert all(r.n_name == "pass 4" for r in got)
    # an MV tile refresh reads the tile, so the merge is written beside
    # it and moved into place: the tile keeps its path and no copy of
    # an older tile stays behind
    from pyspark.sql import functions as F

    from calcite_spark.plans.builder import RelBuilder
    from calcite_spark.plans.materialize import MaterializationRegistry

    fact_dir = str(tmp_path / "fact")
    spark.read.parquet(f"{SF_DIR}/nation.parquet").write.parquet(fact_dir)
    scratch.register("fact", fact_dir)
    scratch.register("region", f"{SF_DIR}/region.parquet")
    reg = MaterializationRegistry()
    plan = (
        RelBuilder(scratch).scan("fact").scan("region")
        .join("n_regionkey = r_regionkey")
        .aggregate(["r_name"], ["COUNT(*) AS n", "SUM(n_nationkey) AS s"])
        .build()
    )
    tile = str(tmp_path / "tile")
    mv = reg.define_join(scratch, "tile", plan, tile, fact="fact")
    listing = sorted(os.listdir(tmp_path))
    for i in range(5):
        (
            spark.read.parquet(f"{SF_DIR}/nation.parquet")
            .withColumn("n_nationkey", F.col("n_nationkey") + 100 * (i + 1))
            .write.mode("append").parquet(fact_dir)
        )
        scratch._dfs.pop("fact", None)
        stats = reg.incremental_refresh(scratch, "tile")
        assert stats["refreshed"] and stats["delta_files"] >= 1, stats
        assert reg.mvs["tile"].path == scratch.tables["tile"].path == tile
        assert sorted(os.listdir(tmp_path)) == listing
    want = sorted(
        tuple(r)
        for r in spark.read.parquet(fact_dir)
        .join(spark.read.parquet(f"{SF_DIR}/region.parquet"),
              F.expr("n_regionkey = r_regionkey"))
        .groupBy("r_name")
        .agg(F.count("*").alias("n"), F.sum("n_nationkey").alias("s"))
        .collect()
    )
    # the handle define_join returned reads the refreshed tile
    fresh = spark.read.parquet(mv.path).select("r_name", "n", "s")
    assert sorted(tuple(r) for r in fresh.collect()) == want
    got = sorted(tuple(r) for r in scratch.table("tile").select("r_name", "n", "s").collect())
    assert got == want


def test_update_where_null_updates_no_row(spark, scratch, tmp_path):
    """`WHERE NULL` selects no row: the UPDATE reports 0 and leaves the
    rows as they were, also where an assigned NOT NULL column makes
    the executor pre-check the affected rows first. A non-boolean
    condition such as `1` still raises."""
    from calcite_spark.sql.ddl import DdlExecutor
    from calcite_spark.sql.frontend import SqlFrontend

    before = sorted(tuple(r) for r in scratch.table("nation").collect())
    ddl = DdlExecutor(SqlFrontend(scratch), str(tmp_path / "wh"))
    assert ddl.execute("UPDATE nation SET n_name = 'x' WHERE NULL") == {
        "rows_modified": 0
    }
    assert sorted(tuple(r) for r in scratch.table("nation").collect()) == before
    ddl.execute("create table nn (a int not null, b int)")
    ddl.execute("insert into nn (a, b) values (1, 2), (3, 4)")
    assert ddl.execute("update nn set a = 0 where NULL") == {"rows_modified": 0}
    assert sorted(tuple(r) for r in ddl.catalog.table("nn").collect()) == [
        (1, 2), (3, 4)
    ]
    with pytest.raises(Exception, match="DATATYPE_MISMATCH"):
        ddl.execute("UPDATE nation SET n_name = 'x' WHERE 1")
