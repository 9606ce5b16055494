"""The file-snapshot memo behind the catalog's schema and NDV reuse, and
footer row counts: any change to the files Spark would read — an append
into an existing partition subdirectory, or an in-place rewrite that
keeps the file name — must change the key, so a fresh catalog re-derives
all three instead of serving the old files' answers."""

from __future__ import annotations

import os
import time

import pyarrow as pa
import pyarrow.parquet as pq

from calcite_spark.catalog import Catalog, snapshot_key
from calcite_spark.plans.materialize import _probe_ndvs


def _write(path, **cols):
    os.makedirs(os.path.dirname(path), exist_ok=True)
    pq.write_table(pa.table(cols), path)


def _no_count(monkeypatch, df):
    def refuse(self):
        raise AssertionError("row_count ran a count() job")

    monkeypatch.setattr(type(df), "count", refuse)


def test_append_into_partition_subdirectory_invalidates(spark, tmp_path, monkeypatch):
    root = str(tmp_path / "t")
    _write(f"{root}/k=1/a.parquet", x=[1, 2, 3])

    def fresh():
        cat = Catalog(spark)
        cat.register("merged", root, mergeSchema="true")
        cat.register("plain", root)
        return cat

    cat = fresh()
    assert cat.table("merged").columns == ["x", "k"]
    _no_count(monkeypatch, cat.table("plain"))
    assert cat.row_count("plain") == 3
    assert _probe_ndvs(cat, "plain", ["x"]) == [3]
    key = snapshot_key(cat.tables["plain"])
    # the top-level directory's mtime and listing do not change
    top = os.stat(root).st_mtime_ns
    time.sleep(0.01)
    _write(f"{root}/k=1/b.parquet", x=[4, 5, 6, 7], y=["a", "b", "c", "d"])
    assert os.stat(root).st_mtime_ns == top
    cat = fresh()
    assert snapshot_key(cat.tables["plain"]) != key
    # schema re-inferred: the merged schema gains the new column
    assert sorted(cat.table("merged").columns) == ["k", "x", "y"]
    assert cat.row_count("plain") == 7
    assert _probe_ndvs(cat, "plain", ["x"]) == [7]


def test_in_place_rewrite_keeping_the_name_invalidates(spark, tmp_path, monkeypatch):
    root = str(tmp_path / "t")
    _write(f"{root}/part-0.parquet", x=[1, 2, 3])
    cat = Catalog(spark)
    cat.register("t", root)
    assert cat.table("t").columns == ["x"]
    _no_count(monkeypatch, cat.table("t"))
    assert cat.row_count("t") == 3
    assert _probe_ndvs(cat, "t", ["x", "x % 2"]) == [3, 2]
    time.sleep(0.01)
    _write(f"{root}/part-0.parquet", x=[1, 1, 2, 5, 6], z=[0.5] * 5)
    cat = Catalog(spark)
    cat.register("t", root)
    assert cat.table("t").columns == ["x", "z"]
    assert cat.row_count("t") == 5
    assert _probe_ndvs(cat, "t", ["x", "x % 2"]) == [4, 2]


def test_memo_answers_unchanged_files_without_a_job(spark, tmp_path, monkeypatch):
    """Over unchanged files a fresh catalog reuses the memoized NDVs;
    footer row counts skip `_`/`.` names as Spark's reader does."""
    root = str(tmp_path / "t")
    _write(f"{root}/part-0.parquet", x=[1, 2, 2])
    _write(f"{root}/_ignored.parquet", x=[9] * 10)
    _write(f"{root}/.hidden.parquet", x=[9] * 10)
    cat = Catalog(spark)
    cat.register("t", root)
    assert _probe_ndvs(cat, "t", ["x"]) == [2]
    df = cat.table("t")
    assert df.count() == 3
    cat = Catalog(spark)
    cat.register("t", root)
    df = cat.table("t")
    DataFrame = type(df)
    monkeypatch.setattr(
        DataFrame, "collect",
        lambda self: (_ for _ in ()).throw(AssertionError("probe ran")),
    )
    _no_count(monkeypatch, df)
    assert _probe_ndvs(cat, "t", ["x"]) == [2]
    assert cat.row_count("t") == 3


def test_stale_handle_probe_is_not_filed_under_new_files(spark, tmp_path):
    """A catalog's cached DataFrame lists the files as of its creation;
    an NDV probed on it after an append is keyed by the files it read,
    so a fresh catalog over the appended files probes them itself."""
    root = str(tmp_path / "t")
    _write(f"{root}/part-0.parquet", x=[1, 2, 3])
    stale = Catalog(spark)
    stale.register("t", root)
    stale.table("t")
    time.sleep(0.01)
    _write(f"{root}/part-1.parquet", x=[4, 5, 6, 7])
    assert _probe_ndvs(stale, "t", ["x"]) == [3]
    assert stale.row_count("t") == 3
    cat = Catalog(spark)
    cat.register("t", root)
    assert _probe_ndvs(cat, "t", ["x"]) == [7]
    assert cat.row_count("t") == 7
