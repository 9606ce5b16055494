"""Inventory correctness: every query with an oracle must match DuckDB at
sf0.001 (the driver runs the same protocol at sf0.01) — ≈ Calcite's
Quidem .iq scripts with DuckDB as the expected side.
"""

from __future__ import annotations

import os
import pathlib
import subprocess
import sys

import pytest

from calcite_spark.queries.inventory import QUERIES, queries
from tests.conftest import SF_DIR, assert_matches_oracle

queries()  # force registration


@pytest.mark.parametrize("name", sorted(QUERIES))
def test_query_matches_oracle(name, spark, duck):
    q = QUERIES[name]
    df = q.fn(spark, SF_DIR)
    # snapshot oracles (tests/expected/*.parquet) are pinned at the
    # driver's correctness SF (0.01) — at any other SF do the rows-only
    # check here; the driver sim covers the snapshot compare.
    snapshot = q.oracle is not None and "tests/expected" in q.oracle
    if q.oracle is None or (snapshot and not SF_DIR.rstrip("/").endswith("sf0.01")):
        # rows-only: must run and produce a stable schema
        rows = df.collect()
        assert df.columns, f"{name}: no columns"
        assert rows is not None
    else:
        assert_matches_oracle(df, duck, q.oracle)


def test_entry_smoke(spark):
    import __spark_entry__ as e

    df = e.entry(spark)
    assert len(df.collect()) >= 0
    names = set(e.queries())
    oracles = e.oracle_sql()
    assert set(oracles) <= names


def test_readme_suite_count_matches_registry():
    """README's advertised suite size is single-sourced here: the doc
    number must track the registry (r8 verdict found it 7 stale)."""
    import pathlib
    import re

    readme = pathlib.Path(__file__).resolve().parents[1] / "README.md"
    m = re.search(r"`queries\(\)` \((\d+) named", readme.read_text())
    assert m, "README no longer states the suite count"
    assert int(m.group(1)) == len(QUERIES), (
        f"README says {m.group(1)} queries; registry holds {len(QUERIES)} "
        "— update README.md's driver-contract paragraph"
    )


def test_query_scratch_dirs_go_at_exit(tmp_path):
    """A registry query's scratch warehouse lives under one root that is
    removed when the interpreter exits: a child process that builds
    qx45_mv_join_refresh leaves no qx45_* directory under its TMPDIR."""
    child = (
        "import os\n"
        "from calcite_spark.queries import inventory\n"
        "from calcite_spark.session import get_spark\n"
        "inventory.queries()\n"
        "spark = get_spark('scratch_dir_child')\n"
        f"inventory.QUERIES['qx45_mv_join_refresh'].fn(spark, {SF_DIR!r}).collect()\n"
        "root = inventory._SCRATCH_ROOT[0]\n"
        "assert any(n.startswith('qx45_') for n in os.listdir(root)), root\n"
    )
    env = dict(
        os.environ, TMPDIR=str(tmp_path), SPARK_GRAFT_DRIVER_MEM="1g", SPARK_GRAFT_CPUS="1"
    )
    proc = subprocess.run(
        [sys.executable, "-c", child],
        cwd=pathlib.Path(__file__).resolve().parent.parent,
        env=env, capture_output=True, text=True, timeout=300,
    )
    assert proc.returncode == 0, proc.stderr[-2000:]
    left = [d for d, _, _ in os.walk(tmp_path) if os.path.basename(d).startswith("qx45_")]
    assert not left
