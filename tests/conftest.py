"""Shared fixtures: one SparkSession per test run + a DuckDB oracle
mirroring the driver's t2 check (row count, column names, order-
insensitive value comparison) at sf0.001 for speed.
"""

from __future__ import annotations

import math
import os

import duckdb
import pytest

SF_DIR = os.environ.get("SPARK_GRAFT_TEST_SF_DIR", "/root/testdata/sf0.001")
TABLES = (
    "region nation customer supplier part orders lineitem events documents embeddings".split()
)


# a failure that names one of these may mean the Spark JVM died (OOM
# kill, crash); every later test would then fail the same way
_JVM_GONE = ("Py4JNetworkError", "ConnectionRefusedError", "Answer from Java side is empty")


def _jvm_alive() -> bool:
    from pyspark import SparkContext

    sc = SparkContext._active_spark_context
    if sc is None:
        return True
    try:
        sc._jvm.java.lang.System.currentTimeMillis()
        return True
    except Exception:
        return False


def pytest_runtest_logreport(report):
    """Stop the run once, with the root cause, when the JVM is gone."""
    if not report.failed:
        return
    text = report.longreprtext
    cause = next((c for c in _JVM_GONE if c in text), None)
    if cause is not None and not _jvm_alive():
        pytest.exit(
            f"the Spark JVM is gone ({cause} in {report.nodeid}); "
            "stopping instead of failing every later test",
            returncode=3,
        )


@pytest.fixture(scope="session")
def spark():
    from calcite_spark.session import get_spark

    spark = get_spark("calcite_spark_tests")
    yield spark


@pytest.fixture(scope="session")
def duck():
    con = duckdb.connect()
    for t in TABLES:
        path = os.path.join(SF_DIR, f"{t}.parquet")
        if os.path.exists(path):
            con.execute(f"CREATE VIEW {t} AS SELECT * FROM read_parquet('{path}')")
    yield con
    con.close()


def _norm_cell(v):
    import datetime
    import decimal

    if v is None:
        return None
    if isinstance(v, float):
        if math.isnan(v):
            return "NaN"
        return round(v, 6)
    if isinstance(v, decimal.Decimal):
        return round(float(v), 6)
    if isinstance(v, datetime.datetime):
        return v.replace(tzinfo=None).isoformat()
    if isinstance(v, datetime.date):
        return v.isoformat()
    if isinstance(v, (list, tuple)):
        return tuple(_norm_cell(x) for x in v)
    return v


def normalize_rows(cols, rows):
    """Sort columns by name, normalize values, sort rows — the driver's
    order-insensitive compare."""
    order = sorted(range(len(cols)), key=lambda i: cols[i])
    out = [tuple(_norm_cell(r[i]) for i in order) for r in rows]
    out.sort(key=lambda t: tuple((x is None, str(x)) for x in t))
    return [cols[i] for i in order], out


def assert_matches_oracle(spark_df, duck_con, oracle_sql_text):
    sdf = spark_df.collect()
    scols = spark_df.columns
    rel = duck_con.sql(oracle_sql_text)
    dcols = list(rel.columns)
    drows = rel.fetchall()

    assert sorted(c.lower() for c in scols) == sorted(c.lower() for c in dcols), (
        f"column mismatch: spark={sorted(scols)} duck={sorted(dcols)}"
    )
    s_cols, s_rows = normalize_rows([c.lower() for c in scols], [tuple(r) for r in sdf])
    d_cols, d_rows = normalize_rows([c.lower() for c in dcols], drows)
    assert len(s_rows) == len(d_rows), f"row count: spark={len(s_rows)} duck={len(d_rows)}"
    for i, (sr, dr) in enumerate(zip(s_rows, d_rows)):
        assert sr == dr, f"row {i} differs (cols {s_cols}):\n spark={sr}\n duck ={dr}"
