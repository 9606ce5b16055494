"""Operations the benchmark defines itself, next to the registry queries.

``sql_shell_dml`` drives the path of ``python -m calcite_spark``: a fresh
catalog, the SQL macro frontend and ``DdlExecutor`` run a CREATE TABLE AS /
UPDATE / DELETE / MERGE / CREATE MATERIALIZED VIEW script, then a read that
the view can answer. No registered query goes through DdlExecutor, so
without this op the DDL layer would never run. Its oracle runs the same
statements in DuckDB on the same parquet files.
"""

from __future__ import annotations

import os
import tempfile

COLS = "o_orderkey, o_custkey, o_orderstatus, o_totalprice"
SOURCE = f"SELECT {COLS} FROM orders WHERE o_orderkey % 14 IN (0, 1)"

SCRIPT = [
    f"CREATE TABLE bo AS SELECT {COLS} FROM orders WHERE o_orderkey % 7 = 0",
    "UPDATE bo SET o_totalprice = o_totalprice * 2 WHERE o_orderstatus = 'F'",
    "DELETE FROM bo WHERE o_custkey % 5 = 0",
    f"MERGE INTO bo AS t USING ({SOURCE}) AS s ON t.o_orderkey = s.o_orderkey "
    "WHEN MATCHED THEN UPDATE SET o_totalprice = s.o_totalprice + 1 "
    "WHEN NOT MATCHED THEN INSERT (o_orderkey, o_custkey, o_orderstatus, o_totalprice) "
    "VALUES (s.o_orderkey, s.o_custkey, s.o_orderstatus, s.o_totalprice)",
    "CREATE MATERIALIZED VIEW bo_mv AS SELECT o_orderstatus, COUNT(*) AS n, "
    "SUM(o_totalprice) AS total FROM bo GROUP BY o_orderstatus",
]

# DuckDB 1.0 has no MERGE: the same upsert as UPDATE ... FROM + INSERT
ORACLE_SCRIPT = SCRIPT[:3] + [
    f"UPDATE bo SET o_totalprice = s.o_totalprice + 1 FROM ({SOURCE}) AS s "
    "WHERE bo.o_orderkey = s.o_orderkey",
    f"INSERT INTO bo SELECT * FROM ({SOURCE}) AS s "
    "WHERE s.o_orderkey NOT IN (SELECT o_orderkey FROM bo)",
]

QUERY = (
    "SELECT o_orderstatus, COUNT(*) AS n, ROUND(SUM(o_totalprice), 2) AS total "
    "FROM bo GROUP BY o_orderstatus"
)


def sql_shell_dml(spark, sf_dir):
    from calcite_spark.catalog import open_catalog
    from calcite_spark.sql.ddl import DdlExecutor
    from calcite_spark.sql.frontend import SqlFrontend

    cat = open_catalog(spark, sf_dir)
    cat.register_all_views()
    fe = SqlFrontend(cat)
    ddl = DdlExecutor(fe, tempfile.mkdtemp(prefix="perfbench_wh_", dir=os.getcwd()))
    for stmt in SCRIPT:
        ddl.execute(stmt)
    return fe.sql(QUERY)


def sql_shell_dml_oracle(con):
    """Run the script in DuckDB; the read scans the table itself."""
    con.execute("DROP TABLE IF EXISTS bo")
    for stmt in ORACLE_SCRIPT:
        con.execute(stmt.replace("CREATE TABLE", "CREATE TEMP TABLE"))
    rel = con.sql(QUERY)
    cols, rows = list(rel.columns), rel.fetchall()
    con.execute("DROP TABLE bo")
    return cols, rows


OPS = {"sql_shell_dml": (sql_shell_dml, sql_shell_dml_oracle)}
