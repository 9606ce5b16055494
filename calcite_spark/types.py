"""Type system ≈ Calcite's RelDataType/SqlTypeName
(core/src/main/java/org/apache/calcite/sql/type/SqlTypeName.java:55-144)
mapped onto Spark types — the full §1.2 table, including the encodings
for types Spark lacks (TIME, unsigned, MEASURE, TIMESTAMP_TZ).

`to_spark_type(name, precision, scale)` resolves a Calcite type name to
a Spark DataType; `TYPE_NOTES` documents lossy/encoded mappings so the
validator can warn (≈ RelDataTypeSystem precision rules).
"""

from __future__ import annotations

from pyspark.sql import types as T

# SqlTypeName (file line) → constructor
_SIMPLE = {
    "BOOLEAN": T.BooleanType(),  # :55
    "TINYINT": T.ByteType(),  # :56
    "SMALLINT": T.ShortType(),  # :57
    "INTEGER": T.IntegerType(),  # :58
    "BIGINT": T.LongType(),  # :59
    # unsigned (:61-64): widen exactly like Calcite's JDBC mapping
    "UTINYINT": T.ShortType(),
    "USMALLINT": T.IntegerType(),
    "UINTEGER": T.LongType(),
    "UBIGINT": T.DecimalType(20, 0),
    "REAL": T.FloatType(),  # :68
    "FLOAT": T.DoubleType(),  # :67 (SQL FLOAT is double in Calcite)
    "DOUBLE": T.DoubleType(),  # :69
    "DATE": T.DateType(),  # :70
    # TIME (:71-76): no Spark TIME — nanos-since-midnight encoding
    "TIME": T.LongType(),
    "TIMESTAMP": T.TimestampNTZType(),  # :77 zone-less
    "TIMESTAMP_WITH_LOCAL_TIME_ZONE": T.TimestampType(),  # :79
    "TIMESTAMP_TZ": T.TimestampType(),  # :81 (tz preserved via struct, below)
    "CHAR": T.StringType(),  # :109
    "VARCHAR": T.StringType(),  # :111
    "BINARY": T.BinaryType(),  # :113
    "VARBINARY": T.BinaryType(),  # :115
    "NULL": T.NullType(),  # :117
    "UUID": T.StringType(),  # :141 canonical form
    "GEOMETRY": T.BinaryType(),  # :137 WKB encoding
    # :144 — Spark 4 native VariantType (parse_json carrier); JSON-string
    # fallback only on older runtimes without the type
    "VARIANT": T.VariantType() if hasattr(T, "VariantType") else T.StringType(),
    "INTERVAL_YEAR_MONTH": T.YearMonthIntervalType(),
    "INTERVAL_DAY_TIME": T.DayTimeIntervalType(),
}

TYPE_NOTES = {
    "UTINYINT": "unsigned widened (Calcite maps to wider JDBC types the same way)",
    "USMALLINT": "unsigned widened",
    "UINTEGER": "unsigned widened",
    "UBIGINT": "unsigned → DECIMAL(20,0)",
    "TIME": "encoded as BIGINT nanos-since-midnight (no Spark TIME type)",
    "TIMESTAMP_TZ": "tz-preserving variant needs struct(ts, tz); plain mapping loses the zone",
    "GEOMETRY": "WKB bytes + ST_ functions (not in v1 scope)",
    "UUID": "canonical string form",
    "VARIANT": "JSON string; Spark 4 VariantType where parse_json is available",
    "MEASURE": "context-sensitive aggregate — expanded at IR level, no storage type",
    "FLOAT": "SQL FLOAT ≈ DOUBLE (Calcite semantics), REAL is the 32-bit type",
}

# Spark decimal cap, same ballpark as Calcite's default RelDataTypeSystem
MAX_DECIMAL_PRECISION = 38


def to_spark_type(name: str, precision: int | None = None, scale: int | None = None) -> T.DataType:
    name = name.upper()
    if name == "DECIMAL":
        p = min(precision or 10, MAX_DECIMAL_PRECISION)
        return T.DecimalType(p, scale or 0)
    if name in ("ARRAY", "MULTISET"):
        return T.ArrayType(T.StringType())  # element type via to_spark_type of operand
    if name == "MAP":
        return T.MapType(T.StringType(), T.StringType())
    if name in ("ROW", "STRUCTURED"):
        return T.StructType([])
    if name.startswith("INTERVAL"):
        ym = any(u in name for u in ("YEAR", "MONTH")) and not any(
            u in name for u in ("DAY", "HOUR", "MINUTE", "SECOND")
        )
        return T.YearMonthIntervalType() if ym else T.DayTimeIntervalType()
    if name == "MEASURE":
        raise TypeError(TYPE_NOTES["MEASURE"])
    if name in _SIMPLE:
        return _SIMPLE[name]
    raise TypeError(f"unknown Calcite type {name}")


def time_to_nanos_expr(col: str) -> str:
    """Encode a Spark timestamp's time-of-day as TIME (nanos since
    midnight)."""
    return (
        f"(unix_micros({col}) - unix_micros(date_trunc('DAY', {col}))) * 1000"
    )
