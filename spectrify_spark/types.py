"""Type system: SQL type-name <-> Spark DataType map + whitelist validation.

Parity with the reference's three-hop map "Redshift Table Schema ->
SqlAlchemy Schema -> Pyarrow Schema -> Parquet" (reference
spectrify/utils/parquet.py:18-40, 56-65) and its up-front whitelist
validation that refuses unsupported column types (reference
spectrify/utils/schema.py:38-44).  Here the map is one hop — SQL type
name -> Spark ``DataType`` — because the DataFrame carries its schema
natively; there is no reflected SQLAlchemy IR to shuttle around.

Pure functions, no SparkSession required: unit-testable without a JVM.
"""

from __future__ import annotations

import re

from pyspark.sql import types as T

# SQL name (upper, parens stripped) -> Spark type factory.
# Scalar whitelist mirrors reference spectrify/utils/parquet.py:24-40.
_SIMPLE_TYPES: dict[str, T.DataType] = {
    "BIGINT": T.LongType(),
    "INT8": T.LongType(),
    "INTEGER": T.IntegerType(),
    "INT": T.IntegerType(),
    "INT4": T.IntegerType(),
    "SMALLINT": T.ShortType(),
    "INT2": T.ShortType(),
    "FLOAT": T.DoubleType(),  # Redshift FLOAT is 8-byte (alias FLOAT8)
    "FLOAT8": T.DoubleType(),
    "DOUBLE PRECISION": T.DoubleType(),
    "DOUBLE_PRECISION": T.DoubleType(),
    "REAL": T.FloatType(),
    "FLOAT4": T.FloatType(),
    "VARCHAR": T.StringType(),
    "NVARCHAR": T.StringType(),
    "CHAR": T.StringType(),
    "CHARACTER VARYING": T.StringType(),
    "TEXT": T.StringType(),
    "BOOLEAN": T.BooleanType(),
    "BOOL": T.BooleanType(),
    "TIMESTAMP": T.TimestampType(),
    "TIMESTAMP WITHOUT TIME ZONE": T.TimestampType(),
    "DATE": T.DateType(),
}

_DECIMAL_RE = re.compile(r"^(DECIMAL|NUMERIC)\s*(?:\((\d+)\s*,\s*(\d+)\))?$", re.I)
_PAREN_RE = re.compile(r"^([A-Z_ ]+?)\s*\(\s*\d+\s*\)$")

#: Spark's hard decimal precision cap — identical to the reference's
#: global precision-38 decimal context (reference spectrify/convert.py:20-23).
MAX_DECIMAL_PRECISION = 38


class UnsupportedTypeError(ValueError):
    """Raised for column types outside the supported whitelist
    (parity: reference spectrify/utils/schema.py:42-44 raises ValueError)."""


def sql_name_to_spark_type(name: str) -> T.DataType:
    """Map a SQL type name (e.g. ``'VARCHAR(256)'``, ``'DECIMAL(18,2)'``)
    to a Spark DataType.  Raises :class:`UnsupportedTypeError` for names
    outside the whitelist."""
    norm = name.strip().upper()
    m = _DECIMAL_RE.match(norm)
    if m:
        prec = int(m.group(2) or 18)
        scale = int(m.group(3) or 0)
        if prec > MAX_DECIMAL_PRECISION:
            raise UnsupportedTypeError(
                f"decimal precision {prec} exceeds max {MAX_DECIMAL_PRECISION}"
            )
        return T.DecimalType(prec, scale)
    pm = _PAREN_RE.match(norm)
    if pm:
        norm = pm.group(1).strip()
    if norm in _SIMPLE_TYPES:
        return _SIMPLE_TYPES[norm]
    raise UnsupportedTypeError(f"unsupported column type: {name!r}")


def schema_from_columns(columns: list[tuple[str, str]]) -> T.StructType:
    """Build a StructType from ``[(name, sql_type_name), ...]``, validating
    every type against the whitelist up-front (fail before any I/O, like
    the reference does before conversion starts)."""
    return T.StructType(
        [T.StructField(n, sql_name_to_spark_type(t), True) for n, t in columns]
    )


# Spark type -> external-table DDL name.  DOUBLE stays DOUBLE: the
# reference's DOUBLE -> FLOAT substitution (spectrify/create.py:11-13)
# relies on Redshift's FLOAT being 8-byte, but Spark SQL reads FLOAT as
# a 4-byte float, and every scan of a DOUBLE parquet column through
# such a table fails with PARQUET_COLUMN_DATA_TYPE_MISMATCH.
_DDL_NAMES: dict[type, str] = {
    T.LongType: "BIGINT",
    T.IntegerType: "INTEGER",
    T.ShortType: "SMALLINT",
    T.DoubleType: "DOUBLE",
    T.FloatType: "REAL",
    T.StringType: "VARCHAR(65535)",
    T.BooleanType: "BOOLEAN",
    T.TimestampType: "TIMESTAMP",
    # parquet TIMESTAMP(isAdjustedToUTC=false) surfaces as NTZ in Spark 4;
    # Spectrum DDL has a single TIMESTAMP type for both
    T.TimestampNTZType: "TIMESTAMP",
    T.DateType: "DATE",
}


def spark_type_to_ddl(dt: T.DataType) -> str:
    """Spark DataType -> Spectrum-compatible DDL type name."""
    if isinstance(dt, T.DecimalType):
        return f"DECIMAL({dt.precision},{dt.scale})"
    try:
        return _DDL_NAMES[type(dt)]
    except KeyError:
        raise UnsupportedTypeError(f"no DDL mapping for {dt.simpleString()}") from None


def validate_schema(schema: T.StructType) -> None:
    """Whitelist-check every field of a Spark schema; raise on the first
    unsupported one (parity: reference spectrify/utils/schema.py:38-44).
    Scalar whitelist only — the engine's extension columns (arrays/binary)
    are validated by their own operators, not this Spectrum-parity check."""
    for f in schema.fields:
        spark_type_to_ddl(f.dataType)
