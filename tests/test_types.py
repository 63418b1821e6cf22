"""Type-map unit tests — parity with the reference's whitelist
validation (reference spectrify/utils/schema.py:38-44) and three-hop
type table (reference spectrify/utils/parquet.py:24-40).  Pure python,
no JVM."""

import pytest
from pyspark.sql import types as T

from spectrify_spark.types import (
    UnsupportedTypeError,
    schema_from_columns,
    spark_type_to_ddl,
    sql_name_to_spark_type,
    validate_schema,
)


@pytest.mark.parametrize(
    "name,expected",
    [
        ("BIGINT", T.LongType()),
        ("integer", T.IntegerType()),
        ("SMALLINT", T.ShortType()),
        ("FLOAT", T.DoubleType()),
        ("REAL", T.FloatType()),
        ("DOUBLE PRECISION", T.DoubleType()),
        ("VARCHAR(256)", T.StringType()),
        ("CHAR(1)", T.StringType()),
        ("TEXT", T.StringType()),
        ("BOOLEAN", T.BooleanType()),
        ("TIMESTAMP", T.TimestampType()),
        ("DATE", T.DateType()),
        ("DECIMAL(18,2)", T.DecimalType(18, 2)),
        ("NUMERIC(38,6)", T.DecimalType(38, 6)),
    ],
)
def test_sql_name_to_spark_type(name, expected):
    assert sql_name_to_spark_type(name) == expected


@pytest.mark.parametrize("bad", ["SUPER", "HLLSKETCH", "GEOMETRY", "VARBYTE", "INTERVAL"])
def test_unsupported_types_raise(bad):
    with pytest.raises(UnsupportedTypeError):
        sql_name_to_spark_type(bad)


def test_decimal_over_38_raises():
    with pytest.raises(UnsupportedTypeError):
        sql_name_to_spark_type("DECIMAL(39,2)")


def test_schema_from_columns_and_ddl_roundtrip():
    schema = schema_from_columns(
        [("id", "BIGINT"), ("name", "VARCHAR(10)"), ("amount", "DECIMAL(12,2)")]
    )
    assert [f.dataType for f in schema.fields] == [
        T.LongType(),
        T.StringType(),
        T.DecimalType(12, 2),
    ]
    validate_schema(schema)  # must not raise


def test_timestamp_ntz_maps_to_timestamp_ddl():
    # Spark 4 reads non-UTC-adjusted parquet timestamps as NTZ
    assert spark_type_to_ddl(T.TimestampNTZType()) == "TIMESTAMP"


def test_double_to_float_ddl_substitution():
    # the reference's DOUBLE -> FLOAT substitution (create.py:11-13) is
    # NOT made: Spark SQL reads FLOAT as a 4-byte float
    assert spark_type_to_ddl(T.DoubleType()) == "DOUBLE"


def test_validate_schema_rejects_nested():
    bad = T.StructType([T.StructField("arr", T.ArrayType(T.IntegerType()))])
    with pytest.raises(UnsupportedTypeError):
        validate_schema(bad)
