"""External-table DDL emission + execution against the Spark catalog.

Spark-native re-expression of the reference's create stage:

- parquet external table  (reference spectrify/create.py:76-96)
- CSV/OpenCSVSerde table  (reference spectrify/create.py:99-154)
- column DDL emission, NOT NULL/DEFAULT dropped (reference
  spectrify/create.py:34-53); DOUBLE is emitted as DOUBLE, not the
  reference's FLOAT (create.py:11-13), because Spark SQL's FLOAT is
  4-byte
- ADD PARTITION           (reference examples/weekly_partitions.py:107-129)

DDL strings are pure functions (golden-string testable, mirroring the
reference's own test style in tests/test_open_csv_serde_table_creator.py);
``create()`` executes them via ``spark.sql``.  The interactive-confirm
barrier of the reference (create.py:72-73) becomes a ``confirm``
callback hook, default off, for library use.
"""

from __future__ import annotations

from collections.abc import Callable

from pyspark.sql import SparkSession
from pyspark.sql import types as T

from spectrify_spark.types import spark_type_to_ddl


def sanitize_table_name(name: str) -> str:
    """Dots in table names -> underscores (reference spectrify/create.py:88-90)."""
    return name.replace(".", "_")


def columns_ddl(schema: T.StructType) -> str:
    """Emit ``name TYPE`` per column; constraint clauses are never
    emitted (external tables carry none — reference create.py:42-49)."""
    return ",\n  ".join(
        f"{f.name} {spark_type_to_ddl(f.dataType)}" for f in schema.fields
    )


def parquet_table_ddl(
    table: str,
    schema: T.StructType,
    location: str,
    partition_cols: list[str] | None = None,
) -> str:
    """``CREATE EXTERNAL TABLE ... USING PARQUET LOCATION ...``
    (reference create.py:77-83, Spark SQL dialect).

    Unlike Hive DDL, Spark's USING syntax requires partition columns to
    appear IN the column list; PARTITIONED BY then names a subset."""
    ddl = (
        f"CREATE TABLE IF NOT EXISTS {sanitize_table_name(table)} (\n"
        f"  {columns_ddl(schema)}\n)\n"
        f"USING PARQUET\n"
    )
    if partition_cols:
        ddl += f"PARTITIONED BY ({', '.join(partition_cols)})\n"
    ddl += f"LOCATION '{location}'"
    return ddl


def orc_table_ddl(
    table: str,
    schema: T.StructType,
    location: str,
    partition_cols: list[str] | None = None,
) -> str:
    """``CREATE EXTERNAL TABLE ... USING ORC LOCATION ...`` — the ORC
    twin of parquet_table_ddl for consumers standardized on ORC."""
    ddl = (
        f"CREATE TABLE IF NOT EXISTS {sanitize_table_name(table)} (\n"
        f"  {columns_ddl(schema)}\n)\n"
        f"USING ORC\n"
    )
    if partition_cols:
        ddl += f"PARTITIONED BY ({', '.join(partition_cols)})\n"
    ddl += f"LOCATION '{location}'"
    return ddl


def csv_table_ddl(
    table: str,
    schema: T.StructType,
    location: str,
    delimiter: str = "|",
    escape: str = "\\",
    gzipped: bool = True,
) -> str:
    """CSV external table over UNLOAD-convention shards (reference
    create.py:99-154; OpenCSVSerde there, Spark's CSV datasource here —
    same separator/escape/compression contract)."""
    opts = [
        f"sep '{delimiter}'",
        f"escape '{escape}{escape}'" if escape == "\\" else f"escape '{escape}'",
        "header 'false'",
        "nullValue ''",
    ]
    if gzipped:
        opts.append("compression 'gzip'")
    return (
        f"CREATE TABLE IF NOT EXISTS {sanitize_table_name(table)} (\n"
        f"  {columns_ddl(schema)}\n)\n"
        f"USING CSV\nOPTIONS ({', '.join(opts)})\n"
        f"LOCATION '{location}'"
    )


def add_partition_ddl(table: str, partition: dict[str, str], location: str) -> str:
    """``ALTER TABLE ... ADD PARTITION`` (reference
    examples/weekly_partitions.py:118-125)."""
    spec = ", ".join(f"{k}='{v}'" for k, v in partition.items())
    return (
        f"ALTER TABLE {sanitize_table_name(table)} "
        f"ADD IF NOT EXISTS PARTITION ({spec}) LOCATION '{location}'"
    )


def create(
    spark: SparkSession,
    ddl: str,
    confirm: Callable[[str], bool] | None = None,
) -> None:
    """Execute DDL; optional confirm hook replaces the reference's
    interactive prompt (reference create.py:72-73)."""
    if confirm is not None and not confirm(ddl):
        raise RuntimeError("table creation not confirmed")
    spark.sql(ddl)


def repair_partitions(spark: SparkSession, table: str) -> None:
    """Discover existing partition directories of an external partitioned
    table (Spark does NOT auto-discover them at CREATE time — without
    this, the table reads as empty).  The reference's equivalent is its
    per-partition ADD PARTITION loop (examples/weekly_partitions.py:107-129);
    MSCK recovers them all at once."""
    spark.sql(f"MSCK REPAIR TABLE {sanitize_table_name(table)}")
