"""Pipeline composition — the reference's flagship ``transform`` command
(reference spectrify/transform.py:9-41: export -> convert -> create)
re-expressed as ONE Spark lineage.

The reference needs three stages because data must hop through CSV on
S3 between two SQL engines.  In Spark the same capability is a single
job: read source -> (optional) typed projection -> parquet write ->
catalog registration.  The CSV hop survives only as an *optional*
interchange format for consumers that require it (``csv_roundtrip``),
which also reproduces the reference's convert stage standalone
(reference spectrify/main.py:55-65).
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import types as T

from spectrify_spark.catalog import ddl as ddl_mod
from spectrify_spark.sources import csv as csv_src
from spectrify_spark.sources import manifest as manifest_mod
from spectrify_spark.sources import parquet as parquet_sink
from spectrify_spark.types import validate_schema


def transform(
    spark: SparkSession,
    df: DataFrame,
    table: str,
    parquet_path: str,
    partition_by: list[str] | None = None,
    compression: str = "gzip",
    register: bool = True,
) -> str:
    """source DataFrame -> validated schema -> parquet -> external table.

    Returns the DDL executed (or that would be executed).  Schema is
    whitelist-validated up-front, before any I/O — the reference's
    fail-fast contract (spectrify/utils/schema.py:38-44).
    """
    validate_schema(df.schema)
    parquet_sink.write_parquet(
        df, parquet_path, compression=compression, partition_by=partition_by
    )
    ddl = ddl_mod.parquet_table_ddl(table, df.schema, parquet_path, partition_by)
    if register:
        ddl_mod.create(spark, ddl)
        if partition_by:
            # external partitioned tables read as EMPTY until their
            # partition dirs are recovered into the catalog
            ddl_mod.repair_partitions(spark, table)
    return ddl


def export_to_csv(
    df: DataFrame, csv_dir: str, max_records_per_file: int | None = None
) -> str:
    """UNLOAD-parity export: CSV shards + manifest (reference
    spectrify/export.py:10-34 + the manifest UNLOAD writes)."""
    csv_src.write_unload_csv(df, csv_dir, max_records_per_file=max_records_per_file)
    return manifest_mod.write_manifest(csv_dir)


def convert_manifest(
    spark: SparkSession,
    manifest_path: str,
    schema: T.StructType,
    parquet_path: str,
    compression: str = "gzip",
) -> DataFrame:
    """Convert-stage parity (reference spectrify/convert.py:218-240):
    manifest -> gzip CSV shards -> typed DataFrame -> gzip parquet.

    Parallelism is Spark's task-per-file scheduling (the reference used
    a process pool with chunksize=1 — reference convert.py:222,233);
    gzip shards stay one-task-per-file in both engines.

    The returned frame reads the written parquet with the written
    frame's schema, so building it starts no footer-inference job.
    """
    paths = manifest_mod.read_manifest(manifest_path)
    df = csv_src.read_unload_csv(spark, paths, schema)
    parquet_sink.write_parquet(df, parquet_path, compression=compression)
    return spark.read.schema(df.schema).parquet(parquet_path)
