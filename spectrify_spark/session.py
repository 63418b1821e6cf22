"""SparkSession factory.

Defaults chosen for correctness-vs-oracle determinism (UTC session
timezone), Arrow-accelerated Python interop, and scale-minded execution
(AQE on, shuffle partitions sized to the machine, not the 200 default).

At cluster scale the same factory applies — only ``master`` and the
memory/shuffle sizing change; nothing in the engine assumes local mode.
"""

from __future__ import annotations

import os

from pyspark.sql import SparkSession

DEFAULT_SHUFFLE_PARTITIONS = int(os.environ.get("SPARK_GRAFT_CPUS", "32"))


def get_spark(
    app_name: str = "spectrify_spark",
    master: str | None = None,
    shuffle_partitions: int = DEFAULT_SHUFFLE_PARTITIONS,
    extra_conf: dict[str, str] | None = None,
) -> SparkSession:
    """Build (or fetch) a SparkSession with engine defaults.

    ``spark.sql.parquet.outputTimestampType=INT96`` keeps parity with the
    reference's Spectrum/Hive-compatible parquet output
    (reference spectrify/utils/parquet.py:99); INT96 is write-side only
    and does not affect query semantics.
    """
    builder = SparkSession.builder.appName(app_name)
    if master:
        builder = builder.master(master)
    elif not os.environ.get("SPARK_GRAFT_ON_CLUSTER"):
        builder = builder.master(f"local[{os.environ.get('SPARK_GRAFT_CPUS', '*')}]")
    conf = {
        "spark.sql.shuffle.partitions": str(shuffle_partitions),
        "spark.sql.adaptive.enabled": "true",
        "spark.sql.adaptive.coalescePartitions.enabled": "true",
        "spark.sql.adaptive.skewJoin.enabled": "true",
        "spark.sql.session.timeZone": "UTC",
        "spark.sql.execution.arrow.pyspark.enabled": "true",
        "spark.sql.parquet.outputTimestampType": "INT96",
        # Engine event-time convention: every parquet timestamp reads as
        # TimestampType (LTZ) under the UTC session zone.  Spark 3.4+
        # otherwise infers tz-naive producer files (pandas to_parquet
        # default, isAdjustedToUTC=false) as TIMESTAMP_NTZ, which
        # unix_micros and interval arithmetic reject — see
        # sources/parquet.py::NTZ_INFER_CONF.
        "spark.sql.parquet.inferTimestampNTZ.enabled": "false",
        "spark.ui.enabled": "false",
        "spark.driver.memory": os.environ.get("SPARK_GRAFT_DRIVER_MEM", "8g"),
    }
    if extra_conf:
        conf.update(extra_conf)
    for k, v in conf.items():
        builder = builder.config(k, v)
    spark = builder.getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    # Reliable-checkpoint location for iterative operators (connected
    # components): when set (HDFS/S3 path on a cluster), lineage cuts
    # are fault-tolerant; unset, they fall back to localCheckpoint
    # (fast, but an executor loss is unrecoverable — see
    # operators/dedup.py::_truncate_lazy).
    ckpt = os.environ.get("SPARK_GRAFT_CHECKPOINT_DIR")
    if ckpt and not spark.sparkContext.getCheckpointDir():
        spark.sparkContext.setCheckpointDir(ckpt)
    return spark
