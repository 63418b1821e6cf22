"""Convert-path round-trips mirroring the reference's own test strategy
(reference tests/test_parquet.py:69-98 typed round-trip with NULLs;
tests/test_util_s3.py:21-37 unicode fidelity; tests/test_csv_converter.py
chunking) on the Spark-native path: typed DataFrame -> UNLOAD-convention
gzip CSV + manifest -> typed read-back -> parquet."""

import datetime
import glob

import pytest
from pyspark.sql import Row
from pyspark.sql import functions as F
from pyspark.sql import types as T

from spectrify_spark.functions.casts import parse_bool_tf
from spectrify_spark.sources.csv import read_unload_csv, write_unload_csv
from spectrify_spark.sources.manifest import read_manifest, write_manifest
from spectrify_spark.transform import convert_manifest, export_to_csv

TYPED_SCHEMA = T.StructType(
    [
        T.StructField("real_col", T.FloatType()),
        T.StructField("bigint_col", T.LongType()),
        T.StructField("int_col", T.IntegerType()),
        T.StructField("smallint_col", T.ShortType()),
        T.StructField("bool_col", T.BooleanType()),
        T.StructField("str_col", T.StringType()),
        T.StructField("timestamp_col", T.TimestampType()),
        T.StructField("plaintext_col", T.StringType()),
    ]
)

TYPED_ROWS = [
    (1.25, 10**12, 42, 7, True, "hello", datetime.datetime(2016, 1, 1, 12, 0, 0), "text"),
    (-2.5, -5, 0, -1, False, "pipe|in|value", datetime.datetime(2020, 6, 1, 0, 0, 1), "esc\\aped"),
    (None, None, None, None, None, None, None, None),
    (0.0, 1, 1, 1, True, "ניר François", datetime.datetime(1999, 12, 31, 23, 59, 59), "Löwis"),
]


@pytest.fixture()
def typed_df(spark):
    return spark.createDataFrame(TYPED_ROWS, TYPED_SCHEMA)


def _sorted_rows(df):
    return sorted(
        [tuple(r) for r in df.collect()],
        key=lambda t: (t[1] is None, t[1] if t[1] is not None else 0),
    )


def test_csv_roundtrip_preserves_types_and_values(spark, typed_df, tmp_path):
    csv_dir = str(tmp_path / "csv")
    write_unload_csv(typed_df, csv_dir)
    back = read_unload_csv(spark, csv_dir, TYPED_SCHEMA)
    assert back.schema == TYPED_SCHEMA
    assert _sorted_rows(back) == _sorted_rows(typed_df)
    # gzip shards, reference transport convention
    assert glob.glob(f"{csv_dir}/part-*.gz")


def test_manifest_write_read(spark, typed_df, tmp_path):
    csv_dir = str(tmp_path / "csv")
    manifest = export_to_csv(typed_df, csv_dir)
    paths = read_manifest(manifest)
    assert paths and all(p.endswith(".gz") for p in paths)
    back = read_unload_csv(spark, paths, TYPED_SCHEMA)
    assert back.count() == len(TYPED_ROWS)


def test_convert_manifest_end_to_end(spark, typed_df, tmp_path):
    """Full convert-stage parity: manifest -> CSV -> typed -> parquet."""
    csv_dir, pq_dir = str(tmp_path / "csv"), str(tmp_path / "pq")
    manifest = export_to_csv(typed_df, csv_dir)
    out = convert_manifest(spark, manifest, TYPED_SCHEMA, pq_dir)
    assert out.schema == TYPED_SCHEMA
    assert _sorted_rows(out) == _sorted_rows(typed_df)


def test_convert_manifest_reads_back_without_inference(spark, tmp_path, job_count):
    """The converted frame reads the parquet with the written frame's
    schema: convert_manifest starts only the jobs of its own CSV read
    and parquet write (building the returned frame starts none), and
    the frame's column types and rows equal an inferring read of the
    same parquet, for every type family the lake maps."""
    import decimal

    from spectrify_spark.sources import parquet as parquet_sink

    schema = T.StructType(
        [
            T.StructField("i16", T.ShortType()),
            T.StructField("i32", T.IntegerType()),
            T.StructField("i64", T.LongType()),
            T.StructField("f32", T.FloatType()),
            T.StructField("f64", T.DoubleType()),
            T.StructField("d38", T.DecimalType(38, 6)),
            T.StructField("amt", T.DecimalType(18, 2)),
            T.StructField("flag", T.BooleanType()),
            T.StructField("code", T.StringType()),
            T.StructField("dt", T.DateType()),
            T.StructField("ts", T.TimestampType()),
        ]
    )
    rows = [
        (
            -7, 2**31 - 1, -(2**62), 1.5, -2.25e9,
            decimal.Decimal("-12345678901234567890123456789012.123456"),
            decimal.Decimal("99.05"), True, "ü|x",
            datetime.date(2022, 3, 1), datetime.datetime(2022, 3, 1, 4, 5, 6, 789000),
        ),
        (None,) * 11,
    ]
    csv_dir = str(tmp_path / "csv")
    manifest = export_to_csv(spark.createDataFrame(rows, schema), csv_dir)

    def write_only():
        df = read_unload_csv(spark, read_manifest(manifest), schema)
        parquet_sink.write_parquet(df, str(tmp_path / "pq_ref"))

    _, write_jobs = job_count(write_only)
    pq_dir = str(tmp_path / "pq")
    out, convert_jobs = job_count(
        lambda: convert_manifest(spark, manifest, schema, pq_dir)
    )
    assert convert_jobs == write_jobs
    inferred = spark.read.parquet(pq_dir)
    assert out.dtypes == inferred.dtypes
    assert sorted(map(tuple, out.collect()), key=repr) == sorted(
        map(tuple, inferred.collect()), key=repr
    )


def test_bool_tf_strict_raises(spark):
    df = spark.createDataFrame([Row(b="t"), Row(b="x")])
    strict = df.select(parse_bool_tf(F.col("b")).alias("b"))
    with pytest.raises(Exception, match="Unknown boolean value"):
        strict.collect()
    lax = df.select(parse_bool_tf(F.col("b"), strict=False).alias("b"))
    assert [r.b for r in lax.collect()] == [True, None]


def test_empty_string_is_null_every_type(spark, tmp_path):
    """'' -> NULL universal null encoding (reference convert.py:140-141)."""
    p = tmp_path / "raw.csv"
    p.write_text("1||||\n")
    schema = T.StructType(
        [
            T.StructField("id", T.IntegerType()),
            T.StructField("s", T.StringType()),
            T.StructField("i", T.IntegerType()),
            T.StructField("ts", T.TimestampType()),
            T.StructField("b", T.BooleanType()),
        ]
    )
    row = read_unload_csv(spark, str(p), schema).collect()[0]
    assert row.id == 1
    assert row.s is None and row.i is None and row.ts is None and row.b is None


def test_shard_cap_produces_multiple_files(spark, tmp_path):
    """maxRecordsPerFile ~ the reference's MAXFILESIZE shard cap."""
    df = spark.range(1000).select(F.col("id").cast("long").alias("id")).coalesce(1)
    out = str(tmp_path / "sharded")
    write_unload_csv(df, out, max_records_per_file=100)
    manifest = write_manifest(out)
    assert len(read_manifest(manifest)) >= 10


def test_lenient_iso8601_timestamp_parse(spark, tmp_path):
    """ciso8601 parity (reference utils/timestamps.py:22-32): 'T'
    separator, UTC offsets (+HH:MM / +HHMM / Z), fractions, and bare
    dates all parse instead of silently NULLing."""
    p = tmp_path / "ts.csv"
    p.write_text(
        "1|2024-01-01 12:00:00\n"
        "2|2024-01-01T12:00:00\n"
        "3|2024-01-01T10:00:00+00:00\n"
        "4|2024-01-01T09:00:00-03:00\n"
        "5|2024-01-01T12:00:00.123456\n"
        "6|2024-01-01T12:00:00Z\n"
        "7|2024-01-01T12:00:00+0130\n"
        "8|2024-01-01\n"
    )
    schema = T.StructType(
        [
            T.StructField("id", T.IntegerType()),
            T.StructField("ts", T.TimestampType()),
        ]
    )
    rows = {r.id: r.ts for r in read_unload_csv(spark, str(p), schema).collect()}
    dt = datetime.datetime
    assert rows[1] == dt(2024, 1, 1, 12, 0, 0)
    assert rows[2] == dt(2024, 1, 1, 12, 0, 0)
    assert rows[3] == dt(2024, 1, 1, 10, 0, 0)  # session tz pinned UTC
    assert rows[4] == dt(2024, 1, 1, 12, 0, 0)  # 09:00-03:00 == 12:00Z
    assert rows[5] == dt(2024, 1, 1, 12, 0, 0, 123456)
    assert rows[6] == dt(2024, 1, 1, 12, 0, 0)
    assert rows[7] == dt(2024, 1, 1, 10, 30, 0)  # +0130 compact offset
    assert rows[8] == dt(2024, 1, 1, 0, 0, 0)


def test_malformed_timestamp_counter_and_strict(spark, tmp_path):
    """Unparseable non-empty cells: counted in lenient mode, fatal in
    strict mode (the reference's per-cell ciso8601 ValueError)."""
    from spectrify_spark.sources.csv import malformed_timestamp_counts

    p = tmp_path / "bad_ts.csv"
    p.write_text(
        "1|2024-01-01 12:00:00\n"
        "2|not-a-timestamp\n"
        "3|\n"
        "4|01/02/2024 12:00\n"
    )
    schema = T.StructType(
        [
            T.StructField("id", T.IntegerType()),
            T.StructField("ts", T.TimestampType()),
        ]
    )
    counts = malformed_timestamp_counts(spark, str(p), schema)
    assert counts == {"ts": 2}
    lax = {r.id: r.ts for r in read_unload_csv(spark, str(p), schema).collect()}
    assert lax[2] is None and lax[3] is None and lax[1] is not None
    strict = read_unload_csv(spark, str(p), schema, strict_timestamps=True)
    with pytest.raises(Exception, match="Unparseable timestamp"):
        strict.collect()


def test_read_unload_csv_quarantine_routes_bad_rows(spark, tmp_path):
    """Planted corruption: a wrong-column-count line, an uncastable
    numeric, and a bad 't'/'f' cell must land in quarantine as raw
    text while every clean row converts — and clean+quarantine
    partitions the input."""
    import gzip

    from pyspark.sql import types as T

    from spectrify_spark.sources.csv import read_unload_csv_quarantine

    d = tmp_path / "csv"
    d.mkdir()
    lines = [
        "1|alpha|3.5|t|2024-01-01 10:00:00",
        "2|beta|oops|f|2024-01-02 11:00:00",      # uncastable double
        "3|gamma|1.25",                            # wrong column count
        "4|delta|2.0|x|2024-01-04 09:00:00",      # bad bool cell
        "5|eps|9.75|f|2024-01-05 08:30:00",
    ]
    with gzip.open(d / "shard-000.csv.gz", "wt") as fh:
        fh.write("\n".join(lines) + "\n")
    schema = T.StructType(
        [
            T.StructField("id", T.LongType()),
            T.StructField("name", T.StringType()),
            T.StructField("val", T.DoubleType()),
            T.StructField("flag", T.BooleanType()),
            T.StructField("ts", T.TimestampType()),
        ]
    )
    clean, quarantine = read_unload_csv_quarantine(spark, str(d), schema)
    good = sorted(r.id for r in clean.collect())
    assert good == [1, 5]
    bad = [r[0] for r in quarantine.collect()]
    assert len(bad) == 3
    assert any("oops" in b for b in bad)
    assert any(b.startswith("3|gamma") for b in bad)
    assert any("|x|" in b or "delta" in b for b in bad)
    # typed schema on the clean channel
    assert clean.schema == schema


def test_quarantine_lines_faithful_nulls_and_sep(spark, tmp_path):
    """Cast-failure rows must be reconstructed with the reader's ACTUAL
    separator and with empty cells kept as empty fields (ADVICE r8:
    concat_ws alone drops NULLs and shifts columns, making the
    quarantined line un-re-drivable)."""
    import gzip

    from pyspark.sql import types as T

    from spectrify_spark.sources.csv import read_unload_csv_quarantine

    d = tmp_path / "csv"
    d.mkdir()
    # comma-separated; bad bool cell in a row that ALSO has an empty
    # middle field — the reconstruction must keep the empty slot
    lines = [
        "1,alpha,3.5,t",
        "2,,7.0,x",
    ]
    with gzip.open(d / "shard-000.csv.gz", "wt") as fh:
        fh.write("\n".join(lines) + "\n")
    schema = T.StructType(
        [
            T.StructField("id", T.LongType()),
            T.StructField("name", T.StringType()),
            T.StructField("val", T.DoubleType()),
            T.StructField("flag", T.BooleanType()),
        ]
    )
    clean, quarantine = read_unload_csv_quarantine(
        spark, str(d), schema, sep=",", cache=False
    )
    assert sorted(r.id for r in clean.collect()) == [1]
    bad = [r[0] for r in quarantine.collect()]
    assert bad == ["2,,7.0,x"]
