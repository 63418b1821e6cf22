"""Parquet sink with the reference's output conventions (reference
spectrify/utils/parquet.py:93-101): gzip compression, INT96 timestamps
(session-level conf, see session.py), bounded file/row-group sizes.

Spark's vectorized parquet writer replaces the reference's whole
Arrow-encode + row-group loop (reference spectrify/convert.py:101-132);
the only engine code is option plumbing.
"""

from __future__ import annotations

import os

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

#: Spark cannot natively read parquet TIMESTAMP(NANOS) columns (its
#: TimestampType is µs); this legacy conf reads them as raw int64 ns.
NANOS_AS_LONG_CONF = "spark.sql.legacy.parquet.nanosAsLong"

#: Parquet timestamps with isAdjustedToUTC=false infer as TIMESTAMP_NTZ
#: in Spark 3.4+.  The engine's event-time convention is TimestampType
#: (LTZ) under a UTC session timezone — the same instant semantics
#: DuckDB's naive timestamps give on identical files — so reads force
#: NTZ inference off.  Without this, tz-less producer files (pandas
#: to_parquet default) flip column types per producer and break
#: epoch-µs functions (unix_micros rejects NTZ).  Set to "false" in the
#: session factory (session.py) AND save/restore-forced off inside
#: read_table, so caller-supplied sessions get the convention too.
NTZ_INFER_CONF = "spark.sql.parquet.inferTimestampNTZ.enabled"


def _first_parquet_file(path: str) -> str | None:
    """First data file under ``path``, descending into subdirectories so
    hive-partitioned layouts (``key=value/part-*.parquet``) are probed too."""
    if not os.path.isdir(path):
        return path
    for root, dirs, files in os.walk(path):
        dirs.sort()
        for name in sorted(files):
            if name.endswith(".parquet") or name.startswith("part-"):
                return os.path.join(root, name)
    return None


#: Footer-probe memo: (path, mtime_ns) -> ns-typed column names.  The
#: probe walks the directory and reads one footer per call; benchmarks
#: and query registries re-read the same immutable tables constantly, so
#: the walk dominated repeated read_table calls (BENCH r3: etl convert
#: 1.03M -> 956k rows/s after the probe landed).  mtime of the table
#: root invalidates on overwrite (Spark rewrites the directory entry).
_NS_COLS_CACHE: dict[tuple[str, int], list[str]] = {}


def _nanos_timestamp_cols(path: str) -> list[str]:
    """Column names stored as timestamp[ns] in the parquet footer (driver-side
    metadata peek via pyarrow; returns [] if the footer can't be read)."""
    try:
        key = (path, os.stat(path).st_mtime_ns)
    except OSError:
        key = None
    if key is not None and key in _NS_COLS_CACHE:
        return _NS_COLS_CACHE[key]
    try:
        import pyarrow.parquet as pq

        f = _first_parquet_file(path)
        if f is None:
            return []
        schema = pq.read_schema(f)
        # INT96 timestamps (our own Spectrum-parity writer's output) ALSO
        # surface as timestamp[ns] in the arrow schema, but Spark reads
        # INT96 natively as TimestampType — only INT64 TIMESTAMP(NANOS)
        # columns need the nanosAsLong + div-1000 rewrite.
        meta = pq.read_metadata(f)
        phys = {
            meta.schema.column(i).name: meta.schema.column(i).physical_type
            for i in range(meta.num_columns)
        }
        cols = [
            name
            for name, typ in zip(schema.names, schema.types)
            if str(typ).startswith("timestamp[ns") and phys.get(name) == "INT64"
        ]
    except Exception:  # noqa: BLE001 — non-local FS or no footer: no rewrite
        return []
    if key is not None:
        _NS_COLS_CACHE[key] = cols
    return cols


#: Inferred-schema memo: (path, listing signature) -> the StructType SPARK
#: ITSELF resolved for that table under read_table's conf window (r18
#: opt round).  Every plain ``spark.read.parquet`` launches a 1-task
#: footer schema-inference job even for a path read moments ago —
#: query registries and the bench re-read the same immutable tables
#: constantly, so that job repeated hundreds of times per session.
#: The memo is pure METADATA (the first read's own inferred schema,
#: replayed via ``.schema(...)``, exactly what a catalog/metastore
#: supplies); values and read semantics are untouched.  The key holds
#: every file's name, size and mtime (:func:`_listing_sig`), not just
#: the root's mtime: an append into a ``part=…/`` subdirectory leaves
#: the root's mtime alone.  ``merge_schema=True`` reads are never
#: memoized — footer-union inference is the entire point of that flag.
_SCHEMA_CACHE: dict = {}
_SCHEMA_CACHE_MAX = 256


def _listing_sig(path: str) -> tuple:
    """``(relative name, size, mtime_ns)`` of every file under ``path``
    (of ``path`` itself when it is a file); raises OSError when it is
    not a local path."""
    if not os.path.isdir(path):
        st = os.stat(path)
        return (("", st.st_size, st.st_mtime_ns),)
    sig = []
    for d, _dirs, files in os.walk(path):
        for name in files:
            f = os.path.join(d, name)
            st = os.stat(f)
            sig.append((os.path.relpath(f, path), st.st_size, st.st_mtime_ns))
    return tuple(sorted(sig))


def _read_ltz(
    spark: SparkSession, path: str, merge_schema: bool = False
) -> DataFrame:
    """``spark.read.parquet`` with NTZ inference forced off (save/
    restore), so tz-naive producer files yield TimestampType (LTZ) under
    the UTC session zone — the engine's event-time convention — even on
    sessions that did not come from the factory (session.py sets the
    same conf session-wide)."""
    prev = spark.conf.get(NTZ_INFER_CONF, None)
    spark.conf.set(NTZ_INFER_CONF, "false")
    reader = spark.read
    if merge_schema:
        reader = reader.option("mergeSchema", "true")
    ckey = None
    if not merge_schema:
        try:
            ckey = (path, _listing_sig(path))
        except OSError:
            ckey = None
    try:
        cached = _SCHEMA_CACHE.get(ckey) if ckey is not None else None
        if cached is not None:
            return reader.schema(cached).parquet(path)
        df = reader.parquet(path)
        if ckey is not None:
            if len(_SCHEMA_CACHE) >= _SCHEMA_CACHE_MAX:
                _SCHEMA_CACHE.pop(next(iter(_SCHEMA_CACHE)))
            _SCHEMA_CACHE[ckey] = df.schema
        return df
    finally:
        if prev is None:
            spark.conf.unset(NTZ_INFER_CONF)
        else:
            spark.conf.set(NTZ_INFER_CONF, prev)


def read_table(
    spark: SparkSession, path: str, merge_schema: bool = False
) -> DataFrame:
    """Read a parquet table, transparently converting TIMESTAMP(NANOS)
    columns to Spark TimestampType (µs, truncating — the same truncation
    DuckDB applies, so oracle comparisons agree), and reading tz-naive
    timestamps as LTZ (see :data:`NTZ_INFER_CONF`).

    ``merge_schema=True`` unions the schemas of all footers (columns
    added by newer writers surface as NULL in older shards) — the
    schema-evolution read for long-lived lakes where shards accumulate
    across producer versions.  Off by default: merging reads every
    footer at planning time, so a petabyte table with a stable schema
    should not pay it.

    The legacy ``nanosAsLong`` conf is restored after the read: the
    parquet schema is resolved eagerly at ``load()``, so the returned
    DataFrame executes correctly afterwards (verified), and a later
    plain ``spark.read.parquet`` keeps default semantics instead of
    silently yielding bigint columns for ns files."""
    ns_cols = _nanos_timestamp_cols(path)
    if not ns_cols:
        return _read_ltz(spark, path, merge_schema)
    prev = spark.conf.get(NANOS_AS_LONG_CONF, None)
    spark.conf.set(NANOS_AS_LONG_CONF, "true")
    try:
        df = _read_ltz(spark, path, merge_schema)
    finally:
        if prev is None:
            spark.conf.unset(NANOS_AS_LONG_CONF)
        else:
            spark.conf.set(NANOS_AS_LONG_CONF, prev)
    dtypes = dict(df.dtypes)
    for c in ns_cols:
        # guard on the dtype Spark actually produced (footer probe and
        # reader can disagree on exotic layouts); integer `div` — a
        # double division would lose precision on ~1.7e18 ns epoch
        # values (double mantissa is 53 bits)
        if dtypes.get(c) == "bigint":
            df = df.withColumn(c, F.timestamp_micros(F.expr(f"`{c}` div 1000")))
    return df

#: Reference default: 250k rows per row group, overridable via env
#: (reference spectrify/convert.py:25-31, SPECTRIFY_ROWS_PER_GROUP).
ROWS_PER_GROUP = int(os.environ.get("SPECTRIFY_SPARK_ROWS_PER_GROUP", 250_000))


def write_parquet(
    df: DataFrame,
    path: str,
    compression: str = "gzip",
    partition_by: list[str] | None = None,
    max_records_per_file: int | None = None,
    mode: str = "overwrite",
) -> None:
    """Write gzip parquet; ``partition_by`` produces the hive-style
    partition layout the reference documents as its incremental pattern
    (reference examples/weekly_partitions.py:18-19 — one S3 prefix per
    week, registered via ADD PARTITION; Spark's partitionBy writes the
    same layout and the catalog discovers partitions natively).

    ``max_records_per_file`` defaults to :data:`ROWS_PER_GROUP`: capping
    rows per file caps rows per row group, which is the memory bound the
    reference's 250k chunking enforces (convert.py:25-31); it also keeps
    file sizes uniform for downstream per-split parallelism.  Pass
    ``max_records_per_file=0`` to disable the cap.

    gzip kept for byte-level parity with the reference; zstd/snappy are
    better speed choices at 100 TB — pass ``compression=`` to override.
    """
    if max_records_per_file is None:
        max_records_per_file = ROWS_PER_GROUP
    writer = df.write.mode(mode).option("compression", compression)
    if max_records_per_file:
        writer = writer.option("maxRecordsPerFile", str(max_records_per_file))
    if partition_by:
        writer = writer.partitionBy(*partition_by)
    writer.parquet(path)
