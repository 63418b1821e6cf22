"""Copy-on-write partitioned publish — manifest versions that REUSE
unchanged partition directories across versions.

The plain versioned publish (catalog/publish.py) lands a COMPLETE
dataset per version: perfect for bounded outputs, but a derived view
with many key-groups pays |dataset| write cost per refresh even when a
delta touched one partition.  The table-format answer (Iceberg/Delta
do this at file granularity) is a MANIFEST version: each version
directory holds parquet data ONLY for the partitions that changed,
plus a manifest mapping every live partition to the version directory
that actually holds its current data — unchanged partitions keep
pointing at their prior version's immutable files.  A refresh then
costs |touched partitions| in both read and write, independent of the
dataset's total size; that is what makes a 100 TB derived view with
millions of groups maintainable per-delta.

Everything rides the EXISTING publish protocol — a cow version lands
through ``publish_dir`` (same write order: payload -> manifest ->
COMMITTED -> atomic pointer flip; crashed partials swept; time travel
free), and retention rides the EXISTING pin-aware vacuum:
:func:`vacuum_cow` computes the version numbers any RETAINED manifest
still references and passes them as the ``protect=`` set, so a version
directory whose files a live manifest points into is never evicted,
however old.

Layout::

    root/v=3/_spectrify_cow_manifest.json   # part key -> "v=1|v=3"
    root/v=3/__p=<enc>/part-*.parquet       # only CHANGED partitions
    root/v=1/__p=<enc>/part-*.parquet       # still referenced by v=3

The partition column's VALUE stays in the parquet rows (no Hive
directory encoding, no re-attach on read); the directory name is an
url-safe encoding of the value, used only for addressing.  Readers
resolve the pointer, read ONE manifest, and scan the referenced
immutable directories — optionally only a subset of partitions
(:func:`read_published_cow` ``partitions=``), which is manifest-level
partition pruning: untouched partitions' files are never even listed.

Single writer per root (the publish lock applies, as everywhere).
"""

from __future__ import annotations

import base64
import json

from pyspark.sql import DataFrame, functions as F

#: per-version manifest: {"schema": <json>, "parts": {enc: "v=K"}}
COW_MANIFEST = "_spectrify_cow_manifest.json"


def _enc_part(value) -> str:
    """Url-safe, collision-free directory token for a partition value
    (json round-trip -> urlsafe base64, padding stripped).  NULL is a
    legal partition value and encodes as JSON ``null``."""
    raw = json.dumps(value, sort_keys=True, default=str).encode()
    return base64.urlsafe_b64encode(raw).decode().rstrip("=")


def _dec_part(enc: str):
    pad = "=" * (-len(enc) % 4)
    return json.loads(base64.urlsafe_b64decode(enc + pad))


def _read_manifest(spark, root: str, version: "int | None" = None) -> dict:
    from spectrify_spark.catalog.publish import (
        _join,
        current_version,
        _check_time_travel_target,
    )
    from spectrify_spark.operators._sidecar import read_json_sidecar

    v = current_version(root, spark) if version is None else int(version)
    if v is None:
        raise FileNotFoundError(
            f"read_published_cow: nothing published at {root!r}"
        )
    if version is not None:
        _check_time_travel_target("read_published_cow", root, v, spark)
    m = read_json_sidecar(spark, _join(root, f"v={v}"), COW_MANIFEST)
    if m is None:
        raise FileNotFoundError(
            f"{root!r} v={v} carries no {COW_MANIFEST} — not a "
            "copy-on-write dataset (plain published datasets read via "
            "read_published)"
        )
    return m


def publish_cow_update(
    spark,
    root: str,
    updates: "DataFrame | None",
    part_col: str,
    drop_partitions: "list | None" = None,
    keep_versions: int = 2,
    touched: "list | None" = None,
) -> int:
    """Land the next copy-on-write version: ``updates`` holds the FULL
    new content of every partition value it contains (grouped by
    ``part_col``); partitions absent from ``updates`` carry over from
    the current manifest untouched — their files are never read,
    listed, or rewritten.  ``drop_partitions`` removes partitions from
    the manifest (their files age out with the versions that hold
    them).  Returns the new version number.

    ``touched`` (r17 opt round) lets a caller that ALREADY KNOWS the
    distinct ``part_col`` values in ``updates`` skip the discovery
    action here — without it, ``updates`` executes twice per refresh
    (once for the distinct-collect, once for the write), and for the
    rollup-maintenance callers that plan is the full delta-aggregate +
    base-read + merge.  The caller must pass exactly the distinct
    value set: a MISSING value would silently drop that partition's
    rows (guarded — rows matching no touched value fail the publish
    before the pointer flips); an EXTRA value would publish a manifest
    entry whose partition directory was never written (guarded the
    same way, at manifest-build time).

    Write cost: |touched partitions| data + one manifest JSON; the
    pointer flip publishes the whole new mapping atomically.  The
    manifest is driver-side state sized |partitions| — the same order
    as a table format's manifest list; beyond ~10^6 partitions use a
    coarser partition key."""
    from spectrify_spark.catalog.publish import (
        _publish_version,
        current_version,
    )
    from spectrify_spark.operators._sidecar import write_json_sidecar

    if updates is None and not drop_partitions:
        raise ValueError(
            "publish_cow_update: nothing to do (no updates, no drops)"
        )
    if updates is not None and part_col not in updates.columns:
        raise ValueError(
            f"publish_cow_update: partition column {part_col!r} not in "
            f"updates columns {updates.columns}"
        )

    cur = current_version(root, spark)
    if cur is not None:
        prior = _read_manifest(spark, root)
        parts: dict = dict(prior["parts"])
        schema_json = prior["schema"]
        prior_part_col = prior.get("part_col", part_col)
        if prior_part_col != part_col:
            raise ValueError(
                f"publish_cow_update: dataset is partitioned by "
                f"{prior_part_col!r}, not {part_col!r}"
            )
    else:
        parts = {}
        schema_json = None

    for value in drop_partitions or ():
        parts.pop(_enc_part(value), None)

    if updates is None:
        touched = []
    elif touched is None:
        # discovery action: one distinct over updates — callers that
        # already know the touched set (the rollup maintainers, whose
        # updates plan is a delta-aggregate + base-read + merge) pass
        # it in and updates executes ONCE, in the write (r17 opt round)
        touched = [
            r[0]
            for r in updates.select(part_col).distinct().collect()
        ]
    else:
        touched = list(touched)
    if updates is not None:
        schema_json = updates.schema.jsonValue()
        if schema_json is None:
            raise AssertionError  # unreachable; keeps type checkers calm

    def build(vdir: str) -> None:
        vname = vdir.rstrip("/").rsplit("/", 1)[-1]  # "v=N"
        if touched:
            # ONE write job for all touched partitions: partitionBy on
            # a driver-computed encoding column (a when-chain over the
            # bounded touched list — no UDF, no per-partition job
            # loop; the original part_col VALUE stays in the rows, the
            # __p directory token is addressing only)
            enc_expr = None
            for value in touched:
                cond = F.col(part_col).eqNullSafe(F.lit(value))
                branch = F.lit(_enc_part(value))
                enc_expr = (
                    F.when(cond, branch)
                    if enc_expr is None
                    else enc_expr.when(cond, branch)
                )
            (
                updates.withColumn("__p", enc_expr)
                .write.mode("overwrite")
                .partitionBy("__p")
                .parquet(vdir)
            )
            # touched-contract guard (one driver-side listing of the
            # just-written version dir, no Spark job): a caller-passed
            # touched set that MISSES a value present in updates would
            # strand that value's rows under __p=null (absent from the
            # manifest — silent row loss on read); an EXTRA value would
            # publish a manifest entry with no directory behind it.
            # Either mismatch aborts here, BEFORE the pointer flips.
            from spectrify_spark.operators._sidecar import index_fs

            fs, hdir, _ = index_fs(spark, vdir)
            seen = {
                st.getPath().getName()[len("__p=") :]
                for st in fs.listStatus(hdir)
                if st.getPath().getName().startswith("__p=")
            }
            want = {_enc_part(v) for v in touched}
            if seen != want:
                raise ValueError(
                    "publish_cow_update: touched= does not match the "
                    "distinct part values actually in updates "
                    f"(written-but-undeclared: {sorted(seen - want)}, "
                    f"declared-but-unwritten: {sorted(want - seen)}); "
                    "publish aborted before the pointer flip"
                )
            for value in touched:
                parts[_enc_part(value)] = vname
        write_json_sidecar(
            spark,
            vdir,
            COW_MANIFEST,
            {
                "schema": schema_json,
                "part_col": part_col,
                "parts": parts,
            },
        )

    return _publish_version(
        root, spark, build, keep_versions, caller="publish_cow_update"
    )


def read_published_cow(
    spark,
    root: str,
    version: "int | None" = None,
    partitions: "list | None" = None,
) -> DataFrame:
    """Scan a copy-on-write dataset: resolve the pointer, read ONE
    manifest, union the referenced immutable partition directories.
    ``partitions`` restricts the scan to those partition values —
    manifest-level pruning: unreferenced partitions' files are never
    listed, the cheapest possible partition filter.  The scan takes
    the manifest's recorded schema (the partition value stays in the
    rows and the ``__p`` token is never read as a column, so it is the
    files' schema), so no footer-inference job runs.  An empty (or
    fully pruned) dataset returns an empty frame in that schema."""
    from spectrify_spark.catalog.publish import _join, _scan
    from pyspark.sql.types import StructType

    m = _read_manifest(spark, root, version=version)
    parts = m["parts"]
    if partitions is not None:
        want = {_enc_part(v) for v in partitions}
        parts = {e: vd for e, vd in parts.items() if e in want}
    dirs = [_join(root, f"{vd}/__p={e}") for e, vd in sorted(parts.items())]
    schema = StructType.fromJson(m["schema"]) if m["schema"] else None
    if not dirs:
        if schema is None:
            raise FileNotFoundError(
                f"read_published_cow: {root!r} is empty and carries no "
                "schema"
            )
        return spark.createDataFrame([], schema)
    return _scan(spark, schema, *dirs)


def cow_partitions(spark, root: str, version: "int | None" = None) -> list:
    """The live partition VALUES of a cow dataset (decoded from the
    manifest — no file listing)."""
    m = _read_manifest(spark, root, version=version)
    return sorted(
        (_dec_part(e) for e in m["parts"]),
        key=lambda v: (v is None, str(v)),
    )


def cow_partition_versions(
    spark, root: str, version: "int | None" = None
) -> dict:
    """partition VALUE -> the version number whose directory holds its
    current data — the audit view of copy-on-write reuse (a refresh
    that touched one partition leaves every other entry pointing at an
    older version)."""
    m = _read_manifest(spark, root, version=version)
    return {
        _dec_part(e): int(vd[2:]) for e, vd in m["parts"].items()
    }


def _window_versions(root: str, keep_versions: int, spark=None) -> list:
    """The manifest versions the ordinary keep window retains — the
    newest ``keep_versions`` COMMITTED versions at or below the
    pointer, plus the pointed one (the same window
    :func:`catalog.publish.vacuum` computes)."""
    from spectrify_spark.catalog.publish import (
        _is_committed,
        _versions,
        current_version,
    )

    cur = current_version(root, spark)
    if cur is None:
        return []
    published = [
        v
        for v in _versions(root, spark)
        if v <= cur and _is_committed(root, v, spark)
    ]
    return sorted(set(published[-keep_versions:]) | {cur})


def cow_referenced_versions(
    spark, root: str, manifest_versions: "list | None" = None
) -> "set[int]":
    """Version numbers the given manifests (default: every committed
    one) still reference — the set a vacuum of those manifests'
    survivors must not evict.  Driver-side JSON reads, bounded by
    |versions| x |partitions|."""
    from spectrify_spark.catalog.publish import _is_committed, _versions

    if manifest_versions is None:
        manifest_versions = [
            v for v in _versions(root, spark) if _is_committed(root, v, spark)
        ]
    refs: set[int] = set()
    for v in manifest_versions:
        try:
            m = _read_manifest(spark, root, version=v)
        except FileNotFoundError:
            continue
        for vd in m["parts"].values():
            refs.add(int(vd[2:]))
    return refs


def vacuum_cow(
    root: str, keep_versions: int = 2, spark=None
) -> list[int]:
    """Retention for copy-on-write datasets: the ordinary keep window
    applies to MANIFEST versions, but a version directory whose files
    a RETAINED manifest still references must survive however old —
    exactly the pin-aware vacuum's ``protect=`` contract, so this is
    a thin composition: compute which manifests the window keeps,
    collect the version numbers THOSE manifests reference, and hand
    the set to :func:`catalog.publish.vacuum` as ``protect=``.  (The
    references must come from the RETAINED manifests only: every
    manifest references its own version, so protecting all manifests'
    references would keep every old version alive forever.)  A data
    version outside the window is reclaimed the moment no retained
    manifest names it."""
    from spectrify_spark.catalog.publish import vacuum

    retained = _window_versions(root, keep_versions, spark)
    refs = cow_referenced_versions(spark, root, manifest_versions=retained)
    return vacuum(
        root, keep_versions=keep_versions, spark=spark, protect=refs
    )
