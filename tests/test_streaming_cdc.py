"""Streaming CDC apply (streaming/cdc.py): a change stream folds into a
published parquet snapshot that equals the same changes applied
batch-wise, and a crash at the commit step loses nothing."""

from __future__ import annotations

import os
import time

import pytest

from pyspark.sql import functions as F
from pyspark.sql import types as T

from spectrify_spark.operators.relational import merge_changes
from spectrify_spark.streaming import cdc

CHANGE_SCHEMA = T.StructType(
    [
        T.StructField("k", T.LongType(), True),
        T.StructField("v", T.StringType(), True),
        T.StructField("seq", T.LongType(), True),
        T.StructField("op", T.StringType(), True),
    ]
)

#: three change batches: inserts, then update+delete, then insert +
#: same-key churn (two rows for k=5 in one batch — seq_col compaction)
BATCHES = [
    [(1, "a", 10, "I"), (2, "b", 11, "I"), (3, "c", 12, "I")],
    [(2, "b2", 20, "U"), (3, None, 21, "D")],
    [(4, "d", 30, "I"), (5, "e0", 31, "I"), (5, "e1", 32, "U")],
]


def _stage_log(spark, log_dir: str) -> None:
    for i, rows in enumerate(BATCHES):
        df = spark.createDataFrame(rows, CHANGE_SCHEMA)
        df.coalesce(1).write.mode("overwrite").parquet(f"{log_dir}/b{i}")
        time.sleep(0.05)  # distinct mtimes -> deterministic file order


def _expected(spark):
    base = spark.createDataFrame([], T.StructType(CHANGE_SCHEMA.fields[:3]))
    for rows in BATCHES:
        batch = spark.createDataFrame(rows, CHANGE_SCHEMA)
        from spectrify_spark.operators.dedup import dedup_exact

        batch = dedup_exact(batch, ["k"], tie_break=[F.col("seq").desc()])
        base = merge_changes(base, batch, "k")
    return {(r["k"], r["v"]) for r in base.collect()}


def _published_stream(spark, log: str, root: str, ckpt: str, **kw):
    stream = (
        spark.readStream.schema(CHANGE_SCHEMA)
        .option("maxFilesPerTrigger", "1")
        .parquet(log + "/*")
    )
    return cdc.stream_apply_changes_published(
        stream, root, key="k", checkpoint_dir=ckpt, **kw
    )


def test_stream_apply_changes_equals_batch_merge(spark, tmp_path):
    """The sink with its defaults (no keep window, no rollups): the
    drained stream publishes one version per micro-batch and ends at
    the batch merge of the same changes."""
    from spectrify_spark.catalog.publish import current_version, read_published

    log = str(tmp_path / "changelog")
    root = str(tmp_path / "pubds")
    _stage_log(spark, log)

    q = _published_stream(spark, log, root, str(tmp_path / "ckpt"), seq_col="seq")
    q.awaitTermination(120)
    assert q.exception() is None

    assert current_version(root) == 3
    got = {(r["k"], r["v"]) for r in read_published(spark, root).collect()}
    assert got == _expected(spark)
    # spelled out: k3 deleted, k2 updated, k5 latest-wins within batch
    assert got == {(1, "a"), (2, "b2"), (4, "d"), (5, "e1")}


def test_stream_apply_changes_idempotent_replay(spark, tmp_path, monkeypatch):
    """A crash after a micro-batch's version has landed (and carries its
    commit marker) but before the pointer flips: readers keep seeing
    the previous version, and restarting from the SAME checkpoint
    replays the batch onto it — the next publish sweeps the unflipped
    leftover and reuses its number — so the final snapshot equals the
    batch merge with nothing lost or applied twice."""
    from spectrify_spark.catalog import publish as P

    log = str(tmp_path / "changelog")
    root = str(tmp_path / "pubds")
    ckpt = str(tmp_path / "ckpt")
    _stage_log(spark, log)

    flips: list[int] = []
    real_flip = P._pointer_write

    def crash_on_second_flip(spark_, root_, n):
        flips.append(n)
        if len(flips) == 2:
            raise OSError("injected crash before the pointer flip")
        real_flip(spark_, root_, n)

    monkeypatch.setattr(P, "_pointer_write", crash_on_second_flip)

    q = _published_stream(spark, log, root, ckpt, seq_col="seq")
    with pytest.raises(Exception, match="injected crash"):
        q.awaitTermination(120)
    # the second batch landed and was marked, but the pointer never moved
    assert P.current_version(root) == 1
    assert os.path.isfile(os.path.join(root, "v=2", P.COMMITTED))
    got = {(r["k"], r["v"]) for r in P.read_published(spark, root).collect()}
    assert got == {(1, "a"), (2, "b"), (3, "c")}

    q = _published_stream(spark, log, root, ckpt, seq_col="seq")
    q.awaitTermination(120)
    assert q.exception() is None
    assert flips == [1, 2, 2, 3]
    assert P.current_version(root) == 3
    got = {(r["k"], r["v"]) for r in P.read_published(spark, root).collect()}
    assert got == _expected(spark)


def test_stream_apply_changes_rejects_bad_op(spark, tmp_path):
    from spectrify_spark.catalog.publish import current_version

    log = str(tmp_path / "changelog")
    root = str(tmp_path / "pubds")
    df = spark.createDataFrame([(1, "a", 1, "X")], CHANGE_SCHEMA)
    df.coalesce(1).write.parquet(f"{log}/b0")
    q = _published_stream(spark, log, root, str(tmp_path / "ckpt"))
    with pytest.raises(Exception, match="invalid op|StreamingQueryException"):
        q.awaitTermination(120)
        if q.exception():
            raise q.exception()
    # the failed batch published nothing
    assert current_version(root) is None


def test_stream_apply_changes_published_equals_batch_merge(spark, tmp_path):
    """The versioned-publish commit form: same change stream, same
    final content — but every micro-batch lands as an immutable
    published version (pointer flip, no directory rename), readers
    get time travel over the keep window, and versions are
    pre-indexed when stats/bloom cols are passed."""
    from spectrify_spark.catalog.publish import (
        VERSION_BLOOM,
        VERSION_STATS,
        current_path,
        current_version,
        published_pruned_scan_eq,
        read_published,
    )

    log = str(tmp_path / "changelog")
    root = str(tmp_path / "pubds")
    _stage_log(spark, log)

    q = _published_stream(
        spark,
        log,
        root,
        str(tmp_path / "ckpt"),
        seq_col="seq",
        keep_versions=2,
        stats_cols=["k"],
        bloom_cols=["k"],
    )
    q.awaitTermination(120)

    # one version per non-empty micro-batch; pointer at the last
    assert current_version(root) == 3
    got = {(r["k"], r["v"]) for r in read_published(spark, root).collect()}
    assert got == _expected(spark)
    assert got == {(1, "a"), (2, "b2"), (4, "d"), (5, "e1")}
    # time travel: the previous micro-batch snapshot is still readable
    prev = {
        (r["k"], r["v"])
        for r in read_published(spark, root, version=2).collect()
    }
    assert prev == {(1, "a"), (2, "b2")}
    # every published version arrives pre-indexed with both rollups
    assert os.path.isfile(os.path.join(current_path(root), VERSION_STATS))
    assert os.path.isfile(os.path.join(current_path(root), VERSION_BLOOM))
    # the live snapshot is immediately point-lookup probe-able
    assert published_pruned_scan_eq(spark, root, "k", 5).count() == 1
    assert published_pruned_scan_eq(spark, root, "k", 3).count() == 0

    # replay with a fresh checkpoint: content stays identical
    # (duplicate versions are reader-invisible and age out)
    q2 = _published_stream(
        spark, log, root, str(tmp_path / "ckpt2"), seq_col="seq", keep_versions=2
    )
    q2.awaitTermination(120)
    got2 = {(r["k"], r["v"]) for r in read_published(spark, root).collect()}
    assert got2 == got
