"""Streaming CDC apply: maintain a published parquet snapshot from a
change stream — the continuous form of ``relational.merge_changes``.

Each micro-batch is compacted latest-wins per key, MERGE-applied to the
current published version (anti-join + union, changeset broadcast — the
snapshot never shuffles) and committed as the next immutable ``v=N``
through ``catalog/publish.py``'s versioned publish: land the version,
write its commit marker, flip the pointer.  That is the engine's one
commit protocol, so the sink is atomic on any storage the Hadoop FS
reaches and readers always resolve a complete version.

Replaying a batch after a failure re-applies the same keyed
upserts/deletes to the last published version: a crash before the
pointer flip leaves an unflipped version that the next publish sweeps,
and a replay after the flip re-publishes identical content.  The apply
is therefore idempotent and end-to-end effectively-once without a
transaction log.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from spectrify_spark.catalog import publish as _pub
from spectrify_spark.obs import span
from spectrify_spark.operators.dedup import dedup_exact
from spectrify_spark.operators.relational import merge_changes


@span("cdc", "merge_and_publish")
def _merge_and_publish(
    changes: DataFrame,
    root: str,
    base_schema,
    key: str,
    op_col: str = "op",
    delete_op: str = "D",
    **publish_kw,
) -> int:
    """The commit step every publishing sink shares: MERGE ``changes``
    (<= 1 row per key, carrying ``op_col``) into the current published
    version at ``root`` — or into an empty frame before the first
    publish — and publish the result as the next version, returning
    its number.  ``merge_changes`` and ``publish`` are looked up when
    this runs, so a caller that wraps either module attribute (a
    tracer) sees every micro-batch."""
    spark = changes.sparkSession
    if _pub.current_version(root, spark) is not None:
        base = _pub.read_published(spark, root)
    else:
        base = spark.createDataFrame([], base_schema)
    nxt = merge_changes(base, changes, key, op_col=op_col, delete_op=delete_op)
    return _pub.publish(nxt, root, **publish_kw)


def stream_apply_changes_published(
    changes: DataFrame,
    root: str,
    key: str,
    op_col: str = "op",
    delete_op: str = "D",
    seq_col: str | None = None,
    checkpoint_dir: str | None = None,
    available_now: bool = True,
    keep_versions: int = 2,
    stats_cols: list | None = None,
    bloom_cols: list | None = None,
):
    """Start a streaming query that folds ``changes`` into the
    published dataset at ``root``.

    ``changes`` is a STREAMING DataFrame carrying the snapshot's
    columns plus ``op_col`` (and optionally ``seq_col``, the
    latest-wins order when one micro-batch holds several rows per key —
    without it the batch must already be <=1 row/key, the
    ``merge_changes`` contract).  Invalid/NULL ops fail the batch (the
    merge_changes guard), not silently drop.

    Each micro-batch is MERGE-applied to the CURRENT PUBLISHED version
    and published as the next immutable ``v=N`` (reading from
    ``root/v=N`` while publishing ``v=N+1`` into the same root is the
    incremental-republish pattern the overlap guard explicitly
    allows).  Readers resolve the pointer first, so they always see a
    COMPLETE version — mid-batch, mid-crash, any storage scheme the
    Hadoop FS reaches — and the keep window gives them time travel
    over the last ``keep_versions`` micro-batch snapshots for free.

    Replay idempotency: re-applying a batch to the already-updated
    snapshot re-publishes IDENTICAL content as one more version — a
    reader-visible no-op that ages out of the keep window — so the
    sink stays effectively-once without a transaction log.
    ``stats_cols``/``bloom_cols`` pre-index every published version
    (and build the version rollups), making the live snapshot
    immediately probe-able via ``published_pruned_scan[_eq]``.

    Returns the started StreamingQuery; ``available_now=True`` drains
    the backlog and stops (the batch-job form), False runs continuous
    micro-batches."""
    base_cols = [c for c in changes.columns if c != op_col]
    base_schema = changes.select(*base_cols).schema

    @span("cdc", "batch")
    def apply_batch(batch: DataFrame, batch_id: int) -> None:
        # r18 (guide §1.2): persist the micro-batch once — the
        # emptiness guard, the merge's anti-join key build, and the
        # upsert union otherwise each re-execute the micro-batch plan
        # from the source.
        batch = batch.persist()
        try:
            # count() (not take(1)) as the guard: the count job
            # materializes the WHOLE cache in one pass, so the state
            # operator runs in exactly one job and every later
            # consumer reads pure cached blocks (a take(1) guard
            # split the cache fill across two jobs, double-counting
            # state-store checkouts in the progress metrics)
            if batch.count() == 0:
                return
            if seq_col is not None:
                batch2 = dedup_exact(
                    batch, [key], tie_break=[F.col(seq_col).desc()]
                )
            else:
                batch2 = batch
            _merge_and_publish(
                batch2,
                root,
                base_schema,
                key,
                op_col=op_col,
                delete_op=delete_op,
                keep_versions=keep_versions,
                stats_cols=stats_cols,
                bloom_cols=bloom_cols,
            )
        finally:
            batch.unpersist()

    writer = changes.writeStream.foreachBatch(apply_batch)
    if checkpoint_dir:
        writer = writer.option("checkpointLocation", checkpoint_dir)
    if available_now:
        writer = writer.trigger(availableNow=True)
    return writer.start()
