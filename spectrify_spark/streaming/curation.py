"""Streaming ingest curation — the curation pipeline's stateless head
(pipelines/training_data.py::annotate_gate) applied to a Structured
Streaming source.

At continuous-ingest scale the quality/length gate belongs at the EDGE:
every row it drops never pays downstream shuffle, state-store, or
storage cost.  Because the head is pure per-row Catalyst expressions
(clean -> lang-id -> quality -> token count -> gate -> split
assignment), the streaming plan has NO state store and NO watermark —
nothing to size, nothing to evict, per-micro-batch cost strictly
proportional to arriving bytes.  The STATEFUL curation stages compose
downstream on the gated stream: exact/near dedup via
``streaming/events.py::dedup_within_watermark`` (q_stream_dedup's
watermark-bounded state) or as periodic batch compactions committed
through the versioned publish (streaming/cdc.py).

:func:`stream_curate_snapshot_publish` (r16) extends the loop to a
MULTI-component pipeline: per micro-batch the corpus and its derived
per-lang counts publish as separate datasets and ONE
``publish_snapshot`` pins the exact pair — a snapshot reader can never
observe a corpus/aggregate generation mix, the streaming analog of the
batch q_snapshot_publish guarantee.

:func:`stream_curate_dedup_publish` (r14) closes that loop end-to-end:
gate at the edge (stateless) -> watermark-bounded exact dedup on the
doc id (state bounded by the redelivery horizon, never the corpus) ->
each micro-batch upserted into a VERSIONED PUBLISHED dataset
(catalog/publish.py's atomic pointer flip).  The publish-side upsert
keys on the doc id too, so a re-delivery that outlives the watermark
state — or a replayed micro-batch after a failure — lands as an
idempotent replace: streaming state stays bounded while the published
corpus stays exactly-once-deduped.

Batch/stream parity is structural, not re-implemented: both forms call
the SAME ``annotate_gate`` projection, so the streamed drain must equal
the batch run row-for-row (q_stream_curate's oracle is exactly the
batch SQL replica of those stages; q_stream_curate_publish's oracle
adds the distinct-by-id publish semantics).
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from spectrify_spark.functions import text as TX
from spectrify_spark.pipelines.training_data import annotate_gate
from spectrify_spark.streaming.cdc import _merge_and_publish


def stream_curate(
    docs_stream: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
    min_quality: float = 0.0,
    min_tokens: int = 5,
    split_weights: tuple[int, int, int] = (90, 5, 5),
    redact_pii: bool = False,
    carry_cols: "list[str] | None" = None,
) -> DataFrame:
    """Curate a streaming documents source: returns a STREAMING frame
    ``(id, text_clean, lang, quality, n_tokens, split)`` — one row per
    arriving doc that passes the quality/length gate, with the same
    deterministic md5-bucket split as the batch pipeline (a doc's
    split never depends on when it arrived).  ``carry_cols`` pass
    through untouched (the event-time column for a downstream
    watermark-bounded stage).

    Stateless by construction: safe in ``append`` mode with no
    watermark, restarts are trivially exactly-once given an
    idempotent sink (the projection is deterministic per row).
    """
    carry = list(carry_cols or [])
    gated = annotate_gate(
        docs_stream,
        id_col=id_col,
        text_col=text_col,
        min_quality=min_quality,
        min_tokens=min_tokens,
        redact_pii=redact_pii,
        carry_cols=carry,
    )
    n_train, n_valid, _ = split_weights
    bucket = TX.hash_bucket(F.col("id"), sum(split_weights))
    return gated.select(
        "id",
        "text_clean",
        "lang",
        "quality",
        "n_tokens",
        F.when(bucket < n_train, F.lit("train"))
        .when(bucket < n_train + n_valid, F.lit("valid"))
        .otherwise(F.lit("test"))
        .alias("split"),
        *carry,
    )


def stream_curate_dedup_publish(
    docs_stream: DataFrame,
    root: str,
    id_col: str = "doc_id",
    text_col: str = "text",
    ts_col: str = "ts",
    min_quality: float = 0.0,
    min_tokens: int = 5,
    split_weights: tuple[int, int, int] = (90, 5, 5),
    redact_pii: bool = False,
    watermark: str = "2 hours",
    keep_versions: int = 2,
    checkpoint_dir: "str | None" = None,
    available_now: bool = True,
):
    """The full streaming curation loop (r13 VERDICT item 7): stateless
    gate head -> watermark-bounded exact dedup on the doc id -> every
    micro-batch committed through the versioned atomic publish.

    Returns the started StreamingQuery.  The published dataset at
    ``root`` holds the cumulative curated corpus ``(id, text_clean,
    lang, quality, n_tokens, split)`` — one row per unique passing
    doc — with reader time travel over the last ``keep_versions``
    micro-batch snapshots for free.

    Layered exactly-once without corpus-sized state:

    - the GATE is stateless (pure Catalyst projections) — dropped docs
      never pay shuffle, state, or publish cost;
    - the DEDUP stage is ``dropDuplicatesWithinWatermark`` on ``id``
      keyed by ``ts_col`` event time: state is bounded by the
      redelivery horizon (``watermark``), never by corpus size — the
      property plain streaming ``dropDuplicates`` lacks;
    - the PUBLISH upserts each micro-batch into the current published
      version by ``id`` (``relational.merge_changes``: batch
      broadcast, snapshot never shuffles) and commits with the atomic
      pointer flip, so (a) a re-delivery arriving AFTER its watermark
      state was evicted collapses into an idempotent replace instead
      of a duplicate row, and (b) replaying a micro-batch after a
      failure re-publishes identical content as one more version — a
      reader-visible no-op that ages out of the keep window.

    Like every publish sink this is single-writer per dataset; the
    per-micro-batch republish touches the whole snapshot (the same
    contract as ``cdc.stream_apply_changes_published``) — at large
    corpus sizes raise the trigger interval or fold the stream into
    periodic batch compactions.
    """
    curated = stream_curate(
        docs_stream,
        id_col=id_col,
        text_col=text_col,
        min_quality=min_quality,
        min_tokens=min_tokens,
        split_weights=split_weights,
        redact_pii=redact_pii,
        carry_cols=[ts_col],
    )
    deduped = curated.withWatermark(
        ts_col, watermark
    ).dropDuplicatesWithinWatermark(["id"])
    out_cols = ["id", "text_clean", "lang", "quality", "n_tokens", "split"]
    base_schema = deduped.select(*out_cols).schema

    def apply_batch(batch: DataFrame, batch_id: int) -> None:
        # r18 pass-count audit (guide §1.2): a persist-once handoff was
        # tried here and REVERTED — unlike the stateless foreachBatch
        # sinks (streaming/rollup.py, streaming/cdc.py, where the
        # accumulator rehearsal tools/foreachbatch_rehearsal.py proves
        # 2x -> 1x source scans), a STATEFUL micro-batch plan is never
        # substituted from the SQL cache (persist left the write job
        # re-running the post-shuffle dedup stage from reused shuffle
        # data), and the expensive map side (source scan + curation
        # projections) already executes exactly ONCE across all of this
        # sink's actions via exchange reuse — measured with a source
        # accumulator: 1000/1000 rows on the pre-persist code.  The
        # take(1) guard and the merge's consumers therefore share the
        # one map pass already; a persist only adds cache-write cost.
        if not batch.take(1):
            return
        # the watermark dedup guarantees <= 1 row per id WITHIN a batch
        # (merge_changes' contract); 'U' = idempotent upsert by id
        changes = batch.select(*out_cols).withColumn("op", F.lit("U"))
        _merge_and_publish(
            changes, root, base_schema, "id", keep_versions=keep_versions
        )

    writer = deduped.writeStream.foreachBatch(apply_batch)
    if checkpoint_dir:
        writer = writer.option("checkpointLocation", checkpoint_dir)
    if available_now:
        writer = writer.trigger(availableNow=True)
    return writer.start()


def stream_curate_snapshot_publish(
    docs_stream: DataFrame,
    snap_root: str,
    corpus_root: str,
    counts_root: str,
    id_col: str = "doc_id",
    text_col: str = "text",
    ts_col: str = "ts",
    min_quality: float = 0.0,
    min_tokens: int = 5,
    split_weights: tuple[int, int, int] = (90, 5, 5),
    redact_pii: bool = False,
    watermark: str = "2 hours",
    keep_versions: int = 2,
    checkpoint_dir: "str | None" = None,
    available_now: bool = True,
):
    """The TWELFTH streaming/batch twin (r16 — VERDICT r15 item 6):
    snapshot-consistent MULTI-component streaming sink.
    :func:`stream_curate_dedup_publish` closes the mixed-version window
    for ONE dataset; a pipeline that also maintains a derived dataset
    (per-lang corpus counts here — in production a band index, an ANN
    index, a stats rollup) reopens it between the two component flips.
    This sink closes it the same way ``q_snapshot_publish`` does for
    batch: per micro-batch, (1) the curated/deduped corpus upserts and
    publishes at ``corpus_root``, (2) the per-lang aggregate —
    recomputed FROM the just-landed immutable corpus version, so the
    pair cannot diverge — publishes at ``counts_root``, (3) ONE
    ``publish_snapshot`` at ``snap_root`` pins the exact (version,
    version) pair.  A reader resolving the snapshot pointer sees
    corpus and counts from the SAME micro-batch, always; component
    pointers are never consulted.

    State story is unchanged from the single-dataset twin: the only
    streaming state is the watermark-bounded id dedup (bounded by the
    redelivery horizon, never the corpus); the publish steps are
    per-batch batch jobs inside ``foreachBatch``.

    RETENTION (r17 — fixed off-by-one, r16 ADVICE): components and
    snapshot advance in lockstep, but WITHIN a batch the component
    publish runs BEFORE ``publish_snapshot`` retires the oldest
    snapshot generation — with equal ``keep_versions`` everywhere the
    component's pin-UNAWARE publish-tail vacuum would evict the
    version still pinned by the outgoing oldest snapshot, and a crash
    between the two steps would make that breakage durable (a
    retained snapshot whose ``read_snapshot_table`` permanently
    fails).  The sink therefore publishes components with
    ``keep_versions + 1`` (the extra slot covers the pre-retirement
    window, crash included) and, after the snapshot flip, runs a
    PIN-AWARE ``vacuum(comp_root, keep_versions, snapshots=
    [snap_root])`` to tighten each component back to ``keep_versions``
    without ever evicting a retained pin.  Out-of-band maintenance
    vacuums should pass ``snapshots=[snap_root]`` all the same.
    Single writer per dataset, as every publish.  Returns the started
    StreamingQuery."""
    from spectrify_spark.catalog.publish import (
        publish,
        publish_snapshot,
        read_published,
        vacuum,
    )

    curated = stream_curate(
        docs_stream,
        id_col=id_col,
        text_col=text_col,
        min_quality=min_quality,
        min_tokens=min_tokens,
        split_weights=split_weights,
        redact_pii=redact_pii,
        carry_cols=[ts_col],
    )
    deduped = curated.withWatermark(
        ts_col, watermark
    ).dropDuplicatesWithinWatermark(["id"])
    out_cols = ["id", "text_clean", "lang", "quality", "n_tokens", "split"]
    base_schema = deduped.select(*out_cols).schema

    def apply_batch(batch: DataFrame, batch_id: int) -> None:
        # r18 pass-count audit: persist-once was tried and REVERTED
        # here for the same reason as stream_curate_dedup_publish —
        # the stateful micro-batch plan never hits the SQL cache, and
        # the map side already runs exactly once across this sink's
        # actions via exchange reuse (source-accumulator evidence in
        # tools/foreachbatch_rehearsal.py's write-up).
        if not batch.take(1):
            return
        _apply_batch_inner(batch)

    def _apply_batch_inner(batch: DataFrame) -> None:
        spark = batch.sparkSession
        changes = batch.select(*out_cols).withColumn("op", F.lit("U"))
        # keep_versions + 1 on the components: the oldest retained
        # snapshot still pins its component versions until
        # publish_snapshot below retires it, so the pin-unaware
        # publish-tail vacuum here must keep one extra slot (r16
        # ADVICE off-by-one — durable if the stream crashes between
        # these publishes and the snapshot flip)
        cv = _merge_and_publish(
            changes,
            corpus_root,
            base_schema,
            "id",
            keep_versions=keep_versions + 1,
        )
        # derive from the WRITTEN immutable version (one parquet read,
        # no merge-plan recompute) — the pinned pair cannot diverge
        counts = (
            read_published(spark, corpus_root, version=cv)
            .groupBy("lang")
            .agg(
                F.count(F.lit(1)).alias("n_docs"),
                F.sum("n_tokens").alias("total_tokens"),
            )
        )
        av = publish(counts, counts_root, keep_versions=keep_versions + 1)
        publish_snapshot(
            snap_root,
            {"corpus": (corpus_root, cv), "counts": (counts_root, av)},
            keep_versions=keep_versions,
        )
        # the old snapshot generation is retired now — tighten the
        # components back to keep_versions PIN-AWARE, so a version
        # outside the window survives iff a retained snapshot pins it
        for comp_root in (corpus_root, counts_root):
            vacuum(
                comp_root,
                keep_versions=keep_versions,
                spark=spark,
                snapshots=[snap_root],
            )

    writer = deduped.writeStream.foreachBatch(apply_batch)
    if checkpoint_dir:
        writer = writer.option("checkpointLocation", checkpoint_dir)
    if available_now:
        writer = writer.trigger(availableNow=True)
    return writer.start()
