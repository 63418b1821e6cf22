"""Streaming-plan regression gate (VERDICT r6 item 4).

The q_stream_* registry callables return a batch read of the drained
memory sink, so tests/test_plans.py's batch gate sees only a local
table scan.  The REAL streaming plan — which stateful operator fires,
whether the watermark survives the plan, how many state-store
partitions are allocated — is captured by __spark_entry__._drain_scoped
into STREAM_AUDITS right before the query stops.  This gate pins:

- the stateful operator NODE (StateStoreSave vs
  SessionWindowStateStoreSave vs StreamingDeduplicateWithinWatermark vs
  FlatMapGroupsInPandasWithState vs StreamingSymmetricHashJoin): a
  rewrite that silently degrades e.g. session_window to a batch-style
  sort would change the node and fail here;
- the watermark tag (`col#n-T<delay>ms`) in the plan for the
  watermark-bounded shapes — losing it means unbounded state at scale;
- numShufflePartitions == 8 on every state operator: state stores are
  allocated per shuffle partition, and the drain helper scopes them
  down (32 -> 8 was a 4.4x drain-latency win, PERF_NOTES r5); a leak
  back to the session's 32 is a silent 4x state-store overhead;
- the stream-stream join's 4-stores-per-partition layout (32
  instances): left/right x keyToNumValues/keyWithIndexToValue is the
  StreamingSymmetricHashJoin contract.
"""

from __future__ import annotations

import re

import pytest

import __spark_entry__ as E

#: key -> (registry callable name, required plan node, watermark tag
#: required in plan, expected numStateStoreInstances or None to skip)
GOLDEN = {
    "q_stream_window": dict(node="StateStoreSave", wm_tag=True, stores=8),
    "q_stream_sessionize": dict(
        node="SessionWindowStateStoreSave", wm_tag=True, stores=None
    ),
    # dropDuplicatesWithinWatermark: the node itself is the watermark
    # bound (state evicted past the horizon); the -T tag is not printed
    # because the watermark column is projected away before the sink
    "q_stream_dedup": dict(
        node="StreamingDeduplicateWithinWatermark", wm_tag=False, stores=8
    ),
    # applyInPandasWithState runs NoTimeout by design (processing-time
    # timeouts never settle under processAllAvailable) — no watermark
    "q_stream_stateful": dict(
        node="FlatMapGroupsInPandasWithState", wm_tag=False, stores=8
    ),
    # stream-stream interval join: 4 state stores per partition
    # (left/right x keyToNumValues/keyWithIndexToValue)
    "q_stream_join": dict(
        node="StreamingSymmetricHashJoin", wm_tag=True, stores=32
    ),
    # windowed HLL sketch agg (r8): same stateful shape as
    # q_stream_window — sketch state per (window, type) partition
    "q_stream_sketch": dict(node="StateStoreSave", wm_tag=True, stores=8),
    # streaming multimodal decode (r9): STATELESS by design — the
    # decode pipeline is pure per-batch mapInPandas; the scale property
    # pinned here is the ABSENCE of state stores (no watermark, no
    # eviction problem) plus the Arrow-batched decode node itself
    "q_stream_media": dict(
        node="MapInPandas", wm_tag=False, stores=None, stateless=True
    ),
    # stream-static star enrichment (r10): STATELESS by design — the
    # static dims flow map-side as broadcast hash joins (no state
    # store, no watermark); a regression to a shuffled sort-merge join
    # (or a stateful stream-stream join) changes the pinned node
    "q_stream_enrich": dict(
        node="BroadcastHashJoin", wm_tag=False, stores=None, stateless=True
    ),
    # streaming ingest curation (r13): STATELESS by design — the
    # pipeline's annotate+gate head is pure per-row Catalyst
    # expressions, so the pinned property is the ABSENCE of state
    # stores/watermark (gate at the edge: dropped rows never pay
    # downstream shuffle or state cost); the Filter node is the gate
    "q_stream_curate": dict(
        node="Filter", wm_tag=False, stores=None, stateless=True
    ),
    # streaming curation with dedup + versioned publish (r14): the
    # ONLY state is the watermark-bounded id dedup (state evicted past
    # the redelivery horizon — never corpus-sized); the -T tag is not
    # printed because the sink is foreachBatch (same reporting shape
    # as q_stream_dedup).  The audit is recorded inline by the key
    # (foreachBatch sink, no memory-sink drain).
    # stores=16 (r18): numStateStoreInstances counts per-partition
    # store CHECKOUTS summed over the jobs that run the post-shuffle
    # dedup stage inside the foreachBatch sink — the take(1) guard and
    # the publish write each load the 8 stores once (2 x 8; the
    # expensive MAP side still executes exactly once per batch via
    # exchange reuse — source-accumulator evidence in
    # tools/foreachbatch_rehearsal.py's scope note).  The r17 pin of 8
    # was an artifact of the final micro-batch's action pattern under
    # the old two-append source layout; the scale property — state
    # scoped to 8 partitions, bounded by the watermark — is the
    # numShufflePartitions == 8 assert below.
    "q_stream_curate_publish": dict(
        node="StreamingDeduplicateWithinWatermark", wm_tag=False, stores=16
    ),
    # snapshot-consistent multi-component sink (r16): same state story
    # as the single-dataset publish twin — the ONLY streaming state is
    # the watermark-bounded id dedup; the per-batch corpus/counts/
    # snapshot publishes are batch jobs inside foreachBatch
    # (stores=16: same checkout-count accounting as
    # q_stream_curate_publish above)
    "q_stream_snapshot": dict(
        node="StreamingDeduplicateWithinWatermark", wm_tag=False, stores=16
    ),
    # streaming incremental-rollup maintenance (r17): STATELESS by
    # design — the stream side is a bare file-source projection into
    # foreachBatch (the partial-agg + merge are per-batch batch jobs);
    # the scale property pinned is the ABSENCE of state stores (no
    # watermark, nothing corpus-sized), plus the parquet source node
    "q_stream_rollup": dict(
        node="Scan parquet", wm_tag=False, stores=None, stateless=True
    ),
}

_WM_TAG = re.compile(r"-T\d+ms")


@pytest.fixture(scope="module")
def audits(spark, sf_dir):
    """Run each drain twin once; _drain_scoped records the audit.  Every
    run of a twin records it, so a twin the registry sweeps already ran
    in this session is not drained again."""
    for name in GOLDEN:
        if name not in E.STREAM_AUDITS:
            E.queries()[name](spark, sf_dir).collect()
    return dict(E.STREAM_AUDITS)


@pytest.mark.parametrize("name", sorted(GOLDEN))
def test_streaming_plan_shape(audits, name):
    golden = GOLDEN[name]
    assert name in audits, f"{name}: no streaming audit captured"
    plan = audits[name]["plan"]
    progress = audits[name]["progress"]

    assert golden["node"] in plan, (
        f"{name}: stateful operator changed — expected {golden['node']} "
        f"in the streaming physical plan"
    )
    if golden["wm_tag"]:
        assert _WM_TAG.search(plan), (
            f"{name}: watermark tag (-T<delay>ms) missing from the "
            f"streaming plan — state is no longer watermark-bounded"
        )

    ops = progress.get("stateOperators", [])
    if golden.get("stateless"):
        assert not ops, (
            f"{name}: designed stateless but reports state operators — "
            f"a stateful node crept into the decode stream"
        )
        return
    assert ops, f"{name}: no stateOperators reported in lastProgress"
    for op in ops:
        assert op["numShufflePartitions"] == 8, (
            f"{name}: state-store partitions leaked back to the session "
            f"default — {op['numShufflePartitions']} != 8 (drain scope, "
            f"PERF_NOTES r5: 32 partitions cost 4.4x drain latency)"
        )
    if golden["stores"] is not None:
        total = sum(op["numStateStoreInstances"] for op in ops)
        assert total == golden["stores"], (
            f"{name}: state-store instance count changed — {total} != "
            f"{golden['stores']}"
        )


def test_stream_dedup_watermark_reported(audits):
    """The dedup twin's watermark column is projected away before the
    sink (no -T tag), so pin watermark presence via the progress
    record's eventTime section instead."""
    et = audits["q_stream_dedup"]["progress"].get("eventTime", {})
    assert "watermark" in et, (
        "q_stream_dedup: no eventTime.watermark in progress — the "
        "withWatermark bound was dropped"
    )
