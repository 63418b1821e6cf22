"""Versioned atomic publish (catalog/publish.py): pointer-flip
protocol, time travel, vacuum grace window, crash-orphan handling."""

from __future__ import annotations

import json
import os

import pytest

from pyspark.sql import functions as F

from spectrify_spark.catalog.publish import (
    CURRENT_POINTER,
    current_version,
    publish,
    read_published,
    vacuum,
)


def _df(spark, n, tag):
    return spark.range(n).select(
        F.col("id").alias("k"), F.lit(tag).alias("tag")
    )


def test_publish_flip_and_time_travel(spark, tmp_path):
    root = str(tmp_path / "ds")
    assert current_version(root) is None
    with pytest.raises(FileNotFoundError):
        read_published(spark, root)

    v1 = publish(_df(spark, 10, "a"), root)
    assert v1 == 1 and current_version(root) == 1
    assert read_published(spark, root).count() == 10

    v2 = publish(_df(spark, 20, "b"), root)
    assert v2 == 2 and current_version(root) == 2
    cur = read_published(spark, root)
    assert cur.count() == 20 and cur.select("tag").first().tag == "b"
    # time travel: v1 still scannable inside the keep window
    old = read_published(spark, root, version=1)
    assert old.count() == 10 and old.select("tag").first().tag == "a"


def test_reader_resolved_before_publish_is_undisturbed(spark, tmp_path):
    """The protocol's point: a DataFrame resolved against version N
    keeps reading N's immutable directory while N+1 publishes and
    flips — no rename ever touches a directory a reader scans."""
    root = str(tmp_path / "ds")
    publish(_df(spark, 10, "a"), root)
    reader = read_published(spark, root)  # resolved at v1
    publish(_df(spark, 20, "b"), root, keep_versions=2)
    assert reader.count() == 10  # unchanged mid-flight view
    assert read_published(spark, root).count() == 20  # new resolution


def test_vacuum_keeps_window_and_never_current(spark, tmp_path):
    root = str(tmp_path / "ds")
    for i in range(4):
        publish(_df(spark, i + 1, f"t{i}"), root, keep_versions=2)
    # keep_versions=2 -> only v3, v4 remain
    assert current_version(root) == 4
    assert sorted(
        int(d[2:]) for d in os.listdir(root) if d.startswith("v=")
    ) == [3, 4]
    with pytest.raises(FileNotFoundError, match="vacuumed"):
        read_published(spark, root, version=1)
    # explicit vacuum never removes the pointed version
    assert vacuum(root, keep_versions=1) == [3]
    assert read_published(spark, root).count() == 4


def test_crash_orphan_is_invisible_and_ages_out(spark, tmp_path):
    """A version dir landed by a crashed publish (pointer never
    flipped) is invisible to readers; the next publish sweeps it at
    start (single-writer: no other publish can be landing it) and
    reuses its number — the dir was never reader-visible, so the
    number was never meaningful."""
    root = str(tmp_path / "ds")
    publish(_df(spark, 5, "a"), root)
    # simulate a crash: v=2 landed, pointer still at 1
    _df(spark, 99, "crash").write.parquet(os.path.join(root, "v=2"))
    assert current_version(root) == 1
    assert read_published(spark, root).count() == 5
    # next publish sweeps the orphan and takes its slot
    v = publish(_df(spark, 7, "c"), root, keep_versions=1)
    assert v == 2 and read_published(spark, root).count() == 7
    assert sorted(
        int(d[2:]) for d in os.listdir(root) if d.startswith("v=")
    ) == [2]


def test_partitioned_publish_and_validation(spark, tmp_path):
    root = str(tmp_path / "ds")
    df = _df(spark, 10, "a").withColumn("p", F.col("k") % 2)
    publish(df, root, partition_by=["p"])
    out = read_published(spark, root)
    assert out.count() == 10 and set(out.columns) == {"k", "tag", "p"}
    with pytest.raises(ValueError, match="keep_versions"):
        publish(df, root, keep_versions=0)
    # pointer file is hidden from scans by the underscore convention
    assert CURRENT_POINTER.startswith("_")
    assert json.load(open(os.path.join(root, CURRENT_POINTER)))["version"] == 1


def test_publish_with_skipping_indexes(spark, tmp_path):
    """stats_cols/bloom_cols build the file-skipping indexes INSIDE
    the version dir before the flip: the published version arrives
    pre-indexed and immutable, so pruned probes work immediately."""
    from spectrify_spark.catalog.publish import current_path
    from spectrify_spark.operators.layout import (
        prune_files,
        prune_files_eq,
        pruned_scan,
    )

    root = str(tmp_path / "ds")
    df = (
        _df(spark, 1000, "a")
        .repartitionByRange(4, F.col("k"))
        .sortWithinPartitions("k")
    )
    publish(df, root, stats_cols=["k"], bloom_cols=["k"])
    path = current_path(root)
    keep, total = prune_files(spark, path, "k", 100, 300)
    assert total == 4 and len(keep) <= 2
    assert pruned_scan(spark, path, "k", 100, 300).count() == 200
    keep_bl, _ = prune_files_eq(spark, path, "k", 150)
    assert 1 <= len(keep_bl) <= total


def test_publish_rejects_overlapping_source(spark, tmp_path):
    """Review regression (r11): publishing a dataset INTO its own
    source directory would land v=N inside it — later plain scans
    discover v=N as a phantom partition and duplicate rows.  Reading
    from a version dir under the SAME root (incremental republish)
    stays allowed."""
    import pytest

    from pyspark.sql import functions as F

    src = str(tmp_path / "plain")
    _df(spark, 10, "a").write.parquet(src)
    df = spark.read.parquet(src)
    with pytest.raises(ValueError, match="source directory"):
        publish(df, src)
    with pytest.raises(ValueError, match="source directory"):
        publish(df, src + "/sub")

    # legitimate: republish a transformation of the current version
    root = str(tmp_path / "ds")
    publish(df, root)
    cur = read_published(spark, root)
    v2 = publish(cur.withColumn("tag", F.lit("b")), root)
    assert v2 == 2 and read_published(spark, root).count() == 10


def test_vacuum_orphans_above_pointer_do_not_consume_window(spark, tmp_path):
    """ADVICE fix (r12): a crashed publish lands v=N PAST the pointer;
    counting it against keep_versions evicted the just-superseded
    version an in-flight reader may still scan.  The window now counts
    only versions <= the pointer, and never-pointed orphans are
    removed outright."""
    root = str(tmp_path / "ds")
    publish(_df(spark, 10, "a"), root, keep_versions=2)
    publish(_df(spark, 20, "b"), root, keep_versions=2)
    # crash simulation: v=3 landed, pointer still at 2
    _df(spark, 99, "crash").write.parquet(os.path.join(root, "v=3"))
    assert current_version(root) == 2
    removed = vacuum(root, keep_versions=2)
    # the orphan goes; BOTH published versions stay in the window
    assert removed == [3]
    assert read_published(spark, root, version=1).count() == 10
    assert read_published(spark, root).count() == 20


def test_publish_full_protocol_on_file_uri(spark, tmp_path):
    """r11 carry-over (q_publish_versions weak): the whole protocol —
    publish, pointer read, time travel, vacuum, overlap guard — must
    route through the Hadoop FileSystem API for any schemed root.  A
    file: URI exercises that branch end-to-end without an object
    store in the loop."""
    root = "file://" + str(tmp_path / "ds_uri")
    assert current_version(root, spark) is None
    v1 = publish(_df(spark, 10, "a"), root)
    assert v1 == 1 and current_version(root, spark) == 1
    assert read_published(spark, root).count() == 10
    v2 = publish(_df(spark, 20, "b"), root)
    assert read_published(spark, root, version=1).count() == 10
    assert read_published(spark, root).count() == 20
    for _ in range(2):
        publish(_df(spark, 5, "c"), root, keep_versions=2)
    with pytest.raises(FileNotFoundError, match="vacuumed"):
        read_published(spark, root, version=1)
    # schemed root without spark: helpful error, not a silent os.* miss
    with pytest.raises(ValueError, match="spark"):
        current_version(root)
    # overlap guard works on schemed URIs too
    df = read_published(spark, root)
    with pytest.raises(ValueError, match="source directory"):
        publish(df, root + f"/v={current_version(root, spark)}/sub")


def test_published_pruned_scan_version_rollup(spark, tmp_path):
    """Publish-time stats rollup (r11 item 7): a range probe that the
    VERSION-level min/max already rules out returns empty without
    touching the per-file index; an in-range probe falls through to
    per-file pruning and returns exact rows."""
    from spectrify_spark.catalog.publish import (
        VERSION_STATS,
        current_path,
        published_pruned_scan,
    )

    root = str(tmp_path / "ds")
    df = (
        _df(spark, 1000, "a")
        .repartitionByRange(4, F.col("k"))
        .sortWithinPartitions("k")
    )
    publish(df, root, stats_cols=["k"])
    assert os.path.isfile(os.path.join(current_path(root), VERSION_STATS))
    rollup = json.load(open(os.path.join(current_path(root), VERSION_STATS)))
    assert rollup["n_rows"] == 1000
    assert rollup["cols"]["k"] == {"min": 0, "max": 999}

    # fully out of range: version skipped at the rollup tier
    assert published_pruned_scan(spark, root, "k", 5000, 6000).count() == 0
    # in range: per-file tier, exact rows
    assert published_pruned_scan(spark, root, "k", 100, 300).count() == 200
    # half-open edge semantics match the scan predicate
    assert published_pruned_scan(spark, root, "k", 999, 1000).count() == 1
    assert published_pruned_scan(spark, root, "k", 1000, 1001).count() == 0
    # time travel composes with pruning
    publish(_df(spark, 10, "b"), root, stats_cols=["k"])
    assert (
        published_pruned_scan(spark, root, "k", 100, 300, version=1).count()
        == 200
    )


def test_published_pruned_scan_eq_version_bloom(spark, tmp_path):
    """Version-level bloom rollup: a bloom_cols publish writes the
    bit-OR'd union bloom sidecar; an absent-value point lookup is
    ruled out of the WHOLE version by the rollup (empty result from
    one JSON read), a present value falls through to the per-file
    tier and returns exactly its rows, and a publish WITHOUT blooms
    degrades to the plain filtered scan."""
    from spectrify_spark.catalog.publish import (
        VERSION_BLOOM,
        current_path,
        published_pruned_scan_eq,
    )

    root = str(tmp_path / "ds")
    df = _df(spark, 1000, "a").repartition(4, F.col("k"))
    publish(df, root, bloom_cols=["k"])
    sidecar = os.path.join(current_path(root), VERSION_BLOOM)
    rollup = json.load(open(sidecar))
    assert set(rollup) == {"k"} and rollup["k"]["m_bits"] == 8192
    assert 0 < len(_bitmap_positions(rollup["k"]["bitmap"])) <= 8192

    # present value: exact row through both tiers
    got = published_pruned_scan_eq(spark, root, "k", 150).collect()
    assert [(r.k, r.tag) for r in got] == [(150, "a")]
    # absent value: provably not in the version (usually pruned at the
    # rollup tier; correct either way), and NULL matches nothing
    assert published_pruned_scan_eq(spark, root, "k", 999_999).count() == 0
    assert published_pruned_scan_eq(spark, root, "k", None).count() == 0

    # time travel composes: v1 still probe-able after a v2 publish
    publish(_df(spark, 10, "b"), root, bloom_cols=["k"])
    assert (
        published_pruned_scan_eq(spark, root, "k", 150, version=1).count()
        == 1
    )
    # no-bloom publish: falls through to a plain filtered scan
    root2 = str(tmp_path / "ds2")
    publish(_df(spark, 100, "c"), root2)
    assert published_pruned_scan_eq(spark, root2, "k", 50).count() == 1


def _bitmap_positions(bitmap) -> set[int]:
    """Set bit positions of a packed bitmap (bit p in byte p >> 3 at bit
    p & 7): a rollup's base64 text or a per-file row's bytes."""
    import base64

    raw = base64.b64decode(bitmap) if isinstance(bitmap, str) else bitmap
    return {
        i * 8 + j for i, b in enumerate(raw) for j in range(8) if b >> j & 1
    }


def test_version_bloom_rollup_is_packed_or_of_file_blooms(
    spark, tmp_path, monkeypatch
):
    """The version bloom rollup is one packed bitmap per column: it
    decodes to exactly the OR of the per-file index rows' bits, every
    probe position of a present key is set, an absent key it rules out
    returns empty without the per-file tier running, and the sidecar
    stays at m_bits/8 bytes (as base64) plus a small header."""
    import base64
    import math

    import pyarrow.parquet as pq

    from spectrify_spark.catalog.publish import (
        VERSION_BLOOM,
        current_path,
        published_pruned_scan_eq,
    )
    from spectrify_spark.operators import layout

    root = str(tmp_path / "ds")
    df = _df(spark, 1000, "a").repartition(4, F.col("k"))
    publish(df, root, bloom_cols=["k", "tag"])
    vdir = current_path(root)
    sidecar = os.path.join(vdir, VERSION_BLOOM)
    rollup = json.load(open(sidecar))
    assert set(rollup) == {"k", "tag"}
    rows = pq.read_table(os.path.join(vdir, layout.FILE_BLOOM_DIR)).to_pylist()
    for c, s in rollup.items():
        assert "bits" not in s
        # each per-file bitmap's set bits, folded to the rollup's width
        want = {
            p % s["m_bits"]
            for r in rows
            if r["col"] == c
            for p in _bitmap_positions(r["bitmap"])
        }
        assert _bitmap_positions(s["bitmap"]) == want, c
    m_bits = rollup["k"]["m_bits"]
    assert os.path.getsize(sidecar) <= len(rollup) * (
        4 * math.ceil(m_bits / 24) + 200
    )

    s = rollup["k"]
    set_bits = _bitmap_positions(s["bitmap"])
    # the bit order is Spark's own: bitmap_construct_agg over the same
    # positions sets the same bytes (its 32,768-bit bitmap zero-padded)
    spark_bitmap = (
        spark.createDataFrame([(p,) for p in sorted(set_bits)], "p long")
        .agg(F.expr("bitmap_construct_agg(p)"))
        .first()[0]
    )
    assert bytes(spark_bitmap[: m_bits // 8]) == base64.b64decode(s["bitmap"])
    assert not any(spark_bitmap[m_bits // 8 :])
    for k in range(1000):
        pos = layout._bloom_positions_py(k, m_bits, s["k_hashes"], s["dtype"])
        assert set(pos) <= set_bits, k
        assert layout._bloom_may_contain(s["bitmap"], m_bits, pos)
    absent = next(
        k
        for k in range(10_000, 20_000)
        if not set(
            layout._bloom_positions_py(k, m_bits, s["k_hashes"], s["dtype"])
        )
        <= set_bits
    )
    # a bitmap that does not decode to m_bits/8 bytes proves nothing
    pos = layout._bloom_positions_py(absent, m_bits, s["k_hashes"], s["dtype"])
    assert not layout._bloom_may_contain(s["bitmap"], m_bits, pos)
    assert layout._bloom_may_contain("AAAA", m_bits, pos)
    assert layout._bloom_may_contain("not base64!", m_bits, pos)

    def per_file_tier(*a, **kw):
        raise AssertionError("the rollup should have ruled the key out")

    monkeypatch.setattr(layout, "pruned_scan_eq", per_file_tier)
    got = published_pruned_scan_eq(spark, root, "k", absent)
    assert got.columns == ["k", "tag"] and got.count() == 0


def test_version_bloom_rollup_of_sized_blooms_is_the_8192_bit_rollup(
    spark, tmp_path
):
    """Per-file blooms sized above 8,192 bits fold down to 8,192 before
    the OR, so the rollup of a sized publish is byte for byte the
    8,192-bit rollup of the same data: the OR of every value's
    positions at m=8192."""
    import base64

    from spectrify_spark.catalog.publish import VERSION_BLOOM, current_path
    from spectrify_spark.operators import layout

    root = str(tmp_path / "ds")
    df = _df(spark, 8000, "a").repartition(4, F.col("k"))
    publish(df, root, bloom_cols=["k", "tag"])
    vdir = current_path(root)
    ms = {
        r["m_bits"]
        for r in layout._read_stats_rows(spark, f"{vdir}/{layout.FILE_BLOOM_DIR}")
    }
    assert min(ms) > 8192  # ~2,000 rows per file: every bloom folds
    with open(os.path.join(vdir, VERSION_BLOOM)) as fh:
        rollup = json.load(fh)
    for c, values in (("k", range(8000)), ("tag", ["a"])):
        s = rollup[c]
        assert s["m_bits"] == 8192 and s["k_hashes"] == 6
        want = bytearray(1024)
        for v in values:
            for p in layout._bloom_positions_py(v, 8192, 6, s["dtype"]):
                want[p >> 3] |= 1 << (p & 7)
        assert base64.b64decode(s["bitmap"]) == bytes(want), c


def test_version_bloom_list_form_proves_nothing(spark, tmp_path):
    """A rollup in the retired ``"bits"`` list form is not read: even
    an EMPTY list (which, read as a bloom, would rule every key out)
    falls through to the per-file tier, which returns exactly the rows
    of the plain equality filter."""
    from spectrify_spark.catalog.publish import (
        VERSION_BLOOM,
        current_path,
        published_pruned_scan_eq,
    )
    from spectrify_spark.operators._sidecar import write_json_sidecar

    root = str(tmp_path / "ds")
    publish(_df(spark, 200, "a").repartition(2), root, bloom_cols=["k"])
    vdir = current_path(root)
    new = json.load(open(os.path.join(vdir, VERSION_BLOOM)))["k"]
    old = {key: new[key] for key in ("m_bits", "k_hashes", "dtype")}
    write_json_sidecar(spark, vdir, VERSION_BLOOM, {"k": dict(old, bits=[])})

    plain = read_published(spark, root)
    for k in (0, 150, 199, 5000):
        got = published_pruned_scan_eq(spark, root, "k", k).collect()
        want = plain.filter(F.col("k") == k).collect()
        assert sorted(got) == sorted(want), k
    assert len(published_pruned_scan_eq(spark, root, "k", 150).collect()) == 1


def test_vacuum_orphan_below_pointer_never_consumes_window(spark, tmp_path):
    """Review regression (r13): a crashed publish's partial below the
    pointer (landed, never committed, numbering passed by a later
    publish) must not count as 'published' — doing so evicted the
    just-superseded version from the keep window while RETAINING the
    partial as a time-travelable 'snapshot'."""
    root = str(tmp_path / "ds")
    publish(_df(spark, 10, "a"), root, keep_versions=2)
    publish(_df(spark, 20, "b"), root, keep_versions=2)
    # crash simulation: v=3 landed without a commit marker
    _df(spark, 99, "crash").write.parquet(os.path.join(root, "v=3"))
    # the partial is not a readable snapshot even before any vacuum
    with pytest.raises(FileNotFoundError, match="never committed"):
        read_published(spark, root, version=3)
    v = publish(_df(spark, 30, "c"), root, keep_versions=2)
    # publish swept the partial at start and took its slot (v=3); the
    # window must be {v2, v3}: the orphan neither survives nor evicts
    # v2 (the version an in-flight reader may still be scanning)
    assert v == 3
    assert sorted(
        int(d[2:]) for d in os.listdir(root) if d.startswith("v=")
    ) == [2, 3]
    assert read_published(spark, root, version=2).count() == 20
    assert read_published(spark, root).count() == 30


def test_vacuum_spares_committed_version_awaiting_flip(spark, tmp_path):
    """A committed-but-not-yet-pointed version (the window between the
    marker and the flip) belongs to the in-flight publisher: vacuum
    must not remove it."""
    from spectrify_spark.catalog.publish import COMMITTED

    root = str(tmp_path / "ds")
    publish(_df(spark, 10, "a"), root)
    # simulate a publish caught between marker and flip
    _df(spark, 20, "b").write.parquet(os.path.join(root, "v=2"))
    with open(os.path.join(root, "v=2", COMMITTED), "w") as fh:
        json.dump({"version": 2}, fh)
    assert vacuum(root, keep_versions=1) == []
    assert os.path.isdir(os.path.join(root, "v=2"))


def test_publish_rejects_partitioned_source_rooted_at_root(spark, tmp_path):
    """Review regression (r13): a Hive-partitioned source puts every
    file's parent at root/<part>=<val>, which the dir==root and
    root-inside-dir checks both miss — publishing INTO the root of a
    partitioned source must still be rejected."""
    src = str(tmp_path / "part_ds")
    _df(spark, 10, "a").withColumn("p", F.col("k") % 2).write.partitionBy(
        "p"
    ).parquet(src)
    df = spark.read.parquet(src)
    with pytest.raises(ValueError, match="INSIDE the dataset root"):
        publish(df, src)


def test_version_rollup_not_written_when_stats_missing(spark, tmp_path):
    """Review regression (r13): an unreadable/empty stats index must
    produce NO version rollup — an all-None rollup reads as 'whole
    version all-NULL', i.e. proof of disjointness, silently pruning
    the entire version on every later range probe."""
    from spectrify_spark.catalog.publish import (
        VERSION_STATS,
        _write_version_rollup,
        published_pruned_scan,
    )

    root = str(tmp_path / "ds")
    publish(_df(spark, 10, "a"), root)  # no stats_cols: no stats index
    vdir = os.path.join(root, "v=1")
    _write_version_rollup(spark, vdir, ["k"])  # stats dir absent
    assert not os.path.exists(os.path.join(vdir, VERSION_STATS))
    # probe falls through (no rollup, no per-file index) — full rows
    assert published_pruned_scan(spark, root, "k", 0, 100).count() == 10


def test_committed_unflipped_crash_never_consumes_window(spark, tmp_path):
    """Second-review regression (r13): a publish that crashed BETWEEN
    its commit marker and its pointer flip leaves a committed-but-
    never-pointed dir.  If a later publish advanced the pointer past
    it, vacuum could no longer tell it from a published version — it
    would consume a retention slot and evict the genuinely
    just-superseded version.  Publish now sweeps all above-pointer
    leftovers at start (single-writer), so the masquerade can never
    form."""
    from spectrify_spark.catalog.publish import COMMITTED

    root = str(tmp_path / "ds")
    publish(_df(spark, 10, "a"), root, keep_versions=2)
    publish(_df(spark, 20, "b"), root, keep_versions=2)
    # crash between marker and flip: committed v=3, pointer still at 2
    _df(spark, 99, "crash").write.parquet(os.path.join(root, "v=3"))
    with open(os.path.join(root, "v=3", COMMITTED), "w") as fh:
        json.dump({"version": 3}, fh)
    v = publish(_df(spark, 30, "c"), root, keep_versions=2)
    assert v == 3  # the leftover was swept, its number reused
    # window is {v2, v3}: v2 retained (not evicted by the crash dir),
    # and the current version holds the NEW data, not the crash's
    assert read_published(spark, root, version=2).count() == 20
    assert read_published(spark, root).count() == 30


def _stripped_marker_dataset(spark, root: str) -> None:
    """Two published versions (pruned-scan rollups included), then
    every COMMITTED marker removed — the shape of a dataset written
    before markers existed, or of out-of-band marker loss."""
    from spectrify_spark.catalog.publish import COMMITTED

    for n, tag in ((10, "a"), (20, "b")):
        publish(_df(spark, n, tag), root, keep_versions=3,
                stats_cols=["k"], bloom_cols=["k"])
    for v in (1, 2):
        os.remove(os.path.join(root, f"v={v}", COMMITTED))


def test_stripped_markers_lose_nothing(spark, tmp_path):
    """A dataset whose commit markers were all stripped loses no data:
    vacuum quarantines — never removes — unmarked versions below the
    pointer, and so does the next publish's tail vacuum; the pointer
    path still reads, and nothing re-certifies the stripped versions."""
    from spectrify_spark.catalog.publish import COMMITTED

    root = str(tmp_path / "ds")
    _stripped_marker_dataset(spark, root)

    def version_dirs():
        return sorted(d for d in os.listdir(root) if d.startswith("v="))

    assert read_published(spark, root).count() == 20  # pointer path
    assert vacuum(root, keep_versions=1) == []
    assert version_dirs() == ["v=1", "v=2"]
    publish(_df(spark, 30, "c"), root, keep_versions=1)
    assert version_dirs() == ["v=1", "v=2", "v=3"]
    assert read_published(spark, root).count() == 30
    # nothing re-certified the stripped versions behind our back
    for v in (1, 2):
        assert not os.path.isfile(os.path.join(root, f"v={v}", COMMITTED))


def test_stripped_markers_refuse_time_travel_until_restored(spark, tmp_path):
    """Explicit time travel to a version without its COMMITTED marker
    refuses on every reader — plain and both pruned scans — and
    restoring the (content-free) marker re-opens it."""
    from spectrify_spark.catalog.publish import (
        COMMITTED,
        published_pruned_scan,
        published_pruned_scan_eq,
    )

    root = str(tmp_path / "ds")
    _stripped_marker_dataset(spark, root)
    for v in (1, 2):
        for fn in (
            lambda: read_published(spark, root, version=v),
            lambda: published_pruned_scan(spark, root, "k", 0, 5, version=v),
            lambda: published_pruned_scan_eq(spark, root, "k", 3, version=v),
        ):
            with pytest.raises(FileNotFoundError, match="never\\s+committed"):
                fn()

    open(os.path.join(root, "v=1", COMMITTED), "w").close()
    assert read_published(spark, root, version=1).count() == 10
    with pytest.raises(FileNotFoundError, match="never\\s+committed"):
        read_published(spark, root, version=2)


def test_publish_salvaging_a_crashed_partial_keeps_its_source(spark, tmp_path):
    """The publish-start sweep of above-pointer leftovers must SKIP a
    dir the input DataFrame reads from — a caller salvaging a crashed
    partial by republishing it would otherwise have the source deleted
    out from under the lazy write."""
    root = str(tmp_path / "ds")
    publish(_df(spark, 10, "a"), root)
    # crashed partial above the pointer
    _df(spark, 7, "crash").write.parquet(os.path.join(root, "v=2"))
    salvaged = spark.read.parquet(os.path.join(root, "v=2"))
    v = publish(salvaged, root, keep_versions=1)
    # the salvage succeeded: the new current version carries the
    # partial's rows, and the partial itself aged out via end-vacuum
    assert read_published(spark, root).count() == 7
    assert sorted(
        int(d[2:]) for d in os.listdir(root) if d.startswith("v=")
    ) == [v]


def test_pointer_flip_never_observably_partial(spark, tmp_path):
    """The atomicity claim, hammered: flip the pointer hundreds of
    times on a file: root (the FileContext rename-OVERWRITE arm) while
    a reader polls current_version concurrently — every read must see
    a valid old-or-new version number, never a missing pointer or
    partial JSON (the truncate-in-place windows fs.create would open)."""
    import threading

    from spectrify_spark.catalog.publish import _pointer_write

    root = "file://" + str(tmp_path / "flip")
    os.makedirs(str(tmp_path / "flip"), exist_ok=True)
    _pointer_write(spark, root, 1)

    seen: list = []
    errors: list = []
    stop = threading.Event()

    def poll():
        while not stop.is_set():
            try:
                v = current_version(root, spark)
                if v is None:
                    errors.append("pointer vanished")
                else:
                    seen.append(v)
            except Exception as e:  # partial JSON would land here
                errors.append(repr(e))

    t = threading.Thread(target=poll)
    t.start()
    try:
        for n in range(2, 300):
            _pointer_write(spark, root, n)
    finally:
        stop.set()
        t.join()
    assert not errors, errors[:3]
    assert seen and all(1 <= v <= 299 for v in seen)
    # monotone non-decreasing: a reader never sees an OLDER pointer
    # than one it already observed (single rename-over, no window)
    assert all(a <= b for a, b in zip(seen, seen[1:]))


def test_pruned_scan_time_travel_refuses_crashed_partial(spark, tmp_path):
    """r13 ADVICE medium: published_pruned_scan / published_pruned_scan_eq
    with an explicit version= must refuse an uncommitted partial
    version exactly like read_published — otherwise time travel
    through the pruned-scan APIs silently scans a crashed publish's
    incomplete directory and returns partial data."""
    from spectrify_spark.catalog.publish import (
        published_pruned_scan,
        published_pruned_scan_eq,
    )

    root = str(tmp_path / "ds")
    publish(_df(spark, 100, "a"), root, stats_cols=["k"], bloom_cols=["k"])
    # fabricate a crashed publish: a v=2 directory that landed data but
    # never reached the commit marker (pointer still names v=1)
    _df(spark, 7, "crash").write.parquet(os.path.join(root, "v=2"))

    with pytest.raises(FileNotFoundError, match="never committed"):
        published_pruned_scan(spark, root, "k", 0, 10, version=2)
    with pytest.raises(FileNotFoundError, match="never committed"):
        published_pruned_scan_eq(spark, root, "k", 5, version=2)
    # a vacuumed/absent version is a distinct, equally explicit error
    with pytest.raises(FileNotFoundError, match="not found"):
        published_pruned_scan(spark, root, "k", 0, 10, version=9)
    with pytest.raises(FileNotFoundError, match="not found"):
        published_pruned_scan_eq(spark, root, "k", 5, version=9)
    # the committed version stays probe-able through both APIs
    assert published_pruned_scan(spark, root, "k", 0, 10, version=1).count() == 10
    assert published_pruned_scan_eq(spark, root, "k", 5, version=1).count() == 1
    # and the pointer path (version=None) is untouched by the guard
    assert published_pruned_scan(spark, root, "k", 0, 10).count() == 10


def test_publish_dir_reader_safe_index_rebuild(spark, tmp_path):
    """publish_dir (r14): materialized-index REBUILDS through the
    versioned publish are reader-safe — write_ivfpq_index targets a
    live dir with mode('overwrite'), so a concurrent probe mid-rebuild
    could see a half-deleted index; through publish_dir each build
    lands as an immutable v=N and the pointer flips under the readers.
    Pins: probe-through-current_path correctness, an in-flight probe
    resolved before a rebuild undisturbed by it, index time travel,
    and crashed-build sweep."""
    from pyspark.sql import functions as F

    from spectrify_spark.catalog.publish import current_path, publish_dir
    from spectrify_spark.operators import quantization as Q
    from spectrify_spark.operators import similarity as SIM
    from spectrify_spark.sources.parquet import read_table

    e = read_table(spark, "/root/testdata/sf0.001/embeddings.parquet").select(
        "vec_id", "embedding"
    )
    cents = SIM.choose_centroids(e, n_centroids=4)
    books = Q.deterministic_codebooks(4, 16, 16)
    root = str(tmp_path / "idxroot")
    qv = [float(x) for x in e.filter(F.col("vec_id") == 7).first().embedding]

    # v1: full corpus
    v1 = publish_dir(
        root, lambda d: Q.write_ivfpq_index(e, cents, books, d)
    )
    assert v1 == 1
    full = Q.ivfpq_topk(spark, current_path(root), qv, k=5, nprobe=4)
    rows_v1 = [(r.vec_id, r.adc_dist) for r in full.collect()]
    assert rows_v1[0][0] == 7  # finds itself through the published path

    # an in-flight probe resolved on v1 ...
    probe_v1 = Q.ivfpq_topk(spark, current_path(root), qv, k=5, nprobe=4)
    # ... survives a REBUILD over a smaller corpus (content change)
    e_half = e.filter(F.col("vec_id") % 2 == 1)  # 7 still present
    v2 = publish_dir(
        root, lambda d: Q.write_ivfpq_index(e_half, cents, books, d)
    )
    assert v2 == 2
    assert [(r.vec_id, r.adc_dist) for r in probe_v1.collect()] == rows_v1
    # the pointed index reflects the rebuild; time travel reaches v1
    new_ids = {
        r.vec_id
        for r in Q.ivfpq_topk(spark, current_path(root), qv, k=5, nprobe=4)
        .collect()
    }
    assert all(i % 2 == 1 for i in new_ids)
    assert [
        (r.vec_id, r.adc_dist)
        for r in Q.ivfpq_topk(spark, f"{root}/v=1", qv, k=5, nprobe=4).collect()
    ] == rows_v1

    # crashed build: sweep + no pointer movement
    import pytest

    with pytest.raises(RuntimeError, match="boom"):
        publish_dir(root, lambda d: (_ for _ in ()).throw(RuntimeError("boom")))
    from spectrify_spark.catalog.publish import current_version

    assert current_version(root) == 2
    v3 = publish_dir(
        root, lambda d: Q.write_ivfpq_index(e, cents, books, d), keep_versions=1
    )
    assert v3 == 3 and current_version(root) == 3
    with pytest.raises(ValueError, match="keep_versions"):
        publish_dir(root, lambda d: None, keep_versions=0)
    # a build_fn that creates nothing fails loud, pointer unmoved
    with pytest.raises(ValueError, match="nothing to publish"):
        publish_dir(root, lambda d: None)
    assert current_version(root) == 3


def test_marker_loss_is_not_legacy(spark, tmp_path):
    """A dataset where some versions carry markers but the pointed one
    does not can only mean out-of-band marker loss — treating the
    unmarked version as committed would make every crashed partial at
    or below the pointer readable via explicit time travel.  Reads
    refuse it and no writer path re-certifies it.  Recovery =
    restoring the COMMITTED file (it is content-free)."""
    from spectrify_spark.catalog.publish import (
        COMMITTED,
        published_pruned_scan,
        published_pruned_scan_eq,
    )

    root = str(tmp_path / "ds")
    publish(_df(spark, 10, "a"), root, keep_versions=3,
            stats_cols=["k"], bloom_cols=["k"])
    publish(_df(spark, 20, "b"), root, keep_versions=3,
            stats_cols=["k"], bloom_cols=["k"])
    # a genuine crashed partial below the pointer would be unmarked,
    # exactly like the marker-loss victim — build the dangerous state:
    # v=2 pointed, v=2's marker lost, v=1 still marked
    os.remove(os.path.join(root, "v=2", COMMITTED))

    # read paths: explicit time travel to the unmarked version refuses
    # (marked versions and the pointer path keep working)
    for fn in (
        lambda: read_published(spark, root, version=2),
        lambda: published_pruned_scan(spark, root, "k", 0, 5, version=2),
        lambda: published_pruned_scan_eq(spark, root, "k", 3, version=2),
    ):
        with pytest.raises(FileNotFoundError, match="never\\s+committed"):
            fn()
    assert read_published(spark, root, version=1).count() == 10
    assert read_published(spark, root).count() == 20  # pointer path

    # writer path: vacuum does NOT stamp
    vacuum(root, keep_versions=3)
    assert not os.path.isfile(os.path.join(root, "v=2", COMMITTED))
    # the pointed dir itself is never vacuumed (the {cur} keep-slot)
    assert read_published(spark, root).count() == 20
    # restoring the sentinel recovers the version for time travel
    open(os.path.join(root, "v=2", COMMITTED), "w").close()
    assert read_published(spark, root, version=2).count() == 20


def test_published_pruned_scan_spark_side_passthrough(spark, tmp_path):
    """r14 VERDICT item 6: published_pruned_scan(_eq) forward
    ``spark_side=`` to the per-file tier, so the explicit arm override
    the unpublished API offers is reachable through the published
    path.  Both arms forced through the rollup-missing route must
    return identical rows."""
    from spectrify_spark.catalog.publish import (
        VERSION_BLOOM,
        VERSION_STATS,
        published_pruned_scan,
        published_pruned_scan_eq,
    )

    root = str(tmp_path / "ds")
    publish(_df(spark, 100, "a"), root, stats_cols=["k"], bloom_cols=["k"])
    # remove the version rollups so the per-file tier (where the arms
    # diverge) actually runs
    for sidecar in (VERSION_STATS, VERSION_BLOOM):
        p = os.path.join(root, "v=1", sidecar)
        if os.path.exists(p):
            os.remove(p)

    rng = {
        arm: sorted(
            r.k
            for r in published_pruned_scan(
                spark, root, "k", 10, 20, spark_side=arm
            ).collect()
        )
        for arm in (False, True)
    }
    assert rng[False] == rng[True] == list(range(10, 20))
    eq = {
        arm: [
            (r.k, r.tag)
            for r in published_pruned_scan_eq(
                spark, root, "k", 42, spark_side=arm
            ).collect()
        ]
        for arm in (False, True)
    }
    assert eq[False] == eq[True] == [(42, "a")]


def test_publish_snapshot_all_old_or_all_new(spark, tmp_path):
    """r14 VERDICT item 3 (cross-dataset atomic publish), the crash
    hammer: a pipeline writes corpus + counts + ANN index as separate
    datasets; a writer crashing ANYWHERE between component publishes
    (or before the snapshot flip) must leave snapshot readers on the
    previous CONSISTENT set — never a mix.  Drives the writer step by
    step, asserting the reader view after every step."""
    import pytest

    from spectrify_spark.catalog.publish import (
        publish_snapshot,
        read_snapshot_manifest,
        read_snapshot_table,
        snapshot_component_path,
        snapshot_pinned_versions,
    )
    from spectrify_spark.operators import similarity as SIM

    droot = str(tmp_path / "docs")
    croot = str(tmp_path / "counts")
    snap = str(tmp_path / "snap")

    def counts_of(df):
        return df.groupBy("tag").agg(F.count(F.lit(1)).alias("n"))

    def snapshot_view():
        docs = read_snapshot_table(spark, snap, "docs")
        counts = read_snapshot_table(spark, snap, "counts")
        got = {
            (r.tag, r.n)
            for r in docs.groupBy("tag")
            .agg(F.count(F.lit(1)).alias("n"))
            .collect()
        }
        want = {(r.tag, r.n) for r in counts.collect()}
        return got, want

    gen1 = _df(spark, 10, "a")
    publish(gen1, droot)
    publish(counts_of(gen1), croot)
    v = publish_snapshot(snap, {"docs": droot, "counts": croot})
    assert v == 1
    got, want = snapshot_view()
    assert got == want == {("a", 10)}

    # --- generation 2, crash after the FIRST component publish ---
    gen2 = _df(spark, 25, "b")
    publish(gen2, droot)  # docs now v2; counts still gen1; NO snapshot
    got, want = snapshot_view()
    assert got == want == {("a", 10)}  # reader pinned to gen1, consistent

    # --- crash after the second component, BEFORE the snapshot flip ---
    publish(counts_of(gen2), croot)
    got, want = snapshot_view()
    assert got == want == {("a", 10)}  # still all-old

    # --- the flip commits generation 2 in one pointer write ---
    v2 = publish_snapshot(snap, {"docs": droot, "counts": croot})
    assert v2 == 2
    got, want = snapshot_view()
    assert got == want == {("b", 25)}  # all-new
    # time travel to the old snapshot still yields the old consistent set
    assert read_snapshot_table(spark, snap, "docs", version=1).count() == 10

    # pinning audit: both snapshot generations' component versions
    pins = snapshot_pinned_versions(snap)
    assert pins[droot] == {1, 2} and pins[croot] == {1, 2}

    # explicit (root, version) pins + a non-parquet component path
    iroot = str(tmp_path / "ann")
    from spectrify_spark.catalog.publish import publish_dir

    e = gen1.select(
        F.col("k").alias("vec_id"),
        F.array(
            (F.col("k") % 3).cast("float"), (F.col("k") % 5).cast("float")
        ).alias("embedding"),
    )
    cents = SIM.choose_centroids(e, n_centroids=2)
    publish_dir(iroot, lambda d: SIM.write_ivf_index(e, cents, d))
    v3 = publish_snapshot(
        snap, {"docs": (droot, 1), "counts": (croot, 1), "ann": iroot}
    )
    m = read_snapshot_manifest(snap)
    assert m["components"]["docs"]["version"] == 1
    idx_path = snapshot_component_path(snap, "ann")
    assert SIM.read_ivf_centroids(spark, idx_path) is not None
    got, want = snapshot_view()
    assert got == want == {("a", 10)}  # explicit pins resurface gen1

    # refusals: crashed component partial, missing component, not a
    # snapshot dataset
    os.makedirs(os.path.join(droot, "v=9"))
    with pytest.raises(FileNotFoundError, match="never\\s+committed"):
        publish_snapshot(snap, {"docs": (droot, 9)})
    with pytest.raises(FileNotFoundError, match="nothing"):
        publish_snapshot(snap, {"docs": str(tmp_path / "nope")})
    with pytest.raises(KeyError, match="no component"):
        snapshot_component_path(snap, "bogus")
    with pytest.raises(FileNotFoundError, match="not a snapshot"):
        read_snapshot_manifest(droot)
    with pytest.raises(ValueError, match="non-empty"):
        publish_snapshot(snap, {})


def test_publish_snapshot_pointer_crash_window(spark, tmp_path):
    """The remaining crash window — the snapshot's own publish dying
    between its manifest write and its pointer flip — must leave the
    manifest as an uncommitted partial the next snapshot sweeps, with
    readers still on the old pointer (the publish_dir protocol,
    exercised through the snapshot layer)."""
    from spectrify_spark.catalog.publish import (
        SNAPSHOT_MANIFEST,
        _write_snapshot_manifest,
        publish_snapshot,
        read_snapshot_manifest,
    )

    droot = str(tmp_path / "docs")
    snap = str(tmp_path / "snap")
    publish(_df(spark, 10, "a"), droot)
    publish_snapshot(snap, {"docs": droot})
    publish(_df(spark, 20, "b"), droot)

    # simulate the crash: manifest for generation 2 lands in v=2 but
    # no COMMITTED marker, no pointer flip
    _write_snapshot_manifest(
        os.path.join(snap, "v=2"),
        {"components": {"docs": {"root": droot, "version": 2}}},
        spark,
    )
    m = read_snapshot_manifest(snap)  # pointer path: still generation 1
    assert m["components"]["docs"]["version"] == 1
    import pytest

    with pytest.raises(FileNotFoundError, match="never\\s+committed"):
        read_snapshot_manifest(snap, version=2)

    # the next snapshot sweeps the partial and takes its slot
    v = publish_snapshot(snap, {"docs": droot})
    assert v == 2
    assert read_snapshot_manifest(snap)["components"]["docs"]["version"] == 2
    assert os.path.isfile(os.path.join(snap, "v=2", SNAPSHOT_MANIFEST))


def test_snapshot_cli(spark, tmp_path, capsys):
    """CLI surface for the cross-dataset snapshot: NAME=ROOT pins the
    current version, NAME=ROOT@V pins explicitly; malformed specs exit
    loud."""
    import pytest

    from spectrify_spark import cli
    from spectrify_spark.catalog.publish import read_snapshot_manifest

    droot = str(tmp_path / "docs")
    publish(_df(spark, 10, "a"), droot)
    publish(_df(spark, 20, "b"), droot)
    snap = str(tmp_path / "snap")
    assert cli.main(["snapshot", snap, f"docs={droot}", f"old={droot}@1"]) == 0
    m = read_snapshot_manifest(snap)
    assert m["components"]["docs"]["version"] == 2
    assert m["components"]["old"]["version"] == 1
    # every parsed pin is echoed to stderr (r15 ADVICE: a root that
    # literally ends in '@<digits>' silently parsed as a pin)
    assert "pinning old=" in capsys.readouterr().err
    with pytest.raises(SystemExit):
        cli.main(["snapshot", snap, "notaspec"])
    capsys.readouterr()

    # the ambiguous root: literal '/...@<digits>' directory — the
    # trailing-slash escape pins its CURRENT version instead
    at_root = str(tmp_path / "exp@2024")
    publish(_df(spark, 5, "x"), at_root)
    snap2 = str(tmp_path / "snap2")
    assert cli.main(["snapshot", snap2, f"docs={at_root}/"]) == 0
    m2 = read_snapshot_manifest(snap2)
    assert m2["components"]["docs"]["root"].rstrip("/") == at_root
    assert m2["components"]["docs"]["version"] == 1
    assert "pinning" not in capsys.readouterr().err


def test_vacuum_quarantines_marker_loss_victims(spark, tmp_path, caplog):
    """r15 self-review: vacuum used to delete an unmarked below-pointer
    version as a crashed partial — destroying the very data the
    documented marker-loss recovery (restore the COMMITTED sentinel)
    needs.  Such versions are now quarantined with a WARNING; restoring
    the marker re-certifies them, and genuine above-pointer crashed
    partials are still removed."""
    import logging

    from spectrify_spark.catalog.publish import COMMITTED

    root = str(tmp_path / "ds")
    for tag, n in (("a", 10), ("b", 20), ("c", 30)):
        publish(_df(spark, n, tag), root, keep_versions=5)
    # marker loss on v=1 (below the pointer, outside nothing — it is
    # retained under keep_versions=5); plus a genuine crashed partial
    # above the pointer
    os.remove(os.path.join(root, "v=1", COMMITTED))
    os.makedirs(os.path.join(root, "v=9"))
    with caplog.at_level(
        logging.WARNING, logger="spectrify_spark.catalog.publish"
    ):
        removed = vacuum(root, keep_versions=5)
    assert removed == [9]  # the partial went, the victim stayed
    assert os.path.isdir(os.path.join(root, "v=1"))
    assert any("quarantined" in r.message for r in caplog.records)
    # recovery: restore the sentinel, the version reads again and a
    # later vacuum treats it as published
    with open(os.path.join(root, "v=1", COMMITTED), "w") as fh:
        fh.write('{"version": 1}')
    assert read_published(spark, root, version=1).count() == 10
    assert vacuum(root, keep_versions=5) == []


def test_vacuum_protects_snapshot_pins(spark, tmp_path, caplog):
    """r15 VERDICT item 1 (the last correctness footgun): a retained
    snapshot pins component versions; a component vacuum whose keep
    window excludes a pinned version used to evict it, breaking every
    future read_snapshot_table of that snapshot.  vacuum() now takes
    snapshots= (automatic pin discovery) and protect= (explicit set):
    the pinned version is SKIPPED with a WARNING and the snapshot read
    keeps working."""
    import logging

    from spectrify_spark.catalog.publish import (
        publish_snapshot,
        read_snapshot_table,
    )

    droot = str(tmp_path / "docs")
    snap = str(tmp_path / "snap")
    publish(_df(spark, 10, "a"), droot, keep_versions=5)
    publish_snapshot(snap, {"docs": droot})  # pins docs v=1
    publish(_df(spark, 20, "b"), droot, keep_versions=5)
    publish(_df(spark, 30, "c"), droot, keep_versions=5)

    # keep_versions=1 would evict v=1 and v=2; the snapshot pin on v=1
    # must survive, v=2 (unpinned) must go
    with caplog.at_level(
        logging.WARNING, logger="spectrify_spark.catalog.publish"
    ):
        removed = vacuum(droot, keep_versions=1, snapshots=[snap])
    assert removed == [2]
    assert os.path.isdir(os.path.join(droot, "v=1"))
    assert any("pinned" in r.message for r in caplog.records)
    assert read_snapshot_table(spark, snap, "docs").count() == 10

    # explicit protect= works without any snapshot root, and the
    # file:-URI form of the same root still matches the stored pin
    publish(_df(spark, 40, "d"), droot, keep_versions=5)
    assert vacuum(droot, keep_versions=1, protect={1, 3}) == []
    assert vacuum(
        "file://" + droot, keep_versions=1, snapshots=[snap], spark=spark
    ) == [3]
    assert sorted(
        int(d[2:]) for d in os.listdir(droot) if d.startswith("v=")
    ) == [1, 4]
    assert read_snapshot_table(spark, snap, "docs").count() == 10

    # without the levers the old behavior stands (documented: the
    # publish-tail vacuum knows no snapshot roots) — pin evicted
    assert vacuum(droot, keep_versions=1) == [1]
    with pytest.raises(Exception):
        read_snapshot_table(spark, snap, "docs").count()


def test_concurrent_publish_loser_fails_cleanly(spark, tmp_path):
    """r15 VERDICT item 3: the single-writer contract is now enforced
    at flip time — a publish that finds the pointer moved since its
    version allocation raises ConcurrentPublishError instead of
    regressing the pointer over the winner.  Interleaving is injected
    through build_fn: the 'slow' outer publish lands, then a competing
    publish completes fully before the outer reaches its flip."""
    from spectrify_spark.catalog.publish import (
        ConcurrentPublishError,
        publish_dir,
        read_published,
    )

    root = str(tmp_path / "ds")
    publish(_df(spark, 10, "a"), root, keep_versions=5)

    def slow_build(vdir):
        os.makedirs(vdir, exist_ok=True)
        _df(spark, 99, "loser").write.mode("overwrite").parquet(vdir)
        # competing writer B starts AND finishes while A is landing:
        # B's start-sweep removes A's uncommitted v=2 and B reclaims
        # the number (same-number collision — the common race)
        publish(_df(spark, 20, "winner"), root, keep_versions=5)

    with pytest.raises(ConcurrentPublishError, match="moved"):
        publish_dir(root, slow_build, keep_versions=5)
    # exactly one publish won; readers see the winner's committed rows
    assert current_version(root) == 2
    out = read_published(spark, root)
    assert out.count() == 20 and out.select("tag").first().tag == "winner"


def test_concurrent_publish_orphan_removed_on_distinct_numbers(
    spark, tmp_path
):
    """The distinct-number arm of the flip-time guard: when the loser's
    allocated version is NOT the one the pointer now names (and nobody
    committed it), the loser removes its own orphan before raising —
    no stranded directory for the next publish to sweep."""
    from spectrify_spark.catalog.publish import (
        COMMITTED,
        ConcurrentPublishError,
        _pointer_write,
        publish_dir,
        read_published,
    )

    root = str(tmp_path / "ds")
    publish(_df(spark, 10, "a"), root, keep_versions=5)

    def build(vdir):  # outer allocates v=2
        os.makedirs(vdir, exist_ok=True)
        _df(spark, 99, "loser").write.mode("overwrite").parquet(vdir)
        # competing writer won with a DIFFERENT number: v=5 committed
        # and pointed (simulated directly — landing it through
        # publish() would collide on v=2 like the common race)
        wdir = os.path.join(root, "v=5")
        _df(spark, 50, "winner").write.parquet(wdir)
        with open(os.path.join(wdir, COMMITTED), "w") as fh:
            fh.write('{"version": 5}')
        _pointer_write(spark, root, 5)

    with pytest.raises(ConcurrentPublishError, match="moved"):
        publish_dir(root, build, keep_versions=5)
    assert not os.path.isdir(os.path.join(root, "v=2"))  # orphan cleaned
    assert current_version(root) == 5
    assert read_published(spark, root).count() == 50
    # two-thread hammer (r17 — VERDICT r16 item 4): on local storage
    # the O_EXCL writer lock SERIALIZES racing publishes — both
    # succeed as consecutive versions, zero ConcurrentPublishError
    # losers, and the lock file is gone afterwards
    import threading

    root2 = str(tmp_path / "ds2")
    publish(_df(spark, 1, "seed"), root2, keep_versions=9)
    errs: list = []
    barrier = threading.Barrier(2)

    def writer(tag):
        def build2(vdir):
            os.makedirs(vdir, exist_ok=True)
            # plain-file payload with a per-writer name: the hammer
            # targets the PROTOCOL race, not Spark's overwrite job
            with open(os.path.join(vdir, f"part-{tag}.txt"), "w") as fh:
                fh.write(tag)

        try:
            barrier.wait(timeout=30)  # maximal contention at entry
            publish_dir(root2, build2, keep_versions=9)
        except Exception as e:  # noqa: BLE001 — classified below
            errs.append(e)

    ts = [threading.Thread(target=writer, args=(t,)) for t in ("x", "y")]
    for t in ts:
        t.start()
    for t in ts:
        t.join(timeout=120)
    assert errs == [], errs
    # both publishes landed, serialized: seed v=1 + two more
    assert current_version(root2) == 3
    tags = set()
    for v in (2, 3):
        vdir = os.path.join(root2, f"v={v}")
        assert os.path.isfile(os.path.join(vdir, COMMITTED))
        tags.update(
            nm for nm in os.listdir(vdir) if nm.startswith("part-")
        )
    assert tags == {"part-x.txt", "part-y.txt"}
    from spectrify_spark.catalog.publish import PUBLISH_LOCK

    assert not os.path.exists(os.path.join(root2, PUBLISH_LOCK))


def test_publish_lock_stale_takeover_and_release(spark, tmp_path, caplog):
    """A lock left by a crashed writer (old mtime) is taken over with
    a WARNING and the publish proceeds; a FRESH foreign lock makes a
    zero-wait publish time out instead of clobbering it."""
    import logging as _logging

    from spectrify_spark.catalog.publish import (
        LOCK_STALE_SECONDS,
        PUBLISH_LOCK,
        publish,
        read_published,
    )

    root = str(tmp_path / "ds")
    os.makedirs(root, exist_ok=True)
    lock = os.path.join(root, PUBLISH_LOCK)
    with open(lock, "w") as fh:
        fh.write('{"pid": 0, "token": "dead"}')
    old = __import__("time").time() - LOCK_STALE_SECONDS - 60
    os.utime(lock, (old, old))
    with caplog.at_level(_logging.WARNING):
        publish(_df(spark, 5, "a"), root, keep_versions=2)
    assert any("stale" in r.message for r in caplog.records)
    assert read_published(spark, root).count() == 5
    assert not os.path.exists(lock)  # released after the flip

    # fresh foreign lock: a bounded wait gives up cleanly
    with open(lock, "w") as fh:
        fh.write('{"pid": 0, "token": "alive"}')
    from spectrify_spark.catalog.publish import _acquire_publish_lock

    with pytest.raises(TimeoutError, match="writer lock"):
        _acquire_publish_lock(root, wait=0.2)
    os.remove(lock)


def test_publish_lock_reentrant_same_thread(spark, tmp_path):
    """A publish issued from inside another publish's land_fn on the
    SAME root re-enters the thread-local lock instead of deadlocking —
    and the flip-time re-read guard still adjudicates the interleave
    (this is exactly the loser-fails-cleanly scenario, re-pinned here
    with the lock active)."""
    from spectrify_spark.catalog.publish import (
        ConcurrentPublishError,
        PUBLISH_LOCK,
        publish_dir,
    )

    root = str(tmp_path / "ds")
    publish(_df(spark, 10, "a"), root, keep_versions=5)

    def nesting_build(vdir):
        os.makedirs(vdir, exist_ok=True)
        _df(spark, 99, "loser").write.mode("overwrite").parquet(vdir)
        publish(_df(spark, 20, "winner"), root, keep_versions=5)

    with pytest.raises(ConcurrentPublishError, match="moved"):
        publish_dir(root, nesting_build, keep_versions=5)
    assert current_version(root) == 2
    # fully unwound: no lock file left behind
    assert not os.path.exists(os.path.join(root, PUBLISH_LOCK))


def test_vacuum_sweeps_stale_pointer_tmp(spark, tmp_path):
    """r16 ADVICE: pointer-temp files leaked by a SIGKILL'd writer are
    reclaimed by vacuum once old; a FRESH temp (an in-flight pointer
    write) is left alone."""
    from spectrify_spark.catalog.publish import (
        TMP_SWEEP_SECONDS,
        vacuum,
    )

    root = str(tmp_path / "ds")
    publish(_df(spark, 3, "a"), root, keep_versions=2)
    stale = os.path.join(root, "._spectrify_current.json.123.dead.tmp")
    fresh = os.path.join(root, "._spectrify_current.json.456.live.tmp")
    for p in (stale, fresh):
        with open(p, "w") as fh:
            fh.write("{}")
    old = __import__("time").time() - TMP_SWEEP_SECONDS - 60
    os.utime(stale, (old, old))
    # an orphaned stale-lock capture (crash between takeover rename
    # and remove) is swept by the same age gate
    from spectrify_spark.catalog.publish import PUBLISH_LOCK

    grab = os.path.join(root, f"{PUBLISH_LOCK}.stale.deadbeef")
    with open(grab, "w") as fh:
        fh.write("{}")
    os.utime(grab, (old, old))
    vacuum(root, keep_versions=2)
    assert not os.path.exists(stale)
    assert not os.path.exists(grab)
    assert os.path.exists(fresh)
    os.remove(fresh)
    # r17: vacuum takes and releases the writer lock itself
    assert not os.path.exists(os.path.join(root, PUBLISH_LOCK))


def test_vacuum_cli_pin_aware(spark, tmp_path, capsys):
    """CLI surface for the pin-aware vacuum: --snapshots protects the
    pinned version, the removed list prints as JSON."""
    import json as _json

    from spectrify_spark import cli
    from spectrify_spark.catalog.publish import publish_snapshot

    droot = str(tmp_path / "docs")
    snap = str(tmp_path / "snap")
    publish(_df(spark, 10, "a"), droot, keep_versions=5)
    publish_snapshot(snap, {"docs": droot})
    publish(_df(spark, 20, "b"), droot, keep_versions=5)
    publish(_df(spark, 30, "c"), droot, keep_versions=5)
    assert (
        cli.main(
            ["vacuum", droot, "--keep-versions", "1", "--snapshots", snap]
        )
        == 0
    )
    out = capsys.readouterr().out.strip().splitlines()[-1]
    assert _json.loads(out) == {"removed": [2]}
    assert os.path.isdir(os.path.join(droot, "v=1"))
    # --protect alone
    assert cli.main(["vacuum", droot, "--keep-versions", "1",
                     "--protect", "1"]) == 0
    out = capsys.readouterr().out.strip().splitlines()[-1]
    assert _json.loads(out) == {"removed": []}


def test_vacuum_pipeline_retires_generations_then_components(spark, tmp_path):
    """r16: vacuum_pipeline runs the two retirement steps in the order
    that matters — snapshot generations first (their pins die with
    them), then each referenced component pin-aware.  Three snapshot
    generations over an advancing docs component; keep_versions=2 on
    the pipeline must drop generation 1 AND reclaim the component
    version only generation 1 pinned, while generations 2-3's pins
    survive a keep window that excludes them."""
    from spectrify_spark.catalog.publish import (
        publish_snapshot,
        read_snapshot_table,
        vacuum_pipeline,
    )

    droot = str(tmp_path / "docs")
    snap = str(tmp_path / "snap")
    for i, tag in enumerate(("a", "b", "c"), start=1):
        publish(_df(spark, 10 * i, tag), droot, keep_versions=9)
        publish_snapshot(snap, {"docs": droot}, keep_versions=9)

    removed = vacuum_pipeline(snap, keep_versions=2, component_keep=1)
    # generation 1 went; docs v=1 (pinned only by it) was reclaimed;
    # v=2 survives ONLY via generation 2's pin (outside component_keep=1)
    assert removed[snap] == [1]
    assert removed[droot] == [1]
    assert sorted(
        int(d[2:]) for d in os.listdir(droot) if d.startswith("v=")
    ) == [2, 3]
    assert read_snapshot_table(spark, snap, "docs", version=2).count() == 20
    assert read_snapshot_table(spark, snap, "docs").count() == 30

    # an extra snapshot root pinning the same component is respected
    snap2 = str(tmp_path / "snap2")
    publish_snapshot(snap2, {"docs": (droot, 2)}, keep_versions=9)
    removed2 = vacuum_pipeline(
        snap, keep_versions=1, component_keep=1, snapshots=[snap2]
    )
    assert removed2[snap] == [2]
    # docs v=2: generation-2 pin died with snapshot v=2, but snap2
    # still pins it — survives
    assert sorted(
        int(d[2:]) for d in os.listdir(droot) if d.startswith("v=")
    ) == [2, 3]
    assert read_snapshot_table(spark, snap2, "docs").count() == 20


def test_publish_snapshot_refuses_above_pointer_pin(spark, tmp_path):
    """r16 self-review: a committed-but-never-flipped version above the
    pointer passes the committed check, but it belongs to an in-flight
    (or crashed) publish and the component's NEXT publish sweeps it by
    design — pinning it would bake a doomed reference into the
    snapshot.  publish_snapshot now refuses explicit pins above the
    pointer."""
    from spectrify_spark.catalog.publish import COMMITTED, publish_snapshot

    droot = str(tmp_path / "docs")
    snap = str(tmp_path / "snap")
    publish(_df(spark, 10, "a"), droot)
    # simulate the crashed writer: v=2 landed AND committed, no flip
    _df(spark, 99, "crash").write.parquet(os.path.join(droot, "v=2"))
    with open(os.path.join(droot, "v=2", COMMITTED), "w") as fh:
        fh.write('{"version": 2}')
    with pytest.raises(ValueError, match="ABOVE the pointer"):
        publish_snapshot(snap, {"docs": (droot, 2)})
    # the pointed version pins fine
    assert publish_snapshot(snap, {"docs": (droot, 1)}) == 1


def test_schema_evolution_contract(spark, tmp_path):
    """r17 (VERDICT r16 item 6): refuse-by-default schema changes —
    additive needs allow_added_columns=True, dropped/retyped always
    refused; time travel across an allowed addition returns each
    version's OWN schema."""
    from spectrify_spark.catalog.publish import SchemaEvolutionError

    root = str(tmp_path / "ds")
    publish(_df(spark, 5, "a"), root, keep_versions=9)

    wider = _df(spark, 5, "b").withColumn("extra", F.lit(1))
    with pytest.raises(SchemaEvolutionError, match="ADDS columns"):
        publish(wider, root, keep_versions=9)
    assert current_version(root) == 1  # the refusal landed nothing

    v2 = publish(wider, root, keep_versions=9, allow_added_columns=True)
    assert v2 == 2
    # pointer path sees the new column; time travel to v1 does not
    assert set(read_published(spark, root).columns) == {"k", "tag", "extra"}
    assert set(read_published(spark, root, version=1).columns) == {"k", "tag"}

    # dropped column: refused even with the additive flag
    with pytest.raises(SchemaEvolutionError, match="DROP columns"):
        publish(
            _df(spark, 5, "c"), root, keep_versions=9,
            allow_added_columns=True,
        )
    # retyped column: refused
    retyped = wider.withColumn("extra", F.lit("s"))
    with pytest.raises(SchemaEvolutionError, match="RETYPE columns"):
        publish(retyped, root, keep_versions=9, allow_added_columns=True)

    # identical schema (column order shuffled, values new): steady state
    v3 = publish(
        wider.select("extra", "tag", "k"), root, keep_versions=9
    )
    assert v3 == 3


def test_schema_contract_skips_pre_recording_datasets(spark, tmp_path):
    """A dataset whose pointed version predates the schema recording
    (marker without a schema key) is not checked — the contract
    engages from its next publish on."""
    from spectrify_spark.catalog.publish import COMMITTED

    root = str(tmp_path / "ds")
    publish(_df(spark, 3, "a"), root, keep_versions=9)
    # simulate a pre-r17 marker: strip the schema key
    mpath = os.path.join(root, "v=1", COMMITTED)
    with open(mpath) as fh:
        payload = json.load(fh)
    payload.pop("schema", None)
    with open(mpath, "w") as fh:
        json.dump(payload, fh)
    # a breaking change sails through (legacy dataset)...
    publish(
        _df(spark, 3, "b").drop("tag"), root, keep_versions=9
    )
    # ...and from now on the contract holds (v2 recorded its schema)
    from spectrify_spark.catalog.publish import SchemaEvolutionError

    with pytest.raises(SchemaEvolutionError):
        publish(
            _df(spark, 3, "c").select("k", F.lit(1).alias("other")),
            root,
            keep_versions=9,
        )


def test_publish_lock_dead_holder_immediate_takeover(spark, tmp_path, caplog):
    """r17 self-review: a writer SIGKILL'd mid-publish leaves a FRESH
    lock — without pid-liveness, every later publish on this root
    would wait out the full hour-long age gate (a restarted streaming
    job stalling on its own dead lock).  A same-host lock whose pid is
    gone is taken over immediately; the age gate stays the fallback
    for other-host locks."""
    import logging as _logging
    import socket
    import subprocess

    from spectrify_spark.catalog.publish import PUBLISH_LOCK, read_published

    root = str(tmp_path / "ds")
    os.makedirs(root, exist_ok=True)
    # a real pid that has exited: spawn-and-wait a child
    child = subprocess.Popen(["true"])
    child.wait()
    lock = os.path.join(root, PUBLISH_LOCK)
    with open(lock, "w") as fh:
        json.dump(
            {"pid": child.pid, "host": socket.gethostname(), "token": "dead"},
            fh,
        )
    with caplog.at_level(_logging.WARNING):
        publish(_df(spark, 4, "a"), root, keep_versions=2)  # no hour wait
    assert any("dead-holder" in r.message for r in caplog.records)
    assert read_published(spark, root).count() == 4
    assert not os.path.exists(lock)

    # an OTHER-host fresh lock is NOT taken over (age gate governs)
    with open(lock, "w") as fh:
        json.dump({"pid": 1, "host": "elsewhere.invalid", "token": "x"}, fh)
    from spectrify_spark.catalog.publish import _acquire_publish_lock

    with pytest.raises(TimeoutError):
        _acquire_publish_lock(root, wait=0.2)
    os.remove(lock)


# ------------------------------------- read schema from the commit marker


def test_published_reads_start_no_inference_job(spark, tmp_path, job_count):
    """Every published reader of an unpartitioned version scans with the
    schema its commit marker records: building the DataFrame starts no
    job (a footer-inference job is the only one a parquet reader runs
    before its action), and collecting runs only the scan's own job."""
    from spectrify_spark.catalog.publish import (
        current_path,
        published_pruned_scan,
        published_pruned_scan_eq,
        publish_snapshot,
        read_snapshot_table,
    )

    root = str(tmp_path / "ds")
    publish(_df(spark, 50, "a"), root, stats_cols=["k"], bloom_cols=["k"])
    # the counter sees an inference job when one runs
    assert job_count(lambda: spark.read.parquet(current_path(root)))[1] == 1
    publish_snapshot(str(tmp_path / "snap"), {"docs": root})

    readers = {
        "read_published": (lambda: read_published(spark, root), 50),
        "pruned_scan": (
            lambda: published_pruned_scan(spark, root, "k", 10, 20), 10
        ),
        "pruned_scan_disjoint": (
            lambda: published_pruned_scan(spark, root, "k", 500, 600), 0
        ),
        "pruned_scan_eq": (
            lambda: published_pruned_scan_eq(spark, root, "k", 7), 1
        ),
        "pruned_scan_eq_absent": (
            lambda: published_pruned_scan_eq(spark, root, "k", 10**9), 0
        ),
        "pruned_scan_eq_null": (
            lambda: published_pruned_scan_eq(spark, root, "k", None), 0
        ),
        "read_snapshot_table": (
            lambda: read_snapshot_table(spark, str(tmp_path / "snap"), "docs"),
            50,
        ),
    }
    for name, (reader, n_rows) in readers.items():
        df, planning_jobs = job_count(reader)
        assert planning_jobs == 0, name
        assert df.columns == ["k", "tag"], name
        rows, scan_jobs = job_count(df.collect)
        assert len(rows) == n_rows, name
        assert scan_jobs <= 1 and (scan_jobs == 1 or n_rows == 0), name


def test_indexed_publish_adds_four_jobs(spark, tmp_path, job_count):
    """The skipping indexes of a published version cost two jobs each
    (one scan, one shuffle, one write): an indexed publish starts the
    jobs of the same publish without indexes plus 4."""
    df = _df(spark, 200, "a").repartition(3, "k")
    _, land = job_count(lambda: publish(df, str(tmp_path / "plain")))
    _, indexed = job_count(
        lambda: publish(
            df, str(tmp_path / "indexed"), stats_cols=["k"], bloom_cols=["k", "tag"]
        )
    )
    assert indexed == land + 4


def test_recorded_schema_round_trips_every_type_family(spark, tmp_path):
    """The marker's schema is the schema inference would report, for
    every type family the lake maps, and the rows read through it are
    the rows inference reads."""
    import datetime
    import decimal

    from spectrify_spark.catalog.publish import _version_schema, current_path

    ddl = (
        "i16 smallint, i32 int, i64 bigint not null, f32 float, "
        "f64 double, d38 decimal(38,6), d18 decimal(18,2), b boolean, "
        "s string, dt date, ts timestamp, ntz timestamp_ntz, "
        "arr array<int>, st struct<a:int,b:string>, m map<string,bigint>, "
        "nested array<struct<x:double,y:array<string>>>"
    )
    ts = datetime.datetime(2020, 1, 2, 3, 4, 5, 678901)
    rows = [
        (
            -3, 2**31 - 1, 2**62, 1.5, -2.25,
            decimal.Decimal("12345678901234567890123456789012.123456"),
            decimal.Decimal("-2.50"), True, "ü", datetime.date(1999, 12, 31),
            ts, ts, [1, None], (1, "a"), {"k": 1}, [(0.5, ["p", None])],
        ),
        (None, None, 0) + (None,) * 13,
    ]
    root = str(tmp_path / "ds")
    publish(spark.createDataFrame(rows, ddl), root)
    assert _version_schema(root, 1) is not None
    got = read_published(spark, root)
    inferred = spark.read.parquet(current_path(root))
    assert got.schema == inferred.schema
    assert sorted(got.collect(), key=lambda r: r.i64) == sorted(
        inferred.collect(), key=lambda r: r.i64
    )


def test_unrecorded_layouts_fall_back_to_inference(spark, tmp_path, job_count):
    """A partitioned publish, a publish_dir payload and a marker written
    before the partition layout was recorded carry no usable scan
    schema: readers infer, with the columns and order they always had."""
    from spectrify_spark.catalog.publish import (
        COMMITTED,
        _version_schema,
        current_path,
        publish_dir,
    )

    part = str(tmp_path / "part")
    publish(_df(spark, 6, "a").withColumn("p", F.col("k") % 2), part,
            partition_by=["p"])
    with open(os.path.join(part, "v=1", COMMITTED)) as fh:
        assert json.load(fh)["partition_by"] == ["p"]

    payload = str(tmp_path / "payload")
    publish_dir(payload, lambda d: _df(spark, 6, "b").write.parquet(d))

    old = str(tmp_path / "old")
    publish(_df(spark, 6, "c"), old)
    mpath = os.path.join(old, "v=1", COMMITTED)
    with open(mpath) as fh:
        marker = json.load(fh)
    assert marker["partition_by"] == []
    del marker["partition_by"]
    with open(mpath, "w") as fh:
        json.dump(marker, fh)

    for root in (part, payload, old):
        assert _version_schema(root, 1) is None, root
        df, planning_jobs = job_count(lambda: read_published(spark, root))
        assert planning_jobs == 1, root
        assert df.columns == spark.read.parquet(current_path(root)).columns
        assert df.count() == 6
    assert read_published(spark, part).columns == ["k", "tag", "p"]
