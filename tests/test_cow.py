"""Copy-on-write manifest publish (catalog/cow.py) + the cow rollup
refresh (operators/incremental.py::maintain_published_rollup_cow):
partition reuse across versions, manifest pruning, reference-aware
vacuum, retraction repair."""

from __future__ import annotations

import os

import pytest

from pyspark.sql import functions as F

from spectrify_spark.catalog.cow import (
    cow_partitions,
    cow_referenced_versions,
    publish_cow_update,
    read_published_cow,
    vacuum_cow,
)
from spectrify_spark.catalog.publish import current_version
from spectrify_spark.operators.incremental import (
    finalize_rollup,
    maintain_published_rollup_cow,
    read_rollup_cow,
    recompute_partitions_cow,
    rollup_delta,
)

SPECS = {
    "n": ("count", None),
    "total": ("sum", "v"),
    "lo": ("min", "v"),
    "hi": ("max", "v"),
}


def _rows(spark, data):
    return spark.createDataFrame(data, "k string, v bigint")


def _content(df):
    return {tuple(r) for r in df.collect()}


def test_cow_update_reuses_unchanged_partitions(spark, tmp_path):
    """The point of the format: v2 rewrites ONLY partition b; a's
    files keep living in v=1 and the v2 manifest references them —
    verified on the manifest AND on disk (v=2 holds no a-dir)."""
    root = str(tmp_path / "ds")
    d1 = _rows(spark, [("a", 1), ("a", 2), ("b", 5)])
    v1 = publish_cow_update(spark, root, d1, "k")
    assert v1 == 1
    assert _content(read_published_cow(spark, root)) == _content(d1)

    d2 = _rows(spark, [("b", 6), ("b", 7)])  # full new content of b
    v2 = publish_cow_update(spark, root, d2, "k")
    assert v2 == 2
    got = _content(read_published_cow(spark, root))
    assert got == {("a", 1), ("a", 2), ("b", 6), ("b", 7)}
    # a still served from v=1 (manifest reference, not a copy)
    assert cow_referenced_versions(spark, root) == {1, 2}
    v2_dirs = os.listdir(os.path.join(root, "v=2"))
    assert sum(1 for d in v2_dirs if d.startswith("__p=")) == 1
    # time travel: v1 content intact through its own manifest
    assert _content(
        read_published_cow(spark, root, version=1)
    ) == _content(d1)
    # manifest-level partition pruning
    assert _content(
        read_published_cow(spark, root, partitions=["a"])
    ) == {("a", 1), ("a", 2)}
    assert cow_partitions(spark, root) == ["a", "b"]


def test_cow_drop_partitions_and_empty_read(spark, tmp_path):
    root = str(tmp_path / "ds")
    publish_cow_update(spark, root, _rows(spark, [("a", 1), ("b", 2)]), "k")
    publish_cow_update(spark, root, None, "k", drop_partitions=["a"])
    assert _content(read_published_cow(spark, root)) == {("b", 2)}
    assert cow_partitions(spark, root) == ["b"]
    # dropping the rest yields an empty frame in the recorded schema
    publish_cow_update(spark, root, None, "k", drop_partitions=["b"])
    out = read_published_cow(spark, root)
    assert out.count() == 0 and out.columns == ["k", "v"]
    with pytest.raises(ValueError, match="nothing to do"):
        publish_cow_update(spark, root, None, "k")
    with pytest.raises(ValueError, match="partitioned by"):
        publish_cow_update(
            spark, root, _rows(spark, [("a", 1)]).withColumnRenamed("k", "z"),
            "z",
        )


def test_vacuum_cow_protects_referenced_versions(spark, tmp_path):
    """A data version referenced by a retained manifest survives the
    keep window; once newer manifests stop referencing it, the next
    vacuum reclaims it."""
    root = str(tmp_path / "ds")
    publish_cow_update(
        spark, root, _rows(spark, [("a", 1), ("b", 2)]), "k",
        keep_versions=9,
    )
    for i in range(3, 6):  # v2..v4 rewrite only b
        publish_cow_update(
            spark, root, _rows(spark, [("b", i)]), "k", keep_versions=9
        )
    assert current_version(root) == 4
    removed = vacuum_cow(root, keep_versions=2, spark=spark)
    # v1 holds partition a, referenced by EVERY retained manifest —
    # it must survive; v2 is unreferenced and outside the window
    assert 1 not in removed and 2 in removed
    got = _content(read_published_cow(spark, root))
    assert got == {("a", 1), ("b", 5)}
    # retire a: later manifests stop referencing v1, vacuum reclaims
    publish_cow_update(
        spark, root, _rows(spark, [("a", 9)]), "k", keep_versions=9
    )
    publish_cow_update(
        spark, root, _rows(spark, [("b", 9)]), "k", keep_versions=9
    )
    removed2 = vacuum_cow(root, keep_versions=2, spark=spark)
    assert 1 in removed2
    assert _content(read_published_cow(spark, root)) == {
        ("a", 9),
        ("b", 9),
    }


def test_cow_rollup_refresh_touches_only_delta_partitions(spark, tmp_path):
    """The scale property: refresh 2's delta touches only partition b,
    so v=2 writes only b's dir and the read equals the one-shot
    aggregate over both deltas."""
    root = str(tmp_path / "ds")
    d1 = _rows(spark, [("a", 1), ("a", 5), ("b", 7)])
    d2 = _rows(spark, [("b", 3), ("b", None)])
    maintain_published_rollup_cow(spark, root, d1, ["k"], SPECS)
    maintain_published_rollup_cow(spark, root, d2, ["k"], SPECS)
    v2_dirs = os.listdir(os.path.join(root, "v=2"))
    assert sum(1 for d in v2_dirs if d.startswith("__p=")) == 1
    got = _content(read_rollup_cow(spark, root, ["k"], SPECS))
    want = _content(
        finalize_rollup(
            rollup_delta(d1.unionByName(d2), ["k"], SPECS), ["k"], SPECS
        )
    )
    assert got == want
    # manifest-pruned single-partition read
    assert _content(
        read_rollup_cow(spark, root, ["k"], SPECS, partitions=["a"])
    ) == {t for t in want if t[0] == "a"}


def test_cow_rollup_multikey_partition_col(spark, tmp_path):
    """part_col may be a coarser key than the full group tuple: groups
    sharing a partition merge correctly, and part_col must be one of
    the keys."""
    root = str(tmp_path / "ds")
    df1 = spark.createDataFrame(
        [("a", "x", 1), ("a", "y", 2), ("b", "x", 3)],
        "k string, sub string, v bigint",
    )
    df2 = spark.createDataFrame(
        [("a", "x", 10)], "k string, sub string, v bigint"
    )
    keys = ["k", "sub"]
    maintain_published_rollup_cow(
        spark, root, df1, keys, SPECS, part_col="k"
    )
    maintain_published_rollup_cow(
        spark, root, df2, keys, SPECS, part_col="k"
    )
    got = _content(read_rollup_cow(spark, root, keys, SPECS))
    want = _content(
        finalize_rollup(
            rollup_delta(df1.unionByName(df2), keys, SPECS), keys, SPECS
        )
    )
    assert got == want
    with pytest.raises(ValueError, match="must be one"):
        maintain_published_rollup_cow(
            spark, root, df2, keys, SPECS, part_col="v"
        )


def test_recompute_partitions_cow(spark, tmp_path):
    """Retraction repair: only the touched partition is rewritten; an
    untouched group SHARING that partition is carried into the rewrite;
    a fully-retracted partition is dropped from the manifest."""
    root = str(tmp_path / "ds")
    base0 = spark.createDataFrame(
        [
            ("p1", "g1", 1),
            ("p1", "g1", 5),
            ("p1", "g2", 7),
            ("p2", "g3", 4),
            ("gone", "g4", 9),
        ],
        "p string, g string, v bigint",
    )
    keys = ["p", "g"]
    maintain_published_rollup_cow(
        spark, root, base0, keys, SPECS, part_col="p"
    )
    # retract one of g1's rows and ALL of gone's rows
    base1 = base0.filter(
        ~((F.col("g") == "g1") & (F.col("v") == 5))
        & (F.col("p") != "gone")
    )
    touched = spark.createDataFrame(
        [("p1", "g1"), ("gone", "g4")], "p string, g string"
    )
    recompute_partitions_cow(
        spark, root, base1, touched, keys, SPECS, part_col="p"
    )
    got = _content(read_rollup_cow(spark, root, keys, SPECS))
    want = _content(
        finalize_rollup(rollup_delta(base1, keys, SPECS), keys, SPECS)
    )
    assert got == want
    assert cow_partitions(spark, root) == ["p1", "p2"]
    # g2 (untouched, same partition as g1) survived the rewrite
    assert any(t[1] == "g2" for t in got)


def test_cow_update_explicit_touched_matches_discovery(spark, tmp_path):
    """touched= (r17 opt round: callers that already know the distinct
    part values skip the discovery action, so the updates plan runs
    once) must land byte-identical state to the discovery path — and a
    WRONG touched set must abort BEFORE the pointer flips, both ways
    (a missing value would silently lose its rows; an extra value
    would publish a manifest entry with no directory behind it)."""
    root_a = str(tmp_path / "disc")
    root_b = str(tmp_path / "expl")
    d1 = _rows(spark, [("a", 1), ("b", 5)])
    d2 = _rows(spark, [("b", 6), ("c", 9)])
    publish_cow_update(spark, root_a, d1, "k")
    publish_cow_update(spark, root_a, d2, "k")
    publish_cow_update(spark, root_b, d1, "k", touched=["a", "b"])
    publish_cow_update(spark, root_b, d2, "k", touched=["b", "c"])
    assert _content(read_published_cow(spark, root_a)) == _content(
        read_published_cow(spark, root_b)
    )
    assert cow_partitions(spark, root_a) == cow_partitions(spark, root_b)

    # missing value: c's rows would be stranded under __p=null
    with pytest.raises(ValueError, match="written-but-undeclared"):
        publish_cow_update(
            spark, root_b, _rows(spark, [("b", 7), ("c", 8)]), "k",
            touched=["b"],
        )
    # extra value: manifest entry with no directory behind it
    with pytest.raises(ValueError, match="declared-but-unwritten"):
        publish_cow_update(
            spark, root_b, _rows(spark, [("b", 7)]), "k",
            touched=["b", "z"],
        )
    # both aborts happened before the flip: the dataset still reads as
    # the last good publish
    assert current_version(root_b) == 2
    assert _content(read_published_cow(spark, root_b)) == {
        ("a", 1), ("b", 6), ("c", 9),
    }


def test_read_published_cow_takes_manifest_schema(spark, tmp_path, job_count):
    """The cow readers scan with the manifest's recorded schema: no
    footer-inference job while the DataFrame is built, the schema
    inference would report, and the same rows."""
    from spectrify_spark.catalog.cow import _enc_part, cow_partition_versions

    root = str(tmp_path / "cow")
    publish_cow_update(spark, root, _rows(spark, [("a", 1), ("b", 2)]), "k")
    publish_cow_update(spark, root, _rows(spark, [("b", 5), ("c", 3)]), "k")

    df, planning_jobs = job_count(lambda: read_published_cow(spark, root))
    assert planning_jobs == 0
    dirs = [
        str(tmp_path / "cow" / f"v={v}" / f"__p={_enc_part(p)}")
        for p, v in sorted(cow_partition_versions(spark, root).items())
    ]
    inferred = spark.read.parquet(*dirs)
    assert df.schema == inferred.schema
    assert sorted(df.collect()) == sorted(inferred.collect())
    assert sorted(df.collect()) == [("a", 1), ("b", 5), ("c", 3)]
    pruned, planning_jobs = job_count(
        lambda: read_published_cow(spark, root, partitions=["b"])
    )
    assert planning_jobs == 0 and [tuple(r) for r in pruned.collect()] == [("b", 5)]

    rroot = str(tmp_path / "rollup")
    delta = _rows(spark, [("a", 1), ("a", 4), ("b", 2)])
    maintain_published_rollup_cow(spark, rroot, delta, ["k"], SPECS)
    maintain_published_rollup_cow(spark, rroot, delta, ["k"], SPECS)
    view, planning_jobs = job_count(
        lambda: read_rollup_cow(spark, rroot, ["k"], SPECS)
    )
    assert planning_jobs == 0
    assert {r.k: r.n for r in view.collect()} == {"a": 4, "b": 2}
