"""Incremental aggregate-view maintenance — merge delta partials into
a published rollup instead of rescanning the corpus.

The reference pipeline's only refresh story is full recompute
(reference spectrify/transform.py: every run re-exports and re-converts
the whole table).  At 100 TB the derived views a training pipeline
keeps next to its corpus — per-language doc counts, per-day token
totals, per-source quality stats — cannot be rebuilt by rescanning
everything each time a delta lands.  The classical answer is
incremental view maintenance restricted to MERGEABLE aggregates under
inserts.  Two families qualify:

- SELF-MAINTAINABLE scalars whose partial IS the presentation value:
  ``count``/``sum`` merge by addition, ``min``/``max`` by min/max —
  the same algebra Spark's own partial aggregation (map-side combine)
  exploits inside a single job, lifted across jobs;
- MERGEABLE-SKETCH measures whose partial is a composable state
  (r17 — VERDICT r16 item 2): ``avg`` persists (sum, count) partials
  and derives the quotient at read time (hand-rolling avg as a scalar
  silently breaks merging — avg of avgs is not avg); ``approx_distinct``
  persists a DataSketches THETA sketch (union-mergeable; EXACT below
  2^lgk distinct values, the same algebra ``operators/sketches.py``
  proved merge == recompute for in r8); ``quantile`` persists a KLL
  sketch (``kll_merge_agg_double`` is lossless in the KLL error
  model).  "Unique doc ids per source per day" and "p95 doc length
  per shard" thereby stay delta-maintainable too.

The published rollup therefore stores the PARTIAL schema (hidden
``<out>__sum``/``<out>__cnt`` columns for avg, binary sketch columns
for distinct/quantile); :func:`finalize_rollup` (or the
:func:`read_rollup` convenience) derives the presentation columns.  A
delta refresh costs one scan of the DELTA plus a shuffle of |keys| +
|delta-groups| pre-aggregated rows.  The corpus is never rescanned.

INSERT-ONLY by construction: deletes and updates are not
self-maintainable for min/max (removing the current minimum requires
knowing the runner-up, which only the base data holds), not for the
sketches (theta/KLL states are insert-only), and would silently
corrupt sums.  Pipelines with retractions route them through
:func:`recompute_partitions` (r17 — VERDICT r16 item 5): only the
key-groups a retraction touched are recomputed from base data, every
other group passes through from the published rollup untouched — the
refresh cost is |touched partitions of base| + |groups|, still never
a full corpus rescan.

Composes with the versioned publish (catalog/publish.py): each refresh
lands as the next immutable rollup version behind the atomic pointer
flip, so readers never see a half-merged view and the previous rollup
stays time-travelable.  All plain DataFrame ops — no UDFs, one shuffle
per refresh, key-partitioned.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, functions as F

#: scalar kinds whose partial column IS the presentation column
_SELF_KINDS = {
    "count": (lambda c: F.count(F.lit(1)), F.sum),
    "sum": (lambda c: F.sum(c), F.sum),
    "min": (lambda c: F.min(c), F.min),
    "max": (lambda c: F.max(c), F.max),
}

#: sketch/composite kinds (partial schema != presentation schema)
_COMPOSITE_KINDS = ("avg", "approx_distinct", "quantile")

#: default DataSketches parameters (the sketches.py defaults: theta is
#: EXACT below 2^14 distincts; KLL k=800 ~ 0.5% rank error)
_DEFAULT_LGK = 14
_DEFAULT_KLL_K = 800


def _kind_of(spec) -> str:
    return spec[0]


def _src_of(spec):
    return spec[1] if len(spec) > 1 else None


def _param_of(spec, default):
    return spec[2] if len(spec) > 2 else default


def _check_specs(specs: dict) -> None:
    if not specs:
        raise ValueError("incremental rollup needs at least one measure")
    for out, spec in specs.items():
        kind = _kind_of(spec)
        if kind not in _SELF_KINDS and kind not in _COMPOSITE_KINDS:
            raise ValueError(
                f"measure {out!r}: unknown kind {kind!r} (mergeable kinds: "
                f"{sorted((*_SELF_KINDS, *_COMPOSITE_KINDS))})"
            )
        if kind != "count" and _src_of(spec) is None:
            raise ValueError(
                f"measure {out!r}: kind {kind!r} needs a source column"
            )
        if kind == "quantile":
            p = _param_of(spec, None)
            if p is None or not (0.0 < float(p) < 1.0):
                raise ValueError(
                    f"measure {out!r}: quantile needs spec "
                    "('quantile', src_col, p) with 0 < p < 1"
                )


def partial_columns(specs: dict) -> list[str]:
    """The PERSISTED rollup columns a spec set produces — what
    :func:`rollup_delta` emits and :func:`merge_rollup` aligns on.
    Self-maintainable kinds persist under their output name; ``avg``
    persists hidden ``<out>__sum``/``<out>__cnt``; the sketch kinds
    persist their binary state under the output name."""
    cols: list[str] = []
    for out, spec in specs.items():
        if _kind_of(spec) == "avg":
            cols += [f"{out}__sum", f"{out}__cnt"]
        else:
            cols.append(out)
    return cols


def _stable_sum(df: DataFrame, src: str):
    """``sum(src)`` cast to its own merge FIXED POINT for decimals:
    Spark widens sum(decimal(p,s)) to decimal(p+10,s) capped at 38, so
    without the cast each published refresh would carry a WIDER sum
    type than the last (v1 decimal(28,2), v2 decimal(38,2), ...) —
    tripping the r17 publish schema-evolution contract and surprising
    downstream readers.  Landing decimal(38,s) from the first version
    makes every refresh schema-identical.  Non-decimal sums are
    already stable (long/double)."""
    from pyspark.sql.types import DecimalType

    agg = F.sum(src)
    try:
        dt = df.schema[src].dataType
    except KeyError:
        return agg
    if isinstance(dt, DecimalType):
        return agg.cast(DecimalType(38, dt.scale))
    return agg


def _partial_aggs(specs: dict, delta: DataFrame) -> list:
    aggs = []
    for out, spec in specs.items():
        kind, src = _kind_of(spec), _src_of(spec)
        if kind == "sum":
            aggs.append(_stable_sum(delta, src).alias(out))
        elif kind in _SELF_KINDS:
            aggs.append(_SELF_KINDS[kind][0](src).alias(out))
        elif kind == "avg":
            # SQL AVG semantics: NULLs ignored (count of non-NULL src)
            aggs.append(_stable_sum(delta, src).alias(f"{out}__sum"))
            aggs.append(F.count(src).alias(f"{out}__cnt"))
        elif kind == "approx_distinct":
            lgk = int(_param_of(spec, _DEFAULT_LGK))
            aggs.append(
                F.expr(f"theta_sketch_agg(`{src}`, {lgk})").alias(out)
            )
        else:  # quantile
            aggs.append(
                F.expr(
                    f"kll_sketch_agg_double(CAST(`{src}` AS DOUBLE), "
                    f"{_DEFAULT_KLL_K})"
                ).alias(out)
            )
    return aggs


def _merge_aggs(specs: dict) -> list:
    aggs = []
    for out, spec in specs.items():
        kind = _kind_of(spec)
        if kind in _SELF_KINDS:
            aggs.append(_SELF_KINDS[kind][1](F.col(out)).alias(out))
        elif kind == "avg":
            aggs.append(F.sum(F.col(f"{out}__sum")).alias(f"{out}__sum"))
            aggs.append(F.sum(F.col(f"{out}__cnt")).alias(f"{out}__cnt"))
        elif kind == "approx_distinct":
            # the union must carry the sketches' own lgk: a
            # smaller-k union downsamples exact-mode sketches into
            # estimation mode, silently losing the below-2^lgk
            # exactness the spec's lgk bought
            lgk = int(_param_of(spec, _DEFAULT_LGK))
            aggs.append(
                F.expr(f"theta_union_agg(`{out}`, {lgk})").alias(out)
            )
        else:  # quantile
            aggs.append(F.expr(f"kll_merge_agg_double(`{out}`)").alias(out))
    return aggs


def rollup_delta(
    delta: DataFrame, keys: list[str], specs: dict
) -> DataFrame:
    """Partial aggregate of a DELTA in the rollup's PERSISTED schema:
    one row per key group, :func:`partial_columns` per measure.
    ``specs`` maps output column -> ``(kind, source_col)`` with kind in
    count|sum|min|max|avg|approx_distinct, or ``('quantile', src, p)``
    (source_col is ignored for count; approx_distinct optionally takes
    a third lgk element).  This is the map-side-combine shape: the
    delta is scanned once and reduced to its group cardinality before
    anything else happens."""
    _check_specs(specs)
    return delta.groupBy(*keys).agg(*_partial_aggs(specs, delta))


def merge_rollup(
    base: DataFrame, delta_partial: DataFrame, keys: list[str], specs: dict
) -> DataFrame:
    """Merge a delta's partial aggregate into an existing rollup —
    count/sum add, min/max fold, avg's (sum, cnt) pair adds, theta
    sketches union, KLL sketches merge — producing the rollup over
    base ∪ delta WITHOUT touching base's underlying rows.  Both inputs
    carry the PERSISTED rollup schema (keys + :func:`partial_columns`,
    e.g. from :func:`rollup_delta`).  One shuffle over |base-groups| +
    |delta-groups| pre-aggregated rows; new keys appear, absent keys
    pass through."""
    _check_specs(specs)
    cols = [*keys, *partial_columns(specs)]
    combined = base.select(*cols).unionByName(delta_partial.select(*cols))
    return combined.groupBy(*keys).agg(*_merge_aggs(specs))


def finalize_rollup(
    partial: DataFrame, keys: list[str], specs: dict
) -> DataFrame:
    """Derive the PRESENTATION columns from a persisted partial rollup:
    self-maintainable measures pass through; ``avg`` becomes
    sum/count as double (NULL when the group held no non-NULL values —
    SQL AVG semantics); ``approx_distinct`` becomes the rounded theta
    estimate as bigint (exact below 2^lgk distincts); ``quantile``
    becomes the KLL quantile estimate at the spec's probability (NULL
    for a group whose sketch is empty).  Pure row-local projection —
    no shuffle, safe to run per read."""
    _check_specs(specs)
    cols: list = [F.col(k) for k in keys]
    for out, spec in specs.items():
        kind = _kind_of(spec)
        if kind in _SELF_KINDS:
            cols.append(F.col(out))
        elif kind == "avg":
            s, c = F.col(f"{out}__sum"), F.col(f"{out}__cnt")
            cols.append(
                F.when(c > 0, s.cast("double") / c).alias(out)
            )
        elif kind == "approx_distinct":
            cols.append(
                F.round(F.expr(f"theta_sketch_estimate(`{out}`)"))
                .cast("bigint")
                .alias(out)
            )
        else:  # quantile
            p = float(_param_of(spec, None))
            est = F.expr(
                f"kll_sketch_get_quantile_double(`{out}`, "
                f"CAST({p!r} AS DOUBLE))"
            )
            # an all-NULL group leaves an EMPTY sketch whose quantile
            # read throws — SQL quantile semantics say NULL there, so
            # gate on the sketch's own (lossless) stream length
            n = F.expr(f"kll_sketch_get_n_double(`{out}`)")
            cols.append(
                F.when(F.col(out).isNotNull() & (n > 0), est).alias(out)
            )
    return partial.select(*cols)


def maintain_published_rollup(
    spark,
    root: str,
    delta: DataFrame,
    keys: list[str],
    specs: dict,
    keep_versions: int = 2,
) -> int:
    """Refresh the published rollup at ``root`` with ``delta``'s rows:
    the delta partial-aggregates (:func:`rollup_delta`), merges into
    the currently pointed rollup version (:func:`merge_rollup`; a
    first refresh publishes the partial itself), and the result lands
    as the next immutable version behind the atomic pointer flip.
    Cost per refresh: one delta scan + one |groups|-sized shuffle —
    independent of the accumulated corpus size, the property that
    makes a 100 TB corpus's derived views maintainable at all.
    Returns the new version number.  Insert-only (module contract;
    retractions go through :func:`recompute_partitions`); single
    writer per rollup root, like every publish.  Read back through
    :func:`read_rollup` (the persisted schema is the PARTIAL one)."""
    from spectrify_spark.catalog.publish import (
        current_version,
        publish,
        read_published,
    )

    part = rollup_delta(delta, keys, specs)
    if current_version(root, spark) is not None:
        part = merge_rollup(
            read_published(spark, root), part, keys, specs
        )
    return publish(part, root, keep_versions=keep_versions)


def read_rollup(
    spark, root: str, keys: list[str], specs: dict, version: int | None = None
) -> DataFrame:
    """Presentation read of a published rollup:
    ``finalize_rollup(read_published(...))`` — derives avg quotients
    and sketch estimates from the persisted partial schema."""
    from spectrify_spark.catalog.publish import read_published

    return finalize_rollup(
        read_published(spark, root, version=version), keys, specs
    )


def maintain_published_rollup_cow(
    spark,
    root: str,
    delta: DataFrame,
    keys: list[str],
    specs: dict,
    part_col: "str | None" = None,
    keep_versions: int = 2,
) -> int:
    """COPY-ON-WRITE refresh (r17 — catalog/cow.py): the plain
    :func:`maintain_published_rollup` rewrites the WHOLE |groups|-row
    rollup per refresh — fine for bounded group counts, but a view
    with millions of groups (per-doc stats, per-(source, day) tallies)
    pays |groups| read+write for a delta that touched one day.  Here
    the rollup is a cow dataset partitioned by ``part_col`` (one of
    the keys, default the first): a refresh

    - partial-aggregates the DELTA (|delta| scan),
    - reads ONLY the touched partitions of the rollup — manifest-level
      pruning, untouched partitions' files are never listed,
    - merges and rewrites ONLY those partitions; the new manifest
      carries every other partition over by reference.

    Refresh cost is |delta| + |touched partitions| in both read and
    write — independent of total group count, the stronger form of
    the corpus-never-rescanned property.  Retention is the
    publish-tail vacuum, which keeps every data version a retained
    manifest references, however old.  Read back with :func:`read_rollup_cow`.
    Insert-only, single writer, as the plain form."""
    from spectrify_spark.catalog.cow import (
        publish_cow_update,
        read_published_cow,
    )
    from spectrify_spark.catalog.publish import current_version

    _check_specs(specs)
    pc = part_col or keys[0]
    if pc not in keys:
        raise ValueError(
            f"maintain_published_rollup_cow: part_col {pc!r} must be "
            f"one of the rollup keys {keys} (each group row must "
            "belong to exactly one partition)"
        )
    part = rollup_delta(delta, keys, specs)
    # the touched-partition discovery runs over the DELTA PARTIAL (one
    # delta scan + agg) and is passed through to the publish, so the
    # full merged plan (delta agg + base read + merge shuffle) executes
    # exactly once — in the write (r17 opt round; previously
    # publish_cow_update re-discovered the set from the merged frame,
    # a second full execution per refresh).  The merged frame's part
    # values equal the delta's: merge reads ONLY the touched base
    # partitions, and every touched value has a delta group.
    touched = [r[0] for r in part.select(pc).distinct().collect()]
    if current_version(root, spark) is not None:
        base_touched = read_published_cow(
            spark, root, partitions=touched
        ).select(*keys, *partial_columns(specs))
        part = merge_rollup(base_touched, part, keys, specs)
    return publish_cow_update(
        spark, root, part, pc, keep_versions=keep_versions, touched=touched
    )


def read_rollup_cow(
    spark,
    root: str,
    keys: list[str],
    specs: dict,
    version: int | None = None,
    partitions: "list | None" = None,
) -> DataFrame:
    """Presentation read of a copy-on-write rollup — finalize over the
    manifest-resolved scan; ``partitions=`` prunes at the manifest."""
    from spectrify_spark.catalog.cow import read_published_cow

    return finalize_rollup(
        read_published_cow(
            spark, root, version=version, partitions=partitions
        ),
        keys,
        specs,
    )


def recompute_partitions_cow(
    spark,
    root: str,
    base: DataFrame,
    touched: DataFrame,
    keys: list[str],
    specs: dict,
    part_col: "str | None" = None,
    keep_versions: int = 2,
) -> int:
    """Retraction repair for a copy-on-write rollup: recompute the
    key-groups a retraction touched from the corrected ``base``
    (broadcast semi-join) and rewrite ONLY the cow partitions those
    groups live in — groups sharing a touched partition but not
    themselves touched are carried into the rewritten partition from
    the current rollup (partition-local anti-join); every other
    partition carries over by manifest reference.  A partition whose
    groups were ALL retracted is dropped from the manifest.  Cost:
    |touched slice of base| + |touched partitions| — the cow analog
    of :func:`recompute_partitions`."""
    from spectrify_spark.catalog.cow import (
        publish_cow_update,
        read_published_cow,
    )

    _check_specs(specs)
    pc = part_col or keys[0]
    if pc not in keys:
        raise ValueError(
            f"recompute_partitions_cow: part_col {pc!r} must be one "
            f"of the rollup keys {keys}"
        )
    tkeys = F.broadcast(touched.select(*keys).distinct())
    fresh = rollup_delta(base.join(tkeys, keys, "semi"), keys, specs)
    # the partitions being rewritten: those containing ANY touched
    # group — from the touched KEYS (not fresh: a fully-retracted
    # group produces no fresh row but its partition still needs the
    # rewrite that removes it)
    tparts = [
        r[0]
        for r in touched.select(pc).distinct().collect()
    ]
    kept_in_tparts = (
        read_published_cow(spark, root, partitions=tparts)
        .select(*keys, *partial_columns(specs))
        .join(tkeys, keys, "anti")
    )
    updates = kept_in_tparts.unionByName(fresh)
    # partitions whose rewrite came out EMPTY must be dropped, not
    # carried over (their old files still hold the retracted groups);
    # every updates row lives in tparts by construction
    live = {r[0] for r in updates.select(pc).distinct().collect()}
    drops = [v for v in tparts if v not in live]
    return publish_cow_update(
        spark,
        root,
        updates if live else None,
        pc,
        drop_partitions=drops,
        keep_versions=keep_versions,
        # the live set IS the distinct part values of updates — pass it
        # through so the repair plan executes once more (the write),
        # not twice (r17 opt round)
        touched=list(live),
    )


def recompute_partitions(
    spark,
    root: str,
    base: DataFrame,
    touched: DataFrame,
    keys: list[str],
    specs: dict,
    keep_versions: int = 2,
) -> int:
    """The RETRACTION escape hatch of the insert-only contract (r17 —
    VERDICT r16 item 5): after deletes/updates have been applied to the
    base data, refresh the published rollup by recomputing ONLY the
    key-groups a retraction touched and passing every other group
    through from the published rollup untouched.

    ``base`` is the corrected base data (post-delete); ``touched``
    holds the key tuples whose groups a retraction affected (any frame
    with the key columns — duplicates fine, it is distinct'd and
    broadcast).  The refresh is:

    - recompute: ``rollup_delta`` over ``base`` SEMI-joined to the
      touched keys — the broadcast semi-join predicate reaches the
      base scan, so a base partitioned/clustered by the keys reads
      only the touched partitions, never the full corpus;
    - passthrough: the published rollup ANTI-joined to the touched
      keys (|groups| rows, broadcast anti-join — no shuffle of the
      rollup);
    - union lands as the next version behind the atomic pointer flip.

    A group whose rows were ALL retracted disappears (its key is in
    ``touched``, its recompute produces no row) — matching a full
    recompute.  Cost: |touched slice of base| + |groups|, independent
    of untouched corpus size.  Returns the new version number."""
    from spectrify_spark.catalog.publish import publish, read_published

    _check_specs(specs)
    tkeys = F.broadcast(touched.select(*keys).distinct())
    fresh = rollup_delta(base.join(tkeys, keys, "semi"), keys, specs)
    kept = (
        read_published(spark, root)
        .select(*keys, *partial_columns(specs))
        .join(tkeys, keys, "anti")
    )
    return publish(
        kept.unionByName(fresh), root, keep_versions=keep_versions
    )
