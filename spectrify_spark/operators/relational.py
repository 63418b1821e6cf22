"""Relational operator library — the declared query surface (SURVEY §2B
[enabled] rows): the queries the reference's pipeline exists to enable
on the SQL engines it feeds, implemented natively.

Each operator is a DataFrame -> DataFrame function; Catalyst handles
pushdown/pruning/join selection, so the functions stay declarative.
Scale notes are inline where a choice matters at 100 TB.
"""

from __future__ import annotations

from collections.abc import Sequence

from pyspark.sql import Column, DataFrame, Window
from pyspark.sql import functions as F


def scan_project(df: DataFrame, columns: Sequence[str]) -> DataFrame:
    """Projection — Catalyst prunes the parquet scan to ReadSchema of
    exactly these columns (verified via .explain in tests)."""
    return df.select(*columns)


def filter_range(df: DataFrame, col: str, lo, hi) -> DataFrame:
    """Half-open range predicate [lo, hi) — the reference's documented
    date-bounded export pattern (reference examples/weekly_partitions.py:85-87);
    pushes into the scan as PushedFilters."""
    return df.filter((F.col(col) >= F.lit(lo)) & (F.col(col) < F.lit(hi)))


def equi_join(
    left: DataFrame,
    right: DataFrame,
    on,
    how: str = "inner",
    broadcast_right: bool = False,
) -> DataFrame:
    """Equi-join; ``broadcast_right=True`` hints a map-side join for a
    small dimension (no shuffle of the fact table — at 100 TB the
    difference between a broadcast and a sort-merge join on the fact is
    the whole job)."""
    r = F.broadcast(right) if broadcast_right else right
    return left.join(r, on=on, how=how)


def semi_join(left: DataFrame, right: DataFrame, on) -> DataFrame:
    """EXISTS — left rows with a match; never duplicates left rows."""
    return left.join(right, on=on, how="left_semi")


def anti_join(left: DataFrame, right: DataFrame, on) -> DataFrame:
    """NOT EXISTS — left rows with no match."""
    return left.join(right, on=on, how="left_anti")


def hash_agg(
    df: DataFrame, keys: Sequence[str], aggs: dict[str, Column]
) -> DataFrame:
    """Grouped aggregation; Spark's HashAggregate does map-side partial
    aggregation before the shuffle, so the shuffle carries one row per
    (partition, key) — the scalable shape for high-cardinality keys."""
    return df.groupBy(*keys).agg(*[c.alias(n) for n, c in aggs.items()])


def rollup_agg(
    df: DataFrame, keys: Sequence[str], aggs: dict[str, Column]
) -> DataFrame:
    return df.rollup(*keys).agg(*[c.alias(n) for n, c in aggs.items()])


def cube_agg(
    df: DataFrame, keys: Sequence[str], aggs: dict[str, Column]
) -> DataFrame:
    return df.cube(*keys).agg(*[c.alias(n) for n, c in aggs.items()])


def window_rank(
    df: DataFrame,
    partition_by: Sequence[str],
    order_by: Sequence[Column],
    rank_col: str = "rnk",
    method: str = "row_number",
    top_n: int | None = None,
) -> DataFrame:
    """Ranking window; with ``top_n`` it is the scalable per-group top-k
    (each group ranks inside its shuffle partition — no global sort)."""
    w = Window.partitionBy(*partition_by).orderBy(*order_by)
    fn = {"row_number": F.row_number, "rank": F.rank, "dense_rank": F.dense_rank}[
        method
    ]
    out = df.withColumn(rank_col, fn().over(w))
    if top_n is not None:
        out = out.filter(F.col(rank_col) <= top_n)
    return out


def topk(df: DataFrame, order_by: Sequence[Column], k: int) -> DataFrame:
    """Global top-k.  Spark compiles orderBy().limit(k) to TakeOrderedAndProject
    — a per-partition heap + driver merge, NOT a full sort; this is the
    only safe global-order operator at 100 TB.  ``order_by`` must include
    a unique tie-break column for deterministic results."""
    return df.orderBy(*order_by).limit(k)


def global_row_numbers(
    df: DataFrame,
    order_by: Sequence[Column],
    id_col: str = "row_id",
    num_partitions: int | None = None,
    persist: bool = False,
) -> DataFrame:
    """Global 1-based row numbers in ``order_by`` order WITHOUT a global
    single-partition sort — the distributed zipWithIndex pattern:

    range-partition on the sort key -> per-partition row_number ->
    add each partition's cumulative offset (a tiny broadcast).

    A bare ``row_number() OVER (ORDER BY ...)`` collapses all data into
    one task; this shape keeps the sort fully parallel and is the only
    viable global numbering at 100 TB.  ``order_by`` must be a total
    order (include a unique tie-break) for deterministic ids.

    The range-partitioned frame is consumed twice (offsets branch +
    numbered output); ``persist=True`` caches it so the upstream
    subtree (and its exchanges) is computed once instead of per branch
    — worth it whenever ``df`` is itself shuffle-derived.  The caller
    owns cleanup (``spark.catalog.clearCache()`` in long sessions).
    """
    ranged = (
        df.repartitionByRange(num_partitions, *order_by)
        if num_partitions
        else df.repartitionByRange(*order_by)
    )
    if persist:
        ranged = ranged.persist()
    with_pid = ranged.withColumn("__pid", F.spark_partition_id())
    offsets = (
        with_pid.groupBy("__pid")
        .agg(F.count(F.lit(1)).alias("__n"))
        .withColumn(
            "__offset",
            F.sum("__n").over(
                Window.orderBy("__pid").rowsBetween(Window.unboundedPreceding, -1)
            ),
        )
        .select("__pid", F.coalesce("__offset", F.lit(0)).alias("__offset"))
    )
    w = Window.partitionBy("__pid").orderBy(*order_by)
    return (
        with_pid.join(F.broadcast(offsets), "__pid")
        .withColumn(id_col, (F.row_number().over(w) + F.col("__offset")).cast("bigint"))
        .drop("__pid", "__offset")
    )


def point_in_interval_join(
    points: DataFrame,
    intervals: DataFrame,
    point_key: str,
    interval_key: str,
    ts_col: str,
    start_col: str,
    end_col: str,
    bucket: str = "hour",
) -> DataFrame:
    """Range (point-in-interval) join without the O(|points| x
    |intervals-per-key|) nested-loop blowup: explode each interval into
    the time buckets it covers, equi-join points on (key, bucket), then
    refine with the exact BETWEEN predicate.

    Join cost is O(points + interval-bucket-spans + matches); pick
    ``bucket`` so typical intervals span a handful of buckets.  This is
    the standard bucketized range-join decomposition (an equi-join
    Catalyst can shuffle-partition properly).
    """
    b_interval = F.explode(
        F.sequence(
            F.date_trunc(bucket, F.col(start_col)),
            F.date_trunc(bucket, F.col(end_col)),
            F.expr(f"INTERVAL 1 {bucket.upper()}"),
        )
    )
    iv = intervals.withColumn("__bucket", b_interval)
    pt = points.withColumn("__bucket", F.date_trunc(bucket, F.col(ts_col)))
    return (
        pt.join(
            iv,
            (pt[point_key] == iv[interval_key]) & (pt["__bucket"] == iv["__bucket"]),
        )
        .filter((F.col(ts_col) >= F.col(start_col)) & (F.col(ts_col) <= F.col(end_col)))
        .drop("__bucket")
    )


def set_union(a: DataFrame, b: DataFrame, distinct: bool = True) -> DataFrame:
    out = a.unionByName(b)
    return out.distinct() if distinct else out


def set_intersect(a: DataFrame, b: DataFrame) -> DataFrame:
    return a.intersect(b)


def set_except(a: DataFrame, b: DataFrame, keep_duplicates: bool = False) -> DataFrame:
    """EXCEPT (distinct semantics) or EXCEPT ALL."""
    return a.exceptAll(b) if keep_duplicates else a.subtract(b)


def scd2_history(
    df: DataFrame,
    key: str,
    ts: str,
    tie_break: str,
    attrs: Sequence[str] = (),
) -> DataFrame:
    """Type-2 slowly-changing-dimension history from a change log.

    Each row of ``df`` is one observed version of entity ``key`` at time
    ``ts``; the output adds ``valid_from`` / ``valid_to`` (exclusive,
    NULL = open) and ``is_current`` via ``lead()`` over the per-key
    timeline — the standard CDC-to-warehouse materialization.  One
    window shuffle on ``key``; no self-join (the naive SQL pairs every
    version with its successor via an inequality join, which is
    quadratic per key).  ``tie_break`` orders same-timestamp versions
    deterministically (CDC logs carry an LSN or sequence number).
    """
    from pyspark.sql import Window

    w = Window.partitionBy(key).orderBy(ts, tie_break)
    return df.select(
        key,
        tie_break,
        *attrs,
        F.col(ts).alias("valid_from"),
        F.lead(ts).over(w).alias("valid_to"),
        F.lead(ts).over(w).isNull().alias("is_current"),
    )


def scd2_lookup(
    facts: DataFrame,
    history: DataFrame,
    fact_key: str,
    fact_ts: str,
    attrs: Sequence[str],
    hist_key: str = None,
    valid_from: str = "valid_from",
    tie_break: str = None,
) -> DataFrame:
    """POINT-IN-TIME join: each fact row picks up the dimension
    attributes of the version that was valid AT the fact's timestamp —
    the feature-store correctness primitive (training features must
    reflect the state the model would have seen, not today's state).

    Contract: among versions with ``valid_from <= fact_ts``, the one
    with the greatest ``(valid_from, tie_break)`` wins (a version
    starting exactly at the fact timestamp IS visible — inclusive
    start, matching :func:`scd2_history`'s ``[valid_from, valid_to)``
    intervals); facts before the first version get NULL attrs.

    Scale shape: the naive formulation is a per-fact inequality join
    (quadratic per key); this is the union + single key-shuffle + one
    ordered window pass the as-of family uses — version rows sort
    before fact rows at equal timestamps, and a ``last(ignorenulls)``
    over a STRUCT of the attrs fills each fact from ONE version row
    (per-column fills could mix versions when an attr is legitimately
    NULL in some version).
    """
    hist_key = hist_key or fact_key
    tb = (
        F.col(tie_break)
        if tie_break
        else F.lit(0)
    )
    l = facts.select(
        F.col(fact_key).alias("__k"),
        F.col(fact_ts).alias("__t"),
        F.lit(1).alias("__src"),
        F.lit(None).cast("long").alias("__tb"),
        *facts.columns,
        F.lit(None)
        .cast(
            "struct<"
            + ",".join(
                f"{a}:{history.schema[a].dataType.simpleString()}"
                for a in attrs
            )
            + ">"
        )
        .alias("__v"),
    )
    r = history.select(
        F.col(hist_key).alias("__k"),
        F.col(valid_from).alias("__t"),
        F.lit(0).alias("__src"),
        tb.cast("long").alias("__tb"),
        *[
            F.lit(None).cast(facts.schema[c].dataType).alias(c)
            for c in facts.columns
        ],
        F.struct(*[F.col(a) for a in attrs]).alias("__v"),
    )
    u = l.unionByName(r)
    w = (
        Window.partitionBy("__k")
        .orderBy("__t", "__src", F.col("__tb").asc_nulls_first())
        .rowsBetween(Window.unboundedPreceding, 0)
    )
    filled = F.last(
        F.when(F.col("__src") == 0, F.col("__v")), ignorenulls=True
    ).over(w)
    return (
        u.withColumn("__f", filled)
        .filter(F.col("__src") == 1)
        .select(*facts.columns, *[F.col(f"__f.{a}").alias(a) for a in attrs])
    )


def merge_changes(
    base: DataFrame,
    changes: DataFrame,
    key: str,
    op_col: str = "op",
    delete_op: str = "D",
    allowed_ops: tuple[str, ...] = ("I", "U", "D"),
) -> DataFrame:
    """MERGE-style CDC apply: produce the next snapshot of ``base``
    given a changeset whose ``op_col`` marks deletes (``delete_op``);
    every non-delete change row replaces/inserts its key's row (upsert).

    ``changes`` must carry all of ``base``'s columns (plus ``op_col``)
    and at most one row per key — the latest-wins compaction
    (``dedup.dedup_exact`` with a descending tie-break) runs upstream
    if the raw log has more;
    ``streaming.cdc.stream_apply_changes_published`` wires both for
    the continuous case.

    A change row whose ``op_col`` is NULL or outside ``allowed_ops``
    fails the job (``raise_error`` inside the upsert projection) rather
    than silently vanishing: its key would be anti-joined out of the
    snapshot while ``op != delete_op`` evaluates to NULL and drops it
    from the upserts — malformed input must not become quiet data loss.
    The check is a map-side expression on the (small) changeset only;
    the snapshot path is untouched.

    Scale shape: one LEFT ANTI equi-join of the snapshot against the
    changeset keys plus a union — the changeset in a CDC batch is
    orders of magnitude smaller than the snapshot, so Catalyst
    broadcasts it and the snapshot never shuffles; contrast with the
    textbook full-outer-join MERGE, which shuffles both sides.
    """
    missing = set(base.columns) - set(changes.columns)
    if missing:
        raise ValueError(f"changes missing base columns: {sorted(missing)}")
    if delete_op not in allowed_ops:
        raise ValueError(f"delete_op {delete_op!r} not in allowed_ops {allowed_ops}")
    op_ok = F.col(op_col).isin(*allowed_ops)
    checked = changes.withColumn(
        op_col,
        F.when(op_ok, F.col(op_col)).otherwise(
            F.raise_error(
                F.concat(
                    F.lit(f"merge_changes: invalid {op_col}="),
                    F.coalesce(F.col(op_col).cast("string"), F.lit("NULL")),
                    F.lit(f" (allowed: {','.join(allowed_ops)})"),
                )
            )
        ),
    )
    keys = checked.select(key)
    survived = base.join(keys, on=key, how="left_anti")
    upserts = checked.filter(F.col(op_col) != delete_op).select(*base.columns)
    return survived.unionByName(upserts)


def table_diff(
    left: DataFrame,
    right: DataFrame,
    key: str,
    compare_cols: list[str] | None = None,
) -> DataFrame:
    """Row-level diff of two keyed tables: one row per key present in
    either side, with ``diff_status`` in {added, removed, changed} —
    unchanged keys are filtered out, so the output is proportional to
    the drift, not the tables.  ``added``/``removed`` are relative to
    ``left`` -> ``right`` (added = only in right).

    The reconciliation primitive for CDC pipelines: after
    ``merge_changes`` / ``streaming.cdc.stream_apply_changes_published``,
    diff the snapshot against the source-of-truth extract and expect
    zero rows.  NULLs compare null-safely (NULL == NULL is unchanged).

    Scale shape: one full-outer equi-join on the key — both sides
    shuffle once on their key (co-partitioned); the status projection
    and filter are map-side.  For a small right side AQE broadcasts it.
    """
    compare_cols = compare_cols or [c for c in left.columns if c != key]
    missing_l = set(compare_cols) - set(left.columns)
    missing_r = set(compare_cols) - set(right.columns)
    if missing_l or missing_r:
        raise ValueError(
            f"compare_cols missing: left={sorted(missing_l)} right={sorted(missing_r)}"
        )
    # presence is detected via an explicit per-side sentinel: a compare
    # column being NULL cannot distinguish "absent row" from "row whose
    # values are all NULL"
    l_tag = left.select(key, *compare_cols).withColumn("__l", F.lit(True)).alias("l")
    r_tag = right.select(key, *compare_cols).withColumn("__r", F.lit(True)).alias("r")
    joined = l_tag.join(r_tag, on=key, how="full_outer")
    same = F.lit(True)
    for c in compare_cols:
        same = same & F.col(f"l.{c}").eqNullSafe(F.col(f"r.{c}"))
    status = (
        F.when(F.col("__l").isNull(), F.lit("added"))
        .when(F.col("__r").isNull(), F.lit("removed"))
        .when(~same, F.lit("changed"))
    )
    out_cols = [F.col(key), status.alias("diff_status")]
    for c in compare_cols:
        out_cols.append(F.col(f"l.{c}").alias(f"{c}_left"))
        out_cols.append(F.col(f"r.{c}").alias(f"{c}_right"))
    return joined.select(*out_cols).filter(F.col("diff_status").isNotNull())


def diff_summary(
    left: DataFrame,
    right: DataFrame,
    key: str,
    compare_cols: list[str] | None = None,
) -> DataFrame:
    """(diff_status, n) counts over ``table_diff`` — the cheap
    reconciliation gate (expect an empty frame when tables agree)."""
    return (
        table_diff(left, right, key, compare_cols)
        .groupBy("diff_status")
        .agg(F.count(F.lit(1)).alias("n"))
    )
