"""Similarity search over embedding columns (array<float>).

- ``brute_force_topk``: exact cosine top-k of one query vector against
  the corpus — a single narrow scan + TakeOrderedAndProject (per-
  partition heap), no shuffle of the corpus.  The correctness baseline.
- ``knn_join_topk``: exact top-k for MANY query vectors (broadcast the
  queries, per-partition score, window top-k per query).
- ``ivf_topk``: IVF-style approximate search — assign corpus vectors to
  the nearest of C centroids once (cheap, broadcastable), then probe
  only the ``nprobe`` centroids closest to the query.  Scan cost drops
  ~C/nprobe-fold; this is the 100 TB path (the assignment is a one-off
  materialized column, queries touch a partition-pruned slice).

Centroids are chosen deterministically from the corpus (seeded sample)
— a k-means refinement would slot in without changing the query path.
"""

from __future__ import annotations

import logging

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from spectrify_spark.functions.vectors import cosine, dot, norm
from spectrify_spark.obs import span

logger = logging.getLogger(__name__)


def brute_force_topk(
    df: DataFrame,
    query_vec: list[float],
    k: int = 10,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    round_digits: int | None = 4,
) -> DataFrame:
    """Exact cosine top-k against a literal query vector."""
    from spectrify_spark.operators._params import _fast_lit

    q = _fast_lit([float(x) for x in query_vec])
    scored = df.select(
        F.col(id_col),
        (F.round(cosine(F.col(vec_col), q), round_digits)
         if round_digits is not None
         else cosine(F.col(vec_col), q)).alias("cos"),
    )
    return scored.orderBy(F.col("cos").desc(), F.col(id_col)).limit(k)


def knn_join_topk(
    corpus: DataFrame,
    queries: DataFrame,
    k: int = 10,
    corpus_id: str = "vec_id",
    corpus_vec: str = "embedding",
    query_id: str = "q_id",
    query_vec: str = "q_vec",
) -> DataFrame:
    """Exact top-k neighbours for each query vector.

    Broadcast the (small) query set against the corpus — the corpus
    never shuffles; the window top-k shuffles only (corpus x queries)
    scored rows, already filtered to per-partition candidates by the
    rank window.
    """
    from pyspark.sql import Window

    scored = corpus.crossJoin(F.broadcast(queries)).select(
        F.col(query_id),
        F.col(corpus_id),
        cosine(F.col(corpus_vec), F.col(query_vec)).alias("cos"),
    )
    w = Window.partitionBy(query_id).orderBy(F.col("cos").desc(), F.col(corpus_id))
    return (
        scored.withColumn("rnk", F.row_number().over(w))
        .filter(F.col("rnk") <= k)
        .drop("rnk")
    )


def choose_centroids(
    df: DataFrame, n_centroids: int, id_col: str = "vec_id", vec_col: str = "embedding"
) -> list[tuple[int, list[float]]]:
    """Deterministic centroid seed: the n vectors whose ids hash
    lowest under xxhash64 — a fixed pseudo-random sample with no RNG
    state.  Driver-side list of size n_centroids (tiny)."""
    rows = (
        df.select(id_col, vec_col)
        .orderBy(F.xxhash64(F.col(id_col)))
        .limit(n_centroids)
        .collect()
    )
    return [(i, list(r[vec_col])) for i, r in enumerate(rows)]


def _cnorm(vec: list[float]) -> float:
    import math

    return math.sqrt(sum(float(x) * float(x) for x in vec)) or 1.0


def _centroid_frame(spark, centroids: list[tuple[int, list[float]]]) -> DataFrame:
    """The centroid set as a ONE-ROW parameter table — columns
    ``__cmat`` (array<array<double>>), ``__cnorms``, ``__cids`` — to
    be broadcast-cross-joined onto the vector table.

    This is the de-literalization the r9 verdict asked for: the
    previous shape inlined every centroid as its own
    ``F.array(*[F.lit(x) ...])`` subtree (and ``F.lit`` on a Python
    list only hides the same per-element expansion), so a
    production-sized IVF (>= 1k centroids x >= 256 dims) put hundreds
    of thousands of expression nodes into every assignment plan and
    Catalyst analysis time grew linearly in n_centroids x dim.  As a
    broadcast ROW the matrix is data, not expression tree: the plan
    carries three attribute references regardless of size, the
    broadcast ships once per executor, and planning time is flat in
    both parameters (PERF_NOTES r10, "IVF centroid assignment
    de-literalized")."""
    if not centroids:
        raise ValueError("need at least one centroid")
    row = (
        [[float(x) for x in vec] for _, vec in centroids],
        [_cnorm(vec) for _, vec in centroids],
        [int(cid) for cid, _ in centroids],
    )
    # Arrow LocalRelation (r18): the parallelize path scheduled a
    # defaultParallelism-task stage per broadcast build of this one row
    from spectrify_spark.operators._params import local_rows_frame

    return local_rows_frame(
        spark,
        [row],
        "__cmat array<array<double>>, __cnorms array<double>, __cids array<int>",
    )


def _attach_centroids(
    df: DataFrame, centroids: list[tuple[int, list[float]]]
) -> DataFrame:
    """Attach ``__cmat`` / ``__cnorms`` / ``__cids`` to every row of
    ``df`` — the consumer-side twin of :func:`_centroid_frame` (r18 opt
    round): small centroid sets fold in as LITERAL columns (Catalyst
    constant-folds the array into one plan object — no join node and no
    broadcast-exchange build job per consuming action), while
    production-sized models past ``_params.PARAM_LITERAL_MAX`` keep the
    broadcast one-row-frame crossJoin exactly as before (the r9
    plan-size concern in :func:`_centroid_frame` stays honored).
    Downstream expressions are unchanged either way."""
    if not centroids:
        raise ValueError("need at least one centroid")
    from spectrify_spark.operators._params import attach_params

    row = {
        "__cmat": [[float(x) for x in vec] for _, vec in centroids],
        "__cnorms": [_cnorm(vec) for _, vec in centroids],
        "__cids": [int(cid) for cid, _ in centroids],
    }
    return attach_params(
        df,
        row,
        "__cmat array<array<double>>, __cnorms array<double>, __cids array<int>",
    )


def assign_partitions(
    df: DataFrame,
    centroids: list[tuple[int, list[float]]],
    vec_col: str = "embedding",
    out_col: str = "ivf_cell",
) -> DataFrame:
    """Materialize the IVF cell id (argmax cosine over centroids) as a
    column.  At scale: write this table partitioned by ``ivf_cell`` so
    probes become partition-pruned scans.

    Implementation notes: the centroid set enters the plan as a
    one-row broadcast parameter table (:func:`_centroid_frame`) —
    planning time stays flat in C×dim — and the argmax is a
    row-local ``aggregate`` fold over centroid indices keeping the
    best (score, index) seen — strict ``>`` keeps the FIRST index on
    exact score ties, matching the previous array_position-of-max
    rule bit-for-bit (pinned by the unchanged q_sim_ivf /
    q_cluster_kmeans oracle hashes).  No join, no shuffle, no Python:
    the fold runs JVM-side per row.  Each score is bound once as a
    lambda variable (the ``transform``-of-singleton trick, cf.
    ``vectors.normalize``) so the O(d) dot product is not evaluated
    twice per centroid.  The score is ``dot(v, c) / ||c||`` with
    centroid norms precomputed driver-side, NOT the full cosine:
    argmax is invariant to the positive common factor ``1/||v||``,
    and the full form recomputes the O(d) ``norm(v)`` aggregate once
    per centroid per row — measured ~2x on the Lloyd's/IVF
    assignment pass."""
    cmat, cnorms, cids = F.col("__cmat"), F.col("__cnorms"), F.col("__cids")
    best = F.aggregate(
        F.sequence(F.lit(1), F.lit(len(centroids))),
        F.struct(
            F.lit(float("-inf")).alias("s"), F.lit(0).alias("i")
        ),
        lambda acc, i: F.element_at(
            F.transform(
                F.array(
                    dot(F.col(vec_col), F.element_at(cmat, i))
                    / F.element_at(cnorms, i)
                ),
                lambda s: F.when(
                    s > acc["s"], F.struct(s.alias("s"), i.alias("i"))
                ).otherwise(acc),
            ),
            1,
        ),
    )
    # i stays 0 only when every score is NULL (null/empty vector) —
    # surface NULL, the same result the array_position form produced
    cell = F.when(best["i"] > 0, F.element_at(cids, best["i"]))
    return (
        _attach_centroids(df, centroids)
        .withColumn(out_col, cell)
        .drop("__cmat", "__cnorms", "__cids")
    )


@span("ivf", "probe")
def ivf_topk(
    assigned: DataFrame,
    centroids: list[tuple[int, list[float]]],
    query_vec: list[float],
    k: int = 10,
    nprobe: int = 4,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    cell_col: str = "ivf_cell",
) -> DataFrame:
    """Approximate cosine top-k: score only the nprobe nearest cells."""
    import math

    qn = math.sqrt(sum(x * x for x in query_vec)) or 1.0
    def cos_py(vec: list[float]) -> float:
        d = sum(a * b for a, b in zip(query_vec, vec))
        n = math.sqrt(sum(b * b for b in vec)) or 1.0
        return d / (qn * n)

    probe_cells = [
        cid for cid, _ in sorted(centroids, key=lambda cv: -cos_py(cv[1]))[:nprobe]
    ]
    from spectrify_spark.operators._params import _fast_lit

    q = _fast_lit([float(x) for x in query_vec])
    return (
        assigned.filter(F.col(cell_col).isin(probe_cells))
        .select(F.col(id_col), cosine(F.col(vec_col), q).alias("cos"))
        .orderBy(F.col("cos").desc(), F.col(id_col))
        .limit(k)
    )


def kmeans_refine(
    df: DataFrame,
    centroids: list[tuple[int, list[float]]],
    iters: int = 2,
    vec_col: str = "embedding",
    persist: bool = True,
) -> list[tuple[int, list[float]]]:
    """Lloyd's iterations over the seeded centroids — the iterative-
    algorithm pattern: per-iteration work is fully distributed (assign =
    argmax expression; recompute = posexplode + groupBy mean); only the
    C x dim centroid table (tiny, the model parameters) returns to the
    driver between iterations.  Deterministic given the seeded input.

    ``persist=True`` caches the vector table across the iterations so
    each Lloyd's round reads the scan+decode once, then UNPERSISTS
    before returning: every action here happens inside the loop, and a
    cache left behind would substitute a full-width InMemoryRelation
    for other queries' pruned, filter-pushed parquet scans (measured
    1.6x SLOWER on q_dedup_embed when the kmeans cache lingered).
    A single-iteration refine runs exactly ONE action, so there is
    nothing to reuse — the cache would be written once and thrown
    away; persist is skipped regardless of the flag (r17 opt round).
    """
    persist = persist and iters > 1
    if persist:
        df = df.persist()
    current = centroids
    # per-dimension means as dim explicit avg() columns over ONE
    # groupBy (r17 opt round): the previous posexplode shape amplified
    # every row dim× BEFORE its (cell, pos) shuffle and then needed a
    # SECOND shuffle to reassemble vectors — guide §2.3 (shuffle fewer
    # bytes) twice over.  dim comes from the seed centroids (Lloyd's
    # only ever refines same-dimension vectors); per-element avg over
    # the same row set is the same statistic.
    dim = len(centroids[0][1]) if centroids else 0
    for _ in range(iters):
        assigned = assign_partitions(df, current, vec_col=vec_col, out_col="__cell")
        vec = F.col(vec_col)
        means = (
            assigned.groupBy("__cell")
            .agg(
                *[
                    # F.get (0-based) stays NULL-safe for ragged/short
                    # vectors under ANSI mode, matching the posexplode
                    # form's skip-missing-positions behavior
                    F.avg(F.get(vec, i).cast("double")).alias(f"__m{i}")
                    for i in range(dim)
                ]
            )
            .collect()
        )
        by_cell = {
            r["__cell"]: [float(r[f"__m{i}"]) for i in range(dim)]
            for r in means
            if all(r[f"__m{i}"] is not None for i in range(dim))
        }
        # empty cells keep their previous centroid
        current = [(cid, by_cell.get(cid, vec0)) for cid, vec0 in current]
    if persist:
        df.unpersist()
    return current


@span("ivf", "probe_join")
def ivf_knn_join(
    assigned: DataFrame,
    centroids: list[tuple[int, list[float]]],
    queries: DataFrame,
    k: int = 10,
    nprobe: int = 4,
    corpus_id: str = "vec_id",
    corpus_vec: str = "embedding",
    query_id: str = "q_id",
    query_vec: str = "q_vec",
    cell_col: str = "ivf_cell",
) -> DataFrame:
    """Approximate top-k for MANY query vectors over an IVF-assigned
    corpus — the batched probe path (single-query twin: ``ivf_topk``).

    Probe-cell selection is an expression, not a driver loop: each
    query scores the C centroid literals into an array of (score, cell)
    structs, array_sorts it, and explodes the top ``nprobe`` cells.
    The resulting (query, cell) probe table is |Q| x nprobe rows —
    broadcast it against the corpus so the corpus NEVER shuffles; only
    the probed slices are scored, and the per-query top-k window runs
    over candidate rows already cut down by the cell filter.  At scale
    pair with ``write_ivf_index``: the cell equi-join becomes a
    partition-pruned scan of nprobe/C of the data.
    """
    from pyspark.sql import Window

    # NEGATED score + list-position tiebreak in the sort key: ascending
    # array_sort on (-s, i) puts the best cell first AND breaks exact
    # score ties toward the FIRST-LISTED centroid — exactly matching
    # assign_partitions' argmax-fold rule, so a corpus vector's own
    # cell is never skipped when nprobe covers the tied cells (the old
    # reverse(array_sort) on (s, c) broke ties toward the higher cell
    # id and could).  Centroids enter as the one-row broadcast
    # parameter table (_centroid_frame) and the struct array is built
    # by a row-local transform over indices — plan size flat in
    # n_centroids x dim.
    cmat, cnorms, cids = F.col("__cmat"), F.col("__cnorms"), F.col("__cids")
    pairs = F.transform(
        F.sequence(F.lit(1), F.lit(len(centroids))),
        lambda i: F.struct(
            (
                -dot(F.col(query_vec), F.element_at(cmat, i))
                / F.element_at(cnorms, i)
            ).alias("neg_s"),
            (i - F.lit(1)).alias("i"),
            F.element_at(cids, i).alias("c"),
        ),
    )
    top_cells = F.slice(F.array_sort(pairs), 1, nprobe)
    probe = _attach_centroids(queries, centroids).select(
        query_id,
        query_vec,
        F.explode(F.transform(top_cells, lambda x: x["c"])).alias("__cell"),
    )
    cand = assigned.join(
        F.broadcast(probe), F.col(cell_col) == F.col("__cell")
    ).select(
        query_id,
        F.col(corpus_id),
        cosine(F.col(corpus_vec), F.col(query_vec)).alias("cos"),
    )
    w = Window.partitionBy(query_id).orderBy(
        F.col("cos").desc(), F.col(corpus_id)
    )
    return (
        cand.withColumn("__rk", F.row_number().over(w))
        .filter(F.col("__rk") <= k)
        .drop("__rk")
    )


def cluster_sizes(
    df: DataFrame,
    centroids: list[tuple[int, list[float]]],
    vec_col: str = "embedding",
) -> DataFrame:
    """(ivf_cell, n_vecs) under the given centroids — the balance
    diagnostic for probe planning."""
    return (
        assign_partitions(df, centroids, vec_col=vec_col)
        .groupBy("ivf_cell")
        .agg(F.count(F.lit(1)).alias("n_vecs"))
    )


#: sidecar recording the centroids (and cell column) an IVF index was
#: built with — underscore prefix keeps it invisible to parquet scans
_IVF_SIDECAR = "_spectrify_ivf_centroids.json"


@span("ivf", "build")
def write_ivf_index(
    df: DataFrame,
    centroids: list[tuple[int, list[float]]],
    path: str,
    vec_col: str = "embedding",
    cell_col: str = "ivf_cell",
    mode: str = "overwrite",
    stats_sample_fraction: "float | None" = None,
) -> None:
    """Materialize the IVF index as parquet partitioned by cell.

    This is the 100 TB read path: a probe with ``nprobe`` cells becomes
    a partition-pruned scan touching nprobe/C of the data — the filter
    on the partition column never reads the other cells' files.

    The centroids are persisted as a JSON sidecar, making the index
    self-contained: probes and appends load them back with
    :func:`read_ivf_centroids` instead of trusting the caller to keep
    the exact driver-side list around (centroids that drift from the
    build silently probe the wrong cells).  ``mode="append"`` assigns
    a delta WITH THE INDEX'S OWN stored centroids required to match
    (raises otherwise) and adds its rows into the same partition grid
    — the daily-increment path; fold per-append files periodically
    with :func:`compact_ivf_index`."""
    if mode not in ("overwrite", "append"):
        raise ValueError(f"write_ivf_index: mode must be overwrite|append, got {mode!r}")
    spark = df.sparkSession
    payload = {
        "cell_col": cell_col,
        "centroids": [[int(cid), [float(x) for x in vec]] for cid, vec in centroids],
    }
    stored = None
    if mode == "append":
        stored = _read_ivf_sidecar(spark, path)
        if stored is None:
            # legacy (pre-sidecar) index: appending would guess the
            # cell assignment and then stamp a sidecar claiming the
            # caller's centroids were the build's — probes would prune
            # the wrong cells silently.  Refuse.
            raise ValueError(
                f"write_ivf_index: no centroid sidecar at {path!r} — cannot "
                "verify the append matches the index's build centroids. "
                "Rebuild with mode='overwrite'."
            )
        # compare the MODEL keys only: the sidecar additionally carries
        # build-time drift stats (r15) which an append must carry
        # through, not match against
        if {k: stored.get(k) for k in payload} != payload:
            raise ValueError(
                "write_ivf_index: append centroids/cell_col differ from the "
                "index's stored build (sidecar in "
                f"{path}); rows assigned under different centroids land in "
                "the wrong cells and probes miss them — use "
                "append_ivf_index() to assign with the stored centroids"
            )
    assigned = assign_partitions(df, centroids, vec_col, cell_col)
    from spectrify_spark.operators._sidecar import partitioned_read_schema

    if mode == "overwrite":
        # build-time read-back schema (r17 opt round): probes and the
        # stats read-back skip schema inference
        payload["read_schema"] = partitioned_read_schema(
            assigned.schema, [cell_col]
        )
    elif stored is not None and stored.get("read_schema"):
        # appends with extra/altered columns would make the stored
        # schema stale only if the model check above let them through;
        # it compares cell_col+centroids, so carry the schema forward
        payload["read_schema"] = stored["read_schema"]
    # build-time drift baselines (r14 VERDICT item 1) ride the write
    # action itself via observe() when the model fits the literal
    # budget (r18 opt round — the read-back scan of the just-written
    # index disappears; guide §1.2).  The sampled arm and oversized
    # models keep the read-back (exact counts from footers, bounded
    # residual scan), and a failed metric decode degrades to it too.
    handle = None
    if mode == "overwrite" and stats_sample_fraction is None:
        try:
            handle, assigned = _observed_build_stats(
                assigned, centroids, F.col(vec_col), cell_col
            )
        except Exception:  # noqa: BLE001 — keep the read-back arm
            handle = None
    assigned.write.mode(mode).partitionBy(cell_col).parquet(path)
    if mode == "overwrite":
        stats = None
        if handle is not None:
            try:
                sizes, r_n, resid = _observed_stats_result(handle)
                stats = {
                    "vec_col": vec_col,
                    "build_n": int(sum(sizes.values())),
                    "build_cell_sizes": sizes,
                    "build_residual_mean": resid,
                    "residual_n": r_n,
                    "residual_estimator": "raw_vectors",
                }
            except Exception:  # noqa: BLE001 — degrade to read-back
                stats = None
        if stats is None:
            # appends leave the stats untouched (the increment path
            # stays one pass); ann_drift_report compares the CURRENT
            # index state against these at diagnosis time
            stats = _build_stats(
                spark, path, centroids, vec_col, cell_col,
                sample_fraction=stats_sample_fraction, payload=payload,
            )
        payload["stats"] = stats
    else:
        payload["stats"] = stored.get("stats")
    # atomic replace: append mode re-stamps the sidecar on a LIVE
    # index dir — a concurrent probe must never read partial JSON
    from spectrify_spark.operators._sidecar import replace_json_sidecar

    replace_json_sidecar(spark, path, _IVF_SIDECAR, payload)


def _read_ivf_sidecar(spark, path: str):
    from spectrify_spark.operators._sidecar import read_json_sidecar

    return read_json_sidecar(spark, path, _IVF_SIDECAR)


def read_ivf_centroids(spark, path: str) -> list[tuple[int, list[float]]] | None:
    """Centroids an IVF index was built with (from the sidecar), as the
    same ``[(cid, vec), ...]`` shape every probe function takes;
    ``None`` for a pre-sidecar (legacy) index."""
    payload = _read_ivf_sidecar(spark, path)
    if payload is None:
        return None
    return [(int(cid), [float(x) for x in vec]) for cid, vec in payload["centroids"]]


def _index_cell_counts(spark, path: str, cell_col: str, payload=None) -> dict:
    """Per-cell row counts of a materialized index — near-free: the
    cell is the PARTITION column, so the values come from directory
    names and the counts from parquet footers (no data pages read).
    Bounded C-row collect (C = centroid count).  ``payload`` (the
    model sidecar) lets the read skip schema inference."""
    from spectrify_spark.operators._sidecar import read_indexed_parquet

    rows = (
        read_indexed_parquet(spark, path, payload)
        .groupBy(cell_col)
        .agg(F.count(F.lit(1)).alias("n"))
        .collect()
    )
    return {
        str(int(r[cell_col])): int(r["n"])
        for r in rows
        if r[cell_col] is not None
    }


def _index_residual_mean(
    spark,
    path: str,
    centroids: list[tuple[int, list[float]]],
    vec_col: str,
    cell_col: str,
    sample_fraction: "float | None" = None,
    payload=None,
) -> "tuple[int, float | None]":
    """(n, mean(1 - cos(vec, assigned centroid))) over a materialized
    IVF index that stores raw vectors — the residual drift baseline.
    One narrow (cell, vec) scan; ``sample_fraction`` bounds the scan
    for diagnosis-time calls on huge indexes (seeded, so repeated
    reports are comparable).  Returns (0, None) when the index is
    empty or holds only NULL-assigned rows."""
    from spectrify_spark.operators._sidecar import read_indexed_parquet

    idx = read_indexed_parquet(spark, path, payload).select(cell_col, vec_col)
    return _frame_residual_mean(
        idx, centroids, vec_col, cell_col, sample_fraction=sample_fraction
    )


def _frame_residual_mean(
    idx: DataFrame,
    centroids: list[tuple[int, list[float]]],
    vec_col: str,
    cell_col: str,
    sample_fraction: "float | None" = None,
) -> "tuple[int, float | None]":
    """The frame-based core of :func:`_index_residual_mean`, shared
    with the compressed-family estimators (quantization.py reconstructs
    vectors from PQ/SQ codes and hands the frame here — r15 VERDICT
    item 5): mean(1 - cos(vec, assigned centroid)) over whatever
    ``vec_col`` the caller supplies."""
    if sample_fraction is not None:
        idx = idx.sample(fraction=sample_fraction, seed=7)
    row = (
        _attach_centroids(idx, centroids)
        .withColumn(
            "__ci", F.array_position(F.col("__cids"), F.col(cell_col))
        )
        .filter(F.col("__ci") > 0)
        .select(
            (
                F.lit(1.0)
                - cosine(
                    F.col(vec_col),
                    F.element_at(F.col("__cmat"), F.col("__ci").cast("int")),
                )
            ).alias("__resid")
        )
        .agg(
            F.count(F.lit(1)).alias("n"), F.avg("__resid").alias("mean")
        )
        .first()
    )
    n = int(row["n"] or 0)
    return n, (float(row["mean"]) if n else None)


def _counts_and_residual(
    idx: DataFrame,
    centroids: list[tuple[int, list[float]]],
    vec_col: str,
    cell_col: str,
) -> "tuple[dict, int, float | None]":
    """Per-cell row counts AND the mean assigned-cell cosine residual
    in ONE grouped aggregation (r17 opt round — guide §1.2: the
    previous shape scanned the freshly written index twice, once for
    footer counts and once for the residual; the two are answers to
    the same C-group aggregate).  Returns ``(sizes, residual_n,
    residual_mean)`` with exactly the semantics of
    :func:`_index_cell_counts` + :func:`_frame_residual_mean`: sizes
    count every row per non-NULL cell, ``residual_n`` counts rows
    whose cell is in the centroid set, and the mean is over non-NULL
    residuals (driver-side sum of the C per-cell partial sums — the
    association change is far below the 1e-9 fresh-ratio gate)."""
    rows = (
        _attach_centroids(idx, centroids)
        .withColumn(
            "__ci", F.array_position(F.col("__cids"), F.col(cell_col))
        )
        .select(
            F.col(cell_col),
            F.col("__ci"),
            F.when(
                F.col("__ci") > 0,
                F.lit(1.0)
                - cosine(
                    F.col(vec_col),
                    F.element_at(F.col("__cmat"), F.col("__ci").cast("int")),
                ),
            ).alias("__resid"),
        )
        .groupBy(cell_col)
        .agg(
            F.count(F.lit(1)).alias("__n"),
            F.count(F.when(F.col("__ci") > 0, 1)).alias("__cin"),
            F.sum("__resid").alias("__rs"),
            F.count("__resid").alias("__rn"),
        )
        .collect()
    )
    sizes = {
        str(int(r[cell_col])): int(r["__n"])
        for r in rows
        if r[cell_col] is not None
    }
    r_n = sum(int(r["__cin"]) for r in rows)
    rn = sum(int(r["__rn"]) for r in rows)
    rs = sum(float(r["__rs"]) for r in rows if r["__rs"] is not None)
    return sizes, r_n, (rs / rn if rn else None)


def _observed_build_stats(
    frame: DataFrame,
    centroids: list[tuple[int, list[float]]],
    resid_vec,
    cell_col: str,
):
    """Fold the build-time drift baselines INTO the index write action
    (r18 opt round, guide §1.2): per-cell counts become C conditional
    counts and the residual a global (sum, count) — all legal
    ``observe()`` aggregates — computed while the write scans the rows
    anyway, so the post-write stats read-back disappears entirely.

    Returns ``(handle, frame_with_metrics)``; the caller writes the
    returned frame and decodes with :func:`_observed_stats_result`.
    Returns ``(None, frame)`` when the centroid set exceeds the literal
    budget (production-sized models keep the read-back scan — C
    conditional counts and a C x dim literal don't belong in a plan at
    that size).  Semantics match :func:`_counts_and_residual` on a
    frame produced by ``assign_partitions`` over the same centroids:
    sizes skip NULL cells (count 0 cells are absent, as groupBy rows
    would be), ``r_n`` counts rows whose cell is in the centroid set,
    and the mean is over non-NULL residuals (global double sum instead
    of C per-cell partials — association change only, far below the
    1e-9 drift-ratio gate; only thresholded booleans reach declared
    outputs)."""
    from pyspark.sql import Observation

    from spectrify_spark.operators._params import literal_param

    cmat = literal_param(
        [[float(x) for x in vec] for _, vec in centroids],
        "array<array<double>>",
    )
    cids = literal_param(
        [int(cid) for cid, _ in centroids], "array<int>"
    )
    if cmat is None or cids is None:
        return None, frame
    ci = F.array_position(cids, F.col(cell_col))
    resid = F.when(
        ci > 0,
        F.lit(1.0) - cosine(resid_vec, F.element_at(cmat, ci.cast("int"))),
    )
    exprs = [
        F.count(F.when(ci > 0, 1)).alias("__cin"),
        F.sum(resid).alias("__rs"),
        F.count(resid).alias("__rn"),
    ] + [
        F.count(F.when(F.col(cell_col) == F.lit(int(cid)), 1)).alias(
            f"__n{i}"
        )
        for i, (cid, _) in enumerate(centroids)
    ]
    obs = Observation()
    return (obs, centroids), frame.observe(obs, *exprs)


def _observed_stats_result(handle) -> "tuple[dict, int, float | None]":
    """Decode :func:`_observed_build_stats` metrics into the same
    ``(sizes, residual_n, residual_mean)`` shape as
    :func:`_counts_and_residual`."""
    obs, centroids = handle
    m = obs.get
    sizes = {
        str(int(cid)): int(m[f"__n{i}"])
        for i, (cid, _) in enumerate(centroids)
        if m[f"__n{i}"]
    }
    rn = int(m["__rn"] or 0)
    r_n = int(m["__cin"] or 0)
    return sizes, r_n, (float(m["__rs"]) / rn if rn else None)


def _build_stats(
    spark,
    path: str,
    centroids: list[tuple[int, list[float]]],
    vec_col: str,
    cell_col: str,
    sample_fraction: "float | None" = None,
    payload=None,
) -> dict:
    """Build-time drift baselines stamped into the index sidecar by
    :func:`write_ivf_index` (overwrite mode): total row count, per-cell
    sizes, and the mean assigned-cell cosine residual.  Computed from
    the freshly WRITTEN index so the input plan is not re-evaluated;
    ``sample_fraction`` bounds the residual scan on huge builds (the
    counts stay exact — they are footer-only).  Without sampling both
    baselines come from ONE scan (:func:`_counts_and_residual`); the
    sampled arm keeps the exact-counts/sampled-residual split."""
    from spectrify_spark.operators._sidecar import read_indexed_parquet

    try:
        if sample_fraction is None:
            sizes, n, resid = _counts_and_residual(
                read_indexed_parquet(spark, path, payload).select(
                    cell_col, vec_col
                ),
                centroids,
                vec_col,
                cell_col,
            )
        else:
            sizes = _index_cell_counts(spark, path, cell_col, payload=payload)
            n, resid = _index_residual_mean(
                spark, path, centroids, vec_col, cell_col,
                sample_fraction=sample_fraction, payload=payload,
            )
    except Exception:
        # an EMPTY build writes no parquet files, so the read-back
        # cannot even infer a schema — record no baselines (build_n 0)
        # rather than fail the write; ann_drift_report treats missing
        # baselines conservatively (rebuild_recommended)
        logger.debug(
            "write_ivf_index: stats read-back at %s failed (empty "
            "build?) — recording no drift baselines",
            path,
            exc_info=True,
        )
        return {
            "vec_col": vec_col,
            "build_n": 0,
            "build_cell_sizes": {},
            "build_residual_mean": None,
            "residual_n": 0,
            "residual_estimator": "raw_vectors",
        }
    return {
        "vec_col": vec_col,
        "build_n": int(sum(sizes.values())),
        "build_cell_sizes": sizes,
        "build_residual_mean": resid,
        "residual_n": n,
        "residual_estimator": "raw_vectors",
    }


def ann_drift_report(
    spark,
    path: str,
    max_delta_fraction: float = 0.5,
    max_residual_ratio: float = 1.25,
    max_cell_share: float = 0.5,
    residual_sample_fraction: "float | None" = None,
) -> dict:
    """Post-append drift diagnosis for a frozen-model ANN index (r14
    VERDICT item 1): appends assign new vectors with the BUILD's
    centroids, so probes at nprobe < C degrade as appended data drifts
    from the build distribution — this report tells an operator WHEN
    to fire the full rebuild, with two cheap metrics compared against
    the build-time baselines stamped in the sidecar:

    - ``delta_fraction`` = appended rows / build rows (parquet footer
      counts only — no data read).  Even same-distribution appends
      dilute the centroid fit; the r15 rehearsal
      (BENCH_NOTES.md r15, "post-append ANN recall gate")
      measures recall@10 vs delta fraction, and the default 0.5
      trigger fires before the measured knee.
    - ``max_cell_appended_share`` = the largest single cell's share of
      the appended mass (same footer-count source).  A shifted append
      distribution concentrates into the few centroids nearest the new
      mode — measured on the r15 rehearsal: a constant-offset shift
      sends 100% of appends into ONE cell (share 1.0) where the
      same-distribution append spreads ~1/C (0.17 at C=8) — and a
      hot cell is ALSO the probe-time straggler, so this fires for
      both drift and balance reasons.
    - ``residual_ratio`` = current mean assigned-cell cosine residual
      / build mean — covered by ALL THREE families (r16): plain IVF
      measures it on the stored raw vectors; IVF-PQ/IVF-SQ indexes
      store only codes, so both ends of the ratio use the SAME
      code-reconstruction estimator (PQ codeword concat / SQ cell
      midpoints — ``quantization._compressed_residual_mean``), making
      reconstruction error common-mode; ``residual_estimator`` in the
      report says which estimator produced the numbers.  On clustered
      production embeddings a shifted append raises this sharply; on
      the isotropic test corpus the baseline residual is already ~0.70
      (random vectors are near-orthogonal to every centroid) so the
      ratio moves little (~1.08 measured for a fully-shifted append)
      — which is exactly why the share metric above exists.  Measured
      per-family sensitivity (BENCH_NOTES.md r16,
      clustered corpus, spread-out 6x-noise append that leaves share
      and delta silent): raw IVF and IVF-SQ carry the signal almost
      identically (ratio ~10.8 — SQ's 256-level midpoints track raw
      vectors closely), while IVF-PQ's codeword projection de-noises
      the drift (ratio 1.15-1.23 for K=32-256): for IVF-PQ pass a
      tighter ``max_residual_ratio`` (~1.1) or lean on the count
      tiers.  One narrow (cell, vec-or-code) scan; pass
      ``residual_sample_fraction`` to bound it on huge indexes
      (seeded sample — reports stay comparable).

    ``rebuild_recommended`` is True when either metric crosses its
    threshold, or when the index predates the recorded baselines
    (unmeasurable drift is treated conservatively).  THE REBUILD
    ITSELF should go through the versioned publish so readers never
    see a half-built index::

        from spectrify_spark.catalog.publish import publish_dir
        if ann_drift_report(spark, current_path(root))["rebuild_recommended"]:
            cents = kmeans_refine(corpus, choose_centroids(corpus, C), iters=2)
            publish_dir(root, lambda d: write_ivf_index(corpus, cents, d))

    (reader-safe pointer flip — the q_publish_index pattern).  Works
    against any of the three index families' sidecars; all three carry
    residual baselines (compressed ones since r16 — pre-r16 compressed
    sidecars have ``build_residual_mean: null`` and degrade to the
    count tiers exactly as before)."""
    payload = _read_ivf_sidecar(spark, path)
    if payload is None:
        from spectrify_spark.operators._sidecar import read_json_sidecar

        payload = read_json_sidecar(
            spark, path, "_spectrify_ivfpq_model.json"
        ) or read_json_sidecar(spark, path, "_spectrify_ivfsq_model.json")
    if payload is None:
        raise FileNotFoundError(
            f"ann_drift_report: no index model sidecar at {path!r}"
        )
    cell_col = payload.get("cell_col", "ivf_cell")
    stats = payload.get("stats") or {}
    report: dict = {
        "build_n": stats.get("build_n"),
        "appended_n": None,
        "delta_fraction": None,
        "build_residual_mean": stats.get("build_residual_mean"),
        "current_residual_mean": None,
        "residual_ratio": None,
        "residual_estimator": None,
        "max_cell_appended_share": None,
        "rebuild_recommended": False,
        "reasons": [],
    }
    if not stats or not stats.get("build_n"):
        report["rebuild_recommended"] = True
        report["reasons"].append(
            "no build-time baselines in the sidecar (index predates the "
            "drift stats, or was built empty) — drift is unmeasurable; "
            "rebuild to stamp baselines"
        )
        return report

    # current counts + current residual come from ONE scan when the
    # residual tier will run unsampled (r17 opt round — the report
    # previously made two passes over the index; same merge as the
    # build-time _counts_and_residual, same estimators either way)
    cur_sizes = None
    cur_resid = None
    resid_one_pass = False
    if (
        stats.get("build_residual_mean") is not None
        and residual_sample_fraction is None
    ):
        try:
            if "codebooks" in payload or "mins" in payload:
                from spectrify_spark.operators.quantization import (
                    _compressed_counts_and_residual,
                )

                cur_sizes, _, cur_resid = _compressed_counts_and_residual(
                    spark, path, payload
                )
            else:
                centroids = [
                    (int(cid), [float(x) for x in vec])
                    for cid, vec in payload["centroids"]
                ]
                vc = stats.get("vec_col", "embedding")
                from spectrify_spark.operators._sidecar import (
                    read_indexed_parquet,
                )

                cur_sizes, _, cur_resid = _counts_and_residual(
                    read_indexed_parquet(spark, path, payload).select(
                        cell_col, vc
                    ),
                    centroids,
                    vc,
                    cell_col,
                )
            resid_one_pass = True
        except Exception:
            cur_sizes = None
    if cur_sizes is None:
        cur_sizes = _index_cell_counts(spark, path, cell_col, payload=payload)
    build_sizes = stats.get("build_cell_sizes") or {}
    cur_n = sum(cur_sizes.values())
    appended = cur_n - int(stats["build_n"])
    report["appended_n"] = appended
    report["delta_fraction"] = appended / float(stats["build_n"])
    if appended > 0:
        per_cell = {
            c: cur_sizes.get(c, 0) - int(build_sizes.get(c, 0))
            for c in set(cur_sizes) | set(build_sizes)
        }
        report["max_cell_appended_share"] = max(
            (max(v, 0) for v in per_cell.values()), default=0
        ) / float(appended)
        if report["max_cell_appended_share"] > max_cell_share:
            report["rebuild_recommended"] = True
            report["reasons"].append(
                f"max_cell_appended_share "
                f"{report['max_cell_appended_share']:.3f} > {max_cell_share} "
                "— appended mass concentrates in one cell (distribution "
                "shift, and a probe-time hot cell)"
            )
    if report["delta_fraction"] > max_delta_fraction:
        report["rebuild_recommended"] = True
        report["reasons"].append(
            f"delta_fraction {report['delta_fraction']:.3f} > "
            f"{max_delta_fraction} — appended mass dilutes the frozen "
            "centroid fit"
        )

    # `is not None`, not truthiness (r15 self-review): a legitimate
    # 0.0 baseline — every build vector coincident with its centroid —
    # must not silently disable residual drift detection
    if stats.get("build_residual_mean") is not None:
        if resid_one_pass:
            pass  # cur_resid already measured in the merged scan above
        elif "codebooks" in payload or "mins" in payload:
            # compressed family (IVF-PQ / IVF-SQ, r16): the index
            # stores codes, so current residual uses the SAME
            # code-reconstruction estimator the build baseline was
            # stamped with — reconstruction error is common-mode and
            # cancels in the ratio
            from spectrify_spark.operators.quantization import (
                _compressed_residual_mean,
            )

            _, cur_resid = _compressed_residual_mean(
                spark,
                path,
                payload,
                sample_fraction=residual_sample_fraction,
            )
        else:
            centroids = [
                (int(cid), [float(x) for x in vec])
                for cid, vec in payload["centroids"]
            ]
            _, cur_resid = _index_residual_mean(
                spark,
                path,
                centroids,
                stats.get("vec_col", "embedding"),
                cell_col,
                sample_fraction=residual_sample_fraction,
                payload=payload,
            )
        report["residual_estimator"] = stats.get(
            "residual_estimator", "raw_vectors"
        )
        report["current_residual_mean"] = cur_resid
        if cur_resid is not None:
            base = stats["build_residual_mean"]
            if base > 0:
                ratio = cur_resid / base
            else:
                # zero baseline: ANY nonzero current residual is pure
                # drift — report an infinite ratio so the trigger fires
                ratio = float("inf") if cur_resid > 1e-12 else 1.0
            report["residual_ratio"] = ratio
            if ratio > max_residual_ratio:
                report["rebuild_recommended"] = True
                report["reasons"].append(
                    f"residual_ratio {ratio:.3f} > {max_residual_ratio} — "
                    "appended vectors sit far from their assigned "
                    "centroids (distribution shift)"
                )
    return report


def append_ivf_index(
    df: DataFrame,
    path: str,
    vec_col: str = "embedding",
) -> None:
    """Append a vector delta into an existing IVF index, assigning with
    the index's OWN stored centroids — the increment path that cannot
    drift from the build."""
    spark = df.sparkSession
    payload = _read_ivf_sidecar(spark, path)
    if payload is None:
        raise FileNotFoundError(
            f"append_ivf_index: no centroid sidecar in {path!r} — build the "
            "index with write_ivf_index first"
        )
    centroids = [(int(c), [float(x) for x in v]) for c, v in payload["centroids"]]
    write_ivf_index(
        df, centroids, path, vec_col=vec_col, cell_col=payload["cell_col"], mode="append"
    )


def compact_ivf_index(
    spark,
    src: str,
    dst: str,
    shards_per_cell: int = 1,
    id_col: "str | None" = None,
) -> None:
    """Fold an appended-to IVF / IVF-PQ / IVF-SQ index into
    ``shards_per_cell`` files per cell partition (same maintenance
    contract as ``dedup.compact_band_index``); rewrite to a sibling
    and swap.

    ALL ``_spectrify_*.json`` sidecars are carried to ``dst``
    (``_sidecar.copy_sidecars``), so compacting an IVF-PQ index keeps
    its PQ model, not just the centroid sidecar this module owns; the
    cell column is resolved from whichever model sidecar is present.

    ``shards_per_cell`` (default 1 = maximally compact) matters on
    SKEWED indexes: a default compaction collapses a hot cell back
    into one file — one write-straggler task now, and one mapper that
    AQE's skew split cannot subdivide on later shuffle-arm probes
    (exactly the spread ``write_ivfpq_index(shards_per_cell=...)``
    bought at build time).  The shard key hashes ``id_col`` (resolved
    from the model sidecar, falling back to ``vec_id``)."""
    import os

    src_abs = os.path.realpath(src)
    dst_abs = os.path.realpath(dst)
    if (
        dst_abs == src_abs
        or dst_abs.startswith(src_abs + os.sep)
        or src_abs.startswith(dst_abs + os.sep)
    ):
        raise ValueError(
            f"compact_ivf_index: src {src!r} and dst {dst!r} overlap "
            "(equal or one nested under the other); mode('overwrite') "
            "would destroy the source index mid-read"
        )
    from spectrify_spark.operators._sidecar import (
        copy_sidecars,
        read_json_sidecar,
    )

    payload = (
        _read_ivf_sidecar(spark, src)
        or read_json_sidecar(spark, src, "_spectrify_ivfpq_model.json")
        or read_json_sidecar(spark, src, "_spectrify_ivfsq_model.json")
    )
    cell_col = (payload or {}).get("cell_col", "ivf_cell")
    df = spark.read.parquet(src)
    key = id_col or (payload or {}).get("id_col") or "vec_id"
    if shards_per_cell > 1 and key not in df.columns:
        raise ValueError(
            f"compact_ivf_index: shard id column {key!r} not in the "
            f"index (have {df.columns}); pass id_col="
        )
    # ONE implementation of the shard spread (the writers' — explicit
    # partition count, AQE-coalescibility lesson and all); lazy import,
    # quantization already imports this module lazily the other way
    from spectrify_spark.operators.quantization import (
        _cell_shard_partitioning,
    )

    n_cells = len((payload or {}).get("centroids") or []) or 8
    df = _cell_shard_partitioning(
        df, cell_col, key, shards_per_cell, n_cells
    )
    (
        df.write.mode("overwrite")
        .partitionBy(cell_col)
        .parquet(dst)
    )
    copy_sidecars(spark, src, dst)


def read_ivf_index(spark, path: str) -> DataFrame:
    """Open a partitioned IVF index; pair with ivf_topk, whose
    ``isin(probe_cells)`` filter prunes partitions at planning time.
    Uses the sidecar's build-time read schema when present (skips the
    schema-inference pass; r17 opt round)."""
    from spectrify_spark.operators._sidecar import read_indexed_parquet

    return read_indexed_parquet(spark, path, _read_ivf_sidecar(spark, path))


__all__ = [
    "brute_force_topk",
    "knn_join_topk",
    "choose_centroids",
    "assign_partitions",
    "ivf_topk",
    "ivf_knn_join",
    "kmeans_refine",
    "write_ivf_index",
    "append_ivf_index",
    "ann_drift_report",
    "compact_ivf_index",
    "read_ivf_centroids",
    "read_ivf_index",
    "dot",
    "norm",
]
