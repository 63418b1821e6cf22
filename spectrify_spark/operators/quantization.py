"""Product quantization (PQ) for embedding columns.

The 100 TB memory lever for similarity search: a ``dim`` float32
vector (256 B at dim=64) compresses to ``m_subspaces`` uint8 codes
(4 B at M=4) — 64x — by splitting the vector into M contiguous
subvectors and snapping each to its nearest entry in a per-subspace
codebook of K centroids (Jégou et al., "Product Quantization for
Nearest Neighbor Search", TPAMI 2011).  Queries then score compressed
codes with ASYMMETRIC DISTANCE COMPUTATION (ADC): a driver-side
M x K lookup table of (query-subvector -> centroid) distances turns
each candidate's distance into M table lookups — no decompression,
no float vector ever read.

Spark shapes (no Python in any per-row path):

- codebooks and ADC lookup tables ride the one-row broadcast
  parameter-table pattern (cf. ``similarity._centroid_frame``): plan
  size flat in M x K x dim;
- encoding is a row-local ``transform`` over subspaces with an
  argmin fold over codes — zero shuffle, zero UDF;
- ADC scoring is a row-local fold summing M lookups, then a global
  top-k (TakeOrderedAndProject).

``deterministic_codebooks`` (seeded, data-independent) pairs with the
DuckDB oracle exactly like ``dedup.deterministic_planes``;
``pq_train`` fits real codebooks with per-subspace Lloyd's
iterations for production use.  The reference has no quantization
surface (its engine delegates all query execution to
Redshift/Spectrum); this extends the LLM-pipeline north star.
"""

from __future__ import annotations

import random

from pyspark.sql import DataFrame, functions as F


def deterministic_codebooks(
    m_subspaces: int,
    n_codes: int,
    dsub: int,
    seed: int = 7,
    scale: float = 0.125,
) -> list[list[list[float]]]:
    """Seeded pseudo-random codebooks ``[m][k][dsub]`` (pure python,
    reproducible; ``scale`` matched to the embedding component std so
    codes cover the data range)."""
    rng = random.Random(seed)
    return [
        [[rng.gauss(0.0, scale) for _ in range(dsub)] for _ in range(n_codes)]
        for _ in range(m_subspaces)
    ]


def _codebook_frame(spark, codebooks: list[list[list[float]]]) -> DataFrame:
    """One-row broadcast parameter table: ``__cb[m][k][j]`` double."""
    if not codebooks or not codebooks[0]:
        raise ValueError("need at least one subspace with one code")
    row = ([[ [float(x) for x in code] for code in sub] for sub in codebooks],)
    from spectrify_spark.operators._params import local_rows_frame

    return local_rows_frame(spark, [row], "__cb array<array<array<double>>>")


def _attach_codebooks(
    df: DataFrame, codebooks: list[list[list[float]]]
) -> DataFrame:
    """Attach ``__cb`` to every row of ``df`` — consumer-side twin of
    :func:`_codebook_frame` (r18 opt round, cf.
    ``similarity._attach_centroids``): small codebooks fold in as a
    literal column (no join node, no broadcast-build job per action);
    oversized ones keep the broadcast one-row-frame crossJoin."""
    if not codebooks or not codebooks[0]:
        raise ValueError("need at least one subspace with one code")
    from spectrify_spark.operators._params import attach_params

    row = {
        "__cb": [
            [[float(x) for x in code] for code in sub] for sub in codebooks
        ]
    }
    return attach_params(df, row, "__cb array<array<array<double>>>")


def _sq_l2(a, b):
    """Squared L2 distance of two array columns, summed left-to-right
    (the fold order the DuckDB oracle unrolls literally)."""
    return F.aggregate(
        F.zip_with(
            a,
            b,
            lambda x, y: (x.cast("double") - y) * (x.cast("double") - y),
        ),
        F.lit(0.0),
        lambda acc, v: acc + v,
    )


def pq_encode(
    df: DataFrame,
    codebooks: list[list[list[float]]],
    vec_col: str = "embedding",
    out_col: str = "pq_code",
) -> DataFrame:
    """Add ``out_col``: array<int> of length M — per-subspace argmin
    squared-L2 code (first index wins exact ties, same rule as
    ``similarity.assign_partitions``).  Row-local; the codebooks enter
    as one broadcast row, so plan size is flat in M x K x dsub.

    Every vector must have dimension exactly ``M * dsub`` — enforced
    per row (a short vector would null-pad its last subspace and emit
    a poisoned -1 code into any index it is written to; a long one
    would silently drop its tail dimensions)."""
    if not codebooks or not codebooks[0]:
        raise ValueError("need at least one subspace with one code")
    m, k = len(codebooks), len(codebooks[0])
    dsub = len(codebooks[0][0])
    expected_dim = m * dsub
    # assert_true inside a filter: evaluated per row (cannot be pruned
    # as an unused projection), raises with the offending size
    df = df.filter(
        F.assert_true(
            F.size(F.col(vec_col)) == F.lit(expected_dim),
            F.concat(
                F.lit("pq_encode: vector dimension "),
                F.size(F.col(vec_col)).cast("string"),
                F.lit(f" != m_subspaces*dsub = {expected_dim}"),
            ),
        ).isNull()
    )
    cb = F.col("__cb")

    def sub_code(mi):
        # mi is 1-based subspace index (Column); slice is 1-based
        sub = F.slice(F.col(vec_col), (mi - 1) * dsub + 1, dsub)
        best = F.aggregate(
            F.sequence(F.lit(1), F.lit(k)),
            F.struct(F.lit(float("inf")).alias("d"), F.lit(0).alias("i")),
            lambda acc, ki: F.element_at(
                F.transform(
                    F.array(_sq_l2(sub, F.element_at(F.element_at(cb, mi), ki))),
                    lambda d: F.when(
                        d < acc["d"], F.struct(d.alias("d"), ki.alias("i"))
                    ).otherwise(acc),
                ),
                1,
            ),
        )
        return best["i"] - F.lit(1)  # 0-based code

    codes = F.transform(F.sequence(F.lit(1), F.lit(m)), sub_code)
    return (
        _attach_codebooks(df, codebooks)
        .withColumn(out_col, codes)
        .drop("__cb")
    )


def adc_lookup_table(
    codebooks: list[list[list[float]]], query_vec: list[float]
) -> list[list[float]]:
    """Driver-side M x K table of squared-L2 distances from each query
    subvector to each codebook entry — O(M*K*dsub) floats, computed
    once per query (left-to-right sums, oracle-identical)."""
    m, dsub = len(codebooks), len(codebooks[0][0])
    lut = []
    for mi in range(m):
        q_sub = [float(x) for x in query_vec[mi * dsub : (mi + 1) * dsub]]
        row = []
        for code in codebooks[mi]:
            acc = 0.0
            for qx, cx in zip(q_sub, code):
                acc = acc + (qx - float(cx)) * (qx - float(cx))
            row.append(acc)
        lut.append(row)
    return lut


def pq_adc_scores(
    encoded: DataFrame,
    codebooks: list[list[list[float]]],
    query_vec: list[float],
    id_col: str = "vec_id",
    code_col: str = "pq_code",
    round_digits: int | None = 6,
) -> DataFrame:
    """ADC distance of EVERY encoded row to ``query_vec``:
    distance = sum over subspaces of ``lut[m][code[m]]`` — M array
    lookups per row against the broadcast LUT.  The compressed table
    is the ONLY thing scanned.  Output: (id, code_col, adc_dist)."""
    m = len(codebooks)
    lut_rows = adc_lookup_table(codebooks, query_vec)
    from spectrify_spark.operators._params import attach_params

    dist = F.aggregate(
        F.sequence(F.lit(1), F.lit(m)),
        F.lit(0.0),
        lambda acc, mi: acc
        + F.element_at(
            F.element_at(F.col("__lut"), mi),
            F.element_at(F.col(code_col), mi) + F.lit(1),
        ),
    )
    if round_digits is not None:
        dist = F.round(dist, round_digits)
    return attach_params(
        encoded, {"__lut": lut_rows}, "__lut array<array<double>>"
    ).select(F.col(id_col), F.col(code_col), dist.alias("adc_dist"))


def pq_adc_topk(
    encoded: DataFrame,
    codebooks: list[list[list[float]]],
    query_vec: list[float],
    k: int = 10,
    id_col: str = "vec_id",
    code_col: str = "pq_code",
    round_digits: int | None = 6,
) -> DataFrame:
    """Approximate nearest neighbours of ``query_vec`` by ADC
    (:func:`pq_adc_scores`) with a global ascending top-k — a
    TakeOrderedAndProject, never a full sort (ties broken by id)."""
    return (
        pq_adc_scores(
            encoded,
            codebooks,
            query_vec,
            id_col=id_col,
            code_col=code_col,
            round_digits=round_digits,
        )
        .select(id_col, "adc_dist")
        .orderBy(F.col("adc_dist").asc(), F.col(id_col))
        .limit(k)
    )


def pq_adc_knn_join(
    encoded: DataFrame,
    codebooks: list[list[list[float]]],
    queries: DataFrame,
    k: int = 10,
    id_col: str = "vec_id",
    code_col: str = "pq_code",
    query_id: str = "q_id",
    query_vec: str = "q_vec",
    round_digits: int | None = 6,
    broadcast_queries: bool = True,
) -> DataFrame:
    """ADC top-k for MANY query vectors at once — the batched twin of
    :func:`pq_adc_topk` (cf. ``similarity.knn_join_topk``).

    The per-query lookup tables are computed JVM-side from the
    broadcast codebook row (squared-L2 fold per (subspace, code)) —
    no driver-side LUT loop; the corpus of codes never shuffles — only
    the per-query top-k window runs over (corpus x queries) scored
    rows.

    Contract: with ``broadcast_queries=True`` (default) the QUERY side
    (with its M x K LUT per row) is broadcast, so it must fit the
    broadcast budget — batches up to the low millions of queries x
    small LUTs (the same small-side contract as
    ``similarity.knn_join_topk``).  ``broadcast_queries=False`` removes
    the MEMORY ceiling: a plain partitioned cross join scores each
    (corpus-block, query-block) pair per task — every candidate must
    still score against every query (that O(|corpus| x |Q|) compute is
    inherent to INDEX-LESS exact scoring; the scale path for large
    batches is the indexed :func:`ivfpq_knn_join`, whose shuffle arm
    prunes by cell)."""
    from pyspark.sql import Window

    if not codebooks or not codebooks[0]:
        raise ValueError("need at least one subspace with one code")
    m = len(codebooks)
    dsub = len(codebooks[0][0])
    q = _attach_codebooks(queries, codebooks).select(
        query_id, _adc_lut_expr(m, dsub, F.col(query_vec)).alias("__lut")
    )
    dist = _adc_dist_expr(m, F.col("__lut"), F.col(code_col))
    if round_digits is not None:
        dist = F.round(dist, round_digits)
    q_side = F.broadcast(q) if broadcast_queries else q
    scored = encoded.crossJoin(q_side).select(
        F.col(query_id), F.col(id_col), dist.alias("adc_dist")
    )
    w = Window.partitionBy(query_id).orderBy(
        F.col("adc_dist").asc(), F.col(id_col)
    )
    return (
        scored.withColumn("__rk", F.row_number().over(w))
        .filter(F.col("__rk") <= k)
        .drop("__rk")
    )


def _adc_lut_expr(m: int, dsub: int, qcol):
    """The per-query M x K ADC lookup table as a Column expression —
    squared-L2 of each query subvector against every codebook entry,
    JVM-side from the broadcast ``__cb`` codebook column.  lut[m][k]
    materializes per query row once, then is reused across the corpus
    join; distance per candidate is M element_at lookups."""
    cb = F.col("__cb")
    return F.transform(
        F.sequence(F.lit(1), F.lit(m)),
        lambda mi: F.transform(
            F.element_at(cb, mi),
            lambda code: _sq_l2(
                F.slice(qcol, (mi - 1) * dsub + 1, dsub), code
            ),
        ),
    )


def _adc_dist_expr(m: int, lut_col, code_col):
    """ADC distance: M lookups of the candidate's per-subspace codes
    in the query's LUT, summed left-to-right (the fold association
    every oracle replicates)."""
    return F.aggregate(
        F.sequence(F.lit(1), F.lit(m)),
        F.lit(0.0),
        lambda acc, mi: acc
        + F.element_at(
            F.element_at(lut_col, mi),
            F.element_at(code_col, mi) + F.lit(1),
        ),
    )


def pq_train(
    df: DataFrame,
    m_subspaces: int,
    n_codes: int,
    iters: int = 3,
    vec_col: str = "embedding",
    dim: int | None = None,
) -> list[list[list[float]]]:
    """Fit per-subspace codebooks with Lloyd's iterations — the
    production path (deterministic: seeded from the data via the same
    xxhash64 sample rule as ``similarity.choose_centroids``).

    Distributed shape per iteration: ONE pass assigns every
    subvector of every row (pq_encode), ONE groupBy((m, code), pos)
    recomputes means — cost independent of M because subspaces ride
    the same rows.  Only the M x K x dsub codebook (the model) visits
    the driver between iterations."""
    if dim is None:
        probe = df.select(F.size(F.col(vec_col)).alias("n")).first()
        if probe is None:
            raise ValueError("pq_train: empty input")
        dim = probe["n"]
    if dim % m_subspaces:
        raise ValueError(f"dim {dim} not divisible by m_subspaces {m_subspaces}")
    dsub = dim // m_subspaces
    # seed: K hash-sampled DISTINCT vectors, split into their M
    # subvectors — duplicate seeds would make duplicate codebook
    # entries that the first-index argmin tie rule starves forever
    # (dead codes wasting codebook capacity)
    seeds = (
        df.select(vec_col)
        .distinct()
        .orderBy(F.xxhash64(F.col(vec_col).cast("array<double>").cast("string")))
        .limit(n_codes)
        .collect()
    )
    if len(seeds) < n_codes:
        raise ValueError(
            f"pq_train: need >= {n_codes} vectors to seed, got {len(seeds)}"
        )
    books = [
        [
            [float(x) for x in r[vec_col][mi * dsub : (mi + 1) * dsub]]
            for r in seeds
        ]
        for mi in range(m_subspaces)
    ]
    for _ in range(iters):
        enc = pq_encode(df, books, vec_col=vec_col, out_col="__code")
        means = (
            enc.select(
                F.posexplode("__code").alias("__m", "__k"),
                F.col(vec_col).alias("__v"),
            )
            .select(
                "__m",
                "__k",
                F.posexplode(
                    F.slice(F.col("__v"), F.col("__m") * dsub + 1, dsub)
                ).alias("__j", "__x"),
            )
            .groupBy("__m", "__k", "__j")
            .agg(F.avg(F.col("__x").cast("double")).alias("__mean"))
            .collect()
        )
        got: dict[tuple[int, int], dict[int, float]] = {}
        for r in means:
            got.setdefault((r["__m"], r["__k"]), {})[r["__j"]] = r["__mean"]
        books = [
            [
                [
                    got.get((mi, ki), {}).get(j, books[mi][ki][j])
                    for j in range(dsub)
                ]
                for ki in range(n_codes)
            ]
            for mi in range(m_subspaces)
        ]
    return books


def reconstruction_mse(
    df: DataFrame,
    codebooks: list[list[list[float]]],
    vec_col: str = "embedding",
) -> float:
    """Mean squared reconstruction error of PQ-encoding ``df`` — the
    codebook quality metric (lower = tighter quantization)."""
    m = len(codebooks)
    dsub = len(codebooks[0][0])
    enc = pq_encode(df, codebooks, vec_col=vec_col, out_col="__code")
    cb = F.col("__cb")
    err = F.aggregate(
        F.sequence(F.lit(1), F.lit(m)),
        F.lit(0.0),
        lambda acc, mi: acc
        + _sq_l2(
            F.slice(F.col(vec_col), (mi - 1) * dsub + 1, dsub),
            F.element_at(
                F.element_at(cb, mi), F.element_at(F.col("__code"), mi) + F.lit(1)
            ),
        ),
    )
    row = (
        _attach_codebooks(enc, codebooks)
        .agg(F.avg(err).alias("mse"))
        .first()
    )
    return float(row["mse"])


#: sidecar recording the coarse centroids + PQ codebooks of an IVF-PQ
#: index — underscore prefix keeps it invisible to parquet scans
_IVFPQ_SIDECAR = "_spectrify_ivfpq_model.json"


def _pq_recon_expr(code_col, cb=None):
    """Reconstruct an ``array<double>`` vector from a PQ code array —
    requires the ``__cb`` codebook column in scope
    (:func:`_attach_codebooks`), or an explicit codebook Column via
    ``cb`` (the observe-on-write stats pass a literal): subspace i's
    code c picks codeword ``__cb[i+1][c+1]``, concatenated in subspace
    order.  Row-local ``transform`` + ``flatten``, no shuffle."""
    if cb is None:
        cb = F.col("__cb")
    return F.flatten(
        F.transform(
            code_col,
            lambda c, i: F.element_at(
                F.element_at(cb, (i + F.lit(1)).cast("int")),
                (c + F.lit(1)).cast("int"),
            ),
        )
    )


def _compressed_residual_mean(
    spark, path: str, payload: dict, sample_fraction: "float | None" = None
) -> "tuple[int, float | None]":
    """(n, mean assigned-cell cosine residual) for an IVF-PQ or IVF-SQ
    index, with vectors RECONSTRUCTED from their stored codes (r15
    VERDICT item 5): compressed indexes store codes, not raw vectors,
    so the drift residual uses the codebook / scalar-model
    reconstruction (PQ: codeword concat; SQ: cell midpoints).  The
    SAME estimator runs at build time (the sidecar baseline) and at
    diagnosis time (``ann_drift_report``), so the reconstruction error
    is common-mode and largely cancels in the ratio — what moves it is
    appended vectors whose codes reconstruct far from the centroid
    they were assigned to (a shifted append distribution).  One narrow
    (cell, code) partition scan; ``sample_fraction`` bounds it on huge
    indexes (seeded — repeated reports are comparable)."""
    from spectrify_spark.operators.similarity import _frame_residual_mean

    centroids, cell_col, frame = _recon_frame(spark, path, payload)
    return _frame_residual_mean(
        frame,
        centroids,
        "__recon",
        cell_col,
        sample_fraction=sample_fraction,
    )


def _recon_frame(spark, path: str, payload: dict):
    """(centroids, cell_col, frame) where ``frame`` is the stored index
    with each code reconstructed to a float vector in ``__recon`` —
    the shared input of the residual estimators (PQ: codeword concat;
    SQ: cell midpoints)."""
    from spectrify_spark.operators._sidecar import read_indexed_parquet

    cell_col = payload.get("cell_col", "ivf_cell")
    centroids = [
        (int(c), [float(x) for x in v]) for c, v in payload["centroids"]
    ]
    if "codebooks" in payload:
        idx = read_indexed_parquet(spark, path, payload).select(
            cell_col, "pq_code"
        )
        frame = _attach_codebooks(idx, payload["codebooks"]).withColumn(
            "__recon", _pq_recon_expr(F.col("pq_code"))
        )
    else:
        idx = read_indexed_parquet(spark, path, payload).select(
            cell_col, "sq_code"
        )
        frame = _attach_sq_model(
            idx, {"mins": payload["mins"], "maxs": payload["maxs"]}
        ).withColumn("__recon", _sq_midpoint_recon(F.col("sq_code")))
    return centroids, cell_col, frame.select(cell_col, "__recon")


def _compressed_counts_and_residual(
    spark, path: str, payload: dict
) -> "tuple[dict, int, float | None]":
    """Per-cell counts AND the reconstruction residual of a compressed
    (IVF-PQ / IVF-SQ) index in ONE scan — the compressed-family twin
    of ``similarity._counts_and_residual`` (r17 opt round: the build
    previously read the just-written index twice)."""
    from spectrify_spark.operators.similarity import _counts_and_residual

    centroids, cell_col, frame = _recon_frame(spark, path, payload)
    return _counts_and_residual(frame, centroids, "__recon", cell_col)


def _observed_compressed_stats(
    frame, centroids, cell_col: str, code_col: str,
    codebooks=None, model=None,
):
    """Compressed-family twin of ``similarity._observed_build_stats``
    (r18 opt round): reconstruct each code INSIDE the write plan (PQ
    codeword concat / SQ midpoints from a literal model) and fold the
    drift baselines into the write action — the post-write stats
    read-back scan disappears.  Returns ``(None, frame)`` when the
    model exceeds the literal budget (huge builds keep the read-back
    arm)."""
    from spectrify_spark.operators._params import literal_param
    from spectrify_spark.operators.similarity import _observed_build_stats

    if codebooks is not None:
        cb = literal_param(
            [[[float(x) for x in code] for code in sub] for sub in codebooks],
            "array<array<array<double>>>",
        )
        if cb is None:
            return None, frame
        recon = _pq_recon_expr(F.col(code_col), cb=cb)
    else:
        mn = literal_param([float(x) for x in model["mins"]], "array<double>")
        mx = literal_param([float(x) for x in model["maxs"]], "array<double>")
        if mn is None or mx is None:
            return None, frame
        recon = _sq_midpoint_recon(F.col(code_col), mn=mn, mx=mx)
    return _observed_build_stats(frame, centroids, recon, cell_col)


def _cell_shard_partitioning(
    enc, cell_col: str, id_col: str, shards: int, n_cells: int
):
    """Partitioning for the cell-partitioned index write.  The default
    (1) collapses each cell into one shuffle task — compact output,
    but on a SKEWED build one task writes the hot cell's entire mass
    (the straggler), and downstream the single file means ONE mapper
    feeds the hot cell's shuffle partition, so AQE's skew split (which
    chunks by mapper ranges) has nothing to split.  ``shards > 1``
    adds a deterministic id-hash shard key so a hot cell spreads over
    ~``shards`` write tasks/files — the lever for skewed or huge
    builds (plain ``write_ivf_index`` never repartitions, so it
    already preserves input parallelism).  The shard arm passes an
    EXPLICIT partition count (``shards * n_cells``): a column-only
    ``repartition`` is coalescible by AQE, which at small scale merges
    every (cell, shard) combo back into one task — silently undoing
    the very spread the caller asked for (measured: 120k rows, 16
    shards requested, ONE file written)."""
    if shards < 1:
        raise ValueError(f"shards_per_cell must be >= 1, got {shards}")
    if shards == 1:
        return enc.repartition(F.col(cell_col))
    return enc.repartition(
        shards * max(n_cells, 1),
        F.col(cell_col),
        F.pmod(F.xxhash64(F.col(id_col)), F.lit(shards)),
    )


def write_ivfpq_index(
    df: DataFrame,
    centroids: list[tuple[int, list[float]]],
    codebooks: list[list[list[float]]],
    path: str,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    cell_col: str = "ivf_cell",
    shards_per_cell: int = 1,
    stats_sample_fraction: "float | None" = None,
) -> None:
    """Materialize an IVF-PQ index: coarse-quantize every vector to its
    nearest centroid cell (``similarity.assign_partitions``), PQ-encode
    it, and write ONLY ``(id, pq_code)`` partitioned by cell — the
    FAISS IVF-PQ architecture as a parquet layout.

    This is the full 100 TB ANN story: a query probes ``nprobe`` of C
    cell partitions (partition-pruned scan — nprobe/C of the files)
    and ADC-scores 4-byte codes instead of 256-byte vectors, so the
    scanned bytes drop by BOTH factors (~C/nprobe x ~64x).  The model
    (centroids + codebooks) persists in a JSON sidecar, making probes
    self-contained.

    Cell assignment is by cosine, ADC ranking by squared L2 — the two
    agree for L2-normalized embeddings; see the metric contract in
    :func:`ivfpq_topk` (normalize at ingest, or re-rank).

    ``shards_per_cell`` (default 1 = one file per cell) spreads each
    cell over ~N deterministic id-hash shards — set it on SKEWED or
    huge builds so the hot cell neither serializes into one write
    task nor collapses into a single mapper that AQE's skew split
    cannot subdivide (see :func:`_cell_shard_partitioning`)."""
    from spectrify_spark.operators._sidecar import replace_json_sidecar
    from spectrify_spark.operators.similarity import assign_partitions

    assigned = assign_partitions(df, centroids, vec_col=vec_col, out_col=cell_col)
    enc = pq_encode(assigned, codebooks, vec_col=vec_col, out_col="pq_code")
    to_write = enc.select(id_col, cell_col, "pq_code")
    # drift baselines ride the write action via observe() when the
    # model fits the literal budget (r18 opt round, guide §1.2 — no
    # post-write read-back scan); sampled stats and oversized models
    # keep the read-back arm below
    handle = None
    if stats_sample_fraction is None:
        try:
            handle, to_write = _observed_compressed_stats(
                to_write, centroids, cell_col, "pq_code",
                codebooks=codebooks,
            )
        except Exception:  # noqa: BLE001 — keep the read-back arm
            handle = None
    (
        _cell_shard_partitioning(
            to_write,
            cell_col,
            id_col,
            shards_per_cell,
            len(centroids),
        )
        .write.mode("overwrite")
        .partitionBy(cell_col)
        .parquet(path)
    )
    # atomic replace: a rebuild targets a LIVE index dir — a concurrent
    # probe must never read a partially-written model sidecar

    # drift baselines (r15 counts + r16 reconstruction residual, see
    # similarity.ann_drift_report): counts are near-free (partition
    # dirs + parquet footers); the residual tier reconstructs each
    # written code through the codebooks (_compressed_residual_mean) —
    # one narrow (cell, code) scan of data just written, boundable
    # with stats_sample_fraction on huge builds.  An EMPTY build
    # writes no files and the read-back cannot infer a schema: record
    # no baselines (ann_drift_report is conservative on missing ones)
    # rather than fail the write
    from spectrify_spark.operators._sidecar import partitioned_read_schema

    model_payload = {
        "cell_col": cell_col,
        "id_col": id_col,
        "centroids": [
            [int(cid), [float(x) for x in vec]] for cid, vec in centroids
        ],
        "codebooks": [
            [[float(x) for x in code] for code in sub] for sub in codebooks
        ],
        # build-time read-back schema: probes skip schema inference
        # (r17 opt round — one footer job per read locally, an object
        # store round trip at scale)
        "read_schema": partitioned_read_schema(
            enc.select(id_col, cell_col, "pq_code").schema, [cell_col]
        ),
    }
    sizes, r_n, resid = _decode_or_read_stats(
        handle, df.sparkSession, path, cell_col, model_payload,
        stats_sample_fraction,
    )
    model_payload["stats"] = {
        "build_n": int(sum(sizes.values())),
        "build_cell_sizes": sizes,
        "build_residual_mean": resid,
        "residual_n": r_n,
        "residual_estimator": "adc_reconstruction",
    }
    replace_json_sidecar(df.sparkSession, path, _IVFPQ_SIDECAR, model_payload)


def _decode_or_read_stats(
    handle, spark, path: str, cell_col: str, model_payload: dict,
    stats_sample_fraction: "float | None",
) -> "tuple[dict, int, float | None]":
    """Observed write metrics when available, else the read-back passes
    — a metric-decode failure degrades to the read-back arm exactly
    like a residual failure there degrades to footer counts."""
    if handle is not None:
        from spectrify_spark.operators.similarity import (
            _observed_stats_result,
        )

        try:
            return _observed_stats_result(handle)
        except Exception:  # noqa: BLE001 — degrade to read-back
            pass
    return _write_stats_passes(
        spark, path, cell_col, model_payload, stats_sample_fraction
    )


def _write_stats_passes(
    spark, path: str, cell_col: str, model_payload: dict,
    stats_sample_fraction: "float | None",
) -> "tuple[dict, int, float | None]":
    """Build-stats read-back shared by the two compressed writers.

    Unsampled: ONE scan computes counts + residual together
    (``_compressed_counts_and_residual``); if that pass fails (e.g. a
    malformed code row breaks reconstruction) the count tiers are
    re-read on their own from partition dirs + footers — the r16
    ADVICE degradation contract (a residual failure must not discard
    the counts) holds with one pass fewer on the happy path.  Sampled:
    the exact-counts / sampled-residual split is kept (two passes by
    construction)."""
    from spectrify_spark.operators.similarity import _index_cell_counts

    if stats_sample_fraction is None:
        try:
            return _compressed_counts_and_residual(spark, path, model_payload)
        except Exception:
            try:
                sizes = _index_cell_counts(spark, path, cell_col)
            except Exception:
                sizes = {}
            return sizes, 0, None
    try:
        sizes = _index_cell_counts(spark, path, cell_col)
    except Exception:
        sizes = {}
    try:
        r_n, resid = _compressed_residual_mean(
            spark, path, model_payload, sample_fraction=stats_sample_fraction
        )
    except Exception:
        r_n, resid = 0, None
    return sizes, r_n, resid


def append_ivfpq_index(
    df: DataFrame,
    path: str,
    vec_col: str = "embedding",
    shards_per_cell: int = 1,
) -> None:
    """Append a vector delta into an existing IVF-PQ index, assigning
    cells and encoding codes with the index's OWN stored model — the
    increment path that cannot drift from the build (same contract as
    ``similarity.append_ivf_index`` / the banded-dedup append).
    ``shards_per_cell`` as on :func:`write_ivfpq_index`."""
    from spectrify_spark.operators._sidecar import read_json_sidecar
    from spectrify_spark.operators.similarity import assign_partitions

    spark = df.sparkSession
    payload = read_json_sidecar(spark, path, _IVFPQ_SIDECAR)
    if payload is None:
        raise FileNotFoundError(
            f"append_ivfpq_index: no model sidecar in {path!r} — build with "
            "write_ivfpq_index first"
        )
    centroids = [(int(c), [float(x) for x in v]) for c, v in payload["centroids"]]
    codebooks = payload["codebooks"]
    cell_col, id_col = payload["cell_col"], payload["id_col"]
    assigned = assign_partitions(df, centroids, vec_col=vec_col, out_col=cell_col)
    enc = pq_encode(assigned, codebooks, vec_col=vec_col, out_col="pq_code")
    (
        _cell_shard_partitioning(
            enc.select(id_col, cell_col, "pq_code"),
            cell_col,
            id_col,
            shards_per_cell,
            len(centroids),
        )
        .write.mode("append")
        .partitionBy(cell_col)
        .parquet(path)
    )


def ivfpq_topk(
    spark,
    path: str,
    query_vec: list[float],
    k: int = 10,
    nprobe: int = 4,
    rerank_with: DataFrame | None = None,
    rerank_factor: int = 4,
    vec_col: str = "embedding",
) -> DataFrame:
    """Approximate top-k against a materialized IVF-PQ index: pick the
    ``nprobe`` cells whose centroids score highest for the query
    (driver-side over the sidecar model — C rows, tiny), scan ONLY
    those cell partitions (``isin`` on the partition column prunes at
    planning time), ADC-score the codes, ascending top-k.

    Output: ``(id, adc_dist)`` — smaller distance = closer.  Recall is
    bounded by nprobe (cells not probed are never seen) and by PQ
    quantization error; both knobs trade accuracy for scan cost.

    METRIC CONTRACT: cells are selected by cosine — the SAME rule
    ``assign_partitions`` used to place vectors, so a vector is always
    probed from the cell that holds it — but candidates are ranked by
    squared-L2 ADC.  The two orders agree when embeddings are
    L2-NORMALIZED (then ``l2² = 2·(1−cos)``, a monotone map); for
    unnormalized embeddings the L2-nearest vector can sit in a
    cosine-far cell that ``nprobe`` never scans, degrading recall
    beyond the nprobe/quantization bounds.  Normalize at ingest
    (``vectors.normalize``) or raise nprobe / use ``rerank_with``.

    ``rerank_with`` is the standard FAISS recall lever: take the top
    ``k·rerank_factor`` ADC candidates, re-score ONLY those against
    the original float vectors (``rerank_with`` must expose the
    index's id column and ``vec_col``), and return the exact-L2 top-k
    as ``(id, l2_dist)``.  The exact pass touches candidate-sized
    data, never the corpus: the bounded candidate id list is pushed
    into the vector table's scan as an IN filter (row-group skipping),
    not joined corpus-wide.  This removes quantization error from the
    FINAL ranking; only the nprobe cell-selection bound remains."""
    from spectrify_spark.operators._sidecar import read_json_sidecar

    payload = read_json_sidecar(spark, path, _IVFPQ_SIDECAR)
    if payload is None:
        raise FileNotFoundError(
            f"ivfpq_topk: no model sidecar in {path!r} — build with "
            "write_ivfpq_index first"
        )
    centroids = payload["centroids"]
    codebooks = payload["codebooks"]
    cell_col, id_col = payload["cell_col"], payload["id_col"]

    probe_cells = _probe_cells(centroids, query_vec, nprobe)
    from spectrify_spark.operators._sidecar import read_indexed_parquet

    enc = read_indexed_parquet(spark, path, payload).filter(
        F.col(cell_col).isin(probe_cells)
    )
    if rerank_with is None:
        return pq_adc_topk(
            enc, codebooks, query_vec, k=k, id_col=id_col, code_col="pq_code"
        )
    if rerank_factor < 1:
        raise ValueError(f"rerank_factor must be >= 1, got {rerank_factor}")
    cand = pq_adc_topk(
        enc,
        codebooks,
        query_vec,
        k=k * rerank_factor,
        id_col=id_col,
        code_col="pq_code",
    )
    return _exact_l2_rerank(
        rerank_with, cand, query_vec, k, id_col, vec_col, "ivfpq_topk"
    )


def _probe_cells(
    centroids, query_vec: list[float], nprobe: int
) -> list[int]:
    """The ``nprobe`` cell ids whose centroids score highest for the
    query by cosine — driver-side over the sidecar model (C rows,
    tiny); the SAME rule ``assign_partitions`` used to place vectors,
    so a vector is always probed from the cell that holds it.  Ties
    break by ASCENDING cell id — the same rule as the batched JVM twin
    (:func:`_query_cells_col`'s struct sort), so the single-query and
    batched paths probe the same cell set even on duplicate or
    equidistant centroids."""
    import math

    qn = math.sqrt(sum(float(x) * float(x) for x in query_vec)) or 1.0

    def cos(vec):
        d = sum(float(a) * float(b) for a, b in zip(query_vec, vec))
        n = math.sqrt(sum(float(b) * float(b) for b in vec)) or 1.0
        return d / (qn * n)

    return [
        int(cid)
        for cid, _ in sorted(
            centroids, key=lambda cv: (-cos(cv[1]), int(cv[0]))
        )[:nprobe]
    ]


def _exact_l2_rerank(
    rerank_with: DataFrame,
    cand: DataFrame,
    query_vec: list[float],
    k: int,
    id_col: str,
    vec_col: str,
    caller: str,
) -> DataFrame:
    """Exact-L2 re-rank of a bounded candidate set against the original
    float vectors.  Bounded collect: k·rerank_factor ids (the
    model-sized exception, same discipline as the sidecar reads) — an
    IN literal list prunes the vector table scan at planning time
    instead of forcing a corpus-wide join.  Returns ``(id, l2_dist)``
    ascending top-k, ties by id."""
    cand_ids = [r[id_col] for r in cand.collect()]
    from spectrify_spark.operators._params import _fast_lit

    dim = len(query_vec)
    qlit = _fast_lit([float(x) for x in query_vec])
    vec = F.col(vec_col).cast("array<double>")
    guarded = F.when(F.size(vec) == dim, vec).otherwise(
        F.raise_error(
            F.concat(
                F.lit(f"{caller} rerank: vector dim "),
                F.size(vec).cast("string"),
                F.lit(f" != query dim {dim}"),
            )
        )
    )
    l2 = _l2_fold(guarded, qlit)
    return (
        rerank_with.filter(F.col(id_col).isin(cand_ids))
        .select(F.col(id_col), F.round(l2, 6).alias("l2_dist"))
        .orderBy(F.col("l2_dist").asc(), F.col(id_col))
        .limit(k)
    )


# --------------------------------------------------------------- SQ8


def sq_train(df: DataFrame, vec_col: str = "embedding") -> dict:
    """Fit the scalar-quantization model: per-dimension (min, max) over
    the corpus — the lightweight sibling of PQ (int8 per DIMENSION,
    4x compression on float32, vs PQ's 64x per SUBSPACE; SQ keeps
    per-dimension resolution, so recall degrades far less).

    One distributed pass: posexplode -> per-dimension min/max groupBy
    (bounded at dim rows); only the dim-sized model visits the driver.
    Returns ``{"mins": [...], "maxs": [...]}``.
    """
    rows = (
        df.select(F.posexplode(F.col(vec_col).cast("array<double>")))
        .groupBy("pos")
        .agg(F.min("col").alias("mn"), F.max("col").alias("mx"))
        .collect()
    )
    if not rows:
        raise ValueError("sq_train: empty input")
    by_pos = {r["pos"]: (r["mn"], r["mx"]) for r in rows}
    dim = max(by_pos) + 1
    return {
        "mins": [float(by_pos[j][0]) for j in range(dim)],
        "maxs": [float(by_pos[j][1]) for j in range(dim)],
    }


def _sq_model_frame(spark, model: dict) -> DataFrame:
    """One-row broadcast parameter table: per-dimension mins/maxs."""
    mins = [float(x) for x in model["mins"]]
    maxs = [float(x) for x in model["maxs"]]
    if len(mins) != len(maxs) or not mins:
        raise ValueError("sq model needs equal-length non-empty mins/maxs")
    from spectrify_spark.operators._params import local_rows_frame

    return local_rows_frame(
        spark, [(mins, maxs)], "__mn array<double>, __mx array<double>"
    )


def _attach_sq_model(df: DataFrame, model: dict) -> DataFrame:
    """Attach ``__mn`` / ``__mx`` to every row of ``df`` — consumer-side
    twin of :func:`_sq_model_frame` (r18 opt round, cf.
    ``similarity._attach_centroids``): small models fold in as literal
    columns (no join node, no broadcast-build job per action);
    oversized ones keep the broadcast one-row-frame crossJoin."""
    mins = [float(x) for x in model["mins"]]
    maxs = [float(x) for x in model["maxs"]]
    if len(mins) != len(maxs) or not mins:
        raise ValueError("sq model needs equal-length non-empty mins/maxs")
    from spectrify_spark.operators._params import attach_params

    return attach_params(
        df,
        {"__mn": mins, "__mx": maxs},
        "__mn array<double>, __mx array<double>",
    )


def sq_encode(
    df: DataFrame,
    model: dict,
    vec_col: str = "embedding",
    out_col: str = "sq_code",
) -> DataFrame:
    """Scalar-quantize every vector to int codes in [0, 255]:
    ``code_j = min(255, floor((x_j - min_j) * 256 / (max_j - min_j)))``
    — 256 equal cells of width ``range/256`` (the max value clamps
    into the top cell); degenerate dimensions (max == min) code to 0.
    Midpoint reconstruction (``sq_topk``) is then within half a cell,
    worst-case one cell at the clamped max.

    floor (not round) keeps the arithmetic bit-replicable across
    engines — round's half-even/half-up split is the classic oracle
    mismatch.  The model rides a one-row broadcast parameter table
    (plan size flat in dim); the map is a row-local ``zip_with`` —
    zero shuffle, zero Python.
    """
    code = F.zip_with(
        F.zip_with(
            F.col(vec_col).cast("array<double>"),
            F.col("__mn"),
            lambda x, mn: x - mn,
        ),
        F.zip_with(F.col("__mx"), F.col("__mn"), lambda mx, mn: mx - mn),
        lambda d, rng: F.when(rng <= 0, F.lit(0)).otherwise(
            F.least(
                F.lit(255),
                F.greatest(F.lit(0), F.floor(d * F.lit(256.0) / rng)),
            )
        ).cast("int"),
    )
    return _attach_sq_model(df, model).withColumn(out_col, code).drop(
        "__mn", "__mx"
    )


def _sq_midpoint_recon(code, mn=None, mx=None):
    """Midpoint reconstruction of an SQ code array — requires the
    model columns ``__mn``/``__mx`` in scope (see
    :func:`_attach_sq_model`), or explicit model Columns via
    ``mn``/``mx`` (the observe-on-write stats pass literals).
    Row-local ``zip_with``, no shuffle."""
    if mn is None:
        mn = F.col("__mn")
    if mx is None:
        mx = F.col("__mx")
    return F.zip_with(
        F.zip_with(
            code,
            mn,
            lambda c, mn_: F.struct(c.alias("c"), mn_.alias("mn")),
        ),
        F.zip_with(mx, mn, lambda mx_, mn_: mx_ - mn_),
        lambda s, rng: s["mn"]
        + (s["c"].cast("double") + F.lit(0.5)) * rng / F.lit(256.0),
    )


def _l2_fold(a, b):
    """Squared L2 between two double arrays as a row-local fold."""
    return F.aggregate(
        F.zip_with(a, b, lambda x, y: (x - y) * (x - y)),
        F.lit(0.0),
        lambda acc, x: acc + x,
    )


def sq_topk(
    encoded: DataFrame,
    model: dict,
    query_vec: list[float],
    k: int = 10,
    id_col: str = "vec_id",
    code_col: str = "sq_code",
    round_digits: int | None = 6,
) -> DataFrame:
    """Asymmetric top-k over SQ codes: each candidate is reconstructed
    at its cell MIDPOINT (``min + (code + 0.5) * step``) and scored by
    squared L2 against the FLOAT query — the float vectors are never
    read, the same asymmetric-distance idea as PQ's ADC but with
    per-dimension resolution.  Row-local fold, global ascending top-k
    (TakeOrderedAndProject), ties by id."""
    from spectrify_spark.operators._params import _fast_lit

    q = _fast_lit([float(x) for x in query_vec])
    dist = _l2_fold(_sq_midpoint_recon(F.col(code_col)), q)
    if round_digits is not None:
        dist = F.round(dist, round_digits)
    return (
        _attach_sq_model(encoded, model)
        .select(F.col(id_col), dist.alias("sq_dist"))
        .orderBy(F.col("sq_dist").asc(), F.col(id_col))
        .limit(k)
    )


def sq_knn_join(
    encoded: DataFrame,
    model: dict,
    queries: DataFrame,
    k: int = 10,
    id_col: str = "vec_id",
    code_col: str = "sq_code",
    query_id: str = "q_id",
    query_vec: str = "q_vec",
    round_digits: int | None = 6,
    broadcast_queries: bool = True,
) -> DataFrame:
    """SQ top-k for MANY query vectors at once — the batched twin of
    :func:`sq_topk`, mirroring :func:`pq_adc_knn_join`'s shape: the
    corpus of codes never shuffles; each candidate reconstructs its
    midpoint ONCE (before the query join, so the model columns are
    projected away early), the bounded query table is broadcast, and
    only the per-query top-k window runs over (corpus x queries)
    scored rows.

    Same small-side contract as ``pq_adc_knn_join``/
    ``similarity.knn_join_topk``: with ``broadcast_queries=True``
    (default) the query batch must fit the broadcast budget;
    ``broadcast_queries=False`` scores via a partitioned cross join
    instead — no memory ceiling, same inherent O(|corpus| x |Q|)
    compute (the scale path for large batches is the indexed
    :func:`ivfsq_knn_join`).  Output: one row per (query, candidate)
    kept, columns ``(query_id, id_col, sq_dist)``."""
    from pyspark.sql import Window

    cand = (
        _attach_sq_model(encoded, model)
        .select(
            F.col(id_col),
            _sq_midpoint_recon(F.col(code_col)).alias("__recon"),
        )
    )
    dist = _l2_fold(F.col("__recon"), F.col(query_vec).cast("array<double>"))
    if round_digits is not None:
        dist = F.round(dist, round_digits)
    q_side = queries.select(query_id, query_vec)
    if broadcast_queries:
        q_side = F.broadcast(q_side)
    scored = cand.crossJoin(q_side).select(
        F.col(query_id), F.col(id_col), dist.alias("sq_dist")
    )
    w = Window.partitionBy(query_id).orderBy(
        F.col("sq_dist").asc(), F.col(id_col)
    )
    return (
        scored.withColumn("__rk", F.row_number().over(w))
        .filter(F.col("__rk") <= k)
        .drop("__rk")
    )


# ------------------------------------------------------------- IVF-SQ


#: sidecar recording the coarse centroids + SQ model of an IVF-SQ
#: index — underscore prefix keeps it invisible to parquet scans
_IVFSQ_SIDECAR = "_spectrify_ivfsq_model.json"


def write_ivfsq_index(
    df: DataFrame,
    centroids: list[tuple[int, list[float]]],
    model: dict,
    path: str,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    cell_col: str = "ivf_cell",
    shards_per_cell: int = 1,
    stats_sample_fraction: "float | None" = None,
) -> None:
    """Materialize an IVF-SQ index: coarse-quantize every vector to its
    nearest centroid cell (``similarity.assign_partitions``),
    scalar-quantize it (:func:`sq_encode`), and write ONLY
    ``(id, sq_code)`` partitioned by cell — SQ8 as a drop-in inside
    the IVF layout (the same architecture as
    :func:`write_ivfpq_index`, trading PQ's 64x compression for SQ's
    per-dimension resolution: 4x smaller than float32 with far
    smaller recall loss, the FAISS ``IVF*,SQ8`` middle ground).

    A query probes ``nprobe`` of C cell partitions (partition-pruned
    scan) and scores int8 codes instead of float vectors — scanned
    bytes drop by ~C/nprobe x ~4x.  The model (centroids + per-dim
    min/max) persists in a JSON sidecar, making probes
    self-contained."""
    from spectrify_spark.operators._sidecar import replace_json_sidecar
    from spectrify_spark.operators.similarity import assign_partitions

    assigned = assign_partitions(df, centroids, vec_col=vec_col, out_col=cell_col)
    enc = sq_encode(assigned, model, vec_col=vec_col, out_col="sq_code")
    to_write = enc.select(id_col, cell_col, "sq_code")
    # drift baselines ride the write via observe() — see the PQ twin
    handle = None
    if stats_sample_fraction is None:
        try:
            handle, to_write = _observed_compressed_stats(
                to_write, centroids, cell_col, "sq_code", model=model
            )
        except Exception:  # noqa: BLE001 — keep the read-back arm
            handle = None
    (
        _cell_shard_partitioning(
            to_write,
            cell_col,
            id_col,
            shards_per_cell,
            len(centroids),
        )
        .write.mode("overwrite")
        .partitionBy(cell_col)
        .parquet(path)
    )
    # atomic replace: a rebuild targets a LIVE index dir — a concurrent
    # probe must never read a partially-written model sidecar

    # drift baselines (r15 counts + r16 midpoint-reconstruction
    # residual, see similarity.ann_drift_report; empty-build read-back
    # degrades to no baselines, see the PQ twin)
    from spectrify_spark.operators._sidecar import partitioned_read_schema

    model_payload = {
        "cell_col": cell_col,
        "id_col": id_col,
        "centroids": [
            [int(cid), [float(x) for x in vec]] for cid, vec in centroids
        ],
        "mins": [float(x) for x in model["mins"]],
        "maxs": [float(x) for x in model["maxs"]],
        "read_schema": partitioned_read_schema(
            enc.select(id_col, cell_col, "sq_code").schema, [cell_col]
        ),
    }
    sizes, r_n, resid = _decode_or_read_stats(
        handle, df.sparkSession, path, cell_col, model_payload,
        stats_sample_fraction,
    )
    model_payload["stats"] = {
        "build_n": int(sum(sizes.values())),
        "build_cell_sizes": sizes,
        "build_residual_mean": resid,
        "residual_n": r_n,
        "residual_estimator": "adc_reconstruction",
    }
    replace_json_sidecar(df.sparkSession, path, _IVFSQ_SIDECAR, model_payload)


def append_ivfsq_index(
    df: DataFrame,
    path: str,
    vec_col: str = "embedding",
    shards_per_cell: int = 1,
) -> None:
    """Append a vector delta into an existing IVF-SQ index, assigning
    cells and encoding codes with the index's OWN stored model — the
    increment path that cannot drift from the build (same contract as
    :func:`append_ivfpq_index`).  ``shards_per_cell`` as on
    :func:`write_ivfsq_index`."""
    from spectrify_spark.operators._sidecar import read_json_sidecar
    from spectrify_spark.operators.similarity import assign_partitions

    spark = df.sparkSession
    payload = read_json_sidecar(spark, path, _IVFSQ_SIDECAR)
    if payload is None:
        raise FileNotFoundError(
            f"append_ivfsq_index: no model sidecar in {path!r} — build with "
            "write_ivfsq_index first"
        )
    centroids = [(int(c), [float(x) for x in v]) for c, v in payload["centroids"]]
    model = {"mins": payload["mins"], "maxs": payload["maxs"]}
    cell_col, id_col = payload["cell_col"], payload["id_col"]
    assigned = assign_partitions(df, centroids, vec_col=vec_col, out_col=cell_col)
    enc = sq_encode(assigned, model, vec_col=vec_col, out_col="sq_code")
    (
        _cell_shard_partitioning(
            enc.select(id_col, cell_col, "sq_code"),
            cell_col,
            id_col,
            shards_per_cell,
            len(centroids),
        )
        .write.mode("append")
        .partitionBy(cell_col)
        .parquet(path)
    )


def ivfsq_topk(
    spark,
    path: str,
    query_vec: list[float],
    k: int = 10,
    nprobe: int = 4,
    rerank_with: DataFrame | None = None,
    rerank_factor: int = 4,
    vec_col: str = "embedding",
) -> DataFrame:
    """Approximate top-k against a materialized IVF-SQ index: pick the
    ``nprobe`` cosine-nearest cells driver-side (:func:`_probe_cells`),
    scan ONLY those cell partitions (planning-time partition pruning
    via ``isin``), midpoint-reconstruct and L2-score the SQ codes
    (:func:`sq_topk`), ascending top-k.

    Output ``(id, sq_dist)``; with ``rerank_with``, the top
    ``k·rerank_factor`` SQ candidates are re-scored exactly against
    the float vectors (:func:`_exact_l2_rerank` — bounded IN-pruned
    scan, never a corpus join) and the exact-L2 top-k returns as
    ``(id, l2_dist)``.  Same metric contract as :func:`ivfpq_topk`:
    cell selection is cosine, ranking is squared L2 — normalize
    embeddings at ingest or use the re-rank lever."""
    from spectrify_spark.operators._sidecar import read_json_sidecar

    payload = read_json_sidecar(spark, path, _IVFSQ_SIDECAR)
    if payload is None:
        raise FileNotFoundError(
            f"ivfsq_topk: no model sidecar in {path!r} — build with "
            "write_ivfsq_index first"
        )
    model = {"mins": payload["mins"], "maxs": payload["maxs"]}
    cell_col, id_col = payload["cell_col"], payload["id_col"]
    probe_cells = _probe_cells(payload["centroids"], query_vec, nprobe)
    from spectrify_spark.operators._sidecar import read_indexed_parquet

    enc = read_indexed_parquet(spark, path, payload).filter(
        F.col(cell_col).isin(probe_cells)
    )
    if rerank_with is None:
        return sq_topk(
            enc, model, query_vec, k=k, id_col=id_col, code_col="sq_code"
        )
    if rerank_factor < 1:
        raise ValueError(f"rerank_factor must be >= 1, got {rerank_factor}")
    cand = sq_topk(
        enc,
        model,
        query_vec,
        k=k * rerank_factor,
        id_col=id_col,
        code_col="sq_code",
    )
    return _exact_l2_rerank(
        rerank_with, cand, query_vec, k, id_col, vec_col, "ivfsq_topk"
    )


# ----------------------------------------- batched index probes (knn)


def _query_cells_col(n_centroids: int, nprobe: int, qcol):
    """Per-query top-``nprobe`` IVF cells as a Column expression —
    the JVM twin of the driver-side :func:`_probe_cells`: score every
    centroid by ``dot(q, c) / ||c||`` (argmax-equivalent to cosine —
    the positive common factor ``1/||q||`` cannot reorder cells),
    sort descending with ties by cell id, keep ``nprobe``.  Needs the
    one-row centroid frame columns (``__cmat``/``__cnorms``/
    ``__cids``, :func:`similarity._centroid_frame`) in scope."""
    from spectrify_spark.functions.vectors import dot

    cmat, cnorms, cids = F.col("__cmat"), F.col("__cnorms"), F.col("__cids")
    scored = F.transform(
        F.sequence(F.lit(1), F.lit(n_centroids)),
        lambda i: F.struct(
            (-(dot(qcol, F.element_at(cmat, i)) / F.element_at(cnorms, i))).alias(
                "neg"
            ),
            F.element_at(cids, i).alias("cid"),
        ),
    )
    return F.transform(
        F.slice(F.array_sort(scored), 1, nprobe), lambda s: s["cid"]
    )


#: auto arm-selection BYTE budget for the batched index knn joins: the
#: query batch broadcasts while its estimated payload (per-query LUT /
#: vector doubles x batch size) stays at or below this; above it the
#: shuffle arm runs (no broadcast ceiling).  A row-count bound would
#: be wrong here — the PQ LUT is M x K doubles PER QUERY (8 KB at
#: M=4, K=256), so a fixed 1M-query cap would mean an 8 GB broadcast;
#: deriving the cap from bytes keeps the broadcast inside executor
#: budgets for every model shape.  Overridable per call via
#: ``broadcast_max_queries``.
KNN_JOIN_BROADCAST_BUDGET_BYTES = 512 * 1024 * 1024


def _index_knn_join(
    spark,
    path: str,
    payload: dict,
    queries: DataFrame,
    centroids: list,
    q_extra_cols: list,
    dist_fn,
    dist_name: str,
    enc_prep,
    k: int,
    nprobe: int,
    query_id: str,
    round_digits: "int | None",
    broadcast_queries: "bool | None" = None,
    broadcast_max_queries: "int | None" = None,
    query_payload_bytes: int = 8,
) -> DataFrame:
    """Shared engine of :func:`ivfpq_knn_join` / :func:`ivfsq_knn_join`:
    (1) each query computes its top-``nprobe`` cells JVM-side against
    the broadcast centroid frame; (2) the UNION of all queries' cells
    (bounded by C — one tiny job over the query batch) prunes the
    index scan at planning time via the partition column; (3) the
    queries join the pruned codes so every candidate is scored ONLY
    against the queries that probed its cell; (4) one per-query top-k
    window.

    Step (3) has TWO physical arms (r13 VERDICT item 1 — the query
    batch is no longer bound by the broadcast budget):

    - **broadcast** (small batches): the whole query batch broadcasts
      and joins the codes on ``array_contains(query.cells,
      code.cell)`` — the corpus of codes never moves at all;
    - **shuffle** (large batches): queries EXPLODE to (cell, query)
      rows — |Q|·nprobe rows, each carrying the query's payload (the
      PQ LUT rides along, so the shuffled bytes are nprobe × the
      batch's LUT footprint) — and equi-join the codes on the cell
      key.  A plain shuffled equi-join: AQE picks the strategy (and
      splits skewed cells), scored rows are identical to the
      broadcast arm's, and nothing requires the batch to fit in
      executor memory.  The corpus side shuffles once on its OWN
      partition column — co-partitioned with the probe table, never
      replicated per query.

    ``broadcast_queries=None`` (auto) picks the arm from the batch
    size, measured by the SAME bounded job that computes the probed
    cell union (one ``groupBy`` over |Q|·min(nprobe, C) exploded
    rows, ≤ C result rows): up to ``broadcast_max_queries`` queries
    broadcast, larger batches shuffle.  When ``broadcast_max_queries``
    is None it derives from :data:`KNN_JOIN_BROADCAST_BUDGET_BYTES` /
    ``query_payload_bytes`` (the caller-estimated broadcast bytes PER
    QUERY — the PQ wrapper passes its M·K-double LUT width, the SQ
    wrapper its dim-double vector width), so the decision tracks the
    model shape, not a fixed row count.  Explicit True/False forces an
    arm."""
    from pyspark.sql import Window

    from spectrify_spark.operators.similarity import _attach_centroids

    cell_col, id_col = payload["cell_col"], payload["id_col"]
    cells = _query_cells_col(len(centroids), nprobe, F.col("q_vec_norm_src"))
    q = (
        _attach_centroids(
            queries.withColumnRenamed(q_extra_cols[0], "q_vec_norm_src"),
            [(int(c), v) for c, v in centroids],
        )
        .select(
            query_id,
            F.col("q_vec_norm_src").cast("array<double>").alias("__qv"),
            cells.alias("__cells"),
            *q_extra_cols[1:],
        )
    )
    # one bounded job serves BOTH the planning-time partition pruning
    # (distinct probed cells, <= C rows to the driver) and the auto
    # arm decision (sum of per-cell counts / cells-per-query = |Q|)
    cell_rows = (
        q.select(F.explode("__cells").alias("__cell"))
        .groupBy("__cell")
        .agg(F.count(F.lit(1)).alias("__n"))
        .collect()
    )
    probe_cells = sorted(r["__cell"] for r in cell_rows)
    if broadcast_queries is None:
        if broadcast_max_queries is None:
            broadcast_max_queries = KNN_JOIN_BROADCAST_BUDGET_BYTES // max(
                query_payload_bytes, 1
            )
        per_query = min(nprobe, len(centroids))
        n_queries = sum(r["__n"] for r in cell_rows) // max(per_query, 1)
        broadcast_queries = n_queries <= broadcast_max_queries
    from spectrify_spark.operators._sidecar import read_indexed_parquet

    enc = enc_prep(
        read_indexed_parquet(spark, path, payload).filter(
            F.col(cell_col).isin(probe_cells)
        )
    )
    dist = dist_fn(q)
    if round_digits is not None:
        dist = F.round(dist, round_digits)
    if broadcast_queries:
        scored = enc.join(
            F.broadcast(q), F.array_contains(F.col("__cells"), F.col(cell_col))
        ).select(F.col(query_id), F.col(id_col), dist.alias(dist_name))
    else:
        exploded = q.select(
            query_id,
            F.col("__qv"),
            *q_extra_cols[1:],
            F.explode("__cells").alias("__cell"),
        )
        scored = enc.join(
            exploded, F.col(cell_col) == F.col("__cell")
        ).select(F.col(query_id), F.col(id_col), dist.alias(dist_name))
    w = Window.partitionBy(query_id).orderBy(
        F.col(dist_name).asc(), F.col(id_col)
    )
    return (
        scored.withColumn("__rk", F.row_number().over(w))
        .filter(F.col("__rk") <= k)
        .drop("__rk")
    )


def ivfpq_knn_join(
    spark,
    path: str,
    queries: DataFrame,
    k: int = 10,
    nprobe: int = 4,
    query_id: str = "q_id",
    query_vec: str = "q_vec",
    round_digits: "int | None" = 6,
    broadcast_queries: "bool | None" = None,
    broadcast_max_queries: "int | None" = None,
) -> DataFrame:
    """Batched ADC top-k against a MATERIALIZED IVF-PQ index — the
    many-query twin of :func:`ivfpq_topk` (cf. :func:`pq_adc_knn_join`
    for the index-less form).  Each query probes only its own
    ``nprobe`` cells; the scan reads the UNION of probed cells
    (planning-time partition pruning), and candidates are ADC-scored
    per probing query via the per-query LUTs.  Small query batches
    broadcast (the corpus of codes never moves); batches whose
    estimated broadcast payload (|Q| x the M·K-double LUT width)
    exceeds :data:`KNN_JOIN_BROADCAST_BUDGET_BYTES` take the shuffle
    arm — exploded (cell, query) rows equi-joined on the cell key —
    so the batch size is NOT bound by the broadcast budget (see
    :func:`_index_knn_join`; ``broadcast_queries`` forces an arm,
    ``broadcast_max_queries`` overrides the derived row cap).
    Output: ``(query_id, id, adc_dist)``, top-k per query ascending,
    ties by id — identical on both arms."""
    from spectrify_spark.operators._sidecar import read_json_sidecar

    payload = read_json_sidecar(spark, path, _IVFPQ_SIDECAR)
    if payload is None:
        raise FileNotFoundError(
            f"ivfpq_knn_join: no model sidecar in {path!r} — build with "
            "write_ivfpq_index first"
        )
    codebooks = payload["codebooks"]
    m, dsub = len(codebooks), len(codebooks[0][0])

    def dist_fn(q):
        return _adc_dist_expr(m, F.col("__lut"), F.col("pq_code"))

    def enc_prep(enc):
        return enc

    # the LUT rides the query side: inject it via a wrapper that adds
    # __lut after the centroid attach
    queries_lut = (
        _attach_codebooks(queries, codebooks)
        .select(
            query_id,
            F.col(query_vec),
            _adc_lut_expr(m, dsub, F.col(query_vec)).alias("__lut"),
        )
    )
    return _index_knn_join(
        spark,
        path,
        payload,
        queries_lut,
        payload["centroids"],
        [query_vec, "__lut"],
        dist_fn,
        "adc_dist",
        enc_prep,
        k,
        nprobe,
        query_id,
        round_digits,
        broadcast_queries=broadcast_queries,
        broadcast_max_queries=broadcast_max_queries,
        # per-query broadcast payload: the M x K LUT doubles dominate
        query_payload_bytes=8 * m * len(codebooks[0]),
    )


def ivfsq_knn_join(
    spark,
    path: str,
    queries: DataFrame,
    k: int = 10,
    nprobe: int = 4,
    query_id: str = "q_id",
    query_vec: str = "q_vec",
    round_digits: "int | None" = 6,
    broadcast_queries: "bool | None" = None,
    broadcast_max_queries: "int | None" = None,
) -> DataFrame:
    """Batched SQ top-k against a MATERIALIZED IVF-SQ index — the
    many-query twin of :func:`ivfsq_topk` (cf. :func:`sq_knn_join`
    for the index-less form).  Candidates midpoint-reconstruct ONCE
    (model broadcast on the code side, projected away before the
    query join); each query scores only the cells it probed.  Same
    two-arm join as :func:`ivfpq_knn_join`, with the per-query
    broadcast payload estimated from the dim-double query vector:
    small batches broadcast, larger ones equi-join on the exploded
    cell key — the batch size is not bound by the broadcast budget.
    Output: ``(query_id, id, sq_dist)``, top-k per query ascending,
    ties by id — identical on both arms."""
    from spectrify_spark.operators._sidecar import read_json_sidecar

    payload = read_json_sidecar(spark, path, _IVFSQ_SIDECAR)
    if payload is None:
        raise FileNotFoundError(
            f"ivfsq_knn_join: no model sidecar in {path!r} — build with "
            "write_ivfsq_index first"
        )
    model = {"mins": payload["mins"], "maxs": payload["maxs"]}

    def dist_fn(q):
        return _l2_fold(F.col("__recon"), F.col("__qv"))

    def enc_prep(enc):
        return _attach_sq_model(enc, model).select(
            payload["id_col"],
            payload["cell_col"],
            _sq_midpoint_recon(F.col("sq_code")).alias("__recon"),
        )

    return _index_knn_join(
        spark,
        path,
        payload,
        queries.select(query_id, query_vec),
        payload["centroids"],
        [query_vec],
        dist_fn,
        "sq_dist",
        enc_prep,
        k,
        nprobe,
        query_id,
        round_digits,
        broadcast_queries=broadcast_queries,
        broadcast_max_queries=broadcast_max_queries,
        # per-query broadcast payload: the dim-double query vector
        query_payload_bytes=8 * len(payload["mins"]),
    )


__all__ = [
    "deterministic_codebooks",
    "pq_encode",
    "adc_lookup_table",
    "pq_adc_scores",
    "pq_adc_topk",
    "pq_adc_knn_join",
    "pq_train",
    "sq_train",
    "sq_encode",
    "sq_topk",
    "sq_knn_join",
    "reconstruction_mse",
    "write_ivfpq_index",
    "append_ivfpq_index",
    "ivfpq_topk",
    "write_ivfsq_index",
    "append_ivfsq_index",
    "ivfsq_topk",
    "ivfpq_knn_join",
    "ivfsq_knn_join",
]
