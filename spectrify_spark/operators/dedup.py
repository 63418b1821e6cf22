"""Deduplication operators for training-data pipelines.

Exact (hash-groupBy), MinHash+LSH (shingle -> minhash -> band ->
bucket-join), SimHash (hamming buckets), n-gram Jaccard verification,
and embedding-cosine near-dup.  Every operator is DataFrame ->
DataFrame with no driver-side state; candidate generation is always
band/bucket-join shaped (shuffle on a bucket key) so cost is
O(candidates), never O(n^2) — the property that survives 100 TB.

Signature computation is the idiomatic Spark shape: explode the
shingle/token set, hash each element ONCE (xxhash64, JVM-side), and
reduce with one groupBy carrying N aggregate columns — a single
shuffle, vectorized partial aggregation, no Python.  MinHash
"permutations" are universal hashes ``(a*h + b) mod p`` over a Mersenne
prime, kept in [0, 2^31) so the arithmetic never overflows a long
(ANSI mode safe).
"""

from __future__ import annotations

import random
from collections.abc import Sequence
from functools import reduce

from pyspark.sql import Column, DataFrame, Window
from pyspark.sql import functions as F

from spectrify_spark.functions.text import shingles, tokens
from spectrify_spark.functions.vectors import cosine, simhash_bits
from spectrify_spark.obs import span

#: Mersenne prime 2^31 - 1: (p-1)^2 < 2^63, so a*h+b never overflows.
_MERSENNE_P = 2_147_483_647


def _perm_coefs(num_hashes: int, seed: int = 0xC0FFEE) -> list[tuple[int, int]]:
    rng = random.Random(seed)
    return [
        (rng.randrange(1, _MERSENNE_P), rng.randrange(0, _MERSENNE_P))
        for _ in range(num_hashes)
    ]


def dedup_exact(
    df: DataFrame, keys: Sequence[str], tie_break: Sequence[Column] | None = None
) -> DataFrame:
    """Keep one row per key.  With ``tie_break`` order columns, keeps the
    deterministic first row per key (row_number window — SQL-expressible
    for the oracle); otherwise ``dropDuplicates`` (cheaper: partial
    aggregation, no window sort)."""
    if tie_break is None:
        return df.dropDuplicates(list(keys))
    w = Window.partitionBy(*keys).orderBy(*tie_break)
    return (
        df.withColumn("__rn", F.row_number().over(w))
        .filter(F.col("__rn") == 1)
        .drop("__rn")
    )


def shingle_sets(
    df: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
    shingle_k: int = 3,
) -> DataFrame:
    """(id, sh: array<bigint>) — distinct k-shingles hashed to int64.

    The single tokenize+hash pass every downstream MinHash stage derives
    from; hashing shingles up-front means signatures, band buckets, AND
    Jaccard verification all operate on longs, never re-touching text.
    """
    return df.select(
        F.col(id_col).alias("id"),
        F.array_distinct(
            F.transform(shingles(F.col(text_col), shingle_k), lambda s: F.xxhash64(s))
        ).alias("sh"),
    )


def minhash_signatures_from_shingles(
    sh: DataFrame, num_hashes: int = 32
) -> DataFrame:
    """(id, m0..m{n-1}) MinHash signature columns from a shingle-set table:
    explode -> one groupBy with ``num_hashes`` min-aggregates over
    universal-hash permutations."""
    h = sh.select("id", F.explode("sh").alias("h0")).select(
        "id", F.pmod(F.col("h0"), F.lit(_MERSENNE_P)).alias("h")
    )
    aggs = [
        F.min(F.pmod(F.col("h") * F.lit(a) + F.lit(b), F.lit(_MERSENNE_P))).alias(
            f"m{i}"
        )
        for i, (a, b) in enumerate(_perm_coefs(num_hashes))
    ]
    return h.groupBy("id").agg(*aggs)


def minhash_signatures(
    df: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
    num_hashes: int = 32,
    shingle_k: int = 3,
) -> DataFrame:
    """(id, m0..m{n-1}) MinHash signature columns straight from text."""
    return minhash_signatures_from_shingles(
        shingle_sets(df, id_col, text_col, shingle_k), num_hashes
    )


def _band_explode(sig: DataFrame, num_hashes: int, bands: int, extra_cols: list[str] | None = None) -> DataFrame:
    """Explode a signature table into (id, band, bucket) rows; bucket is
    xxhash64 over the band's signature slice."""
    rows_per_band = num_hashes // bands
    entries = F.array(
        *[
            F.struct(
                F.lit(b).alias("band"),
                F.xxhash64(
                    *[F.col(f"m{b * rows_per_band + r}") for r in range(rows_per_band)]
                ).alias("bucket"),
            )
            for b in range(bands)
        ]
    )
    keep = ["id"] + (extra_cols or [])
    return sig.select(*keep, F.explode(entries).alias("bb")).select(
        *keep, "bb.band", "bb.bucket"
    )


def _bucket_pairs(banded: DataFrame, payload: list[str] | None = None) -> DataFrame:
    """Distinct candidate (id_a, id_b) pairs sharing any (band, bucket)."""
    a, b = banded.alias("a"), banded.alias("b")
    cols = [F.col("a.id").alias("id_a"), F.col("b.id").alias("id_b")] + [
        F.col(f"a.{c}").alias(f"{c}_a") for c in (payload or [])
    ] + [F.col(f"b.{c}").alias(f"{c}_b") for c in (payload or [])]
    return (
        a.join(
            b,
            (F.col("a.band") == F.col("b.band"))
            & (F.col("a.bucket") == F.col("b.bucket"))
            & (F.col("a.id") < F.col("b.id")),
        )
        .select(*cols)
        .distinct()
    )


def minhash_lsh_pairs(
    df: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
    num_hashes: int = 32,
    bands: int = 8,
    shingle_k: int = 3,
) -> DataFrame:
    """Near-duplicate candidate pairs via banded MinHash LSH.

    Docs sharing any band bucket become a candidate pair; the only
    wide operations are one groupBy (signatures) and one equi-join on
    (band, bucket).  Bucket skew is bounded because a hot bucket IS a
    near-dup cluster.  Returns distinct (id_a, id_b), id_a < id_b.
    """
    sig = minhash_signatures(df, id_col, text_col, num_hashes, shingle_k)
    return _bucket_pairs(_band_explode(sig, num_hashes, bands))


def near_dup_pairs(
    df: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
    num_hashes: int = 32,
    bands: int = 8,
    shingle_k: int = 3,
    threshold: float = 0.8,
    persist: bool = True,
) -> DataFrame:
    """Full near-dup pipeline sharing ONE tokenize+hash pass:
    shingle sets (persisted) -> MinHash signatures -> banded LSH
    candidates -> exact Jaccard on the hashed shingle sets.

    Compared to composing minhash_lsh_pairs + ngram_jaccard_pairs, this
    scans and tokenizes the corpus once instead of three times, and the
    verification join ships array<long> instead of array<string> — the
    difference between one pass and three over 100 TB of text.
    Returns (id_a, id_b, jaccard >= threshold).
    """
    with span("lsh", "signature"):
        sh = shingle_sets(df, id_col, text_col, shingle_k)
        if persist:
            sh = sh.persist()
        sig = minhash_signatures_from_shingles(sh, num_hashes)
        cand = _bucket_pairs(_band_explode(sig, num_hashes, bands))
    with span("lsh", "verify"):
        return (
            cand.join(
                sh.withColumnRenamed("id", "id_a").withColumnRenamed("sh", "sh_a"), "id_a"
            )
            .join(
                sh.withColumnRenamed("id", "id_b").withColumnRenamed("sh", "sh_b"), "id_b"
            )
            .withColumn(
                "jaccard",
                F.size(F.array_intersect("sh_a", "sh_b")).cast("double")
                / F.size(F.array_union("sh_a", "sh_b")).cast("double"),
            )
            .select("id_a", "id_b", "jaccard")
            .filter(F.col("jaccard") >= threshold)
        )


def ngram_jaccard_pairs(
    df: DataFrame,
    candidates: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
    shingle_k: int = 3,
    threshold: float = 0.8,
) -> DataFrame:
    """Verify candidate pairs with exact n-gram Jaccard similarity.
    Join-shaped: shingle sets travel to the pair, intersection/union are
    array expressions.  Use after LSH so the pair count is small."""
    sh = df.select(
        F.col(id_col).alias("id"),
        F.array_distinct(shingles(F.col(text_col), shingle_k)).alias("sh"),
    )
    out = (
        candidates.join(
            sh.withColumnRenamed("id", "id_a").withColumnRenamed("sh", "sh_a"), "id_a"
        )
        .join(
            sh.withColumnRenamed("id", "id_b").withColumnRenamed("sh", "sh_b"), "id_b"
        )
        .withColumn(
            "jaccard",
            F.size(F.array_intersect("sh_a", "sh_b")).cast("double")
            / F.size(F.array_union("sh_a", "sh_b")).cast("double"),
        )
        .select("id_a", "id_b", "jaccard")
    )
    return out.filter(F.col("jaccard") >= threshold)


def simhash_fingerprints(
    df: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
    bits: int = 64,
) -> DataFrame:
    """(id, fp) SimHash fingerprints: hash each token once, per-bit
    majority vote as ``bits`` sum-aggregates in ONE groupBy, pack bits
    driver-side into a bigint expression."""
    tok = df.select(
        F.col(id_col).alias("id"),
        F.explode(tokens(F.lower(F.col(text_col)))).alias("t"),
    )
    h = tok.select("id", F.xxhash64("t").alias("h"))
    votes = h.groupBy("id").agg(
        *[
            F.sum(
                F.when(F.shiftright("h", i).bitwiseAND(F.lit(1)) == 1, 1).otherwise(-1)
            ).alias(f"v{i}")
            for i in range(bits)
        ]
    )
    packed = reduce(
        lambda acc, i: acc + F.shiftleft((F.col(f"v{i}") >= 0).cast("long"), i),
        range(bits),
        F.lit(0).cast("long"),
    )
    return votes.select("id", packed.alias("fp"))


def simhash_pairs(
    df: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
    bits: int = 64,
    band_bits: int = 16,
    fingerprints: DataFrame | None = None,
) -> DataFrame:
    """SimHash near-dup candidates: pairs sharing any ``band_bits`` slice
    of the fingerprint (hamming-distance LSH), annotated with exact
    hamming distance.  Pass precomputed ``fingerprints`` (id, fp) to
    share the tokenize+64-aggregate pass with other consumers — at scale
    the fingerprint table is the thing you materialize once."""
    sig = (
        fingerprints
        if fingerprints is not None
        else simhash_fingerprints(df, id_col, text_col, bits)
    )
    n_bands = bits // band_bits
    mask = (1 << band_bits) - 1
    banded = sig.select(
        "id",
        "fp",
        F.explode(
            F.array(
                *[
                    F.struct(
                        F.lit(b).alias("band"),
                        F.shiftright("fp", b * band_bits)
                        .bitwiseAND(F.lit(mask))
                        .alias("bucket"),
                    )
                    for b in range(n_bands)
                ]
            )
        ).alias("bb"),
    ).select("id", "fp", "bb.band", "bb.bucket")
    pairs = _bucket_pairs(banded, payload=["fp"])
    return pairs.select(
        "id_a",
        "id_b",
        F.bit_count(F.col("fp_a").bitwiseXOR(F.col("fp_b"))).alias("hamming"),
    )


def embedding_near_dup(
    df: DataFrame,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    planes: list[list[float]] | None = None,
    n_planes: int = 16,
    dim: int = 64,
    threshold: float = 0.95,
    band_bits: int = 8,
) -> DataFrame:
    """Embedding-cosine near-dup: SimHash-bucket by random hyperplanes,
    verify candidates with exact cosine.  ``planes`` defaults to a
    deterministic pseudo-random set (seeded, driver-side literals).

    SIZE THE BANDS TO THE CORPUS: candidate volume is
    ~n_bands * n^2 / 2^band_bits for near-uniform fingerprints, so a
    fixed ``band_bits`` goes quadratic as n grows (the sf1 rehearsal
    measured exactly this: 10x corpus -> ~100x candidates at
    band_bits=8).  At 100 TB use wider bands (band_bits 16-24 with
    proportionally more planes) so expected bucket size stays O(1-10);
    recall per band falls as p^band_bits (p = 1 - acos(cos_threshold)/pi),
    compensated by more bands — the standard LSH (bands, rows)
    trade-off.  Defaults here are tuned for the test corpora, not for
    scale."""
    if planes is None:
        planes = deterministic_planes(n_planes, dim)
    sig = df.select(
        F.col(id_col).alias("id"),
        F.col(vec_col).alias("vec"),
        simhash_bits(F.col(vec_col), planes).alias("fp"),
    )
    n_bands = len(planes) // band_bits
    mask = (1 << band_bits) - 1
    # Candidate generation is NARROW on purpose (r8, from the sf1
    # rehearsal): the banded table carries only (id, band, bucket) —
    # never the 64-double vector — so the band self-join shuffles two
    # longs per row instead of two embeddings, pairs are deduped on
    # ids BEFORE any cosine, and each unique candidate is verified
    # exactly once after re-attaching vectors via two id-keyed joins.
    # The old shape (vectors through the exploded join, cosine per
    # band-duplicate, distinct over the wide row) measured 116s on the
    # x10 sf0.1 replica vs ~30s for this one, same output.
    banded = sig.select(
        "id",
        F.explode(
            F.array(
                *[
                    F.struct(
                        F.lit(b).alias("band"),
                        F.shiftright("fp", b * band_bits)
                        .bitwiseAND(F.lit(mask))
                        .alias("bucket"),
                    )
                    for b in range(n_bands)
                ]
            )
        ).alias("bb"),
    ).select("id", "bb.band", "bb.bucket")
    a, b = banded.alias("a"), banded.alias("b")
    cand = (
        a.join(
            b,
            (F.col("a.band") == F.col("b.band"))
            & (F.col("a.bucket") == F.col("b.bucket"))
            & (F.col("a.id") < F.col("b.id")),
        )
        .select(F.col("a.id").alias("id_a"), F.col("b.id").alias("id_b"))
        .distinct()
    )
    vecs = sig.select("id", "vec")
    return (
        cand.join(vecs.select(F.col("id").alias("id_a"), F.col("vec").alias("__va")), "id_a")
        .join(vecs.select(F.col("id").alias("id_b"), F.col("vec").alias("__vb")), "id_b")
        .select(
            "id_a",
            "id_b",
            cosine(F.col("__va"), F.col("__vb")).alias("cos"),
        )
        .filter(F.col("cos") >= threshold)
    )


def _truncate_lazy(df: DataFrame) -> DataFrame:
    """Cut ``df``'s lineage, picking the strongest available mechanism:

    - reliable ``checkpoint()`` when the context has a checkpoint dir
      (session factory wires ``SPARK_GRAFT_CHECKPOINT_DIR``): blocks
      live in fault-tolerant storage (HDFS/S3 on a cluster), so an
      executor loss mid-algorithm recovers from the checkpoint — the
      configuration to run at 100 TB;
    - ``localCheckpoint()`` otherwise: executor-local blocks, fast, but
      NOT fault-tolerant — an executor loss makes the blocks (and the
      job) unrecoverable because the lineage is gone.  Fine for
      local/test runs; not the at-scale configuration.

    The logical plan is cut immediately, but the blocks materialize as
    part of the NEXT action instead of a dedicated job per call (r17
    opt round) — for an iterative loop whose per-round driver action
    is a convergence probe, that halves the job count; for a loop with
    no per-round action at all, the whole computation rides the
    caller's single action.  Under AQE the call itself still runs the
    plan's shuffle-map stages (a one-shuffle aggregate starts one job
    here, none with AQE off); only the final stage waits.  The
    checkpointed RDD is persisted at first computation, so
    multi-consumer frames compute once.
    Superseded rounds' blocks are released by the ContextCleaner as
    their RDD references drop (reliable-checkpoint files persist until
    application exit; each is one (node,label) table, small next to the
    corpus)."""
    sc = df.sparkSession.sparkContext
    if sc.getCheckpointDir():
        return df.checkpoint(eager=False)
    return df.localCheckpoint(eager=False)


@span("lsh", "components")
def connected_components(
    pairs: DataFrame, max_iters: int = 10
) -> DataFrame:
    """Connected components over near-dup pairs — the canonicalization
    step after LSH: docs linked by any chain of pairs share a cluster,
    labeled by the minimum member id.

    Iterative label propagation (min-label spreads along edges each
    round); each iteration is one join + one groupBy, state is the
    (node, label) table — never collected to the driver.  Converges in
    O(component diameter) rounds; near-dup components are shallow, so
    ``max_iters`` = 10 covers real corpora.  Early-exits when labels
    stop changing; a round that only confirms the fixpoint does not
    count against ``max_iters``.  Raises ``ValueError`` when labels
    still change after ``max_iters`` productive rounds — they would be
    partial labels, and failing loud beats returning them silently
    (deep chains need ``graph.connected_components``).
    Input: (id_a, id_b); output: (id, cluster_id).

    Each round's label table is checkpointed (see
    :func:`_truncate_lazy` for the reliable-vs-local trade-off):
    without it the logical plan doubles per iteration (r1/r2 plan
    audits measured 475 Exchange nodes by round 10), so planning time
    grows without bound — a scale-killer at 100 TB.  Checkpointing
    keeps the per-round plan constant-size.
    """
    # LAZY truncation (r17 opt round): the plan is cut exactly as with
    # the eager form, but each round's labels materialize as part of
    # the round's own `changed` probe — one job per round instead of
    # two (eager checkpoint + separate count), and the up-front edge /
    # label builds ride the first round's job.
    edges = _truncate_lazy(
        pairs.select(F.col("id_a").alias("src"), F.col("id_b").alias("dst"))
        .unionByName(
            pairs.select(F.col("id_b").alias("src"), F.col("id_a").alias("dst"))
        )
        .distinct()
    )
    labels = _truncate_lazy(
        edges.select(F.col("src").alias("id"))
        .distinct()
        .withColumn("cluster_id", F.col("id"))
    )
    for _ in range(max_iters + 1):
        with span("lsh", "cc_round"):
            neighbor_min = (
                edges.join(labels, edges["dst"] == labels["id"])
                .groupBy("src")
                .agg(F.min("cluster_id").alias("nbr_label"))
            )
            # r18 (guide §2.4, VERDICT r17 item 5): the convergence probe
            # used to JOIN the new label table back against the old one —
            # a full extra equi-join (two shuffles) per round.  The
            # new-vs-old comparison is already available INSIDE the round's
            # own join output (a label changes iff a smaller neighbor label
            # arrived: nbr_label < cluster_id), so the round now carries a
            # one-boolean __changed column through the checkpoint and the
            # probe is a filter+limit over the frame the round materializes
            # anyway — same single job per round, no probe join.
            stepped = _truncate_lazy(
                labels.join(neighbor_min, labels["id"] == neighbor_min["src"], "left")
                .select(
                    "id",
                    F.least(
                        F.col("cluster_id"), F.coalesce("nbr_label", F.col("cluster_id"))
                    ).alias("cluster_id"),
                    (F.col("nbr_label") < F.col("cluster_id")).alias("__changed"),
                )
            )
            changed = stepped.filter(F.col("__changed")).limit(1).count()
        labels = stepped.select("id", "cluster_id")
        if changed == 0:
            return labels
    raise ValueError(
        f"connected_components: labels still changing after {max_iters} "
        "rounds; raise max_iters, or use graph.connected_components, "
        "whose rounds grow with log n instead of the component diameter"
    )


def dedup_clusters(
    df: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
    threshold: float = 0.8,
    **lsh_kwargs,
) -> DataFrame:
    """End-to-end near-dup clustering: LSH pairs -> Jaccard verify ->
    connected components -> every doc labeled (singletons keep their own
    id as cluster_id).  Filtering to ``cluster_id == id`` afterwards
    yields the canonical survivors."""
    pairs = near_dup_pairs(df, id_col, text_col, threshold=threshold, **lsh_kwargs)
    comp = connected_components(pairs)
    all_docs = df.select(F.col(id_col).alias("id"))
    return all_docs.join(comp, "id", "left").select(
        F.col("id").alias(id_col),
        F.coalesce("cluster_id", F.col("id")).alias("cluster_id"),
    )


def deterministic_planes(n_planes: int, dim: int) -> list[list[float]]:
    """Seeded pseudo-random hyperplanes (pure python, reproducible)."""
    rng = random.Random(42)
    return [[rng.gauss(0.0, 1.0) for _ in range(dim)] for _ in range(n_planes)]


def dedup_lines(
    df: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
    sep: str = "\n",
) -> DataFrame:
    """C4-style corpus-global line deduplication: a line that occurs
    anywhere in the corpus keeps only its FIRST occurrence (lowest
    ``(id, position)``); every later repeat is dropped and the
    documents are reassembled from their surviving lines — the
    boilerplate killer (nav bars, license headers, cookie banners
    repeat across millions of pages and would otherwise dominate the
    training mix).

    Output: ``(id_col, n_lines, n_kept, text_clean)`` for EVERY input
    document — ``text_clean`` is NULL when all lines were repeats.

    Scale shape: posexplode -> ONE line-keyed window (row_number over
    (id, pos) — the same shuffle a groupBy(line) would cost, but it
    keeps the winner row intact) -> doc-keyed reassembly agg -> a
    broadcast-friendly join back onto the (id, n_lines) spine so
    fully-deduped docs are not lost.  Three line/doc-keyed shuffles
    total, no all-pairs anything; hot lines (the exact boilerplate
    being removed) are bounded per-partition by row_number's early
    rank-1 filter under AQE skew splitting."""
    lines = df.select(
        F.col(id_col),
        F.posexplode(F.split(F.col(text_col), sep)).alias("__pos", "__line"),
    )
    w = Window.partitionBy("__line").orderBy(F.col(id_col), F.col("__pos"))
    kept = (
        lines.withColumn("__rn", F.row_number().over(w))
        .filter(F.col("__rn") == 1)
        .drop("__rn")
    )
    rebuilt = kept.groupBy(id_col).agg(
        F.count(F.lit(1)).alias("n_kept"),
        F.array_join(
            F.transform(
                F.array_sort(
                    F.collect_list(F.struct(F.col("__pos"), F.col("__line")))
                ),
                lambda s: s["__line"],
            ),
            sep,
        ).alias("text_clean"),
    )
    spine = df.select(
        F.col(id_col),
        F.size(F.split(F.col(text_col), sep)).alias("n_lines"),
    )
    return spine.join(rebuilt, on=id_col, how="left").select(
        id_col,
        "n_lines",
        F.coalesce("n_kept", F.lit(0)).cast("bigint").alias("n_kept"),
        "text_clean",
    )


def near_dup_pairs_incremental(
    corpus: DataFrame,
    delta: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
    num_hashes: int = 32,
    bands: int = 8,
    shingle_k: int = 3,
    threshold: float = 0.8,
    persist: bool = True,
) -> DataFrame:
    """Near-dup pairs INTRODUCED BY a delta batch against an existing
    corpus — the production dedup shape at 100 TB: a daily increment
    must not re-pair the whole corpus with itself.

    Exactly the pairs ``near_dup_pairs(corpus ∪ delta)`` would emit
    MINUS the corpus-internal ones (pinned by test): delta x corpus
    candidates come from joining the delta's band table against the
    corpus's band table (at scale the corpus side is a MATERIALIZED
    band index — write it partitioned by (band, bucket) once, and each
    increment is a partition-pruned probe, never a corpus re-scan);
    delta-internal candidates are the usual bucket self-pairs.  Both
    candidate sets are narrow id pairs deduped BEFORE the exact-Jaccard
    verify (the r8 candidate-width rule), which joins back the hashed
    shingle sets from either side.  Output: (id_a, id_b, jaccard) with
    id_a < id_b, jaccard >= threshold.  Corpus and delta ids must be
    disjoint (they are different batches by construction).

    ``persist=True`` caches the two shingle tables for the duration of
    the returned (lazy) frame's consumption; in a long-lived session
    the caller owns cleanup — call ``spark.catalog.clearCache()``
    after collecting, or pass ``persist=False`` (each shingle table is
    then recomputed once per consumer, no retained executor state).
    For repeated increments against the same corpus, use
    :func:`write_band_index` + :func:`near_dup_pairs_indexed` instead:
    the corpus is shingled exactly once, at index-build time.
    """
    sh_c = shingle_sets(corpus, id_col, text_col, shingle_k)
    sh_d = shingle_sets(delta, id_col, text_col, shingle_k)
    if persist:
        sh_c = sh_c.persist()
        sh_d = sh_d.persist()
    band_c = _band_explode(
        minhash_signatures_from_shingles(sh_c, num_hashes), num_hashes, bands
    )
    band_d = _band_explode(
        minhash_signatures_from_shingles(sh_d, num_hashes), num_hashes, bands
    )
    d, c = band_d.alias("d"), band_c.alias("c")
    cross = (
        d.join(
            c,
            (F.col("d.band") == F.col("c.band"))
            & (F.col("d.bucket") == F.col("c.bucket")),
        )
        .select(
            F.least(F.col("d.id"), F.col("c.id")).alias("id_a"),
            F.greatest(F.col("d.id"), F.col("c.id")).alias("id_b"),
        )
        # no inner distinct (r18, guide §2.1): the union's distinct
        # below dedupes the SAME keys one exchange later, and partial
        # aggregation already collapses the <= bands x duplicates
        # map-side — the extra round shuffled the deduped pairs twice
    )
    internal = _bucket_pairs(band_d)
    cand = cross.unionByName(internal).distinct()
    sh_all = sh_c.unionByName(sh_d)
    out = (
        cand.join(
            sh_all.withColumnRenamed("id", "id_a").withColumnRenamed("sh", "sh_a"),
            "id_a",
        )
        .join(
            sh_all.withColumnRenamed("id", "id_b").withColumnRenamed("sh", "sh_b"),
            "id_b",
        )
        .withColumn(
            "jaccard",
            F.size(F.array_intersect("sh_a", "sh_b")).cast("double")
            / F.size(F.array_union("sh_a", "sh_b")).cast("double"),
        )
        .select("id_a", "id_b", "jaccard")
        .filter(F.col("jaccard") >= threshold)
    )
    return out


#: Build-parameter sidecar written next to a band index.  Leading
#: underscore keeps it invisible to Spark's parquet reader (same
#: convention as _SUCCESS / _metadata).
_PARAMS_FILE = "_spectrify_index_params.json"


def _index_fs(spark, path: str):
    """(Hadoop FileSystem, Path, jvm) for ``path`` — scheme-agnostic
    (shared impl in :mod:`spectrify_spark.operators._sidecar`)."""
    from spectrify_spark.operators._sidecar import index_fs

    return index_fs(spark, path)


def write_index_params(spark, path: str, params: dict) -> None:
    """Persist LSH build parameters as a JSON sidecar inside the index
    dir, so later probes can default/validate against what the index
    was ACTUALLY built with instead of trusting the caller to repeat
    the same flags (a mismatched ``n_buckets`` silently prunes the
    wrong partitions).  Atomic replace, not truncating create: appends
    re-stamp the sidecar on a LIVE index dir, and a concurrent probe
    must never read a partially-written params file."""
    from spectrify_spark.operators._sidecar import replace_json_sidecar

    replace_json_sidecar(spark, path, _PARAMS_FILE, params)


def read_index_params(spark, path: str) -> dict | None:
    """Load the build-parameter sidecar, or ``None`` for a pre-sidecar
    (legacy) index dir."""
    from spectrify_spark.operators._sidecar import read_json_sidecar

    return read_json_sidecar(spark, path, _PARAMS_FILE)


def write_band_index(
    corpus: DataFrame,
    path: str,
    id_col: str = "doc_id",
    text_col: str = "text",
    num_hashes: int = 32,
    bands: int = 8,
    shingle_k: int = 3,
    n_buckets: int = 64,
    mode: str = "overwrite",
) -> None:
    """Materialize the corpus's LSH band index as parquet partitioned
    by ``(band, pbucket)`` — the repeated-increment dedup shape at
    100 TB: the corpus text is shingled/MinHashed exactly ONCE, here,
    and every daily delta probe after that is a partition-pruned scan
    of this index, never a corpus re-read.

    ``pbucket = pmod(bucket, n_buckets)`` is the partition column (the
    raw 64-bit bucket would create one directory per distinct value);
    the exact ``bucket`` stays as a data column for the equi-join.  A
    delta touching B distinct (band, pbucket) cells reads B of the
    ``bands * n_buckets`` partitions — for a small increment that is a
    small fraction of the index, and the pruning is visible as
    PartitionFilters in the scan plan (same gate as
    similarity.write_ivf_index).

    Each row also carries the doc's hashed shingle set ``sh`` so the
    exact-Jaccard verify reads ONLY pruned partitions — no separate
    corpus-wide shingle lookup join.  That duplicates ``sh`` once per
    band (``bands``x storage, on int64 arrays ~the size of the
    original text); the buy is that an increment's entire read
    footprint is pruned-partitions-only.

    ``mode="append"`` adds a delta's banded rows into the SAME
    partition grid — the daily-increment maintenance path: probe the
    delta with :func:`near_dup_pairs_indexed`, then append it here, so
    the corpus is never re-shingled.  Appends validate the LSH
    parameters against the sidecar written at build time (a mismatched
    ``n_buckets`` would scatter rows into the wrong partitions) and
    each append adds one file per touched (band, pbucket) cell —
    periodically fold them with :func:`compact_band_index`.
    """
    if mode not in ("overwrite", "append"):
        raise ValueError(f"write_band_index: mode must be overwrite|append, got {mode!r}")
    spark = corpus.sparkSession
    params = {
        "num_hashes": num_hashes,
        "bands": bands,
        "shingle_k": shingle_k,
        "n_buckets": n_buckets,
    }
    if mode == "append":
        existing = read_index_params(spark, path)
        if existing is None:
            # a legacy (pre-sidecar) index: appending would GUESS the
            # partition grid and then stamp a sidecar asserting the
            # caller's params were the build params — if the guess is
            # wrong, every later probe prunes the wrong partitions and
            # silently drops true pairs.  Refuse instead.
            raise ValueError(
                f"write_band_index: no params sidecar at {path!r} — cannot "
                "verify the append matches the index's build parameters. "
                "Rebuild with mode='overwrite', or (if the build params "
                "are known) stamp them first with write_index_params."
            )
        if {k: existing.get(k) for k in params} != params:
            raise ValueError(
                f"write_band_index: append params {params} do not match the "
                f"index's build params {existing}; an appended row banded "
                "with different LSH parameters is unfindable by probes"
            )
    sh = shingle_sets(corpus, id_col, text_col, shingle_k)
    banded = _band_explode(
        minhash_signatures_from_shingles(sh, num_hashes), num_hashes, bands
    )
    rows = banded.join(sh, "id").withColumn(
        "pbucket", F.pmod(F.col("bucket"), F.lit(n_buckets))
    )
    # build-time read-back schema (r17 opt round): probes skip schema
    # inference; appends carry the build's schema forward
    from spectrify_spark.operators._sidecar import partitioned_read_schema

    if mode == "append" and existing.get("read_schema"):
        params["read_schema"] = existing["read_schema"]
    else:
        params["read_schema"] = partitioned_read_schema(
            rows.schema, ["band", "pbucket"]
        )
    (
        rows
        # shuffle onto the partition key before the partitioned write:
        # without this, EVERY write task holds rows of up to
        # bands*n_buckets partitions and opens that many files — up to
        # tasks x 512 tiny files (measured 9.8s vs 1.6s at sf0.1); with
        # it, each partition dir gets one file per owning task
        .repartition(F.col("band"), F.col("pbucket"))
        .write.mode(mode)
        .partitionBy("band", "pbucket")
        .parquet(path)
    )
    # after the write: an overwrite wipes the dir first, which would
    # delete a sidecar written up front
    write_index_params(spark, path, params)


def compact_band_index(
    spark,
    src: str,
    dst: str,
) -> None:
    """Fold an appended-to band index into one file per (band, pbucket)
    partition — the OPTIMIZE step of the incremental-dedup loop.

    Every ``mode="append"`` leaves one file per touched cell, so after
    k daily increments a probe of cell C reads k small files; this
    single pass (hash-repartition on the partition key -> one task ->
    one file per cell) restores the one-file-per-cell layout of a
    fresh build.  Same src/dst guard as
    :func:`spectrify_spark.operators.layout.compact_parquet` — rewrite
    to a sibling and swap.
    """
    import os

    src_abs = os.path.realpath(src)
    dst_abs = os.path.realpath(dst)
    if (
        dst_abs == src_abs
        or dst_abs.startswith(src_abs + os.sep)
        or src_abs.startswith(dst_abs + os.sep)
    ):
        raise ValueError(
            f"compact_band_index: src {src!r} and dst {dst!r} overlap "
            "(equal or one nested under the other); mode('overwrite') "
            "would destroy the source index mid-read"
        )
    (
        spark.read.parquet(src)
        .repartition(F.col("band"), F.col("pbucket"))
        .write.mode("overwrite")
        .partitionBy("band", "pbucket")
        .parquet(dst)
    )
    # carry ALL sidecars generically (same contract as
    # compact_ivf_index): a rewrite must never strip index metadata
    from spectrify_spark.operators._sidecar import copy_sidecars

    copy_sidecars(spark, src, dst)


def near_dup_pairs_indexed(
    spark,
    index_path: str,
    delta: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
    num_hashes: int | None = None,
    bands: int | None = None,
    shingle_k: int | None = None,
    threshold: float = 0.8,
    n_buckets: int | None = None,
) -> DataFrame:
    """Near-dup pairs introduced by ``delta`` against a corpus whose
    band index was materialized by :func:`write_band_index` — output
    is identical to :func:`near_dup_pairs_incremental` on the same
    (corpus, delta), but the corpus side is a partition-pruned index
    probe instead of a full re-shingle (pinned by test).

    The delta's distinct band and pbucket value sets — at most
    ``bands`` + ``n_buckets`` driver-side values — become one IN-filter
    per partition column, so pruning happens at PLANNING time
    (PartitionFilters in the scan), not per-task.  (Per-column IN is a
    cross-product superset of the exact (band, pbucket) cell set — a
    deliberate trade: two flat IN lists instead of a Catalyst OR-tree
    that overflows the expression stack at a few hundred cells, and the
    exact 64-bit bucket equi-join discards any superset rows.)  Candidates follow the r8 width rule: the
    (band, bucket) equi-join carries ids only, pairs are
    distinct-deduped, and only then are shingle sets attached — the
    corpus side's from the SAME pruned index subset (cached, read
    once), the delta side's from the in-memory shingle table.

    LSH params default from the ``_spectrify_index_params.json``
    sidecar :func:`write_band_index` leaves in the index dir; a param
    passed explicitly that CONTRADICTS the sidecar raises (probing
    with e.g. a different ``n_buckets`` prunes the wrong partitions
    and silently drops true pairs).  A missing/unreadable index dir
    raises too — only the genuinely-empty-corpus case (dir exists,
    zero data files) degrades to delta-internal pairs.
    """
    from pyspark.errors import AnalysisException

    built_with = read_index_params(spark, index_path)
    defaults = {"num_hashes": 32, "bands": 8, "shingle_k": 3, "n_buckets": 64}
    given = {
        "num_hashes": num_hashes,
        "bands": bands,
        "shingle_k": shingle_k,
        "n_buckets": n_buckets,
    }
    resolved = {}
    for k, v in given.items():
        if v is None:
            resolved[k] = (built_with or defaults)[k]
        else:
            if built_with is not None and built_with[k] != v:
                raise ValueError(
                    f"near_dup_pairs_indexed: {k}={v} contradicts the index's "
                    f"build params {built_with} (sidecar in {index_path}); a "
                    "mismatched probe prunes the wrong partitions and "
                    "silently drops true near-dup pairs"
                )
            resolved[k] = v
    num_hashes, bands = resolved["num_hashes"], resolved["bands"]
    shingle_k, n_buckets = resolved["shingle_k"], resolved["n_buckets"]

    sh_d = shingle_sets(delta, id_col, text_col, shingle_k)
    sh_d = sh_d.persist()
    band_d = _band_explode(
        minhash_signatures_from_shingles(sh_d, num_hashes), num_hashes, bands
    ).withColumn("pbucket", F.pmod(F.col("bucket"), F.lit(n_buckets)))

    cells = [
        (r["band"], r["pbucket"])
        for r in band_d.select("band", "pbucket").distinct().collect()
    ]
    fs, hpath, _ = _index_fs(spark, index_path)
    if not fs.exists(hpath):
        raise FileNotFoundError(
            f"near_dup_pairs_indexed: index dir {index_path!r} does not "
            "exist — build it with write_band_index first (a silent "
            "empty-index fallback here would return delta-internal pairs "
            "only, i.e. wrong results for a typo'd path)"
        )
    try:
        from spectrify_spark.operators._sidecar import read_indexed_parquet

        idx = read_indexed_parquet(spark, index_path, built_with)
    except AnalysisException:
        # an EMPTY corpus writes a file-less partitioned dir (only
        # _SUCCESS + params sidecar), which schema inference rejects —
        # the first increment against a brand-new corpus must still
        # work, with delta-internal pairs as the only candidates.
        # Existence was checked above, so ONLY that case lands here;
        # permission errors / corrupt files re-raise.
        idx = spark.createDataFrame(
            [], "id bigint, sh array<bigint>, band int, bucket bigint, pbucket bigint"
        )
    if cells:
        idx = idx.filter(
            F.col("band").isin(sorted({b for b, _ in cells}))
            & F.col("pbucket").isin(sorted({p for _, p in cells}))
        )
    idx = idx.persist()

    d, c = band_d.alias("d"), idx.alias("c")
    cross = (
        d.join(
            c,
            (F.col("d.band") == F.col("c.band"))
            & (F.col("d.bucket") == F.col("c.bucket")),
        )
        .select(
            F.least(F.col("d.id"), F.col("c.id")).alias("id_a"),
            F.greatest(F.col("d.id"), F.col("c.id")).alias("id_b"),
        )
        # no inner distinct (r18): the union's distinct dedupes one
        # exchange later — see near_dup_pairs_incremental
    )
    internal = _bucket_pairs(band_d.drop("pbucket"))
    cand = cross.unionByName(internal).distinct()
    sh_all = idx.select("id", "sh").dropDuplicates(["id"]).unionByName(
        sh_d
    )
    return (
        cand.join(
            sh_all.withColumnRenamed("id", "id_a").withColumnRenamed("sh", "sh_a"),
            "id_a",
        )
        .join(
            sh_all.withColumnRenamed("id", "id_b").withColumnRenamed("sh", "sh_b"),
            "id_b",
        )
        .withColumn(
            "jaccard",
            F.size(F.array_intersect("sh_a", "sh_b")).cast("double")
            / F.size(F.array_union("sh_a", "sh_b")).cast("double"),
        )
        .select("id_a", "id_b", "jaccard")
        .filter(F.col("jaccard") >= threshold)
    )


def duplicate_span_stats(
    df: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
    window: int = 5,
    min_docs: int = 2,
    persist: bool = True,
) -> DataFrame:
    """Cross-document duplicated-span coverage — the window-granular
    approximation of exact substring deduplication (Lee et al. 2022,
    "Deduplicating Training Data Makes Language Models Better"): a
    k-token window is DUPLICATED when it occurs verbatim in >=
    ``min_docs`` distinct documents, and each document is scored by
    the fraction of its token positions covered by at least one
    duplicated window.  ``dedup_lines`` catches repeated LINES; this
    catches repeated passages regardless of line structure — the
    boilerplate / licence-block / spam-template signal used to gate or
    trim documents before training.

    Scale shape: one posexplode of k-token windows (reusing
    functions.text.shingles, which binds the token array once per
    row), ONE groupBy on the window string for the cross-corpus
    occurrence count (map-side partial agg before its single shuffle),
    a window-keyed join back, then a bounded offsets explode (x k,
    only on matched windows) + per-doc distinct-position count.  No
    all-pairs stage; every shuffle keys on the window value or the doc
    id.  Documents shorter than ``window`` tokens contribute their
    full token string as one window (the shingles fallback), so exact
    short-doc duplicates still register.

    Output: (id_col, n_tokens, n_shared_windows, covered_tokens,
    dup_frac), one row per input document; dup_frac is rounded to 4
    places for engine-portable comparison.

    Multi-consumer frames: the MATCHED window set feeds both the
    per-doc window count and the coverage union, so it is persisted by
    default.  The SQL CacheManager pins that cached relation until an
    explicit unpersist — cleanup is CALLER-OWNED (the dedup-module
    convention): ``spark.catalog.clearCache()`` after consuming the
    result, or ``persist=False`` for repeated calls in a long-lived
    session (each call re-reads the corpus twice instead of pinning a
    new cache entry).  The raw exploded window frame is
    deliberately NOT persisted: it is tokens-per-corpus sized, and
    recomputing its explode from a 2-column pruned scan is cheaper at
    100 TB than materializing it (matched windows are bounded by
    duplicated content instead).
    """
    # NULL text is an empty document, not a -1-token one (F.size on a
    # NULL array returns -1 under the non-ANSI default)
    text = F.coalesce(F.col(text_col), F.lit(""))
    toks_n = df.select(
        F.col(id_col),
        F.size(tokens(F.lower(text))).cast("bigint").alias("n_tokens"),
    )
    wins = df.select(
        F.col(id_col),
        F.posexplode(shingles(text, window)).alias("pos", "w"),
    ).filter(F.col("w") != "")
    shared = (
        wins.groupBy("w")
        .agg(F.count_distinct(F.col(id_col)).alias("__nd"))
        .filter(F.col("__nd") >= min_docs)
        .select("w")
    )
    hits = wins.join(shared, "w")
    if persist:
        hits = hits.persist()
    per_doc = hits.groupBy(id_col).agg(
        F.count(F.lit(1)).cast("bigint").alias("n_shared_windows")
    )
    covered = (
        hits.join(toks_n, id_col)
        .select(
            F.col(id_col),
            F.explode(
                F.sequence(
                    F.col("pos").cast("bigint"),
                    F.least(
                        F.col("pos") + F.lit(window - 1), F.col("n_tokens") - 1
                    ).cast("bigint"),
                )
            ).alias("__p"),
        )
        .distinct()
        .groupBy(id_col)
        .agg(F.count(F.lit(1)).cast("bigint").alias("covered_tokens"))
    )
    return (
        toks_n.join(per_doc, id_col, "left")
        .join(covered, id_col, "left")
        .select(
            F.col(id_col),
            F.col("n_tokens"),
            F.coalesce("n_shared_windows", F.lit(0).cast("bigint")).alias(
                "n_shared_windows"
            ),
            F.coalesce("covered_tokens", F.lit(0).cast("bigint")).alias(
                "covered_tokens"
            ),
            F.round(
                F.when(
                    F.col("n_tokens") > 0,
                    F.coalesce("covered_tokens", F.lit(0)) / F.col("n_tokens"),
                ).otherwise(F.lit(0.0)),
                4,
            ).alias("dup_frac"),
        )
    )
