"""Similarity-search operator tests."""

from spectrify_spark.operators import similarity as SIM

VECS = [
    (0, [1.0, 0.0, 0.0]),
    (1, [0.9, 0.1, 0.0]),
    (2, [0.0, 1.0, 0.0]),
    (3, [0.0, 0.0, 1.0]),
    (4, [0.7, 0.7, 0.0]),
]


def _df(spark):
    return spark.createDataFrame(VECS, ["vec_id", "embedding"])


def test_brute_force_topk_order(spark):
    out = SIM.brute_force_topk(_df(spark), [1.0, 0.0, 0.0], k=3)
    ids = [r.vec_id for r in out.collect()]
    assert ids == [0, 1, 4]


def test_knn_join_topk_per_query(spark):
    corpus = _df(spark)
    queries = spark.createDataFrame(
        [(100, [1.0, 0.0, 0.0]), (200, [0.0, 1.0, 0.0])], ["q_id", "q_vec"]
    )
    out = SIM.knn_join_topk(corpus, queries, k=2)
    by_q = {}
    for r in out.collect():
        by_q.setdefault(r.q_id, []).append(r.vec_id)
    assert by_q[100] == [0, 1]
    assert by_q[200][0] == 2


def test_ivf_full_probe_matches_brute_force(spark):
    df = _df(spark)
    cents = SIM.choose_centroids(df, n_centroids=3)
    assigned = SIM.assign_partitions(df, cents)
    exact = [r.vec_id for r in SIM.brute_force_topk(df, [1.0, 0.0, 0.0], k=2).collect()]
    approx = [
        r.vec_id
        for r in SIM.ivf_topk(assigned, cents, [1.0, 0.0, 0.0], k=2, nprobe=3).collect()
    ]
    assert approx == exact  # probing every cell == exact search


def test_ivf_knn_join_full_probe_matches_knn_join(spark):
    """Probing every cell makes the batched IVF path exact — it must
    reproduce knn_join_topk per query, which pins the probe-table
    explode, the cell equi-join, and the per-query window."""
    corpus = _df(spark)
    queries = spark.createDataFrame(
        [(100, [1.0, 0.0, 0.0]), (200, [0.0, 1.0, 0.0])], ["q_id", "q_vec"]
    )
    cents = SIM.choose_centroids(corpus, n_centroids=3)
    assigned = SIM.assign_partitions(corpus, cents)
    exact = {}
    for r in SIM.knn_join_topk(corpus, queries, k=2).collect():
        exact.setdefault(r.q_id, []).append(r.vec_id)
    approx = {}
    out = SIM.ivf_knn_join(assigned, cents, queries, k=2, nprobe=3)
    for r in out.orderBy("q_id", "vec_id").collect():
        approx.setdefault(r.q_id, []).append(r.vec_id)
    assert {q: sorted(v) for q, v in approx.items()} == {
        q: sorted(v) for q, v in exact.items()
    }


def test_ivf_knn_join_partial_probe_respects_cells(spark):
    """nprobe=1 must probe exactly the query's NEAREST cell — the one
    an independent argmax over the centroid list picks, with the
    assign_partitions tie rule (first-listed on an exact score tie).
    Asserting the cell IDENTITY (not just uniqueness) pins probe
    selection itself, and requiring non-empty output rules out a
    vacuous pass on an empty probed cell."""
    import math

    corpus = _df(spark)
    qv = [1.0, 0.0, 0.0]
    queries = spark.createDataFrame([(100, qv)], ["q_id", "q_vec"])
    cents = SIM.choose_centroids(corpus, n_centroids=3)
    assigned = SIM.assign_partitions(corpus, cents)
    cell_of = {r.vec_id: r.ivf_cell for r in assigned.collect()}

    # independent probe-cell computation: argmax of dot(q, c)/||c||,
    # first-listed wins ties — the assign_partitions contract
    def score(vec):
        n = math.sqrt(sum(x * x for x in vec)) or 1.0
        return sum(a * b for a, b in zip(qv, vec)) / n

    best = max(range(len(cents)), key=lambda i: (score(cents[i][1]), -i))
    expect_cell = cents[best][0]

    out = SIM.ivf_knn_join(assigned, cents, queries, k=5, nprobe=1).collect()
    assert out, "probed cell produced no candidates"
    cells = {cell_of[r.vec_id] for r in out}
    assert cells == {expect_cell}


def test_kmeans_refine_reduces_scatter(spark):
    """Two well-separated blobs: refined centroids must land near the
    blob means and assign each blob to one cell."""
    blob_a = [(i, [10.0 + 0.1 * i, 0.0]) for i in range(5)]
    blob_b = [(100 + i, [0.0, 10.0 + 0.1 * i]) for i in range(5)]
    df = spark.createDataFrame(blob_a + blob_b, ["vec_id", "embedding"])
    seeds = SIM.choose_centroids(df, n_centroids=2)
    refined = SIM.kmeans_refine(df, seeds, iters=3)
    sizes = {r.ivf_cell: r.n_vecs for r in SIM.cluster_sizes(df, refined).collect()}
    assert sorted(sizes.values()) == [5, 5]  # one cell per blob
    # each refined centroid is dominated by one axis (cosine-pure blobs)
    for _, vec in refined:
        assert max(vec) > 5 * (min(vec) + 1e-9) or min(vec) == 0.0


def test_ivf_partial_probe_is_subset_scan(spark):
    df = _df(spark)
    cents = SIM.choose_centroids(df, n_centroids=3)
    assigned = SIM.assign_partitions(df, cents)
    out = SIM.ivf_topk(assigned, cents, [1.0, 0.0, 0.0], k=5, nprobe=1)
    assert 0 < out.count() <= 5


def test_ivf_index_append_and_sidecar(spark, sf_dir, tmp_path):
    """IVF index maintenance mirrors the band index: centroids persist
    in a sidecar, appends assign with the stored centroids and leave
    the index row-identical to a from-scratch build, compaction folds
    to one file per cell, and mismatched append centroids raise."""
    import glob

    import pytest
    from pyspark.sql import functions as F

    from spectrify_spark.operators import similarity as SIM
    from spectrify_spark.sources.parquet import read_table

    e = read_table(spark, f"{sf_dir}/embeddings.parquet")
    base = e.filter(F.col("vec_id") < 300)
    delta = e.filter(F.col("vec_id") >= 300)
    cents = SIM.choose_centroids(base, n_centroids=4)
    path = str(tmp_path / "ivf")
    SIM.write_ivf_index(base, cents, path)
    assert SIM.read_ivf_centroids(spark, path) == [
        (c, [float(x) for x in v]) for c, v in cents
    ]

    SIM.append_ivf_index(delta, path)
    scratch = str(tmp_path / "scratch")
    SIM.write_ivf_index(e, cents, scratch)

    def rowset(p):
        return {
            (r.vec_id, r.ivf_cell)
            for r in spark.read.parquet(p).select("vec_id", "ivf_cell").collect()
        }

    assert rowset(path) == rowset(scratch)

    compacted = str(tmp_path / "compacted")
    SIM.compact_ivf_index(spark, path, compacted)
    assert rowset(compacted) == rowset(scratch)
    cells = glob.glob(f"{compacted}/ivf_cell=*")
    assert cells and all(len(glob.glob(f"{c}/*.parquet")) == 1 for c in cells)
    assert SIM.read_ivf_centroids(spark, compacted) == SIM.read_ivf_centroids(
        spark, path
    )

    other = SIM.choose_centroids(base, n_centroids=3)
    with pytest.raises(ValueError, match="stored build"):
        SIM.write_ivf_index(delta, other, path, mode="append")
    with pytest.raises(FileNotFoundError):
        SIM.append_ivf_index(delta, str(tmp_path / "nope"))


def test_compact_ivf_index_rejects_overlapping_paths(spark, tmp_path):
    """Guard both nesting directions: dst under src destroys the index
    mid-read; src under dst means overwriting dst deletes src itself."""
    import pytest

    from spectrify_spark.operators.similarity import compact_ivf_index

    src = str(tmp_path / "idx" / "inner")
    for dst in (src, src + "/sub", str(tmp_path / "idx")):
        with pytest.raises(ValueError, match="overlap"):
            compact_ivf_index(spark, src, dst)


def test_ann_drift_report_baselines_and_triggers(spark, sf_dir, tmp_path):
    """r15 (VERDICT r14 item 1): write_ivf_index stamps build-time
    drift baselines (count, per-cell sizes, mean assigned-cell
    residual) into the sidecar; appends carry them through untouched;
    ann_drift_report compares the CURRENT index state against them and
    recommends the publish_dir rebuild when a trigger fires.  Pins:
    fresh build -> no rebuild; same-distribution 100% append -> the
    delta_fraction trigger (and ONLY it: share ~1/C, residual_ratio
    ~1.08 on isotropic data); shifted append -> the hot-cell share
    trigger; threshold params honored; legacy sidecar (no stats) ->
    conservative rebuild_recommended."""
    from pyspark.sql import functions as F

    from spectrify_spark.operators import similarity as SIM
    from spectrify_spark.operators._sidecar import (
        read_json_sidecar,
        replace_json_sidecar,
    )
    from spectrify_spark.sources.parquet import read_table

    e = read_table(spark, f"{sf_dir}/embeddings.parquet").select(
        "vec_id", "embedding"
    )
    base = e.filter(F.col("vec_id") % 2 == 0)
    delta = e.filter(F.col("vec_id") % 2 == 1)
    cents = SIM.kmeans_refine(
        base, SIM.choose_centroids(base, n_centroids=8), iters=2
    )
    path = str(tmp_path / "idx")
    SIM.write_ivf_index(base, cents, path)

    # build baselines stamped and self-consistent
    sc = read_json_sidecar(spark, path, SIM._IVF_SIDECAR)
    st = sc["stats"]
    assert st["build_n"] == base.count()
    assert sum(st["build_cell_sizes"].values()) == st["build_n"]
    assert 0.0 < st["build_residual_mean"] < 1.0

    fresh = SIM.ann_drift_report(spark, path)
    assert fresh["rebuild_recommended"] is False
    assert fresh["delta_fraction"] == 0.0
    assert abs(fresh["residual_ratio"] - 1.0) < 1e-9

    # same-distribution 100% append: only the delta_fraction trigger
    SIM.append_ivf_index(delta, path)
    sc2 = read_json_sidecar(spark, path, SIM._IVF_SIDECAR)
    assert sc2["stats"] == st  # appends never touch the baselines
    rep = SIM.ann_drift_report(spark, path)
    assert rep["appended_n"] == delta.count()
    assert rep["delta_fraction"] > 0.5
    assert rep["rebuild_recommended"] is True
    assert len(rep["reasons"]) == 1 and "delta_fraction" in rep["reasons"][0]
    assert rep["max_cell_appended_share"] < 0.5  # spreads ~1/C
    assert rep["residual_ratio"] < 1.25
    # thresholds are parameters: raising the delta bound silences it
    assert (
        SIM.ann_drift_report(spark, path, max_delta_fraction=2.0)[
            "rebuild_recommended"
        ]
        is False
    )

    # shifted append: all mass lands in the offset direction's cell ->
    # the hot-cell share trigger fires even with the delta bound raised
    shifted = delta.select(
        "vec_id",
        F.transform(
            "embedding", lambda x: (x + F.lit(2.0)).cast("float")
        ).alias("embedding"),
    )
    path2 = str(tmp_path / "idx2")
    SIM.write_ivf_index(base, cents, path2)
    SIM.append_ivf_index(shifted, path2)
    rep2 = SIM.ann_drift_report(spark, path2, max_delta_fraction=2.0)
    assert rep2["max_cell_appended_share"] > 0.5
    assert rep2["rebuild_recommended"] is True
    assert any("hot cell" in r or "concentrates" in r for r in rep2["reasons"])

    # legacy sidecar without stats: unmeasurable -> conservative rebuild
    sc3 = {k: v for k, v in sc2.items() if k != "stats"}
    replace_json_sidecar(spark, path2, SIM._IVF_SIDECAR, sc3)
    rep3 = SIM.ann_drift_report(spark, path2)
    assert rep3["rebuild_recommended"] is True
    assert any("unmeasurable" in r for r in rep3["reasons"])
    assert rep3["delta_fraction"] is None

    # no sidecar at all: loud, not a guess
    import pytest

    with pytest.raises(FileNotFoundError):
        SIM.ann_drift_report(spark, str(tmp_path / "nope"))


def test_ann_drift_report_reads_pq_and_sq_sidecars(spark, sf_dir, tmp_path):
    """The report works against the IVF-PQ / IVF-SQ model sidecars too.
    Since r16 (VERDICT r15 item 5) the compressed families carry a
    REAL residual baseline — vectors reconstructed from their codes
    (PQ codeword concat / SQ cell midpoints) — so residual_ratio is
    non-None for all three families: ~1.0 on a fresh build (same
    estimator, same data on both ends of the ratio), measured again at
    diagnosis time; the delta_fraction trigger fires after an append
    exactly as before."""
    from pyspark.sql import functions as F

    from spectrify_spark.operators import quantization as Q
    from spectrify_spark.operators import similarity as SIM
    from spectrify_spark.sources.parquet import read_table

    e = read_table(spark, f"{sf_dir}/embeddings.parquet").select(
        "vec_id", "embedding"
    )
    base = e.filter(F.col("vec_id") % 2 == 0)
    delta = e.filter(F.col("vec_id") % 2 == 1)
    cents = SIM.choose_centroids(base, n_centroids=4)

    pq_path = str(tmp_path / "ivfpq")
    books = Q.deterministic_codebooks(4, 16, 16)
    Q.write_ivfpq_index(base, cents, books, pq_path)
    fresh = SIM.ann_drift_report(spark, pq_path)
    assert fresh["build_n"] == base.count()
    assert fresh["rebuild_recommended"] is False
    assert 0.0 < fresh["build_residual_mean"] <= 1.5
    assert abs(fresh["residual_ratio"] - 1.0) < 1e-9  # same estimator
    assert fresh["residual_estimator"] == "adc_reconstruction"
    Q.append_ivfpq_index(delta, pq_path)
    rep = SIM.ann_drift_report(spark, pq_path)
    assert rep["appended_n"] == delta.count()
    assert rep["rebuild_recommended"] is True
    assert rep["residual_ratio"] is not None  # measured post-append too

    sq_path = str(tmp_path / "ivfsq")
    Q.write_ivfsq_index(base, cents, Q.sq_train(base), sq_path)
    fresh_sq = SIM.ann_drift_report(spark, sq_path)
    assert abs(fresh_sq["residual_ratio"] - 1.0) < 1e-9
    assert fresh_sq["residual_estimator"] == "adc_reconstruction"
    Q.append_ivfsq_index(delta, sq_path)
    rep2 = SIM.ann_drift_report(spark, sq_path)
    assert rep2["delta_fraction"] > 0.5
    assert rep2["rebuild_recommended"] is True
    assert rep2["residual_ratio"] is not None

    # pre-r16 compressed sidecar (build_residual_mean: null) degrades
    # to the count tiers exactly as before — no crash, no residual
    from spectrify_spark.operators._sidecar import (
        read_json_sidecar,
        replace_json_sidecar,
    )

    old = read_json_sidecar(spark, sq_path, Q._IVFSQ_SIDECAR)
    old["stats"]["build_residual_mean"] = None
    replace_json_sidecar(spark, sq_path, Q._IVFSQ_SIDECAR, old)
    rep3 = SIM.ann_drift_report(spark, sq_path)
    assert rep3["residual_ratio"] is None
    assert rep3["rebuild_recommended"] is True  # delta trigger still fires


def test_compressed_residual_reconstruction_matches_python(spark):
    """Pins the r16 reconstruction path itself: the Spark-side PQ
    codeword-concat and SQ midpoint reconstructions must equal the
    plain-python replicas element-for-element, and
    _compressed_residual_mean must equal the residual computed from
    those reconstructions by hand."""
    import math

    import pytest
    from pyspark.sql import functions as F

    from spectrify_spark.operators import quantization as Q

    rows = [
        (i, [math.sin(i * 7 + j) * 0.2 for j in range(8)]) for i in range(12)
    ]
    df = spark.createDataFrame(
        rows, "vec_id bigint, embedding array<double>"
    )
    books = Q.deterministic_codebooks(2, 4, 4)

    enc = Q.pq_encode(df, books, out_col="pq_code")
    cb = Q._codebook_frame(spark, books)
    got = {
        r["vec_id"]: r["recon"]
        for r in enc.crossJoin(F.broadcast(cb))
        .withColumn("recon", Q._pq_recon_expr(F.col("pq_code")))
        .select("vec_id", "recon", "pq_code")
        .collect()
    }
    codes = {r["vec_id"]: r["pq_code"] for r in enc.collect()}
    for vid, code in codes.items():
        want = [x for mi, c in enumerate(code) for x in books[mi][c]]
        assert got[vid] == pytest.approx(want, abs=1e-12), vid

    model = Q.sq_train(df)
    enc_sq = Q.sq_encode(df, model, out_col="sq_code")
    mf = Q._sq_model_frame(spark, model)
    got_sq = {
        r["vec_id"]: (r["recon"], r["sq_code"])
        for r in enc_sq.crossJoin(F.broadcast(mf))
        .withColumn("recon", Q._sq_midpoint_recon(F.col("sq_code")))
        .select("vec_id", "recon", "sq_code")
        .collect()
    }
    for vid, (recon, code) in got_sq.items():
        want = [
            model["mins"][j]
            + (code[j] + 0.5) * (model["maxs"][j] - model["mins"][j]) / 256.0
            for j in range(8)
        ]
        assert recon == pytest.approx(want, abs=1e-12), vid


def test_compact_ivf_index_sharded(spark, sf_dir, tmp_path):
    """compact_ivf_index(shards_per_cell>1): a skewed index compacted
    with the default would collapse its hot cell back into one file
    (one write straggler, one unsplittable mapper for later shuffle-arm
    probes); the shard arm spreads each cell over ~N id-hash files and
    preserves rows + sidecars exactly."""
    import glob

    from pyspark.sql import functions as F

    from spectrify_spark.operators import similarity as SIM
    from spectrify_spark.sources.parquet import read_table

    e = read_table(spark, f"{sf_dir}/embeddings.parquet").select(
        "vec_id", "embedding"
    )
    cents = SIM.choose_centroids(e, n_centroids=2)
    src = str(tmp_path / "src")
    SIM.write_ivf_index(e, cents, src)
    SIM.append_ivf_index(e.limit(0), src)  # no-op append keeps sidecar

    dst = str(tmp_path / "dst")
    SIM.compact_ivf_index(spark, src, dst, shards_per_cell=4)
    cells = glob.glob(f"{dst}/ivf_cell=*")
    assert cells
    # at least one cell fans out past a single file
    assert any(
        len(glob.glob(f"{c}/*.parquet")) > 1 for c in cells
    ), [glob.glob(f"{c}/*.parquet") for c in cells]
    # rows identical, sidecar carried
    src_rows = {r.vec_id for r in spark.read.parquet(src).collect()}
    dst_rows = {r.vec_id for r in spark.read.parquet(dst).collect()}
    assert src_rows == dst_rows
    assert SIM.read_ivf_centroids(spark, dst) == [
        (c, [float(x) for x in v]) for c, v in cents
    ]

    import pytest

    with pytest.raises(ValueError, match="shards_per_cell"):
        SIM.compact_ivf_index(spark, src, str(tmp_path / "d2"),
                              shards_per_cell=0)
    with pytest.raises(ValueError, match="shard id column"):
        SIM.compact_ivf_index(spark, src, str(tmp_path / "d3"),
                              shards_per_cell=2, id_col="nope")


def test_empty_index_build_records_no_baselines(spark, tmp_path):
    """An EMPTY build writes no parquet files, so the r15 stats
    read-back cannot infer a schema — the write must still succeed,
    recording no baselines, and ann_drift_report must degrade to the
    conservative rebuild recommendation (the same contract as a legacy
    no-stats sidecar)."""
    from pyspark.sql import functions as F

    from spectrify_spark.operators import similarity as SIM

    e = spark.createDataFrame([], "vec_id long, embedding array<float>")
    cents = [(0, [1.0, 0.0]), (1, [0.0, 1.0])]
    path = str(tmp_path / "empty")
    SIM.write_ivf_index(e, cents, path)  # must not raise
    from spectrify_spark.operators._sidecar import read_json_sidecar

    st = read_json_sidecar(spark, path, SIM._IVF_SIDECAR)["stats"]
    assert st["build_n"] == 0 and st["build_residual_mean"] is None
    rep = SIM.ann_drift_report(spark, path)
    assert rep["rebuild_recommended"] is True
    assert any("unmeasurable" in r for r in rep["reasons"])


def test_attach_params_fallback_matches_literal_path(spark, monkeypatch):
    """r18: small parameter tables inline as literal columns; models
    past PARAM_LITERAL_MAX keep the broadcast one-row-frame crossJoin.
    Both arms must assign identical cells (the fallback is the
    production-sized-model path, so it has to stay live and correct)."""
    from spectrify_spark.operators import _params
    from spectrify_spark.operators import similarity as SIM
    from spectrify_spark.sources.parquet import read_table

    e = read_table(spark, "/root/testdata/sf0.001/embeddings.parquet").select(
        "vec_id", "embedding"
    )
    cents = SIM.choose_centroids(e, n_centroids=4)

    lit_rows = sorted(
        (r.vec_id, r.ivf_cell)
        for r in SIM.assign_partitions(e, cents).collect()
    )
    monkeypatch.setattr(_params, "PARAM_LITERAL_MAX", 0)
    fb = SIM.assign_partitions(e, cents)
    fb_rows = sorted((r.vec_id, r.ivf_cell) for r in fb.collect())
    assert fb_rows == lit_rows
    # the fallback really is the broadcast-frame join
    plan = fb._jdf.queryExecution().executedPlan().toString()
    assert "BroadcastExchange" in plan


def test_attach_params_literal_boundary_and_name_collision(spark):
    """Exactly PARAM_LITERAL_MAX scalars fold in as a literal column; one
    more takes the broadcast arm.  Both arms assign the same cells, and
    both refuse a parameter name the frame already has (compared
    case-insensitively) instead of replacing or duplicating it."""
    import pytest

    from spectrify_spark.operators._params import PARAM_LITERAL_MAX, attach_params

    df = spark.range(2).withColumnRenamed("id", "P")
    for n, arm in ((PARAM_LITERAL_MAX, False), (PARAM_LITERAL_MAX + 1, True)):
        vals = [float(i) for i in range(n)]
        out = attach_params(df, {"w": vals}, "w array<double>")
        plan = out._jdf.queryExecution().executedPlan().toString()
        assert ("BroadcastExchange" in plan) is arm, n
        assert [r.w for r in out.collect()] == [vals, vals]
        with pytest.raises(ValueError, match="already exist"):
            attach_params(df, {"w": vals, "p": 1.0}, "w array<double>, p double")


def test_fast_literal_bit_identical_to_per_element_lit(spark):
    """r18: parameter literals are built as ONE parsed SQL expression
    (per-element F.lit cost ~0.9s of py4j driver time per codebook).
    The parsed values must be BIT-identical to the F.lit path for
    doubles (repr round-trip), ints, bools, strings, and nesting; the
    non-finite fallback must still go through F.lit."""
    import math
    import random

    from pyspark.sql import functions as F

    from spectrify_spark.operators._params import _fast_lit

    random.seed(7)
    vals = (
        [random.uniform(-1e6, 1e6) for _ in range(100)]
        + [0.1, 2 / 3, 1e-308, 1.7976931348623157e308, -0.0, 5e-324]
    )
    got = spark.range(1).select(_fast_lit(vals).alias("a")).collect()[0]["a"]
    want = spark.range(1).select(F.lit(vals).alias("a")).collect()[0]["a"]
    assert all(
        x == y and math.copysign(1, x) == math.copysign(1, y)
        for x, y in zip(got, want)
    )
    nested = [[1, 2], [3, 4]]
    gn = spark.range(1).select(_fast_lit(nested).alias("a")).collect()[0]["a"]
    assert [list(x) for x in gn] == nested
    s = ["it's", "a\\b", "plain"]
    gs = spark.range(1).select(_fast_lit(s).alias("a")).collect()[0]["a"]
    assert list(gs) == s
    # non-finite floats fall back to the F.lit path, values preserved
    nf = [float("inf"), float("-inf"), 1.0]
    gnf = spark.range(1).select(_fast_lit(nf).alias("a")).collect()[0]["a"]
    assert gnf[0] == float("inf") and gnf[1] == float("-inf") and gnf[2] == 1.0


def test_fast_literal_strings_exact_under_escaped_string_literals(spark):
    """String leaves never go through the SQL parser: with
    ``spark.sql.parser.escapedStringLiterals=true`` a quoted literal
    keeps its backslashes verbatim, so an escaped form would parse back
    as a different string.  `_sql_literal` refuses strings and
    `_fast_lit` / `attach_params` fall back to `F.lit`, exact under
    either setting."""
    import pytest

    from spectrify_spark.operators._params import _fast_lit, _sql_literal, attach_params

    with pytest.raises(ValueError):
        _sql_literal(["a", "b"])
    s = ["it's", "a\\b", "c\\'d", "\\", "plain"]
    conf = "spark.sql.parser.escapedStringLiterals"
    prev = spark.conf.get(conf)
    try:
        for setting in ("true", "false"):
            spark.conf.set(conf, setting)
            got = spark.range(1).select(_fast_lit(s).alias("a")).collect()[0]["a"]
            assert list(got) == s, setting
            row = attach_params(
                spark.range(1), {"w": s, "t": "x\\y"}, "w array<string>, t string"
            ).collect()[0]
            assert (list(row.w), row.t) == (s, "x\\y"), setting
    finally:
        spark.conf.set(conf, prev)
