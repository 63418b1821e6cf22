"""Dedup operator tests on hand-built corpora with known duplicates."""

from pyspark.sql import functions as F

from spectrify_spark.operators import dedup

DOCS = [
    (1, "the quick brown fox jumps over the lazy dog near the river bank"),
    (2, "the quick brown fox jumps over the lazy dog near the river bank"),  # exact dup of 1
    (3, "the quick brown fox jumps over the lazy dog near the river shore"),  # near dup of 1
    (4, "completely different content about spark query engines and shuffles"),
    (5, "unrelated text mentioning embeddings vectors and cosine distance"),
]


def _docs(spark):
    return spark.createDataFrame(DOCS, ["doc_id", "text"])


def test_dedup_exact_keeps_first(spark):
    df = spark.createDataFrame(
        [(1, "a", 10), (2, "a", 5), (3, "b", 7)], ["id", "k", "v"]
    )
    out = dedup.dedup_exact(df, ["k"], tie_break=[F.col("v"), F.col("id")])
    assert {(r.k, r.id) for r in out.collect()} == {("a", 2), ("b", 3)}


def test_minhash_finds_exact_and_near_dups(spark):
    pairs = dedup.minhash_lsh_pairs(_docs(spark), num_hashes=32, bands=16)
    got = {(r.id_a, r.id_b) for r in pairs.collect()}
    assert (1, 2) in got  # identical docs always collide in every band
    assert (1, 3) in got or (2, 3) in got  # near dup collides in some band
    assert (4, 5) not in got


def test_jaccard_verification_scores(spark):
    docs = _docs(spark)
    cand = spark.createDataFrame([(1, 2), (1, 4)], ["id_a", "id_b"])
    out = dedup.ngram_jaccard_pairs(docs, cand, threshold=0.0)
    scores = {(r.id_a, r.id_b): r.jaccard for r in out.collect()}
    assert scores[(1, 2)] == 1.0
    assert scores[(1, 4)] < 0.2


def test_near_dup_pairs_single_pass_pipeline(spark):
    out = dedup.near_dup_pairs(_docs(spark), num_hashes=32, bands=16, threshold=0.5)
    scores = {(r.id_a, r.id_b): r.jaccard for r in out.collect()}
    assert scores.get((1, 2)) == 1.0  # exact dup -> jaccard 1 on hashed shingles
    assert all(j >= 0.5 for j in scores.values())
    assert (4, 5) not in scores


def test_minhash_recall_on_perturbed_corpus(spark):
    """Recall check: documents with ~10% token edits must surface as
    candidate pairs; unrelated random docs must not."""
    import random

    rng = random.Random(7)
    vocab = [f"w{i}" for i in range(500)]
    docs, pairs_expected = [], []
    did = 0
    for base_id in range(10):
        toks = [rng.choice(vocab) for _ in range(80)]
        docs.append((did, " ".join(toks)))
        orig = did
        did += 1
        # ~10% perturbation
        mutated = list(toks)
        for _ in range(8):
            mutated[rng.randrange(len(mutated))] = rng.choice(vocab)
        docs.append((did, " ".join(mutated)))
        pairs_expected.append((orig, did))
        did += 1
    df = spark.createDataFrame(docs, ["doc_id", "text"])
    found = {
        (r.id_a, r.id_b)
        for r in dedup.near_dup_pairs(
            df, num_hashes=32, bands=8, threshold=0.5
        ).collect()
    }
    recall = sum(1 for p in pairs_expected if p in found) / len(pairs_expected)
    assert recall >= 0.9, f"recall {recall}: {sorted(found)}"
    # unrelated base docs must not pair with each other
    base_ids = {p[0] for p in pairs_expected}
    assert not any(a in base_ids and b in base_ids for a, b in found)


def test_simhash_identical_docs_hamming_zero(spark):
    fps = dedup.simhash_fingerprints(_docs(spark))
    by_id = {r.id: r.fp for r in fps.collect()}
    assert by_id[1] == by_id[2]
    pairs = dedup.simhash_pairs(_docs(spark))
    ham = {(r.id_a, r.id_b): r.hamming for r in pairs.collect()}
    assert ham.get((1, 2)) == 0


def test_connected_components_chains(spark):
    # chain 1-2-3 plus isolated pair 7-8: two clusters labeled by min id
    pairs = spark.createDataFrame([(1, 2), (2, 3), (7, 8)], ["id_a", "id_b"])
    comp = {r.id: r.cluster_id for r in dedup.connected_components(pairs).collect()}
    assert comp == {1: 1, 2: 1, 3: 1, 7: 7, 8: 7}


def test_dedup_clusters_end_to_end(spark):
    out = dedup.dedup_clusters(
        _docs(spark), threshold=0.5, num_hashes=32, bands=16
    )
    by_id = {r.doc_id: r.cluster_id for r in out.collect()}
    assert by_id[1] == by_id[2] == 1    # exact dups share cluster 1
    assert by_id[4] == 4 and by_id[5] == 5  # singletons keep own id
    canonical = {k for k, v in by_id.items() if k == v}
    assert 2 not in canonical           # duplicate doc is not canonical


def test_embedding_near_dup_detects_duplicate_vector(spark):
    vecs = [
        (1, [1.0, 0.0, 0.0, 0.0]),
        (2, [1.0, 0.0, 0.0, 0.0]),       # identical
        (3, [0.99, 0.1, 0.0, 0.0]),      # near
        (4, [0.0, 1.0, 0.0, 0.0]),       # orthogonal
    ]
    df = spark.createDataFrame(vecs, ["vec_id", "embedding"])
    out = dedup.embedding_near_dup(df, n_planes=16, dim=4, threshold=0.95, band_bits=4)
    got = {(r.id_a, r.id_b) for r in out.collect()}
    assert (1, 2) in got
    assert all(4 not in p for p in got)


def test_dedup_lines_global_first_occurrence(spark):
    from spectrify_spark.operators.dedup import dedup_lines

    rows = [
        (1, "nav bar\nreal content one\nfooter"),
        (2, "nav bar\nreal content two\nfooter"),
        (3, "nav bar\nfooter"),
    ]
    df = spark.createDataFrame(rows, "doc_id bigint, text string")
    out = {r.doc_id: r for r in dedup_lines(df).collect()}
    # doc 1 saw every line first -> untouched
    assert out[1].text_clean == "nav bar\nreal content one\nfooter"
    assert out[1].n_lines == 3 and out[1].n_kept == 3
    # doc 2 keeps only its unique line
    assert out[2].text_clean == "real content two"
    assert out[2].n_kept == 1
    # doc 3 is pure boilerplate -> fully deduped but still present
    assert out[3].n_kept == 0 and out[3].text_clean is None


def test_dedup_lines_intra_doc_repeat(spark):
    from spectrify_spark.operators.dedup import dedup_lines

    df = spark.createDataFrame(
        [(1, "x\ny\nx\nx")], "doc_id bigint, text string"
    )
    r = dedup_lines(df).collect()[0]
    assert r.text_clean == "x\ny"
    assert r.n_lines == 4 and r.n_kept == 2


def test_incremental_near_dup_equals_full_minus_corpus_internal(spark, sf_dir):
    """The incremental contract: pairs(corpus ∪ delta) ==
    pairs(corpus) ∪ incremental(corpus, delta) — the delta probe finds
    every pair touching the delta and ONLY those."""
    from pyspark.sql import functions as F

    from spectrify_spark.operators.dedup import (
        near_dup_pairs,
        near_dup_pairs_incremental,
    )
    from spectrify_spark.sources.parquet import read_table

    d = read_table(spark, f"{sf_dir}/documents.parquet")
    corpus = d.filter(F.col("doc_id") < 400)
    delta = d.filter(F.col("doc_id") >= 400)

    def pairset(df):
        return {(r.id_a, r.id_b, round(r.jaccard, 6)) for r in df.collect()}

    full = pairset(near_dup_pairs(d, threshold=0.2))
    corpus_only = pairset(near_dup_pairs(corpus, threshold=0.2))
    inc = pairset(near_dup_pairs_incremental(corpus, delta, threshold=0.2))
    assert corpus_only | inc == full
    assert corpus_only & inc == set()
    # every incremental pair touches the delta
    for a, b, _ in inc:
        assert a >= 400 or b >= 400


def test_indexed_near_dup_matches_in_memory_and_prunes(spark, sf_dir, tmp_path):
    """write_band_index + near_dup_pairs_indexed: output identity with
    near_dup_pairs_incremental on the same (corpus, delta), AND the
    probe's corpus scan shows PartitionFilters on (band, pbucket) — the
    partition-pruned shape that makes an increment O(delta), not
    O(corpus), at 100 TB."""
    from pyspark.sql import functions as F

    from spectrify_spark.operators.dedup import (
        near_dup_pairs_incremental,
        near_dup_pairs_indexed,
        write_band_index,
    )
    from spectrify_spark.sources.parquet import read_table

    d = read_table(spark, f"{sf_dir}/documents.parquet")
    corpus = d.filter(F.col("doc_id") < 400)
    delta = d.filter(F.col("doc_id") >= 400)
    path = str(tmp_path / "band_index")
    write_band_index(corpus, path)

    out = near_dup_pairs_indexed(spark, path, delta, threshold=0.2)
    plan = out._jdf.queryExecution().executedPlan().toString()
    assert "PartitionFilters" in plan
    assert "band" in plan and "pbucket" in plan

    def pairset(df):
        return {(r.id_a, r.id_b, round(r.jaccard, 6)) for r in df.collect()}

    in_mem = pairset(
        near_dup_pairs_incremental(corpus, delta, threshold=0.2, persist=False)
    )
    assert pairset(out) == in_mem
    spark.catalog.clearCache()


def test_cli_index_bands_and_near_dups(spark, sf_dir, tmp_path, capsys):
    """CLI drive of the materialized-index dedup pair: index-bands
    writes the partitioned index, near-dups probes a delta and prints
    (id_a, id_b, jaccard) lines matching the library path."""
    from pyspark.sql import functions as F

    from spectrify_spark import cli
    from spectrify_spark.sources.parquet import read_table

    d = read_table(spark, f"{sf_dir}/documents.parquet")
    corpus_p = str(tmp_path / "corpus")
    delta_p = str(tmp_path / "delta")
    d.filter(F.col("doc_id") < 400).write.parquet(corpus_p)
    d.filter(F.col("doc_id") >= 400).write.parquet(delta_p)
    idx_p = str(tmp_path / "band_idx")

    assert cli.main(["index-bands", corpus_p, idx_p]) == 0
    capsys.readouterr()
    assert cli.main(["near-dups", idx_p, delta_p, "--threshold", "0.8"]) == 0
    out = capsys.readouterr().out.strip().splitlines()
    from spectrify_spark.operators.dedup import near_dup_pairs_incremental

    expected = {
        (r.id_a, r.id_b)
        for r in near_dup_pairs_incremental(
            d.filter(F.col("doc_id") < 400),
            d.filter(F.col("doc_id") >= 400),
            threshold=0.8,
            persist=False,
        ).collect()
    }
    got = {(int(l.split("\t")[0]), int(l.split("\t")[1])) for l in out}
    assert got == expected and expected
    spark.catalog.clearCache()


def test_band_index_append_equals_from_scratch(spark, sf_dir, tmp_path):
    """Two successive deltas probed + appended leave the index
    identical (row-for-row) to a from-scratch build over the full
    corpus — the daily-increment maintenance contract: the corpus is
    shingled exactly once, ever."""
    from pyspark.sql import functions as F

    from spectrify_spark.operators.dedup import (
        compact_band_index,
        near_dup_pairs_incremental,
        near_dup_pairs_indexed,
        write_band_index,
    )
    from spectrify_spark.sources.parquet import read_table

    d = read_table(spark, f"{sf_dir}/documents.parquet")
    base = d.filter(F.col("doc_id") < 300)
    d1 = d.filter((F.col("doc_id") >= 300) & (F.col("doc_id") < 400))
    d2 = d.filter(F.col("doc_id") >= 400)
    path = str(tmp_path / "idx")
    write_band_index(base, path)

    def pairset(df):
        return {(r.id_a, r.id_b, round(r.jaccard, 6)) for r in df.collect()}

    # probe-then-append, twice
    p1 = pairset(near_dup_pairs_indexed(spark, path, d1, threshold=0.2))
    write_band_index(d1, path, mode="append")
    spark.catalog.clearCache()
    p2 = pairset(near_dup_pairs_indexed(spark, path, d2, threshold=0.2))
    spark.catalog.clearCache()
    # probes match the in-memory incremental oracle at each step
    assert p1 == pairset(
        near_dup_pairs_incremental(base, d1, threshold=0.2, persist=False)
    )
    assert p2 == pairset(
        near_dup_pairs_incremental(
            base.unionByName(d1), d2, threshold=0.2, persist=False
        )
    )
    write_band_index(d2, path, mode="append")

    # appended index == from-scratch index over the full corpus
    scratch = str(tmp_path / "scratch")
    write_band_index(d, scratch)

    def rowset(p):
        return {
            tuple(r)
            for r in spark.read.parquet(p)
            .select("id", "band", "bucket", "pbucket", F.to_json("sh"))
            .collect()
        }

    assert rowset(path) == rowset(scratch)

    # compaction: content identical, one file per (band, pbucket) cell
    compacted = str(tmp_path / "compacted")
    compact_band_index(spark, path, compacted)
    assert rowset(compacted) == rowset(scratch)
    import glob

    cells = glob.glob(f"{compacted}/band=*/pbucket=*")
    assert cells and all(
        len(glob.glob(f"{c}/*.parquet")) == 1 for c in cells
    )


def test_band_index_sidecar_guards(spark, sf_dir, tmp_path):
    """The build-params sidecar: probes default from it, contradicting
    params raise, append with mismatched params raises, and a typo'd
    index path raises instead of silently returning delta-only pairs."""
    import pytest
    from pyspark.sql import functions as F

    from spectrify_spark.operators.dedup import (
        near_dup_pairs_indexed,
        read_index_params,
        write_band_index,
    )
    from spectrify_spark.sources.parquet import read_table

    d = read_table(spark, f"{sf_dir}/documents.parquet")
    corpus = d.filter(F.col("doc_id") < 400)
    delta = d.filter(F.col("doc_id") >= 400)
    path = str(tmp_path / "idx4")
    write_band_index(corpus, path, n_buckets=4)
    stamped = read_index_params(spark, path)
    # LSH params exactly as built; the r17 read_schema entry (probes
    # skip schema inference) rides along and is not an LSH param
    assert {k: stamped[k] for k in
            ("num_hashes", "bands", "shingle_k", "n_buckets")} == {
        "num_hashes": 32,
        "bands": 8,
        "shingle_k": 3,
        "n_buckets": 4,
    }
    assert stamped["read_schema"]["type"] == "struct"
    # no params passed -> sidecar supplies n_buckets=4; matching
    # explicit params also fine
    a = near_dup_pairs_indexed(spark, path, delta, threshold=0.2)
    b = near_dup_pairs_indexed(
        spark, path, delta, threshold=0.2, n_buckets=4
    )
    assert {tuple(r) for r in a.collect()} == {tuple(r) for r in b.collect()}
    spark.catalog.clearCache()
    with pytest.raises(ValueError, match="n_buckets"):
        near_dup_pairs_indexed(spark, path, delta, n_buckets=64)
    with pytest.raises(ValueError, match="build params"):
        write_band_index(delta, path, n_buckets=64, mode="append")
    with pytest.raises(FileNotFoundError):
        near_dup_pairs_indexed(spark, str(tmp_path / "no_such_idx"), delta)


def test_duplicate_span_stats_planted(spark):
    """Hand-computed coverage on planted cross-doc spans: a 5-token
    passage shared by two docs, a unique doc, twin short docs (shingle
    fallback), and an empty doc."""
    from spectrify_spark.operators.dedup import duplicate_span_stats

    docs = [
        (1, "The quick brown fox jumps over the lazy dog"),
        (2, "intro text here the quick brown fox jumps plus tail"),
        (3, "completely unique content nothing shared at all"),
        (4, "hello world"),
        (5, "hello world"),
        (6, ""),
    ]
    df = spark.createDataFrame(docs, ["doc_id", "text"])
    out = {
        r.doc_id: (r.n_tokens, r.n_shared_windows, r.covered_tokens, r.dup_frac)
        for r in duplicate_span_stats(df, window=5, min_docs=2).collect()
    }
    assert out[1] == (9, 1, 5, round(5 / 9, 4))  # case-folded match
    assert out[2] == (10, 1, 5, 0.5)
    assert out[3] == (7, 0, 0, 0.0)
    assert out[4] == (2, 1, 2, 1.0)  # short-doc fallback window
    assert out[5] == (2, 1, 2, 1.0)
    assert out[6] == (0, 0, 0, 0.0)


def test_duplicate_span_stats_within_doc_repeat_not_counted(spark):
    """A window repeated INSIDE one doc is not cross-document
    duplication (min_docs counts distinct docs)."""
    from spectrify_spark.operators.dedup import duplicate_span_stats

    df = spark.createDataFrame(
        [(1, "a b c d e a b c d e"), (2, "x y z w v")], ["doc_id", "text"]
    )
    out = {
        r.doc_id: r.n_shared_windows
        for r in duplicate_span_stats(df, window=5, min_docs=2).collect()
    }
    assert out == {1: 0, 2: 0}


def test_duplicate_span_stats_overlapping_coverage_union(spark):
    """Overlapping shared windows cover the UNION of their positions,
    not the sum."""
    from spectrify_spark.operators.dedup import duplicate_span_stats

    # docs share a 6-token run -> two overlapping 5-token windows
    df = spark.createDataFrame(
        [(1, "p q r s t u tail1 xx"), (2, "p q r s t u tail2 yy")],
        ["doc_id", "text"],
    )
    out = {
        r.doc_id: (r.n_shared_windows, r.covered_tokens)
        for r in duplicate_span_stats(df, window=5, min_docs=2).collect()
    }
    # windows "p q r s t" and "q r s t u" both shared; union covers 6
    assert out[1] == (2, 6)
    assert out[2] == (2, 6)


def test_duplicate_span_stats_null_text_is_empty_doc(spark):
    """NULL text must behave as an empty document (n_tokens 0), not a
    -1-token one (F.size on a NULL array is -1 in non-ANSI mode)."""
    from spectrify_spark.operators.dedup import duplicate_span_stats

    df = spark.createDataFrame(
        [(1, None), (2, "a b c d e f"), (3, "a b c d e f")],
        "doc_id bigint, text string",
    )
    out = {
        r.doc_id: (r.n_tokens, r.n_shared_windows, r.covered_tokens, r.dup_frac)
        for r in duplicate_span_stats(df, window=5, min_docs=2).collect()
    }
    assert out[1] == (0, 0, 0, 0.0)
    assert out[2] == (6, 2, 6, 1.0)


def test_band_index_append_refuses_legacy_index(spark, tmp_path):
    """Appending onto a pre-sidecar index must refuse: the append
    would guess the partition grid and stamp a sidecar asserting the
    guess, silently corrupting every later pruned probe."""
    import pytest

    from spectrify_spark.operators._sidecar import index_fs
    from spectrify_spark.operators.dedup import write_band_index

    docs = spark.createDataFrame(
        [(1, "alpha beta gamma delta"), (2, "epsilon zeta eta theta")],
        ["doc_id", "text"],
    )
    path = str(tmp_path / "legacy_idx")
    write_band_index(docs, path)
    # simulate a legacy index: delete the params sidecar
    fs, _, jvm = index_fs(spark, path)
    from spectrify_spark.operators.dedup import _PARAMS_FILE

    fs.delete(jvm.org.apache.hadoop.fs.Path(path, _PARAMS_FILE), False)
    delta = spark.createDataFrame([(3, "iota kappa lambda mu")], ["doc_id", "text"])
    with pytest.raises(ValueError, match="no params sidecar"):
        write_band_index(delta, path, mode="append")


def test_compact_band_index_rejects_overlapping_paths(spark, tmp_path):
    """Both nesting directions are data loss: dst under src (overwrite
    destroys the index mid-read) and src under dst (overwriting the
    parent deletes the source)."""
    import pytest

    from spectrify_spark.operators.dedup import compact_band_index

    src = str(tmp_path / "bands" / "inner")
    for dst in (src, src + "/sub", str(tmp_path / "bands")):
        with pytest.raises(ValueError, match="overlap"):
            compact_band_index(spark, src, dst)


def test_reliable_checkpoint_branch_used_when_dir_set(tmp_path):
    """r18 (VERDICT r17 item 6): with a checkpoint dir configured —
    SPARK_GRAFT_CHECKPOINT_DIR on a cluster — the iterative operators'
    lineage cuts take the RELIABLE ``checkpoint(eager=False)`` branch
    (executor-loss-survivable at scale) instead of localCheckpoint,
    and results are unchanged.  Runs in a subprocess: a checkpoint dir
    is sticky on the shared SparkContext and would change every later
    test's lineage-cut behavior."""
    import os
    import subprocess
    import sys
    import textwrap

    ckpt = str(tmp_path / "ckpt")
    repo_root = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
    script = textwrap.dedent(
        f"""
        import os, sys
        sys.path.insert(0, {repo_root!r})
        os.environ["SPARK_GRAFT_CHECKPOINT_DIR"] = {ckpt!r}
        from spectrify_spark.session import get_spark
        from spectrify_spark.operators import dedup
        spark = get_spark("ckpt-branch-test")
        assert spark.sparkContext.getCheckpointDir(), "dir not applied"
        pairs = spark.createDataFrame(
            [(1, 2), (2, 3), (10, 11), (20, 21), (21, 22)],
            "id_a bigint, id_b bigint",
        )
        got = sorted(
            (r.id, r.cluster_id)
            for r in dedup.connected_components(pairs).collect()
        )
        want = [(1, 1), (2, 1), (3, 1), (10, 10), (11, 10),
                (20, 20), (21, 20), (22, 20)]
        assert got == want, got
        # the reliable branch actually wrote checkpoint state
        found = []
        for base, _dirs, files in os.walk({ckpt!r}):
            found.extend(files)
        assert found, "no checkpoint files written under the dir"
        print("OK")
        """
    )
    out = subprocess.run(
        [sys.executable, "-c", script],
        capture_output=True,
        text=True,
        timeout=300,
    )
    assert out.returncode == 0, out.stderr[-2000:]
    assert "OK" in out.stdout
