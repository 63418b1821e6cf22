"""``search``: the vector and near-duplicate operators.

Write phase: ``operators.dedup.dedup_clusters`` over documents with
planted near-duplicates (result written to parquet), then
``operators.similarity.write_ivf_index`` over clustered vectors with
centroids the inputs carry (each generated cluster's mean).  Read
phase: single-vector ``ivf_topk`` probes and one batched
``ivf_knn_join`` over ``read_ivf_index``.
"""

from __future__ import annotations

import random
import time

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

from perfbench import checks
from perfbench.harness import dir_bytes, median

VECTORS = 2_000
DOCS = 400
DIM = 32
TRUE_CLUSTERS = 16
NPROBE = 4
K = 10
TOPK_PROBES = 4
KNN_QUERIES = 40
DOC_WORDS = 60
VOCAB = 5_000
#: recall@10 of the ANN reads against numpy brute force must reach this
RECALL_FLOOR = 0.9


def make_vectors(rng, n: int) -> tuple[np.ndarray, np.ndarray, list]:
    """Corpus, queries and IVF centroids: one centroid a generated
    cluster, the mean of its vectors."""
    centers = rng.normal(0, 1, (TRUE_CLUSTERS, DIM))
    label = rng.integers(0, TRUE_CLUSTERS, n)
    corpus = centers[label] + rng.normal(0, 0.35, (n, DIM))
    queries = centers[rng.integers(0, TRUE_CLUSTERS, TOPK_PROBES + KNN_QUERIES)]
    queries = queries + rng.normal(0, 0.35, queries.shape)
    cents = [(c, [float(x) for x in corpus[label == c].mean(axis=0)])
             for c in range(TRUE_CLUSTERS)]
    return corpus, queries, cents


def make_docs(seed: int, n: int) -> tuple[list[str], list[list[int]]]:
    """``n`` documents of DOC_WORDS random words; a tenth of them are
    copies of another document with a different last word, so every
    planted pair shares all but one of its word 3-shingles (Jaccard
    57/59) and unrelated documents share none."""
    rng = random.Random(seed)
    vocab = [
        "".join(rng.choice("abcdefghijklmnopqrstuvwxyz") for _ in range(rng.randint(4, 9)))
        for _ in range(VOCAB)
    ]
    docs: list[str] = []
    clusters: list[list[int]] = []
    while len(docs) < n:
        words = [rng.choice(vocab) for _ in range(DOC_WORDS)]
        copies = rng.choice((0, 0, 0, 0, 0, 0, 1, 1, 2, 3))
        ids = []
        for c in range(copies + 1):
            if len(docs) == n:
                break
            w = words[:-1] + [words[-1] if c == 0 else f"{words[-1]}x{c}"]
            ids.append(len(docs))
            docs.append(" ".join(w))
        if len(ids) > 1:
            clusters.append(ids)
    return docs, clusters


class Search:
    def __init__(self, bench, seed: int, tag: str):
        self.bench = bench
        n = VECTORS
        self.dir = bench.work / tag
        self.dir.mkdir(parents=True, exist_ok=True)
        rng = np.random.default_rng(seed)
        self.corpus, self.queries, self.cents = make_vectors(rng, n)
        self.vec_path = self.dir / "vectors.parquet"
        pq.write_table(pa.table({
            "vec_id": np.arange(n, dtype=np.int64),
            "embedding": pa.array(list(self.corpus), type=pa.list_(pa.float64())),
        }), self.vec_path)
        self.q_path = self.dir / "queries.parquet"
        q = self.queries[TOPK_PROBES:]
        pq.write_table(pa.table({
            "q_id": np.arange(len(q), dtype=np.int64),
            "q_vec": pa.array(list(q), type=pa.list_(pa.float64())),
        }), self.q_path)
        docs, self.planted = make_docs(seed, DOCS)
        self.doc_path = self.dir / "docs.parquet"
        pq.write_table(pa.table({"doc_id": np.arange(len(docs), dtype=np.int64),
                                 "text": docs}), self.doc_path)
        self.input_bytes = dir_bytes(self.vec_path, self.doc_path)

    def run_round(self, rnd: dict, i, light: bool = False) -> dict:
        """One round; ``light`` makes one single-vector probe only."""
        from spectrify_spark.operators import dedup, similarity as sim

        b, spark = self.bench, self.bench.spark
        base = self.dir / f"r{i}"
        clusters, index = str(base / "clusters"), str(base / "ivf")
        vecs = spark.read.parquet(str(self.vec_path))
        docs = spark.read.parquet(str(self.doc_path))
        with b.phase(rnd, "write", watch=[base]):
            b.op("dedup", "dedup_clusters", lambda: dedup.dedup_clusters(docs)
                 .write.mode("overwrite").parquet(clusters))
            b.op("similarity", "index_build", sim.write_ivf_index, vecs, self.cents,
                 index)
        out = {"clusters": clusters, "topk": {}, "knn": {}}
        with b.phase(rnd, "read"):
            assigned = b.op("similarity", "read_ivf_index", sim.read_ivf_index,
                            spark, index)
            for qi in range(1 if light else TOPK_PROBES):
                out["topk"][qi] = b.op("similarity", "topk", _topk, sim, assigned,
                                       self.cents, self.queries[qi])
            out["knn"] = b.op("similarity", "knn_join", _knn, sim, assigned, self.cents,
                              spark.read.parquet(str(self.q_path)))
        return out

    @staticmethod
    def instrument(bench) -> None:
        """Every call of interest is made by the workload itself."""

    def _all_hits(self, out: dict) -> dict:
        hits = dict(out["topk"])
        hits.update({TOPK_PROBES + q: h for q, h in out["knn"].items()})
        return hits

    def recall(self, out: dict) -> float:
        exact = checks.cosine_topk(self.corpus, self.queries, K)
        return checks.recall_at_k(exact, self._all_hits(out), K)

    def check(self, out: dict) -> list[str]:
        labels = pq.read_table(out["clusters"]).to_pydict()
        errs = checks.clusters_equal(
            self.planted, dict(zip(labels["doc_id"], labels["cluster_id"])))
        if len(labels["doc_id"]) != len(set(labels["doc_id"])) or set(
                labels["doc_id"]) != set(range(len(labels["doc_id"]))):
            errs.append("dedup_clusters did not label every document once")
        errs += checks.knn_consistent(self.corpus, self.queries, self._all_hits(out), K)
        r = self.recall(out)
        if r < RECALL_FLOOR:
            errs.append(f"recall@{K} {r:.3f} below the floor {RECALL_FLOOR}")
        return errs

    def layer_probes(self) -> dict:
        """Traced runs: the dedup stages one at a time, since
        ``dedup_clusters`` runs them inside one lazily planned job."""
        from spectrify_spark.operators import dedup

        b, spark = self.bench, self.bench.spark
        docs = spark.read.parquet(str(self.doc_path))
        t0 = time.perf_counter()
        dedup.minhash_signatures(docs).write.format("noop").mode("overwrite").save()
        sig_s = time.perf_counter() - t0
        cand = dedup.minhash_lsh_pairs(docs).count()
        pairs_path = str(self.dir / "probe-pairs")
        dedup.near_dup_pairs(docs).write.mode("overwrite").parquet(pairs_path)
        pairs = spark.read.parquet(pairs_path)
        verified = pairs.count()
        j0, t0 = b.jobs(), time.perf_counter()
        dedup.connected_components(pairs).write.format("noop").mode("overwrite").save()
        return {
            "dedup.signature_s": (sig_s, "s"),
            "dedup.candidate_pairs": (cand, "count"),
            "dedup.verified_per_candidate": (verified / max(1, cand), "ratio"),
            "dedup.components_s": (time.perf_counter() - t0, "s"),
            "dedup.components_jobs": (b.jobs() - j0, "count"),
        }

    def layers(self, fold, out: dict) -> dict:
        topk = fold.spans_named("similarity.topk")
        scored = fold.task_totals(fold.stages_of(fold.jobs_under(sp["id"] for sp in topk)))
        return {
            "similarity.index_build_s": (
                sum(map(fold.wall_s, fold.spans_named("similarity.index_build"))), "s"),
            "similarity.topk_p50_s": (median(fold.wall_s(sp) for sp in topk), "s"),
            "similarity.knn_join_s": (
                sum(map(fold.wall_s, fold.spans_named("similarity.knn_join"))), "s"),
            "similarity.rows_scored_per_query": (scored["in_recs"] / len(topk), "count"),
            "similarity.recall_at_10": (self.recall(out), "ratio"),
        }


def _topk(sim, assigned, cents, q) -> list[tuple]:
    df = sim.ivf_topk(assigned, cents, [float(x) for x in q], k=K, nprobe=NPROBE)
    return [(r["vec_id"], r["cos"]) for r in df.collect()]


def _knn(sim, assigned, cents, queries) -> dict:
    df = sim.ivf_knn_join(assigned, cents, queries, k=K, nprobe=NPROBE)
    got: dict = {}
    for r in df.orderBy("q_id", df["cos"].desc(), "vec_id").collect():
        got.setdefault(r["q_id"], []).append((r["vec_id"], r["cos"]))
    return got
