"""Post-append recall rehearsal for the frozen-model IVF index (r15 —
VERDICT r14 item 1): how does recall@10 at nprobe < C degrade as a
frozen-centroid index absorbs appends, and do ann_drift_report's
triggers fire before the degradation matters?

Grid: the index is built over a BASE half of the sf embeddings
(kmeans-refined C=8 centroids), then appended with delta fractions
{0.25, 0.5, 1.0} of the build size, in two flavors:

- ``same``: rows drawn from the same distribution (the other half of
  the corpus, replicated with fresh ids where the fraction needs more
  rows than exist);
- ``shifted``: the same rows with a constant +2.0 offset per dimension
  — a hard distribution shift (on this isotropic corpus ALL shifted
  rows assign to the single centroid most aligned with the all-ones
  direction).

For each cell of the grid: recall@10 of ivf_knn_join at nprobe=6
against the exact kNN join over the post-append corpus, plus the drift
report's delta_fraction / residual_ratio / max_cell_appended_share and
whether rebuild_recommended fired.  The table lands in BENCH_NOTES.md.

Run: python tools/append_recall_rehearsal.py [sf_dir]
"""

from __future__ import annotations

import sys
import tempfile
from pathlib import Path

sys.path.insert(0, str(Path(__file__).resolve().parents[1]))

from pyspark.sql import functions as F

from spectrify_spark.operators import similarity as SIM
from spectrify_spark.session import get_spark


def recall_at(spark, corpus, index_path, k=10, nprobe=6, n_queries=16):
    qs = corpus.filter(F.col("vec_id") < n_queries).select(
        F.col("vec_id").alias("q_id"), F.col("embedding").alias("q_vec")
    )
    idx = SIM.read_ivf_index(spark, index_path)
    cents = SIM.read_ivf_centroids(spark, index_path)
    ivf = SIM.ivf_knn_join(idx, cents, qs, k=k, nprobe=nprobe).select(
        F.col("q_id").alias("iq"), F.col("vec_id").alias("ivf_id")
    )
    brute = SIM.knn_join_topk(corpus, qs, k=k).select("q_id", "vec_id")
    hits = brute.join(
        ivf, (brute["q_id"] == ivf["iq"]) & (brute["vec_id"] == ivf["ivf_id"])
    ).count()
    return hits / brute.count()


def _probe_mass(spark, index_path, corpus, delta) -> None:
    """Mass fraction of the corpus scanned by an nprobe=6 probe, for an
    original-distribution query vs a shifted-mode query, against the
    shifted-append index."""
    import math

    cents = SIM.read_ivf_centroids(spark, index_path)
    sizes = SIM._index_cell_counts(spark, index_path, "ivf_cell")
    total = sum(sizes.values())

    def mass(qv, nprobe):
        qn = math.sqrt(sum(x * x for x in qv)) or 1.0

        def cos(vec):
            d = sum(a * b for a, b in zip(qv, vec))
            n = math.sqrt(sum(b * b for b in vec)) or 1.0
            return d / (qn * n)

        probe = [
            c for c, _ in sorted(cents, key=lambda cv: -cos(cv[1]))[:nprobe]
        ]
        return sum(sizes.get(str(c), 0) for c in probe) / total

    orig_q = list(corpus.orderBy("vec_id").first()["embedding"])
    shifted_q = list(delta.orderBy("vec_id").first()["embedding"])
    for np_ in (2, 6):
        print(
            f"#   shifted-1.0 index probe mass (nprobe={np_}/8, uniform "
            f"ideal {np_ / 8:.2f}): original query "
            f"{mass(orig_q, np_):.3f}, shifted-mode query "
            f"{mass(shifted_q, np_):.3f} — the hot cell holds ~half the "
            f"corpus, so any probe including it scans it in ONE partition "
            f"(the straggler the share trigger flags)"
        )


def main() -> None:
    sf_dir = sys.argv[1] if len(sys.argv) > 1 else "/root/testdata/sf0.001"
    spark = get_spark("append-recall-rehearsal")
    e = spark.read.parquet(f"{sf_dir}/embeddings.parquet").select(
        "vec_id", "embedding"
    )
    base = e.filter(F.col("vec_id") % 2 == 0)
    pool = e.filter(F.col("vec_id") % 2 == 1)
    n_base, n_pool = base.count(), pool.count()
    max_id = e.agg(F.max("vec_id")).first()[0]
    cents = SIM.kmeans_refine(
        base, SIM.choose_centroids(base, n_centroids=8), iters=2
    )

    print(f"# sf_dir={sf_dir} base_n={n_base} C=8 nprobe=6 k=10 queries=16")
    print(
        "| flavor | delta_frac | recall@10 | drift delta_frac | "
        "residual_ratio | max_cell_share | rebuild? |"
    )
    print("|---|---|---|---|---|---|---|")

    # fraction 0 row: the build itself
    work0 = tempfile.mkdtemp(prefix="apprec_")
    SIM.write_ivf_index(base, cents, f"{work0}/idx")
    r0 = recall_at(spark, base, f"{work0}/idx")
    rep0 = SIM.ann_drift_report(spark, f"{work0}/idx")
    print(
        f"| (build) | 0.00 | {r0:.3f} | {rep0['delta_fraction']:.2f} | "
        f"{rep0['residual_ratio']:.3f} | - | {rep0['rebuild_recommended']} |"
    )

    for flavor in ("same", "shifted"):
        for frac in (0.25, 0.5, 1.0):
            want = int(n_base * frac)
            delta = pool.limit(want)
            got = min(want, n_pool)
            if flavor == "shifted":
                delta = delta.select(
                    "vec_id",
                    F.transform(
                        "embedding", lambda x: (x + F.lit(2.0)).cast("float")
                    ).alias("embedding"),
                )
            # fresh ids so the combined corpus has no collisions
            delta = delta.select(
                (F.col("vec_id") + F.lit(int(max_id) + 1)).alias("vec_id"),
                "embedding",
            )
            work = tempfile.mkdtemp(prefix="apprec_")
            SIM.write_ivf_index(base, cents, f"{work}/idx")
            SIM.append_ivf_index(delta, f"{work}/idx")
            corpus = base.unionByName(delta)
            rec = recall_at(spark, corpus, f"{work}/idx")
            rep = SIM.ann_drift_report(spark, f"{work}/idx")
            print(
                f"| {flavor} | {got / n_base:.2f} | {rec:.3f} | "
                f"{rep['delta_fraction']:.2f} | "
                f"{rep['residual_ratio']:.3f} | "
                f"{rep['max_cell_appended_share']:.3f} | "
                f"{rep['rebuild_recommended']} |"
            )
            if flavor == "shifted" and frac == 1.0:
                # the shifted failure mode on isotropic data is not
                # recall (shifted rows are nobody's neighbours) but
                # SCAN COST: a query from the shifted mode probes the
                # one hot cell holding ~all appended mass, so the
                # C/nprobe pruning factor collapses
                _probe_mass(spark, f"{work}/idx", corpus, delta)


if __name__ == "__main__":
    main()
