"""Planning-cost rehearsal for IVF centroid assignment (VERDICT r9
item 2): measure Catalyst analysis+optimization time of the
assignment plan as n_centroids grows to production scale (>= 512
centroids x 64 dims), new Literal-matrix fold vs the old
one-subtree-per-centroid literal argmax.

Run: python tools/ivf_plan_rehearsal.py  (prints one line per point;
results recorded in PERF_NOTES.md r10).
"""

from __future__ import annotations

import sys
import time
from pathlib import Path

sys.path.insert(0, str(Path(__file__).resolve().parents[1]))

from pyspark.sql import SparkSession, functions as F

from spectrify_spark.functions.vectors import dot
from spectrify_spark.operators import similarity as SIM


def old_assign(df, centroids, vec_col="embedding", out_col="ivf_cell"):
    """The pre-r10 expression shape, kept ONLY as the rehearsal
    baseline: one dot-product subtree with dim literal leaves PER
    CENTROID, argmax via array_position(array_max)."""
    scores = F.array(
        *[
            dot(F.col(vec_col), F.array(*[F.lit(float(x)) for x in vec]))
            / F.lit(SIM._cnorm(vec))
            for _, vec in centroids
        ]
    )
    cids = F.array(*[F.lit(int(cid)) for cid, _ in centroids])
    cell = F.element_at(
        cids, F.array_position(scores, F.array_max(scores)).cast("int")
    )
    return df.withColumn(out_col, cell)


def plan_seconds(build):
    """Seconds to analyze + optimize (not execute) the built plan."""
    t0 = time.monotonic()
    df = build()
    df._jdf.queryExecution().optimizedPlan()
    return time.monotonic() - t0


def main():
    spark = (
        SparkSession.builder.master("local[4]")
        .config("spark.ui.enabled", "false")
        .config("spark.sql.shuffle.partitions", "4")
        .getOrCreate()
    )
    dim = 64
    base = spark.range(100).select(
        F.col("id").alias("vec_id"),
        F.transform(
            F.sequence(F.lit(1), F.lit(dim)),
            lambda i: (F.pmod(F.col("id") * i, F.lit(97)) / 97.0).cast("float"),
        ).alias("embedding"),
    )
    base.persist().count()

    def mk_centroids(n):
        return [
            (c, [((c * 31 + j * 7) % 89) / 89.0 for j in range(dim)])
            for c in range(n)
        ]

    print(f"dim={dim}, corpus=100 rows (planning cost only)")
    for n in (64, 256, 512, 1024):
        cents = mk_centroids(n)
        t_new = plan_seconds(lambda: SIM.assign_partitions(base, cents))
        line = f"C={n:5d}  new={t_new:7.3f}s"
        if n <= 512:  # old shape at 1024 takes minutes; don't bother
            t_old = plan_seconds(lambda: old_assign(base, cents))
            line += f"  old={t_old:7.3f}s  speedup={t_old / t_new:6.1f}x"
        print(line, flush=True)

    # sanity: identical assignments on a real slice
    cents = mk_centroids(64)
    a = {r.vec_id: r.ivf_cell for r in SIM.assign_partitions(base, cents).collect()}
    b = {r.vec_id: r.ivf_cell for r in old_assign(base, cents).collect()}
    print("assignments identical:", a == b)
    spark.stop()


if __name__ == "__main__":
    main()
