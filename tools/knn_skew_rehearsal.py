"""Hot-cell skew rehearsal for the shuffle knn arm (r15 — VERDICT r14
item 4): the (cell, query) equi-join inherits IVF cell imbalance, so a
90%-mass cell is one shuffle partition — one straggler task — unless
AQE's skew split subdivides it.

Grid: BALANCED vs PATHOLOGICAL (90% of vectors in one cell) synthetic
corpora at the same total size, shuffle-arm ivfpq_knn_join timed with
AQE skew-join ON vs OFF.  Two structural preconditions (both pinned in
tests/test_aqe_skew.py::test_knn_shuffle_arm_skew_split):

- the index must be written with ``shards_per_cell > 1`` on skewed
  distributions — AQE splits a skewed reduce partition by MAPPER
  ranges, and a hot cell written as one file is one mapper (nothing to
  split).  At 100 TB the hot cell spans many files naturally; the
  single-file collapse is the small-scale artifact.
- the scan must not re-merge the shards into one input task
  (files.maxPartitionBytes below shard size here; real file sizes
  exceed it at scale).

Run: python tools/knn_skew_rehearsal.py [n_rows] [runs]
"""

from __future__ import annotations

import statistics
import sys
import tempfile
import time
from pathlib import Path

sys.path.insert(0, str(Path(__file__).resolve().parents[1]))

from pyspark.sql import functions as F

from spectrify_spark.operators import quantization as Q
from spectrify_spark.session import get_spark

DIM = 8


def corpus(spark, n_rows: int, hot_share: float):
    noise = [
        (
            (F.xxhash64(F.col("id"), F.lit(j)) % 1000).cast("double") / 5000.0
        ).cast("float")
        for j in range(DIM)
    ]
    hot = F.array(
        *[
            (F.lit(1.0 if j == 0 else 0.0) + noise[j]).cast("float")
            for j in range(DIM)
        ]
    )
    cold_dir = (F.col("id") % (DIM - 1) + 1).cast("int")
    cold = F.array(
        *[
            (
                F.when(cold_dir == j, F.lit(1.0)).otherwise(F.lit(0.0))
                + noise[j]
            ).cast("float")
            for j in range(DIM)
        ]
    )
    pct = int(hot_share * 100)
    return spark.range(n_rows).select(
        F.col("id").alias("vec_id"),
        F.when((F.col("id") % 100) < pct, hot).otherwise(cold).alias(
            "embedding"
        ),
    )


def main() -> None:
    n_rows = int(sys.argv[1]) if len(sys.argv) > 1 else 2_000_000
    runs = int(sys.argv[2]) if len(sys.argv) > 2 else 3
    spark = get_spark("knn-skew-rehearsal")
    spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")

    cents = [
        (c, [1.0 if j == c else 0.0 for j in range(DIM)]) for c in range(DIM)
    ]
    books = Q.deterministic_codebooks(2, 16, 4)
    queries = spark.range(32).select(
        F.col("id").alias("q_id"),
        F.array(
            *[
                (
                    F.lit(1.0 if j == 0 else 0.0)
                    + (F.col("id") % 7).cast("float") / 100.0
                ).cast("float")
                for j in range(DIM)
            ]
        ).alias("q_vec"),
    )

    # The skew threshold must be SCALE-REPRESENTATIVE: at the default
    # 256MB the 2M-row hot cell's ~tens-of-MB shuffle partition never
    # qualifies and skewJoin=on silently runs the same single-straggler
    # plan as off (measured: 411s either way).  At 100 TB the hot cell
    # exceeds any sane threshold by orders of magnitude; lowering the
    # threshold here emulates that regime — the same reasoning as the
    # file-split confs in tests/test_aqe_skew.py.
    spark.conf.set(
        "spark.sql.adaptive.skewJoin.skewedPartitionThresholdInBytes", "8MB"
    )
    spark.conf.set("spark.sql.adaptive.advisoryPartitionSizeInBytes", "2MB")

    print(f"# n_rows={n_rows} C={DIM} nprobe=2 queries=32 runs={runs} (median)")
    print("# skew threshold 8MB / advisory 2MB (scale-representative; at")
    print("# the 256MB default the hot cell never qualifies at this scale)")
    print("| corpus | skewJoin | wall (s) | skew=true in plan |")
    print("|---|---|---|---|")
    for label, hot_share in (("balanced", 1.0 / DIM), ("pathological", 0.9)):
        path = tempfile.mkdtemp(prefix=f"knnskew_{label}_") + "/idx"
        Q.write_ivfpq_index(
            corpus(spark, n_rows, hot_share),
            cents,
            books,
            path,
            shards_per_cell=32,
        )
        for skew_on in (True, False):
            spark.conf.set(
                "spark.sql.adaptive.skewJoin.enabled", str(skew_on).lower()
            )
            times = []
            split = False
            for _ in range(runs):
                j = Q.ivfpq_knn_join(
                    spark, path, queries, k=10, nprobe=2,
                    broadcast_queries=False,
                )
                t0 = time.perf_counter()
                # collect, not count: count() executes a DIFFERENT
                # query (groupBy().count() over j), leaving j's own
                # adaptive plan unexecuted — its toString() then shows
                # the initial plan with no query stages and the
                # skew=true marker can never appear (the bug that made
                # this column read False while the walls showed a 12x
                # on/off split).  The result is 32*k rows — tiny.
                j.collect()
                times.append(time.perf_counter() - t0)
                plan = (
                    j._jdf.queryExecution().executedPlan().toString()
                    .split("== Initial Plan ==")[0]
                )
                split = split or ("skew=true" in plan)
            print(
                f"| {label} | {'on' if skew_on else 'off'} | "
                f"{statistics.median(times):.2f} | {split} |",
                flush=True,
            )
    spark.conf.set("spark.sql.adaptive.skewJoin.enabled", "true")


if __name__ == "__main__":
    main()
