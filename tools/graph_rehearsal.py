"""Graph-scale rehearsal (VERDICT r8 item 3): the x10 replica in
make_sf.py offsets ORDER keys only, so the DISTINCT supplier<->part
edge set — the actual PageRank/HITS input — never grew and iteration
cost had only ever been measured at sf0.1's edge count.  This tool
replicates the edge table itself, offsetting BOTH endpoints per
replica (K disjoint isomorphic components: edges AND nodes grow Kx,
degree structure preserved), writes each K to parquet, and times
pagerank/hits from a cold disk read exactly as a driver run would.

Per-iteration cost is isolated by running the same algorithm at two
iteration counts: per_iter = (t[iters_hi] - t[iters_lo]) / (hi - lo)
subtracts the shared setup (edge dedup, contribution precompute, node
spine, first checkpoint) so what's compared across K is purely the
steady-state join+agg+checkpoint round.

Usage: python tools/graph_rehearsal.py [SRC_DIR] [K ...]
       (defaults: /root/testdata/sf0.1, K = 1 10 30)
Prints one JSON line per (K, algo).  Record results in BENCH_NOTES.md.
"""

from __future__ import annotations

import json
import sys
import time
from pathlib import Path

from pyspark.sql import functions as F

#: replica id offset: > max node id (2*partkey+1) at any local SF.
STEP = 100_000_000


def build_edges(spark, src_dir: str, k: int, out: str) -> None:
    """Write the K-replica supplier<->part edge table (both directions,
    both endpoints offset per replica) to parquet."""
    from spectrify_spark.sources.parquet import read_table

    li = read_table(spark, f"{src_dir}/lineitem.parquet").select(
        "l_suppkey", "l_partkey"
    )
    sup = F.col("l_suppkey").cast("long") * F.lit(2)
    prt = F.col("l_partkey").cast("long") * F.lit(2) + F.lit(1)
    e = li.select(sup.alias("src"), prt.alias("dst")).unionByName(
        li.select(prt.alias("src"), sup.alias("dst"))
    )
    # replica index as long BEFORE the multiply: i * 1e8 overflows
    # int32 under ANSI mode at i >= 22 (explode can't be nested in a
    # cast, so the array elements are long literals)
    rep = e.withColumn(
        "__i", F.explode(F.array(*[F.lit(i).cast("long") for i in range(k)]))
    )
    rep.select(
        (F.col("src") + F.col("__i") * F.lit(STEP)).alias("src"),
        (F.col("dst") + F.col("__i") * F.lit(STEP)).alias("dst"),
    ).write.mode("overwrite").parquet(out)


def timed(fn) -> float:
    """Min of two runs: the first pagerank/hits call at each K pays
    page-cache and codegen warmup that the steady state doesn't —
    without the repeat, a warm 3-iter run can clock FASTER than the
    cold 1-iter run before it and the per-iteration delta goes
    negative (observed in the first r9 probe)."""
    best = float("inf")
    for _ in range(2):
        t0 = time.monotonic()
        fn()
        best = min(best, time.monotonic() - t0)
    return round(best, 2)


def main() -> None:
    sys.path.insert(0, str(Path(__file__).resolve().parents[1]))
    from spectrify_spark.operators.graph import hits, pagerank
    from spectrify_spark.session import get_spark

    src_dir = sys.argv[1] if len(sys.argv) > 1 else "/root/testdata/sf0.1"
    ks = [int(a) for a in sys.argv[2:]] or [1, 10, 30]
    spark = get_spark("graph-rehearsal")
    import tempfile

    work = tempfile.mkdtemp(prefix="graph_rehearsal_")
    for k in ks:
        path = f"{work}/edges_x{k}"
        build_edges(spark, src_dir, k, path)
        edges = spark.read.parquet(path)
        n_edges = edges.count()
        lo, hi = 1, 5
        t_lo = timed(lambda: pagerank(edges, iters=lo).count())
        t_hi = timed(lambda: pagerank(edges, iters=hi).count())
        pr_iter = round((t_hi - t_lo) / (hi - lo), 2)
        h_lo = timed(lambda: hits(edges, iters=lo).count())
        h_hi = timed(lambda: hits(edges, iters=hi).count())
        hits_iter = round((h_hi - h_lo) / (hi - lo), 2)
        print(
            json.dumps(
                {
                    "k": k,
                    "n_edges": n_edges,
                    "pagerank_sec_1it": t_lo,
                    "pagerank_sec_5it": t_hi,
                    "pagerank_per_iter": pr_iter,
                    "hits_sec_1it": h_lo,
                    "hits_sec_5it": h_hi,
                    "hits_per_iter": hits_iter,
                }
            ),
            flush=True,
        )


if __name__ == "__main__":
    main()
