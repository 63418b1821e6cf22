"""Phase-level profiler: time labelled sub-steps of one expensive key.

Each phase runs under its own job group so we get (wall sec, job count)
per phase — the breakdown tools/profile_keys.py cannot give.  Bodies
are inlined from __spark_entry__.py unchanged (the profiling is
read-only; it never replaces the bench).

Usage:  python tools/phase_profile.py <key> [--sf DIR]
"""

from __future__ import annotations

import argparse
import sys
import time
from pathlib import Path

sys.path.insert(0, str(Path(__file__).resolve().parents[1]))


def _phase(spark, name, fn, out):
    sc = spark.sparkContext
    group = f"ph:{name}"
    sc.setJobGroup(group, group)
    t0 = time.perf_counter()
    r = fn()
    dt = time.perf_counter() - t0
    sc.setJobGroup("ph:idle", "idle")
    jobs = len(sc.statusTracker().getJobIdsForGroup(group))
    out.append((name, dt, jobs))
    print(f"  {name:42s} {dt:7.2f}s {jobs:3d} jobs", flush=True)
    return r


def prof_publish_index(spark, sf):
    import tempfile

    import __spark_entry__ as E
    from spectrify_spark.catalog.publish import current_path, publish_dir
    from spectrify_spark.operators import quantization as Q
    from spectrify_spark.operators import similarity as SIM
    F = E.F

    out = []
    e = E._t(spark, sf, "embeddings").select("vec_id", "embedding")
    seed = _phase(spark, "choose_centroids", lambda: SIM.choose_centroids(e, n_centroids=8), out)
    cents = _phase(spark, "kmeans_refine(1)", lambda: SIM.kmeans_refine(e, seed, iters=1), out)
    work = tempfile.mkdtemp(prefix="prof_pubidx_")
    root = f"{work}/idxroot"
    build = lambda d: Q.write_ivfpq_index(e, cents, E._pq_books(), d)  # noqa: E731
    _phase(spark, "publish_dir v1 (write+stats)", lambda: publish_dir(root, build), out)
    _phase(spark, "publish_dir v2 (write+stats)", lambda: publish_dir(root, build), out)
    o = Q.ivfpq_topk(spark, current_path(root), E._pq_query(), k=10, nprobe=8)
    _phase(spark, "ivfpq_topk probe + collect", lambda: o.orderBy("adc_dist", "vec_id").count(), out)
    return out


def prof_sim_append_recall(spark, sf):
    import tempfile

    import __spark_entry__ as E
    from spectrify_spark.operators import similarity as SIM
    F = E.F

    out = []
    e = E._t(spark, sf, "embeddings").select("vec_id", "embedding")
    base = e.filter(F.col("vec_id") % 2 == 0)
    delta = e.filter(F.col("vec_id") % 2 == 1)
    seed = _phase(spark, "choose_centroids", lambda: SIM.choose_centroids(base, n_centroids=8), out)
    cents = _phase(spark, "kmeans_refine(2)", lambda: SIM.kmeans_refine(base, seed, iters=2), out)
    work = tempfile.mkdtemp(prefix="prof_simapp_")
    _phase(spark, "write_ivf_index", lambda: SIM.write_ivf_index(base, cents, f"{work}/idx"), out)
    _phase(spark, "append_ivf_index", lambda: SIM.append_ivf_index(delta, f"{work}/idx"), out)
    _phase(spark, "ann_drift_report", lambda: SIM.ann_drift_report(spark, f"{work}/idx"), out)

    qs = e.filter(F.col("vec_id") < 16).select(
        F.col("vec_id").alias("q_id"), F.col("embedding").alias("q_vec")
    )
    idx = SIM.read_ivf_index(spark, f"{work}/idx")
    stored = SIM.read_ivf_centroids(spark, f"{work}/idx")
    ivf = SIM.ivf_knn_join(idx, stored, qs, k=10, nprobe=6).select(
        F.col("q_id").alias("iq"), F.col("vec_id").alias("ivf_id")
    )
    brute = SIM.knn_join_topk(e, qs, k=10).select("q_id", "vec_id")
    n_brute = brute.agg(F.count(F.lit(1)).alias("brute_pairs"))
    n_q = qs.agg(F.count(F.lit(1)).cast("bigint").alias("n_queries"))
    hits = brute.join(
        ivf,
        (brute["q_id"] == ivf["iq"]) & (brute["vec_id"] == ivf["ivf_id"]),
    ).agg(F.count(F.lit(1)).alias("__hits"))
    final = n_brute.crossJoin(F.broadcast(hits)).crossJoin(F.broadcast(n_q))
    _phase(spark, "probe+brute+final collect", lambda: final.count(), out)
    return out


def prof_graph_triangles(spark, sf):
    import __spark_entry__ as E
    F = E.F

    out = []
    fn = E.queries()["q_graph_triangles"]
    _phase(spark, "q_graph_triangles full", lambda: fn(spark, sf).count(), out)
    return out


PROFS = {
    "q_publish_index": prof_publish_index,
    "q_sim_append_recall": prof_sim_append_recall,
    "q_graph_triangles": prof_graph_triangles,
}


def main() -> None:
    ap = argparse.ArgumentParser()
    ap.add_argument("key")
    ap.add_argument("--sf", default="/root/testdata/sf0.1")
    ap.add_argument("--runs", type=int, default=2)
    args = ap.parse_args()

    from spectrify_spark.session import get_spark

    spark = get_spark("phase-profile")
    import __spark_entry__ as E

    E.queries()["q_scan_project"](spark, args.sf).count()  # warm
    for i in range(args.runs):
        spark.catalog.clearCache()
        print(f"run {i + 1}: {args.key}", flush=True)
        PROFS[args.key](spark, args.sf)


if __name__ == "__main__":
    main()
