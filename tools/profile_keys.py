"""Per-key profiling harness for the r17 optimization round.

For each requested registry key, runs ``fn(spark, sf_dir).count()`` N
times under a dedicated job group and reports median wall seconds and
Spark jobs per run — the two numbers the optimization targets (wall
time for the bench record, job count as the passes-over-data proxy;
each job pays the scheduler/codegen floor AND is usually a separate
scan or shuffle round at scale).

Usage::

    python tools/profile_keys.py [--sf DIR] [--runs N] [--pythonpath P] key...

``--pythonpath`` lets the same harness profile the PRE-optimization
tree (a ``git archive`` export) for before/after evidence.
"""

from __future__ import annotations

import argparse
import json
import statistics
import sys
import time
from pathlib import Path


def main() -> None:
    ap = argparse.ArgumentParser()
    ap.add_argument("--sf", default="/root/testdata/sf0.1")
    ap.add_argument("--runs", type=int, default=3)
    ap.add_argument("--pythonpath", default=str(Path(__file__).resolve().parents[1]))
    ap.add_argument("--tag", default="")
    ap.add_argument("keys", nargs="+")
    args = ap.parse_args()

    sys.path.insert(0, args.pythonpath)
    import __spark_entry__ as E
    from spectrify_spark.session import get_spark

    spark = get_spark("profile-keys")
    qs = E.queries()
    qs["q_scan_project"](spark, args.sf).count()  # warm JVM + footers

    out = {}
    for key in args.keys:
        fn = qs[key]
        sc = spark.sparkContext
        group = f"prof:{key}:{args.tag}"
        sc.setJobGroup(group, group)
        times = []
        try:
            for _ in range(args.runs):
                t0 = time.perf_counter()
                fn(spark, args.sf).count()
                times.append(time.perf_counter() - t0)
        finally:
            sc.setJobGroup("prof:idle", "idle")
        n_jobs = len(sc.statusTracker().getJobIdsForGroup(group))
        med = statistics.median(times)
        out[key] = {
            "median_s": round(med, 3),
            "jobs_per_run": round(n_jobs / args.runs, 1),
            "spread_s": round(max(times) - min(times), 3),
        }
        print(
            f"# {key}: {med:.2f}s  jobs/run={n_jobs / args.runs:.1f} "
            f"spread={max(times) - min(times):.2f}",
            file=sys.stderr,
        )
    print(json.dumps(out))


if __name__ == "__main__":
    main()
