"""Run one benchmark workload and print its result as the last line.

    python3 perfbench/run.py --workload lake --seed 1 --seconds 10 --trace 0

Run from the root of a checkout: the program under test is the
``spectrify_spark`` package next to this directory.  A run sets up
(session start, inputs from the seed, one light warm-up round) and
reports the whole set-up as ``setup_s``, then measures one round: the
write phase, then the read phase.  With ``--trace 1`` it reports the
per-layer metrics instead.  The round is sized to take about
``--seconds`` (10) on a 4-core host, but its size, not the clock, fixes
what is measured, so every commit is measured on the same work.
"""

from __future__ import annotations

import argparse
import json
import os
import sys
import time
from pathlib import Path

sys.path.insert(0, str(Path(__file__).resolve().parent.parent))

from perfbench.harness import Bench  # noqa: E402

END_TO_END = {
    "setup_s": "s", "write_s": "s", "read_s": "s",
    "bytes_out_per_in": "ratio", "spark_jobs": "count", "cpu_s": "s",
}
PER_LAYER = {
    "session.start_s": "s", "trace.write_s": "s", "trace.read_s": "s",
    "spark.driver_s": "s", "spark.executor_run_s": "s", "spark.executor_cpu_s": "s",
    "spark.gc_s": "s", "spark.shuffle_write_bytes": "bytes",
    "spark.shuffle_read_bytes": "bytes", "spark.spill_bytes": "bytes",
    "spark.input_bytes": "bytes", "spark.output_bytes": "bytes", "spark.tasks": "count",
}


def workload_class(name: str):
    if name == "lake":
        from perfbench.lake import Lake as cls
    elif name == "cdc":
        from perfbench.cdc import Cdc as cls
    elif name == "search":
        from perfbench.search import Search as cls
    else:
        raise SystemExit(f"unknown workload {name!r} (lake, cdc, search)")
    return cls


def set_up(bench: Bench, cls, seed: int) -> tuple:
    """Start the session, make the inputs from the seed and run one
    light round on them (the whole write phase, one read of each kind),
    so that the classes are loaded and the JIT has compiled the code
    paths before the measured round: in one process the first full
    round of ``lake`` takes twice the time of the third.  The whole of it is timed into the returned
    record as ``setup``; it is the same work on every run."""
    rec: dict = {}
    with bench.timed(rec, "setup"):
        rec["session_start_s"] = bench.start_session()
        t0 = time.perf_counter()
        wl = cls(bench, seed, "in")
        rec["inputs_s"] = time.perf_counter() - t0
        t0 = time.perf_counter()
        wl.run_round({}, "warm", light=True)
        rec["warm_up_s"] = time.perf_counter() - t0
    bench.attempted = bench.failed = 0
    bench.spans.clear()
    bench.notes.clear()
    return wl, rec


def end_to_end(rnd: dict, setup: dict, input_bytes: int) -> dict:
    return {
        "setup_s": setup["setup_s"],
        "write_s": rnd["write_s"],
        "read_s": rnd["read_s"],
        "bytes_out_per_in": rnd["write_bytes"] / input_bytes,
        "spark_jobs": rnd["write_jobs"] + rnd["read_jobs"],
        "cpu_s": rnd["write_cpu_s"] + rnd["read_cpu_s"],
    }


def per_layer(fold, rnd: dict, setup: dict) -> dict:
    phases = fold.spans_named("phase.write") + fold.spans_named("phase.read")
    tot = fold.task_totals(fold.stages_of(fold.jobs_under(sp["id"] for sp in phases)))
    return {
        "session.start_s": setup["session_start_s"],
        "trace.write_s": rnd["write_s"],
        "trace.read_s": rnd["read_s"],
        "spark.driver_s": sum(fold.driver_s(sp) for sp in phases),
        "spark.executor_run_s": tot["run_ms"] / 1e3,
        "spark.executor_cpu_s": tot["cpu_ns"] / 1e9,
        "spark.gc_s": tot["gc_ms"] / 1e3,
        "spark.shuffle_write_bytes": tot["sw"],
        "spark.shuffle_read_bytes": tot["sr"],
        "spark.spill_bytes": tot["spill"],
        "spark.input_bytes": tot["in_bytes"],
        "spark.output_bytes": tot["out_bytes"],
        "spark.tasks": tot["tasks"],
    }


def print_layers(workload: str, common: dict, specific: dict) -> None:
    print(f"per-layer metrics, workload {workload}:")
    for name, (value, unit) in sorted(
        {**{k: (v, PER_LAYER[k]) for k, v in common.items()}, **specific}.items()
    ):
        print(f"  {name:<40} {value:>16.6g} {unit}")


def main(argv=None) -> int:
    ap = argparse.ArgumentParser(description=__doc__.splitlines()[0])
    ap.add_argument("--workload", required=True)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    args = ap.parse_args(argv)
    os.environ["TZ"] = "UTC"
    time.tzset()
    cls = workload_class(args.workload)
    bench = Bench(args.workload, args.seed, bool(args.trace))
    try:
        cls.instrument(bench)
        wl, setup = set_up(bench, cls, args.seed)
        env = bench.environment()
        rnd: dict = {}
        out = wl.run_round(rnd, 0)
        layers = wl.layer_probes() if bench.trace else {}
        bench.stop()  # flushes the event log
        errs = wl.check(out)
        for e in errs:
            print(f"CHECK FAILED: {e}", file=sys.stderr)
        result = {"correct": not errs, "attempted": bench.attempted,
                  "failed": bench.failed}
        if bench.trace:
            from perfbench.eventlog import Fold

            fold = Fold(bench.trace_dir / bench.app_id, bench.spans)
            common = per_layer(fold, rnd, setup)
            specific = {**wl.layers(fold, out), **layers}
            print_layers(args.workload, common, specific)
            report = bench.write_trace(
                {"common": common, "specific": {k: v[0] for k, v in specific.items()}}
            )
            print(f"spans and per-layer report: {report.parent}")
            metrics = {k: {"value": v, "unit": PER_LAYER[k]} for k, v in common.items()}
        else:
            e2e = end_to_end(rnd, setup, wl.input_bytes)
            metrics = {k: {"value": v, "unit": END_TO_END[k]} for k, v in e2e.items()}
        record = {**env, "workload": args.workload, "setup": setup, "round": rnd,
                  "attempted": bench.attempted, "failed": bench.failed}
        print(json.dumps({"record": record}))
        print(json.dumps({**result, "metrics": metrics}))
        return 0
    finally:
        bench.stop()
        bench.cleanup()


if __name__ == "__main__":
    sys.exit(main())
