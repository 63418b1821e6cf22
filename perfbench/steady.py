"""Repeat a workload on one commit and show how steady each metric is.

    python3 perfbench/steady.py --workload lake --runs 10
    python3 perfbench/steady.py --workload cdc --runs 3 --same-seed
    python3 perfbench/steady.py --workload search --runs 2 --overhead

Each run is a separate ``run.py`` process.  By default run ``i`` uses
seed ``i + 1``, as a comparison of two commits would; ``--same-seed``
repeats seed 1.  For every end-to-end metric it prints the median, the
quartiles, min and max and the spread (quartile distance over median)
next to the bound in BENCHMARK.json, and the same for the raw wall
times behind ``setup_s``, ``write_s`` and ``read_s``.  It checks the
steal-time model those three rest on (README, *Wall time and the
host's steal time*), and says whether ``spark_jobs`` and
``bytes_out_per_in`` repeat exactly and, when they do not, what
differs.  ``--overhead`` runs each seed untraced and traced and prints
what tracing adds to ``write_s`` and ``read_s``.
"""

from __future__ import annotations

import argparse
import json
import statistics
import subprocess
import sys
from pathlib import Path

HERE = Path(__file__).resolve().parent
REPO = HERE.parent


def run_once(workload: str, seed: int, seconds: int, trace: int) -> dict:
    proc = subprocess.run(
        [sys.executable, str(HERE / "run.py"), "--workload", workload,
         "--seed", str(seed), "--seconds", str(seconds), "--trace", str(trace)],
        cwd=REPO, capture_output=True, text=True, timeout=600,
    )
    lines = proc.stdout.strip().splitlines()
    if proc.returncode != 0 or not lines:
        sys.exit(f"run failed (seed {seed}):\n{proc.stderr[-3000:]}")
    record = json.loads(lines[-2])["record"] if len(lines) > 1 else {}
    return {**json.loads(lines[-1]), "record": record}


def spread(values: list) -> tuple:
    q1, med, q3 = statistics.quantiles(values, n=4) if len(values) > 1 else values * 3
    return q1, statistics.median(values), q3


def stage(run: dict, name: str) -> dict:
    rec = run["record"]["setup" if name == "setup" else "round"]
    return {k[len(name) + 1:]: v for k, v in rec.items() if k.startswith(name + "_")}


def _corr(xs: list, ys: list) -> str:
    try:
        return f"{statistics.correlation(xs, ys):+.2f}"
    except statistics.StatisticsError:  # constant input or too few runs
        return "n/a"


def model_check(runs: list) -> None:
    """How well ``wall * cpu / (cpu + steal)`` removes the host's steal.

    If it holds, the scaled time does not follow steal from run to run
    (the raw wall time does), runs with almost no steal have a raw wall
    time near the scaled median of all runs, and the scaled-to-wall
    ratio does not follow the client's share of the CPU time (steal is
    machine-wide, so a phase whose CPU sits more in the Python client
    than in the JVM would be scaled the same way)."""
    print("\nsteal-time model (wall x cpu / (cpu + steal)):")
    print(f"{'stage':<7}{'corr(wall,steal)':>18}{'corr(scaled,steal)':>20}"
          f"{'corr(ratio,client)':>20}{'low-steal runs':>16}{'their wall':>12}"
          f"{'scaled median':>15}")
    for name in ("setup", "write", "read"):
        st = [stage(r, name) for r in runs]
        wall = [x["wall_s"] for x in st]
        scaled = [x["s"] for x in st]
        steal = [x["steal_s"] for x in st]
        ratio = [x["s"] / x["wall_s"] for x in st]
        client = [x["client_cpu_s"] / max(1e-9, x["tree_cpu_s"]) for x in st]
        low = [x["wall_s"] for x in st if x["steal_s"] < 0.02 * x["tree_cpu_s"]]
        print(f"{name:<7}{_corr(wall, steal):>18}{_corr(scaled, steal):>20}"
              f"{_corr(ratio, client):>20}{len(low):>16}"
              f"{statistics.median(low) if low else float('nan'):>12.4g}"
              f"{statistics.median(scaled):>15.4g}")
    print("per run: stage wall / scaled / steal / tree cpu / client cpu (s)")
    for r in runs:
        print(f"  seed {r['record']['seed']}: " + "  ".join(
            f"{n} {x['wall_s']:.2f}/{x['s']:.2f}/{x['steal_s']:.2f}/"
            f"{x['tree_cpu_s']:.2f}/{x['client_cpu_s']:.2f}"
            for n in ("setup", "write", "read") for x in [stage(r, n)]))


def main() -> int:
    ap = argparse.ArgumentParser(description=__doc__.splitlines()[0])
    ap.add_argument("--workload", required=True)
    ap.add_argument("--runs", type=int, default=10)
    ap.add_argument("--same-seed", action="store_true")
    ap.add_argument("--overhead", action="store_true")
    args = ap.parse_args()
    bench = json.loads((REPO / "BENCHMARK.json").read_text())
    bounds = {m["name"]: m["bound"] for m in bench["end_to_end"]}
    seconds = bench["run_seconds"]
    seeds = [1] * args.runs if args.same_seed else list(range(1, args.runs + 1))
    runs, traced = [], []
    for seed in seeds:
        runs.append(run_once(args.workload, seed, seconds, 0))
        if args.overhead:
            traced.append(run_once(args.workload, seed, seconds, 1))
        r = runs[-1]
        print(f"seed {seed}: correct={r['correct']} attempted={r['attempted']} "
              f"failed={r['failed']} " + " ".join(
                  f"{k}={v['value']:.6g}" for k, v in r["metrics"].items())
              + " (host steal in set-up/write/read " + "/".join(
                  f"{stage(r, n)['steal_s']:.2f}" for n in ("setup", "write", "read"))
              + " s)", flush=True)
    print(f"\n{args.workload}: {len(runs)} runs, seeds {seeds}")
    print(f"{'metric':<18}{'median':>12}{'q1':>12}{'q3':>12}{'min':>12}{'max':>12}"
          f"{'spread':>9}{'bound':>8}")
    table = {name: [r["metrics"][name]["value"] for r in runs] for name in bounds}
    for name in ("setup", "write", "read"):
        table[f"{name}_wall_s"] = [stage(r, name)["wall_s"] for r in runs]
    for name, vals in table.items():
        q1, med, q3 = spread(vals)
        print(f"{name:<18}{med:>12.6g}{q1:>12.6g}{q3:>12.6g}{min(vals):>12.6g}"
              f"{max(vals):>12.6g}{(q3 - q1) / med:>9.3f}{bounds.get(name, '-'):>8}")
    shares = {r["failed"] / r["attempted"] for r in runs}
    print(f"failed share of attempted: {sorted(shares)}")
    if not all(r["correct"] for r in runs):
        print("SOME RUNS FAILED THEIR OUTPUT CHECKS")
    for name in ("spark_jobs", "bytes_out_per_in"):
        vals = {r["metrics"][name]["value"] for r in runs}
        if len(vals) == 1:
            print(f"{name} repeats exactly: {vals.pop()}")
        elif name == "bytes_out_per_in" and not args.same_seed:
            print(f"{name} differs by seed (each seed's inputs compress "
                  f"differently): {sorted(vals)}; run --same-seed to see it repeat")
        else:
            by_run = [(s, r["metrics"][name]["value"]) for s, r in zip(seeds, runs)]
            print(f"{name} DOES NOT REPEAT: (seed, value) {by_run}")
    model_check(runs)
    if traced:
        print("\ntracing overhead (traced minus untraced, same seed):")
        for name in ("write_s", "read_s"):
            d = [t["metrics"][f"trace.{name}"]["value"] - u["metrics"][name]["value"]
                 for u, t in zip(runs, traced)]
            base = statistics.median(u["metrics"][name]["value"] for u in runs)
            print(f"  {name}: median {statistics.median(d):+.3f} s "
                  f"({statistics.median(d) / base:+.1%} of the untraced median)")
    return 0


if __name__ == "__main__":
    sys.exit(main())
