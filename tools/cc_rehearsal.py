"""Connected-components topology rehearsal: WHY the graph module
carries a second CC algorithm (large-star/small-star contraction,
graph.connected_components) next to dedup.connected_components'
min-label propagation.

Propagation converges in O(component diameter) rounds — the right
trade for LSH near-dup clusters (diameter ~2-3), catastrophically
wrong for link graphs: a 100 TB web crawl's weak components contain
chains millions of hops long, so the round count (each round = a full
join+agg over the edge set) is the data diameter, not log n.  Star
contraction rewires edges toward the component minimum and converges
in O(log n) rounds on ANY topology.

This tool builds the adversarial case — a single D-hop chain (diameter
= edge count) plus the same-size random graph as a control — and runs
both kernels with the same round budget, timing them and checking the
labels they produce.  Expected shape: propagation cannot finish the
chain for any budget < D (labels only crawl max_iters hops, so it
raises and the case reports "propagation did not converge"), star
contraction is correct in ~log2(D) rounds.

Usage: python tools/cc_rehearsal.py [D ...]   (default: 1024 4096)
       python tools/cc_rehearsal.py --scale [SRC_DIR] [K ...]
Prints one JSON line per case.  Record in BENCH_NOTES.md.

``--scale`` reuses graph_rehearsal.build_edges (K disjoint isomorphic
replicas of the supplier<->part graph, both endpoints offset): edges
AND components grow Kx while per-component structure is constant, so
the star contraction's ROUND COUNT must stay flat and wall time
~linear — the property that says the algorithm's cost is data passes,
not topology-dependent iteration blowup.
"""

from __future__ import annotations

import json
import random
import sys
import time
from pathlib import Path


def scale_mode(argv: list[str]) -> None:
    """K-replica scaling: rounds flat, wall ~linear in edge count."""
    sys.path.insert(0, str(Path(__file__).resolve().parents[1]))
    import tempfile

    from spectrify_spark.session import get_spark
    from spectrify_spark.operators.graph import connected_components
    from tools.graph_rehearsal import build_edges

    src = argv[0] if argv else "/root/testdata/sf0.1"
    ks = [int(a) for a in argv[1:]] or [1, 10]
    spark = get_spark(app_name="cc-scale-rehearsal")
    for k in ks:
        out = tempfile.mkdtemp(prefix=f"cc_edges_x{k}_")
        build_edges(spark, src, k, out)
        edges = spark.read.parquet(out)
        # edge count OUTSIDE the timed window: it is a full scan that
        # grows Kx and would inflate exactly the linearity claim this
        # rehearsal exists to measure
        n_edges = edges.count()
        t0 = time.time()
        comp = connected_components(edges)
        n_nodes = comp.count()
        cc_sec = round(time.time() - t0, 2)
        n_comp = comp.select("component").distinct().count()
        print(
            json.dumps(
                {
                    "k": k,
                    "n_edges": n_edges,
                    "n_nodes": n_nodes,
                    "n_components": n_comp,
                    "cc_sec": cc_sec,
                }
            )
        )
        spark.catalog.clearCache()


def main() -> None:
    if len(sys.argv) > 1 and sys.argv[1] == "--scale":
        scale_mode(sys.argv[2:])
        return
    dias = [int(a) for a in sys.argv[1:]] or [1024, 4096]
    sys.path.insert(0, str(Path(__file__).resolve().parents[1]))
    from spectrify_spark.session import get_spark
    from spectrify_spark.operators.dedup import (
        connected_components as prop_cc,
    )
    from spectrify_spark.operators.graph import connected_components as star_cc

    spark = get_spark(app_name="cc-rehearsal")
    budget = 25  # star's default; propagation gets the same budget
    for d in dias:
        chain = [(i, i + 1) for i in range(d)]
        rng = random.Random(11)
        rand = [(rng.randrange(d), rng.randrange(d)) for _ in range(d)]
        rand = [(a, b) for a, b in rand if a != b]
        for name, edges in [("chain", chain), ("random", rand)]:
            df = spark.createDataFrame(edges, ["src", "dst"])
            t0 = time.time()
            star = {
                r.id: r.component
                for r in star_cc(df, max_iters=budget).collect()
            }
            t_star = time.time() - t0
            pairs = df.select(
                df.src.alias("id_a"), df.dst.alias("id_b")
            )
            t0 = time.time()
            try:
                prop = {
                    r.id: r.cluster_id
                    for r in prop_cc(pairs, max_iters=budget).collect()
                }
            except ValueError:
                prop = "propagation did not converge"
            t_prop = time.time() - t0
            # ground truth by union-find on the driver (rehearsal only)
            parent: dict[int, int] = {}

            def find(x: int) -> int:
                parent.setdefault(x, x)
                while parent[x] != x:
                    parent[x] = parent[parent[x]]
                    x = parent[x]
                return x

            for a, b in edges:
                ra, rb = find(a), find(b)
                if ra != rb:
                    parent[max(ra, rb)] = min(ra, rb)
            truth = {n: find(n) for n in parent}
            print(
                json.dumps(
                    {
                        "topology": name,
                        "diameter_edges": d,
                        "round_budget": budget,
                        "star_correct": star == truth,
                        "star_sec": round(t_star, 2),
                        "propagation_correct": prop == truth
                        if isinstance(prop, dict)
                        else prop,
                        "propagation_sec": round(t_prop, 2),
                    }
                )
            )
        spark.catalog.clearCache()


if __name__ == "__main__":
    main()
