"""Scale-up rehearsal data builder: replicate a driver testdata dir
K times with offset keys, producing a larger synthetic SF for scale
rehearsals (sf0.1 x10 ~= sf1).  The driver's own parquet stays the
gate input (TESTDATA.md); this tool only writes DERIVED copies under a
scratch dir for local stress runs — money-aggregate magnitude checks
(sums past 2^53 scaled units) and dedup-family wall-clock rehearsals.

Replication semantics:
- fact tables (lineitem, orders, events) replicate with their primary
  key offset by i*step so group cardinalities grow with K the way a
  real larger SF's would (per-order groups stay the same size; global
  and per-dim-key groups grow Kx);
- documents/embeddings replicate with id offsets and UNCHANGED
  payloads: every replicated doc is an exact near-dup cluster of size
  K, which is the worst realistic load for the dedup family;
- dimension tables copy verbatim so foreign keys keep resolving.

Usage: python tools/make_sf.py SRC_DIR DST_DIR K [--edges]
e.g.:  python tools/make_sf.py /root/testdata/sf0.1 /tmp/sf1 10
(--edges additionally writes a K-replica supplier<->part edge table
with BOTH endpoints offset — the growing-graph rehearsal input; see
make_edges)
"""

from __future__ import annotations

import sys
from pathlib import Path

from pyspark.sql import functions as F


def _step(df, key: str) -> int:
    """Key offset per replica: next power of 10 above max(key).

    Raises on an empty/all-NULL key column: a silent step of 1 would
    make replicas collide with real keys (offset i*1), corrupting the
    rehearsal data instead of failing fast."""
    mx = df.agg(F.max(key)).collect()[0][0]
    if mx is None:
        raise ValueError(
            f"cannot derive a replica step: column {key!r} is empty or "
            "all NULL in the source table"
        )
    step = 1
    while step <= mx:
        step *= 10
    return step


def _replicate(df, k: int, offsets: dict[str, int]):
    """One scan -> K offset copies via an exploded replica index."""
    rep = df.withColumn(
        "__i", F.explode(F.array(*[F.lit(i) for i in range(k)]))
    )
    for col, step in offsets.items():
        rep = rep.withColumn(col, F.col(col) + F.col("__i") * F.lit(step))
    return rep.drop("__i")


def make_sf(spark, src: str, dst: str, k: int) -> None:
    from spectrify_spark.sources.parquet import read_table

    dims = ["region", "nation", "customer", "supplier", "part"]
    for t in dims:
        read_table(spark, f"{src}/{t}.parquet").write.mode("overwrite").parquet(
            f"{dst}/{t}.parquet"
        )

    orders = read_table(spark, f"{src}/orders.parquet")
    ok_step = _step(orders, "o_orderkey")
    _replicate(orders, k, {"o_orderkey": ok_step}).write.mode(
        "overwrite"
    ).parquet(f"{dst}/orders.parquet")

    lineitem = read_table(spark, f"{src}/lineitem.parquet")
    _replicate(lineitem, k, {"l_orderkey": ok_step}).write.mode(
        "overwrite"
    ).parquet(f"{dst}/lineitem.parquet")

    events = read_table(spark, f"{src}/events.parquet")
    _replicate(events, k, {"event_id": _step(events, "event_id")}).write.mode(
        "overwrite"
    ).parquet(f"{dst}/events.parquet")

    docs = read_table(spark, f"{src}/documents.parquet")
    _replicate(docs, k, {"doc_id": _step(docs, "doc_id")}).write.mode(
        "overwrite"
    ).parquet(f"{dst}/documents.parquet")

    emb = read_table(spark, f"{src}/embeddings.parquet")
    _replicate(emb, k, {"vec_id": _step(emb, "vec_id")}).write.mode(
        "overwrite"
    ).parquet(f"{dst}/embeddings.parquet")


def make_edges(spark, src: str, dst: str, k: int) -> None:
    """Write ``edges.parquet``: the supplier<->part bipartite edge
    table replicated K times with BOTH endpoints offset — K disjoint
    isomorphic components, so edges AND nodes grow Kx with degree
    structure preserved.  This is the graph-rehearsal input the plain
    replica cannot provide (offsetting order keys leaves the DISTINCT
    supplier<->part edge set invariant — r8 verdict caveat, closed by
    tools/graph_rehearsal.py).  Foreign keys in this table are
    intentionally NOT resolvable against the copied dims — it exists
    for iteration-cost rehearsals (pagerank/hits/triangles), not for
    joins."""
    from tools.graph_rehearsal import build_edges

    build_edges(spark, src, k, f"{dst}/edges.parquet")


def main() -> None:
    args = [a for a in sys.argv[1:] if a != "--edges"]
    with_edges = "--edges" in sys.argv[1:]
    src, dst, k = args[0], args[1], int(args[2])
    sys.path.insert(0, str(Path(__file__).resolve().parents[1]))
    from spectrify_spark.session import get_spark

    spark = get_spark("make-sf")
    make_sf(spark, src, dst, k)
    if with_edges:
        make_edges(spark, src, dst, k)
    print(f"wrote {dst} = {src} x{k}" + (" (+edges.parquet)" if with_edges else ""))


if __name__ == "__main__":
    main()
