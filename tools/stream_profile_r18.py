"""r18 streaming-family profile (VERDICT r17 item 1): break each
expensive streaming key into (source-write setup | stream lifecycle |
read-back) and, inside the lifecycle, per-micro-batch durations from
``StreamingQuery.recentProgress`` — the profile gap the r17 judge
flagged ("what share is per-query session/stream setup vs. per-batch
work is unknown").

Mirrors the entry bodies of q_stream_rollup / q_stream_curate_publish /
q_stream_snapshot / q_stream_join exactly (same sources, same params,
same sinks) but instruments each phase; the registry bodies themselves
stay the driver-verified surface.

Run: python tools/stream_profile_r18.py [--sf DIR] [key ...]
"""

from __future__ import annotations

import json
import sys
import tempfile
import time
from pathlib import Path

sys.path.insert(0, str(Path(__file__).resolve().parents[1]))

from pyspark.sql import functions as F  # noqa: E402


def _progress(q) -> list[dict]:
    out = []
    for p in q.recentProgress:
        if isinstance(p, str):
            p = json.loads(p)
        out.append(
            {
                "batchId": p.get("batchId"),
                "numInputRows": p.get("numInputRows"),
                "durationMs": p.get("durationMs"),
            }
        )
    return out


def _run_publish_twin(spark, sf_dir, kind: str) -> dict:
    """kind: rollup | curate_publish | snapshot"""
    from spectrify_spark.sources.parquet import read_table

    rec: dict = {"key": kind}
    work = tempfile.mkdtemp(prefix=f"sprof_{kind}_")
    t0 = time.perf_counter()
    if kind == "rollup":
        o = read_table(spark, f"{sf_dir}/orders.parquet").select(
            "o_orderpriority",
            F.col("o_totalprice").cast("decimal(12,2)").alias("price"),
            "o_custkey",
        )
        src = f"{work}/orders"
        o.repartition(4).write.parquet(src)
        stream = (
            spark.readStream.schema(
                "o_orderpriority string, price decimal(12,2), o_custkey bigint"
            )
            .option("maxFilesPerTrigger", "1")
            .parquet(src)
        )
    else:
        d = read_table(spark, f"{sf_dir}/documents.parquet").select(
            "doc_id",
            "text",
            F.to_timestamp(F.lit("2024-01-01 00:00:00")).alias("ts"),
        )
        src = f"{work}/docs"
        # mirrors the r18 entry bodies: duplicate delivery in one job
        d.unionByName(d).repartition(8).write.mode("append").parquet(src)
        stream = (
            spark.readStream.schema("doc_id bigint, text string, ts timestamp")
            .option("maxFilesPerTrigger", "3")
            .parquet(src)
        )
    t_setup = time.perf_counter()
    rec["setup_s"] = round(t_setup - t0, 3)

    prev = spark.conf.get("spark.sql.shuffle.partitions", "200")
    spark.conf.set("spark.sql.shuffle.partitions", "8")
    try:
        if kind == "rollup":
            from spectrify_spark.streaming.rollup import stream_rollup_publish

            q = stream_rollup_publish(
                stream,
                f"{work}/rollup",
                ["o_orderpriority"],
                {
                    "n_orders": ("count", None),
                    "sum_price": ("sum", "price"),
                    "avg_price": ("avg", "price"),
                    "n_custs": ("approx_distinct", "o_custkey", 18),
                },
                keep_versions=2,
                checkpoint_dir=f"{work}/ckpt",
            )
        elif kind == "curate_publish":
            from spectrify_spark.streaming.curation import (
                stream_curate_dedup_publish,
            )

            q = stream_curate_dedup_publish(
                stream,
                f"{work}/pub",
                min_quality=0.5,
                min_tokens=10,
                split_weights=(90, 5, 5),
                checkpoint_dir=f"{work}/ckpt",
            )
        else:
            from spectrify_spark.streaming.curation import (
                stream_curate_snapshot_publish,
            )

            q = stream_curate_snapshot_publish(
                stream,
                f"{work}/snap",
                f"{work}/corpus",
                f"{work}/counts",
                min_quality=0.5,
                min_tokens=10,
                split_weights=(90, 5, 5),
                keep_versions=3,
                checkpoint_dir=f"{work}/ckpt",
            )
        t_start = time.perf_counter()
        rec["stream_start_s"] = round(t_start - t_setup, 3)
        q.processAllAvailable()
        t_drain = time.perf_counter()
        rec["drain_s"] = round(t_drain - t_start, 3)
        rec["batches"] = _progress(q)
        q.stop()
        rec["stop_s"] = round(time.perf_counter() - t_drain, 3)
    finally:
        spark.conf.set("spark.sql.shuffle.partitions", prev)

    t1 = time.perf_counter()
    if kind == "rollup":
        from spectrify_spark.operators.incremental import read_rollup

        read_rollup(
            spark,
            f"{work}/rollup",
            ["o_orderpriority"],
            {
                "n_orders": ("count", None),
                "sum_price": ("sum", "price"),
                "avg_price": ("avg", "price"),
                "n_custs": ("approx_distinct", "o_custkey", 18),
            },
        ).count()
    elif kind == "curate_publish":
        from spectrify_spark.catalog.publish import read_published

        read_published(spark, f"{work}/pub").count()
    else:
        from spectrify_spark.catalog.publish import read_snapshot_table

        read_snapshot_table(spark, f"{work}/snap", "corpus").count()
    rec["readback_s"] = round(time.perf_counter() - t1, 3)
    rec["total_s"] = round(time.perf_counter() - t0, 3)
    return rec


def _run_stream_join(spark, sf_dir) -> dict:
    from spectrify_spark.streaming import events as SE

    rec: dict = {"key": "join"}
    t0 = time.perf_counter()
    src = SE.read_event_stream(spark, f"{sf_dir}/events.parquet")
    joined = SE.stream_stream_interval_join(
        src.filter(F.col("event_type") == "click"),
        src.filter(F.col("event_type") == "purchase"),
        key="user_id",
        interval="1 hour",
        watermark="90 days",
    ).select("l_event_id", "r_event_id")
    prev = spark.conf.get("spark.sql.shuffle.partitions", "200")
    spark.conf.set("spark.sql.shuffle.partitions", "8")
    try:
        q = SE.run_to_memory_sink(joined, "sprof_join", output_mode="append")
        t_start = time.perf_counter()
        rec["stream_start_s"] = round(t_start - t0, 3)
        q.processAllAvailable()
        t_drain = time.perf_counter()
        rec["drain_s"] = round(t_drain - t_start, 3)
        rec["batches"] = _progress(q)
        q.stop()
        rec["stop_s"] = round(time.perf_counter() - t_drain, 3)
    finally:
        spark.conf.set("spark.sql.shuffle.partitions", prev)
    spark.table("sprof_join").count()
    rec["total_s"] = round(time.perf_counter() - t0, 3)
    return rec


def main() -> None:
    import argparse

    ap = argparse.ArgumentParser()
    ap.add_argument("--sf", default="/root/testdata/sf0.1")
    ap.add_argument(
        "keys",
        nargs="*",
        default=["rollup", "curate_publish", "snapshot", "join"],
    )
    args = ap.parse_args()

    from spectrify_spark.session import get_spark

    spark = get_spark("stream-profile-r18")
    spark.conf.set("spark.sql.session.timeZone", "UTC")
    # warm the JVM once so the first key doesn't absorb codegen/JIT
    spark.read.parquet(f"{args.sf}/orders.parquet").count()

    out = []
    for k in args.keys:
        if k == "join":
            rec = _run_stream_join(spark, args.sf)
        else:
            rec = _run_publish_twin(spark, args.sf, k)
        out.append(rec)
        print(f"# {json.dumps(rec)}", file=sys.stderr)
    print(json.dumps(out))


if __name__ == "__main__":
    main()
