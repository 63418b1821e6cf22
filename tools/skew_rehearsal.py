"""Skew-path rehearsal (VERDICT r8 item 5): no AQE skew-join split had
ever FIRED in a rehearsal — the x10 replica grows uniformly, so the
skew machinery (session factory turns it on; skew.salted_join is the
explicit fallback) had only design-argument evidence.  This tool
builds a deliberately skewed join and measures all three paths:

- fact: sf0.1 lineitem replicated KX with ``hot_frac`` of rows
  remapped to ONE hot orderkey (the 1-10%-of-rows hot key the verdict
  prescribes);
- dim: one row per orderkey, except the hot key appears ``hot_dup``
  times — so the hot key's join output explodes and the skew is real
  compute, not just row count.

Paths measured (sort-merge forced; broadcast would hide the skew):
1. unsalted, AQE skew-join OFF — the straggler baseline;
2. unsalted, AQE skew-join ON with thresholds lowered to local-scale
   bytes (at 100 TB the DEFAULT 256 MB threshold plays this role; a
   rehearsal partition is ~MBs, so without lowering, the optimizer
   correctly judges the skew too small to bother splitting) — the
   final adaptive plan is checked for the ``skewed`` AQEShuffleRead
   marker so "the mechanism fired" is observed, not assumed;
3. skew.salted_join (16 salts), AQE skew-join OFF — the explicit
   fallback for skew AQE can't fix.

Usage: python tools/skew_rehearsal.py [SRC_DIR] [K] [HOT_FRAC] [HOT_DUP]
       (defaults: /root/testdata/sf0.1, 10, 0.2, 64)
Prints one JSON line per path.  Record results in BENCH_NOTES.md.
"""

from __future__ import annotations

import json
import sys
import tempfile
import time
from pathlib import Path

from pyspark.sql import functions as F

HOT_KEY = 1


def build(spark, src_dir: str, k: int, hot_frac: float, hot_dup: int, work: str):
    from spectrify_spark.sources.parquet import read_table

    li = read_table(spark, f"{src_dir}/lineitem.parquet").select(
        "l_orderkey", "l_partkey", "l_quantity", "l_extendedprice"
    )
    rep = li.withColumn(
        "__i", F.explode(F.array(*[F.lit(i).cast("long") for i in range(k)]))
    )
    step = 100_000_000
    # deterministic hot_frac of rows -> the single hot key (pmod, not
    # %: Spark's % keeps the sign, which silently doubled the hot
    # fraction in the first r9 probe by routing every negative hash in)
    hot = F.pmod(F.xxhash64("l_orderkey", "l_partkey", "__i"), F.lit(1000)) < int(
        hot_frac * 1000
    )
    # high-entropy payload: real fact rows carry incompressible bytes;
    # without this, the K-way replica explode lays identical rows
    # ADJACENT in the shuffle stream and LZ4 flattens the hot
    # partition's bytes below AQE's (byte-based!) skew threshold even
    # at 13x row skew — the detector literally cannot see a
    # highly-compressible hot key (first r9 probe, documented in
    # BENCH_NOTES)
    fact = rep.select(
        F.when(hot, F.lit(HOT_KEY))
        .otherwise(F.col("l_orderkey") + F.col("__i") * F.lit(step))
        .alias("fk"),
        "l_quantity",
        F.xxhash64("l_orderkey", "l_partkey", "l_quantity", "__i").alias(
            "payload"
        ),
    )
    # 64 files: AQE splits a skewed reduce partition along MAP-output
    # boundaries, so the upstream stage needs enough map tasks — a
    # single fat parquet file makes the hot partition unsplittable
    # (createSkewPartitionSpecs -> None) no matter how skewed it is.
    # At 100 TB map counts are naturally in the thousands; locally the
    # file count stands in for them.  (Found by decompiling
    # OptimizeSkewedJoin when a 2.6x-over-threshold partition still
    # logged "number of skewed partitions: 0".)
    fact.repartition(64).write.mode("overwrite").parquet(f"{work}/fact")

    keys = rep.select(
        (F.col("l_orderkey") + F.col("__i") * F.lit(step)).alias("fk")
    ).distinct()
    dim = keys.withColumn(
        "__d",
        F.explode(
            F.when(
                F.col("fk") == HOT_KEY,
                F.array(*[F.lit(i) for i in range(hot_dup)]),
            ).otherwise(F.array(F.lit(0)))
        ),
    ).select("fk", (F.col("fk") % 97).alias("dim_payload"), "__d")
    # ensure the hot key exists on the dim side hot_dup times even
    # though the fact replaced it: union it in explicitly
    hot_rows = spark.range(hot_dup).select(
        F.lit(HOT_KEY).cast("long").alias("fk"),
        F.lit(HOT_KEY % 97).cast("long").alias("dim_payload"),
        F.col("id").cast("int").alias("__d"),
    )
    dim.filter(F.col("fk") != HOT_KEY).unionByName(hot_rows).drop(
        "__d"
    ).write.mode("overwrite").parquet(f"{work}/dim")


def run_join(spark, work: str, salted: bool, skew_aqe: bool) -> dict:
    from spectrify_spark.operators.skew import salted_join

    fact = spark.read.parquet(f"{work}/fact")
    dim = spark.read.parquet(f"{work}/dim")
    spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
    spark.conf.set("spark.sql.adaptive.autoBroadcastJoinThreshold", "-1")
    spark.conf.set("spark.sql.adaptive.skewJoin.enabled", str(skew_aqe).lower())
    if skew_aqe:
        # local-scale stand-ins for the 256MB/64MB/5.0 defaults that
        # would govern a real 100 TB shuffle partition: local compressed
        # blocks are ~100s of KB, so the default thresholds can never
        # trip here by construction
        spark.conf.set(
            "spark.sql.adaptive.skewJoin.skewedPartitionThresholdInBytes", "64k"
        )
        spark.conf.set("spark.sql.adaptive.skewJoin.skewedPartitionFactor", "2")
        spark.conf.set("spark.sql.adaptive.advisoryPartitionSizeInBytes", "32k")
        # the join output feeds an agg, so splitting the skewed
        # partition adds a shuffle downstream — without force, AQE
        # (correctly, by its cost model) declines to split at local
        # scale; at 100 TB the extra shuffle is noise next to the
        # straggler and force is the production setting for this shape
        spark.conf.set("spark.sql.adaptive.forceOptimizeSkewedJoin", "true")
    t0 = time.monotonic()
    if salted:
        out = salted_join(fact, dim, "fk", "fk", num_salts=16)
    else:
        out = fact.join(dim, "fk")
    agg = out.agg(
        F.count(F.lit(1)).alias("n"),
        F.sum("l_quantity").alias("s"),
        # carry high-entropy bytes through the join shuffle: Catalyst
        # pushes this projection below the join, so the modulus must be
        # LARGE — pmod 1000 left 0-999 values that LZ4 flattened until
        # the hot partition read 1.95x median, under the 2.0 factor
        # (debugged via ShuffleQueryStage mapStats).  1e9+7 keeps ~30
        # bits/row in the shuffle and the 81M-row sum far inside long
        # range under ANSI.
        F.sum(F.pmod(F.col("payload"), F.lit(1_000_000_007))).alias("p"),
    )
    row = agg.collect()[0]
    sec = round(time.monotonic() - t0, 2)
    plan = agg._jdf.queryExecution().executedPlan().toString()
    skew_fired = "skewed" in plan
    for key in (
        "spark.sql.autoBroadcastJoinThreshold",
        "spark.sql.adaptive.autoBroadcastJoinThreshold",
        "spark.sql.adaptive.skewJoin.enabled",
        "spark.sql.adaptive.skewJoin.skewedPartitionThresholdInBytes",
        "spark.sql.adaptive.skewJoin.skewedPartitionFactor",
        "spark.sql.adaptive.advisoryPartitionSizeInBytes",
        "spark.sql.adaptive.forceOptimizeSkewedJoin",
    ):
        try:
            spark.conf.unset(key)
        except Exception:
            pass
    return {
        "path": "salted16" if salted else ("aqe_skew" if skew_aqe else "unsalted"),
        "sec": sec,
        "rows": row.n,
        "sum_qty": float(row.s),
        "aqe_skew_fired": skew_fired,
    }


def main() -> None:
    sys.path.insert(0, str(Path(__file__).resolve().parents[1]))
    from spectrify_spark.session import get_spark

    src_dir = sys.argv[1] if len(sys.argv) > 1 else "/root/testdata/sf0.1"
    k = int(sys.argv[2]) if len(sys.argv) > 2 else 10
    hot_frac = float(sys.argv[3]) if len(sys.argv) > 3 else 0.2
    hot_dup = int(sys.argv[4]) if len(sys.argv) > 4 else 64
    spark = get_spark("skew-rehearsal")
    work = tempfile.mkdtemp(prefix="skew_rehearsal_")
    build(spark, src_dir, k, hot_frac, hot_dup, work)
    # one warm pass (page cache + codegen), then the measured passes
    run_join(spark, work, salted=False, skew_aqe=False)
    for salted, skew_aqe in ((False, False), (False, True), (True, False)):
        print(json.dumps(run_join(spark, work, salted, skew_aqe)), flush=True)


if __name__ == "__main__":
    main()
