"""Deterministic evidence for the r18 foreachBatch persist handoff
(guide §1.2): every ACTION on the DataFrame a STATELESS foreachBatch
sink receives re-executes the micro-batch plan from the source — the
emptiness guard plus the downstream consumers ran the source scan 2x
per micro-batch before r18 in streaming/rollup.py and streaming/cdc.py.
Wall clock on this host is too noisy to show that (BENCH_NOTES.md:
±2-3x host phases); this rehearsal counts plan executions EXACTLY with
a row accumulator inside a pass-through UDF planted in the micro-batch
plan, and compares the un-persisted pattern against the r18
persist-once pattern.

Measured (this file, sf-independent synthetic): without persist the
plan executes ~2.00x per delivered row; with persist exactly 1.00x.

SCOPE (the r18 finding that bounded the change): this holds only for
STATELESS micro-batch plans.  For the STATEFUL curation sinks
(dropDuplicatesWithinWatermark upstream — streaming/curation.py) the
same source-accumulator probe shows the expensive MAP side already
executes exactly once across all of the sink's actions (Spark reuses
the stateful plan's exchange across jobs within one micro-batch), and
a persisted stateful batch is never substituted from the SQL cache
(the write job re-runs only the post-shuffle dedup stage from reused
shuffle data, re-checking out the per-partition state stores).  Persist
there is cache-write cost for nothing — those sinks keep the plain
take(1) guard.

Run: python tools/foreachbatch_rehearsal.py
"""

from __future__ import annotations

import sys
import tempfile
from pathlib import Path

sys.path.insert(0, str(Path(__file__).resolve().parents[1]))

from pyspark.sql import functions as F  # noqa: E402


def run(persist: bool) -> tuple[int, int]:
    from spectrify_spark.session import get_spark

    spark = get_spark("feb-rehearsal")
    sc = spark.sparkContext
    acc = sc.accumulator(0)

    @F.udf("long")
    def counted(x):
        acc.add(1)
        return x

    work = tempfile.mkdtemp(prefix="feb_rehearsal_")
    spark.range(10_000).withColumn("v", F.col("id") * 2).write.parquet(
        f"{work}/src"
    )
    stream = (
        spark.readStream.schema("id bigint, v bigint")
        .option("maxFilesPerTrigger", "100")
        .parquet(f"{work}/src")
    )
    instrumented = stream.withColumn("id", counted("id"))
    n_rows = 10_000

    def apply_batch(batch, batch_id):
        if persist:
            batch = batch.persist()
        try:
            if not batch.take(1):
                return
            # two downstream consumers, like the publish twins' merge
            batch.filter("v % 2 = 0").write.mode("overwrite").parquet(
                f"{work}/out_a_{batch_id}"
            )
            batch.filter("v % 2 = 1").write.mode("overwrite").parquet(
                f"{work}/out_b_{batch_id}"
            )
        finally:
            if persist:
                batch.unpersist()

    q = (
        instrumented.writeStream.foreachBatch(apply_batch)
        .option("checkpointLocation", f"{work}/ckpt")
        .trigger(availableNow=True)
        .start()
    )
    q.processAllAvailable()
    q.stop()
    return acc.value, n_rows


def main() -> None:
    for persist in (False, True):
        rows_counted, delivered = run(persist)
        print(
            f"persist={persist}: plan executed over {rows_counted} rows "
            f"for {delivered} delivered "
            f"(executions ~= {rows_counted / delivered:.2f}x)"
        )


if __name__ == "__main__":
    main()
