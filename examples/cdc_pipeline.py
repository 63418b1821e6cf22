"""CDC snapshot maintenance: batch MERGE, reconciliation diff, and the
streaming apply loop over the same change log, committed as published
versions.

    python examples/cdc_pipeline.py /root/testdata/sf0.001 /tmp/cdc_demo
"""

from __future__ import annotations

import sys

from pyspark.sql import functions as F

from spectrify_spark.catalog.publish import publish, read_published
from spectrify_spark.operators.relational import diff_summary, merge_changes
from spectrify_spark.session import get_spark
from spectrify_spark.sources.parquet import read_table
from spectrify_spark.streaming import cdc


def main(sf_dir: str, work: str) -> None:
    spark = get_spark("cdc-example")
    base = read_table(spark, f"{sf_dir}/orders.parquet").select(
        "o_orderkey", "o_custkey", "o_totalprice"
    )
    mod = F.col("o_orderkey") % 10
    changes = (
        base.filter(mod == 0).withColumn("op", F.lit("D"))
        .unionByName(
            base.filter(mod == 1)
            .withColumn("o_totalprice", F.col("o_totalprice") + 1000.0)
            .withColumn("op", F.lit("U"))
        )
    )

    # 1. one-shot batch MERGE
    merged = merge_changes(base, changes, key="o_orderkey")

    # 2. the same log applied as a STREAM: the base is published as v1,
    #    every micro-batch publishes the next version
    changes_dir, root = f"{work}/changes", f"{work}/snapshot"
    changes.write.mode("overwrite").parquet(changes_dir)
    publish(base, root)
    q = cdc.stream_apply_changes_published(
        spark.readStream.schema(changes.schema).parquet(changes_dir),
        root,
        key="o_orderkey",
        checkpoint_dir=f"{work}/ckpt",
    )
    q.awaitTermination()

    # 3. reconcile: streamed snapshot vs batch MERGE must be identical
    diff_summary(merged, read_published(spark, root), "o_orderkey").show()
    print("empty diff = the continuous and batch applies agree")


if __name__ == "__main__":
    main(*sys.argv[1:3])
