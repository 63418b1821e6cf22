"""``lake``: the reference's export -> convert -> create pipeline.

Write phase: ``transform.export_to_csv`` -> ``transform.convert_manifest``
-> ``catalog.publish.publish`` (stats and bloom indexes) ->
``catalog.ddl.create``.  Read phase: range scans through
``published_pruned_scan``, point lookups through
``published_pruned_scan_eq`` and SQL aggregates over the registered
table, all against the one published version.
"""

from __future__ import annotations

import datetime as dt
import random
from pathlib import Path

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

from perfbench import checks
from perfbench.harness import OpFailed, dir_bytes, median

ROWS = 15_000
SHARDS = 32
RANGE_SCANS = 6
POINT_LOOKUPS = 8
SQL_AGGS = 2
FIXED_DOUBLES = [1.5, 2.5, 4.0]
STATS_COLS = ["id", "i32"]
BLOOM_COLS = ["id", "code"]

_EPOCH = dt.date(1970, 1, 1)
_WORDS = [
    "amber", "basalt", "cedar", "delta", "ember", "fjord", "garnet", "harbor",
    "indigo", "juniper", "kelp", "lagoon", "meadow", "nectar", "onyx", "prairie",
    "quartz", "ridge", "sierra", "tundra", "umber", "valley", "willow", "zephyr",
]


def _nulls(rng, n: int, share: float) -> np.ndarray:
    return rng.random(n) < share


def _decimal38(rng, n: int) -> pa.Array:
    """decimal(38,6): mostly moderate values, 1% using the full
    precision, built from the 128-bit unscaled words directly."""
    low = rng.integers(-(10**15), 10**15, n, dtype=np.int64)
    high = np.where(low < 0, -1, 0).astype(np.int64)
    big = rng.random(n) < 0.01
    # |unscaled| < 2**126 < 10**38: still within precision 38
    high[big] = rng.integers(-(2**62), 2**62, int(big.sum()), dtype=np.int64)
    low[big] = rng.integers(-(2**63), 2**63 - 1, int(big.sum()), dtype=np.int64)
    words = np.empty((n, 2), dtype=np.int64)
    words[:, 0], words[:, 1] = low, high
    valid = ~_nulls(rng, n, 0.05)
    return pa.Array.from_buffers(
        pa.decimal128(38, 6),
        n,
        [pa.array(valid).buffers()[1], pa.py_buffer(words.tobytes())],
        null_count=int((~valid).sum()),
    )


def make_table(seed: int, rows: int) -> pa.Table:
    """Every type family the reference maps, with NULLs, plus a week
    column; ``id`` is the row number and ``code`` a unique string key."""
    rng = np.random.default_rng(seed)
    n = rows
    ids = np.arange(n, dtype=np.int64)
    perm = rng.permutation(n)
    ts_us = rng.integers(1_640_995_200_000_000, 1_672_531_200_000_000, n)  # 2022
    days = ts_us // 86_400_000_000
    week = days - (days + 3) % 7  # Monday of the ISO week
    pyr = random.Random(seed)
    notes = [
        " ".join(pyr.choice(_WORDS) for _ in range(pyr.randint(1, 4)))
        for _ in range(n)
    ]
    cols = {
        "id": pa.array(ids),
        "i16": pa.array(rng.integers(-32768, 32767, n, dtype=np.int16),
                        mask=_nulls(rng, n, 0.05)),
        "i32": pa.array(rng.integers(-(2**31), 2**31 - 1, n, dtype=np.int32),
                        mask=_nulls(rng, n, 0.05)),
        "i64": pa.array(rng.integers(-(2**63), 2**63 - 1, n, dtype=np.int64),
                        mask=_nulls(rng, n, 0.05)),
        "f32": pa.array(rng.normal(0, 1e4, n).astype(np.float32),
                        mask=_nulls(rng, n, 0.05)),
        "f64": pa.array(rng.normal(0, 1e9, n), mask=_nulls(rng, n, 0.05)),
        "d38": _decimal38(rng, n),
        "amt": pa.array(rng.integers(-(10**9), 10**9, n), mask=_nulls(rng, n, 0.05))
        .cast(pa.decimal128(20, 0))
        .cast(pa.decimal128(18, 2)),
        "flag": pa.array(rng.random(n) < 0.5, mask=_nulls(rng, n, 0.1)),
        "code": pa.array([f"c{p:08x}" for p in perm]),
        "note": pa.array(notes, mask=_nulls(rng, n, 0.1)),
        "dt": pa.array(days.astype(np.int32), mask=_nulls(rng, n, 0.05)).cast(
            pa.date32()
        ),
        "ts": pa.array(ts_us, mask=_nulls(rng, n, 0.05)).cast(pa.timestamp("us")),
        "week": pa.array(
            [(_EPOCH + dt.timedelta(days=int(d))).isoformat() for d in week]
        ),
    }
    return pa.table(cols)


class Lake:
    def __init__(self, bench, seed: int, tag: str):
        self.bench = bench
        self.rows = rows = ROWS
        self.dir = bench.work / tag
        self.src = self.dir / "source.parquet"
        self.dir.mkdir(parents=True, exist_ok=True)
        pq.write_table(make_table(seed, rows), self.src)
        rng = random.Random(seed + 1)
        self.ranges = []
        for _ in range(RANGE_SCANS):
            lo = rng.randrange(rows)
            self.ranges.append((lo, lo + rng.randrange(1, max(2, rows // 20))))
        self.points = [("id", rng.randrange(rows)) for _ in range(POINT_LOOKUPS // 2)]
        self.points += [("code", f"c{rng.randrange(rows):08x}")
                        for _ in range(POINT_LOOKUPS // 2 - 1)]
        self.points.append(("code", "absent-key"))
        self.input_bytes = dir_bytes(self.src)
        self.fixed = self.dir / "fixed_double.parquet"
        pq.write_table(pa.table({"k": [1, 2, 3], "x": FIXED_DOUBLES}), self.fixed)

    # -- one round
    def run_round(self, rnd: dict, i, light: bool = False) -> dict:
        """One round; ``light`` reads one range and one point only."""
        from spectrify_spark import transform
        from spectrify_spark.catalog import ddl, publish

        b, spark = self.bench, self.bench.spark
        base = self.dir / f"r{i}"
        csv_dir, pq_dir, root = base / "csv", base / "parquet", base / "pub"
        table = f"lake_{self.dir.name}_r{i}"
        src_df = spark.read.parquet(str(self.src))
        with b.phase(rnd, "write", watch=[base]):
            manifest = b.op("sources", "export", transform.export_to_csv,
                            src_df, str(csv_dir),
                            max_records_per_file=-(-self.rows // SHARDS))
            conv = b.op("sources", "convert", transform.convert_manifest,
                        spark, manifest, src_df.schema, str(pq_dir))
            b.op("catalog", "publish", publish.publish, conv, str(root),
                 stats_cols=STATS_COLS, bloom_cols=BLOOM_COLS)
            vdir = publish.current_path(str(root))
            b.op("catalog", "ddl", ddl.create, spark,
                 ddl.parquet_table_ddl(table, src_df.schema, vdir))
        out = {"vdir": vdir, "csv_dir": str(csv_dir), "pq_dir": str(pq_dir),
               "ranges": [], "points": [], "aggs": []}
        with b.phase(rnd, "read"):
            for lo, hi in self.ranges[:1] if light else self.ranges:
                out["ranges"].append(b.op("layout", "range_scan", _range_agg,
                                          spark, str(root), lo, hi))
            for col, value in self.points[:1] if light else self.points:
                out["points"].append(b.op("layout", "point_lookup", _point,
                                          spark, str(root), col, value))
            for _ in range(SQL_AGGS):
                out["aggs"].append(b.op("catalog", "sql_aggregate", _sql_agg,
                                        spark, table))
            # a DOUBLE column registered through catalog.ddl reads back as
            # a 4-byte FLOAT and every scan of it fails; the fixed table
            # keeps that fault visible as one failed operation a round
            try:
                out["double_sum"] = b.op("catalog", "sql_double_column", _sql_double,
                                         spark, str(self.fixed), f"{self.dir.name}_r{i}")
            except OpFailed:
                out["double_sum"] = None
        return out

    @staticmethod
    def instrument(bench) -> None:
        """Spans around the index builds that ``publish`` runs."""
        from spectrify_spark.operators import layout

        bench.wrap(layout, "write_file_stats", "layout")
        bench.wrap(layout, "write_file_bloom", "layout")

    def layer_probes(self) -> dict:
        """Traced runs: files each read opens, from the scans' plans."""
        from spectrify_spark.catalog.publish import (
            published_pruned_scan,
            published_pruned_scan_eq,
        )

        spark, root = self.bench.spark, str(self.dir / "r0" / "pub")
        files = [len(published_pruned_scan(spark, root, "id", lo, hi).inputFiles())
                 for lo, hi in self.ranges]
        files += [len(published_pruned_scan_eq(spark, root, c, v).inputFiles())
                  for c, v in self.points]
        return {"layout.files_read_per_query": (sum(files) / len(files), "count")}

    def layers(self, fold, out: dict) -> dict:
        def walls(name):
            return [fold.wall_s(sp) for sp in fold.spans_named(name)]

        conv_jobs = fold.jobs_under(sp["id"] for sp in fold.spans_named("sources.convert"))
        conv_stages = fold.stages_of(conv_jobs)
        big = max(conv_stages, key=lambda s: fold.task_totals([s])["run_ms"])
        runs = sorted(t["run_ms"] for t in fold.tasks[big])
        pubs = fold.spans_named("catalog.publish")
        pub_jobs = fold.jobs_under(sp["id"] for sp in pubs)
        reads = fold.spans_named("layout.range_scan") + fold.spans_named("layout.point_lookup")
        scanned = fold.task_totals(fold.stages_of(fold.jobs_under(sp["id"] for sp in reads)))
        returned = sum(r[0][0] for r in out["ranges"]) + sum(map(len, out["points"]))
        pq_bytes = sum(p.stat().st_size for p in Path(out["pq_dir"]).glob("*.parquet"))
        return {
            "sources.export_s": (sum(walls("sources.export")), "s"),
            "sources.convert_s": (sum(walls("sources.convert")), "s"),
            "sources.convert_tasks": (len(runs), "count"),
            "sources.convert_task_skew": (runs[-1] / max(1, runs[len(runs) // 2]), "ratio"),
            "sources.csv_bytes": (dir_bytes(out["csv_dir"]), "bytes"),
            "sources.parquet_bytes_per_row": (pq_bytes / self.rows, "bytes"),
            "catalog.publish_s": (sum(walls("catalog.publish")), "s"),
            "catalog.publish_jobs": (len(pub_jobs), "count"),
            "catalog.index_build_s": (sum(walls("layout.write_file_stats")
                                          + walls("layout.write_file_bloom")), "s"),
            "catalog.commit_driver_s": (sum(fold.driver_s(sp) for sp in pubs), "s"),
            "catalog.ddl_s": (sum(walls("catalog.ddl")), "s"),
            "layout.range_scan_p50_s": (median(walls("layout.range_scan")), "s"),
            "layout.point_lookup_p50_s": (median(walls("layout.point_lookup")), "s"),
            "layout.rows_scanned_per_row_returned": (
                scanned["in_recs"] / max(1, returned), "ratio"),
        }

    # -- independent checks
    def check(self, out: dict) -> list[str]:
        src = str(self.src)
        errs = checks.table_equal(src, f"{out['vdir']}/*.parquet")
        for (lo, hi), got in zip(self.ranges, out["ranges"]):
            errs += checks.rows_equal(
                f"range id in [{lo},{hi})", got,
                checks.duck(RANGE_SQL.format(src=src, where=f"id >= {lo} AND id < {hi}")))
        for (col, value), got in zip(self.points, out["points"]):
            lit = value if isinstance(value, int) else f"'{value}'"
            errs += checks.rows_equal(
                f"lookup {col}={value!r}", got,
                checks.duck(f"SELECT * FROM read_parquet('{src}') WHERE {col} = {lit}"))
        want = checks.duck(AGG_SQL.format(src=f"read_parquet('{src}')"))
        for got in out["aggs"]:
            errs += checks.rows_equal("sql aggregate by week", got, want)
        if out["double_sum"] is not None and out["double_sum"] != sum(FIXED_DOUBLES):
            errs.append(f"sum of the fixed DOUBLE column: {out['double_sum']}")
        return errs


RANGE_SQL = (
    "SELECT count(*), sum(i32), sum(amt), max(d38), min(ts), "
    "count(*) FILTER (WHERE flag) FROM read_parquet('{src}') WHERE {where}"
)
AGG_SQL = (
    "SELECT week, count(*) AS n, count(flag) AS n_flag, "
    "count(*) FILTER (WHERE flag) AS n_true, sum(amt) AS amt, min(d38) AS d38_min, "
    "max(ts) AS ts_max, min(dt) AS dt_min, max(f32) AS f32_max, "
    "sum(i16) AS i16_sum, max(note) AS note_max "
    "FROM {src} GROUP BY week ORDER BY week"
)


def _range_agg(spark, root: str, lo: int, hi: int) -> list[tuple]:
    from pyspark.sql import functions as F

    from spectrify_spark.catalog.publish import published_pruned_scan

    df = published_pruned_scan(spark, root, "id", lo, hi)
    row = df.agg(
        F.count(F.lit(1)), F.sum("i32"), F.sum("amt"), F.max("d38"), F.min("ts"),
        F.count(F.when(F.col("flag"), 1)),
    ).collect()
    return [tuple(r) for r in row]


def _point(spark, root: str, col: str, value) -> list[tuple]:
    from spectrify_spark.catalog.publish import published_pruned_scan_eq

    return [tuple(r) for r in published_pruned_scan_eq(spark, root, col, value).collect()]


def _sql_double(spark, path: str, tag: str) -> float:
    from pyspark.sql import types as T

    from spectrify_spark.catalog import ddl

    schema = T.StructType([T.StructField("k", T.LongType()),
                           T.StructField("x", T.DoubleType())])
    ddl.create(spark, ddl.parquet_table_ddl(f"fixed_double_{tag}", schema, path))
    return spark.sql(f"SELECT sum(x) FROM fixed_double_{tag}").collect()[0][0]


def _sql_agg(spark, table: str) -> list[tuple]:
    return [tuple(r) for r in spark.sql(AGG_SQL.format(src=table)).collect()]
