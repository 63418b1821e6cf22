"""``cdc``: a published table maintained from a stream of changes.

Set-up publishes nothing; each round publishes the base table through
``catalog.publish.publish`` before its write phase.  Write phase: every
seeded change batch lands in the stream's source directory and is
applied as one micro-batch by
``streaming.cdc.stream_apply_changes_published``; a per-(week, op)
rollup of the changes is refreshed by
``operators.incremental.maintain_published_rollup_cow``.  Read phase,
after every batch: point lookups through ``published_pruned_scan_eq``
and a rollup read, both on the version the batch made.
"""

from __future__ import annotations

import datetime as dt
import decimal
import json
import shutil

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

from perfbench import checks
from perfbench.harness import dir_bytes, median

BASE_ROWS = 6_000
BATCHES = 2
BATCH_ROWS = 300
WEEKS = 26
RECENT_WEEKS = 3
KEYS = ["week", "op"]
SPECS = {"n": ("count", None), "amount": ("sum", "amount"), "qty_max": ("max", "qty")}

_WEEK0 = dt.date(2024, 1, 1)  # a Monday
SCHEMA = pa.schema([
    ("k", pa.int64()), ("week", pa.date32()), ("amount", pa.decimal128(18, 2)),
    ("qty", pa.int32()), ("status", pa.string()), ("flag", pa.bool_()),
    ("updated_at", pa.timestamp("us")), ("seq", pa.int64()),
])
CHANGE_SCHEMA = SCHEMA.append(pa.field("op", pa.string()))
_STATUS = ["new", "paid", "packed", "shipped", "returned"]


def _rows(rng, keys: np.ndarray, weeks: np.ndarray, seq0: int) -> dict:
    n = len(keys)
    cents = rng.integers(-(10**8), 10**8, n)
    status = rng.integers(0, len(_STATUS), n)
    null_status = rng.random(n) < 0.05
    return {
        "k": keys.astype(np.int64),
        "week": [_WEEK0 + dt.timedelta(weeks=int(w)) for w in weeks],
        "amount": [None if c % 17 == 0 else decimal.Decimal(int(c)).scaleb(-2)
                   for c in cents],
        "qty": rng.integers(0, 1000, n).astype(np.int32),
        "status": [None if z else _STATUS[s] for s, z in zip(status, null_status)],
        "flag": rng.random(n) < 0.5,
        "updated_at": [dt.datetime(2024, 7, 1) + dt.timedelta(microseconds=int(u))
                       for u in rng.integers(0, 10**12, n)],
        "seq": np.arange(seq0, seq0 + n, dtype=np.int64),
    }


def make_inputs(seed: int, base_rows: int):
    """Base table and the change batches: upserts, inserts and deletes
    concentrated on the most recent weeks, some keys twice a batch."""
    rng = np.random.default_rng(seed)
    weeks = rng.integers(0, WEEKS, base_rows)
    base = _rows(rng, np.arange(base_rows), weeks, 0)
    base["seq"][:] = 0
    base_tbl = pa.table(base, schema=SCHEMA)
    recent = np.flatnonzero(weeks >= WEEKS - RECENT_WEEKS)
    batch_rows = max(20, base_rows // (BASE_ROWS // BATCH_ROWS))
    batches, next_key, seq = [], base_rows, 1
    for _ in range(BATCHES):
        n_ins, n_del = batch_rows // 4, batch_rows // 8
        n_upd = batch_rows - n_ins - n_del
        upd = rng.choice(recent, n_upd)  # with repeats: latest seq wins
        dele = rng.choice(recent, n_del, replace=False)
        ins = np.arange(next_key, next_key + n_ins)
        next_key += n_ins
        keys = np.concatenate([upd, dele, ins])
        wk = np.concatenate([weeks[upd], weeks[dele],
                             rng.integers(WEEKS - RECENT_WEEKS, WEEKS, n_ins)])
        order = rng.permutation(len(keys))
        rows = _rows(rng, keys[order], wk[order], seq)
        seq += len(keys)
        ops = np.array(["U"] * n_upd + ["D"] * n_del + ["I"] * n_ins)[order]
        rows["op"] = list(ops)
        batches.append(pa.table(rows, schema=CHANGE_SCHEMA))
    return base_tbl, batches


class Cdc:
    def __init__(self, bench, seed: int, tag: str):
        self.bench = bench
        rows = BASE_ROWS
        self.dir = bench.work / tag
        self.dir.mkdir(parents=True, exist_ok=True)
        self.base_tbl, batches = make_inputs(seed, rows)
        # inputs apart from the outputs: publish refuses a root inside
        # the directory its DataFrame reads from
        (self.dir / "input").mkdir()
        self.base = self.dir / "input" / "base.parquet"
        pq.write_table(self.base_tbl, self.base)
        self.batches = []
        for j, b in enumerate(batches):
            p = self.dir / "input" / f"batch-{j:03d}.parquet"
            pq.write_table(b, p)
            self.batches.append(p)
        # lookups per batch: a key the batch touched and one it may not
        rng = np.random.default_rng(seed + 1)
        self.lookups = [[int(b.column("k")[0].as_py()), int(rng.integers(0, rows))]
                        for b in batches]
        self.input_bytes = dir_bytes(*self.batches)

    def run_round(self, rnd: dict, i, light: bool = False) -> dict:
        """One round; ``light`` applies the first batch only."""
        from spectrify_spark.catalog import publish
        from spectrify_spark.operators import incremental
        from spectrify_spark.streaming import cdc

        b, spark = self.bench, self.bench.spark
        base = self.dir / f"r{i}"
        root, rollup = str(base / "snap"), str(base / "rollup")
        src, ckpt = base / "changes", str(base / "ckpt")
        src.mkdir(parents=True)
        publish.publish(spark.read.parquet(str(self.base)), root,
                        stats_cols=["k"], bloom_cols=["k"])
        stream_schema = spark.read.parquet(str(self.batches[0])).schema
        out = {"root": root, "rollup": rollup, "lookups": [], "rollups": []}
        for j, path in enumerate(self.batches[:1] if light else self.batches):
            shutil.copy(path, src / path.name)
            step: dict = {}
            with b.phase(step, "write", watch=[base / "snap", base / "rollup",
                                               base / "ckpt"]):
                b.op("streaming", "batch_apply", _apply_one, cdc, spark,
                     stream_schema, str(src), root, ckpt)
                b.op("incremental", "rollup_refresh",
                     incremental.maintain_published_rollup_cow, spark, rollup,
                     spark.read.parquet(str(path)), KEYS, SPECS, part_col="week")
            with b.phase(step, "read"):
                out["lookups"].append([
                    b.op("layout", "point_lookup", _lookup, spark, root, k)
                    for k in self.lookups[j]])
                out["rollups"].append(b.op("incremental", "rollup_read", _rollup_read,
                                           incremental, spark, rollup))
            for k, v in step.items():
                rnd[k] = rnd.get(k, 0) + v
            if b.trace:
                b.notes.setdefault("cow_rewritten", []).append(_rewritten(spark, rollup))
                b.notes.setdefault("batch_bytes", []).append(step["write_bytes"])
        return out

    @staticmethod
    def instrument(bench) -> None:
        """Spans around the program's own calls inside the micro-batch."""
        from spectrify_spark.catalog import cow, publish
        from spectrify_spark.streaming import cdc

        bench.wrap(publish, "publish", "catalog")
        bench.wrap(cow, "publish_cow_update", "catalog")
        bench.wrap(cdc, "merge_changes", "relational")

    def layer_probes(self) -> dict:
        return {}

    def layers(self, fold, out: dict) -> dict:
        def walls(name):
            return [fold.wall_s(sp) for sp in fold.spans_named(name)]

        applies = fold.spans_named("streaming.batch_apply")
        # publishes inside the micro-batches (the base publish has no span)
        pubs = [sp for sp in fold.spans_named("catalog.publish")
                if sp["parent"] is not None]
        pub_jobs = fold.jobs_under(sp["id"] for sp in pubs)
        # merge_changes only plans; its work runs in the publish's write
        merge_jobs = [min(fold.jobs_under([sp["id"]]), key=lambda j: j["id"])
                      for sp in pubs if fold.jobs_under([sp["id"]])]
        cows = fold.spans_named("catalog.publish_cow_update")
        return {
            "catalog.publish_s": (sum(fold.wall_s(sp) for sp in pubs), "s"),
            "catalog.publish_jobs": (len(pub_jobs), "count"),
            "catalog.commit_driver_s": (sum(fold.driver_s(sp) for sp in pubs), "s"),
            "catalog.cow_commit_s": (sum(fold.wall_s(sp) for sp in cows), "s"),
            "catalog.cow_partitions_rewritten": (
                sum(self.bench.notes["cow_rewritten"]), "count"),
            "streaming.batch_apply_p50_s": (median(fold.wall_s(sp) for sp in applies), "s"),
            "streaming.microbatch_jobs": (len(fold.jobs_under(sp["id"] for sp in applies))
                                          / len(applies), "count"),
            "streaming.bytes_written_per_batch": (
                median(self.bench.notes["batch_bytes"]), "bytes"),
            "relational.merge_s": (fold.job_time_s(merge_jobs), "s"),
            "incremental.rollup_refresh_s": (sum(walls("incremental.rollup_refresh")), "s"),
            "layout.point_lookup_p50_s": (median(walls("layout.point_lookup")), "s"),
        }

    def check(self, out: dict) -> list[str]:
        errs = []
        base = {r["k"]: r for r in self.base_tbl.to_pylist()}
        done: list = []
        for j, path in enumerate(self.batches):
            done.append(pq.read_table(path).to_pylist())
            snap = checks.replay(base, done)
            for k, got in zip(self.lookups[j], out["lookups"][j]):
                want = [tuple(snap[k][c] for c in SCHEMA.names)] if k in snap else []
                errs += checks.rows_equal(f"batch {j} lookup k={k}", got, want)
            files = ", ".join(f"'{p}'" for p in self.batches[: j + 1])
            errs += checks.rows_equal(
                f"rollup after batch {j}", out["rollups"][j],
                checks.duck(ROLLUP_SQL.format(files=files)))
        want = self.dir / "replayed.parquet"
        pq.write_table(pa.Table.from_pylist(list(snap.values()), schema=SCHEMA), want)
        errs += checks.table_equal(str(want), f"{_current(out['root'])}/*.parquet")
        return errs


ROLLUP_SQL = (
    "SELECT week, op, count(*), sum(amount), max(qty) "
    "FROM read_parquet([{files}]) GROUP BY week, op"
)


def _current(root: str) -> str:
    with open(f"{root}/_spectrify_current.json") as fh:
        return f"{root}/v={json.load(fh)['version']}"


def _apply_one(cdc, spark, schema, src: str, root: str, ckpt: str):
    """Start the query over the source directory; the checkpoint makes it
    take only the file added since the last batch, as one micro-batch."""
    stream = spark.readStream.schema(schema).parquet(src)
    q = cdc.stream_apply_changes_published(
        stream, root, key="k", seq_col="seq", checkpoint_dir=ckpt,
        stats_cols=["k"], bloom_cols=["k"])
    q.awaitTermination()
    if q.exception() is not None:
        raise RuntimeError(str(q.exception()))


def _lookup(spark, root: str, k: int) -> list[tuple]:
    from spectrify_spark.catalog.publish import published_pruned_scan_eq

    return [tuple(r) for r in published_pruned_scan_eq(spark, root, "k", k).collect()]


def _rollup_read(incremental, spark, root: str) -> list[tuple]:
    df = incremental.read_rollup_cow(spark, root, KEYS, SPECS)
    return [tuple(r) for r in df.select(*KEYS, *SPECS).collect()]


def _rewritten(spark, root: str) -> int:
    """Partitions the latest copy-on-write version wrote itself."""
    from spectrify_spark.catalog.cow import cow_partition_versions

    parts = cow_partition_versions(spark, root)
    return sum(1 for v in parts.values() if v == max(parts.values()))
