"""Show that every output check can fail.

    python3 perfbench/selftest.py

Runs one round of each workload in one session, checks that the
untouched outputs pass, then corrupts one output of each kind and
checks that its check fails: a dropped row and a flipped boolean in
the published lake table, a dropped row in the CDC snapshot and a
changed rollup count, a planted duplicate split from its cluster, a
perturbed nearest neighbour and one query's neighbours dropped.  Exits 1 if any corruption goes unseen.
"""

from __future__ import annotations

import copy
import os
import sys
import time
from pathlib import Path

import pyarrow as pa
import pyarrow.compute as pc
import pyarrow.parquet as pq

sys.path.insert(0, str(Path(__file__).resolve().parent.parent))

from perfbench.cdc import Cdc, _current  # noqa: E402
from perfbench.harness import Bench  # noqa: E402
from perfbench.lake import Lake  # noqa: E402
from perfbench.search import Search  # noqa: E402


def _first_file(directory: str) -> Path:
    files = sorted(Path(directory).glob("*.parquet"))
    return next(f for f in files if pq.read_metadata(f).num_rows > 0)


def _rewrite(directory: str, edit, every: bool = False) -> None:
    """Replace the first non-empty parquet file under ``directory``, or
    ``every`` one, by ``edit(table)``; files keep their names."""
    files = sorted(Path(directory).glob("*.parquet")) if every else [
        _first_file(directory)]
    for f in files:
        pq.write_table(edit(pq.read_table(f)), f)


def drop_row(t: pa.Table) -> pa.Table:
    return t.slice(1)


def flip_bool(col: str):
    def edit(t: pa.Table) -> pa.Table:
        i = t.schema.get_field_index(col)
        vals = t.column(col).to_pylist()
        j = next(k for k, v in enumerate(vals) if v is not None)
        vals[j] = not vals[j]
        return t.set_column(i, col, pa.array(vals, pa.bool_()))
    return edit


def split_cluster(planted: list):
    member = planted[0][1]

    def edit(t: pa.Table) -> pa.Table:
        i = t.schema.get_field_index("cluster_id")
        hit = pc.equal(t.column("doc_id"), member)
        return t.set_column(i, "cluster_id",
                            pc.if_else(hit, t.column("doc_id"), t.column("cluster_id")))
    return edit


def main() -> int:
    os.environ["TZ"] = "UTC"
    time.tzset()
    bench = Bench("selftest", 1, False)
    seen, missed = [], []

    def expect(label: str, errs: list, fail: bool) -> None:
        ok = bool(errs) == fail
        (seen if ok else missed).append(label)
        print(f"{'ok  ' if ok else 'MISS'} {label}: "
              f"{'fails as it should' if fail and errs else errs[:1] or 'passes'}")

    try:
        bench.start_session()
        for cls in (Lake, Cdc, Search):
            cls.instrument(bench)
        lake = Lake(bench, 1, "lake")
        out = lake.run_round({}, 0)
        expect("lake: untouched output", lake.check(out), False)
        vdir = out["vdir"]
        pq_files = {f: f.read_bytes() for f in Path(vdir).glob("*.parquet")}
        _rewrite(vdir, drop_row)
        expect("lake: a published row dropped", lake.check(out), True)
        for f, raw in pq_files.items():
            f.write_bytes(raw)
        _rewrite(vdir, flip_bool("flag"))
        expect("lake: a boolean flipped", lake.check(out), True)

        cdc = Cdc(bench, 1, "cdc")
        out = cdc.run_round({}, 0)
        expect("cdc: untouched output", cdc.check(out), False)
        bad = copy.deepcopy(out)
        row = list(bad["rollups"][-1][0])
        row[2] += 1
        bad["rollups"][-1][0] = tuple(row)
        expect("cdc: a rollup count changed", cdc.check(bad), True)
        _rewrite(_current(out["root"]), drop_row)
        expect("cdc: a snapshot row dropped", cdc.check(out), True)

        search = Search(bench, 1, "search")
        out = search.run_round({}, 0)
        expect("search: untouched output", search.check(out), False)
        bad = copy.deepcopy(out)
        q = next(iter(bad["knn"]))
        vid, cos = bad["knn"][q][0]
        bad["knn"][q][0] = ((vid + 1) % len(search.corpus), cos)
        expect("search: a neighbour perturbed", search.check(bad), True)
        bad = copy.deepcopy(out)
        del bad["knn"][next(iter(bad["knn"]))]
        expect("search: one query's rows dropped", search.check(bad), True)
        _rewrite(out["clusters"], split_cluster(search.planted), every=True)
        expect("search: a planted duplicate dropped", search.check(out), True)
    finally:
        bench.stop()
        bench.cleanup()
    print(f"{len(seen)} of {len(seen) + len(missed)} expectations met")
    return 1 if missed else 0


if __name__ == "__main__":
    sys.exit(main())
