"""Output checks computed apart from the program: DuckDB over the
source and output files, numpy for vectors, plain Python for replays.
None of them calls a reader of ``spectrify_spark``.

Each check returns a list of error strings; an empty list passes.
"""

from __future__ import annotations

import datetime as dt

import duckdb
import numpy as np


def duck(sql: str) -> list[tuple]:
    con = duckdb.connect()
    try:
        con.execute("SET TimeZone = 'UTC'")
        return [tuple(r) for r in con.execute(sql).fetchall()]
    finally:
        con.close()


def _canon(v):
    """One comparable form per value: timestamps as naive UTC."""
    if isinstance(v, dt.datetime) and v.tzinfo is not None:
        return v.astimezone(dt.timezone.utc).replace(tzinfo=None)
    return v


def rows_equal(label: str, got, want) -> list[str]:
    """Order-insensitive equality of two row lists."""
    key = lambda r: tuple((x is None, str(_canon(x))) for x in r)  # noqa: E731
    g, w = sorted(got, key=key), sorted(want, key=key)
    if len(g) != len(w):
        return [f"{label}: {len(g)} rows, expected {len(w)}"]
    for rg, rw in zip(g, w):
        if tuple(map(_canon, rg)) != tuple(map(_canon, rw)):
            return [f"{label}: row {rg!r} != expected {rw!r}"]
    return []


def _column_digest(con, rel: str) -> dict:
    """column -> (type family, non-NULL count, order-insensitive hash)."""
    cols = con.execute(f"DESCRIBE SELECT * FROM {rel}").fetchall()
    exprs, fams = [], {}
    for name, typ, *_ in cols:
        fam = "TIMESTAMP" if typ.startswith("TIMESTAMP") else typ
        fams[name] = fam
        val = f"epoch_us(\"{name}\")" if fam == "TIMESTAMP" else f"\"{name}\""
        exprs.append(f"count(\"{name}\"), sum(hash({val}))::HUGEINT")
    row = con.execute(f"SELECT count(*), {', '.join(exprs)} FROM {rel}").fetchone()
    out = {"__rows": row[0]}
    for i, name in enumerate(fams):
        out[name] = (fams[name], row[1 + 2 * i], row[2 + 2 * i])
    return out


def table_equal(src_glob: str, out_glob: str) -> list[str]:
    """The published rows equal the source: row count, and per column
    the type family, the non-NULL count and a hash summed over rows."""
    con = duckdb.connect()
    try:
        con.execute("SET TimeZone = 'UTC'")
        a = _column_digest(con, f"read_parquet('{src_glob}', hive_partitioning = false)")
        b = _column_digest(con, f"read_parquet('{out_glob}', hive_partitioning = false)")
    finally:
        con.close()
    errs = []
    for k in a.keys() | b.keys():
        if a.get(k) != b.get(k):
            errs.append(f"column {k}: output {b.get(k)} != source {a.get(k)}")
    return sorted(errs)


# ------------------------------------------------------------ cdc


def replay(base: dict, batches: list[list[dict]]) -> dict:
    """key -> row after applying each batch latest-``seq``-wins; ``op``
    'D' deletes, anything else upserts."""
    snap = dict(base)
    for batch in batches:
        last: dict = {}
        for ch in batch:
            if ch["k"] not in last or ch["seq"] > last[ch["k"]]["seq"]:
                last[ch["k"]] = ch
        for k, ch in last.items():
            if ch["op"] == "D":
                snap.pop(k, None)
            else:
                snap[k] = {c: v for c, v in ch.items() if c != "op"}
    return snap


# ------------------------------------------------------------ search


def cosine_topk(corpus: np.ndarray, queries: np.ndarray, k: int) -> np.ndarray:
    """Exact top-k ids by cosine, numpy brute force."""
    c = corpus / np.linalg.norm(corpus, axis=1, keepdims=True)
    q = queries / np.linalg.norm(queries, axis=1, keepdims=True)
    s = q @ c.T
    return np.argsort(-s, axis=1, kind="stable")[:, :k]


def knn_consistent(
    corpus: np.ndarray, queries: np.ndarray, got: dict, k: int
) -> list[str]:
    """Every query has exactly ``k`` hits, and every returned (query,
    id, cos) holds for the vectors numpy has: distinct ids, the score
    equals numpy's cosine.  A query with no rows is missing from
    ``got`` and fails here."""
    errs = []
    cn = np.linalg.norm(corpus, axis=1)
    for qi in range(len(queries)):
        hits = got.get(qi, [])
        ids = [h[0] for h in hits]
        if len(ids) != k or len(set(ids)) != k:
            errs.append(f"query {qi}: ids {ids} not {k} distinct")
            continue
        q = queries[qi]
        for vid, cos in hits:
            want = float(corpus[vid] @ q / (cn[vid] * np.linalg.norm(q)))
            if abs(want - cos) > 1e-9:
                errs.append(f"query {qi}: id {vid} scored {cos}, numpy {want}")
                break
    return errs


def recall_at_k(exact: np.ndarray, got: dict, k: int) -> float:
    """Recall over every query of ``exact``; a query missing from
    ``got`` counts as no hits."""
    hit = sum(
        len(set(exact[qi][:k]) & {h[0] for h in got.get(qi, [])[:k]})
        for qi in range(len(exact))
    )
    return hit / (k * len(exact))


def clusters_equal(planted: list[list[int]], labels: dict) -> list[str]:
    """``labels`` (doc id -> cluster id) groups exactly the planted
    clusters; every other document stays alone."""
    groups: dict = {}
    for doc, cid in labels.items():
        groups.setdefault(cid, set()).add(doc)
    got = {frozenset(g) for g in groups.values() if len(g) > 1}
    want = {frozenset(c) for c in planted}
    errs = []
    if got != want:
        missing, extra = want - got, got - want
        errs.append(
            f"clusters: {len(missing)} planted not found "
            f"(e.g. {sorted(next(iter(missing)))[:4] if missing else []}), "
            f"{len(extra)} unexpected"
        )
    return errs
