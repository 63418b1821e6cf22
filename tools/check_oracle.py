"""Local replica of the driver's correctness gate: run every
``queries()`` entry on Spark and its ``oracle_sql()`` twin on DuckDB,
compare row count, column names, and an order-insensitive value hash.

Usage: python tools/check_oracle.py [--vanilla] [sf_dir] [query ...]

``--vanilla`` builds a bare SparkSession (no engine session factory) —
the driver's actual environment.  The engine's read path must carry its
own conventions (NTZ inference off, nanos handling) for this to pass;
the r4 round failed exactly here, so run the window keys vanilla before
each round ends.

r8: the comparison is now DRIVER-FAITHFUL — both result sets round-trip
through pandas exactly like the driver's canonicalizer (Spark via
``toPandas()``, DuckDB via ``.df()``, then ``sort_values`` over every
column).  The r7 round shipped four local-green/driver-red keys because
the old ``fetchall()`` path never saw two pandas-only effects:

* DuckDB HUGEINT (integer ``SUM``) becomes float64 in pandas, so the
  oracle hashes ``150.0`` where Spark hashes ``150`` — caught here as
  an int/float dtype-kind drift AND a render mismatch.
* ``sort_values`` crashes on array/map/struct cells
  (``TypeError: unhashable type: 'list'``) — reproduced here verbatim,
  plus a schema-level meta-check that forbids complex output columns.
"""

from __future__ import annotations

import sys
import time
from pathlib import Path

sys.path.insert(0, str(Path(__file__).resolve().parents[1]))

import duckdb

import __spark_entry__ as entry_mod
from spectrify_spark.session import get_spark

TABLES = [
    "region", "nation", "customer", "supplier", "part",
    "orders", "lineitem", "events", "documents", "embeddings",
]


def complex_output_cols(schema) -> list[str]:
    """Columns whose type the driver's pandas canonicalizer cannot
    sort/hash (array/map/struct).  Registry keys must serialize these
    to strings — q_embed_standardize / q_multimodal_decode were the r7
    casualties."""
    from pyspark.sql import types as T

    return [
        f.name
        for f in schema.fields
        if isinstance(f.dataType, (T.ArrayType, T.MapType, T.StructType))
    ]


def render_cell(v) -> str:
    """Dtype-faithful cell rendering over pandas-materialized values.

    int64 150 -> '150' but float64 150.0 -> '150.0' ON PURPOSE: the
    driver canonicalizes through pandas, where DuckDB HUGEINT arrives
    as float64 — that drift must FAIL here, not be papered over."""
    import datetime
    import decimal
    import math

    if v is None:
        return "NULL"
    if isinstance(v, float):  # covers numpy.float64 (a float subclass)
        f = float(v)
        if math.isnan(f):
            return "NaN"
        return repr(f)
    if isinstance(v, decimal.Decimal):
        return str(v.normalize())
    if isinstance(v, datetime.datetime):  # covers pandas.Timestamp
        try:
            if v != v:  # NaT
                return "NULL"
        except TypeError:
            return "NULL"
        v = v.replace(tzinfo=None)
        # DuckDB materializes DATE as a midnight datetime64 while Spark
        # keeps datetime.date objects; collapse midnight-exact naive
        # timestamps to the date form so the engines agree (a genuine
        # date-vs-nonmidnight-timestamp difference still mismatches).
        if (v.hour, v.minute, v.second, v.microsecond) == (0, 0, 0, 0):
            return v.date().isoformat()
        return v.isoformat()
    if isinstance(v, datetime.date):
        return v.isoformat()
    if isinstance(v, (list, tuple)):
        return "[" + ",".join(render_cell(x) for x in v) + "]"
    return str(v)


# Back-compat cell normalizer for the fetchall()-based secondary diff.
norm_cell = render_cell


def canon_pandas(pdf):
    """Replicate the driver's canonicalization: name-sorted columns,
    ``sort_values`` over all of them.  Raises TypeError on unhashable
    (list/dict) cells exactly like the driver does — that crash IS the
    signal."""
    pdf = pdf.reindex(sorted(pdf.columns), axis=1)
    if len(pdf.columns) and len(pdf):
        pdf = pdf.sort_values(by=list(pdf.columns), kind="mergesort")
    return pdf.reset_index(drop=True)


def pandas_hash(pdf) -> str:
    """Order-insensitive value hash over a pandas frame, rendering each
    cell with the dtype-faithful renderer."""
    import hashlib

    pdf = pdf.reindex(sorted(pdf.columns), axis=1)
    lines = sorted(
        "|".join(render_cell(v) for v in row)
        for row in pdf.itertuples(index=False, name=None)
    )
    h = hashlib.sha256()
    for line in lines:
        h.update(line.encode())
        h.update(b"\n")
    return h.hexdigest()[:16]


def dtype_kind_drift(spdf, odf) -> list[str]:
    """Per-column pandas dtype-kind conflicts that change rendering:
    one side integer, the other float (the HUGEINT class)."""
    drift = []
    for c in spdf.columns:
        if c not in odf.columns:
            continue
        ks, ko = spdf[c].dtype.kind, odf[c].dtype.kind
        if {ks, ko} == {"i", "f"} or {ks, ko} == {"u", "f"}:
            drift.append(f"{c}: spark={spdf[c].dtype} duckdb={odf[c].dtype}")
    return drift


def hash_rows(cols: list[str], rows: list[tuple]) -> str:
    """Legacy fetchall-path hash (kept for diff display + old tests)."""
    import hashlib

    order = sorted(range(len(cols)), key=lambda i: cols[i])
    lines = sorted(
        "|".join(render_cell(r[i]) for i in order) for r in rows
    )
    h = hashlib.sha256()
    for line in lines:
        h.update(line.encode())
        h.update(b"\n")
    return h.hexdigest()[:16]


def compare_key(df, ores) -> list[str]:
    """Driver-faithful comparison of a Spark DataFrame result and a
    DuckDB relation.  Returns a list of problems (empty == pass)."""
    problems = []

    bad_cols = complex_output_cols(df.schema)
    if bad_cols:
        problems.append(
            f"complex output columns (driver canonicalizer crashes on "
            f"these): {bad_cols}"
        )

    spdf = df.toPandas()
    ocols = list(ores.columns)
    odf = ores.df()

    if len(spdf) != len(odf):
        problems.append(f"rowcount spark={len(spdf)} duckdb={len(odf)}")
    if sorted(c.lower() for c in spdf.columns) != sorted(
        c.lower() for c in ocols
    ):
        problems.append(
            f"cols spark={sorted(spdf.columns)} duckdb={sorted(ocols)}"
        )
        return problems

    drift = dtype_kind_drift(spdf, odf)
    if drift:
        problems.append("dtype drift (HUGEINT class): " + "; ".join(drift))

    # the driver-crash probe: sort_values over all columns must not raise
    try:
        cs = canon_pandas(spdf)
        co = canon_pandas(odf)
    except TypeError as e:
        problems.append(f"driver canonicalizer would crash: {e}")
        return problems

    if not problems:
        hs, ho = pandas_hash(cs), pandas_hash(co)
        if hs != ho:
            problems.append(f"hash spark={hs} duckdb={ho}")
            sset = {
                "|".join(render_cell(v) for v in row)
                for row in cs.itertuples(index=False, name=None)
            }
            oset = {
                "|".join(render_cell(v) for v in row)
                for row in co.itertuples(index=False, name=None)
            }
            for x in list(sset - oset)[:2]:
                problems.append(f"  spark-only: {x[:160]}")
            for x in list(oset - sset)[:2]:
                problems.append(f"  duck-only:  {x[:160]}")
    return problems


def main() -> int:
    argv = [a for a in sys.argv[1:] if a != "--vanilla"]
    vanilla = "--vanilla" in sys.argv[1:]
    sf_dir = argv[0] if argv else "/root/testdata/sf0.001"
    only = set(argv[1:])
    if vanilla:
        from pyspark.sql import SparkSession

        spark = (
            SparkSession.builder.master("local[8]")
            .appName("oracle-check-vanilla")
            .config("spark.ui.enabled", "false")
            .getOrCreate()
        )
    else:
        spark = get_spark("oracle-check")
    con = duckdb.connect()
    for t in TABLES:
        # driver testdata is one file per table; make_sf.py rehearsal
        # dirs are Spark-written directories -> glob the part files
        import os

        p = f"{sf_dir}/{t}.parquet"
        pat = f"{p}/*.parquet" if os.path.isdir(p) else p
        con.sql(f"CREATE VIEW {t} AS SELECT * FROM '{pat}'")

    qs = entry_mod.queries()
    oracles = entry_mod.oracle_sql()
    failures = []
    n_ran = 0
    for name, fn in qs.items():
        if only and name not in only:
            continue
        n_ran += 1
        t0 = time.time()
        try:
            df = fn(spark, sf_dir)
            n_rows = df.count()
        except Exception as e:  # noqa: BLE001
            print(f"FAIL {name}: spark error: {e}")
            failures.append(name)
            continue
        if name not in oracles:
            dt = time.time() - t0
            print(f"ok   {name}: rows-only, {n_rows} rows ({dt:.1f}s)")
            continue
        try:
            ores = con.sql(oracles[name])
            problems = compare_key(df, ores)
        except Exception as e:  # noqa: BLE001
            print(f"FAIL {name}: duckdb error: {e}")
            failures.append(name)
            continue
        dt = time.time() - t0
        if problems:
            print(f"FAIL {name}: " + "; ".join(problems))
            failures.append(name)
        else:
            print(f"ok   {name}: {n_rows} rows match ({dt:.1f}s)")
    print(f"\n{n_ran - len(failures)}/{n_ran} pass")
    return 1 if failures else 0


if __name__ == "__main__":
    raise SystemExit(main())
