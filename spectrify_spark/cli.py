"""CLI surface — parity with the reference's click commands
(reference spectrify/main.py:16-95: transform | export | convert |
create-table | add-part), driven by argparse over the Spark engine.

The reference needed Redshift connection parameters on every command;
here the source is any Spark-readable path or JDBC URL, so commands
take paths + a schema file instead of a live database.
"""

from __future__ import annotations

import argparse
import json
import sys

from spectrify_spark import transform as TR
from spectrify_spark.catalog import ddl as DDL
from spectrify_spark.session import get_spark
from spectrify_spark.sources import csv as CSV
from spectrify_spark.types import schema_from_columns


def _load_schema(schema_json: str):
    """Schema file format: [["col", "SQLTYPE"], ...] (the reference got
    this by reflecting Redshift; we accept it explicitly)."""
    with open(schema_json) as fh:
        return schema_from_columns([tuple(x) for x in json.load(fh)])


def _parse_measure_specs(measures: list) -> dict:
    """``OUT=KIND[:SRC[:P]]`` CLI specs -> the incremental-rollup specs
    dict (operators/incremental.py).  Validation of kinds/arity happens
    in ``_check_specs`` — here only the syntax is parsed."""
    specs: dict = {}
    for m in measures:
        if "=" not in m:
            raise SystemExit(
                f"rollup: measure {m!r} is not OUT=KIND[:SRC[:P]]"
            )
        out, rhs = m.split("=", 1)
        parts = rhs.split(":")
        if len(parts) == 1:
            specs[out] = (parts[0], None)
        elif len(parts) == 2:
            specs[out] = (parts[0], parts[1])
        elif len(parts) == 3:
            try:
                prob = float(parts[2])
            except ValueError:
                raise SystemExit(
                    f"rollup: measure {m!r}: P must be a probability"
                ) from None
            specs[out] = (parts[0], parts[1], prob)
        else:
            raise SystemExit(
                f"rollup: measure {m!r} is not OUT=KIND[:SRC[:P]]"
            )
    return specs


def main(argv: list[str] | None = None) -> int:
    p = argparse.ArgumentParser(prog="spectrify-spark")
    p.add_argument(
        "--conf",
        action="append",
        default=[],
        metavar="KEY=VALUE",
        help="extra Spark conf (repeatable), e.g. "
        "--conf spark.hadoop.fs.s3a.access.key=... — the generic "
        "passthrough for credentials/region the reference injected "
        "into its UNLOAD SQL (reference spectrify/export.py:36-53)",
    )
    p.add_argument(
        "--s3a-from-env",
        action="store_true",
        help="map the standard AWS_* environment variables to "
        "fs.s3a.* conf (env half of reference utils/redshift.py:4-27)",
    )
    sub = p.add_subparsers(dest="cmd", required=True)

    t = sub.add_parser("transform", help="source parquet -> parquet + external table")
    t.add_argument("source")
    t.add_argument("table")
    t.add_argument("dest")
    t.add_argument("--partition-by", nargs="*", default=None)

    e = sub.add_parser("export", help="table parquet -> UNLOAD-convention CSV + manifest")
    e.add_argument("source")
    e.add_argument("csv_dir")
    e.add_argument("--max-records-per-file", type=int, default=None)

    ej = sub.add_parser(
        "export-jdbc",
        help="live JDBC table -> UNLOAD-convention CSV + manifest "
        "(the reference's export stage, reference spectrify/main.py:44-52; "
        "connection params resolve flag -> REDSHIFT_* env -> default, and "
        "a missing password is PROMPTED for, hidden, like the reference "
        "CLI — reference main.py:20)",
    )
    ej.add_argument("table")
    ej.add_argument("csv_dir")
    ej.add_argument("--host", default=None)
    ej.add_argument("--port", default=None)
    ej.add_argument("--user", default=None)
    ej.add_argument("--password", default=None)
    ej.add_argument("--db", default=None)
    ej.add_argument(
        "--jdbc-url",
        default=None,
        help="full JDBC URL override (any Spark-supported driver, e.g. "
        "jdbc:derby:...); skips host/port/db resolution",
    )
    ej.add_argument("--driver", default=None, help="JDBC driver class, if needed")
    ej.add_argument("--max-records-per-file", type=int, default=None)

    c = sub.add_parser("convert", help="manifest CSV -> typed parquet")
    c.add_argument("manifest")
    c.add_argument("schema_json")
    c.add_argument("dest")

    ct = sub.add_parser("create-table", help="emit+run external-table DDL over parquet")
    ct.add_argument("table")
    ct.add_argument("location")
    ct.add_argument("--dry-run", action="store_true")
    ct.add_argument(
        "--yes",
        action="store_true",
        help="skip the interactive confirm prompt (the reference CLI "
        "prompts before running CREATE TABLE, reference create.py:72-73)",
    )

    ap = sub.add_parser("add-part", help="ALTER TABLE ADD PARTITION")
    ap.add_argument("table")
    ap.add_argument("spec", help="key=value")
    ap.add_argument("location")

    q = sub.add_parser("query", help="run SQL over a testdata sf dir")
    q.add_argument("sql")
    q.add_argument("--sf-dir", default="/root/testdata/sf0.001")
    q.add_argument("--limit", type=int, default=20)

    cu = sub.add_parser(
        "curate",
        help="documents parquet -> cleaned/deduped/split corpus parquet",
    )
    cu.add_argument("source", help="parquet with (doc_id, text) columns")
    cu.add_argument("dest")
    cu.add_argument("--min-tokens", type=int, default=5)
    cu.add_argument("--near-dup-threshold", type=float, default=0.8)
    cu.add_argument("--partition-by-split", action="store_true")
    cu.add_argument(
        "--chunk-size",
        type=int,
        default=0,
        help="if >0, emit one row per context-window chunk instead of per doc",
    )
    cu.add_argument("--chunk-overlap", type=int, default=0)
    cu.add_argument(
        "--bench",
        default=None,
        help="parquet with a `text` column: drop docs sharing 5-gram "
        "shingles with this benchmark/eval set (decontamination)",
    )
    cu.add_argument(
        "--dedup-lines",
        action="store_true",
        help="C4-style corpus-global line dedup before cleaning "
        "(docs reduced to nothing are dropped)",
    )
    cu.add_argument(
        "--redact-pii",
        action="store_true",
        help="mask emails/SSNs/phones/IPs with typed tokens",
    )

    va = sub.add_parser(
        "validate", help="data-quality check suite over a parquet table"
    )
    va.add_argument("source")
    va.add_argument(
        "--not-null", action="append", default=[], metavar="COL",
        help="NULL fraction must be 0 (repeatable)",
    )
    va.add_argument(
        "--unique", action="append", default=[], metavar="COL",
        help="no duplicate values (repeatable)",
    )
    va.add_argument(
        "--in-range", action="append", default=[], metavar="COL:LO:HI",
        help="non-NULL values must lie in [LO, HI] (repeatable)",
    )
    va.add_argument(
        "--fk", action="append", default=[], metavar="COL=PARQUET:KEY",
        help="references must exist in the dim parquet (repeatable)",
    )
    va.add_argument(
        "--strict", action="store_true",
        help="exit nonzero if any check fails",
    )

    dr = sub.add_parser(
        "drift", help="corpus drift metrics (KL/JS/TV) between two documents parquets"
    )
    dr.add_argument("corpus_a")
    dr.add_argument("corpus_b")
    dr.add_argument("--text-col", default="text")

    di = sub.add_parser(
        "diff", help="keyed reconciliation diff of two parquet tables"
    )
    di.add_argument("left")
    di.add_argument("right")
    di.add_argument("key")
    di.add_argument(
        "--full", action="store_true", help="print drifted rows, not just counts"
    )
    di.add_argument("--limit", type=int, default=20)

    pk = sub.add_parser(
        "pack", help="assign token-budget shard ids for data-loader packing"
    )
    pk.add_argument("source", help="parquet with (doc_id, text) columns")
    pk.add_argument("dest")
    pk.add_argument("--budget", type=int, default=2048, help="tokens per shard")
    pk.add_argument("--id-col", default="doc_id")
    pk.add_argument("--text-col", default="text")

    co = sub.add_parser(
        "compact",
        help="rewrite a parquet dataset to ~target-size files, "
        "optionally Z-ordering by columns for multi-dim data skipping",
    )
    co.add_argument("source")
    co.add_argument("dest")
    co.add_argument(
        "--target-mb", type=int, default=128, help="target file size (MiB)"
    )
    co.add_argument(
        "--zorder",
        nargs="*",
        default=None,
        metavar="COL",
        help="integer columns to Z-order by (low bits interleaved)",
    )
    co.add_argument(
        "--stats",
        nargs="*",
        default=None,
        metavar="COL",
        help="rebuild the per-file min/max skipping index on the "
        "compacted output for these columns",
    )
    co.add_argument(
        "--bloom",
        nargs="*",
        default=None,
        metavar="COL",
        help="rebuild the per-file bloom index on the compacted "
        "output for these columns",
    )
    co.add_argument("--bits", type=int, default=16)

    pb = sub.add_parser(
        "publish",
        help="publish a parquet dataset as the next immutable version "
        "of a pointer-flipped dataset root (readers never see partial "
        "writes; old versions kept for time travel until vacuumed)",
    )
    pb.add_argument("source")
    pb.add_argument("root")
    pb.add_argument("--partition-by", nargs="*", default=None)
    pb.add_argument("--keep-versions", type=int, default=2)
    pb.add_argument(
        "--stats", nargs="*", default=None, metavar="COL",
        help="build the per-file min/max skipping index on these "
        "columns inside the version before the flip",
    )
    pb.add_argument(
        "--bloom", nargs="*", default=None, metavar="COL",
        help="build the per-file bloom index on these columns inside "
        "the version before the flip",
    )

    sn = sub.add_parser(
        "snapshot",
        help="atomically pin N published dataset roots behind ONE "
        "pointer flip (publish_snapshot): component spec is "
        "name=root (pins the current version) or name=root@version; "
        "pipeline readers resolving the snapshot never see mixed "
        "component versions",
    )
    sn.add_argument("root", help="snapshot dataset root")
    sn.add_argument(
        "components", nargs="+", metavar="NAME=ROOT[@V]",
        help="component pins, e.g. docs=/data/docs ann=/data/ann@3; a "
        "ROOT that literally ends in '@<digits>' (docs=/data/exp@2024) "
        "would parse as a version pin — append a trailing slash "
        "(docs=/data/exp@2024/) to pin such a root's CURRENT version",
    )
    sn.add_argument("--keep-versions", type=int, default=2)

    vc = sub.add_parser(
        "vacuum",
        help="remove published versions outside the retention window "
        "(never the pointed one); --snapshots makes it PIN-AWARE — "
        "versions pinned by any retained snapshot at those roots are "
        "skipped with a warning instead of evicted",
    )
    vc.add_argument("root", help="published dataset root")
    vc.add_argument("--keep-versions", type=int, default=2)
    vc.add_argument(
        "--protect", nargs="*", type=int, default=None, metavar="V",
        help="explicit version numbers never removed",
    )
    vc.add_argument(
        "--snapshots", nargs="*", default=None, metavar="SNAP_ROOT",
        help="snapshot dataset roots whose pins on ROOT must survive",
    )

    rr = sub.add_parser(
        "rollup-refresh",
        help="incrementally refresh a published rollup with a delta "
        "parquet (operators/incremental.py): the delta "
        "partial-aggregates and merges into the pointed rollup "
        "version behind the atomic flip — the corpus is never "
        "rescanned; measures are OUT=KIND[:SRC[:P]] with KIND in "
        "count|sum|min|max|avg|approx_distinct|quantile (P = the "
        "quantile probability)",
    )
    rr.add_argument("delta", help="delta parquet path")
    rr.add_argument("root", help="published rollup root")
    rr.add_argument("--keys", nargs="+", required=True, metavar="COL")
    rr.add_argument(
        "--measures", nargs="+", required=True, metavar="OUT=KIND[:SRC[:P]]",
        help="e.g. n=count total=sum:price p95=quantile:len:0.95",
    )
    rr.add_argument("--keep-versions", type=int, default=2)

    rd = sub.add_parser(
        "rollup-read",
        help="print the FINALIZED published rollup as JSON lines (avg "
        "quotients and sketch estimates derived from the persisted "
        "partial schema; same --measures spec as rollup-refresh)",
    )
    rd.add_argument("root")
    rd.add_argument("--keys", nargs="+", required=True, metavar="COL")
    rd.add_argument(
        "--measures", nargs="+", required=True, metavar="OUT=KIND[:SRC[:P]]"
    )
    rd.add_argument("--limit", type=int, default=20)

    ist = sub.add_parser(
        "index-stats",
        help="build (or incrementally extend with --append) the "
        "per-file min/max stats index of a parquet dataset, enabling "
        "planning-time file skipping (layout.pruned_scan)",
    )
    ist.add_argument("source")
    ist.add_argument("cols", nargs="+", metavar="COL")
    ist.add_argument(
        "--append",
        action="store_true",
        help="index only files not yet in the stats table",
    )

    ibl = sub.add_parser(
        "index-bloom",
        help="build (or --append) per-file bloom filters for "
        "planning-time file skipping on equality probes "
        "(layout.pruned_scan_eq) — the point-lookup complement of "
        "index-stats",
    )
    ibl.add_argument("source")
    ibl.add_argument("cols", nargs="+", metavar="COL")
    ibl.add_argument("--m-bits", type=int, default=8192)
    ibl.add_argument("--k-hashes", type=int, default=6)
    ibl.add_argument("--append", action="store_true")

    ib = sub.add_parser(
        "index-bands",
        help="materialize the MinHash LSH band index of a corpus "
        "(parquet partitioned by (band, pbucket)) for partition-pruned "
        "incremental near-dup probes",
    )
    ib.add_argument("source", help="parquet with (doc_id, text) columns")
    ib.add_argument("dest", help="index output dir")
    ib.add_argument("--num-hashes", type=int, default=32)
    ib.add_argument("--bands", type=int, default=8)
    ib.add_argument("--shingle-k", type=int, default=3)
    ib.add_argument("--n-buckets", type=int, default=64)
    ib.add_argument(
        "--append",
        action="store_true",
        help="add SOURCE's banded rows into an existing index (params "
        "validated against the index's build sidecar)",
    )
    ib.add_argument("--id-col", default="doc_id")
    ib.add_argument("--text-col", default="text")

    nd = sub.add_parser(
        "near-dups",
        help="probe a delta batch against a materialized band index: "
        "near-dup pairs introduced by the delta, corpus never re-read",
    )
    nd.add_argument("index", help="dir written by index-bands")
    nd.add_argument("delta", help="parquet with (doc_id, text) columns")
    nd.add_argument("--threshold", type=float, default=0.8)
    # LSH params default to None = "read from the index's build
    # sidecar"; pass explicitly only to probe a legacy (pre-sidecar)
    # index built with non-default flags
    nd.add_argument("--num-hashes", type=int, default=None)
    nd.add_argument("--bands", type=int, default=None)
    nd.add_argument("--shingle-k", type=int, default=None)
    nd.add_argument("--n-buckets", type=int, default=None)
    nd.add_argument("--id-col", default="doc_id")
    nd.add_argument("--text-col", default="text")
    nd.add_argument("--limit", type=int, default=100)

    iv = sub.add_parser(
        "index-ivfpq",
        help="materialize an IVF-PQ ANN index over an embeddings "
        "parquet: cell-partitioned 4-byte PQ codes + model sidecar",
    )
    iv.add_argument("source", help="parquet with (id, vector) columns")
    iv.add_argument("dest", help="index output dir")
    iv.add_argument("--n-centroids", type=int, default=8)
    iv.add_argument("--m-subspaces", type=int, default=4)
    iv.add_argument("--n-codes", type=int, default=16)
    iv.add_argument("--train-iters", type=int, default=1)
    iv.add_argument("--id-col", default="vec_id")
    iv.add_argument("--vec-col", default="embedding")

    ivs = sub.add_parser(
        "index-ivfsq",
        help="materialize an IVF-SQ8 ANN index over an embeddings "
        "parquet: cell-partitioned int8 scalar codes + model sidecar "
        "(4x compression, per-dimension resolution — the higher-recall "
        "sibling of index-ivfpq)",
    )
    ivs.add_argument("source", help="parquet with (id, vector) columns")
    ivs.add_argument("dest", help="index output dir")
    ivs.add_argument("--n-centroids", type=int, default=8)
    ivs.add_argument("--train-iters", type=int, default=1)
    ivs.add_argument("--id-col", default="vec_id")
    ivs.add_argument("--vec-col", default="embedding")

    an = sub.add_parser(
        "ann",
        help="approximate nearest neighbours from an IVF-PQ or IVF-SQ "
        "index (query vector looked up by id in SOURCE)",
    )
    an.add_argument("index", help="dir written by index-ivfpq/index-ivfsq")
    an.add_argument("source", help="parquet holding the query vector")
    an.add_argument("--query-id", type=int, required=True)
    an.add_argument("-k", type=int, default=10)
    an.add_argument("--nprobe", type=int, default=4)
    an.add_argument("--id-col", default="vec_id")
    an.add_argument("--vec-col", default="embedding")
    an.add_argument(
        "--codec",
        choices=["pq", "sq"],
        default="pq",
        help="which index family the INDEX dir holds (default pq)",
    )

    cc = sub.add_parser(
        "components",
        help="connected components over an edge parquet "
        "(large-star/small-star contraction; writes (id, component))",
    )
    cc.add_argument("edges", help="parquet with source/dest id columns")
    cc.add_argument("dest", help="output parquet dir")
    cc.add_argument("--src-col", default="src")
    cc.add_argument("--dst-col", default="dst")
    cc.add_argument("--max-iters", type=int, default=25)

    se = sub.add_parser(
        "search", help="BM25 keyword retrieval over a documents parquet"
    )
    se.add_argument("source", help="parquet with (doc_id, text) columns")
    se.add_argument("terms", nargs="+", help="query terms (bag of words)")
    se.add_argument("-k", type=int, default=10, help="top-k docs")
    se.add_argument("--id-col", default="doc_id")
    se.add_argument("--text-col", default="text")

    args = p.parse_args(argv)
    extra_conf: dict[str, str] = {}
    for kv in args.conf:
        if "=" not in kv:
            p.error(f"--conf expects KEY=VALUE, got {kv!r}")
        k, v = kv.split("=", 1)
        extra_conf[k] = v
    if args.s3a_from_env:
        from spectrify_spark.sources.credentials import (
            as_spark_conf,
            s3a_conf_from_env,
        )

        extra_conf = {**as_spark_conf(s3a_conf_from_env()), **extra_conf}
    spark = get_spark("spectrify-cli", extra_conf=extra_conf or None)
    if extra_conf:
        # getOrCreate may return an ALREADY-RUNNING session whose
        # builder conf is ignored — apply hadoop keys to the live JVM
        # conf too so credentials always take effect
        from spectrify_spark.sources.credentials import apply_to_session

        apply_to_session(
            spark,
            {
                k[len("spark.hadoop.") :]: v
                for k, v in extra_conf.items()
                if k.startswith("spark.hadoop.")
            },
        )

    if args.cmd == "transform":
        df = spark.read.parquet(args.source)
        ddl = TR.transform(spark, df, args.table, args.dest, args.partition_by)
        print(ddl)
    elif args.cmd == "export":
        df = spark.read.parquet(args.source)
        manifest = TR.export_to_csv(df, args.csv_dir, args.max_records_per_file)
        print(manifest)
    elif args.cmd == "export-jdbc":
        from spectrify_spark.sources import jdbc as JDBC

        opts: dict[str, str] = {}
        if args.jdbc_url:
            import os

            url = args.jdbc_url
            # user/password still honored if given — flag, then the
            # documented REDSHIFT_* env fallback; no prompt when the
            # URL is explicit and credentials may be embedded or
            # unneeded (e.g. embedded Derby)
            user = args.user or os.environ.get("REDSHIFT_USER")
            password = args.password or os.environ.get("REDSHIFT_PASSWORD")
            if user:
                opts["user"] = user
            if password:
                opts["password"] = password
        else:
            try:
                conn = JDBC.resolve_connection(
                    {
                        "host": args.host,
                        "port": args.port,
                        "user": args.user,
                        "password": args.password,
                        "db": args.db,
                    }
                )
            except ValueError as ex:
                print(str(ex), file=sys.stderr)
                return 1
            url = JDBC.connection_url(conn)
            opts = {"user": conn["user"], "password": conn["password"]}
        if args.driver:
            opts["driver"] = args.driver
        df = JDBC.read_table(spark, url, args.table, **opts)
        manifest = TR.export_to_csv(df, args.csv_dir, args.max_records_per_file)
        print(manifest)
    elif args.cmd == "convert":
        schema = _load_schema(args.schema_json)
        TR.convert_manifest(spark, args.manifest, schema, args.dest)
        print(args.dest)
    elif args.cmd == "create-table":
        df = spark.read.parquet(args.location)
        ddl = DDL.parquet_table_ddl(args.table, df.schema, args.location)
        print(ddl)
        if not args.dry_run:
            # interactive confirm unless --yes, mirroring the
            # reference CLI's prompt (reference create.py:72-73);
            # refusal exits 1 without running the DDL
            confirm = None
            if not args.yes:
                def confirm(_ddl: str) -> bool:
                    try:
                        reply = input("Execute this DDL? [y/N] ")
                    except EOFError:
                        # closed/redirected stdin (cron, CI): a prompt
                        # that cannot be answered is a refusal, not a
                        # traceback — pass --yes for non-interactive use
                        return False
                    return reply.strip().lower() in ("y", "yes")

            try:
                DDL.create(spark, ddl, confirm=confirm)
            except RuntimeError as ex:
                print(str(ex), file=sys.stderr)
                return 1
    elif args.cmd == "add-part":
        k, v = args.spec.split("=", 1)
        ddl = DDL.add_partition_ddl(args.table, {k: v}, args.location)
        print(ddl)
        DDL.create(spark, ddl)
    elif args.cmd == "query":
        from spectrify_spark.catalog.register import sql as run_sql

        run_sql(spark, args.sql, sf_dir=args.sf_dir).show(args.limit, truncate=False)
    elif args.cmd == "curate":
        from spectrify_spark.pipelines import curate, curate_chunks
        from spectrify_spark.sources.parquet import read_table, write_parquet

        src = read_table(spark, args.source)
        bench = read_table(spark, args.bench) if args.bench else None
        if args.chunk_size > 0:
            out = curate_chunks(
                src,
                chunk_size=args.chunk_size,
                overlap=args.chunk_overlap,
                min_tokens=args.min_tokens,
                near_dup_threshold=args.near_dup_threshold,
                bench=bench,
                line_dedup=args.dedup_lines,
                redact_pii=args.redact_pii,
            )
        else:
            out = curate(
                src,
                min_tokens=args.min_tokens,
                near_dup_threshold=args.near_dup_threshold,
                bench=bench,
                line_dedup=args.dedup_lines,
                redact_pii=args.redact_pii,
            )
        write_parquet(
            out,
            args.dest,
            partition_by=["split"] if args.partition_by_split else None,
        )
        print(args.dest)
    elif args.cmd == "validate":
        from spectrify_spark.operators import validate as V
        from spectrify_spark.sources.parquet import read_table

        df = read_table(spark, args.source)
        checks = []
        checks += [V.not_null(c) for c in args.not_null]
        checks += [V.unique(c) for c in args.unique]
        for spec in args.in_range:
            col, lo, hi = spec.rsplit(":", 2)
            checks.append(V.in_range(col, float(lo), float(hi)))
        for spec in args.fk:
            col, target = spec.split("=", 1)
            dim_path, dim_key = target.rsplit(":", 1)
            checks.append(
                V.foreign_key(col, read_table(spark, dim_path), dim_key)
            )
        if not checks:
            raise SystemExit("validate: give at least one check flag")
        report = V.validate(df, checks).collect()
        failed = [r for r in report if not r.passed]
        for r in report:
            status = "ok  " if r.passed else "FAIL"
            print(f"{status} {r.check_name}: metric={r.metric} threshold={r.threshold}")
        if args.strict and failed:
            raise SystemExit(f"{len(failed)} check(s) failed")
    elif args.cmd == "drift":
        from spectrify_spark.operators.quality import distribution_drift
        from spectrify_spark.sources.parquet import read_table

        row = distribution_drift(
            read_table(spark, args.corpus_a),
            read_table(spark, args.corpus_b),
            text_col=args.text_col,
        ).collect()[0]
        for name in ("kl_ab", "kl_ba", "js_divergence", "total_variation"):
            print(f"{name}\t{row[name]}")
    elif args.cmd == "diff":
        from spectrify_spark.operators.relational import diff_summary, table_diff
        from spectrify_spark.sources.parquet import read_table

        left = read_table(spark, args.left)
        right = read_table(spark, args.right)
        if args.full:
            table_diff(left, right, args.key).show(args.limit, truncate=False)
        else:
            rows = diff_summary(left, right, args.key).collect()
            if not rows:
                print("identical")
            for r in rows:
                print(f"{r['diff_status']}\t{r['n']}")
    elif args.cmd == "pack":
        from pyspark.sql import functions as F

        from spectrify_spark.functions import text as TX
        from spectrify_spark.operators.packing import pack_sequences
        from spectrify_spark.sources.parquet import read_table, write_parquet

        src = read_table(spark, args.source)
        sized = src.select(
            args.id_col,
            TX.token_count(F.col(args.text_col)).cast("bigint").alias("n_tokens"),
        )
        packed = pack_sequences(
            sized, [F.col(args.id_col)], "n_tokens", budget=args.budget
        )
        write_parquet(packed, args.dest)
        print(args.dest)
    elif args.cmd == "publish":
        from spectrify_spark.catalog.publish import publish as do_publish

        v = do_publish(
            spark.read.parquet(args.source),
            args.root,
            partition_by=args.partition_by,
            keep_versions=args.keep_versions,
            stats_cols=args.stats,
            bloom_cols=args.bloom,
        )
        print(v)
    elif args.cmd == "snapshot":
        from spectrify_spark.catalog.publish import publish_snapshot

        comps: dict = {}
        for spec in args.components:
            if "=" not in spec:
                raise SystemExit(
                    f"snapshot: component {spec!r} is not NAME=ROOT[@V]"
                )
            name, rootspec = spec.split("=", 1)
            # '@' is a version separator only when the suffix is all
            # digits (which also puts it after the last path separator)
            # — roots may legitimately contain '@' ('/exp@2024/',
            # 'hdfs://user@host/…'), and those must pin at the current
            # version rather than crash on int().  The one irreducible
            # ambiguity (r15 ADVICE): a root that literally ENDS in
            # '@<digits>' ('/data/exp@2024') parses as a pin — the
            # documented escape is a trailing slash ('/data/exp@2024/'),
            # and every parsed pin is echoed to stderr so a misdirected
            # pin is visible instead of silent.
            droot, sep, vtxt = rootspec.rpartition("@")
            if sep and vtxt.isdigit():
                comps[name] = (droot, int(vtxt))
                print(
                    f"snapshot: pinning {name}={droot} at v={vtxt} "
                    f"(for a literal root ending in '@{vtxt}', append "
                    "a trailing slash)",
                    file=sys.stderr,
                )
            else:
                comps[name] = rootspec
        v = publish_snapshot(
            args.root, comps, keep_versions=args.keep_versions, spark=spark
        )
        print(v)
    elif args.cmd == "vacuum":
        from spectrify_spark.catalog.publish import vacuum as do_vacuum

        removed = do_vacuum(
            args.root,
            keep_versions=args.keep_versions,
            spark=spark,
            protect=set(args.protect) if args.protect else None,
            snapshots=args.snapshots,
        )
        print(json.dumps({"removed": removed}))
    elif args.cmd == "rollup-refresh":
        from spectrify_spark.operators.incremental import (
            maintain_published_rollup,
        )

        v = maintain_published_rollup(
            spark,
            args.root,
            spark.read.parquet(args.delta),
            args.keys,
            _parse_measure_specs(args.measures),
            keep_versions=args.keep_versions,
        )
        print(v)
    elif args.cmd == "rollup-read":
        from spectrify_spark.operators.incremental import read_rollup

        df = read_rollup(
            spark, args.root, args.keys, _parse_measure_specs(args.measures)
        ).orderBy(*args.keys)
        for r in df.limit(args.limit).collect():
            print(json.dumps(r.asDict(), default=str))
    elif args.cmd == "index-stats":
        from spectrify_spark.operators.layout import write_file_stats

        n = write_file_stats(spark, args.source, args.cols, append=args.append)
        print(n)
    elif args.cmd == "index-bloom":
        from spectrify_spark.operators.layout import write_file_bloom

        n = write_file_bloom(
            spark,
            args.source,
            args.cols,
            m_bits=args.m_bits,
            k_hashes=args.k_hashes,
            append=args.append,
        )
        print(n)
    elif args.cmd == "compact":
        from pyspark.sql import functions as F

        from spectrify_spark.operators.layout import compact_parquet

        zcols = (
            [F.col(c).cast("long") for c in args.zorder]
            if args.zorder
            else None
        )
        n = compact_parquet(
            spark,
            args.source,
            args.dest,
            target_file_bytes=args.target_mb * 1024 * 1024,
            zorder_cols=zcols,
            bits=args.bits,
            stats_cols=args.stats or None,
            bloom_cols=args.bloom or None,
        )
        print(f"{args.dest}: {n} file(s)")
    elif args.cmd == "components":
        from spectrify_spark.operators.graph import connected_components
        from spectrify_spark.sources.parquet import read_table

        comp = connected_components(
            read_table(spark, args.edges),
            src=args.src_col,
            dst=args.dst_col,
            max_iters=args.max_iters,
        )
        comp.write.mode("overwrite").parquet(args.dest)
        # count from the WRITTEN parquet: avoids recomputing the label
        # join and validates what actually landed on disk
        n = (
            spark.read.parquet(args.dest)
            .select("component")
            .distinct()
            .count()
        )
        print(f"{args.dest}: {n} component(s)")
    elif args.cmd == "search":
        from spectrify_spark.operators.retrieval import bm25_topk
        from spectrify_spark.sources.parquet import read_table

        src = read_table(spark, args.source)
        hits = bm25_topk(
            src, args.terms, k=args.k, id_col=args.id_col, text_col=args.text_col
        )
        for row in hits.collect():
            print(f"{row[args.id_col]}\t{row['score']}")
    elif args.cmd == "index-bands":
        from spectrify_spark.operators.dedup import write_band_index
        from spectrify_spark.sources.parquet import read_table

        write_band_index(
            read_table(spark, args.source),
            args.dest,
            id_col=args.id_col,
            text_col=args.text_col,
            num_hashes=args.num_hashes,
            bands=args.bands,
            shingle_k=args.shingle_k,
            n_buckets=args.n_buckets,
            mode="append" if args.append else "overwrite",
        )
        print(args.dest)
    elif args.cmd == "index-ivfpq":
        from pyspark.sql import functions as F

        from spectrify_spark.operators import quantization as Q
        from spectrify_spark.operators import similarity as SIM
        from spectrify_spark.sources.parquet import read_table

        src = read_table(spark, args.source)
        # select (not rename) the two columns: a rename collides when
        # the source already carries a vec_id/embedding column next to
        # custom --id-col/--vec-col names
        vecs = src.select(
            F.col(args.id_col).alias("vec_id"),
            F.col(args.vec_col).alias("embedding"),
        )
        cents = SIM.kmeans_refine(
            vecs,
            SIM.choose_centroids(vecs, n_centroids=args.n_centroids),
            iters=args.train_iters,
        )
        books = Q.pq_train(
            src,
            args.m_subspaces,
            args.n_codes,
            iters=args.train_iters,
            vec_col=args.vec_col,
        )
        Q.write_ivfpq_index(
            src,
            cents,
            books,
            args.dest,
            id_col=args.id_col,
            vec_col=args.vec_col,
        )
        print(args.dest)
    elif args.cmd == "index-ivfsq":
        from pyspark.sql import functions as F

        from spectrify_spark.operators import quantization as Q
        from spectrify_spark.operators import similarity as SIM
        from spectrify_spark.sources.parquet import read_table

        src = read_table(spark, args.source)
        vecs = src.select(
            F.col(args.id_col).alias("vec_id"),
            F.col(args.vec_col).alias("embedding"),
        )
        cents = SIM.kmeans_refine(
            vecs,
            SIM.choose_centroids(vecs, n_centroids=args.n_centroids),
            iters=args.train_iters,
        )
        model = Q.sq_train(src, vec_col=args.vec_col)
        Q.write_ivfsq_index(
            src,
            cents,
            model,
            args.dest,
            id_col=args.id_col,
            vec_col=args.vec_col,
        )
        print(args.dest)
    elif args.cmd == "ann":
        from pyspark.sql import functions as F

        from spectrify_spark.operators import quantization as Q
        from spectrify_spark.sources.parquet import read_table

        row = (
            read_table(spark, args.source)
            .filter(F.col(args.id_col) == args.query_id)
            .select(args.vec_col)
            .first()
        )
        if row is None:
            print(f"no row with {args.id_col}={args.query_id}", file=sys.stderr)
            return 1
        topk = Q.ivfsq_topk if args.codec == "sq" else Q.ivfpq_topk
        hits = topk(
            spark,
            args.index,
            [float(x) for x in row[args.vec_col]],
            k=args.k,
            nprobe=args.nprobe,
        )
        for r in hits.collect():
            print(f"{r[0]}\t{r[1]:.6f}")
    elif args.cmd == "near-dups":
        from spectrify_spark.operators.dedup import near_dup_pairs_indexed
        from spectrify_spark.sources.parquet import read_table

        pairs = near_dup_pairs_indexed(
            spark,
            args.index,
            read_table(spark, args.delta),
            id_col=args.id_col,
            text_col=args.text_col,
            num_hashes=args.num_hashes,
            bands=args.bands,
            shingle_k=args.shingle_k,
            n_buckets=args.n_buckets,
            threshold=args.threshold,
        )
        for row in pairs.orderBy("id_a", "id_b").limit(args.limit).collect():
            print(f"{row.id_a}\t{row.id_b}\t{row.jaccard:.4f}")
    return 0


if __name__ == "__main__":
    sys.exit(main())
