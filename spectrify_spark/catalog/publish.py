"""Versioned atomic dataset publishing — the pointer-flip pattern.

The reference pipeline's output contract is "overwrite the S3 prefix,
then repoint the external table" (reference spectrify/transform.py:
export -> convert -> create); at 100 TB that window between landing
files and repointing is a correctness hole: a reader mid-scan sees a
half-written dataset.  This module closes it with the protocol table
formats use under the hood — the engine's one commit protocol, shared
by batch publishes, directory payloads, snapshots and every streaming
sink:

- every publish lands a COMPLETE new version directory ``v=N``
  (immutable once the pointer flips — never rewritten, never renamed);
- a tiny pointer file (``_spectrify_current.json``) is then replaced
  atomically — ``os.replace`` on local paths (plain AND ``file:``
  URIs); temp-object + ``FileContext`` rename-OVERWRITE on HDFS (the
  one scheme whose rename is a server-side atomic swap); a
  SINGLE-OBJECT create-overwrite everywhere else, which is an atomic
  PUT on object stores (S3/GCS: readers see the old or the new
  object, never a mix);
- each version carries a commit marker (``_spectrify_committed.json``)
  written after data+indexes and before the flip, so crashed partial
  versions are distinguishable from published ones: they never count
  against the vacuum window and time travel refuses them;
- readers resolve the pointer first and scan an immutable directory —
  they can never observe a partial write, and a long-running scan of
  version N is undisturbed by the publish of N+1;
- old versions are vacuumed only after ``keep_versions`` newer ones
  exist, giving in-flight readers a grace window plus free time
  travel (``read_published(version=...)``);
- schema changes are refused by default (r17): additive evolution
  needs an explicit ``allow_added_columns=True``, dropped/retyped
  columns always need a fresh root — :class:`SchemaEvolutionError`
  states the full contract and the time-travel semantics;
- readers take a version's schema from its commit marker, not from
  the files (:func:`_version_schema`): the marker records the
  DataFrame's ``schema`` and its ``partition_by`` layout, and an
  unpartitioned version is scanned with that schema, so no read starts
  a footer-inference job.

Storage routing: every directory/pointer/vacuum operation goes
through the same Hadoop FileSystem helper the index sidecars use
(:func:`spectrify_spark.operators._sidecar.index_fs`) whenever the
root carries a scheme (``file:``, ``hdfs:``, ``s3a:``, ...), so the
protocol runs on any storage Spark can reach.  Plain local paths keep
a no-JVM fast path (and POSIX-atomic ``os.replace`` for the pointer);
helpers that can be called without a SparkSession
(``current_version``/``vacuum``/``current_path``) accept an optional
``spark=`` and require it only for schemed roots.

Single-writer contract: publishes per dataset are expected to be
serialized by the caller, and since r17 the protocol enforces it
where storage allows: every publish runs under an exclusive-create
writer lock (:data:`PUBLISH_LOCK` — POSIX ``O_EXCL`` locally, atomic
``createNewFile`` on HDFS), so racing publishers serialize instead of
erroring; on object stores the lock is best-effort and the optimistic
pointer re-read (:class:`ConcurrentPublishError`) remains the guard.
Stale locks from crashed writers are taken over after
:data:`LOCK_STALE_SECONDS` with a WARNING.
"""

from __future__ import annotations

import json
import logging
import os
import re
import shutil
import threading
import time
import uuid

from pyspark.sql import DataFrame, functions as F

from spectrify_spark.obs import span

logger = logging.getLogger(__name__)

#: underscore prefix keeps the pointer invisible to any parquet scan
CURRENT_POINTER = "_spectrify_current.json"

#: per-version min/max rollup of the file-stats index (JSON sidecar
#: inside the version dir): readers skip a WHOLE version without even
#: listing its files or opening the per-file index
VERSION_STATS = "_spectrify_version_stats.json"

#: per-version bit-OR rollup of the per-file blooms — the equality
#: complement of VERSION_STATS: rules a point lookup out of a whole
#: version from one JSON read
VERSION_BLOOM = "_spectrify_version_bloom.json"

#: per-version commit marker, written as the LAST step before the
#: pointer flip.  Its presence distinguishes a version that completed
#: its publish (data + indexes + rollups all landed) from a crashed
#: publish's partial directory — version NUMBERS cannot make that
#: distinction once a later publish allocates past the orphan, and
#: counting orphans as published would both evict the just-superseded
#: version from the vacuum window early AND let time travel resolve a
#: half-written directory.
COMMITTED = "_spectrify_committed.json"

#: root-level writer lock (r17 — VERDICT r16 item 4): dot-prefixed so
#: neither parquet scans nor the version lister see it.  See
#: :func:`_acquire_publish_lock`.
PUBLISH_LOCK = ".spectrify_publish.lock"

#: how long a publish waits for a competing writer's lock before
#: giving up (the single-writer contract makes real contention an
#: anomaly; waiting briefly turns the common race into serialization)
LOCK_WAIT_SECONDS = 600.0

#: a lock older than this is presumed dead (writer crashed between
#: acquire and release) and is taken over with a WARNING.  Sized well
#: past any legitimate land_fn duration; publishes that stream for
#: longer should refresh the lock mtime themselves or raise this.
LOCK_STALE_SECONDS = 3600.0


def _local_path(root: str) -> "str | None":
    """The plain local filesystem path for an UNSCHEMED root, else
    None.  ``file:`` URIs deliberately return None: they route through
    the Hadoop FS branch, so the whole protocol is exercisable against
    the FS API without an object store in the loop."""
    if "://" in root or root.startswith("file:"):
        return None
    return root


def _require_spark(spark, root: str, op: str):
    if spark is None:
        raise ValueError(
            f"{op}: root {root!r} carries a scheme — pass spark= so the "
            "operation can route through the Hadoop FileSystem API"
        )
    return spark


def _join(root: str, name: str) -> str:
    lp = _local_path(root)
    if lp is not None:
        return os.path.join(lp, name)
    return root.rstrip("/") + "/" + name


def _versions(root: str, spark=None) -> list[int]:
    lp = _local_path(root)
    if lp is not None:
        if not os.path.isdir(lp):
            return []
        names = os.listdir(lp)
    else:
        from spectrify_spark.operators._sidecar import index_fs

        fs, hpath, _ = index_fs(_require_spark(spark, root, "versions"), root)
        if not fs.exists(hpath):
            return []
        names = [s.getPath().getName() for s in fs.listStatus(hpath)]
    return sorted(
        int(nm[2:]) for nm in names if nm.startswith("v=") and nm[2:].isdigit()
    )


def current_version(root: str, spark=None) -> int | None:
    """The published version the pointer names, or None if nothing has
    been published yet (landed-but-unflipped version dirs don't
    count — that is the point)."""
    lp = _local_path(root)
    if lp is not None:
        ptr = os.path.join(lp, CURRENT_POINTER)
        if not os.path.isfile(ptr):
            return None
        with open(ptr) as fh:
            return int(json.load(fh)["version"])
    from spectrify_spark.operators._sidecar import read_json_sidecar

    payload = read_json_sidecar(
        _require_spark(spark, root, "current_version"), root, CURRENT_POINTER
    )
    return None if payload is None else int(payload["version"])


def _mark_committed(spark, root: str, n: int, extra: "dict | None" = None) -> None:
    """Land the per-version commit marker (the last write before the
    pointer flip — see :data:`COMMITTED`).  ``extra`` rides the marker
    payload (:func:`publish` records the version's ``schema`` and
    ``partition_by`` here, for the evolution check and for readers —
    see :func:`_version_schema`)."""
    payload = {"version": n, **(extra or {})}
    lp = _local_path(root)
    if lp is not None:
        with open(os.path.join(lp, f"v={n}", COMMITTED), "w") as fh:
            json.dump(payload, fh)
        return
    from spectrify_spark.operators._sidecar import write_json_sidecar

    write_json_sidecar(spark, _join(root, f"v={n}"), COMMITTED, payload)


def _read_version_json(
    root: str, n: int, name: str, spark=None
) -> "dict | None":
    """``v=n/<name>`` parsed as JSON, or None when it is absent."""
    lp = _local_path(root)
    if lp is not None:
        p = os.path.join(lp, f"v={n}", name)
        if not os.path.isfile(p):
            return None
        try:
            with open(p) as fh:
                return json.load(fh)
        except (OSError, ValueError):
            return None
    from spectrify_spark.operators._sidecar import read_json_sidecar

    return read_json_sidecar(
        _require_spark(spark, root, "read"), _join(root, f"v={n}"), name
    )


def _version_schema(root: str, n: int, spark=None):
    """The schema recorded in ``v=n``'s commit marker, or None when the
    files must be inferred instead: no marker or no ``schema`` (a
    :func:`publish_dir` payload), or a partition layout that is absent
    (markers written before it was recorded) or non-empty (Hive
    partition columns are appended on read, in inferred types, so the
    DataFrame's schema is not the scan's).  Versions are immutable, so
    the record cannot go stale."""
    marker = _read_version_json(root, n, COMMITTED, spark) or {}
    recorded = marker.get("schema")
    if recorded is None or marker.get("partition_by") != []:
        return None
    from pyspark.sql.types import StructType

    return StructType.fromJson(recorded)


def _scan(spark, schema, *paths: str) -> DataFrame:
    """``spark.read.parquet(*paths)``, with ``schema`` when one is known
    (no footer-inference job)."""
    reader = spark.read.schema(schema) if schema is not None else spark.read
    return reader.parquet(*paths)


def _is_committed(root: str, n: int, spark=None) -> bool:
    lp = _local_path(root)
    rel = os.path.join(f"v={n}", COMMITTED)
    if lp is not None:
        return os.path.isfile(os.path.join(lp, rel))
    from spectrify_spark.operators._sidecar import index_fs

    fs, _, jvm = index_fs(_require_spark(spark, root, "read"), root)
    return bool(
        fs.exists(
            jvm.org.apache.hadoop.fs.Path(_join(root, f"v={n}") + "/" + COMMITTED)
        )
    )


def _lock_payload() -> dict:
    import socket

    return {
        "pid": os.getpid(),
        "host": socket.gethostname(),
        "token": uuid.uuid4().hex,
        "acquired_at": time.time(),
    }


def _lock_holder_dead(lock_path: str) -> bool:
    """Whether the LOCAL lock file's recorded holder is provably dead:
    same hostname as us AND its pid no longer exists.  This is the
    fast crash-recovery path (r17 self-review): without it, a writer
    SIGKILL'd mid-publish blocks every later publish on this root for
    the full :data:`LOCK_STALE_SECONDS` age gate — a restarted
    streaming job would stall an hour on its own dead lock.  A
    different host (or an unreadable payload) proves nothing and falls
    back to the age gate."""
    import socket

    try:
        with open(lock_path) as fh:
            payload = json.load(fh)
        if payload.get("host") != socket.gethostname():
            return False
        pid = int(payload["pid"])
    except (OSError, ValueError, KeyError, TypeError):
        return False
    if pid <= 0 or pid == os.getpid():
        return False
    try:
        os.kill(pid, 0)
    except ProcessLookupError:
        return True
    except PermissionError:
        return False  # alive, owned by someone else
    return False


#: thread-local reentrancy table {canonical root: depth} — a publish
#: issued from INSIDE another publish's land_fn on the same root (the
#: interleave the concurrency tests inject) re-enters instead of
#: deadlocking on its own lock; the flip-time re-read guard then
#: decides the race exactly as before.  Cross-thread writers never
#: share the table and serialize on the lock file.
_lock_local = threading.local()


def _lock_key(root: str) -> str:
    k = _norm_uri(root)
    return os.path.realpath(k) if k.startswith("/") else k


def _acquire_publish_lock(
    root: str,
    spark=None,
    wait: float = LOCK_WAIT_SECONDS,
    stale: float = LOCK_STALE_SECONDS,
) -> "dict | None":
    """Serialize publishers on a dataset root with an exclusive-create
    lock file (r17 — VERDICT r16 item 4, closing the check-then-act
    residual of the optimistic flip guard on storage with an atomic
    exclusive create):

    - local roots: ``os.open(O_CREAT|O_EXCL)`` — POSIX-atomic;
    - schemed roots: ``FileSystem.createNewFile`` — an atomic
      namespace operation on HDFS.  On object stores (s3a/gcs) the
      Hadoop client emulates it with HEAD-then-PUT, which is NOT
      atomic — there the lock is best-effort only and the optimistic
      pointer re-read in :func:`_publish_version` remains the real
      guard (closing S3 fully needs If-None-Match or a lock service,
      as documented there).

    A competing live lock is waited out (the loser serializes behind
    the winner instead of failing); a lock whose mtime is older than
    ``stale`` belongs to a crashed writer and is taken over with a
    WARNING — takeover captures the dead lock via rename-to-unique
    (only one waiter's rename can succeed) after re-checking
    staleness, so two waiters cannot both clear it, and the
    microscopic stat->rename window that could capture a fresh lock
    is backstopped by the pointer re-read guard.  THREAD-LOCAL
    REENTRANT: a publish issued from inside another publish's
    ``land_fn`` on the same root re-enters (depth-counted) instead of
    deadlocking — the flip-time re-read guard then adjudicates, as
    before.  Returns a token dict for :func:`_release_publish_lock`,
    or None when the root's storage offers no usable lock
    primitive."""
    held = _lock_local.__dict__.setdefault("held", {})
    key = _lock_key(root)
    if key in held:
        held[key] += 1
        return {"reentrant": key}
    deadline = time.monotonic() + wait
    lp = _local_path(root)
    payload = _lock_payload()
    if lp is not None:
        os.makedirs(lp, exist_ok=True)
        lock_path = os.path.join(lp, PUBLISH_LOCK)
        while True:
            try:
                fd = os.open(lock_path, os.O_CREAT | os.O_EXCL | os.O_WRONLY)
                with os.fdopen(fd, "w") as fh:
                    json.dump(payload, fh)
                held[key] = 1
                return {"path": lock_path, "token": payload["token"], "key": key}
            except FileExistsError:
                try:
                    st = os.stat(lock_path)
                except FileNotFoundError:
                    continue  # released between create-fail and stat
                aged_out = time.time() - st.st_mtime > stale
                # fast crash recovery: a same-host holder whose pid is
                # gone is dead NOW — no need to wait out the age gate
                if aged_out or _lock_holder_dead(lock_path):
                    grab = f"{lock_path}.stale.{uuid.uuid4().hex[:8]}"
                    try:
                        # re-check immediately before the rename so the
                        # capture window is check->rename, not the
                        # whole wait loop
                        if (
                            time.time() - os.stat(lock_path).st_mtime
                            > stale
                        ) or _lock_holder_dead(lock_path):
                            os.rename(lock_path, grab)
                            logger.warning(
                                "publish lock at %s: took over a %s "
                                "lock (writer presumed dead)",
                                root,
                                "stale" if aged_out else "dead-holder",
                            )
                            os.remove(grab)
                    except (FileNotFoundError, OSError):
                        pass  # another waiter captured it first
                    continue
                if time.monotonic() > deadline:
                    raise TimeoutError(
                        f"publish: timed out after {wait:.0f}s waiting "
                        f"for the writer lock at {lock_path!r} (another "
                        "publish is in flight; the single-writer "
                        "contract expects serialized publishers)"
                    )
                time.sleep(0.05)
    if spark is None:
        return None  # helpers without a session cannot reach the FS
    from spectrify_spark.operators._sidecar import index_fs

    fs, hpath, jvm = index_fs(spark, root)
    fs.mkdirs(hpath)
    lock = jvm.org.apache.hadoop.fs.Path(_join(root, PUBLISH_LOCK))
    data = json.dumps(payload).encode()
    while True:
        try:
            if fs.createNewFile(lock):
                out = fs.create(lock, True)
                out.write(bytearray(data))
                out.close()
                held[key] = 1
                return {"hadoop": True, "token": payload["token"], "key": key}
        except Exception:  # noqa: BLE001 — racing creator; fall through
            pass
        try:
            st = fs.getFileStatus(lock)
            age = time.time() - st.getModificationTime() / 1000.0
        except Exception:  # noqa: BLE001 — vanished: retry create
            continue
        if age > stale:
            grab = jvm.org.apache.hadoop.fs.Path(
                _join(root, f"{PUBLISH_LOCK}.stale.{uuid.uuid4().hex[:8]}")
            )
            try:
                if fs.rename(lock, grab):
                    logger.warning(
                        "publish lock at %s: took over a stale lock "
                        "(age %.0fs > %.0fs)",
                        root,
                        age,
                        stale,
                    )
                    fs.delete(grab, False)
            except Exception:  # noqa: BLE001 — another waiter won
                pass
            continue
        if time.monotonic() > deadline:
            raise TimeoutError(
                f"publish: timed out after {wait:.0f}s waiting for the "
                f"writer lock at {root!r}/{PUBLISH_LOCK}"
            )
        time.sleep(0.05)


def _release_publish_lock(root: str, token: "dict | None", spark=None) -> None:
    """Remove the lock THIS writer acquired.  The token is verified
    before removal: after a (mis)takeover our lock may have been
    cleared by another waiter — blindly unlinking would then release
    a live competitor's lock."""
    if token is None:
        return
    held = _lock_local.__dict__.setdefault("held", {})
    if "reentrant" in token:
        k = token["reentrant"]
        if held.get(k, 0) > 1:
            held[k] -= 1
        else:
            held.pop(k, None)
        return
    held.pop(token.get("key"), None)
    lp = _local_path(root)
    if lp is not None:
        lock_path = os.path.join(lp, PUBLISH_LOCK)
        try:
            with open(lock_path) as fh:
                mine = json.load(fh).get("token") == token["token"]
        except (OSError, ValueError):
            return  # gone or unreadable: nothing of ours to release
        if mine:
            try:
                os.remove(lock_path)
            except FileNotFoundError:
                pass
        else:
            logger.warning(
                "publish lock at %s: lock token changed hands during "
                "this publish (stale takeover by a competing waiter) — "
                "leaving the current holder's lock in place",
                root,
            )
        return
    if spark is None:
        return
    from spectrify_spark.operators._sidecar import index_fs, read_json_sidecar

    payload = read_json_sidecar(spark, root, PUBLISH_LOCK)
    if payload is not None and payload.get("token") == token["token"]:
        fs, _, jvm = index_fs(spark, root)
        fs.delete(jvm.org.apache.hadoop.fs.Path(_join(root, PUBLISH_LOCK)), False)
    elif payload is not None:
        logger.warning(
            "publish lock at %s: lock token changed hands during this "
            "publish — leaving the current holder's lock in place",
            root,
        )


def _pointer_write(spark, root: str, n: int) -> None:
    lp = _local_path(root)
    if lp is not None:
        # POSIX rename-over: atomic on every local filesystem.  The
        # temp name is UNIQUE per write (r16, found by the two-writer
        # hammer): with a fixed shared name, two racing writers
        # truncate each other's temp and one can atomically publish an
        # EMPTY pointer — crashing every later reader with
        # JSONDecodeError, a strictly worse failure than the losing
        # writer's own error.  Unique temps make the final replace
        # last-writer-wins over two COMPLETE documents.
        import uuid

        tmp = os.path.join(
            lp, f".{CURRENT_POINTER}.{os.getpid()}.{uuid.uuid4().hex[:8]}.tmp"
        )
        try:
            with open(tmp, "w") as fh:
                json.dump({"version": n}, fh)
            os.replace(tmp, os.path.join(lp, CURRENT_POINTER))
        except BaseException:
            try:
                os.remove(tmp)
            except OSError:
                pass
            raise
        return
    # schemed storage: os.replace for file: URIs, temp object +
    # FileContext rename-OVERWRITE on HDFS, single-object
    # create-overwrite (atomic PUT) everywhere else — see
    # _sidecar.replace_json_sidecar for why each scheme gets its arm
    # (a bare create-overwrite would truncate the live pointer in
    # place on HDFS/local, letting readers observe empty JSON).
    from spectrify_spark.operators._sidecar import replace_json_sidecar

    replace_json_sidecar(spark, root, CURRENT_POINTER, {"version": n})


def _remove_dir(root: str, name: str, spark=None) -> None:
    lp = _local_path(root)
    if lp is not None:
        shutil.rmtree(os.path.join(lp, name), ignore_errors=True)
        return
    from spectrify_spark.operators._sidecar import index_fs

    fs, _, jvm = index_fs(_require_spark(spark, root, "vacuum"), root)
    fs.delete(jvm.org.apache.hadoop.fs.Path(_join(root, name)), True)


def _dir_exists(root: str, name: str, spark=None) -> bool:
    lp = _local_path(root)
    if lp is not None:
        return os.path.isdir(os.path.join(lp, name))
    from spectrify_spark.operators._sidecar import index_fs

    fs, _, jvm = index_fs(_require_spark(spark, root, "read"), root)
    return bool(fs.exists(jvm.org.apache.hadoop.fs.Path(_join(root, name))))


def _norm_uri(u: str) -> str:
    """Collapse the local-FS scheme (``file:/x`` == ``file:///x`` ==
    ``/x``) and trailing slashes so overlap comparison is textual on
    one canonical form; non-local schemes pass through as-is."""
    return re.sub(r"^file:/+", "/", u).rstrip("/")


def _same_dataset_root(a: str, b: str) -> bool:
    """Whether two dataset-root strings name the same directory:
    normalized-URI comparison, with realpath resolution for local
    paths (the same canonicalization the publish overlap guard uses),
    so a snapshot manifest that stored ``file:///data/x`` still
    protects a vacuum invoked as ``/data/x``."""
    na, nb = _norm_uri(a), _norm_uri(b)
    if na.startswith("/"):
        na = os.path.realpath(na)
    if nb.startswith("/"):
        nb = os.path.realpath(nb)
    return na == nb


class SchemaEvolutionError(ValueError):
    """Raised when a publish would CHANGE the dataset's schema relative
    to the currently pointed version (r17 — VERDICT r16 item 6).  The
    contract:

    - identical schema (column names + types; nullability and order
      ignored): always allowed — the steady state;
    - ADDED columns only: allowed with an explicit
      ``allow_added_columns=True`` — refusal is the default because a
      pointer-path reader's schema silently widening mid-pipeline is
      exactly the surprise a published dataset exists to prevent;
    - DROPPED or RETYPED columns: always refused — readers of retained
      older versions and the pointer path would disagree
      irreconcilably; publish to a fresh root (or recreate the
      dataset) for breaking changes.

    Time-travel semantics across an allowed addition: each version
    returns ITS OWN schema (``read_published(version=K)`` of a
    pre-addition version has no new column); a cross-version union
    read needs the parquet reader's ``mergeSchema`` as before.  The
    check compares against the schema RECORDED in the pointed
    version's commit marker (r17+ publishes record it); datasets whose
    pointed version predates the recording are not checked — the
    contract applies from their next publish on."""


class ConcurrentPublishError(RuntimeError):
    """Raised when a publish detects, at flip time, that another
    publisher advanced the dataset pointer after this publish read it
    (the single-writer contract was violated).  The losing publish's
    landed version is removed when it is still a pure orphan
    (uncommitted and not the version the pointer now names); the
    winning publish's output is untouched and readers only ever saw
    committed, pointed versions.  See :func:`_publish_version` for the
    residual window this check cannot close without storage CAS."""


def _schema_summary(schema) -> dict:
    """name -> type simpleString (nullability and order excluded — a
    nullability flip or column reorder is not an evolution event)."""
    return {f.name: f.dataType.simpleString() for f in schema.fields}


def _check_schema_evolution(
    spark, root: str, new_schema, allow_added_columns: bool
) -> None:
    """Enforce the :class:`SchemaEvolutionError` contract against the
    schema recorded in the pointed version's commit marker.  Datasets
    published before the recording existed (no ``schema`` key) are
    skipped — inferring the old schema from parquet footers would
    misread partition-column types and refuse valid republishes."""
    cur = current_version(root, spark)
    if cur is None:
        return
    marker = _read_version_json(root, cur, COMMITTED, spark) or {}
    recorded = marker.get("schema")
    if recorded is None:
        return
    from pyspark.sql.types import StructType

    old = _schema_summary(StructType.fromJson(recorded))
    new = _schema_summary(new_schema)
    if new == old:
        return
    dropped = sorted(n for n in old if n not in new)
    retyped = sorted(
        f"{n}: {old[n]} -> {new[n]}"
        for n in old
        if n in new and old[n] != new[n]
    )
    added = sorted(n for n in new if n not in old)
    if dropped or retyped:
        raise SchemaEvolutionError(
            f"publish at {root!r}: the new version would "
            + (f"DROP columns {dropped} " if dropped else "")
            + ("and " if dropped and retyped else "")
            + (f"RETYPE columns {retyped} " if retyped else "")
            + f"relative to the pointed v={cur} — breaking changes are "
            "refused (readers of retained versions and the pointer "
            "path would disagree); publish to a fresh root instead"
        )
    if added and not allow_added_columns:
        raise SchemaEvolutionError(
            f"publish at {root!r}: the new version ADDS columns "
            f"{added} relative to the pointed v={cur} — pass "
            "allow_added_columns=True to evolve the schema additively "
            "(pointer-path readers will see the new columns; time "
            "travel to older versions keeps their own schema)"
        )


def publish(
    df: DataFrame,
    root: str,
    partition_by: list[str] | None = None,
    keep_versions: int = 2,
    stats_cols: list[str] | None = None,
    bloom_cols: list[str] | None = None,
    allow_added_columns: bool = False,
) -> int:
    """Land ``df`` as the next version of the dataset at ``root`` and
    flip the pointer atomically; returns the new version number.

    The write order IS the protocol: (1) the full version directory
    lands (crash here leaves an orphan ``v=N`` the next publish sweeps
    at start and whose number it reuses — readers never saw it); (2) the
    version's skipping indexes build, if requested; (3) the commit
    marker (:data:`COMMITTED`) lands inside the version dir — from
    here the directory is complete and may be time-traveled to; (4)
    the pointer flips atomically (:func:`_pointer_write`); (5)
    versions older than the newest ``keep_versions`` COMMITTED ones
    are vacuumed (crashed partials never consume window slots).

    ``stats_cols`` / ``bloom_cols`` build the file-skipping indexes
    (``layout.write_file_stats`` / ``write_file_bloom``) INSIDE the
    version directory BEFORE the flip — a published version arrives
    pre-indexed, and because versions are immutable the indexes can
    never go stale (the conservative-staleness machinery still guards
    hand-modified dirs).  Each per-file bloom is a packed bitmap sized
    to its file (10 bits per row, 8,192 to 65,536 bits).  Both
    families additionally roll up to VERSION-level sidecars —
    ``stats_cols`` into a min/max summary (:data:`VERSION_STATS`, read
    by :func:`published_pruned_scan`), ``bloom_cols`` into a bit-OR'd
    union bloom folded to 8,192 bits (:data:`VERSION_BLOOM`, 1 KB per
    column, read by :func:`published_pruned_scan_eq`) — so a reader
    can rule out a whole version from one small JSON read, without
    listing its files or opening the per-file index.

    SCHEMA EVOLUTION (r17): the new version's schema must match the
    pointed version's — an additive change (new columns only) needs
    an explicit ``allow_added_columns=True``, and dropped/retyped
    columns are always refused (:class:`SchemaEvolutionError` states
    the full contract, including time-travel semantics).

    MARKER CONTRACT: the commit marker records ``schema`` (``df.schema``
    as JSON) and ``partition_by`` (the list passed here, ``[]`` when
    unpartitioned).  The next publish's evolution check compares
    against ``schema``; readers of an unpartitioned version scan with
    it instead of inferring from footers (:func:`_version_schema`).
    """
    if keep_versions < 1:
        raise ValueError(f"keep_versions must be >= 1, got {keep_versions}")
    spark = df.sparkSession
    # overlap guard (the compact_* lesson): publishing a dataset INTO a
    # directory it is being read from would land v=N inside the source
    # — every later plain scan discovers v=N as a partition and returns
    # duplicated rows, and vacuum could delete source data.  Schemed
    # sources compare on normalized URI text; local ones additionally
    # resolve symlinks via realpath.
    root_lp = _local_path(root)
    if root_lp is not None:
        root_cmp = os.path.realpath(root_lp)
    else:
        root_cmp = _norm_uri(root)
        if root_cmp.startswith("/"):
            root_cmp = os.path.realpath(root_cmp)
    src_dirs = set()
    for f in df.inputFiles():
        d = _norm_uri(f).rsplit("/", 1)[0]
        if d.startswith("/"):
            d = os.path.realpath(d)
        src_dirs.add(d)
    for d in src_dirs:
        # reading FROM root/v=N and publishing v=N+1 into the same root
        # is the legitimate incremental-republish pattern (v=N is
        # immutable; only the keep window can remove it later) — what
        # corrupts data is a source that IS root, or that CONTAINS
        # root: v=N would land inside a directory plain scans read as a
        # whole and be discovered as a phantom partition
        if d == root_cmp or root_cmp.startswith(d + "/"):
            raise ValueError(
                f"publish: dataset root {root!r} is (or is inside) the "
                f"DataFrame's own source directory {d!r} — landing a "
                "v=N version inside the source corrupts it; publish to "
                "a sibling path"
            )
        # ... and a source INSIDE root that is not one of root's own
        # version dirs: a Hive-partitioned source rooted AT root puts
        # each file's parent at root/<part>=<val>, which the two checks
        # above never see — yet publishing would land v=N inside the
        # source all the same (only root/v=N/... parents are the
        # legitimate republish-from-own-history case)
        if d.startswith(root_cmp + "/"):
            seg = d[len(root_cmp) + 1 :].split("/", 1)[0]
            if not re.fullmatch(r"v=\d+", seg):
                raise ValueError(
                    f"publish: the DataFrame reads from {d!r}, which is "
                    f"INSIDE the dataset root {root!r} but not one of "
                    "its published versions — landing a v=N version "
                    "next to the source would corrupt it; publish to a "
                    "sibling path"
                )
    def land(vdir: str) -> None:
        writer = df.write.mode("overwrite")
        if partition_by:
            writer = writer.partitionBy(*partition_by)
        writer.parquet(vdir)
        if not (stats_cols or bloom_cols):
            return
        # the version was just written from df: pass its schema so the
        # index builds skip footer inference (r18).  A partitioned
        # write folds partition_by columns into dirs, so only the
        # unpartitioned layout knows the file schema.
        fschema = df.schema if not partition_by else None
        with span("publish", "index"):
            if stats_cols:
                from spectrify_spark.operators.layout import write_file_stats

                write_file_stats(spark, vdir, stats_cols, schema=fschema)
                _write_version_rollup(spark, vdir, stats_cols)
            if bloom_cols:
                from spectrify_spark.operators.layout import write_file_bloom

                write_file_bloom(spark, vdir, bloom_cols, schema=fschema)
                _write_version_bloom_rollup(spark, vdir, bloom_cols)

    # sweep exception: a leftover dir the INPUT DataFrame reads from (a
    # caller salvaging a crashed partial by republishing it) must
    # survive until the end-of-publish vacuum — deleting it at start
    # would pull the source out from under the lazy write.
    def keep_leftover(v: int) -> bool:
        vcand = f"{root_cmp}/v={v}"
        return any(d == vcand or d.startswith(vcand + "/") for d in src_dirs)

    return _publish_version(
        root, spark, land, keep_versions, keep_leftover=keep_leftover,
        caller="publish",
        marker_extra={
            "schema": df.schema.jsonValue(),
            "partition_by": list(partition_by or []),
        },
        # the evolution check runs UNDER the writer lock (r17
        # self-review): a pre-flight check could read the pointed
        # schema, lose the lock race to a publisher that evolves it,
        # and then land a now-breaking schema unchecked
        pre_land=lambda: _check_schema_evolution(
            spark, root, df.schema, allow_added_columns
        ),
    )


def _publish_version(
    root: str,
    spark,
    land_fn,
    keep_versions: int,
    keep_leftover=None,
    caller: str = "publish",
    marker_extra: "dict | None" = None,
    pre_land=None,
) -> int:
    """The shared protocol tail of :func:`publish` / :func:`publish_dir`
    (ONE implementation so the write order cannot diverge between the
    DataFrame and directory-payload forms): ensure the root exists,
    sweep crashed-publish leftovers PAST the pointer
    (single-writer: the pointer never named those dirs; the
    COMMITTED-but-unflipped leftover is the dangerous one — once the
    pointer advances past it, vacuum could no longer tell it from a
    published version, so it would consume a retention slot;
    ``keep_leftover(v)`` exempts dirs the caller still reads from),
    allocate the next version number, ``land_fn(version_dir)``, verify
    the directory exists, re-read the pointer (optimistic concurrency,
    below), commit-mark, flip the pointer atomically, vacuum the
    retention window.  Returns the new version number.

    ``marker_extra`` rides the commit marker beside ``version``.
    :func:`publish` passes ``schema`` and ``partition_by``, which
    readers trust as the version's scan schema when ``partition_by`` is
    empty (:func:`_version_schema`); a caller whose payload is not the
    parquet of one DataFrame (:func:`publish_dir`) records neither, and
    its readers infer.

    OPTIMISTIC CONCURRENCY (r15 VERDICT item 3): the single-writer
    contract is enforced, not just documented — immediately before the
    commit-mark + flip, the pointer is re-read and compared to the
    value captured at version allocation.  If it moved, another
    publisher completed while this one was landing: this publish
    REFUSES (raises :class:`ConcurrentPublishError`) instead of
    flipping the pointer backwards over the winner's version, and
    removes its own landed directory when that directory is still a
    pure orphan — uncommitted AND not the version the pointer now
    names (two racing writers that allocated the SAME number leave the
    directory alone: the winner's pointer references it).

    WRITER LOCK (r17 — VERDICT r16 item 4): on storage with an atomic
    exclusive create (local POSIX ``O_EXCL``; HDFS ``createNewFile``)
    the whole sequence additionally runs under
    :func:`_acquire_publish_lock`, so two racing publishers SERIALIZE
    — the loser waits and then publishes the next version instead of
    erroring — and the check-then-act window below never opens.  The
    re-read guard stays in place as defense in depth and as the
    operative check on object stores, where the Hadoop "exclusive"
    create is HEAD-then-PUT and the lock is best-effort only (truly
    closing S3 needs If-None-Match or a lock service).  Crashed
    writers leave a lock behind; it is taken over after
    :data:`LOCK_STALE_SECONDS` with a WARNING (rename-captured so two
    waiters cannot both clear it)."""
    lp = _local_path(root)
    if lp is not None:
        os.makedirs(lp, exist_ok=True)
    else:
        from spectrify_spark.operators._sidecar import index_fs

        fs, hpath, _ = index_fs(_require_spark(spark, root, caller), root)
        fs.mkdirs(hpath)
    # WRITER LOCK (r17): serialize the whole allocate->land->flip
    # sequence.  On local/HDFS the exclusive create is atomic and the
    # check-then-act window below closes completely (racing writers
    # serialize and both succeed); on object stores the lock is
    # best-effort and the re-read guard stays the operative check.
    lock = _acquire_publish_lock(root, spark)
    try:
        if pre_land is not None:
            pre_land()  # e.g. the schema-evolution check, under the lock
        cur0 = current_version(root, spark)
        salvaged: list[int] = []
        for v in _versions(root, spark):
            if cur0 is None or v > cur0:
                if keep_leftover is not None and keep_leftover(v):
                    salvaged.append(v)
                else:
                    _remove_dir(root, f"v={v}", spark)
        n = max(_versions(root, spark), default=0) + 1
        vdir = _join(root, f"v={n}")
        with span("publish", "land"):
            land_fn(vdir)
        if not _dir_exists(root, f"v={n}", spark):
            raise ValueError(
                f"{caller}: the landing step returned without creating "
                f"{vdir!r} — there is nothing to publish (a build that can "
                "legitimately produce an empty payload should still create "
                "the directory)"
            )
        cur_now = current_version(root, spark)
        if cur_now != cur0:
            # another publisher flipped while we were landing — refuse
            # rather than regress the pointer over the winner (see the
            # optimistic-concurrency contract in the docstring); clean up
            # our orphan only when it IS still ours alone
            if cur_now != n and not _is_committed(root, n, spark):
                _remove_dir(root, f"v={n}", spark)
            raise ConcurrentPublishError(
                f"{caller}: pointer at {root!r} moved from "
                f"{cur0!r} to {cur_now!r} while landing v={n} — a "
                "concurrent publish won; this publish was abandoned "
                "(single-writer contract violated by the callers)"
            )
        with span("publish", "commit"):
            _mark_committed(spark, root, n, extra=marker_extra)
            _pointer_write(spark, root, n)
        with span("publish", "vacuum"):
            # sweep-exempt leftovers NOW sit below the new pointer, where
            # the generic vacuum quarantines unmarked dirs (they are
            # indistinguishable from marker-loss victims there) — remove
            # them here instead: the landing step has fully materialized
            # the new version, so the lazy reads that justified the
            # exemption are done
            for v in salvaged:
                if not _is_committed(root, v, spark):
                    _remove_dir(root, f"v={v}", spark)
            vacuum(root, keep_versions=keep_versions, spark=spark)
        return n
    finally:
        _release_publish_lock(root, lock, spark)


def publish_dir(
    root: str,
    build_fn,
    keep_versions: int = 2,
    spark=None,
) -> int:
    """Versioned publish of an ARBITRARY directory payload:
    ``build_fn(version_dir)`` lands its COMPLETE content into the next
    ``v=N`` directory (a materialized ANN/band index build, a
    multi-output job, any writer that targets a directory), then the
    commit marker and the atomic pointer flip follow — the same
    write-order protocol as :func:`publish`, without assuming the
    payload is one DataFrame.

    This is the READER-SAFE REBUILD path for the materialized index
    family: ``write_ivf_index`` / ``write_ivfpq_index`` /
    ``write_ivfsq_index`` / ``dedup.write_band_index`` target a LIVE
    directory with ``mode('overwrite')``, so a probe running
    concurrently with a rebuild can observe a half-deleted index —
    only the model SIDECAR replace is atomic, not the data rewrite.
    Rebuilding through ``publish_dir`` lands the new index as an
    immutable version and flips the pointer under the readers: probes
    resolve ``current_path(root)`` FIRST and then scan an immutable
    directory, so an in-flight probe of v=N is undisturbed by the
    publish of N+1, and the keep window gives index time travel for
    free.  All probe functions take a path, so they compose directly::

        publish_dir(root, lambda d: write_ivfpq_index(df, cents, books, d))
        ivfpq_topk(spark, current_path(root), query_vec, ...)

    Crash safety: a ``build_fn`` that dies leaves an uncommitted
    partial above the pointer — readers never saw it, the next
    publish sweeps it, vacuum removes it.  Single-writer per dataset,
    like :func:`publish`.  ``spark`` is required only for schemed
    roots (Hadoop FS routing); ``build_fn`` may of course use its own
    session.  Returns the new version number.
    """
    if keep_versions < 1:
        raise ValueError(f"keep_versions must be >= 1, got {keep_versions}")
    # the shared protocol tail; no leftover-sweep exception here — the
    # payload is built fresh by build_fn, never read from a leftover
    return _publish_version(
        root, spark, build_fn, keep_versions, caller="publish_dir"
    )


def current_path(root: str, spark=None) -> str:
    """Path/URI of the pointed version — the value to hand to the
    skipping-index probes (``layout.pruned_scan(spark,
    current_path(root), ...)``) or any external reader."""
    v = current_version(root, spark)
    if v is None:
        raise FileNotFoundError(f"current_path: nothing published at {root!r}")
    return _join(root, f"v={v}")


def read_published(
    spark, root: str, version: int | None = None, schema=None
) -> DataFrame:
    """Scan a published version (default: the one the pointer names).
    Resolving the pointer BEFORE the scan is what makes readers immune
    to concurrent publishes — the resolved directory is immutable.

    ``schema`` defaults to the one the version's commit marker records
    (:func:`_version_schema`), which skips footer schema inference —
    one job per read locally and a listing + footer round trip on
    object storage.  Partitioned versions and :func:`publish_dir`
    payloads record none and are inferred.  A caller may pass the
    schema itself; pass exactly the one the version was written with
    (column order included)."""
    v = current_version(root, spark) if version is None else int(version)
    if v is None:
        raise FileNotFoundError(f"read_published: nothing published at {root!r}")
    if version is not None:
        # explicit time travel: dir-exists + committed guard (crashed
        # partials refused) — the same shared guard the pruned-scan
        # readers run
        _check_time_travel_target("read_published", root, v, spark)
    elif not _dir_exists(root, f"v={v}", spark):
        raise FileNotFoundError(
            f"read_published: version {v} not found at {root!r} "
            f"(have {_versions(root, spark)}; it may have been vacuumed)"
        )
    if schema is None:
        schema = _version_schema(root, v, spark)
    return _scan(spark, schema, _join(root, f"v={v}"))


def _check_time_travel_target(fn: str, root: str, v: int, spark) -> None:
    """Shared explicit-``version=`` guard of the pruned-scan readers:
    the directory must exist AND carry its commit marker — otherwise
    time travel through the pruned scans would silently scan a crashed
    publish's partial directory and return incomplete data,
    contradicting the module contract that time travel refuses them
    (the pointer path never resolves to one by write order, so only
    explicit versions need this)."""
    if not _dir_exists(root, f"v={v}", spark):
        raise FileNotFoundError(
            f"{fn}: version {v} not found at {root!r} "
            f"(have {_versions(root, spark)}; it may have been vacuumed)"
        )
    if not _is_committed(root, v, spark):
        raise FileNotFoundError(
            f"{fn}: version {v} at {root!r} exists but was never "
            "committed (crashed publish) — it is not a readable "
            "snapshot and the next vacuum will remove it"
        )


def vacuum(
    root: str,
    keep_versions: int = 2,
    spark=None,
    protect: "set[int] | None" = None,
    snapshots: "list[str] | None" = None,
) -> list[int]:
    """Remove version directories outside the retention window;
    returns the removed version numbers.

    The window is the newest ``keep_versions`` among COMMITTED
    versions <= the current pointer — i.e. versions a reader could
    actually have resolved.

    SNAPSHOT PINS (r15 VERDICT item 1): a retained snapshot
    (:func:`publish_snapshot`) references exact component versions; a
    component vacuum that evicts a pinned version silently breaks
    every future :func:`read_snapshot_table` of that snapshot.  Two
    levers close that footgun:

    - ``protect``: an explicit set of version numbers this vacuum must
      never remove, whatever the keep window says;
    - ``snapshots``: snapshot dataset roots to consult — the pins each
      one holds on THIS dataset (:func:`snapshot_pinned_versions`,
      matched through the same root canonicalization the publish
      overlap guard uses) are collected automatically.

    A version spared only by a pin is logged at WARNING level (it is
    outside the keep window — operators should either widen
    ``keep_versions`` or retire the pinning snapshot) and is NOT
    counted in the returned removed list.  Publish-tail vacuums
    (:func:`publish` / :func:`publish_dir` call this with neither
    lever) honor only the keep window — a pipeline whose
    components are snapshot-pinned should size ``keep_versions`` to
    cover snapshot retention and run pin-aware vacuums out of band.

    COPY-ON-WRITE REFERENCES: a retained version whose copy-on-write
    manifest (:mod:`catalog.cow`) maps partitions into older version
    directories keeps those directories too, silently and however old
    — their files are the live data of a readable version, so every
    vacuum, the publish tail included, spares them.  Crashed-publish partials (no
    :data:`COMMITTED` marker) never consume window slots: a version
    number cannot tell an orphan from a published version once a
    later publish allocates past it, which is exactly how an orphan
    below the pointer would otherwise evict the just-superseded
    version an in-flight reader is still scanning.

    WRITER LOCK (r17): vacuum acquires the same exclusive-create lock
    as publish (thread-local reentrant, so the publish-tail vacuum
    re-enters), turning the assumption below — that no publish is
    concurrently landing while vacuum runs — into an enforced
    property on local/HDFS storage: an out-of-band vacuum cannot
    sweep the above-pointer directory an in-flight publish is
    actively landing.

    Past the pointer: an UNCOMMITTED dir is a crashed-publish partial
    and is removed outright (it was never visible to any reader, and
    the single-writer contract — lock-enforced where storage allows —
    means no publish is concurrently landing one when vacuum runs); a
    COMMITTED dir past the pointer
    is a publish between its marker and its flip — never touched.
    BELOW the pointer an uncommitted dir is never removed either —
    every below-pointer version was once pointed, hence once marked, so
    it can only mean out-of-band marker loss, and deleting it would
    destroy the data the documented recovery (restoring the
    ``COMMITTED`` file) exists to save; it is quarantined with a
    WARNING instead.
    (Publish start additionally sweeps ALL above-pointer leftovers
    under the single-writer guarantee, so a committed-unflipped crash
    cannot survive into a later pointer regime and masquerade as
    published.)"""
    lock = _acquire_publish_lock(root, spark)
    try:
        return _vacuum_locked(
            root, keep_versions, spark, protect, snapshots
        )
    finally:
        _release_publish_lock(root, lock, spark)


def _vacuum_locked(
    root: str,
    keep_versions: int,
    spark,
    protect: "set[int] | None",
    snapshots: "list[str] | None",
) -> list[int]:
    pinned: set[int] = {int(v) for v in (protect or ())}
    for sroot in snapshots or ():
        for comp_root, vers in snapshot_pinned_versions(sroot, spark).items():
            if _same_dataset_root(comp_root, root):
                pinned.update(vers)
    cur = current_version(root, spark)
    vs = _versions(root, spark)
    published = [
        v
        for v in vs
        if cur is not None and v <= cur and _is_committed(root, v, spark)
    ]
    keep = set(published[-keep_versions:]) | (
        {cur} if cur is not None else set()
    )
    from spectrify_spark.catalog.cow import cow_referenced_versions

    keep |= cow_referenced_versions(spark, root, manifest_versions=keep)
    removed = []
    for v in vs:
        if (cur is None or v > cur) and _is_committed(root, v, spark):
            continue  # committed, flip imminent: belongs to the writer
        if v in keep:
            continue
        if v in pinned:
            logger.warning(
                "vacuum at %s: v=%d is outside the keep window "
                "(keep_versions=%d) but pinned by a retained snapshot "
                "(or the protect set) — SKIPPED; widen keep_versions "
                "or retire the pinning snapshot to reclaim it",
                root,
                v,
                keep_versions,
            )
            continue
        if cur is not None and v <= cur and not _is_committed(root, v, spark):
            # QUARANTINE, not removal (r15 self-review): by write
            # order every below-pointer version was once pointed, hence
            # once marked, so an unmarked one here can only be
            # out-of-band marker loss.  Deleting it would destroy the
            # very data the documented recovery (restore the COMMITTED
            # file) exists to save; above-pointer unmarked dirs remain
            # true crashed partials and are removed as before.
            logger.warning(
                "vacuum at %s: v=%d sits below the pointer with no "
                "COMMITTED marker (out-of-band marker loss?) — "
                "quarantined, not removed; restore its %s file to "
                "re-certify, or remove the directory manually",
                root,
                v,
                COMMITTED,
            )
            continue
        _remove_dir(root, f"v={v}", spark)
        removed.append(v)
    _sweep_stale_tmp(root, spark)
    return removed


#: pointer-temp leftovers older than this are swept by vacuum — long
#: enough that no in-flight pointer write (a single tiny JSON rename)
#: can be racing, short enough that SIGKILL'd writers don't accumulate
#: debris for long
TMP_SWEEP_SECONDS = 3600.0


def _sweep_stale_tmp(root: str, spark=None) -> None:
    """Reclaim orphaned pointer-write temp files (r16 ADVICE): unique
    per-write temp names fixed the two-writer truncation race, but a
    writer killed hard (SIGKILL, OOM) leaks its ``.*.tmp`` — dot-hidden
    so readers never see it, yet accumulating forever since no later
    write reuses the name.  Vacuum sweeps any root-level dotfile
    ending in ``.tmp`` older than :data:`TMP_SWEEP_SECONDS`; the age
    gate keeps a concurrent writer's in-flight temp (sub-second
    lifetime) safe.  Stale-lock capture leftovers
    (``.spectrify_publish.lock.stale.<hex>`` — orphaned only by a
    crash between the takeover rename and its remove) are swept by
    the same age gate.  Best-effort: a sweep failure never fails
    the vacuum."""

    def _sweepable(nm: str) -> bool:
        return nm.startswith(".") and (
            nm.endswith(".tmp") or f"{PUBLISH_LOCK}.stale." in nm
        )

    now = time.time()
    lp = _local_path(root)
    try:
        if lp is not None:
            for nm in os.listdir(lp):
                if not _sweepable(nm):
                    continue
                p = os.path.join(lp, nm)
                try:
                    if os.path.isfile(p) and now - os.stat(p).st_mtime > TMP_SWEEP_SECONDS:
                        os.remove(p)
                except OSError:
                    pass  # racing writer finished/cleaned it
            return
        if spark is None:
            return
        from spectrify_spark.operators._sidecar import index_fs

        fs, hpath, _ = index_fs(spark, root)
        if not fs.exists(hpath):
            return
        for st in fs.listStatus(hpath):
            nm = st.getPath().getName()
            if not _sweepable(nm):
                continue
            if st.isFile() and now - st.getModificationTime() / 1000.0 > TMP_SWEEP_SECONDS:
                fs.delete(st.getPath(), False)
    except Exception:  # noqa: BLE001 — sweep is best-effort by contract
        pass


# ------------------------------------------------- version-level stats


def _write_version_rollup(spark, vdir: str, cols: list[str]) -> None:
    """Fold the freshly built per-file stats into one version-level
    ``{col: {min, max}}`` summary plus the row count, stored as a JSON
    sidecar in the version dir.  Only JSON-native value types
    (int/float/str/bool) are rolled up — a column whose min/max does
    not serialize losslessly (dates, decimals) is simply omitted, and
    omission is SAFE: readers treat an absent column as "proves
    nothing" and fall through to the per-file index."""
    from spectrify_spark.operators._sidecar import write_json_sidecar
    from spectrify_spark.operators.layout import FILE_STATS_DIR, _read_stats_rows

    rows = _read_stats_rows(spark, f"{vdir}/{FILE_STATS_DIR}")
    if not rows:
        # stats unreadable (or the index is empty): write NO rollup
        # rather than an all-None one — {min: None} reads as "whole
        # version all-NULL", i.e. PROOF of disjointness, and a
        # transient read failure here would silently prune the entire
        # version on every later probe (absence just means readers
        # fall through to the per-file tier)
        return
    out_cols: dict = {}
    for c in cols:
        mns = [r[f"min_{c}"] for r in rows if f"min_{c}" in r]
        vals = [v for v in mns if v is not None]
        mxs = [
            v for r in rows if f"max_{c}" in r
            for v in [r[f"max_{c}"]] if v is not None
        ]
        if len(mns) < len(rows):
            continue  # some file lacks stats for c: rollup proves nothing
        if vals and not all(
            isinstance(v, (int, float, str, bool)) for v in vals + mxs
        ):
            continue  # not JSON-lossless: omit (reader falls through)
        out_cols[c] = {
            "min": min(vals) if vals else None,
            "max": max(mxs) if mxs else None,
        }
    payload = {
        "n_rows": int(sum(int(r.get("n_rows") or 0) for r in rows)),
        "cols": out_cols,
    }
    write_json_sidecar(spark, vdir, VERSION_STATS, payload)


def published_pruned_scan(
    spark,
    root: str,
    col: str | None = None,
    lower=None,
    upper=None,
    ranges: "dict | None" = None,
    version: int | None = None,
    spark_side: "bool | None" = None,
) -> DataFrame:
    """Range scan over a published version with TWO pruning tiers:
    (1) the version-level rollup — if every row of the version is
    provably outside some range, return the empty scan after ONE tiny
    JSON read (no file listing, no per-file index open: at 10^6 files
    per version this is the difference between a metadata no-op and a
    planning stampede); (2) otherwise the per-file stats index
    (:func:`spectrify_spark.operators.layout.pruned_scan`).  Same
    conservative contract as every skipping tier: a version/file is
    skipped only when stats PROVE disjointness, so a missing or
    partial rollup only costs pruning, never rows.  ``spark_side``
    passes through to the per-file tier (r14 VERDICT item 6 — the
    automatic 100k-file threshold always engaged, but the explicit
    override the unpublished API offers was not reachable here):
    None = the file-count threshold decides, True forces the
    Spark-job + anti-join arm, False forces the driver-side probe."""
    from spectrify_spark.operators._sidecar import read_json_sidecar
    from spectrify_spark.operators.layout import _as_ranges, pruned_scan

    rgs = _as_ranges(col, lower, upper, ranges)
    v = current_version(root, spark) if version is None else int(version)
    if v is None:
        raise FileNotFoundError(
            f"published_pruned_scan: nothing published at {root!r}"
        )
    if version is not None:
        _check_time_travel_target("published_pruned_scan", root, v, spark)
    vdir = _join(root, f"v={v}")
    schema = _version_schema(root, v, spark)
    rollup = read_json_sidecar(spark, vdir, VERSION_STATS)
    if rollup:
        for c, (lo, hi) in rgs.items():
            s = (rollup.get("cols") or {}).get(c)
            if s is None:
                continue  # column not rolled up: proves nothing
            mn, mx = s.get("min"), s.get("max")
            try:
                disjoint = (
                    mn is None  # whole version all-NULL: no range match
                    or (lo is not None and mx < lo)
                    or (hi is not None and mn >= hi)
                )
            except TypeError:
                # probe type not comparable to the JSON'd stats (e.g.
                # date probe vs str rollup): proves nothing — fall
                # through to the per-file tier
                continue
            if disjoint:
                return _scan(spark, schema, vdir).filter(F.lit(False))
    return pruned_scan(
        spark, vdir, ranges=rgs, spark_side=spark_side, schema=schema
    )


def _write_version_bloom_rollup(spark, vdir: str, cols: list[str]) -> None:
    """Union the freshly built per-file blooms into one VERSION-level
    bloom per column, stored as a JSON sidecar in the version dir.
    Bit-OR of per-file blooms is exactly the bloom of the union of
    the files' values (same m_bits/k_hashes family), so a probe whose
    positions are not all set in the rollup is PROVABLY absent from
    the whole version.  Per-file blooms are sized per file
    (``layout.write_file_bloom``), so each is first folded down to
    8,192 bits, or to the smallest m when one is below that (the OR of
    its halves, :func:`layout._bloom_fold`): exactly the bloom of the
    same keys at that m, so the rollup of a sized publish is bit for
    bit the rollup of 8,192-bit per-file blooms.  A column is omitted
    — omission is safe, the reader falls through to the per-file tier
    — when its rows disagree on (k_hashes, dtype), when some row has
    no ``bitmap`` of ``ceil(m_bits/8)`` bytes (the old ``bits`` array
    form proves nothing), or when some m does not fold (the target
    does not divide it) and the rows do not all share one m.  Each
    column is one packed bitmap
    (``"bitmap"``): ``ceil(m_bits/8)`` bytes as base64, bit p in byte
    ``p >> 3`` at bit ``p & 7``, 1,368 characters at 8,192 bits —
    independent of the file count and of how many bits are set."""
    import base64

    from spectrify_spark.operators._sidecar import write_json_sidecar
    from spectrify_spark.operators.layout import (
        BLOOM_MIN_BITS,
        FILE_BLOOM_DIR,
        _bloom_fold,
        _read_stats_rows,
    )

    rows = _read_stats_rows(spark, f"{vdir}/{FILE_BLOOM_DIR}")
    if not rows:
        return  # bloom index unreadable/empty: no rollup (see stats twin)
    out: dict = {}
    for c in cols:
        mine = [r for r in rows if r["col"] == c]
        if not mine or any(
            len(r.get("bitmap") or b"") != (int(r["m_bits"]) + 7) >> 3
            for r in mine
        ):
            continue
        fams = {(int(r["k_hashes"]), r.get("dtype", "") or "") for r in mine}
        if len(fams) != 1:
            continue  # mixed hash families: a rollup would prove nothing
        k_hashes, dtype = next(iter(fams))
        ms = {int(r["m_bits"]) for r in mine}
        m_bits = min(ms | {BLOOM_MIN_BITS})
        if any(m % m_bits for m in ms):
            if len(ms) != 1:
                continue
            m_bits = next(iter(ms))
        folded = 0
        for r in mine:
            folded |= _bloom_fold(r["bitmap"], int(r["m_bits"]), m_bits)
        out[c] = {
            "m_bits": m_bits,
            "k_hashes": k_hashes,
            "dtype": dtype,
            "bitmap": base64.b64encode(
                folded.to_bytes((m_bits + 7) >> 3, "little")
            ).decode("ascii"),
        }
    write_json_sidecar(spark, vdir, VERSION_BLOOM, out)


def published_pruned_scan_eq(
    spark,
    root: str,
    col: str,
    value,
    version: int | None = None,
    spark_side: "bool | None" = None,
) -> DataFrame:
    """Point lookup over a published version with TWO pruning tiers:
    (1) the version-level bloom rollup — if the probe's bit positions
    are not all set in its packed bitmap, the value is PROVABLY absent
    from the whole version: return the empty scan after one JSON read
    of ``m_bits/8`` bytes per column (no file listing, no per-file
    index open — at 10^6 files per version that is the difference
    between a metadata no-op and a planning stampede); (2) otherwise
    the per-file bloom pruning
    (:func:`spectrify_spark.operators.layout.pruned_scan_eq`).  Same
    conservative contract as every skipping tier: an unverifiable
    probe canonicalization, a missing rollup or one without a
    ``"bitmap"`` (the retired ``"bits"`` list form) only costs
    pruning, never rows; NULL probes return the empty result directly
    (SQL equality never matches NULL).  ``spark_side`` passes through
    to the per-file tier exactly as on :func:`published_pruned_scan`
    (None = file-count threshold, True = forced Spark arm, False =
    forced driver arm)."""
    from spectrify_spark.operators._sidecar import read_json_sidecar
    from spectrify_spark.operators.layout import (
        _bloom_may_contain,
        _bloom_positions_py,
        pruned_scan_eq,
    )

    v = current_version(root, spark) if version is None else int(version)
    if v is None:
        raise FileNotFoundError(
            f"published_pruned_scan_eq: nothing published at {root!r}"
        )
    if version is not None:
        _check_time_travel_target("published_pruned_scan_eq", root, v, spark)
    vdir = _join(root, f"v={v}")
    schema = _version_schema(root, v, spark)
    if value is None:
        return _scan(spark, schema, vdir).filter(F.lit(False))
    rollup = read_json_sidecar(spark, vdir, VERSION_BLOOM) or {}
    s = rollup.get(col)
    if s and "bitmap" in s:
        m_bits = int(s["m_bits"])
        pos = _bloom_positions_py(
            value, m_bits, int(s["k_hashes"]), dtype=s.get("dtype", "")
        )
        # the bitmap decodes once and the k probe bits are tested in
        # place — no set of up to m_bits ints on the probe path
        if pos is not None and not _bloom_may_contain(
            s["bitmap"], m_bits, pos
        ):
            return _scan(spark, schema, vdir).filter(F.lit(False))
    return pruned_scan_eq(
        spark, vdir, col, value, spark_side=spark_side, schema=schema
    )


# --------------------------------------------------- snapshot publish

#: per-version manifest of a snapshot dataset: the component pins
SNAPSHOT_MANIFEST = "_spectrify_snapshot.json"


def publish_snapshot(
    root: str,
    components: dict,
    keep_versions: int = 2,
    spark=None,
) -> int:
    """Atomic CROSS-DATASET publish (r14 VERDICT item 3): commit N
    component versions — a curated corpus, its band index, its ANN
    index — behind ONE pointer flip, so a pipeline consumer never
    reads mixed versions.  ``components`` maps a component name to
    either a dataset root (pins that dataset's CURRENT version) or a
    ``(root, version)`` pair; the manifest of pins lands as an
    immutable snapshot version through :func:`publish_dir`'s
    write-order protocol (manifest -> COMMITTED -> pointer flip).

    Consistency argument: a reader resolves the SNAPSHOT pointer once
    (:func:`read_snapshot_manifest`) and then reads immutable
    ``v=K`` component directories named by that manifest — the
    individual component pointers are never consulted, so component
    publishes happening between (or during) snapshot flips are
    invisible until the NEXT snapshot commits.  All-old or all-new,
    by the same single-pointer argument as :func:`publish`; the
    crash-injection test (tests/test_publish.py) kills the writer
    between component publishes and asserts snapshot readers still
    see the previous consistent set.

    Every pinned version must exist and be committed at publish time
    (crashed component partials are refused with the shared
    time-travel guard).  RETENTION CONTRACT: pass the snapshot roots
    to component vacuums (``vacuum(comp_root, snapshots=[snap_root])``
    — r16) so pinned versions are never evicted even outside the keep
    window; the publish-tail vacuum inside a component's own
    ``publish`` knows no snapshot roots, so ALSO size the components'
    ``keep_versions`` to cover the gap between a component re-publish
    and the out-of-band pin-aware vacuum.
    :func:`snapshot_pinned_versions` remains the audit (the set a
    vacuum must not evict).  Single writer per snapshot root, like
    every publish."""
    if not components:
        raise ValueError("publish_snapshot: components must be non-empty")
    resolved: dict = {}
    for name, spec in components.items():
        if isinstance(spec, str):
            droot, ver = spec, None
        else:
            droot, ver = spec
        v = current_version(droot, spark) if ver is None else int(ver)
        if v is None:
            raise FileNotFoundError(
                f"publish_snapshot: component {name!r} has nothing "
                f"published at {droot!r}"
            )
        # exists + committed: pinning a crashed partial would bake an
        # unreadable version into every future read of this snapshot
        _check_time_travel_target(f"publish_snapshot[{name}]", droot, v, spark)
        # ... and POINTER-RESOLVABLE (r16 self-review): a committed but
        # never-flipped version above the pointer passes the committed
        # check, yet it belongs to an in-flight (or crashed) publish —
        # the component's NEXT publish sweeps it by design, silently
        # breaking every future read of this snapshot.  Only history
        # the pointer has named is a stable pin target.
        cur = current_version(droot, spark)
        if cur is None or v > cur:
            raise ValueError(
                f"publish_snapshot[{name}]: version {v} at {droot!r} is "
                f"committed but ABOVE the pointer (current {cur}) — it "
                "belongs to an in-flight or crashed publish and the "
                "component's next publish sweeps it; pin a version the "
                "pointer has named"
            )
        resolved[name] = {"root": droot, "version": v}
    payload = {"components": resolved}

    def build(vdir: str) -> None:
        _write_snapshot_manifest(vdir, payload, spark)

    return publish_dir(root, build, keep_versions=keep_versions, spark=spark)


def _write_snapshot_manifest(vdir: str, payload: dict, spark) -> None:
    lp = _local_path(vdir)
    if lp is not None:
        os.makedirs(lp, exist_ok=True)
        with open(os.path.join(lp, SNAPSHOT_MANIFEST), "w") as fh:
            json.dump(payload, fh, sort_keys=True)
        return
    from spectrify_spark.operators._sidecar import write_json_sidecar

    write_json_sidecar(
        _require_spark(spark, vdir, "publish_snapshot"),
        vdir,
        SNAPSHOT_MANIFEST,
        payload,
    )


def read_snapshot_manifest(
    root: str, version: int | None = None, spark=None
) -> dict:
    """The pinned-component manifest of a snapshot version (default:
    the pointed one).  Resolving this ONCE and then reading the named
    immutable component dirs is what makes snapshot readers immune to
    concurrent component publishes."""
    v = current_version(root, spark) if version is None else int(version)
    if v is None:
        raise FileNotFoundError(
            f"read_snapshot_manifest: nothing published at {root!r}"
        )
    if version is not None:
        _check_time_travel_target("read_snapshot_manifest", root, v, spark)
    vdir = _join(root, f"v={v}")
    lp = _local_path(vdir)
    if lp is not None:
        p = os.path.join(lp, SNAPSHOT_MANIFEST)
        if not os.path.isfile(p):
            raise FileNotFoundError(
                f"read_snapshot_manifest: {root!r} v={v} carries no "
                f"{SNAPSHOT_MANIFEST} — not a snapshot dataset"
            )
        with open(p) as fh:
            return json.load(fh)
    from spectrify_spark.operators._sidecar import read_json_sidecar

    m = read_json_sidecar(
        _require_spark(spark, vdir, "read_snapshot_manifest"),
        vdir,
        SNAPSHOT_MANIFEST,
    )
    if m is None:
        raise FileNotFoundError(
            f"read_snapshot_manifest: {root!r} v={v} carries no "
            f"{SNAPSHOT_MANIFEST} — not a snapshot dataset"
        )
    return m


def _snapshot_pin(
    root: str, name: str, version: int | None, spark
) -> "tuple[str, int]":
    """``(component root, pinned version)`` of ``name`` in the snapshot."""
    m = read_snapshot_manifest(root, version=version, spark=spark)
    comp = (m.get("components") or {}).get(name)
    if comp is None:
        raise KeyError(
            f"snapshot_component_path: no component {name!r} in snapshot "
            f"{root!r} (have {sorted(m.get('components') or {})})"
        )
    return comp["root"], int(comp["version"])


def snapshot_component_path(
    root: str, name: str, version: int | None = None, spark=None
) -> str:
    """Path of the component's PINNED version directory — hand it to
    any path-taking reader (``spark.read.parquet``, the ANN probe
    functions, ``layout.pruned_scan``)."""
    croot, cv = _snapshot_pin(root, name, version, spark)
    return _join(croot, f"v={cv}")


def read_snapshot_table(
    spark, root: str, name: str, version: int | None = None
) -> DataFrame:
    """Scan a parquet component through the snapshot's pin, with the
    schema its commit marker records (:func:`_version_schema`)."""
    croot, cv = _snapshot_pin(root, name, version, spark)
    schema = _version_schema(croot, cv, spark)
    return _scan(spark, schema, _join(croot, f"v={cv}"))


def vacuum_pipeline(
    snap_root: str,
    keep_versions: int = 2,
    spark=None,
    component_keep: "int | None" = None,
    snapshots: "list[str] | None" = None,
) -> dict:
    """One-call pin-aware retirement of a snapshot PIPELINE (r16): the
    operational loop every multi-component pipeline needs is "retire
    old snapshot generations, then reclaim the component versions
    nothing pins anymore" — two steps whose ORDER matters (vacuuming
    the snapshot root first releases its pins, so the component pass
    reclaims more).  This helper runs them in that order:

    1. ``vacuum(snap_root, keep_versions)`` — old snapshot generations
       (and their manifests) go; their pins die with them;
    2. every component root referenced by any REMAINING snapshot
       generation is vacuumed with ``snapshots=[snap_root, *snapshots]``
       — retained pins survive whatever ``component_keep`` (default:
       ``keep_versions``) says, unpinned history outside the window is
       reclaimed.

    ``snapshots`` lists ADDITIONAL snapshot roots whose pins on these
    components must also survive (a corpus shared by two pipelines).
    Components never referenced by any remaining snapshot are not
    touched — this helper only knows the roots the manifests name.
    Returns ``{root: [removed versions]}`` including the snapshot root
    itself.  Same single-writer contract as every vacuum."""
    out: dict = {}
    out[snap_root] = vacuum(snap_root, keep_versions=keep_versions, spark=spark)
    snaps = [snap_root, *(snapshots or ())]
    for comp_root in sorted(snapshot_pinned_versions(snap_root, spark)):
        out[comp_root] = vacuum(
            comp_root,
            keep_versions=component_keep
            if component_keep is not None
            else keep_versions,
            spark=spark,
            snapshots=snaps,
        )
    return out


def snapshot_pinned_versions(root: str, spark=None) -> dict:
    """component dataset root -> set of version numbers pinned by ANY
    retained committed snapshot version: the set a component vacuum
    must not evict (see the retention contract on
    :func:`publish_snapshot`).  Bounded work: versions x components,
    all driver-side JSON reads."""
    out: dict = {}
    for v in _versions(root, spark):
        if not _is_committed(root, v, spark):
            continue
        try:
            m = read_snapshot_manifest(root, version=v, spark=spark)
        except FileNotFoundError:
            continue
        for comp in (m.get("components") or {}).values():
            out.setdefault(comp["root"], set()).add(int(comp["version"]))
    return out
