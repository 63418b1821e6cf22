"""Session, accounting and tracing shared by the three workloads.

Everything here observes the program from outside.  It starts the
session with pinned settings, times the calls the workloads make,
counts Spark jobs through the DAG scheduler's job counter, reads the
CPU time of the Spark JVM and its Python workers from ``/proc``, and
lists output directories to count the bytes written.  In a traced run
it also keeps spans in memory, sets each span's job group, and writes
Spark's event log for :mod:`eventlog` to fold.
"""

from __future__ import annotations

import ctypes
import functools
import json
import os
import resource
import shutil
import signal
import statistics
import time
from contextlib import contextmanager
from pathlib import Path

REPO = Path(__file__).resolve().parent.parent
WORK = REPO / ".perfbench_work"

#: the host this benchmark was sized on has 4 cores; never ask for more
MAX_CORES = 4
DRIVER_MEMORY = "2g"
_CLK_TCK = os.sysconf("SC_CLK_TCK")


def cores() -> int:
    return min(MAX_CORES, len(os.sched_getaffinity(0)))


def spark_settings(work: Path, trace_dir: "Path | None") -> dict:
    """Every Spark setting the benchmark pins (README lists them)."""
    n = cores()
    conf = {
        "spark.master": f"local[{n}]",
        "spark.sql.shuffle.partitions": str(n),
        "spark.default.parallelism": str(n),
        "spark.driver.memory": DRIVER_MEMORY,
        "spark.local.dir": str(work / "local"),
        "spark.sql.warehouse.dir": str(work / "warehouse"),
        "spark.sql.catalogImplementation": "in-memory",
        "spark.driver.extraJavaOptions": f"-Djava.io.tmpdir={work / 'tmp'} -Xms{DRIVER_MEMORY}",
        "spark.ui.showConsoleProgress": "false",
    }
    if trace_dir is not None:
        conf.update(
            {
                "spark.eventLog.enabled": "true",
                "spark.eventLog.dir": str(trace_dir),
                "spark.eventLog.compress": "false",
                "spark.eventLog.rolling.enabled": "false",
            }
        )
    return conf


# ------------------------------------------------------------ /proc CPU


def _proc_table() -> dict:
    """pid -> (ppid, own ticks, reaped children's ticks)."""
    out = {}
    for d in os.listdir("/proc"):
        if not d.isdigit():
            continue
        try:
            with open(f"/proc/{d}/stat") as fh:
                raw = fh.read()
        except OSError:
            continue  # exited while listing
        f = raw[raw.rindex(")") + 2 :].split()
        # fields after the comm: state ppid ... utime(14) stime cutime cstime
        out[int(d)] = (int(f[1]), int(f[11]) + int(f[12]), int(f[13]) + int(f[14]))
    return out


def tree_cpu_s(root_pid: int) -> float:
    """CPU seconds of ``root_pid`` and every live descendant, plus the
    children each has reaped.  Differences of two readings count a
    worker that exited in between exactly once: its parent's reaped
    total grows by what it used."""
    table = _proc_table()
    kids: dict[int, list[int]] = {}
    for pid, (ppid, _, _) in table.items():
        kids.setdefault(ppid, []).append(pid)
    total, todo = 0, [root_pid]
    while todo:
        pid = todo.pop()
        if pid in table:
            total += table[pid][1] + table[pid][2]
        todo.extend(kids.get(pid, ()))
    return total / _CLK_TCK


# ------------------------------------------------------------ processes

_PR_SET_CHILD_SUBREAPER = 36


def become_subreaper() -> None:
    """Have every process this one starts, and every process those
    start, become a child of this one if its parent exits first, so
    that :func:`reap_all` can wait for each.  Without it a Python worker
    or a JVM that outlives its parent is left to the host's init."""
    libc = ctypes.CDLL(None, use_errno=True)
    libc.prctl(_PR_SET_CHILD_SUBREAPER, 1, 0, 0, 0)


def descendants(root_pid: int) -> list:
    table = _proc_table()
    out, todo = [], [root_pid]
    while todo:
        pid = todo.pop()
        kids = [p for p, (ppid, _, _) in table.items() if ppid == pid]
        out.extend(kids)
        todo.extend(kids)
    return out


def reap_all(timeout: float) -> None:
    """Wait until every process this one started has ended and been
    reaped; kill what is still running after ``timeout`` seconds."""
    deadline = time.monotonic() + timeout
    killed = False
    while True:
        try:
            pid, _ = os.waitpid(-1, os.WNOHANG)
        except ChildProcessError:
            return  # no children left
        if pid:
            continue
        if not killed and time.monotonic() > deadline:
            for p in descendants(os.getpid()):
                try:
                    os.kill(p, signal.SIGKILL)
                except ProcessLookupError:
                    pass
            killed = True
        time.sleep(0.02)


def client_cpu_s() -> float:
    """CPU seconds of this Python process itself, all its threads."""
    ru = resource.getrusage(resource.RUSAGE_SELF)
    return ru.ru_utime + ru.ru_stime


def steal_s() -> float:
    """CPU seconds the hypervisor gave to other guests, all CPUs."""
    with open("/proc/stat") as fh:
        return int(fh.readline().split()[8]) / _CLK_TCK


# ------------------------------------------------------------ files


def tree_files(*roots) -> dict:
    """path -> (size, mtime_ns) of every regular file under ``roots``."""
    out = {}
    for root in roots:
        if os.path.isfile(root):
            st = os.stat(root)
            out[str(root)] = (st.st_size, st.st_mtime_ns)
        for dirpath, _, files in os.walk(root):
            for name in files:
                p = os.path.join(dirpath, name)
                try:
                    st = os.stat(p)
                except FileNotFoundError:
                    continue
                out[p] = (st.st_size, st.st_mtime_ns)
    return out


def bytes_written(before: dict, after: dict) -> int:
    """Bytes of the files in ``after`` that are new or rewritten."""
    return sum(v[0] for p, v in after.items() if before.get(p) != v)


def dir_bytes(*roots) -> int:
    return sum(v[0] for v in tree_files(*roots).values())


# ------------------------------------------------------------ the bench


class OpFailed(RuntimeError):
    """An operation of the workload raised; counted in ``failed``."""


class Bench:
    """State of one benchmark run: session, counters and spans."""

    def __init__(self, workload: str, seed: int, trace: bool):
        self.workload = workload
        self.seed = seed
        self.trace = trace
        self.work = WORK / f"{workload}-{os.getpid()}"
        self.trace_dir = WORK / "trace" if trace else None
        self.spark = None
        self.app_id = None
        self.attempted = 0
        self.failed = 0
        self.spans: list[dict] = []
        self._stack: list[dict] = []
        self.notes: dict = {}  # per-layer counts the workloads add
        become_subreaper()
        for d in ("local", "tmp", "warehouse"):
            (self.work / d).mkdir(parents=True, exist_ok=True)
        if self.trace_dir is not None:
            self.trace_dir.mkdir(parents=True, exist_ok=True)
        # the JVM inherits these; SPARK_LOCAL_DIRS would override
        # spark.local.dir, so it is pinned to the checkout too
        os.environ["SPARK_LOCAL_DIRS"] = str(self.work / "local")
        os.environ["TMPDIR"] = str(self.work / "tmp")

    # -- session
    def start_session(self) -> float:
        """Launch the JVM and start the session; returns the wall seconds
        it took."""
        from spectrify_spark.session import get_spark

        t0 = time.perf_counter()
        conf = spark_settings(self.work, self.trace_dir)
        n = cores()
        self.spark = get_spark(
            f"perfbench-{self.workload}",
            master=conf.pop("spark.master"),
            shuffle_partitions=n,
            extra_conf=conf,
        )
        sc = self.spark.sparkContext
        self.app_id = sc.applicationId
        self._dag = sc._jsc.sc().dagScheduler()
        self.jvm_pid = sc._gateway.proc.pid
        return time.perf_counter() - t0

    def stop(self) -> None:
        """Stop the session, then end the JVM and every process under
        it and wait for each.  ``SparkSession.stop`` leaves the JVM
        running until this process exits; the JVM leaves when its stdin
        closes."""
        from pyspark import SparkContext

        if self.spark is not None:
            self.spark.stop()
            self.spark = None
        gateway = SparkContext._gateway
        if gateway is None:
            return
        SparkContext._gateway = SparkContext._jvm = None
        try:
            gateway.shutdown()
        except Exception:
            pass  # the JVM is ended below either way
        proc = getattr(gateway, "proc", None)
        if proc is not None and proc.stdin is not None:
            proc.stdin.close()
        reap_all(timeout=60)

    def jobs(self) -> int:
        """Jobs submitted so far in this SparkContext, from any thread
        (streaming micro-batches included).  The DAG scheduler's own
        counter drops nothing, unlike the status tracker's retained
        list."""
        return int(self._dag.numTotalJobs())

    def cpu_s(self) -> float:
        return tree_cpu_s(self.jvm_pid)

    def environment(self) -> dict:
        sc = self.spark.sparkContext
        jvm = self.spark._jvm
        return {
            "master": sc.master,
            "defaultParallelism": sc.defaultParallelism,
            "spark.sql.shuffle.partitions": self.spark.conf.get(
                "spark.sql.shuffle.partitions"
            ),
            "spark_version": self.spark.version,
            "java_version": jvm.System.getProperty("java.version"),
            "nproc": len(os.sched_getaffinity(0)),
            "driver_memory": sc.getConf().get("spark.driver.memory"),
            "seed": self.seed,
        }

    # -- spans and operations
    @contextmanager
    def _open_span(self, name: str, module: str, group):
        """Record a span around the body and yield it."""
        parent = self._stack[-1] if self._stack else None
        sp = {
            "id": len(self.spans),
            "name": name,
            "module": module,
            "parent": parent["id"] if parent else None,
            "group": group if group is not None else (parent or {}).get("group"),
            "start": time.time(),
        }
        self.spans.append(sp)
        self._stack.append(sp)
        try:
            yield sp
        finally:
            sp["end"] = time.time()
            self._stack.pop()

    @contextmanager
    def span(self, module: str, call: str):
        """Time one call; in a traced run also record a span and set the
        job group ``bench:<workload>/<module>/<call>`` for its jobs."""
        if not self.trace:
            yield None
            return
        sc = self.spark.sparkContext
        outer = self._stack[-1]["group"] if self._stack else None
        group = f"bench:{self.workload}/{module}/{call}"
        with self._open_span(f"{module}.{call}", module, group) as sp:
            sc.setLocalProperty("spark.jobGroup.id", group)
            try:
                yield sp
            finally:
                sc.setLocalProperty("spark.jobGroup.id", outer)

    def op(self, module: str, call: str, fn, *args, **kwargs):
        """Run one counted operation (an export, a query, a probe ...)."""
        self.attempted += 1
        with self.span(module, call):
            try:
                return fn(*args, **kwargs)
            except Exception as exc:
                self.failed += 1
                raise OpFailed(f"{module}.{call}: {exc!r}") from exc

    def wrap(self, module_obj, name: str, module: str) -> None:
        """Traced runs only: record a span around every call of
        ``module_obj.name`` made from inside the program (for instance
        the publish a streaming sink runs per micro-batch).  The span
        sets no job group: it may open on a streaming callback thread,
        whose jobs belong to the query."""
        if not self.trace:
            return
        inner = getattr(module_obj, name)

        @functools.wraps(inner)
        def traced(*args, **kwargs):
            with self._open_span(f"{module}.{name}", module, None):
                return inner(*args, **kwargs)

        setattr(module_obj, name, traced)

    # -- stages and phases
    @contextmanager
    def timed(self, rec: dict, name: str):
        """Time the body into ``rec``: its raw wall time
        (``<name>_wall_s``), the CPU time of this process and everything
        it started (``<name>_tree_cpu_s``; the JVM and its Python
        workers are descendants), the client's own share of it
        (``<name>_client_cpu_s``), the host's steal time
        (``<name>_steal_s``) and ``<name>_s``, the wall time on the CPU
        the host served.

        The benchmark runs in a virtual machine whose host lends its
        CPUs to other guests; the CPU time it withheld while a vCPU
        wanted to run shows as steal, and stretches wall time by however
        much the neighbours happened to load the host.  ``<name>_s``
        scales the wall time by the share of demanded CPU that was
        served, cpu / (cpu + steal); without steal it is the wall time.
        README, *Wall time and the host's steal time*, gives the limits
        of this model and ``steady.py`` shows how it holds.
        """
        me = os.getpid()
        c0, k0, s0 = tree_cpu_s(me), client_cpu_s(), steal_s()
        t0 = time.perf_counter()
        yield
        wall = time.perf_counter() - t0
        cpu, steal = tree_cpu_s(me) - c0, steal_s() - s0
        rec[f"{name}_wall_s"] = wall
        rec[f"{name}_s"] = wall * cpu / (cpu + steal) if cpu + steal > 0 else wall
        rec[f"{name}_tree_cpu_s"] = cpu
        rec[f"{name}_client_cpu_s"] = client_cpu_s() - k0
        rec[f"{name}_steal_s"] = steal

    @contextmanager
    def phase(self, rnd: dict, name: str, watch=()):
        """Time a whole phase into ``rnd`` as :meth:`timed` does, and
        count its jobs, the CPU seconds of the Spark JVM and its
        workers (``<name>_cpu_s``) and, for ``watch`` directories, the
        bytes written."""
        before = tree_files(*watch) if watch else None
        j0, c0 = self.jobs(), self.cpu_s()
        with self.timed(rnd, name), self.span("phase", name):
            yield
        rnd[f"{name}_jobs"] = self.jobs() - j0
        rnd[f"{name}_cpu_s"] = self.cpu_s() - c0
        if watch:
            rnd[f"{name}_bytes"] = bytes_written(before, tree_files(*watch))

    def write_trace(self, extra: dict) -> Path:
        """Write the spans (one JSON object a line) and the per-layer
        report next to the event log; returns the report path."""
        stem = self.trace_dir / f"{self.workload}-seed{self.seed}-{os.getpid()}"
        with open(f"{stem}-spans.jsonl", "w") as fh:
            for sp in self.spans:
                fh.write(json.dumps(sp) + "\n")
        with open(f"{stem}-layers.json", "w") as fh:
            json.dump(extra, fh, indent=2, sort_keys=True)
        return Path(f"{stem}-layers.json")

    def cleanup(self) -> None:
        shutil.rmtree(self.work, ignore_errors=True)


def median(xs) -> float:
    return float(statistics.median(xs))
