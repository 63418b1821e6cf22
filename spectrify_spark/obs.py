"""Engine-native spans: every Spark job names the operator phase that
started it.

``span(op, phase)`` sets the job description of the calling thread to
``spectrify:<op>/<phase>`` for the duration of its body and restores
the previous description on exit, exceptions included.  The Spark UI
and the event log then tie each job to an operator and phase.  A span
never touches the job group: callers count their jobs by group
(``bench.py``, the tests' ``job_count`` fixture).

Inside :func:`recording`, each span is also kept as a dict in the shape
``perfbench.eventlog.Fold`` reads -- ``id``, ``name``, ``parent``,
``start``, ``end`` (epoch seconds) -- plus the ``thread`` that opened
it.  Fold gives each job to the innermost span open when it was
submitted, so a span opened inside a ``foreachBatch`` body collects
that micro-batch's jobs.  A span opened on a thread with no open span
of its own (a micro-batch thread) takes the recording thread's
innermost open span as its parent.  Outside :func:`recording` a span
costs one read and two writes of a thread-local Spark property.
"""

from __future__ import annotations

import threading
import time
from contextlib import contextmanager

from pyspark import SparkContext

DESCRIPTION = "spark.job.description"

_spans: "list[dict] | None" = None
_root: "list[dict] | None" = None  # open spans of the recording thread
_local = threading.local()
_lock = threading.Lock()


def _stack() -> list:
    stack = getattr(_local, "stack", None)
    if stack is None:
        stack = _local.stack = []
    return stack


@contextmanager
def span(op: str, phase: str):
    """Run the body as phase ``phase`` of operator ``op``."""
    sc = SparkContext._active_spark_context
    prev = None
    if sc is not None:
        prev = sc.getLocalProperty(DESCRIPTION)
        sc.setLocalProperty(DESCRIPTION, f"spectrify:{op}/{phase}")
    rec = None
    spans = _spans
    if spans is not None:
        stack = _stack()
        parent = stack[-1] if stack else (_root[-1] if _root else None)
        with _lock:
            rec = {
                "id": len(spans),
                "name": f"{op}/{phase}",
                "parent": parent["id"] if parent else None,
                "start": time.time(),
                "thread": threading.current_thread().name,
            }
            spans.append(rec)
        stack.append(rec)
    try:
        yield
    finally:
        if rec is not None:
            rec["end"] = time.time()
            _stack().pop()
        if sc is not None:
            sc.setLocalProperty(DESCRIPTION, prev)


@contextmanager
def recording():
    """Keep every span opened until exit, from any thread; yields the
    list they are appended to."""
    global _spans, _root
    _spans, _root = [], _stack()
    try:
        yield _spans
    finally:
        _spans = _root = None
