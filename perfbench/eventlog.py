"""Fold Spark's event log into the spans of a traced run.

A job belongs to the innermost span open when it was submitted: one
client thread issues every call, and a streaming query's micro-batch
jobs run while the call that started the query waits, so time alone
places them.  Modules come from the spans, not from Spark's call site:
PySpark records no ``callSite.short`` for jobs that a DataFrameWriter
starts, which are most of the write phase.
"""

from __future__ import annotations

import json
from pathlib import Path


class Fold:
    def __init__(self, path: "str | Path", spans: list[dict]):
        self.jobs: dict[int, dict] = {}
        self.stages: dict[int, dict] = {}
        self.tasks: dict[int, list[dict]] = {}
        with open(path) as fh:
            for line in fh:
                self._event(json.loads(line))
        self.spans = {sp["id"]: sp for sp in spans if "end" in sp}
        self.children: dict = {}
        for sp in self.spans.values():
            self.children.setdefault(sp["parent"], []).append(sp["id"])
        # job -> innermost span open at its submission
        order = sorted(self.spans.values(), key=lambda s: s["start"])
        for job in self.jobs.values():
            t = job["start"] / 1000.0
            owner = None
            for sp in order:
                if sp["start"] > t:
                    break
                if t <= sp["end"]:
                    owner = sp["id"]
            job["span"] = owner
        for sid, st in self.stages.items():
            owners = [j for j in self.jobs.values() if sid in j["stage_ids"]]
            st["job"] = min(owners, key=lambda j: j["id"])["id"] if owners else None

    def _event(self, e: dict) -> None:
        kind = e["Event"]
        if kind == "SparkListenerJobStart":
            self.jobs[e["Job ID"]] = {
                "id": e["Job ID"],
                "start": e["Submission Time"],
                "end": e["Submission Time"],
                "stage_ids": set(e["Stage IDs"]),
            }
        elif kind == "SparkListenerJobEnd" and e["Job ID"] in self.jobs:
            self.jobs[e["Job ID"]]["end"] = e["Completion Time"]
        elif kind == "SparkListenerStageCompleted":
            self.stages[e["Stage Info"]["Stage ID"]] = {}
        elif kind == "SparkListenerTaskEnd":
            m = e.get("Task Metrics") or {}
            sr = m.get("Shuffle Read Metrics") or {}
            self.tasks.setdefault(e["Stage ID"], []).append(
                {
                    "run_ms": m.get("Executor Run Time", 0),
                    "cpu_ns": m.get("Executor CPU Time", 0),
                    "gc_ms": m.get("JVM GC Time", 0),
                    "spill": m.get("Memory Bytes Spilled", 0)
                    + m.get("Disk Bytes Spilled", 0),
                    "sw": (m.get("Shuffle Write Metrics") or {}).get(
                        "Shuffle Bytes Written", 0
                    ),
                    "sr": sr.get("Remote Bytes Read", 0)
                    + sr.get("Local Bytes Read", 0),
                    "in_bytes": (m.get("Input Metrics") or {}).get("Bytes Read", 0),
                    "in_recs": (m.get("Input Metrics") or {}).get("Records Read", 0),
                    "out_bytes": (m.get("Output Metrics") or {}).get(
                        "Bytes Written", 0
                    ),
                }
            )

    # -- selections
    def under(self, span_id: int) -> set:
        out, todo = set(), [span_id]
        while todo:
            s = todo.pop()
            out.add(s)
            todo.extend(self.children.get(s, ()))
        return out

    def spans_named(self, name: str) -> list[dict]:
        return [sp for sp in self.spans.values() if sp["name"] == name]

    def jobs_under(self, span_ids) -> list[dict]:
        ids = set()
        for s in span_ids:
            ids |= self.under(s)
        return [j for j in self.jobs.values() if j["span"] in ids]

    def stages_of(self, jobs) -> list[int]:
        jids = {j["id"] for j in jobs}
        return [sid for sid, st in self.stages.items() if st["job"] in jids]

    # -- measures
    def task_totals(self, stage_ids) -> dict:
        tot = {k: 0 for k in ("run_ms", "cpu_ns", "gc_ms", "spill", "sw", "sr",
                              "in_bytes", "in_recs", "out_bytes")}
        n = 0
        for sid in stage_ids:
            for t in self.tasks.get(sid, ()):
                n += 1
                for k in tot:
                    tot[k] += t[k]
        tot["tasks"] = n
        return tot

    @staticmethod
    def union_s(intervals) -> float:
        total, cur_lo, cur_hi = 0.0, None, None
        for lo, hi in sorted(intervals):
            if cur_hi is None or lo > cur_hi:
                if cur_hi is not None:
                    total += cur_hi - cur_lo
                cur_lo, cur_hi = lo, hi
            else:
                cur_hi = max(cur_hi, hi)
        if cur_hi is not None:
            total += cur_hi - cur_lo
        return total / 1000.0

    def job_time_s(self, jobs) -> float:
        return self.union_s((j["start"], j["end"]) for j in jobs)

    def driver_s(self, span: dict) -> float:
        """Span wall time that none of its jobs cover."""
        wall = span["end"] - span["start"]
        return wall - self.job_time_s(self.jobs_under([span["id"]]))

    def wall_s(self, span: dict) -> float:
        return span["end"] - span["start"]
