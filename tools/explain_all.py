"""Plan-quality audit: for each query, print the physical-plan
properties that matter at scale — does the filter reach the scan
(PushedFilters), is the projection pruned (ReadSchema), which join
strategies fire, how many shuffles (Exchange) the plan carries, and
whether whole-stage codegen covers the hot path.

Usage: python tools/explain_all.py [sf_dir] [query ...]
"""

from __future__ import annotations

import re
import sys
from pathlib import Path

sys.path.insert(0, str(Path(__file__).resolve().parents[1]))

import __spark_entry__ as E
from spectrify_spark.session import get_spark


def _tree_indent(line: str) -> int:
    """Depth of a plan line = index of its first char that is not a
    tree-drawing prefix char.  ``+`` / ``-`` are prefix chars only as
    part of the ``+-`` connector, so ``+- Project`` at column 0 has
    indent 3 while a bare operator line has its own column."""
    i = 0
    while i < len(line) and line[i] in " :|+-":
        i += 1
    return i


def _strip_initial_sections(plan: str) -> str:
    """Remove every ``== Initial Plan ==`` section (top-level or nested
    inside a cached child's finalized adaptive plan), keeping all
    ``== Final Plan ==`` content.  A section ends where indentation
    drops back below its marker line's level."""
    out = []
    skip_indent = None
    for ln in plan.splitlines():
        if skip_indent is not None:
            if ln.strip() and _tree_indent(ln) < skip_indent:
                skip_indent = None
            else:
                continue
        if "== Initial Plan ==" in ln:
            skip_indent = _tree_indent(ln)
            continue
        out.append(ln)
    return "\n".join(out)


def plan_props(df, execute: bool = False) -> dict:
    """Scale-relevant physical-plan properties (shared with
    tests/test_plans.py, which gates them per query).

    With ``execute=False`` (the test gate's cheap path) the AQE plan is
    inspected BEFORE execution (``isFinalPlan=false``): Exchange counts
    are the pre-AQE ceiling and codegen spans are not yet inserted, so
    ``codegen_spans`` reads 0.  With ``execute=True`` the plan is run
    (collect — audit scale factors keep results tiny) and the FINAL
    adaptive plan is read: post-AQE shuffle counts, runtime-chosen join
    strategies, and real WholeStageCodegen spans (the ``*(n)`` markers).
    """
    if execute:
        df.collect()
    # plan metadata strings truncate at spark.sql.maxMetadataStringLength
    # (default 100 chars): a PushedFilters list with 3+ timestamp
    # comparisons loses its closing bracket and parses as NOT pushed —
    # raise the limit around the print so the audit reads full lists
    spark = df.sparkSession
    conf_key = "spark.sql.maxMetadataStringLength"
    prev = spark.conf.get(conf_key, None)
    spark.conf.set(conf_key, "100000")
    try:
        plan = df._jdf.queryExecution().executedPlan().toString()
    finally:
        if prev is None:
            spark.conf.unset(conf_key)
        else:
            spark.conf.set(conf_key, prev)
    # An executed AdaptiveSparkPlan prints "== Final Plan ==" followed by
    # "== Initial Plan ==" — drop every Initial section (each operator
    # would otherwise be double-counted).  The marker can also appear
    # NESTED: a persisted subtree that already materialized prints its
    # own finalized adaptive plan inline, so a global
    # split()[0] truncates the whole OUTER plan at the first cached
    # child — q_graph_triangles' warm-session gate lost the entire
    # triangle-side subtree (joins, scans, exchanges) that way.  Strip
    # indent-aware instead: skip lines until indentation returns to the
    # marker's own level (tree-prefix chars ' ', ':', '|', '+', '-'
    # count as indentation).
    plan = _strip_initial_sections(plan)
    joins = sorted(set(re.findall(r"(\w*HashJoin|SortMergeJoin|BroadcastNestedLoopJoin)", plan)))
    pushed = re.findall(r"PushedFilters: \[([^\]]*)\]", plan)
    reads = re.findall(r"ReadSchema: struct<([^>]*)>", plan)
    # Count exchanges by UNIQUE plan_id where available: a persisted
    # subtree's build plan is reprinted under EVERY InMemoryRelation
    # referencing it, so a raw regex count charges each cached shuffle
    # once per consumer instead of once per execution (surfaced by
    # negative_sample's r9 pool caching).  Exchanges printed without a
    # plan_id (older formats) fall back to the raw count.
    ex_lines = [ln for ln in plan.splitlines() if re.search(r"\bExchange\b", ln)]
    ex_ids = {
        m.group(1)
        for ln in ex_lines
        for m in [re.search(r"plan_id=(\d+)", ln)]
        if m
    }
    n_unidentified = sum(1 for ln in ex_lines if "plan_id=" not in ln)
    return {
        "joins": joins,
        "exchanges": len(ex_ids) + n_unidentified,
        "codegen_spans": len(set(re.findall(r"\*\((\d+)\)", plan))),
        "pushed_filters": any(p.strip() for p in pushed),
        "scan_cols": [len(r.split(",")) for r in reads if r],
        "final_plan": "isFinalPlan=true" in plan,
    }


def audit(name: str, df) -> None:
    p = plan_props(df, execute=True)
    print(
        f"{name:22s} joins={','.join(p['joins']) or '-':40s} "
        f"exchanges={p['exchanges']} codegen_spans={p['codegen_spans']} "
        f"pushed_filters={'Y' if p['pushed_filters'] else '-'} scan_cols={p['scan_cols']}"
    )


#: drain twins whose REAL plan is streaming (captured by
#: __spark_entry__._drain_scoped into STREAM_AUDITS; the registry
#: callable's batch plan is just the memory-sink scan)
STREAMING_KEYS = (
    "q_stream_window",
    "q_stream_sessionize",
    "q_stream_dedup",
    "q_stream_stateful",
    "q_stream_join",
    "q_stream_sketch",
    "q_stream_media",
    "q_stream_enrich",
    "q_stream_curate",
)


def audit_streaming(spark, sf_dir: str) -> None:
    """Print the streaming-plan audit for the drain twins: stateful
    operator node, watermark tag presence, state-store partition count
    and instance count — the properties tests/test_streaming_plans.py
    gates."""
    node_re = re.compile(
        r"\b(StateStoreSave|SessionWindowStateStoreSave"
        r"|StreamingDeduplicate\w*|FlatMapGroupsInPandasWithState"
        r"|TransformWithState\w*|StreamingSymmetricHashJoin|MapInPandas"
        r"|BroadcastHashJoin)\b"
    )
    for name in STREAMING_KEYS:
        try:
            E.queries()[name](spark, sf_dir).collect()
            a = E.STREAM_AUDITS[name]
            nodes = sorted(set(node_re.findall(a["plan"])))
            wm = bool(re.search(r"-T\d+ms", a["plan"]))
            ops = a["progress"].get("stateOperators", [])
            parts = sorted({o["numShufflePartitions"] for o in ops})
            stores = sum(o["numStateStoreInstances"] for o in ops)
            et = a["progress"].get("eventTime", {})
            print(
                f"{name:22s} state_op={','.join(nodes) or '-':40s} "
                f"wm_tag={'Y' if wm else '-'} "
                f"wm_reported={'Y' if 'watermark' in et else '-'} "
                f"state_partitions={parts} store_instances={stores}"
            )
        except Exception as e:  # noqa: BLE001
            print(f"{name}: ERROR {e}")


def main() -> None:
    argv = [a for a in sys.argv[1:] if a != "--streaming"]
    streaming = "--streaming" in sys.argv[1:]
    sf_dir = argv[0] if argv else "/root/testdata/sf0.001"
    only = set(argv[1:])
    spark = get_spark("explain-all")
    if streaming:
        audit_streaming(spark, sf_dir)
        return
    for name, fn in E.queries().items():
        if only and name not in only:
            continue
        try:
            audit(name, fn(spark, sf_dir))
        except Exception as e:  # noqa: BLE001
            print(f"{name}: ERROR {e}")


if __name__ == "__main__":
    main()
