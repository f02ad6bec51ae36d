"""Tracing for the benchmark's traced runs: spans, Spark records, counters.

Everything here observes the engine from outside:

* ``Tracer`` keeps spans (name, start, end, parent, op id) in memory
  around the benchmark's own calls into each layer; the run writes them
  into its record once, when it ends.
* ``catalyst`` forces a DataFrame's executed plan and reads Spark's
  query-planning tracker plus the plan shape.
* ``read_event_logs`` folds Spark's uncompressed JSON event log into
  per-job-group execution counters. The benchmark sets the job group to
  the operation id before each build, so jobs fired eagerly while a plan
  is built are counted with that operation.
* ``storage`` reads the block manager's view of persisted RDDs, which is
  where the engine's memo caches and local checkpoints live;
  ``heap_live_mb`` reads the heap they and the session's plans hold.
"""

from __future__ import annotations

import contextlib
import glob
import json
import os
import re
import time
from collections import defaultdict
from dataclasses import dataclass

_JOINS = re.compile(
    r"\b(BroadcastHashJoin|SortMergeJoin|ShuffledHashJoin|BroadcastNestedLoopJoin|CartesianProduct)\b"
)
_PYTHON = re.compile(
    r"\b(BatchEvalPython|ArrowEvalPython|MapInPandas|MapInArrow|FlatMapGroupsInPandas)\b"
)
_EXCHANGE = re.compile(r"\bExchange\b")


@dataclass
class Span:
    name: str
    start: float
    end: float = 0.0
    parent: int | None = None
    op: str | None = None


class Tracer:
    """In-memory span recorder. Disabled tracers record nothing and cost
    one attribute check per span, so untraced runs share the code path."""

    def __init__(self, enabled: bool):
        self.enabled = enabled
        self.spans: list[Span] = []
        self._stack: list[int] = []

    @contextlib.contextmanager
    def span(self, name: str, op: str | None = None):
        if not self.enabled:
            yield None
            return
        parent = self._stack[-1] if self._stack else None
        if op is None and parent is not None:
            op = self.spans[parent].op
        s = Span(name, time.perf_counter(), parent=parent, op=op)
        self.spans.append(s)
        self._stack.append(len(self.spans) - 1)
        try:
            yield s
        finally:
            s.end = time.perf_counter()
            self._stack.pop()

    def total(self, name: str) -> float:
        return sum(s.end - s.start for s in self.spans if s.name == name)


def plan_stats(plan: str) -> dict[str, int]:
    joins = _JOINS.findall(plan)
    return {
        "exchanges": len(_EXCHANGE.findall(plan)),
        "sort_merge_joins": joins.count("SortMergeJoin"),
        "broadcast_joins": joins.count("BroadcastHashJoin"),
        "python_nodes": len(_PYTHON.findall(plan)),
    }


def catalyst(df) -> tuple[dict[str, float], object]:
    """Force analysis, optimization and physical planning of ``df``; return
    the tracker's phase times (ms) plus the plan-shape counts, and the
    query execution. Hold the latter until the action has run: its plan's
    metric accumulators are weakly referenced, and collecting them early
    makes the scheduler log errors for tasks that still report to them."""
    qe = df._jdf.queryExecution()
    plan = qe.executedPlan().toString()
    phases = qe.tracker().phases()
    out: dict[str, float] = {}
    for phase in ("analysis", "optimization", "planning"):
        out[f"{phase}_ms"] = (
            float(phases.apply(phase).durationMs()) if phases.contains(phase) else 0.0
        )
    out.update(plan_stats(plan))
    return out, qe


def storage(spark) -> tuple[int, int]:
    """(persisted RDD count, memory + disk bytes) from the block manager."""
    infos = spark.sparkContext._jsc.sc().getRDDStorageInfo()
    return len(infos), sum(int(i.memSize()) + int(i.diskSize()) for i in infos)


def heap_live_mb(spark) -> float:
    """Driver JVM heap in use after full collections: what the live memo
    caches, plans and session state hold. The first collection's reading
    still includes objects that cleaners and finalizers release only once
    it has run, so collections repeat until the reading settles."""
    jvm = spark.sparkContext._jvm
    bean = jvm.java.lang.management.ManagementFactory.getMemoryMXBean()
    last = float("inf")
    for _ in range(5):
        jvm.java.lang.System.gc()
        used = bean.getHeapMemoryUsage().getUsed() / 2**20
        if abs(last - used) < 1.0:
            break
        last = used
        time.sleep(0.5)
    return used


EXEC_KEYS = (
    "jobs", "stages", "tasks", "executor_run_ms", "executor_cpu_ms", "gc_ms",
    "input_bytes", "output_bytes", "shuffle_read_bytes", "shuffle_write_bytes",
    "spill_bytes",
)


def read_event_logs(log_dir: str) -> dict[str, dict[str, int]]:
    """Per job group: jobs, stages and task counters summed over every
    event log in ``log_dir``. Jobs with no group are filed under ''."""
    groups: dict[str, dict[str, int]] = defaultdict(lambda: dict.fromkeys(EXEC_KEYS, 0))
    for path in sorted(glob.glob(os.path.join(log_dir, "*"))):
        if path.endswith(".inprogress") and os.path.exists(path[: -len(".inprogress")]):
            continue
        stage_group: dict[int, str] = {}
        seen_stages: set[tuple[int, int]] = set()
        with open(path) as f:
            for line in f:
                if not line.startswith('{"Event":"SparkListener'):
                    continue
                ev = json.loads(line)
                kind = ev["Event"]
                if kind == "SparkListenerJobStart":
                    group = (ev.get("Properties") or {}).get("spark.jobGroup.id") or ""
                    groups[group]["jobs"] += 1
                    for sid in ev.get("Stage IDs", []):
                        stage_group.setdefault(sid, group)
                elif kind == "SparkListenerTaskEnd":
                    group = stage_group.get(ev["Stage ID"], "")
                    g = groups[group]
                    key = (ev["Stage ID"], ev.get("Stage Attempt ID", 0))
                    if key not in seen_stages:
                        seen_stages.add(key)
                        g["stages"] += 1
                    g["tasks"] += 1
                    m = ev.get("Task Metrics") or {}
                    g["executor_run_ms"] += m.get("Executor Run Time", 0)
                    g["executor_cpu_ms"] += m.get("Executor CPU Time", 0) // 1_000_000
                    g["gc_ms"] += m.get("JVM GC Time", 0)
                    g["input_bytes"] += (m.get("Input Metrics") or {}).get("Bytes Read", 0)
                    g["output_bytes"] += (m.get("Output Metrics") or {}).get("Bytes Written", 0)
                    sr = m.get("Shuffle Read Metrics") or {}
                    g["shuffle_read_bytes"] += sr.get("Remote Bytes Read", 0) + sr.get(
                        "Local Bytes Read", 0
                    )
                    g["shuffle_write_bytes"] += (m.get("Shuffle Write Metrics") or {}).get(
                        "Shuffle Bytes Written", 0
                    )
                    g["spill_bytes"] += m.get("Memory Bytes Spilled", 0) + m.get(
                        "Disk Bytes Spilled", 0
                    )
    return dict(groups)


def sum_groups(groups: dict[str, dict[str, int]], names) -> dict[str, int]:
    out = dict.fromkeys(EXEC_KEYS, 0)
    for n in names:
        for k, v in groups.get(n, {}).items():
            out[k] += v
    return out
