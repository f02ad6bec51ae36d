"""The metrics of a run, and the units of every metric.

End-to-end metrics come from an untraced run's pass and operation times.
Each per-layer metric is read from the traced run's spans, per-operation
records and Spark's own records (event log counters per job group,
storage info, streaming progress). A layer a workload does not exercise
reports 0: the query layers (plans, catalyst, python) on ``ingest``, and
the write layers (etl, stream) on ``session_sf0.1``.
"""

from __future__ import annotations

import statistics

from perfbench.trace import EXEC_KEYS, Tracer, sum_groups

E2E_UNITS = {
    "setup_s": "s",
    "cold_pass_s": "s",
    "warm_pass_s": "s",
    "live_heap_mb": "MB",
}

UNITS = {
    "session.import_s": "s",
    "session.start_s": "s",
    "session.warmup_s": "s",
    "process.peak_rss_mb": "MB",
    "ops.warm_p50_s": "s",
    "plans.build_cold_s": "s",
    "plans.build_warm_s": "s",
    "plans.build_jobs": "count",
    "catalyst.analysis_ms": "ms",
    "catalyst.optimization_ms": "ms",
    "catalyst.planning_ms": "ms",
    "catalyst.exchanges": "count",
    "catalyst.sort_merge_joins": "count",
    "catalyst.broadcast_joins": "count",
    "catalyst.python_nodes": "count",
    "exec.s": "s",
    "exec.jobs": "count",
    "exec.stages": "count",
    "exec.tasks": "count",
    "exec.executor_run_ms": "ms",
    "exec.executor_cpu_ms": "ms",
    "exec.gc_ms": "ms",
    "exec.input_bytes": "B",
    "exec.shuffle_read_bytes": "B",
    "exec.shuffle_write_bytes": "B",
    "exec.spill_bytes": "B",
    "exec.core_busy_frac": "fraction",
    "memo.persisted_rdds": "count",
    "memo.storage_bytes": "B",
    "memo.heap_live_mb": "MB",
    "memo.new_rdds": "count",
    "memo.cold_minus_warm_s": "s",
    "python.queries": "count",
    "python.exec_s": "s",
    "etl.rows_per_s": "rows/s",
    "etl.jobs": "count",
    "etl.input_bytes": "B",
    "etl.output_bytes": "B",
    "etl.write_amp": "ratio",
    "etl.spill_bytes": "B",
    "etl.executor_run_ms": "ms",
    "stream.rows_per_s": "rows/s",
    "stream.epochs": "count",
    "stream.add_batch_ms_p50": "ms",
    "stream.latest_offset_ms_p50": "ms",
    "stream.query_planning_ms_p50": "ms",
    "stream.wal_commit_ms_p50": "ms",
    "stream.buckets_touched_per_epoch": "count",
    "stream.store_dirs": "count",
    "stream.store_bytes_per_row": "B",
    "stream.bytes_written_per_epoch": "B",
    "trace.probe_s": "s",
    "trace.uncovered_s": "s",
    "failed_frac": "fraction",
}


def percentile(values, q: float) -> float:
    """Linear-interpolation percentile (``q`` in 0..100) of a non-empty sample."""
    xs = sorted(values)
    if not xs:
        raise ValueError("percentile of an empty sample")
    pos = (len(xs) - 1) * q / 100.0
    lo = int(pos)
    hi = min(lo + 1, len(xs) - 1)
    return xs[lo] + (xs[hi] - xs[lo]) * (pos - lo)


def failed_frac(attempted: int, failed: int) -> float:
    if attempted < 1:
        raise ValueError("no operation was attempted")
    return failed / attempted


def end_to_end(setup: dict, out, heap_mb: float) -> dict[str, float]:
    """The end-to-end metrics of an untraced run; ``heap_mb`` is the
    driver heap in use after a full collection at the end of the run."""
    warm = [p for p in out.passes if p.kind == "warm"]
    return {
        "setup_s": setup["setup_s"],
        "cold_pass_s": out.passes[0].seconds,
        "warm_pass_s": statistics.median(p.seconds for p in warm),
        "live_heap_mb": heap_mb,
    }


def warm_op_p50(out) -> float:
    """Median time of one operation (query, or epoch's ``triggerExecution``)
    in the warm passes."""
    return percentile([o["seconds"] for p in out.passes if p.kind == "warm"
                       for o in p.ops if o["kind"] in ("query", "epoch")], 50)


def _median(xs, default=0.0) -> float:
    xs = list(xs)
    return float(statistics.median(xs)) if xs else default


def per_layer(setup: dict, out, tracer: Tracer, groups: dict, cores: int,
              rss_mb: float) -> dict[str, float]:
    m = dict.fromkeys(UNITS, 0.0)
    m["process.peak_rss_mb"] = rss_mb
    m["ops.warm_p50_s"] = warm_op_p50(out)
    m["session.import_s"] = setup["import_s"]
    m["session.start_s"] = setup["start_s"]
    m["session.warmup_s"] = setup["warmup_s"]
    m["failed_frac"] = failed_frac(out.attempted, out.failed)

    cold, warm = out.passes[0], [p for p in out.passes if p.kind == "warm"]
    queries = [o for o in cold.ops if o["kind"] == "query"]
    if queries:
        _query_layers(m, cold, warm, queries, groups, out.notes)
    m["memo.cold_minus_warm_s"] = cold.seconds - _median(p.seconds for p in warm)

    # execution: every job the cold pass's timed operations ran
    run = sum_groups(groups, [o.get("group", o["op"]) for o in cold.ops])
    for k in EXEC_KEYS:
        if f"exec.{k}" in m:
            m[f"exec.{k}"] = run[k]
    if queries:
        exec_s = sum(o["exec_s"] for o in queries)
    else:
        exec_s = sum(o["seconds"] for o in cold.ops if o["kind"] in ("etl", "stream"))
    m["exec.s"] = exec_s
    m["exec.core_busy_frac"] = run["executor_run_ms"] / 1000.0 / (exec_s * cores) if exec_s else 0.0

    etl = [o for p in out.passes for o in p.ops if o["kind"] == "etl"]
    if etl:
        _write_layers(m, cold, warm, etl, groups, out.notes)

    # the traced run's own probes; the full tracing overhead (event log,
    # listeners) is traced minus untraced pass time, which compare.py reports
    m["trace.probe_s"] = sum(tracer.total(n) for n in ("catalyst", "trace.storage"))
    layer_spans = {"plans.build", "catalyst", "exec", "trace.storage", "etl", "stream", "check"}
    m["trace.uncovered_s"] = tracer.total("pass") - _in_pass(tracer, layer_spans)
    return m


def _in_pass(tracer: Tracer, names: set[str]) -> float:
    """Seconds spent in spans named ``names`` that run inside a pass."""
    spans = tracer.spans

    def inside(s) -> bool:
        while s.parent is not None:
            s = spans[s.parent]
            if s.name == "pass":
                return True
        return False

    return sum(s.end - s.start for s in spans if s.name in names and inside(s))


def _query_layers(m, cold, warm, queries, groups, notes) -> None:
    m["plans.build_cold_s"] = sum(o["build_s"] for o in queries)
    m["plans.build_warm_s"] = _median(sum(o["build_s"] for o in p.ops) for p in warm)
    m["plans.build_jobs"] = sum_groups(groups, [o["op"] + ":build" for o in queries])["jobs"]
    warm_ops = [o for p in warm for o in p.ops if "analysis_ms" in o]
    for phase in ("analysis_ms", "optimization_ms", "planning_ms"):
        m[f"catalyst.{phase}"] = _median(o[phase] for o in warm_ops)
    for shape in ("exchanges", "sort_merge_joins", "broadcast_joins", "python_nodes"):
        m[f"catalyst.{shape}"] = sum(o.get(shape, 0) for o in queries)
    storage = notes.get("storage") or [{"rdds": 0, "bytes": 0, "heap_mb": 0.0}]
    m["memo.persisted_rdds"] = storage[0]["rdds"]
    m["memo.storage_bytes"] = storage[0]["bytes"]
    m["memo.heap_live_mb"] = storage[0]["heap_mb"]
    m["memo.new_rdds"] = sum(o.get("new_rdds", 0) for o in queries)
    py = {o["query"] for o in queries if o.get("python_nodes")}
    m["python.queries"] = len(py)
    m["python.exec_s"] = _median(
        sum(o["exec_s"] for o in p.ops if o["query"] in py) for p in warm
    )


def _write_layers(m, cold, warm, etl, groups, notes) -> None:
    m["etl.rows_per_s"] = _median(o["rows"] / o["seconds"] for o in etl if o["seconds"] > 0)
    cold_etl = next(o for o in cold.ops if o["kind"] == "etl")
    c = sum_groups(groups, [cold_etl["op"]])
    m["etl.jobs"] = c["jobs"]
    m["etl.input_bytes"] = c["input_bytes"]
    m["etl.output_bytes"] = c["output_bytes"]
    m["etl.write_amp"] = c["output_bytes"] / c["input_bytes"] if c["input_bytes"] else 0.0
    m["etl.spill_bytes"] = c["spill_bytes"]
    m["etl.executor_run_ms"] = c["executor_run_ms"]

    streams = [o for p in [cold, *warm] for o in p.ops if o["kind"] == "stream"]
    epochs = [o for p in [cold, *warm] for o in p.ops if o["kind"] == "epoch"]
    m["stream.rows_per_s"] = _median(o["rows"] / o["seconds"] for o in streams)
    m["stream.epochs"] = len(epochs)
    for key, name in (("addBatch", "add_batch"), ("latestOffset", "latest_offset"),
                      ("queryPlanning", "query_planning"), ("walCommit", "wal_commit")):
        m[f"stream.{name}_ms_p50"] = _median(o["durations_ms"].get(key, 0) for o in epochs)
    store = notes["store"]
    m["stream.store_dirs"] = store["live_dirs"]
    m["stream.buckets_touched_per_epoch"] = _median(b for b, _ in store["epochs"].values())
    m["stream.bytes_written_per_epoch"] = _median(s for _, s in store["epochs"].values())
    m["stream.store_bytes_per_row"] = store["live_bytes"] / max(1, notes["store_rows"])
