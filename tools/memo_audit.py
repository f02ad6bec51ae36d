"""Memo heap audit: which session memos pin driver heap, and through what.

    python tools/memo_audit.py --sf-dir DIR [--queries q1,q2,...] > audit.json

Runs the registry (default: every query; ``--queries`` takes a subset,
still in registry order) once in one session, building each query and
evaluating it in full with a ``noop`` write, with every ``util.memo``
key left held the way a long analyst session leaves them. Then, for
each key still held, newest first, it records

* ``broadcasts``: the broadcast exchanges in the key's cached physical
  plan (its output columns, rows and bytes). A persisted memo keeps its
  whole lineage alive, so every broadcast hash relation its plan built
  stays on the driver heap until the key is evicted;
* ``storage_bytes``: what the block manager reports for the cached
  data itself, the figure the benchmark's ``memo.storage_bytes`` sums;
* ``freed_mb``: live driver heap freed by unpersisting and forgetting
  the key (``perfbench.trace.heap_live_mb`` before and after, read
  once Spark's cleaner has released what the key held).

Keys are dropped newest first because a memo built from another memo
reads it through its cached relation: dropping the dependent first
charges each key only with what it alone holds. ``pinned_mb`` is the
heap with every key held minus the heap with none held.

The JSON goes to stdout; progress goes to stderr. The session uses the
benchmark's settings: ``local[N]`` on the cores this process may use,
N shuffle partitions and a 4g driver, unless the engine's
``SPARK_GRAFT_*`` variables already say otherwise.
"""

from __future__ import annotations

import argparse
import gc
import json
import os
import sys
import time

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

from perfbench.trace import heap_live_mb  # noqa: E402

# Physical nodes that wrap the plan they run rather than list it as a child.
_WRAPPERS = {
    "AdaptiveSparkPlanExec": "executedPlan",
    "BroadcastQueryStageExec": "plan",
    "ShuffleQueryStageExec": "plan",
    "ResultQueryStageExec": "plan",
    "TableCacheQueryStageExec": "plan",
}


def _log(msg: str) -> None:
    print(f"[memo_audit] {msg}", file=sys.stderr, flush=True)


def _metric(node, name: str) -> int | None:
    m = node.metrics().get(name)
    return int(m.get().value()) if m.isDefined() else None


def broadcasts(plan) -> list[dict]:
    """Broadcast exchanges in a physical plan, final adaptive stages
    included. A cached relation (``InMemoryTableScan``) that is still
    cached belongs to another held key and is not entered. One whose
    key has since been evicted is: its blocks are gone, but its plan
    lives on in this one, broadcasts and all."""
    out, stack, entered = [], [plan], set()
    while stack:
        node = stack.pop()
        cls = node.getClass().getSimpleName()
        if cls in _WRAPPERS:
            stack.append(getattr(node, _WRAPPERS[cls])())
            continue
        if cls == "InMemoryTableScanExec":
            rdd_cache = node.relation().cacheBuilder()
            cached = rdd_cache.cachedPlan()
            # enter an evicted relation once, however many scans read it
            if not rdd_cache.isCachedColumnBuffersLoaded() and cached.id() not in entered:
                entered.add(cached.id())
                stack.append(cached)
            continue
        if cls == "BroadcastExchangeExec":
            out.append({
                "output": node.output().mkString(", "),
                "rows": _metric(node, "numOutputRows"),
                "bytes": _metric(node, "dataSize"),
            })
        children = node.children()
        stack.extend(children.apply(i) for i in range(children.size()))
    return out


def _storage_bytes(spark) -> dict[int, int]:
    infos = spark.sparkContext._jsc.sc().getRDDStorageInfo()
    return {int(i.id()): int(i.memSize()) + int(i.diskSize()) for i in infos}


def _describe(spark, df, stored: dict[int, int]) -> dict:
    entry = spark._jsparkSession.sharedState().cacheManager().lookupCachedData(df._jdf)
    if entry.isEmpty():  # unpersisted under the key, or never cached
        return {"broadcasts": [], "storage_bytes": 0}
    rdd_cache = entry.get().cachedRepresentation().cacheBuilder()
    rdd_bytes = 0
    if rdd_cache.isCachedColumnBuffersLoaded():
        rdd_bytes = stored.get(int(rdd_cache.cachedColumnBuffers().id()), 0)
    return {"broadcasts": broadcasts(rdd_cache.cachedPlan()), "storage_bytes": rdd_bytes}


def _settled_heap_mb(spark) -> float:
    """``heap_live_mb`` once Spark's ContextCleaner has acted on what
    the first full collection released. A dropped broadcast leaves the
    block manager only then, and only the collection after that frees
    its hash relation; read at once, it is charged to a later key."""
    heap_live_mb(spark)
    time.sleep(2.0)
    return heap_live_mb(spark)


def audit(spark, sf_dir: str, names: list[str] | None = None) -> dict:
    """Run ``names`` (default: the whole registry) in registry order,
    then measure and drop every memo key still held; see the module
    docstring for the fields."""
    from etl_seattle_call_data_spark.operators import util
    from etl_seattle_call_data_spark.plans.queries import REGISTRY

    order = [n for n in REGISTRY if names is None or n in names]
    unknown = sorted(set(names or ()) - set(order))
    if unknown:
        raise KeyError(f"not in the registry: {', '.join(unknown)}")
    util.clear_caches(table_plans=False)
    failed: dict[str, str] = {}
    t0 = time.perf_counter()
    for i, name in enumerate(order, 1):
        try:
            REGISTRY[name].spark(spark, sf_dir).write.format("noop").mode("overwrite").save()
        except Exception as exc:  # a failing query is reported, not fatal
            failed[name] = repr(exc)[:300]
        if i % 25 == 0:
            _log(f"{i}/{len(order)} queries, {time.perf_counter() - t0:.0f}s")
    seconds = time.perf_counter() - t0
    gc.collect()
    held = heap = _settled_heap_mb(spark)
    stored = _storage_bytes(spark)
    keys = []
    for key in reversed(list(util._memos)):
        rec = {"key": key, **_describe(spark, util._memos[key][1], stored)}
        util._memos.pop(key)[1].unpersist(True)
        gc.collect()
        before, heap = heap, _settled_heap_mb(spark)
        rec["freed_mb"] = round(before - heap, 1)
        keys.append(rec)
    return {
        "sf_dir": sf_dir,
        "queries": len(order),
        "failed": failed,
        "seconds": round(seconds, 1),
        "heap_held_mb": round(held, 1),
        "heap_dropped_mb": round(heap, 1),
        "pinned_mb": round(held - heap, 1),
        "keys": keys,
    }


def main(argv=None) -> int:
    ap = argparse.ArgumentParser(description=__doc__.split("\n")[0])
    ap.add_argument("--sf-dir", required=True, help="directory of the parquet tables")
    ap.add_argument("--queries", help="comma-separated subset of the registry")
    args = ap.parse_args(argv)
    n = str(len(os.sched_getaffinity(0)))
    for var, value in (("SPARK_GRAFT_CPUS", n), ("SPARK_GRAFT_SHUFFLE_PARTITIONS", n),
                       ("SPARK_GRAFT_DRIVER_MEM", "4g")):
        os.environ.setdefault(var, value)
    from etl_seattle_call_data_spark.session import get_spark

    spark = get_spark(app_name="memo-audit", extra_conf={"spark.ui.showConsoleProgress": "false"})
    spark.sparkContext.setLogLevel("ERROR")
    names = args.queries.split(",") if args.queries else None
    print(json.dumps(audit(spark, args.sf_dir, names), indent=1))
    return 0


if __name__ == "__main__":
    sys.exit(main())
