"""Plan fingerprints: one hash per query of its optimized logical plan.

    python tools/plan_fingerprint.py --sf-dir DIR [query ...] > fp.json
    python tools/plan_fingerprint.py --sf-dir DIR --against old.json [query ...]

``PLAN_FINGERPRINTS.json`` at the repo root is the committed baseline
at sf0.001; roundcheck diffs against it. A change that alters a plan
regenerates it and names each changed query in CHANGES.md.

Builds each named query (default: the whole registry, in registry
order) after ``util.clear_caches(table_plans=False)``, so no memo held
by an earlier query leaks into the next one's plan, and hashes the
optimized logical plan's text once the run-to-run noise is stripped:

* expression ids (``doc_id#123L``);
* the numeric suffix PySpark gives a lambda variable (``lambda x_17``);
* RDD ids (``MapPartitionsRDD[42]``);
* ``plan_id=N``: a cached ``InMemoryRelation`` embeds its adaptive
  plan, whose ids change from run to run.

Two checkouts whose fingerprint for a query agree planned the same
query: a refactor that claims "plans unchanged" checks it by running
the tool in each and diffing. Without ``--against`` the JSON
``{query: sha}`` goes to stdout. ``--against FILE`` does the diff: it
prints one line per query that differs (or is missing on one side) to
stdout and exits 1 if any does. Progress goes to stderr.

The session is the engine's own (``session.get_spark``). Plan text
carries shuffle-partition and spread counts, so the tool sets
``SPARK_GRAFT_CPUS`` and ``SPARK_GRAFT_SHUFFLE_PARTITIONS`` to 4,
whatever the environment says: hosts of any core count fingerprint the
same plans. Building a query can fire
jobs (an eager checkpoint count, a convergence loop), so small scale
factors run fastest.
"""

from __future__ import annotations

import argparse
import hashlib
import json
import os
import re
import sys
import time

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

_NOISE = (
    (re.compile(r"#\d+L?"), "#"),
    (re.compile(r"\b(lambda \w+?)_\d+\b"), r"\1"),
    (re.compile(r"RDD\[\d+\]"), "RDD[]"),
    (re.compile(r"plan_id=\d+"), "plan_id="),
)


def normalize(plan: str) -> str:
    """``plan`` with the run-to-run noise listed in the module docstring
    stripped."""
    for pattern, repl in _NOISE:
        plan = pattern.sub(repl, plan)
    return plan


def fingerprint(df) -> str:
    """sha256 of ``df``'s normalized optimized logical plan."""
    plan = df._jdf.queryExecution().optimizedPlan().toString()
    return hashlib.sha256(normalize(plan).encode()).hexdigest()


def fingerprints(spark, sf_dir: str, names: list[str] | None = None) -> dict[str, str]:
    """``{query: sha}`` for ``names`` (default: the whole registry)."""
    from etl_seattle_call_data_spark.operators.util import clear_caches
    from etl_seattle_call_data_spark.plans.queries import REGISTRY

    order = [n for n in REGISTRY if names is None or n in names]
    unknown = sorted(set(names or ()) - set(order))
    if unknown:
        raise KeyError(f"not in the registry: {', '.join(unknown)}")
    out = {}
    t0 = time.perf_counter()
    for i, name in enumerate(order, 1):
        clear_caches(table_plans=False)
        out[name] = fingerprint(REGISTRY[name].spark(spark, sf_dir))
        if i % 25 == 0:
            print(f"[plan_fingerprint] {i}/{len(order)}, {time.perf_counter() - t0:.0f}s",
                  file=sys.stderr, flush=True)
    clear_caches(table_plans=False)
    return out


def diff(old: dict[str, str], new: dict[str, str]) -> list[str]:
    """One line per query whose fingerprint differs between ``old`` and
    ``new`` or that only one side has, sorted by name."""
    lines = []
    for name in sorted(set(old) | set(new)):
        if name not in old:
            lines.append(f"{name}: only in the new run")
        elif name not in new:
            lines.append(f"{name}: only in the old run")
        elif old[name] != new[name]:
            lines.append(f"{name}: {old[name][:12]} -> {new[name][:12]}")
    return lines


def main(argv=None) -> int:
    ap = argparse.ArgumentParser(description=__doc__.split("\n")[0])
    ap.add_argument("--sf-dir", required=True, help="directory of the parquet tables")
    ap.add_argument("--against", help="fingerprint JSON to diff this run against")
    ap.add_argument("queries", nargs="*", help="query names (default: all)")
    args = ap.parse_args(argv)
    os.environ.update(SPARK_GRAFT_CPUS="4", SPARK_GRAFT_SHUFFLE_PARTITIONS="4")
    from etl_seattle_call_data_spark.session import get_spark

    spark = get_spark(app_name="plan-fingerprint", extra_conf={"spark.ui.showConsoleProgress": "false"})
    spark.sparkContext.setLogLevel("ERROR")
    new = fingerprints(spark, args.sf_dir, args.queries or None)
    if not args.against:
        print(json.dumps(new, indent=1))
        return 0
    with open(args.against) as fh:
        old = json.load(fh)
    if args.queries:
        old = {k: v for k, v in old.items() if k in new}
    lines = diff(old, new)
    for line in lines:
        print(line)
    print(f"[plan_fingerprint] {len(lines)} of {len(new)} queries differ", file=sys.stderr)
    return 1 if lines else 0


if __name__ == "__main__":
    sys.exit(main())
