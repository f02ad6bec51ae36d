"""Compare two sets of run records from ``.perfbench/results/``.

    python3 perfbench/compare.py BASE_DIR_OR_FILES... -- NEW_DIR_OR_FILES...

Prints, per workload and metric, each side's median and quartiles and the
change of the median, and each side's tracing overhead: the median traced
minus the median untraced cold and warm pass time. Records from different
hosts or run settings are not
comparable: if any record's host fingerprint differs from the others', the
tool names the difference and exits 3 without comparing.
"""

from __future__ import annotations

import glob
import json
import os
import statistics
import sys

# what must match for two runs to be comparable
FINGERPRINT = ("nproc", "mem_gb", "python", "spark", "java", "master", "driver_memory")


def load(paths: list[str]) -> list[dict]:
    files = []
    for p in paths:
        files += sorted(glob.glob(os.path.join(p, "*.json"))) if os.path.isdir(p) else [p]
    records = []
    for f in files:
        with open(f) as fh:
            records.append(json.load(fh))
    return records


def quartiles(xs: list[float]) -> tuple[float, float, float]:
    if len(xs) < 2:
        return xs[0], xs[0], xs[0]
    q = statistics.quantiles(xs, n=4)
    return q[0], statistics.median(xs), q[2]


def pass_times(record: dict) -> tuple[float, float]:
    """(cold pass seconds, median warm pass seconds) of one run record."""
    passes = record["passes"]
    return passes[0]["seconds"], statistics.median(p["seconds"] for p in passes[1:])


def tracing_overhead(records: list[dict]) -> dict[str, tuple[float, float]]:
    """Per workload with both kinds of run: median traced minus median
    untraced (cold, warm) pass seconds."""
    out = {}
    for wl in sorted({r["workload"] for r in records}):
        kinds = [[pass_times(r) for r in records if r["workload"] == wl and r["trace"] == t]
                 for t in (False, True)]
        if all(kinds):
            untraced, traced = ([statistics.median(x[i] for x in k) for i in (0, 1)] for k in kinds)
            out[wl] = (traced[0] - untraced[0], traced[1] - untraced[1])
    return out


def main(argv: list[str]) -> int:
    if "--" not in argv:
        print(__doc__, file=sys.stderr)
        return 2
    cut = argv.index("--")
    base, new = load(argv[:cut]), load(argv[cut + 1:])
    if not base or not new:
        print("no records on one side", file=sys.stderr)
        return 2
    ref = {k: base[0]["host"].get(k) for k in FINGERPRINT}
    for r in base + new:
        diff = {k: (ref[k], r["host"].get(k)) for k in FINGERPRINT if r["host"].get(k) != ref[k]}
        if diff:
            print(f"refusing to compare: host or settings differ {diff}", file=sys.stderr)
            return 3
    for wl in sorted({r["workload"] for r in base + new}):
        for trace in (False, True):
            b = [r for r in base if r["workload"] == wl and r["trace"] == trace]
            n = [r for r in new if r["workload"] == wl and r["trace"] == trace]
            if not b or not n:
                continue
            print(f"{wl} ({'per-layer' if trace else 'end-to-end'}; {len(b)} vs {len(n)} runs)")
            shared = set.intersection(*(set(r["metrics"]) for r in b + n))
            for m in (m for m in b[0]["metrics"] if m in shared):
                qb = quartiles([r["metrics"][m] for r in b])
                qn = quartiles([r["metrics"][m] for r in n])
                change = (qn[1] - qb[1]) / qb[1] if qb[1] else float("nan")
                print(f"  {m:34s} {qb[1]:14.4f} [{qb[0]:.4f}, {qb[2]:.4f}]"
                      f" -> {qn[1]:14.4f} [{qn[0]:.4f}, {qn[2]:.4f}] {change:+.1%}")
    for side, records in (("base", base), ("new", new)):
        for wl, (cold, warm) in tracing_overhead(records).items():
            print(f"{side} {wl}: tracing overhead cold {cold:+.3f} s, warm {warm:+.3f} s")
    return 0


if __name__ == "__main__":
    sys.exit(main(sys.argv[1:]))
