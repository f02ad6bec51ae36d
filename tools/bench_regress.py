"""Bench diff: compare BENCH_DETAIL.json per-query times against a
previous BENCH_DETAIL-shaped table and flag regressions.

Usage: python tools/bench_regress.py old.json [--threshold 1.5]
                                     [--grace 0.5] [--new detail.json]

A query regresses when new > threshold * old * host + grace, where
``host`` is the MEDIAN new/old ratio across all common queries: bench
baselines are burned on whatever VM the previous session ran on, and a
different host generation shifts every query by a uniform factor
(observed: a clean 1.45x across 159 untouched queries between two
round-4 sessions). Normalizing by the fleet median keeps the gate
sensitive to genuine per-query regressions while ignoring uniform
hardware drift; the median itself is printed so drift stays visible.
Pass --no-host-norm to compare raw times (same-session diffs)."""

from __future__ import annotations

import argparse
import json
import sys


def load_queries(path: str) -> tuple[dict[str, float], float | None]:
    with open(path) as f:
        doc = json.load(f)
    if not isinstance(doc.get("queries"), dict):
        raise SystemExit(f"{path}: no queries dict found")
    return doc["queries"], doc.get("sf")


def main() -> int:
    ap = argparse.ArgumentParser(description=__doc__)
    ap.add_argument("old", help="the baseline BENCH_DETAIL.json")
    ap.add_argument("--threshold", type=float, default=1.5,
                    help="multiplicative regression bar (default 1.5x)")
    ap.add_argument("--grace", type=float, default=0.0,
                    help="additive seconds of timer-noise allowance")
    ap.add_argument("--new", dest="new_path", default="BENCH_DETAIL.json")
    ap.add_argument("--no-host-norm", action="store_true",
                    help="skip median host-speed normalization")
    ns = ap.parse_args()
    thr, grace, old_path = ns.threshold, ns.grace, ns.old
    old, old_sf = load_queries(old_path)
    new, new_sf = load_queries(ns.new_path)
    if old_sf is not None and new_sf is not None and old_sf != new_sf:
        # a verify-time sf0.001 run once polluted the committed baseline —
        # cross-SF time comparisons are meaningless, so refuse loudly
        raise SystemExit(
            f"SF mismatch: {old_path} is sf={old_sf}, {ns.new_path} is "
            f"sf={new_sf}; re-run bench.py at the matching SF"
        )
    common = sorted(set(old) & set(new))
    import math
    import statistics
    host = 1.0
    if common and not ns.no_host_norm:
        host = statistics.median(new[n] / old[n] for n in common)
        if not (0.7 <= host <= 1.6):
            # a fleet-wide real slowdown (global config / session change)
            # is indistinguishable from hardware drift once normalized out —
            # flag it loudly instead of silently absorbing it
            print(
                f"WARNING: host-speed median {host:.3f} is outside the "
                "plausible drift band [0.7, 1.6]; a fleet-wide code "
                "regression would be normalized away. Re-run with "
                "--no-host-norm to inspect raw ratios.",
                file=sys.stderr,
            )
    regressed = [
        (n, old[n], new[n])
        for n in common
        if new[n] > thr * old[n] * host + grace
    ]
    improved = [
        (n, old[n], new[n]) for n in common if new[n] < old[n] * host / thr
    ]
    gm = math.exp(sum(math.log(new[n] / old[n]) for n in common) / len(common)) if common else 1.0
    print(
        f"compared {len(common)} queries vs {old_path}; geomean ratio {gm:.3f}"
        f" (host-speed median {host:.3f} normalized out)"
    )
    for n, o, w in sorted(regressed, key=lambda t: -(t[2] / t[1])):
        print(f"  REGRESSED {n}: {o:.3f}s -> {w:.3f}s ({w / o:.2f}x raw, {w / o / host:.2f}x host-normalized)")
    for n, o, w in sorted(improved, key=lambda t: t[2] / t[1])[:5]:
        print(f"  improved  {n}: {o:.3f}s -> {w:.3f}s ({w / o:.2f}x raw)")
    return 1 if regressed else 0


if __name__ == "__main__":
    sys.exit(main())
