#!/usr/bin/env bash
# One-command round gate: full oracle sweep (the driver's correctness
# contract), full test suite, bench contract (single parseable stdout
# line), and plan-marker audit. Run before ending any round.
set -uo pipefail
cd "$(dirname "$0")/.."
fail=0

echo "=== 1/4 full oracle sweep (sf0.01) ==="
python tools/verify_oracle.py 2>&1 | tail -3 || fail=1

echo "=== 1b/4 full oracle sweep (sf0.001 — emptiness bugs are SF-dependent) ==="
SPARK_GRAFT_SF_DIR=/root/testdata/sf0.001 python tools/verify_oracle.py 2>&1 | tail -2 || fail=1

echo "=== 1c/4 full oracle sweep (near-degenerate SF — ANSI div-by-zero edges) ==="
# 31 queries once shipped crashing on 1-row/constant/empty groups
# (CROSS_ENGINE rules 40/41); this leg gates the invariant. The dataset
# is generated once per workstation (gitignored) — build it on demand.
if [ ! -d .scaledata/sfdegen ]; then
  echo "(generating .scaledata/sfdegen via tools/make_degenerate_sf.py)"
  python tools/make_degenerate_sf.py || fail=1
fi
SPARK_GRAFT_SF_DIR=.scaledata/sfdegen python tools/verify_oracle.py 2>&1 | tail -2 || fail=1

if [ "${SPARK_GRAFT_FULL_SWEEP:-0}" = "1" ]; then
  echo "=== 1d/4 full oracle sweep (sf0.1 — above-gate scale; ~12 min) ==="
  SPARK_GRAFT_SF_DIR=/root/testdata/sf0.1 python tools/verify_oracle.py 2>&1 | tail -2 || fail=1
fi

echo "=== 2/4 pytest ==="
python -m pytest tests/ -q 2>&1 | tail -2 || fail=1

echo "=== 2b/4 perfbench tests (the benchmark imports engine internals) ==="
python -m pytest perfbench/tests -q 2>&1 | tail -2 || fail=1

echo "=== 3/4 bench contract ==="
lines=$(python bench.py 2>/dev/null | tee /tmp/bench_out.txt | wc -l)
if [ "$lines" != "1" ]; then echo "FAIL: bench stdout is $lines lines, want 1"; fail=1; fi
python - <<'PY' || fail=1
import json
d = json.load(open("/tmp/bench_out.txt"))
assert len(open("/tmp/bench_out.txt").read()) < 1900, "bench line too long for driver tail"
print(f"bench OK: {d['n']} queries, {d['value']}s at sf={d['sf']}")
PY

echo "=== 3b/4 bench regression gate (vs last committed BENCH_DETAIL) ==="
drift_verdict="host-drift: n/a (no committed baseline)"
prev_commit=$(git rev-list -1 HEAD -- BENCH_DETAIL.json)
if [ -n "$prev_commit" ]; then
  git show "$prev_commit":BENCH_DETAIL.json > /tmp/bench_prev.json
  # regression = >1.3x the committed time AND >0.5s absolute drift
  python tools/bench_regress.py /tmp/bench_prev.json --threshold 1.3 --grace 0.5 \
    >/tmp/bench_regress_out.txt 2>&1 || fail=1
  cat /tmp/bench_regress_out.txt
  # surface the host-drift band verdict in the final summary so a
  # fleet-wide real slowdown can't hide inside the median normalization
  hostmed=$(grep -oE 'host-speed median [0-9.]+' /tmp/bench_regress_out.txt | head -1 | grep -oE '[0-9.]+')
  if grep -q "WARNING: host-speed median" /tmp/bench_regress_out.txt; then
    drift_verdict="host-drift: OUTSIDE band [0.7,1.6] (median ${hostmed:-?}) — inspect with --no-host-norm"
  else
    drift_verdict="host-drift: within band (median ${hostmed:-?})"
  fi
else
  echo "no committed BENCH_DETAIL.json yet; skipping"
fi

echo "=== 4/5 plan markers ==="
python tools/plan_dump.py >/dev/null 2>&1 && echo "plans OK" || { echo "FAIL: unexpected plan markers"; fail=1; }

echo "=== 4b/5 plan fingerprints (vs committed PLAN_FINGERPRINTS.json) ==="
# a plan change regenerates the file and names each changed query in CHANGES.md
python tools/plan_fingerprint.py --sf-dir /root/testdata/sf0.001 --against PLAN_FINGERPRINTS.json \
  2>/tmp/plan_fp_err.txt || { echo "FAIL: plan fingerprints differ"; fail=1; }
tail -1 /tmp/plan_fp_err.txt

echo "=== 5/5 registry doc drift ==="
python - <<'PY' || fail=1
import re
from etl_seattle_call_data_spark.plans.queries import REGISTRY

n = len(REGISTRY)
readme = open("README.md").read()
m = re.search(r"Currently (\d+)\s*\nqueries, ALL (\d+) oracle-paired", readme)
assert m, "README.md no longer states the registry count"
assert int(m.group(1)) == n and int(m.group(2)) == n, (
    f"README says {m.group(1)}/{m.group(2)} queries but the live registry has {n} — "
    "update README.md (and SURVEY.md §2.9) before ending the round"
)
# docs/CATALOG.md must list exactly the live registry (same drift gate
# as the README count; regenerate with `python tools/catalog_dump.py`)
cat_names = set(
    line.split("|")[1].strip()
    for line in open("docs/CATALOG.md")
    if line.startswith("| ") and not line.startswith("| query ")
)
missing = sorted(set(REGISTRY) - cat_names)
stale = sorted(cat_names - set(REGISTRY))
assert not missing and not stale, (
    f"docs/CATALOG.md drift — missing: {missing[:5]} stale: {stale[:5]} — "
    "regenerate with `python tools/catalog_dump.py`"
)
# the second-decade growth column must cover exactly the committed
# subset artifact's queries (catalog and artifacts can't drift)
import json
subset = set(json.load(open("BENCH_SUBSET_sf10.json"))["queries"])
g2_cells = {
    line.split("|")[1].strip(): line.split("|")[8].strip()
    for line in open("docs/CATALOG.md")
    if line.startswith("| ") and not line.startswith("| query ")
}
no_g2 = sorted(q for q in subset if g2_cells.get(q, "—") == "—")
extra_g2 = sorted(q for q, v in g2_cells.items() if v != "—" and q not in subset)
assert not no_g2 and not extra_g2, (
    f"CATALOG growth/R² drift vs BENCH_SUBSET_sf10.json — missing: {no_g2[:5]} "
    f"extra: {extra_g2[:5]} — regenerate with `python tools/catalog_dump.py`"
)
print(f"doc counts OK: {n} queries (README + CATALOG in sync; "
      f"{len(subset)} decade-2 growth cells match the subset artifact)")
PY

[ "$fail" = 0 ] && echo "ROUNDCHECK GREEN ($drift_verdict)" \
                || echo "ROUNDCHECK FAILED ($drift_verdict)"
exit $fail
