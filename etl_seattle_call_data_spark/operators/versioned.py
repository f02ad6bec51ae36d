"""Versioned batch tables: snapshot isolation + time travel over plain
parquet directories — the Delta/Iceberg capability subset expressible
with files and one atomic manifest, no table-format dependency.

Layout::

    <path>/_versions.json      # the manifest (atomic os.replace publish)
    <path>/v-00000001-<hex>/   # immutable snapshot directories
    <path>/v-00000002-<hex>/

Every ``commit`` writes a NEW snapshot directory first, then publishes a
new manifest that appends one entry — data directories are immutable
once referenced, so a reader that loaded the manifest keeps a consistent
snapshot no matter how many commits land while it scans (the same
publish-then-swap discipline as streaming/sinks.py::KeyedUpsertSink,
table-granular instead of bucket-granular). A crash between data write
and manifest publish leaves only an orphan directory, which ``vacuum``
removes; the table is never unreadable (contrast
operators/maintenance.py, whose in-place rename swap needs ``heal``).

``rollback`` is non-destructive: it appends a new version whose data
pointer is the old version's directory — history is preserved and the
rollback itself is a visible, revertible event (Delta's RESTORE
semantics).

Scale notes: the manifest holds one entry per COMMIT (not per file and
not per row) and is read driver-side like any partition listing; data
moves only through executors' parquet IO. Snapshots share nothing —
for keyed-upsert workloads where per-commit deltas are small, use the
bucket-level manifest sink instead; this operator is for
repeatedly-republished aggregate/rollup tables where each version IS a
full rewrite and time travel across them must be cheap and exact.

Concurrency contract: SINGLE WRITER. The manifest publish is atomic but
last-wins — two concurrent committers would each append to their own
read of the log and one append would be lost (the orphaned data dir is
then vacuumable, so the table stays consistent, but that commit is
gone). Serialize writers externally (the same contract Delta has on
stores without atomic compare-and-swap). Readers need no coordination.
"""

from __future__ import annotations

import json
import os
import shutil
import uuid
from datetime import datetime, timezone

from pyspark.sql import DataFrame, SparkSession

KEEP_LAST = 2  # versions vacuum keeps reachable for time travel


class VersionedTable:
    def __init__(self, path: str):
        self.path = path
        os.makedirs(path, exist_ok=True)

    # -- manifest -----------------------------------------------------------

    @property
    def _manifest(self) -> str:
        return os.path.join(self.path, "_versions.json")

    def history(self) -> list[dict]:
        """Commit log, oldest first: version, dir, op, rows, committed_at."""
        if not os.path.exists(self._manifest):
            return []
        with open(self._manifest) as f:
            return json.load(f)["versions"]

    def _publish(self, versions: list[dict]) -> None:
        tmp = self._manifest + ".tmp"
        with open(tmp, "w") as f:
            json.dump({"versions": versions}, f)
        os.replace(tmp, self._manifest)  # atomic

    # -- write --------------------------------------------------------------

    def commit(self, df: DataFrame, op: str = "write") -> int:
        """Write ``df`` as the next version. Returns the version number."""
        history = self.history()
        version = (history[-1]["version"] + 1) if history else 1
        dirname = f"v-{version:08d}-{uuid.uuid4().hex[:8]}"
        target = os.path.join(self.path, dirname)
        df.write.mode("errorifexists").parquet(target)
        rows = df.sparkSession.read.parquet(target).count()
        history.append(
            {
                "version": version,
                "dir": dirname,
                "op": op,
                "rows": rows,
                "committed_at": datetime.now(timezone.utc).isoformat(),
            }
        )
        self._publish(history)
        return version

    def rollback(self, to_version: int) -> int:
        """Append a new version whose data is ``to_version``'s directory
        (non-destructive RESTORE). Returns the new version number."""
        history = self.history()
        src = next((v for v in history if v["version"] == to_version), None)
        if src is None:
            raise ValueError(f"version {to_version} not in history")
        version = history[-1]["version"] + 1
        history.append(
            {
                "version": version,
                "dir": src["dir"],
                "op": f"rollback:{to_version}",
                "rows": src["rows"],
                "committed_at": datetime.now(timezone.utc).isoformat(),
            }
        )
        self._publish(history)
        return version

    # -- read ---------------------------------------------------------------

    def read(self, spark: SparkSession, version: int | None = None) -> DataFrame:
        """Latest snapshot, or time-travel to an explicit ``version``."""
        history = self.history()
        if not history:
            raise ValueError(f"{self.path} has no committed versions")
        if version is None:
            entry = history[-1]
        else:
            entry = next((v for v in history if v["version"] == version), None)
            if entry is None:
                raise ValueError(f"version {version} not in history")
        return spark.read.parquet(os.path.join(self.path, entry["dir"]))

    # -- maintenance --------------------------------------------------------

    def vacuum(self) -> list[str]:
        """Drop snapshot directories not referenced by the last
        ``KEEP_LAST`` versions (rollback pointers keep their targets
        alive), plus orphans from crashed commits. Returns removed dir
        names. Time travel older than ``KEEP_LAST`` stops working —
        same contract as Delta VACUUM."""
        history = self.history()
        keep = {v["dir"] for v in history[-KEEP_LAST:]} if history else set()
        removed = []
        for name in sorted(os.listdir(self.path)):
            full = os.path.join(self.path, name)
            if name.startswith("v-") and os.path.isdir(full) and name not in keep:
                shutil.rmtree(full)
                removed.append(name)
        # compact history to the surviving tail so stale entries can't
        # resolve to deleted dirs
        if history:
            self._publish(history[-KEEP_LAST:])
        return removed
