"""Keyed upsert sink — the engine's replacement for the reference's
Cassandra primary-key table (last-write-wins on ``cad_event_number``,
/root/reference/Real_Time_Streaming/consumer/consumer_cassandra.py:106-155
and :216-222).

Implementation: BUCKETED versioned parquet snapshots. Keys are hashed
into ``n_buckets`` fixed buckets; each ``foreachBatch`` epoch

1. buckets the incoming batch and finds which buckets it touches,
2. reads ONLY those buckets' current snapshots, unions the batch,
   keeps the newest row per key (``operators/cdc.py::upsert_snapshot``:
   newest by the ordering column, the batch row winning a tie),
3. writes the touched buckets to a fresh epoch directory
   (``epoch-<id>/__bucket=<b>/``), and
4. atomically publishes a manifest mapping every bucket to the epoch
   directory that currently holds it.

Untouched buckets are never rewritten — their files are byte-identical
across epochs and the manifest keeps pointing at the old directory. So
per-epoch write cost is O(touched-bucket size), not O(store size): with
hash bucketing a batch touching k keys rewrites at most min(k, n_buckets)
buckets ≈ (k/n_buckets)·store instead of the whole store.

Crash safety: writes always target a directory the current manifest does
NOT reference (a retried epoch whose previous attempt already published
picks an attempt-suffixed name), so Spark's lazy read of the prior
snapshot can never overlap the directory being overwritten, and a crash
between directory write and manifest publish leaves an orphan directory
that the retry simply overwrites. ``vacuum()`` removes unreferenced
epoch directories.

At warehouse scale swap this class for a Delta/Iceberg ``MERGE INTO``
sink (same interface; those jars aren't in this environment) — this
layout is the same idea (copy-on-write data files + atomic metadata
pointer) with a fixed bucket partitioning.
"""

from __future__ import annotations

import json
import os
import shutil

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from etl_seattle_call_data_spark.operators.cdc import upsert_snapshot


class KeyedUpsertSink:
    def __init__(self, path: str, key: str, order_col: str | None = None, n_buckets: int = 16):
        self.path = path
        self.key = key
        self.order_col = order_col
        self.n_buckets = n_buckets
        # per-epoch-dir schema cache: dirs are immutable once published
        self._dir_schema: dict[str, object] = {}
        os.makedirs(path, exist_ok=True)

    # -- manifest -----------------------------------------------------------

    @property
    def _manifest(self) -> str:
        return os.path.join(self.path, "_LATEST")

    def _read_manifest(self) -> dict[str, str]:
        """bucket id (str) → epoch dir name currently holding it."""
        if not os.path.exists(self._manifest):
            return {}
        with open(self._manifest) as f:
            raw = f.read()
        try:
            doc = json.loads(raw)
        except json.JSONDecodeError as exc:
            raise ValueError(
                f"{self._manifest} is not a JSON manifest (found {raw[:40]!r}): "
                "this store predates the bucketed-snapshot layout and has no "
                "automatic migration — re-materialize it through upsert_batch "
                "into a fresh path"
            ) from exc
        # A mismatched bucket count would make every pruned probe hash
        # keys into the WRONG buckets and silently miss stored matches
        # (the dedup gates would then forward duplicates) — fail loudly
        # instead: the store's layout is fixed at creation.
        stored_n = doc.get("n_buckets")
        if stored_n is not None and stored_n != self.n_buckets:
            raise ValueError(
                f"{self.path} was created with n_buckets={stored_n} but this "
                f"sink was constructed with n_buckets={self.n_buckets}; "
                "bucket-pruned reads would probe the wrong buckets. Reopen "
                "with the stored bucket count or re-materialize the store."
            )
        return doc.get("buckets", {})

    def _publish_manifest(self, buckets: dict[str, str]) -> None:
        tmp = self._manifest + ".tmp"
        with open(tmp, "w") as f:
            json.dump({"n_buckets": self.n_buckets, "buckets": buckets}, f)
        os.replace(tmp, self._manifest)  # atomic publish

    # -- read ---------------------------------------------------------------

    def _read_buckets(
        self, spark: SparkSession, buckets: dict[str, str]
    ) -> DataFrame | None:
        """Union of the requested buckets' snapshots, ONE plan leg per
        distinct epoch DIRECTORY, each leg listing ONLY its touched
        ``__bucket=N`` leaf paths. Two measured plan-build sinks die
        here: a per-leaf ``spark.read.parquet`` pays a sequential
        driver-side footer/schema pass per bucket (~5 s for 60), and a
        per-dir partition-discovery read lists every leaf under the dir
        (~0.7 s x dirs at 1024 buckets). Explicit leaf paths list only
        what the caller asked for, and the per-dir schema is cached on
        the sink — epoch dirs are immutable once the manifest publishes
        them (the crash-safety invariant), so the first inference holds
        for the dir's lifetime. Legs are bounded by retained epoch dirs
        (``compact()`` folds them back to one); schema may still evolve
        ACROSS dirs via the unionByName."""
        by_dir: dict[str, list[int]] = {}
        for b, epoch_dir in buckets.items():
            by_dir.setdefault(epoch_dir, []).append(int(b))
        frames = []
        for d, bs in by_dir.items():
            paths = [
                os.path.join(self.path, d, f"__bucket={b}") for b in sorted(bs)
            ]
            reader = spark.read
            cached = self._dir_schema.get(d)
            if cached is not None:
                reader = reader.schema(cached)
            frame = reader.parquet(*paths)
            if cached is None:
                self._dir_schema[d] = frame.schema
            frames.append(frame)
        if not frames:
            return None
        out = frames[0]
        for f in frames[1:]:
            out = out.unionByName(f, allowMissingColumns=True)
        return out

    def read(self, spark: SparkSession) -> DataFrame | None:
        buckets = self._read_manifest()
        if not buckets:
            return None
        return self._read_buckets(spark, buckets)

    def read_for_keys(self, keys_df: DataFrame) -> DataFrame | None:
        """Bucket-pruned store read for a keyed probe: only the buckets
        the given frame's ``self.key`` column hashes into are scanned.
        Any stored row whose key equals a probe key shares its hash,
        hence its bucket — so joining a gate's batch against THIS frame
        is exactly equivalent to joining against ``read()``, while the
        scan volume is (touched/n_buckets) x store instead of the whole
        store. This is the probe-side twin of ``upsert_batch``'s pruned
        merge read: with it, a micro-batch epoch is O(touched buckets)
        end to end, which is what keeps the epoch inside a fixed
        trigger interval as the store grows past the batch scale (size
        ``n_buckets`` so a typical batch touches a small fraction;
        tools/stream_bench.py measures the latency-vs-store-size curve).

        The touched-bucket discovery is a ``<= n_buckets``-row distinct
        collect of the probe frame's bucket ids — driver-side metadata,
        the same bounded class as ``upsert_batch``'s. Returns None when
        the store is empty or no probed bucket exists yet."""
        manifest = self._read_manifest()
        if not manifest:
            return None
        spark = keys_df.sparkSession
        touched = sorted(
            r[0]
            for r in keys_df.select(self._bucket_expr().alias("__b"))
            .distinct()
            .collect()
        )
        probed = {str(b): manifest[str(b)] for b in touched if str(b) in manifest}
        if not probed:
            return None
        return self._read_buckets(spark, probed)

    # -- write --------------------------------------------------------------

    def _bucket_expr(self):
        return F.pmod(F.xxhash64(F.col(self.key).cast("string")), F.lit(self.n_buckets)).cast(
            "int"
        )

    def _fresh_epoch_dir(self, epoch_id: int, manifest: dict[str, str]) -> str:
        """A directory name the live manifest does not reference — the
        retry-safety invariant: never overwrite a directory a reader of
        the current manifest could be lazily scanning."""
        referenced = set(manifest.values())
        name = f"epoch-{epoch_id:012d}"
        attempt = 0
        while name in referenced:
            attempt += 1
            name = f"epoch-{epoch_id:012d}-r{attempt}"
        return name

    def upsert_batch(self, batch_df: DataFrame, epoch_id: int) -> None:
        spark = batch_df.sparkSession
        manifest = self._read_manifest()
        batch = batch_df.withColumn("__epoch", F.lit(epoch_id).cast("long")).withColumn(
            "__bucket", self._bucket_expr()
        )
        # touched bucket ids: a ≤ n_buckets-row collect — driver-side
        # metadata, not data (same footprint as a partition listing)
        touched = sorted(r[0] for r in batch.select("__bucket").distinct().collect())
        if not touched:
            return
        # merge in the touched buckets' current snapshots via the shared
        # leaf-path read (one plan leg per owning dir, only touched
        # leaves listed, per-dir schema cached — see _read_buckets)
        probed = {str(b): manifest[str(b)] for b in touched if str(b) in manifest}
        existing = self._read_buckets(spark, probed) if probed else None
        if existing is not None:
            # __bucket is recomputed from the key (same hash, same value)
            existing = existing.withColumn("__bucket", self._bucket_expr())
        # newest row per key by order_col, a tie to the batch row: the
        # store holds one row per key and no stored row's epoch is newer
        # than this batch's, so that is "higher __epoch wins a tie", and
        # a replayed epoch id replaces its earlier attempt's rows
        latest = upsert_snapshot(existing, batch, self.key, self.order_col or "__epoch")
        epoch_dir = self._fresh_epoch_dir(epoch_id, manifest)
        # one distributed job writes all touched buckets, laid out per
        # bucket so reads and future epochs address buckets individually.
        # Shuffle to the bucket key first: without it every one of the
        # window's shuffle partitions holds rows of MANY buckets and
        # partitionBy fans out partitions x buckets small files (measured
        # 32 x 60 at bench scale); bucket-aligned tasks write one file
        # per bucket, which the pruned reads then scan back cheaply.
        latest.repartition(F.col("__bucket")).write.mode("overwrite").partitionBy(
            "__bucket"
        ).parquet(os.path.join(self.path, epoch_dir))
        new_manifest = dict(manifest)
        for b in touched:
            new_manifest[str(b)] = epoch_dir
        self._publish_manifest(new_manifest)

    def vacuum(self) -> list[str]:
        """Delete epoch directories no manifest bucket references.
        Call when no reader holds a pre-publish manifest (e.g. between
        streaming runs)."""
        referenced = set(self._read_manifest().values())
        removed = []
        for name in os.listdir(self.path):
            if name.startswith("epoch-") and name not in referenced:
                shutil.rmtree(os.path.join(self.path, name))
                self._dir_schema.pop(name, None)
                removed.append(name)
        return removed

    def compact(self, spark: SparkSession) -> str | None:
        """Rewrite every live bucket into ONE fresh epoch directory and
        vacuum the rest — the OPTIMIZE/compaction step of the
        copy-on-write layout. Each upsert epoch strands its touched
        buckets in a new directory, so read plan legs (and driver-side
        listing) grow linearly with epochs since the last full rewrite;
        compaction folds them back to one leg. Same reader caveat as
        vacuum: call between streaming runs / epochs, when no reader
        holds a pre-publish manifest. Returns the new directory name,
        or None on an empty store. Cost is one full store rewrite —
        amortize it (tools/stream_bench.py --compact-every N)."""
        manifest = self._read_manifest()
        if not manifest:
            return None
        if len(set(manifest.values())) == 1:
            return next(iter(manifest.values()))  # already compact
        full = self._read_buckets(spark, manifest)
        epoch_ids = [
            int(d.split("-")[1]) for d in set(manifest.values())
        ]
        new_dir = self._fresh_epoch_dir(max(epoch_ids) + 1, manifest)
        full.withColumn("__bucket", self._bucket_expr()).repartition(
            F.col("__bucket")
        ).write.mode("overwrite").partitionBy("__bucket").parquet(
            os.path.join(self.path, new_dir)
        )
        self._publish_manifest({b: new_dir for b in manifest})
        self.vacuum()
        return new_dir

    def foreach_batch(self):
        """Adapter for ``writeStream.foreachBatch``. Deliberately does NOT
        count()/show() per epoch (the reference does, forcing extra jobs
        per micro-batch — SURVEY §4.3); observe via StreamingQueryListener
        or ``query.lastProgress`` instead."""

        def fn(batch_df: DataFrame, epoch_id: int) -> None:
            self.upsert_batch(batch_df, epoch_id)

        return fn
