"""Table maintenance: small-file compaction.

Streaming sinks and fine-grained partitioned writes accumulate many
small files; at scale the file-listing and per-file open costs dominate
scans long before data volume does (the classic "millions of 1 MB
files" failure). Compaction rewrites a parquet directory into files of
roughly ``target_file_bytes`` each.

The rewrite is a read → repartition(n) → write of the same data — fully
distributed, no driver data movement; only file SIZES are consulted
driver-side (metadata, same class as a partition listing). Publication
is write-new-then-swap: readers mid-scan of the old directory are the
caller's concern (run in a maintenance window, or point readers through
a manifest like streaming/sinks.py does).
"""

from __future__ import annotations

import os
import shutil

from pyspark.sql import SparkSession

from etl_seattle_call_data_spark.operators.util import clear_caches


def _remove(path: str) -> None:
    """Delete a table path: a parquet directory or a single-file table."""
    if os.path.isdir(path):
        shutil.rmtree(path)
    else:
        os.remove(path)


def heal(path: str) -> None:
    """Recover ``path`` from a rewrite killed mid-publish. The swap is
    two renames (``path``→``path__old``, ``tmp``→``path``) plus a
    cleanup; a kill can leave (a) ``__old`` present with ``path``
    missing (died between the renames — restore the original) or (b)
    ``__old`` beside a live ``path`` (died after the swap, before
    cleanup — the rewrite SUCCEEDED, drop the leftover). Called at the
    top of every maintenance rewrite so a retry after a crash sees a
    readable table again — the swap itself also heals, but that runs
    only after the input read, which needs ``path`` to exist."""
    old = path.rstrip("/") + "__old"
    if os.path.exists(old):
        if os.path.exists(path):
            _remove(old)  # prior run crashed after swap, before cleanup
        else:
            os.rename(old, path)  # prior run crashed mid-swap: restore


def _heal_and_swap(spark: SparkSession, path: str, tmp: str) -> None:
    """Publish ``tmp`` as ``path`` via rename-swap (healing leftovers of
    a previous crashed swap first). Finishes by invalidating everything
    that assumed the old files: ``refreshByPath`` drops Spark's cached
    file listings/data, and ``clear_caches`` drops the session memos and
    table plans built over them (in-place rewrites otherwise serve stale
    cached scans or fail reading deleted files)."""
    heal(path)
    old = path.rstrip("/") + "__old"
    os.rename(path, old)
    os.rename(tmp, path)
    _remove(old)
    spark.catalog.refreshByPath(path)
    clear_caches()


def compact_parquet(
    spark: SparkSession,
    path: str,
    target_file_bytes: int = 128 << 20,
) -> int:
    """Compact the parquet directory at ``path`` to ceil(total_bytes /
    target_file_bytes) files. Returns the new file count."""
    heal(path)
    df = spark.read.parquet(path)
    files = [f[len("file:"):] if f.startswith("file:") else f for f in df.inputFiles()]
    total = sum(os.path.getsize(f) for f in files if os.path.exists(f))
    n = max(1, (total + target_file_bytes - 1) // target_file_bytes)
    tmp = path.rstrip("/") + "__compacting"
    df.repartition(n).write.mode("overwrite").parquet(tmp)
    _heal_and_swap(spark, path, tmp)
    return len(
        [f for f in os.listdir(path) if f.endswith(".parquet") or f.startswith("part-")]
    )


def cluster_parquet(
    spark: SparkSession,
    path: str,
    cluster_by: list[str],
    n_files: int | None = None,
) -> int:
    """Rewrite a parquet directory range-partitioned + sorted on
    ``cluster_by`` — the linear-clustering analog of CLUSTER BY /
    OPTIMIZE ... ZORDER for the single-key case.

    Why it matters at scale: parquet stores per-row-group min/max stats,
    and a scan with a predicate on ``cluster_by`` skips every row group
    whose [min, max] misses the predicate. On randomly-laid-out data
    every row group straddles the whole key range (nothing skips); after
    clustering each file/row-group covers a narrow disjoint slice, so a
    point/range query reads O(selectivity) bytes instead of O(table).

    repartitionByRange samples the key to build balanced range bounds
    (one pass + one shuffle, fully distributed); sortWithinPartitions is
    a per-partition local sort with no extra shuffle. Returns the new
    file count."""
    heal(path)
    df = spark.read.parquet(path)
    if n_files is None:
        n_files = max(1, df.rdd.getNumPartitions())
    clustered = df.repartitionByRange(n_files, *cluster_by).sortWithinPartitions(*cluster_by)
    tmp = path.rstrip("/") + "__clustering"
    clustered.write.mode("overwrite").parquet(tmp)
    _heal_and_swap(spark, path, tmp)
    return len([f for f in os.listdir(path) if f.startswith("part-")])


def _zvalue(bucket_cols: list, bits: int) -> "F.Column":  # noqa: F821
    """Bit-interleaved Z-value of pre-bucketed int columns (bucket ids in
    [0, 2^bits)): column j contributes its i-th bit at interleaved
    position i·ncols + j. Pure shift/mask Catalyst expressions — stays in
    whole-stage codegen."""
    from pyspark.sql import functions as F

    ncols = len(bucket_cols)
    z = F.lit(0).cast("long")
    for j, c in enumerate(bucket_cols):
        for i in range(bits):
            bit = F.shiftright(c.cast("long"), i).bitwiseAND(F.lit(1))
            z = z + F.shiftleft(bit, i * ncols + j)
    return z


def zorder_cluster(
    spark: SparkSession,
    path: str,
    cluster_by: list[str],
    n_files: int | None = None,
    bits: int = 6,
) -> int:
    """Rewrite a parquet directory Z-ORDERED on several columns — the
    multi-column analog of ``cluster_parquet``: linear clustering makes
    row-group min/max stats tight for ONE key; interleaving the quantile
    buckets of k keys keeps every key's per-file range narrow at once,
    so predicates on ANY clustered column skip most row groups.

    Bucketing uses approxQuantile boundaries collected driver-side — a
    (2^bits − 1)-value codebook per column, same legitimate-tiny-collect
    class as the IVF centroids; rows then bucket via a broadcast-literal
    boundary array (O(2^bits) comparisons per row, JVM-side). The
    rewrite itself is one repartitionByRange on the z-value plus a local
    sort — fully distributed, no driver data movement.
    """
    from pyspark.sql import functions as F

    heal(path)
    df = spark.read.parquet(path)
    if n_files is None:
        n_files = max(1, spark.sparkContext.defaultParallelism)
    nb = (1 << bits) - 1
    qs = [i / (nb + 1) for i in range(1, nb + 1)]
    bucket_cols = []
    for col in cluster_by:
        bounds = df.stat.approxQuantile(col, qs, 0.01)
        arr = F.lit([float(b) for b in bounds]).cast("array<double>")
        bucket_cols.append(
            F.aggregate(
                arr,
                F.lit(0).cast("long"),
                lambda acc, b: acc
                + F.when(F.col(col).cast("double") >= b, 1).otherwise(0),
            )
        )
    zed = df.withColumn("__z", _zvalue(bucket_cols, bits))
    clustered = (
        zed.repartitionByRange(n_files, "__z")
        .sortWithinPartitions("__z")
        .drop("__z")
    )
    tmp = path.rstrip("/") + "__zordering"
    clustered.write.mode("overwrite").parquet(tmp)
    _heal_and_swap(spark, path, tmp)
    return len([f for f in os.listdir(path) if f.startswith("part-")])
