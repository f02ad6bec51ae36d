"""Shared operator utilities."""

from __future__ import annotations

from collections.abc import Callable

from pyspark.sql import DataFrame


def spread(df: DataFrame) -> DataFrame:
    """Small-input guard before CPU-heavy per-row ops (tokenize/explode,
    pair-join dot products): a table that arrives in a handful of parquet
    splits would otherwise run on a handful of tasks (observed: 1 task
    for a single-file table, serializing the whole stage). At real scale
    the scan has natural parallelism and this is a no-op."""
    target = df.sparkSession.sparkContext.defaultParallelism
    try:
        # file count is a plan-side metadata probe; df.rdd.getNumPartitions()
        # would build (and translate) the whole RDD plan per invocation
        n_input = len(df.inputFiles())
    except Exception:
        return df.repartition(target)
    if 0 < n_input < target:
        return df.repartition(target)
    return df


def checkpoint(df: DataFrame) -> DataFrame:
    """The one within-plan barrier: ``df``'s subtree is evaluated once,
    by the first action that reaches it, and every consumer reads the
    stored partitions. Catalyst does not dedupe common subtrees, so a
    frame consumed by 2+ plan branches (a union of two projections, a
    count + a join, a self-join's two arms, a driver collect + a join
    probe) otherwise re-evaluates its upstream once per branch; chained
    over iterations the checkpoint also truncates lineage, keeping the
    composed plan constant-depth.

    What "lazy" does not cover: under AQE, creating the checkpoint's
    RDD over a subtree that contains an exchange runs the upstream
    shuffle stages then and there, so such a barrier fires Spark jobs
    while the query is still being built, jobs ``explain()`` never
    shows. Built in registry order at sf0.01 with memos kept, 22
    queries fire 131 jobs while building (these barriers, convergence
    loops and bounded driver scalars); ``hits_hubs_authorities`` fired
    11 before its barrier went. Place one only where its input has two
    consumers and the A/B shows it pays.

    Why a lazy ``localCheckpoint`` and not ``persist``: chained persists
    form cache-on-cache CacheManager entries, and Spark 4.1's lazy AQE
    TableCacheQueryStage materialization can rebuild a dependent entry
    on an AQE thread with no active session — an NPE first observed at
    sf1 (``CacheManager.tryRebuildCacheEntry``). A checkpoint is a plain
    RDD scan, never a cache entry.

    How the blocks are freed: not by ``unpersist()`` (a no-op on a
    checkpoint) nor by ``spark.catalog.clearCache()`` — by Spark's
    ContextCleaner once the driver garbage-collects the last frame
    referencing the RDD. Callers just drop their references; long
    sessions rely on timely Python GC (bench.py's periodic
    ``gc.collect()``).

    Blocks live only in executor storage (not replicated): losing an
    executor loses them, and the next action fails with
    ``CHECKPOINT_RDD_BLOCK_ID_NOT_FOUND``."""
    return df.localCheckpoint(eager=False)


_memos: dict[str, tuple[object, DataFrame]] = {}


def memo(key: str, build: Callable[[], DataFrame], token: object = None) -> DataFrame:
    """The one cross-query session memo: returns ``build()`` persisted
    (MEMORY_AND_DISK) and held under ``key`` until a different plan
    replaces it, so a re-run query or two operators sharing a
    sub-pipeline (the dedup shingle set) hit warm storage instead of
    re-tokenizing/re-joining the corpus.

    * ``token`` given (an explicit fingerprint of every ``build`` input —
      path, params): a held frame with an equal token is returned
      without calling ``build``. Use it where plan construction itself
      is the cost (SimHash's 60-aggregate plan costs ~2s to build and
      canonicalize).
    * otherwise ``build()`` runs and the held frame is reused when the
      new plan ``sameSemantics`` it (same logical plan modulo cosmetics).

    On a miss the previous holder of ``key`` is unpersisted, so a
    long-lived session keeps one generation per key rather than one dead
    copy per invocation. Reuse rests on source files being immutable
    within a session; the maintenance rewrites call ``clear_caches()``.

    What a held frame costs: not just its cached rows. The cache entry
    keeps the frame's whole physical plan, its lineage, until the key is
    evicted, and with it every broadcast hash relation that plan built,
    on the driver heap. The storage counters (block manager sizes,
    ``memo.storage_bytes``) see only the cached rows, never this pin:
    at sf0.1 a 256-row Jaccard pair table held 58 MB of live heap, most
    of it a broadcast of the 266k-row shingle table. Inside a memoized
    subtree, let a join broadcast only a side whose size is bounded by
    construction; hint a shuffle join where a side scales with the data
    (``tools/memo_audit.py`` lists each held key's broadcasts and the
    heap it frees).

    Key hygiene: the registry is process-global. Two callers alternating
    one key on different inputs evict each other (correct, just cold);
    prefix keys with the operator and input identity so hit rates stay
    honest in shared sessions."""
    from pyspark.storagelevel import StorageLevel

    held = _memos.get(key)
    if held is not None and token is not None and held[0] == token:
        return held[1]
    df = build()
    if held is not None:
        try:
            if df.sameSemantics(held[1]):
                _memos[key] = (token, held[1])
                return held[1]
        except Exception:
            pass  # cross-session frames etc. — fall through to swap
        held[1].unpersist(False)
    df = df.persist(StorageLevel.MEMORY_AND_DISK)
    _memos[key] = (token, df)
    return df


def clear_caches(table_plans: bool = True) -> None:
    """Release every memo-held frame and forget the registry.

    ``table_plans=False`` keeps sources.registry's memoized table PLAN
    objects: they pin no executor blocks and no rows, so periodic
    GC-pressure evictions (bench.py's every-40-queries sweep) don't
    need to drop them — only an in-place rewrite of the source files
    (the default) does."""
    for _, df in _memos.values():
        try:
            df.unpersist(False)
        except Exception:
            pass  # session may already be stopped
    _memos.clear()
    if table_plans:
        # Table PLAN memos (sources.registry) rest on the same files-are-
        # immutable premise — drop them under the same contract. Imported
        # lazily: sources must stay importable without operators and
        # vice versa.
        from etl_seattle_call_data_spark.sources.registry import clear_table_memo

        clear_table_memo()
