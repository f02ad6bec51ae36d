"""Streaming incremental near-dup gate: drop documents whose canonical
fingerprint was already seen in ANY earlier micro-batch, forward only
novel documents, and persist the growing fingerprint corpus in a
KeyedUpsertSink — the streaming face of operators/dedup.incremental_dedup,
mirroring the T5 upsert semantics (streaming/sinks.py) the same way
dq_gate.py mirrors operators/dq.py.

Shape per epoch (all batch-scale, never store-scale):

1. within-batch first-wins collapse (row_number over the fingerprint,
   ordered by the id — deterministic when one batch carries the same
   document twice);
2. ``incremental_dedup`` left-anti equi-join of the batch fingerprints
   against the store's fingerprint column — the store side is ALREADY
   fingerprints (``corpus_fp_col``), so nothing is re-hashed and the
   join moves 16-byte keys, not document bodies;
3. novel full rows go to the caller's ``write_unique`` writer;
4. novel fingerprints upsert into the store.

Replay contract — AT-LEAST-ONCE for ``write_unique``, exactly-once for
the store. ``write_unique`` deliberately runs BEFORE the upsert (the
opposite order could drop documents forever: a crash after the upsert
but before the forward would make the replay see its own keys and
forward nothing). The cost is the standard foreachBatch crash window:
an epoch that dies BETWEEN the two writes re-forwards its novel rows on
replay. Once the upsert has committed, a replayed epoch finds its own
keys in the store and forwards nothing twice. Downstream writers that
need exactly-once should therefore be keyed-idempotent on the document
id (e.g. another KeyedUpsertSink), which the crash-window e2e test
exercises (tests/test_streaming.py).

At 100 TB the store is exactly the pre-computed corpus fingerprint
table the batch operator's docstring calls for: bucketed by key so an
epoch's anti-join + upsert touch O(batch) buckets, not the store —
BOTH sides: the upsert merges only touched buckets, and the probe read
(``KeyedUpsertSink.read_for_keys``) lists and scans only the buckets
the batch's keys hash into, so per-epoch latency tracks
(touched/n_buckets) x store, not store (measured curve:
tools/stream_bench.py, docs/SCALING.md). The
exactness contract matches exact dedup (md5 of canonical text); for
NEAR-dup gating ``near_dedup_writer`` swaps step 2's fingerprint for a
MinHash band key set — the join shape (keyed anti-join vs an upsert
store) is unchanged.
"""

from __future__ import annotations

from typing import Callable

from pyspark.sql import DataFrame, functions as F
from pyspark.sql.window import Window

from etl_seattle_call_data_spark.operators.dedup import (
    incremental_dedup,
    minhash_band_keys,
)
from etl_seattle_call_data_spark.operators.text import canonical_text
from etl_seattle_call_data_spark.streaming.sinks import KeyedUpsertSink


def dedup_writer(
    store: KeyedUpsertSink,
    write_unique: Callable[[DataFrame, int], None],
    id_col: str = "doc_id",
    text_col: str = "text",
) -> Callable[[DataFrame, int], None]:
    """Build a ``foreachBatch`` function enforcing cross-batch exact
    dedup against ``store`` (a KeyedUpsertSink keyed on ``fingerprint``).
    Novel rows (original schema) go to ``write_unique``; the store gains
    one (fingerprint, first id) row per novel document.

    ``write_unique`` is AT-LEAST-ONCE: it runs before the store upsert,
    so an epoch that dies between the two writes re-forwards its novel
    rows on replay (idempotent only once the upsert has committed — see
    the module docstring for why this order is the safe one). Make the
    downstream writer keyed-idempotent on ``id_col`` when exactly-once
    delivery matters."""
    if store.key != "fingerprint":
        raise ValueError(
            f"dedup store must be keyed on 'fingerprint', got {store.key!r}"
        )

    def _write(batch: DataFrame, epoch_id: int) -> None:
        fp = F.md5(canonical_text(F.col(text_col))).alias("fingerprint")
        with_fp = batch.select("*", fp)
        w = Window.partitionBy("fingerprint").orderBy(id_col)
        firsts = (
            with_fp.withColumn("__rn", F.row_number().over(w))
            .filter(F.col("__rn") == 1)
            .drop("__rn")
            .persist()
        )
        try:
            # bucket-pruned probe read: only store buckets the batch's
            # fingerprints hash into are scanned (equal keys share a
            # bucket, so the anti-join below is exactly equivalent to
            # probing the full store) — the epoch stays O(touched
            # buckets) as the store grows
            corpus = store.read_for_keys(firsts.select("fingerprint"))
            if corpus is None:
                novel_ids = firsts.select(id_col, "fingerprint")
            else:
                novel_ids = incremental_dedup(
                    firsts, corpus, id_col=id_col, text_col=text_col,
                    corpus_fp_col="fingerprint", new_fp_col="fingerprint",
                )
            # join back on the id for the full novel rows (batch-scale)
            novel = firsts.join(
                novel_ids.select(id_col), id_col, "left_semi"
            ).persist()
            try:
                write_unique(novel.drop("fingerprint"), epoch_id)
                store.upsert_batch(
                    novel.select(
                        "fingerprint", F.col(id_col).alias("first_doc_id")
                    ),
                    epoch_id,
                )
            finally:
                novel.unpersist()
        finally:
            firsts.unpersist()

    return _write


def near_dedup_writer(
    store: KeyedUpsertSink,
    write_unique: Callable[[DataFrame, int], None],
    id_col: str = "doc_id",
    text_col: str = "text",
) -> Callable[[DataFrame, int], None]:
    """NEAR-dup variant of :func:`dedup_writer`: a document is dropped
    when ANY of its MinHash band keys (operators/dedup.minhash_band_keys)
    already exists in ``store`` (cross-batch) or belongs to a smaller-id
    document in the same batch (within-batch single-linkage first-wins).

    Semantics are LSH-CANDIDATE granularity — band-key collision drops
    without a Jaccard verify pass, the standard streaming-filter
    trade-off (a verify join against stored shingle sets would make the
    store document-body-scale; run the batch dedup operators over the
    forwarded corpus when exact-threshold semantics matter). Documents
    too short to shingle produce no band keys and always pass as novel.

    Per-epoch cost: one batch-scale shingle/signature pass, one keyed
    anti-join of n_bands keys/doc against the bucketed store, one
    upsert of the kept docs' keys. Same replay contract as
    ``dedup_writer`` — ``write_unique`` is AT-LEAST-ONCE (an epoch dying
    between the forward and the store upsert re-forwards on replay;
    once the upsert commits, a replayed epoch's keys hit the store and
    nothing forwards twice) — with one extra caveat: documents too
    short to shingle store NO band keys, so they re-forward on EVERY
    replay of their epoch even after the upsert commits. Keyed-idempotent
    downstream writers absorb both windows."""
    if store.key != "band_key":
        raise ValueError(
            f"near-dup store must be keyed on 'band_key', got {store.key!r}"
        )

    def _write(batch: DataFrame, epoch_id: int) -> None:
        batch = batch.persist()
        bands = minhash_band_keys(batch, id_col=id_col, text_col=text_col).persist()
        try:
            # ids hitting the cross-batch store on any band — probe via
            # the bucket-pruned read (scan volume = touched/n_buckets of
            # the store, not the store; see KeyedUpsertSink.read_for_keys)
            corpus = store.read_for_keys(bands.select("band_key"))
            if corpus is None:
                store_hits = bands.select(id_col).limit(0)
            else:
                store_hits = (
                    bands.join(corpus.select("band_key"), "band_key", "left_semi")
                    .select(id_col)
                    .distinct()
                )
            # within-batch single-linkage first-wins: drop any doc that
            # shares a band with a smaller id (the chain's global min id
            # always survives this rule)
            keepers = bands.groupBy("band_key").agg(F.min(id_col).alias("__keep"))
            batch_dups = (
                bands.join(keepers, "band_key")
                .filter(F.col(id_col) > F.col("__keep"))
                .select(id_col)
                .distinct()
            )
            novel = (
                batch.join(store_hits, id_col, "left_anti")
                .join(batch_dups, id_col, "left_anti")
                .persist()
            )
            try:
                write_unique(novel, epoch_id)
                store.upsert_batch(
                    bands.join(novel.select(id_col), id_col, "left_semi")
                    .select("band_key", F.col(id_col).alias("first_doc_id")),
                    epoch_id,
                )
            finally:
                novel.unpersist()
        finally:
            bands.unpersist()
            batch.unpersist()

    return _write
