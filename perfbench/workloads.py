"""The benchmark's workloads: query sessions and the ingest paths.

Every workload is a closed loop with one client: each operation starts
when the previous one has returned. A workload runs one cold pass (memo
caches empty, stores empty) and then a fixed number of warm passes,
repeated in the same session. An operation is one query (build plus the
digest action) or one streaming micro-batch epoch.
"""

from __future__ import annotations

import json
import os
import re
import shutil
import time
from dataclasses import dataclass, field

from perfbench import gen
from perfbench.trace import Tracer, catalyst, heap_live_mb, storage
from tools.verify_oracle import spark_digest

# One or more queries per layer the session exercises, issued in this order.
SESSION_QUERIES = (
    # fixed per-query overhead over the events and documents tables
    "events_by_type",
    "ngram_top_bigrams",
    # memo layer: shingle and LSH memos built on first use
    "dedup_ngram_jaccard",
    "similarity_topk_lsh",
    # Python edge: mapInPandas
    "multimodal_features",
)
CSV_ROWS = 20_000
STREAM_EPOCHS = 4
EPOCH_RECORDS = 200


@dataclass
class Pass:
    kind: str  # "cold" or "warm"
    seconds: float = 0.0
    ops: list[dict] = field(default_factory=list)


@dataclass
class Outcome:
    passes: list[Pass] = field(default_factory=list)
    attempted: int = 0
    failed: int = 0
    notes: dict = field(default_factory=dict)

    def record(self, ok: bool) -> None:
        self.attempted += 1
        self.failed += 0 if ok else 1


def _reset_memos(spark) -> None:
    from etl_seattle_call_data_spark.operators.util import clear_caches

    # table plans stay: reading the footers once is set-up, not the pass
    clear_caches(table_plans=False)
    spark.catalog.clearCache()


def _storage(spark, tracer: Tracer, op):
    if not tracer.enabled:
        return None
    with tracer.span("trace.storage", op=op):
        return storage(spark)


def run_queries(
    spark, sf_dir: str, order: list[str], expected: dict, warm_passes: int, tracer: Tracer
) -> Outcome:
    from etl_seattle_call_data_spark.plans.queries import REGISTRY

    sc = spark.sparkContext
    out = Outcome()
    _reset_memos(spark)
    os.sync()
    for n_pass in range(1 + warm_passes):
        p = Pass("warm" if n_pass else "cold")
        t_pass = time.perf_counter()
        with tracer.span("pass", op=f"{n_pass}:{p.kind}"):
            for name in order:
                op = f"{n_pass}:{name}"
                rec: dict = {"op": op, "kind": "query", "query": name}
                before = _storage(spark, tracer, op)
                # build jobs (eager helper actions, memo builds) get their
                # own group, so the event log separates them from the action
                sc.setJobGroup(f"{op}:build", op)
                t0 = time.perf_counter()
                try:
                    with tracer.span("plans.build", op=op):
                        df = REGISTRY[name].spark(spark, sf_dir)
                    t1 = time.perf_counter()
                    sc.setJobGroup(op, op)
                    qe = None
                    if tracer.enabled:
                        with tracer.span("catalyst", op=op):
                            phases, qe = catalyst(df)
                        rec.update(phases)
                    t2 = time.perf_counter()
                    with tracer.span("exec", op=op):
                        digest = spark_digest(df)
                    t3 = time.perf_counter()
                    del qe
                    ok = list(digest) == list(expected[name])
                except Exception as exc:  # a failed query is counted, not fatal
                    t1 = t2 = t3 = time.perf_counter()
                    ok, rec["error"] = False, repr(exc)[:300]
                rec.update(seconds=t3 - t0 - (t2 - t1), build_s=t1 - t0, catalyst_s=t2 - t1,
                           exec_s=t3 - t2, ok=ok)
                if before is not None:
                    rec["new_rdds"] = _storage(spark, tracer, op)[0] - before[0]
                out.record(ok)
                p.ops.append(rec)
        sc.setJobGroup("", "")
        p.seconds = time.perf_counter() - t_pass
        if tracer.enabled:
            rdds, bytes_ = _storage(spark, tracer, None)
            with tracer.span("trace.storage"):
                heap = heap_live_mb(spark)
            out.notes.setdefault("storage", []).append({"rdds": rdds, "bytes": bytes_,
                                                        "heap_mb": heap})
        out.passes.append(p)
    return out


# ------------------------------------------------------------------- ingest

def _publish(root: str, records: list[dict], epoch_records: int) -> None:
    """Publish records to a one-partition topic, one segment per epoch."""
    from etl_seattle_call_data_spark.streaming.kafkalike import FileKafkaBroker

    broker = FileKafkaBroker(root)
    broker.create_topic("calls", partitions=1)
    producer = broker.producer()
    for i in range(0, len(records), epoch_records):
        for r in records[i : i + epoch_records]:
            producer.send("calls", json.dumps(r).encode(), key=r["cad_event_number"].encode())
        producer.flush()


def _expected_store(records: list[dict]) -> set[tuple]:
    last = {}
    for r in records:
        last[r["cad_event_number"]] = r
    return {
        (k, r["processed_at"], int(re.sub(r"[^0-9]", "", r["call_sign_total_service_time_s_"])))
        for k, r in last.items()
    }


def _check_etl(spark, result, sink, expected_rows: int) -> bool:
    from etl_seattle_call_data_spark.operators.star_schema import STAR_TABLES, join_star

    if any(result.row_counts.get(t) != expected_rows for t in STAR_TABLES):
        return False
    tables = {t: spark.read.parquet(sink.path_for(t)) for t in STAR_TABLES}
    return join_star(tables).count() == expected_rows


def _store_files(path: str) -> dict:
    """The upsert store on disk: epoch directories the manifest references,
    buckets and bytes each epoch directory holds, and live bytes."""
    with open(os.path.join(path, "_LATEST")) as f:
        live = json.load(f)["buckets"]

    def size(d: str) -> int:
        return sum(os.path.getsize(os.path.join(r, f)) for r, _, fs in os.walk(d)
                   for f in fs if f.endswith(".parquet"))

    epochs = {}
    for d in sorted(os.listdir(path)):
        if d.startswith("epoch-"):
            buckets = [b for b in os.listdir(os.path.join(path, d)) if b.startswith("__bucket=")]
            epochs[d] = (len(buckets), size(os.path.join(path, d)))
    live_bytes = sum(size(os.path.join(path, d, f"__bucket={b}")) for b, d in live.items())
    return {"live_dirs": len(set(live.values())), "epochs": epochs, "live_bytes": live_bytes}


def _etl(spark, work: str, op: str, csv_path: str, csv_rows: int, csv_kept: int,
         out: Outcome, tracer: Tracer) -> tuple[dict, float]:
    """One ``run_batch_pipeline`` call (timed) and its output check."""
    from etl_seattle_call_data_spark.pipeline import run_batch_pipeline
    from etl_seattle_call_data_spark.sinks import ParquetDirSink

    sc = spark.sparkContext
    sc.setJobGroup(op, op)
    sink = ParquetDirSink(os.path.join(work, op.replace(":", "-")))
    t0 = time.perf_counter()
    try:
        with tracer.span("etl", op=op):
            result = run_batch_pipeline(spark, csv_path, sink.output_dir, sink=sink)
        seconds = time.perf_counter() - t0
        sc.setJobGroup(f"{op}:check", "check")
        t1 = time.perf_counter()
        with tracer.span("check", op=op):
            ok = _check_etl(spark, result, sink, csv_kept)
        check_s = time.perf_counter() - t1
    except Exception as exc:  # counted, not fatal
        seconds, check_s, ok = time.perf_counter() - t0, 0.0, False
        out.notes.setdefault("errors", []).append(repr(exc)[:300])
    out.record(ok)
    return {"op": op, "kind": "etl", "seconds": seconds, "rows": csv_rows, "ok": ok}, check_s


def _stream(spark, work: str, op: str, broker: str, store, sent: list[dict], epochs: int,
            out: Outcome, tracer: Tracer) -> tuple[list[dict], float]:
    """Drain the broker into the store with ``available_now`` (timed),
    then check the store against the last record sent per key."""
    from etl_seattle_call_data_spark.streaming.kafkalike import kafka_like_stream
    from etl_seattle_call_data_spark.streaming.pipeline import run_upsert_stream
    from etl_seattle_call_data_spark.streaming.transforms import decode_json_payload

    sc = spark.sparkContext
    sc.setJobGroup(op, op)
    t0 = time.perf_counter()
    with tracer.span("stream", op=op):
        src = decode_json_payload(kafka_like_stream(spark, broker, "calls"))
        q = run_upsert_stream(src, store, os.path.join(work, op.replace(":", "-") + "-ckpt"),
                              available_now=True)
        try:
            q.awaitTermination()
        except Exception as exc:  # counted below, not fatal
            out.notes.setdefault("errors", []).append(repr(exc)[:300])
    seconds = time.perf_counter() - t0
    ok = q.exception() is None
    ops = []
    for e in q.recentProgress:
        if e.numInputRows > 0:
            out.record(ok)
            ops.append({"op": f"{op}:{e.batchId}", "kind": "epoch",
                        "seconds": e.durationMs["triggerExecution"] / 1000.0,
                        "rows": e.numInputRows, "durations_ms": dict(e.durationMs), "ok": ok})
    sc.setJobGroup(f"{op}:check", "check")
    t1 = time.perf_counter()
    with tracer.span("check", op=op):
        got = {
            (r[0], r[1], r[2])
            for r in store.read(spark)
            .select("cad_event_number", "processed_at", "call_sign_total_service_time_s_")
            .collect()
        }
    ok = got == _expected_store(sent) and len(ops) == epochs
    check_s = time.perf_counter() - t1
    if not ok:
        out.record(False)
    rows = sum(o["rows"] for o in ops)
    # streaming jobs run under the query's run id as their job group
    ops.append({"op": op, "kind": "stream", "seconds": seconds, "rows": rows, "ok": ok,
                "group": str(q.runId)})
    return ops, check_s


def run_ingest(spark, work: str, csv_path: str, csv_rows: int, csv_kept: int, seed: int,
               warm_passes: int, tracer: Tracer, epochs: int = STREAM_EPOCHS,
               epoch_records: int = EPOCH_RECORDS) -> Outcome:
    """Passes of (batch ETL over the CSV, stream drain of the next slice of
    records). Checks run between the timed calls and are not timed."""
    from etl_seattle_call_data_spark.streaming.sinks import KeyedUpsertSink

    out = Outcome()
    store = KeyedUpsertSink(os.path.join(work, "store"), key="cad_event_number",
                            order_col="processed_at")
    per_pass = epochs * epoch_records
    sent: list[dict] = []
    for n_pass in range(1 + warm_passes):
        p = Pass("warm" if n_pass else "cold")
        # each pass publishes the next slice of one seeded record sequence,
        # so warm passes upsert into a populated store (re-sends hit it)
        records = gen.stream_records(per_pass * (n_pass + 1), seed)[len(sent):]
        broker = os.path.join(work, f"broker-{n_pass}")
        _publish(broker, records, epoch_records)
        sent += records
        os.sync()  # no writeback of the inputs just written during the pass
        t_pass = time.perf_counter()
        with tracer.span("pass", op=f"{n_pass}:{p.kind}"):
            etl_op, etl_check = _etl(spark, work, f"{n_pass}:etl", csv_path, csv_rows,
                                     csv_kept, out, tracer)
            stream_ops, stream_check = _stream(spark, work, f"{n_pass}:stream", broker,
                                               store, sent, epochs, out, tracer)
        spark.sparkContext.setJobGroup("", "")
        p.seconds = time.perf_counter() - t_pass - etl_check - stream_check
        p.ops = [etl_op, *stream_ops]
        out.passes.append(p)
    if tracer.enabled:
        out.notes["store"] = _store_files(store.path)
        out.notes["store_rows"] = len(_expected_store(sent))
    return out


def fresh_dir(path: str) -> str:
    shutil.rmtree(path, ignore_errors=True)
    os.makedirs(path)
    return path
