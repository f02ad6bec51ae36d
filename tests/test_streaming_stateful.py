"""Stateful streaming operator tests: watermarked dedup, session
windows, and custom applyInPandasWithState running aggregates — each
driven by a file-source micro-batch stream to completion."""

from __future__ import annotations

import json

import pytest
from pyspark.sql import functions as F
from pyspark.sql import types as T

from etl_seattle_call_data_spark.streaming.stateful import (
    dedup_stream,
    running_user_stats,
    sessionized_counts,
)

EVENT_SCHEMA = T.StructType(
    [
        T.StructField("event_id", T.LongType()),
        T.StructField("ts", T.TimestampType()),
        T.StructField("user_id", T.LongType()),
        T.StructField("value", T.DoubleType()),
    ]
)


def _write_batch(path, rows):
    path.write_text(
        "\n".join(
            json.dumps({"event_id": e, "ts": ts, "user_id": u, "value": v})
            for e, ts, u, v in rows
        )
    )


def _stream(spark, src):
    return (
        spark.readStream.schema(EVENT_SCHEMA)
        .option("maxFilesPerTrigger", 1)
        .json(str(src))
    )


@pytest.fixture()
def src(tmp_path):
    d = tmp_path / "in"
    d.mkdir()
    return d


def test_dedup_stream_drops_redelivery(spark, src, tmp_path):
    _write_batch(src / "b1.json", [(1, "2024-01-01T00:00:00", 7, 1.0), (2, "2024-01-01T00:00:30", 7, 2.0)])
    out = dedup_stream(_stream(spark, src), key="event_id", ts_col="ts")
    q = (
        out.writeStream.format("memory")
        .queryName("dedup_out")
        .outputMode("append")
        .option("checkpointLocation", str(tmp_path / "ckpt"))
        .start()
    )
    q.processAllAvailable()
    # batch 2 re-delivers event 1 (same key) and adds event 3
    _write_batch(src / "b2.json", [(1, "2024-01-01T00:00:00", 7, 1.0), (3, "2024-01-01T00:01:00", 8, 3.0)])
    q.processAllAvailable()
    q.stop()
    rows = spark.sql("SELECT event_id FROM dedup_out").collect()
    assert sorted(r.event_id for r in rows) == [1, 2, 3]  # no duplicate 1


def test_sessionized_counts(spark, src, tmp_path):
    # user 7: two events 5 min apart (one session), then one 2 h later
    _write_batch(
        src / "b1.json",
        [
            (1, "2024-01-01T00:00:00", 7, 1.0),
            (2, "2024-01-01T00:05:00", 7, 1.0),
            (3, "2024-01-01T02:00:00", 7, 1.0),
        ],
    )
    out = sessionized_counts(_stream(spark, src), key="user_id", ts_col="ts")
    # session windows emit on watermark passage → append mode + flush
    # batches that advance event time past each session's close
    q = (
        out.writeStream.format("memory")
        .queryName("sess_out")
        .outputMode("append")
        .option("checkpointLocation", str(tmp_path / "ckpt"))
        .start()
    )
    q.processAllAvailable()
    _write_batch(src / "b2_flush.json", [(90, "2024-01-02T00:00:00", 9, 0.0)])
    q.processAllAvailable()
    _write_batch(src / "b3_flush.json", [(91, "2024-01-03T00:00:00", 9, 0.0)])
    q.processAllAvailable()
    q.stop()
    rows = spark.sql("SELECT * FROM sess_out WHERE user_id = 7").collect()
    by_n = sorted((r.n_events, r.session_start.hour) for r in rows)
    assert by_n == [(1, 2), (2, 0)]  # one 2-event session @00h, one 1-event @02h


def test_running_user_stats_accumulates(spark, src, tmp_path):
    _write_batch(src / "b1.json", [(1, "2024-01-01T00:00:00", 7, 1.5), (2, "2024-01-01T00:01:00", 7, 2.5)])
    out = running_user_stats(_stream(spark, src))
    q = (
        out.writeStream.format("memory")
        .queryName("stats_out")
        .outputMode("update")
        .option("checkpointLocation", str(tmp_path / "ckpt"))
        .start()
    )
    q.processAllAvailable()
    _write_batch(src / "b2.json", [(3, "2024-01-01T00:02:00", 7, 6.0), (4, "2024-01-01T00:02:30", 8, 10.0)])
    q.processAllAvailable()
    q.stop()
    # last update per user wins: state carried ACROSS micro-batches
    rows = spark.sql(
        "SELECT user_id, n_events, total_value FROM stats_out"
    ).collect()
    latest = {}
    for r in rows:  # memory sink appends updates in batch order
        latest[r.user_id] = (r.n_events, r.total_value)
    assert latest[7] == (3, 10.0)  # 1.5 + 2.5 + 6.0 across two batches
    assert latest[8] == (1, 10.0)


def test_stream_static_enrichment(spark, src, tmp_path):
    from etl_seattle_call_data_spark.streaming.pipeline import enrich_with_dim

    _write_batch(src / "b1.json", [(1, "2024-01-01T00:00:00", 7, 1.0), (2, "2024-01-01T00:01:00", 9, 2.0)])
    dim = spark.createDataFrame([(7, "gold"), (8, "silver")], ["user_id", "tier"])
    out = enrich_with_dim(_stream(spark, src), dim, "user_id")
    q = (
        out.writeStream.format("memory")
        .queryName("enriched")
        .outputMode("append")
        .option("checkpointLocation", str(tmp_path / "ckpt"))
        .start()
    )
    q.processAllAvailable()
    q.stop()
    rows = {r.event_id: r.tier for r in spark.sql("SELECT event_id, tier FROM enriched").collect()}
    assert rows == {1: "gold", 2: None}  # left join: unmatched stream rows survive


def test_streaming_sessions_match_batch_session_window(spark, src, tmp_path):
    """Coherence across engine faces: the STREAMING session aggregation
    (sessionized_counts, session_window over a watermarked stream) must
    produce exactly the sessions the BATCH session_window_counts query
    computes — and that query's oracle already proves the batch side
    equals the classic gaps-and-islands SQL. Complete output mode so
    unfinalized trailing sessions are visible too."""
    from etl_seattle_call_data_spark.plans.queries import REGISTRY
    from etl_seattle_call_data_spark.sources.registry import load_table

    sf = "/root/testdata/sf0.001"
    ev = load_table(spark, sf, "events").select("event_id", "ts", "user_id", "value")
    _write_batch(
        src / "all.json",
        [
            (r.event_id, r.ts.isoformat(), r.user_id, r.value)
            for r in ev.collect()
        ],
    )

    out = sessionized_counts(_stream(spark, src), key="user_id", ts_col="ts")
    q = (
        out.writeStream.format("memory")
        .queryName("sess_parity")
        .outputMode("complete")
        .option("checkpointLocation", str(tmp_path / "ckpt"))
        .start()
    )
    q.processAllAvailable()
    q.stop()

    streamed = {
        (r.user_id, r.window_start, r.window_end): r.n_events
        for r in spark.sql("SELECT * FROM sess_parity").collect()
    }
    batch = {
        (r.user_id, r.session_start, r.session_end): r.n_events
        for r in REGISTRY["session_window_counts"].spark(spark, sf).collect()
    }
    assert streamed == batch


def test_transform_with_state_carries_across_batches(spark, src, tmp_path):
    """Spark 4 transformWithStateInPandas: ValueState survives between
    micro-batches under the RocksDB state store provider (required by
    the API); two files -> two batches -> the second output reflects
    accumulated state, proving state round-trips through RocksDB.

    The TWS driver worker speaks protobuf to the state server; this
    container ships no google.protobuf, so conftest wires in
    vendor/protobuf_shim (the Cloud SDK's pure-Python runtime, aliased).
    Skips only if neither a real protobuf nor the shim resolves."""
    pytest.importorskip("google.protobuf", reason="transformWithState worker needs protobuf")
    from etl_seattle_call_data_spark.streaming.stateful import running_totals_tws

    prev = spark.conf.get(
        "spark.sql.streaming.stateStore.providerClass", ""
    )
    spark.conf.set(
        "spark.sql.streaming.stateStore.providerClass",
        "org.apache.spark.sql.execution.streaming.state.RocksDBStateStoreProvider",
    )
    try:
        _write_batch(src / "b1.json", [(1, "2024-01-01T00:00:00", 7, 1.5),
                                       (2, "2024-01-01T00:00:10", 7, 2.5)])
        _write_batch(src / "b2.json", [(3, "2024-01-01T00:01:00", 7, 4.0)])
        out = running_totals_tws(_stream(spark, src))
        q = (
            out.writeStream.format("memory")
            .queryName("tws_out")
            .outputMode("update")
            .option("checkpointLocation", str(tmp_path / "ckpt_tws"))
            .start()
        )
        try:
            q.processAllAvailable()
        finally:
            q.stop()
        rows = {
            (r.user_id, r.n_events): r.total_value
            for r in spark.sql("SELECT * FROM tws_out").collect()
        }
        # batch boundaries can merge under maxFilesPerTrigger, but the
        # final accumulated state must be exact
        assert (7, 3) in rows and abs(rows[(7, 3)] - 8.0) < 1e-9
    finally:
        if prev:
            spark.conf.set("spark.sql.streaming.stateStore.providerClass", prev)
        else:
            spark.conf.unset("spark.sql.streaming.stateStore.providerClass")
