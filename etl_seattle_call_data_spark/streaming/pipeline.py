"""Structured Streaming pipeline wiring.

Differences from the reference consumer
(/root/reference/Real_Time_Streaming/consumer/consumer_cassandra.py:228-275),
per SURVEY §2.7/§4:

* checkpointLocation is REQUIRED (the reference configures none, so a
  restart loses offsets — T4);
* no per-epoch ``count()``/``show()`` in the hot path;
* watermarked tumbling event-time window aggregation is provided (T6 —
  absent in the reference, implied by its serving queries);
* sources are pluggable: file source for tests, Kafka in production
  (same downstream plan; ``readStream.format("kafka")`` + the
  ``decode_json_payload`` transform).
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql.streaming import StreamingQuery

from etl_seattle_call_data_spark.streaming.sinks import KeyedUpsertSink
from etl_seattle_call_data_spark.streaming.transforms import (
    clean_duration_fields,
    with_ingest_timestamp,
)


def file_json_stream(
    spark: SparkSession, path: str, schema, max_files_per_trigger: int = 1
) -> DataFrame:
    """File-based JSON stream — the test/dev stand-in for the Kafka source
    (one JSON file ≈ one micro-batch of producer messages)."""
    return (
        spark.readStream.schema(schema)
        .option("maxFilesPerTrigger", max_files_per_trigger)
        .json(path)
    )


def kafka_stream(spark: SparkSession, bootstrap: str, topic: str, starting_offsets: str = "latest") -> DataFrame:
    """Kafka source (reference consumer_cassandra.py:247-252). Requires the
    spark-sql-kafka package on the classpath; unused in tests (no broker in
    this environment)."""
    return (
        spark.readStream.format("kafka")
        .option("kafka.bootstrap.servers", bootstrap)
        .option("subscribe", topic)
        .option("startingOffsets", starting_offsets)
        .load()
    )


def run_upsert_stream(
    source: DataFrame,
    sink: KeyedUpsertSink,
    checkpoint_dir: str,
    trigger_seconds: int | None = None,
    available_now: bool = False,
) -> StreamingQuery:
    """Stream → duration cleaning → ingest stamp → keyed upsert sink
    (the reference's foreach_batch_function pipeline, T2/T5, with
    checkpointing).

    ``available_now=True`` runs in backfill mode (Trigger.AvailableNow):
    process everything currently available as rate-limited micro-batches
    with normal checkpointing, then terminate — the catch-up/backfill
    face of the same pipeline (a restart without it resumes tailing)."""
    cleaned = with_ingest_timestamp(clean_duration_fields(source))
    writer = (
        cleaned.writeStream.outputMode("update")
        .option("checkpointLocation", checkpoint_dir)
        .foreachBatch(sink.foreach_batch())
    )
    if available_now:
        writer = writer.trigger(availableNow=True)
    elif trigger_seconds:
        writer = writer.trigger(processingTime=f"{trigger_seconds} seconds")
    return writer.start()


def windowed_counts(
    events: DataFrame,
    ts_col: str = "ts",
    key_col: str = "event_type",
    watermark: str = "10 minutes",
) -> DataFrame:
    """Watermarked 10-minute tumbling event-time aggregation (T6): the
    streaming form of the serving query 'counts by type' (A3)."""
    return (
        events.withWatermark(ts_col, watermark)
        .groupBy(F.window(F.col(ts_col), "10 minutes").alias("win"), F.col(key_col))
        .agg(F.count(F.lit(1)).alias("n"), F.sum("value").alias("total_value"))
        .select(
            F.col("win.start").alias("window_start"),
            F.col("win.end").alias("window_end"),
            key_col,
            "n",
            "total_value",
        )
    )


def stream_stream_interval_join(
    left: DataFrame,
    right: DataFrame,
    on: str,
    left_ts: str,
    right_ts: str,
    lower_s: int,
    upper_s: int,
    watermark: str = "10 minutes",
    how: str = "inner",
) -> DataFrame:
    """Stream-stream equi-join bounded to ``left_ts + lower_s <=
    right_ts <= left_ts + upper_s`` (T6 extension — the reference joins
    nothing stream-side). Both sides are watermarked and the interval
    condition bounds the join state Spark must buffer: a right row can
    be evicted once the watermark passes ``right_ts + |lower_s|``, so
    state is O(rows per horizon) per key, not O(stream). Without the
    interval bound Spark would (correctly) refuse an inner stream-stream
    join as unbounded-state.

    Columns must be disjoint apart from ``on``; ``left_ts``/``right_ts``
    must be distinct names (the output keeps both)."""
    l_wm = left.alias("l").withWatermark(left_ts, watermark)
    r_wm = right.alias("r").withWatermark(right_ts, watermark)
    cond = (
        (F.col(f"l.{on}") == F.col(f"r.{on}"))
        & (F.col(f"r.{right_ts}") >= F.col(f"l.{left_ts}") + F.expr(f"INTERVAL {lower_s} SECONDS"))
        & (F.col(f"r.{right_ts}") <= F.col(f"l.{left_ts}") + F.expr(f"INTERVAL {upper_s} SECONDS"))
    )
    joined = l_wm.join(r_wm, cond, how)
    return joined.drop(F.col(f"r.{on}"))


def enrich_with_dim(stream: DataFrame, dim: DataFrame, on: str | list[str]) -> DataFrame:
    """Stream-static enrichment join: each micro-batch equi-joins the
    (unbounded) stream side against a static dimension snapshot. Spark
    plans the static side as a broadcast when small — the stream never
    shuffles for the join and no state store is involved (unlike
    stream-stream joins). The streaming face of the star-schema
    consumption joins (SURVEY J2)."""
    return stream.join(F.broadcast(dim), on, "left")
