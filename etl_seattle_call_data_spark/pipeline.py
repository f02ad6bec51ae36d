"""Batch ETL pipeline orchestrator.

The reference's ``run_etl`` (/root/reference/ETL_Pipeline_Batch/main.py:6-29)
is extract → transform → star-split → parquet → warehouse. Differences
here are deliberate scale fixes (SURVEY §4):

* the TRANSFORMED frame is persisted before the six table writes — the
  reference persists the raw scan, so its 13-step transform re-runs once
  per table (6×);
* no ``coalesce(1)``: each write task emits its own parquet file;
* the warehouse load (Snowflake) is a pluggable sink interface with a
  local parquet implementation — no external services assumed.
"""

from __future__ import annotations

from dataclasses import dataclass, field

from pyspark.sql import DataFrame, Observation, SparkSession
from pyspark.sql import functions as F
from pyspark.storagelevel import StorageLevel

from etl_seattle_call_data_spark.operators.calldata import (
    REQUIRED_RAW_COLUMNS,
    require_columns,
    transform_call_data,
)
from etl_seattle_call_data_spark.operators.star_schema import split_star_schema
from etl_seattle_call_data_spark.sinks import (
    ParquetDirSink,
    Sink,
    register_star_tables,
    write_tables,
)
from etl_seattle_call_data_spark.sources.csv_source import read_csv_safe


@dataclass
class BatchPipelineResult:
    row_counts: dict[str, int] = field(default_factory=dict)
    transformed: DataFrame | None = None
    registered_tables: list[str] = field(default_factory=list)
    metrics: dict[str, object] = field(default_factory=dict)


def run_batch_pipeline(
    spark: SparkSession,
    input_csv: str,
    output_dir: str,
    sink: Sink | None = None,
    register_catalog: str | None = None,
) -> BatchPipelineResult:
    """extract → transform → star-split → sink (reference main.py:6-29).

    ``sink`` defaults to the local ``ParquetDirSink``; pass a ``JdbcSink``
    (or any ``Sink``) to load a warehouse instead — the reference's
    Snowflake stage+COPY (load.py:198-240) generalized behind one method.
    ``register_catalog='serving'`` additionally registers the written
    tables in the Spark catalog (``CREATE TABLE IF NOT EXISTS`` — the
    reference's DDL bootstrap, consumer_cassandra.py:84-163)."""
    raw = read_csv_safe(spark, input_csv)
    # fail fast with a clear message instead of a deep unresolved-column
    # error (reference extract.py:136-140 defines this check but never
    # invokes it — here it is wired in)
    require_columns(raw, REQUIRED_RAW_COLUMNS)
    transformed = transform_call_data(raw)
    # Data-quality metrics ride the existing job via observe() — computed
    # map-side during the first materializing action, zero extra passes
    # (vs the reference's separate count()/show() actions per table).
    obs = Observation("batch_quality")
    transformed = transformed.observe(
        obs,
        F.count(F.lit(1)).alias("n_rows"),
        F.sum(F.col("cad_event_number").isNull().cast("long")).alias("null_event_keys"),
        F.sum(F.col("event_date").isNull().cast("long")).alias("null_event_dates"),
    )
    # One materialization feeds all six writes (reference re-computes 6×).
    transformed = transformed.persist(StorageLevel.DISK_ONLY)
    sink = sink if sink is not None else ParquetDirSink(output_dir)
    try:
        tables = split_star_schema(transformed)
        counts = write_tables(tables, sink)
    finally:
        transformed.unpersist()
    registered: list[str] = []
    if register_catalog:
        from etl_seattle_call_data_spark.sinks import TableDirSink

        if not isinstance(sink, TableDirSink):
            raise ValueError("register_catalog requires a TableDirSink (path-backed tables)")
        registered = register_star_tables(
            spark, sink, table_names=list(tables), database=register_catalog
        )
    return BatchPipelineResult(
        row_counts=counts,
        transformed=transformed,
        registered_tables=registered,
        metrics=obs.get,
    )
