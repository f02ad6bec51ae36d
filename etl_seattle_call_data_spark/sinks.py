"""Pluggable batch sink interface — the engine's counterpart of the
reference's warehouse load stage (/root/reference/ETL_Pipeline_Batch/
load.py:198-240: stage the parquet, ``COPY INTO`` a Snowflake table per
star table).

The reference hard-wires one vendor; here the load target is a small
``Sink`` protocol so the same pipeline drives any backend:

* ``ParquetDirSink`` — the local/default implementation (one parquet
  directory per table, read-back verified counts, matching
  load.py:175-196's per-table write+verify loop);
* ``JdbcSink`` — a generic JDBC loader over the public
  ``DataFrameWriter.jdbc`` API (works with any warehouse exposing a JDBC
  driver jar; no vendor SDK). This environment ships no JDBC driver, so
  the class validates eagerly and raises a clear error at write time if
  the driver jar is absent — the interface and tests cover everything up
  to the actual socket.

``register_star_tables`` completes the serving-layer DDL shape
(reference consumer_cassandra.py:84-163 creates its serving tables with
``CREATE ... IF NOT EXISTS``): written tables are registered in the
Spark catalog as external parquet tables, so downstream consumers query
them by name via ``spark.sql`` with the scan pruning of a path read.
"""

from __future__ import annotations

from typing import Protocol, runtime_checkable

from pyspark.sql import DataFrame, SparkSession


@runtime_checkable
class Sink(Protocol):
    """A batch load target: write one named table, return the loaded row
    count (verified against the target, not the source plan)."""

    def write(self, name: str, df: DataFrame) -> int: ...


class TableDirSink:
    """Local warehouse: ``<output_dir>/<name>_<format>`` per table, in
    any Spark-native columnar/row format (parquet, orc, json, csv).

    * no ``coalesce(1)``, unlike the reference: single-file output
      funnels the table through one task (the reference's first 100 TB
      failure mode), so each write task emits its own file;
    * counts are read back from the written files (load verification,
      reference load.py:188-192).
    """

    def __init__(self, output_dir: str, format: str = "parquet"):
        self.output_dir = output_dir
        self.format = format

    def path_for(self, name: str) -> str:
        return f"{self.output_dir}/{name}_{self.format}"

    def write(self, name: str, df: DataFrame) -> int:
        path = self.path_for(name)
        df.write.mode("overwrite").format(self.format).save(path)
        return df.sparkSession.read.format(self.format).load(path).count()


class ParquetDirSink(TableDirSink):
    """The default local sink (parquet layout) — see ``TableDirSink``."""

    def __init__(self, output_dir: str):
        super().__init__(output_dir, "parquet")


class JdbcSink:
    """Generic JDBC warehouse loader (public DataFrameWriter.jdbc API).

    Equivalent role to the reference's Snowflake ``COPY INTO`` stage but
    vendor-neutral: any warehouse with a JDBC driver jar on the Spark
    classpath works. Counts are verified by reading the table back
    through the same connection."""

    def __init__(
        self,
        url: str,
        mode: str = "overwrite",
        table_prefix: str = "",
        properties: dict[str, str] | None = None,
    ):
        if not url.startswith("jdbc:"):
            raise ValueError(f"JdbcSink url must start with 'jdbc:': {url!r}")
        self.url = url
        self.mode = mode
        self.table_prefix = table_prefix
        self.properties = dict(properties or {})

    def write(self, name: str, df: DataFrame) -> int:
        table = f"{self.table_prefix}{name}"
        df.write.jdbc(self.url, table, mode=self.mode, properties=self.properties)
        return (
            df.sparkSession.read.jdbc(self.url, table, properties=self.properties).count()
        )


def write_tables(tables: dict[str, DataFrame], sink: Sink) -> dict[str, int]:
    """Drive any ``Sink`` over a table dict; returns verified row counts
    (the reference's per-table load loop, load.py:175-196)."""
    return {name: sink.write(name, df) for name, df in tables.items()}


def register_star_tables(
    spark: SparkSession,
    sink: TableDirSink,
    table_names: list[str] | None = None,
    database: str = "serving",
) -> list[str]:
    """``CREATE TABLE IF NOT EXISTS`` catalog registration of written
    parquet tables (reference consumer_cassandra.py:84-163's DDL
    bootstrap, re-expressed as Spark external tables). After this,
    consumers run ``spark.sql("SELECT ... FROM serving.fact_call")``
    with scan pruning identical to reading the path directly."""
    from etl_seattle_call_data_spark.operators.star_schema import STAR_TABLES

    names = table_names if table_names is not None else list(STAR_TABLES)
    spark.sql(f"CREATE DATABASE IF NOT EXISTS {database}")
    registered = []
    for name in names:
        spark.sql(
            f"CREATE TABLE IF NOT EXISTS {database}.{name} "
            f"USING {sink.format.upper()} LOCATION '{sink.path_for(name)}'"
        )
        registered.append(f"{database}.{name}")
    return registered
