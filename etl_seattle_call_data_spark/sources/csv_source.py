"""CSV source with sampled schema inference.

Re-expresses the reference's two-pass safe extraction
(/root/reference/ETL_Pipeline_Batch/extract.py:29-119):

1. infer the schema from a configurable sample (``samplingRatio`` —
   the inference job touches ~1% of the input);
2. re-read the full file with the frozen schema, ``DROPMALFORMED``,
   UTF-8, empty-string→null;
3. optional row cap — the reference passed a ``maxRows`` CSV option,
   which vanilla Spark silently ignores (SURVEY §7.4.5); the working
   equivalent is ``df.limit(n)``.

The reference also persists the RAW scan DISK_ONLY (extract.py:76),
which makes its 13-step transform recompute once per star-table write;
the pipeline orchestrator here persists the TRANSFORMED frame instead
(SURVEY §4.2), so the scan is never persisted.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession


def read_csv_sampled(
    spark: SparkSession,
    path: str,
    sample_ratio: float = 0.01,
    max_rows: int | None = None,
) -> DataFrame:
    schema = (
        spark.read.option("header", "true")
        .option("inferSchema", "true")
        .option("samplingRatio", str(sample_ratio))
        .option("nullValue", "")
        .option("nanValue", "")
        .csv(path)
        .schema
    )
    df = (
        spark.read.schema(schema)
        .option("header", "true")
        .option("mode", "DROPMALFORMED")
        .option("encoding", "UTF-8")
        .option("nullValue", "")
        .option("nanValue", "")
        .csv(path)
    )
    if max_rows is not None:
        df = df.limit(max_rows)
    return df


def read_csv_safe(spark: SparkSession, path: str) -> DataFrame:
    """Retry ladder (reference extract.py:102-119): defaults first, then a
    5% inference sample with a 500k row cap."""
    try:
        return read_csv_sampled(spark, path)
    except Exception:
        return read_csv_sampled(spark, path, sample_ratio=0.05, max_rows=500_000)
