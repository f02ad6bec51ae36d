"""Raw-text corpus ingestion + columnar (ORC) interchange.

The reference ingests structured feeds only (CSV batch, JSON stream);
a training-data engine also has to ingest the unstructured side — a
directory tree of ``.txt``/``.md``/one-doc-per-line files — into the
``documents`` shape (doc_id, text, source, n_chars) that every dedup/
quality/tokenize operator downstream consumes.

Design decisions, all scale-driven:

* **Deterministic content-addressed ids.** ``doc_id = xxhash64(source,
  text)`` — stable across reruns, partition counts, and cluster sizes,
  unlike ``monotonically_increasing_id`` (partition-dependent) or
  ``zipWithIndex`` (forces an extra pass + RDD round-trip). Re-ingesting
  the same corpus yields the same ids, which is what makes incremental
  dedup (operators/dedup.py::incremental_against) work across loads.
* **One doc per FILE or per LINE**, caller's choice — wholetext=True
  keeps multi-paragraph documents intact (Spark reads each file as one
  row; fine for document-sized files, wrong for giant concatenated
  shards), per-line is the JSONL/webtext layout (splittable, the 100 TB
  path).
* **Source from the file path**, relativized — the per-source quota /
  temperature-mixing operators key on it.

ORC round-trip: Spark's built-in ORC writer/reader (no extra package)
— the interchange format when the downstream warehouse is Hive/Trino-
flavored rather than parquet-flavored. Same pushdown/pruning behavior
as parquet via the native vectorized reader.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F


def read_text_corpus(
    spark: SparkSession,
    path: str,
    doc_per_file: bool = False,
    source_depth: int = 1,
) -> DataFrame:
    """Ingest a directory of raw text files as (doc_id, text, source,
    n_chars). ``doc_per_file=True`` reads each file as ONE document
    (wholetext); default is one document per line. ``source_depth``
    controls how many trailing path components (excluding the filename)
    form the ``source`` label, e.g. ``corpus/web/shard1.txt`` →
    ``web`` at depth 1."""
    df = spark.read.text(path, wholetext=doc_per_file)
    parts = F.split(F.input_file_name(), "/")
    # element_at is 1-based; negative offsets count from the end, so
    # -(source_depth+1) skips the filename and takes its parent dir(s)
    src = F.element_at(parts, -(source_depth + 1))
    out = (
        df.select(
            F.col("value").alias("text"),
            src.alias("source"),
        )
        .filter(F.length(F.trim(F.col("text"))) > 0)
        .select(
            F.xxhash64("source", "text").alias("doc_id"),
            "text",
            "source",
            F.length("text").cast("long").alias("n_chars"),
        )
    )
    return out


def write_orc(df: DataFrame, path: str, partition_by: list[str] | None = None) -> None:
    """Columnar ORC sink (built-in; zlib default compression). Partition
    columns become directory levels — the same partition-pruning
    contract as the parquet sink."""
    w = df.write.mode("overwrite")
    if partition_by:
        w = w.partitionBy(*partition_by)
    w.orc(path)


def read_orc(spark: SparkSession, path: str) -> DataFrame:
    """ORC scan via the native vectorized reader (filter/column pushdown
    and partition pruning work exactly as with parquet)."""
    return spark.read.orc(path)


def ingest_corpus_to_documents(
    spark: SparkSession,
    in_path: str,
    out_path: str,
    doc_per_file: bool = False,
) -> int:
    """Raw text tree → deduplicated ``documents`` parquet: ingest,
    exact-dedup on content hash (same text+source ingested twice keeps
    one row — content-addressed ids make this a plain distinct), and
    write files of about 128 MB of text each. Returns the row count
    written."""
    docs = read_text_corpus(spark, in_path, doc_per_file=doc_per_file).dropDuplicates(
        ["doc_id"]
    )
    est_bytes = docs.agg(F.sum("n_chars")).first()[0] or 0
    n_files = max(1, int(est_bytes // (128 << 20)) + 1)
    docs.repartition(n_files).write.mode("overwrite").parquet(out_path)
    return spark.read.parquet(out_path).count()
