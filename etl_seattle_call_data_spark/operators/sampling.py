"""Deterministic sampling operators for large-scale pipelines.

``df.sample()`` is seed-dependent per partitioning and not reproducible
across engines, which makes it unusable for (a) oracle-checked tests and
(b) production reruns that must select the same rows. These operators
sample by a cryptographic hash of a key column instead:

* reproducible across runs, engines, partitionings and cluster sizes;
* pure narrow map (a filter on a hash expression — no shuffle, pushdown
  of other predicates unaffected);
* consistent: the same key always lands in the same sample, so samples
  of two tables keyed the same way JOIN correctly (the classic
  "sample both sides consistently" trick for debugging joins at scale).

The hash is the engine-portable md5-prefix integer used across this
repo (``sketch.portable_hash_int``, ≡ DuckDB ('0x'||substr(md5(x),1,15))::BIGINT).
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F
from pyspark.sql.window import Window

from etl_seattle_call_data_spark.operators.sketch import portable_hash_int

STRATIFIED_DENOM = 10  # stratified_sample keeps ceil(n / 10) rows per stratum
SPLITS = {"train": 80, "val": 10, "test": 10}  # hash_split: percent per split


def hash_bucket(key_col, buckets: int):
    """Engine-portable deterministic bucket in [0, buckets)."""
    return portable_hash_int(key_col) % buckets


def hash_sample(df: DataFrame, key_col: str, percent: int) -> DataFrame:
    """Keep rows whose hash bucket (of 100) < ``percent`` — a
    deterministic ``percent``% sample. One filter, no shuffle, no seed."""
    return df.filter(hash_bucket(key_col, 100) < percent)


def stratified_sample(
    df: DataFrame,
    stratum_col: str,
    key_col: str,
) -> DataFrame:
    """EXACT per-stratum sampling: ceil(n_stratum / STRATIFIED_DENOM) rows
    from every stratum, chosen as the lowest hash values (deterministic,
    engine-portable). Unlike ``sampleBy`` this guarantees each stratum's
    sampled count exactly and never returns an empty stratum.

    Cost: one shuffle on the stratum (window rank + count) — the price
    of exactness; use ``hash_sample`` when approximate per-stratum
    fractions are fine."""
    h = hash_bucket(key_col, 1 << 31).alias("__h")
    w = Window.partitionBy(stratum_col).orderBy(F.col("__h"), F.col(key_col))
    wc = Window.partitionBy(stratum_col)
    return (
        df.withColumn("__h", h)
        .withColumn("__rn", F.row_number().over(w))
        .withColumn("__n", F.count(F.lit(1)).over(wc))
        .filter(F.col("__rn") <= F.expr(f"(__n + {STRATIFIED_DENOM - 1}) DIV {STRATIFIED_DENOM}"))
        .drop("__h", "__rn", "__n")
    )


def hash_split(df: DataFrame, key_col: str) -> DataFrame:
    """Deterministic train/val/test assignment: each row's portable hash
    bucket (of 100) maps to a named split by cumulative share, in
    percent (``SPLITS``, 80/10/10).
    Seedless and engine-portable — the same row lands in the same split
    on any engine, any partitioning, any run; adding rows never moves
    existing ones (the property random split lacks). Pure narrow map."""
    b = hash_bucket(key_col, 100)
    expr = None
    cum = 0
    for name, share in SPLITS.items():
        cum += share
        cond = b < cum
        expr = F.when(cond, name) if expr is None else expr.when(cond, name)
    return df.withColumn("split", expr)


def temperature_weights(
    df: DataFrame,
    group_col: str,
    budget: int,
) -> DataFrame:
    """Temperature-based source mixing (T = 2, i.e. weight ∝ √n): the
    standard multi-source LM sampling policy (multilingual/multi-corpus
    training upweights small sources relative to proportional sampling).

    Cross-engine exactness: a general n^(1/T) needs pow(), whose libm
    rounding differs across engines — √n is the IEEE-754 correctly-
    rounded case, so the pipeline quantizes w_q = floor(√n · 1000) to
    BIGINT and allocates ``budget`` expected samples by integer floor
    division. Output: one row per group with n_rows, w_q, sample_quota
    (= budget·w_q DIV Σw_q) and the double mixing fraction (one division
    at the end).

    Scale shape: one groupBy count over the corpus; everything after
    operates on the group-cardinality table (tiny), where the Σw_q
    window is a single-partition aggregate by construction."""
    from pyspark.sql.window import Window

    counts = df.groupBy(group_col).agg(F.count(F.lit(1)).alias("n_rows"))
    w_q = F.floor(F.sqrt(F.col("n_rows").cast("double")) * 1000).cast("long")
    weighted = counts.withColumn("w_q", w_q)
    total = F.sum("w_q").over(Window.partitionBy())
    return weighted.select(
        F.col(group_col),
        F.col("n_rows"),
        F.col("w_q"),
        F.expr(f"CAST({budget} * w_q AS BIGINT) DIV SUM(w_q) OVER ()").alias("sample_quota"),
        (F.col("w_q").cast("double") / total.cast("double")).alias("mix_frac"),
    )


def top_n_per_group(
    df: DataFrame,
    group_col: str,
    order_cols: list,
    n: int,
    rank_col: str = "rank",
) -> DataFrame:
    """Per-group quota cap: keep the top-``n`` rows of each group under a
    caller-supplied DETERMINISTIC order (callers must include a unique
    tie-break column, or the kept set is run-dependent).

    The canonical corpus use: cap documents per source/domain at N,
    ranked by quality — the "domain quota" step every web-scale corpus
    applies so one giant crawl domain cannot dominate the training mix.

    Scale shape: one shuffle on the group key, then a streaming window
    rank that emits at most n rows per group — no global sort, no
    collect. A skewed group (one domain = 30% of the corpus) serializes
    that group's rank into one task; pre-filter obvious bulk (exact
    dups) first, which is what corpus_clean_pipeline does upstream.
    """
    from pyspark.sql.window import Window

    w = Window.partitionBy(group_col).orderBy(*order_cols)
    return (
        df.withColumn(rank_col, F.row_number().over(w))
        .filter(F.col(rank_col) <= n)
    )
