"""Count-min sketch built as a relational plan — the streaming-sketch
family member (frequency estimation) the engine exposes alongside HLL
distinct counting and approximate percentiles.

Why a CMS as DataFrames: the sketch is just a (depth × width) counter
table, and counter tables are what a groupBy produces. Building it
relationally keeps it mergeable for free (union the build inputs), keeps
Catalyst in charge (partial aggregation map-side), and makes it
oracle-checkable — every hash is the repo's engine-portable md5-prefix
integer, so DuckDB reproduces the sketch bit-for-bit.

Scale design: the naive build hashes every token INSTANCE (corpus-sized
shuffle × depth). ``cms_build`` instead aggregates exact per-key counts
first (one corpus shuffle on the key — vocabulary-sized output), then
builds the sketch from the count table (vocab-sized × depth, a rounding
error next to the corpus). Point lookups join a (typically broadcast)
probe set against the depth bucket rows and take the min estimate.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

CMS_DEPTH = 4  # hash rows (seeds) of the count-min sketch
CMS_WIDTH = 1024  # buckets per row


def md5_int(s, width: int = 15) -> F.Column:
    """The engine-portable md5 integer: the first ``width`` hex chars of
    md5 over the string column ``s``, as a long (60 bits at the default
    width, so it stays a non-negative signed 64-bit value). Identical in
    DuckDB as ('0x' || substr(md5(...), 1, width))::BIGINT. The caller
    builds (and salts) the string, so each plan keeps its own
    expression tree."""
    return F.conv(F.substring(F.md5(s), 1, width), 16, 10).cast("long")


# ``md5_int`` spelled as Spark SQL, for hashes inside a SQL lambda.
MD5_INT_SQL = "CAST(conv(substr(md5({x}), 1, 15), 16, 10) AS BIGINT)"


def portable_hash_int(col, salt: str = "") -> F.Column:
    """``md5_int`` of ``col`` cast to string, salted as '<salt>:<col>'."""
    c = F.col(col) if isinstance(col, str) else col
    salted = F.concat(F.lit(f"{salt}:"), c.cast("string")) if salt != "" else c.cast("string")
    return md5_int(salted)


def cms_build(
    keyed_counts: DataFrame,
    key_col: str,
    count_col: str,
) -> DataFrame:
    """(seed, bucket, total) sketch table from an exact per-key count
    table. CMS_DEPTH×CMS_WIDTH rows — tiny, mergeable by summing totals."""
    rows = None
    for s in range(CMS_DEPTH):
        r = keyed_counts.select(
            F.lit(s).alias("seed"),
            (portable_hash_int(key_col, salt=str(s)) % CMS_WIDTH).alias("bucket"),
            F.col(count_col).alias("__c"),
        )
        rows = r if rows is None else rows.unionAll(r)
    return rows.groupBy("seed", "bucket").agg(F.sum("__c").alias("total"))


def cms_estimate(
    sketch: DataFrame,
    probes: DataFrame,
    key_col: str,
) -> DataFrame:
    """min-over-seeds estimate for each probe key. The probe set is
    small by construction (you look up specific keys), so both the
    per-seed bucket join and the final min-agg broadcast."""
    keyed = probes.select(
        F.col(key_col),
        *[
            (portable_hash_int(key_col, salt=str(s)) % CMS_WIDTH).alias(f"__b{s}")
            for s in range(CMS_DEPTH)
        ],
    )
    est = None
    for s in range(CMS_DEPTH):
        e = keyed.select(
            F.col(key_col), F.lit(s).alias("seed"), F.col(f"__b{s}").alias("bucket")
        )
        est = e if est is None else est.unionAll(e)
    joined = est.join(sketch, ["seed", "bucket"])
    return joined.groupBy(key_col).agg(F.min("total").alias("cms_estimate"))
