"""Test-table registry: the driver's TPC-H-ish parquet datasets.

One `spark.read.parquet` per table — columnar scan, schema from parquet
footer, filter/column pushdown handled by Catalyst. Registered as temp
views so both the DataFrame and `spark.sql` query surfaces work.
"""

from __future__ import annotations

import os
import weakref

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql import types as T

TABLES = (
    "region",
    "nation",
    "customer",
    "supplier",
    "part",
    "orders",
    "lineitem",
    "events",
    "documents",
    "embeddings",
)

# Columns written as parquet TIMESTAMP(NANOS) — Spark can only read these
# as raw nanosecond longs (spark.sql.legacy.parquet.nanosAsLong); we convert
# to microsecond timestamps by truncation, matching DuckDB's ns→µs scan.
NANOS_TS_COLS: dict[str, tuple[str, ...]] = {"events": ("ts",)}


def _ensure_session_confs(spark: SparkSession) -> None:
    """Runtime confs the engine depends on, set defensively because the
    driver may hand us a session it configured itself."""
    spark.conf.set("spark.sql.legacy.parquet.nanosAsLong", "true")
    spark.conf.set("spark.sql.session.timeZone", "UTC")


def _normalize_temporals(df: DataFrame, name: str) -> DataFrame:
    """NTZ → LTZ (value-preserving under UTC) and nanos-long → timestamp."""
    nanos = set(NANOS_TS_COLS.get(name, ()))
    cols = []
    for f in df.schema.fields:
        c = F.col(f.name)
        if f.name in nanos and isinstance(f.dataType, T.LongType):
            # integral DIV: `/` would round-trip through double and lose µs
            c = F.timestamp_micros(F.expr(f"`{f.name}` DIV 1000"))
        elif isinstance(f.dataType, T.TimestampNTZType):
            c = c.cast("timestamp")
        cols.append(c.alias(f.name))
    return df.select(*cols)


# Plan-definition memo: (sf_dir, table) -> DataFrame, weakly keyed by
# session. NOTE: the weak keying is belt-and-braces, not a
# lifecycle guarantee — the memoized DataFrames strongly reference their
# SparkSession, so the value chain pins the weak key and entries persist
# for process lifetime until clear_table_memo() (bench.py's default
# clear_caches() path). That is acceptable: the memo holds plan objects
# only, a few KB per (sf_dir, table). This caches the
# PLAN object only — no rows, no persisted blocks; every action still
# scans the parquet files. Rationale (measured, round 10): each
# `spark.read.parquet` + temporal-normalize select costs ~90-100ms of
# driver-side footer reads and py4j chatter, and a full registry pass
# makes 500 such calls for ~10 distinct tables — 48s of a 143s build
# pass was redundant re-resolution of identical static inputs. Sources
# are immutable files within a session (the operators/util.memo
# premise); the maintenance operators' in-place rewrites call
# `clear_caches()`, which clears this memo too.
_table_memo: weakref.WeakKeyDictionary = weakref.WeakKeyDictionary()


def clear_table_memo() -> None:
    """Forget memoized table plans (all sessions). Called by
    operators.util.clear_caches(), so an in-place rewrite of the source
    files drops plan memos too."""
    _table_memo.clear()


def load_table(spark: SparkSession, sf_dir: str, name: str) -> DataFrame:
    if name not in TABLES:
        raise KeyError(f"unknown table {name!r}; known: {TABLES}")
    per_session = _table_memo.get(spark)
    if per_session is None:
        per_session = {}
        _table_memo[spark] = per_session
    key = (os.path.abspath(sf_dir), name)
    hit = per_session.get(key)
    if hit is not None:
        # Re-assert temporal confs on EVERY load: the
        # defensive contract is that a driver-owned session may change
        # spark.sql.session.timeZone mid-session; two conf.set
        # round-trips are negligible next to the ~90-100ms resolution
        # the memo saves.
        _ensure_session_confs(spark)
        return hit
    _ensure_session_confs(spark)
    df = spark.read.parquet(os.path.join(sf_dir, f"{name}.parquet"))
    df = _normalize_temporals(df, name)
    per_session[key] = df
    return df


def load_tables(
    spark: SparkSession, sf_dir: str, names: tuple[str, ...] = TABLES, register_views: bool = True
) -> dict[str, DataFrame]:
    out: dict[str, DataFrame] = {}
    for name in names:
        df = load_table(spark, sf_dir, name)
        if register_views:
            df.createOrReplaceTempView(name)
        out[name] = df
    return out
