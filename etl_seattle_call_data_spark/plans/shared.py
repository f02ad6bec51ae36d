"""Helpers shared by two or more plan domain modules.

Two kinds live here, and nothing else: a helper used by a single domain
stays in that domain's module.

* Cross-query memoized intermediates. The market-basket family
  (copurchase_part_pairs, association_rules_lift,
  pagerank_copurchase_3iter, triangle_count_copurchase) all start from
  the same distinct (order, part) item table and its bounded self-join
  pair counts. Memoizing both under a token (operators/util.memo — plan
  build skipped on repeat hits, same registry as the dedup family's
  shingle memo) means the expensive pair join runs ONCE per corpus per
  session; every downstream graph/rule query derives from the held
  table.
* Cross-engine SQL/expression fragments: the quotient+remainder
  double split (``_split_double``) and its ``_sp``/``_du`` dialect
  shim, the DuckDB tokenizer fragment, integral cents, the decimal(18,6) accumulator type and the
  microseconds-per-day constant. Each one is spelled once so the Spark
  side and the DuckDB oracle of every caller stay bit-identical by
  construction.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame, SparkSession
from pyspark.sql import functions as F

from etl_seattle_call_data_spark.operators.util import memo
from etl_seattle_call_data_spark.sources.registry import load_table


def memo_basket_items(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Distinct (l_orderkey, l_partkey) — the market-basket item table —
    HASH-PARTITIONED ON ``l_orderkey`` under the persist. The distinct
    shuffles on that one key instead of on both (the same rows), and
    every basket self-join on ``l_orderkey`` then reads both arms from
    the cache with no exchange."""
    return memo(
        "basket:items",
        lambda: load_table(spark, sf_dir, "lineitem")
        .select("l_orderkey", "l_partkey")
        .repartition("l_orderkey")
        .distinct(),
        token=("basket:items", sf_dir),
    )


def memo_copurchase_pairs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """(part_a, part_b, n_ab) with part_a < part_b: co-occurrence counts
    from the bounded basket self-join (Σ basket², ~7-line baskets)."""

    def build() -> DataFrame:
        # Shuffled hash join by hint, on the cache's l_orderkey
        # partitioning: no exchange. Left to AQE, the 600k-row item table
        # of sf0.1 fits the broadcast threshold, and this memo then pins
        # its 35 MB hash relation on the driver heap for the session
        # (tools/memo_audit.py: the key holds 67 MB of live heap
        # broadcast, 17.5 MB shuffled; that is the cached pair table
        # itself, 8.6 MB by the block manager).
        items = memo_basket_items(spark, sf_dir)
        a, b = items.alias("a"), items.alias("b").hint("shuffle_hash")
        return (
            a.join(
                b,
                (F.col("a.l_orderkey") == F.col("b.l_orderkey"))
                & (F.col("a.l_partkey") < F.col("b.l_partkey")),
            )
            .groupBy(
                F.col("a.l_partkey").alias("part_a"),
                F.col("b.l_partkey").alias("part_b"),
            )
            .agg(F.count(F.lit(1)).cast("bigint").alias("n_ab"))
        )

    return memo("basket:pairs", build, token=("basket:pairs", sf_dir))


def memo_copurchase_edges(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Symmetric directed co-purchase edge list (src, dst, n_ab) — each
    undirected pair mirrored both ways — HASH-PARTITIONED ON ``src`` and
    persisted once per corpus per session.

    The whole iterative-graph family (PageRank, label propagation,
    k-core peeling, Bellman-Ford) starts from this same frame and joins
    it on ``src`` once per round. Materializing the union once and
    pinning ``repartition(src)`` UNDER the persist means every one of
    those joins (and every ``groupBy(src)`` degree aggregate) satisfies
    its required distribution from the cache: Catalyst adds an Exchange
    only to the small node-state side, so the fact-scale edge frame is
    shuffled ZERO times per round instead of once — the saving
    multiplies by rounds x queries within a bench session. Derive
    per-query weights by projection; never re-union the pair table.

    Heap: ``tools/memo_audit.py`` (sf0.1, one registry pass) measures
    this key at 34 MB of live driver heap with no broadcast in its plan.
    That is the cached edge list itself (16.8 MB by the block manager),
    the reuse this memo exists for.
    """

    def build() -> DataFrame:
        prs = memo_copurchase_pairs(spark, sf_dir)
        sym = prs.select(
            F.col("part_a").alias("src"), F.col("part_b").alias("dst"), "n_ab"
        ).unionByName(
            prs.select(
                F.col("part_b").alias("src"), F.col("part_a").alias("dst"), "n_ab"
            )
        )
        return sym.repartition(F.col("src"))

    return memo("basket:edges", build, token=("basket:edges", sf_dir))


# DuckDB fragments mirroring operators/text.py primitives
_DUCK_TOKENS = "list_filter(string_split(text, ' '), x -> x <> '')"


_DEC6 = "decimal(18,6)"


def _split_double(col_name: str) -> str:
    """SQL fragment turning an exact integral column (DECIMAL/HUGEINT,
    possibly > 2^53) into the correctly-rounded DOUBLE via the
    quotient+remainder split: both parts are < 2^53 so their casts are
    exact, the 2^26 rescale is a power of two (exact), and the single
    final addition rounds once — identically on both engines. Uses the
    engine-portable truncating division (Spark `DIV` ≡ DuckDB `//`,
    rule 25), consistent with `%` for negative inputs."""
    return (
        f"(CAST({col_name} {{div}} 67108864 AS DOUBLE) * 67108864.0"
        f" + CAST({col_name} % 67108864 AS DOUBLE))"
    )


_SPLIT_SPARK = {"div": "DIV"}
_SPLIT_DUCK = {"div": "//"}


def _sp(expr: str) -> str:
    return _split_double(expr).format(**_SPLIT_SPARK)


def _du(expr: str) -> str:
    return _split_double(expr).format(**_SPLIT_DUCK)


def _cents(col: Column) -> Column:
    return F.round(col * 100).cast("bigint")


# microseconds per day: epoch_us(ts) DIV _DAY is the integral epoch day
_DAY = "86400000000"
