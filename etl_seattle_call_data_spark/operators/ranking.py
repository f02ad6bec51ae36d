"""Distributed global ranking — exact total-order rank WITHOUT a
single-partition sort.

``Window.orderBy(...)`` with no partition spec funnels every row through
ONE task (Spark plans it as Exchange SinglePartition + sort) — correct,
and fatal at 100 TB. The classic fix is the two-phase global rank:

  1. bucket every row by a *coarse, order-aligned* key (e.g.
     ``floor(value / width)`` when ranking by ``value``) — all rows of
     bucket i sort strictly before all rows of bucket j > i;
  2. count rows per bucket — a tiny aggregate, bounded by
     (value range / width), NOT by data size — and turn the counts into
     per-bucket prefix offsets on the driver (the one bounded collect,
     same legitimate-tiny class as the IVF codebook);
  3. rank locally inside each bucket (``row_number`` over a window
     PARTITIONED by the bucket — parallelism = #buckets, each task sorts
     only its bucket's rows) and add the broadcast offset.

global_rank = offset[bucket] + local_rank is exact for any bucket width;
the width only tunes the collect size and the per-task row bound (a
skewed bucket serializes its own population, nothing else). No stage
sorts more than one bucket; nothing shuffles twice.

``equidepth_bucket`` then maps ranks to NTILE(k)-identical bucket ids
(first ``n mod k`` buckets take the extra row — ANSI NTILE, which both
Spark and DuckDB implement), so equi-depth histograms keep their exact
NTILE oracle while the plan stays parallel.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F
from pyspark.sql.window import Window

from etl_seattle_call_data_spark.operators.util import checkpoint


_GUARD_MSG = (
    "two_phase rank/cumsum: coarse bucket or group key is NULL "
    "— the documented non-null precondition is violated; "
    "coalesce keys to a sentinel before ranking"
)


def _guarded_bucket(coarse: Column) -> Column:
    """``coarse.cast("long")`` that RAISES on a NULL bucket instead of
    silently dropping rows: a NULL coarse bucket would otherwise vanish
    in the offsets join and produce wrong ranks with no signal.
    ``raise_error`` fires lazily inside the executors, so the check is
    free on conforming data — even when the join's inferred
    ``IsNotNull(__cb)`` filter is pushed below this projection, the
    pushed predicate rewrites to this CASE and still raises."""
    cb = coarse.cast("long")
    return F.when(cb.isNotNull(), cb).otherwise(
        F.raise_error(F.lit(_GUARD_MSG)).cast("long")
    )


def _guard_group_cols(df: DataFrame, group_cols: list[str]) -> DataFrame:
    """Overwrite each group column with a raising-on-NULL copy. The
    inner offsets join null-filters its keys BELOW the projection, so a
    guard expressed as a separate check column never sees the pruned
    rows; rewriting the key itself makes the pushed ``IsNotNull`` filter
    evaluate the raising CASE on every violating row."""
    out = df
    for g, field in zip(group_cols, (df.schema[g] for g in group_cols)):
        col = F.col(g)
        out = out.withColumn(
            g,
            F.when(col.isNotNull(), col).otherwise(
                F.raise_error(F.lit(_GUARD_MSG)).cast(field.dataType)
            ),
        )
    return out


def two_phase_rank(
    df: DataFrame,
    order_by: list[str],
    coarse: Column,
    rank_name: str = "global_rank",
    materialize: bool = True,
) -> tuple[DataFrame, int]:
    """Exact 1-based global rank of ``df`` in ``order_by`` order.

    ``coarse`` MUST be order-aligned with the leading ``order_by``
    column (monotone non-decreasing, e.g. ``floor(col / width)``) and
    non-null. Returns ``(frame with rank_name column, total row count)``
    — the count is free (same tiny collect that builds the offsets).

    Scale: one shuffle on the coarse bucket for the local sort, one
    bounded driver collect of #buckets (cb, count) pairs, one broadcast
    join of the offsets. No Exchange SinglePartition anywhere.

    The bucketed input goes through ``util.checkpoint``: the offsets
    collect below must evaluate the full upstream anyway, and without a
    materialization the downstream rank join would evaluate it a SECOND
    time — chained passes (rfm_segments runs three) would pay O(k²)
    upstream walks. Every two-phase helper consumes its bucketed frame
    from 2+ plan branches the same way. Callers whose upstream is a
    CHEAP scan/projection pass ``materialize=False``: pipelining a cheap
    scan into each consumer's shuffle write beats paying the barrier
    (the measured counter-example: ``q_skipgram_cooccurrence``'s NOTE).
    """
    spark = df.sparkSession
    bucketed = df.withColumn("__cb", _guarded_bucket(coarse))
    if materialize:
        bucketed = checkpoint(bucketed)
    counts = sorted(
        (r["__cb"], r["n"])
        for r in bucketed.groupBy("__cb").agg(F.count(F.lit(1)).alias("n")).collect()
    )
    offsets, running = [], 0
    for cb, n in counts:
        offsets.append((cb, running))
        running += n
    total = running
    off_df = spark.createDataFrame(offsets, "__cb long, __offset long")
    local = F.row_number().over(
        Window.partitionBy("__cb").orderBy(*order_by)
    )
    return (
        bucketed.withColumn("__lrank", local)
        .join(F.broadcast(off_df), "__cb")
        .withColumn(rank_name, (F.col("__offset") + F.col("__lrank")).cast("long"))
        .drop("__cb", "__lrank", "__offset"),
        total,
    )


def two_phase_multi_rank(
    df: DataFrame,
    specs: list[tuple[list[str], Column, str]],
    materialize: bool = True,
) -> tuple[DataFrame, int]:
    """Several independent exact global ranks over the SAME frame in one
    pass — ``[(order_by, coarse, rank_name), ...]`` — equivalent to
    chaining ``two_phase_rank`` once per spec but with ONE
    materialization barrier instead of one per spec.

    Chained single-rank calls each checkpoint their input, so k ranks
    serialize k materialization jobs plus k collects (rfm_segments ran
    three). Here every coarse bucket column is attached up front, the
    frame checkpoints once, the k bounded offset collects read the same
    materialized blocks, and the k window+broadcast-join passes chain
    inside ONE plan (each generation has exactly one consumer — no
    multi-consumer re-evaluation). Same contract per spec as
    ``two_phase_rank``: coarse order-aligned with the leading order_by
    column and non-null. Returns ``(frame, total_rows)``."""
    spark = df.sparkSession
    out = df
    for i, (_, coarse, _) in enumerate(specs):
        out = out.withColumn(f"__cb{i}", _guarded_bucket(coarse))
    bucketed = checkpoint(out) if materialize else out
    frame, total = bucketed, 0
    for i, (order_by, _, rank_name) in enumerate(specs):
        cb = f"__cb{i}"
        counts = sorted(
            (r[cb], r["n"])
            for r in bucketed.groupBy(cb).agg(F.count(F.lit(1)).alias("n")).collect()
        )
        offsets, running = [], 0
        for b, n in counts:
            offsets.append((b, running))
            running += n
        total = running
        off_df = spark.createDataFrame(offsets, f"{cb} long, __offset long")
        local = F.row_number().over(Window.partitionBy(cb).orderBy(*order_by))
        frame = (
            frame.withColumn("__lrank", local)
            .join(F.broadcast(off_df), cb)
            .withColumn(rank_name, (F.col("__offset") + F.col("__lrank")).cast("long"))
            .drop(cb, "__lrank", "__offset")
        )
    return frame, total


def _idiv(a: Column, b: int) -> Column:
    """Exact integer floor-division of a non-negative long column by a
    positive literal: (a - a%b)/b divides two exactly-representable
    doubles with an integer quotient — IEEE round-to-nearest returns it
    exactly, with none of the near-integer truncation risk a bare
    ``cast(a/b as int)`` carries."""
    lit = F.lit(b)
    return ((a - F.pmod(a, lit)) / lit).cast("long")


def equidepth_bucket(rank: Column, n: int, k: int) -> Column:
    """NTILE(k)-identical bucket id from a 1-based global rank over
    ``n`` rows: the first ``n mod k`` buckets hold ``ceil(n/k)`` rows,
    the rest ``floor(n/k)`` — the ANSI NTILE contract both Spark and
    DuckDB implement, so an exact-NTILE oracle stays valid."""
    q, rem = divmod(n, k)
    if q == 0:
        # fewer rows than buckets: bucket = rank (ANSI: one row each)
        return rank.cast("int")
    big = rem * (q + 1)  # rows living in the (q+1)-sized buckets
    return (
        F.when(rank <= F.lit(big), F.lit(1) + _idiv(rank - F.lit(1), q + 1))
        .otherwise(F.lit(rem + 1) + _idiv(rank - F.lit(big + 1), q))
        .cast("int")
    )


def equidepth_bucket_grouped(rank: Column, n: Column, k: int) -> Column:
    """Column-typed ``equidepth_bucket``: NTILE(k)-identical bucket id
    when the group size ``n`` is a COLUMN (per-group totals attached by
    a join) rather than a driver scalar — the grouped-rank companion.
    Same ANSI NTILE contract: first ``n mod k`` buckets take ceil(n/k)
    rows, the rest floor(n/k); fewer rows than buckets → one row each.
    Non-negative longs only (DIV truncation = floor)."""
    q = n - F.pmod(n, F.lit(k))  # k*floor(n/k), still a long
    # exact long floor-divisions via DIV on non-negative operands
    qd = (q / k).cast("long")  # floor(n/k): q is divisible by k
    rem = F.pmod(n, F.lit(k))
    big = rem * (qd + 1)
    return (
        F.when(qd == 0, rank)
        .when(rank <= big, F.lit(1) + ((rank - 1) - F.pmod(rank - 1, qd + 1)) / (qd + 1))
        .otherwise(
            rem + 1 + ((rank - big - 1) - F.pmod(rank - big - 1, qd)) / qd
        )
        .cast("int")
    )


def two_phase_rank_in_groups(
    df: DataFrame,
    group_cols: list[str],
    order_by: list[str],
    coarse: Column,
    rank_name: str = "group_rank",
    materialize: bool = True,
) -> DataFrame:
    """Exact 1-based rank WITHIN each group, without ranking any group
    on a single task — the grouped form of ``two_phase_rank`` for when
    groups are few-but-huge (per-source, per-tenant, per-day ranking: a
    plain ``Window.partitionBy(group)`` serializes each group through
    one reducer).

    Unlike the global variant there is NO driver collect at all: the
    per-(group, bucket) counts roll into per-group prefix offsets with
    a window over the BUCKET table (rows per group = #buckets — bounded
    sketch-sized state, not data), and the offsets join back on
    (group, bucket) — the same key the local sort already shuffled on.
    Parallelism = groups × buckets; a skewed bucket serializes only its
    own rows. ``coarse`` must be order-aligned with the leading
    ``order_by`` column and non-null.
    """
    # ``bucketed`` feeds BOTH the counts branch and the rank-join probe
    # side of one plan — un-materialized, Catalyst evaluates the
    # upstream once per branch.
    bucketed = _guard_group_cols(df, group_cols).withColumn(
        "__cb", _guarded_bucket(coarse)
    )
    if materialize:
        bucketed = checkpoint(bucketed)
    counts = bucketed.groupBy(*group_cols, "__cb").agg(
        F.count(F.lit(1)).alias("__n")
    )
    woff = (
        Window.partitionBy(*group_cols)
        .orderBy("__cb")
        .rowsBetween(Window.unboundedPreceding, -1)
    )
    offsets = counts.select(
        *group_cols,
        "__cb",
        F.coalesce(F.sum("__n").over(woff), F.lit(0)).alias("__offset"),
    )
    local = F.row_number().over(
        Window.partitionBy(*group_cols, "__cb").orderBy(*order_by)
    )
    return (
        bucketed.withColumn("__lrank", local)
        .join(offsets, [*group_cols, "__cb"])
        .withColumn(rank_name, (F.col("__offset") + F.col("__lrank")).cast("long"))
        .drop("__cb", "__lrank", "__offset")
    )


def two_phase_cumsum_in_groups(
    df: DataFrame,
    group_cols: list[str],
    order_by: list[str],
    coarse: Column,
    weight: Column,
    cum_name: str = "cumw",
    materialize: bool = True,
) -> DataFrame:
    """Exact INCLUSIVE running sum of ``weight`` in ``order_by`` order
    within each group, without serializing any group through one task —
    the prefix-sum generalization of ``two_phase_rank_in_groups`` (rank
    is the weight≡1 special case). Per-(group, bucket) weight totals
    roll into per-group prefix offsets via a window over the bounded
    bucket table; the local running sum windows over (group, bucket)
    only. Weighted medians/quantiles, Lorenz curves, and capacity
    packing all reduce to this. ``coarse`` must be order-aligned with
    the leading ``order_by`` column and non-null; ``weight`` must be
    non-null.
    """
    # same two-consumer shape as two_phase_rank_in_groups (totals
    # branch + cumsum-join probe).
    bucketed = (
        _guard_group_cols(df, group_cols)
        .withColumn("__cb", _guarded_bucket(coarse))
        .withColumn("__w", weight.cast("long"))
    )
    if materialize:
        bucketed = checkpoint(bucketed)
    totals = bucketed.groupBy(*group_cols, "__cb").agg(
        F.sum("__w").alias("__bw")
    )
    woff = (
        Window.partitionBy(*group_cols)
        .orderBy("__cb")
        .rowsBetween(Window.unboundedPreceding, -1)
    )
    offsets = totals.select(
        *group_cols,
        "__cb",
        F.coalesce(F.sum("__bw").over(woff), F.lit(0)).alias("__offset"),
    )
    local = F.sum("__w").over(
        Window.partitionBy(*group_cols, "__cb")
        .orderBy(*order_by)
        .rowsBetween(Window.unboundedPreceding, 0)
    )
    return (
        bucketed.withColumn("__lcum", local)
        .join(offsets, [*group_cols, "__cb"])
        .withColumn(cum_name, (F.col("__offset") + F.col("__lcum")).cast("long"))
        .drop("__cb", "__lcum", "__offset", "__w")
    )


def two_phase_running_max(
    df: DataFrame,
    order_by: list[str],
    coarse: Column,
    value: Column,
    out_name: str = "runmax",
    exclusive: bool = False,
    materialize: bool = True,
) -> DataFrame:
    """Exact running MAX of ``value`` in global ``order_by`` order
    without a single-partition window — the max-monoid sibling of
    ``two_phase_rank`` (streaming watermarks, high-water marks, and
    record-to-date series all reduce to this).

    Phase 1 computes per-bucket maxima (one tiny aggregate, bounded by
    the coarse-bucket count, not rows); the strictly-before-bucket
    prefix maxima are folded on the driver (the same legitimate bounded
    collect as ``two_phase_rank``'s offsets) and broadcast back. Phase 2
    windows only WITHIN each bucket. ``exclusive=True`` yields the
    strictly-before running max (NULL for the globally first row) —
    the watermark shape; otherwise the inclusive high-water mark.
    ``coarse`` must be order-aligned with the leading ``order_by``
    column and non-null; ``value`` must be non-null and long-castable.
    ``order_by`` must be a TOTAL order within each coarse bucket
    (append a unique key, e.g. the row id, as the last sort column):
    with duplicate sort keys the ``exclusive`` (1 PRECEDING) frame is
    tie-order-dependent and can nondeterministically diverge from a
    single-partition oracle window.
    """
    spark = df.sparkSession
    # the maxima collect below walks the full upstream; without the
    # checkpoint the phase-2 window join walks it again.
    bucketed = df.withColumn("__cb", _guarded_bucket(coarse)).withColumn(
        "__v", value.cast("long")
    )
    if materialize:
        bucketed = checkpoint(bucketed)
    maxima = sorted(
        (r["__cb"], r["m"])
        for r in bucketed.groupBy("__cb").agg(F.max("__v").alias("m")).collect()
    )
    prefix: list[tuple[int, int | None]] = []
    running: int | None = None
    for cb, m in maxima:
        prefix.append((cb, running))
        running = m if running is None else max(running, m)
    off_df = spark.createDataFrame(prefix, "__cb long, __premax long")
    frame_end = -1 if exclusive else 0
    local = F.max("__v").over(
        Window.partitionBy("__cb")
        .orderBy(*order_by)
        .rowsBetween(Window.unboundedPreceding, frame_end)
    )
    return (
        bucketed.withColumn("__lmax", local)
        .join(F.broadcast(off_df), "__cb")
        .withColumn(out_name, F.greatest("__lmax", "__premax"))
        .drop("__cb", "__lmax", "__premax", "__v")
    )
