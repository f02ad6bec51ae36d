"""Distributed running aggregates — exact rank, running sum and running
max in a total order WITHOUT a single-partition sort.

``Window.orderBy(...)`` with no partition spec funnels every row through
ONE task (Spark plans it as Exchange SinglePartition + sort) — correct,
and fatal at 100 TB. ``two_phase_scan`` is the one two-phase fix, for
every monoid the engine needs (``sum`` and ``max``; a rank is the
running sum of 1):

  1. bucket every row by a *coarse, order-aligned* key (e.g.
     ``floor(value / width)`` when scanning in ``value`` order) — all
     rows of bucket i sort strictly before all rows of bucket j > i;
  2. aggregate per (group, bucket) — a tiny table, bounded by
     #groups × (value range / width), NOT by data size — and fold it
     into per-bucket prefix offsets with a window over that bucket
     table, partitioned by the group columns. Nothing reaches the
     driver and nothing is materialized, so building the scan fires no
     Spark job, whatever its input;
  3. scan locally inside each (group, bucket) (a window PARTITIONED by
     the bucket — parallelism = groups × buckets, each task sorts only
     its bucket's rows) and combine with the bucket's offset, joined
     back on (group, bucket) — the key the local sort already shuffled
     on.

running[row] = offset[bucket] ⊕ local[row] is exact for any bucket
width; the width only tunes the bucket table's size and the per-task row
bound (a skewed bucket serializes its own population, nothing else). A
global scan has no group: its bucket table's window is partitioned by
a column-derived 0, so it stays hash-partitioned too.

``equidepth_bucket`` then maps ranks to NTILE(k)-identical bucket ids
(first ``n mod k`` buckets take the extra row — ANSI NTILE, which both
Spark and DuckDB implement), so equi-depth histograms keep their exact
NTILE oracle while the plan stays parallel.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F
from pyspark.sql.window import Window


_GUARD_MSG = (
    "two_phase_scan: coarse bucket or group key is NULL "
    "— the documented non-null precondition is violated; "
    "coalesce keys to a sentinel before ranking"
)

_AGGS = {"sum": F.sum, "max": F.max}


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


def two_phase_scan(
    df: DataFrame,
    group_cols: list[str],
    specs: list[tuple[str, list, Column, Column, str, bool]],
) -> DataFrame:
    """Exact running aggregates of ``df`` within each group of
    ``group_cols`` (``[]`` = one global group), one per spec
    ``(name, order_by, coarse, value, agg, exclusive)``:

    - ``name`` (long) is the running ``agg`` (``"sum"`` or ``"max"``)
      of ``value`` in ``order_by`` order — a rank is ``value=F.lit(1)``,
      ``agg="sum"``. ``exclusive=True`` aggregates the rows strictly
      before each row: an exclusive sum starts at 0, an exclusive max
      at NULL (the watermark shape).
    - ``<name>_total`` (long) is the ``agg`` over the whole group —
      the row count of a rank, the final value of a running sum — read
      off the same bounded bucket-table window, so no caller needs a
      second groupBy/join pass for it.

    ``coarse`` MUST be order-aligned with the leading ``order_by``
    column (monotone non-decreasing, e.g. ``floor(col / width)``);
    ``coarse`` and the group keys must be non-null (violations raise,
    never drop rows); ``value`` must be non-null and long-castable.
    ``order_by`` should be a TOTAL order (append a unique key): with
    duplicate sort keys the tied rows' running values are
    tie-order-dependent, exactly as in a plain window.

    Scale: per spec, one row-scale shuffle on (group, bucket) for the
    local scan and two small ones for the bucket table (its aggregate,
    then its window by group); the bounded offsets table joins back on
    (group, bucket) and, being bounded, normally fits the broadcast
    threshold.
    No Exchange SinglePartition anywhere, no driver collect.

    The scan never materializes its input: every spec's bucket table
    and the chained local scans read ``df``'s plan, so Catalyst
    evaluates ``df``'s upstream once per branch. A scan or projection
    upstream pipelines into each branch's shuffle write, which costs
    less than a barrier. Over an expensive upstream (a join, a large
    aggregate) the caller decides: it wraps ``df`` in
    ``util.checkpoint`` only where a barrier-vs-none A/B shows the
    barrier pays, and records the numbers in a NOTE at the call site.
    The plan's shape cannot decide it: ``interval_overlap_pairs`` has a
    join and a union upstream, yet a barrier there ground at sf100.
    """
    gcols = list(group_cols)
    out = _guard_group_cols(df, group_cols) if group_cols else df
    for i, (_, _, coarse, value, _, _) in enumerate(specs):
        out = out.withColumn(f"__cb{i}", _guarded_bucket(coarse)).withColumn(
            f"__v{i}", value.cast("long")
        )
    frame = out
    for i, (name, order_by, _, _, agg, exclusive) in enumerate(specs):
        fold, cb, v = _AGGS[agg], f"__cb{i}", f"__v{i}"
        # a global scan's bucket table is one group: partition its
        # window by 0 computed from a column, as a literal key is
        # folded out of the partition spec and plans an Exchange
        # SinglePartition
        wb = Window.partitionBy(*(gcols or [F.col(cb) * 0])).orderBy(cb).rowsBetween
        offsets = (
            out.groupBy(*gcols, cb)
            .agg(fold(v).alias("__b"))
            .select(
                *gcols,
                cb,
                fold("__b").over(wb(Window.unboundedPreceding, -1)).alias("__off"),
                fold("__b")
                .over(wb(Window.unboundedPreceding, Window.unboundedFollowing))
                .alias(f"{name}_total"),
            )
        )
        local = fold(v).over(
            Window.partitionBy(*gcols, cb)
            .orderBy(*order_by)
            .rowsBetween(Window.unboundedPreceding, -1 if exclusive else 0)
        )
        if agg == "sum":
            running = F.coalesce("__off", F.lit(0)) + F.coalesce("__loc", F.lit(0))
        else:
            running = F.greatest("__off", "__loc")
        frame = (
            frame.withColumn("__loc", local)
            .join(offsets, [*gcols, cb])
            .withColumn(name, running.cast("long"))
            .drop("__loc", "__off")
        )
    return frame.drop(*(f"__{c}{i}" for i in range(len(specs)) for c in ("cb", "v")))


def equidepth_bucket(rank: Column, n: Column, k: int) -> Column:
    """NTILE(k)-identical bucket id from a 1-based rank over ``n`` rows
    (a Column — typically a scan's ``<name>_total``, so per-group sizes
    work too): the first ``n mod k`` buckets hold ``ceil(n/k)`` rows,
    the rest ``floor(n/k)``; fewer rows than buckets → one row each —
    the ANSI NTILE contract both Spark and DuckDB implement, so an
    exact-NTILE oracle stays valid. Non-negative longs only (DIV
    truncation = floor)."""
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
