"""Temporal join operators the reference lacks but a call/event analytics
engine needs: as-of join and bounded range join.

The reference's only join is a left-anti equi-join
(/root/reference/ETL_Pipeline_Batch/transform.py:138-143); its star schema
implies plain equi-joins (README.md:66-82). These operators extend that
surface to event-time correlation — "latest state at-or-before t" and
"events within a time window of t" — with 100 TB-safe plans:

* ``asof_join`` is the union+window formulation: ONE shuffle on the key
  (no inequality join, no per-row probe). Both inputs are tagged and
  unioned, then a running ``last(right_payload, ignorenulls=True)`` over
  (key, time) carries the most recent right row forward onto each left
  row. Wall cost = one shuffle + one sort, independent of time-window
  density, and AQE handles skewed keys.
* ``range_join_count`` buckets time into fixed windows so the candidate
  join is an equi-join on (key, bucket) — each left row explodes to the
  few buckets its window overlaps, the exact predicate filters inside
  the bucket. This is the standard interval-bucketing rewrite; the
  alternative (theta join on the inequality) is a broadcast nested loop
  that dies at scale.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F
from pyspark.sql.window import Window

MICROS = 1_000_000
HOT_SHARE_PPM = 10_000  # hot_salted_join: a hot key holds > 1% of fact rows
MAX_HOT_KEYS = 64  # hot_salted_join: at most this many keys are salted


def salted_join(
    fact: DataFrame,
    dim: DataFrame,
    on: list[str],
    salt_by: str,
    n_salts: int = 8,
    how: str = "inner",
) -> DataFrame:
    """Skew-safe equi-join: identical results to ``fact.join(dim, on,
    how)`` but a hot join key's rows spread over ``n_salts`` tasks.

    Fact-preserving joins only (inner/left/left_semi/left_anti): the
    rewrite replicates the DIM side, so a dim row with no fact match
    would surface ``n_salts`` duplicate null-padded rows under
    right/full-outer semantics — those joins are rejected rather than
    silently wrong (salt the other side instead).

    Standard salting rewrite: the fact side gets a deterministic salt
    (hash of ``salt_by``, a fact-side unique-ish column — deterministic
    where the usual ``rand()`` salt is not, so retried stages and reruns
    produce identical partitioning), the dim side is replicated to every
    salt value, and the join key becomes (on…, salt). Each fact row
    still meets each matching dim row exactly once.

    Use when a shuffled hash join skews on hot keys AND the dim side is
    too big to broadcast outright (broadcast is strictly better when it
    fits — the replication here costs n_salts× the dim shuffle volume).
    AQE's skew-join split handles sort-merge skew adaptively; this
    operator is the explicit/deterministic form for pipelines that need
    plan stability."""
    if how.replace("_", "").lower() not in {"inner", "left", "leftouter", "leftsemi", "leftanti"}:
        raise ValueError(
            f"salted_join supports fact-preserving joins only, not {how!r}: "
            "the replicated dim side would emit duplicate unmatched rows"
        )
    f = fact.withColumn(
        "__salt", F.pmod(F.xxhash64(F.col(salt_by).cast("string")), F.lit(n_salts)).cast("int")
    )
    d = dim.withColumn("__salt", F.explode(F.sequence(F.lit(0), F.lit(n_salts - 1))))
    return f.join(d, on + ["__salt"], how).drop("__salt")


def hot_salted_join(
    fact: DataFrame,
    dim: DataFrame,
    on: list[str],
    salt_by: str,
    n_salts: int = 8,
) -> DataFrame:
    """Differentiated (hot-key-only) salting: identical results to
    ``fact.join(dim, on, "inner")`` but ONLY the detected heavy-hitter
    keys are salted — cold keys join unsalted, and the dim replicates
    just its hot rows, so the rewrite costs n_salts x |hot keys| extra
    dim rows instead of ``salted_join``'s n_salts x |dim|.

    Why this exists (measured, tools/skew_bench.py): blanket salting
    only pays when the dim is far smaller than the fact; with a
    2M-row part dim against a 6M-row lineitem, replicating the dim 8x
    costs MORE than the hot key's straggler saves. Production engines
    therefore salt differentially. At 100 TB the hot set is what one
    reducer drowns in — a key owning 1% of a 100 TB fact table sends
    1 TB through a single task no matter how many executors exist.

    Hot-key detection is one fact-side aggregate: keys with more than
    ``HOT_SHARE_PPM`` of fact rows (1%), capped at ``MAX_HOT_KEYS`` — a
    bounded driver collect (the same legitimate class as ranking.py's
    bucket offsets: heavy hitters above a share floor are at most
    1e6/HOT_SHARE_PPM keys by pigeonhole). The hot
    list is broadcast into both sides' salt expressions.

    Inner joins only (the cold/hot split unions two inner legs;
    outer-variants would need unmatched-row reconciliation across the
    legs — use salted_join's fact-preserving forms there)."""
    # NULL keys never match an inner equi-join, so they need no salting
    # — and a NULL heavy hitter (the classic null-FK skew case) would
    # otherwise produce a void-typed literal that breaks array_contains
    not_null = F.lit(True)
    for c in on:
        not_null = not_null & F.col(c).isNotNull()
    joinable = fact.filter(not_null)
    # __tot over the SAME not-null frame as the per-key counts: on a
    # heavily-null FK, an unfiltered total would dilute every joinable
    # key's share and let a key owning most joinable rows slip under
    # HOT_SHARE_PPM (perf-only miss, but exactly the skew case this
    # operator exists for)
    counts = (
        joinable
        .groupBy(*on)
        .agg(F.count(F.lit(1)).alias("__n"))
        .crossJoin(
            F.broadcast(joinable.agg(F.count(F.lit(1)).alias("__tot")))
        )
        .filter(F.col("__n") * 1_000_000 > F.col("__tot") * HOT_SHARE_PPM)
        .orderBy(F.desc("__n"), *on)
        .limit(MAX_HOT_KEYS)
    )
    hot = [tuple(r[c] for c in on) for r in counts.collect()]
    if not hot:
        return fact.join(dim, on, "inner")
    # single-column keys dominate; build an IN-style membership predicate.
    # Cast every literal to the fact column's exact type: Python-literal
    # inference (int -> bigint, Decimal/str quirks) would otherwise make
    # the struct types mismatch and fail array_contains analysis on
    # int32/decimal keys.
    key_types = {c: fact.schema[c].dataType for c in on}
    # cast the probe side too: is_hot is evaluated against BOTH frames,
    # and dim may carry a narrower key type than fact
    key_struct = F.struct(*[F.col(c).cast(key_types[c]).alias(c) for c in on])
    hot_lit = F.array(
        *[
            F.struct(
                *[
                    F.lit(v).cast(key_types[c]).alias(c)
                    for c, v in zip(on, key)
                ]
            )
            for key in hot
        ]
    )
    is_hot = F.array_contains(hot_lit, key_struct)
    f = fact.withColumn(
        "__salt",
        F.when(
            is_hot,
            F.pmod(F.xxhash64(F.col(salt_by).cast("string")), F.lit(n_salts)),
        )
        .otherwise(F.lit(0))
        .cast("int"),
    )
    d = dim.withColumn(
        "__salt",
        # generators can't nest in expressions: explode the int array
        # directly (sequence/array of int literals is already array<int>)
        F.explode(
            F.when(is_hot, F.sequence(F.lit(0), F.lit(n_salts - 1))).otherwise(
                F.array(F.lit(0))
            )
        ),
    )
    return f.join(d, on + ["__salt"], "inner").drop("__salt")


def asof_join(
    left: DataFrame,
    right: DataFrame,
    on: list[str],
    left_ts: str,
    right_ts: str,
    tie_col: str,
    right_payload: list[str],
    prefix: str = "r_",
) -> DataFrame:
    """Backward as-of join: for each left row, the right row with the
    largest ``right_ts <= left_ts`` (ties on right_ts broken by the
    largest ``tie_col``) sharing the ``on`` keys. Left-outer semantics:
    unmatched left rows keep null payload columns.

    Output = all left columns + ``prefix + c`` for c in right_payload.
    """
    payload = F.struct(*[F.col(c) for c in right_payload]).alias("__r")
    l_tag = left.select(
        *[F.col(c) for c in left.columns],
        F.col(left_ts).alias("__ts"),
        F.lit(1).alias("__is_left"),
        # left rows sort after right rows at equal ts (inclusive backward
        # match) regardless of tie value
        F.lit(None).cast("long").alias("__tie"),
        F.lit(None).cast(
            "struct<" + ",".join(f"{c}:{right.schema[c].dataType.simpleString()}" for c in right_payload) + ">"
        ).alias("__r"),
    )
    r_tag = right.select(
        *[F.lit(None).cast(left.schema[c].dataType).alias(c) for c in left.columns if c not in on],
        *[F.col(c) for c in on],
        F.col(right_ts).alias("__ts"),
        F.lit(0).alias("__is_left"),
        F.col(tie_col).cast("long").alias("__tie"),
        payload,
    )
    u = l_tag.unionByName(r_tag)
    w = (
        Window.partitionBy(*on)
        .orderBy(F.col("__ts").asc(), F.col("__is_left").asc(), F.col("__tie").asc_nulls_last())
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    )
    matched = u.withColumn("__m", F.last("__r", ignorenulls=True).over(w))
    out_cols = [F.col(c) for c in left.columns] + [
        F.col(f"__m.{c}").alias(f"{prefix}{c}") for c in right_payload
    ]
    return matched.filter(F.col("__is_left") == 1).select(*out_cols)


def range_join_count(
    left: DataFrame,
    right: DataFrame,
    on: list[str],
    left_ts: str,
    right_ts: str,
    lower_offset_s: int,
    upper_offset_s: int,
    left_id: str,
    count_alias: str = "n_matches",
) -> DataFrame:
    """Count right rows with ``left_ts + lower <= right_ts < left_ts +
    upper`` per left row (equi on ``on``), via time-bucket equi-join.

    Bucket width = window span, so each left row overlaps ≤ 2 buckets —
    the explode fan-out is constant, the join is an equi-join on
    (keys, bucket), and zero-match left rows survive (left join), all of
    which hold at any scale.
    """
    if upper_offset_s <= lower_offset_s:
        raise ValueError(
            f"range_join_count: empty window [{lower_offset_s}, {upper_offset_s}) — "
            "upper_offset_s must be strictly greater than lower_offset_s "
            "(an equal pair would make the bucket span 0 and every bucket NULL)"
        )
    span_us = (upper_offset_s - lower_offset_s) * MICROS
    lo_us, hi_us = lower_offset_s * MICROS, upper_offset_s * MICROS
    l_us = F.unix_micros(F.col(left_ts))
    r_us = F.unix_micros(F.col(right_ts))

    # integral FLOOR division: double division near 1e15 µs epochs can
    # land a boundary value in the wrong bucket, and SQL DIV truncates
    # toward zero, so pre-1970 (negative-µs) timestamps would bucket-
    # mismatch across the two sides — correct the truncation explicitly
    def _fdiv(expr: str) -> str:
        return (
            f"(({expr}) DIV {span_us}) - "
            f"(CASE WHEN ({expr}) % {span_us} < 0 THEN 1 ELSE 0 END)"
        )

    l_b = (
        left.withColumn("__l_us", l_us)
        .withColumn(
            "__bucket",
            F.explode(
                F.array_distinct(
                    F.array(
                        F.expr(_fdiv(f"__l_us + {lo_us}")),
                        F.expr(_fdiv(f"__l_us + {hi_us} - 1")),
                    )
                )
            ),
        )
    )
    r_b = right.select(
        *[F.col(c) for c in on],
        r_us.alias("__r_us"),
    ).withColumn("__bucket", F.expr(_fdiv("__r_us")))
    matched = (
        l_b.join(r_b, on + ["__bucket"])
        .filter(
            (F.col("__r_us") >= F.col("__l_us") + F.lit(lo_us))
            & (F.col("__r_us") < F.col("__l_us") + F.lit(hi_us))
        )
        .groupBy(left_id)
        .agg(F.count(F.lit(1)).alias(count_alias))
    )
    return (
        left.join(matched, left_id, "left")
        .withColumn(count_alias, F.coalesce(F.col(count_alias), F.lit(0)))
    )
