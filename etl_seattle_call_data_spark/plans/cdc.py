"""Change data and feed health: CDC merge, snapshot diffs, SCD-2
history and point-in-time lookup, incremental view maintenance,
schema-evolution unions, replica anti-entropy, cascade deletes, event
dedup, and sequence-gap, watermark-lateness and staleness audits.

docs/CROSS_ENGINE.md rules throughout: sentinel dates for open
intervals, deterministic tie-breaks on every latest-row pick, exact
integer time arithmetic.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql.window import Window

from etl_seattle_call_data_spark.operators import cdc
from etl_seattle_call_data_spark.operators.ranking import two_phase_scan
from etl_seattle_call_data_spark.operators.sampling import hash_bucket
from etl_seattle_call_data_spark.operators.sketch import md5_int
from etl_seattle_call_data_spark.plans.queries import register
from etl_seattle_call_data_spark.sources.registry import load_table


@register(
    "snapshot_diff_orders",
    "CDC snapshot diff: added/removed/changed keys between two extracts "
    "of the orders table (synthesized as modular slices with a price bump "
    "on a sub-slice) — one full-outer key join, unchanged rows dropped "
    "(operators/cdc.py).",
    """
    WITH old AS (
      SELECT o_orderkey, o_totalprice FROM orders WHERE o_orderkey % 3 <> 0
    ),
    new AS (
      SELECT o_orderkey,
             CASE WHEN o_orderkey % 7 = 0 THEN o_totalprice + 1.0
                  ELSE o_totalprice END AS o_totalprice
      FROM orders WHERE o_orderkey % 5 <> 0
    )
    SELECT COALESCE(n.o_orderkey, o.o_orderkey) AS o_orderkey,
           CASE WHEN o.o_orderkey IS NULL THEN 'added'
                WHEN n.o_orderkey IS NULL THEN 'removed'
                ELSE 'changed' END AS change_type
    FROM old o FULL JOIN new n ON o.o_orderkey = n.o_orderkey
    WHERE o.o_orderkey IS NULL OR n.o_orderkey IS NULL
       OR o.o_totalprice <> n.o_totalprice
    """,
)
def q_snapshot_diff_orders(spark: SparkSession, sf_dir: str) -> DataFrame:
    orders = load_table(spark, sf_dir, "orders")
    old = orders.filter(F.col("o_orderkey") % 3 != 0).select("o_orderkey", "o_totalprice")
    new = orders.filter(F.col("o_orderkey") % 5 != 0).select(
        "o_orderkey",
        F.when(F.col("o_orderkey") % 7 == 0, F.col("o_totalprice") + 1.0)
        .otherwise(F.col("o_totalprice"))
        .alias("o_totalprice"),
    )
    return cdc.snapshot_diff(old, new, key_cols=["o_orderkey"])


@register(
    "scd2_priority_history",
    "SCD-2 validity intervals: each customer's order stream becomes "
    "[valid_from, valid_to) state rows via lead() over (o_orderdate, "
    "o_orderkey) — the open interval carries the standard sentinel "
    "high date 9999-12-31 so current-state rows stay range-filterable. "
    "One shuffle on o_custkey, streaming window, no self-join "
    "— the standard warehouse dimension-history build.",
    """
    SELECT o_custkey, o_orderkey,
           o_orderpriority AS state,
           o_orderdate AS valid_from,
           COALESCE(lead(o_orderdate) OVER (PARTITION BY o_custkey
                                            ORDER BY o_orderdate, o_orderkey),
                    TIMESTAMP '9999-12-31') AS valid_to
    FROM orders
    """,
)
def q_scd2_priority_history(spark: SparkSession, sf_dir: str) -> DataFrame:
    o = load_table(spark, sf_dir, "orders")
    w = Window.partitionBy("o_custkey").orderBy("o_orderdate", "o_orderkey")
    return o.select(
        "o_custkey",
        "o_orderkey",
        F.col("o_orderpriority").alias("state"),
        F.col("o_orderdate").alias("valid_from"),
        F.coalesce(
            F.lead("o_orderdate").over(w),
            F.lit("9999-12-31").cast("timestamp"),
        ).alias("valid_to"),
    )


@register(
    "incremental_mv_daily_revenue",
    "Incremental materialized-view maintenance: the daily per-type "
    "event rollup is maintained as merge(agg(base), agg(delta)) — "
    "SUM/COUNT are commutative monoids so the merged table equals the "
    "full recompute EXACTLY (decimal sums), which is precisely what the "
    "oracle asserts by computing the full agg directly. At scale this "
    "is the O(delta) refresh path: only new facts are scanned, the "
    "merge shuffles two small agg tables, and ratios (avg) re-derive "
    "from merged components (operators/cdc.py::merge_partial_aggs).",
    """
    SELECT event_type,
           CAST(date_trunc('day', ts) AS TIMESTAMP) AS day,
           COUNT(*) AS n,
           CAST(SUM(CAST(value AS DECIMAL(18,6))) AS DOUBLE) AS sum_value,
           CAST(SUM(CAST(value AS DECIMAL(18,6))) AS DOUBLE) / CAST(COUNT(*) AS DOUBLE)
             AS avg_value
    FROM events
    GROUP BY event_type, day
    """,
)
def q_incremental_mv_daily_revenue(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = load_table(spark, sf_dir, "events")
    cutoff = F.lit("2024-01-20").cast("timestamp")
    day = F.date_trunc("day", F.col("ts")).alias("day")
    dec = F.col("value").cast("decimal(18,6)")

    def agg(part: DataFrame) -> DataFrame:
        return part.groupBy("event_type", day).agg(
            F.count(F.lit(1)).alias("n"), F.sum(dec).alias("sum_dec")
        )

    base = agg(ev.filter(F.col("ts") < cutoff))
    delta = agg(ev.filter(F.col("ts") >= cutoff))
    merged = cdc.merge_partial_aggs(
        base, delta, keys=["event_type", "day"], sum_cols=["sum_dec"]
    )
    return merged.select(
        "event_type",
        "day",
        "n",
        F.col("sum_dec").cast("double").alias("sum_value"),
        (F.col("sum_dec").cast("double") / F.col("n").cast("double")).alias("avg_value"),
    )


# ---------------------------------------------------------------------------
# CDC MERGE (insert/update/delete application)


@register(
    "cdc_apply_changes",
    "Batch CDC MERGE: the per-customer state table as of 1999-01-01 "
    "(latest order priority) has the post-cutoff order stream applied "
    "as a change feed — status-F orders are deletes, others upserts, "
    "latest change per key wins by (date, orderkey). Exercises the "
    "MERGE INTO WHEN MATCHED DELETE/UPDATE/INSERT shape via "
    "operators/cdc.py::apply_changes: one window over the delta, one "
    "anti-join against touched keys; the base is never re-shuffled.",
    """
    WITH pre AS (
      SELECT o_custkey, o_orderpriority AS state, o_orderdate AS updated_at,
             ROW_NUMBER() OVER (PARTITION BY o_custkey
                                ORDER BY o_orderdate DESC, o_orderkey DESC) AS rn
      FROM orders WHERE o_orderdate < TIMESTAMP '1999-01-01'
    ),
    base AS (SELECT o_custkey, state, updated_at FROM pre WHERE rn = 1),
    chg AS (
      SELECT o_custkey,
             CASE WHEN o_orderstatus = 'F' THEN 'D' ELSE 'U' END AS op,
             o_orderpriority AS state, o_orderdate AS updated_at,
             o_orderkey
      FROM orders WHERE o_orderdate >= TIMESTAMP '1999-01-01'
    ),
    latest AS (
      SELECT * FROM (
        SELECT *, ROW_NUMBER() OVER (PARTITION BY o_custkey
                                     ORDER BY updated_at DESC, o_orderkey DESC) AS rn
        FROM chg
      ) WHERE rn = 1
    )
    SELECT o_custkey, state, updated_at
    FROM base WHERE o_custkey NOT IN (SELECT o_custkey FROM latest)
    UNION ALL
    SELECT o_custkey, state, updated_at FROM latest WHERE op <> 'D'
    """,
)
def q_cdc_apply_changes(spark: SparkSession, sf_dir: str) -> DataFrame:
    o = load_table(spark, sf_dir, "orders")
    cutoff = F.lit("1999-01-01").cast("timestamp")
    w = Window.partitionBy("o_custkey").orderBy(
        F.desc("o_orderdate"), F.desc("o_orderkey")
    )
    base = (
        o.filter(F.col("o_orderdate") < cutoff)
        .withColumn("__rn", F.row_number().over(w))
        .filter(F.col("__rn") == 1)
        .select(
            "o_custkey",
            F.col("o_orderpriority").alias("state"),
            F.col("o_orderdate").alias("updated_at"),
        )
    )
    changes = o.filter(F.col("o_orderdate") >= cutoff).select(
        "o_custkey",
        F.when(F.col("o_orderstatus") == "F", F.lit("D")).otherwise(F.lit("U")).alias("op"),
        F.col("o_orderpriority").alias("state"),
        F.col("o_orderdate").alias("updated_at"),
        "o_orderkey",
    )
    return cdc.apply_changes(
        base, changes, key="o_custkey", seq_cols=["updated_at", "o_orderkey"]
    )


# ---------------------------------------------------------------------------
# Schema evolution: union of snapshots with differing columns


@register(
    "schema_evolution_union",
    "Schema-evolution union — the every-warehouse migration moment when "
    "a column (o_orderpriority) exists only in post-upgrade data: the "
    "pre-1995 snapshot (2 columns) and the post-1995 snapshot (3 "
    "columns) combine by NAME with missing columns null-filled "
    "(unionByName(allowMissingColumns=True) ≡ DuckDB's UNION ALL BY "
    "NAME), then roll up per priority with the null bucket labelled. "
    "Positional UNION would silently misalign or reject; by-name union "
    "is the append-only schema-on-read contract. One scan per snapshot "
    "arm (disjoint pushed date predicates), one agg shuffle.",
    """
    WITH old_snap AS (
      SELECT o_orderkey, o_totalprice FROM orders
      WHERE o_orderdate < TIMESTAMP '1995-01-01'
    ),
    new_snap AS (
      SELECT o_orderkey, o_totalprice, o_orderpriority FROM orders
      WHERE o_orderdate >= TIMESTAMP '1995-01-01'
    ),
    u AS (
      SELECT * FROM old_snap UNION ALL BY NAME SELECT * FROM new_snap
    )
    SELECT COALESCE(o_orderpriority, '(pre-upgrade)') AS priority,
           CAST(COUNT(*) AS BIGINT) AS n_orders,
           CAST(SUM(CAST(o_totalprice AS DECIMAL(18,2))) AS DOUBLE)
             AS total_revenue
    FROM u GROUP BY COALESCE(o_orderpriority, '(pre-upgrade)')
    """,
)
def q_schema_evolution_union(spark: SparkSession, sf_dir: str) -> DataFrame:
    o = load_table(spark, sf_dir, "orders")
    cutoff = F.lit("1995-01-01").cast("timestamp")
    old_snap = o.filter(F.col("o_orderdate") < cutoff).select(
        "o_orderkey", "o_totalprice"
    )
    new_snap = o.filter(F.col("o_orderdate") >= cutoff).select(
        "o_orderkey", "o_totalprice", "o_orderpriority"
    )
    u = old_snap.unionByName(new_snap, allowMissingColumns=True)
    return u.groupBy(
        F.coalesce(F.col("o_orderpriority"), F.lit("(pre-upgrade)")).alias(
            "priority"
        )
    ).agg(
        F.count(F.lit(1)).cast("bigint").alias("n_orders"),
        F.sum(F.col("o_totalprice").cast("decimal(18,2)"))
        .cast("double")
        .alias("total_revenue"),
    )


# ---------------------------------------------------------------------------
# Merkle-style replica divergence detection (bucket checksums)


@register(
    "replica_divergence_merkle",
    "Anti-entropy table sync: find which key-range buckets of a replica "
    "diverge from the primary by comparing per-bucket row counts + "
    "md5-digest checksums — the Merkle-tree repair primitive "
    "(Cassandra/Dynamo) that localizes a diff to O(diverged buckets) "
    "instead of re-shipping 100 TB. The 'replica' simulates row loss "
    "(orderkey % 97 = 0 dropped); BOTH sides come from ONE scan via "
    "conditional aggregates — no self-join, one shuffle on the "
    "256-bucket key. Checksums sum bounded md5 integers in "
    "DECIMAL(38,0) (overflow-free to ~10^19 rows/bucket), compared "
    "modulo 1e9+7 as BIGINT. Output: only the diverged buckets. At "
    "scale, bucket count grows with data (a tree of ranges), same "
    "plan shape per level.",
    """
    WITH d AS (
      SELECT o_orderkey % 256 AS bucket,
             CASE WHEN o_orderkey % 97 <> 0 THEN 1 ELSE 0 END AS keep,
             ('0x' || substr(md5(CAST(o_orderkey AS VARCHAR) || '|' ||
                                 CAST(o_custkey AS VARCHAR) || '|' ||
                                 CAST(CAST(round(o_totalprice * 100) AS BIGINT)
                                      AS VARCHAR)), 1, 15))::BIGINT AS dg
      FROM orders
    ),
    b AS (
      SELECT bucket,
             CAST(COUNT(*) AS BIGINT) AS n_primary,
             CAST(SUM(keep) AS BIGINT) AS n_replica,
             SUM(CAST(dg AS DECIMAL(38,0))) AS chk_p,
             COALESCE(SUM(CASE WHEN keep = 1 THEN CAST(dg AS DECIMAL(38,0)) END),
                      CAST(0 AS DECIMAL(38,0))) AS chk_r
      FROM d GROUP BY bucket
    )
    SELECT CAST(bucket AS BIGINT) AS bucket, n_primary, n_replica,
           CAST(chk_p % 1000000007 AS BIGINT) AS chk_primary_mod,
           CAST(chk_r % 1000000007 AS BIGINT) AS chk_replica_mod
    FROM b
    WHERE n_primary <> n_replica OR chk_p <> chk_r
    """,
)
def q_replica_divergence_merkle(spark: SparkSession, sf_dir: str) -> DataFrame:
    o = load_table(spark, sf_dir, "orders")
    dg = md5_int(
        F.concat_ws(
            "|",
            F.col("o_orderkey").cast("string"),
            F.col("o_custkey").cast("string"),
            F.round(F.col("o_totalprice") * 100).cast("bigint").cast("string"),
        )
    )
    d = o.select(
        (F.col("o_orderkey") % 256).alias("bucket"),
        F.when(F.col("o_orderkey") % 97 != 0, 1).otherwise(0).alias("keep"),
        dg.alias("dg"),
    )
    b = d.groupBy("bucket").agg(
        F.count(F.lit(1)).cast("bigint").alias("n_primary"),
        F.sum("keep").cast("bigint").alias("n_replica"),
        F.sum(F.col("dg").cast("decimal(38,0)")).alias("chk_p"),
        F.coalesce(
            F.sum(F.when(F.col("keep") == 1, F.col("dg").cast("decimal(38,0)"))),
            F.lit(0).cast("decimal(38,0)"),
        ).alias("chk_r"),
    )
    return b.filter(
        (F.col("n_primary") != F.col("n_replica")) | (F.col("chk_p") != F.col("chk_r"))
    ).select(
        F.col("bucket").cast("bigint").alias("bucket"),
        "n_primary",
        "n_replica",
        (F.col("chk_p") % 1000000007).cast("bigint").alias("chk_primary_mod"),
        (F.col("chk_r") % 1000000007).cast("bigint").alias("chk_replica_mod"),
    )


# ---------------------------------------------------------------------------
# Burst dedup: drop near-duplicate events within a time tolerance


@register(
    "event_burst_dedup",
    "Time-tolerance dedup: within each (user, event_type) stream, "
    "events closer than 5 s to their predecessor are duplicates of the "
    "burst leader (double-clicks, sensor chatter, at-least-once "
    "replays) — keep the first event of every burst. One lag() window "
    "per (user, type) timeline (full parallelism — the partition key "
    "cardinality is users × types, never the 5-value type alone), "
    "microsecond-exact gaps (unix_micros ≡ epoch_us per CROSS_ENGINE "
    "rule 29), then a per-type rollup of kept vs suppressed counts.",
    """
    WITH g AS (
      SELECT event_type,
             CASE WHEN epoch_us(ts) - lag(epoch_us(ts)) OVER (
                    PARTITION BY user_id, event_type
                    ORDER BY epoch_us(ts), event_id) <= 5000000
                  THEN 0 ELSE 1 END AS is_leader
      FROM events
    )
    SELECT event_type,
           CAST(COUNT(*) AS BIGINT) AS n_events,
           CAST(SUM(is_leader) AS BIGINT) AS n_kept,
           CAST(COUNT(*) - SUM(is_leader) AS BIGINT) AS n_suppressed
    FROM g
    GROUP BY event_type
    """,
)
def q_event_burst_dedup(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = load_table(spark, sf_dir, "events")
    w = Window.partitionBy("user_id", "event_type").orderBy(
        F.unix_micros("ts"), "event_id"
    )
    g = ev.select(
        "event_type",
        F.when(
            F.unix_micros("ts") - F.lag(F.unix_micros("ts")).over(w) <= 5_000_000,
            0,
        )
        .otherwise(1)
        .alias("is_leader"),
    )
    return g.groupBy("event_type").agg(
        F.count(F.lit(1)).cast("bigint").alias("n_events"),
        F.sum("is_leader").cast("bigint").alias("n_kept"),
        (F.count(F.lit(1)) - F.sum("is_leader")).cast("bigint").alias("n_suppressed"),
    )


# ---------------------------------------------------------------------------
# GDPR cascade-delete impact (right to be forgotten at warehouse scale)
# ---------------------------------------------------------------------------


@register(
    "cascade_delete_impact",
    "Right-to-be-forgotten impact report: a deterministic 2% tombstone "
    "set of customers (engine-portable md5 bucket — the same consistent-"
    "hash sample both engines and any rerun reproduce) cascaded through "
    "the foreign-key graph: their orders, those orders' lineitems, and "
    "their event stream. One row per relation with the delete footprint. "
    "Scale: each hop is a key equi-join that AQE resolves as a broadcast "
    "semi-join while the touched-key set is small and degrades to a "
    "shuffle join when it is not; no fact table is scanned more than "
    "once, and the report is 4 rows regardless of corpus size.",
    """
    WITH tomb AS (
      SELECT c_custkey FROM customer
      WHERE ('0x' || substr(md5(CAST(c_custkey AS VARCHAR)), 1, 15))::BIGINT % 100 < 2
    ),
    doomed_orders AS (
      SELECT o_orderkey FROM orders JOIN tomb ON o_custkey = c_custkey
    )
    SELECT 'customer' AS rel, CAST(COUNT(*) AS BIGINT) AS n_rows FROM tomb
    UNION ALL
    SELECT 'orders', CAST(COUNT(*) AS BIGINT) FROM doomed_orders
    UNION ALL
    SELECT 'lineitem', CAST(COUNT(*) AS BIGINT)
    FROM lineitem JOIN doomed_orders ON l_orderkey = o_orderkey
    UNION ALL
    SELECT 'events', CAST(COUNT(*) AS BIGINT)
    FROM events JOIN tomb ON user_id = c_custkey
    """,
)
def q_cascade_delete_impact(spark: SparkSession, sf_dir: str) -> DataFrame:
    c = load_table(spark, sf_dir, "customer")
    o = load_table(spark, sf_dir, "orders")
    li = load_table(spark, sf_dir, "lineitem")
    ev = load_table(spark, sf_dir, "events")
    tomb = c.filter(hash_bucket("c_custkey", 100) < 2).select("c_custkey")
    doomed_o = o.join(tomb, o.o_custkey == tomb.c_custkey).select("o_orderkey")

    def cnt(df: DataFrame, rel: str) -> DataFrame:
        return df.agg(F.count(F.lit(1)).cast("bigint").alias("n_rows")).select(
            F.lit(rel).alias("rel"), "n_rows"
        )

    return (
        cnt(tomb, "customer")
        .unionByName(cnt(doomed_o, "orders"))
        .unionByName(
            cnt(li.join(doomed_o, li.l_orderkey == doomed_o.o_orderkey), "lineitem")
        )
        .unionByName(cnt(ev.join(tomb, ev.user_id == tomb.c_custkey), "events"))
    )


# ---------------------------------------------------------------------------
# Incremental join-view maintenance proof
# ---------------------------------------------------------------------------


@register(
    "incremental_mv_join_delta",
    "Incremental maintenance of a JOIN view, verified in-query: the "
    "view V = revenue per nation over lineitem JOIN orders JOIN "
    "customer. With the dimension side unchanged and an insert-only "
    "fact delta (orders on/after 2001-01-01), the IVM algebra says "
    "V_new = V_old + delta(orders) JOIN customer — the classical "
    "delta-rule specialization (dA JOIN B when dB is empty). Both the "
    "full recompute and the incremental form are computed (DECIMAL-"
    "exact) and compared cell-for-cell BEFORE the final double cast, "
    "so `matches` is an exact-equality claim the hash gate re-checks, "
    "not a tolerance. This is the agg-MV companion's join-view "
    "generalization: at 100 TB the delta arm only scans the delta "
    "partition (partition-pruned date predicate), never the base "
    "fact.",
    """
    WITH rev AS (
      SELECT o.o_orderkey, o.o_orderdate, c.c_nationkey AS nationkey,
             CAST(l.l_extendedprice AS DECIMAL(18,2))
               * (1 - CAST(l.l_discount AS DECIMAL(18,2))) AS r
      FROM lineitem l
      JOIN orders o ON o.o_orderkey = l.l_orderkey
      JOIN customer c ON c.c_custkey = o.o_custkey
    ),
    full_v AS (
      SELECT nationkey, SUM(r) AS rev_full FROM rev GROUP BY nationkey
    ),
    old_v AS (
      SELECT nationkey, SUM(r) AS rev_old FROM rev
      WHERE o_orderdate < TIMESTAMP '2001-01-01 00:00:00'
      GROUP BY nationkey
    ),
    delta_v AS (
      SELECT nationkey, SUM(r) AS rev_delta FROM rev
      WHERE o_orderdate >= TIMESTAMP '2001-01-01 00:00:00'
      GROUP BY nationkey
    ),
    inc AS (
      SELECT COALESCE(o.nationkey, d.nationkey) AS nationkey,
             COALESCE(o.rev_old, 0) + COALESCE(d.rev_delta, 0) AS rev_inc
      FROM old_v o FULL JOIN delta_v d ON d.nationkey = o.nationkey
    )
    SELECT n.n_name AS nation,
           CAST(f.rev_full AS DOUBLE) AS revenue_full,
           CAST(i.rev_inc AS DOUBLE) AS revenue_incremental,
           f.rev_full = i.rev_inc AS matches
    FROM full_v f
    JOIN inc i ON i.nationkey = f.nationkey
    JOIN nation n ON n.n_nationkey = f.nationkey
    """,
)
def q_incremental_mv_join_delta(spark: SparkSession, sf_dir: str) -> DataFrame:
    li = load_table(spark, sf_dir, "lineitem")
    o = load_table(spark, sf_dir, "orders")
    c = load_table(spark, sf_dir, "customer")
    n = load_table(spark, sf_dir, "nation")
    cut = F.lit("2001-01-01 00:00:00").cast("timestamp")
    r = F.col("l_extendedprice").cast("decimal(18,2)") * (
        F.lit(1) - F.col("l_discount").cast("decimal(18,2)")
    )
    rev = (
        li.join(o, li.l_orderkey == o.o_orderkey)
        .join(c, o.o_custkey == c.c_custkey)
        .select(
            F.col("o_orderdate"), F.col("c_nationkey").alias("nationkey"), r.alias("r")
        )
    )
    full_v = rev.groupBy("nationkey").agg(F.sum("r").alias("rev_full"))
    old_v = (
        rev.filter(F.col("o_orderdate") < cut)
        .groupBy("nationkey")
        .agg(F.sum("r").alias("rev_old"))
    )
    delta_v = (
        rev.filter(F.col("o_orderdate") >= cut)
        .groupBy("nationkey")
        .agg(F.sum("r").alias("rev_delta"))
    )
    inc = (
        old_v.join(delta_v, "nationkey", "full")
        .select(
            "nationkey",
            (
                F.coalesce(F.col("rev_old"), F.lit(0))
                + F.coalesce(F.col("rev_delta"), F.lit(0))
            ).alias("rev_inc"),
        )
    )
    return (
        full_v.join(inc, "nationkey")
        .join(F.broadcast(n), F.col("nationkey") == F.col("n_nationkey"))
        .select(
            F.col("n_name").alias("nation"),
            F.col("rev_full").cast("double").alias("revenue_full"),
            F.col("rev_inc").cast("double").alias("revenue_incremental"),
            (F.col("rev_full") == F.col("rev_inc")).alias("matches"),
        )
    )


# ---------------------------------------------------------------------------
# SCD2 point-in-time dimension lookup
# ---------------------------------------------------------------------------


@register(
    "scd2_point_in_time",
    "Point-in-time lookup against the SCD2 history: each customer's "
    "order-priority regimes become validity intervals [start, "
    "next_start) via lead() over the per-customer order sequence "
    "(island compression of equal-priority runs; the open interval "
    "carries the 9999-12-31 sentinel, rule 13), and the AS OF probe "
    "at 1999-06-15 selects the regime active then — the time-travel "
    "dimension join every SCD2 warehouse serves. Intervals live as "
    "epoch days (integer; no DATE canonicalization drift); the probe "
    "is a range filter on the interval table, not a join (one "
    "interval matches by construction). Output: active-priority "
    "census at the probe date.",
    """
    WITH o AS (
      SELECT o_custkey AS custkey, o_orderpriority AS prio,
             epoch_us(o_orderdate) // 86400000000 AS dnum,
             o_orderkey
      FROM orders
    ),
    marked AS (
      SELECT *,
             CASE WHEN prio = lag(prio) OVER (PARTITION BY custkey
                                              ORDER BY dnum, o_orderkey)
                  THEN 0 ELSE 1 END AS is_new
      FROM o
    ),
    runs AS (
      SELECT *,
             SUM(is_new) OVER (PARTITION BY custkey ORDER BY dnum, o_orderkey
                               ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
               AS run_id
      FROM marked
    ),
    intervals AS (
      SELECT custkey, prio, MIN(dnum) AS start_day,
             MIN(o_orderkey) AS first_ok
      FROM runs GROUP BY custkey, prio, run_id
    ),
    bounded AS (
      SELECT custkey, prio, start_day,
             COALESCE(lead(start_day) OVER (PARTITION BY custkey
                                            ORDER BY start_day, first_ok),
                      2932896) AS end_day
      FROM intervals
    ),
    active AS (
      SELECT custkey, prio
      FROM bounded
      WHERE start_day <= 10757 AND 10757 < end_day
    )
    SELECT prio AS active_priority,
           CAST(COUNT(*) AS BIGINT) AS n_customers,
           CAST(COUNT(*) * 1000000
                // SUM(COUNT(*)) OVER () AS BIGINT) AS share_ppm
    FROM active
    GROUP BY prio
    """,
)
def q_scd2_point_in_time(spark: SparkSession, sf_dir: str) -> DataFrame:
    o = load_table(spark, sf_dir, "orders").select(
        F.col("o_custkey").alias("custkey"),
        F.col("o_orderpriority").alias("prio"),
        F.expr("unix_micros(o_orderdate) DIV 86400000000").alias("dnum"),
        "o_orderkey",
    )
    wc = Window.partitionBy("custkey").orderBy("dnum", "o_orderkey")
    marked = o.withColumn(
        "is_new",
        F.when(F.col("prio") == F.lag("prio").over(wc), 0).otherwise(1),
    )
    runs = marked.withColumn(
        "run_id", F.sum("is_new").over(wc.rowsBetween(Window.unboundedPreceding, 0))
    )
    intervals = runs.groupBy("custkey", "prio", "run_id").agg(
        F.min("dnum").alias("start_day"),
        # same-day regime changes tie on start_day: break by the run's
        # first order key so the interval chain is a total order
        F.min("o_orderkey").alias("first_ok"),
    )
    # 2932896 = epoch day of the 9999-12-31 sentinel (rule 13)
    bounded = intervals.withColumn(
        "end_day",
        F.coalesce(
            F.lead("start_day").over(
                Window.partitionBy("custkey").orderBy("start_day", "first_ok")
            ),
            F.lit(2932896),
        ),
    )
    # probe day 10757 = 1999-06-15
    active = bounded.filter(
        (F.col("start_day") <= 10757) & (F.lit(10757) < F.col("end_day"))
    ).select("custkey", "prio")
    counts = active.groupBy(F.col("prio").alias("active_priority")).agg(
        F.count(F.lit(1)).cast("bigint").alias("n_customers")
    )
    return counts.select(
        "active_priority",
        "n_customers",
        F.expr(
            "CAST(n_customers * 1000000 DIV SUM(n_customers) OVER () AS BIGINT)"
        ).alias("share_ppm"),
    )


# ---------------------------------------------------------------------------
# Key-sequence gap audit over o_orderkey
# ---------------------------------------------------------------------------

_GAP_TOPK = 20


@register(
    "sequence_gap_audit",
    "Sharded-feed completeness audit: the largest event-id holes "
    "WITHIN each event type's id subsequence — when a producer "
    "shards one global id sequence across topics, a bigger-than-"
    "usual per-shard gap is the dropped-record signal every ingest "
    "pipeline monitors. Successor pairs come from the grouped "
    "two-phase rank (operators/ranking.py — no per-group single "
    "reducer) followed by an equi-join of rank r with rank r+1 on "
    "(type, rank): the 'next key' is a shuffle join, not a global "
    "window. Top-20 under the total order (missing DESC, type, "
    "gap_start) (rule 20). The oracle uses the plain LEAD form — "
    "same semantics, engine-local sort.",
    f"""
    WITH k AS (SELECT DISTINCT event_type, event_id AS k FROM events),
    nx AS (
      SELECT event_type, k,
             LEAD(k) OVER (PARTITION BY event_type ORDER BY k) AS nk
      FROM k
    )
    SELECT event_type, k + 1 AS gap_start, nk - 1 AS gap_end,
           CAST(nk - k - 1 AS BIGINT) AS n_missing
    FROM nx WHERE nk IS NOT NULL AND nk - k > 1
    ORDER BY n_missing DESC, event_type, gap_start LIMIT {_GAP_TOPK}
    """,
)
def q_sequence_gap_audit(spark: SparkSession, sf_dir: str) -> DataFrame:
    keys = (
        load_table(spark, sf_dir, "events")
        .select("event_type", F.col("event_id").alias("k"))
        .distinct()
    )
    spec = ("r", ["k"], F.expr("k DIV 4096"), F.lit(1), "sum", False)
    ranked = two_phase_scan(keys, ["event_type"], [spec])
    cur = ranked.select("event_type", "k", "r")
    nxt = ranked.select(
        "event_type", F.col("k").alias("nk"), (F.col("r") - 1).alias("r")
    )
    gaps = (
        cur.join(nxt, ["event_type", "r"])
        .filter(F.col("nk") - F.col("k") > 1)
        .select(
            "event_type",
            (F.col("k") + 1).alias("gap_start"),
            (F.col("nk") - 1).alias("gap_end"),
            (F.col("nk") - F.col("k") - 1).cast("bigint").alias("n_missing"),
        )
    )
    return gaps.orderBy(
        F.col("n_missing").desc(), "event_type", "gap_start"
    ).limit(_GAP_TOPK)


# ---------------------------------------------------------------------------
# Watermark lateness census over the event stream (two-phase running max)
# ---------------------------------------------------------------------------

_WM_JITTER_MOD = 97
_WM_JITTER_MULT = 2654435761
_WM_ID_MOD = 1000003
_WM_LATE_US = 6 * 3600 * 1000000  # 6h watermark


@register(
    "late_event_watermark_census",
    "Watermark lateness census: how late does each event type arrive "
    "relative to the stream's high-water mark, and what would a 6h "
    "watermark drop? Arrival order is a DOCUMENTED deterministic "
    "jitter of the event id (arrival = event_id + (event_id mod "
    "1000003) * 2654435761 mod 97 — pure integer arithmetic, "
    "identical on both engines; the raw feed is perfectly ordered, "
    "so the jitter stands in for network reordering the same way the "
    "multimodal stub stands in for codecs). The exclusive running "
    "max of event-time over arrival order is the two-phase running "
    "max (operators/ranking.py two_phase_scan — per-bucket "
    "maxima + windowed prefix, NO single-partition window); "
    "lateness = highwater - ts in exact microseconds (rule 11). "
    "Per-type output: events, late count vs the 6h watermark, "
    "max lateness seconds, late ppm — the batch twin of the "
    "streaming withWatermark/dropped-rows accounting.",
    f"""
    WITH e AS (
      SELECT event_id, event_type, epoch_us(ts) AS us,
             event_id
               + (event_id % {_WM_ID_MOD}) * {_WM_JITTER_MULT}
                 % {_WM_JITTER_MOD} AS arrival
      FROM events
    ),
    hw AS (
      SELECT event_type, us,
             MAX(us) OVER (ORDER BY arrival, event_id
               ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING) AS pm
      FROM e
    ),
    lat AS (
      SELECT event_type,
             CASE WHEN pm IS NULL OR pm <= us THEN 0 ELSE pm - us END AS late_us
      FROM hw
    )
    SELECT event_type,
           CAST(COUNT(*) AS BIGINT) AS n_events,
           CAST(SUM(CASE WHEN late_us > {_WM_LATE_US} THEN 1 ELSE 0 END)
                AS BIGINT) AS n_late,
           CAST(MAX(late_us) // 1000000 AS BIGINT) AS max_lateness_s,
           CAST(SUM(CASE WHEN late_us > {_WM_LATE_US} THEN 1 ELSE 0 END)
                * 1000000 // COUNT(*) AS BIGINT) AS late_ppm
    FROM lat GROUP BY event_type
    """,
)
def q_late_event_watermark_census(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = load_table(spark, sf_dir, "events").select(
        "event_id",
        "event_type",
        F.expr("unix_micros(ts)").alias("us"),
        F.expr(
            f"event_id"
            f" + (event_id % {_WM_ID_MOD}) * {_WM_JITTER_MULT}"
            f" % {_WM_JITTER_MOD}"
        ).alias("arrival"),
    )
    coarse = F.expr("arrival DIV 1000000")
    spec = ("pm", ["arrival", "event_id"], coarse, F.col("us"), "max", True)
    hw = two_phase_scan(ev, [], [spec])
    lat = hw.select(
        "event_type",
        F.when(
            F.col("pm").isNull() | (F.col("pm") <= F.col("us")), F.lit(0)
        )
        .otherwise(F.col("pm") - F.col("us"))
        .alias("late_us"),
    )
    late_flag = F.when(F.col("late_us") > _WM_LATE_US, 1).otherwise(0)
    return lat.groupBy("event_type").agg(
        F.count(F.lit(1)).cast("bigint").alias("n_events"),
        F.sum(late_flag).cast("bigint").alias("n_late"),
        F.expr("CAST(MAX(late_us) DIV 1000000 AS BIGINT)").alias("max_lateness_s"),
        F.expr(
            f"CAST(SUM(CASE WHEN late_us > {_WM_LATE_US} THEN 1 ELSE 0 END)"
            " * 1000000 DIV COUNT(*) AS BIGINT)"
        ).alias("late_ppm"),
    )


# ---------------------------------------------------------------------------
# Feed staleness SLO report
# ---------------------------------------------------------------------------


@register(
    "feed_staleness_slo",
    "Feed staleness SLO report per event type: minutes between each "
    "type's newest event and the newest event anywhere (the "
    "deterministic stand-in for wall-clock now), last-hour arrival "
    "counts, and the 60-minute SLO verdict — the freshness monitor "
    "that pages before a silent feed poisons downstream aggregates "
    "(sequence_gap_audit catches holes; this catches full stalls). "
    "Exact microsecond arithmetic, one grouped pass + a 1-row "
    "global-max broadcast.",
    """
    WITH m AS (
      SELECT event_type,
             MAX(epoch_us(ts)) AS max_us,
             CAST(COUNT(*) AS BIGINT) AS n_events
      FROM events GROUP BY event_type
    ),
    ref AS (SELECT MAX(epoch_us(ts)) AS ref_us FROM events),
    lh AS (
      SELECT e.event_type,
             CAST(COUNT(*) AS BIGINT) AS n_last_hour
      FROM events e CROSS JOIN ref
      WHERE epoch_us(e.ts) > ref.ref_us - 3600000000
      GROUP BY e.event_type
    )
    SELECT m.event_type, m.n_events,
           (ref.ref_us - m.max_us) // 60000000 AS staleness_min,
           COALESCE(lh.n_last_hour, 0) AS n_last_hour,
           (ref.ref_us - m.max_us) // 60000000 <= 60 AS slo_fresh_60m
    FROM m
    CROSS JOIN ref
    LEFT JOIN lh ON lh.event_type = m.event_type
    """,
)
def q_feed_staleness_slo(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = load_table(spark, sf_dir, "events")
    m = ev.groupBy("event_type").agg(
        F.max(F.expr("unix_micros(ts)")).alias("max_us"),
        F.count(F.lit(1)).cast("bigint").alias("n_events"),
    )
    ref = ev.agg(F.max(F.expr("unix_micros(ts)")).alias("ref_us"))
    lh = (
        ev.crossJoin(F.broadcast(ref))
        .filter(F.expr("unix_micros(ts) > ref_us - 3600000000"))
        .groupBy("event_type")
        .agg(F.count(F.lit(1)).cast("bigint").alias("n_last_hour"))
    )
    return (
        m.crossJoin(F.broadcast(ref))
        .join(lh, "event_type", "left")
        .select(
            "event_type",
            "n_events",
            F.expr("(ref_us - max_us) DIV 60000000").alias("staleness_min"),
            F.coalesce(F.col("n_last_hour"), F.lit(0)).alias("n_last_hour"),
            F.expr("(ref_us - max_us) DIV 60000000 <= 60").alias(
                "slo_fresh_60m"
            ),
        )
    )
