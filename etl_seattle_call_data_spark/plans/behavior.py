"""User- and customer-behavior analytics over the event stream and
order history.

Sessionization, funnels and paths, retention, churn and cohort curves,
growth accounting, multi-touch attribution, Markov transitions,
customer segmentation (RFM, value migration) and time-to-event curves.

docs/CROSS_ENGINE.md rules throughout: date_trunc('week') starts Monday
on both engines, day arithmetic stays integral, ordered sequences use
total orders, every ratio is one IEEE division of exact integers.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql.window import Window

from etl_seattle_call_data_spark.operators import dq
from etl_seattle_call_data_spark.operators.ranking import (
    equidepth_bucket,
    two_phase_multi_rank,
)
from etl_seattle_call_data_spark.operators.util import checkpoint
from etl_seattle_call_data_spark.plans.queries import register
from etl_seattle_call_data_spark.plans.shared import _DAY, _DEC6, _du, _sp
from etl_seattle_call_data_spark.sources.registry import load_table


@register(
    "sessionization",
    "Sessionization via lag + gap cumsum (30-minute inactivity): per-user "
    "session ids and per-session stats — the window-function composition "
    "pattern for event streams.",
    """
    WITH gaps AS (
      SELECT user_id, event_id, ts, value,
             -- truncate to whole seconds exactly like Spark's cast(ts AS long)
             CASE WHEN floor(epoch(ts))
                       - floor(epoch(LAG(ts) OVER (PARTITION BY user_id ORDER BY ts, event_id)))
                       > 1800
                  OR LAG(ts) OVER (PARTITION BY user_id ORDER BY ts, event_id) IS NULL
                  THEN 1 ELSE 0 END AS new_session
      FROM events
    ), sessions AS (
      SELECT user_id, event_id, ts, value,
             -- CAST: DuckDB SUM(int) yields HUGEINT, which pandas widens to
             -- float64; Spark's sum is BIGINT — match dtypes exactly
             CAST(SUM(new_session) OVER (
               PARTITION BY user_id ORDER BY ts, event_id
               ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS BIGINT) AS session_seq
      FROM gaps
    )
    SELECT user_id, session_seq, COUNT(*) AS n_events,
           CAST(floor(epoch(max(ts))) - floor(epoch(min(ts))) AS BIGINT) AS duration_s
    FROM sessions
    GROUP BY user_id, session_seq
    """,
)
def q_sessionization(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = load_table(spark, sf_dir, "events")
    w = Window.partitionBy("user_id").orderBy(F.asc("ts"), F.asc("event_id"))
    gap = F.col("ts").cast("long") - F.lag(F.col("ts").cast("long")).over(w)
    new_session = F.when(gap.isNull() | (gap > 30 * 60), 1).otherwise(0)
    sessions = ev.withColumn("new_session", new_session).withColumn(
        "session_seq",
        F.sum("new_session").over(w.rowsBetween(Window.unboundedPreceding, Window.currentRow)),
    )
    return sessions.groupBy("user_id", "session_seq").agg(
        F.count(F.lit(1)).alias("n_events"),
        (F.unix_timestamp(F.max("ts")) - F.unix_timestamp(F.min("ts"))).alias("duration_s"),
    )


@register(
    "cohort_retention_weekly",
    "Classic cohort retention: users grouped by first-activity week, "
    "counted in each subsequent activity week (week_offset = whole "
    "weeks since cohort). Two aggregations — per-user first week, then "
    "distinct users per (cohort_week, week_offset); the per-user table "
    "re-joins on user_id, partial-agg map-side both times. Retention "
    "fraction divides two exact integer counts.",
    """
    WITH first_week AS (
      SELECT user_id,
             CAST(min(date_trunc('week', ts)) AS TIMESTAMP) AS cohort_week
      FROM events GROUP BY user_id
    ),
    activity AS (
      SELECT DISTINCT e.user_id, f.cohort_week,
             CAST(date_trunc('week', e.ts) AS TIMESTAMP) AS activity_week
      FROM events e JOIN first_week f ON e.user_id = f.user_id
    ),
    cohort_sizes AS (
      SELECT cohort_week, COUNT(*) AS cohort_size
      FROM first_week GROUP BY cohort_week
    )
    SELECT a.cohort_week,
           CAST(datediff('day', a.cohort_week, a.activity_week) // 7 AS INTEGER)
             AS week_offset,
           COUNT(*) AS n_active,
           cs.cohort_size,
           CAST(COUNT(*) AS DOUBLE) / CAST(cs.cohort_size AS DOUBLE) AS retention
    FROM activity a JOIN cohort_sizes cs ON a.cohort_week = cs.cohort_week
    GROUP BY a.cohort_week, week_offset, cs.cohort_size
    """,
)
def q_cohort_retention_weekly(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = load_table(spark, sf_dir, "events")
    first_week = ev.groupBy("user_id").agg(
        F.min(F.date_trunc("week", F.col("ts"))).alias("cohort_week")
    )
    activity = (
        ev.join(first_week, "user_id")
        .select(
            "user_id",
            "cohort_week",
            F.date_trunc("week", F.col("ts")).alias("activity_week"),
        )
        .distinct()
    )
    cohort_sizes = first_week.groupBy("cohort_week").agg(
        F.count(F.lit(1)).alias("cohort_size")
    )
    week_offset = (
        F.floor(F.datediff(F.col("activity_week"), F.col("cohort_week")) / 7)
        .cast("int")
        .alias("week_offset")
    )
    return (
        activity.join(F.broadcast(cohort_sizes), "cohort_week")
        .groupBy("cohort_week", week_offset, "cohort_size")
        .agg(F.count(F.lit(1)).alias("n_active"))
        .select(
            "cohort_week",
            "week_offset",
            "n_active",
            "cohort_size",
            (F.col("n_active").cast("double") / F.col("cohort_size").cast("double")).alias(
                "retention"
            ),
        )
    )


@register(
    "funnel_view_click_purchase",
    "Stepwise funnel with ORDER enforcement: first view, then the first "
    "click AT OR AFTER that view, then the first purchase at or after "
    "that click — a simple per-type min-ts misses the ordering and "
    "overcounts. Three narrow per-user aggregates chained by joins on "
    "user_id; each stage's table only shrinks. Emits one row per stage "
    "with the surviving-user count and conversion from stage 1.",
    """
    WITH v AS (
      SELECT user_id, min(ts) AS t_view FROM events
      WHERE event_type = 'view' GROUP BY user_id
    ),
    c AS (
      SELECT e.user_id, min(ts) AS t_click
      FROM events e JOIN v ON e.user_id = v.user_id
      WHERE e.event_type = 'click' AND e.ts >= v.t_view
      GROUP BY e.user_id
    ),
    p AS (
      SELECT e.user_id, min(ts) AS t_purchase
      FROM events e JOIN c ON e.user_id = c.user_id
      WHERE e.event_type = 'purchase' AND e.ts >= c.t_click
      GROUP BY e.user_id
    ),
    counts AS (
      SELECT 1 AS stage, 'view' AS stage_name, COUNT(*) AS n_users FROM v
      UNION ALL
      SELECT 2, 'click_after_view', COUNT(*) FROM c
      UNION ALL
      SELECT 3, 'purchase_after_click', COUNT(*) FROM p
    )
    SELECT stage, stage_name, n_users,
           CAST(n_users AS DOUBLE)
             / NULLIF(CAST((SELECT n_users FROM counts WHERE stage = 1)
                           AS DOUBLE), 0)
             AS conversion
    FROM counts
    """,
)
def q_funnel_view_click_purchase(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = load_table(spark, sf_dir, "events")
    v = (
        ev.filter(F.col("event_type") == "view")
        .groupBy("user_id")
        .agg(F.min("ts").alias("t_view"))
    )
    c = (
        ev.filter(F.col("event_type") == "click")
        .join(v, "user_id")
        .filter(F.col("ts") >= F.col("t_view"))
        .groupBy("user_id")
        .agg(F.min("ts").alias("t_click"))
    )
    p = (
        ev.filter(F.col("event_type") == "purchase")
        .join(c, "user_id")
        .filter(F.col("ts") >= F.col("t_click"))
        .groupBy("user_id")
        .agg(F.min("ts").alias("t_purchase"))
    )
    counts = (
        v.agg(F.count(F.lit(1)).alias("n_users")).select(
            F.lit(1).alias("stage"), F.lit("view").alias("stage_name"), "n_users"
        )
        .unionAll(
            c.agg(F.count(F.lit(1)).alias("n_users")).select(
                F.lit(2).alias("stage"),
                F.lit("click_after_view").alias("stage_name"),
                "n_users",
            )
        )
        .unionAll(
            p.agg(F.count(F.lit(1)).alias("n_users")).select(
                F.lit(3).alias("stage"),
                F.lit("purchase_after_click").alias("stage_name"),
                "n_users",
            )
        )
    )
    base = counts.filter(F.col("stage") == 1).select(
        F.col("n_users").alias("base_users")
    )
    return counts.crossJoin(F.broadcast(base)).select(
        "stage",
        "stage_name",
        "n_users",
        # NULLIF guard (CROSS_ENGINE rule 40): no view events -> base 0
        (
            F.col("n_users").cast("double")
            / F.nullif(F.col("base_users").cast("double"), F.lit(0.0))
        ).alias("conversion"),
    )


@register(
    "event_transition_matrix",
    "First-order Markov transitions: per user, each event's type paired "
    "with the NEXT event's type (lag/lead over (ts, event_id) — the "
    "unique id breaks timestamp ties deterministically), counted into "
    "the transition matrix with row-normalized probabilities. One "
    "shuffle for the window, one for the tiny 5×5 count table; "
    "probabilities divide exact integer counts.",
    """
    WITH seq AS (
      SELECT user_id, event_type,
             lead(event_type) OVER (PARTITION BY user_id
                                    ORDER BY ts, event_id) AS next_type
      FROM events
    ),
    counts AS (
      SELECT event_type AS from_type, next_type AS to_type, COUNT(*) AS n
      FROM seq WHERE next_type IS NOT NULL
      GROUP BY from_type, to_type
    )
    SELECT from_type, to_type, n,
           CAST(n AS DOUBLE)
             / CAST(SUM(n) OVER (PARTITION BY from_type) AS DOUBLE) AS p
    FROM counts
    """,
)
def q_event_transition_matrix(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = load_table(spark, sf_dir, "events")
    w = Window.partitionBy("user_id").orderBy("ts", "event_id")
    seq = ev.select(
        F.col("event_type").alias("from_type"),
        F.lead("event_type").over(w).alias("to_type"),
    ).filter(F.col("to_type").isNotNull())
    counts = seq.groupBy("from_type", "to_type").agg(F.count(F.lit(1)).alias("n"))
    row_total = F.sum("n").over(Window.partitionBy("from_type"))
    return counts.select(
        "from_type",
        "to_type",
        "n",
        (F.col("n").cast("double") / row_total.cast("double")).alias("p"),
    )


# ---------------------------------------------------------------------------
# Built-in session windows (F.session_window) vs the gaps-and-islands oracle


@register(
    "session_window_counts",
    "Spark's BUILT-IN session_window operator (30-minute inactivity "
    "gap) — the batch face of the streaming session aggregation; the "
    "oracle proves it equals the classic gaps-and-islands SQL "
    "(lag → new-session flag → running sum → group). session_start is "
    "the first event, session_end = last event + gap (Spark's window "
    "end), value summed in DECIMAL. One shuffle on user_id either way; "
    "session_window does it without a window function pass.",
    """
    WITH flagged AS (
      SELECT user_id, ts, value,
             CASE WHEN lag(ts) OVER (PARTITION BY user_id ORDER BY ts, event_id)
                       IS NULL
                  OR ts - lag(ts) OVER (PARTITION BY user_id ORDER BY ts, event_id)
                       >= INTERVAL 30 MINUTE
                  THEN 1 ELSE 0 END AS new_s
      FROM events
    ),
    islands AS (
      SELECT user_id, ts, value,
             SUM(new_s) OVER (PARTITION BY user_id ORDER BY ts
                              ROWS UNBOUNDED PRECEDING) AS sid
      FROM flagged
    )
    SELECT user_id,
           MIN(ts) AS session_start,
           MAX(ts) + INTERVAL 30 MINUTE AS session_end,
           CAST(COUNT(*) AS BIGINT) AS n_events,
           CAST(SUM(CAST(value AS DECIMAL(18,6))) AS DOUBLE) AS total_value
    FROM islands
    GROUP BY user_id, sid
    """,
)
def q_session_window_counts(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = load_table(spark, sf_dir, "events")
    return (
        ev.groupBy("user_id", F.session_window("ts", "30 minutes").alias("w"))
        .agg(
            F.count(F.lit(1)).alias("n_events"),
            F.sum(F.col("value").cast(_DEC6)).alias("sum_dec"),
        )
        .select(
            "user_id",
            F.col("w.start").alias("session_start"),
            F.col("w.end").alias("session_end"),
            "n_events",
            F.col("sum_dec").cast("double").alias("total_value"),
        )
    )


# ---------------------------------------------------------------------------
# Funnel conversion latency (how long each converting user took)


@register(
    "funnel_latency_quantiles",
    "Conversion-latency distribution for the ordered view→purchase "
    "funnel: per user, first view then first purchase AT OR AFTER it "
    "(order-enforced, same discipline as the stepwise funnel); the "
    "view→purchase gap in whole seconds feeds exact p25/p50/p75 "
    "(quantile_cont ≡ Spark percentile, the proven cross-engine "
    "interpolation contract). Gaps diff exact MICROSECOND integers "
    "(epoch_us ≡ unix_micros) floor-divided to seconds — DuckDB's "
    "epoch() keeps fractional seconds and its double→int cast ROUNDS "
    "where Spark truncates, so second-level math must never pass "
    "through doubles. Two narrow per-user aggregates, one global quantile "
    "over ~n_users rows.",
    """
    WITH v AS (
      SELECT user_id, MIN(ts) AS first_view FROM events
      WHERE event_type = 'view' GROUP BY user_id
    ),
    p AS (
      SELECT e.user_id, MIN(e.ts) AS first_purchase
      FROM events e JOIN v ON e.user_id = v.user_id
      WHERE e.event_type = 'purchase' AND e.ts >= v.first_view
      GROUP BY e.user_id
    ),
    lat AS (
      SELECT p.user_id,
             (epoch_us(p.first_purchase) - epoch_us(v.first_view)) // 1000000
               AS latency_s
      FROM p JOIN v ON p.user_id = v.user_id
    )
    SELECT CAST(COUNT(*) AS BIGINT) AS n_converted,
           quantile_cont(CAST(latency_s AS DOUBLE), 0.25) AS p25_s,
           quantile_cont(CAST(latency_s AS DOUBLE), 0.50) AS p50_s,
           quantile_cont(CAST(latency_s AS DOUBLE), 0.75) AS p75_s,
           CAST(MAX(latency_s) AS BIGINT) AS max_s
    FROM lat
    """,
)
def q_funnel_latency_quantiles(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = load_table(spark, sf_dir, "events")
    v = (
        ev.filter(F.col("event_type") == "view")
        .groupBy("user_id")
        .agg(F.min("ts").alias("first_view"))
    )
    p = (
        ev.filter(F.col("event_type") == "purchase")
        .join(v, "user_id")
        .filter(F.col("ts") >= F.col("first_view"))
        .groupBy("user_id")
        .agg(F.min("ts").alias("first_purchase"))
    )
    lat = p.join(v, "user_id").select(
        F.expr("(unix_micros(first_purchase) - unix_micros(first_view)) DIV 1000000")
        .alias("latency_s")
    )
    return lat.agg(
        F.count(F.lit(1)).alias("n_converted"),
        F.percentile(F.col("latency_s").cast("double"), 0.25).alias("p25_s"),
        F.percentile(F.col("latency_s").cast("double"), 0.50).alias("p50_s"),
        F.percentile(F.col("latency_s").cast("double"), 0.75).alias("p75_s"),
        F.max("latency_s").cast("bigint").alias("max_s"),
    )


# ---------------------------------------------------------------------------
# User-journey path mining (ordered sequence aggregation)


@register(
    "top_event_paths",
    "Top user journeys: each user's first five events in (ts, event_id) "
    "order joined into a path string, counted, top-15 by frequency. "
    "The ordered sequence comes from sort_array over collected "
    "(ts, event_id, type) structs — struct order is total because the "
    "id is unique, so the path is deterministic on any partitioning "
    "(a bare collect_list would be partition-order-dependent and "
    "irreproducible). The aggregation buffer is HARD-bounded before "
    "collect_list ever runs: a row_number window keeps only each "
    "user's first five events, so a hot user with millions of events "
    "costs a (spillable) window sort, never an unbounded in-memory "
    "array. One shuffle on user_id (window + agg share it), one on "
    "the path key, TakeOrdered top-k.",
    """
    WITH paths AS (
      SELECT user_id,
             array_to_string((list(event_type ORDER BY ts, event_id))[1:5], '->')
               AS path
      FROM events GROUP BY user_id
    )
    SELECT path, CAST(COUNT(*) AS BIGINT) AS n_users
    FROM paths GROUP BY path
    ORDER BY n_users DESC, path
    LIMIT 15
    """,
)
def q_top_event_paths(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = load_table(spark, sf_dir, "events")
    first5 = (
        ev.select("user_id", "ts", "event_id", "event_type")
        .withColumn(
            "__rn",
            F.row_number().over(
                Window.partitionBy("user_id").orderBy("ts", "event_id")
            ),
        )
        .filter(F.col("__rn") <= 5)
    )
    seq = F.sort_array(
        F.collect_list(F.struct("ts", "event_id", "event_type"))
    )
    path = F.array_join(F.transform(seq, lambda s: s["event_type"]), "->")
    return (
        first5.groupBy("user_id")
        .agg(path.alias("path"))
        .groupBy("path")
        .agg(F.count(F.lit(1)).alias("n_users"))
        .orderBy(F.desc("n_users"), "path")
        .limit(15)
    )


# ---------------------------------------------------------------------------
# DAU/WAU via mergeable bitmap rollup (sketch once, roll up many ways)


@register(
    "wau_dau_bitmap_rollup",
    "DAU/WAU from ONE daily sketch: per (event_type, day) a 62-bit "
    "user-bucket bitmap (bit_or monoid — partial-aggregates map-side), "
    "then weekly activity is the bitmaps OR-folded over a 7-day window "
    "— the mergeable-sketch rollup that makes engagement metrics "
    "feasible at 100 TB: the fact table is scanned ONCE at day grain "
    "and every coarser period derives by sketch merge, never a "
    "re-scan. Bucket occupancy approximates actives (exact while "
    "users-per-type-day < buckets); stickiness = one double division.",
    """
    WITH daily AS (
      SELECT event_type,
             CAST(date_trunc('day', ts) AS TIMESTAMP) AS day,
             bit_or(1 << CAST(user_id % 62 AS BIGINT)) AS bm
      FROM events
      GROUP BY event_type, day
    )
    SELECT event_type, day,
           CAST(bit_count(CAST(bm AS BIGINT)) AS INTEGER) AS dau_buckets,
           CAST(bit_count(CAST(bit_or(bm) OVER (
                  PARTITION BY event_type ORDER BY day
                  ROWS BETWEEN 6 PRECEDING AND CURRENT ROW) AS BIGINT))
                AS INTEGER) AS wau_buckets,
           CAST(bit_count(CAST(bm AS BIGINT)) AS DOUBLE)
             / CAST(bit_count(CAST(bit_or(bm) OVER (
                  PARTITION BY event_type ORDER BY day
                  ROWS BETWEEN 6 PRECEDING AND CURRENT ROW) AS BIGINT))
                    AS DOUBLE) AS stickiness
    FROM daily
    """,
)
def q_wau_dau_bitmap_rollup(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = load_table(spark, sf_dir, "events")
    mask = F.expr("shiftleft(CAST(1 AS BIGINT), CAST(user_id % 62 AS INT))")
    daily = ev.groupBy(
        "event_type", F.date_trunc("day", F.col("ts")).alias("day")
    ).agg(F.bit_or(mask).alias("bm"))
    w = (
        Window.partitionBy("event_type")
        .orderBy("day")
        .rowsBetween(-6, Window.currentRow)
    )
    dau = F.bit_count(F.col("bm")).cast("int")
    wau = F.bit_count(F.bit_or(F.col("bm")).over(w)).cast("int")
    return daily.select(
        "event_type",
        "day",
        dau.alias("dau_buckets"),
        wau.alias("wau_buckets"),
        (dau.cast("double") / wau.cast("double")).alias("stickiness"),
    )


# ---------------------------------------------------------------------------
# Time-bounded anti-join (NOT EXISTS within a window — abandonment)


@register(
    "abandoned_views",
    "Abandonment metric: per user, views with NO click/purchase by the "
    "same user within the following 30 minutes — the time-bounded "
    "NOT EXISTS decorrelation. Spark plans the anti-join with the "
    "user_id equi-key as the hash key and the time bounds as residual "
    "join conditions — never a nested-loop over the corpus; one "
    "shuffle on user_id serves both sides. Abandonment rate is one "
    "double division of exact counts.",
    """
    WITH v AS (
      SELECT user_id, event_id, ts FROM events WHERE event_type = 'view'
    ),
    fu AS (
      SELECT user_id, ts FROM events
      WHERE event_type IN ('click', 'purchase')
    ),
    abandoned AS (
      SELECT v.user_id, v.event_id FROM v
      WHERE NOT EXISTS (
        SELECT 1 FROM fu
        WHERE fu.user_id = v.user_id
          AND fu.ts >= v.ts
          AND fu.ts < v.ts + INTERVAL 30 MINUTE
      )
    )
    SELECT v.user_id,
           CAST(COUNT(*) AS BIGINT) AS n_views,
           CAST((SELECT COUNT(*) FROM abandoned a WHERE a.user_id = v.user_id)
                AS BIGINT) AS n_abandoned,
           CAST((SELECT COUNT(*) FROM abandoned a WHERE a.user_id = v.user_id)
                AS DOUBLE) / CAST(COUNT(*) AS DOUBLE) AS abandon_rate
    FROM v
    GROUP BY v.user_id
    """,
)
def q_abandoned_views(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = load_table(spark, sf_dir, "events")
    v = ev.filter(F.col("event_type") == "view").select(
        "user_id", "event_id", "ts"
    )
    fu = ev.filter(F.col("event_type").isin("click", "purchase")).select(
        F.col("user_id").alias("fu_user"), F.col("ts").alias("fu_ts")
    )
    abandoned = v.join(
        fu,
        (F.col("fu_user") == F.col("user_id"))
        & (F.col("fu_ts") >= F.col("ts"))
        & (F.col("fu_ts") < F.col("ts") + F.expr("INTERVAL 30 MINUTES")),
        "left_anti",
    )
    totals = v.groupBy("user_id").agg(F.count(F.lit(1)).alias("n_views"))
    ab = abandoned.groupBy("user_id").agg(
        F.count(F.lit(1)).alias("n_abandoned")
    )
    return (
        totals.join(ab, "user_id", "left")
        .select(
            "user_id",
            "n_views",
            F.coalesce(F.col("n_abandoned"), F.lit(0)).cast("bigint").alias("n_abandoned"),
            (
                F.coalesce(F.col("n_abandoned"), F.lit(0)).cast("double")
                / F.col("n_views").cast("double")
            ).alias("abandon_rate"),
        )
    )


# ---------------------------------------------------------------------------
# Contiguous sequence-pattern detection (MATCH_RECOGNIZE-style, bounded)


@register(
    "contiguous_funnel_pattern",
    "Sequence-pattern detection: users whose event stream contains a "
    "CONTIGUOUS view→click→purchase triple (no intervening event) — "
    "the MATCH_RECOGNIZE shape, expressed as two LEADs over the "
    "per-user time order so state per row is exactly two lookaheads "
    "(never a collected path array — the unbounded-buffer trap "
    "top_event_paths taught). One window shuffle on user_id; the "
    "per-user flag is a plain aggregate over match markers. Output: "
    "matching users and their match count.",
    """
    WITH w AS (
      SELECT user_id, event_type,
             LEAD(event_type, 1) OVER (PARTITION BY user_id
                                       ORDER BY ts, event_id) AS t1,
             LEAD(event_type, 2) OVER (PARTITION BY user_id
                                       ORDER BY ts, event_id) AS t2
      FROM events
    )
    SELECT user_id,
           CAST(SUM(CASE WHEN event_type = 'view' AND t1 = 'click'
                              AND t2 = 'purchase' THEN 1 ELSE 0 END)
                AS BIGINT) AS n_matches
    FROM w GROUP BY user_id
    HAVING SUM(CASE WHEN event_type = 'view' AND t1 = 'click'
                         AND t2 = 'purchase' THEN 1 ELSE 0 END) > 0
    """,
)
def q_contiguous_funnel_pattern(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = load_table(spark, sf_dir, "events")
    w = Window.partitionBy("user_id").orderBy("ts", "event_id")
    marked = ev.select(
        "user_id",
        "event_type",
        F.lead("event_type", 1).over(w).alias("t1"),
        F.lead("event_type", 2).over(w).alias("t2"),
    )
    match = F.when(
        (F.col("event_type") == "view")
        & (F.col("t1") == "click")
        & (F.col("t2") == "purchase"),
        1,
    ).otherwise(0)
    return (
        marked.groupBy("user_id")
        .agg(F.sum(match).cast("bigint").alias("n_matches"))
        .filter(F.col("n_matches") > 0)
    )


# ---------------------------------------------------------------------------
# Sliding-window distinct users (7-day) via interval decomposition


@register(
    "sliding_distinct_users_7d",
    "Rolling 7-day distinct users per day — the metric a naive plan "
    "computes with a per-day DISTINCT re-scan (7x the data) or a "
    "sliding-window COUNT(DISTINCT) Spark cannot express. Interval "
    "decomposition makes it ONE linear pass: dedupe (user, day), take "
    "each activity day's successor with lead(), and the user then "
    "covers window-ends [day, min(day+6, next_day-1)] — disjoint per "
    "user, so a bounded <=7x explode + plain COUNT(*) per window-end "
    "IS the distinct count, no second dedupe. Shuffles: the (user,day) "
    "dedupe, the per-user lead window (per-user timelines, full "
    "parallelism), the final day rollup. The global max-day cap is a "
    "one-row broadcast. Survives 100x: fan-out is bounded by the "
    "window length, state by (user, day) pairs, never raw events.",
    """
    WITH ud AS (
      SELECT DISTINCT user_id,
             CAST(date_diff('day', DATE '1970-01-01', CAST(ts AS DATE))
                  AS INTEGER) AS day
      FROM events
    ),
    mx AS (SELECT MAX(day) AS mxd FROM ud),
    iv AS (
      SELECT user_id, day,
             LEAD(day) OVER (PARTITION BY user_id ORDER BY day) AS nd
      FROM ud
    ),
    cov AS (
      SELECT unnest(range(day,
               least(least(day + 6, COALESCE(nd - 1, day + 6)), mx.mxd) + 1))
               AS window_end
      FROM iv CROSS JOIN mx
    )
    SELECT CAST(window_end AS INTEGER) AS window_end,
           CAST(COUNT(*) AS BIGINT) AS n_active_7d
    FROM cov
    GROUP BY window_end
    ORDER BY window_end
    """,
)
def q_sliding_distinct_users_7d(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = load_table(spark, sf_dir, "events")
    ud = ev.select(
        "user_id",
        F.datediff(F.col("ts").cast("date"), F.lit("1970-01-01").cast("date"))
        .cast("int")
        .alias("day"),
    ).distinct()
    mx = ud.agg(F.max("day").alias("mxd"))
    iv = ud.withColumn(
        "nd", F.lead("day").over(Window.partitionBy("user_id").orderBy("day"))
    )
    ub = F.least(
        F.least(F.col("day") + 6, F.coalesce(F.col("nd") - 1, F.col("day") + 6)),
        F.col("mxd"),
    )
    cov = iv.crossJoin(F.broadcast(mx)).select(
        F.explode(F.sequence(F.col("day"), ub)).alias("window_end")
    )
    return (
        cov.groupBy(F.col("window_end").cast("int").alias("window_end"))
        .agg(F.count(F.lit(1)).cast("bigint").alias("n_active_7d"))
        .orderBy("window_end")
    )


# ---------------------------------------------------------------------------
# Linear multi-touch attribution within sessions


@register(
    "attribution_linear_session",
    "Linear multi-touch attribution: each purchase's value splits "
    "equally across ALL preceding events of the same user session "
    "(30-min gap sessionization), in exact integer cents — "
    "value DIV n per touch with the remainder assigned to the "
    "earliest touch, so attributed cents sum EXACTLY to purchase "
    "cents (the audit no float split survives). Sessionization and "
    "the per-purchase touch counts are per-user windows (full "
    "parallelism); credit flows through one equi-join on "
    "(user, session, purchase-order). Output: attributed cents per "
    "touch event type. Scale caveat owned: per-purchase fan-out equals "
    "its session's touch count, so a pathological never-idle key (bot "
    "traffic) concentrates credit rows — cap session length upstream "
    "(the burst-dedup gate) before attribution at 100 TB.",
    """
    WITH e AS (
      SELECT user_id, event_id, event_type,
             epoch_us(ts) AS tu,
             CAST(round(COALESCE(value, 0) * 100) AS BIGINT) AS cents
      FROM events
    ),
    marks AS (
      SELECT *,
             CASE WHEN tu - COALESCE(lag(tu) OVER (
                    PARTITION BY user_id ORDER BY tu, event_id), tu)
                  > 1800000000 THEN 1 ELSE 0 END AS is_new
      FROM e
    ),
    s AS (
      SELECT *,
             SUM(is_new) OVER (PARTITION BY user_id ORDER BY tu, event_id
                               ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
               AS sess
      FROM marks
    ),
    touches AS (
      SELECT user_id, sess, event_id, event_type, tu
      FROM s WHERE event_type <> 'purchase'
    ),
    purchases AS (
      SELECT user_id, sess, event_id AS p_id, tu AS p_tu, cents
      FROM s WHERE event_type = 'purchase' AND cents > 0
    ),
    credit AS (
      SELECT t.event_type, p.cents, p.p_id,
             CAST(COUNT(*) OVER (PARTITION BY p.user_id, p.sess, p.p_id)
                  AS BIGINT) AS n_touch,
             ROW_NUMBER() OVER (PARTITION BY p.user_id, p.sess, p.p_id
                                ORDER BY t.tu, t.event_id) AS touch_rank
      FROM purchases p
      JOIN touches t
        ON t.user_id = p.user_id AND t.sess = p.sess AND t.tu < p.p_tu
    )
    SELECT event_type,
           CAST(SUM(cents // n_touch
                    + CASE WHEN touch_rank = 1 THEN cents % n_touch ELSE 0 END)
                AS BIGINT) AS attributed_cents,
           CAST(COUNT(*) AS BIGINT) AS n_touches
    FROM credit
    GROUP BY event_type
    """,
)
def q_attribution_linear_session(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = load_table(spark, sf_dir, "events")
    e = ev.select(
        "user_id",
        "event_id",
        "event_type",
        F.unix_micros("ts").alias("tu"),
        F.round(F.coalesce(F.col("value"), F.lit(0)) * 100)
        .cast("bigint")
        .alias("cents"),
    )
    wu = Window.partitionBy("user_id").orderBy("tu", "event_id")
    gap = F.when(
        F.col("tu") - F.coalesce(F.lag("tu").over(wu), F.col("tu")) > 1_800_000_000,
        1,
    ).otherwise(0)
    s = e.withColumn(
        "sess",
        F.sum(gap).over(wu.rowsBetween(Window.unboundedPreceding, 0)),
    )
    touches = s.filter(F.col("event_type") != "purchase").select(
        "user_id", "sess", "event_id", "event_type", "tu"
    )
    purchases = s.filter(
        (F.col("event_type") == "purchase") & (F.col("cents") > 0)
    ).select(
        "user_id", "sess", F.col("event_id").alias("p_id"),
        F.col("tu").alias("p_tu"), "cents",
    )
    joined = purchases.join(touches, ["user_id", "sess"]).filter(
        F.col("tu") < F.col("p_tu")
    )
    wp = Window.partitionBy("user_id", "sess", "p_id")
    credit = joined.select(
        "event_type",
        "cents",
        F.count(F.lit(1)).over(wp).cast("bigint").alias("n_touch"),
        F.row_number().over(wp.orderBy("tu", "event_id")).alias("touch_rank"),
    )
    return credit.groupBy("event_type").agg(
        F.sum(
            F.expr("cents DIV n_touch")
            + F.when(F.col("touch_rank") == 1, F.expr("cents % n_touch")).otherwise(0)
        )
        .cast("bigint")
        .alias("attributed_cents"),
        F.count(F.lit(1)).cast("bigint").alias("n_touches"),
    )


# ---------------------------------------------------------------------------
# Session depth histogram


@register(
    "session_depth_histogram",
    "Session-depth distribution: sessionize each user's event stream "
    "(30-min gaps, the attribution query's shape), count events per "
    "session, and histogram sessions by depth bucket (1, 2-3, 4-7, "
    "8-15, 16+) — the engagement-shape metric behind bounce-rate "
    "dashboards. Two per-user windows (full parallelism) + one "
    "session rollup + one bounded histogram aggregate; depth buckets "
    "are closed-form integer ranges, no percentile machinery.",
    """
    WITH e AS (
      SELECT user_id, event_id, epoch_us(ts) AS tu FROM events
    ),
    marks AS (
      SELECT user_id, tu, event_id,
             CASE WHEN tu - COALESCE(lag(tu) OVER (
                    PARTITION BY user_id ORDER BY tu, event_id), tu)
                  > 1800000000 THEN 1 ELSE 0 END AS is_new
      FROM e
    ),
    s AS (
      SELECT user_id,
             SUM(is_new) OVER (PARTITION BY user_id ORDER BY tu, event_id
                               ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
               AS sess
      FROM marks
    ),
    depth AS (
      SELECT user_id, sess, CAST(COUNT(*) AS BIGINT) AS n_events
      FROM s GROUP BY user_id, sess
    ),
    b AS (
      SELECT CASE WHEN n_events = 1 THEN '1'
                  WHEN n_events <= 3 THEN '2-3'
                  WHEN n_events <= 7 THEN '4-7'
                  WHEN n_events <= 15 THEN '8-15'
                  ELSE '16+' END AS depth_bucket,
             n_events
      FROM depth
    )
    SELECT depth_bucket,
           CAST(COUNT(*) AS BIGINT) AS n_sessions,
           CAST(SUM(n_events) AS BIGINT) AS n_events
    FROM b
    GROUP BY depth_bucket
    """,
)
def q_session_depth_histogram(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = load_table(spark, sf_dir, "events")
    e = ev.select("user_id", "event_id", F.unix_micros("ts").alias("tu"))
    wu = Window.partitionBy("user_id").orderBy("tu", "event_id")
    gap = F.when(
        F.col("tu") - F.coalesce(F.lag("tu").over(wu), F.col("tu")) > 1_800_000_000,
        1,
    ).otherwise(0)
    s = e.withColumn(
        "sess", F.sum(gap).over(wu.rowsBetween(Window.unboundedPreceding, 0))
    )
    depth = s.groupBy("user_id", "sess").agg(
        F.count(F.lit(1)).cast("bigint").alias("n_events")
    )
    bucket = (
        F.when(F.col("n_events") == 1, "1")
        .when(F.col("n_events") <= 3, "2-3")
        .when(F.col("n_events") <= 7, "4-7")
        .when(F.col("n_events") <= 15, "8-15")
        .otherwise("16+")
    )
    return depth.groupBy(bucket.alias("depth_bucket")).agg(
        F.count(F.lit(1)).cast("bigint").alias("n_sessions"),
        F.sum("n_events").cast("bigint").alias("n_events"),
    )


# ---------------------------------------------------------------------------
# MATCH_RECOGNIZE-style sequence pattern matching over event strings
# ---------------------------------------------------------------------------


@register(
    "event_sequence_regex",
    "MATCH_RECOGNIZE-lite: each user-day's event stream collapses to a "
    "character string (v/c/p/s/e in exact (ts, event_id) order — "
    "sort_array over structs, rule 21) and a regex finds the "
    "view⁺→click⁺→purchase motif as a CONTIGUOUS run — the "
    "row-pattern-matching operator warehouses bolt on, expressed as "
    "collect+regex so the engine's native codegen handles it. Group "
    "sizes are bounded by per-user-day activity (a hot key is one "
    "day of one user, never the corpus); the regex is a narrow map "
    "over the ~|users|·|days| session table.",
    """
    SELECT user_id, CAST(day AS TIMESTAMP) AS day, seq FROM (
      SELECT user_id, date_trunc('day', ts) AS day,
             string_agg(CASE event_type
                          WHEN 'view' THEN 'v' WHEN 'click' THEN 'c'
                          WHEN 'purchase' THEN 'p' WHEN 'signup' THEN 's'
                          ELSE 'e' END, '' ORDER BY ts, event_id) AS seq
      FROM events GROUP BY user_id, date_trunc('day', ts)
    ) WHERE regexp_matches(seq, 'v+c+p')
    """,
)
def q_event_sequence_regex(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = load_table(spark, sf_dir, "events")
    ch = (
        F.when(F.col("event_type") == "view", "v")
        .when(F.col("event_type") == "click", "c")
        .when(F.col("event_type") == "purchase", "p")
        .when(F.col("event_type") == "signup", "s")
        .otherwise("e")
    )
    g = (
        ev.select(
            "user_id",
            F.date_trunc("day", "ts").alias("day"),
            F.struct(F.col("ts"), F.col("event_id"), ch.alias("ch")).alias("s"),
        )
        .groupBy("user_id", "day")
        .agg(
            F.array_join(
                F.transform(
                    F.sort_array(F.collect_list("s")), lambda s: s.getField("ch")
                ),
                "",
            ).alias("seq")
        )
    )
    return g.filter(F.col("seq").rlike("v+c+p")).select("user_id", "day", "seq")


# ---------------------------------------------------------------------------
# Conversion survival curve (first exposure -> first purchase)
# ---------------------------------------------------------------------------

_SURV_HORIZONS = (60, 600, 3600, 86400, 604800)


@register(
    "conversion_survival_curve",
    "Time-to-convert survival curve: per user, latency from FIRST view "
    "to FIRST purchase (exact microsecond difference, rule 11), then "
    "for each horizon in {1m, 10m, 1h, 1d, 7d} the share of converting "
    "users still unconverted at that horizon — the empirical survival "
    "function S(h), all counting + one fixed-point ratio per horizon "
    "(no Kaplan-Meier products, which would need libm). Two grouped "
    "min-aggregations and a 5× explode of the per-user latency table; "
    "output is |horizons| rows.",
    f"""
    WITH fv AS (
      SELECT user_id, MIN(ts) AS t0 FROM events WHERE event_type = 'view'
      GROUP BY user_id
    ),
    fp AS (
      SELECT user_id, MIN(ts) AS t1 FROM events WHERE event_type = 'purchase'
      GROUP BY user_id
    ),
    lat AS (
      SELECT (epoch_us(t1) - epoch_us(t0)) // 1000000 AS lat_s
      FROM fv JOIN fp USING (user_id)
      WHERE t1 >= t0
    )
    SELECT horizon_s, CAST(COUNT(*) AS BIGINT) AS n_users,
           CAST(SUM(CASE WHEN lat_s > horizon_s THEN 1 ELSE 0 END) AS BIGINT)
             AS n_surviving,
           CAST(SUM(CASE WHEN lat_s > horizon_s THEN 1 ELSE 0 END) * 1000000
                // COUNT(*) AS BIGINT) AS survival_fp
    FROM lat CROSS JOIN (SELECT unnest({list(_SURV_HORIZONS)}) AS horizon_s)
    GROUP BY horizon_s
    """,
)
def q_conversion_survival_curve(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = load_table(spark, sf_dir, "events")

    def first_ts(etype: str, alias: str) -> DataFrame:
        return (
            ev.filter(F.col("event_type") == etype)
            .groupBy("user_id")
            .agg(F.min("ts").alias(alias))
        )

    lat = (
        first_ts("view", "t0")
        .join(first_ts("purchase", "t1"), "user_id")
        .filter(F.col("t1") >= F.col("t0"))
        .select(
            F.expr("(unix_micros(t1) - unix_micros(t0)) DIV 1000000").alias("lat_s")
        )
    )
    horizons = F.array(*[F.lit(h) for h in _SURV_HORIZONS])
    return (
        lat.select("lat_s", F.explode(horizons).alias("horizon_s"))
        .groupBy("horizon_s")
        .agg(
            F.count(F.lit(1)).cast("bigint").alias("n_users"),
            F.sum(F.when(F.col("lat_s") > F.col("horizon_s"), 1).otherwise(0))
            .cast("bigint")
            .alias("n_surviving"),
        )
        .withColumn(
            "survival_fp",
            F.expr("CAST(n_surviving * 1000000 DIV n_users AS BIGINT)"),
        )
    )


# ---------------------------------------------------------------------------
# Gaps-and-islands: per-user consecutive-active-day streaks
# ---------------------------------------------------------------------------


@register(
    "user_activity_streaks",
    "Per-user activity streaks via gaps-and-islands: distinct active "
    "days → day-number minus row-number collapses each consecutive run "
    "to one island key (the classic streak idiom) → per-user longest "
    "streak, island count, active-day count. The window partitions by "
    "user and is bounded by that user's active days (≤ horizon days), "
    "never by corpus size; day numbers come from datediff against a "
    "fixed epoch so both engines count identical integers.",
    """
    WITH d AS (
      SELECT DISTINCT user_id,
             date_diff('day', DATE '1970-01-01', CAST(ts AS DATE)) AS dn
      FROM events
    ),
    isl AS (
      SELECT user_id, dn,
             dn - ROW_NUMBER() OVER (PARTITION BY user_id ORDER BY dn) AS grp
      FROM d
    ),
    runs AS (
      SELECT user_id, CAST(COUNT(*) AS BIGINT) AS len
      FROM isl GROUP BY user_id, grp
    )
    SELECT user_id, CAST(SUM(len) AS BIGINT) AS n_active_days,
           CAST(COUNT(*) AS BIGINT) AS n_streaks,
           CAST(MAX(len) AS BIGINT) AS max_streak
    FROM runs GROUP BY user_id
    """,
)
def q_user_activity_streaks(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = load_table(spark, sf_dir, "events")
    d = ev.select(
        "user_id",
        F.datediff(F.col("ts").cast("date"), F.lit("1970-01-01").cast("date")).alias(
            "dn"
        ),
    ).distinct()
    w = Window.partitionBy("user_id").orderBy("dn")
    runs = (
        d.withColumn("grp", F.col("dn") - F.row_number().over(w))
        .groupBy("user_id", "grp")
        .agg(F.count(F.lit(1)).cast("bigint").alias("len"))
    )
    return runs.groupBy("user_id").agg(
        F.sum("len").cast("bigint").alias("n_active_days"),
        F.count(F.lit(1)).cast("bigint").alias("n_streaks"),
        F.max("len").cast("bigint").alias("max_streak"),
    )


# ---------------------------------------------------------------------------
# Second-order Markov transitions (P^2 in fixed point)
# ---------------------------------------------------------------------------


@register(
    "markov_2step_transitions",
    "Two-step Markov behavior: P^2[i,k] = sum_j P[i,j]*P[j,k] from the "
    "first-order transition counts (lead over (ts, event_id), same "
    "definition as event_transition_matrix), computed per-term in ppm "
    "fixed point: (n_ij * n_jk * 1e6) DIV (r_i * r_j), summed over the "
    "middle state. After the one fact-table window + count shuffle, "
    "the matrix product is a |states|^3 join over a tiny table (5x5 "
    "here; any realistic event taxonomy keeps this driver-free and "
    "bounded). Headroom: n_ij*n_jk*1e6 < 2^63 holds while row sums "
    "stay under ~3e6 (docstring contract).",
    """
    WITH seq AS (
      SELECT event_type AS f,
             lead(event_type) OVER (PARTITION BY user_id
                                    ORDER BY ts, event_id) AS t
      FROM events
    ),
    counts AS (
      SELECT f, t, CAST(COUNT(*) AS BIGINT) AS n
      FROM seq WHERE t IS NOT NULL GROUP BY f, t
    ),
    rows_ AS (SELECT f, CAST(SUM(n) AS BIGINT) AS r FROM counts GROUP BY f)
    SELECT a.f AS from_type, b.t AS to_type,
           CAST(SUM(a.n * b.n * 1000000 // (ra.r * rb.r)) AS BIGINT)
             AS p2_ppm
    FROM counts a
    JOIN counts b ON b.f = a.t
    JOIN rows_ ra ON ra.f = a.f
    JOIN rows_ rb ON rb.f = b.f
    GROUP BY a.f, b.t
    """,
)
def q_markov_2step_transitions(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = load_table(spark, sf_dir, "events")
    w = Window.partitionBy("user_id").orderBy("ts", "event_id")
    seq = ev.select(
        F.col("event_type").alias("f"), F.lead("event_type").over(w).alias("t")
    ).filter(F.col("t").isNotNull())
    counts = seq.groupBy("f", "t").agg(F.count(F.lit(1)).cast("bigint").alias("n"))
    rows_ = counts.groupBy("f").agg(F.sum("n").cast("bigint").alias("r"))
    a = counts.alias("a")
    b = counts.alias("b")
    ra = rows_.alias("ra")
    rb = rows_.alias("rb")
    return (
        a.join(b, F.col("b.f") == F.col("a.t"))
        .join(F.broadcast(ra), F.col("ra.f") == F.col("a.f"))
        .join(F.broadcast(rb), F.col("rb.f") == F.col("b.f"))
        .groupBy(F.col("a.f").alias("from_type"), F.col("b.t").alias("to_type"))
        .agg(
            F.expr(
                "CAST(SUM(a.n * b.n * 1000000 DIV (ra.r * rb.r)) AS BIGINT)"
            ).alias("p2_ppm")
        )
    )


# ---------------------------------------------------------------------------
# RFM quintile segmentation (exact NTILE via two-phase rank)
# ---------------------------------------------------------------------------


@register(
    "rfm_segments",
    "RFM customer segmentation: recency (days since last order, vs the "
    "global max order day), frequency (order count), monetary (decimal "
    "revenue sum) — each cut into exact NTILE(5) quintiles WITHOUT a "
    "single-partition global sort: three two_phase_rank passes "
    "(operators/ranking.py; coarse buckets on day/count/price bands, "
    "custkey tiebreak) + the NTILE-identical equidepth_bucket. Output "
    "is the bounded 5x5x5 segment-size table with per-segment revenue. "
    "The global max-day scalar is a broadcast one-row frame.",
    """
    WITH cust AS (
      SELECT o_custkey AS ck,
             CAST(max(epoch_us(date_trunc('day', o_orderdate)))
                  // 86400000000 AS BIGINT) AS last_day,
             CAST(COUNT(*) AS BIGINT) AS freq,
             CAST(SUM(CAST(o_totalprice AS DECIMAL(18,2))) AS DOUBLE) AS money
      FROM orders GROUP BY o_custkey
    ),
    mx AS (SELECT CAST(MAX(last_day) AS BIGINT) AS max_day FROM cust),
    rfm AS (
      SELECT ck, CAST(max_day - last_day AS BIGINT) AS rec, freq, money,
             NTILE(5) OVER (ORDER BY max_day - last_day, ck) AS r_q,
             NTILE(5) OVER (ORDER BY freq, ck) AS f_q,
             NTILE(5) OVER (ORDER BY money, ck) AS m_q
      FROM cust CROSS JOIN mx
    )
    SELECT r_q, f_q, m_q,
           CAST(COUNT(*) AS BIGINT) AS n_customers,
           CAST(SUM(CAST(money AS DECIMAL(18,2))) AS DOUBLE) AS segment_revenue
    FROM rfm GROUP BY r_q, f_q, m_q
    """,
)
def q_rfm_segments(spark: SparkSession, sf_dir: str) -> DataFrame:
    o = load_table(spark, sf_dir, "orders")
    cust = o.groupBy(F.col("o_custkey").alias("ck")).agg(
        F.expr(
            "CAST(max(unix_micros(date_trunc('day', o_orderdate)))"
            " DIV 86400000000 AS BIGINT)"
        ).alias("last_day"),
        F.count(F.lit(1)).cast("bigint").alias("freq"),
        F.sum(F.col("o_totalprice").cast("decimal(18,2)")).cast("double").alias(
            "money"
        ),
    )
    mx = cust.agg(F.max("last_day").cast("bigint").alias("max_day"))
    base = cust.crossJoin(F.broadcast(mx)).withColumn(
        "rec", (F.col("max_day") - F.col("last_day")).cast("bigint")
    )
    # r11: the three ranks are independent columns over the SAME frame —
    # two_phase_multi_rank attaches all three coarse buckets up front and
    # checkpoints ONCE (three chained two_phase_rank calls serialized
    # three materialization jobs + three collects; same offsets, same
    # ranks, one barrier).
    ranked, n = two_phase_multi_rank(
        base,
        [
            (["rec", "ck"], F.expr("rec DIV 30"), "r_rank"),
            (["freq", "ck"], F.expr("freq DIV 4"), "f_rank"),
            (
                ["money", "ck"],
                F.expr("CAST(floor(money) AS BIGINT) DIV 100000"),
                "m_rank",
            ),
        ],
    )
    seg = ranked.select(
        equidepth_bucket(F.col("r_rank"), n, 5).alias("r_q"),
        equidepth_bucket(F.col("f_rank"), n, 5).alias("f_q"),
        equidepth_bucket(F.col("m_rank"), n, 5).alias("m_q"),
        "money",
    )
    return seg.groupBy("r_q", "f_q", "m_q").agg(
        F.count(F.lit(1)).cast("bigint").alias("n_customers"),
        F.sum(F.col("money").cast("decimal(18,2)")).cast("double").alias(
            "segment_revenue"
        ),
    )


# ---------------------------------------------------------------------------
# Cohort LTV curves
# ---------------------------------------------------------------------------


@register(
    "cohort_ltv_curve",
    "Cumulative lifetime-value curve per monthly acquisition cohort: "
    "cohort = month of first order, age = months since cohort, LTV = "
    "running per-customer cumulative revenue. Two fact shuffles "
    "(first-order per customer, then (cohort, age) revenue) and one "
    "window over the BOUNDED cohort x age table; revenue accumulates "
    "in DECIMAL with ONE cast to double per output cell (rule 1), and "
    "ltv_per_customer is one IEEE division. The retention companion "
    "is cohort_retention_weekly.",
    """
    WITH firsts AS (
      SELECT o_custkey AS ck,
             CAST(MIN(year(o_orderdate) * 12 + month(o_orderdate))
                  AS BIGINT) AS cohort_ym
      FROM orders GROUP BY o_custkey
    ),
    facts AS (
      SELECT f.cohort_ym,
             CAST(year(o.o_orderdate) * 12 + month(o.o_orderdate)
                  - f.cohort_ym AS BIGINT) AS age,
             CAST(o.o_totalprice AS DECIMAL(18,2)) AS rev
      FROM orders o JOIN firsts f ON f.ck = o.o_custkey
    ),
    sizes AS (
      SELECT cohort_ym, CAST(COUNT(*) AS BIGINT) AS cohort_size
      FROM firsts GROUP BY cohort_ym
    ),
    curve AS (
      SELECT cohort_ym, age, SUM(rev) AS rev_m
      FROM facts GROUP BY cohort_ym, age
    )
    SELECT c.cohort_ym, c.age, s.cohort_size,
           CAST(c.rev_m AS DOUBLE) AS month_revenue,
           CAST(SUM(c.rev_m) OVER (PARTITION BY c.cohort_ym ORDER BY c.age
                ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
                AS DOUBLE) AS cum_revenue,
           CAST(SUM(c.rev_m) OVER (PARTITION BY c.cohort_ym ORDER BY c.age
                ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
                AS DOUBLE) / CAST(s.cohort_size AS DOUBLE)
             AS ltv_per_customer
    FROM curve c JOIN sizes s ON s.cohort_ym = c.cohort_ym
    """,
)
def q_cohort_ltv_curve(spark: SparkSession, sf_dir: str) -> DataFrame:
    o = load_table(spark, sf_dir, "orders")
    ym = F.year("o_orderdate") * 12 + F.month("o_orderdate")
    firsts = o.groupBy(F.col("o_custkey").alias("ck")).agg(
        F.min(ym).cast("bigint").alias("cohort_ym")
    )
    facts = o.join(firsts, o.o_custkey == firsts.ck).select(
        "cohort_ym",
        (ym.cast("bigint") - F.col("cohort_ym")).alias("age"),
        F.col("o_totalprice").cast("decimal(18,2)").alias("rev"),
    )
    sizes = firsts.groupBy("cohort_ym").agg(
        F.count(F.lit(1)).cast("bigint").alias("cohort_size")
    )
    curve = facts.groupBy("cohort_ym", "age").agg(F.sum("rev").alias("rev_m"))
    # cohort x age table is bounded by the calendar span squared, not rows
    w = (
        Window.partitionBy("cohort_ym")
        .orderBy("age")
        .rowsBetween(Window.unboundedPreceding, 0)
    )
    return (
        curve.join(F.broadcast(sizes), "cohort_ym")
        .select(
            "cohort_ym",
            "age",
            "cohort_size",
            F.col("rev_m").cast("double").alias("month_revenue"),
            F.sum("rev_m").over(w).cast("double").alias("cum_revenue"),
            (
                F.sum("rev_m").over(w).cast("double")
                / F.col("cohort_size").cast("double")
            ).alias("ltv_per_customer"),
        )
    )


# ---------------------------------------------------------------------------
# Time-decay multi-touch attribution
# ---------------------------------------------------------------------------


@register(
    "attribution_time_decay",
    "Time-decay multi-touch attribution, libm-free: every touch within "
    "30 minutes before the user's NEXT purchase earns credit "
    "1e6 DIV (1 + minutes_before) — reciprocal decay instead of the "
    "classic exponential half-life (no exp; same monotone shape, "
    "exact integers). The next-purchase timestamp comes from ONE "
    "forward-looking min window over (user, ts) — no purchase-to-"
    "touch range join, no fan-out; then one bounded per-type rollup. "
    "Companion to attribution_linear_session (equal-credit variant).",
    """
    WITH seq AS (
      SELECT event_type, user_id,
             epoch_us(ts) AS ts_us,
             min(CASE WHEN event_type = 'purchase' THEN epoch_us(ts) END)
               OVER (PARTITION BY user_id ORDER BY ts, event_id
                     ROWS BETWEEN 1 FOLLOWING AND UNBOUNDED FOLLOWING)
               AS next_p_us
      FROM events
    ),
    touches AS (
      SELECT event_type,
             CAST((next_p_us - ts_us) // 60000000 AS BIGINT) AS mins
      FROM seq
      WHERE event_type <> 'purchase' AND next_p_us IS NOT NULL
        AND (next_p_us - ts_us) // 60000000 <= 30
    )
    SELECT event_type,
           CAST(COUNT(*) AS BIGINT) AS n_touches,
           CAST(SUM(1000000 // (1 + mins)) AS BIGINT) AS credit_ppm
    FROM touches
    GROUP BY event_type
    """,
)
def q_attribution_time_decay(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = load_table(spark, sf_dir, "events")
    w = (
        Window.partitionBy("user_id")
        .orderBy("ts", "event_id")
        .rowsBetween(1, Window.unboundedFollowing)
    )
    seq = ev.select(
        "event_type",
        F.unix_micros("ts").alias("ts_us"),
        F.min(
            F.when(F.col("event_type") == "purchase", F.unix_micros("ts"))
        ).over(w).alias("next_p_us"),
    )
    touches = seq.filter(
        (F.col("event_type") != "purchase") & F.col("next_p_us").isNotNull()
    ).select(
        "event_type",
        F.expr("CAST((next_p_us - ts_us) DIV 60000000 AS BIGINT)").alias("mins"),
    ).filter(F.col("mins") <= 30)
    return touches.groupBy("event_type").agg(
        F.count(F.lit(1)).cast("bigint").alias("n_touches"),
        F.expr("CAST(SUM(1000000 DIV (1 + mins)) AS BIGINT)").alias("credit_ppm"),
    )


# ---------------------------------------------------------------------------
# Deterministic negative sampling for training pairs
# ---------------------------------------------------------------------------


@register(
    "negative_sampling_pairs",
    "Deterministic negative sampling for (customer, brand) training "
    "pairs: positives are the distinct purchased brands per customer; "
    "for each purchasing customer, 3 candidate brands are drawn by "
    "portable hash of (custkey, draw-index) modulo the brand count, "
    "deduplicated, and anti-joined against the positives — the "
    "contrastive-learning negative generator (word2vec/retrieval "
    "two-tower style) with no RNG: reruns and engines agree exactly. "
    "Scale: candidate fan-out is a constant 3x customers; the "
    "brand-index join is a broadcast of a bounded dim; the anti-join "
    "shuffles on (custkey, brand) — never a cross join. Output is the "
    "bounded per-brand pos/neg census.",
    """
    WITH pos AS (
      SELECT DISTINCT o.o_custkey AS custkey, p.p_brand AS brand
      FROM orders o
      JOIN lineitem l ON l.l_orderkey = o.o_orderkey
      JOIN part p ON p.p_partkey = l.l_partkey
    ),
    brands AS (
      SELECT p_brand AS brand,
             ROW_NUMBER() OVER (ORDER BY p_brand) - 1 AS idx
      FROM (SELECT DISTINCT p_brand FROM part)
    ),
    nb AS (SELECT COUNT(*) AS n_brands FROM brands),
    custs AS (SELECT DISTINCT custkey FROM pos),
    cand AS (
      SELECT DISTINCT c.custkey, b.brand
      FROM custs c
      CROSS JOIN nb
      CROSS JOIN (SELECT unnest([0, 1, 2]) AS j) draws
      JOIN brands b
        ON b.idx = ('0x' || substr(md5(CAST(c.custkey AS VARCHAR) || '#'
                                       || CAST(j AS VARCHAR)), 1, 15))::BIGINT
                   % nb.n_brands
    ),
    neg AS (
      SELECT c.custkey, c.brand FROM cand c
      WHERE NOT EXISTS (SELECT 1 FROM pos p
                        WHERE p.custkey = c.custkey AND p.brand = c.brand)
    )
    SELECT b.brand,
           CAST(COALESCE(pc.n_pos, 0) AS BIGINT) AS n_pos,
           CAST(COALESCE(nc.n_neg, 0) AS BIGINT) AS n_neg
    FROM brands b
    LEFT JOIN (SELECT brand, COUNT(*) AS n_pos FROM pos GROUP BY brand) pc
      ON pc.brand = b.brand
    LEFT JOIN (SELECT brand, COUNT(*) AS n_neg FROM neg GROUP BY brand) nc
      ON nc.brand = b.brand
    """,
)
def q_negative_sampling_pairs(spark: SparkSession, sf_dir: str) -> DataFrame:
    o = load_table(spark, sf_dir, "orders")
    li = load_table(spark, sf_dir, "lineitem")
    p = load_table(spark, sf_dir, "part")
    pos = (
        o.join(li, o.o_orderkey == li.l_orderkey)
        .join(p, li.l_partkey == p.p_partkey)
        .select(F.col("o_custkey").alias("custkey"), F.col("p_brand").alias("brand"))
        .distinct()
    )
    brands = (
        p.select("p_brand")
        .distinct()
        .select(
            F.col("p_brand").alias("brand"),
            (F.row_number().over(Window.orderBy("p_brand")) - 1).alias("idx"),
        )
    )
    nb = brands.agg(F.count(F.lit(1)).alias("n_brands"))
    custs = pos.select("custkey").distinct()
    # portable hash mod data-dependent brand count (column modulus)
    h = F.conv(
        F.substring(
            F.md5(F.concat(F.col("custkey").cast("string"), F.lit("#"), F.col("j").cast("string"))),
            1,
            15,
        ),
        16,
        10,
    ).cast("long")
    cand = (
        custs.crossJoin(F.broadcast(nb))
        .select("custkey", "n_brands", F.explode(F.array(F.lit(0), F.lit(1), F.lit(2))).alias("j"))
        .select("custkey", (h % F.col("n_brands")).alias("cand_idx"))
        .join(F.broadcast(brands), F.col("cand_idx") == F.col("idx"))
        .select("custkey", "brand")
        .distinct()
    )
    neg = cand.join(pos, ["custkey", "brand"], "left_anti")
    pc = pos.groupBy("brand").agg(F.count(F.lit(1)).alias("n_pos"))
    nc = neg.groupBy("brand").agg(F.count(F.lit(1)).alias("n_neg"))
    return (
        brands.select("brand")
        .join(pc, "brand", "left")
        .join(nc, "brand", "left")
        .select(
            "brand",
            F.coalesce(F.col("n_pos"), F.lit(0)).cast("bigint").alias("n_pos"),
            F.coalesce(F.col("n_neg"), F.lit(0)).cast("bigint").alias("n_neg"),
        )
    )


# ---------------------------------------------------------------------------
# Position-based (U-shaped) multi-touch attribution
# ---------------------------------------------------------------------------

_USHAPE_CREDIT = (
    "CASE WHEN n_touch = 1 THEN 1000000 "
    "WHEN n_touch = 2 THEN 500000 "
    "WHEN touch_rank = 1 THEN 400000 + 200000 % (n_touch - 2) "
    "WHEN touch_rank = n_touch THEN 400000 "
    "ELSE 200000 {div} (n_touch - 2) END"
)


@register(
    "attribution_position_based",
    "Position-based (U-shaped 40/20/40) multi-touch attribution, "
    "completing the linear + time-decay triad: first and last touch "
    "of each purchase's session path get 40%% each, the middle splits "
    "the remaining 20%% by truncating DIV with the remainder assigned "
    "to the first touch — so every purchase's credit sums to EXACTLY "
    "1e6 ppm (single-touch 100%%, two-touch 50/50). Attributed cents "
    "are cents*share_ppm DIV 1e6 per row (bounded: cents < 2^17, "
    "product < 2^37). Same sessionization and single (user, session) "
    "equi-join as the linear variant; the only new work is the "
    "constant-time credit CASE. Oracle uses two CTE levels for the "
    "session marks (rule 32: DuckDB rejects nested windows).",
    f"""
    WITH e AS (
      SELECT user_id, event_id, event_type,
             epoch_us(ts) AS tu,
             CAST(round(COALESCE(value, 0) * 100) AS BIGINT) AS cents
      FROM events
    ),
    marks AS (
      SELECT *,
             CASE WHEN tu - COALESCE(lag(tu) OVER (
                    PARTITION BY user_id ORDER BY tu, event_id), tu)
                  > 1800000000 THEN 1 ELSE 0 END AS is_new
      FROM e
    ),
    s AS (
      SELECT *,
             SUM(is_new) OVER (PARTITION BY user_id ORDER BY tu, event_id
                               ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
               AS sess
      FROM marks
    ),
    touches AS (
      SELECT user_id, sess, event_id, event_type, tu
      FROM s WHERE event_type <> 'purchase'
    ),
    purchases AS (
      SELECT user_id, sess, event_id AS p_id, tu AS p_tu, cents
      FROM s WHERE event_type = 'purchase' AND cents > 0
    ),
    credit AS (
      SELECT t.event_type, p.cents,
             CAST(COUNT(*) OVER (PARTITION BY p.user_id, p.sess, p.p_id)
                  AS BIGINT) AS n_touch,
             ROW_NUMBER() OVER (PARTITION BY p.user_id, p.sess, p.p_id
                                ORDER BY t.tu, t.event_id) AS touch_rank
      FROM purchases p
      JOIN touches t
        ON t.user_id = p.user_id AND t.sess = p.sess AND t.tu < p.p_tu
    )
    SELECT event_type,
           CAST(COUNT(*) AS BIGINT) AS n_touches,
           CAST(SUM({_USHAPE_CREDIT.format(div='//')}) AS BIGINT)
             AS credit_ppm_total,
           CAST(SUM((cents * ({_USHAPE_CREDIT.format(div='//')})) // 1000000)
                AS BIGINT) AS attributed_cents
    FROM credit
    GROUP BY event_type
    """,
)
def q_attribution_position_based(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = load_table(spark, sf_dir, "events")
    e = ev.select(
        "user_id",
        "event_id",
        "event_type",
        F.unix_micros("ts").alias("tu"),
        F.round(F.coalesce(F.col("value"), F.lit(0)) * 100).cast("bigint").alias("cents"),
    )
    wu = Window.partitionBy("user_id").orderBy("tu", "event_id")
    gap = F.when(
        F.col("tu") - F.coalesce(F.lag("tu").over(wu), F.col("tu")) > 1_800_000_000, 1
    ).otherwise(0)
    s = e.withColumn(
        "sess", F.sum(gap).over(wu.rowsBetween(Window.unboundedPreceding, 0))
    )
    touches = s.filter(F.col("event_type") != "purchase").select(
        "user_id", "sess", "event_id", "event_type", "tu"
    )
    purchases = s.filter((F.col("event_type") == "purchase") & (F.col("cents") > 0)).select(
        "user_id", "sess", F.col("event_id").alias("p_id"), F.col("tu").alias("p_tu"), "cents"
    )
    joined = purchases.join(touches, ["user_id", "sess"]).filter(
        F.col("tu") < F.col("p_tu")
    )
    wp = Window.partitionBy("user_id", "sess", "p_id")
    credit = joined.select(
        "event_type",
        "cents",
        F.count(F.lit(1)).over(wp).cast("bigint").alias("n_touch"),
        F.row_number().over(wp.orderBy("tu", "event_id")).alias("touch_rank"),
    )
    share = F.expr(_USHAPE_CREDIT.format(div="DIV"))
    return credit.groupBy("event_type").agg(
        F.count(F.lit(1)).cast("bigint").alias("n_touches"),
        F.sum(share).cast("bigint").alias("credit_ppm_total"),
        F.sum(F.expr(f"(cents * ({_USHAPE_CREDIT.format(div='DIV')})) DIV 1000000"))
        .cast("bigint")
        .alias("attributed_cents"),
    )


# ---------------------------------------------------------------------------
# Session entry / exit / bounce census per event type
# ---------------------------------------------------------------------------


@register(
    "session_bounce_entry_exit",
    "Session entry/exit census: for each event type, how many of the "
    "30-min-gap sessions it opens, how many it closes, and how many "
    "single-event sessions (bounces) it IS — plus its session-entry "
    "share in ppm — the landing/exit-page analysis of web analytics "
    "over the shared sessionization definition. First/last flags are "
    "two row_numbers over the materialized (user, session) partition "
    "(rule 32 two-level CTE on the oracle side); the global session "
    "count joins in as a broadcast scalar. One window pass + one "
    "5-row aggregate.",
    """
    WITH e AS (
      SELECT user_id, event_id, event_type, epoch_us(ts) AS tu
      FROM events
    ),
    marks AS (
      SELECT *,
             CASE WHEN tu - COALESCE(lag(tu) OVER (
                    PARTITION BY user_id ORDER BY tu, event_id), tu)
                  > 1800000000 THEN 1 ELSE 0 END AS is_new
      FROM e
    ),
    s AS (
      SELECT *,
             SUM(is_new) OVER (PARTITION BY user_id ORDER BY tu, event_id
                               ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
               AS sess
      FROM marks
    ),
    flagged AS (
      SELECT event_type,
             ROW_NUMBER() OVER (PARTITION BY user_id, sess
                                ORDER BY tu, event_id) AS rn_a,
             ROW_NUMBER() OVER (PARTITION BY user_id, sess
                                ORDER BY tu DESC, event_id DESC) AS rn_d,
             COUNT(*) OVER (PARTITION BY user_id, sess) AS slen
      FROM s
    ),
    tot AS (
      SELECT CAST(SUM(CASE WHEN rn_a = 1 THEN 1 ELSE 0 END) AS BIGINT)
               AS total_sessions
      FROM flagged
    )
    SELECT event_type,
           CAST(SUM(CASE WHEN rn_a = 1 THEN 1 ELSE 0 END) AS BIGINT) AS n_entries,
           CAST(SUM(CASE WHEN rn_d = 1 THEN 1 ELSE 0 END) AS BIGINT) AS n_exits,
           CAST(SUM(CASE WHEN rn_a = 1 AND slen = 1 THEN 1 ELSE 0 END)
                AS BIGINT) AS n_bounces,
           CAST((SUM(CASE WHEN rn_a = 1 THEN 1 ELSE 0 END) * 1000000)
                // total_sessions AS BIGINT) AS entry_share_ppm
    FROM flagged CROSS JOIN tot
    GROUP BY event_type, total_sessions
    """,
)
def q_session_bounce_entry_exit(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = load_table(spark, sf_dir, "events")
    e = ev.select("user_id", "event_id", "event_type", F.unix_micros("ts").alias("tu"))
    wu = Window.partitionBy("user_id").orderBy("tu", "event_id")
    gap = F.when(
        F.col("tu") - F.coalesce(F.lag("tu").over(wu), F.col("tu")) > 1_800_000_000, 1
    ).otherwise(0)
    s = e.withColumn(
        "sess", F.sum(gap).over(wu.rowsBetween(Window.unboundedPreceding, 0))
    )
    ws = Window.partitionBy("user_id", "sess")
    flagged = s.select(
        "event_type",
        F.row_number().over(ws.orderBy("tu", "event_id")).alias("rn_a"),
        F.row_number().over(ws.orderBy(F.desc("tu"), F.desc("event_id"))).alias("rn_d"),
        F.count(F.lit(1)).over(ws).alias("slen"),
    )
    tot = flagged.agg(
        F.sum(F.when(F.col("rn_a") == 1, 1).otherwise(0))
        .cast("bigint")
        .alias("total_sessions")
    )
    return (
        flagged.crossJoin(F.broadcast(tot))
        .groupBy("event_type", "total_sessions")
        .agg(
            F.sum(F.when(F.col("rn_a") == 1, 1).otherwise(0)).cast("bigint").alias("n_entries"),
            F.sum(F.when(F.col("rn_d") == 1, 1).otherwise(0)).cast("bigint").alias("n_exits"),
            F.sum(F.when((F.col("rn_a") == 1) & (F.col("slen") == 1), 1).otherwise(0))
            .cast("bigint")
            .alias("n_bounces"),
            F.expr(
                "CAST((SUM(CASE WHEN rn_a = 1 THEN 1 ELSE 0 END) * 1000000)"
                " DIV FIRST(total_sessions) AS BIGINT)"
            ).alias("entry_share_ppm"),
        )
        .select(
            "event_type", "n_entries", "n_exits", "n_bounces", "entry_share_ppm"
        )
    )


# ---------------------------------------------------------------------------
# Weekly churn rates
# ---------------------------------------------------------------------------


@register(
    "weekly_churn_rates",
    "Weekly churn: users active in absolute week W (epoch-day DIV 7 — "
    "calendar-system-free, engine-identical) who have no activity in "
    "week W+1, as count and ppm rate per week — retention's "
    "complement and the top-line health metric of any subscription "
    "funnel. Distinct (user, week) pairs once (one shuffle), then a "
    "self left-join shifted by one week; the final week is excluded "
    "(its churn is right-censored — the survival-analysis caveat "
    "made explicit rather than reported as fake 100%% churn).",
    """
    WITH uw AS (
      SELECT DISTINCT user_id,
             epoch_us(ts) // 604800000000 AS week
      FROM events
    ),
    maxw AS (SELECT MAX(week) AS max_week FROM uw),
    j AS (
      SELECT a.week, a.user_id,
             CASE WHEN b.user_id IS NULL THEN 1 ELSE 0 END AS churned
      FROM uw a
      LEFT JOIN uw b ON b.user_id = a.user_id AND b.week = a.week + 1
    )
    SELECT j.week,
           CAST(COUNT(*) AS BIGINT) AS n_active,
           CAST(SUM(churned) AS BIGINT) AS n_churned,
           CAST(SUM(churned) * 1000000 // COUNT(*) AS BIGINT) AS churn_ppm
    FROM j CROSS JOIN maxw m
    WHERE j.week < m.max_week
    GROUP BY j.week
    """,
)
def q_weekly_churn_rates(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = load_table(spark, sf_dir, "events")
    uw = ev.select(
        "user_id", F.expr("unix_micros(ts) DIV 604800000000").alias("week")
    ).distinct()
    maxw = uw.agg(F.max("week").alias("max_week"))
    b = uw.select(F.col("user_id").alias("user_id"), (F.col("week") - 1).alias("week"))
    j = uw.join(
        b.withColumn("next_active", F.lit(1)).distinct(), ["user_id", "week"], "left"
    ).select(
        "week",
        F.when(F.col("next_active").isNull(), 1).otherwise(0).alias("churned"),
    )
    return (
        j.crossJoin(F.broadcast(maxw))
        .filter(F.col("week") < F.col("max_week"))
        .groupBy("week")
        .agg(
            F.count(F.lit(1)).cast("bigint").alias("n_active"),
            F.sum("churned").cast("bigint").alias("n_churned"),
            F.expr("CAST(SUM(churned) * 1000000 DIV COUNT(*) AS BIGINT)").alias(
                "churn_ppm"
            ),
        )
    )


# ---------------------------------------------------------------------------
# Naive next-week forecast MAE
# ---------------------------------------------------------------------------


@register(
    "naive_ltv_forecast_mae",
    "Forecasting-baseline eval at the user grain: predict each "
    "user's next-week spend as this week's spend (the naive "
    "persistence model every fancier LTV model must beat) and "
    "measure MAE and bias in exact cents over all (user, week) "
    "pairs with a successor week — including zero-spend weeks, "
    "which a join that drops absent users would silently skip (the "
    "user x week grid is built explicitly from the bounded week "
    "range). Errors are |y_{w+1} - y_w| in BIGINT cents; MAE is one "
    "exact division per week row. The grid fan-out is users x "
    "weeks (bounded small multiple of the user dimension).",
    """
    WITH bounds AS (
      SELECT MIN(epoch_us(ts) // 604800000000) AS wmin,
             MAX(epoch_us(ts) // 604800000000) AS wmax
      FROM events
    ),
    weeks AS (
      SELECT unnest(range(wmin, wmax + 1)) AS week FROM bounds
    ),
    u AS (SELECT DISTINCT user_id FROM events),
    spend AS (
      SELECT user_id, epoch_us(ts) // 604800000000 AS week,
             SUM(CAST(round(value * 100) AS BIGINT)) AS cents
      FROM events WHERE event_type = 'purchase'
      GROUP BY user_id, epoch_us(ts) // 604800000000
    ),
    grid AS (
      SELECT u.user_id, w.week, COALESCE(s.cents, 0) AS cents
      FROM u CROSS JOIN weeks w
      LEFT JOIN spend s ON s.user_id = u.user_id AND s.week = w.week
    ),
    paired AS (
      SELECT a.week, a.cents AS y_now, b.cents AS y_next
      FROM grid a JOIN grid b
        ON b.user_id = a.user_id AND b.week = a.week + 1
    )
    SELECT week,
           CAST(COUNT(*) AS BIGINT) AS n_users,
           CAST(SUM(abs(y_next - y_now)) AS DOUBLE)
             / CAST(COUNT(*) AS DOUBLE) / 100.0 AS mae_dollars,
           CAST(SUM(y_next - y_now) AS DOUBLE)
             / CAST(COUNT(*) AS DOUBLE) / 100.0 AS bias_dollars
    FROM paired
    GROUP BY week
    """,
)
def q_naive_ltv_forecast_mae(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = load_table(spark, sf_dir, "events")
    wk = F.expr("unix_micros(ts) DIV 604800000000")
    bounds = ev.agg(F.min(wk).alias("wmin"), F.max(wk).alias("wmax"))
    weeks = bounds.select(
        F.explode(F.sequence(F.col("wmin"), F.col("wmax"))).alias("week")
    )
    u = ev.select("user_id").distinct()
    spend = (
        ev.filter(F.col("event_type") == "purchase")
        .groupBy("user_id", wk.alias("week"))
        .agg(F.sum(F.round(F.col("value") * 100).cast("bigint")).alias("cents"))
    )
    grid = (
        u.crossJoin(F.broadcast(weeks))
        .join(spend, ["user_id", "week"], "left")
        .select("user_id", "week", F.coalesce(F.col("cents"), F.lit(0)).alias("cents"))
    )
    b = grid.select(
        F.col("user_id").alias("user_id"),
        (F.col("week") - 1).alias("week"),
        F.col("cents").alias("y_next"),
    )
    paired = grid.join(b, ["user_id", "week"]).select(
        "week", F.col("cents").alias("y_now"), "y_next"
    )
    return paired.groupBy("week").agg(
        F.count(F.lit(1)).cast("bigint").alias("n_users"),
        (
            F.sum(F.abs(F.col("y_next") - F.col("y_now"))).cast("double")
            / F.count(F.lit(1)).cast("double")
            / 100.0
        ).alias("mae_dollars"),
        (
            F.sum(F.col("y_next") - F.col("y_now")).cast("double")
            / F.count(F.lit(1)).cast("double")
            / 100.0
        ).alias("bias_dollars"),
    )


# ---------------------------------------------------------------------------
# Customer segment migration matrix
# ---------------------------------------------------------------------------


@register(
    "segment_migration_matrix",
    "Customer value-segment migration: spend quintile in the first "
    "order-history half (before 1998) vs the second, as a 5x5 "
    "transition matrix over customers active in BOTH halves — the "
    "upgrade/downgrade census behind retention and CRM planning. "
    "Quintiles are NTILE(5) over (spend DESC, custkey) per half "
    "(deterministic tie-break, rule 20); spend is exact BIGINT "
    "cents. Two half aggregates + one equi-join on custkey; the "
    "matrix aggregate is 25 rows.",
    """
    WITH h1 AS (
      SELECT o_custkey AS custkey,
             SUM(CAST(round(o_totalprice * 100) AS BIGINT)) AS cents
      FROM orders WHERE o_orderdate < TIMESTAMP '1998-01-01 00:00:00'
      GROUP BY o_custkey
    ),
    h2 AS (
      SELECT o_custkey AS custkey,
             SUM(CAST(round(o_totalprice * 100) AS BIGINT)) AS cents
      FROM orders WHERE o_orderdate >= TIMESTAMP '1998-01-01 00:00:00'
      GROUP BY o_custkey
    ),
    q1 AS (
      SELECT custkey, NTILE(5) OVER (ORDER BY cents DESC, custkey) AS seg_h1
      FROM h1
    ),
    q2 AS (
      SELECT custkey, NTILE(5) OVER (ORDER BY cents DESC, custkey) AS seg_h2
      FROM h2
    )
    SELECT q1.seg_h1, q2.seg_h2,
           CAST(COUNT(*) AS BIGINT) AS n_customers
    FROM q1 JOIN q2 ON q2.custkey = q1.custkey
    GROUP BY q1.seg_h1, q2.seg_h2
    """,
)
def q_segment_migration_matrix(spark: SparkSession, sf_dir: str) -> DataFrame:
    # r11: ONE orders pass instead of two. The previous shape ran
    # two_phase_rank per half — two orders scans, two checkpoint
    # materializations and two SERIALIZED driver offset-collects. Both
    # halves now ride one (half, custkey) rollup through the GROUPED
    # two-phase rank (no driver collect at all); per-half NTILE(5) uses
    # the column-typed equidepth_bucket_grouped with per-half totals
    # attached from the bounded 2-row count table, and the h1×h2 join
    # becomes a conditional-aggregate pivot consuming the ranked frame
    # once (CLAUDE.md one-pass-restructure rule).
    from etl_seattle_call_data_spark.operators.ranking import (
        equidepth_bucket_grouped,
        two_phase_rank_in_groups,
    )

    o = load_table(spark, sf_dir, "orders")
    cut = F.lit("1998-01-01 00:00:00").cast("timestamp")
    cents = F.round(F.col("o_totalprice") * 100).cast("bigint")
    hh = (
        o.groupBy(
            F.when(F.col("o_orderdate") < cut, F.lit(1))
            .otherwise(F.lit(2))
            .alias("half"),
            F.col("o_custkey").alias("custkey"),
        )
        .agg(F.sum(cents).alias("cents"))
        .withColumn("negc", -F.col("cents"))
    )
    # ranked feeds the 2-row totals branch AND the segment probe —
    # barrier once (multi-consumer rule)
    ranked = checkpoint(
        two_phase_rank_in_groups(
            hh,
            group_cols=["half"],
            order_by=["negc", "custkey"],
            coarse=F.expr("negc DIV 100000"),
            rank_name="rank",
        )
    )
    totals = ranked.groupBy("half").agg(
        F.count(F.lit(1)).cast("bigint").alias("n_half")
    )
    seg = ranked.join(F.broadcast(totals), "half").select(
        "custkey",
        "half",
        equidepth_bucket_grouped(F.col("rank"), F.col("n_half"), 5).alias("seg"),
    )
    return (
        seg.groupBy("custkey")
        .agg(
            F.max(F.when(F.col("half") == 1, F.col("seg"))).alias("seg_h1"),
            F.max(F.when(F.col("half") == 2, F.col("seg"))).alias("seg_h2"),
        )
        .filter(F.col("seg_h1").isNotNull() & F.col("seg_h2").isNotNull())
        .groupBy("seg_h1", "seg_h2")
        .agg(F.count(F.lit(1)).cast("bigint").alias("n_customers"))
    )


# ---------------------------------------------------------------------------
# New vs returning revenue per month
# ---------------------------------------------------------------------------


@register(
    "new_vs_returning_revenue",
    "Revenue decomposition per calendar month: dollars from FIRST-"
    "time customers (their earliest-ever order month) vs returning "
    "ones, with the new-revenue share in ppm — the acquisition-vs-"
    "retention lens on the top line. Months are integer year*100+"
    "month (rule 19 casts; no DATE canonicalization drift); each "
    "customer's first month is one min() window over the custkey "
    "partition — a single fact shuffle, then a bounded month "
    "aggregate. Exact BIGINT cents throughout.",
    """
    WITH o AS (
      SELECT o_custkey,
             CAST(year(o_orderdate) AS INTEGER) * 100
               + CAST(month(o_orderdate) AS INTEGER) AS ym,
             CAST(round(o_totalprice * 100) AS BIGINT) AS cents
      FROM orders
    ),
    flagged AS (
      SELECT ym, cents,
             CASE WHEN ym = MIN(ym) OVER (PARTITION BY o_custkey)
                  THEN 1 ELSE 0 END AS is_new
      FROM o
    )
    SELECT ym,
           CAST(SUM(CASE WHEN is_new = 1 THEN cents ELSE 0 END) AS DOUBLE)
             / 100.0 AS new_revenue,
           CAST(SUM(CASE WHEN is_new = 0 THEN cents ELSE 0 END) AS DOUBLE)
             / 100.0 AS returning_revenue,
           CAST(SUM(CASE WHEN is_new = 1 THEN cents ELSE 0 END) * 1000000
                // SUM(cents) AS BIGINT) AS new_share_ppm
    FROM flagged
    GROUP BY ym
    """,
)
def q_new_vs_returning_revenue(spark: SparkSession, sf_dir: str) -> DataFrame:
    o = load_table(spark, sf_dir, "orders").select(
        "o_custkey",
        (
            F.year("o_orderdate").cast("int") * 100 + F.month("o_orderdate").cast("int")
        ).alias("ym"),
        F.round(F.col("o_totalprice") * 100).cast("bigint").alias("cents"),
    )
    flagged = o.select(
        "ym",
        "cents",
        F.when(
            F.col("ym") == F.min("ym").over(Window.partitionBy("o_custkey")), 1
        )
        .otherwise(0)
        .alias("is_new"),
    )
    return flagged.groupBy("ym").agg(
        (
            F.sum(F.when(F.col("is_new") == 1, F.col("cents")).otherwise(0)).cast("double")
            / 100.0
        ).alias("new_revenue"),
        (
            F.sum(F.when(F.col("is_new") == 0, F.col("cents")).otherwise(0)).cast("double")
            / 100.0
        ).alias("returning_revenue"),
        F.expr(
            "CAST(SUM(CASE WHEN is_new = 1 THEN cents ELSE 0 END) * 1000000"
            " DIV SUM(cents) AS BIGINT)"
        ).alias("new_share_ppm"),
    )


# ---------------------------------------------------------------------------
# Growth accounting (new / retained / resurrected / churned) per week
# ---------------------------------------------------------------------------


@register(
    "growth_accounting_weekly",
    "Growth accounting — the canonical active-user decomposition: "
    "per epoch-week, active users split into NEW (first week ever), "
    "RETAINED (active previous week), and RESURRECTED (returning "
    "after a gap), plus CHURNED-into-this-week (active last week, "
    "silent now), satisfying the exact identity active(w) = "
    "active(w-1) + new + resurrected - churned. Weeks are integer "
    "epoch-days DIV 7 (rule 11 — no ISO-week dialect drift); all "
    "windows partition by user (bounded per-user activity), then "
    "one bounded week rollup. The decomposition behind every "
    "'why did MAU move' review; complements weekly_churn_rates "
    "(rates) with the full additive ledger.",
    """
    WITH act AS (
      SELECT DISTINCT user_id,
             (epoch_us(ts) // 86400000000) // 7 AS wk
      FROM events
    ),
    seq AS (
      SELECT user_id, wk,
             LAG(wk) OVER (PARTITION BY user_id ORDER BY wk) AS prev_wk,
             LEAD(wk) OVER (PARTITION BY user_id ORDER BY wk) AS next_wk
      FROM act
    ),
    states AS (
      SELECT wk,
             CAST(SUM(CASE WHEN prev_wk IS NULL THEN 1 ELSE 0 END)
               AS BIGINT) AS n_new,
             CAST(SUM(CASE WHEN prev_wk = wk - 1 THEN 1 ELSE 0 END)
               AS BIGINT) AS n_retained,
             CAST(SUM(CASE WHEN prev_wk IS NOT NULL AND prev_wk < wk - 1
               THEN 1 ELSE 0 END) AS BIGINT) AS n_resurrected,
             CAST(COUNT(*) AS BIGINT) AS n_active
      FROM seq GROUP BY wk
    ),
    churn AS (
      SELECT wk + 1 AS wk, CAST(COUNT(*) AS BIGINT) AS n_churned
      FROM seq, (SELECT MAX(wk) AS maxwk FROM act) mx
      WHERE (next_wk IS NULL AND wk < mx.maxwk) OR next_wk > wk + 1
      GROUP BY wk + 1
    )
    SELECT s.wk, s.n_new, s.n_retained, s.n_resurrected, s.n_active,
           COALESCE(c.n_churned, 0) AS n_churned_into_week
    FROM states s LEFT JOIN churn c ON c.wk = s.wk
    """,
)
def q_growth_accounting_weekly(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = load_table(spark, sf_dir, "events")
    act = ev.select(
        "user_id", F.expr("(unix_micros(ts) DIV 86400000000) DIV 7").alias("wk")
    ).distinct()
    wu = Window.partitionBy("user_id").orderBy("wk")
    seq = act.select(
        "user_id",
        "wk",
        F.lag("wk").over(wu).alias("prev_wk"),
        F.lead("wk").over(wu).alias("next_wk"),
    )
    states = seq.groupBy("wk").agg(
        F.sum(F.when(F.col("prev_wk").isNull(), 1).otherwise(0))
        .cast("bigint")
        .alias("n_new"),
        F.sum(F.when(F.col("prev_wk") == F.col("wk") - 1, 1).otherwise(0))
        .cast("bigint")
        .alias("n_retained"),
        F.sum(
            F.when(
                F.col("prev_wk").isNotNull()
                & (F.col("prev_wk") < F.col("wk") - 1),
                1,
            ).otherwise(0)
        )
        .cast("bigint")
        .alias("n_resurrected"),
        F.count(F.lit(1)).cast("bigint").alias("n_active"),
    )
    mx = act.agg(F.max("wk").alias("maxwk"))
    churn = (
        dq.scalar_join(seq, mx)
        .filter(
            (F.col("next_wk").isNull() & (F.col("wk") < F.col("maxwk")))
            | (F.col("next_wk") > F.col("wk") + 1)
        )
        .groupBy((F.col("wk") + 1).alias("wk"))
        .agg(F.count(F.lit(1)).cast("bigint").alias("n_churned"))
    )
    return states.join(churn, "wk", "left").select(
        "wk",
        "n_new",
        "n_retained",
        "n_resurrected",
        "n_active",
        F.coalesce(F.col("n_churned"), F.lit(0)).cast("bigint").alias(
            "n_churned_into_week"
        ),
    )


# ---------------------------------------------------------------------------
# Sankey edges: step-indexed transitions over each user's first 4 events
# ---------------------------------------------------------------------------

_SK_DEPTH = 4  # first 4 events -> steps 1..3


@register(
    "sankey_event_paths_depth3",
    "Step-indexed Sankey edges over each user's first "
    f"{_SK_DEPTH} events: (step, from_type, to_type) transition "
    "counts for steps 1-3 — the flow-diagram feed that "
    "top_event_paths (whole-path strings) and "
    "event_transition_matrix (step-free Markov counts) both can't "
    "serve. The per-user buffer is HARD-bounded before any "
    "aggregation: a row_number window keeps the first "
    f"{_SK_DEPTH} events per user, so hot users cost a spillable "
    "window sort, never memory. (ts, event_id) ordering is total "
    "(unique id tie-break, rule 20). One shuffle on user_id, one on "
    "the bounded edge key.",
    f"""
    WITH r AS (
      SELECT user_id, event_type,
             ROW_NUMBER() OVER (PARTITION BY user_id
                                ORDER BY ts, event_id) AS rn
      FROM events
    ),
    hd AS (SELECT * FROM r WHERE rn <= {_SK_DEPTH}),
    e AS (
      SELECT rn AS step, event_type AS from_type,
             LEAD(event_type) OVER (PARTITION BY user_id ORDER BY rn)
               AS to_type
      FROM hd
    )
    SELECT step, from_type, to_type,
           CAST(COUNT(*) AS BIGINT) AS n_transitions
    FROM e
    WHERE to_type IS NOT NULL AND step <= {_SK_DEPTH - 1}
    GROUP BY step, from_type, to_type
    """,
)
def q_sankey_event_paths_depth3(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    ev = load_table(spark, sf_dir, "events")
    wr = Window.partitionBy("user_id").orderBy("ts", "event_id")
    hd = (
        ev.select(
            "user_id", "event_type", F.row_number().over(wr).alias("rn")
        )
        .filter(F.col("rn") <= _SK_DEPTH)
    )
    wl = Window.partitionBy("user_id").orderBy("rn")
    e = hd.select(
        F.col("rn").alias("step"),
        F.col("event_type").alias("from_type"),
        F.lead("event_type").over(wl).alias("to_type"),
    )
    return (
        e.filter(
            F.col("to_type").isNotNull() & (F.col("step") <= _SK_DEPTH - 1)
        )
        .groupBy("step", "from_type", "to_type")
        .agg(F.count(F.lit(1)).cast("bigint").alias("n_transitions"))
    )


# ---------------------------------------------------------------------------
# Nelson-Aalen cumulative hazard of the second order
# ---------------------------------------------------------------------------


@register(
    "nelson_aalen_second_order",
    "Nelson-Aalen cumulative hazard of a customer's SECOND order, "
    "with right-censoring done honestly: customers who never "
    "reordered are at risk until the end of the observation window "
    "(censor time = last calendar day - first order day), risk sets "
    "n(g) come from suffix sums of the exit histogram on the BOUNDED "
    "gap-day grid, and each hazard increment d(g)*1e9 DIV n(g) is an "
    "exact ppb integer (truncation defined into the estimator) so "
    "the cumulative sum is order-free where Kaplan-Meier float "
    "products would not be (conversion_survival_curve ignores "
    "censoring; this is the estimator that doesn't). First/second "
    "order days via per-customer min + conditional min over the "
    "(customer)-keyed shuffle; emits one row per gap day with "
    "events.",
    f"""
    WITH r AS (
      SELECT o_custkey AS ck,
             epoch_us(o_orderdate) // {_DAY} AS day,
             ROW_NUMBER() OVER (PARTITION BY o_custkey
                                ORDER BY epoch_us(o_orderdate), o_orderkey)
               AS rn
      FROM orders
    ),
    horizon AS (SELECT MAX(day) AS maxd FROM r),
    cust AS (
      SELECT ck,
             MAX(CASE WHEN rn = 1 THEN day END) AS d1,
             MAX(CASE WHEN rn = 2 THEN day END) AS d2
      FROM r WHERE rn <= 2 GROUP BY ck
    ),
    gaps AS (
      SELECT ck,
             CASE WHEN d2 IS NOT NULL THEN d2 - d1 ELSE maxd - d1 END AS g,
             CASE WHEN d2 IS NOT NULL THEN 1 ELSE 0 END AS ev
      FROM cust CROSS JOIN horizon
    ),
    hist AS (
      SELECT g, CAST(SUM(ev) AS BIGINT) AS d,
             CAST(COUNT(*) AS BIGINT) AS exits
      FROM gaps GROUP BY g
    ),
    risk AS (
      SELECT g, d,
             CAST((SELECT COUNT(*) FROM gaps) -
               COALESCE(SUM(exits) OVER (ORDER BY g
                 ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0)
               AS BIGINT) AS n_risk
      FROM hist
    ),
    haz AS (
      SELECT g, d, n_risk,
             d * 1000000000 // n_risk AS term_ppb
      FROM risk
    )
    SELECT g AS gap_days, d AS n_events, n_risk,
           term_ppb AS hazard_ppb,
           CAST(SUM(term_ppb) OVER (ORDER BY g
             ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS BIGINT)
             AS cum_hazard_ppb
    FROM haz WHERE d > 0
    """,
)
def q_nelson_aalen_second_order(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    o = load_table(spark, sf_dir, "orders")
    wr = Window.partitionBy("o_custkey").orderBy(
        F.expr("unix_micros(o_orderdate)"), "o_orderkey"
    )
    r = o.select(
        F.col("o_custkey").alias("ck"),
        F.expr(f"unix_micros(o_orderdate) DIV {_DAY}").alias("day"),
        F.row_number().over(wr).alias("rn"),
    )
    horizon = r.agg(F.max("day").alias("maxd"))
    cust = (
        r.filter(F.col("rn") <= 2)
        .groupBy("ck")
        .agg(
            F.max(F.when(F.col("rn") == 1, F.col("day"))).alias("d1"),
            F.max(F.when(F.col("rn") == 2, F.col("day"))).alias("d2"),
        )
    )
    gaps = cust.crossJoin(F.broadcast(horizon)).select(
        "ck",
        F.when(
            F.col("d2").isNotNull(), F.col("d2") - F.col("d1")
        )
        .otherwise(F.col("maxd") - F.col("d1"))
        .alias("g"),
        F.when(F.col("d2").isNotNull(), 1).otherwise(0).alias("ev"),
    )
    hist = gaps.groupBy("g").agg(
        F.sum("ev").cast("bigint").alias("d"),
        F.count(F.lit(1)).cast("bigint").alias("exits"),
    )
    total = gaps.agg(F.count(F.lit(1)).cast("bigint").alias("n_total"))
    wcum = Window.orderBy("g").rowsBetween(Window.unboundedPreceding, -1)
    # bounded gap-day grid: the unpartitioned windows are calendar-bounded
    risk = hist.crossJoin(F.broadcast(total)).select(
        "g",
        "d",
        (
            F.col("n_total")
            - F.coalesce(F.sum("exits").over(wcum), F.lit(0))
        )
        .cast("bigint")
        .alias("n_risk"),
    )
    haz = risk.select(
        "g",
        "d",
        "n_risk",
        F.expr("d * 1000000000 DIV n_risk").alias("term_ppb"),
    )
    wfull = Window.orderBy("g").rowsBetween(Window.unboundedPreceding, 0)
    return (
        haz.select(
            F.col("g").alias("gap_days"),
            F.col("d").alias("n_events"),
            "n_risk",
            F.col("term_ppb").alias("hazard_ppb"),
            F.sum("term_ppb").over(wfull).cast("bigint").alias(
                "cum_hazard_ppb"
            ),
        )
        .filter(F.col("n_events") > 0)
    )


# ---------------------------------------------------------------------------
# Sequential pattern support: "a happens before b" per user
# ---------------------------------------------------------------------------


@register(
    "sequential_pattern_support",
    "Depth-2 sequential-pattern support over the event stream: for "
    "every ordered type pair (a, b), the number of users for whom a "
    "occurs BEFORE b at least once — exists iff min_ts(a) < "
    "max_ts(b), so the whole pattern table reduces to each user's "
    "5-type min/max grid (one shuffle on user_id, bounded 5x5 "
    "fan-out per user; PrefixSpan's counting step without the "
    "exponential candidate tree). Support ppm is truncating fixed "
    "point over users having both types. Distinct from "
    "sankey_event_paths_depth3 (adjacent steps) and "
    "markov_2step_transitions (consecutive transitions): gaps "
    "allowed here. (ts, event_id) gives the total order (rule 20).",
    """
    WITH g AS (
      SELECT user_id, event_type,
             MIN(epoch_us(ts) * 1000 + event_id % 1000) AS mn,
             MAX(epoch_us(ts) * 1000 + event_id % 1000) AS mx
      FROM events GROUP BY user_id, event_type
    ),
    pairs AS (
      SELECT a.event_type AS type_a, b.event_type AS type_b,
             CAST(COUNT(*) AS BIGINT) AS n_users_both,
             CAST(SUM(CASE WHEN a.mn < b.mx THEN 1 ELSE 0 END) AS BIGINT)
               AS support
      FROM g a JOIN g b
        ON b.user_id = a.user_id AND a.event_type <> b.event_type
      GROUP BY a.event_type, b.event_type
    )
    SELECT type_a, type_b, n_users_both, support,
           support * 1000000 // n_users_both AS support_ppm
    FROM pairs
    """,
)
def q_sequential_pattern_support(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    ev = load_table(spark, sf_dir, "events")
    g = ev.groupBy("user_id", "event_type").agg(
        F.min(
            F.expr("unix_micros(ts) * 1000 + event_id % 1000")
        ).alias("mn"),
        F.max(
            F.expr("unix_micros(ts) * 1000 + event_id % 1000")
        ).alias("mx"),
    )
    a = g.alias("a")
    b = g.alias("b")
    pairs = (
        a.join(
            b,
            (F.col("b.user_id") == F.col("a.user_id"))
            & (F.col("a.event_type") != F.col("b.event_type")),
        )
        .groupBy(
            F.col("a.event_type").alias("type_a"),
            F.col("b.event_type").alias("type_b"),
        )
        .agg(
            F.count(F.lit(1)).cast("bigint").alias("n_users_both"),
            F.sum(
                F.when(F.col("a.mn") < F.col("b.mx"), 1).otherwise(0)
            )
            .cast("bigint")
            .alias("support"),
        )
    )
    return pairs.select(
        "type_a",
        "type_b",
        "n_users_both",
        "support",
        F.expr("support * 1000000 DIV n_users_both").alias("support_ppm"),
    )


# ---------------------------------------------------------------------------
# Sessionization timeout sensitivity
# ---------------------------------------------------------------------------

_ST_TIMEOUTS = (600, 1800, 3600)


@register(
    "session_timeout_sensitivity",
    "Sessionization sensitivity analysis: session counts and mean "
    "events-per-session at 10/30/60-minute inactivity timeouts from "
    "ONE pass over per-user event gaps (exact integer second gaps "
    "from the same ts truncation the production sessionization "
    "uses) — the methodology audit that says how much the 30-minute "
    "convention MATTERS before anyone ships a session metric built "
    "on it. #sessions(T) = #users + #gaps > T, so all three "
    "timeouts are conditional sums over the same gap column. One "
    "shuffle on user_id; 3-row output.",
    f"""
    WITH g AS (
      SELECT user_id,
             epoch_us(ts) // 1000000
               - LAG(epoch_us(ts) // 1000000) OVER (
                   PARTITION BY user_id ORDER BY ts, event_id) AS gap_s
      FROM events
    ),
    tot AS (
      SELECT CAST(COUNT(*) AS BIGINT) AS n_events,
             CAST(COUNT(DISTINCT user_id) AS BIGINT) AS n_users
      FROM events
    ),
    t(timeout_s) AS (VALUES {', '.join(f'({t})' for t in _ST_TIMEOUTS)})
    SELECT t.timeout_s,
           CAST(tot.n_users
                + SUM(CASE WHEN g.gap_s > t.timeout_s THEN 1 ELSE 0 END)
                AS BIGINT) AS n_sessions,
           CAST(tot.n_events * 1000000
                // (tot.n_users
                    + SUM(CASE WHEN g.gap_s > t.timeout_s THEN 1 ELSE 0
                          END)) AS BIGINT) AS events_per_session_ppm
    FROM g CROSS JOIN tot CROSS JOIN t
    GROUP BY t.timeout_s, tot.n_users, tot.n_events
    """,
)
def q_session_timeout_sensitivity(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    ev = load_table(spark, sf_dir, "events")
    w = Window.partitionBy("user_id").orderBy("ts", "event_id")
    sec = F.expr("unix_micros(ts) DIV 1000000")
    g = ev.select((sec - F.lag(sec).over(w)).alias("gap_s"))
    tot = ev.agg(
        F.count(F.lit(1)).cast("bigint").alias("n_events"),
        F.countDistinct("user_id").cast("bigint").alias("n_users"),
    )
    t = spark.createDataFrame(
        [(x,) for x in _ST_TIMEOUTS], "timeout_s long"
    )
    return (
        g.crossJoin(F.broadcast(tot))
        .crossJoin(F.broadcast(t))
        .groupBy("timeout_s", "n_users", "n_events")
        .agg(
            F.sum(
                F.when(F.col("gap_s") > F.col("timeout_s"), 1).otherwise(0)
            )
            .cast("bigint")
            .alias("n_gaps")
        )
        .select(
            "timeout_s",
            F.expr("CAST(n_users + n_gaps AS BIGINT)").alias("n_sessions"),
            F.expr(
                "CAST(n_events * 1000000 DIV (n_users + n_gaps) AS BIGINT)"
            ).alias("events_per_session_ppm"),
        )
    )


# ---------------------------------------------------------------------------
# Does D1 retention predict D7? Cohort-level correlation
# ---------------------------------------------------------------------------

_RT_R = (
    "(CASE WHEN n < 3 OR nd * sxxd - sxd * sxd <= 0.0"
    " OR nd * syyd - syd * syd <= 0.0 THEN -2.0"
    " ELSE (nd * sxyd - sxd * syd)"
    " / (sqrt(nd * sxxd - sxd * sxd) * sqrt(nd * syyd - syd * syd))"
    " END)"
)


@register(
    "retention_d1_d7_predictive",
    "Early-warning validity of D1 retention: per daily signup "
    "cohort (first-seen day), the exact ppm share of users active "
    "exactly 1 day later and exactly 7 days later (complete cohorts "
    "only — first-seen <= max_day - 7), then the cohort-level "
    "Pearson correlation between the two rates — the growth-team "
    "question 'can day-1 read day-7' answered with measurement "
    "instead of folklore (degenerate cohort tables — fewer than 3 "
    "cohorts or zero rate variance — return the -2.0 sentinel, outside [-1, 1], rather than a NULL that pandas-canonicalizes differently per engine, rule 16). "
    "Rates are truncating ppm integers, the "
    "correlation's moments are exact BIGINT over the <= 30-row "
    "cohort table (calendar-bounded), one shared IEEE tree. "
    "Shuffles: distinct (user, day), first-seen min, two activity "
    "joins.",
    f"""
    WITH ud AS (
      SELECT DISTINCT user_id, epoch_us(ts) // {_DAY} AS day FROM events
    ),
    fs AS (SELECT user_id, MIN(day) AS f FROM ud GROUP BY user_id),
    hz AS (SELECT MAX(day) AS maxd FROM ud),
    coh AS (
      SELECT fs.f AS cohort,
             CAST(COUNT(*) AS BIGINT) AS n_users,
             CAST(SUM(CASE WHEN d1.user_id IS NOT NULL THEN 1 ELSE 0 END)
                  AS BIGINT) AS k1,
             CAST(SUM(CASE WHEN d7.user_id IS NOT NULL THEN 1 ELSE 0 END)
                  AS BIGINT) AS k7
      FROM fs
      CROSS JOIN hz
      LEFT JOIN ud d1 ON d1.user_id = fs.user_id AND d1.day = fs.f + 1
      LEFT JOIN ud d7 ON d7.user_id = fs.user_id AND d7.day = fs.f + 7
      WHERE fs.f <= hz.maxd - 7
      GROUP BY fs.f
    ),
    rates AS (
      SELECT cohort, n_users,
             k1 * 1000000 // n_users AS d1_ppm,
             k7 * 1000000 // n_users AS d7_ppm
      FROM coh
    ),
    m AS (
      SELECT CAST(COUNT(*) AS BIGINT) AS n,
             CAST(SUM(d1_ppm) AS BIGINT) AS sx,
             CAST(SUM(d7_ppm) AS BIGINT) AS sy,
             SUM(CAST(d1_ppm AS HUGEINT) * d1_ppm) AS sxx,
             SUM(CAST(d7_ppm AS HUGEINT) * d7_ppm) AS syy,
             SUM(CAST(d1_ppm AS HUGEINT) * d7_ppm) AS sxy
      FROM rates
    ),
    e AS (
      SELECT n, CAST(n AS DOUBLE) AS nd,
             CAST(sx AS DOUBLE) AS sxd, CAST(sy AS DOUBLE) AS syd,
             {_du('sxx')} AS sxxd, {_du('syy')} AS syyd,
             {_du('sxy')} AS sxyd
      FROM m
    )
    SELECT n AS n_cohorts,
           sxd / nd / 1000000.0 AS mean_d1_rate,
           syd / nd / 1000000.0 AS mean_d7_rate,
           {_RT_R} AS pearson_r
    FROM e
    """,
)
def q_retention_d1_d7_predictive(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    ev = load_table(spark, sf_dir, "events")
    ud = ev.select(
        "user_id", F.expr(f"unix_micros(ts) DIV {_DAY}").alias("day")
    ).distinct()
    fs = ud.groupBy("user_id").agg(F.min("day").alias("f"))
    hz = ud.agg(F.max("day").alias("maxd"))
    d1 = ud.select(
        F.col("user_id").alias("u1"), F.col("day").alias("day1")
    )
    d7 = ud.select(
        F.col("user_id").alias("u7"), F.col("day").alias("day7")
    )
    coh = (
        fs.crossJoin(F.broadcast(hz))
        .filter(F.col("f") <= F.col("maxd") - 7)
        .join(
            d1,
            (F.col("u1") == F.col("user_id"))
            & (F.col("day1") == F.col("f") + 1),
            "left",
        )
        .join(
            d7,
            (F.col("u7") == F.col("user_id"))
            & (F.col("day7") == F.col("f") + 7),
            "left",
        )
        .groupBy(F.col("f").alias("cohort"))
        .agg(
            F.count(F.lit(1)).cast("bigint").alias("n_users"),
            F.sum(F.when(F.col("u1").isNotNull(), 1).otherwise(0))
            .cast("bigint")
            .alias("k1"),
            F.sum(F.when(F.col("u7").isNotNull(), 1).otherwise(0))
            .cast("bigint")
            .alias("k7"),
        )
    )
    rates = coh.select(
        "cohort",
        "n_users",
        F.expr("k1 * 1000000 DIV n_users").alias("d1_ppm"),
        F.expr("k7 * 1000000 DIV n_users").alias("d7_ppm"),
    )
    m = rates.agg(
        F.count(F.lit(1)).cast("bigint").alias("n"),
        F.sum("d1_ppm").cast("bigint").alias("sx"),
        F.sum("d7_ppm").cast("bigint").alias("sy"),
        F.sum(F.expr("CAST(d1_ppm AS DECIMAL(38,0)) * d1_ppm")).alias(
            "sxx"
        ),
        F.sum(F.expr("CAST(d7_ppm AS DECIMAL(38,0)) * d7_ppm")).alias(
            "syy"
        ),
        F.sum(F.expr("CAST(d1_ppm AS DECIMAL(38,0)) * d7_ppm")).alias(
            "sxy"
        ),
    )
    e = m.select(
        "n",
        F.col("n").cast("double").alias("nd"),
        F.col("sx").cast("double").alias("sxd"),
        F.col("sy").cast("double").alias("syd"),
        F.expr(_sp("sxx")).alias("sxxd"),
        F.expr(_sp("syy")).alias("syyd"),
        F.expr(_sp("sxy")).alias("sxyd"),
    )
    return e.select(
        F.col("n").alias("n_cohorts"),
        F.expr("sxd / nd / 1000000.0").alias("mean_d1_rate"),
        F.expr("syd / nd / 1000000.0").alias("mean_d7_rate"),
        F.expr(_RT_R).alias("pearson_r"),
    )
